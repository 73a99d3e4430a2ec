package graft.serve

import org.apache.spark.sql.{DataFrame, Row}
import graft.query.QueryLibrary

/** The seven lookups the serving faces answer from one store generation:
  * the four graph-explorer routes of [[graft.GraphHttpServer]] and the three
  * lookup tools of [[graft.McpServer]]. Each returns what the
  * [[QueryLibrary]] call of the same name returns, collected: the same rows
  * in the same order, or for the MCP tools the same `df.toJSON` strings,
  * capped at [[ServedQueries.MaxRows]]. Two implementations:
  * [[LibraryQueries]] runs the library's Spark programs, [[ServingIndex]]
  * answers from driver-resident arrays; [[ServedStore]] picks one per store
  * generation from the store's size, and the JSON assembly of both faces is
  * shared by the two.
  */
trait ServedQueries {
  def initialProjectGraph(directoryLimit: Int, fileLimit: Int,
      definitionLimit: Int, importedSymbolLimit: Int): Array[Row]
  def nodeNeighbors(nodeKind: String, nodeId: Long, limit: Int): Array[Row]
  def searchNodes(term: String, limit: Int): Array[Row]
  def graphStats(): Row
  def searchDefinitions(terms: Seq[String], skip: Int, limit: Int): Array[String]
  def readDefinitions(name: String, path: String): Array[String]
  def repoMap(filePaths: Seq[String], skip: Int, limit: Int): Array[String]
}

object ServedQueries {

  /** Rows one MCP tool reply carries at most. */
  val MaxRows = 200

  /** Client-supplied limits and offsets are clamped to [0, MaxLimit] before
    * they reach either implementation: every reply is collected on the
    * long-lived server process, so a huge or negative value from the query
    * string or a tool's arguments must never reach the query layer as-is.
    */
  val MaxLimit = 10000
  def clampLimit(v: Int): Int = math.min(math.max(v, 0), MaxLimit)

  /** An MCP tool reply's rows: at most [[MaxRows]], rendered by Spark. */
  def jsonRows(df: DataFrame): Array[String] = df.limit(MaxRows).toJSON.collect()
}

/** [[ServedQueries]] by running the [[QueryLibrary]] programs. */
final class LibraryQueries(lib: QueryLibrary) extends ServedQueries {
  import ServedQueries.jsonRows

  def initialProjectGraph(directoryLimit: Int, fileLimit: Int,
      definitionLimit: Int, importedSymbolLimit: Int): Array[Row] =
    lib.initialProjectGraph(directoryLimit, fileLimit, definitionLimit,
      importedSymbolLimit).collect()
  def nodeNeighbors(nodeKind: String, nodeId: Long, limit: Int): Array[Row] =
    lib.nodeNeighbors(nodeKind, nodeId, limit).collect()
  def searchNodes(term: String, limit: Int): Array[Row] =
    lib.searchNodes(term, limit).collect()
  def graphStats(): Row = lib.graphStats().collect().head
  def searchDefinitions(terms: Seq[String], skip: Int, limit: Int): Array[String] =
    jsonRows(lib.searchDefinitions(terms, skip, limit))
  def readDefinitions(name: String, path: String): Array[String] =
    jsonRows(lib.readDefinitions(name, path))
  def repoMap(filePaths: Seq[String], skip: Int, limit: Int): Array[String] =
    jsonRows(lib.repoMap(filePaths, skip, limit))
}
