package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.query.QueryLibrary
import graft.serve.{ServedQueries, ServedStore}

/** MCP (Model Context Protocol) stdio facade over [[QueryLibrary]] — the
  * serving face of the reference's `crates/mcp` (rmcp-based stdio server,
  * 8 tools under mcp/src/tools/). JSON-RPC 2.0 over stdin/stdout:
  * `initialize`, `tools/list`, `tools/call`; each tool call is one
  * QueryLibrary DataFrame program, returned as a JSON-rows text content
  * block. The same agents that drive the reference's MCP server can drive
  * this one.
  *
  * Usage: graft.McpServer <storeDir>
  *
  * Serving shape: one long-lived SparkSession + one [[ServedStore]] over
  * the store directory — the MIGRATION.md `gkg server` row made concrete.
  * `search_codebase_definitions`, `read_definitions` and `repo_map` ask the
  * store's current generation: a store of at most
  * [[ServedStore.IndexBoundBytes]] of Parquet answers them from a
  * driver-resident [[graft.serve.ServingIndex]] with no Spark job, a larger
  * one with the bounded QueryLibrary program over the cached store; the
  * rows are the same either way. The other tools run their QueryLibrary
  * program over the same generation. Every skip/limit is clamped to
  * [0, [[ServedQueries.MaxLimit]]] first, as the HTTP face clamps its
  * limits. A rewrite of the store (an `index_project` into it, a reindex
  * by another process) is picked up by the next call.
  *
  * Trust boundary: the transport is LOCAL STDIO, the same trust model as
  * the reference's rmcp stdio server — the client already runs as this
  * user, so `index_project`/`list_projects` accepting arbitrary local paths
  * grants nothing the client lacks. If the transport is ever widened beyond
  * stdio, set `GRAFT_MCP_ROOT` (or pass `rootConfinement`): every
  * caller-supplied path is then normalized and prefix-checked against that
  * root before any filesystem access.
  */
object McpServer {

  val ProtocolVersion = "2024-11-05"

  def main(args: Array[String]): Unit = {
    val storeDir = args.headOption.getOrElse(
      sys.error("usage: graft.McpServer <storeDir>"))
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-mcp")
    val server = new McpServer(spark, storeDir)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    Iterator.continually(in.readLine()).takeWhile(_ != null).foreach { line =>
      if (line.trim.nonEmpty)
        server.handle(line).foreach { resp => println(resp); System.out.flush() }
    }
    spark.stop()
  }

  /** (name, description, required params, optional params with defaults). */
  val toolSpecs: Seq[(String, String, Seq[(String, String)], Seq[(String, String)])] = Seq(
    ("search_codebase_definitions", "Search definitions by name terms",
      Seq("terms" -> "array"), Seq("skip" -> "integer", "limit" -> "integer")),
    ("get_references", "Incoming references to a definition",
      Seq("name" -> "string", "path" -> "string"),
      Seq("skip" -> "integer", "limit" -> "integer")),
    ("read_definitions", "Read a definition's metadata by name and file",
      Seq("name" -> "string", "path" -> "string"), Nil),
    ("repo_map", "Definition map of the given files",
      Seq("file_paths" -> "array"), Seq("skip" -> "integer", "limit" -> "integer")),
    ("get_definition", "Go-to-definition at a file position",
      Seq("path" -> "string", "line" -> "integer", "col" -> "integer"), Nil),
    ("import_usage", "Who imports these paths and calls through them",
      Seq("paths" -> "array"), Seq("name" -> "string", "alias" -> "string")),
    ("index_project", "Index a repository directory into a store",
      Seq("repo_dir" -> "string", "store_dir" -> "string"), Nil),
    ("list_projects", "List project stores under a workspace directory",
      Seq("workspace_dir" -> "string"), Nil))
}

final class McpServer private[graft] (spark: SparkSession,
    rootConfinement: Option[String], served: ServedStore) {

  def this(spark: SparkSession, storeDir: String,
      rootConfinement: Option[String] = sys.env.get("GRAFT_MCP_ROOT")) =
    this(spark, rootConfinement, new ServedStore(spark, storeDir))

  /** Normalize + prefix-check a caller-supplied path when a confinement
    * root is configured (see the trust-boundary note above).
    */
  private def confined(p: String): String = rootConfinement match {
    case None => p
    case Some(root) =>
      val rootN = java.nio.file.Paths.get(root).toAbsolutePath.normalize
      val pN = java.nio.file.Paths.get(p).toAbsolutePath.normalize
      if (!pN.startsWith(rootN))
        sys.error(s"path outside configured workspace root: $p")
      pN.toString
  }
  import McpServer._
  implicit private val formats: Formats = DefaultFormats

  /** One JSON-RPC request line → optional response line (notifications get
    * none). Never throws: malformed input and tool failures become JSON-RPC
    * error objects, as the protocol requires.
    */
  def handle(line: String): Option[String] = {
    val req = try JsonMethods.parse(line) catch {
      case _: Exception =>
        return Some(err(JNull, -32700, "parse error"))
    }
    val id = req \ "id"
    (req \ "method").extractOpt[String] match {
      case Some("initialize") => Some(ok(id, JObject(
        "protocolVersion" -> JString(ProtocolVersion),
        "capabilities" -> JObject("tools" -> JObject()),
        "serverInfo" -> JObject(
          "name" -> JString("graft-mcp"), "version" -> JString("0.3.0")))))
      case Some("notifications/initialized") => None
      case Some("ping") => Some(ok(id, JObject()))
      case Some("tools/list") => Some(ok(id, JObject("tools" -> JArray(
        toolSpecs.map { case (name, desc, req0, opt) =>
          JObject(
            "name" -> JString(name),
            "description" -> JString(desc),
            "inputSchema" -> JObject(
              "type" -> JString("object"),
              "properties" -> JObject((req0 ++ opt).map { case (p, t) =>
                p -> JObject("type" -> JString(t)) }.toList),
              "required" -> JArray(req0.map(p => JString(p._1)).toList)))
        }.toList))))
      case Some("tools/call") =>
        val name = (req \ "params" \ "name").extractOpt[String].getOrElse("")
        val args = req \ "params" \ "arguments"
        try Some(ok(id, callTool(name, args))) catch {
          case e: Exception =>
            Some(ok(id, JObject(
              "content" -> JArray(List(JObject(
                "type" -> JString("text"),
                "text" -> JString(s"error: ${e.getMessage}")))),
              "isError" -> JBool(true))))
        }
      case Some(_) => Some(err(id, -32601, "method not found"))
      case None => Some(err(id, -32600, "invalid request"))
    }
  }

  private def callTool(name: String, args: JValue): JObject = {
    def str(k: String) = (args \ k).extractOpt[String]
    def int(k: String, d: Int) = (args \ k).extractOpt[Int].getOrElse(d)
    def bounded(k: String, d: Int) = ServedQueries.clampLimit(int(k, d))
    def arr(k: String) = (args \ k).extractOpt[Seq[String]].getOrElse(Nil)
    def library(df: QueryLibrary => DataFrame) =
      ServedQueries.jsonRows(df(served.library()))
    val rows: Array[String] = name match {
      case "search_codebase_definitions" =>
        served.queries().searchDefinitions(arr("terms"), bounded("skip", 0),
          bounded("limit", 50))
      case "get_references" =>
        library(_.getReferences(str("name").getOrElse(""), str("path").getOrElse(""),
          skip = bounded("skip", 0), limit = bounded("limit", 50)))
      case "read_definitions" =>
        served.queries().readDefinitions(str("name").getOrElse(""),
          str("path").getOrElse(""))
      case "repo_map" =>
        served.queries().repoMap(arr("file_paths"), bounded("skip", 0),
          bounded("limit", 200))
      case "get_definition" =>
        library(_.definitionAt(str("path").getOrElse(""), int("line", 0), int("col", 0)))
      case "import_usage" =>
        library(_.importUsage(arr("paths").map(_.toLowerCase),
          str("name"), str("alias")))
      case "index_project" =>
        val repoDir = confined(str("repo_dir").getOrElse(sys.error("repo_dir required")))
        val out = confined(str("store_dir").getOrElse(sys.error("store_dir required")))
        val store = graft.analyze.Indexer.indexDirectory(spark, repoDir,
          new java.io.File(repoDir).getName)
        store.write(out)
        ServedQueries.jsonRows(new QueryLibrary(store).graphStats())
      case "list_projects" =>
        val ws = confined(str("workspace_dir").getOrElse(sys.error("workspace_dir required")))
        import spark.implicits._
        ServedQueries.jsonRows(Cli.listProjects(ws).toDF("project"))
      case other => sys.error(s"unknown tool: $other")
    }
    JObject("content" -> JArray(List(JObject(
      "type" -> JString("text"),
      "text" -> JString(rows.mkString("[", ",", "]"))))))
  }

  private def ok(id: JValue, result: JValue): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      "jsonrpc" -> JString("2.0"), "id" -> id, "result" -> result)))
  private def err(id: JValue, code: Int, msg: String): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      "jsonrpc" -> JString("2.0"), "id" -> id,
      "error" -> JObject("code" -> JInt(code), "message" -> JString(msg)))))
}
