package graft.serve

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.EdgeKind
import graft.store.GraphStore

/** An immutable, driver-resident copy of one store generation that answers
  * the [[ServedQueries]] without a Spark job: the embedded-database serving
  * shape of the reference (Kuzu), for stores small enough to hold on the
  * driver ([[ServedStore.IndexBoundBytes]]).
  *
  * It holds each node table as column arrays over its rows sorted by id
  * (point lookups by binary search), the edges of each kind sorted by
  * `(source_id, target_id, type)` with a permutation sorted by target (the
  * out- and in-adjacency of any `(kind, id)` is a binary-searched run), the
  * lowercased search columns and the stats census. [[ServingIndex.build]]
  * fills it with one collect of the node tables and one of the edges; the
  * lowercasing runs in Spark (`lower`) inside the first, so the CONTAINS
  * matches use Spark's case mapping by construction.
  *
  * Every answer equals the [[graft.query.QueryLibrary]] program's, row for
  * row and in order (ServingIndexSpec draws the parameters); the library
  * stays the specification. The rules that takes:
  *  - strings order as Spark orders them (UTF-8 bytes, nulls first), not
  *    by `String.compareTo`, which differs outside the BMP;
  *  - search terms lowercase with `toLowerCase`, as the library does, and
  *    a null column never matches (Spark's three-valued OR);
  *  - the initial graph takes each kind's first n edges before
  *    de-duplication, and drops edges whose endpoint node is absent;
  *  - neighbors list a self-loop once per direction;
  *  - MCP rows render as Spark's `toJSON` does: fields in select order,
  *    null fields omitted.
  * A store whose node table repeats an id is not indexed ([[build]] gives
  * None): the library's joins would multiply those rows.
  */
final class ServingIndex private (
    nodes: Map[String, ServingIndex.Nodes],
    edges: Seq[ServingIndex.Edges],
    stats: Row) extends ServedQueries {
  import ServingIndex._

  /** Node and edge rows held. */
  val rows: Long = nodes.values.map(_.size.toLong).sum + edges.map(_.size.toLong).sum

  def initialProjectGraph(directoryLimit: Int, fileLimit: Int,
      definitionLimit: Int, importedSymbolLimit: Int): Array[Row] = {
    // the section limits of QueryLibrary.initialProjectGraph
    val limits = Map(
      EdgeKind.DirToDir -> directoryLimit, EdgeKind.DirToFile -> fileLimit,
      EdgeKind.FileToDef -> definitionLimit, EdgeKind.FileToImp -> importedSymbolLimit,
      EdgeKind.DefToDef -> definitionLimit, EdgeKind.DefToImp -> importedSymbolLimit,
      EdgeKind.ImpToImp -> importedSymbolLimit, EdgeKind.ImpToDef -> importedSymbolLimit,
      EdgeKind.ImpToFile -> importedSymbolLimit)
    val out = ArrayBuffer.empty[Row]
    for (e <- edges; n <- limits.get(e.kind)) {
      val (fk, tk) = EdgeKind.endpoints(e.kind)
      val (from, to) = (nodes(fk), nodes(tk))
      for (i <- 0 until math.min(math.max(n, 0), e.size)
           if i == 0 || !e.sameEdge(i - 1, i)) {
        val (s, d) = (from.find(e.src(i)), to.find(e.dst(i)))
        if (s >= 0 && d >= 0)
          out += new GenericRowWithSchema(Array(e.kind, e.typ(i), fk, e.src(i),
            from.label(s), tk, e.dst(i), to.label(d)), InitialSchema)
      }
    }
    out.toArray
  }

  def nodeNeighbors(nodeKind: String, nodeId: Long, limit: Int): Array[Row] = {
    val hits = ArrayBuffer.empty[Neighbor]
    for (e <- edges; (fk, tk) <- EdgeKind.endpoints.get(e.kind)) {
      if (fk == nodeKind) e.outOf(nodeId).foreach { i =>
        val j = nodes(tk).find(e.dst(i))
        if (j >= 0) hits += Neighbor(e.typ(i), "out", tk, e.dst(i), nodes(tk).label(j))
      }
      if (tk == nodeKind) e.into(nodeId).foreach { i =>
        val j = nodes(fk).find(e.src(i))
        if (j >= 0) hits += Neighbor(e.typ(i), "in", fk, e.src(i), nodes(fk).label(j))
      }
    }
    hits.sorted(NeighborOrder).distinct.take(math.max(limit, 0)).map(n =>
      new GenericRowWithSchema(Array(n.relType, n.dir, n.kind, n.id, n.label),
        NeighborSchema): Row).toArray
  }

  def searchNodes(term: String, limit: Int): Array[Row] = {
    val t = term.toLowerCase
    nodes.keys.toSeq.sorted(Utf8).iterator.flatMap { kind =>
      val n = nodes(kind)
      n.byName.iterator.filter(n.matches(_, t)).map(i =>
        new GenericRowWithSchema(Array(kind, n.id(i), n.name(i), n.detail(i)),
          SearchSchema): Row)
    }.take(math.max(limit, 0)).toArray
  }

  def graphStats(): Row = stats

  def searchDefinitions(terms: Seq[String], skip: Int, limit: Int): Array[String] = {
    val ts = terms.map(_.toLowerCase)
    val d = nodes("definition")
    json(d, d.byName.iterator.filter { i =>
      val lc = d.nameLc(i)
      lc != null && ts.exists(lc.contains(_))
    }.drop(skip), limit, SearchDefinitionsFields)
  }

  def readDefinitions(name: String, path: String): Array[String] = {
    val d = nodes("definition")
    json(d, d.inFile(path).iterator.filter(i => d.name(i) == name),
      ServedQueries.MaxRows, ReadDefinitionsFields)
  }

  def repoMap(filePaths: Seq[String], skip: Int, limit: Int): Array[String] = {
    val d = nodes("definition")
    json(d, filePaths.filter(_ != null).distinct.sorted(Utf8).iterator
      .flatMap(d.inFile).drop(skip), limit, RepoMapFields)
  }

  /** At most `limit` (and [[ServedQueries.MaxRows]]) definition rows as
    * Spark's JSON generator writes them: a plain Jackson generator, fields
    * in order, nulls left out.
    */
  private def json(d: Nodes, rows: Iterator[Int], limit: Int,
                   fields: Seq[(String, Int)]): Array[String] =
    rows.take(math.max(math.min(limit, ServedQueries.MaxRows), 0)).map { i =>
      val w = new java.io.StringWriter
      val g = JsonFactory.createGenerator(w)
      g.writeStartObject()
      fields.foreach { case (name, c) =>
        d.value(i, c) match {
          case null => ()
          case v: java.lang.Long => g.writeFieldName(name); g.writeNumber(v.longValue)
          case v: Integer => g.writeFieldName(name); g.writeNumber(v.intValue)
          case v: String => g.writeFieldName(name); g.writeString(v)
          case v => sys.error(s"unexpected ${v.getClass} in $name")
        }
      }
      g.writeEndObject()
      g.close()
      w.toString
    }.toArray
}

object ServingIndex {

  /** Spark's string order: UTF-8 byte order (= code point order), nulls
    * first. `String.compareTo` compares UTF-16 units instead, which puts
    * characters outside the BMP before U+E000-U+FFFF.
    */
  val Utf8: Ordering[String] = (a: String, b: String) =>
    if (a eq b) 0 else if (a == null) -1 else if (b == null) 1 else {
      var (i, j) = (0, 0)
      var c = 0
      while (c == 0 && i < a.length && j < b.length) {
        val (x, y) = (a.codePointAt(i), b.codePointAt(j))
        c = Integer.compare(x, y)
        i += Character.charCount(x)
        j += Character.charCount(y)
      }
      if (c != 0) c else Integer.compare(a.length - i, b.length - j)
    }

  /** Nullable ints, nulls first. */
  private val NullableInt: Ordering[Integer] = (a: Integer, b: Integer) =>
    if (a == null) (if (b == null) 0 else -1)
    else if (b == null) 1 else Integer.compare(a, b)

  private val JsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })
  private val InitialSchema = schema("kind" -> StringType, "rel_type" -> StringType,
    "src_kind" -> StringType, "source_id" -> LongType, "src_label" -> StringType,
    "dst_kind" -> StringType, "target_id" -> LongType, "dst_label" -> StringType)
  private val NeighborSchema = schema("rel_type" -> StringType, "dir" -> StringType,
    "neighbor_kind" -> StringType, "neighbor_id" -> LongType,
    "neighbor_label" -> StringType)
  private val SearchSchema = schema("node_type" -> StringType, "node_id" -> LongType,
    "name" -> StringType, "detail" -> StringType)
  private val StatsSchema = schema(Seq("directory_count", "file_count",
    "definition_count", "imported_symbol_count").++(EdgeKind.all)
    .map(_ -> LongType): _*)

  // definition rows: id, name, fqn, lower(name), lower(fqn),
  // definition_type, primary_file_path, start_line, end_line
  private val SearchDefinitionsFields = Seq("def_id" -> 0, "name" -> 1, "fqn" -> 2,
    "definition_type" -> 5, "primary_file_path" -> 6, "start_line" -> 7)
  private val ReadDefinitionsFields = Seq("def_id" -> 0, "fqn" -> 2, "name" -> 1,
    "definition_type" -> 5, "primary_file_path" -> 6, "start_line" -> 7,
    "end_line" -> 8)
  private val RepoMapFields = Seq("primary_file_path" -> 6, "start_line" -> 7,
    "fqn" -> 2, "name" -> 1, "definition_type" -> 5, "def_id" -> 0)

  private final case class Neighbor(relType: String, dir: String, kind: String,
                                    id: Long, label: String)
  private val NeighborOrder: Ordering[Neighbor] = (a: Neighbor, b: Neighbor) => {
    val c1 = Utf8.compare(a.kind, b.kind)
    if (c1 != 0) c1 else {
      val c2 = java.lang.Long.compare(a.id, b.id)
      if (c2 != 0) c2 else {
        val c3 = Utf8.compare(a.relType, b.relType)
        if (c3 != 0) c3 else Utf8.compare(a.dir, b.dir)
      }
    }
  }

  /** First index in [0, n) whose key is >= v (keys ascending). */
  private def lowerBound(n: Int, key: Int => Long, v: Long): Int = {
    var (lo, hi) = (0, n)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (key(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }
  private def upperBound(n: Int, key: Int => Long, v: Long): Int =
    if (v == Long.MaxValue) n else lowerBound(n, key, v + 1)

  /** One node table as columns indexed by row, rows sorted by id. Column
    * 0 is the id; then name, search detail, lowercased name, lowercased
    * second search column, and for definitions definition_type,
    * primary_file_path, start_line, end_line.
    */
  private[serve] final class Nodes(ids: Array[Long], cols: Array[Array[AnyRef]],
                                   labelColumn: Int) {
    def size: Int = ids.length
    def unique: Boolean = ids.indices.forall(i => i == 0 || ids(i - 1) != ids(i))
    /** Row of `id`, or -1. */
    def find(id: Long): Int = math.max(java.util.Arrays.binarySearch(ids, id), -1)
    def value(i: Int, c: Int): AnyRef = if (c == 0) Long.box(ids(i)) else cols(c - 1)(i)
    private def str(i: Int, c: Int): String = cols(c - 1)(i).asInstanceOf[String]
    def id(i: Int): Long = ids(i)
    def name(i: Int): String = str(i, 1)
    def detail(i: Int): String = str(i, 2)
    def nameLc(i: Int): String = str(i, 3)
    def label(i: Int): String = str(i, labelColumn)
    /** Spark's `lower(a).contains(t) || lower(b).contains(t)`: a null
      * column is no match. */
    def matches(i: Int, t: String): Boolean = {
      val (a, b) = (str(i, 3), str(i, 4))
      (a != null && a.contains(t)) || (b != null && b.contains(t))
    }
    /** Rows in (name, id) order: the search routes' sort. */
    lazy val byName: Array[Int] = ids.indices.toArray.sorted(
      Ordering.by[Int, String](name)(Utf8).orElseBy(id))
    /** Definitions: rows per primary_file_path in (start_line, id) order. */
    lazy val byFile: Map[String, Array[Int]] =
      ids.indices.groupBy(str(_, 6)).map { case (p, is) =>
        p -> is.toArray.sorted(Ordering.by[Int, Integer](
          value(_, 7).asInstanceOf[Integer])(NullableInt).orElseBy(id))
      }
    def inFile(path: String): Array[Int] = byFile.getOrElse(path, Array.empty)
  }

  /** The edges of one kind in (source_id, target_id, type) order, with the
    * row permutation in target order: out- and in-adjacency of an id are
    * the binary-searched runs of `src` and of `dst` through `byDst`.
    */
  private[serve] final class Edges(val kind: String, val src: Array[Long],
                                   val dst: Array[Long], val typ: Array[String]) {
    def size: Int = src.length
    private val byDst: Array[Int] = src.indices.toArray.sortBy(dst(_))
    def sameEdge(i: Int, j: Int): Boolean =
      src(i) == src(j) && dst(i) == dst(j) && typ(i) == typ(j)
    def outOf(id: Long): Range =
      lowerBound(size, src(_), id) until upperBound(size, src(_), id)
    def into(id: Long): Iterator[Int] =
      (lowerBound(size, i => dst(byDst(i)), id) until
        upperBound(size, i => dst(byDst(i)), id)).iterator.map(byDst)
  }

  /** One shared instance per distinct string of a build: paths, types and
    * lowercased names that equal their original repeat across rows. */
  private final class Strings {
    private val seen = new java.util.HashMap[String, String]
    def apply(v: Any): AnyRef = v match {
      case s: String => seen.putIfAbsent(s, s) match { case null => s; case t => t }
      case o => o.asInstanceOf[AnyRef]
    }
  }

  /** Collect the store at `dir` into an index: one collect for the four
    * node tables and one for the edges, so a build costs three Spark jobs
    * with the edges' schema inference. None when a node table repeats an
    * id.
    */
  private[serve] def build(spark: SparkSession, dir: String): Option[ServingIndex] = {
    val store = GraphStore.read(spark, dir)
    val strings = new Strings
    // kind, id, name, search detail, lower(name), lower(second search
    // column), then the definition columns (null for the other kinds)
    def table(kind: String, df: DataFrame, detail: Column, second: Column,
              extra: Seq[Column]): DataFrame =
      df.select(Seq(lit(kind), col("id"), col("name"), detail, lower(col("name")),
        lower(second)) ++ extra: _*)
    val noDefinition = Seq("string", "string", "int", "int").map(lit(null).cast(_))
    val collected = Seq(
      table("directory", store.directories, col("path"), col("path"), noDefinition),
      table("file", store.files, col("path"), col("path"), noDefinition),
      table("definition", store.definitions, col("fqn"), col("fqn"),
        Seq(col("definition_type"), col("primary_file_path"), col("start_line"),
          col("end_line"))),
      table("imported_symbol", store.importedSymbols, coalesce(col("import_path"), lit("")),
        coalesce(col("alias"), lit("")), noDefinition))
      .reduce(_.union(_)).collect().groupBy(_.getString(0))
    val nodes = Seq("directory", "file", "definition", "imported_symbol").map { kind =>
      val rows = collected.getOrElse(kind, Array.empty[Row]).sortBy(_.getLong(1))
      val width = if (kind == "definition") 8 else 4
      kind -> new Nodes(rows.map(_.getLong(1)),
        Array.tabulate(width)(c => rows.map(r => strings(r.get(c + 2)))),
        labelColumn = if (kind == "definition") 2 else 1)
    }.toMap
    if (!nodes.values.forall(_.unique)) None
    else {
      val edges = store.edges.select("kind", "type", "source_id", "target_id")
        .collect().groupBy(_.getString(0)).toSeq.sortBy(_._1)(Utf8)
        .map { case (k, rs) =>
          val sorted = rs.sorted(Ordering.by[Row, Long](_.getLong(2))
            .orElseBy(_.getLong(3)).orElse(Ordering.by[Row, String](_.getString(1))(Utf8)))
          new Edges(k, sorted.map(_.getLong(2)), sorted.map(_.getLong(3)),
            sorted.map(r => strings(r.getString(1)).asInstanceOf[String]))
        }
      val edgeCounts = edges.map(e => e.kind -> e.size.toLong).toMap
      val stats = new GenericRowWithSchema(Array[Any](
        nodes("directory").size.toLong, nodes("file").size.toLong,
        nodes("definition").size.toLong, nodes("imported_symbol").size.toLong) ++
        EdgeKind.all.map(edgeCounts.getOrElse(_, 0L)), StatsSchema)
      Some(new ServingIndex(nodes, edges, stats))
    }
  }
}
