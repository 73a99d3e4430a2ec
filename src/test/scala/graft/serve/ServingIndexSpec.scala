package graft.serve

import java.nio.file.{Files, Path}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.{GraphHttpServer, McpServer, SparkSpec, TestFixtures}
import graft.analyze.Indexer
import graft.model.{EdgeKind, Schemas}
import graft.query.QueryLibrary
import graft.store.GraphStore

/** The serving index answers every served lookup exactly as the
  * [[QueryLibrary]] program does: seeded random parameters for each of the
  * seven route functions (limit 0 and 1, limits at and past the row count,
  * skips past the end, empty and non-ASCII terms), compared row for row and
  * in order, over five stores — the Kotlin, TypeScript and Ruby fixture
  * trees, a multi-language synthetic tree, and a hand-built store with the
  * cases the index must get right by rule (null names and aliases, case
  * mappings that depend on the locale or ICU, a name outside the BMP,
  * duplicate edges that differ only in line columns, a self-loop, an edge
  * with a dangling endpoint, JSON escapes).
  */
class ServingIndexSpec extends SparkSpec {
  import ServingIndexSpec._

  private lazy val stores: Seq[(String, String)] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    spark // initialized here: the futures below would block on this lazy val's lock
    Await.result(Future.sequence(Seq(
      Future("kotlin" -> indexed(TestFixtures.root("kotlin"), "kotlin")),
      Future("typescript" -> indexed(TestFixtures.root("typescript/test-repo"), "ts")),
      Future("ruby" -> indexed(TestFixtures.root("ruby-references"), "ruby")),
      Future("synthetic" -> {
        val tree = Files.createTempDirectory("graft-serve-synth")
        graft.extract.SyntheticTree.generate(tree, 24)
        copyTree(TestFixtures.root("typescript/test-repo"), tree.resolve("web"))
        copyTree(TestFixtures.root("ruby-references"), tree.resolve("rb"))
        indexed(tree, "synth")
      }),
      Future("hand-built" -> handBuilt(spark)))), Duration.Inf)
  }

  /** The session the library answers in: one shuffle partition, no
    * adaptive replanning, no broadcast joins beyond the library's own
    * hints — the fastest plans for stores of a few thousand rows, which
    * keeps the 1,400 library calls below inside the Tier-1 budget. */
  private lazy val small = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** The library over two copies of the store at `dir`: its cached tables
    * in one partition each, which the join-heavy routes (initial graph,
    * neighbors, stats) run fastest on, and local relations, which the
    * single-table ones do. */
  private def libraries(dir: String): (QueryLibrary, QueryLibrary) = {
    val r = GraphStore.read(small, dir)
    def local(df: DataFrame) =
      small.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    val tables = Seq(r.directories, r.files, r.definitions, r.importedSymbols, r.edges)
    def store(f: DataFrame => DataFrame) = tables.map(f) match {
      case Seq(d, f, de, i, e) => GraphStore(d, f, de, i, e)
    }
    (new QueryLibrary(store(_.coalesce(1)).cacheAll()), new QueryLibrary(store(local)))
  }

  private def indexed(tree: Path, repo: String): String = {
    val dir = Files.createTempDirectory(s"graft-serve-$repo").toString
    Indexer.indexDirectory(spark, tree.toString, repo).write(dir)
    dir
  }

  /** Index answers of the store at `dir`, through the one owner that builds
    * them. */
  private def index(dir: String): ServedQueries = {
    val q = new ServedStore(spark, dir, Long.MaxValue).queries()
    assert(q.isInstanceOf[ServingIndex], s"$dir was not indexed")
    q
  }

  private def same(what: String, idx: Array[Row], df: DataFrame): Unit = {
    val want = df.collect()
    assert(idx.headOption.map(_.schema.fieldNames.toSeq).forall(_ == df.columns.toSeq),
      s"$what: columns ${idx.headOption.map(_.schema.fieldNames.mkString(","))}")
    assert(idx.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq,
      s"$what:\n index ${idx.mkString(" ")}\n spark ${want.mkString(" ")}")
  }

  private def sameJson(what: String, idx: Array[String], df: DataFrame): Unit = {
    val want = ServedQueries.jsonRows(df)
    assert(idx.toSeq == want.toSeq,
      s"$what:\n index ${idx.mkString(" ")}\n spark ${want.mkString(" ")}")
  }

  test("the index equals QueryLibrary row for row on 7 routes x 5 stores") {
    val draws = 40 // per route and store: 200 per route
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try stores.foreach { case (name, dir) =>
      val idx = index(dir)
      val (lib, flat) = libraries(dir)
      val p = Params(spark, dir, new Random(name.hashCode))
      same(s"$name stats", Array(idx.graphStats()), lib.graphStats())
      val checks = (0 until draws).flatMap { _ =>
        val (dl, fl, defl, il) = (p.limit(), p.limit(), p.limit(), p.limit())
        val (kind, nl) = (p.nodeKind(), p.limit())
        val nid = p.nodeId(kind)
        val (term, sl) = (p.term(), p.limit())
        val (terms, dskip, dlimit) = (p.terms(), p.skip(), p.limit())
        val (dname, dpath) = p.definition()
        val (paths, rskip, rlimit) = (p.paths(), p.skip(), p.limit())
        Seq(
          () => same(s"$name initial($dl,$fl,$defl,$il)",
            idx.initialProjectGraph(dl, fl, defl, il),
            lib.initialProjectGraph(dl, fl, defl, il)),
          () => same(s"$name neighbors($kind,$nid,$nl)",
            idx.nodeNeighbors(kind, nid, nl), lib.nodeNeighbors(kind, nid, nl)),
          () => same(s"$name search($term,$sl)",
            idx.searchNodes(term, sl), flat.searchNodes(term, sl)),
          () => sameJson(s"$name searchDefinitions($terms,$dskip,$dlimit)",
            idx.searchDefinitions(terms, dskip, dlimit),
            flat.searchDefinitions(terms, dskip, dlimit)),
          () => sameJson(s"$name readDefinitions($dname,$dpath)",
            idx.readDefinitions(dname, dpath), flat.readDefinitions(dname, dpath)),
          () => sameJson(s"$name repoMap($paths,$rskip,$rlimit)",
            idx.repoMap(paths, rskip, rlimit), flat.repoMap(paths, rskip, rlimit)))
      }
      Await.result(Future.sequence(checks.map(c => Future(c()))), Duration.Inf)
      graft.operators.TransientCache.drainPath(dir)
    } finally pool.shutdown()
  }

  test("served reply bodies are byte-identical at bound 0 and the default bound") {
    for ((name, dir) <- stores if Set("hand-built", "ruby")(name)) {
      def http(bound: Long) = new GraphHttpServer(spark, dir, "ws", "proj",
        Files.createTempDirectory("graft-serve-data").toString, None,
        new ServedStore(spark, dir, bound))
      def mcp(bound: Long) = new McpServer(spark, None, new ServedStore(spark, dir, bound))
      val (h0, h1) = (http(0L), http(ServedStore.IndexBoundBytes))
      val (m0, m1) = (mcp(0L), mcp(ServedStore.IndexBoundBytes))
      val p = Params(spark, dir, new Random(7))
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      val gets = Seq("/graph/stats/ws/proj", "/graph/initial/ws/proj",
        "/graph/initial/ws/proj?directory_limit=1&file_limit=2&definition_limit=3&imported_symbol_limit=1") ++
        (0 until 6).map(_ => s"/graph/search/ws/proj?search_term=${enc(p.term() + "x")}&limit=${p.limit()}") ++
        (0 until 6).map { _ =>
          val k = p.nodeKind()
          val t = GraphHttpServer.NodeTypes.map(_.swap)(k)
          s"/graph/neighbors/ws/proj/$t/${p.nodeId(k)}?limit=${p.limit()}"
        }
      try {
        for (g <- gets) {
          val (path, query) = g.split("\\?", 2) match {
            case Array(a, b) => (a, b)
            case Array(a) => (a, "")
          }
          val want = h0.route(path, query)
          assert(want._1 == 200, s"$name $g: $want")
          assert(h1.route(path, query) == want, s"$name $g")
        }
        val calls = (0 until 6).flatMap { _ =>
          val (n, f) = p.definition()
          Seq(
            "search_codebase_definitions" -> JObject(
              "terms" -> JArray(p.terms().map(JString(_)).toList),
              "skip" -> JInt(p.skip()), "limit" -> JInt(p.limit())),
            "read_definitions" -> JObject("name" -> JString(n), "path" -> JString(f)),
            "repo_map" -> JObject(
              "file_paths" -> JArray(p.paths().map(JString(_)).toList),
              "skip" -> JInt(p.skip()), "limit" -> JInt(p.limit())))
        }
        for ((tool, args) <- calls) {
          val line = toolCall(tool, args)
          val want = m0.handle(line)
          assert(want.exists(!_.contains("\"isError\"")), s"$name $tool: $want")
          assert(m1.handle(line) == want, s"$name $tool $args")
        }
      } finally { h0.stop(); h1.stop() }
    }
  }
}

object ServingIndexSpec {
  def toolCall(tool: String, args: JObject): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      "jsonrpc" -> JString("2.0"), "id" -> JInt(1), "method" -> JString("tools/call"),
      "params" -> JObject("name" -> JString(tool), "arguments" -> args))))

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().forEachRemaining { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t)
    } finally s.close()
  }

  /** Seeded draws over the store at `dir`: limits that straddle the row
    * counts, terms cut from the store's own strings (re-cased, widened,
    * or foreign), ids that exist and ids that do not.
    */
  final case class Params(spark: org.apache.spark.sql.SparkSession, dir: String,
                          rnd: Random) {
    private val store = GraphStore.read(spark, dir)
    private def strings(df: DataFrame, c: String): IndexedSeq[String] =
      df.select(c).collect().map(_.getString(0)).filter(_ != null).toIndexedSeq
    private val ids: Map[String, IndexedSeq[Long]] = Map(
      "directory" -> store.directories, "file" -> store.files,
      "definition" -> store.definitions, "imported_symbol" -> store.importedSymbols)
      .map { case (k, df) => k -> df.select("id").collect().map(_.getLong(0)).toIndexedSeq }
    private val names = strings(store.definitions, "name") ++
      strings(store.files, "path") ++ strings(store.directories, "name") ++
      strings(store.importedSymbols, "alias") ++ strings(store.definitions, "fqn")
    private val defs = store.definitions.select("name", "primary_file_path")
      .collect().map(r => (r.getString(0), r.getString(1))).toIndexedSeq
    private val files = defs.map(_._2).distinct
    private val rows = ids.values.map(_.size).max +
      store.edges.groupBy("kind").count().collect().map(_.getLong(1).toInt).max
    private val foreign = IndexedSeq("", "İ", "i̇", "ß", "ẞ", "STRASSE", "😀", "\uE000",
      "ı", "Σ", "%", "_", "zzzz-none")

    private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
    def limit(): Int = rnd.nextInt(6) match {
      case 0 => 0
      case 1 => 1
      case 2 => rows
      case 3 => rows + 1 + rnd.nextInt(50)
      case _ => rnd.nextInt(rows + 2)
    }
    def skip(): Int = if (rnd.nextInt(4) == 0) rows + rnd.nextInt(10) else rnd.nextInt(rows / 2 + 2)
    def nodeKind(): String = pick(ids.keys.toIndexedSeq.sorted)
    def nodeId(kind: String): Long =
      if (ids(kind).isEmpty || rnd.nextInt(8) == 0) rnd.nextInt(rows + 5).toLong
      else pick(ids(kind))
    def term(): String = rnd.nextInt(5) match {
      case 0 => pick(foreign)
      case _ if names.isEmpty => pick(foreign)
      case k =>
        val s = pick(names)
        val (a, b) = { val i = rnd.nextInt(s.length + 1); (i, i + rnd.nextInt(s.length - i + 1)) }
        val cut = s.substring(a, b)
        if (k == 1) cut.toUpperCase else if (k == 2) cut + pick(foreign) else cut
    }
    def terms(): Seq[String] = Seq.fill(rnd.nextInt(4))(term())
    def definition(): (String, String) = rnd.nextInt(6) match {
      case 0 => (term(), if (files.isEmpty) "" else pick(files))
      case _ if defs.isEmpty => ("none", "none")
      case _ => pick(defs)
    }
    def paths(): Seq[String] = Seq.fill(rnd.nextInt(4))(
      if (files.isEmpty || rnd.nextInt(5) == 0) term() else pick(files))
  }

  /** A store written with [[GraphStore.write]] holding the cases the index
    * must get right by rule rather than by luck.
    */
  def handBuilt(spark: org.apache.spark.sql.SparkSession): String = {
    import org.apache.spark.sql.types.StructType
    def df(schema: StructType, rows: Seq[Seq[Any]]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*), schema)
    val dirs = df(Schemas.directoryNodes, Seq(
      Seq(0L, "src", "/r/src", "r", "src"),
      Seq(1L, "src/Über", "/r/src/Über", "r", "Über"),
      Seq(2L, "src/anon", null, null, null)))
    val files = df(Schemas.fileNodes, Seq(
      Seq(0L, "src/a.kt", null, "kotlin", "r", "kt", "a.kt"),
      Seq(1L, "src/Über/İstanbul.rb", null, "ruby", "r", "rb", "İstanbul.rb"),
      Seq(2L, "src/x.ts", null, "typescript", "r", "ts", null),
      Seq(3L, "src/😀.py", null, "python", "r", "py", "😀.py"),
      Seq(4L, "src/\uE000.py", null, "python", "r", "py", "\uE000.py")))
    def d(id: Long, fqn: String, name: String, tpe: String, file: String,
          start: Integer) =
      Seq(id, fqn, name, tpe, file, null, null, start,
        if (start == null) null else Int.box(start + 2), null, null, 1)
    val defs = df(Schemas.definitionNodes, Seq(
      d(0L, "a.Alpha", "Alpha", "Class", "src/a.kt", 1),
      d(1L, "a.Alpha.run", "run", "Method", "src/a.kt", 3),
      d(2L, "a.STRAẞE", "STRAẞE", null, "src/a.kt", null),
      d(3L, "İstanbul.İçi", "İçi", "Method", "src/Über/İstanbul.rb", 2),
      d(4L, "x.anon", null, "Function", "src/x.ts", 1),
      d(5L, "😀.smile", "😀smile", "Function", "src/😀.py", 1),
      d(6L, "\uE000.priv", "\uE000priv", "Function", "src/\uE000.py", 1),
      d(7L, "a.Alpha.run2", "run", "Method", "src/a.kt", 3),
      d(8L, "a.q", "q\"uo\\te\n\t\u0001", "Function", "src/a.kt", 9)))
    def i(id: Long, path: String, name: String, alias: String, file: String) =
      Seq(id, "import", path, name, alias, file, null, null, 1, 1, null, null)
    val imps = df(Schemas.importedSymbolNodes, Seq(
      i(0L, "java.util", "List", null, "src/a.kt"),
      i(1L, null, "İmport", "ALİAS", "src/Über/İstanbul.rb"),
      i(2L, "os", null, "Ali", "src/😀.py")))
    def e(kind: String, tpe: String, s: Long, t: Long, line: Integer = null) =
      Seq(kind, tpe, s, t, null, null, line, line, null, null)
    val edges = df(Schemas.edges, Seq(
      e(EdgeKind.DirToDir, "DIR_CONTAINS_DIR", 0, 1),
      e(EdgeKind.DirToDir, "DIR_CONTAINS_DIR", 0, 2),
      e(EdgeKind.DirToFile, "DIR_CONTAINS_FILE", 0, 0),
      e(EdgeKind.DirToFile, "DIR_CONTAINS_FILE", 1, 1),
      e(EdgeKind.DirToFile, "DIR_CONTAINS_FILE", 0, 2),
      e(EdgeKind.DirToFile, "DIR_CONTAINS_FILE", 0, 3),
      e(EdgeKind.DirToFile, "DIR_CONTAINS_FILE", 0, 4),
      e(EdgeKind.DirToFile, "DIR_CONTAINS_FILE", 7, 4)) ++ // dangling source
      Seq(0, 1, 2, 7, 8).map(t => e(EdgeKind.FileToDef, "FILE_DEFINES", 0, t)) ++ Seq(
      e(EdgeKind.FileToDef, "FILE_DEFINES", 1, 3),
      e(EdgeKind.FileToDef, "FILE_DEFINES", 2, 4),
      e(EdgeKind.FileToDef, "FILE_DEFINES", 3, 5),
      e(EdgeKind.FileToDef, "FILE_DEFINES", 4, 6),
      e(EdgeKind.FileToImp, "FILE_IMPORTS", 0, 0),
      e(EdgeKind.FileToImp, "FILE_IMPORTS", 1, 1),
      e(EdgeKind.FileToImp, "FILE_IMPORTS", 3, 2),
      e(EdgeKind.DefToDef, "CALLS", 1, 0, 5),
      e(EdgeKind.DefToDef, "CALLS", 1, 0, 9), // same edge, other line
      e(EdgeKind.DefToDef, "CALLS", 1, 1, 4), // self-loop
      e(EdgeKind.DefToDef, "CALLS", 2, 99, 2), // dangling target
      e(EdgeKind.DefToDef, "CLASS_TO_METHOD", 0, 1),
      e(EdgeKind.DefToDef, "AMBIGUOUSLY_CALLS", 3, 0, 7),
      e(EdgeKind.DefToImp, "CALLS", 1, 0, 6),
      e(EdgeKind.ImpToDef, "IMPORTED_SYMBOL_TO_DEFINITION", 0, 0),
      e(EdgeKind.ImpToFile, "IMPORTED_SYMBOL_TO_FILE", 1, 1),
      e(EdgeKind.ImpToImp, "IMPORTED_SYMBOL_TO_IMPORTED_SYMBOL", 2, 0)))
    val dir = Files.createTempDirectory("graft-serve-hand").toString
    GraphStore(dirs, files, defs, imps, edges).write(dir)
    dir
  }
}
