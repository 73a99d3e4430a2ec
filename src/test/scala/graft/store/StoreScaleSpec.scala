package graft.store

import graft.SparkSpec

/** Scale-path mechanics over a small synthetic store: GraphX ranking, the
  * shuffle-join closure path, and the typed resolvers' per-repo catalog.
  */
class StoreScaleSpec extends SparkSpec {

  private lazy val store = {
    import spark.implicits._
    // small synthetic store: 100 defs across 10 files, def->def call edges
    val defs = (0L until 100L).map(i => (i, s"Def$i", s"Def$i", "Function",
      s"f${i % 10}.py", i * 10, i * 10 + 9, i.toInt, i.toInt + 1, 0, 10, 1))
      .toDF("id", "fqn", "name", "definition_type", "primary_file_path",
        "primary_start_byte", "primary_end_byte", "start_line", "end_line",
        "start_col", "end_col", "total_locations")
    val edges = (0L until 99L).map(i => ("DEF_TO_DEF", "CALLS", i, i + 1,
      None: Option[Long], None: Option[Long], None: Option[Int],
      None: Option[Int], None: Option[Int], None: Option[Int]))
      .toDF("kind", "type", "source_id", "target_id", "source_start_byte",
        "source_end_byte", "source_start_line", "source_end_line",
        "source_start_col", "source_end_col")
    val empty = GraphStore.empty(spark)
    empty.copy(definitions = defs, edges = edges,
      files = (0 until 10).map(i => (i.toLong, s"f$i.py", s"/f$i.py",
        "python", "r", "py", s"f$i.py"))
        .toDF("id", "path", "absolute_path", "language", "repository_name",
          "extension", "name"))
  }

  test("pagerank: module hubs rank above leaves") {
    val pr = graft.graph.GraphOps.pageRankOf(
      graft.graph.GraphOps.toTopology(store), spark, iters = 8).collect()
    assert(pr.nonEmpty)
    // chain 0->1->...->99: rank grows along the chain; tail ranks highest
    val defRanks = pr.filter(_.getLong(0) == graft.model.NodeTag.Definition)
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(defRanks(99L) > defRanks(0L))
  }

  test("callClosure: shuffle-join path (threshold exceeded) matches broadcast path") {
    val lib = new graft.query.QueryLibrary(store)
    // chain graph 0->1->...->99: closure from Def0 within 5 hops
    val viaBroadcast = lib.callClosure("Def0", maxHops = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toSet
    // threshold 0 forces the non-broadcast (shuffle join) path every hop
    val viaShuffle = lib.callClosure("Def0", maxHops = 5, broadcastThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toSet
    assert(viaBroadcast === viaShuffle)
    assert(viaBroadcast === (0 to 5).map(i => (i.toLong, i)).toSet)
  }

  test("typed resolvers keep the catalog off the driver (no corpus-sized collect)") {
    // guard for the per-repo grouped-catalog design: the resolver sources
    // must not re-grow a driver-side collect whose size tracks the corpus
    for (f <- Seq("src/main/scala/graft/analyze/TypedResolver.scala",
        "src/main/scala/graft/analyze/RubyTypedResolver.scala")) {
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)), java.nio.charset.StandardCharsets.UTF_8)
      assert(!src.contains(".collect()"),
        s"$f collects to the driver — catalog must stay per-repo on executors")
      assert(src.contains("flatMapSortedGroups"),
        s"$f lost the per-repo grouped catalog shape")
    }
  }

  test("typed resolution is per-repo: same-named types in two repos never cross-resolve") {
    import spark.implicits._
    // two repos, each with kotlin class Foo and a caller that invokes
    // foo.go(); repo-local resolution must produce exactly one CALLS edge
    // per repo, each targeting its OWN repo's Foo.go
    def repoRows(repo: String, base: Long) = {
      val file = s"$repo/a.kt"
      val fileMeta = Seq((file, "kotlin", repo))
        .toDF("path", "language", "repositoryName")
      val defs = Seq(
        (base, "Foo", "Foo", "Class", file, 0L, 200L, 1, 20, 0, 1, 1),
        (base + 1, "Foo.go", "go", "Method", file, 10L, 50L, 2, 4, 0, 1, 1),
        (base + 2, "caller", "caller", "Function", file, 60L, 190L, 6, 12, 0, 1, 1))
        .toDF("id", "fqn", "name", "definition_type", "primary_file_path",
          "primary_start_byte", "primary_end_byte", "start_line", "end_line",
          "start_col", "end_col", "total_locations")
      val facts = Seq((file, "var", "caller", "foo", "Foo"))
        .toDF("filePath", "factKind", "scope", "subject", "detail")
      val refs = Seq((file, "go", "foo", 100L, 110L, 8, 2, 10))
        .toDF("filePath", "name", "callReceiver", "startByte", "endByte",
          "startLine", "startCol", "endCol")
      (fileMeta, defs, facts, refs)
    }
    val (fmA, dA, faA, rA) = repoRows("repoA", 10L)
    val (fmB, dB, faB, rB) = repoRows("repoB", 20L)
    val (edges, _) = graft.analyze.TypedResolver.resolve(spark,
      fmA.unionByName(fmB), faA.unionByName(faB), rA.unionByName(rB),
      dA.unionByName(dB),
      Seq.empty[(Long, String, String, String, String, String)]
        .toDF("id", "import_type", "import_path", "name", "alias", "file_path"))
    val got = edges.select("source_id", "target_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((12L, 11L), (22L, 21L)))
  }

  test("typed resolver accepts pre-parsed reference tables without callReceiver") {
    import spark.implicits._
    val file = "r/b.kt"
    val fileMeta = Seq((file, "kotlin", "r")).toDF("path", "language", "repositoryName")
    val defs = Seq(
      (1L, "Bar", "Bar", "Class", file, 0L, 200L, 1, 20, 0, 1, 1),
      (2L, "Bar.run", "run", "Method", file, 10L, 50L, 2, 4, 0, 1, 1),
      (3L, "main", "main", "Function", file, 60L, 190L, 6, 12, 0, 1, 1))
      .toDF("id", "fqn", "name", "definition_type", "primary_file_path",
        "primary_start_byte", "primary_end_byte", "start_line", "end_line",
        "start_col", "end_col", "total_locations")
    val facts = Seq.empty[(String, String, String, String, String)]
      .toDF("filePath", "factKind", "scope", "subject", "detail")
    // previous-schema refs: no callReceiver column — a bare call still
    // resolves against the enclosing scope
    val refs = Seq((file, "Bar", 100L, 110L, 8, 2, 10))
      .toDF("filePath", "name", "startByte", "endByte",
        "startLine", "startCol", "endCol")
    val (edges, _) = graft.analyze.TypedResolver.resolve(spark, fileMeta,
      facts, refs, defs,
      Seq.empty[(Long, String, String, String, String, String)]
        .toDF("id", "import_type", "import_path", "name", "alias", "file_path"))
    val got = edges.select("source_id", "target_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((3L, 1L))) // main CALLS Bar (constructor-style)
  }
}
