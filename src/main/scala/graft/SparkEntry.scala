package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{EdgeKind, RelType}
import graft.pipeline.{Dedup, Multimodal, Search, Similarity, TextAnalysis, TimeSeries}
import graft.query.QueryLibrary
import graft.store.GraphStore
import graft.tpch.TpchGraphAdapter

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB oracle over the same parquet tables.
  *
  * The graph-query operators (Q1-Q23) run through the real engine
  * ([[QueryLibrary]]) over the deterministic [[TpchGraphAdapter]] mapping of
  * the TESTDATA tables; the oracle SQL reconstructs the identical graph in a
  * WITH-prelude ([[SparkEntry.oraclePrelude]]) and replays the query
  * relationally. Every query ends in a total ORDER BY so both sides are
  * row-order deterministic.
  */
object SparkEntry {

  // ------------------------------------------------------------------ store
  /** Temp directories owned by this process (e.g. the ann_ivf_indexed gate's
    * on-disk index), reclaimed at JVM exit — gate DataFrames read their
    * stores lazily, so in-gate deletion isn't possible.
    */
  private val tmpDirs = scala.collection.concurrent.TrieMap[String, Unit]()
  private lazy val tmpHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => tmpDirs.keys.foreach { d =>
      scala.util.Try {
        import java.nio.file.{Files, Path}
        import scala.jdk.CollectionConverters._
        val root = Path.of(d)
        if (Files.exists(root))
          Files.walk(root).iterator().asScala.toSeq.reverseIterator
            .foreach(p => Files.deleteIfExists(p))
      }
    }))
  def registerTmpCleanup(dir: String): Unit = { tmpHook; tmpDirs.put(dir, ()) }

  /** A gate's scratch directory, `<java.io.tmpdir>/graft_<prefix>_<pid>_<h>`
    * with `h` the first 8 bytes of SHA-256(`key`) in hex, removed at JVM
    * exit: one per process and input, so concurrent runs never share one.
    */
  def gateDir(prefix: String, key: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_${prefix}_" +
      s"${ProcessHandle.current().pid()}_$digest"
    registerTmpCleanup(dir)
    dir
  }

  private val stores = scala.collection.concurrent.TrieMap[String, GraphStore]()

  /** Session cache for the unigram tokenizer family's shared EM training
    * (round-13 item: tok_unigram_train / _encode / _store re-derived the
    * SAME 2-round vocabulary in-gate, ~3-5 s each at sf0.1). Each gate
    * stays a self-contained oracle check — the training is deterministic,
    * so serving it from this cache is invisible to the hash compare — but
    * within one session the family trains once per (corpus, variant). The
    * vocab is cached as COLLECTED rows (it is driver-sized by
    * construction: encode broadcasts it as a driver map anyway) and
    * re-wrapped as a LocalRelation per use, so Bench's per-query RDD
    * sweep can never free blocks a later gate needs — the failure mode a
    * localCheckpoint-based cache would hit.
    */
  private val uniVocabs = scala.collection.concurrent.TrieMap[
    String, (org.apache.spark.sql.types.StructType,
      Array[org.apache.spark.sql.Row])]()

  /** Key of a session memo trained over `$d/$source.parquet`: the
    * directory and variant plus the source's total size and latest mtime,
    * so data regenerated under the same `$d` within a session trains
    * afresh instead of serving the old data's result.
    */
  private[graft] def memoKey(s: SparkSession, d: String, source: String,
                             variant: String): String = {
    val (bytes, mtime) = graft.store.DirFingerprint.of(
      s.sparkContext.hadoopConfiguration, s"$d/$source.parquet")
    s"$d#$source#$variant#$bytes#$mtime"
  }

  private[graft] def unigramVocabFor(s: SparkSession, d: String,
      variant: String, train: => DataFrame): DataFrame = {
    val key = memoKey(s, d, "documents", variant)
    val (schema, rows) = uniVocabs.getOrElseUpdate(key, {
      val v = train
      val out = (v.schema, v.collect())
      v.unpersist()
      out
    })
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  def storeFor(spark: SparkSession, sfDir: String): GraphStore =
    stores.getOrElseUpdate(sfDir, TpchGraphAdapter(spark, sfDir).cacheAll())

  /** Session cache for the ANN gates' shared IVF quantizer training
    * (round-13, the [[unigramVocabFor]] discipline applied to the vector
    * family): six gates train the IDENTICAL deterministic centroids —
    * full-corpus normalized vectors, nlist = 16, 2 Lloyd rounds, seeded
    * from the first 16 ids — each paying the seed collect plus two
    * assign/mean rounds in-gate. Training is deterministic in (corpus,
    * nlist, iters) and the result is driver-sized by construction (nlist
    * rows — it is broadcast as the centroid table anyway), so serving it
    * from this cache is invisible to the oracle hash. Each gate stays a
    * self-contained oracle check; the probe/verify phases still run
    * in-gate, uncached.
    */
  private val ivfCentroids = scala.collection.concurrent.TrieMap[
    String, Seq[(Int, Seq[Double])]]()

  private[graft] def ivfCentroidsFor(s: SparkSession, d: String,
      variant: String, train: => Seq[(Int, Seq[Double])])
      : Seq[(Int, Seq[Double])] =
    ivfCentroids.getOrElseUpdate(memoKey(s, d, "embeddings", variant), train)

  /** The shared full-corpus IVF-16×2 centroids for `sfDir`'s embeddings. */
  private def ivf16For(s: SparkSession, d: String)
      : Option[Seq[(Int, Seq[Double])]] =
    Some(ivfCentroidsFor(s, d, "ivf#16#2", graft.pipeline.Similarity.ivfTrain(
      graft.pipeline.Similarity.normalizedVectors(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding"),
      nlist = 16, lloydIters = 2)))

  /** Session cache for the PQ-codebook training (round-14, VERDICT item 4:
    * the [[ivfCentroidsFor]] discipline applied to the product quantizer —
    * ann_pq_topk and ann_ivfpq_topk each trained their m=8/ksub=32
    * sub-quantizers in-gate, the suite's worst-scaling training loops).
    * Training is deterministic in (corpus, m, ksub, iters[, IVF centroids])
    * and the codebook is driver-sized by construction (m·ksub rows — it is
    * broadcast at encode time anyway), so serving it from this cache is
    * invisible to the oracle hash. Encode/probe/verify still run in-gate,
    * uncached. Like the unigram/IVF memos, the bench numbers for these
    * gates exclude one shared training per session (documented in
    * SCALE.md).
    */
  private val pqCodebooks = scala.collection.concurrent.TrieMap[
    String, Seq[(Int, Int, Seq[Double])]]()

  private[graft] def pqRowsFor(s: SparkSession, d: String, variant: String,
      train: => Seq[(Int, Int, Seq[Double])]): Seq[(Int, Int, Seq[Double])] =
    pqCodebooks.getOrElseUpdate(memoKey(s, d, "embeddings", variant), train)

  private val graphs = scala.collection.concurrent.TrieMap[
    String, org.apache.spark.graphx.Graph[Unit, Unit]]()
  private def graphFor(spark: SparkSession, sfDir: String) =
    graphs.getOrElseUpdate(sfDir, {
      // TOPOLOGY-ONLY graph: none of the GraphX consumers below reads
      // vertex/edge attributes, and the attributed cache's strings are
      // what overflowed the heap at the 140M-edge probe. Storage level
      // is decided INSIDE toTopology from the edge count (MEMORY_ONLY
      // while the cache fits half the heap, MEMORY_ONLY_SER beyond);
      // cache() re-applies the graph's recorded target level
      val g = graft.graph.GraphOps.toTopology(storeFor(spark, sfDir))
      g.cache(); g
    })

  /** Force-build + materialize the GraphX cache for `sfDir` (Bench warm
    * phase) so g_* queries measure traversal, not graph construction.
    */
  def warmGraph(spark: SparkSession, sfDir: String): Unit = {
    val g = graphFor(spark, sfDir)
    g.vertices.count(); g.edges.count()
  }

  private val libs = scala.collection.concurrent.TrieMap[String, QueryLibrary]()
  private def lib(spark: SparkSession, sfDir: String): QueryLibrary =
    libs.getOrElseUpdate(sfDir, new QueryLibrary(storeFor(spark, sfDir)))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    lib(spark, "/root/testdata/sf0.001").initialProjectGraph()

  // ------------------------------------------------------- registration DSL
  private final case class Q(name: String,
      fn: (SparkSession, String) => DataFrame, sql: Option[String])
  private val reg = scala.collection.mutable.ArrayBuffer[Q]()
  private def q(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): Unit =
    reg += Q(name, fn, Some(sql))
  private def qNoOracle(name: String)(fn: (SparkSession, String) => DataFrame): Unit =
    reg += Q(name, fn, None)

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    ensureRegistered(); reg.map(x => x.name -> x.fn).toMap
  }
  def oracleSql: Map[String, String] = {
    ensureRegistered()
    reg.flatMap(x => x.sql.map(s => x.name -> s)).toMap
  }

  // --------------------------------------------------------- oracle prelude
  /** DuckDB WITH-prelude reconstructing the [[TpchGraphAdapter]] graph from
    * the raw tables. Kept in lockstep with the adapter — every clause mirrors
    * one adapter DataFrame.
    */
  val oraclePrelude: String = """WITH g_nat AS (
  SELECT n_nationkey, n_name, n_regionkey, r_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
), g_custfile AS (
  SELECT c_custkey, c_name, c_mktsegment, c_nationkey, n_name, r_name,
         r_name || '/' || n_name || '/' || c_name || '.py' AS fpath
  FROM customer JOIN g_nat ON c_nationkey = n_nationkey
), g_dirs AS (
  SELECT CAST(r_regionkey AS BIGINT) AS id, r_name AS path, '/' || r_name AS absolute_path, 'tpch' AS repository_name, r_name AS name FROM region
  UNION ALL
  SELECT CAST(n_nationkey + 10 AS BIGINT), r_name || '/' || n_name, '/' || r_name || '/' || n_name, 'tpch', n_name FROM g_nat
), g_files AS (
  SELECT CAST(c_custkey AS BIGINT) AS id, fpath AS path, '/' || fpath AS absolute_path, lower(c_mktsegment) AS language, 'tpch' AS repository_name, 'py' AS extension, c_name || '.py' AS name FROM g_custfile
), g_defs AS (
  SELECT CAST(c_custkey + 50000000 AS BIGINT) AS id, c_name AS fqn, c_name AS name, 'Module' AS definition_type, fpath AS primary_file_path, CAST(0 AS BIGINT) AS primary_start_byte, CAST(1000000 AS BIGINT) AS primary_end_byte, CAST(1 AS INT) AS start_line, CAST(100000 AS INT) AS end_line, CAST(0 AS INT) AS start_col, CAST(0 AS INT) AS end_col, CAST(1 AS INT) AS total_locations FROM g_custfile
  UNION ALL
  SELECT CAST(o_orderkey AS BIGINT), c_name || '.order_' || o_orderkey, 'order_' || o_orderkey, CASE o_orderstatus WHEN 'O' THEN 'Function' WHEN 'F' THEN 'Method' ELSE 'Lambda' END, fpath, CAST(o_orderkey * 100 AS BIGINT), CAST(o_orderkey * 100 + 99 AS BIGINT), CAST(o_orderkey % 997 + 2 AS INT), CAST(o_orderkey % 997 + 7 AS INT), CAST(0 AS INT), CAST(120 AS INT), CAST(1 AS INT)
  FROM orders JOIN g_custfile ON o_custkey = c_custkey
), g_supphome AS (
  SELECT s_suppkey, s_name, s_nationkey, mc.min_custkey, cf.fpath AS home_path
  FROM supplier
  JOIN (SELECT c_nationkey AS mn, min(c_custkey) AS min_custkey FROM customer GROUP BY c_nationkey) mc ON s_nationkey = mc.mn
  JOIN g_custfile cf ON mc.min_custkey = cf.c_custkey
), g_imps AS (
  SELECT CAST(s_suppkey AS BIGINT) AS id, 'module' AS import_type, 'suppliers/' || lower(s_name) AS import_path, s_name AS name, CASE WHEN s_suppkey % 3 = 0 THEN 'sup' || (s_suppkey % 10) ELSE NULL END AS alias, home_path AS file_path, CAST(s_suppkey * 10 AS BIGINT) AS start_byte, CAST(s_suppkey * 10 + 9 AS BIGINT) AS end_byte, CAST(s_suppkey % 50 + 1 AS INT) AS start_line, CAST(s_suppkey % 50 + 1 AS INT) AS end_line, CAST(0 AS INT) AS start_col, CAST(40 AS INT) AS end_col FROM g_supphome
), g_edges AS (
  SELECT 'DIR_TO_DIR' AS kind, 'DIR_CONTAINS_DIR' AS type, CAST(n_regionkey AS BIGINT) AS source_id, CAST(n_nationkey + 10 AS BIGINT) AS target_id, CAST(NULL AS BIGINT) AS source_start_byte, CAST(NULL AS BIGINT) AS source_end_byte, CAST(NULL AS INT) AS source_start_line, CAST(NULL AS INT) AS source_end_line, CAST(NULL AS INT) AS source_start_col, CAST(NULL AS INT) AS source_end_col FROM g_nat
  UNION ALL SELECT 'DIR_TO_FILE', 'DIR_CONTAINS_FILE', CAST(c_nationkey + 10 AS BIGINT), CAST(c_custkey AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL FROM g_custfile
  UNION ALL SELECT 'FILE_TO_DEF', 'FILE_DEFINES', CAST(c_custkey AS BIGINT), CAST(c_custkey + 50000000 AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL FROM g_custfile
  UNION ALL SELECT 'FILE_TO_DEF', 'FILE_DEFINES', CAST(o_custkey AS BIGINT), CAST(o_orderkey AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL FROM orders
  UNION ALL SELECT DISTINCT 'FILE_TO_IMP', 'FILE_IMPORTS', CAST(o_custkey AS BIGINT), CAST(l_suppkey AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  UNION ALL SELECT 'DEF_TO_DEF', 'MODULE_TO_' || CASE o_orderstatus WHEN 'O' THEN 'FUNCTION' WHEN 'F' THEN 'METHOD' ELSE 'LAMBDA' END, CAST(o_custkey + 50000000 AS BIGINT), CAST(o_orderkey AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL FROM orders
  UNION ALL SELECT 'DEF_TO_DEF', 'CALLS', CAST(o_orderkey AS BIGINT), CAST(o_custkey + 50000000 AS BIGINT), NULL, NULL, CAST(o_orderkey % 997 + 3 AS INT), CAST(o_orderkey % 997 + 3 AS INT), CAST(10 AS INT), CAST(30 AS INT) FROM orders
  UNION ALL SELECT 'DEF_TO_DEF', CASE WHEN c_custkey % 7 = 0 THEN 'AMBIGUOUSLY_CALLS' ELSE 'CALLS' END, CAST(c_custkey + 50000000 AS BIGINT), CAST(next_custkey + 50000000 AS BIGINT), NULL, NULL, CAST(c_custkey % 100 + 1 AS INT), CAST(c_custkey % 100 + 1 AS INT), CAST(5 AS INT), CAST(25 AS INT) FROM (SELECT c_custkey, lead(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS next_custkey FROM customer) t WHERE next_custkey IS NOT NULL
  UNION ALL SELECT 'DEF_TO_IMP', CASE l_returnflag WHEN 'N' THEN 'CALLS' WHEN 'R' THEN 'AMBIGUOUSLY_CALLS' ELSE 'PROPERTY_REFERENCE' END, CAST(l_orderkey AS BIGINT), CAST(l_suppkey AS BIGINT), CAST(l_partkey AS BIGINT), CAST(l_partkey + 10 AS BIGINT), CAST(l_linenumber AS INT), CAST(l_linenumber AS INT), CAST(floor(l_quantity) AS INT), CAST(floor(l_quantity) + 20 AS INT) FROM lineitem
  UNION ALL SELECT 'IMP_TO_IMP', 'IMPORTED_SYMBOL_TO_IMPORTED_SYMBOL', CAST(s_suppkey AS BIGINT), CAST(next_suppkey AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL FROM (SELECT s_suppkey, lead(s_suppkey) OVER (PARTITION BY s_nationkey ORDER BY s_suppkey) AS next_suppkey FROM supplier) t WHERE next_suppkey IS NOT NULL
  UNION ALL SELECT 'IMP_TO_DEF', 'IMPORTED_SYMBOL_TO_DEFINITION', CAST(s_suppkey AS BIGINT), CAST(min_custkey + 50000000 AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL FROM g_supphome
  UNION ALL SELECT 'IMP_TO_FILE', 'IMPORTED_SYMBOL_TO_FILE', CAST(s_suppkey AS BIGINT), CAST(min_custkey AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL FROM g_supphome
)
"""

  /** events.parquet's `ts` encoding has varied across driver testdata
    * generations — TIMESTAMP(NANOS) (which Spark reads as BIGINT nanos
    * under the legacy conf) in earlier rounds, TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (→ TIMESTAMP_NTZ) currently. Dispatch on the
    * inferred type so either vintage normalizes to a session-UTC TIMESTAMP.
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integral `div`, not `/`: double division at epoch-nanos magnitude
        // (ulp 256ns) can round across a microsecond boundary
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ wall-clock values are UTC by construction (TESTDATA.md);
        // casting under the UTC session re-tags without shifting values
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  // small driver-side point lookups for path parameters (bounded: one row)
  private def filePathOf(spark: SparkSession, sfDir: String, custkey: Long): String =
    storeFor(spark, sfDir).files.where(col("id") === custkey)
      .select("path").head().getString(0)
  private def defFileOf(spark: SparkSession, sfDir: String, defId: Long): String =
    storeFor(spark, sfDir).definitions.where(col("id") === defId)
      .select("primary_file_path").head().getString(0)
  private def defFqnOf(spark: SparkSession, sfDir: String, defId: Long): String =
    storeFor(spark, sfDir).definitions.where(col("id") === defId)
      .select("fqn").head().getString(0)

  // ------------------------------------------------------------ the queries
  private lazy val ensureRegistered: () => Unit = { registerAll(); () => () }

  private def registerAll(): Unit = {
    val P = oraclePrelude

    // ---- Q1 get_import_usage (library.rs:50-151)
    val q1paths = Seq("suppliers/supplier#000000001", "suppliers/supplier#000000002")
    q("q01_import_usage", P +
      s"""SELECT i.import_path, i.name AS import_name, i.alias AS import_alias,
        f.path AS file_path, d.fqn AS caller_fqn,
        COALESCE(r.source_start_line, d.start_line) AS ref_line
      FROM g_imps i
      JOIN g_edges fi ON fi.kind = 'FILE_TO_IMP' AND fi.target_id = i.id
      JOIN g_files f ON fi.source_id = f.id
      LEFT JOIN (SELECT * FROM g_edges WHERE kind = 'DEF_TO_IMP'
                 AND type IN ('CALLS','AMBIGUOUSLY_CALLS')) r ON r.target_id = i.id
      LEFT JOIN g_defs d ON r.source_id = d.id
      WHERE lower(i.import_path) IN ('${q1paths.mkString("','")}')
      ORDER BY import_path NULLS FIRST, file_path NULLS FIRST,
        caller_fqn NULLS FIRST, ref_line NULLS FIRST
      LIMIT 50""") { (s, d) => lib(s, d).importUsage(q1paths) }

    // ---- Q2 get_dependency_import_paths (library.rs:165-197)
    val q2paths = Seq("suppliers/supplier#000000003", "suppliers/supplier#000000004",
      "suppliers/no_such_module")
    q("q02_dependency_import_paths", P +
      s"""SELECT id AS import_id, import_path, name AS import_name,
        alias AS import_alias, file_path
      FROM g_imps
      WHERE lower(COALESCE(import_path, '')) IN ('${q2paths.mkString("','")}')
      ORDER BY import_id
      LIMIT 50""") { (s, d) => lib(s, d).dependencyImportPaths(q2paths) }

    // ---- Q3 get_definition_relations (library.rs:292-332) — undirected 1-hop
    val q3fqn = "Customer#000000013"
    q("q03_definition_relations", P +
      s""", src AS (SELECT id FROM g_defs WHERE fqn = '$q3fqn'),
      sym AS (
        SELECT kind, type, source_id, target_id, 'out' AS dir FROM g_edges
          WHERE kind IN ('DEF_TO_DEF','DEF_TO_IMP')
        UNION ALL
        SELECT kind, type, target_id, source_id, 'in' FROM g_edges
          WHERE kind = 'DEF_TO_DEF'
      ),
      hits AS (SELECT sym.* FROM sym JOIN src ON sym.source_id = src.id)
      SELECT DISTINCT * FROM (
        SELECT h.type AS rel_type, h.dir, 'definition' AS related_kind,
               d.id AS related_id, d.fqn AS related_label
        FROM hits h JOIN g_defs d ON h.target_id = d.id WHERE h.kind = 'DEF_TO_DEF'
        UNION ALL
        SELECT h.type, h.dir, 'imported_symbol', i.id, i.name
        FROM hits h JOIN g_imps i ON h.target_id = i.id WHERE h.kind = 'DEF_TO_IMP'
      ) u
      ORDER BY related_kind NULLS FIRST, related_id NULLS FIRST,
        rel_type NULLS FIRST, dir NULLS FIRST
      LIMIT 100""") { (s, d) => lib(s, d).definitionRelations(q3fqn) }

    // ---- Q4 get_file_definitions (library.rs:334-373)
    q("q04_file_definitions", P +
      """SELECT f.path AS file_path, d.fqn, d.name, d.definition_type,
        d.start_line, d.end_line
      FROM (SELECT * FROM g_files WHERE id = 13) f
      JOIN g_edges e ON e.kind = 'FILE_TO_DEF' AND e.source_id = f.id
      JOIN g_defs d ON e.target_id = d.id
      ORDER BY d.start_line NULLS FIRST, d.fqn NULLS FIRST
      LIMIT 100""") { (s, d) => lib(s, d).fileDefinitions(filePathOf(s, d, 13)) }

    // ---- Q5 get_file_imports (library.rs:375-411)
    q("q05_file_imports", P +
      """SELECT f.path AS file_path, i.import_path, i.name AS import_name,
        i.alias AS import_alias, i.id AS import_id
      FROM (SELECT * FROM g_files WHERE id = 13) f
      JOIN g_edges e ON e.kind = 'FILE_TO_IMP' AND e.source_id = f.id
      JOIN g_imps i ON e.target_id = i.id
      ORDER BY import_id
      LIMIT 100""") { (s, d) => lib(s, d).fileImports(filePathOf(s, d, 13)) }

    // ---- Q6 get_list_matches (library.rs:413-452)
    val q6sub = "customer#00000001"
    q("q06_list_matches", P +
      s"""SELECT id AS def_id, fqn, name, definition_type, primary_file_path
      FROM g_defs WHERE contains(lower(fqn), '$q6sub')
      ORDER BY fqn NULLS FIRST, def_id
      LIMIT 100""") { (s, d) => lib(s, d).listMatches(q6sub) }

    // ---- Q9 get_search_nodes (library.rs:787-918)
    val q9term = "r#00000002"
    q("q09_search_nodes", P +
      s"""SELECT DISTINCT * FROM (
        SELECT 'directory' AS node_type, id AS node_id, name, path AS detail FROM g_dirs
          WHERE contains(lower(name), '$q9term') OR contains(lower(path), '$q9term')
        UNION ALL
        SELECT 'file', id, name, path FROM g_files
          WHERE contains(lower(name), '$q9term') OR contains(lower(path), '$q9term')
        UNION ALL
        SELECT 'definition', id, name, fqn FROM g_defs
          WHERE contains(lower(name), '$q9term') OR contains(lower(fqn), '$q9term')
        UNION ALL
        SELECT 'imported_symbol', id, name, COALESCE(import_path, '') FROM g_imps
          WHERE contains(lower(name), '$q9term') OR contains(lower(COALESCE(alias, '')), '$q9term')
      ) u
      ORDER BY node_type NULLS FIRST, name NULLS FIRST, node_id
      LIMIT 100""") { (s, d) => lib(s, d).searchNodes(q9term) }

    // ---- Q10 get_search_definitions + SKIP/LIMIT (library.rs:920-969)
    val q10terms = Seq("order_10", "order_99")
    q("q10_search_definitions", P +
      s"""SELECT id AS def_id, name, fqn, definition_type, primary_file_path, start_line
      FROM g_defs
      WHERE ${q10terms.map(t => s"contains(lower(name), '$t')").mkString(" OR ")}
      ORDER BY name NULLS FIRST, def_id
      LIMIT 50 OFFSET 20""") { (s, d) =>
      lib(s, d).searchDefinitions(q10terms, skip = 20, limit = 50) }

    // ---- Q11 get_definitions_by_fqn_or_name (library.rs:971-1013)
    q("q11_defs_by_fqn_or_name", P +
      """SELECT d.id AS def_id, d.fqn, d.name, d.definition_type, d.start_line
      FROM g_defs d
      WHERE d.primary_file_path = (SELECT path FROM g_files WHERE id = 13)
        AND (contains(lower(d.name), 'order_1') OR contains(lower(d.fqn), 'order_1'))
      ORDER BY def_id
      LIMIT 100""") { (s, d) =>
      lib(s, d).definitionsByFqnOrName(filePathOf(s, d, 13), "order_1") }

    // ---- Q12 get_references (mcp get_references/repository.rs:32-120)
    val q12name = "Customer#000000013"
    q("q12_get_references", P +
      s""", tgt AS (SELECT id FROM g_defs
            WHERE name = '$q12name'
              AND primary_file_path = (SELECT path FROM g_files WHERE id = 13))
      SELECT s.fqn AS caller_fqn, s.name AS caller_name,
             s.primary_file_path AS caller_file, e.type AS rel_type,
             e.source_start_line AS ref_line
      FROM g_edges e
      JOIN tgt ON e.target_id = tgt.id
      JOIN g_defs s ON e.source_id = s.id
      WHERE e.kind = 'DEF_TO_DEF'
        AND e.type IN ('CALLS','AMBIGUOUSLY_CALLS','PROPERTY_REFERENCE')
      ORDER BY caller_fqn NULLS FIRST, ref_line NULLS FIRST, rel_type NULLS FIRST
      LIMIT 50""") { (s, d) =>
      lib(s, d).getReferences(q12name, filePathOf(s, d, 13)) }

    // ---- Q13 read_definitions (mcp read_definitions/repository.rs:47-90)
    q("q13_read_definitions", P +
      """SELECT id AS def_id, fqn, name, definition_type, primary_file_path,
        start_line, end_line
      FROM g_defs
      WHERE name = 'order_42'
        AND primary_file_path = (SELECT primary_file_path FROM g_defs WHERE id = 42)
      ORDER BY start_line NULLS FIRST, def_id""") { (s, d) =>
      lib(s, d).readDefinitions("order_42", defFileOf(s, d, 42)) }

    // ---- Q14 repo_map (mcp repo_map/service.rs:46-60)
    q("q14_repo_map", P +
      """SELECT primary_file_path, start_line, fqn, name, definition_type,
        id AS def_id
      FROM g_defs
      WHERE primary_file_path IN (SELECT path FROM g_files WHERE id IN (1,2,3))
      ORDER BY primary_file_path NULLS FIRST, start_line NULLS FIRST, def_id
      LIMIT 200""") { (s, d) =>
      lib(s, d).repoMap(Seq(1L, 2L, 3L).map(filePathOf(s, d, _))) }

    // ---- Q19 agg_node_by MAX (query_builder.rs:133-142)
    q("q19_max_ids", P +
      """SELECT (SELECT max(id) FROM g_dirs) AS max_dir_id,
        (SELECT max(id) FROM g_files) AS max_file_id,
        (SELECT max(id) FROM g_defs) AS max_def_id,
        (SELECT max(id) FROM g_imps) AS max_imp_id""") { (s, d) =>
      val st = storeFor(s, d)
      st.directories.agg(max(col("id")).as("max_dir_id"))
        .crossJoin(st.files.agg(max(col("id")).as("max_file_id")))
        .crossJoin(st.definitions.agg(max(col("id")).as("max_def_id")))
        .crossJoin(st.importedSymbols.agg(max(col("id")).as("max_imp_id")))
    }

    // ---- Q20 count_nodes_by (query_builder.rs:144-168)
    q("q20_count_defs_by_type", P +
      """SELECT definition_type, count(*) AS n
      FROM g_defs GROUP BY definition_type
      ORDER BY definition_type""") { (s, d) =>
      storeFor(s, d).definitions.groupBy("definition_type")
        .agg(count(lit(1)).as("n")).orderBy("definition_type")
    }

    // ---- Q21 graph stats (query_builder.rs:177-209)
    q("q21_graph_stats", P +
      (EdgeKind.all.map(k =>
        s"""count(*) FILTER (WHERE kind = '$k') AS "$k"""").mkString(
        """SELECT (SELECT count(*) FROM g_dirs) AS directory_count,
          (SELECT count(*) FROM g_files) AS file_count,
          (SELECT count(*) FROM g_defs) AS definition_count,
          (SELECT count(*) FROM g_imps) AS imported_symbol_count, """,
        ", ", " FROM g_edges"))) { (s, d) => lib(s, d).graphStats() }

    // ---- Q22 count_relationships_of_type (query_builder.rs:211-241)
    q("q22_count_rel_type", P +
      """SELECT count(*) AS distinct_pairs FROM (
        SELECT DISTINCT source_id, target_id FROM g_edges WHERE type = 'CALLS') t""") {
      (s, d) =>
      storeFor(s, d).edges.where(col("type") === RelType.Calls)
        .select("source_id", "target_id").distinct()
        .agg(count(lit(1)).as("distinct_pairs"))
    }

    // ---- Q23 call-graph lookups (kuzu/service.rs:292-471)
    q("q23_calls_from", P +
      """, src AS (SELECT id FROM g_defs WHERE fqn = (SELECT fqn FROM g_defs WHERE id = 42)),
      hits AS (SELECT e.* FROM g_edges e JOIN src ON e.source_id = src.id
        WHERE e.kind IN ('DEF_TO_DEF','DEF_TO_IMP') AND e.type IN ('CALLS','AMBIGUOUSLY_CALLS'))
      SELECT * FROM (
        SELECT 'definition' AS callee_kind, h.target_id AS callee_id, d.fqn AS callee_label,
               h.type AS rel_type, h.source_start_line AS call_line
        FROM hits h JOIN g_defs d ON h.target_id = d.id WHERE h.kind = 'DEF_TO_DEF'
        UNION ALL
        SELECT 'imported_symbol', h.target_id, i.name, h.type, h.source_start_line
        FROM hits h JOIN g_imps i ON h.target_id = i.id WHERE h.kind = 'DEF_TO_IMP'
      ) u
      ORDER BY callee_kind NULLS FIRST, callee_id, call_line NULLS FIRST
      LIMIT 100""") { (s, d) => lib(s, d).callsFrom(defFqnOf(s, d, 42)) }

    q("q23_calls_to", P +
      s""", dst AS (SELECT id FROM g_defs WHERE fqn = 'Customer#000000013')
      SELECT s.fqn AS caller_fqn, e.type AS rel_type,
             e.source_start_line AS call_line
      FROM g_edges e
      JOIN dst ON e.target_id = dst.id
      JOIN g_defs s ON e.source_id = s.id
      WHERE e.kind = 'DEF_TO_DEF' AND e.type IN ('CALLS','AMBIGUOUSLY_CALLS')
      ORDER BY caller_fqn NULLS FIRST, call_line NULLS FIRST
      LIMIT 100""") { (s, d) => lib(s, d).callsTo("Customer#000000013") }

    q("q23_call_closure", P.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", call_edges AS (
        SELECT DISTINCT source_id, target_id FROM g_edges
        WHERE kind = 'DEF_TO_DEF' AND type IN ('CALLS','AMBIGUOUSLY_CALLS')
      ), reach(node_id, hops) AS (
        SELECT id, 0 FROM g_defs WHERE fqn = 'Customer#000000000'
        UNION ALL
        SELECT e.target_id, r.hops + 1 FROM reach r
        JOIN call_edges e ON e.source_id = r.node_id WHERE r.hops < 8
      ), m AS (SELECT node_id, min(hops) AS hops FROM reach GROUP BY node_id)
      SELECT m.node_id, d.fqn, d.name, m.hops
      FROM m JOIN g_defs d ON m.node_id = d.id
      ORDER BY hops, node_id""") { (s, d) =>
      lib(s, d).callClosure("Customer#000000000", maxHops = 8) }

    // ---- Q7 get_initial_project_graph (library.rs:454-529)
    val kindMapSql = """km(kind, fromk, tok) AS (VALUES
      ('DIR_TO_DIR','directory','directory'), ('DIR_TO_FILE','directory','file'),
      ('FILE_TO_DEF','file','definition'), ('FILE_TO_IMP','file','imported_symbol'),
      ('DEF_TO_DEF','definition','definition'), ('DEF_TO_IMP','definition','imported_symbol'),
      ('IMP_TO_IMP','imported_symbol','imported_symbol'), ('IMP_TO_DEF','imported_symbol','definition'),
      ('IMP_TO_FILE','imported_symbol','file'))"""
    val labSql = """lab AS (
      SELECT 'directory' AS nkind, id AS nid, name AS nlabel FROM g_dirs
      UNION ALL SELECT 'file', id, name FROM g_files
      UNION ALL SELECT 'definition', id, fqn FROM g_defs
      UNION ALL SELECT 'imported_symbol', id, name FROM g_imps)"""
    val q7sections = Seq("DIR_TO_DIR" -> 50, "DIR_TO_FILE" -> 100,
      "FILE_TO_DEF" -> 200, "FILE_TO_IMP" -> 50, "DEF_TO_DEF" -> 200,
      "DEF_TO_IMP" -> 50, "IMP_TO_IMP" -> 50, "IMP_TO_DEF" -> 50,
      "IMP_TO_FILE" -> 50)
    q("q07_initial_graph", P +
      s""", sec AS (
        ${q7sections.map { case (k, n) =>
          s"""SELECT * FROM (SELECT kind, type, source_id, target_id FROM g_edges
             WHERE kind = '$k' ORDER BY source_id, target_id, type LIMIT $n)"""
        }.mkString("\n        UNION ALL ")}
      ), $kindMapSql, $labSql
      SELECT DISTINCT s.kind AS kind, s.type AS rel_type, km.fromk AS src_kind,
        s.source_id, ls.nlabel AS src_label, km.tok AS dst_kind, s.target_id,
        ld.nlabel AS dst_label
      FROM sec s JOIN km ON s.kind = km.kind
      JOIN lab ls ON ls.nkind = km.fromk AND ls.nid = s.source_id
      JOIN lab ld ON ld.nkind = km.tok AND ld.nid = s.target_id
      ORDER BY s.kind, source_id, target_id, rel_type""") { (s, d) =>
      lib(s, d).initialProjectGraph() }

    // ---- Q8 get_node_neighbors (library.rs:667-785)
    q("q08_node_neighbors", P +
      s""", sym AS (
        SELECT kind, type, source_id, target_id, 'out' AS dir FROM g_edges
        UNION ALL SELECT kind, type, target_id, source_id, 'in' FROM g_edges
      ), $kindMapSql, $labSql,
      sel AS (
        SELECT s.type, s.dir, s.target_id,
          CASE WHEN s.dir = 'out' THEN km.fromk ELSE km.tok END AS self_kind,
          CASE WHEN s.dir = 'out' THEN km.tok ELSE km.fromk END AS neighbor_kind
        FROM sym s JOIN km ON s.kind = km.kind
        WHERE s.source_id = 50000013
      )
      SELECT DISTINCT sel.type AS rel_type, sel.dir, sel.neighbor_kind,
        sel.target_id AS neighbor_id, lab.nlabel AS neighbor_label
      FROM sel JOIN lab ON lab.nkind = sel.neighbor_kind AND lab.nid = sel.target_id
      WHERE sel.self_kind = 'definition'
      ORDER BY neighbor_kind, neighbor_id, rel_type, dir
      LIMIT 100""") { (s, d) =>
      lib(s, d).nodeNeighbors("definition", 50000013L) }

    // ---- Q15 get_definition at position (mcp get_definition/repository.rs:49-126)
    q("q15_definition_at", P +
      """, f0 AS (SELECT primary_file_path AS p FROM g_defs WHERE id = 0),
      srcdefs AS (SELECT id FROM g_defs WHERE primary_file_path = (SELECT p FROM f0)),
      ce AS (SELECT * FROM g_edges
        WHERE kind IN ('DEF_TO_DEF','DEF_TO_IMP') AND type IN ('CALLS','AMBIGUOUSLY_CALLS')
          AND source_start_line = 3 AND source_start_col <= 25 AND source_end_col >= 25),
      hits AS (SELECT ce.* FROM ce JOIN srcdefs ON ce.source_id = srcdefs.id)
      SELECT DISTINCT * FROM (
        SELECT 'definition' AS target_kind, d.id AS target_id, d.fqn AS target_label,
               d.primary_file_path AS target_file
        FROM hits h JOIN g_defs d ON h.target_id = d.id WHERE h.kind = 'DEF_TO_DEF'
        UNION ALL
        SELECT 'imported_symbol', i.id, i.name, i.file_path
        FROM hits h JOIN g_imps i ON h.target_id = i.id WHERE h.kind = 'DEF_TO_IMP'
      ) u
      ORDER BY target_kind, target_id
      LIMIT 100""") { (s, d) =>
      lib(s, d).definitionAt(defFileOf(s, d, 0), 3, 25) }

    // ---- Q16 search + file-content context hydration
    //      (mcp search_codebase_definitions.rs:167-304). Contents come from
    //      TpchGraphAdapter.syntheticContents; the oracle reconstructs each
    //      context window line-by-line with generate_series instead of
    //      building + splitting the whole file.
    q("q16_search_context", P + s""", g_ctx AS (
        SELECT d.id AS def_id, d.name, d.fqn, d.definition_type,
          d.primary_file_path, d.start_line,
          CAST(greatest(d.start_line - 3, 0) AS INT) AS ctx_start,
          cf.c_name, cf.c_mktsegment
        FROM g_defs d JOIN g_custfile cf ON d.primary_file_path = cf.fpath
        WHERE contains(lower(d.name), 'order_10') OR contains(lower(d.name), 'order_99'))
      SELECT def_id, name, fqn, definition_type, primary_file_path, start_line,
        ctx_start,
        list_aggregate(list_transform(generate_series(ctx_start + 1, ctx_start + 7),
          j -> '## ' || c_name || ' line ' || j || ' seg=' || lower(c_mktsegment)),
          'string_agg', chr(10)) AS context
      FROM g_ctx
      ORDER BY name NULLS FIRST, def_id
      LIMIT 50""") { (s, d) =>
      lib(s, d).searchDefinitionsWithContext(
        graft.tpch.TpchGraphAdapter.syntheticContents(s, d),
        Seq("order_10", "order_99"), limit = 50)
    }

    // ---- Q17 delete_by + DETACH DELETE (query_builder.rs:95-112; SURVEY M2)
    val q17ids: Seq[Any] = ((1L to 30L) ++ (50000001L to 50000003L)).toSeq
    q("q17_detach_delete", P +
      """, doomed AS (SELECT id AS xid FROM g_defs
        WHERE id BETWEEN 1 AND 30 OR id BETWEEN 50000001 AND 50000003),
      kept_defs AS (SELECT * FROM g_defs WHERE id NOT IN (SELECT xid FROM doomed)),
      kept_edges AS (SELECT * FROM g_edges
        WHERE NOT (kind IN ('DEF_TO_DEF','DEF_TO_IMP') AND source_id IN (SELECT xid FROM doomed))
          AND NOT (kind IN ('FILE_TO_DEF','DEF_TO_DEF','IMP_TO_DEF') AND target_id IN (SELECT xid FROM doomed)))
      SELECT * FROM (
        SELECT 'definitions' AS entity, count(*) AS n FROM kept_defs
        UNION ALL SELECT kind, count(*) FROM kept_edges GROUP BY kind
      ) u ORDER BY entity""") { (s, d) =>
      val st2 = lib(s, d).detachDeleteDefinitions("id", q17ids)
      st2.definitions.agg(count(lit(1)).as("n"))
        .select(lit("definitions").as("entity"), col("n"))
        .unionByName(st2.edges.groupBy(col("kind").as("entity"))
          .agg(count(lit(1)).as("n")))
        .orderBy("entity")
    }

    // ---- Q18 get_by point/batch lookup (query_builder.rs:114-131)
    val q18ids: Seq[Any] = ((1L to 10L) :+ 50000001L).toSeq
    q("q18_get_by", P +
      s"""SELECT id AS def_id, fqn, definition_type FROM g_defs
      WHERE id IN (${q18ids.mkString(",")})
      ORDER BY def_id""") { (s, d) =>
      lib(s, d).getBy(storeFor(s, d).definitions, "id", q18ids)
        .select(col("id").as("def_id"), col("fqn"), col("definition_type"))
        .orderBy("def_id")
    }

    // ---- M2 incremental delete of changed files (mutation/changes.rs:53-148)
    q("m2_delete_changed_files", P +
      """, doomed AS (SELECT id AS xid, path FROM g_files WHERE id <= 20),
      kept_files AS (SELECT * FROM g_files WHERE id NOT IN (SELECT xid FROM doomed)),
      kept_edges AS (SELECT * FROM g_edges
        WHERE NOT (kind IN ('FILE_TO_DEF','FILE_TO_IMP') AND source_id IN (SELECT xid FROM doomed))
          AND NOT (kind IN ('DIR_TO_FILE','IMP_TO_FILE') AND target_id IN (SELECT xid FROM doomed)))
      SELECT * FROM (
        SELECT 'files' AS entity, count(*) AS n FROM kept_files
        UNION ALL SELECT kind, count(*) FROM kept_edges GROUP BY kind
      ) u ORDER BY entity""") { (s, d) =>
      val st = storeFor(s, d)
      val changed = st.files.where(col("id") <= 20)
        .select(col("path").as("changed_path"))
      val st2 = graft.stream.IncrementalIndexer.applyFileDeletes(st, changed)
      st2.files.agg(count(lit(1)).as("n"))
        .select(lit("files").as("entity"), col("n"))
        .unionByName(st2.edges.groupBy(col("kind").as("entity"))
          .agg(count(lit(1)).as("n")))
        .orderBy("entity")
    }

    // ---- T1 debounce-window analog: tumbling event-time window over events
    q("t1_event_window", """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY win_start, event_type""") { (s, d) =>
      readEvents(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("win_start", "event_type")
    }

    // ---- JSON scalar extraction over events.props
    q("j1_json_extract", """SELECT event_id, event_type,
        CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events WHERE event_type = 'purchase'
      ORDER BY event_id""") { (s, d) =>
      readEvents(s, d)
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")
    }

    // ---- pricing summary (TPC-H Q1 shape): wide aggregate, map-side combine
    q("agg_pricing_summary", """SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity), 2) AS sum_qty,
        round(sum(l_extendedprice), 2) AS sum_base,
        round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc,
        count(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""") { (s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }

    // ---- multi-way join + agg (TPC-H Q5 shape): broadcast dims, shuffle facts
    q("join_revenue_by_nation", """SELECT n_name,
        round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n_name ORDER BY n_name""") { (s, d) =>
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val o = s.read.parquet(s"$d/orders.parquet")
        .where(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      val c = s.read.parquet(s"$d/customer.parquet")
      val su = s.read.parquet(s"$d/supplier.parquet")
      val n = s.read.parquet(s"$d/nation.parquet")
      val r = s.read.parquet(s"$d/region.parquet").where(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
        .orderBy("n_name")
    }

    // ---- product-profit rollup (TPC-H Q9 shape, partsupp-less: retail
    //      price stands in for supply cost): 5-way join with the dims
    //      broadcast, profit aggregated by supplier nation and order year.
    //      Exercises numeric predicate pushdown (p_size), a fact-fact
    //      shuffle join (lineitem x orders) and three broadcast dims.
    q("join_profit_by_nation_year", """SELECT n_name,
        CAST(year(o_orderdate) AS INT) AS o_year,
        round(sum(l_extendedprice * (1 - l_discount)
          - 0.1 * p_retailprice * l_quantity), 4) AS profit
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      WHERE p_size < 25
      GROUP BY 1, 2 ORDER BY n_name, o_year""") { (s, d) =>
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val p = s.read.parquet(s"$d/part.parquet").where(col("p_size") < 25)
      val su = s.read.parquet(s"$d/supplier.parquet")
      val n = s.read.parquet(s"$d/nation.parquet")
      val o = s.read.parquet(s"$d/orders.parquet")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          - lit(0.1) * col("p_retailprice") * col("l_quantity")), 4).as("profit"))
        .orderBy("n_name", "o_year")
    }

    // ---- pivot / conditional aggregation: orders per nation spread across
    //      status columns (Spark's pivot with explicit values = codegen'd
    //      conditional aggs, one shuffle; the oracle writes the same CASE
    //      WHEN aggregation — no engine-specific PIVOT syntax dependence)
    q("agg_pivot_status", """SELECT n_name,
        CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS open_cnt,
        CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS filled_cnt,
        CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS partial_cnt,
        round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 4) AS filled_total
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""") { (s, d) =>
      val o = s.read.parquet(s"$d/orders.parquet")
      val c = s.read.parquet(s"$d/customer.parquet")
      val n = s.read.parquet(s"$d/nation.parquet")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          count(when(col("o_orderstatus") === "O", 1)).as("open_cnt"),
          count(when(col("o_orderstatus") === "F", 1)).as("filled_cnt"),
          count(when(col("o_orderstatus") === "P", 1)).as("partial_cnt"),
          round(sum(when(col("o_orderstatus") === "F", col("o_totalprice"))
            .otherwise(lit(0))), 4).as("filled_total"))
        .orderBy("n_name")
    }

    // ---- top-k by aggregate (TPC-H Q3 shape)
    q("topk_order_revenue", """SELECT l_orderkey,
        round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      FROM lineitem GROUP BY l_orderkey
      ORDER BY revenue DESC, l_orderkey LIMIT 10""") { (s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }

    // ---- window functions: per-supplier running quantity
    q("window_running_qty", """SELECT l_suppkey, l_orderkey, l_linenumber,
        sum(l_quantity) OVER (PARTITION BY l_suppkey
          ORDER BY l_shipdate, l_orderkey, l_linenumber
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
      FROM lineitem WHERE l_suppkey < 5
      ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s.read.parquet(s"$d/lineitem.parquet")
        .where(col("l_suppkey") < 5)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"), sum(col("l_quantity")).over(w).as("running_qty"))
        .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .drop("l_shipdate")
    }

    // ---- as-of join (custom operator via union+window composition;
    //      oracle = DuckDB's native ASOF JOIN)
    q("asof_purchase_signup", """SELECT p.event_id, p.user_id,
        s.event_id AS signup_event_id
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        ON p.user_id = s.user_id AND p.ts >= s.ts
      ORDER BY p.event_id""") { (s, d) =>
      val ev = readEvents(s, d)
      graft.operators.AsOfJoin.backward(
        left = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        right = ev.where(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("event_id").as("s_event_id")),
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightCols = Seq("s_event_id" -> "signup_event_id"))
        .select("event_id", "user_id", "signup_event_id")
        .orderBy("event_id")
    }

    // ---- time-range (interval) join: clicks within 30 min before each
    //      purchase (bucketed equi-join, never a nested loop)
    q("op_range_join", """SELECT p.event_id, count(*) AS n_clicks,
        max(c.event_id) AS last_click_id
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
        AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
      GROUP BY p.event_id ORDER BY p.event_id""") { (s, d) =>
      val ev = readEvents(s, d)
      graft.operators.RangeJoin.backwardWindow(
        left = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        right = ev.where(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("event_id").as("click_id")),
        leftKey = "user_id", rightKey = "c_user",
        leftTs = "ts", rightTs = "c_ts",
        windowMicros = 1800000000L)
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_clicks"), max(col("click_id")).as("last_click_id"))
        .orderBy("event_id")
    }

    // ---- table profiling (ANALYZE TABLE face): per-column null/distinct/
    //      min/max census in ONE scan (all aggregates in a single agg →
    //      one Expand with map-side partials; the wide row unpivots via
    //      stack). Doubles are excluded from the GATE because min/max cast
    //      to string and float formatting is engine-specific; the operator
    //      itself profiles any type.
    q("op_profile", {
      val cols = Seq("l_linenumber", "l_linestatus", "l_orderkey",
        "l_partkey", "l_returnflag", "l_shipdate")
      cols.map(c =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
          CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
          CAST(min($c) AS VARCHAR) AS min_val,
          CAST(max($c) AS VARCHAR) AS max_val FROM lineitem""")
        .mkString("", " UNION ALL ", """ ORDER BY "column"""")
    }) { (s, d) =>
      graft.operators.Profile.table(s.read.parquet(s"$d/lineitem.parquet"),
        Seq("l_linenumber", "l_linestatus", "l_orderkey", "l_partkey",
          "l_returnflag", "l_shipdate"))
    }

    // ---- declarative data-quality expectations (constraint validation —
    //      the pre-admission audit): named predicates over lineitem, one
    //      aggregation pass, NULL predicate = violation; the oracle counts
    //      the identical violations per rule. One rule (tax_low) is
    //      DESIGNED to fail so the pass=false path is exercised.
    q("op_expectations", """SELECT r AS rule,
        CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows,
        CAST(v AS BIGINT) AS n_violations, v = 0 AS pass
      FROM (
        SELECT 'orderkey_nonnull' AS r,
          (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS v
        UNION ALL SELECT 'qty_range',
          (SELECT count(*) FROM lineitem
           WHERE NOT (l_quantity >= 1 AND l_quantity <= 50)
              OR l_quantity IS NULL)
        UNION ALL SELECT 'flag_domain',
          (SELECT count(*) FROM lineitem
           WHERE l_returnflag NOT IN ('A', 'N', 'R') OR l_returnflag IS NULL)
        UNION ALL SELECT 'tax_low',
          (SELECT count(*) FROM lineitem
           WHERE NOT (l_tax < 0.01) OR l_tax IS NULL)
      ) ORDER BY rule""") { (s, d) =>
      val li = s.read.parquet(s"$d/lineitem.parquet")
      graft.operators.Profile.expect(li, Seq(
        "orderkey_nonnull" -> col("l_orderkey").isNotNull,
        "qty_range" -> (col("l_quantity") >= 1 && col("l_quantity") <= 50),
        "flag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "tax_low" -> (col("l_tax") < 0.01)))
    }

    // ---- z-order (Morton) clustering key: engine-replayable bit
    //      interleave of two join/filter columns — the multi-dimensional
    //      layout key (Delta/Iceberg OPTIMIZE ZORDER) whose range
    //      partitions give min/max boxes prunable on EITHER column; the
    //      oracle replays the identical shift/mask arithmetic
    q("op_zorder", {
      val zsql = graft.operators.ZOrder.zvalueSql(
        Seq("l_partkey", "l_suppkey"), bits = 16)
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        CAST($zsql AS BIGINT) AS zval
      FROM lineitem ORDER BY zval, l_orderkey, l_linenumber LIMIT 100"""
    }) { (s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          graft.operators.ZOrder.zvalue(
            Seq(col("l_partkey"), col("l_suppkey")), bits = 16).as("zval"))
        .orderBy("zval", "l_orderkey", "l_linenumber").limit(100)
    }

    // ---- skew-salted join: same rows as a plain inner join, partitioned by
    //      (key, salt) — oracle is the unsalted relational answer
    q("join_salted_skew", """SELECT o_orderpriority,
        round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        count(*) AS n
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, d) =>
      graft.operators.SaltedJoin.innerSalted(
        left = s.read.parquet(s"$d/lineitem.parquet"),
        right = s.read.parquet(s"$d/orders.parquet")
          .select("o_orderkey", "o_orderpriority"),
        leftKey = "l_orderkey", rightKey = "o_orderkey",
        saltBuckets = 8, saltOn = col("l_linenumber"))
        .groupBy("o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }

    // ---- per-user EWMA of event values (signal smoothing / activity
    //      scoring): one user-keyed shuffle, per-user sorted left-to-right
    //      fold — the recurrence is sequential per key, the key is the
    //      parallelism unit. Identical IEEE fold both engines (DuckDB
    //      list_reduce seeds from the first element, as does the Spark
    //      aggregate over the tail with evs[0] as init).
    q("evt_ewma", """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        round(list_reduce(list(value ORDER BY ts, event_id),
          (acc, x) -> 0.3 * x + 0.7 * acc), 4) AS ewma
      FROM events GROUP BY user_id ORDER BY user_id""") { (s, d) =>
      TimeSeries.ewmaByKey(readEvents(s, d), "user_id",
        Seq("ts", "event_id"), "value", alpha = 0.3).orderBy("user_id")
    }

    // ---- robust per-user anomaly flags: modified z-score on median/MAD
    //      (Iglewicz-Hoaglin), |z| > 3.5; EXACT percentiles both engines
    //      (Spark `percentile` / DuckDB `quantile_cont`, same linear
    //      interpolation), constant series (MAD 0) flag nothing.
    q("evt_anomalies", """WITH amed AS (
        SELECT user_id AS k, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1),
      amad AS (SELECT e.user_id AS k,
          quantile_cont(abs(e.value - m.med), 0.5) AS mad
        FROM events e JOIN amed m ON m.k = e.user_id GROUP BY 1)
      SELECT e.user_id, e.event_id, e.value,
        round(m.med, 4) AS med, round(d.mad, 4) AS mad,
        round(0.6745 * (e.value - m.med) / d.mad, 4) AS z
      FROM events e JOIN amed m ON m.k = e.user_id
        JOIN amad d ON d.k = e.user_id
      WHERE d.mad > 0
        AND abs(round(0.6745 * (e.value - m.med) / d.mad, 4)) > 3.5
      ORDER BY user_id, event_id""") { (s, d) =>
      TimeSeries.anomalies(readEvents(s, d), "user_id", "event_id", "value",
        k = 3.5).orderBy("user_id", "event_id")
    }

    // ---- resample each user's series onto a daily grid with LOCF gap
    //      fill — the regularization every window/forecast model assumes.
    //      Dense grid spans each key's OWN active range (per-key sequence
    //      explode, no global calendar cross join); the fill is a
    //      key-partitioned window. The bucket average is rounded BEFORE
    //      the fill so both engines carry identical doubles forward.
    q("evt_resample", """WITH ragg AS (
        SELECT user_id AS k, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
          CAST(count(*) AS BIGINT) AS n, round(avg(value), 4) AS v
        FROM events GROUP BY 1, 2),
      rdense AS (SELECT k, unnest(generate_series(b0, b1)) AS bucket
        FROM (SELECT k, min(bucket) AS b0, max(bucket) AS b1 FROM ragg
              GROUP BY 1))
      SELECT d.k AS user_id, CAST(d.bucket * 86400 AS BIGINT) AS bucket_start,
        CAST(coalesce(a.n, 0) AS BIGINT) AS n_events,
        last_value(a.v IGNORE NULLS) OVER (PARTITION BY d.k ORDER BY d.bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
        a.v IS NULL AS gap_filled
      FROM rdense d LEFT JOIN ragg a ON a.k = d.k AND a.bucket = d.bucket
      ORDER BY user_id, bucket_start""") { (s, d) =>
      TimeSeries.resample(readEvents(s, d), "user_id", "ts", "value",
        bucketSeconds = 86400L).orderBy("user_id", "bucket_start")
    }

    // ---- additive seasonal decomposition on the resampled daily grid:
    //      trend = centered 7-bucket moving average (full windows only),
    //      seasonal = re-centered per-(user, weekday-phase) mean of the
    //      detrended series, resid = the rest. Every mean is rounded to 4
    //      in EXACT 1e-4 fixed-point integer arithmetic (sign·floor((2|p|
    //      +q)/(2q)) = half-away), because float means near a .00005 tie
    //      round differently across engines
    q("evt_seasonal", """WITH ragg AS (
        SELECT user_id AS k, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
          round(avg(value), 4) AS v
        FROM events GROUP BY 1, 2),
      rdense AS (SELECT k, unnest(generate_series(b0, b1)) AS bucket
        FROM (SELECT k, min(bucket) AS b0, max(bucket) AS b1 FROM ragg
              GROUP BY 1)),
      rs AS (SELECT d.k, d.bucket,
          last_value(a.v IGNORE NULLS) OVER (PARTITION BY d.k ORDER BY d.bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
        FROM rdense d LEFT JOIN ragg a ON a.k = d.k AND a.bucket = d.bucket),
      sd AS (SELECT k, bucket, v, CAST(round(v * 10000, 0) AS BIGINT) AS sv,
          count(*) OVER w AS cnt,
          sum(CAST(round(v * 10000, 0) AS BIGINT)) OVER w AS s7,
          bucket % 7 AS ph
        FROM rs
        WINDOW w AS (PARTITION BY k ORDER BY bucket
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      sdf AS (SELECT k, bucket, v, ph, sv,
          CAST(sign(s7) AS BIGINT)
            * CAST(floor((2 * abs(s7) + cnt) / (2.0 * cnt)) AS BIGINT) AS ts
        FROM sd WHERE cnt = 7),
      sdd AS (SELECT k, bucket, v, ph, ts, sv - ts AS ds FROM sdf),
      phm AS (SELECT k, ph, CAST(sign(sum(ds)) AS BIGINT)
          * CAST(floor((2 * abs(sum(ds)) + count(*)) / (2.0 * count(*)))
            AS BIGINT) AS sraw
        FROM sdd GROUP BY 1, 2),
      ctr AS (SELECT k, CAST(sign(sum(sraw)) AS BIGINT)
          * CAST(floor((2 * abs(sum(sraw)) + count(*)) / (2.0 * count(*)))
            AS BIGINT) AS s0
        FROM phm GROUP BY 1)
      SELECT f.k AS user_id, CAST(f.bucket * 86400 AS BIGINT) AS bucket_start,
        f.v, f.ts / 10000.0 AS trend, (p.sraw - c.s0) / 10000.0 AS seasonal,
        (f.ds - (p.sraw - c.s0)) / 10000.0 AS resid
      FROM sdd f JOIN phm p ON f.k = p.k AND f.ph = p.ph
        JOIN ctr c ON f.k = c.k
      ORDER BY user_id, bucket_start""") { (s, d) =>
      TimeSeries.seasonalDecompose(readEvents(s, d), "user_id", "ts",
        "value", bucketSeconds = 86400L, period = 7)
        .orderBy("user_id", "bucket_start")
    }

    // ---- persisted mergeable HLL sketch store (distinct-cardinality
    //      tracking at admission time): per-group DataSketches sketches on
    //      disk; a day's batch merges against the nGroups-row table, never
    //      recounting history. The gate runs BOTH faces — one-shot build
    //      and split-build-plus-append — and asserts in-query that (a) the
    //      estimates sit inside the 3·rsd design bound of exact and (b)
    //      the incremental store's estimates EQUAL the one-shot's (HLL
    //      registers are per-item maxima — insertion-order-free). The
    //      oracle replays the exact census and the expected booleans.
    q("sk_hll_store", """SELECT CAST(event_type AS VARCHAR) AS event_type,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        true AS est_ok, true AS inc_ok
      FROM events GROUP BY 1 ORDER BY event_type""") { (s, d) =>
      val ev = readEvents(s, d).select("event_type", "user_id")
      val base = SparkEntry.gateDir("sketch", d)
      val full = graft.store.SketchStore.build(s, s"$base/full", ev,
        "event_type", "user_id")
      val inc = graft.store.SketchStore.build(s, s"$base/inc",
        ev.where(col("user_id") % 2 === 0), "event_type", "user_id")
      inc.append(ev.where(col("user_id") % 2 =!= 0))
      val exact = ev.groupBy(col("event_type").cast("string").as("group"))
        .agg(countDistinct("user_id").as("n_exact"))
      exact
        .join(full.estimates, "group")
        .join(inc.estimates.withColumnRenamed("n_distinct_est", "inc_est"),
          "group")
        .select(col("group").as("event_type"), col("n_exact"),
          (abs(col("n_distinct_est") - col("n_exact")) <=
            col("n_exact") * 0.05).as("est_ok"),
          (col("n_distinct_est") === col("inc_est")).as("inc_ok"))
        .orderBy("event_type")
    }

    // ---- ordered conversion funnel (view -> click -> purchase): per-user
    //      stage reached, each step gated at-or-after the previous step's
    //      earliest completion; `steps` entity-keyed shuffles over
    //      shrinking stage tables, no full-history window
    q("evt_funnel", """WITH fv AS (SELECT user_id, min(ts) AS t1
        FROM events WHERE event_type = 'view' GROUP BY 1),
      fc AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        JOIN fv ON e.user_id = fv.user_id AND e.ts >= fv.t1
        WHERE e.event_type = 'click' GROUP BY 1),
      fp AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        JOIN fc ON e.user_id = fc.user_id AND e.ts >= fc.t2
        WHERE e.event_type = 'purchase' GROUP BY 1)
      SELECT u.user_id,
        CAST((CASE WHEN fv.user_id IS NULL THEN 0 ELSE 1 END)
           + (CASE WHEN fc.user_id IS NULL THEN 0 ELSE 1 END)
           + (CASE WHEN fp.user_id IS NULL THEN 0 ELSE 1 END) AS INT) AS stage
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN fv ON u.user_id = fv.user_id
      LEFT JOIN fc ON u.user_id = fc.user_id
      LEFT JOIN fp ON u.user_id = fp.user_id
      ORDER BY u.user_id""") { (s, d) =>
      TimeSeries.funnelStages(readEvents(s, d), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase")).orderBy("user_id")
    }

    // ---- cohort retention matrix: first-activity-week cohorts x return
    //      offsets, integer week arithmetic end to end
    q("evt_retention", """WITH act AS (
        SELECT DISTINCT user_id,
          CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week FROM events),
      coh AS (SELECT user_id, min(week) AS cohort_week FROM act GROUP BY 1)
      SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
        CAST(count(*) AS BIGINT) AS n_active
      FROM act a JOIN coh c ON a.user_id = c.user_id
      GROUP BY 1, 2 ORDER BY cohort_week, week_offset""") { (s, d) =>
      TimeSeries.cohortRetention(readEvents(s, d), "user_id", "ts")
        .orderBy("cohort_week", "week_offset")
    }

    // ---- forward as-of join: first click at-or-after each purchase
    q("asof_next_click", """SELECT event_id, user_id, click_id FROM (
        SELECT p.event_id, p.user_id, c.event_id AS click_id,
          row_number() OVER (PARTITION BY p.event_id
            ORDER BY c.ts, c.event_id) AS rk
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND c.ts >= p.ts
      ) t WHERE rk = 1 ORDER BY event_id""") { (s, d) =>
      val ev = readEvents(s, d)
      graft.operators.AsOfJoin.forward(
        left = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        right = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("c_event_id")),
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightCols = Seq("c_event_id" -> "click_id"))
        .select("event_id", "user_id", "click_id")
        .orderBy("event_id")
    }

    // ---- sessionization (gap > 30 min starts a new session)
    q("t2_sessionize", """WITH e AS (
        SELECT user_id, ts, event_id, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
               THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), s AS (
        SELECT user_id, ts, event_id, value,
          sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM e
      )
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM s GROUP BY user_id, session_id
      ORDER BY user_id, session_id""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      readEvents(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_s")).over(wCum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("user_id", "session_id")
    }

    // ---- rollup (grouping-set family; beyond the reference's surface)
    q("agg_rollup", """SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""") { (s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }

    // ---- cube (full grouping-set lattice; rollup's sibling)
    q("agg_cube", """SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""") { (s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .cube("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }

    // ---- time-based RANGE window frame: trailing-1h per-user value sum at
    //      each event (the sliding rate-feature shape)
    q("window_trailing_1h", """SELECT event_id, user_id,
        round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 2)
          AS trailing_1h
      FROM events WHERE user_id < 50
      ORDER BY event_id""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0)
      readEvents(s, d)
        .where(col("user_id") < 50)
        .select(col("event_id"), col("user_id"),
          round(sum(col("value")).over(w), 2).as("trailing_1h"))
        .orderBy("event_id")
    }

    // ---- ranking window: top-3 line items per supplier by price
    q("window_rank_topn", """SELECT * FROM (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
          CAST(dense_rank() OVER (PARTITION BY l_suppkey
            ORDER BY l_extendedprice DESC) AS INT) AS rnk
        FROM lineitem WHERE l_suppkey < 10) t
      WHERE rnk <= 3
      ORDER BY l_suppkey, rnk, l_orderkey, l_linenumber""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_extendedprice").desc)
      s.read.parquet(s"$d/lineitem.parquet")
        .where(col("l_suppkey") < 10)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), dense_rank().over(w).as("rnk"))
        .where(col("rnk") <= 3)
        .orderBy("l_suppkey", "rnk", "l_orderkey", "l_linenumber")
    }

    // ---- semi/anti joins (EXISTS / NOT EXISTS)
    q("join_anti_customers", """SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_totalprice > 400000)
      ORDER BY c_custkey""") { (s, d) =>
      s.read.parquet(s"$d/customer.parquet")
        .join(s.read.parquet(s"$d/orders.parquet")
            .where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }

    q("join_semi_parts", """SELECT p_partkey, p_name FROM part
      WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
                    AND l_quantity >= 49)
      ORDER BY p_partkey""") { (s, d) =>
      s.read.parquet(s"$d/part.parquet")
        .join(s.read.parquet(s"$d/lineitem.parquet").where(col("l_quantity") >= 49),
          col("p_partkey") === col("l_partkey"), "left_semi")
        .select("p_partkey", "p_name").orderBy("p_partkey")
    }

    // ---- set operations: INTERSECT / EXCEPT (beyond the reference's
    //      UNION-only surface)
    q("set_intersect_except", """WITH c96 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
      ), c97 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
      )
      SELECT 'both' AS bucket, o_custkey FROM (
        SELECT o_custkey FROM c96 INTERSECT SELECT o_custkey FROM c97) a
      UNION ALL
      SELECT 'only_96', o_custkey FROM (
        SELECT o_custkey FROM c96 EXCEPT SELECT o_custkey FROM c97) b
      ORDER BY bucket, o_custkey""") { (s, d) =>
      def yr(from: String, to: String) = s.read.parquet(s"$d/orders.parquet")
        .where(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(s"$from 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf(s"$to 00:00:00")))
        .select("o_custkey").distinct()
      val c96 = yr("1996-01-01", "1997-01-01")
      val c97 = yr("1997-01-01", "1998-01-01")
      c96.intersect(c97).select(lit("both").as("bucket"), col("o_custkey"))
        .unionByName(c96.except(c97)
          .select(lit("only_96").as("bucket"), col("o_custkey")))
        .orderBy("bucket", "o_custkey")
    }

    // ---- exact percentiles (interpolated median/p90 over integral values)
    q("agg_percentiles", """SELECT l_returnflag,
        round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"))
        .orderBy("l_returnflag")
    }

    // ---- HLL sketch, oracle-checked as an error bound: the sketch estimate
    // itself has no cross-engine twin, but |approx - exact| <= 15% of exact
    // (3x the requested rsd; HLL is deterministic for fixed input) is a
    // value-level claim DuckDB can assert as a constant-true column.
    q("agg_approx_distinct", """SELECT l_returnflag,
        count(DISTINCT l_partkey) AS exact_parts, true AS approx_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.05).as("approx_parts"))
        .withColumn("approx_ok",
          abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.15)
        .select("l_returnflag", "exact_parts", "approx_ok")
        .orderBy("l_returnflag")
    }

    // ---- exact distinct counts (Q22 family over raw fact table)
    q("distinct_counts", """SELECT l_returnflag,
        count(DISTINCT l_suppkey) AS n_supp,
        count(DISTINCT l_orderkey) AS n_orders
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("l_returnflag")
    }

    // ---- 2-hop motif pattern (generalizes the 1-hop library queries)
    q("q25_two_hop_motif", P +
      """SELECT DISTINCT e1.source_id AS a, e1.type AS t1, e1.target_id AS b,
        e2.type AS t2, e2.target_id AS c
      FROM g_edges e1
      JOIN g_edges e2 ON e1.target_id = e2.source_id
      WHERE e1.kind = 'DEF_TO_DEF' AND e1.type = 'CALLS'
        AND e2.kind = 'DEF_TO_DEF' AND e2.type = 'AMBIGUOUSLY_CALLS'
      ORDER BY a, b, c, t1, t2
      LIMIT 1000""") { (s, d) =>
      lib(s, d).twoHopMotif("DEF_TO_DEF", Seq("CALLS"),
        "DEF_TO_DEF", Seq("AMBIGUOUSLY_CALLS"))
    }

    // ---- GraphX bulk analytics, oracle-checked relationally: the (kind →
    // endpoint-tag) VALUES table mirrors GraphOps.tagOf / NodeTag
    val kmTagSql = """km2(kind, stag, dtag) AS (VALUES
      ('DIR_TO_DIR', 1, 1), ('DIR_TO_FILE', 1, 2),
      ('FILE_TO_DEF', 2, 3), ('FILE_TO_IMP', 2, 4),
      ('DEF_TO_DEF', 3, 3), ('DEF_TO_IMP', 3, 4),
      ('IMP_TO_IMP', 4, 4), ('IMP_TO_DEF', 4, 3), ('IMP_TO_FILE', 4, 2))"""

    // DuckDB twin of graft.functions.TextFunctions.charFold (polynomial
    // 31-fold mod 1e9+7) — the cross-engine deterministic randomness source
    // shared by the sampling gates and the DOULION edge-sampling coin
    def sqlCharFold(s: String, mult: Int = 31) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, length($s)), i -> CAST(unicode($s[i]) AS BIGINT))), (acc, c) -> (acc * $mult + c) % 1000000007)"""

    // staticPageRank(5, 0.15) unrolled: rank_0 = 1.0; rank_{k+1}(v) =
    // 0.15 + 0.85 * Σ_{(u,v)∈E} rank_k(u)/outdeg(u). Ranks rounded to 6
    // decimals on BOTH sides before the ORDER BY so float summation-order
    // noise cannot flip the top-20 membership or order.
    val prIterSql = (1 to 5).map { k =>
      s"""pr$k AS (SELECT v.vid, 0.15 + 0.85 * COALESCE(m.s, 0) AS rank
         FROM pv v LEFT JOIN (
           SELECT pw.dst, sum(r.rank * pw.w) AS s
           FROM pw JOIN pr${k - 1} r ON pw.src = r.vid GROUP BY pw.dst
         ) m ON v.vid = m.dst)"""
    }.mkString(",\n      ")
    q("g_pagerank_top", P +
      s""", $kmTagSql,
      pv AS (
        SELECT CAST(1 AS BIGINT) * 4294967296 + id AS vid FROM g_dirs
        UNION ALL SELECT CAST(2 AS BIGINT) * 4294967296 + id FROM g_files
        UNION ALL SELECT CAST(3 AS BIGINT) * 4294967296 + id FROM g_defs
        UNION ALL SELECT CAST(4 AS BIGINT) * 4294967296 + id FROM g_imps
      ),
      pe AS (SELECT CAST(km2.stag AS BIGINT) * 4294967296 + e.source_id AS src,
                    CAST(km2.dtag AS BIGINT) * 4294967296 + e.target_id AS dst
             FROM g_edges e JOIN km2 ON e.kind = km2.kind),
      od AS (SELECT src, count(*) AS odeg FROM pe GROUP BY src),
      pw AS (SELECT pe.src, pe.dst, 1.0 / od.odeg AS w
             FROM pe JOIN od ON pe.src = od.src),
      pr0 AS (SELECT vid, 1.0 AS rank FROM pv),
      $prIterSql
      SELECT CAST(vid // 4294967296 AS BIGINT) AS tag,
             CAST(vid % 4294967296 AS BIGINT) AS id,
             round(rank, 6) AS rank
      FROM pr5 ORDER BY rank DESC, tag, id LIMIT 20""") { (s, d) =>
      graft.graph.GraphOps.pageRankDf(graphFor(s, d), s, iters = 5)
        .select(col("tag"), col("id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("tag"), col("id"))
        .limit(20)
    }

    // ---- personalized PageRank from def vertex 42 (the g_khop_from
    //      anchor) — relatedness relative to ONE definition. Standard
    //      point-reset power iteration, 5 rounds, ranks rounded to 6.
    val pprIterSql = (1 to 5).map { i =>
      s"""ppr$i AS MATERIALIZED (SELECT pv.vid,
            (CASE WHEN pv.vid = 12884901930 THEN 0.15 ELSE 0.0 END) +
              0.85 * coalesce(m.s, 0) AS rank
          FROM pv LEFT JOIN (
            SELECT pw.dst AS vid, sum(pr.rank * pw.w) AS s
            FROM pw JOIN ppr${i - 1} pr ON pr.vid = pw.src GROUP BY 1) m
          ON m.vid = pv.vid)"""
    }.mkString(",\n      ")
    q("g_ppr_top", P +
      s""", $kmTagSql,
      pv AS (
        SELECT CAST(1 AS BIGINT) * 4294967296 + id AS vid FROM g_dirs
        UNION ALL SELECT CAST(2 AS BIGINT) * 4294967296 + id FROM g_files
        UNION ALL SELECT CAST(3 AS BIGINT) * 4294967296 + id FROM g_defs
        UNION ALL SELECT CAST(4 AS BIGINT) * 4294967296 + id FROM g_imps
      ),
      pe AS (SELECT CAST(km2.stag AS BIGINT) * 4294967296 + e.source_id AS src,
                    CAST(km2.dtag AS BIGINT) * 4294967296 + e.target_id AS dst
             FROM g_edges e JOIN km2 ON e.kind = km2.kind),
      od AS (SELECT src, count(*) AS odeg FROM pe GROUP BY src),
      pw AS (SELECT pe.src, pe.dst, 1.0 / od.odeg AS w
             FROM pe JOIN od ON pe.src = od.src),
      ppr0 AS (SELECT vid,
        CASE WHEN vid = 12884901930 THEN 1.0 ELSE 0.0 END AS rank FROM pv),
      $pprIterSql
      SELECT CAST(vid // 4294967296 AS BIGINT) AS tag,
             CAST(vid % 4294967296 AS BIGINT) AS id,
             round(rank, 6) AS rank
      FROM ppr5 ORDER BY rank DESC, tag, id LIMIT 20""") { (s, d) =>
      graft.graph.GraphOps.personalizedPageRankTop(graphFor(s, d), s,
        src = (3L << 32) + 42L, iters = 5, topK = 20)
        .orderBy(col("rank").desc, col("tag"), col("id"))
    }

    // ---- HITS hubs/authorities, 5 max-normalized rounds — the mutual-
    //      reinforcement ranking PageRank's single score can't express.
    //      Oracle unrolls each half-step as a MATERIALIZED sum + 1-row max
    //      division; scores round to 6 before the rank, vid tie-break.
    // deferred normalization (each half-step is linear, so the per-round
    // max divisions are one scalar at the end — matches the lazy GraphX
    // chain's arithmetic exactly)
    val hitsIterSql = (1 to 5).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT pe.dst AS vid, sum(s.hub) AS a
            FROM pe JOIN hs${i - 1} s ON s.vid = pe.src GROUP BY 1),
      hr$i AS MATERIALIZED (SELECT pe.src AS vid, sum(ar.a) AS h
            FROM pe JOIN ar$i ar ON ar.vid = pe.dst GROUP BY 1),
      hs$i AS MATERIALIZED (SELECT hv.vid, coalesce(ar.a, 0) AS auth,
            coalesce(hr.h, 0) AS hub
          FROM hv LEFT JOIN ar$i ar ON ar.vid = hv.vid
          LEFT JOIN hr$i hr ON hr.vid = hv.vid)"""
    }.mkString(",\n      ")
    q("g_hits_top", P +
      s""", $kmTagSql,
      pe AS MATERIALIZED (
        SELECT CAST(km2.stag AS BIGINT) * 4294967296 + e.source_id AS src,
               CAST(km2.dtag AS BIGINT) * 4294967296 + e.target_id AS dst
        FROM g_edges e JOIN km2 ON e.kind = km2.kind),
      hv AS MATERIALIZED (SELECT DISTINCT vid FROM (
        SELECT src AS vid FROM pe UNION ALL SELECT dst FROM pe)),
      hs0 AS MATERIALIZED (SELECT vid, 1.0 AS auth, 1.0 AS hub FROM hv),
      $hitsIterSql,
      fin AS (SELECT vid,
              round(auth / (SELECT max(auth) FROM hs5), 6) AS auth,
              round(hub / (SELECT max(hub) FROM hs5), 6) AS hub
              FROM hs5)
      SELECT CAST(vid // 4294967296 AS BIGINT) AS tag,
             CAST(vid % 4294967296 AS BIGINT) AS id, auth, hub,
             CAST(row_number() OVER (
               ORDER BY auth DESC, hub DESC, vid) AS INT) AS rank
      FROM fin ORDER BY rank LIMIT 20""") { (s, d) =>
      graft.graph.GraphOps.hitsTopOf(graphFor(s, d), s, iters = 5, topK = 20)
        .orderBy("rank")
    }

    // Pregel k-hop reachability over the full typed graph (directed, all
    // edge kinds), oracle = recursive CTE over (tag<<32 | id)-packed ids
    q("g_khop_from", P.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", $kmTagSql,
      pe AS (SELECT CAST(km2.stag AS BIGINT) * 4294967296 + e.source_id AS src,
                    CAST(km2.dtag AS BIGINT) * 4294967296 + e.target_id AS dst
             FROM g_edges e JOIN km2 ON e.kind = km2.kind),
      reach(vid, hops) AS (
        SELECT CAST(3 AS BIGINT) * 4294967296 + 42, 0
        UNION ALL
        SELECT pe.dst, r.hops + 1 FROM reach r
        JOIN pe ON pe.src = r.vid WHERE r.hops < 3
      ),
      m AS (SELECT vid, min(hops) AS hops FROM reach GROUP BY vid)
      SELECT CAST(vid // 4294967296 AS BIGINT) AS tag,
             CAST(vid % 4294967296 AS BIGINT) AS id, CAST(hops AS INT) AS hops
      FROM m ORDER BY hops, tag, id""") { (s, d) =>
      graft.graph.GraphOps.kHopDf(graphFor(s, d), s,
        start = (3L << 32) + 42L, maxHops = 3)
        .orderBy("hops", "tag", "id")
    }

    // reverse k-hop (impact analysis: what can reach def 13's vertex in <=3
    // hops), via Graph.reverse + Pregel; oracle walks the edges backwards
    q("g_khop_to", P.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", $kmTagSql,
      pe AS (SELECT CAST(km2.stag AS BIGINT) * 4294967296 + e.source_id AS src,
                    CAST(km2.dtag AS BIGINT) * 4294967296 + e.target_id AS dst
             FROM g_edges e JOIN km2 ON e.kind = km2.kind),
      reach(vid, hops) AS (
        SELECT CAST(3 AS BIGINT) * 4294967296 + 50000013, 0
        UNION ALL
        SELECT pe.src, r.hops + 1 FROM reach r
        JOIN pe ON pe.dst = r.vid WHERE r.hops < 3
      ),
      m AS (SELECT vid, min(hops) AS hops FROM reach GROUP BY vid)
      SELECT CAST(vid // 4294967296 AS BIGINT) AS tag,
             CAST(vid % 4294967296 AS BIGINT) AS id, CAST(hops AS INT) AS hops
      FROM m ORDER BY hops, tag, id""") { (s, d) =>
      graft.graph.GraphOps.kHopToDf(graphFor(s, d), s,
        target = (3L << 32) + 50000013L, maxHops = 3)
        .orderBy("hops", "tag", "id")
    }

    // degree distribution per node kind (GraphX degrees == per-endpoint
    // incidence counts of the edge table)
    q("g_degree_by_kind", P +
      s""", $kmTagSql,
      inc AS (
        SELECT km2.stag AS tag, e.source_id AS vid
        FROM g_edges e JOIN km2 ON e.kind = km2.kind
        UNION ALL
        SELECT km2.dtag, e.target_id FROM g_edges e JOIN km2 ON e.kind = km2.kind
      ),
      dg AS (SELECT tag, vid, count(*) AS degree FROM inc GROUP BY tag, vid)
      SELECT CAST(tag AS BIGINT) AS tag, count(*) AS n_nodes,
        CAST(max(degree) AS INT) AS max_degree,
        round(avg(degree), 4) AS avg_degree
      FROM dg GROUP BY tag ORDER BY tag""") { (s, d) =>
      graft.graph.GraphOps.degreeByKindOf(graphFor(s, d), s)
    }

    // ---- graph: triangle census (top-20 vertices by participation) over
    //      the undirected kind-tagged graph — two equi-joins on canonical
    //      u<v edges, no GraphX
    // ---- INCREMENTAL triangle maintenance (the edge-append face): Spark
    //      runs ONLY the delta algorithm (triangles touching a new edge,
    //      counted once via the 6/k accounting — cost ∝ new edges × avg
    //      degree); the ORACLE computes the delta from first principles as
    //      the DIFFERENCE of two full censuses — algorithm vs definition,
    //      cross-engine. A deterministic 20% split of the raw edge rows
    //      plays the "day's batch".
    q("g_triangles_delta", P +
      s""", $kmTagSql,
      tgd AS (SELECT km2.stag * 4294967296 + e.source_id AS a,
                     km2.dtag * 4294967296 + e.target_id AS b,
                     (e.source_id + e.target_id) % 5 AS spl
              FROM g_edges e JOIN km2 ON e.kind = km2.kind),
      undAll AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
                 FROM tgd WHERE a <> b),
      undSeen AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
                  FROM tgd WHERE a <> b AND spl <> 0),
      tAll AS (SELECT count(*) AS c FROM undAll e1
               JOIN undAll e2 ON e2.u = e1.v
               JOIN undAll e3 ON e3.u = e1.u AND e3.v = e2.v),
      tSeen AS (SELECT count(*) AS c FROM undSeen e1
                JOIN undSeen e2 ON e2.u = e1.v
                JOIN undSeen e3 ON e3.u = e1.u AND e3.v = e2.v)
      SELECT CAST((SELECT count(*) FROM undAll) -
                  (SELECT count(*) FROM undSeen) AS BIGINT) AS n_new_edges,
             CAST(tAll.c - tSeen.c AS BIGINT) AS n_delta_triangles
      FROM tAll, tSeen ORDER BY n_new_edges""") { (s, d) =>
      import s.implicits._
      val e = storeFor(s, d).edges
      val spl = (col("source_id") + col("target_id")) % 5
      val (nNew, delta) = graft.graph.GraphOps.triangleDelta(
        e.where(spl === 0), e.where(spl =!= 0))
      Seq((nNew, delta)).toDF("n_new_edges", "n_delta_triangles")
        .orderBy("n_new_edges")
    }

    // ---- graph: PERSISTED incremental-triangle store — the admission-time
    //      face of the delta (census paid once at build, maintained exactly
    //      per admission; no O(m) seen-side materialization per batch).
    //      DEF_TO_DEF subgraph keeps the in-gate census bench-bounded. The
    //      oracle recomputes both censuses; replay_ok additionally audits
    //      in-query that re-admitting the same batch is a no-op and the
    //      maintained count survives a recount (store.validate).
    q("g_tri_store", P +
      s""", tgs AS (SELECT 3 * 4294967296 + e.source_id AS a,
                     3 * 4294967296 + e.target_id AS b,
                     (e.source_id + e.target_id) % 4 AS spl
              FROM g_edges e WHERE e.kind = 'DEF_TO_DEF'),
      undAll AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
                 FROM tgs WHERE a <> b),
      undSeen AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
                  FROM tgs WHERE a <> b AND spl <> 0),
      tAll AS (SELECT count(*) AS c FROM undAll e1
               JOIN undAll e2 ON e2.u = e1.v
               JOIN undAll e3 ON e3.u = e1.u AND e3.v = e2.v),
      tSeen AS (SELECT count(*) AS c FROM undSeen e1
                JOIN undSeen e2 ON e2.u = e1.v
                JOIN undSeen e3 ON e3.u = e1.u AND e3.v = e2.v)
      SELECT CAST((SELECT count(*) FROM undAll) -
                  (SELECT count(*) FROM undSeen) AS BIGINT) AS n_new_edges,
             CAST(tAll.c - tSeen.c AS BIGINT) AS n_delta_triangles,
             CAST(tAll.c AS BIGINT) AS n_total_triangles,
             true AS replay_ok
      FROM tAll, tSeen ORDER BY n_new_edges""") { (s, d) =>
      import s.implicits._
      val e = storeFor(s, d).edges.where(col("kind") === "DEF_TO_DEF")
      val spl = (col("source_id") + col("target_id")) % 4
      val base = SparkEntry.gateDir("tristore", d)
      val st = graft.store.TriangleStore.build(s, base, e.where(spl =!= 0))
      val (nNew, delta) = st.admit(e.where(spl === 0))
      val (_, total) = st.stats
      val (nNew2, delta2) = st.admit(e.where(spl === 0)) // crash-replay twin
      Seq((nNew, delta, total,
          nNew2 == 0L && delta2 == 0L && st.validate()))
        .toDF("n_new_edges", "n_delta_triangles", "n_total_triangles",
          "replay_ok")
        .orderBy("n_new_edges")
    }

    // ---- graph: triangle-store RETIREMENT — the DETACH-delete face:
    //      build the census on the WHOLE def graph, retire the spl==0
    //      edge slice via the negative wedge delta, and report what was
    //      removed plus the maintained total. The oracle censuses both
    //      graphs independently: hash equality proves the subtracted
    //      delta lands the store exactly on the survivors' census (also
    //      cross-checking g_tri_store's seam from the opposite side).
    q("g_tri_retire", P +
      s""", tgr AS (SELECT 3 * 4294967296 + e.source_id AS a,
                     3 * 4294967296 + e.target_id AS b,
                     (e.source_id + e.target_id) % 4 AS spl
              FROM g_edges e WHERE e.kind = 'DEF_TO_DEF'),
      rAll AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
               FROM tgr WHERE a <> b),
      rKeep AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
                FROM tgr WHERE a <> b AND spl <> 0),
      rtAll AS (SELECT count(*) AS c FROM rAll e1
                JOIN rAll e2 ON e2.u = e1.v
                JOIN rAll e3 ON e3.u = e1.u AND e3.v = e2.v),
      rtKeep AS (SELECT count(*) AS c FROM rKeep e1
                 JOIN rKeep e2 ON e2.u = e1.v
                 JOIN rKeep e3 ON e3.u = e1.u AND e3.v = e2.v)
      SELECT CAST((SELECT count(*) FROM rAll) -
                  (SELECT count(*) FROM rKeep) AS BIGINT) AS n_retired,
             CAST(rtAll.c - rtKeep.c AS BIGINT) AS n_removed_triangles,
             CAST(rtKeep.c AS BIGINT) AS n_total_triangles,
             true AS replay_ok
      FROM rtAll, rtKeep ORDER BY n_retired""") { (s, d) =>
      import s.implicits._
      val e = storeFor(s, d).edges.where(col("kind") === "DEF_TO_DEF")
      val spl = (col("source_id") + col("target_id")) % 4
      val base = SparkEntry.gateDir("triret", d)
      val st = graft.store.TriangleStore.build(s, base, e)
      val (nGone, removed) = st.retire(e.where(spl === 0))
      val (_, total) = st.stats
      val (nGone2, removed2) = st.retire(e.where(spl === 0)) // replay twin
      Seq((nGone, removed, total,
          nGone2 == 0L && removed2 == 0L && st.validate()))
        .toDF("n_retired", "n_removed_triangles", "n_total_triangles",
          "replay_ok")
        .orderBy("n_retired")
    }

    // ---- graph: k-CORE (Matula-Beck peeling restricted to one k) — the
    //      graph-curation backbone filter. The oracle unrolls 16 parallel
    //      peel rounds (a fixpoint's extra rounds are no-ops, so a fixed
    //      unroll depth is exact whenever Spark's loop converges within
    //      it — which kCore asserts with a hard require).
    // MATERIALIZED: each round references its predecessor 3x; inlined,
    // the 16-level chain would expand exponentially and exhaust file
    // handles re-opening the base parquet
    val kcPeelSql = (1 to 16).map { r =>
      s"""kcd$r AS MATERIALIZED (SELECT vid, count(*) AS c FROM (
            SELECT u AS vid FROM kc${r - 1} UNION ALL SELECT v FROM kc${r - 1})
          GROUP BY 1),
      kck$r AS MATERIALIZED (SELECT vid FROM kcd$r WHERE c >= 5),
      kc$r AS MATERIALIZED (SELECT e.u, e.v FROM kc${r - 1} e
               JOIN kck$r a ON a.vid = e.u JOIN kck$r b ON b.vid = e.v)"""
    }.mkString(",\n      ")
    q("g_kcore", P +
      s""", $kmTagSql,
      kctv AS (SELECT km2.stag * 4294967296 + e.source_id AS a,
                      km2.dtag * 4294967296 + e.target_id AS b
               FROM g_edges e JOIN km2 ON e.kind = km2.kind),
      kc0 AS MATERIALIZED (SELECT DISTINCT least(a, b) AS u,
              greatest(a, b) AS v FROM kctv WHERE a <> b),
      $kcPeelSql
      SELECT CAST(vid // 4294967296 AS BIGINT) AS tag,
             CAST(vid % 4294967296 AS BIGINT) AS id,
             CAST(c AS BIGINT) AS core_degree
      FROM (SELECT vid, count(*) AS c FROM (
              SELECT u AS vid FROM kc16 UNION ALL SELECT v FROM kc16)
            GROUP BY 1)
      ORDER BY core_degree DESC, tag, id""") { (s, d) =>
      graft.graph.GraphOps.kCore(storeFor(s, d).edges, k = 5)
    }

    // ---- graph: synchronous label propagation, fixed 4 rounds — the
    //      deterministic community face (ties to the smallest label; the
    //      round count IS the contract, as with GraphX's maxSteps). The
    //      oracle unrolls each round as a MATERIALIZED count + ranked
    //      argmax over the previous round's labels.
    val lpPeelSql = (1 to 4).map { r =>
      s"""lpc$r AS MATERIALIZED (SELECT adj.a AS vid, l.lbl, count(*) AS n
            FROM adj JOIN lp${r - 1} l ON l.vid = adj.b GROUP BY 1, 2),
      lp$r AS MATERIALIZED (SELECT vid, lbl FROM (
            SELECT vid, lbl, row_number() OVER (
              PARTITION BY vid ORDER BY n DESC, lbl) AS rn FROM lpc$r)
          WHERE rn = 1)"""
    }.mkString(",\n      ")
    q("g_label_prop", P +
      s""", $kmTagSql,
      lptv AS (SELECT km2.stag * 4294967296 + e.source_id AS a,
                      km2.dtag * 4294967296 + e.target_id AS b
               FROM g_edges e JOIN km2 ON e.kind = km2.kind),
      lpund AS MATERIALIZED (SELECT DISTINCT least(a, b) AS u,
              greatest(a, b) AS v FROM lptv WHERE a <> b),
      adj AS MATERIALIZED (SELECT u AS a, v AS b FROM lpund
            UNION ALL SELECT v, u FROM lpund),
      lp0 AS MATERIALIZED (SELECT vid, vid AS lbl FROM (
            SELECT DISTINCT a AS vid FROM adj)),
      $lpPeelSql
      SELECT CAST(vid // 4294967296 AS BIGINT) AS tag,
             CAST(vid % 4294967296 AS BIGINT) AS id,
             CAST(lbl AS BIGINT) AS label
      FROM lp4 ORDER BY tag, id""") { (s, d) =>
      graft.graph.GraphOps.labelPropagation(storeFor(s, d).edges, rounds = 4)
    }

    q("g_triangles", P +
      s""", $kmTagSql,
      tgv AS (SELECT km2.stag * 4294967296 + e.source_id AS a,
                     km2.dtag * 4294967296 + e.target_id AS b
              FROM g_edges e JOIN km2 ON e.kind = km2.kind),
      und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
              FROM tgv WHERE a <> b),
      tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
              FROM und e1 JOIN und e2 ON e2.u = e1.v
              JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
      prt AS (SELECT vid, CAST(count(*) AS BIGINT) AS n_triangles
              FROM (SELECT unnest([x, y, z]) AS vid FROM tri) GROUP BY 1)
      SELECT CAST(vid // 4294967296 AS BIGINT) AS tag,
             CAST(vid % 4294967296 AS BIGINT) AS id, n_triangles,
             CAST(row_number() OVER (ORDER BY n_triangles DESC, vid) AS INT) AS rank
      FROM prt QUALIFY rank <= 20 ORDER BY rank""") { (s, d) =>
      graft.graph.GraphOps.triangleTopVertices(storeFor(s, d).edges, topK = 20)
        .orderBy("rank")
    }

    // ---- graph: DOULION approximate triangle count (Tsourakakis et al.
    //      2009) — the 100TB face of the exact census. The edge-sampling
    //      coin is the deterministic charFold("u:v") % 100, so the oracle
    //      replays the IDENTICAL sample and the estimate itself is
    //      hash-gated; within_tol additionally audits the estimator against
    //      the exact count in-query (the ann_lsh_topk recall-bound pattern).
    q("g_triangles_approx", P +
      s""", $kmTagSql,
      tgv AS (SELECT km2.stag * 4294967296 + e.source_id AS a,
                     km2.dtag * 4294967296 + e.target_id AS b
              FROM g_edges e JOIN km2 ON e.kind = km2.kind),
      und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
              FROM tgv WHERE a <> b),
      unds AS (SELECT u, v, ${sqlCharFold(
        "(CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR))")} AS h FROM und),
      sm AS (SELECT u, v FROM unds
             WHERE ((((h * h) % 1000000007) * 31 + h) % 1000000007) % 100 < 20),
      tri AS (SELECT count(*) AS c
              FROM und e1 JOIN und e2 ON e2.u = e1.v
              JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
      tris AS (SELECT count(*) AS c
              FROM sm e1 JOIN sm e2 ON e2.u = e1.v
              JOIN sm e3 ON e3.u = e1.u AND e3.v = e2.v)
      SELECT CAST(20 AS INT) AS p_pct,
             (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
             (SELECT CAST(count(*) AS BIGINT) FROM sm) AS n_sampled_edges,
             CAST(tris.c * 125 AS BIGINT) AS est_triangles,
             CAST(tri.c AS BIGINT) AS exact_triangles,
             (abs(tris.c * 125 - tri.c) * 100 <= tri.c * 30) AS within_tol
      FROM tri, tris ORDER BY p_pct""") { (s, d) =>
      graft.graph.GraphOps.doulionTriangleGate(storeFor(s, d).edges,
        pPercent = 20, tolPct = 30)
    }

    // ---- full indexing pipeline (S1-S2, E1-E3, A1-A10) on a deterministic
    //      synthetic Python tree. The oracle replays the ENTIRE derivation —
    //      SyntheticTree's file/class/method layout, the Python extractor's
    //      fqn + 0-based extent rules, and A9's dense id assignment over
    //      (path, position) — as pure SQL over generate_series, so the
    //      flagship ETL is cross-engine checked end-to-end.
    q("p_index_pipeline", """WITH f AS (SELECT unnest(generate_series(0, 199)) AS i),
      cls AS (SELECT i, c FROM f, LATERAL (SELECT unnest(generate_series(0, 2)) AS c) g),
      mth AS (SELECT i, c, m FROM cls, LATERAL (SELECT unnest(generate_series(0, 3)) AS m) g),
      defs AS (
        SELECT i, 'C' || i || '_' || c AS fqn, 'C' || i || '_' || c AS name,
               'Class' AS definition_type, 3 + c*10 AS sl, 11 + c*10 AS el FROM cls
        UNION ALL
        SELECT i, 'C' || i || '_' || c || '.m' || c || '_' || m, 'm' || c || '_' || m,
               'Method', 4 + c*10 + m*2, 5 + c*10 + m*2 FROM mth
        UNION ALL
        SELECT i, 'helper_' || i, 'helper_' || i, 'Function', 33, 34 FROM f
      ),
      paths AS (SELECT *, 'pkg' || (i % 50) || '/mod' || i || '.py' AS primary_file_path FROM defs)
      SELECT CAST(row_number() OVER (ORDER BY primary_file_path, sl) - 1 AS BIGINT) AS id,
             fqn, name, definition_type, primary_file_path,
             CAST(sl AS INT) AS start_line, CAST(el AS INT) AS end_line
      FROM paths ORDER BY id""") { (s, _) =>
      val root = java.nio.file.Files.createTempDirectory("graft-gate-tree")
      graft.extract.SyntheticTree.generate(root, 200)
      val store = graft.analyze.Indexer.indexDirectory(s, root.toString, "gate")
      store.definitions
        .select("id", "fqn", "name", "definition_type", "primary_file_path",
          "start_line", "end_line")
        .orderBy("id")
    }

    // ---- Q24 passthrough: full Spark SQL over the registered graph views
    q("q24_sql_passthrough", P +
      """SELECT d.definition_type, count(*) AS n, max(d.start_line) AS max_line
      FROM g_defs d JOIN g_edges e ON e.kind = 'FILE_TO_DEF' AND e.target_id = d.id
      GROUP BY d.definition_type ORDER BY d.definition_type""") { (s, d) =>
      lib(s, d).sql(s,
        """SELECT d.definition_type, count(*) AS n, max(d.start_line) AS max_line
           FROM definition_nodes d
           JOIN edges e ON e.kind = 'FILE_TO_DEF' AND e.target_id = d.id
           GROUP BY d.definition_type ORDER BY d.definition_type""")
    }

    // ================= LLM-data-pipeline operators (BASELINE.json) =========
    // DuckDB inline helpers kept in lockstep with graft.functions.TextFunctions
    val sqlToks = """list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')), ' +'), x -> x <> '')"""
    val docPrelude = s"""WITH d_toks AS (
      SELECT doc_id, lang, source, text,
        lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')) AS t,
        $sqlToks AS toks
      FROM documents
    )
    """
    // exact word-3-gram jaccard pairs, shared by the ngram + minhash oracles
    val jaccardPairsSql = s"""$docPrelude, sh AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g
      ), shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
      common AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
        FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jac AS (SELECT ida, idb, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
        FROM common JOIN sizes sa ON ida = sa.doc_id JOIN sizes sb ON idb = sb.doc_id)
      SELECT ida AS id_a, idb AS id_b, round(j, 4) AS jaccard FROM jac
      WHERE j >= 0.8 ORDER BY id_a, id_b"""

    // ---- containment (asymmetric jaccard): near-SUPERSET pairs symmetric
    //      jaccard misses — short doc quoted inside a long one. Same
    //      inverted-index pair-count chain as the jaccard oracle, thresholded
    //      on the larger containment direction.
    val containOracleSql = docPrelude +
      s""", sh AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g
      ), shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
      common AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
        FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      cont AS (SELECT ida, idb,
          CAST(c AS DOUBLE) / sa.n AS ca, CAST(c AS DOUBLE) / sb.n AS cb,
          CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
        FROM common JOIN sizes sa ON ida = sa.doc_id
          JOIN sizes sb ON idb = sb.doc_id)
      SELECT ida AS id_a, idb AS id_b, round(ca, 4) AS cont_a_in_b,
        round(cb, 4) AS cont_b_in_a, round(j, 4) AS jaccard
      FROM cont WHERE greatest(ca, cb) >= 0.8 ORDER BY id_a, id_b"""
    q("dd_containment", containOracleSql) { (s, d) =>
      Dedup.containmentPairs(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text", n = 3, threshold = 0.8).orderBy("id_a", "id_b")
    }
    // the LOSSLESS scale path must land on the identical rows: same oracle,
    // two algorithms (prefix-filtered candidates vs direct inverted index)
    q("dd_containment_prefix", containOracleSql) { (s, d) =>
      Dedup.containmentPairsPrefix(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text", n = 3, threshold = 0.8).orderBy("id_a", "id_b")
    }

    // ---- winnowing fingerprints (MOSS): window-min of hashed 4-grams,
    //      full windows only, distinct per doc; plus the pair census over
    //      shared fingerprints. The window min and the charFold hash replay
    //      exactly in SQL.
    val winnowSql = s""", wt AS (SELECT doc_id, toks, len(toks) AS nt
        FROM d_toks WHERE len(toks) >= 4),
      wg AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
          array_to_string(list_slice(toks, i, i + 3), ' ') AS gm,
          CAST(nt - 3 AS BIGINT) AS g
        FROM wt, LATERAL (SELECT unnest(generate_series(1, nt - 3)) AS i) s),
      wh AS (SELECT doc_id, pos, g, ${sqlCharFold("gm")} AS h FROM wg),
      wm AS (SELECT doc_id, pos, g,
          min(h) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM wh)"""
    q("dd_winnow", docPrelude + winnowSql +
      s""" SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= g - 4
      ORDER BY doc_id, fp""") { (s, d) =>
      Dedup.winnowFingerprints(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text", k = 4, w = 4).orderBy("doc_id", "fp")
    }
    q("dd_winnow_overlap", docPrelude + winnowSql +
      s""", wf AS (SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= g - 4)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(count(*) AS BIGINT) AS n_shared
      FROM wf a JOIN wf b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""") { (s, d) =>
      Dedup.winnowOverlap(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text", k = 4, w = 4, minShared = 2)
        .orderBy("id_a", "id_b")
    }

    // ---- token-distribution entropy: per-doc degeneracy signal (one tf
    //      shuffle + one per-doc agg; no corpus-global state)
    q("td_token_entropy", docPrelude +
      s""", tk AS (SELECT doc_id, unnest(toks) AS term FROM d_toks),
      tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        FROM tk GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        CAST(count(*) AS BIGINT) AS n_distinct,
        round(log2(sum(tf)) - sum(tf * log2(tf)) / sum(tf), 4) AS token_entropy
      FROM tf GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
      TextAnalysis.withTokenEntropy(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text").orderBy("doc_id")
    }

    // ---- dedup: exact (hash-groupBy)
    q("dd_exact", docPrelude +
      s"""SELECT ${sqlCharFold("t")} AS fp, min(doc_id) AS kept_doc_id,
        count(*) AS n_dups
      FROM d_toks GROUP BY 1 ORDER BY fp""") { (s, d) =>
      Dedup.exact(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")
        .orderBy("fp")
    }

    // ---- corpus-overlap audit: shared-content matrix between sources
    //      (the pre-mixing data audit; distinct-(source,fp) first so the
    //      join is bounded by distinct content, never corpus rows)
    q("dd_source_overlap", docPrelude +
      s""", so_sh AS (
        SELECT source, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g
      ), sf AS (SELECT DISTINCT source, ${sqlCharFold("shingle")} AS fp FROM so_sh)
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_fp
      FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
      GROUP BY 1, 2 ORDER BY source_a, source_b""") { (s, d) =>
      graft.pipeline.Dedup.sourceOverlap(
        s.read.parquet(s"$d/documents.parquet"), "text", "source", ngram = 3)
        .orderBy("source_a", "source_b")
    }

    // ---- dedup: n-gram Jaccard via inverted-index self-join
    q("dd_ngram_jaccard", jaccardPairsSql) { (s, d) =>
      Dedup.ngramJaccardPairs(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text", n = 3, threshold = 0.8).orderBy("id_a", "id_b")
    }

    // ---- dedup: MinHash+LSH (bucketed candidates, exact-verified) — the
    // oracle is the exact-pair answer; LSH miss probability ~5e-8 at j=0.8
    q("dd_minhash_lsh", jaccardPairsSql) { (s, d) =>
      Dedup.minhashLshPairs(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text", n = 3, threshold = 0.8).orderBy("id_a", "id_b")
    }

    // ---- dedup: cross-snapshot (incremental) — new docs' near-dups in an
    //      existing corpus, bipartite candidates only (doc_id % 5 = 0
    //      simulates the already-admitted historical index). The gate runs
    //      the OPERATIONAL path: the seen side's banded index + shingle
    //      sets are persisted (DedupIndexStore, the admission-time write)
    //      and the query reads them back — the per-run cost the daily
    //      ingest actually pays. Oracle = the exact all-pairs jaccard
    //      filtered to cross-split pairs; the LSH miss bound is the same
    //      ~5e-8 as dd_minhash_lsh.
    q("dd_incremental", jaccardPairsSql.substring(0,
      jaccardPairsSql.indexOf("SELECT ida AS id_a")) + s"""
      SELECT CASE WHEN ida % 5 = 0 THEN idb ELSE ida END AS new_id,
        CASE WHEN ida % 5 = 0 THEN ida ELSE idb END AS seen_id,
        round(j, 4) AS jaccard
      FROM jac WHERE j >= 0.8 AND ((ida % 5 = 0) <> (idb % 5 = 0))
      ORDER BY new_id, seen_id""") { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      // collision-free per-process path + exit cleanup, the same fix the
      // ann_ivf_indexed gate got (abs(hashCode) was sign-broken and
      // collidable; concurrent runs raced Overwrite-vs-read)
      val idxDir = SparkEntry.gateDir("dedup_index", d)
      val idx = graft.store.DedupIndexStore.build(s, idxDir,
        docs.where(col("doc_id") % 5 === 0), "doc_id", "text")
      Dedup.crossCorpusPairsIndexed(
        docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text", idx,
        threshold = 0.8).orderBy("new_id", "seen_id")
    }

    // ---- dedup: MinHash Jaccard estimate next to the exact value for each
    //      qualifying pair (estimator face of the signature; slot agreement
    //      fraction is k/128 — binary-exact, so the rounding is stable)
    q("dd_minhash_estimate", jaccardPairsSql.substring(0,
      jaccardPairsSql.indexOf("SELECT ida AS id_a")) + s"""
      , th2 AS (SELECT doc_id, ${sqlCharFold("shingle")} AS h FROM shd),
      mh2 AS (
        SELECT doc_id, i,
          min((((2654435761 % 1000000007) * (2 * i + 1)) % 1000000007 * h
               + (1779033703 * (i + 1)) % 1000000007) % 1000000007) AS mh
        FROM th2, LATERAL (SELECT unnest(generate_series(0, 127)) AS i) g
        GROUP BY doc_id, i),
      est AS (SELECT j.ida, j.idb, j.j,
          CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE) / 128 AS est
        FROM jac j
        JOIN mh2 a ON a.doc_id = j.ida
        JOIN mh2 b ON b.doc_id = j.idb AND a.i = b.i
        WHERE j.j >= 0.8 GROUP BY 1, 2, 3)
      SELECT ida AS id_a, idb AS id_b, round(est, 4) AS est_jaccard,
        round(j, 4) AS jaccard
      FROM est ORDER BY id_a, id_b""") { (s, d) =>
      Dedup.minhashEstimatePairs(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text", n = 3, threshold = 0.8).orderBy("id_a", "id_b")
    }

    // ---- dedup clusters: keeper per near-dup group (6-round min-label
    //      propagation over the jaccard>=0.8 pair graph, unrolled in SQL)
    // each level references lp{k-1} exactly ONCE (min over neighbors ∪ self
    // via self-loops): a twice-referenced CTE would be inlined and the
    // expensive upstream jaccard chain re-evaluated 2^rounds times
    val lblIterSql = (1 to 6).map { k =>
      s"""lp$k AS (SELECT sps.u AS doc_id, min(r.lbl) AS lbl
         FROM sps JOIN lp${k - 1} r ON sps.v = r.doc_id GROUP BY sps.u)"""
    }.mkString(",\n      ")
    q("dd_clusters", jaccardPairsSql.substring(0,
      jaccardPairsSql.indexOf("SELECT ida AS id_a")) + s"""
      , jp AS (SELECT ida AS a, idb AS b FROM jac WHERE j >= 0.8),
      sp AS (SELECT a AS u, b AS v FROM jp UNION SELECT b, a FROM jp),
      sps AS (SELECT u, v FROM sp UNION SELECT u, u FROM sp),
      lp0 AS (SELECT DISTINCT u AS doc_id, u AS lbl FROM sp),
      $lblIterSql
      SELECT doc_id, lbl AS keeper_id FROM lp6 ORDER BY doc_id""") { (s, d) =>
      Dedup.clusterKeepers(Dedup.ngramJaccardPairs(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        n = 3, threshold = 0.8))
        .orderBy("doc_id")
    }

    // ---- dedup: the SAME component labels via alternating star
    //      contraction (Kiveris et al. 2014) — O(log n) rounds regardless
    //      of cluster diameter, the 100TB-scale CC algorithm.
    // ORACLE ASSUMPTION: the k-round min-label unroll is exact only for
    // components of diameter <= k (a recursive-CTE closure can't continue
    // the shared WITH-prelude — DuckDB wants WITH RECURSIVE at the head).
    // connectedComponentsStar itself is exact for ANY diameter
    // (property-checked against union-find in DedupSpec), so this gate
    // unrolls to 12 rounds — double dd_clusters' 6 — to keep a regenerated
    // testdata's deeper near-dup chain from failing the gate spuriously.
    val lblIterSql12 = (1 to 12).map { k =>
      s"""lp$k AS (SELECT sps.u AS doc_id, min(r.lbl) AS lbl
         FROM sps JOIN lp${k - 1} r ON sps.v = r.doc_id GROUP BY sps.u)"""
    }.mkString(",\n      ")
    q("dd_cc_star", jaccardPairsSql.substring(0,
      jaccardPairsSql.indexOf("SELECT ida AS id_a")) + s"""
      , jp AS (SELECT ida AS a, idb AS b FROM jac WHERE j >= 0.8),
      sp AS (SELECT a AS u, b AS v FROM jp UNION SELECT b, a FROM jp),
      sps AS (SELECT u, v FROM sp UNION SELECT u, u FROM sp),
      lp0 AS (SELECT DISTINCT u AS doc_id, u AS lbl FROM sp),
      $lblIterSql12
      SELECT doc_id, lbl AS keeper_id FROM lp12 ORDER BY doc_id""") { (s, d) =>
      Dedup.connectedComponentsStar(Dedup.ngramJaccardPairs(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        n = 3, threshold = 0.8))
        .orderBy("doc_id")
    }

    // ---- dedup: quality-argmax survivor per near-dup cluster (the step a
    //      real pipeline runs after clustering: keep the BEST copy, not an
    //      arbitrary one; singletons keep themselves). Order by the rounded
    //      quality score — bit-identical on both engines — ties by doc_id.
    q("dd_keep_best", jaccardPairsSql.substring(0,
      jaccardPairsSql.indexOf("SELECT ida AS id_a")) + s"""
      , jp AS (SELECT ida AS a, idb AS b FROM jac WHERE j >= 0.8),
      sp AS (SELECT a AS u, b AS v FROM jp UNION SELECT b, a FROM jp),
      sps AS (SELECT u, v FROM sp UNION SELECT u, u FROM sp),
      lp0 AS (SELECT DISTINCT u AS doc_id, u AS lbl FROM sp),
      $lblIterSql,
      qual AS (SELECT doc_id,
        round(0.4 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text))
          + 0.3 * (CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / len(toks))
          + 0.3 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0), 4) AS qs
        FROM d_toks),
      cid AS (SELECT d.doc_id, coalesce(l.lbl, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN lp6 l ON d.doc_id = l.doc_id)
      SELECT c.doc_id, c.cluster_id,
        (row_number() OVER (PARTITION BY c.cluster_id
           ORDER BY q.qs DESC, c.doc_id) = 1) AS kept
      FROM cid c JOIN qual q ON c.doc_id = q.doc_id ORDER BY c.doc_id""") {
      (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      Dedup.keepBest(
        TextAnalysis.withQuality(docs, "text"),
        Dedup.clusterKeepers(Dedup.ngramJaccardPairs(
          docs, "doc_id", "text", n = 3, threshold = 0.8)),
        "doc_id", col("quality_score"))
        .select("doc_id", "cluster_id", "kept").orderBy("doc_id")
    }

    // ---- dedup: the MinHash signature itself, slot by slot (the exact
    //      hash family h_i(x) = (a_i x + b_i) mod p replayed in SQL)
    q("dd_minhash_sig", s"""$docPrelude, sh AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g
      ), shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      th AS (SELECT doc_id, ${sqlCharFold("shingle")} AS h FROM shd),
      mh AS (
        SELECT doc_id, i,
          min((((2654435761 % 1000000007) * (2 * i + 1)) % 1000000007 * h
               + (1779033703 * (i + 1)) % 1000000007) % 1000000007) AS mh
        FROM th, LATERAL (SELECT unnest(generate_series(0, 127)) AS i) g
        GROUP BY doc_id, i)
      SELECT doc_id, CAST(i AS INT) AS hi, mh FROM mh
      ORDER BY doc_id, hi""") { (s, d) =>
      Dedup.minhashSignatureRows(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text").orderBy("doc_id", "hi")
    }

    // ---- dedup: SimHash signature per document
    q("dd_simhash", docPrelude +
      s""", th AS (SELECT doc_id, ${sqlCharFold("tok")} AS h
        FROM (SELECT doc_id, unnest(toks) AS tok FROM d_toks) u
      ), votes AS (
        SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM th, LATERAL (SELECT unnest(generate_series(0, 29)) AS i) g
        GROUP BY doc_id, i
      )
      SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
      Dedup.simhash(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")
        .orderBy("doc_id")
    }

    // simhash near-dup pairs: banded LSH + verify. With maxDist=3 and 4
    // bands the pigeonhole guarantee makes recall exactly 1, so the
    // brute-force SQL answer is a true oracle.
    q("dd_simhash_pairs", docPrelude +
      s""", th AS (SELECT doc_id, ${sqlCharFold("tok")} AS h
        FROM (SELECT doc_id, unnest(toks) AS tok FROM d_toks) u
      ), votes AS (
        SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM th, LATERAL (SELECT unnest(generate_series(0, 29)) AS i) g
        GROUP BY doc_id, i
      ), sim AS (
        SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
      FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      ORDER BY id_a, id_b""") { (s, d) =>
      Dedup.simhashPairs(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text", maxDist = 3).orderBy("id_a", "id_b")
    }

    // ---- dedup: embedding-cosine near-dup pairs (exact, left-fold dot)
    val sqlDotLR = (a: String, b: String) =>
      s"list_reduce(list_prepend(0.0, list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])), (x, y) -> x + y)"
    val vnSql = """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
      vn AS (SELECT vec_id, vec,
        sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(vec)), i -> vec[i] * vec[i])), (x, y) -> x + y)) AS nrm
      FROM v)"""
    q("dd_embedding_cosine", s"""$vnSql,
      pairs AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(a.vec)), i -> a.vec[i] * b.vec[i])), (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
        FROM vn a JOIN vn b ON a.vec_id < b.vec_id)
      SELECT ida AS id_a, idb AS id_b, round(cos, 4) AS cosine FROM pairs
      WHERE cos >= 0.45 ORDER BY id_a, id_b""") { (s, d) =>
      Dedup.embeddingCosinePairs(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", threshold = 0.45).orderBy("id_a", "id_b")
    }

    // ---- SemDeDup: one kept representative per cosine-near-dup cluster
    //      (exact-pair graph + the same 6-round min-label recurrence as
    //      dd_clusters; membership join brings back singletons as their own
    //      keepers). Pairs only among nrm > 0 — zero vectors have no cosine
    //      and survive as singletons, matching the Spark-side filter.
    q("dd_semantic_keep", s"""$vnSql,
      prs AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(a.vec)), i -> a.vec[i] * b.vec[i])), (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
        FROM vn a JOIN vn b ON a.vec_id < b.vec_id
        WHERE a.nrm > 0 AND b.nrm > 0),
      jp AS (SELECT ida AS a, idb AS b FROM prs WHERE cos >= 0.45),
      sp AS (SELECT a AS u, b AS v FROM jp UNION SELECT b, a FROM jp),
      sps AS (SELECT u, v FROM sp UNION SELECT u, u FROM sp),
      lp0 AS (SELECT DISTINCT u AS doc_id, u AS lbl FROM sp),
      $lblIterSql
      SELECT v.vec_id, coalesce(l.lbl, v.vec_id) AS cluster_id,
        (coalesce(l.lbl, v.vec_id) = v.vec_id) AS kept
      FROM vn v LEFT JOIN lp6 l ON v.vec_id = l.doc_id
      ORDER BY vec_id""") { (s, d) =>
      Dedup.semanticKeepers(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", threshold = 0.45).orderBy("vec_id")
    }

    // ---- similarity search: brute-force cosine top-k (exact baseline)
    q("ann_brute_topk", s"""$vnSql,
      scored AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(a.vec)), i -> a.vec[i] * b.vec[i])), (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
        FROM vn a JOIN vn b ON b.vec_id <> a.vec_id WHERE a.vec_id < 10),
      ranked AS (SELECT qid, nid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rank
        FROM scored)
      SELECT qid AS query_id, nid AS neighbor_id, round(cos, 4) AS cosine, rank
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""") { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      Similarity.bruteForceTopK(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", k = 5).orderBy("query_id", "rank")
    }

    // hyperplane-LSH ANN (the 100TB scale path). Approximate results can't
    // hash-match a SQL oracle row-for-row, so the gate asserts the checkable
    // bound instead: recall@5 vs the exact brute-force top-5, computed
    // INSIDE the query, must clear 0.9. The oracle replays the deterministic
    // query census and the expected boolean — a recall regression flips
    // recall_ok to false and hash-mismatches. Default signature = the
    // lshPlanFor auto-parameterization (the 100 TB default path is what the
    // gate exercises; the sf1 decade measured fixed params super-linear).
    q("ann_lsh_topk", s"""$vnSql
      SELECT 'lsh' AS algo, CAST(5 AS INT) AS k,
        CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok
      FROM vn WHERE vec_id < 100 AND nrm > 0 ORDER BY algo""") { (s, d) =>
      val embs = s.read.parquet(s"$d/embeddings.parquet")
      val approx = Similarity.annLsh(embs, "vec_id", "embedding", dim = 64,
        k = 5).where(col("query_id") < 100)
      Similarity.recallGate(embs, approx, "lsh", k = 5, bound = 0.9,
        queryFilter = col("vec_id") < 100)
    }

    // IVF ANN (coarse-quantized cells, nprobe probing): same recall-bound
    // gate as ann_lsh_topk. (nprobe=12/nlist=16 measures 0.94 @ sf0.01 /
    // 0.958 @ sf0.1 on TESTDATA.)
    q("ann_ivf_topk", s"""$vnSql
      SELECT 'ivf' AS algo, CAST(5 AS INT) AS k,
        CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok
      FROM vn WHERE vec_id < 100 AND nrm > 0 ORDER BY algo""") { (s, d) =>
      val embs = s.read.parquet(s"$d/embeddings.parquet")
      val approx = Similarity.ivfTopK(embs, "vec_id", "embedding", k = 5,
        nlist = 16, nprobe = 12, queryFilter = col("vid") < 100,
        pretrainedIvf = ivf16For(s, d))
      Similarity.recallGate(embs, approx, "ivf", k = 5, bound = 0.9,
        queryFilter = col("vec_id") < 100)
    }

    // Filtered ANN (vector search + metadata predicate — "nearest
    // neighbors with label % 3 = 0"): ONE index over the full corpus, the
    // predicate pre-filters the probed cells before scoring (post-filtering
    // the top-k starves under selective filters). Recall is measured
    // against the FILTERED brute-force baseline inside the query — same
    // recall-bound contract as the other ANN gates. The ~42%-selective
    // filter thins every cell, so nprobe rises vs the unfiltered gate
    // (measured curve @ sf0.01: nprobe 8 -> 0.778, 10 -> 0.862,
    // 12 -> 0.920, 14 -> 0.974, 16 (=nlist, exact) -> 1.0; the unfiltered
    // ann_ivf_topk clears 0.94 at nprobe=12).
    q("ann_filtered_topk", s"""$vnSql
      SELECT 'ivf_filtered' AS algo, CAST(5 AS INT) AS k,
        CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok
      FROM vn WHERE vec_id < 100 AND nrm > 0 ORDER BY algo""") { (s, d) =>
      val embs = s.read.parquet(s"$d/embeddings.parquet")
      val approx = Similarity.ivfFilteredTopK(embs, "vec_id", "embedding",
        k = 5, corpusFilter = col("label") % 3 === 0, nlist = 16,
        nprobe = 14, queryFilter = col("vid") < 100,
        pretrainedIvf = ivf16For(s, d))
      Similarity.recallGate(embs, approx, "ivf_filtered", k = 5, bound = 0.9,
        queryFilter = col("vec_id") < 100,
        corpusFilter = col("label") % 3 === 0)
    }

    // IVF-PQ ANN (FAISS IVFADC composition: coarse cells bound WHICH
    // vectors a query touches, residual PQ codes bound WHAT is read per
    // touched vector): same recall-bound contract. Both index stages are
    // deterministic (id-order seeding), so the measured recall is a
    // constant; params from the measured curve (SCALE.md round 9 "IVF-PQ
    // ANN recall calibration").
    q("ann_ivfpq_topk", s"""$vnSql
      SELECT 'ivfpq' AS algo, CAST(5 AS INT) AS k,
        CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok
      FROM vn WHERE vec_id < 100 AND nrm > 0 ORDER BY algo""") { (s, d) =>
      val embs = s.read.parquet(s"$d/embeddings.parquet")
      // measured curve @ sf0.01: nprobe=12 -> 0.934, nprobe=14 -> 0.978
      val approx = Similarity.ivfPqTopK(embs, "vec_id", "embedding", k = 5,
        nlist = 16, nprobe = 14, m = 8, ksub = 32, lloydIters = 2,
        rerank = 192, queryFilter = col("vid") < 100,
        pretrainedIvf = ivf16For(s, d),
        pretrainedPq = Some(pqRowsFor(s, d, "ivfpq#16#2#8#32#2",
          Similarity.ivfPqTrainRows(embs, "vec_id", "embedding",
            nlist = 16, lloydIters = 2, m = 8, ksub = 32,
            pretrainedIvf = ivf16For(s, d)))))
      Similarity.recallGate(embs, approx, "ivfpq", k = 5, bound = 0.9,
        queryFilter = col("vec_id") < 100)
    }

    // ---- persisted IVF index (the operational ANN store): build once at
    //      admission (quantizer + cell-partitioned vectors on disk), serve
    //      queries by probing stored cells. Same recall-bound contract as
    //      the in-memory face; the stored path must clear the same bound.
    q("ann_ivf_indexed", s"""$vnSql
      SELECT 'ivf_indexed' AS algo, CAST(5 AS INT) AS k,
        CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok
      FROM vn WHERE vec_id < 100 AND nrm > 0 ORDER BY algo""") { (s, d) =>
      val embs = s.read.parquet(s"$d/embeddings.parquet")
      // per-process, collision-free index path: a hex digest of the dataset
      // dir (abs(hashCode) was sign-broken at Int.MinValue and collidable)
      // plus the pid so concurrent runs never race Overwrite-vs-read; the
      // shutdown hook reclaims the directory when the JVM exits (the gate's
      // returned DataFrame reads the store lazily, so an in-gate delete
      // would break evaluation)
      val idxDir = SparkEntry.gateDir("ann_index", d)
      val idx = graft.store.AnnIndexStore.build(s, idxDir, embs,
        "vec_id", "embedding", nlist = 16, lloydIters = 2,
        pretrainedIvf = ivf16For(s, d))
      val approx = idx.topK(embs.where(col("vec_id") < 100),
        "vec_id", "embedding", k = 5, nprobe = 12)
      Similarity.recallGate(embs, approx, "ivf_indexed", k = 5, bound = 0.9,
        queryFilter = col("vec_id") < 100)
    }

    // ---- persisted-ANN RETIRE (deletion crossing the admit/retire seam):
    //      index the full corpus, retire vec_id % 7 = 0 (among non-query
    //      ids), then probe with nprobe = nlist — probing EVERY cell makes
    //      IVF exact, so the store's answer must hash-match a brute-force
    //      cosine top-k over the SURVIVORS replayed in SQL. A ghost
    //      neighbor the tombstone failed to hide, or a live one the
    //      anti-join over-hid, breaks the hash.
    q("ann_retire", s"""$vnSql,
      ar_surv AS (SELECT vec_id, vec, nrm FROM vn
        WHERE nrm > 0 AND NOT (vec_id % 7 = 0 AND vec_id >= 10)),
      ar_scored AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(a.vec)), i -> a.vec[i] * b.vec[i])), (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
        FROM vn a JOIN ar_surv b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < 10 AND a.nrm > 0),
      ar_ranked AS (SELECT qid, nid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rank
        FROM ar_scored)
      SELECT qid AS query_id, nid AS neighbor_id, round(cos, 4) AS cosine, rank
      FROM ar_ranked WHERE rank <= 5 ORDER BY query_id, rank""") { (s, d) =>
      val embs = s.read.parquet(s"$d/embeddings.parquet")
      val idxDir = SparkEntry.gateDir("annret", d)
      val idx = graft.store.AnnIndexStore.build(s, idxDir, embs,
        "vec_id", "embedding", nlist = 16, lloydIters = 2,
        pretrainedIvf = ivf16For(s, d))
      idx.retire(embs.where(col("vec_id") % 7 === 0 &&
        col("vec_id") >= 10).select("vec_id"), "vec_id")
      idx.topK(embs.where(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nprobe = 16)
        .orderBy("query_id", "rank")
    }

    // ---- FILTERED probe of the persisted index: metadata (label) rides
    //      every stored cell row, and the query's predicate pre-filters
    //      the probed cells — on this store that is parquet-scan pushdown
    //      under the cid partition pruning, the double-prune serving
    //      shape. Probing every cell (nprobe = nlist) makes IVF exact, so
    //      the filtered store answer must hash-match a brute-force cosine
    //      top-k over the label-filtered corpus replayed in SQL.
    q("ann_filtered_indexed", s"""$vnSql,
      afl AS (SELECT v.vec_id, v.vec, v.nrm, e.label
        FROM vn v JOIN embeddings e ON v.vec_id = e.vec_id),
      af_surv AS (SELECT vec_id, vec, nrm FROM afl
        WHERE nrm > 0 AND label % 3 = 0),
      af_scored AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(a.vec)), i -> a.vec[i] * b.vec[i])), (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
        FROM vn a JOIN af_surv b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < 10 AND a.nrm > 0),
      af_ranked AS (SELECT qid, nid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rank
        FROM af_scored)
      SELECT qid AS query_id, nid AS neighbor_id, round(cos, 4) AS cosine, rank
      FROM af_ranked WHERE rank <= 5 ORDER BY query_id, rank""") { (s, d) =>
      val embs = s.read.parquet(s"$d/embeddings.parquet")
      val idxDir = SparkEntry.gateDir("annflt", d)
      val idx = graft.store.AnnIndexStore.build(s, idxDir, embs,
        "vec_id", "embedding", nlist = 16, lloydIters = 2,
        metaCols = Seq("label"), pretrainedIvf = ivf16For(s, d))
      idx.topK(embs.where(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nprobe = 16, filter = col("label") % 3 === 0)
        .orderBy("query_id", "rank")
    }

    // ---- streaming ANN admission (admit → query crosses the seam): the
    //      index starts from a third of the corpus, the other two thirds
    //      arrive as guarded micro-batch admissions (one batch replayed —
    //      the exactly-once discipline must make it a no-op, or the
    //      duplicate rows occupy two ranks of the top-k and break the
    //      hash), then a full-cell probe must equal brute-force cosine
    //      over the WHOLE corpus — i.e. admissions are indistinguishable
    //      from having built over everything.
    q("ann_ivf_stream", s"""$vnSql,
      as_scored AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(a.vec)), i -> a.vec[i] * b.vec[i])), (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
        FROM vn a JOIN vn b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < 10 AND a.nrm > 0 AND b.nrm > 0),
      as_ranked AS (SELECT qid, nid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rank
        FROM as_scored)
      SELECT qid AS query_id, nid AS neighbor_id, round(cos, 4) AS cosine, rank
      FROM as_ranked WHERE rank <= 5 ORDER BY query_id, rank""") { (s, d) =>
      val embs = s.read.parquet(s"$d/embeddings.parquet")
      val idxDir = SparkEntry.gateDir("annstr", d)
      val idx = graft.store.AnnIndexStore.build(s, idxDir,
        embs.where(col("vec_id") % 3 === 0), "vec_id", "embedding",
        nlist = 16, lloydIters = 2,
        // session memo for the deterministic third-corpus quantizer
        // training (the ivf16For discipline; the admissions/probe below
        // still run in-gate, uncached)
        pretrainedIvf = Some(ivfCentroidsFor(s, d, "ivf#16#2#mod3eq0",
          graft.pipeline.Similarity.ivfTrain(
            graft.pipeline.Similarity.normalizedVectors(
              embs.where(col("vec_id") % 3 === 0), "vec_id", "embedding"),
            nlist = 16, lloydIters = 2))))
      graft.stream.StreamingAnnIndex.admitBatch(
        embs.where(col("vec_id") % 3 === 1), idxDir, "vec_id", "embedding")
      graft.stream.StreamingAnnIndex.admitBatch( // replayed: must no-op
        embs.where(col("vec_id") % 3 === 1), idxDir, "vec_id", "embedding")
      graft.stream.StreamingAnnIndex.admitBatch(
        embs.where(col("vec_id") % 3 === 2), idxDir, "vec_id", "embedding")
      idx.topK(embs.where(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nprobe = 16)
        .orderBy("query_id", "rank")
    }

    // ---- product quantization, exact codes gate: the deterministic
    //      codebook (per-subspace k-means, seeded from the first ksub
    //      vectors by id, 2 Lloyd rounds, means rounded to 4 per round)
    //      and final code assignment replayed bit-for-bit by unrolled
    //      CTE rounds — the same discipline as the BPE/k-core oracles
    val pqM = 4; val pqK = 8; val pqDsub = 16
    val pqIterSql = (1 to 2).map { it =>
      val prev = s"c${it - 1}"
      s"""pa$it AS (SELECT vec_id, s, cid, sv,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
         FROM (SELECT sub.vec_id, sub.s, c.cid, sub.sv,
           ${sqlDotLR("sv", "sv")} + ${sqlDotLR("cvec", "cvec")}
             - 2 * ${sqlDotLR("sv", "cvec")} AS d2
         FROM sub JOIN $prev c ON sub.s = c.s)),
      c$it AS (SELECT s, cid, list(cv ORDER BY i) AS cvec FROM (
         SELECT s, cid, i, round(avg(sv[i]), 4) AS cv
         FROM pa$it, LATERAL (SELECT unnest(generate_series(1, len(sv))) AS i) g
         WHERE rn = 1 GROUP BY s, cid, i) GROUP BY s, cid)"""
    }.mkString(",\n      ")
    q("emb_pq_codes", s"""WITH v0 AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
      v AS (SELECT vec_id, vec FROM v0 WHERE ${sqlDotLR("vec", "vec")} > 0),
      sub AS (SELECT vec_id, CAST(s AS INT) AS s,
          list_slice(vec, s * $pqDsub + 1, (s + 1) * $pqDsub) AS sv
        FROM v, LATERAL (SELECT unnest(generate_series(0, ${pqM - 1})) AS s) g),
      seed AS (SELECT vec_id,
          CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
        FROM (SELECT vec_id FROM v ORDER BY vec_id LIMIT $pqK)),
      c0 AS (SELECT sub.s, seed.cid, sub.sv AS cvec
        FROM sub JOIN seed USING (vec_id)),
      $pqIterSql,
      fin AS (SELECT vec_id, s, cid,
          row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
        FROM (SELECT sub.vec_id, sub.s, c.cid,
          ${sqlDotLR("sv", "sv")} + ${sqlDotLR("cvec", "cvec")}
            - 2 * ${sqlDotLR("sv", "cvec")} AS d2
        FROM sub JOIN c2 c ON sub.s = c.s))
      SELECT vec_id, CAST(s AS INT) AS s, CAST(cid AS INT) AS cid
      FROM fin WHERE rn = 1 ORDER BY vec_id, s""") { (s, d) =>
      val embs = s.read.parquet(s"$d/embeddings.parquet")
      val v = Similarity.normalizedVectors(embs, "vec_id", "embedding")
      Similarity.pqCodes(embs, "vec_id", "embedding",
        Similarity.pqTrain(v, m = pqM, ksub = pqK, lloydIters = 2), m = pqM)
        .orderBy("vid", "s")
        .select(col("vid").as("vec_id"), col("s"), col("cid"))
    }

    // ---- product quantization ANN with exact rerank: ADC shortlist
    //      (m table lookups per corpus vector per query) re-scored
    //      exactly; recall-bound contract like the LSH/IVF faces
    q("ann_pq_topk", s"""$vnSql
      SELECT 'pq' AS algo, CAST(5 AS INT) AS k,
        CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok
      FROM vn WHERE vec_id < 100 AND nrm > 0 ORDER BY algo""") { (s, d) =>
      val embs = s.read.parquet(s"$d/embeddings.parquet")
      // params from the measured recall curve (SCALE.md round 9 "PQ ANN
      // recall calibration"): (8,32,192) -> 0.99 at sf0.01; bound 0.9
      val approx = Similarity.pqTopK(embs, "vec_id", "embedding", k = 5,
        m = 8, ksub = 32, lloydIters = 2, rerank = 192,
        queryFilter = col("vid") < 100,
        pretrainedPq = Some(pqRowsFor(s, d, "pq#8#32#2",
          Similarity.pqTrainRows(Similarity.normalizedVectors(
            embs, "vec_id", "embedding"), m = 8, ksub = 32, lloydIters = 2))))
      Similarity.recallGate(embs, approx, "pq", k = 5, bound = 0.9,
        queryFilter = col("vec_id") < 100)
    }

    // ---- Misra-Gries heavy hitters over document word-bigrams: map-side
    //      bounded candidate generation (<= ceil(1/phi) counters per
    //      partition, provably a superset of the global phi-heavy items
    //      since frequency is additive) + ONE exact recount of candidates
    //      only. Output is exact, so the oracle is the plain census.
    q("td_heavy_hitters", s"""$docPrelude, big AS (
        SELECT toks[i] || ' ' || toks[i+1] AS item
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g),
      tot AS (SELECT count(*) AS n FROM big)
      SELECT item, CAST(count(*) AS BIGINT) AS n_item,
        CAST(tot.n AS BIGINT) AS n_total
      FROM big, tot GROUP BY item, tot.n
      HAVING count(*) >= ceil(0.001 * tot.n)
      ORDER BY item""") { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      val items = docs.select(explode(
        graft.functions.TextFunctions.shingleList(col("text"), 2)).as("big"))
      graft.pipeline.Sketches.heavyHitters(items, "big", phi = 0.001)
        .orderBy("item")
    }

    // ---- Count-Min sketch estimates over document word-trigrams (16k+
    //      distinct items into 4x2048 counters — real collisions): the
    //      sketch is built as the MERGE of two independently-built halves
    //      (even/odd doc_id — counter merge is cell-wise sum, so the split
    //      build must EQUAL the one-shot build the oracle replays), and
    //      the gate hash-compares the full estimate table — the hash
    //      family is the same charFold/coeff construction as MinHash, so
    //      DuckDB reproduces every collision deterministically.
    val cmOracleSql = {
      val cjSql = (0 until 4).map(j =>
        s"($j, ${graft.functions.TextFunctions.coeffA(j)}, " +
          s"${graft.functions.TextFunctions.coeffB(j)})").mkString(", ")
      s"""$docPrelude, tri AS (
        SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS item
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g),
      cj(j, a, b) AS (VALUES $cjSql),
      tf AS (SELECT item, ${sqlCharFold("item")} AS f, count(*) AS c
             FROM tri GROUP BY item),
      cells AS (SELECT cj.j AS j,
          CAST(((cj.a * tf.f + cj.b) % 1000000007) % 2048 AS INT) AS bucket,
          sum(tf.c) AS cnt
        FROM tf, cj GROUP BY 1, 2),
      hh AS (SELECT item, f, c AS n_exact FROM tf WHERE c >= 5)
      SELECT hh.item, CAST(min(cells.cnt) AS BIGINT) AS est,
        CAST(hh.n_exact AS BIGINT) AS n_exact,
        min(cells.cnt) >= hh.n_exact AS over_ok
      FROM hh JOIN cj ON true
      JOIN cells ON cells.j = cj.j AND cells.bucket =
        CAST(((cj.a * hh.f + cj.b) % 1000000007) % 2048 AS INT)
      GROUP BY hh.item, hh.n_exact
      ORDER BY item"""
    }
    q("sk_cm_estimate", cmOracleSql) { (s, d) =>
      import graft.pipeline.Sketches
      val docs = s.read.parquet(s"$d/documents.parquet")
      val items = docs.select(col("doc_id"), explode(
        graft.functions.TextFunctions.shingleList(col("text"), 3)).as("item"))
      val sketch = Sketches.cmMerge(
        Sketches.countMin(items.where(col("doc_id") % 2 === 0), "item", 4, 2048),
        Sketches.countMin(items.where(col("doc_id") % 2 =!= 0), "item", 4, 2048))
      val exact = items.groupBy("item").agg(count(lit(1)).as("n_exact"))
        .where(col("n_exact") >= 5)
      Sketches.cmEstimate(sketch, exact.select("item"), "item", 4, 2048)
        .join(exact, "item")
        .select(col("item"), col("est"), col("n_exact"),
          (col("est") >= col("n_exact")).as("over_ok"))
        .orderBy("item")
    }

    // ---- KMV (bottom-k) distinct-cardinality sketch over document
    //      word-bigrams — the set-OPERATION member of the sketch family
    //      (HLL unions only; KMV also intersects). Built as the MERGE of
    //      two independently-built halves (even/odd doc_id): bottom-k of a
    //      union equals bottom-k of the merged bottom-k synopses, so the
    //      split build must EQUAL the one-shot sketch the oracle replays.
    //      All-integer estimator ((k−1)·P div f_(k)) — hash-compared, not
    //      bound-checked; n_exact rides along to show estimate quality.
    //      hash = slot-0 affine mix of charFold — order statistics need
    //      uniformity, see Sketches.kmv's doc
    val kmvFold = s"(${graft.functions.TextFunctions.coeffA(0)} * " +
      s"(${sqlCharFold("item")}) + " +
      s"${graft.functions.TextFunctions.coeffB(0)}) % 1000000007"
    val kmvBigSql = s"""$docPrelude, big AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] AS item
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g),
      fs AS (SELECT DISTINCT $kmvFold AS f FROM big),
      sk AS (SELECT f FROM fs ORDER BY f LIMIT 256)"""
    q("sk_kmv_card", s"""$kmvBigSql,
      agg AS (SELECT count(*) AS n_kept, max(f) AS f_kth FROM sk)
      SELECT CAST(n_kept AS BIGINT) AS n_kept, CAST(f_kth AS BIGINT) AS f_kth,
        CAST(CASE WHEN n_kept < 256 THEN n_kept
          ELSE (CAST(255 AS BIGINT) * 1000000007) // f_kth END AS BIGINT) AS est,
        (SELECT CAST(count(DISTINCT item) AS BIGINT) FROM big) AS n_exact
      FROM agg""") { (s, d) =>
      import graft.pipeline.Sketches
      val docs = s.read.parquet(s"$d/documents.parquet")
      val items = docs.select(col("doc_id"), explode(
        graft.functions.TextFunctions.shingleList(col("text"), 2)).as("item"))
      val sketch = Sketches.kmvMerge(256,
        Sketches.kmv(items.where(col("doc_id") % 2 === 0), "item", 256),
        Sketches.kmv(items.where(col("doc_id") % 2 =!= 0), "item", 256))
      Sketches.kmvCardinality(sketch, 256)
        .crossJoin(items.agg(
          countDistinct(col("item")).cast("long").as("n_exact")))
    }

    // ---- KMV intersection estimate across two corpora (even vs odd
    //      docs' bigram vocabularies): of the union synopsis's k values,
    //      the fraction present in BOTH synopses estimates Jaccard,
    //      scaled by the union-cardinality estimate — two k-row synopses
    //      answer "how much vocabulary do these corpora share" without
    //      re-touching raw history. Exact intersection rides along.
    q("sk_kmv_intersect", s"""$kmvBigSql,
      ska AS (SELECT f FROM (SELECT DISTINCT $kmvFold AS f
        FROM big WHERE doc_id % 2 = 0) ORDER BY f LIMIT 256),
      skb AS (SELECT f FROM (SELECT DISTINCT $kmvFold AS f
        FROM big WHERE doc_id % 2 <> 0) ORDER BY f LIMIT 256),
      u AS (SELECT f FROM (SELECT f FROM ska UNION SELECT f FROM skb)
        ORDER BY f LIMIT 256),
      uc AS (SELECT count(*) AS k_union, max(f) AS f_kth FROM u),
      m AS (SELECT count(*) AS matched FROM u
        WHERE f IN (SELECT f FROM ska) AND f IN (SELECT f FROM skb)),
      eu AS (SELECT k_union, CASE WHEN k_union < 256 THEN k_union
          ELSE (CAST(255 AS BIGINT) * 1000000007) // f_kth END AS est_union
        FROM uc),
      xact AS (SELECT count(*) AS n FROM
        (SELECT DISTINCT item FROM big WHERE doc_id % 2 = 0) a
        JOIN (SELECT DISTINCT item FROM big WHERE doc_id % 2 <> 0) b
        USING (item))
      SELECT CAST(eu.k_union AS BIGINT) AS k_union,
        CAST(m.matched AS BIGINT) AS matched,
        CAST(eu.est_union AS BIGINT) AS est_union,
        CAST((m.matched * eu.est_union) // eu.k_union AS BIGINT)
          AS est_intersection,
        CAST(xact.n AS BIGINT) AS n_exact_intersection
      FROM eu, m, xact""") { (s, d) =>
      import graft.pipeline.Sketches
      val docs = s.read.parquet(s"$d/documents.parquet")
      val items = docs.select(col("doc_id"), explode(
        graft.functions.TextFunctions.shingleList(col("text"), 2)).as("item"))
      val even = items.where(col("doc_id") % 2 === 0)
      val odd = items.where(col("doc_id") % 2 =!= 0)
      val exact = even.select("item").distinct()
        .join(odd.select("item").distinct(), Seq("item"), "left_semi")
        .agg(count(lit(1)).as("n_exact_intersection"))
      Sketches.kmvIntersect(Sketches.kmv(even, "item", 256),
          Sketches.kmv(odd, "item", 256), 256)
        .crossJoin(exact)
    }

    // ---- the PERSISTED KMV path across an admit seam: build the store
    //      on one quarter of the corpus, admit the rest in three batches
    //      with one REPLAYED — bottom-k union is idempotent (bottom-k of
    //      a union = bottom-k of merged bottom-k's), so like the Bloom
    //      store and unlike the additive CM/histogram stores there is no
    //      batch ledger, and the replayed admission must land on the
    //      identical synopsis the sk_kmv_card oracle's ONE-SHOT sketch
    //      produces. Same cardinality output as sk_kmv_card.
    q("sk_kmv_store", s"""$kmvBigSql,
      agg AS (SELECT count(*) AS n_kept, max(f) AS f_kth FROM sk)
      SELECT CAST(n_kept AS BIGINT) AS n_kept, CAST(f_kth AS BIGINT) AS f_kth,
        CAST(CASE WHEN n_kept < 256 THEN n_kept
          ELSE (CAST(255 AS BIGINT) * 1000000007) // f_kth END AS BIGINT) AS est,
        (SELECT CAST(count(DISTINCT item) AS BIGINT) FROM big) AS n_exact
      FROM agg""") { (s, d) =>
      import graft.pipeline.Sketches
      val docs = s.read.parquet(s"$d/documents.parquet")
      val items = docs.select(col("doc_id"), explode(
        graft.functions.TextFunctions.shingleList(col("text"), 2)).as("item"))
      val base = SparkEntry.gateDir("kmv", d)
      val st = graft.store.KmvStore.build(s, s"$base/kmv",
        items.where(col("doc_id") % 4 === 0), "item", k = 256)
      st.admit(items.where(col("doc_id") % 4 === 1))
      st.admit(items.where(col("doc_id") % 4 === 2))
      st.admit(items.where(col("doc_id") % 4 === 2)) // replay: idempotent
      st.admit(items.where(col("doc_id") % 4 === 3))
      st.cardinality
        .crossJoin(items.agg(
          countDistinct(col("item")).cast("long").as("n_exact")))
    }

    // ---- decimal histogram quantile sketch (the DDSketch shape with
    //      string-exact bucketing): per event type, the buckets containing
    //      the rank-q values for q in {0.5, 0.9, 0.99}. Everything stays
    //      in 1e-4 fixed-point integers; the oracle replays the bucketing,
    //      the cumulative pick, AND the exact rank value's containment.
    val histOracleSql = """WITH ev AS (
        SELECT CAST(event_type AS VARCHAR) AS key,
          CAST(round(value * 10000) AS BIGINT) AS iv
        FROM events WHERE value IS NOT NULL),
      eb AS (SELECT key, iv, CAST(abs(iv) AS VARCHAR) AS s FROM ev),
      b AS (SELECT key, CAST(sign(iv) AS INT) AS sgn, length(s) AS nd,
          CAST(substr(s, 1, 2) AS BIGINT) AS p2,
          CAST(substr(s, 1, 2) ||
            repeat('0', greatest(length(s) - 2, 0)) AS BIGINT) AS lo4,
          CAST(CAST(CAST(substr(s, 1, 2) AS BIGINT) + 1 AS VARCHAR) ||
            repeat('0', greatest(length(s) - 2, 0)) AS BIGINT) AS hi4
        FROM eb),
      sk AS (SELECT key, sgn, nd, p2, lo4, hi4, count(*) AS cnt
        FROM b GROUP BY 1, 2, 3, 4, 5, 6),
      tot AS (SELECT key, sum(cnt) AS n FROM sk GROUP BY 1),
      qq(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
        (CAST(0.99 AS DOUBLE))),
      cums AS (SELECT key, sgn, lo4, hi4,
          sum(cnt) OVER (PARTITION BY key ORDER BY sgn, sgn * lo4
            ROWS UNBOUNDED PRECEDING) AS cum FROM sk),
      pick AS (SELECT c.key, qq.q, t.n, c.sgn, c.lo4, c.hi4,
          row_number() OVER (PARTITION BY c.key, qq.q
            ORDER BY c.sgn, c.sgn * c.lo4) AS rk
        FROM cums c JOIN tot t ON c.key = t.key, qq
        WHERE c.cum >= ceil(qq.q * t.n)),
      qb AS (SELECT key, q, n,
          CASE WHEN sgn < 0 THEN -hi4 ELSE sgn * lo4 END AS qlo4,
          CASE WHEN sgn < 0 THEN -lo4 ELSE sgn * hi4 END AS qhi4
        FROM pick WHERE rk = 1),
      rnk AS (SELECT key, iv,
          row_number() OVER (PARTITION BY key ORDER BY iv) AS r FROM ev)
      SELECT qb.key AS event_type, qb.q, CAST(qb.n AS BIGINT) AS n,
        qb.qlo4, qb.qhi4,
        (x.iv BETWEEN qb.qlo4 AND qb.qhi4) AS contains_exact
      FROM qb JOIN rnk x ON x.key = qb.key
        AND x.r = CAST(ceil(qb.q * qb.n) AS BIGINT)
      ORDER BY event_type, q"""

    def histGateResult(s: SparkSession, d: String,
                       qb: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val ranked = readEvents(s, d)
        .where(col("value").isNotNull)
        .select(col("event_type").cast("string").as("key"),
          round(col("value") * 10000).cast("long").as("iv"))
        .withColumn("r",
          row_number().over(Window.partitionBy("key").orderBy("iv")))
      qb.join(ranked,
          ranked("key") === qb("key") &&
            ranked("r") === ceil(qb("q") * qb("n")).cast("long"))
        .select(qb("key").as("event_type"), col("q"), col("n"),
          col("qlo4"), col("qhi4"),
          col("iv").between(col("qlo4"), col("qhi4")).as("contains_exact"))
        .orderBy("event_type", "q")
    }

    q("sk_quantile_hist", histOracleSql) { (s, d) =>
      import graft.pipeline.Sketches
      val ev = readEvents(s, d)
        .where(col("value").isNotNull)
        .select(col("event_type").cast("string").as("key"), col("value"))
      histGateResult(s, d, Sketches.histQuantiles(
        Sketches.histSketch(ev, "key", "value"), Seq(0.5, 0.9, 0.99)))
    }

    // ---- the PERSISTED quantile path across an admit seam: build on the
    //      even user_id half, admit the odd half, replay the same key (the
    //      guard must no-op — bucket counts add), answer from the folded
    //      on-disk buckets. Same oracle: exactly-once + merge linearity
    //      land the persisted path on the one-shot truth.
    q("sk_hist_store", histOracleSql) { (s, d) =>
      val ev = readEvents(s, d)
        .where(col("value").isNotNull)
        .select(col("event_type").cast("string").as("key"), col("value"),
          col("user_id"))
      val base = SparkEntry.gateDir("hist", d)
      val st = graft.store.HistStore.build(s, s"$base/hs",
        ev.where(col("user_id") % 2 === 0), "key", "value")
      st.append(ev.where(col("user_id") % 2 =!= 0), "odd")
      st.append(ev.where(col("user_id") % 2 =!= 0), "odd") // replay: no-op
      histGateResult(s, d, st.quantiles(Seq(0.5, 0.9, 0.99)))
    }

    // ---- partitioned Bloom membership prefilter: the seen half's ids
    //      compress to a set-bit table; every id probes it. The law the
    //      gate hash-checks row by row: NO false negatives (every seen id
    //      probes maybe_seen = true), with false positives deterministic
    //      given the shared hash family — DuckDB replays the exact bit
    //      table, so maybe_seen matches bit for bit, fps included.
    val bloomOracleSql = {
      val cjSql = (0 until 3).map(j =>
        s"($j, ${graft.functions.TextFunctions.coeffA(j)}, " +
          s"${graft.functions.TextFunctions.coeffB(j)})").mkString(", ")
      s"""WITH ids AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s
        FROM documents),
      cj(j, a, b) AS (VALUES $cjSql),
      f AS (SELECT doc_id, ${sqlCharFold("s")} AS fv FROM ids),
      bbits AS (SELECT DISTINCT cj.j * 4096 +
          ((cj.a * f.fv + cj.b) % 1000000007) % 4096 AS bit
        FROM f, cj WHERE f.doc_id % 2 = 0),
      probe AS (SELECT f.doc_id, cj.j * 4096 +
          ((cj.a * f.fv + cj.b) % 1000000007) % 4096 AS bit
        FROM f, cj),
      hits AS (SELECT p.doc_id,
          sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS h
        FROM probe p LEFT JOIN bbits b ON p.bit = b.bit GROUP BY p.doc_id)
      SELECT doc_id, (h = 3) AS maybe_seen, (doc_id % 2 = 0) AS is_seen,
        ((doc_id % 2 <> 0) OR h = 3) AS no_false_negative
      FROM hits ORDER BY doc_id"""
    }
    def bloomGateRow(probed: DataFrame): DataFrame = probed
      .select(col("doc_id"), col("maybe_seen"),
        (col("doc_id") % 2 === 0).as("is_seen"),
        ((col("doc_id") % 2 =!= 0) || col("maybe_seen"))
          .as("no_false_negative"))
      .orderBy("doc_id")
    q("sk_bloom_filter", bloomOracleSql) { (s, d) =>
      import graft.pipeline.Sketches
      val ids = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("doc_id").cast("string").as("s"))
      val bits = Sketches.bloomBits(ids.where(col("doc_id") % 2 === 0), "s",
        k = 3, m = 4096)
      bloomGateRow(Sketches.bloomProbe(ids, "s", bits, k = 3, m = 4096))
    }

    // ---- the PERSISTED Bloom path: the seen set accretes across TWO
    //      admissions (even quarters 0 and 2 of doc_id — together the
    //      even half the oracle expects), one of them replayed — bit-OR
    //      is idempotent, so unlike the CM/histogram stores no batch
    //      ledger is involved and the replay must land on identical bits.
    q("sk_bloom_store", bloomOracleSql) { (s, d) =>
      val ids = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("doc_id").cast("string").as("s"))
      val base = SparkEntry.gateDir("bloom", d)
      val st = graft.store.BloomStore.build(s, s"$base/bf",
        ids.where(col("doc_id") % 4 === 0), "s", k = 3, width = 4096)
      st.admit(ids.where(col("doc_id") % 4 === 2))
      st.admit(ids.where(col("doc_id") % 4 === 2)) // replay: idempotent
      bloomGateRow(st.probe(ids))
    }

    // ---- the PERSISTED Count-Min path across an admit seam: build the
    //      store on the even half, stream-admit the odd half, REPLAY the
    //      same batch key (the guard must no-op — CM counters add, so a
    //      double-landed batch would shift every estimate), then answer
    //      the same estimate query from the folded on-disk counters. The
    //      oracle is the identical one-shot replay: exactly-once admission
    //      + merge linearity land the persisted path on the same counters.
    q("sk_cm_store", cmOracleSql) { (s, d) =>
      import graft.pipeline.Sketches
      val docs = s.read.parquet(s"$d/documents.parquet")
      val items = docs.select(col("doc_id"), explode(
        graft.functions.TextFunctions.shingleList(col("text"), 3)).as("item"))
      val base = SparkEntry.gateDir("cm", d)
      val st = graft.store.CmStore.build(s, s"$base/cm",
        items.where(col("doc_id") % 2 === 0), "item", depth = 4, width = 2048)
      st.append(items.where(col("doc_id") % 2 =!= 0), "odd")
      st.append(items.where(col("doc_id") % 2 =!= 0), "odd") // replayed: no-op
      val exact = items.groupBy("item").agg(count(lit(1)).as("n_exact"))
        .where(col("n_exact") >= 5)
      st.estimate(exact.select("item"), "item")
        .join(exact, "item")
        .select(col("item"), col("est"), col("n_exact"),
          (col("est") >= col("n_exact")).as("over_ok"))
        .orderBy("item")
    }

    // ---- text analysis: token counting
    q("td_token_counts", """SELECT doc_id,
        CAST(len(list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')), ' +'), x -> x <> '')) AS INT) AS n_ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS n_bpe_tokens,
        CAST(floor((length(text) + 3) / 4.0) AS BIGINT) AS est_tokens
      FROM documents ORDER BY doc_id""") { (s, d) =>
      TextAnalysis.withTokenCounts(s.read.parquet(s"$d/documents.parquet"), "text")
        .select("doc_id", "n_ws_tokens", "n_bpe_tokens", "est_tokens")
        .orderBy("doc_id")
    }

    // ---- text analysis: quality features + composite score
    q("td_quality", docPrelude +
      s""", q AS (SELECT doc_id,
        CAST(length(text) AS DOUBLE) AS nchars,
        CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS nalpha,
        CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS npunct,
        CAST(len(toks) AS DOUBLE) AS ntoks,
        CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) AS stophits
      FROM d_toks)
      SELECT doc_id, CAST(nchars AS INT) AS n_chars, CAST(ntoks AS INT) AS n_tokens,
        round(nalpha / nchars, 4) AS alpha_ratio,
        round(npunct / nchars, 4) AS punct_ratio,
        round(stophits / ntoks, 4) AS stopword_ratio,
        round(0.4 * (nalpha / nchars) + 0.3 * (stophits / ntoks) + 0.3 * least(1.0, ntoks / 100.0), 4) AS quality_score
      FROM q ORDER BY doc_id""") { (s, d) =>
      TextAnalysis.withQuality(s.read.parquet(s"$d/documents.parquet"), "text")
        .select("doc_id", "n_chars", "n_tokens", "alpha_ratio", "punct_ratio",
          "stopword_ratio", "quality_score")
        .orderBy("doc_id")
    }

    // ---- Gopher-style rule filters (Rae et al. 2021 A1.1): word-count
    //      band, mean word length, symbol ratio, alpha-word fraction,
    //      stopword presence → keep/drop verdict
    q("td_gopher_rules", docPrelude +
      s""", g AS (SELECT doc_id,
        CAST(len(toks) AS DOUBLE) AS nw,
        CAST(length(regexp_replace(t, ' ', '', 'g')) AS DOUBLE) AS wchars,
        len(list_intersect(list_distinct(toks),
          ['the','a','of','and','to','in','is'])) AS stop_hits,
        CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) AS sym,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS aw
      FROM d_toks)
      SELECT doc_id, CAST(nw AS INT) AS n_words,
        round(wchars / nw, 4) AS mean_wlen,
        CAST(stop_hits AS INT) AS stop_hits,
        round(sym / nw, 4) AS symbol_ratio,
        round(aw / nw, 4) AS alpha_frac,
        (nw >= 50 AND nw <= 100000 AND round(wchars / nw, 4) >= 3.0
          AND round(wchars / nw, 4) <= 10.0 AND round(sym / nw, 4) < 0.1
          AND round(aw / nw, 4) > 0.8 AND stop_hits >= 2) AS keep
      FROM g ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.TextAnalysis.withGopherRules(
        s.read.parquet(s"$d/documents.parquet"), "text")
        .select(col("doc_id"), col("n_words"), col("mean_wlen"),
          col("stop_hits").cast("int").as("stop_hits"), col("symbol_ratio"),
          col("alpha_frac"), col("keep"))
        .orderBy("doc_id")
    }

    // ---- text analysis: PII redaction (emails / IPv4s / phone numbers →
    //      typed placeholders + per-category counts). The synthetic corpus
    //      carries no PII, so the gate enriches the text with
    //      deterministically-derived PII first — both engines compute the
    //      identical enriched string, then the identical redaction
    //      (patterns live in the RE2 ∩ java.util.regex common subset).
    // ---- Unicode NFC normalization (canonical composition — corpus
    //      cleaning's canonicalization step, as a codegen'd Catalyst
    //      expression around java.text.Normalizer): a decomposed suffix
    //      (e+◌́, A+◌̊, o+◌̈) is appended so the gate exercises real
    //      composition on every row; DuckDB's nfc_normalize replays it,
    //      and n_composed pins the exact number of composed pairs
    q("td_nfc_normalize", s"""SELECT doc_id,
        nfc_normalize(text || ' café Ångström') AS norm_text,
        CAST(length(text || ' café Ångström') -
          length(nfc_normalize(text || ' café Ångström'))
          AS INT) AS n_composed
      FROM documents ORDER BY doc_id""") { (s, d) =>
      val suffixed = concat(col("text"), lit(" café Ångström"))
      val norm = graft.functions.VectorExpressions.nfc(suffixed)
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), norm.as("norm_text"),
          (length(suffixed) - length(norm)).cast("int").as("n_composed"))
        .orderBy("doc_id")
    }

    q("td_redact_pii",
      s"""WITH enr AS (SELECT doc_id, text
        || CASE WHEN doc_id % 3 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
        || CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS text2
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
        CAST(len(regexp_extract_all(text2, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ipv4,
        CAST(len(regexp_extract_all(text2, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS INT) AS n_phone,
        regexp_replace(regexp_replace(regexp_replace(text2,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
          '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g') AS redacted
      FROM enr ORDER BY doc_id""") { (s, d) =>
      val id = col("doc_id")
      val enriched = s.read.parquet(s"$d/documents.parquet")
        .withColumn("text2", concat(col("text"),
          when(id % 3 === 0, concat(lit(" reach user"), id.cast("string"),
            lit("@example.com now"))).otherwise(""),
          when(id % 4 === 0, concat(lit(" from 10."),
            (id % 200).cast("string"), lit(".0."),
            (id % 250).cast("string"))).otherwise(""),
          when(id % 5 === 0, concat(lit(" call 555-867-"),
            lpad((id % 10000).cast("string"), 4, "0"))).otherwise("")))
      TextAnalysis.redactPii(enriched, "text2")
        .select("doc_id", "n_email", "n_ipv4", "n_phone", "redacted")
        .orderBy("doc_id")
    }

    // ---- end-to-end curation funnel: fuzzy dedup (keep best) → Gopher
    //      rules → repetition → quality threshold, with per-stage attrition
    //      counts (the composition a real pretraining pipeline audits)
    q("td_curation_funnel", jaccardPairsSql.substring(0,
      jaccardPairsSql.indexOf("SELECT ida AS id_a")) + s"""
      , jp AS (SELECT ida AS a, idb AS b FROM jac WHERE j >= 0.8),
      sp AS (SELECT a AS u, b AS v FROM jp UNION SELECT b, a FROM jp),
      sps AS (SELECT u, v FROM sp UNION SELECT u, u FROM sp),
      lp0 AS (SELECT DISTINCT u AS doc_id, u AS lbl FROM sp),
      $lblIterSql,
      qual AS (SELECT doc_id,
        round(0.4 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text))
          + 0.3 * (CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / len(toks))
          + 0.3 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0), 4) AS qs
        FROM d_toks),
      cid AS (SELECT d.doc_id, coalesce(l.lbl, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN lp6 l ON d.doc_id = l.doc_id),
      kb AS (SELECT c.doc_id,
        (row_number() OVER (PARTITION BY c.cluster_id
           ORDER BY q.qs DESC, c.doc_id) = 1) AS dedup_kept
        FROM cid c JOIN qual q ON c.doc_id = q.doc_id),
      gm AS (SELECT doc_id,
        CAST(len(toks) AS DOUBLE) AS nw,
        CAST(length(regexp_replace(t, ' ', '', 'g')) AS DOUBLE) AS wchars,
        len(list_intersect(list_distinct(toks),
          ['the','a','of','and','to','in','is'])) AS stop_hits,
        CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) AS sym,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS aw
      FROM d_toks),
      gv AS (SELECT doc_id, (nw >= 50 AND nw <= 100000
        AND round(wchars / nw, 4) >= 3.0 AND round(wchars / nw, 4) <= 10.0
        AND round(sym / nw, 4) < 0.1 AND round(aw / nw, 4) > 0.8
        AND stop_hits >= 2) AS gopher_keep FROM gm),
      reps AS (SELECT doc_id,
        list_transform(range(1, greatest(len(toks), 1)),
          i -> toks[i] || ' ' || toks[i+1]) AS g2,
        list_transform(range(1, greatest(len(toks) - 1, 1)),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
      FROM d_toks),
      top2 AS (SELECT doc_id, max(c) AS best, sum(c) AS total FROM (
          SELECT doc_id, gram, count(*) AS c
          FROM (SELECT doc_id, unnest(g2) AS gram FROM reps) GROUP BY 1, 2)
        GROUP BY 1),
      d3 AS (SELECT doc_id, len(g3) AS n3, len(list_distinct(g3)) AS u3
        FROM reps),
      rv AS (SELECT r.doc_id,
        (coalesce(round(CAST(best AS DOUBLE) / total, 4), 0.0) <= 0.20 AND
         (CASE WHEN n3 > 0 THEN round(CAST(n3 - u3 AS DOUBLE) / n3, 4)
               ELSE 0.0 END) <= 0.50) AS repetition_keep
        FROM reps r LEFT JOIN top2 USING (doc_id) LEFT JOIN d3 USING (doc_id)),
      verd AS (SELECT k.doc_id, k.dedup_kept, g.gopher_keep,
          r.repetition_keep, (q.qs >= 0.5) AS quality_keep
        FROM kb k JOIN gv g USING (doc_id) JOIN rv r USING (doc_id)
        JOIN qual q ON k.doc_id = q.doc_id)
      SELECT stage, n_docs FROM (
        SELECT '0_all' AS stage, count(*) AS n_docs FROM verd
        UNION ALL SELECT '1_fuzzy_dedup', count(*) FROM verd WHERE dedup_kept
        UNION ALL SELECT '2_gopher_rules', count(*) FROM verd
          WHERE dedup_kept AND gopher_keep
        UNION ALL SELECT '3_repetition', count(*) FROM verd
          WHERE dedup_kept AND gopher_keep AND repetition_keep
        UNION ALL SELECT '4_quality', count(*) FROM verd
          WHERE dedup_kept AND gopher_keep AND repetition_keep AND quality_keep
      ) ORDER BY stage""") { (s, d) =>
      graft.pipeline.Curation.funnel(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        qualityMin = 0.5).orderBy("stage")
    }

    // ---- end-to-end curated-corpus PUBLISH: exact-dedup keepers →
    //      hash-sharded parquet sink → per-shard manifest census, read BACK
    //      from disk (the gate row is the stored manifest, not the
    //      in-flight aggregate) plus the in-gate integrity check
    //      (validate() recomputes the census from the stored shards — 0
    //      divergent shards ⟹ intact). The oracle replays keeper
    //      selection, the charFold id-hash shard function, and the
    //      whitespace token census — so a wrong shard route, a dropped
    //      row, or a manifest/data divergence all hash-mismatch.
    q("td_corpus_publish", docPrelude +
      s""", cp_fp AS (SELECT doc_id, ${sqlCharFold("t")} AS f FROM d_toks),
      cp_keep AS (SELECT min(doc_id) AS doc_id FROM cp_fp GROUP BY f),
      cp_pub AS (SELECT d.doc_id, d.text FROM documents d
        JOIN cp_keep k ON d.doc_id = k.doc_id),
      cp_sh AS (SELECT doc_id,
          CAST(${sqlCharFold("CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard,
          len(string_split_regex(trim(text), '\\s+')) AS nt FROM cp_pub)
      SELECT shard, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
        true AS intact
      FROM cp_sh GROUP BY shard ORDER BY shard""") { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      val keepers = Dedup.exact(docs, "doc_id", "text")
        .select(col("kept_doc_id").as("doc_id"))
      val dir = SparkEntry.gateDir("corpus", d)
      graft.store.CorpusStore.write(s, dir, docs.join(keepers, "doc_id"),
        "doc_id", "text", nShards = 8)
      val intact =
        graft.store.CorpusStore.validate(s, dir, "doc_id", "text") == 0
      graft.store.CorpusStore.manifest(s, dir)
        .withColumn("intact", lit(intact))
        .orderBy("shard")
    }

    // ---- published-corpus RETIRE (deletion crossing the admit/retire
    //      seam): publish the full corpus, retire doc_id % 5 = 0 (tombstone
    //      + manifest decrement, no shard rewrite), and return the stored
    //      manifest + the validate() integrity bit. The oracle replays the
    //      survivors' shard census from scratch — a ghost row the tombstone
    //      failed to hide, a stale manifest count, or a manifest/data
    //      divergence all hash-mismatch.
    q("corpus_retire", docPrelude +
      s""", cr_sh AS (SELECT doc_id,
          CAST(${sqlCharFold("CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard,
          len(string_split_regex(trim(text), '\\s+')) AS nt
        FROM documents WHERE doc_id % 5 <> 0)
      SELECT shard, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
        true AS intact
      FROM cr_sh GROUP BY shard ORDER BY shard""") { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      val dir = SparkEntry.gateDir("corpret", d)
      graft.store.CorpusStore.write(s, dir, docs, "doc_id", "text",
        nShards = 8)
      graft.store.CorpusStore.retire(s, dir,
        docs.where(col("doc_id") % 5 === 0).select("doc_id"),
        "doc_id", "text")
      val intact =
        graft.store.CorpusStore.validate(s, dir, "doc_id", "text") == 0
      graft.store.CorpusStore.manifest(s, dir)
        .withColumn("intact", lit(intact))
        .orderBy("shard")
    }

    // ---- text analysis: stopword-heuristic language ID
    q("td_langid", docPrelude +
      s""", sc AS (SELECT doc_id, lang, list_distinct(toks) AS dt FROM d_toks),
      s2 AS (SELECT doc_id, lang,
        len(list_intersect(dt, ['the','a','of','and','to','in','is'])) AS s_en,
        len(list_intersect(dt, ['el','la','de','que','y','en','un'])) AS s_es,
        len(list_intersect(dt, ['der','die','und','das','ist','mit','von'])) AS s_de,
        len(list_intersect(dt, ['le','la','les','des','et','du','est'])) AS s_fr
      FROM sc)
      SELECT doc_id, lang,
        CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
             WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
             WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
             WHEN s_fr > 0 THEN 'fr'
             ELSE 'und' END AS pred_lang
      FROM s2 ORDER BY doc_id""") { (s, d) =>
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    }

    // ---- text analysis: document fingerprint (rolling hash)
    q("td_fingerprint", docPrelude +
      s"""SELECT doc_id, ${sqlCharFold("t")} AS fp FROM d_toks ORDER BY doc_id""") {
      (s, d) =>
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }

    // ---- text analysis: Gopher-style repetition filter (Rae et al. 2021
    //      A1.1 — top-2-gram share + duplicate-3-gram share, keep verdict)
    q("td_repetition", docPrelude +
      s""", reps AS (SELECT doc_id,
        list_transform(range(1, greatest(len(toks), 1)),
          i -> toks[i] || ' ' || toks[i+1]) AS g2,
        list_transform(range(1, greatest(len(toks) - 1, 1)),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
      FROM d_toks),
      top2 AS (SELECT doc_id, max(c) AS best, sum(c) AS total FROM (
          SELECT doc_id, gram, count(*) AS c
          FROM (SELECT doc_id, unnest(g2) AS gram FROM reps) GROUP BY 1, 2)
        GROUP BY 1),
      d3 AS (SELECT doc_id, len(g3) AS n3, len(list_distinct(g3)) AS u3
        FROM reps)
      SELECT r.doc_id,
        coalesce(round(CAST(best AS DOUBLE) / total, 4), 0.0) AS top_2gram_frac,
        CASE WHEN n3 > 0
          THEN round(CAST(n3 - u3 AS DOUBLE) / n3, 4) ELSE 0.0
        END AS dup_3gram_frac,
        (coalesce(round(CAST(best AS DOUBLE) / total, 4), 0.0) <= 0.20 AND
         (CASE WHEN n3 > 0 THEN round(CAST(n3 - u3 AS DOUBLE) / n3, 4)
               ELSE 0.0 END) <= 0.50) AS repetition_keep
      FROM reps r LEFT JOIN top2 USING (doc_id) LEFT JOIN d3 USING (doc_id)
      ORDER BY doc_id""") { (s, d) =>
      TextAnalysis.withRepetition(s.read.parquet(s"$d/documents.parquet"), "text")
        .select("doc_id", "top_2gram_frac", "dup_3gram_frac", "repetition_keep")
        .orderBy("doc_id")
    }

    // ---- dedup: cross-document duplicated n-gram spans (exact-substring
    //      census at 6-gram anchors; inverted index, no pairwise join)
    q("dd_shared_ngrams", docPrelude +
      s""", sh AS (SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, greatest(len(toks) - 4, 1)),
          i -> array_to_string(toks[i:i+5], ' ')))) AS gram
      FROM d_toks WHERE len(toks) >= 6),
      df AS (SELECT gram, count(DISTINCT doc_id) AS gram_docs FROM sh GROUP BY 1),
      st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        CAST(sum(CASE WHEN gram_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_spans
        FROM sh JOIN df USING (gram) GROUP BY 1)
      SELECT d.doc_id, coalesce(n_spans, 0) AS n_spans,
        coalesce(shared_spans, 0) AS shared_spans,
        coalesce(round(CAST(shared_spans AS DOUBLE) / n_spans, 4), 0.0) AS shared_frac
      FROM documents d LEFT JOIN st USING (doc_id) ORDER BY doc_id""") { (s, d) =>
      Dedup.sharedNgramStats(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text", n = 6).orderBy("doc_id")
    }

    // ---- dedup: duplicated-span REMOVAL (the acting counterpart of the
    //      census above — Lee et al. 2022 exact-substring scrub): drop every
    //      token position covered by a cross-document 6-gram, reassemble
    //      the survivors in order
    q("dd_span_scrub", docPrelude +
      s""", pg AS (SELECT doc_id, i,
        array_to_string(toks[i:i+5], ' ') AS gram
      FROM d_toks, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 4, 1))) AS i) g
      WHERE len(toks) >= 6),
      gdf AS (SELECT gram FROM pg GROUP BY gram
        HAVING count(DISTINCT doc_id) >= 2),
      cov AS (SELECT DISTINCT pg.doc_id, pg.i + u.u AS p
        FROM pg JOIN gdf USING (gram),
        LATERAL (SELECT unnest(generate_series(0, 5)) AS u) u),
      tp AS (SELECT doc_id, p, toks[CAST(p AS INT)] AS tok
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, CAST(len(toks) AS BIGINT))) AS p) t),
      keptt AS (SELECT tp.doc_id, tp.p, tp.tok FROM tp
        WHERE NOT EXISTS (SELECT 1 FROM cov
          WHERE cov.doc_id = tp.doc_id AND cov.p = tp.p)),
      ka AS (SELECT doc_id, count(*) AS n_kept,
        string_agg(tok, ' ' ORDER BY p) AS cleaned FROM keptt GROUP BY doc_id)
      SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
        CAST(len(d.toks) AS BIGINT) - coalesce(ka.n_kept, 0) AS n_removed,
        coalesce(ka.cleaned, '') AS cleaned
      FROM d_toks d LEFT JOIN ka USING (doc_id) ORDER BY d.doc_id""") {
      (s, d) =>
      Dedup.removeDuplicatedSpans(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text", n = 6, minDf = 2).orderBy("doc_id")
    }

    // ---- corpus search: Okapi BM25 top-k (inverted-index shape; scores
    //      rounded BEFORE ranking so the top-k is hash-stable cross-engine)
    q("srch_bm25_topk", docPrelude +
      s""", base AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d_toks),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM base),
      hits AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(list_filter(toks,
            t -> list_contains(['spark','join','window','fast'], t))) AS term
          FROM base)
        GROUP BY 1, 2, 3),
      dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
        FROM hits GROUP BY 1),
      sc AS (SELECT doc_id, round(sum(
          ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
            (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
        FROM hits JOIN dfreq USING (term) CROSS JOIN stats GROUP BY 1)
      SELECT doc_id, score, CAST(rank AS INT) AS rank FROM (
        SELECT doc_id, score,
          row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
      WHERE rank <= 20 ORDER BY rank""") { (s, d) =>
      Search.bm25TopK(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        Seq("spark", "join", "window", "fast"), k = 20).orderBy("rank")
    }

    // ---- retrieval SERVING: the same BM25 ranking answered from the
    //      PERSISTED inverted index (build on half the corpus, append the
    //      other half — the admission path runs in-gate) — query-term-
    //      pruned postings reads instead of a per-query corpus scan. The
    //      oracle is the full-corpus derivation: hash equality proves the
    //      index path reproduces it exactly across the append seam.
    q("srch_bm25_indexed", docPrelude +
      s""", base AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d_toks),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM base),
      hits AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(list_filter(toks,
            t -> list_contains(['spark','join','window','fast'], t))) AS term
          FROM base)
        GROUP BY 1, 2, 3),
      dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
        FROM hits GROUP BY 1),
      sc AS (SELECT doc_id, round(sum(
          ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
            (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
        FROM hits JOIN dfreq USING (term) CROSS JOIN stats GROUP BY 1)
      SELECT doc_id, score, CAST(rank AS INT) AS rank FROM (
        SELECT doc_id, score,
          row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
      WHERE rank <= 20 ORDER BY rank""") { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      val base = SparkEntry.gateDir("bm25idx", d)
      val st = graft.store.SearchIndexStore.build(s, base,
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text")
      st.append(docs.where(col("doc_id") % 2 =!= 0), "doc_id", "text")
      st.topK(Seq("spark", "join", "window", "fast"), k = 20).orderBy("rank")
    }

    // ---- retrieval DELETION: the same ranking after an admit/RETIRE seam
    //      (build on two thirds, append the rest, retire every doc_id%5==0
    //      — the reindex-loop's deleted files leaving the index). The
    //      oracle derives BM25 over the SURVIVORS from scratch: hash
    //      equality proves tombstoned retirement reproduces a corpus that
    //      never contained the retired docs (idf, avgdl, and ranks all
    //      shift exactly).
    q("srch_bm25_retire", docPrelude +
      s""", base AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl
        FROM d_toks WHERE doc_id % 5 <> 0),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM base),
      hits AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(list_filter(toks,
            t -> list_contains(['spark','join','window','fast'], t))) AS term
          FROM base)
        GROUP BY 1, 2, 3),
      dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
        FROM hits GROUP BY 1),
      sc AS (SELECT doc_id, round(sum(
          ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
            (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
        FROM hits JOIN dfreq USING (term) CROSS JOIN stats GROUP BY 1)
      SELECT doc_id, score, CAST(rank AS INT) AS rank FROM (
        SELECT doc_id, score,
          row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
      WHERE rank <= 20 ORDER BY rank""") { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      val base = SparkEntry.gateDir("bm25ret", d)
      val st = graft.store.SearchIndexStore.build(s, base,
        docs.where(col("doc_id") % 3 =!= 2), "doc_id", "text")
      st.append(docs.where(col("doc_id") % 3 === 2), "doc_id", "text")
      st.retire(docs.where(col("doc_id") % 5 === 0), "doc_id")
      st.topK(Seq("spark", "join", "window", "fast"), k = 20).orderBy("rank")
    }

    // ---- hybrid retrieval: BM25 top-50 fused with embedding-cosine top-50
    //      by reciprocal-rank fusion (1/(60+rank) per list, absent -> 0).
    //      The doc/vec tables share an id space; the query is (terms, vec 7).
    //      Both lists rank on the same rounded/tiebroken discipline as their
    //      standalone gates, and the fused score is a fixed-order two-term
    //      sum rounded before the final rank.
    q("srch_rrf_hybrid", docPrelude +
      s""", base AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d_toks),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM base),
      hits AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(list_filter(toks,
            t -> list_contains(['spark','join','window','fast'], t))) AS term
          FROM base)
        GROUP BY 1, 2, 3),
      dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
        FROM hits GROUP BY 1),
      sc AS (SELECT doc_id, round(sum(
          ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
            (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
        FROM hits JOIN dfreq USING (term) CROSS JOIN stats GROUP BY 1),
      lex AS (SELECT doc_id, lrank FROM (SELECT doc_id,
          row_number() OVER (ORDER BY score DESC, doc_id) AS lrank FROM sc)
        WHERE lrank <= 50),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
      vn AS (SELECT vec_id, vec,
        sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(vec)), i -> vec[i] * vec[i])), (x, y) -> x + y)) AS nrm
      FROM v),
      qv AS (SELECT vec, nrm FROM vn WHERE vec_id = 7 AND nrm > 0),
      cosd AS (SELECT b.vec_id AS doc_id,
          list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(q.vec)), i -> q.vec[i] * b.vec[i])), (x, y) -> x + y) / (q.nrm * b.nrm) AS cos
        FROM vn b, qv q WHERE b.vec_id <> 7 AND b.nrm > 0),
      sem AS (SELECT doc_id, srank FROM (SELECT doc_id,
          row_number() OVER (ORDER BY cos DESC, doc_id) AS srank FROM cosd)
        WHERE srank <= 50),
      fused AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
          round(coalesce(1.0 / (60 + lrank), 0.0) + coalesce(1.0 / (60 + srank), 0.0), 6) AS rrf
        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
      SELECT doc_id, rrf, CAST(rank AS INT) AS rank FROM (
        SELECT doc_id, rrf, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
        FROM fused)
      WHERE rank <= 20 ORDER BY rank""") { (s, d) =>
      Search.hybridTopK(s.read.parquet(s"$d/documents.parquet"),
        s.read.parquet(s"$d/embeddings.parquet"), "doc_id", "text",
        "vec_id", "embedding", Seq("spark", "join", "window", "fast"),
        queryVecId = 7, perList = 50, k = 20).orderBy("rank")
    }

    // ---- statistical-LM quality: per-doc cross-entropy under the corpus
    //      unigram distribution (CCNet-style filter signal)
    q("td_unigram_xent", docPrelude +
      s""", tk AS (SELECT doc_id, unnest(toks) AS term FROM d_toks),
      cnt AS (SELECT term, CAST(count(*) AS DOUBLE) AS tc FROM tk GROUP BY 1),
      tot AS (SELECT sum(tc) AS total FROM cnt)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        round(avg(-ln(tc / total)), 4) AS unigram_xent
      FROM tk JOIN cnt USING (term) CROSS JOIN tot
      GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
      Search.withUnigramXent(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text").orderBy("doc_id")
    }

    // ---- interpolated bigram LM cross-entropy: the word-order-aware step
    //      toward CCNet's n-gram-LM quality filter. λ·P(t|prev) +
    //      (1-λ)·P(t), first token unigram-only; the oracle replays the
    //      lag pairing with list indexing and the identical interpolation
    q("td_bigram_xent", docPrelude +
      s""", bx AS (SELECT doc_id, i AS pos, toks[i] AS term,
          CASE WHEN i > 1 THEN toks[i - 1] END AS prev
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g),
      bxu AS (SELECT term, CAST(count(*) AS DOUBLE) AS tc FROM bx GROUP BY 1),
      bxt AS (SELECT sum(tc) AS total FROM bxu),
      bxb AS (SELECT prev, term, CAST(count(*) AS DOUBLE) AS bc FROM bx
        WHERE prev IS NOT NULL GROUP BY 1, 2)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        round(avg(-ln(CASE WHEN bx.prev IS NULL THEN u.tc / total
          ELSE 0.7 * coalesce(b.bc, 0) / pu.tc + (1.0 - 0.7) * u.tc / total END)), 4)
          AS bigram_xent
      FROM bx JOIN bxu u USING (term)
        LEFT JOIN bxu pu ON bx.prev = pu.term
        LEFT JOIN bxb b ON bx.prev = b.prev AND bx.term = b.term
        CROSS JOIN bxt
      GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
      Search.withBigramXent(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text", lambda = 0.7).orderBy("doc_id")
    }

    // ---- CCNet perplexity bucketing: per-language head/middle/tail tiers
    //      by unigram cross-entropy. Cutoffs are DISCRETE quantiles (first
    //      xent whose per-lang cumulative doc count reaches ceil(n*k/3)) so
    //      the label is a pure comparison on the 4-decimal-rounded value —
    //      no ntile, whose per-language global sort both engines would have
    //      to replay identically AND which single-partitions each language
    //      at scale.
    q("td_xent_buckets", docPrelude +
      s""", tk AS (SELECT doc_id, unnest(toks) AS term FROM d_toks),
      cnt AS (SELECT term, CAST(count(*) AS DOUBLE) AS tc FROM tk GROUP BY 1),
      tot AS (SELECT sum(tc) AS total FROM cnt),
      xe AS (SELECT doc_id, round(avg(-ln(tc / total)), 4) AS x
        FROM tk JOIN cnt USING (term) CROSS JOIN tot GROUP BY doc_id),
      xl AS (SELECT xe.doc_id, d.lang, xe.x
        FROM xe JOIN documents d USING (doc_id)),
      vc AS (SELECT lang, x, count(*) AS c FROM xl GROUP BY 1, 2),
      cm AS (SELECT lang, x,
          sum(c) OVER (PARTITION BY lang ORDER BY x) AS cum FROM vc),
      nn AS (SELECT lang, sum(c) AS n FROM vc GROUP BY 1),
      ct AS (SELECT cm.lang,
          min(CASE WHEN cum >= ceil(n * 1 / 3) THEN x END) AS c1,
          min(CASE WHEN cum >= ceil(n * 2 / 3) THEN x END) AS c2
        FROM cm JOIN nn USING (lang) GROUP BY 1)
      SELECT xl.doc_id, xl.lang, xl.x AS unigram_xent,
        CAST(CASE WHEN xl.x <= c1 THEN 1 WHEN xl.x <= c2 THEN 2
             ELSE 3 END AS INT) AS bucket
      FROM xl JOIN ct USING (lang) ORDER BY doc_id""") { (s, d) =>
      Search.withXentBuckets(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text", "lang", buckets = 3)
        .select("doc_id", "lang", "unigram_xent", "bucket").orderBy("doc_id")
    }

    // ---- TF-IDF keyword extraction: top-3 terms per doc, scores rounded
    //      BEFORE ranking (cross-engine hash-stable), term tiebreak
    q("td_tfidf_topk", docPrelude +
      s""", tk AS (SELECT doc_id, unnest(toks) AS term FROM d_toks),
      tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        FROM tk GROUP BY 1, 2),
      dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS dfv FROM tf GROUP BY 1),
      nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      sc AS (SELECT doc_id, term, round(tf * ln(n_docs / dfv), 4) AS score
        FROM tf JOIN dfx USING (term) CROSS JOIN nd)
      SELECT doc_id, CAST(rank AS INT) AS rank, term, score FROM (
        SELECT doc_id, term, score,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, term) AS rank FROM sc)
      WHERE rank <= 3 ORDER BY doc_id, rank""") { (s, d) =>
      Search.tfidfTopK(s.read.parquet(s"$d/documents.parquet"),
        "doc_id", "text", 3).orderBy("doc_id", "rank")
    }

    // ---- text analysis: corpus-wide most frequent word trigrams (all
    //      occurrences counted — the corpus-statistics face of n-grams)
    q("td_top_ngrams", docPrelude +
      s""", tg AS (SELECT unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
          i -> array_to_string(toks[i:i+2], ' '))) AS gram
        FROM d_toks WHERE len(toks) >= 3),
      cnt AS (SELECT gram, CAST(count(*) AS BIGINT) AS n FROM tg GROUP BY 1)
      SELECT gram, n, CAST(row_number() OVER (ORDER BY n DESC, gram) AS INT) AS rank
      FROM cnt QUALIFY rank <= 25 ORDER BY rank""") { (s, d) =>
      TextAnalysis.topNgrams(s.read.parquet(s"$d/documents.parquet"), "text",
        n = 3, k = 25).orderBy("rank")
    }

    // ---- collocation (phrase) detection: word2phrase scoring with the
    //      score as EXACT scaled-integer division — orderable and
    //      hash-comparable bit-identically across engines (no float in
    //      the pipeline). Top 20 by score, (w1, w2) tiebreak.
    q("td_collocations", docPrelude +
      s""", cu AS (SELECT unnest(toks) AS w FROM d_toks),
      cun AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM cu GROUP BY 1),
      ctot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cu),
      cbg AS (SELECT toks[i] AS w1, toks[i+1] AS w2,
          CAST(count(*) AS BIGINT) AS n_pair
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
        GROUP BY 1, 2 HAVING count(*) > 5),
      csc AS (SELECT w1, w2, n_pair, a.c AS n_w1, b.c AS n_w2, ctot.n AS n_total,
          ((n_pair - 5) * ctot.n * 1000000) // (a.c * b.c) AS score6
        FROM cbg JOIN cun a ON cbg.w1 = a.w JOIN cun b ON cbg.w2 = b.w, ctot)
      SELECT w1, w2, n_pair, n_w1, n_w2, n_total, score6,
        CAST(row_number() OVER (ORDER BY score6 DESC, w1, w2) AS INT) AS rank
      FROM csc QUALIFY rank <= 20 ORDER BY rank""") { (s, d) =>
      TextAnalysis.topCollocations(s.read.parquet(s"$d/documents.parquet"),
        "text", delta = 5, k = 20).orderBy("rank")
    }

    // ---- tokenizer training: BPE merge induction (6 rounds, word-level
    //      symbols). The oracle unrolls the merge loop as CTE chains — each
    //      round re-splits the merged symbol stream, counts adjacent pairs,
    //      takes the deterministic argmax, and regexp-merges it — exactly
    //      the operator's own round structure, so argmax AND the corpus-
    //      wide merge rewriting are both cross-engine checked.
    val bpeRounds = 6
    val bpeIterSql = (1 to bpeRounds).map { k =>
      s"""c$k AS (SELECT tk[i] || ' ' || tk[i+1] AS pair
         FROM (SELECT string_split(txt, ' ') AS tk FROM t${k - 1}) s,
              LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g),
      b$k AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM c$k
         GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
      t$k AS (SELECT regexp_replace(t.txt, '\\b' || b.pair || '\\b',
           replace(b.pair, ' ', '_'), 'g') AS txt FROM t${k - 1} t, b$k b)"""
    }.mkString(",\n      ")
    q("tok_bpe_merges", docPrelude +
      s""", t0 AS (SELECT array_to_string(toks, ' ') AS txt FROM d_toks
           WHERE len(toks) > 0),
      $bpeIterSql
      ${(1 to bpeRounds).map(k =>
        s"SELECT CAST($k AS INT) AS round, pair, n AS n_pairs FROM b$k")
        .mkString("\n      UNION ALL ")}
      ORDER BY round""") { (s, d) =>
      TextAnalysis.bpeMerges(s.read.parquet(s"$d/documents.parquet"), "text",
        rounds = bpeRounds).orderBy("round")
    }

    // ---- tokenizer APPLICATION: encode every document with the learned
    //      merge table — per-doc token budgets (raw vs post-BPE), the number
    //      sequence packing and training-cost accounting consume. The oracle
    //      replays the same induction (doc_id carried through the merge
    //      chain this time) and counts surviving symbols per document.
    val bpeEncIterSql = (1 to bpeRounds).map { k =>
      s"""ec$k AS (SELECT tk[i] || ' ' || tk[i+1] AS pair
         FROM (SELECT string_split(txt, ' ') AS tk FROM e${k - 1}) s,
              LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g),
      eb$k AS (SELECT pair FROM ec$k GROUP BY pair
         ORDER BY count(*) DESC, pair LIMIT 1),
      e$k AS (SELECT doc_id, nraw, regexp_replace(t.txt, '\\b' || b.pair || '\\b',
           replace(b.pair, ' ', '_'), 'g') AS txt FROM e${k - 1} t, eb$k b)"""
    }.mkString(",\n      ")
    q("tok_bpe_encode", docPrelude +
      s""", e0 AS (SELECT doc_id, len(toks) AS nraw,
           array_to_string(toks, ' ') AS txt FROM d_toks WHERE len(toks) > 0),
      $bpeEncIterSql
      SELECT doc_id, CAST(nraw AS BIGINT) AS n_tokens_raw,
        CAST(len(string_split(txt, ' ')) AS BIGINT) AS n_tokens_bpe
      FROM e$bpeRounds ORDER BY doc_id""") { (s, d) =>
      // Encode consumes a PRECOMPUTED merge table (the tokenizer artifact)
      // and applies it in one map-side rank-loop pass per document — plan
      // depth independent of the merge count.
      val docs = s.read.parquet(s"$d/documents.parquet")
      TextAnalysis.bpeEncodeWith(docs, "doc_id", "text",
        TextAnalysis.bpeMerges(docs, "text", rounds = bpeRounds))
        .orderBy("doc_id")
    }

    // ---- WordPiece tokenizer TRAINING (likelihood-ratio merges — the
    //      BERT trainer objective next to BPE's raw-count argmax): per
    //      round the oracle recounts pairs AND unigram symbols, scores
    //      each pair as the exact scaled-integer ⌊n·10¹²/(n_a·n_b)⌋
    //      (HUGEINT in DuckDB, BigInt in Spark — bit-identical), takes the
    //      (score desc, pair asc) argmax above the min-frequency floor,
    //      and regexp-merges it. MATERIALIZED pins each round's tables —
    //      the inlined chain re-evaluates its whole prefix per reference
    //      and goes exponential in rounds.
    val wpRounds = 6
    val wpMinPairs = 3
    def wpIterSql(pfx: String) = (1 to wpRounds).map { k =>
      s"""${pfx}s$k AS MATERIALIZED (SELECT unnest(string_split(txt, ' ')) AS s
         FROM ${pfx}t${k - 1}),
      ${pfx}u$k AS MATERIALIZED (SELECT s, CAST(count(*) AS BIGINT) AS c
         FROM ${pfx}s$k GROUP BY 1),
      ${pfx}c$k AS MATERIALIZED (SELECT tk[i] || ' ' || tk[i+1] AS pair
         FROM (SELECT string_split(txt, ' ') AS tk FROM ${pfx}t${k - 1}) s,
              LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g),
      ${pfx}p$k AS MATERIALIZED (SELECT pair, CAST(count(*) AS BIGINT) AS n
         FROM ${pfx}c$k GROUP BY 1 HAVING count(*) >= $wpMinPairs),
      ${pfx}b$k AS MATERIALIZED (SELECT pair, n,
          CAST((n::HUGEINT * 1000000000000) // (a.c::HUGEINT * b.c::HUGEINT) AS BIGINT) AS score12
        FROM ${pfx}p$k p JOIN ${pfx}u$k a ON string_split(p.pair, ' ')[1] = a.s
                         JOIN ${pfx}u$k b ON string_split(p.pair, ' ')[2] = b.s
        ORDER BY score12 DESC, pair LIMIT 1),
      ${pfx}t$k AS MATERIALIZED (SELECT regexp_replace(t.txt, '\\b' || b.pair || '\\b',
           replace(b.pair, ' ', '_'), 'g') AS txt FROM ${pfx}t${k - 1} t, ${pfx}b$k b)"""
    }.mkString(",\n      ")
    q("tok_wordpiece_merges", docPrelude +
      s""", wpt0 AS (SELECT array_to_string(toks, ' ') AS txt FROM d_toks
           WHERE len(toks) >= 1),
      ${wpIterSql("wp")}
      ${(1 to wpRounds).map(k =>
        s"SELECT CAST($k AS INT) AS round, pair, n AS n_pairs, score12 FROM wpb$k")
        .mkString("\n      UNION ALL ")}
      ORDER BY round""") { (s, d) =>
      graft.pipeline.WordPiece.wordpieceMerges(
        s.read.parquet(s"$d/documents.parquet"), "text",
        rounds = wpRounds, minPairs = wpMinPairs).orderBy("round")
    }

    // ---- WordPiece ENCODE: greedy longest-match against the learned
    //      phrase vocabulary (BERT's tokenizer shape — one left-to-right
    //      scan emitting the longest phrase at each position; contrast
    //      tok_bpe_encode's rank-ordered merge replay). The oracle replays
    //      training, precomputes each position's longest phrase match, and
    //      walks every document with a recursive CTE carrying (pos, n).
    val wpEncodeOracle =
      docPrelude.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", wet0 AS (SELECT array_to_string(toks, ' ') AS txt FROM d_toks
           WHERE len(toks) >= 1),
      ${wpIterSql("we")},
      wev AS MATERIALIZED (SELECT ph, string_split(ph, '_') AS ws,
          len(string_split(ph, '_')) AS plen
        FROM (${(1 to wpRounds).map(k =>
          s"SELECT replace(pair, ' ', '_') AS ph FROM web$k")
          .mkString(" UNION ALL ")})),
      wee0 AS MATERIALIZED (SELECT doc_id, toks, len(toks) AS ntok
        FROM d_toks WHERE len(toks) > 0),
      wemt AS MATERIALIZED (SELECT e.doc_id, g.i AS pos, max(v.plen) AS step
        FROM wee0 e, LATERAL (SELECT unnest(generate_series(1, e.ntok)) AS i) g
        JOIN wev v ON v.plen <= e.ntok - g.i + 1
          AND e.toks[g.i : g.i + v.plen - 1] = v.ws
        GROUP BY 1, 2),
      wew AS (
        SELECT doc_id, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n
        FROM wee0
        UNION ALL
        SELECT w.doc_id, w.pos + coalesce(m.step, 1), w.n + 1
        FROM wew w
        JOIN wee0 e ON e.doc_id = w.doc_id AND w.pos <= e.ntok
        LEFT JOIN wemt m ON m.doc_id = w.doc_id AND m.pos = w.pos)
      SELECT w.doc_id, CAST(e.ntok AS BIGINT) AS n_tokens_raw,
        max(w.n) AS n_tokens_wp
      FROM wew w JOIN wee0 e USING (doc_id)
      GROUP BY 1, 2 ORDER BY doc_id"""
    q("tok_wordpiece_encode", wpEncodeOracle) { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      graft.pipeline.WordPiece.wordpieceEncode(docs, "doc_id", "text",
        graft.pipeline.WordPiece.wordpieceMerges(docs, "text",
          rounds = wpRounds, minPairs = wpMinPairs))
        .orderBy("doc_id")
    }

    // ---- persisted tokenizer artifact: train → atomic publish
    //      (two-rename swap) → reopen → encode FROM THE STORE. The stored
    //      path must land on the identical oracle as the in-memory encode —
    //      a publish that corrupted or reordered the merge table breaks the
    //      hash. (The operational shape: one training job publishes, every
    //      encode job opens.)
    q("tok_vocab_store", wpEncodeOracle) { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      val dir = SparkEntry.gateDir("tokstore", d)
      graft.store.TokenizerStore.save(s, dir,
        graft.pipeline.WordPiece.wordpieceMerges(docs, "text",
          rounds = wpRounds, minPairs = wpMinPairs),
        graft.store.TokenizerStore.KindWordPiece, minPairs = wpMinPairs)
      graft.store.TokenizerStore.open(s, dir)
        .encode(docs, "doc_id", "text").orderBy("doc_id")
    }

    // ---- Unigram-LM tokenizer TRAINING (Kudo 2018; the SentencePiece
    //      trainer objective, hard-EM at word-level symbols): seed every
    //      n-gram ≥ floor, then per EM round Viterbi-segment the corpus
    //      and recount. The oracle replays the Viterbi DP as a recursive
    //      walk carrying the last-3 best scores and a backpointer list —
    //      bit-identical to the Spark DP because the scoring uses NO
    //      float addition: exact casts, one correctly-rounded multiply
    //      per candidate, max, and EXACT power-of-two renormalization
    //      (best < 2^-400 → ×2^400) against underflow. Backtrack and
    //      recount are pure integer ops. Vocab lookups are split per
    //      phrase length so every recursive-term join is a pure hash
    //      equality (a combined ON forces a per-iteration NLJ, 30×).
    val uniMinCount = 3
    // `trainWhere` restricts the TRAINING corpus and `src` substitutes the
    // document source (the OOV encode gate trains on a subset of a
    // per-doc-token-bearing rewrite so encode sees genuinely unseen
    // tokens); the walks read d_utoks, so training stays subset-scoped
    def uniPreludeFor(trainWhere: String, src: String = "documents"): String =
      s"""WITH RECURSIVE d_utoks AS MATERIALIZED (
        SELECT doc_id, $sqlToks AS toks FROM $src$trainWhere),
      ugrams AS (
        SELECT toks[g.i] AS phrase, 1 AS plen
        FROM d_utoks, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g
        UNION ALL
        SELECT array_to_string(toks[g.i : g.i + 1], ' '), 2
        FROM d_utoks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
        UNION ALL
        SELECT array_to_string(toks[g.i : g.i + 2], ' '), 3
        FROM d_utoks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g
      ),
      ugcnt AS MATERIALIZED (SELECT phrase, plen,
        CAST(count(*) AS BIGINT) AS cnt FROM ugrams GROUP BY 1, 2),
      uv0multi AS (SELECT phrase, CAST(plen AS INT) AS plen, cnt
        FROM ugcnt WHERE plen >= 2 AND cnt >= $uniMinCount
        ORDER BY cnt DESC, phrase LIMIT ${1 << 20}),
      uv0base AS MATERIALIZED (
        SELECT phrase, CAST(plen AS INT) AS plen, cnt
        FROM ugcnt WHERE plen = 1
        UNION ALL SELECT phrase, plen, cnt FROM uv0multi)"""
    val uniPrelude = uniPreludeFor("")
    // per-plen probability splits of a (phrase, plen, cnt) base CTE
    def uniVsplit(pfx: String, base: String): String = (1 to 3).map { l =>
      s"""${pfx}s$l AS MATERIALIZED (SELECT phrase,
        cnt::DOUBLE / (SELECT sum(cnt) FROM $base)::DOUBLE AS p
        FROM $base WHERE plen = $l)"""
    }.mkString(",\n      ")
    // one Viterbi E-step: forward walk + backtrack + usage recount.
    // `src` is the walked corpus (training walks read the — possibly
    // subset-scoped — d_utoks); `oovRestart` replays the engine's encode-
    // face unknown handling: a position where NO candidate phrase is in
    // the vocabulary (greatest = 0, reachable only when walking documents
    // the vocab wasn't trained on) is emitted as its own single-token
    // piece and the carried DP score RESTARTS at 1.0 (Unigram.viterbiPath)
    def uniWalk(pfx: String, v: String, src: String = "d_utoks",
                oovRestart: Boolean = false): String = {
      val bestExpr =
        if (oovRestart)
          """CASE WHEN greatest(c1, c2, c3) = 0.0 THEN CAST(1.0 AS DOUBLE)
                 ELSE greatest(c1, c2, c3) END"""
        else "greatest(c1, c2, c3)"
      val oovArm =
        if (oovRestart)
          "CASE WHEN greatest(c1, c2, c3) = 0.0 THEN CAST(1 AS TINYINT)\n" +
            "                 WHEN c3 = greatest(c1, c2, c3) THEN CAST(3 AS TINYINT)"
        else "CASE WHEN c3 = greatest(c1, c2, c3) THEN CAST(3 AS TINYINT)"
      s"""${pfx}w AS (
        SELECT doc_id, toks, len(toks) AS ntok, 0 AS i,
          CAST(1.0 AS DOUBLE) AS b1, CAST(0.0 AS DOUBLE) AS b2,
          CAST(0.0 AS DOUBLE) AS b3, CAST([] AS TINYINT[]) AS path
        FROM $src WHERE len(toks) > 0
        UNION ALL
        SELECT doc_id, toks, ntok, i + 1,
          CASE WHEN best < pow(2.0, -400) THEN best * pow(2.0, 400) ELSE best END,
          CASE WHEN best < pow(2.0, -400) THEN b1 * pow(2.0, 400) ELSE b1 END,
          CASE WHEN best < pow(2.0, -400) THEN b2 * pow(2.0, 400) ELSE b2 END,
          list_append(path, chosen)
        FROM (
          SELECT q.*, $bestExpr AS best,
            $oovArm
                 WHEN c2 = greatest(c1, c2, c3) THEN CAST(2 AS TINYINT)
                 ELSE CAST(1 AS TINYINT) END AS chosen
          FROM (
            SELECT w.doc_id, w.toks, w.ntok, w.i, w.b1, w.b2, w.b3, w.path,
              coalesce(w.b1 * v1.p, 0.0) AS c1,
              coalesce(w.b2 * v2.p, 0.0) AS c2,
              coalesce(w.b3 * v3.p, 0.0) AS c3
            FROM ${pfx}w w
            LEFT JOIN ${v}s1 v1 ON v1.phrase = w.toks[w.i + 1]
            LEFT JOIN ${v}s2 v2 ON v2.phrase = CASE WHEN w.i >= 1
              THEN array_to_string(w.toks[w.i : w.i + 1], ' ') END
            LEFT JOIN ${v}s3 v3 ON v3.phrase = CASE WHEN w.i >= 2
              THEN array_to_string(w.toks[w.i - 1 : w.i + 1], ' ') END
            WHERE w.i < w.ntok
          ) q
        ) q
      ),
      ${pfx}f AS MATERIALIZED (SELECT doc_id, toks, ntok, path
        FROM ${pfx}w WHERE i = ntok),
      ${pfx}bt AS (
        SELECT doc_id, toks, ntok, ntok AS pos, path,
          CAST(0 AS BIGINT) AS npieces FROM ${pfx}f
        UNION ALL
        SELECT doc_id, toks, ntok, pos - path[pos], path, npieces + 1
        FROM ${pfx}bt WHERE pos > 0
      ),
      ${pfx}use AS MATERIALIZED (
        SELECT array_to_string(toks[pos - path[pos] + 1 : pos], ' ') AS phrase,
          CAST(path[pos] AS INT) AS plen, CAST(count(*) AS BIGINT) AS n
        FROM ${pfx}bt WHERE pos > 0 GROUP BY 1, 2
      )"""
    }
    // M-step: singles floored at max(usage, 1); multis survive iff used
    def uniNextBase(pfx: String, prevBase: String): String =
      s"""${pfx}base AS MATERIALIZED (
        SELECT s.phrase, s.plen, greatest(coalesce(u.n, 0), 1) AS cnt
        FROM $prevBase s LEFT JOIN ${pfx}use u USING (phrase, plen)
        WHERE s.plen = 1
        UNION ALL
        SELECT phrase, plen, n AS cnt FROM ${pfx}use WHERE plen >= 2
      )"""
    val uniTwoRounds = s"""$uniPrelude,
      ${uniVsplit("uv0", "uv0base")},
      ${uniWalk("ur1", "uv0")},
      ${uniNextBase("ur1", "uv0base")},
      ${uniVsplit("uv1", "ur1base")},
      ${uniWalk("ur2", "uv1")},
      ${uniNextBase("ur2", "ur1base")}"""
    q("tok_unigram_train", s"""$uniTwoRounds
      SELECT phrase, CAST(plen AS INT) AS plen, cnt AS n_uses
      FROM ur2base WHERE plen >= 2 ORDER BY phrase""") { (s, d) =>
      SparkEntry.unigramVocabFor(s, d, "all",
        graft.pipeline.Unigram.train(
          s.read.parquet(s"$d/documents.parquet"), "text",
          rounds = 2, maxPhraseLen = 3, minCount = uniMinCount))
        .where(col("plen") >= 2)
        .select(col("phrase"), col("plen").cast("int").as("plen"),
          col("cnt").as("n_uses"))
        .orderBy("phrase")
    }

    // ---- Unigram ENCODE: Viterbi segmentation under the post-EM
    //      probabilities (a third walk in the oracle). Contrast
    //      tok_bpe_encode (merge replay) and tok_wordpiece_encode
    //      (greedy longest-match): unigram picks the GLOBALLY most
    //      probable segmentation, not the locally longest one.
    val uniEncodeOracle = s"""$uniTwoRounds,
      ${uniVsplit("uv2", "ur2base")},
      ${uniWalk("ur3", "uv2")}
      SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens_raw,
        npieces AS n_tokens_uni
      FROM ur3bt WHERE pos = 0 ORDER BY doc_id"""
    q("tok_unigram_encode", uniEncodeOracle) { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      graft.pipeline.Unigram.encode(docs, "doc_id", "text",
        SparkEntry.unigramVocabFor(s, d, "all",
          graft.pipeline.Unigram.train(docs, "text",
            rounds = 2, maxPhraseLen = 3, minCount = uniMinCount)))
        .orderBy("doc_id")
    }

    // ---- persisted unigram artifact: train → atomic publish → reopen →
    //      encode FROM THE STORE, landing on the identical encode oracle
    //      (the tok_vocab_store discipline for the third tokenizer kind)
    q("tok_unigram_store", uniEncodeOracle) { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      val dir = SparkEntry.gateDir("unistore", d)
      graft.store.TokenizerStore.saveUnigram(s, dir,
        SparkEntry.unigramVocabFor(s, d, "all",
          graft.pipeline.Unigram.train(docs, "text",
            rounds = 2, maxPhraseLen = 3, minCount = uniMinCount)))
      graft.store.TokenizerStore.open(s, dir)
        .encode(docs, "doc_id", "text").orderBy("doc_id")
    }

    // ---- Unigram encode with REACHABLE OOV: every document gains a
    //      per-doc token (` q<doc_id>z` — the synthetic corpus draws from
    //      one shared vocabulary, so a mere train-subset split yields ZERO
    //      OOV positions at any SF; measured), the vocab trains on 30% of
    //      the rewritten corpus (doc_id % 10 < 3), publishes through the
    //      store, and encodes ALL documents — the other 70%'s per-doc
    //      tokens are STRUCTURALLY unseen, so the production face's OOV
    //      restart (emit the unknown as its own piece, reset the DP score
    //      to 1.0 — Unigram.viterbiPath) executes on the gate path, not
    //      just in specs. The oracle's final walk replays the restart
    //      (uniWalk oovRestart) over the full corpus against the subset-
    //      trained vocabulary.
    val uniOovSrc = "(SELECT doc_id, text || ' q' || " +
      "CAST(doc_id AS VARCHAR) || 'z' AS text FROM documents) oovsrc"
    val uniOovOracle = s"""${uniPreludeFor(" WHERE doc_id % 10 < 3", uniOovSrc)},
      d_uall AS MATERIALIZED (
        SELECT doc_id, $sqlToks AS toks FROM $uniOovSrc),
      ${uniVsplit("uv0", "uv0base")},
      ${uniWalk("ur1", "uv0")},
      ${uniNextBase("ur1", "uv0base")},
      ${uniVsplit("uv1", "ur1base")},
      ${uniWalk("ur2", "uv1")},
      ${uniNextBase("ur2", "ur1base")},
      ${uniVsplit("uv2", "ur2base")},
      ${uniWalk("ur3", "uv2", src = "d_uall", oovRestart = true)}
      SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens_raw,
        npieces AS n_tokens_uni
      FROM ur3bt WHERE pos = 0 ORDER BY doc_id"""
    q("tok_unigram_encode_oov", uniOovOracle) { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
        .withColumn("text", concat(col("text"), lit(" q"),
          col("doc_id").cast("string"), lit("z")))
      val dir = SparkEntry.gateDir("unioov", d + "#oov")
      graft.store.TokenizerStore.saveUnigram(s, dir,
        SparkEntry.unigramVocabFor(s, d, "oov",
          graft.pipeline.Unigram.train(docs.where(col("doc_id") % 10 < 3),
            "text", rounds = 2, maxPhraseLen = 3, minCount = uniMinCount)))
      graft.store.TokenizerStore.open(s, dir)
        .encode(docs, "doc_id", "text").orderBy("doc_id")
    }

    // ---- training-sequence packing, concat-and-chunk (GPT-style): the
    //      corpus token stream in doc-id order split into 256-token
    //      chunks; the oracle replays the global offset as a window
    //      cumulative sum and the chunk spread as a generate_series
    q("tok_pack_chunks", docPrelude +
      s""", pk AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
        CAST(sum(CAST(len(toks) AS BIGINT)) OVER (ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) - len(toks) AS start_off
        FROM d_toks WHERE len(toks) > 0)
      SELECT doc_id, CAST(g.c AS BIGINT) AS chunk_id,
        CAST(greatest(0, g.c * 256 - start_off) AS BIGINT) AS tok_start,
        CAST(least(n_tok, (g.c + 1) * 256 - start_off)
          - greatest(0, g.c * 256 - start_off) AS BIGINT) AS n_slice
      FROM pk, LATERAL (SELECT unnest(generate_series(start_off // 256,
        (start_off + n_tok - 1) // 256)) AS c) g
      ORDER BY doc_id, chunk_id""") { (s, d) =>
      graft.pipeline.Packing.packChunks(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        seqLen = 256).orderBy("doc_id", "chunk_id")
    }

    // ---- training-sequence packing, boundary-respecting first-fit:
    //      docs (capped at 256 tokens) laid greedily into sequences in id
    //      order within id-mod buckets; the oracle walks each bucket
    //      row-by-row with a recursive CTE carrying the fill state
    q("tok_pack_greedy", s"""WITH RECURSIVE pg AS (
        SELECT doc_id, doc_id % 8 AS bucket,
          least(CAST(len($sqlToks) AS BIGINT), 256) AS n,
          row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        FROM documents WHERE len($sqlToks) > 0),
      walk AS (
        SELECT bucket, rn, doc_id, n, CAST(0 AS BIGINT) AS seq_idx,
          CAST(0 AS BIGINT) AS off_in_seq, n AS fill
        FROM pg WHERE rn = 1
        UNION ALL
        SELECT p.bucket, p.rn, p.doc_id, p.n,
          CASE WHEN w.fill + p.n > 256 THEN w.seq_idx + 1 ELSE w.seq_idx END,
          CASE WHEN w.fill + p.n > 256 THEN CAST(0 AS BIGINT) ELSE w.fill END,
          CASE WHEN w.fill + p.n > 256 THEN p.n ELSE w.fill + p.n END
        FROM walk w JOIN pg p ON p.bucket = w.bucket AND p.rn = w.rn + 1)
      SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, seq_idx, off_in_seq,
        CAST(n AS BIGINT) AS n_tok
      FROM walk ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.Packing.packGreedy(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        seqLen = 256, buckets = 8).orderBy("doc_id")
    }

    // ---- RAG/pretraining chunking: 32-token windows every 8 tokens,
    //      chunk content carried as md5 so the gate output stays bounded
    q("td_chunk_windows", docPrelude +
      s""", tk AS (SELECT doc_id, toks, len(toks) AS n FROM d_toks
        WHERE len(toks) > 0)
      SELECT doc_id, CAST(g.s AS BIGINT) AS start_idx,
        CAST(least(32, n - g.s) AS BIGINT) AS n_tokens,
        md5(array_to_string(list_slice(toks, g.s + 1, least(g.s + 32, n)), ' ')) AS chunk_md5
      FROM tk, LATERAL (SELECT unnest(generate_series(0, CAST(n - 1 AS BIGINT), 8)) AS s) g
      ORDER BY doc_id, start_idx""") { (s, d) =>
      graft.pipeline.TextAnalysis.chunkWindows(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        windowTokens = 32, strideTokens = 8).orderBy("doc_id", "start_idx")
    }

    // ---- C4-style blocklist verdict (presence-based: one blocklisted word
    //      drops the doc). "spark" appears in the corpus so the verdict
    //      genuinely splits; map-side native array ops, zero shuffle.
    q("td_blocklist", docPrelude +
      s"""SELECT doc_id,
        CAST(len(list_intersect(toks, ['spark', 'casino'])) AS INT)
          AS n_blocked_distinct,
        NOT list_has_any(toks, ['spark', 'casino']) AS blocklist_keep
      FROM d_toks ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.TextAnalysis.withBlocklist(
        s.read.parquet(s"$d/documents.parquet"), "text",
        Seq("spark", "casino"))
        .select("doc_id", "n_blocked_distinct", "blocklist_keep")
        .orderBy("doc_id")
    }

    // ---- CCNet/RefinedWeb line-level boilerplate scrub: drop lines whose
    //      trimmed text appears in >= 2 distinct docs, rebuild in order.
    //      TESTDATA docs are single-line and all-distinct, so the oracle's
    //      real check here is the split -> df-count -> anti-join ->
    //      reassemble round-trip (clean_md5 must byte-match per doc);
    //      LineScrubSpec drives the removal semantics on a constructed
    //      multi-line corpus.
    q("td_line_scrub",
      s"""WITH sp AS (SELECT doc_id,
          string_split(text, chr(10)) AS ls FROM documents),
      ln AS (SELECT doc_id, i AS pos, ls[i] AS line
        FROM sp, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) g),
      bo AS (SELECT trim(line) AS key FROM ln WHERE trim(line) <> ''
        GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
      kp AS (SELECT l.doc_id, l.pos, l.line FROM ln l
        LEFT JOIN bo ON trim(l.line) = bo.key WHERE bo.key IS NULL),
      rb AS (SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS m,
        count(*) AS n_kept FROM kp GROUP BY 1)
      SELECT s.doc_id, coalesce(rb.m, md5('')) AS clean_md5,
        CAST(len(s.ls) - coalesce(rb.n_kept, 0) AS BIGINT) AS n_removed
      FROM sp s LEFT JOIN rb USING (doc_id) ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.TextAnalysis.scrubCommonLines(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        minDocs = 2).orderBy("doc_id")
    }

    // ---- deterministic hash sampling (reproducible across runs + engines)
    val idFold = sqlCharFold("CAST(doc_id AS VARCHAR)")
    q("samp_hash_pct",
      s"""SELECT doc_id, lang FROM documents
      WHERE $idFold % 100 < 10 ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.Sampling.hashPercent(
        s.read.parquet(s"$d/documents.parquet"), col("doc_id"), 10)
        .select("doc_id", "lang").orderBy("doc_id")
    }

    // ---- deterministic WEIGHTED sampling without replacement (Efraimidis-
    //      Spirakis keys from the id hash; heavier documents win more
    //      often): one map-side key + TakeOrdered; selection replayed by
    //      the identical -ln(u)/w formula, output re-sorted by id so the
    //      comparison is over the selected SET
    q("samp_weighted",
      s"""SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
          -ln(($idFold + 1) / 1000000008.0) /
            greatest(length(text), 1) AS wk
        FROM documents ORDER BY wk, doc_id LIMIT 50)
      ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.Sampling.weightedTopK(
        s.read.parquet(s"$d/documents.parquet"), col("doc_id"),
        greatest(length(col("text")), lit(1)), k = 50)
        .select("doc_id", "lang").orderBy("doc_id")
    }

    // ---- deterministic train/val/test split assignment (stable under
    //      corpus growth: a doc's split never changes when new docs arrive)
    q("samp_split_assign",
      s"""SELECT doc_id, lang,
        CASE WHEN $idFold % 100 < 80 THEN 'train'
             WHEN $idFold % 100 < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM documents ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.Sampling.splitAssign(
        s.read.parquet(s"$d/documents.parquet"), col("doc_id"),
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select("doc_id", "lang", "split").orderBy("doc_id")
    }

    // ---- deterministic global shuffle (published training order): shard
    //      by id-hash, position by a decorrelated second fold — the same
    //      rows land in the same (shard, pos) on every run and engine
    q("samp_global_shuffle",
      s"""SELECT doc_id,
        CAST($idFold % 8 AS INT) AS shard,
        CAST(row_number() OVER (PARTITION BY $idFold % 8
          ORDER BY ${sqlCharFold("(CAST(doc_id AS VARCHAR) || '#shuf')")}, doc_id)
          AS INT) AS pos
      FROM documents ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.Sampling.globalShuffle(
        s.read.parquet(s"$d/documents.parquet"), col("doc_id"), 8)
        .select("doc_id", "shard", "pos").orderBy("doc_id")
    }

    // ---- deterministic mixture sampling (data mixing): largest corpus
    //      hitting the target lang proportions exactly, bounded by
    //      availability; weights are binary-exact (0.5/0.25/0.25) so the
    //      floor boundaries are bit-identical cross-engine
    q("samp_mixture",
      s"""WITH wt AS (SELECT 'en' AS grp, 0.5 AS p
          UNION ALL SELECT 'es', 0.25 UNION ALL SELECT 'zh', 0.25),
      cnts AS (SELECT lang AS grp, CAST(count(*) AS DOUBLE) AS n
        FROM documents GROUP BY 1),
      j AS (SELECT wt.grp, coalesce(n, 0) AS n, p
        FROM wt LEFT JOIN cnts ON cnts.grp = wt.grp),
      cap AS (SELECT floor(min(n / p)) AS c FROM j),
      takes AS (SELECT grp, floor(c * p) AS tk FROM j CROSS JOIN cap),
      ranked AS (SELECT d.doc_id, d.lang, t.tk,
          row_number() OVER (PARTITION BY d.lang
            ORDER BY $idFold, d.doc_id) AS rn
        FROM documents d JOIN takes t ON d.lang = t.grp)
      SELECT doc_id, lang FROM ranked WHERE rn <= tk ORDER BY doc_id""") {
      (s, d) =>
      graft.pipeline.Sampling.mixture(s.read.parquet(s"$d/documents.parquet"),
          col("lang"), col("doc_id"),
          Map("en" -> 0.5, "es" -> 0.25, "zh" -> 0.25))
        .select("doc_id", "lang").orderBy("doc_id")
    }

    // ---- token-budget mixture (the production mixing contract: budgets in
    //      TOKENS/bytes per source, not documents): per-group prefix scan
    //      in id-hash order, admit while the running size total including
    //      the row stays within budget. The oracle replays the identical
    //      window cumsum; ROWS frame on both sides (doc_id breaks hash
    //      ties, so RANGE==ROWS — pinned anyway).
    q("samp_token_budget",
      s"""WITH tb AS (SELECT 'en' AS grp, 20000 AS bud
          UNION ALL SELECT 'es', 8000 UNION ALL SELECT 'zh', 8000),
      scanned AS (SELECT d.doc_id, d.lang, tb.bud,
          sum(d.n_chars) OVER (PARTITION BY d.lang
            ORDER BY $idFold, d.doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM documents d JOIN tb ON d.lang = tb.grp)
      SELECT doc_id, lang, CAST(cum AS BIGINT) AS cum_size
      FROM scanned WHERE cum <= bud ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.Sampling.tokenBudgetMixture(
          s.read.parquet(s"$d/documents.parquet"),
          col("lang"), col("doc_id"), col("n_chars"),
          Map("en" -> 20000L, "es" -> 8000L, "zh" -> 8000L))
        .select("doc_id", "lang", "cum_size").orderBy("doc_id")
    }

    q("samp_stratified",
      s"""SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
          row_number() OVER (PARTITION BY lang ORDER BY $idFold, doc_id) AS rn
        FROM documents) t
      WHERE rn <= 20 ORDER BY lang, doc_id""") { (s, d) =>
      graft.pipeline.Sampling.stratifiedTopK(
        s.read.parquet(s"$d/documents.parquet"), col("lang"), col("doc_id"), 20)
        .select("doc_id", "lang").orderBy("lang", "doc_id")
    }

    // ---- temperature-scaled mixture targets (q_g ∝ n_g^p, p = 1/τ = 2):
    //      integer power by repeated multiplication so the arithmetic is
    //      exact in doubles on both engines (pow() may differ in the ulp)
    q("samp_temperature",
      s"""WITH cnts AS (SELECT lang AS grp, CAST(count(*) AS DOUBLE) AS n
          FROM documents GROUP BY 1),
      tot AS (SELECT sum(n * n) AS s FROM cnts)
      SELECT grp, CAST(n AS BIGINT) AS n_docs,
        CAST(floor(100000 * (n * n) / s) AS BIGINT) AS target_docs
      FROM cnts CROSS JOIN tot ORDER BY grp""") { (s, d) =>
      graft.pipeline.Sampling.temperatureTargets(
        s.read.parquet(s"$d/documents.parquet"), col("lang"),
        power = 2, budget = 100000L)
        .orderBy("grp")
    }

    // ---- DSIR importance resampling (Xie et al. 2023): hashed-ngram
    //      (uni+bi) bucket models with add-1 smoothing, log-ratio
    //      importance weights target-vs-raw, deterministic top-k. Both
    //      fitted models are 256 rows — broadcast — so scoring is a
    //      map-side join; ln() is engine-IEEE and the sum is 4dp-rounded
    //      (same stability contract as td_unigram_xent).
    val dsirScoreSql =
      s"""ng AS (
        SELECT doc_id, lang, unnest(toks) AS g FROM d_toks
        UNION ALL
        SELECT doc_id, lang, toks[i] || ' ' || toks[i+1] AS g
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) s
      ),
      bk AS (SELECT doc_id, lang, ${sqlCharFold("g")} % 256 AS b FROM ng),
      m AS (SELECT b, count(*) AS rc,
          sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc
        FROM bk GROUP BY 1),
      tot AS (SELECT sum(rc) AS rtot, sum(tc) AS ttot FROM m),
      dlp AS (SELECT b, ln(tc + 1) - ln(ttot + 256) - ln(rc + 1) + ln(rtot + 256) AS dl
        FROM m CROSS JOIN tot),
      bc AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2),
      sc AS (SELECT doc_id, round(sum(c * dl), 4) AS logw
        FROM bc JOIN dlp USING (b) GROUP BY 1),
      wts AS (SELECT d.doc_id, d.lang, coalesce(sc.logw, 0.0) AS dsir_logw
        FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id)"""

    q("dsir_weights", docPrelude +
      s""", $dsirScoreSql
      SELECT doc_id, lang, dsir_logw FROM wts ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.Dsir.withImportance(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        col("lang") === "en", buckets = 256)
        .select("doc_id", "lang", "dsir_logw").orderBy("doc_id")
    }

    q("dsir_resample", docPrelude +
      s""", $dsirScoreSql
      SELECT doc_id, lang, dsir_logw FROM wts
      ORDER BY dsir_logw DESC, doc_id LIMIT 40""") { (s, d) =>
      graft.pipeline.Dsir.resample(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        col("lang") === "en", k = 40, buckets = 256)
        .select("doc_id", "lang", "dsir_logw")
    }

    // ---- multinomial Naive Bayes over hashed n-grams: closed-form
    //      (count-based) fit on the deterministic id-hash train split, so
    //      training AND prediction replay exactly in SQL. The trainable-
    //      classifier step of the pipeline (language ID here) without an
    //      iterative optimizer; model = buckets x classes rows, broadcast.
    val nbSql =
      s"""ng AS (
        SELECT doc_id, lang, unnest(toks) AS g FROM d_toks
        UNION ALL
        SELECT doc_id, lang, toks[i] || ' ' || toks[i+1] AS g
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) s
      ),
      bk AS (SELECT doc_id, lang, ${sqlCharFold("g")} % 256 AS b FROM ng),
      bc AS (SELECT doc_id, lang, b, count(*) AS c FROM bk GROUP BY 1, 2, 3),
      trainb AS (SELECT lang, b, sum(c) AS cc FROM bc
        WHERE $idFold % 100 < 50 GROUP BY 1, 2),
      ctot AS (SELECT lang, sum(cc) AS ct FROM trainb GROUP BY 1),
      nbm AS (SELECT trainb.lang AS clbl, b, ln(cc + 1) - ln(ct + 256) AS lp
        FROM trainb JOIN ctot USING (lang)),
      ntr AS (SELECT lang AS clbl, CAST(count(*) AS DOUBLE) AS n
        FROM documents WHERE $idFold % 100 < 50 GROUP BY 1),
      pri AS (SELECT ntr.clbl,
          ln(n) - ln((SELECT sum(n) FROM ntr)) AS prior,
          -ln(coalesce(ct, 0) + 256) AS absent
        FROM ntr LEFT JOIN ctot ON ctot.lang = ntr.clbl),
      dc AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2),
      nbsc AS (SELECT dc.doc_id, pri.clbl,
          round(pri.prior + sum(dc.c * coalesce(m.lp, pri.absent)), 4) AS nb_score
        FROM dc CROSS JOIN pri
        LEFT JOIN nbm m ON m.clbl = pri.clbl AND m.b = dc.b
        GROUP BY dc.doc_id, pri.clbl, pri.prior),
      nbbare AS (SELECT d.doc_id, pri.clbl, round(pri.prior, 4) AS nb_score
        FROM documents d CROSS JOIN pri
        WHERE d.doc_id NOT IN (SELECT doc_id FROM dc)),
      nball AS (SELECT * FROM nbsc UNION ALL SELECT * FROM nbbare),
      nbpred AS (SELECT doc_id, clbl AS predicted, nb_score,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY nb_score DESC, clbl) AS rn
        FROM nball)"""

    q("nb_langid_predict", docPrelude +
      s""", $nbSql
      SELECT p.doc_id, d.lang, p.predicted, p.nb_score
      FROM nbpred p JOIN documents d USING (doc_id)
      WHERE rn = 1 ORDER BY p.doc_id""") { (s, d) =>
      graft.pipeline.NaiveBayesText.fitPredict(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text", "lang",
        trainPct = 50, buckets = 256)
        .select("doc_id", "lang", "predicted", "nb_score").orderBy("doc_id")
    }

    q("nb_confusion", docPrelude +
      s""", $nbSql
      SELECT d.lang, p.predicted, count(*) AS n
      FROM nbpred p JOIN documents d USING (doc_id)
      WHERE rn = 1 GROUP BY 1, 2 ORDER BY lang, predicted""") { (s, d) =>
      val pred = graft.pipeline.NaiveBayesText.fitPredict(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text", "lang",
        trainPct = 50, buckets = 256)
      graft.pipeline.NaiveBayesText.confusion(pred, "lang")
        .orderBy("lang", "predicted")
    }

    // ---- sequence packing: boundary-aligned token-budget packs per shard
    q("pack_sequential", """WITH p AS (
        SELECT doc_id, source,
          CAST(floor((length(text) + 3) / 4.0) AS BIGINT) AS est_tokens
        FROM documents
      ), c AS (
        SELECT doc_id, source, est_tokens,
          sum(est_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - est_tokens
            AS start_tok
        FROM p
      )
      SELECT doc_id, source, est_tokens,
        CAST(start_tok // 512 AS BIGINT) AS pack_id,
        CAST(start_tok % 512 AS BIGINT) AS pack_offset
      FROM c ORDER BY source, doc_id""") { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("source"),
          floor((length(col("text")) + 3) / 4.0).cast("long").as("est_tokens"))
      graft.pipeline.Packing.sequentialPacks(docs, col("source"),
        col("doc_id"), col("est_tokens"), budget = 512)
        .orderBy("source", "doc_id")
    }

    // ---- benchmark-contamination check: corpus docs sharing any word
    //      4-gram with the "benchmark" slice (doc_id < 10)
    q("td_contamination", docPrelude + s""", sh4 AS (
        SELECT doc_id, ${(0 until 4).map(k => s"toks[i+$k]").mkString(" || ' ' || ")} AS shingle
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 3)) AS i) g
      ), sh4d AS (SELECT DISTINCT doc_id, shingle FROM sh4),
      bsh AS (SELECT DISTINCT shingle FROM sh4d WHERE doc_id < 10)
      SELECT d.doc_id, count(*) AS n_shared
      FROM sh4d d JOIN bsh USING (shingle)
      WHERE d.doc_id >= 10
      GROUP BY d.doc_id ORDER BY doc_id""") { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      Dedup.benchmarkOverlap(docs.where(col("doc_id") >= 10), "doc_id", "text",
        docs.where(col("doc_id") < 10), "text", n = 4)
        .orderBy("doc_id")
    }

    // ---- END-TO-END curation-pipeline rehearsal: the full LLM-data DAG
    //      (scrub → gopher/quality/langid → exact dedup → incremental
    //      MinHash dedup against a PERSISTED index + within-batch clusters
    //      → contamination → DSIR resample → BPE train+encode → per-shard
    //      pack → publish to CorpusStore behind an expectations gate) as
    //      ONE orchestrated job. New batch = doc_id % 5 <> 0; history (the
    //      already-admitted persisted index) = doc_id % 5 = 0; benchmark =
    //      doc_id < 10 raw. The gate row is the per-shard summary read
    //      BACK from the published store (census, BPE token budget, pack
    //      count, content checksum, integrity + expectations verdicts) —
    //      the oracle replays every stage in SQL, so a wrong verdict in
    //      ANY stage shifts the surviving set and hash-mismatches.
    val e2eStop = "['the','a','of','and','to','in','is']"
    val e2eLblIter = (1 to 6).map { k =>
      s"""zlp$k AS (SELECT zsps.u AS doc_id, min(r.lbl) AS lbl
         FROM zsps JOIN zlp${k - 1} r ON zsps.v = r.doc_id GROUP BY zsps.u)"""
    }.mkString(",\n      ")
    q("td_pipeline_e2e", docPrelude + s"""
      , znew AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 5 <> 0),
      zsp AS (SELECT doc_id, source, string_split(text, chr(10)) AS ls FROM znew),
      zln AS (SELECT doc_id, i AS pos, ls[i] AS line
        FROM zsp, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) g),
      zbo AS (SELECT trim(line) AS key FROM zln WHERE trim(line) <> ''
        GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
      zkp AS (SELECT l.doc_id, l.pos, l.line FROM zln l
        LEFT JOIN zbo ON trim(l.line) = zbo.key WHERE zbo.key IS NULL),
      zscr AS (SELECT s.doc_id, s.source, coalesce(r.txt, '') AS text
        FROM zsp s LEFT JOIN (SELECT doc_id,
          string_agg(line, chr(10) ORDER BY pos) AS txt
          FROM zkp GROUP BY 1) r USING (doc_id)),
      zstk AS MATERIALIZED (SELECT doc_id, source, text,
        lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')) AS t,
        $sqlToks AS toks FROM zscr),
      zfg AS (SELECT doc_id,
        CAST(len(toks) AS DOUBLE) AS nw,
        CAST(length(regexp_replace(t, ' ', '', 'g')) AS DOUBLE) AS wchars,
        len(list_intersect(list_distinct(toks), $e2eStop)) AS stop_hits,
        CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) AS sym,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS aw,
        CAST(length(text) AS DOUBLE) AS nchars,
        CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS nalpha,
        CAST(len(list_filter(toks, x -> list_contains($e2eStop, x))) AS DOUBLE) AS allstop,
        len(list_intersect(list_distinct(toks), $e2eStop)) AS s_en,
        len(list_intersect(list_distinct(toks), ['el','la','de','que','y','en','un'])) AS s_es,
        len(list_intersect(list_distinct(toks), ['der','die','und','das','ist','mit','von'])) AS s_de,
        len(list_intersect(list_distinct(toks), ['le','la','les','des','et','du','est'])) AS s_fr
        FROM zstk),
      zflt AS (SELECT k.* FROM zstk k JOIN zfg f USING (doc_id)
        WHERE f.nw >= 50 AND f.nw <= 100000
          AND round(f.wchars / f.nw, 4) >= 3.0 AND round(f.wchars / f.nw, 4) <= 10.0
          AND round(f.sym / f.nw, 4) < 0.1 AND round(f.aw / f.nw, 4) > 0.8
          AND f.stop_hits >= 2
          AND round(0.4 * (f.nalpha / f.nchars) + 0.3 * (f.allstop / f.nw)
            + 0.3 * least(1.0, f.nw / 100.0), 4) >= 0.5
          AND f.s_en >= f.s_es AND f.s_en >= f.s_de AND f.s_en >= f.s_fr
          AND f.s_en > 0),
      zek AS (SELECT min(doc_id) AS doc_id FROM
        (SELECT doc_id, ${sqlCharFold("t")} AS f FROM zflt) GROUP BY f),
      zex AS MATERIALIZED (SELECT zflt.* FROM zflt JOIN zek USING (doc_id)),
      zallt AS (SELECT doc_id, toks FROM zex
        UNION ALL SELECT doc_id, toks FROM d_toks WHERE doc_id % 5 = 0),
      zsh AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM zallt, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g),
      zshd AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM zsh),
      zsizes AS (SELECT doc_id, count(*) AS n FROM zshd GROUP BY doc_id),
      zcommon AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
        FROM zshd a JOIN zshd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      zjac AS MATERIALIZED (SELECT ida, idb FROM
        (SELECT ida, idb, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
         FROM zcommon JOIN zsizes sa ON ida = sa.doc_id
           JOIN zsizes sb ON idb = sb.doc_id)
        WHERE j >= 0.8),
      zxd AS MATERIALIZED (SELECT DISTINCT
        CASE WHEN ida % 5 = 0 THEN idb ELSE ida END AS doc_id
        FROM zjac WHERE (ida % 5 = 0) <> (idb % 5 = 0)),
      zjp AS (SELECT ida AS a, idb AS b FROM zjac
        WHERE ida % 5 <> 0 AND idb % 5 <> 0
          AND ida NOT IN (SELECT doc_id FROM zxd)
          AND idb NOT IN (SELECT doc_id FROM zxd)),
      zsp2 AS (SELECT a AS u, b AS v FROM zjp UNION SELECT b, a FROM zjp),
      zsps AS MATERIALIZED (SELECT u, v FROM zsp2 UNION SELECT u, u FROM zsp2),
      zlp0 AS (SELECT DISTINCT u AS doc_id, u AS lbl FROM zsps),
      $e2eLblIter,
      zwd AS (SELECT doc_id FROM zlp6 WHERE lbl <> doc_id),
      zdd AS MATERIALIZED (SELECT * FROM zex
        WHERE doc_id NOT IN (SELECT doc_id FROM zxd)
          AND doc_id NOT IN (SELECT doc_id FROM zwd)),
      zds4 AS (SELECT DISTINCT doc_id,
        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS shingle
        FROM zdd, LATERAL (SELECT unnest(generate_series(1, len(toks) - 3)) AS i) g),
      zbs4 AS (SELECT DISTINCT
        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS shingle
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 3)) AS i) g
        WHERE doc_id < 10),
      zcd AS (SELECT DISTINCT d.doc_id FROM zds4 d JOIN zbs4 USING (shingle)),
      zcl AS MATERIALIZED (SELECT * FROM zdd
        WHERE doc_id NOT IN (SELECT doc_id FROM zcd)),
      zng AS (SELECT doc_id, source, unnest(toks) AS g FROM zcl
        UNION ALL
        SELECT doc_id, source, toks[i] || ' ' || toks[i+1] AS g
        FROM zcl, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) s),
      zbk AS MATERIALIZED (SELECT doc_id, source, ${sqlCharFold("g")} % 256 AS b FROM zng),
      zm AS (SELECT b, count(*) AS rc,
        sum(CASE WHEN source IN ('src0','src1','src2','src3','src4')
          THEN 1 ELSE 0 END) AS tc
        FROM zbk GROUP BY 1),
      ztot AS (SELECT sum(rc) AS rtot, sum(tc) AS ttot FROM zm),
      zdlp AS (SELECT b, ln(tc + 1) - ln(ttot + 256) - ln(rc + 1) + ln(rtot + 256) AS dl
        FROM zm CROSS JOIN ztot),
      zbc AS (SELECT doc_id, b, count(*) AS c FROM zbk GROUP BY 1, 2),
      zsc AS (SELECT doc_id, round(sum(c * dl), 4) AS logw
        FROM zbc JOIN zdlp USING (b) GROUP BY 1),
      zsamp AS (SELECT c.doc_id FROM zcl c LEFT JOIN zsc USING (doc_id)
        ORDER BY coalesce(zsc.logw, 0.0) DESC, c.doc_id LIMIT 80),
      zpub AS MATERIALIZED (SELECT zcl.* FROM zcl JOIN zsamp USING (doc_id)),
      e0 AS (SELECT doc_id, len(toks) AS nraw, array_to_string(toks, ' ') AS txt
        FROM zpub WHERE len(toks) > 0),
      $bpeEncIterSql,
      zenc AS (SELECT doc_id, CAST(len(string_split(txt, ' ')) AS BIGINT) AS nbpe
        FROM e$bpeRounds),
      zsh8 AS MATERIALIZED (SELECT p.doc_id, p.text,
        CAST(${sqlCharFold("CAST(p.doc_id AS VARCHAR)")} % 8 AS INT) AS shard,
        len(string_split_regex(trim(p.text), '\\s+')) AS nt,
        e.nbpe, ${sqlCharFold("p.text")} AS cs
        FROM zpub p JOIN zenc e USING (doc_id)),
      zpk AS (SELECT shard, doc_id, nbpe,
        sum(nbpe) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) - nbpe AS st
        FROM zsh8),
      znp AS (SELECT shard, count(DISTINCT st // 256) AS n_packs FROM zpk GROUP BY 1)
      SELECT s.shard, count(*) AS n_docs, CAST(sum(s.nt) AS BIGINT) AS n_tokens,
        CAST(sum(s.nbpe) AS BIGINT) AS n_bpe_tokens,
        CAST(max(np.n_packs) AS BIGINT) AS n_packs,
        CAST(sum(s.cs) AS BIGINT) AS checksum,
        true AS intact, true AS expect_ok
      FROM zsh8 s JOIN znp np USING (shard)
      GROUP BY s.shard ORDER BY s.shard""") { (s, d) =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      val base = SparkEntry.gateDir("e2e", d)
      val idx = graft.store.DedupIndexStore.build(s, s"$base/idx",
        docs.where(col("doc_id") % 5 === 0), "doc_id", "text")
      graft.pipeline.CurationPipeline.run(s,
        docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text",
        benchmark = docs.where(col("doc_id") < 10), benchTextCol = "text",
        dsirTarget = col("source").isin("src0", "src1", "src2", "src3", "src4"),
        index = idx, publishDir = s"$base/pub",
        cfg = graft.pipeline.CurationPipeline.Config(dsirK = 80)).summary
    }

    // ---- STREAMING curation ingest: the cleaning half of the DAG
    //      (scrub → gopher/quality/langid → exact dedup → incremental
    //      MinHash vs the persisted index → contamination) run as TWO
    //      sequential micro-batches through StreamingCuration.processBatch,
    //      each publishing its survivors and admitting them into the dedup
    //      index so batch 2's new×seen stage sees batch 1's output. The
    //      gate row joins the store MANIFEST (exercising the nShards-row
    //      incremental merge across two admissions) with a recounted
    //      checksum; the oracle replays both batches in order — a wrong
    //      verdict in any stage of either batch, or a manifest-merge
    //      error, shifts the census and hash-mismatches. History = doc_id
    //      % 5 = 0 (pre-admitted, the FULL slice — the cross-batch seam
    //      needs the planted near-dup structure); batches = doc_id % 4 = 0
    //      and % 4 = 1 among new ids (half the new corpus — the seam
    //      semantics are per-doc, so the slice keeps the bench cost of a
    //      SECOND composed-DAG gate proportionate; td_pipeline_e2e already
    //      carries the full-corpus composed cost).
    val wStop = "['the','a','of','and','to','in','is']"
    def wBatchSql(sfx: Int, parity: Int, seenToksRel: String): String = {
      val lblIter = (1 to 6).map { k =>
        s"""wlp$sfx$k AS (SELECT wsps$sfx.u AS doc_id, min(r.lbl) AS lbl
           FROM wsps$sfx JOIN wlp$sfx${k - 1} r ON wsps$sfx.v = r.doc_id
           GROUP BY wsps$sfx.u)"""
      }.mkString(",\n      ")
      s"""
      wnew$sfx AS (SELECT doc_id, text FROM documents
        WHERE doc_id % 5 <> 0 AND doc_id % 4 = $parity),
      wsp$sfx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM wnew$sfx),
      wln$sfx AS (SELECT doc_id, i AS pos, ls[i] AS line
        FROM wsp$sfx, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) g),
      wbo$sfx AS (SELECT trim(line) AS key FROM wln$sfx WHERE trim(line) <> ''
        GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
      wkp$sfx AS (SELECT l.doc_id, l.pos, l.line FROM wln$sfx l
        LEFT JOIN wbo$sfx ON trim(l.line) = wbo$sfx.key WHERE wbo$sfx.key IS NULL),
      wscr$sfx AS (SELECT s.doc_id, coalesce(r.txt, '') AS text
        FROM wsp$sfx s LEFT JOIN (SELECT doc_id,
          string_agg(line, chr(10) ORDER BY pos) AS txt
          FROM wkp$sfx GROUP BY 1) r USING (doc_id)),
      wstk$sfx AS MATERIALIZED (SELECT doc_id, text,
        lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')) AS t,
        $sqlToks AS toks FROM wscr$sfx),
      wfg$sfx AS (SELECT doc_id,
        CAST(len(toks) AS DOUBLE) AS nw,
        CAST(length(regexp_replace(t, ' ', '', 'g')) AS DOUBLE) AS wchars,
        len(list_intersect(list_distinct(toks), $wStop)) AS stop_hits,
        CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) AS sym,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS aw,
        CAST(length(text) AS DOUBLE) AS nchars,
        CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS nalpha,
        CAST(len(list_filter(toks, x -> list_contains($wStop, x))) AS DOUBLE) AS allstop,
        len(list_intersect(list_distinct(toks), $wStop)) AS s_en,
        len(list_intersect(list_distinct(toks), ['el','la','de','que','y','en','un'])) AS s_es,
        len(list_intersect(list_distinct(toks), ['der','die','und','das','ist','mit','von'])) AS s_de,
        len(list_intersect(list_distinct(toks), ['le','la','les','des','et','du','est'])) AS s_fr
        FROM wstk$sfx),
      wflt$sfx AS (SELECT k.* FROM wstk$sfx k JOIN wfg$sfx f USING (doc_id)
        WHERE f.nw >= 50 AND f.nw <= 100000
          AND round(f.wchars / f.nw, 4) >= 3.0 AND round(f.wchars / f.nw, 4) <= 10.0
          AND round(f.sym / f.nw, 4) < 0.1 AND round(f.aw / f.nw, 4) > 0.8
          AND f.stop_hits >= 2
          AND round(0.4 * (f.nalpha / f.nchars) + 0.3 * (f.allstop / f.nw)
            + 0.3 * least(1.0, f.nw / 100.0), 4) >= 0.5
          AND f.s_en >= f.s_es AND f.s_en >= f.s_de AND f.s_en >= f.s_fr
          AND f.s_en > 0),
      wek$sfx AS (SELECT min(doc_id) AS doc_id FROM
        (SELECT doc_id, ${sqlCharFold("t")} AS f FROM wflt$sfx) GROUP BY f),
      wex$sfx AS MATERIALIZED (SELECT wflt$sfx.* FROM wflt$sfx JOIN wek$sfx USING (doc_id)),
      wshd$sfx AS MATERIALIZED (SELECT DISTINCT doc_id,
        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM wex$sfx, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g),
      wsz$sfx AS (SELECT doc_id, count(*) AS n FROM wshd$sfx GROUP BY doc_id),
      wseen$sfx AS MATERIALIZED (SELECT DISTINCT doc_id,
        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM $seenToksRel, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g),
      wssz$sfx AS (SELECT doc_id, count(*) AS n FROM wseen$sfx GROUP BY doc_id),
      wxc$sfx AS (SELECT a.doc_id AS ida, s.doc_id AS idb, count(*) AS c
        FROM wshd$sfx a JOIN wseen$sfx s USING (shingle) GROUP BY 1, 2),
      wxd$sfx AS MATERIALIZED (SELECT DISTINCT ida AS doc_id FROM
        (SELECT ida, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
         FROM wxc$sfx JOIN wsz$sfx sa ON ida = sa.doc_id
           JOIN wssz$sfx sb ON idb = sb.doc_id)
        WHERE j >= 0.8),
      wjc$sfx AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
        FROM wshd$sfx a JOIN wshd$sfx b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      wjp$sfx AS (SELECT ida AS a, idb AS b FROM
        (SELECT ida, idb, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
         FROM wjc$sfx JOIN wsz$sfx sa ON ida = sa.doc_id
           JOIN wsz$sfx sb ON idb = sb.doc_id)
        WHERE j >= 0.8
          AND ida NOT IN (SELECT doc_id FROM wxd$sfx)
          AND idb NOT IN (SELECT doc_id FROM wxd$sfx)),
      wsp2$sfx AS (SELECT a AS u, b AS v FROM wjp$sfx UNION SELECT b, a FROM wjp$sfx),
      wsps$sfx AS MATERIALIZED (SELECT u, v FROM wsp2$sfx
        UNION SELECT u, u FROM wsp2$sfx),
      wlp${sfx}0 AS (SELECT DISTINCT u AS doc_id, u AS lbl FROM wsps$sfx),
      $lblIter,
      wwd$sfx AS (SELECT doc_id FROM wlp${sfx}6 WHERE lbl <> doc_id),
      wdd$sfx AS MATERIALIZED (SELECT * FROM wex$sfx
        WHERE doc_id NOT IN (SELECT doc_id FROM wxd$sfx)
          AND doc_id NOT IN (SELECT doc_id FROM wwd$sfx)),
      wd4$sfx AS (SELECT DISTINCT doc_id,
        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS shingle
        FROM wdd$sfx, LATERAL (SELECT unnest(generate_series(1, len(toks) - 3)) AS i) g),
      wcd$sfx AS (SELECT DISTINCT d.doc_id FROM wd4$sfx d JOIN wbs4 USING (shingle)),
      wcl$sfx AS MATERIALIZED (SELECT * FROM wdd$sfx
        WHERE doc_id NOT IN (SELECT doc_id FROM wcd$sfx))"""
    }
    q("td_curation_stream", docPrelude + s"""
      , wbs4 AS MATERIALIZED (SELECT DISTINCT
        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS shingle
        FROM d_toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 3)) AS i) g
        WHERE doc_id < 10),
      whist AS (SELECT doc_id, toks FROM d_toks WHERE doc_id % 5 = 0),
      ${wBatchSql(1, 0, "whist")},
      wseen2src AS (SELECT doc_id, toks FROM whist
        UNION ALL SELECT doc_id, toks FROM wcl1),
      ${wBatchSql(2, 1, "wseen2src")},
      wall AS (SELECT doc_id, text FROM wcl1
        UNION ALL SELECT doc_id, text FROM wcl2),
      wsh8 AS (SELECT doc_id, text,
        CAST(${sqlCharFold("CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard,
        len(string_split_regex(trim(text), '\\s+')) AS nt,
        ${sqlCharFold("text")} AS cs
        FROM wall)
      SELECT shard, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
        CAST(sum(cs) AS BIGINT) AS checksum, true AS intact
      FROM wsh8 GROUP BY shard ORDER BY shard""") { (s, d) =>
      import s.implicits._
      val docs = s.read.parquet(s"$d/documents.parquet")
      val base = SparkEntry.gateDir("cstr", d)
      val idx = graft.store.DedupIndexStore.build(s, s"$base/idx",
        docs.where(col("doc_id") % 5 === 0), "doc_id", "text")
      graft.store.CorpusStore.write(s, s"$base/pub",
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text", nShards = 8)
      val bench = docs.where(col("doc_id") < 10)
      for (parity <- Seq(0L, 1L))
        graft.stream.StreamingCuration.processBatch(
          docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 4 === parity),
          "doc_id", "text", bench, "text", idx, s"$base/pub")
      val intact =
        graft.store.CorpusStore.validate(s, s"$base/pub", "doc_id", "text") == 0
      val sums = graft.store.CorpusStore.docs(s, s"$base/pub")
        .groupBy("shard")
        .agg(sum(graft.functions.TextFunctions.charFold(col("text")))
          .as("checksum"))
      graft.store.CorpusStore.manifest(s, s"$base/pub")
        .join(sums, Seq("shard"))
        .select(col("shard"), col("n_docs"), col("n_tokens"), col("checksum"))
        .withColumn("intact", lit(intact))
        .orderBy("shard")
    }

    // ---- embedding int8 quantization (exploded to scalar rows: integer-
    //      exact cross-engine compare, no float-array hashing)
    q("emb_quantize_int8", s"""$vnSql,
      qv AS (SELECT vec_id,
        list_transform(vec, x -> CAST(round(x / nrm * 127) AS INT)) AS q
        FROM vn WHERE nrm > 0)
      SELECT vec_id, CAST(i - 1 AS INT) AS dim, q[i] AS qval
      FROM qv, LATERAL (SELECT unnest(generate_series(1, len(q))) AS i) g
      ORDER BY vec_id, dim""") { (s, d) =>
      graft.pipeline.Embeddings.quantizeInt8(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding")
        .orderBy("vec_id", "dim")
    }

    // ---- embeddings: per-label centroid table (the seed step of k-means /
    //      the class-prototype table of a labeled corpus)
    q("emb_centroid_by_label", """WITH v AS (
        SELECT label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
      c AS (SELECT label, CAST(i - 1 AS INT) AS dim, avg(vec[i]) AS centroid
        FROM v, LATERAL (SELECT unnest(generate_series(1, len(vec))) AS i) g
        GROUP BY 1, 2)
      SELECT label, dim, round(centroid, 4) AS centroid
      FROM c ORDER BY label, dim""") { (s, d) =>
      graft.pipeline.Embeddings.centroidsByLabel(
        s.read.parquet(s"$d/embeddings.parquet"), "label", "embedding")
        .select(col("label"), col("dim").cast("int").as("dim"),
          round(col("centroid"), 4).as("centroid"))
        .orderBy("label", "dim")
    }

    // ---- embeddings: one Lloyd assignment step against the label
    //      centroids (nearest-centroid classification; ties break by label).
    //      Both sides compute d2 as the same |v|^2+|c|^2-2*v.c expansion.
    q("emb_kmeans_assign", s"""WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
      c0 AS (SELECT label AS clab, i, avg(vec[i]) AS cv
        FROM v, LATERAL (SELECT unnest(generate_series(1, len(vec))) AS i) g
        GROUP BY 1, 2),
      carr AS (SELECT clab, list(cv ORDER BY i) AS cvec FROM c0 GROUP BY 1),
      cn AS (SELECT clab, cvec, ${sqlDotLR("cvec", "cvec")} AS c2 FROM carr),
      vn2 AS (SELECT vec_id, label, vec, ${sqlDotLR("vec", "vec")} AS v2 FROM v),
      scored AS (SELECT vec_id, label, clab,
        v2 + c2 - 2 * ${sqlDotLR("vec", "cvec")} AS d2 FROM vn2 CROSS JOIN cn),
      r AS (SELECT vec_id, label, clab, d2,
        row_number() OVER (PARTITION BY vec_id ORDER BY d2, clab) AS rn
        FROM scored)
      SELECT vec_id, label, clab AS assigned, round(d2, 4) AS dist2
      FROM r WHERE rn = 1 ORDER BY vec_id""") { (s, d) =>
      graft.pipeline.Embeddings.kmeansAssign(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "label", "embedding")
        .orderBy("vec_id")
    }

    // ---- multimodal: binary payload plumbing + stubbed decode features
    q("mm_decode_features", s"""SELECT doc_id AS media_id,
        CAST(length(text) AS BIGINT) AS n_bytes,
        unicode(text[1]) AS head_byte,
        ${sqlCharFold("text", mult = 131)} AS checksum,
        CAST(length(text) % 640 + 1 AS INT) AS fake_width,
        CAST(length(text) % 480 + 1 AS INT) AS fake_height
      FROM documents ORDER BY media_id""") { (s, d) =>
      Multimodal.extractFeatures(Multimodal.fromDocuments(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text", "source"))
        .orderBy("media_id")
    }

    // ---- multimodal: exact payload dedup (the first media-dedup pass at
    //      scale is a bytes-hash groupBy; md5 over the binary payload =
    //      DuckDB md5 over the text whose UTF-8 bytes the payload carries)
    q("mm_exact_dedup", """SELECT md5(text) AS fp,
        CAST(count(*) AS BIGINT) AS n_copies,
        min(doc_id) AS keeper_id
      FROM documents GROUP BY 1 ORDER BY fp""") { (s, d) =>
      Multimodal.exactDupCensus(Multimodal.fromDocuments(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text", "source"))
        .orderBy("fp")
    }

    // ---- multimodal: frame sampling (every 4th 256-byte frame per payload)
    q("mm_frame_sample", s"""SELECT doc_id AS media_id,
        CAST(i - 1 AS INT) AS frame_idx,
        CAST(length(chunk) AS BIGINT) AS frame_bytes,
        ${sqlCharFold("chunk", mult = 131)} AS frame_checksum
      FROM (
        SELECT doc_id, i, substring(text, (i - 1) * 256 + 1, 256) AS chunk
        FROM documents, LATERAL (SELECT unnest(generate_series(1,
          CAST(ceil(length(text) / 256.0) AS INT))) AS i) g
      ) t WHERE (i - 1) % 4 = 0
      ORDER BY media_id, frame_idx""") { (s, d) =>
      Multimodal.sampleFrames(Multimodal.fromDocuments(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text", "source"),
        frameBytes = 256, every = 4)
        .orderBy("media_id", "frame_idx")
    }

    // ---- multimodal: DCT perceptual near-dup pairs — the screen AFTER
    //      mm_exact_dedup's byte hash: the gate plants deterministic
    //      RE-ENCODES (every 50th byte ±1, same length — lossy
    //      re-compression noise, which the md5 screen provably misses)
    //      for every 7th doc and must find exactly those twins. The stub
    //      decode (8x8 chunk byte-sum cells), the scaled-integer 2D
    //      DCT-II, the median threshold, the 9x7 pigeonhole bands, and
    //      the XOR popcount verify are ALL replayed in SQL over the same
    //      integer constants, so the 63-bit hashes and the surviving
    //      pairs match bit-for-bit across engines.
    q("mm_phash_pairs", s"""WITH mb0 AS (SELECT doc_id AS media_id,
        list_transform(generate_series(1, length(text)),
          i -> CAST(unicode(text[i]) AS BIGINT)) AS bs
      FROM documents),
      mb AS (SELECT media_id, bs FROM mb0
        UNION ALL
        SELECT media_id + 10000000, list_transform(generate_series(1, len(bs)),
          i -> CASE WHEN (i - 1) % 50 = 0
               THEN CASE WHEN bs[i] <= 110 THEN bs[i] + 1 ELSE bs[i] - 1 END
               ELSE bs[i] END) AS bs
        FROM mb0 WHERE media_id % 7 = 0),
      mc AS (SELECT media_id, len(bs) AS L, list_transform(generate_series(0, 63),
          j -> coalesce(list_sum(list_slice(bs,
            (j * len(bs)) // 64 + 1, ((j + 1) * len(bs)) // 64)), 0)) AS cells
        FROM mb),
      mt AS (SELECT ${Multimodal.dctTable.mkString("[", ", ", "]")} AS tl),
      mcoef AS (SELECT media_id, list_transform(generate_series(1, 63), k ->
          list_sum(list_transform(generate_series(0, 63), c ->
            cells[c + 1] * tl[(k // 8) * 8 + (c // 8) + 1]
                         * tl[(k % 8) * 8 + (c % 8) + 1]))) AS coefs
        FROM mc CROSS JOIN mt),
      mph AS (SELECT media_id, list_sum(list_transform(generate_series(1, 63),
          k -> CASE WHEN coefs[k] > list_sort(coefs)[32]
               THEN CAST(1 AS BIGINT) << (k - 1) ELSE CAST(0 AS BIGINT) END))
          AS phash
        FROM mcoef),
      pband AS (SELECT media_id, phash, g.b,
          (phash >> (g.b * 7)) % 128 AS key
        FROM mph, LATERAL (SELECT unnest(generate_series(0, 8)) AS b) g)
      SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b,
        CAST(bit_count(xor(x.phash, y.phash)) AS INT) AS dist
      FROM pband x JOIN pband y
        ON x.b = y.b AND x.key = y.key AND x.media_id < y.media_id
      WHERE bit_count(xor(x.phash, y.phash)) <= 8
      ORDER BY id_a, id_b""") { (s, d) =>
      val media = Multimodal.fromDocuments(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text", "source")
      val reenc = Multimodal.reencodeStub(
        media.where(col("media_id") % 7 === 0), idOffset = 10000000L,
        every = 50)
      Multimodal.phashPairs(
        media.select("media_id", "media_type", "payload", "meta")
          .unionByName(reenc),
        maxDist = 8)
        .orderBy("id_a", "id_b")
    }

    // ---- A2 directory-hierarchy derivation (analysis/mod.rs:201-236)
    q("a2_dir_hierarchy", P +
      """SELECT path, parent_path, name, depth FROM (
        SELECT DISTINCT array_to_string(p[1:i], '/') AS path,
               CASE WHEN i > 1 THEN array_to_string(p[1:i-1], '/') END AS parent_path,
               p[i] AS name, CAST(i AS INT) AS depth
        FROM (SELECT string_split(path, '/') AS p FROM g_files) parts,
             LATERAL (SELECT unnest(generate_series(1, len(p) - 1)) AS i) t
      ) u ORDER BY path""") { (s, d) =>
      graft.analyze.Analyzer.deriveDirectories(storeFor(s, d).files)
        .select(col("path"), col("parent_path"), col("name"),
          col("depth").cast("int").as("depth"))
        .orderBy("path")
    }

    // ---- A5 parent-child FQN linking (analysis/mod.rs:510-556)
    q("a5_nesting_links", P +
      """SELECT p.fqn AS parent_fqn, c.fqn AS child_fqn,
        upper(p.definition_type) || '_TO_' || upper(c.definition_type) AS rel_type
      FROM g_defs c
      JOIN g_defs p ON regexp_replace(c.fqn, '\.[^.]*$', '') = p.fqn
      WHERE contains(c.fqn, '.')
      ORDER BY child_fqn""") { (s, d) =>
      graft.analyze.Analyzer.linkNestedDefinitions(storeFor(s, d).definitions)
        .select("parent_fqn", "child_fqn", "rel_type")
        .orderBy("child_fqn")
    }

    // ---- A9 dense deterministic id assignment (mutation/utils.rs:23-163)
    q("a9_id_assignment", P +
      """SELECT row_number() OVER (ORDER BY path) - 1 AS id, path
      FROM g_files ORDER BY id""") { (s, d) =>
      graft.analyze.Analyzer.assignIds(
        storeFor(s, d).files.select("path"), Seq("path"))
        .select("id", "path").orderBy("id")
    }

    // ---- S5/S1 scan with filter+projection pushdown
    q("s5_scan_pushdown",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity >= 45
      ORDER BY l_orderkey, l_linenumber""") { (s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .where(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
          && col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }

    // ---- S6 stats sink (indexer/src/stats.rs:27-100): per-language counts
    q("s6_stats_by_language", P +
      """SELECT f.language, count(*) AS n_files,
        (SELECT count(*) FROM g_defs d JOIN g_files f2 ON d.primary_file_path = f2.path
         WHERE f2.language = f.language) AS n_defs
      FROM g_files f GROUP BY f.language
      ORDER BY f.language""") { (s, d) =>
      val st = storeFor(s, d)
      val perLang = st.files.groupBy("language").agg(count(lit(1)).as("n_files"))
      val defsPerLang = st.definitions.alias("d")
        .join(st.files.alias("f2"), col("d.primary_file_path") === col("f2.path"))
        .groupBy(col("f2.language").as("language2"))
        .agg(count(lit(1)).as("n_defs"))
      perLang.join(defsPerLang, col("language") === col("language2"), "left")
        .select(col("language"), col("n_files"),
          coalesce(col("n_defs"), lit(0L)).as("n_defs"))
        .orderBy("language")
    }
  }
}
