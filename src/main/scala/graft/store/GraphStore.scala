package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** Parquet-backed graph store.
  *
  * The reference writes one Parquet per node table / edge pair and bulk-COPYs
  * them into an embedded Kuzu DB (reference: indexer/src/writer.rs:86-104,
  * database/src/kuzu/connection.rs:114-199). Here the Parquet store itself is
  * the serving layer: tables are written once per index run and read back as
  * DataFrames — no second storage engine.
  *
  * Scale notes (100 TB design rule, SURVEY §7.4):
  *  - edges are written partitioned by `kind` → partition pruning replaces the
  *    reference's 9 physical files;
  *  - node tables are written sorted by their natural key so min/max parquet
  *    stats make point lookups cheap; edges are sorted by every column;
  *  - callers should `.cache()` hot tables for a serving session, exactly as
  *    the reference keeps the Kuzu DB open.
  */
final case class GraphStore(
    directories: DataFrame,
    files: DataFrame,
    definitions: DataFrame,
    importedSymbols: DataFrame,
    edges: DataFrame) {

  /** Undirected-edge view: Cypher `MATCH (a)-[r]-(b)` matches both
    * directions (SURVEY §4.2). Materialized once, reused by Q3/Q7/Q8.
    * The `dir` column distinguishes the original ("out") from the mirrored
    * ("in") orientation for projections that need it.
    */
  lazy val symmetrizedEdges: DataFrame = {
    val out = edges.withColumn("dir", lit("out"))
    val in = edges
      .withColumn("tmp", col("source_id"))
      .withColumn("source_id", col("target_id"))
      .withColumn("target_id", col("tmp"))
      .drop("tmp")
      .withColumn("dir", lit("in"))
    out.unionByName(in)
  }

  def edgesOfKind(kind: String): DataFrame = edges.where(col("kind") === kind)

  // ---- typed Dataset[T] face (model.Nodes; `as[T]` is metadata-only) ----
  import org.apache.spark.sql.{Dataset, Encoders}
  import graft.model.{FileNode, DefinitionNode, EdgeRow}
  def typedFiles: Dataset[FileNode] = files.as(Encoders.product[FileNode])
  def typedDefinitions: Dataset[DefinitionNode] =
    definitions.as(Encoders.product[DefinitionNode])
  def typedEdges: Dataset[EdgeRow] = edges.as(Encoders.product[EdgeRow])

  def registerViews(spark: SparkSession): Unit = {
    directories.createOrReplaceTempView("directory_nodes")
    files.createOrReplaceTempView("file_nodes")
    definitions.createOrReplaceTempView("definition_nodes")
    importedSymbols.createOrReplaceTempView("imported_symbol_nodes")
    edges.createOrReplaceTempView("edges")
  }

  /** Cache every table for a serving session — and REGISTER the caches
    * with [[graft.operators.TransientCache]] (paths auto-extracted from
    * each plan), so a reindex overwriting this store's directory
    * ([[write]] drains its path) cannot leave stale CacheManager
    * fragments to be substituted into post-reindex reads (the
    * FAILED_READ_FILE / silently-pre-swap-rows mode documented on
    * TransientCache).
    */
  def cacheAll(): GraphStore = {
    Seq(directories, files, definitions, importedSymbols, edges,
      symmetrizedEdges).foreach { df =>
      df.cache()
      graft.operators.TransientCache.register(df)
    }
    this
  }

  /** Write the store to `dir` (overwrite). One parquet dir per node table;
    * edges partitioned by kind (reference writes 9 separate files —
    * writer.rs:221-239; partitioning is the Spark-native equivalent).
    */
  def write(dir: String): Unit = {
    directories.sortWithinPartitions("path")
      .write.mode("overwrite").parquet(s"$dir/directory_nodes")
    files.sortWithinPartitions("path")
      .write.mode("overwrite").parquet(s"$dir/file_nodes")
    definitions.sortWithinPartitions("primary_file_path", "start_line")
      .write.mode("overwrite").parquet(s"$dir/definition_nodes")
    importedSymbols.sortWithinPartitions("file_path", "start_line")
      .write.mode("overwrite").parquet(s"$dir/imported_symbol_nodes")
    // every column, `kind` first: one row order for one set of rows (the
    // store is byte-reproducible), and the ordering the kind-partitioned
    // writer needs, so it plans no second sort
    edges.sortWithinPartitions(Schemas.edges.fieldNames.map(col).toIndexedSeq: _*)
      .write.mode("overwrite").partitionBy("kind").parquet(s"$dir/edges")
    // serving-session cache hygiene: a long-lived HTTP/MCP server that
    // reindexes a workspace rewrites these directories while cached plans
    // from earlier requests sit registered — drop the registered fragments
    // over this store so post-reindex reads never substitute a stale
    // listing (refreshByPath alone cannot repair embedded
    // InMemoryRelations; see graft.operators.TransientCache)
    graft.operators.TransientCache.drainPath(dir)
  }
}

object GraphStore {

  /** Link-SAFE recursive delete — the one shared implementation behind
    * store cleanup, workspace deletion and the CLI's `clean`. `Files.walk`
    * does not follow symlinks, so a symlinked directory inside the target
    * is removed as a link without recursing into (and deleting) its target.
    */
  def deleteRecursively(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root,
        java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      } finally s.close()
    }

  /** Read a store previously written with [[GraphStore.write]]. */
  def read(spark: SparkSession, dir: String): GraphStore = GraphStore(
    directories = spark.read.schema(Schemas.directoryNodes).parquet(s"$dir/directory_nodes"),
    files = spark.read.schema(Schemas.fileNodes).parquet(s"$dir/file_nodes"),
    definitions = spark.read.schema(Schemas.definitionNodes).parquet(s"$dir/definition_nodes"),
    importedSymbols = spark.read.schema(Schemas.importedSymbolNodes).parquet(s"$dir/imported_symbol_nodes"),
    edges = spark.read.parquet(s"$dir/edges")
      .select(Schemas.edges.fieldNames.map(col).toIndexedSeq: _*)
  )

  def empty(spark: SparkSession): GraphStore = {
    def e(s: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    GraphStore(e(Schemas.directoryNodes), e(Schemas.fileNodes),
      e(Schemas.definitionNodes), e(Schemas.importedSymbolNodes), e(Schemas.edges))
  }
}
