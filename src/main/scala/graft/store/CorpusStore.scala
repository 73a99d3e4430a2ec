package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.charFold

/** Curated-corpus sink — the OUTPUT face of the training-data pipeline:
  * after curation (dedup keepers, quality verdicts, split assignment), the
  * surviving documents are written as hash-sharded parquet with a
  * machine-readable manifest, the layout a downstream trainer's data
  * loader consumes shard-by-shard.
  *
  *  - Shard = deterministic id-hash mod nShards ([[graft.pipeline.Sampling]]'s
  *    engine-replayable charFold, NOT a row-order-dependent round-robin):
  *    a document's shard never changes as the corpus grows, so incremental
  *    publishes append within shards instead of reshuffling history.
  *  - `partitionBy(shard)` directories; rows sorted by doc id within each
  *    shard so re-reads are deterministic and parquet min/max stats prune
  *    id lookups.
  *  - `manifest/` (one parquet): per-shard rows + token totals, written
  *    from the SAME aggregation pass, so a loader can size epochs and
  *    sanity-check completeness without scanning the data. [[validate]]
  *    recomputes the census from the data and compares — the
  *    end-to-end-integrity check a publish job runs last.
  */
object CorpusStore {

  private def shardOf(idCol: Column, nShards: Int): Column =
    (charFold(idCol.cast("string")) % nShards).cast("int")

  /** Write `docs` (must carry `idCol`, `textCol`) sharded under `dir`.
    * Returns the manifest as a DataFrame (shard, n_docs, n_tokens).
    */
  def write(spark: SparkSession, dir: String, docs: DataFrame,
            idCol: String, textCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val sharded = docs.withColumn("shard", shardOf(col(idCol), nShards))
    // publishes go through the generational flip: a RE-publish over a
    // corpus that was ever appended-to/compacted must not strand legacy
    // files beside live generation dirs (runResumable re-publishes on a
    // crash between the corpus write and its marker)
    StoreCompaction.swapIn(spark, s"$dir/docs",
      sharded.repartition(col("shard")).sortWithinPartitions(col(idCol)),
      Some("shard"))
    val manifest = census(sharded, textCol)
    StoreCompaction.swapIn(spark, s"$dir/manifest", manifest.coalesce(1))
    import spark.implicits._
    Seq(nShards).toDF("n_shards")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/meta")
    graft.operators.TransientCache.drainPath(dir)
    manifest
  }

  private def census(sharded: DataFrame, textCol: String): DataFrame =
    sharded.groupBy("shard").agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(trim(col(textCol)), "\\s+"))
        .cast("long")).as("n_tokens"))

  /** The shard count the corpus was published with. */
  def nShards(spark: SparkSession, dir: String): Int =
    spark.read.parquet(s"$dir/meta").head().getAs[Int]("n_shards")

  /** Admit a new batch into an existing published corpus — the daily
    * incremental publish: parquet APPEND inside the (stable) id-hash
    * shards plus an incremental manifest merge. A document's shard never
    * changes as the corpus grows (the hash ignores corpus state), so
    * appends land within existing shard directories and history is never
    * rewritten; the new manifest is the per-shard SUM of the stored
    * manifest and the batch census — an nShards-row merge, NOT a recount
    * of history — swapped in atomically (write-to-sibling + rename, the
    * [[StoreCompaction]] discipline). Returns the merged manifest.
    * [[graft.stream.StreamingPublish]] is the continuous face. After many
    * admissions, [[compact]] re-clusters shard files.
    *
    * Crash contract: the docs append and the manifest merge are two steps,
    * not one transaction. A crash between them leaves the batch's rows in
    * the shards but not in the manifest — [[validate]] flags the
    * divergence, and [[repair]] rebuilds the manifest from a full recount
    * of the stored shards. Do NOT blindly replay the batch after a crash:
    * the rows are already stored, and a re-append would double them while
    * the census merges once. Replay-safe ingestion should dedup the batch
    * against stored ids first (the [[DedupIndexStore]] exact face) or gate
    * on validate() == 0 before admitting. Re-admitting a RETIRED id is
    * invalid before a [[compact]] (the tombstone hides the new rows) —
    * same contract as [[retire]] documents.
    */
  def append(spark: SparkSession, dir: String, docs: DataFrame,
             idCol: String, textCol: String,
             autoCompactFiles: Int = StoreCompaction.AutoCompactFiles): DataFrame =
      StoreMaintenance.lockFor(dir).synchronized {
    val n = nShards(spark, dir)
    val sharded = docs.withColumn("shard", shardOf(col(idCol), n))
    val target = StoreCompaction.appendTarget(spark, s"$dir/docs")
    sharded
      .repartition(col("shard"))
      .sortWithinPartitions(col(idCol))
      .write.mode(SaveMode.Append).partitionBy("shard")
      .parquet(target)
    spark.catalog.refreshByPath(target)
    val merged = manifest(spark, dir)
      .unionByName(census(sharded, textCol))
      .groupBy("shard").agg(sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"))
    StoreCompaction.swapIn(spark, s"$dir/manifest", merged.coalesce(1))
    graft.operators.TransientCache.drainPath(dir)
    // admission-time maintenance (see StoreCompaction.AutoCompactFiles)
    StoreCompaction.maybeAutoCompact(spark, s"$dir/docs",
      autoCompactFiles, "CorpusStore")(compact(spark, dir, idCol))
    manifest(spark, dir)
  }

  /** Retired doc ids (empty when the table was never created). */
  def retired(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/retired")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) StoreCompaction.read(spark, s"$dir/retired")
    else spark.range(0).select(col("id").as("doc_id"))
  }

  /** Retire published documents (the deletion face — a document withdrawn
    * after publish, e.g. a takedown or a re-curation verdict, must stop
    * reaching the trainer's loader): append the ids to the tombstone
    * table, then decrement the manifest by the retired rows' census so the
    * loader's epoch sizing stays truthful WITHOUT recounting history — the
    * retired rows are found by an id-pruned scan of their (deterministic)
    * shards, an nShards-bounded merge like [[append]]'s. Idempotent:
    * already-retired ids are dropped before either step. A retired id must
    * not be re-admitted before [[compact]] purges its physical rows (the
    * tombstone would hide the new rows too — the terminal-until-compact
    * contract shared with [[DedupIndexStore.retire]]).
    *
    * Crash contract (mirrors [[append]]'s): the tombstone append and the
    * manifest decrement are two steps. A crash between them leaves the
    * docs view already shrunk but the manifest overstated — [[validate]]
    * flags the divergence and [[repair]] rebuilds the manifest from the
    * live docs, which are the source of truth.
    */
  def retire(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String, textCol: String): DataFrame =
      StoreMaintenance.lockFor(dir).synchronized {
      scala.util.Using.resource(graft.operators.BatchScope()) { scope =>
    // materialize BEFORE the append: the anti-join reads the very table
    // the write appends to (self-referencing append otherwise)
    val newIds = scope.checkpoint(ids.select(col(idCol).as("doc_id"))
      .distinct()
      .join(broadcast(retired(spark, dir)), Seq("doc_id"), "left_anti"))
    val goneCensus = scope.checkpoint(census(
      physicalDocs(spark, dir).join(
        broadcast(newIds.withColumnRenamed("doc_id", idCol)), Seq(idCol)),
      textCol))
    val target = StoreCompaction.appendTarget(spark, s"$dir/retired")
    newIds.write.mode(SaveMode.Append).parquet(target)
    spark.catalog.refreshByPath(target)
    val merged = manifest(spark, dir).alias("m")
      .join(goneCensus.alias("g"), Seq("shard"), "left_outer")
      .select(col("shard"),
        (col("m.n_docs") - coalesce(col("g.n_docs"), lit(0L))).as("n_docs"),
        (col("m.n_tokens") - coalesce(col("g.n_tokens"), lit(0L)))
          .as("n_tokens"))
      .where(col("n_docs") > 0)
    StoreCompaction.swapIn(spark, s"$dir/manifest", merged.coalesce(1))
    graft.operators.TransientCache.drainPath(dir)
    manifest(spark, dir)
  }}

  /** Re-cluster accumulated appends: rewrite the shard directories so each
    * holds a compact file set again, preserving the layout and the sorted-
    * by-id property, purging retired documents' physical rows, and
    * dropping the tombstone table (freeing their ids for re-admission).
    * Results are byte-equivalent to a fresh publish of the surviving docs.
    */
  def compact(spark: SparkSession, dir: String,
              idCol: String = "doc_id"): Unit =
      StoreMaintenance.lockFor(dir).synchronized {
      scala.util.Using.resource(graft.operators.BatchScope()) { scope =>
    val gone = scope.checkpoint(retired(spark, dir))
    StoreCompaction.rewritePartitioned(spark, s"$dir/docs", "shard")(
      _.join(broadcast(gone.withColumnRenamed("doc_id", idCol)),
          Seq(idCol), "left_anti")
        .repartition(col("shard")).sortWithinPartitions(col(idCol)))
    StoreCompaction.clearTable(spark, s"$dir/retired")
    graft.operators.TransientCache.drainPath(dir)
  }}

  private def physicalDocs(spark: SparkSession, dir: String): DataFrame =
    StoreCompaction.read(spark, s"$dir/docs")

  /** LIVE view: physical rows minus the retirement tombstones — what the
    * trainer's loader reads. `idCol` names the published id column the
    * tombstones hold.
    */
  def docs(spark: SparkSession, dir: String,
           idCol: String = "doc_id"): DataFrame =
    physicalDocs(spark, dir).join(
      broadcast(retired(spark, dir).withColumnRenamed("doc_id", idCol)),
      Seq(idCol), "left_anti")

  def manifest(spark: SparkSession, dir: String): DataFrame =
    StoreCompaction.read(spark, s"$dir/manifest")

  /** True when the LIVE docs table holds any data file — the guard the
    * streaming admission needs before reading published ids (an
    * empty-seeded store's docs read would fail schema inference: an empty
    * PARTITIONED write emits no files at all). Must consult the resolved
    * live generation, not the directory tree: a re-seeded store keeps its
    * superseded generation on disk through the grace window
    * ([[StoreCompaction.swapIn]]), and a raw recursive probe would see
    * those historical files, conclude "published", and then fail reading
    * the empty live generation (the round-13 bench rerun surfaced exactly
    * this).
    */
  def anyPublished(spark: SparkSession, dir: String): Boolean = {
    val live = new org.apache.hadoop.fs.Path(
      StoreCompaction.resolve(spark, s"$dir/docs"))
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(live) && {
      val it = fs.listFiles(live, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
  }

  /** Rebuild the manifest from a full recount of the stored shards — the
    * recovery path for a half-applied admission ([[append]]'s crash
    * contract): after a crash between the docs append and the manifest
    * merge, [[validate]] reports divergence and this restores agreement
    * from the data, which is the source of truth. A full shard scan — the
    * exceptional path, never the steady-state admission cost.
    */
  def repair(spark: SparkSession, dir: String, textCol: String,
             idCol: String = "doc_id"): DataFrame = {
    StoreCompaction.swapIn(spark, s"$dir/manifest",
      census(docs(spark, dir, idCol), textCol).coalesce(1))
    graft.operators.TransientCache.drainPath(dir)
    manifest(spark, dir)
  }

  /** Recompute the per-shard census from the LIVE data (physical minus
    * tombstones — the manifest tracks what a loader would read) and
    * compare with the manifest; returns the number of divergent shards
    * (0 = intact).
    */
  def validate(spark: SparkSession, dir: String, idCol: String,
               textCol: String): Long = {
    val fromData = census(docs(spark, dir, idCol), textCol)
    fromData.alias("d").join(manifest(spark, dir).alias("m"),
        Seq("shard"), "full_outer")
      .where(col("d.n_docs").isNull || col("m.n_docs").isNull ||
        col("d.n_docs") =!= col("m.n_docs") ||
        col("d.n_tokens") =!= col("m.n_tokens"))
      .count()
  }
}
