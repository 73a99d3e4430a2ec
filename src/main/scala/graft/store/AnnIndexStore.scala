package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Similarity

/** Persisted IVF ANN index — the admission-time artifact that makes
  * similarity search operational at scale, the [[DedupIndexStore]] pattern
  * applied to the embedding space: train the coarse quantizer once, write
  * every vector under its cell, and serve queries by probing stored cells —
  * no re-clustering of the corpus per query batch.
  *
  * Layout under `dir`:
  *   - `centroids/` (cid, cvec): the trained coarse quantizer — `nlist`
  *                  rows, broadcast at query time;
  *   - `cells/`     (cid ⟶ partition, vid, vec, nrm): every vector written
  *                  under its assigned cell via `partitionBy("cid")`, so a
  *                  query's nprobe probe set prunes the scan to nprobe
  *                  DIRECTORIES — the on-disk analog of FAISS's inverted
  *                  lists (Spark's dynamic partition pruning does the cell
  *                  selection when the broadcast probe side joins on cid);
  *   - `meta/`      one row (nlist, lloyd_iters): the build parameters,
  *                  validated on read the same way DedupIndexStore does.
  *
  * Admission appends write new vectors under their NEAREST EXISTING cell
  * (quantizer frozen — the standard IVF practice; retraining is an offline
  * rebuild). Queries against the store return exactly what the in-memory
  * [[Similarity.ivfTopK]] returns for the same parameters, because both run
  * [[Similarity.ivfBuild]]/[[Similarity.ivfProbe]].
  */
final class AnnIndexStore(val dir: String, spark: SparkSession) {

  def centroids: DataFrame = spark.read.parquet(s"$dir/centroids")

  /** LIVE cells: physical rows minus the retirement tombstones — a retired
    * vector stops appearing in probe results immediately, without
    * rewriting any cell directory ([[compact]] purges the rows physically
    * and frees the ids for re-admission).
    */
  def cells: DataFrame = minusRetired(
    StoreCompaction.read(spark, s"$dir/cells"))

  /** Retired vector ids (empty when the table was never created). */
  def retired: DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/retired")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) StoreCompaction.read(spark, s"$dir/retired")
    else spark.range(0).select(col("id").as("vid"))
  }

  private def minusRetired(df: DataFrame): DataFrame =
    df.join(broadcast(retired.select("vid")), Seq("vid"), "left_anti")

  /** Retire vectors (the deletion face — an embedding of a deleted or
    * re-curated document must stop matching queries): append the ids to
    * the tombstone table. Idempotent — re-retiring is a duplicate
    * tombstone row, harmless to the anti-join and removed by [[compact]].
    * A retired id must not be re-admitted before a compaction purges its
    * physical cell rows (the tombstone would hide the new rows too — the
    * terminal-until-compact contract shared with
    * [[DedupIndexStore.retire]] and [[SearchIndexStore.retire]]).
    */
  def retire(ids: DataFrame, idCol: String): Unit =
      StoreMaintenance.lockFor(dir).synchronized {
      scala.util.Using.resource(graft.operators.BatchScope()) { scope =>
    val target = StoreCompaction.appendTarget(spark, s"$dir/retired")
    // materialize BEFORE the append: the anti-join reads the very table
    // the write appends to (self-referencing append otherwise)
    scope.checkpoint(ids.select(col(idCol).as("vid")).distinct()
      .join(broadcast(retired.select("vid")), Seq("vid"), "left_anti"))
      .write.mode(SaveMode.Append).parquet(target)
    spark.catalog.refreshByPath(target)
    graft.operators.TransientCache.drainPath(dir)
  }}

  /** Vector ids present in the physical cells OR tombstoned — the
    * replay-guard key set for streaming admission
    * ([[graft.stream.StreamingAnnIndex]]): a crash-replayed micro-batch
    * anti-joins against this and skips ids already landed, so cells never
    * hold duplicate vid rows (duplicates would occupy two ranks of a
    * top-k). RETIRED ids stay in the set — their physical rows survive
    * until [[compact]], and re-admitting one before compaction would hide
    * the new rows under the same tombstone (the terminal-until-compact
    * contract; same reasoning as [[SearchIndexStore.admittedDocIds]]).
    */
  def admittedVids: DataFrame =
    StoreCompaction.read(spark, s"$dir/cells").select("vid")
      .union(retired.select("vid")).distinct()

  /** (nlist, lloydIters) the index was built with. */
  def params: (Int, Int) = {
    val m = spark.read.parquet(s"$dir/meta").head()
    (m.getAs[Int]("nlist"), m.getAs[Int]("lloyd_iters"))
  }

  def requireParams(nlist: Int, lloydIters: Int): Unit = {
    val p = params
    require(p == ((nlist, lloydIters)),
      s"ann index at $dir was built with (nlist, lloydIters) = $p, " +
        s"query wants ($nlist, $lloydIters)")
  }

  /** Metadata columns the index was built with (cells schema minus the
    * vector bookkeeping) — the filterable attributes of [[topK]].
    */
  def metaCols: Seq[String] =
    StoreCompaction.read(spark, s"$dir/cells").columns.toSeq
      .filterNot(Set("cid", "vid", "vec", "nrm"))

  /** Admit a new batch under the frozen quantizer (nearest existing cell;
    * parquet append of the new cells rows only — no rewrite of history).
    * The batch must carry the index's [[metaCols]] — stored attributes are
    * per-row, so an append without them would leave unfilterable rows.
    */
  def append(embs: DataFrame, idCol: String, vecCol: String,
             autoCompactFiles: Int = StoreCompaction.AutoCompactFiles): Unit =
      StoreMaintenance.lockFor(dir).synchronized {
    val extra = metaCols
    val v = embs.select(Seq(col(idCol).as("vid"),
        col(vecCol).cast("array<double>").as("vec")) ++ extra.map(col): _*)
      .withColumn("nrm", sqrt(Similarity.dot(col("vec"), col("vec"))))
      .where(col("nrm") > 0)
    val c = broadcast(centroids)
    val scored = v.join(c, lit(true), "cross")
      .withColumn("d", Similarity.dot(col("vec"), col("cvec")) / col("nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vid")).orderBy(col("d").desc, col("cid"))
    val target = StoreCompaction.appendTarget(spark, s"$dir/cells")
    scored.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select((Seq("cid", "vid", "vec", "nrm") ++ extra).map(col): _*)
      .write.mode(SaveMode.Append).partitionBy("cid").parquet(target)
    spark.catalog.refreshByPath(target)
    graft.operators.TransientCache.drainPath(dir)
    // admission-time maintenance: each append writes its own files under
    // every touched cell, so probe cost grows with admission count until
    // a compaction re-clusters (see StoreCompaction.AutoCompactFiles)
    StoreCompaction.maybeAutoCompact(spark, s"$dir/cells",
      autoCompactFiles, "AnnIndexStore")(compact())
    ()
  }

  /** Re-cluster the accumulated appends: rewrite `cells` so each cid
    * partition holds a compact file set again (every append writes its own
    * files under each touched cell, so after N admissions a probe of
    * nprobe cells opens ~N files per cell — file-open overhead growing with
    * history), purging retired vectors' physical rows and dropping the
    * tombstone table (freeing their ids for re-admission). Same
    * rewrite-then-swap discipline as [[DedupIndexStore.compact]];
    * centroids/meta are tiny and immutable.
    */
  def compact(): Unit = StoreMaintenance.lockFor(dir).synchronized {
      scala.util.Using.resource(graft.operators.BatchScope()) { scope =>
    val gone = scope.checkpoint(retired.select("vid"))
    StoreCompaction.rewritePartitioned(spark, s"$dir/cells", "cid")(
      _.join(broadcast(gone), Seq("vid"), "left_anti")
        .repartition(col("cid")))
    StoreCompaction.clearTable(spark, s"$dir/retired")
    graft.operators.TransientCache.drainPath(dir)
  }}

  /** Top-k approximate neighbors of each query vector against the stored
    * index. `queries`: (id, vec) — any vector source, not necessarily
    * indexed vectors; self-matches are excluded by id.
    *
    * `filter` predicates on the stored [[metaCols]] (pre-filtering — the
    * recall-preserving strategy, see [[Similarity.ivfFilteredTopK]]). On
    * this store the predicate does double pruning: dynamic partition
    * pruning selects the nprobe cell DIRECTORIES, and the metadata
    * predicate pushes into the parquet scan of those cells
    * (`PushedFilters` — plan-asserted in AnnIndexStoreSpec), so a
    * filtered probe reads strictly less than an unfiltered one.
    */
  def topK(queries: DataFrame, idCol: String, vecCol: String, k: Int,
           nprobe: Int, filter: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val q = Similarity.normalizedVectors(queries, idCol, vecCol)
      .select(col("vid").as("q_id"), col("vec").as("q_vec"),
        col("nrm").as("q_nrm"))
    Similarity.ivfProbe(centroids, cells.where(filter), q, k, nprobe)
  }
}

object AnnIndexStore {

  /** Train the quantizer and build (overwrite) the index at `dir`.
    * `metaCols` names metadata columns of `embs` to persist on every cell
    * row — the filterable attributes of [[AnnIndexStore.topK]] (language,
    * license, source, …).
    */
  def build(spark: SparkSession, dir: String, embs: DataFrame, idCol: String,
            vecCol: String, nlist: Int = 16, lloydIters: Int = 2,
            metaCols: Seq[String] = Nil,
            pretrainedIvf: Option[Seq[(Int, Seq[Double])]] = None)
      : AnnIndexStore =
      scala.util.Using.resource(graft.operators.BatchScope()) { scope =>
    val v = scope.persist(embs.select(Seq(col(idCol).as("vid"),
        col(vecCol).cast("array<double>").as("vec")) ++ metaCols.map(col): _*)
      .withColumn("nrm", sqrt(Similarity.dot(col("vec"), col("vec"))))
      .where(col("nrm") > 0))
    val (centroids, index) =
      Similarity.ivfBuild(v, nlist, lloydIters, pretrainedIvf)
    centroids.write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    // a rebuild over a dir that was ever compacted must publish through
    // the generational flip (a raw overwrite would strand legacy files
    // beside live generation dirs); centroids/meta are tiny, immutable
    // post-build, and never swap-managed
    StoreCompaction.swapIn(spark, s"$dir/cells",
      index.select((Seq("cid", "vid", "vec", "nrm") ++ metaCols).map(col): _*),
      Some("cid"))
    import spark.implicits._
    Seq((nlist, lloydIters)).toDF("nlist", "lloyd_iters")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/meta")
    scope.release()
    graft.operators.TransientCache.drainPath(dir)
    new AnnIndexStore(dir, spark)
  }
}
