package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens

/** Persisted BM25 inverted index — the retrieval-SERVING face of
  * [[graft.pipeline.Search.bm25TopK]] and the admission-time pattern
  * ([[DedupIndexStore]], [[AnnIndexStore]], [[SketchStore]],
  * [[CorpusStore]], [[TriangleStore]]) applied to lexical search: the
  * postings live as parquet clustered by term, so a query's handful of
  * terms reads term-pruned row groups instead of tokenizing the corpus
  * per query — the full-corpus scan `bm25TopK` pays every call is paid
  * ONCE at admission.
  *
  * Layout under `dir`:
  *   - `postings/` (term, doc_id, tf): one row per distinct (term, doc),
  *     repartitioned + sorted by term so parquet min/max stats prune a
  *     query's term lookups to their clusters;
  *   - `doclens/`  (doc_id, dl): BM25's length normalization;
  *   - `meta/`     one row (n_docs, sum_dl): the corpus scalars,
  *     maintained exactly on append AND retire (dl is an integer token
  *     count, so sum_dl is order-independent-exact in doubles and avgdl =
  *     sum_dl / n_docs reproduces the batch path's avg());
  *   - `retired/`  (doc_id) retirement tombstones — see [[retire]].
  *
  * Scoring is byte-identical to `bm25TopK` (same idf/tf formula, same
  * round-then-rank discipline), with document frequencies computed from
  * the stored postings restricted to the query terms — the same numbers
  * the full-corpus pass derives. Appends are batch-sized parquet appends
  * plus a 1-row meta swap; the caller dedups replays by doc id (the
  * [[CorpusStore.append]] contract). [[compact]] re-clusters accumulated
  * appends by term.
  */
final class SearchIndexStore(val dir: String, spark: SparkSession) {

  /** LIVE views: physical rows minus the retirement tombstones, so every
    * reader (scoring, validation, the replay guard) sees only surviving
    * docs. The anti-join broadcasts the (small, compaction-bounded)
    * tombstone set; [[compact]] folds it into the physical files.
    */
  def postings: DataFrame = minusRetired(
    StoreCompaction.read(spark, s"$dir/postings"))
  def doclens: DataFrame = minusRetired(
    StoreCompaction.read(spark, s"$dir/doclens"))

  /** Retired doc ids (empty when the table was never created). */
  def retired: DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/retired")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) StoreCompaction.read(spark, s"$dir/retired")
    else spark.range(0).select(col("id").as("doc_id"))
  }

  private def minusRetired(df: DataFrame): DataFrame =
    df.join(broadcast(retired.select("doc_id")), Seq("doc_id"), "left_anti")

  /** Doc ids present in EITHER table — the replay-guard key set. `append`
    * writes postings before doclens, so a crash between the two leaves
    * postings durable with no doclens row; a replay guard keyed on doclens
    * alone would see those docs as fresh and re-append their postings,
    * permanently inflating tf. Keyed on the union, the half-landed batch
    * is SKIPPED on replay (no duplication — the unrecoverable corruption)
    * and the missing doclens rows are reconstructed exactly by [[repair]]
    * (dl = Σ tf over the doc's postings, the identity that makes
    * postings-before-doclens the repairable write order; the reverse
    * order would lose postings, which doclens cannot reconstruct).
    * RETIRED ids stay in this set: a retired doc's physical rows survive
    * until [[compact]], so re-admitting its id before compaction would
    * resurrect the tombstoned rows alongside the new ones — retirement is
    * terminal per id until a compaction purges it.
    */
  def admittedDocIds: DataFrame =
    doclens.select("doc_id").union(postings.select("doc_id"))
      .union(retired.select("doc_id")).distinct()

  /** Retire documents (the DETACH-delete face the incremental reindex
    * loop needs — a deleted file's chunks must leave the index): tombstone
    * the ids and subtract their EXACT (count, Σ dl) contribution from the
    * corpus scalars, so idf/avgdl immediately reflect the surviving corpus
    * without touching the physical postings (those are purged by the next
    * [[compact]]). Idempotent: already-retired or never-admitted ids
    * contribute nothing. Returns the number of docs actually retired.
    */
  def retire(docIds: DataFrame, idCol: String): Unit =
      StoreMaintenance.lockFor(dir).synchronized {
      scala.util.Using.resource(graft.operators.BatchScope()) { scope =>
    // live view: already-retired ids drop out here; two consumers, and
    // severed before we write
    val gone = scope.checkpoint(doclens
      .join(docIds.select(col(idCol).as("doc_id")).distinct(), Seq("doc_id"),
        "left_semi"))
    val r = gone.agg(count(lit(1)), sum("dl")).head()
    if (r.getLong(0) > 0) {
      val target = StoreCompaction.appendTarget(spark, s"$dir/retired")
      gone.select("doc_id")
        .write.mode(SaveMode.Append).parquet(target)
      spark.catalog.refreshByPath(target)
      val (n0, s0) = stats
      import spark.implicits._
      StoreCompaction.swapIn(spark, s"$dir/meta",
        Seq((n0 - r.getLong(0), s0 - r.getAs[Double](1)))
          .toDF("n_docs", "sum_dl"))
    }
    graft.operators.TransientCache.drainPath(dir)
  }}

  /** (n_docs, sum_dl) — the maintained corpus scalars. */
  def stats: (Long, Double) = {
    val m = StoreCompaction.read(spark, s"$dir/meta").head()
    (m.getAs[Long]("n_docs"), m.getAs[Double]("sum_dl"))
  }

  /** Admit a batch of documents (caller guarantees ids are new — replay
    * dedup is the ingest pipeline's job, as with the corpus store).
    */
  def append(docs: DataFrame, idCol: String, textCol: String,
             autoCompactFiles: Int = StoreCompaction.AutoCompactFiles): Unit =
      StoreMaintenance.lockFor(dir).synchronized {
      scala.util.Using.resource(graft.operators.BatchScope()) { scope =>
    val base = scope.persist(SearchIndexStore.tokenized(docs, idCol, textCol))
    val pTarget = StoreCompaction.appendTarget(spark, s"$dir/postings")
    val dTarget = StoreCompaction.appendTarget(spark, s"$dir/doclens")
    SearchIndexStore.postingsOf(base)
      .write.mode(SaveMode.Append).parquet(pTarget)
    base.select("doc_id", "dl")
      .write.mode(SaveMode.Append).parquet(dTarget)
    spark.catalog.refreshByPath(pTarget)
    spark.catalog.refreshByPath(dTarget)
    val add = base.agg(count(lit(1)), sum("dl")).head()
    scope.release()
    val (n0, s0) = stats
    import spark.implicits._
    StoreCompaction.swapIn(spark, s"$dir/meta",
      Seq((n0 + add.getLong(0), s0 + add.getAs[Double](1)))
        .toDF("n_docs", "sum_dl"))
    graft.operators.TransientCache.drainPath(dir)
    // admission-time maintenance (see StoreCompaction.AutoCompactFiles)
    StoreCompaction.maybeAutoCompact(spark, s"$dir/postings",
      autoCompactFiles, "SearchIndexStore")(compact())
    ()
  }}

  /** BM25 top-k over the stored index: postings pruned to the query
    * terms, document frequencies from the pruned postings, scalars from
    * meta — no corpus tokenization, no full scan. Identical scoring and
    * rounding to [[graft.pipeline.Search.bm25TopK]].
    */
  def topK(queryTerms: Seq[String], k: Int = 20,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (nDocs, sumDl) = stats
    val avgdl = sumDl / nDocs
    val hits = postings
      .where(col("term").isin(queryTerms.distinct: _*))
      .join(doclens, "doc_id")
    val dfreq = hits.groupBy("term")
      .agg(countDistinct("doc_id").cast("double").as("df"))
    val scored = hits.join(broadcast(dfreq), "term")
      .withColumn("idf",
        log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy("doc_id").agg(round(sum("contrib"), 4).as("score"))
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(w))
      .select("doc_id", "score", "rank")
  }

  /** True = the three tables are mutually consistent: meta matches a
    * doclens recount, doclens ids are unique, and no posting references a
    * doc absent from doclens — so EVERY append crash window (postings
    * landed without doclens; doclens landed without the meta swap) fails
    * validation and is healed by [[repair]].
    */
  def validate(): Boolean = {
    val (n, s) = stats
    val r = doclens
      .agg(count(lit(1)), sum("dl"), countDistinct("doc_id")).head()
    val noOrphans = postings.select("doc_id").distinct()
      .join(doclens.select("doc_id"), Seq("doc_id"), "left_anti").isEmpty
    r.getLong(0) == n && r.getAs[Double](1) == s &&
      r.getLong(2) == r.getLong(0) && noOrphans
  }

  /** Reconcile the three tables from stored data — the recovery face for
    * any append crash window (run offline, before resuming admission):
    * collapse duplicated (term, doc) postings rows (a pre-union-guard
    * double append), reconstruct missing doclens rows from postings
    * (dl = Σ tf, exact — dl IS the doc's token count and tf partitions
    * it by term; zero-token docs have no postings and keep their stored
    * row), dedup doclens, and recompute meta from the repaired doclens.
    * Each table rewrite goes through the crash-safe two-rename swap.
    */
  def repair(): Unit = {
    StoreCompaction.rewrite(spark, s"$dir/postings")(
      _.groupBy("term", "doc_id").agg(max("tf").as("tf"))
        .repartition(col("term")).sortWithinPartitions("term"))
    val fromPostings = postings.groupBy("doc_id").agg(sum("tf").as("__dl_p"))
    StoreCompaction.rewrite(spark, s"$dir/doclens") { dl =>
      dl.groupBy("doc_id").agg(max("dl").as("dl"))
        .join(fromPostings, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), coalesce(col("dl"), col("__dl_p")).as("dl"))
        .repartition(col("doc_id"))
    }
    val t = doclens.agg(count(lit(1)), sum("dl")).head()
    import spark.implicits._
    StoreCompaction.swapIn(spark, s"$dir/meta",
      Seq((t.getLong(0), t.getAs[Double](1))).toDF("n_docs", "sum_dl"))
  }

  /** Re-cluster accumulated appends by term / doc id, folding the
    * retirement tombstones into the physical files (after which the
    * retired ids are fresh again). Every crash window is safe: a
    * tombstone that outlives its purged rows anti-joins nothing.
    */
  def compact(): Unit = StoreMaintenance.lockFor(dir).synchronized {
      scala.util.Using.resource(graft.operators.BatchScope()) { scope =>
    val gone = scope.checkpoint(retired.select("doc_id"))
    StoreCompaction.rewrite(spark, s"$dir/postings")(
      _.join(broadcast(gone), Seq("doc_id"), "left_anti")
        .repartition(col("term")).sortWithinPartitions("term"))
    StoreCompaction.rewrite(spark, s"$dir/doclens")(
      _.join(broadcast(gone), Seq("doc_id"), "left_anti")
        .repartition(col("doc_id")))
    StoreCompaction.clearTable(spark, s"$dir/retired")
    graft.operators.TransientCache.drainPath(dir)
  }}
}

object SearchIndexStore {

  private[store] def tokenized(docs: DataFrame, idCol: String,
                               textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))

  private[store] def postingsOf(base: DataFrame): DataFrame =
    base.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).cast("double").as("tf"))
      .repartition(col("term")).sortWithinPartitions("term")

  /** Build (overwrite) the index from a corpus. */
  def build(spark: SparkSession, dir: String, docs: DataFrame,
            idCol: String, textCol: String): SearchIndexStore =
      scala.util.Using.resource(graft.operators.BatchScope()) { scope =>
    val base = scope.persist(tokenized(docs, idCol, textCol))
    // builds publish through the generational flip too: a rebuild over a
    // dir that was ever compacted must not strand legacy files beside
    // live generation dirs
    StoreCompaction.swapIn(spark, s"$dir/postings", postingsOf(base))
    StoreCompaction.swapIn(spark, s"$dir/doclens",
      base.select("doc_id", "dl"))
    val t = base.agg(count(lit(1)), sum("dl")).head()
    scope.release()
    import spark.implicits._
    StoreCompaction.swapIn(spark, s"$dir/meta",
      Seq((t.getLong(0), t.getAs[Double](1))).toDF("n_docs", "sum_dl"))
    graft.operators.TransientCache.drainPath(dir)
    new SearchIndexStore(dir, spark)
  }
}
