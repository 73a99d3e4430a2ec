package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{charFold, shingleList}

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): score
  * every document by how much more likely its hashed-n-gram profile is
  * under a TARGET distribution (the data you want more of) than under the
  * RAW corpus distribution, then keep the top-k.
  *
  * Model: bag of hashed n-grams (unigrams + bigrams folded into `buckets`
  * buckets), per-bucket probabilities with add-1 smoothing fitted to the
  * target subset and to the whole corpus; a document's importance is
  *   log w(d) = Σ_b cnt_d[b] · ( ln p_target[b] − ln p_raw[b] ).
  * The paper draws Gumbel noise for the resample; here selection is the
  * deterministic top-k on (rounded weight, id) so the same documents are
  * chosen on every run and engine — same auditability contract as
  * [[Sampling]], and the DuckDB oracle replays the identical fold hash.
  *
  * Scale shape (the reason DSIR works at 100 TB where trained-classifier
  * selection needs GPU inference): both fitted models are just `buckets`
  * rows — broadcast them. The n-gram stream comes from the native
  * one-pass [[graft.functions.VectorExpressions.ShingleList]] expression
  * (the declarative transform+slice construction is an interpreted per-row
  * lambda, measured 30× slower on the top-n-grams gate), collapses to
  * per-(doc, bucket) counts in ONE exchange, and the count table is
  * materialized once (eager localCheckpoint, the withXentBuckets pattern)
  * so the model-fitting branch and the scoring branch don't each re-run
  * the corpus tokenize; scoring is then a map-side broadcast join + one
  * per-doc aggregation.
  */
object Dsir {

  /** unigram + bigram occurrence stream of the normalized text (native
    * expression; normalization identical to the shared d_toks oracle
    * prelude: lowercase, non-alphanumerics → space).
    */
  private def grams(textCol: Column): Column =
    concat(shingleList(textCol, 1), shingleList(textCol, 2))

  /** Per-(doc, bucket) n-gram occurrence counts — the shape every later
    * stage consumes, so its single exchange is reused across branches.
    */
  private def bucketCounts(docs: DataFrame, idCol: String, textCol: String,
                           targetPred: Column, buckets: Int): DataFrame =
    docs.select(col(idCol), targetPred.cast("boolean").as("__tgt"),
        explode(grams(col(textCol))).as("__g"))
      .select(col(idCol), col("__tgt"),
        (charFold(col("__g")) % buckets).as("__b"))
      .groupBy(idCol, "__tgt", "__b").agg(count(lit(1)).as("__c"))

  /** Per-bucket add-1-smoothed log-prob difference ln p_t − ln p_r fitted
    * from the counts: `buckets`-row DataFrame (__b, __dlp). Stays lazy —
    * totals ride in via a 1-row cross join instead of a driver collect.
    */
  private def model(cnts: DataFrame, buckets: Int): DataFrame = {
    val perBucket = cnts.groupBy("__b").agg(
      sum("__c").as("__rc"),
      sum(when(col("__tgt"), col("__c")).otherwise(0L)).as("__tc"))
    val totals = perBucket.agg(
      sum("__rc").as("__rtot"), sum("__tc").as("__ttot"))
    perBucket.crossJoin(broadcast(totals)).select(col("__b"),
      (log(col("__tc") + 1) - log(col("__ttot") + buckets)
        - log(col("__rc") + 1) + log(col("__rtot") + buckets)).as("__dlp"))
  }

  /** Adds `dsir_logw` (importance log-weight, 4-decimal-rounded for
    * cross-engine stability; 0.0 for token-less documents) to `docs`.
    * `targetPred` marks the target subset the resample should steer toward
    * (e.g. `col("lang") === "en"`), evaluated per input row.
    */
  def withImportance(docs: DataFrame, idCol: String, textCol: String,
                     targetPred: Column, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    // three consumers (scoring, per-bucket model, totals) — materialize the
    // count table once instead of re-running the corpus tokenize per branch;
    // the returned plan reads it, so the caller's batch scope frees it
    val cnts = graft.operators.BatchScope.localCheckpoint(
      bucketCounts(docs, idCol, textCol, targetPred, buckets))
    val scores = cnts.join(broadcast(model(cnts, buckets)), "__b")
      .groupBy(idCol)
      .agg(round(sum(col("__c") * col("__dlp")), 4).as("dsir_logw"))
    docs.join(scores, Seq(idCol), "left")
      .withColumn("dsir_logw", coalesce(col("dsir_logw"), lit(0.0)))
  }

  /** Fit the per-bucket log-ratio model on a static corpus and return it
    * as a dense array indexed by bucket (collected to the driver — bounded
    * by `buckets`, never by corpus size). This is the deployable artifact:
    * scoring against it is pure column math via [[scoreAgainst]], which is
    * what a STREAMING scorer needs — no state, no shuffle, no stream-side
    * aggregation.
    */
  def fitModelArray(corpus: DataFrame, idCol: String, textCol: String,
                    targetPred: Column, buckets: Int = 1024): Array[Double] =
      scala.util.Using.resource(graft.operators.BatchScope()) { scope =>
    val cnts = scope.checkpoint(
      bucketCounts(corpus, idCol, textCol, targetPred, buckets))
    val rows = model(cnts, buckets).collect()
    val arr = new Array[Double](buckets)
    // absent buckets: rc = tc = 0 → ln((0+1)/(T+B)) − ln((0+1)/(R+B))
    val totals = cnts.agg(sum("__c"),
      sum(when(col("__tgt"), col("__c")).otherwise(0L))).head()
    val rtot = if (totals.isNullAt(0)) 0L else totals.getLong(0)
    val ttot = if (totals.isNullAt(1)) 0L else totals.getLong(1)
    val absent = math.log(rtot + buckets.toDouble) -
      math.log(ttot + buckets.toDouble)
    java.util.Arrays.fill(arr, absent)
    rows.foreach(r => arr(r.getAs[Long]("__b").toInt) =
      r.getAs[Double]("__dlp"))
    arr
  }

  /** Importance log-weight of `textCol` under a fitted model array —
    * a single codegen-friendly column expression (explode-free: the n-gram
    * stream is aggregated in place), usable on batch AND streaming frames.
    */
  def scoreAgainst(modelArr: Array[Double], textCol: Column): Column = {
    val buckets = modelArr.length
    val lut = typedLit(modelArr.toSeq)
    round(aggregate(
      transform(grams(textCol), g =>
        element_at(lut, (charFold(g) % buckets).cast("int") + 1)),
      lit(0.0), (acc, x) => acc + x), 4)
  }

  /** Deterministic importance resample: the `k` documents with the highest
    * importance weight, ties broken by id. The returned frame keeps
    * `dsir_logw` so downstream mixing can re-weight. Planned as
    * TakeOrderedAndProject (per-partition k-heaps, no global sort, no
    * single-partition window) — the global-window row_number alternative
    * funnels the corpus through one task.
    */
  def resample(docs: DataFrame, idCol: String, textCol: String,
               targetPred: Column, k: Int, buckets: Int = 1024): DataFrame =
    withImportance(docs, idCol, textCol, targetPred, buckets)
      .orderBy(col("dsir_logw").desc, col(idCol))
      .limit(k)
}
