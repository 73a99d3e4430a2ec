package graft.stream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.pipeline.CurationPipeline
import graft.store.{CorpusStore, DedupIndexStore}

/** Continuous curation ingest — the streaming twin of the composed batch
  * DAG ([[graft.pipeline.CurationPipeline]]), the way the reference's
  * watcher loop is the streaming twin of its one-shot indexing ETL
  * (crates/workspace-watcher: debounce → the same extract→resolve→store
  * stages per change batch). Each micro-batch runs the CLEANING half of
  * the pipeline ([[CurationPipeline.cleanedPlan]], stages 1-5):
  *
  *   line scrub → Gopher/quality/language filter → exact dedup →
  *   incremental MinHash dedup against the PERSISTED band index (new×seen,
  *   then within-batch clusters) → benchmark-contamination scrub
  *
  * and then atomically-enough admits the survivors: publish to the
  * [[CorpusStore]] AND append to the [[DedupIndexStore]], so the NEXT
  * batch's new×seen stage sees everything published so far. The
  * corpus-global stages (DSIR resampling, tokenizer training, packing) are
  * deliberately absent — they are training-prep jobs over the published
  * corpus, not per-batch admission work.
  *
  * Scale shape: every stage is the standalone operator's (map-side filter
  * math, banded LSH never all-pairs, broadcast benchmark shingles); the
  * only cross-batch state is the two persisted stores — no Spark streaming
  * state at all, so a 1000-executor cluster runs each micro-batch as an
  * ordinary bounded job against admission-time indexes.
  *
  * Replay guard: batch ids are anti-joined against the already-published
  * ids BEFORE the pipeline. That is not just exactly-once bookkeeping —
  * a crash-replayed document is by then IN the dedup index, so without the
  * guard its replay would self-match at Jaccard 1.0 and be dropped as a
  * "near-dup of itself", silently losing the doc from the replayed batch
  * and double-appending nothing; with it, replays converge to the same
  * published corpus.
  */
object StreamingCuration {

  /** Curate + publish one micro-batch; returns the number of documents
    * admitted. Shared by the streaming writer and batch callers (the gate
    * runs two sequential batches through THIS method — the stream is
    * foreachBatch over it).
    */
  def processBatch(batch: DataFrame, idCol: String, textCol: String,
                   benchmark: DataFrame, benchTextCol: String,
                   index: DedupIndexStore, publishDir: String,
                   cfg: CurationPipeline.Config = CurationPipeline.Config(),
                   aqeOffBelowBytes: Long = 256L << 20): Long =
    // the batch scope: micro-batch planning below the size threshold (at
    // this scale the ~50 sequential AQE stage-jobs' fixed latency IS the
    // admission wall — measured 19.4 -> 11.5 s per sf0.1 batch; 0 disables
    // the switch), the stage checkpoints and the batch's operator
    // fragments all end with it — a failed micro-batch (the stream will
    // retry it) leaves no blocks pinned and nothing registered for the
    // replay to substitute
    scala.util.Using.resource(
        graft.operators.BatchScope(batch, aqeOffBelowBytes)) { scope =>
    val spark = batch.sparkSession
    // an empty-seeded store has no doc files yet (partitioned write of
    // zero rows), so the published-ids read would fail schema inference —
    // and nothing can need guarding. Probe the filesystem, not the
    // manifest: after a crash between a docs append and its manifest
    // merge the files exist, so replays stay guarded. The probe is the
    // store's LIVE-generation face — a raw recursive listing would see a
    // re-seeded store's superseded (grace-retained) generation and walk
    // into the unreadable empty live one (CorpusStore.anyPublished).
    val fresh = if (!CorpusStore.anyPublished(spark, publishDir)) batch
    else batch.join(
      CorpusStore.docs(spark, publishDir).select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")
    // stage boundaries are eager checkpoints here in either planning mode
    // (round-14, VERDICT item 2): an admission's wall is the DRIVER
    // re-analyzing the composed plan for every eager operator action — 9.3
    // s of the 16.5 s steady-state batch BETWEEN jobs (OPTIMIZATION_r14.md
    // "td_curation_stream / td_pipeline_e2e") — and a checkpointed boundary
    // truncates that analysis at the previous stage (see BatchScope.stage)
    val survivors = scope.checkpoint(CurationPipeline.cleanedPlan(fresh,
        idCol, textCol, benchmark, benchTextCol, index, cfg,
        _ => scope.checkpoint)
      // the plan reads BOTH stores (published ids + band index) and the
      // admission below writes into them — sever before writing
      .select("doc_id", "text"))
    val n = survivors.count()
    scope.release(keep = survivors)
    // drop the dedup operators' internal cached fragments over the two
    // stores NOW, before the mutations below: left registered, a LATER
    // batch's matching plan would substitute them and — once their blocks
    // are evicted — recompute against the pre-append file listing (the
    // sf10 FAILED_READ_FILE abort; see graft.operators.TransientCache).
    // Path-scoped so a serving session's unrelated warm caches survive;
    // the stores' own mutating faces drain their paths again, harmlessly
    graft.operators.TransientCache.drainPath(publishDir)
    graft.operators.TransientCache.drainPath(index.dir)
    if (n > 0) {
      CorpusStore.append(spark, publishDir, survivors, "doc_id", "text")
      index.append(survivors, "doc_id", "text")
    }
    n
  }

  /** Writer curating + publishing each micro-batch of `docs`. Both stores
    * must exist ([[CorpusStore.write]] possibly-empty seed +
    * [[DedupIndexStore.build]] over the history corpus).
    */
  def writer(docs: DataFrame, idCol: String, textCol: String,
             benchmark: DataFrame, benchTextCol: String,
             indexDir: String, publishDir: String,
             cfg: CurationPipeline.Config = CurationPipeline.Config())
      : DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val index = new DedupIndexStore(indexDir, batch.sparkSession)
          processBatch(batch, idCol, textCol, benchmark, benchTextCol,
            index, publishDir, cfg)
        }
        ()
      }

  /** Convenience: start curating with a processing-time trigger.
    *
    * `maintenance = true` (default) registers both stores with
    * [[graft.store.StoreMaintenance]] and starts its background loop:
    * continuous ingest is exactly the workload where an INLINE
    * auto-compaction hurts most (a corpus-linear rewrite injected into
    * one unlucky micro-batch — hours at 100 TB), so admissions only
    * append and the maintenance thread pays the rewrite between batches,
    * serialized against them by the store lock. If the loop is stopped,
    * admissions transparently fall back to the inline trigger.
    */
  def start(docs: DataFrame, idCol: String, textCol: String,
            benchmark: DataFrame, benchTextCol: String,
            indexDir: String, publishDir: String,
            cfg: CurationPipeline.Config = CurationPipeline.Config(),
            triggerMs: Long = 1000L,
            maintenance: Boolean = true): StreamingQuery = {
    if (maintenance) {
      val spark = docs.sparkSession
      graft.store.StoreMaintenance.register(s"$indexDir/bands",
        graft.store.StoreMaintenance.DefaultThreshold, "DedupIndexStore",
        indexDir)(new DedupIndexStore(indexDir, spark).compact())
      graft.store.StoreMaintenance.register(s"$publishDir/docs",
        graft.store.StoreMaintenance.DefaultThreshold, "CorpusStore",
        publishDir)(CorpusStore.compact(spark, publishDir))
      graft.store.StoreMaintenance.start(spark)
    }
    writer(docs, idCol, textCol, benchmark, benchTextCol, indexDir,
      publishDir, cfg).trigger(Trigger.ProcessingTime(triggerMs)).start()
  }
}
