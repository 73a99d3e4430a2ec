package graft.stream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.store.AnnIndexStore

/** Continuous ANN-index maintenance — the ADMISSION face of
  * [[graft.store.AnnIndexStore]], completing the streaming pair with
  * [[StreamingAnn]] (which only queries a static snapshot): each
  * micro-batch of embeddings is admitted into the persisted IVF cells
  * under the frozen coarse quantizer, so queries serve from an
  * always-current index with NO stream-side state — the same
  * admission-time discipline as [[StreamingSearchIndex]] /
  * [[StreamingPublish]].
  *
  * Replay guard: cell rows are plain parquet appends, so a crash-replayed
  * batch would land its vectors twice and the duplicates would occupy two
  * ranks of every top-k they appear in. The writer anti-joins batch ids
  * against [[AnnIndexStore.admittedVids]] (physical cells ∪ tombstones)
  * and admits only the fresh remainder — replays and overlapping batches
  * converge to exactly-once admission, and retired ids stay refused until
  * a compaction physically frees them.
  */
object StreamingAnnIndex {

  /** Admit one batch under the replay guard; returns the number of
    * vectors actually admitted. Shared by the streaming writer and any
    * batch caller that wants guarded (idempotent) admission.
    */
  def admitBatch(batch: DataFrame, dir: String, idCol: String,
                 vecCol: String): Long =
    // NO micro-batch planning in this batch scope: measured (round 14, same-session A/B
    // at sf0.1) ann_ivf_stream 4.7 → 9.2 s with AQE off + batch-sized
    // shuffle partitions around the admissions — the vector admission's
    // window/append stages NEED AQE's runtime coalescing (whole-gate
    // AQE-off GateProf: 12.7-17.5 s vs 4.5-7.1 s with AQE on). The curation
    // chain's text stages are where the re-plan floor dominates; here it
    // does not.
    scala.util.Using.resource(graft.operators.BatchScope()) { scope =>
    val store = new AnnIndexStore(dir, batch.sparkSession)
    // the checkpoint severs the plan's store dependency BEFORE append
    // writes into the cells table the anti-join is reading
    // (self-referencing append otherwise)
    val fresh = scope.checkpoint(batch.join(
      store.admittedVids.select(col("vid").as(idCol)),
      Seq(idCol), "left_anti"))
    val n = fresh.count()
    // drop operator caches over THIS store before the mutation
    // (TransientCache scaladoc) — path-scoped so warm caches of unrelated
    // operators in the same session survive; store.append drains too, but
    // the guard's own anti-join fragment must go before the write starts
    graft.operators.TransientCache.drainPath(dir)
    if (n > 0) store.append(fresh, idCol, vecCol)
    n
  }

  /** Writer admitting each micro-batch of `embs` (idCol, vecCol columns)
    * into the index at `dir` (must exist — [[AnnIndexStore.build]]).
    */
  def writer(embs: DataFrame, dir: String, idCol: String,
             vecCol: String): DataStreamWriter[Row] =
    embs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) admitBatch(batch, dir, idCol, vecCol)
        ()
      }

  /** Convenience: start admitting with a processing-time trigger. */
  def start(embs: DataFrame, dir: String, idCol: String, vecCol: String,
            triggerMs: Long = 1000L): StreamingQuery =
    writer(embs, dir, idCol, vecCol)
      .trigger(Trigger.ProcessingTime(triggerMs)).start()
}
