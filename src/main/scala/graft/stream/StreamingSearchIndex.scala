package graft.stream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.store.SearchIndexStore

/** Continuous lexical-index maintenance — the streaming face of
  * [[graft.store.SearchIndexStore]]: each micro-batch of documents is
  * admitted into the persisted BM25 index (postings + doclens appends and
  * an exact 1-row scalar update), so retrieval serves from an
  * always-current index with NO stream-side state — the same
  * admission-time discipline as [[StreamingSketch]] / [[StreamingPublish]].
  *
  * Replay guard: a crash-replayed batch would re-append its postings, so
  * the writer anti-joins batch ids against
  * [[SearchIndexStore.admittedDocIds]] — the UNION of doclens and postings
  * ids, so even a batch whose append crashed between the two table writes
  * (postings durable, doclens not yet) is recognized and skipped rather
  * than re-appended, which would permanently inflate tf. The skipped
  * half-landed docs fail [[SearchIndexStore.validate]] and are healed
  * exactly by [[SearchIndexStore.repair]] before admission resumes.
  */
object StreamingSearchIndex {

  /** Admit one batch under the replay guard — the writer's batch body.
    * The scope frees the guard's checkpoint on every path.
    */
  private[graft] def admitBatch(batch: DataFrame, dir: String, idCol: String,
                                textCol: String): Unit =
    scala.util.Using.resource(graft.operators.BatchScope()) { scope =>
      val store = new SearchIndexStore(dir, batch.sparkSession)
      // the checkpoint severs the plan's store dependency BEFORE append
      // writes into those tables — an un-materialized anti-join would
      // re-list the very files the append is creating (self-referencing
      // append, undefined results)
      val fresh = scope.checkpoint(batch.join(
        store.admittedDocIds.select(col("doc_id").as(idCol)),
        Seq(idCol), "left_anti"))
      if (!fresh.isEmpty) store.append(fresh, idCol, textCol)
    }

  /** Writer admitting each micro-batch of `docs` (idCol, textCol columns)
    * into the index at `dir` (must exist — [[SearchIndexStore.build]]).
    */
  def writer(docs: DataFrame, dir: String, idCol: String,
             textCol: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) admitBatch(batch, dir, idCol, textCol)
        ()
      }

  /** Convenience: start admitting with a processing-time trigger. */
  def start(docs: DataFrame, dir: String, idCol: String, textCol: String,
            triggerMs: Long = 1000L): StreamingQuery =
    writer(docs, dir, idCol, textCol)
      .trigger(Trigger.ProcessingTime(triggerMs)).start()
}
