package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Frees the executor blocks of an eagerly `localCheckpoint(true)`'d
  * Dataset once an iterative loop has superseded it.
  *
  * `Dataset.unpersist` is a NO-OP for checkpointed frames: it consults the
  * CacheManager, which only tracks plans registered via
  * `persist()`/`cache()`, while `localCheckpoint` persists the UNDERLYING
  * RDD (the plan becomes a `LogicalRDD` over an RDD pinned at
  * MEMORY_AND_DISK). Iterative DataFrame loops (k-core peeling, label
  * propagation, star contraction) that checkpoint per round therefore
  * accumulate every generation's full frame in executor memory for the
  * life of the loop — at the sf10 second decade that surfaced as a +29%
  * GC overshoot on k-core on top of the 90 GiB warm store. This helper
  * unwraps the `LogicalRDD` leaves and unpersists the RDDs themselves,
  * keeping the loop's live set at two generations (current + candidate).
  *
  * Only call on a generation that (a) was checkpointed eagerly and (b) has
  * no remaining consumer — an unpersisted local checkpoint is
  * unrecomputable by construction (its lineage was truncated).
  */
object LocalCp {

  def free(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
}
