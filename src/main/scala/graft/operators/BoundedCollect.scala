package graft.operators

import org.apache.spark.sql.Dataset

/** The driver/distributed dispatch of the bounded trainers and label
  * loops: below `bound` rows the input is collected and an in-memory loop
  * replaces per-round jobs whose fixed latency dominates at micro-batch
  * scale; above it the distributed rounds run — one place choosing the
  * plan from the live data size (Pregelix, VLDB 2014). Dispatch and
  * delivery are ONE bounded job: the `limit(bound + 1)` probe is the size
  * test AND, on the driver path, the rows (CollectLimit scans partitions
  * incrementally). Left(rows) at most `bound` rows, else Right(plan) for
  * the caller to materialize; a bound <= 0 skips the probe.
  */
object BoundedCollect {
  def apply[T](plan: Dataset[T], bound: Long): Either[Array[T], Dataset[T]] = {
    require(bound < Int.MaxValue, s"bound: $bound")
    if (bound <= 0) Right(plan)
    else {
      val probe = plan.limit(bound.toInt + 1).collect()
      if (probe.length <= bound) Left(probe) else Right(plan)
    }
  }
}
