package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Shared admission machinery for ADDITIVE sketch stores ([[CmStore]],
  * [[HistStore]]): sketches whose cells are counters that SUM on merge,
  * so — unlike HLL's per-item-max registers — a replayed batch would
  * double-count and exactly-once admission is load-bearing.
  *
  * Layout under `<dir>/batches`: one parquet FILE per admission
  * (coalesce(1)) carrying the batch's cell rows tagged with a batch key,
  * PLUS one marker row (dims = the `markerRow` sentinel, cnt = nCells). A
  * parquet file is readable only once its footer lands, so a crash
  * mid-append leaves either nothing or a file whose marker disagrees with
  * its cell count — both directions detectable, half-landed cells
  * excluded from every read, droppable by [[repair]], re-admittable under
  * the same key afterwards.
  *
  * `dims` are the sketch's cell-identity columns (e.g. (j, bucket) for
  * Count-Min); `cnt` is the additive counter. The marker sentinel lives in
  * an extra int column `__marker` (1 = marker row) so dims keep their
  * natural types.
  */
private[store] object BatchLedger {

  def raw(spark: SparkSession, dir: String): DataFrame =
    StoreCompaction.read(spark, s"$dir/batches")

  /** Keys of fully-landed batches: marker present AND cell count agrees. */
  def validKeys(raw: DataFrame): DataFrame =
    raw.groupBy("batch_key")
      .agg(sum(when(col("__marker") === 1, col("cnt"))).as("marked"),
        sum(when(col("__marker") =!= 1, 1L).otherwise(0L)).as("actual"))
      .where(col("marked") === col("actual"))
      .select("batch_key")

  /** The folded cell table over fully-landed batches only. */
  def foldValid(raw: DataFrame, dims: Seq[String]): DataFrame =
    raw.join(broadcast(validKeys(raw)), Seq("batch_key"), "left_semi")
      .where(col("__marker") =!= 1)
      .groupBy(dims.map(col): _*).agg(sum("cnt").as("cnt"))

  def isAdmitted(raw: DataFrame, batchKey: String): Boolean =
    validKeys(raw).where(col("batch_key") === batchKey).limit(1).count() > 0

  /** Append one batch's cells (+ marker) as a single file. `sketch` must
    * have columns dims :+ cnt.
    */
  def writeBatch(spark: SparkSession, dir: String, sketch: DataFrame,
                 dims: Seq[String], batchKey: String,
                 mode: SaveMode = SaveMode.Append): Unit =
    // materialize the sketch ONCE (round-14): the marker row needs the cell
    // count and the write needs the cells, and computing them as two
    // actions ran the full sketch aggregation (a scan + shuffle over the
    // admitted batch) twice per admission. The sketch is bounded by
    // construction (CM: depth × width cells; histogram: keys × buckets), so
    // an eager local checkpoint holds KBs and both consumers read blocks;
    // the scope frees them once the cells are durable, or the write failed
    scala.util.Using.resource(graft.operators.BatchScope()) { scope =>
    val sk = scope.checkpoint(sketch)
    val cells = sk.select(lit(batchKey).as("batch_key") +:
      lit(0).as("__marker") +: dims.map(col) :+ col("cnt"): _*)
    val n = sk.count()
    // dims are irrelevant on the marker row: allowMissingColumns nulls them
    val marker = spark.range(1).select(lit(batchKey).as("batch_key"),
      lit(1).as("__marker"), lit(n).as("cnt"))
    val rows = cells.unionByName(marker, allowMissingColumns = true)
      .coalesce(1)
    if (mode == SaveMode.Overwrite)
      // build face: publish through the generational flip (a raw
      // overwrite over a ledger that was ever repaired/compacted would
      // strand legacy files beside live generation dirs)
      StoreCompaction.swapIn(spark, s"$dir/batches", rows)
    else {
      val target = StoreCompaction.appendTarget(spark, s"$dir/batches")
      rows.write.mode(SaveMode.Append).parquet(target)
      spark.catalog.refreshByPath(target)
    }
  }

  /** Marker/cell agreement for every stored batch. */
  def validate(raw: DataFrame): Boolean =
    raw.select(countDistinct("batch_key")).head().getLong(0) ==
      validKeys(raw).count()

  /** Drop half-landed batches (swap the survivors in whole). */
  def repair(spark: SparkSession, dir: String): Unit = {
    val r = raw(spark, dir)
    StoreCompaction.swapIn(spark, s"$dir/batches",
      r.join(broadcast(validKeys(r)), Seq("batch_key"), "left_semi")
        .coalesce(1))
  }

  /** Retire one admitted batch — the DELETION face additive sketches get
    * for free from linearity: dropping a batch's cell rows from the ledger
    * leaves a fold identical to never having admitted it (exact, not
    * approximate). Granularity is the BATCH, never the item — a single
    * item's contribution is not recoverable from summed counters, which is
    * the whole point of a sketch. Returns false when the key names no
    * stored batch. Refuses a key whose cells were folded away by
    * [[compact]] (it survives only as a zero-cell replay guard): its
    * contribution is no longer separable, so the deletion path there is a
    * rebuild — replay the surviving batches from their sources under fresh
    * keys into a new store. The retired key becomes re-admittable (the
    * guard row leaves with the batch).
    */
  def retireBatch(spark: SparkSession, dir: String,
                  batchKey: String): Boolean = {
    val r = raw(spark, dir)
    val mine = r.where(col("batch_key") === batchKey)
    if (mine.limit(1).isEmpty) return false
    val hasCells = !mine.where(col("__marker") =!= 1).limit(1).isEmpty
    val markerCnt = mine.where(col("__marker") === 1)
      .agg(coalesce(max("cnt"), lit(-1L))).head().getLong(0)
    require(hasCells || markerCnt != 0L,
      s"batch '$batchKey' was folded by compaction (zero-cell guard); its " +
        "cells are no longer separable — rebuild the store by replaying " +
        "the surviving batches from their sources")
    StoreCompaction.swapIn(spark, s"$dir/batches",
      r.where(col("batch_key") =!= batchKey).coalesce(1))
    true
  }

  /** Fold history into one batch under `foldedKey`, retaining every other
    * admitted key as a zero-cell guard batch so replays stay refused.
    */
  def compact(spark: SparkSession, dir: String, dims: Seq[String],
              foldedKey: String): Unit = {
    import spark.implicits._
    val r = raw(spark, dir)
    val keys = validKeys(r).collect().map(_.getString(0))
      .filterNot(_ == foldedKey)
    val folded = foldValid(r, dims)
      .select(lit(foldedKey).as("batch_key") +: lit(0).as("__marker") +:
        dims.map(col) :+ col("cnt"): _*)
    val nCells = folded.count()
    val guards = keys.toSeq.toDF("batch_key")
      .select(col("batch_key"), lit(1).as("__marker"), lit(0L).as("cnt"))
    val marker = Seq((foldedKey, 1, nCells)).toDF("batch_key", "__marker", "cnt")
    StoreCompaction.swapIn(spark, s"$dir/batches",
      folded.unionByName(marker, allowMissingColumns = true)
        .unionByName(guards, allowMissingColumns = true).coalesce(1))
  }
}
