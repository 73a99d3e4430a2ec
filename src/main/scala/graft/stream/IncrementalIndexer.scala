package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.analyze.{IdRemapper, Indexer}
import graft.extract.SourceFile
import graft.model.EdgeKind
import graft.store.GraphStore

/** Incremental maintenance (SURVEY §2.5 M1-M3, §2.6 T1-T2).
  *
  * The reference watches the filesystem, debounces events per project, and
  * re-indexes changed files by DETACH-deleting the affected subgraph and
  * re-inserting fresh rows with the analyzer a full index uses
  * (http-server-desktop/src/watcher.rs:440-600;
  * indexer/src/mutation/changes.rs:53-260). Here:
  *
  *  - a change batch is the list of changed paths;
  *  - deletion = anti-joins of the store against the changed-path set (M2);
  *  - re-insert (M3) = the analysis a full index runs, split in its two
  *    halves: [[graft.analyze.Indexer.perFile]] on the changed files only,
  *    [[graft.analyze.IdRemapper.rebuild]] to merge them with the surviving
  *    per-file tables on natural keys, and
  *    [[graft.analyze.Indexer.wholeTree]] once over the merged store; the
  *    caller rewrites the whole store with [[graft.store.GraphStore.write]];
  *  - the streaming wrapper is `readStream` over a change-feed directory +
  *    `foreachBatch` applying the above, with the trigger interval playing the
  *    reference's debounce-window role (T1).
  */
object IncrementalIndexer {

  /** M2 — remove file nodes whose path is in `changedPaths`
    * (column `changed_path`) plus every edge touching a removed file.
    * Anti-joins only: no driver-side collection, safe at any scale.
    */
  def applyFileDeletes(store: GraphStore, changedPaths: DataFrame): GraphStore = {
    val doomed = store.files
      .join(changedPaths, store.files("path") === changedPaths("changed_path"))
      .select(col("id").as("xid"))
    val keptFiles = store.files
      .join(doomed, store.files("id") === doomed("xid"), "left_anti")
    val srcIsFile = col("kind").isin(EdgeKind.withSource("file"): _*)
    val dstIsFile = col("kind").isin(EdgeKind.withTarget("file"): _*)
    val keptEdges = store.edges
      .join(doomed.withColumnRenamed("xid", "sdel"),
        srcIsFile && col("source_id") === col("sdel"), "left_anti")
      .join(doomed.withColumnRenamed("xid", "tdel"),
        dstIsFile && col("target_id") === col("tdel"), "left_anti")
    store.copy(files = keptFiles, edges = keptEdges)
  }

  /** M2 full cascade — also drop definitions/imports belonging to the
    * changed files (the reference deletes defs/imports by file_path —
    * mutation/changes.rs:53-148).
    */
  def applyCascadingDeletes(store: GraphStore, changedPaths: DataFrame): GraphStore = {
    val base = applyFileDeletes(store, changedPaths)
    val cp = changedPaths.select(col("changed_path"))
    val keptDefs = base.definitions.join(cp,
      col("primary_file_path") === col("changed_path"), "left_anti")
    val keptImps = base.importedSymbols.join(cp,
      col("file_path") === col("changed_path"), "left_anti")
    val doomedDefIds = store.definitions.join(cp,
      col("primary_file_path") === col("changed_path"))
      .select(col("id").as("xid"))
    val doomedImpIds = store.importedSymbols.join(cp,
      col("file_path") === col("changed_path"))
      .select(col("id").as("xid"))
    val srcIsDef = col("kind").isin(EdgeKind.withSource("definition"): _*)
    val dstIsDef = col("kind").isin(EdgeKind.withTarget("definition"): _*)
    val srcIsImp = col("kind").isin(EdgeKind.withSource("imported_symbol"): _*)
    val dstIsImp = col("kind").isin(EdgeKind.withTarget("imported_symbol"): _*)
    val keptEdges = base.edges
      .join(doomedDefIds.withColumnRenamed("xid", "d1"),
        srcIsDef && col("source_id") === col("d1"), "left_anti")
      .join(doomedDefIds.withColumnRenamed("xid", "d2"),
        dstIsDef && col("target_id") === col("d2"), "left_anti")
      .join(doomedImpIds.withColumnRenamed("xid", "i1"),
        srcIsImp && col("source_id") === col("i1"), "left_anti")
      .join(doomedImpIds.withColumnRenamed("xid", "i2"),
        dstIsImp && col("target_id") === col("i2"), "left_anti")
    base.copy(definitions = keptDefs, importedSymbols = keptImps, edges = keptEdges)
  }

  /** M3 — apply a reindex batch. `changedPaths` lists every changed path,
    * deleted ones included; `files` holds the surviving ones. Four steps:
    *  1. extract `files`;
    *  2. run the per-file half of the analysis on them;
    *  3. cascade-delete the changed paths from the store, merge what is
    *     left of its per-file tables with the fresh ones into one new dense
    *     id space, and relink the unchanged callers of changed files;
    *  4. run the whole-tree half once over the merged store with the
    *     batch's references: directories and import edges are derived from
    *     the merged tables, and the batch's calls resolve against the whole
    *     graph, as a full index resolves them.
    *
    * Two known gaps against a full index, both in the call edges of
    * unchanged files, which are kept as they were resolved (re-resolving
    * them would need their type facts, which the store does not hold):
    * inheritance chains rooted in an unchanged JVM class degrade to the
    * definitions-derived catalog for the batch's calls; and when the batch
    * removes one of an unchanged call's candidates, its AMBIGUOUSLY_CALLS
    * edge to the remaining one stays where a full index says CALLS
    * (ReindexScenarioSpec pins the one such row of the TypeScript script).
    */
  def applyReindexBatch(spark: SparkSession, store: GraphStore,
      changedPaths: Seq[String], files: Dataset[SourceFile]): GraphStore = {
    import spark.implicits._
    val changed = changedPaths.toDF("changed_path")
    val (fileMeta, rawDefs, rawImps, rawRefs, rawFacts) =
      Indexer.extractTables(spark, files)
    val fresh = Indexer.perFile(spark, fileMeta, rawDefs, rawImps)
    val merged = IdRemapper.rebuild(Seq(
      Indexer.withoutWholeTree(spark, applyCascadingDeletes(store, changed)), fresh))
    // Call edges from SURVIVING callers into changed-file definitions are
    // cascade-deleted with their targets, but the caller's source code did
    // not change — its call still targets the NAME. Re-link those edges to
    // the rebuilt definitions by (file, fqn), which is unique post-A3-dedup
    // (byte offsets shift on every edit, so the full natural key cannot
    // match). Re-linking is exactly what the from-scratch index would have
    // derived for the unchanged caller; edges whose target fqn no longer
    // exists stay deleted.
    val defK = store.definitions.select(col("id").as("dk_id"),
      col("primary_file_path").as("dk_file"), col("fqn").as("dk_fqn"))
    val mergedK = merged.definitions.select(col("id").as("m_id"),
      col("primary_file_path").as("m_file"), col("fqn").as("m_fqn"))
    val relinked = store.edges
      .where(col("kind") === EdgeKind.DefToDef)
      .join(defK.select(col("dk_id").as("s_id"), col("dk_file").as("src_file"),
        col("dk_fqn").as("src_fqn")), col("source_id") === col("s_id"))
      .join(changed, col("src_file") === col("changed_path"), "left_anti")
      .join(defK.select(col("dk_id").as("t_id"), col("dk_file").as("dst_file"),
        col("dk_fqn").as("dst_fqn")), col("target_id") === col("t_id"))
      .join(changed, col("dst_file") === col("changed_path"), "left_semi")
      .drop("s_id", "t_id", "source_id", "target_id")
      .join(mergedK.select(col("m_id").as("source_id"), col("m_file").as("sf"),
        col("m_fqn").as("sq")), col("src_file") === col("sf") &&
          col("src_fqn") === col("sq"))
      .join(mergedK.select(col("m_id").as("target_id"), col("m_file").as("tf"),
        col("m_fqn").as("tq")), col("dst_file") === col("tf") &&
          col("dst_fqn") === col("tq"))
      .select(graft.model.Schemas.edges.fieldNames.map(col).toIndexedSeq: _*)
    Indexer.wholeTree(spark,
      merged.copy(edges = merged.edges.unionByName(relinked)), rawRefs, rawFacts)
  }

  /** T1/T2 — continuous reindex loop: a file-source stream of change records
    * (json lines with changed_path/change_type), debounced by the trigger
    * interval, applied per micro-batch via `onBatch`. The caller's `onBatch`
    * typically runs applyReindexBatch and rewrites the store with
    * GraphStore.write.
    */
  def start(spark: SparkSession, changeFeedDir: String,
            triggerMs: Long)(onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("changed_path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("change_type",
        org.apache.spark.sql.types.StringType)))
    spark.readStream.schema(schema).json(changeFeedDir)
      .writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        onBatch(batch.toDF(), id)
      }
      .start()
  }
}
