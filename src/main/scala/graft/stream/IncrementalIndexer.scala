package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.{EdgeKind, RelType}
import graft.store.GraphStore

/** Incremental maintenance (SURVEY §2.5 M1-M3, §2.6 T1-T2).
  *
  * The reference watches the filesystem, debounces events per project, and
  * re-indexes changed files by DETACH-deleting the affected subgraph and
  * re-inserting fresh rows (http-server-desktop/src/watcher.rs:440-600;
  * indexer/src/mutation/changes.rs:53-260). Here:
  *
  *  - a change batch is a DataFrame of (changed_path, change_type);
  *  - deletion = anti-joins of the store against the changed-path set (M2);
  *  - re-insert = re-running extraction/analysis on just the changed files
  *    and merging on natural keys (M3): [[graft.analyze.IdRemapper.rebuild]]
  *    assigns one fresh dense id space, and the caller rewrites the whole
  *    store with [[graft.store.GraphStore.write]];
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

  /** M3 — apply a reindex batch: delete the changed files' subgraph, then
    * merge in the freshly analyzed replacement store (built by re-running the
    * extract/analyze pipeline on just those files).
    *
    * The surviving store and the fresh store carry unrelated dense-id
    * spaces (the fresh one starts at 0), so a plain union would collide
    * ids; [[graft.analyze.IdRemapper.rebuild]] merges on natural keys and
    * assigns one new id space, remapping all edges.
    */
  def applyReindexBatch(store: GraphStore, changedPaths: DataFrame,
                        fresh: GraphStore): GraphStore = {
    val deleted = applyCascadingDeletes(store, changedPaths)
    // Call edges from SURVIVING callers into changed-file definitions are
    // cascade-deleted with their targets, but the caller's source code did
    // not change — its call still targets the NAME. Re-link those edges to
    // the rebuilt definitions by (file, fqn), which is unique post-A3-dedup
    // (byte offsets shift on every edit, so the full natural key cannot
    // match). Re-linking is exactly what the from-scratch index would have
    // derived for the unchanged caller; edges whose target fqn no longer
    // exists stay deleted.
    val cp0 = changedPaths.select(col("changed_path"))
    val defK = store.definitions.select(col("id").as("dk_id"),
      col("primary_file_path").as("dk_file"), col("fqn").as("dk_fqn"))
    val relinkKeyed = store.edges
      .where(col("kind") === EdgeKind.DefToDef)
      .join(defK.select(col("dk_id").as("s_id"), col("dk_file").as("src_file"),
        col("dk_fqn").as("src_fqn")), col("source_id") === col("s_id"))
      .join(cp0, col("src_file") === col("changed_path"), "left_anti")
      .join(defK.select(col("dk_id").as("t_id"), col("dk_file").as("dst_file"),
        col("dk_fqn").as("dst_fqn")), col("target_id") === col("t_id"))
      .join(cp0, col("dst_file") === col("changed_path"), "left_semi")
      .drop("s_id", "t_id", "source_id", "target_id")
    // Cross-file edges (import resolution, IMP_TO_*) depend on files OUTSIDE
    // the changed set — a fresh per-file analysis can't see resolution
    // targets in unchanged files, and unchanged imports may now resolve into
    // the changed file. Drop the whole family and recompute it over the
    // merged node tables (a deterministic function of them; same joins the
    // full index runs — A6 is cheap relative to parsing).
    val crossFileKinds = Seq(EdgeKind.ImpToImp, EdgeKind.ImpToDef, EdgeKind.ImpToFile)
    def dropCrossFile(s: GraphStore) =
      s.copy(edges = s.edges.where(!col("kind").isin(crossFileKinds: _*)))
    val merged = graft.analyze.IdRemapper.rebuild(
      Seq(dropCrossFile(deleted), dropCrossFile(fresh)))
    val nulls = Seq("source_start_byte", "source_end_byte").map(c =>
      lit(null).cast("long").as(c)) ++
      Seq("source_start_line", "source_end_line", "source_start_col",
        "source_end_col").map(c => lit(null).cast("int").as(c))
    val importEdges = graft.analyze.PythonResolver.resolveImports(
        merged.importedSymbols, merged.files, merged.definitions)
      .select(col("*") +: nulls: _*)
    val mergedK = merged.definitions.select(col("id").as("m_id"),
      col("primary_file_path").as("m_file"), col("fqn").as("m_fqn"))
    val relinked = relinkKeyed
      .join(mergedK.select(col("m_id").as("source_id"), col("m_file").as("sf"),
        col("m_fqn").as("sq")), col("src_file") === col("sf") &&
          col("src_fqn") === col("sq"))
      .join(mergedK.select(col("m_id").as("target_id"), col("m_file").as("tf"),
        col("m_fqn").as("tq")), col("dst_file") === col("tf") &&
          col("dst_fqn") === col("tq"))
      .select(graft.model.Schemas.edges.fieldNames.map(col).toIndexedSeq: _*)
    merged.copy(edges = merged.edges.unionByName(relinked)
      .unionByName(importEdges).distinct())
  }

  /** M3, file-based face — the complete incremental contract: re-extract
    * the changed files and resolve their references against the MERGED
    * graph, not the batch alone. The store-based overload above can only
    * resolve batch refs within the batch (a GraphStore carries no raw
    * refs), so a call from a changed file into an UNCHANGED file's
    * definition — `main.rb` newly calling `UserModel.create` — would be
    * lost there; here it resolves exactly as a from-scratch index would.
    *
    * Shape: extract batch → batch-local index WITHOUT its call edges →
    * node-table merge + caller re-link + import recompute (the overload
    * above) → one [[graft.analyze.Indexer.resolveCallEdges]] pass of the
    * batch refs over the merged tables (typed JVM/Ruby + heuristic, with
    * import-scoped cross-file candidates). Two known gaps against a
    * from-scratch index: JVM type FACTS of unchanged files are not
    * persisted, so inheritance chains rooted in unchanged classes degrade
    * to the defs-derived catalog; and an unchanged file's call edges are
    * kept as resolved, so when the batch removes one of a call's
    * candidates, its AMBIGUOUSLY_CALLS edge to the remaining one stays
    * ambiguous where a fresh index says CALLS (ReindexScenarioSpec pins
    * the one such row of the TypeScript script).
    */
  def applyReindexBatch(spark: org.apache.spark.sql.SparkSession,
      store: GraphStore, changedPaths: DataFrame,
      freshFiles: org.apache.spark.sql.Dataset[graft.extract.SourceFile])
      : GraphStore = {
    val (fm, rawDefs, rawImps, rawRefs, rawFacts) =
      graft.analyze.Indexer.extractTables(spark, freshFiles)
    val freshFull = graft.analyze.Indexer.fromParsed(
      spark, fm, rawDefs, rawImps, rawRefs, rawFacts)
    // drop the batch-local call resolution: it is recomputed below against
    // the merged world (batch-local answers can differ — a name unique in
    // the batch may be ambiguous globally). Nesting DEF_TO_DEF edges stay.
    val callTypes = Seq(RelType.Calls, RelType.AmbiguouslyCalls,
      RelType.PropertyReference)
    val fresh = freshFull.copy(edges = freshFull.edges.where(
      !(col("kind") === EdgeKind.DefToDef && col("type").isin(callTypes: _*)) &&
        col("kind") =!= EdgeKind.DefToImp))
    val merged = applyReindexBatch(store, changedPaths, fresh)
    val mergedFileMeta = merged.files.select(col("path"),
      col("absolute_path").as("absolutePath"),
      col("repository_name").as("repositoryName"),
      col("name"), col("extension"), col("language"))
    val callEdges = graft.analyze.Indexer.resolveCallEdges(spark,
      mergedFileMeta, rawRefs, rawFacts, merged.definitions,
      merged.importedSymbols, merged.files,
      merged.edges.where(col("kind").isin(
        EdgeKind.ImpToImp, EdgeKind.ImpToDef, EdgeKind.ImpToFile)))
    merged.copy(edges =
      merged.edges.unionByName(callEdges, allowMissingColumns = true)
        .distinct())
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
