package graft.serve

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.BatchScope
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Push event bus for the serving layer — the Spark-side analog of the
  * reference's `crates/event-bus` broadcast channel (lib.rs:180-205): every
  * subscriber gets every event published after it subscribes; the SSE
  * endpoint drains a subscription per connection. Events are the serialized
  * JSON the wire carries (the reference serializes `GkgEvent` the same way).
  *
  * [[graft.stream.EventBus.Bus]] (the StreamingQueryListener) is bridged in
  * by [[attachStreamListener]], so Structured Streaming lifecycle events
  * (T3) reach SSE clients alongside workspace indexing events.
  */
final class EventPublisher {
  private val subs =
    new ConcurrentHashMap[Long, java.util.concurrent.BlockingQueue[String]]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)

  def subscribe(): (Long, java.util.concurrent.BlockingQueue[String]) = {
    val id = nextId.incrementAndGet()
    val q = new java.util.concurrent.LinkedBlockingQueue[String](1024)
    subs.put(id, q)
    (id, q)
  }

  def unsubscribe(id: Long): Unit = subs.remove(id)

  /** Publish a typed event as `{"type":...,"timestamp":...,...payload}`. */
  def publish(eventType: String, payload: (String, JValue)*): Unit = {
    val json = JObject(
      ("type" -> JString(eventType)) +:
      ("timestamp" -> JString(Instant.now.toString)) +: payload.toList)
    val line = JsonMethods.compact(JsonMethods.render(json))
    subs.values.asScala.foreach(q => q.offer(line)) // drop on slow consumer
  }

  /** Bridge a Structured Streaming listener bus: lifecycle events become
    * published events (reference: indexing progress on the same bus the
    * SSE endpoint serves — events.rs:45-84).
    */
  def attachStreamListener(spark: SparkSession)
      : org.apache.spark.sql.streaming.StreamingQueryListener = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        publish("StreamStarted", "query_id" -> JString(e.id.toString),
          "name" -> JString(Option(e.name).getOrElse("")))
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        publish("StreamProgress", "query_id" -> JString(e.progress.id.toString),
          "batch_id" -> JLong(e.progress.batchId),
          "num_input_rows" -> JLong(e.progress.numInputRows))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        publish("StreamTerminated", "query_id" -> JString(e.id.toString))
    }
    spark.streams.addListener(listener)
    listener
  }
}

/** Workspace registry + indexing dispatch — the serving-layer state the
  * reference keeps in `crates/workspace-manager` (workspace_manager.rs:27-66:
  * a manifest of workspace folders, their projects, status
  * Pending|Indexing|Indexed|Error, last_indexed_at) driving the
  * workspace endpoints and the event bus.
  *
  * A "project" is a git repository inside the workspace folder (the folder
  * itself if it contains `.git`, else each immediate child that does —
  * the reference discovers projects the same way via gitalisk). Each project
  * indexes to a [[graft.store.GraphStore]] parquet store under
  * `dataDir/<workspace-hash>/<project-hash>`.
  *
  * Jobs run on a single-threaded dispatcher: the reference serializes
  * indexing through its job queue (queue/dispatch.rs), and Spark jobs inside
  * one session parallelize internally, so queueing whole workspaces is the
  * scale-correct unit.
  */
final class WorkspaceManager(spark: SparkSession, val dataDir: String,
    bus: EventPublisher,
    // start the filesystem watch → incremental-reindex loop automatically
    // after each successful index, as the reference's desktop server does
    autoWatch: Boolean = false) {

  // status fields are written on the job thread and read from HTTP pool
  // threads: volatile gives the happens-before edge (the ConcurrentHashMap
  // entry itself is never re-put, so it provides none)
  final case class ProjectState(projectPath: String, hash: String,
      @volatile var status: String,
      @volatile var lastIndexedAt: Option[String],
      @volatile var errorMessage: Option[String])
  final case class WorkspaceState(path: String, dataDirectoryName: String,
      projects: Seq[ProjectState], @volatile var status: String,
      @volatile var lastIndexedAt: Option[String])

  private val workspaces = new ConcurrentHashMap[String, WorkspaceState]()
  private val jobs = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => { val t = new Thread(r, "graft-index-jobs"); t.setDaemon(true); t })

  private def hashOf(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Git repositories in a workspace folder (the folder itself, or its
    * immediate children). Mirrors the reference's project discovery.
    */
  private def discoverProjects(ws: Path): Seq[Path] =
    if (Files.isDirectory(ws.resolve(".git"))) Seq(ws)
    else if (!Files.isDirectory(ws)) Nil
    else {
      val s = Files.list(ws)
      try s.iterator().asScala.filter(p =>
        Files.isDirectory(p) && Files.isDirectory(p.resolve(".git")))
        .toSeq.sortBy(_.toString)
      finally s.close()
    }

  /** Register (or return) a workspace folder. None = path doesn't exist. */
  def getOrRegister(path: String): Option[WorkspaceState] = {
    val p = Paths.get(path)
    if (!Files.isDirectory(p)) return None
    Some(workspaces.computeIfAbsent(path, _ => {
      val projects = discoverProjects(p).map { pp =>
        ProjectState(pp.toString, hashOf(pp.toString), "Pending", None, None)
      }
      WorkspaceState(path, hashOf(path), projects, "Pending", None)
    }))
  }

  def get(path: String): Option[WorkspaceState] = Option(workspaces.get(path))

  def list(): Seq[WorkspaceState] =
    workspaces.values.asScala.toSeq.sortBy(_.path)

  def storeDirFor(ws: WorkspaceState, p: ProjectState): String =
    Paths.get(dataDir, ws.dataDirectoryName, p.hash).toString

  /** Queue an indexing run for every project of a registered workspace.
    * Publishes WorkspaceIndexingStarted / Completed / Failed — the
    * reference's event sequence (event-bus/src/lib.rs:57-86).
    */
  def dispatchIndex(ws: WorkspaceState): Unit = {
    ws.status = "Indexing"
    ws.projects.foreach(_.status = "Indexing")
    jobs.submit(new Runnable {
      override def run(): Unit = {
        bus.publish("WorkspaceIndexingStarted",
          "workspace_folder_info" -> workspaceJson(ws),
          "projects_to_process" -> JArray(
            ws.projects.map(p => JString(p.projectPath)).toList))
        // a concurrent DELETE /workspace/delete deregisters the workspace:
        // the job must not resurrect its store or publish for a ghost
        def live: Boolean = workspaces.containsKey(ws.path)
        try {
          ws.projects.foreach { p =>
            if (live) {
              graft.analyze.Indexer.indexTo(spark, p.projectPath,
                Paths.get(p.projectPath).getFileName.toString,
                storeDirFor(ws, p))
              if (live) {
                p.status = "Indexed"
                p.lastIndexedAt = Some(Instant.now.toString)
                p.errorMessage = None
              }
            }
          }
          // a delete can land between any `live` check above and the store
          // write that follows it (check-then-act): re-check once after the
          // loop — a deregistered workspace gets no status writes and any
          // store directory the race recreated is removed
          if (live) {
            ws.status = "Indexed"
            ws.lastIndexedAt = Some(Instant.now.toString)
            // start the watch (baseline snapshot) BEFORE announcing
            // completion — an edit made the instant a client sees
            // Completed must land after the watcher's baseline, or the
            // snapshot diff never reports it
            if (autoWatch) watchWorkspace(ws)
            bus.publish("WorkspaceIndexingCompleted",
              "workspace_folder_info" -> workspaceJson(ws),
              "projects_indexed" -> JArray(
                ws.projects.map(p => JString(p.projectPath)).toList))
          } else deleteDir(Paths.get(dataDir, ws.dataDirectoryName))
        } catch {
          case e: Exception =>
            ws.status = "Error"
            ws.projects.filter(_.status == "Indexing").foreach { p =>
              p.status = "Error"; p.errorMessage = Some(e.getMessage)
            }
            bus.publish("WorkspaceIndexingFailed",
              "workspace_folder_info" -> workspaceJson(ws),
              "error" -> JString(String.valueOf(e.getMessage)))
        }
      }
    })
    ()
  }

  /** Per-project live-watch state started by [[watchWorkspace]]. */
  private val watchers = new ConcurrentHashMap[String,
    (graft.stream.FileWatcher, org.apache.spark.sql.streaming.StreamingQuery)]()

  /** Start the watch → debounce → incremental-reindex loop for every
    * indexed project of a workspace — the reference's desktop server does
    * this automatically after indexing (watcher.rs:440-600). Each project
    * gets a [[graft.stream.FileWatcher]] writing its change feed under the
    * project's data directory and a Structured Streaming query applying
    * the merged-graph reindex and rewriting the store; a
    * `WorkspaceReindexed` event lands on the bus per processed batch.
    */
  def watchWorkspace(ws: WorkspaceState, pollMs: Long = 1000L): Unit =
    ws.projects.filter(_.status == "Indexed").foreach { p =>
      watchers.computeIfAbsent(storeDirFor(ws, p), storeDir => {
        val feedDir = Paths.get(storeDir + "_feed")
        Files.createDirectories(feedDir)
        val watcher = new graft.stream.FileWatcher(
          p.projectPath, feedDir.toString, pollMs)
        watcher.start()
        val query = graft.stream.IncrementalIndexer.start(
          spark, feedDir.toString, pollMs)((batch, _) => reindexBatch(ws, p, batch))
        (watcher, query)
      })
      ()
    }

  /** One change batch of a project's watch loop: read the surviving
    * changed paths, merge them into the store's graph, rewrite the store
    * and publish `WorkspaceReindexed`. It runs as one [[BatchScope]], so
    * every checkpoint it makes is freed once the write returns or throws.
    */
  private[graft] def reindexBatch(ws: WorkspaceState, p: ProjectState,
      batch: DataFrame): Unit = {
    val rows = batch.select("changed_path", "change_type").collect()
    if (rows.nonEmpty) {
      val storeDir = storeDirFor(ws, p)
      Using.resource(BatchScope()) { scope =>
        val surviving = rows.collect {
          case r if r.getString(1) != "deleted" => r.getString(0)
        }
        val freshFiles = graft.extract.FileScanner.scanPaths(spark,
          p.projectPath, Paths.get(p.projectPath).getFileName.toString,
          surviving)
        val merged = graft.stream.IncrementalIndexer.applyReindexBatch(spark,
          graft.store.GraphStore.read(spark, storeDir),
          rows.map(_.getString(0)).toSeq, freshFiles)
        // cut lineage back to the store being overwritten before the
        // overwrite (each checkpoint materializes its table)
        merged.copy(
          directories = scope.checkpoint(merged.directories),
          files = scope.checkpoint(merged.files),
          definitions = scope.checkpoint(merged.definitions),
          importedSymbols = scope.checkpoint(merged.importedSymbols),
          edges = scope.checkpoint(merged.edges)).write(storeDir)
      }
      p.lastIndexedAt = Some(Instant.now.toString)
      bus.publish("WorkspaceReindexed",
        "workspace_folder_path" -> JString(ws.path),
        "project_path" -> JString(p.projectPath),
        "changed" -> JArray(rows.map(r =>
          JString(r.getString(0))).toList))
    }
  }

  /** Stop watchers/queries for one workspace (delete calls this). */
  private def unwatch(ws: WorkspaceState): Unit =
    ws.projects.foreach { p =>
      Option(watchers.remove(storeDirFor(ws, p))).foreach { case (w, q) =>
        w.stop(); try q.stop() catch { case _: Exception => () }
      }
    }

  /** Remove a workspace and its stores; false if it wasn't registered. */
  private def deleteDir(root: Path): Unit =
    graft.store.GraphStore.deleteRecursively(root)

  def delete(path: String): Boolean = {
    val ws = workspaces.remove(path)
    if (ws == null) return false
    unwatch(ws)
    deleteDir(Paths.get(dataDir, ws.dataDirectoryName))
    true
  }

  def shutdown(): Unit = {
    workspaces.values.asScala.foreach(unwatch)
    jobs.shutdownNow()
  }

  // ---- JSON shapes (field names from the reference's TS exports) ---------

  /** TSWorkspaceFolderInfo — event-bus/src/types/workspace_folder.rs:7-13. */
  def workspaceJson(ws: WorkspaceState): JObject = JObject(
    "workspace_folder_path" -> JString(ws.path),
    "data_directory_name" -> JString(ws.dataDirectoryName),
    "status" -> JString(ws.status),
    "last_indexed_at" -> ws.lastIndexedAt.map(JString(_)).getOrElse(JNull),
    "project_count" -> JInt(ws.projects.size))

  /** TSProjectInfo — event-bus/src/types/project_info.rs:7-16. */
  def projectJson(ws: WorkspaceState, p: ProjectState): JObject = JObject(
    "project_path" -> JString(p.projectPath),
    "workspace_folder_path" -> JString(ws.path),
    "project_hash" -> JString(p.hash),
    "status" -> JString(p.status),
    "last_indexed_at" -> p.lastIndexedAt.map(JString(_)).getOrElse(JNull),
    "error_message" -> p.errorMessage.map(JString(_)).getOrElse(JNull),
    "database_path" -> JString(storeDirFor(ws, p)),
    "parquet_directory" -> JString(storeDirFor(ws, p)))
}
