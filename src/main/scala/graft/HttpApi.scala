package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.query.QueryLibrary
import graft.store.GraphStore

/** HTTP graph-explorer facade over [[QueryLibrary]] — the serving face of
  * the reference's `crates/http-server-desktop/src/endpoints/`
  * (axum REST API consumed by the graph-explorer UI).
  *
  * Graph routes (endpoints/graph/):
  *  - `/graph/initial/{workspace}/{project}` — graph_initial.rs:73
  *    (`?directory_limit&file_limit&definition_limit&imported_symbol_limit`,
  *    handler defaults 100/200/500/50 — graph_initial.rs:115-118)
  *  - `/graph/neighbors/{workspace}/{project}/{node_type}/{node_id}` —
  *    graph_neighbors.rs:72 (`?limit`)
  *  - `/graph/search/{workspace}/{project}?search_term=&limit=` —
  *    graph_search.rs:67
  *  - `/graph/stats/{workspace}/{project}` — graph_stats.rs:75
  *
  * Server/workspace routes:
  *  - `GET /health` — health.rs:7 (bare 200)
  *  - `GET /metrics` — deployed-server Prometheus exposition
  *    (http-server-deployed/src/endpoints/metrics.rs:8-18), public like
  *    `/health`; request counter + latency histogram collected by the
  *    dispatch middleware ([[graft.serve.Metrics]])
  *  - `GET /info` — info.rs:45 (`{"port":…,"version":…}`)
  *  - `GET /events` — events.rs:45 (SSE: one `gkg-connection` event, then
  *    `gkg-event` frames from the [[graft.serve.EventPublisher]] bus, which
  *    carries workspace-indexing lifecycle events and bridged Structured
  *    Streaming lifecycle events)
  *  - `POST /workspace/index` — workspace_index.rs:70 (register + queue an
  *    indexing job; 400 `invalid_workspace_path` /
  *    `no_projects_found_in_workspace`)
  *  - `GET /workspace/list` — workspace_list.rs (workspaces + projects)
  *  - `DELETE /workspace/delete` — workspace_delete.rs:74 (400
  *    `empty_workspace_path`, 404 `workspace_not_found`)
  *
  * Error contract mirrored from the reference handlers: blank decoded path
  * params → 400 `{"status":"empty_project_path"}` (etc.), unknown project →
  * 404 `project_not_found`, unknown node type → 400 `invalid_node_type`,
  * unknown route → 404. Responses carry the reference's field names
  * (`nodes`, `relationships`, `project_info`, `node_counts`,
  * `relationship_counts`); node types use the reference's labels
  * (`DirectoryNode`, …). `total_relationships` deliberately excludes
  * imported-symbol relationships, replicating graph_stats.rs:204-206.
  *
  * Serving shape (same as [[McpServer]]): one long-lived SparkSession over
  * a cached GraphStore; every request is a bounded QueryLibrary program.
  * The JDK's built-in `com.sun.net.httpserver` carries the protocol — no
  * dependencies beyond the JDK.
  *
  * Usage: graft.GraphHttpServer <storeDir> [port] [workspace] [project]
  */
object GraphHttpServer {

  /** Reported by `/info` (the reference ships CARGO_PKG_VERSION — 0.19.0). */
  val Version = "0.19.0-spark"

  /** Reference node-type labels ↔ internal node kinds. */
  val NodeTypes: Map[String, String] = Map(
    "DirectoryNode" -> "directory", "FileNode" -> "file",
    "DefinitionNode" -> "definition", "ImportedSymbolNode" -> "imported_symbol")
  private val KindToType = NodeTypes.map(_.swap)

  private val serverIds = new java.util.concurrent.atomic.AtomicInteger(0)

  def main(args: Array[String]): Unit = {
    val storeDir = args.headOption.getOrElse(
      sys.error("usage: graft.GraphHttpServer <storeDir> [port] [workspace] [project]"))
    val port = args.lift(1).map(_.toInt).getOrElse(27495)
    val workspace = args.lift(2).getOrElse("workspace")
    val project = args.lift(3).getOrElse(new java.io.File(storeDir).getName)
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-http")
    val server = new GraphHttpServer(spark, storeDir, workspace, project)
    server.start(port)
    println(s"graft-http listening on :$port  ($workspace/$project)")
    Thread.currentThread.join()
  }
}

final class GraphHttpServer(spark: SparkSession, storeDir: String,
    workspaceFolderPath: String, projectPath: String,
    dataDir: String = java.nio.file.Files
      .createTempDirectory("graft-ws-data").toString,
    // deployed-mode bearer auth (http-server-deployed): when a secret file
    // is configured, every route except /health and /metrics requires a
    // valid HS256 JWT. Default: desktop mode, no auth (the reference's
    // desktop server has none either).
    jwtSecretPath: Option[String] = sys.env.get("GRAFT_JWT_SECRET_FILE")) {
  import GraphHttpServer._

  private val auth: Option[graft.serve.JwtAuth] =
    jwtSecretPath.map(new graft.serve.JwtAuth(_))

  private val lib = new QueryLibrary(GraphStore.read(spark, storeDir).cacheAll())
  private var httpServer: com.sun.net.httpserver.HttpServer = _
  private var boundPort: Int = 0
  private val closing = new java.util.concurrent.atomic.AtomicBoolean(false)
  private var streamListener: org.apache.spark.sql.streaming.StreamingQueryListener = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Name prefix of this server's request threads (unique per instance). */
  private[graft] val threadNamePrefix =
    s"graft-http-${serverIds.incrementAndGet()}-"

  /** Serving-layer event bus + workspace registry (reference: AppState's
    * event_bus + workspace_manager shared across endpoints).
    */
  /** Prometheus request metrics, served at the public `/metrics` endpoint
    * [[graft.serve.JwtAuth.PublicEndpoints]] whitelists.
    */
  val metrics = new graft.serve.Metrics

  val events = new graft.serve.EventPublisher
  // autoWatch: the serving face starts the watch → reindex loop after each
  // successful index, the reference desktop server's behavior
  val workspaceManager =
    new graft.serve.WorkspaceManager(spark, dataDir, events, autoWatch = true)

  def start(port: Int): Int = {
    streamListener = events.attachStreamListener(spark)
    httpServer = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    httpServer.createContext("/", (exchange: com.sun.net.httpserver.HttpExchange) => {
      // request-metrics middleware (metrics.rs:18-34): count every request,
      // time the non-streaming ones by method + raw path
      metrics.incRequests()
      val t0 = System.nanoTime()
      val rawPath = exchange.getRequestURI.getRawPath
      val denied = authorize(rawPath,
        Option(exchange.getRequestHeaders.getFirst("Authorization")))
      if (denied.isEmpty && rawPath == "/events")
        serveSse(exchange)
      else {
        val (status, body) = denied.getOrElse {
          val reqBody = new String(exchange.getRequestBody.readAllBytes(), "UTF-8")
          try route(exchange.getRequestMethod, rawPath,
            Option(exchange.getRequestURI.getRawQuery).getOrElse(""), reqBody)
          catch { case e: Exception =>
            (500, statusJson(s"internal_error: ${e.getMessage}")) }
        }
        val bytes = body.getBytes("UTF-8")
        exchange.getResponseHeaders.set("Content-Type",
          if (rawPath == "/metrics") metrics.ContentType else "application/json")
        exchange.sendResponseHeaders(status,
          if (bytes.isEmpty) -1L else bytes.length.toLong)
        if (bytes.nonEmpty) exchange.getResponseBody.write(bytes)
        exchange.close()
        metrics.observeDuration(exchange.getRequestMethod, rawPath,
          (System.nanoTime() - t0) / 1e9)
      }
    })
    // without an executor the JDK server dispatches on a single thread;
    // SparkSession is thread-safe, so concurrent requests can run as
    // concurrent Spark jobs (scheduled FIFO by the DAG scheduler)
    val threadIds = new java.util.concurrent.atomic.AtomicInteger(0)
    pool = java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => new Thread(r, threadNamePrefix + threadIds.incrementAndGet()))
    httpServer.setExecutor(pool)
    httpServer.start()
    boundPort = httpServer.getAddress.getPort
    boundPort
  }

  def stop(): Unit = {
    closing.set(true)
    workspaceManager.shutdown()
    if (streamListener != null) spark.streams.removeListener(streamListener)
    if (httpServer != null) httpServer.stop(0)
    if (pool != null) {
      // SSE handlers see `closing` within one 250 ms poll and return
      pool.shutdown()
      if (!pool.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS))
        pool.shutdownNow()
    }
  }

  /** `GET /events` — the SSE push channel (events.rs:45-84): an immediate
    * `gkg-connection` frame, then one `gkg-event` frame per published bus
    * event, until the client disconnects or the server stops.
    */
  private def serveSse(exchange: com.sun.net.httpserver.HttpExchange): Unit = {
    val (subId, queue) = events.subscribe()
    try {
      exchange.getResponseHeaders.set("Content-Type", "text/event-stream")
      exchange.getResponseHeaders.set("Cache-Control", "no-cache")
      exchange.sendResponseHeaders(200, 0) // chunked: stream until close
      val out = exchange.getResponseBody
      val hello = JsonMethods.compact(JsonMethods.render(JObject(
        "type" -> JString("connection-established"),
        "timestamp" -> JString(java.time.Instant.now.toString),
        "message" -> JString("SSE connection established"))))
      out.write(s"event: gkg-connection\ndata: $hello\n\n".getBytes("UTF-8"))
      out.flush()
      var lastWrite = System.nanoTime()
      while (!closing.get()) {
        val line = queue.poll(250, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (line != null) {
          out.write(s"event: gkg-event\ndata: $line\n\n".getBytes("UTF-8"))
          out.flush()
          lastWrite = System.nanoTime()
        } else if (System.nanoTime() - lastWrite > 15L * 1000 * 1000 * 1000) {
          // idle heartbeat (SSE comment frame): a silently-disconnected
          // client otherwise never triggers a write, and its handler would
          // hold one of the 8 pool threads forever — the write to a dead
          // socket raises the IOException that frees the thread
          out.write(": keepalive\n\n".getBytes("UTF-8"))
          out.flush()
          lastWrite = System.nanoTime()
        }
      }
    } catch {
      case _: java.io.IOException => () // client went away
      case _: InterruptedException => ()
    } finally {
      events.unsubscribe(subId)
      exchange.close()
    }
  }

  /** One request → (status, JSON body). Pure of transport so specs can hit
    * it directly; the socket handler above is a thin shell. (SSE is the one
    * route that bypasses this — it streams.)
    */
  def route(method: String, rawPath: String, rawQuery: String,
            body: String): (Int, String) = {
    val segs = rawPath.split("/").filter(_.nonEmpty).toSeq
      .map(s => java.net.URLDecoder.decode(s, "UTF-8"))
    val params = parseQuery(rawQuery)
    (method, segs) match {
      case ("GET", Seq("health")) => (200, "") // health.rs: bare 200
      case ("GET", Seq("metrics")) => (200, metrics.render) // metrics.rs:8-18
      case ("GET", Seq("info")) =>
        (200, JsonMethods.compact(JsonMethods.render(JObject(
          "port" -> JInt(boundPort), "version" -> JString(Version)))))
      case ("POST", Seq("workspace", "index")) => workspaceIndex(body)
      case ("GET", Seq("workspace", "list")) => workspaceList()
      case ("DELETE", Seq("workspace", "delete")) => workspaceDelete(body)
      case ("GET", Seq("graph", op, ws, proj, rest @ _*)) =>
        if (proj.trim.isEmpty)
          (400, statusJson("empty_project_path"))
        else if (ws.trim.isEmpty)
          (400, statusJson("empty_workspace_folder_path"))
        else if (ws != workspaceFolderPath || proj != projectPath)
          (404, statusJson("project_not_found"))
        else (op, rest) match {
          case ("initial", Seq()) => initial(params)
          case ("neighbors", Seq(nodeType, nodeId)) =>
            neighbors(nodeType, nodeId, params)
          case ("search", Seq()) => search(params)
          case ("stats", Seq()) => stats()
          case _ => (404, statusJson("not_found"))
        }
      case _ => (404, statusJson("not_found"))
    }
  }

  /** Back-compat shim for GET-only callers. */
  def route(rawPath: String, rawQuery: String): (Int, String) =
    route("GET", rawPath, rawQuery, "")

  /** Deployed-mode auth gate (authentication.rs:90-121): None = allowed;
    * Some((401, body)) with the reference's `{"error": …}` shape otherwise.
    * No-op in desktop mode (no secret configured) and for public endpoints.
    */
  def authorize(rawPath: String, authHeader: Option[String]): Option[(Int, String)] =
    auth match {
      case None => None
      case Some(_) if graft.serve.JwtAuth.PublicEndpoints(rawPath) => None
      case Some(a) =>
        authHeader match {
          case None => Some((401, JsonMethods.compact(JsonMethods.render(
            JObject("error" -> JString("Missing Authorization header"))))))
          case Some(h) => a.verifyBearer(h) match {
            case Right(_) => None
            case Left(err) => Some((401, JsonMethods.compact(JsonMethods.render(
              JObject("error" -> JString(err))))))
          }
        }
    }

  // ---- workspace endpoints ------------------------------------------------

  private def bodyField(body: String, k: String): Option[String] =
    try (JsonMethods.parse(body) \ k) match {
      case JString(s) => Some(s)
      case _ => None
    } catch { case _: Exception => None }

  /** workspace_index.rs:70-137: validate path, register, queue the job. */
  private def workspaceIndex(body: String): (Int, String) = {
    val path = bodyField(body, "workspace_folder_path").getOrElse("")
    workspaceManager.getOrRegister(path) match {
      case None => (400, statusJson("invalid_workspace_path"))
      case Some(ws) if ws.projects.isEmpty =>
        (400, statusJson("no_projects_found_in_workspace"))
      case Some(ws) =>
        workspaceManager.dispatchIndex(ws)
        (200, JsonMethods.compact(JsonMethods.render(
          workspaceManager.workspaceJson(ws))))
    }
  }

  /** workspace_list.rs: every workspace with its projects. */
  private def workspaceList(): (Int, String) = {
    val wss = workspaceManager.list().map { ws =>
      JObject(
        "workspace_info" -> workspaceManager.workspaceJson(ws),
        "projects" -> JArray(
          ws.projects.map(p => workspaceManager.projectJson(ws, p)).toList))
    }
    (200, JsonMethods.compact(JsonMethods.render(
      JObject("workspaces" -> JArray(wss.toList)))))
  }

  /** workspace_delete.rs:74-131: drop stores, remove the registration. */
  private def workspaceDelete(body: String): (Int, String) = {
    val path = bodyField(body, "workspace_folder_path").getOrElse("")
    if (path.trim.isEmpty) return (400, statusJson("empty_workspace_path"))
    if (workspaceManager.get(path).isEmpty)
      return (404, statusJson("workspace_not_found"))
    val removed = workspaceManager.delete(path)
    (200, JsonMethods.compact(JsonMethods.render(JObject(
      "workspace_folder_path" -> JString(path),
      "removed" -> JBool(removed)))))
  }

  // ---- endpoints ----------------------------------------------------------

  /** Client-supplied limits are clamped to [0, MaxLimit]: every endpoint
    * assembles its response by collecting the (limit-bounded) result on the
    * long-lived server process, so a huge or negative query-string limit
    * must never reach the query layer as-is.
    */
  private val MaxLimit = 10000
  private def clampLimit(params: Map[String, String], k: String, d: Int): Int =
    math.min(math.max(params.get(k).flatMap(_.toIntOption).getOrElse(d), 0), MaxLimit)

  /** graph_initial.rs:99-230 — the Q7 bounded whole-graph snapshot, limits
    * from the query string (handler defaults 100/200/500/50).
    */
  private def initial(params: Map[String, String]): (Int, String) = {
    def limit(k: String, d: Int) = clampLimit(params, k, d)
    val rows = lib.initialProjectGraph(
      directoryLimit = limit("directory_limit", 100),
      fileLimit = limit("file_limit", 200),
      definitionLimit = limit("definition_limit", 500),
      importedSymbolLimit = limit("imported_symbol_limit", 50)).collect()
    val nodes = rows.flatMap { r =>
      Seq((r.getAs[String]("src_kind"), r.getAs[Long]("source_id"),
            r.getAs[String]("src_label")),
          (r.getAs[String]("dst_kind"), r.getAs[Long]("target_id"),
            r.getAs[String]("dst_label")))
    }.distinct.sortBy(n => (n._1, n._2))
    (200, JsonMethods.compact(JsonMethods.render(JObject(
      "nodes" -> JArray(nodes.map((nodeJson _).tupled).toList),
      "relationships" -> JArray(rows.map(relationshipJson).toList),
      "project_info" -> projectInfo))))
  }

  /** graph_neighbors.rs:103-230 — Q8's undirected 1-hop neighborhood. */
  private def neighbors(nodeType: String, nodeIdRaw: String,
      params: Map[String, String]): (Int, String) = {
    if (nodeType.trim.isEmpty) return (400, statusJson("empty_node_type"))
    val kind = NodeTypes.getOrElse(nodeType,
      return (400, statusJson("invalid_node_type")))
    val nodeId = nodeIdRaw.toLongOption.getOrElse(
      return (400, statusJson("invalid_node_id")))
    val limit = clampLimit(params, "limit", 100)
    val rows = lib.nodeNeighbors(kind, nodeId, limit).collect()
    val selfId = ref(kind, nodeId)
    val nodes = rows.map { r =>
      (r.getAs[String]("neighbor_kind"), r.getAs[Long]("neighbor_id"),
        r.getAs[String]("neighbor_label"))
    }.distinct.sortBy(n => (n._1, n._2))
    val rels = rows.map { r =>
      val other = ref(r.getAs[String]("neighbor_kind"), r.getAs[Long]("neighbor_id"))
      // dir=out: queried node is the source of the stored edge; dir=in: target.
      val (src, dst) =
        if (r.getAs[String]("dir") == "out") (selfId, other) else (other, selfId)
      val name = r.getAs[String]("rel_type")
      JObject("id" -> JString(s"$src->$dst:$name"),
        "source" -> JString(src), "target" -> JString(dst),
        "relationship_name" -> JString(name),
        "relationship_type" -> JString(name))
    }
    (200, JsonMethods.compact(JsonMethods.render(JObject(
      "nodes" -> JArray(nodes.map((nodeJson _).tupled).toList),
      "relationships" -> JArray(rels.toList),
      "project_info" -> projectInfo))))
  }

  /** graph_search.rs:94-220 — Q9's 4-table CONTAINS search; nodes only. */
  private def search(params: Map[String, String]): (Int, String) = {
    val term = params.getOrElse("search_term", "")
    if (term.trim.isEmpty) return (400, statusJson("empty_search_term"))
    val limit = clampLimit(params, "limit", 100)
    val nodes = lib.searchNodes(term, limit).collect().map { r =>
      val kind = r.getAs[String]("node_type")
      JObject("id" -> JString(ref(kind, r.getAs[Long]("node_id"))),
        "node_id" -> JLong(r.getAs[Long]("node_id")),
        "node_type" -> JString(KindToType(kind)),
        "name" -> JString(r.getAs[String]("name")),
        "detail" -> JString(r.getAs[String]("detail")))
    }
    (200, JsonMethods.compact(JsonMethods.render(JObject(
      "nodes" -> JArray(nodes.toList), "project_info" -> projectInfo))))
  }

  /** graph_stats.rs:103-228 — Q21's one-row census, bucketed by the
    * reference's relationship tables (dir/file/def/imp edge families).
    */
  private def stats(): (Int, String) = {
    val r = lib.graphStats().collect().head
    def c(name: String) = r.getAs[Long](name)
    val dirRels = c("DIR_TO_DIR") + c("DIR_TO_FILE")
    val fileRels = c("FILE_TO_DEF") + c("FILE_TO_IMP")
    val defRels = c("DEF_TO_DEF") + c("DEF_TO_IMP")
    val totalNodes = c("directory_count") + c("file_count") +
      c("definition_count") + c("imported_symbol_count")
    (200, JsonMethods.compact(JsonMethods.render(JObject(
      "total_nodes" -> JLong(totalNodes),
      // graph_stats.rs:204-206 sums only these three families.
      "total_relationships" -> JLong(dirRels + fileRels + defRels),
      "node_counts" -> JObject(
        "directory_count" -> JLong(c("directory_count")),
        "file_count" -> JLong(c("file_count")),
        "definition_count" -> JLong(c("definition_count")),
        "imported_symbol_count" -> JLong(c("imported_symbol_count"))),
      "relationship_counts" -> JObject(
        "directory_relationships" -> JLong(dirRels),
        "file_relationships" -> JLong(fileRels),
        "definition_relationships" -> JLong(defRels)),
      "project_info" -> projectInfo))))
  }

  // ---- JSON helpers -------------------------------------------------------

  private def ref(kind: String, id: Long): String = s"$kind:$id"

  private def nodeJson(kind: String, id: Long, label: String): JObject =
    JObject("id" -> JString(ref(kind, id)), "node_id" -> JLong(id),
      "node_type" -> JString(KindToType(kind)), "label" -> JString(label))

  private def relationshipJson(r: Row): JObject = {
    val src = ref(r.getAs[String]("src_kind"), r.getAs[Long]("source_id"))
    val dst = ref(r.getAs[String]("dst_kind"), r.getAs[Long]("target_id"))
    val name = r.getAs[String]("rel_type")
    JObject("id" -> JString(s"$src->$dst:$name"),
      "source" -> JString(src), "target" -> JString(dst),
      "relationship_name" -> JString(name),
      "relationship_type" -> JString(r.getAs[String]("kind")))
  }

  private lazy val projectInfo: JObject = JObject(
    "project_path" -> JString(projectPath),
    "workspace_folder_path" -> JString(workspaceFolderPath),
    "status" -> JString("indexed"),
    "database_path" -> JString(storeDir),
    "parquet_directory" -> JString(storeDir))

  private def parseQuery(raw: String): Map[String, String] =
    raw.split("&").filter(_.contains("=")).map { kv =>
      val i = kv.indexOf('=')
      java.net.URLDecoder.decode(kv.take(i), "UTF-8") ->
        java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
    }.toMap

  private def statusJson(status: String): String =
    JsonMethods.compact(JsonMethods.render(
      JObject("status" -> JString(status))))
}
