package graft

import java.nio.file.Files
import org.json4s._
import org.json4s.jackson.JsonMethods

/** End-to-end round-trip over the graph-explorer HTTP facade: a real socket
  * on an ephemeral port, the same GET requests the reference's axum tests
  * issue (graph_initial.rs / graph_neighbors.rs / graph_search.rs /
  * graph_stats.rs `#[tokio::test]` blocks), asserted on status codes and
  * the reference's response field names.
  */
class HttpSpec extends SparkSpec {
  implicit private val formats: Formats = DefaultFormats

  private lazy val (server, port, storeDir) = {
    val repo = Files.createTempDirectory("graft-http-repo")
    Files.writeString(repo.resolve("lib.py"),
      "def helper(x):\n    return x\n\nclass Tool:\n    def run(self):\n        return helper(1)\n")
    Files.writeString(repo.resolve("app.py"),
      "from lib import helper\n\ndef main():\n    return helper(2)\n")
    val store = Files.createTempDirectory("graft-http-store").toString
    graft.analyze.Indexer.indexDirectory(spark, repo.toString, "http-repo")
      .write(store)
    val s = new GraphHttpServer(spark, store, "ws", "proj")
    val p = s.start(0) // ephemeral port
    (s, p, store)
  }

  private def get(path: String): (Int, JValue) = {
    val url = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("GET")
    val status = conn.getResponseCode
    val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
    val body = new String(stream.readAllBytes(), "UTF-8")
    conn.disconnect()
    (status, JsonMethods.parse(body))
  }

  test("initial graph over the wire: nodes + relationships + project_info") {
    val (status, body) = get("/graph/initial/ws/proj?definition_limit=500")
    assert(status == 200)
    val nodes = (body \ "nodes").asInstanceOf[JArray].arr
    val rels = (body \ "relationships").asInstanceOf[JArray].arr
    assert(nodes.nonEmpty && rels.nonEmpty)
    // every relationship endpoint resolves to a node in the same payload
    val ids = nodes.map(n => (n \ "id").extract[String]).toSet
    rels.foreach { r =>
      assert(ids.contains((r \ "source").extract[String]))
      assert(ids.contains((r \ "target").extract[String]))
    }
    assert((body \ "project_info" \ "project_path").extract[String] == "proj")
  }

  test("neighbors: reference node-type labels, directed endpoints") {
    // find helper's definition id via search, then walk its neighborhood
    val (_, search) = get("/graph/search/ws/proj?search_term=helper")
    val defNode = (search \ "nodes").asInstanceOf[JArray].arr
      .find(n => (n \ "node_type").extract[String] == "DefinitionNode" &&
        (n \ "name").extract[String] == "helper")
      .getOrElse(fail("helper definition not found via search"))
    val id = (defNode \ "node_id").extract[Long]
    val (status, body) = get(s"/graph/neighbors/ws/proj/DefinitionNode/$id")
    assert(status == 200)
    val nodes = (body \ "nodes").asInstanceOf[JArray].arr
    assert(nodes.nonEmpty) // at least the containing file links to helper
    val selfRef = s"definition:$id"
    (body \ "relationships").asInstanceOf[JArray].arr.foreach { r =>
      assert((r \ "source").extract[String] == selfRef ||
        (r \ "target").extract[String] == selfRef)
    }
  }

  test("stats: totals are consistent with the per-kind counts") {
    val (status, body) = get("/graph/stats/ws/proj")
    assert(status == 200)
    val nc = body \ "node_counts"
    val total = (body \ "total_nodes").extract[Long]
    assert(total == Seq("directory_count", "file_count", "definition_count",
      "imported_symbol_count").map(k => (nc \ k).extract[Long]).sum)
    val rc = body \ "relationship_counts"
    assert((body \ "total_relationships").extract[Long] ==
      Seq("directory_relationships", "file_relationships",
        "definition_relationships").map(k => (rc \ k).extract[Long]).sum)
    assert(total > 0)
  }

  test("reference error contract: 400s and 404s with status bodies") {
    // %20 decodes to a blank project path — graph_search.rs:274-279
    val (s1, b1) = get("/graph/search/ws/%20?search_term=x")
    assert(s1 == 400 && (b1 \ "status").extract[String] == "empty_project_path")
    val (s2, b2) = get("/graph/search/ws/proj?search_term=")
    assert(s2 == 400 && (b2 \ "status").extract[String] == "empty_search_term")
    val (s3, b3) = get("/graph/neighbors/ws/proj/NopeNode/1")
    assert(s3 == 400 && (b3 \ "status").extract[String] == "invalid_node_type")
    val (s4, b4) = get("/graph/stats/ws/other_project")
    assert(s4 == 404 && (b4 \ "status").extract[String] == "project_not_found")
    val (s5, _) = get("/graph/stats/missing_parts")
    assert(s5 == 404)
  }

  private def send(method: String, path: String, body: String): (Int, String) = {
    val url = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod(method)
    if (body.nonEmpty) {
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes("UTF-8"))
    }
    val status = conn.getResponseCode
    val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
    val text = if (stream == null) "" else new String(stream.readAllBytes(), "UTF-8")
    conn.disconnect()
    (status, text)
  }

  test("health and info: reference server plumbing") {
    assert(send("GET", "/health", "")._1 == 200)
    val (st, info) = send("GET", "/info", "")
    assert(st == 200)
    val j = JsonMethods.parse(info)
    assert((j \ "port").extract[Int] == port)
    assert((j \ "version").extract[String].nonEmpty)
  }

  test("metrics: Prometheus text format, counters advance across requests") {
    // mirrors the reference's metrics_route_returns_prometheus_format
    // (http-server-deployed/src/endpoints/metrics.rs:20-45)
    def getMetrics(): (Int, String, String) = {
      val url = java.net.URI.create(s"http://127.0.0.1:$port/metrics").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("GET")
      val status = conn.getResponseCode
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      val ct = conn.getHeaderField("Content-Type")
      conn.disconnect()
      (status, ct, body)
    }
    def total(body: String): Long = body.linesIterator
      .find(_.startsWith("graft_http_requests_total "))
      .map(_.split(" ").last.toLong).getOrElse(-1L)

    val (st1, ct1, b1) = getMetrics()
    assert(st1 == 200)
    assert(ct1 == "text/plain; version=0.0.4", s"content type: $ct1")
    assert(b1.contains("# HELP graft_http_requests_total"))
    assert(b1.contains("# TYPE graft_http_requests_total counter"))
    assert(b1.contains("# TYPE graft_http_request_duration_seconds histogram"))
    val t1 = total(b1)
    assert(t1 >= 1, b1)

    // drive a measured request, then re-scrape: the counter advanced and
    // the histogram carries the labeled route with a consistent
    // bucket/sum/count block
    assert(send("GET", "/health", "")._1 == 200)
    val (_, _, b2) = getMetrics()
    assert(total(b2) >= t1 + 2, s"counter did not advance: $t1 -> ${total(b2)}")
    assert(b2.contains(
      """graft_http_request_duration_seconds_count{method="GET",path="/health"}"""))
    assert(b2.contains(
      """graft_http_request_duration_seconds_bucket{method="GET",path="/health",le="+Inf"}"""))
    // +Inf bucket equals the count for every labeled series
    val infs = b2.linesIterator.filter(_.contains("""le="+Inf"""")).toSeq
    infs.foreach { line =>
      val labels = line.substring(line.indexOf("{") + 1, line.indexOf(",le="))
      val cnt = b2.linesIterator
        .find(_.startsWith(s"graft_http_request_duration_seconds_count{$labels}"))
        .map(_.split(" ").last.toLong)
      assert(cnt.contains(line.split(" ").last.toLong), line)
    }
  }

  test("workspace lifecycle over the wire: index -> events -> list -> delete") {
    // a workspace folder containing one git project
    val ws = Files.createTempDirectory("graft-ws")
    val proj = ws.resolve("projA")
    Files.createDirectories(proj.resolve(".git"))
    Files.writeString(proj.resolve("m.py"), "def go():\n    return 1\n")

    // subscribe to SSE first so the indexing lifecycle is observed
    val url = java.net.URI.create(s"http://127.0.0.1:$port/events").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("GET")
    val sse = new java.io.BufferedReader(
      new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
    def readEvent(): (String, String) = { // (event name, data json)
      var name = ""; var data = ""
      var line = sse.readLine()
      while (line != null && (name.isEmpty || data.isEmpty)) {
        if (line.startsWith("event: ")) name = line.drop(7)
        if (line.startsWith("data: ")) data = line.drop(6)
        line = if (name.nonEmpty && data.nonEmpty) null else sse.readLine()
      }
      (name, data)
    }
    assert(readEvent()._1 == "gkg-connection")

    // POST /workspace/index registers + queues the job
    val (st1, b1) = send("POST", "/workspace/index",
      s"""{"workspace_folder_path":"${ws.toString}"}""")
    assert(st1 == 200, b1)
    val info1 = JsonMethods.parse(b1)
    assert((info1 \ "project_count").extract[Int] == 1)

    // lifecycle events arrive on the bus: Started, then (after the
    // auto-watch stream's own lifecycle frames, which may interleave)
    // Completed
    val (n1, d1) = readEvent()
    assert(n1 == "gkg-event")
    assert((JsonMethods.parse(d1) \ "type").extract[String] ==
      "WorkspaceIndexingStarted")
    def nextOfType(t: String, tries: Int = 20): org.json4s.JValue = {
      val (n, d) = readEvent()
      assert(n == "gkg-event")
      val j = JsonMethods.parse(d)
      if ((j \ "type").extract[String] == t) j
      else { assert(tries > 0, s"never saw $t"); nextOfType(t, tries - 1) }
    }
    val done = nextOfType("WorkspaceIndexingCompleted")
    assert((done \ "projects_indexed").extract[Seq[String]] ==
      Seq(proj.toString))
    conn.disconnect()

    // list shows the workspace Indexed with its project store
    val (st2, b2) = send("GET", "/workspace/list", "")
    assert(st2 == 200)
    val entry = (JsonMethods.parse(b2) \ "workspaces").asInstanceOf[JArray]
      .arr.find(w => (w \ "workspace_info" \ "workspace_folder_path")
        .extract[String] == ws.toString)
      .getOrElse(fail("indexed workspace missing from list"))
    assert((entry \ "workspace_info" \ "status").extract[String] == "Indexed")
    val projects = (entry \ "projects").asInstanceOf[JArray].arr
    assert(projects.size == 1)
    val storeDir = (projects.head \ "parquet_directory").extract[String]
    assert((projects.head \ "status").extract[String] == "Indexed")
    // the store really exists and holds the indexed definition
    val defs = graft.store.GraphStore.read(spark, storeDir).definitions
    assert(defs.where(org.apache.spark.sql.functions.col("name") === "go")
      .count() == 1)

    // delete removes registration + stores
    val (st3, b3) = send("DELETE", "/workspace/delete",
      s"""{"workspace_folder_path":"${ws.toString}"}""")
    assert(st3 == 200 && (JsonMethods.parse(b3) \ "removed").extract[Boolean])
    assert(!Files.exists(java.nio.file.Paths.get(storeDir)))
    val (st4, b4) = send("DELETE", "/workspace/delete",
      s"""{"workspace_folder_path":"${ws.toString}"}""")
    assert(st4 == 404 &&
      (JsonMethods.parse(b4) \ "status").extract[String] == "workspace_not_found")
    // error contract: nonexistent path
    val (st5, b5) = send("POST", "/workspace/index",
      """{"workspace_folder_path":"/nonexistent/nope"}""")
    assert(st5 == 400 &&
      (JsonMethods.parse(b5) \ "status").extract[String] == "invalid_workspace_path")
  }

  test("deployed-mode JWT auth: the jwt_authentication.rs contract") {
    val secret = Files.createTempFile("graft-jwt", ".secret")
    Files.writeString(secret, "test-secret-for-jwt-tests\n") // trimmed on read
    val s2 = new GraphHttpServer(spark, storeDir, "ws", "proj",
      jwtSecretPath = Some(secret.toString))
    val p2 = s2.start(0)
    def getAuth(path: String, token: Option[String]): (Int, String) = {
      val url = java.net.URI.create(s"http://127.0.0.1:$p2$path").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("GET")
      token.foreach(t => conn.setRequestProperty("Authorization", s"Bearer $t"))
      val status = conn.getResponseCode
      val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
      val text = if (stream == null) "" else new String(stream.readAllBytes(), "UTF-8")
      conn.disconnect()
      (status, text)
    }
    try {
      // health and metrics stay public (endpoints.rs:10)
      assert(getAuth("/health", None)._1 == 200)
      assert(getAuth("/metrics", None)._1 == 200)
      // protected endpoints: 401 without auth, with the {"error": …} shape
      val (s401, b401) = getAuth("/graph/stats/ws/proj", None)
      assert(s401 == 401)
      assert((JsonMethods.parse(b401) \ "error").extract[String]
        .contains("Missing Authorization header"))
      // 401 with an invalid token
      assert(getAuth("/graph/stats/ws/proj", Some("invalid-token"))._1 == 401)
      // 200 with a valid token
      val auth = new graft.serve.JwtAuth(secret.toString)
      val (okS, okB) = getAuth("/graph/stats/ws/proj",
        Some(auth.generateToken(3600)))
      assert(okS == 200, okB)
      assert((JsonMethods.parse(okB) \ "total_nodes").extract[Long] > 0)
      // 401 with an expired token
      val (expS, expB) = getAuth("/graph/stats/ws/proj",
        Some(auth.generateToken(-60)))
      assert(expS == 401)
      assert((JsonMethods.parse(expB) \ "error").extract[String]
        .contains("Expired"))
    } finally s2.stop()
  }

  test("stop() shuts down the request thread pool") {
    val s3 = new GraphHttpServer(spark, storeDir, "ws", "proj")
    val p3 = s3.start(0)
    def poolThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.getName.startsWith(s3.threadNamePrefix) && t.isAlive)
    (1 to 3).foreach { _ =>
      val conn = java.net.URI.create(s"http://127.0.0.1:$p3/health").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      conn.disconnect()
    }
    assert(poolThreads.nonEmpty, "requests ran on no pool thread")
    s3.stop()
    poolThreads.foreach(_.join(5000))
    assert(poolThreads.isEmpty)
  }

  /** Index a repo of `files` (name -> source) into `store`, overwriting it. */
  private def indexInto(store: String, files: (String, String)*): Unit = {
    val repo = Files.createTempDirectory("graft-http-repo")
    files.foreach { case (f, src) => Files.writeString(repo.resolve(f), src) }
    graft.analyze.Indexer.indexDirectory(spark, repo.toString, "http-repo")
      .write(store)
  }

  /** Replace every file under `store` with those under `from`. */
  private def replaceFiles(store: String, from: String): Unit = {
    import java.nio.file.{Path, Paths}
    val to = Paths.get(store)
    val old = Files.walk(to)
    try old.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => if (p != to) Files.delete(p))
    finally old.close()
    graft.serve.ServingIndexSpec.copyTree(Paths.get(from), to)
  }

  /** A server over `store` that answers from the serving index at or below
    * `bound` Parquet bytes and from Spark above it; driven through route(). */
  private def servedAt(store: String, bound: Long): GraphHttpServer =
    new GraphHttpServer(spark, store, "ws", "proj",
      Files.createTempDirectory("graft-http-data").toString, None,
      new graft.serve.ServedStore(spark, store, bound))

  private val lib = "lib.py" ->
    "def helper(x):\n    return x\n\nclass Tool:\n    def run(self):\n        return helper(1)\n"

  for ((plan, bound) <- Seq("spark" -> 0L,
      "index" -> graft.serve.ServedStore.IndexBoundBytes))
    test(s"a store rewritten under the server is served anew ($plan plan)") {
      val store = Files.createTempDirectory("graft-http-rewrite").toString
      indexInto(store, lib)
      val s = servedAt(store, bound)
      try {
        def stats() = JsonMethods.parse(s.route("/graph/stats/ws/proj", "")._2)
        def found(term: String) = {
          val (st, body) = s.route("/graph/search/ws/proj", s"search_term=$term")
          assert(st == 200, body)
          (JsonMethods.parse(body) \ "nodes").asInstanceOf[JArray].arr
            .map(n => (n \ "name").extract[String])
        }
        assert((stats() \ "node_counts" \ "file_count").extract[Long] == 1)
        assert(found("helper").contains("helper"))
        assert(found("fresh").isEmpty)

        indexInto(store, lib, "fresh.py" -> "def fresh_start():\n    return 1\n")
        assert((stats() \ "node_counts" \ "file_count").extract[Long] == 2)
        assert(found("fresh").toSet == Set("fresh.py", "fresh_start"))
        val (st, body) = s.route("/graph/initial/ws/proj", "")
        assert(st == 200 && body.contains("fresh_start"), body)

        // a store copied in by another process: no in-process write drains
        // the caches over the directory, only the changed files tell
        val other = Files.createTempDirectory("graft-http-other").toString
        indexInto(other, "a.py" -> "def one():\n    return 1\n",
          "b.py" -> "def two():\n    return 2\n", "c.py" -> "def three():\n    return 3\n")
        replaceFiles(store, other)
        assert((stats() \ "node_counts" \ "file_count").extract[Long] == 3)
        assert(found("fresh").isEmpty && found("three") == List("three"))
      } finally s.stop()
    }

  test("limits: negative, zero and huge values give the same reply on both plans") {
    val (spark0, index) = (servedAt(storeDir, 0L),
      servedAt(storeDir, graft.serve.ServedStore.IndexBoundBytes))
    try {
      val (_, search) = get("/graph/search/ws/proj?search_term=helper")
      val id = ((search \ "nodes")(0) \ "node_id").extract[Long]
      for (limit <- Seq("-1", "-2147483648", "0", "1", "2147483647", "99999999999", "x")) {
        for ((path, q) <- Seq(
            "/graph/search/ws/proj" -> s"search_term=e&limit=$limit",
            s"/graph/neighbors/ws/proj/DefinitionNode/$id" -> s"limit=$limit",
            "/graph/initial/ws/proj" -> (s"directory_limit=$limit&file_limit=$limit" +
              s"&definition_limit=$limit&imported_symbol_limit=$limit"))) {
          val want = spark0.route(path, q)
          assert(want._1 == 200, s"$path?$q: $want")
          assert(index.route(path, q) == want, s"$path?$q")
        }
      }
      val none = spark0.route("/graph/search/ws/proj", "search_term=e&limit=-5")._2
      assert((JsonMethods.parse(none) \ "nodes") == JArray(Nil))
    } finally { spark0.stop(); index.stop() }
  }

  test("metrics: serving-index builds, answers per plan and index rows") {
    val (spark0, index) = (servedAt(storeDir, 0L),
      servedAt(storeDir, graft.serve.ServedStore.IndexBoundBytes))
    def series(s: GraphHttpServer): Map[String, Double] =
      s.route("/metrics", "")._2.linesIterator.filter(l =>
        l.startsWith("graft_serv")).map { l =>
        val i = l.lastIndexOf(' ')
        l.substring(0, i) -> l.substring(i + 1).toDouble
      }.toMap
    val builds = "graft_serving_index_builds_total"
    val rows = "graft_serving_index_rows"
    val byIndex = "graft_serve_answers_total{path=\"index\"}"
    val bySpark = "graft_serve_answers_total{path=\"spark\"}"
    try {
      val before = Seq(spark0, index).map(series)
      before.foreach(b => assert(b(builds) == 0 && b(rows) == 0 &&
        b(byIndex) == 0 && b(bySpark) == 0, b))
      for (s <- Seq(spark0, index); (p, q) <- Seq(
          "/graph/initial/ws/proj" -> "", "/graph/search/ws/proj" -> "search_term=help",
          "/graph/neighbors/ws/proj/FileNode/0" -> "", "/graph/stats/ws/proj" -> ""))
        assert(s.route(p, q)._1 == 200, p)
      val (a0, a1) = (series(spark0), series(index))
      assert(a0(bySpark) == 4 && a0(byIndex) == 0 && a0(builds) == 0 && a0(rows) == 0, a0)
      assert(a1(byIndex) == 4 && a1(bySpark) == 0 && a1(builds) == 1 && a1(rows) > 0, a1)
      val doc = index.route("/metrics", "")._2
      Seq(builds -> "counter", "graft_serve_answers_total" -> "counter",
        rows -> "gauge").foreach { case (f, t) =>
        assert(doc.contains(s"# TYPE $f $t"), doc)
      }
    } finally { spark0.stop(); index.stop() }
  }

  override def afterAll(): Unit = {
    server.stop()
    super.afterAll()
  }
}
