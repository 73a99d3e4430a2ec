package prodbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.{GraphHttpServer, McpServer}
import graft.query.QueryLibrary
import graft.store.GraphStore

/** A closed loop of `cores / 2` clients, read-only, against a store
  * indexed from the generated tree: the four graph routes over loopback
  * HTTP and three MCP tools through `McpServer.handle`, with seeded,
  * Zipf-skewed search terms, node ids and file paths. A reply in the loop
  * slower than the MCP budget (10 s) counts as failed. Before the loop, one
  * cold request fills the cache (its time is `first_op_s`) and one request
  * of each other route warms it; these fail only on an error reply.
  *
  * Checks: every reply of a request equals every other reply of the same
  * request, and the first equals what a direct `QueryLibrary` call with
  * the same parameters returns; `stats` equals the generator's census.
  * Traced runs also time the direct call per route (the `query` layer) so
  * the serving overhead per route is the difference.
  */
final class QueryServe(a: Args, in: JValue, r: Result) extends Workload(a, in, r) {
  private val BudgetMs = 10000.0
  /** Each request runs Spark jobs on all `cores`; with as many clients as
    * cores the heaviest route queued behind the others for up to 11 s. */
  private val clients = math.max(1, a.cores / 2)
  private val storeDir = a.work.resolve("store").toString
  private val ws = "bench"
  private val proj = "bench"
  private val picks = (in \ "queries").extract[List[Map[String, String]]]
  private var http: GraphHttpServer = _
  private var mcp: McpServer = _
  private var port = 0
  private val client = HttpClient.newHttpClient()

  /** A request: a route and its parameters; `call` issues it through the
    * serving face, `direct` is the same query on the library. */
  final case class Req(route: String, key: String, call: () => (Int, String),
      direct: QueryLibrary => Any, reply: String => Any)

  /** Definition ids by fqn, as the preparing JVM read them from the store. */
  private val defIds: Map[String, Long] =
    JsonMethods.parse(java.nio.file.Files.readString(a.work.resolve("ids.json")))
      .extract[Map[String, Long]]

  def ready(): Unit = {
    val t = System.nanoTime()
    http = new GraphHttpServer(spark, storeDir, ws, proj,
      dataDir = a.work.resolve("data").toString)
    port = http.start(0)
    mcp = new McpServer(spark, storeDir)
    r.layers("store.read_cache_ms") = Stats.ms(t)
  }

  private def get(path: String): (Int, String) = {
    val resp = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode, resp.body)
  }

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  private def tool(name: String, args: JObject): (Int, String) = {
    val line = JsonMethods.compact(JsonMethods.render(JObject(
      "jsonrpc" -> JString("2.0"), "id" -> JInt(1), "method" -> JString("tools/call"),
      "params" -> JObject("name" -> JString(name), "arguments" -> args))))
    val resp = JsonMethods.parse(mcp.handle(line).get)
    val isErr = (resp \ "result" \ "isError") == JBool(true) || (resp \ "error") != JNothing
    (if (isErr) 500 else 200, (resp \ "result" \ "content")(0) \ "text" match {
      case JString(s) => s
      case _ => ""
    })
  }

  private def canon(row: String) = JsonMethods.compact(JsonMethods.render(JsonMethods.parse(row)))
  private def rows(df: DataFrame): Seq[String] =
    df.limit(200).toJSON.collect().toSeq.map(canon).sorted
  private def mcpRows(text: String): Seq[String] =
    JsonMethods.parse(text).children.map(v => JsonMethods.compact(JsonMethods.render(v))).sorted

  private def relIds(body: String): Seq[String] =
    (JsonMethods.parse(body) \ "relationships").children
      .map(r => (r \ "id").extract[String]).sorted
  private def nodeIds(body: String): Seq[String] =
    (JsonMethods.parse(body) \ "nodes").children.map(n => (n \ "id").extract[String]).sorted

  /** The request mix: route k of the 7 in turn, parameters from the
    * generator's Zipf-skewed picks. */
  private def requests: IndexedSeq[Req] = picks.zipWithIndex.map { case (p, k) =>
    val term = p("term")
    val file = p("file")
    k % 7 match {
      case 0 =>
        val q = "directory_limit=20&file_limit=40&definition_limit=100&imported_symbol_limit=20"
        Req("initial", q, () => get(s"/graph/initial/$ws/$proj?$q"),
          lib => lib.initialProjectGraph(20, 40, 100, 20).collect().map { r =>
            s"${r.getAs[String]("src_kind")}:${r.getAs[Long]("source_id")}->" +
              s"${r.getAs[String]("dst_kind")}:${r.getAs[Long]("target_id")}:" +
              r.getAs[String]("rel_type") }.toSeq.sorted,
          relIds)
      case 1 =>
        val id = defIds(p("method_fqn"))
        Req("neighbors", id.toString,
          () => get(s"/graph/neighbors/$ws/$proj/DefinitionNode/$id?limit=50"),
          lib => lib.nodeNeighbors("definition", id, 50).collect().map { r =>
            s"${r.getAs[String]("neighbor_kind")}:${r.getAs[Long]("neighbor_id")}" }
            .toSeq.distinct.sorted,
          body => nodeIds(body))
      case 2 =>
        Req("search", term, () => get(s"/graph/search/$ws/$proj?search_term=${enc(term)}&limit=50"),
          lib => lib.searchNodes(term, 50).collect().map(r =>
            s"${r.getAs[String]("node_type")}:${r.getAs[Long]("node_id")}").toSeq.sorted,
          nodeIds)
      case 3 =>
        Req("stats", "", () => get(s"/graph/stats/$ws/$proj"),
          lib => { val r = lib.graphStats().collect().head
            Seq("directory_count", "file_count", "definition_count",
              "imported_symbol_count").map(c => r.getAs[Long](c)) },
          body => { val n = JsonMethods.parse(body) \ "node_counts"
            Seq("directory_count", "file_count", "definition_count",
              "imported_symbol_count").map(c => (n \ c).extract[Long]) })
      case 4 =>
        Req("mcp.search_codebase_definitions", term,
          () => tool("search_codebase_definitions",
            JObject("terms" -> JArray(List(JString(term))), "limit" -> JInt(20))),
          lib => rows(lib.searchDefinitions(Seq(term), 0, 20)), mcpRows)
      case 5 =>
        val name = p("method")
        Req("mcp.read_definitions", s"$name@$file",
          () => tool("read_definitions", JObject("name" -> JString(name), "path" -> JString(file))),
          lib => rows(lib.readDefinitions(name, file)), mcpRows)
      case _ =>
        Req("mcp.repo_map", file,
          () => tool("repo_map", JObject("file_paths" -> JArray(List(JString(file))),
            "limit" -> JInt(50))),
          lib => rows(lib.repoMap(Seq(file), 0, 50)), mcpRows)
    }
  }.toIndexedSeq

  def measure(): Unit = {
    val reqs = requests
    val perRoute = reqs.size / 7
    val routes = reqs.take(7).map(_.route)
    val lat = new ConcurrentHashMap[String, java.util.Vector[Double]]()
    val replies = new ConcurrentHashMap[(String, String), String]()
    val differing = ConcurrentHashMap.newKeySet[(String, String)]()
    val attempted = new AtomicLong(0)
    val failed = new AtomicLong(0)
    val measuring = new java.util.concurrent.atomic.AtomicBoolean(false)
    def issue(q: Req, budget: Boolean = true): Unit = {
      val t = System.nanoTime()
      val (status, body) = try q.call() catch {
        case e: Exception => (599, e.toString)
      }
      val ms = Stats.ms(t)
      attempted.incrementAndGet()
      if (measuring.get) lat.computeIfAbsent(q.route, _ => new java.util.Vector[Double]()).add(ms)
      if (status != 200 || (budget && ms > BudgetMs)) failed.incrementAndGet()
      else {
        val prev = replies.putIfAbsent((q.route, q.key), body)
        if (prev != null && q.reply(prev) != q.reply(body)) differing.add((q.route, q.key))
      }
    }
    // client c issues the routes in turn, starting at route 7c/clients; each route
    // takes the next of its seeded parameter picks
    val nextPick = routes.map(_ => new AtomicLong(0))
    def next(route: Int): Req =
      reqs((7 * (nextPick(route).getAndIncrement() % perRoute) + route).toInt)

    spans.open = "serve"
    val t0 = System.nanoTime()
    // cold start: the first request on a freshly started server, the
    // explorer's initial graph, which also fills the cached store tables
    // and warms the JVM; the 10 s budget is for served traffic, and this
    // request's time is a metric of its own
    issue(next(0), budget = false)
    r.e2e("first_op_s") = (elapsedS(t0), 1)
    // warm-up: one request of each other route, so the loop times warm
    // routes; a route's first call pays its own code generation (up to 5 s
    // against 0.3 s after), and which loop requests paid it changed with
    // how the clients interleaved
    val tw = System.nanoTime()
    val warm = Executors.newFixedThreadPool(clients)
    (1 until 7).map(k => warm.submit(new Runnable {
      def run(): Unit = issue(next(k), budget = false)
    })).foreach(_.get)
    warm.shutdown()
    r.info("warmup_s") = JDouble(elapsedS(tw))
    // then `clients` clients in a closed loop until the run's seconds have
    // passed; a client stops before its first request past the deadline,
    // so the phase overruns it by at most one request per client
    measuring.set(true)
    val t1 = System.nanoTime()
    val deadline = t1 + (a.seconds * 1e9).toLong
    val done = new AtomicLong(0)
    val pool = Executors.newFixedThreadPool(clients)
    (0 until clients).foreach(c => pool.submit(new Runnable {
      def run(): Unit = {
        var j = c * 7 / clients
        while (System.nanoTime() < deadline) {
          issue(next(j % 7))
          j += 1
          recordDrift("request", done.incrementAndGet().toInt, Stats.ms(t1))
        }
      }
    }))
    pool.shutdown()
    pool.awaitTermination(600, TimeUnit.SECONDS)
    val measuredS = elapsedS(t1)
    r.info("measured_s") = JDouble(measuredS)
    r.info("clients") = JInt(clients)
    val wallS = elapsedS(t0)
    spans.open = "idle"
    drain()
    val engine = engineDelta("serve", wallS * 1e3)
    val all = lat.values.asScala.flatMap(_.asScala).toSeq
    r.attempted = attempted.get
    r.failed = failed.get
    differing.asScala.foreach(k => r.check(false, s"$k: replies differ between calls"))

    // every distinct request: its reply equals the direct library call
    val tc = System.nanoTime()
    val lib = new QueryLibrary(GraphStore.read(spark, storeDir).cacheAll())
    val byKey = reqs.map(q => (q.route, q.key) -> q).toMap
    val checks = Executors.newFixedThreadPool(a.cores)
    val direct = replies.asScala.toSeq.map { case (k, body) =>
      checks.submit(() => {
        val q = byKey(k)
        val t = System.nanoTime()
        val want = q.direct(lib)
        val ms = Stats.ms(t)
        r.synchronized(r.check(q.reply(body) == want, s"$k: reply differs from QueryLibrary: " +
          s"${q.reply(body).toString.take(200)} vs ${want.toString.take(200)}"))
        (q.route, ms, want match { case s: Seq[_] => s.size.toDouble; case _ => 1.0 })
      })
    }.map(_.get)
    checks.shutdown()
    r.info("checks_s") = JDouble(elapsedS(tc))
    val stats = reqs.find(_.route == "stats").get.direct(lib)
    r.check(stats == Seq("directory_count", "file_count", "definition_count",
      "imported_symbol_count").map(census), s"stats $stats differ from the generator's census")

    r.e2e("bytes_per_src_byte") = (parquetBytes(storeDir) / census("source_bytes").toDouble, 1)
    // the routes' medians differ up to tenfold, so the median of all
    // requests sits between two routes' clusters and jumps from run to run
    // (its spread over ten seeds was 0.25 against 0.14 for this figure):
    // the mean over the routes of each route's median
    val routeP50 = lat.asScala.map { case (k, v) => k -> Stats.median(v.asScala.toSeq) }
    r.check(routeP50.size == 7, s"only ${routeP50.keys.toSeq.sorted} were timed in the loop")
    r.e2e("op_p50_ms") = (routeP50.values.sum / routeP50.size, all.size)
    // the loop times about 20 requests, so the highest percentile with ten
    // beyond it is the median of all requests (see above): the tail is the
    // mean over the routes of each route's slowest reply
    val routeMax = lat.asScala.map { case (k, v) => k -> v.asScala.max }
    r.e2e("op_tail_ms") = (routeMax.values.sum / routeMax.size, all.size)
    // completed requests per second of the measured phase's wall time
    r.e2e("throughput") = (all.size / measuredS, all.size)
    r.e2e("ok_rate") = ((attempted.get - failed.get).toDouble / attempted.get, attempted.get.toInt)
    r.info("distinct_requests") = JInt(replies.size)
    r.info("latency_ms") = JObject(lat.asScala.toList.map { case (k, v) =>
      k -> JArray(v.asScala.toList.map(JDouble(_))) })
    if (a.trace) {
      // per request; requests overlap, so there is no single driver gap
      engine.foreach { case (n, v) =>
        if (n != "spark.driver_gap_ms" && n != "store.write_bytes")
          r.layers(s"serve.$n") = v / attempted.get }
      val serve = routeP50
      val query = direct.groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }
      serve.foreach { case (k, v) => r.layers(s"serve.$k.p50_ms") = v }
      query.foreach { case (k, v) => r.layers(s"query.$k.p50_ms") = v }
      direct.groupBy(_._1).foreach { case (k, v) =>
        r.layers(s"query.$k.rows") = Stats.median(v.map(_._3)) }
      r.layers("trace.first_op_s") = r.e2e("first_op_s")._1
      r.layers("trace.op_p50_ms") = r.e2e("op_p50_ms")._1
      r.layers("serve.overhead_ms") = Stats.median(serve.keys.toSeq.map(k =>
        serve(k) - query.getOrElse(k, serve(k))))
    }
  }
}
