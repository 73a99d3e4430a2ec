package graft.serve

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{DoubleAdder, LongAdder}

/** Prometheus text-format (version 0.0.4) request metrics for the serving
  * face — the counterpart of the reference's deployed-server middleware +
  * `/metrics` endpoint (http-server-deployed/src/metrics.rs:6-34,
  * endpoints/metrics.rs:8-18): one total-requests counter and one
  * method/path-labeled latency histogram with the same bucket ladder.
  *
  * Self-contained and dependency-free (the container has no Prometheus
  * client jar): counters are LongAdder/DoubleAdder cells behind a
  * ConcurrentHashMap, safe under the server's request thread pool, and
  * [[render]] emits the standard exposition format — `# HELP`/`# TYPE`
  * headers, cumulative `_bucket{le=...}` rows ending in `+Inf`, `_sum`,
  * `_count`. Like the reference middleware, the path label is the raw
  * request path, but the series map is CAPPED ([[MaxSeries]]): once the
  * cap is reached, unseen (method, path) pairs — 404 probes, crawler
  * noise on public-metrics servers — fold into an `other` catch-all
  * series, so an attacker cannot grow driver memory through label
  * cardinality.
  */
final class Metrics {

  /** The reference's histogram bucket ladder (metrics.rs:13). */
  val Buckets: Array[Double] =
    Array(0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0)

  val requestsTotal = new LongAdder

  private final class Hist {
    val bucketCounts = Array.fill(Buckets.length)(new LongAdder)
    val sum = new DoubleAdder
    val count = new LongAdder
  }

  private val durations = new ConcurrentHashMap[(String, String), Hist]()

  /** Label-cardinality bound: the route surface is ~a dozen paths, so 64
    * distinct (method, path) series is generous headroom — beyond it every
    * NEW label pair (unauthenticated 404 probes, crawler noise) folds into
    * one `path="other"` catch-all series instead of growing driver memory
    * without bound. A scrape config bounds scrape OUTPUT, not server
    * memory, so the cap has to live here.
    */
  val MaxSeries = 64
  val OverflowLabel: (String, String) = ("other", "other")

  /** Middleware face: count one request. */
  def incRequests(): Unit = requestsTotal.increment()

  /** Middleware face: record one request's latency in seconds. The hot
    * path (an already-seen series) is a lock-free map read; only the FIRST
    * observation of a new (method, path) pair takes a short lock, which
    * makes the [[MaxSeries]] cap strict — a naive check-then-act here
    * would let concurrent first observations overshoot the cap.
    */
  def observeDuration(method: String, path: String, seconds: Double): Unit = {
    val key0 = (method, path)
    val h = {
      val existing = durations.get(key0)
      if (existing != null) existing
      else durations.synchronized {
        val again = durations.get(key0)
        if (again != null) again
        else if (durations.size < MaxSeries) {
          val fresh = new Hist; durations.put(key0, fresh); fresh
        } else durations.computeIfAbsent(OverflowLabel, _ => new Hist)
      }
    }
    var i = 0
    while (i < Buckets.length) {
      if (seconds <= Buckets(i)) h.bucketCounts(i).increment()
      i += 1
    }
    h.sum.add(seconds)
    h.count.increment()
  }

  /** Prometheus content type, pinned by the reference's endpoint test
    * (endpoints/metrics.rs:43 `text/plain; version=0.0.4`).
    */
  val ContentType = "text/plain; version=0.0.4"

  private def escapeLabel(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  private def fmt(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** The exposition document: counter + histogram families. */
  def render: String = {
    val sb = new StringBuilder
    sb ++= "# HELP graft_http_requests_total Total number of HTTP requests\n"
    sb ++= "# TYPE graft_http_requests_total counter\n"
    sb ++= s"graft_http_requests_total ${requestsTotal.sum()}\n"
    sb ++= "# HELP graft_http_request_duration_seconds HTTP request latencies in seconds\n"
    sb ++= "# TYPE graft_http_request_duration_seconds histogram\n"
    import scala.jdk.CollectionConverters._
    val keys = durations.keySet().asScala.toSeq.sorted
    for ((method, path) <- keys) {
      val h = durations.get((method, path))
      val labels = s"""method="${escapeLabel(method)}",path="${escapeLabel(path)}""""
      // observeDuration increments every bucket the value fits in, so the
      // cells are already cumulative — print them as-is
      for (i <- Buckets.indices)
        sb ++= s"""graft_http_request_duration_seconds_bucket{$labels,le="${fmt(Buckets(i))}"} ${h.bucketCounts(i).sum()}\n"""
      sb ++= s"""graft_http_request_duration_seconds_bucket{$labels,le="+Inf"} ${h.count.sum()}\n"""
      sb ++= s"graft_http_request_duration_seconds_sum{$labels} ${h.sum.sum()}\n"
      sb ++= s"graft_http_request_duration_seconds_count{$labels} ${h.count.sum()}\n"
    }
    sb.result()
  }

  /** The serving-plan families of `s` (a fixed label set: no cap needed):
    * index builds, answers per plan and the current index's rows.
    */
  def renderServing(s: ServedStore): String =
    "# HELP graft_serving_index_builds_total Serving index builds, one per store generation under the bound\n" +
    "# TYPE graft_serving_index_builds_total counter\n" +
    s"graft_serving_index_builds_total ${s.indexBuilds.sum()}\n" +
    "# HELP graft_serve_answers_total Served lookups by plan: driver-resident index or Spark\n" +
    "# TYPE graft_serve_answers_total counter\n" +
    s"""graft_serve_answers_total{path="index"} ${s.indexAnswers.sum()}""" + "\n" +
    s"""graft_serve_answers_total{path="spark"} ${s.sparkAnswers.sum()}""" + "\n" +
    "# HELP graft_serving_index_rows Node and edge rows held by the current serving index\n" +
    "# TYPE graft_serving_index_rows gauge\n" +
    s"graft_serving_index_rows ${s.indexRows}\n"
}
