package prodbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.store.GraphStore

/** One benchmark run inside one JVM: set up the product face a workload
  * drives, measure it for the given number of seconds, check every output,
  * and write the result as JSON. The Python runner (`prodbench/run.py`)
  * generates the inputs before this JVM starts and turns the result into
  * the benchmark's one-line report.
  *
  * Usage: prodbench.Harness <workload> <workDir> <seconds> <trace 0|1>
  *   <cores> <resultFile>
  *        prodbench.Harness prepare <treeDir> <storeDir> <cores>
  */
object Harness {
  def main(argv: Array[String]): Unit =
    if (argv.head == "prepare") prepare(argv(1), argv(2), argv(3).toInt)
    else run(argv)

  /** Harness work before any measured JVM: index `tree` into `store` the
    * way the workspace manager indexes a project (its directory name as the
    * repository name), and write next to the store the definition ids by
    * fqn (`ids.json`) and the files and edges of this from-scratch index
    * (`reference.json`, see [[StoreKeys]]). */
  def prepare(tree: String, store: String, cores: Int): Unit = {
    val spark = graft.Sessions.local(cores, "prodbench-prepare")
    graft.analyze.Indexer.indexDirectory(spark, tree,
      Paths.get(tree).getFileName.toString).write(store)
    val g = GraphStore.read(spark, store)
    val ids = g.definitions.select("fqn", "id").collect()
      .map(r => r.getString(0) -> JLong(r.getLong(1))).toList
    def write(name: String, v: JValue): Unit =
      Files.writeString(Paths.get(store).resolveSibling(name),
        JsonMethods.compact(JsonMethods.render(v)))
    write("ids.json", JObject(ids))
    def arr(rows: Set[Seq[String]]) =
      JArray(rows.toList.map(r => JArray(r.map(JString(_)).toList)))
    write("reference.json", JObject("files" -> arr(StoreKeys.files(g)),
      "edges" -> arr(StoreKeys.edges(g))))
    spark.stop()
    sys.exit(0)
  }

  def run(argv: Array[String]): Unit = {
    val Array(workload, work, seconds, trace, cores, out) = argv
    val a = Args(Paths.get(work), seconds.toDouble, trace == "1", cores.toInt)
    val inputs = JsonMethods.parse(Files.readString(a.work.resolve("inputs.json")))
    val r = new Result
    try {
      val w = workload match {
        case "edit_reindex" => new EditReindex(a, inputs, r)
        case "query_serve" => new QueryServe(a, inputs, r)
        case other => sys.error(s"unknown workload: $other")
      }
      w.run()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.errors += s"${e.getClass.getName}: ${e.getMessage}"
    }
    Files.writeString(Paths.get(out), r.json)
    System.out.flush()
    System.err.flush()
    // explicit exit once the result is written: the HTTP server's request
    // pool is never shut down by GraphHttpServer.stop(), and its non-daemon
    // threads would otherwise keep this JVM alive; everything the run wrote
    // outside the result is scratch, so shutdown hooks are skipped
    Runtime.getRuntime.halt(0)
  }
}

final case class Args(work: Path, seconds: Double, trace: Boolean, cores: Int)

/** A store's files and edges in terms that do not depend on the ids an
  * index run assigns: files as (path, absolute path, repository name),
  * edges as (kind, type, source key, target key), a node's key being its
  * table and natural key (directory or file path, definition file and fqn,
  * imported symbol file, import path, name and alias). Two indexes of the
  * same tree give equal sets. */
object StoreKeys {
  def files(g: GraphStore): Set[Seq[String]] =
    g.files.select("path", "absolute_path", "repository_name").collect()
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2))).toSet

  def edges(g: GraphStore): Set[Seq[String]] = {
    def keys(df: org.apache.spark.sql.DataFrame, tag: String): Map[Long, String] =
      df.collect().map(r => r.getLong(0) ->
        (tag +: (1 until r.size).map(i => String.valueOf(r.get(i)))).mkString("|")).toMap
    val byTable = Map(
      "DIR" -> keys(g.directories.select("id", "path"), "dir"),
      "FILE" -> keys(g.files.select("id", "path"), "file"),
      "DEF" -> keys(g.definitions.select("id", "primary_file_path", "fqn"), "def"),
      "IMP" -> keys(g.importedSymbols.select("id", "file_path", "import_path",
        "name", "alias"), "imp"))
    g.edges.select("kind", "type", "source_id", "target_id").collect().map { r =>
      val Array(src, dst) = r.getString(0).split("_TO_")
      Seq(r.getString(0), r.getString(1),
        byTable(src).getOrElse(r.getLong(2), s"missing:${r.getLong(2)}"),
        byTable(dst).getOrElse(r.getLong(3), s"missing:${r.getLong(3)}"))
    }.toSet
  }
}

/** What a run reports: end-to-end metrics (with their sample counts),
  * per-layer metrics, the per-operation drift series and every failed
  * check.
  */
final class Result {
  val errors = ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap[String, (Double, Int)]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val series = ArrayBuffer[JValue]()
  val info = mutable.LinkedHashMap[String, JValue]()

  def check(ok: Boolean, msg: => String): Unit =
    if (!ok && errors.size < 50) errors += msg

  def json: String = JsonMethods.compact(JsonMethods.render(JObject(
    "errors" -> JArray(errors.map(JString(_)).toList),
    "attempted" -> JLong(attempted), "failed" -> JLong(failed),
    "e2e" -> JObject(e2e.toList.map { case (k, (v, n)) =>
      k -> JObject("value" -> JDouble(v), "samples" -> JInt(n)) }),
    "layers" -> JObject(layers.toList.map { case (k, v) => k -> JDouble(v) }),
    "series" -> JArray(series.toList),
    "info" -> JObject(info.toList))))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** The highest percentile with ten samples beyond it, as (value,
    * percentile): the 11th-largest sample; the maximum below 11 samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 11) (xs.max, 100.0)
    else (xs.sorted.apply(xs.size - 11), 100.0 * (xs.size - 10) / xs.size)
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** Shared skeleton: session, set-up, JVM and engine counters. */
abstract class Workload(val a: Args, val in: JValue, val r: Result) {
  implicit val formats: Formats = DefaultFormats
  var spark: SparkSession = _
  val spans = new Spans
  val census: Map[String, Long] = (in \ "census").extract[Map[String, JValue]]
    .collect { case (k, JInt(v)) => k -> v.toLong }
  val tree: String = a.work.resolve("tree").toString

  /** The product's own set-up: from a fresh session to ready. */
  def ready(): Unit
  def measure(): Unit

  def drain(): Unit = org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)

  /** Set-up is timed from JVM start (`RuntimeMXBean.getStartTime`) to
    * ready: it is what a user pays when the product starts, and it can be
    * paid only once per JVM. */
  def run(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1e3
    spark = graft.Sessions.local(a.cores, "prodbench")
    spark.sparkContext.addSparkListener(spans)
    r.info("session_s") = JDouble(sinceStart)
    ready()
    val setup = sinceStart
    r.e2e("setup_s") = (setup, 1)
    r.e2e("heap_after_gc_mb") = (heapAfterGcMb, 1)
    r.info("spark_conf_sha") = JString(confHash)
    recordDrift("setup", 0, setup * 1e3)
    val gc0 = gcMs; val jit0 = jitMs; val cg0 = codegenMs
    measure()
    val pr = r.series.map(s => (s \ "persisted_rdds").extract[Double])
    r.layers("jvm.persisted_rdds_growth") = pr.last - pr.head
    r.layers("jvm.gc_ms") = gcMs - gc0
    r.layers("jvm.jit_ms") = jitMs - jit0
    r.layers("jvm.codegen_ms") = codegenMs - cg0
    r.layers("jvm.persisted_rdds") = persistedRdds
    r.layers("jvm.storage_mb") = storageMb
    r.layers("jvm.heap_end_mb") = heapAfterGcMb
    r.info("end_s") = JDouble(sinceStart)
  }

  /** The live heap: the least heap in use right after each of five full
    * collections. A collection leaves only live objects, plus the heap
    * regions other threads (the watcher, the streaming query) allocate in
    * the moment before it is read; one reading was 4 MB high, a whole G1
    * region, in 3 of 10 runs. Taken once set-up is done for the
    * end-to-end metric: at the end of a run it also counts the engine's
    * bookkeeping of every job served, which grows with the number of
    * operations a run happened to complete. */
  def heapAfterGcMb: Double = (1 to 5).map { _ =>
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def confHash: String = {
    val conf = spark.sparkContext.getConf.getAll
      .filterNot { case (k, _) => k.startsWith("spark.app.") ||
        k == "spark.driver.port" || k.startsWith("spark.driver.host") ||
        k == "spark.executor.id" || k == "spark.local.dir" ||
        k == "spark.sql.warehouse.dir" }
      .sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(conf.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.toDouble).sum
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def codegenMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }
  def persistedRdds: Double = spark.sparkContext.getPersistentRDDs.size.toDouble
  def storageMb: Double = spark.sparkContext.getRDDStorageInfo
    .map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Engine counters of the operation run under `span`. */
  def engineDelta(span: String, wallMs: Double): Map[String, Double] = {
    val a = spans.snapshot(span)
    Map(
      "spark.jobs" -> a.jobs.toDouble,
      "spark.tasks" -> a.tasks.toDouble,
      "spark.task_s" -> a.taskNs / 1e9,
      "spark.driver_gap_ms" -> math.max(0.0, wallMs - a.jobNs / 1e6),
      "spark.shuffle_mb" -> a.shuffleBytes / 1048576.0,
      "spark.spill_mb" -> a.spillBytes / 1048576.0,
      "store.write_bytes" -> a.outputBytes.toDouble)
  }

  /** Record the engine state after an operation, so drift within a run
    * (growing persisted RDDs, job counts, storage) shows in the series. */
  def recordDrift(op: String, k: Int, wallMs: Double, extra: (String, JValue)*): Unit =
    r.series.synchronized(r.series += JObject((List(
      "op" -> JString(op), "n" -> JInt(k), "ms" -> JDouble(wallMs),
      "spark_jobs_total" -> JLong(spans.snapshot(Spans.Total).jobs),
      "persisted_rdds" -> JDouble(persistedRdds),
      "storage_mb" -> JDouble(storageMb)) ++ extra): _*))

  /** Per node kind and edge kind, what the store at `dir` holds. */
  def storeCensus(dir: String): Map[String, Long] = {
    val s = GraphStore.read(spark, dir)
    val byType = s.definitions.groupBy("definition_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val edgeKinds = s.edges.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val edgeTypes = s.edges.groupBy("type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    (Map("directory_count" -> s.directories.count(),
      "file_count" -> s.files.count(),
      "definition_count" -> s.definitions.count(),
      "imported_symbol_count" -> s.importedSymbols.count()) ++
      byType.map { case (t, n) => s"def.$t" -> n } ++ edgeKinds ++ edgeTypes)
  }

  /** The store census against the generator's: every key the generator
    * states must match exactly. */
  def checkCensus(got: Map[String, Long], where: String): Unit =
    census.foreach { case (k, want) =>
      if (k != "source_bytes")
        r.check(got.getOrElse(k, 0L) == want,
          s"$where: $k = ${got.getOrElse(k, 0L)}, generator says $want")
    }

  def parquetBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => f.toString.endsWith(".parquet"))
        .map(Files.size).sum
      finally s.close()
    }
  }

  def inSpan[T](name: String)(f: => T): T = {
    val prev = spans.open
    spans.open = name
    spark.sparkContext.setLocalProperty(Spans.Key, name)
    try f finally {
      spans.open = prev
      spark.sparkContext.setLocalProperty(Spans.Key, null)
    }
  }

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
