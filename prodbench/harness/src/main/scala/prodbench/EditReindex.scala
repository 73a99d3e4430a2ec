package prodbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.GraphHttpServer
import graft.store.GraphStore

/** One editor in a closed loop against a watched workspace, through the
  * desktop server's workspace manager: edit one file, wait for the
  * server's `WorkspaceReindexed` event, re-read the store, verify the edit,
  * and make the next edit, until the run's seconds are up (at least one
  * edit).
  *
  * The workspace is the base project, already indexed: its store is the one
  * prepared before this JVM started from the same tree at the same path,
  * copied where the workspace manager keeps it, so set-up is what a
  * restarted server does for an indexed workspace — register it and start
  * the watch → reindex loop.
  *
  * Checks: after each edit (a method rename) the new definition is present
  * and the old one gone; at the end the store's census per node kind,
  * definition type and edge kind equals the generator's (a rename leaves it
  * unchanged), and the store holds exactly the definitions, files and
  * edges a from-scratch index of the edited tree holds: the prepared
  * index's, with each renamed method's fqn replaced.
  */
final class EditReindex(a: Args, in: JValue, r: Result) extends Workload(a, in, r) {
  private val TimeoutMs = 120000L
  private val preparedStore = a.work.resolve("store")
  private val edits = (in \ "edits").extract[List[Map[String, String]]]
  private val initialDefs = (in \ "defs").extract[List[List[String]]]
    .map { case List(p, t, f) => (p, t, f) }.toSet
  private val reference = JsonMethods.parse(Files.readString(a.work.resolve("reference.json")))
  private def refSet(k: String): Set[Seq[String]] =
    (reference \ k).extract[List[List[String]]].map(_.toSeq).toSet
  private var server: GraphHttpServer = _
  private var storeDir: String = _

  def ready(): Unit = {
    server = new GraphHttpServer(spark, preparedStore.toString, "bench", "bench",
      dataDir = a.work.resolve("data").toString)
    server.start(0)
    val wm = server.workspaceManager
    val ws = wm.getOrRegister(tree).get
    val p = ws.projects.head
    storeDir = wm.storeDirFor(ws, p)
    if (!Files.exists(Paths.get(storeDir))) copyTree(preparedStore, Paths.get(storeDir))
    p.status = "Indexed"
    ws.status = "Indexed"
    wm.watchWorkspace(ws)
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  def measure(): Unit = {
    val (_, events) = server.events.subscribe()
    def await(kind: String, pred: JValue => Boolean): Option[Long] = {
      val deadline = System.currentTimeMillis() + TimeoutMs
      while (System.currentTimeMillis() < deadline) {
        val line = events.poll(50, TimeUnit.MILLISECONDS)
        if (line != null) {
          val ev = JsonMethods.parse(line)
          if ((ev \ "type") == JString(kind) && pred(ev)) return Some(System.nanoTime())
        }
      }
      None
    }
    val sampler = if (a.trace) Some(new LayerSampler(spans)) else None
    val feedDir = Paths.get(storeDir + "_feed")
    val t0 = System.nanoTime()

    val visible = ArrayBuffer[Double]()
    val engine = ArrayBuffer[Map[String, Double]]()
    val amp = ArrayBuffer[Double]()
    val feedDelay = ArrayBuffer[Double]()
    val batch = ArrayBuffer[Double]()
    val applied = ArrayBuffer[Map[String, String]]()
    val it = edits.iterator
    while ((applied.isEmpty || elapsedS(t0) < a.seconds) && it.hasNext) {
      val e = it.next()
      val path = e("path")
      val span = s"edit${applied.size + 1}"
      val feedsBefore = listFeed(feedDir)
      val te = System.nanoTime()
      val ok = inSpan(span) {
        Files.writeString(Paths.get(tree, path), e("content"))
        val fed = if (a.trace) waitFeed(feedDir, feedsBefore, te + TimeoutMs * 1000000L) else None
        val seen = await("WorkspaceReindexed",
          ev => (ev \ "changed").extract[List[String]].contains(path))
        fed.foreach(f => feedDelay += (f - te) / 1e6)
        for (f <- fed; tv <- seen) batch += (tv - f) / 1e6
        seen.isDefined && verify(storeDir, e)
      }
      val ms = Stats.ms(te)
      r.attempted += 1
      drain()
      val delta = engineDelta(span, ms)
      if (!ok) r.failed += 1 else {
        visible += ms
        engine += delta
        amp += delta("store.write_bytes") / e("content").getBytes("UTF-8").length
        applied += e
      }
      recordDrift("edit", applied.size, ms, "visible" -> JBool(ok),
        "spark_jobs" -> JDouble(delta("spark.jobs")),
        "spark_tasks" -> JDouble(delta("spark.tasks")))
      if (!ok) sys.error(s"edit of $path did not become visible")
    }
    val loopS = elapsedS(t0)
    val got = checkFinal(storeDir, applied.toSeq)

    r.e2e("first_op_s") = (visible.head / 1e3, 1)
    r.e2e("throughput") = (visible.size / loopS, visible.size)
    r.e2e("op_p50_ms") = (Stats.median(visible.toSeq), visible.size)
    r.e2e("op_tail_ms") = (Stats.tail(visible.toSeq)._1, visible.size)
    r.e2e("bytes_per_src_byte") = (Stats.median(engine.map(_("store.write_bytes")).toSeq) /
      census("source_bytes"), engine.size)
    r.e2e("ok_rate") = ((r.attempted - r.failed).toDouble / r.attempted, r.attempted.toInt)
    sampler.foreach { s =>
      s.stop()
      val editSpans = applied.indices.map(k => s"edit${k + 1}")
      Seq("extract.scan_ms" -> "extract.scan", "extract.parse_ms" -> "extract.parse",
        "analyze.from_parsed_ms" -> "analyze", "store.read_ms" -> "store.read",
        "store.write_ms" -> "store.write", "stream.reindex_ms" -> "stream")
        .foreach { case (name, layer) =>
          val v = Stats.median(editSpans.map(s.busyMs(_, layer)))
          r.check(v > 0, s"$name: the sampler saw no $layer frame on the program's " +
            "indexing threads (thread names or classes no longer match)")
          r.layers(name) = v }
      def med(k: String) = Stats.median(engine.map(_(k)).toSeq)
      r.layers("stream.jobs_per_edit") = med("spark.jobs")
      r.layers("stream.tasks_per_edit") = med("spark.tasks")
      Seq("task_s", "driver_gap_ms", "shuffle_mb", "spill_mb").foreach(k =>
        r.layers(s"edit.spark.$k") = med(s"spark.$k"))
      r.layers("store.write_bytes") = med("store.write_bytes")
      r.layers("store.bytes_per_src_byte") = parquetBytes(storeDir) / census("source_bytes").toDouble
      r.layers("stream.write_amp") = Stats.median(amp.toSeq)
      r.layers("stream.feed_delay_ms") = Stats.median(feedDelay.toSeq)
      r.layers("stream.batch_ms") = Stats.median(batch.toSeq)
      r.layers("extract.files") = got("file_count").toDouble
      r.layers("extract.defs") = got("definition_count").toDouble
      r.layers("analyze.nodes") = Seq("directory_count", "file_count",
        "definition_count", "imported_symbol_count").map(got(_)).sum.toDouble
      r.layers("analyze.edges") = graft.model.EdgeKind.all.map(got.getOrElse(_, 0L)).sum.toDouble
      r.layers("trace.first_op_s") = visible.head / 1e3
      r.layers("trace.op_p50_ms") = Stats.median(visible.toSeq)
    }
  }

  private def listFeed(dir: java.nio.file.Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }

  /** The time a new change-feed file appears (trace runs only: polling the
    * feed directory costs a little CPU). */
  private def waitFeed(dir: java.nio.file.Path, before: Set[String], deadline: Long): Option[Long] = {
    while (System.nanoTime() < deadline) {
      if ((listFeed(dir) -- before).exists(!_.startsWith("."))) return Some(System.nanoTime())
      Thread.sleep(2)
    }
    None
  }

  private def verify(storeDir: String, e: Map[String, String]): Boolean = {
    val fqns = GraphStore.read(spark, storeDir).definitions
      .where(org.apache.spark.sql.functions.col("primary_file_path") === e("path"))
      .select("fqn").collect().map(_.getString(0)).toSet
    val ok = fqns(e("new_fqn")) && !fqns(e("old_fqn"))
    r.check(ok, s"edit of ${e("path")}: ${e("new_fqn")} present=${fqns(e("new_fqn"))}, " +
      s"${e("old_fqn")} present=${fqns(e("old_fqn"))}")
    ok
  }

  /** The end-of-run checks; returns the store's census. */
  private def checkFinal(storeDir: String, applied: Seq[Map[String, String]]): Map[String, Long] = {
    val got = storeCensus(storeDir)
    checkCensus(got, "after edits")
    val want = applied.foldLeft(initialDefs) { (s, e) =>
      val (p, t, _) = s.find(d => d._1 == e("path") && d._3 == e("old_fqn")).get
      s - ((p, t, e("old_fqn"))) + ((p, t, e("new_fqn")))
    }
    val defs = GraphStore.read(spark, storeDir).definitions
      .select("primary_file_path", "definition_type", "fqn").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    r.check(defs == want, s"after edits: ${(want -- defs).size} definitions missing, " +
      s"${(defs -- want).size} unexpected, e.g. ${(want -- defs).take(3)} / ${(defs -- want).take(3)}")
    val g = GraphStore.read(spark, storeDir)
    def same(what: String, got: Set[Seq[String]], want: Set[Seq[String]]): Unit =
      r.check(got == want, s"after edits: ${(want -- got).size} $what missing, " +
        s"${(got -- want).size} unexpected, e.g. ${(want -- got).take(3)} / ${(got -- want).take(3)}")
    same("files", StoreKeys.files(g), refSet("files"))
    // a definition's key is `def|<file>|<fqn>`: a rename changes its fqn
    val renamed = applied.map(e => s"def|${e("path")}|${e("old_fqn")}" ->
      s"def|${e("path")}|${e("new_fqn")}").toMap
    same("edges", StoreKeys.edges(g),
      refSet("edges").map(_.map(k => renamed.getOrElse(k, k))))
    got
  }
}
