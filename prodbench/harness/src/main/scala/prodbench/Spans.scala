package prodbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._

/** Engine counters attributed to the span open when a job starts.
  *
  * A span is a name the harness opens around one operation. A job belongs
  * to the span named by the `prodbench.span` local property of the thread
  * that submitted it or, for jobs submitted by threads the harness does not
  * own (HTTP handlers, the indexing job, the streaming query), to the span
  * globally open at the time. Tasks and their shuffle, spill and output
  * bytes follow their stage's job. Counters are kept per span and in total.
  */
final class Spans extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var taskNs = 0L; var jobNs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var outputBytes = 0L
  }

  @volatile var open: String = "idle"
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private def acc(span: String): Acc = accs.computeIfAbsent(span, _ => new Acc)
  def snapshot(span: String): Acc = {
    val a = acc(span); val c = new Acc
    a.synchronized {
      c.jobs = a.jobs; c.tasks = a.tasks; c.taskNs = a.taskNs; c.jobNs = a.jobNs
      c.shuffleBytes = a.shuffleBytes; c.spillBytes = a.spillBytes
      c.outputBytes = a.outputBytes
    }
    c
  }

  /** Apply `f` to the span's counters and to the run-wide totals. */
  private def both(span: String)(f: Acc => Unit): Unit =
    Seq(acc(span), acc(Spans.Total)).foreach(a => a.synchronized(f(a)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Spans.Key))).getOrElse(open)
    jobStart.put(e.jobId, (span, e.time))
    e.stageIds.foreach(stageSpan.put(_, span))
    both(span)(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
      both(span)(_.jobNs += (e.time - t0) * 1000000L)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    both(Option(stageSpan.get(e.stageId)).getOrElse(open)) { a =>
      a.tasks += 1
      a.taskNs += e.taskInfo.duration * 1000000L
      if (m != null) {
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

object Spans {
  val Key = "prodbench.span"
  val Total = "total"
}

/** Per-layer time of work the program runs on its own threads (the
  * workspace indexing job, the streaming reindex), taken from outside:
  * every few milliseconds the stacks of those threads are read, and each
  * thread busy in program code adds the interval to the layer of its
  * innermost program frame (see [[LayerSampler.layerOf]]), under the span
  * open at the time. A thread waiting for a Spark job counts for the layer
  * that submitted the job. Runs only in traced runs.
  */
final class LayerSampler(spans: Spans, periodMs: Long = 10) {
  private val ms = new ConcurrentHashMap[String, java.lang.Double]()
  @volatile private var running = true
  private val thread = new Thread(() => {
    var last = System.nanoTime()
    while (running) {
      Thread.sleep(periodMs)
      val now = System.nanoTime()
      val dt = (now - last) / 1e6
      last = now
      // only the watched threads' stacks are read: reading every thread's
      // stack stops them all and slows the run far more
      LayerSampler.threads().filter(t => LayerSampler.watched(t.getName)).foreach { t =>
        LayerSampler.layerOf(t.getStackTrace).foreach(l =>
          ms.merge(s"${spans.open}/$l", dt, (a, b) => a + b))
      }
    }
  }, "prodbench-layer-sampler")
  thread.setDaemon(true)
  thread.start()

  /** Milliseconds the layer was busy under the span. */
  def busyMs(span: String, layer: String): Double =
    Option(ms.get(s"$span/$layer")).map(_.doubleValue).getOrElse(0.0)

  def stop(): Unit = { running = false; thread.join() }
}

object LayerSampler {
  /** Every live thread, without their stacks. */
  def threads(): Seq[Thread] = {
    var g = Thread.currentThread.getThreadGroup
    while (g.getParent != null) g = g.getParent
    val all = new Array[Thread](g.activeCount * 2 + 16)
    all.take(g.enumerate(all, true)).toSeq
  }

  /** The program threads that run indexing and reindexing. */
  def watched(name: String): Boolean =
    name.startsWith("graft-index-jobs") || name.startsWith("stream execution thread")

  /** Layers by the class and method of a program frame, first match wins. */
  private val layers: Seq[(String, String, String)] = Seq(
    ("graft.extract.FileScanner", "", "extract.scan"),
    ("graft.analyze.Indexer$", "extractTables", "extract.parse"),
    ("graft.extract.", "", "extract.parse"),
    ("graft.analyze.", "", "analyze"),
    ("graft.store.GraphStore", "write", "store.write"),
    ("graft.store.", "", "store.read"),
    ("graft.stream.", "", "stream"),
    ("graft.serve.", "", "stream"))

  def layerOf(stack: Array[StackTraceElement]): Option[String] =
    stack.find(_.getClassName.startsWith("graft.")).map { f =>
      layers.collectFirst {
        case (cls, method, layer) if f.getClassName.startsWith(cls) &&
          f.getMethodName.contains(method) => layer
      }.getOrElse("other")
    }
}
