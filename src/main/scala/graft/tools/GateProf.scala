package graft.tools

/** Round-13 per-gate profiler (SCALE.md / OPTIMIZATION_r13.md evidence
  * generator): runs named gates from [[graft.SparkEntry.queries]] under a
  * Spark job/task listener and prints one JSON line per gate per rep —
  * wall seconds, number of jobs launched, number of tasks, and summed task
  * time. The (wall − task/cores) gap is the serialized job-submission /
  * planning floor; `jobs` tells how many sequential actions the gate pays.
  *
  * It runs the [[graft.Sessions]] profile and Bench's warm protocol, so it
  * profiles exactly what Bench times. Formatted plans come from
  * [[graft.ExplainAudit]].
  *
  * SPARK_GRAFT_PROF_REPS sets the reps per gate (default 2; report each).
  *
  * Usage: runMain graft.tools.GateProf <gate> [gate...]
  */
object GateProf {

  private final class Counter extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskTimeNs = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(te.taskInfo).foreach(ti =>
        taskTimeNs.addAndGet((ti.finishTime - ti.launchTime) * 1000000L))
      ()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GateProf <gateName> [gateName...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROF_REPS", "2").toInt
    val spark = graft.Sessions.local(cpus.toInt, "gate-prof")
    graft.functions.VectorExpressions.register(spark)
    // same warm protocol as Bench: long-lived serving state outside timing
    if (sys.env.getOrElse("SPARK_GRAFT_WARM_GRAPH", "1") != "0") {
      val st = graft.SparkEntry.storeFor(spark, sfDir)
      Seq(st.directories, st.files, st.definitions, st.importedSymbols,
        st.edges, st.symmetrizedEdges).foreach(_.count())
      graft.SparkEntry.warmGraph(spark, sfDir)
    }
    val permanent = spark.sparkContext.getPersistentRDDs.keySet
    val qs = graft.SparkEntry.queries
    args.foreach { name =>
      val fn = qs.getOrElse(name, sys.error(s"unknown gate: $name"))
      (1 to reps).foreach { rep =>
        val c = new Counter
        spark.sparkContext.addSparkListener(c)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tPlan = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t1 = System.nanoTime()
        Thread.sleep(800) // let the async listener bus drain
        spark.sparkContext.removeSparkListener(c)
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!permanent(id)) rdd.unpersist(blocking = false)
        }
        println(f"""{"metric":"gate_prof","gate":"$name","rep":$rep,""" +
          f""""wall_sec":${(t1 - t0) / 1e9}%.2f,""" +
          f""""build_sec":${(tPlan - t0) / 1e9}%.2f,""" +
          f""""jobs":${c.jobs.get()},"tasks":${c.tasks.get()},""" +
          f""""task_sec":${c.taskTimeNs.get() / 1e9}%.2f}""")
      }
    }
    spark.stop()
  }
}
