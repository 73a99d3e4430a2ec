package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. The CLI, HTTP and MCP servers,
  * the driver mains (Bench, Verify), the tools and the specs all run this
  * profile, so the config the product serves with is the config the
  * benchmarks measure. `cores` is the per-deployment setting: local[N] and
  * N shuffle partitions; on a real cluster master and shuffle partitions
  * come from the deploy environment and the rest applies unchanged.
  */
object Sessions {
  def local(cores: Int = 32, app: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      // AQE keeps Spark's default 1 MB coalescing floor. Round-13 measured
      // non-change (OPTIMIZATION_r13.md): lowering
      // spark.sql.adaptive.coalescePartitions.minPartitionSize to 64k
      // un-serializes the CPU-heavy text gates (AQE's byte-based
      // coalescing collapses their few-MB shuffles to 1-2 tasks:
      // dd_containment_prefix 9.7 -> 2.9 s) but costs more across the
      // ~100 small and iterative gates (extra tiny tasks per round;
      // g_kcore +3.7 s, full bench +9 s net).
      .config("spark.sql.adaptive.enabled", "true")
      // Round-13: the driver-side codegen class cache defaults to 100
      // entries (static conf) — the gate suite compiles thousands of
      // distinct whole-stage classes per pass, so the LRU thrashes and
      // every gate's second pass re-pays Janino compilation for each
      // stage. Tens of MB of driver memory buys compile-once.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // ContextCleaner reclaims broadcasts/shuffle state only on GC; with a
      // large heap GC barely runs, so query state piles up and the eventual
      // full GC lands mid-measurement. The default periodic-GC interval is
      // 30min — far longer than a bench run.
      .config("spark.cleaner.periodicGC.interval", "1min")
      // static conf: injects the engine's SQL functions (graft_dot, …) into
      // every session state, including `newSession()`s
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
