package graft.serve

import java.util.concurrent.atomic.LongAdder
import org.apache.spark.sql.SparkSession
import graft.operators.TransientCache
import graft.query.QueryLibrary
import graft.store.{DirFingerprint, GraphStore}

/** The store a serving face answers from, one generation at a time.
  *
  * Each request fingerprints the store directory (total bytes and latest
  * mtime, [[DirFingerprint]]); when that changed — a reindex, a watcher
  * publish, an `index_project` into the served directory, a copy from
  * another process — the next request builds the new generation once,
  * under a lock, and every later request answers from it. Nothing is built
  * before the first request.
  *
  * The plan is picked from the store's size. At or below `indexBound` bytes
  * a generation answers [[ServedQueries]] from a [[ServingIndex]] with no
  * Spark job per request; above it, from [[LibraryQueries]] over the
  * re-read, cached store. [[library]] is the Spark-side library of the same
  * generation, for the MCP tools the index does not carry; it is read and
  * cached on first use. Before a new generation is read, the caches
  * registered over the directory are drained, so no plan of the previous
  * generation re-reads a file listing the rewrite removed.
  *
  * `indexBound` is fixed to [[ServedStore.IndexBoundBytes]] outside the
  * specs, which pass 0 or `Long.MaxValue` to run both plans on one store.
  */
final class ServedStore private[graft] (spark: SparkSession, dir: String,
    indexBound: Long) {

  def this(spark: SparkSession, dir: String) =
    this(spark, dir, ServedStore.IndexBoundBytes)

  private final class Generation(val fingerprint: (Long, Long),
                                 val index: Option[ServingIndex]) {
    lazy val library = new QueryLibrary(GraphStore.read(spark, dir).cacheAll())
    val queries: ServedQueries = index.getOrElse(new LibraryQueries(library))
  }

  @volatile private var current: Generation = _

  /** Index builds, and answers per plan, since start (for `/metrics`). */
  val indexBuilds = new LongAdder
  val indexAnswers = new LongAdder
  val sparkAnswers = new LongAdder

  /** Rows held by the current generation's index (0 on the Spark plan). */
  def indexRows: Long =
    Option(current).flatMap(_.index).fold(0L)(_.rows)

  private def generation(): Generation = {
    val fp = DirFingerprint.of(spark.sparkContext.hadoopConfiguration, dir)
    val seen = current
    if (seen != null && seen.fingerprint == fp) seen
    else synchronized {
      if (current != null && current.fingerprint == fp) current
      else {
        if (current != null) TransientCache.drainPath(dir)
        val index =
          if (fp._1 > indexBound) None
          else { indexBuilds.increment(); ServingIndex.build(spark, dir) }
        current = new Generation(fp, index)
        current
      }
    }
  }

  /** The current generation's answers to the seven served lookups. */
  def queries(): ServedQueries = {
    val g = generation()
    (if (g.index.isDefined) indexAnswers else sparkAnswers).increment()
    g.queries
  }

  /** The current generation's [[QueryLibrary]], for lookups outside
    * [[ServedQueries]]. */
  def library(): QueryLibrary = {
    sparkAnswers.increment()
    generation().library
  }
}

object ServedStore {

  /** Largest store, in bytes under its directory (its Parquet files), served
    * from a [[ServingIndex]]. An index retains about 4.9 bytes of heap per
    * Parquet byte: 0.77 MB after GC for the product benchmark's 157 KB,
    * 10,066-row store (300 files), measured as the heap freed by dropping
    * it. An index at the bound therefore holds about 82 MB, 4 % of the
    * smallest driver heap the repo runs with (2 GiB), which leaves room for
    * the collected rows a build holds while it runs.
    */
  val IndexBoundBytes: Long = 16L << 20
}
