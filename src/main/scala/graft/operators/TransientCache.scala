package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for operator-internal cached intermediates, so long-lived
  * sessions can drop them once the query that needed them completes —
  * and so STORES can drop exactly the fragments reading their files
  * before mutating them.
  *
  * Why this exists: operators like the MinHash dedup faces cache a
  * shared intermediate (`shingle sets feed the band join and both
  * verification sides`) that must stay cached until the CALLER's action
  * finishes — the operator can never unpersist it itself. Left
  * registered forever, those entries are a correctness hazard in any
  * session that RERUNS a face after mutating a store the fragment read:
  * Spark's CacheManager SUBSTITUTES a registered fragment into any later
  * plan that matches it, and once its blocks are gone (evicted under
  * memory pressure, or freed by an RDD-level unpersist sweep — which
  * does NOT unregister the SQL-level entry) the substituted fragment
  * recomputes from its captured file listing. If the store was rebuilt
  * or compacted in between, that listing names deleted files — observed
  * at sf10 as a FAILED_READ_FILE abort on the curation-stream rerun —
  * or, for a swap that replaces rows, silently serves pre-swap data.
  * (`spark.catalog.refreshByPath` does NOT reliably repair the chain:
  * entries embed each other's InMemoryRelations physically, and a
  * refresh replaces only the registry entry, not the embedded
  * references. Measured: the rerun still aborted with per-mutation
  * refreshes in place; clearing the registry cured it.)
  *
  * Contract: operators register caches with [[cache]] (or [[register]]
  * for self-managed persists); each registration records the FILE PATHS
  * the fragment's analyzed plan reads, and the [[BatchScope]]s open on
  * the registering thread. Three reclamation faces:
  *
  *   - [[drain]] — everything (Bench, between timed queries).
  *   - [[drainScope]] — what one batch registered, at its scope's close.
  *   - [[drainPath]] — only fragments whose plans read under (or above)
  *     a given directory. The persisted STORES call this in their
  *     mutating faces (build/append/retire/compact swap), which makes
  *     session-lifetime cache hygiene an engine property of the store
  *     rather than a per-caller discipline, WITHOUT evicting warm caches
  *     of unrelated operators (a global drain between bench queries
  *     measured a flat +25% on the cache-friendly gates).
  *
  * Draining unpersists at the DataFrame level, which removes the
  * CacheManager entry — an in-flight query that still references a
  * drained cache just recomputes (caching is an optimization, never a
  * correctness dependency).
  */
object TransientCache {

  private final case class Entry(paths: Option[Set[String]], scopes: Set[Long])

  /** Registered fragment → the normalized filesystem paths its analyzed
    * plan reads (None when path extraction failed OR the plan contains a
    * leaf relation the extractor does not recognize — drained by ANY
    * drainPath, conservative) + the [[beginScope]] tokens active on the
    * registering thread (the [[drainScope]] lifecycle handle).
    */
  private val reg =
    new java.util.concurrent.ConcurrentHashMap[DataFrame, Entry]()
  private val seqGen = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Scope tokens open on the CURRENT thread, innermost first. Scopes are
    * per-driver-thread, not session-global: two concurrent drivers (two
    * streaming queries' foreachBatch, a serving cacheAll racing a batch
    * run) each see only their own registrations in their drainScope —
    * the session-global alternative (drain everything registered after a
    * sequence mark) over-drains the OTHER driver's warm caches, which
    * contradicts the "caches registered by other operators untouched"
    * contract. A driver's begin/drain pair must run on one thread (true
    * of every composed driver here: foreachBatch bodies and the batch
    * pipelines are single-threaded drivers).
    */
  private val activeScopes = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Persist `df` (the Dataset.cache() level) and register it for the
    * next [[drain]]/[[drainPath]]/[[drainScope]].
    */
  def cache(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    register(df)
  }

  /** Register an ALREADY-persisted DataFrame for the next [[drain]] —
    * for operators that manage persist levels/lifetimes themselves (the
    * Unigram trainer's per-round vocab chain) but whose RETURNED cache
    * must still be reclaimable by draining drivers.
    */
  def register(df: DataFrame): DataFrame = {
    reg.put(df, Entry(sourcePaths(df), activeScopes.get().toSet))
    df
  }

  /** [[register]] for the path and global drains only — for a cache that
    * outlives the batch scope that made it (a lazy returned result reads it).
    */
  def registerUnscoped(df: DataFrame): DataFrame = {
    reg.put(df, Entry(sourcePaths(df), Set.empty))
    df
  }

  /** Open a lifecycle scope: everything registered by THIS THREAD while
    * the scope is open is dropped by the matching [[drainScope]]. Each
    * [[BatchScope]] brackets its batch with the pair, on every path, so
    * operator-internal fragments end with the batch instead of lingering —
    * a lingering fragment whose BLOCKS a later RDD-level sweep frees is
    * worse than no cache at all: the sweep clears the buffer RDD's
    * storage level without unregistering the SQL entry, so every later
    * matching plan substitutes a fragment that recomputes ON EVERY USE
    * and never re-materializes (measured: the e2e rerun's new×seen stage
    * at 9.2× its first-pass cost, three consumers each recomputing the
    * full upstream chain). Scoped draining leaves caches registered by
    * OTHER operators — same thread outside the scope, or any concurrent
    * driver thread — untouched.
    */
  private[operators] def beginScope(): Long = {
    val id = seqGen.incrementAndGet()
    activeScopes.set(id :: activeScopes.get())
    id
  }

  /** Drop every fragment registered under scope `mark` and close it —
    * along with any nested scopes opened after it on this thread (their
    * fragments carry `mark` too, so a driver that aborted mid-nested-
    * scope still reclaims everything its run registered). See
    * [[beginScope]].
    */
  private[operators] def drainScope(mark: Long): Unit = {
    val cur = activeScopes.get()
    val idx = cur.indexOf(mark)
    if (idx < 0 && cur.nonEmpty)
      // the begin/drain pair is a same-thread contract (scopes are
      // ThreadLocal). A drain from a thread that did not open the mark
      // still reclaims the mark's FRAGMENTS (the registry is global),
      // but the opener's ThreadLocal stack keeps the dead token until
      // its own next drain — on a pooled, long-lived thread that means
      // later registrations carry dead scope ids. Surface the misuse
      // loudly instead of silently mis-scoping.
      org.slf4j.LoggerFactory.getLogger(TransientCache.getClass).warn(
        s"TransientCache.drainScope($mark) called on a thread that did " +
          s"not open it (open scopes here: $cur) — begin/drain must pair " +
          "on one thread; the opener's stack retains the dead token")
    activeScopes.set(
      if (idx >= 0) cur.drop(idx + 1) else cur.filterNot(_ == mark))
    drainWhere(_.scopes.contains(mark))
  }

  /** Test seam: number of currently registered fragments (specs assert an
    * aborted driver leaves the registry where it found it).
    */
  private[graft] def registeredCount: Int = reg.size

  /** `.transientCache()` syntax for operator internals. */
  implicit final class Syntax(private val df: DataFrame) extends AnyVal {
    def transientCache(): DataFrame = cache(df)
  }

  /** Every file-source root path in `df`'s ANALYZED plan (pre-cache-
    * substitution, so nested registered fragments contribute their own
    * underlying file relations too), normalized to scheme-less URI paths.
    *
    * Safety direction: None (drained by EVERY drainPath) whenever the
    * plan holds a LEAF RELATION this extractor does not recognize — a
    * successful-but-incomplete extraction is the unsafe case, because a
    * fragment whose file reads were missed (e.g. a V2-only source, or
    * parquet dropped from spark.sql.sources.useV1SourceList) would never
    * match its store's drainPath and silently revive the stale-cached-
    * plan / FAILED_READ_FILE mode this registry exists to fix. Only
    * leaves PROVEN path-free (in-memory/local relations) may contribute
    * an empty set — those legitimately never match a path drain.
    */
  private def sourcePaths(df: DataFrame): Option[Set[String]] =
    try {
      var unknownLeaf = false
      val paths = Set.newBuilder[String]
      // explicit recursion rather than TreeNode.foreach: foreach walks
      // `children` only, and plans held in INNER children (CTE
      // definitions, subquery expressions' plans) would be skipped — a
      // fragment whose only file scans live there would return an
      // incomplete Some(paths), survive its store's drainPath, and
      // silently serve stale data. visit() descends both edges.
      def visit(node: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Unit = {
        node match {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.foreach(p => paths += p.toUri.getPath)
              case _ => unknownLeaf = true
            }
          case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
            v2.table match {
              case ft: org.apache.spark.sql.execution.datasources.v2.FileTable =>
                ft.fileIndex.rootPaths.foreach(p => paths += p.toUri.getPath)
              case _ => unknownLeaf = true
            }
          // proven path-free leaves: in-memory rows, RDD-backed plans
          // (localCheckpoint), ranges — legitimately never path-drained
          case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => ()
          case _: org.apache.spark.sql.catalyst.plans.logical.OneRowRelation => ()
          case _: org.apache.spark.sql.catalyst.plans.logical.Range => ()
          case _: org.apache.spark.sql.execution.LogicalRDD => ()
          case _: org.apache.spark.sql.execution.ExternalRDD[_] => ()
          case p: org.apache.spark.sql.catalyst.trees.TreeNode[_]
              if p.children.isEmpty && p.innerChildren.isEmpty =>
            // any other leaf (streaming relations, catalog/JDBC relations,
            // future source kinds): reads we cannot attribute — stale risk
            // unknown means assume stale
            unknownLeaf = true
          case _ => ()
        }
        node.children.foreach {
          case c: org.apache.spark.sql.catalyst.trees.TreeNode[_] => visit(c)
          case _ => ()
        }
        node.innerChildren.foreach(visit)
      }
      visit(df.queryExecution.analyzed)
      if (unknownLeaf) None else Some(paths.result())
    } catch { case scala.util.control.NonFatal(_) => None }

  private def normalize(dir: String): String =
    new org.apache.hadoop.fs.Path(dir).toUri.getPath

  /** Unpersist every registered fragment whose plan reads a file under
    * `dir`, under a parent of `dir`, or at `dir` itself — called by the
    * stores' mutating faces with their own directory. Fragments whose
    * paths could not be determined are drained too (stale risk unknown
    * means assume stale). No-op for fragments over other stores.
    */
  def drainPath(dir: String): Unit = {
    val target = normalize(dir)
    drainWhere(_.paths match {
      case None => true
      case Some(paths) => paths.exists(p =>
        p == target || p.startsWith(target + "/") ||
          target.startsWith(p + "/"))
    })
  }

  /** Unpersist every registered cache (removing its CacheManager entry
    * — the part an RDD-level sweep misses).
    */
  def drain(): Unit = drainWhere(_ => true)

  private def drainWhere(pred: Entry => Boolean): Unit = {
    val it = reg.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (pred(e.getValue)) {
        // per-entry failures (a stopped session, a concurrent unpersist)
        // must not abort the sweep — but only NON-fatal ones: an OOM or
        // an interrupt here means the JVM/thread is dying and must
        // propagate (restoring the interrupt flag, which catch would
        // otherwise eat)
        try e.getKey.unpersist(false)
        catch {
          case _: InterruptedException =>
            Thread.currentThread().interrupt(); return
          case scala.util.control.NonFatal(_) => ()
        }
        it.remove()
      }
    }
  }
}
