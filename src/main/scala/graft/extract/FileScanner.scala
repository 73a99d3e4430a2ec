package graft.extract

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}

/** S1/S2 — repository file scan + text read.
  *
  * The reference enumerates repo files honoring .gitignore with a 5 MB size
  * cutoff and binary skip (indexer/src/indexer.rs:58-72,266-321). Local
  * driver-side walk here; on a cluster the same Dataset comes from
  * `spark.read.format("binaryFile")` over a distributed FS — the downstream
  * pipeline is identical either way.
  */
object FileScanner {

  val MaxFileBytes: Long = 5L * 1000 * 1000 // reference: indexer.rs:64-72

  private val ignoredDirs = Set(".git", ".hg", ".svn", "node_modules",
    "__pycache__", "target", ".idea")

  /** Every candidate file under `rootDir` ([[listPaths]]'s walk: nested
    * .gitignore semantics, ignored directories, no symlinks followed), read
    * in walk order.
    */
  def scan(spark: SparkSession, rootDir: String,
           repositoryName: String): Dataset[SourceFile] = {
    val root = Paths.get(rootDir).toAbsolutePath.normalize
    distribute(spark, walkLight(root, root, Vector.empty, null).flatMap {
      case (rel, _, _) => readOne(root, root.resolve(rel), repositoryName)
    }.toSeq)
  }

  /** The rows of [[scan]] whose path is in `paths`, reading only those
    * files. A path is read only when the full walk would yield it: it is the
    * normalized path of an entry under the root, no ancestor directory is
    * ignored or a symlink, and the entry is a regular file (links not
    * followed) within [[MaxFileBytes]] and not binary. Paths come from a
    * change feed on disk, so a `..` path or a path through a symlinked
    * directory is never read.
    */
  def scanPaths(spark: SparkSession, rootDir: String, repositoryName: String,
                paths: Iterable[String]): Dataset[SourceFile] = {
    val root = Paths.get(rootDir).toAbsolutePath.normalize
    val ignore = new IgnoreChecker(rootDir)
    val nofollow = java.nio.file.LinkOption.NOFOLLOW_LINKS
    def walked(rel: String): Option[Path] =
      scala.util.Try(root.resolve(rel).normalize).toOption.filter { p =>
        p.startsWith(root) && p != root && relOf(root, p) == rel &&
          Iterator.iterate(p.getParent)(_.getParent).takeWhile(_ != root)
            .forall(Files.isDirectory(_, nofollow)) &&
          !ignore.isIgnored(p, isDir = false) &&
          Files.isRegularFile(p, nofollow)
      }
    distribute(spark, paths.toSeq.distinct.sorted.flatMap(rel =>
      walked(rel).flatMap(readOne(root, _, repositoryName))))
  }

  // distribute: extraction parallelism is per-file
  private def distribute(spark: SparkSession,
                         files: Seq[SourceFile]): Dataset[SourceFile] = {
    import spark.implicits._
    spark.createDataset(files).repartition(spark.sparkContext.defaultParallelism)
  }

  private def relOf(root: Path, p: Path): String =
    root.relativize(p).toString.replace('\\', '/')

  /** Light listing for the filesystem watcher: (relative path, size, mtime)
    * of every candidate file under `rootDir`, honoring the same nested
    * .gitignore + ignored-dir semantics as [[scan]] but reading no content.
    */
  def listPaths(rootDir: String): Seq[(String, Long, Long)] = {
    val root = Paths.get(rootDir).toAbsolutePath.normalize
    if (!Files.isDirectory(root)) Nil
    else walkLight(root, root, Vector.empty, null).toSeq
  }

  /** [[listPaths]] restricted to the subtree at `subDir`, honoring the FULL
    * ancestor .gitignore chain from the root down. Empty when `subDir` is
    * itself inside an ignored directory. (Watcher support: a newly created
    * directory's contents are listed without re-walking the whole tree.)
    */
  def listPathsUnder(rootDir: String, subDir: Path): Seq[(String, Long, Long)] = {
    val root = Paths.get(rootDir).toAbsolutePath.normalize
    val sub = subDir.toAbsolutePath.normalize
    if (!Files.isDirectory(sub) || !sub.startsWith(root)) Nil
    else new IgnoreChecker(rootDir).scopeChain(sub) match {
      case None => Nil
      case Some(scopes) => walkLight(root, sub, scopes, null).toSeq
    }
  }

  /** Candidate directories under `rootDir` (root first, pre-order —
    * parents before children), honoring the same ignore semantics — what a
    * recursive WatchService registration covers.
    */
  def listDirs(rootDir: String): Seq[Path] = {
    val root = Paths.get(rootDir).toAbsolutePath.normalize
    if (!Files.isDirectory(root)) Nil
    else {
      val acc = Vector.newBuilder[Path]
      acc += root
      walkLight(root, root, Vector.empty, acc += _).foreach(_ => ())
      acc.result()
    }
  }

  /** [[listPaths]] that also invokes `onDir` for every candidate directory
    * (root first, pre-order, BEFORE that directory's contents are listed).
    * The filesystem watcher registers each directory from the callback, so
    * a single tree walk both takes the baseline snapshot and arms the
    * watch — and because registration precedes the listing of a
    * directory's contents, any change landing after registration is
    * queued as an event and reconciled against the snapshot (no
    * registration/snapshot race, no second walk).
    */
  def listPathsRegistering(rootDir: String,
      onDir: Path => Unit): Seq[(String, Long, Long)] = {
    val root = Paths.get(rootDir).toAbsolutePath.normalize
    if (!Files.isDirectory(root)) Nil
    else {
      onDir(root)
      walkLight(root, root, Vector.empty, onDir).toSeq
    }
  }

  /** Is the entry at `p` ignored (ignored-dirs or nested .gitignore chain)?
    * For paths outside `rootDir`: true. One-shot face of [[IgnoreChecker]];
    * callers testing many paths should hold a checker instead.
    */
  def isIgnored(rootDir: String, p: Path, isDir: Boolean): Boolean =
    new IgnoreChecker(rootDir).isIgnored(p, isDir)

  /** Memoizing ignore-checker for event-path queries: every directory's
    * .gitignore scope chain is computed (and its .gitignore read + parsed)
    * at most once per checker lifetime, built incrementally from the
    * parent's chain. Create one per debounce window — `.gitignore` edits
    * trigger a full rescan anyway, so a window-scoped memo can never serve
    * stale rules beyond the window that saw the edit.
    */
  final class IgnoreChecker(rootDir: String) {
    private val root = Paths.get(rootDir).toAbsolutePath.normalize
    // dir -> Some(scope chain) | None when the dir is itself ignored
    private val memo = scala.collection.mutable.Map[
      Path, Option[Vector[(String, Seq[GitIgnore.Rule])]]]()

    private def giOf(d: Path): Option[(String, Seq[GitIgnore.Rule])] = {
      val gi = d.resolve(".gitignore")
      if (Files.isRegularFile(gi))
        Some(relOf(root, d) -> GitIgnore.parse(Files.readAllLines(gi).asScala.toSeq))
      else None
    }

    private def scopes(dir: Path): Option[Vector[(String, Seq[GitIgnore.Rule])]] =
      memo.getOrElseUpdate(dir,
        if (dir == root) Some(Vector.empty ++ giOf(root))
        else if (!dir.startsWith(root)) None
        else scopes(dir.getParent).flatMap { parent =>
          if (ignoredDirs(dir.getFileName.toString)) None
          else if (GitIgnore.ignored(relOf(root, dir), isDir = true, parent)) None
          else Some(parent ++ giOf(dir))
        })

    def isIgnored(p: Path, isDir: Boolean): Boolean = {
      val abs = p.toAbsolutePath.normalize
      if (abs == root) return false
      if (!abs.startsWith(root)) return true
      if (isDir && ignoredDirs(abs.getFileName.toString)) return true
      scopes(abs.getParent) match {
        case None => true
        case Some(sc) => GitIgnore.ignored(relOf(root, abs), isDir, sc)
      }
    }

    /** Scope chain of `dir` (None when `dir` is inside an ignored path) —
      * for walkers resuming from a subtree root. */
    private[extract] def scopeChain(
        dir: Path): Option[Vector[(String, Seq[GitIgnore.Rule])]] =
      scopes(dir.toAbsolutePath.normalize)
  }

  /** The one walker, behind [[scan]]/[[listPaths]]/[[listPathsUnder]]/
    * [[listDirs]]/[[listPathsRegistering]]. It honors nested .gitignore
    * files ([[GitIgnore]] semantics: per-directory scope, negation,
    * anchoring, last-match-wins) and does not descend into ignored
    * directories, which is also how git's "cannot re-include inside an
    * excluded directory" rule falls out. Directory symlinks are not
    * followed (NOFOLLOW type checks): a link to an ancestor would recurse
    * unboundedly, and git treats symlinks as entries, not trees. Each
    * directory's listing is materialized and its stream closed before
    * recursing, so the walk holds one open descriptor at a time. Yields
    * (rel, size, mtime) file tuples; when `onDir` is non-null it is
    * invoked for every candidate directory in pre-order, before that
    * directory's contents are listed.
    */
  private def walkLight(root: Path, dir: Path,
      inherited: Vector[(String, Seq[GitIgnore.Rule])],
      onDir: Path => Unit): Iterator[(String, Long, Long)] = {
    val gi = dir.resolve(".gitignore")
    val scopes =
      if (Files.isRegularFile(gi))
        inherited :+ (relOf(root, dir) ->
          GitIgnore.parse(Files.readAllLines(gi).asScala.toSeq))
      else inherited
    val entries = {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector finally s.close()
    }
    val nofollow = java.nio.file.LinkOption.NOFOLLOW_LINKS
    entries.iterator.flatMap { p =>
      val name = p.getFileName.toString
      val isDir = Files.isDirectory(p, nofollow)
      if (isDir && ignoredDirs(name)) Iterator.empty
      else if (GitIgnore.ignored(relOf(root, p), isDir, scopes)) Iterator.empty
      else if (isDir) {
        if (onDir != null) onDir(p)
        walkLight(root, p, scopes, onDir)
      }
      else if (Files.isRegularFile(p, nofollow))
        Iterator.single((relOf(root, p), Files.size(p),
          Files.getLastModifiedTime(p).toMillis))
      else Iterator.empty
    }
  }

  private def readOne(root: Path, p: Path, repo: String): Option[SourceFile] = {
    val size = Files.size(p)
    if (size > MaxFileBytes) return None // oversized → Skipped record
    val bytes = Files.readAllBytes(p)
    if (bytes.contains(0.toByte)) return None // binary → Skipped record
    val rel = root.relativize(p).toString.replace('\\', '/')
    val name = p.getFileName.toString
    val ext = name.lastIndexOf('.') match {
      case -1 => ""
      case i => name.substring(i + 1)
    }
    Some(SourceFile(
      path = rel,
      absolutePath = p.toString,
      repositoryName = repo,
      name = name,
      extension = ext,
      language = LanguageDetect(ext),
      content = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)))
  }
}
