package graft.extract

import java.nio.file.{Files, Path}
import graft.SparkSpec

/** [[FileScanner.scanPaths]] reads exactly what the full walk would read
  * for those paths: for any subset of candidate paths, including ignored,
  * binary, symlinked and escaping ones, it returns the rows of
  * `scan(...).filter(subset contains _.path)`.
  */
class ScanPathsSpec extends SparkSpec {

  private def write(root: Path, rel: String, bytes: Array[Byte]): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  test("scanPaths of any path subset equals the full scan filtered to it") {
    val base = Files.createTempDirectory("graft-scanpaths")
    val root = base.resolve("repo")
    def text(rel: String) = write(root, rel, s"def f():\n    return '$rel'\n".getBytes)
    Seq("a.py", "sub/b.py", "sub/deep/c.py", "ignored.py", "node_modules/x.js",
      "logs/kept.py").foreach(text)
    write(root, ".gitignore", "ignored.py\nlogs/\n!logs/kept.py\n".getBytes)
    write(root, "bin.dat", Array[Byte](1, 0, 2))
    write(base, "outside.py", "def outside():\n    pass\n".getBytes)
    Files.createSymbolicLink(root.resolve("link.py"), root.resolve("a.py"))
    Files.createSymbolicLink(root.resolve("linkdir"), root.resolve("sub"))

    val candidates = Vector("a.py", "sub/b.py", "sub/deep/c.py", ".gitignore",
      "ignored.py", "node_modules/x.js", "logs/kept.py", "bin.dat", "link.py",
      "linkdir/b.py", "linkdir/deep/c.py", "../outside.py", "sub/../a.py",
      "./a.py", "missing.py", "sub", "", root.resolve("a.py").toString)
    val full = FileScanner.scan(spark, root.toString, "r").collect().toSeq
    // the walk itself: links are entries, not followed; ignored dirs stay shut
    assert(full.map(_.path).toSet == Set("a.py", "sub/b.py", "sub/deep/c.py",
      ".gitignore"))

    val rnd = new scala.util.Random(7)
    val subsets = candidates.map(Seq(_)) ++ Seq(candidates) ++
      Seq.fill(12)(candidates.filter(_ => rnd.nextBoolean()))
    subsets.foreach { subset =>
      val got = FileScanner.scanPaths(spark, root.toString, "r", subset)
        .collect().toSeq.sortBy(_.path)
      assert(got == full.filter(f => subset.contains(f.path)).sortBy(_.path),
        s"subset ${subset.mkString(", ")}")
    }
  }
}
