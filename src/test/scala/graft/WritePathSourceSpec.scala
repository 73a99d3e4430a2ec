package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the indexing write path: its checkpoints belong to the
  * enclosing batch (freed when the batch ends, not left to the
  * ContextCleaner), the store has one layout, the one
  * [[graft.store.GraphStore.write]] writes and `read` reads, and index and
  * reindex run one analysis.
  */
class WritePathSourceSpec extends AnyFunSuite {

  private def source(p: String): String = Files.readString(Paths.get(p))

  test("index and reindex make no bare eager checkpoint") {
    // any Dataset.localCheckpoint: only BatchScope's goes to the batch
    val bare = """(?<!BatchScope)\.localCheckpoint\b""".r
    val hits = for {
      f <- Seq("src/main/scala/graft/analyze/Indexer.scala",
        "src/main/scala/graft/analyze/PythonResolver.scala",
        "src/main/scala/graft/serve/WorkspaceManager.scala")
      m <- bare.findAllMatchIn(source(f))
    } yield s"$f: ${m.matched}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no second store layout: no bucketing, catalog tables or dynamic " +
    "partition overwrite in src/main") {
    val layout = """bucketBy|saveAsTable|partitionOverwriteMode""".r
    val s = Files.walk(Paths.get("src/main"))
    val hits =
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap(p => layout.findAllIn(Files.readString(p)).map(h => s"$p: $h"))
      finally s.close()
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("reindex runs the indexer's analysis, through one face") {
    val src = source("src/main/scala/graft/stream/IncrementalIndexer.scala")
    val analysis = """\b(PythonResolver|TypedResolver|RubyTypedResolver|""" +
      """ReferenceResolver|resolveCallEdges|RelType)\b"""
    assert(analysis.r.findAllIn(src).toList.isEmpty)
    assert("""\bdef applyReindexBatch\b""".r.findAllIn(src).size == 1)
  }

  test("the whole-tree edge kinds are listed once in src/main") {
    // a list of two or more directory or import-resolution kinds, outside
    // EdgeKind's own census of every kind
    val list = """(?:EdgeKind\.)?(?:Dir|Imp)To\w+\s*,\s*(?:EdgeKind\.)?(?:Dir|Imp)To\w+""".r
    val s = Files.walk(Paths.get("src/main"))
    val hits =
      try s.iterator.asScala.filter(p => p.toString.endsWith(".scala") &&
          !p.endsWith("model/Schemas.scala")).toList
        .filter(p => list.findFirstIn(Files.readString(p)).nonEmpty)
        .map(_.toString)
      finally s.close()
    assert(hits == List("src/main/scala/graft/analyze/Indexer.scala"))
    val indexer = source("src/main/scala/graft/analyze/Indexer.scala")
    assert("""\bSeq\((?:EdgeKind\.)?(?:Dir|Imp)To""".r.findAllIn(indexer).size == 1)
  }
}
