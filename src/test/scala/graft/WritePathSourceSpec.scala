package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the indexing write path: its checkpoints belong to the
  * enclosing batch (freed when the batch ends, not left to the
  * ContextCleaner), and the store has one layout, the one
  * [[graft.store.GraphStore.write]] writes and `read` reads.
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
}
