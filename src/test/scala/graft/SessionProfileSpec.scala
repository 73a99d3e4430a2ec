package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the one session profile: every Spark session is built by
  * [[Sessions.local]], so the servers, the driver mains, the tools and the
  * specs run the config the benchmarks measure, and no env var re-opens a
  * knob that had only one value in use.
  */
class SessionProfileSpec extends AnyFunSuite {

  private def sources: Seq[(Path, String)] =
    Seq("src/main", "src/test").flatMap { root =>
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }.map(p => p -> Files.readString(p))

  test("a session builder appears only in Sessions.scala") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val sites = sources.collect {
      case (p, text) if builder.findFirstIn(text).isDefined => p.toString
    }
    assert(sites.map(Paths.get(_).getFileName.toString) == Seq("Sessions.scala"),
      sites.mkString(", "))
  }

  test("removed session and checkpoint knobs are not read from the environment") {
    val knobs = Seq("SPARK_GRAFT_MIN_PARTITION_SIZE", "SPARK_GRAFT_CODEGEN_CACHE",
      "GRAFT_FREE_CHECKPOINTS", "SPARK_GRAFT_AQE", "SPARK_GRAFT_PROF_PLAN",
      "GRAFT_GRAPH_STORAGE")
    val read = ("""(?:sys\.env|System\.getenv)[\w.]*\(\s*"(""" +
      knobs.mkString("|") + """)\w*"""").r
    val hits = for {
      (p, text) <- sources
      m <- read.findAllMatchIn(text)
    } yield s"$p: ${m.group(1)}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
