package graft.serve

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the serving index: [[graft.query.QueryLibrary]] stays an
  * independent path (it is the specification the index is checked against,
  * and the reference the product benchmark checks every served reply with),
  * only [[ServedStore]] builds a [[ServingIndex]], and the size bound is a
  * constant rather than a knob read from the environment.
  */
class ServingSourceSpec extends AnyFunSuite {

  private def sources: Seq[(Path, String)] =
    Seq("src/main", "src/test").flatMap { root =>
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }.map(p => p -> Files.readString(p))

  private def name(p: Path) = p.getFileName.toString

  test("QueryLibrary does not reference the serving index") {
    val lib = sources.collect { case (p, t) if name(p) == "QueryLibrary.scala" => t }
    assert(lib.size == 1)
    assert(!lib.head.contains("ServingIndex"))
  }

  test("only ServedStore builds a ServingIndex") {
    val build = """ServingIndex\s*\.\s*build\s*\(""".r
    val ctor = """new\s+ServingIndex\b""".r
    val builders = sources.collect {
      case (p, t) if build.findFirstIn(t).isDefined => name(p)
    }
    val constructors = sources.collect {
      case (p, t) if ctor.findFirstIn(t).isDefined => name(p)
    }
    assert(builders == Seq("ServedStore.scala"), builders.mkString(", "))
    assert(constructors == Seq("ServingIndex.scala"), constructors.mkString(", "))
  }

  test("no environment key beyond the existing ones is read") {
    val known = Set("GRAFT_JWT_SECRET_FILE", "GRAFT_MCP_ROOT",
      "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRAIN",
      "SPARK_GRAFT_PROF_REPS", "SPARK_GRAFT_RUNS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_WARM", "SPARK_GRAFT_WARM_GRAPH")
    val read = """(?:sys\.env|System\.getenv)[\w.]*(\(\s*"(\w+)")?""".r
    val hits = for {
      (p, text) <- sources
      m <- read.findAllMatchIn(text)
      key = Option(m.group(2))
      if !key.exists(known)
    } yield s"$p: ${key.getOrElse(s"a key that is not a literal: ${m.matched}")}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
