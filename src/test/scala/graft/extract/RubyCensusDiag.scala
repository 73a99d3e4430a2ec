package graft.extract

/** Diagnostic dump (not a test): prints the Ruby extractor's definitions
  * for every file of the ruby-references fixture tree
  * (src/test/resources/fixtures/ruby-references), for checking it against
  * the hand-annotated census. Run with
  * `sbt "Test/runMain graft.extract.RubyCensusDiag"`.
  */
object RubyCensusDiag {
  def main(args: Array[String]): Unit = {
    val root = graft.TestFixtures.root("ruby-references")
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(root)
    try {
      for (p <- s.iterator().asScala.toSeq.sortBy(_.toString)
           if p.toString.endsWith(".rb")) {
        val rel = root.relativize(p).toString
        val content = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val f = SourceFile(rel, p.toString, "rbfix",
          p.getFileName.toString, "rb", "ruby", content)
        val ex = Extractors.extract(f)
        println(s"=== $rel (${ex.definitions.length} defs)")
        ex.definitions.foreach(d => println(s"  DEF ${d.definitionType}\t${d.fqn}"))
      }
    } finally s.close()
  }
}
