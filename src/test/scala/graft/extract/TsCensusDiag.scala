package graft.extract

/** Diagnostic dump (not a test): prints the TypeScript extractor's
  * definitions and imports for every file of the TS fixture tree
  * (src/test/resources/fixtures/typescript/test-repo), for checking it
  * against the hand-annotated census. Run with
  * `sbt "Test/runMain graft.extract.TsCensusDiag"`.
  */
object TsCensusDiag {
  def main(args: Array[String]): Unit = {
    val root = graft.TestFixtures.root("typescript/test-repo")
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(root)
    try {
      for (p <- s.iterator().asScala.toSeq.sortBy(_.toString)
           if p.toString.endsWith(".ts")) {
        val rel = root.relativize(p).toString
        val content = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val f = SourceFile(rel, p.toString, "tsfix",
          p.getFileName.toString, "ts", "typescript", content)
        val ex = Extractors.extract(f)
        println(s"=== $rel (${ex.definitions.length} defs)")
        ex.definitions.foreach(d => println(s"  DEF ${d.definitionType}\t${d.fqn}"))
        ex.imports.foreach(i => println(s"  IMP ${i.importType}\t${i.importPath}\t${i.name}\t${i.alias}"))
      }
    } finally s.close()
  }
}
