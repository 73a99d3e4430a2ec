package graft.extract

import java.nio.file.Paths
import org.apache.spark.sql.functions._
import graft.analyze.Indexer
import graft.model.RelType

/** Diagnostic twin of [[ExtractorFidelitySpec]]: prints EVERY call-edge
  * disagreement between the heuristic extractor and the scalac ground truth
  * (missing = truth-only, extra = heuristic-only) so extractor fixes target
  * real patterns instead of guesses. Test scope; not part of the suite.
  *
  * Run: sbt "Test/runMain graft.extract.FidelityDiag"
  */
object FidelityDiag {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(8, "fidelity-diag")
    try {
      import spark.implicits._
      val corpus = Paths.get("src")
      val heuristic = Indexer.indexDirectory(spark, corpus.toString, "diag")
      val (metas, defs, imps, refs) = ScalacGroundTruth.parseDir(corpus)
      val truth = Indexer.fromParsed(spark,
        metas.toDF(), defs.toDF(), imps.toDF(), refs.toDF())

      // Scala definitions only, as in ExtractorFidelitySpec
      def callPairs(store: graft.store.GraphStore): Set[(String, String)] = {
        val d = store.definitions
          .where(col("primary_file_path").endsWith(".scala"))
          .select(col("id"), col("fqn"))
        store.edges.where(col("type").isin(RelType.callTypes: _*) &&
            col("kind") === graft.model.EdgeKind.DefToDef)
          .join(d.select(col("id").as("sid"), col("fqn").as("src")),
            col("source_id") === col("sid"))
          .join(d.select(col("id").as("tid"), col("fqn").as("dst")),
            col("target_id") === col("tid"))
          .select("src", "dst").distinct()
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
      }
      val hDefs = heuristic.definitions
        .where(col("primary_file_path").endsWith(".scala"))
        .select("fqn").collect().map(_.getString(0)).toSet
      val tDefs = truth.definitions.select("fqn").collect()
        .map(_.getString(0)).toSet
      (tDefs -- hDefs).toSeq.sorted.foreach(f => println(s"DEFMISS $f"))
      (hDefs -- tDefs).toSeq.sorted.foreach(f => println(s"DEFXTRA $f"))
      val hCalls = callPairs(heuristic)
      val tCalls = callPairs(truth)
      println(s"DIAG truth=${tCalls.size} heuristic=${hCalls.size} " +
        s"common=${(hCalls & tCalls).size}")
      (tCalls -- hCalls).toSeq.sorted.foreach { case (s, d) =>
        println(s"MISSING $s -> $d")
      }
      (hCalls -- tCalls).toSeq.sorted.foreach { case (s, d) =>
        println(s"EXTRA   $s -> $d")
      }
    } finally spark.stop()
  }
}
