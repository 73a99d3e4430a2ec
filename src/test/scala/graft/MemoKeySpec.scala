package graft

import java.nio.file.Files

/** The session training memos (unigram vocabulary, IVF centroids, PQ
  * codebooks) key on the source data, not only on its directory: data
  * regenerated under the same directory trains afresh.
  */
class MemoKeySpec extends SparkSpec {
  import spark.implicits._

  test("a memo trains again after its source parquet is rewritten") {
    val d = Files.createTempDirectory("graft-memo").toString
    def write(n: Int): Unit =
      (1 to n).map(i => (i.toLong, Seq(i.toDouble, 1.0))).toDF("vec_id",
        "embedding").write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    var trained = 0
    def train(): Seq[(Int, Seq[Double])] = {
      trained += 1
      Seq((0, Seq(trained.toDouble)))
    }
    write(3)
    val first = SparkEntry.ivfCentroidsFor(spark, d, "spec", train())
    assert(SparkEntry.ivfCentroidsFor(spark, d, "spec", train()) == first)
    assert(trained == 1, "unchanged data is served from the memo")
    write(5)
    val second = SparkEntry.ivfCentroidsFor(spark, d, "spec", train())
    assert(trained == 2, "rewritten data trains again")
    assert(second != first)
  }
}
