package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic scale-up of a TESTDATA-shaped directory.
  *
  * Produces an `sf * factor` dataset from an existing scale factor by
  * key-offset replication: every FACT table is unioned `factor` times with
  * its keys shifted by `copy * keySpan`, while the DIMENSION tables
  * (region, nation) stay fixed — the realistic growth shape (10x the
  * orders, the same 25 nations). Per-copy join relationships are preserved
  * exactly, so derived structures (the [[graft.tpch.TpchGraphAdapter]]
  * graph, the as-of event streams) grow linearly in edges WITHOUT
  * densifying any single key into an artificial hub: degree distributions
  * are copy-invariant, which is what makes the result a fair scaling
  * measurement rather than a skew stress test.
  *
  * Two tables need more than key offsets to avoid fabricating degenerate
  * duplicate structure:
  *
  *  - `documents`: copy 0 is verbatim (the driver's planted near-dup
  *    clusters survive untouched); copies i>0 cross-breed each doc's first
  *    half with a stride-rotated partner's second half. Any child shares
  *    at most ~half its shingles with either parent (Jaccard <= ~1/3),
  *    safely below near-dup thresholds — so the dedup gates see a corpus
  *    whose TRUE pair population stays put while the candidate-generation
  *    work scales with the corpus, the honest daily-ingest shape.
  *  - `embeddings`: copy i cyclically rotates the vector by i dims.
  *    Rotation preserves norms, per-copy cluster geometry, and the label
  *    marginal exactly, while decorrelating a vector from its own copies
  *    (for non-degenerate vectors cos(v, rot_i(v)) ~ 0) — no phantom
  *    10-cliques of cosine-1.0 twins.
  *
  * Usage: ScaleUp <srcDir> <outDir> [factor=10] [tables]
  * `tables` is an optional comma list restricting which tables are
  * written (e.g. `documents` for the sf30 text-family spot-checks, where
  * scaling 300x of lineitem nobody reads would only burn generation time).
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/repo/bench-data/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val tables = args.lift(3).map(_.split(",").toSet.filter(_.nonEmpty))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus.toInt, "scale-up")
    scaleDirectory(spark, src, out, factor, tables)
    spark.stop()
  }

  /** Scale every TESTDATA table (or the `only` subset) from `src` into
    * `out` by `factor`.
    */
  def scaleDirectory(spark: SparkSession, src: String, out: String,
      factor: Int, only: Option[Set[String]] = None): Unit = {
    def want(t: String): Boolean = only.forall(_.contains(t))
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: => DataFrame, t: String): Unit = if (want(t))
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    // dimensions: fixed
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    val nCust = spanOf(rd("customer"), "c_custkey")
    val nOrd = spanOf(rd("orders"), "o_orderkey")
    val nSupp = spanOf(rd("supplier"), "s_suppkey")
    val nPart = spanOf(rd("part"), "p_partkey")
    val nEv = spanOf(rd("events"), "event_id")
    val nUser = spanOf(rd("events"), "user_id")

    wr(replicate(rd("customer"), factor) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * nCust))
        .withColumn("c_name", nameFor(col("c_name"), i))
    }, "customer")

    wr(replicate(rd("supplier"), factor) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * nSupp))
        .withColumn("s_name", nameFor(col("s_name"), i))
    }, "supplier")

    wr(replicate(rd("part"), factor) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * nPart))
        .withColumn("p_name", nameFor(col("p_name"), i))
    }, "part")

    wr(replicate(rd("orders"), factor) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * nOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(i * nCust))
    }, "orders")

    wr(replicate(rd("lineitem"), factor) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * nOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(i * nPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * nSupp))
    }, "lineitem")

    wr(replicate(rd("events"), factor) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * nEv))
        .withColumn("user_id", col("user_id") + lit(i * nUser))
    }, "events")

    wr(scaleDocuments(rd("documents"), factor), "documents")
    wr(scaleEmbeddings(rd("embeddings"), factor), "embeddings")
  }

  /** Key span = max+1 (TESTDATA keys are dense 0-based); the offset stride
    * that keeps copies disjoint.
    */
  private def spanOf(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  /** Suffix copy i>0 onto a name column so derived FQNs/paths stay unique. */
  private def nameFor(name: org.apache.spark.sql.Column, i: Int) =
    if (i == 0) name else concat(name, lit(s"_c$i"))

  private def replicate(df: DataFrame, factor: Int)(
      shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(i => shift(df, i)).reduce(_ unionByName _)

  /** Copy 0 verbatim; copy i>0 cross-breeds doc j's first half with the
    * second half of doc (j + stride_i) mod n, stride_i = 1237*i (coprime
    * steps so partner graphs differ per copy).
    */
  def scaleDocuments(docs: DataFrame, factor: Int): DataFrame = {
    val n = spanOf(docs, "doc_id")
    val base = docs.select("doc_id", "text", "lang", "source")
    val halves = (1 until factor).map { i =>
      val left = base
        .withColumn("partner", (col("doc_id") + lit(1237L * i % n)) % lit(n))
        .withColumn("t1", expr("substring(text, 1, length(text) div 2)"))
        .select(col("doc_id"), col("partner"), col("t1"), col("lang"),
          col("source"))
      val right = base.select(col("doc_id").as("p_id"),
        expr("substring(text, length(text) div 2 + 1)").as("t2"))
      left.join(right, left("partner") === right("p_id"))
        .select(
          (col("doc_id") + lit(i * n)).as("doc_id"),
          concat(col("t1"), col("t2")).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    val copy0 = docs.select("doc_id", "text", "lang", "source", "n_chars")
    halves.foldLeft(copy0)(_ unionByName _)
  }

  /** Copy i rotates the embedding left by i dims (norm-, geometry- and
    * label-preserving; decorrelates copies from their originals).
    */
  def scaleEmbeddings(emb: DataFrame, factor: Int): DataFrame = {
    val n = spanOf(emb, "vec_id")
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    (0 until factor).map { i =>
      val rot = i % dims
      val rotated = if (rot == 0) col("embedding")
        else concat(
          slice(col("embedding"), rot + 1, dims - rot),
          slice(col("embedding"), 1, rot))
      emb.select(
        (col("vec_id") + lit(i * n)).as("vec_id"),
        rotated.as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
  }
}
