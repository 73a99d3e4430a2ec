package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted tokenizer artifact — the merge table a trained tokenizer IS.
  *
  * Production pipelines train a vocabulary once and ship it to every
  * encode job (and every retrain publishes a new one); the artifact
  * therefore needs the same store discipline as the other persisted
  * state: atomic overwrite (a crash mid-publish must leave the previous
  * vocabulary servable — [[StoreCompaction.swapIn]]'s two-rename swap)
  * and crash-window reads ([[StoreCompaction.read]]).
  *
  * One table, one atomic unit: (kind, min_pairs, round, pair, n_pairs,
  * score12) — the kind/params ride every row instead of a sibling meta
  * file so a single rename publishes parameters and merges together
  * (two files cannot swap atomically). BPE merges carry score12 = null.
  *
  * Scale: the table is rounds-sized (a production 32k-merge vocabulary is
  * 32k rows) — encode jobs broadcast it; nothing here touches corpus
  * scale.
  */
object TokenizerStore {

  val KindBpe = "bpe"
  val KindWordPiece = "wordpiece"
  val KindUnigram = "unigram"

  /** Publish a trained merge table (from [[graft.pipeline.TextAnalysis
    * .bpeMerges]] — (round, pair, n_pairs) — or [[graft.pipeline.WordPiece
    * .wordpieceMerges]] — (round, pair, n_pairs, score12)) at `dir`,
    * atomically replacing any previous artifact.
    */
  def save(spark: SparkSession, dir: String, merges: DataFrame,
           kind: String, minPairs: Long = 1L): TokenizerStore = {
    require(kind == KindBpe || kind == KindWordPiece, s"unknown kind: $kind")
    val withScore =
      if (merges.columns.contains("score12")) merges
      else merges.withColumn("score12", lit(null).cast("long"))
    val table = withScore.select(
      lit(kind).as("kind"), lit(minPairs).as("min_pairs"),
      col("round"), col("pair"), col("n_pairs"), col("score12"))
    StoreCompaction.swapIn(spark, s"$dir/merges", table)
    // drop any cached relation for the replaced path — a prior open()'s
    // .cache() would otherwise serve the pre-swap table to new readers
    spark.catalog.refreshByPath(s"$dir/merges")
    new TokenizerStore(dir, spark)
  }

  /** Publish a trained Unigram-LM vocabulary (from [[graft.pipeline
    * .Unigram.train]] — (phrase, plen, cnt)) at `dir`. The vocab rides
    * the one merge-table schema so the same two-rename swap publishes all
    * three tokenizer kinds: round←plen, pair←phrase, n_pairs←cnt (the
    * count IS the probability numerator; the denominator is the table
    * sum, recomputed at open — no float ever persisted).
    */
  def saveUnigram(spark: SparkSession, dir: String,
                  vocab: DataFrame): TokenizerStore = {
    val table = vocab.select(
      lit(KindUnigram).as("kind"), lit(1L).as("min_pairs"),
      col("plen").cast("int").as("round"), col("phrase").as("pair"),
      col("cnt").cast("long").as("n_pairs"),
      lit(null).cast("long").as("score12"))
    StoreCompaction.swapIn(spark, s"$dir/merges", table)
    spark.catalog.refreshByPath(s"$dir/merges")
    new TokenizerStore(dir, spark)
  }

  /** Open an existing artifact (crash-recovery resolution included). */
  def open(spark: SparkSession, dir: String): TokenizerStore =
    new TokenizerStore(dir, spark)
}

final class TokenizerStore(val dir: String, spark: SparkSession) {

  // registered, so the batch scope that read the store (or a path drain
  // over `dir`) reclaims the cache
  private lazy val table: DataFrame = graft.operators.TransientCache.cache(
    StoreCompaction.read(spark, s"$dir/merges"))

  /** The stored tokenizer family ([[TokenizerStore.KindBpe]] /
    * [[TokenizerStore.KindWordPiece]]); one distinct value by
    * construction (single-table atomic publish).
    */
  lazy val kind: String = table.select("kind").head().getString(0)

  lazy val minPairs: Long = table.select("min_pairs").head().getLong(0)

  /** The merge table in training order, shaped as the trainers return it. */
  def merges: DataFrame = {
    val base = table.select("round", "pair", "n_pairs", "score12")
      .orderBy("round")
    if (kind == TokenizerStore.KindBpe) base.drop("score12") else base
  }

  /** The stored Unigram vocabulary, shaped as [[graft.pipeline.Unigram
    * .train]] returns it.
    */
  def unigramVocab: DataFrame =
    table.select(col("pair").as("phrase"), col("round").as("plen"),
      col("n_pairs").as("cnt"))

  /** Encode a corpus with the stored vocabulary, dispatching to the
    * family's encode semantics: BPE rank-ordered merge replay, WordPiece
    * greedy longest-match, Unigram Viterbi. Output column is the
    * family's (`n_tokens_bpe` / `n_tokens_wp` / `n_tokens_uni`).
    */
  def encode(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    kind match {
      case TokenizerStore.KindBpe =>
        graft.pipeline.TextAnalysis.bpeEncodeWith(docs, idCol, textCol, merges)
      case TokenizerStore.KindWordPiece =>
        graft.pipeline.WordPiece.wordpieceEncode(docs, idCol, textCol, merges)
      case TokenizerStore.KindUnigram =>
        graft.pipeline.Unigram.encode(docs, idCol, textCol, unigramVocab)
    }
}
