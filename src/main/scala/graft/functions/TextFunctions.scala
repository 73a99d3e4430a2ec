package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives shared by the dedup / text-analysis /
  * similarity operators (BASELINE.json north-star set).
  *
  * Everything here is pure `org.apache.spark.sql.functions` composition —
  * codegen'd, no UDFs — and every hash is an explicit polynomial fold so the
  * identical computation is expressible in the DuckDB oracle (and in any
  * other engine): determinism across engines is part of the operator
  * contract, so builtin hashes (xxhash64, murmur) are deliberately avoided.
  */
object TextFunctions {

  /** Modulus for all polynomial hashes: fits products in 63 bits. */
  val HashMod = 1000000007L

  /** lowercase + non-alphanumerics → space. Keep in lockstep with the oracle:
    * regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g') → lower.
    */
  def normText(c: Column): Column = lower(regexp_replace(c, "[^a-zA-Z0-9 ]", " "))

  /** whitespace tokens of the normalized text, empties dropped. */
  def tokens(c: Column): Column =
    filter(split(normText(c), " +"), t => length(t) > 0)

  /** Polynomial char fold: foldl (acc*31 + codepoint) % HashMod over the
    * string's characters. ASCII-safe cross-engine (ascii() == unicode()).
    */
  def charFold(c: Column): Column = charFold(c, 31L)

  def charFold(c: Column, mult: Long): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) => // codegen'd native expression (fast path)
        VectorExpressions.register(s)
        VectorExpressions.charFold(c, mult)
      case None => // interpreted fallback, same fold
        aggregate(
          transform(filter(split(c, ""), ch => length(ch) > 0),
            ch => ascii(ch).cast("long")),
          lit(0L), (acc, x) => (acc * mult + x) % HashMod)
    }

  /** Word n-gram shingles (space-joined), empty array when too short. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Distinct shingle strings of a text column. */
  def shingleSet(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) => // one-pass native builder (fast path)
        VectorExpressions.register(s)
        VectorExpressions.shingleSet(text, n)
      case None => array_distinct(shingles(tokens(text), n))
    }

  /** Every shingle of a text column in order, duplicates kept. */
  def shingleList(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) => // one-pass native builder (fast path)
        VectorExpressions.register(s)
        VectorExpressions.shingleList(text, n)
      case None => shingles(tokens(text), n)
    }

  // --- MinHash family ------------------------------------------------------
  /** Deterministic hash-family coefficients (fixed LCG-style constants, no
    * runtime randomness): h_i(x) = (a_i * x + b_i) % HashMod with x < HashMod
    * so products stay within 63 bits.
    */
  def coeffA(i: Int): Long = ((2654435761L % HashMod) * (2L * i + 1)) % HashMod
  def coeffB(i: Int): Long = (1779033703L * (i + 1)) % HashMod

  /** Whole MinHash signature of a shingle array in one map-side pass
    * ([[VectorExpressions.MinHashSig]] — a generated LOOP over slots, so it
    * cannot trip the 64KB codegen limit the way a `numHashes`-slot
    * expression tree does). coeffA/coeffB are the single source of the
    * hash family; the sessionless fallback replays them as an (interpreted)
    * per-slot expression tree.
    */
  def minhashSig(arr: Column, numHashes: Int): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        VectorExpressions.register(s)
        VectorExpressions.minHashSig(arr, numHashes)
      case None =>
        array((0 until numHashes).map { i =>
          array_min(transform(arr, s =>
            (lit(coeffA(i)) * charFold(s) + lit(coeffB(i))) % HashMod))
        }: _*)
    }

  /** LSH band keys: split the signature into `bands` bands of
    * `signatureLen / bands` rows each; key = comma-joined slice.
    */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => concat_ws(",", slice(signature, j * rowsPerBand + 1, lit(rowsPerBand))))

  // --- SimHash -------------------------------------------------------------
  /** Number of simhash bits: token hashes are < 2^30 (mod 1e9+7), so only the
    * low 30 bits carry signal.
    */
  val SimHashBits = 30
}
