package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** WordPiece-style tokenizer family (Schuster & Nakajima 2012; the BERT
  * tokenizer) at word-level symbols — the second tokenizer family next to
  * [[TextAnalysis.bpeMerges]]'s BPE, differing in BOTH halves:
  *
  *  - TRAINING picks the merge maximizing the likelihood ratio
  *    count(a,b) / (count(a) · count(b)) — "merge what co-occurs more than
  *    chance" — where BPE maximizes the raw pair count. Frequent pairs of
  *    independently-frequent symbols (the, of) win BPE rounds but lose
  *    WordPiece rounds to tightly-bound collocations.
  *  - ENCODING is greedy longest-match against the learned phrase
  *    vocabulary (BERT's WordPiece tokenizer), not rank-ordered merge
  *    replay (GPT's BPE encode): one left-to-right scan per document,
  *    emitting the longest vocabulary phrase starting at each position.
  *
  * Scores are EXACT scaled-integer division — score12 = ⌊n_pair · 10¹² /
  * (n_a · n_b)⌋, the [[TextAnalysis.topCollocations]] discipline — so
  * argmax and tie order (score desc, pair asc) are bit-identical in any
  * engine; since n_a ≥ n_pair and n_b ≥ n_pair, score12 ≤ 10¹² always
  * fits a Long (intermediates use BigInt).
  *
  * Scale shape mirrors BPE's: the corpus folds ONCE into a distinct
  * `(sequence, weight)` table; under `driverMaxDistinctSeqs` the merge
  * loop runs driver-side with incrementally-maintained pair AND symbol
  * counts (a round costs the merged pair's occurrences plus a score
  * refresh of the pairs adjacent to the two merged symbols — WordPiece
  * scores, unlike BPE counts, change when a DENOMINATOR symbol count
  * changes, so the lazy max-heap gets fresh entries for exactly those
  * pairs); above it, per-round distributed recounts with a 1-row argmax.
  */
object WordPiece {

  private val Scale = BigInt("1000000000000") // 10^12

  /** ⌊n·10¹²/(na·nb)⌋ — exact, order-stable in every engine. */
  private[pipeline] def score12(n: Long, na: Long, nb: Long): Long =
    ((BigInt(n) * Scale) / (BigInt(na) * BigInt(nb))).toLong

  /** Learn `rounds` WordPiece merges over word-level symbols. Returns
    * (round, pair, n_pairs, score12). Unlike [[TextAnalysis.bpeMerges]],
    * SINGLE-token documents participate: they contribute no pairs but do
    * feed the unigram denominators, which move every score.
    *
    * `minPairs` is the standard trainer min-frequency floor: a pair seen
    * fewer times is never a merge candidate. Without it the ratio score
    * degenerates to chaining one-off rare-word bigrams (n=1 over tiny
    * denominators ≈ the maximum possible score) — real trainers always
    * threshold. Dropping a below-floor pair is permanent-safe: an existing
    * pair's count can only DECREASE after the round that created its
    * newest symbol, so a pair under the floor never climbs back over it.
    */
  def wordpieceMerges(docs: DataFrame, textCol: String, rounds: Int = 6,
                      minPairs: Long = 1L,
                      driverMaxDistinctSeqs: Long = 2L << 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val weightedPlan = docs
      .select(tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 1)
      .groupBy("toks").agg(count(lit(1)).as("w"))
      .as[(Seq[String], Long)]
    val merges = graft.operators.BoundedCollect(weightedPlan,
        driverMaxDistinctSeqs) match {
      case Left(rows) => trainWordPieceDriver(
        rows.map { case (s, w) => (s.toArray, w) }, rounds, minPairs)
      case Right(plan) =>
        val weighted = plan
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try wordpieceMergesDistributed(weighted, rounds, minPairs)
        finally { weighted.unpersist(); () }
    }
    merges.toDF("round", "pair", "n_pairs", "score12")
  }

  /** Driver-side WordPiece induction: the BPE driver loop
    * ([[TextAnalysis.trainBpeDriver]]) extended with symbol counts.
    * Pair counts are maintained by merge-site-local deltas exactly as in
    * BPE; symbol counts change only for the two merged symbols and their
    * output (batched per round). Every pair-count change pushes a fresh
    * heap entry, and — the WordPiece-specific step — after a round's
    * symbol counts settle, every pair ADJACENT to a changed symbol is
    * re-pushed with its refreshed score: a denominator drop RAISES a
    * score, which a discard-stale-on-pop heap alone would bury. Entries
    * snapshot (n, na, nb); pops that disagree with any live value are
    * discarded.
    */
  private[pipeline] def trainWordPieceDriver(
      seqs: Array[(Array[String], Long)],
      rounds: Int, minPairs: Long = 1L): Seq[(Int, String, Long, Long)] = {
    val names = new scala.collection.mutable.ArrayBuffer[String]()
    val ids = new java.util.HashMap[String, Integer]()
    def intern(s: String): Int = {
      val got = ids.get(s)
      if (got != null) got.intValue
      else { names += s; ids.put(s, names.length - 1); names.length - 1 }
    }
    def pk(a: Int, b: Int): Long = (a.toLong << 32) | (b.toLong & 0xffffffffL)
    val cur: Array[Array[Int]] = seqs.map(_._1.map(intern))
    val w = seqs.map(_._2)
    val counts = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    val symCount = new java.util.HashMap[Integer, java.lang.Long]()
    val index =
      new java.util.HashMap[java.lang.Long, java.util.ArrayList[Integer]]()
    val pairsBySym =
      new java.util.HashMap[Integer, java.util.HashSet[java.lang.Long]]()
    def liveSym(s: Int): Long = {
      val v = symCount.get(s); if (v == null) 0L else v.longValue
    }
    // heap entry: (pairKey, nSnap, naSnap, nbSnap, scoreSnap)
    type Entry = (Long, Long, Long, Long, Long)
    val heap = new java.util.PriorityQueue[Entry](
      11, new java.util.Comparator[Entry] {
        def compare(x: Entry, y: Entry): Int = {
          val c = java.lang.Long.compare(y._5, x._5) // score desc
          if (c != 0) return c
          val c1 = names((x._1 >>> 32).toInt).compareTo(
            names((y._1 >>> 32).toInt))
          if (c1 != 0) c1
          else names(x._1.toInt).compareTo(names(y._1.toInt))
        }
      })
    def push(key: Long): Unit = {
      val n = counts.get(key)
      if (n != null && n.longValue > 0) {
        val a = (key >>> 32).toInt; val b = key.toInt
        val na = liveSym(a); val nb = liveSym(b)
        if (na > 0 && nb > 0)
          heap.offer((key, n.longValue, na, nb, score12(n.longValue, na, nb)))
        ()
      }
    }
    def bump(key: Long, delta: Long, seqIdx: Int): Unit = {
      val nv = counts.merge(key, delta, (a, b) => a + b)
      if (nv == 0L) { counts.remove(key); () } else push(key)
      if (delta > 0 && seqIdx >= 0) {
        val lst = index.computeIfAbsent(key,
          _ => new java.util.ArrayList[Integer]())
        if (lst.isEmpty || lst.get(lst.size - 1).intValue != seqIdx)
          lst.add(seqIdx)
        val a = Integer.valueOf((key >>> 32).toInt)
        val b = Integer.valueOf(key.toInt)
        pairsBySym.computeIfAbsent(a, _ => new java.util.HashSet).add(key)
        pairsBySym.computeIfAbsent(b, _ => new java.util.HashSet).add(key)
        ()
      }
    }
    // initial census: symbols over ALL sequences (len-1 ones included),
    // pairs over adjacencies
    var i = 0
    while (i < cur.length) {
      val arr = cur(i); var j = 0
      while (j < arr.length) {
        symCount.merge(arr(j), w(i), (a, b) => a + b); j += 1
      }
      j = 0
      while (j + 1 < arr.length) { bump(pk(arr(j), arr(j + 1)), w(i), i); j += 1 }
      i += 1
    }
    // scores need the full symbol census, so heap entries pushed during
    // the pair census above may carry partial denominators: rebuild
    heap.clear()
    val it0 = counts.keySet().iterator()
    while (it0.hasNext) push(it0.next().longValue)

    /** Merge (a,b)→ab over sequence si (exhaustive left-to-right
      * non-overlapping), with BPE's site-local pair-count deltas. Returns
      * the number of merge sites (for the batched symbol deltas).
      */
    def mergeSeq(si: Int, a: Int, b: Int, ab: Int): Long = {
      val arr = cur(si); val ws = w(si); val len = arr.length
      var j = 0; var found = false
      while (!found && j + 1 < len) {
        if (arr(j) == a && arr(j + 1) == b) found = true else j += 1
      }
      if (!found) return 0L
      val out = new scala.collection.mutable.ArrayBuffer[Int](len - 1)
      var sites = 0L
      j = 0
      var prevSiteEnd = -1
      var justMerged = false
      while (j < len) {
        if (j + 1 < len && arr(j) == a && arr(j + 1) == b) {
          bump(pk(a, b), -ws, -1)
          if (j > 0 && prevSiteEnd != j) bump(pk(arr(j - 1), a), -ws, -1)
          if (j + 2 < len) bump(pk(b, arr(j + 2)), -ws, -1)
          if (out.nonEmpty) bump(pk(out(out.length - 1), ab), ws, si)
          out += ab
          sites += 1
          prevSiteEnd = j + 2
          justMerged = true
          j += 2
        } else {
          if (justMerged) { bump(pk(ab, arr(j)), ws, si); justMerged = false }
          out += arr(j)
          j += 1
        }
      }
      cur(si) = out.toArray
      sites
    }
    val merges =
      scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long)]()
    var k = 1
    var exhausted = counts.isEmpty
    while (k <= rounds && !exhausted) {
      var top: Entry = null
      while (top == null && !heap.isEmpty) {
        val cand = heap.poll()
        val live = counts.get(cand._1)
        // below-floor entries are discarded permanently (safe: counts of
        // existing pairs only decrease — see the wordpieceMerges scaladoc)
        if (live != null && live.longValue == cand._2 &&
            cand._2 >= minPairs &&
            liveSym((cand._1 >>> 32).toInt) == cand._3 &&
            liveSym(cand._1.toInt) == cand._4) top = cand
      }
      if (top == null) exhausted = true
      else {
        val key = top._1
        val (a, b) = ((key >>> 32).toInt, key.toInt)
        merges += ((k, names(a) + " " + names(b), top._2, top._5))
        val ab = intern(names(a) + "_" + names(b))
        var mergedOcc = 0L
        val affected = index.remove(key)
        if (affected != null) {
          var x = 0
          while (x < affected.size) {
            val si = affected.get(x).intValue()
            mergedOcc += mergeSeq(si, a, b, ab) * w(si)
            x += 1
          }
        }
        // batched symbol deltas: each site consumes one a and one b
        // (two a's when a==b) and produces one ab
        if (a == b) symCount.merge(a, -2 * mergedOcc, (x, y) => x + y)
        else {
          symCount.merge(a, -mergedOcc, (x, y) => x + y)
          symCount.merge(b, -mergedOcc, (x, y) => x + y)
        }
        symCount.merge(ab, mergedOcc, (x, y) => x + y)
        Seq(a, b, ab).foreach { s =>
          if (liveSym(s) == 0L) symCount.remove(s)
        }
        // denominator changes re-score every pair adjacent to a, b, ab
        Seq(a, b, ab).distinct.foreach { s =>
          val ps = pairsBySym.get(s)
          if (ps != null) {
            val it = ps.iterator()
            while (it.hasNext) {
              val pkey = it.next().longValue
              if (counts.containsKey(pkey)) push(pkey) else it.remove()
            }
          }
        }
        k += 1
      }
    }
    merges.toSeq
  }

  /** Distributed WordPiece rounds over the weight table — the
    * above-driver-bound fallback. Each round: one mapPartitions pair
    * census + one symbol census (both shuffle-bounded by vocabulary, not
    * corpus), an exact-integer score join, a 1-row argmax. The score UDF
    * runs on the pair-vocabulary table only, never the corpus.
    */
  private[pipeline] def wordpieceMergesDistributed(
      weighted: org.apache.spark.sql.Dataset[(Seq[String], Long)],
      rounds: Int, minPairs: Long = 1L): Seq[(Int, String, Long, Long)] = {
    val spark = weighted.sparkSession
    import spark.implicits._
    def cache(ds: org.apache.spark.sql.Dataset[(Seq[String], Long)]) =
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scoreUdf = udf((n: Long, na: Long, nb: Long) => score12(n, na, nb))
    var base = weighted
    var owned = false
    val merges =
      scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long)]()
    val pending = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var k = 1
    var exhausted = false
    try {
      while (k <= rounds && !exhausted) {
        val bc = spark.sparkContext.broadcast(pending.toArray)
        val censused = base.mapPartitions { it =>
          val ms = bc.value
          val pairs = new java.util.HashMap[String, Long]()
          val syms = new java.util.HashMap[String, Long]()
          it.foreach { case (ts, n) =>
            val arr = TextAnalysis.applyMergesInOrder(ts.toArray, ms)
            var i = 0
            while (i < arr.length) {
              syms.merge(arr(i), n, (a, b) => a + b)
              if (i + 1 < arr.length)
                pairs.merge(arr(i) + " " + arr(i + 1), n, (a, b) => a + b)
              i += 1
            }
          }
          import scala.jdk.CollectionConverters._
          pairs.entrySet().iterator().asScala
            .map(e => ("p", e.getKey, e.getValue)) ++
            syms.entrySet().iterator().asScala
              .map(e => ("s", e.getKey, e.getValue))
        }.toDF("kind", "key", "n").groupBy("kind", "key")
          .agg(sum("n").as("n")).cache()
        val pairDf = censused.where(col("kind") === "p")
          .select(col("key").as("pair"), col("n"),
            split(col("key"), " ", 2).getItem(0).as("a"),
            split(col("key"), " ", 2).getItem(1).as("b"))
        val symDf = censused.where(col("kind") === "s")
          .select(col("key").as("s"), col("n").as("c"))
        val top = pairDf
          .where(col("n") >= minPairs)
          .join(symDf.withColumnRenamed("s", "a")
            .withColumnRenamed("c", "ca"), "a")
          .join(symDf.withColumnRenamed("s", "b")
            .withColumnRenamed("c", "cb"), "b")
          .withColumn("score12", scoreUdf(col("n"), col("ca"), col("cb")))
          .orderBy(col("score12").desc, col("pair")).limit(1).collect()
        censused.unpersist()
        if (top.isEmpty) exhausted = true
        else {
          val r = top(0)
          val pair = r.getAs[String]("pair")
          merges += ((k, pair, r.getAs[Long]("n"), r.getAs[Long]("score12")))
          val Array(a, b) = pair.split(" ", 2)
          pending += ((a, b))
          if (pending.length >= TextAnalysis.BpeRematerializeEvery) {
            val bcm = spark.sparkContext.broadcast(pending.toArray)
            val next = cache(base.mapPartitions { it =>
              val ms = bcm.value
              it.map { case (ts, n) =>
                (TextAnalysis.applyMergesInOrder(ts.toArray, ms).toSeq, n) }
            })
            next.count()
            if (owned) base.unpersist()
            base = next
            owned = true
            pending.clear()
          }
          k += 1
        }
      }
    } finally if (owned) { base.unpersist(); () }
    merges.toSeq
  }

  /** Greedy longest-match encode (the BERT WordPiece tokenizer shape, at
    * word level): one left-to-right scan per document emitting, at each
    * position, the LONGEST learned phrase starting there (single words
    * pass through). Consumes a PRECOMPUTED merge table from
    * [[wordpieceMerges]]; the vocabulary is its merge outputs as word
    * sequences — broadcast (≤ rounds entries), applied map-side, nothing
    * shuffled. Returns (doc_id, n_tokens_raw, n_tokens_wp).
    */
  def wordpieceEncode(docs: DataFrame, idCol: String, textCol: String,
                      merges: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // phrase vocabulary: each merge output as its word sequence; a merge
    // of merged symbols flattens ("a_b" + "c" -> phrase a b c)
    val vocab: Set[List[String]] = merges.select("pair").as[String].collect()
      .map(p => p.replace(' ', '_').split('_').toList).toSet
    val maxLen = if (vocab.isEmpty) 1 else vocab.iterator.map(_.length).max
    val bcVocab = spark.sparkContext.broadcast(vocab)
    val bcMax = spark.sparkContext.broadcast(maxLen)
    val encodeLen = udf { toks: Seq[String] =>
      val v = bcVocab.value; val lmax = bcMax.value
      val arr = toks.toIndexedSeq
      var i = 0; var n = 0L
      while (i < arr.length) {
        var step = math.min(lmax, arr.length - i)
        while (step > 1 && !v.contains(arr.slice(i, i + step).toList))
          step -= 1
        i += step; n += 1
      }
      n
    }
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens_raw"),
        encodeLen(col("toks")).as("n_tokens_wp"))
  }
}
