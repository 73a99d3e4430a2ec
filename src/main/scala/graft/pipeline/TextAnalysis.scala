package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorExpressions

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword-hit heuristic), quality scoring, token counting, document
  * fingerprinting. All codegen'd column expressions — no UDFs — and each is
  * replayable in SQL for the oracle.
  */
object TextAnalysis {

  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "mit", "von"),
    "fr" -> Seq("le", "la", "les", "des", "et", "du", "est"),
    "zh" -> Seq())

  /** Language-ID: distinct-token intersection with per-language stopword
    * sets; argmax with deterministic tie order en>es>de>fr; 'und' when no
    * stopword hits at all. (CJK detection would key on codepoint ranges; the
    * testdata is ASCII.)
    */
  def langIdScores(text: Column): Map[String, Column] = {
    val toks = array_distinct(tokens(text))
    Seq("en", "es", "de", "fr").map { l =>
      l -> size(array_intersect(toks, array(stopwords(l).map(lit): _*)))
    }.toMap
  }

  def langId(text: Column): Column = {
    val s = langIdScores(text)
    when(s("en") >= s("es") && s("en") >= s("de") && s("en") >= s("fr") && s("en") > 0, "en")
      .when(s("es") >= s("de") && s("es") >= s("fr") && s("es") > 0, "es")
      .when(s("de") >= s("fr") && s("de") > 0, "de")
      .when(s("fr") > 0, "fr")
      .otherwise("und")
  }

  /** Quality features + composite score. All ratios are exact integer
    * divisions in double; the composite is a fixed-order weighted sum so the
    * oracle reproduces it bit-for-bit.
    */
  def withQuality(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    // Raw features land in their OWN projection, so every expensive
    // expression (the regexp replaces, the tokenization) is an attribute
    // by the time the null-guarded ratios reference it. Feeding them to
    // the ratios as full expressions nested inside nullif's If puts them
    // in CONDITIONAL branches, which whole-stage codegen's common-
    // subexpression elimination does not hoist — measured as a 2.0×
    // same-session regression on this exact face (SCALE.md round 11);
    // attribute references cost nothing to repeat.
    val raw = docs
      .withColumn("n_chars", length(t))
      .withColumn("n_tokens", size(toks))
      .withColumn("q_alpha",
        length(regexp_replace(t, "[^a-zA-Z]", "")).cast("double"))
      .withColumn("q_punct",
        length(regexp_replace(t, "[a-zA-Z0-9 ]", "")).cast("double"))
      .withColumn("q_stop", size(filter(toks,
        x => array_contains(array(stopwords("en").map(lit): _*), x)))
        .cast("double"))
    // null denominators instead of zero: empty/token-less documents (legal
    // after an upstream line scrub) get null ratios and a null score —
    // which every downstream `>= threshold` filter drops — rather than a
    // divide-by-zero NaN leaking into score arithmetic
    val nChars = nullif(col("n_chars").cast("double"), lit(0.0))
    val nToks = nullif(col("n_tokens").cast("double"), lit(0.0))
    raw
      .withColumn("alpha_ratio", round(col("q_alpha") / nChars, 4))
      .withColumn("punct_ratio", round(col("q_punct") / nChars, 4))
      .withColumn("stopword_ratio", round(col("q_stop") / nToks, 4))
      .withColumn("quality_score",
        round(lit(0.4) * (col("q_alpha") / nChars) +
          lit(0.3) * (col("q_stop") / nToks) +
          lit(0.3) * least(lit(1.0), nToks / lit(100.0)), 4))
      .drop("q_alpha", "q_punct", "q_stop")
  }

  /** Token counting: whitespace tokens, BPE-ish regex tokens
    * (letter runs | digit runs | single punctuation), and the chars/4
    * heuristic estimate.
    */
  def withTokenCounts(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_ws_tokens", size(tokens(t)))
      .withColumn("n_bpe_tokens",
        size(regexp_extract_all(t, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))))
      .withColumn("est_tokens",
        floor((length(t) + lit(3)).cast("double") / lit(4.0)).cast("long"))
  }

  /** Document fingerprint: polynomial rolling hash of the normalized text. */
  def fingerprint(text: Column): Column = charFold(normText(text))

  /** Gopher-style document-level rule filters (Rae et al. 2021, appendix
    * A1.1): word-count bounds, mean-word-length band, symbol-to-word ratio,
    * alphabetic-word fraction, and a minimum stopword presence, plus the
    * composite keep/drop verdict. Everything is map-side column math over
    * the tokenization the rest of the pipeline shares — no shuffle, no UDF;
    * mean word length avoids a per-token aggregate entirely (total word
    * chars = normalized text minus its spaces).
    */
  def withGopherRules(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    // same hoist discipline as withQuality: raw features become
    // attributes BEFORE the null-guarded ratios reference them, keeping
    // the expensive expressions out of nullif's conditional branches
    // (where codegen CSE cannot reach — the measured 1.45× regression)
    val raw = docs
      .withColumn("n_words", size(toks))
      .withColumn("g_wchars",
        length(regexp_replace(normText(t), " ", "")).cast("double"))
      .withColumn("stop_hits", size(array_intersect(array_distinct(toks),
        array(stopwords("en").map(lit): _*))))
      .withColumn("g_sym",
        size(regexp_extract_all(t, lit("#|\\.\\.\\."), lit(0))))
      .withColumn("g_alphaw",
        size(filter(toks, x => x.rlike("[a-z]"))).cast("double"))
    // null denominator for word-less documents (legal after a line
    // scrub): null ratios + keep=false, never a NaN verdict
    val nWords = nullif(col("n_words").cast("double"), lit(0.0))
    raw
      .withColumn("mean_wlen", round(col("g_wchars") / nWords, 4))
      .withColumn("symbol_ratio", round(col("g_sym") / nWords, 4))
      .withColumn("alpha_frac", round(col("g_alphaw") / nWords, 4))
      .withColumn("keep", coalesce(
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_wlen") >= 3.0 && col("mean_wlen") <= 10.0 &&
          col("symbol_ratio") < 0.1 && col("alpha_frac") > 0.8 &&
          col("stop_hits") >= 2, lit(false)))
      .drop("g_wchars", "g_sym", "g_alphaw")
  }

  /** Gopher-style intra-document repetition signals (Rae et al. 2021,
    * "Scaling Language Models", appendix A1.1): the most-frequent word
    * 2-gram's share of all 2-gram occurrences, and the duplicate share of
    * word-3-gram occurrences, plus the keep/drop verdict at the given
    * thresholds. Entirely map-side — the per-document gram statistics come
    * from the native one-pass [[graft.functions.NgramStats]] expression
    * (struct(total, distinct, max_freq)), so no explode→groupBy shuffle
    * exists anywhere — per-document work at any corpus scale. (A first cut
    * computed max frequency as an interpreted array-aggregate run-length
    * scan over the sorted gram array: correct, but Spark evaluates
    * higher-order lambdas interpreted per element — 30 ms/doc.)
    */
  def withRepetition(docs: DataFrame, textCol: String,
      topFracMax: Double = 0.20, dupFracMax: Double = 0.50): DataFrame = {
    def stats(n: Int): Column =
      org.apache.spark.sql.SparkSession.getActiveSession match {
        case Some(s) => // native one-pass stats (fast path)
          VectorExpressions.register(s)
          VectorExpressions.ngramStats(col(textCol), n)
        case None => // declarative fallback, same values
          val g = shingles(tokens(col(textCol)), n)
          struct(size(g).cast("long").as("total"),
            size(array_distinct(g)).cast("long").as("distinct"),
            coalesce(array_max(transform(array_distinct(g),
              x => size(filter(g, y => y === x)).cast("long"))), lit(0L))
              .as("max_freq"))
      }
    val s2 = stats(2)
    val s3 = stats(3)
    docs
      .withColumn("top_2gram_frac",
        when(s2.getField("total") > 0,
          round(s2.getField("max_freq").cast("double") /
            s2.getField("total"), 4)).otherwise(0.0))
      .withColumn("dup_3gram_frac",
        when(s3.getField("total") > 0,
          round((s3.getField("total") - s3.getField("distinct"))
            .cast("double") / s3.getField("total"), 4)).otherwise(0.0))
      .withColumn("repetition_keep",
        col("top_2gram_frac") <= topFracMax &&
          col("dup_3gram_frac") <= dupFracMax)
  }

  /** Fixed-size token chunking with overlap — the RAG / pretraining
    * sequence-prep operator: every document is cut into `windowTokens`-token
    * chunks starting every `strideTokens` tokens (the trailing chunk may be
    * short; a stride smaller than the window produces overlapping chunks).
    * Output rows are (doc_id, start_idx, n_tokens, chunk_md5) — the hash
    * stands in for the chunk text so the gate output stays bounded; callers
    * wanting the text use the same slice expression.
    *
    * Entirely map-side: tokenize, generate window starts with `sequence`,
    * explode, slice — zero shuffles at any corpus size.
    */
  /** Per-document token-distribution Shannon entropy — the degeneracy /
    * repetition quality signal a pretraining filter stack keys on: low
    * entropy means templated or token-degenerate text regardless of the
    * document's length, complementing [[withRepetition]]'s top-gram
    * fractions. H = -Σ (tf/n)·log2(tf/n), computed with the identity
    * H = log2(n) - Σ tf·log2(tf) / n so it falls out of ONE per-doc
    * aggregation over term frequencies. Returns (doc_id, n_tokens,
    * n_distinct, token_entropy); token-less documents emit no row.
    *
    * Scale shape: one (doc, term) tf shuffle (map-side partial agg) + one
    * per-doc aggregation. No corpus-global state — each document scores
    * against its OWN distribution, so this stays embarrassingly parallel
    * at any corpus size.
    */
  def withTokenEntropy(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
    tf.groupBy("doc_id").agg(
      sum("tf").cast("long").as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      round(log2(sum("tf")) - sum(col("tf") * log2(col("tf"))) / sum("tf"), 4)
        .as("token_entropy"))
  }

  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, strideTokens: Int): DataFrame = {
    require(windowTokens > 0 && strideTokens > 0,
      s"window/stride must be positive: $windowTokens/$strideTokens")
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .where(col("n") > 0)
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(strideTokens))).as("s"))
      .select(
        col("doc_id"),
        col("s").cast("long").as("start_idx"),
        least(lit(windowTokens), col("n") - col("s")).cast("long").as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("toks"), col("s") + 1,
            least(lit(windowTokens), col("n") - col("s"))))).as("chunk_md5"))
  }

  /** BPE-style merge induction over the word-token stream — the counting
    * core of tokenizer training (Sennrich et al. 2016, at word rather than
    * character granularity so the oracle stays SQL-replayable): `rounds`
    * times, find the globally most-frequent adjacent symbol pair (ties
    * broken on the pair string) and merge every non-overlapping left-to-
    * right occurrence corpus-wide, joining the two symbols with '_' (the
    * one character the tokenizer alphabet [a-z0-9] excludes, so merged
    * symbols can never collide with input tokens). Returns the learned
    * merge table (round, pair, n_pairs).
    *
    * Scale shape (the Sennrich 2016 weight-table formulation, generalized
    * from words to symbol sequences): the corpus is folded ONCE into a
    * `(sequence, weight)` DISTINCT-sequence table — one shuffle, bounded
    * by distinct sequences, never corpus rows — and every merge round runs
    * over that weighted table. When the table fits a driver bound
    * (`driverMaxDistinctSeqs`), it is collected once and the whole merge
    * loop runs driver-side with incrementally-maintained pair counts and a
    * lazy max-heap ([[trainBpeDriver]]) — the real tokenizer-trainer
    * shape: ZERO Spark jobs per round, per-round cost proportional to the
    * occurrences of the merged pair, so a production 32k-merge vocabulary
    * is 32k heap pops, not 32k corpus scans. Above the bound, the rounds
    * run distributed over the weight table ([[bpeMergesDistributed]]),
    * each a weighted partial-count scan + 1-row argmax.
    */
  def bpeMerges(docs: DataFrame, textCol: String, rounds: Int = 6,
                driverMaxDistinctSeqs: Long = 2L << 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val weightedPlan = docs
      .select(tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 2)
      .groupBy("toks").agg(count(lit(1)).as("w"))
      .as[(Seq[String], Long)]
    // dispatch and delivery are ONE bounded job (round-13 job-floor work;
    // see BoundedCollect): the old shape persisted the weight table,
    // counted it, then collected it — three jobs before a single merge.
    // Only the distributed path persists — it re-reads the table every
    // round.
    val merges = graft.operators.BoundedCollect(weightedPlan,
        driverMaxDistinctSeqs) match {
      case Left(rows) =>
        trainBpeDriver(rows.map { case (s, w) => (s.toArray, w) }, rounds)
      case Right(plan) =>
        val weighted = plan
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try bpeMergesDistributed(weighted, rounds)
        finally { weighted.unpersist(); () }
    }
    merges.toDF("round", "pair", "n_pairs")
  }

  /** Driver-side BPE merge induction over the collected weight table — the
    * shape every production tokenizer trainer uses once the distinct-unit
    * table fits in memory. Symbols are interned to ints and pairs packed
    * into one Long key (hashing stays O(1) as merged symbols grow — with
    * string keys, pair-key hashing cost grows with every round because
    * merged symbol names concatenate). Pair counts (every adjacent
    * occurrence, weighted by sequence multiplicity — identical to the
    * corpus-wide count) are maintained by MERGE-SITE-LOCAL deltas: applying
    * a merge touches only the 3 destroyed and 2 created adjacencies around
    * each site, never recounting whole sequences, for exactly the
    * sequences that contain the pair (tracked by an only-grows inverted
    * index whose stale entries are skipped via a no-change reference
    * check). The argmax is a lazy max-heap — every count update pushes a
    * fresh entry; pops that disagree with the live count are discarded —
    * so a round costs O(occurrences of the merged pair + heap churn),
    * independent of corpus size, table size, AND round index. Tie order
    * matches the distributed face: count desc, then pair string asc
    * (tuple compare over the interned names — equivalent to comparing the
    * space-joined pair strings because ' ' sorts below every symbol
    * character).
    */
  private[pipeline] def trainBpeDriver(
      seqs: Array[(Array[String], Long)],
      rounds: Int): Seq[(Int, String, Long)] = {
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
    val index =
      new java.util.HashMap[java.lang.Long, java.util.ArrayList[Integer]]()
    // heap of (pairKey, count-at-push); stale entries discarded at pop
    val heap = new java.util.PriorityQueue[(Long, Long)](
      11, new java.util.Comparator[(Long, Long)] {
        def compare(x: (Long, Long), y: (Long, Long)): Int = {
          val c = java.lang.Long.compare(y._2, x._2) // count desc
          if (c != 0) return c
          // pair string asc == (first, second) name-tuple asc
          val c1 = names((x._1 >>> 32).toInt).compareTo(
            names((y._1 >>> 32).toInt))
          if (c1 != 0) c1
          else names(x._1.toInt).compareTo(names(y._1.toInt))
        }
      })
    def bump(key: Long, delta: Long, seqIdx: Int): Unit = {
      val nv = counts.merge(key, delta, (a, b) => a + b)
      if (nv == 0L) { counts.remove(key); () } else heap.offer((key, nv))
      if (delta > 0 && seqIdx >= 0) {
        val lst = index.computeIfAbsent(key,
          _ => new java.util.ArrayList[Integer]())
        // tail-dedup bounds repeat entries from a sequence's multiple
        // occurrences; non-adjacent repeats are tolerated (the no-change
        // reference check makes reprocessing a no-op)
        if (lst.isEmpty || lst.get(lst.size - 1).intValue != seqIdx)
          lst.add(seqIdx)
      }
    }
    var i = 0
    while (i < cur.length) {
      val arr = cur(i); var j = 0
      while (j + 1 < arr.length) { bump(pk(arr(j), arr(j + 1)), w(i), i); j += 1 }
      i += 1
    }
    /** One exhaustive left-to-right non-overlapping merge of (a, b) → ab
      * over sequence si, updating pair counts with site-local deltas.
      * Returns false (and changes nothing) when the pair is absent — the
      * stale-index no-op check.
      */
    def mergeSeq(si: Int, a: Int, b: Int, ab: Int): Boolean = {
      val arr = cur(si); val ws = w(si); val len = arr.length
      var j = 0; var found = false
      while (!found && j + 1 < len) {
        if (arr(j) == a && arr(j + 1) == b) found = true else j += 1
      }
      if (!found) return false
      val out = new scala.collection.mutable.ArrayBuffer[Int](len - 1)
      j = 0
      var prevSiteEnd = -1 // index just past the previous site's b
      var justMerged = false
      while (j < len) {
        if (j + 1 < len && arr(j) == a && arr(j + 1) == b) {
          bump(pk(a, b), -ws, -1)
          // left neighbor: unless the previous (adjacent) site already
          // removed this adjacency as ITS right neighbor
          if (j > 0 && prevSiteEnd != j) bump(pk(arr(j - 1), a), -ws, -1)
          if (j + 2 < len) bump(pk(b, arr(j + 2)), -ws, -1)
          if (out.nonEmpty) bump(pk(out(out.length - 1), ab), ws, si)
          out += ab
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
      true
    }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    var k = 1
    var exhausted = counts.isEmpty
    while (k <= rounds && !exhausted) {
      // pop to the first heap entry whose count is still live
      var top: (Long, Long) = null
      while (top == null && !heap.isEmpty) {
        val cand = heap.poll()
        val live = counts.get(cand._1)
        if (live != null && live.longValue == cand._2) top = cand
      }
      if (top == null) exhausted = true
      else {
        val (key, n) = top
        val (a, b) = ((key >>> 32).toInt, key.toInt)
        merges += ((k, names(a) + " " + names(b), n))
        val ab = intern(names(a) + "_" + names(b))
        val affected = index.remove(key)
        if (affected != null) {
          var x = 0
          while (x < affected.size) {
            mergeSeq(affected.get(x).intValue(), a, b, ab)
            x += 1
          }
        }
        k += 1
      }
    }
    merges.toSeq
  }

  /** Distributed merge rounds over the `(sequence, weight)` table — the
    * above-driver-bound fallback and the oracle-replayable face. Each
    * round is one mapPartitions scan emitting WEIGHTED partial pair counts
    * from a per-partition hash map (shuffle bounded by partitions × pair
    * vocabulary) + a 1-row TakeOrdered argmax; learned merges are replayed
    * in memory and folded back into the cache every
    * [[BpeRematerializeEvery]] rounds, bounding replay depth.
    */
  private[pipeline] def bpeMergesDistributed(
      weighted: org.apache.spark.sql.Dataset[(Seq[String], Long)],
      rounds: Int): Seq[(Int, String, Long)] = {
    val spark = weighted.sparkSession
    import spark.implicits._
    def cache(ds: org.apache.spark.sql.Dataset[(Seq[String], Long)]) =
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var base = weighted
    var owned = false // the caller's table is not ours to unpersist
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    val pending = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var k = 1
    var exhausted = false
    try {
      while (k <= rounds && !exhausted) {
        val bc = spark.sparkContext.broadcast(pending.toArray)
        val counts = base.mapPartitions { it =>
          val ms = bc.value
          val acc = new java.util.HashMap[String, Long]()
          it.foreach { case (ts, n) =>
            val arr = applyMergesInOrder(ts.toArray, ms)
            var i = 0
            while (i + 1 < arr.length) {
              acc.merge(arr(i) + " " + arr(i + 1), n, (a, b) => a + b)
              i += 1
            }
          }
          import scala.jdk.CollectionConverters._
          acc.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue))
        }.toDF("pair", "n").groupBy("pair").agg(sum("n").as("n"))
        val top = counts.orderBy(col("n").desc, col("pair")).limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val pair = top(0).getString(0)
          merges += ((k, pair, top(0).getLong(1)))
          val Array(a, b) = pair.split(" ", 2)
          pending += ((a, b))
          if (pending.length >= BpeRematerializeEvery) {
            val bcm = spark.sparkContext.broadcast(pending.toArray)
            val next = cache(base.mapPartitions { it =>
              val ms = bcm.value
              it.map { case (ts, n) =>
                (applyMergesInOrder(ts.toArray, ms).toSeq, n) }
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

  /** Fold the merged corpus back into the cache every this-many rounds of
    * [[bpeMerges]] — bounds the per-scan in-memory replay depth.
    */
  private[pipeline] val BpeRematerializeEvery = 32

  /** Replay a merge list in round order over a symbol array, each merge
    * applied exhaustively left-to-right non-overlapping — byte-for-byte the
    * semantics of chaining [[mergePair]] regexes, kept in memory so the
    * corpus is never rewritten as a plan.
    */
  private[pipeline] def applyMergesInOrder(
      toks: Array[String], merges: Array[(String, String)]): Array[String] = {
    var arr = toks
    var m = 0
    while (m < merges.length) {
      arr = applyOneMerge(arr, merges(m)._1, merges(m)._2)
      m += 1
    }
    arr
  }

  /** One exhaustive left-to-right non-overlapping merge of adjacent (a, b)
    * into "a_b". Returns the input array unchanged (no allocation) when the
    * pair is absent.
    */
  private[pipeline] def applyOneMerge(
      arr: Array[String], a: String, b: String): Array[String] = {
    var i = 0
    var found = false
    while (!found && i + 1 < arr.length) {
      if (arr(i) == a && arr(i + 1) == b) found = true else i += 1
    }
    if (!found) return arr
    val out = new scala.collection.mutable.ArrayBuffer[String](arr.length - 1)
    i = 0
    while (i < arr.length) {
      if (i + 1 < arr.length && arr(i) == a && arr(i + 1) == b) {
        out += a + "_" + b; i += 2
      } else { out += arr(i); i += 1 }
    }
    out.toArray
  }

  /** Encode every document against a PRECOMPUTED merge table (the output of
    * [[bpeMerges]], or any table trained the same way): per-document token
    * budgets after all merges. Returns (doc_id, n_tokens_raw, n_tokens_bpe).
    *
    * Scale shape: the merge table is collected (rounds rows — tiny even at
    * a 32k production vocabulary), broadcast as a rank table, and applied in
    * ONE map-side pass per document with the standard tokenizer pair-merge
    * loop (GPT-2 `bpe()`): repeatedly find the lowest-rank adjacent pair
    * present and merge all its left-to-right occurrences, until no adjacent
    * pair is in the table. Plan depth and job count are independent of the
    * merge count — no per-round regexp chain, no corpus-wide rewrites — and
    * the encode pass shuffles nothing.
    *
    * Equivalence to round-order exhaustive application (the SQL-replayable
    * oracle face) holds for any TRAINED table: a merge can only create
    * pairs involving its own output symbol, which did not exist when any
    * lower-round pair was learned, so lower-rank occurrences are never
    * created by higher-rank merges and min-rank-first == round order.
    */
  def bpeEncodeWith(docs: DataFrame, idCol: String, textCol: String,
                    merges: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val table: Array[(String, String)] = merges.orderBy("round")
      .select("pair").as[String].collect()
      .map { p => val Array(a, b) = p.split(" ", 2); (a, b) }
    val bcTable = spark.sparkContext.broadcast(table)
    val bcRank = spark.sparkContext.broadcast(
      table.zipWithIndex.toMap)
    val encodeLen = udf { toks: Seq[String] =>
      bpeEncodeTokens(toks.toArray, bcTable.value, bcRank.value).length.toLong
    }
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens_raw"),
        encodeLen(col("toks")).as("n_tokens_bpe"))
  }

  /** The standard tokenizer encode loop over one document's symbols: find
    * the minimum-rank adjacent pair present in the broadcast rank table,
    * merge all its left-to-right occurrences, repeat until no adjacent pair
    * is ranked. Iteration count is bounded by the number of DISTINCT ranks
    * that actually fire in this document — independent of the table size.
    */
  private[pipeline] def bpeEncodeTokens(
      toks: Array[String], table: Array[(String, String)],
      rank: Map[(String, String), Int]): Array[String] = {
    var arr = toks
    var done = arr.length < 2
    while (!done) {
      var best = Int.MaxValue
      var i = 0
      while (i + 1 < arr.length) {
        val r = rank.getOrElse((arr(i), arr(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (a, b) = table(best)
        arr = applyOneMerge(arr, a, b)
        if (arr.length < 2) done = true
      }
    }
    arr
  }

  /** Train-then-encode convenience: induce `rounds` merges with
    * [[bpeMerges]] and apply them with [[bpeEncodeWith]]. Prefer calling
    * the two faces separately — training is the expensive part and its
    * output table should be computed once and reused, exactly like a real
    * tokenizer artifact.
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                rounds: Int = 6): DataFrame =
    bpeEncodeWith(docs, idCol, textCol, bpeMerges(docs, textCol, rounds))

  /** One BPE merge over a space-delimited symbol stream: occurrences of
    * `pair` bounded by spaces (or string ends) collapse to the `_`-joined
    * symbol. The pair is corpus text — `\Q...\E` quoted in the pattern and
    * `Matcher.quoteReplacement`-escaped in the replacement, so symbols
    * containing regex metacharacters (`+`, `.`, `$`, `\`...) merge
    * literally. Space lookarounds rather than `\b`: the stream's token
    * boundary IS the space, whatever the token alphabet.
    */
  private[pipeline] def mergePair(txt: Column, pair: String): Column =
    regexp_replace(txt,
      "(?<![^ ])" + java.util.regex.Pattern.quote(pair) + "(?![^ ])",
      java.util.regex.Matcher.quoteReplacement(pair.replace(' ', '_')))

  /** Corpus-wide most-frequent word n-grams (every occurrence counted, not
    * per-document distinct — this is the corpus-statistics face; the dedup
    * operators use the distinct [[graft.functions.TextFunctions.shingleSet]]).
    * Count is a partial-agg shuffle keyed on the gram; the global top-k is
    * TakeOrdered over the aggregated vocabulary — never a full sort — and
    * the final rank window runs over k rows only. Ties break on the gram
    * string so the output is deterministic.
    */
  def topNgrams(docs: DataFrame, textCol: String, n: Int = 3,
                k: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(shingleList(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
    counts.orderBy(col("n").desc, col("gram")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("gram"))).cast("int"))
      .select(col("gram"), col("n"), col("rank"))
  }

  /** Word2phrase collocation scores (Mikolov et al. 2013): for each
    * adjacent word pair, score = (n_pair − δ)·N / (n_w1·n_w2) — ≈1 under
    * independence, ≫1 for genuine phrases; δ discounts rare-pair noise.
    * The score is emitted as EXACT scaled-integer `score6` =
    * ⌊(n_pair − δ)·N·10⁶ / (n_w1·n_w2)⌋ (all-positive integer division,
    * no float anywhere), so ordering and values replay bit-identically in
    * any engine — the same fixed-point discipline as seasonalDecompose.
    *
    * Shape at scale: one bigram groupBy (partial-agg shuffle over distinct
    * pairs), one vocab-bounded unigram groupBy, two key joins of the pair
    * table against the unigram table — no N×N anything; N is one scalar
    * count. Overflow bound: (n_pair·N·10⁶) needs n_pair·N < 9.2e12 —
    * fine through ~1e10-token corpora per partition-of-analysis; shard the
    * corpus (scores are per-shard comparable) or drop to 10³ scaling above.
    */
  def collocations(docs: DataFrame, textCol: String,
                   delta: Int = 5): DataFrame = {
    val uni = docs.select(explode(tokens(col(textCol))).as("w"))
    val total = uni.count() // 1-row scalar
    val un = uni.groupBy("w").agg(count(lit(1)).as("c"))
    docs.select(explode(shingleList(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") > delta)
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("n_pair"))
      .join(un.select(col("w").as("w1"), col("c").as("n_w1")), "w1")
      .join(un.select(col("w").as("w2"), col("c").as("n_w2")), "w2")
      .withColumn("n_total", lit(total))
      .withColumn("score6",
        expr(s"((n_pair - $delta) * n_total * 1000000) DIV (n_w1 * n_w2)"))
      .select("w1", "w2", "n_pair", "n_w1", "n_w2", "n_total", "score6")
  }

  /** Top-k collocations by the exact integer score, total-ordered. */
  def topCollocations(docs: DataFrame, textCol: String, delta: Int = 5,
                      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    collocations(docs, textCol, delta)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score6").desc, col("w1"), col("w2"))).cast("int"))
      .where(col("rank") <= k)
  }

  /** PII masking patterns — the scrub every published pretraining pipeline
    * runs (C4/Dolma mask emails, IPs, phone numbers before training).
    * Patterns are deliberately restricted to the RE2 ∩ java.util.regex
    * common subset (character classes, bounded repetition, `\b`, no
    * lookaround/backrefs) so a SQL oracle replays them byte-for-byte.
    * Order matters: emails first, so an address's digit runs are already
    * collapsed before the looser numeric patterns scan.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
    ("ipv4", """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""", "<IP>"),
    ("phone", """\b\d{3}-\d{3}-\d{4}\b""", "<PHONE>"))

  /** PII redaction: replace each pattern with its typed placeholder and
    * count the matches per category (counted on the ORIGINAL text, so the
    * counts are independent of replacement order). Pure map-side codegen'd
    * column math — regexp_replace / regexp_extract_all are both
    * whole-stage-codegen expressions — zero shuffle at any scale.
    */
  def redactPii(docs: DataFrame, textCol: String): DataFrame = {
    val counted = piiPatterns.foldLeft(docs) { case (df, (nm, pat, _)) =>
      df.withColumn(s"n_$nm",
        size(regexp_extract_all(col(textCol), lit(pat), lit(0))))
    }
    counted.withColumn("redacted",
      piiPatterns.foldLeft(col(textCol)) { case (c, (_, pat, tag)) =>
        regexp_replace(c, pat, tag)
      })
  }

  /** C4-style blocklist verdict: a document is dropped when it contains ANY
    * blocklisted word (C4 filtered on the public "bad words" list;
    * presence-based, not count-based — one hit is enough there). Emits the
    * distinct matched-word count and the keep boolean.
    *
    * Pure map-side codegen'd column math — `array_intersect` /
    * `arrays_overlap` against a literal array, zero shuffle at any corpus
    * size (deliberately NOT a token explode + broadcast semi-join, which
    * pays a per-token row blowup for the same answer; and no higher-order
    * `filter` lambda, which Spark interprets per element).
    */
  def withBlocklist(docs: DataFrame, textCol: String,
                    blocked: Seq[String]): DataFrame = {
    val blk = array(blocked.distinct.map(w => lit(w.toLowerCase)): _*)
    docs
      .withColumn("n_blocked_distinct",
        size(array_intersect(tokens(col(textCol)), blk)))
      .withColumn("blocklist_keep",
        !arrays_overlap(tokens(col(textCol)), blk))
  }

  /** Line-level boilerplate scrub (CCNet / RefinedWeb): drop every line
    * whose trimmed form occurs in >= `minDocs` DISTINCT documents (nav
    * bars, cookie banners, license headers — text repeated verbatim across
    * the corpus), keep everything else in original order. Empty/whitespace
    * lines are never counted as boilerplate (they'd match each other
    * trivially) and always survive.
    *
    * Returns (doc_id, clean_md5, n_removed): the rebuilt text rides as its
    * md5 so downstream comparison stays bounded; callers wanting the text
    * swap the md5 for the `array_join`.
    *
    * Scale shape: one explode over lines, one shuffle on the trimmed line
    * for document frequency (inverted-index shape, no pairwise work), a
    * left-anti join of lines against the (small — only lines crossing the
    * df threshold) boilerplate set, one per-document aggregation to rebuild.
    * O(total lines) end to end.
    */
  def scrubCommonLines(docs: DataFrame, idCol: String, textCol: String,
                       minDocs: Int = 3): DataFrame =
    scrubCommonLinesText(docs, idCol, textCol, minDocs)
      .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
        col("n_removed"))

  /** [[scrubCommonLines]] keeping the rebuilt TEXT itself — the form a
    * composed curation pipeline consumes (the md5 face exists for bounded
    * gate outputs). Returns (doc_id, clean_text, n_removed); a document
    * whose every line was boilerplate survives with clean_text = "".
    */
  def scrubCommonLinesText(docs: DataFrame, idCol: String, textCol: String,
                           minDocs: Int = 3): DataFrame = {
    val lines = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("key", trim(col("line")))
    val boiler = lines.where(col("key") =!= "")
      .groupBy("key").agg(countDistinct("doc_id").as("dfv"))
      .where(col("dfv") >= minDocs)
      .select("key")
    val rebuilt = lines.join(boiler, Seq("key"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(expr("transform(array_sort(collect_list(" +
          "struct(pos, line))), x -> x.line)"), "\n").as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs
      .select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }
}
