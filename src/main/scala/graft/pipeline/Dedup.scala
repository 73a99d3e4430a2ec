package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._
import graft.operators.TransientCache.Syntax

/** Deduplication operators for large-scale training-data pipelines
  * (BASELINE.json north star): exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine. All are pure DataFrame programs:
  *
  *  - exact:      one shuffle on the content fingerprint;
  *  - ngram/minhash: candidate generation is an inverted-index / LSH-bucket
  *    self-join — work is proportional to bucket sizes, never |docs|²;
  *  - at 100 TB the bucket join shuffles on (band, key) and skewed buckets
  *    (boilerplate shingles) are handled by AQE skew-join; the verification
  *    join only touches candidate pairs.
  */
object Dedup {

  /** Exact dedup via content-hash groupBy: one row per distinct normalized
    * text, with the surviving (minimum) id and the duplicate count.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), charFold(normText(col(textCol))).as("fp"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("kept_doc_id"), count(lit(1)).as("n_dups"))

  /** Corpus-overlap audit matrix: for every pair of sources, how many
    * distinct normalized-content fingerprints they share — the standard
    * pre-training data audit ("which of my corpora carry the same
    * documents?") run before mixing, so double-counted content doesn't
    * skew mixture weights. Unordered pairs (source_a < source_b).
    *
    * Scale shape: distinct (source, fp) first — the join input is bounded
    * by distinct content per source, not corpus rows — then one fp-keyed
    * equi-join; with S sources a fingerprint shared by k sources expands
    * to k(k-1)/2 <= S^2/2 pair rows, so the join output is bounded by
    * distinct-fp x S^2, never corpus^2.
    */
  def sourceOverlap(docs: DataFrame, textCol: String, srcCol: String,
                    ngram: Int = 0): DataFrame = {
    // ngram = 0: whole-document fingerprints (exact shared docs);
    // ngram = n: shared distinct word-n-grams (the finer contamination
    // signal -- corpora rarely share whole documents but often share
    // boilerplate and quoted passages)
    val f = (if (ngram <= 0)
        docs.select(col(srcCol).as("source"),
          charFold(normText(col(textCol))).as("fp"))
      else // explode first -- generators cannot nest inside expressions
        docs.select(col(srcCol).as("source"),
            explode(graft.functions.TextFunctions
              .shingleList(col(textCol), ngram)).as("__g"))
          .select(col("source"), charFold(col("__g")).as("fp"))
      ).distinct()
    val a = f.select(col("source").as("source_a"), col("fp"))
    val b = f.select(col("source").as("source_b"), col("fp"))
    a.join(b, Seq("fp"))
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_fp"))
  }

  /** All-pairs n-gram Jaccard over word `n`-gram shingle sets, via a
    * PPJoin-style prefix-filtered inverted-index self-join (never a cross
    * join). Returns (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard >= threshold.
    *
    * Prefix filtering (Bayardo et al., "Scaling Up All Pairs Similarity
    * Search", WWW'07): order every set by a single global shingle order —
    * ascending document frequency, shingle as tie-break — and index only the
    * first |X| - ceil(t * |X|) + 1 elements of each set X. Lossless: if
    * J(A,B) >= t then |A∩B| >= ceil(t * max(|A|,|B|)), so the intersection
    * cannot fit entirely in the last ceil(t*|X|) - 1 positions of either
    * set, and the two prefixes must share an element under the common order.
    * (Property-tested against the brute-force pair set in PipelineSpec.)
    *
    * This is what kills the boilerplate-shingle blowup: a shingle appearing
    * in k documents sorts LAST in df order, so it falls outside the prefix
    * of any document that has rarer shingles — the k^2 bucket never forms.
    * Verification computes exact Jaccard on the FULL sets, candidates only.
    *
    * Strategy is corpus-size-adaptive (same pattern as
    * [[graft.query.QueryLibrary.callClosure]]'s frontier switch): below
    * [[PrefixFilterMinDocs]] documents the quadratic-bucket risk the prefix
    * filter guards against is bounded by the corpus itself, and the
    * filter's extra passes (df aggregation, df-order sort, candidate
    * distinct) cost more wall-clock than they save — so small corpora take
    * the direct inverted-index count join, large ones the prefix filter.
    * Both are exact (the filter is lossless), so the choice never changes
    * the output; the property tests pin `strategy` to exercise each path.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.8,
                        strategy: String = "auto"): DataFrame = {
    val usePrefix = strategy match {
      case "prefix" => true
      case "direct" => false
      case _ => docs.count() >= PrefixFilterMinDocs
    }
    if (!usePrefix) return ngramJaccardPairsDirect(docs, idCol, textCol, n, threshold)
    val sets = docs.select(col(idCol).as("doc_id"),
        shingleSet(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
      .transientCache() // prefix derivation + both verification join sides
    // n_sh rides along from the cached array size — computing it as a
    // second window over the exploded rows would cost another sort pass.
    // shd itself is cached: it has three consumers (document frequencies,
    // the prefix ranking's join input, and — via prefix — the candidate
    // join's both sides), each of which would otherwise replay the explode
    val shd = sets.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("shingle"))
      .transientCache()
    val dfreq = shd.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    // 1e-9 nudge: ceil must not round UP on binary-float noise (e.g.
    // 0.8 * 5 = 4.0000000000000002 -> ceil 5 would shorten the prefix and
    // break the lossless bound in the unsafe direction)
    val prefix = shd.join(dfreq, "shingle")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
      .select("doc_id", "shingle")
    val candidates = prefix.alias("x")
      .join(prefix.alias("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    // candidates is prefix-pruned but still data-dependent: no broadcast
    // hint (a duplicate-heavy corpus makes it unbounded and a forced
    // broadcast is a driver OOM at exactly the scale this path serves); AQE
    // broadcasts it at runtime when it measures small, keeping the verify
    // joins map-side over the cached sets in the common case
    val verified = candidates
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("shb")), "id_b")
      .withColumn("c", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("sha")) + size(col("shb")) - col("c")))
    verified.where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Corpus-size switch point for [[ngramJaccardPairs]]'s auto strategy. */
  final val PrefixFilterMinDocs = 100000L

  /** The direct small-corpus path: inverted-index self-join counting shared
    * shingles per pair in one groupBy (no candidate materialization, no
    * per-doc sort), then jaccard from the pair's set sizes. Exact; without
    * prefix filtering a shingle of document frequency k contributes k^2
    * join rows, which is why large corpora take the prefix path instead.
    */
  private def ngramJaccardPairsDirect(docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double): DataFrame = {
    // cache the COMPACT per-doc arrays (one row per doc), not the exploded
    // shingle rows: the explode below replays map-side from this cache, set
    // sizes come free from size(sh) (no groupBy-count shuffle), and the
    // cached bytes are ~n× smaller than the exploded string table
    val sets = docs.select(col(idCol).as("doc_id"),
        shingleSet(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
      .transientCache()
    val shd = sets.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val common = shd.alias("x")
      .join(shd.alias("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    val sizes = sets.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val jac = common
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("nb")), "id_b")
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
    jac.where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** LOSSLESS scale path for [[containmentPairs]] — prefix filtering on
    * the smaller set (the PPJoin/overlap-join discipline): a pair with
    * max-direction containment >= t shares c >= t·n_min shingles, so the
    * SMALLER document's prefix — its n − ceil(t·n) + 1 globally-rarest
    * shingles in (df, shingle) order — must intersect the larger
    * document's full set (pigeonhole: if every shared shingle avoided the
    * prefix, c <= ceil(t·n) − 1 < t·n). Candidates therefore come from a
    * probe-prefix × full-set equi-join keyed on the PREFIX shingle — and
    * prefixes are each document's rarest shingles, so the join key's
    * document frequency is small by construction: boilerplate shingles
    * never become join keys, which is exactly the df² failure mode the
    * direct census has (SCALE.md sf1). Exact verification on the cached
    * sets; results EQUAL [[containmentPairs]] uncapped — same oracle, two
    * algorithms, one truth.
    */
  def containmentPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sets = docs.select(col(idCol).as("doc_id"),
        shingleSet(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
      .transientCache()
    // cached for the same three-consumer reason as the sibling
    // ngramJaccardPairs prefix path (round-13: the composed plan replayed
    // this explode once per consumer)
    val shd = sets.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("shingle"))
      .transientCache()
    val dfreq = shd.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    // CPU-density guard (round-14, VERDICT item 3): this operator's rows
    // are ~1000× more expensive per byte than a typical shuffle row
    // (per-doc sorts below; array_intersect over full shingle sets in the
    // verify join), so AQE's BYTE-based partition coalescing collapses the
    // few-MB exchanges to 1-2 tasks and serializes the whole chain
    // (GateProf: wall ≈ summed task time, 21 tasks total). The two hot
    // exchanges are therefore EXPLICIT repartitions at the session's
    // shuffle-partition count — the same key and count a plain exchange
    // would use (so zero extra exchanges: each satisfies the downstream
    // required distribution), but user-specified, which AQE does not
    // coalesce. Scale-adaptive by construction: the count is the session
    // conf, not a local constant, and at corpus scale the bytes are big
    // enough that AQE would not have coalesced anyway.
    val numP = docs.sparkSession.sessionState.conf.numShufflePartitions
    // 1e-9 nudge as in ngramJaccardPairs: ceil must not round UP on
    // binary-float noise and shorten the prefix below the lossless bound
    val prefix = shd.join(dfreq, "shingle")
      .repartition(numP, col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("n_sh"), col("shingle"))
    // probe = smaller side's prefix vs the full exploded index; the
    // (size, id) ordering makes each unordered pair a candidate exactly
    // once, from its smaller member's probe
    val candidates = prefix.alias("p")
      .join(shd.alias("f"), col("p.shingle") === col("f.shingle") &&
        (col("p.n_sh") < col("f.n_sh") ||
          (col("p.n_sh") === col("f.n_sh") &&
            col("p.doc_id") < col("f.doc_id"))))
      .select(least(col("p.doc_id"), col("f.doc_id")).as("id_a"),
        greatest(col("p.doc_id"), col("f.doc_id")).as("id_b"))
      .distinct()
    // no broadcast hint: the candidate-pair set is data-dependent and
    // unbounded (a boilerplate-heavy corpus can make it huge at exactly the
    // scale this lossless path exists for — a forced broadcast is then a
    // driver OOM / 8 GB-limit failure). AQE broadcasts it at runtime when it
    // measures small; otherwise the verify joins shuffle on the ids.
    candidates
      .repartition(numP, col("id_a")) // CPU-density guard, see above
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("shb")), "id_b")
      .withColumn("c", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("cont_a_in_b", col("c").cast("double") / size(col("sha")))
      .withColumn("cont_b_in_a", col("c").cast("double") / size(col("shb")))
      .where(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("cont_a_in_b"), 4).as("cont_a_in_b"),
        round(col("cont_b_in_a"), 4).as("cont_b_in_a"),
        round(col("c").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("c")), 4).as("jaccard"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS local fingerprinting scheme): hash every word `k`-gram,
    * slide a window over `w` consecutive hashes, select each window's
    * MINIMUM hash; the distinct selected hashes are the document's
    * fingerprints. The scheme's guarantee: any shared token run of length
    * >= w + k - 1 between two documents produces at least one shared
    * fingerprint (the detection threshold), while only ~2/(w+1) of grams
    * are selected (the density bound) — position-robust sub-document
    * duplication detection at a tunable sampling rate, the granularity
    * between whole-document minhash and the exact positional span scrub.
    * Documents with fewer than w grams emit nothing.
    *
    * Plan shape: posexplode of the positional gram list (one-pass codegen'd
    * ShingleList), charFold hash map-side, per-document min over a ROWS
    * (CURRENT, w-1 FOLLOWING) window — one shuffle keyed on the document —
    * then distinct on (doc, fp). O(total grams), no pairwise work.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 4): DataFrame = {
    val hashed = docs
      .select(col(idCol).as("doc_id"),
        shingleList(col(textCol), k).as("grams"))
      .withColumn("g", size(col("grams")))
      .select(col("doc_id"), col("g"),
        posexplode(col("grams")).as(Seq("pos", "gram")))
      .withColumn("h", charFold(col("gram")))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    hashed.withColumn("fp", min("h").over(win))
      .where(col("pos") <= col("g") - w) // full windows only
      .select("doc_id", "fp").distinct()
  }

  /** Fingerprint-overlap census over [[winnowFingerprints]]: pairs of
    * documents sharing at least `minShared` selected fingerprints, with
    * the shared count — the candidate face of MOSS-style sub-document dup
    * detection. Inverted-index equi-join on the fingerprint (same shape as
    * [[sharedNgramStats]]): a fingerprint selected by d documents
    * contributes d² pair rows, so boilerplate-heavy corpora should set
    * `dfCap` — fingerprints whose document frequency exceeds the cap are
    * dropped before the self-join, exactly like [[containmentPairs]]' dfCap.
    * Like there, the cap is a SEMANTICS choice: two documents sharing only
    * ubiquitous (boilerplate) fingerprints stop being reported, and
    * `n_shared` counts shared fingerprints of the capped space.
    */
  def winnowOverlap(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 4, w: Int = 4, minShared: Long = 2,
                    dfCap: Long = Long.MaxValue): DataFrame = {
    val fpsAll = winnowFingerprints(docs, idCol, textCol, k, w)
    val fps =
      if (dfCap == Long.MaxValue) fpsAll
      else {
        // one df aggregation keyed on the fingerprint; surviving
        // fingerprints rejoin as a semi-join, and only the capped space
        // reaches the pairwise census
        val keep = fpsAll.groupBy("fp").agg(count(lit(1)).as("df"))
          .where(col("df") <= dfCap).select("fp")
        fpsAll.join(keep, "fp")
      }
    fps.alias("x").join(fps.alias("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Containment (asymmetric Jaccard) pairs: C(A→B) = |A∩B| / |A| over
    * word-n-gram shingle sets — the near-SUPERSET detector symmetric
    * Jaccard structurally misses: a short document wholly quoted inside a
    * much longer one has jaccard ≈ |A|/|B| (tiny) but containment ≈ 1.
    * This is the duplication face that catches boilerplate wrapping,
    * quote inclusion and template expansion in a pretraining corpus.
    * Emits (id_a, id_b, cont_a_in_b, cont_b_in_a, jaccard) for pairs whose
    * LARGER containment clears the threshold, id_a < id_b.
    *
    * Plan shape: the same inverted-index pair count as
    * [[ngramJaccardPairsDirect]] — one shuffle keyed on the shingle, pair
    * counts aggregated, set sizes joined back map-side off the compact
    * cached arrays; no all-pairs join. A shingle of document frequency k
    * contributes k² pair rows, so at corpus scale set `dfCap`: shingles
    * with document frequency above the cap are dropped from BOTH the pair
    * count and the set sizes, so the returned containment/jaccard are
    * consistently those of the capped shingle space — the same deliberate
    * semantics choice [[minhashLshPairs]]' dfCap documents (two documents
    * sharing only boilerplate stop being containment pairs). The sf1
    * scaling decade measured the uncapped path super-linear (df² growth on
    * a corpus of half-shared documents, SCALE.md) and the capped path at
    * corpus-linear cost.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       dfCap: Long = Long.MaxValue): DataFrame = {
    val sets = docs.select(col(idCol).as("doc_id"),
        shingleSet(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
      .transientCache()
    val shdAll = sets.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val shd =
      if (dfCap == Long.MaxValue) shdAll
      else {
        // one df aggregation keyed on the shingle; the surviving-shingle
        // set joins back as a broadcast-or-shuffle semi-join and everything
        // downstream (sizes included) sees only the capped space
        val keep = shdAll.groupBy("shingle")
          .agg(count(lit(1)).as("df")).where(col("df") <= dfCap)
          .select("shingle")
        shdAll.join(keep, "shingle")
      }
    val common = shd.alias("x")
      .join(shd.alias("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    // sizes over the SAME (possibly capped) shingle space as the pair count
    val sizes =
      if (dfCap == Long.MaxValue)
        sets.select(col("doc_id"), size(col("sh")).as("n_sh"))
      else shd.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    common
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("nb")), "id_b")
      .withColumn("cont_a_in_b", col("c").cast("double") / col("na"))
      .withColumn("cont_b_in_a", col("c").cast("double") / col("nb"))
      .where(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("cont_a_in_b"), 4).as("cont_a_in_b"),
        round(col("cont_b_in_a"), 4).as("cont_b_in_a"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 4)
          .as("jaccard"))
  }

  /** MinHash + LSH near-duplicate pairs: shingle → minhash signature →
    * banded bucket join for candidates → exact-Jaccard verification on the
    * candidate pairs only. With 128 hashes / 32 bands of 4, the probability
    * of missing a pair at jaccard 0.8 is (1-0.8^4)^32 ≈ 5e-8.
    *
    * `dfCap`: optional stopword-shingle removal — drop shingles whose
    * document frequency exceeds the cap from BOTH the signature input and
    * the verification sets, so the returned jaccard is consistently the
    * jaccard of the capped shingle space. This is the standard production
    * dedup practice for boilerplate-heavy corpora (a ubiquitous shingle
    * with a small hash dominates the min-aggregates of every document that
    * contains it, collapsing unrelated docs into the same bands). It is a
    * deliberate SEMANTICS choice, not a lossless optimization — two docs
    * sharing only boilerplate stop being near-duplicates — which is why it
    * defaults to off; a df-cap applied to candidates alone (keeping
    * full-set verification) would silently break the (1-t^r)^b recall bound
    * because the bands would estimate capped-jaccard while the filter
    * demands full-jaccard. The lossless candidate-pruning alternative is
    * [[ngramJaccardPairs]]'s prefix filter.
    */
  /** Banding plan for [[minhashLshPairs]] at corpus size `n` — the MinHash
    * twin of [[Similarity.lshPlanFor]], prompted by the same measurement:
    * FIXED banding (128 hashes, 32 bands of 4 rows) measured 24× per
    * decade at the sf10 second decade, because the background term —
    * C(n,2) · bands · bgJaccard^rowsPerBand random collisions (SCALE.md
    * round 9 "The 24× investigated": candidate pairs 178k → 12.4M for 10×
    * docs, max bucket population 54 → 480) — is quadratic in n at any
    * fixed rowsPerBand.
    *
    * The plan grows ROWS PER BAND with the corpus until the expected
    * background candidate volume is back under `budgetPerDoc` pairs per
    * document (each +1 row multiplies the background by bgJaccard), then
    * sizes BANDS so a true pair at `threshold` is missed with probability
    * at most `targetMiss` (miss = (1 − t^r)^b). numHashes = r·b grows
    * only logarithmically in n.
    *
    * `bgJaccard` is the corpus's typical unrelated-pair Jaccard;
    * [[estimateBackgroundJaccard]] measures it from a bounded sample.
    */
  def minhashPlanFor(n: Long, threshold: Double, bgJaccard: Double,
                     targetMiss: Double = 1e-4,
                     budgetPerDoc: Long = 64): (Int, Int) = {
    require(threshold > 0 && threshold < 1 && bgJaccard > 0 && bgJaccard < 1)
    var r = 2
    while (r < 64) {
      val pBand = math.pow(threshold, r)
      val b = math.max(1,
        math.ceil(math.log(targetMiss) / math.log1p(-pBand)).toInt)
      val background =
        n.toDouble * (n - 1) / 2 * b * math.pow(bgJaccard, r)
      if (background <= budgetPerDoc.toDouble * n) return (r * b, b)
      r += 1
    }
    (64, 1)
  }

  /** Mean Jaccard of unrelated document pairs, estimated from the first
    * `sample` docs by id (deterministic): the background-collision input
    * to [[minhashPlanFor]]. One bounded job — sample² pair comparisons on
    * ≤ sample shingle sets.
    *
    * SUPERSEDED as the auto-plan input by [[estimateJaccardSample]] +
    * [[minhashPlanForSample]]: a scalar MEAN is blind to bimodal corpora
    * (a thin mid-similarity mass — e.g. documents sharing half their
    * content — barely moves the mean but dominates candidate volume),
    * and first-`sample`-BY-ID sampling sees only one locality of the
    * corpus. The sf30 spot-check hit both at once: id-prefix sampling
    * measured bg=0.0009 on a corpus whose cross-copy siblings sit at
    * Jaccard ≈ 1/3, the plan chose rowsPerBand=2, and the verify join
    * spilled past the disk. Kept for the scalar planner face and the
    * round-9 probe protocol.
    */
  def estimateBackgroundJaccard(docs: DataFrame, idCol: String,
                                textCol: String, n: Int = 3,
                                sample: Int = 200): Double = {
    val s = docs.select(col(idCol).as("doc_id"),
        shingleSet(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
      .orderBy("doc_id").limit(sample).cache()
    val r = s.alias("a").join(s.alias("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select((size(array_intersect(col("a.sh"), col("b.sh"))).cast("double")
        / (size(col("a.sh")) + size(col("b.sh"))
          - size(array_intersect(col("a.sh"), col("b.sh")))))
        .as("j"))
      .agg(avg("j")).head()
    s.unpersist()
    if (r.isNullAt(0)) 0.05 else math.max(1e-4, math.min(0.99, r.getDouble(0)))
  }

  /** Sampled pair-similarity DISTRIBUTION — the planner input that sees
    * what a scalar mean cannot. Draws `sample` docs spread across the
    * corpus by ID-HASH order (deterministic, and — unlike first-by-id —
    * immune to id-locality: on a grown corpus where related documents
    * cluster by id range, an id-prefix sample measures one locality and
    * misses every cross-range relationship), computes all pairwise
    * Jaccards, and returns (totalSampledPairs, the nonzero values).
    * Zero-similarity pairs never co-band, so only the count of pairs and
    * the nonzero tail matter; the collect is ≤ C(sample, 2) doubles.
    *
    * The order key is an AVALANCHE hash (xxhash64), not the repo's
    * polynomial charFold. Two reasons, both measured on a grown corpus:
    * the unsalted fold of decimal id strings never wraps the modulus for
    * short ids, so it sorts by string LENGTH first — "hash order"
    * degenerates to id-prefix order and a 500k-doc sample was ids 0..499,
    * blind to every cross-copy sibling; and even salted, a polynomial
    * fold maps ids related by a CONSTANT string transform (the grown-
    * corpus id offset) to hash values at a constant shift, which
    * anti-correlates a threshold sample — related docs systematically
    * land on opposite sides of the cut (observed: 2 twin pairs sampled
    * where independence predicts ~90). The sampler feeds the planner
    * only — never a cross-engine oracle — so it is free to use a strong
    * non-replayable hash.
    */
  def estimateJaccardSample(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 3,
                            sample: Int = 500): (Long, Seq[Double]) =
    estimateJaccardSampleShingled(
      docs.select(col(idCol).as("doc_id"),
        shingleSet(col(textCol), n).as("sh")),
      sample)

  /** [[estimateJaccardSample]] over PRE-SHINGLED sets (doc_id, sh) — the
    * input shape [[graft.store.DedupIndexStore.compact]]'s corpus-drift
    * re-plan has on hand: the store persists the true shingle sets, so
    * re-pricing the band family against the grown corpus costs a sampled
    * pair pass over stored arrays, never a re-shingling of history.
    */
  def estimateJaccardSampleShingled(shingled: DataFrame,
                                    sample: Int = 500): (Long, Seq[Double]) = {
    // fan the bounded sample out before the pairwise join (round-13): a
    // ≤500-row frame is one partition, so the C(500,2) array_intersect
    // pass — the estimate's whole cost — ran as ONE task; round-robin
    // over the cores makes it corpus-independent AND parallel
    val s = shingled
      .where(size(col("sh")) > 0)
      .orderBy(xxhash64(col("doc_id").cast("string"), lit("jsamp")),
        col("doc_id"))
      .limit(sample)
      .repartition(shingled.sparkSession.sparkContext.defaultParallelism)
      .cache()
    try {
      val m = s.count()
      val nonzero = s.alias("a").join(s.alias("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select((size(array_intersect(col("a.sh"), col("b.sh"))).cast("double")
          / (size(col("a.sh")) + size(col("b.sh"))
            - size(array_intersect(col("a.sh"), col("b.sh")))))
          .as("j"))
        .where(col("j") > 0)
        .collect().map(_.getDouble(0)).toSeq
      (m * (m - 1) / 2, nonzero)
    } finally { s.unpersist(); () }
  }

  /** Distribution-aware banding plan — [[minhashPlanFor]] generalized from
    * a scalar background mean to the sampled pair-similarity distribution.
    * For each rows-per-band r (bands sized for miss ≤ `targetMiss` at the
    * threshold), the predicted sub-threshold candidate volume is
    * C(n,2) · E_j[1 − (1 − j^r)^b] over the sampled pairs with j below the
    * threshold — the exact co-band probability each sampled similarity
    * contributes, so a thin mass at j ≈ 0.3 (invisible in the mean) is
    * priced at its true collision rate. Picks the smallest r whose
    * prediction fits `budgetPerDoc · n`. Pairs AT/above the threshold are
    * excluded: those are wanted candidates, not background.
    */
  def minhashPlanForSample(n: Long, threshold: Double,
                           sampledPairs: Long, sampledJ: Seq[Double],
                           targetMiss: Double = 1e-4,
                           budgetPerDoc: Long = 64): (Int, Int) = {
    require(threshold > 0 && threshold < 1 && sampledPairs > 0)
    val sub = sampledJ.filter(j => j > 0 && j < threshold)
    var r = 2
    while (r < 64) {
      val pBand = math.pow(threshold, r)
      val b = math.max(1,
        math.ceil(math.log(targetMiss) / math.log1p(-pBand)).toInt)
      val meanCoband = sub.iterator
        .map(j => 1 - math.pow(1 - math.pow(j, r), b)).sum / sampledPairs
      val background = n.toDouble * (n - 1) / 2 * meanCoband
      if (background <= budgetPerDoc.toDouble * n) return (r * b, b)
      r += 1
    }
    (64, 1)
  }

  /** numHashes = 0 auto-plans (numHashes, bands) from the corpus count and
    * the SAMPLED pair-similarity distribution via [[minhashPlanForSample]]
    * — the scale-safe default path; explicit parameters (the gate's
    * verified-recall small-corpus setting) override.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
                      threshold: Double = 0.8,
                      dfCap: Option[Long] = None,
                      candidateBudget: Long = 100_000_000_000L,
                      force: Boolean = false): DataFrame = {
    require((numHashes == 0) == (bands == 0),
      s"numHashes and bands must be overridden together (got $numHashes, " +
        s"$bands); set both 0 to auto-plan")
    val (useHashes, useBands) =
      if (numHashes > 0) (numHashes, bands)
      else {
        val (sampledPairs, sampledJ) =
          estimateJaccardSample(docs, idCol, textCol, n)
        val nDocs = docs.count()
        val plan = minhashPlanForSample(nDocs, threshold,
          sampledPairs, sampledJ)
        // cost guardrail, same contract as embeddingCosinePairs: the
        // planner caps predicted sub-threshold volume at budgetPerDoc·n,
        // but when it hits the rows-per-band ceiling (r=64) on a
        // pathological corpus (pair similarity concentrated near the
        // threshold) the residual volume is unbounded — predict it at the
        // chosen plan and refuse over-budget runs up front
        val r = plan._1 / plan._2
        val predicted = nDocs.toDouble * (nDocs - 1) / 2 *
          sampledJ.iterator.filter(j => j > 0 && j < threshold)
            .map(j => 1 - math.pow(1 - math.pow(j, r), plan._2))
            .sum / math.max(1L, sampledPairs)
        require(force || predicted <= candidateBudget.toDouble,
          f"minhashLshPairs: predicted background candidate volume " +
            f"$predicted%.3g exceeds budget $candidateBudget at n=$nDocs " +
            f"(numHashes=${plan._1}, bands=${plan._2}). The corpus's " +
            "sub-threshold pair similarity is too close to the threshold " +
            "for banding to separate; scrub shared boilerplate first " +
            "(scrubCommonLines / dfCap), use the incremental new-vs-seen " +
            "path, or pass force=true to run anyway.")
        plan
      }
    minhashLshPairsWith(docs, idCol, textCol, n, useHashes, useBands,
      threshold, dfCap)
  }

  private def minhashLshPairsWith(docs: DataFrame, idCol: String,
                                  textCol: String, n: Int, numHashes: Int,
                                  bands: Int, threshold: Double,
                                  dfCap: Option[Long]): DataFrame = {
    val rowsPerBand = numHashes / bands
    val uncapped = docs
      .select(col(idCol).as("doc_id"), shingleSet(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
    val base = dfCap.fold(uncapped) { cap =>
      val ex = uncapped.select(col("doc_id"), explode(col("sh")).as("s"))
      ex.join(ex.groupBy("s").agg(count(lit(1)).as("df")), "s")
        .where(col("df") <= cap)
        .groupBy("doc_id").agg(array_sort(collect_set(col("s"))).as("sh"))
    }.transientCache() // signature input + verification join sides
    // signature in ONE map-side pass (MinHashSig custom Expression — a
    // generated loop over slots): no doc×shingle explode, no numHashes-way
    // min-aggregate shuffle; the signature stage shuffles nothing at all
    val sig = base.select(col("doc_id"),
      minhashSig(col("sh"), numHashes).as("mh"))
    val bandRows = sig.select(col("doc_id"),
      posexplode(bandKeys(col("mh"), bands, rowsPerBand)).as(Seq("band", "key")))
    val candidates = bandRows.alias("x")
      .join(bandRows.alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    // SIGNATURE-ESTIMATE prefilter before the exact verify: candidate
    // volume on a corpus with mid-similarity structure (documents sharing
    // a fraction of their content) is dominated by sub-threshold pairs
    // that banding surfaces but verification must reject — and the exact
    // verify join materializes BOTH full shingle arrays per candidate row
    // (the sf30 failure: ~10^8 candidates × ~2 KB of arrays spilled past
    // the disk sorting for the second join). See [[estPrefilter]].
    val sigT = sig
    val estPassed = estPrefilter(candidates, "id_a", "id_b",
      sigT.select(col("doc_id").as("id_a"), col("mh").as("mha")),
      sigT.select(col("doc_id").as("id_b"), col("mh").as("mhb")),
      numHashes, threshold)
    // verify on the true shingle sets (strings, not hashes — immune to hash
    // collisions), estimate-passing candidate pairs only
    val withSets = estPassed
      .join(base.select(col("doc_id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(base.select(col("doc_id").as("id_b"), col("sh").as("shb")), "id_b")
      .withColumn("c", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("sha")) + size(col("shb")) - col("c")))
    withSets.where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-snapshot (incremental) near-dedup: each NEW document's
    * near-duplicates in an EXISTING corpus — the daily-ingest shape (dedupe
    * today's crawl against the historical index before admission; the
    * batch twin of [[graft.stream.StreamingDedup]]'s exact form). Bipartite
    * MinHash-LSH: both sides band-bucket, candidates are new×seen bucket
    * matches ONLY — never seen×seen, which at 100 TB is precisely the work
    * a production pipeline must not redo (the historical corpus is already
    * deduped) — then exact-Jaccard verification on the true shingle sets.
    * At scale the seen side's band table is the stored banded index,
    * computed once at admission and persisted — that face is
    * [[crossCorpusPairsIndexed]] over [[graft.store.DedupIndexStore]], and
    * it is what the `dd_incremental` gate runs. This variant recomputes
    * both sides from text for the one-shot (no index yet) case.
    *
    * Returns (new_id, seen_id, jaccard >= threshold).
    */
  def crossCorpusPairs(newDocs: DataFrame, seenDocs: DataFrame, idCol: String,
                       textCol: String, n: Int = 3, numHashes: Int = 128,
                       bands: Int = 32, threshold: Double = 0.8): DataFrame = {
    val rowsPerBand = numHashes / bands
    // ONE side-tagged prep lineage for both corpora: a single cached
    // shingle-set materialization and a single signature pass feed the
    // candidate join's two sides and both verification joins. (The gate
    // still runs ~3x the sibling minhashLshPairs: a SELF-join reuses its
    // band-table exchange, a bipartite join cannot — both sides are
    // different filters — and that reuse, not cache count, is the gap;
    // measured equal before/after merging the per-side caches.)
    def side(df: DataFrame, tag: String) = df
      .select(col(idCol).as("doc_id"), col(textCol).as("txt"),
        lit(tag).as("side"))
    val base = side(newDocs, "n").unionByName(side(seenDocs, "s"))
      .select(col("doc_id"), col("side"), shingleSet(col("txt"), n).as("sh"))
      .where(size(col("sh")) > 0)
      .transientCache() // band input + verification sides
    val bandRows = base.select(col("doc_id"), col("side"),
      posexplode(bandKeys(minhashSig(col("sh"), numHashes), bands, rowsPerBand))
        .as(Seq("band", "key")))
    val candidates = bandRows.where(col("side") === "n").alias("x")
      .join(bandRows.where(col("side") === "s").alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("seen_id"))
      .distinct()
    // signature-estimate prefilter before the wide-array verify (see
    // estPrefilter) — signatures recomputed map-side from the cached base
    val estPassed = estPrefilter(candidates, "new_id", "seen_id",
      base.where(col("side") === "n").select(col("doc_id").as("new_id"),
        minhashSig(col("sh"), numHashes).as("mha")),
      base.where(col("side") === "s").select(col("doc_id").as("seen_id"),
        minhashSig(col("sh"), numHashes).as("mhb")),
      numHashes, threshold)
    estPassed
      .join(base.where(col("side") === "n")
        .select(col("doc_id").as("new_id"), col("sh").as("sha")), "new_id")
      .join(base.where(col("side") === "s")
        .select(col("doc_id").as("seen_id"), col("sh").as("shb")), "seen_id")
      .withColumn("c", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("c").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("c")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("seen_id"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Signature-estimate prefilter between candidate generation and exact
    * verification — shared by every MinHash verify stage. The minhash
    * estimate ĵ = (equal slots)/numHashes costs 16·numHashes bytes per
    * pair against the signature tables (orders of magnitude narrower than
    * the shingle arrays the exact verify reads), and a TRUE pair at the
    * threshold fails ĵ ≥ threshold − 4σ (σ² = t(1−t)/numHashes) with
    * probability ≤ ~3e-5 — so the wide-array verification join sees only
    * near-threshold pairs while sub-threshold candidate mass (the
    * mid-similarity structure banding must surface to keep its recall
    * contract) is rejected at signature width. Deterministic: signatures
    * are content hashes, so the filter is stable across runs and engines.
    */
  private def estPrefilter(pairs: DataFrame, aId: String, bId: String,
                           aSigs: DataFrame, bSigs: DataFrame,
                           numHashes: Int, threshold: Double): DataFrame = {
    val cutoff = math.max(0.0, threshold -
      4.0 * math.sqrt(threshold * (1 - threshold) / numHashes))
    pairs.join(aSigs, aId).join(bSigs, bId)
      .withColumn("__est",
        aggregate(zip_with(col("mha"), col("mhb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
      .where(col("__est") >= cutoff)
      .select(aId, bId)
  }

  /** [[crossCorpusPairs]] against a PERSISTED seen-side index
    * ([[graft.store.DedupIndexStore]]) — the operational daily-ingest form:
    * only the new batch is shingled and signed; the historical corpus
    * participates through its stored band table (candidate equi-join) and
    * stored shingle sets (exact-Jaccard verification), both written once at
    * admission. Per-run cost is O(new batch + matched buckets), independent
    * of history size — the whole point of persisting the index.
    *
    * The index's hash-family parameters are validated against this query's
    * (a family mismatch would silently match nothing). Returns
    * (new_id, seen_id, jaccard >= threshold), identical to the recompute
    * path — [[graft.store.DedupIndexStore]]'s tables are exactly the
    * seen-side intermediates of [[crossCorpusPairs]].
    */
  def crossCorpusPairsIndexed(newDocs: DataFrame, idCol: String,
                              textCol: String,
                              index: graft.store.DedupIndexStore,
                              n: Int = 3, numHashes: Int = 128,
                              bands: Int = 32,
                              threshold: Double = 0.8): DataFrame = {
    // numHashes = 0 (with bands = 0) ADOPTS the index's stored band
    // family (the auto-planned-build path: the family was chosen at
    // admission time from the corpus's sampled pair-similarity
    // distribution, and the query must sign the new docs with the SAME
    // family or match nothing); explicit parameters are validated
    // against the store
    require((numHashes == 0) == (bands == 0),
      s"numHashes and bands must be overridden together (got $numHashes, " +
        s"$bands); set both 0 to adopt the index's stored family")
    val (nh, nb) =
      if (numHashes > 0) { index.requireParams(n, numHashes, bands)
        (numHashes, bands) }
      else {
        // ONE meta read for the whole adopt face (n-check + family +
        // threshold): separate params/builtThreshold accessors are a
        // Spark job each — a fixed floor paid per streaming admission
        val p = index.familyMeta
        require(p._1 == n, s"index at ${index.dir} shingles at n=${p._1}, " +
          s"query wants n=$n")
        // the stored family was priced for the threshold recorded at
        // build time (recall target miss <= 1e-4 AT that threshold); a
        // query at a LOWER threshold against an adopted family silently
        // loses that guarantee — surface it
        p._4.filter(t => math.abs(t - threshold) > 1e-9)
          .foreach { t =>
            org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn(
              f"crossCorpusPairsIndexed: adopting family from " +
                f"${index.dir} planned for threshold=$t%.3f but querying " +
                f"at threshold=$threshold%.3f; the targetMiss recall " +
                "guarantee holds only at the build threshold")
          }
        (p._2, p._3) }
    val rowsPerBand = nh / nb
    // CPU-density guard (round-14, the containmentPairsPrefix discipline):
    // the 128-slot MinHashSig loop runs map-side over this frame THREE
    // times (band keys, estimate signature, and — shape-shared — the
    // verify side), and a small batch arrives as a 1-2 partition scan, so
    // without an explicit spread the signing runs single-task (GateProf:
    // dd_incremental wall ≈ summed task time over ~25 tasks). Explicit
    // count = the session conf, so the spread follows the scale knob.
    val numP = newDocs.sparkSession.sessionState.conf.numShufflePartitions
    val newBase = newDocs
      .select(col(idCol).as("doc_id"), shingleSet(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
      .repartition(numP, col("doc_id"))
      .transientCache() // band input + verification side
    val newBands = newBase.select(col("doc_id"),
      posexplode(bandKeys(minhashSig(col("sh"), nh), nb, rowsPerBand))
        .as(Seq("band", "key")))
    val candidates = newBands.alias("x")
      .join(index.bands.alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("seen_id"))
      .distinct()
    // signature-estimate prefilter (see estPrefilter). The store does not
    // persist signatures — they re-derive map-side from the stored shingle
    // sets of the CANDIDATE seen docs only (one bounded semi-join, never a
    // history rescan), which keeps the store schema at bands+shingles
    val candSeen = candidates.select(col("seen_id").as("doc_id")).distinct()
    val estPassed = estPrefilter(candidates, "new_id", "seen_id",
      newBase.select(col("doc_id").as("new_id"),
        minhashSig(col("sh"), nh).as("mha")),
      index.shingles.join(candSeen, "doc_id")
        // CPU-density guard: the candidate seen docs' signatures re-derive
        // map-side here — spread them like newBase above
        .repartition(numP, col("doc_id"))
        .select(col("doc_id").as("seen_id"),
          minhashSig(col("sh"), nh).as("mhb")),
      nh, threshold)
    estPassed
      .join(newBase.select(col("doc_id").as("new_id"), col("sh").as("sha")),
        "new_id")
      .join(index.shingles
        .select(col("doc_id").as("seen_id"), col("sh").as("shb")), "seen_id")
      .withColumn("c", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("c").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("c")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("seen_id"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash signature rows (doc_id, hi, mh): the `numHashes`-slot signature
    * exploded to one row per slot — the exact hash family is replayed by the
    * DuckDB oracle, so the signature itself (not just the final pair set) is
    * cross-engine checked. Computed map-side by the same MinHashSig
    * Expression as [[minhashLshPairs]].
    */
  def minhashSignatureRows(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, numHashes: Int = 128): DataFrame = {
    docs.select(col(idCol).as("doc_id"),
        shingleSet(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0) // empty sets have no signature row
      .select(col("doc_id"),
        posexplode(minhashSig(col("sh"), numHashes)).as(Seq("hi", "mh")))
  }

  /** MinHash Jaccard ESTIMATE next to the exact value for every qualifying
    * near-dup pair — the estimator face of the signature: est = agreeing
    * signature slots / numHashes (an unbiased estimator of Jaccard with
    * sd ≈ sqrt(j(1-j)/k) ≈ 0.035 at j=0.8, k=128). At corpus scale the
    * signatures come from the map-side [[graft.functions.MinHashSig]]
    * expression and the slot comparison runs only on the (few) surviving
    * pairs, so the estimator costs nothing beyond the pair generator.
    */
  def minhashEstimatePairs(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, threshold: Double = 0.8,
                           numHashes: Int = 128): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, n, threshold)
    val sigs = docs.select(col(idCol).as("sid"),
      minhashSig(shingleSet(col(textCol), n), numHashes).as("sig"))
    pairs
      .join(sigs.select(col("sid").as("__a"), col("sig").as("sa")),
        col("id_a") === col("__a"))
      .join(sigs.select(col("sid").as("__b"), col("sig").as("sb")),
        col("id_b") === col("__b"))
      .select(col("id_a"), col("id_b"),
        round(aggregate(
          zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, lit(1L)).otherwise(lit(0L))),
          lit(0L), (acc, v) => acc + v).cast("double") / numHashes, 4)
          .as("est_jaccard"),
        col("jaccard"))
  }

  /** Per-document SimHash over the token multiset: token → polynomial hash →
    * per-bit ±1 vote → sign bit. 30 bits (token hashes are < 2^30).
    * One explode + one groupBy with 30 codegen'd conditional sums.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val th = tok.withColumn("h", charFold(col("tok")))
    val votes = (0 until SimHashBits).map { i =>
      sum(when(shiftright(col("h"), i) % 2 === 1, 1).otherwise(-1)).as(s"s$i")
    }
    val agg = th.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val sim = (0 until SimHashBits).map { i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** SimHash near-duplicate pairs with Hamming distance <= maxDist, using
    * banded LSH over the simhash bits (pigeonhole: distance <= maxDist means
    * at least one of maxDist+1 bands matches exactly) + bit_count verify.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame = {
    val sim = simhash(docs, idCol, textCol)
    val nBands = maxDist + 1
    val bandBits = SimHashBits / nBands // 30/4 = 7 bits per band (last gets rest)
    val bandCols = (0 until nBands).map { b =>
      val lo = b * bandBits
      val width = if (b == nBands - 1) SimHashBits - lo else bandBits
      struct(lit(b).as("band"),
        (shiftright(col("simhash"), lo) % (1L << width)).as("key"))
    }
    // cache: the self-join's probe and broadcast sides would otherwise EACH
    // recompute the token-explode + signature aggregation (a broadcast
    // exchange can't reuse a shuffle exchange, so nothing is shared)
    val bands = sim.select(col("doc_id"), col("simhash"),
      explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .transientCache()
    bands.alias("x").join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        bit_count(expr("x.simhash").bitwiseXOR(expr("y.simhash"))).as("dist"))
      // verify BEFORE dedup: bit_count is a codegen'd map-side filter, so the
      // distinct only shuffles surviving pairs (~1% of banded candidates on
      // near-dup-dense corpora), not every bucket collision
      .where(col("dist") <= maxDist)
      .distinct()
  }

  /** Dedup-cluster canonicalization — the step AFTER pair generation: group
    * near-duplicate pairs into clusters and pick one keeper (minimum id)
    * per cluster. Semantics = `rounds` iterations of min-label propagation
    * over the undirected pair graph (exact connected components when every
    * cluster's diameter <= rounds — true for near-dup clusters, which are
    * cliques-ish; the bounded recurrence is also what a SQL oracle can
    * replay exactly). Each round is one shuffle on the node id; lineage is
    * cut per round. Returns (doc_id, keeper_id) for every doc appearing in
    * a pair.
    */
  def clusterKeepers(pairs: DataFrame, idA: String = "id_a",
                     idB: String = "id_b", rounds: Int = 6,
                     driverMaxEdges: Long = 500_000L): DataFrame = {
    // both edge orientations from ONE pass over `pairs`: a two-branch union
    // would execute the (potentially expensive) upstream pair-generation
    // chain twice — measured 2× the whole jaccard pipeline at sf0.1
    val symPlan = pairs.select(explode(array(
        struct(col(idA).as("u"), col(idB).as("v")),
        struct(col(idB).as("u"), col(idA).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
    // driver fast path below a size bound — the auto-dispatch discipline of
    // the BPE trainer's driver face. A near-dup pair graph is TINY relative
    // to its corpus (pairs are what dedup exists to make rare), yet each
    // distributed round below costs join + checkpoint + convergence-probe
    // JOBS whose fixed overhead dwarfs the data at micro-batch scale —
    // measured 16 s of a 30 s streaming admission at sf0.1 (447 docs, ~5
    // pairs). The in-memory recurrence is the SAME synchronous bounded-
    // rounds min-label propagation (not exact CC — a chain longer than
    // `rounds` must label identically on both paths, and the dd_clusters
    // oracle replays the bounded recurrence), so output is path-invariant;
    // spec-pinned driver == distributed including a >rounds-diameter chain.
    //
    // Dispatch and delivery are ONE bounded job (round-13 job-floor work):
    // the old shape paid three jobs before any label moved — checkpoint
    // the symmetrized edges, count them, then collect — and each job's
    // fixed submission latency dominates at micro-batch scale. The
    // limit(bound+1) probe IS the dispatch test AND, on the driver path,
    // the edge delivery; CollectLimit scans partitions incrementally, so
    // a tiny pair graph rarely touches them all. The distributed path
    // (probe overflow) re-plans with the checkpoint it needs for its
    // per-round reuse — one redundant bounded job at the crossover,
    // nothing at either steady state.
    require(driverMaxEdges < Int.MaxValue, s"driverMaxEdges: $driverMaxEdges")
    val probe =
      if (symPlan.schema("u").dataType ==
          org.apache.spark.sql.types.LongType)
        Some(symPlan.limit(driverMaxEdges.toInt + 1).collect())
      else None
    if (probe.exists(_.length <= driverMaxEdges)) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val adj = new scala.collection.mutable.HashMap[Long,
        scala.collection.mutable.ArrayBuffer[Long]]()
      probe.get.foreach { r =>
        adj.getOrElseUpdate(r.getLong(0),
          new scala.collection.mutable.ArrayBuffer[Long]()) += r.getLong(1)
      }
      var labels: Map[Long, Long] = adj.keysIterator.map(k => k -> k).toMap
      var round = 0
      var changed = true
      while (round < rounds && changed) {
        changed = false
        val next = adj.iterator.map { case (u, vs) =>
          var m = labels(u)
          vs.foreach { v => val l = labels(v); if (l < m) m = l }
          if (m != labels(u)) changed = true
          u -> m
        }.toMap
        labels = next
        round += 1
      }
      return labels.toSeq.sortBy(_._1).toDF("doc_id", "keeper_id")
    }
    val sym = symPlan.localCheckpoint(true)
    var labels = sym.select(col("u").as("doc_id"))
      .distinct().withColumn("lbl", col("doc_id"))
      .localCheckpoint(true)
    // early exit: min-label propagation is monotone, so a round that changes
    // zero labels means the fixpoint is reached and every remaining round is
    // a no-op — identical output, fewer jobs (near-dup clusters converge in
    // 2-3 rounds; `rounds` stays the hard bound so a fixed-round SQL
    // recurrence replays the same answer). The change probe is a limit-1
    // scan over the just-checkpointed round output, not a recompute.
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      val neighborMin = sym
        .join(labels.select(col("doc_id").as("v2"), col("lbl").as("vlbl")),
          col("v") === col("v2"))
        .groupBy(col("u")).agg(min(col("vlbl")).as("nlbl"))
      val next = labels
        .join(neighborMin, col("doc_id") === col("u"), "left_outer")
        .select(col("doc_id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      converged = next.where(col("lbl") =!= col("prev")).isEmpty
      // superseded generation; `next` is materialized
      graft.operators.LocalCp.free(labels)
      labels = next.select(col("doc_id"), col("lbl"))
      round += 1
    }
    labels.select(col("doc_id"), col("lbl").as("keeper_id"))
  }

  /** Connected components over the near-dup pair graph by ALTERNATING
    * STAR CONTRACTION (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond" — large-star / small-star): each round, every
    * node re-points its >-neighbors (large-star) then its <=-neighbors and
    * itself (small-star) at the minimum of its neighborhood, halving tree
    * heights until every component is a star rooted at its minimum id.
    *
    * This is the scale-canonical alternative to [[clusterKeepers]]'
    * bounded min-label propagation: label propagation needs O(diameter)
    * rounds (fine for near-dup clusters, whose diameter is small by
    * construction; wrong tool for chain-shaped components), star
    * contraction converges in O(log n) rounds REGARDLESS of diameter.
    * Same output contract: (doc_id, keeper_id = component-minimum id)
    * for every pair participant.
    *
    * Scale shape per round: two groupBy-min aggregations keyed on the
    * node id (map-side partial agg) + two equi-joins back — all plain
    * hash exchanges bounded by the CURRENT edge set, which only shrinks
    * (dedup + self-loop drop every round). Convergence is an exact
    * edge-set fixpoint test (count equality + one anti-join), and lineage
    * is cut per round with an eager localCheckpoint. No driver-side data
    * beyond the per-round 0/1-row convergence probe.
    */
  def connectedComponentsStar(pairs: DataFrame, idA: String = "id_a",
                              idB: String = "id_b",
                              maxRounds: Int = 50,
                              driverMaxEdges: Long = 500_000L): DataFrame = {
    // one pass over the (potentially expensive) pair source, same reason
    // as clusterKeepers; canonical u<v orientation, self-loops dropped
    val basePlan = pairs
      .select(col(idA).cast("long").as("a"), col(idB).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("v"),
        greatest(col("a"), col("b")).as("u"))
      .distinct()
    // driver fast path below a size bound — the clusterKeepers dispatch
    // discipline (round-14: the gate ran 43 sequential stage-jobs over a
    // ~50-task round loop for a pair graph of a few dozen edges; GateProf
    // measured the wall as pure job floor). Star contraction computes
    // EXACT components with the component minimum as root, so an in-memory
    // union-find over the same edges lands on the identical (doc_id,
    // keeper_id) rows for ANY diameter — property-pinned against the
    // distributed path in DedupSpec. The limit(bound+1) probe is the
    // dispatch test AND, on the driver path, the edge delivery.
    require(driverMaxEdges < Int.MaxValue, s"driverMaxEdges: $driverMaxEdges")
    val probe =
      if (driverMaxEdges > 0)
        Some(basePlan.limit(driverMaxEdges.toInt + 1).collect())
      else None
    if (probe.exists(_.length <= driverMaxEdges)) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = new scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      probe.get.foreach { row =>
        val (v, u) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(v, v); parent.getOrElseUpdate(u, u)
        val (rv, ru) = (find(v), find(u))
        if (rv != ru) { if (rv < ru) parent(ru) = rv else parent(rv) = ru }
      }
      // root-by-union keeps the smaller id, so find() is the component min
      return parent.keysIterator.map(k => (k, find(k))).toSeq
        .sortBy(_._1).toDF("doc_id", "keeper_id")
    }
    val base = basePlan.localCheckpoint(true)
    val participants = base.select(explode(array(col("u"), col("v"))).as("doc_id"))
      .distinct().localCheckpoint(true)
    // edges are (child u -> parent v) pointers with v < u throughout
    var edges = base
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // large-star: m(x) = min over x's full neighborhood (either side of
      // an edge, x itself included); every neighbor y > x re-points to m(x)
      val sym = edges.select(explode(array(
          struct(col("u").as("x"), col("v").as("y")),
          struct(col("v").as("x"), col("u").as("y")))).as("e"))
        .select(col("e.x").as("x"), col("e.y").as("y"))
      val mins = sym.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      val ls = sym.join(mins, "x")
        .where(col("y") > col("x") && col("y") =!= col("m"))
        .select(col("y").as("u"), col("m").as("v"))
        .distinct()
      // small-star: over the re-pointed edges (all parent-oriented v < u),
      // every node and each of its <=-neighbors point at the minimum
      val m2 = ls.groupBy("u").agg(min(col("v")).as("m"))
      val next = ls.join(m2, "u")
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("e"))
        .select(greatest(col("e.a"), col("e.b")).as("u"),
          least(col("e.a"), col("e.b")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct().localCheckpoint(true)
      converged = next.count() == edges.count() &&
        next.exceptAll(edges).isEmpty
      // two-generation live set: the superseded round's checkpoint is
      // unreferenced once the convergence probe has run (participants was
      // materialized eagerly, so round 0's `base` has no other consumer)
      graft.operators.LocalCp.free(edges)
      edges = next
      round += 1
    }
    require(converged, s"star contraction did not converge in $maxRounds rounds")
    // converged state is a star per component: child -> component minimum.
    // Roots (and any isolated participant) keep themselves.
    participants
      .join(edges.groupBy("u").agg(min(col("v")).as("root")),
        col("doc_id") === col("u"), "left_outer")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("keeper_id"))
  }

  /** Duplicated-span REMOVAL — the acting counterpart of
    * [[sharedNgramStats]] (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": scrub exact substrings repeated across
    * documents; C4's boilerplate removal is the same shape at sentence
    * granularity). A token position is covered when ANY word n-gram window
    * through it occurs in >= minDf distinct documents; covered positions
    * drop and the survivors reassemble in order.
    *
    * Scale: positional grams (one explode), one shuffle keyed on the gram
    * for document frequency (inverted-index shape — no pairwise work), a
    * broadcast-or-shuffle semi-join back onto positions, one per-document
    * aggregation to rebuild the text. Everything is O(total tokens).
    * Returns (id, n_tokens, n_removed, cleaned).
    */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 6, minDf: Int = 2): DataFrame = {
    // CPU-density guard (round-14): the positional-gram explode, the
    // per-token posexplode and the per-document reassembly all run
    // map-side over this frame, and a bench-scale corpus arrives as a 1-2
    // partition scan — GateProf measured the gate's wall ≈ its summed task
    // time over 21 tasks (serialized). Count = session conf (scale knob).
    val numP = docs.sparkSession.sessionState.conf.numShufflePartitions
    val base = docs.select(col(idCol).as("rd_id"),
      tokens(col(textCol)).as("toks"))
      .repartition(numP, col("rd_id"))
    val pg = base.where(size(col("toks")) >= n)
      .select(col("rd_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - n)).as("i"))
      .select(col("rd_id"), col("i"),
        concat_ws(" ", slice(col("toks"), col("i") + 1, lit(n))).as("gram"))
    val gramDf = pg.groupBy("gram")
      .agg(countDistinct("rd_id").as("df"))
      .where(col("df") >= minDf)
    val covered = pg.join(gramDf, "gram")
      .select(col("rd_id"),
        explode(sequence(col("i"), col("i") + (n - 1))).as("pos"))
      .distinct()
    val tokPos = base.select(col("rd_id"),
      posexplode(col("toks")).as(Seq("pos", "tok")))
    val keptAgg = tokPos.join(covered, Seq("rd_id", "pos"), "left_anti")
      .groupBy("rd_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("cleaned"))
    base.select(col("rd_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(keptAgg, Seq("rd_id"), "left_outer")
      .select(col("rd_id").as(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Cluster-aware survivor selection — the step a real fuzzy-dedup pipeline
    * runs after [[clusterKeepers]]: keep the HIGHEST-QUALITY document per
    * near-dup cluster (not an arbitrary min-id), and every singleton.
    * `clusters` is the (doc_id, keeper_id) output of [[clusterKeepers]];
    * documents absent from it are their own singleton cluster. Returns every
    * input row plus `cluster_id` and a boolean `kept`. Ties in `scoreCol`
    * break by ascending id, so the selection is deterministic on any engine.
    *
    * Scale: one equi-join on the doc id (the cluster table is
    * pair-participant-sized — far smaller than the corpus) and one window
    * shuffle keyed on cluster_id; near-dup clusters are small and
    * singleton clusters are one row each, so no window partition is ever
    * skewed.
    */
  def keepBest(docs: DataFrame, clusters: DataFrame, idCol: String,
               scoreCol: Column): DataFrame = {
    val cl = clusters.select(col("doc_id").as("__kb_id"),
      col("keeper_id").as("__kb_cluster"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(scoreCol.desc, col(idCol))
    docs.join(cl, docs(idCol) === col("__kb_id"), "left_outer")
      .withColumn("cluster_id", coalesce(col("__kb_cluster"), col(idCol)))
      .drop("__kb_id", "__kb_cluster")
      .withColumn("kept", row_number().over(w) === 1)
  }

  /** Benchmark-contamination detection: documents sharing at least one word
    * `n`-gram with a (small) benchmark/eval set — the decontamination filter
    * every pretraining pipeline runs before training. Inverted-index
    * semi-join through the shingle space: the benchmark's distinct shingles
    * broadcast (eval sets are tiny next to the corpus), so the corpus scan
    * is one map-side join + aggregation, no all-pairs work.
    * Returns (doc_id, n_shared = distinct shared shingles).
    */
  /** Cross-document duplicated-span statistics — exact-substring dedup at
    * word-n-gram anchor granularity (the memorization-scrub / boilerplate
    * census shape): for every document, how many of its distinct n-gram
    * spans also occur in at least one other document. Inverted-index
    * equi-join: one shuffle keyed on the gram to compute document
    * frequency, one aggregation back to the document — no pairwise join
    * anywhere, so cost is O(total spans), not O(docs²).
    */
  def sharedNgramStats(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 6): DataFrame = {
    val spans = docs.select(col(idCol).as("sg_id"),
      explode(shingleSet(col(textCol), n)).as("gram"))
    val gramDocs = spans.groupBy("gram")
      .agg(countDistinct("sg_id").as("gram_docs"))
    val stats = spans.join(gramDocs, "gram")
      .groupBy("sg_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("gram_docs") >= 2, 1L).otherwise(0L)).as("shared_spans"))
      .withColumn("shared_frac",
        round(col("shared_spans").cast("double") / col("n_spans"), 4))
    docs.select(col(idCol)).join(stats, col(idCol) === col("sg_id"), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("shared_spans"), lit(0L)).as("shared_spans"),
        coalesce(col("shared_frac"), lit(0.0)).as("shared_frac"))
  }

  def benchmarkOverlap(docs: DataFrame, idCol: String, textCol: String,
                       bench: DataFrame, benchTextCol: String,
                       n: Int = 8): DataFrame = {
    val ds = docs.select(col(idCol).as("doc_id"),
      explode(shingleSet(col(textCol), n)).as("sh"))
    val bs = broadcast(bench
      .select(explode(shingleSet(col(benchTextCol), n)).as("bsh")).distinct())
    ds.join(bs, col("sh") === col("bsh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** Embedding-cosine near-duplicate pairs (threshold on exact cosine),
    * generated via banded hyperplane-LSH candidates + exact-cosine verify —
    * the same candidates-then-verify shape as [[minhashLshPairs]]. The
    * candidate join shuffles on (table, bucket), never all-pairs, and the
    * cosine filter runs map-side over the join output so the final
    * `distinct` only shuffles surviving pairs.
    *
    * Recall: a pair at cosine c co-buckets per table with probability
    * (1 - acos(c)/pi)^bits. By DEFAULT (bits = tables = 0) the
    * parameterization is derived from the corpus count via
    * [[Similarity.lshPlanFor]] — bits = log2(n/1024) keeps expected bucket
    * population bounded (candidate work linear-ish in n, growing as
    * n^(1 - log2 p1)), tables sized so a true pair at the threshold is
    * missed with probability <= 1e-4. The sf1 scaling decade measured the
    * old FIXED (3, 32) default 17.6x per 10x of corpus (candidates ~
    * tables·n²/2^bits) and the planned parameters sub-quadratic with recall
    * inside the budget (SCALE.md), so planning is the default and explicit
    * (bits, tables) is the small-corpus/verified-recall override. The one
    * cost of auto: a count() job over the vector column before planning.
    */
  def embeddingCosinePairs(embs: DataFrame, idCol: String, vecCol: String,
                           threshold: Double = 0.45, dim: Int = 64,
                           bits: Int = 0, tables: Int = 0,
                           candidateBudget: Long = 100_000_000_000L,
                           force: Boolean = false): DataFrame = {
    val v = embs.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("vec"))
      .withColumn("nrm", sqrt(Similarity.dot(col("vec"), col("vec"))))
      .where(col("nrm") > 0) // zero vectors: cosine undefined (NaN sorts high)
    require((bits > 0) == (tables > 0),
      s"bits and tables must be overridden together (got bits=$bits, " +
        s"tables=$tables); leave both 0 to auto-plan")
    val nVecs = v.count()
    val (useBits, useTables) =
      if (bits > 0 && tables > 0) (bits, tables)
      else Similarity.lshPlanFor(nVecs, threshold)
    // cost guardrail: the exact-threshold pair join's candidate volume
    // grows super-linearly (n^1.62 at threshold 0.45 — SCALE.md sf10); a
    // predicted volume over budget means a job that cannot finish at this
    // scale, so REFUSE it up front and steer to the bounded faces, unless
    // the caller explicitly forces (the reference analog: Kuzu's
    // per-section LIMITs bound every exploration query, library.rs:495-526)
    val cost = Similarity.lshCostFor(nVecs, threshold, useBits, useTables)
    require(force || cost.predictedCandidates <= candidateBudget.toDouble,
      f"embeddingCosinePairs: predicted candidate volume " +
        f"${cost.predictedCandidates}%.3g exceeds budget $candidateBudget " +
        f"at n=$nVecs (bits=$useBits, tables=$useTables, predicted miss " +
        f"${cost.predictedMiss}%.2g). The exact-threshold pair join is " +
        "super-linear by nature; at this scale use the bounded faces — " +
        "AnnIndexStore/Similarity.annIvf top-k per vector, " +
        "Dedup.semanticKeepers over a pre-clustered corpus, or the " +
        "incremental new-vs-seen path — or pass force=true to run anyway.")
    // all table buckets in ONE pass over v (posexplode of the per-table
    // bucket-id array), rather than a tables-way union re-scanning the input.
    // cache: the self-join's two sides would otherwise EACH evaluate the
    // tables×bits hyperplane dot products (a broadcast exchange can't reuse
    // a shuffle exchange — same reason simhashPairs caches its band table)
    val buckets = v.select(col("vid"), col("vec"), col("nrm"),
      posexplode(Similarity.lshBucketArray(col("vec"), dim, useBits,
        useTables)).as(Seq("tbl", "bucket")))
      .transientCache()
    buckets.alias("a").join(buckets.alias("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vid") < col("b.vid"))
      .withColumn("cos",
        Similarity.dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
      // verify BEFORE distinct: only pairs passing the threshold reach the
      // dedup shuffle, and they carry (ids, cosine), not the vectors
      .where(col("cos") >= threshold)
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        round(col("cos"), 4).as("cosine"))
      .distinct()
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication over an embedding
    * column — cluster cosine-near-duplicates and keep ONE representative per
    * semantic cluster. Composes [[embeddingCosinePairs]] (banded
    * hyperplane-LSH candidates, exact-cosine verify) with [[clusterKeepers]]
    * (min-label propagation), then marks every vector: its cluster id (its
    * own id when it has no near-duplicate) and whether it is the kept
    * representative.
    *
    * Scale shape: no all-pairs work — candidate generation shuffles on
    * (table, bucket), clustering shuffles on the vector id for the pair
    * survivors only (near-dup pairs are a vanishing fraction of the corpus),
    * and the final membership join is a left join of the id column against
    * the cluster table.
    */
  def semanticKeepers(embs: DataFrame, idCol: String, vecCol: String,
                      threshold: Double = 0.45, dim: Int = 64,
                      bits: Int = 0, tables: Int = 0,
                      candidateBudget: Long = 100_000_000_000L,
                      force: Boolean = false): DataFrame = {
    val clusters = clusterKeepers(
      embeddingCosinePairs(embs, idCol, vecCol, threshold, dim, bits, tables,
        candidateBudget, force))
    embs.select(col(idCol).as("vid"))
      .join(clusters.withColumnRenamed("doc_id", "vid"), Seq("vid"), "left_outer")
      .select(col("vid").as(idCol),
        coalesce(col("keeper_id"), col("vid")).as("cluster_id"),
        (coalesce(col("keeper_id"), col("vid")) === col("vid")).as("kept"))
  }
}
