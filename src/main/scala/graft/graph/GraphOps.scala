package graft.graph

import org.apache.spark.graphx.{Edge, EdgeDirection, Graph, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{EdgeKind, NodeTag}
import graft.query.QueryLibrary
import graft.store.GraphStore

/** GraphX bridge (SURVEY §7.1 graft.graph): bulk traversals that the
  * per-request DataFrame queries (Q8 one-node neighborhoods) don't cover —
  * k-hop reachability over the whole graph, connected components, degree
  * distributions, multi-hop call closure for *all* definitions at once.
  *
  * vertexId = (nodeTypeTag << 32) | id — per-type id spaces overlap
  * (SURVEY §1.2), the tag disambiguates.
  */
object GraphOps {

  private def tagOf(kindCol: org.apache.spark.sql.Column, from: Boolean) = {
    val k = QueryLibrary.kindFromSide(kindCol, from)
    when(k === "directory", NodeTag.Directory)
      .when(k === "file", NodeTag.File)
      .when(k === "definition", NodeTag.Definition)
      .otherwise(NodeTag.ImportedSymbol)
  }

  /** Pick the topology-cache storage level from the graph's footprint:
    * MEMORY_ONLY (deserialized — no per-iteration decode cost) while the estimated
    * cache fits comfortably, MEMORY_ONLY_SER once it would crowd the
    * storage fraction. Measured basis (SCALE.md round 10, sf10 = 140M
    * edges in a 100 GiB heap): the deserialized topology cache runs
    * ~650 B/edge and its GC pressure costs more than SER's decode —
    * k-core 364 s deserialized vs 312 s serialized, and the warm itself
    * 957 vs 398 s. The crossover is heap-relative, not an absolute edge
    * count: estimated deserialized bytes over half the driver/executor
    * max heap → serialize.
    */
  private[graft] def topologyStorageLevel(
      edgeEstimate: Long): org.apache.spark.storage.StorageLevel =
    if (edgeEstimate * 650L > Runtime.getRuntime.maxMemory / 2)
      org.apache.spark.storage.StorageLevel.MEMORY_ONLY_SER
    else org.apache.spark.storage.StorageLevel.MEMORY_ONLY

  /** The store as a TOPOLOGY-ONLY GraphX graph: every node of the four
    * node tables is a vertex, edges carry no attributes, and the layout is
    * EdgePartition2D (vertex replication bounded at sqrt(numParts) — the
    * standard layout for iterative algorithms). None of the iterative
    * consumers (PageRank/PPR/HITS/k-hop/degrees) reads kind/label strings,
    * and caching them dominated an attributed graph's footprint (~100+
    * bytes/element vs 16 bytes of packed ids): at the 140M-edge
    * second-decade probe a string-attributed cache overflowed a 106 GiB
    * heap while this one fits in memory. Attributes live in the columnar
    * store and join back by id AFTER the iteration, not inside it.
    */
  def toTopology(store: GraphStore): Graph[Unit, Unit] = {
    // footprint-aware storage pick: edges.count() against the cacheAll'd
    // store is a cached-scan aggregate, paid once per long-lived graph
    val level = topologyStorageLevel(store.edges.count())
    val vertices = store.directories
      .select(NodeTag.vertexIdCol(NodeTag.Directory, col("id")).as("vid"))
      .unionByName(store.files
        .select(NodeTag.vertexIdCol(NodeTag.File, col("id")).as("vid")))
      .unionByName(store.definitions
        .select(NodeTag.vertexIdCol(NodeTag.Definition, col("id")).as("vid")))
      .unionByName(store.importedSymbols
        .select(NodeTag.vertexIdCol(NodeTag.ImportedSymbol, col("id")).as("vid")))
      .rdd.map(r => (r.getLong(0), ()))
    val edges = store.edges
      .select(
        (tagOf(col("kind"), from = true) * lit(1L << 32) + col("source_id")).as("src"),
        (tagOf(col("kind"), from = false) * lit(1L << 32) + col("target_id")).as("dst"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    Graph(vertices, edges, defaultVertexAttr = (),
        edgeStorageLevel = level, vertexStorageLevel = level)
      .partitionBy(
        org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)
  }

  /** Vertices reachable from `start` within `maxHops` (directed), via Pregel.
    * Returns (vertexId, hops). The Pregel superstep count is bounded by
    * maxHops — each superstep is one join-shaped message exchange.
    *
    * DRIVER-SIDE CONVENIENCE FACE: the result is collected, so it is capped
    * at `maxVertices` rows (take, not collect — a high-fan-out closure
    * cannot OOM the driver; it throws past the cap instead of silently
    * truncating). The distributed face for unbounded results is
    * [[kHopDf]] — that is what the gates use.
    */
  def kHopFrom[VD: scala.reflect.ClassTag, ED: scala.reflect.ClassTag](
               graph: Graph[VD, ED],
               start: VertexId, maxHops: Int,
               maxVertices: Int = 100000): Map[VertexId, Int] = {
    val capped = kHopVertices(graph, start, maxHops)
      .filter(_._2 != Int.MaxValue).take(maxVertices + 1)
    require(capped.length <= maxVertices,
      s"kHopFrom result exceeds $maxVertices vertices; use kHopDf for " +
        "unbounded closures")
    capped.toMap
  }

  private def kHopVertices[VD: scala.reflect.ClassTag,
      ED: scala.reflect.ClassTag](graph: Graph[VD, ED],
      start: VertexId, maxHops: Int) = {
    val init = graph.mapVertices((vid, _) =>
      if (vid == start) 0 else Int.MaxValue)
    init.pregel(Int.MaxValue, maxHops, EdgeDirection.Out)(
      (_, attr, msg) => math.min(attr, msg),
      triplet =>
        if (triplet.srcAttr != Int.MaxValue && triplet.srcAttr + 1 < triplet.dstAttr)
          Iterator((triplet.dstId, triplet.srcAttr + 1))
        else Iterator.empty,
      (a, b) => math.min(a, b)).vertices
  }

  /** Distributed k-hop result: (tag, id, hops) for every vertex reachable
    * from `start` in <= maxHops directed hops — the no-collect face of
    * [[kHopFrom]] for gate checks and large result sets.
    */
  def kHopDf[VD: scala.reflect.ClassTag, ED: scala.reflect.ClassTag](
             graph: Graph[VD, ED],
             spark: SparkSession, start: VertexId, maxHops: Int): DataFrame = {
    import spark.implicits._
    kHopVertices(graph, start, maxHops)
      .filter(_._2 != Int.MaxValue)
      .map { case (vid, h) => (vid >> 32, vid & 0xffffffffL, h) }
      .toDF("tag", "id", "hops")
  }

  /** PageRank over the whole graph (bulk analytics beyond the reference's
    * per-node queries): importance of definitions by incoming call mass.
    * Returns (kind, id, rank) sorted descending.
    */
  def pageRankOf[VD: scala.reflect.ClassTag, ED: scala.reflect.ClassTag](
                 g: Graph[VD, ED],
                 spark: SparkSession, iters: Int = 10,
                 resetProb: Double = 0.15): DataFrame =
    pageRankDf(g, spark, iters, resetProb)
      .orderBy(col("rank").desc, col("tag"), col("id"))

  /** Unordered (tag, id, rank) pagerank result — callers pick the sort.
    * Gate queries order by a *rounded* rank so the float summation-order
    * noise (~1e-15) can never flip the cross-engine comparison.
    */
  def pageRankDf[VD: scala.reflect.ClassTag, ED: scala.reflect.ClassTag](
                 g: Graph[VD, ED],
                 spark: SparkSession, iters: Int = 10,
                 resetProb: Double = 0.15): DataFrame = {
    import spark.implicits._
    g.staticPageRank(iters, resetProb).vertices
      .map { case (vid, r) => (vid >> 32, vid & 0xffffffffL, r) }
      .toDF("tag", "id", "rank")
  }

  /** Reverse k-hop: vertices that can REACH `target` within `maxHops`
    * directed hops — [[kHopDf]] over [[Graph.reverse]] (GraphX's edge-flip
    * view is metadata-only; no data movement). The impact-analysis query:
    * "what could be affected by changing this definition".
    */
  def kHopToDf[VD: scala.reflect.ClassTag, ED: scala.reflect.ClassTag](
               graph: Graph[VD, ED],
               spark: SparkSession, target: VertexId,
               maxHops: Int): DataFrame =
    kHopDf(graph.reverse, spark, target, maxHops)

  /** Degree distribution per node kind — a bulk-analytics op the reference's
    * per-node Q8 cannot express without N queries.
    */
  def degreeByKindOf[VD: scala.reflect.ClassTag, ED: scala.reflect.ClassTag](
                     g: Graph[VD, ED],
                     spark: SparkSession): DataFrame = {
    import spark.implicits._
    val deg = g.degrees.map { case (vid, d) => (vid >> 32, d) }
      .toDF("tag", "degree")
    deg.groupBy("tag").agg(count(lit(1)).as("n_nodes"),
      max(col("degree")).as("max_degree"),
      round(avg(col("degree")), 4).as("avg_degree"))
      .orderBy("tag")
  }

  /** Top-`topK` vertices by triangle participation over the undirected,
    * kind-tagged graph. Pure DataFrame program — no GraphX — because
    * triangle enumeration is exactly two shuffle equi-joins on canonical
    * (u < v) edges: e1(u,v) ⋈ e2(v,w) ⋈ e3(u,w). Both joins key on vertex
    * ids, so at cluster scale they are plain hash-partitioned exchanges;
    * the per-vertex census is one more partial-agg shuffle and the top-k
    * is TakeOrdered, never a global sort. Output: (tag, id, n_triangles,
    * rank) with ties broken by packed vertex id.
    */
  def triangleTopVertices(edges: DataFrame, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tri = enumerateTriangles(canonicalUndirected(edges))
    val part = tri.select(explode(array(col("x"), col("y"), col("z"))).as("vid"))
      .groupBy("vid").agg(count(lit(1)).as("n_triangles"))
    part.orderBy(col("n_triangles").desc, col("vid")).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_triangles").desc, col("vid"))).cast("int"))
      .select(shiftright(col("vid"), 32).as("tag"),
        (col("vid") % lit(1L << 32)).as("id"),
        col("n_triangles"), col("rank"))
  }

  /** k-CORE of the undirected graph — the standard graph-curation
    * subgraph (every vertex of the k-core has >= k neighbors INSIDE it):
    * the dense backbone that survives when leaves and near-leaves are
    * recursively peeled, the filter a graph-sampling / embedding pipeline
    * applies before expensive per-vertex work. Returns one row per core
    * vertex: (tag, id, core_degree), core_degree = its degree within the
    * k-core, ordered by (core_degree desc, vid).
    *
    * Method: parallel peeling — drop every vertex with current degree
    * < k, recompute, repeat to fixpoint (Matula & Beck 1983's decomposition
    * restricted to one k; each round is one degree aggregation + two
    * semi-joins, all keyed on vertex ids; rounds = peel depth, bounded by
    * `maxRounds` with a hard require so a pathological graph fails loudly
    * rather than silently returning a non-core). The edge frame is
    * localCheckpoint'd per round — lineage stays O(1) in rounds; the only
    * driver traffic is one count per round. Each round UNPERSISTS the
    * superseded checkpoint once its successor is materialized: without
    * that, every peel round's full edge frame stays cached for the life
    * of the loop (rounds × |E| blocks), which at the sf10 second decade
    * showed up as a +29% GC overshoot on top of the 90 GiB warm store —
    * the live set is only ever two generations (current + candidate).
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 16): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    var und = canonicalUndirected(edges).localCheckpoint(true)
    var prev = und.count()
    var converged = false
    var r = 0
    while (!converged && r < maxRounds) {
      val deg = und.select(explode(array(col("u"), col("v"))).as("vid"))
        .groupBy("vid").agg(count(lit(1)).as("dg"))
      // prune by the DROP set, not the keep set (round-13): "both
      // endpoints >= k" ≡ "neither endpoint < k" (every endpoint has a
      // degree row by construction), and the per-round drop set is the
      // small side — after round one it is a sliver of the vertex set, so
      // the runtime planner broadcasts it and the edge frame is never
      // exchanged; the keep-side semi-joins shuffled the surviving edges
      // twice per round
      val drop = deg.where(col("dg") < k).select("vid")
      val pruned = und
        .join(drop.select(col("vid").as("u")), Seq("u"), "left_anti")
        .join(drop.select(col("vid").as("v")), Seq("v"), "left_anti")
        .localCheckpoint(true)
      val n = pruned.count()
      if (n == prev) { converged = true; graft.operators.LocalCp.free(pruned) }
      else { graft.operators.LocalCp.free(und); und = pruned; prev = n; r += 1 }
    }
    require(converged, s"k-core peeling did not converge in $maxRounds rounds")
    und.select(explode(array(col("u"), col("v"))).as("vid"))
      .groupBy("vid").agg(count(lit(1)).as("core_degree"))
      .select(shiftright(col("vid"), 32).as("tag"),
        (col("vid") % lit(1L << 32)).as("id"),
        col("core_degree"))
      .orderBy(col("core_degree").desc, col("tag"), col("id"))
  }

  /** Personalized PageRank from one source vertex — "importance relative
    * to THIS definition", the recommendation/relatedness face the global
    * PageRank can't express. Standard power iteration with a point reset:
    * ppr_0(v) = I(v = src); ppr_{k+1}(v) = resetProb · I(v = src) +
    * (1 − resetProb) · Σ_{u→v} ppr_k(u) / outdeg(u), run a fixed `iters`
    * rounds. Returns the top-k (tag, id, rank) with ranks rounded to 6.
    *
    * Execution: the same lazy GraphX chain as [[hitsTopOf]] — vertex attr
    * carries (rank, outdeg), each round is one aggregateMessages + one
    * outerJoinVertices, no driver action until the terminal top-k.
    */
  def personalizedPageRankTop[VD: scala.reflect.ClassTag,
      ED: scala.reflect.ClassTag](
      graph: Graph[VD, ED], spark: SparkSession, src: VertexId,
      iters: Int = 5, resetProb: Double = 0.15,
      topK: Int = 20): DataFrame = {
    import spark.implicits._
    var g = graph.outerJoinVertices(graph.outDegrees) { (vid, _, d) =>
      (if (vid == src) 1.0 else 0.0, d.getOrElse(0))
    }.cache()
    for (_ <- 1 to iters) {
      val msgs = g.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr._1 / ctx.srcAttr._2), _ + _)
      g = g.outerJoinVertices(msgs) { (vid, old, m) =>
        ((if (vid == src) resetProb else 0.0) +
          (1.0 - resetProb) * m.getOrElse(0.0), old._2)
      }.cache()
    }
    g.vertices
      .map { case (vid, (r, _)) => (vid >> 32, vid & 0xffffffffL, r) }
      .toDF("tag", "id", "r")
      .select(col("tag"), col("id"), round(col("r"), 6).as("rank"))
      .orderBy(col("rank").desc, col("tag"), col("id")).limit(topK)
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over the directed typed
    * graph, fixed `iters` mutual-reinforcement rounds with MAX
    * normalization (divide by the max score each half-step — one
    * deterministic division per vertex from a 1-row aggregate, instead of
    * the L2 norm's order-sensitive sqrt-of-sum): authority(v) = Σ hub of
    * in-neighbors, hub(u) = Σ authority of out-neighbors. Returns the
    * top-k by (authority, hub) with scores rounded to 6 — the ranking
    * face PageRank's single score can't express (a file that CALLS many
    * central definitions is a hub even when nothing points at it).
    *
    * Execution: GraphX `aggregateMessages` on the cached partitioned
    * graph (the EdgePartition2D layout the other iterative algorithms
    * share) — a DataFrame loop of the same recurrence measured 6x slower
    * at sf0.1 (10 materialized shuffle rounds vs in-memory vertex
    * replication). Each half-step is one message aggregation, one 1-value
    * max reduce, one vertex outer join.
    */
  def hitsTop(edges: DataFrame, iters: Int = 5, topK: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    val pe = edges.select(
      (tagOf(col("kind"), from = true) * lit(1L << 32) + col("source_id")).as("src"),
      (tagOf(col("kind"), from = false) * lit(1L << 32) + col("target_id")).as("dst"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    hitsTopOf(Graph.fromEdges(pe, ()), spark, iters, topK)
  }

  def hitsTopOf[VD: scala.reflect.ClassTag, ED: scala.reflect.ClassTag](
      graph: Graph[VD, ED], spark: SparkSession,
      iters: Int = 5, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // Every half-step is LINEAR in the previous vector, so the per-round
    // max normalization is a scalar the next round carries through — the
    // final normalized vector is identical whether the divisions happen
    // per round or once at the end. Deferring them makes the whole loop
    // LAZY: no driver action, no per-step materialization barrier; the
    // single terminal job evaluates the cached chain once. (Magnitudes
    // grow ~ (d_in·d_out)^iters — far inside double range for any graph
    // whose census is computable at all.)
    var g = graph.mapVertices((_, _) => (0.0, 1.0)).cache()
    for (_ <- 1 to iters) {
      val authRaw = g.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr._2), _ + _)
      val g1 = g.outerJoinVertices(authRaw) { (_, old, a) =>
        (a.getOrElse(0.0), old._2)
      }.cache()
      val hubRaw = g1.aggregateMessages[Double](
        ctx => ctx.sendToSrc(ctx.dstAttr._1), _ + _)
      g = g1.outerJoinVertices(hubRaw) { (_, old, h) =>
        (old._1, h.getOrElse(0.0))
      }.cache()
    }
    // only edge-endpoint vertices participate in the ranking (isolated
    // vertices carry untouched seeds — the oracle's vertex universe is
    // the edge endpoints)
    val scores = g.vertices.innerJoin(g.degrees)((_, s, _) => s)
      .map { case (vid, (a, h)) => (vid >> 32, vid & 0xffffffffL, a, h) }
      .toDF("tag", "id", "a", "h").cache()
    val norms = scores.agg(max("a").as("am"), max("h").as("hm"))
    val w = Window.orderBy(col("auth").desc, col("hub").desc,
      col("tag"), col("id"))
    scores.crossJoin(norms)
      .select(col("tag"), col("id"),
        round(col("a") / col("am"), 6).as("auth"),
        round(col("h") / col("hm"), 6).as("hub"))
      .orderBy(col("auth").desc, col("hub").desc, col("tag"), col("id"))
      .limit(topK)
      .withColumn("rank", row_number().over(w).cast("int"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over the
    * undirected graph, run for a FIXED `rounds` — the community-detection
    * face (modules, file clusters, shared-utility hubs emerge as label
    * plateaus). Deterministic by construction: labels start as the packed
    * vertex id, every round each vertex adopts its neighbors' most
    * frequent previous-round label with ties broken to the SMALLEST label
    * (sync LPA can oscillate on bipartite structure, so the operator is
    * DEFINED as R-round propagation — the same contract as GraphX's own
    * `LabelPropagation.run(maxSteps)` — rather than run-to-convergence).
    * Returns (tag, id, label) for every vertex with >= 1 edge.
    *
    * Scale shape per round: one label join keyed on vertex id, one
    * (vid, label)-keyed partial-agg count, one max(struct) argmax — no
    * windows over unbounded partitions; labels checkpointed per round so
    * lineage stays O(1) in rounds.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be positive: $rounds")
    val und = canonicalUndirected(edges)
    val adj = und.select(col("u").as("a"), col("v").as("b"))
      .unionByName(und.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint(true)
    var labels = adj.select(col("a").as("vid")).distinct()
      .withColumn("lbl", col("vid"))
    // the round recurrence is a SINGLE-CONSUMER chain (each round reads the
    // previous labels exactly once and the checkpointed adj once), so the
    // loop stays LAZY and the terminal action evaluates all rounds as one
    // job — round-14: the old eager per-round localCheckpoint made every
    // round its own driver job whose fixed submission/analysis floor, not
    // the shuffles, was the gate's wall (g_label_prop 8.8 s at sf0.1 for 4
    // rounds of KB-scale aggregations; scaling ratio 1.06 = pure floor).
    // Lineage stays bounded for ANY rounds via a checkpoint every
    // `cpEvery` rounds (the kCore/callClosure O(1)-lineage discipline —
    // plan depth never exceeds cpEvery rounds).
    val cpEvery = 8
    // the previous intermediate checkpoint, freed once its successor is
    // materialized — NOT LocalCp.free(labels) on a lazy chain, whose leaf
    // walk would reach (and free) the still-live adj checkpoint
    var prevCp: Option[DataFrame] = None
    for (r <- 1 to rounds) {
      val counts = adj
        .join(labels.select(col("vid").as("b"), col("lbl")), "b")
        .groupBy(col("a").as("vid"), col("lbl"))
        .agg(count(lit(1)).as("n"))
      // argmax with min-label tie-break as one max(struct): highest n,
      // then highest -lbl == lowest lbl
      var next = counts
        .groupBy("vid")
        .agg(max(struct(col("n"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("vid"), (-col("m.neg")).as("lbl"))
      if (r % cpEvery == 0 && r < rounds) {
        next = next.localCheckpoint(true)
        prevCp.foreach(graft.operators.LocalCp.free(_))
        prevCp = Some(next)
      }
      labels = next
    }
    labels.select(shiftright(col("vid"), 32).as("tag"),
        (col("vid") % lit(1L << 32)).as("id"), col("lbl").as("label"))
      .orderBy("tag", "id")
  }

  /** `df` unless its every use would recompute a non-trivial plan: frames
    * that are already block-backed (a localCheckpoint's LogicalRDD leaf,
    * possibly under pure filter/project — the DOULION sample's shape) pass
    * through; anything with a shuffle-bearing operator (aggregate, join,
    * distinct) is localCheckpoint'd eagerly so multi-consumer callers pay
    * its computation once.
    */
  private def ensureMaterialized(df: DataFrame): DataFrame = {
    def cheap(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Boolean = p match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        cheap(f.child)
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        cheap(pr.child)
      case _ => false
    }
    if (cheap(df.queryExecution.optimizedPlan)) df
    else df.localCheckpoint(true)
  }

  /** Canonical undirected (u < v, distinct, loop-free) packed-vertex edges
    * from the kind-tagged edge table.
    */
  private[graft] def canonicalUndirected(edges: DataFrame): DataFrame = {
    val tagged = edges.select(
      (tagOf(col("kind"), from = true) * lit(1L << 32) + col("source_id")).as("a"),
      (tagOf(col("kind"), from = false) * lit(1L << 32) + col("target_id")).as("b"))
    tagged.where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
  }

  /** Triangle enumeration (x, y, z) over canonical undirected edges.
    * Degree-ordered orientation: direct every edge from its lower-(degree,
    * id) endpoint. Out-degrees are then bounded by O(sqrt(m)), so the wedge
    * join's intermediate is sum(outdeg^2) <= m^1.5 instead of a hub's full
    * degree^2 — the standard enumeration bound (Schank & Wagner 2005).
    * Every triangle {x,y,z} with x<y<z in (deg,id) order is counted exactly
    * once: both wedge arms leave x, the closing edge is oriented y -> z.
    */
  private[graft] def enumerateTriangles(und0: DataFrame): DataFrame = {
    // `und` has two appearances in the eager `dir` checkpoint below (the
    // degree aggregation and the orientation join's left side), so a lazy
    // input — the round-13 profile caught triangleTopVertices paying the
    // canonicalUndirected distinct (a 1.5M-row shuffle at sf0.1) twice
    // inside that single job, ~40% of the gate's build phase — is
    // materialized once up front. Callers that already hold a
    // materialized frame (the store faces checkpoint before calling; the
    // DOULION faces sample from a checkpointed parent) skip the extra
    // pass: a LogicalRDD leaf, or a pure filter/project over one, is
    // already block-backed.
    val und = ensureMaterialized(und0)
    val deg = und.select(explode(array(col("u"), col("v"))).as("vid"))
      .groupBy("vid").agg(count(lit(1)).as("dg"))
    val dir = und
      .join(deg.select(col("vid").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("vid").as("v"), col("dg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
          .otherwise(
            struct(col("v").as("s"), col("u").as("t"), col("du").as("dt")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
      .localCheckpoint(true) // three join appearances; cut the upstream chain
    dir.as("e1")
      .join(dir.as("e2"), col("e2.s") === col("e1.s") &&
        (col("e1.dt") < col("e2.dt") ||
          (col("e1.dt") === col("e2.dt") && col("e1.t") < col("e2.t"))))
      .join(dir.as("e3"),
        col("e3.s") === col("e1.t") && col("e3.t") === col("e2.t"))
      .select(col("e1.s").as("x"), col("e1.t").as("y"), col("e2.t").as("z"))
  }

  /** DOULION approximate triangle count (Tsourakakis, Kang, Miller &
    * Faloutsos, KDD 2009): keep each undirected edge independently with
    * probability p, count triangles exactly on the sparsified graph, scale
    * by 1/p^3 — an unbiased estimator whose enumeration cost drops by ~p^3.
    * This is the 100 TB face of [[triangleTopVertices]]'s exact census: at
    * p = 0.1 the wedge join touches ~1% of the pairs.
    *
    * The coin is DETERMINISTIC — [[graft.functions.TextFunctions.charFold]]
    * of "u:v", passed through a quadratic finalizer ((h² mod P)·31 + h)
    * mod P, then mod 100 < pPercent — so the same sample is drawn on every
    * run and on any engine (the DuckDB oracle replays the identical fold
    * and must land on the identical estimate: the estimator itself is
    * hash-gated, not just an error bound). The finalizer matters: the raw
    * polynomial fold is LINEAR in the last characters, so edges sharing a
    * vertex (same "u:" prefix) get kept in contiguous-v runs — correlated
    * coins that enrich sampled triangles ~2× in measurement. Squaring mod P
    * breaks the linearity; all intermediates stay under 2^63 in both
    * engines. `pPercent` must divide 100 so the 1/p^3 scale-up
    * (100/pPercent)^3 stays exact integer arithmetic.
    *
    * Output (one row): p_pct, n_edges, n_sampled_edges, est_triangles,
    * exact_triangles, within_tol — |est - exact| <= tolPct% of exact,
    * computed in BIGINT math. At cluster scale the exact column is the
    * thing this estimator replaces; it rides along here as the in-query
    * error audit (the `ann_lsh_topk` recall-bound pattern).
    */
  /** Estimator-ONLY DOULION face — what a 100 TB run actually executes:
    * sample edges with the same deterministic coin as
    * [[doulionTriangleGate]], orient, count, scale by 1/p³; NO exact census
    * rides along. Cost is ~p³ of the exact enumeration's wedge work (the
    * gate variant exists to audit the error in-query at test scale; this
    * face is the production entry point it certifies). Output (one row):
    * p_pct, n_edges, n_sampled_edges, est_triangles.
    */
  def doulionEstimate(edges: DataFrame, pPercent: Int = 20): DataFrame = {
    require(pPercent > 0 && pPercent <= 100 && 100 % pPercent == 0,
      s"pPercent must divide 100: $pPercent")
    val und = canonicalUndirected(edges)
      .localCheckpoint(true) // two consumers: edge census + sample
    val sampled = und.where(doulionCoin < pPercent)
    val scale = (100L / pPercent) * (100L / pPercent) * (100L / pPercent)
    val est = enumerateTriangles(sampled)
      .agg((count(lit(1)) * scale).as("est_triangles"))
    und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(sampled.agg(count(lit(1)).as("n_sampled_edges")))
      .crossJoin(est)
      .select(lit(pPercent).cast("int").as("p_pct"), col("n_edges"),
        col("n_sampled_edges"), col("est_triangles"))
      .orderBy("p_pct")
  }

  /** Exact triangle total over the kind-tagged edge table — the census
    * [[doulionEstimate]] approximates. Exposed for error audits
    * (estimator-vs-census cost and error at sf1: SCALE.md round 7
    * "Estimator-only DOULION face"); the production-scale entry point is
    * the estimator.
    */
  def exactTriangleCount(edges: DataFrame): Long =
    enumerateTriangles(canonicalUndirected(edges)).count()

  /** INCREMENTAL triangle maintenance — the edge-append face of the
    * census: the exact CHANGE in triangle count when `newEdges` joins a
    * graph already holding `seenEdges`, computed by enumerating only
    * triangles that TOUCH a new edge (cost ∝ new edges × average degree),
    * never re-censusing history — the same admission-time discipline as
    * [[graft.store.DedupIndexStore]]'s incremental dedup.
    *
    * Method: every triangle gaining >= 1 new edge is discovered once per
    * new edge it contains (for each truly-new canonical edge (u, v), the
    * common neighbors w of u and v over the merged adjacency close a
    * triangle). Attaching k = how many of the triangle's three edges are
    * new and summing 6/k (k ∈ {1,2,3} all divide 6) counts each triangle
    * exactly 6×, so the integer sum / 6 is the exact delta — no fractions,
    * no dedup shuffle over triangle keys. Already-seen duplicates of
    * "new" edges are anti-joined away first, so re-admitting an edge adds
    * zero.
    *
    * Plan shape: one anti-join (new vs seen), one symmetric-adjacency
    * union, a wedge equi-join keyed on the new edge's endpoints, a
    * membership probe keyed (v, w), two left joins flagging the other two
    * edges' newness, one scalar sum. All exchanges key on vertex ids.
    *
    * Returns (number of truly-new canonical undirected edges, exact
    * triangle-count delta).
    */
  def triangleDelta(newEdges: DataFrame, seenEdges: DataFrame): (Long, Long) = {
    val s = canonicalUndirected(seenEdges).localCheckpoint(true)
    val (n, delta) = triangleDeltaCanonical(canonicalUndirected(newEdges), s)
    (n.count(), delta)
  }

  /** The delta core over CANONICAL (u < v, distinct) edge frames — the
    * entry point for callers whose seen side is ALREADY materialized
    * (the [[graft.store.TriangleStore]] reads it from parquet), so the
    * O(m) canonicalize+checkpoint floor the one-shot face pays
    * (measured ~20 s of the sf1 delta, SCALE.md round-8) is skipped and
    * the admission cost is the marginal wedge join ∝ new edges. Returns
    * (the truly-new canonical edges, checkpointed — the exact rows an
    * admission should append to its store — and the exact triangle-count
    * delta).
    */
  private[graft] def triangleDeltaCanonical(
      newCanon: DataFrame, seenCanon: DataFrame): (DataFrame, Long) = {
    val s = seenCanon
    val n = newCanon
      .join(s, Seq("u", "v"), "left_anti")
      .localCheckpoint(true)
    // replay short-circuit (round-13): a re-admitted batch anti-joins to
    // ZERO truly-new edges, yet the wedge machinery below still paid the
    // full symmetric-adjacency union + checkpoint of the whole stored
    // graph to count triangles over an empty probe — the store gates'
    // crash-replay twins ran it on every second admit. No new edges ⇒
    // delta is 0 by definition.
    if (n.isEmpty) return (n, 0L)
    val all = s.unionByName(n)
    // symmetric membership (a, b): edge {a, b} exists in the merged graph
    val adj = all.select(col("u").as("a"), col("v").as("b"))
      .unionByName(all.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint(true)
    // probe each new edge's wedges from its LOWER-degree endpoint (the
    // census's orientation discipline applied to the delta): the wedge
    // intermediate is then Σ min(deg u, deg v) over new edges instead of
    // Σ deg(u) — identical result (common neighbors are symmetric),
    // decisive under skew where a new edge touching a hub would otherwise
    // expand the hub's whole neighborhood
    val deg = adj.groupBy(col("a").as("dv")).agg(count(lit(1)).as("dg"))
    val anchored = n
      .join(deg.select(col("dv").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("dv").as("v"), col("dg").as("dvg")), "v")
      .select(col("u"), col("v"),
        when(col("du") <= col("dvg"), col("u")).otherwise(col("v"))
          .as("anchor"),
        when(col("du") <= col("dvg"), col("v")).otherwise(col("u"))
          .as("other"))
    // (u, v, w): (u,v) is new, w adjacent to the anchor, {other, w} present
    val wedges = anchored
      .join(adj.select(col("a").as("anchor"), col("b").as("w")), "anchor")
      .where(col("w") =!= col("other"))
    val tris = wedges.join(
      adj.select(col("a").as("other"), col("b").as("w")),
      Seq("other", "w"))
    val nFlag = n.select(col("u").as("fa"), col("v").as("fb"),
      lit(1).as("isN"))
    val withK = tris
      .join(nFlag,
        least(col("u"), col("w")) === col("fa") &&
          greatest(col("u"), col("w")) === col("fb"), "left_outer")
      .withColumn("k1", coalesce(col("isN"), lit(0))).drop("fa", "fb", "isN")
      .join(nFlag,
        least(col("v"), col("w")) === col("fa") &&
          greatest(col("v"), col("w")) === col("fb"), "left_outer")
      .withColumn("k2", coalesce(col("isN"), lit(0)))
      .withColumn("k", lit(1) + col("k1") + col("k2"))
    // 6/k is exact in doubles for k ∈ {1,2,3}; coalesce: no-new-triangles
    // sums to null
    val sum6 = withK.agg(coalesce(sum(lit(6) / col("k")), lit(0.0))
      .cast("long")).head().getLong(0)
    require(sum6 % 6 == 0, s"delta accounting must divide 6: $sum6")
    (n, sum6 / 6)
  }

  /** The shared deterministic DOULION edge coin in [0, 100) — charFold of
    * "u:v" through the quadratic finalizer (see [[doulionTriangleGate]] for
    * why the finalizer is load-bearing).
    */
  private def doulionCoin: org.apache.spark.sql.Column = {
    val P = 1000000007L
    val h = graft.functions.TextFunctions.charFold(
      concat(col("u").cast("string"), lit(":"), col("v").cast("string")))
    ((h * h) % P * 31 + h) % P % 100
  }

  def doulionTriangleGate(edges: DataFrame, pPercent: Int = 20,
                          tolPct: Int = 30): DataFrame = {
    require(pPercent > 0 && pPercent <= 100 && 100 % pPercent == 0,
      s"pPercent must divide 100: $pPercent")
    val und = canonicalUndirected(edges)
      .localCheckpoint(true) // two consumers: exact census + sample
    val sampled = und.where(doulionCoin < pPercent)
    val scale = (100L / pPercent) * (100L / pPercent) * (100L / pPercent)
    val exact = enumerateTriangles(und)
      .agg(count(lit(1)).as("exact_triangles"))
    val est = enumerateTriangles(sampled)
      .agg((count(lit(1)) * scale).as("est_triangles"))
    val edgeCounts = und.agg(count(lit(1)).as("n_edges"))
    val sampleCounts = sampled.agg(count(lit(1)).as("n_sampled_edges"))
    edgeCounts.crossJoin(sampleCounts).crossJoin(est).crossJoin(exact)
      .select(lit(pPercent).cast("int").as("p_pct"), col("n_edges"),
        col("n_sampled_edges"), col("est_triangles"), col("exact_triangles"),
        (abs(col("est_triangles") - col("exact_triangles")) * 100 <=
          col("exact_triangles") * tolPct).as("within_tol"))
      .orderBy("p_pct")
  }
}
