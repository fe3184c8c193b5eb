package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Distributed graph analytics over relationship data the warehouse
  * already holds — the co-occurrence graph build, fixed-point PageRank,
  * and degree-oriented triangle counting that power "related items",
  * influence ranking, and community-density diagnostics at corpus scale.
  *
  * All three are expressed as joins + aggregations on edge lists (no
  * driver-side graph object, no collect): the natural Spark shape, where
  * every step shuffles on a node or edge key and therefore scales
  * horizontally. Ranks use scaled integer arithmetic (fixed-point longs)
  * so results are bit-exact and engine-independent — the d124/d125
  * convention: keep the iterated arithmetic in integers, never let two
  * engines disagree on a float reduction order.
  */
object Graphs {

  /** Fixed-point scale for PageRank: ranks are longs in units of
    * 1e-6 "probability mass per node" (initial rank = Scale). */
  val Scale = 1000000L

  /** Item co-occurrence graph (d127): undirected weighted edges between
    * items that appear in the same basket — the input graph for
    * "related items", item clustering, and the triangle census. In:
    * baskets (basket_id, item_id), any dup multiplicity. Out:
    * (src, dst, weight) with src < dst, weight = #distinct baskets
    * containing both, pruned to weight >= minSupport.
    *
    * Scale: the classic market-basket shape — pair generation is the
    * per-basket self-join, bounded by basket size squared, then one
    * pair-keyed count. Never an item×item cartesian: pairs only
    * materialize where a basket witnesses them. The distinct() first
    * collapses multiplicity (lineitem can repeat a part within an
    * order) so the self-join fans out on the smallest possible frame.
    * `maxBasketItems` is the Gopher-style runaway-basket gate (see
    * [[copurchaseCandidates]]): one pathological 1e5-item basket (a bot
    * account, a crawler session) would alone emit 5e9 pairs and its
    * quadratic fan-out would land on a single basket key; baskets over
    * the cap are DROPPED (not truncated — truncation would bias
    * co-occurrence toward whatever item order the truncation kept).
    * TPC-H baskets hold ≤ 7 distinct parts, so the default cap leaves
    * every registered query's answer untouched. The drop is silent by
    * design in the edge build itself (a per-row warning would be its
    * own scale problem) — [[copurchaseDropped]] is the one-row
    * companion diagnostic a capping pipeline should log beside it. */
  def copurchaseEdges(baskets: DataFrame, minSupport: Long = 2L,
                      maxBasketItems: Int = 1024): DataFrame =
    copurchaseCandidates(baskets, maxBasketItems)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("weight"))
      .where(col("weight") >= minSupport)

  /** The pre-aggregation candidate pair stream behind [[copurchaseEdges]]
    * — one (src, dst) row (src < dst) per basket witnessing the pair,
    * from baskets holding at most `maxBasketItems` distinct items.
    * Public (the d130 `candidateFrame` precedent) so the scale harness
    * can count pair volume directly: this frame's row count —
    * Σ_baskets (n_items choose 2), which the cap bounds at
    * |baskets|·(cap choose 2) — IS the operator's scale story, and the
    * quantity a planted heavy-basket probe has to show is bounded.
    *
    * The gate costs one basket-keyed partial-aggregated count plus a
    * basket-keyed semi-join — linear, same key as the self-join that
    * follows, and it runs BEFORE the quadratic fan-out (capping after
    * would only hide the pairs, not avoid generating them). */
  def copurchaseCandidates(baskets: DataFrame,
                           maxBasketItems: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxBasketItems >= 2, "a co-occurrence basket needs >= 2 items")
    val bi0 = baskets.toDF("basket_id", "item_id").distinct()
    // the gate is a count-over-window on the basket key, not a
    // groupBy + semi-join: ONE basket-keyed exchange instead of two,
    // and it leaves the frame partitioned on basket_id — exactly what
    // the self-join below needs, so the join adds no further exchange
    val bi = bi0
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("basket_id"))))
      .where(col("__n") <= maxBasketItems)
      .select(col("basket_id"), col("item_id"))
    val a = bi.toDF("basket_id", "src")
    val b = bi.toDF("basket_id", "dst")
    a.join(b, Seq("basket_id"))
      .where(col("src") < col("dst"))
      .select(col("src"), col("dst"))
  }

  /** Companion observability frame for [[copurchaseEdges]]'s
    * runaway-basket gate: ONE row (n_dropped_baskets, n_dropped_rows,
    * max_basket_items) counting the baskets (and their distinct-item
    * rows) the gate would DROP at this cap — so the silent-by-design
    * data loss of the cap is one cheap query away from being observed
    * and alerted on. A pipeline that caps should log this beside the
    * edge build; a nonzero count on data believed well-behaved is the
    * bot-basket signal the cap exists for.
    *
    * Scale: the same single basket-keyed aggregation the gate itself
    * costs — nothing quadratic, no join with the edge build. */
  def copurchaseDropped(baskets: DataFrame,
                        maxBasketItems: Int = 1024): DataFrame = {
    require(maxBasketItems >= 2, "a co-occurrence basket needs >= 2 items")
    baskets.toDF("basket_id", "item_id").distinct()
      .groupBy(col("basket_id")).agg(count(lit(1)).as("n"))
      .where(col("n") > maxBasketItems)
      .agg(count(lit(1)).as("n_dropped_baskets"),
        coalesce(sum(col("n")), lit(0L)).as("n_dropped_rows"))
      .select(col("n_dropped_baskets"), col("n_dropped_rows"),
        lit(maxBasketItems.toLong).as("max_basket_items"))
  }

  /** Time-decayed co-purchase edges (d174): [[copurchaseEdges]] where
    * each witnessing basket contributes exponentially-decayed weight by
    * its AGE instead of a flat 1 — the temporal-graph construction
    * behind "trending related items" (a pair co-bought twice last month
    * should outrank one co-bought twice three years ago; the flat d127
    * count can't tell them apart). Decay is the standard half-life
    * form, made engine-exact by bucketing: the caller supplies each
    * basket's integer `shift` = age div half-life, and the basket
    * contributes 1000000 div 2^shift ppm (floor division on exact
    * longs — a fresh basket adds 1e6, one half-life old 5e5, …; shifts
    * are clamped to [0, 62] so the power-of-two stays a single long
    * shift with no wraparound). In: baskets (basket_id, item_id), any
    * dup multiplicity; shifts (basket_id, shift), one row per basket
    * (duplicates collapse to the smallest shift = freshest claim; a
    * basket with no shift row contributes nothing — an inner join, so
    * stale-unknown data is excluded rather than silently treated as
    * fresh). Out: (src, dst, weight_ppm) with src < dst, pruned to
    * weight_ppm >= minWeightPpm (default 1e6 ≈ "at least one fresh
    * basket's worth of evidence").
    *
    * Scale: exactly the d127 shape — the runaway-basket window gate,
    * the per-basket self-join (never an item×item cartesian), then one
    * pair-keyed sum; the shift attach is one basket-keyed join onto
    * the PRE-fan-out side (a distinct-items frame, not the quadratic
    * pair stream). Overflow: each basket adds ≤ 1e6, so a pair needs
    * 9e12 witnessing baskets to overflow Long. */
  def decayedCopurchase(baskets: DataFrame, shifts: DataFrame,
                        minWeightPpm: Long = 1000000L,
                        maxBasketItems: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxBasketItems >= 2, "a co-occurrence basket needs >= 2 items")
    require(minWeightPpm >= 0, "minWeightPpm must be >= 0")
    val bi0 = baskets.toDF("basket_id", "item_id").distinct()
    val bi = bi0
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("basket_id"))))
      .where(col("__n") <= maxBasketItems)
      .select(col("basket_id"), col("item_id"))
    val sh = shifts.toDF("basket_id", "shift")
      .groupBy(col("basket_id"))
      .agg(least(greatest(min(col("shift")), lit(0)), lit(62)).as("shift"))
    val a = bi.toDF("basket_id", "src").join(sh, Seq("basket_id"))
    val b = bi.toDF("basket_id", "dst")
    a.join(b, Seq("basket_id"))
      .where(col("src") < col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(sum(expr("1000000 div shiftleft(cast(1 as bigint), shift)"))
        .as("weight_ppm"))
      .where(col("weight_ppm") >= minWeightPpm)
  }

  /** PageRank (d128), fixed iteration count, fixed-point integer
    * arithmetic. In: directed edges (src, dst) — pass both directions
    * for an undirected graph. Out: (node, rank) for every node incident
    * to an edge; rank is a long in units of 1e-6 (initial = 1e6), so
    * ranks are comparable across nodes and the total mass is ~1e6 ×
    * #nodes minus documented truncation.
    *
    * Semantics (bit-exact in any engine): r0(n) = Scale;
    * r_{t+1}(n) = (15·Scale) div 100
    *            + (85 · (Σ_{m→n} (r_t(m) div outdeg(m)) + dangling div N)) div 100
    * where dangling = Σ r_t(m) over nodes with no out-edges (their mass
    * is redistributed uniformly; the div-remainders are dropped — a
    * deterministic truncation of at most N·1e-6 mass per iteration).
    * Division is integer floor-div throughout, so the iteration is pure
    * long arithmetic: no float reduction order to disagree on, and the
    * oracle replays it exactly.
    *
    * Scale: each iteration is one edge-keyed equi-join (edges × a
    * #nodes-row rank frame — AQE broadcasts the rank side only if tiny;
    * at 1e9 nodes it's a shuffle join partitioned on the node key, the
    * shape you want), one dst-keyed partial-aggregated sum, and a 1-row
    * dangling total broadcast. The plan unrolls `iterations` times;
    * `checkpointEvery = k` localCheckpoints the rank frame every k
    * iterations AND materializes the edge frame once (the d14/BPE
    * lineage-cut precedent) so iteration jobs read only materialized
    * inputs; 0 (default) keeps the lazy unrolled plan. Measured at
    * sf0.1 even the default 3 iterations run ~1.8× faster with
    * checkpointEvery=1 (the registered d128 binding), and the cost at
    * depth is not hypothetical: the unrolled plan's
    * OPTIMIZER time grows super-linearly with depth (measured: 12
    * unrolled iterations take minutes of Catalyst time on a 15-node
    * graph, where checkpointEvery=3 runs in seconds — GraphsSpec).
    * Checkpointing changes only the physical plan — the integer
    * arithmetic, and therefore the answer, is identical.
    * Long-overflow headroom: Σ inbound ≤ N·Scale·85 ≈ 8.5e16 at N=1e9,
    * well inside Long. */
  def pageRank(edges: DataFrame, iterations: Int = 3,
               checkpointEvery: Int = 0): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0")
    // The edge frame and rank frame are each referenced several times
    // per iteration. A/B at sf0.1 (same run, noop writes): either
    // materialization ALONE loses (edge-only 9.2 s, rank-only ~15 s,
    // vs 11.3 s fully unrolled — each checkpoint barrier re-derives
    // the other frame's lineage), but the COMBINATION wins: edges
    // materialized once + per-iteration rank checkpoints = 6.3-7.8 s
    // warm, because every per-iteration job then reads only
    // materialized inputs. checkpointEvery > 0 therefore opts into
    // BOTH; 0 keeps the lazy unrolled plan.
    val e0 = edges.toDF("src", "dst").distinct()
    val e = if (checkpointEvery > 0) e0.localCheckpoint() else e0
    // node universe + out-degree (0 for dst-only nodes = dangling)
    val outdeg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(outdeg, Seq("node"), "left")
      .na.fill(0L, Seq("outdeg"))
    // eager regime: the (node, outdeg) universe is iteration-invariant —
    // materialize it once for the count below + the r0 build (r18)
    val nodes = if (checkpointEvery > 0) nodes0.localCheckpoint() else nodes0
    // N is ITERATION-CONSTANT: under the eager (checkpointed) regime
    // collect it once (one long — the bounded-collect class) instead of
    // re-deriving the whole union+distinct+join node universe inside
    // every iteration's 1-row broadcast (r18, guide §2.4: the per-job
    // profile showed the nNodes subtree re-evaluated per iteration —
    // at cluster scale that is a full node-universe shuffle per round
    // for a constant). The lazy regime keeps the unevaluated frame.
    val nNodes =
      if (checkpointEvery > 0)
        edges.sparkSession.range(1).select(lit(nodes.count()).as("n_nodes"))
      else nodes.select(count(lit(1)).as("n_nodes"))

    var ranks = nodes.select(col("node"), col("outdeg"), lit(Scale).as("rank"))
    for (it <- 1 to iterations) {
      val contrib = ranks.where(col("outdeg") > 0)
        .select(col("node").as("src"), expr("rank div outdeg").as("contrib"))
      val inbound = e.join(contrib, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("contrib")).as("inbound"))
      val dangling = ranks.select(
        sum(when(col("outdeg") === 0, col("rank")).otherwise(lit(0L))).as("dangling"))
      ranks = ranks.select(col("node"), col("outdeg"))
        .join(inbound, Seq("node"), "left")
        .na.fill(0L, Seq("inbound"))
        .crossJoin(broadcast(dangling))
        .crossJoin(broadcast(nNodes))
        .select(col("node"), col("outdeg"),
          (lit(15L * Scale / 100L) +
            expr("85 * (inbound + dangling div n_nodes) div 100")).as("rank"))
      if (checkpointEvery > 0 && it % checkpointEvery == 0 && it < iterations)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Weighted PageRank (d147): rank mass flows proportionally to edge
    * WEIGHT instead of uniformly over out-edges — on the co-purchase
    * graph, co-purchase STRENGTH is the signal, and d128's unweighted
    * walk treats a 2-basket tie like a 2000-basket one. In: directed
    * edges (src, dst, weight), weight a positive long, ONE row per
    * directed edge (pass both directions for an undirected graph —
    * duplicate rows would double-count their weight). Out: (node, rank),
    * longs in 1e-6 units, the d128 convention.
    *
    * Semantics (bit-exact in any engine): r0(n) = Scale;
    * r_{t+1}(n) = (15·Scale) div 100
    *            + (85 · (Σ_{m→n, w} ((r_t(m)·w) div W(m)) + dangling div N)) div 100
    * where W(m) = Σ w over m's out-edges and dangling = Σ r_t over nodes
    * with no out-edges. The per-edge contribution floors ONCE at
    * (rank·w) div W — weighting before the division, so a w=0 edge
    * contributes exactly 0 and relative weights are honored to 1e-6.
    * Pure long arithmetic; the oracle unrolls the identical iterations.
    *
    * Scale: the exact d128 plan — per iteration one edge-keyed equi-join
    * (the rank+W frame joins the edges on src), one dst-keyed partial
    * -aggregated sum, 1-row dangling/N broadcasts; `checkpointEvery` as
    * in d128. Overflow headroom: rank·w ≤ N·Scale·max_w must stay inside
    * Long — at N = 1e9 nodes that bounds max_w at ~9e3·(1e9/N); callers
    * with larger weights should pre-scale them down (only RATIOS within
    * one node's out-edges matter). */
  def weightedPageRank(edges: DataFrame, iterations: Int = 3,
                       checkpointEvery: Int = 0): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0")
    val (e, nodes, nNodes) = wprUniverse(edges, checkpointEvery > 0)
    val r0 = nodes.select(col("node"), col("wout"), lit(Scale).as("rank"))
    wprIterate(e, nNodes, r0, iterations, checkpointEvery)
  }

  /** [[weightedPageRank]] WARM-STARTED from a previous rank vector
    * (d172, r13 verdict ask #5) — the incremental-serving companion of
    * the [[EdgeIndex]]: after an append extends the edge set, re-run
    * the SAME fixed-point update from the ranks the previous generation
    * converged to instead of from uniform. The iteration's fixed point
    * does not depend on the starting vector — only the path there does
    * — so a warm start from a nearby vector (an append usually perturbs
    * the graph locally) reaches it in FEWER rounds, published as the
    * standard incremental-PageRank warm-start (e.g. Langville & Meyer's
    * updating chapter); GraphsSpec measures the round savings on a
    * planted append, and the d172 gate replays warm(3) ≡ oracle.
    *
    * In: edges as in [[weightedPageRank]]; init (node, rank) — nodes of
    * the NEW universe absent from init (the appended batch's new nodes)
    * start at the uniform Scale, init rows for departed nodes are
    * ignored. Same plan shape, same exact-long arithmetic, same
    * overflow envelope as the cold operator. */
  def weightedPageRankFrom(edges: DataFrame, init: DataFrame,
      iterations: Int = 3, checkpointEvery: Int = 0): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0")
    val (e, nodes, nNodes) = wprUniverse(edges, checkpointEvery > 0)
    val r0 = nodes
      .join(init.toDF("node", "rank0"), Seq("node"), "left")
      .select(col("node"), col("wout"),
        coalesce(col("rank0"), lit(Scale)).as("rank"))
    wprIterate(e, nNodes, r0, iterations, checkpointEvery)
  }

  /** The shared edge/node/degree universe of the weighted-PR family. */
  private def wprUniverse(edges: DataFrame,
      materialize: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val e0 = edges.toDF("src", "dst", "weight")
    val e = if (materialize) e0.localCheckpoint() else e0
    val wout = e.groupBy(col("src").as("node")).agg(sum(col("weight")).as("wout"))
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(wout, Seq("node"), "left")
      .na.fill(0L, Seq("wout"))
    // eager regime: the (node, wout) universe is iteration-invariant —
    // materialize it once for the count below + the r0 build (r18)
    val nodes = if (materialize) nodes0.localCheckpoint() else nodes0
    // iteration-constant N collected once under the eager regime — see
    // pageRank's nNodes note (r18)
    val nNodes =
      if (materialize)
        e.sparkSession.range(1).select(lit(nodes.count()).as("n_nodes"))
      else nodes.select(count(lit(1)).as("n_nodes"))
    (e, nodes, nNodes)
  }

  /** ONE weighted-PR update: ranks (node, wout, rank) → next ranks. */
  private def wprStep(e: DataFrame, nNodes: DataFrame,
      ranks: DataFrame): DataFrame = {
    val contrib = e.join(
        ranks.where(col("wout") > 0)
          .select(col("node").as("src"), col("rank"), col("wout")), Seq("src"))
      .select(col("dst"), expr("(rank * weight) div wout").as("contrib"))
    val inbound = contrib
      .groupBy(col("dst").as("node"))
      .agg(sum(col("contrib")).as("inbound"))
    val dangling = ranks.select(
      sum(when(col("wout") === 0, col("rank")).otherwise(lit(0L))).as("dangling"))
    ranks.select(col("node"), col("wout"))
      .join(inbound, Seq("node"), "left")
      .na.fill(0L, Seq("inbound"))
      .crossJoin(broadcast(dangling))
      .crossJoin(broadcast(nNodes))
      .select(col("node"), col("wout"),
        (lit(15L * Scale / 100L) +
          expr("85 * (inbound + dangling div n_nodes) div 100")).as("rank"))
  }

  private def wprIterate(e: DataFrame, nNodes: DataFrame, ranks0: DataFrame,
      iterations: Int, checkpointEvery: Int): DataFrame = {
    var ranks = ranks0
    for (it <- 1 to iterations) {
      ranks = wprStep(e, nNodes, ranks)
      if (checkpointEvery > 0 && it % checkpointEvery == 0 && it < iterations)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Iterate the weighted-PR update to its exact integer FIXED POINT
    * (bounded by `maxIters`), counting executed rounds — the
    * convergence instrument behind the d172 warm-start claim: the spec
    * measures rounds-to-fixed-point warm vs cold on a planted append.
    * Returns (ranks, rounds) where `rounds` INCLUDES the confirming
    * no-change round; the fixed point is detected exactly (long
    * equality on every node — pure integer arithmetic has a genuine
    * fixed point to reach, no epsilon). Per round one comparison count
    * over just-checkpointed frames (the kCore early-exit precedent). */
  private[graft] def weightedPageRankConverged(edges: DataFrame,
      init: Option[DataFrame], maxIters: Int = 50): (DataFrame, Int) = {
    require(maxIters >= 1, "need maxIters >= 1")
    val (e, nodes, nNodes) = wprUniverse(edges, materialize = true)
    var ranks = (init match {
      case Some(r) => nodes
        .join(r.toDF("node", "rank0"), Seq("node"), "left")
        .select(col("node"), col("wout"),
          coalesce(col("rank0"), lit(Scale)).as("rank"))
      case None => nodes.select(col("node"), col("wout"), lit(Scale).as("rank"))
    }).localCheckpoint()
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val next = wprStep(e, nNodes, ranks).localCheckpoint()
      converged = next
        .join(ranks.select(col("node"), col("rank").as("prev")), Seq("node"))
        .where(col("rank") =!= col("prev")).isEmpty
      ranks = next
      it += 1
    }
    (ranks.select(col("node"), col("rank")), it)
  }

  /** Personalized PageRank (d139): random walk with restart — the
    * teleport mass lands ONLY on the source set, so ranks measure
    * proximity to the anchors ("related to these seed items", topic
    * -sensitive influence) instead of global importance. In: directed
    * edges (src, dst) and a 1-column sources frame (ids outside the
    * node universe are ignored — a walk can't restart where no edge
    * reaches; if NO source id is in the universe the effective source
    * set is empty and every rank is 0 — the divisor is guarded with
    * greatest(n_src, 1) so the degenerate call returns the all-zero
    * frame instead of an ANSI DIVIDE_BY_ZERO). Out: (node, rank) for
    * every edge-incident node; rank is a long in 1e-6 units of walk
    * mass anchored at the sources.
    *
    * Semantics (bit-exact in any engine, the d128 convention):
    * r0(n) = Scale·[n ∈ S];
    * r_{t+1}(n) = [n∈S]·(15·Scale div 100)
    *            + 85·(Σ_{m→n} (r_t(m) div outdeg(m))
    *                  + [n∈S]·(dangling div |S|)) div 100
    * — dangling mass restarts at the sources (uniformly, floor-div
    * remainders dropped), matching the walk's own restart behavior.
    * Pure long arithmetic in that exact association order; the oracle
    * unrolls the identical iterations.
    *
    * Scale: identical plan shape to [[pageRank]] — one edge-keyed join,
    * one dst-keyed partial-aggregated sum, a 1-row dangling broadcast
    * per iteration; the source flag is one broadcast-joinable column on
    * the rank frame. `checkpointEvery` as in d128. */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame,
      iterations: Int = 3, checkpointEvery: Int = 0): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0")
    // d128's measured rule: checkpointEvery > 0 materializes the edge
    // frame too — per-iteration checkpoints only pay off when each
    // job reads materialized inputs.
    val e0 = edges.toDF("src", "dst").distinct()
    val e = if (checkpointEvery > 0) e0.localCheckpoint() else e0
    val outdeg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
    val src = sources.toDF("node").distinct().select(col("node"), lit(1L).as("is_src"))
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(outdeg, Seq("node"), "left")
      .join(src, Seq("node"), "left")
      .na.fill(0L, Seq("outdeg", "is_src"))
    // eager regime: the universe is iteration-invariant and |S| is an
    // iteration CONSTANT — materialize once, collect once, instead of
    // re-deriving the union+distinct+2-join tree inside every
    // iteration's 1-row nSrc broadcast (r18 — the pageRank nNodes note;
    // the coalesce-to-0 reproduces sum-over-empty's effective divisor,
    // greatest(·, 1) guarding both forms identically)
    val nodes = if (checkpointEvery > 0) nodes0.localCheckpoint() else nodes0
    val nSrc =
      if (checkpointEvery > 0)
        edges.sparkSession.range(1).select(lit(nodes
          .agg(coalesce(sum(col("is_src")), lit(0L))).head.getLong(0)).as("n_src"))
      else nodes.select(sum(col("is_src")).as("n_src"))

    var ranks = nodes.select(col("node"), col("outdeg"), col("is_src"),
      (col("is_src") * Scale).as("rank"))
    for (it <- 1 to iterations) {
      val contrib = ranks.where(col("outdeg") > 0)
        .select(col("node").as("src"), expr("rank div outdeg").as("contrib"))
      val inbound = e.join(contrib, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("contrib")).as("inbound"))
      val dangling = ranks.select(
        sum(when(col("outdeg") === 0, col("rank")).otherwise(lit(0L))).as("dangling"))
      ranks = ranks.select(col("node"), col("outdeg"), col("is_src"))
        .join(inbound, Seq("node"), "left")
        .na.fill(0L, Seq("inbound"))
        .crossJoin(broadcast(dangling))
        .crossJoin(broadcast(nSrc))
        .select(col("node"), col("outdeg"), col("is_src"),
          // greatest(n_src, 1): with an empty effective source set every
          // rank (and the dangling total's is_src gate) is already 0, so
          // the guarded divisor only prevents the ANSI-mode crash — it
          // never changes a populated run's arithmetic.
          expr(s"is_src * ${15L * Scale / 100L} + " +
            "85 * (inbound + is_src * (dangling div greatest(n_src, 1))) div 100").as("rank"))
      if (checkpointEvery > 0 && it % checkpointEvery == 0 && it < iterations)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Label propagation communities (d140): synchronous LPA
    * (Raghavan et al.) with deterministic tie-breaks — every node takes
    * the most frequent label among its NEIGHBORS each round (ties to
    * the smallest label), labels initialized to the node id, a fixed
    * number of rounds. Complements d132: CC finds connectivity
    * islands; LPA finds DENSITY communities inside a connected graph.
    * In: undirected edges (src, dst), one row per unordered pair. Out:
    * (node, label, label_size) after `iterations` rounds.
    *
    * Deterministic by construction: synchronous updates (no vertex
    * -order dependence, unlike the asynchronous original) and the
    * (count desc, label asc) argmax make every round a pure function of
    * the previous labeling, so any engine replays it exactly.
    *
    * Scale: each round is one edge-keyed join (neighbor label attach),
    * one (node, label)-keyed partial-aggregated count, and a top-1
    * window partitioned BY NODE — the sort is each node's distinct
    * neighbor-label set, never global. `checkpointEvery` as in d128. */
  def labelPropagation(edges: DataFrame, iterations: Int = 3,
      checkpointEvery: Int = 0): DataFrame =
    lpaIterate(edges, None, iterations, checkpointEvery)

  /** [[labelPropagation]] WARM-STARTED from a previous labeling (d175)
    * — the communities companion of [[weightedPageRankFrom]] (d172) in
    * the [[EdgeIndex]] incremental-serving story: after an append
    * extends the edge set, resume the synchronous sweeps from the
    * labels the previous generation settled on instead of from the
    * all-singleton start. LPA's sweep is a pure function of the current
    * labeling, so a stable labeling (every node already holding its
    * neighborhood argmax) is a genuine fixed point regardless of how it
    * was reached — warm-starting near one reaches stability in FEWER
    * sweeps (Raghavan et al.'s convergence argument applied to a
    * perturbed start; GraphsSpec measures the saving on a planted
    * append via [[labelPropagationConverged]]).
    *
    * In: edges as in [[labelPropagation]]; init (node, label) — nodes
    * of the NEW universe absent from init (the appended batch's new
    * nodes) start as their own singleton label, init rows for departed
    * nodes are ignored (the d172 contract). Same plan shape, same
    * deterministic (count desc, label asc) argmax. Out: (node, label,
    * label_size) after `iterations` sweeps. */
  def labelPropagationFrom(edges: DataFrame, init: DataFrame,
      iterations: Int = 3, checkpointEvery: Int = 0): DataFrame =
    lpaIterate(edges, Some(init), iterations, checkpointEvery)

  private def lpaIterate(edges: DataFrame, init: Option[DataFrame],
      iterations: Int, checkpointEvery: Int): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0")
    // d128's measured rule: checkpointEvery > 0 materializes the
    // (symmetrized) edge frame too.
    val e = edges.toDF("src", "dst").distinct()
    val sym0 = e.union(e.select(col("dst"), col("src"))).toDF("u", "v")
    val sym = if (checkpointEvery > 0) sym0.localCheckpoint() else sym0
    var lbls = lpaInit(sym, init)
    for (it <- 1 to iterations) {
      lbls = lpaSweep(sym, lbls)
      if (checkpointEvery > 0 && it % checkpointEvery == 0 && it < iterations)
        lbls = lbls.localCheckpoint()
    }
    val sizes = lbls.groupBy(col("label")).agg(count(lit(1)).as("label_size"))
    lbls.join(sizes, Seq("label")).select(col("node"), col("label"), col("label_size"))
  }

  /** The shared warm/cold starting labels over `sym`'s node universe:
    * init rows for foreign nodes are ignored, absent nodes become
    * their own singleton, and DUPLICATE init rows for one node
    * collapse to the smallest label (the decayedCopurchase dedup
    * discipline — a left join against a dup-keyed frame would
    * otherwise fan the node into multiple label rows and every
    * neighbor would count its vote once per duplicate, silently). */
  private def lpaInit(sym: DataFrame, init: Option[DataFrame]): DataFrame = {
    val nodes = sym.select(col("u").as("node")).distinct()
    init match {
      case Some(w) => nodes
        .join(w.toDF("node", "label0")
            .groupBy(col("node")).agg(min(col("label0")).as("label0")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("label0"), col("node")).as("label"))
      case None => nodes.select(col("node"), col("node").as("label"))
    }
  }

  /** One synchronous LPA sweep: every node takes the (count desc, label
    * asc) argmax label over its neighbors' current labels. */
  private def lpaSweep(sym: DataFrame, lbls: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    sym
      .join(lbls.select(col("node").as("v"), col("label")), Seq("v"))
      .groupBy(col("u").as("node"), col("label"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("node"))
          .orderBy(col("cnt").desc, col("label"))))
      .where(col("rn") === 1)
      .select(col("node"), col("label"))
  }

  /** Sweep LPA to a STABLE labeling (bounded by `maxIters`), counting
    * executed sweeps — the convergence instrument behind the d175
    * warm-start claim (the [[weightedPageRankConverged]] pattern): the
    * spec measures sweeps-to-stability warm vs cold on a planted
    * append. Returns (labels, sweeps) where `sweeps` INCLUDES the
    * confirming no-change sweep; stability is detected exactly (long
    * equality of every node's label — synchronous LPA over a fixed
    * graph has genuine fixed points to reach; an input that instead
    * falls into a synchronous 2-cycle, possible on bipartite-ish
    * structure, simply exhausts maxIters and returns the last sweep). */
  private[graft] def labelPropagationConverged(edges: DataFrame,
      init: Option[DataFrame], maxIters: Int = 50): (DataFrame, Int) = {
    require(maxIters >= 1, "need maxIters >= 1")
    val e = edges.toDF("src", "dst").distinct()
    val sym = e.union(e.select(col("dst"), col("src"))).toDF("u", "v")
      .localCheckpoint()
    var lbls = lpaInit(sym, init).localCheckpoint()
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val next = lpaSweep(sym, lbls).localCheckpoint()
      converged = next
        .join(lbls.select(col("node"), col("label").as("prev")), Seq("node"))
        .where(col("label") =!= col("prev")).isEmpty
      lbls = next
      it += 1
    }
    (lbls, it)
  }

  /** Triangle census (d129): the number of triangles in an undirected
    * graph, plus node/edge counts — the standard clustering-density
    * diagnostic. In: undirected distinct edges (src, dst), src < dst.
    * Out: one row (n_nodes, n_edges, n_triangles), exact longs.
    *
    * Algorithm: degree orientation (Schank & Wagner / the MapReduce
    * node-iterator) — orient every edge from the lower (degree, id)
    * endpoint to the higher, enumerate wedges at the low vertex, and
    * close them against the oriented edge set. Each triangle is counted
    * exactly once (its vertices totally ordered by (degree, id)), and
    * the oriented out-degree is bounded by O(√m), so wedge fan-out is
    * O(m^1.5) worst-case instead of Σ deg² — the hub-safe formulation:
    * a celebrity node with 1e7 neighbors produces no wedges at itself,
    * because all its edges orient inward.
    *
    * Scale: two edge-keyed joins and one count — no adjacency lists in
    * memory, no driver state. Wedge volume is the only superlinear term
    * and the orientation bounds it. */
  /** Canonical undirected edge list: one (src, dst) row per unordered
    * pair with src < dst, self-loops dropped — the input contract of
    * the triangle family and degree mixing, ENFORCED here rather than
    * assumed (r12 ADVICE): an edge supplied as (hi, lo), as both
    * orientations, or as a self-loop would otherwise silently
    * under/double-count triangles and degrees. One projection +
    * distinct — the same cost as the distinct the callers already
    * paid. */
  private def normalizedUndirected(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst")
    e.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") < col("dst"))
      .distinct()
  }

  def triangleStats(edges: DataFrame): DataFrame = {
    val e = normalizedUndirected(edges)
    val (deg, oriented) = degreeOriented(e)
    // wedges at the low vertex: unordered far-endpoint pairs via the
    // (degree, id) order, closed against the undirected edge set keyed
    // by (min, max) id — the closing edge's stored orientation
    val w1 = oriented.select(col("a"), col("b").as("x"), col("bk").as("xk"))
    val w2 = oriented.select(col("a"), col("b").as("y"), col("bk").as("yk"))
    val wedges = w1.join(w2, Seq("a")).where(col("xk") < col("yk"))
      .select(least(col("x"), col("y")).as("src"), greatest(col("x"), col("y")).as("dst"))
    val nTri = wedges.join(e, Seq("src", "dst")).select(count(lit(1)).as("n_triangles"))
    val nNodes = deg.select(count(lit(1)).as("n_nodes"))
    val nEdges = e.select(count(lit(1)).as("n_edges"))
    broadcast(nNodes).crossJoin(broadcast(nEdges)).crossJoin(broadcast(nTri))
  }

  /** Degree-lexicographic orientation of a canonical edge list — the
    * shared core of the triangle family's hub-safe enumeration
    * (triangleStats / localClustering / kTruss's edgeSupport): every
    * edge oriented from its lower (degree, id) endpoint, carrying the
    * high end's order key, so wedges enumerate at LOW vertices only
    * and the oriented out-degree is O(√m) — a celebrity node's edges
    * all orient inward and it produces no wedges at itself. Both
    * order keys share one field shape (d, n) so the when() branches
    * and downstream xk < yk comparisons are type-identical. Returns
    * (symmetrized degree frame, oriented (a, b, bk) frame). */
  private def degreeOriented(e: DataFrame): (DataFrame, DataFrame) = {
    val sym = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val ed = e
      .join(deg.select(col("u").as("src"), col("d").as("ds")), Seq("src"))
      .join(deg.select(col("u").as("dst"), col("d").as("dd")), Seq("dst"))
    val srcKey = struct(col("ds").as("d"), col("src").as("n"))
    val dstKey = struct(col("dd").as("d"), col("dst").as("n"))
    val oriented = ed.select(
      when(srcKey < dstKey, col("src")).otherwise(col("dst")).as("a"),
      when(srcKey < dstKey, col("dst")).otherwise(col("src")).as("b"),
      when(srcKey < dstKey, dstKey).otherwise(srcKey).as("bk"))
    (deg, oriented)
  }

  /** Per-node triangle participation and local clustering coefficient
    * (d155): for every node, its degree, the number of triangles it
    * sits in, and clustering_ppm = 2·tri·1e6 div (deg·(deg−1)) — the
    * node-level density diagnostic behind community quality scoring
    * and spam-farm detection (spam rings cluster; organic hubs don't),
    * refining d129's one-row census to a per-node profile. Input edges
    * are canonicalized by [[normalizedUndirected]] (any orientation/
    * duplication convention is accepted; self-loops dropped).
    *
    * Same degree-oriented enumeration as [[triangleStats]] (each
    * triangle materializes exactly once, wedge fan-out bounded
    * O(m^1.5)), except the closing join KEEPS all three corners and one
    * explode + node-keyed count attributes the triangle to each. Pure
    * integer arithmetic (the ppm is a floor division), so the oracle
    * replays it exactly. Out: (node, degree, n_triangles,
    * clustering_ppm) for every node; deg<2 nodes get 0 ppm.
    *
    * Scale: [[triangleStats]]'s joins plus one 3× explode of the
    * (closed-triangle-count)-sized frame and a node-keyed
    * partial-aggregated count — nothing new shuffles at corpus width. */
  def localClustering(edges: DataFrame): DataFrame = {
    val e = normalizedUndirected(edges)
    val (deg, oriented) = degreeOriented(e)
    val w1 = oriented.select(col("a"), col("b").as("x"), col("bk").as("xk"))
    val w2 = oriented.select(col("a"), col("b").as("y"), col("bk").as("yk"))
    // keep the wedge center through the close so every triangle knows
    // all three of its corners
    val closed = w1.join(w2, Seq("a")).where(col("xk") < col("yk"))
      .select(col("a"), col("x"), col("y"),
        least(col("x"), col("y")).as("src"), greatest(col("x"), col("y")).as("dst"))
      .join(e, Seq("src", "dst"))
    val tri = closed
      .select(explode(array(col("a"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.select(col("u").as("node"), col("d").as("degree"))
      .join(tri, Seq("node"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .select(col("node"), col("degree"), col("n_triangles"),
        when(col("degree") >= 2,
          expr("2 * n_triangles * 1000000 div (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("clustering_ppm"))
  }

  /** Effective diameter (d159, the classic HyperBall application): the
    * smallest radius t at which the summed reachable-pairs count
    * Σ_n ball(n, t) reaches `qPpm` (parts-per-million, default 90%) of
    * the radius-cap total — "how many hops cover 90% of all reachable
    * pairs", the one-number connectivity summary for a web/co-purchase
    * graph. In: a neighborhood-function frame, either [[hyperBall]]
    * (the production estimator at any scale) or [[neighborhoodExact]]
    * (the adjudicable exact sibling the registered query hashes). Out:
    * ONE row (radius_cap, total_pairs, eff_diameter, pairs_at_eff) —
    * exact longs over the exact NF; GraphsSpec proves the estimator
    * -fed value agrees on sub-sparse-mode graphs.
    *
    * Scale: a radius-keyed rollup of the NF frame (≤ radius_cap+1
    * rows after aggregation), a 1-row broadcast of the cap totals, and
    * a limit — nothing corpus-width beyond the NF itself. Overflow:
    * pairs·1e6 must stay in Long — pairs ≤ Σ ball ≤ n·max_ball, fine
    * to ~9e12 reachable pairs; beyond that pre-scale qPpm down. */
  def effectiveDiameter(nf: DataFrame, qPpm: Long = 900000L): DataFrame = {
    require(qPpm >= 1L && qPpm <= 1000000L, "qPpm is parts-per-million")
    val sums = nf.toDF("node", "radius", "ball")
      .groupBy(col("radius")).agg(sum(col("ball")).as("pairs"))
    val cap = sums.orderBy(col("radius").desc).limit(1)
      .select(col("radius").as("radius_cap"), col("pairs").as("total_pairs"))
    sums.crossJoin(broadcast(cap))
      .where(col("pairs") * lit(1000000L) >= col("total_pairs") * lit(qPpm))
      .orderBy(col("radius"))
      .limit(1)
      .select(col("radius_cap"), col("total_pairs"),
        col("radius").as("eff_diameter"), col("pairs").as("pairs_at_eff"))
  }

  /** Deterministic random-walk corpus (d157, DeepWalk / node2vec at
    * p=q=1): `walksPerNode` walks of `steps` steps from EVERY node of
    * the undirected graph — the sentence corpus a graph-embedding
    * trainer consumes. The "randomness" is a 60-bit md5 of
    * (start, walk, step, current) selecting an index into the node's
    * id-ordered neighbor list, so the corpus is a PURE FUNCTION of the
    * graph: reproducible shards, resumable generation, and a DuckDB
    * oracle that replays every transition bit-exactly (the d09 md5
    * -parity trick — Spark conv(substring(md5,1,15),16,10) ==
    * DuckDB CAST('0x'||substring(md5,1,15) AS BIGINT)). Out:
    * (start_node, walk, step, node), step 0 = the start itself; walks
    * never dead-end (every node of an edge list has a neighbor).
    *
    * Scale: the indexed adjacency (neighbors numbered 0..deg−1 by id)
    * is built once with per-node windows (sorts each neighborhood,
    * never globally) and materialized; each step is one node-keyed
    * join to fetch the degree, the in-row hash, and one (node, idx)
    * -keyed join to fetch the chosen neighbor — work ∝ #walks per
    * step, NOT Σ deg (the degree join prunes before the adjacency
    * join). The frontier is localCheckpointed per step (consumed by
    * the output union and the next step). */
  def randomWalks(edges: DataFrame, walksPerNode: Int = 1,
                  steps: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(walksPerNode >= 1, "need walksPerNode >= 1")
    require(steps >= 0, "need steps >= 0")
    val e0 = edges.toDF("src", "dst")
    val sym = e0.union(e0.select(col("dst"), col("src"))).toDF("u", "v").distinct()
    val adj = sym
      .withColumn("idx", (row_number().over(
        Window.partitionBy(col("u")).orderBy(col("v"))) - 1).cast(LongType))
      .localCheckpoint()
    val degs = adj.groupBy(col("u").as("du")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    var cur = degs.select(col("du").as("start_node"),
        explode(expr(s"sequence(0, ${walksPerNode - 1})")).as("walk"))
      .select(col("start_node"), col("walk").cast(LongType).as("walk"),
        col("start_node").as("node"))
      .localCheckpoint()
    var out = cur.select(col("start_node"), col("walk"),
      lit(0L).as("step"), col("node"))
    for (t <- 1 to steps) {
      val sel = cur.join(degs, cur("node") === degs("du"))
        .withColumn("h", expr("cast(conv(substring(md5(concat_ws('|', " +
          s"start_node, walk, ${t - 1}, node)), 1, 15), 16, 10) as bigint)"))
        .select(col("start_node"), col("walk"), col("node").as("at"),
          pmod(col("h"), col("deg")).as("pick"))
      cur = sel.join(adj,
          sel("at") === adj("u") && sel("pick") === adj("idx"))
        .select(col("start_node"), col("walk"), col("v").as("node"))
        .localCheckpoint()
      out = out.union(cur.select(col("start_node"), col("walk"),
        lit(t.toLong).as("step"), col("node")))
    }
    out
  }

  /** node2vec biased random walks (d162, Grover & Leskovec): the
    * second-order generalization of [[randomWalks]] — the transition
    * out of `cur` depends on where the walk CAME FROM. Each neighbor n
    * of cur is weighted by its relation to prev: `wReturn` when
    * n = prev (node2vec's 1/p — backtrack), `wIn` when n is adjacent to
    * prev (distance 1 — BFS-ish, stay local), `wOut` otherwise
    * (distance 2, node2vec's 1/q — DFS-ish, explore). Integer weights
    * (the published 1/p, 1, 1/q as a ratio) keep the cumulative-range
    * selection pure integer arithmetic; the triple is REDUCED BY ITS
    * GCD before the ranges are built (the walk distribution depends
    * only on the ratio, and only the reduced form makes the claim
    * below exact — with unreduced equal weights w > 1 each slot is
    * [k·w, (k+1)·w) and `floor((h mod deg·w)/w)` differs from
    * `h mod deg` for the same md5 value; r13 advice). The first step
    * has no prev and is uniform first-order — the paper's convention —
    * and with wReturn = wIn = wOut (ANY common value: gcd reduction
    * maps it to 1,1,1) the cumulative ranges collapse to unit slots,
    * so EVERY transition reduces to d157's `h mod deg` pick exactly:
    * p = q reproduces [[randomWalks]] bit-for-bit (spec-pinned at
    * 1,1,1 and 3,3,3).
    *
    * Determinism is d157's: the same 60-bit md5 of (start, walk, step,
    * current) addresses a position in the (prev, cur)-conditional
    * cumulative weight ranges (neighbors id-ordered), so the corpus is
    * a pure function of (graph, weights) and the oracle replays every
    * transition. Out: (start_node, walk, step, node), step 0 = start.
    *
    * Scale: second-order walks inherently carry (prev, cur)-conditional
    * state — this is the published trade. The transition table is one
    * row per WEDGE (directed edge pair sharing a midpoint): O(Σ deg²),
    * the same bound as node2vec's per-edge alias tables, built once
    * with per-(prev, cur) windows (sorts each conditional neighborhood,
    * never globally) and materialized. Each step is one (prev, cur)
    * -keyed equi-join whose fan-out is deg(cur) before the range filter
    * — per-step work ∝ Σ_frontier deg, vs d157's O(#walks). On
    * heavy-hub graphs, cap or k-core the edge set first (the d127 cap
    * precedent); the wedge volume, not the walk count, is the scale
    * limit. */
  /** The (wReturn, wIn, wOut) triple reduced by its gcd — shared by
    * [[biasedWalks]] and its oracle generator so both engines build the
    * SAME transition ranges for any ratio-equivalent input. */
  private def reducedWeights(wReturn: Int, wIn: Int, wOut: Int): (Int, Int, Int) = {
    @annotation.tailrec def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)
    val g = gcd(gcd(wReturn, wIn), wOut)
    (wReturn / g, wIn / g, wOut / g)
  }

  def biasedWalks(edges: DataFrame, walksPerNode: Int = 1, steps: Int = 3,
                  wReturn: Int = 1, wIn: Int = 1, wOut: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(walksPerNode >= 1, "need walksPerNode >= 1")
    require(steps >= 0, "need steps >= 0")
    require(wReturn >= 1 && wIn >= 1 && wOut >= 1,
      "transition weights must be >= 1 (a zero class could dead-end a walk)")
    val (wr, wi, wo) = reducedWeights(wReturn, wIn, wOut)
    val e0 = edges.toDF("src", "dst")
    val sym = e0.union(e0.select(col("dst"), col("src"))).toDF("u", "v")
      .distinct().localCheckpoint()
    val adj = sym
      .withColumn("idx", (row_number().over(
        Window.partitionBy(col("u")).orderBy(col("v"))) - 1).cast(LongType))
      .localCheckpoint()
    val degs = adj.groupBy(col("u").as("du")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // the (prev, cur)-conditional transition ranges: one row per wedge,
    // [lo, hi) cumulative over id-ordered neighbors, tw = total weight
    val pc = sym.toDF("tprev", "tcur")
    val cn = sym.toDF("tcur", "nbr")
    val marked = pc.join(cn, Seq("tcur"))
      .join(sym.select(col("u").as("tprev"), col("v").as("nbr"),
        lit(1).as("adj_pn")), Seq("tprev", "nbr"), "left")
    val w = Window.partitionBy(col("tprev"), col("tcur")).orderBy(col("nbr"))
    val trans = marked.select(col("tprev"), col("tcur"), col("nbr"),
        when(col("nbr") === col("tprev"), lit(wr.toLong))
          .when(col("adj_pn").isNotNull, lit(wi.toLong))
          .otherwise(lit(wo.toLong)).as("tweight"))
      .withColumn("hi", sum(col("tweight")).over(w))
      .withColumn("lo", col("hi") - col("tweight"))
      .withColumn("tw", sum(col("tweight")).over(
        Window.partitionBy(col("tprev"), col("tcur"))))
      .select(col("tprev"), col("tcur"), col("nbr"),
        col("lo"), col("hi"), col("tw"))
      .localCheckpoint()
    val starts = degs.select(col("du").as("start_node"),
        explode(expr(s"sequence(0, ${walksPerNode - 1})")).as("walk"))
      .select(col("start_node"), col("walk").cast(LongType).as("walk"))
      .localCheckpoint()
    var out = starts.select(col("start_node"), col("walk"),
      lit(0L).as("step"), col("start_node").as("node"))
    if (steps == 0) return out
    // step 1: uniform first-order (no prev yet) — d157's pick verbatim
    var cur = starts
      .join(degs, starts("start_node") === degs("du"))
      .withColumn("h", expr("cast(conv(substring(md5(concat_ws('|', " +
        "start_node, walk, 0, start_node)), 1, 15), 16, 10) as bigint)"))
      .select(col("start_node"), col("walk"),
        col("start_node").as("at"), pmod(col("h"), col("deg")).as("pick"))
    cur = cur.join(adj, cur("at") === adj("u") && cur("pick") === adj("idx"))
      .select(col("start_node"), col("walk"),
        col("at").as("prev"), col("v").as("node"))
      .localCheckpoint()
    out = out.union(cur.select(col("start_node"), col("walk"),
      lit(1L).as("step"), col("node")))
    for (t <- 2 to steps) {
      val sel = cur
        .join(trans, cur("prev") === trans("tprev") && cur("node") === trans("tcur"))
        .withColumn("h", expr("cast(conv(substring(md5(concat_ws('|', " +
          s"start_node, walk, ${t - 1}, node)), 1, 15), 16, 10) as bigint)"))
        .where(pmod(col("h"), col("tw")) >= col("lo") &&
          pmod(col("h"), col("tw")) < col("hi"))
      cur = sel.select(col("start_node"), col("walk"),
          col("node").as("prev"), col("nbr").as("node"))
        .localCheckpoint()
      out = out.union(cur.select(col("start_node"), col("walk"),
        lit(t.toLong).as("step"), col("node")))
    }
    out
  }

  /** Skip-gram pair extraction over a walk corpus (d158): the
    * (center, context) co-occurrence pairs within `window` steps along
    * each walk, rolled up with their multiplicity — the direct input
    * to a word2vec-style graph-embedding trainer (and the graph analog
    * of d77's PMI bigrams). In: the [[randomWalks]] shape (start_node,
    * walk, step, node). Out: (center, context, n_pairs), both
    * directions of every co-occurrence, exact longs.
    *
    * Scale: one walk-keyed self-join band-limited by the window (each
    * position joins ≤ 2·window others of the SAME walk — walks are
    * bounded-length by construction, so the fan-out is a constant) and
    * one pair-keyed partial-aggregated count. */
  def walkSkipGrams(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1, "need window >= 1")
    val w = walks.toDF("start_node", "walk", "step", "node")
    val a = w.select(col("start_node"), col("walk"),
      col("step").as("s1"), col("node").as("center"))
    val b = w.select(col("start_node"), col("walk"),
      col("step").as("s2"), col("node").as("context"))
    a.join(b, Seq("start_node", "walk"))
      .where(col("s1") =!= col("s2") &&
        abs(col("s1") - col("s2")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Graph-embedding training over a skip-gram pair corpus (d163) —
    * the step the d157/d158 DeepWalk machinery exists for: a shallow
    * squared-loss factorization fitting one embedding per node so that
    * u_c · u_x ≈ ln(1 + n_pairs) for every observed (center, context)
    * pair (the implicit-matrix view of word2vec — Levy & Goldberg: SGNS
    * factorizes a shifted co-occurrence statistic; squared loss keeps
    * the gradient free of engine-variant sigmoids), trained by
    * full-batch gradient descent with the parameters held as
    * FIXED-POINT LONGS in 1e-6 units — the d128 rank convention
    * applied to d64's unrolled-GD discipline. Per-pair gradient terms
    * are computed in doubles ROW-LOCALLY (fixed association order over
    * exact-integer-derived operands — bit-identical in any engine) and
    * quantized back to 1e-6 units; every reduction and update is then
    * exact integer arithmetic: long sums, half-away-from-zero integer
    * division folding the rational learning rate in. Measured to
    * matter twice: the d64 round-the-6th-decimal-average convention
    * left ~1-ulp flips on a few of this operator's 15k small per-node
    * averages, and even exact long sums flipped when divided back
    * through a float — per-node groups are small enough that both
    * hazards reach the output. The all-integer path removes them BY
    * CONSTRUCTION; the ≤1e-6-per-term quantization is part of the
    * defined semantics, and the oracle unrolls the identical
    * iterations as CTEs (hash-gated).
    *
    * Unlike d64 (whose 4 weights collect to the driver), the parameters
    * here are PER-NODE embedding rows that never leave DataFrames: each
    * iteration attaches both endpoints' embeddings to the pair list
    * (two node-keyed joins), computes per-pair terms row-locally,
    * reduces them to per-node gradient sums (node-keyed partial
    * aggregation of longs), and applies the update in one node-keyed
    * join. In: (center, context, n_pairs) — the [[walkSkipGrams]]
    * shape, both directions present. The learning rate is the rational
    * lrNum/lrDen (default 1/10; REQUIRED < 1 — full-batch GD on this
    * loss diverges at lr >= 1, where the quantization would saturate
    * engine-specifically instead of erroring), applied as one exact
    * integer division per update:
    * delta = round_half_away(avg_term · lrNum / lrDen).
    * Out: (node, e0..e{dim-1}) as doubles — each the single exact
    * division units/1e6 of the final long state.
    *
    * Scale: per iteration two pair-keyed equi-joins + one node-keyed
    * partial-aggregated long sum + one node-keyed update join — the
    * d128 plan shape with a dim-column payload; embeddings
    * localCheckpoint per iteration (the frame is consumed by both
    * joins of the next round). Work ∝ |pairs|·dim per iteration;
    * nothing driver-side. Overflow: per-node term sums are bounded by
    * n_pairs(node)·|2·err·x|·1e6 ≈ 6e6·n_pairs(node) — inside Long to
    * ~1e12 pairs per single node. */
  def walkEmbeddings(pairs0: DataFrame, dim: Int = 4, iters: Int = 2,
                     lrNum: Int = 1, lrDen: Int = 10): DataFrame = {
    require(dim >= 1 && dim <= 16, "dim in 1..16 (wide-column layout)")
    require(iters >= 0, "need iters >= 0")
    // lr < 1 strictly: full-batch GD on the squared loss DIVERGES at
    // lr >= 1 (the per-pair double terms blow up geometrically to
    // ±Infinity and the round(...).cast(Long) quantization saturates
    // silently at Long.{Min,Max}Value — an engine-specific value that
    // would break the engine-exact guarantee instead of erroring);
    // r13 advice.
    require(lrNum >= 1 && lrDen >= 1 && lrNum < lrDen,
      "learning rate must be a positive rational < 1 (lrNum < lrDen) — " +
        "full-batch GD diverges at lr >= 1 and the fixed-point " +
        "quantization would saturate silently instead of failing")
    // checkpoint AND reset size statistics: localCheckpoint PRESERVES
    // the origin plan's sizeInBytes, and the size-only stats visitor
    // MULTIPLIES child sizes at every join — so an iterated
    // self-referential join loop DOUBLES the estimate's bit-length per
    // iteration (measured: 299 -> 50747 bits in 8 rounds) until
    // Catalyst spends its time in BigInteger multiplication around
    // round ~20. The shallow registered graph iterations (<= 6 rounds)
    // never reach that regime; a 20-50-round trainer does. Re-wrapping
    // the checkpointed RDD resets the estimate to the constant default
    // at the cost of one Row conversion layer per read.
    def checkpointFresh(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint()
      c.sparkSession.createDataFrame(c.rdd, c.schema)
    }
    val js = 0 until dim
    val pairs = pairs0.toDF("center", "context", "n_pairs")
      .withColumn("s", round(log(lit(1.0) + col("n_pairs").cast(DoubleType)), 6))
      .localCheckpoint()
    // deterministic init in [-0.1, 0.1] (±100000 units): the d157
    // md5-parity trick per (node, dimension) — engine-exact
    var emb = pairs.select(col("center").as("node")).distinct()
      .select(col("node") +: js.map(j =>
        ((expr("cast(conv(substring(md5(concat_ws('|', node, " +
          s"$j)), 1, 15), 16, 10) as bigint) % 2001") - lit(1000L)) *
          lit(100L)).as(s"e$j")): _*)
    emb = checkpointFresh(emb)
    for (_ <- 1 to iters) {
      val c = emb.toDF(("center" +: js.map(j => s"c$j")): _*)
      val x = emb.toDF(("context" +: js.map(j => s"x$j")): _*)
      val joined = pairs.join(c, Seq("center")).join(x, Seq("context"))
      // row-local doubles from exact units, fixed association order:
      // ((c0x0 + c1x1) + ...) — matches the oracle's SQL sum exactly
      def d(name: String) = col(name).cast(DoubleType) / 1000000.0
      val dot = js.map(j => d(s"c$j") * d(s"x$j")).reduce(_ + _)
      val err = dot - col("s")
      // per-pair term quantized to 1e-6 units as a LONG (row-local,
      // engine-exact), reduced by exact integer sum
      def term(j: Int) =
        round(lit(2.0) * err * d(s"x$j") * 1000000.0, 0).cast(LongType)
      val grads = joined.groupBy(col("center").as("node"))
        .agg(sum(term(0)).as("g0"),
          (js.tail.map(j => sum(term(j)).as(s"g$j")) :+
            count(lit(1)).as("gn")): _*)
      // delta = half-away-from-zero((gsum/gn)·lrNum/lrDen) as ONE exact
      // integer division; both branches keep operands non-negative so
      // floor (DuckDB //) and truncate (Spark div) agree
      def delta(j: Int) = expr(
        s"case when g$j >= 0 then (2 * g$j * $lrNum + gn * $lrDen) div (2 * gn * $lrDen) " +
          s"else -((2 * (-g$j) * $lrNum + gn * $lrDen) div (2 * gn * $lrDen)) end")
      emb = emb.join(grads, Seq("node"), "left")
        .na.fill(0L, js.map(j => s"g$j") :+ "gn")
        .select(col("node") +: js.map(j =>
          when(col("gn") === 0L, col(s"e$j"))
            .otherwise(col(s"e$j") - delta(j)).as(s"e$j")): _*)
      emb = checkpointFresh(emb)
    }
    emb.select(col("node") +: js.map(j =>
      (col(s"e$j").cast(DoubleType) / 1000000.0).as(s"e$j")): _*)
  }

  /** Cosine top-k related items over NODE EMBEDDINGS (d171) — the
    * retrieval consumer the d163/d168 trainers exist for (r13 verdict
    * ask #4): rank every node's neighbors by embedding cosine, the
    * learned-similarity counterpart of d133's co-occurrence Jaccard
    * (embeddings generalize past direct co-occurrence — two items never
    * sharing a basket still score high when their walk contexts agree).
    * In: (node, e0..e{dim-1}) — the [[walkEmbeddings]] output shape,
    * doubles that are exact multiples of 1e-6 (each the single division
    * units/1e6 of the trainer's long state). Out: (node, rel_id,
    * cosine, rank 1..k) per node of nonzero norm; zero-norm nodes are
    * excluded from both sides (their cosine is undefined — documented,
    * deterministic, and unreachable from the md5-seeded trainer).
    *
    * Determinism (hash-gateable, stronger than a float dot chain): the
    * 1e-6 grid is EXACTLY invertible — round(e·1e6) recovers the
    * trainer's long units (relative double error ~1e-16 never reaches
    * the 0.5 rounding threshold at unit magnitudes « 2^52) — so the
    * dot product and both squared norms are computed as EXACT LONG
    * sums (association-order-free). The only float steps are cast,
    * sqrt, one multiply, one divide, and the 6-decimal round — every
    * one IEEE-pinned given equal inputs, so both engines produce the
    * identical rounded cosine (the unit-scale factors cancel exactly
    * in the ratio). Ties break to the lower rel_id.
    *
    * Scale: this is the EXACT brute-force baseline — N·(N−1) scored
    * pairs, guarded by `maxNodes` (the scale path at 1e8+ nodes is the
    * similarity family's ANN machinery over the same vectors —
    * registered as the served sibling d187 ([[embeddingRelatedAnn]],
    * the d28→d30 precedent) with this operator as its recall
    * adjudicator). r19 execution shape (guide §1.2 "per-task work",
    * §4 "heavy lifting in native code"): the guarded candidate side is
    * collected ONCE into flat primitive arrays (≤ maxNodes · (dim+2)
    * longs — the same bounded driver materialization the previous
    * BroadcastNestedLoopJoin built internally for its broadcast
    * relation) and each partition scores its nodes in an
    * allocation-free long-array loop feeding a k-slot buffer, so only
    * k rows per node are ever materialized as rows. The r18
    * measurement (sf0.1, n=5922; OPTIMIZATION_r19.md) showed the old
    * BNLJ + Catalyst pipeline spent ~12 s evaluating Round's per-pair
    * BigDecimal and ~14 s in the udaf(TopKAgg) object-aggregation
    * machinery against a ~4 s pair-stream floor; the kernel pays
    * BigDecimal only for
    * buffer CONTENDERS — a candidate whose raw cosine sits more than
    * 1e-6 below the kth kept (rounded) value cannot round into the
    * buffer (round6 moves a finite double by at most 5e-7(1+ε)), so
    * the reject test is two primitive compares. Selection order and
    * values are bit-identical to the TopKAgg path: same exact-long
    * dot, same sqrt/divide, the same HALF_UP decimal-string rounding
    * Catalyst's Round performs ([[round6]]), and the same order
    * ([[TopKSlots]], whose −0.0 → 0.0 normalization the oracle matches
    * with `+ 0`, so both engines emit the identical +0.0 bits) —
    * pinned by GraphsSpec's kernel-vs-legacy equivalence sweep and the
    * unchanged DuckDB hash gate.
    * Overflow: |units| ≤ ~2^20 from the trainer's bounded descent ⇒
    * dot ≤ dim·2^40 — inside Long to dim 16 with 3 orders to spare.
    *
    * Guard: refuses corpora over `maxNodes` (r15 verdict hardening) —
    * the N² baseline must be chosen deliberately, never reached by a
    * 100×-scale-up accident; the error names the served sibling. */
  def embeddingRelated(emb: DataFrame, k: Int = 5,
      maxNodes: Long = 50000L): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(maxNodes >= 1, "need maxNodes >= 1")
    val cols = emb.columns
    require(cols.length >= 2, "need (node, e0..e{dim-1})")
    val dims = cols.tail
    // exact unit recovery + integer squared norm, one narrow frame
    val u = emb.select(
      (col(cols.head).as("node") +:
        dims.zipWithIndex.map { case (c, j) =>
          round(col(c) * 1000000.0, 0).cast(LongType).as(s"u$j") }) :+
        dims.indices.map(j =>
          round(col(dims(j)) * 1000000.0, 0).cast(LongType) *
            round(col(dims(j)) * 1000000.0, 0).cast(LongType))
          .reduce(_ + _).as("norm2"): _*)
      .where(col("norm2") > 0L)
      .localCheckpoint() // referenced by both sides of the self-join
    // the one intentionally-quadratic operator in the suite gets the
    // copurchaseEdges maxBasketItems discipline: refuse a corpus whose
    // N² pair stream would be a 100×-scale footgun instead of running
    // it silently — callers either mean embeddingRelatedAnn (the
    // served sibling, probes·√N candidates/query) or raise the cap
    // deliberately (the count is on the post-checkpoint narrow frame,
    // so it costs one metadata-cheap pass, not a corpus re-read)
    val n = u.count()
    require(n <= maxNodes,
      s"embeddingRelated: $n nodes exceed maxNodes=$maxNodes — this is " +
        "the EXACT N^2 self-join baseline; rank through " +
        "embeddingRelatedAnn (the IVF-served sibling) at this scale, or " +
        "pass maxNodes explicitly to run the quadratic baseline anyway")
    val dim = dims.length
    // candidate side: the guarded (≤ maxNodes) narrow frame collected
    // once into flat primitive arrays and broadcast — ids, units
    // (row-major), and the PRE-SQRT norms (sqrt is per-vector, so
    // hoisting it out of the pair loop reproduces the old per-pair
    // sqrt(qa)·sqrt(qb) product bit-for-bit). Node ids are unique by
    // the input contract (walkEmbeddings emits one row per node; the
    // DuckDB oracle SQL scores each (node, rel) pair once on the same
    // assumption).
    val rows = u.collect()
    val m = rows.length
    val cIds = new Array[Long](m)
    val cUnits = new Array[Long](m * dim)
    val cNorms = new Array[Double](m)
    var ci = 0
    while (ci < m) {
      val r = rows(ci)
      cIds(ci) = r.getLong(0)
      var j = 0
      while (j < dim) { cUnits(ci * dim + j) = r.getLong(1 + j); j += 1 }
      cNorms(ci) = math.sqrt(r.getLong(1 + dim).toDouble)
      ci += 1
    }
    val spark = u.sparkSession
    val bc = spark.sparkContext.broadcast((cIds, cUnits, cNorms))
    val kk = k
    import spark.implicits._
    u.select(col("node"),
        array(dims.indices.map(j => col(s"u$j")): _*).as("uv"), col("norm2"))
      .as[(Long, Array[Long], Long)]
      .mapPartitions { it =>
        val (ids, units, norms) = bc.value
        val mm = ids.length
        it.flatMap { case (node, av, n2) =>
          val an = math.sqrt(n2.toDouble)
          val top = new TopKSlots(kk)
          var c = 0
          while (c < mm) {
            val cid = ids(c)
            if (cid != node) {
              var dot = 0L
              var j = 0
              val off = c * dim
              while (j < dim) { dot += av(j) * units(off + j); j += 1 }
              val raw = dot.toDouble / (an * norms(c))
              // contender gate: the slots hold ROUNDED sims; round6 moves
              // a finite double by ≤ 5e-7(1+ε), so raw < kth − 1e-6 can
              // neither beat nor tie the kth slot after rounding
              if (top.size < kk || raw >= top.kth - 1e-6) top.offer(round6(raw), cid)
            }
            c += 1
          }
          (0 until top.size).iterator
            .map(p => (node, top.id(p), top.sim(p), (p + 1).toLong))
        }
      }
      .toDF("node", "rel_id", "cosine", "rank")
  }

  /** Catalyst Round(_, 6) on DoubleType, replicated exactly: the value's
    * SHORTEST decimal representation (BigDecimal.valueOf goes through
    * Double.toString) rescaled HALF_UP — NOT math.rint(x·1e6)/1e6, whose
    * pre-scaling multiply can flip values within an ulp of a rounding
    * boundary. NaN/Infinity pass through like the expression does
    * (unreachable in [[embeddingRelated]]: norm2 > 0 on both sides). */
  private def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The ANN-served production form of [[embeddingRelated]] (d187, the
    * d28→d30 / d08→d35 precedent): the trained wide-format embeddings
    * bridge to (vec_id, v ARRAY) and rank through the IVF family —
    * [[IvfIndex.build]]'s √N-cell coarse quantizer, probed-cell
    * exact-cosine scoring, the same bounded TopKAgg — so related-item
    * serving at 1e8+ nodes costs probes·N/K candidates per query,
    * never the N² self-join the exact baseline declares.
    *
    * Why IVF and not the hyperplane-LSH family here: trained WALK
    * embeddings are LOW-DIMENSIONAL, and central-hyperplane LSH has a
    * hard resolution ceiling there — b hyperplanes in R^d realize at
    * most 2·Σ_{i<d} C(b−1, i) sign regions (the central-arrangement
    * bound), ≈ 600 buckets for b = 13, d = 4 NO MATTER how many
    * signature bits are declared, so occupancy grows like N/600 and
    * the candidate stream silently re-quadratizes (measured on the 10×
    * probe corpus: p50 candidates/query ≈ N; mean-centering and
    * whitening the signature space — [[Similarity.annTopKWhitened]] —
    * cannot lift a region-count ceiling). IVF's Voronoi cells
    * partition SPACE, not sign patterns: K = √N cells exist at any
    * dimension, candidates/query stay probes·√N, and the same
    * quantizer family already serves d17/d33. Deterministic given the
    * build's partition-order centroid folds but engine-specific →
    * rows-only gate; recall vs the exact d171 baseline is bounded in
    * GraphsSpec and emitted as bench-quality d187_recall. Out: (node,
    * rel_id, rank) — the id/rank contract of the exact form minus the
    * cosine (the ANN path's ranking is approximate by candidate
    * coverage, not by score; consumers wanting scores re-attach them
    * id-keyed). */
  def embeddingRelatedAnn(emb: DataFrame, k: Int = 5, kCells: Int = 0,
      probes: Int = 3): DataFrame = {
    val cols = emb.columns
    require(cols.length >= 2, "need (node, e0..e{dim-1})")
    val s = emb.sparkSession
    // UNIT-SPHERE cells: Lloyd partitions by Euclidean distance while
    // the ranking metric is cosine — on raw vectors a near-cosine
    // neighbor with a different norm lands in a far cell and recall
    // leaks (measured: 0.67@probes=3 raw vs ~0.9 normalized on the 10×
    // corpus). Cosine is scale-invariant, so normalizing BEFORE the
    // build changes cell locality to angular locality without touching
    // the served ranking; zero-norm vectors drop exactly like the rest
    // of the ANN family.
    val e = Similarity.normalizedVecs(
      emb.select(col(cols.head).as("vec_id"),
        array(cols.tail.map(c => col(c).cast(DoubleType)): _*).as("embedding")))
    val unit = e.select(col("vec_id"),
      expr("transform(v, x -> x / nrm)").as("v"))
    val model = IvfIndex.build(s, unit, k = kCells, iters = 3)
    IvfIndex.searchTopK(s, model, unit, k, probes)
      .select(col("vec_id").as("node"), col("neighbor_id").as("rel_id"),
        col("rank"))
  }

  /** The assortativity formula — ONE literal string both engines parse
    * (the bm25Formula discipline): Pearson correlation of endpoint
    * degrees over the DIRECTED (symmetrized) edge list, computed from
    * the exact integer sums, every operand cast to double, rounded to
    * 4 decimals. By symmetry sum_dx = sum_dy and sum_dx2 = sum_dy2, so
    * the classic r collapses to the two-sum form below. The
    * denominator (the degree variance) is exactly 0 on any REGULAR
    * graph (cycle, clique, perfect matching) — correlation of a
    * constant is undefined, so the nullif guard returns NULL there (a
    * documented value both engines agree on) instead of an engine
    * -specific NaN/±Infinity that may not round-trip the hash gate. */
  private val assortativityFormula: String =
    "round((cast(m as double) * cast(sum_dxdy as double)" +
      " - cast(sum_dx as double) * cast(sum_dx as double))" +
      " / nullif(cast(m as double) * cast(sum_dx2 as double)" +
      " - cast(sum_dx as double) * cast(sum_dx as double), 0.0), 4) + 0"

  /** Degree assortativity (d156, Newman): do high-degree nodes attach
    * to high-degree nodes? r > 0 = assortative (social-network-like),
    * r < 0 = disassortative (hub-and-spoke, typical for co-purchase
    * and web graphs) — the one-number mixing diagnostic that tells a
    * pipeline whether degree-based sampling or hub-removal will change
    * graph structure. Out: ONE row (m, sum_dx, sum_dxdy, sum_dx2,
    * assortativity) — the raw sums are exact longs the oracle
    * recomputes, r is the shared-literal double formula over them
    * (NULL on a regular graph, where the degree variance is 0 and the
    * correlation undefined — see [[assortativityFormula]]). Input
    * edges are canonicalized by [[normalizedUndirected]], so any
    * orientation/duplication convention (pre-symmetrized, (hi,lo)
    * rows, self-loops) is accepted without double-counting degrees.
    *
    * Scale: two degree attaches (node-keyed joins) and one global
    * partial-aggregated sum — no window, no sort. Overflow: sum_dxdy ≤
    * m·maxdeg² must stay inside Long — holds to m = 1e10 edges at
    * maxdeg = 3e4; corpora beyond that should pre-bucket degrees. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = normalizedUndirected(edges)
    val sym = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
    sym
      .join(deg.select(col("u"), col("d").as("dx")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("dy")), Seq("v"))
      .agg(count(lit(1)).as("m"), sum(col("dx")).as("sum_dx"),
        sum(col("dx") * col("dy")).as("sum_dxdy"),
        sum(col("dx") * col("dx")).as("sum_dx2"))
      .select(col("m"), col("sum_dx"), col("sum_dxdy"), col("sum_dx2"),
        expr(assortativityFormula).as("assortativity"))
  }

  /** The modularity formula — ONE literal string both engines parse
    * (the d156 discipline): Q = sum_in/m2 − sum_tot_sq/m2², every
    * operand cast to double, rounded to 6 decimals; NULL (not a crash
    * or NaN) on an empty edge set, where m2 = 0 and the quantity is
    * undefined. */
  private val modularityFormula: String =
    "round(cast(sum_in as double) / nullif(cast(m2 as double), 0.0)" +
      " - cast(sum_tot_sq as double)" +
      " / nullif(cast(m2 as double) * cast(m2 as double), 0.0), 6) + 0"

  /** Newman modularity (d161) of a community assignment over a weighted
    * undirected graph — THE standard quality score for a partition
    * (Newman & Girvan): the fraction of edge weight inside communities
    * minus what a degree-preserving random graph would put there.
    * Q ∈ [−0.5, 1); higher = denser-than-chance communities. This is
    * what lets a pipeline CHOOSE between assignments (d132's CC vs
    * d140's LPA) instead of emitting both unscored.
    *
    * In: edges (src, dst, weight) — EXACTLY ONE ROW PER UNORDERED
    * PAIR, the d127 shape — and assign (node, community). INPUT
    * CONTRACT (the triangle family's normalizedUndirected warning,
    * restated for the weighted case where it cannot be enforced):
    * row ORIENTATION is irrelevant — the symmetrize union below makes
    * (hi, lo) and (lo, hi) rows identical — but row MULTIPLICITY is
    * load-bearing: a pre-symmetrized input (both orientations present)
    * or duplicated rows silently double m2/sum_in and quadruple
    * sum_tot_sq, shifting Q with no error. A blind distinct() cannot
    * close this (two genuine parallel edges of equal weight are
    * indistinguishable from one duplicated row, and summing duplicates
    * into one row would double a pre-symmetrized input's weights
    * instead); callers holding multigraph data should pre-sum parallel
    * edges per unordered pair, and callers with orientation-unknown
    * unweighted data should canonicalize via the d127 build or
    * normalizedUndirected first. Nodes incident to an
    * edge but absent from `assign` are treated as singleton communities
    * labeled by their own node id (the d132 convention — community ids
    * there ARE min-member node ids — makes this the natural embedding;
    * a hostile assignment that reuses a foreign node id as a label
    * breaks the embedding and is caller error). Out: ONE row
    * (m2, sum_in, sum_tot_sq, modularity) — m2 = total directed weight
    * (2m), sum_in = intra-community directed weight, sum_tot_sq =
    * Σ_c (Σ_{u∈c} k_u)², all exact longs the oracle recomputes;
    * modularity is the shared-literal 6-decimal double formula over
    * them, Q = sum_in/m2 − sum_tot_sq/m2².
    *
    * Scale: one node-keyed weighted-degree aggregation, two node-keyed
    * label attaches onto the edge list, a community-keyed sum and three
    * 1-row broadcasts — the d156 plan shape, no window, no sort.
    * Overflow: sum_tot_sq ≤ m2² must stay inside Long — holds to
    * m2 ≈ 3e9 total directed weight; heavier corpora should pre-scale
    * weights down (Q is scale-invariant in the weights). */
  def modularity(edges: DataFrame, assign: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst", "weight")
    val sym = e.select(col("src").as("u"), col("dst").as("v"), col("weight"))
      .union(e.select(col("dst").as("u"), col("src").as("v"), col("weight")))
    val a = assign.toDF("node", "community")
    val deg = sym.groupBy(col("u")).agg(sum(col("weight")).as("k"))
    val lbl = deg.join(a, deg("u") === a("node"), "left")
      .select(col("u"), col("k"), coalesce(col("community"), col("u")).as("c"))
    val tot = lbl.groupBy(col("c")).agg(sum(col("k")).as("tot"))
    val m2 = sym.agg(coalesce(sum(col("weight")), lit(0L))
      .cast(LongType).as("m2"))
    val inSum = sym
      .join(lbl.select(col("u"), col("c").as("cu")), Seq("u"))
      .join(lbl.select(col("u").as("v"), col("c").as("cv")), Seq("v"))
      .agg(coalesce(sum(when(col("cu") === col("cv"), col("weight"))), lit(0L))
        .cast(LongType).as("sum_in"))
    val totSq = tot.agg(coalesce(sum(col("tot") * col("tot")), lit(0L))
      .cast(LongType).as("sum_tot_sq"))
    broadcast(m2).crossJoin(broadcast(inSum)).crossJoin(broadcast(totSq))
      .select(col("m2"), col("sum_in"), col("sum_tot_sq"),
        expr(modularityFormula).as("modularity"))
  }

  /** Louvain-style local-move refinement (d170, Blondel et al.'s phase
    * one as a bounded synchronous sweep): improve a community
    * assignment by moving each node to the neighboring community with
    * the highest modularity gain — the step that turns d161/d166 from
    * SCORERS into an IMPROVER the pipeline can iterate (score CC and
    * LPA, take the better, refine it). In: edges (src, dst, weight) —
    * the [[modularity]] contract VERBATIM, one row per unordered pair —
    * and assign (node, community), unassigned edge-incident nodes
    * defaulting to singletons. Out: (node, community) after `rounds`
    * sweeps.
    *
    * Semantics (pure long arithmetic, engine-exact): with k_i the
    * weighted degree, tot_c the current community degree totals and
    * k_{i,c} node i's weight into community c, the standard gain of
    * moving i into c reduces (common factors dropped) to
    * G(c) = m2·k_{i,c} − k_i·tot'_c, where tot'_c excludes i itself
    * when c is i's own community. Each sweep computes every node's
    * argmax over its neighbor communities plus staying put (ties:
    * G desc, community asc) and applies the move only when STRICTLY
    * better than staying. Sweeps are synchronous (a pure function of
    * the previous assignment — oracle-replayable), which classically
    * risks oscillation (two adjacent nodes swapping into each other's
    * community forever); moves are therefore PARITY-GATED — round r
    * moves only nodes with node ≡ r (mod 2) — the published
    * graph-coloring mitigation collapsed to two classes. Refinement is
    * heuristic (as is Louvain itself): each gated move strictly
    * increases Q in isolation, concurrent same-parity moves can
    * interact, so the spec pins improvement on planted fixtures and
    * the d161/d166 scorers remain the arbiter a pipeline should check.
    *
    * Scale: per sweep one community-keyed degree total, one edge-keyed
    * label attach + (node, community) partial-aggregated sum (the
    * k_{i,c} frame, ≤ 2·|E| rows), a per-node top-1 window (sorts each
    * node's candidate set, never global), and one node-keyed update
    * join — the d128 plan family; assignment localCheckpointed per
    * sweep. Overflow: m2·k_{i,c} ≤ m2² — the d161 envelope (good to
    * m2 ≈ 3e9 total directed weight; pre-scale heavier weights). */
  def refineCommunities(edges: DataFrame, assign: DataFrame,
                        rounds: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1, "need rounds >= 1")
    val e = edges.toDF("src", "dst", "weight")
    val sym = e.select(col("src").as("u"), col("dst").as("v"), col("weight"))
      .union(e.select(col("dst").as("u"), col("src").as("v"), col("weight")))
      .localCheckpoint()
    val deg = sym.groupBy(col("u").as("node"))
      .agg(sum(col("weight")).cast(LongType).as("k"))
    val m2 = sym.agg(coalesce(sum(col("weight")), lit(0L))
      .cast(LongType).as("m2"))
    var a = deg.join(assign.toDF("node", "community"), Seq("node"), "left")
      .select(col("node"), col("k"),
        coalesce(col("community"), col("node")).as("c"))
      .localCheckpoint()
    for (r <- 1 to rounds) {
      val tot = a.groupBy(col("c").as("cand"))
        .agg(sum(col("k")).cast(LongType).as("tot"))
      val kic = sym
        .join(a.select(col("node").as("v"), col("c").as("cand")), Seq("v"))
        .groupBy(col("u").as("node"), col("cand"))
        .agg(sum(col("weight")).cast(LongType).as("kic"))
      // staying put is always a candidate — with kic 0 when no neighbor
      // shares the community; union DISTINCT dedupes the already-present
      // case (identical (node, cand, kic) row)
      val own = a.alias("a")
        .join(kic.alias("ki"),
          col("a.node") === col("ki.node") && col("a.c") === col("ki.cand"), "left")
        .select(col("a.node").as("node"), col("a.c").as("cand"),
          coalesce(col("ki.kic"), lit(0L)).as("kic"))
      val cand = kic.union(own).distinct()
      val gains = cand
        .join(a.select(col("node"), col("k"), col("c").as("own")), Seq("node"))
        .join(tot, Seq("cand"))
        .crossJoin(broadcast(m2))
        .select(col("node"), col("cand"), col("own"),
          (col("m2") * col("kic") - col("k") *
            (col("tot") - when(col("cand") === col("own"), col("k"))
              .otherwise(lit(0L)))).as("g"))
      val w = Window.partitionBy(col("node"))
        .orderBy(col("g").desc, col("cand"))
      val best = gains.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("node"), col("cand").as("best"), col("g").as("gbest"))
      val gOwn = gains.where(col("cand") === col("own"))
        .select(col("node"), col("g").as("gown"))
      a = a.join(best, Seq("node")).join(gOwn, Seq("node"))
        .select(col("node"), col("k"),
          when(pmod(col("node"), lit(2L)) === lit((r % 2).toLong) &&
              col("gbest") > col("gown"),
            col("best")).otherwise(col("c")).as("c"))
        .localCheckpoint()
    }
    a.select(col("node"), col("c").as("community"))
  }

  // ---- registered queries --------------------------------------------------

  /** Distinct (order, part) pairs — the basket frame for d127/d129. */
  private def orderBaskets(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))

  /** Per-order half-life shifts for the temporal family (d174/d177/
    * d179): age in days from the corpus' newest order date, bucketed
    * by the 180-day half-life, capped at 30 (the in-operator [0, 62]
    * clamp then never moves a registered value). */
  private def orderShifts(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderkey").as("basket_id"),
      col("o_orderdate").cast("date").as("odate"))
    val mx = o.agg(max(col("odate")).as("mx"))
    o.crossJoin(broadcast(mx))
      .select(col("basket_id"),
        least(expr("datediff(mx, odate) div 180"), lit(30)).as("shift"))
  }

  /** The co-purchase (src, dst) edge frame, MATERIALIZED — every graph
    * query below references its edge input at least twice (symmetrize
    * unions, degree + prune passes; triangleStats five times), and an
    * unmaterialized frame replays the basket self-join once per
    * reference inside the first job. d127 itself stays lazy (it emits
    * the frame once and is the timing gate for the derivation). */
  private[graft] def copurchaseFrame(s: SparkSession, d: String): DataFrame =
    copurchaseEdges(orderBaskets(s, d)).select(col("src"), col("dst"))
      .localCheckpoint()

  /** Customer–supplier interaction graph, symmetrized, with the two key
    * spaces disambiguated by even/odd node ids (cust → 2k, supp → 2k+1)
    * — the d128 input. */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val directed = tradeDirected(s, d)
    directed.union(directed.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** The DIRECTED customer→supplier half of [[tradeEdges]] — the d145/
    * d181 input (HITS/SALSA read direction; the even/odd node-id
    * encoding lives HERE and only here). */
  private def tradeDirected(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val l = lineitem(s, d).select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"))
    o.join(l, Seq("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
  }

  /** The d127 oracle — replays [[copurchaseEdges]] INCLUDING the
    * default runaway-basket gate (the `qualify count <= 1024` filter),
    * so the oracle and the operator agree even on a corpus with a
    * >1024-distinct-item basket (TPC-H baskets hold ≤ 7 parts, so the
    * gate never fires on the registered data — but the oracle must
    * encode the operator's full contract, not a coincidence of the
    * gated corpus). */
  private def copurchaseSqlFor(src: String): String =
    s"""WITH op0 AS (
      |  SELECT DISTINCT l_orderkey AS basket_id, l_partkey AS item_id FROM $src),
      |op AS (
      |  SELECT basket_id, item_id FROM op0
      |  QUALIFY count(*) OVER (PARTITION BY basket_id) <= 1024)
      |SELECT a.item_id AS src, b.item_id AS dst, CAST(count(*) AS BIGINT) AS weight
      |FROM op a JOIN op b ON a.basket_id = b.basket_id AND a.item_id < b.item_id
      |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  private[graft] val copurchaseSql = copurchaseSqlFor("lineitem")

  /** The d127 gate replayed over the EVEN-orderkey basket half — the
    * [[EdgeIndex]] driver binding's FIRST generation (save before the
    * odd-half append), used by d172's warm-start oracle. */
  private[graft] val copurchaseEvenSql =
    copurchaseSqlFor("(SELECT * FROM lineitem WHERE l_orderkey % 2 = 0)")

  /** Item communities (d132): connected components of the co-purchase
    * graph — the "related-item clusters" the d127 scaladoc names as the
    * edge set's purpose. Reuses the d14 CC machinery (partition-local
    * union-find contraction + large-star/small-star, Kiveris et al.),
    * so the scale story is already proven: O(log n) rounds, no driver
    * adjacency. Out: (item_id, community_id = min item in component,
    * community_size) for every item incident to a support>=minSupport
    * edge. */
  def copurchaseCommunities(s: SparkSession, baskets: DataFrame): DataFrame =
    Similarity.connectedComponents(s,
      copurchaseEdges(baskets).select(col("src").as("a"), col("dst").as("b")))
      .select(col("v").as("item_id"), col("lbl").as("community_id"),
        col("cluster_size").as("community_size"))

  /** Related-items recommendation (d133): per-item top-k neighbors by
    * basket Jaccard — "customers who bought X also bought", ranked by
    * |baskets(a) ∩ baskets(b)| / |baskets(a) ∪ baskets(b)| in exact
    * integer ppm (inter·1e6 div (na + nb − inter)), ties to the lower
    * item id so the ranking is a pure function of the input. Out:
    * (item_id, rel_id, n_shared, jaccard_ppm, rank 1..k), one block per
    * item incident to a support-pruned pair.
    *
    * Scale: candidates are the d127 edge set (basket-witnessed,
    * support-pruned — never all pairs); two broadcast-size joins attach
    * basket counts; the top-k window partitions BY ITEM, so its sort is
    * per-item-neighborhood, never global. Overflow: inter·1e6 ≤
    * #baskets·1e6 — inside Long to 9e12 baskets. */
  def relatedItems(baskets: DataFrame, k: Int = 10,
                   minSupport: Long = 2L): DataFrame = {
    // bi feeds BOTH the per-item size aggregation and the edge build —
    // materialize it once so the raw basket source (at corpus scale, a
    // 100 TB lineitem scan) is read once, not once per consumer (r13
    // verdict ask #1's no-double-scan rule)
    val bi = baskets.toDF("basket_id", "item_id").distinct().localCheckpoint()
    relatedItemsFrom(bi, copurchaseEdges(bi, minSupport), k)
  }

  /** [[relatedItems]] over a PRECOMPUTED co-purchase edge frame — the
    * `...From` twin (the lexical family's bm25From discipline) that
    * lets one materialized (or [[EdgeIndex]]-served) edge set feed the
    * whole recommendation stage without re-running the basket
    * self-join; the d164 composed pipeline is gated through it. `bi`
    * supplies the per-item basket counts the Jaccard needs and must be
    * DISTINCT (basket_id, item_id) rows — the shape [[relatedItems]]
    * derives before delegating. */
  def relatedItemsFrom(bi: DataFrame, pairs: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = bi.toDF("basket_id", "item_id")
      .groupBy(col("item_id")).agg(count(lit(1)).as("n"))
    val p = pairs.toDF("src", "dst", "weight")
    val sym = p.select(col("src").as("item_id"), col("dst").as("rel_id"), col("weight"))
      .union(p.select(col("dst").as("item_id"), col("src").as("rel_id"), col("weight")))
    sym
      .join(sizes.select(col("item_id"), col("n").as("na")), Seq("item_id"))
      .join(sizes.select(col("item_id").as("rel_id"), col("n").as("nb")), Seq("rel_id"))
      .withColumn("jaccard_ppm", expr("weight * 1000000 div (na + nb - weight)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("item_id"))
          .orderBy(col("jaccard_ppm").desc, col("rel_id"))).cast(LongType))
      .where(col("rank") <= k)
      .select(col("item_id"), col("rel_id"), col("weight").as("n_shared"),
        col("jaccard_ppm"), col("rank"))
  }

  /** Trending related items (d179): per-item top-k neighbors by
    * DECAYED co-purchase weight — the recommendation consumer of
    * [[decayedCopurchase]], completing the temporal family the way
    * d133 consumes d127: where [[relatedItems]] ranks by all-time
    * Jaccard, this ranks by recency-weighted evidence, so an item
    * pair co-bought heavily last month outranks a historically
    * stronger but stale pair. In: (src, dst, weight_ppm) — the d174
    * shape (weights from ANY scoring work; only the ranking reads
    * them). Out: (item_id, rel_id, weight_ppm, rank 1..k) per item
    * incident to a surviving pair; ties to the lower rel_id (the d133
    * convention — the ranking is a pure function of the input).
    *
    * Scale: one symmetrize union and a per-item top-k window (sorts
    * each item's candidate list, never global) — strictly lighter
    * than d133 (no basket-count joins; the decay already priced the
    * evidence). */
  def trendingRelated(pairs: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "need k >= 1")
    val p = pairs.toDF("src", "dst", "weight_ppm")
    val sym = p.select(col("src").as("item_id"), col("dst").as("rel_id"),
        col("weight_ppm"))
      .union(p.select(col("dst"), col("src"), col("weight_ppm")))
    sym
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("item_id"))
          .orderBy(col("weight_ppm").desc, col("rel_id"))).cast(LongType))
      .where(col("rank") <= k)
  }

  /** Link prediction by the resource-allocation index (d185, Zhou,
    * Lü & Zhang 2009 — the integer-exact member of the common-
    * neighbor family: Adamic–Adar with 1/deg in place of 1/log deg,
    * consistently its equal-or-better in the published benchmarks):
    * for every 2-hop pair (u, v) NOT already an edge, score_ppm =
    * Σ over common neighbors w of 1e6 div deg(w) — "which items will
    * be co-bought next", the complement of [[relatedItems]]' ranking
    * of pairs that already co-occur. Out: (node, cand_id, n_common,
    * score_ppm, rank 1..k) per node with at least one candidate; ties
    * to the lower cand_id (the d133 convention).
    *
    * Scale: candidates are enumerated AT THE WEDGE CENTER (each
    * common neighbor w contributes its neighbor pairs), which is
    * Σ deg² — quadratic at hubs BY THE PROBLEM'S NATURE (a hub
    * genuinely witnesses deg² candidate pairs). The published
    * mitigation is principled truncation, applied here as the
    * `maxCenterDegree` gate BEFORE the quadratic fan-out (the d127
    * runaway-basket-cap discipline): centers above the cap are
    * DROPPED, a documented bias that is also the scoring's own
    * asymptote — a deg-10⁶ center contributes 1e6 div 1e6 = 1 ppm
    * per pair, so high-degree centers are precisely the ones whose
    * evidence the RA index already discounts to nothing. The top-k
    * window partitions BY NODE (per-neighborhood sort, never
    * global). Self-pairs cannot arise (a wedge's endpoints differ
    * from its center and x < y excludes x = y); existing edges are
    * removed by one canonical anti-join. */
  def linkPrediction(edges: DataFrame, k: Int = 10,
                     maxCenterDegree: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "need k >= 1")
    require(maxCenterDegree >= 2, "a wedge center needs degree >= 2")
    val e = normalizedUndirected(edges).localCheckpoint()
    val sym = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
    // the degree gate rides the same window-cap shape as the basket
    // cap: one center-keyed exchange, applied before the self-join
    val adj = sym
      .withColumn("__d", count(lit(1)).over(Window.partitionBy(col("u"))))
      .where(col("__d") <= maxCenterDegree)
      .select(col("u"), col("v"), col("__d").as("d"))
    val a = adj.toDF("w", "x", "d")
    val b = adj.select(col("u").as("w"), col("v").as("y"))
    val scored = a.join(b, Seq("w"))
      .where(col("x") < col("y"))
      .select(col("x").as("src"), col("y").as("dst"),
        expr("1000000 div d").as("contrib"))
      .join(e, Seq("src", "dst"), "left_anti")
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_common"), sum(col("contrib")).as("score_ppm"))
      .localCheckpoint() // consumed by both directions of the union
    val bidir = scored.select(col("src").as("node"), col("dst").as("cand_id"),
        col("n_common"), col("score_ppm"))
      .union(scored.select(col("dst"), col("src"),
        col("n_common"), col("score_ppm")))
    bidir
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("node"))
          .orderBy(col("score_ppm").desc, col("cand_id"))).cast(LongType))
      .where(col("rank") <= k)
  }

  /** Multi-source BFS hop distance (d135): minimum number of edges from
    * any source node, bounded to `maxHops` — reachability tiers
    * ("how close is every item to the catalog's anchor set"),
    * contamination blast-radius over a similarity graph, or the seed
    * expansion step of a crawl. In: undirected edges (src, dst) (the
    * d127 shape — one row per unordered pair) and a 1-column sources
    * frame (ids absent from the edge set are ignored — they are not in
    * the graph, so no phantom hops=0 rows). Out: (node, hops) for every
    * node within maxHops of a source; hops = exact BFS level, 0 for the
    * sources themselves.
    *
    * Scale: textbook distributed frontier iteration — each hop is ONE
    * edge-keyed equi-join of the CURRENT frontier (never the settled
    * set, so per-hop work is proportional to the frontier's edge
    * boundary, not the visited volume), a distinct, and an anti-join
    * against the settled set; every step shuffles on node keys, no
    * driver-side adjacency. The frontier is localCheckpointed per hop
    * (the d128 `checkpointEvery` precedent, mandatory here: each
    * frontier is consumed twice — by the settled union and the next
    * hop's join — and the empty-frontier short-circuit is an action per
    * hop anyway, so the materialization is already paid for). The
    * settled set is a union of ≤ maxHops+1 checkpointed frames —
    * shallow lineage by construction. maxHops is a bound, not a
    * target: an exhausted frontier stops early. */
  def hopDistance(edges: DataFrame, sources: DataFrame,
                  maxHops: Int = 4): DataFrame = {
    require(maxHops >= 0, "need maxHops >= 0")
    val e0 = edges.toDF("src", "dst")
    // the edge frame is probed once per hop — materialize it once so an
    // expensive upstream derivation (e.g. the d127 basket self-join) is
    // not replayed maxHops times
    val e = e0.union(e0.select(col("dst"), col("src"))).toDF("src", "dst")
      .localCheckpoint()
    // seed only sources that exist in the edge set — a stale/foreign seed
    // id would otherwise surface as a phantom hops=0 row in the output
    // (the universe probe is one semi-join against the already-
    // materialized edge frame, before the seed's own materialization)
    var settled = sources.toDF("node").distinct()
      .join(e.select(col("src").as("node")), Seq("node"), "left_semi")
      .select(col("node"), lit(0L).as("hops")).localCheckpoint()
    var frontier = settled
    var h = 1
    while (h <= maxHops && !frontier.isEmpty) {
      val next = frontier
        .join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("hops"))
        .localCheckpoint()
      settled = settled.union(next)
      frontier = next
      h += 1
    }
    settled
  }

  /** Sampled-source harmonic centrality (d176, the Eppstein–Wang
    * pivot-sampling estimator applied to Boldi & Vigna's harmonic
    * centrality): for every node, Σ over sampled sources s of
    * 1/dist(s, node) — the centrality that handles disconnected graphs
    * gracefully (unreachable pairs contribute 0, no infinite-distance
    * special case), computed EXACTLY from `nSources` deterministically
    * sampled sources with per-source BFS bounded to `maxHops`. This is
    * the hash-gateable exact adjudicator of [[hyperBallCloseness]]'s
    * sketched estimate, the same role [[neighborhoodExact]] plays for
    * [[hyperBall]]: the sketch serves at 1e9 nodes, this pins its
    * ordering on gated corpora.
    *
    * Sampling is the d157 md5-addressing trick: the nSources nodes
    * smallest by md5(node-as-decimal-string) — a pure function of the
    * node set both engines order identically (node id breaks the
    * astronomically-unlikely hex tie). Distances are exact BFS levels;
    * the per-source reciprocals are summed in integer ppm
    * (1000000 div hops — floor division, engine-exact). Out: (node,
    * harmonic_ppm, n_reached) for EVERY node of the graph, 0s when no
    * sampled source reaches it; a source reached by other sources
    * contributes/collects like any node (dist ≥ 1 terms only).
    *
    * Scale: [[hopDistance]]'s frontier iteration on (source, node)
    * composite keys — per hop one edge-keyed equi-join of the live
    * frontier, a distinct, an anti-join against the settled set; state
    * is ≤ nSources·|V| rows by construction (the estimator's published
    * trade: error ~ 1/√nSources, cost linear in nSources), frontier
    * localCheckpointed per hop, early exit on exhaustion. The global
    * sort behind the seed pick is a TakeOrderedAndProject of nSources
    * rows, never a materialized full sort. */
  def harmonicCentrality(edges: DataFrame, nSources: Int = 8,
                         maxHops: Int = 3): DataFrame = {
    require(nSources >= 1, "need nSources >= 1")
    require(maxHops >= 1, "need maxHops >= 1")
    val e0 = edges.toDF("src", "dst")
    val sym = e0.union(e0.select(col("dst"), col("src"))).toDF("src", "dst")
      .localCheckpoint()
    val nodes = sym.select(col("src").as("node")).distinct().localCheckpoint()
    val seeds = nodes
      .orderBy(md5(col("node").cast("string")), col("node"))
      .limit(nSources)
    var settled = seeds
      .select(col("node").as("source"), col("node"), lit(0L).as("hops"))
      .localCheckpoint()
    var frontier = settled
    var h = 1
    while (h <= maxHops && !frontier.isEmpty) {
      val next = frontier
        .join(sym, frontier("node") === sym("src"))
        .select(col("source"), col("dst").as("node")).distinct()
        .join(settled.select(col("source"), col("node")),
          Seq("source", "node"), "left_anti")
        .select(col("source"), col("node"), lit(h.toLong).as("hops"))
        .localCheckpoint()
      settled = settled.union(next)
      frontier = next
      h += 1
    }
    val sums = settled.where(col("hops") > 0)
      .groupBy(col("node"))
      .agg(sum(expr("1000000 div hops")).as("harmonic_ppm"),
        count(lit(1)).as("n_reached"))
    nodes.join(sums, Seq("node"), "left")
      .na.fill(0L, Seq("harmonic_ppm", "n_reached"))
  }

  /** Sampled-source betweenness centrality (d178, Brandes 2001 with
    * the Brandes–Pich 2007 source sampling): how much shortest-path
    * traffic flows THROUGH each node — the brokerage complement of
    * [[harmonicCentrality]]'s proximity (a bridge node scores high
    * betweenness with mediocre closeness). Sources are the same
    * md5-ordered sample as d176; per source one forward BFS counts
    * shortest paths (σ) level-by-level, then Brandes' backward
    * accumulation folds each node's pair-dependency δ from the leaves
    * inward: δ(v) = Σ_{w succ of v} σ(v)·(1 + δ(w))/σ(w), summed over
    * sources for v ≠ s.
    *
    * Engine-exactness: σ is an exact long count (level-synchronous sums
    * over predecessor frontiers). δ's division is made deterministic by
    * QUANTIZING to ppm with floor division per (v, w) term —
    * δ'(v) = Σ (σ(v)·(1000000 + δ'(w))) div σ(w) — a documented
    * truncation of < 1e-6 per term relative to real-valued Brandes
    * (the d128 dangling-truncation discipline: bit-exact in any engine
    * beats a float reduction order nobody replays). Paths are bounded
    * to `maxHops` edges (the published @k-betweenness cut — distant
    * pairs contribute little and cost the most). Out: (node,
    * betweenness_ppm) for every node, 0 when no sampled shortest path
    * crosses it.
    *
    * Scale: forward = [[harmonicCentrality]]'s (source, node)-keyed
    * frontier BFS carrying σ (state ≤ nSources·|V|); backward = one
    * level-keyed join per hop against the settled level above plus a
    * (source, node)-keyed sum — maxHops + maxHops joins total, no
    * driver state. Overflow envelope: σ ≤ deg^maxHops path counts and
    * each δ term ≤ σ(v)·(1e6 + δ(w)) must stay inside Long — holds to
    * ~9e9 descendant paths per node at ppm scale; heavier graphs
    * should lower maxHops (the published trade) before σ, like
    * modularity, would need pre-scaled weights. */
  def betweennessCentrality(edges: DataFrame, nSources: Int = 8,
                            maxHops: Int = 3): DataFrame = {
    require(nSources >= 1, "need nSources >= 1")
    require(maxHops >= 1, "need maxHops >= 1")
    // canonicalized (the triangle family's contract): a duplicated or
    // pre-symmetrized input would double σ and skew every δ silently
    val e0 = normalizedUndirected(edges)
    val sym = e0.union(e0.select(col("dst"), col("src"))).toDF("src", "dst")
      .localCheckpoint()
    val nodes = sym.select(col("src").as("node")).distinct().localCheckpoint()
    val seeds = nodes
      .orderBy(md5(col("node").cast("string")), col("node"))
      .limit(nSources)
    // forward: level-synchronous BFS carrying the shortest-path count.
    // levels(i) = the dist-i slice (source, node, sigma), each
    // localCheckpointed (consumed by the settled anti-join, the next
    // level's expansion, AND the backward pass)
    var settledKeys = seeds
      .select(col("node").as("source"), col("node")).localCheckpoint()
    val level0 = seeds
      .select(col("node").as("source"), col("node"), lit(1L).as("sigma"))
      .localCheckpoint()
    var levels = Vector(level0)
    var h = 1
    while (h <= maxHops && !levels.last.isEmpty) {
      val next = levels.last
        .join(sym, levels.last("node") === sym("src"))
        .select(col("source"), col("dst").as("node"), col("sigma"))
        .join(settledKeys, Seq("source", "node"), "left_anti")
        .groupBy(col("source"), col("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .localCheckpoint()
      settledKeys = settledKeys
        .union(next.select(col("source"), col("node"))).localCheckpoint()
      levels = levels :+ next
      h += 1
    }
    // backward: deepest level's delta = 0; each level folds its
    // successors' (sigma, delta) through the quantized recurrence
    val deepest = levels.last
    var deltas = Vector(deepest
      .select(col("source"), col("node"), lit(0L).as("delta")))
    for (i <- levels.size - 2 to 1 by -1) {
      val child = levels(i + 1)
        .join(deltas.head, Seq("source", "node"))
        .select(col("source"), col("node").as("w"),
          col("sigma").as("sw"), col("delta").as("dw"))
      val contrib = levels(i)
        .join(sym, levels(i)("node") === sym("src"))
        .select(col("source"), col("node"), col("sigma"),
          col("dst").as("w"))
        .join(child, Seq("source", "w"))
        .groupBy(col("source"), col("node"))
        .agg(sum(expr("(sigma * (1000000 + dw)) div sw")).as("delta"))
      val full = levels(i)
        .join(contrib, Seq("source", "node"), "left")
        .select(col("source"), col("node"),
          coalesce(col("delta"), lit(0L)).as("delta"))
        .localCheckpoint()
      deltas = full +: deltas
    }
    val bc = deltas.map(_.select(col("node"), col("delta")))
      .reduce(_ union _)
      .groupBy(col("node"))
      .agg(sum(col("delta")).as("betweenness_ppm"))
    nodes.join(bc, Seq("node"), "left")
      .na.fill(0L, Seq("betweenness_ppm"))
  }

  /** Single-source (or multi-source) weighted shortest paths (d151):
    * minimum total integer cost from any source, over paths of at most
    * `maxRounds` edges — Bellman–Ford's rounds-bounded form as a
    * distributed frontier iteration, completing the BFS family the way
    * d139 completed d128: [[hopDistance]] counts hops, this weighs
    * them. In: undirected edges (src, dst, cost) — one row per
    * unordered pair, cost a non-negative long — and a 1-column sources
    * frame (ids absent from the edge set are ignored, the hopDistance
    * contract). Out: (node, dist) for every node reachable within
    * maxRounds edges; dist = exact min path cost using ≤ maxRounds
    * edges (= the true shortest-path distance whenever the true
    * shortest path uses that few edges), 0 for the sources.
    *
    * Correctness of the frontier restriction: if a node's best
    * (r+1)-edge distance beats its best r-edge one, the predecessor on
    * that path must itself have improved at round r (otherwise the same
    * path minus its last edge was already available a round earlier and
    * the node would have improved then) — so joining only LAST ROUND'S
    * improvements against the edges loses nothing, and per-round work
    * is proportional to the improving frontier, not the settled volume.
    * All arithmetic is long addition + min: bit-exact anywhere.
    *
    * Scale: per round ONE frontier-edge equi-join, a node-keyed min,
    * and a node-keyed join against the settled frame; everything
    * shuffles on node keys, no driver state. Frontier and settled are
    * localCheckpointed per round (each is consumed twice; the
    * empty-frontier early exit — stable distances end the loop before
    * maxRounds — is an action per round anyway, the d135 precedent). */
  def shortestPaths(edges: DataFrame, sources: DataFrame,
                    maxRounds: Int = 4): DataFrame = {
    require(maxRounds >= 0, "need maxRounds >= 0")
    val e0 = edges.toDF("src", "dst", "cost")
    val e = e0.union(e0.select(col("dst"), col("src"), col("cost")))
      .toDF("src", "dst", "cost")
      .localCheckpoint()
    var settled = sources.toDF("node").distinct()
      .join(e.select(col("src").as("node")), Seq("node"), "left_semi")
      .select(col("node"), lit(0L).as("dist")).localCheckpoint()
    var frontier = settled
    var r = 1
    while (r <= maxRounds && !frontier.isEmpty) {
      val cand = frontier
        .join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"), (frontier("dist") + col("cost")).as("dist"))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      val improved = cand
        .join(settled.select(col("node"), col("dist").as("old")), Seq("node"), "left")
        .where(col("old").isNull || col("dist") < col("old"))
        .select(col("node"), col("dist"))
        .localCheckpoint()
      settled = settled.join(improved, Seq("node"), "left_anti")
        .union(improved).localCheckpoint()
      frontier = improved
      r += 1
    }
    settled
  }

  /** Exact r-bounded neighborhood function — |{m : d(n,m) ≤ t}| for
    * every node n and radius t in 0..`radius` — via a (root, member)
    * closure replay: the frame that is O(Σ ball sizes) and therefore
    * INFEASIBLE at 1e9 nodes. It exists as [[hyperBall]]'s exact
    * adjudicator (the d36 sibling discipline): small-graph-checkable,
    * DuckDB-replayable, sharing the frontier machinery the estimator's
    * correctness rests on. In: undirected edges (src, dst), one row per
    * unordered pair. Out: (node, radius, ball), exact longs. */
  def neighborhoodExact(edges: DataFrame, radius: Int = 2): DataFrame = {
    require(radius >= 0, "need radius >= 0")
    val e0 = edges.toDF("src", "dst")
    val e = e0.union(e0.select(col("dst"), col("src"))).toDF("src", "dst")
      .localCheckpoint()
    var reached = e.select(col("src").as("root"))
      .distinct()
      .select(col("root"), col("root").as("member"))
      .localCheckpoint()
    var frontier = reached
    var out = reached.groupBy(col("root").as("node"))
      .agg(count(lit(1)).as("ball"))
      .select(col("node"), lit(0L).as("radius"), col("ball"))
    for (t <- 1 to radius) {
      val next = frontier
        .join(e, frontier("member") === e("src"))
        .select(col("root"), col("dst").as("member")).distinct()
        .join(reached, Seq("root", "member"), "left_anti")
        .localCheckpoint()
      reached = reached.union(next).localCheckpoint()
      frontier = next
      out = out.union(
        reached.groupBy(col("root").as("node"))
          .agg(count(lit(1)).as("ball"))
          .select(col("node"), lit(t.toLong).as("radius"), col("ball")))
    }
    out
  }

  /** HyperBall (d148, Boldi & Vigna): the per-node neighborhood function
    * at radii 0..`radius`, ESTIMATED with mergeable HLL sketches — each
    * node carries a constant-size sketch of its ball, and one round of
    * "union every node's sketch with its neighbors' sketches" grows
    * every ball by one hop. This is the centrality primitive that is
    * infeasible exactly at 1e9 nodes (the exact frame is Σ ball sizes ≈
    * n² rows on a small-diameter graph) but costs O(n·sketch) per round
    * sketched — per round ONE edge-keyed join and one node-keyed
    * hll_union_agg, the d128 plan shape with a 2-4 KB payload column.
    * Closeness/harmonic centrality falls out of the output: ball(t) −
    * ball(t−1) estimates the count of nodes at distance exactly t (see
    * [[hyperBallCloseness]]).
    *
    * Out: (node, radius, est_ball) — est_ball a long. DETERMINISTIC:
    * DataSketches HLL is a pure function of the value SET (register max
    * is order-independent, unions commute), so repeated runs agree
    * bit-for-bit; but the estimate is engine-specific, so the driver
    * gate is the d36 pattern — [[hyperBallBound]] is the hash-green
    * sibling pinning the estimates within tolerance of the exact
    * closure replay. Estimates are exact while a ball is small (the
    * sketch stays in sparse mode) and ~0.8% rsd at lgK=14 beyond. */
  def hyperBall(edges: DataFrame, radius: Int = 3, lgK: Int = 14): DataFrame = {
    require(radius >= 0, "need radius >= 0")
    require(lgK >= 4 && lgK <= 21, "lgK out of the DataSketches range")
    val e0 = edges.toDF("src", "dst")
    val e = e0.union(e0.select(col("dst"), col("src"))).toDF("src", "dst")
      .localCheckpoint()
    val nodes = e.select(col("src").as("node")).distinct()
    var sk = nodes.groupBy(col("node"))
      .agg(expr(s"hll_sketch_agg(node, $lgK)").as("sk"))
      .localCheckpoint()
    var out = sk.select(col("node"), lit(0L).as("radius"),
      expr("hll_sketch_estimate(sk)").as("est_ball"))
    for (t <- 1 to radius) {
      val nbr = e.join(sk.select(col("node").as("dst"), col("sk")), Seq("dst"))
        .select(col("src").as("node"), col("sk"))
      sk = nbr.union(sk.select(col("node"), col("sk")))
        .groupBy(col("node")).agg(expr("hll_union_agg(sk)").as("sk"))
        .localCheckpoint()
      out = out.union(sk.select(col("node"), lit(t.toLong).as("radius"),
        expr("hll_sketch_estimate(sk)").as("est_ball")))
    }
    out
  }

  /** Closeness-style centrality from the [[hyperBall]] neighborhood
    * function: sum_t t·(ball(t) − ball(t−1)) estimates Σ_m d(n,m) over
    * the radius-bounded ball (HLL ball estimates are monotone in t —
    * the sketch only gains registers — so the per-shell differences are
    * non-negative). Out: (node, reach = est ball(radius), dist_sum);
    * small dist_sum at large reach = central. */
  def hyperBallCloseness(edges: DataFrame, radius: Int = 3,
                         lgK: Int = 14): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nf = hyperBall(edges, radius, lgK)
    val shell = nf.withColumn("prev", lag(col("est_ball"), 1).over(
        Window.partitionBy(col("node")).orderBy(col("radius"))))
      .where(col("radius") > 0)
      .select(col("node"), col("radius"), col("est_ball"),
        (col("est_ball") - col("prev")).as("shell"))
    shell.groupBy(col("node")).agg(
      max(col("est_ball")).as("reach"),
      sum(col("radius") * col("shell")).as("dist_sum"))
  }

  /** The d36-pattern gate for [[hyperBall]] (d152): the EXACT
    * neighborhood function (oracle-recomputable via a recursive-CTE
    * closure) beside a boolean asserting the production estimator sat
    * within `tol` relative error of it. Sketch estimates can never
    * hash-match an oracle; this projection can — the oracle pins
    * within_bound to TRUE, so a hash match adjudicates both the exact
    * balls and the estimator's bound. tol = 0.1 ≈ 12× the configured
    * lgK=14 rsd (small balls are estimated exactly; large ones are
    * ~0.8% rsd, so 10% is a >6σ bound per node). */
  def hyperBallBound(edges: DataFrame, radius: Int = 2,
                     tol: Double = 0.1): DataFrame = {
    // materialize the edge frame once — the estimator and the exact
    // closure each symmetrize-and-checkpoint their own copy, and
    // without this an expensive upstream derivation (the registered
    // query's basket self-join) would run twice
    val e = edges.toDF("src", "dst").localCheckpoint()
    val exact = neighborhoodExact(e, radius)
    val est = hyperBall(e, radius)
    val b = col("ball").cast("double")
    exact.join(est, Seq("node", "radius"))
      .select(col("node"), col("radius"), col("ball"),
        (abs(col("est_ball").cast("double") - b) / b <= tol).as("within_bound"))
  }

  /** Association rules (d134): directed a→b rules over the co-purchase
    * pairs — support, confidence, and lift in exact integer ppm, the
    * market-basket classic (Agrawal & Srikant's output measures, with
    * the candidate generation replaced by the basket-witnessed pair
    * frame — at the pair level, frequent-itemset mining IS d127).
    * conf(a→b) = inter·1e6 div na; lift = conf·N div nb (that exact
    * association order, so the truncation is engine-independent);
    * support = inter·1e6 div N. Out: (antecedent, consequent, n_shared,
    * support_ppm, conf_ppm, lift_ppm), both directions of every
    * support-pruned pair. lift_ppm > 1e6 ⇔ positively associated.
    *
    * Scale: same frame as d133 minus the window — two count-attach
    * joins and a 1-row broadcast total. Overflow: conf_ppm·N ≤ 1e6·N —
    * inside Long to 9e12 baskets. */
  def basketRules(baskets: DataFrame, minSupport: Long = 2L): DataFrame = {
    // materialized once for the same reason as [[relatedItems]]: sizes,
    // the basket total, and the edge build all read bi
    val bi = baskets.toDF("basket_id", "item_id").distinct().localCheckpoint()
    basketRulesFrom(bi, copurchaseEdges(bi, minSupport))
  }

  /** [[basketRules]] over a PRECOMPUTED co-purchase edge frame — the
    * `...From` twin; see [[relatedItemsFrom]] (same DISTINCT `bi`
    * contract). */
  def basketRulesFrom(bi0: DataFrame, pairs0: DataFrame): DataFrame = {
    val bi = bi0.toDF("basket_id", "item_id")
    val sizes = bi.groupBy(col("item_id")).agg(count(lit(1)).as("n"))
    val nB = bi.select(countDistinct(col("basket_id")).as("n_baskets"))
    val pairs = pairs0.toDF("src", "dst", "weight")
    val sym = pairs.select(col("src").as("antecedent"), col("dst").as("consequent"), col("weight"))
      .union(pairs.select(col("dst").as("antecedent"), col("src").as("consequent"), col("weight")))
    sym
      .join(sizes.select(col("item_id").as("antecedent"), col("n").as("na")), Seq("antecedent"))
      .join(sizes.select(col("item_id").as("consequent"), col("n").as("nb")), Seq("consequent"))
      .crossJoin(broadcast(nB))
      .select(col("antecedent"), col("consequent"), col("weight").as("n_shared"),
        expr("weight * 1000000 div n_baskets").as("support_ppm"),
        expr("weight * 1000000 div na").as("conf_ppm"),
        expr("(weight * 1000000 div na) * n_baskets div nb").as("lift_ppm"))
  }

  /** Rounds-bounded k-core peel (d144): iteratively delete nodes of
    * (undirected) degree < `k`; the survivors after convergence are the
    * k-core — the standard dense-subgraph primitive (spam/community
    * cores, graph sparsification before expensive analytics). Out:
    * (node, core_deg) for every node still alive after `rounds` peels,
    * with its degree INSIDE the surviving subgraph.
    *
    * Semantics: a bounded unroll, the d128 convention — each round
    * recomputes degrees over the surviving adjacency and drops nodes
    * under `k`, and a round that deletes nothing makes every later
    * round a no-op, so the output EQUALS the true k-core whenever
    * peeling converges within `rounds` (peel depth is bounded by the
    * graph's degeneracy ordering depth, small for the bursty
    * power-law graphs this runs on; a non-converged prefix is still
    * deterministic and oracle-replayable). All arithmetic is integer
    * counting — nothing to round, nothing engine-dependent.
    *
    * Scale: each round is ONE node-keyed degree aggregation and two
    * semi-join prunes of the adjacency — all partitioned on node keys,
    * no driver state; the adjacency only shrinks. UNLIKE the linear
    * d128 rank chain (where the shallow unrolled plan measured faster
    * than checkpointing), each peel round references the PREVIOUS
    * round's adjacency three times (degree agg + both prune sides), so
    * the unrolled logical plan grows 3^rounds-fold and Catalyst time
    * explodes — measured at sf0.1: 288 s unrolled vs ~2 s with
    * per-round checkpoints at the default 6 rounds. `checkpointEvery`
    * therefore DEFAULTS TO 1 (materialize each round — the adjacency
    * is the small frame here); 0 opts into the unrolled plan for
    * 1–2-round calls. Under checkpointEvery > 0 the peel EARLY-EXITS at
    * the first checkpointed round that deleted nothing (the count is
    * cheap on the just-materialized partitions) — same answer, rounds
    * bounded by the realized peel depth instead of the worst case. */
  def kCore(edges: DataFrame, k: Int = 3, rounds: Int = 6,
            checkpointEvery: Int = 1): DataFrame =
    kCorePeeled(edges, k, rounds, checkpointEvery)._1

  /** [[kCore]] plus the number of peel rounds actually executed —
    * exposed (package-private) so the convergence spec can assert the
    * early exit fires. Peeling is monotone (the adjacency only ever
    * shrinks), so a round whose surviving edge COUNT equals the previous
    * round's deleted nothing, every later round is a no-op, and the loop
    * stops — the answer equals the full-`rounds` unroll by definition.
    * The convergence check piggybacks on the `checkpointEvery`
    * materialization (a count over already-materialized partitions, the
    * d135 `isEmpty` precedent); under checkpointEvery = 0 the lazy
    * unrolled plan is preserved untouched, so no count jobs are added
    * and all `rounds` rounds unroll. For the same reason checkpointEvery
    * > 0 now also materializes the STARTING adjacency (the d128
    * edge-frame rule: round 1 references it three times). */
  private[graft] def kCorePeeled(edges: DataFrame, k: Int, rounds: Int,
      checkpointEvery: Int): (DataFrame, Int) = {
    require(k >= 1, "need k >= 1")
    require(rounds >= 1, "need rounds >= 1")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0")
    val e0 = edges.toDF("src", "dst")
    var adj = e0.union(e0.select(col("dst"), col("src")))
      .toDF("src", "dst").distinct()
    var prevEdges = -1L
    if (checkpointEvery > 0) {
      adj = adj.localCheckpoint()
      prevEdges = adj.count()
    }
    var executed = 0
    var it = 1
    var converged = false
    while (it <= rounds && !converged) {
      val keep = adj.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("node"))
      adj = adj
        .join(keep.select(col("node").as("src")), Seq("src"))
        .join(keep.select(col("node").as("dst")), Seq("dst"))
        .select(col("src"), col("dst"))
      executed = it
      if (checkpointEvery > 0 && it % checkpointEvery == 0 && it < rounds) {
        adj = adj.localCheckpoint()
        val survivors = adj.count()
        if (survivors == prevEdges) converged = true
        prevEdges = survivors
      }
      it += 1
    }
    (adj.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg")), executed)
  }

  /** Rounds-bounded k-truss (d173, Cohen 2008): the maximal subgraph
    * in which every EDGE sits in at least k−2 triangles — the
    * edge-level cohesion dual of [[kCore]]'s node-level peel, and the
    * standard "strong ties only" filter for community scaffolding (a
    * k-core can be held together by one hub; a k-truss edge needs
    * k−2 independent witnesses). In: undirected edges in any
    * orientation/duplication convention (canonicalized by
    * [[normalizedUndirected]], the triangle family's contract). Out:
    * (src, dst, support) for the edges surviving `rounds` prune
    * rounds, src < dst — support = the edge's triangle count measured
    * on the PREVIOUS round's survivor subgraph (the value the final
    * prune was decided on, so the output is a pure function of the
    * input both engines replay). Pruning is monotone (edges only
    * leave), so once a round deletes nothing every later round is a
    * no-op and the bounded unroll equals the true k-truss.
    *
    * Scale: each round is ONE per-edge triangle-support pass built
    * from the [[triangleStats]] degree-oriented enumeration (each
    * triangle materializes exactly once, wedge fan-out O(m^1.5)
    * hub-safe — NOT the naive Σ deg² common-neighbor join), one 3-way
    * explode of the triangle frame, an edge-keyed count, and an
    * edge-keyed prune filter; no driver state, no adjacency lists.
    * The survivor frame is localCheckpointed per round (consumed by
    * the support pass's five references next round). */
  def kTruss(edges: DataFrame, k: Int = 3, rounds: Int = 3): DataFrame = {
    require(k >= 3, "a truss needs k >= 3 (k-2 >= 1 triangle witnesses)")
    require(rounds >= 1, "need rounds >= 1")
    var e = normalizedUndirected(edges).localCheckpoint()
    var out = edgeSupport(e).where(col("support") >= k - 2).localCheckpoint()
    for (_ <- 2 to rounds) {
      e = out.select(col("src"), col("dst"))
      out = edgeSupport(e).where(col("support") >= k - 2).localCheckpoint()
    }
    out
  }

  /** Core decomposition (d180): every node's CORENESS — the largest k
    * for which it survives the k-core peel — bounded to `kMax` (the
    * full decomposition on gated corpora; at true corpus scale pick
    * the kMax the downstream consumer reads, coreness is capped there
    * anyway). Where [[kCore]] answers "who is in THE k-core", this
    * answers "how deep does each node sit" — the standard engagement/
    * robustness score (graph degeneracy ordering, Seidman 1983; the
    * Batagelj–Zaveršnik sequential algorithm's answer, computed here
    * as nested bounded peels, which a distributed engine prefers: the
    * (k+1)-core is a subgraph of the k-core, so each peel starts from
    * the previous survivor adjacency — total work Σ_k peel(k) over
    * SHRINKING frames, not kMax independent full peels).
    *
    * In: undirected edges (src, dst), one row per unordered pair. Out:
    * (node, coreness) for every node incident to an edge; coreness =
    * the largest k ≤ kMax whose `rounds`-bounded peel the node
    * survived (with the kCore convergence rule: a peel round deleting
    * nothing makes every later round a no-op, so `rounds` is a bound,
    * not a target — GraphsSpec pins the chain fixture). Out rows are
    * exact longs both engines replay.
    *
    * Scale: [[kCorePeeled]]'s per-round plan (one degree aggregation +
    * two semi-join prunes) iterated per k over monotonically shrinking
    * adjacency; every frame localCheckpointed (each is consumed by the
    * next round's three references and the early-exit count, which
    * doubles as the convergence probe — the d135 precedent). */
  def coreness(edges: DataFrame, kMax: Int = 4, rounds: Int = 6): DataFrame = {
    require(kMax >= 1, "need kMax >= 1")
    require(rounds >= 1, "need rounds >= 1")
    val e0 = edges.toDF("src", "dst")
    var adj = e0.union(e0.select(col("dst"), col("src"))).toDF("src", "dst")
      .distinct().localCheckpoint()
    var result = adj.select(col("src").as("node")).distinct()
      .select(col("node"), lit(0L).as("coreness")).localCheckpoint()
    var k = 1
    var live = !adj.isEmpty
    while (k <= kMax && live) {
      var prev = adj.count()
      var it = 1
      var converged = false
      while (it <= rounds && !converged) {
        val keep = adj.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
          .where(col("deg") >= k).select(col("node"))
        adj = adj
          .join(keep.select(col("node").as("src")), Seq("src"))
          .join(keep.select(col("node").as("dst")), Seq("dst"))
          .select(col("src"), col("dst")).localCheckpoint()
        val n = adj.count()
        if (n == prev) converged = true
        prev = n
        it += 1
      }
      val survivors = adj.select(col("src").as("node")).distinct()
        .withColumn("k", lit(k.toLong))
      result = result.join(survivors, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("k"), col("coreness")).as("coreness"))
        .localCheckpoint()
      live = prev > 0
      k += 1
    }
    result
  }

  /** Truss decomposition (d188): every edge's TRUSSNESS — the largest
    * k ≤ kMax for which it survives the k-truss prune — the edge-level
    * dual of [[coreness]] applied to [[kTruss]]'s prune (r14 verdict
    * forward item #3). Where d173 answers "is this edge in THE
    * k-truss" for one k, this scores every edge's cohesion depth in
    * one call: trussness 2 = in no triangle (every edge is trivially
    * a 2-truss member), 3 = survives the 3-truss prune, … — the
    * standard strong-tie stratification (Cohen 2008) a pipeline reads
    * to pick its community-scaffold threshold instead of guessing k.
    *
    * Default rounds = 6 — [[coreness]] parity (r15 advice: 3 left a
    * thin margin over the 2-round strip fixture, and a deeper prune
    * cascade would silently overstate trussness on BOTH engines since
    * the oracle replays the identical bound). Early exit makes the
    * raise free wherever 3 sufficed: pruning is monotone, so the
    * first no-op round ends the level.
    *
    * In: undirected edges in any orientation/duplication convention
    * (canonicalized by [[normalizedUndirected]]). Out: (src, dst,
    * trussness) for EVERY canonical input edge, src < dst, exact
    * longs both engines replay. Per k the prune is `rounds`-bounded
    * with the [[kCore]] convergence rule (pruning is monotone, so a
    * round deleting nothing makes every later round a no-op — the
    * bounded unroll equals the true decomposition once each level
    * converges, and the early exit never changes the answer).
    *
    * Scale: the (k+1)-truss is a subgraph of the k-truss, so each
    * level starts from the previous survivor frame — total work
    * Σ_k prune(k) over SHRINKING frames, not kMax independent full
    * prunes; each round is [[edgeSupport]]'s degree-oriented
    * once-per-triangle enumeration (O(m^1.5) wedge fan-out,
    * hub-safe) + one edge-keyed prune; survivor frames are
    * localCheckpointed (consumed by the next round's references and
    * the convergence count); the assembly join per level is
    * edge-keyed equi-join, no window anywhere. */
  def edgeTrussness(edges: DataFrame, kMax: Int = 4, rounds: Int = 6): DataFrame = {
    require(kMax >= 2, "need kMax >= 2")
    require(rounds >= 1, "need rounds >= 1")
    val e0 = normalizedUndirected(edges).localCheckpoint()
    var result = e0.select(col("src"), col("dst"), lit(2L).as("trussness"))
      .localCheckpoint()
    var surv = e0
    var prev = surv.count()
    var k = 3
    var live = prev > 0
    while (k <= kMax && live) {
      var it = 1
      var converged = false
      while (it <= rounds && !converged) {
        surv = edgeSupport(surv).where(col("support") >= k - 2)
          .select(col("src"), col("dst")).localCheckpoint()
        val n = surv.count()
        if (n == prev) converged = true
        prev = n
        it += 1
      }
      val sk = surv.select(col("src"), col("dst"), lit(k.toLong).as("k"))
      result = result.join(sk, Seq("src", "dst"), "left")
        .select(col("src"), col("dst"),
          coalesce(col("k"), col("trussness")).as("trussness"))
        .localCheckpoint()
      live = prev > 0
      k += 1
    }
    result
  }

  /** Per-edge triangle support over a canonical (src < dst, distinct)
    * edge list: the [[localClustering]] enumeration keeping all three
    * corners, exploded to the triangle's three canonical edges and
    * counted edge-keyed. Edges in no triangle are absent (support 0). */
  private def edgeSupport(e: DataFrame): DataFrame = {
    val (_, oriented) = degreeOriented(e)
    val w1 = oriented.select(col("a"), col("b").as("x"), col("bk").as("xk"))
    val w2 = oriented.select(col("a"), col("b").as("y"), col("bk").as("yk"))
    val closed = w1.join(w2, Seq("a")).where(col("xk") < col("yk"))
      .select(col("a"), col("x"), col("y"),
        least(col("x"), col("y")).as("src"), greatest(col("x"), col("y")).as("dst"))
      .join(e, Seq("src", "dst"))
    closed.select(explode(array(
        struct(least(col("a"), col("x")).as("src"),
          greatest(col("a"), col("x")).as("dst")),
        struct(least(col("a"), col("y")).as("src"),
          greatest(col("a"), col("y")).as("dst")),
        struct(col("src"), col("dst")))).as("edge"))
      .select(col("edge.src").as("src"), col("edge.dst").as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("support"))
  }

  /** HITS hubs and authorities (d145, Kleinberg): on a directed graph,
    * a node is a good HUB if it points at good authorities and a good
    * AUTHORITY if good hubs point at it — the natural ranking for
    * bipartite relationship graphs (here customer→supplier: hub = a
    * customer with a broad high-quality supplier portfolio, authority
    * = a supplier serving the strongest customers), complementing
    * d128's single-score PageRank. Out: (node, hub, authority), exact
    * longs in [0, Scale].
    *
    * Semantics (bit-exact in any engine, the d128 convention):
    * h_0(n) = Scale; per iteration, a(n) = Σ_{m→n} h(m) and
    * h(n) = Σ_{n→m} a(m), each followed by the integer normalization
    * x → x div ((max(x) + Scale−1) div Scale) — floor-div by the
    * ceiling of max/Scale, which keeps every score in [0, Scale] with
    * pure long arithmetic. That replaces classic HITS' L2
    * normalization (a float whose reduction order engines disagree
    * on) with a deterministic rescale that preserves the relative
    * order of scores exactly. Overflow headroom: a raw sum is at most
    * N·Scale ≈ 1e15 at N=1e9 — inside Long with 3 decimal orders to
    * spare, AT ANY iteration count because normalization re-bounds
    * every round.
    *
    * Scale: per iteration, two edge-keyed equi-joins + partial
    * -aggregated sums (the d128 plan shape) and two 1-row max
    * broadcasts; `checkpointEvery` cuts lineage for deep runs. */
  def hits(edges: DataFrame, iterations: Int = 2,
           checkpointEvery: Int = 0): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0")
    // d128's measured rule: checkpointEvery > 0 materializes the edge
    // frame too.
    val e0 = edges.toDF("src", "dst").distinct()
    val e = if (checkpointEvery > 0) e0.localCheckpoint() else e0
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // eager regime: the node universe is iteration-invariant but feeds
    // BOTH normalizations of every iteration — materialize it once
    // (r18; was re-derived 2× per iteration)
    val nodes = if (checkpointEvery > 0) nodes0.localCheckpoint() else nodes0
    def normalized(raw: DataFrame, valueCol: String): DataFrame = {
      val mx = raw.agg(max(col(valueCol)).as("mx"))
      nodes.join(raw, Seq("node"), "left")
        .na.fill(0L, Seq(valueCol))
        .crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"$valueCol div ((mx + ${Scale - 1}) div $Scale)").as(valueCol))
    }
    var hubs = nodes.select(col("node"), lit(Scale).as("h"))
    var auths: DataFrame = nodes.select(col("node"), lit(0L).as("a"))
    for (it <- 1 to iterations) {
      val araw = e.join(hubs.select(col("node").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a"))
      auths = normalized(araw, "a")
      val hraw = e.join(auths.select(col("node").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("h"))
      hubs = normalized(hraw, "h")
      if (checkpointEvery > 0 && it % checkpointEvery == 0 && it < iterations) {
        hubs = hubs.localCheckpoint()
        auths = auths.localCheckpoint()
      }
    }
    hubs.join(auths, Seq("node"))
      .select(col("node"), col("h").as("hub"), col("a").as("authority"))
  }

  /** SALSA hubs and authorities (d181, Lempel & Moran 2001) — the
    * random-walk cousin of [[hits]], completing the link-analysis
    * quartet (PageRank / personalized PR / HITS / SALSA): where HITS
    * sums raw neighbor scores (so one mega-hub dominates every
    * authority it touches — the TKC effect SALSA was published to
    * fix), SALSA splits each node's mass EVENLY over its links before
    * summing: a(n) = Σ_{m→n} h(m)/outdeg(m), h(n) = Σ_{n→m}
    * a(m)/indeg(m) — the stationary walk on the bipartite hub/
    * authority chain, which weights authorities toward in-degree
    * instead of toward the strongest single endorser.
    *
    * Semantics (bit-exact in any engine, the d128 discipline):
    * h_0(n) = Scale; per iteration the two mass-splitting sums with
    * the per-edge contribution floored ONCE — h div outdeg, a div
    * indeg — pure long arithmetic, a deterministic truncation of at
    * most 1e-6 per link per round; no float normalization anywhere
    * (the walk conserves mass up to the documented truncation, so no
    * rescale is needed — scores stay in [0, N·Scale]). Out: (node,
    * hub, authority), exact longs; dst-only nodes keep hub 0,
    * src-only nodes authority 0.
    *
    * Scale: the d145 plan — per iteration two edge-keyed equi-joins
    * with degree attaches and two node-keyed partial-aggregated sums;
    * `checkpointEvery` as in d128. Overflow: sums bounded by total
    * mass N·Scale ≈ 1e15 at N = 1e9 — inside Long with headroom at
    * any iteration count (mass never grows). */
  def salsa(edges: DataFrame, iterations: Int = 2,
            checkpointEvery: Int = 0): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0")
    val e0 = edges.toDF("src", "dst").distinct()
    val e = if (checkpointEvery > 0) e0.localCheckpoint() else e0
    val outdeg0 = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val indeg0 = e.groupBy(col("dst")).agg(count(lit(1)).as("ind"))
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // eager regime: degrees and the node universe are iteration-
    // invariant but each is re-derived per iteration (outdeg/indeg once
    // each, nodes twice) — materialize them once (r18)
    val (outdeg, indeg, nodes) =
      if (checkpointEvery > 0)
        (outdeg0.localCheckpoint(), indeg0.localCheckpoint(),
          nodes0.localCheckpoint())
      else (outdeg0, indeg0, nodes0)
    var hubs = nodes.select(col("node"), lit(Scale).as("h"))
    var auths = nodes.select(col("node"), lit(0L).as("a"))
    for (it <- 1 to iterations) {
      val araw = e.join(outdeg, Seq("src"))
        .join(hubs.select(col("node").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("h div od")).as("a"))
      auths = nodes.join(araw, Seq("node"), "left").na.fill(0L, Seq("a"))
      val hraw = e.join(indeg, Seq("dst"))
        .join(auths.select(col("node").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(expr("a div ind")).as("h"))
      hubs = nodes.join(hraw, Seq("node"), "left").na.fill(0L, Seq("h"))
      if (checkpointEvery > 0 && it % checkpointEvery == 0 && it < iterations) {
        hubs = hubs.localCheckpoint()
        auths = auths.localCheckpoint()
      }
    }
    hubs.join(auths, Seq("node"))
      .select(col("node"), col("h").as("hub"), col("a").as("authority"))
  }

  /** The d145 oracle: the identical iteration unrolled as chained CTEs
    * over the directed customer→supplier graph. */
  private def hitsSql(iterations: Int): String = {
    val norm = s"((mx + ${Scale - 1}) // $Scale)"
    val steps = (1 to iterations).map { i =>
      s"ar$i AS (SELECT e.dst AS node, sum(h.h) AS s FROM el e " +
        s"JOIN h${i - 1} h ON h.node = e.src GROUP BY 1),\n" +
        s"am$i AS (SELECT max(s) AS mx FROM ar$i),\n" +
        s"a$i AS (SELECT n.node, CAST(coalesce(r.s, 0) // $norm AS BIGINT) AS a " +
        s"FROM n LEFT JOIN ar$i r USING (node) CROSS JOIN am$i),\n" +
        s"hr$i AS (SELECT e.src AS node, sum(a.a) AS s FROM el e " +
        s"JOIN a$i a ON a.node = e.dst GROUP BY 1),\n" +
        s"hm$i AS (SELECT max(s) AS mx FROM hr$i),\n" +
        s"h$i AS (SELECT n.node, CAST(coalesce(r.s, 0) // $norm AS BIGINT) AS h " +
        s"FROM n LEFT JOIN hr$i r USING (node) CROSS JOIN hm$i)"
    }.mkString(",\n")
    "WITH el AS MATERIALIZED (\n" +
      "SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst\n" +
      "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),\n" +
      "n AS (SELECT DISTINCT node FROM (SELECT src AS node FROM el UNION ALL SELECT dst FROM el)),\n" +
      s"h0 AS (SELECT node, CAST($Scale AS BIGINT) AS h FROM n),\n" +
      steps + "\n" +
      s"SELECT h$iterations.node, h$iterations.h AS hub, a$iterations.a AS authority\n" +
      s"FROM h$iterations JOIN a$iterations USING (node)"
  }

  /** The d181 oracle: the identical SALSA mass-splitting iteration
    * unrolled as chained CTEs over the directed customer→supplier
    * graph (the d145 prologue; no normalization CTEs — the walk
    * conserves mass). */
  private def salsaSql(iterations: Int): String = {
    val steps = (1 to iterations).map { i =>
      s"ar$i AS (SELECT e.dst AS node, CAST(sum(h.h // d.od) AS BIGINT) AS s\n" +
        s"     FROM el e JOIN od d ON d.src = e.src\n" +
        s"     JOIN h${i - 1} h ON h.node = e.src GROUP BY 1),\n" +
        s"a$i AS (SELECT n.node, CAST(coalesce(r.s, 0) AS BIGINT) AS a\n" +
        s"     FROM n LEFT JOIN ar$i r USING (node)),\n" +
        s"hr$i AS (SELECT e.src AS node, CAST(sum(a.a // d.ind) AS BIGINT) AS s\n" +
        s"     FROM el e JOIN ind d ON d.dst = e.dst\n" +
        s"     JOIN a$i a ON a.node = e.dst GROUP BY 1),\n" +
        s"h$i AS (SELECT n.node, CAST(coalesce(r.s, 0) AS BIGINT) AS h\n" +
        s"     FROM n LEFT JOIN hr$i r USING (node))"
    }.mkString(",\n")
    "WITH el AS MATERIALIZED (\n" +
      "SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst\n" +
      "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),\n" +
      "od AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM el GROUP BY 1),\n" +
      "ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS ind FROM el GROUP BY 1),\n" +
      "n AS (SELECT DISTINCT node FROM (SELECT src AS node FROM el UNION ALL SELECT dst FROM el)),\n" +
      s"h0 AS (SELECT node, CAST($Scale AS BIGINT) AS h FROM n),\n" +
      steps + "\n" +
      s"SELECT h$iterations.node, h$iterations.h AS hub, a$iterations.a AS authority\n" +
      s"FROM h$iterations JOIN a$iterations USING (node)"
  }

  /** The d180 oracle: the nested bounded peels unrolled as chained
    * CTEs — per k the identical `rounds` kCore rounds starting from
    * the previous k's final adjacency, coreness = the largest k whose
    * final adjacency still holds the node. */
  private def corenessSql(kMax: Int, rounds: Int): String = {
    def adjName(k: Int, r: Int): String =
      if (k == 1 && r == 0) "b0" else if (r == 0) s"a${k - 1}r$rounds"
      else s"a${k}r$r"
    // every adjacency CTE is MATERIALIZED: each is referenced three
    // times by the next round (degree filter + two semi-joins), and an
    // inlining engine would otherwise re-evaluate the chain per
    // reference — 3^(kMax·rounds) blowup on a 24-deep unroll
    val chains = (1 to kMax).flatMap { k =>
      (1 to rounds).map { r =>
        val p = adjName(k, r - 1)
        s"k${k}r$r AS (SELECT u FROM $p GROUP BY u HAVING count(*) >= $k),\n" +
          s"a${k}r$r AS MATERIALIZED (SELECT a.u, a.v FROM $p a " +
          s"JOIN k${k}r$r x ON x.u = a.u JOIN k${k}r$r y ON y.u = a.v)"
      }
    }.mkString(",\n")
    val surv = (1 to kMax)
      .map(k => s"SELECT $k AS k, u FROM a${k}r$rounds")
      .mkString(" UNION ALL ")
    s"WITH e AS MATERIALIZED ($copurchaseSql),\n" +
      "b0 AS MATERIALIZED (\n" +
      "  SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),\n" +
      chains + ",\n" +
      s"surv AS (SELECT DISTINCT k, u FROM ($surv)),\n" +
      "nodes AS (SELECT DISTINCT u AS node FROM b0)\n" +
      "SELECT n.node, CAST(coalesce(max(s.k), 0) AS BIGINT) AS coreness\n" +
      "FROM nodes n LEFT JOIN surv s ON s.u = n.node GROUP BY 1"
  }

  /** The shared d157/d158 walk corpus as a recursive CTE: the identical
    * indexed adjacency, md5 selection, and step bound. */
  private def walkSql(walksPerNode: Int, steps: Int): String =
    s"""WITH RECURSIVE e AS MATERIALIZED ($copurchaseSql),
       |sym AS MATERIALIZED (SELECT DISTINCT u, v FROM (
       |  SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e)),
       |adj AS MATERIALIZED (
       |  SELECT u, v, CAST(row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS BIGINT) AS idx
       |  FROM sym),
       |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
       |starts AS (SELECT u AS start_node, CAST(w.walk AS BIGINT) AS walk
       |           FROM deg, LATERAL (SELECT unnest(range(0, $walksPerNode)) AS walk) w),
       |walk AS (
       |  SELECT start_node, walk, CAST(0 AS BIGINT) AS step, start_node AS node FROM starts
       |  UNION ALL
       |  SELECT wk.start_node, wk.walk, wk.step + 1, adj.v
       |  FROM walk wk
       |  JOIN deg ON deg.u = wk.node
       |  JOIN adj ON adj.u = wk.node
       |   AND adj.idx = CAST(('0x' || substring(md5(concat_ws('|', wk.start_node, wk.walk, wk.step, wk.node)), 1, 15)) AS BIGINT) % deg.deg
       |  WHERE wk.step < $steps)""".stripMargin

  /** The d162 walk corpus as SQL: the identical conditional transition
    * ranges (wedge table, id-ordered cumulative weights), the identical
    * md5 addressing, with the uniform first step computed outside the
    * recursion (the recursive term may reference the CTE only once, and
    * steps >= 2 need prev in the recursion state). */
  private def biasedWalkSql(walksPerNode: Int, steps: Int,
      wReturn0: Int, wIn0: Int, wOut0: Int): String = {
    // the operator reduces the weight triple by its gcd before building
    // ranges — the oracle must address the SAME ranges
    val (wReturn, wIn, wOut) = reducedWeights(wReturn0, wIn0, wOut0)
    s"""WITH RECURSIVE e AS MATERIALIZED ($copurchaseSql),
       |sym AS MATERIALIZED (SELECT DISTINCT u, v FROM (
       |  SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e)),
       |adj AS MATERIALIZED (
       |  SELECT u, v, CAST(row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS BIGINT) AS idx
       |  FROM sym),
       |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
       |tw0 AS (
       |  SELECT pc.u AS tprev, pc.v AS tcur, cn.v AS nbr,
       |         CAST(CASE WHEN cn.v = pc.u THEN $wReturn
       |              WHEN pn.u IS NOT NULL THEN $wIn
       |              ELSE $wOut END AS BIGINT) AS tweight
       |  FROM sym pc JOIN sym cn ON cn.u = pc.v
       |  LEFT JOIN sym pn ON pn.u = pc.u AND pn.v = cn.v),
       |trans AS MATERIALIZED (
       |  SELECT tprev, tcur, nbr,
       |         sum(tweight) OVER (PARTITION BY tprev, tcur ORDER BY nbr) - tweight AS lo,
       |         sum(tweight) OVER (PARTITION BY tprev, tcur ORDER BY nbr) AS hi,
       |         sum(tweight) OVER (PARTITION BY tprev, tcur) AS tw
       |  FROM tw0),
       |starts AS (SELECT u AS start_node, CAST(w.walk AS BIGINT) AS walk
       |           FROM deg, LATERAL (SELECT unnest(range(0, $walksPerNode)) AS walk) w),
       |s1 AS (
       |  SELECT st.start_node, st.walk, adj.v AS node, st.start_node AS prev
       |  FROM starts st
       |  JOIN deg ON deg.u = st.start_node
       |  JOIN adj ON adj.u = st.start_node
       |   AND adj.idx = CAST(('0x' || substring(md5(concat_ws('|', st.start_node, st.walk, 0, st.start_node)), 1, 15)) AS BIGINT) % deg.deg),
       |walk AS (
       |  SELECT start_node, walk, CAST(1 AS BIGINT) AS step, node, prev FROM s1
       |  UNION ALL
       |  SELECT wk.start_node, wk.walk, wk.step + 1, t.nbr, wk.node
       |  FROM walk wk
       |  JOIN trans t ON t.tprev = wk.prev AND t.tcur = wk.node
       |   AND (CAST(('0x' || substring(md5(concat_ws('|', wk.start_node, wk.walk, wk.step, wk.node)), 1, 15)) AS BIGINT) % t.tw) >= t.lo
       |   AND (CAST(('0x' || substring(md5(concat_ws('|', wk.start_node, wk.walk, wk.step, wk.node)), 1, 15)) AS BIGINT) % t.tw) < t.hi
       |  WHERE wk.step < $steps),
       |corpus AS (
       |  SELECT start_node, walk, CAST(0 AS BIGINT) AS step, start_node AS node FROM starts
       |  UNION ALL
       |  SELECT start_node, walk, step, node FROM walk)""".stripMargin
  }

  /** The d163 oracle: the d158 pair corpus with the ln(1+n) target,
    * the md5-seeded fixed-point init, and `iters` unrolled gradient
    * iterations — every per-row double expression in the same
    * association order as the operator, every reduction and update in
    * exact integer arithmetic (long sums of the 1e-6-quantized terms,
    * half-away-from-zero integer division folding the rational
    * learning rate). The final select divides the long state back to
    * doubles, the operator's output shape. */
  private def embeddingSql(walksPerNode: Int, steps: Int, window: Int,
      dim: Int, iters: Int, lrNum: Int, lrDen: Int): String =
    walkSql(walksPerNode, steps) + ",\n" +
      embeddingTrainSql("walk", window, dim, iters, lrNum, lrDen)

  /** The full d168 oracle at the registered knobs — the biased-walk
    * replay chained into the pair extraction and the unrolled GD.
    * Shared VERBATIM with d169 ([[EdgeIndex]]'s index-served node2vec
    * chain — the d160/d165/d167 consumer-gate discipline extended to
    * the walk→embedding family, r13 verdict ask #1). */
  private[graft] def node2vecEmbeddingOracle: String =
    biasedWalkSql(2, 3, 1, 4, 2) + ",\n" +
      embeddingTrainSql("corpus", 2, 4, 2, 1, 10) +
      ("\nSELECT node" +
        (0 until 4).map(j =>
          s", CAST(e$j AS DOUBLE) / 1000000.0 AS e$j").mkString +
        " FROM u2")

  /** The pair-extraction + unrolled-GD CTE chain over ANY walk-corpus
    * CTE (d157's `walk` for d163, d162's `corpus` for d168) — appended
    * to the corpus SQL, ends at CTE u{iters}. */
  private def embeddingTrainSql(corpusCte: String, window: Int,
      dim: Int, iters: Int, lrNum: Int, lrDen: Int): String = {
    val js = 0 until dim
    val init = js.map(j =>
      s"(CAST(('0x' || substring(md5(concat_ws('|', node, $j)), 1, 15)) AS BIGINT) " +
        s"% 2001 - 1000) * 100 AS e$j").mkString(",\n       ")
    def cd(side: String, j: Int) = s"(CAST($side.e$j AS DOUBLE) / 1000000.0)"
    val dot = js.map(j => s"${cd("c", j)} * ${cd("x", j)}").mkString(" + ")
    val chain = (1 to iters).map { i =>
      val gsel = (js.map(j =>
        s"sum(CAST(round(2.0 * ($dot - p.s) * ${cd("x", j)} * 1000000.0, 0) AS BIGINT)) AS g$j") :+
        "count(*) AS gn").mkString(",\n       ")
      val usel = js.map(j =>
        s"CASE WHEN g.gn IS NULL THEN u.e$j " +
          s"WHEN g.g$j >= 0 THEN u.e$j - ((2 * g.g$j * $lrNum + g.gn * $lrDen) // (2 * g.gn * $lrDen)) " +
          s"ELSE u.e$j + ((2 * (-g.g$j) * $lrNum + g.gn * $lrDen) // (2 * g.gn * $lrDen)) END AS e$j")
        .mkString(",\n       ")
      s"""g$i AS (
         |  SELECT p.center AS node, $gsel
         |  FROM pairs p JOIN u${i - 1} c ON c.node = p.center
         |               JOIN u${i - 1} x ON x.node = p.context
         |  GROUP BY 1),
         |u$i AS (
         |  SELECT u.node, $usel
         |  FROM u${i - 1} u LEFT JOIN g$i g USING (node))""".stripMargin
    }.mkString(",\n")
    s"""pairs AS MATERIALIZED (
       |  SELECT a.node AS center, b.node AS context,
       |         round(ln(1.0 + count(*)), 6) AS s
       |  FROM $corpusCte a JOIN $corpusCte b
       |    ON a.start_node = b.start_node AND a.walk = b.walk
       |   AND a.step <> b.step AND abs(a.step - b.step) <= $window
       |  GROUP BY 1, 2),
       |u0 AS MATERIALIZED (
       |  SELECT node, $init
       |  FROM (SELECT DISTINCT center AS node FROM pairs)),
       |$chain""".stripMargin
  }

  /** The d171 tail: exact-integer dot/norms over the u{iters} long
    * state, the IEEE-pinned cosine, the per-node top-k window —
    * appended after [[embeddingSql]]'s CTE chain. */
  private def embeddingRelatedSql(dim: Int, iters: Int, k: Int): String = {
    val js = 0 until dim
    def q(side: String) = js.map(j => s"$side.e$j * $side.e$j").mkString(" + ")
    val dot = js.map(j => s"a.e$j * b.e$j").mkString(" + ")
    s"""vecs AS MATERIALIZED (
       |  SELECT node, ${js.map(j => s"e$j").mkString(", ")},
       |         ${js.map(j => s"e$j * e$j").mkString(" + ")} AS norm2
       |  FROM u$iters
       |  WHERE ${js.map(j => s"e$j * e$j").mkString(" + ")} > 0),
       |scored AS (
       |  SELECT a.node, b.node AS rel_id,
       |         round(CAST($dot AS DOUBLE) /
       |               (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))), 6) + 0 AS cosine
       |  FROM vecs a JOIN vecs b ON a.node <> b.node),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY node ORDER BY cosine DESC, rel_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT node, rel_id, cosine, rank FROM ranked WHERE rank <= $k""".stripMargin
  }

  /** The d189 tail: the ANN serving path's OWN double arithmetic
    * replayed step for step (the d33/d35 exact-mode-oracle convention —
    * NOT d171's rounded-cosine tail, whose 1e-6 quantization ties raw
    * cosines the double path distinguishes): cast the long state back
    * to doubles by the trainer's single division, drop zero norms,
    * unit-normalize (x / nrm — [[embeddingRelatedAnn]]'s pre-build
    * step), then rank every directed pair by the raw double cosine of
    * the UNIT vectors with (sim DESC, rel_id ASC) — TopKAgg's
    * tie-break. list_dot_product is the same left-associated
    * sequential sum as the JVM vec_dot loop and every remaining op
    * (one division, sqrt, multiply) is correctly-rounded IEEE on
    * identical inputs, so the two engines produce bit-identical sims
    * (the d33-proven parity). At probes = kCells the ANN path's
    * candidate set is the whole zero-norm-free corpus minus self, so
    * this oracle gates the full quantize → probe → score → TopKAgg
    * serving pipeline, ids and ranks hashed exactly. */
  private def embeddingRelatedAnnExactSql(dim: Int, iters: Int, k: Int): String = {
    val js = 0 until dim
    val vlist = js.map(j => s"CAST(e$j AS DOUBLE) / 1000000.0").mkString("[", ", ", "]")
    s"""annv AS (
       |  SELECT node, $vlist AS v FROM u$iters),
       |annz AS (
       |  SELECT node, v, sqrt(list_dot_product(v, v)) AS nrm
       |  FROM annv WHERE sqrt(list_dot_product(v, v)) > 0),
       |annu AS MATERIALIZED (
       |  SELECT node, list_transform(v, x -> x / nrm) AS uv FROM annz),
       |annq AS MATERIALIZED (
       |  SELECT node, uv, sqrt(list_dot_product(uv, uv)) AS un FROM annu),
       |anns AS (
       |  SELECT a.node, b.node AS rel_id,
       |         list_dot_product(a.uv, b.uv) / (a.un * b.un) AS sim
       |  FROM annq a JOIN annq b ON a.node <> b.node),
       |annr AS (
       |  SELECT node, rel_id, CAST(row_number() OVER (
       |    PARTITION BY node ORDER BY sim DESC, rel_id) AS BIGINT) AS rank
       |  FROM anns)
       |SELECT node, rel_id, rank FROM annr WHERE rank <= $k""".stripMargin
  }

  /** The d170 oracle: the d166 LPA replay chained into `rounds`
    * unrolled local-move sweeps — identical gain arithmetic
    * (m2·k_{i,c} − k_i·tot'_c, exact longs), identical (g desc, cand
    * asc) argmax, identical parity gating and strict-improvement rule. */
  private def louvainRefineSql(rounds: Int): String = {
    val sweeps = (1 to rounds).map { r =>
      val par = r % 2
      s"""tot$r AS (SELECT c AS cand, CAST(sum(k) AS BIGINT) AS tot FROM a${r - 1} GROUP BY 1),
         |kic$r AS (SELECT s.u AS node, a.c AS cand, CAST(sum(s.weight) AS BIGINT) AS kic
         |          FROM symw s JOIN a${r - 1} a ON a.node = s.v GROUP BY 1, 2),
         |own$r AS (SELECT a.node, a.c AS cand, CAST(coalesce(k.kic, 0) AS BIGINT) AS kic
         |          FROM a${r - 1} a LEFT JOIN kic$r k ON k.node = a.node AND k.cand = a.c),
         |cand$r AS (SELECT node, cand, kic FROM kic$r UNION SELECT node, cand, kic FROM own$r),
         |gain$r AS (SELECT c.node, c.cand, a.c AS own,
         |            m2t.m2 * c.kic - a.k * (t.tot - CASE WHEN c.cand = a.c THEN a.k ELSE 0 END) AS g
         |           FROM cand$r c JOIN a${r - 1} a ON a.node = c.node
         |           JOIN tot$r t ON t.cand = c.cand CROSS JOIN m2t),
         |best$r AS (SELECT node, cand AS best, g AS gbest FROM (
         |            SELECT node, cand, g, row_number() OVER (PARTITION BY node ORDER BY g DESC, cand) AS rn
         |            FROM gain$r) WHERE rn = 1),
         |gown$r AS (SELECT node, g AS gown FROM gain$r WHERE cand = own),
         |a$r AS (SELECT a.node, a.k,
         |          CASE WHEN a.node % 2 = $par AND b.gbest > o.gown THEN b.best ELSE a.c END AS c
         |        FROM a${r - 1} a JOIN best$r b ON b.node = a.node
         |        JOIN gown$r o ON o.node = a.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($copurchaseSql),
       |sym AS MATERIALIZED (
       |  SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),
       |symw AS MATERIALIZED (
       |  SELECT src AS u, dst AS v, weight FROM e
       |  UNION ALL SELECT dst, src, weight FROM e),
       |l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
       |c1 AS (SELECT s.u AS node, l.label, count(*) AS cnt
       |       FROM sym s JOIN l0 l ON l.node = s.v GROUP BY 1, 2),
       |l1 AS (SELECT node, label FROM (
       |         SELECT node, label, row_number() OVER (
       |           PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c1)
       |       WHERE rn = 1),
       |c2 AS (SELECT s.u AS node, l.label, count(*) AS cnt
       |       FROM sym s JOIN l1 l ON l.node = s.v GROUP BY 1, 2),
       |l2 AS (SELECT node, label FROM (
       |         SELECT node, label, row_number() OVER (
       |           PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c2)
       |       WHERE rn = 1),
       |c3 AS (SELECT s.u AS node, l.label, count(*) AS cnt
       |       FROM sym s JOIN l2 l ON l.node = s.v GROUP BY 1, 2),
       |l3 AS (SELECT node, label FROM (
       |         SELECT node, label, row_number() OVER (
       |           PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c3)
       |       WHERE rn = 1),
       |deg AS (SELECT u AS node, CAST(sum(weight) AS BIGINT) AS k FROM symw GROUP BY 1),
       |m2t AS (SELECT CAST(sum(weight) AS BIGINT) AS m2 FROM symw),
       |a0 AS (SELECT deg.node, deg.k, coalesce(l3.label, deg.node) AS c
       |       FROM deg LEFT JOIN l3 ON l3.node = deg.node),
       |$sweeps
       |SELECT node, c AS community FROM a$rounds""".stripMargin
  }

  /** The d147 oracle: the identical weighted iteration unrolled as
    * chained CTEs over the symmetrized weighted co-purchase graph. The
    * symmetrized graph has no dangling nodes, but the dangling CTEs stay
    * so the oracle replays the operator's full formula, not a
    * simplification of it. Shared verbatim with d167 ([[EdgeIndex]]'s
    * index-served weighted PageRank — the consumer-gate discipline
    * applied to the ITERATIVE family). `edgeSql` swaps the weighted
    * edge source (default the d127 build; d177 passes the decayed
    * build) — the iteration arithmetic is byte-identical either way. */
  private[graft] def weightedPrSql(iterations: Int,
      edgeSql: String = copurchaseSql): String = {
    val steps = (1 to iterations).map { i =>
      s"i$i AS (SELECT e.dst AS node, CAST(sum((r.rank * e.weight) // r.wout) AS BIGINT) AS inbound\n" +
        s"     FROM e JOIN r${i - 1} r ON r.node = e.src AND r.wout > 0 GROUP BY 1),\n" +
        s"g$i AS (SELECT CAST(coalesce(sum(CASE WHEN wout = 0 THEN rank ELSE 0 END), 0) AS BIGINT) AS dangling FROM r${i - 1}),\n" +
        s"r$i AS (SELECT n.node, n.wout,\n" +
        s"       150000 + 85 * (coalesce(i.inbound, 0) + g.dangling // nn.n_nodes) // 100 AS rank\n" +
        s"     FROM nodes n LEFT JOIN i$i i USING (node) CROSS JOIN g$i g CROSS JOIN nn)"
    }.mkString(",\n")
    s"WITH e0 AS MATERIALIZED ($edgeSql),\n" +
      "e AS MATERIALIZED (\n" +
      "  SELECT src, dst, weight FROM e0 UNION ALL SELECT dst, src, weight FROM e0),\n" +
      "wo AS (SELECT src AS node, CAST(sum(weight) AS BIGINT) AS wout FROM e GROUP BY 1),\n" +
      "nodes AS (\n" +
      "  SELECT node, coalesce(wout, 0) AS wout\n" +
      "  FROM (SELECT DISTINCT src AS node FROM e) LEFT JOIN wo USING (node)),\n" +
      "nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),\n" +
      s"r0 AS (SELECT node, wout, CAST($Scale AS BIGINT) AS rank FROM nodes),\n" +
      steps + "\n" +
      s"SELECT node, CAST(rank AS BIGINT) AS rank FROM r$iterations"
  }

  /** The d172 oracle: TWO chained weighted-PR phases — `itersOld`
    * uniform-start iterations over the even-half co-purchase graph (the
    * EdgeIndex driver binding's first generation), then `itersWarm`
    * iterations over the FULL graph initialized from phase 1's final
    * ranks (new nodes at Scale) — the identical truncating arithmetic
    * of [[weightedPrSql]], tagged per phase. `edgeSqlA`/`edgeSqlB`
    * swap the two phases' weighted edge sources (defaults replay the
    * d172 flat-index story; d186 passes the decayed builds). */
  private[graft] def warmStartPrSql(itersOld: Int, itersWarm: Int,
      edgeSqlA: String = copurchaseEvenSql,
      edgeSqlB: String = copurchaseSql): String = {
    def steps(tag: String, iterations: Int): String = (1 to iterations).map { i =>
      s"i$tag$i AS (SELECT e.dst AS node, CAST(sum((r.rank * e.weight) // r.wout) AS BIGINT) AS inbound\n" +
        s"     FROM e$tag e JOIN r$tag${i - 1} r ON r.node = e.src AND r.wout > 0 GROUP BY 1),\n" +
        s"g$tag$i AS (SELECT CAST(coalesce(sum(CASE WHEN wout = 0 THEN rank ELSE 0 END), 0) AS BIGINT) AS dangling FROM r$tag${i - 1}),\n" +
        s"r$tag$i AS (SELECT n.node, n.wout,\n" +
        s"       150000 + 85 * (coalesce(i.inbound, 0) + g.dangling // nn$tag.n_nodes) // 100 AS rank\n" +
        s"     FROM nodes$tag n LEFT JOIN i$tag$i i USING (node) CROSS JOIN g$tag$i g CROSS JOIN nn$tag)"
    }.mkString(",\n")
    s"WITH e0a AS MATERIALIZED ($edgeSqlA),\n" +
      "ea AS MATERIALIZED (\n" +
      "  SELECT src, dst, weight FROM e0a UNION ALL SELECT dst, src, weight FROM e0a),\n" +
      "woa AS (SELECT src AS node, CAST(sum(weight) AS BIGINT) AS wout FROM ea GROUP BY 1),\n" +
      "nodesa AS (\n" +
      "  SELECT node, coalesce(wout, 0) AS wout\n" +
      "  FROM (SELECT DISTINCT src AS node FROM ea) LEFT JOIN woa USING (node)),\n" +
      "nna AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodesa),\n" +
      s"ra0 AS (SELECT node, wout, CAST($Scale AS BIGINT) AS rank FROM nodesa),\n" +
      steps("a", itersOld) + ",\n" +
      s"e0b AS MATERIALIZED ($edgeSqlB),\n" +
      "eb AS MATERIALIZED (\n" +
      "  SELECT src, dst, weight FROM e0b UNION ALL SELECT dst, src, weight FROM e0b),\n" +
      "wob AS (SELECT src AS node, CAST(sum(weight) AS BIGINT) AS wout FROM eb GROUP BY 1),\n" +
      "nodesb AS (\n" +
      "  SELECT node, coalesce(wout, 0) AS wout\n" +
      "  FROM (SELECT DISTINCT src AS node FROM eb) LEFT JOIN wob USING (node)),\n" +
      "nnb AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodesb),\n" +
      s"rb0 AS (SELECT n.node, n.wout, CAST(coalesce(w.rank, $Scale) AS BIGINT) AS rank\n" +
      s"       FROM nodesb n LEFT JOIN ra$itersOld w ON w.node = n.node),\n" +
      steps("b", itersWarm) + "\n" +
      s"SELECT node, CAST(rank AS BIGINT) AS rank FROM rb$itersWarm"
  }

  /** The d175 oracle: TWO chained LPA phases — `itersOld` singleton
    * -start sweeps over the even-half co-purchase graph (the EdgeIndex
    * driver binding's first generation), then `itersWarm` sweeps over
    * the FULL graph initialized from phase 1's final labels (new nodes
    * as their own singletons) — the d172 two-phase pattern applied to
    * the d140 sweep. */
  private[graft] def warmLpaSql(itersOld: Int, itersWarm: Int): String = {
    def rounds(tag: String, n: Int): String = (1 to n).map { i =>
      s"c$tag$i AS (SELECT s.u AS node, l.label, count(*) AS cnt\n" +
        s"       FROM sym$tag s JOIN l$tag${i - 1} l ON l.node = s.v GROUP BY 1, 2),\n" +
        s"l$tag$i AS (SELECT node, label FROM (\n" +
        s"         SELECT node, label, row_number() OVER (\n" +
        s"           PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c$tag$i)\n" +
        s"       WHERE rn = 1)"
    }.mkString(",\n")
    s"WITH ea AS MATERIALIZED ($copurchaseEvenSql),\n" +
      "syma AS MATERIALIZED (\n" +
      "  SELECT src AS u, dst AS v FROM ea UNION ALL SELECT dst, src FROM ea),\n" +
      "la0 AS (SELECT DISTINCT u AS node, u AS label FROM syma),\n" +
      rounds("a", itersOld) + ",\n" +
      s"eb AS MATERIALIZED ($copurchaseSql),\n" +
      "symb AS MATERIALIZED (\n" +
      "  SELECT src AS u, dst AS v FROM eb UNION ALL SELECT dst, src FROM eb),\n" +
      "nodesb AS (SELECT DISTINCT u AS node FROM symb),\n" +
      s"lb0 AS (SELECT n.node, coalesce(w.label, n.node) AS label\n" +
      s"       FROM nodesb n LEFT JOIN la$itersOld w ON w.node = n.node),\n" +
      rounds("b", itersWarm) + ",\n" +
      s"sz AS (SELECT label, CAST(count(*) AS BIGINT) AS label_size\n" +
      s"     FROM lb$itersWarm GROUP BY 1)\n" +
      s"SELECT node, label, label_size FROM lb$itersWarm JOIN sz USING (label)"
  }

  /** The d173 oracle: the identical truss prune unrolled as chained
    * CTEs. Per-edge support is counted here as common neighbors over
    * the current survivor adjacency — semantically equal to the
    * operator's oriented once-per-triangle enumeration (both count the
    * triangles containing the edge), just without the hub-safety the
    * adjudicating engine doesn't need at gate scale. */
  private def ktrussSql(k: Int, rounds: Int): String = {
    val chain = (1 to rounds).map { i =>
      s"y${i - 1} AS (SELECT src AS u, dst AS v FROM e${i - 1} " +
        s"UNION ALL SELECT dst, src FROM e${i - 1}),\n" +
        s"s$i AS (SELECT t.src, t.dst, CAST(count(*) AS BIGINT) AS support\n" +
        s"     FROM e${i - 1} t JOIN y${i - 1} a ON a.u = t.src\n" +
        s"     JOIN y${i - 1} b ON b.u = t.dst AND b.v = a.v GROUP BY 1, 2),\n" +
        s"e$i AS (SELECT src, dst FROM s$i WHERE support >= ${k - 2})"
    }.mkString(",\n")
    s"WITH e AS MATERIALIZED ($copurchaseSql),\n" +
      "e0 AS (SELECT src, dst FROM e),\n" +
      chain + "\n" +
      s"SELECT src, dst, support FROM s$rounds WHERE support >= ${k - 2}"
  }

  /** The d188 oracle: the nested truss prunes unrolled as chained CTEs
    * (the [[ktrussSql]] per-round pattern per level, levels chained the
    * [[corenessSql]] way — level k starts from level k−1's survivors),
    * assembled by left-joining each level's final survivor frame onto
    * the canonical edge list: trussness = the highest surviving level,
    * 2 when in no triangle. The bounded unroll equals the operator's
    * early-exiting loop because pruning is monotone (a no-change round
    * fixes every later round). */
  private def edgeTrussnessSql(kMax: Int, rounds: Int): String = {
    val blocks = (3 to kMax).map { k =>
      (1 to rounds).map { i =>
        val prev = if (i == 1) { if (k == 3) "e0" else s"k${k - 1}_r$rounds" }
          else s"k${k}_r${i - 1}"
        // each round's survivor frame MATERIALIZED: a plain CTE is
        // INLINED at every reference, and with 3 references per round
        // the unrolled 6-round chain re-expands the whole prefix
        // 3^rounds times — measured as a DuckDB memory blowup (~90 GB
        // RSS, no completion) when rounds went 3 → 6; materializing
        // the per-round frame caps the plan at O(rounds)
        s"y_k${k}_$i AS (SELECT src AS u, dst AS v FROM $prev " +
          s"UNION ALL SELECT dst, src FROM $prev),\n" +
          s"s_k${k}_$i AS (SELECT t.src, t.dst, CAST(count(*) AS BIGINT) AS support\n" +
          s"     FROM $prev t JOIN y_k${k}_$i a ON a.u = t.src\n" +
          s"     JOIN y_k${k}_$i b ON b.u = t.dst AND b.v = a.v GROUP BY 1, 2),\n" +
          s"k${k}_r$i AS MATERIALIZED (SELECT src, dst FROM s_k${k}_$i WHERE support >= ${k - 2})"
      }.mkString(",\n")
    }.mkString(",\n")
    val joins = (3 to kMax).map(k =>
      s"LEFT JOIN k${k}_r$rounds t$k ON t$k.src = e0.src AND t$k.dst = e0.dst")
      .mkString("\n")
    val caseExpr = (kMax to 3 by -1).map(k =>
      s"WHEN t$k.src IS NOT NULL THEN $k").mkString(" ")
    s"WITH e AS MATERIALIZED ($copurchaseSql),\n" +
      "e0 AS (SELECT src, dst FROM e),\n" +
      blocks + "\n" +
      s"SELECT e0.src, e0.dst, CAST(CASE $caseExpr ELSE 2 END AS BIGINT) AS trussness\n" +
      s"FROM e0\n$joins"
  }

  /** The d176 oracle: the sampled-source BFS unrolled as chained
    * frontier/settled CTEs (the d135 shape on (source, node) keys),
    * seeds picked by the d157 md5 order, reciprocals summed in floor
    * -division ppm. */
  private def harmonicSql(nSources: Int, maxHops: Int): String = {
    val chain = (1 to maxHops).map { i =>
      s"f$i AS (SELECT DISTINCT f.source, y.v AS node, CAST($i AS BIGINT) AS hops\n" +
        s"     FROM f${i - 1} f JOIN sym y ON y.u = f.node\n" +
        s"     WHERE NOT EXISTS (SELECT 1 FROM s${i - 1} s\n" +
        s"       WHERE s.source = f.source AND s.node = y.v)),\n" +
        s"s$i AS (SELECT * FROM s${i - 1} UNION ALL SELECT * FROM f$i)"
    }.mkString(",\n")
    s"WITH e AS MATERIALIZED ($copurchaseSql),\n" +
      "sym AS MATERIALIZED (\n" +
      "  SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),\n" +
      "nodes AS (SELECT DISTINCT u AS node FROM sym),\n" +
      s"seeds AS (SELECT node FROM nodes\n" +
      s"        ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT $nSources),\n" +
      "s0 AS (SELECT node AS source, node, CAST(0 AS BIGINT) AS hops FROM seeds),\n" +
      "f0 AS (SELECT * FROM s0),\n" +
      chain + ",\n" +
      s"h AS (SELECT node, CAST(sum(1000000 // hops) AS BIGINT) AS harmonic_ppm,\n" +
      s"       CAST(count(*) AS BIGINT) AS n_reached\n" +
      s"     FROM s$maxHops WHERE hops > 0 GROUP BY 1)\n" +
      "SELECT n.node, CAST(coalesce(h.harmonic_ppm, 0) AS BIGINT) AS harmonic_ppm,\n" +
      "       CAST(coalesce(h.n_reached, 0) AS BIGINT) AS n_reached\n" +
      "FROM nodes n LEFT JOIN h USING (node)"
  }

  /** The d174 oracle: the decayed edge build — per-basket half-life
    * shifts from the order-date age (clamped like the operator), the
    * d127 cap/self-join, and the floor-division ppm sum. Wrapped by
    * d177/d184's [[weightedPrSql]] as its edge source (alias
    * weight_ppm → weight there). The ANCHOR is always the full orders
    * table's max date — a corpus property, not a basket-subset one —
    * so the even-half variant below decays its edges against the same
    * "now" the full build uses (the d186 two-phase contract). */
  private def decayedCopurchaseSqlFor(src: String): String =
    s"""WITH anchor AS (
      |  SELECT max(CAST(o_orderdate AS DATE)) AS mx FROM orders),
      |sh AS (
      |  SELECT o_orderkey AS basket_id,
      |         least(greatest(date_diff('day', CAST(o_orderdate AS DATE), mx) // 180, 0), 30) AS shift
      |  FROM orders CROSS JOIN anchor),
      |op0 AS (
      |  SELECT DISTINCT l_orderkey AS basket_id, l_partkey AS item_id FROM $src),
      |op AS (
      |  SELECT basket_id, item_id FROM op0
      |  QUALIFY count(*) OVER (PARTITION BY basket_id) <= 1024)
      |SELECT a.item_id AS src, b.item_id AS dst,
      |       CAST(sum(1000000 // (CAST(1 AS BIGINT) << s.shift)) AS BIGINT) AS weight_ppm
      |FROM op a JOIN op b ON a.basket_id = b.basket_id AND a.item_id < b.item_id
      |JOIN sh s ON s.basket_id = a.basket_id
      |GROUP BY 1, 2
      |HAVING sum(1000000 // (CAST(1 AS BIGINT) << s.shift)) >= 1000000""".stripMargin

  private[graft] val decayedCopurchaseSql: String =
    decayedCopurchaseSqlFor("lineitem")

  /** The decayed build over the EVEN-orderkey basket half — the
    * temporal index driver binding's first generation, d186's phase-A
    * edge source. */
  private[graft] val decayedCopurchaseEvenSql: String =
    decayedCopurchaseSqlFor("(SELECT * FROM lineitem WHERE l_orderkey % 2 = 0)")

  /** The d178 oracle: forward σ-counting BFS levels and Brandes'
    * backward δ accumulation unrolled as chained CTEs — the identical
    * quantized recurrence, level slices matched by construction. */
  private def betweennessSql(nSources: Int, maxHops: Int): String = {
    val fwd = (1 to maxHops).map { i =>
      s"n$i AS (SELECT f.source, y.v AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma\n" +
        s"     FROM n${i - 1} f JOIN sym y ON y.u = f.node\n" +
        s"     WHERE NOT EXISTS (SELECT 1 FROM s${i - 1} s\n" +
        s"       WHERE s.source = f.source AND s.node = y.v)\n" +
        s"     GROUP BY 1, 2),\n" +
        s"s$i AS (SELECT source, node FROM s${i - 1}\n" +
        s"     UNION ALL SELECT source, node FROM n$i)"
    }.mkString(",\n")
    val bwd = (maxHops - 1 to 1 by -1).map { i =>
      s"c$i AS (SELECT v.source, v.node,\n" +
        s"       CAST(sum((v.sigma * (1000000 + d.delta)) // w.sigma) AS BIGINT) AS delta\n" +
        s"     FROM n$i v JOIN sym y ON y.u = v.node\n" +
        s"     JOIN n${i + 1} w ON w.source = v.source AND w.node = y.v\n" +
        s"     JOIN d${i + 1} d ON d.source = w.source AND d.node = w.node\n" +
        s"     GROUP BY 1, 2),\n" +
        s"d$i AS (SELECT n.source, n.node, CAST(coalesce(c.delta, 0) AS BIGINT) AS delta\n" +
        s"     FROM n$i n LEFT JOIN c$i c ON c.source = n.source AND c.node = n.node)"
    }.mkString(",\n")
    val bwdPart = if (maxHops >= 2) bwd + ",\n" else ""
    val allDeltas = (1 to maxHops)
      .map(i => s"SELECT node, delta FROM d$i").mkString(" UNION ALL ")
    s"WITH e AS MATERIALIZED ($copurchaseSql),\n" +
      "sym AS MATERIALIZED (\n" +
      "  SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),\n" +
      "nodes AS (SELECT DISTINCT u AS node FROM sym),\n" +
      s"seeds AS (SELECT node FROM nodes\n" +
      s"        ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT $nSources),\n" +
      "n0 AS (SELECT node AS source, node, CAST(1 AS BIGINT) AS sigma FROM seeds),\n" +
      "s0 AS (SELECT source, node FROM n0),\n" +
      fwd + ",\n" +
      s"d$maxHops AS (SELECT source, node, CAST(0 AS BIGINT) AS delta FROM n$maxHops),\n" +
      bwdPart +
      s"bc AS (SELECT node, CAST(sum(delta) AS BIGINT) AS betweenness_ppm\n" +
      s"     FROM ($allDeltas) GROUP BY 1)\n" +
      "SELECT n.node, CAST(coalesce(b.betweenness_ppm, 0) AS BIGINT) AS betweenness_ppm\n" +
      "FROM nodes n LEFT JOIN bc b USING (node)"
  }

  /** The d177 oracle — [[weightedPrSql]] with the decayed build as its
    * edge source. Shared VERBATIM with d184 ([[TemporalEdgeIndex]]'s
    * index-served decayed PageRank — the d167 fixed-point consumer
    * discipline applied to the temporal family). */
  private[graft] val decayedPrSql: String = weightedPrSql(3,
    s"SELECT src, dst, weight_ppm AS weight FROM ($decayedCopurchaseSql)")

  /** The d185 oracle: wedge-center candidate enumeration under the
    * same degree gate, RA contributions in floor-division ppm,
    * existing edges anti-joined, the d133 ranking shape. */
  private def linkPredictionSql(k: Int, maxCenterDegree: Int): String =
    s"""WITH e AS MATERIALIZED ($copurchaseSql),
       |ec AS (SELECT src, dst FROM e),
       |sym AS (SELECT src AS u, dst AS v FROM ec UNION ALL SELECT dst, src FROM ec),
       |adj AS MATERIALIZED (SELECT u, v, d FROM (
       |  SELECT u, v, count(*) OVER (PARTITION BY u) AS d FROM sym)
       |  WHERE d <= $maxCenterDegree),
       |sc AS (
       |  SELECT a.x AS src, b.y AS dst, CAST(count(*) AS BIGINT) AS n_common,
       |         CAST(sum(1000000 // a.d) AS BIGINT) AS score_ppm
       |  FROM (SELECT u AS w, v AS x, d FROM adj) a
       |  JOIN (SELECT u AS w, v AS y FROM adj) b USING (w)
       |  WHERE a.x < b.y
       |    AND NOT EXISTS (SELECT 1 FROM ec WHERE ec.src = a.x AND ec.dst = b.y)
       |  GROUP BY 1, 2),
       |bidir AS (
       |  SELECT src AS node, dst AS cand_id, n_common, score_ppm FROM sc
       |  UNION ALL SELECT dst, src, n_common, score_ppm FROM sc),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY node ORDER BY score_ppm DESC, cand_id) AS BIGINT) AS rank
       |  FROM bidir)
       |SELECT node, cand_id, n_common, score_ppm, rank
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** The d179 oracle: the decayed edge build fed through the d133
    * ranking shape (weight-ppm order, lower-rel_id ties, top 10). */
  private[graft] val trendingRelatedSql: String =
    s"""WITH e AS ($decayedCopurchaseSql),
       |sym AS (
       |  SELECT src AS item_id, dst AS rel_id, weight_ppm FROM e
       |  UNION ALL SELECT dst, src, weight_ppm FROM e),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY item_id ORDER BY weight_ppm DESC, rel_id) AS BIGINT) AS rank
       |  FROM sym)
       |SELECT item_id, rel_id, weight_ppm, rank FROM ranked WHERE rank <= 10""".stripMargin

  /** The d144 oracle: the identical peel unrolled as chained CTEs. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val chain = (1 to rounds).map { i =>
      s"k$i AS (SELECT u FROM a${i - 1} GROUP BY u HAVING count(*) >= $k),\n" +
        s"a$i AS (SELECT a.u, a.v FROM a${i - 1} a " +
        s"JOIN k$i x ON x.u = a.u JOIN k$i y ON y.u = a.v)"
    }.mkString(",\n")
    s"WITH e AS MATERIALIZED ($copurchaseSql),\n" +
      "a0 AS (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),\n" +
      chain + "\n" +
      s"SELECT u AS node, CAST(count(*) AS BIGINT) AS core_deg FROM a$rounds GROUP BY 1"
  }

  /** The d133 oracle — shared verbatim with d165 ([[EdgeIndex]]'s
    * index-served related items), the d38/d39 twin-gate discipline. */
  private[graft] val RelatedItemsOracle: String =
    s"""WITH e AS ($copurchaseSql),
       |op AS (SELECT DISTINCT l_orderkey AS basket_id, l_partkey AS item_id FROM lineitem),
       |sz AS (SELECT item_id, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY 1),
       |sym AS (
       |  SELECT src AS item_id, dst AS rel_id, weight FROM e
       |  UNION ALL SELECT dst, src, weight FROM e),
       |scored AS (
       |  SELECT s.item_id, s.rel_id, s.weight,
       |         s.weight * 1000000 // (a.n + b.n - s.weight) AS jaccard_ppm
       |  FROM sym s JOIN sz a ON a.item_id = s.item_id
       |             JOIN sz b ON b.item_id = s.rel_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY item_id ORDER BY jaccard_ppm DESC, rel_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT item_id, rel_id, weight AS n_shared, jaccard_ppm, rank
       |FROM ranked WHERE rank <= 10""".stripMargin

  def queries: Seq[Q] = Seq(

    // d145: 2-iteration HITS on the directed customer→supplier graph
    // — integer normalization, exact longs; the oracle unrolls the
    // identical iterations.
    Q("d145_hits",
      (s, d) => hits(tradeDirected(s, d), iterations = 2, checkpointEvery = 1),
      Some(hitsSql(2))),

    // d144: 6-round 3-core peel of the co-purchase graph — exact
    // integer counting; the oracle unrolls the identical rounds.
    Q("d144_kcore",
      (s, d) => kCore(copurchaseFrame(s, d)),
      Some(kcoreSql(k = 3, rounds = 6))),

    // d127: the basket co-occurrence graph — integer weights, exact.
    Q("d127_copurchase_edges",
      (s, d) => copurchaseEdges(orderBaskets(s, d)),
      Some(copurchaseSql)),

    // d132: item communities — CC over the d127 edge set (d14's
    // large-star/small-star engine; oracle = the d14 recursive-CTE
    // closure over the same edges).
    Q("d132_copurchase_communities",
      (s, d) => copurchaseCommunities(s, orderBaskets(s, d)),
      Some(s"""WITH RECURSIVE e AS MATERIALIZED ($copurchaseSql),
              |edges AS MATERIALIZED (
              |  SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e),
              |nodes AS (SELECT DISTINCT a AS v FROM edges),
              |reach AS (
              |  SELECT v, v AS l FROM nodes
              |  UNION
              |  SELECT r.v, ed.b AS l FROM reach r JOIN edges ed ON ed.a = r.l
              |),
              |lab AS (SELECT v, min(l) AS community_id FROM reach GROUP BY v),
              |csz AS (SELECT community_id, count(*) AS community_size FROM lab GROUP BY 1)
              |SELECT v AS item_id, community_id,
              |       CAST(community_size AS BIGINT) AS community_size
              |FROM lab JOIN csz USING (community_id)""".stripMargin)),

    // d133: per-item top-10 related items by exact integer Jaccard —
    // deterministic ranking (ppm desc, id asc), oracle replays the
    // identical window.
    Q("d133_related_items",
      (s, d) => relatedItems(orderBaskets(s, d)),
      Some(RelatedItemsOracle)),

    // d134: association rules with exact-ppm support/confidence/lift —
    // both directions of every support-pruned pair.
    Q("d134_basket_rules",
      (s, d) => basketRules(orderBaskets(s, d)),
      Some(s"""WITH e AS ($copurchaseSql),
              |op AS (SELECT DISTINCT l_orderkey AS basket_id, l_partkey AS item_id FROM lineitem),
              |sz AS (SELECT item_id, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY 1),
              |nb AS (SELECT CAST(count(DISTINCT basket_id) AS BIGINT) AS n_baskets FROM op),
              |sym AS (
              |  SELECT src AS antecedent, dst AS consequent, weight FROM e
              |  UNION ALL SELECT dst, src, weight FROM e)
              |SELECT s.antecedent, s.consequent, s.weight AS n_shared,
              |       s.weight * 1000000 // nb.n_baskets AS support_ppm,
              |       s.weight * 1000000 // a.n AS conf_ppm,
              |       (s.weight * 1000000 // a.n) * nb.n_baskets // b.n AS lift_ppm
              |FROM sym s JOIN sz a ON a.item_id = s.antecedent
              |           JOIN sz b ON b.item_id = s.consequent
              |           CROSS JOIN nb""".stripMargin)),

    // d135: BFS hop tiers from the co-purchase graph's highest-degree
    // item (ties to the lower id) — oracle = bounded recursive-CTE
    // closure with per-(node,hops) dedup, min(hops) at the end.
    Q("d135_hop_distance",
      (s, d) => {
        val e = copurchaseFrame(s, d)
        val sym = e.select(col("src").as("u")).union(e.select(col("dst").as("u")))
        val seed = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
          .orderBy(col("deg").desc, col("u")).limit(1).select(col("u"))
        hopDistance(e, seed, maxHops = 4)
      },
      Some(s"""WITH RECURSIVE e AS MATERIALIZED ($copurchaseSql),
              |sym AS MATERIALIZED (
              |  SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),
              |seed AS (
              |  SELECT u AS node FROM (
              |    SELECT u, count(*) AS deg FROM sym GROUP BY 1)
              |  ORDER BY deg DESC, u LIMIT 1),
              |reach AS (
              |  SELECT node, 0 AS hops FROM seed
              |  UNION
              |  SELECT sym.v, reach.hops + 1
              |  FROM reach JOIN sym ON sym.u = reach.node
              |  WHERE reach.hops < 4)
              |SELECT node, CAST(min(hops) AS BIGINT) AS hops
              |FROM reach GROUP BY 1""".stripMargin)),

    // d128: 3-iteration fixed-point PageRank over the symmetrized
    // customer–supplier graph — pure long arithmetic, the oracle
    // replays the identical truncating iteration.
    Q("d128_pagerank",
      (s, d) => pageRank(tradeEdges(s, d), iterations = 3, checkpointEvery = 1),
      Some("""WITH el AS (
             |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
             |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
             |e AS (SELECT src, dst FROM el UNION SELECT dst, src FROM el),
             |od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
             |nodes AS (
             |  SELECT node, coalesce(outdeg, 0) AS outdeg
             |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)
             |  LEFT JOIN od USING (node)),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
             |r0 AS (SELECT node, outdeg, CAST(1000000 AS BIGINT) AS rank FROM nodes),
             |i1 AS (SELECT e.dst AS node, CAST(sum(r.rank // r.outdeg) AS BIGINT) AS inbound
             |       FROM e JOIN r0 r ON r.node = e.src AND r.outdeg > 0 GROUP BY 1),
             |g1 AS (SELECT CAST(coalesce(sum(CASE WHEN outdeg = 0 THEN rank ELSE 0 END), 0) AS BIGINT) AS dangling FROM r0),
             |r1 AS (SELECT n.node, n.outdeg,
             |         150000 + 85 * (coalesce(i.inbound, 0) + g.dangling // nn.n_nodes) // 100 AS rank
             |       FROM nodes n LEFT JOIN i1 i USING (node) CROSS JOIN g1 g CROSS JOIN nn),
             |i2 AS (SELECT e.dst AS node, CAST(sum(r.rank // r.outdeg) AS BIGINT) AS inbound
             |       FROM e JOIN r1 r ON r.node = e.src AND r.outdeg > 0 GROUP BY 1),
             |g2 AS (SELECT CAST(coalesce(sum(CASE WHEN outdeg = 0 THEN rank ELSE 0 END), 0) AS BIGINT) AS dangling FROM r1),
             |r2 AS (SELECT n.node, n.outdeg,
             |         150000 + 85 * (coalesce(i.inbound, 0) + g.dangling // nn.n_nodes) // 100 AS rank
             |       FROM nodes n LEFT JOIN i2 i USING (node) CROSS JOIN g2 g CROSS JOIN nn),
             |i3 AS (SELECT e.dst AS node, CAST(sum(r.rank // r.outdeg) AS BIGINT) AS inbound
             |       FROM e JOIN r2 r ON r.node = e.src AND r.outdeg > 0 GROUP BY 1),
             |g3 AS (SELECT CAST(coalesce(sum(CASE WHEN outdeg = 0 THEN rank ELSE 0 END), 0) AS BIGINT) AS dangling FROM r2),
             |r3 AS (SELECT n.node, n.outdeg,
             |         150000 + 85 * (coalesce(i.inbound, 0) + g.dangling // nn.n_nodes) // 100 AS rank
             |       FROM nodes n LEFT JOIN i3 i USING (node) CROSS JOIN g3 g CROSS JOIN nn)
             |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3""".stripMargin)),

    // d139: personalized PageRank over the DIRECTED customer→supplier
    // graph from the 5 highest-degree customers (ties to the lower id)
    // — "which suppliers are close to these anchor customers". The
    // bipartite direction makes every supplier dangling, so the
    // restart-at-sources path is exercised on every iteration; the
    // oracle unrolls the identical truncating arithmetic.
    Q("d139_personalized_pagerank",
      (s, d) => {
        val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        val l = lineitem(s, d).select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"))
        // materialized: the seed derivation AND the rank iteration both
        // read the directed frame — without this the orders⋈lineitem
        // join runs twice (the no-double-scan rule)
        val directed = o.join(l, Seq("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
          .localCheckpoint()
        val seeds = directed.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
          .orderBy(col("deg").desc, col("node")).limit(5).select(col("node"))
        personalizedPageRank(directed, seeds, iterations = 3, checkpointEvery = 1)
      },
      Some("""WITH el AS MATERIALIZED (
             |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
             |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
             |od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg FROM el GROUP BY 1),
             |seeds AS (SELECT node FROM od ORDER BY outdeg DESC, node LIMIT 5),
             |nodes AS (
             |  SELECT node, coalesce(outdeg, 0) AS outdeg,
             |         CASE WHEN node IN (SELECT node FROM seeds) THEN 1 ELSE 0 END AS is_src
             |  FROM (SELECT src AS node FROM el UNION SELECT dst FROM el)
             |  LEFT JOIN od USING (node)),
             |ns AS (SELECT CAST(sum(is_src) AS BIGINT) AS n_src FROM nodes),
             |r0 AS (SELECT node, outdeg, is_src, CAST(is_src * 1000000 AS BIGINT) AS rank FROM nodes),
             |i1 AS (SELECT el.dst AS node, CAST(sum(r.rank // r.outdeg) AS BIGINT) AS inbound
             |       FROM el JOIN r0 r ON r.node = el.src AND r.outdeg > 0 GROUP BY 1),
             |g1 AS (SELECT CAST(coalesce(sum(CASE WHEN outdeg = 0 THEN rank ELSE 0 END), 0) AS BIGINT) AS dangling FROM r0),
             |r1 AS (SELECT n.node, n.outdeg, n.is_src,
             |         n.is_src * 150000 + 85 * (coalesce(i.inbound, 0) + n.is_src * (g.dangling // ns.n_src)) // 100 AS rank
             |       FROM nodes n LEFT JOIN i1 i USING (node) CROSS JOIN g1 g CROSS JOIN ns),
             |i2 AS (SELECT el.dst AS node, CAST(sum(r.rank // r.outdeg) AS BIGINT) AS inbound
             |       FROM el JOIN r1 r ON r.node = el.src AND r.outdeg > 0 GROUP BY 1),
             |g2 AS (SELECT CAST(coalesce(sum(CASE WHEN outdeg = 0 THEN rank ELSE 0 END), 0) AS BIGINT) AS dangling FROM r1),
             |r2 AS (SELECT n.node, n.outdeg, n.is_src,
             |         n.is_src * 150000 + 85 * (coalesce(i.inbound, 0) + n.is_src * (g.dangling // ns.n_src)) // 100 AS rank
             |       FROM nodes n LEFT JOIN i2 i USING (node) CROSS JOIN g2 g CROSS JOIN ns),
             |i3 AS (SELECT el.dst AS node, CAST(sum(r.rank // r.outdeg) AS BIGINT) AS inbound
             |       FROM el JOIN r2 r ON r.node = el.src AND r.outdeg > 0 GROUP BY 1),
             |g3 AS (SELECT CAST(coalesce(sum(CASE WHEN outdeg = 0 THEN rank ELSE 0 END), 0) AS BIGINT) AS dangling FROM r2),
             |r3 AS (SELECT n.node, n.outdeg, n.is_src,
             |         n.is_src * 150000 + 85 * (coalesce(i.inbound, 0) + n.is_src * (g.dangling // ns.n_src)) // 100 AS rank
             |       FROM nodes n LEFT JOIN i3 i USING (node) CROSS JOIN g3 g CROSS JOIN ns)
             |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3""".stripMargin)),

    // d140: 3-round synchronous label propagation over the co-purchase
    // graph — deterministic (count desc, label asc) argmax each round;
    // the oracle replays the identical rounds.
    Q("d140_label_propagation",
      (s, d) => labelPropagation(copurchaseFrame(s, d),
        iterations = 3, checkpointEvery = 1),
      Some(s"""WITH e AS MATERIALIZED ($copurchaseSql),
              |sym AS MATERIALIZED (
              |  SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),
              |l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
              |c1 AS (SELECT s.u AS node, l.label, count(*) AS cnt
              |       FROM sym s JOIN l0 l ON l.node = s.v GROUP BY 1, 2),
              |l1 AS (SELECT node, label FROM (
              |         SELECT node, label, row_number() OVER (
              |           PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c1)
              |       WHERE rn = 1),
              |c2 AS (SELECT s.u AS node, l.label, count(*) AS cnt
              |       FROM sym s JOIN l1 l ON l.node = s.v GROUP BY 1, 2),
              |l2 AS (SELECT node, label FROM (
              |         SELECT node, label, row_number() OVER (
              |           PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c2)
              |       WHERE rn = 1),
              |c3 AS (SELECT s.u AS node, l.label, count(*) AS cnt
              |       FROM sym s JOIN l2 l ON l.node = s.v GROUP BY 1, 2),
              |l3 AS (SELECT node, label FROM (
              |         SELECT node, label, row_number() OVER (
              |           PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c3)
              |       WHERE rn = 1),
              |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS label_size FROM l3 GROUP BY 1)
              |SELECT node, label, label_size FROM l3 JOIN sz USING (label)""".stripMargin)),

    // d147: 3-iteration weighted PageRank over the symmetrized weighted
    // co-purchase graph — rank mass flows with co-purchase strength;
    // the oracle unrolls the identical truncating arithmetic.
    Q("d147_weighted_pagerank",
      (s, d) => {
        // materialized: the symmetrize union references p twice
        val p = copurchaseEdges(orderBaskets(s, d)).localCheckpoint()
        val sym = p.union(p.select(col("dst"), col("src"), col("weight")))
        weightedPageRank(sym, iterations = 3, checkpointEvery = 1)
      },
      Some(weightedPrSql(3))),

    // d148: HyperBall neighborhood function at radii 0..3 over the
    // co-purchase graph — HLL-sketched ball sizes. The estimates are
    // engine-specific but a PURE FUNCTION of the graph (seeded register
    // hashing; the per-radius update is a max-merge, so partitioning
    // and fold order are immaterial — verified bit-identical across
    // fresh JVMs), so the oracle is a committed PARQUET GOLDEN read
    // back by DuckDB — the e01–e06 convention (r16 verdict ask #8
    // continued: no_oracle shrinks again). Regenerate by copying a
    // Verify dump: tools/golden/d148_hyperball.parquet. ACCURACY stays
    // adjudicated by d152, the d36-style hash-green sibling pinning
    // the estimator within bound of the exact closure.
    Q("d148_hyperball",
      (s, d) => hyperBall(copurchaseFrame(s, d), radius = 3),
      Some("SELECT * FROM read_parquet('/root/repo/tools/golden/d148_hyperball.parquet')")),

    // d152: the d148 gate — exact radius-0..2 neighborhood function
    // (oracle = recursive-CTE closure with min-hop dedup) beside a
    // within-bound boolean the oracle pins TRUE.
    Q("d152_hyperball_bound",
      (s, d) => hyperBallBound(copurchaseFrame(s, d), radius = 2),
      Some(s"""WITH RECURSIVE e AS MATERIALIZED ($copurchaseSql),
              |sym AS MATERIALIZED (
              |  SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),
              |nodes AS (SELECT DISTINCT u FROM sym),
              |reach AS (
              |  SELECT u AS root, u AS member, 0 AS hops FROM nodes
              |  UNION
              |  SELECT reach.root, sym.v, reach.hops + 1
              |  FROM reach JOIN sym ON sym.u = reach.member
              |  WHERE reach.hops < 2),
              |d AS (SELECT root, member, min(hops) AS dist FROM reach GROUP BY 1, 2),
              |radii AS (SELECT unnest(range(0, 3)) AS radius)
              |SELECT d.root AS node, CAST(r.radius AS BIGINT) AS radius,
              |       CAST(count(*) AS BIGINT) AS ball, TRUE AS within_bound
              |FROM d CROSS JOIN radii r
              |WHERE d.dist <= r.radius
              |GROUP BY 1, 2""".stripMargin)),

    // d151: 4-round weighted shortest paths from the co-purchase
    // graph's highest-degree item, cost = 1e6 div co-purchase weight
    // (strong ties are short) — the oracle replays the bounded walk
    // closure with min(dist) at the end.
    Q("d151_shortest_paths",
      (s, d) => {
        // materialize the weighted edge frame ONCE — the seed
        // derivation and the path iteration both read it (without this
        // the basket self-join behind copurchaseEdges runs twice)
        val wc = copurchaseEdges(orderBaskets(s, d))
          .select(col("src"), col("dst"), expr("1000000 div weight").as("cost"))
          .localCheckpoint()
        val sym = wc.select(col("src").as("u")).union(wc.select(col("dst").as("u")))
        val seed = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
          .orderBy(col("deg").desc, col("u")).limit(1).select(col("u"))
        shortestPaths(wc, seed, maxRounds = 4)
      },
      Some(s"""WITH RECURSIVE e0 AS MATERIALIZED ($copurchaseSql),
              |e AS MATERIALIZED (
              |  SELECT src AS u, dst AS v, 1000000 // weight AS cost FROM e0
              |  UNION ALL SELECT dst, src, 1000000 // weight FROM e0),
              |seed AS (
              |  SELECT u AS node FROM (SELECT u, count(*) AS deg FROM e GROUP BY 1)
              |  ORDER BY deg DESC, u LIMIT 1),
              |walk AS (
              |  SELECT node, CAST(0 AS BIGINT) AS dist, 0 AS hops FROM seed
              |  UNION
              |  SELECT e.v, walk.dist + e.cost, walk.hops + 1
              |  FROM walk JOIN e ON e.u = walk.node
              |  WHERE walk.hops < 4)
              |SELECT node, CAST(min(dist) AS BIGINT) AS dist
              |FROM walk GROUP BY 1""".stripMargin)),

    // d159: effective diameter at 90% over the exact radius-0..2
    // neighborhood function (the estimator-fed production path is the
    // facade composition with d148's hyperBall; GraphsSpec proves the
    // two agree below sparse-mode scale) — the oracle replays the
    // closure, the per-radius pair sums, and the threshold pick.
    Q("d159_effective_diameter",
      (s, d) => effectiveDiameter(
        neighborhoodExact(copurchaseFrame(s, d), radius = 2)),
      Some(s"""WITH RECURSIVE e AS MATERIALIZED ($copurchaseSql),
              |sym AS MATERIALIZED (
              |  SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),
              |nodes AS (SELECT DISTINCT u FROM sym),
              |reach AS (
              |  SELECT u AS root, u AS member, 0 AS hops FROM nodes
              |  UNION
              |  SELECT reach.root, sym.v, reach.hops + 1
              |  FROM reach JOIN sym ON sym.u = reach.member
              |  WHERE reach.hops < 2),
              |d AS (SELECT root, member, min(hops) AS dist FROM reach GROUP BY 1, 2),
              |radii AS (SELECT unnest(range(0, 3)) AS radius),
              |b AS (SELECT t.radius, CAST(count(*) AS BIGINT) AS pairs
              |      FROM d CROSS JOIN radii t WHERE d.dist <= t.radius GROUP BY 1),
              |cap AS (SELECT CAST(radius AS BIGINT) AS radius_cap, pairs AS total_pairs
              |        FROM b ORDER BY radius DESC LIMIT 1)
              |SELECT cap.radius_cap, cap.total_pairs,
              |       CAST(b.radius AS BIGINT) AS eff_diameter, b.pairs AS pairs_at_eff
              |FROM b CROSS JOIN cap
              |WHERE b.pairs * 1000000 >= cap.total_pairs * 900000
              |ORDER BY b.radius LIMIT 1""".stripMargin)),

    // d157: two deterministic DeepWalk walks of 3 steps from every
    // co-purchase node — the md5-addressed transitions replay
    // bit-exactly in the oracle's recursive CTE.
    Q("d157_random_walks",
      (s, d) => randomWalks(copurchaseFrame(s, d), walksPerNode = 2, steps = 3),
      Some(walkSql(2, 3) +
        "\nSELECT start_node, walk, step, node FROM walk")),

    // d162: two node2vec walks of 3 steps from every co-purchase node,
    // BFS-leaning weights (wReturn=1, wIn=4, wOut=2) — the biased
    // second-order transitions replay bit-exactly in the oracle's
    // wedge-table recursive CTE.
    Q("d162_node2vec_walks",
      (s, d) => biasedWalks(copurchaseFrame(s, d), walksPerNode = 2,
        steps = 3, wReturn = 1, wIn = 4, wOut = 2),
      Some(biasedWalkSql(2, 3, 1, 4, 2) +
        "\nSELECT start_node, walk, step, node FROM corpus")),

    // d158: skip-gram (center, context) pairs with multiplicity from
    // the d157 corpus — the word2vec-style training-pair extraction;
    // the oracle rebuilds the walks and replays the banded self-join.
    Q("d158_skipgram_pairs",
      (s, d) => walkSkipGrams(
        randomWalks(copurchaseFrame(s, d), walksPerNode = 2, steps = 3),
        window = 2),
      Some(walkSql(2, 3) +
        """
          |SELECT a.node AS center, b.node AS context, CAST(count(*) AS BIGINT) AS n_pairs
          |FROM walk a JOIN walk b
          |  ON a.start_node = b.start_node AND a.walk = b.walk
          | AND a.step <> b.step AND abs(a.step - b.step) <= 2
          |GROUP BY 1, 2""".stripMargin)),

    // d163: 4-dimensional graph embeddings trained for 2 full-batch GD
    // iterations over the d158 skip-gram corpus — md5-seeded init,
    // 6-decimal-rounded descent; the oracle rebuilds the pairs and
    // unrolls the identical iterations.
    Q("d163_graph_embedding",
      (s, d) => walkEmbeddings(
        walkSkipGrams(
          randomWalks(copurchaseFrame(s, d), walksPerNode = 2, steps = 3),
          window = 2),
        dim = 4, iters = 2, lrNum = 1, lrDen = 10),
      Some(embeddingSql(2, 3, 2, 4, 2, 1, 10) +
        ("\nSELECT node" +
          (0 until 4).map(j =>
            s", CAST(e$j AS DOUBLE) / 1000000.0 AS e$j").mkString +
          " FROM u2"))),

    // d171: cosine top-5 related items over the d163 node embeddings
    // (r13 verdict ask #4) — the retrieval consumer adjudicating the
    // embeddings as a product surface; exact long dot/norms, IEEE
    // -pinned cosine, the oracle chains the trainer replay into the
    // identical scoring.
    Q("d171_embedding_related",
      (s, d) => embeddingRelated(
        walkEmbeddings(
          walkSkipGrams(
            randomWalks(copurchaseFrame(s, d), walksPerNode = 2, steps = 3),
            window = 2),
          dim = 4, iters = 2, lrNum = 1, lrDen = 10),
        k = 5),
      Some(embeddingSql(2, 3, 2, 4, 2, 1, 10) + ",\n" +
        embeddingRelatedSql(4, 2, 5))),

    // d187: the ANN-SERVED production sibling of d171 (r14 verdict ask
    // #1 — the d28→d30 / d08→d35 precedent): the same trained
    // embeddings ranked through the IVF coarse quantizer's probed-cell
    // candidate stream instead of the N² exact self-join (IVF, not
    // hyperplane LSH: low-dim sign-region ceiling — see the operator
    // scaladoc). With IvfIndex.build now BIT-DETERMINISTIC under any
    // partitioning (fixed-point Lloyd) and the embedding chain already
    // cross-engine gated (d168), the served output is a pure function
    // of the data — so the oracle is a committed PARQUET GOLDEN
    // (tools/golden/d187_embedding_related_ann.parquet, the e01–e06
    // convention; regenerate by copying a Verify dump). ACCURACY stays
    // adjudicated by the exact-mode hash gate d189 and the
    // bench-quality d187_recall vs d171 (0.986 at sf0.1).
    Q("d187_embedding_related_ann",
      (s, d) => embeddingRelatedAnn(
        walkEmbeddings(
          walkSkipGrams(
            randomWalks(copurchaseFrame(s, d), walksPerNode = 2, steps = 3),
            window = 2),
          dim = 4, iters = 2, lrNum = 1, lrDen = 10),
        k = 5),
      Some("SELECT * FROM read_parquet('/root/repo/tools/golden/d187_embedding_related_ann.parquet')")),

    // d189: the d187 SERVING PIPELINE under an exact-mode oracle (r15
    // verdict ask #2 — the family's own d33/d35 convention): at
    // probes = kCells every query probes every IVF cell, so the
    // candidate set is the whole zero-norm-free corpus and the
    // quantize → probe → unit-cosine score → TopKAgg pipeline (the
    // code d187 runs at production probes) must reproduce the exact
    // double-cosine ranking row for row. The oracle replays the ANN
    // path's own double arithmetic (see [[embeddingRelatedAnnExactSql]]
    // — d171's rounded tail would mis-tie), hash-gating ids and ranks;
    // with this the served path has a direct gate, not only the
    // recall adjudication against d171.
    Q("d189_embedding_related_ann_exact",
      (s, d) => embeddingRelatedAnn(
        walkEmbeddings(
          walkSkipGrams(
            randomWalks(copurchaseFrame(s, d), walksPerNode = 2, steps = 3),
            window = 2),
          dim = 4, iters = 2, lrNum = 1, lrDen = 10),
        k = 5, kCells = 4, probes = 4),
      Some(embeddingSql(2, 3, 2, 4, 2, 1, 10) + ",\n" +
        embeddingRelatedAnnExactSql(4, 2, 5))),

    // d168: the node2vec composition end-to-end — embeddings trained
    // over the BIASED-walk skip-gram corpus (d162 -> d158 machinery ->
    // d163 trainer as one chained query); the oracle chains the
    // wedge-table walk replay, the pair extraction, and the unrolled
    // GD — adjudicating the full second-order pipeline's wiring.
    Q("d168_node2vec_embedding",
      (s, d) => walkEmbeddings(
        walkSkipGrams(
          biasedWalks(copurchaseFrame(s, d), walksPerNode = 2, steps = 3,
            wReturn = 1, wIn = 4, wOut = 2),
          window = 2),
        dim = 4, iters = 2, lrNum = 1, lrDen = 10),
      Some(node2vecEmbeddingOracle)),

    // d155: per-node triangle counts + local clustering coefficient in
    // exact integer ppm — the oracle replays the identical
    // degree-oriented enumeration and corner attribution.
    Q("d155_local_clustering",
      (s, d) => localClustering(copurchaseFrame(s, d)),
      Some(s"""WITH e AS MATERIALIZED ($copurchaseSql),
              |sym AS (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),
              |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
              |o AS (SELECT CASE WHEN (d1.d, e.src) < (d2.d, e.dst) THEN e.src ELSE e.dst END AS a,
              |             CASE WHEN (d1.d, e.src) < (d2.d, e.dst) THEN e.dst ELSE e.src END AS b,
              |             CASE WHEN (d1.d, e.src) < (d2.d, e.dst) THEN d2.d ELSE d1.d END AS bd
              |      FROM e JOIN deg d1 ON d1.u = e.src JOIN deg d2 ON d2.u = e.dst),
              |t AS (SELECT e1.a AS a, e1.b AS x, e2.b AS y
              |      FROM o e1 JOIN o e2 ON e1.a = e2.a AND (e1.bd, e1.b) < (e2.bd, e2.b)
              |      JOIN e ON e.src = least(e1.b, e2.b) AND e.dst = greatest(e1.b, e2.b)),
              |corners AS (SELECT unnest([a, x, y]) AS node FROM t),
              |tri AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM corners GROUP BY 1)
              |SELECT deg.u AS node, deg.d AS degree,
              |       coalesce(tri.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
              |       CASE WHEN deg.d >= 2
              |            THEN 2 * coalesce(tri.n_triangles, 0) * 1000000 // (deg.d * (deg.d - 1))
              |            ELSE CAST(0 AS BIGINT) END AS clustering_ppm
              |FROM deg LEFT JOIN tri ON tri.node = deg.u""".stripMargin)),

    // d156: degree assortativity — exact integer sums, shared-literal
    // double formula, one summary row.
    Q("d156_degree_assortativity",
      (s, d) => degreeAssortativity(copurchaseFrame(s, d)),
      Some(s"""WITH e AS MATERIALIZED ($copurchaseSql),
              |sym AS (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),
              |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
              |j AS (SELECT dx.d AS dx, dy.d AS dy
              |      FROM sym JOIN deg dx ON dx.u = sym.u JOIN deg dy ON dy.u = sym.v),
              |s AS (SELECT CAST(count(*) AS BIGINT) AS m,
              |             CAST(sum(dx) AS BIGINT) AS sum_dx,
              |             CAST(sum(dx * dy) AS BIGINT) AS sum_dxdy,
              |             CAST(sum(dx * dx) AS BIGINT) AS sum_dx2
              |      FROM j)
              |SELECT m, sum_dx, sum_dxdy, sum_dx2,
              |       $assortativityFormula AS assortativity
              |FROM s""".stripMargin)),

    // d161: Newman modularity of the CC community assignment over the
    // weighted co-purchase graph — exact integer sums, shared-literal
    // 6-decimal formula, one summary row; the oracle recomputes the
    // closure-replay CC labels and the identical sums.
    Q("d161_modularity",
      (s, d) => {
        // one materialized weighted edge frame feeds BOTH the CC
        // labeling and the modularity sums (the d147 precedent)
        val p = copurchaseEdges(orderBaskets(s, d)).localCheckpoint()
        val assign = Similarity.connectedComponents(s,
            p.select(col("src").as("a"), col("dst").as("b")))
          .select(col("v").as("node"), col("lbl").as("community"))
        modularity(p, assign)
      },
      Some(s"""WITH RECURSIVE e AS MATERIALIZED ($copurchaseSql),
              |sym AS MATERIALIZED (
              |  SELECT src AS u, dst AS v, weight FROM e
              |  UNION ALL SELECT dst, src, weight FROM e),
              |edges AS (SELECT u AS a, v AS b FROM sym),
              |nodes AS (SELECT DISTINCT a AS v FROM edges),
              |reach AS (
              |  SELECT v, v AS l FROM nodes
              |  UNION
              |  SELECT r.v, ed.b AS l FROM reach r JOIN edges ed ON ed.a = r.l),
              |lab AS (SELECT v AS node, min(l) AS c FROM reach GROUP BY 1),
              |deg AS (SELECT u, CAST(sum(weight) AS BIGINT) AS k FROM sym GROUP BY 1),
              |lbl AS (SELECT deg.u, deg.k, lab.c FROM deg JOIN lab ON lab.node = deg.u),
              |tot AS (SELECT c, sum(k) AS tot FROM lbl GROUP BY 1),
              |m2t AS (SELECT CAST(sum(weight) AS BIGINT) AS m2 FROM sym),
              |ins AS (SELECT CAST(coalesce(sum(CASE WHEN lu.c = lv.c THEN s.weight END), 0) AS BIGINT) AS sum_in
              |        FROM sym s JOIN lbl lu ON lu.u = s.u JOIN lbl lv ON lv.u = s.v),
              |tsq AS (SELECT CAST(coalesce(sum(tot * tot), 0) AS BIGINT) AS sum_tot_sq FROM tot)
              |SELECT m2, sum_in, sum_tot_sq, $modularityFormula AS modularity
              |FROM m2t CROSS JOIN ins CROSS JOIN tsq""".stripMargin)),

    // d164: the composed graph pipeline as ONE gated query (the
    // d54/d91/d100 pattern applied to graphs): baskets -> capped
    // support-pruned edges (materialized ONCE) -> CC communities ->
    // rank-1 related item -> that pair's rule stats, joined into a
    // per-item recommendation row. The oracle chains the stages'
    // replayed SQL — adjudicating the WIRING (one shared edge frame
    // feeding three consumers), not just the stages, which d132/d133/
    // d134 already gate individually.
    Q("d164_graph_pipeline",
      (s, d) => {
        val bi = orderBaskets(s, d).toDF("basket_id", "item_id").distinct()
          .localCheckpoint()
        val p = copurchaseEdges(bi).localCheckpoint()
        val comm = Similarity.connectedComponents(s,
            p.select(col("src").as("a"), col("dst").as("b")))
          .select(col("v").as("item_id"), col("lbl").as("community_id"),
            col("cluster_size").as("community_size"))
        val rel1 = relatedItemsFrom(bi, p).where(col("rank") === 1)
          .select(col("item_id"), col("rel_id").as("top_rel_id"),
            col("jaccard_ppm").as("top_jaccard_ppm"))
        val rules = basketRulesFrom(bi, p)
          .select(col("antecedent").as("item_id"),
            col("consequent").as("top_rel_id"),
            col("conf_ppm").as("top_conf_ppm"),
            col("lift_ppm").as("top_lift_ppm"))
        comm.join(rel1, Seq("item_id"))
          .join(rules, Seq("item_id", "top_rel_id"))
          .select(col("item_id"), col("community_id"), col("community_size"),
            col("top_rel_id"), col("top_jaccard_ppm"),
            col("top_conf_ppm"), col("top_lift_ppm"))
      },
      Some(s"""WITH RECURSIVE e AS MATERIALIZED ($copurchaseSql),
              |op AS (SELECT DISTINCT l_orderkey AS basket_id, l_partkey AS item_id FROM lineitem),
              |sz AS (SELECT item_id, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY 1),
              |nb AS (SELECT CAST(count(DISTINCT basket_id) AS BIGINT) AS n_baskets FROM op),
              |edges AS MATERIALIZED (
              |  SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e),
              |nodes AS (SELECT DISTINCT a AS v FROM edges),
              |reach AS (
              |  SELECT v, v AS l FROM nodes
              |  UNION
              |  SELECT r.v, ed.b AS l FROM reach r JOIN edges ed ON ed.a = r.l),
              |lab AS (SELECT v AS item_id, min(l) AS community_id FROM reach GROUP BY 1),
              |csz AS (SELECT community_id, CAST(count(*) AS BIGINT) AS community_size
              |        FROM lab GROUP BY 1),
              |sym AS (
              |  SELECT src AS item_id, dst AS rel_id, weight FROM e
              |  UNION ALL SELECT dst, src, weight FROM e),
              |scored AS (
              |  SELECT s.item_id, s.rel_id, s.weight,
              |         s.weight * 1000000 // (a.n + b.n - s.weight) AS jaccard_ppm
              |  FROM sym s JOIN sz a ON a.item_id = s.item_id
              |             JOIN sz b ON b.item_id = s.rel_id),
              |rel1 AS (
              |  SELECT item_id, rel_id AS top_rel_id, jaccard_ppm AS top_jaccard_ppm
              |  FROM (SELECT *, row_number() OVER (
              |          PARTITION BY item_id ORDER BY jaccard_ppm DESC, rel_id) AS rn
              |        FROM scored)
              |  WHERE rn = 1),
              |rules AS (
              |  SELECT s.item_id, s.rel_id,
              |         s.weight * 1000000 // a.n AS conf_ppm,
              |         (s.weight * 1000000 // a.n) * nb.n_baskets // b.n AS lift_ppm
              |  FROM sym s JOIN sz a ON a.item_id = s.item_id
              |             JOIN sz b ON b.item_id = s.rel_id
              |             CROSS JOIN nb)
              |SELECT lab.item_id, lab.community_id, csz.community_size,
              |       r1.top_rel_id, r1.top_jaccard_ppm,
              |       ru.conf_ppm AS top_conf_ppm, ru.lift_ppm AS top_lift_ppm
              |FROM lab JOIN csz USING (community_id)
              |         JOIN rel1 r1 ON r1.item_id = lab.item_id
              |         JOIN rules ru ON ru.item_id = lab.item_id
              |                      AND ru.rel_id = r1.top_rel_id""".stripMargin)),

    // d166: Newman modularity of the LPA assignment over the SAME
    // weighted co-purchase graph d161 scores the CC assignment on —
    // together they give the pipeline the numeric basis to CHOOSE an
    // assignment (LPA's density communities vs CC's connectivity
    // islands); the oracle replays the three LPA rounds and the
    // identical modularity sums.
    Q("d166_lpa_modularity",
      (s, d) => {
        val p = copurchaseEdges(orderBaskets(s, d)).localCheckpoint()
        val assign = labelPropagation(p.select(col("src"), col("dst")),
            iterations = 3, checkpointEvery = 1)
          .select(col("node"), col("label").as("community"))
        modularity(p, assign)
      },
      Some(s"""WITH e AS MATERIALIZED ($copurchaseSql),
              |sym AS MATERIALIZED (
              |  SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),
              |symw AS MATERIALIZED (
              |  SELECT src AS u, dst AS v, weight FROM e
              |  UNION ALL SELECT dst, src, weight FROM e),
              |l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
              |c1 AS (SELECT s.u AS node, l.label, count(*) AS cnt
              |       FROM sym s JOIN l0 l ON l.node = s.v GROUP BY 1, 2),
              |l1 AS (SELECT node, label FROM (
              |         SELECT node, label, row_number() OVER (
              |           PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c1)
              |       WHERE rn = 1),
              |c2 AS (SELECT s.u AS node, l.label, count(*) AS cnt
              |       FROM sym s JOIN l1 l ON l.node = s.v GROUP BY 1, 2),
              |l2 AS (SELECT node, label FROM (
              |         SELECT node, label, row_number() OVER (
              |           PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c2)
              |       WHERE rn = 1),
              |c3 AS (SELECT s.u AS node, l.label, count(*) AS cnt
              |       FROM sym s JOIN l2 l ON l.node = s.v GROUP BY 1, 2),
              |l3 AS (SELECT node, label FROM (
              |         SELECT node, label, row_number() OVER (
              |           PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c3)
              |       WHERE rn = 1),
              |deg AS (SELECT u, CAST(sum(weight) AS BIGINT) AS k FROM symw GROUP BY 1),
              |lbl AS (SELECT deg.u, deg.k, l3.label AS c FROM deg JOIN l3 ON l3.node = deg.u),
              |tot AS (SELECT c, sum(k) AS tot FROM lbl GROUP BY 1),
              |m2t AS (SELECT CAST(sum(weight) AS BIGINT) AS m2 FROM symw),
              |ins AS (SELECT CAST(coalesce(sum(CASE WHEN lu.c = lv.c THEN s.weight END), 0) AS BIGINT) AS sum_in
              |        FROM symw s JOIN lbl lu ON lu.u = s.u JOIN lbl lv ON lv.u = s.v),
              |tsq AS (SELECT CAST(coalesce(sum(tot * tot), 0) AS BIGINT) AS sum_tot_sq FROM tot)
              |SELECT m2, sum_in, sum_tot_sq, $modularityFormula AS modularity
              |FROM m2t CROSS JOIN ins CROSS JOIN tsq""".stripMargin)),

    // d170: Louvain-style local-move refinement of the LPA assignment
    // over the weighted co-purchase graph (r13 verdict ask #3) — the
    // step that turns the d161/d166 scorers into an improver; 2
    // parity-gated synchronous sweeps in exact long gain arithmetic;
    // the oracle replays the LPA rounds and the identical sweeps.
    Q("d170_louvain_refine",
      (s, d) => {
        // one materialized weighted edge frame feeds the LPA seed AND
        // the refinement (the d161/d166 precedent)
        val p = copurchaseEdges(orderBaskets(s, d)).localCheckpoint()
        val lpa = labelPropagation(p.select(col("src"), col("dst")),
            iterations = 3, checkpointEvery = 1)
          .select(col("node"), col("label").as("community"))
        refineCommunities(p, lpa, rounds = 2)
      },
      Some(louvainRefineSql(2))),

    // d173: 3-round 3-truss of the co-purchase graph — every surviving
    // edge sits in >= 1 triangle of the survivor subgraph; exact
    // integer support; the oracle unrolls the identical prune rounds.
    Q("d173_ktruss",
      (s, d) => kTruss(copurchaseFrame(s, d), k = 3, rounds = 3),
      Some(ktrussSql(k = 3, rounds = 3))),

    // d174: time-decayed co-purchase edges — 180-day half-life on the
    // order date, weights in exact floor-division ppm; the oracle
    // replays the identical clamp/decay/prune.
    Q("d174_decayed_edges",
      (s, d) => decayedCopurchase(orderBaskets(s, d), orderShifts(s, d)),
      Some(decayedCopurchaseSql)),

    // d177: 3-iteration weighted PageRank over the symmetrized DECAYED
    // edge set — the temporal graph's ranking consumer ("what matters
    // now"): recency-weighted centrality from the same fixed-point
    // arithmetic as d147, adjudicated by the same oracle with the
    // decayed build swapped in as the edge source.
    Q("d177_decayed_pagerank",
      (s, d) => {
        val p = decayedCopurchase(orderBaskets(s, d), orderShifts(s, d))
          .toDF("src", "dst", "weight").localCheckpoint()
        val sym = p.union(p.select(col("dst"), col("src"), col("weight")))
        weightedPageRank(sym, iterations = 3, checkpointEvery = 1)
      },
      Some(decayedPrSql)),

    // d179: trending related items — per-item top-10 by decayed weight,
    // the recommendation consumer completing the temporal family
    // (d174 build → d177 centrality → d179 recommendation).
    Q("d179_trending_related",
      (s, d) => trendingRelated(
        decayedCopurchase(orderBaskets(s, d), orderShifts(s, d))),
      Some(trendingRelatedSql)),

    // d178: sampled-source betweenness centrality — Brandes' forward
    // σ / backward δ from the d176 seed sample, δ quantized to ppm by
    // per-term floor division; the oracle unrolls both sweeps.
    Q("d178_betweenness_sampled",
      (s, d) => betweennessCentrality(copurchaseFrame(s, d),
        nSources = 8, maxHops = 3),
      Some(betweennessSql(nSources = 8, maxHops = 3))),

    // d185: resource-allocation link prediction on the co-purchase
    // graph — top-10 not-yet-connected 2-hop pairs per node, scored by
    // integer RA ppm under the wedge-center degree gate; the oracle
    // replays the identical enumeration, gate, and ranking.
    Q("d185_link_prediction",
      (s, d) => linkPrediction(copurchaseFrame(s, d)),
      Some(linkPredictionSql(k = 10, maxCenterDegree = 1024))),

    // d180: core decomposition of the co-purchase graph — coreness to
    // kMax 4 via nested 6-round peels; the oracle unrolls every peel.
    Q("d180_coreness",
      (s, d) => coreness(copurchaseFrame(s, d), kMax = 4, rounds = 6),
      Some(corenessSql(kMax = 4, rounds = 6))),

    // d188: truss DECOMPOSITION of the co-purchase graph — every edge's
    // maximal k (trussness 2..4), the d180 coreness pattern applied to
    // d173's edge-level prune (r14 verdict forward item #3); the oracle
    // unrolls the identical nested prunes and left-join assembly.
    Q("d188_edge_trussness",
      (s, d) => edgeTrussness(copurchaseFrame(s, d), kMax = 4, rounds = 6),
      Some(edgeTrussnessSql(kMax = 4, rounds = 6))),

    // d181: 2-iteration SALSA on the directed customer→supplier graph
    // — mass-splitting link analysis beside d145's raw-sum HITS; the
    // oracle unrolls the identical truncating walk.
    Q("d181_salsa",
      (s, d) => salsa(tradeDirected(s, d), iterations = 2, checkpointEvery = 1),
      Some(salsaSql(2))),

    // d176: exact harmonic centrality from 8 md5-sampled sources, BFS
    // to 3 hops — the hash-green adjudicator of hyperBallCloseness's
    // sketched estimate; the oracle replays seeds, frontiers, ppm sums.
    Q("d176_harmonic_sampled",
      (s, d) => harmonicCentrality(copurchaseFrame(s, d),
        nSources = 8, maxHops = 3),
      Some(harmonicSql(nSources = 8, maxHops = 3))),

    // d129: triangle census of the support->=2 co-purchase graph —
    // one exact-integer summary row.
    Q("d129_triangles",
      (s, d) => triangleStats(copurchaseFrame(s, d)),
      Some(s"""WITH e AS ($copurchaseSql),
              |sym AS (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),
              |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
              |o AS (SELECT CASE WHEN (d1.d, e.src) < (d2.d, e.dst) THEN e.src ELSE e.dst END AS a,
              |             CASE WHEN (d1.d, e.src) < (d2.d, e.dst) THEN e.dst ELSE e.src END AS b,
              |             CASE WHEN (d1.d, e.src) < (d2.d, e.dst) THEN d2.d ELSE d1.d END AS bd
              |      FROM e JOIN deg d1 ON d1.u = e.src JOIN deg d2 ON d2.u = e.dst)
              |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
              |       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
              |       (SELECT CAST(count(*) AS BIGINT)
              |        FROM o e1 JOIN o e2 ON e1.a = e2.a AND (e1.bd, e1.b) < (e2.bd, e2.b)
              |        JOIN e ON e.src = least(e1.b, e2.b) AND e.dst = greatest(e1.b, e2.b))
              |         AS n_triangles""".stripMargin)))
}
