package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import graft.ops.Graphs

/** Planted-fixture coverage for the graph family (d127/d128/d129/d132):
  * co-purchase edge weights and support pruning, degree-oriented
  * triangle counting (each triangle once, hubs produce no wedges),
  * fixed-point integer PageRank against an independent sequential
  * replay of the documented semantics (dangling mass, truncating
  * division), the checkpointEvery lineage cut's answer-invariance, and
  * co-purchase communities.
  */
class GraphsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("graphs-spec")
  override def afterAll(): Unit = spark.stop()

  private def edgesDf(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  test("copurchaseEdges: weights count distinct baskets, multiplicity collapsed, support pruned") {
    import spark.implicits._
    // b4 lists item 1 twice — multiplicity must not inflate the weight
    val baskets = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L),
      (3L, 2L), (3L, 3L), (3L, 4L),
      (4L, 1L), (4L, 2L), (4L, 1L)).toDF("basket_id", "item_id")
    val got = Graphs.copurchaseEdges(baskets, minSupport = 2L)
      .as[(Long, Long, Long)].collect().toSet
    // (1,2): baskets 1,2,4 -> 3; (2,3): baskets 1,3 -> 2; all others support 1
    assert(got == Set((1L, 2L, 3L), (2L, 3L, 2L)))
  }

  test("triangleStats: hand-counted fixture with a hub — each triangle exactly once") {
    // K4 on 1..4 (4 triangles, 6 edges) + hub 100 with 10 leaf spokes
    // (no triangles) + hub closing a triangle with the K4 edge 1-2
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val spokes = (200L to 209L).map(l => (100L, l))
    val hubTri = Seq((1L, 100L), (2L, 100L))
    val row = Graphs.triangleStats(edgesDf(k4 ++ spokes ++ hubTri)).collect()(0)
    assert(row.getLong(row.fieldIndex("n_nodes")) == 15L)   // 4 + 1 + 10
    assert(row.getLong(row.fieldIndex("n_edges")) == 18L)   // 6 + 10 + 2
    assert(row.getLong(row.fieldIndex("n_triangles")) == 5L) // 4 in K4 + (1,2,100)
  }

  test("triangleStats: matches a brute-force count on a random graph") {
    val rnd = new scala.util.Random(1107)
    val es = (1 to 120).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).toSet }
    val verts = adj.keys.toSeq.sorted
    val brute = (for {
      i <- verts; j <- verts if j > i && adj(i)(j)
      k <- verts if k > j && adj(i)(k) && adj(j)(k)
    } yield 1).size.toLong
    val row = Graphs.triangleStats(edgesDf(es)).collect()(0)
    assert(row.getLong(row.fieldIndex("n_triangles")) == brute)
    assert(row.getLong(row.fieldIndex("n_nodes")) == verts.size.toLong)
    assert(row.getLong(row.fieldIndex("n_edges")) == es.size.toLong)
  }

  /** The documented d128 semantics, sequentially: pure Long arithmetic,
    * truncating division, dangling mass redistributed uniformly. */
  private def brutePageRank(edges: Set[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = nodes.size.toLong
    var rank = nodes.map(_ -> Graphs.Scale).toMap
    for (_ <- 1 to iters) {
      val contrib = rank.collect {
        case (m, r) if out.getOrElse(m, 0L) > 0L => m -> r / out(m) }
      val inbound = nodes.map(v => v ->
        edges.toSeq.filter(_._2 == v).map(e => contrib.getOrElse(e._1, 0L)).sum).toMap
      val dangling = rank.collect { case (m, r) if out.getOrElse(m, 0L) == 0L => r }.sum
      rank = nodes.map(v =>
        v -> (15L * Graphs.Scale / 100L + 85L * (inbound(v) + dangling / n) / 100L)).toMap
    }
    rank
  }

  test("pageRank: equals the sequential integer replay (cycle + dangling node)") {
    import spark.implicits._
    // 1->2->3->1 cycle, 1->3 chord, 4->1 source, 3->5 with 5 dangling
    val es = Set((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L), (3L, 5L))
    val got = Graphs.pageRank(edgesDf(es.toSeq), iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == brutePageRank(es, 3))
    // sanity: the cycle members outrank the no-inbound source node
    assert(got(3L) > got(4L) && got(1L) > got(4L))
  }

  test("pageRank: checkpointEvery only cuts lineage — answers identical") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val es = (1 to 80).map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter { case (a, b) => a != b }
    // unrolled vs checkpointed at a depth the unrolled plan still
    // compiles quickly (the unrolled 12-deep plan takes MINUTES of
    // optimizer time — the cost checkpointEvery exists to cut)
    val plain6 = Graphs.pageRank(edgesDf(es), iterations = 6)
      .as[(Long, Long)].collect().toMap
    val ck6 = Graphs.pageRank(edgesDf(es), iterations = 6, checkpointEvery = 2)
      .as[(Long, Long)].collect().toMap
    assert(ck6 == plain6)
    // deep iteration runs ONLY with the lineage cut, gated against the
    // independent sequential replay
    val ck12 = Graphs.pageRank(edgesDf(es), iterations = 12, checkpointEvery = 3)
      .as[(Long, Long)].collect().toMap
    assert(ck12 == brutePageRank(es.toSet, 12))
  }

  // shared fixture for d133/d134: item->baskets 1:{b1,b2,b3} 2:{b1..b4}
  // 3:{b1,b3,b4} 4:{b5}; support>=2 pairs (1,2):3 (1,3):2 (2,3):3; N=5
  private def recBaskets = {
    import spark.implicits._
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (3L, 3L), (4L, 2L), (4L, 3L), (5L, 4L))
      .toDF("basket_id", "item_id")
  }

  test("relatedItems: hand-computed Jaccard ppm, deterministic tie-break, k bound") {
    import spark.implicits._
    val got = Graphs.relatedItems(recBaskets)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // jac(1,2)=3e6/4=750000  jac(1,3)=2e6/4=500000  jac(2,3)=3e6/4=750000
    assert(got == Set(
      (1L, 2L, 3L, 750000L, 1L), (1L, 3L, 2L, 500000L, 2L),
      (2L, 1L, 3L, 750000L, 1L), (2L, 3L, 3L, 750000L, 2L), // tie -> lower id first
      (3L, 2L, 3L, 750000L, 1L), (3L, 1L, 2L, 500000L, 2L)))
    val top1 = Graphs.relatedItems(recBaskets, k = 1)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(top1 == got.filter(_._5 == 1L))
  }

  test("basketRules: hand-computed support/confidence/lift in exact ppm") {
    import spark.implicits._
    val got = Graphs.basketRules(recBaskets)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 3L, 600000L, 1000000L, 1250000L),
      (2L, 1L, 3L, 600000L, 750000L, 1250000L),
      (1L, 3L, 2L, 400000L, 666666L, 1111110L),
      (3L, 1L, 2L, 400000L, 666666L, 1111110L),
      (2L, 3L, 3L, 600000L, 750000L, 1250000L),
      (3L, 2L, 3L, 600000L, 1000000L, 1250000L)))
  }

  test("hopDistance: BFS levels, branch, bound, unreachable island excluded") {
    import spark.implicits._
    // path 1-2-3-4-5-6, branch 3-7, island 100-101
    val es = edgesDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (3L, 7L), (100L, 101L)))
    val got = Graphs.hopDistance(es, Seq(1L).toDF("node"), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 7L -> 3L))
  }

  test("hopDistance: multi-source min, reverse-edge traversal, early frontier exhaustion") {
    import spark.implicits._
    val es = edgesDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (3L, 7L), (100L, 101L)))
    // maxHops far beyond the diameter: the loop must stop on an empty
    // frontier; node 4 is 3 hops from source 1 but 1 hop from source 5
    // (via the reversed stored edge 4->5)
    val got = Graphs.hopDistance(es, Seq(1L, 5L).toDF("node"), maxHops = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L,
      6L -> 1L, 7L -> 3L))
  }

  /** The documented d139 semantics, sequentially: teleport and dangling
    * mass restart only at the sources, truncating Long division. */
  private def brutePpr(edges: Set[(Long, Long)], sources: Set[Long],
      iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val srcs = sources.intersect(nodes)
    val nS = srcs.size.toLong
    var rank = nodes.map(v => v -> (if (srcs(v)) Graphs.Scale else 0L)).toMap
    for (_ <- 1 to iters) {
      val contrib = rank.collect {
        case (m, r) if out.getOrElse(m, 0L) > 0L => m -> r / out(m) }
      val inbound = nodes.map(v => v ->
        edges.toSeq.filter(_._2 == v).map(e => contrib.getOrElse(e._1, 0L)).sum).toMap
      val dangling = rank.collect { case (m, r) if out.getOrElse(m, 0L) == 0L => r }.sum
      rank = nodes.map { v =>
        val s = if (srcs(v)) 1L else 0L
        v -> (s * (15L * Graphs.Scale / 100L) +
          85L * (inbound(v) + s * (dangling / nS)) / 100L)
      }.toMap
    }
    rank
  }

  test("personalizedPageRank: equals the sequential replay; mass anchors at the sources") {
    import spark.implicits._
    // bipartite-ish: 1,2 -> {10,11,12}, 3 -> {12,13}; 10..13 dangling
    val es = Set((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L), (3L, 12L), (3L, 13L))
    val got = Graphs.personalizedPageRank(edgesDf(es.toSeq), Seq(1L, 2L).toDF("node"),
      iterations = 3).as[(Long, Long)].collect().toMap
    assert(got == brutePpr(es, Set(1L, 2L), 3))
    // proximity: 11 (reached from both sources) outranks 13 (source 3's
    // exclusive neighbor — 3 is not anchored, so 13 gets no walk mass)
    assert(got(11L) > got(13L))
    assert(got(13L) == 0L)
    // a source id outside the node universe is ignored, not a crash
    val got2 = Graphs.personalizedPageRank(edgesDf(es.toSeq),
      Seq(1L, 2L, 999L).toDF("node"), iterations = 3).as[(Long, Long)].collect().toMap
    assert(got2 == got)
  }

  test("personalizedPageRank: checkpointEvery only cuts lineage — answers identical") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val es = (1 to 80).map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter { case (a, b) => a != b }
    val srcs = Seq(0L, 1L, 2L).toDF("node")
    val plain = Graphs.personalizedPageRank(edgesDf(es), srcs, iterations = 6)
      .as[(Long, Long)].collect().toMap
    val ck = Graphs.personalizedPageRank(edgesDf(es), srcs, iterations = 6,
      checkpointEvery = 2).as[(Long, Long)].collect().toMap
    assert(ck == plain)
    assert(plain == brutePpr(es.toSet, Set(0L, 1L, 2L), 6))
  }

  /** The documented d140 semantics, sequentially: synchronous rounds,
    * neighbor-label argmax with (count desc, label asc) ties. */
  private def bruteLpa(edges: Set[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = edges.flatMap(e => Seq(e, e.swap))
    val adj = sym.groupBy(_._1).map { case (v, es) => v -> es.toSeq.map(_._2) }
    var lbl = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      lbl = adj.map { case (v, ns) =>
        val counts = ns.map(lbl).groupBy(identity).map { case (l, xs) => l -> xs.size }
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lbl
  }

  test("labelPropagation: two cliques with one bridge — labels converge per clique") {
    import spark.implicits._
    // K4 on 1..4, K4 on 10..13, single bridge 4-10
    val a = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val b = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val es = (a ++ b :+ (4L, 10L)).toSet
    val got = Graphs.labelPropagation(edgesDf(es.toSeq), iterations = 3)
      .as[(Long, Long, Long)].collect().toSet
    val brute = bruteLpa(es, 3)
    assert(got.map(r => r._1 -> r._2).toMap == brute)
    // every node in clique A converges to label 1; clique B to label 10
    assert((1L to 4L).forall(v => brute(v) == 1L))
    assert((10L to 13L).forall(v => brute(v) == 10L))
    // label_size column is the label's population
    assert(got.filter(_._2 == 1L).forall(_._3 == got.count(_._2 == 1L).toLong))
  }

  test("labelPropagation: equals the sequential replay on a random graph; checkpoint invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(1301)
    val es = (1 to 100).map(_ => (rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val got = Graphs.labelPropagation(edgesDf(es.toSeq), iterations = 4)
      .as[(Long, Long, Long)].collect().map { case (n, l, _) => n -> l }.toMap
    assert(got == bruteLpa(es, 4))
    val ck = Graphs.labelPropagation(edgesDf(es.toSeq), iterations = 4,
      checkpointEvery = 2).as[(Long, Long, Long)].collect()
      .map { case (n, l, _) => n -> l }.toMap
    assert(ck == got)
  }

  test("copurchaseCommunities: two disjoint cliques -> two components, min-id labels") {
    import spark.implicits._
    // community A: items 1,2,3 pairwise co-bought twice; community B: 10,11
    val baskets = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 10L), (3L, 11L),
      (4L, 10L), (4L, 11L),
      // below support: a bridge bought together only once must NOT merge them
      (5L, 3L), (5L, 10L)).toDF("basket_id", "item_id")
    val got = Graphs.copurchaseCommunities(spark, baskets)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L)))
  }

  test("kCore: a tail chain peels one node per round; the clique survives") {
    import spark.implicits._
    // 4-clique {1,2,3,4} with a path 4-5-6-7 hanging off it. At k=2 the
    // path peels from the END one node per round: 7 (deg 1) in round 1,
    // then 6, then 5. The clique (all degrees 3) never peels.
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val path = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val es = edgesDf(clique ++ path)
    def nodes(rounds: Int) =
      Graphs.kCore(es, k = 2, rounds = rounds)
        .as[(Long, Long)].collect().toMap
    val r1 = nodes(1)
    assert(!r1.contains(7L) && r1.contains(6L) && r1.contains(5L))
    val r2 = nodes(2)
    assert(!r2.contains(6L) && r2.contains(5L))
    val r3 = nodes(3)
    // converged: only the clique remains, every degree 3 (4 still has
    // its 3 clique neighbors after losing node 5)
    assert(r3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // further rounds are no-ops after convergence
    assert(nodes(6) == r3)
  }

  test("kCore: core degrees are measured INSIDE the surviving subgraph") {
    import spark.implicits._
    // triangle {1,2,3} plus spokes 1-10, 2-11: at k=2 the spokes peel
    // and the triangle's degrees drop from (3,3,2) to (2,2,2)
    val es = edgesDf(Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 10L), (2L, 11L)))
    val got = Graphs.kCore(es, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // the default per-round checkpoint is answer-invariant vs the
    // fully unrolled plan (lineage/physical only)
    val unrolled = Graphs.kCore(es, k = 2, rounds = 3, checkpointEvery = 0)
      .as[(Long, Long)].collect().toMap
    assert(unrolled == got)
  }

  test("kCore: k above the max degree empties the graph") {
    import spark.implicits._
    val es = edgesDf(Seq((1L, 2L), (2L, 3L)))
    assert(Graphs.kCore(es, k = 3, rounds = 2).count() == 0L)
  }

  test("hits: hand-computed star fixture — broad hub and popular authority win") {
    import spark.implicits._
    // 1 -> {2, 3}, 4 -> {2}. Iteration 1 by hand (Scale = 1e6):
    // a_raw(2) = 2e6, a_raw(3) = 1e6; mx 2e6 -> divisor 2 ->
    //   a(2) = 1e6, a(3) = 5e5, a(1) = a(4) = 0.
    // h_raw(1) = a(2)+a(3) = 1.5e6, h_raw(4) = 1e6; mx 1.5e6 ->
    //   divisor 2 -> h(1) = 75e4, h(4) = 5e5, h(2) = h(3) = 0.
    val es = edgesDf(Seq((1L, 2L), (1L, 3L), (4L, 2L)))
    val got = Graphs.hits(es, iterations = 1)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((750000L, 0L)), 4L -> ((500000L, 0L)),
      2L -> ((0L, 1000000L)), 3L -> ((0L, 500000L))))
  }

  /** The documented HITS iteration, replayed sequentially in Scala. */
  private def hitsReplay(es: Seq[(Long, Long)], iterations: Int): Map[Long, (Long, Long)] = {
    val e = es.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val mx = raw.values.max
      val d = (mx + Graphs.Scale - 1) / Graphs.Scale
      nodes.map(n => n -> raw.getOrElse(n, 0L) / d).toMap
    }
    var h = nodes.map(_ -> Graphs.Scale).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to iterations) {
      a = norm(e.groupBy(_._2).map { case (n, in) => n -> in.map(x => h(x._1)).sum })
      h = norm(e.groupBy(_._1).map { case (n, out) => n -> out.map(x => a(x._2)).sum })
    }
    nodes.map(n => n -> ((h(n), a(n)))).toMap
  }

  test("hits: equals the sequential replay on a random graph; checkpoint invariant") {
    import spark.implicits._
    val rng = new scala.util.Random(45)
    val es = Seq.fill(60)((rng.nextInt(12).toLong, 12L + rng.nextInt(8))).distinct
    val expected = hitsReplay(es, 3)
    val got = Graphs.hits(edgesDf(es), iterations = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expected)
    val ck = Graphs.hits(edgesDf(es), iterations = 3, checkpointEvery = 1)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(ck == expected)
  }

  test("copurchaseEdges: a runaway basket is dropped by the cap; small baskets unaffected") {
    import spark.implicits._
    // two honest baskets witnessing (1,2) twice, plus a 6-item bot
    // basket that would fabricate 15 pairs
    val honest = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
    val bot = (10L to 15L).map(i => (99L, i))
    val baskets = (honest ++ bot).toDF("basket_id", "item_id")
    val capped = Graphs.copurchaseEdges(baskets, minSupport = 1L, maxBasketItems = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L, 2L)))
    // candidate volume: honest pairs only under the cap; 1 + 15 without
    assert(Graphs.copurchaseCandidates(baskets, maxBasketItems = 5).count() == 2L)
    assert(Graphs.copurchaseCandidates(baskets, maxBasketItems = 6).count() == 17L)
    // the default cap (1024) leaves every small-basket answer untouched
    val dflt = Graphs.copurchaseEdges(baskets, minSupport = 1L)
      .as[(Long, Long, Long)].collect().toSet
    assert(dflt.contains((1L, 2L, 2L)) && dflt.size == 16)
  }

  test("kCore: early exit stops at the fixed point with the full-unroll answer") {
    import spark.implicits._
    // K4 on 1..4 plus a single pendant 5-1: round 1 deletes node 5,
    // round 2 deletes nothing -> converged; rounds 3..6 must not run
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (5L, 1L))
    val (coreDf, executed) = Graphs.kCorePeeled(edgesDf(es), k = 3, rounds = 6,
      checkpointEvery = 1)
    val core = coreDf.as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(executed == 2, s"expected convergence after round 2, ran $executed")
    // the lazy unrolled plan (no early exit) agrees
    val unrolled = Graphs.kCore(edgesDf(es), k = 3, rounds = 6, checkpointEvery = 0)
      .as[(Long, Long)].collect().toMap
    assert(unrolled == core)
    // an already-converged input exits after one confirming round
    val (_, e2) = Graphs.kCorePeeled(edgesDf(es.take(6)), k = 3, rounds = 6,
      checkpointEvery = 1)
    assert(e2 == 1)
  }

  /** The documented d147 semantics, sequentially: contributions weight
    * -proportional with a single floor division per edge. */
  private def bruteWeightedPR(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    val wout = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val n = nodes.size.toLong
    var rank = nodes.map(_ -> Graphs.Scale).toMap
    for (_ <- 1 to iters) {
      val inbound = nodes.map(v => v ->
        edges.filter(_._2 == v).map { case (m, _, w) =>
          if (wout.getOrElse(m, 0L) > 0L) rank(m) * w / wout(m) else 0L
        }.sum).toMap
      val dangling = rank.collect { case (m, r) if wout.getOrElse(m, 0L) == 0L => r }.sum
      rank = nodes.map(v =>
        v -> (15L * Graphs.Scale / 100L + 85L * (inbound(v) + dangling / n) / 100L)).toMap
    }
    rank
  }

  test("weightedPageRank: equals the sequential replay; weight skew shifts rank") {
    import spark.implicits._
    // 1 splits its mass 9:1 between 2 and 3; 2,3 return to 1; 4 dangles
    val es = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L), (1L, 4L, 2L))
    val got = Graphs.weightedPageRank(es.toDF("src", "dst", "weight"), iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == bruteWeightedPR(es, 3))
    // the heavy-edge target outranks the light one
    assert(got(2L) > got(3L))
  }

  test("weightedPageRank: uniform weights reproduce pageRank exactly; checkpoint invariant") {
    import spark.implicits._
    // floor((r*w)/(w*outdeg)) == floor(r/outdeg) for any uniform w > 0,
    // so the weighted walk on constant weights IS the unweighted one
    val rnd = new scala.util.Random(31)
    val es = (1 to 70).map(_ => (rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
      .filter { case (a, b) => a != b }.distinct
    val uniform = es.map { case (a, b) => (a, b, 7L) }
    val weighted = Graphs.weightedPageRank(uniform.toDF("src", "dst", "weight"),
      iterations = 3).as[(Long, Long)].collect().toMap
    val plain = Graphs.pageRank(edgesDf(es), iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(weighted == plain)
    val ck = Graphs.weightedPageRank(uniform.toDF("src", "dst", "weight"),
      iterations = 3, checkpointEvery = 1).as[(Long, Long)].collect().toMap
    assert(ck == weighted)
  }

  test("shortestPaths: weighted shortcut beats the direct edge; bound truncates; islands excluded") {
    import spark.implicits._
    // 1-2 costs 10 direct, but 1-3-2 costs 3+3=6; island 8-9 unreachable
    val es = Seq((1L, 2L, 10L), (1L, 3L, 3L), (3L, 2L, 3L), (8L, 9L, 1L))
    val src = Seq(1L).toDF("node")
    val got = Graphs.shortestPaths(es.toDF("src", "dst", "cost"), src, maxRounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 3L -> 3L, 2L -> 6L))
    // maxRounds = 1: only 1-edge paths — the direct cost stands
    val one = Graphs.shortestPaths(es.toDF("src", "dst", "cost"), src, maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(one == Map(1L -> 0L, 2L -> 10L, 3L -> 3L))
    // undirected: reachable from the other endpoint too
    val fromTwo = Graphs.shortestPaths(es.toDF("src", "dst", "cost"),
      Seq(2L).toDF("node"), maxRounds = 4).as[(Long, Long)].collect().toMap
    assert(fromTwo == Map(2L -> 0L, 3L -> 3L, 1L -> 6L))
  }

  test("shortestPaths and hopDistance ignore out-of-graph seed ids") {
    import spark.implicits._
    val es = Seq((1L, 2L))
    val seeds = Seq(1L, 777L).toDF("node") // 777 is not in the graph
    val hops = Graphs.hopDistance(edgesDf(es), seeds, maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(hops == Map(1L -> 0L, 2L -> 1L)) // no phantom 777 row
    val dist = Graphs.shortestPaths(Seq((1L, 2L, 5L)).toDF("src", "dst", "cost"),
      seeds, maxRounds = 2).as[(Long, Long)].collect().toMap
    assert(dist == Map(1L -> 0L, 2L -> 5L))
  }

  test("personalizedPageRank: an empty effective source set yields all-zero ranks, no crash") {
    import spark.implicits._
    val es = Seq((1L, 2L), (2L, 3L))
    val got = Graphs.personalizedPageRank(edgesDf(es), Seq(777L).toDF("node"),
      iterations = 2).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("neighborhoodExact: path graph balls by hand") {
    import spark.implicits._
    // path 1-2-3-4: ball_1(2) = {1,2,3} = 3; ball_2(1) = {1,2,3} = 3
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val got = Graphs.neighborhoodExact(edgesDf(es), radius = 2)
      .as[(Long, Long, Long)].collect()
      .map { case (n, r, b) => (n, r) -> b }.toMap
    assert(got((1L, 0L)) == 1L && got((2L, 0L)) == 1L)
    assert(got((1L, 1L)) == 2L && got((2L, 1L)) == 3L && got((3L, 1L)) == 3L)
    assert(got((1L, 2L)) == 3L && got((2L, 2L)) == 4L && got((4L, 2L)) == 3L)
  }

  test("hyperBall: estimates are EXACT on small balls and bound-checked against the closure") {
    import spark.implicits._
    // two 6-cliques bridged by one edge — ball sizes ≤ 12, far below the
    // HLL sparse-mode threshold, so estimates must equal the exact counts
    val c1 = for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)
    val c2 = for (a <- 11L to 16L; b <- (a + 1) to 16L) yield (a, b)
    val es = c1 ++ c2 ++ Seq((6L, 11L))
    val est = Graphs.hyperBall(edgesDf(es), radius = 2)
      .as[(Long, Long, Long)].collect().map { case (n, r, b) => (n, r) -> b }.toMap
    val exact = Graphs.neighborhoodExact(edgesDf(es), radius = 2)
      .as[(Long, Long, Long)].collect().map { case (n, r, b) => (n, r) -> b }.toMap
    assert(est == exact)
    // the registered-gate projection: every row within bound
    val bound = Graphs.hyperBallBound(edgesDf(es), radius = 2)
    assert(bound.where(!col("within_bound")).count() == 0L)
    assert(bound.count() == exact.size.toLong)
  }

  test("localClustering: K4 with a pendant — hand-computed per-node counts and ppm") {
    import spark.implicits._
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (5L, 1L))
    val got = Graphs.localClustering(edgesDf(es))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // node 1: degree 4 (K4 + pendant), 3 triangles, 2·3·1e6/(4·3) = 500000
    assert(got(1L) == ((4L, 3L, 500000L)))
    // nodes 2-4: degree 3, 3 triangles each, 2·3·1e6/(3·2) = 1000000
    Seq(2L, 3L, 4L).foreach(n => assert(got(n) == ((3L, 3L, 1000000L))))
    // the pendant: degree 1, no triangles, ppm 0 by the deg<2 rule
    assert(got(5L) == ((1L, 0L, 0L)))
    // corner attribution is conservative: 3 × total triangles
    assert(got.values.map(_._2).sum == 3L * 4L)
  }

  test("localClustering: per-node counts match a brute force on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(2209)
    val es = (1 to 120).map(_ => (rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).toSet }
    val verts = adj.keys.toSeq.sorted
    val brute = verts.map { v =>
      val ns = adj(v).toSeq.sorted
      v -> (for { i <- ns; j <- ns if j > i && adj(i)(j) } yield 1).size.toLong
    }.toMap
    val got = Graphs.localClustering(edgesDf(es))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(r => r._1 -> r._3).toMap == brute)
    got.foreach { case (v, d, t, ppm) =>
      assert(d == adj(v).size.toLong)
      assert(ppm == (if (d >= 2) 2L * t * 1000000L / (d * (d - 1)) else 0L))
    }
  }

  test("degreeAssortativity: a star is perfectly disassortative (r = -1)") {
    import spark.implicits._
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val row = Graphs.degreeAssortativity(edgesDf(es)).collect()(0)
    // sym has 6 rows; center deg 3 pairs with leaf deg 1 in every edge:
    // m=6, Σdx=12, Σdxdy=18, Σdx²=30 -> r = (108-144)/(180-144) = -1
    assert(row.getAs[Long]("m") == 6L && row.getAs[Long]("sum_dx") == 12L)
    assert(row.getAs[Long]("sum_dxdy") == 18L && row.getAs[Long]("sum_dx2") == 30L)
    assert(row.getAs[Double]("assortativity") == -1.0)
  }

  /** The documented d157 selection, sequentially: 60-bit md5 of
    * "start|walk|step|node" modulo degree indexes the id-ordered
    * neighbor list. */
  private def bruteWalks(edges: Seq[(Long, Long)], walksPerNode: Int,
      steps: Int): Set[(Long, Long, Long, Long)] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
      .groupBy(_._1).map { case (u, ns) => u -> ns.map(_._2).sorted }
    val md = java.security.MessageDigest.getInstance("MD5")
    def pick(start: Long, walk: Long, step: Long, node: Long): Long = {
      val hex = md.digest(s"$start|$walk|$step|$node".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      val h = java.lang.Long.parseLong(hex, 16)
      val ns = adj(node)
      ns((h % ns.size).toInt)
    }
    (for {
      start <- adj.keys.toSeq
      walk <- 0L until walksPerNode.toLong
    } yield {
      var node = start
      (0L to steps.toLong).map { step =>
        val row = (start, walk, step, node)
        if (step < steps) node = pick(start, walk, step, node)
        row
      }
    }).flatten.toSet
  }

  test("randomWalks: equals the sequential md5 replay; every hop is an edge") {
    import spark.implicits._
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val got = Graphs.randomWalks(edgesDf(es), walksPerNode = 2, steps = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == bruteWalks(es, 2, 3))
    // structural: 5 nodes × 2 walks × 4 positions
    assert(got.size == 5 * 2 * 4)
    // every consecutive transition is a real edge
    val undirected = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val byWalk = got.groupBy(r => (r._1, r._2))
    byWalk.values.foreach { rows =>
      rows.toSeq.sortBy(_._3).map(_._4).sliding(2).foreach {
        case Seq(a, b) => assert(undirected((a, b)), s"phantom hop $a -> $b")
        case _ =>
      }
    }
    // determinism: a second evaluation is identical
    val again = Graphs.randomWalks(edgesDf(es), walksPerNode = 2, steps = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(again == got)
  }

  test("walkSkipGrams: hand-computed window pairs with multiplicity") {
    import spark.implicits._
    // one walk 1 -> 2 -> 1, one walk 9 -> 8 (different start)
    val walks = Seq(
      (1L, 0L, 0L, 1L), (1L, 0L, 1L, 2L), (1L, 0L, 2L, 1L),
      (9L, 0L, 0L, 9L), (9L, 0L, 1L, 8L))
      .toDF("start_node", "walk", "step", "node")
    val got = Graphs.walkSkipGrams(walks, window = 2)
      .as[(Long, Long, Long)].collect().toSet
    // walk 1: positions (1@0, 2@1, 1@2) — window 2 pairs every pair:
    // (1,2)×2 each direction, (1,1)×2 (the step-0/step-2 revisit)
    // walk 9: (9,8) and (8,9) once each
    assert(got == Set(
      (1L, 2L, 2L), (2L, 1L, 2L), (1L, 1L, 2L),
      (9L, 8L, 1L), (8L, 9L, 1L)))
    // window 1 drops the distance-2 revisit pair
    val w1 = Graphs.walkSkipGrams(walks, window = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(w1 == Set((1L, 2L, 2L), (2L, 1L, 2L), (9L, 8L, 1L), (8L, 9L, 1L)))
  }

  test("effectiveDiameter: hand-computed threshold pick; estimator path agrees") {
    import spark.implicits._
    // path 1-2-3-4-5: exact balls sum to 5 (r0), 13 (r1), 19 (r2);
    // 90% of 19 = 17.1 -> eff diameter 2 at q=0.9, 1 at q=0.5 (13 >= 9.5)
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val nf = Graphs.neighborhoodExact(edgesDf(es), radius = 2)
    val row = Graphs.effectiveDiameter(nf).collect()(0)
    assert(row.getAs[Long]("radius_cap") == 2L)
    assert(row.getAs[Long]("total_pairs") == 19L)
    assert(row.getAs[Long]("eff_diameter") == 2L)
    assert(row.getAs[Long]("pairs_at_eff") == 19L)
    val half = Graphs.effectiveDiameter(nf, qPpm = 500000L).collect()(0)
    assert(half.getAs[Long]("eff_diameter") == 1L &&
      half.getAs[Long]("pairs_at_eff") == 13L)
    // the production composition — HyperBall-fed — agrees below
    // sparse-mode scale (sketches exact on tiny balls)
    val est = Graphs.effectiveDiameter(
      Graphs.hyperBall(edgesDf(es), radius = 2)
        .withColumnRenamed("est_ball", "ball")).collect()(0)
    assert(est == row)
  }

  test("biasedWalks: p=q=1 reproduces randomWalks bit-for-bit") {
    // K4 plus a tail — mixed degrees so several pick ranges exercise
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val uni = Graphs.randomWalks(edgesDf(es), walksPerNode = 2, steps = 4)
      .collect().toSet
    val bia = Graphs.biasedWalks(edgesDf(es), walksPerNode = 2, steps = 4,
      wReturn = 1, wIn = 1, wOut = 1).collect().toSet
    assert(bia == uni)
    // r13 advice: the claim must hold for ANY equal triple, not just
    // 1,1,1 — the gcd reduction maps (3,3,3) to unit slots, so the
    // same md5 values address the same picks ((3,3,3) WITHOUT the
    // reduction would pick floor((h mod 3*deg)/3) != h mod deg)
    val bia3 = Graphs.biasedWalks(edgesDf(es), walksPerNode = 2, steps = 4,
      wReturn = 3, wIn = 3, wOut = 3).collect().toSet
    assert(bia3 == uni)
    // ratio-equivalence generally: (2,8,4) walks are (1,4,2) walks
    val w142 = Graphs.biasedWalks(edgesDf(es), walksPerNode = 2, steps = 4,
      wReturn = 1, wIn = 4, wOut = 2).collect().toSet
    val w284 = Graphs.biasedWalks(edgesDf(es), walksPerNode = 2, steps = 4,
      wReturn = 2, wIn = 8, wOut = 4).collect().toSet
    assert(w284 == w142)
  }

  test("walkEmbeddings: a divergent learning rate is rejected, not saturated") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 3L), (2L, 1L, 3L)).toDF("center", "context", "n_pairs")
    // lr >= 1 diverges (terms blow up geometrically and the 1e-6 long
    // quantization would saturate engine-specifically) — refused up front
    val e = intercept[IllegalArgumentException] {
      Graphs.walkEmbeddings(pairs, dim = 2, iters = 1, lrNum = 10, lrDen = 1)
    }
    assert(e.getMessage.contains("lrNum < lrDen"))
    assertThrows[IllegalArgumentException] {
      Graphs.walkEmbeddings(pairs, dim = 2, iters = 1, lrNum = 1, lrDen = 1)
    }
  }

  test("biasedWalks: extreme weights steer the second step as published") {
    import spark.implicits._
    // path 1-2-3: from start 1, step 1 must go to 2 (only neighbor);
    // at 2 with prev=1 the choices are return (1) or explore (3)
    val path = edgesDf(Seq((1L, 2L), (2L, 3L)))
    def stepTwoFrom1(wr: Int, wi: Int, wo: Int): Long =
      Graphs.biasedWalks(path, walksPerNode = 1, steps = 2,
          wReturn = wr, wIn = wi, wOut = wo)
        .where(col("start_node") === 1L && col("step") === 2L)
        .as[(Long, Long, Long, Long)].collect()(0)._4
    assert(stepTwoFrom1(1000000, 1, 1) == 1L) // overwhelming return weight
    assert(stepTwoFrom1(1, 1, 1000000) == 3L) // overwhelming explore weight
    // triangle 1-2-3: at 2 with prev=1, node 3 IS adjacent to prev —
    // overwhelming wIn picks it over returning
    val tri = edgesDf(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    val got = Graphs.biasedWalks(tri, walksPerNode = 1, steps = 2,
        wReturn = 1, wIn = 1000000, wOut = 1)
      .where(col("start_node") === 1L && col("step") === 2L)
      .as[(Long, Long, Long, Long)].collect()(0)
    assert(got._4 != 1L) // never backtracks to the start
  }

  test("walkEmbeddings: descent reduces loss; planted communities separate") {
    import spark.implicits._
    // two K4 cliques bridged by one edge — walks mostly stay inside a
    // clique, so intra-clique pairs dominate the skip-gram corpus
    val cliqueA = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val cliqueB = Seq((5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L))
    val es = edgesDf(cliqueA ++ cliqueB :+ ((4L, 5L)))
    val pairs = Graphs.walkSkipGrams(
      Graphs.randomWalks(es, walksPerNode = 6, steps = 4), window = 2)
      .localCheckpoint()
    def embMap(iters: Int): Map[Long, Array[Double]] =
      Graphs.walkEmbeddings(pairs, dim = 4, iters = iters, lrNum = 1, lrDen = 10)
        .collect().map(r => r.getLong(0) ->
          (1 to 4).map(r.getDouble).toArray).toMap
    def loss(u: Map[Long, Array[Double]]): Double =
      pairs.as[(Long, Long, Long)].collect().map { case (c, x, n) =>
        val dot = u(c).zip(u(x)).map { case (a, b) => a * b }.sum
        val s = math.log(1.0 + n)
        (dot - s) * (dot - s)
      }.sum
    val u0 = embMap(0)
    val u = embMap(40)
    assert(loss(u) < loss(u0), "descent must reduce the squared loss")
    // separation: mean intra-community dot exceeds mean inter dot
    val a = (1L to 4L).toSeq; val b = (5L to 8L).toSeq
    def dot(p: Long, q: Long) =
      u(p).zip(u(q)).map { case (m, n) => m * n }.sum
    val intra = (for { p <- a; q <- a if p < q } yield dot(p, q)) ++
      (for { p <- b; q <- b if p < q } yield dot(p, q))
    val inter = for { p <- a; q <- b } yield dot(p, q)
    assert(intra.sum / intra.size > inter.sum / inter.size,
      s"intra ${intra.sum / intra.size} should exceed inter ${inter.sum / inter.size}")
  }

  test("warm-start weighted PageRank: same fixed point, fewer rounds after an append") {
    import spark.implicits._
    // a skewed weighted fixture whose truncating iteration reaches an
    // EXACT integer fixed point (not every small graph does — floor
    // interactions can 2-cycle; this one was searched offline to
    // converge in all three phases): cold-before 42 rounds, cold-after
    // 47, warm-after 43
    val before = Seq((2L, 3L, 3L), (1L, 3L, 7L), (3L, 4L, 9L), (1L, 4L, 2L))
      .toDF("src", "dst", "weight")
    def sym(e: org.apache.spark.sql.DataFrame) =
      e.union(e.select(col("dst"), col("src"), col("weight")))
        .toDF("src", "dst", "weight")
    val (r0, rounds0) = Graphs.weightedPageRankConverged(sym(before), None, 80)
    assert(rounds0 < 80, "phase 1 must reach its exact integer fixed point")
    val r0c = r0.localCheckpoint()

    // append a modest local perturbation (one new node, one new edge)
    val after = before.union(Seq((3L, 5L, 1L)).toDF("src", "dst", "weight"))
    val (cold, roundsCold) =
      Graphs.weightedPageRankConverged(sym(after), None, 80)
    val (warm, roundsWarm) =
      Graphs.weightedPageRankConverged(sym(after), Some(r0c), 80)
    assert(roundsCold < 80 && roundsWarm < 80)
    // identical fixed point — warm-start changes the path, not the answer
    val coldM = cold.as[(Long, Long)].collect().toMap
    val warmM = warm.as[(Long, Long)].collect().toMap
    assert(warmM == coldM, s"warm $warmM vs cold $coldM")
    // and it gets there in strictly fewer rounds
    assert(roundsWarm < roundsCold,
      s"warm $roundsWarm rounds must beat cold $roundsCold")

    // the bounded-iteration operator agrees with itself: N warm
    // iterations from the fixed point ARE the fixed point
    val again = Graphs.weightedPageRankFrom(sym(after), warm.localCheckpoint(),
      iterations = 3, checkpointEvery = 1)
    assert(again.as[(Long, Long)].collect().toMap == warmM)
  }

  test("embeddingRelated: planted same-community nodes dominate the top-k") {
    import spark.implicits._
    // the walkEmbeddings separation fixture: two K4 cliques, one bridge
    val cliqueA = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val cliqueB = Seq((5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L))
    val es = edgesDf(cliqueA ++ cliqueB :+ ((4L, 5L)))
    val emb = Graphs.walkEmbeddings(
      Graphs.walkSkipGrams(
        Graphs.randomWalks(es, walksPerNode = 6, steps = 4), window = 2),
      dim = 4, iters = 40, lrNum = 1, lrDen = 10).localCheckpoint()
    val top3 = Graphs.embeddingRelated(emb, k = 3)
      .select(col("node"), col("rel_id"))
      .as[(Long, Long)].collect()
    assert(top3.length == 8 * 3)
    def community(n: Long) = if (n <= 4L) 0 else 1
    val same = top3.count { case (n, r) => community(n) == community(r) }
    val cross = top3.length - same
    // each node has 3 same-community and 4 cross-community candidates:
    // random embeddings would put ~1.7 cross in every top-3; trained
    // ones must let same-community dominate overall AND per node
    assert(same > cross, s"same=$same cross=$cross")
    val perNode = top3.groupBy(_._1).map { case (n, rs) =>
      rs.count { case (_, r) => community(r) == community(n) } }
    assert(perNode.forall(_ >= 2),
      s"every node's top-3 must be majority same-community: $perNode")
    // the cosine column is on the 1e-6-rounded grid (hash-gate shape)
    val cosines = Graphs.embeddingRelated(emb, k = 3)
      .select(col("cosine")).as[Double].collect()
    assert(cosines.forall(c => c >= -1.0000005 && c <= 1.0000005))
    assert(cosines.forall(c => (math.rint(c * 1e6) - c * 1e6).abs < 1e-6))
    // the TopKAgg path preserves the oracle's rank contract: per node,
    // ranks are exactly 1..k, cosine non-increasing in rank, ties to
    // the lower rel_id (what the window variant it replaced computed)
    val ranked = Graphs.embeddingRelated(emb, k = 3)
      .as[(Long, Long, Double, Long)].collect().groupBy(_._1)
    ranked.foreach { case (n, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to 3L), s"node $n ranks")
      sorted.sliding(2).foreach {
        case Array((_, idA, cosA, _), (_, idB, cosB, _)) =>
          assert(cosA > cosB || (cosA == cosB && idA < idB),
            s"node $n order violated: ($idA,$cosA) before ($idB,$cosB)")
        case _ => ()
      }
    }
  }

  test("embeddingRelated: kernel output equals the legacy BNLJ + TopKAgg pipeline on randomized grids") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    // the r19 kernel swap (partition-local primitive loop + contender-
    // gated round6) must reproduce the replaced Catalyst pipeline
    // bit-for-bit: same exact-long dot, same sqrt/divide, Catalyst's
    // HALF_UP decimal rounding, (sim DESC, id ASC) ties, −0.0 → 0.0.
    // Sweep: deterministic pseudo-random unit-grid embeddings with
    // negatives, duplicates (forced cosine ties), zero-norm rows, and
    // near-boundary values; several dims and k's, including k > n−1.
    def legacy(emb: org.apache.spark.sql.DataFrame, k: Int) = {
      val cols = emb.columns
      val dims = cols.tail
      val u = emb.select(
        (col(cols.head).as("node") +:
          dims.zipWithIndex.map { case (c, j) =>
            round(col(c) * 1000000.0, 0).cast(LongType).as(s"u$j") }) :+
          dims.indices.map(j =>
            round(col(dims(j)) * 1000000.0, 0).cast(LongType) *
              round(col(dims(j)) * 1000000.0, 0).cast(LongType))
            .reduce(_ + _).as("norm2"): _*)
        .where(col("norm2") > 0L)
        .localCheckpoint()
      val a = u.toDF(("node" +: dims.indices.map(j => s"a$j")) :+ "qa": _*)
      val b = u.toDF(("rel_id" +: dims.indices.map(j => s"b$j")) :+ "qb": _*)
      val dot = dims.indices.map(j => col(s"a$j") * col(s"b$j")).reduce(_ + _)
      val topk = udaf(new graft.ops.TopKAgg(k))
      a.join(b, col("node") =!= col("rel_id"))
        .select(col("node"), col("rel_id"),
          round(dot.cast(DoubleType) /
            (sqrt(col("qa").cast(DoubleType)) * sqrt(col("qb").cast(DoubleType))),
            6).as("cosine"))
        .groupBy(col("node"))
        .agg(topk(col("cosine"), col("rel_id")).as("t"))
        .select(col("node"),
          posexplode(arrays_zip(col("t.sims"), col("t.ids"))).as(Seq("pos", "z")))
        .select(col("node"), col("z.ids").as("rel_id"),
          col("z.sims").as("cosine"),
          (col("pos") + 1).cast(LongType).as("rank"))
    }
    // md5-style deterministic coins so the sweep replays identically
    def coin(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(d).getLong
    }
    for ((n, dim, k, seed) <- Seq((23, 3, 3, "a"), (40, 4, 5, "b"),
        (7, 2, 9, "c"), (31, 5, 1, "d"))) {
      val rows = (1L to n.toLong).map { id =>
        val es = (0 until dim).map { j =>
          val h = coin(s"$seed-$id-$j")
          // unit grid in [−0.02, 0.02], ~1/8 exact zeros, a few
          // duplicate vectors (id mod 5 reuses id−5's coins upstream)
          val base = if (id > 5 && id % 5 == 0) coin(s"$seed-${id - 5}-$j") else h
          val v = (math.floorMod(base, 40001L) - 20000L)
          if (math.floorMod(base >> 8, 8L) == 0L) 0.0 else v / 1e6
        }
        (id, es)
      }
      // one guaranteed all-zero (zero-norm) row rides along
      val withZero = rows :+ ((n + 1).toLong, Seq.fill(dim)(0.0))
      val emb = withZero.map { case (id, es) =>
        org.apache.spark.sql.Row.fromSeq(id +: es) }
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("node", LongType, false) +:
          (0 until dim).map(j =>
            org.apache.spark.sql.types.StructField(s"e$j", DoubleType, false)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(emb, 3), schema)
      val got = Graphs.embeddingRelated(df, k = k)
        .as[(Long, Long, Double, Long)].collect().toSet
      val want = legacy(df, k)
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(got == want,
        s"kernel != legacy at n=$n dim=$dim k=$k: " +
          s"only-kernel=${(got -- want).take(5)} only-legacy=${(want -- got).take(5)}")
      // and the kernel's doubles carry no −0.0 (the TopKAgg insert rule)
      assert(got.forall { case (_, _, c, _) =>
        !(c == 0.0 && (1.0 / c) < 0) })
    }
  }

  test("embeddingRelated: refuses a corpus over maxNodes and names the served sibling") {
    import spark.implicits._
    val emb = Seq((1L, 0.5, 0.1), (2L, 0.4, 0.2), (3L, 0.1, 0.6))
      .toDF("node", "e0", "e1")
    // the r15 hardening: the N^2 baseline must be chosen, not reached
    // by a scale-up accident — the refusal steers to the served sibling
    val err = intercept[IllegalArgumentException] {
      Graphs.embeddingRelated(emb, k = 1, maxNodes = 2L)
    }
    assert(err.getMessage.contains("embeddingRelatedAnn"))
    // the explicit override runs the quadratic baseline as declared
    assert(Graphs.embeddingRelated(emb, k = 1, maxNodes = 3L)
      .count() == 3L)
  }

  test("embeddingRelatedAnn: degenerate knobs recover the exact top-k; production knobs keep recall") {
    import spark.implicits._
    val cliqueA = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val cliqueB = Seq((5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L))
    val es = edgesDf(cliqueA ++ cliqueB :+ ((4L, 5L)))
    val emb = Graphs.walkEmbeddings(
      Graphs.walkSkipGrams(
        Graphs.randomWalks(es, walksPerNode = 6, steps = 4), window = 2),
      dim = 4, iters = 40, lrNum = 1, lrDen = 10).localCheckpoint()
    val exact = Graphs.embeddingRelated(emb, k = 3)
      .select(col("node"), col("rel_id"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    // degenerate geometry (probes >= cells = every vector is a
    // candidate, the d33 convention): the ANN path must reproduce
    // the exact neighbor SETS (order may differ only where the exact
    // path's 1e-6 rounding ties raw cosines — compare sets, not ranks)
    val degen = Graphs.embeddingRelatedAnn(emb, k = 3,
        kCells = 2, probes = 2)
      .select(col("node"), col("rel_id"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(degen.keySet == exact.keySet)
    // sum via iterator: .keys.map(...) would collapse equal per-node
    // sizes into a Set before the sum
    val agree = exact.keysIterator.map(n => (degen(n) & exact(n)).size).sum
    val total = exact.valuesIterator.map(_.size).sum
    assert(agree * 10 >= total * 9,
      s"degenerate-knob recall $agree/$total must be >= 0.9")
    // production knobs: bounded recall vs the exact baseline (the
    // d08/d17 discipline — approximate by candidate coverage only)
    val ann = Graphs.embeddingRelatedAnn(emb, k = 3)
      .select(col("node"), col("rel_id"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val annAgree = exact.keysIterator
      .map(n => (ann.getOrElse(n, Set.empty[Long]) & exact(n)).size).sum
    assert(annAgree * 3 >= total * 2,
      s"production-knob recall $annAgree/$total must be >= 2/3")
  }

  test("refineCommunities: fixes a planted mislabel; never scores below LPA on the fixture") {
    import spark.implicits._
    // two unit-weight triangles bridged by one edge (the d161 fixture)
    val es = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
      (4L, 5L, 1L), (4L, 6L, 1L), (5L, 6L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "weight")
    def q(assign: org.apache.spark.sql.DataFrame): Double =
      Graphs.modularity(es, assign).collect()(0).getDouble(3)

    // planted NOISY split: node 3 mislabeled into the right triangle's
    // community — hand-check: G(move to A) = m2·k3A − k3·totA
    // = 14·2 − 3·4 = 16 > G(stay) = 14·1 − 3·(10−3) = −7, node 3 is odd
    // so round 1 (parity 1) moves it; Q must STRICTLY improve
    val noisy = Seq((1L, 1L), (2L, 1L), (3L, 4L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("node", "community")
    val refined = Graphs.refineCommunities(es, noisy, rounds = 2)
    val got = refined.as[(Long, Long)].collect().toMap
    assert(got(3L) == 1L, s"node 3 must move back to the left triangle: $got")
    assert(q(refined) > q(noisy), "refinement must strictly improve the planted split")
    // and it lands ON the known-optimal natural split (Q = 0.357143)
    assert(q(refined) == 0.357143)

    // seeded from LPA (the registered d170 composition): never worse
    val lpa = Graphs.labelPropagation(es.select(col("src"), col("dst")),
        iterations = 3, checkpointEvery = 1)
      .select(col("node"), col("label").as("community")).localCheckpoint()
    val refinedLpa = Graphs.refineCommunities(es, lpa, rounds = 2)
    assert(q(refinedLpa) >= q(lpa),
      s"Q(refined)=${q(refinedLpa)} must be >= Q(LPA)=${q(lpa)}")

    // an already-optimal assignment is a fixed point (no zero-gain churn:
    // moves require STRICT improvement)
    val optimal = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("node", "community")
    assert(Graphs.refineCommunities(es, optimal, rounds = 2)
      .as[(Long, Long)].collect().toMap ==
      optimal.as[(Long, Long)].collect().toMap)
  }

  test("modularity: hand-computed two-triangle fixture; singleton fallback") {
    import spark.implicits._
    // two unit-weight triangles bridged by one edge
    val es = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
      (4L, 5L, 1L), (4L, 6L, 1L), (5L, 6L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "weight")
    // the natural split: m2=14, sum_in=12, tots 7+7 -> sum_tot_sq=98,
    // Q = 12/14 - 98/196 = 0.357143
    val split = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("node", "community")
    val r1 = Graphs.modularity(es, split).collect()(0)
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) == ((14L, 12L, 98L)))
    assert(r1.getDouble(3) == 0.357143)
    // everything in ONE community scores lower than the split
    val one = (1L to 6L).map(n => (n, 1L)).toDF("node", "community")
    assert(Graphs.modularity(es, one).collect()(0).getDouble(3) == 0.0)
    // unassigned nodes become singletons: cover only the left triangle
    // -> sum_in=6, tots 7,3,2,2 -> sum_tot_sq=66, Q = 6/14 - 66/196
    val partial = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("node", "community")
    val r3 = Graphs.modularity(es, partial).collect()(0)
    assert((r3.getLong(1), r3.getLong(2)) == ((6L, 66L)))
    assert(r3.getDouble(3) == 0.091837)
    // empty edge set: NULL, not a crash
    val r4 = Graphs.modularity(
      Seq.empty[(Long, Long, Long)].toDF("src", "dst", "weight"),
      split).collect()(0)
    assert(r4.isNullAt(3) && r4.getLong(0) == 0L)
  }

  test("triangle family canonicalizes hostile edge input (r12 ADVICE)") {
    // the same K4-with-tail graph presented canonically vs hostilely:
    // reversed orientations, both directions of some edges, self-loops
    val canon = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L))
    val hostile = Seq((2L, 1L), (1L, 3L), (3L, 1L), (4L, 1L), (2L, 3L),
      (4L, 2L), (2L, 4L), (3L, 4L), (5L, 4L), (3L, 3L))
    assert(Graphs.triangleStats(edgesDf(hostile)).collect().toSeq ==
      Graphs.triangleStats(edgesDf(canon)).collect().toSeq)
    assert(Graphs.localClustering(edgesDf(hostile)).collect().toSet ==
      Graphs.localClustering(edgesDf(canon)).collect().toSet)
    assert(Graphs.degreeAssortativity(edgesDf(hostile)).collect().toSeq ==
      Graphs.degreeAssortativity(edgesDf(canon)).collect().toSeq)
  }

  test("degreeAssortativity: NULL (not NaN) on a regular graph") {
    // a 4-cycle is 2-regular: degree variance 0, correlation undefined
    val row = Graphs.degreeAssortativity(
      edgesDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))).collect()(0)
    assert(row.isNullAt(row.fieldIndex("assortativity")))
    assert(row.getLong(row.fieldIndex("m")) == 8L)
  }

  test("kTruss: clique survives, pendant triangle pruned, hostile input canonicalized") {
    import spark.implicits._
    // K4 on 1..4 (every edge in 2 triangles) + a pendant triangle
    // (4,5,6) hanging off node 4 (each of its edges in exactly 1)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val pendant = Seq((4L, 5L), (4L, 6L), (5L, 6L))
    val got = Graphs.kTruss(edgesDf(k4 ++ pendant), k = 4, rounds = 3)
      .as[(Long, Long, Long)].collect().toSet
    // 4-truss (support >= 2): the K4 edges, each with support 2 on the
    // survivor subgraph; the pendant edges die in round 1
    assert(got == k4.map { case (a, b) => (a, b, 2L) }.toSet)
    // hostile orientation/duplication: same answer (normalizedUndirected)
    val hostile = (k4 ++ pendant).map { case (a, b) => (b, a) } ++ k4
    val got2 = Graphs.kTruss(edgesDf(hostile ++ pendant), k = 4, rounds = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got2 == got)
  }

  test("edgeTrussness: stratifies K5, pendant triangle and bridge by hand; agrees with kTruss levels") {
    import spark.implicits._
    // K5 on 1..5 (every edge in 3 triangles — a 5-truss, capped at
    // kMax=4) + a separate triangle (6,7,8) (each edge in exactly 1 —
    // trussness 3) + a bridge (5,6) in no triangle (trussness 2)
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val tri = Seq((6L, 7L), (6L, 8L), (7L, 8L))
    val bridge = Seq((5L, 6L))
    val es = k5 ++ tri ++ bridge
    val got = Graphs.edgeTrussness(edgesDf(es), kMax = 4, rounds = 3)
      .as[(Long, Long, Long)].collect().toSet
    val want = k5.map { case (a, b) => (a, b, 4L) }.toSet ++
      tri.map { case (a, b) => (a, b, 3L) } ++ Set((5L, 6L, 2L))
    assert(got == want, s"got $got")
    // hostile orientation/duplication canonicalizes to the same answer
    val hostile = es.map { case (a, b) => (b, a) } ++ k5
    assert(Graphs.edgeTrussness(edgesDf(hostile), kMax = 4, rounds = 3)
      .as[(Long, Long, Long)].collect().toSet == want)
    // decomposition is consistent with the single-k operator: edges of
    // trussness >= k are EXACTLY the k-truss survivor set, for every k
    for (k <- 3 to 4) {
      val fromDecomp = got.filter(_._3 >= k).map(e => (e._1, e._2))
      val fromKTruss = Graphs.kTruss(edgesDf(es), k = k, rounds = 3)
        .select(col("src"), col("dst")).as[(Long, Long)].collect().toSet
      assert(fromDecomp == fromKTruss, s"k=$k: $fromDecomp vs $fromKTruss")
    }
    // the cascade fixture: the strip's support-1 edges starve the
    // shared edges, so nothing reaches trussness 4 — all end at 3
    val strip = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L))
    val stripGot = Graphs.edgeTrussness(edgesDf(strip), kMax = 4, rounds = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(stripGot == strip.map { case (a, b) => (a, b, 3L) }.toSet)
  }

  test("kTruss: pruning cascades — a triangle strip needs the second round") {
    import spark.implicits._
    // strip of 3 triangles: (1,2,3), (2,3,4), (3,4,5). Shared edges
    // (2,3) and (3,4) have support 2; the rest 1. k=4 prunes the
    // support-1 edges in round 1, which starves the survivors: round 2
    // must empty the graph — a 1-round unroll would wrongly keep them.
    val strip = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L))
    val r1 = Graphs.kTruss(edgesDf(strip), k = 4, rounds = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(r1 == Set((2L, 3L, 2L), (3L, 4L, 2L)))
    assert(Graphs.kTruss(edgesDf(strip), k = 4, rounds = 2).isEmpty)
    // monotone convergence: once stable, more rounds change nothing
    val stable = Graphs.kTruss(edgesDf(strip), k = 3, rounds = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(Graphs.kTruss(edgesDf(strip), k = 3, rounds = 5)
      .as[(Long, Long, Long)].collect().toSet == stable)
    // k=3 keeps every edge (each sits in >= 1 triangle of the strip)
    assert(stable.map(e => (e._1, e._2)) == strip.toSet)
  }

  test("decayedCopurchase: half-life ppm weights, clamping, missing-shift exclusion") {
    import spark.implicits._
    val baskets = Seq(
      (10L, 1L), (10L, 2L),            // fresh basket: shift 0
      (11L, 1L), (11L, 2L), (11L, 3L), // one half-life old: shift 1
      (12L, 1L), (12L, 3L),            // ancient: shift 100 (clamps, div -> 0)
      (13L, 2L), (13L, 3L),            // negative shift (clamps to 0)
      (14L, 1L), (14L, 4L)             // no shift row: excluded entirely
    ).toDF("basket_id", "item_id")
    val shifts = Seq((10L, 0), (11L, 1), (12L, 100), (13L, -5))
      .toDF("basket_id", "shift")
    val all = Graphs.decayedCopurchase(baskets, shifts, minWeightPpm = 0L)
      .as[(Long, Long, Long)].collect().toSet
    // (1,2): 1e6 (b10) + 5e5 (b11) = 1.5e6; (1,3): 5e5 + 0 (b12 clamped
    // to shift 62, floor 0); (2,3): 5e5 (b11) + 1e6 (b13 clamped to 0)
    assert(all == Set((1L, 2L, 1500000L), (1L, 3L, 500000L), (2L, 3L, 1500000L)))
    // default prune keeps only >= 1e6, and (1,4) never appears
    val pruned = Graphs.decayedCopurchase(baskets, shifts)
      .as[(Long, Long, Long)].collect().toSet
    assert(pruned == Set((1L, 2L, 1500000L), (2L, 3L, 1500000L)))
  }

  test("labelPropagationFrom: singleton init equals the cold operator; stable labels are a fixed point") {
    import spark.implicits._
    // two 4-cliques bridged by one edge
    def clique(ns: Seq[Long]) = for {
      a <- ns; b <- ns if a < b
    } yield (a, b)
    val es = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L)) ++
      Seq((4L, 11L))
    val cold = Graphs.labelPropagation(edgesDf(es), iterations = 3)
      .as[(Long, Long, Long)].collect().toSet
    val singletons = es.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => (n, n)).toDF("node", "label")
    val warmSame = Graphs.labelPropagationFrom(edgesDf(es), singletons,
        iterations = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(warmSame == cold)
    // feed a STABLE labeling back in: one sweep must reproduce it
    val (stable, _) = Graphs.labelPropagationConverged(edgesDf(es), None, 50)
    val stableSet = stable.as[(Long, Long)].collect().toSet
    val again = Graphs.labelPropagationFrom(edgesDf(es),
        stable.localCheckpoint(), iterations = 1)
      .select(col("node"), col("label")).as[(Long, Long)].collect().toSet
    assert(again == stableSet)
    // duplicate init rows collapse to the smallest label instead of
    // fanning the node's vote (one row per node afterwards, and the
    // min-label claim wins)
    val dup = (singletons.as[(Long, Long)].collect().toSeq ++
      Seq((4L, 99L), (4L, 1L))).toDF("node", "label")
    val fromDup = Graphs.labelPropagationFrom(edgesDf(es), dup, iterations = 1)
      .select(col("node"), col("label")).as[(Long, Long)].collect()
    assert(fromDup.map(_._1).distinct.length == fromDup.length,
      "one output row per node")
    val clean = (singletons.as[(Long, Long)].collect().toSeq
      .filterNot(_._1 == 4L) :+ ((4L, 1L))).toDF("node", "label")
    assert(fromDup.toSet ==
      Graphs.labelPropagationFrom(edgesDf(es), clean, iterations = 1)
        .select(col("node"), col("label")).as[(Long, Long)].collect().toSet)
  }

  test("labelPropagationConverged: warm start after an append stabilizes in fewer sweeps") {
    import spark.implicits._
    def clique(ns: Seq[Long]) = for {
      a <- ns; b <- ns if a < b
    } yield (a, b)
    val before = clique(Seq(1L, 2L, 3L, 4L, 5L)) ++
      clique(Seq(11L, 12L, 13L, 14L, 15L)) ++ Seq((5L, 11L))
    val (l0, r0) = Graphs.labelPropagationConverged(edgesDf(before), None, 50)
    assert(r0 < 50, "phase 1 must stabilize")
    val l0c = l0.localCheckpoint()
    // append: two new leaf nodes onto clique A
    val after = before ++ Seq((1L, 21L), (2L, 22L))
    val (cold, roundsCold) =
      Graphs.labelPropagationConverged(edgesDf(after), None, 50)
    val (warm, roundsWarm) =
      Graphs.labelPropagationConverged(edgesDf(after), Some(l0c), 50)
    assert(roundsCold < 50 && roundsWarm < 50)
    assert(roundsWarm < roundsCold,
      s"warm $roundsWarm sweeps must beat cold $roundsCold")
    // both are genuine fixed points: one more sweep changes nothing
    for (fp <- Seq(cold, warm)) {
      val fpc = fp.localCheckpoint()
      val next = Graphs.labelPropagationFrom(edgesDf(after), fpc, iterations = 1)
        .select(col("node"), col("label"))
      assert(next.as[(Long, Long)].collect().toSet ==
        fpc.as[(Long, Long)].collect().toSet)
    }
  }

  test("harmonicCentrality: exact ppm sums on a path; unreached nodes get zeros") {
    import spark.implicits._
    // path 1-2-3-4 with all 4 nodes sampled (nSources >= |V|), plus an
    // isolated edge (100, 101) beyond maxHops of the path
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (100L, 101L))
    val got = Graphs.harmonicCentrality(edgesDf(es), nSources = 6, maxHops = 3)
      .as[(Long, Long, Long)].collect()
      .map { case (n, h, r) => n -> ((h, r)) }.toMap
    // node 2: 1/1 (from 1) + 1/1 (from 3) + 1/2 (from 4) = 2.5e6, 3 reached
    assert(got(2L) == (2500000L, 3L))
    assert(got(3L) == (2500000L, 3L))
    // node 1: 1 + 1/2 + 1/3 (floor 333333) = 1833333
    assert(got(1L) == (1833333L, 3L))
    assert(got(4L) == (1833333L, 3L))
    // the isolated pair only sees each other
    assert(got(100L) == (1000000L, 1L))
    assert(got(101L) == (1000000L, 1L))
  }

  test("betweennessCentrality: path and star hand-counts; hostile input canonicalized") {
    import spark.implicits._
    // path 1-2-3, every node sampled: only the middle carries traffic
    // (delta = 1e6 from each endpoint source)
    val path = Seq((1L, 2L), (2L, 3L))
    val gotPath = Graphs.betweennessCentrality(edgesDf(path),
        nSources = 3, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(gotPath == Map(1L -> 0L, 2L -> 2000000L, 3L -> 0L))
    // star: center brokers all (n-1)(n-2) ordered leaf pairs
    val star = (1L to 4L).map(l => (0L, l))
    val gotStar = Graphs.betweennessCentrality(edgesDf(star),
        nSources = 5, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(gotStar(0L) == 12000000L)
    assert((1L to 4L).forall(l => gotStar(l) == 0L))
    // duplicated/reversed rows must not inflate sigma
    val hostile = star ++ star.map { case (a, b) => (b, a) }
    assert(Graphs.betweennessCentrality(edgesDf(hostile),
        nSources = 5, maxHops = 3)
      .as[(Long, Long)].collect().toMap == gotStar)
  }

  test("betweennessCentrality: multiple shortest paths split delta by the quantized recurrence") {
    import spark.implicits._
    // 4-cycle: every (opposite-corner) pair has TWO shortest paths, so
    // each middle earns sigma_v/sigma_w = 1/2 per direction -> exactly
    // 1e6 ppm per node (the floor division is exact here)
    val c4 = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val got = Graphs.betweennessCentrality(edgesDf(c4),
        nSources = 4, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1000000L, 2L -> 1000000L,
      3L -> 1000000L, 4L -> 1000000L))
    // hop bound: maxHops = 1 sees no 2-hop pairs at all
    assert(Graphs.betweennessCentrality(edgesDf(c4),
        nSources = 4, maxHops = 1)
      .as[(Long, Long)].collect().toMap.values.forall(_ == 0L))
  }

  test("trendingRelated: ranks by decayed weight, ties to the lower rel_id, top-k cut") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L, 1500000L), (1L, 3L, 2000000L), (1L, 4L, 1500000L),
      (2L, 3L, 500000L)).toDF("src", "dst", "weight_ppm")
    val got = Graphs.trendingRelated(pairs, k = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 3L, 2000000L, 1L), (1L, 2L, 1500000L, 2L), // tie 2 vs 4 -> 2 wins
      (2L, 1L, 1500000L, 1L), (2L, 3L, 500000L, 2L),
      (3L, 1L, 2000000L, 1L), (3L, 2L, 500000L, 2L),
      (4L, 1L, 1500000L, 1L)))
  }

  test("coreness: K4 + pendant triangle + tail chain by hand; kMax caps") {
    import spark.implicits._
    // K4 on 1..4 (3-core), triangle (4,8,9) (2-core), chain 4-5-6 (1-core)
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 8L), (4L, 9L), (8L, 9L), (4L, 5L), (5L, 6L))
    val got = Graphs.coreness(edgesDf(es), kMax = 4, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      8L -> 2L, 9L -> 2L, 5L -> 1L, 6L -> 1L))
    // kMax caps the answer, it doesn't change lower shells
    val capped = Graphs.coreness(edgesDf(es), kMax = 2, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(capped == got.view.mapValues(v => math.min(v, 2L)).toMap)
    // coreness at kMax=k agrees with the k-core membership operator
    val core3 = Graphs.kCore(edgesDf(es), k = 3, rounds = 6)
      .as[(Long, Long)].collect().map(_._1).toSet
    assert(got.filter(_._2 >= 3L).keySet == core3)
  }

  test("salsa: hand-computed mass-splitting fixture — breadth beats the strong endorser") {
    import spark.implicits._
    // customers 1,2,3 -> supplier 11; customer 1 also -> supplier 12
    val es = Seq((1L, 11L), (2L, 11L), (3L, 11L), (1L, 12L))
    val got = Graphs.salsa(edgesDf(es), iterations = 2)
      .as[(Long, Long, Long)].collect()
      .map { case (n, h, a) => n -> ((h, a)) }.toMap
    // iter1: a(11) = 5e5 + 1e6 + 1e6; a(12) = 5e5
    //        h(1) = a(11) div 3 + a(12) = 1333333; h(2) = h(3) = 833333
    // iter2: a(11) = 666666 + 833333 + 833333 = 2333332; a(12) = 666666
    //        h(1) = 777777 + 666666 = 1444443; h(2) = h(3) = 777777
    assert(got(1L) == (1444443L, 0L))
    assert(got(2L) == (777777L, 0L))
    assert(got(3L) == (777777L, 0L))
    assert(got(11L) == (0L, 2333332L))
    assert(got(12L) == (0L, 666666L))
    // duplicate input rows are collapsed, not double-counted
    assert(Graphs.salsa(edgesDf(es ++ es), iterations = 2)
      .as[(Long, Long, Long)].collect()
      .map { case (n, h, a) => n -> ((h, a)) }.toMap == got)
  }

  test("salsa: equals a sequential replay of the documented arithmetic on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816)
    val es = (1 to 150).map(_ =>
        (rnd.nextInt(15).toLong, 100L + rnd.nextInt(12).toLong)).distinct
    val got = Graphs.salsa(edgesDf(es), iterations = 3)
      .as[(Long, Long, Long)].collect()
      .map { case (n, h, a) => n -> ((h, a)) }.toMap
    // sequential replay: per-edge floored mass splits, exact longs
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val od = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ind = es.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    var h = nodes.map(_ -> 1000000L).toMap
    var a = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      a = nodes.map(n => n ->
        es.filter(_._2 == n).map(e => h(e._1) / od(e._1)).sum).toMap
      h = nodes.map(n => n ->
        es.filter(_._1 == n).map(e => a(e._2) / ind(e._2)).sum).toMap
    }
    assert(got == nodes.map(n => n -> ((h(n), a(n)))).toMap)
  }

  test("betweennessCentrality: equals a sequential replay of the quantized Brandes recurrence") {
    import spark.implicits._
    val rnd = new scala.util.Random(1107)
    val es = (1 to 60).map(_ => (rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
      .filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
    val S = 5; val H = 3
    val got = Graphs.betweennessCentrality(edgesDf(es), nSources = S, maxHops = H)
      .as[(Long, Long)].collect().toMap
    // sequential replay
    val adj = es.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq.sorted
    def md5hex(n: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(n.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val seeds = nodes.sortBy(n => (md5hex(n), n)).take(S)
    val bc = scala.collection.mutable.Map(nodes.map(_ -> 0L): _*)
    for (s <- seeds) {
      // forward: level-synchronous sigma
      var levels = Vector(Map(s -> 1L))
      var seen = Set(s)
      for (_ <- 1 to H) {
        val next = scala.collection.mutable.Map.empty[Long, Long]
        for ((v, sig) <- levels.last; w <- adj(v) if !seen.contains(w))
          next(w) = next.getOrElse(w, 0L) + sig
        seen ++= next.keySet
        levels = levels :+ next.toMap
      }
      // backward: quantized delta, leaves at 0
      var delta = levels.last.map { case (n, _) => n -> 0L }
      for (i <- levels.size - 2 to 1 by -1) {
        val child = levels(i + 1)
        delta = levels(i).map { case (v, sig) =>
          v -> adj(v).toSeq.filter(child.contains)
            .map(w => sig * (1000000L + delta(w)) / child(w)).sum
        }
        delta.foreach { case (n, d) => bc(n) += d }
      }
      // deepest level contributes its zeros (nothing to add)
    }
    assert(got == nodes.map(n => n -> bc(n)).toMap)
  }

  test("linkPrediction: RA scores by hand; existing edges excluded; center cap gates") {
    import spark.implicits._
    // 4-cycle 1-2-4, 1-3-4: candidates are the two diagonals, each
    // witnessed by two degree-2 centers -> score 1e6, n_common 2
    val c4 = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val got = Graphs.linkPrediction(edgesDf(c4))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (2L, 3L, 2L, 1000000L, 1L), (3L, 2L, 2L, 1000000L, 1L),
      (1L, 4L, 2L, 1000000L, 1L), (4L, 1L, 2L, 1000000L, 1L)))
    // close one diagonal: it leaves the candidates, the other stays
    val closed = Graphs.linkPrediction(edgesDf(c4 :+ (1L, 4L)))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(!closed.exists(r => Set(r._1, r._2) == Set(1L, 4L)))
    assert(closed.exists(r => Set(r._1, r._2) == Set(2L, 3L)))
    // hub above the cap contributes no candidates (hub center dropped
    // BEFORE fan-out); leaf pairs through the small center survive
    val star = (1L to 5L).map(l => (100L, l)) ++ Seq((1L, 2L), (2L, 3L))
    val capped = Graphs.linkPrediction(edgesDf(star), maxCenterDegree = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // center 100 (deg 5) is gated; center 2 (deg 3) witnesses (1,3):
    // score = 1e6 div 3 = 333333
    assert(capped.map(r => (r._1, r._2, r._4)) ==
      Set((1L, 3L, 333333L), (3L, 1L, 333333L)))
  }

  test("harmonicCentrality: seed sampling is the md5 order and hop-bounded") {
    import spark.implicits._
    // path 1-2-3-4-5; one source; maxHops 2 — exactly the md5-smallest
    // node seeds, and nodes beyond 2 hops of it score 0
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val seed = nodes.map(n => n ->
        java.security.MessageDigest.getInstance("MD5")
          .digest(n.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
      .minBy(_._2)._1
    val got = Graphs.harmonicCentrality(edgesDf(es), nSources = 1, maxHops = 2)
      .as[(Long, Long, Long)].collect()
      .map { case (n, h, r) => n -> ((h, r)) }.toMap
    val dist = nodes.map(n => n -> math.abs(n - seed)).toMap
    for (n <- nodes) {
      val expected =
        if (n == seed || dist(n) > 2) (0L, 0L)
        else (1000000L / dist(n), 1L)
      assert(got(n) == expected, s"node $n (seed $seed)")
    }
  }
}
