package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

/** Unit coverage for the round-3 similarity primitives: the native
  * vec_dot expression, the bounded TopKAgg and TopKSlots, and the exact d19 prefix
  * join's agreement with brute-force set similarity.
  */
class SimilarityPrimitivesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("simprim-spec")
  private val sf = "/root/testdata/sf0.001"
  override def afterAll(): Unit = spark.stop()

  test("vec_dot matches a sequential reference loop and handles nulls") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.1, -0.2), Array(-0.3, 0.4))
    ).toDF("a", "b")
    val got = df.select(call_function("vec_dot", col("a"), col("b"))).as[Double].collect()
    assert(got(0) == 1.0 * 4.0 + 2.0 * 5.0 + 3.0 * 6.0)
    assert(got(1) == 0.1 * -0.3 + -0.2 * 0.4)
    val withNull = Seq((Some(Array(1.0)), Option.empty[Array[Double]])).toDF("a", "b")
    assert(withNull.select(call_function("vec_dot", col("a"), col("b")))
      .collect().head.isNullAt(0))
  }

  test("array_agree counts position-wise equality") {
    import spark.implicits._
    val df = Seq((Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 8L))).toDF("a", "b")
    assert(df.select(call_function("array_agree", col("a"), col("b")))
      .as[Int].head() == 2)
  }

  test("TopKAgg keeps the k best under (sim DESC, id ASC) across merges") {
    val agg = new graft.ops.TopKAgg(3)
    val items = Seq((0.5, 10L), (0.9, 7L), (0.9, 3L), (0.1, 1L), (0.7, 2L), (0.9, 5L))
    // reduce in two different orders, then merge — result must be identical
    val (l, r) = items.splitAt(2)
    val b1 = l.foldLeft(agg.zero)(agg.reduce)
    val b2 = r.foldLeft(agg.zero)(agg.reduce)
    val merged = agg.merge(b1, b2)
    assert(merged.ids.toSeq == Seq(3L, 5L, 7L)) // three 0.9s, tie-broken by id
    val other = items.reverse.foldLeft(agg.zero)(agg.reduce)
    assert(other.ids.toSeq == merged.ids.toSeq)
    assert(other.sims.toSeq == merged.sims.toSeq)
  }

  test("TopKAgg dedupes ids at insert: one neighbor, one slot") {
    // the ANN candidate stream surfaces the same neighbor once per
    // colliding hash table / probe — dedup-at-insert is what lets
    // annTopK aggregate the raw stream with no upstream distinct
    val agg = new graft.ops.TopKAgg(3)
    val items = Seq((0.9, 7L), (0.9, 7L), (0.8, 3L), (0.9, 7L), (0.8, 3L), (0.5, 1L))
    val b = items.foldLeft(agg.zero)(agg.reduce)
    assert(b.ids.toSeq == Seq(7L, 3L, 1L), b.ids.toSeq.toString)
    // dedup holds across merge boundaries too (a neighbor seen on both
    // map sides), in any partition order
    val (l, r) = items.splitAt(3)
    val m1 = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    val m2 = agg.merge(r.foldLeft(agg.zero)(agg.reduce), l.foldLeft(agg.zero)(agg.reduce))
    assert(m1.ids.toSeq == b.ids.toSeq && m2.ids.toSeq == b.ids.toSeq)
    // general rule (cannot arise from cosine scoring, where a pair
    // always scores the same): a better sim for a held id replaces the
    // old slot rather than duplicating it
    val up = Seq((0.2, 9L), (0.6, 9L), (0.4, 9L)).foldLeft(agg.zero)(agg.reduce)
    assert(up.ids.toSeq == Seq(9L) && up.sims.toSeq == Seq(0.6))
  }

  test("TopKAgg equals a sorted-reference top-k on random duplicate-heavy streams (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // a per-trial id -> sim table enforces the operators' invariant
    // (the same pair scores the same sim on every surfacing); streams
    // draw from a small id space so duplicates are dense, and sims
    // include NaN (zero-norm cosine) and -0.0 (normalization edge)
    val simGen = Gen.frequency(
      6 -> Gen.chooseNum(-1.0, 1.0),
      1 -> Gen.const(Double.NaN),
      1 -> Gen.const(-0.0))
    val trial = for {
      simOf <- Gen.listOfN(13, simGen).map(_.toVector)
      ids <- Gen.nonEmptyListOf(Gen.chooseNum(0, 12))
      cut <- Gen.chooseNum(0, ids.length)
    } yield (simOf, ids, cut)
    val prop = Prop.forAll(trial) { case (simOf, ids, cut) =>
      val agg = new graft.ops.TopKAgg(3)
      val items = ids.map(i => (simOf(i), i.toLong))
      val (l, r) = items.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      // reference: distinct ids, sims normalized like the aggregator,
      // sorted (sim DESC with NaN greatest, id ASC), first 3
      val ref = ids.distinct.map { i =>
        val s = simOf(i)
        (if (s == 0.0) 0.0 else s, i.toLong)
      }.sortWith { case ((s1, i1), (s2, i2)) =>
        val c = java.lang.Double.compare(s1, s2)
        c > 0 || (c == 0 && i1 < i2)
      }.take(3)
      // TopKSlots does not dedup (its kernels score each id once), so it
      // sees each id at its first surfacing; a reused buffer is cleared
      // first, as the PQ scan does per query
      val slots = new graft.ops.TopKSlots(3)
      items.reverse.foreach { case (s, i) => slots.offer(s, i) }
      slots.clear()
      ids.distinct.foreach(i => slots.offer(simOf(i), i.toLong))
      val slotIds = (0 until slots.size).map(slots.id)
      val slotSims = (0 until slots.size).map(slots.sim)
      def sameAsRef(gotIds: Seq[Long], gotSims: Seq[Double]) =
        gotIds == ref.map(_._2) && gotSims.length == ref.length &&
          gotSims.zip(ref.map(_._1)).forall { case (a, b) =>
            java.lang.Double.compare(a, b) == 0
          }
      sameAsRef(merged.ids.toSeq, merged.sims.toSeq) && sameAsRef(slotIds, slotSims)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("TopKAgg ranks NaN greatest, matching engine sort order") {
    // zero-norm vectors give 0/0 = NaN cosine; Spark and DuckDB both
    // sort NaN as the LARGEST double, so the oracle's row_number puts it
    // first — primitive > comparisons would silently rank it last
    val agg = new graft.ops.TopKAgg(2)
    val b = Seq((0.9, 3L), (Double.NaN, 5L), (0.7, 1L))
      .foldLeft(agg.zero)(agg.reduce)
    assert(b.ids.toSeq == Seq(5L, 3L))
    assert(b.sims(0).isNaN && b.sims(1) == 0.9)
    // -0.0 and 0.0 tie (engines treat them equal): id breaks the tie
    val z = Seq((0.0, 9L), (-0.0, 4L)).foldLeft(agg.zero)(agg.reduce)
    assert(z.ids.toSeq == Seq(4L, 9L))
    // the kernels' TopKSlots buffer keeps the same order
    val slots = new graft.ops.TopKSlots(2)
    Seq((0.9, 3L), (Double.NaN, 5L), (0.7, 1L)).foreach { case (s, i) => slots.offer(s, i) }
    assert(slots.size == 2 && slots.id(0) == 5L && slots.id(1) == 3L)
    assert(slots.sim(0).isNaN && slots.sim(1) == 0.9 && slots.kth == 0.9)
    slots.clear()
    Seq((0.0, 9L), (-0.0, 4L)).foreach { case (s, i) => slots.offer(s, i) }
    assert(slots.id(0) == 4L && slots.id(1) == 9L)
    assert(java.lang.Double.compare(slots.sim(0), 0.0) == 0, "-0.0 kept unnormalized")
  }

  test("connectedComponents equals in-memory union-find on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val nNodes = 30 + trial * 20
      val nEdges = nNodes + rng.nextInt(nNodes)
      val edges = Seq.fill(nEdges) {
        val a = rng.nextInt(nNodes).toLong
        val b = rng.nextInt(nNodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      // reference: plain union-find
      val parent = Array.tabulate(nNodes)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expect = touched.map { v =>
        val root = touched.filter(w => find(w.toInt) == find(v.toInt)).min
        (v, root)
      }.toSet
      val expectSizes = expect.groupBy(_._2).map { case (r, m) => r -> m.size.toLong }
      // both execution paths must agree with the reference: the bounded
      // local endgame (default) and the distributed star rounds (forced
      // by a zero local-finish budget)
      for (budget <- Seq(1L << 20, 0L)) {
        val got = graft.ops.Similarity.connectedComponents(spark,
            edges.toDF("a", "b").repartition(7), localFinishEdges = budget)
          .as[(Long, Long, Long)].collect()
        assert(got.map(r => (r._1, r._2)).toSet == expect,
          s"labels differ (trial $trial, budget $budget)")
        assert(got.forall(r => expectSizes(r._2) == r._3),
          s"sizes differ (trial $trial, budget $budget)")
      }
    }
  }

  test("sorted_inter_count equals array_intersect size on random sorted sets") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(200) {
      val a = Seq.fill(rng.nextInt(40))(rng.nextInt(60).toLong).distinct.sorted.toArray
      val b = Seq.fill(rng.nextInt(40))(rng.nextInt(60).toLong).distinct.sorted.toArray
      (a, b)
    }
    val df = rows.toDF("a", "b")
    val got = df.select(
      call_function("sorted_inter_count", col("a"), col("b")).as[Int],
      size(array_intersect(col("a"), col("b"))).as[Int]).collect()
    got.foreach { case (m, ref) => assert(m == ref) }
    val withNull = Seq((Some(Array(1L)), Option.empty[Array[Long]])).toDF("a", "b")
    assert(withNull.select(call_function("sorted_inter_count", col("a"), col("b")))
      .collect().head.isNullAt(0))
  }

  test("charGramHashes: sorted distinct, cardinality matches the string gram set") {
    // reference counts CODEPOINTS (SQL substring semantics), so include
    // astral-plane chars in the alphabet — each emoji is 2 UTF-16 units
    val rng = new scala.util.Random(11)
    val alphabet: IndexedSeq[String] =
      "абвгде abcxyz.,\n".map(_.toString) ++ Seq("😀", "🚀", "𐍈")
    def cpGrams(s: String): Set[String] = {
      val cps = s.codePoints().toArray
      if (cps.length < 3) Set.empty
      else (0 to cps.length - 3)
        .map(i => new String(cps, i, 3)).toSet
    }
    for (_ <- 1 to 200) {
      val s = Seq.fill(rng.nextInt(50))(alphabet(rng.nextInt(alphabet.length))).mkString
      val hs = graft.ops.Similarity.charGramHashes(s)
      val ref = cpGrams(s)
      assert(hs.length == ref.size, s"cardinality for ${s.take(20)}…")
      assert(hs.toSeq == hs.toSeq.sorted && hs.toSeq.distinct == hs.toSeq)
    }
    assert(graft.ops.Similarity.charGramHashes(null).isEmpty)
    assert(graft.ops.Similarity.charGramHashes("ab").isEmpty)
    // 2 astral codepoints = 4 UTF-16 units but fewer than 3 CHARACTERS
    assert(graft.ops.Similarity.charGramHashes("😀🚀").isEmpty)
    assert(graft.ops.Similarity.charGramHashes("😀🚀😀").length == 1)
  }

  test("wordGramHashes cardinality matches the string 4-gram set") {
    val rng = new scala.util.Random(13)
    val words = Seq("the", "cat", "sat", "on", "a", "mat", "и", "на")
    for (_ <- 1 to 200) {
      val s = Seq.fill(rng.nextInt(12))(words(rng.nextInt(words.length))).mkString(" ")
      val hs = graft.ops.Similarity.wordGramHashes(s)
      val w = s.split("\\s+")
      val ref =
        if (s.isEmpty || w.length < 4) Set.empty[String]
        else (0 to w.length - 4).map(i => w.slice(i, i + 4).mkString(" ")).toSet
      assert(hs.length == ref.size, s"cardinality for '$s'")
    }
    assert(graft.ops.Similarity.wordGramHashes(null).isEmpty)
  }

  test("gram hashing is collision-free on the test corpus (both domains)") {
    import spark.implicits._
    // the oracle computes gram counts from STRINGS; the engine from 64-bit
    // hashes — equality of distinct-counts over the corpus proves no
    // collision perturbs any count at test scale
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.01")
      .select($"doc_id", lower($"text").as("t")).as[(Long, String)].collect()
    val triStrings = docs.iterator.flatMap { case (_, t) =>
      if (t == null || t.length < 3) Iterator.empty
      else (0 to t.length - 3).iterator.map(i => t.substring(i, i + 3))
    }.toSet
    val triHashes = docs.iterator.flatMap { case (_, t) =>
      graft.ops.Similarity.charGramHashes(t).iterator
    }.toSet
    assert(triStrings.size == triHashes.size)
    val wordStrings = docs.iterator.flatMap { case (_, t) =>
      if (t == null) Iterator.empty
      else {
        val w = t.trim.split("\\s+")
        if (w.length < 4) Iterator.empty
        else (0 to w.length - 4).iterator.map(i => w.slice(i, i + 4).mkString(" "))
      }
    }.toSet
    val wordHashes = docs.iterator.flatMap { case (_, t) =>
      graft.ops.Similarity.wordGramHashes(if (t == null) null else t.trim).iterator
    }.toSet
    assert(wordStrings.size == wordHashes.size)
  }

  test("minhashFromHashes is deterministic and exact on identical sets") {
    val rng = new scala.util.Random(17)
    val hs = Array.fill(300)(rng.nextLong()).distinct.sorted
    val a = graft.ops.Similarity.minhashFromHashes(hs)
    val b = graft.ops.Similarity.minhashFromHashes(hs)
    assert(a.length == graft.ops.Similarity.NumHashes)
    assert(a.toSeq == b.toSeq)
    // disjoint sets should agree on almost no components
    val other = graft.ops.Similarity.minhashFromHashes(
      Array.fill(300)(rng.nextLong()).distinct.sorted)
    val agree = a.zip(other).count { case (x, y) => x == y }
    assert(agree < 16, s"disjoint sets agree on $agree/128 components")
  }

  test("annBitsFor scales with corpus size and stays clamped") {
    import graft.ops.Similarity.annBitsFor
    assert(annBitsFor(0L) == 4) // floor clamp
    assert(annBitsFor(1000L) == 4) // 15 cells -> 4 bits
    assert(annBitsFor(64L << 10) == 10) // 1024 cells -> 10 bits
    assert(annBitsFor(64L << 16) == 16)
    assert(annBitsFor(1L << 40) == 24) // ceiling clamp
    // monotone non-decreasing in n
    val widths = (10 to 40).map(p => annBitsFor(1L << p))
    assert(widths == widths.sorted)
  }

  test("probeMasks enumerates distinct subsets in margin-sum order") {
    import graft.ops.Similarity.probeMasks
    val margins = Array(0.5, 0.1, 0.9, 0.3)
    val masks = probeMasks(margins, 15) // all 2^4 - 1 non-empty subsets
    assert(masks.length == 15)
    assert(masks.toSet.size == 15, "duplicate perturbation masks")
    def score(m: Long): Double =
      (0 until 4).filter(j => (m & (1L << j)) != 0).map(margins).sum
    val scores = masks.map(score)
    assert(scores.zip(scores.tail).forall { case (a, b) => a <= b },
      s"not nondecreasing: ${scores.mkString(",")}")
    // the cheapest flip is the single lowest-margin bit
    assert(masks(0) == (1L << 1))
    // truncation keeps the prefix
    assert(probeMasks(margins, 4).toSeq == masks.take(4).toSeq)
    assert(probeMasks(margins, 0).isEmpty)
    assert(probeMasks(Array.emptyDoubleArray, 3).isEmpty)
  }

  test("multiprobe ANN candidates strictly extend the exact-bucket set") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val vecs = (0L until 200L).map(i => (i, Array.fill(16)(rng.nextGaussian())))
      .toDF("vec_id", "v")
    val e = vecs.withColumn("nrm", sqrt(call_function("vec_dot", col("v"), col("v"))))
      .where(col("nrm") > 0.0)
    val exact = graft.ops.Similarity.annCandidatePairs(e, 4, 6, 0)
      .as[(Long, Long)].collect().toSet
    val probed = graft.ops.Similarity.annCandidatePairs(e, 4, 6, 1)
      .as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(probed), "flipping probe bits must only ADD candidates")
    assert(probed.size > exact.size, "1-bit probes found no extra bucket-mates")
  }

  test("jaccardPrefixPairs is exact at a lowered threshold (J >= 0.5)") {
    import spark.implicits._
    val docs = graft.ops.Tables.documents(spark, sf)
    val got = graft.api.Graft.jaccardPrefixPairs(docs, thresholdNum = 1, thresholdDen = 2)
      .select($"doc_a", $"doc_b", $"inter_size", $"union_size")
      .as[(Long, Long, Long, Long)].collect().toSet
    val raw = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    def grams(t: String): Set[String] = {
      if (t == null) return Set.empty
      val w = t.trim.toLowerCase.split("\\s+")
      if (w.length < 4) Set.empty
      else (0 to w.length - 4).map(i => w.slice(i, i + 4).mkString(" ")).toSet
    }
    val g = raw.map { case (id, t) => id -> grams(t) }.toMap
    val expect = (for {
      (a, ga) <- g.iterator
      (b, gb) <- g.iterator if a < b
      inter = (ga & gb).size if inter > 0 && inter * 2 >= (ga.size + gb.size - inter) * 1
    } yield (a, b, inter.toLong, (ga.size + gb.size - inter).toLong)).toSet
    assert(got == expect, s"got ${got.size} pairs, expected ${expect.size}")
    assert(expect.nonEmpty, "threshold 0.5 found no pairs — corpus unexpected")
  }

  test("d19 prefix-filter join equals brute-force word-4-gram Jaccard") {
    import spark.implicits._
    val queries = SparkEntry.queries
    val got = queries("d19_jaccard_prefix")(spark, sf)
      .select($"doc_a", $"doc_b", $"inter_size", $"union_size")
      .as[(Long, Long, Long, Long)].collect().toSet
    // brute force over the same gram domain
    val docs = graft.ops.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def grams(t: String): Set[String] = {
      val w = t.trim.toLowerCase.split("\\s+")
      if (w.length < 4) Set.empty
      else (0 to w.length - 4).map(i => w.slice(i, i + 4).mkString(" ")).toSet
    }
    val g = docs.map { case (id, t) => id -> grams(t) }.toMap
    val expect = (for {
      (a, ga) <- g.iterator
      (b, gb) <- g.iterator if a < b
      // inter > 0 mirrors the join semantics: a pair must share a gram to
      // exist at all (this also excludes degenerate empty-vs-empty pairs)
      inter = (ga & gb).size if inter > 0 && inter * 5 >= (ga.size + gb.size - inter) * 4
    } yield (a, b, inter.toLong, (ga.size + gb.size - inter).toLong)).toSet
    assert(got == expect, s"got ${got.size} pairs, expected ${expect.size}")
  }
}
