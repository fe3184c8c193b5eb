package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import graft.ops.{IvfIndex, Pq, Similarity, Tables}

/** Product quantization: d72/d73 hash-gate the exact-mode path
  * (lossless codebook) against DuckDB; this spec covers what the oracle
  * cannot — the LOSSY path's quality and the structural contracts.
  *   - exact mode round-trips bit-for-bit and its ADC ranking equals
  *     the float exact top-k (the claim behind reusing d07's ranking);
  *   - the lossy path is deterministic, compresses as promised, and on
  *     a planted clustered corpus recovers cluster structure (top-1
  *     recall against exact float retrieval);
  *   - Lloyd iterations do not increase reconstruction error;
  *   - ADC scoring == decode-then-score (the LUT sum is a subspace
  *     reassociation of the same arithmetic — asserted on a fixed
  *     corpus, where both orders rank identically).
  */
class PqSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("pq-spec")
  private val sf = "/root/testdata/sf0.001"
  override def afterAll(): Unit = spark.stop()

  private def vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))

  /** Deterministic planted corpus: `perCluster` noisy copies of
    * `clusters` well-separated anchors in `dim` dims (noise amplitude
    * 0.01 vs anchor separation ~1 — cluster id is unambiguous). */
  private def planted(clusters: Int, perCluster: Int, dim: Int) = {
    import spark.implicits._
    val rows = for {
      c <- 0 until clusters; r <- 0 until perCluster
    } yield {
      val id = (c * perCluster + r).toLong
      val v = Array.tabulate(dim) { i =>
        val anchor = if (i % clusters == c) 1.0f else 0.0f
        anchor + 0.01f * (((id * 31 + i * 17) % 7).toFloat - 3f) / 3f
      }
      (id, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("exact-mode codebook round-trips bit-for-bit") {
    import spark.implicits._
    val cb = Pq.trainExact(spark, vecs, m = 8)
    val recon = Pq.decode(Pq.encode(spark, vecs, cb), cb)
      .as[(Long, Array[Double])].collect().toMap
    val orig = vecs
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))"))
      .as[(Long, Array[Double])].collect().toMap
    assert(recon.keySet == orig.keySet)
    orig.foreach { case (id, v) => assert(recon(id).toSeq == v.toSeq, s"vec $id drifted") }
  }

  test("exact-mode ADC ranking equals float exact top-k") {
    val cb = Pq.trainExact(spark, vecs, m = 8)
    val adc = Pq.topKAdc(vecs, Pq.encode(spark, vecs, cb), cb)
    val exact = Similarity.cosineTopK(vecs)
    assert(adc.exceptAll(exact).isEmpty && exact.exceptAll(adc).isEmpty)
  }

  test("lossy training is deterministic and codes are bounded by k") {
    val a = Pq.train(spark, vecs, m = 8, k = 16, iters = 3)
    val b = Pq.train(spark, vecs, m = 8, k = 16, iters = 3)
    assert(a.centroids.flatten.map(_.toSeq).toSeq == b.centroids.flatten.map(_.toSeq).toSeq)
    // ...and bit-identical under any PARTITIONING or row order (the
    // IvfIndex.build determinism contract, extended to the codebook
    // trainer: fixed-point Lloyd sums make the fold order immaterial)
    def flat(cb: graft.ops.Pq.PqCodebook) =
      cb.centroids.flatten.map(_.toSeq).toSeq
    assert(flat(Pq.train(spark, vecs.repartition(3), m = 8, k = 16,
      iters = 3)) == flat(a), "3-partition codebook differs")
    assert(flat(Pq.train(spark, vecs.repartition(13), m = 8, k = 16,
      iters = 3)) == flat(a), "13-partition codebook differs")
    assert(flat(Pq.train(spark, vecs.orderBy(col("vec_id").desc),
      m = 8, k = 16, iters = 3)) == flat(a), "reversed row order differs")
    val codes = Pq.encode(spark, vecs, a)
    val hi = codes.select(max(array_max(col("codes")))).head().getInt(0)
    val lo = codes.select(min(array_min(col("codes")))).head().getInt(0)
    assert(lo >= 0 && hi < 16, s"codes out of range [$lo, $hi]")
    assert(codes.select(size(col("codes"))).distinct().head().getInt(0) == 8)
  }

  test("more Lloyd iterations do not increase reconstruction error") {
    def mse(iters: Int): Double = {
      val cb = Pq.train(spark, vecs, m = 8, k = 16, iters = iters)
      Pq.decode(Pq.encode(spark, vecs, cb), cb)
        .withColumnRenamed("embedding", "r")
        .join(vecs.select(col("vec_id"),
          expr("transform(embedding, x -> cast(x AS double))").as("v")), "vec_id")
        .select(expr("aggregate(zip_with(v, r, (a, b) -> (a - b) * (a - b)), 0D, (s, e) -> s + e)")
          .as("se"))
        .agg(avg(col("se"))).head().getDouble(0)
    }
    val e0 = mse(0); val e3 = mse(3)
    assert(e3 <= e0 + 1e-12, s"Lloyd increased MSE: $e0 -> $e3")
  }

  test("lossy ADC recovers planted cluster structure (top-1 recall vs float exact)") {
    val p = planted(clusters = 4, perCluster = 25, dim = 16)
    val cb = Pq.train(spark, p, m = 4, k = 8, iters = 3)
    val adc1 = Pq.topKAdc(p, Pq.encode(spark, p, cb), cb, k = 1)
      .select(col("vec_id"), col("neighbor_id").as("a"))
    val exact1 = Similarity.cosineTopK(p, k = 1)
      .select(col("vec_id"), col("neighbor_id").as("e"))
    // cluster id = vec_id / 25: PQ-coarse sims tie inside a cluster, so
    // judge recall at the cluster level (the retrieval decision that
    // matters for dedup/labeling), not the exact neighbor id
    val agree = adc1.join(exact1, "vec_id")
      .select((floor(col("a") / 25) === floor(col("e") / 25)).cast("int").as("ok"))
      .agg(avg(col("ok"))).head().getDouble(0)
    assert(agree >= 0.95, s"cluster-level top-1 agreement $agree < 0.95")
  }

  test("ADC scoring equals decode-then-score on the fixed corpus") {
    val cb = Pq.train(spark, vecs, m = 8, k = 16, iters = 2)
    val enc = Pq.encode(spark, vecs, cb)
    val adc = Pq.topKAdc(vecs, enc, cb)
    // independent reference: reconstruct candidates from codes and score
    // with the same subspace-decomposed arithmetic (slice dots on the
    // DECODED array vs the engine's LUT lookups — same fold order, so
    // equality is bit-exact, and a mis-addressed LUT entry cannot hide)
    val subSq = (v: String) =>
      s"aggregate(sequence(0, 7), 0D, (acc, s) -> acc + vec_dot(slice($v, s*8+1, 8), slice($v, s*8+1, 8)))"
    val qd = vecs
      .select(col("vec_id").as("qid"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("qn", sqrt(expr(subSq("v"))))
    val cd = Pq.decode(enc, cb)
      .select(col("vec_id").as("cid"), col("embedding").as("r"))
      .withColumn("cn", sqrt(expr(subSq("r"))))
    val pairs = qd.join(cd, col("qid") =!= col("cid"))
      .select(col("qid").as("vec_id"), col("cid").as("neighbor_id"),
        (expr("aggregate(sequence(0, 7), 0D, (acc, s) -> acc + vec_dot(slice(v, s*8+1, 8), slice(r, s*8+1, 8)))")
          / (col("qn") * col("cn"))).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("neighbor_id"))
    val dec = pairs.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3).select(col("vec_id"), col("rank"), col("neighbor_id"))
    assert(adc.exceptAll(dec).isEmpty && dec.exceptAll(adc).isEmpty)
  }

  test("blocked fallback produces the same pairs as the broadcast path") {
    val cb = Pq.trainExact(spark, vecs, m = 8)
    val enc = Pq.encode(spark, vecs, cb)
    val broad = Pq.topKAdc(vecs, enc, cb)
    val blocked = Pq.topKAdc(vecs, enc, cb, maxBroadcastBytes = 1024)
    assert(broad.exceptAll(blocked).isEmpty && blocked.exceptAll(broad).isEmpty)
  }

  test("IVFPQ at full probes with an exact codebook equals the ADC kernel") {
    val cb = Pq.trainExact(spark, vecs, m = 8)
    val dv = vecs.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val model = IvfIndex.build(spark, dv, k = 8)
    val ivfpq = Pq.ivfPqTopK(spark, model, cb, vecs, k = 3, probes = 8)
    val adc = Pq.topKAdc(vecs, Pq.encode(spark, vecs, cb), cb)
    assert(ivfpq.exceptAll(adc).isEmpty && adc.exceptAll(ivfpq).isEmpty)
  }

  test("lossy IVFPQ under pruned probes keeps planted cluster recall") {
    val p = planted(clusters = 4, perCluster = 25, dim = 16)
    val cb = Pq.train(spark, p, m = 4, k = 8, iters = 3)
    val dv = p.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val model = IvfIndex.build(spark, dv, k = 4)
    val got = Pq.ivfPqTopK(spark, model, cb, p, k = 1, probes = 2)
      .select(col("vec_id"), col("neighbor_id").as("a"))
    val exact1 = graft.ops.Similarity.cosineTopK(p, k = 1)
      .select(col("vec_id"), col("neighbor_id").as("e"))
    val joined = got.join(exact1, "vec_id")
    val n = joined.count()
    val agree = joined
      .select((floor(col("a") / 25) === floor(col("e") / 25)).cast("int").as("ok"))
      .agg(avg(col("ok"))).head().getDouble(0)
    assert(n == 100, s"IVFPQ dropped queries: $n of 100")
    assert(agree >= 0.95, s"cluster-level top-1 agreement $agree < 0.95")
  }

  test("property: exact-mode ADC equals a sequential brute force on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // brute force replays the subspace-decomposed cosine with plain
    // Scala loops — independent of every engine primitive (vec_dot,
    // the LUT kernel, TopKAgg), same fold order
    def brute(corpus: Seq[(Long, Array[Double])], m: Int, k: Int): Set[(Long, Long, Long)] = {
      val w = corpus.head._2.length / m
      def subNorm(v: Array[Double]): Double = math.sqrt(
        (0 until m).map(s => (0 until w).map(i => v(s * w + i) * v(s * w + i)).sum).sum)
      corpus.flatMap { case (qid, q) =>
        val qn = subNorm(q)
        val scored = corpus.filter(_._1 != qid).map { case (cid, c) =>
          var num = 0.0
          (0 until m).foreach { s =>
            var d = 0.0
            (0 until w).foreach(i => d += q(s * w + i) * c(s * w + i))
            num += d
          }
          (cid, num / (qn * subNorm(c)))
        }
        scored.sortBy { case (cid, sim) => (-sim, cid) }.take(k)
          .zipWithIndex.map { case ((cid, _), r) => (qid, (r + 1).toLong, cid) }
      }.toSet
    }
    // no all-zero vectors: a 0/0 cosine is NaN, whose rank order is an
    // engine convention (NaN-greatest) this brute force doesn't model —
    // the fixed-corpus tests cover it via the d07 equality
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-4, 4).map(_.toDouble / 2))
      .map(v => if (v.forall(_ == 0.0)) v.updated(0, 0.5) else v)
    val corpusGen = Gen.choose(3, 10).flatMap(n => Gen.listOfN(n, vecGen))
      .map(_.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) })
    val prop = Prop.forAll(corpusGen) { corpus =>
      val df = corpus.map { case (i, v) => (i, v.map(_.toFloat)) }
        .toDF("vec_id", "embedding")
      val cb = Pq.trainExact(spark, df, m = 4)
      val got = Pq.topKAdc(df, Pq.encode(spark, df, cb), cb, k = 2)
        .as[(Long, Long, Long)].collect().toSet
      got == brute(corpus, m = 4, k = 2)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("published default operating point clears the 0.8 refined recall@3 floor") {
    // regression pin for Pq.DefaultM/DefaultK/DefaultRerank (r08 shipped
    // a default measuring 0.113 recall@3 — this test makes that class of
    // default impossible to reintroduce silently). Runs on the sf0.01
    // embeddings (500 vectors): big enough that the lossy path is
    // genuinely lossy, small enough for a spec. The headline measurement
    // at sf0.1 lives in the bench quality block (0.997 at r9's knobs).
    val v01 = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), col("embedding"))
    val cb = Pq.train(spark, v01, m = Pq.DefaultM, k = Pq.DefaultK, iters = 3)
    val got = Pq.topKAdcRefined(v01, Pq.encode(spark, v01, cb), v01, cb, k = 3)
      .select(col("vec_id"), col("neighbor_id"))
    val ex3 = Similarity.cosineTopK(v01, 3)
      .select(col("vec_id"), col("neighbor_id")).cache()
    val denom = ex3.count().toDouble
    val rec = got.join(ex3, Seq("vec_id", "neighbor_id")).count() / denom
    ex3.unpersist()
    assert(rec >= 0.8,
      f"refined recall@3 $rec%.3f < 0.8 at the published default " +
        s"(m=${Pq.DefaultM}, k=${Pq.DefaultK}, rerank=${Pq.DefaultRerank})")
  }

  test("refined top-k in exact mode equals the plain exact ADC top-k") {
    // lossless codes => ADC containment is exact, and the re-rank
    // recomputes the same subspace-decomposed sims — the d96 gate's
    // claim, asserted here against the un-refined exact path
    val cb = Pq.trainExact(spark, vecs, m = 8)
    val enc = Pq.encode(spark, vecs, cb)
    val refined = Pq.topKAdcRefined(vecs, enc, vecs, cb, k = 3, rerank = 10)
    val adc = Pq.topKAdc(vecs, enc, cb, k = 3)
    assert(refined.exceptAll(adc).isEmpty && adc.exceptAll(refined).isEmpty)
  }

  test("zero-norm vectors follow ONE convention across ADC, blocked, IVFPQ, refined") {
    // r08 ADVICE: ivfPqTopK filtered zero-norm rows while topKAdc and
    // the d73/d74 oracle rank their NaN sims first — the documented
    // "equals topKAdc at full probes" equivalence held only because the
    // test corpus had no zero vector. The filters are gone; this corpus
    // PLANTS a zero vector and asserts all four paths agree on it.
    import spark.implicits._
    val rows = (0L until 12L).map { i =>
      (i, Array.tabulate(8) { j =>
        if (i == 5L) 0f else (((i * 7 + j * 3) % 5).toFloat - 2f)
      })
    }
    val df = rows.toDF("vec_id", "embedding")
    val cb = Pq.trainExact(spark, df, m = 4)
    val enc = Pq.encode(spark, df, cb)
    val adc = Pq.topKAdc(df, enc, cb, 3)
    // NaN-first is the family's total order: every query's rank-1
    // neighbor is the zero vector (sim = 0/0 = NaN, Double.compare-greatest)
    val r1 = adc.where(col("rank") === 1 && col("vec_id") =!= 5)
      .select(col("neighbor_id")).distinct().collect().map(_.getLong(0)).toSeq
    assert(r1 == Seq(5L), s"NaN sims must rank first, got rank-1 set $r1")
    val blocked = Pq.topKAdc(df, enc, cb, 3, maxBroadcastBytes = 1024)
    assert(adc.exceptAll(blocked).isEmpty && blocked.exceptAll(adc).isEmpty)
    val dv = df.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val model = IvfIndex.build(spark, dv, k = 3, iters = 1)
    val ivfpq = Pq.ivfPqTopK(spark, model, cb, df, k = 3, probes = 3)
    assert(adc.exceptAll(ivfpq).isEmpty && ivfpq.exceptAll(adc).isEmpty)
    val refined = Pq.topKAdcRefined(df, enc, df, cb, 3, rerank = 6)
    assert(adc.exceptAll(refined).isEmpty && refined.exceptAll(adc).isEmpty)
  }

  test("codebook budget and shape guards fail fast") {
    intercept[IllegalArgumentException] {
      Pq.trainExact(spark, vecs, m = 7) // 64 % 7 != 0
    }
    intercept[IllegalArgumentException] {
      Pq.train(spark, vecs, m = 8, k = 1 << 24) // codebook over budget
    }
  }
}
