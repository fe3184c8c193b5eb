package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import graft.ops.{Quantize, Similarity, Tables}

/** The quantizer's contract is arithmetic, so the spec checks the math:
  * codes live in 0..255, the round trip reconstructs within half a
  * quantization step per element, constant vectors survive the hi = lo
  * edge, and quantized exact retrieval stays near the float result
  * (top-1 agreement) — the end-to-end claim d41 hash-gates.
  */
class QuantizeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("quantize-spec")
  private val sf = "/root/testdata/sf0.001"
  override def afterAll(): Unit = spark.stop()

  private def vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))

  test("codes are bounded 0..255 and every vector round-trips within half a step") {
    val q = Quantize.quantizeInt8(vecs).cache()
    val codeBounds = q.select(
      min(array_min(col("codes"))).as("lo"), max(array_max(col("codes"))).as("hi"))
      .head()
    assert(codeBounds.getInt(0) >= 0 && codeBounds.getInt(1) <= 255)

    // worst per-element |x - recon| over the corpus, relative to each
    // vector's step size (hi - lo)/255: must be <= 1/2 everywhere
    val recon = Quantize.dequantize(q).withColumnRenamed("embedding", "r")
    val worst = vecs
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .join(recon, "vec_id")
      .join(q.select(col("vec_id"), ((col("hi") - col("lo")) / 255.0).as("step")), "vec_id")
      .select(expr("aggregate(zip_with(v, r, (a, b) -> abs(a - b)), 0D, (m, e) -> greatest(m, e))")
        .divide(col("step")).as("rel"))
      .agg(max(col("rel"))).head().getDouble(0)
    assert(worst <= 0.5 + 1e-9, s"worst relative reconstruction error $worst > 0.5 steps")
  }

  test("constant vectors (hi = lo) quantize to zero codes and reconstruct exactly") {
    import spark.implicits._
    val const = Seq((1L, Array(0.25f, 0.25f, 0.25f)), (2L, Array(-3f, -3f, -3f)))
      .toDF("vec_id", "embedding")
    val q = Quantize.quantizeInt8(const)
    assert(q.select(array_max(col("codes"))).collect().forall(_.getInt(0) == 0))
    val recon = Quantize.dequantize(q).as[(Long, Array[Double])].collect().toMap
    assert(recon(1L).toSeq == Seq(0.25, 0.25, 0.25) && recon(2L).toSeq == Seq(-3.0, -3.0, -3.0))
  }

  test("quantized exact retrieval agrees with float retrieval on top-1") {
    val exact = Similarity.cosineTopK(vecs).where(col("rank") === 1)
      .select(col("vec_id"), col("neighbor_id").as("e"))
    val quantized = Similarity.cosineTopK(Quantize.dequantize(Quantize.quantizeInt8(vecs)))
      .where(col("rank") === 1)
      .select(col("vec_id"), col("neighbor_id").as("q"))
    val joined = exact.join(quantized, "vec_id").cache()
    val n = joined.count()
    val agree = joined.where(col("e") === col("q")).count()
    assert(n > 0)
    val rate = agree.toDouble / n
    assert(rate >= 0.95, s"quantized top-1 agreement $rate < 0.95 over $n queries")
  }

  test("randomProject matches a sequential reference on a hand vector") {
    import spark.implicits._
    val x = Array(0.5f, -1.25f, 2.0f, 0.75f, -0.125f)
    val out = graft.ops.Quantize.randomProject(
        Seq((7L, x)).toDF("vec_id", "embedding"), outDim = 4)
      .as[(Long, Array[Double])].collect().head._2

    def sign(i: Int, j: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}_$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }
    val ref = (0 until 4).map { j =>
      val s = x.indices.map(i => x(i).toDouble * sign(i, j)).sum / math.sqrt(4.0)
      BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out.toSeq == ref)
  }

  test("randomProject preserves pairwise cosine structure (JL property)") {
    import spark.implicits._
    def cosines(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] = {
      val e = df.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      e.as("a").join(e.withColumnRenamed("v", "w").withColumnRenamed("vec_id", "vec_id2").as("b"),
          col("vec_id") < col("vec_id2"))
        .select(col("vec_id"), col("vec_id2"),
          expr("""aggregate(zip_with(v, w, (p, q) -> p * q), 0D, (s, e) -> s + e)
                 / (sqrt(aggregate(v, 0D, (s, e) -> s + e * e))
                    * sqrt(aggregate(w, 0D, (s, e) -> s + e * e)))""").as("c"))
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, c) => (a, b) -> c }.toMap
    }
    // JL preserves inner products UNBIASEDLY with additive noise
    // ~ 1/sqrt(outDim); near-orthogonal random vectors leave no room
    // for a correlation test, so assert the actual contract: mean
    // signed error ~ 0, RMS error within the JL noise budget.
    val sample = vecs.where(col("vec_id") < 50)
    val orig = cosines(sample)
    val proj = cosines(graft.ops.Quantize.randomProject(sample))
    val pairs = orig.keys.toSeq
    assert(pairs.nonEmpty && pairs.forall(proj.contains))
    val errs = pairs.map(p => proj(p) - orig(p))
    val mean = errs.sum / errs.size
    val rms = math.sqrt(errs.map(e => e * e).sum / errs.size)
    assert(math.abs(mean) < 0.05, s"projection bias $mean")
    assert(rms < 0.35, s"projection RMS error $rms outside the 1/sqrt(16) noise budget")

    // and the discriminative claim: a planted near-identical pair stays
    // near-identical after projection, far above the noise floor
    import spark.implicits._
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val planted = Seq(
      (1000L, base),
      (1001L, base.map(v => v * 1.1f + 0.01f))).toDF("vec_id", "embedding")
    val pc = cosines(graft.ops.Quantize.randomProject(planted))((1000L, 1001L))
    assert(pc > 0.9, s"planted near-duplicate pair projected to cosine $pc")
  }

  test("randomProject is a narrow streaming-safe projection (no shuffle in the plan)") {
    import spark.implicits._
    val local = Seq((1L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val plan = graft.ops.Quantize.randomProject(local)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
