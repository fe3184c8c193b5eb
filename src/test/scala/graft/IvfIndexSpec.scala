package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

import graft.ops.IvfIndex

/** IvfIndex contract: the build is deterministic and budgeted, and the
  * probed search ranks exactly like the exact cosine baseline.
  */
class IvfIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("ivf-index-spec")
  private val sf = "/root/testdata/sf0.001"
  override def afterAll(): Unit = spark.stop()

  test("build is bit-deterministic under any partitioning and row order") {
    // the determinism contract build()'s scaladoc declares: seeds are
    // id-ordered, Lloyd accumulates fixed-point LONGS (integer addition
    // is order-independent where double addition is not), means divide
    // exact operands, ties break by lowest cell — so the trained
    // quantizer must be BIT-identical across partition counts, split
    // plans, and row orders. This is what lets the same corpus train
    // the same index on 10 executors or 1000, and what makes d17
    // golden-gateable.
    import spark.implicits._
    val e = graft.ops.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
    def cents(df: org.apache.spark.sql.DataFrame): Seq[Seq[Double]] =
      IvfIndex.build(spark, df, k = 8, iters = 3).centroids.toSeq.map(_.toSeq)
    val base = cents(e)
    assert(cents(e.repartition(3)) == base, "3-partition build differs")
    assert(cents(e.repartition(17)) == base, "17-partition build differs")
    assert(cents(e.orderBy(col("vec_id").desc)) == base,
      "reversed row order differs")
  }

  test("searchTopK at probes = K equals the exact cosine top-k") {
    import spark.implicits._
    // with every cell probed the candidate set is the whole corpus, so
    // the IVF ranking must reproduce the exact baseline row-for-row —
    // schema-compatible by design (vec_id, rank, neighbor_id). Scope:
    // this corpus has no zero-norm vectors; on one that does, the ANN
    // family excludes them (design) while the exact baseline ranks
    // their NaN cosine greatest — see the searchTopK scaladoc
    val vecs = graft.ops.Tables.embeddings(spark, sf)
    val e = vecs.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val model = IvfIndex.build(spark, e, k = 8, iters = 2)
    val ivf = IvfIndex.searchTopK(spark, model, e, k = 3, probes = 8)
      .as[(Long, Long, Long)].collect().toSet
    val exact = graft.ops.Similarity.cosineTopK(vecs, k = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(ivf == exact)
    // restricted probes: rank-1 agrees with search()'s best neighbor
    val top1 = IvfIndex.searchTopK(spark, model, e, k = 3, probes = 2)
      .where(col("rank") === 1)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> t._3).toMap
    val best = IvfIndex.search(spark, model, e, probes = 2)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._2).toMap
    assert(top1 == best)
  }

  test("partial-top-k kernel equals the legacy pair-stream plan (randomized, zero norms, dups, k > cell)") {
    // r19: searchTopK scores each (query, cell) group in a primitive
    // kernel emitting k-row partials instead of streaming every candidate
    // through udaf(TopKAgg). The selection must be row-identical to the
    // legacy pair-stream plan on ANY corpus: zero-norm rows (excluded on
    // both sides), duplicated vectors (sim ties broken by id), k larger
    // than a probed cell's population (fewer rows emitted), restricted
    // and full probes.
    import spark.implicits._
    val rnd = new scala.util.Random(20260819)
    val base = (0L until 300L).map { id =>
      val v =
        if (id % 37 == 0) Array.fill(6)(0.0) // failed encodes
        else Array.fill(6)(math.rint(rnd.nextGaussian() * 1000) / 1000.0)
      (id, v)
    }
    // ids 200..219 duplicate ids 0..19's vectors: every sim against them
    // ties and the (sim DESC, id ASC) order must break identically
    val rows = base.map { case (id, v) =>
      if (id >= 200 && id < 220) (id, base((id - 200).toInt)._2) else (id, v)
    }
    val e = spark.createDataset(rows).toDF("vec_id", "v")
    for ((kcells, probes, k) <- Seq((7, 3, 5), (7, 7, 4), (3, 2, 50))) {
      val model = IvfIndex.build(spark, e, k = kcells, iters = 2)
      val kernel = IvfIndex.searchTopK(spark, model, e, k = k, probes = probes)
        .as[(Long, Long, Long)].collect().toSet
      val legacy = graft.ops.Similarity.topKRanks(
          IvfIndex.probedSims(spark, model, e, probes), k)
        .as[(Long, Long, Long)].collect().toSet
      assert(kernel == legacy, s"kcells=$kcells probes=$probes k=$k")
      assert(kernel.nonEmpty)
    }
  }

  test("k = 0 derives ~sqrt(N) cells; explicit k is honored") {
    import graft.ops.IvfIndex.autoK
    assert(autoK(0L, 8) == 1)
    assert(autoK(100L, 8) == 10)
    assert(autoK(1000000L, 8) == 1000)
    assert(autoK(1L << 40, 8) == 65536) // row cap at small dims
    val e = graft.ops.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val n = e.count()
    val dim = 8
    val auto = IvfIndex.build(spark, e, iters = 1)
    assert(auto.centroids.length == autoK(n, dim), s"n=$n -> ${auto.centroids.length}")
    val explicit = IvfIndex.build(spark, e, k = 5, iters = 1)
    assert(explicit.centroids.length == 5)
  }

  test("centroid cap is byte-budgeted by dimensionality, not a flat row count") {
    import graft.ops.IvfIndex.{autoK, CentroidBudgetBytes}
    val huge = 1L << 40
    // at dim 8192, 65536 centroids would be 4 GB of driver heap; the
    // derived cap keeps the collect at <= 256 MB = 4096 cells
    assert(autoK(huge, 8192) == (CentroidBudgetBytes / (8192L * 8)).toInt)
    assert(autoK(huge, 8192) == 4096)
    // monotone: wider vectors, fewer cells; never below 1
    assert(autoK(huge, 1 << 26) == 1)
    // an explicit k over the budget fails fast instead of OOMing mid-Lloyd
    import spark.implicits._
    val wide = Seq((1L, Array.fill(8192)(0.5)), (2L, Array.fill(8192)(0.7)))
      .toDF("vec_id", "v")
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.build(spark, wide, k = 65536, iters = 1)
    }
    assert(ex.getMessage.contains("centroid budget"))
  }
}
