package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.Similarity

/** ANN quality bounds: d08's bucket-restricted best neighbor can never
  * beat the exact d07 baseline, must cover most queries, and must find
  * substantially better-than-random neighbors.
  */
class SimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("similarity-spec")
  private val sf = "/root/testdata/sf0.001"
  override def afterAll(): Unit = spark.stop()

  test("d08 ANN is bounded by, and close to, the exact d07 baseline") {
    import spark.implicits._
    val queries = graft.SparkEntry.queries
    // exact top-1 per query from the brute-force baseline
    val exact = queries("d07_cosine_topk")(spark, sf)
      .where($"rank" === 1)
      .select($"vec_id", $"neighbor_id".as("exact_nn"))
    val ann = queries("d08_ann_lsh")(spark, sf)
    val n = graft.ops.Tables.embeddings(spark, sf).count()

    val annRows = ann.collect()
    assert(annRows.nonEmpty)
    // coverage: nearly every query finds at least one bucket-mate
    assert(annRows.length >= (n * 9) / 10, s"coverage ${annRows.length}/$n")

    // the ANN similarity can never exceed the exact top-1 similarity
    val exactBest = queries("d07_cosine_topk")(spark, sf) // ids only; recompute sims exactly
    val joined = ann.as("a").join(exact.as("e"), "vec_id")
    val agree = joined.where($"a.neighbor_id" === $"e.exact_nn").count()
    // multiprobe + corpus-width geometry: recall@1 is 0.93+ at sf0.1 and
    // ~1.0 here (measured with the former AnnTune dev probe) — hold a 0.8 floor
    assert(agree.toDouble / annRows.length > 0.8, s"recall@1 = $agree/${annRows.length}")
  }

  test("semanticContaminationPairs: planted paraphrase found, zero-norm dropped, eval broadcast") {
    import spark.implicits._
    // train vec 1 is a near-copy of eval vec 100 (cos ~0.999); train
    // vec 2 is orthogonal; train vec 3 is a zero vector (failed encode)
    val train = Seq(
      (1L, Array(1.0f, 0.01f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val ev = Seq((100L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = graft.ops.Corpus.semanticContaminationPairs(train, ev, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(out.map(p => (p._1, p._2)) == Set((1L, 100L)))
    assert(out.head._3 > 0.99)
    // the eval side broadcasts; the train side never shuffles
    val plan = graft.ops.Corpus.semanticContaminationPairs(train, ev)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(graft.tools.PlanAudit.countNode(plan, "Exchange hashpartitioning") == 0, plan)
  }

  test("blocked NLJ fallback emits exactly the broadcast baseline's pairs") {
    import spark.implicits._
    val vecs = graft.ops.Tables.embeddings(spark, sf)
    // maxBroadcastBytes = 1 KB forces the fragment-replicate blocked path
    // (sf0.001's table estimates to ~100 KB -> ~100 blocks); the result
    // must be row-identical to the default broadcast plan
    val base7 = Similarity.cosineTopK(vecs)
      .as[(Long, Long, Long)].collect().toSet
    val blocked7 = Similarity.cosineTopK(vecs, maxBroadcastBytes = 1024L)
      .as[(Long, Long, Long)].collect().toSet
    assert(blocked7 == base7, "d07 blocked path diverged from broadcast")
    val base15 = graft.ops.Corpus.cosineNearDupPairs(vecs)
      .as[(Long, Long, Double)].collect().toSet
    val blocked15 = graft.ops.Corpus.cosineNearDupPairs(vecs, maxBroadcastBytes = 1024L)
      .as[(Long, Long, Double)].collect().toSet
    assert(blocked15 == base15, "d15 blocked path diverged from broadcast")
    // and the blocked plan really is broadcast-free
    val plan = Similarity.cosineTopK(vecs, maxBroadcastBytes = 1024L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "blocked path still broadcasts")
  }

  test("cosineTopK kernel equals the blocked pair-stream plan (randomized, zero norms, dups, k > n-1)") {
    // r19: within the broadcast budget cosineTopK scores queries in a
    // primitive k-slot kernel against flat candidate arrays instead of
    // streaming N·(N−1) pair rows through udaf(TopKAgg). The blocked
    // fragment-replicate path (forced by a tiny budget) still runs the
    // legacy pair stream, so equality here pins the kernel against the
    // old plan on a hostile corpus: duplicate vectors (sim ties broken
    // by id) and k exceeding the corpus. Zero-norm rows are tested
    // separately below: under Spark 4's default ANSI mode BOTH shapes
    // must FAIL LOUDLY on them (the legacy double division throws
    // DIVIDE_BY_ZERO; the kernel raises the matching
    // ArithmeticException).
    import spark.implicits._
    val rnd = new scala.util.Random(20260820)
    val base = (0L until 240L).map { id =>
      (id, Array.fill(5)(math.rint(rnd.nextGaussian() * 1000) / 1000.0 + 0.001))
    }
    val rows = base.map { case (id, v) =>
      if (id >= 180 && id < 200) (id, base((id - 180).toInt)._2) else (id, v)
    }
    val vecs = spark.createDataset(rows).toDF("vec_id", "embedding")
    for (k <- Seq(3, 7, 300)) {
      val kernel = Similarity.cosineTopK(vecs, k = k)
        .as[(Long, Long, Long)].collect().toSet
      val legacy = Similarity.cosineTopK(vecs, k = k, maxBroadcastBytes = 1024L)
        .as[(Long, Long, Long)].collect().toSet
      assert(kernel == legacy, s"k=$k")
      assert(kernel.nonEmpty)
    }
    // zero-norm error parity: one failed encode makes both shapes throw
    val withZero = spark.createDataset(
        rows :+ (999L, Array.fill(5)(0.0))).toDF("vec_id", "embedding")
    val eKernel = intercept[Exception] {
      Similarity.cosineTopK(withZero, k = 3).collect()
    }
    assert(exceptionChain(eKernel).exists(_.isInstanceOf[ArithmeticException]),
      s"kernel zero-norm error was ${eKernel}")
    val eLegacy = intercept[Exception] {
      Similarity.cosineTopK(withZero, k = 3, maxBroadcastBytes = 1024L).collect()
    }
    assert(exceptionChain(eLegacy).exists(_.isInstanceOf[ArithmeticException]),
      s"legacy zero-norm error was ${eLegacy}")
  }

  test("cosineTopK and hardNegativeTopK reject k <= 0 on the kernel and blocked paths") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0, 0.0), 0), (2L, Array(0.9, 0.1), 1),
      (3L, Array(0.1, 0.9), 0), (4L, Array(0.0, 1.0), 1))
      .toDF("vec_id", "embedding", "label")
    // the default budget takes the kernel path (cosineTopK) / broadcast
    // join; 16 bytes forces the blocked fragment-replicate join
    for (k <- Seq(0, -1); budget <- Seq(256L << 20, 16L)) {
      intercept[IllegalArgumentException] {
        Similarity.cosineTopK(vecs, k = k, maxBroadcastBytes = budget).collect()
      }
      intercept[IllegalArgumentException] {
        Similarity.hardNegativeTopK(vecs, k = k, maxBroadcastBytes = budget).collect()
      }
    }
    intercept[IllegalArgumentException](new graft.ops.TopKSlots(0))
    // k = 1 still answers on both paths
    for (budget <- Seq(256L << 20, 16L))
      assert(Similarity.cosineTopK(vecs, k = 1, maxBroadcastBytes = budget)
        .as[(Long, Long, Long)].collect().toSet ==
        Set((1L, 1L, 2L), (2L, 1L, 1L), (3L, 1L, 4L), (4L, 1L, 3L)))
  }

  /** The throwable plus its cause chain (Spark wraps task failures). */
  private def exceptionChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq

  test("ANN near-dup pairs: no false positives, high recall vs the exact baseline") {
    import spark.implicits._
    val vecs = graft.ops.Tables.embeddings(spark, sf)
    val exact = graft.ops.Corpus.cosineNearDupPairs(vecs)
      .as[(Long, Long, Double)].collect().toSet
    val ann = Similarity.cosineNearDupPairsAnn(vecs)
      .as[(Long, Long, Double)].collect().toSet
    // every emitted pair passes the exact threshold on the exact cosine:
    // the approximate path can only MISS pairs, never invent them
    assert(ann.subsetOf(exact), s"false positives: ${ann -- exact}")
    assert(exact.nonEmpty, "threshold 0.4 found no pairs — corpus unexpected")
    assert(ann.size.toDouble / exact.size > 0.8,
      s"pair recall ${ann.size}/${exact.size}")
  }

  test("d17 IVF ANN covers all queries and beats chance recall") {
    import spark.implicits._
    val queries = graft.SparkEntry.queries
    val exact = queries("d07_cosine_topk")(spark, sf)
      .where($"rank" === 1)
      .select($"vec_id", $"neighbor_id".as("exact_nn"))
    val ivf = queries("d17_ivf_ann")(spark, sf)
    val n = graft.ops.Tables.embeddings(spark, sf).count()
    val rows = ivf.count()
    assert(rows >= (n * 9) / 10, s"coverage $rows/$n")
    val agree = ivf.as("a").join(exact.as("e"), "vec_id")
      .where($"a.neighbor_id" === $"e.exact_nn").count()
    // probes=12 of K=16 in the query form: recall@1 is 0.95 at sf0.1
    // (bench.json "quality") — hold a 0.8 floor here
    assert(agree.toDouble / rows > 0.8, s"recall@1 = $agree/$rows")
  }

  test("annTopK recall@3: the ANN top-3 largely reproduces the exact top-3") {
    import spark.implicits._
    val vecs = graft.ops.Tables.embeddings(spark, sf)
    val exact = Similarity.cosineTopK(vecs, k = 3)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(vecs, k = 3)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    // set-overlap recall over all (query, neighbor) memberships: looser
    // than rank agreement (a swapped 2nd/3rd place still counts), the
    // right notion for a candidate source feeding rank-insensitive
    // consumers like the majority vote. ~0.99 here (measured); 0.8 floor.
    val hit = (ann & exact).size.toDouble / exact.size
    assert(hit > 0.8, s"recall@3 = ${(ann & exact).size}/${exact.size}")
  }

  test("annTopK at 1-bit full-probe geometry equals the exact top-k (d35)") {
    import spark.implicits._
    val vecs = graft.ops.Tables.embeddings(spark, sf)
    // bits=1, probeFlips=1: probeMasks emits the one flippable bit, so
    // every query probes BOTH signatures of the single 1-bit table and
    // the candidate set is every directed zero-norm-free pair — the LSH
    // pipeline must then reproduce the exact ranking row-for-row (same
    // claim d35's DuckDB oracle hash-gates driver-side)
    val exact = Similarity.cosineTopK(vecs, k = 3)
      .select($"vec_id", $"rank", $"neighbor_id").as[(Long, Long, Long)]
      .collect().toSet
    val degen = Similarity.annTopK(vecs, k = 3, tables = 1,
        bitsPerTable = 1, probeFlips = 1)
      .select($"vec_id", $"rank", $"neighbor_id").as[(Long, Long, Long)]
      .collect().toSet
    assert(degen == exact,
      s"degenerate-LSH rows ${degen.size} vs exact ${exact.size}; " +
        s"diff ${(degen diff exact).take(5)} / ${(exact diff degen).take(5)}")
  }

  test("d30 ANN kNN classification agrees with the exact d28 baseline") {
    import spark.implicits._
    val queries = graft.SparkEntry.queries
    val exact = queries("d28_knn_classify")(spark, sf)
      .select($"vec_id", $"predicted_label".as("exact_label"))
    val ann = queries("d30_knn_classify_ann")(spark, sf)
    val n = graft.ops.Tables.embeddings(spark, sf).count()
    // the one-row-per-input contract holds on the ANN path too: a query
    // with no bucket-mates still emits an explicit NULL/0 abstention row
    val annRows = ann.count()
    assert(annRows == n, s"coverage $annRows/$n")
    // label agreement vs exact kNN — looser than neighbor recall@1 (a
    // missed neighbor often votes the same label), null-safe compare so
    // matching abstentions count as agreement. Measured ~1.0 here (and
    // the per-round value rides in bench.json "quality"); 0.85 floor.
    val agree = ann.select($"vec_id", $"predicted_label").join(exact, "vec_id")
      .where($"predicted_label" <=> $"exact_label").count()
    assert(agree.toDouble / n > 0.85, s"agreement = $agree/$n")
  }

  test("annTopKWhitened: spreads an anisotropic cone raw hyperplanes collapse; recall holds") {
    import spark.implicits._
    // 400 vectors in dim 8, all pointing into one narrow cone (large
    // common mean), residual variance dominated by axis 0 — the shape
    // that defeats origin-through hyperplanes: every dot against every
    // hyperplane is dominated by the shared mean, so raw signatures
    // collapse into one bucket per table.
    def h(i: Int, j: Int): Double = (((i * 31 + j * 17) % 97) / 97.0) - 0.5
    val vecs = (0 until 400).map { i =>
      (i.toLong, (0 until 8).map(j =>
        10.0 + (if (j == 0) 2.0 else 0.08) * h(i, j)).toArray)
    }.toDF("vec_id", "embedding").localCheckpoint()
    val e = graft.ops.Similarity.normalizedVecs(vecs).localCheckpoint()
    val rawCands = graft.ops.Similarity
      .annCandidatePairs(e, tables = 4, bits = 8, probeFlips = 3).count()
    val whCands = graft.ops.Similarity
      .annCandidatePairs(graft.ops.Similarity.whitened(e),
        tables = 4, bits = 8, probeFlips = 3).count()
    // the collapsed cone yields ~all-pairs per table x probe surfacing;
    // whitened signatures must cut candidate volume by at least 3x
    assert(whCands * 3 <= rawCands, s"whitened $whCands vs raw $rawCands")
    // and the candidates that remain are the right ones: top-3 recall
    // vs the exact baseline stays high (random top-3 of 399 ~ 0.008)
    val exactTop = graft.ops.Similarity.cosineTopK(vecs, 3)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val whTop = graft.ops.Similarity
      .annTopKWhitened(vecs, 3, tables = 4, bitsPerTable = 8, probeFlips = 3)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (whTop & exactTop).size.toDouble / exactTop.size
    assert(recall >= 0.5, s"recall $recall")
  }
}
