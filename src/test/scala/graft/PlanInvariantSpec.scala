package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.ops.{Curation, IvfIndex, Lexical, MgAgg, Pq, Quantize, Similarity,
  Tables, TextOps}
import graft.tools.HeadlinePlans.countNode

/** Plan-shape invariants of the operators whose scale story rests on
  * their physical plan rather than on a timing: no all-pairs join where
  * an equi-join or a broadcast lookup is the design, no Window where the
  * ranking is an aggregate + join, no shuffle where the pass is narrow.
  *
  * Each frame is the operator applied to the sf0.01 test tables, and the
  * assertions read the executed (initial adaptive) plan text through
  * [[countNode]]. Only the zero / at-least-one
  * invariants are asserted: the other node counts (how many joins AQE
  * elects to broadcast, how many exchanges) follow from data sizes.
  * Invariants already pinned by another spec are not repeated here:
  * mixWeights' zero Window (CurationSpec) and groupRank's zero Window
  * (CurationSpec).
  *
  * The suite cancels when the sf0.01 tables are absent;
  * `tools/status_counts.py` counts such a cancel as a failure when they
  * are present.
  */
class PlanInvariantSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("plan-invariant-spec")
  override def afterAll(): Unit = spark.stop()

  private val SfDir = "/root/testdata/sf0.01"

  private lazy val docs = Tables.documents(spark, SfDir)
  private lazy val vecs = Tables.embeddings(spark, SfDir)
  private lazy val boilerplate = Curation.plantedBoilerplate(docs)

  private def plan(df: => Dataset[_]): String = {
    assume(new java.io.File(s"$SfDir/documents.parquet").exists(),
      s"$SfDir is absent")
    df.queryExecution.executedPlan.toString
  }

  private def nestedLoops(p: String): Int =
    countNode(p, "CartesianProduct") + countNode(p, "BroadcastNestedLoop")

  test("d30 knnClassifyAnn: the LSH bucket join is never a nested loop") {
    val p = plan(Similarity.knnClassifyAnn(vecs))
    assert(nestedLoops(p) == 0, p)
  }

  test("d31 materializeMix: no doc_id exchange on the docs path") {
    val p = plan(Curation.materializeMix(docs, Curation.mixWeights(docs)))
    assert(countNode(p, "Exchange hashpartitioning(doc_id") == 0, p)
  }

  test("d44 unigramPpl: no CartesianProduct") {
    val p = plan(Curation.unigramPpl(docs))
    assert(countNode(p, "CartesianProduct") == 0, p)
  }

  test("d47 dsirWeights: no CartesianProduct, no (doc_id, token) exchange") {
    val p = plan(Curation.dsirWeights(docs, docs.where(col("lang") === "en")))
    assert(countNode(p, "CartesianProduct") == 0, p)
    assert(countNode(p, "Exchange hashpartitioning(doc_id, token") == 0, p)
  }

  test("d59 hardNegativeTopK: no CartesianProduct") {
    val p = plan(Similarity.hardNegativeTopK(vecs))
    assert(countNode(p, "CartesianProduct") == 0, p)
  }

  test("d60 containmentPairs: candidates come from an equi-join, never a nested loop") {
    val p = plan(Similarity.containmentPairs(docs))
    assert(nestedLoops(p) == 0, p)
  }

  test("d62/d63 dupSpanIntervals and dedupScrub: no nested loop") {
    val p62 = plan(Curation.dupSpanIntervals(docs))
    assert(nestedLoops(p62) == 0, p62)
    val p63 = plan(Curation.dedupScrub(docs))
    assert(nestedLoops(p63) == 0, p63)
  }

  test("d68 sourceOverlap: the word self-join is an equi-join, never a nested loop") {
    val p = plan(TextOps.sourceOverlap(docs))
    assert(nestedLoops(p) == 0, p)
  }

  test("d71 projected cosine top-k: no CartesianProduct") {
    val p = plan(Similarity.cosineTopK(Quantize.randomProject(vecs)))
    assert(countNode(p, "CartesianProduct") == 0, p)
  }

  test("d74 ivfPqTopK: the probe-to-cell join is never a nested loop") {
    val p = plan {
      val codebook = Pq.trainExact(spark, vecs, m = 8)
      val dv = vecs.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      val model = IvfIndex.build(spark, dv, k = 16, iters = 1)
      Pq.ivfPqTopK(spark, model, codebook, vecs, k = 3, probes = 16)
    }
    assert(nestedLoops(p) == 0, p)
  }

  test("d76 heavy hitters: the MG aggregation has no token exchange") {
    // heavyHitters itself is eager (it returns the bounded local
    // summary), so this audits the aggregation it runs
    val p = plan(docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .as[String](org.apache.spark.sql.Encoders.STRING)
      .select(new MgAgg(4096).toColumn))
    assert(countNode(p, "Exchange hashpartitioning(token") == 0, p)
  }

  test("d77 pmiBigrams: no CartesianProduct, no doc_id exchange") {
    val p = plan(Lexical.pmiBigrams(docs))
    assert(countNode(p, "CartesianProduct") == 0, p)
    assert(countNode(p, "Exchange hashpartitioning(doc_id") == 0, p)
  }

  test("d78/d79 charEntropy and lexicalDiversity: no hash exchange") {
    val p78 = plan(Lexical.charEntropy(docs))
    assert(countNode(p78, "Exchange hashpartitioning") == 0, p78)
    val p79 = plan(Lexical.lexicalDiversity(docs))
    assert(countNode(p79, "Exchange hashpartitioning") == 0, p79)
  }

  test("d83 unkReplace: no CartesianProduct, no Window") {
    val p = plan(Lexical.unkReplace(docs))
    assert(countNode(p, "CartesianProduct") == 0, p)
    assert(countNode(p, "Window") == 0, p)
  }

  test("d88 groupRank: the offsets join is a BroadcastHashJoin") {
    // a varied group column: a lit() constant would let Catalyst fold
    // the join key
    val p = plan {
      val keyed = docs
        .withColumn("source", concat(lit("s"), (col("doc_id") % 7).cast("string")))
        .select(col("doc_id"), col("source"),
          md5(concat_ws(":", lit("graft"), col("doc_id").cast("string"))).as("skey"))
      Curation.groupRank(keyed, "source", Seq(col("skey"), col("doc_id")),
        "rank_in_group")
    }
    assert(countNode(p, "BroadcastHashJoin") >= 1, p)
  }

  test("d95 boilerplateScrub: broadcast anti drop, no nested loop, no Window") {
    val p = plan(Curation.boilerplateScrub(boilerplate))
    assert(countNode(p, "BroadcastHashJoin") >= 1, p)
    assert(nestedLoops(p) == 0, p)
    assert(countNode(p, "Window") == 0, p)
  }

  test("d98 paragraphDedup: no nested loop, no Window") {
    val p = plan(Curation.paragraphDedup(boilerplate, sep = "\n"))
    assert(nestedLoops(p) == 0, p)
    assert(countNode(p, "Window") == 0, p)
  }
}
