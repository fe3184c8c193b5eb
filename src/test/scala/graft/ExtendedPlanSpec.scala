package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.tools.{ExtendedPlans, HeadlinePlans}
import graft.tools.HeadlinePlans.PlanSig

/** Plan-regression gate for the EXTENDED surface's ten most expensive
  * queries (r16 verdict ask #2): with the extended bench running
  * per-family fresh JVMs, round-over-round timings are noisier by
  * construction — a silent plan regression (broadcast→SMJ flip, lost
  * pushdown adding an exchange, codegen fallback, or worst, a new
  * CartesianProduct) would surface only as an ambiguous timing drift.
  * This spec pins each query's final-adaptive-plan signature the way
  * [[HeadlinePlanSpec]] pins the frozen 30, plus one structural
  * invariant regardless of recorded counts: zero CartesianProduct
  * nodes outside the two DECLARED exact-baseline scorers (d171/d189
  * stream their all-pairs scoring into the bounded TopKAgg by design —
  * that is their adjudication role, not a regression; at the spec's
  * scale AQE compiles d171's non-equi self-join to a CartesianProduct
  * with the =!= filter fused). BroadcastNestedLoopJoin counts are
  * pinned per query, not forbidden: the 1-row anchor/stats
  * `crossJoin(broadcast(...))` scalar fan-outs compile to BNLJ — the
  * correct shape, a broadcast of one row — so a regression is a COUNT
  * change, not the node's existence.
  *
  * Recorded at sf0.001 (AQE elects strategies from runtime sizes, so
  * signatures are scale-specific; stability verified across repeated
  * generator runs). After an INTENTIONAL plan change regenerate with:
  *   sbt "runMain graft.tools.ExtendedPlans"
  * and paste the printed map here — the commit diff then documents
  * the plan change explicitly.
  */
class ExtendedPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("extended-plan-spec")
  override def afterAll(): Unit = spark.stop()

  private val SfDir = "/root/testdata/sf0.001"

  /** [[HeadlinePlanSpec]]'s environment pin: AQE-final signatures are
    * only reproducible in the environment they were recorded in, so
    * elsewhere the tests SKIP with the mismatch named. */
  private lazy val envMismatch: Option[String] = {
    val recordedSpark = "4.1"
    if (!new java.io.File(s"$SfDir/lineitem.parquet").exists())
      Some(s"recorded against $SfDir, which is absent here")
    else if (spark.conf.get("spark.sql.shuffle.partitions") != "32")
      Some("recorded at spark.sql.shuffle.partitions=32, session has " +
        spark.conf.get("spark.sql.shuffle.partitions"))
    else if (!spark.version.startsWith(recordedSpark))
      Some(s"recorded on Spark $recordedSpark.x, running ${spark.version}")
    else None
  }

  /** Queries whose all-pairs (cartesian / nested-loop) scoring is their
    * DECLARED shape: the exact baselines streaming into TopKAgg. (r19:
    * d171 left this set — its N² scoring now runs as a partition-local
    * primitive kernel against a broadcast of the maxNodes-guarded
    * candidate side, so its plan carries no CartesianProduct at all;
    * d189's full-probe candidate fan-out likewise now scores inside
    * the cell-keyed CoGroup kernel, so no query's plan may carry a
    * cartesian any more — the set stays as documentation of d189's
    * declared N² SEMANTICS should a future plan change resurface
    * one.) */
  private val DeclaredAllPairs = Set("d189_embedding_related_ann_exact")

  /** Recorded 2026-08 (round 17), sf0.001, local[32],
    * spark.sql.shuffle.partitions=32. Fields: (BroadcastHashJoin,
    * SortMergeJoin, ShuffledHashJoin, BroadcastNestedLoopJoin,
    * CartesianProduct, shuffle Exchanges, compute nodes outside
    * whole-stage codegen). The index-served reads (d182/d160/d153)
    * show the pair-keyed aggregation over index rows; the fixed-point
    * queries (d128/d145/d186) show only their post-localCheckpoint
    * final sweep — lineage truncation is the point (bounded plans at
    * any iteration count). */
  private val Expected: Map[String, PlanSig] = Map(
    // r19: CartesianProduct+Exchange → zero of everything — the exact
    // N² scoring moved from BNLJ + udaf(TopKAgg) into the broadcast
    // primitive-array kernel (one mapPartitions over the guarded
    // candidate frame; row-identical, oracle-proven at sf0.01 + sf0.1)
    "d171_embedding_related" -> PlanSig(0, 0, 0, 0, 0, 0, 0),
    // r19: −1 BHJ / +2 Exchanges — searchTopK's scoring half moved from
    // the probed-cell candidate JOIN (every candidate a row through
    // udaf(TopKAgg)) to a cell-keyed CoGroup whose primitive kernel
    // emits k-row partials per (query, cell); the two added exchanges
    // are the cogroup's hash partitionings (at scale the join was
    // never broadcastable — the cells side is the corpus — so the
    // exchange count is a wash while the final aggregation input drops
    // from probes·N/K to probes·k rows per query)
    "d189_embedding_related_ann_exact" -> PlanSig(0, 0, 0, 0, 0, 3, 8),
    "d54_training_shards" -> PlanSig(0, 0, 0, 0, 0, 1, 1),
    // r18: −2 Exchanges — the iteration-constant nNodes broadcast now
    // reads a driver-collected literal instead of re-deriving the
    // union+distinct+join node universe inside every iteration
    "d186_decayed_pagerank_warm" -> PlanSig(2, 0, 0, 2, 0, 3, 0),
    "d182_decayed_indexed" -> PlanSig(0, 0, 0, 1, 0, 1, 0),
    "d153_bm25_topk_indexed" -> PlanSig(2, 0, 0, 1, 0, 5, 3),
    // r18: −2 Exchanges — same nNodes-literal change as d186
    "d128_pagerank" -> PlanSig(2, 0, 0, 2, 0, 5, 0),
    "d145_hits" -> PlanSig(8, 1, 0, 4, 0, 12, 0),
    "d130_record_linkage" -> PlanSig(2, 0, 0, 0, 0, 3, 1),
    "d160_edge_index" -> PlanSig(0, 0, 0, 0, 0, 1, 0),
    // the served sibling: same r19 CoGroup-kernel shape as its
    // exact-mode twin d189 (only the probe count differs); a cartesian
    // here would re-quadratize serving
    "d187_embedding_related_ann" -> PlanSig(0, 0, 0, 0, 0, 3, 8)
  )

  test("the pinned set resolves against the registered surface") {
    ExtendedPlans.PinnedNames.foreach { n =>
      assert(SparkEntry.queries.contains(n), s"$n not registered")
    }
    assert(Expected.keySet == ExtendedPlans.PinnedNames.toSet,
      "recorded map out of sync with ExtendedPlans.PinnedNames")
  }

  ExtendedPlans.pinnedSet.foreach { case (name, fn) =>
    test(s"$name: final plan signature unchanged; cartesian only where declared") {
      assume(envMismatch.isEmpty,
        s"plan signatures are environment-pinned: ${envMismatch.getOrElse("")}")
      val got = HeadlinePlans.signature(fn(spark, SfDir))
      if (!DeclaredAllPairs(name))
        assert(got.cartesian == 0,
          s"$name grew a CartesianProduct outside the declared exact " +
            s"baselines: $got")
      assert(got == Expected(name),
        s"\nplan signature changed for $name:\n  recorded ${Expected(name)}\n  current  $got\n" +
          "If intentional, regenerate via `sbt \"runMain graft.tools.ExtendedPlans\"` " +
          "and update the recorded map (the commit diff then documents the plan change).")
    }
  }
}
