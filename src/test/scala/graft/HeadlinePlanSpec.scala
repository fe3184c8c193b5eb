package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.tools.HeadlinePlans
import graft.tools.HeadlinePlans.PlanSig

/** Plan-regression gate for the FROZEN 30-query headline set (r09
  * verdict ask #1): pins each query's final-adaptive-plan signature —
  * join-strategy node counts, shuffle-exchange count, compute nodes
  * outside whole-stage codegen — so a broadcast→SMJ flip, a lost
  * pushdown adding an exchange, or a codegen fallback fails `sbt test`
  * the day it lands instead of surfacing rounds later as a bench-noise
  * debate (the r09 q08 wobble).
  *
  * Recorded at sf0.001 (the spec's scale — AQE elects strategies from
  * runtime sizes, so the recorded signatures are scale-specific;
  * verified stable across repeated runs). After an INTENTIONAL plan
  * change, regenerate with:
  *   sbt "runMain graft.tools.HeadlinePlans"
  * and paste the printed map here — the diff in the commit then
  * documents the plan change explicitly.
  */
class HeadlinePlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("headline-plan-spec")
  override def afterAll(): Unit = spark.stop()

  private val SfDir = "/root/testdata/sf0.001"

  /** The recorded signatures assume the environment they were taken in:
    * AQE elects join strategies and coalesces exchanges from RUNTIME
    * sizes, so a different data directory, shuffle-partition setting, or
    * Spark version can legitimately produce different final plans. On any
    * other environment the signature tests SKIP with the mismatch named
    * (assume), instead of failing spuriously. The core count is not a plan
    * input (shuffle partitions are fixed, AQE decides from data sizes):
    * the signatures recorded at local[32] hold at local[4] too. */
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

  /** Recorded 2026-08 (round 10), sf0.001, local[32],
    * spark.sql.shuffle.partitions=32. Fields: (BroadcastHashJoin,
    * SortMergeJoin, ShuffledHashJoin, BroadcastNestedLoopJoin,
    * CartesianProduct, shuffle Exchanges, compute nodes outside
    * whole-stage codegen). Notable shapes: q25's star join broadcasts
    * all nine dimension arms; q20's single BNLJ is the declared
    * range-join shape (small broadcast side); zero CartesianProduct
    * anywhere; the only codegen fallbacks are window/pivot/as-of
    * operators that have no codegen implementation in Spark itself. */
  private val Expected: Map[String, PlanSig] = Map(
    "q01_pricing_summary" -> PlanSig(1, 0, 0, 0, 0, 3, 0),
    "q02_filter_projection" -> PlanSig(0, 0, 0, 0, 0, 0, 0),
    "q03_broadcast_join_agg" -> PlanSig(2, 0, 0, 0, 0, 1, 0),
    "q04_shuffle_join_agg" -> PlanSig(1, 0, 0, 0, 0, 2, 0),
    "q05_semi_join" -> PlanSig(1, 0, 0, 0, 0, 0, 0),
    "q06_anti_join" -> PlanSig(1, 0, 0, 0, 0, 0, 0),
    "q07_conditional_null" -> PlanSig(0, 0, 0, 0, 0, 0, 0),
    "q08_distinct_pairs" -> PlanSig(0, 0, 0, 0, 0, 1, 0),
    "q09_surrogate_rank" -> PlanSig(0, 0, 0, 0, 0, 0, 0),
    "q10_rollup_region" -> PlanSig(2, 0, 0, 0, 0, 1, 0),
    "q11_cube_segments" -> PlanSig(0, 0, 0, 0, 0, 1, 0),
    "q12_window_running" -> PlanSig(0, 0, 0, 0, 0, 1, 1),
    "q13_topk_parts" -> PlanSig(0, 0, 0, 0, 0, 1, 0),
    "q14_set_ops" -> PlanSig(3, 0, 0, 0, 0, 3, 0),
    "q15_explode_words" -> PlanSig(0, 0, 0, 0, 0, 0, 0),
    "q16_string_funcs" -> PlanSig(0, 0, 0, 0, 0, 0, 0),
    "q17_date_parts" -> PlanSig(0, 0, 0, 0, 0, 1, 0),
    "q18_pivot_status" -> PlanSig(2, 0, 0, 0, 0, 2, 2),
    "q19_nullsafe_join" -> PlanSig(1, 0, 0, 0, 0, 2, 0),
    "q20_range_join" -> PlanSig(0, 0, 0, 1, 0, 1, 0),
    "q21_asof_join" -> PlanSig(0, 0, 0, 0, 0, 2, 1),
    "q22_event_hourly" -> PlanSig(0, 0, 0, 0, 0, 1, 0),
    "q23_sessionize" -> PlanSig(0, 0, 0, 0, 0, 1, 1),
    "q24_json_extract" -> PlanSig(0, 0, 0, 0, 0, 1, 0),
    "q25_star_join" -> PlanSig(9, 0, 0, 0, 0, 5, 0),
    "d01_dedup_exact" -> PlanSig(0, 0, 0, 0, 0, 2, 0),
    "d02_token_stats" -> PlanSig(0, 0, 0, 0, 0, 1, 0),
    "d03_word_freq" -> PlanSig(0, 0, 0, 0, 0, 2, 0),
    "d04_quality_score" -> PlanSig(0, 0, 0, 0, 0, 1, 1),
    "d05_lang_source" -> PlanSig(0, 0, 0, 0, 0, 2, 0)
  )

  test("the frozen headline set is exactly the 30 recorded queries") {
    assert(HeadlinePlans.headlineSet.map(_.name).toSet == Expected.keySet)
  }

  test("q02: filter and projection reach the parquet scan") {
    // the signature counts can't see a lost pushdown that doesn't add
    // an exchange — pin the scan contract directly: predicates appear
    // in PushedFilters and the read schema is pruned to the 5 consumed
    // columns (a scan reading l_comment for this query is wrong).
    assume(new java.io.File(s"$SfDir/lineitem.parquet").exists(),
      s"$SfDir absent on this machine")
    val q = HeadlinePlans.headlineSet.find(_.name == "q02_filter_projection").get
    val plan = q.fn(spark, SfDir).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("l_discount"),
      s"discount predicate missing from the scan:\n$plan")
    assert(!plan.contains("PushedFilters: []"),
      s"no predicates pushed to the scan:\n$plan")
    val readSchema = plan.split("\n").find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"),
      s"scan not column-pruned: $readSchema")
  }

  HeadlinePlans.headlineSet.foreach { q =>
    test(s"${q.name}: final plan signature unchanged") {
      assume(envMismatch.isEmpty,
        s"plan signatures are environment-pinned: ${envMismatch.getOrElse("")}")
      val got = HeadlinePlans.signature(q.fn(spark, SfDir))
      assert(got == Expected(q.name),
        s"\nplan signature changed for ${q.name}:\n  recorded ${Expected(q.name)}\n  current  $got\n" +
          "If intentional, regenerate via `sbt \"runMain graft.tools.HeadlinePlans\"` " +
          "and update the recorded map (the commit diff then documents the plan change).")
    }
  }
}
