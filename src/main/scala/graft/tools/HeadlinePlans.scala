package graft.tools

import org.apache.spark.sql.DataFrame

/** Physical-plan fingerprinting for the FROZEN 30-query headline set
  * (the r01 baseline set: Relational q01–q25 + TextOps d01–d05).
  *
  * The bench number is the only longitudinal signal; a silent plan
  * regression (a broadcast→SMJ flip, a lost pushdown adding an
  * exchange, a new codegen fallback) would surface rounds later as a
  * bench-noise debate (the r09 q08 wobble). `HeadlinePlanSpec` pins
  * each headline query's [[PlanSig]] — join-strategy node counts,
  * shuffle-exchange count, compute nodes outside whole-stage codegen —
  * so a plan change fails `sbt test` the day it happens, with the
  * before/after counts in the failure message.
  *
  * The signature reads the FINAL adaptive plan (AQE finalized by an
  * actual execution), because that is the plan the bench pays for:
  * join strategies here are what AQE elected at the recorded data
  * scale, not what the initial static plan guessed.
  *
  * Regenerate recorded signatures after an intentional plan change:
  *   sbt "runMain graft.tools.HeadlinePlans [sfDir]"
  * prints the expectation map in paste-ready form (default sf0.001 —
  * the spec's scale; signatures are data-scale-dependent because AQE
  * elects strategies from runtime sizes, so spec and generator must
  * agree on the directory).
  */
object HeadlinePlans {

  /** Counts over the final physical plan. `exchanges` counts SHUFFLE
    * exchanges only (`Exchange hashpartitioning/…` nodes — broadcast
    * exchanges are implied by the join counts and `ReusedExchange` is a
    * reuse, not a new shuffle). `uncodegened` counts compute operators
    * (aggregate/project/filter/join/window/expand/generate) printed
    * WITHOUT the `*(n)` whole-stage-codegen marker — a regression here
    * means a hot-path operator fell out of codegen. */
  case class PlanSig(bhj: Int, smj: Int, shj: Int, bnlj: Int,
      cartesian: Int, exchanges: Int, uncodegened: Int)

  private val ComputeOps = Seq("HashAggregate", "ObjectHashAggregate",
    "SortAggregate", "Project", "Filter", "SortMergeJoin",
    "BroadcastHashJoin", "ShuffledHashJoin", "Window", "Expand", "Generate")

  /** Count plan-tree lines whose OPERATOR NAME starts with `node` — the
    * token must sit right after the tree-drawing prefix (`:  +- ` etc.)
    * and the optional codegen marker (`*(3) `), so a column alias or
    * file path that merely CONTAINS the token (e.g. a column named
    * `window_end`, a path `.../Window/`) can never inflate the count.
    * Multi-word nodes ("Exchange hashpartitioning(doc_id") match as
    * prefixes of the operator line.
    */
  def countNode(plan: String, node: String): Int = {
    val re = ("""^[\s:+\-|]*(?:\*\(\d+\)\s)?""" +
      java.util.regex.Pattern.quote(node)).r
    plan.split("\n").count(l => re.findPrefixOf(l).isDefined)
  }

  /** Execute the frame so AQE finalizes, then fingerprint the final
    * plan section only (the printed tree repeats the initial plan below
    * a `== Initial Plan ==` divider — counting that would double every
    * node and track the un-adapted guess besides). */
  def signature(df: DataFrame): PlanSig = {
    df.collect()
    val whole = df.queryExecution.executedPlan.toString
    val cut = whole.indexOf("== Initial Plan ==")
    val plan = if (cut >= 0) whole.substring(0, cut) else whole
    val uncodegened = plan.split("\n").count { l =>
      val t = l.dropWhile(c => " :+-|".indexOf(c.toInt) >= 0)
      ComputeOps.exists(op => t.startsWith(op))
    }
    PlanSig(
      bhj = countNode(plan, "BroadcastHashJoin"),
      smj = countNode(plan, "SortMergeJoin"),
      shj = countNode(plan, "ShuffledHashJoin"),
      bnlj = countNode(plan, "BroadcastNestedLoopJoin"),
      cartesian = countNode(plan, "CartesianProduct"),
      exchanges = countNode(plan, "Exchange"),
      uncodegened = uncodegened)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Sessions.build("headline-plans")
    graft.SparkEntry.headline.foreach { q =>
      val s = signature(q.fn(spark, sfDir))
      println(s"""    "${q.name}" -> PlanSig(${s.bhj}, ${s.smj}, ${s.shj}, ${s.bnlj}, ${s.cartesian}, ${s.exchanges}, ${s.uncodegened}),""")
    }
    spark.stop()
  }
}
