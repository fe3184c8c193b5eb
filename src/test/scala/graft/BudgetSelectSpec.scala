package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.Curation

/** d105 budget-constrained selection: greedy best-first prefix under
  * (score DESC, doc_id), inclusive running total capped by the budget,
  * identical output at any slice count (the prefix sum must not depend
  * on the partitioning).
  */
class BudgetSelectSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("budget-select-spec")
  override def afterAll(): Unit = spark.stop()

  private def docsOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("greedy prefix respects the quality order and the token budget") {
    // scores (stopword ratio over {the,a,of,and,to,in}):
    //   1: "the a of x"   -> 3/4 = 0.75, 4 tokens
    //   2: "the x y z"    -> 1/4 = 0.25, 4 tokens
    //   3: "the a x y"    -> 2/4 = 0.50, 4 tokens
    //   4: "x y z w"      -> 0.0,        4 tokens
    // order: 1 (cum 4), 3 (cum 8), 2 (cum 12 > 10: dropped), 4 dropped
    val docs = docsOf(Seq(
      (1L, "the a of x"), (2L, "the x y z"), (3L, "the a x y"), (4L, "x y z w")))
    val got = Curation.budgetSelect(docs, budget = 10L).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 4L, 3L -> 8L))
  }

  test("selection is partitioning-independent") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Curation.budgetSelect(docs, partitions = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sortBy(_._1).toSeq
    val b = Curation.budgetSelect(docs, partitions = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sortBy(_._1).toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("per-source budgets restart the running total and cap each source") {
    import spark.implicits._
    // two sources: s1's best two docs fit an 8-token budget, s2's best
    // one does; totals must not leak across sources
    val docs = Seq(
      (1L, "the a of x", "s1"), (2L, "the x y z", "s1"), (3L, "x y z w", "s1"),
      (4L, "the a b c", "s2"), (5L, "the a of in", "s2"))
      .toDF("doc_id", "text", "source")
    val got = Curation.sourceBudgetSelect(docs, budget = 8L).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(4)))).toMap
    // s1 order: 1 (0.75, cum 4), 2 (0.25, cum 8), 3 dropped
    // s2 order: 5 (1.0, cum 4), 4 (0.5, cum 8)
    assert(got == Map(
      1L -> (("s1", 4L)), 2L -> (("s1", 8L)),
      5L -> (("s2", 4L)), 4L -> (("s2", 8L))))
  }

  test("per-source selection is partitioning-independent") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Curation.sourceBudgetSelect(docs, partitions = 2).collect()
      .map(r => (r.getLong(0), r.getLong(4))).sortBy(_._1).toSeq
    val b = Curation.sourceBudgetSelect(docs, partitions = 16).collect()
      .map(r => (r.getLong(0), r.getLong(4))).sortBy(_._1).toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("neither budget operator funnels through a single-task stage") {
    // the naive formulation is sum() OVER (ORDER BY ...) with no
    // partitioning — an Exchange SinglePartition. The prefix-sum shape
    // must keep every exchange partitioned.
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    Seq(Curation.budgetSelect(docs), Curation.sourceBudgetSelect(docs))
      .foreach { df =>
        df.write.format("noop").mode("overwrite").save()
        val plan = df.queryExecution.executedPlan.toString
        assert(graft.tools.HeadlinePlans.countNode(plan, "Exchange SinglePartition") == 0,
          plan)
      }
  }

  test("registered d105 binding: inclusive totals within budget, true prefix") {
    val rows = SparkEntry.queries("d105_budget_select")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._4).max <= 10000L)
    // the selected set must be exactly the best-first prefix: re-derive
    // the order locally and replay the greedy cut
    val scored = graft.ops.TextOps.qualityScore(
        graft.ops.Tables.documents(spark, "/root/testdata/sf0.001"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .sortBy { case (id, _, sc) => (-sc, id) }
    var acc = 0L
    val want = scored.iterator.map { case (id, nt, _) =>
      acc += nt; (id, nt, acc)
    }.takeWhile(_._3 <= 10000L).toSeq
    assert(rows.sortBy(_._1).map(t => (t._1, t._2, t._4)).toSeq ==
      want.sortBy(_._1))
  }
}
