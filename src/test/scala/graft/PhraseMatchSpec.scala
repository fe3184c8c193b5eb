package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.Corpus

/** d111 phrase search: overlapping occurrences count per start
  * position, non-matching docs are absent, matching is case/whitespace
  * normalized, and phrase terms are data (never expression syntax).
  */
class PhraseMatchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("phrase-match-spec")
  override def afterAll(): Unit = spark.stop()

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("counts overlapping starts; omits non-matching docs; normalizes case") {
    val docs = docsOf(
      (1L, "a a a b"),          // "a a" starts at 1 and 2
      (2L, "A  a c"),           // case + run of spaces -> 1 match
      (3L, "b c d"),            // no match -> absent
      (4L, "a"))                // shorter than the phrase -> absent
    val got = Corpus.phraseMatch(docs, "a a").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L))
  }

  test("a quoting phrase term stays data, not syntax") {
    val docs = docsOf((1L, "don't stop me now"), (2L, "dont stop"))
    val got = Corpus.phraseMatch(docs, "don't stop").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L))
  }

  test("the phrase scan plans as a pure narrow pipeline (zero exchanges)") {
    val docs = docsOf((1L, "a b a b"), (2L, "c d"))
    val df = Corpus.phraseMatch(docs, "a b")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(graft.tools.HeadlinePlans.countNode(plan, "Exchange") == 0, plan)
  }

  test("registered d111 binding: matches exist and reconcile with a contains scan") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val got = SparkEntry.queries("d111_phrase_match")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "fixture phrase must occur in the corpus")
    // every reported doc really contains the substring form; every doc
    // containing the token-bounded substring is reported
    import org.apache.spark.sql.functions._
    val want = docs
      .where(concat(lit(" "), lower(trim(col("text"))), lit(" "))
        .contains(" table scan "))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got.keySet == want)
    assert(got.values.forall(_ >= 1L))
  }
}
