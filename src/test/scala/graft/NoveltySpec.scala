package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

import graft.ops.Corpus

/** d102 corpus-novelty scoring: planted base/probe corpora with known
  * bigram overlap, edge cases (one-word and fully-recited docs), and the
  * registered binding's row/bound invariants on the driver tables.
  */
class NoveltySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("novelty-spec")
  override def afterAll(): Unit = spark.stop()

  private def docsOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("planted bigram overlap produces the expected counts") {
    val base = docsOf(Seq((1L, "a b c"), (2L, "x y")))
    // doc 10: grams {a b, b x} — "a b" seen, "b x" novel -> 1/2
    // doc 11: grams {a b, b c} — both seen -> 0/2
    // doc 12: grams {q r}      — novel -> 1/1
    // doc 13: one word, no grams -> NO row
    val probe = docsOf(Seq(
      (10L, "a b x"), (11L, "a b c"), (12L, "q r"), (13L, "solo")))
    val got = Corpus.noveltyScore(base, probe).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map(
      10L -> ((2L, 1L, 0.5)),
      11L -> ((2L, 0L, 0.0)),
      12L -> ((1L, 1L, 1.0))))
  }

  test("repeated bigrams within a doc count once (distinct-gram domain)") {
    val base = docsOf(Seq((1L, "a b")))
    val probe = docsOf(Seq((10L, "a b a b a b")))
    // grams of probe: {a b, b a} distinct -> 2 grams, 1 novel (b a)
    val r = Corpus.noveltyScore(base, probe).collect().head
    assert((r.getLong(1), r.getLong(2)) == ((2L, 1L)))
  }

  test("registered d102 binding: bounds hold, probe side only") {
    val df = SparkEntry.queries("d102_novelty_score")(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 3 != 0, "scored doc must come from the probe side")
      val (n, novel, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(n >= 1 && novel >= 0 && novel <= n)
      assert(math.abs(ratio - math.rint(novel.toDouble / n * 10000) / 10000) < 1e-9 ||
        ratio == BigDecimal(novel.toDouble / n)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("noveltyScoreFrom scores a document stream against a frozen vocabulary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the d102/d106 scoring half is a stream-static join + aggregation,
    // so an arriving snapshot can be novelty-scored as it lands
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val vocab = Corpus.bigramVocab(Seq((1L, "a b c")).toDF("doc_id", "text"))
    val q = Corpus
      .noveltyScoreFrom(in.toDF().toDF("doc_id", "text"), vocab)
      .writeStream.format("memory").queryName("novelty_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete).start()
    try {
      in.addData((10L, "a b x"), (11L, "a b c"))
      q.processAllAvailable()
      val rows = spark.table("novelty_stream").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
      assert(rows == Map(
        10L -> ((2L, 1L, 0.5)),  // {a b} seen, {b x} novel
        11L -> ((2L, 0L, 0.0))))
    } finally q.stop()
  }
}
