package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

import graft.ops.{Curation, LineIndex}

/** Persisted line document-frequency index (d97): served scrubs must
  * equal the one-shot d95 computation on the indexed corpus, per-batch
  * counts must be ADDITIVE across document-disjoint batches, the
  * disjointness contract must be enforceable, and reads must fail
  * closed on an uncommitted index — the contract the other six index
  * families carry.
  */
class LineIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("line-index-spec")
  override def afterAll(): Unit = spark.stop()

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val corpus = Seq(
    1L -> "SITE HEADER\nunique one\nshared pair",
    2L -> "SITE HEADER\nunique two\nshared pair",
    3L -> "SITE HEADER\nunique three",
    4L -> "SITE HEADER\nunique four")

  test("scrubAgainst the full indexed corpus equals the one-shot boilerplateScrub") {
    val dir = java.nio.file.Files.createTempDirectory("graft-linedf-direct").toString
    val docs = docsOf(corpus: _*)
    LineIndex.save(docs, dir)
    val served = LineIndex.scrubAgainst(spark, docs, dir, maxDocFreq = 2)
    val direct = Curation.boilerplateScrub(docs, maxDocFreq = 2)
    assert(served.exceptAll(direct).isEmpty && direct.exceptAll(served).isEmpty)
    // the rule actually fired: SITE HEADER (df 4) dropped everywhere,
    // "shared pair" (df 2) kept at the > 2 threshold
    val texts = served.select(col("clean_text")).collect().map(_.getString(0))
    assert(texts.forall(!_.contains("SITE HEADER")))
    assert(texts.count(_.contains("shared pair")) == 2)
  }

  test("append is additive: two disjoint halves equal one whole-corpus save") {
    val whole = java.nio.file.Files.createTempDirectory("graft-linedf-w").toString
    val split = java.nio.file.Files.createTempDirectory("graft-linedf-s").toString
    val docs = docsOf(corpus: _*)
    LineIndex.save(docs, whole)
    LineIndex.save(docsOf(corpus.take(2): _*), split)
    LineIndex.append(docsOf(corpus.drop(2): _*), split, checkDisjoint = true)
    val a = LineIndex.lineDocFreq(spark, whole)
    val b = LineIndex.lineDocFreq(spark, split)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // a line seen once per batch sums to 2 — the additive fact that
    // makes append never rewrite old batches ("SITE HEADER" df: 2 + 2)
    val hdr = b.where(col("line_hash") === md5(lit("SITE HEADER")))
      .select(col("df")).head().getLong(0)
    assert(hdr == 4L)
  }

  test("checkDisjoint refuses a batch overlapping indexed doc_ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-linedf-dj").toString
    LineIndex.save(docsOf(corpus.take(3): _*), dir)
    val overlapping = docsOf(3L -> "seen id again", 9L -> "fresh")
    intercept[IllegalArgumentException] {
      LineIndex.append(overlapping, dir, checkDisjoint = true)
    }
    // without the check the (documented-unsafe) append goes through
    LineIndex.append(docsOf(9L -> "fresh"), dir)
  }

  test("reads fail closed on an uncommitted index; compaction preserves counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-linedf-fc").toString
    intercept[IllegalArgumentException] {
      LineIndex.lineDocFreq(spark, dir)
    }
    val docs = docsOf(corpus: _*)
    LineIndex.save(docsOf(corpus.take(2): _*), dir)
    LineIndex.append(docsOf(corpus.drop(2): _*), dir)
    val compact = java.nio.file.Files.createTempDirectory("graft-linedf-cp").toString
    LineIndex.compactTo(spark, dir, compact)
    val served = LineIndex.scrubAgainst(spark, docs, compact, maxDocFreq = 2)
    val direct = Curation.boilerplateScrub(docs, maxDocFreq = 2)
    assert(served.exceptAll(direct).isEmpty && direct.exceptAll(served).isEmpty)
  }

  test("d97 binding reproduces d95's direct result on the fixture corpus") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("d97_boilerplate_indexed")(spark, sf)
    val want = SparkEntry.queries("d95_boilerplate_scrub")(spark, sf)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
