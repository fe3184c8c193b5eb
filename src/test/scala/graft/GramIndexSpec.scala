package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

import graft.ops.{Corpus, GramIndex}

/** Persisted bigram-vocabulary index (d106): served novelty must equal
  * the one-shot d102 computation, batches must union additively
  * (overlaps harmless — set semantics), streaming ingest must build the
  * same vocabulary, compaction must collapse to one deduped generation,
  * and reads must fail closed on an uncommitted index.
  */
class GramIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("gram-index-spec")
  override def afterAll(): Unit = spark.stop()

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("served novelty equals the one-shot operator on the split corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gram-direct").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.01")
    val base = docs.where(col("doc_id") % 3 === 0)
    val probe = docs.where(col("doc_id") % 3 =!= 0)
    GramIndex.save(base, dir)
    val served = GramIndex.noveltyAgainst(spark, probe, dir)
    val direct = Corpus.noveltyScore(base, probe)
    assert(served.exceptAll(direct).isEmpty && direct.exceptAll(served).isEmpty)
  }

  test("appends union the vocabulary; overlapping batches are harmless") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gram-append").toString
    GramIndex.save(docsOf((1L, "a b c")), dir)
    GramIndex.append(docsOf((2L, "x y")), dir)
    // overlap: doc 1's grams re-asserted — set membership, no change
    GramIndex.append(docsOf((1L, "a b c")), dir)
    val probe = docsOf((10L, "a b"), (11L, "x y"), (12L, "q r"))
    val got = GramIndex.noveltyAgainst(spark, probe, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(10L -> 0L, 11L -> 0L, 12L -> 1L))

    // compaction merges the overlapping batches into one deduped
    // generation with the same vocabulary
    val dst = java.nio.file.Files.createTempDirectory("graft-gram-c").toString
    GramIndex.compactTo(spark, dir, dst)
    val (a, c) = (GramIndex.vocab(spark, dir), GramIndex.vocab(spark, dst))
    assert(a.exceptAll(c).isEmpty && c.exceptAll(a).isEmpty)
    val rows = spark.read.parquet(s"$dst/grams")
    assert(rows.select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(-1L))
    assert(rows.count() == rows.select("gram_hash").distinct().count())

    // a missing commit marker fails the read closed
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_commit")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    intercept[IllegalArgumentException] {
      GramIndex.noveltyAgainst(spark, probe, dir)
    }
  }

  test("d106 binding reproduces d102's direct result on the driver corpus") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("d106_novelty_indexed")(spark, sf)
    val want = SparkEntry.queries("d102_novelty_score")(spark, sf)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
