package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import graft.ops.{Similarity, SketchIndex}


/** Incremental near-dup via the persisted sketch index: cross pairs of
  * (new batch x indexed corpus) must equal the full-corpus operator's
  * output restricted to cross pairs — same sketches, same candidate
  * rules, same exact verification, just computed against parquet instead
  * of an in-session table.
  */
class SketchIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("sketch-index-spec")
  override def afterAll(): Unit = spark.stop()

  test("nearDupAgainst equals the full-corpus cross pairs (real corpus split)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sketch-index").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.01").cache()
    val mid = 250L
    val indexed = docs.where(col("doc_id") < mid)
    val batch = docs.where(col("doc_id") >= mid)

    SketchIndex.save(indexed, dir)
    val got = SketchIndex.nearDupAgainst(spark, batch, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    val full = Similarity.nearDupPairs(docs)
      .where(col("doc_a") < mid && col("doc_b") >= mid)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == full, s"${got.size} cross pairs vs ${full.size} expected")
    assert(full.nonEmpty, "test corpus split produced no cross pairs — choose another split")
  }

  test("append extends the index; batch-id replay is idempotent; probe fails closed unmarked") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sketch-append").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.01").cache()
    val indexed1 = docs.where(col("doc_id") < 150)
    val indexed2 = docs.where(col("doc_id") >= 150 && col("doc_id") < 250)
    val batch = docs.where(col("doc_id") >= 250)

    SketchIndex.save(indexed1, dir)
    SketchIndex.append(indexed2, dir, checkDisjoint = true)
    def probe() = SketchIndex.nearDupAgainst(spark, batch, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = probe()
    val full = Similarity.nearDupPairs(docs)
      .where(col("doc_a") < 250 && col("doc_b") >= 250)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == full, s"${got.size} cross pairs vs ${full.size} expected")

    // a crash-replay re-runs the SAME batch id (append allocated 0):
    // its dynamic overwrite must replace, not double, that batch's rows
    graft.ops.SketchIndex.writeBatch(indexed2, dir, batchId = 0L, overwriteAll = false)
    assert(probe() == full)

    // overlapping append refused
    val e = intercept[IllegalArgumentException] {
      SketchIndex.append(indexed2, dir, checkDisjoint = true)
    }
    assert(e.getMessage.contains("double-count"))

    // interrupted write (missing marker) -> probe fails closed
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_graft_commit"))
    val e2 = intercept[IllegalArgumentException] { probe() }
    assert(e2.getMessage.contains("_graft_commit"))
  }

  test("streaming ingest builds the same index as batch save") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sketch-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sketch-ckpt").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.01").cache()
    val indexed = docs.where(col("doc_id") < 250)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val batch = docs.where(col("doc_id") >= 250)

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = SketchIndex.ingest(in.toDF().toDF("doc_id", "text"), dir, ckpt)
    try {
      val (b1, b2) = indexed.partition(_._1 % 2 == 0)
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    val got = SketchIndex.nearDupAgainst(spark, batch, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val full = Similarity.nearDupPairs(docs)
      .where(col("doc_a") < 250 && col("doc_b") >= 250)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == full, s"${got.size} cross pairs vs ${full.size} expected")
  }

  test("identity collisions (re-crawled ids) are excluded, duplicates found") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sketch-index2").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different document about spark and parquet files")
    ).toDF("doc_id", "text")
    SketchIndex.save(corpus, dir)
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"), // re-crawl, same id
      (9L, "the quick brown fox jumps over the lazy dog again and again!"), // near-dup of 1
      (10L, "nothing like anything indexed here at all whatsoever")
    ).toDF("doc_id", "text")
    val pairs = SketchIndex.nearDupAgainst(spark, batch, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 9L)), s"got $pairs")
  }
}
