package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import graft.ops.{IndexCommit, Pq, PqIndex, Tables}

/** The persisted PQ index must honor the shared index-family contract:
  * a saved index serves exactly the direct computation (parquet adds no
  * tolerance — d75 hash-gates this against DuckDB too), appends are
  * per-batch replayable facts that track the batch rather than the
  * index, streaming ingestion is exactly-once per micro-batch, readers
  * fail closed on an uncommitted write, and compaction is a pure layout
  * change.
  */
class PqIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("pq-index-spec")
  private val sf = "/root/testdata/sf0.001"
  override def afterAll(): Unit = spark.stop()

  private def vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def batchDirs(dir: String): Seq[String] = {
    val f = new java.io.File(s"$dir/codes")
    f.listFiles().toSeq.map(_.getName).filter(_.startsWith("ingest_batch=")).sorted
  }

  private def hits(dir: String) =
    PqIndex.searchSaved(spark, dir, vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("saved index serves exactly the direct ADC computation") {
    val dir = tmp("graft-pqi")
    val cb = Pq.trainExact(spark, vecs, m = 8)
    PqIndex.save(spark, cb, vecs, dir)
    val direct = Pq.topKAdc(vecs, Pq.encode(spark, vecs, cb), cb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hits(dir) == direct)
    // the loaded codebook is bit-identical to the trained one
    val lcb = PqIndex.loadCodebook(spark, dir)
    assert(lcb.subDim == cb.subDim)
    assert(lcb.centroids.flatten.map(_.toSeq).toSeq ==
      cb.centroids.flatten.map(_.toSeq).toSeq)
  }

  test("append lands only the batch; replaying a batch does not double-count") {
    val dir = tmp("graft-pqi-app")
    val cb = Pq.train(spark, vecs, m = 8, k = 16, iters = 2)
    PqIndex.save(spark, cb, vecs.where(col("vec_id") % 2 === 0), dir)
    val batch = vecs.where(col("vec_id") % 2 === 1)
    PqIndex.appendSaved(spark, dir, batch)
    assert(batchDirs(dir) == Seq("ingest_batch=-1", "ingest_batch=0"))
    val full = PqIndex.loadCodes(spark, dir)
    assert(full.count() == vecs.count())
    // replay batch 0 (a failed-write re-run): same ids, same count
    IndexCommit.stamped(Pq.encode(spark, batch, cb), 0L)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(IndexCommit.BatchCol).parquet(s"$dir/codes")
    assert(PqIndex.loadCodes(spark, dir).count() == vecs.count())
    // the served search equals direct over the union
    val direct = Pq.topKAdc(vecs, Pq.encode(spark, vecs, cb), cb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hits(dir) == direct)
    // a disjointness-checked append of already-indexed ids refuses
    intercept[IllegalArgumentException] {
      PqIndex.appendSaved(spark, dir, batch, checkDisjoint = true)
    }
  }

  test("streaming ingest indexes micro-batches exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("graft-pqi-ing"); val cp = tmp("graft-pqi-cp")
    val cb = Pq.train(spark, vecs, m = 8, k = 16, iters = 2)
    PqIndex.save(spark, cb, vecs.where(col("vec_id") < 100), dir)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = PqIndex.ingest(spark, in.toDF().toDF("vec_id", "embedding"), dir, cp)
    try {
      val late = vecs.where(col("vec_id") >= 100)
        .as[(Long, Array[Float])].collect().map { case (i, v) => (i, v.toSeq) }
      in.addData(late.take(50).toSeq)
      q.processAllAvailable()
      in.addData(late.drop(50).toSeq)
      q.processAllAvailable()
      assert(PqIndex.loadCodes(spark, dir).count() == vecs.count())
      val direct = Pq.topKAdc(vecs, Pq.encode(spark, vecs, cb), cb).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(hits(dir) == direct)
    } finally q.stop()
  }

  test("compacted snapshot serves identically from one generation; source untouched") {
    val src = tmp("graft-pqi-src"); val dst = tmp("graft-pqi-dst")
    val cb = Pq.train(spark, vecs, m = 8, k = 16, iters = 2)
    PqIndex.save(spark, cb, vecs.where(col("vec_id") % 3 === 0), src)
    PqIndex.appendSaved(spark, src, vecs.where(col("vec_id") % 3 === 1))
    assert(batchDirs(src).size == 2)
    PqIndex.compactTo(spark, src, dst)
    assert(batchDirs(dst) == Seq("ingest_batch=-1"))
    assert(hits(dst) == hits(src))
    assert(batchDirs(src).size == 2)
    // the snapshot accepts fresh appends from batch 0
    PqIndex.appendSaved(spark, dst, vecs.where(col("vec_id") % 3 === 2),
      checkDisjoint = true)
    assert(batchDirs(dst).toSet == Set("ingest_batch=-1", "ingest_batch=0"))
    val direct = Pq.topKAdc(vecs, Pq.encode(spark, vecs, cb), cb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hits(dst) == direct)
  }

  test("readers fail closed on an uncommitted index") {
    val dir = tmp("graft-pqi-bad")
    val cb = Pq.train(spark, vecs, m = 8, k = 16, iters = 1)
    PqIndex.save(spark, cb, vecs, dir)
    // simulate an interrupted multi-table write: marker missing
    java.nio.file.Files.delete(java.nio.file.Path.of(dir, "_graft_commit"))
    intercept[IllegalArgumentException] { PqIndex.loadCodebook(spark, dir) }
    intercept[IllegalArgumentException] { PqIndex.loadCodes(spark, dir) }
    intercept[IllegalArgumentException] { PqIndex.searchSaved(spark, dir, vecs) }
  }
}
