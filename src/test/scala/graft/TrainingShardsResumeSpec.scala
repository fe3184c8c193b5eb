package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import graft.ops.{Curation, IndexCommit}

/** trainingShards' per-stage checkpoint seam (r09 ask #7): resumed runs
  * must equal one-shot output, committed stages must be SERVED (not
  * recomputed), and a mid-pipeline "crash" (missing later stages) must
  * resume from the last committed stage.
  */
class TrainingShardsResumeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("training-shards-resume-spec")
  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.ops.Tables.documents(spark, sf)
  private def tr = docs.where(not(expr("doc_id % 97 = 0")))
  private def ev = docs.where(expr("doc_id % 97 = 0"))

  /** The d54 knobs (dropPplTail exercises the optional s4 stage). */
  private def run(dir: Option[String]): Set[(Long, Long, Long)] =
    Curation.trainingShards(tr, ev, dropPplTail = true, checkpointDir = dir)
      .select(col("doc_id"), col("n_tokens"), col("shard_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("ts_cp").toString

  private def rmStage(cp: String, stage: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$cp/$stage")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("checkpointed first run and full resume equal the one-shot output") {
    val cp = tmp()
    val oneShot = run(None)
    assert(oneShot.nonEmpty)
    val first = run(Some(cp))
    val resumed = run(Some(cp))
    assert(first == oneShot)
    assert(resumed == oneShot)
    Seq("s1_dedup", "s2_quality", "s4_ppl", "s5_decontam").foreach { s =>
      assert(IndexCommit.isCommitted(spark, s"$cp/$s"), s"$s not committed")
    }
    // the span stage is disabled at these knobs — no stray checkpoint
    assert(!IndexCommit.isCommitted(spark, s"$cp/s3_spans"))
  }

  test("mid-pipeline crash: later stages recompute, earlier ones serve") {
    val cp = tmp()
    run(Some(cp))
    // crash after stage 2: stages 4/5 never committed
    rmStage(cp, "s4_ppl"); rmStage(cp, "s5_decontam")
    assert(run(Some(cp)) == run(None))
    assert(IndexCommit.isCommitted(spark, s"$cp/s4_ppl"))
    assert(IndexCommit.isCommitted(spark, s"$cp/s5_decontam"))
  }

  test("committed stages are served, not recomputed") {
    val cp = tmp()
    val oneShot = run(None)
    run(Some(cp))
    // poison stage 1's committed survivor set: remove a doc that made
    // it into the final output, then force later stages to recompute
    // FROM that read. If stage 1 were recomputed instead of served,
    // the victim would reappear.
    val victim = oneShot.map(_._1).min
    val rest = spark.read.parquet(s"$cp/s1_dedup/ids")
      .collect().map(_.getLong(0)).filter(_ != victim)
    IndexCommit.withGuard(spark, s"$cp/s1_dedup") {
      import spark.implicits._
      rest.toSeq.toDF("doc_id").write.mode("overwrite")
        .parquet(s"$cp/s1_dedup/ids")
    }
    Seq("s2_quality", "s4_ppl", "s5_decontam").foreach(rmStage(cp, _))
    val out = run(Some(cp))
    assert(!out.exists(_._1 == victim), s"victim $victim resurfaced")
    assert(out.nonEmpty)
  }

  test("knob fingerprint: resume with changed parameters fails fast") {
    val cp = tmp()
    run(Some(cp))
    // a survivor-affecting knob changed against the same directory
    val e = intercept[IllegalArgumentException] {
      Curation.trainingShards(tr, ev, dropPplTail = true, minWords = 7,
        checkpointDir = Some(cp)).collect()
    }
    assert(e.getMessage.contains("different"), e.getMessage)
    // budget is outside the fingerprint: re-packing at a new budget is a
    // legitimate resume of the same survivor sets
    val repacked = Curation.trainingShards(tr, ev, dropPplTail = true,
      budget = 512, checkpointDir = Some(cp))
    assert(repacked.count() > 0)
    // and the original parameters still resume cleanly
    assert(run(Some(cp)) == run(None))
  }
}
