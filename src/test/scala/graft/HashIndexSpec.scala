package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

import graft.ops.HashIndex

/** Incremental exact dedup via the persisted content-hash index: probe
  * answers must equal the one-shot d01 keeper rule computed over the
  * union, batches must be additive and replay-idempotent, and reads
  * must fail closed on an uncommitted index — the same contract the
  * sketch/lex/ivf/lm/pq index families carry.
  */
class HashIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("hash-index-spec")
  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.01"

  private def docsOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("dedupAgainst equals the one-shot keeper rule on the split corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hash-direct").toString
    val docs = graft.ops.Tables.documents(spark, sf).cache()
    val indexed = docs.where(col("doc_id") % 2 === 0)
    // the synthetic corpus carries no exact duplicate texts (d01 is
    // 1 row per doc at this sf), so PLANT re-crawls: three indexed
    // texts re-arrive under new ids alongside the genuine odd half
    val replanted = indexed.orderBy(col("doc_id")).limit(3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val batch = docs.where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text")).unionByName(replanted)
    HashIndex.save(indexed, dir)
    val got = HashIndex.dedupAgainst(spark, batch, dir)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    // reference: min indexed doc_id per hash, via the one-shot operator's
    // grouping rule restricted to the indexed side
    val keepers = indexed.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("k"))
    val want = batch.select(md5(col("text")).as("h"), col("doc_id"))
      .join(keepers, Seq("h"), "left")
      .collect().map(r => r.getLong(1) -> Option(r.get(2))).toMap
    assert(got == want)
    assert(got.values.exists(_.isDefined), "split produced no cross duplicates")
    assert(got.values.exists(_.isEmpty), "split produced no novel texts")
  }

  test("append is additive; replayed batch ids are idempotent; reads fail closed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hash-append").toString
    HashIndex.save(docsOf(Seq((1L, "alpha"), (2L, "beta"))), dir)
    HashIndex.append(docsOf(Seq((10L, "gamma"), (11L, "alpha"))), dir)
    val probe = docsOf(Seq((100L, "alpha"), (101L, "gamma"), (102L, "delta")))
    def answers() = HashIndex.dedupAgainst(spark, probe, dir)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(answers() == Map(100L -> Some(1L), 101L -> Some(10L), 102L -> None))

    // a replayed batch id replaces its own partition — the index never
    // holds a document twice (batch 0 was the first append's id)
    graft.ops.IndexCommit.stamped(
      docsOf(Seq((10L, "gamma"), (11L, "alpha")))
        .select(md5(col("text")).as("content_hash"), col("doc_id")), 0L)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(s"$dir/hashes")
    val n = spark.read.parquet(s"$dir/hashes").count()
    assert(n == 4L, s"replay duplicated rows: $n")
    assert(answers() == Map(100L -> Some(1L), 101L -> Some(10L), 102L -> None))

    // appending already-indexed doc_ids is refused under checkDisjoint
    intercept[IllegalArgumentException] {
      HashIndex.append(docsOf(Seq((1L, "echo"))), dir, checkDisjoint = true)
    }

    // a missing commit marker fails the read closed
    val (fs, m) = {
      val p = new org.apache.hadoop.fs.Path(dir, "_graft_commit")
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    fs.delete(m, false)
    intercept[IllegalArgumentException] {
      HashIndex.dedupAgainst(spark, probe, dir)
    }
  }

  test("bloom probe equals the exact probe and prunes proven-novel rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hash-bloom").toString
    HashIndex.save(docsOf(Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))), dir)
    HashIndex.append(docsOf(Seq((10L, "gamma"))), dir)
    // probe mixes true dups (across BOTH batches — the merged sidecar
    // must see appends) with novel texts
    val novel = (0 until 200).map(i => (1000L + i, s"novel text $i"))
    val probe = docsOf(Seq((100L, "alpha"), (101L, "gamma")) ++ novel)
    val viaBloom = HashIndex.dedupAgainstBloom(spark, probe, dir)
      .collect().map(r => (r.getLong(0), Option(r.get(2)), r.getBoolean(3))).toSet
    val exact = HashIndex.dedupAgainst(spark, probe, dir)
      .collect().map(r => (r.getLong(0), Option(r.get(2)), r.getBoolean(3))).toSet
    assert(viaBloom == exact)
    assert(viaBloom.contains((100L, Some(1L), false)))
    assert(viaBloom.contains((101L, Some(10L), false)))

    // no false negatives: every indexed hash is bloom-positive; and the
    // sketch prunes — at fpp=3%, 200 novel texts must not mostly pass
    val bloom = HashIndex.mergedBloom(spark, dir)
    val idxHashes = spark.read.parquet(s"$dir/hashes")
      .select(xxhash64(col("content_hash")).as("h")).as[Long](
        org.apache.spark.sql.Encoders.scalaLong).collect()
    assert(idxHashes.forall(bloom.mightContainLong))
    val novelHashes = docsOf(novel)
      .select(xxhash64(md5(col("text"))).as("h")).as[Long](
        org.apache.spark.sql.Encoders.scalaLong).collect()
    val fps = novelHashes.count(bloom.mightContainLong)
    assert(fps < 50, s"bloom passed $fps of 200 novel texts — not pruning")

    // compaction: one generation, the per-batch bloom rows folded into
    // one, and both probes answer as before
    val dst = java.nio.file.Files.createTempDirectory("graft-hash-compact").toString
    HashIndex.compactTo(spark, dir, dst)
    assert(spark.read.parquet(s"$dst/hashes").select(col("ingest_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet == Set(-1L))
    assert(spark.read.parquet(s"$dst/bloom").count() == 1L)
    assert(HashIndex.dedupAgainstBloom(spark, probe, dst)
      .collect().map(r => (r.getLong(0), Option(r.get(2)), r.getBoolean(3))).toSet == exact)
    assert(HashIndex.dedupAgainst(spark, probe, dst)
      .collect().map(r => (r.getLong(0), Option(r.get(2)), r.getBoolean(3))).toSet == exact)
  }

  test("registered d101 binding: bloom answers over the mod-3 split") {
    val rows = SparkEntry.queries("d101_dedup_bloom")(spark, sf).collect()
    val nProbe = graft.ops.Tables.documents(spark, sf)
      .where(col("doc_id") % 3 =!= 0).count()
    assert(rows.length.toLong == nProbe)
    rows.foreach { r =>
      val dup = Option(r.get(2))
      assert(dup.forall(d => d.asInstanceOf[Long] % 3 == 0),
        "keeper must come from the indexed (mod-3-zero) third")
      assert(r.getBoolean(3) == dup.isEmpty)
    }
  }

  test("registered d82 binding: one row per probed doc, keepers from the even half") {
    val rows = SparkEntry.queries("d82_dedup_indexed")(spark, sf).collect()
    val nOdd = graft.ops.Tables.documents(spark, sf)
      .where(col("doc_id") % 2 === 1).count()
    assert(rows.length.toLong == nOdd)
    rows.foreach { r =>
      val dup = Option(r.get(2))
      assert(dup.forall(d => d.asInstanceOf[Long] % 2 == 0),
        "keeper must come from the indexed (even) half")
      assert(r.getBoolean(3) == dup.isEmpty)
    }
  }
}
