package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

import graft.ops.{Corpus, SimHashIndex}

/** Persisted SimHash index (d113): served cross pairs must agree with
  * the one-shot d09 computation on a split corpus, appends additive
  * under the disjointness contract, streaming ingest == batch,
  * compaction preserves answers, reads fail closed.
  */
class SimHashIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("simhash-index-spec")
  override def afterAll(): Unit = spark.stop()

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("served cross pairs equal the one-shot computation on the split corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sh-direct").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.01")
    val base = docs.where(col("doc_id") % 3 === 0)
    val probe = docs.where(col("doc_id") % 3 =!= 0)
    SimHashIndex.save(base, dir)
    val served = pairs(SimHashIndex.nearDupAgainst(spark, probe, dir))
    // reference: the one-shot pair set over the union, cross-split only,
    // re-oriented to (indexed, new)
    val oneShot = Corpus.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .flatMap { case (a, b, h) =>
        if (a % 3 == 0 && b % 3 != 0) Some((a, b, h))
        else if (b % 3 == 0 && a % 3 != 0) Some((b, a, h))
        else None
      }.toSet
    assert(served == oneShot)
    assert(served.nonEmpty, "split corpus should carry cross near-dups")
  }

  test("append is additive; disjointness enforced; reads fail closed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sh-append").toString
    val t = (1 to 40).map(i => s"w$i").mkString(" ")
    SimHashIndex.save(docsOf((1L, t)), dir)
    SimHashIndex.append(docsOf((2L, t + " tail")), dir)
    val got = pairs(SimHashIndex.nearDupAgainst(spark, docsOf((100L, t)), dir))
    assert(got.map(p => (p._1, p._2)) == Set((1L, 100L), (2L, 100L)))
    intercept[IllegalArgumentException] {
      SimHashIndex.append(docsOf((1L, "x y z")), dir, checkDisjoint = true)
    }
    // compaction: one generation serving the same pairs
    val dst = java.nio.file.Files.createTempDirectory("graft-sh-c").toString
    SimHashIndex.compactTo(spark, dir, dst)
    assert(pairs(SimHashIndex.nearDupAgainst(spark, docsOf((100L, t)), dst)) == got)
    assert(spark.read.parquet(s"$dst/signatures").select(col("ingest_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet == Set(-1L))
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_commit")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    intercept[IllegalArgumentException] {
      SimHashIndex.nearDupAgainst(spark, docsOf((100L, t)), dir)
    }
  }
}
