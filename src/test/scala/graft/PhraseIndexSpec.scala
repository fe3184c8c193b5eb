package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

import graft.ops.{Corpus, PhraseIndex}

/** Persisted positional phrase index (d112): served answers must equal
  * the one-shot d111 scan for single-term, repeated-term, and
  * multi-term phrases; batches additive under the disjointness
  * contract; streaming ingest == batch; compaction preserves answers;
  * reads fail closed.
  */
class PhraseIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("phrase-index-spec")
  override def afterAll(): Unit = spark.stop()

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def answers(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("served phrases equal the one-shot scan on the driver corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-phrase-direct").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.01")
    PhraseIndex.save(docs, dir)
    Seq("table scan", "batch batch", "the", "table scan merge").foreach { ph =>
      val served = answers(PhraseIndex.searchPhrase(spark, dir, ph))
      val direct = answers(Corpus.phraseMatch(docs, ph))
      assert(served == direct, s"phrase '$ph'")
      assert(direct.nonEmpty, s"fixture phrase '$ph' should occur")
    }
  }

  test("append is additive; disjointness enforced; reads fail closed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-phrase-append").toString
    PhraseIndex.save(docsOf((1L, "a b a b")), dir)
    PhraseIndex.append(docsOf((2L, "a b c")), dir)
    assert(answers(PhraseIndex.searchPhrase(spark, dir, "a b"))
      == Map(1L -> 2L, 2L -> 1L))
    intercept[IllegalArgumentException] {
      PhraseIndex.append(docsOf((1L, "x")), dir, checkDisjoint = true)
    }
    // compaction: one generation serving the same answers
    val dst = java.nio.file.Files.createTempDirectory("graft-phrase-c").toString
    PhraseIndex.compactTo(spark, dir, dst)
    assert(answers(PhraseIndex.searchPhrase(spark, dst, "a b"))
      == Map(1L -> 2L, 2L -> 1L))
    assert(spark.read.parquet(s"$dst/postings").select(col("ingest_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet == Set(-1L))
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_commit")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    intercept[IllegalArgumentException] {
      PhraseIndex.searchPhrase(spark, dir, "a b")
    }
  }

  test("d112 binding reproduces d111's direct result") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("d112_phrase_indexed")(spark, sf)
    val want = SparkEntry.queries("d111_phrase_match")(spark, sf)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
