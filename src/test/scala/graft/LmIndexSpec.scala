package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import graft.ops.{Curation, LmIndex, Tables}

/** The persisted unigram LM must score exactly like the direct
  * computation (d46 hash-gates the same claim against d44's DuckDB
  * oracle), stay equal when grown by appends (counts are additive, and
  * smoothing totals are computed over the MERGED counts), and survive
  * replay/compaction/crash the same way the other index families do.
  */
class LmIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("lm-index-spec")
  private val sf = "/root/testdata/sf0.001"
  override def afterAll(): Unit = spark.stop()

  private def docs = Tables.documents(spark, sf)

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-lm-$tag").toString

  private def vocabRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  private def pplRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq

  test("saved model's vocab equals the direct unigramVocab") {
    val dir = tmp("direct")
    LmIndex.save(docs, dir)
    assert(vocabRows(LmIndex.vocab(spark, dir)) ==
      vocabRows(Curation.unigramVocab(docs)))
  }

  test("scoring against the saved model equals the direct self-scoring (d46 == d44)") {
    val dir = tmp("score")
    LmIndex.save(docs, dir)
    assert(pplRows(Curation.unigramPplAgainst(docs, LmIndex.vocab(spark, dir))) ==
      pplRows(Curation.unigramPpl(docs)))
  }

  test("a model grown by append equals one built from the union corpus in one shot") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val dir = tmp("grow")
    LmIndex.save(half1, dir)
    LmIndex.append(half2, dir)
    // merged counts AND smoothing totals (total tokens, |vocab|) must
    // match the one-shot model — the totals are the part an append
    // could silently get wrong by freezing them at save time
    assert(vocabRows(LmIndex.vocab(spark, dir)) ==
      vocabRows(Curation.unigramVocab(docs)))
  }

  test("append with checkDisjoint refuses a batch that re-counts ingested doc_ids") {
    val dir = tmp("dis")
    LmIndex.save(docs.filter(col("doc_id") < 100), dir)
    val e = intercept[IllegalArgumentException] {
      LmIndex.append(docs.filter(col("doc_id") < 150), dir, checkDisjoint = true)
    }
    assert(e.getMessage.contains("double-count"))
    // the disjoint remainder passes the check and lands
    LmIndex.append(docs.filter(col("doc_id") >= 100), dir, checkDisjoint = true)
    assert(vocabRows(LmIndex.vocab(spark, dir)) ==
      vocabRows(Curation.unigramVocab(docs)))
  }

  test("re-running a batch id overwrites its own partitions (idempotent replay)") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val dir = tmp("replay")
    LmIndex.save(half1, dir)
    LmIndex.append(half2, dir)
    val once = vocabRows(LmIndex.vocab(spark, dir))
    // a crash-replay re-runs the SAME batch id: append allocated batch 0,
    // so replaying half2 under id 0 must replace, not double, its counts
    LmIndex.writeBatch(half2, dir, batchId = 0L, overwriteAll = false)
    assert(vocabRows(LmIndex.vocab(spark, dir)) == once)
  }

  test("reads fail closed on a model missing its commit marker") {
    val dir = tmp("mark")
    LmIndex.save(docs, dir)
    // simulate a crash between the counts and docs commits: the marker
    // is dropped first and only restored after both writes
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_graft_commit"))
    val e = intercept[IllegalArgumentException] {
      LmIndex.vocab(spark, dir)
    }
    assert(e.getMessage.contains("_graft_commit"))
    // a fresh save recommits and the model serves again
    LmIndex.save(docs, dir)
    assert(vocabRows(LmIndex.vocab(spark, dir)).nonEmpty)
  }

  test("compactTo merges batch fan-out into one generation with equal vocab") {
    val dir = tmp("frag")
    val dst = tmp("compact")
    LmIndex.save(docs.filter(col("doc_id") % 3 === 0), dir)
    LmIndex.append(docs.filter(col("doc_id") % 3 === 1), dir)
    LmIndex.append(docs.filter(col("doc_id") % 3 === 2), dir)
    val before = vocabRows(LmIndex.vocab(spark, dir))
    LmIndex.compactTo(spark, dir, dst)
    assert(vocabRows(LmIndex.vocab(spark, dst)) == before)
    // counts really merged: the three ingest_batch partitions collapse to one
    def gens(d: String) = new java.io.File(s"$d/counts").listFiles()
      .map(_.getName).filter(_.startsWith("ingest_batch=")).toSet
    assert(gens(dir).size == 3 && gens(dst) == Set("ingest_batch=-1"))
    // and an in-place compaction is refused (it would read and overwrite
    // the same files)
    val e = intercept[IllegalArgumentException] {
      LmIndex.compactTo(spark, dir, dir)
    }
    assert(e.getMessage.contains("DIFFERENT"))
  }
}
