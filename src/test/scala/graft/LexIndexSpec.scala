package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import graft.ops.{Corpus, LexIndex, Tables}

/** The persisted inverted index must serve the exact direct-path BM25
  * result (d39 hash-gates the same claim against d38's DuckDB oracle),
  * stay equal under incremental append, and actually prune postings
  * buckets at scan time.
  */
class LexIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("lex-index-spec")
  private val sf = "/root/testdata/sf0.001"
  override def afterAll(): Unit = spark.stop()

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq

  test("indexed BM25 equals the direct computation row-for-row") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-lex").toString
    LexIndex.save(docs, dir)
    val direct = rows(Corpus.bm25Rank(docs, Corpus.Bm25Query))
    val indexed = rows(LexIndex.searchBm25(spark, dir, Corpus.Bm25Query))
    assert(indexed == direct)
  }

  test("append keeps the index equal to direct over the full corpus") {
    val docs = Tables.documents(spark, sf)
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-lex-add").toString
    LexIndex.save(half1, dir)
    LexIndex.append(half2, dir)
    val direct = rows(Corpus.bm25Rank(docs, Corpus.Bm25Query))
    val indexed = rows(LexIndex.searchBm25(spark, dir, Corpus.Bm25Query))
    assert(indexed == direct)
  }

  test("append with checkDisjoint refuses a batch that re-adds indexed doc_ids") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-lex-dis").toString
    LexIndex.save(docs.filter(col("doc_id") < 100), dir)
    val overlapping = docs.filter(col("doc_id") < 150) // 0..99 already indexed
    val e = intercept[IllegalArgumentException] {
      LexIndex.append(overlapping, dir, checkDisjoint = true)
    }
    assert(e.getMessage.contains("double-count"))
    // disjoint batch passes the check and lands
    LexIndex.append(docs.filter(col("doc_id") >= 100), dir, checkDisjoint = true)
    assert(rows(LexIndex.searchBm25(spark, dir, Corpus.Bm25Query)) ==
      rows(Corpus.bm25Rank(docs, Corpus.Bm25Query)))
  }

  test("re-running a batch id overwrites its own partitions (idempotent replay)") {
    val docs = Tables.documents(spark, sf)
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-lex-replay").toString
    LexIndex.save(half1, dir)
    LexIndex.append(half2, dir)
    val once = rows(LexIndex.searchBm25(spark, dir, Corpus.Bm25Query))
    // a crash-replay re-runs the SAME batch id: append allocated batch 0,
    // so replaying half2 under id 0 must replace, not double, its rows
    LexIndex.writeBatch(half2, dir, batchId = 0L, overwriteAll = false)
    assert(rows(LexIndex.searchBm25(spark, dir, Corpus.Bm25Query)) == once)
  }

  test("search fails closed on an index missing its commit marker") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-lex-mark").toString
    LexIndex.save(docs, dir)
    // simulate a crash between the postings and docstats commits: the
    // marker is dropped first and only restored after both writes
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_graft_commit"))
    val e = intercept[IllegalArgumentException] {
      LexIndex.searchBm25(spark, dir, Corpus.Bm25Query)
    }
    assert(e.getMessage.contains("_graft_commit"))
    // a fresh save recommits and search works again
    LexIndex.save(docs, dir)
    assert(rows(LexIndex.searchBm25(spark, dir, Corpus.Bm25Query)).nonEmpty)
  }

  test("search prunes postings partitions to the query terms' buckets") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-lex-prune").toString
    LexIndex.save(docs, dir)
    // one term hashes to one bucket: of the NumBuckets partition dirs the
    // scan must keep exactly the bucket 'hash' lands in
    val plan = LexIndex.searchBm25(spark, dir, Seq("hash"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("postings"), s"no postings scan in:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"no partition filter on bucket in:\n$plan")
  }

  test("tfidf top terms: ranks are 1..k and terms come from the document") {
    val docs = Tables.documents(spark, sf).limit(50).cache()
    val top = Corpus.tfidfTopTerms(docs, k = 3).collect()
    assert(top.nonEmpty)
    val byDoc = top.groupBy(_.getLong(0))
    byDoc.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length))
    }
    val texts = docs.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[String]("text").toLowerCase.trim.split("\\s+").toSet).toMap
    top.foreach { r =>
      assert(texts(r.getLong(0)).contains(r.getString(2)),
        s"term ${r.getString(2)} not in doc ${r.getLong(0)}")
    }
    docs.unpersist()
  }
}
