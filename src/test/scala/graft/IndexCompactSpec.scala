package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import graft.ops.{Corpus, IndexCommit, IvfIndex, LexIndex, Tables}

/** Compaction is a pure LAYOUT change: a compacted snapshot must serve
  * byte-identical results from a single `ingest_batch=-1` generation,
  * leave the source untouched, accept fresh appends (batch ids restart
  * at 0), and refuse an in-place rewrite.
  */
class IndexCompactSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("index-compact-spec")
  private val sf = "/root/testdata/sf0.001"
  override def afterAll(): Unit = spark.stop()

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def batchDirs(dir: String, table: String): Seq[String] = {
    val f = new java.io.File(s"$dir/$table")
    f.listFiles().toSeq.map(_.getName).filter(_.startsWith("ingest_batch=")).sorted
  }

  test("lex: compacted snapshot serves identical BM25 from one generation") {
    val docs = Tables.documents(spark, sf)
    val src = tmp("graft-lexc-src"); val dst = tmp("graft-lexc-dst")
    LexIndex.save(docs.filter(col("doc_id") % 3 === 0), src)
    LexIndex.append(docs.filter(col("doc_id") % 3 === 1), src)
    assert(batchDirs(src, "postings").size == 2)
    LexIndex.compactTo(spark, src, dst)

    assert(batchDirs(dst, "postings") == Seq("ingest_batch=-1"))
    assert(batchDirs(dst, "docstats") == Seq("ingest_batch=-1"))
    def hits(dir: String) =
      LexIndex.searchBm25(spark, dir, Corpus.Bm25Query).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(hits(dst) == hits(src))
    // source untouched (still its two batches, still serving)
    assert(batchDirs(src, "postings").size == 2)

    // the snapshot is a first-class index: the next append allocates
    // batch 0 and results track the direct computation over all thirds
    LexIndex.append(docs.filter(col("doc_id") % 3 === 2), dst, checkDisjoint = true)
    assert(batchDirs(dst, "postings").toSet == Set("ingest_batch=-1", "ingest_batch=0"))
    assert(hits(dst) ==
      Corpus.bm25Rank(docs, Corpus.Bm25Query).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq)
  }

  test("ivf: compacted snapshot searches identically, quantizer preserved") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val src = tmp("graft-ivfc-src"); val dst = tmp("graft-ivfc-dst")
    val base = IvfIndex.build(spark, e.filter(col("vec_id") % 2 === 0), k = 8, iters = 2)
    IvfIndex.save(IvfIndex.add(spark, base, e.filter(col("vec_id") % 2 === 1)), src)
    IvfIndex.compactTo(spark, src, dst)

    assert(batchDirs(dst, "cells") == Seq("ingest_batch=-1"))
    val mSrc = IvfIndex.load(spark, src)
    val mDst = IvfIndex.load(spark, dst)
    assert(mSrc.centroids.map(_.toSeq).toSeq == mDst.centroids.map(_.toSeq).toSeq)
    def topk(m: IvfIndex.Model) =
      IvfIndex.searchTopK(spark, m, e, k = 3, probes = 8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(topk(mDst) == topk(mSrc))
  }

  test("compactTo refuses in-place rewrite and an uncommitted source") {
    val docs = Tables.documents(spark, sf).limit(50)
    val src = tmp("graft-cc-src")
    LexIndex.save(docs, src)
    val inPlace = intercept[IllegalArgumentException] {
      LexIndex.compactTo(spark, src, src)
    }
    assert(inPlace.getMessage.contains("DIFFERENT directory"))

    // a source missing its commit marker (interrupted write) fails closed
    new java.io.File(src, "_graft_commit").delete()
    val uncommitted = intercept[IllegalArgumentException] {
      LexIndex.compactTo(spark, src, tmp("graft-cc-dst"))
    }
    assert(uncommitted.getMessage.contains("_graft_commit"))
  }

  test("retire removes only marked-superseded generations, refuses while dst unmarked") {
    val docs = Tables.documents(spark, sf).limit(50)
    val src = tmp("graft-ret-src"); val dst = tmp("graft-ret-dst")
    LexIndex.save(docs, src)

    // a CURRENT (never-compacted) generation must refuse retire — there
    // is no successor, deleting it would destroy live data
    val current = intercept[IllegalArgumentException] {
      IndexCommit.retire(spark, src)
    }
    assert(current.getMessage.contains(IndexCommit.SupersededMarker))
    assert(new java.io.File(src, "_graft_commit").exists())

    // completed compaction marks src superseded (pointing at dst)
    LexIndex.compactTo(spark, src, dst)
    assert(IndexCommit.supersededBy(spark, src).exists(_.endsWith(
      new java.io.File(dst).getName)))

    // while the successor is UNMARKED (interrupted rewrite over dst),
    // retire refuses — src may again be the only complete copy
    val dstMarker = new java.io.File(dst, "_graft_commit")
    assert(dstMarker.delete())
    val unmarked = intercept[IllegalArgumentException] {
      IndexCommit.retire(spark, src)
    }
    assert(unmarked.getMessage.contains("not committed"))
    assert(new java.io.File(src, "_graft_commit").exists()) // src untouched

    // successor restored -> retire removes the superseded generation
    // and ONLY it (dst keeps serving)
    dstMarker.createNewFile()
    IndexCommit.retire(spark, src)
    assert(!new java.io.File(src).exists())
    assert(LexIndex.searchBm25(spark, dst, Corpus.Bm25Query).count() > 0)
  }

  test("merge-compaction families (edge index) also mark supersession; retire GCs them") {
    import spark.implicits._
    val src = tmp("graft-rete-src"); val dst = tmp("graft-rete-dst")
    val baskets = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
      .toDF("basket_id", "item_id")
    graft.ops.EdgeIndex.save(baskets, src)
    graft.ops.EdgeIndex.compactTo(spark, src, dst)
    val served = graft.ops.EdgeIndex.edgesOf(spark, dst).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.ops.EdgeIndex.retire(spark, src)
    assert(!new java.io.File(src).exists())
    assert(graft.ops.EdgeIndex.edgesOf(spark, dst).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == served)
  }
}
