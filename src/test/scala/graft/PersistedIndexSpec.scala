package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._

/** The SHARED lifecycle contract of the nine persisted index families
  * (eight document-keyed plus the basket-keyed edge family), tested
  * once over the [[PersistedIndex]] trait (r09 ask #8). The per-family specs keep gating their serving paths; this
  * spec pins the protocol itself — so a lifecycle bug (like the
  * GramIndex compaction-guard alias the r9 review caught in ONE family)
  * can no longer exist in some families and not others.
  */
class PersistedIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("persisted-index-spec")
  override def afterAll(): Unit = spark.stop()

  private def docsA: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
  }
  private def docsB: DataFrame = {
    import spark.implicits._
    Seq(
      (10L, "entirely new content arrives in batch two"),
      (11L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
  }

  /** Basket-shaped inputs for the edge family (its unit is a basket,
    * not a document): two baskets per frame, with a shared pair across
    * the frames' item spaces so summed weights are exercised. */
  private def basketsA: DataFrame = {
    import spark.implicits._
    Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L)).toDF("basket_id", "item_id")
  }
  private def basketsB: DataFrame = {
    import spark.implicits._
    Seq((5L, 10L), (5L, 11L),
      (6L, 20L), (6L, 21L)).toDF("basket_id", "item_id")
  }

  /** name, family, lead table, whether append enforces id-disjointness,
    * the save/append input frames (documents by default; the edge
    * family indexes baskets), and how to normalize the lead table's
    * logical content for the compaction-preservation check (default:
    * row set minus the batch stamp; LmIndex merges counts on
    * compaction, so it compares the per-token sums). */
  private case class Fam(name: String, idx: PersistedIndex, lead: String,
      disjoint: Boolean = true,
      inA: () => DataFrame = () => docsA,
      inB: () => DataFrame = () => docsB,
      normalize: DataFrame => Set[String] = df =>
        df.drop(IndexCommit.BatchCol).collect().map(_.mkString("|")).toSet)

  private lazy val families = Seq(
    Fam("lex", LexIndex, "postings"),
    Fam("lm", LmIndex, "counts",
      normalize = df => df.groupBy(col("token")).agg(sum(col("cnt")).as("c"))
        .collect().map(_.mkString("|")).toSet),
    Fam("hash", HashIndex, "hashes"),
    Fam("line", LineIndex, "linedf"),
    Fam("gram", GramIndex, "grams", disjoint = false),
    Fam("phrase", PhraseIndex, "postings"),
    Fam("simhash", SimHashIndex, "signatures"),
    Fam("edge", EdgeIndex, "pairfacts",
      inA = () => basketsA, inB = () => basketsB,
      normalize = df => df.groupBy(col("src"), col("dst"))
        .agg(sum(col("weight")).as("w"))
        .collect().map(_.mkString("|")).toSet),
    Fam("temporal_edge", TemporalEdgeIndex, "pairfacts",
      inA = () => basketsA.withColumn("bday", lit("2024-01-01").cast("date")),
      inB = () => basketsB.withColumn("bday", lit("2024-06-01").cast("date")),
      normalize = df => df.groupBy(col("src"), col("dst"), col("bday"))
        .agg(sum(col("n")).as("n"))
        .collect().map(_.mkString("|")).toSet))

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"pidx_$tag").toString

  families.foreach { f =>
    test(s"${f.name}: save+append commit, batches land additively") {
      val dir = tmp(f.name)
      f.idx.save(f.inA(), dir)
      assert(IndexCommit.isCommitted(spark, dir))
      f.idx.append(f.inB(), dir)
      assert(IndexCommit.isCommitted(spark, dir))
      val batches = spark.read.parquet(s"$dir/${f.lead}")
        .select(col(IndexCommit.BatchCol)).distinct().count()
      assert(batches == 2L, s"expected save+append batches, got $batches")
    }

    test(s"${f.name}: replaying an append batch id is idempotent") {
      val dir = tmp(f.name)
      f.idx.save(f.inA(), dir)
      f.idx.writeBatch(f.inB(), dir, batchId = 0L, overwriteAll = false)
      val once = spark.read.parquet(s"$dir/${f.lead}").count()
      f.idx.writeBatch(f.inB(), dir, batchId = 0L, overwriteAll = false)
      assert(spark.read.parquet(s"$dir/${f.lead}").count() == once)
    }

    test(s"${f.name}: checkDisjoint ${if (f.disjoint) "refuses overlapping ids"
        else "is a set-semantics no-op"}") {
      val dir = tmp(f.name)
      f.idx.save(f.inA(), dir)
      if (f.disjoint)
        assertThrows[IllegalArgumentException] {
          f.idx.append(f.inA(), dir, checkDisjoint = true)
        }
      else f.idx.append(f.inA(), dir, checkDisjoint = true) // must not throw
    }

    test(s"${f.name}: checkDisjoint on a fresh directory admits the first batch") {
      val dir = tmp(f.name)
      f.idx.append(f.inA(), dir, checkDisjoint = true)
      assert(IndexCommit.isCommitted(spark, dir))
      assert(spark.read.parquet(s"$dir/${f.lead}").count() > 0)
    }

    test(s"${f.name}: an interrupted write leaves the index uncommitted") {
      val dir = tmp(f.name)
      f.idx.save(f.inA(), dir)
      val m = new org.apache.hadoop.fs.Path(dir, "_graft_commit")
      m.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(m, false)
      assert(!IndexCommit.isCommitted(spark, dir))
    }

    test(s"${f.name}: append on an uncommitted index fails closed") {
      // r16 advice (medium): append allocates a FRESH batch id, so it
      // can never repair a torn write — proceeding would absorb the
      // torn batch's partial tables as committed state and then
      // RESTORE the marker over them. Only a same-id replay (streaming,
      // from its checkpoint) may proceed on an uncommitted index.
      val dir = tmp(f.name)
      f.idx.save(f.inA(), dir)
      val m = new org.apache.hadoop.fs.Path(dir, "_graft_commit")
      m.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(m, false)
      val e = intercept[IllegalArgumentException] {
        f.idx.append(f.inB(), dir)
      }
      assert(e.getMessage.contains("_graft_commit"))
    }

    test(s"${f.name}: compaction preserves content and commits dst") {
      val dir = tmp(f.name)
      f.idx.save(f.inA(), dir)
      f.idx.append(f.inB(), dir)
      val dst = tmp(s"${f.name}_dst")
      f.idx.compactTo(spark, dir, dst)
      assert(IndexCommit.isCommitted(spark, dst))
      assert(f.normalize(spark.read.parquet(s"$dst/${f.lead}")) ==
        f.normalize(spark.read.parquet(s"$dir/${f.lead}")))
    }

    test(s"${f.name}: compactTo refuses a relative alias of the source") {
      // the bug class the r9 review caught in GramIndex alone: a
      // relative path and its absolute form name the SAME directory; an
      // unqualified compare lets the lazy read-while-overwrite destroy
      // the only copy. Qualified comparison must refuse — in EVERY
      // family, which is the point of the shared trait.
      val rel = s"pidx_alias_${f.name}"
      val abs = new java.io.File(rel).getAbsolutePath
      try {
        f.idx.save(f.inA(), rel)
        assertThrows[IllegalArgumentException] {
          f.idx.compactTo(spark, rel, abs)
        }
      } finally {
        val p = new org.apache.hadoop.fs.Path(abs)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
  }
}
