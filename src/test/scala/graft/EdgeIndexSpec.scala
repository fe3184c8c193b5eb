package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{EdgeIndex, Graphs, IndexCommit}

/** Serving-path coverage for the persisted co-purchase edge index
  * (d160): a split save+append must reproduce the direct single-pass
  * edge build exactly — in particular, support pruning must happen
  * AFTER the cross-batch sum (a pair below support in every batch but
  * at support in total must survive), and the per-batch runaway-basket
  * cap must gate each batch the way the direct build gates the whole
  * corpus. Lifecycle behavior (commit marker, idempotent replays,
  * disjointness, compaction) is gated family-generically in
  * [[PersistedIndexSpec]].
  */
class EdgeIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("edge-index-spec")
  override def afterAll(): Unit = spark.stop()

  private def baskets(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("basket_id", "item_id")
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("edgeidx").toString

  private def edgeSet(df: DataFrame): Set[(Long, Long, Long)] = {
    import spark.implicits._
    df.as[(Long, Long, Long)].collect().toSet
  }

  test("split save+append equals the direct single-pass edge build") {
    // pair (1,2) is witnessed once in EACH half — only the summed
    // index (or the whole-corpus direct build) reaches support 2
    val all = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),   // even half: (1,2),(1,3),(2,3) once
      (3L, 4L), (3L, 5L),             //   and (4,5) once
      (2L, 1L), (2L, 2L),             // odd half: (1,2) again
      (4L, 4L), (4L, 5L),             //   and (4,5) again
      (6L, 2L), (6L, 3L))             //   and (2,3) again
    val dir = tmp()
    EdgeIndex.save(baskets(all.filter(_._1 % 2 == 0)), dir)
    EdgeIndex.append(baskets(all.filter(_._1 % 2 == 1)), dir,
      checkDisjoint = true)
    val served = edgeSet(EdgeIndex.edgesOf(spark, dir))
    val direct = edgeSet(Graphs.copurchaseEdges(baskets(all)))
    assert(served == direct)
    assert(served == Set((1L, 2L, 2L), (2L, 3L, 2L), (4L, 5L, 2L)))
  }

  test("support pruning applies to the summed weight, not per batch") {
    val dir = tmp()
    EdgeIndex.save(baskets(Seq((1L, 7L), (1L, 8L))), dir)    // (7,8) x1
    EdgeIndex.append(baskets(Seq((2L, 7L), (2L, 8L))), dir)  // (7,8) x1
    EdgeIndex.append(baskets(Seq((3L, 7L), (3L, 8L))), dir)  // (7,8) x1
    assert(edgeSet(EdgeIndex.edgesOf(spark, dir)) == Set((7L, 8L, 3L)))
    assert(edgeSet(EdgeIndex.edgesOf(spark, dir, minSupport = 4L)).isEmpty)
  }

  test("an uncommitted index fails closed on read") {
    val dir = tmp()
    EdgeIndex.save(baskets(Seq((1L, 1L), (1L, 2L))), dir)
    val m = new org.apache.hadoop.fs.Path(dir, "_graft_commit")
    m.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(m, false)
    assertThrows[IllegalArgumentException] {
      EdgeIndex.edgesOf(spark, dir)
    }
  }

  test("compaction merges weights and serves identically") {
    val dir = tmp(); val dst = tmp()
    EdgeIndex.save(baskets(Seq((1L, 1L), (1L, 2L))), dir)
    EdgeIndex.append(baskets(Seq((2L, 1L), (2L, 2L))), dir)
    EdgeIndex.compactTo(spark, dir, dst)
    assert(edgeSet(EdgeIndex.edgesOf(spark, dst)) ==
      edgeSet(EdgeIndex.edgesOf(spark, dir)))
    // semantic merge: ONE fact row per distinct pair in the new
    // generation (two batch rows collapsed), still under batch -1
    assert(spark.read.parquet(s"$dst/pairfacts").count() == 1L)
  }

  test("appendLate: fragmented and re-delivered baskets net to the one-shot build") {
    val dir = tmp()
    // fragment 1: partial baskets (basket 1 missing item 3; basket 6 absent)
    EdgeIndex.appendLate(baskets(Seq(
      (1L, 1L), (1L, 2L), (3L, 4L), (3L, 5L))), dir)
    // fragment 2: the late item for basket 1 (its (1,3)/(2,3) pairs must
    // appear and nothing double-count), basket 6 fresh, plus a
    // RE-DELIVERED claim (3,4) that must be a no-op
    EdgeIndex.appendLate(baskets(Seq(
      (1L, 3L), (6L, 2L), (6L, 3L), (3L, 4L))), dir)
    // fragment 3: the second witnesses for (1,2)/(4,5)
    EdgeIndex.appendLate(baskets(Seq(
      (2L, 1L), (2L, 2L), (4L, 4L), (4L, 5L))), dir)
    val merged = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (3L, 4L), (3L, 5L),
      (6L, 2L), (6L, 3L), (2L, 1L), (2L, 2L), (4L, 4L), (4L, 5L))
    val direct = edgeSet(Graphs.copurchaseEdges(baskets(merged), minSupport = 1))
    assert(edgeSet(EdgeIndex.edgesOf(spark, dir, minSupport = 1L)) == direct)
    // and the batch build over the same merged corpus agrees too
    val batch = tmp()
    EdgeIndex.save(baskets(merged), batch)
    assert(edgeSet(EdgeIndex.edgesOf(spark, dir, minSupport = 1L)) ==
      edgeSet(EdgeIndex.edgesOf(spark, batch, minSupport = 1L)))
  }

  test("appendLate on a torn index fails closed; a same-id replay repairs it") {
    // r16 advice (medium): crash between the basketids and basketitems
    // commits of batch 1, then appendLate — before the fix it allocated
    // batch 2, computed retractions from batch 1's MISSING claims
    // (double-counting its orphaned pairfacts), and re-created the
    // marker over the corruption.
    val dir = tmp()
    val b0 = Seq((1L, 1L), (1L, 2L), (3L, 4L), (3L, 5L))
    val b1 = Seq((1L, 3L), (6L, 2L), (6L, 3L))
    EdgeIndex.appendLate(baskets(b0), dir)
    EdgeIndex.appendLate(baskets(b1), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the torn batch-1 write: marker gone, claims partial
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_commit"), false)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/basketitems/ingest_batch=1"), true)
    val e = intercept[IllegalArgumentException] {
      EdgeIndex.appendLate(baskets(Seq((9L, 1L), (9L, 2L))), dir)
    }
    assert(e.getMessage.contains("PARTIAL") && e.getMessage.contains("1"))
    // the remedy the error names: replay the interrupted batch under
    // its OWN id — reads exclude it, writes replace its partitions
    EdgeIndex.writeLateBatch(baskets(b1), dir, batchId = 1L)
    val direct = edgeSet(Graphs.copurchaseEdges(baskets(b0 ++ b1),
      minSupport = 1))
    assert(edgeSet(EdgeIndex.edgesOf(spark, dir, minSupport = 1L)) == direct)
    // ...and the repaired index accepts normal appends again
    EdgeIndex.appendLate(baskets(Seq((9L, 1L), (9L, 2L))), dir)
    assert(edgeSet(EdgeIndex.edgesOf(spark, dir, minSupport = 1L)) ==
      edgeSet(Graphs.copurchaseEdges(
        baskets(b0 ++ b1 ++ Seq((9L, 1L), (9L, 2L))), minSupport = 1)))
  }

  test("plain append on an index whose ONLY surviving table is orphaned facts fails closed (r17 advice)") {
    // crash after the pairfacts commit but before basketids ever
    // existed (the very first write, torn between its table commits):
    // the disjoint table is ABSENT, so the previous gate — which probed
    // only basketids — skipped requireCommitted, allocated a fresh id,
    // and withGuard restored the marker over the orphaned facts, which
    // edgesOf then served as committed. The gate must fire when ANY
    // batch table exists.
    val dir = tmp()
    EdgeIndex.save(baskets(Seq((1L, 1L), (1L, 2L))), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_commit"), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/basketids"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/basketitems"), true)
    val e = intercept[IllegalArgumentException] {
      EdgeIndex.append(baskets(Seq((2L, 1L), (2L, 2L))), dir)
    }
    assert(e.getMessage.contains("_graft_commit"))
    // the remedy the error names: rebuild with save()
    EdgeIndex.save(baskets(Seq((1L, 1L), (1L, 2L))), dir)
    EdgeIndex.append(baskets(Seq((2L, 1L), (2L, 2L))), dir)
    assert(edgeSet(EdgeIndex.edgesOf(spark, dir)) == Set((1L, 2L, 2L)))
  }

  test("a torn batch whose claims never landed is scrubbed when its id is reused") {
    // crash between the pairfacts and basketids commits: the next
    // appendLate legitimately re-allocates the torn id (basketids never
    // recorded it) — the orphaned pairfacts partition must be SCRUBBED
    // first, or an empty/different replacement delta would leave it
    // behind under the restored marker (dynamic overwrite only replaces
    // partitions the new write produces).
    val dir = tmp()
    val b0 = Seq((1L, 1L), (1L, 2L))
    EdgeIndex.appendLate(baskets(b0), dir)
    EdgeIndex.appendLate(baskets(Seq((2L, 1L), (2L, 2L))), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_commit"), false)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/basketids/ingest_batch=1"), true)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/basketitems/ingest_batch=1"), true)
    // an ALL-SINGLETON batch reuses id 1 and writes zero pairfacts —
    // without the scrub the orphaned (1,2)-weight-1 row would survive
    EdgeIndex.appendLate(baskets(Seq((7L, 9L))), dir)
    assert(edgeSet(EdgeIndex.edgesOf(spark, dir, minSupport = 1L)) ==
      edgeSet(Graphs.copurchaseEdges(baskets(b0 ++ Seq((7L, 9L))),
        minSupport = 1)))
  }

  test("torn-write property: every crash point either repairs under the same id or refuses a new one") {
    // systematic sweep of the three crash windows of a late batch
    // write (tables commit in order pairfacts, basketids, basketitems;
    // the marker is deleted first and restored last). For each crash
    // point: a SAME-ID replay must repair the index to the one-shot
    // build, and a NEW-id appendLate must either refuse (the torn
    // batch is visible in the claim tables) or — when the torn id is
    // legitimately re-allocated because basketids never recorded it —
    // produce exactly the one-shot build over what was actually
    // ingested, never double-counting the orphans.
    val b0 = Seq((1L, 1L), (1L, 2L), (3L, 4L), (3L, 5L))
    val b1 = Seq((1L, 3L), (6L, 2L), (6L, 3L), (3L, 4L))
    val b2 = Seq((9L, 1L), (9L, 2L))
    val crashPoints = Seq(
      // tables REMAINING after the crash (of batch 1's three writes)
      Seq("pairfacts"),                            // crashed before basketids
      Seq("pairfacts", "basketids"),               // crashed before basketitems
      Seq())                                       // crashed before pairfacts
    def tornIndex(remaining: Seq[String]): String = {
      val dir = tmp()
      EdgeIndex.appendLate(baskets(b0), dir)
      EdgeIndex.appendLate(baskets(b1), dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_commit"), false)
      Seq("pairfacts", "basketids", "basketitems")
        .filterNot(remaining.contains).foreach { t =>
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$dir/$t/ingest_batch=1"), true)
        }
      dir
    }
    def served(dir: String) = edgeSet(EdgeIndex.edgesOf(spark, dir, 1L))
    def oneShot(rows: Seq[(Long, Long)]) =
      edgeSet(Graphs.copurchaseEdges(baskets(rows), minSupport = 1))
    crashPoints.foreach { remaining =>
      // arm A: same-id replay repairs
      val a = tornIndex(remaining)
      EdgeIndex.writeLateBatch(baskets(b1), a, batchId = 1L)
      assert(served(a) == oneShot(b0 ++ b1),
        s"replay after crash leaving $remaining")
      // arm B: new-id append refuses, or absorbs cleanly when batch 1
      // was never id-allocated (basketids absent => id reuse is legal
      // and the orphans must be scrubbed)
      val b = tornIndex(remaining)
      if (remaining.contains("basketids")) {
        val e = intercept[IllegalArgumentException] {
          EdgeIndex.appendLate(baskets(b2), b)
        }
        assert(e.getMessage.contains("PARTIAL"),
          s"new id after crash leaving $remaining")
      } else {
        EdgeIndex.appendLate(baskets(b2), b)
        assert(served(b) == oneShot(b0 ++ b2),
          s"reused id after crash leaving $remaining")
      }
    }
  }

  test("late reconciliation on a pre-late-data index names the migration remedy") {
    // r16 advice: an index written before the basketitems claims table
    // existed cannot be late-reconciled (its historical claims were
    // never persisted) — the failure must name the fix, not throw a
    // raw path error.
    val dir = tmp()
    EdgeIndex.save(baskets(Seq((1L, 1L), (1L, 2L))), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/basketitems"), true)
    val e = intercept[IllegalArgumentException] {
      EdgeIndex.appendLate(baskets(Seq((1L, 3L))), dir)
    }
    assert(e.getMessage.contains("basketitems") &&
      e.getMessage.contains("rebuild"))
  }

  test("the per-batch cap gates a planted runaway basket at write time") {
    // one basket larger than the cap contributes NO pairs; the fact
    // table (not just the pruned read) must already exclude it
    val bot = Seq.tabulate(EdgeIndex.MaxBasketItems + 1)(i => (9L, i.toLong))
    val ok = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
    val dir = tmp()
    EdgeIndex.save(baskets(ok ++ bot), dir)
    val facts = spark.read.parquet(s"$dir/pairfacts")
      .agg(sum(col("weight")).cast("long")).collect()(0).getLong(0)
    assert(facts == 2L) // only the two witnesses of (1,2)
    assert(edgeSet(EdgeIndex.edgesOf(spark, dir)) == Set((1L, 2L, 2L)))
  }
}
