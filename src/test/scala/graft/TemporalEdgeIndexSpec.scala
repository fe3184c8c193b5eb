package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Graphs, TemporalEdgeIndex}

/** Serving-path coverage for the persisted TEMPORAL edge index (d182):
  * a split save+append must reproduce the direct decayed build at the
  * same anchor exactly — in particular the read-time decay must apply
  * per (pair, date) fact BEFORE the cross-batch sum (a pair witnessed
  * fresh in one batch and stale in another weighs the sum of the two
  * decayed contributions), the ppm prune must follow the sum, and a
  * LATER anchor must re-weight the same persisted facts without any
  * rewrite — the property the per-date layout exists for. Lifecycle
  * (commit marker, idempotent replays, disjointness, compaction
  * refusals) is gated family-generically in [[PersistedIndexSpec]].
  */
class TemporalEdgeIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("temporal-edge-index-spec")
  override def afterAll(): Unit = spark.stop()

  private def baskets(rows: Seq[(Long, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("basket_id", "item_id", "bday")
      .withColumn("bday", col("bday").cast("date"))
  }

  private def anchor(day: String): DataFrame = {
    import spark.implicits._
    Seq(day).toDF("mx").select(col("mx").cast("date"))
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("tedgeidx").toString

  private def edgeSet(df: DataFrame): Set[(Long, Long, Long)] = {
    import spark.implicits._
    df.as[(Long, Long, Long)].collect().toSet
  }

  // two baskets of {1,2}: one fresh (anchor day), one a half-life old;
  // one stale-only basket of {3,4}
  private val all = Seq(
    (2L, 1L, "2024-12-31"), (2L, 2L, "2024-12-31"),  // even: fresh
    (1L, 1L, "2024-07-01"), (1L, 2L, "2024-07-01"),  // odd: 183 days old
    (3L, 3L, "2024-07-01"), (3L, 4L, "2024-07-01"))  // odd: stale only

  test("split save+append equals the direct decayed build at the same anchor") {
    val dir = tmp()
    TemporalEdgeIndex.save(baskets(all.filter(_._1 % 2 == 0)), dir)
    TemporalEdgeIndex.append(baskets(all.filter(_._1 % 2 == 1)), dir,
      checkDisjoint = true)
    val a = anchor("2024-12-31")
    val served = edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, dir, a,
      minWeightPpm = 0L))
    // direct: decayedCopurchase over the same shifts
    val shifts = baskets(all).groupBy(col("basket_id"))
      .agg(max(col("bday")).as("bday"))
      .crossJoin(broadcast(a))
      .select(col("basket_id"),
        least(expr("datediff(mx, bday) div 180"), lit(30)).as("shift"))
    val direct = edgeSet(Graphs.decayedCopurchase(
      baskets(all).select(col("basket_id"), col("item_id")), shifts,
      minWeightPpm = 0L))
    assert(served == direct)
    // hand arithmetic: (1,2) = 1e6 (fresh) + 5e5 (one half-life) —
    // decay per fact BEFORE the cross-batch sum; (3,4) = 5e5
    assert(served == Set((1L, 2L, 1500000L), (3L, 4L, 500000L)))
    // the default 1e6 prune drops the stale-only pair AFTER the sum
    assert(edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, dir, a)) ==
      Set((1L, 2L, 1500000L)))
  }

  test("a malformed anchor frame is refused, not silently multiplied") {
    import spark.implicits._
    val dir = tmp()
    TemporalEdgeIndex.save(baskets(all), dir)
    val two = Seq("2024-12-31", "2025-01-01").toDF("mx")
      .select(col("mx").cast("date"))
    assertThrows[IllegalArgumentException] {
      TemporalEdgeIndex.decayedEdgesOf(spark, dir, two)
    }
    assertThrows[IllegalArgumentException] {
      TemporalEdgeIndex.decayedEdgesOf(spark, dir, two.limit(0))
    }
  }

  test("a later anchor re-weights the SAME persisted facts — no rewrite") {
    val dir = tmp()
    TemporalEdgeIndex.save(baskets(all), dir)
    // 183 days later everything aged one more half-life
    val later = edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, dir,
      anchor("2025-07-02"), minWeightPpm = 0L))
    assert(later == Set((1L, 2L, 750000L), (3L, 4L, 250000L)))
  }

  test("decayedEdgesUpTo reads only the pre-append generation at the current anchor") {
    val dir = tmp()
    TemporalEdgeIndex.save(baskets(all.filter(_._1 % 2 == 0)), dir)   // batch -1
    TemporalEdgeIndex.append(baskets(all.filter(_._1 % 2 == 1)), dir) // batch 0
    val a = anchor("2024-12-31")
    // batch -1 holds only the fresh {1,2} basket
    assert(edgeSet(TemporalEdgeIndex.decayedEdgesUpTo(spark, dir, -1L, a,
      minWeightPpm = 0L)) == Set((1L, 2L, 1000000L)))
    // up to batch 0 = the full set
    assert(edgeSet(TemporalEdgeIndex.decayedEdgesUpTo(spark, dir, 0L, a,
        minWeightPpm = 0L)) ==
      edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, dir, a,
        minWeightPpm = 0L)))
  }

  test("compaction merges per-(pair, date) counts and serves identically") {
    val dir = tmp(); val dst = tmp()
    TemporalEdgeIndex.save(baskets(all.filter(_._1 % 2 == 0)), dir)
    TemporalEdgeIndex.append(baskets(all.filter(_._1 % 2 == 1)), dir)
    TemporalEdgeIndex.compactTo(spark, dir, dst)
    val a = anchor("2024-12-31")
    assert(edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, dst, a,
        minWeightPpm = 0L)) ==
      edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, dir, a,
        minWeightPpm = 0L)))
    // merged: one pairfacts row per (pair, date) across the generations
    val rows = spark.read.parquet(s"$dst/pairfacts")
      .groupBy(col("src"), col("dst"), col("bday")).count()
      .where(col("count") > 1).count()
    assert(rows == 0L)
  }

  test("trending refresh: snapshot after every appended batch equals the batch recompute") {
    import spark.implicits._
    val dir = tmp(); val out = tmp() + "/trending"
    val day = java.sql.Date.valueOf("2024-12-31")
    def add(rows: Seq[(Long, Long, String)], batchId: Long): Unit =
      appendAndRefresh(rows, dir, Some(day), out, batchId)
    def snapshot(): Set[(Long, Long, Long, Long)] =
      TemporalEdgeIndex.trendingSnapshot(spark, out)
        .select(col("item_id"), col("rel_id"), col("weight_ppm"), col("rank"))
        .as[(Long, Long, Long, Long)].collect().toSet
    def direct(rows: Seq[(Long, Long, String)]): Set[(Long, Long, Long, Long)] = {
      val shifts = baskets(rows).groupBy(col("basket_id"))
        .agg(max(col("bday")).as("bday"))
        .crossJoin(broadcast(anchor("2024-12-31")))
        .select(col("basket_id"),
          least(expr("datediff(mx, bday) div 180"), lit(30)).as("shift"))
      Graphs.trendingRelated(Graphs.decayedCopurchase(
          baskets(rows).select(col("basket_id"), col("item_id")), shifts,
          minWeightPpm = 0L), k = 10)
        .select(col("item_id"), col("rel_id"), col("weight_ppm"), col("rank"))
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    // batch 1: the even baskets — the maintained snapshot must match
    // the one-shot computation over exactly what has arrived
    add(all.filter(_._1 % 2 == 0), 0L)
    assert(snapshot() == direct(all.filter(_._1 % 2 == 0)))
    // batch 2: the odd baskets append; the refreshed snapshot must
    // now equal the recompute over the FULL indexed history (decayed
    // cross-batch sums included — basket 1 re-weights pair (1,2))
    add(all.filter(_._1 % 2 == 1), 1L)
    assert(snapshot() == direct(all))
    // the publish protocol (r15 advice): an atomic pointer names the
    // live generation; at most the immediately-previous one is
    // retained for in-flight readers, older ones are GC'd
    val root = new java.io.File(out)
    assert(new java.io.File(root, "_graft_current").exists())
    val gens = root.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("gen-"))
    assert(gens.length >= 1 && gens.length <= 2,
      s"expected current (+ previous) generations, got ${gens.length}")
    // and the gated serving read agrees with d183's composition
    assert(snapshot() ==
      edgeSet4(Graphs.trendingRelated(TemporalEdgeIndex.decayedEdgesOf(
        spark, dir, anchor("2024-12-31"), minWeightPpm = 0L), k = 10)))
  }

  test("sliding-anchor trending: each snapshot anchors at its own corpus max") {
    val dir = tmp(); val out = tmp() + "/trending"
    def add(rows: Seq[(Long, Long, String)], batchId: Long): Unit =
      appendAndRefresh(rows, dir, None, out, batchId)
    def snapshot(): Set[(Long, Long, Long, Long)] =
      edgeSet4(TemporalEdgeIndex.trendingSnapshot(spark, out))
    def direct(rows: Seq[(Long, Long, String)], day: String): Set[(Long, Long, Long, Long)] = {
      val shifts = baskets(rows).groupBy(col("basket_id"))
        .agg(max(col("bday")).as("bday"))
        .crossJoin(broadcast(anchor(day)))
        .select(col("basket_id"),
          least(expr("datediff(mx, bday) div 180"), lit(30)).as("shift"))
      edgeSet4(Graphs.trendingRelated(Graphs.decayedCopurchase(
        baskets(rows).select(col("basket_id"), col("item_id")), shifts,
        minWeightPpm = 0L), k = 10))
    }
    val odd = all.filter(_._1 % 2 == 1)
    // batch 1: only the stale-dated baskets — "now" is their own max
    // (2024-07-01), so nothing has decayed yet and both pairs weigh
    // a full 1e6
    add(odd, 0L)
    assert(snapshot() == direct(odd, "2024-07-01"))
    // batch 2: the fresh baskets arrive and the anchor ADVANCES to
    // 2024-12-31 — the same persisted facts re-weight (the July
    // baskets now sit one half-life back) without any rewrite
    add(all.filter(_._1 % 2 == 0), 1L)
    assert(snapshot() == direct(all, "2024-12-31"))
    // batch 3: ONE singleton basket with a newer date — no new pairs,
    // but the anchor must still advance (r15 advice: a pairfacts-side
    // max never saw singleton/over-cap baskets; the anchor now reads
    // basketitems, where EVERY claim lands) and the whole served
    // table re-weights against the new "now"
    add(Seq((9L, 9L, "2025-06-30")), 2L)
    assert(snapshot() == direct(all, "2025-06-30"))
  }

  /** One serving step as a deployment runs it: append the batch
    * (checked disjoint from the indexed baskets, or reconciling late
    * fragments with `late`), then publish the
    * refreshed trending snapshot — anchored at `anchorDay`, or sliding
    * (the newest indexed basket date) when None. */
  private def appendAndRefresh(rows: Seq[(Long, Long, String)], dir: String,
      anchorDay: Option[java.sql.Date], out: String, batchId: Long,
      late: Boolean = false): Unit = {
    if (late) TemporalEdgeIndex.appendLate(baskets(rows), dir)
    else TemporalEdgeIndex.append(baskets(rows), dir, checkDisjoint = true)
    TemporalEdgeIndex.refreshTrendingSnapshot(spark, dir, anchorDay, out,
      k = 10, halflifeDays = 180, maxShift = 30, minWeightPpm = 0L, batchId)
  }

  private def edgeSet4(df: DataFrame): Set[(Long, Long, Long, Long)] = {
    import spark.implicits._
    df.select(col("item_id"), col("rel_id"), col("weight_ppm"), col("rank"))
      .as[(Long, Long, Long, Long)].collect().toSet
  }

  test("late-data appends: out-of-order fragments reconcile to the in-order batch build") {
    val dir = tmp()
    // the corpus a well-behaved feed would have delivered in order:
    // basket 1 = {1,2,3,4} dated 2024-12-31 (its LATEST claim — a late
    // fragment advances the basket's date), basket 2 = {1,2} fresh,
    // basket 3 = {3,4} stale
    val merged = Seq(
      (1L, 1L, "2024-07-01"), (1L, 2L, "2024-07-01"),
      (1L, 3L, "2024-12-31"), (1L, 4L, "2024-12-31"),
      (2L, 1L, "2024-12-31"), (2L, 2L, "2024-12-31"),
      (3L, 3L, "2024-07-01"), (3L, 4L, "2024-07-01"))
    // batch 1: a FRAGMENT of basket 1 plus complete basket 3
    TemporalEdgeIndex.appendLate(baskets(Seq(
      (1L, 1L, "2024-07-01"), (1L, 2L, "2024-07-01"),
      (3L, 3L, "2024-07-01"), (3L, 4L, "2024-07-01"))), dir)
    // batch 2: complete basket 2 plus a LATE fragment of basket 1
    // whose date ADVANCES the basket — the old-date pair (1,2) must
    // retract and reappear at the new date
    TemporalEdgeIndex.appendLate(baskets(Seq(
      (2L, 1L, "2024-12-31"), (2L, 2L, "2024-12-31"),
      (1L, 3L, "2024-12-31"))), dir)
    // batch 3: a re-delivered claim (must be a no-op) plus one more
    // late item for basket 1
    TemporalEdgeIndex.appendLate(baskets(Seq(
      (1L, 2L, "2024-07-01"), (1L, 4L, "2024-12-31"))), dir)
    val batch = tmp()
    TemporalEdgeIndex.save(baskets(merged), batch)
    for (day <- Seq("2024-12-31", "2025-07-02")) {
      assert(edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, dir,
          anchor(day), minWeightPpm = 0L)) ==
        edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, batch,
          anchor(day), minWeightPpm = 0L)), s"anchor $day")
    }
    // compaction folds the retraction rows away: one row per surviving
    // (pair, date), none net-zero, service unchanged
    val dst = tmp()
    TemporalEdgeIndex.compactTo(spark, dir, dst)
    assert(edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, dst,
        anchor("2024-12-31"), minWeightPpm = 0L)) ==
      edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, batch,
        anchor("2024-12-31"), minWeightPpm = 0L)))
    val facts = spark.read.parquet(s"$dst/pairfacts")
    assert(facts.where(col("n") <= 0L).count() == 0L)
    assert(facts.groupBy(col("src"), col("dst"), col("bday")).count()
      .where(col("count") > 1).count() == 0L)
  }

  test("appendLate: a basket growing past the item cap retracts wholesale, like the one-shot build") {
    val dir = tmp()
    val capped = (1 to TemporalEdgeIndex.MaxBasketItems)
      .map(i => (1L, i.toLong, "2024-01-01"))
    // basket 1 sits exactly AT the cap (its pairs count), basket 2 is a
    // two-item basket sharing the (1,2) pair
    TemporalEdgeIndex.save(
      baskets(capped ++ Seq((2L, 1L, "2024-01-01"), (2L, 2L, "2024-01-01"))),
      dir)
    val a = anchor("2024-01-01")
    val m = TemporalEdgeIndex.MaxBasketItems.toLong
    assert(TemporalEdgeIndex.decayedEdgesOf(spark, dir, a, minWeightPpm = 0L)
      .count() == m * (m - 1) / 2)
    // one late item pushes basket 1 OVER the cap: the one-shot build
    // would exclude it entirely, so the delta retracts every basket-1
    // pair — (1,2) keeps exactly basket 2's witness, every other pair
    // nets to zero and must be ABSENT (not emitted at weight 0)
    TemporalEdgeIndex.appendLate(
      baskets(Seq((1L, (m + 1), "2024-01-01"))), dir)
    assert(edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, dir, a,
      minWeightPpm = 0L)) == Set((1L, 2L, 1000000L)))
  }

  test("sliding-anchor trending with late = true: fragmented baskets still serve the one-shot answer") {
    val dir = tmp(); val out = tmp() + "/trending"
    def direct(rows: Seq[(Long, Long, String)], day: String): Set[(Long, Long, Long, Long)] = {
      val shifts = baskets(rows).groupBy(col("basket_id"))
        .agg(max(col("bday")).as("bday"))
        .crossJoin(broadcast(anchor(day)))
        .select(col("basket_id"),
          least(expr("datediff(mx, bday) div 180"), lit(30)).as("shift"))
      edgeSet4(Graphs.trendingRelated(Graphs.decayedCopurchase(
        baskets(rows).select(col("basket_id"), col("item_id")), shifts,
        minWeightPpm = 0L), k = 10))
    }
    // batch 1: a FRAGMENT of basket 1 plus complete basket 3
    appendAndRefresh(Seq((1L, 1L, "2024-07-01"), (1L, 2L, "2024-07-01"),
      (3L, 3L, "2024-07-01"), (3L, 4L, "2024-07-01")), dir, None, out, 0L,
      late = true)
    // batch 2: the late fragment ADVANCES basket 1's date — a disjoint
    // append would refuse it here; late mode reconciles and the
    // snapshot equals the one-shot recompute over the merged corpus at
    // the advanced anchor
    appendAndRefresh(Seq((1L, 3L, "2024-12-31")), dir, None, out, 1L,
      late = true)
    val merged = Seq(
      (1L, 1L, "2024-07-01"), (1L, 2L, "2024-07-01"),
      (1L, 3L, "2024-12-31"),
      (3L, 3L, "2024-07-01"), (3L, 4L, "2024-07-01"))
    assert(edgeSet4(TemporalEdgeIndex.trendingSnapshot(spark, out)) ==
      direct(merged, "2024-12-31"))
  }

  test("appendLate property: random fragmentation and reordering always nets to the one-shot build") {
    val rnd = new scala.util.Random(42)
    val days = Seq("2024-01-01", "2024-06-01", "2024-12-01")
    for (trial <- 1 to 3) {
      // random corpus: 8 baskets, 1-5 items each, mixed dates — then
      // delivered as SHUFFLED fragments of random size (a fragment can
      // re-deliver a claim, split a basket, or arrive before an older
      // fragment of the same basket)
      val rows = for {
        b <- 1 to 8
        i <- rnd.shuffle((1 to 12).toList).take(1 + rnd.nextInt(5))
      } yield (b.toLong, i.toLong, days(rnd.nextInt(3)))
      val frags = rnd.shuffle(rows.toList).grouped(1 + rnd.nextInt(4)).toList
      val dir = tmp()
      frags.foreach(f => TemporalEdgeIndex.appendLate(baskets(f), dir))
      val batch = tmp()
      TemporalEdgeIndex.save(baskets(rows), batch)
      for (day <- Seq("2024-12-01", "2025-06-01")) {
        assert(edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, dir,
            anchor(day), minWeightPpm = 0L)) ==
          edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, batch,
            anchor(day), minWeightPpm = 0L)),
          s"trial $trial anchor $day (fragments: ${frags.map(_.size)})")
      }
      // the late-delta induction invariant: per-(pair, date) nets are
      // never negative, and compaction equals the one-shot fact table
      import spark.implicits._
      val nets = spark.read.parquet(s"$dir/pairfacts")
        .groupBy(col("src"), col("dst"), col("bday"))
        .agg(sum(col("n")).as("net"))
      assert(nets.where(col("net") < 0L).count() == 0L, s"trial $trial negative net")
      // and the nets EQUAL the one-shot fact table per (pair, date) —
      // the row-level induction the r18 single-fan-out delta rewrite
      // (facts(fresh ⊎ merged) = facts(b ∪ prior)) must preserve, a
      // stronger pin than the served decayed weights above (which could
      // mask a compensating per-date error at coarse anchors)
      def keyed(df: DataFrame) = df
        .select(col("src"), col("dst"), col("bday").cast("string").as("bday"),
          col("net"))
        .as[(Long, Long, String, Long)].collect().toSet
      val oneShot = spark.read.parquet(s"$batch/pairfacts")
        .groupBy(col("src"), col("dst"), col("bday"))
        .agg(sum(col("n")).as("net"))
      assert(keyed(nets.where(col("net") =!= 0L)) == keyed(oneShot),
        s"trial $trial per-(pair, date) nets diverge from the one-shot build")
    }
  }

  test("appendLate on a torn index fails closed; a same-id replay repairs it") {
    // the r16-advice medium on the TEMPORAL family: a crash between the
    // basketids and basketitems commits of batch 1 must not let a later
    // appendLate absorb the torn batch's partial claims (wrong
    // retraction deltas) and re-create the marker over them.
    val dir = tmp()
    val b0 = Seq((1L, 1L, "2024-07-01"), (1L, 2L, "2024-07-01"))
    val b1 = Seq((1L, 3L, "2024-12-31"), (6L, 2L, "2024-12-31"),
      (6L, 3L, "2024-12-31"))
    TemporalEdgeIndex.appendLate(baskets(b0), dir)
    TemporalEdgeIndex.appendLate(baskets(b1), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_commit"), false)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/basketitems/ingest_batch=1"), true)
    val e = intercept[IllegalArgumentException] {
      TemporalEdgeIndex.appendLate(
        baskets(Seq((9L, 1L, "2024-12-31"), (9L, 2L, "2024-12-31"))), dir)
    }
    assert(e.getMessage.contains("PARTIAL"))
    // replaying the interrupted batch under its OWN id repairs the index
    TemporalEdgeIndex.writeLateBatch(baskets(b1), dir, batchId = 1L)
    val oneShot = tmp()
    TemporalEdgeIndex.save(baskets(b0 ++ b1), oneShot)
    val a = anchor("2024-12-31")
    assert(edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, dir, a,
        minWeightPpm = 0L)) ==
      edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, oneShot, a,
        minWeightPpm = 0L)))
  }

  test("torn-write property: every crash point either repairs under the same id or refuses a new one") {
    // the EdgeIndexSpec sweep on the TEMPORAL family (the file the
    // r16 advice named): all three crash windows of a late batch
    // write, each arm asserting same-id replay repairs to the one-shot
    // build and a NEW id refuses (torn batch id-allocated) or absorbs
    // cleanly (id legitimately reused, orphans scrubbed).
    val b0 = Seq((1L, 1L, "2024-07-01"), (1L, 2L, "2024-07-01"),
      (3L, 4L, "2024-07-01"), (3L, 5L, "2024-07-01"))
    val b1 = Seq((1L, 3L, "2024-12-31"), (6L, 2L, "2024-12-31"),
      (6L, 3L, "2024-12-31"))
    val b2 = Seq((9L, 1L, "2024-12-31"), (9L, 2L, "2024-12-31"))
    val crashPoints = Seq(
      Seq("pairfacts"),              // crashed before basketids
      Seq("pairfacts", "basketids"), // crashed before basketitems
      Seq())                         // crashed before pairfacts
    def tornIndex(remaining: Seq[String]): String = {
      val dir = tmp()
      TemporalEdgeIndex.appendLate(baskets(b0), dir)
      TemporalEdgeIndex.appendLate(baskets(b1), dir)
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
    val a = anchor("2024-12-31")
    def served(dir: String) =
      edgeSet(TemporalEdgeIndex.decayedEdgesOf(spark, dir, a,
        minWeightPpm = 0L))
    def oneShot(rows: Seq[(Long, Long, String)]) = {
      val dir = tmp()
      TemporalEdgeIndex.save(baskets(rows), dir)
      served(dir)
    }
    crashPoints.foreach { remaining =>
      val ra = tornIndex(remaining)
      TemporalEdgeIndex.writeLateBatch(baskets(b1), ra, batchId = 1L)
      assert(served(ra) == oneShot(b0 ++ b1),
        s"replay after crash leaving $remaining")
      val rb = tornIndex(remaining)
      if (remaining.contains("basketids")) {
        val e = intercept[IllegalArgumentException] {
          TemporalEdgeIndex.appendLate(baskets(b2), rb)
        }
        assert(e.getMessage.contains("PARTIAL"),
          s"new id after crash leaving $remaining")
      } else {
        TemporalEdgeIndex.appendLate(baskets(b2), rb)
        assert(served(rb) == oneShot(b0 ++ b2),
          s"reused id after crash leaving $remaining")
      }
    }
  }

  test("the sliding anchor on a pre-late-data index names the migration remedy") {
    // r16 advice: refreshTrendingSnapshot's sliding anchor reads the
    // basketitems claims table, which pre-upgrade indexes lack — the
    // failure must name the rebuild remedy, not throw a raw path error.
    val dir = tmp()
    TemporalEdgeIndex.save(baskets(Seq((1L, 1L, "2024-01-01"),
      (1L, 2L, "2024-01-01"))), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/basketitems"), true)
    val e = intercept[IllegalArgumentException] {
      TemporalEdgeIndex.refreshTrendingSnapshot(spark, dir,
        anchorDay = None, tmp() + "/snap", k = 10, halflifeDays = 180,
        maxShift = 30, minWeightPpm = 0L, batchId = 0L)
    }
    assert(e.getMessage.contains("basketitems") &&
      e.getMessage.contains("rebuild"))
  }
}
