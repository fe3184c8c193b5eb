package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** Persisted TEMPORAL co-occurrence edge index — the incremental
  * serving form of d174's decayed co-purchase graph (the twelfth
  * [[IndexCommit]] family), the way [[EdgeIndex]] serves d127's flat
  * one. The key design point: exponential decay depends on the
  * query-time anchor ("now"), so decayed weights are NOT additive
  * facts — but per-(pair, basket-date) witness COUNTS are. The index
  * therefore persists (src, dst, bday, n) — n baskets dated `bday`
  * witnessing the pair in this batch — and applies the decay AT READ
  * TIME against a caller-supplied anchor: weight_ppm(src, dst) =
  * Σ_rows n · (1e6 div 2^shift(anchor, bday)). Counts sum across
  * basket-disjoint batches exactly like EdgeIndex's flat weights, so
  * appends stay incremental, compaction stays a semantic merge, and
  * ONE index serves every anchor and half-life — yesterday's
  * "trending" and today's differ only in the anchor frame.
  *
  * Row-count envelope: at most one fact row per (pair, date) per
  * batch — bounded by the pair-witness count EdgeIndex already
  * stores (each witnessing basket has one date), so the temporal
  * refinement costs at most the date column, never a blowup.
  *
  * On-disk layout (parquet):
  *   <dir>/pairfacts/ingest_batch=B/ (src, dst, bday DATE, n BIGINT —
  *     n may be NEGATIVE: [[appendLate]]'s retraction rows; per-key
  *     nets stay >= 0 and readers/compaction net them out)
  *   <dir>/basketids/ingest_batch=B/ (basket_id)
  *   <dir>/basketitems/ingest_batch=B/ (basket_id, item_id, bday —
  *     the distinct raw claims; linear in the input, what late-data
  *     reconciliation and the sliding anchor read)
  * Disjointness, the per-batch runaway-basket cap and the crash-safe
  * marker protocol are all [[EdgeIndex]]'s, restated over the 3-column
  * basket input (basket_id, item_id, bday); feeds that cannot deliver
  * complete baskets per batch use [[appendLate]], which reconciles
  * stragglers as additive (possibly negative) fact deltas instead of
  * refusing them. The d182 gate proves the split-ingest
  * round trip reproduces [[Graphs.decayedCopurchase]] on the same
  * corpus under d174's oracle VERBATIM; d183 proves a consumer
  * ([[Graphs.trendingRelated]]) fed from the index under d179's.
  */
object TemporalEdgeIndex extends PersistedIndex {

  /** [[EdgeIndex.MaxBasketItems]] — fixed at write time so every
    * batch is gated identically. */
  val MaxBasketItems: Int = EdgeIndex.MaxBasketItems

  /** The per-batch (src, dst, bday, n) fact build over a complete
    * basket frame — shared verbatim by the normal write path and both
    * sides of the late-data delta (so reconciliation retracts EXACTLY
    * what an earlier application of the same function emitted). */
  private def pairFactsOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = docs.toDF("basket_id", "item_id", "bday")
    // one date per basket — duplicates collapse to the NEWEST claim
    // (max bday = smallest shift), the decayedCopurchase convention
    val days = b.groupBy(col("basket_id")).agg(max(col("bday")).as("bday"))
    val bi0 = b.select(col("basket_id"), col("item_id")).distinct()
    val bi = bi0
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col("basket_id"))))
      .where(col("__n") <= MaxBasketItems)
      .select(col("basket_id"), col("item_id"))
    // the date attaches PRE-fan-out (the decayedCopurchase shift
    // discipline): one basket-keyed join on the distinct-items frame,
    // not on the quadratic pair stream
    val a = bi.toDF("basket_id", "src").join(days, Seq("basket_id"))
    val c = bi.toDF("basket_id", "dst")
    a.join(c, Seq("basket_id"))
      .where(col("src") < col("dst"))
      .groupBy(col("src"), col("dst"), col("bday"))
      .agg(count(lit(1)).as("n"))
  }

  protected def batchTables: Seq[BatchTable] = Seq(
    BatchTable(IndexCommit.TableSpec("pairfacts"),
      (docs, _, _) => pairFactsOf(docs)),
    BatchTable(IndexCommit.TableSpec("basketids"), (docs, _, _) =>
      docs.toDF("basket_id", "item_id", "bday")
        .select(col("basket_id")).distinct()),
    // the raw distinct (basket, item, date) claims — what makes
    // LATE-DATA reconciliation possible ([[appendLate]] recomputes a
    // straddling basket's prior facts from here) and what
    // the sliding anchor reads (EVERY ingested basket's date lands
    // here, singleton and over-cap baskets included — pairfacts only
    // witnesses pairs). Footprint: one row per distinct claim — LINEAR
    // in the input where pairfacts is quadratic per basket, so the
    // index's row envelope is unchanged in order.
    BatchTable(IndexCommit.TableSpec("basketitems"), (docs, _, _) =>
      docs.toDF("basket_id", "item_id", "bday").distinct()))

  override protected def disjointIdCol: Option[String] = Some("basket_id")
  override protected def disjointTable: String = "basketids"

  // ---- late-data ingest (r15 verdict forward item #2) -------------------

  /** The pair-fact DELTA a batch containing LATE fragments must append
    * so the index nets to exactly the one-shot build over everything
    * seen (the additive-fact reconciliation the read-time-decay layout
    * makes possible — late facts really are just appends):
    *
    *  - baskets never seen before contribute their facts as usual;
    *  - a STRADDLING basket (id already indexed by an earlier batch)
    *    contributes `pairFactsOf(merged claims) − pairFactsOf(prior
    *    claims)` — its prior claims re-read from the basketitems table,
    *    the subtraction carried as NEGATIVE-n retraction rows. Since
    *    [[pairFactsOf]] is a pure function of a basket's claim set and
    *    earlier batches net-appended exactly `pairFactsOf(prior)` for
    *    it (induction over batches), the index's per-(pair, date) net
    *    equals the one-shot build's count after EVERY batch — at any
    *    lateness, any fragment order, any number of re-deliveries of
    *    the same claim, across date-advancing fragments (old-date rows
    *    retract, new-date rows appear) and item-cap transitions (a
    *    basket growing past MaxBasketItems retracts wholesale, exactly
    *    like the one-shot build excludes it). Nets are >= 0
    *    throughout; fully-cancelled rows are dropped at read time
    *    ([[servedDecayedEdges]]'s net_n filter) and at compaction.
    *
    * No watermark horizon is needed: reconciliation is exact at ANY
    * lateness, so there is nothing a buffer-and-seal mode would add
    * except dropped stragglers. Cost per batch: one basketids probe
    * and, only when stragglers exist, one semi-joined read of the
    * straddlers' prior claims. Replay-safe: prior state is read with
    * the arriving batch id EXCLUDED, so a replayed batch recomputes the
    * identical delta and dynamic overwrite replaces its own partitions
    * idempotently. */
  private[graft] def lateDelta(b: DataFrame, dir: String, batchId: Long): DataFrame = {
    val spark = b.sparkSession
    val idsPath = new org.apache.hadoop.fs.Path(s"$dir/basketids")
    val fs = idsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(idsPath)) return pairFactsOf(b)
    // migration probe (r16 advice): a pre-late-data index never
    // persisted its claims, so its straddlers CANNOT be reconciled —
    // name the remedy instead of failing with a raw path error
    IndexCommit.requireTable(spark, dir, "basketitems", "lateDelta",
      "the index was written by a version that did not persist raw " +
        "claims, so late fragments of its baskets cannot be reconciled; " +
        "rebuild it with save()/append() under this version (compaction " +
        "cannot recover claims that were never recorded)")
    val priorIds = Tables.parquet(spark, s"$dir/basketids")
      .where(col(IndexCommit.BatchCol) =!= batchId)
      .select(col("basket_id"))
    val straddleIds = b.select(col("basket_id")).distinct()
      .join(priorIds, Seq("basket_id"), "left_semi")
      .localCheckpoint()
    if (straddleIds.isEmpty) return pairFactsOf(b)
    val prior = Tables.parquet(spark, s"$dir/basketitems")
      .where(col(IndexCommit.BatchCol) =!= batchId)
      .select(col("basket_id"), col("item_id"), col("bday"))
      .join(straddleIds, Seq("basket_id"), "left_semi")
      .distinct()
      .localCheckpoint()
    // POSITIVE side in ONE quadratic fan-out (r18 optimization): the
    // fresh baskets' claims plus the straddlers' MERGED claims are
    // exactly `b ∪ prior` as a claim set — straddleIds ⊆ b's ids, so
    // prior adds no baskets b lacks, and [[pairFactsOf]] is per-basket
    // (per-basket item set, per-basket max-date, per-basket cap), so
    // facts(fresh ⊎ merged) = facts(b ∪ prior) ROW FOR ROW after the
    // final (src, dst, bday) re-aggregation. The previous form built
    // fresh (left_anti) and merged (left_semi + union) separately and
    // paid the window + self-join fan-out TWICE over the same total
    // row volume, plus the two straddle-split joins (guide §2.4:
    // remove shuffles outright).
    pairFactsOf(b.select(col("basket_id"), col("item_id"), col("bday"))
        .union(prior).distinct())
      .unionByName(pairFactsOf(prior).withColumn("n", -col("n")))
      .groupBy(col("src"), col("dst"), col("bday"))
      .agg(sum(col("n")).as("n"))
      .where(col("n") =!= 0L)
  }

  /** One late-tolerant write batch: the [[lateDelta]] pair facts plus
    * the batch's id/claim rows, under the [[IndexCommit]] guard. The
    * delta is MATERIALIZED before the guard opens so no read of the
    * prior tables is in flight while their directories gain this
    * batch's partitions. Admission is [[IndexCommit.requireReplaySafe]]
    * (r16 advice, medium): on an UNCOMMITTED directory only a replay of
    * the torn batch's own id may proceed (its partial partitions are
    * scrubbed first) — a new id would absorb the torn batch's partial
    * claims into the delta arithmetic and then re-create the marker
    * over them. Package-visible so the spec can drive same-id
    * replays. */
  private[graft] def writeLateBatch(docs: DataFrame, dir: String, batchId: Long): Unit = {
    val spark = docs.sparkSession
    IndexCommit.requireReplaySafe(spark, dir, batchId,
      claimTables = Seq("basketids", "basketitems"), factTable = "pairfacts")
    val b = docs.toDF("basket_id", "item_id", "bday").localCheckpoint()
    val delta = lateDelta(b, dir, batchId).localCheckpoint()
    IndexCommit.withGuard(spark, dir) {
      Seq(("pairfacts", delta),
          ("basketids", b.select(col("basket_id")).distinct()),
          ("basketitems", b.distinct()))
        .foreach { case (name, df) =>
          IndexCommit.stamped(df, batchId).write
            .mode(org.apache.spark.sql.SaveMode.Overwrite)
            .option("partitionOverwriteMode", IndexCommit.overwriteMode(false))
            .partitionBy(IndexCommit.BatchCol)
            .parquet(s"$dir/$name")
        }
    }
  }

  /** [[PersistedIndex.append]] for a batch that may contain LATE
    * fragments of already-indexed baskets — reconciles instead of
    * refusing (see [[lateDelta]]; `append(checkDisjoint = true)` stays
    * the fail-fast form for feeds that promise complete baskets). */
  def appendLate(docs: DataFrame, dir: String): Unit =
    // ids allocate from basketids (>= 1 row per non-empty batch), never
    // pairfacts: a late fragment's DELTA can be empty (all-singleton or
    // nothing-new), which writes no pairfacts partition — see
    // [[PersistedIndex.append]]'s allocation note
    writeLateBatch(docs, dir,
      IndexCommit.nextBatchId(docs.sparkSession, s"$dir/basketids"))

  /** The decayed edge set across all indexed batches, relative to the
    * 1-row `anchor` frame (one DATE column — the caller's "now";
    * broadcast, never collected): (src, dst, weight_ppm) with
    * src < dst, weight_ppm = Σ n · (1e6 div 2^shift), shift =
    * least(datediff(anchor, bday) div halflifeDays, maxShift) clamped
    * to [0, 62], pruned to minWeightPpm. When the indexed batches
    * partition the corpus and the anchor matches, this EQUALS
    * [[Graphs.decayedCopurchase]] over [[Graphs]]' orderShifts — the
    * d182 gate. Serving cost: one pair-keyed sum over INDEX rows
    * (≤ one per pair per date per batch), never the raw corpus. */
  def decayedEdgesOf(spark: SparkSession, dir: String, anchor: DataFrame,
      halflifeDays: Int = 180, maxShift: Int = 30,
      minWeightPpm: Long = 1000000L): DataFrame =
    servedDecayedEdges(spark, dir, maxBatch = None, anchor, halflifeDays,
      maxShift, minWeightPpm, caller = "decayedEdgesOf")

  /** [[decayedEdgesOf]] restricted to ingest batches ≤ `maxBatch` —
    * the HISTORICAL-generation read behind d186's warm-start decayed
    * PageRank (the [[EdgeIndex.edgesUpTo]] twin): the decayed edge set
    * as it stood before later appends, AT THE GIVEN ANCHOR (the anchor
    * stays the caller's "now" — historical edges, current clock; a
    * full rebuild stamps batch −1, appends 0, 1, …). Partition-pruned
    * on the ingest_batch column, never a full-scan post-filter. */
  def decayedEdgesUpTo(spark: SparkSession, dir: String, maxBatch: Long,
      anchor: DataFrame, halflifeDays: Int = 180, maxShift: Int = 30,
      minWeightPpm: Long = 1000000L): DataFrame =
    servedDecayedEdges(spark, dir, Some(maxBatch), anchor, halflifeDays,
      maxShift, minWeightPpm, caller = "decayedEdgesUpTo")

  /** The ONE serving read both public forms delegate to (an arithmetic
    * change lands in both by construction). The anchor attaches by
    * cross join: a multi-row frame would silently MULTIPLY every fact
    * (and an empty one erase them), so the 1-row contract is enforced,
    * not assumed. The frame is PINNED first (localCheckpoint — one
    * evaluation of the caller's plan) so the row the check validated IS
    * the row the join broadcasts: an anchor derived from live data
    * could otherwise pass the count and then re-aggregate to a
    * different "now", and even the benign case would pay the caller's
    * aggregation twice. `maxBatch` restricts to ingest batches ≤ it —
    * a partition-pruned predicate on the ingest_batch column, never a
    * full-scan post-filter. */
  private def servedDecayedEdges(spark: SparkSession, dir: String,
      maxBatch: Option[Long], anchor: DataFrame, halflifeDays: Int,
      maxShift: Int, minWeightPpm: Long, caller: String): DataFrame = {
    require(halflifeDays >= 1, "need halflifeDays >= 1")
    require(maxShift >= 0, "need maxShift >= 0")
    // parity with Graphs.decayedCopurchase: a negative floor would
    // silently disable the prune instead of failing like the direct build
    require(minWeightPpm >= 0, "need minWeightPpm >= 0")
    IndexCommit.requireCommitted(spark, dir, caller)
    val mx = anchor.toDF("mx").localCheckpoint()
    require(mx.count() == 1L,
      s"$caller: the anchor frame must contain exactly one row " +
        "(one DATE column — the query-time 'now')")
    val shift = s"least(greatest(least(datediff(mx, bday) div $halflifeDays," +
      s" $maxShift), 0), 62)"
    val facts = Tables.parquet(spark, s"$dir/pairfacts")
    maxBatch.fold(facts)(b => facts.where(col(IndexCommit.BatchCol) <= b))
      .crossJoin(broadcast(mx))
      .select(col("src"), col("dst"), col("n"),
        (col("n") *
          expr(s"1000000 div shiftleft(cast(1 as bigint), $shift)")).as("w"))
      .groupBy(col("src"), col("dst"))
      // net_n > 0 nets out [[appendLate]]'s retraction facts: a pair
      // whose witnesses all cancelled (its basket grew past the item
      // cap) must be ABSENT like the one-shot build's, not emitted at
      // weight 0 — while a positive-witness pair whose dates all decay
      // to 0 ppm stays emittable (at minWeightPpm = 0) exactly like the
      // direct computation. Per-(pair, date) nets are >= 0 by the late
      // -delta induction, so sum(n) > 0 iff some date still witnesses.
      // Positive-only indexes are untouched (net_n > 0 trivially).
      .agg(sum(col("w")).as("weight_ppm"), sum(col("n")).as("net_n"))
      .where(col("net_n") > 0L && col("weight_ppm") >= minWeightPpm)
      .select(col("src"), col("dst"), col("weight_ppm"))
  }

  /** One serving refresh — the pure function of (index state, anchor)
    * a serving consumer publishes after each appended batch, and the
    * path the registered d192 gate drives (sliding anchor read, decayed
    * serve, trendingRelated, atomic publish). `anchorDay = None` is the
    * SLIDING anchor: the newest basket date across everything indexed,
    * so "now" advances with the data and decay re-weights without any
    * index rewrite. The snapshot is a pure function of the index state,
    * so a refresh after a replayed batch publishes the identical table
    * under a new generation. Read it with [[trendingSnapshot]]. Scale:
    * a refresh reads INDEX rows (≤ one per pair per date per batch),
    * never the raw basket history.
    * `retainMillis` is [[IndexCommit.publishSnapshot]]'s GC age floor —
    * raise it when downstream scans of the snapshot can outlive two
    * publish intervals. */
  private[graft] def refreshTrendingSnapshot(s: SparkSession, dir: String,
      anchorDay: Option[java.sql.Date], outDir: String, k: Int,
      halflifeDays: Int, maxShift: Int, minWeightPpm: Long, batchId: Long,
      retainMillis: Long = 0L): Unit = {
    val anchor = anchorDay match {
      case Some(day) => s.range(1).select(lit(day).as("mx"))
      // sliding: the newest basket date across EVERY ingested
      // claim — basketitems, not pairfacts, so singleton and
      // over-cap baskets advance "now" too (r15 advice)
      case None =>
        // migration probe (r16 advice): a pre-late-data index has no
        // claims table — the sliding anchor cannot be derived from it
        IndexCommit.requireTable(s, dir, "basketitems",
          "refreshTrendingSnapshot",
          "the index was written by a version that did not persist raw " +
            "claims, which the sliding anchor reads; rebuild it with " +
            "save()/append() under this version, or pass a fixed anchorDay")
        Tables.parquet(s, s"$dir/basketitems")
          .agg(max(col("bday")).as("mx"))
    }
    // atomic generation publish (r15 advice: a plain overwrite
    // deletes the served directory before rewriting — a reader
    // racing the refresh, or a crash mid-write, saw a missing/
    // partial table); readers resolve via [[trendingSnapshot]]
    IndexCommit.publishSnapshot(
      Graphs.trendingRelated(
        decayedEdgesOf(s, dir, anchor,
          halflifeDays, maxShift, minWeightPpm), k),
      outDir, batchId, retainMillis)
    ()
  }

  /** The live trending snapshot [[refreshTrendingSnapshot]] publishes — the
    * [[IndexCommit.publishSnapshot]] generation the pointer names;
    * fails closed before the first completed publish, and never
    * observes a half-written generation (the pointer swap is an atomic
    * rename and the previous generation outlives it by one publish).
    * Reader-staleness bound: a scan that starts after resolving the
    * pointer keeps its files for at least one further publish interval
    * — plus the publisher's `retainMillis` when set; a scan that can
    * outlive that window must re-resolve and retry on
    * FileNotFoundException. */
  def trendingSnapshot(spark: SparkSession, outDir: String): DataFrame =
    Tables.parquet(spark, IndexCommit.currentSnapshotDir(spark, outDir))

  /** Compaction is a semantic MERGE (the [[EdgeIndex]] precedent): the
    * per-batch (src, dst, bday) counts SUM into one row per key —
    * addition is associative, and the decay is read-time, so merging
    * loses nothing at any future anchor. Late-mode artifacts fold away
    * here: retraction rows cancel into their targets (net-zero keys
    * are dropped — the serving read's net_n filter, applied once and
    * for all) and the id/claim tables DEDUPLICATE (a straddling basket
    * legitimately appears in every batch that carried a fragment). */
  override def compactTo(spark: SparkSession, src: String, dst: String): Unit =
    compactGuarded(spark, src, dst) {
      IndexCommit.stamped(
          Tables.parquet(spark, s"$src/pairfacts")
            .groupBy(col("src"), col("dst"), col("bday"))
            .agg(sum(col("n")).cast("long").as("n"))
            .where(col("n") =!= 0L), -1L)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "static")
        .partitionBy(IndexCommit.BatchCol).parquet(s"$dst/pairfacts")
      IndexCommit.stamped(
          Tables.parquet(spark, s"$src/basketids").drop(IndexCommit.BatchCol)
            .distinct(), -1L)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "static")
        .partitionBy(IndexCommit.BatchCol).parquet(s"$dst/basketids")
      IndexCommit.stamped(
          Tables.parquet(spark, s"$src/basketitems").drop(IndexCommit.BatchCol)
            .distinct(), -1L)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "static")
        .partitionBy(IndexCommit.BatchCol).parquet(s"$dst/basketitems")
    }

  // ---- driver binding --------------------------------------------------

  /** Per-(session, sfDir) saved index over the dated lineitem basket
    * frame, built incrementally (save even orderkeys, append odd with
    * checkDisjoint — the EdgeIndex split-ingest discipline). */
  private val dirMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def savedDir(s: SparkSession, d: String): String = {
    val k = (s, d)
    val hit = dirMemo.get(k)
    if (hit != null) hit
    else {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-tedgeidx-q").toString
      // materialize the basket join ONCE (r18, guide §2.4/§5): without
      // the checkpoint every batch table build of both write batches —
      // plus the disjointness probe — re-evaluates the lineitem⋈orders
      // join (7 evaluations for the save+append pair)
      val baskets = lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"), col("l_partkey"))
        .join(orders(s, d).select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("bday")), Seq("o_orderkey"))
        .select(col("o_orderkey").as("basket_id"),
          col("l_partkey").as("item_id"), col("bday"))
        .localCheckpoint()
      save(baskets.where(col("basket_id") % 2 === 0), dir)
      append(baskets.where(col("basket_id") % 2 === 1), dir,
        checkDisjoint = true)
      val prev = dirMemo.putIfAbsent(k, dir)
      if (prev != null) { Corpus.deleteRecursively(dir); prev }
      else {
        graft.Sessions.onStopOnce(s, "temporal-edgeindex-dirs") { () =>
          val it = dirMemo.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getKey._1 eq s) {
              Corpus.deleteRecursively(e.getValue); it.remove()
            }
          }
        }
        dir
      }
    }
  }

  /** The d174 anchor — max order date over the WHOLE orders table
    * (single-item and capped baskets included: the anchor is a corpus
    * property, not an index one), as a 1-row broadcastable frame. */
  private def anchorOf(s: SparkSession, d: String): DataFrame =
    orders(s, d).agg(max(col("o_orderdate").cast("date")).as("mx"))

  /** Per-(session, sfDir) LATE-built temporal index (the d190 twin):
    * every basket's items split by partkey parity across two
    * [[appendLate]] batches — every mixed-parity basket straddles and
    * batch 2 reconciles it via retraction deltas. */
  private val lateDirMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def lateSavedDir(s: SparkSession, d: String): String = {
    val k = (s, d)
    val hit = lateDirMemo.get(k)
    if (hit != null) hit
    else {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-tedgeidx-late-q").toString
      // one evaluation of the basket join for both late batches (r18 —
      // writeLateBatch checkpoints its own batch, but each appendLate
      // would still re-run the join to produce it)
      val baskets = lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"), col("l_partkey"))
        .join(orders(s, d).select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("bday")), Seq("o_orderkey"))
        .select(col("o_orderkey").as("basket_id"),
          col("l_partkey").as("item_id"), col("bday"))
        .localCheckpoint()
      appendLate(baskets.where(col("item_id") % 2 === 0), dir)
      appendLate(baskets.where(col("item_id") % 2 === 1), dir)
      val prev = lateDirMemo.putIfAbsent(k, dir)
      if (prev != null) { Corpus.deleteRecursively(dir); prev }
      else {
        graft.Sessions.onStopOnce(s, "temporal-edgeindex-late-dirs") { () =>
          val it = lateDirMemo.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getKey._1 eq s) {
              Corpus.deleteRecursively(e.getValue); it.remove()
            }
          }
        }
        dir
      }
    }
  }

  /** Per-(session, sfDir) SERVED snapshot root (the d192 gate): one
    * [[refreshTrendingSnapshot]] — the per-batch serving refresh,
    * sliding anchor included — published over the
    * LATE-built index, read back through the snapshot pointer. */
  private val servedDirMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def servedSnapshotDir(s: SparkSession, d: String): String = {
    val k = (s, d)
    val hit = servedDirMemo.get(k)
    if (hit != null) hit
    else {
      val out = java.nio.file.Files
        .createTempDirectory("graft-tedgeidx-served-q").toString
      refreshTrendingSnapshot(s, lateSavedDir(s, d), anchorDay = None,
        out, k = 10, halflifeDays = 180, maxShift = 30,
        minWeightPpm = 1000000L, batchId = 1L)
      val prev = servedDirMemo.putIfAbsent(k, out)
      if (prev != null) { Corpus.deleteRecursively(out); prev }
      else {
        graft.Sessions.onStopOnce(s, "temporal-edgeindex-served-dirs") { () =>
          val it = servedDirMemo.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getKey._1 eq s) {
              Corpus.deleteRecursively(e.getValue); it.remove()
            }
          }
        }
        out
      }
    }
  }

  /** The late-built index dir for external rigs (ScaleProbe's
    * compaction-after-retractions rung times compactTo over it). */
  private[graft] def lateIndexDir(s: SparkSession, d: String): String =
    lateSavedDir(s, d)

  val MemoizedQueries: Set[String] =
    Set("d182_decayed_indexed", "d183_trending_indexed",
      "d184_decayed_pagerank_indexed", "d186_decayed_pagerank_warm",
      "d191_decayed_late_indexed", "d192_trending_snapshot_served")

  def queries: Seq[Q] = Seq(
    // d182: d174 served from the persisted temporal index — save the
    // even-orderkey half, append the odd half, read with the corpus
    // anchor; hash-gated by d174's oracle VERBATIM (the d160
    // discipline for the TEMPORAL edge build: per-date additive facts
    // + read-time decay reproduce the direct computation exactly).
    Q("d182_decayed_indexed",
      (s, d) => decayedEdgesOf(s, savedDir(s, d), anchorOf(s, d)),
      Some(Graphs.decayedCopurchaseSql)),

    // d191: the LATE-DATA write path on the TEMPORAL family under
    // d174's oracle VERBATIM (the d190 twin): the index is built by
    // two appendLate batches splitting every basket's items by partkey
    // parity, so batch 2 reconciles every mixed-parity basket with
    // negative-n retraction facts; the decayed serve over the netted
    // facts must reproduce the direct computation exactly — the
    // reconciliation induction driver-adjudicated on per-(pair, date)
    // counts, not just spec-asserted.
    Q("d191_decayed_late_indexed",
      (s, d) => decayedEdgesOf(s, lateSavedDir(s, d), anchorOf(s, d)),
      Some(Graphs.decayedCopurchaseSql)),

    // d192: the SERVING-SNAPSHOT read path under d179's oracle VERBATIM
    // (r16 verdict ask #1) — the snapshot is published over the
    // LATE-built index by refreshTrendingSnapshot (the per-batch
    // serving refresh), with the SLIDING anchor
    // derived from the basketitems claims (= the corpus max order date
    // here, so the fixed-anchor oracle applies verbatim), and read back
    // through the atomic snapshot pointer. One gate covers the whole
    // late→serve chain: retraction-netted facts, read-time decay,
    // trendingRelated, publishSnapshot, pointer resolution.
    Q("d192_trending_snapshot_served",
      (s, d) => trendingSnapshot(s, servedSnapshotDir(s, d)),
      Some(Graphs.trendingRelatedSql)),

    // d183: a CONSUMER served from the temporal index — trending
    // related items over the index-served decayed edges, hash-gated by
    // d179's oracle VERBATIM (the d165 consumer-gate discipline).
    Q("d183_trending_indexed",
      (s, d) => Graphs.trendingRelated(
        decayedEdgesOf(s, savedDir(s, d), anchorOf(s, d))),
      Some(Graphs.trendingRelatedSql)),

    // d184: the FIXED-POINT consumer served from the temporal index —
    // 3-iteration weighted PageRank over the index-served decayed edge
    // set, hash-gated by d177's oracle VERBATIM (the d167 discipline).
    // With d183 both consumer shapes the temporal family has are
    // proven index-fed.
    Q("d184_decayed_pagerank_indexed",
      (s, d) => {
        val p = decayedEdgesOf(s, savedDir(s, d), anchorOf(s, d))
          .toDF("src", "dst", "weight").localCheckpoint()
        val sym = p.union(p.select(col("dst"), col("src"), col("weight")))
        Graphs.weightedPageRank(sym, iterations = 3, checkpointEvery = 1)
      },
      Some(Graphs.decayedPrSql)),

    // d186: WARM-START decayed PageRank over the temporal index's
    // append story (the d172 two-phase pattern on the TEMPORAL family):
    // converge-ish on the pre-append generation's decayed edges
    // (partition-pruned batch −1 read, same anchor), then after the
    // append re-run the fixed-point update over the full decayed edge
    // set from those ranks. Hash-gated by the two-phase oracle with the
    // decayed builds swapped in as both phases' edge sources.
    Q("d186_decayed_pagerank_warm",
      (s, d) => {
        val dir = savedDir(s, d)
        val a = anchorOf(s, d)
        val p0 = decayedEdgesUpTo(s, dir, maxBatch = -1L, a)
          .toDF("src", "dst", "weight").localCheckpoint()
        val sym0 = p0.union(p0.select(col("dst"), col("src"), col("weight")))
        val r0 = Graphs.weightedPageRank(sym0, iterations = 3,
          checkpointEvery = 1).localCheckpoint()
        val p1 = decayedEdgesOf(s, dir, a)
          .toDF("src", "dst", "weight").localCheckpoint()
        val sym1 = p1.union(p1.select(col("dst"), col("src"), col("weight")))
        Graphs.weightedPageRankFrom(sym1, r0, iterations = 3,
          checkpointEvery = 1)
      },
      Some(Graphs.warmStartPrSql(3, 3,
        edgeSqlA = s"SELECT src, dst, weight_ppm AS weight FROM (${Graphs.decayedCopurchaseEvenSql})",
        edgeSqlB = s"SELECT src, dst, weight_ppm AS weight FROM (${Graphs.decayedCopurchaseSql})"))))
}
