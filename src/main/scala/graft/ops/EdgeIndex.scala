package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** Persisted co-occurrence edge index — the incremental serving form of
  * d127's co-purchase graph (the eleventh [[IndexCommit]] family, r12
  * verdict ask #1): count each batch's basket-witnessed (src, dst)
  * pairs once, persist the additive facts, and serve the FULL edge set
  * to every graph consumer (PageRank, communities, related items,
  * rules, walks, k-core, the triangle family) without rescanning raw
  * baskets. At 100 TB the basket scan plus the quadratic per-basket
  * self-join dominates every one of the ~15 registered graph queries —
  * with this index that cost is paid once per ingest batch, and the
  * whole family reads pre-counted (src, dst, weight) facts.
  *
  * On-disk layout (parquet):
  *   <dir>/pairfacts/ingest_batch=B/ (src, dst, weight BIGINT — may be
  *     NEGATIVE: [[appendLate]]'s retraction rows; per-pair nets stay
  *     >= 0 and readers/compaction net them out)
  *   <dir>/basketids/ingest_batch=B/ (basket_id)
  *   <dir>/basketitems/ingest_batch=B/ (basket_id, item_id — the
  *     distinct raw claims late-data reconciliation reads; linear in
  *     the input where pairfacts is quadratic per basket)
  * `pairfacts` carries each batch's PER-BATCH pair counts — weight =
  * #distinct baskets of THIS batch witnessing the pair, support-
  * UNPRUNED (pruning belongs to the read, where the cross-batch totals
  * exist: a pair with weight 1 in each of two batches has total 2, so
  * pruning at write would lose it). Across BASKET-disjoint batches the
  * total weight is the plain SUM, so an append writes only its own
  * counts and never rewrites earlier batches — the [[LineIndex]]
  * additive-df precedent. `basketids` enforces that disjointness
  * contract (the docids precedent): a basket split across batches
  * would miss its cross-fragment pairs, a repeated one would double-
  * count, so append(checkDisjoint = true) refuses overlapping basket
  * ids. The runaway-basket cap ([[Graphs.copurchaseCandidates]])
  * applies per batch BEFORE the quadratic self-join — globally correct
  * because a basket lives entirely inside one batch.
  *
  * Scale notes:
  *  - per-batch write cost is d127's own: the capped basket self-join
  *    plus one pair-keyed count — linear in witnessed pairs, bounded by
  *    |batch baskets|·(cap choose 2);
  *  - serving ([[edgesOf]]) aggregates pairfacts by (src, dst) — a
  *    pair-keyed shuffle over INDEX rows (already one row per distinct
  *    pair per batch), never the raw corpus — then prunes to
  *    minSupport;
  *  - compaction is a semantic MERGE (see [[compactTo]]): weights sum
  *    into one row per pair, so a compacted generation serves its
  *    aggregation over one row per distinct pair instead of one per
  *    pair per batch.
  */
object EdgeIndex extends PersistedIndex {

  /** The per-batch runaway-basket cap — [[Graphs.copurchaseEdges]]'s
    * default, fixed at write time so every batch is gated identically
    * (a cap that drifted between batches would make the summed weights
    * incomparable). */
  val MaxBasketItems: Int = 1024

  /** The per-batch (src, dst, weight) fact build over a complete basket
    * frame — shared verbatim by the normal write path and both sides of
    * the late-data delta (the [[TemporalEdgeIndex.pairFactsOf]] twin,
    * minus the date column), so reconciliation retracts EXACTLY what an
    * earlier application of the same function emitted. */
  private def pairFactsOf(baskets: DataFrame): DataFrame =
    Graphs.copurchaseCandidates(baskets, MaxBasketItems)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("weight"))

  /** Lifecycle is [[PersistedIndex]]'s: per-batch basket-witnessed pair
    * counts (additive across BASKET-disjoint batches), the basket ids
    * enforcing that contract, and the raw distinct claims that make
    * LATE-DATA reconciliation possible ([[appendLate]]
    * recomputes a straddling basket's prior facts from basketitems —
    * linear rows where pairfacts is quadratic per basket, so the row
    * envelope is unchanged in order). */
  protected def batchTables: Seq[BatchTable] = Seq(
    BatchTable(IndexCommit.TableSpec("pairfacts"),
      (baskets, _, _) => pairFactsOf(baskets)),
    BatchTable(IndexCommit.TableSpec("basketids"),
      (baskets, _, _) => baskets.toDF("basket_id", "item_id")
        .select(col("basket_id")).distinct()),
    BatchTable(IndexCommit.TableSpec("basketitems"),
      (baskets, _, _) => baskets.toDF("basket_id", "item_id").distinct()))

  override protected def disjointIdCol: Option[String] = Some("basket_id")
  override protected def disjointTable: String = "basketids"

  /** The full co-purchase edge set across all indexed batches —
    * (src, dst, weight) with src < dst, weight = #distinct baskets
    * witnessing the pair corpus-wide, pruned to `minSupport`. When the
    * indexed batches partition exactly the corpus d127 reads, this
    * EQUALS [[Graphs.copurchaseEdges]] on that corpus — the d160 gate.
    * The weight > 0 conjunct nets out [[appendLate]]'s retraction
    * facts: a pair whose witnesses all cancelled (its basket grew past
    * the item cap) must be ABSENT like the one-shot build's even at
    * minSupport <= 0; positive-only indexes are untouched. */
  def edgesOf(spark: SparkSession, dir: String,
      minSupport: Long = 2L): DataFrame = {
    IndexCommit.requireCommitted(spark, dir, "edgesOf")
    spark.read.parquet(s"$dir/pairfacts")
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("weight")).cast("long").as("weight"))
      .where(col("weight") >= minSupport && col("weight") > 0L)
  }

  /** [[edgesOf]] restricted to ingest batches ≤ `maxBatch` — the
    * HISTORICAL-generation read behind d172's warm-start PageRank: the
    * edge set as it stood before later appends (a full rebuild stamps
    * batch −1, appends 0, 1, …). Costs the same pair-keyed sum over
    * FEWER partitions — the batch filter is a partition-pruned read
    * (ingest_batch is the partition column), never a full-scan
    * post-filter. */
  def edgesUpTo(spark: SparkSession, dir: String, maxBatch: Long,
      minSupport: Long = 2L): DataFrame = {
    IndexCommit.requireCommitted(spark, dir, "edgesUpTo")
    spark.read.parquet(s"$dir/pairfacts")
      .where(col(IndexCommit.BatchCol) <= maxBatch)
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("weight")).cast("long").as("weight"))
      .where(col("weight") >= minSupport && col("weight") > 0L)
  }

  // ---- late-data ingest (the [[TemporalEdgeIndex]] machinery on the
  // flat family — same induction, no date column) ------------------------

  /** The pair-fact DELTA for a batch containing LATE fragments of
    * already-indexed baskets: fresh baskets contribute their facts as
    * usual; a straddling basket contributes `pairFactsOf(merged claims)
    * − pairFactsOf(prior claims)` as negative-weight retraction rows,
    * its prior claims re-read from basketitems. By induction the
    * index's per-pair net equals the one-shot build's count after
    * every batch — at any lateness, fragment order, or re-delivery,
    * across item-cap transitions (a basket growing past MaxBasketItems
    * retracts wholesale, exactly like the one-shot build excludes it).
    * Nets stay >= 0; fully-cancelled pairs drop at read time
    * ([[edgesOf]]'s weight > 0 conjunct) and at compaction. See
    * [[TemporalEdgeIndex.lateDelta]] for the full design notes
    * (replay safety, cost envelope, why no watermark horizon is
    * needed). */
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
    val priorIds = spark.read.parquet(s"$dir/basketids")
      .where(col(IndexCommit.BatchCol) =!= batchId)
      .select(col("basket_id"))
    val straddleIds = b.select(col("basket_id")).distinct()
      .join(priorIds, Seq("basket_id"), "left_semi")
      .localCheckpoint()
    if (straddleIds.isEmpty) return pairFactsOf(b)
    val prior = spark.read.parquet(s"$dir/basketitems")
      .where(col(IndexCommit.BatchCol) =!= batchId)
      .select(col("basket_id"), col("item_id"))
      .join(straddleIds, Seq("basket_id"), "left_semi")
      .distinct()
      .localCheckpoint()
    // POSITIVE side in ONE quadratic fan-out (r18 optimization — see
    // [[TemporalEdgeIndex.lateDelta]] for the full argument): fresh ⊎
    // merged = b ∪ prior as a claim set (straddleIds ⊆ b's ids), and
    // pairFactsOf is per-basket, so one window + self-join pass over
    // the union replaces two passes plus the fresh/merged
    // anti/semi-join split — row-identical after the final (src, dst)
    // re-aggregation.
    pairFactsOf(b.select(col("basket_id"), col("item_id"))
        .union(prior).distinct())
      .unionByName(pairFactsOf(prior).withColumn("weight", -col("weight")))
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("weight")).as("weight"))
      .where(col("weight") =!= 0L)
  }

  /** One late-tolerant write batch (the [[TemporalEdgeIndex]] twin):
    * the [[lateDelta]] facts plus the batch's id/claim rows under the
    * [[IndexCommit]] guard; the delta materializes BEFORE the guard
    * opens. Admission is [[IndexCommit.requireReplaySafe]] (r16 advice,
    * medium): on an UNCOMMITTED directory only a replay of the torn
    * batch's own id may proceed (its partial partitions are scrubbed
    * first) — a new id would absorb the torn batch's partial claims
    * into the delta arithmetic and then re-create the marker over
    * them. Package-visible so the spec can drive same-id replays. */
  private[graft] def writeLateBatch(docs: DataFrame, dir: String, batchId: Long): Unit = {
    val spark = docs.sparkSession
    IndexCommit.requireReplaySafe(spark, dir, batchId,
      claimTables = Seq("basketids", "basketitems"), factTable = "pairfacts")
    val b = docs.toDF("basket_id", "item_id").localCheckpoint()
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
    * refusing. Ids allocate from basketids (>= 1 row per non-empty
    * batch), never pairfacts (an all-singleton or nothing-new batch
    * writes no pair rows — see [[PersistedIndex.append]]'s allocation
    * note). */
  def appendLate(docs: DataFrame, dir: String): Unit =
    writeLateBatch(docs, dir,
      IndexCommit.nextBatchId(docs.sparkSession, s"$dir/basketids"))

  /** Compaction is a semantic MERGE (the [[LmIndex]] precedent):
    * per-batch pair counts SUM into one row per (src, dst) — correct
    * because addition is associative, and strictly smaller than
    * restamping (the serve-time aggregation then reads one row per
    * pair instead of one per pair per batch). Late-mode artifacts fold
    * away: retraction rows cancel (net-zero pairs drop — the serving
    * read's filter applied once and for all) and the id/claim tables
    * DEDUPLICATE (a straddling basket legitimately appears in every
    * batch that carried a fragment). Crash-safe by the marker
    * protocol: an interrupted compaction leaves `dst` unmarked
    * (readers fail closed) and `src` untouched. */
  override def compactTo(spark: SparkSession, src: String, dst: String): Unit =
    compactGuarded(spark, src, dst) {
      IndexCommit.stamped(
          spark.read.parquet(s"$src/pairfacts")
            .groupBy(col("src"), col("dst"))
            .agg(sum(col("weight")).cast("long").as("weight"))
            .where(col("weight") =!= 0L), -1L)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "static")
        .partitionBy(IndexCommit.BatchCol).parquet(s"$dst/pairfacts")
      IndexCommit.stamped(
          spark.read.parquet(s"$src/basketids").drop(IndexCommit.BatchCol)
            .distinct(), -1L)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "static")
        .partitionBy(IndexCommit.BatchCol).parquet(s"$dst/basketids")
      IndexCommit.stamped(
          spark.read.parquet(s"$src/basketitems").drop(IndexCommit.BatchCol)
            .distinct(), -1L)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "static")
        .partitionBy(IndexCommit.BatchCol).parquet(s"$dst/basketitems")
    }

  // ---- driver binding --------------------------------------------------

  /** Per-(session, sfDir) saved index over the lineitem basket frame,
    * built INCREMENTALLY — save the even-orderkey baskets, append the
    * odd ones (checkDisjoint on, exercising the contract) — so the
    * registered gate proves the split-ingest round trip reproduces the
    * single-pass d127 computation exactly (the d82/d97 discipline;
    * directories die with the session). */
  private val dirMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def savedDir(s: SparkSession, d: String): String = {
    val k = (s, d)
    val hit = dirMemo.get(k)
    if (hit != null) hit
    else {
      val dir = java.nio.file.Files.createTempDirectory("graft-edgeidx-q").toString
      // canonical column names up front: the append-time disjointness
      // probe selects `basket_id` from the arriving batch itself
      val baskets = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        .toDF("basket_id", "item_id")
      save(baskets.where(col("basket_id") % 2 === 0), dir)
      append(baskets.where(col("basket_id") % 2 === 1), dir,
        checkDisjoint = true)
      val prev = dirMemo.putIfAbsent(k, dir)
      if (prev != null) { Corpus.deleteRecursively(dir); prev }
      else {
        graft.Sessions.onStopOnce(s, "edgeindex-dirs") { () =>
          val it = dirMemo.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getKey._1 eq s) { Corpus.deleteRecursively(e.getValue); it.remove() }
          }
        }
        dir
      }
    }
  }

  /** Per-(session, sfDir) LATE-built index: every basket's items split
    * by partkey parity across two [[appendLate]] batches, so every
    * multi-parity basket STRADDLES the appends and batch 2 reconciles
    * it via retraction deltas — the d190 gate proves the late path
    * reproduces the one-shot d127 computation under its oracle. */
  private val lateDirMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def lateSavedDir(s: SparkSession, d: String): String = {
    val k = (s, d)
    val hit = lateDirMemo.get(k)
    if (hit != null) hit
    else {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-edgeidx-late-q").toString
      val baskets = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        .toDF("basket_id", "item_id")
      appendLate(baskets.where(col("item_id") % 2 === 0), dir)
      appendLate(baskets.where(col("item_id") % 2 === 1), dir)
      val prev = lateDirMemo.putIfAbsent(k, dir)
      if (prev != null) { Corpus.deleteRecursively(dir); prev }
      else {
        graft.Sessions.onStopOnce(s, "edgeindex-late-dirs") { () =>
          val it = lateDirMemo.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getKey._1 eq s) { Corpus.deleteRecursively(e.getValue); it.remove() }
          }
        }
        dir
      }
    }
  }

  val MemoizedQueries: Set[String] =
    Set("d160_edge_index", "d165_related_indexed", "d167_pagerank_indexed",
      "d169_node2vec_indexed", "d172_pagerank_warm", "d175_lpa_warm",
      "d190_edge_index_late")

  def queries: Seq[Q] = Seq(
    // d160: d127 served from the persisted additive edge index — save
    // the even-orderkey basket half, append the odd half, then read the
    // summed + pruned edge set; hash-gated by d127's oracle VERBATIM,
    // proving the index round trip (per-batch capped self-joins,
    // sum-on-read, support pruning after the sum) reproduces the
    // direct single-pass computation exactly.
    Q("d160_edge_index",
      (s, d) => edgesOf(s, savedDir(s, d)),
      Some(Graphs.copurchaseSql)),

    // d190: the LATE-DATA write path under d127's oracle VERBATIM —
    // the index is built by two appendLate batches that split every
    // basket's items by partkey parity, so every mixed-parity basket
    // STRADDLES the appends and batch 2 must reconcile it with
    // retraction deltas against the basketitems claims. Serving the
    // reconciled facts must reproduce the one-shot computation exactly
    // (the same oracle d160 passes for the well-behaved split) —
    // driver-adjudicating the reconciliation induction, not just
    // spec-asserting it.
    Q("d190_edge_index_late",
      (s, d) => edgesOf(s, lateSavedDir(s, d)),
      Some(Graphs.copurchaseSql)),

    // d165: a CONSUMER served from the index — related items over the
    // split-ingested edge facts, hash-gated by d133's oracle VERBATIM
    // (the d39/d97 discipline applied downstream: the index is proven
    // not just to reproduce the edge set, but to feed the
    // recommendation stage identically to the direct build).
    Q("d165_related_indexed",
      (s, d) => {
        val bi = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
          .toDF("basket_id", "item_id").distinct()
        Graphs.relatedItemsFrom(bi, edgesOf(s, savedDir(s, d)))
      },
      Some(Graphs.RelatedItemsOracle)),

    // d167: the ITERATIVE family fed from the index — 3-iteration
    // weighted PageRank over the index-served symmetrized edge set,
    // hash-gated by d147's oracle VERBATIM. With d165 this closes the
    // loop the index exists for: both one-shot (recommendation) and
    // fixed-point (centrality) consumers provably see the same graph
    // the direct basket scan builds.
    Q("d167_pagerank_indexed",
      (s, d) => {
        val p = edgesOf(s, savedDir(s, d)).localCheckpoint()
        val sym = p.union(p.select(col("dst"), col("src"), col("weight")))
        Graphs.weightedPageRank(sym, iterations = 3, checkpointEvery = 1)
      },
      Some(Graphs.weightedPrSql(3))),

    // d169: the WALK→EMBEDDING chain served from the index (r13 verdict
    // ask #1) — node2vec biased walks, skip-gram extraction, and the
    // fixed-point GD trainer all run over the index-served edge set
    // instead of rebuilding the co-purchase frame from raw baskets;
    // hash-gated by d168's chained oracle VERBATIM. With d165 (one-shot)
    // and d167 (fixed-point) this proves the index feeds every consumer
    // SHAPE the graph family has — including the deepest composed
    // pipeline — identically to the direct basket scan.
    Q("d169_node2vec_indexed",
      (s, d) => {
        // the (src, dst) projection of the served edges IS d168's
        // copurchaseFrame (d160 gates that equality); materialized for
        // the same reason — walks reference the edge frame repeatedly
        val e = edgesOf(s, savedDir(s, d))
          .select(col("src"), col("dst")).localCheckpoint()
        Graphs.walkEmbeddings(
          Graphs.walkSkipGrams(
            Graphs.biasedWalks(e, walksPerNode = 2, steps = 3,
              wReturn = 1, wIn = 4, wOut = 2),
            window = 2),
          dim = 4, iters = 2, lrNum = 1, lrDen = 10)
      },
      Some(Graphs.node2vecEmbeddingOracle)),

    // d172: WARM-START weighted PageRank over the index's append story
    // (r13 verdict ask #5) — converge-ish on the first generation
    // (batch −1, the even-basket half), then after the odd-half append
    // re-run the fixed-point update from those ranks over the full
    // served edge set (new nodes at uniform). Incremental serving for
    // derived graph results: the recompute starts where the last one
    // ended. Hash-gated by the two-phase oracle replaying BOTH chains;
    // the fewer-rounds-to-fixed-point claim is measured in GraphsSpec
    // via weightedPageRankConverged.
    Q("d172_pagerank_warm",
      (s, d) => {
        val dir = savedDir(s, d)
        // phase 1: the pre-append generation, batch −1 only
        // (partition-pruned read)
        val p0 = edgesUpTo(s, dir, maxBatch = -1L).localCheckpoint()
        val sym0 = p0.union(p0.select(col("dst"), col("src"), col("weight")))
        val r0 = Graphs.weightedPageRank(sym0, iterations = 3,
          checkpointEvery = 1).localCheckpoint()
        // phase 2: the full post-append edge set, warm-started
        val p1 = edgesOf(s, dir).localCheckpoint()
        val sym1 = p1.union(p1.select(col("dst"), col("src"), col("weight")))
        Graphs.weightedPageRankFrom(sym1, r0, iterations = 3,
          checkpointEvery = 1)
      },
      Some(Graphs.warmStartPrSql(3, 3))),

    // d175: WARM-START label propagation over the same append story —
    // the d172 two-phase pattern applied to COMMUNITIES: settle labels
    // on the pre-append generation (batch −1, partition-pruned read),
    // then resume the synchronous sweeps over the full post-append edge
    // set from those labels (new nodes as their own singletons).
    // Hash-gated by the two-phase oracle replaying BOTH sweep chains;
    // the fewer-sweeps-to-stability claim is measured in GraphsSpec via
    // labelPropagationConverged.
    Q("d175_lpa_warm",
      (s, d) => {
        val dir = savedDir(s, d)
        val l0 = Graphs.labelPropagation(
            edgesUpTo(s, dir, maxBatch = -1L).select(col("src"), col("dst")),
            iterations = 2, checkpointEvery = 1)
          .select(col("node"), col("label")).localCheckpoint()
        Graphs.labelPropagationFrom(
          edgesOf(s, dir).select(col("src"), col("dst")), l0,
          iterations = 2, checkpointEvery = 1)
      },
      Some(Graphs.warmLpaSql(2, 2))))
}
