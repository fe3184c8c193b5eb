package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate-nearest-neighbor index: build and
  * search, in memory.
  *
  * d17 builds the index inline and searches the same table: the coarse
  * quantizer is trained once, and every query batch probes a couple of
  * cells instead of scoring the whole corpus.
  *
  * Scale notes:
  *  - training: deterministic init (K lowest vec_ids) + Lloyd iterations,
  *    each one narrow pass plus a K-row driver fold; the only driver
  *    materialization anywhere is the K centroid vectors;
  *  - search meets the probed (query, cell) pairs with the inverted file
  *    on `cell`, so a query scores about probes·N/K candidates, not N;
  *  - search ranks with the same (sim DESC, id ASC) total order as the
  *    exact baseline.
  */
object IvfIndex {

  /** Trained quantizer (K centroid vectors) + the assigned inverted file
    * (vec_id, cell, v) as unpersisted lineage. */
  final case class Model(centroids: Array[Array[Double]], cells: DataFrame)

  private[ops] def dist2(a: Array[Double], b: Array[Double]): Double = {
    var i = 0; var acc = 0.0
    while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
    acc
  }

  /** Index of the nearest centroid, optionally skipping excluded cells
    * (the probe loop marks already-probed cells). */
  private[ops] def nearest(cents: Array[Array[Double]], v: Array[Double],
      excluded: Array[Boolean] = null): Int = {
    var best = -1; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      if (excluded == null || !excluded(c)) {
        val dd = dist2(cents(c), v); if (dd < bestD) { bestD = dd; best = c }
      }
      c += 1
    }
    best
  }

  /** Driver-heap budget for the collected centroid table. The cap must be
    * BYTES, not rows: centroids are the one thing build() collects, and
    * k rows of dim doubles is k*dim*8 — a flat 65536-row cap would
    * authorize ~537 MB at dim 1024 and >2 GB at dim 4096. */
  private[graft] val CentroidBudgetBytes: Long = 256L << 20

  /** Default cell count for a corpus of `n` vectors of width `dim`:
    * ~sqrt(n), capped. The standard IVF balance — per-query work is k
    * (quantizer scan) + probes*n/k (probed cells), minimized around
    * k ~ sqrt(n*probes); the cap is min(65536, CentroidBudgetBytes /
    * (dim*8)) so the broadcast/collected centroid table stays within a
    * byte budget at ANY embedding width. Recall trade: at fixed k, recall
    * rises with `probes` (candidates ~ probes/k of the corpus on
    * unclustered data, concentrated far better on clustered corpora); at
    * fixed probes, larger k means faster queries but lower recall. Tune
    * probes to the recall target first, then k to the latency target
    * (measured sweep with the former AnnTune dev probe). */
  /** Largest centroid count whose collected table fits the byte budget
    * at width `dim` — the single source of the budget arithmetic shared
    * by [[autoK]] and [[build]]'s explicit-k validation. */
  private[graft] def maxKForDim(dim: Int): Long =
    math.max(1L, CentroidBudgetBytes / (math.max(1, dim) * 8L))

  private[graft] def autoK(n: Long, dim: Int): Int =
    math.max(1L, Seq(65536L, maxKForDim(dim),
      math.round(math.sqrt(n.toDouble))).min).toInt

  /** Fixed-point scale of the Lloyd accumulators: each component is
    * rounded to 1e-6 BEFORE summing, so the per-cell sums are exact
    * integers — addition of longs is associative and commutative, which
    * makes the trained centroids BIT-IDENTICAL under ANY partitioning
    * (see [[build]]). Overflow headroom: a cell of n vectors with
    * |component| <= M needs n·M·1e6 < 2^63 ≈ 9.2e18 — e.g. 1e9 vectors
    * per cell at |v| <= 1e3 uses 1e18. */
  private[ops] val LloydScale = 1e6

  /** Train the coarse quantizer and assign every vector to its cell.
    * `vectors` must be (vec_id LONG, v ARRAY<DOUBLE>). `k = 0` (the
    * default) derives [[autoK]] ~ sqrt(N) from a corpus count.
    *
    * Each Lloyd iteration is ONE narrow pass: every partition folds its
    * vectors into K local (sum, count) accumulators and emits at most K
    * tiny rows, which the driver folds (K x dim longs ~ kilobytes — the
    * only thing ever collected). No shuffle of the vector set anywhere —
    * the MLlib-KMeans aggregation shape, vs the groupByKey form whose
    * per-iteration shuffle moves the whole corpus.
    *
    * DETERMINISM CONTRACT: the build is a pure function of the vector
    * SET — bit-identical on any partitioning, split plan, executor
    * count, or row order. Seeds are the first K vectors by vec_id, the
    * Lloyd sums are fixed-point longs ([[LloydScale]] — integer
    * addition is order-independent where double addition is not), the
    * mean is an exact-integer quotient, and [[nearest]] breaks ties by
    * lowest cell index. At cluster scale this means the same corpus
    * trains the same quantizer on 10 executors or 1000 — index builds
    * are reproducible and the d17 gate can pin the output. */
  def build(spark: SparkSession, vectors: DataFrame, k: Int = 0, iters: Int = 3): Model = {
    import spark.implicits._
    require(k >= 0, "k must be >= 0 (0 = derive ~sqrt(N))")
    val e = vectors.select(col("vec_id"), col("v")).as[(Long, Array[Double])].cache()
    // ONE aggregation job probes corpus size and width together (r18:
    // the previous take(1) + count() pair cost two scheduler round
    // trips per build — pure driver overhead, no arithmetic involved;
    // every row has the same width, so first() is deterministic here)
    val probe = e.toDF("vec_id", "v")
      .agg(count(lit(1)).as("n"), first(col("v")).as("v0")).head
    val n = probe.getLong(0)
    val dim = if (probe.isNullAt(1)) 0 else probe.getSeq[Double](1).length
    // an explicit k must still fit the centroid collect in driver heap —
    // fail fast instead of OOMing the driver mid-Lloyd
    require(k == 0 || k <= maxKForDim(dim),
      s"k=$k centroids of dim=$dim exceed the ${CentroidBudgetBytes >> 20} MB " +
        "centroid budget; shrink k or raise probes instead")
    val kk = if (k > 0) k else autoK(n, dim)
    var centroids = e.orderBy(col("vec_id")).limit(kk).collect().map(_._2)
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val parts = e.mapPartitions { it =>
        val cents = bc.value
        val sums = new Array[Array[Long]](cents.length)
        val counts = new Array[Long](cents.length)
        it.foreach { case (_, v) =>
          val c = nearest(cents, v)
          if (sums(c) == null) sums(c) = new Array[Long](v.length)
          var i = 0
          while (i < v.length) {
            sums(c)(i) += math.rint(v(i) * LloydScale).toLong; i += 1
          }
          counts(c) += 1
        }
        (0 until cents.length).iterator
          .filter(counts(_) > 0).map(c => (c, sums(c), counts(c)))
      }.collect() // <= K tiny rows per partition; fold order is immaterial
      val next = centroids.clone()
      val acc = new Array[Array[Long]](kk)
      val n = new Array[Long](kk)
      parts.foreach { case (c, s, cnt) =>
        if (acc(c) == null) acc(c) = new Array[Long](s.length)
        var i = 0
        while (i < s.length) { acc(c)(i) += s(i); i += 1 }
        n(c) += cnt
      }
      (0 until kk).foreach { c =>
        // one double division whose operands are pure functions of the
        // exact integer sum and count — the mean's bits cannot depend
        // on how the sum was partitioned
        if (n(c) > 0) next(c) = acc(c).map(_.toDouble / (LloydScale * n(c)))
      }
      centroids = next
    }
    val bc = spark.sparkContext.broadcast(centroids)
    val cells = e.map { case (id, v) => (id, nearest(bc.value, v), v) }
      .toDF("vec_id", "cell", "v")
    Model(centroids, cells)
  }

  /** Best neighbor per query under (cosine DESC, id ASC), probing the
    * `probes` nearest cells of each query vector. `queries` must be
    * (vec_id LONG, v ARRAY<DOUBLE>). */
  def search(spark: SparkSession, model: Model, queries: DataFrame, probes: Int = 2): DataFrame =
    bestNeighbor(probedSims(spark, model, queries, probes))

  /** Top-k neighbors per query from the probed cells — the IVF
    * counterpart of [[Similarity.annTopK]], with the exact baseline's
    * output schema (vec_id, rank, neighbor_id) so the two ANN families
    * and [[Similarity.cosineTopK]] interchange downstream (e.g. as
    * [[Similarity.knnClassifyFrom]] neighbor sources). (query, neighbor)
    * pairs are unique by construction — a stored vector lives in exactly
    * one cell and probes are distinct cells — so TopKAgg's id-dedup is a
    * no-op here; a query whose probed cells hold fewer than k vectors
    * emits fewer rows. Like the whole ANN family (and unlike the exact
    * baseline, which ranks their 0/0 cosine as NaN-greatest), zero-norm
    * vectors — failed encodes — are EXCLUDED from both sides, so
    * equality with cosineTopK at probes = K holds on zero-norm-free
    * corpora. */
  def searchTopK(spark: SparkSession, model: Model, queries: DataFrame,
      k: Int = 3, probes: Int = 2): DataFrame = {
    require(k > 0, "need k > 0")
    Similarity.topKRanks(probedPartialTopK(spark, model, queries, probes, k), k)
  }

  /** Per-(query, probed-cell) PARTIAL top-k candidate stream — the r19
    * execution shape of [[searchTopK]]'s scoring half (guide §1.2
    * "per-task work" / §2.3 "aggregate before you shuffle"). The
    * previous plan streamed every probed candidate as a row through a
    * codegen'd per-pair cosine into udaf([[TopKAgg]]) — correct, but
    * the object-aggregation machinery pays per ROW (~0.4 µs/pair, ~14 s
    * of d189's 18 s at sf0.1 where probes = K makes the stream N² pairs;
    * measurement in OPTIMIZATION_r19.md). Here each
    * (query, cell) group is scored in one allocation-free primitive
    * loop feeding a k-slot buffer, so only k rows per (query, cell)
    * ever BECOME rows — the downstream [[Similarity.topKRanks]]
    * aggregation merges probes·k partials per query instead of the
    * full candidate stream (at production probes that is probes·k vs
    * probes·N/K rows per query through the final exchange).
    *
    * Output identity with the pair-stream plan, case by case:
    * arithmetic — same sequential double dot ([[NativeFns.vecDot]]'s
    * fold order), same per-side sqrt hoisted once per vector, same
    * single IEEE division, so every emitted sim is bit-identical;
    * selection — the buffer is a [[TopKSlots]], the order TopKAgg also
    * uses, and top-k selection over a union is the union
    * of per-part top-k merged, so topKRanks(partials) = topKRanks(all
    * pairs) row for row (ids are unique across cells — a stored vector
    * lives in exactly one cell — so TopKAgg's id-dedup stays a no-op);
    * exclusions — zero-norm filters (qnrm/mnrm > 0) and the self-pair
    * guard are applied verbatim. Pinned by IvfIndexSpec's
    * kernel-vs-legacy sweep and the d33/d34/d189 hash gates.
    *
    * Scale: the cogroup shuffles exactly what the join shuffled —
    * probes·N query rows and the inverted file, both keyed by cell —
    * and a task materializes one cell's members (≈ N/K vectors, the
    * IVF working-set bound) while queries stream. */
  private def probedPartialTopK(spark: SparkSession, model: Model,
      queries: DataFrame, probes: Int, k: Int): DataFrame = {
    require(probes > 0, "need probes > 0")
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.centroids)
    val kk = k
    val probed = queries.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        val cents = bc.value
        val excluded = new Array[Boolean](cents.length)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Array[Double])]
        var p = 0
        while (p < math.min(probes, cents.length)) {
          val best = nearest(cents, v, excluded)
          if (best >= 0) { excluded(best) = true; out += ((best, id, v)) }
          p += 1
        }
        out.iterator
      }
    val members = model.cells
      .select(col("cell").cast(org.apache.spark.sql.types.IntegerType),
        col("vec_id"), col("v"))
      .as[(Int, Long, Array[Double])]
    probed.groupByKey(_._1).cogroup(members.groupByKey(_._1)) { (_, qs, ms) =>
      // one cell's members, materialized once: ids + row-major values +
      // norms, zero-norm members dropped exactly like the mnrm > 0 filter
      val mb = ms.toArray
      var dim = 0
      var mm = 0
      var i = 0
      while (i < mb.length) {
        val v = mb(i)._3
        var d2 = 0.0
        var j = 0
        while (j < v.length) { d2 += v(j) * v(j); j += 1 }
        val nrm = math.sqrt(d2)
        if (nrm > 0.0) { mb(mm) = mb(i); mm += 1; dim = v.length }
        i += 1
      }
      val mIds = new Array[Long](mm)
      val mVals = new Array[Double](mm * dim)
      val mNrms = new Array[Double](mm)
      i = 0
      while (i < mm) {
        val (_, id, v) = mb(i)
        mIds(i) = id
        var j = 0
        while (j < dim) { mVals(i * dim + j) = v(j); j += 1 }
        var d2 = 0.0
        j = 0
        while (j < dim) { d2 += v(j) * v(j); j += 1 }
        mNrms(i) = math.sqrt(d2)
        i += 1
      }
      qs.flatMap { case (_, qid, qv) =>
        var q2 = 0.0
        var j = 0
        while (j < qv.length) { q2 += qv(j) * qv(j); j += 1 }
        val qn = math.sqrt(q2)
        if (!(qn > 0.0)) Iterator.empty
        else {
          val top = new TopKSlots(kk)
          var c = 0
          while (c < mm) {
            val cid = mIds(c)
            if (cid != qid) {
              var dot = 0.0
              var t = 0
              val off = c * dim
              while (t < dim) { dot += qv(t) * mVals(off + t); t += 1 }
              top.offer(dot / (qn * mNrms(c)), cid)
            }
            c += 1
          }
          (0 until top.size).iterator.map(p => (qid, top.id(p), top.sim(p)))
        }
      }
    }.toDF("vec_id", "neighbor_id", "sim")
  }

  /** Scored (vec_id, neighbor_id, sim) candidate stream from probing
    * each query's `probes` nearest cells — the shared front half of
    * [[search]] / [[searchTopK]]. */
  private[graft] def probedSims(spark: SparkSession, model: Model, queries: DataFrame,
      probes: Int): DataFrame = {
    require(probes > 0, "need probes > 0")
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.centroids)
    val probed = queries.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        val cents = bc.value
        val excluded = new Array[Boolean](cents.length)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Int)]
        var p = 0
        while (p < math.min(probes, cents.length)) {
          val best = nearest(cents, v, excluded)
          if (best >= 0) { excluded(best) = true; out += ((id, v, best)) }
          p += 1
        }
        out.iterator
      }
      .toDF("q_id", "qv", "cell")
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      call_function("vec_dot", a, b)
    // norms land in per-side pre-join projections (one per probe row /
    // one per stored vector), not per candidate row. Zero-norm vectors
    // are excluded from BOTH sides: cosine against them is 0/0 = NaN,
    // which ranks greatest under the bestNeighbor max-aggregation and
    // would crown a degenerate stored vector every query's neighbor.
    val sim = probed.withColumn("qnrm", sqrt(dot(col("qv"), col("qv"))))
      .where(col("qnrm") > 0.0)
      .join(model.cells.withColumn("mnrm", sqrt(dot(col("v"), col("v"))))
        .where(col("mnrm") > 0.0).as("m"), "cell")
      .where(col("q_id") =!= col("m.vec_id"))
      .select(col("q_id").as("vec_id"), col("m.vec_id").as("neighbor_id"),
        (dot(col("qv"), col("m.v")) / (col("qnrm") * col("m.mnrm"))).as("sim"))
    // (q, neighbor) pairs are already unique: each neighbor lives in
    // exactly one cell and a query probes distinct cells.
    sim
  }

  /** Best (sim DESC, neighbor_id ASC) row per vec_id as a hash aggregate:
    * max of struct(sim, -neighbor_id) realizes the same total order as a
    * row_number window but with map-side partial aggregation and no
    * per-partition sort — shared by d08 and the IVF search. */
  private[ops] def bestNeighbor(sim: DataFrame): DataFrame =
    sim.groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), (-col("neighbor_id")).as("negId"))).as("best"))
      .select(col("vec_id"), (-col("best.negId")).as("neighbor_id"),
        round(col("best.sim"), 4).as("sim"))
}
