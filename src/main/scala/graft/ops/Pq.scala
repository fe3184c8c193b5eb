package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the trained-codebook compression that
  * turns a 100 TB float32 embedding corpus into a ~3 TB code corpus:
  * each vector splits into `m` contiguous subvectors, each subvector is
  * replaced by the id of its nearest centroid in a per-subspace
  * codebook of `k` entries, so a vector stores as m·log2(k) bits
  * (m=16, k=256: 16 bytes) instead of dim·4. Where [[Quantize]]'s
  * affine int8 scheme is training-free and 4x, this is the
  * faiss-`IndexPQ` path: 16-64x, at the cost of a small Lloyd
  * training pass.
  *
  * Retrieval is ADC — asymmetric distance computation: the QUERY stays
  * full-precision, each query builds one m×k lookup table of
  * subspace dot products, and every candidate scores as m table
  * lookups instead of dim multiplications. [[topKAdc]] expresses the
  * whole kernel in codegen'd collection expressions (the LUT is a
  * per-query array column; scoring is an m-step `aggregate` over it),
  * so the pair stream never leaves whole-stage codegen and the
  * codebook rides the plan as one literal — no UDF, no driver loop.
  *
  * Correctness is driver-adjudicated through the family's exact-mode
  * convention (the d33/d35/d61 pattern: gate the degenerate geometry
  * where the approximate structure is provably exact, in the SAME code
  * path production runs): [[trainExact]] builds the codebook from the
  * DISTINCT subvectors themselves, making encoding lossless, so
  *   - d72 hash-gates the codes: nearest-centroid assignment against
  *     the sorted-distinct codebook must reproduce DuckDB's
  *     `dense_rank() OVER (PARTITION BY subspace ORDER BY subvector)`;
  *   - d73 hash-gates ADC retrieval end-to-end: with lossless codes,
  *     the LUT sum IS the subspace-decomposed dot product, and the
  *     oracle replays the identical arithmetic (per-subspace
  *     `list_dot_product`s folded in subspace order — float addition
  *     is not associative, so the oracle mirrors the engine's
  *     summation ORDER, not just its value).
  * The lossy path (real `k`) is covered by `PqSpec`: planted-cluster
  * recall, reconstruction error bounds, determinism, and
  * ADC == decode-then-score equality.
  *
  * Scale: training is the [[IvfIndex]] Lloyd shape — every iteration is
  * ONE narrow pass folding each partition into m×k (sum, count)
  * accumulators; only those tiny rows are ever collected (m·k·subDim
  * doubles ≈ the codebook itself, budget-checked). Encoding and
  * decoding are narrow broadcast maps, streaming-safe. [[topKAdc]]
  * broadcasts the CODE table (m+a few bytes per candidate — the whole
  * point of PQ is that this side is tiny); above the broadcast budget
  * it switches to the fragment-replicate blocked join
  * ([[Similarity.selfCosineJoin]]'s trade), and at corpus scale the
  * candidate side arrives pre-pruned (IVF cells / LSH buckets — the
  * faiss IVFPQ composition, same seam as [[Similarity]]'s
  * `*From` operators). */
object Pq {

  /** Per-subspace codebooks: `centroids(s)(c)` is the `subDim`-wide
    * centroid for code `c` of subspace `s`. Subspace code counts may
    * differ (exact mode derives them from the data). */
  final case class PqCodebook(subDim: Int, centroids: Array[Array[Array[Double]]]) {
    def m: Int = centroids.length
    def dim: Int = m * subDim
    def kmax: Int = centroids.map(_.length).max

    /** Nearest-centroid code per subspace (squared L2, ties to the
      * smallest code — the order DuckDB's dense_rank gives the sorted
      * exact codebook). */
    private[ops] def encodeOne(v: Array[Double]): Array[Int] = {
      val out = new Array[Int](m)
      var s = 0
      while (s < m) {
        val cents = centroids(s)
        var best = 0; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < cents.length) {
          val cent = cents(c)
          var d = 0.0; var i = 0
          while (i < subDim) {
            val t = v(s * subDim + i) - cent(i); d += t * t; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(s) = best; s += 1
      }
      out
    }

    /** Squared norm of centroid `c` of subspace `s`, summed in index
      * order (matches `vec_dot`'s sequential fold bit-for-bit). */
    private[ops] def centSq(s: Int, c: Int): Double = {
      val cent = centroids(s)(c)
      var acc = 0.0; var i = 0
      while (i < cent.length) { acc += cent(i) * cent(i); i += 1 }
      acc
    }
  }

  /** Same driver-heap ceiling class as [[IvfIndex]]: the codebook (and
    * in exact mode, the distinct-subvector set) is the only thing ever
    * collected. */
  private[graft] val CodebookBudgetBytes: Long = 256L << 20

  /** The published lossy operating point — what a caller who just wants
    * "compress my embeddings" gets, and what the bench's quality block
    * measures. r08 measured the previous default (m=8, k=16; 64x) at
    * recall@3 = 0.113 on the bench embeddings — a compression ratio
    * nothing could use — so the default is now chosen from the ladder
    * measured with the former `PqTune` dev probe on the 64-dim bench
    * vectors (recall@3 vs exact cosine top-3, 2000 vectors, 3 Lloyd
    * iters):
    *
    *   raw ADC:  m=8 k=16 → 64x: 0.113   m=4 k=64  → 85x: 0.100
    *             m=4 k=256 → 64x: 0.189  m=8 k=64  → 43x: 0.215
    *             m=8 k=256 → 32x: 0.359  m=16 k=64 → 21x: 0.420
    *             m=16 k=256 → 16x: 0.613
    *   refined ([[topKAdcRefined]], rerank=32):
    *             m=8 k=256 → 32x: 0.867  m=16 k=256 → 16x: 0.997
    *             (m=16 k=256 rerank=16: 0.971; rerank=64: 1.000)
    *
    * The bench embeddings are near-random (weakly separated neighbors —
    * the hard case for PQ), so NO raw-ADC point clears a 0.8 floor; the
    * published operating point is therefore the faiss refine
    * composition: m=16, k=256 (PQ16x256, 1 code byte per 4 dims, 16x
    * storage) proposing rerank=32 candidates for exact re-ranking —
    * measured 0.997 recall@3, pinned ≥ 0.8 by `PqSpec`. The full
    * compression-vs-recall ladder for 64-dim embeddings: [[Quantize]]
    * int8 4x (recall ≈ 1, training-free), [[Quantize.jlProject]] 2x per
    * halved dim (gated retrieval overlap), PQ+refine 16x at 0.997,
    * PQ+refine 32x at 0.867, raw ADC 16x at 0.613 — pick the first rung
    * whose recall the retrieval stage tolerates. */
  val DefaultM: Int = 16
  val DefaultK: Int = 256

  /** Candidates per query the default operating point re-ranks (the
    * refine composition's knob — recall@k is ADC containment@rerank). */
  val DefaultRerank: Int = 32

  /** Storage compression the default knobs buy on `vectors`' width:
    * dim·4 float32 bytes → m·ceil(log2 k)/8 code bytes. */
  def defaultCompressionLabel(vectors: DataFrame): String = {
    val dim = dimOf(castDouble(vectors))
    val codeBytes = DefaultM * math.ceil(math.log(DefaultK) / math.log(2)) / 8.0
    f"${dim * 4 / codeBytes}%.0fx"
  }

  private def castDouble(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))

  private def dimOf(e: DataFrame): Int = {
    val row = e.select(size(col("v"))).take(1)
    require(row.nonEmpty && !row(0).isNullAt(0), "need at least one vector")
    row(0).getInt(0)
  }

  /** Lexicographic double-array order — DuckDB's list comparison on
    * equal-length finite lists (the data contract: embeddings are
    * finite; ±0.0 would compare equal there but ordered here). */
  private def lexLt(a: Array[Double], b: Array[Double]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val c = java.lang.Double.compare(a(i), b(i))
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** EXACT-mode codebook: every distinct subvector, sorted, is its own
    * centroid — encoding is lossless and code assignment reproduces
    * `dense_rank` over the sorted distinct set, which is what lets d72/
    * d73 hash-gate the production code path. Driver-side cost is the
    * distinct subvector set (budget-checked); real corpora use
    * [[train]]. */
  def trainExact(spark: SparkSession, vectors: DataFrame, m: Int): PqCodebook = {
    import spark.implicits._
    require(m >= 1, "need m >= 1 subspaces")
    val e = castDouble(vectors)
    val dim = dimOf(e)
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val w = dim / m
    val subs = e
      .select(explode(expr(
        s"transform(sequence(0, ${m - 1}), s -> struct(s AS s, slice(v, s * $w + 1, $w) AS sub))"))
        .as("x"))
      .select(col("x.s"), col("x.sub")).distinct()
      .as[(Int, Array[Double])].collect()
    require(subs.length.toLong * (w * 8 + 16) <= CodebookBudgetBytes,
      s"${subs.length} distinct subvectors of width $w exceed the " +
        s"${CodebookBudgetBytes >> 20} MB codebook budget; use train() with a fixed k")
    val cents = Array.tabulate(m) { s =>
      subs.iterator.filter(_._1 == s).map(_._2).toArray.sortWith(lexLt)
    }
    PqCodebook(w, cents)
  }

  /** Lloyd-trained codebook, all `m` subspaces in the same pass: each
    * iteration folds every partition into m×k local (sum, count)
    * accumulators and collects at most m×k tiny rows per partition
    * (the [[IvfIndex.build]] shape; the vector set itself never
    * shuffles). Init is the first `k` vectors' subvectors in vec_id
    * order; a cell that captures no vectors keeps its previous
    * centroid (standard Lloyd).
    *
    * DETERMINISM CONTRACT (the [[IvfIndex.build]] one): accumulators
    * are FIXED-POINT LONGS ([[IvfIndex]]'s 1e-6 scale — integer
    * addition is order-independent where double addition is not) and
    * the mean divides exact operands, so the trained codebook is
    * bit-identical under any partitioning, split plan, executor count,
    * or row order (PqSpec pins it) — reproducible codebooks at any
    * cluster topology. */
  def train(spark: SparkSession, vectors: DataFrame, m: Int, k: Int = 256,
      iters: Int = 3): PqCodebook = {
    import spark.implicits._
    require(m >= 1 && k >= 1 && iters >= 0, "need m >= 1, k >= 1, iters >= 0")
    val e = castDouble(vectors).as[(Long, Array[Double])]
    val dim = dimOf(castDouble(vectors))
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val w = dim / m
    require(m.toLong * k * (w * 8 + 16) <= CodebookBudgetBytes,
      s"m=$m x k=$k centroids of width $w exceed the " +
        s"${CodebookBudgetBytes >> 20} MB codebook budget")
    val first = e.orderBy(col("vec_id")).limit(k).collect().map(_._2)
    require(first.nonEmpty, "need at least one vector to train")
    val kk = math.min(k, first.length) // corpus smaller than k: one cell per vector
    var cents: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => first.map(v => java.util.Arrays.copyOfRange(v, s * w, (s + 1) * w)))
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(PqCodebook(w, cents))
      val parts = e.mapPartitions { it =>
        val cb = bc.value
        val sums = Array.ofDim[Array[Long]](cb.m, cb.kmax)
        val counts = Array.ofDim[Long](cb.m, cb.kmax)
        it.foreach { case (_, v) =>
          val codes = cb.encodeOne(v)
          var s = 0
          while (s < cb.m) {
            val c = codes(s)
            if (sums(s)(c) == null) sums(s)(c) = new Array[Long](cb.subDim)
            var i = 0
            while (i < cb.subDim) {
              sums(s)(c)(i) +=
                math.rint(v(s * cb.subDim + i) * IvfIndex.LloydScale).toLong
              i += 1
            }
            counts(s)(c) += 1
            s += 1
          }
        }
        for {
          s <- (0 until cb.m).iterator; c <- 0 until cb.kmax
          if counts(s)(c) > 0
        } yield (s, c, sums(s)(c), counts(s)(c))
      }.collect() // <= m*k tiny rows per partition; fold order is immaterial
      val acc = Array.ofDim[Array[Long]](m, kk)
      val n = Array.ofDim[Long](m, kk)
      parts.foreach { case (s, c, sum, cnt) =>
        if (acc(s)(c) == null) acc(s)(c) = new Array[Long](w)
        var i = 0
        while (i < w) { acc(s)(c)(i) += sum(i); i += 1 }
        n(s)(c) += cnt
      }
      cents = Array.tabulate(m) { s =>
        Array.tabulate(kk) { c =>
          if (n(s)(c) > 0)
            acc(s)(c).map(_.toDouble / (IvfIndex.LloydScale * n(s)(c)))
          else cents(s)(c)
        }
      }
    }
    PqCodebook(w, cents)
  }

  /** Encode (vec_id, embedding) to (vec_id, codes ARRAY<INT>) — a
    * narrow broadcast map (streaming-safe; the index-maintenance path:
    * arriving vectors encode against the frozen codebook, which only
    * moves under a retrain). */
  def encode(spark: SparkSession, vectors: DataFrame, cb: PqCodebook): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    castDouble(vectors).as[(Long, Array[Double])]
      .map { case (id, v) =>
        require(v.length == bc.value.dim,
          s"vector width ${v.length} != codebook dim ${bc.value.dim}")
        (id, bc.value.encodeOne(v))
      }
      .toDF("vec_id", "codes")
  }

  /** Flattened (s, c) -> centroid literal, zero-vector padded where a
    * subspace has fewer codes than kmax (padding is never addressed by
    * a valid code). */
  private def centroidLit(cb: PqCodebook): Column = {
    val flat: Seq[Seq[Double]] = for {
      s <- 0 until cb.m; c <- 0 until cb.kmax
    } yield if (c < cb.centroids(s).length) cb.centroids(s)(c).toSeq
      else Seq.fill(cb.subDim)(0.0)
    typedLit(flat)
  }

  /** Reconstruct (vec_id, embedding ARRAY<DOUBLE>) from codes — named
    * `embedding` so the decoded frame drops into the whole neighbor
    * family unchanged (the [[Quantize.dequantize]] convention). Pure
    * codegen: the codebook rides the plan as one literal, the rebuild
    * is m array lookups + a flatten. */
  def decode(encoded: DataFrame, cb: PqCodebook): DataFrame = {
    val cl = centroidLit(cb)
    val kmax = cb.kmax
    encoded.select(col("vec_id"),
      flatten(transform(sequence(lit(0), lit(cb.m - 1)),
        s => element_at(cl, s * lit(kmax) + element_at(col("codes"), s + lit(1)) + lit(1))))
        .as("embedding"))
  }

  /** ADC cosine top-k: full-precision `queries` against PQ-`encoded`
    * candidates. Out: (vec_id, rank, neighbor_id), rank 1..k by
    * (sim DESC, neighbor_id ASC) — the family's total order
    * ([[Similarity.cosineTopK]]'s schema, so PQ drops into d28-style
    * vote stages unchanged).
    *
    * Arithmetic contract (what d73 gates): sim is the subspace-
    * decomposed cosine — numerator Σ_s LUT(s)(code_s) and both norms
    * folded in subspace order, each subspace dot sequential — so in
    * exact mode the result is bit-identical to an oracle replaying the
    * same decomposition.
    *
    * While the CODE table fits `maxBroadcastBytes` (m ints + id per
    * row — PQ's entire purpose is making this side small) the kernel is
    * a broadcast mapPartitions scan: each query builds its m×kmax LUT
    * ONCE in a primitive array, then every candidate costs m lookups
    * and the per-query top-k never leaves the task (no pair shuffle at
    * all). This is the one place the family drops below Catalyst on
    * purpose: the LUT only pays if it is REUSED across candidates, and
    * a join cannot express that — a LUT column gets copied into every
    * joined pair row (measured: 128 KB × 4M pairs ≈ 0.5 TB of row
    * copies, 60+ s where the kernel takes under a second).
    *
    * Beyond the budget the same pair set flows through the blocked
    * fragment-replicate join (hash candidates into blocks, replicate
    * queries per block — [[Similarity.selfCosineJoin]]'s trade), scored
    * per pair from the codebook literal (m subspace dots — full-dot
    * flops, slim rows, same fold order so the two paths are
    * bit-identical; `PqSpec` asserts it). At corpus scale feed a pruned
    * `encoded` (IVF cell / LSH bucket members — the faiss IVFPQ
    * composition). */
  def topKAdc(queries: DataFrame, encoded: DataFrame, cb: PqCodebook, k: Int = 3,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(maxBroadcastBytes > 0, "maxBroadcastBytes must be positive")
    val spark = queries.sparkSession
    // The sizing count and the broadcast collect share ONE scan: the slim
    // projection is cached across them (r08 ADVICE — the served
    // PqIndex.searchSaved path was paying a full extra code-table scan
    // per call). The blocked path releases the cache immediately: its
    // lazy result recomputes the projection anyway, which is the
    // pre-cache cost, not a regression.
    val slim = encoded.select(col("vec_id"), col("codes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val blocks = {
      val n = slim.count()
      val est = n * (cb.m.toLong * 4 + 32)
      math.max(1L, (est + maxBroadcastBytes - 1) / maxBroadcastBytes)
        .min(Int.MaxValue.toLong).toInt
    }

    if (blocks <= 1) {
      import spark.implicits._
      val bcCb = spark.sparkContext.broadcast(cb)
      val bcCand = spark.sparkContext.broadcast(
        try slim.as[(Long, Array[Int])].collect()
        finally slim.unpersist())
      castDouble(queries).as[(Long, Array[Double])].mapPartitions { it =>
        val cbv = bcCb.value; val cand = bcCand.value
        val mm = cbv.m; val ww = cbv.subDim; val km = cbv.kmax
        // per-candidate reconstruction norms, once per task
        val cn = new Array[Double](cand.length)
        var j = 0
        while (j < cand.length) {
          var acc = 0.0; var s = 0
          while (s < mm) { acc += cbv.centSq(s, cand(j)._2(s)); s += 1 }
          cn(j) = math.sqrt(acc); j += 1
        }
        val lut = new Array[Double](mm * km)
        val top = new TopKSlots(k)
        it.flatMap { case (qid, v) =>
          // LUT: subspace s × code c -> dot(q_s, centroid), sequential
          var s = 0
          while (s < mm) {
            val cents = cbv.centroids(s)
            var c = 0
            while (c < cents.length) {
              val cent = cents(c)
              var d = 0.0; var i = 0
              while (i < ww) { d += v(s * ww + i) * cent(i); i += 1 }
              lut(s * km + c) = d; c += 1
            }
            s += 1
          }
          // query norm in the SAME subspace-decomposed fold as the
          // oracle/blocked path (float addition is not associative —
          // a flat sum would drift an ulp and flip near-tie ranks)
          var qsq = 0.0; var qs = 0
          while (qs < mm) {
            var d = 0.0; var i = 0
            while (i < ww) { val x = v(qs * ww + i); d += x * x; i += 1 }
            qsq += d; qs += 1
          }
          val qn = math.sqrt(qsq)
          // one buffer per partition: the strict drain below copies it
          // out before the next query clears it
          top.clear()
          var ji = 0
          while (ji < cand.length) {
            val (cid, codes) = cand(ji)
            if (cid != qid) {
              var num = 0.0; var ss = 0
              while (ss < mm) { num += lut(ss * km + codes(ss)); ss += 1 }
              top.offer(num / (qn * cn(ji)), cid)
            }
            ji += 1
          }
          (0 until top.size).map(r => (qid, (r + 1).toLong, top.id(r)))
        }
      }.toDF("vec_id", "rank", "neighbor_id")
    } else {
      slim.unpersist()
      val q = castDouble(queries)
        .select(col("vec_id"), col("v"), subNorm(cb, col("v")).as("qn"))
      val cand = encoded.select(col("vec_id").as("cid"), col("codes"))
        .withColumn("cn", codeNorm(cb, col("codes")))
      val c = cand.withColumn("blk", pmod(hash(col("cid")), lit(blocks)))
      val qb = q.withColumn("blk", explode(expr(s"sequence(0, ${blocks - 1})")))
      val pairs = qb.join(c, qb("blk") === c("blk") && col("vec_id") =!= col("cid"))
        .select(col("vec_id"), col("cid").as("neighbor_id"),
          simDiv(adcNum(cb, col("v"), col("codes")), col("qn") * col("cn")).as("sim"))
      Similarity.topKRanks(pairs, k)
    }
  }

  /** ADC retrieval with exact re-ranking — the faiss refine composition
    * (IndexRefineFlat), and the published way to buy retrieval QUALITY
    * back at a given storage compression: [[topKAdc]] proposes `rerank`
    * candidates per query from the compressed codes, then ONLY those
    * (query, candidate) pairs fetch full vectors and re-score with the
    * exact subspace-decomposed cosine (same fold order as the family's
    * oracle, so near-tie ranks cannot drift between the paths), and the
    * final (sim DESC, id ASC) top-k is taken from the re-scored pairs.
    * Recall@k becomes ADC candidate CONTAINMENT@rerank — far above raw
    * ADC recall@k (measured on the 64-dim bench vectors at m=16/k=256:
    * 0.613 raw → 0.997 refined at rerank=32; see the ladder on
    * [[DefaultM]]).
    *
    * Out: (vec_id, rank, neighbor_id) — [[topKAdc]]'s schema.
    *
    * Scale: the expensive side stays compressed — codes propose, and
    * the full-vector reads are two equi-joins on ids over only
    * Q×rerank surviving pairs (at 100 TB: codes ~3 TB scan, full
    * vectors touched for rerank rows per query only). `vectors` is the
    * full-precision corpus (vec_id, embedding); queries re-rank against
    * it by neighbor_id. */
  def topKAdcRefined(queries: DataFrame, encoded: DataFrame, vectors: DataFrame,
      cb: PqCodebook, k: Int = 3, rerank: Int = 32,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val cand = topKAdc(queries, encoded, cb, rerank, maxBroadcastBytes)
      .select(col("vec_id"), col("neighbor_id"))
    val q = castDouble(queries)
      .select(col("vec_id"), col("v").as("qv"), subNorm(cb, col("v")).as("qn"))
    val c = castDouble(vectors)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        subNorm(cb, col("v")).as("cn"))
    val pairs = cand.join(q, "vec_id").join(c, "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"),
        simDiv(subDot(cb, col("qv"), col("cv")), col("qn") * col("cn")).as("sim"))
    Similarity.topKRanks(pairs, k)
  }

  /** IEEE cosine division under ANSI mode: a zero divisor yields NaN —
    * the family's rank-first convention for zero-norm vectors, and
    * exactly what the Scala kernel's `num / (qn * cn)` computes (the
    * numerator is provably 0 whenever the denominator is: a zero norm
    * means the vector/reconstruction is the zero vector, so every
    * subspace dot is 0). A bare Column `/` would instead throw ANSI's
    * DIVIDE_BY_ZERO, making the SQL-expression paths diverge from the
    * broadcast kernel on degenerate inputs (the r08 ADVICE finding —
    * `PqSpec` now plants a zero vector). The guarded branch evaluates
    * the division only on nonzero divisors, so values are bit-identical
    * to the unguarded division everywhere it is defined. */
  private def simDiv(num: Column, denom: Column): Column =
    when(denom =!= 0.0, num / denom).otherwise(lit(Double.NaN))

  /** Subspace-decomposed dot product of two full vectors — Σ_s
    * dot(a_s, b_s) folded in subspace order, the exact-arithmetic
    * contract shared with the d73/d74 oracle. */
  private def subDot(cb: PqCodebook, a: Column, b: Column): Column =
    aggregate(sequence(lit(0), lit(cb.m - 1)), lit(0.0), (acc, s) =>
      acc + call_function("vec_dot",
        slice(a, s * lit(cb.subDim) + lit(1), lit(cb.subDim)),
        slice(b, s * lit(cb.subDim) + lit(1), lit(cb.subDim))))

  /** sqrt of the subspace-decomposed squared norm of a full vector —
    * the fold order the whole PQ family (and its oracle) uses. */
  private def subNorm(cb: PqCodebook, v: Column): Column =
    sqrt(aggregate(sequence(lit(0), lit(cb.m - 1)), lit(0.0), (acc, s) =>
      acc + call_function("vec_dot",
        slice(v, s * lit(cb.subDim) + lit(1), lit(cb.subDim)),
        slice(v, s * lit(cb.subDim) + lit(1), lit(cb.subDim)))))

  /** sqrt of a PQ-coded vector's reconstruction squared norm, from the
    * per-(subspace, code) squared-norm literal. */
  private def codeNorm(cb: PqCodebook, codes: Column): Column = {
    val csqLit = typedLit(for { s <- 0 until cb.m; c <- 0 until cb.kmax }
      yield if (c < cb.centroids(s).length) cb.centSq(s, c) else 0.0)
    sqrt(aggregate(sequence(lit(0), lit(cb.m - 1)), lit(0.0), (acc, s) =>
      acc + element_at(csqLit,
        s * lit(cb.kmax) + element_at(codes, s + lit(1)) + lit(1))))
  }

  /** Per-pair ADC numerator: Σ_s dot(q_s, centroid(s, code_s)), folded
    * in subspace order — full-dot flops but slim pair rows (no LUT
    * column; see the [[topKAdc]] scaladoc). Native codegen'd expression
    * ([[graft.plans.NativeFns.pqAdcNum]]): the HOF formulation
    * (aggregate over slice + element_at) is CodegenFallback and
    * allocates a slice per (pair, subspace) — measured ~8x slower on a
    * 4M-pair stream. The flattened codebook rides the plan as ONE
    * array<double> literal. */
  private def adcNum(cb: PqCodebook, v: Column, codes: Column): Column = {
    val flat: Seq[Double] = for {
      s <- 0 until cb.m; c <- 0 until cb.kmax; i <- 0 until cb.subDim
    } yield if (c < cb.centroids(s).length) cb.centroids(s)(c)(i) else 0.0
    call_function("pq_adc_num", v, codes, typedLit(flat))
  }

  /** IVFPQ retrieval — the faiss IndexIVFPQ composition, the form that
    * runs at 100 TB: the inverted file stores PQ CODES in place of raw
    * vectors (built here by one narrow encode map over the model's
    * cells), each query probes its `probes` nearest cells, and only
    * those cells' members are ADC-scored — candidate count is bounded
    * by cell occupancy × probes, never the corpus, and the shuffled
    * candidate side is m ints per vector, not dim floats.
    *
    * Output and order are [[topKAdc]]'s ((vec_id, rank, neighbor_id),
    * sim DESC / id ASC) — including on degenerate inputs: a zero-norm
    * vector's sims are NaN, which the family's total order ranks FIRST
    * ([[TopKSlots]]; DuckDB orders NaN the same way). r8 shipped with
    * zero-norm filters here that [[topKAdc]] and the d73/d74 oracle
    * don't apply, so the documented "equals topKAdc at full probes"
    * equivalence held only because the test corpus has no zero vector
    * (r08 ADVICE); the filters are gone and `PqSpec` pins the agreement
    * on a corpus WITH a zero vector. In exact mode (probes = cell
    * count, lossless codebook) the result equals [[topKAdc]] — d74
    * hash-gates exactly that composition under d73's
    * replayed-arithmetic oracle. */
  def ivfPqTopK(spark: SparkSession, model: IvfIndex.Model, cb: PqCodebook,
      queries: DataFrame, k: Int = 3, probes: Int = 2): DataFrame = {
    require(k >= 1 && probes >= 1, "need k >= 1, probes >= 1")
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(cb)
    val codedCells = model.cells.select(col("vec_id"), col("cell"), col("v"))
      .as[(Long, Int, Array[Double])]
      .map { case (id, cell, v) => (id, cell, bcCb.value.encodeOne(v)) }
      .toDF("cid", "cell", "codes")
      .withColumn("cn", codeNorm(cb, col("codes")))
    val bcCents = spark.sparkContext.broadcast(model.centroids)
    val probed = castDouble(queries).as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        val cents = bcCents.value
        val excluded = new Array[Boolean](cents.length)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Int)]
        var p = 0
        while (p < math.min(probes, cents.length)) {
          val best = IvfIndex.nearest(cents, v, excluded)
          if (best >= 0) { excluded(best) = true; out += ((id, v, best)) }
          p += 1
        }
        out.iterator
      }
      .toDF("vec_id", "v", "cell")
      .withColumn("qn", subNorm(cb, col("v")))
    val pairs = probed.join(codedCells, "cell")
      .where(col("vec_id") =!= col("cid"))
      .select(col("vec_id"), col("cid").as("neighbor_id"),
        simDiv(adcNum(cb, col("v"), col("codes")), col("qn") * col("cn")).as("sim"))
    Similarity.topKRanks(pairs, k)
  }

  /** The d72-d75 exact codebook, built ONCE per (session, data dir) —
    * the four gate queries share one distinct+collect pass instead of
    * four (the Similarity memo convention; the codebook is heap-only
    * and evicted when the session stops). */
  private val cbMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), PqCodebook]()

  private def exactCb(s: SparkSession, d: String): PqCodebook = {
    val k = (s, d)
    val hit = cbMemo.get(k)
    if (hit != null) hit
    else {
      val cb = trainExact(s, Tables.embeddings(s, d), m = 8)
      val prev = cbMemo.putIfAbsent(k, cb)
      if (prev != null) prev
      else {
        graft.Sessions.onStopOnce(s, "pq-cb-memo")(
          () => cbMemo.keySet.removeIf(_._1 eq s))
        cb
      }
    }
  }

  /** d75's index directory, built ONCE per (session, data dir) — the
    * [[Corpus]] d39 convention: building inside the query fn would time
    * full index construction on every invocation of what showcases the
    * SERVED search, and leak an index copy into the temp dir per call.
    * Directories are deleted recursively when the session stops. */
  private val pqDirMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def pqIndexDir(s: SparkSession, d: String): String = {
    val k = (s, d)
    val hit = pqDirMemo.get(k)
    if (hit != null) hit
    else {
      val dir = java.nio.file.Files.createTempDirectory("graft-pq-q").toString
      val vecs = Tables.embeddings(s, d)
      PqIndex.save(s, exactCb(s, d), vecs, dir)
      val prev = pqDirMemo.putIfAbsent(k, dir)
      if (prev != null) { Corpus.deleteRecursively(dir); prev }
      else {
        graft.Sessions.onStopOnce(s, "pq-indexdir") { () =>
          val it = pqDirMemo.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getKey._1 eq s) { Corpus.deleteRecursively(e.getValue); it.remove() }
          }
        }
        dir
      }
    }
  }

  /** Served from the per-(session, dir) memos ([[exactCb]] /
    * [[pqIndexDir]]): run 1 pays codebook (and for d75, index) build,
    * run 2 only its own pipeline (the bench headlines run 1). */
  val MemoizedQueries: Set[String] = Set("d72_pq_codes_exact",
    "d73_pq_topk_exact", "d74_ivfpq_topk_exact", "d75_pq_index_search",
    "d96_pq_topk_refined")

  def queries: Seq[Q] = Seq(

    // d72: the code assignment itself, hash-gated in exact mode — the
    // production argmin-over-centroids kernel must reproduce dense_rank
    // over the sorted distinct subvector set (codes join to a string,
    // the d40 arrow-list note). m=8 over the 64-wide embeddings.
    Q("d72_pq_codes_exact",
      (s, d) => {
        val vecs = Tables.embeddings(s, d)
        encode(s, vecs, exactCb(s, d))
          .select(col("vec_id"), array_join(col("codes"), ",").as("codes"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |s AS (SELECT vec_id, s, v[(s*8+1):(s*8+8)] AS sub
             |      FROM e, UNNEST(range(8)) AS t(s)),
             |c AS (SELECT vec_id, s,
             |             dense_rank() OVER (PARTITION BY s ORDER BY sub) - 1 AS code
             |      FROM s)
             |SELECT vec_id, array_to_string(list(code ORDER BY s), ',') AS codes
             |FROM c GROUP BY vec_id""".stripMargin)),

    // d73: ADC retrieval end-to-end in exact mode — train -> encode ->
    // LUT -> m-lookup scoring -> top-k, hash-gated by an oracle that
    // replays the subspace-decomposed arithmetic in the engine's
    // summation order (lossless codes make LUT sums exact dots).
    Q("d73_pq_topk_exact",
      (s, d) => {
        val vecs = Tables.embeddings(s, d)
        val cb = exactCb(s, d)
        topKAdc(vecs, encode(s, vecs, cb), cb)
      },
      Some(SubspaceTopkOracle)),

    // d74: the IVFPQ composition in exact mode — coded inverted file,
    // probes = all cells, lossless codebook: the cell-pruned candidate
    // union is the full pair set and ADC sums are exact dots, so the
    // 100 TB form (probe -> cell join -> per-pair code scoring) is
    // driver-adjudicated under the same replayed-arithmetic oracle.
    Q("d74_ivfpq_topk_exact",
      (s, d) => {
        val vecs = Tables.embeddings(s, d)
        val cb = exactCb(s, d)
        // at probes = k the result is independent of quantizer quality
        // (every cell is probed), so one Lloyd pass suffices for the
        // gate; d33 exercises the full 3-iteration build
        val model = IvfIndex.build(s, castDouble(vecs), k = 16, iters = 1)
        ivfPqTopK(s, model, cb, vecs, k = 3, probes = 16)
      },
      Some(SubspaceTopkOracle)),

    // d75: the same retrieval served from the PERSISTED index (d39's
    // convention applied to PQ) — save -> load -> ADC search through
    // the parquet round trip, hash-gated by the same oracle: the
    // at-rest form (m-int codes + kilobyte codebook, raw vectors never
    // re-read) must reproduce the direct computation exactly.
    Q("d75_pq_index_search",
      (s, d) => PqIndex.searchSaved(s, pqIndexDir(s, d), Tables.embeddings(s, d)),
      Some(SubspaceTopkOracle)),

    // d96: the refine composition in exact mode — lossless codes make
    // ADC containment exact (top-32 proposals ⊇ true top-3) and the
    // re-rank computes the SAME subspace-decomposed sims the oracle
    // replays, so propose → fetch-full-vectors → re-rank → top-3 is
    // hash-gated end-to-end on the production code path.
    Q("d96_pq_topk_refined",
      (s, d) => {
        val vecs = Tables.embeddings(s, d)
        val cb = exactCb(s, d)
        topKAdcRefined(vecs, encode(s, vecs, cb), vecs, cb, k = 3, rerank = 32)
      },
      Some(SubspaceTopkOracle)))

  /** The d73/d74 oracle: exact cosine top-3 with numerator and both
    * norms replayed in the engine's subspace-decomposed fold order
    * (8 subspaces of width 8 over the 64-wide embeddings table). */
  private val SubspaceTopkOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        sqrt(list_reduce(list_transform(range(8),
      |               s -> list_dot_product(v[(s*8+1):(s*8+8)], v[(s*8+1):(s*8+8)])),
      |             (x, y) -> x + y)) AS nrm
      |      FROM e),
      |sim AS (SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
      |          list_reduce(list_transform(range(8),
      |              s -> list_dot_product(q.v[(s*8+1):(s*8+8)], c.v[(s*8+1):(s*8+8)])),
      |            (x, y) -> x + y) / (q.nrm * c.nrm) AS sim
      |        FROM n q JOIN n c ON q.vec_id <> c.vec_id)
      |SELECT vec_id, rank, neighbor_id FROM (
      |  SELECT vec_id, neighbor_id,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM sim)
      |WHERE rank <= 3""".stripMargin
}
