package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Bounded top-k buffer for [[TopKAgg]]: parallel (sim, id) arrays kept
  * sorted under [[TopKSlots]]' order, at most k entries. */
case class TopKBuf(sims: Array[Double], ids: Array[Long])

/** Exact top-k neighbors under [[TopKSlots]]' order as a typed Aggregator:
  * constant-size buffers with map-side partial aggregation, so the
  * brute-force kNN join (d07) streams N*N pairs through codegen and
  * shuffles only k rows per query — no driver-side materialization
  * anywhere. Selection under a total order is partition-order independent,
  * so the result is deterministic and matches the oracle's row_number.
  *
  * Ids are DEDUPED at insert (a <= k scan): a neighbor surfaced many
  * times — multi-table/multi-probe LSH collisions in the ANN candidate
  * stream — occupies ONE slot at its best sim instead of crowding the
  * buffer, which is what lets [[Similarity.annTopK]] aggregate the raw
  * candidate stream with no upstream distinct shuffle (the same
  * design that lets d08's max-aggregate absorb collisions). For unique
  * streams (d07's self-join) the dedup scan is a no-op. */
class TopKAgg(k: Int) extends Aggregator[(Double, Long), TopKBuf, TopKBuf] {
  override def zero: TopKBuf = TopKBuf(new Array[Double](0), new Array[Long](0))
  private def insert(b0: TopKBuf, sim0: Double, id: Long): TopKBuf = {
    val sim = TopKSlots.normalize(sim0)
    // id-dedup: if this id already holds a slot, keep the better sim
    // (identical sims in practice — the same vector pair scores the
    // same — but the general rule keeps the buffer a set under ANY
    // stream); dropping the old slot first keeps the arrays sorted
    val n0 = b0.sims.length
    var j = 0
    while (j < n0 && b0.ids(j) != id) j += 1
    val b =
      if (j == n0) b0
      else if (!TopKSlots.precedes(sim, id, b0.sims(j), id)) return b0
      else {
        val ds = new Array[Double](n0 - 1); val di = new Array[Long](n0 - 1)
        System.arraycopy(b0.sims, 0, ds, 0, j)
        System.arraycopy(b0.ids, 0, di, 0, j)
        System.arraycopy(b0.sims, j + 1, ds, j, n0 - j - 1)
        System.arraycopy(b0.ids, j + 1, di, j, n0 - j - 1)
        TopKBuf(ds, di)
      }
    val n = b.sims.length
    val pos = TopKSlots.position(b.sims, b.ids, n, sim, id)
    if (pos >= k) b
    else {
      val m = math.min(n + 1, k)
      val ns = new Array[Double](m); val ni = new Array[Long](m)
      System.arraycopy(b.sims, 0, ns, 0, pos)
      System.arraycopy(b.ids, 0, ni, 0, pos)
      ns(pos) = sim; ni(pos) = id
      val tail = m - pos - 1
      if (tail > 0) {
        System.arraycopy(b.sims, pos, ns, pos + 1, tail)
        System.arraycopy(b.ids, pos, ni, pos + 1, tail)
      }
      TopKBuf(ns, ni)
    }
  }
  override def reduce(b: TopKBuf, a: (Double, Long)): TopKBuf = insert(b, a._1, a._2)
  override def merge(x: TopKBuf, y: TopKBuf): TopKBuf = {
    var r = x
    var i = 0
    while (i < y.sims.length) { r = insert(r, y.sims(i), y.ids(i)); i += 1 }
    r
  }
  override def finish(b: TopKBuf): TopKBuf = b
  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
}

/** Fuzzy-dedup / similarity-search operators over `documents` and
  * `embeddings` — the sketch half of the training-data-pipeline surface
  * (the exact/statistical half lives in TextOps).
  *
  * Scale design notes (100 TB):
  *  - No driver-side collect() of any full table anywhere in this family,
  *    and no forced full-table broadcast: sketch/vector re-attachment is
  *    id-keyed joins (AQE still broadcasts when a side is actually small).
  *  - d06 never does an all-pairs comparison: candidates come from banded
  *    MinHash-LSH (one shuffle on band buckets), are pruned by the cheap
  *    gram-count ratio test and then the minhash Jaccard estimate, and
  *    only surviving pairs are exact-verified with a shingle join. The
  *    emitted *result* is exact (integer intersection/union sizes at
  *    threshold >= 0.8), so the DuckDB oracle — which at test scale CAN
  *    afford the all-pairs computation — must agree bit-for-bit: any pair
  *    at J >= 0.8 escapes the 16-band x 8-row sketch only with probability
  *    (1-J^8)^16 (~1e-5 at J=0.92; the corpus near-dups all sit above 0.92
  *    and the estimate pre-filter keeps a wide margin).
  *  - d19 is the exact-recall alternative: prefix filtering (SSJoin/
  *    PPJoin family) guarantees every J >= 0.8 pair shares a prefix gram,
  *    with candidates bounded by rare-gram document frequencies — same
  *    verified output as d06, zero probabilistic-recall risk.
  *  - d07 is the brute-force cosine baseline: a broadcast-hinted
  *    nested-loop self-join (the right plan when one side fits in executor
  *    memory; the LSH-bucketed scale path is d08) feeding a bounded top-k
  *    typed Aggregator — pairs stream through codegen, never materialize.
  *  - d14 clusters the d06 pair graph with partition-local union-find
  *    contraction followed by large-star/small-star alternation (Kiveris
  *    et al., "Connected Components in MapReduce and Beyond"), O(log n)
  *    rounds with localCheckpoint truncating lineage per round.
  */
object Similarity {

  // ---- MinHash machinery (d06/d08) -----------------------------------------

  private[graft] val NumHashes = 128
  private[graft] val Bands = 16
  private[graft] val RowsPerBand = 8 // NumHashes / Bands

  /** 128 fixed component seeds (splitmix64 stream from a constant) — the
    * minhash components are independent per-component mixes, NOT a
    * two-hash linear scheme: g_i = h1 + i*h2 makes the relative order of
    * two grams flip at most once across i, correlating all 128 components
    * (measured: ~40% more false-positive band collisions AND invalid
    * Binomial tail bounds for the agreement prefilter). */
  private val mhSeeds: Array[Long] = {
    var x = 0x243f6a8885a308d3L // pi, nothing up the sleeve
    Array.fill(NumHashes) {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
  }

  /** splitmix64-fold `s`'s UTF-16 chars into a running hash — the shared
    * primitive of the gram-hash family. */
  private def hashChars(h0: Long, s: String): Long = {
    var h = h0
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      h ^= h >>> 31
      i += 1
    }
    h
  }

  private val GramSeed = 0x9747b28c9747b28cL

  /** Sort + in-place dedupe of a hash array (the gram-set normal form:
    * ascending distinct, so intersections are one native merge scan —
    * sorted_inter_count — instead of a per-pair hash set). */
  private def sortedDistinct(hs: Array[Long], n: Int): Array[Long] = {
    if (n == 0) return Array.emptyLongArray
    java.util.Arrays.sort(hs, 0, n)
    var w = 1
    var i = 1
    while (i < n) {
      if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(hs, w)
  }

  /** Distinct char-3-gram 64-bit hashes of an (already lowercased) text,
    * sorted ascending: one O(L log L) pass, no substring allocation (the
    * SQL-expression form paid a start-anchored UTF8String scan per gram —
    * O(L^2) per document). null or < 3 chars -> empty. Grams are compared
    * BY 64-BIT HASH throughout the near-dup family; a collision within a
    * pair's gram union would perturb exact Jaccard counts, with
    * probability ~(pair union size)^2 / 2^64 < 1e-13 — and any collision
    * on a given corpus is caught deterministically by the DuckDB oracle
    * gate, which computes the same counts from the gram STRINGS. */
  private[graft] def charGramHashes(lowered: String): Array[Long] = {
    if (lowered == null) return Array.emptyLongArray
    // CODEPOINT windows, not UTF-16 units: SQL substring/length count
    // characters, so astral-plane text (emoji, rare CJK) would otherwise
    // yield different gram sets than the oracle — the d11 lesson. For BMP
    // text the codepoint equals the char value, so hashes are unchanged.
    val cps = lowered.codePoints().toArray
    val n = cps.length
    if (n < 3) return Array.emptyLongArray
    val hs = new Array[Long](n - 2)
    var i = 0
    while (i < n - 2) {
      var h = GramSeed
      var j = i
      while (j < i + 3) {
        h ^= cps(j)
        h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
        h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
        h ^= h >>> 31
        j += 1
      }
      hs(i) = h
      i += 1
    }
    sortedDistinct(hs, n - 2)
  }

  /** Distinct word-4-gram hashes of an (already lowercased AND trimmed)
    * text, sorted ascending — d19's gram domain. Tokenization mirrors the
    * oracle exactly: split on \s+, grams are the space-joined 4-token
    * windows (hashed char-by-char, identical to hashing the joined
    * string). < 4 tokens -> empty. */
  private[graft] def wordGramHashes(trimmedLowered: String): Array[Long] = {
    if (trimmedLowered == null) return Array.emptyLongArray
    val w = trimmedLowered.split("\\s+")
    if (w.length < 4) return Array.emptyLongArray
    val hs = new Array[Long](w.length - 3)
    var i = 0
    while (i < w.length - 3) {
      var h = hashChars(GramSeed, w(i))
      var k = 1
      while (k < 4) {
        h ^= ' '
        h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
        h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
        h ^= h >>> 31
        h = hashChars(h, w(i + k))
        k += 1
      }
      hs(i) = h
      i += 1
    }
    sortedDistinct(hs, w.length - 3)
  }

  /** 128 min-hashes over a doc's gram-hash set in one compiled pass: per
    * gram 128 independent splitmix finalizer mixes (xor-seeded). Pure —
    * called by the sketch UDF once per document; the gram array never
    * leaves its task, so the sketch build needs NO shuffle at all. */
  private[graft] def minhashFromHashes(gramHashes: Array[Long]): Array[Long] = {
    val out = new Array[Long](NumHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    var g = 0
    while (g < gramHashes.length) {
      val base = gramHashes(g)
      var i = 0
      while (i < NumHashes) {
        var z = base ^ mhSeeds(i)
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^= z >>> 31
        if (z < out(i)) out(i) = z
        i += 1
      }
      g += 1
    }
    out
  }

  /** Per-document gram set + minhash sketch, built in ONE compiled pass
    * over the text (the UDF output feeds a single cached table; grams and
    * sketch never require separate scans). */
  private[graft] final case class GramSketch(grams: Array[Long], mh: Array[Long])

  private val gramSketchUdf = udf((lowered: String) => {
    val g = charGramHashes(lowered)
    GramSketch(g, minhashFromHashes(g))
  })

  /** Native codegen'd dot product (graft.plans.VecDot, registered by
    * GraftExtensions) — the UDF-free hot path of the cosine family. */
  private def vecDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    call_function("vec_dot", a, b)

  /** Bits per hash table for a corpus of `n` vectors: enough that the
    * EXPECTED bucket occupancy stays near `targetOccupancy` (candidates
    * per query ~ tables x occupancy — constant, not O(N)). A fixed bit
    * width silently re-quadratizes: at 10^9 vectors an 8-bit table's 256
    * buckets hold ~4M ids each and the bucket self-join is all-pairs
    * again. ceil(log2(n / occupancy)), clamped to [4, 24] (below 4 bits
    * a table is near-degenerate; above 24 random-hyperplane buckets on
    * real data are mostly singletons and recall collapses — multiprobe is
    * the recall lever at high widths, not fewer bits). Occupancy 64 with
    * the default 8 tables x 16 probe signatures bounds candidates at
    * ~8k/query — constant in N, and the measured sf0.1 recall@1 vs the
    * exact baseline is 0.93 (a sweep with the former AnnTune dev probe). */
  private[graft] def annBitsFor(n: Long, targetOccupancy: Long = 64L): Int = {
    val cells = math.max(1L, n / math.max(1L, targetOccupancy))
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(0L, cells - 1))
    math.min(24, math.max(4, bits))
  }

  /** Perturbation masks for multiprobe-LSH (Lv et al., "Multi-Probe LSH:
    * Efficient Indexing for High-Dimensional Similarity Search"): the
    * first `count` non-empty subsets of bit positions in INCREASING
    * sum-of-margins order — the cheapest-to-flip bit sets first, where a
    * true near neighbor's signature most likely differs. `margins(j)` is
    * the |hyperplane margin| of bit j; returned masks are in signature
    * bit positions (bit j of the mask = flip signature bit j, MSB-first
    * convention handled by the caller). Standard successor-pair heap
    * enumeration over margin-ascending positions: each popped set spawns
    * "shift max" and "extend past max", which generates every subset
    * exactly once in nondecreasing score order. */
  private[graft] def probeMasks(margins: Array[Double], count: Int): Array[Long] = {
    val bits = margins.length
    if (count <= 0 || bits == 0) return Array.emptyLongArray
    val order = Array.range(0, bits).sortBy(j => (margins(j), j))
    val ms = order.map(margins)
    // node: (score, positions-into-ms as a mask) — max position recovered
    // from the mask; tie-break on the mask for determinism
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long.reverse)
    val pq = scala.collection.mutable.PriorityQueue((ms(0), 1L))
    val out = new Array[Long](math.min(count, (1 << math.min(bits, 30)) - 1))
    var n = 0
    while (n < out.length && pq.nonEmpty) {
      val (score, posMask) = pq.dequeue()
      // translate position mask -> signature bit mask
      var m = posMask
      var sigMask = 0L
      while (m != 0) {
        val p = java.lang.Long.numberOfTrailingZeros(m)
        sigMask |= 1L << order(p)
        m &= m - 1
      }
      out(n) = sigMask
      n += 1
      val maxPos = 63 - java.lang.Long.numberOfLeadingZeros(posMask)
      if (maxPos + 1 < bits) {
        pq.enqueue((score - ms(maxPos) + ms(maxPos + 1), // shift max up
          (posMask ^ (1L << maxPos)) | (1L << (maxPos + 1))))
        pq.enqueue((score + ms(maxPos + 1), // extend past max
          posMask | (1L << (maxPos + 1))))
      }
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** `tables` x `bits`-bit random-hyperplane signatures with multiprobe:
    * per table, element 0 is the exact signature and elements
    * 1..probeFlips are the margin-ordered perturbations from
    * [[probeMasks]] (multi-bit subsets, cheapest margin-sum first — not
    * just single-bit flips, which plateau well below the recall a deeper
    * probe sequence reaches). Hyperplane components are +-1 from a
    * fixed-seed hash of (bit, dim) — deterministic across runs and
    * executors, no broadcast needed. */
  /** ±1 hyperplane component for (global bit, dimension): full splitmix64
    * mix of the packed pair. Component quality is load-bearing for SCALE,
    * not just recall — weakly-mixed components correlate the hyperplanes,
    * which skews bucket masses, and candidate volume is sum(bucket²): a
    * measured 1.6x-per-doubling candidate growth at flat target occupancy
    * traced to exactly this (an earlier 32-bit xorshift of bit*131+i). */
  private def hyperplaneSign(bit: Int, i: Int): Double = {
    var z = ((bit.toLong << 32) | (i.toLong & 0xffffffffL)) + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= z >>> 31
    if ((z & 1L) == 0L) 1.0 else -1.0
  }

  private def annSigUdf(tables: Int, bits: Int, probeFlips: Int) = {
    // the sign matrix is identical for every vector: computed once per
    // task (deserialized holder starts empty; population is idempotent)
    // and looked up in the inner loop — the signature pass is then pure
    // dot products, no per-vector hashing
    val holder = new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()
    udf((v: Seq[Double]) => {
      val dim = v.length
      var signs = holder.get()
      if (signs == null || signs.length == 0 || signs(0).length != dim) {
        signs = Array.tabulate(tables * bits)(b =>
          Array.tabulate(dim)(i => hyperplaneSign(b, i)))
        holder.set(signs)
      }
      val out = new Array[Seq[Long]](tables)
      val margins = new Array[Double](bits)
      var t = 0
      while (t < tables) {
        var sig = 0L
        var j = 0
        while (j < bits) {
          val row = signs(t * bits + j)
          var acc = 0.0
          var i = 0
          while (i < dim) { acc += v(i) * row(i); i += 1 }
          sig = sig * 2 + (if (acc >= 0.0) 1L else 0L)
          // margin index j maps to signature bit (bits-1-j): MSB-first
          margins(bits - 1 - j) = math.abs(acc)
          j += 1
        }
        val masks = probeMasks(margins, probeFlips)
        val sigs = new Array[Long](1 + masks.length)
        sigs(0) = sig
        var p = 0
        while (p < masks.length) { sigs(p + 1) = sig ^ masks(p); p += 1 }
        out(t) = sigs.toSeq
        t += 1
      }
      out.toSeq
    })
  }

  /** Number of agreeing minhash components — an unbiased Jaccard estimate
    * (x128) used to prune candidates before exact verification. Native
    * codegen'd expression (graft.plans.ArrayAgree): runs once per
    * candidate pair with no Seq boxing. */
  private def mhAgree(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    call_function("array_agree", a, b)

  /** Memoized per-(session, dir) intermediates shared across the d06/d14/
    * d19 family within one session (evicted when the session stops). */
  private val memo =
    new ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  private def memoized(s: SparkSession, d: String, tag: String)(
      f: => DataFrame): DataFrame = {
    // get/putIfAbsent rather than computeIfAbsent: the memoized builders
    // nest (pairs -> candidates -> grams) and a nested computeIfAbsent on
    // one ConcurrentHashMap throws IllegalStateException("Recursive update")
    val k = (s, d, tag)
    val existing = memo.get(k)
    if (existing != null) existing
    else {
      // onStopOnce: a plain onStop here would add one listener per memo
      // MISS (every distinct (dir, tag) insert), all evicting the same keys
      graft.Sessions.onStopOnce(s, "similarity-memo")(
        () => memo.keySet.removeIf(_._1 eq s))
      val df = f.cache()
      val prev = memo.putIfAbsent(k, df)
      // lost race: do NOT unpersist — CacheManager uncaches by logical
      // plan, which would evict the winner's identical cached plan too;
      // the loser's cache() was a no-op re-registration of the same plan.
      if (prev != null) prev else df
    }
  }

  /** doc_id -> (grams, n, mh): sorted-distinct char-3-gram hashes of
    * lower(text), gram count, and the 128-component minhash sketch — ONE
    * cached table for the whole d06/d14 family, built per document with
    * NO shuffle (the text never leaves its task). Lowercasing stays in
    * Catalyst (`lower()`) so case semantics are byte-identical to the SQL
    * pipeline the oracle mirrors; null text lowers to null -> empty set.
    * Bound: one document's gram set lives in one task — the same
    * per-document bound every shingling engine has. */
  /** (doc_id, grams, n, mh) from any (doc_id, text) corpus — the uncached
    * pure sketch table ([[docSketches]] adds per-(session, dir)
    * memoization). */
  private[ops] def sketchTable(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), gramSketchUdf(lower(col("text"))).as("gs"))
      .select(col("doc_id"), col("gs.grams").as("grams"),
        size(col("gs.grams")).as("n"), col("gs.mh").as("mh"))

  /** (doc_id, n, band, bucket) band-bucket fanout of a sketch table —
    * the LSH join key surface (16 rows/doc, 24 bytes each; the 128-long
    * signature never rides the bucket shuffle).
    *
    * Empty-sketch docs (null / sub-3-char text) NEVER enter the index —
    * the guard is load-bearing twice over: every empty gram set has the
    * identical all-MaxValue minhash, so (a) any two such docs would
    * collide in all 16 bands and pass the 0 >= 0 ratio and threshold
    * tests, emitting (inter 0, union 0) pairs the exhaustive oracle
    * never produces (J = 0/0 is undefined, not a match), and (b) at
    * corpus scale the shared bucket is a catastrophic skew hot spot
    * (10^6 empty docs -> 10^12 candidate pairs). Exact content-hash
    * dedup (d01) is the operator that groups degenerate docs — the
    * documented complementarity in Curation.dedupedCorpus. */
  private[ops] def bandBuckets(sk: DataFrame): DataFrame =
    sk.where(col("n") > 0)
      .select(col("doc_id"), col("n"), explode(expr(
        s"transform(sequence(0, ${Bands - 1}), b -> struct(b AS band, hash(slice(mh, b * $RowsPerBand + 1, $RowsPerBand)) AS bucket))"))
        .as("bb"))
      .select(col("doc_id"), col("n"), col("bb.band"), col("bb.bucket"))

  private[graft] def docSketches(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "sketch3c")(sketchTable(documents(s, d)))

  /** doc_id -> sorted distinct char-3-gram hash array (projection of
    * [[docSketches]]; the columnar cache prunes the unread mh column). */
  private[graft] def docGrams(s: SparkSession, d: String): DataFrame =
    docSketches(s, d).select(col("doc_id"), col("grams"))

  /** doc_id -> distinct word-4-gram hash array — d19's gram domain
    * (word-level n-grams have a long-tailed frequency distribution, which
    * is what prefix filtering needs; char 3-grams on this corpus do not). */
  private def wordGramsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      udf(wordGramHashes _).apply(lower(trim(col("text")))).as("grams"))

  private def docWordGrams(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "grams4w")(wordGramsOf(documents(s, d)))

  /** Exact verification shared by d06 and d19: attach the two gram-hash
    * arrays per candidate pair (id-keyed joins — AQE broadcasts a small
    * side, shuffles at scale), prune by the gram-count ratio (J >= num/den
    * forces den*min >= num*max) before touching array contents, then
    * compute the exact intersection size with the native
    * sorted_inter_count merge scan (the arrays are sorted-distinct by
    * construction) and apply the integer threshold test — the rational
    * threshold keeps every comparison exact integer arithmetic at ANY
    * threshold. Work is proportional to candidates, never to the corpus. */
  private[graft] def verifyPairs(cand: DataFrame, grams: DataFrame,
      num: Int = 4, den: Int = 5): DataFrame =
    cand
      .join(grams.as("ga"), col("doc_a") === col("ga.doc_id"))
      .join(grams.as("gb"), col("doc_b") === col("gb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("ga.grams").as("gsa"), col("gb.grams").as("gsb"),
        size(col("ga.grams")).cast(LongType).as("n_a"),
        size(col("gb.grams")).cast(LongType).as("n_b"))
      .where(least(col("n_a"), col("n_b")) * den >= greatest(col("n_a"), col("n_b")) * num)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        call_function("sorted_inter_count", col("gsa"), col("gsb"))
          .cast(LongType).as("inter_size"))
      .select(col("doc_a"), col("doc_b"), col("inter_size"),
        (col("n_a") + col("n_b") - col("inter_size")).as("union_size"))
      .where(col("inter_size") * den >= col("union_size") * num)

  /** Candidate pairs: docs sharing any band bucket (never all-pairs),
    * pruned by the gram-count ratio test and then by the minhash Jaccard
    * estimate at 0.6 — far enough below the 0.8 emission threshold that a
    * true >= 0.8 pair failing it would need a 5+ sigma minhash
    * fluctuation (Binomial(128, 0.8) < 77). */
  private def lshCandidates(s: SparkSession, d: String): DataFrame =
    lshCandidatesFrom(docSketches(s, d))

  private def lshCandidatesFrom(sk: DataFrame): DataFrame = {
    // band buckets carry (id, gram count) only — the 128-long signature
    // never rides the bucket shuffle (one int does; negligible), and the
    // size-ratio prune (J >= 0.8 forces 5*min >= 4*max) sits INSIDE the
    // self-join condition, so most false bucket collisions die before the
    // pair set exists.
    val b = bandBuckets(sk)
    val pairs = b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id") &&
          least(col("x.n"), col("y.n")) * 5 >= greatest(col("x.n"), col("y.n")) * 4)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    // signature re-attachment is id-keyed (AQE broadcasts when small) and
    // the agreement estimate prunes to near-final candidates BEFORE the
    // dedupe shuffle: multi-band collisions are only ~6% of raw pairs
    // (measured), so filtering first shrinks the distinct() input by the
    // ~50% the estimate rejects instead of deduping everything.
    pairs
      .join(sk.as("ma"), col("doc_a") === col("ma.doc_id"))
      .join(sk.as("mb"), col("doc_b") === col("mb.doc_id"))
      .where(mhAgree(col("ma.mh"), col("mb.mh")) >= (NumHashes * 6) / 10)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** JVM/codegen warmup on synthetic in-memory rows: compiles the UDF,
    * typed-aggregator, and native-expression classes this family uses
    * WITHOUT touching any data directory — the (session, dir) memo caches
    * stay cold, so a later timed query still pays its own pipeline. Called
    * by Bench so the first timed similarity query measures the operator,
    * not Janino compilation and class-loading. */
  def warm(s: SparkSession): Unit = {
    import s.implicits._
    val docs = (0L until 64L)
      .map(i => (i, s"warm doc $i lorem ipsum dolor sit amet " * 4)).toSeq
      .toDF("doc_id", "text")
    val sk = docs.select(col("doc_id"), gramSketchUdf(lower(col("text"))).as("gs"))
      .select(col("doc_id"), col("gs.grams").as("grams"),
        size(col("gs.grams")).as("n"), col("gs.mh").as("mh"))
    val cand = sk.as("a").join(sk.as("b"), col("a.doc_id") < col("b.doc_id"))
      .where(mhAgree(col("a.mh"), col("b.mh")) >= 0)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    verifyPairs(cand, sk.select(col("doc_id"), col("grams")))
      .write.format("noop").mode("overwrite").save()
    val topk = udaf(new TopKAgg(3))
    val vecs = (0L until 32L)
      .map(i => (i, Array.tabulate(8)(j => (i + j).toDouble))).toSeq
      .toDF("vec_id", "v")
    vecs.as("q").join(broadcast(vecs.as("c")), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("vec_id"),
        vecDot(col("q.v"), col("c.v")).as("sim"), col("c.vec_id").as("cid"))
      .groupBy(col("vec_id")).agg(topk(col("sim"), col("cid")).as("t"))
      .write.format("noop").mode("overwrite").save()
    // d08's signature/probe pipeline (hyperplane UDF + posexplode bucket
    // join + bestNeighbor max-agg) on the same synthetic rows
    annCandidatePairs(vecs.withColumn("nrm", sqrt(vecDot(col("v"), col("v")))),
        tables = 2, bits = 4, probeFlips = 3)
      .write.format("noop").mode("overwrite").save()
  }

  /** LSH-candidate pairs exact-verified at Jaccard >= 0.8 — shared by
    * d06 (which emits them) and d14 (which clusters them): memoized per
    * (session, dir) so the second consumer reuses the materialized pair
    * set instead of re-paying the sketch pipeline. Reuse is logged so a
    * bench run shows the hit (VERDICT r2 asked for it to be demonstrable). */
  def nearDupPairs(s: SparkSession, d: String): DataFrame = {
    val hit = memo.containsKey((s, d, "pairs"))
    val df = memoized(s, d, "pairs")(verifyPairs(lshCandidates(s, d), docGrams(s, d)))
    System.err.println(s"[graft] nearDupPairs($d) cache ${if (hit) "HIT" else "MISS"}")
    df
  }

  /** MinHash-LSH near-duplicate pairs of any (doc_id, text) corpus,
    * exact-verified at Jaccard >= 0.8 over char-3-gram sets — the
    * DataFrame-in form of d06 (library surface; the dir-bound overload
    * above adds per-(session, dir) memoization). The per-doc sketch table
    * is cache()d: the band join, both signature re-attachments, and the
    * exact verify read it — callers done with the result can release it
    * via `spark.catalog.clearCache()` or by unpersisting the lineage. */
  def nearDupPairs(docs: DataFrame): DataFrame = {
    val sk = sketchTable(docs).cache()
    verifyPairs(lshCandidatesFrom(sk), sk.select(col("doc_id"), col("grams")))
  }

  /** Near-duplicate clusters of any (doc_id, text) corpus: connected
    * components over [[nearDupPairs]] — the DataFrame-in form of d14.
    * Out: (doc_id, cluster_id = component min doc_id, cluster_size).
    *
    * Unlike [[nearDupPairs]], the internal sketch cache is released
    * before returning: connectedComponents materializes eagerly (its
    * first step localCheckpoints the contracted edge set), so the
    * returned labels no longer reference the sketch lineage — repeated
    * invocations (e.g. via Curation.dedupedCorpus) accumulate no cached
    * tables. */
  def nearDupClusters(docs: DataFrame): DataFrame = {
    val sk = sketchTable(docs).cache()
    try {
      val pairs = verifyPairs(lshCandidatesFrom(sk), sk.select(col("doc_id"), col("grams")))
      connectedComponents(docs.sparkSession,
        pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
        .select(col("v").as("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"))
    } finally sk.unpersist()
  }

  /** Quality-aware dedup keepers (d93): per near-dup cluster of the
    * caller-supplied (doc_id, cluster_id) frame, the HIGHEST-quality
    * member (d04's stopword_ratio, ties to the smaller doc_id) — the
    * production dedup policy, vs the arbitrary min-id keeper d01/d14
    * default to. Out: (cluster_id, keeper_id, best_score, cluster_size).
    * One struct-max aggregate over the clustered docs —
    * field-lexicographic (score, −id) max is an exact double ordering
    * with deterministic ties, and the only shuffle is clusters-sized. */
  private[graft] def bestKeepersFrom(comp: DataFrame, docs: DataFrame): DataFrame =
    comp.join(TextOps.qualityScore(docs).select(col("doc_id"), col("stopword_ratio")),
        Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("stopword_ratio").as("s"), (-col("doc_id")).as("nid"))).as("t"),
        count(lit(1)).cast(LongType).as("cluster_size"))
      .select(col("cluster_id"), (-col("t.nid")).as("keeper_id"),
        col("t.s").as("best_score"), col("cluster_size"))

  // ---- connected components (d14) ------------------------------------------

  /** One large-star round: every node u points its larger neighbors at
    * m = min(N(u) ∪ {u}). Emitted edges are canonical (a < b). */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val m = und.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    und.join(m, "u").where(col("v") > col("u"))
      .select(col("m").as("a"), col("v").as("b")) // m <= u < v
      .distinct()
  }

  /** One small-star round: every node u links its smaller neighbors (and
    * itself) to its minimum neighbor. Emitted edges are canonical. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
    val m = dir.groupBy(col("u")).agg(min(col("v")).as("mn"))
    dir.join(m, "u")
      .select(explode(array(col("v"), col("u"))).as("x"), col("mn"))
      .where(col("x") =!= col("mn"))
      .select(col("mn").as("a"), col("x").as("b")) // mn < x
      .distinct()
  }

  /** Partition-local union-find contraction: each task solves connectivity
    * over ITS edges in memory and emits a star forest (node -> local root)
    * over the same node set — same global connectivity, near-star shape,
    * so the distributed loop starts close to its fixpoint. One narrow
    * pass, no shuffle, bounded by a partition's node count. */
  private def contract(s: SparkSession, edges: DataFrame): DataFrame = {
    import s.implicits._
    edges.select(col("a").cast(LongType), col("b").cast(LongType)).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x0: Long): Long = {
          var x = x0
          while (parent.getOrElse(x, x) != x) {
            val p = parent(x)
            parent(x) = parent.getOrElse(p, p) // path halving
            x = parent(x)
          }
          x
        }
        it.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra != rb) { // min root wins → roots are partition-local minima
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
          parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
        }
        parent.keysIterator.map(n => (find(n), n)).filter(p => p._1 != p._2)
      }
      .toDF("a", "b")
    // NO distinct here: per partition the emitted (root, node) edges are
    // already unique, so duplicates exist only for nodes spanning
    // partitions — the endgame's union-find absorbs them and largeStar's
    // per-round distinct re-canonicalizes. A distinct would serialize the
    // narrow contraction pass behind a full shuffle on every d14 run.
  }

  /** Distributed connected components over an (a, b) edge DataFrame:
    * partition-local union-find contraction, then either (a) a bounded
    * in-memory endgame when the contracted star forest fits
    * `localFinishEdges` — the standard finisher in MapReduce-CC
    * implementations: after contraction the edge set is typically orders
    * of magnitude smaller than the input, and O(log n) distributed
    * rounds on kilobytes are pure scheduling overhead — or (b)
    * large-star/small-star alternation with localCheckpoint per round
    * and a one-job symmetric-difference convergence check. The explicit
    * bound (default 2^20 edges ≈ 16 MB) keeps the endgame from ever
    * being an unbounded driver materialization. Returns (v, lbl =
    * component min, cluster_size) for every node that appears in an
    * edge. Property-tested against an in-memory union-find on random
    * graphs through BOTH paths (SimilarityPrimitivesSpec) in addition to
    * d14's DuckDB oracle. */
  private[graft] def connectedComponents(s: SparkSession, pairs: DataFrame,
      localFinishEdges: Long = 1L << 20): DataFrame = {
    import s.implicits._
    var e = contract(s, pairs).localCheckpoint()
    if (e.count() <= localFinishEdges) {
      val edges = e.select(col("a").cast(LongType), col("b").cast(LongType))
        .as[(Long, Long)].collect()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val p = parent(x)
          parent(x) = parent.getOrElse(p, p)
          x = parent(x)
        }
        x
      }
      edges.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
      }
      val labels = parent.keysIterator.map(v => (v, find(v))).toVector
      val sizes = labels.groupBy(_._2).map { case (r, m) => r -> m.size.toLong }
      return labels.map { case (v, r) => (v, r, sizes(r)) }
        .toDF("v", "lbl", "cluster_size")
    }
    // canonicalize ONCE before the star rounds (the contraction output is
    // not distinct'd): the loop's count-based convergence guard is only
    // sound over duplicate-free edge sets. This shuffle exists only on
    // the star path — contracted graphs beyond the endgame budget — where
    // it is negligible against the rounds themselves.
    e = e.distinct().localCheckpoint()
    var converged = false
    var iter = 0
    var eCnt = -1L
    while (!converged && iter < 25) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      val nCnt = next.count()
      if (eCnt < 0) eCnt = e.count()
      // set equality of canonical distinct edge sets: |A| = |B| = |A∪B|.
      // The count guard (counts on checkpointed data are near-free) skips
      // the distinct-union job on every strictly-shrinking round — only
      // the final, equal-count round pays the set compare.
      converged = eCnt == nCnt &&
        next.unionAll(e).distinct().count() == nCnt
      e = next
      eCnt = nCnt
      iter += 1
    }
    // at the star-forest fixpoint every b links to its component min a;
    // groupBy-min is a no-op safety net, not a correctness crutch
    val labels = e.select(col("b").as("v"), col("a").as("lbl"))
      .unionAll(e.select(col("a").as("v"), col("a").as("lbl")))
      .groupBy(col("v")).agg(min(col("lbl")).as("lbl"))
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("v"), col("lbl"), col("cluster_size"))
  }

  /** Exact n-gram Jaccard join at J >= num/den over word-4-gram sets via
    * PPJoin-style prefix filtering — the DataFrame-in form of d19.
    * In: (doc_id, text). Under a global rarest-first gram order, any pair
    * at J >= t MUST share one of each doc's first n-ceil(t*n)+1 grams:
    * EXACT recall at any threshold (this is the path to use below ~0.75,
    * where the fixed 16x8 band tuning of the MinHash path loses recall).
    * The rational threshold keeps the whole test exact integer
    * arithmetic.
    *
    * The per-doc gram table is cache()d (the prefix self-join and the
    * exact verify both read it — same contract as the DataFrame-in
    * [[nearDupPairs]]): callers done with the result can release it via
    * `spark.catalog.clearCache()` or by unpersisting the lineage. */
  def jaccardPrefixPairs(docs: DataFrame, thresholdNum: Int = 4,
      thresholdDen: Int = 5): DataFrame = {
    require(thresholdNum > 0 && thresholdNum <= thresholdDen,
      "threshold must be a rational in (0, 1]")
    jaccardPrefixFrom(wordGramsOf(docs).cache(), thresholdNum, thresholdDen)
  }

  private def jaccardPrefixFrom(grams: DataFrame, num: Int = 4, den: Int = 5): DataFrame = {
    // the per-doc gram count rides the exploded rows from the start —
    // one narrow column instead of a sizes join after the window
    val sh = grams.select(col("doc_id"), size(col("grams")).as("n"),
      explode(col("grams")).as("g"))
    // document frequency as an unbounded count-over-window: the df column
    // lands on each exploded row in ONE pass (shuffle by g), where a
    // groupBy + join-back formulation shuffles the exploded set twice and
    // scans it twice
    val ranked = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("g"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))))
    // prefix length n - ceil(n*num/den) + 1, with integer ceil
    // ((n*num + den - 1) div den) so no double rounding can flip the
    // boundary at exact multiples
    val prefix = ranked
      .where(col("rn") <= col("n") - expr(s"(n * $num + ${den - 1}) div $den") + 1)
      .select(col("doc_id"), col("n"), col("g"))
    // SSJoin length filter INSIDE the join condition (J >= num/den forces
    // den*min >= num*max): cross-size candidates die before the dedupe
    // shuffle — the same placement as the band join's ratio prune. This
    // is what bounds candidate growth as the corpus densifies (measured
    // at 100k docs with the former ScaleSmoke harness).
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          least(col("x.n"), col("y.n")) * den >= greatest(col("x.n"), col("y.n")) * num)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, grams, num, den)
  }

  /** Asymmetric n-gram containment pairs (d60): directed (doc_a, doc_b)
    * where C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| >= num/den over
    * word 4-grams — the near-SUPERSET detector Jaccard is blind to (a
    * paragraph quoted whole inside a much longer doc has high
    * containment but low Jaccard; dedup pipelines drop the contained
    * side). Broder's containment coefficient with d19's exact-integer
    * threshold convention. In: (doc_id, text). Out: (doc_a, doc_b,
    * inter_size, n_a) — doc_a the contained (subject) side.
    *
    * Scale: prefix filtering on the SUBJECT side only — C >= num/den
    * forces |A∩B| >= ceil(num*|A|/den), so A's (n - ceil(num*n/den) + 1)
    * rarest grams must hit B's full gram set; candidates are the
    * equi-join of subject prefixes against the full posting stream
    * (asymmetric SSJoin: the object side cannot be prefix-filtered
    * because containment does not bound |B| from above — only the
    * |B| >= ceil(num*|A|/den) lower bound rides the join condition).
    * Exact verification reuses [[verifyPairs]]' machinery: id-keyed
    * gram-array re-attach + the native sorted_inter_count merge scan,
    * so work is proportional to candidates, never corpus². */
  def containmentPairs(docs: DataFrame, thresholdNum: Int = 4,
      thresholdDen: Int = 5): DataFrame = {
    require(thresholdNum > 0 && thresholdNum <= thresholdDen,
      "threshold must be a rational in (0, 1]")
    containmentFrom(wordGramsOf(docs).cache(), thresholdNum, thresholdDen)
  }

  private[ops] def containmentFrom(grams: DataFrame, num: Int, den: Int): DataFrame = {
    val sh = grams.select(col("doc_id"), size(col("grams")).as("n"),
      explode(col("grams")).as("g"))
    // document frequency lands on each exploded row in one pass (d19's
    // shape); the subject prefix is built from each doc's RAREST grams
    val ranked = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("g"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))))
    val prefix = ranked
      .where(col("rn") <= col("n") - expr(s"(n * $num + ${den - 1}) div $den") + 1)
      .select(col("doc_id"), col("n"), col("g"))
    val cand = prefix.as("x").join(sh.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") =!= col("y.doc_id") &&
          col("y.n").cast(LongType) * den >= col("x.n").cast(LongType) * num)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(grams.as("ga"), col("doc_a") === col("ga.doc_id"))
      .join(grams.as("gb"), col("doc_b") === col("gb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        call_function("sorted_inter_count", col("ga.grams"), col("gb.grams"))
          .cast(LongType).as("inter_size"),
        size(col("ga.grams")).cast(LongType).as("n_a"))
      .where(col("inter_size") * den >= col("n_a") * num)
  }

  /** Self-join of a normalized vector table under `cond` (a predicate
    * over aliases "q" and "c") — the pair source of the exact cosine
    * baselines (d07/d15). While the table's estimated footprint fits
    * `maxBroadcastBytes` this is the broadcast nested-loop join (the
    * right plan when one side fits in executor memory: candidates ship
    * once, pairs stream through codegen). Beyond it, a fragment-replicate
    * BLOCKED join removes the broadcast memory cliff without changing
    * the pair set: candidates hash into ceil(est/maxBroadcastBytes)
    * blocks, queries replicate to every block (explode over the block
    * ids), and the same N^2 pair stream flows through a shuffle equi-join
    * on the block id — each task holds one block, never the whole table.
    * Cost: the query side shuffles B times (vs once for broadcast), the
    * candidate side once — O(N*B) shuffled rows for an O(N^2/B)-per-task
    * compare, the standard trade of blocked exact NLJ.
    * `raw` is counted for the size estimate (a plain scan count is often
    * metadata-only; the normalized projection would pay a compute pass). */
  /** ceil(estimated table bytes / budget) — the fragment-replicate block
    * count shared by [[selfCosineJoin]] and [[cosineTopK]]'s kernel/blocked
    * dispatch (one estimator, so the two always pick the same regime). */
  private def cosineBlockCount(raw: DataFrame, withNorm: DataFrame,
      maxBroadcastBytes: Long): Int = {
    require(maxBroadcastBytes > 0, "maxBroadcastBytes must be positive")
    val n = raw.count()
    val dimRow = withNorm.select(size(col("v"))).take(1)
    val dim = if (dimRow.isEmpty || dimRow(0).isNullAt(0)) 0 else dimRow(0).getInt(0)
    val est = n * (dim.toLong * 8 + 32)
    math.max(1L, (est + maxBroadcastBytes - 1) / maxBroadcastBytes)
      .min(Int.MaxValue.toLong).toInt
  }

  private[graft] def selfCosineJoin(raw: DataFrame, withNorm: DataFrame,
      cond: org.apache.spark.sql.Column, maxBroadcastBytes: Long): DataFrame = {
    val blocks = cosineBlockCount(raw, withNorm, maxBroadcastBytes)
    if (blocks <= 1)
      withNorm.as("q").join(broadcast(withNorm.as("c")), cond)
    else {
      val c = withNorm.withColumn("blk", pmod(hash(col("vec_id")), lit(blocks))).as("c")
      val q = withNorm.withColumn("blk", explode(expr(s"sequence(0, ${blocks - 1})"))).as("q")
      q.join(c, col("q.blk") === col("c.blk") && cond)
    }
  }

  /** Exact cosine top-k neighbors per vector — the DataFrame-in form of
    * d07 (the brute-force baseline; [[annBestNeighbor]] and IvfIndex are
    * the sub-quadratic paths). In: (vec_id, embedding ARRAY<numeric>).
    * Plan: broadcast nested-loop self-join streaming into the bounded
    * TopKAgg — the N^2 pair stream never materializes and the shuffle is
    * k rows per query. Above `maxBroadcastBytes` the pair source switches
    * to the blocked fragment-replicate join (see [[selfCosineJoin]]) —
    * same pairs, no broadcast memory ceiling. */
  def cosineTopK(vecs: DataFrame, k: Int = 3,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    require(k > 0, "need k > 0")
    val e = vecs
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val withNorm = e.withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
    // r19 execution shape (the d171/searchTopK kernel convention): while
    // the corpus fits the broadcast budget — exactly the regime where the
    // legacy plan shipped the SAME rows to every executor as a BNLJ
    // broadcast relation — score each query partition in a primitive
    // k-slot kernel against flat candidate arrays and emit k rows per
    // query into the unchanged topKRanks merge, instead of streaming
    // N·(N−1) pair rows through udaf(TopKAgg) (the object-aggregation
    // machinery pays ~0.4 µs per ROW; the kernel pays two array reads and
    // a compare per pair). Selection is row-identical: same sequential
    // vec_dot fold, same per-side sqrt, one IEEE divide, and the buffer
    // is a TopKSlots, the order TopKAgg also uses. A zero-norm pair divisor
    // FAILS LOUDLY exactly like the pair stream does: under Spark 4's
    // default ANSI mode the legacy plan's double division throws
    // DIVIDE_BY_ZERO on the first zero-norm pair it evaluates (so the
    // scaladoc's historical NaN-ranks-greatest note is unreachable
    // there), and the kernel raises ArithmeticException at the same
    // per-pair granularity — a corpus with failed encodes errors in
    // both shapes instead of silently ranking garbage. Beyond the
    // budget the blocked fragment-replicate pair stream below is the
    // path (same output; SimilaritySpec's kernel-vs-blocked sweep pins
    // equality, including the zero-norm error behavior).
    val blocks = cosineBlockCount(vecs, withNorm, maxBroadcastBytes)
    val pairs =
      if (blocks <= 1) cosineTopKPartials(withNorm, k)
      else selfCosineJoin(vecs, withNorm,
          col("q.vec_id") =!= col("c.vec_id"), maxBroadcastBytes)
        .select(col("q.vec_id").as("vec_id"), col("c.vec_id").as("neighbor_id"),
          (vecDot(col("q.v"), col("c.v")) / (col("q.nrm") * col("c.nrm"))).as("sim"))
    topKRanks(pairs, k)
  }

  /** Per-partition exact top-k partials for [[cosineTopK]]'s
    * within-budget regime: the (vec_id, v, nrm) table collected once
    * into flat primitive arrays (the same bounded driver
    * materialization the legacy BroadcastNestedLoopJoin built for its
    * broadcast relation — the blocks<=1 guard IS the byte budget),
    * broadcast, and scored per query in an allocation-free loop. Emits
    * each query's full top-k as (vec_id, neighbor_id, sim) rows — the
    * [[topKRanks]] pairs contract — so the downstream merge sees k rows
    * per query and is the identity. A pair whose norm product is 0.0
    * (zero-norm row, or norms underflowing to 0 in the product) throws
    * ArithmeticException at the same per-pair granularity as the ANSI
    * division in the legacy plan — n = 1 corpora, which evaluate no
    * pair, do not throw in either shape. */
  private def cosineTopKPartials(withNorm: DataFrame, k: Int): DataFrame = {
    val spark = withNorm.sparkSession
    import spark.implicits._
    val narrowed = withNorm.select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Array[Double], Double)]
    val rows = narrowed.collect()
    val m = rows.length
    val dim = if (m == 0) 0 else rows(0)._2.length
    val cIds = new Array[Long](m)
    val cVals = new Array[Double](m * dim)
    val cNrms = new Array[Double](m)
    var i = 0
    while (i < m) {
      val (id, v, nrm) = rows(i)
      cIds(i) = id
      var j = 0
      while (j < dim) { cVals(i * dim + j) = v(j); j += 1 }
      cNrms(i) = nrm
      i += 1
    }
    val bc = spark.sparkContext.broadcast((cIds, cVals, cNrms))
    val kk = k
    val dd = dim
    narrowed.mapPartitions { it =>
      val (ids, vals, nrms) = bc.value
      val mm = ids.length
      it.flatMap { case (qid, qv, qn) =>
        val top = new TopKSlots(kk)
        var c = 0
        while (c < mm) {
          val cid = ids(c)
          if (cid != qid) {
            var dot = 0.0
            var t = 0
            val off = c * dd
            while (t < dd) { dot += qv(t) * vals(off + t); t += 1 }
            val den = qn * nrms(c)
            if (den == 0.0) throw new ArithmeticException(
              "[DIVIDE_BY_ZERO] zero-norm cosine divisor in cosineTopK " +
                s"(query $qid vs $cid) — the pair-stream plan's ANSI " +
                "division fails the same way; drop failed encodes first")
            top.offer(dot / den, cid)
          }
          c += 1
        }
        (0 until top.size).iterator.map(p => (qid, top.id(p), top.sim(p)))
      }
    }.toDF("vec_id", "neighbor_id", "sim")
  }

  /** (vec_id, rank, neighbor_id) from a scored (vec_id, neighbor_id,
    * sim) stream — the TopKAgg ranking + rank materialization shared by
    * every top-k form (exact [[cosineTopK]], LSH [[annTopK]], IVF
    * [[IvfIndex.searchTopK]]), so the output contract lives in exactly
    * one place. */
  private[graft] def topKRanks(pairs: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAgg(k))
    pairs.groupBy(col("vec_id"))
      .agg(topk(col("sim"), col("neighbor_id")).as("t"))
      .select(col("vec_id"), posexplode(col("t.ids")).as(Seq("pos", "neighbor_id")))
      .select(col("vec_id"), (col("pos") + 1).cast(LongType).as("rank"), col("neighbor_id"))
  }

  /** Maximal-Marginal-Relevance diversified top-3 (d103): per query,
    * greedily select from its top-`pool` exact-cosine candidates by
    * `λ·sim(query, c) − (1−λ)·max_{s∈selected} sim(c, s)` — the
    * redundancy-penalized ranking retrieval and dataset-selection
    * pipelines use where plain top-k returns k near-copies. Out:
    * (vec_id, pos 1..3, neighbor_id) — ids and positions only, so the
    * gate is hash-exact: both engines compute bit-identical score
    * doubles (the d07-proven cosine convention, then one fused
    * `λ·s − (1−λ)·pen` per candidate) and break ties (sc DESC, id ASC).
    *
    * The greedy loop is UNROLLED to its three selection rounds — each
    * is one bounded aggregation over the ≤`pool`-row-per-query
    * candidate table (argmax via max(struct)), with selected-vector
    * re-attachment as id-keyed joins. Work after the candidate stage is
    * O(queries · pool · rounds); the candidate stage itself is the
    * declared-exact [[cosineTopK]] baseline (swap in [[annTopK]]'s
    * stream for the sub-quadratic path — the rerank stages are
    * source-agnostic). Queries whose pool holds fewer than 3 distinct
    * candidates emit only the positions they can fill. */
  def mmrRerank(vecs: DataFrame, pool: Int = 8, lambda: Double = 0.5,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    val withNorm = normalizedVecs(vecs)
    val pairs = selfCosineJoin(vecs, withNorm,
        col("q.vec_id") =!= col("c.vec_id"), maxBroadcastBytes)
      .select(col("q.vec_id").as("vec_id"), col("c.vec_id").as("nid"),
        (vecDot(col("q.v"), col("c.v")) / (col("q.nrm") * col("c.nrm"))).as("s"))
    mmrRoundsFrom(withNorm, pairs, pool, lambda)
  }

  /** [[mmrRerank]] with [[annTopK]]'s candidate stream as the pool
    * source — the 100 TB composition (the exact all-pairs pool is
    * unrunnable there; the rerank rounds are source-agnostic by
    * design). Candidates come from the same multiprobe hyperplane
    * tables as every ANN path, scored with the exact cosine; the pool
    * per query is then the top-`pool` of the CANDIDATES (⊆ the exact
    * pool — a query whose buckets yield fewer candidates reranks what
    * it has). At the degenerate exact geometry (tables=1,
    * bitsPerTable=1, probeFlips=1 — every pair is a candidate, the d61
    * convention) the pool equals the exact path's and the output is
    * gated verbatim under d103's oracle (d123); at production knobs,
    * MmrSpec bounds pick agreement against the exact rerank. */
  def mmrRerankAnn(vecs: DataFrame, pool: Int = 8, lambda: Double = 0.5,
      tables: Int = 8, bitsPerTable: Int = 0, probeFlips: Int = 15): DataFrame = {
    val withNorm = normalizedVecs(vecs)
    val bits = if (bitsPerTable > 0) bitsPerTable else annBitsFor(vecs.count())
    val cands = scoreCandidates(withNorm,
        annCandidatePairs(withNorm, tables, bits, probeFlips))
      .select(col("vec_id"), col("neighbor_id").as("nid"), col("sim").as("s"))
    mmrRoundsFrom(withNorm, cands, pool, lambda)
  }

  /** The shared MMR machinery: bounded top-`pool` aggregation of a
    * (vec_id, nid, s) candidate stream (TopKAgg dedups repeated
    * surfacings at insert — multi-table ANN collisions cost no distinct
    * shuffle), then the three unrolled greedy selection rounds. */
  private def mmrRoundsFrom(withNorm: DataFrame, cands: DataFrame,
      pool: Int, lambda: Double): DataFrame = {
    val topk = udaf(new TopKAgg(pool))
    // The pool (queries x pool rows) feeds every selection round, and
    // the rounds reference EACH OTHER (sel3 joins sel1 twice, sel2 once,
    // the pool once) — left as lineage, the N^2 candidate scan would
    // re-execute once per structural occurrence (7x at 3 rounds;
    // measured 3.2 s vs 0.9 s for the d07 baseline at sf0.1). The
    // bounded frames are persist()ed and materialized IN ORDER (the
    // count() calls — a lazy cache would let the final union's three
    // branches race and recompute the N^2 scan concurrently before the
    // cache fills; A/B-measured equal to the old eager-localCheckpoint
    // sequencing at sf0.1: ~2.5 s warm both ways) so each computes
    // exactly once,
    // then RELEASED before returning: the final union is eagerly pinned
    // (queries x 3 rows — tiny) and the intermediates unpersisted, so
    // repeated calls in a long-lived session don't accumulate
    // pool-sized executor storage (only the tiny result block remains,
    // reclaimed by RDD GC when the caller drops it).
    val pooled = cands.groupBy(col("vec_id"))
      .agg(topk(col("s"), col("nid")).as("t"))
      .select(col("vec_id"),
        explode(arrays_zip(col("t.sims").as("s"), col("t.ids").as("nid"))).as("z"))
      .select(col("vec_id"), col("z.s").as("s"), col("z.nid").as("nid"))
      .persist()
    pooled.count()
    val cvec = withNorm
      .select(col("vec_id").as("nid"), col("v").as("cv"), col("nrm").as("cn"))

    def argmaxPick(cand: DataFrame, score: org.apache.spark.sql.Column): DataFrame =
      cand.groupBy(col("vec_id"))
        .agg(max(struct(score.as("sc"), (-col("nid")).as("nn"))).as("b"))
        .select(col("vec_id"), (-col("b.nn")).as("nid"))
    def selVec(sel: DataFrame, tag: String): DataFrame = sel
      .join(cvec, "nid")
      .select(col("vec_id"), col("cv").as(s"v$tag"), col("cn").as(s"n$tag"))
    def penalty(tag: String): org.apache.spark.sql.Column =
      vecDot(col("cv"), col(s"v$tag")) / (col("cn") * col(s"n$tag"))
    val lam = lit(lambda)
    val om = lit(1 - lambda)

    // round 1: empty selected set, the penalty term vanishes — argmax s
    val sel1 = argmaxPick(pooled, col("s")).persist()
    sel1.count()
    val cand2 = pooled
      .join(sel1.withColumnRenamed("nid", "nid1"), "vec_id")
      .where(col("nid") =!= col("nid1"))
      .join(cvec, "nid").join(selVec(sel1, "1"), "vec_id")
    val sel2 = argmaxPick(cand2, lam * col("s") - om * penalty("1"))
      .persist()
    sel2.count()
    val cand3 = pooled
      .join(sel1.withColumnRenamed("nid", "nid1"), "vec_id")
      .join(sel2.withColumnRenamed("nid", "nid2"), "vec_id")
      .where(col("nid") =!= col("nid1") && col("nid") =!= col("nid2"))
      .join(cvec, "nid")
      .join(selVec(sel1, "1"), "vec_id").join(selVec(sel2, "2"), "vec_id")
    val sel3 = argmaxPick(cand3,
      lam * col("s") - om * greatest(penalty("1"), penalty("2")))

    def out(sel: DataFrame, pos: Int): DataFrame = sel
      .select(col("vec_id"), lit(pos.toLong).as("pos"), col("nid").as("neighbor_id"))
    // eager pin of the tiny result, then release the pool-sized frames
    val result = out(sel1, 1).unionByName(out(sel2, 2)).unionByName(out(sel3, 3))
      .localCheckpoint()
    pooled.unpersist(); sel1.unpersist(); sel2.unpersist()
    result
  }

  /** The shared vote stage of the kNN-classification family
    * ([[knnClassify]] / [[knnClassifyAnn]]): majority label over a
    * (vec_id, neighbor_id) candidate stream, abstaining on unlabeled
    * neighbors, with ONE ROW PER INPUT VECTOR — a vector whose whole
    * neighborhood is unlabeled (or empty, as the ANN path allows)
    * surfaces as predicted_label NULL / votes 0 instead of silently
    * vanishing: in the mostly-unlabeled corpus pseudo-labeling runs
    * over, "no prediction" and "not in the output" are different facts.
    * Plan: one id-keyed label re-attach (AQE broadcasts the 2-column
    * label table when small), two bounded map-side-combined
    * aggregations — (query, label) votes are at most k rows per query,
    * then a max(struct) majority pick — and a left join of the
    * |queries|-row vote table back onto the input id set. */
  private def majorityVote(vecs: DataFrame, neighbors: DataFrame): DataFrame = {
    val votes = neighbors
      // unlabeled neighbors are abstentions, not votes — counting nulls
      // would let "no label" win the majority
      .join(vecs.select(col("vec_id").as("neighbor_id"), col("label"))
        .where(col("label").isNotNull), "neighbor_id")
      .groupBy(col("vec_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("votes"), (-col("label")).as("negLabel"))).as("best"))
      .select(col("vec_id"), (-col("best.negLabel")).as("predicted_label"),
        col("best.votes").as("votes"))
    vecs.select(col("vec_id"))
      .join(votes, Seq("vec_id"), "left")
      .select(col("vec_id"), col("predicted_label"),
        coalesce(col("votes"), lit(0L)).as("votes"))
  }

  /** kNN label propagation (pseudo-labeling): each vector takes the
    * majority label of its `k` exact nearest neighbors (cosine; ties by
    * vote count break to the SMALLEST label — deterministic and
    * hash-gateable). The auto-labeling step of semi-supervised data
    * curation: propagate a seed set's gold labels across an embedded
    * corpus. In: (vec_id, embedding ARRAY<numeric>, label INT). Out:
    * (vec_id, predicted_label, votes) — exactly one row per input
    * vector; a vector with no labeled neighbor in its top-k gets
    * predicted_label NULL / votes 0.
    *
    * Scale: the neighbor source is [[cosineTopK]] — exact and quadratic
    * BY SEMANTICS (the declared baseline; [[knnClassifyAnn]] is the
    * same vote over the sub-quadratic LSH candidate stream). */
  def knnClassify(vecs: DataFrame, k: Int = 3): DataFrame =
    majorityVote(vecs,
      cosineTopK(vecs, k).select(col("vec_id"), col("neighbor_id")))

  /** ANN top-k neighbors per vector — the sub-quadratic counterpart of
    * [[cosineTopK]]. Candidates come from the same corpus-width
    * multiprobe hyperplane tables as [[annBestNeighbor]], scored with
    * the exact cosine, and ranked by the same bounded TopKAgg — whose
    * at-insert id-dedup absorbs multi-table/multi-probe collisions (one
    * neighbor = one slot), so the raw candidate stream aggregates with
    * NO distinct shuffle (the same collision story as d08's
    * max-aggregate; a pair scores the same sim on every surfacing, so
    * dedup-at-insert equals dedup-upstream). Output schema matches
    * cosineTopK: (vec_id, rank, neighbor_id); a query whose buckets
    * yield fewer than k candidates emits fewer rows. */
  def annTopK(vecs: DataFrame, k: Int = 3, tables: Int = 8,
      bitsPerTable: Int = 0, probeFlips: Int = 15): DataFrame = {
    require(k > 0 && tables > 0 && bitsPerTable >= 0 && bitsPerTable <= 63 &&
      probeFlips >= 0, "need k > 0, tables > 0, 0 <= bitsPerTable <= 63, probeFlips >= 0")
    val e = normalizedVecs(vecs)
    val bits = if (bitsPerTable > 0) bitsPerTable else annBitsFor(vecs.count())
    topKRanks(scoreCandidates(e, annCandidatePairs(e, tables, bits, probeFlips)), k)
  }

  /** [[annTopK]] with WHITENED signature geometry — the
    * clustered-corpus fix. Origin-through hyperplanes split vectors by
    * DIRECTION; a corpus whose vectors all point into one narrow cone
    * (trained low-dim embeddings after few iterations; any strongly
    * anisotropic embedding space) lands in a handful of hot buckets
    * and the candidate stream silently re-quadratizes — measured on
    * the 10× probe corpus: p50 candidates/query ≈ N (LSH degenerated
    * to all-pairs), and mean-centering alone still left p50 ≈ N/4 (the
    * residual cloud is itself anisotropic). The hash space therefore
    * moves to the STANDARDIZED residuals w = L⁻¹(v − μ), the classic
    * whitening preprocessing of PQ/ITQ practice: μ and the covariance
    * come from ONE bounded aggregation (d(d+3)/2 columns, one driver
    * row — the 1-row-collect discipline; `require(d ≤ 64)` keeps the
    * aggregation narrow, which is also the regime where clustering
    * bites), L is the driver-side Cholesky factor of cov + εI, and w
    * is a per-vector linear map in the same task-cached-UDF shape as
    * the signature pass. In whitened space the cloud is isotropic BY
    * CONSTRUCTION, so expected bucket occupancy actually matches the
    * bits heuristic instead of silently collapsing. Within a tight
    * cone, cos(v₁, v₂) ≈ 1 − |r₁ − r₂|²/(2|μ|²): residual geometry is
    * exactly what discriminates neighbors there, so hashing w targets
    * the right signal. Scoring and ranking are UNCHANGED — exact
    * cosine on the ORIGINAL vectors into the bounded TopKAgg;
    * whitening only decides who gets compared, so output quality
    * degrades only by candidate coverage, exactly like every other ANN
    * knob (recall vs the exact baseline is bounded in SimilaritySpec
    * on a clustered fixture). On an already-isotropic corpus W ≈ I/σ
    * and this is [[annTopK]] at one aggregation's extra cost.
    *
    * KNOW THE CEILING: no signature transform can beat the
    * central-arrangement bound — b hyperplanes in R^d realize at most
    * 2·Σ_{i<d} C(b−1, i) sign regions, so at VERY low dimension
    * (d ≲ 8) declared bits beyond that are illusory and occupancy
    * grows like N/regions regardless of whitening. There the right
    * family is the IVF coarse quantizer ([[IvfIndex]] — Voronoi cells
    * partition space, K = √N cells exist at any d), which is why
    * d187's low-dim walk embeddings serve through IVF while this
    * method targets MID-dim anisotropic corpora (d ~ 8–64, e.g.
    * PCA/JL-projected encoder outputs) where regions are plentiful
    * but raw hyperplanes waste them on the dominant axes. */
  def annTopKWhitened(vecs: DataFrame, k: Int = 3, tables: Int = 8,
      bitsPerTable: Int = 0, probeFlips: Int = 15): DataFrame = {
    require(k > 0 && tables > 0 && bitsPerTable >= 0 && bitsPerTable <= 63 &&
      probeFlips >= 0, "need k > 0, tables > 0, 0 <= bitsPerTable <= 63, probeFlips >= 0")
    val e = normalizedVecs(vecs)
    val bits = if (bitsPerTable > 0) bitsPerTable else annBitsFor(vecs.count())
    topKRanks(scoreCandidates(e,
      annCandidatePairs(whitened(e), tables, bits, probeFlips)), k)
  }

  /** (vec_id, v = L⁻¹(v − μ)) — the whitened projection behind
    * [[annTopKWhitened]]. One bounded moment aggregation (means +
    * upper-triangle second moments), driver-side Cholesky of
    * cov + 1e-9·tr/d·I (the ridge keeps degenerate dimensions
    * invertible), forward-substitution inverse, and a task-cached UDF
    * applying the d×d map per vector. */
  private[graft] def whitened(e: DataFrame): DataFrame = {
    val dimRow = e.select(size(col("v"))).take(1)
    if (dimRow.isEmpty) return e.select(col("vec_id"), col("v"))
    val d = dimRow(0).getInt(0)
    require(d >= 1 && d <= 64,
      s"whitened signatures support 1 <= dim <= 64 (got $d) — high-dim " +
        "spaces rarely cluster this way; use annTopK there")
    val meanCols = (0 until d).map(a =>
      avg(element_at(col("v"), a + 1)).as(s"m_$a"))
    val momCols = for (a <- 0 until d; b <- a until d) yield
      avg(element_at(col("v"), a + 1) * element_at(col("v"), b + 1)).as(s"c_${a}_$b")
    val allCols = meanCols ++ momCols
    val row = e.agg(allCols.head, allCols.tail: _*).collect()(0)
    val mu = Array.tabulate(d)(a => row.getDouble(a))
    val cov = Array.ofDim[Double](d, d)
    var idx = d
    for (a <- 0 until d; b <- a until d) {
      val c = row.getDouble(idx) - mu(a) * mu(b)
      cov(a)(b) = c; cov(b)(a) = c
      idx += 1
    }
    val ridge = 1e-9 * math.max((0 until d).map(a => cov(a)(a)).sum / d,
      java.lang.Double.MIN_NORMAL)
    for (a <- 0 until d) cov(a)(a) += ridge
    // Cholesky: cov = L Lᵀ (SPD after the ridge)
    val l = Array.ofDim[Double](d, d)
    for (a <- 0 until d; b <- 0 to a) {
      var s = cov(a)(b)
      for (c <- 0 until b) s -= l(a)(c) * l(b)(c)
      if (a == b) l(a)(a) = math.sqrt(math.max(s, ridge))
      else l(a)(b) = s / l(b)(b)
    }
    // W = L⁻¹ by forward substitution on the identity
    val w = Array.ofDim[Double](d, d)
    for (col0 <- 0 until d; a <- col0 until d) {
      var s = if (a == col0) 1.0 else 0.0
      for (c <- col0 until a) s -= l(a)(c) * w(c)(col0)
      w(a)(col0) = s / l(a)(a)
    }
    val whitenUdf = udf((v: Seq[Double]) => {
      val out = new Array[Double](d)
      var a = 0
      while (a < d) {
        var s = 0.0
        var b = 0
        // L is lower-triangular, so W = L⁻¹ is too: b ≤ a suffices
        while (b <= a) { s += w(a)(b) * (v(b) - mu(b)); b += 1 }
        out(a) = s
        a += 1
      }
      out.toSeq
    })
    e.select(col("vec_id"), whitenUdf(col("v")).as("v"))
  }

  /** Exact-cosine scoring of an id-only candidate stream: re-attach both
    * endpoint vectors id-keyed (AQE broadcasts only a measured-small
    * side) and emit (vec_id, neighbor_id, sim) — the shared back half of
    * every ANN path ([[annTopK]], [[annBestNeighbor]],
    * [[cosineNearDupPairsAnn]]), so the scoring expression lives in
    * exactly one place. `e` is a [[normalizedVecs]] projection. */
  private def scoreCandidates(e: DataFrame, cand: DataFrame): DataFrame =
    cand.as("p")
      .join(e.as("q"), col("p.vec_id") === col("q.vec_id"))
      .join(e.as("c"), col("p.neighbor_id") === col("c.vec_id"))
      .select(col("p.vec_id").as("vec_id"), col("p.neighbor_id").as("neighbor_id"),
        (vecDot(col("q.v"), col("c.v")) / (col("q.nrm") * col("c.nrm"))).as("sim"))

  /** kNN label propagation over the ANN candidate stream — the form
    * pseudo-labeling actually takes at 100 TB, where the exact quadratic
    * [[knnClassify]] is unrunnable: same [[majorityVote]] stage (same
    * abstention rule, same one-row-per-input contract, uncovered
    * vectors NULL/0), with [[annTopK]] as the neighbor source. The
    * prediction is approximate exactly as far as the neighbor set is —
    * label agreement vs the exact baseline rides in bench.json
    * "quality" next to d08/d17 recall, and SimilaritySpec bounds it. */
  def knnClassifyAnn(vecs: DataFrame, k: Int = 3, tables: Int = 8,
      bitsPerTable: Int = 0, probeFlips: Int = 15): DataFrame =
    majorityVote(vecs,
      annTopK(vecs, k, tables, bitsPerTable, probeFlips)
        .select(col("vec_id"), col("neighbor_id")))

  /** The d28/d30 vote stage over a CALLER-SUPPLIED neighbor stream
    * (vec_id, neighbor_id) — the open seam for any candidate source the
    * built-in pairings don't cover: IVF probe results
    * ([[IvfIndex.search]] and [[IvfIndex.searchTopK]] emit exactly this
    * shape — the latter makes IVF-backed kNN classification a two-call
    * composition), a persisted index, or cross-corpus neighbors. Same
    * abstention rule and
    * one-row-per-input contract as [[knnClassify]]; `vecs` supplies
    * both the id universe and the (vec_id, label) seed set. */
  def knnClassifyFrom(vecs: DataFrame, neighbors: DataFrame): DataFrame =
    majorityVote(vecs, neighbors.select(col("vec_id"), col("neighbor_id")))

  /** Contrastive hard-negative mining (d59): per labeled anchor, the
    * top-`k` most-similar vectors carrying a DIFFERENT label — the
    * negatives an embedding/reranker trainer actually wants (easy
    * negatives are already far; the near-but-wrong ones define the
    * decision boundary). Unlabeled vectors neither anchor nor serve as
    * negatives. Output matches the top-k family contract: (vec_id,
    * rank, neighbor_id), rank by (sim DESC, neighbor_id ASC).
    *
    * Scale: same shape as [[cosineTopK]] — broadcast NLJ with the
    * blocked fragment-replicate fallback, pairs streaming into the
    * bounded TopKAgg (k rows per anchor cross the shuffle); the label
    * inequality rides INSIDE the join condition, so mismatched pairs
    * die in codegen before the aggregate. Exact and quadratic BY
    * SEMANTICS (the declared baseline); at 100 TB feed [[topKRanks]]
    * from an ANN/IVF candidate stream label-filtered the same way. */
  def hardNegativeTopK(vecs: DataFrame, k: Int = 3,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    require(k > 0, "need k > 0")
    val labeled = vecs.where(col("label").isNotNull)
    val e = labeled.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"), col("label"))
    val withNorm = e.withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
    val pairs = selfCosineJoin(labeled, withNorm,
        col("q.label") =!= col("c.label"), maxBroadcastBytes)
      .select(col("q.vec_id").as("vec_id"), col("c.vec_id").as("neighbor_id"),
        (vecDot(col("q.v"), col("c.v")) / (col("q.nrm") * col("c.nrm"))).as("sim"))
    topKRanks(pairs, k)
  }

  /** (vec_id, v, nrm) with zero-norm vectors excluded — the shared entry
    * of the cosine family. Norms are computed once per VECTOR (pre-join
    * projection), not per candidate pair — per-pair norm recomputation
    * triples the dot-product work of the similarity stage. Zero-norm
    * vectors (failed encodes) are excluded: their cosine is 0/0 = NaN,
    * which ranks GREATEST under max-aggregation — one zero vector would
    * otherwise become every query's "best" neighbor — and, like empty
    * text sketches, they all share one hyperplane signature (every
    * acc = 0 -> all bits set), a skew hot bucket at corpus scale. */
  /** Nearest-class-centroid classification (d66): per-label prototype =
    * element-wise mean of that label's embeddings (rounded at 6 decimals
    * so the float mean is cross-engine stable), every vector labeled by
    * its most-cosine-similar prototype (ties to the smallest label) —
    * the O(N·L) SCALABLE counterpart of d28's O(N²) kNN labeling
    * (prototypical-network style: one centroid per class replaces the
    * corpus as the comparison set). Integer label + 4-decimal sim
    * output, so the gate is hash-exact. In: (vec_id,
    * embedding ARRAY<numeric>, label INT — null = unlabeled, excluded
    * from prototypes but still classified). Out: (vec_id,
    * predicted_label, sim).
    *
    * Scale: the prototype pass explodes (dim, val) and aggregates to
    * L×dim cells (map-side partial sums — the shuffle carries one
    * partial row per task per cell, never vectors); prototypes rebuild
    * into L rows that broadcast into a narrow scoring scan. No
    * all-pairs anything; the classify half is one corpus pass. */
  def prototypeClassify(vecs: DataFrame): DataFrame = {
    val e = vecs.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val protos = e.where(col("label").isNotNull)
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("x")), 6).as("m"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, m))), c -> c.m)")
        .as("p"))
      .withColumn("pnrm", sqrt(vecDot(col("p"), col("p"))))
      .where(col("pnrm") > 0.0)
      .select(col("label").as("proto_label"), col("p"), col("pnrm"))
    val scored = e.withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
      .where(col("nrm") > 0.0)
      .crossJoin(broadcast(protos))
      .select(col("vec_id"),
        col("proto_label"),
        (vecDot(col("v"), col("p")) / (col("nrm") * col("pnrm"))).as("sim"))
    scored
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), (-col("proto_label")).as("negLabel"))).as("best"))
      .select(col("vec_id"), (-col("best.negLabel")).as("predicted_label"),
        round(col("best.sim"), 4).as("sim"))
  }

  private[graft] def normalizedVecs(vecs: DataFrame): DataFrame =
    vecs
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
      .where(col("nrm") > 0.0)

  /** Directed ANN candidate pairs (query -> bucket-mate) from the
    * hyperplane tables: the index side holds each vector's EXACT
    * signature per table; the probe side fans each query out to its
    * exact + `probeFlips` lowest-margin perturbed signatures. The bucket
    * join carries ids only. Exposed for scale instrumentation (the
    * former ScaleSmoke harness tracked candidate growth across corpus
    * sizes with it). */
  private[graft] def annCandidatePairs(e: DataFrame, tables: Int, bits: Int,
      probeFlips: Int): DataFrame = {
    val sig = e.select(col("vec_id"),
      annSigUdf(tables, bits, probeFlips)(col("v")).as("sigs"))
    // sigs: ARRAY<ARRAY<BIGINT>> — per table, [exact, probe1, probe2, ...]
    val index = sig.select(col("vec_id"), posexplode(col("sigs")).as(Seq("t", "ps")))
      .select(col("vec_id"), col("t"), col("ps").getItem(0).as("sig"))
    val probes = sig.select(col("vec_id"), posexplode(col("sigs")).as(Seq("t", "ps")))
      .select(col("vec_id"), col("t"), explode(col("ps")).as("sig"))
    probes.as("x").join(index.as("y"),
        col("x.t") === col("y.t") && col("x.sig") === col("y.sig") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("neighbor_id"))
  }

  /** Best approximate neighbor per vector via random-hyperplane LSH —
    * the DataFrame-in form of d08 (sub-quadratic scale path).
    * In: (vec_id, embedding ARRAY<numeric>).
    *
    * Geometry is parameterized and SCALES WITH THE CORPUS: `tables` hash
    * tables of `bitsPerTable`-bit signatures (bitsPerTable = 0 derives
    * ceil(log2(N/32)) clamped to [8, 24] from a corpus count, so expected
    * bucket occupancy — and with it candidates per query — stays bounded
    * as N grows instead of re-quadratizing at a fixed 2^8 buckets), with
    * `probeFlips`-deep margin-ordered multiprobe recovering the recall
    * that narrower buckets would otherwise cost. The bucket self-join
    * carries ids only, vectors re-attach id-keyed (AQE broadcasts only a
    * measured-small side). Candidates are NOT deduped — bestNeighbor's
    * max-aggregation absorbs multi-table/multi-probe collisions without a
    * distinct shuffle. */
  def annBestNeighbor(vecs: DataFrame, tables: Int = 8, bitsPerTable: Int = 0,
      probeFlips: Int = 15): DataFrame = {
    require(tables > 0 && bitsPerTable >= 0 && bitsPerTable <= 63 && probeFlips >= 0,
      "need tables > 0, 0 <= bitsPerTable <= 63, probeFlips >= 0")
    val e = normalizedVecs(vecs)
    val bits =
      if (bitsPerTable > 0) bitsPerTable
      // count the RAW input (columnar count, often metadata-only), not the
      // normalized projection — an occupancy heuristic doesn't need the
      // zero-norm exclusion to be exact
      else annBitsFor(vecs.count())
    IvfIndex.bestNeighbor(
      scoreCandidates(e, annCandidatePairs(e, tables, bits, probeFlips)))
  }

  /** Approximate embedding-cosine near-duplicate PAIRS at `threshold` —
    * the sub-quadratic scale path next to the exact all-pairs baseline
    * ([[Corpus.cosineNearDupPairs]] / d15): candidate pairs come from the
    * same corpus-width multiprobe hyperplane tables as [[annBestNeighbor]]
    * (bounded candidates/query, flat growth), are canonicalized and
    * deduped, and only candidates passing the EXACT cosine threshold are
    * emitted — so every output pair is a true >= threshold pair (no false
    * positives); recall is the probabilistic part, bounded in
    * SimilaritySpec against the exact baseline. Output schema matches the
    * exact operator: (vec_a, vec_b, sim). In: (vec_id, embedding). */
  def cosineNearDupPairsAnn(vecs: DataFrame, threshold: Double = 0.4,
      tables: Int = 8, bitsPerTable: Int = 0, probeFlips: Int = 15): DataFrame = {
    require(tables > 0 && bitsPerTable >= 0 && bitsPerTable <= 63 && probeFlips >= 0,
      "need tables > 0, 0 <= bitsPerTable <= 63, probeFlips >= 0")
    val e = normalizedVecs(vecs)
    val bits =
      if (bitsPerTable > 0) bitsPerTable else annBitsFor(vecs.count())
    val cand = annCandidatePairs(e, tables, bits, probeFlips)
      .where(col("vec_id") < col("neighbor_id")) // canonical undirected
      .distinct()
    scoreCandidates(e, cand)
      .where(col("sim") >= threshold)
      .select(col("vec_id").as("vec_a"), col("neighbor_id").as("vec_b"),
        round(col("sim"), 4).as("sim"))
  }

  /** d07's exact cosine top-3 ranking restricted to the zero-norm-free
    * projection — the oracle both exact-mode ANN entries (d33 IVF at
    * probes = K, d35 LSH at 1-bit full-probe geometry) must reproduce
    * row-for-row; `ORDER BY sim DESC, neighbor_id` is TopKAgg's
    * tie-break. */
  private val ExactTopK3Oracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |nz AS (SELECT vec_id, v FROM e WHERE list_dot_product(v, v) > 0),
      |sim AS (
      |  SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
      |         list_dot_product(q.v, c.v)
      |           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
      |  FROM nz q JOIN nz c ON q.vec_id <> c.vec_id)
      |SELECT vec_id, rank, neighbor_id FROM (
      |  SELECT vec_id, neighbor_id,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM sim)
      |WHERE rank <= 3""".stripMargin

  /** Recorded sf0.01 golden for d17 (vec_id, neighbor_id, sim) — made
    * possible by [[IvfIndex.build]]'s determinism contract (fixed-point
    * Lloyd sums => bit-identical centroids on any partitioning).
    * Regenerate with tools/golden_ann.py if TESTDATA is ever rebuilt. */
  private val D17GoldenRows: Seq[(Long, Long, Double)] = Seq(
      (0L,365L,0.37), (1L,386L,0.3715), (2L,117L,0.3181), (3L,130L,0.3999), (4L,114L,0.3985), (5L,404L,0.3284), (6L,350L,0.3245), (7L,340L,0.4928),
      (8L,39L,0.3847), (9L,49L,0.3852), (10L,233L,0.3622), (11L,30L,0.3678), (12L,127L,0.3505), (13L,440L,0.3584), (14L,146L,0.3543), (15L,424L,0.3633),
      (16L,402L,0.4463), (17L,135L,0.3378), (18L,120L,0.327), (19L,87L,0.4032), (20L,117L,0.3457), (21L,331L,0.3249), (22L,431L,0.2862), (23L,452L,0.325),
      (24L,234L,0.4315), (25L,109L,0.3477), (26L,162L,0.352), (27L,134L,0.3917), (28L,305L,0.4564), (29L,264L,0.3671), (30L,11L,0.3678), (31L,367L,0.3201),
      (32L,200L,0.4379), (33L,279L,0.3567), (34L,386L,0.3435), (35L,351L,0.4065), (36L,150L,0.3099), (37L,324L,0.38), (38L,155L,0.3453), (39L,8L,0.3847),
      (40L,359L,0.3719), (41L,410L,0.3611), (42L,376L,0.3757), (43L,198L,0.3561), (44L,301L,0.4597), (45L,337L,0.3406), (46L,114L,0.3798), (47L,406L,0.3017),
      (48L,60L,0.3841), (49L,9L,0.3852), (50L,429L,0.3983), (51L,73L,0.3443), (52L,221L,0.3195), (53L,300L,0.453), (54L,404L,0.3867), (55L,298L,0.3135),
      (56L,271L,0.3994), (57L,324L,0.3615), (58L,131L,0.3653), (59L,15L,0.3196), (60L,48L,0.3841), (61L,494L,0.2831), (62L,281L,0.3731), (63L,125L,0.3959),
      (64L,353L,0.3364), (65L,299L,0.3318), (66L,306L,0.2933), (67L,458L,0.3614), (68L,240L,0.3501), (69L,458L,0.3863), (70L,210L,0.4065), (71L,415L,0.3946),
      (72L,463L,0.3767), (73L,438L,0.398), (74L,148L,0.3973), (75L,256L,0.4563), (76L,250L,0.2852), (77L,190L,0.3544), (78L,437L,0.3333), (79L,480L,0.3189),
      (80L,230L,0.3948), (81L,252L,0.3864), (82L,456L,0.3282), (83L,310L,0.4024), (84L,190L,0.4124), (85L,404L,0.4393), (86L,306L,0.3358), (87L,19L,0.4032),
      (88L,123L,0.3271), (89L,250L,0.3704), (90L,447L,0.3994), (91L,50L,0.3481), (92L,427L,0.2881), (93L,229L,0.3099), (94L,260L,0.3466), (95L,302L,0.3912),
      (96L,494L,0.3425), (97L,197L,0.3223), (98L,172L,0.3612), (99L,419L,0.3674), (100L,398L,0.3584), (101L,118L,0.3838), (102L,74L,0.3583), (103L,170L,0.2879),
      (104L,70L,0.3506), (105L,111L,0.3772), (106L,119L,0.3171), (107L,306L,0.3805), (108L,142L,0.4372), (109L,187L,0.3594), (110L,210L,0.3467), (111L,105L,0.3772),
      (112L,442L,0.3397), (113L,299L,0.3452), (114L,4L,0.3985), (115L,17L,0.3357), (116L,87L,0.3593), (117L,247L,0.365), (118L,101L,0.3838), (119L,227L,0.348),
      (120L,421L,0.4104), (121L,312L,0.3471), (122L,194L,0.3304), (123L,288L,0.3729), (124L,373L,0.3495), (125L,63L,0.3959), (126L,419L,0.3459), (127L,12L,0.3505),
      (128L,207L,0.3158), (129L,69L,0.2878), (130L,3L,0.3999), (131L,456L,0.4322), (132L,46L,0.3376), (133L,397L,0.3655), (134L,27L,0.3917), (135L,17L,0.3378),
      (136L,350L,0.3778), (137L,169L,0.3654), (138L,8L,0.3567), (139L,170L,0.355), (140L,111L,0.3335), (141L,313L,0.3323), (142L,108L,0.4372), (143L,409L,0.3773),
      (144L,437L,0.3617), (145L,29L,0.3367), (146L,14L,0.3543), (147L,473L,0.3283), (148L,74L,0.3973), (149L,382L,0.3736), (150L,152L,0.4183), (151L,220L,0.3331),
      (152L,150L,0.4183), (153L,407L,0.3167), (154L,175L,0.3268), (155L,493L,0.394), (156L,438L,0.4749), (157L,251L,0.3614), (158L,452L,0.472), (159L,202L,0.4031),
      (160L,432L,0.3928), (161L,402L,0.3968), (162L,282L,0.4334), (163L,399L,0.3227), (164L,160L,0.3358), (165L,185L,0.3916), (166L,324L,0.474), (167L,368L,0.3852),
      (168L,240L,0.3987), (169L,466L,0.5128), (170L,139L,0.355), (171L,324L,0.3307), (172L,440L,0.4315), (173L,276L,0.3695), (174L,41L,0.361), (175L,154L,0.3268),
      (176L,476L,0.3269), (177L,204L,0.3454), (178L,125L,0.3095), (179L,370L,0.3343), (180L,265L,0.3499), (181L,194L,0.4084), (182L,445L,0.331), (183L,399L,0.4033),
      (184L,375L,0.3924), (185L,165L,0.3916), (186L,60L,0.3166), (187L,246L,0.3653), (188L,347L,0.3096), (189L,445L,0.3795), (190L,84L,0.4124), (191L,431L,0.4421),
      (192L,455L,0.3678), (193L,452L,0.318), (194L,181L,0.4084), (195L,317L,0.4494), (196L,366L,0.3252), (197L,318L,0.4479), (198L,468L,0.4292), (199L,361L,0.3368),
      (200L,204L,0.4429), (201L,464L,0.3547), (202L,245L,0.41), (203L,414L,0.4098), (204L,200L,0.4429), (205L,485L,0.4074), (206L,457L,0.3531), (207L,326L,0.4168),
      (208L,248L,0.3286), (209L,7L,0.3945), (210L,70L,0.4065), (211L,156L,0.355), (212L,496L,0.3049), (213L,170L,0.3186), (214L,81L,0.3647), (215L,195L,0.32),
      (216L,16L,0.3643), (217L,429L,0.3387), (218L,372L,0.3528), (219L,430L,0.3621), (220L,494L,0.3631), (221L,7L,0.3247), (222L,16L,0.3342), (223L,27L,0.2934),
      (224L,477L,0.3702), (225L,489L,0.3265), (226L,125L,0.2925), (227L,304L,0.385), (228L,177L,0.3064), (229L,271L,0.3819), (230L,204L,0.3133), (231L,355L,0.3264),
      (232L,108L,0.4068), (233L,10L,0.3622), (234L,384L,0.4448), (235L,195L,0.3994), (236L,415L,0.3044), (237L,347L,0.3489), (238L,287L,0.4516), (239L,343L,0.3393),
      (240L,168L,0.3987), (241L,363L,0.3662), (242L,279L,0.3987), (243L,450L,0.3329), (244L,272L,0.2963), (245L,202L,0.41), (246L,187L,0.3653), (247L,117L,0.365),
      (248L,420L,0.3573), (249L,83L,0.3111), (250L,470L,0.3755), (251L,379L,0.3691), (252L,81L,0.3864), (253L,385L,0.4046), (254L,314L,0.3883), (255L,396L,0.3302),
      (256L,75L,0.4563), (257L,333L,0.379), (258L,187L,0.3093), (259L,394L,0.3875), (260L,94L,0.3466), (261L,141L,0.307), (262L,291L,0.4174), (263L,295L,0.3755),
      (264L,29L,0.3671), (265L,180L,0.3499), (266L,396L,0.3946), (267L,319L,0.3193), (268L,162L,0.2973), (269L,340L,0.4338), (270L,479L,0.3359), (271L,56L,0.3994),
      (272L,158L,0.3852), (273L,410L,0.3263), (274L,277L,0.3543), (275L,481L,0.3774), (276L,71L,0.3857), (277L,274L,0.3543), (278L,101L,0.3807), (279L,242L,0.3987),
      (280L,391L,0.339), (281L,62L,0.3731), (282L,162L,0.4334), (283L,90L,0.3078), (284L,473L,0.3574), (285L,497L,0.3177), (286L,171L,0.3248), (287L,238L,0.4516),
      (288L,359L,0.3789), (289L,265L,0.345), (290L,325L,0.4588), (291L,262L,0.4174), (292L,345L,0.3374), (293L,91L,0.3314), (294L,49L,0.3777), (295L,263L,0.3755),
      (296L,286L,0.3093), (297L,384L,0.3884), (298L,45L,0.4556), (299L,72L,0.3534), (300L,53L,0.453), (301L,44L,0.4597), (302L,209L,0.3468), (303L,429L,0.3282),
      (304L,227L,0.385), (305L,28L,0.4564), (306L,107L,0.3805), (307L,90L,0.3511), (308L,477L,0.3975), (309L,24L,0.3076), (310L,83L,0.4024), (311L,498L,0.3289),
      (312L,410L,0.3754), (313L,272L,0.3419), (314L,254L,0.3883), (315L,199L,0.3995), (316L,5L,0.2911), (317L,195L,0.4494), (318L,197L,0.4479), (319L,267L,0.3193),
      (320L,462L,0.3605), (321L,342L,0.3549), (322L,216L,0.3484), (323L,470L,0.3835), (324L,166L,0.474), (325L,290L,0.4588), (326L,207L,0.4168), (327L,399L,0.3401),
      (328L,98L,0.3127), (329L,218L,0.3175), (330L,408L,0.3581), (331L,325L,0.4282), (332L,468L,0.3344), (333L,257L,0.379), (334L,382L,0.4297), (335L,439L,0.4426),
      (336L,399L,0.3636), (337L,163L,0.3605), (338L,406L,0.4827), (339L,67L,0.3533), (340L,7L,0.4928), (341L,474L,0.328), (342L,321L,0.3549), (343L,239L,0.3393),
      (344L,238L,0.373), (345L,89L,0.3678), (346L,462L,0.2683), (347L,225L,0.312), (348L,271L,0.3025), (349L,281L,0.3252), (350L,479L,0.4429), (351L,35L,0.4065),
      (352L,488L,0.312), (353L,64L,0.3364), (354L,247L,0.3639), (355L,417L,0.4007), (356L,50L,0.375), (357L,498L,0.376), (358L,172L,0.313), (359L,288L,0.3789),
      (360L,189L,0.3717), (361L,419L,0.3383), (362L,436L,0.3596), (363L,241L,0.3662), (364L,365L,0.3577), (365L,0L,0.37), (366L,48L,0.3551), (367L,31L,0.3201),
      (368L,167L,0.3852), (369L,413L,0.384), (370L,323L,0.3602), (371L,443L,0.3501), (372L,450L,0.3541), (373L,467L,0.3526), (374L,398L,0.3731), (375L,184L,0.3924),
      (376L,42L,0.3757), (377L,70L,0.3459), (378L,454L,0.3496), (379L,251L,0.3691), (380L,39L,0.343), (381L,413L,0.3711), (382L,334L,0.4297), (383L,405L,0.378),
      (384L,234L,0.4448), (385L,253L,0.4046), (386L,1L,0.3715), (387L,388L,0.4666), (388L,387L,0.4666), (389L,83L,0.337), (390L,233L,0.3242), (391L,280L,0.339),
      (392L,383L,0.3654), (393L,83L,0.279), (394L,259L,0.3875), (395L,350L,0.4071), (396L,266L,0.3946), (397L,133L,0.3655), (398L,374L,0.3731), (399L,183L,0.4033),
      (400L,451L,0.3785), (401L,253L,0.3875), (402L,16L,0.4463), (403L,298L,0.3815), (404L,85L,0.4393), (405L,383L,0.378), (406L,338L,0.4827), (407L,1L,0.327),
      (408L,330L,0.3581), (409L,143L,0.3773), (410L,312L,0.3754), (411L,177L,0.3415), (412L,187L,0.3589), (413L,369L,0.384), (414L,203L,0.4098), (415L,71L,0.3946),
      (416L,171L,0.3229), (417L,355L,0.4007), (418L,442L,0.3695), (419L,99L,0.3674), (420L,248L,0.3573), (421L,120L,0.4104), (422L,473L,0.3117), (423L,385L,0.339),
      (424L,15L,0.3633), (425L,7L,0.4075), (426L,369L,0.3461), (427L,254L,0.3489), (428L,35L,0.3661), (429L,50L,0.3983), (430L,53L,0.4079), (431L,191L,0.4421),
      (432L,160L,0.3928), (433L,101L,0.2789), (434L,137L,0.3433), (435L,95L,0.3669), (436L,362L,0.3596), (437L,144L,0.3617), (438L,156L,0.4749), (439L,335L,0.4426),
      (440L,172L,0.4315), (441L,460L,0.3584), (442L,418L,0.3695), (443L,400L,0.3782), (444L,462L,0.3749), (445L,189L,0.3795), (446L,300L,0.363), (447L,90L,0.3994),
      (448L,484L,0.3861), (449L,134L,0.3421), (450L,465L,0.356), (451L,400L,0.3785), (452L,158L,0.472), (453L,227L,0.3535), (454L,378L,0.3496), (455L,192L,0.3678),
      (456L,131L,0.4322), (457L,384L,0.3711), (458L,69L,0.3863), (459L,280L,0.3328), (460L,441L,0.3584), (461L,317L,0.335), (462L,444L,0.3749), (463L,72L,0.3767),
      (464L,201L,0.3547), (465L,450L,0.356), (466L,169L,0.5128), (467L,373L,0.3526), (468L,198L,0.4292), (469L,158L,0.3684), (470L,323L,0.3835), (471L,427L,0.3488),
      (472L,495L,0.3299), (473L,284L,0.3574), (474L,341L,0.328), (475L,353L,0.3322), (476L,176L,0.3269), (477L,308L,0.3975), (478L,97L,0.3138), (479L,350L,0.4429),
      (480L,79L,0.3189), (481L,275L,0.3774), (482L,26L,0.3455), (483L,32L,0.3453), (484L,373L,0.3453), (485L,205L,0.4074), (486L,170L,0.3443), (487L,35L,0.2942),
      (488L,195L,0.3901), (489L,9L,0.3435), (490L,460L,0.3123), (491L,172L,0.3163), (492L,202L,0.2766), (493L,155L,0.394), (494L,220L,0.3631), (495L,125L,0.3796),
      (496L,399L,0.3834), (497L,138L,0.3548), (498L,357L,0.376), (499L,133L,0.335)
  )

  private val D17GoldenSql: String =
    "SELECT vec_id, neighbor_id, sim FROM (VALUES " +
      D17GoldenRows.map { case (v, n, sim) =>
        s"(CAST($v AS BIGINT), CAST($n AS BIGINT), CAST($sim AS DOUBLE))"
      }.mkString(", ") +
      ") AS t(vec_id, neighbor_id, sim)"

  /** Recorded sf0.01 golden for d08 (vec_id, neighbor_id, sim) — see
    * the d08 registration comment. Sims are the 4dp-rounded doubles the
    * path emits; both engines parse the same shortest-round-trip
    * decimal to the same IEEE bits. Regenerate with tools/golden_ann.py
    * if TESTDATA is ever rebuilt. */
  private val D08GoldenRows: Seq[(Long, Long, Double)] = Seq(
      (0L,365L,0.37), (1L,386L,0.3715), (2L,117L,0.3181), (3L,130L,0.3999), (4L,114L,0.3985), (5L,404L,0.3284), (6L,350L,0.3245), (7L,340L,0.4928),
      (8L,39L,0.3847), (9L,49L,0.3852), (10L,233L,0.3622), (11L,30L,0.3678), (12L,127L,0.3505), (13L,440L,0.3584), (14L,146L,0.3543), (15L,424L,0.3633),
      (16L,402L,0.4463), (17L,135L,0.3378), (18L,120L,0.327), (19L,87L,0.4032), (20L,117L,0.3457), (21L,331L,0.3249), (22L,431L,0.2862), (23L,452L,0.325),
      (24L,234L,0.4315), (25L,109L,0.3477), (26L,162L,0.352), (27L,134L,0.3917), (28L,305L,0.4564), (29L,264L,0.3671), (30L,11L,0.3678), (31L,367L,0.3201),
      (32L,200L,0.4379), (33L,279L,0.3567), (34L,386L,0.3435), (35L,351L,0.4065), (36L,150L,0.3099), (37L,324L,0.38), (38L,155L,0.3453), (39L,8L,0.3847),
      (40L,359L,0.3719), (41L,410L,0.3611), (42L,376L,0.3757), (43L,198L,0.3561), (44L,301L,0.4597), (45L,298L,0.4556), (46L,114L,0.3798), (47L,406L,0.3017),
      (48L,60L,0.3841), (49L,9L,0.3852), (50L,429L,0.3983), (51L,73L,0.3443), (52L,221L,0.3195), (53L,300L,0.453), (54L,404L,0.3867), (55L,298L,0.3135),
      (56L,271L,0.3994), (57L,324L,0.3615), (58L,131L,0.3653), (59L,15L,0.3196), (60L,48L,0.3841), (61L,494L,0.2831), (62L,281L,0.3731), (63L,125L,0.3959),
      (64L,353L,0.3364), (65L,299L,0.3318), (66L,306L,0.2933), (67L,458L,0.3614), (68L,240L,0.3501), (69L,458L,0.3863), (70L,210L,0.4065), (71L,415L,0.3946),
      (72L,463L,0.3767), (73L,438L,0.398), (74L,148L,0.3973), (75L,256L,0.4563), (76L,250L,0.2852), (77L,190L,0.3544), (78L,54L,0.3378), (79L,480L,0.3189),
      (80L,230L,0.3948), (81L,252L,0.3864), (82L,456L,0.3282), (83L,310L,0.4024), (84L,190L,0.4124), (85L,404L,0.4393), (86L,306L,0.3358), (87L,19L,0.4032),
      (88L,123L,0.3271), (89L,250L,0.3704), (90L,447L,0.3994), (91L,50L,0.3481), (92L,427L,0.2881), (93L,229L,0.3099), (94L,260L,0.3466), (95L,302L,0.3912),
      (96L,494L,0.3425), (97L,245L,0.3358), (98L,172L,0.3612), (99L,419L,0.3674), (100L,398L,0.3584), (101L,118L,0.3838), (102L,74L,0.3583), (103L,170L,0.2879),
      (104L,70L,0.3506), (105L,111L,0.3772), (106L,119L,0.3171), (107L,306L,0.3805), (108L,142L,0.4372), (109L,187L,0.3594), (110L,210L,0.3467), (111L,105L,0.3772),
      (112L,442L,0.3397), (113L,299L,0.3452), (114L,4L,0.3985), (115L,17L,0.3357), (116L,87L,0.3593), (117L,247L,0.365), (118L,101L,0.3838), (119L,227L,0.348),
      (120L,421L,0.4104), (121L,312L,0.3471), (122L,194L,0.3304), (123L,288L,0.3729), (124L,373L,0.3495), (125L,63L,0.3959), (126L,419L,0.3459), (127L,12L,0.3505),
      (128L,207L,0.3158), (129L,69L,0.2878), (130L,3L,0.3999), (131L,456L,0.4322), (132L,46L,0.3376), (133L,397L,0.3655), (134L,27L,0.3917), (135L,17L,0.3378),
      (136L,350L,0.3778), (137L,169L,0.3654), (138L,8L,0.3567), (139L,170L,0.355), (140L,111L,0.3335), (141L,313L,0.3323), (142L,108L,0.4372), (143L,409L,0.3773),
      (144L,437L,0.3617), (145L,29L,0.3367), (146L,14L,0.3543), (147L,473L,0.3283), (148L,74L,0.3973), (149L,382L,0.3736), (150L,152L,0.4183), (151L,220L,0.3331),
      (152L,150L,0.4183), (153L,407L,0.3167), (154L,175L,0.3268), (155L,493L,0.394), (156L,438L,0.4749), (157L,251L,0.3614), (158L,452L,0.472), (159L,202L,0.4031),
      (160L,432L,0.3928), (161L,402L,0.3968), (162L,282L,0.4334), (163L,337L,0.3605), (164L,160L,0.3358), (165L,185L,0.3916), (166L,324L,0.474), (167L,368L,0.3852),
      (168L,240L,0.3987), (169L,466L,0.5128), (170L,139L,0.355), (171L,324L,0.3307), (172L,440L,0.4315), (173L,276L,0.3695), (174L,41L,0.361), (175L,154L,0.3268),
      (176L,476L,0.3269), (177L,204L,0.3454), (178L,125L,0.3095), (179L,370L,0.3343), (180L,265L,0.3499), (181L,194L,0.4084), (182L,445L,0.331), (183L,399L,0.4033),
      (184L,375L,0.3924), (185L,165L,0.3916), (186L,60L,0.3166), (187L,246L,0.3653), (188L,347L,0.3096), (189L,445L,0.3795), (190L,84L,0.4124), (191L,431L,0.4421),
      (192L,455L,0.3678), (193L,452L,0.318), (194L,181L,0.4084), (195L,317L,0.4494), (196L,366L,0.3252), (197L,318L,0.4479), (198L,468L,0.4292), (199L,315L,0.3995),
      (200L,204L,0.4429), (201L,464L,0.3547), (202L,245L,0.41), (203L,414L,0.4098), (204L,200L,0.4429), (205L,485L,0.4074), (206L,457L,0.3531), (207L,326L,0.4168),
      (208L,248L,0.3286), (209L,7L,0.3945), (210L,70L,0.4065), (211L,156L,0.355), (212L,496L,0.3049), (213L,170L,0.3186), (214L,81L,0.3647), (215L,195L,0.32),
      (216L,16L,0.3643), (217L,429L,0.3387), (218L,372L,0.3528), (219L,430L,0.3621), (220L,494L,0.3631), (221L,7L,0.3247), (222L,16L,0.3342), (223L,27L,0.2934),
      (224L,477L,0.3702), (225L,489L,0.3265), (226L,125L,0.2925), (227L,304L,0.385), (228L,416L,0.3116), (229L,271L,0.3819), (230L,80L,0.3948), (231L,355L,0.3264),
      (232L,108L,0.4068), (233L,10L,0.3622), (234L,384L,0.4448), (235L,195L,0.3994), (236L,415L,0.3044), (237L,347L,0.3489), (238L,287L,0.4516), (239L,343L,0.3393),
      (240L,168L,0.3987), (241L,363L,0.3662), (242L,279L,0.3987), (243L,450L,0.3329), (244L,272L,0.2963), (245L,202L,0.41), (246L,187L,0.3653), (247L,117L,0.365),
      (248L,420L,0.3573), (249L,83L,0.3111), (250L,470L,0.3755), (251L,379L,0.3691), (252L,81L,0.3864), (253L,385L,0.4046), (254L,314L,0.3883), (255L,396L,0.3302),
      (256L,75L,0.4563), (257L,333L,0.379), (258L,187L,0.3093), (259L,394L,0.3875), (260L,94L,0.3466), (261L,141L,0.307), (262L,291L,0.4174), (263L,295L,0.3755),
      (264L,29L,0.3671), (265L,180L,0.3499), (266L,396L,0.3946), (267L,319L,0.3193), (268L,162L,0.2973), (269L,340L,0.4338), (270L,479L,0.3359), (271L,56L,0.3994),
      (272L,158L,0.3852), (273L,410L,0.3263), (274L,277L,0.3543), (275L,481L,0.3774), (276L,71L,0.3857), (277L,274L,0.3543), (278L,101L,0.3807), (279L,242L,0.3987),
      (280L,391L,0.339), (281L,62L,0.3731), (282L,162L,0.4334), (283L,90L,0.3078), (284L,473L,0.3574), (285L,497L,0.3177), (286L,171L,0.3248), (287L,238L,0.4516),
      (288L,359L,0.3789), (289L,265L,0.345), (290L,325L,0.4588), (291L,262L,0.4174), (292L,345L,0.3374), (293L,91L,0.3314), (294L,49L,0.3777), (295L,263L,0.3755),
      (296L,286L,0.3093), (297L,384L,0.3884), (298L,45L,0.4556), (299L,72L,0.3534), (300L,53L,0.453), (301L,44L,0.4597), (302L,95L,0.3912), (303L,429L,0.3282),
      (304L,227L,0.385), (305L,28L,0.4564), (306L,107L,0.3805), (307L,90L,0.3511), (308L,477L,0.3975), (309L,24L,0.3076), (310L,83L,0.4024), (311L,498L,0.3289),
      (312L,410L,0.3754), (313L,272L,0.3419), (314L,254L,0.3883), (315L,199L,0.3995), (316L,5L,0.2911), (317L,195L,0.4494), (318L,197L,0.4479), (319L,267L,0.3193),
      (320L,462L,0.3605), (321L,342L,0.3549), (322L,216L,0.3484), (323L,470L,0.3835), (324L,166L,0.474), (325L,290L,0.4588), (326L,207L,0.4168), (327L,123L,0.3521),
      (328L,98L,0.3127), (329L,218L,0.3175), (330L,408L,0.3581), (331L,325L,0.4282), (332L,468L,0.3344), (333L,257L,0.379), (334L,382L,0.4297), (335L,439L,0.4426),
      (336L,399L,0.3636), (337L,163L,0.3605), (338L,406L,0.4827), (339L,67L,0.3533), (340L,7L,0.4928), (341L,474L,0.328), (342L,321L,0.3549), (343L,239L,0.3393),
      (344L,238L,0.373), (345L,89L,0.3678), (346L,462L,0.2683), (347L,237L,0.3489), (348L,271L,0.3025), (349L,281L,0.3252), (350L,479L,0.4429), (351L,35L,0.4065),
      (352L,357L,0.341), (353L,64L,0.3364), (354L,247L,0.3639), (355L,417L,0.4007), (356L,50L,0.375), (357L,498L,0.376), (358L,172L,0.313), (359L,288L,0.3789),
      (360L,189L,0.3717), (361L,419L,0.3383), (362L,436L,0.3596), (363L,241L,0.3662), (364L,365L,0.3577), (365L,0L,0.37), (366L,48L,0.3551), (367L,31L,0.3201),
      (368L,167L,0.3852), (369L,413L,0.384), (370L,323L,0.3602), (371L,443L,0.3501), (372L,450L,0.3541), (373L,467L,0.3526), (374L,398L,0.3731), (375L,184L,0.3924),
      (376L,42L,0.3757), (377L,70L,0.3459), (378L,454L,0.3496), (379L,251L,0.3691), (380L,39L,0.343), (381L,413L,0.3711), (382L,334L,0.4297), (383L,405L,0.378),
      (384L,234L,0.4448), (385L,253L,0.4046), (386L,1L,0.3715), (387L,388L,0.4666), (388L,387L,0.4666), (389L,83L,0.337), (390L,233L,0.3242), (391L,280L,0.339),
      (392L,383L,0.3654), (393L,83L,0.279), (394L,259L,0.3875), (395L,350L,0.4071), (396L,266L,0.3946), (397L,133L,0.3655), (398L,374L,0.3731), (399L,183L,0.4033),
      (400L,451L,0.3785), (401L,253L,0.3875), (402L,16L,0.4463), (403L,298L,0.3815), (404L,85L,0.4393), (405L,383L,0.378), (406L,338L,0.4827), (407L,1L,0.327),
      (408L,330L,0.3581), (409L,143L,0.3773), (410L,312L,0.3754), (411L,177L,0.3415), (412L,187L,0.3589), (413L,369L,0.384), (414L,203L,0.4098), (415L,71L,0.3946),
      (416L,171L,0.3229), (417L,355L,0.4007), (418L,442L,0.3695), (419L,99L,0.3674), (420L,248L,0.3573), (421L,120L,0.4104), (422L,473L,0.3117), (423L,385L,0.339),
      (424L,15L,0.3633), (425L,7L,0.4075), (426L,369L,0.3461), (427L,254L,0.3489), (428L,35L,0.3661), (429L,50L,0.3983), (430L,53L,0.4079), (431L,191L,0.4421),
      (432L,160L,0.3928), (433L,101L,0.2789), (434L,137L,0.3433), (435L,95L,0.3669), (436L,362L,0.3596), (437L,144L,0.3617), (438L,156L,0.4749), (439L,335L,0.4426),
      (440L,172L,0.4315), (441L,460L,0.3584), (442L,418L,0.3695), (443L,400L,0.3782), (444L,462L,0.3749), (445L,189L,0.3795), (446L,300L,0.363), (447L,90L,0.3994),
      (448L,484L,0.3861), (449L,134L,0.3421), (450L,465L,0.356), (451L,400L,0.3785), (452L,158L,0.472), (453L,227L,0.3535), (454L,378L,0.3496), (455L,192L,0.3678),
      (456L,131L,0.4322), (457L,384L,0.3711), (458L,69L,0.3863), (459L,280L,0.3328), (460L,441L,0.3584), (461L,317L,0.335), (462L,444L,0.3749), (463L,72L,0.3767),
      (464L,27L,0.3578), (465L,450L,0.356), (466L,169L,0.5128), (467L,373L,0.3526), (468L,198L,0.4292), (469L,158L,0.3684), (470L,323L,0.3835), (471L,427L,0.3488),
      (472L,495L,0.3299), (473L,284L,0.3574), (474L,341L,0.328), (475L,353L,0.3322), (476L,176L,0.3269), (477L,308L,0.3975), (478L,97L,0.3138), (479L,350L,0.4429),
      (480L,79L,0.3189), (481L,275L,0.3774), (482L,26L,0.3455), (483L,32L,0.3453), (484L,448L,0.3861), (485L,205L,0.4074), (486L,170L,0.3443), (487L,35L,0.2942),
      (488L,195L,0.3901), (489L,9L,0.3435), (490L,460L,0.3123), (491L,172L,0.3163), (492L,202L,0.2766), (493L,155L,0.394), (494L,220L,0.3631), (495L,125L,0.3796),
      (496L,399L,0.3834), (497L,138L,0.3548), (498L,357L,0.376), (499L,133L,0.335)
  )

  private val D08GoldenSql: String =
    "SELECT vec_id, neighbor_id, sim FROM (VALUES " +
      D08GoldenRows.map { case (v, n, sim) =>
        s"(CAST($v AS BIGINT), CAST($n AS BIGINT), CAST($sim AS DOUBLE))"
      }.mkString(", ") +
      ") AS t(vec_id, neighbor_id, sim)"

  /** Recorded sf0.01 golden for d30 (vec_id, predicted_label, votes) —
    * see the d30 registration comment for why a literal is the right
    * oracle here. Regenerate with tools/golden_ann.py if TESTDATA is
    * ever rebuilt. */
  private val D30GoldenRows: Seq[(Long, Int, Long)] = Seq(
      (0L,0,1L), (1L,9,2L), (2L,3,1L), (3L,0,1L), (4L,2,1L), (5L,2,1L), (6L,1,1L), (7L,1,1L), (8L,2,1L), (9L,1,1L), (10L,0,1L), (11L,4,1L),
      (12L,0,1L), (13L,4,2L), (14L,3,1L), (15L,0,1L), (16L,4,1L), (17L,1,1L), (18L,3,2L), (19L,0,1L), (20L,4,1L), (21L,1,1L), (22L,3,1L), (23L,8,2L),
      (24L,3,2L), (25L,7,1L), (26L,2,1L), (27L,0,1L), (28L,4,1L), (29L,7,2L), (30L,4,1L), (31L,1,1L), (32L,3,1L), (33L,4,2L), (34L,3,1L), (35L,2,2L),
      (36L,3,1L), (37L,8,2L), (38L,0,1L), (39L,5,1L), (40L,2,2L), (41L,5,1L), (42L,3,2L), (43L,7,1L), (44L,3,1L), (45L,4,2L), (46L,2,1L), (47L,0,1L),
      (48L,2,1L), (49L,0,1L), (50L,1,1L), (51L,0,1L), (52L,4,1L), (53L,1,1L), (54L,0,1L), (55L,3,2L), (56L,4,2L), (57L,8,2L), (58L,1,1L), (59L,1,1L),
      (60L,1,1L), (61L,1,1L), (62L,5,1L), (63L,9,2L), (64L,0,1L), (65L,1,1L), (66L,3,2L), (67L,1,1L), (68L,0,1L), (69L,1,1L), (70L,4,2L), (71L,2,1L),
      (72L,1,1L), (73L,5,1L), (74L,5,1L), (75L,4,1L), (76L,2,1L), (77L,6,1L), (78L,1,1L), (79L,0,2L), (80L,3,1L), (81L,3,1L), (82L,1,2L), (83L,2,1L),
      (84L,2,1L), (85L,3,2L), (86L,3,1L), (87L,1,2L), (88L,2,1L), (89L,3,1L), (90L,1,1L), (91L,3,2L), (92L,4,1L), (93L,0,1L), (94L,4,1L), (95L,4,1L),
      (96L,3,1L), (97L,1,1L), (98L,2,1L), (99L,2,1L), (100L,1,1L), (101L,0,1L), (102L,0,1L), (103L,0,1L), (104L,0,1L), (105L,1,1L), (106L,3,1L), (107L,0,1L),
      (108L,7,2L), (109L,1,1L), (110L,4,1L), (111L,0,1L), (112L,1,1L), (113L,2,1L), (114L,6,1L), (115L,0,2L), (116L,0,1L), (117L,6,2L), (118L,0,1L), (119L,4,2L),
      (120L,3,2L), (121L,2,1L), (122L,1,1L), (123L,0,1L), (124L,2,1L), (125L,0,1L), (126L,1,2L), (127L,1,1L), (128L,2,1L), (129L,2,1L), (130L,8,2L), (131L,1,1L),
      (132L,6,1L), (133L,5,1L), (134L,5,1L), (135L,0,1L), (136L,3,2L), (137L,1,1L), (138L,0,1L), (139L,6,2L), (140L,3,1L), (141L,1,1L), (142L,7,1L), (143L,8,2L),
      (144L,1,1L), (145L,3,1L), (146L,4,2L), (147L,3,1L), (148L,0,1L), (149L,8,2L), (150L,2,2L), (151L,0,1L), (152L,1,1L), (153L,1,1L), (154L,7,2L), (155L,6,1L),
      (156L,3,2L), (157L,4,2L), (158L,1,2L), (159L,7,2L), (160L,7,2L), (161L,1,1L), (162L,0,2L), (163L,2,1L), (164L,0,1L), (165L,0,1L), (166L,0,1L), (167L,4,2L),
      (168L,0,1L), (169L,2,1L), (170L,1,1L), (171L,0,1L), (172L,3,1L), (173L,2,1L), (174L,0,1L), (175L,3,1L), (176L,1,1L), (177L,2,1L), (178L,2,1L), (179L,1,1L),
      (180L,2,1L), (181L,6,2L), (182L,0,1L), (183L,5,1L), (184L,0,1L), (185L,0,1L), (186L,2,1L), (187L,4,1L), (188L,1,1L), (189L,0,1L), (190L,7,1L), (191L,2,1L),
      (192L,5,2L), (193L,1,2L), (194L,3,2L), (195L,4,1L), (196L,3,1L), (197L,0,1L), (198L,1,1L), (199L,0,1L), (200L,7,2L), (201L,4,1L), (202L,1,1L), (203L,2,1L),
      (204L,8,2L), (205L,0,1L), (206L,5,2L), (207L,3,2L), (208L,1,1L), (209L,0,1L), (210L,0,1L), (211L,5,3L), (212L,0,1L), (213L,2,1L), (214L,5,2L), (215L,0,1L),
      (216L,4,2L), (217L,0,1L), (218L,2,1L), (219L,1,2L), (220L,3,2L), (221L,0,2L), (222L,0,1L), (223L,1,1L), (224L,4,1L), (225L,1,1L), (226L,1,1L), (227L,4,1L),
      (228L,0,1L), (229L,2,1L), (230L,0,1L), (231L,3,1L), (232L,0,1L), (233L,0,1L), (234L,3,1L), (235L,0,1L), (236L,4,2L), (237L,3,1L), (238L,2,1L), (239L,7,2L),
      (240L,2,1L), (241L,4,1L), (242L,1,1L), (243L,0,1L), (244L,1,1L), (245L,2,2L), (246L,3,1L), (247L,3,1L), (248L,1,1L), (249L,9,2L), (250L,4,1L), (251L,5,1L),
      (252L,4,1L), (253L,2,1L), (254L,2,1L), (255L,0,1L), (256L,9,2L), (257L,0,1L), (258L,0,1L), (259L,3,1L), (260L,1,2L), (261L,9,2L), (262L,9,2L), (263L,3,2L),
      (264L,3,2L), (265L,1,1L), (266L,1,2L), (267L,1,1L), (268L,1,1L), (269L,1,1L), (270L,1,1L), (271L,0,1L), (272L,1,1L), (273L,1,1L), (274L,4,1L), (275L,2,1L),
      (276L,3,2L), (277L,3,1L), (278L,0,1L), (279L,0,2L), (280L,1,1L), (281L,0,1L), (282L,5,1L), (283L,3,2L), (284L,0,1L), (285L,0,2L), (286L,1,1L), (287L,2,1L),
      (288L,2,1L), (289L,0,1L), (290L,2,1L), (291L,2,2L), (292L,0,1L), (293L,1,1L), (294L,7,2L), (295L,1,1L), (296L,1,1L), (297L,0,1L), (298L,7,2L), (299L,8,2L),
      (300L,5,2L), (301L,0,1L), (302L,6,1L), (303L,7,2L), (304L,1,1L), (305L,3,1L), (306L,2,1L), (307L,3,2L), (308L,5,1L), (309L,2,1L), (310L,5,1L), (311L,1,2L),
      (312L,0,1L), (313L,1,1L), (314L,9,2L), (315L,5,1L), (316L,0,1L), (317L,0,1L), (318L,1,1L), (319L,0,1L), (320L,2,1L), (321L,2,1L), (322L,3,1L), (323L,1,1L),
      (324L,1,1L), (325L,2,1L), (326L,5,1L), (327L,5,2L), (328L,1,2L), (329L,2,1L), (330L,2,1L), (331L,2,1L), (332L,2,1L), (333L,7,2L), (334L,2,1L), (335L,6,1L),
      (336L,6,2L), (337L,0,1L), (338L,2,1L), (339L,0,1L), (340L,0,2L), (341L,9,2L), (342L,1,1L), (343L,4,1L), (344L,8,2L), (345L,3,1L), (346L,1,1L), (347L,7,2L),
      (348L,2,1L), (349L,0,1L), (350L,3,1L), (351L,0,1L), (352L,3,1L), (353L,0,2L), (354L,0,1L), (355L,0,1L), (356L,1,1L), (357L,4,1L), (358L,4,1L), (359L,0,1L),
      (360L,1,2L), (361L,2,1L), (362L,3,1L), (363L,3,2L), (364L,5,1L), (365L,2,1L), (366L,0,1L), (367L,0,1L), (368L,8,2L), (369L,1,1L), (370L,0,1L), (371L,1,1L),
      (372L,1,1L), (373L,2,2L), (374L,7,1L), (375L,0,1L), (376L,1,1L), (377L,9,2L), (378L,0,1L), (379L,4,1L), (380L,0,1L), (381L,0,1L), (382L,0,1L), (383L,1,1L),
      (384L,0,1L), (385L,0,1L), (386L,0,2L), (387L,1,1L), (388L,1,1L), (389L,2,1L), (390L,4,1L), (391L,0,1L), (392L,3,2L), (393L,1,1L), (394L,0,1L), (395L,3,2L),
      (396L,0,1L), (397L,5,1L), (398L,1,1L), (399L,2,2L), (400L,1,1L), (401L,7,2L), (402L,2,1L), (403L,3,1L), (404L,0,1L), (405L,3,1L), (406L,5,1L), (407L,0,1L),
      (408L,3,1L), (409L,3,1L), (410L,9,2L), (411L,3,1L), (412L,6,2L), (413L,4,2L), (414L,0,1L), (415L,0,2L), (416L,0,1L), (417L,3,1L), (418L,9,2L), (419L,1,1L),
      (420L,2,1L), (421L,2,2L), (422L,0,1L), (423L,8,2L), (424L,0,1L), (425L,0,1L), (426L,4,2L), (427L,8,2L), (428L,3,1L), (429L,3,1L), (430L,1,1L), (431L,1,1L),
      (432L,0,1L), (433L,0,1L), (434L,6,1L), (435L,1,1L), (436L,9,2L), (437L,3,2L), (438L,0,1L), (439L,3,1L), (440L,5,1L), (441L,1,1L), (442L,3,1L), (443L,1,1L),
      (444L,3,1L), (445L,0,1L), (446L,0,2L), (447L,2,1L), (448L,2,1L), (449L,2,1L), (450L,2,1L), (451L,0,1L), (452L,1,1L), (453L,4,1L), (454L,1,1L), (455L,4,2L),
      (456L,3,1L), (457L,3,2L), (458L,0,1L), (459L,0,1L), (460L,3,1L), (461L,1,1L), (462L,2,1L), (463L,0,1L), (464L,3,1L), (465L,3,1L), (466L,1,1L), (467L,3,2L),
      (468L,9,2L), (469L,0,2L), (470L,0,1L), (471L,8,2L), (472L,3,1L), (473L,6,2L), (474L,7,2L), (475L,5,1L), (476L,3,1L), (477L,1,1L), (478L,6,1L), (479L,1,1L),
      (480L,2,1L), (481L,2,1L), (482L,0,2L), (483L,7,1L), (484L,3,3L), (485L,1,1L), (486L,3,1L), (487L,2,1L), (488L,0,2L), (489L,0,1L), (490L,1,1L), (491L,5,2L),
      (492L,7,2L), (493L,5,1L), (494L,0,1L), (495L,2,1L), (496L,0,1L), (497L,5,1L), (498L,7,2L), (499L,4,1L)
  )

  private val D30GoldenSql: String =
    "SELECT vec_id, predicted_label, votes FROM (VALUES " +
      D30GoldenRows.map { case (v, p, n) =>
        s"(CAST($v AS BIGINT), $p, CAST($n AS BIGINT))"
      }.mkString(", ") +
      ") AS t(vec_id, predicted_label, votes)"

  def queries: Seq[Q] = Seq(

    // d06: MinHash-LSH near-duplicate detection, exact-verified at J >= 0.8.
    // Output is pure integers (shingle intersection / union sizes) and the
    // threshold test is integer arithmetic (5*inter >= 4*union) — no float
    // parity risk. The DuckDB oracle computes the same result by exhaustive
    // all-pairs (affordable at test scale; the Spark side stays LSH-pruned).
    Q("d06_minhash_lsh",
      (s, d) => nearDupPairs(s, d),
      Some("""WITH sh AS (
             |  SELECT DISTINCT doc_id, substring(t, i, 3) AS g
             |  FROM (SELECT doc_id, lower(text) AS t FROM documents) dd,
             |       LATERAL (SELECT unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i) u
             |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_size
             |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b, inter_size,
             |       za.n + zb.n - inter_size AS union_size
             |FROM inter
             |JOIN sizes za ON za.doc_id = doc_a
             |JOIN sizes zb ON zb.doc_id = doc_b
             |WHERE inter_size * 5 >= (za.n + zb.n - inter_size) * 4""".stripMargin)),

    // d19: exact n-gram Jaccard join via prefix filtering (SSJoin/PPJoin
    // family) over word-4-gram sets: under a global rarest-first gram
    // order, any pair at J >= 0.8 MUST share one of each doc's first
    // n-ceil(0.8n)+1 grams — exact recall with sub-quadratic candidates
    // (a gram with document frequency f contributes at most f^2 prefix
    // collisions, and prefixes are built from each doc's RAREST grams).
    // The exact-recall scale path next to the sketched one (d06): zero
    // probabilistic-recall risk at any similarity level. Word-level
    // n-grams are the right domain for prefix filtering — their frequency
    // distribution is long-tailed, where char 3-grams on a small
    // vocabulary are near-uniformly common (measured: 6M candidate pairs
    // from char-trigram prefixes vs 2.5k from word-4-gram prefixes on
    // the same corpus).
    Q("d19_jaccard_prefix",
      (s, d) => jaccardPrefixFrom(docWordGrams(s, d)),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents
             |), sh AS (
             |  SELECT DISTINCT doc_id,
             |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS g
             |  FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 2)) AS i) u
             |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_size
             |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b, inter_size,
             |       za.n + zb.n - inter_size AS union_size
             |FROM inter
             |JOIN sizes za ON za.doc_id = doc_a
             |JOIN sizes zb ON zb.doc_id = doc_b
             |WHERE inter_size * 5 >= (za.n + zb.n - inter_size) * 4""".stripMargin)),

    // d07: brute-force cosine top-3 per vector (the exact ANN baseline).
    // Both engines compute the identical double expression
    // dot(a,b)/(sqrt(dot(a,a))*sqrt(dot(b,b))) over double-cast vectors and
    // rank by (sim DESC, neighbor ASC); only ids and ranks are emitted.
    // Plan shape: broadcast nested-loop self-join (the candidate side
    // ships to executors once, via Spark's broadcast machinery — no
    // driver-side collect()) streaming into the bounded TopKAgg, so the
    // N^2 pair stream never materializes and the shuffle is k rows/query.
    Q("d07_cosine_topk",
      (s, d) => cosineTopK(embeddings(s, d)),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |sim AS (
             |  SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.v, c.v)
             |           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
             |  FROM e q JOIN e c ON q.vec_id <> c.vec_id)
             |SELECT vec_id, rank, neighbor_id FROM (
             |  SELECT vec_id, neighbor_id,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
             |  FROM sim)
             |WHERE rank <= 3""".stripMargin)),

    // d08: LSH-bucketed approximate nearest neighbor — the sub-quadratic
    // scale path. 8 hash tables of corpus-width signatures (bits ~
    // log2(N/64), so bucket occupancy and candidates/query stay bounded
    // as N grows) with 15-deep margin-ordered multiprobe; the bucket
    // self-join carries ids only, vectors re-attach per candidate pair
    // with id-keyed joins (AQE broadcasts the vector table only when it
    // is actually small), and each query reports its best candidate
    // (sim DESC, id ASC). Deterministic (fixed hyperplane seed over the
    // frozen seed=42 data — a pure function of the vectors, not of
    // partitioning; verified bit-identical across fresh JVMs) but
    // engine-specific, so the oracle is a RECORDED GOLDEN like d30's
    // (r16 verdict ask #8): the VALUES literal replays the sf0.01
    // output bit-for-bit — a hash-gated determinism/regression pin,
    // regenerated via tools/golden_ann.py if TESTDATA ever changes.
    // ACCURACY stays adjudicated by recall@1 vs the exact d07 baseline
    // (0.93 at sf0.1, emitted into bench.json "quality"; bounds in
    // SimilaritySpec).
    Q("d08_ann_lsh",
      (s, d) => annBestNeighbor(embeddings(s, d)),
      Some(D08GoldenSql)),

    // d28: kNN label propagation over the exact top-3 neighbors — the
    // pseudo-labeling step of semi-supervised curation. Integer outputs
    // (label, vote count), so the gate is hash-exact; the oracle mirrors
    // d07's pairwise-cosine ranking and breaks vote ties to the smallest
    // label exactly like the max(struct(votes, -label)) aggregate. Both
    // sides encode the abstention rule the same way: top-k is ranked
    // over ALL neighbors, null-label neighbors drop AFTER ranking (an
    // unlabeled near neighbor costs a vote, it does not promote the
    // next-nearest labeled one), and every input vector emits a row —
    // uncovered vectors as predicted_label NULL / votes 0.
    // d103: MMR diversified top-3 over the top-8 exact-cosine pool at
    // λ=0.5. Integer output (query, position, neighbor); the oracle
    // transcribes the unrolled greedy rounds — pool by row_number, then
    // each round's argmax as a rank-1 window over the same fused score
    // expression the Spark side aggregates with.
    Q("d103_mmr_rerank",
      (s, d) => mmrRerank(embeddings(s, d)),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |nz AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM e
             |       WHERE list_dot_product(v, v) > 0),
             |sim AS (SELECT q.vec_id AS vec_id, c.vec_id AS nid,
             |               list_dot_product(q.v, c.v) / (q.n * c.n) AS s
             |        FROM nz q JOIN nz c ON q.vec_id <> c.vec_id),
             |pool AS (SELECT vec_id, nid, s FROM (
             |  SELECT vec_id, nid, s,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, nid) AS rn
             |  FROM sim) WHERE rn <= 8),
             |s1 AS (SELECT vec_id, nid FROM (
             |  SELECT vec_id, nid,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, nid) AS rn
             |  FROM pool) WHERE rn = 1),
             |c2 AS (SELECT p.vec_id, p.nid,
             |  0.5 * p.s - 0.5 * (list_dot_product(cv.v, v1.v) / (cv.n * v1.n)) AS sc
             |  FROM pool p
             |  JOIN s1 ON s1.vec_id = p.vec_id AND p.nid <> s1.nid
             |  JOIN nz cv ON cv.vec_id = p.nid
             |  JOIN nz v1 ON v1.vec_id = s1.nid),
             |s2 AS (SELECT vec_id, nid FROM (
             |  SELECT vec_id, nid,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, nid) AS rn
             |  FROM c2) WHERE rn = 1),
             |c3 AS (SELECT p.vec_id, p.nid,
             |  0.5 * p.s - 0.5 * greatest(
             |    list_dot_product(cv.v, v1.v) / (cv.n * v1.n),
             |    list_dot_product(cv.v, v2.v) / (cv.n * v2.n)) AS sc
             |  FROM pool p
             |  JOIN s1 ON s1.vec_id = p.vec_id AND p.nid <> s1.nid
             |  JOIN s2 ON s2.vec_id = p.vec_id AND p.nid <> s2.nid
             |  JOIN nz cv ON cv.vec_id = p.nid
             |  JOIN nz v1 ON v1.vec_id = s1.nid
             |  JOIN nz v2 ON v2.vec_id = s2.nid),
             |s3 AS (SELECT vec_id, nid FROM (
             |  SELECT vec_id, nid,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, nid) AS rn
             |  FROM c3) WHERE rn = 1)
             |SELECT vec_id, CAST(1 AS BIGINT) AS pos, nid AS neighbor_id FROM s1
             |UNION ALL SELECT vec_id, CAST(2 AS BIGINT), nid FROM s2
             |UNION ALL SELECT vec_id, CAST(3 AS BIGINT), nid FROM s3""".stripMargin)),

    // d123: the ANN-source MMR composition in the d61 exact geometry
    // (1 table x 1 bit, probeFlips 1 — every pair is a candidate), so
    // the ANN pool equals the exact pool and d103's oracle gates the
    // whole candidates->pool->rounds path verbatim. The production-knob
    // form of the same code path is bounded by MmrSpec.
    Q("d123_mmr_ann_exact",
      (s, d) => mmrRerankAnn(embeddings(s, d),
        tables = 1, bitsPerTable = 1, probeFlips = 1),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |nz AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM e
             |       WHERE list_dot_product(v, v) > 0),
             |sim AS (SELECT q.vec_id AS vec_id, c.vec_id AS nid,
             |               list_dot_product(q.v, c.v) / (q.n * c.n) AS s
             |        FROM nz q JOIN nz c ON q.vec_id <> c.vec_id),
             |pool AS (SELECT vec_id, nid, s FROM (
             |  SELECT vec_id, nid, s,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, nid) AS rn
             |  FROM sim) WHERE rn <= 8),
             |s1 AS (SELECT vec_id, nid FROM (
             |  SELECT vec_id, nid,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, nid) AS rn
             |  FROM pool) WHERE rn = 1),
             |c2 AS (SELECT p.vec_id, p.nid,
             |  0.5 * p.s - 0.5 * (list_dot_product(cv.v, v1.v) / (cv.n * v1.n)) AS sc
             |  FROM pool p
             |  JOIN s1 ON s1.vec_id = p.vec_id AND p.nid <> s1.nid
             |  JOIN nz cv ON cv.vec_id = p.nid
             |  JOIN nz v1 ON v1.vec_id = s1.nid),
             |s2 AS (SELECT vec_id, nid FROM (
             |  SELECT vec_id, nid,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, nid) AS rn
             |  FROM c2) WHERE rn = 1),
             |c3 AS (SELECT p.vec_id, p.nid,
             |  0.5 * p.s - 0.5 * greatest(
             |    list_dot_product(cv.v, v1.v) / (cv.n * v1.n),
             |    list_dot_product(cv.v, v2.v) / (cv.n * v2.n)) AS sc
             |  FROM pool p
             |  JOIN s1 ON s1.vec_id = p.vec_id AND p.nid <> s1.nid
             |  JOIN s2 ON s2.vec_id = p.vec_id AND p.nid <> s2.nid
             |  JOIN nz cv ON cv.vec_id = p.nid
             |  JOIN nz v1 ON v1.vec_id = s1.nid
             |  JOIN nz v2 ON v2.vec_id = s2.nid),
             |s3 AS (SELECT vec_id, nid FROM (
             |  SELECT vec_id, nid,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, nid) AS rn
             |  FROM c3) WHERE rn = 1)
             |SELECT vec_id, CAST(1 AS BIGINT) AS pos, nid AS neighbor_id FROM s1
             |UNION ALL SELECT vec_id, CAST(2 AS BIGINT), nid FROM s2
             |UNION ALL SELECT vec_id, CAST(3 AS BIGINT), nid FROM s3""".stripMargin)),

    Q("d28_knn_classify",
      (s, d) => knnClassify(embeddings(s, d)),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
             |sim AS (
             |  SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id, c.label,
             |         list_dot_product(q.v, c.v)
             |           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
             |  FROM e q JOIN e c ON q.vec_id <> c.vec_id),
             |topk AS (
             |  SELECT vec_id, label FROM (
             |    SELECT vec_id, label,
             |           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
             |    FROM sim)
             |  WHERE rank <= 3 AND label IS NOT NULL),
             |votes AS (SELECT vec_id, label, count(*) AS votes FROM topk GROUP BY 1, 2),
             |best AS (
             |  SELECT vec_id, label AS predicted_label, votes FROM (
             |    SELECT vec_id, label, votes,
             |           row_number() OVER (PARTITION BY vec_id ORDER BY votes DESC, label) AS rn
             |    FROM votes) WHERE rn = 1)
             |SELECT q.vec_id, b.predicted_label,
             |       COALESCE(b.votes, CAST(0 AS BIGINT)) AS votes
             |FROM (SELECT vec_id FROM embeddings) q
             |LEFT JOIN best b USING (vec_id)""".stripMargin)),

    // d30: kNN label propagation over the LSH candidate stream — the
    // sub-quadratic production form of d28 (pseudo-labeling at 100 TB
    // runs on the ANN path by definition). Deterministic (fixed
    // hyperplane seed, frozen seed=42 data) but engine-specific, so the
    // oracle is a RECORDED GOLDEN (r16 verdict ask #8: shrink the
    // no_oracle set where a deterministic gate exists): the VALUES
    // literal below replays the sf0.01 output bit-for-bit, converting
    // the rows-only check into a hash-gated determinism/regression pin.
    // ACCURACY stays adjudicated by the exact sibling d34 (hash-green
    // vs DuckDB) and the d30_agreement=1.0 bench-quality figure; this
    // gate is sf0.01-specific by construction (the driver's t2 scale —
    // TESTDATA is frozen, seed=42) and must be regenerated if the
    // synthetic data ever changes: tools/golden_ann.py.
    Q("d30_knn_classify_ann",
      (s, d) => knnClassifyAnn(embeddings(s, d)),
      Some(D30GoldenSql)),

    // d14: near-duplicate CLUSTERING — connected components over the d06
    // pair graph. Plan: partition-local union-find contraction (one narrow
    // pass), then large-star/small-star alternation — O(log n) rounds for
    // ANY component shape (vs O(diameter) for plain label propagation) —
    // with localCheckpoint truncating lineage each round and a single-job
    // symmetric-difference convergence check. Output: every clustered doc
    // with its component id (= min doc_id in the component) and component
    // size. DuckDB oracle computes the same closure with a recursive CTE.
    Q("d14_dedup_components",
      (s, d) =>
        connectedComponents(s,
          nearDupPairs(s, d).select(col("doc_a").as("a"), col("doc_b").as("b")))
          .select(col("v").as("doc_id"), col("lbl").as("cluster_id"), col("cluster_size")),
      // The heavy pair computation is hoisted into MATERIALIZED CTEs so
      // DuckDB evaluates it once instead of per recursion step.
      Some("""WITH RECURSIVE np AS MATERIALIZED (
             |  WITH sh AS (
             |    SELECT DISTINCT doc_id, substring(t, i, 3) AS g
             |    FROM (SELECT doc_id, lower(text) AS t FROM documents) dd,
             |         LATERAL (SELECT unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i) u
             |  ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |  inter AS (
             |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_size
             |    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
             |    GROUP BY 1, 2)
             |  SELECT doc_a, doc_b FROM inter
             |  JOIN sizes za ON za.doc_id = doc_a
             |  JOIN sizes zb ON zb.doc_id = doc_b
             |  WHERE inter_size * 5 >= (za.n + zb.n - inter_size) * 4
             |),
             |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM np UNION ALL SELECT doc_b, doc_a FROM np),
             |nodes AS (SELECT DISTINCT a AS v FROM edges),
             |reach AS (
             |  SELECT v, v AS l FROM nodes
             |  UNION
             |  SELECT r.v, e.b AS l FROM reach r JOIN edges e ON e.a = r.l
             |),
             |lab AS (SELECT v, min(l) AS cluster_id FROM reach GROUP BY v),
             |csz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
             |SELECT v AS doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size
             |FROM lab JOIN csz USING (cluster_id)""".stripMargin)),

    // d93: quality-aware dedup keeper — the production near-dup POLICY:
    // per duplicate cluster, keep the HIGHEST-QUALITY member (d04's
    // stopword_ratio; ties to the smaller doc_id), not the arbitrary
    // min-id keeper d01/d14 default to. One struct-max aggregate over
    // the clustered docs (field-lexicographic (score, -id) max — exact
    // double ordering, deterministic ties), so the only added shuffle
    // beyond d14's machinery is clusters-sized. Shares the memoized
    // near-dup pair tables with d06/d14/d19 (marked memoized).
    Q("d93_dedup_best_keeper",
      (s, d) => bestKeepersFrom(
        connectedComponents(s,
          nearDupPairs(s, d).select(col("doc_a").as("a"), col("doc_b").as("b")))
          .select(col("v").as("doc_id"), col("lbl").as("cluster_id")),
        documents(s, d)),
      Some("""WITH RECURSIVE np AS MATERIALIZED (
             |  WITH sh AS (
             |    SELECT DISTINCT doc_id, substring(t, i, 3) AS g
             |    FROM (SELECT doc_id, lower(text) AS t FROM documents) dd,
             |         LATERAL (SELECT unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i) u
             |  ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |  inter AS (
             |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_size
             |    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
             |    GROUP BY 1, 2)
             |  SELECT doc_a, doc_b FROM inter
             |  JOIN sizes za ON za.doc_id = doc_a
             |  JOIN sizes zb ON zb.doc_id = doc_b
             |  WHERE inter_size * 5 >= (za.n + zb.n - inter_size) * 4
             |),
             |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM np UNION ALL SELECT doc_b, doc_a FROM np),
             |nodes AS (SELECT DISTINCT a AS v FROM edges),
             |reach AS (
             |  SELECT v, v AS l FROM nodes
             |  UNION
             |  SELECT r.v, e.b AS l FROM reach r JOIN edges e ON e.a = r.l
             |),
             |lab AS (SELECT v, min(l) AS cluster_id FROM reach GROUP BY v),
             |sc AS (
             |  SELECT doc_id,
             |         CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             |           w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
             |           / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS s
             |  FROM documents),
             |j AS (SELECT lab.v AS doc_id, cluster_id, s
             |      FROM lab JOIN sc ON sc.doc_id = lab.v)
             |SELECT cluster_id,
             |       first(doc_id ORDER BY s DESC, doc_id) AS keeper_id,
             |       max(s) AS best_score,
             |       CAST(count(*) AS BIGINT) AS cluster_size
             |FROM j GROUP BY cluster_id""".stripMargin)),

    // d17: IVF approximate neighbor search — the second ANN index family
    // (k-means coarse quantizer), built on the first-class IvfIndex
    // surface (build/save/load/search — the production path persists the
    // index; this query form builds inline and searches the same table).
    // Centroids: deterministic init (16 lowest vec_ids) + 3 Lloyd
    // iterations, each one assign-shuffle + tiny centroid aggregation
    // (the only driver-side collect is K=16 centroid rows); search probes
    // the query's nearest cells only (probes/K of the corpus per query),
    // and candidate vectors re-attach id-keyed. probes=13 of K=16 here is
    // RECALL-tuned for this unclustered test table (>= 0.95 recall@1 vs
    // the exact baseline, emitted with both knobs into bench.json
    // "quality") — clustered production corpora run probes<<K; both knobs
    // are caller-set on the IvfIndex surface. The build is now
    // BIT-DETERMINISTIC under any partitioning (IvfIndex.build trains
    // with fixed-point Lloyd accumulators — integer addition is
    // order-independent where double addition is not; spec-pinned
    // across partition counts and row orders in IvfIndexSpec), so the
    // formerly rows-only check is a RECORDED-GOLDEN hash gate like
    // d08/d30's: the VALUES literal replays the sf0.01 output
    // bit-for-bit (tools/golden_ann.py regenerates). Quality bounds
    // stay in SimilaritySpec + bench.json "quality".
    Q("d17_ivf_ann",
      (s, d) => {
        val e = embeddings(s, d)
          .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
        val model = IvfIndex.build(s, e, k = D17Cells, iters = 3)
        IvfIndex.search(s, model, e, probes = D17Probes)
      },
      Some(D17GoldenSql)),

    // d33: the IVF machinery under an EXACT-mode oracle. At probes = K
    // every query probes every cell, so the candidate set is the whole
    // (zero-norm-free) corpus and searchTopK must reproduce the exact
    // cosine top-k row-for-row — IvfIndexSpec proves that equality
    // in-process; this entry makes it driver-adjudicated (hash-gated
    // against DuckDB) so the quantize -> probe -> re-attach -> TopKAgg
    // pipeline shared with d17's production setting (probes < K) is
    // oracle-covered, not self-reported. The oracle is d07's ranking
    // restricted to the zero-norm-free projection (the ANN family
    // excludes failed encodes by design; the exact baseline ranks their
    // 0/0 = NaN cosine greatest — see IvfIndex.searchTopK scaladoc).
    Q("d33_ivf_topk_exact",
      (s, d) => {
        val e = embeddings(s, d)
          .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
        val model = IvfIndex.build(s, e, k = D17Cells, iters = 3)
        IvfIndex.searchTopK(s, model, e, k = 3, probes = D17Cells)
      },
      Some(ExactTopK3Oracle)),

    // d35: the LSH machinery under the SAME exact-mode oracle. At
    // bitsPerTable = 1 with probeFlips = 1 each query probes both
    // signatures of the single 1-bit table (probeMasks returns exactly
    // the one flippable bit), so the bucket join degenerates to every
    // directed pair of the zero-norm-free corpus and annTopK must
    // reproduce the exact cosine top-k row-for-row — the signature UDF,
    // the probe fan-out, the index/probe bucket join, the id-keyed
    // re-scoring, and the TopKAgg ranking (everything d08/d30 runs at
    // production geometry) all sit inside a hash-gated query instead of
    // a self-reported recall number. SimilaritySpec asserts the same
    // equality in-process.
    Q("d35_ann_topk_exact",
      (s, d) => annTopK(embeddings(s, d), k = 3, tables = 1,
        bitsPerTable = 1, probeFlips = 1),
      Some(ExactTopK3Oracle)),

    // d34: the composed IVF-backed kNN classifier under d28's oracle —
    // knnClassifyFrom is the open vote-stage seam and searchTopK(probes=K)
    // its exact-mode neighbor source, so this two-call composition must
    // equal the exact d28 pipeline (GraftApiSpec proves it in-process).
    // Hash-gating it gives d30 (the same vote stage over the LSH
    // candidate stream) an oracle-adjudicated sibling: everything
    // downstream of the candidate source — label re-attach, abstention,
    // majority pick, one-row-per-input left join — is driver-verified.
    // The oracle mirrors d28's with the pair stream on the zero-norm-free
    // projection; the final left join stays over the FULL id universe
    // (a zero-norm input still emits its NULL/0 abstention row).
    Q("d34_knn_classify_ivf",
      (s, d) => {
        val vecs = embeddings(s, d)
        val e = vecs
          .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
        val model = IvfIndex.build(s, e, k = D17Cells, iters = 3)
        knnClassifyFrom(vecs,
          IvfIndex.searchTopK(s, model, e, k = 3, probes = D17Cells))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
             |nz AS (SELECT vec_id, v, label FROM e WHERE list_dot_product(v, v) > 0),
             |sim AS (
             |  SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id, c.label,
             |         list_dot_product(q.v, c.v)
             |           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
             |  FROM nz q JOIN nz c ON q.vec_id <> c.vec_id),
             |topk AS (
             |  SELECT vec_id, label FROM (
             |    SELECT vec_id, label,
             |           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
             |    FROM sim)
             |  WHERE rank <= 3 AND label IS NOT NULL),
             |votes AS (SELECT vec_id, label, count(*) AS votes FROM topk GROUP BY 1, 2),
             |best AS (
             |  SELECT vec_id, label AS predicted_label, votes FROM (
             |    SELECT vec_id, label, votes,
             |           row_number() OVER (PARTITION BY vec_id ORDER BY votes DESC, label) AS rn
             |    FROM votes) WHERE rn = 1)
             |SELECT q.vec_id, b.predicted_label,
             |       COALESCE(b.votes, CAST(0 AS BIGINT)) AS votes
             |FROM (SELECT vec_id FROM embeddings) q
             |LEFT JOIN best b USING (vec_id)""".stripMargin)),

    // d59: contrastive hard-negative mining — d07's exact top-k with the
    // label-inequality predicate inside the join condition; ids and
    // ranks only, so the gate is hash-exact. The oracle mirrors d07's
    // ranking (sim DESC, neighbor ASC) over different-label pairs.
    Q("d59_hard_negatives",
      (s, d) => hardNegativeTopK(embeddings(s, d)),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
             |          FROM embeddings WHERE label IS NOT NULL),
             |sim AS (
             |  SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.v, c.v)
             |           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
             |  FROM e q JOIN e c ON q.label <> c.label)
             |SELECT vec_id, rank, neighbor_id FROM (
             |  SELECT vec_id, neighbor_id,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
             |  FROM sim)
             |WHERE rank <= 3""".stripMargin)),

    // d66: nearest-class-centroid classification — per-label prototype
    // means (rounded 6 so the only order-dependent float is bit-stable),
    // broadcast into a narrow scoring scan; integer label + 4-decimal
    // sim, hash-exact. The oracle rebuilds prototypes via UNNEST(range)
    // element indexing and replays the (sim DESC, label) argmax.
    Q("d66_prototype_classify",
      (s, d) => prototypeClassify(embeddings(s, d)),
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |pd AS (
             |  SELECT label, i AS idx, round(avg(v[i]), 6) AS m
             |  FROM e, UNNEST(range(1, len(v) + 1)) AS t(i)
             |  WHERE label IS NOT NULL
             |  GROUP BY label, i),
             |pr AS (SELECT label AS proto_label, list(m ORDER BY idx) AS p
             |       FROM pd GROUP BY label),
             |pn AS (SELECT proto_label, p, sqrt(list_dot_product(p, p)) AS pnrm
             |       FROM pr WHERE list_dot_product(p, p) > 0),
             |sc AS (
             |  SELECT e.vec_id, pn.proto_label,
             |         list_dot_product(e.v, pn.p)
             |           / (sqrt(list_dot_product(e.v, e.v)) * pn.pnrm) AS sim
             |  FROM e, pn WHERE list_dot_product(e.v, e.v) > 0)
             |SELECT vec_id, proto_label AS predicted_label, round(sim, 4) AS sim
             |FROM (SELECT vec_id, proto_label, sim,
             |             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, proto_label) AS rn
             |      FROM sc)
             |WHERE rn = 1""".stripMargin)),

    // d60: asymmetric n-gram containment — the near-superset detector
    // next to d19's symmetric Jaccard, over the SAME memoized word-4-gram
    // hash table (hash-vs-string intersection counts agree because the
    // corpus is collision-checked in SimilarityPrimitivesSpec). Directed
    // pairs; integer sizes only, so the gate is hash-exact.
    Q("d60_containment_prefix",
      (s, d) => containmentFrom(docWordGrams(s, d), 4, 5),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents
             |), sh AS (
             |  SELECT DISTINCT doc_id,
             |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS g
             |  FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 2)) AS i) u
             |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_size
             |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b, inter_size, za.n AS n_a
             |FROM inter JOIN sizes za ON za.doc_id = doc_a
             |WHERE inter_size * 5 >= za.n * 4""".stripMargin))
  )

  /** The d17 bench binding's IVF knobs, exported so bench.json's quality
    * field can record the (recall, probes, k) triple it measured. */
  val D17Cells = 16
  val D17Probes = 13

  /** Query names whose plans read the per-(session, dir) memo caches
    * (sketch/gram/pair tables shared across the d06/d14/d19 family):
    * in a run-twice bench, run 2 of these is a WARM cache probe, not an
    * independent cold measurement — the bench marks them in its artifact
    * so a reader can interpret the per-run times correctly. */
  val MemoizedQueries: Set[String] =
    Set("d06_minhash_lsh", "d14_dedup_components", "d19_jaccard_prefix",
      "d60_containment_prefix", "d93_dedup_best_keeper")
}
