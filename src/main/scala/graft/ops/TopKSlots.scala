package graft.ops

/** The exact top-k selection order of every similarity kernel, and a
  * bounded buffer that keeps the first k (sim, id) pairs under it.
  *
  * The order is sim DESC under `java.lang.Double.compare`, ties to the
  * lower id, after −0.0 is normalized to 0.0. Three reasons:
  *  - NaN must rank GREATEST. That is both Spark's and DuckDB's sort
  *    order, hence the oracle's `row_number`. Primitive NaN comparisons
  *    are all false and would silently rank NaN last. NaN sims come from
  *    zero-norm vectors (0/0 cosine) that an exact baseline must still
  *    rank like the oracle does.
  *  - −0.0 and 0.0 are equal to both engines but ordered by
  *    `Double.compare`, so −0.0 becomes 0.0 before comparing. A dot
  *    below zero that is tiny against huge norms divides to −0.0.
  *  - Ties to the lower id make the order total, so selection is
  *    independent of partition and arrival order, and top-k of a union
  *    equals top-k of the per-part top-k.
  *
  * [[TopKAgg]] keeps its own immutable, encoder-backed buffer but takes
  * [[TopKSlots.normalize]] and [[TopKSlots.position]] from here; the
  * primitive kernels (cosine, IVF, d171 and PQ ADC) fill a `TopKSlots`.
  * The buffer does not dedup ids: the kernels score each candidate once.
  */
final class TopKSlots(k: Int) {
  require(k >= 1, s"need k >= 1, got $k")
  private val sims = new Array[Double](k)
  private val ids = new Array[Long](k)
  private var n = 0

  /** Number of kept pairs, at most k. */
  def size: Int = n
  /** Sim at rank p (0-based), normalized. */
  def sim(p: Int): Double = sims(p)
  /** Id at rank p (0-based). */
  def id(p: Int): Long = ids(p)
  /** The kth kept sim: the value a new pair must reach to enter. Only
    * meaningful once `size == k`. */
  def kth: Double = sims(k - 1)

  /** Drops every kept pair, for a buffer reused across queries. */
  def clear(): Unit = n = 0

  /** Keeps (sim, id) if it ranks among the first k seen so far. */
  def offer(sim0: Double, id: Long): Unit = {
    val sim = TopKSlots.normalize(sim0)
    val pos = TopKSlots.position(sims, ids, n, sim, id)
    if (pos < k) {
      var q = math.min(n, k - 1)
      while (q > pos) { sims(q) = sims(q - 1); ids(q) = ids(q - 1); q -= 1 }
      sims(pos) = sim
      ids(pos) = id
      if (n < k) n += 1
    }
  }
}

object TopKSlots {
  /** −0.0 → 0.0; every other value, NaN included, unchanged. */
  @inline def normalize(sim: Double): Double = if (sim == 0.0) 0.0 else sim

  /** True when normalized (sim, id) ranks strictly before (s2, i2). */
  @inline def precedes(sim: Double, id: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(sim, s2)
    c > 0 || (c == 0 && id < i2)
  }

  /** Insertion position of normalized (sim, id) in the first `n` entries
    * of `sims`/`ids`, which are sorted under the order above. */
  def position(sims: Array[Double], ids: Array[Long], n: Int,
      sim: Double, id: Long): Int = {
    var pos = n
    while (pos > 0 && precedes(sim, id, sims(pos - 1), ids(pos - 1))) pos -= 1
    pos
  }
}
