package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Fuzzy record linkage — the blocked pairwise-matching operator behind
  * entity resolution, catalog reconciliation, and dirty-dimension
  * cleanup. The reference resolves dimensions by EXACT canonical keys
  * (SURVEY.md §2A E1–E4, `populate_db_ru_v1.py` get-or-create); this is
  * the approximate sibling a 100 TB warehouse needs when keys are typed
  * by humans.
  *
  * The scale discipline is the same as the dedup family's: NEVER score
  * all pairs. Candidates only materialize inside a block (cheap
  * deterministic key both records share), are pruned by the length band
  * the edit-distance bound implies (|len(a) − len(b)| > maxDist can
  * never match — the PPJoin-style filter, applied before the expensive
  * comparator), and only then pay the O(len²) Levenshtein. The best
  * match per record is an integer-encoded argmin, so the result is
  * deterministic and oracle-replayable.
  */
object Linkage {

  /** Encoding base for the (dist, id) argmin: dist·1e12 + id is a single
    * long, exact while ids stay below 1e12 and dist below ~9e6. */
  private val IdBase = 1000000000000L

  /** Best fuzzy match per record (d130). In: (rec_id, name). Out: one
    * row per input record — (rec_id, name, match_id, match_dist), with
    * NULLs where no other record matches within maxDist edits.
    *
    * Match = the candidate with minimal (edit distance, rec_id); ties
    * break on the lower id, so the output is a pure function of the
    * input set. Blocking key: the last whitespace token, lower-cased —
    * swap in a phonetic or q-gram blocker for other domains; the shape
    * (equi-join on the block key) is what matters at scale.
    *
    * Scale: candidate pairs are bounded two ways so the quadratic term
    * can never run away with corpus size:
    *  1. Length BANDS — each record lands in band len div (maxDist+1).
    *     A pair within maxDist edits differs by <= maxDist characters of
    *     length, so its bands differ by at most 1; the probe side
    *     explodes to {band-1, band, band+1} and the join key is
    *     (blk, band). Lossless (every in-range pair is still seen, each
    *     exactly once — the candidate side keeps its own band) and it
    *     splits a popular block by length for free.
    *  2. A deterministic occupancy CAP — the candidate side of each
    *     (blk, band) cell keeps only the blockCap lowest rec_ids
    *     (row_number, the LSH family's bounded-occupancy discipline).
    *     Candidates per record <= 3·blockCap, so total pair volume is
    *     LINEAR in corpus size no matter how skewed the blocks. Below
    *     the cap the result is exact; above it, matching degrades
    *     gracefully to "against the cell's blockCap canonical
    *     representatives" (every record still probes; only high-id
    *     candidates in overfull cells stop being matchable).
    * Then the length-band prune, the Levenshtein computed ONCE as a
    * projected column, and the maxDist threshold folded INTO the argmin
    * (min over when(dist <= maxDist, enc)) rather than a separate filter
    * — a filter on the projected column would be predicate-pushed below
    * the projection and re-inline the O(len²) comparator a second time;
    * the conditional aggregate keeps it single-evaluation per candidate
    * row. One rec-keyed min, one join back to the records frame. No
    * sort, no driver state; the one window (the cap's row_number) is
    * keyed by cell, never global. */
  /** The banded records frame shared by probe and candidate sides. */
  private def banded(records: DataFrame, maxDist: Int): DataFrame =
    records.toDF("rec_id", "name")
      .withColumn("blk", lower(regexp_extract(col("name"), "([^ ]+)$", 1)))
      .withColumn("band", expr(s"length(name) div ${maxDist + 1}"))

  /** The candidate frame the blocking discipline materializes BEFORE the
    * Levenshtein comparator runs — (rec_id, name, b_id, b_name), one row
    * per surviving (probe, candidate) pair. Public so a scale probe can
    * COUNT it directly: the cap bounds candidates per record at
    * 3·blockCap, so this frame's size is provably linear in the corpus
    * (the former `ScaleSmoke` harness's linkage probe measured exactly
    * that on a 10× skewed-block name corpus). */
  def candidateFrame(records: DataFrame, maxDist: Int = 3,
                     blockCap: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = banded(records, maxDist)
    val b = r
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("blk"), col("band")).orderBy(col("rec_id"))))
      .where(col("rk") <= blockCap)
      .select(col("rec_id").as("b_id"), col("name").as("b_name"),
        col("blk"), col("band"))
    // EXPLICIT pinned-count repartition on the join key: this join is
    // explosive (tiny inputs, huge output — ~60 k probe rows fan out to
    // 24.5 M candidate pairs at sf0.1), and AQE coalesces shuffles by
    // INPUT size, so left to itself it collapses the ~2 MB pre-join
    // exchange to one partition and the entire Levenshtein pass runs
    // single-threaded (measured: 14.6 s warm for the comparator alone).
    // A user-specified numPartitions is exempt from AQE coalescing, and
    // since a join can only coalesce both sides together, pinning the
    // probe side keeps the whole join at full width — the downstream
    // rec_id aggregation still partial-aggregates map-side, so no extra
    // corpus-width shuffle is introduced at any scale.
    val n = records.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val a = r.select(col("rec_id"), col("name"), col("blk"),
      explode(array(col("band") - 1, col("band"), col("band") + 1)).as("band"))
      .repartition(n, col("blk"), col("band"))
    a.join(b, Seq("blk", "band"))
      .where(col("rec_id") =!= col("b_id") &&
        abs(length(col("name")) - length(col("b_name"))) <= maxDist)
      .select(col("rec_id"), col("name"), col("b_id"), col("b_name"))
  }

  def bestMatches(records: DataFrame, maxDist: Int = 3,
                  blockCap: Int = 1024): DataFrame = {
    val r = banded(records, maxDist)
    // thresholded Levenshtein: the banded DP early-exits once the
    // distance provably exceeds maxDist (returns -1), O(len·maxDist)
    // per pair instead of O(len²) — the comparator is the dominant
    // per-pair cost, and every distance beyond maxDist is discarded by
    // the argmin anyway (A/B at sf0.1 over the real 24.5 M candidate
    // pairs, 32-way parallel: full-matrix 4.7 s vs thresholded 3.0 s
    // for the comparator pass; end-to-end bestMatches 17.7 s → 4.6 s
    // warm once the repartition above restored parallelism). NOTE:
    // count()-based probes are NOT valid on this plan — count prunes
    // the left join to the unique-keyed aggregate and skips the
    // comparator entirely. -1 (over threshold) is excluded exactly
    // where the full form's `dist <= maxDist` was.
    val best = candidateFrame(records, maxDist, blockCap)
      .withColumn("dist", levenshtein(col("name"), col("b_name"), maxDist))
      .groupBy(col("rec_id"))
      .agg(min(when(col("dist") >= 0,
        col("dist").cast(LongType) * IdBase + col("b_id"))).as("enc"))
    r.select(col("rec_id"), col("name"))
      .join(best, Seq("rec_id"), "left")
      .select(col("rec_id"), col("name"),
        (col("enc") % IdBase).as("match_id"),
        expr(s"enc div ${IdBase}L").as("match_dist"))
  }

  def queries: Seq[Q] = Seq(

    // d130: blocked fuzzy linkage over part names — exact integer
    // distances; the oracle replays block, band, Levenshtein, and the
    // encoded argmin identically (both engines use unit-cost edits).
    Q("d130_record_linkage",
      (s, d) => bestMatches(part(s, d).select(col("p_partkey"), col("p_name"))),
      Some("""WITH r AS (
             |  SELECT p_partkey AS rec_id, p_name AS name,
             |         lower(regexp_extract(p_name, '([^ ]+)$', 1)) AS blk,
             |         length(p_name) // 4 AS band
             |  FROM part),
             |b AS (
             |  SELECT rec_id AS b_id, name AS b_name, blk, band
             |  FROM (SELECT r.*, row_number() OVER (PARTITION BY blk, band ORDER BY rec_id) AS rk FROM r)
             |  WHERE rk <= 1024),
             |a AS (
             |  SELECT r.rec_id, r.name, r.blk, r.band + d.d AS band
             |  FROM r CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) d),
             |cand AS (
             |  SELECT a.rec_id, levenshtein(a.name, b.b_name) AS dist, b.b_id
             |  FROM a JOIN b ON a.blk = b.blk AND a.band = b.band AND a.rec_id <> b.b_id
             |  WHERE abs(length(a.name) - length(b.b_name)) <= 3),
             |best AS (
             |  SELECT rec_id,
             |         CAST(min(CASE WHEN dist <= 3 THEN dist * 1000000000000 + b_id END) AS BIGINT) AS enc
             |  FROM cand GROUP BY 1)
             |SELECT r.rec_id, r.name,
             |       best.enc % 1000000000000 AS match_id,
             |       best.enc // 1000000000000 AS match_dist
             |FROM r LEFT JOIN best USING (rec_id)""".stripMargin)))
}
