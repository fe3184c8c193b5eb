package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** Persisted line document-frequency index — the incremental serving
  * form of d95's boilerplate removal (the [[HashIndex]] of the line
  * family): count each non-blank line's distinct-document frequency
  * once, persist the additive facts, then scrub arriving batches
  * against the FROZEN counts without recounting the corpus. This is how
  * CCNet actually runs the stage at scale: line/paragraph hashes are
  * counted over sharded snapshots, and the drop decision for any shard
  * reads the precomputed counts.
  *
  * On-disk layout (parquet):
  *   <dir>/linedf/ingest_batch=B/  (line_hash STRING, df BIGINT)
  *   <dir>/docids/ingest_batch=B/  (doc_id BIGINT)
  * `linedf` carries each batch's PER-BATCH distinct-document counts
  * ([[Curation.lineDocFreq]]'s fact): across document-disjoint batches
  * the total df is the plain SUM, so an append writes only its own
  * counts and never rewrites earlier batches. `docids` exists solely to
  * enforce that disjointness contract (the [[IndexCommit.requireDisjoint]]
  * check — an overlapping batch would double-count its lines). Writes
  * follow the [[IndexCommit]] protocol (idempotent per-batch
  * partitions, commit marker, fail-closed reads).
  *
  * Scale notes:
  *  - the index stores md5 hashes, never line text: shuffle and storage
  *    are 16-byte-entropy keys regardless of line width (the d06
  *    `hashGrams` trade), and the scrub's anti-join probes by the same
  *    hash;
  *  - serving aggregates `linedf` by hash (distinct-line-width shuffle)
  *    and feeds only the ABOVE-THRESHOLD survivors — few distinct
  *    strings by boilerplate's nature — into the broadcast anti-join;
  *  - the index is never materialized driver-side. */
object LineIndex extends PersistedIndex {

  /** Lifecycle is [[PersistedIndex]]'s: per-batch line doc-frequency
    * facts (additive across DOCUMENT-disjoint batches — re-counting a
    * doc would double its lines, hence the docids disjointness table).
    * Compaction keeps per-original-batch linedf rows (they stay
    * additive); only the partition layout collapses. */
  protected def batchTables: Seq[BatchTable] = Seq(
    BatchTable(IndexCommit.TableSpec("linedf"),
      (docs, _, _) => Curation.lineDocFreq(docs)),
    BatchTable(IndexCommit.TableSpec("docids"),
      (docs, _, _) => docs.select(col("doc_id")).distinct()))

  override protected def disjointTable: String = "docids"

  /** Total distinct-document frequency per line hash across all indexed
    * batches — (line_hash, df), the frozen counts [[scrubAgainst]]
    * serves from. */
  def lineDocFreq(spark: SparkSession, dir: String): DataFrame = {
    IndexCommit.requireCommitted(spark, dir, "lineDocFreq")
    Tables.parquet(spark, s"$dir/linedf")
      .groupBy(col("line_hash")).agg(sum(col("df")).cast("long").as("df"))
  }

  /** Scrub `docs` against the indexed counts — d95's drop rule under
    * the FROZEN corpus statistics (arriving batches don't shift the
    * boilerplate set, and the corpus is never recounted). When `docs`
    * is exactly the indexed corpus this equals
    * [[Curation.boilerplateScrub]] — the d97 gate. */
  def scrubAgainst(spark: SparkSession, docs: DataFrame, dir: String,
      maxDocFreq: Long = 2): DataFrame =
    Curation.boilerplateScrubFrom(docs, lineDocFreq(spark, dir), maxDocFreq)

  // ---- driver binding --------------------------------------------------

  /** Per-(session, sfDir) saved index over the planted multi-line
    * fixture corpus — d97 scrubs the SAME corpus against it, which must
    * reproduce d95's direct computation exactly (the d39/d75/d82
    * persisted-index gate pattern; directories die with the session). */
  private val dirMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def savedDir(s: SparkSession, d: String): String = {
    val k = (s, d)
    val hit = dirMemo.get(k)
    if (hit != null) hit
    else {
      val dir = java.nio.file.Files.createTempDirectory("graft-linedf-q").toString
      save(Curation.plantedBoilerplate(documents(s, d)), dir)
      val prev = dirMemo.putIfAbsent(k, dir)
      if (prev != null) { Corpus.deleteRecursively(dir); prev }
      else {
        graft.Sessions.onStopOnce(s, "lineindex-dirs") { () =>
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

  val MemoizedQueries: Set[String] = Set("d97_boilerplate_indexed")

  def queries: Seq[Q] = Seq(
    // d97: d95 served from the persisted additive line-df index — save
    // (run 1) then scrub the same fixture corpus; hash-gated by d95's
    // oracle verbatim, proving the index round trip (per-batch counts,
    // sum-on-read, hash-keyed anti-join) preserves the direct
    // computation exactly.
    Q("d97_boilerplate_indexed",
      (s, d) => scrubAgainst(s,
        Curation.plantedBoilerplate(documents(s, d)), savedDir(s, d)),
      Some(Curation.BoilerplateOracle)))
}
