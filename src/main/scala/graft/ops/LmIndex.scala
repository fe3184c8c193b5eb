package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted incremental unigram LM — the frozen-model counterpart of
  * [[Curation.unigramVocab]]: count the corpus ONCE, persist, then
  * (a) score any later batch against the model
  * ([[Curation.unigramPplAgainst]] over [[vocab]]) and (b) grow the
  * model with new batches WITHOUT re-reading old corpus text — unigram
  * counts are additive, so an append writes only the new batch's
  * (token, cnt) rows and the merged view sums per token at read time.
  *
  * On-disk layout (parquet):
  *   <dir>/counts/ingest_batch=B/  (token, cnt BIGINT)
  *   <dir>/docs/ingest_batch=B/    (doc_id)
  * The docs table exists solely so [[append]] can refuse a batch whose
  * doc_ids were already counted (re-ingesting a doc would silently
  * double-count every one of its tokens — the LM equivalent of the
  * other families' duplicate-id hazard).
  *
  * Writes follow the [[IndexCommit]] protocol: both tables land inside
  * a commit-marker guard (readers fail closed on an interrupted write —
  * counts without their docs would let a replay double-count), and each
  * batch writes idempotently under its own `ingest_batch=B` partition
  * (replaying a failed batch replaces its partial output).
  *
  * Scale notes: a batch write shuffles only that BATCH's token counts
  * (partial-combined, vocab-sized output); [[vocab]] re-aggregates
  * per-batch counts at read time — |batches| x |vocab| rows in, |vocab|
  * out, never corpus-sized. [[compactTo]] merges the accumulated
  * batches into a single generation when the batch fan-out grows.
  */
object LmIndex extends PersistedIndex {

  /** Lifecycle is [[PersistedIndex]]'s: per-batch token counts plus the
    * doc-id side table (which exists solely so `append(checkDisjoint =
    * true)` can refuse already-counted docs). */
  protected def batchTables: Seq[BatchTable] = Seq(
    BatchTable(IndexCommit.TableSpec("counts"),
      (docs, _, _) => Curation.tokenCounts(docs)),
    BatchTable(IndexCommit.TableSpec("docs"),
      (docs, _, _) => docs.select(col("doc_id"))))

  override protected def disjointTable: String = "docs"

  /** The merged (token, cnt) view of all ingested batches. */
  def counts(spark: SparkSession, dir: String): DataFrame = {
    IndexCommit.requireCommitted(spark, dir, "counts")
    Tables.parquet(spark, s"$dir/counts")
      .groupBy(col("token")).agg(sum(col("cnt")).as("cnt"))
  }

  /** The scoring-ready model frame (token, cnt, logp) — feed to
    * [[Curation.unigramPplAgainst]]. Smoothing totals are computed over
    * the MERGED counts, so a model grown by appends scores identically
    * to one built from the union corpus in one shot. */
  def vocab(spark: SparkSession, dir: String): DataFrame =
    Curation.vocabFromCounts(counts(spark, dir))

  /** Compact a fragmented model (one `ingest_batch=B` partition per past
    * [[append]]) into a fresh single-generation snapshot at
    * `dst`. Unlike the other families' pure-restamp compaction, counts
    * MERGE (sum per token) — correct because addition is associative,
    * and strictly smaller than restamping. Crash-safe by the marker
    * protocol: an interrupted compaction leaves `dst` unmarked (readers
    * fail closed) and `src` untouched. */
  override def compactTo(spark: SparkSession, src: String, dst: String): Unit =
    compactGuarded(spark, src, dst) {
      IndexCommit.stamped(
          Tables.parquet(spark, s"$src/counts")
            .groupBy(col("token")).agg(sum(col("cnt")).as("cnt")), -1L)
        .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "static")
        .partitionBy(IndexCommit.BatchCol).parquet(s"$dst/counts")
      IndexCommit.stamped(
          Tables.parquet(spark, s"$src/docs").drop(IndexCommit.BatchCol), -1L)
        .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "static")
        .partitionBy(IndexCommit.BatchCol).parquet(s"$dst/docs")
    }
}
