package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Shared lifecycle of the persisted index families: the document-keyed
  * Lex/Lm/Hash/Line/Gram/Phrase/SimHash and the basket-keyed Edge and
  * TemporalEdge (r09 verdict ask #8). Before this trait each family
  * re-declared save/append/writeBatch/compactTo around [[IndexCommit]]
  * (~40 near-identical methods repo-wide), so a lifecycle fix (the r10
  * qualified-path compaction guard) had to be found and applied once
  * per family. Now the behavior is written once and each family
  * declares only its DATA: an ordered [[BatchTable]] layout — table
  * spec, per-batch fact builder, write shaping — plus optional hooks.
  *
  * The protocol (unchanged — PersistedIndexSpec gates it once for all
  * families, the per-family specs keep gating their serving paths):
  *  - [[save]]: full rebuild, batch −1, static overwrite of all tables.
  *  - [[append]]: next free batch id from the LEAD table's directory
  *    listing; optional disjointness check of the arriving ids against
  *    the lead table; dynamic overwrite = replaying a failed batch id
  *    replaces its own partitions idempotently.
  *  - every multi-table write is bracketed by the [[IndexCommit]]
  *    marker: readers fail closed on an interrupted write.
  *  - [[compactTo]]: generation rewrite into a DIFFERENT directory
  *    (qualified-path-checked) via [[IndexCommit.compactTo]], plus a
  *    per-family [[compactExtra]] (HashIndex folds its bloom sidecar);
  *    families whose compaction is a semantic MERGE rather than a
  *    restamp (LmIndex sums counts, GramIndex dedups grams) override
  *    [[compactTo]] inside the shared [[compactGuarded]] bracket.
  */
trait PersistedIndex {

  /** One persisted table: its [[IndexCommit.TableSpec]] (name +
    * partition columns, reused verbatim by compaction), how to build a
    * batch's rows — `build(docs, dir, batchId)` may read BACK a table
    * written earlier in the same guard (Lex derives docstats, Hash its
    * bloom from the just-written parquet, so the expensive doc pass
    * runs once) — and write shaping:
    * `clusterWrite` repartitions by the partition columns so each
    * write task hits one directory (64-bucket posting layouts);
    * `singleFile` coalesces to one file (HashIndex's driver-built bloom
    * rows). */
  protected final case class BatchTable(
      spec: IndexCommit.TableSpec,
      build: (DataFrame, String, Long) => DataFrame,
      clusterWrite: Boolean = false,
      singleFile: Boolean = false)

  /** Ordered table layout; the FIRST table allocates batch ids and is
    * the disjointness target. */
  protected def batchTables: Seq[BatchTable]

  /** Id column checked by `append(checkDisjoint = true)`; None =
    * set-semantics family (Gram — duplicate facts are harmless by
    * construction), the check is then a no-op. */
  protected def disjointIdCol: Option[String] = Some("doc_id")

  /** Table the disjointness semi-join probes — the lead table by
    * default; families with a narrow per-doc side table (Lex docstats,
    * Line/Phrase docids, Lm docs) point here so the check scans ids,
    * not the fact table. */
  protected def disjointTable: String = leadTable

  private def leadTable: String = batchTables.head.spec.name

  /** Build the index from scratch (full rebuild semantics). */
  def save(docs: DataFrame, dir: String): Unit =
    writeBatch(docs, dir, batchId = -1L, overwriteAll = true)

  /** Incrementally index an additional batch under its own
    * `ingest_batch` partitions. Batch ids allocate from the DISJOINT
    * table's partition listing, not the lead fact table's: a fact
    * table can legitimately write ZERO rows for a non-empty batch
    * (an edge family's all-singleton basket batch produces no pairs),
    * which leaves no `ingest_batch=B` partition behind — allocating
    * from it would then reuse B and dynamic overwrite would CLOBBER
    * the id/claim partitions the earlier batch did write (found by
    * TemporalEdgeIndexSpec's fragmentation property test). The
    * disjoint table records >= 1 row for every non-empty batch by
    * construction; for the doc-keyed families it IS the lead table,
    * so nothing changes there. */
  def append(docs: DataFrame, dir: String, checkDisjoint: Boolean = false): Unit = {
    // torn-write admission (r16 advice, medium — the append side):
    // an existing index with NO commit marker means an earlier write
    // crashed between table commits; appending a NEW batch id on top
    // would absorb the torn batch's partial tables and then re-create
    // the marker over them. Only a same-id replay can repair that
    // (a [[writeBatch]] of the torn batch id) — append always allocates
    // a fresh id, so it must fail closed here. The probe
    // checks EVERY batch table, not just the disjoint table (r17
    // advice, medium): tables commit in [[batchTables]] order, so a
    // crash after the lead fact table but before the disjoint table
    // leaves orphaned fact partitions with no disjoint table at all —
    // a disjoint-table-only probe would skip the check, allocate a
    // fresh id, and restore the marker over the orphans.
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (batchTables.exists(bt =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/${bt.spec.name}"))))
      IndexCommit.requireCommitted(spark, dir, "append")
    if (checkDisjoint)
      disjointIdCol.foreach(c =>
        IndexCommit.requireDisjoint(docs, s"$dir/$disjointTable", c))
    writeBatch(docs, dir,
      IndexCommit.nextBatchId(docs.sparkSession, s"$dir/$disjointTable"),
      overwriteAll = false)
  }

  /** One write batch under the [[IndexCommit]] protocol. */
  private[graft] def writeBatch(docs: DataFrame, dir: String, batchId: Long,
      overwriteAll: Boolean): Unit = {
    val spark = docs.sparkSession
    val mode = IndexCommit.overwriteMode(overwriteAll)
    IndexCommit.withGuard(spark, dir) {
      batchTables.foreach { bt =>
        val out = IndexCommit.stamped(bt.build(docs, dir, batchId), batchId)
        val shaped =
          if (bt.singleFile) out.coalesce(1)
          else if (bt.clusterWrite && bt.spec.partitionCols.nonEmpty)
            out.repartition(bt.spec.partitionCols.map(col): _*)
          else out
        shaped.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", mode)
          .partitionBy((IndexCommit.BatchCol +: bt.spec.partitionCols): _*)
          .parquet(s"$dir/${bt.spec.name}")
      }
    }
  }

  /** Rewrite a fragmented index (one `ingest_batch=B` partition per
    * past batch) as a single-generation snapshot under `dst` — see
    * [[IndexCommit.compactTo]] for the crash-safety/serving model. */
  def compactTo(spark: SparkSession, src: String, dst: String): Unit = {
    IndexCommit.compactTo(spark, src, dst, batchTables.map(_.spec))
    compactExtra(spark, dst)
  }

  /** Post-copy compaction hook (second guarded write over `dst`). */
  protected def compactExtra(spark: SparkSession, dst: String): Unit = ()

  /** Shared bracket for compactTo overrides that MERGE instead of
    * restamp: committed-source check, qualified-path src != dst guard,
    * marker guard around `body`'s writes into `dst`, then the
    * supersession mark on `src` (AFTER dst's commit marker lands) so
    * [[retire]] can GC the old generation. */
  protected final def compactGuarded(spark: SparkSession, src: String,
      dst: String)(body: => Unit): Unit = {
    IndexCommit.requireCommitted(spark, src, "compactTo")
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(fs.makeQualified(new org.apache.hadoop.fs.Path(src)) !=
      fs.makeQualified(new org.apache.hadoop.fs.Path(dst)),
      "compactTo: dst must be a DIFFERENT directory — an in-place rewrite " +
      "would overwrite the files it is reading")
    IndexCommit.withGuard(spark, dst)(body)
    IndexCommit.markSuperseded(spark, src, dst)
  }

  /** Delete a generation a completed [[compactTo]] superseded — refuses
    * un-superseded directories and refuses while the recorded successor
    * is uncommitted (see [[IndexCommit.retire]]). The GC step of the
    * snapshot-generation serving model: compact N→N+1, cut readers
    * over, retire N at leisure. */
  def retire(spark: SparkSession, dir: String): Unit =
    IndexCommit.retire(spark, dir)
}
