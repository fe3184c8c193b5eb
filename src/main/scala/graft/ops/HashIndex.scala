package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Persisted content-hash index — the incremental EXACT-dedup
  * counterpart of the one-shot [[TextOps.dedupExact]] batch operator:
  * hash the corpus once, persist (hash, keeper id) facts, then answer
  * "have I seen this text before, and who owns it" for each arriving
  * batch without re-reading corpus text. The hash is the same
  * md5-of-text d01 groups by, so index answers and the one-shot
  * operator agree exactly (and a DuckDB oracle can adjudicate them).
  *
  * On-disk layout (parquet):
  *   <dir>/hashes/ingest_batch=B/  (content_hash STRING, doc_id BIGINT)
  *   <dir>/bloom/ingest_batch=B/   (bloom BINARY, capacity BIGINT, fpp DOUBLE)
  * one row per INDEXED DOCUMENT (not per distinct hash): the keeper for
  * a hash is min(doc_id) over all rows, which makes batches ADDITIVE —
  * an append never has to read or rewrite earlier batches' rows, and
  * any subset union of batches serves correct keepers. Writes follow
  * the [[IndexCommit]] protocol (idempotent per-batch partitions,
  * commit marker, fail-closed reads).
  *
  * The `bloom` sidecar carries ONE Bloom filter per ingest batch over
  * `xxhash64(content_hash)`. Same-config Bloom filters merge by bitwise
  * OR, so the sidecar is additive exactly like the hash table, and a
  * probe can reconstitute the whole corpus's membership sketch from
  * #batches bounded-size rows. [[dedupAgainstBloom]] uses it to answer
  * the common incremental case — a small delta arriving against a huge
  * indexed base — without the base ever joining the bloom-negative
  * rows: a Bloom filter has NO false negatives, so "bloom says unseen"
  * is proof of novelty, and only the fpp-sized sliver of false
  * positives (plus the true duplicates) pays the exact join. The
  * filter's quality knobs ([[BloomCapacity]]/[[BloomFpp]]) affect ONLY
  * that sliver's size, never correctness: an overfilled filter degrades
  * toward admitting everything (= plain [[dedupAgainst]]), not toward
  * wrong answers.
  *
  * Scale notes:
  *  - the probe is ONE equi-join on a 16-byte-entropy key (md5 hex) —
  *    uniformly distributed by construction, so no salting is ever
  *    needed; at warehouse scale store `hashes` BUCKETed BY
  *    content_hash so repeated probe batches shuffle alone;
  *  - the per-hash min(doc_id) rollup happens probe-side AFTER the
  *    semi-join-sized candidate set is formed, partial-aggregated, so
  *    the shuffle carries distinct matched hashes, not indexed rows;
  *  - serving never materializes the index driver-side; the index is
  *    only ever the build side of a distributed join. The ONE exception
  *    is the merged Bloom sketch, whose size is a pure function of the
  *    (capacity, fpp) knobs — 1 MiB/batch at the defaults — never of
  *    corpus size, and whose reconstitution is guarded by an explicit
  *    batch-count bound ([[MaxBloomBatches]]; compaction resets it).
  */
object HashIndex extends PersistedIndex {

  /** Default per-batch Bloom capacity (distinct hashes the filter is
    * sized for). A batch larger than this still indexes correctly —
    * its filter just saturates toward pass-through. ~1 MiB at 3% fpp. */
  val BloomCapacity: Long = 1L << 20

  /** Default per-batch Bloom false-positive rate. */
  val BloomFpp: Double = 0.03

  /** Refuse to reconstitute a merged filter from more than this many
    * batch rows (the one driver-side materialization — bounded by
    * write count, not corpus; compactTo folds them back to one). */
  val MaxBloomBatches: Int = 4096

  private def hashed(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("content_hash"), col("doc_id"))

  /** Lifecycle is [[PersistedIndex]]'s: content hashes, then the bloom
    * sidecar sketched from the parquet JUST WRITTEN — a narrow long
    * re-read of the compact hash column, cheaper than re-hashing the
    * batch text (and by construction exactly the rows that landed). */
  protected def batchTables: Seq[BatchTable] = Seq(
    BatchTable(IndexCommit.TableSpec("hashes"),
      (docs, _, _) => hashed(docs)),
    BatchTable(IndexCommit.TableSpec("bloom"),
      (docs, dir, batchId) => {
        val spark = docs.sparkSession
        val bloom = buildBloom(Tables.parquet(spark, s"$dir/hashes")
          .where(col(IndexCommit.BatchCol) === batchId))
        import spark.implicits._
        Seq((bloom, BloomCapacity, BloomFpp)).toDF("bloom", "capacity", "fpp")
      },
      singleFile = true))

  /** One serialized Bloom filter over `xxhash64(content_hash)` of the
    * given index rows. Built with a per-partition filter + driver OR
    * (treeAggregate) — the standard distributed-sketch shape: each
    * executor touches its own partition once and ships a fixed-size
    * bitset, never rows. */
  private def buildBloom(idxRows: DataFrame): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val hs = idxRows.select(xxhash64(col("content_hash")).as("h"))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong)
    val filter = hs.rdd.treeAggregate(BloomFilter.create(BloomCapacity, BloomFpp))(
      (f, h) => { f.putLong(h); f },
      (a, b) => { a.mergeInPlace(b); a })
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    bos.toByteArray
  }

  /** Reconstitute the corpus-wide membership sketch: OR-merge every
    * batch's filter. Bounded driver work — #batches rows of a fixed,
    * config-determined size (guarded, see [[MaxBloomBatches]]). */
  private[graft] def mergedBloom(spark: SparkSession,
      dir: String): org.apache.spark.util.sketch.BloomFilter = {
    import org.apache.spark.util.sketch.BloomFilter
    val rows = Tables.parquet(spark, s"$dir/bloom")
      .select(col("bloom"), col("capacity"), col("fpp")).collect()
    require(rows.nonEmpty, s"mergedBloom: $dir/bloom holds no batches")
    require(rows.length <= MaxBloomBatches,
      s"mergedBloom: ${rows.length} bloom batches exceed MaxBloomBatches=" +
      s"$MaxBloomBatches — compactTo the index to fold them into one")
    val configs = rows.map(r => (r.getLong(1), r.getDouble(2))).distinct
    require(configs.length == 1,
      s"mergedBloom: mixed bloom configs ${configs.mkString(", ")} cannot " +
      "be OR-merged (different bit widths) — compactTo or rebuild the index")
    rows.iterator
      .map(r => BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0))))
      .reduce { (a, b) => a.mergeInPlace(b); a }
  }

  /** Rewrite a fragmented index as a single-generation snapshot under
    * `dst` — see [[IndexCommit.compactTo]]. The accumulated per-batch
    * bloom rows are additionally FOLDED into one OR-merged row, so
    * compaction resets the [[MaxBloomBatches]] budget as well as the
    * file fan-out. Crash-safe: the fold is a second guarded write over
    * `dst` — an interruption leaves `dst` either unmarked (fail-closed)
    * or marked with the still-correct per-batch rows. */
  override protected def compactExtra(spark: SparkSession, dst: String): Unit = {
    val folded = mergedBloom(spark, dst)
    // preserve the SOURCE config — the merged bitset has its width
    val cfg = Tables.parquet(spark, s"$dst/bloom")
      .select(col("capacity"), col("fpp")).head()
    val bos = new java.io.ByteArrayOutputStream()
    folded.writeTo(bos)
    import spark.implicits._
    IndexCommit.withGuard(spark, dst) {
      IndexCommit.stamped(
        Seq((bos.toByteArray, cfg.getLong(0), cfg.getDouble(1)))
          .toDF("bloom", "capacity", "fpp"),
        -1L)
        .coalesce(1)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "static")
        .partitionBy(IndexCommit.BatchCol).parquet(s"$dst/bloom")
    }
  }

  /** Answer exact-dedup for an arriving batch against the indexed
    * corpus: (doc_id, content_hash, dup_of, is_new) — `dup_of` is the
    * smallest indexed doc_id sharing the text's hash (NULL when the
    * text was never indexed), `is_new` its null-flag. One row per input
    * document. Matches [[TextOps.dedupExact]]'s keeper rule restricted
    * to the indexed side, so an oracle over the split corpus gates it. */
  def dedupAgainst(spark: SparkSession, newDocs: DataFrame, dir: String): DataFrame = {
    IndexCommit.requireCommitted(spark, dir, "dedupAgainst")
    val idx = Tables.parquet(spark, s"$dir/hashes")
      .select(col("content_hash"), col("doc_id"))
    val probe = hashed(newDocs)
    // candidate rows first (semi-join-sized), THEN the min rollup: the
    // keeper shuffle carries only distinct matched hashes
    val keepers = idx
      .join(probe.select(col("content_hash")).distinct(), Seq("content_hash"),
        "left_semi")
      .groupBy(col("content_hash")).agg(min(col("doc_id")).as("dup_of"))
    probe.join(keepers, Seq("content_hash"), "left")
      .select(col("doc_id"), col("content_hash"), col("dup_of"),
        col("dup_of").isNull.as("is_new"))
  }

  /** [[dedupAgainst]] with the Bloom sidecar as a probe pre-filter —
    * identical output (the filter has no false negatives), but only the
    * bloom-POSITIVE probe rows reach the index join: bloom-negatives
    * are proven new by the sketch alone and short-circuit to
    * `is_new = true` without the base index scanning, shuffling, or
    * joining for them. This is the shape that matters when the delta is
    * small and the base is 100 TB — the membership question is answered
    * by a broadcast-sized bitset, and the exact join runs over
    * |true dups| + fpp·|delta| rows instead of |delta|.
    *
    * The sketch evaluation is a Scala closure over the broadcast filter
    * rather than a codegen'd expression by intent: the state (a
    * megabyte-scale deserialized bitset) is not expressible as a SQL
    * literal, the call runs once per DELTA row (never per corpus row),
    * and the join it prunes dwarfs the boundary cost. */
  def dedupAgainstBloom(spark: SparkSession, newDocs: DataFrame, dir: String): DataFrame = {
    IndexCommit.requireCommitted(spark, dir, "dedupAgainstBloom")
    // a committed index written before the bloom sidecar existed passes
    // requireCommitted but has no <dir>/bloom table; surface that as a
    // protocol-level message instead of a raw path-not-found
    // AnalysisException from the parquet reader
    val bloomPath = new org.apache.hadoop.fs.Path(s"$dir/bloom")
    val fs = bloomPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(bloomPath),
      s"dedupAgainstBloom: $dir has no bloom sidecar — the index predates " +
      "the bloom protocol. Use dedupAgainst (same output, no pre-filter), " +
      "or re-save / compactTo the index to materialize the sidecar.")
    val bc = spark.sparkContext.broadcast(mergedBloom(spark, dir))
    val maybeSeen = udf((h: Long) => bc.value.mightContainLong(h))
    val probe = hashed(newDocs)
      .withColumn("maybe_seen", maybeSeen(xxhash64(col("content_hash"))))
    val novel = probe.where(!col("maybe_seen"))
      .select(col("doc_id"), col("content_hash"),
        lit(null).cast(LongType).as("dup_of"), lit(true).as("is_new"))
    val candidates = probe.where(col("maybe_seen"))
    val idx = Tables.parquet(spark, s"$dir/hashes")
      .select(col("content_hash"), col("doc_id"))
    val keepers = idx
      .join(candidates.select(col("content_hash")).distinct(), Seq("content_hash"),
        "left_semi")
      .groupBy(col("content_hash")).agg(min(col("doc_id")).as("dup_of"))
    candidates.join(keepers, Seq("content_hash"), "left")
      .select(col("doc_id"), col("content_hash"), col("dup_of"),
        col("dup_of").isNull.as("is_new"))
      .unionByName(novel)
  }

  // ---- driver binding --------------------------------------------------

  /** Per-(session, sfDir, split) saved index — d82 indexes the even
    * half and probes the odd; d101 indexes the mod-3-zero third and
    * bloom-probes the rest (the d46/d49 persisted-model memo pattern;
    * directories die with the session). */
  private val dirMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), String]()

  private def savedDir(s: SparkSession, d: String, split: String)(
      base: DataFrame => DataFrame): String = {
    val k = (s, d, split)
    val hit = dirMemo.get(k)
    if (hit != null) hit
    else {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-hash-$split").toString
      save(base(documents(s, d)), dir)
      val prev = dirMemo.putIfAbsent(k, dir)
      if (prev != null) { Corpus.deleteRecursively(dir); prev }
      else {
        graft.Sessions.onStopOnce(s, "hashindex-dirs") { () =>
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

  val MemoizedQueries: Set[String] = Set("d82_dedup_indexed", "d101_dedup_bloom")

  def queries: Seq[Q] = Seq(
    Q("d82_dedup_indexed",
      (s, d) => dedupAgainst(s,
        documents(s, d).where(col("doc_id") % 2 === 1),
        savedDir(s, d, "even")(_.where(col("doc_id") % 2 === 0))),
      Some("""WITH o AS (SELECT doc_id, md5(text) AS h FROM documents
             |           WHERE doc_id % 2 = 0),
             |n AS (SELECT doc_id, md5(text) AS h FROM documents
             |      WHERE doc_id % 2 = 1),
             |m AS (SELECT h, min(doc_id) AS dup_of FROM o GROUP BY 1)
             |SELECT n.doc_id, n.h AS content_hash, m.dup_of,
             |       m.dup_of IS NULL AS is_new
             |FROM n LEFT JOIN m USING (h)""".stripMargin)),

    // d101: the same incremental exact-dedup answer served through the
    // Bloom sidecar. The output is IDENTICAL to an oracle that knows
    // nothing about Bloom filters — membership sketching can only
    // re-route rows (negatives skip the join, positives take it), never
    // change an answer — which is exactly what makes it hash-gateable.
    Q("d101_dedup_bloom",
      (s, d) => dedupAgainstBloom(s,
        documents(s, d).where(col("doc_id") % 3 =!= 0),
        savedDir(s, d, "mod3")(_.where(col("doc_id") % 3 === 0))),
      Some("""WITH o AS (SELECT doc_id, md5(text) AS h FROM documents
             |           WHERE doc_id % 3 = 0),
             |n AS (SELECT doc_id, md5(text) AS h FROM documents
             |      WHERE doc_id % 3 <> 0),
             |m AS (SELECT h, min(doc_id) AS dup_of FROM o GROUP BY 1)
             |SELECT n.doc_id, n.h AS content_hash, m.dup_of,
             |       m.dup_of IS NULL AS is_new
             |FROM n LEFT JOIN m USING (h)""".stripMargin)))
}
