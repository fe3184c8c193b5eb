package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index for BM25 lexical retrieval — the lexical
  * analog of [[IvfIndex]] (vectors): tokenize and aggregate the corpus
  * ONCE, then serve arbitrary bag-of-words queries without re-reading
  * the documents.
  *
  * Layout under `dir`:
  *   - `postings/ingest_batch=B/bucket=N/` — (term, doc_id, tf),
  *     partitioned by the write batch and by
  *     `bucket = pmod(xxhash64(term), NumBuckets)`. A search computes its
  *     terms' buckets and reads ONLY those directories (partition
  *     pruning), so query cost scales with the posting lists touched, not
  *     the corpus. Fixed bucket count instead of `partitionBy(term)`
  *     because a corpus-scale vocabulary would mean millions of
  *     directories — the bucket layer keeps the file count bounded while
  *     preserving pruning. The batch level makes every write IDEMPOTENT:
  *     each batch overwrites exactly its own `ingest_batch=B` partitions
  *     (dynamic partition overwrite), so re-running a failed batch
  *     replaces its partial output instead of double-counting it.
  *   - `docstats/ingest_batch=B/` — (doc_id, dl): per-document token
  *     counts, the length-normalization side, derived per batch from the
  *     postings that batch just wrote (dl = sum(tf) by definition — ONE
  *     tokenize + explode pass over the corpus; the read-back aggregates
  *     the far smaller postings table, pruned to the batch's partition).
  *     Read in full at search time (one narrow scan + two scalar
  *     aggregates for n_docs/avgdl); a deployment serving many queries
  *     would cache it.
  *
  * [[append]] adds documents incrementally under the next free batch
  * id; re-running a failed batch id overwrites its own partitions, so
  * the index holds each batch's documents exactly once. Precondition:
  * arriving doc_ids are disjoint from what's already indexed —
  * postings/docstats are keyed facts per doc, so re-adding a doc would
  * double-count it (`append(checkDisjoint = true)` verifies at the cost of a docstats
  * semi-join). Don't run concurrent appends on one index: each
  * allocates a batch id and they could collide.
  *
  * The two tables are two separate parquet commits, so a crash between
  * them would leave postings and docstats describing DIFFERENT corpora —
  * new docs present in tf/df but absent from n_docs/avgdl, silently
  * skewing every other document's BM25 score. Writes therefore follow a
  * marker protocol: drop `_graft_commit`, write both tables, recreate it.
  * [[searchBm25]] refuses (fails closed) when the marker is missing — an
  * interrupted write must be redone (re-run the same batch/append, or
  * rebuild via [[save]]). The marker is absent during each batch's
  * write window; serve queries from a compacted snapshot
  * ([[compactTo]]), not a directory that is being appended to.
  *
  * Search reuses [[Corpus.bm25ScoreFrom]], the exact scoring core of the
  * direct-path d38 query, so indexed results equal the direct computation
  * by construction (LexIndexSpec asserts it; d39 hash-gates it against
  * d38's DuckDB oracle).
  */
object LexIndex extends PersistedIndex {

  /** Directory fan-out of the postings table. 64 keeps listing cheap at
    * test scale; at corpus scale raise it so each bucket's posting files
    * stay within a few HDFS blocks. */
  val NumBuckets = 64

  private def bucketCol = pmod(xxhash64(col("term")), lit(NumBuckets.toLong))

  private def postings(docs: DataFrame): DataFrame =
    Corpus.termStream(docs)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** Lifecycle is [[PersistedIndex]]'s: postings then batch-derived
    * docstats (partition-pruned read-back of the just-written postings
    * — the term pass runs once). Disjointness probes docstats, the
    * narrow per-doc side table. */
  protected def batchTables: Seq[BatchTable] = Seq(
    BatchTable(IndexCommit.TableSpec("postings", Seq("bucket")),
      (docs, _, _) => postings(docs).withColumn("bucket", bucketCol),
      clusterWrite = true),
    BatchTable(IndexCommit.TableSpec("docstats"),
      (docs, dir, batchId) => docs.sparkSession.read.parquet(s"$dir/postings")
        .where(col(IndexCommit.BatchCol) === batchId)
        .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))))

  override protected def disjointTable: String = "docstats"

  /** Top-`k` documents for `terms` under Okapi BM25, served from the
    * saved index. The driver-side collect is the ≤ |terms| bucket ids —
    * bounded by the query, never by the corpus. */
  def searchBm25(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "searchBm25: empty query")
    IndexCommit.requireCommitted(spark, dir, "searchBm25")
    val tf = prunedPostings(spark, dir, terms)
    val dl = spark.read.parquet(s"$dir/docstats")
      .select(col("doc_id"), col("dl"))
    Corpus.bm25ScoreFrom(tf, dl, k, k1, b)
  }

  /** Per-term top-`k` documents for `terms` under Dirichlet
    * query-likelihood (the d141 scoring), served from the saved index:
    * the query terms' postings come from their pruned buckets, each
    * term's collection frequency rolls up from those same postings
    * (a term's postings all live in its bucket, so the rollup is
    * complete), and document length / total token count come from the
    * narrow docstats table — nothing re-tokenizes, nothing reads
    * postings outside the query's buckets. Out the d141 shape:
    * (term, doc_id, tf, score, rank ≤ k). Equal to the direct
    * [[Retrieval.qlRank]] on the indexed corpus by construction
    * (LexIndexSpec asserts it). */
  def searchQl(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "searchQl: empty query")
    IndexCommit.requireCommitted(spark, dir, "searchQl")
    val tf = prunedPostings(spark, dir, terms)
    val dl = spark.read.parquet(s"$dir/docstats")
      .select(col("doc_id"), col("dl"))
    Retrieval.qlRankFrames(tf, dl, k)
  }

  /** The full (doc_id, term, tf) postings frame, commit-gated — the
    * input to the retrieval family's `...From` twins (d149/d150 pass it
    * to [[Retrieval.qlTopKFrom]]/[[Retrieval.prfExpansionFrom]]): one
    * compact columnar scan of pre-aggregated counts instead of
    * re-tokenizing the corpus, and the scan stays current as [[append]]
    * adds batches. */
  def postings(spark: SparkSession, dir: String): DataFrame = {
    IndexCommit.requireCommitted(spark, dir, "postings")
    spark.read.parquet(s"$dir/postings")
      .select(col("doc_id"), col("term"), col("tf"))
  }

  /** The query terms' postings, read from only the buckets they hash to
    * (partition pruning — the ≤ |terms| bucket ids are the only
    * driver-side collect). */
  private def prunedPostings(spark: SparkSession, dir: String,
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val buckets = terms.toDF("term")
      .select(bucketCol.as("bucket")).distinct().as[Long].collect()
    spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets.toIndexedSeq: _*) && col("term").isin(terms: _*))
      .select(col("doc_id"), col("term"), col("tf"))
  }
}
