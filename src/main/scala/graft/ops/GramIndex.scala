package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** Persisted bigram-vocabulary index — the incremental serving form of
  * d102's corpus-novelty scoring (the [[LineIndex]] of the gram
  * family): derive the base corpus's distinct-bigram set once, persist
  * it, then score arriving batches' novelty against the FROZEN
  * vocabulary without re-reading corpus text. The deployment shape of
  * the information-gain signal: the reference vocabulary is built from
  * the trusted corpus and every incoming crawl snapshot is scored
  * against it.
  *
  * On-disk layout (parquet):
  *   <dir>/grams/ingest_batch=B/  (gram_hash STRING)
  * one row per bigram DISTINCT WITHIN ITS BATCH. A vocabulary is a SET,
  * so batches are additive by plain union — serving distincts on read,
  * appends never rewrite earlier batches, and (unlike the count-fact
  * indexes) overlapping document batches are harmless: re-indexing a
  * doc re-asserts set membership, it cannot double-count. Writes follow
  * the [[IndexCommit]] protocol (idempotent per-batch partitions,
  * commit marker, fail-closed reads).
  *
  * Scale notes:
  *  - the index stores md5 hashes, never gram text ([[Corpus.bigramVocab]]
  *    — the d06 `hashGrams`/d97 trade): storage and every shuffle are
  *    16-byte-entropy keys regardless of gram width, uniformly
  *    distributed so the probe join never needs salting;
  *  - at warehouse scale write `grams` BUCKETed BY gram_hash so the
  *    per-delta probe join shuffles only the delta;
  *  - the index is never materialized driver-side.
  */
object GramIndex extends PersistedIndex {

  /** Lifecycle is [[PersistedIndex]]'s. Vocabulary union is
    * idempotent (set semantics), so unlike the count-fact families
    * there is no disjointness precondition: `disjointIdCol = None`
    * makes `append(checkDisjoint = true)` a documented no-op. */
  protected def batchTables: Seq[BatchTable] = Seq(
    BatchTable(IndexCommit.TableSpec("grams"),
      (docs, _, _) => Corpus.bigramVocab(docs)))

  override protected def disjointIdCol: Option[String] = None

  /** Rewrite a fragmented index as a single-generation snapshot under
    * `dst` — see [[IndexCommit.compactTo]]. Cross-batch duplicate
    * hashes are additionally collapsed (set semantics make the dedup a
    * pure layout change). */
  override def compactTo(spark: SparkSession, src: String, dst: String): Unit =
    compactGuarded(spark, src, dst) {
      IndexCommit.stamped(
          Tables.parquet(spark, s"$src/grams").select(col("gram_hash")).distinct(),
          -1L)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "static")
        .partitionBy(IndexCommit.BatchCol).parquet(s"$dst/grams")
    }

  /** The indexed vocabulary as a (gram_hash) frame — distinct on read
    * across however many batches accumulated. */
  def vocab(spark: SparkSession, dir: String): DataFrame = {
    IndexCommit.requireCommitted(spark, dir, "vocab")
    Tables.parquet(spark, s"$dir/grams").select(col("gram_hash")).distinct()
  }

  /** Score an arriving batch's bigram novelty against the indexed
    * vocabulary — d102's answer under FROZEN corpus statistics. When
    * the index holds exactly d102's base split this equals
    * [[Corpus.noveltyScore]] — the d106 gate. */
  def noveltyAgainst(spark: SparkSession, docs: DataFrame, dir: String): DataFrame =
    Corpus.noveltyScoreFrom(docs, vocab(spark, dir))

  // ---- driver binding --------------------------------------------------

  /** Per-(session, sfDir) saved index over the mod-3-zero base split —
    * d106 scores the probe side against it, which must reproduce d102's
    * direct computation exactly (the d39/d75/d82/d97 persisted-index
    * gate pattern; directories die with the session). */
  private val dirMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def savedDir(s: SparkSession, d: String): String = {
    val k = (s, d)
    val hit = dirMemo.get(k)
    if (hit != null) hit
    else {
      val dir = java.nio.file.Files.createTempDirectory("graft-gram-q").toString
      save(documents(s, d).where(col("doc_id") % 3 === 0), dir)
      val prev = dirMemo.putIfAbsent(k, dir)
      if (prev != null) { Corpus.deleteRecursively(dir); prev }
      else {
        graft.Sessions.onStopOnce(s, "gramindex-dirs") { () =>
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

  val MemoizedQueries: Set[String] = Set("d106_novelty_indexed")

  /** d102's oracle verbatim — the served path must reproduce the direct
    * computation bit-for-bit (hash-join instead of text-join changes no
    * answer), so the gate reuses the same SQL. */
  private val NoveltyOracle: String =
    """WITH bw AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS w
      |            FROM documents WHERE doc_id % 3 = 0),
      |base AS (SELECT DISTINCT w[i] || ' ' || w[i+1] AS g
      |         FROM bw, LATERAL (SELECT unnest(range(1, len(w))) AS i) u),
      |pw AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      |       FROM documents WHERE doc_id % 3 <> 0),
      |pg AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS g
      |       FROM pw, LATERAL (SELECT unnest(range(1, len(w))) AS i) u)
      |SELECT pg.doc_id, count(*) AS n_grams,
      |       count(*) FILTER (WHERE base.g IS NULL) AS n_novel,
      |       round(count(*) FILTER (WHERE base.g IS NULL)
      |             / CAST(count(*) AS DOUBLE), 4) AS novelty
      |FROM pg LEFT JOIN base ON pg.g = base.g
      |GROUP BY 1""".stripMargin

  def queries: Seq[Q] = Seq(
    // d106: d102 served from the persisted vocabulary index — save
    // (run 1) then score the probe split; hash-gated by d102's oracle
    // verbatim, proving the index round trip (per-batch gram sets,
    // distinct-on-read, md5-keyed probe join) preserves the direct
    // computation exactly.
    Q("d106_novelty_indexed",
      (s, d) => noveltyAgainst(s,
        documents(s, d).where(col("doc_id") % 3 =!= 0), savedDir(s, d)),
      Some(NoveltyOracle)))
}
