package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted PQ index — [[Pq]]'s codebook + code table on disk, closing
  * the same lifecycle as the other persisted families ([[LexIndex]],
  * [[IvfIndex]], LmIndex): crash-safe multi-table writes under the
  * [[IndexCommit]] marker and snapshot compaction. This is the at-rest
  * form PQ exists for: the corpus persists as m ints per vector (16-64x
  * smaller than the float column), vectors encode against the FROZEN
  * codebook (which only moves under a retrain + [[save]]), and retrieval
  * reads codes + the tiny codebook — never raw vectors.
  *
  * Layout:
  *   dir/codebook  (s, c, cent ARRAY<DOUBLE>, sub_dim) — one row per
  *                 (subspace, code), kilobytes; read whole.
  *   dir/codes     (vec_id, codes ARRAY<INT>) under the `ingest_batch=-1`
  *                 partition [[save]] writes.
  *
  * [[searchSaved]] is hash-gated end-to-end by d75: save -> load ->
  * ADC search over the parquet round trip must reproduce d73's oracle
  * exactly (parquet doubles/ints are bit-exact, so persistence adds no
  * tolerance). */
object PqIndex {

  /** Build and persist: encode `vectors` against `cb` (one narrow map)
    * and write codebook + codes as a full rebuild (static overwrite,
    * batch id -1), bracketed by the commit marker. */
  def save(spark: SparkSession, cb: Pq.PqCodebook, vectors: DataFrame,
      dir: String): Unit = {
    import spark.implicits._
    IndexCommit.withGuard(spark, dir) {
      cb.centroids.zipWithIndex.flatMap { case (cents, s) =>
        cents.zipWithIndex.map { case (cent, c) => (s, c, cent, cb.subDim) }
      }.toSeq.toDF("s", "c", "cent", "sub_dim")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
      IndexCommit.stamped(Pq.encode(spark, vectors, cb), batchId = -1L)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy(IndexCommit.BatchCol).parquet(s"$dir/codes")
    }
  }

  /** The frozen codebook back from disk (fails closed on an
    * uncommitted index). */
  def loadCodebook(spark: SparkSession, dir: String): Pq.PqCodebook = {
    import spark.implicits._
    IndexCommit.requireCommitted(spark, dir, "PqIndex.loadCodebook")
    val rows = spark.read.parquet(s"$dir/codebook")
      .select(col("s"), col("c"), col("cent"), col("sub_dim"))
      .as[(Int, Int, Array[Double], Int)].collect()
    require(rows.nonEmpty, s"PqIndex.loadCodebook: $dir/codebook is empty")
    val subDim = rows.head._4
    val m = rows.iterator.map(_._1).max + 1
    val cents = Array.tabulate(m) { s =>
      rows.iterator.filter(_._1 == s).toArray.sortBy(_._2).map(_._3)
    }
    Pq.PqCodebook(subDim, cents)
  }

  /** The code table (all batches; fails closed on an uncommitted
    * index). */
  def loadCodes(spark: SparkSession, dir: String): DataFrame = {
    IndexCommit.requireCommitted(spark, dir, "PqIndex.loadCodes")
    spark.read.parquet(s"$dir/codes").select(col("vec_id"), col("codes"))
  }

  /** ADC top-k served from the saved index — the deployment read path
    * (codes + codebook only; raw vectors never load). */
  def searchSaved(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 3, maxBroadcastBytes: Long = 256L << 20): DataFrame =
    Pq.topKAdc(queries, loadCodes(spark, dir), loadCodebook(spark, dir),
      k, maxBroadcastBytes)

  /** Rewrite the index as a single-generation snapshot under `dst` —
    * [[IndexCommit.compactTo]]'s serving model (src untouched; dst fails
    * closed until its marker lands). */
  def compactTo(spark: SparkSession, src: String, dst: String): Unit =
    IndexCommit.compactTo(spark, src, dst, Seq(
      IndexCommit.TableSpec("codebook", stamped = false),
      IndexCommit.TableSpec("codes")))
}
