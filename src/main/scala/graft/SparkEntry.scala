package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{Functions, Q, Relational, Similarity, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's registered operator surface (one entry per
  * SURVEY.md §2 operator family); `oracleSql` carries the DuckDB-runnable
  * ANSI SQL equivalent for every SQL-expressible entry. Column names and
  * numeric representations match bit-for-bit (see graft.ops.Tables).
  */
object SparkEntry {

  /** The registered surface, one `(tag, queries)` entry per family
    * registry, in registration order. Bench times the headline families
    * together in one JVM and packs the rest into per-family JVMs by tag;
    * `etl` runs on the roster corpus, not on sfDir, so Bench skips it. */
  def families: Seq[(String, Seq[Q])] = Seq(
    "relational" -> Relational.queries,
    "text_ops" -> TextOps.queries,
    "functions" -> Functions.queries,
    "similarity" -> Similarity.queries,
    "corpus" -> graft.ops.Corpus.queries,
    "curation" -> graft.ops.Curation.queries,
    "zorder" -> graft.ops.ZOrder.queries,
    "quantize" -> graft.ops.Quantize.queries,
    "pq" -> graft.ops.Pq.queries,
    "lexical" -> graft.ops.Lexical.queries,
    "hash_index" -> graft.ops.HashIndex.queries,
    "line_index" -> graft.ops.LineIndex.queries,
    "edge_index" -> graft.ops.EdgeIndex.queries,
    "temporal_edge_index" -> graft.ops.TemporalEdgeIndex.queries,
    "gram_index" -> graft.ops.GramIndex.queries,
    "phrase_index" -> graft.ops.PhraseIndex.queries,
    "simhash_index" -> graft.ops.SimHashIndex.queries,
    "events" -> graft.ops.Events.queries,
    "graphs" -> graft.ops.Graphs.queries,
    "linkage" -> graft.ops.Linkage.queries,
    "diagnostics" -> graft.ops.Diagnostics.queries,
    "retrieval" -> graft.ops.Retrieval.queries,
    "pipeline" -> graft.ops.PipelineQueries.queries,
    "sources" -> graft.sources.TextSources.queries,
    "etl" -> graft.etl.EtlQueries.queries)

  /** Tags of the frozen headline families: the 30 queries (q01–q25,
    * d01–d05) that BENCH_r01's baseline measured and `HeadlinePlanSpec`
    * pins. New queries register outside these families. */
  val HeadlineFamilies: Set[String] = Set("relational", "text_ops")

  def headline: Seq[Q] =
    families.filter(f => HeadlineFamilies(f._1)).flatMap(_._2)

  def registered: Seq[Q] = families.flatMap(_._2)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registered.find(_.name == "q25_star_join").get.fn(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registered.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registered.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
