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

  def registered: Seq[Q] =
    Relational.queries ++ TextOps.queries ++ Functions.queries ++
      Similarity.queries ++ graft.ops.Corpus.queries ++ graft.ops.Curation.queries ++
      graft.ops.ZOrder.queries ++ graft.ops.Quantize.queries ++
      graft.ops.Pq.queries ++ graft.ops.Lexical.queries ++
      graft.ops.HashIndex.queries ++
      graft.ops.LineIndex.queries ++
      graft.ops.EdgeIndex.queries ++
      graft.ops.TemporalEdgeIndex.queries ++
      graft.ops.GramIndex.queries ++
      graft.ops.PhraseIndex.queries ++
      graft.ops.SimHashIndex.queries ++
      graft.ops.Events.queries ++
      graft.ops.Graphs.queries ++
      graft.ops.Linkage.queries ++
      graft.ops.Diagnostics.queries ++
      graft.ops.Retrieval.queries ++
      graft.ops.PipelineQueries.queries ++
      graft.sources.TextSources.queries ++
      graft.etl.EtlQueries.queries

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
