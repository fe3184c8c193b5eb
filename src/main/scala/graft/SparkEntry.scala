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

  /** One family registry: its tag, its queries in registration order,
    * and the names among them whose plans read a cross-run
    * per-(session, dir) memo — Bench headlines those by their cold first
    * run, not min-of-2. */
  final case class Family(tag: String, queries: Seq[Q],
      memoized: Set[String] = Set.empty)

  /** The registered surface, one [[Family]] per family registry, in
    * registration order. Bench times the headline families together in
    * one JVM and packs the rest into per-family JVMs by tag; `etl` runs
    * on the roster corpus, not on sfDir, so Bench skips it. */
  def families: Seq[Family] = Seq(
    Family("relational", Relational.queries),
    Family("text_ops", TextOps.queries),
    Family("functions", Functions.queries),
    Family("similarity", Similarity.queries, Similarity.MemoizedQueries),
    Family("corpus", graft.ops.Corpus.queries, graft.ops.Corpus.MemoizedQueries),
    Family("curation", graft.ops.Curation.queries, graft.ops.Curation.MemoizedQueries),
    Family("zorder", graft.ops.ZOrder.queries),
    Family("quantize", graft.ops.Quantize.queries),
    Family("pq", graft.ops.Pq.queries, graft.ops.Pq.MemoizedQueries),
    Family("lexical", graft.ops.Lexical.queries),
    Family("hash_index", graft.ops.HashIndex.queries, graft.ops.HashIndex.MemoizedQueries),
    Family("line_index", graft.ops.LineIndex.queries, graft.ops.LineIndex.MemoizedQueries),
    Family("edge_index", graft.ops.EdgeIndex.queries, graft.ops.EdgeIndex.MemoizedQueries),
    Family("temporal_edge_index", graft.ops.TemporalEdgeIndex.queries,
      graft.ops.TemporalEdgeIndex.MemoizedQueries),
    Family("gram_index", graft.ops.GramIndex.queries, graft.ops.GramIndex.MemoizedQueries),
    Family("phrase_index", graft.ops.PhraseIndex.queries,
      graft.ops.PhraseIndex.MemoizedQueries),
    Family("simhash_index", graft.ops.SimHashIndex.queries,
      graft.ops.SimHashIndex.MemoizedQueries),
    Family("events", graft.ops.Events.queries),
    Family("graphs", graft.ops.Graphs.queries),
    Family("linkage", graft.ops.Linkage.queries),
    Family("diagnostics", graft.ops.Diagnostics.queries),
    Family("retrieval", graft.ops.Retrieval.queries, graft.ops.Retrieval.MemoizedQueries),
    Family("pipeline", graft.ops.PipelineQueries.queries),
    Family("sources", graft.sources.TextSources.queries,
      graft.sources.TextSources.MemoizedQueries),
    Family("etl", graft.etl.EtlQueries.queries))

  /** Tags of the frozen headline families: the 30 queries (q01–q25,
    * d01–d05) that BENCH_r01's baseline measured and `HeadlinePlanSpec`
    * pins. New queries register outside these families. */
  val HeadlineFamilies: Set[String] = Set("relational", "text_ops")

  def headline: Seq[Q] =
    families.filter(f => HeadlineFamilies(f.tag)).flatMap(_.queries)

  def registered: Seq[Q] = families.flatMap(_.queries)

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
