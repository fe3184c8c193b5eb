package graft.etl

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession
import graft.ops.{Q, Tables}

/** The §2A ingestion ETL surfaced through the driver contract: one entry
  * per star-schema output table, computed by the full Spark pipeline over
  * a roster corpus. The input is the HTML corpus, not the driver's
  * TPC-H-ish parquet — so the oracle SQL reads the golden tables (the
  * unmodified reference implementation's output, dumped to parquet with
  * engine-matching schemas by tools/golden_to_parquet.py) via DuckDB
  * read_parquet: the driver's independent hash gate now covers the
  * engine's flagship capability, on top of the repo's own row-for-row
  * GoldenEtlSpec / GoldenCheck.
  *
  * The corpus directory is the session conf [[CorpusConf]]
  * (`spark.graft.etl.corpus`), default [[DefaultCorpus]] — the reference
  * corpus. The oracle SQL over `tools/golden/<table>.parquet` describes only
  * that default corpus: a session pointed elsewhere gets that corpus's
  * tables, which no golden describes.
  */
object EtlQueries {

  val CorpusConf = "spark.graft.etl.corpus"
  val DefaultCorpus = "/root/reference/diplom"

  private def goldenSql(table: String): String =
    s"SELECT * FROM read_parquet('${Tables.GoldenDir}/$table.parquet')"

  // Keyed by corpus as well as session: a changed conf must never be
  // served another corpus's cached tables.
  private val cache = new ConcurrentHashMap[(SparkSession, String), EtlTables]()

  /** The corpus directory the ETL queries read in session `s`. */
  def corpus(s: SparkSession): String = s.conf.get(CorpusConf, DefaultCorpus)

  private def tables(s: SparkSession): EtlTables =
    cache.computeIfAbsent((s, corpus(s)), key => {
      val (sess, dir) = key
      // evict when the session stops — a long-lived multi-session process
      // must not pin stopped sessions' cached DataFrames forever; one
      // listener per session, however many corpora it read
      graft.Sessions.onStopOnce(sess, "etl-queries")(
        () => cache.keySet.removeIf(_._1 eq sess))
      val t = ReferenceEtl.run(sess, dir)
      EtlTables(
        t.assignments.cache(), t.inspectors.cache(), t.locations.cache(),
        t.ranks.cache(), t.professions.cache(), t.educations.cache())
    })

  def queries: Seq[Q] = Seq(
    Q("e01_etl_assignments", (s, _) => tables(s).assignments, Some(goldenSql("assignments"))),
    Q("e02_etl_inspectors", (s, _) => tables(s).inspectors, Some(goldenSql("inspectors"))),
    Q("e03_etl_locations", (s, _) => tables(s).locations, Some(goldenSql("locations"))),
    Q("e04_etl_ranks", (s, _) => tables(s).ranks, Some(goldenSql("ranks"))),
    Q("e05_etl_professions", (s, _) => tables(s).professions, Some(goldenSql("professions"))),
    Q("e06_etl_educations", (s, _) => tables(s).educations, Some(goldenSql("educations"))))
}
