package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import scala.jdk.CollectionConverters._

import graft.ops.Ids
import graft.parse.{GridRow, HtmlGrid}
import graft.text.{Dictionaries => D, RuText}
import graft.text.RuText.pyStrip

/** One assignment row after E5: inspector resolved to a canonical-name key,
  * senior backfill applied, reference skip rule applied. It carries its
  * final dimension keys: `canonName` (named rows only), the standardized
  * rank, profession and education, the E3 location key (`locKey*`) and the
  * names a location first seen at this row stores (`loc*`). */
final case class AsgResolved(
    file: String, year: Int, rowIdx: Int, ord: Int,
    okrug: String, gub: String,
    role: String, uchId: String, uchDesc: String,
    cityStd: String, persRaw: String,
    inspectorKey: String, canonName: String,
    stdRank: String, stdProf: String, stdEdu: String,
    locKeyCity: String, locKeyGub: String, locKeyOkrug: String,
    locCity: String, locGub: String, locOkrug: String,
    startDateRaw: String, endDateRaw: String,
    isVacancy: Boolean, isActing: Boolean, notes: String, specialRole: String,
    estCount: Integer, workCount: Integer, boilCount: Integer,
    emitted: Boolean)

/** The six output tables (star schema, reference DDL :160-169). */
final case class EtlTables(
    assignments: DataFrame,
    inspectors: DataFrame,
    locations: DataFrame,
    ranks: DataFrame,
    professions: DataFrame,
    educations: DataFrame)

/** The reference's full ingestion ETL (SURVEY.md §2A) as a Spark pipeline.
  *
  * Stage map (reference populate_db_ru_v1.py):
  *  - S1-S4/T1/T3/T4/T7 — per-file pure parse (graft.parse.HtmlGrid
  *    inside a flatMap; each file is read and parsed inside one task);
  *  - T2 okrug/gubernia fill + segments (:520,:567-572,:654-671), T5
  *    location ditto (:677-681), T8/T9 role and stats (:656-659,:683-698),
  *    P1-P13 personnel parse + explode (:304-501,:706), T6 personnel ditto
  *    (:700-706,:754-755) and E5 senior as-of resolution (:724-744) — one
  *    in-order pass over the file's grid rows ([[FileResolver]]), in the
  *    same flatMap. All of this state is file-scoped: the reference walks
  *    each roster top to bottom, and the E5 senior cache is *recursively*
  *    defined over emitted rows. The same pass computes each row's final
  *    E1-E4 keys. Files are independent, so S1..E5 is one narrow stage
  *    with no shuffle and no per-row UDF;
  *  - E1-E4 dims — one `groupBy(key).agg(min(orderKey))` per dimension,
  *    collected once in first-seen order (Spark's sort) and numbered 1..n
  *    ([[numberOnDriver]]), replacing SERIAL PKs. The numbered rows come
  *    back as a local frame that feeds both the E6 join and the sink. E2's
  *    re-route of a profession found in the education dictionary
  *    (:759-762) is omitted: parsed professions are profession-dictionary
  *    keys, and no standardized one is an education key;
  *  - E6 fact assembly — broadcast joins of the tiny dims on the keys the
  *    fold computed; the fact table's AssignmentID is the one fact-scale
  *    numbering (graft.ops.Ids.sequenceBy);
  *  - S5-S8 sinks — parquet, fact partitioned by Year (:160-169 indexes).
  *
  * At 100 TB the per-file stage scales with file count; a task holds one
  * file's grid rows ([[MaxFileRows]]). The only wide exchanges are the
  * dimension aggregates and the fact numbering. Driver memory bounds the
  * dimensions: E6 joins every one of them through an explicit
  * `broadcast()` hint, which bypasses `autoBroadcastJoinThreshold`, so
  * each dimension has to fit on the driver in any case. Numbering them
  * there adds no new bound; it only stops collecting them twice.
  */
object ReferenceEtl {

  /** Read + parse the corpus directory into classified grid rows.
    * File order (= surrogate-id order) follows the reference's HTML_FILES
    * list (:16-21), which is filename-sorted. */
  def gridRows(spark: SparkSession, dir: String): Dataset[GridRow] = {
    import spark.implicits._
    perRoster(spark, dir)((base, year, content) => HtmlGrid.parseFile(base, year, year, content).iterator)
  }

  /** Stages T2..E5: each file's grid rows → resolved assignment rows, by
    * [[FileResolver.resolveFile]] in the task that parsed the file. */
  def resolvedAssignments(spark: SparkSession, dir: String): Dataset[AsgResolved] = {
    import spark.implicits._
    perRoster(spark, dir)((base, year, content) =>
      FileResolver.resolveFile(guardFileRows(base, HtmlGrid.parseFile(base, year, year, content))))
  }

  /** One flatMap over the corpus' `fabricYYYY.html` files, handing `f` each
    * one's name, year and whole text; other files are skipped. */
  private def perRoster[T: Encoder](spark: SparkSession, dir: String)(
      f: (String, Int, String) => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    val files = spark.read.option("wholetext", "true").textFile(dir)
      .withColumn("path", input_file_name())
      .as[(String, String)]
    val yearPat = "fabric(\\d{4})\\.html$".r
    files.flatMap { case (content, path) =>
      val base = path.substring(path.lastIndexOf('/') + 1)
      yearPat.findFirstMatchIn(base) match {
        // The year orders the files: the corpus years are distinct and
        // filename-ordered (:16-21), whatever the listing order.
        case Some(m) => f(base, m.group(1).toInt, content)
        case None => Iterator.empty
      }
    }
  }

  /** Max grid rows the per-file resolution holds in one task for a single
    * source file (~500 B/row → ~1 GB at the cap, well inside executor
    * memory).
    *
    * MEMORY BOUND: the reference walks one document's rows in order with
    * mutable context (okrug, gubernia, city, ditto and senior caches), so
    * one file's grid rows are materialized in a single task. That is
    * O(rows of the LARGEST file), not O(corpus) — parallelism is per-file
    * and unaffected by corpus size. The guard turns a pathological single
    * file (one multi-GB document) into a diagnosable failure instead of a
    * silent executor OOM; legitimate inputs are nowhere near it (the
    * reference corpus' largest file is ~1.4k rows). */
  private[graft] val MaxFileRows = 2000000

  private[graft] def guardFileRows(file: String, rows: Vector[GridRow]): Vector[GridRow] = {
    require(rows.size <= MaxFileRows,
      s"per-file resolution materializes one file's grid rows in a single task; " +
        s"'$file' has ${rows.size} rows (cap $MaxFileRows). Split the input " +
        s"document or raise MaxFileRows if the executor heap allows.")
    rows
  }

  /** Full ETL: corpus directory → six star-schema tables (E1-E4, E6).
    * The five dimensions are computed here, as local frames; the fact table
    * stays lazy over the resolved rows, which are cached and stay cached. */
  def run(spark: SparkSession, dir: String): EtlTables = build(spark, dir)._2

  /** [[run]], also returning the cached resolved rows so that [[writeAll]]
    * can release them. */
  private def build(spark: SparkSession, dir: String): (DataFrame, EtlTables) = {
    import spark.implicits._

    val resolved = resolvedAssignments(spark, dir).toDF()
      .withColumn("orderKey", struct($"year", $"rowIdx", $"ord"))
      .cache()

    // First-seen surrogate keys of one single-key dimension.
    def firstSeenIds(keyed: DataFrame, key: String, idCol: String): DataFrame =
      numberOnDriver(keyed.groupBy(key).agg(min($"orderKey").as("firstSeen")), "firstSeen", idCol)

    // E4/E1: Inspectors — first-seen canonical names over emitted named rows.
    val inspectors = firstSeenIds(
      resolved.where($"canonName".isNotNull).select($"canonName", $"orderKey"),
      "canonName", "InspectorID")
      .select($"InspectorID", $"canonName".as("FullName"), lit(null).cast(StringType).as("Notes"))

    // E1/E2: Ranks / Professions / Educations — dictionary-enriched
    // first-seen dims over emitted rows.
    def dictDim(key: String, idCol: String, dict: Map[String, String]): DataFrame = {
      val dotFlex = udf((k: String) => if (k == null) None else D.dotFlexGet(dict, k))
      firstSeenIds(resolved.where($"emitted" && col(key).isNotNull).select(col(key), $"orderKey"), key, idCol)
        .select(col(idCol), col(key).as("Abbreviation"), dotFlex(col(key)).as("FullName_RU"))
    }
    val ranks = dictDim("stdRank", "RankID", D.knownRanksMap)
      .withColumn("RankType", lit(null).cast(StringType))
    val professions = dictDim("stdProf", "ProfessionID", D.knownProfessionsMap)
    val educations = dictDim("stdEdu", "EducationID", D.knownEducationsMap)

    // E3: Locations — null-safe composite key, first-seen per ROW (:717).
    // The stored names come from the row that created the location
    // (:240-245): they ride in the same minimum, after the unique orderKey.
    val locations = numberOnDriver(
      resolved.where($"ord" === 0) // one location probe per surviving row
        .groupBy($"locKeyCity", $"locKeyGub", $"locKeyOkrug")
        .agg(min(struct($"orderKey", $"locCity", $"locGub", $"locOkrug")).as("firstRow")),
      "firstRow", "LocationID")
      .select($"LocationID",
        $"firstRow.locCity".as("CityName"),
        $"firstRow.locGub".as("GuberniaName"),
        $"firstRow.locOkrug".as("OkrugName"),
        lit("Город").as("LocationType"),
        $"locKeyCity", $"locKeyGub", $"locKeyOkrug")

    // E6: fact assembly — broadcast dim joins + scale-safe AssignmentID.
    val fact = resolved.where($"emitted")
      .join(broadcast(inspectors.select($"InspectorID", $"FullName")), $"inspectorKey" === $"FullName", "left")
      .join(broadcast(ranks.select($"RankID", $"Abbreviation".as("rkA"))), $"stdRank" === $"rkA", "left")
      .join(broadcast(professions.select($"ProfessionID", $"Abbreviation".as("pfA"))), $"stdProf" === $"pfA", "left")
      .join(broadcast(educations.select($"EducationID", $"Abbreviation".as("edA"))), $"stdEdu" === $"edA", "left")
      .join(broadcast(locations.select($"LocationID",
          $"locKeyCity".as("lkC"), $"locKeyGub".as("lkG"), $"locKeyOkrug".as("lkO"))),
        $"locKeyCity" <=> $"lkC" && $"locKeyGub" <=> $"lkG" && $"locKeyOkrug" <=> $"lkO", "left")

    val assignments = Ids.sequenceBy(fact, Seq(col("orderKey")), "AssignmentID")
      .select(
        $"AssignmentID", $"InspectorID", $"year".as("Year"), $"file".as("SourceFile"),
        $"okrug".as("OkrugName"), $"gub".as("GuberniaName"),
        $"role".as("PositionRole"), $"uchId".as("UchastokIdentifier"),
        $"uchDesc".as("UchastokDescription"), $"LocationID".as("InspectorLocationID"),
        $"persRaw".as("PersonnelRawString"),
        $"RankID", $"ProfessionID", $"EducationID",
        $"startDateRaw".as("StartDateInYearRaw"), $"endDateRaw".as("EndDateInYearRaw"),
        $"isActing".as("IsActing"), $"isVacancy".as("IsVacancy"),
        $"notes".as("AssignmentNotes"),
        $"estCount".as("EstablishmentsCount"), $"workCount".as("WorkerCount"),
        $"boilCount".as("BoilerCount"))

    (resolved, EtlTables(
      assignments,
      inspectors,
      locations.drop("locKeyCity", "locKeyGub", "locKeyOkrug"),
      ranks,
      professions,
      educations))
  }

  /** E1-E4 numbering: collects `df` sorted by `orderCol` (Spark's sort, in
    * one partition) and appends `idCol` = 1..n, returning a local frame.
    * Same columns and ids as
    * `graft.ops.Ids.sequenceBy(df, Seq(col(orderCol)), idCol)` for an
    * `orderCol` that totally orders the rows. `df` must fit on the driver:
    * it is meant for the dimensions, which E6 broadcasts anyway. */
  private[graft] def numberOnDriver(df: DataFrame, orderCol: String, idCol: String): DataFrame = {
    val rows = df.coalesce(1).sortWithinPartitions(orderCol).collect()
    val numbered = rows.iterator.zipWithIndex
      .map { case (r, n) => Row.fromSeq(r.toSeq :+ (n + 1L)) }.toList
    df.sparkSession.createDataFrame(numbered.asJava, df.schema.add(idCol, LongType, nullable = false))
  }

  /** S5-S8: parquet sinks; the fact table partitioned by Year (the
    * reference's idx_assignments_year :168 becomes partition pruning).
    * The cached resolved rows are released once the six sinks finish; the
    * returned tables stay usable, the fact table then recomputing from the
    * corpus. */
  def writeAll(spark: SparkSession, dir: String, outDir: String): EtlTables = {
    val (resolved, t) = build(spark, dir)
    try {
      t.assignments.write.mode("overwrite").partitionBy("Year").parquet(s"$outDir/assignments")
      t.inspectors.write.mode("overwrite").parquet(s"$outDir/inspectors")
      t.locations.write.mode("overwrite").parquet(s"$outDir/locations")
      t.ranks.write.mode("overwrite").parquet(s"$outDir/ranks")
      t.professions.write.mode("overwrite").parquet(s"$outDir/professions")
      t.educations.write.mode("overwrite").parquet(s"$outDir/educations")
    } finally resolved.unpersist()
    t
  }
}

/** T8 role classification (:683-698), pure. */
object RoleClassifier {
  import java.util.regex.Pattern
  private val FLAGS =
    Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE | Pattern.UNICODE_CHARACTER_CLASS
  private lazy val uchPat = Pattern.compile(D.uchPatternSrc, FLAGS)
  private lazy val stdRoleMap: Vector[(String, String)] =
    D.roleMap.map { case (k, v) => RuText.standardizeText(k) -> v }

  def classify(uchastokDescRaw: String): (String, String, String) = {
    val raw = if (uchastokDescRaw == null) "" else uchastokDescRaw
    var role = "Не определена"
    var uchId: String = null
    var uchDesc: String = raw
    val descStd = RuText.standardizeText(raw)
    var found = false
    if (descStd != null) {
      stdRoleMap.find(_._1 == descStd).foreach { case (_, v) =>
        role = v; uchDesc = null; found = true
      }
    }
    if (!found && pyStrip(raw).nonEmpty) {
      role = "Инспектор участка"
      val m = uchPat.matcher(raw)
      val lower = raw.toLowerCase(java.util.Locale.ROOT)
      if (m.lookingAt()) uchId = m.group(1)
      else if (lower.contains(D.litVsyaGub)) uchId = D.litVsyaGubId
      else if (lower.contains("(должность не указана)")) {
        role = "Должность не указана"; uchDesc = null
      }
    }
    (role, uchId, uchDesc)
  }
}
