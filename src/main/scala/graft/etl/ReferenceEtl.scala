package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import graft.parse.{GridRow, HtmlGrid}
import graft.text.{Dictionaries => D, RuText}
import graft.text.RuText.pyStrip

/** One assignment row after E5: inspector resolved to a canonical-name key,
  * senior backfill applied, reference skip rule applied. It carries its
  * final dimension keys: `canonName` (named rows only), the standardized
  * rank, profession and education, the E3 location key (`locKey*`) and the
  * names a location first seen at this row stores (`cityStd`, `locGub`,
  * `locOkrug`). `seq` numbers the file's emitted rows 1..n in file order;
  * a row that is not emitted carries the count of emitted rows before it. */
final case class AsgResolved(
    file: String, year: Int, rowIdx: Int, ord: Int,
    okrug: String, gub: String,
    role: String, uchId: String, uchDesc: String,
    cityStd: String, persRaw: String,
    inspectorKey: String, canonName: String,
    stdRank: String, stdProf: String, stdEdu: String,
    locKeyCity: String, locKeyGub: String, locKeyOkrug: String,
    locGub: String, locOkrug: String,
    startDateRaw: String, endDateRaw: String,
    isVacancy: Boolean, isActing: Boolean, notes: String, specialRole: String,
    estCount: Integer, workCount: Integer, boilCount: Integer,
    emitted: Boolean, seq: Int)

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
  *    E1-E4 keys and its number among the file's emitted rows. Files are
  *    independent, so S1..E5 is one narrow stage with no shuffle and no
  *    per-row UDF;
  *  - E1-E4 dims — ONE aggregate for all five dimensions and the fact's
  *    per-year row counts: each cached row contributes a tagged entry per
  *    table it feeds, and `groupBy(tag, key).agg(min(firstRow), count)` is
  *    collected once. The driver splits it by tag, sorts each tag by the
  *    first-seen order key and numbers it 1..n, replacing SERIAL PKs; the
  *    numbered rows become local frames for the sinks. E2's re-route of a
  *    profession found in the education dictionary (:759-762) is omitted:
  *    parsed professions are profession-dictionary keys, and no
  *    standardized one is an education key;
  *  - E6 fact assembly — a projection of the cached rows. Each dimension
  *    id is an `element_at` lookup in a literal map of the collected ids
  *    (a null key, or a null location-key field, matches like `<=>`), and
  *    AssignmentID = the year's offset (the prefix sum of the per-year
  *    counts, files ordered by year) + the row's in-file `seq`;
  *  - S5-S8 sinks — parquet, fact partitioned by Year (:160-169 indexes).
  *
  * A `writeAll` therefore runs a fixed handful of Spark jobs whatever the
  * corpus size: one cache build, the aggregate's shuffle and collect, and
  * the six sinks.
  *
  * At 100 TB the per-file stage scales with file count; a task holds one
  * file's grid rows ([[MaxFileRows]]). The only wide exchange is the fused
  * aggregate. Driver memory bounds the dimensions: they are collected, and
  * the fact plan carries each one as a literal map. A map lookup scans the
  * map's keys, so the fact projection costs O(rows × dimension size).
  * Per-year offsets need one roster file per year, which [[starSchema]]
  * checks.
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
    * one's name, year and whole text; other files, `xfabric1905.html`
    * included, are skipped. */
  private def perRoster[T: Encoder](spark: SparkSession, dir: String)(
      f: (String, Int, String) => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    val files = spark.read.option("wholetext", "true").textFile(dir)
      .withColumn("path", input_file_name())
      .as[(String, String)]
    val yearPat = "^fabric(\\d{4})\\.html$".r
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
    val resolved = resolvedAssignments(spark, dir).toDF().cache()
    (resolved, starSchema(resolved))
  }

  /** E1-E4 and E6 over resolved rows (the columns of [[AsgResolved]]): one
    * aggregate and one collect, then the dimensions as local frames and the
    * fact table as a projection of `resolved`. */
  private[graft] def starSchema(resolved: DataFrame): EtlTables = {
    val spark = resolved.sparkSession
    import spark.implicits._

    // E1-E4 and the per-year fact counts in one aggregate. Each row yields
    // one tagged entry per table it feeds; a key's minimum `first` is its
    // first-seen row (the orderKey is unique and leads), which also holds
    // the names a location stores (:240-245). The entries come from an
    // explode, not a union of six projections: each union branch would
    // scan the cache in a stage (and a job) of its own.
    val (inspT, rankT, profT, eduT, locT, yearT) = (0, 1, 2, 3, 4, 5)
    val noKey = lit(null).cast(StringType)
    val first = struct(struct($"year", $"rowIdx", $"ord").as("orderKey"), $"cityStd", $"locGub", $"locOkrug")
    def entry(tag: Int, cond: Column, k1: Column, k2: Column = noKey, k3: Column = noKey,
        fileStart: Column = lit(null).cast(IntegerType)): Column =
      when(cond, struct(lit(tag).as("tag"), k1.as("k1"), k2.as("k2"), k3.as("k3"),
        first.as("first"), fileStart.as("fileStart")))
    val aggregated = resolved
      .select(explode(filter(array(
        // E4/E1: first-seen canonical names over emitted named rows.
        entry(inspT, $"canonName".isNotNull, $"canonName"),
        // E1/E2: dictionary-enriched first-seen dims over emitted rows.
        entry(rankT, $"emitted" && $"stdRank".isNotNull, $"stdRank"),
        entry(profT, $"emitted" && $"stdProf".isNotNull, $"stdProf"),
        entry(eduT, $"emitted" && $"stdEdu".isNotNull, $"stdEdu"),
        // E3: null-safe composite key, first-seen per ROW (:717), so one
        // probe per surviving row.
        entry(locT, $"ord" === 0, $"locKeyCity", $"locKeyGub", $"locKeyOkrug"),
        // Emitted rows per year; each file's first emitted row counts it.
        entry(yearT, $"emitted", $"year".cast(StringType), fileStart = when($"seq" === 1, 1))),
        _.isNotNull)).as("e"))
      .select("e.*")
      .groupBy("tag", "k1", "k2", "k3")
      .agg(min("first").as("first"), count(lit(1)).as("n"), count("fileStart").as("files"))
      .collect()

    // Per tag, the keys in first-seen order, numbered 1..n.
    val byTag = aggregated.groupBy(_.getInt(0))
    def numbered(tag: Int): Seq[(Row, Long)] =
      byTag.getOrElse(tag, Array.empty[Row]).toSeq
        .sortBy { r => val o = r.getStruct(4).getStruct(0); (o.getInt(0), o.getInt(1), o.getInt(2)) }
        .zip(Iterator.from(1).map(_.toLong))
    def local(rows: Seq[Row], schema: StructType): DataFrame = spark.createDataFrame(rows.asJava, schema)
    def idSchema(idCol: String) = new StructType().add(idCol, LongType, nullable = false)

    val inspectorIds = numbered(inspT).map { case (r, id) => r.getString(1) -> id }
    val inspectors = local(inspectorIds.map { case (name, id) => Row(id, name, null) },
      idSchema("InspectorID").add("FullName", StringType).add("Notes", StringType))

    def dictIds(tag: Int) = numbered(tag).map { case (r, id) => r.getString(1) -> id }
    def dictDim(ids: Seq[(String, Long)], idCol: String, dict: Map[String, String]): DataFrame =
      local(ids.map { case (k, id) => Row(id, k, D.dotFlexGet(dict, k).orNull) },
        idSchema(idCol).add("Abbreviation", StringType).add("FullName_RU", StringType))
    val (rankIds, profIds, eduIds) = (dictIds(rankT), dictIds(profT), dictIds(eduT))
    val ranks = dictDim(rankIds, "RankID", D.knownRanksMap)
      .withColumn("RankType", lit(null).cast(StringType))
    val professions = dictDim(profIds, "ProfessionID", D.knownProfessionsMap)
    val educations = dictDim(eduIds, "EducationID", D.knownEducationsMap)

    val locationRows = numbered(locT)
    val locations = local(locationRows.map { case (r, id) =>
        val f = r.getStruct(4)
        Row(id, f.getString(1), f.getString(2), f.getString(3), "Город")
      },
      idSchema("LocationID").add("CityName", StringType).add("GuberniaName", StringType)
        .add("OkrugName", StringType).add("LocationType", StringType, nullable = false))
    val locationIds = locationRows.map { case (r, id) => (r.getString(1), r.getString(2), r.getString(3)) -> id }

    // AssignmentID = offset(year) + seq, where offset(year) counts the
    // emitted rows of every earlier year. That numbers a year's rows as one
    // file's, so each year must come from one file.
    val years = numbered(yearT).map { case (r, _) =>
      (r.getStruct(4).getStruct(0).getInt(0), r.getLong(5), r.getLong(6)) } // (year, rows, files)
    for ((year, _, files) <- years)
      require(files == 1, s"$files roster files share the year $year; AssignmentID numbers " +
        "each year's rows as one file's, so every roster year must come from one fabricYYYY.html")
    val offsets = years.map(_._1).zip(years.scanLeft(0L)(_ + _._2))
    // A CASE over the corpus' years whose last branch needs no test: every
    // emitted row's year is one of them. Non-null, like the id it builds.
    val offset = offsets.dropRight(1).foldRight(lit(offsets.lastOption.fold(0L)(_._2))) {
      case ((year, off), rest) => when($"year" === year, off).otherwise(rest)
    }

    // E6: fact assembly — the dimension ids by lookup, no join.
    def lookup[K: TypeTag](ids: Seq[(K, Long)], key: Column): Column =
      element_at(typedLit(ids.toMap), key)
    val locKey = struct($"locKeyCity".as("_1"), $"locKeyGub".as("_2"), $"locKeyOkrug".as("_3"))
    val assignments = resolved.where($"emitted")
      .select(
        (offset + $"seq").as("AssignmentID"), lookup(inspectorIds, $"inspectorKey").as("InspectorID"),
        $"year".as("Year"), $"file".as("SourceFile"),
        $"okrug".as("OkrugName"), $"gub".as("GuberniaName"),
        $"role".as("PositionRole"), $"uchId".as("UchastokIdentifier"),
        $"uchDesc".as("UchastokDescription"), lookup(locationIds, locKey).as("InspectorLocationID"),
        $"persRaw".as("PersonnelRawString"),
        lookup(rankIds, $"stdRank").as("RankID"), lookup(profIds, $"stdProf").as("ProfessionID"),
        lookup(eduIds, $"stdEdu").as("EducationID"),
        $"startDateRaw".as("StartDateInYearRaw"), $"endDateRaw".as("EndDateInYearRaw"),
        $"isActing".as("IsActing"), $"isVacancy".as("IsVacancy"),
        $"notes".as("AssignmentNotes"),
        $"estCount".as("EstablishmentsCount"), $"workCount".as("WorkerCount"),
        $"boilCount".as("BoilerCount"))

    EtlTables(assignments, inspectors, locations, ranks, professions, educations)
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
