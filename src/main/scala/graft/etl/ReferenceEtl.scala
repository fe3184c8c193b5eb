package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.ops.Ids
import graft.parse.{GridRow, HtmlGrid, MiniDom, ParsedAssignment, Personnel}
import graft.text.{Dictionaries => D, RuText}
import graft.text.RuText.{pyStrip, stripChars}

/** One assignment row after explode, before senior resolution (E5). */
final case class AsgRow(
    file: String, fileIdx: Int, year: Int, rowIdx: Int, segId: Long, ord: Int,
    okrug: String, gub: String,
    role: String, uchId: String, uchDesc: String,
    cityStd: String, persRaw: String,
    name: String, rankAbbr: String, profAbbr: String, eduAbbr: String,
    startDateRaw: String, endDateRaw: String,
    isVacancy: Boolean, isActing: Boolean, notes: String, specialRole: String,
    estCount: Integer, workCount: Integer, boilCount: Integer)

/** AsgRow after E5: inspector resolved to a canonical-name key, senior
  * backfill applied, reference skip rule applied. */
final case class AsgResolved(
    file: String, fileIdx: Int, year: Int, rowIdx: Int, ord: Int,
    okrug: String, gub: String,
    role: String, uchId: String, uchDesc: String,
    cityStd: String, persRaw: String,
    inspectorKey: String,
    rankAbbr: String, profAbbr: String, eduAbbr: String,
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
  *  - S1-S4/T1/T3/T4/T7 — per-file pure parse, one task per file
  *    (graft.parse.HtmlGrid inside a flatMap; the only sequential state —
  *    rowspan counters — is file-scoped by the data's own semantics);
  *  - T2 okrug/gubernia forward-fill + segment ids — window `last`
  *    over (file) ordered by rowIdx (:520,:567-572,:654-671);
  *  - T5 location ditto — window `last` (:677-681);
  *  - P1-P13 — `parsePersonnel` UDF + posexplode (:304-501,:706);
  *  - T6 personnel ditto — window `last` over parsed-record structs
  *    (:700-706,:754-755);
  *  - E5 senior as-of resolution — per-file sorted fold via
  *    groupByKey(file).flatMapGroups (:724-744): the senior cache is
  *    *recursively* defined over emitted rows (a resolved special row can
  *    itself become the cache source for later rows), which no fixed
  *    window can express; files are independent, so this parallelizes
  *    exactly like the parse stage;
  *  - E1-E4 dims — one `groupBy(key).agg(min(orderKey))` per dimension,
  *    collected once; the driver sorts by first-seen order and numbers
  *    1..n ([[numberOnDriver]]), replacing SERIAL PKs. The numbered rows
  *    come back as a local frame that feeds both the E6 join and the sink;
  *  - E6 fact assembly — broadcast joins of the tiny dims; the fact table's
  *    AssignmentID is the one fact-scale numbering (graft.ops.Ids.sequenceBy);
  *  - S5-S8 sinks — parquet, fact partitioned by Year (:160-169 indexes).
  *
  * At 100 TB the per-file stages scale with file count, and the only wide
  * exchanges are the per-file window shuffle, the dimension aggregates and
  * the fact numbering. Driver memory bounds the dimensions: E6 joins every
  * one of them through an explicit `broadcast()` hint, which bypasses
  * `autoBroadcastJoinThreshold`, so each dimension has to fit on the
  * driver in any case. Numbering them there adds no new bound; it only
  * stops collecting them twice.
  */
object ReferenceEtl {

  // ---- scalar UDF surface (all pure Scala, deterministic) -----------------
  private val stdUdf = udf((s: String) => RuText.standardizeText(s))
  private val canonUdf = udf((s: String) => RuText.canonicalInspectorName(s))
  private val cleanNumUdf = udf((s: String) => RuText.cleanNumber(s))
  private val parseUdf = udf((s: String) => Personnel.parse(s))
  // Ditto-marker check (:701): standardize_text(html.unescape(cell).strip()).
  private val dittoStdUdf = udf((s: String) =>
    RuText.standardizeText(pyStrip(MiniDom.unescapeEntities(if (s == null) "" else s))))
  // PersonnelRawString (:767): html.unescape(cell.strip()).
  private val persRawUdf = udf((s: String) =>
    MiniDom.unescapeEntities(pyStrip(if (s == null) "" else s)))
  // T8 role classification (:683-698) → (role, uchastokId, uchastokDesc).
  private val roleUdf = udf((raw: String) => RoleClassifier.classify(raw))
  // T6 ditto memory: last record eligible to be remembered (:754 after the
  // :748 skip — named, non-vacancy, non-special, canonicalizable).
  private val lastRealUdf = udf((arr: Seq[ParsedAssignment]) =>
    if (arr == null) None
    else arr.reverseIterator.find(r =>
      r.name != null && !r.isVacancy && r.specialRole == null &&
        RuText.canonicalInspectorName(r.name) != null))
  private val stripCityKeyUdf = udf((s: String) =>
    if (s == null) null else stripChars(s, " .,:;"))
  private val pyStripOrNullUdf = udf((s: String) =>
    if (s == null || s.isEmpty) null else { val t = pyStrip(s); if (t.isEmpty) null else t })
  private val pyStripUdf = udf((s: String) => pyStrip(if (s == null) "" else s))

  /** Read + parse the corpus directory into classified grid rows.
    * File order (= surrogate-id order) follows the reference's HTML_FILES
    * list (:16-21), which is filename-sorted. */
  def gridRows(spark: SparkSession, dir: String): Dataset[GridRow] = {
    import spark.implicits._
    val files = spark.read.option("wholetext", "true").textFile(dir)
      .withColumn("path", input_file_name())
      .as[(String, String)]
    val yearPat = "fabric(\\d{4})\\.html$".r
    files.flatMap { case (content, path) =>
      val base = path.substring(path.lastIndexOf('/') + 1)
      yearPat.findFirstMatchIn(base) match {
        case Some(m) =>
          val year = m.group(1).toInt
          // fileIdx from the year rank is stable across listing order; the
          // corpus years are distinct and filename-ordered (:16-21).
          HtmlGrid.parseFile(base, year, year, content)
        case None => Vector.empty
      }
    }
  }

  /** Stages T2..E5: grid rows → resolved assignment rows. */
  def resolvedAssignments(spark: SparkSession, dir: String): Dataset[AsgResolved] = {
    import spark.implicits._

    val grid = gridRows(spark, dir).toDF()

    val wFile = Window.partitionBy($"file").orderBy($"rowIdx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // T2: okrug fill + okrug-segment id; gubernia fill scoped to the okrug
    // segment (okrug headers reset gubernia to "Неизвестно", :567).
    val boundary = ($"kind" === "okrug") ||
      ($"kind" === "gubernia" && $"gubText".isNotNull) ||
      $"gubFromCell".isNotNull
    val withCtx = grid
      .withColumn("okrug", coalesce(last(when($"kind" === "okrug", $"okrugText"), ignoreNulls = true).over(wFile), lit("Неизвестно")))
      .withColumn("okrugSeg", count(when($"kind" === "okrug", 1)).over(wFile))
      .withColumn("segId", count(when(boundary, 1)).over(wFile))
      .withColumn("gubVal",
        when($"kind" === "gubernia", $"gubText").otherwise($"gubFromCell"))

    val wOkrugSeg = Window.partitionBy($"file", $"okrugSeg").orderBy($"rowIdx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withGub = withCtx
      .withColumn("gub", coalesce(last($"gubVal", ignoreNulls = true).over(wOkrugSeg), lit("Неизвестно")))

    val data = withGub.where($"kind" === "data")

    // T5: location ditto fill over data rows in file order (:677-681).
    val wFileData = Window.partitionBy($"file").orderBy($"rowIdx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val locIdx = when($"year" === 1901, lit(2)).otherwise(lit(4))
    val descIdx = when($"year" === 1901, lit(1)).otherwise(lit(0))
    val persIdx = when($"year" === 1901, lit(3)).otherwise(lit(5))
    val withCity = data
      .withColumn("locRaw", element_at($"cells", locIdx + 1))
      .withColumn("descRaw", element_at($"cells", descIdx + 1))
      .withColumn("persHtml", element_at($"cells", persIdx + 1))
      .withColumn("cityStdOwn", stdUdf($"locRaw")) // std strips internally (:39)
      .withColumn("cityFill",
        last(when($"cityStdOwn".isNotNull && $"cityStdOwn" =!= "»", $"cityStdOwn"), ignoreNulls = true).over(wFileData))
      .withColumn("cityStd",
        when($"cityStdOwn".isNull || $"cityStdOwn" === "»", $"cityFill").otherwise($"cityStdOwn"))
      .where($"cityStd".isNotNull) // :680 — no city and no previous → drop row

    // T9 stats (:656-659) + T8 role (:683-698).
    val withRowAttrs = withCity
      .withColumn("estCount", when($"year" =!= 1901, cleanNumUdf(element_at($"cells", lit(2)))).otherwise(lit(null: Integer)))
      .withColumn("workCount", when($"year" =!= 1901, cleanNumUdf(element_at($"cells", lit(3)))).otherwise(lit(null: Integer)))
      .withColumn("boilCount", when($"year" =!= 1901, cleanNumUdf(element_at($"cells", lit(4)))).otherwise(lit(null: Integer)))
      .withColumn("roleTriple", roleUdf(pyStripUdf($"descRaw")))

    // T6: personnel parse + ditto (:700-706). The ditto memory is the last
    // real record from any STRICTLY PRIOR row in the current segment.
    val wSegPrev = Window.partitionBy($"file", $"segId").orderBy($"rowIdx")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withRecords = withRowAttrs
      .withColumn("isDitto", dittoStdUdf($"persHtml") === "»")
      .withColumn("parsedArr", when(!$"isDitto", parseUdf($"persHtml")))
      .withColumn("lastReal", lastRealUdf($"parsedArr"))
      .withColumn("dittoRec", last($"lastReal", ignoreNulls = true).over(wSegPrev))
      .withColumn("records",
        when($"isDitto", when($"dittoRec".isNotNull, array($"dittoRec")))
          .otherwise($"parsedArr"))
      // :708 — unparseable/empty (or ditto with no memory) → row dropped
      .where($"records".isNotNull && size($"records") > 0)

    // P1 explode → assignment grain.
    val exploded = withRecords
      .select(
        $"file", $"fileIdx", $"year", $"rowIdx", $"segId",
        $"okrug", $"gub",
        $"roleTriple._1".as("role"), $"roleTriple._2".as("uchId"), $"roleTriple._3".as("uchDesc"),
        $"cityStd", persRawUdf($"persHtml").as("persRaw"),
        $"estCount", $"workCount", $"boilCount",
        posexplode($"records").as(Seq("ord", "rec")))
      .select(
        $"file", $"fileIdx", $"year", $"rowIdx", $"segId", $"ord",
        $"okrug", $"gub", $"role", $"uchId", $"uchDesc", $"cityStd", $"persRaw",
        $"rec.name".as("name"), $"rec.rankAbbr".as("rankAbbr"),
        $"rec.profAbbr".as("profAbbr"), $"rec.eduAbbr".as("eduAbbr"),
        $"rec.startDateRaw".as("startDateRaw"), $"rec.endDateRaw".as("endDateRaw"),
        $"rec.isVacancy".as("isVacancy"), $"rec.isActing".as("isActing"),
        $"rec.notes".as("notes"), $"rec.specialRole".as("specialRole"),
        $"estCount", $"workCount", $"boilCount")
      .as[AsgRow]

    // E5: per-file sorted fold (cache + as-of DB fallback + backfill).
    //
    // MEMORY BOUND: senior back-references are inherently sequential per
    // source file (the reference walks one document's rows in order with a
    // mutable seniors cache), so one file's exploded assignment rows are
    // materialized in a single task. That is O(rows of the LARGEST file),
    // not O(corpus) — parallelism is per-file and unaffected by corpus
    // size. The guard below turns a pathological single file (one
    // multi-GB document) into a diagnosable failure instead of a silent
    // executor OOM; legitimate inputs are nowhere near it (the reference
    // corpus' largest file is ~1.4k rows).
    exploded.groupByKey(_.file).flatMapGroups { (f, it) =>
      SeniorResolver.resolveFile(
        guardFileRows(f, it.toVector).sortBy(r => (r.rowIdx, r.ord)))
    }
  }

  /** Max assignment rows E5 will hold in one task for a single source
    * file (~500 B/row → ~1 GB at the cap, well inside executor memory). */
  private[graft] val MaxFileRows = 2000000

  private[graft] def guardFileRows(file: String, rows: Vector[AsgRow]): Vector[AsgRow] = {
    require(rows.size <= MaxFileRows,
      s"E5 senior resolution materializes one file's rows in a single task; " +
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
      .withColumn("orderKey", struct($"fileIdx", $"rowIdx", $"ord"))
      // inspectorKey is already the canonical name (named rows) or the
      // resolved senior's canonical name (special rows); only named rows
      // create Inspectors entries (:745-746).
      .withColumn("canonName",
        when($"emitted" && $"specialRole".isNull && !$"isVacancy", $"inspectorKey"))
      .withColumn("stdRank", stdUdf($"rankAbbr"))
      .withColumn("stdProf", stdUdf($"profAbbr"))
      .withColumn("stdEdu", stdUdf($"eduAbbr"))
      .withColumn("profRefused", $"stdProf".isNotNull && $"stdProf".isin(D.knownEducationsMap.keys.toSeq: _*))
      .withColumn("locKeyCity", stripCityKeyUdf(stdUdf($"cityStd")))
      .withColumn("locKeyGub", stdUdf($"gub"))
      .withColumn("locKeyOkrug", stdUdf($"okrug"))
      .cache()

    // First-seen surrogate keys of one single-key dimension.
    def firstSeenIds(keyed: DataFrame, key: String, idCol: String): DataFrame =
      numberOnDriver(keyed.groupBy(key).agg(min($"orderKey").as("firstSeen")), "firstSeen", idCol)

    // E4/E1: Inspectors — first-seen canonical names over emitted named rows.
    val inspectors = firstSeenIds(
      resolved.where($"canonName".isNotNull).select($"canonName", $"orderKey"),
      "canonName", "InspectorID")
      .select($"InspectorID", $"canonName".as("FullName"), lit(null).cast(StringType).as("Notes"))

    // E1: Ranks / Professions — dictionary-enriched first-seen dims.
    def dotFlex(dict: Map[String, String]) =
      udf((k: String) => if (k == null) None else D.dotFlexGet(dict, k))

    val ranks = firstSeenIds(
      resolved.where($"emitted" && $"stdRank".isNotNull).select($"stdRank", $"orderKey"),
      "stdRank", "RankID")
      .select($"RankID", $"stdRank".as("Abbreviation"),
        dotFlex(D.knownRanksMap)($"stdRank").as("FullName_RU"),
        lit(null).cast(StringType).as("RankType"))

    val professions = firstSeenIds(
      resolved.where($"emitted" && $"stdProf".isNotNull && !$"profRefused").select($"stdProf", $"orderKey"),
      "stdProf", "ProfessionID")
      .select($"ProfessionID", $"stdProf".as("Abbreviation"),
        dotFlex(D.knownProfessionsMap)($"stdProf").as("FullName_RU"))

    // E2: Educations — creation events from the edu slot AND the re-routed
    // refused-profession slot, in that per-assignment order (:759-762).
    val eduEvents = resolved.where($"emitted" && $"stdEdu".isNotNull)
      .select($"stdEdu".as("k"), struct($"orderKey", lit(0).as("sub")).as("orderKey"))
      .unionAll(resolved.where($"emitted" && $"profRefused")
        .select($"stdProf".as("k"), struct($"orderKey", lit(1).as("sub")).as("orderKey")))
    val educations = firstSeenIds(eduEvents, "k", "EducationID")
      .select($"EducationID", $"k".as("Abbreviation"),
        dotFlex(D.knownEducationsMap)($"k").as("FullName_RU"))

    // E3: Locations — null-safe composite key, first-seen per ROW (:717).
    // The stored values come from the row that created the location
    // (:240-245): they ride in the same minimum, after the unique orderKey.
    val locations = numberOnDriver(
      resolved.where($"ord" === 0) // one location probe per surviving row
        .groupBy($"locKeyCity", $"locKeyGub", $"locKeyOkrug")
        .agg(min(struct($"orderKey", $"cityStd", $"gub", $"okrug")).as("firstRow")),
      "firstRow", "LocationID")
      .select($"LocationID",
        pyStripOrNullUdf($"firstRow.cityStd").as("CityName"),
        pyStripOrNullUdf($"firstRow.gub").as("GuberniaName"),
        pyStripOrNullUdf($"firstRow.okrug").as("OkrugName"),
        lit("Город").as("LocationType"),
        $"locKeyCity", $"locKeyGub", $"locKeyOkrug")

    // E6: fact assembly — broadcast dim joins + scale-safe AssignmentID.
    val fact0 = resolved.where($"emitted")
      .withColumn("inspJoinKey", coalesce($"canonName", $"inspectorKey"))
      .withColumn("finalEduKey", when($"profRefused", $"stdProf").otherwise($"stdEdu"))
      .withColumn("finalProfKey", when($"profRefused", lit(null: String)).otherwise($"stdProf"))
    val fact = fact0
      .join(broadcast(inspectors.select($"InspectorID", $"FullName")),
        $"inspJoinKey" === $"FullName", "left")
      .join(broadcast(ranks.select($"RankID", $"Abbreviation".as("rkA"))), $"stdRank" === $"rkA", "left")
      .join(broadcast(professions.select($"ProfessionID", $"Abbreviation".as("pfA"))), $"finalProfKey" === $"pfA", "left")
      .join(broadcast(educations.select($"EducationID", $"Abbreviation".as("edA"))), $"finalEduKey" === $"edA", "left")
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

  /** E1-E4 numbering: collects `df`, sorts it on the driver by `orderCol`
    * in Spark's ascending order (nulls first, struct fields left to right)
    * and appends `idCol` = 1..n, returning a local frame. Same columns and
    * ids as `graft.ops.Ids.sequenceBy(df, Seq(col(orderCol)), idCol)` for
    * an `orderCol` that totally orders the rows. `df` must fit on the
    * driver: it is meant for the dimensions, which E6 broadcasts anyway. */
  private[graft] def numberOnDriver(df: DataFrame, orderCol: String, idCol: String): DataFrame = {
    val i = df.schema.fieldIndex(orderCol)
    val rows = df.collect().sortBy(_.get(i))(ascending(df.schema(i).dataType))
    val numbered = rows.iterator.zipWithIndex
      .map { case (r, n) => Row.fromSeq(r.toSeq :+ (n + 1L)) }.toList
    df.sparkSession.createDataFrame(numbered.asJava, df.schema.add(idCol, LongType, nullable = false))
  }

  /** Spark's ascending sort order, nulls first, over collected values of
    * the types order keys are built from. */
  private def ascending(t: DataType): Ordering[Any] = {
    val nonNull: Ordering[Any] = t match {
      case IntegerType => Ordering.Int.on(_.asInstanceOf[Int])
      case LongType => Ordering.Long.on(_.asInstanceOf[Long])
      case StringType => Ordering.fromLessThan((a, b) =>
        UTF8String.fromString(a.asInstanceOf[String]).compareTo(UTF8String.fromString(b.asInstanceOf[String])) < 0)
      case s: StructType =>
        val fields = s.fields.map(f => ascending(f.dataType))
        (a, b) => {
          val (x, y) = (a.asInstanceOf[Row], b.asInstanceOf[Row])
          fields.indices.iterator.map(k => fields(k).compare(x.get(k), y.get(k))).find(_ != 0).getOrElse(0)
        }
      case other => throw new IllegalArgumentException(s"no driver-side order for $other")
    }
    (a, b) =>
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else nonNull.compare(a, b)
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

/** E5 senior-inspector resolution (:724-744): per-file sequential fold at
  * canonical-name level (InspectorID equality ⇔ canonical-name equality).
  */
object SeniorResolver {

  private def appendNote(notes: String, add: String): String =
    RuText.lstripChars((if (notes == null) "" else notes) + add, "; ")

  def resolveFile(rows: Vector[AsgRow]): Iterator[AsgResolved] = {
    val out = ArrayBuffer[AsgResolved]()
    var curSeg = -1L
    var seniorCache: String = null
    // (okrug, gub) → last emitted senior-role row with an inspector:
    // (inspectorKey, stdRank, stdProf, stdEdu) — the as-of lookup target.
    val lastSenior = scala.collection.mutable.HashMap[(String, String), (String, String, String, String)]()

    for (r <- rows) {
      if (r.segId != curSeg) { curSeg = r.segId; seniorCache = null }
      var inspKey: String = null
      var rankK = r.rankAbbr
      var profK = r.profAbbr
      var eduK = r.eduAbbr
      var notes = r.notes
      var emit = true

      if (!r.isVacancy && (r.name != null || r.specialRole != null)) {
        if (r.specialRole == "старший инспектор") {
          if (seniorCache != null) inspKey = seniorCache // cache hit: no backfill (:726-728)
          else lastSenior.get((r.okrug, r.gub)) match {
            case Some((k, rk, pk, ek)) => // DB as-of hit: backfill (:730-741)
              inspKey = k
              if (rk != null) rankK = rk
              if (pk != null) profK = pk
              if (ek != null) eduK = ek
            case None =>
              notes = appendNote(notes, "; Обслуж. ст.инсп.(ID не найден)")
          }
        } else if (r.name != null) {
          inspKey = RuText.canonicalInspectorName(r.name)
        }
        // :748 — named non-special non-vacancy rows that failed resolution
        // are skipped entirely.
        if (inspKey == null && !r.isVacancy && r.specialRole == null && r.name != null)
          emit = false
      }

      if (emit && r.role == "Старший инспектор" && inspKey != null) {
        seniorCache = inspKey // :751-752
        lastSenior((r.okrug, r.gub)) = (inspKey,
          RuText.standardizeText(rankK), RuText.standardizeText(profK), RuText.standardizeText(eduK))
      }
      out += AsgResolved(
        r.file, r.fileIdx, r.year, r.rowIdx, r.ord,
        r.okrug, r.gub, r.role, r.uchId, r.uchDesc, r.cityStd, r.persRaw,
        inspKey, rankK, profK, eduK,
        r.startDateRaw, r.endDateRaw, r.isVacancy, r.isActing, notes, r.specialRole,
        r.estCount, r.workCount, r.boilCount, emit)
    }
    out.iterator
  }
}
