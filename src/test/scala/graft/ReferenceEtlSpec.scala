package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.etl.{AsgResolved, EtlTables, ReferenceEtl}
import graft.ops.Ids
import graft.text.{Dictionaries => D, RuText}

/** The reference ETL end to end on a two-file corpus written inline, so it
  * runs without the real corpus that [[GoldenEtlSpec]] is bound to.
  *
  * The corpus has one 1901 4-column file and one 1910 6-column file, with
  * `»` ditto marks for a location and for a personnel cell, a location and
  * a personnel rowspan, an inspector (Гаринъ) in both files, and two
  * `Старшій инспекторъ.` back-references to him. Each file's first body
  * header rows are consumed by the header-offset scan, which is why most
  * rows read okrug "Неизвестно" (the reference's own quirk).
  *
  * Surrogate keys follow first-seen order: files by year, rows in file
  * order, records in cell order. The expected ids below were worked out by
  * hand from the HTML in that order.
  */
class ReferenceEtlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("reference-etl-spec")

  private val Fabric1901 =
    """<html><body><table>
      |<thead><tr><th>Губернія</th><th>Должность</th><th>Мѣстопребываніе</th><th>Личный составъ</th></tr></thead>
      |<tbody>
      |<tr class="okrug-header"><td>Московскій фабричный округъ.</td><td></td><td></td><td></td></tr>
      |<tr class="okrug-header"><td>Московскій фабричный округъ.</td><td></td><td></td><td></td></tr>
      |<tr class="gubernia-header"><td>Московская губернія.</td><td></td><td></td><td></td></tr>
      |<tr><td></td><td>Старшій фабричный инспекторъ.</td><td>Москва.</td><td>Инж.-тех. Н. С. В. П. Гаринъ.</td></tr>
      |<tr><td></td><td>1 участокъ.</td><td rowspan="2">Серпуховъ.</td><td>Тех. К. Асс. Ф. И. Алексѣевъ.</td></tr>
      |<tr><td></td><td>2 участокъ.</td><td>Старшій инспекторъ.</td></tr>
      |<tr><td></td><td>3 участокъ.</td><td>»</td><td>Инж.-мех. Г. С. В. К. Славинъ.</td></tr>
      |</tbody></table></body></html>
      |""".stripMargin

  private val Fabric1910 =
    """<html><body><table>
      |<thead><tr><th>Участки</th><th>Заведеній</th><th>Рабочихъ</th><th>Котловъ</th><th>Мѣстопребываніе</th><th>Личный составъ</th></tr></thead>
      |<tbody>
      |<tr class="okrug-header"><td colspan="6">Московскій фабричный округъ.</td></tr>
      |<tr class="okrug-header"><td colspan="6">Московскій фабричный округъ.</td></tr>
      |<tr class="gubernia-header"><td colspan="6">Тверская губернія.</td></tr>
      |<tr class="senior-inspector"><td>Старшій фабричный инспекторъ.</td><td>—</td><td>—</td><td>—</td><td>Тверь,</td><td>Инж.-тех. Н. С. В. П. Гаринъ.</td></tr>
      |<tr><td>1 участокъ.</td><td>1.234</td><td>56</td><td>7</td><td>Тверь</td><td rowspan="2">Инж.-тех. тт. С. Н. А. Шевалевъ.</td></tr>
      |<tr><td>2 участокъ.</td><td>10</td><td>20</td><td>3</td><td>»</td></tr>
      |<tr><td>3 участокъ.</td><td>5</td><td>6</td><td>—</td><td>Вышній-Волочекъ.</td><td>»</td></tr>
      |<tr><td>4 участокъ.</td><td>8</td><td>9</td><td>1</td><td>Тверь.</td><td>Инст. Н. С. И. И. Ивановъ.</td></tr>
      |<tr><td>5 участокъ.</td><td>2</td><td>4</td><td>—</td><td>Тверь.</td><td>Старшій инспекторъ.</td></tr>
      |<tr class="okrug-header"><td colspan="6">Владимірскій фабричный округъ.</td></tr>
      |<tr class="gubernia-header"><td colspan="6">Владимірская губернія.</td></tr>
      |<tr><td>1 участокъ.</td><td>3</td><td>4</td><td>5</td><td>Шуя.</td><td>Тех. К. Ск. Ф. Е. Цвернеръ.</td></tr>
      |<tr><td>2 участокъ.</td><td>6</td><td>7</td><td>—</td><td>Шуя</td><td>Инж.-мех. г. ск. Ф. И. Котляровъ.</td></tr>
      |</tbody></table></body></html>
      |""".stripMargin

  // The context fills' scoping edges, in a file of its own (rowIdx from 0
  // after the two consumed okrug headers): row 0 has no city and none
  // before it, so it is dropped and its Гаринъ does not feed row 1's "»",
  // which is dropped too; row 3 repeats row 2's city and record; the
  // gubernia header at row 4 starts a segment, so row 5's "»" has no
  // memory; the okrug header at row 7 resets the gubernia, while the city
  // ditto (row 9) spans the whole file.
  private val Fabric1902 =
    """<html><body><table>
      |<thead><tr><th>Участки</th><th>Заведеній</th><th>Рабочихъ</th><th>Котловъ</th><th>Мѣстопребываніе</th><th>Личный составъ</th></tr></thead>
      |<tbody>
      |<tr class="okrug-header"><td colspan="6">Московскій фабричный округъ.</td></tr>
      |<tr class="okrug-header"><td colspan="6">Московскій фабричный округъ.</td></tr>
      |<tr><td>1 участокъ.</td><td>1</td><td>2</td><td>3</td><td></td><td>Инж.-тех. Н. С. В. П. Гаринъ.</td></tr>
      |<tr><td>2 участокъ.</td><td>4</td><td>5</td><td>6</td><td>Тверь.</td><td>»</td></tr>
      |<tr><td>3 участокъ.</td><td>7</td><td>8</td><td>9</td><td>Тверь.</td><td>Тех. К. Асс. Ф. И. Алексѣевъ.</td></tr>
      |<tr><td>4 участокъ.</td><td>1</td><td>1</td><td>1</td><td>»</td><td>»</td></tr>
      |<tr class="gubernia-header"><td colspan="6">Тверская губернія.</td></tr>
      |<tr><td>5 участокъ.</td><td>2</td><td>2</td><td>2</td><td>Кашинъ.</td><td>»</td></tr>
      |<tr><td>6 участокъ.</td><td>3</td><td>3</td><td>3</td><td>Кашинъ.</td><td>Инж.-мех. Г. С. В. К. Славинъ.</td></tr>
      |<tr class="okrug-header"><td colspan="6">Владимірскій фабричный округъ.</td></tr>
      |<tr><td>1 участокъ.</td><td>4</td><td>4</td><td>4</td><td>Шуя.</td><td>Тех. К. Ск. Ф. Е. Цвернеръ.</td></tr>
      |<tr><td>2 участокъ.</td><td>5</td><td>5</td><td>5</td><td>»</td><td>»</td></tr>
      |</tbody></table></body></html>
      |""".stripMargin

  private def corpusOf(files: (String, String)*): Path = {
    val dir = Files.createTempDirectory("graft-mini-corpus")
    for ((name, html) <- files) Files.write(dir.resolve(name), html.getBytes(UTF_8))
    dir
  }

  private lazy val corpus: Path =
    corpusOf("fabric1901.html" -> Fabric1901, "fabric1910.html" -> Fabric1910)
  private lazy val edgeCorpus: Path = corpusOf("fabric1902.html" -> Fabric1902)

  private lazy val tables: EtlTables = ReferenceEtl.run(spark, corpus.toString)

  private def named(t: EtlTables): Seq[(String, DataFrame, String)] = Seq(
    ("assignments", t.assignments, "AssignmentID"), ("inspectors", t.inspectors, "InspectorID"),
    ("locations", t.locations, "LocationID"), ("ranks", t.ranks, "RankID"),
    ("professions", t.professions, "ProfessionID"), ("educations", t.educations, "EducationID"))

  override def afterAll(): Unit = {
    spark.stop()
    for (dir <- Seq(corpus, edgeCorpus)) org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("surrogate ids of all six tables are dense and unique") {
    for ((name, df, id) <- named(tables)) {
      val ids = df.select(col(id)).collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == (1L to ids.size), name)
    }
    assert(tables.assignments.count() == 12)
  }

  test("every fact foreign key resolves in its dimension") {
    val fks = Seq(
      "InspectorID" -> tables.inspectors.select(col("InspectorID").as("k")),
      "InspectorLocationID" -> tables.locations.select(col("LocationID").as("k")),
      "RankID" -> tables.ranks.select(col("RankID").as("k")),
      "ProfessionID" -> tables.professions.select(col("ProfessionID").as("k")),
      "EducationID" -> tables.educations.select(col("EducationID").as("k")))
    for ((fk, dim) <- fks) {
      val dangling = tables.assignments.where(col(fk).isNotNull)
        .join(dim, col(fk) === col("k"), "left_anti").count()
      assert(dangling == 0, fk)
    }
  }

  test("first-seen ids, checked by hand") {
    def pairs(df: DataFrame, id: String, v: String): Map[Long, String] =
      df.select(col(id), col(v)).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    assert(pairs(tables.inspectors, "InspectorID", "FullName") == Map(
      1L -> "гарин в.п.", 2L -> "алексеев и.ф.", 3L -> "славин в.к.", 4L -> "шевалев а.н.",
      5L -> "иванов и.и.", 6L -> "цвернер е.ф.", 7L -> "котляров и.ф."))
    assert(pairs(tables.ranks, "RankID", "Abbreviation") == Map(
      1L -> "н. с.", 2L -> "к. асс", 3L -> "г. с.", 4L -> "тт. с.", 5L -> "к. ск", 6L -> "г. ск"))
    assert(pairs(tables.professions, "ProfessionID", "Abbreviation") == Map(
      1L -> "инж.-тех", 2L -> "тех.", 3L -> "инж.-мех"))
    assert(pairs(tables.educations, "EducationID", "Abbreviation") == Map(1L -> "инст"))

    // Location 5 is first seen at "Шуя." and again at "Шуя" (same key):
    // its stored city keeps the first row's dot. Location 3 is first seen
    // at "Тверь,", then "Тверь", a "»" ditto and "Тверь." share it.
    val locations = tables.locations.collect()
      .map(r => r.getAs[Long]("LocationID") ->
        (r.getAs[String]("CityName"), r.getAs[String]("GuberniaName"), r.getAs[String]("OkrugName")))
      .toMap
    assert(locations == Map(
      1L -> ("москва", "московская губерния", "Неизвестно"),
      2L -> ("серпухов", "московская губерния", "Неизвестно"),
      3L -> ("твер", "Неизвестно", "Неизвестно"),
      4L -> ("вышний-волочек", "Неизвестно", "Неизвестно"),
      5L -> ("шуя.", "владимирская губерния", "владимирский фабричный округ")))

    // AssignmentID -> (InspectorID, InspectorLocationID, RankID).
    def boxed(r: Row, c: String): Option[Long] = Option(r.getAs[java.lang.Long](c)).map(_.longValue)
    val facts = tables.assignments.collect().map(r => r.getAs[Long]("AssignmentID") ->
      (boxed(r, "InspectorID"), boxed(r, "InspectorLocationID"), boxed(r, "RankID"))).toMap
    assert(facts(1) == (Some(1L), Some(1L), Some(1L)))
    assert(facts(3) == (Some(1L), Some(2L), None)) // back-reference; location from the rowspan
    assert(facts(4) == (Some(3L), Some(2L), Some(3L))) // location "»" ditto
    assert(facts(5) == (Some(1L), Some(3L), Some(1L))) // Гаринъ again, in the second file
    assert(facts(7) == (Some(4L), Some(3L), Some(4L))) // personnel rowspan, location ditto
    assert(facts(8) == (Some(4L), Some(4L), Some(4L))) // personnel "»" ditto
    assert(facts(10) == (Some(1L), Some(3L), None)) // back-reference
    assert(facts(12) == (Some(7L), Some(5L), Some(6L)))
  }

  test("context fills: segment-scoped personnel ditto, city-less rows dropped first, okrug header resets gubernia") {
    val rows = ReferenceEtl.resolvedAssignments(spark, edgeCorpus.toString).collect()
      .map(r => (r.rowIdx, r.ord, r.okrug, r.gub, r.cityStd, r.inspectorKey, r.emitted))
      .sortBy(r => (r._1, r._2)).toSeq
    val (unknown, vlad) = ("Неизвестно", "владимирский фабричный округ")
    assert(rows == Seq(
      (2, 0, unknown, unknown, "твер", "алексеев и.ф.", true),
      (3, 0, unknown, unknown, "твер", "алексеев и.ф.", true), // city and personnel "»"
      (6, 0, unknown, "тверская губерния", "кашин", "славин в.к.", true),
      (8, 0, vlad, unknown, "шуя.", "цвернер е.ф.", true),
      (9, 0, vlad, unknown, "шуя.", "цвернер е.ф.", true)))
  }

  test("resolvedAssignments runs as one narrow stage: no Window, no Exchange") {
    val ds = ReferenceEtl.resolvedAssignments(spark, corpus.toString)
    ds.collect()
    val plan = ds.queryExecution.executedPlan.toString
    assert(graft.tools.HeadlinePlans.countNode(plan, "Window") == 0, plan)
    assert(graft.tools.HeadlinePlans.countNode(plan, "Exchange") == 0, plan)
  }

  test("no profession abbreviation is an education one, so parsed HTML cannot carry a refused profession") {
    // E2 re-routes a profession whose standardized key is an education key
    // (reference :759-762). The parser only yields profession keys and a
    // senior backfill repeats a standardized one; no such key is an
    // education key, so ReferenceEtl omits that re-route.
    val (prof, edu) = (D.knownProfessionsMap.keySet, D.knownEducationsMap.keySet)
    val stdProf = prof.map(RuText.standardizeText)
    assert(prof.intersect(edu).isEmpty)
    assert(stdProf.intersect(edu).isEmpty)
    assert(stdProf.map(RuText.standardizeText) == stdProf) // a re-standardized backfill stays in the set
  }

  test("the ETL's queries run no per-row UDF, cached rows included") {
    // The dimensions are local frames, so the fact table is the one query
    // over the corpus. Its optimized plan reads the cached rows (the plan
    // behind the InMemoryRelation holds the per-file parse), with no RDD
    // scan and no join: the dimension ids are map lookups.
    def udfs(plan: QueryPlan[_]): Seq[String] =
      plan.expressions.flatMap(_.collect { case u: ScalaUDF => u.toString }) ++
        (plan.children ++ plan.innerChildren).flatMap {
          case p: QueryPlan[_] => udfs(p)
          case _ => Nil
        } ++ (plan match {
          case m: InMemoryRelation => udfs(m.cachedPlan)
          case _ => Nil
        })
    val plan = tables.assignments.queryExecution.optimizedPlan
    assert(plan.exists(_.isInstanceOf[InMemoryRelation]), plan)
    assert(!plan.exists(_.isInstanceOf[LogicalRDD]), plan)
    assert(!plan.exists(_.isInstanceOf[Join]), plan)
    assert(udfs(plan).isEmpty, plan)
  }

  test("a writeAll runs at most 10 Spark jobs") {
    val out = Files.createTempDirectory("graft-mini-jobs")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      ReferenceEtl.writeAll(spark, corpus.toString, out.toString)
      // Listener events arrive in order: once the marker job is seen,
      // every writeAll job has been counted.
      sc.setJobDescription("marker")
      try spark.range(1).collect() finally sc.setJobDescription(null)
      eventually(timeout(Span(60, Seconds))) { assert(jobs.contains("marker")) }
      val n = jobs.asScala.count(_ != "marker")
      assert(n > 0 && n <= 10, s"$n jobs")
    } finally {
      sc.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    }
  }

  test("the six tables keep their columns, types and nullability") {
    // "!" marks a non-nullable column.
    def sig(df: DataFrame) = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}${if (f.nullable) "" else "!"}").mkString(",")
    assert(named(tables).map { case (name, df, _) => name -> sig(df) } == Seq(
      "assignments" -> ("AssignmentID:bigint!,InspectorID:bigint,Year:int!,SourceFile:string," +
        "OkrugName:string,GuberniaName:string,PositionRole:string,UchastokIdentifier:string," +
        "UchastokDescription:string,InspectorLocationID:bigint,PersonnelRawString:string," +
        "RankID:bigint,ProfessionID:bigint,EducationID:bigint,StartDateInYearRaw:string," +
        "EndDateInYearRaw:string,IsActing:boolean!,IsVacancy:boolean!,AssignmentNotes:string," +
        "EstablishmentsCount:int,WorkerCount:int,BoilerCount:int"),
      "inspectors" -> "InspectorID:bigint!,FullName:string,Notes:string",
      "locations" -> "LocationID:bigint!,CityName:string,GuberniaName:string,OkrugName:string,LocationType:string!",
      "ranks" -> "RankID:bigint!,Abbreviation:string,FullName_RU:string,RankType:string",
      "professions" -> "ProfessionID:bigint!,Abbreviation:string,FullName_RU:string",
      "educations" -> "EducationID:bigint!,Abbreviation:string,FullName_RU:string"))
  }

  test("only exact fabricYYYY.html names are rosters") {
    val dir = corpusOf("fabric1901.html" -> Fabric1901, "xfabric1910.html" -> Fabric1910,
      "fabric1910.html.bak" -> Fabric1910)
    try {
      val years = ReferenceEtl.resolvedAssignments(spark, dir.toString).collect().map(_.year).toSet
      assert(years == Set(1901))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("two roster files of one year fail by name instead of sharing AssignmentIDs") {
    val root = Files.createTempDirectory("graft-dup-year")
    try {
      for (sub <- Seq("a", "b")) {
        Files.createDirectories(root.resolve(sub))
        Files.write(root.resolve(sub).resolve("fabric1910.html"), Fabric1910.getBytes(UTF_8))
      }
      val e = intercept[IllegalArgumentException](ReferenceEtl.run(spark, s"$root/*"))
      assert(e.getMessage.contains("2 roster files share the year 1910"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("writeAll writes run's six tables and releases its cached rows") {
    val out = Files.createTempDirectory("graft-mini-out")
    try {
      def persisted = spark.sparkContext.getPersistentRDDs.size
      val before = persisted
      ReferenceEtl.writeAll(spark, corpus.toString, out.toString)
      val after = persisted
      assert(after == before, "writeAll left its cached rows persisted")
      for ((name, df, _) <- named(tables)) {
        val back = spark.read.parquet(s"$out/$name").select(df.columns.map(col): _*)
        assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0, name)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }

  test("driver ids and offset(year)+seq equal Ids.sequenceBy") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // Random files: distinct years, gaps in rowIdx, 0-3 records per grid
    // row, random emit flags, keys from small pools with nulls. `persRaw`
    // names the row, and a location's stored names are its key.
    val key = Gen.oneOf[String](null, "a", "b", "б", "～", "😀")
    val record = Gen.zip(Gen.prob(0.7), key, key, key, key, key) // emit, canon, insp, rank, prof, edu
    val gridRow = for {
      gap <- Gen.chooseNum(1, 3); loc <- Gen.zip(key, key, key)
      recs <- Gen.chooseNum(0, 3).flatMap(Gen.listOfN(_, record))
    } yield (gap, loc, recs)
    val file = for (n <- Gen.chooseNum(0, 6); rows <- Gen.listOfN(n, gridRow)) yield rows
    val corpusGen = for {
      years <- Gen.someOf(1900 to 1915); files <- Gen.listOfN(years.size, file)
    } yield years.toSeq.zip(files)
    // seq is derived here, so a shrunk corpus stays consistent.
    def resolvedOf(c: Seq[(Int, List[(Int, (String, String, String),
        List[(Boolean, String, String, String, String, String)])])]): Seq[AsgResolved] =
      c.flatMap { case (year, rows) =>
        var (rowIdx, seq) = (0, 0)
        rows.flatMap { case (gap, (lc, lg, lo), recs) =>
          rowIdx += gap
          recs.zipWithIndex.map { case ((emit, canon, insp, rank, prof, edu), ord) =>
            if (emit) seq += 1
            AsgResolved(s"fabric$year.html", year, rowIdx, ord, "o", "g", "r", null, null,
              lc, s"$year/$rowIdx/$ord", if (emit) Option(canon).getOrElse(insp) else insp,
              if (emit) canon else null, rank, prof, edu, lc, lg, lo, lg, lo,
              null, null, false, false, null, null, null, null, null, emit, seq)
          }
        }
      }
    def ids(df: DataFrame, idCol: String, keys: String*): Map[Seq[String], Long] =
      df.collect().map(r => keys.map(r.getAs[String]) -> r.getAs[Long](idCol)).toMap
    val prop = Prop.forAll(corpusGen) { c =>
      val rs = spark.createDataset(resolvedOf(c)).toDF()
        .withColumn("orderKey", struct(col("year"), col("rowIdx"), col("ord")))
      val t = ReferenceEtl.starSchema(rs)
      def viaIds(rows: DataFrame, keys: String*): Map[Seq[String], Long] =
        ids(Ids.sequenceBy(rows.groupBy(keys.map(col): _*).agg(min("orderKey").as("firstSeen")),
          Seq(col("firstSeen")), "id"), "id", keys: _*)
      val emitted = rs.where(col("emitted"))
      val inspectors = viaIds(rs.where(col("canonName").isNotNull), "canonName")
      val locations = viaIds(rs.where(col("ord") === 0), "locKeyCity", "locKeyGub", "locKeyOkrug")
      val facts = t.assignments.collect().map(r => r.getAs[String]("PersonnelRawString") -> r).toMap
      val factIds = ids(Ids.sequenceBy(emitted, Seq(col("orderKey")), "id"), "id", "persRaw")
      def fk(r: Row, c: String) = Option(r.getAs[java.lang.Long](c)).map(_.longValue)
      val fksResolve = emitted.collect().forall { r =>
        val f = facts(r.getAs[String]("persRaw"))
        fk(f, "InspectorID") == inspectors.get(Seq(r.getAs[String]("inspectorKey"))) &&
          fk(f, "InspectorLocationID") ==
            locations.get(Seq("locKeyCity", "locKeyGub", "locKeyOkrug").map(r.getAs[String]))
      }
      def dictIds(key: String) = viaIds(emitted.where(col(key).isNotNull), key)
      ids(t.inspectors, "InspectorID", "FullName") == inspectors &&
        ids(t.ranks, "RankID", "Abbreviation") == dictIds("stdRank") &&
        ids(t.professions, "ProfessionID", "Abbreviation") == dictIds("stdProf") &&
        ids(t.educations, "EducationID", "Abbreviation") == dictIds("stdEdu") &&
        ids(t.locations, "LocationID", "CityName", "GuberniaName", "OkrugName") == locations &&
        facts.view.mapValues(_.getAs[Long]("AssignmentID")).toMap == factIds.map { case (k, v) => k.head -> v } &&
        fksResolve
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }
}
