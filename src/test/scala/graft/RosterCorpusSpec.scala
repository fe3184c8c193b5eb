package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{EtlQueries, EtlTables, JdbcSink, ReferenceEtl}

/** The committed roster corpus (`src/test/resources/roster-corpus`, see
  * FIXTURES.md §4): generated fixture data, not the reference corpus, so no
  * golden describes it. The registration gate points e01–e06 at it.
  */
object RosterCorpusSpec {
  lazy val Dir: String =
    new java.io.File(getClass.getResource("/roster-corpus").toURI).getPath
}

/** Pins the committed roster corpus's six tables, so that the registration
  * gate's `count() >= 0` over it cannot pass on a broken or empty corpus,
  * and runs the sink tests that need only some ETL output (copies of
  * JdbcSinkSpec's three and GoldenEtlSpec's parquet round trip, which stay
  * bound to the reference corpus).
  *
  * Every expected value below was worked out by hand from the HTML and
  * from the reference-parsed records that the corpus generator placed
  * (`tools/golden/personnel_cases.jsonl`); the dictionary full names are
  * the reference's own (`tools/golden/<table>.json`). The rules applied are
  * those [[ReferenceEtlSpec]] spells out: ids in first-seen order (files by
  * year, rows in file order, records in cell order); each file's leading
  * run of header rows is consumed by the header-offset scan, which leaves
  * every 6-column file's okrug and gubernia at "Неизвестно" and the 1901
  * file's okrug too.
  */
class RosterCorpusSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("roster-corpus-spec")
  private val corpus = RosterCorpusSpec.Dir
  private lazy val t: EtlTables = ReferenceEtl.run(spark, corpus)
  override def afterAll(): Unit = spark.stop()

  private def named(t: EtlTables): Seq[(String, DataFrame, String)] = Seq(
    ("assignments", t.assignments, "AssignmentID"), ("inspectors", t.inspectors, "InspectorID"),
    ("locations", t.locations, "LocationID"), ("ranks", t.ranks, "RankID"),
    ("professions", t.professions, "ProfessionID"), ("educations", t.educations, "EducationID"))

  private def boxed(r: Row, c: String): Option[Long] =
    Option(r.getAs[Any](c)).map(_.toString.toLong)

  private lazy val facts: Map[Long, Row] =
    t.assignments.collect().map(r => r.getAs[Long]("AssignmentID") -> r).toMap

  /** The fact row of `file`'s data row with this uchastok number. */
  private def factAt(file: String, uch: String): Row =
    facts.values.filter(r => r.getAs[String]("SourceFile") == file &&
      r.getAs[String]("UchastokIdentifier") == uch).toSeq match {
      case Seq(r) => r
      case rs => fail(s"$file uchastok $uch: ${rs.size} fact rows")
    }

  private def inspectorId(fullName: String): Long =
    t.inspectors.where(col("FullName") === fullName).collect().toSeq match {
      case Seq(r) => r.getAs[Long]("InspectorID")
      case rs => fail(s"$fullName: ${rs.size} inspectors")
    }

  test("the corpus holds the eleven generated rosters") {
    val files = new java.io.File(corpus).list().sorted.toSeq
    assert(files == Seq(1901, 1902, 1903, 1904, 1905, 1906, 1907, 1909, 1910, 1912, 1913)
      .map(y => s"fabric$y.html"))
  }

  // Row counts, worked out by hand; per file, emitted records are
  // 7, 5, 5, 6, 5, 8, 5, 5, 5, 5, 5.
  private val counts: Map[String, Long] = Map(
    "Assignments" -> 61L, "Inspectors" -> 46L, "Locations" -> 28L,
    "Ranks" -> 19L, "Professions" -> 6L, "Educations" -> 2L)

  test("all six tables are non-empty, with dense ids, and the counts worked out by hand") {
    for ((name, df, id) <- named(t)) {
      val ids = df.select(col(id)).collect().map(_.getLong(0)).sorted.toSeq
      assert(ids.nonEmpty, name)
      assert(ids == (1L to ids.size), name)
      assert(ids.size == counts(name.capitalize), name)
    }
  }

  test("every fact foreign key resolves in its dimension") {
    val fks = Seq(
      "InspectorID" -> t.inspectors.select(col("InspectorID").as("k")),
      "InspectorLocationID" -> t.locations.select(col("LocationID").as("k")),
      "RankID" -> t.ranks.select(col("RankID").as("k")),
      "ProfessionID" -> t.professions.select(col("ProfessionID").as("k")),
      "EducationID" -> t.educations.select(col("EducationID").as("k")))
    for ((fk, dim) <- fks) {
      assert(t.assignments.where(col(fk).isNotNull).count() > 0, fk)
      val dangling = t.assignments.where(col(fk).isNotNull)
        .join(dim, col(fk) === col("k"), "left_anti").count()
      assert(dangling == 0, fk)
    }
  }

  test("dimensions, checked by hand") {
    def pairs(df: DataFrame, id: String, v: String): Map[Long, String] =
      df.select(col(id), col(v)).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    // The only two education-bearing cells: fabric1902 (Сидоровъ) and
    // fabric1909 (Байбаковъ).
    assert(t.educations.collect().map(r => r.getAs[Long]("EducationID") ->
      (r.getAs[String]("Abbreviation"), r.getAs[String]("FullName_RU"))).toMap == Map(
      1L -> ("оконч. с.-петербург полит. инст", "Окончившій С.-Петербургскій Политехническій Институтъ"),
      2L -> ("канд. экон. наук", "Кандидатъ экономическихъ наукъ")))

    // fabric1901, then 1902, then 1903; the vacancy is no inspector.
    assert(pairs(t.inspectors.where(col("InspectorID") <= 13), "InspectorID", "FullName") == Map(
      1L -> "обуховский а.и.", 2L -> "шамонин д.м.", 3L -> "иогансон а.и.", 4L -> "краузе к.к.",
      5L -> "схоль-энгбертс л.л.", 6L -> "песков а.п.", 7L -> "сидоров а.с.", 8L -> "юрьев п.ф.",
      9L -> "хмелев а.и.", 10L -> "гром л.н.", 11L -> "шебякин а.в.", 12L -> "левандовский и.н.",
      13L -> "герасимов г.м."))

    val ranks = t.ranks.where(col("RankID") <= 3).collect().map(r => r.getAs[Long]("RankID") ->
      (r.getAs[String]("Abbreviation"), r.getAs[String]("FullName_RU"))).toMap
    assert(ranks == Map(
      1L -> ("тит. с.", "Титулярный совѣтникъ"),
      2L -> ("к. а.", "Коллежскій асессоръ"),
      3L -> ("к. с.", "Коллежскій совѣтникъ")))

    assert(pairs(t.professions, "ProfessionID", "Abbreviation") == Map(
      1L -> "инж.-тех", 2L -> "д-р мед", 3L -> "инж.-техн", 4L -> "техн", 5L -> "инж.-мех", 6L -> "тех."))
    assert(pairs(t.professions, "ProfessionID", "FullName_RU")(1L) == "Инженеръ-технологъ")

    // The 1901 header keeps its gubernia; every 6-column file's is consumed.
    // Митава in 1903 has 1902's key; Серпуховъ in 1903 does not have 1901's.
    val unknown = "Неизвестно"
    val locations = t.locations.where(col("LocationID") <= 8).collect()
      .map(r => r.getAs[Long]("LocationID") ->
        (r.getAs[String]("CityName"), r.getAs[String]("GuberniaName"), r.getAs[String]("OkrugName")))
      .toMap
    assert(locations == Map(
      1L -> ("серпухов", "казанская губерния", unknown),
      2L -> ("твер", "казанская губерния", unknown),
      3L -> ("митава", unknown, unknown),
      4L -> ("радом", unknown, unknown),
      5L -> ("одесса", unknown, unknown),
      6L -> ("харьков", unknown, unknown),
      7L -> ("серпухов", unknown, unknown),
      8L -> ("нижний-новгород", unknown, unknown)))
  }

  test("fact rows, checked by hand") {
    // AssignmentID -> (InspectorID, InspectorLocationID, RankID, ProfessionID, IsVacancy)
    def keys(id: Long) = {
      val r = facts(id)
      (boxed(r, "InspectorID"), boxed(r, "InspectorLocationID"), boxed(r, "RankID"),
        boxed(r, "ProfessionID"), r.getAs[Boolean]("IsVacancy"))
    }
    // fabric1901: the senior row and the next share a rowspan "Старшій
    // инспекторъ." with no senior before it; the third cell explodes to three.
    assert(keys(1) == (None, Some(1L), None, None, false))
    assert(facts(1).getAs[String]("PositionRole") == "Старший инспектор")
    assert(facts(1).getAs[String]("AssignmentNotes") == "Обслуж. ст.инсп.(ID не найден)")
    assert(keys(2) == (None, Some(1L), None, None, false))
    assert(facts(2).getAs[String]("UchastokIdentifier") == "Вся губернія")
    assert(keys(3) == (Some(1L), Some(1L), Some(1L), Some(1L), false))
    assert(facts(3).getAs[String]("EndDateInYearRaw") == "до 16 августа")
    assert(keys(4) == (None, Some(1L), None, None, true))
    assert((facts(4).getAs[String]("StartDateInYearRaw"), facts(4).getAs[String]("EndDateInYearRaw")) ==
      ("с 16 августа", "по 17 ноября"))
    assert(keys(5) == (Some(2L), Some(1L), Some(2L), Some(1L), false))
    assert(keys(6) == (Some(3L), Some(1L), Some(2L), Some(1L), false))
    assert(keys(7) == (Some(4L), Some(2L), Some(3L), Some(1L), false))
    assert(facts.values.count(_.getAs[Int]("Year") == 1901) == 7)

    // fabric1902: dot, comma and space thousands, "—" as NULL.
    def stats(id: Long) = Seq("EstablishmentsCount", "WorkerCount", "BoilerCount")
      .map(c => Option(facts(id).getAs[Integer](c)).map(_.intValue))
    assert(keys(8) == (Some(5L), Some(3L), Some(4L), Some(1L), false))
    assert(facts(8).getAs[String]("SourceFile") == "fabric1902.html")
    assert(stats(8) == Seq(Some(3612), None, Some(6337)))
    assert(boxed(facts(9), "InspectorLocationID") == Some(3L)) // location rowspan
    assert(stats(9) == Seq(Some(4092), Some(8508), Some(886)))
    assert((boxed(facts(10), "EducationID"), boxed(facts(10), "ProfessionID")) == (Some(1L), None))
    assert(stats(10) == Seq(Some(449), Some(2476), Some(1572)))

    // fabric1903: "»" repeats both the city and the last record.
    assert(keys(15)._1 == Some(12L) && keys(15)._2 == Some(8L))
    assert(keys(17)._1 == Some(13L) && keys(17)._2 == Some(3L))
  }

  test("back-references and cross-file identities, checked by hand") {
    // Senior cache hits take the segment's senior, with no backfill.
    val malyshev = inspectorId("малышев в.в.")
    assert(boxed(factAt("fabric1904.html", "4"), "InspectorID") == Some(malyshev))
    assert(boxed(factAt("fabric1904.html", "4"), "RankID") == None)
    assert(boxed(factAt("fabric1905.html", "1"), "InspectorID") == Some(inspectorId("островский л.с.")))
    // No senior anywhere in fabric1910: the back-reference stays unresolved.
    val orphan = factAt("fabric1910.html", "4")
    assert(boxed(orphan, "InspectorID") == None)
    assert(orphan.getAs[String]("AssignmentNotes") == "Обслуж. ст.инсп.(ID не найден)")
    // A personnel "»" repeats the record with its education.
    val baibakov = inspectorId("байбаков в.н.")
    for (uch <- Seq("1", "2")) {
      val r = factAt("fabric1909.html", uch)
      assert((boxed(r, "InspectorID"), boxed(r, "EducationID")) == (Some(baibakov), Some(2L)), uch)
    }
    // The same canonical name in another year is the same inspector.
    assert(boxed(factAt("fabric1906.html", "3"), "InspectorID") == Some(10L))
    assert(t.assignments.where(col("SourceFile") === "fabric1913.html" &&
      col("InspectorID") === malyshev).count() == 1)
  }

  test("EtlQueries reads the corpus named by the session conf, not a cached one") {
    val other = java.nio.file.Files.createTempDirectory("graft-roster-1901")
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(corpus, "fabric1901.html"), other.resolve("fabric1901.html"))
      val e01 = EtlQueries.queries.find(_.name == "e01_etl_assignments").get
      def assignments(dir: String): Long = {
        spark.conf.set(EtlQueries.CorpusConf, dir)
        try e01.fn(spark, "").count() finally spark.conf.unset(EtlQueries.CorpusConf)
      }
      assert(assignments(corpus) == counts("Assignments"))
      assert(assignments(other.toString) == 7)
      assert(assignments(corpus) == counts("Assignments"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(other.toFile)
  }

  // Copies of GoldenEtlSpec's and JdbcSinkSpec's corpus-only tests, on
  // this corpus; none compares against a golden.

  test("parquet sinks round-trip (S5-S8): partitioned fact readable with same count") {
    val out = java.nio.file.Files.createTempDirectory("graft-roster-out").toString
    ReferenceEtl.writeAll(spark, corpus, out)
    val fact = spark.read.parquet(s"$out/assignments")
    assert(fact.count() == counts("Assignments"))
    // Year partition pruning must reach the scan.
    val pruned = fact.where(fact("Year") === 1901)
    assert(pruned.count() == fact.where("Year = 1901").count())
    assert(pruned.count() == 7)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("ETL tables round-trip through df.write.jdbc (embedded Derby)") {
    val url = "jdbc:derby:memory:graftrosterdb;create=true"
    JdbcSink.writeAll(t, url)

    counts.foreach { case (name, n) =>
      assert(JdbcSink.readTable(spark, url, name).count() == n, name)
    }

    // content check on a full dim: set-equal with the in-memory table,
    // including Cyrillic text surviving the JDBC round trip
    import spark.implicits._
    val written = JdbcSink.readTable(spark, url, "Ranks")
      .select($"RankID".cast("long"), $"Abbreviation", $"FullName_RU")
      .as[(Long, String, String)].collect().toSet
    val expected = t.ranks
      .select($"RankID", $"Abbreviation", $"FullName_RU")
      .as[(Long, String, String)].collect().toSet
    assert(written == expected)

    // and on the fact table: every column of every row survives (CLOB
    // text, booleans, nullable ints) — keyed compare on AssignmentID
    def canon(df: DataFrame): Map[Long, String] =
      df.collect().map { r =>
        val m = r.getValuesMap[Any](df.columns.toSeq)
        m("AssignmentID").toString.toLong ->
          df.columns.sorted.map(c => s"$c=${Option(m(c)).map(_.toString).getOrElse("<NULL>")}").mkString("|")
      }.toMap
    val factBack = canon(JdbcSink.readTable(spark, url, "Assignments")
      .withColumn("AssignmentID", $"AssignmentID".cast("long")))
    val factRef = canon(t.assignments)
    assert(factBack.size == factRef.size)
    val diff = factRef.keys.filter(k => factBack(k) != factRef(k)).take(3)
    assert(diff.isEmpty, s"fact rows differ after JDBC round trip: ${diff.toList}")
  }

  test("PostgreSQL dialect emits the reference DDL's type mappings") {
    val pg = "jdbc:postgresql://host/db"
    val ddl = JdbcSink.starSchemaDdl(t, pg)
    val byTable = ddl.map(s => s.split(" ")(2) -> s).toMap
    def colDef(tbl: String, c: String): String =
      byTable(tbl).split(", ").find(_.contains(s""""$c" """))
        .getOrElse(fail(s"no column $c in ${byTable(tbl)}"))

    // TEXT for the reference's TEXT columns (populate_db_ru_v1.py:162,166)
    assert(colDef("Inspectors", "Notes").contains(""""Notes" TEXT"""))
    assert(colDef("Assignments", "PersonnelRawString").contains("TEXT"))
    assert(colDef("Assignments", "AssignmentNotes").contains("TEXT"))
    // BOOLEAN for the flag columns (:166 IsActing/IsVacancy BOOLEAN)
    assert(colDef("Assignments", "IsActing").contains("BOOLEAN"))
    assert(colDef("Assignments", "IsVacancy").contains("BOOLEAN"))
    // every dim id is a PRIMARY KEY; every fact FK column REFERENCES its
    // dim and stays NULLable (:166 "InspectorID INT NULL REFERENCES …")
    assert(byTable("Ranks").contains("""PRIMARY KEY ("RankID")"""))
    assert(byTable("Assignments").contains("""PRIMARY KEY ("AssignmentID")"""))
    Seq("InspectorID" -> "Inspectors", "InspectorLocationID" -> "Locations",
      "RankID" -> "Ranks", "ProfessionID" -> "Professions",
      "EducationID" -> "Educations").foreach { case (c, dim) =>
      assert(byTable("Assignments").contains(s"""FOREIGN KEY ("$c") REFERENCES $dim"""),
        s"missing FK $c -> $dim")
      assert(!colDef("Assignments", c).contains("NOT NULL"),
        s"FK column $c must stay nullable: ${colDef("Assignments", c)}")
    }
    // Derby maps the same logical schema to its own types — the dialect
    // is the ONLY thing the URL changes
    val derbyDdl = JdbcSink.starSchemaDdl(t, "jdbc:derby:memory:x").head
    assert(derbyDdl.contains(""""Notes" CLOB"""))
  }

  test("pre-created constrained schema (starSchemaDdl) accepts an append load on Derby") {
    val url = "jdbc:derby:memory:graftrosterddl;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      JdbcSink.starSchemaDdl(t, url).foreach(st.execute)
      // the FK constraints are real: a fact row pointing at a
      // nonexistent rank must be rejected by the engine
      // provide every NOT NULL column so the ONLY violation is the FK
      val bogus =
        """INSERT INTO Assignments ("AssignmentID", "Year", "SourceFile",
          |"OkrugName", "GuberniaName", "PositionRole", "IsActing",
          |"IsVacancy", "RankID")
          |VALUES (999999, 1901, 'f', 'o', 'g', 'r', FALSE, FALSE, 999999)""".stripMargin
      val e = intercept[java.sql.SQLException](st.execute(bogus))
      assert(e.getSQLState == "23503", s"expected FK violation, got: $e")
      st.close()
    } finally conn.close()
    // dims-first append order satisfies the FKs; every table lands whole
    JdbcSink.writeAll(t, url, mode = "append")
    counts.foreach { case (name, n) =>
      assert(JdbcSink.readTable(spark, url, name).count() == n, name)
    }
  }
}
