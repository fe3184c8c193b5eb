package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.etl.{GoldenCheck, ReferenceEtl}

/** End-to-end golden corpus test (SURVEY.md §5.2.3): run the full Spark
  * ETL over the reference corpus and diff all six star-schema tables
  * row-for-row against tools/golden (the output of executing the
  * unmodified reference ETL).
  */
class GoldenEtlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val repo = sys.env.getOrElse("GRAFT_REPO", "/root/repo")
  private val corpus = "/root/reference/diplom"
  private lazy val spark = Sessions.build("golden-etl-spec")

  override def afterAll(): Unit = spark.stop()

  test("full corpus ETL matches the reference's six tables exactly") {
    assume(new java.io.File(corpus).isDirectory, "reference corpus not present")
    val t = ReferenceEtl.run(spark, corpus)
    assert(GoldenCheck.diff("inspectors", t.inspectors, s"$repo/tools/golden/inspectors.json", "InspectorID") == 0)
    assert(GoldenCheck.diff("ranks", t.ranks, s"$repo/tools/golden/ranks.json", "RankID") == 0)
    assert(GoldenCheck.diff("professions", t.professions, s"$repo/tools/golden/professions.json", "ProfessionID") == 0)
    assert(GoldenCheck.diff("educations", t.educations, s"$repo/tools/golden/educations.json", "EducationID") == 0)
    assert(GoldenCheck.diff("locations", t.locations, s"$repo/tools/golden/locations.json", "LocationID") == 0)
    assert(GoldenCheck.diff("assignments", t.assignments, s"$repo/tools/golden/assignments.json", "AssignmentID") == 0)
  }

  test("E5 per-file guard: pathological single-file size fails fast, sane sizes pass") {
    val row = graft.parse.GridRow("f.html", 0, 1901, 0, "data", null, null, Seq("", "", "", ""), null)
    val small = Vector.fill(3)(row)
    assert(graft.etl.ReferenceEtl.guardFileRows("f.html", small) eq small)
    val e = intercept[IllegalArgumentException] {
      // a Vector of one shared row object: large size, no real memory
      graft.etl.ReferenceEtl.guardFileRows("big.html",
        Vector.fill(graft.etl.ReferenceEtl.MaxFileRows + 1)(row))
    }
    assert(e.getMessage.contains("big.html"))
  }

  test("parquet sinks round-trip (S5-S8): partitioned fact readable with same count") {
    assume(new java.io.File(corpus).isDirectory, "reference corpus not present")
    val out = java.nio.file.Files.createTempDirectory("graft-etl-out").toString
    ReferenceEtl.writeAll(spark, corpus, out)
    val fact = spark.read.parquet(s"$out/assignments")
    assert(fact.count() == 4127)
    // Year partition pruning must reach the scan.
    val pruned = fact.where(fact("Year") === 1901)
    assert(pruned.count() == fact.where("Year = 1901").count())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }
}
