package graft.etl

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

/** Dev harness: run the full ETL over the reference corpus and diff every
  * table row-for-row against the golden fixtures (tools/golden, produced by
  * executing the unmodified reference). Exit 0 iff all six tables match.
  */
object GoldenCheck {

  private val mapper = new ObjectMapper()

  private def loadGolden(path: String): Vector[Map[String, Any]] = {
    val root = mapper.readTree(new java.io.File(path))
    root.elements().asScala.map { n =>
      n.properties().asScala.map { e =>
        val v: Any = e.getValue match {
          case x if x.isNull => null
          case x if x.isBoolean => x.asBoolean()
          case x if x.isIntegralNumber => x.asLong()
          case x => x.asText()
        }
        e.getKey -> v
      }.toMap
    }.toVector
  }

  private def rowToMap(df: DataFrame)(r: Row): Map[String, Any] =
    df.columns.zipWithIndex.map { case (c, i) =>
      val v: Any = r.get(i) match {
        case null => null
        case b: Boolean => b
        case n: Int => n.toLong
        case n: Long => n
        case s: String => s
        case x => x.toString
      }
      c -> v
    }.toMap

  def diff(name: String, df: DataFrame, goldenPath: String, idCol: String): Int = {
    val golden = loadGolden(goldenPath).sortBy(_(idCol).asInstanceOf[Long])
    val actual = df.collect().map(rowToMap(df)).sortBy(_(idCol).asInstanceOf[Long])
    var bad = 0
    if (golden.length != actual.length) {
      println(s"[$name] ROW COUNT: golden=${golden.length} actual=${actual.length}")
      bad += 1
    }
    for (((g, a), i) <- golden.zip(actual).zipWithIndex) {
      val keys = g.keySet ++ a.keySet
      val diffs = keys.toVector.sorted.flatMap { k =>
        val gv = g.getOrElse(k, "<absent>")
        val av = a.getOrElse(k, "<absent>")
        if (gv != av) Some(s"  $k: golden=${fmt(gv)} actual=${fmt(av)}") else None
      }
      if (diffs.nonEmpty) {
        bad += 1
        if (bad <= 8) {
          println(s"[$name] row $i (${idCol}=${g(idCol)}):")
          diffs.foreach(println)
        }
      }
    }
    println(s"[$name] golden=${golden.length} actual=${actual.length} mismatched=$bad")
    bad
  }

  private def fmt(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s + "'"
    case x => x.toString
  }

  def main(args: Array[String]): Unit = {
    val corpus = if (args.nonEmpty) args(0) else EtlQueries.DefaultCorpus
    val spark = graft.Sessions.build("golden-check")
    val t = ReferenceEtl.run(spark, corpus)
    var bad = 0
    bad += diff("inspectors", t.inspectors, "tools/golden/inspectors.json", "InspectorID")
    bad += diff("ranks", t.ranks, "tools/golden/ranks.json", "RankID")
    bad += diff("professions", t.professions, "tools/golden/professions.json", "ProfessionID")
    bad += diff("educations", t.educations, "tools/golden/educations.json", "EducationID")
    bad += diff("locations", t.locations, "tools/golden/locations.json", "LocationID")
    bad += diff("assignments", t.assignments, "tools/golden/assignments.json", "AssignmentID")
    println(if (bad == 0) "GOLDEN: ALL MATCH" else s"GOLDEN: $bad mismatches")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
