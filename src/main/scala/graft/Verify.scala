package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.etl.EtlQueries
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for a DuckDB compare (tools/check_oracle.py), and
  * verify_failures.json naming each query that threw and why. An ETL
  * query (e01–e06) whose corpus directory does not exist is recorded as
  * `corpus_absent: <dir>`; it stays a failure. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // extra args = dump only these queries (dev focus mode; the driver
    // passes exactly two args and gets the full surface)
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
      "a typo here would otherwise exit 0 with an empty dump")
    val spark = Sessions.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    val etlNames = EtlQueries.queries.map(_.name).toSet
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val corpus = EtlQueries.corpus(spark)
          failed(name) =
            if (etlNames(name) && !new java.io.File(corpus).isDirectory)
              s"corpus_absent: $corpus"
            else String.valueOf(e.getMessage)
          System.err.println(s"[verify] $name failed: ${failed(name)}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
