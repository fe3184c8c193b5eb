package graft

import java.io.File
import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

import graft.ops.Tables

/** `Tables.parquet` reads a table exactly as `spark.read.parquet` does:
  * the same schema (names, types, nullability, order) and the same rows,
  * but without a Spark job for the schema. Each shape below is one that
  * Spark's own inference treats specially: hidden files, partition
  * directories, and batches whose footers disagree.
  */
class ParquetReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("parquet-read-spec")
  private val sf = "/root/testdata/sf0.001"
  override def afterAll(): Unit = spark.stop()

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs that started while it
    * ran. Listener events arrive in order, so once the marker job is
    * seen every earlier job has been counted. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription("marker")
      try spark.range(1).collect() finally sc.setJobDescription(null)
      eventually(timeout(Span(60, Seconds))) { assert(jobs.contains("marker")) }
      (out, jobs.asScala.count(_ != "marker"))
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Read `path` both ways; the library reader must run no job and agree
    * with Spark on schema and rows. Returns the schema read. */
  private def assertParity(path: String, read: => DataFrame): org.apache.spark.sql.types.StructType = {
    val (ours, jobs) = jobsDuring(read)
    assert(jobs == 0, s"$path: reading the schema ran $jobs Spark job(s)")
    val theirs = spark.read.parquet(path)
    assert(ours.schema == theirs.schema, s"$path:\n${ours.schema.treeString}\nvs\n${theirs.schema.treeString}")
    assert(rows(ours) == rows(theirs), path)
    ours.schema
  }

  test("every test table reads as spark.read.parquet does, with no job") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val names = new File(sf).list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.contains("events") && names.length == 10, names.mkString(","))
    for (n <- names) assertParity(s"$sf/$n.parquet", Tables.table(spark, sf, n))
  }

  test("a Spark-written multi-part directory: _SUCCESS and .crc files are skipped") {
    val dir = tmp("graft-pq-parts")
    spark.range(0, 200, 1, 4).selectExpr("id", "cast(id AS string) AS s", "id * 0.5 AS d")
      .write.mode("overwrite").parquet(dir)
    val listed = new File(dir).list().toSeq
    assert(listed.contains("_SUCCESS") && listed.exists(_.endsWith(".crc")), listed)
    assert(listed.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 4, listed)
    assertParity(dir, Tables.parquet(spark, dir))
    FileUtils.deleteDirectory(new File(dir))
  }

  test("a partitionBy directory: int and string partition columns are discovered and appended") {
    val dir = tmp("graft-pq-partitioned")
    spark.range(0, 60).selectExpr("id", "cast(id % 3 AS int) AS p_int",
        "concat('k', cast(id % 2 AS string)) AS p_str")
      .write.mode("overwrite").partitionBy("p_int", "p_str").parquet(dir)
    val schema = assertParity(dir, Tables.parquet(spark, dir))
    assert(schema.fieldNames.toSeq == Seq("id", "p_int", "p_str"))
    assert(schema("p_int").dataType == org.apache.spark.sql.types.IntegerType)
    assert(schema("p_str").dataType == org.apache.spark.sql.types.StringType)
    FileUtils.deleteDirectory(new File(dir))
  }

  test("an appended batch that adds a column: the first data file by path decides, as in Spark") {
    val dir = tmp("graft-pq-evolved")
    spark.range(0, 10).selectExpr("id", "id * 2 AS a").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    def dataFiles = new File(dir).listFiles().filter(f => f.getName.startsWith("part-")).toSet
    val first = dataFiles
    spark.range(10, 20).selectExpr("id", "id * 2 AS a", "id * 3 AS b").coalesce(1)
      .write.mode("append").parquet(dir)
    val second = dataFiles -- first
    assert(first.size == 1 && second.size == 1)
    assertParity(dir, Tables.parquet(spark, dir))

    // Force each batch to sort first in turn; the checksums go, since
    // they name the old file names.
    new File(dir).listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
    def placeFirst(wide: Boolean): Unit = {
      val files = new File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      val (w, n) = files.partition(f => spark.read.parquet(f.getPath).columns.contains("b"))
      val (wTmp, nTmp) = (new File(dir, "tmp-w.parquet"), new File(dir, "tmp-n.parquet"))
      assert(w.length == 1 && n.length == 1 && w.head.renameTo(wTmp) && n.head.renameTo(nTmp))
      assert(wTmp.renameTo(new File(dir, s"part-${if (wide) 0 else 1}.parquet")))
      assert(nTmp.renameTo(new File(dir, s"part-${if (wide) 1 else 0}.parquet")))
    }
    placeFirst(wide = false)
    assert(assertParity(dir, Tables.parquet(spark, dir)).fieldNames.toSeq == Seq("id", "a"))
    placeFirst(wide = true)
    assert(assertParity(dir, Tables.parquet(spark, dir)).fieldNames.toSeq == Seq("id", "a", "b"))
    FileUtils.deleteDirectory(new File(dir))
  }

  test("a missing path and an empty directory raise Spark's own errors") {
    def condition(read: => DataFrame): String =
      intercept[AnalysisException](read).getCondition
    val empty = tmp("graft-pq-empty")
    val missing = s"$empty/absent"
    assert(condition(Tables.parquet(spark, missing)) == "PATH_NOT_FOUND")
    assert(condition(spark.read.parquet(missing)) == "PATH_NOT_FOUND")
    assert(condition(Tables.parquet(spark, empty)) == "UNABLE_TO_INFER_SCHEMA")
    assert(condition(spark.read.parquet(empty)) == "UNABLE_TO_INFER_SCHEMA")
    FileUtils.deleteDirectory(new File(empty))
  }
}
