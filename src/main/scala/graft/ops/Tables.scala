package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The library's one parquet reader ([[parquet]]) and the loaders for
  * the driver's test tables (TESTDATA.md).
  *
  * All columns arrive with their parquet types; the one exception is
  * `events.ts`, which is nanosecond-precision parquet that Spark cannot
  * represent as a timestamp — we read it as epoch-nanosecond Long via
  * `spark.sql.legacy.parquet.nanosAsLong` and expose an epoch-microsecond
  * column (`ts_us`) that matches what DuckDB sees after its own ns→µs
  * truncation.
  */
object Tables {

  /** The committed parquet goldens that oracle SQL reads back through
    * DuckDB's read_parquet (e01–e06, d148, d187): `tools/golden` under
    * the repository root, taken from `GRAFT_REPO` when set and otherwise
    * the working directory (sbt and Verify run from the root). */
  val GoldenDir: String =
    new java.io.File(sys.env.getOrElse("GRAFT_REPO", "."), "tools/golden").getCanonicalPath

  /** Read the parquet table at `path` (a file or a directory) with the
    * schema `spark.read.parquet(path)` would infer, but without the Spark
    * job that inference runs: Spark reads even one footer through
    * `SchemaMergeUtils.mergeSchemasInParallel`, a one-task job with its
    * own Hadoop-conf broadcast. Every parquet read in the library goes
    * through here.
    *
    *  - The path is listed with Spark's own file index
    *    (`InMemoryFileIndex`), so hidden files (`_SUCCESS`, `.crc`) are
    *    skipped and `_common_metadata`/`_metadata` kept, as Spark does.
    *  - The schema file is the one Spark's non-merging inference picks
    *    (`ParquetUtils.inferSchema`): `_common_metadata`, else
    *    `_metadata`, else the first data file by full path.
    *  - Its footer is read on the driver and converted by
    *    `ParquetFileFormat.readSchemaFromFooter` (the Spark schema the
    *    writer stored, else the parquet schema). The converter takes the
    *    session's `binaryAsString`, `int96AsTimestamp`,
    *    `inferTimestampNTZ.enabled`, `legacy.parquet.nanosAsLong` and
    *    `reader.respectUnknownTypeAnnotation`, and the defaults of the
    *    rest, exactly as Spark's inference builds it.
    *  - The frame is `spark.read.schema(dataSchema).parquet(path)`: Spark
    *    still discovers the partition columns (e.g. `ingest_batch=`) and
    *    appends them, and makes every field nullable, as before.
    *
    * `mergeSchema` is not honoured: the schema is always the one file's.
    * `Sessions.build` never sets `spark.sql.parquet.mergeSchema`, and no
    * caller passes the option. A path with more sibling directories than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` is listed
    * by a Spark job, here and again in Spark's own read.
    *
    * When the listing finds no file (a missing path, an empty
    * directory, a glob pattern) the read is plain `spark.read.parquet`,
    * so the caller sees Spark's own error: `PATH_NOT_FOUND` for a missing
    * path, `UNABLE_TO_INFER_SCHEMA` for an empty directory. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val files = new InMemoryFileIndex(spark,
        Seq(root.getFileSystem(hadoopConf).makeQualified(root)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summary = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summary(f.getPath.getName))) match {
      case None => spark.read.parquet(path)
      case Some(f) =>
        val conf = spark.sessionState.conf
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
        spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer, converter))
          .parquet(path)
    }
  }

  // NOTE: reading `events` requires spark.sql.legacy.parquet.nanosAsLong=true
  // set at session build time (graft.Sessions.build / the test harness) —
  // a conf flip inside a table loader would be an ordering hazard.
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame =
    spread(s, table(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, table(s, d, "embeddings"))

  /** Spread a small-file scan across the session's cores. The local test
    * tables are one parquet file with ONE row group, so the scan is a
    * single input split — and every CPU-bound narrow stage fed by it
    * (sketching UDFs, per-pair cosine, quality scoring) would serialize
    * on one core. The shuffle this inserts moves only the table's raw
    * bytes once (~600 KB at sf0.1). At production scale the scan already
    * has >= parallelism splits and this is a no-op — no shuffle appears
    * in the plan. documents/embeddings get it because their consumers are
    * compute-per-row heavy; the relational tables stay split-governed
    * (their consumers are scan+agg, where a blanket shuffle costs more
    * than single-split decode). */
  private def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    // Split-count estimate read straight off the scan's file index — NOT
    // df.rdd.getNumPartitions, which eagerly converts the plan to an RDD
    // (full physical planning per table load) just to ask a question the
    // file listing already answers. Mirrors FilePartition's maxSplitBytes
    // (min(maxPartitionBytes, max(openCost, bytes/cores))); the file-count
    // floor matches "a file never packs below one split". Estimates >=
    // the real packing, so production many-file scans stay untouched.
    val splits = df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val conf = s.sessionState.conf
            val total = fs.location.sizeInBytes
            val maxSplit = math.min(conf.filesMaxPartitionBytes,
              math.max(conf.filesOpenCostInBytes, total / math.max(1, target)))
            math.max(fs.location.inputFiles.length.toLong,
              (total + maxSplit - 1) / math.max(1L, maxSplit))
          case _ => target.toLong
        }
    }.getOrElse(target.toLong)
    if (splits < target) df.repartition(target) else df
  }

  /** events with `ts` replaced by `ts_us` (epoch microseconds, Long).
    * Handles both generations of the driver's parquet: µs-precision
    * timestamps (read as TIMESTAMP_NTZ; the session pins
    * spark.sql.session.timeZone=UTC, so the NTZ→TIMESTAMP cast reads the
    * naive value as UTC — exactly DuckDB's epoch_us on a naive
    * timestamp) and the legacy ns-as-Long encoding (floor division
    * `ts - pmod` rather than `div` so pre-1970 negative nanos would
    * still match DuckDB's truncation semantics). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.withColumn("ts_us", tsToMicros(raw.schema("ts").dataType)).drop("ts")
  }

  /** The `ts` → epoch-µs Long conversion of the events loader. */
  private[graft] def tsToMicros(dt: DataType): org.apache.spark.sql.Column = dt match {
    case LongType         => expr("(ts - pmod(ts, 1000)) div 1000")
    case TimestampNTZType => expr("unix_micros(cast(ts as timestamp))")
    case TimestampType    => expr("unix_micros(ts)")
    case other => throw new IllegalArgumentException(
      s"events.ts: unsupported type $other (expected ns-Long or timestamp)")
  }

  // ---- oracle-parity numeric helpers -------------------------------------

  /** Exact decimal view of a "clean" money/measure double column (source
    * columns in the test data carry at most 2 decimal digits, so the
    * double→decimal cast is unambiguous in both Spark and DuckDB).
    * NEVER apply this to a *computed* double — engines disagree on
    * rounding of arbitrary doubles; do the arithmetic in decimal instead.
    */
  def dec2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DecimalType(18, 2))

  /** Exact decimal sum of a clean 2-dp double column, surfaced as double
    * (the final decimal→double conversion is deterministic and identical
    * across engines, unlike float summation order). */
  def decSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(dec2(c)).cast(DoubleType)
}
