package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver's test tables (TESTDATA.md).
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

  // NOTE: reading `events` requires spark.sql.legacy.parquet.nanosAsLong=true
  // set at session build time (graft.Sessions.build / the test harness) —
  // a conf flip inside a table loader would be an ordering hazard.
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

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

  /** The `ts` → epoch-µs Long conversion shared by the batch and
    * streaming event loaders. */
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
