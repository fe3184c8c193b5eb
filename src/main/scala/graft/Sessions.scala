package graft

import org.apache.spark.sql.SparkSession

/** Single place all engine entry points (Bench, Verify, tests) build their
  * SparkSession: local[32] to mirror the driver's harness, 32 shuffle
  * partitions (not the 200 default — sized for the local test scale while
  * keeping every shuffle multi-partition), AQE on (default in Spark 4),
  * and the nanos-as-long legacy flag required to read the `events` table's
  * nanosecond-precision parquet timestamps.
  */
object Sessions {

  def build(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle partitioning is SCALE-dependent (guide §2.2): the local
    // default (32 — one per harness core; AQE coalesces smaller) keeps
    // the driver's bench comparable across rounds, and a cluster
    // deployment overrides via env to ~(2-3 × total executor cores) or
    // sizes partitions to the 100 MB–1 GB band, letting AQE coalesce
    // down — never a constant tuned to either environment.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.ops.Functions.register(spark)
    spark
  }

  /** Run `evict` when `s`'s SparkContext ends, so that a long-lived
    * multi-session process doesn't hold strong refs to stopped sessions
    * and their cached DataFrames forever. Reached through [[onStopOnce]]. */
  private def onStop(s: SparkSession)(evict: () => Unit): Unit =
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onApplicationEnd(
          end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = evict()
    })

  /** Bookkeeping for [[onStopOnce]]: which tags each session has already
    * registered. Weak session keys — the map must not itself keep a
    * stopped session reachable. */
  private val stopTags =
    new java.util.WeakHashMap[SparkSession, java.util.HashSet[String]]()

  /** [[onStop]], but at most once per (session, tag). Callers whose
    * "already registered?" signal is a cache-registry lookup get it wrong
    * once the registry evicts that session's entries (a later call would
    * stack a second identical listener on the bus — listeners are never
    * deregistered, so a long-lived multi-session app accumulates them).
    * Registration is tracked here, independent of any cache contents.
    * Returns whether this call registered (false = tag already had a
    * listener and `evict` was dropped). */
  def onStopOnce(s: SparkSession, tag: String)(evict: () => Unit): Boolean =
    stopTags.synchronized {
      val tags = stopTags.computeIfAbsent(s, _ => new java.util.HashSet[String]())
      val fresh = tags.add(tag)
      if (fresh) onStop(s)(evict)
      fresh
    }
}
