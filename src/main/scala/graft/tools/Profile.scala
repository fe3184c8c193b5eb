package graft.tools

import java.util.Locale

/** Dev utility: time individual registered queries against
  * SPARK_GRAFT_SF_DIR (default sf0.1), repeating each
  * SPARK_GRAFT_PROFILE_REPS times (default 1; 2 gives a cold and a warm
  * time per query).
  *
  *   sbt "runMain graft.tools.Profile d06_minhash_lsh d14_dedup_components"
  *
  * Unlike Bench (the driver contract, fixed query sets, one JSON line)
  * this is for interactive plan iteration only.
  *
  * Times a noop WRITE (the Bench discipline), not `count()`: count lets
  * Catalyst prune whole subtrees — a left join against an aggregate
  * unique on the join key is eliminated outright, so a count()-timed
  * d130 skips its Levenshtein comparator entirely.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "1").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.build("graft-profile")
    // SPARK_GRAFT_PROFILE_JOBS=1: print each Spark job's wall time under
    // the query being profiled — separates per-job fixed overhead from
    // data work (the r18 measure-first instrument).
    if (sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, (System.nanoTime(),
            Option(j.properties.getProperty("spark.job.description")).getOrElse("?")))
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = starts.remove(j.jobId)
          if (st != null)
            println(f"[job] ${j.jobId}%4d ${(System.nanoTime() - st._1) / 1e9}%7.3f s  ${st._2}")
        }
      })
    }
    val byName = graft.SparkEntry.registered.map(q => q.name -> q).toMap
    val names = if (args.nonEmpty) args.toSeq else byName.keys.toSeq.sorted
    // representative warmup: a real scan + agg (see Bench)
    byName.get("q01_pricing_summary")
      .foreach(q => q.fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").exists(_ == "1")
    for (name <- names; r <- 1 to reps) {
      val q = byName.getOrElse(name, sys.error(s"unknown query $name"))
      if (explain && r == 1) {
        println(s"==== $name ====")
        q.fn(spark, sfDir).explain("formatted")
      }
      spark.sparkContext.setJobDescription(s"$name rep$r")
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[profile] $name%-24s rep$r ${sec}%8.3f s".formatLocal(Locale.ROOT))
    }
    spark.stop()
  }
}
