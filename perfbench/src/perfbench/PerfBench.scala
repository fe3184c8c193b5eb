package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.etl.ReferenceEtl
import graft.ops.{Ids, Q}
import graft.parse.{HtmlGrid, ParsedAssignment, Personnel}
import graft.text.RuText

/** JVM side of the benchmark: one client thread runs one workload closed
  * loop on the session `graft.Sessions.build` makes, then checks every
  * output and writes a result file that `run.py` turns into the reported
  * metrics.
  *
  * Arguments are `key=value` pairs: workload, seconds, trace (0|1), input
  * (corpus or table directory), work (scratch output directory; a traced
  * run leaves its spans there as spans.jsonl), cells (personnel-cell
  * manifest, etl_reference) and result (result file).
  */
object PerfBench {

  private val Star = graft.ops.Relational.queries ++ graft.ops.TextOps.queries
  // The top-k half is cut to what fits the run budget: the exact cosine
  // kernel and IVF search, whose pair gives the ANN recall.
  private val TopKNames = Seq("d07_cosine_topk", "d17_ivf_ann")

  private def topK: Seq[Q] = {
    val all = graft.ops.Similarity.queries
    TopKNames.map(n => all.find(_.name == n).getOrElse(sys.error(s"query $n is not registered")))
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t0 = now(); val v = body; (v, now() - t0)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Heap plus non-heap memory in use after full collections: what the
    * program keeps alive, free of GC timing and of the heap's sizing. The
    * listener bus is drained first, and the collection repeated, because
    * Spark's ContextCleaner frees broadcast and shuffle blocks only after a
    * collection has found them unreachable. */
  private def liveMb(spark: SparkSession, res: Result): Double = {
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val m = ManagementFactory.getMemoryMXBean
    val mb = 1024.0 * 1024.0
    res.fields("live_heap_mb") = m.getHeapMemoryUsage.getUsed / mb
    res.fields("live_pools_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .map(p => p.getName -> p.getUsage.getUsed / mb).toMap
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / mb
  }

  /** The value as JSON, with NaN and infinities as null. */
  private def toJson(v: Any): String = {
    def safe(x: Any): Any = x match {
      case d: Double if d.isNaN || d.isInfinite => null
      case m: scala.collection.Map[_, _] => m.map { case (k, y) => k.toString -> safe(y) }.toMap
      case xs: Iterable[_] => xs.map(safe).toSeq
      case y => y
    }
    Serialization.write(safe(v).asInstanceOf[AnyRef])(DefaultFormats)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Result of one run: everything `run.py` reports or checks. */
  private final class Result {
    val fields = scala.collection.mutable.LinkedHashMap[String, Any]()
    val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val jvmToMain = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val res = new Result
    val (spark, buildS) = timed(Sessions.build("perfbench"))
    res.fields("jvm_to_main_s") = jvmToMain
    res.fields("session_build_s") = buildS
    res.fields("cores") = spark.sparkContext.defaultParallelism
    res.fields("spark_version") = spark.version
    res.fields("java_version") = System.getProperty("java.version")
    try {
      workload match {
        case "etl_reference" =>
          runEtl(spark, opt, seconds, trace, res)
        case "query_mix" =>
          runQueryMix(spark, opt, seconds, trace, res)
        case w => sys.error(s"unknown workload $w")
      }
    } catch {
      case NonFatal(e) =>
        res.errors += s"run aborted: $e"
        res.failed = math.max(res.failed, 1)
        res.attempted = math.max(res.attempted, 1)
    }
    res.fields("attempted") = res.attempted
    res.fields("failed") = res.failed
    res.fields("errors") = res.errors.toSeq
    res.fields("layers") = res.layers.toMap
    Files.write(Paths.get(opt("result")), toJson(res.fields).getBytes(UTF_8))
    spark.stop()
  }

  // ---- closed loop ----------------------------------------------------------

  /** Run `op` back to back until `seconds` have passed (at least `minOps`
    * times); return each operation's seconds, or NaN when it threw. */
  private def loop(seconds: Double, minOps: Int, res: Result)(op: Int => Unit): Seq[Double] = {
    val times = ArrayBuffer[Double]()
    val end = now() + seconds
    while (times.size < minOps || now() < end) {
      val i = times.size
      res.attempted += 1
      try times += timed(op(i))._2
      catch {
        case NonFatal(e) =>
          res.failed += 1; res.errors += s"op $i: $e"; times += Double.NaN
      }
    }
    times.toSeq
  }

  private def okTimes(ts: Seq[Double]) = ts.filterNot(_.isNaN)

  // ---- ETL workloads --------------------------------------------------------

  private def runEtl(spark: SparkSession, opt: Map[String, String], seconds: Double,
      trace: Boolean, res: Result): Unit = {
    val corpus = opt("input")
    val work = opt("work")
    // One warm-up run and one timed run fit the run budget. The timed run
    // still carries some JIT warm-up; the traced run reports it as
    // warm.residue_s.
    val (_, warmS) = timed(ReferenceEtl.writeAll(spark, corpus, s"$work/warm"))
    res.fields("warm_s") = warmS
    res.fields("live_mb") = liveMb(spark, res) // untimed, after exactly one operation

    // A traced run times one untraced operation between two traced ones,
    // so that a linear warm-up trend cancels out of the tracing overhead.
    val tracer = new Tracer(spark)
    def tracedRun(i: Int): Span = {
      tracer.register()
      try tracer.span(s"op-$i", "op", "writeAll")(ReferenceEtl.writeAll(spark, corpus, s"$work/traced-$i"))._2
      finally tracer.unregister()
    }
    val t1 = if (trace) Some(tracedRun(1)) else None
    val cpu0 = processCpuS()
    val times = loop(if (trace) 0 else seconds, 1, res)(i => ReferenceEtl.writeAll(spark, corpus, s"$work/op-$i"))
    val cpu1 = processCpuS()
    res.fields("op_s") = times
    res.fields("cpu_s") = cpu1 - cpu0
    val tracedOps = t1.toSeq ++ (if (trace) Seq(tracedRun(2)) else Nil)

    // Output checks of every timed operation (untimed).
    val digests = times.indices.map { i =>
      if (times(i).isNaN) null
      else try {
        val (d, problems) = checkEtlOutput(spark, s"$work/op-$i")
        problems.foreach(p => res.errors += s"op $i: $p")
        if (problems.nonEmpty) res.failed += 1
        d
      } catch { case NonFatal(e) => res.failed += 1; res.errors += s"op $i check: $e"; null }
    }
    res.fields("digests") = digests
    val assignments = spark.read.parquet(s"$work/warm/assignments").count()

    // Personnel.parse against the reference records of every placed cell.
    val cells = readCells(opt("cells"))
    val bad = cells.count { case (in, exp) => Personnel.parse(in) != exp }
    if (bad > 0) {
      res.errors += s"Personnel.parse differs from the expected records on $bad of ${cells.size} cells"
      res.failed += 1
    }

    if (trace) traceEtl(spark, tracer, tracedOps, corpus, work, cells, assignments, times, res)
  }

  /** (input, expected records) per placed cell; one cell per line, fields
    * tab-separated: input, record count, then 10 fields per record with
    * `\N` for null. */
  private def readCells(path: String): Vector[(String, Seq[ParsedAssignment])] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toVector.filter(_.nonEmpty).map { line =>
      val f = line.split("\t", -1)
      def s(i: Int) = if (f(i) == "\\N") null else f(i)
      val recs = (0 until f(1).toInt).map { r =>
        val b = 2 + r * 10
        ParsedAssignment(s(b), s(b + 1), s(b + 2), s(b + 3), s(b + 4), s(b + 5),
          f(b + 6) == "1", f(b + 7) == "1", s(b + 8), s(b + 9))
      }
      (f(0), recs)
    }

  private val IdCols = Seq(
    "assignments" -> "AssignmentID", "inspectors" -> "InspectorID", "locations" -> "LocationID",
    "ranks" -> "RankID", "professions" -> "ProfessionID", "educations" -> "EducationID")
  private val ForeignKeys = Seq(
    "InspectorID" -> "inspectors", "InspectorLocationID" -> "locations", "RankID" -> "ranks",
    "ProfessionID" -> "professions", "EducationID" -> "educations")

  /** Surrogate keys dense and unique, every non-null foreign key resolved,
    * and an order-independent digest of the six tables. */
  private def checkEtlOutput(spark: SparkSession, dir: String): (String, Seq[String]) = {
    val problems = ArrayBuffer[String]()
    val tables = IdCols.map { case (t, _) => t -> spark.read.parquet(s"$dir/$t") }.toMap
    // One row per table: rows, distinct ids, id range, sum of row hashes.
    val stats = IdCols.map { case (t, id) =>
      val df = tables(t)
      val cols = df.columns.sorted
      df.agg(lit(s"$t:${cols.mkString(",")}").as("t"), count(lit(1)).as("n"),
        countDistinct(col(id)).as("d"), min(col(id)).as("lo"), max(col(id)).as("hi"),
        sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")).as("h"))
    }.reduce(_ unionByName _).collect().sortBy(_.getString(0))
    val parts = stats.map { r =>
      val n = r.getLong(1)
      if (n > 0 && (r.getLong(2) != n || r.getLong(3) != 1L || r.getLong(4) != n))
        problems += s"${r.getString(0).takeWhile(_ != ':')}: ids are not dense and unique: " +
          s"rows=$n distinct=${r.get(2)} min=${r.get(3)} max=${r.get(4)}"
      s"${r.getString(0)}:$n:${r.get(5)}"
    }
    // Dangling foreign keys, all five in one query.
    val keyed = ForeignKeys.zipWithIndex.foldLeft(tables("assignments")) { case (df, ((fk, dim), i)) =>
      df.join(broadcast(tables(dim).select(col(IdCols.toMap.apply(dim)).as(s"k$i"))), col(fk) === col(s"k$i"), "left")
    }
    val dangling = keyed.agg(count(lit(1)), ForeignKeys.zipWithIndex.map { case ((fk, _), i) =>
      sum(when(col(fk).isNotNull && col(s"k$i").isNull, 1L).otherwise(0L))
    }: _*).head()
    ForeignKeys.zipWithIndex.foreach { case ((fk, dim), i) =>
      if (dangling.getLong(i + 1) > 0) problems += s"${dangling.getLong(i + 1)} assignments have $fk missing from $dim"
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val digest = md.digest(parts.mkString("\n").getBytes(UTF_8)).map("%02x".format(_)).mkString
    (digest, problems.toSeq)
  }

  private def traceEtl(spark: SparkSession, tracer: Tracer, ops: Seq[Span], corpus: String,
      work: String, cells: Vector[(String, Seq[ParsedAssignment])], factRows: Long,
      untraced: Seq[Double], res: Result): Unit = {
    def dur(s: Span) = (s.endMs - s.startMs) / 1e3
    res.layers("trace.overhead_s") = median(ops.map(dur)) - median(okTimes(untraced))
    // The first and the third operation after the warm-up, both traced.
    res.layers("warm.residue_s") = dur(ops.head) - dur(ops.last)

    // Stage decomposition: each prefix of the pipeline materialized alone;
    // the traced runs above are the whole pipeline.
    tracer.register()
    val (_, gridSpan) = tracer.span("stages", "stage", "grid")(noop(ReferenceEtl.gridRows(spark, corpus).toDF()))
    val (_, resolveSpan) = tracer.span("stages", "stage", "resolve")(noop(ReferenceEtl.resolvedAssignments(spark, corpus).toDF()))
    val (_, tablesSpan) = tracer.span("stages", "stage", "tables") {
      val t = ReferenceEtl.run(spark, corpus)
      Seq(t.assignments, t.inspectors, t.locations, t.ranks, t.professions, t.educations).foreach(noop)
    }
    val (_, seqSpan) = tracer.span("ids", "stage", "sequence_by") {
      val df = spark.range(factRows).select(xxhash64(col("id")).as("k"), col("id"))
      noop(Ids.sequenceBy(df, Seq(col("k"), col("id")), "seq"))
    }
    val stats = tracer.finish()
    tracer.unregister()
    Files.write(Paths.get(s"$work/spans.jsonl"), tracer.jsonLines(stats).mkString("", "\n", "\n").getBytes(UTF_8))

    engineLayers(tracer, stats, ops, spark, res)
    // Every run must execute the same jobs and tasks, none served by an
    // earlier run's cache.
    val shapes = ops.map(s => (stats(s).jobs, stats(s).tasks)).distinct
    res.layers("scheduler.op_shapes") = shapes.size
    if (shapes.size > 1) {
      res.failed += 1
      res.errors += s"ETL operations ran different job/task counts: $shapes"
    }
    res.layers("etl.grid_s") = dur(gridSpan)
    res.layers("etl.resolve_self_s") = dur(resolveSpan) - dur(gridSpan)
    res.layers("etl.tables_self_s") = dur(tablesSpan) - dur(resolveSpan)
    res.layers("etl.sink_self_s") = median(ops.map(dur)) - dur(tablesSpan)
    res.layers("ops.sequence_by_s") = dur(seqSpan)

    // Single-threaded parse and text rates over the whole corpus.
    val files = Files.list(Paths.get(corpus)).iterator().asScala.toVector.sortBy(_.toString)
    val texts = files.map(p => (p.getFileName.toString, Files.readString(p, UTF_8)))
    def rate(n: => Long): Double = { n; val (k, t) = timed(n); k / t }
    val year = "fabric(\\d{4})\\.html".r
    def grid(name: String, html: String) = {
      val y = year.findFirstMatchIn(name).get.group(1).toInt
      HtmlGrid.parseFile(name, y, y, html)
    }
    res.layers("parse.grid_rows_per_s") = rate(texts.map { case (n, h) => grid(n, h).size.toLong }.sum)
    val gridRows = texts.flatMap { case (n, h) => grid(n, h) }
    res.layers("parse.personnel_cells_per_s") = rate { cells.foreach(c => Personnel.parse(c._1)); cells.size.toLong }
    val strings = gridRows.flatMap(_.cells).filter(_ != null)
    res.layers("text.standardize_per_s") = rate { strings.foreach(RuText.standardizeText); strings.size.toLong }
    val names = cells.flatMap(_._2.map(_.name)).filter(_ != null)
    res.layers("text.canon_name_per_s") = rate { names.foreach(RuText.canonicalInspectorName); names.size.toLong }
  }

  /** Per-operation engine counters, averaged over the traced operations. */
  private def engineLayers(tracer: Tracer, stats: Map[Span, LayerAgg], ops: Seq[Span],
      spark: SparkSession, res: Result): Unit = {
    val tot = new LayerAgg
    ops.foreach(s => tot.add(stats(s)))
    val n = ops.size.toDouble
    val wall = ops.map(s => (s.endMs - s.startMs) / 1e3).sum
    val cores = spark.sparkContext.defaultParallelism
    val mb = 1024.0 * 1024.0
    val l = res.layers
    l("catalyst.analysis_ms") = tot.analysisMs / n
    l("catalyst.optimization_ms") = tot.optimizationMs / n
    l("catalyst.planning_ms") = tot.planningMs / n
    l("scheduler.jobs") = tot.jobs / n
    l("scheduler.stages") = tot.stages / n
    l("scheduler.tasks") = tot.tasks / n
    l("executor.run_s") = tot.runMs / 1e3 / n
    l("executor.cpu_s") = tot.cpuNs / 1e9 / n
    l("executor.gc_s") = tot.gcMs / 1e3 / n
    l("executor.busy_ratio") = if (wall > 0) tot.runMs / 1e3 / (wall * cores) else 0.0
    l("shuffle.write_mb") = tot.shuffleWrite / mb / n
    l("shuffle.read_mb") = tot.shuffleRead / mb / n
    l("shuffle.fetch_wait_s") = tot.fetchWaitMs / 1e3 / n
    l("shuffle.spill_mb") = tot.spill / mb / n
    l("memory.peak_exec_mb") = tot.peakExec / mb
    l("storage.cached_blocks") = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toDouble).sum
    l("driver.result_mb") = tot.resultBytes / mb / n
    l("driver.outside_jobs_s") = ops.map(s => (s.endMs - s.startMs) - tracer.jobCoverMs(s)).sum / 1e3 / n
  }

  // ---- query mix --------------------------------------------------------------

  private def runQueryMix(spark: SparkSession, opt: Map[String, String], seconds: Double,
      trace: Boolean, res: Result): Unit = {
    val dir = opt("input")
    val work = opt("work")
    val mix = Star ++ topK
    val starNames = Star.map(_.name).toSet
    // Warm-up pass: fills the memo caches, builds the indexes and writes
    // every result once for the oracle check.
    val warmFailed = scala.collection.mutable.Set[String]()
    val (_, warmS) = timed(mix.foreach { q =>
      try q.fn(spark, dir).write.mode("overwrite").parquet(s"$work/results/${q.name}")
      catch { case NonFatal(e) => warmFailed += q.name; res.errors += s"warm ${q.name}: $e" }
    })
    res.fields("warm_s") = warmS
    res.fields("live_mb") = liveMb(spark, res) // untimed, after exactly one pass
    res.fields("warm_failed") = warmFailed.toSeq
    res.fields("oracle_sql") = mix.flatMap(q => q.oracle.map(q.name -> _)).toMap
    res.fields("queries") = mix.map(_.name)

    val perQuery = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    mix.foreach(q => perQuery(q.name) = ArrayBuffer())
    def pass(): Seq[Double] =
      mix.map { q =>
        res.attempted += 1
        try {
          val (_, t) = timed(noop(q.fn(spark, dir)))
          perQuery(q.name) += t
          t
        } catch {
          case NonFatal(e) =>
            res.failed += 1; res.errors += s"${q.name}: $e"; Double.NaN
        }
      }

    val cpu0 = processCpuS()
    val passes = ArrayBuffer[Seq[Double]]()
    val end = now() + seconds
    while (passes.isEmpty || now() < end) passes += pass()
    val cpu1 = processCpuS()
    res.fields("cpu_s") = cpu1 - cpu0
    res.fields("op_s") = passes.flatten.toSeq
    res.fields("star_pass_s") = passes.map(p => mix.indices.filter(i => starNames(mix(i).name)).map(p).sum).toSeq
    res.fields("topk_pass_s") = passes.map(p => mix.indices.filterNot(i => starNames(mix(i).name)).map(p).sum).toSeq

    // Estimator quality, untimed: d17 against d07's exact rank 1.
    val qm = mix.map(q => q.name -> q).toMap
    val exact = qm("d07_cosine_topk").fn(spark, dir).where(col("rank") === 1)
      .select(col("vec_id"), col("neighbor_id").as("exact_nn"))
    val nq = exact.count().toDouble
    val agree = qm("d17_ivf_ann").fn(spark, dir).select(col("vec_id"), col("neighbor_id"))
      .join(exact, "vec_id").where(col("neighbor_id") === col("exact_nn")).count()
    res.fields("ann_recall_at_1") = if (nq == 0) 0.0 else agree / nq

    if (trace) {
      // Tracing overhead on equally warm runs: each query runs untraced and
      // traced back to back, the order alternating from query to query.
      val tracer = new Tracer(spark)
      val runs = mix.zipWithIndex.map { case (q, i) =>
        def untraced() = timed(noop(q.fn(spark, dir)))._2
        def traced() = {
          tracer.register()
          val s = tracer.span(s"traced/${q.name}", "query", q.name)(noop(q.fn(spark, dir)))._2
          tracer.unregister()
          s
        }
        if (i % 2 == 0) { val u = untraced(); (u, traced()) }
        else { val t = traced(); (untraced(), t) }
      }
      val spans = runs.map(_._2)
      val stats = tracer.finish()
      Files.write(Paths.get(s"$work/spans.jsonl"), tracer.jsonLines(stats).mkString("", "\n", "\n").getBytes(UTF_8))
      engineLayers(tracer, stats, spans, spark, res)
      val u = runs.map(_._1)
      res.layers("trace.overhead_s") = median(spans.map(s => (s.endMs - s.startMs) / 1e3)) - median(u)
      // Warm-up left in the timed pass: its times against the same queries'
      // untraced runs here, on the queries that ran untraced first.
      res.layers("warm.residue_s") =
        median(mix.indices.filter(_ % 2 == 0).map(i => passes.head(i) - u(i)).filterNot(_.isNaN))
      perQuery.foreach { case (k, v) => res.layers(s"query.$k.p50_s") = median(v.toSeq) }
    }
  }
}
