package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Engine counters of one span (one job group). */
final class LayerAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var peakExec = 0L
  var resultBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  def add(o: LayerAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spill += o.spill
    peakExec = math.max(peakExec, o.peakExec); resultBytes += o.resultBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
  }
}

/** A timed region on the client thread: an operation, an ETL stage or a
  * query. Its Spark jobs carry `group` as their job group. */
final case class Span(opId: String, kind: String, name: String, group: String,
    startMs: Long, endMs: Long)

/** The traced run's listener pair: a SparkListener that folds job, stage and
  * task metrics into one [[LayerAgg]] per job group, and a
  * QueryExecutionListener that adds Catalyst phase times to the span whose
  * interval holds the query's analysis. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val aggs = new ConcurrentHashMap[String, LayerAgg]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobEnds = ArrayBuffer[(Int, String, Long, Long, Boolean)]()
  private val queries = ArrayBuffer[(Long, Long, Long, Long)]()
  private val spans = ArrayBuffer[Span]()

  private def agg(group: String): LayerAgg = aggs.computeIfAbsent(group, _ => new LayerAgg)

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Run `body` as one span with its own job group. */
  def span[T](opId: String, kind: String, name: String)(body: => T): (T, Span) = {
    val group = s"$opId/$kind/$name/${spans.size}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val start = System.currentTimeMillis()
    try {
      val v = body
      val s = Span(opId, kind, name, group, start, System.currentTimeMillis())
      synchronized(spans += s)
      (v, s)
    } finally sc.clearJobGroup()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
    val a = agg(g)
    a.synchronized(a.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds += ((e.jobId, jobGroup.getOrDefault(e.jobId, ""),
      Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time), e.time,
      e.jobResult == JobSucceeded))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = agg(stageGroup.getOrDefault(e.stageId, ""))
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
        a.resultBytes += m.resultSize
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    synchronized(queries += ((start, ms("analysis"), ms("optimization"), ms("planning"))))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Drain the listener bus, then return each span's counters: its own job
    * group plus the Catalyst phases of queries analysed inside it (the
    * innermost span holding the analysis start wins). */
  def finish(): Map[Span, LayerAgg] = {
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    val all = synchronized(spans.toVector)
    val out = all.map(s => s -> Option(aggs.get(s.group)).getOrElse(new LayerAgg)).toMap
    synchronized(queries.toVector).foreach { case (start, an, opt, pl) =>
      val holders = all.filter(s => s.startMs <= start && start <= s.endMs)
      if (holders.nonEmpty) {
        val a = out(holders.minBy(s => s.endMs - s.startMs))
        a.analysisMs += an; a.optimizationMs += opt; a.planningMs += pl
      }
    }
    out
  }

  /** Milliseconds of `s` during which at least one of its Spark jobs ran;
    * the rest of the span is the driver's own time. */
  def jobCoverMs(s: Span): Long = {
    val iv = synchronized(jobEnds.toVector).collect {
      case (_, g, st, en, _) if g == s.group => (math.max(st, s.startMs), math.min(en, s.endMs))
    }.filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (st, en) =>
      if (st > end) { covered += en - st; end = en }
      else if (en > end) { covered += en - end; end = en }
    }
    covered
  }

  private def line(kv: (String, Any)*): String = Serialization.write(ListMap(kv: _*))(DefaultFormats)

  /** Spans and their Spark jobs as JSON lines, every line keyed by the
    * operation id. */
  def jsonLines(stats: Map[Span, LayerAgg]): Seq[String] = {
    val byGroup = stats.keys.map(s => s.group -> s).toMap
    val spanLines = stats.toSeq.sortBy(_._1.startMs).map { case (s, a) =>
      line("op" -> s.opId, "kind" -> s.kind, "name" -> s.name, "group" -> s.group,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "executor_run_ms" -> a.runMs, "executor_cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
        "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
        "fetch_wait_ms" -> a.fetchWaitMs, "spill_bytes" -> a.spill,
        "peak_exec_bytes" -> a.peakExec, "result_bytes" -> a.resultBytes,
        "analysis_ms" -> a.analysisMs, "optimization_ms" -> a.optimizationMs,
        "planning_ms" -> a.planningMs)
    }
    val jobLines = synchronized(jobEnds.toVector).sortBy(_._1).flatMap { case (id, g, st, en, ok) =>
      byGroup.get(g).map(s => line("op" -> s.opId, "kind" -> "job", "name" -> s"job-$id",
        "parent" -> s.group, "start_ms" -> st, "end_ms" -> en, "succeeded" -> ok))
    }
    spanLines ++ jobLines
  }
}
