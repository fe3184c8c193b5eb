package graft

import java.nio.file.{Files, Paths}
import java.util.Locale
import graft.ops.Q

/** Benchmark main. Times every registered query except the corpus-ETL
  * e* set (which reads the roster corpus, not sfDir) on
  * SPARK_GRAFT_SF_DIR, writes the full artifact to bench.json (per-run
  * times, the headline and extended per-query maps, memoization markers,
  * per-group load) and prints ONE compact JSON trailer as the last stdout
  * line (headline numbers and totals, ≤ 2 KB so a tail-window capture
  * keeps it whole). build.sbt forks `run` with
  * `run / outputStrategy := StdoutOutput`, so the line reaches the
  * caller raw.
  *
  * "value" totals the SAME query set BENCH_r01's 66.2 s baseline measured
  * (`SparkEntry.headline`: q01–q25 and d01–d05), so round-over-round
  * ratios stay apples-to-apples; every other family is timed in
  * "extended" and totalled separately.
  *
  * FRESH JVMs: the headline set runs in one fresh child JVM, and the
  * extended families pack into child JVMs of <= ExtGroupMax queries
  * ([[packGroups]]; "ext_groups" records each group's boundaries, sums
  * and loadavg), so no long-lived JVM ages across the whole suite (the
  * r07→r08 headline drift was 130 queries in one JVM, not plan changes).
  * The parent only forks, merges, and runs the untimed quality block.
  * A child that fails to start, exits non-zero or omits a query leaves
  * those queries failed.
  *
  * Each query is executed with a noop-format write so the full plan runs
  * (a bare .count() lets Catalyst prune computed projections and
  * under-measures select-heavy queries). Failures are NOT swallowed into
  * fast timings: a failed query records -1 in the headline maps, null in
  * the per-run arrays, is listed in "errors", and the run exits 1.
  *
  * The artifact is SELF-ADJUDICATING — it carries what separating
  * co-tenant CPU steal from regression needs:
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
  *   - "load_gate": the bench REFUSES to start while the 1-min loadavg
  *     shows co-tenant steal (pre-warmup, the bench itself is idle),
  *     retrying a bounded number of times; "met" records whether it got
  *     a quiet host, so a contaminated run is flagged at source instead
  *     of adjudicated after the fact.
  *   - "loadavg_pre": the 1-min loadavg the timed runs actually started
  *     under (post-gate); "loadavg" at bench end mostly measures the
  *     bench's own footprint decaying. "load_phases" and each group's
  *     loadavg_pre/loadavg_post record host drift per timed phase.
  */
object Bench {
  private val LoadGateThreshold = 2.0
  private val LoadGateAttempts = 3
  private val LoadGateWaitMs = 60000L

  /** Child JVMs' Spark logs: emptied once when a run starts, then every
    * child appends, so the file holds exactly the latest run. */
  private val ChildLog = "bench_child.log"

  /** The extended surface: every registered family except the headline
    * families and `etl`, in registration order, tagged by family. */
  private[graft] def extendedRegistries: Seq[(String, Seq[Q])] =
    SparkEntry.families
      .filterNot(f => SparkEntry.HeadlineFamilies(f.tag) || f.tag == "etl")
      .map(f => f.tag -> f.queries)

  private[graft] def extendedSet: Seq[Q] = extendedRegistries.flatMap(_._2)

  /** Cap on queries per extended child JVM: consecutive (whole)
    * families pack together up to this size to amortize the ~10 s
    * session startup; a family larger than the cap gets its own JVM. */
  private[graft] val ExtGroupMax = 40

  /** Pack consecutive whole families, in order, into groups of at most
    * `max` queries; a family larger than `max` gets a group of its own.
    * A family is never split, so each per-(session, dir) memo family
    * keeps its cold/warm order inside one session. A group's tag joins
    * its families' tags with "+". */
  private[graft] def packGroups(families: Seq[(String, Seq[Q])],
      max: Int): Seq[(String, Seq[Q])] =
    families.filter(_._2.nonEmpty).foldLeft(Vector.empty[(String, Seq[Q])]) {
      case (done :+ ((tag, qs)), (t, fqs)) if qs.size + fqs.size <= max =>
        done :+ (s"$tag+$t" -> (qs ++ fqs))
      case (done, f) => done :+ f
    }

  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

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
    try SparkEntry.headline.find(_.name == "q01_pricing_summary")
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

  /** Child-JVM entry: time the query set named in SPARK_GRAFT_BENCH_SET
    * in this fresh process and write a line-oriented result file
    * (tab-separated `name r1 r2`, plus `#loadavg_pre`/`#loadavg_post`
    * comment lines) for the parent to merge. Exit 0 even when queries
    * fail — the -1 markers carry the failures and the parent owns the
    * error contract. */
  private def childMain(sfDir: String, outPath: String): Unit = {
    val names = sys.env.getOrElse("SPARK_GRAFT_BENCH_SET", "").split(",").toSet
    val qs = SparkEntry.registered.filter(q => names(q.name))
    val spark = Sessions.build("graft-bench-set")
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

  /** Fork a fresh JVM running [[childMain]] over `qs`: same java binary,
    * same JVM args (the --add-opens set, -Xmx, system props — taken from
    * this JVM's own input arguments), same classpath (real, because
    * build.sbt forks `run`). Returns the set's timings in `qs` order plus
    * the child's own phase loadavg samples (-1 when unknown). A query the
    * child did not report — it failed to start, exited non-zero or
    * omitted the query — gets two failed runs. */
  private def forkSet(sfDir: String,
      qs: Seq[Q]): (Seq[(String, Seq[Double])], Double, Double) = {
    var pre = -1.0; var post = -1.0
    val got = scala.collection.mutable.Map.empty[String, Seq[Double]]
    try {
      val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray(Array.empty[String])
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xdebug"))
      val out = Files.createTempFile("bench_set", ".tsv")
      val cmd: java.util.List[String] = {
        val l = new java.util.ArrayList[String]()
        l.add(javaBin); jvmArgs.foreach(l.add)
        l.add("-cp"); l.add(sys.props.getOrElse("java.class.path", ""))
        l.add("graft.Bench"); l
      }
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_BENCH_SET", qs.map(_.name).mkString(","))
      // child stdout (Spark logs) must NOT pollute the parent's stdout —
      // the caller parses our stdout tail; both streams go to a log file
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.appendTo(new java.io.File(ChildLog)))
      val code = pb.start().waitFor()
      if (code != 0) System.err.println(s"[bench] child exited $code")
      else Files.readAllLines(out).forEach { ln =>
        val ps = ln.split("\t")
        if (ps.length >= 2 && ps(0) == "#loadavg_pre") pre = ps(1).toDouble
        else if (ps.length >= 2 && ps(0) == "#loadavg_post") post = ps(1).toDouble
        else if (ps.length >= 3) got(ps(0)) = ps.drop(1).toSeq.map(_.toDouble)
      }
      Files.deleteIfExists(out)
    } catch {
      case e: Throwable => System.err.println(s"[bench] child fork failed: ${e.getMessage}")
    }
    val missing = qs.count(q => !got.contains(q.name))
    if (missing > 0) System.err.println(s"[bench] child did not report $missing/${qs.size} queries")
    (qs.map(q => q.name -> got.getOrElse(q.name, Seq(-1.0, -1.0))), pre, post)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (sys.env.get("SPARK_GRAFT_BENCH_CHILD").contains("1")) {
      childMain(sfDir, sys.env("SPARK_GRAFT_BENCH_OUT"))
      return
    }
    Files.write(Paths.get(ChildLog), Array.emptyByteArray)

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

    // Phase 1 — headline, in a FRESH JVM (see scaladoc).
    val (base, loadHeadPre, loadHeadPost) = forkSet(sfDir, SparkEntry.headline)

    // Phase 2 — extended, one fresh child JVM per family group. Per-group
    // sums ride in ext_groups (with per-family fresh JVMs the suite TOTAL
    // is regime-dependent — the per-family rows are the longitudinal
    // comparison unit). "sec" uses the headline rule (memoized queries
    // count their cold first run, others min-of-runs); "sec_cold" the
    // first successful run of every query.
    val memoized: Set[String] = SparkEntry.families.flatMap(_.memoized).toSet
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
    def tot(rs: Seq[(String, Seq[Double])]): Double =
      rs.map { case (k, v) => headline(k, v) }.filter(_ >= 0).sum
    def totCold(rs: Seq[(String, Seq[Double])]): Double =
      rs.map { case (_, v) => coldOf(v) }.filter(_ >= 0).sum

    val loadExtPre = loadavg()
    val extGroupMeta = scala.collection.mutable.ListBuffer.empty[String]
    val ext: Seq[(String, Seq[Double])] =
      packGroups(extendedRegistries, ExtGroupMax).flatMap { case (tag, qs) =>
        val (rs, pre, post) = forkSet(sfDir, qs)
        extGroupMeta += s"""{"tag":"$tag","n":${qs.size},""" +
          s""""sec":${f(tot(rs))},"sec_cold":${f(totCold(rs))},""" +
          s""""loadavg_pre":${f(pre)},"loadavg_post":${f(post)}}"""
        rs
      }
    val loadExtPost = loadavg()

    val errors: Seq[String] =
      (base ++ ext).collect { case (k, v) if !v.exists(_ >= 0) => k }

    // The parent's own session is built only now, so every timed child
    // ran against an idle parent.
    val spark = Sessions.build("graft-bench")

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
    val errs = errors.map(e => s""""$e"""").mkString("[", ",", "]")
    val memo = memoized.toSeq.sorted.map(m => s""""$m"""").mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":${f(tot(base))},"unit":"sec","queries":${obj(base)},""" +
        s""""total_cold":${f(totCold(base))},"extended_total":${f(tot(ext))},""" +
        s""""extended_total_cold":${f(totCold(ext))},"extended":${obj(ext)},$quality""" +
        s""""ext_groups":[${extGroupMeta.mkString(",")}],""" +
        s""""timing":"min_of_2; memoized headline cold run 1; -1 = all runs failed (per-run arrays use null)",""" +
        s""""runs":${runsObj(base ++ ext)},"warm":${warmObj(base ++ ext)},""" +
        s""""memoized":$memo,""" +
        s""""load_gate":{"threshold":${f(LoadGateThreshold)},"attempts":$gateAttempts,"met":$gateMet},""" +
        s""""load_phases":{"headline_pre":${f(loadHeadPre)},"headline_post":${f(loadHeadPost)},""" +
        s""""extended_pre":${f(loadExtPre)},"extended_post":${f(loadExtPost)}},""" +
        s""""loadavg_pre":${f(loadPre)},"loadavg":${f(loadPost)},""" +
        s""""errors":$errs,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench.json"), full + "\n")
    // Tail-window-safe trailer, the one stdout line: the consumer
    // captures only the last ~2000 characters of stdout, so the line is a
    // compact restatement of the headline numbers, guaranteed to fit: 30
    // headline queries + totals ≈ 1.1 KB, errors capped at 3 entries (the
    // count rides alongside).
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
