package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import graft.etl.EtlQueries

/** Cross-cutting engine contracts: driver smoke, the registration and
  * bench coverage gates, and filter/column pushdown reaching the parquet
  * scan.
  */
class EngineContractSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("engine-contract-spec")
  private val sf = "/root/testdata/sf0.001"
  override def afterAll(): Unit = spark.stop()

  test("driver smoke: SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // The registration gate: EVERY registered query must execute end-to-end
  // at sf0.001 without throwing — analysis errors included. This is the
  // structural guard against the round-10 failure mode (d129 was
  // registered with a Catalyst DATATYPE_MISMATCH and crashed the driver
  // bench on first contact): a query cannot reach `registered` and stay
  // unrunnable past `sbt test`. Names are also checked unique, since a
  // duplicate silently shadows its sibling in SparkEntry.queries' map.
  // Bench derives its headline and extended sets from SparkEntry.families
  // (the headline families; everything else but `etl`), so a registered
  // family can no longer be left out of Bench by a second hand-kept list —
  // how d182–d184 once shipped unmeasured. The partition is still asserted
  // structurally: headline ∪ extended ∪ the fixed-corpus e* set must equal
  // the registered surface, disjoint.
  test("bench coverage gate: baseline+extended+etl partition the registered surface") {
    val bench = (SparkEntry.headline ++ Bench.extendedSet).map(_.name)
    assert(bench.distinct.size == bench.size,
      "a query is timed in two bench sets")
    val etl = graft.etl.EtlQueries.queries.map(_.name).toSet
    val uncovered = SparkEntry.registered.map(_.name).toSet -- bench.toSet -- etl
    assert(uncovered.isEmpty,
      s"registered but never benched: $uncovered")
    val unregistered = bench.toSet -- SparkEntry.registered.map(_.name).toSet
    assert(unregistered.isEmpty,
      s"benched but not registered: $unregistered")
  }

  // Bench headlines a memoized query by its cold first run; it reads the
  // memo sets from the families, so each set must name queries of the
  // family that registers it (a stray name would silently fall back to
  // min-of-2).
  test("every memoized query is a registered query of its own family") {
    val stray = SparkEntry.families.flatMap(f =>
      (f.memoized -- f.queries.map(_.name)).map(n => s"${f.tag}: $n"))
    assert(stray.isEmpty, s"memoized but not registered in its family: $stray")
  }

  // e01–e06 read their HTML roster corpus from session conf: the gate
  // points it at the committed roster corpus, so the ETL queries run end to
  // end wherever the tests run, and unsets it afterwards. Where the
  // reference corpus (the conf's default) is present, e01–e06 run once more
  // on it with the conf unset.
  test("registration gate: every registered query executes at sf0.001") {
    val names = SparkEntry.registered.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    def failuresOf(qs: Seq[graft.ops.Q]): Seq[String] = qs.flatMap { q =>
      try { assert(q.fn(spark, sf).count() >= 0); None }
      catch { case e: Throwable =>
        Some(s"${q.name}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    }
    spark.conf.set(EtlQueries.CorpusConf, RosterCorpusSpec.Dir)
    val onCommitted =
      try failuresOf(SparkEntry.registered) finally spark.conf.unset(EtlQueries.CorpusConf)
    val onDefault =
      if (new java.io.File(EtlQueries.DefaultCorpus).isDirectory)
        failuresOf(EtlQueries.queries).map(f => s"${EtlQueries.DefaultCorpus}: $f")
      else Nil
    val failures = onCommitted ++ onDefault
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // Tables.parquet is the library's one parquet reader: it reads the schema
  // from a footer on the driver, where spark.read.parquet runs a Spark job
  // for it. A second direct reader would bring that job back unnoticed.
  test("no library file but ops/Tables.scala calls .read.parquet(") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val readers = files(root).filter(_.getName.endsWith(".scala"))
      .filterNot(_.getPath.endsWith("graft/ops/Tables.scala"))
      .filter(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .contains(".read.parquet("))
      .map(_.getPath)
    assert(readers.isEmpty, s"read parquet through Tables.parquet instead: ${readers.mkString(", ")}")
  }

  test("filters and column selection are pushed down to the parquet scan") {
    val df = graft.ops.Tables.lineitem(spark, sf)
      .where(col("l_quantity") > 30.0)
      .select(col("l_orderkey"), col("l_quantity"))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PushedFilters:") &&
      formatted.contains("GreaterThan(l_quantity"), formatted)
    val readSchema = formatted.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    // column pruning: none of the other 9 lineitem columns reach the scan
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("similarity family plan shapes: no forced broadcasts, no expand, bounded top-k") {
    val queries = SparkEntry.registered.map(q => q.name -> q).toMap
    // d06/d08/d17 re-attach sketches/vectors with id-keyed joins; a
    // broadcast() hint anywhere would force a full-table broadcast the
    // LSH/IVF designs exist to avoid (AQE may still choose broadcast at
    // runtime when a side is measured small — that is the point).
    for (name <- Seq("d06_minhash_lsh", "d08_ann_lsh", "d17_ivf_ann")) {
      val plan = queries(name).fn(spark, sf).queryExecution.analyzed
      val hints = plan.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      assert(hints.isEmpty, s"$name carries join hints: $hints")
    }
    // d07 is the deliberate brute-force baseline. r19 shape: within the
    // broadcast budget the N^2 pair stream is scored by the primitive
    // k-slot kernel (a MapPartitions over the corpus scan — no join
    // node at all), emitting k rows per query into the TopKAgg merge;
    // the BroadcastNestedLoopJoin pair plan survives only as the
    // beyond-budget blocked fallback (SimilaritySpec pins equality).
    val d07 = queries("d07_cosine_topk").fn(spark, sf).queryExecution.executedPlan.toString
    assert(!d07.contains("BroadcastNestedLoopJoin"), d07)
    assert(d07.contains("MapPartitions"), d07)
    assert(d07.contains("ObjectHashAggregate"), d07)
    // exact verification must stay on the native merge-scan expression
    // (sorted_inter_count), not a per-pair hash-set array_intersect
    for (name <- Seq("d06_minhash_lsh", "d19_jaccard_prefix")) {
      val plan = queries(name).fn(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("sorted_inter_count"), s"$name lost the native verify path")
      assert(!plan.contains("array_intersect"), s"$name re-grew array_intersect")
    }
  }

  test("spread: repartitions single-split scans, leaves many-split scans alone") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    // the single-file test parquet must spread across cores...
    val single = graft.ops.Tables.documents(spark, sf)
    assert(single.queryExecution.analyzed.collect { case r: Repartition => r }.nonEmpty,
      "single-split test table lost its spread repartition")
    // ...while a scan that already has >= parallelism splits must NOT pay
    // a blanket shuffle (the production no-op contract)
    val dir = java.nio.file.Files.createTempDirectory("graft-spread").toString
    graft.ops.Tables.documents(spark, sf)
      .repartition(40).write.parquet(s"$dir/documents.parquet")
    val many = graft.ops.Tables.documents(spark, dir)
    assert(many.queryExecution.analyzed.collect { case r: Repartition => r }.isEmpty,
      "many-split scan should stay split-governed, not shuffle")
  }
}
