package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Tables

/** One-rung-up scale probe (r13 verdict ask #6): run the round's five
  * heaviest registered queries at sf≈1 — ten key-shifted copies of the
  * driver's sf0.1 tables — and commit the wall times, so the 2× bench
  * gate's ~12× headroom at sf0.1 is shown to be STRUCTURAL (plans whose
  * cost moves ~linearly with the data) rather than a coincidence of the
  * gated scale. Correctness is NOT probed here (the sf0.01 oracle gate
  * owns that); this is purely a does-the-plan-survive-10× measurement.
  *
  * The synthetic sf1: each copy k shifts every join key by k·OFFSET
  * (orderkeys, part/supp/cust keys, doc ids) so the relational joins
  * and graphs scale to 10× the keys/edges/nodes instead of multiplying
  * weights onto the same keys (which would probe skew, not volume).
  * Offsets are EVEN so the EdgeIndex driver binding's even/odd basket
  * split stays balanced. Document TEXT is per-copy `translate`d over
  * ten common letters (rotation k) — length, whitespace and token
  * counts are preserved, but shingles/tokens differ across copies, so
  * the dedup stages keep their within-copy near-dup structure instead
  * of degenerating into uniform 10-clique duplicate groups (which
  * would probe a pathological-input shape, not scale — bucket fan-out
  * there is quadratic BY THE DATA'S construction).
  *
  *   SPARK_DRIVER_MEM=24g sbt "runMain graft.tools.ScaleProbe"
  *
  * Emits one JSON line (and bench_sf1_probe.json) with per-query cold
  * seconds plus the generation cost and loadavg bracketing.
  */
object ScaleProbe {

  private val ProbeQueries = Seq(
    "d54_training_shards",
    "d139_personalized_pagerank",
    "d160_edge_index",
    "d145_hits",
    "d128_pagerank",
    // the temporal family rung (r14 verdict forward item #4): d182
    // pays the in-run index build (split save+append over the probe's
    // 10× basket frame) plus the decayed serve; d186 then reuses the
    // memoized index dir, so its number isolates the warm-start
    // two-phase PageRank over the served edges.
    "d182_decayed_indexed",
    "d186_decayed_pagerank_warm",
    // the ANN-served related-items path (d171's production sibling):
    // the exact baseline is N² BY SEMANTICS (≈100× pairs at 10× nodes
    // — deliberately NOT probed at 10×; its cost curve is measured on
    // the SMALL rungs instead — run `copies=2`/`copies=3` with
    // d189_embedding_related_ann_exact as an explicit query arg and
    // fit the exponent); this rung shows the served path the
    // 100 TB story actually runs stays near-linear (trainer chain +
    // IVF probed-cell candidates, probes·√N per query).
    "d187_embedding_related_ann",
    // the LATE-DATA write paths (r16 verdict ask #6): both indexes are
    // built by two appendLate batches where EVERY multi-parity basket
    // straddles — the worst-case reconciliation load (per-batch cost is
    // the straddlers' prior-claim re-read + the delta's capped
    // self-joins, linear-ish in claims) — then served once.
    "d190_edge_index_late",
    "d191_decayed_late_indexed",
    // the serving-snapshot refresh over the late-built temporal index
    // (sliding anchor over 10× claims + decayed serve + publish).
    "d192_trending_snapshot_served")

  private val Letters = "etaoinshrd" // 10 common letters; rotation k per copy

  private def loadavg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def generate(spark: SparkSession, src: String, out: String,
      copies: Int): Unit = {
    val ORD = 10000000L
    val KEY = 1000000L
    val DOC = 10000000L
    def shifted(df: DataFrame, k: Int, shifts: (String, Long)*): DataFrame =
      shifts.foldLeft(df) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + lit(k * off)) }
    def union(frames: Seq[DataFrame]): DataFrame = frames.reduce(_ union _)

    val li = Tables.parquet(spark, s"$src/lineitem.parquet")
    union((0 until copies).map(k => shifted(li, k,
        "l_orderkey" -> ORD, "l_partkey" -> KEY, "l_suppkey" -> KEY)))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/lineitem.parquet")

    val ord = Tables.parquet(spark, s"$src/orders.parquet")
    union((0 until copies).map(k => shifted(ord, k,
        "o_orderkey" -> ORD, "o_custkey" -> KEY)))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/orders.parquet")

    val docs = Tables.parquet(spark, s"$src/documents.parquet")
    union((0 until copies).map { k =>
      val rot = Letters.drop(k % Letters.length) + Letters.take(k % Letters.length)
      shifted(docs, k, "doc_id" -> DOC)
        .withColumn("text", translate(col("text"), Letters, rot))
    }).write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")

    // r19: the raw-embedding consumers (d07/d28 — the cosine-kernel
    // rungs) read embeddings.parquet directly, so the probe corpus
    // needs it too. Copies shift vec_id only; the vectors repeat, which
    // is fine for a perf rung (the kernels' cost is the pair count —
    // duplicates change WHICH neighbors win, not how many pairs are
    // scored) and keeps the generator a pure key-shift like the
    // relational tables.
    val emb = Tables.parquet(spark, s"$src/embeddings.parquet")
    union((0 until copies).map(k => shifted(emb, k, "vec_id" -> DOC)))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/_generated_$copies"), "ok\n")
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // extra args = probe only these queries (e.g. the d189 small-rung
    // exponent sweep); default = the committed rung list
    val only = args.drop(3).toSeq
    val probeList = if (only.nonEmpty) only else ProbeQueries
    val spark = graft.Sessions.build("graft-scale-probe")
    val loadPre = loadavg()

    val t0 = System.nanoTime()
    val marker = java.nio.file.Paths.get(s"$out/_generated_$copies")
    if (!java.nio.file.Files.exists(marker)) generate(spark, src, out, copies)
    val genSec = (System.nanoTime() - t0) / 1e9

    val qmap = graft.SparkEntry.queries
    def f(d: Double): String =
      "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val timed = probeList.map { n =>
      val t = System.nanoTime()
      val sec =
        try {
          qmap(n)(spark, out).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[probe] $n FAILED: ${e.getMessage}")
            -1.0
        }
      System.err.println(f"[probe] $n ${sec}%.1f s")
      n -> sec
    }
    // compaction-after-retractions rung (r16 verdict ask #6): the
    // late-built temporal index at this scale carries negative-n
    // retraction facts from every straddling basket — compactTo must
    // fold them away (net, drop zeros, dedup claims) in one bounded
    // rewrite. Only measured when the late query built its memo dir.
    val compactSec =
      if (probeList.contains("d191_decayed_late_indexed")) {
        val lateDir = graft.ops.TemporalEdgeIndex.lateIndexDir(spark, out)
        val dst = java.nio.file.Files
          .createTempDirectory("graft-probe-compact").toString
        val t = System.nanoTime()
        try {
          graft.ops.TemporalEdgeIndex.compactTo(spark, lateDir, dst)
          val sec = (System.nanoTime() - t) / 1e9
          System.err.println(f"[probe] compact_late_temporal ${sec}%.1f s")
          sec
        } catch {
          case e: Throwable =>
            System.err.println(s"[probe] compact FAILED: ${e.getMessage}")
            -1.0
        } finally graft.ops.Corpus.deleteRecursively(dst)
      } else -1.0
    val compactJson =
      if (compactSec >= 0) s""""compact_late_temporal":${f(compactSec)},"""
      else ""
    val json =
      s"""{"metric":"sf1_probe","copies":$copies,"src":"$src","gen_sec":${f(genSec)},""" +
        s""""queries":{${timed.map { case (k, v) => s""""$k":${f(v)}""" }.mkString(",")}},""" +
        s"""$compactJson""" +
        s""""loadavg_pre":${f(loadPre)},"loadavg_post":${f(loadavg())}}"""
    // the 10× artifact keeps its historical name; smaller exponent-sweep
    // rungs land beside it so reruns never clobber the committed rung
    val artifact =
      if (copies == 10 && only.isEmpty) "bench_sf1_probe.json"
      else s"bench_sf1_probe_c$copies.json"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(artifact), json + "\n")
    System.out.println(json)
    spark.stop()
  }
}
