package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

import graft.ops.Curation

/** d109 shard manifest (order-independent checksums, byte sensitivity)
  * and d110 split-leakage audit (planted cross-split near-dup found,
  * within-split pairs excluded).
  */
class ManifestLeakageSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("manifest-leakage-spec")
  override def afterAll(): Unit = spark.stop()

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("manifest checksum is row-order independent but byte sensitive") {
    val docs = docsOf((1L, "a b c"), (2L, "d e f"), (3L, "g h i"))
    def manifestOf(df: org.apache.spark.sql.DataFrame) =
      Curation.shardManifest(df).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(5))))
        .toMap
    val m1 = manifestOf(docs)
    // everything fits one 2048-token shard
    assert(m1.keySet == Set(0L) && m1(0L)._1 == 3L && m1(0L)._2 == 9L)
    // a different row arrival order produces the identical checksum
    val m2 = manifestOf(docs.repartition(7).sortWithinPartitions(col("doc_id").desc))
    assert(m1 == m2)
    // one flipped byte changes it
    val m3 = manifestOf(docsOf((1L, "a b c"), (2L, "d e F"), (3L, "g h i")))
    assert(m3(0L)._3 != m1(0L)._3)
  }

  test("manifest totals reconcile with the corpus at the driver tables") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = SparkEntry.queries("d109_shard_manifest")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.map(_.getLong(1)).sum == docs.count())
    assert(rows.map(_.getString(5)).distinct.length == rows.length,
      "distinct shards must have distinct checksums on this corpus")
  }

  test("manifest verification classifies ok / mismatch / missing / extra") {
    val docs = docsOf((1L, "a b c"), (2L, "d e f"))
    val manifest = Curation.shardManifest(docs)
    // unchanged corpus: every shard ok
    val ok = Curation.verifyManifest(docs, manifest).collect()
    assert(ok.nonEmpty && ok.forall(_.getString(1) == "ok"))
    // one flipped byte: mismatch
    val drifted = Curation.verifyManifest(
      docsOf((1L, "a b c"), (2L, "d e F")), manifest).collect()
    assert(drifted.map(_.getString(1)).toSeq == Seq("mismatch"))
    // corpus grew past the shard budget: the manifested shard drifts,
    // the new shards surface as extra
    val big = (3L to 1200L).map(i => i -> s"tok$i filler words here")
    val grown = Curation.verifyManifest(docsOf((1L -> "a b c") +: big: _*), manifest)
      .collect().map(r => r.getString(1))
    assert(grown.contains("extra") )
    // manifest shard no longer derivable: missing
    val gone = Curation.verifyManifest(
      docsOf((1L, "a b c"), (2L, "d e f")),
      manifest.withColumn("shard_id",
        org.apache.spark.sql.functions.col("shard_id") + 7)).collect()
    assert(gone.map(_.getString(1)).toSet == Set("missing", "extra"))
  }

  test("cluster-safe splits put every near-dup cluster in one split; audit reads zero") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.01")
    val clusterFrame = graft.ops.Similarity.nearDupClusters(docs)
      .select(col("doc_id"), col("cluster_id"))
    val assigned = Curation.clusterSafeSplitFrom(docs, clusterFrame)
    // every member of a cluster carries the representative's split
    val clusters = clusterFrame.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val splits = assigned.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
    assert(splits.nonEmpty && clusters.nonEmpty)
    clusters.foreach { case (doc, cl) =>
      assert(splits(doc)._1 == cl, s"doc $doc rep")
      assert(splits(doc)._2 == splits(cl)._2, s"doc $doc split != rep's")
    }
    // the d110 audit over the SAME pair machinery must find nothing:
    // re-run the leakage join against the cluster-safe assignment
    val pairs = graft.ops.Similarity.nearDupPairs(
      docs.select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val leaks = pairs.filter { case (a, b) => splits(a)._2 != splits(b)._2 }
    assert(leaks.isEmpty, s"cluster-safe splits leaked: ${leaks.toSeq}")
    // while the PLAIN hash split does leak on this corpus (7 pairs at
    // sf0.01) — the operator pair is detector + fix
    assert(Curation.splitLeakage(docs).count() > 0)
  }

  test("planted cross-split near-dup is reported; same-split pairs are not") {
    // find two doc ids the md5 coin sends to different splits, give
    // them near-identical long texts, and plant a same-split near-pair
    val splits = Curation.hashSplit(
        docsOf((1L, "x"), (2L, "x"), (3L, "x"), (4L, "x"), (5L, "x"),
          (6L, "x"), (7L, "x"), (8L, "x"), (9L, "x"), (10L, "x")))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val cross = splits.toSeq.combinations(2)
      .find { case Seq((_, s1), (_, s2)) => s1 != s2 }.get
    val same = splits.toSeq.combinations(2)
      .find { case Seq((_, s1), (_, s2)) => s1 == s2 }.get
    val bodyA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val bodyB = (1 to 40).map(i => s"zulu$i").mkString(" ")
    val docs = docsOf(
      cross(0)._1 -> s"$bodyA leak one",
      cross(1)._1 -> s"$bodyA leak two",
      same(0)._1  -> s"$bodyB haystack one",
      same(1)._1  -> s"$bodyB haystack two")
    val got = Curation.splitLeakage(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((math.min(cross(0)._1, cross(1)._1),
      math.max(cross(0)._1, cross(1)._1)))
    assert(got == want, s"splits=$splits got=$got")
  }
}
