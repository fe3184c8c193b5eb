package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Corpus, Curation, Diagnostics, EdgeIndex, GramIndex, Graphs,
  HashIndex, IndexCommit, IvfIndex, LexIndex, Lexical, Linkage, Pq, Retrieval,
  Similarity, TemporalEdgeIndex, TextOps}

/** The public DataFrame-in / DataFrame-out surface, the `graft.ops`
  * objects: every operator must work on a user-supplied in-memory
  * DataFrame (no fixed paths), and the dir-bound driver queries must
  * return exactly what the same operators return on the loaded table
  * (spot-checked by set-equality). A "facade" in a test name means
  * these frame-in operators; the names predate the removal of the
  * forwarding layer that once re-exported them.
  */
class GraftApiSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("graft-api-spec")
  private val sf = "/root/testdata/sf0.001"
  override def afterAll(): Unit = spark.stop()

  private def docsDf: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "web"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!", "en", "web"),
      (3L, "ein ganz anderes dokument mit der die und das wörtern", "de", "books"),
      (4L, "the quick brown fox jumps over the lazy dog again and again", "en", "crawl"),
      (5L, "short", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** d93's keeper rule over the near-dup clusters of `docs`. */
  private def bestKeepers(docs: DataFrame): DataFrame =
    Similarity.bestKeepersFrom(
      Similarity.nearDupClusters(docs).select(col("doc_id"), col("cluster_id")), docs)

  private def vecsDf: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    (0L until 40L).map { id =>
      val base = Array.fill(8)(rng.nextGaussian().toFloat)
      (id, base)
    }.toDF("vec_id", "embedding")
  }

  test("dedup family works on in-memory documents") {
    val exact = TextOps.dedupExact(docsDf).collect()
    // docs 1 and 4 are byte-identical -> one group with 2 copies, keeper 1
    val dupGroup = exact.filter(_.getAs[Long]("n_copies") == 2L)
    assert(dupGroup.length == 1 && dupGroup.head.getAs[Long]("keeper_doc_id") == 1L)

    val near = Similarity.nearDupPairs(docsDf).collect()
    // 1-2 differ by one char, 1-4 identical, 2-4 same as 1-2
    val pairs = near.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 4L)) && pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 5L || p._2 == 5L))

    val clusters = Similarity.nearDupClusters(docsDf).collect()
    assert(clusters.forall(_.getAs[Long]("cluster_id") == 1L))
    assert(clusters.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 4L))
    assert(clusters.forall(_.getAs[Long]("cluster_size") == 3L))

    val sim = Corpus.simhashPairs(docsDf).collect()
    assert(sim.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      .contains((1L, 4L)))

    // end-to-end: docs 1/2/4 are one near-dup cluster (keep 1); 3 and 5
    // are unique -> deduplicated corpus = {1, 3, 5} with original rows
    val kept = Curation.dedupedCorpus(docsDf).collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L, 5L))
    assert(kept.head.schema.fieldNames.contains("text"))

    // quality-aware keeper: all three cluster members tie at ratio
    // 3/12, so the tie breaks to the smallest doc_id
    val keepBest = bestKeepers(docsDf).collect()
    assert(keepBest.length == 1)
    assert(keepBest.head.getAs[Long]("cluster_id") == 1L)
    assert(keepBest.head.getAs[Long]("keeper_id") == 1L)
    assert(keepBest.head.getAs[Double]("best_score") == 0.25)
    assert(keepBest.head.getAs[Long]("cluster_size") == 3L)
  }

  test("dedupBestKeepers prefers the higher-quality member over the smaller id") {
    import spark.implicits._
    // doc 11 = doc 10 + " the": near-identical char-3-gram sets, but 11
    // carries a higher stopword_ratio (3/12 > 2/11) — the keeper must be
    // the LATER, better doc, the exact case min-id dedup gets wrong
    val docs = Seq(
      (10L, "the quick brown fox jumps over lazy dog again and again"),
      (11L, "the quick brown fox jumps over lazy dog again and again the"))
      .toDF("doc_id", "text")
    val out = bestKeepers(docs).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("keeper_id") == 11L)
    assert(out.head.getAs[Double]("best_score") == 0.25)
    assert(out.head.getAs[Long]("cluster_size") == 2L)
  }

  test("degenerate docs (null / sub-gram text) never reach the LSH index") {
    import spark.implicits._
    // every empty gram set shares the identical all-MaxValue minhash —
    // without the bandBuckets guard these three docs would pairwise
    // collide in all 16 bands and pass the 0 >= 0 threshold test,
    // emitting (inter 0, union 0) pairs the exhaustive oracle never
    // produces (and at corpus scale the shared bucket is a skew bomb)
    val docs = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "ab"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "the quick brown fox jumps over the lazy dog!")
    ).toDF("doc_id", "text")
    val pairs = Similarity.nearDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((4L, 5L)), s"got $pairs")
    // exact content-hash dedup is the operator that groups degenerate
    // docs (the documented complementarity): "" and "" group, nulls group
    val withDupEmpties = docs.unionAll(Seq((6L, "")).toDF("doc_id", "text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val exact = TextOps.dedupExact(withDupEmpties)
      .where(col("n_copies") > 1).collect()
    assert(exact.exists(r => r.getAs[Long]("keeper_doc_id") == 2L &&
      r.getAs[Long]("n_copies") == 2L)) // docs 2 and 6 ("")
  }

  test("text-analysis family works on in-memory documents") {
    assert(TextOps.tokenStats(docsDf).count() == 5)
    val freq = TextOps.wordFreq(docsDf, k = 3).collect()
    assert(freq.head.getAs[String]("word") == "the") // 2 docs x2 + 1 doc x2
    val qual = TextOps.qualityScore(docsDf).where(col("doc_id") === 5).head()
    assert(qual.getAs[Long]("n_tokens") == 1L)
    assert(TextOps.composition(docsDf).count() == 3) // (en,web),(de,books),(en,crawl)
    val lid = Corpus.langId(docsDf).where(col("doc_id") === 3).head()
    assert(lid.getAs[String]("predicted_lang") == "de")
    // doc 5 ("short") is under the 8-char gram width -> no fingerprints
    assert(Corpus.fingerprints(docsDf).groupBy(col("doc_id")).count().count() == 4)
    assert(Corpus.bpeTokenCounts(docsDf).count() == 5)
    assert(Corpus.lengthQuantiles(docsDf).count() == 2)
    assert(Corpus.distinctTokenSketch(docsDf).count() == 2)
  }

  test("curation family works on in-memory documents") {
    val rep = Curation.repetitionSignals(docsDf).where(col("doc_id") === 1).head()
    assert(rep.getAs[Long]("n_words") == 12L)
    assert(rep.getAs[Long]("dup_word_count") == 2L) // the x2, again x2
    assert(rep.getAs[Long]("n_bigrams") == 11L)
    val samp = Curation.stratifiedSample(docsDf, "lang", k = 2).collect()
    assert(samp.count(_.getAs[String]("lang") == "en") == 2)
    assert(samp.count(_.getAs[String]("lang") == "de") == 1)
    // docs 1/4 are identical and share every 3-gram with each other
    val cont = Curation.contaminationPairs(
      docsDf.where(col("doc_id") =!= 1), docsDf.where(col("doc_id") === 1))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cont(4L) == 10L) // 12 words -> 10 distinct 3-grams, all shared
    assert(cont.contains(2L) && !cont.contains(3L) && !cont.contains(5L))
    val mix = Curation.mixWeights(docsDf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(mix.size == 3) // en×web (docs 1,2,5), en×crawl, de×books
    // the (en, web) cell holds the most tokens -> downweighted below 1
    assert(mix(("en", "web")) < 1.0 && mix(("de", "books")) > 1.0)
    val pii = Curation.piiScrub(docsDf.where(col("doc_id") === 1)).head()
    assert(pii.getAs[String]("scrubbed").startsWith("the quick"))
    assert(pii.getAs[Long]("n_emails") == 0L)
  }

  test("round-13 additions work on in-memory frames") {
    // novelty: direct, and served from a persisted vocabulary index
    val base = docsDf.where(col("doc_id") === 1)
    val probe = docsDf.where(col("doc_id") === 3)
    val nov = Corpus.noveltyScore(base, probe).head()
    assert(nov.getAs[Long]("n_novel") == nov.getAs[Long]("n_grams")) // disjoint langs
    val gdir = java.nio.file.Files.createTempDirectory("graft-api-gram").toString
    GramIndex.save(base, gdir)
    val served = GramIndex.noveltyAgainst(spark, probe, gdir).head()
    assert(served.getAs[Long]("n_novel") == nov.getAs[Long]("n_novel"))

    // bloom-served exact dedup equals the plain index probe
    val hdir = java.nio.file.Files.createTempDirectory("graft-api-hash").toString
    HashIndex.save(base.select(col("doc_id"), col("text")), hdir)
    val viaBloom = HashIndex.dedupAgainstBloom(spark,
        docsDf.select(col("doc_id"), col("text")), hdir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(viaBloom(4L) == false && viaBloom(3L) == true) // 4 duplicates 1

    // JS divergence: identical-content sources diverge by 0
    val div = TextOps.sourceDivergence(docsDf.where(col("doc_id").isin(1L, 4L)))
      .head()
    assert(div.getAs[Double]("js_div") == 0.0) // web vs crawl, same text

    // budget selections and the quantile sketch gate
    assert(Curation.budgetSelect(docsDf, budget = 1000L).count() == 5)
    val perSrc = Curation.sourceBudgetSelect(docsDf, budget = 1000L).collect()
    assert(perSrc.length == 5 && perSrc.map(_.getString(1)).distinct.length == 3)
    assert(Corpus.quantileSketchBound(docsDf).collect()
      .forall(_.getAs[Boolean]("within_bound")))

    // MMR: pos-1 picks are the plain nearest neighbors
    val mmr = Similarity.mmrRerank(vecsDf).where(col("pos") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val top1 = Similarity.cosineTopK(vecsDf, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(mmr == top1)
  }

  test("graph / linkage / diagnostics / retrieval facades work on in-memory frames") {
    import spark.implicits._
    // two baskets sharing the pair (1,2); support 2 keeps only that edge
    val baskets = Seq((100L, 1L), (100L, 2L), (100L, 3L),
      (200L, 1L), (200L, 2L), (300L, 4L), (300L, 5L))
      .toDF("basket_id", "item_id")
    assert(Graphs.copurchaseEdges(baskets).as[(Long, Long, Long)]
      .collect().toSet == Set((1L, 2L, 2L)))
    assert(Graphs.copurchaseCommunities(spark, baskets).count() == 2L)
    assert(Graphs.relatedItems(baskets).count() == 2L)
    assert(Graphs.basketRules(baskets).count() == 2L)

    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Graphs.triangleStats(tri).head().getAs[Long]("n_triangles") == 1L)
    assert(Graphs.kCore(tri, k = 2, rounds = 2).as[(Long, Long)]
      .collect().toMap == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    val hops = Graphs.hopDistance(tri, Seq(1L).toDF("node"))
      .as[(Long, Long)].collect().toMap
    assert(hops == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))

    // ranks: every edge-incident node gets one; PPR anchors at sources
    val pr = Graphs.pageRank(tri).as[(Long, Long)].collect().toMap
    assert(pr.keySet == Set(1L, 2L, 3L, 4L))
    val ppr = Graphs.personalizedPageRank(tri, Seq(1L).toDF("node"))
      .as[(Long, Long)].collect().toMap
    assert(ppr(1L) > ppr(4L))
    assert(Graphs.labelPropagation(tri).count() == 4L)
    // HITS on the directed triangle+spoke: every node scored
    val hs = Graphs.hits(tri).collect()
    assert(hs.length == 4 && hs.forall(_.getAs[Long]("hub") >= 0L))

    val recs = Seq((1L, "acme corp"), (2L, "acmex corp"), (3L, "zzz"))
      .toDF("rec_id", "name")
    val lm = Linkage.bestMatches(recs).collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    // 1 and 2 share the 'corp' block and sit one edit apart; 3 is alone
    assert(lm == Map(1L -> Some(2L), 2L -> Some(1L), 3L -> None))

    val skew = Diagnostics.keySkewReport(baskets, "item_id").head()
    assert(skew.getAs[Long]("n_rows") == 7L && skew.getAs[Long]("n_keys") == 5L)
    assert(Diagnostics.tableProfile(docsDf, Seq("lang", "n_chars")).count() == 2L)

    // retrieval: fuse bm25+ql; every fused doc must appear in a source list
    val corpus = docsDf.select(col("doc_id"), col("text"))
    val bm = Retrieval.bm25TopK(corpus, nQueryTerms = 2, k = 3)
    val ql = Retrieval.qlTopK(corpus, nQueryTerms = 2, k = 3)
    val fused = Retrieval.rrfFuse(Seq(bm, ql), k = 3)
    val srcDocs = (bm.select("doc_id").collect() ++ ql.select("doc_id").collect())
      .map(_.getLong(0)).toSet
    assert(fused.count() > 0)
    assert(fused.select("doc_id").collect().map(_.getLong(0)).forall(srcDocs))
    assert(Retrieval.tfidfKeywords(corpus, k = 2)
      .groupBy("doc_id").count().collect().forall(_.getLong(1) <= 2))
    val prf = Retrieval.prfExpansion(corpus, nQueryTerms = 2, kDocs = 2, kTerms = 3).collect()
    assert(prf.forall(r => r.getString(0) != r.getString(1)))
  }

  test("round-17 facades: weighted rank, shortest paths, HyperBall, served QL") {
    import spark.implicits._
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val wtri = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "weight")
    val sym = wtri.union(wtri.select(col("dst"), col("src"), col("weight")))
    val wpr = Graphs.weightedPageRank(sym).as[(Long, Long)].collect().toMap
    assert(wpr.keySet == Set(1L, 2L, 3L, 4L))
    val sp = Graphs.shortestPaths(
      Seq((1L, 2L, 4L), (2L, 3L, 4L)).toDF("src", "dst", "cost"),
      Seq(1L).toDF("node")).as[(Long, Long)].collect().toMap
    assert(sp == Map(1L -> 0L, 2L -> 4L, 3L -> 8L))
    // tiny balls: the sketch estimates equal the exact closure counts
    val hb = Graphs.hyperBall(tri, radius = 1).as[(Long, Long, Long)].collect().toSet
    val ne = Graphs.neighborhoodExact(tri, radius = 1).as[(Long, Long, Long)].collect().toSet
    assert(hb == ne)

    val corpus = docsDf.select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-api-lexq").toString
    try {
      LexIndex.save(corpus, dir)
      val served = LexIndex.searchQl(spark, dir, Seq("the", "fox"), k = 3).collect().toSet
      val direct = Retrieval.qlRank(corpus, Seq("the", "fox"), k = 3).collect().toSet
      assert(served == direct && served.nonEmpty)
      assert(LexIndex.postings(spark, dir).count() > 0L)
    } finally graft.ops.Corpus.deleteRecursively(dir)
  }

  test("driver-round-16 facades: late-data edge indexes reconcile fragmented baskets") {
    import spark.implicits._
    // basket 100 arrives SPLIT across the two late appends — the
    // frame-in path must net to the one-shot build (d190/d191's writes)
    val dir = java.nio.file.Files.createTempDirectory("graft-api-late").toString
    try {
      EdgeIndex.appendLate(
        Seq((100L, 1L), (200L, 1L), (200L, 2L)).toDF("basket_id", "item_id"), dir)
      EdgeIndex.appendLate(
        Seq((100L, 2L)).toDF("basket_id", "item_id"), dir)
      assert(EdgeIndex.edgesOf(spark, dir).as[(Long, Long, Long)]
        .collect().toSet == Set((1L, 2L, 2L)))
    } finally graft.ops.Corpus.deleteRecursively(dir)
    val tdir = java.nio.file.Files.createTempDirectory("graft-api-tlate").toString
    try {
      def b(rows: (Long, Long, String)*) = rows.toSeq
        .toDF("basket_id", "item_id", "bday")
        .withColumn("bday", col("bday").cast("date"))
      TemporalEdgeIndex.appendLate(
        b((100L, 1L, "2024-12-31"), (200L, 1L, "2024-07-01"),
          (200L, 2L, "2024-07-01")), tdir)
      TemporalEdgeIndex.appendLate(b((100L, 2L, "2024-12-31")), tdir)
      val anchor = Seq("2024-12-31").toDF("mx").select(col("mx").cast("date"))
      assert(TemporalEdgeIndex.decayedEdgesOf(spark, tdir, anchor,
          minWeightPpm = 0L).as[(Long, Long, Long)].collect().toSet ==
        Set((1L, 2L, 1500000L)))
    } finally graft.ops.Corpus.deleteRecursively(tdir)
  }

  test("driver-round-13 facades: edge index, modularity, walks, embeddings") {
    import spark.implicits._
    val baskets = Seq((100L, 1L), (100L, 2L), (200L, 1L), (200L, 2L),
      (300L, 4L), (300L, 5L), (400L, 4L), (400L, 5L))
      .toDF("basket_id", "item_id")
    // edge index lifecycle + served consumers through the ops surface
    val dir = java.nio.file.Files.createTempDirectory("graft-api-edge").toString
    try {
      EdgeIndex.save(baskets.where(col("basket_id") <= 200L), dir)
      EdgeIndex.append(baskets.where(col("basket_id") > 200L), dir,
        checkDisjoint = true)
      val served = EdgeIndex.edgesOf(spark, dir)
      assert(served.as[(Long, Long, Long)].collect().toSet ==
        Set((1L, 2L, 2L), (4L, 5L, 2L)))
      assert(Graphs.relatedItemsFrom(baskets.distinct(), served).count() == 4L)
      assert(Graphs.basketRulesFrom(baskets.distinct(), served).count() == 4L)
    } finally graft.ops.Corpus.deleteRecursively(dir)
    // modularity: the two-pair split is denser than chance
    val edges = Seq((1L, 2L, 2L), (4L, 5L, 2L)).toDF("src", "dst", "weight")
    val assign = Seq((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L)).toDF("node", "community")
    assert(Graphs.modularity(edges, assign).head().getAs[Double]("modularity") > 0)
    // biased walks + embeddings over the walk corpus
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val walks = Graphs.biasedWalks(tri, walksPerNode = 2, steps = 3,
      wReturn = 1, wIn = 2, wOut = 2)
    assert(walks.where(col("step") === 3L).count() == 8L) // no dead ends
    val emb = Graphs.walkEmbeddings(Graphs.walkSkipGrams(walks), dim = 2, iters = 1)
    assert(emb.columns.toSeq == Seq("node", "e0", "e1") && emb.count() == 4L)
    // embedding retrieval consumer: every node gets k ranked neighbors
    val rel = Graphs.embeddingRelated(emb, k = 2)
    assert(rel.columns.toSeq == Seq("node", "rel_id", "cosine", "rank"))
    assert(rel.count() == 8L)
    // local-move refinement: an optimal split is a fixed point
    val refined = Graphs.refineCommunities(edges, assign, rounds = 2)
    assert(refined.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
    // warm-start PR from its own output is bit-stable on a fixed point
    val symE = edges.union(edges.select(col("dst"), col("src"), col("weight")))
      .toDF("src", "dst", "weight")
    val cold = Graphs.weightedPageRank(symE, iterations = 8, checkpointEvery = 1)
      .localCheckpoint()
    val warm = Graphs.weightedPageRankFrom(symE, cold, iterations = 1)
    // two disjoint symmetric pairs: uniform is the exact fixed point,
    // so cold(8) == warm(1 more) == uniform
    assert(warm.as[(Long, Long)].collect().toMap ==
      cold.as[(Long, Long)].collect().toMap)
  }

  test("edgeIndexEdgesUpTo serves the pre-append generation; retire GCs a compacted one") {
    import spark.implicits._
    val baskets = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 4L), (3L, 5L), (4L, 4L), (4L, 5L)).toDF("basket_id", "item_id")
    val dir = java.nio.file.Files.createTempDirectory("graft-api-upto").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-api-uptoc").toString
    try {
      EdgeIndex.save(baskets.where(col("basket_id") <= 2L), dir)   // batch -1
      EdgeIndex.append(baskets.where(col("basket_id") > 2L), dir)  // batch 0
      // historical read: only the first generation's pair
      assert(EdgeIndex.edgesUpTo(spark, dir, maxBatch = -1L)
        .as[(Long, Long, Long)].collect().toSet == Set((1L, 2L, 2L)))
      assert(EdgeIndex.edgesOf(spark, dir)
        .as[(Long, Long, Long)].collect().toSet ==
        Set((1L, 2L, 2L), (4L, 5L, 2L)))
      // compact -> source is marked superseded -> retire removes it
      EdgeIndex.compactTo(spark, dir, dst)
      IndexCommit.retire(spark, dir)
      assert(!new java.io.File(dir).exists())
      assert(EdgeIndex.edgesOf(spark, dst).count() == 2L)
    } finally {
      graft.ops.Corpus.deleteRecursively(dst)
      if (new java.io.File(dir).exists()) graft.ops.Corpus.deleteRecursively(dir)
    }
  }

  test("trainingShards: every curation stage applies, survivors are packed") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"), // kept (group keeper)
      (2L, "the quick brown fox jumps over the lazy dog again and again!"), // near-dup of 1
      (3L, "ein ganz anderes dokument mit der die und das wörtern"), // contaminated (== eval)
      (4L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
      (5L, "short"), // under minWords
      (6L, "spam spam spam spam spam spam spam spam"), // top-bigram frac 1.0
      (7L, "completely different text about mountains rivers and oceans flowing") // kept
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
    val evalSet = Seq(
      (100L, "ein ganz anderes dokument mit der die und das wörtern"))
      .toDF("doc_id", "text")
    val shards = Curation.trainingShards(corpus, evalSet, maxSharedGrams = 3)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(shards.map(_._1).toSeq == Seq(1L, 7L))
    assert(shards.map(_._2).toSeq == Seq(12L, 9L))
    assert(shards.forall(_._3 == 0L)) // 21 tokens < one 2048 budget
  }

  test("trainingShards: dropPplTail removes each language's worst-ppl tercile") {
    import spark.implicits._
    // 6 docs, one lang. Docs 1-4 each use 4 words from a shared pool of
    // 8, any pair overlapping on at most half (char-3-gram Jaccard well
    // under the 0.8 near-dup threshold, so MinHash dedup keeps them);
    // every pool word occurs 4x corpus-wide, so all four land at the
    // same low ppl. Docs 5/6 use corpus-unique words — the worst-ppl
    // tail tercile — and must be dropped.
    val corpus = Seq(
      (1L, "alpha bravo candy delta alpha bravo candy delta"),
      (2L, "echo forest gulf hotel echo forest gulf hotel"),
      (3L, "alpha echo candy gulf alpha echo candy gulf"),
      (4L, "bravo forest delta hotel bravo forest delta hotel"),
      (5L, "zeta eta theta iota kappa lambda mu nu"),
      (6L, "xi omicron pi rho sigma tau upsilon phi")
    ).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
    val evalSet = Seq((100L, "nothing shared here at all")).toDF("doc_id", "text")

    val without = Curation.trainingShards(corpus, evalSet)
      .as[(Long, Long, Long)].collect().map(_._1).sorted.toSeq
    val withPpl = Curation.trainingShards(corpus, evalSet, dropPplTail = true)
      .as[(Long, Long, Long)].collect().map(_._1).sorted.toSeq
    assert(without == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(withPpl == Seq(1L, 2L, 3L, 4L))
  }

  test("packChunkShards: chunks pack in (doc, chunk) order under the token budget") {
    import spark.implicits._
    val docs = Seq(
      (3L, (1 to 10).map(i => s"c$i").mkString(" ")), // 10 toks -> chunks at 0,2,4,6,8
      (1L, "a b c d e"),                              // 5 toks  -> chunks at 0,2
      (2L, "x y")                                     // 2 toks  -> one chunk
    ).toDF("doc_id", "text")
    val packed = Curation.packChunkShards(docs, window = 4, stride = 2, budget = 8)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))

    val chunks = Corpus.chunkWindows(docs, window = 4, stride = 2)
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // every chunk is packed exactly once with its token count intact
    assert(packed.map(r => (r._1, r._2, r._3)).toSeq == chunks.toSeq)
    // shard assignment is the global (doc_id, chunk_id)-ordered running
    // token sum divided by the budget — recompute it sequentially
    var acc = 0L
    val expected = chunks.map { case (d, c, n) =>
      val sid = acc / 8; acc += n; (d, c, sid)
    }.toSeq
    assert(packed.map(r => (r._1, r._2, r._4)).toSeq == expected)
  }

  test("trainingShards: optional PII scrub and duplicate-span stages apply") {
    import spark.implicits._
    // docs 1/2 share ALL their 3-gram positions (boilerplate template);
    // doc 3 is clean; doc 4 carries an email that scrubbing collapses
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "completely different text about mountains rivers and oceans"),
      (4L, "write to someone@example.com about mountains and several rivers")
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
    val evalSet = Seq((100L, "nothing shared with any training doc here"))
      .toDF("doc_id", "text")
    // span filter at n=3: docs 1/2 are exact dups -> dedup keeps 1; after
    // dedup doc 1's grams appear in no OTHER doc, so it survives; the
    // scrub turns doc 4's email into <EMAIL> (token count preserved: 8)
    val shards = Curation.trainingShards(corpus, evalSet,
        scrubPii = true, maxDupSpanFrac = 0.5, dupSpanN = 3, hashGrams = true)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(shards.map(_._1).toSeq == Seq(1L, 3L, 4L))
    assert(shards.find(_._1 == 4L).get._2 == 8L)
    // the span filter's real target: docs sharing a BOILERPLATE header
    // (8 of 12 words) that are NOT near-dups (distinct tails keep char
    // 3-gram Jaccard well under the dedup band) — 6 of each doc's 10
    // 3-gram positions are duplicated -> frac 0.6 > 0.5, both dropped
    val corpus2 = Seq(
      (1L, "terms of service apply to all registered users kittens yarn play daily"),
      (2L, "terms of service apply to all registered users ships sail oceans nightly"),
      (3L, "completely different text about mountains rivers and oceans"),
      (4L, "write to someone@example.com about mountains and several rivers")
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
    val shards2 = Curation.trainingShards(corpus2, evalSet,
        scrubPii = true, maxDupSpanFrac = 0.5, dupSpanN = 3)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(shards2.map(_._1).toSeq == Seq(3L, 4L))
  }

  test("zero-norm vectors are excluded from the ANN index and IVF search") {
    import spark.implicits._
    val withZero = vecsDf.unionAll(
      Seq((99L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding"))
    val ann = Similarity.annBestNeighbor(withZero).collect()
    assert(!ann.exists(r => r.getAs[Long]("vec_id") == 99L ||
      r.getAs[Long]("neighbor_id") == 99L))
    assert(ann.forall(r => !r.getAs[Double]("sim").isNaN))
    val vd = withZero.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val model = IvfIndex.build(spark, vd, k = 4, iters = 2)
    val found = IvfIndex.search(spark, model, vd, probes = 2).collect()
    assert(!found.exists(r => r.getAs[Long]("vec_id") == 99L ||
      r.getAs[Long]("neighbor_id") == 99L))
    assert(found.forall(r => !r.getAs[Double]("sim").isNaN))
  }

  test("similarity-search family works on in-memory embeddings") {
    val topk = Similarity.cosineTopK(vecsDf, k = 2)
    assert(topk.count() == 80) // 40 vecs x 2 ranks
    val ann = Similarity.annBestNeighbor(vecsDf)
    assert(ann.count() <= 40 && ann.count() > 0)
    val model = IvfIndex.build(spark,
      vecsDf.select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v")),
      k = 4, iters = 2)
    val found = IvfIndex.search(spark, model,
      vecsDf.select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v")),
      probes = 2)
    assert(found.count() == 40)
  }

  test("knnClassify: majority label of exact neighbors, ties to the smallest label") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.99f, 0.1f), 1),
      (2L, Array(0.98f, 0.15f), 2),
      (3L, Array(0.0f, 1.0f), 9))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(vecs, k = 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // vec 0's neighbors carry labels {1, 2, 9} -> three-way tie, smallest wins
    assert(out(0L) == ((1, 1L)))
    // vec 3's neighbors carry labels {1, 1, 2} -> majority 1 with 2 votes
    assert(out(3L) == ((1, 2L)))
    // unlabeled neighbors ABSTAIN — they must not outvote real labels
    // (the mostly-unlabeled corpus is the pseudo-labeling use case)
    val sparse = Seq(
      (0L, Array(1.0f, 0.0f), null.asInstanceOf[Integer]),
      (1L, Array(0.99f, 0.1f), null.asInstanceOf[Integer]),
      (2L, Array(0.98f, 0.15f), Integer.valueOf(5)),
      (3L, Array(0.97f, 0.2f), null.asInstanceOf[Integer]))
      .toDF("vec_id", "embedding", "label")
    val sparseOut = Similarity.knnClassify(sparse, k = 3).collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getInt(1))), r.getLong(2))).toMap
    // one row per INPUT vector: vec 2's whole neighborhood is unlabeled,
    // so it surfaces as an explicit abstention (NULL label, 0 votes)
    // instead of silently vanishing from the output
    assert(sparseOut.keySet == Set(0L, 1L, 2L, 3L))
    assert(sparseOut(2L) == ((None, 0L)))
    // the one gold label propagates to every covered vector
    assert(Seq(0L, 1L, 3L).forall(v => sparseOut(v) == ((Some(5), 1L))))
  }

  test("knnClassifyFrom: any neighbor source drives the same vote semantics") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.99f, 0.1f), 1),
      (2L, Array(0.98f, 0.15f), 2),
      (3L, Array(0.0f, 1.0f), 9))
      .toDF("vec_id", "embedding", "label")
    // plugging the exact top-k stream into the open seam reproduces
    // knnClassify row-for-row
    val viaSeam = Similarity.knnClassifyFrom(vecs, Similarity.cosineTopK(vecs, k = 3))
      .collect().map(_.toSeq).toSet
    val direct = Similarity.knnClassify(vecs, k = 3).collect().map(_.toSeq).toSet
    assert(viaSeam == direct)
    // IVF-backed kNN classification is a two-call composition:
    // ivfSearchTopK emits (vec_id, rank, neighbor_id) — the same shape
    // as the exact top-k — and the vote stage consumes it unchanged.
    // With every cell probed the candidates equal the exact baseline's,
    // so the predictions must match knnClassify exactly.
    val vd = vecs.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val model = IvfIndex.build(spark, vd, k = 2, iters = 2)
    val ivfCls = Similarity.knnClassifyFrom(vecs,
        IvfIndex.searchTopK(spark, model, vd, k = 3, probes = 2))
      .collect().map(_.toSeq).toSet
    assert(ivfCls == direct)
  }

  test("multimodal metadata works on in-memory binary payloads") {
    val media = docsDf.select(col("doc_id"),
      encode(col("text"), "UTF-8").cast("binary").as("payload"))
    val meta = Corpus.mediaMeta(media, modality = "text").collect()
    assert(meta.length == 5 && meta.forall(_.getAs[String]("modality") == "text"))
  }

  test("narrow facade operators run unchanged on a streaming DataFrame") {
    // batch/stream unification: per-document operators are narrow
    // (no shuffle), so the SAME ops functions drive readStream
    // pipelines — none of them is batch-only where semantics allow
    // streaming.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val stream = in.toDF().toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val q = TextOps.tokenStats(stream)
      .writeStream.format("memory").queryName("tok_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    val q2 = Corpus.langId(stream)
      .writeStream.format("memory").queryName("lid_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    val q3 = Curation.repetitionSignals(stream)
      .writeStream.format("memory").queryName("rep_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    // d25's narrow half (per-doc gram counts) is likewise streaming-safe —
    // only the cross-document join half of dupSpanStats is batch
    val q4 = Curation.docGramCounts(stream, n = 2)
      .writeStream.format("memory").queryName("gram_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    val q5 = Curation.piiScrub(stream)
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    // the mix APPLICATION half is streaming-safe too: weights are a
    // static frame (computed batch-side, broadcast into the stream-static
    // join) and the explode is narrow — resample arriving docs against a
    // fixed mix plan micro-batch by micro-batch
    val mixW = Seq(("en", 2.0), ("de", 0.0)).toDF("lang", "weight")
    val q6 = Curation.materializeMix(stream, mixW, dims = Seq("lang"))
      .writeStream.format("memory").queryName("mix_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    // chunking is a narrow explode, so it streams too (window 3/stride 2
    // to exercise multi-chunk docs at this size)
    val q7 = Corpus.chunkWindows(stream, window = 3, stride = 2)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    // semantic decontamination is a stream-static broadcast join plus a
    // narrow filter — screen ARRIVING training vectors against the
    // fixed eval set micro-batch by micro-batch
    val inV = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val vstream = inV.toDF().toDF("vec_id", "embedding")
    val evalVecs = Seq((100L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q8 = Corpus.semanticContaminationPairs(vstream, evalVecs, threshold = 0.9)
      .writeStream.format("memory").queryName("decon_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    // the frozen LR scorer is a narrow projection + 4-row static model
    // broadcast — model-based quality filtering of ARRIVING docs with no
    // retraining (the train half stays batch-side by design)
    val lrW = Seq(("b", -0.5), ("s", 4.0), ("a", 0.0), ("t", 0.0))
      .toDF("feature", "weight")
    val q9 = Curation.lrScoreAgainst(stream, lrW)
      .writeStream.format("memory").queryName("lr_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    // PQ encoding against a FROZEN codebook is a narrow broadcast map —
    // arriving vectors get codes micro-batch by micro-batch (the
    // index-maintenance path; training stays batch-side, like LR/LM)
    val cbS = Pq.trainExact(spark,
      Seq((10L, Seq(1.0f, 0.0f)), (11L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding"),
      m = 2)
    val q10 = Pq.encode(spark, vstream, cbS)
      .writeStream.format("memory").queryName("pq_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    // char entropy / lexical diversity are narrow per-doc projections —
    // the d78/d79 quality signals score arriving docs unchanged
    val q11 = Lexical.charEntropy(stream)
      .writeStream.format("memory").queryName("ent_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    val q12 = Lexical.lexicalDiversity(stream)
      .writeStream.format("memory").queryName("lex_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      in.addData((1L, "the quick brown fox, truly!", "en"), (2L, "der die und das ist", "de"),
        (3L, "mail me at spam@example.com from 10.0.0.1", "en"))
      q.processAllAvailable(); q2.processAllAvailable(); q3.processAllAvailable()
      q4.processAllAvailable(); q5.processAllAvailable(); q6.processAllAvailable()
      q7.processAllAvailable()
      inV.addData((1L, Seq(1.0f, 0.05f)), (2L, Seq(0.0f, 1.0f)))
      q8.processAllAvailable()
      q9.processAllAvailable()
      val tok = spark.table("tok_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
      assert(tok == Map(1L -> 5L, 2L -> 5L, 3L -> 6L))
      val lid = spark.table("lid_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang")).toMap
      assert(lid(1L) == "en" && lid(2L) == "de")
      val rep = spark.table("rep_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_words")).toMap
      assert(rep == Map(1L -> 5L, 2L -> 5L, 3L -> 6L))
      val grams = spark.table("gram_stream").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("gram"))).toSet
      assert(grams.contains((1L, "the quick")) && grams.contains((2L, "der die")))
      // 4 distinct bigrams per 5-word doc, 5 for the 6-word doc
      assert(grams.count(_._1 != 3L) == 8 && grams.count(_._1 == 3L) == 5)
      // the scrub REDACTS on the stream, not just counts: doc 3's email
      // and IP are replaced with typed placeholders micro-batch-side
      val pii = spark.table("pii_stream").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("scrubbed"), r.getAs[Long]("n_emails"), r.getAs[Long]("n_ips"))).toMap
      assert(pii.size == 3)
      assert(pii(1L)._2 == 0L && pii(2L)._2 == 0L)
      assert(pii(3L) == (("mail me at <EMAIL> from <IP>", 1L, 1L)))
      // weight 2.0 (integer): en docs 1 and 3 emit exactly 2 tagged
      // copies each; weight 0.0 drops the de doc entirely
      val mix = spark.table("mix_stream").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("copy_idx")))
      assert(mix.length == 4) // EXACTLY two copies each — no double-emits
      assert(mix.toSet == Set((1L, 1L), (1L, 2L), (3L, 1L), (3L, 2L)))
      // doc 2 ("der die und das ist", 5 tokens, window 3 / stride 2):
      // chunks [der die und], [und das ist] — overlap carries "und"
      val chunks = spark.table("chunk_stream").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
          r.getAs[String]("chunk_text")).toMap
      assert(chunks((2L, 0L)) == "der die und" && chunks((2L, 1L)) == "und das ist")
      assert(chunks.keys.count(_._1 == 3L) == 3) // 6 tokens -> starts 0,2,4
      // only the near-parallel arriving vector flags against the eval set
      val decon = spark.table("decon_stream").collect()
        .map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("eval_id")))
      assert(decon.toSet == Set((1L, 100L)))
      // doc 1 ("the quick brown fox, truly!": s = 1/5, z = -0.5 + 4*0.2
      // = 0.3) clears the planted s-heavy model's margin; docs 2 and 3
      // (no stopwords, z = -0.5) stay below it — one row per arrival
      val lrs = spark.table("lr_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("predicted")).toMap
      assert(lrs == Map(1L -> true, 2L -> false, 3L -> false))
      // arriving vectors encode against the frozen 2x2 exact codebook:
      // subspace centroids are [0.0, 1.0] each, so (1.0, 0.05) -> [1, 0]
      // and (0.0, 1.0) -> [0, 1]
      q10.processAllAvailable()
      val pqc = spark.table("pq_stream").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1).toList).toMap
      assert(pqc == Map(1L -> List(1, 0), 2L -> List(0, 1)))
      q11.processAllAvailable(); q12.processAllAvailable()
      val ent = spark.table("ent_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_cp")).toMap
      assert(ent == Map(1L -> 27L, 2L -> 19L, 3L -> 41L))
      val lex = spark.table("lex_stream").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_distinct")))).toMap
      assert(lex(1L) == ((5L, 5L)) && lex(2L) == ((5L, 5L)))
    } finally {
      q.stop(); q2.stop(); q3.stop(); q4.stop(); q5.stop(); q6.stop(); q7.stop()
      q8.stop(); q9.stop(); q10.stop(); q11.stop(); q12.stop()
    }
  }

  test("driver queries are the facade operators (delegation equivalence)") {
    val docs = graft.ops.Tables.documents(spark, sf)
    val viaQuery = SparkEntry.queries("d06_minhash_lsh")(spark, sf).collect().toSet
    val viaApi = Similarity.nearDupPairs(docs).collect().toSet
    assert(viaQuery.map(_.toSeq) == viaApi.map(_.toSeq))

    val vecs = graft.ops.Tables.embeddings(spark, sf)
    val q07 = SparkEntry.queries("d07_cosine_topk")(spark, sf).collect().toSet
    val a07 = Similarity.cosineTopK(vecs, k = 3).collect().toSet
    assert(q07.map(_.toSeq) == a07.map(_.toSeq))

    val q37 = SparkEntry.queries("d37_tfidf_topterms")(spark, sf).collect().toSet
    val a37 = Corpus.tfidfTopTerms(docs).collect().toSet
    assert(q37.map(_.toSeq) == a37.map(_.toSeq))

    val q38 = SparkEntry.queries("d38_bm25_rank")(spark, sf).collect().toSet
    val a38 = Corpus.bm25Rank(docs, graft.ops.Corpus.Bm25Query).collect().toSet
    assert(q38.map(_.toSeq) == a38.map(_.toSeq))

    val q36 = SparkEntry.queries("d36_sketch_bound")(spark, sf).collect().toSet
    val a36 = Corpus.sketchWithinBound(docs).collect().toSet
    assert(q36.map(_.toSeq) == a36.map(_.toSeq))

    val q50 = SparkEntry.queries("d50_bigram_ppl")(spark, sf).collect().toSet
    val a50 = Curation.bigramPpl(docs).collect().toSet
    assert(q50.map(_.toSeq) == a50.map(_.toSeq))

    val q51 = SparkEntry.queries("d51_bpe_train")(spark, sf).collect().toSet
    val a51 = Corpus.bpeTrain(docs).collect().toSet
    assert(q51.map(_.toSeq) == a51.map(_.toSeq))

    val q52 = SparkEntry.queries("d52_bpe_segment")(spark, sf).collect().toSet
    val a52 = Corpus.bpeSegment(docs).collect().toSet
    assert(q52.map(_.toSeq) == a52.map(_.toSeq))

    val en = docs.where(org.apache.spark.sql.functions.col("lang") === "en")
    val q47 = SparkEntry.queries("d47_dsir_weights")(spark, sf).collect().toSet
    val a47 = Curation.dsirWeights(docs, en).collect().toSet
    assert(q47.map(_.toSeq) == a47.map(_.toSeq))

    val q48 = SparkEntry.queries("d48_dsir_select")(spark, sf).collect().toSet
    val a48 = Curation.dsirSelect(docs, en).collect().toSet
    assert(q48.map(_.toSeq) == a48.map(_.toSeq))

    val q57 = SparkEntry.queries("d57_semdedup_keep")(spark, sf).collect().toSet
    val a57 = Corpus.semDedupKeep(vecs).collect().toSet
    assert(q57.map(_.toSeq) == a57.map(_.toSeq))

    val q58 = SparkEntry.queries("d58_semdedup_clusters")(spark, sf).collect().toSet
    val a58 = Corpus.semanticDupClusters(spark, vecs).collect().toSet
    assert(q58.map(_.toSeq) == a58.map(_.toSeq))

    val q59 = SparkEntry.queries("d59_hard_negatives")(spark, sf).collect().toSet
    val a59 = Similarity.hardNegativeTopK(vecs).collect().toSet
    assert(q59.map(_.toSeq) == a59.map(_.toSeq))

    val q60 = SparkEntry.queries("d60_containment_prefix")(spark, sf).collect().toSet
    val a60 = Similarity.containmentPairs(docs).collect().toSet
    assert(q60.map(_.toSeq) == a60.map(_.toSeq))

    val q62 = SparkEntry.queries("d62_dup_span_intervals")(spark, sf).collect().toSet
    val a62 = Curation.dupSpanIntervals(docs).collect().toSet
    assert(q62.map(_.toSeq) == a62.map(_.toSeq))

    val q63 = SparkEntry.queries("d63_dedup_scrub")(spark, sf).collect().toSet
    val a63 = Curation.dedupScrub(docs).collect().toSet
    assert(q63.map(_.toSeq) == a63.map(_.toSeq))

    val q73 = SparkEntry.queries("d73_pq_topk_exact")(spark, sf).collect().toSet
    val cb = Pq.trainExact(spark, vecs, m = 8)
    val a73 = Pq.topKAdc(vecs, Pq.encode(spark, vecs, cb), cb).collect().toSet
    assert(q73.map(_.toSeq) == a73.map(_.toSeq))

    val q87 = SparkEntry.queries("d87_shuffle_order")(spark, sf).collect().toSet
    val a87 = Curation.shuffleOrder(docs).collect().toSet
    assert(q87.map(_.toSeq) == a87.map(_.toSeq))

    val q88 = SparkEntry.queries("d88_interleave_order")(spark, sf).collect().toSet
    val a88 = Curation.interleaveOrder(docs).collect().toSet
    assert(q88.map(_.toSeq) == a88.map(_.toSeq))

    val q89 = SparkEntry.queries("d89_temperature_mix")(spark, sf).collect().toSet
    val a89 = Curation.temperatureWeights(docs).collect().toSet
    assert(q89.map(_.toSeq) == a89.map(_.toSeq))

    val q90 = SparkEntry.queries("d90_length_batches")(spark, sf).collect().toSet
    val a90 = Curation.lengthBatches(docs).collect().toSet
    assert(q90.map(_.toSeq) == a90.map(_.toSeq))

    val q91 = SparkEntry.queries("d91_epoch_plan")(spark, sf).collect().toSet
    val a91 = Curation.epochPlan(docs).collect().toSet
    assert(q91.map(_.toSeq) == a91.map(_.toSeq))

    val q92 = SparkEntry.queries("d92_curriculum_order")(spark, sf).collect().toSet
    val a92 = Curation.curriculumOrder(
      graft.ops.TextOps.qualityScore(docs)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("stopword_ratio").as("score"))).collect().toSet
    assert(q92.map(_.toSeq) == a92.map(_.toSeq))
  }
}
