package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.Curation

/** Curation operators (d20-d22): Gopher-style repetition signals,
  * deterministic stratified sampling, benchmark decontamination.
  */
class CurationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("curation-spec")
  override def afterAll(): Unit = spark.stop()

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("repetitionSignals: hand-computed counts") {
    // "a b a b c": words 5, distinct 3 -> dup 2; bigrams [a b, b a, a b, b c]
    // -> top "a b" x2, total 4
    val out = Curation.repetitionSignals(docs(
        1L -> "a b a b c",
        2L -> "unique words only here",
        3L -> "x"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == ((5L, 2L, 2L, 4L)))
    assert(out(2L) == ((4L, 0L, 1L, 3L)))
    assert(out(3L) == ((1L, 0L, 0L, 0L))) // single word: no bigrams
  }

  test("repetitionSignals: case/whitespace normalization") {
    val out = Curation.repetitionSignals(docs(1L -> "  The THE the  "))
      .collect().head
    assert(out.getLong(1) == 3L && out.getLong(2) == 2L) // all one word
    assert(out.getLong(3) == 2L && out.getLong(4) == 2L) // "the the" x2
  }

  test("unigramPpl: matches a sequential reference; head/tail split is invisible") {
    val corpus = docs(
      1L -> "the cat sat on the mat",
      2L -> "the dog sat on the log",
      3L -> "zyx qwv jkp",           // gibberish: every token unseen elsewhere
      4L -> "the the the the")       // boilerplate repetition
    val out = Curation.unigramPpl(corpus, headK = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap

    // sequential reference: corpus unigram counts over all 4 docs
    val toks = Seq("the cat sat on the mat", "the dog sat on the log",
      "zyx qwv jkp", "the the the the").flatMap(_.split("\\s+"))
    val cnt = toks.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val total = toks.size.toDouble
    val nv = cnt.size.toDouble
    def ref(text: String): (Long, Double, Double) = {
      val ws = text.split("\\s+")
      val slp = ws.map(w => math.log((cnt(w) + 1) / (total + nv))).sum
      val avg = slp / ws.length
      def r4(x: Double) =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (ws.length.toLong, r4(avg), r4(math.exp(-avg)))
    }
    assert(out(1L) == ref("the cat sat on the mat"))
    assert(out(3L) == ref("zyx qwv jkp"))
    assert(out(4L) == ref("the the the the"))
    // gibberish scores strictly higher perplexity than boilerplate
    assert(out(3L)._3 > out(1L)._3 && out(4L)._3 < out(1L)._3)

    // headK=0 (pure shuffle-join path) and a head covering the whole
    // vocab produce the identical frame: the split is a plan detail
    val noHead = Curation.unigramPpl(corpus, headK = 0)
      .collect().map(_.toSeq).toSet
    val allHead = Curation.unigramPpl(corpus, headK = 1000)
      .collect().map(_.toSeq).toSet
    val split = Curation.unigramPpl(corpus, headK = 2)
      .collect().map(_.toSeq).toSet
    assert(noHead == split && allHead == split)

    // frozen-vocab scoring of a NEW batch: seen tokens take their model
    // logp, unseen tokens the smoothed unseen mass — no doc dropped
    val vocab = Curation.unigramVocab(corpus)
    val fresh = docs(9L -> "the cat unseenword")
    val scored = Curation.unigramPplAgainst(fresh, vocab, headK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expSlp = math.log((cnt("the") + 1) / (total + nv)) +
      math.log((cnt("cat") + 1) / (total + nv)) +
      math.log(1.0 / (total + nv))
    val expAvg = BigDecimal(expSlp / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(scored == Seq((9L, 3L, expAvg)))
  }

  test("bigramPpl: matches a sequential reference; word order is the signal") {
    // docs 1 and 5 share the exact same unigram bag — only bigram order
    // differs: 5 is doc 1 scrambled, so it must score strictly higher
    val corpus = docs(
      1L -> "the cat sat on the mat",
      2L -> "the dog sat on the log",
      3L -> "zyx",                    // single token: no bigrams
      4L -> "the the the the",
      5L -> "mat the on sat cat the")
    val out = Curation.bigramPpl(corpus, headK = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap

    // sequential reference
    val texts = Map(
      1L -> "the cat sat on the mat", 2L -> "the dog sat on the log",
      3L -> "zyx", 4L -> "the the the the", 5L -> "mat the on sat cat the")
    val allBi = texts.values.toSeq.flatMap { t =>
      val ws = t.split("\\s+"); ws.zip(ws.drop(1))
    }
    val bCnt = allBi.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val cCnt = allBi.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val nv = texts.values.toSeq.flatMap(_.split("\\s+")).distinct.size.toDouble
    def ref(text: String): (Long, Option[Double], Option[Double]) = {
      val ws = text.split("\\s+")
      if (ws.length < 2) (0L, None, None)
      else {
        val bs = ws.zip(ws.drop(1))
        val slp = bs.map(b => math.log((bCnt(b) + 1) / (cCnt(b._1) + nv))).sum
        val avg = slp / bs.length
        (bs.length.toLong, Some(r4(avg)), Some(r4(math.exp(-avg))))
      }
    }
    for ((id, t) <- texts) assert(out(id) == ref(t), s"doc $id")
    assert(out(3L) == ((0L, None, None)))
    // scrambled word order scores strictly higher perplexity
    assert(out(5L)._3.get > out(1L)._3.get)

    // head split is a plan detail
    val noHead = Curation.bigramPpl(corpus, headK = 0).collect().map(_.toSeq).toSet
    val allHead = Curation.bigramPpl(corpus, headK = 1000).collect().map(_.toSeq).toSet
    val split = Curation.bigramPpl(corpus, headK = 2).collect().map(_.toSeq).toSet
    assert(noHead == split && allHead == split)
  }

  test("in-row token/bigram counts equal the relational formulation (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // docTokens/bigramCountsUdf replicate Catalyst trim/lower/split in
    // JVM code for the narrow plan shape — this property pins the parity
    // on adversarial text (unicode whitespace variants, multibyte,
    // case-folding pairs, empty and whitespace-only docs), where a
    // locale or regex divergence would silently skew every LM score
    val piece = Gen.oneOf("a", "A", "aa", "а", "Б", "☃", "🦊", "x.y",
      "-", "", " ", "\t", "\n", " ", "İ", "ß")
    val doc = Gen.chooseNum(0, 14).flatMap(n => Gen.listOfN(n, piece))
      .map(_.mkString(" "))
    val corpusGen = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, doc))
    val prop = Prop.forAll(corpusGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val viaUdf = Curation.docTokens(df)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val viaSql = df
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("m"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val uniOk = viaUdf == viaSql
      // bigram parity through the public operator: n_bigrams must match
      // the SQL adjacent-pair count for every doc
      val nbUdf = Curation.bigramPpl(df, headK = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nbSql = df
        .select(col("doc_id"),
          (size(split(lower(trim(col("text"))), "\\s+")) - 1).as("nb"))
        .collect().map(r => r.getLong(0) -> math.max(0L, r.getInt(1).toLong)).toMap
      uniOk && nbUdf == nbSql
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("docTokens is a narrow projection: no token-stream shuffle") {
    val plan = Curation.docTokens(docs(1L -> "a b a", 2L -> "c"))
      .queryExecution.executedPlan.toString
    assert(graft.tools.PlanAudit.countNode(plan, "Exchange") == 0, plan)
  }

  // shared fixture for the DSIR tests: raw corpus + small trusted target
  private val dsirRaw = Seq(
    1L -> "the cat sat on the mat",
    2L -> "the dog sat on the log",
    3L -> "zyx qwv jkp",
    4L -> "the the the the")
  private val dsirTgt = Seq(11L -> "the cat sat", 12L -> "the cat ran")

  private def r4(x: Double) =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Sequential two-model reference of dsirWeights: add-one-smoothed
    * unigram logps under raw and target counts (an unseen target token's
    * (0+1)/(T+V) IS the smoothed unseen mass, so getOrElse(0) covers the
    * coalesce branch). */
  private def dsirRef(text: String): (Long, Double) = {
    def model(ds: Seq[(Long, String)]) = {
      val toks = ds.flatMap(_._2.split("\\s+"))
      val cnt = toks.groupBy(identity).view.mapValues(_.size.toDouble).toMap
      (cnt, toks.size.toDouble, cnt.size.toDouble)
    }
    val (cr, tr, nr) = model(dsirRaw)
    val (ct, tt, nt) = model(dsirTgt)
    val ws = text.split("\\s+")
    val st = ws.map(w => math.log((ct.getOrElse(w, 0.0) + 1) / (tt + nt))).sum
    val sr = ws.map(w => math.log((cr(w) + 1) / (tr + nr))).sum
    (ws.length.toLong, r4(st - sr))
  }

  test("dsirWeights: matches a sequential two-model reference; head split invisible") {
    val raw = docs(dsirRaw: _*)
    val target = docs(dsirTgt: _*)
    val out = Curation.dsirWeights(raw, target, headK = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    for ((id, text) <- dsirRaw) assert(out(id) == dsirRef(text))
    // the on-target doc outscores gibberish: DSIR's selection signal
    assert(out(1L)._2 > out(3L)._2)

    // headK=0 (pure shuffle-join path) and a head covering the whole
    // vocab produce the identical frame: the split is a plan detail
    val noHead = Curation.dsirWeights(raw, target, headK = 0)
      .collect().map(_.toSeq).toSet
    val allHead = Curation.dsirWeights(raw, target, headK = 1000)
      .collect().map(_.toSeq).toSet
    val split = Curation.dsirWeights(raw, target, headK = 2)
      .collect().map(_.toSeq).toSet
    assert(noHead == split && allHead == split)
  }

  test("dsirSelect: Gumbel top-k matches the md5-coin reference, rank order exact") {
    val k = 3
    val out = Curation.dsirSelect(docs(dsirRaw: _*), docs(dsirTgt: _*),
        k = k, headK = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))

    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def gumbel(id: Long) = {
      val h = java.lang.Long.parseLong(md5hex(id.toString).take(8), 16).toDouble
      val u = (h + 0.5) / 4294967296.0
      -math.log(-math.log(u))
    }
    // score = round(rounded log_ratio + gumbel, 4), ranked (desc, doc_id)
    val expected = dsirRaw
      .map { case (id, t) => (id, r4(dsirRef(t)._2 + gumbel(id))) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
      .zipWithIndex.map { case ((id, s), i) => (id, s, (i + 1).toLong) }
    assert(out.sortBy(_._3).toSeq == expected)
  }

  test("dsirWeightsAgainst: persisted LmIndex models reproduce the direct computation") {
    import graft.ops.LmIndex
    val raw = docs(dsirRaw: _*)
    val target = docs(dsirTgt: _*)
    val rawDir = java.nio.file.Files.createTempDirectory("dsir-raw").toString
    val tgtDir = java.nio.file.Files.createTempDirectory("dsir-tgt").toString
    LmIndex.save(raw, rawDir)
    LmIndex.save(target, tgtDir)
    val direct = Curation.dsirWeights(raw, target, headK = 2)
      .collect().map(_.toSeq).toSet
    val indexed = Curation.dsirWeightsAgainst(raw,
        LmIndex.vocab(spark, rawDir), LmIndex.vocab(spark, tgtDir),
        headK = 2)
      .collect().map(_.toSeq).toSet
    assert(indexed == direct)
  }

  test("dsirSelect: top-k is a TakeOrdered, never a corpus-wide sort") {
    val df = Curation.dsirSelect(docs(dsirRaw: _*), docs(dsirTgt: _*),
      k = 2, headK = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(graft.tools.PlanAudit.countNode(plan, "TakeOrderedAndProject") >= 1, plan)
    // the only Window is the rank pass over the k selected rows
    assert(graft.tools.PlanAudit.countNode(plan, "Window") <= 1, plan)
  }

  test("pplBuckets: per-lang terciles are ordered and near-balanced") {
    import spark.implicits._
    // 9 docs per lang with strictly increasing repetition -> distinct ppl
    val rows = for {
      lang <- Seq("aa", "bb"); i <- 1 to 9
    } yield ((if (lang == "aa") 0L else 100L) + i, lang,
      (1 to 12).map(j => s"w${lang}_${math.min(j, i)}").mkString(" "))
    val df = rows.toDF("doc_id", "lang", "text")
    val out = Curation.pplBuckets(df).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(out.length == 18)
    for (lang <- Seq("aa", "bb")) {
      val g = out.filter(_._2 == lang).sortBy(_._3)
      val sizes = g.groupBy(_._4).view.mapValues(_.length).toMap
      assert(sizes == Map("head" -> 3, "middle" -> 3, "tail" -> 3))
      // bucket order follows ppl order
      assert(g.map(_._4).toSeq ==
        Seq.fill(3)("head") ++ Seq.fill(3)("middle") ++ Seq.fill(3)("tail"))
    }
  }

  test("stratifiedSample: exact k per stratum, deterministic, bounded-selection == single window") {
    import spark.implicits._
    val n = 500
    val df = spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("lang"), pmod(col("id"), lit(4))).as("lang"))
    val k = 7
    val got = Curation.stratifiedSample(df, "lang", k = k)
    val rows = got.collect()
    // exactly k per stratum, ranks 1..k
    val byLang = rows.groupBy(_.getString(1))
    assert(byLang.keySet.size == 4)
    byLang.values.foreach { g =>
      assert(g.length == k)
      assert(g.map(_.getLong(2)).sorted.toSeq == (1L to k.toLong))
    }
    // equals the naive single-window formulation
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val naive = df.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("doc_id"), col("lang"), col("rn").cast("long").as("sample_rank"))
      .as[(Long, String, Long)].collect().toSet
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet == naive)
    // deterministic across invocations
    assert(got.collect().toSet == rows.toSet)
  }

  test("repetitionSignals: tab/newline edges tokenize like the SQL trim/split path") {
    // Java String.trim strips every char <= U+0020; SQL TRIM strips ' '
    // alone, so "\ta b\n" keeps its edge whitespace and splits to
    // ["", a, b, ""] under Catalyst/DuckDB semantics. The UDF must agree.
    val tricky = docs(
      1L -> "\ta b\n",     // tab head, newline tail -> 2 empty edge tokens
      2L -> "  a b  ",     // plain spaces: trimmed clean
      3L -> "a\tb\nc")     // interior whitespace only
    val got = Curation.repetitionSignals(tricky)
      .select(col("doc_id"), col("n_words")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sqlWords = tricky
      .select(col("doc_id"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == sqlWords)
    assert(got(1L) == 4L && got(2L) == 2L && got(3L) == 3L)
  }

  test("dupSpanStats: tab-edged text keeps dup_spans <= n_spans (UDF and SQL spans agree)") {
    // before the trim unification the UDF counted grams over Java-trimmed
    // tokens while n_spans counted SQL-trimmed tokens — a doc with edge
    // tabs could report more gram positions than spans
    val out = Curation.dupSpanStats(docs(
        1L -> "\tv w x y z\n",
        2L -> "v w x y z"), n = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    out.foreach { case (id, (nSpans, dupSpans)) =>
      assert(dupSpans <= nSpans, s"doc $id: dup $dupSpans > spans $nSpans")
    }
    // doc 1 tokens ["", v, w, x, y, z, ""]: 6 bigram spans, 4 shared with doc 2
    assert(out(1L) == ((6L, 4L)))
    assert(out(2L) == ((4L, 4L)))
  }

  test("stratifiedSample: null doc_id is excluded, not an NPE") {
    import spark.implicits._
    val df = Seq((Some(1L), "en"), (Some(2L), "en"), (None: Option[Long], "en"))
      .toDF("doc_id", "lang")
    val rows = Curation.stratifiedSample(df, "lang", k = 10).collect()
    assert(rows.length == 2)
    assert(rows.forall(!_.isNullAt(0)))
  }

  test("stratifiedSample: strata smaller than k keep all rows") {
    val df = docs(1L -> "a", 2L -> "b").withColumn("lang", lit("only"))
    val rows = Curation.stratifiedSample(df, "lang", k = 10).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L))
  }

  test("contaminationPairs: planted overlap found, clean docs absent") {
    val evalSet = docs(100L -> "the quick brown fox jumps")
    val train = docs(
      1L -> "somewhere the quick brown fox appears", // shares "the quick brown", "quick brown fox"
      2L -> "completely unrelated training text here",
      3L -> "the quick brown fox jumps word for word") // shares all 3 eval grams
    val out = Curation.contaminationPairs(train, evalSet, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 100L) -> 2L, (3L, 100L) -> 3L))
  }

  test("contaminationPairs: duplicate grams count once per doc") {
    val evalSet = docs(9L -> "a b c")
    val train = docs(1L -> "a b c x a b c y a b c")
    val out = Curation.contaminationPairs(train, evalSet, n = 3).collect()
    assert(out.length == 1 && out.head.getLong(2) == 1L) // distinct gram "a b c" once
  }

  test("contaminationPairs: docs shorter than n produce no grams") {
    val out = Curation.contaminationPairs(
      docs(1L -> "a b"), docs(2L -> "a b"), n = 3).collect()
    assert(out.isEmpty)
  }

  test("dupSpanStats: planted shared span counted positionally, unique docs zero") {
    // docs 1 and 2 share the 5-gram "v w x y z" (doc 1 carries it twice —
    // both POSITIONS count); doc 3 is unique; doc 4 is too short for grams.
    val out = Curation.dupSpanStats(docs(
        1L -> "v w x y z q v w x y z",
        2L -> "a b v w x y z c",
        3L -> "p q r s t u",
        4L -> "tiny doc"), n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1: 7 spans; dup grams shared with doc 2: "v w x y z" x2 positions
    assert(out(1L) == ((7L, 2L)))
    // doc 2: 4 spans ("a b v w x", "b v w x y", "v w x y z", "w x y z c");
    // only "v w x y z" appears elsewhere
    assert(out(2L) == ((4L, 1L)))
    assert(out(3L) == ((2L, 0L)))
    assert(out(4L) == ((0L, 0L))) // short doc still present, zero spans
  }

  test("dupSpanStats: within-doc-only repetition is NOT inter-document duplication") {
    // "m n o p q" occurs twice in doc 1 but in no other doc
    val out = Curation.dupSpanStats(docs(
        1L -> "m n o p q m n o p q",
        2L -> "c d e f g h"), n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 0L && out(2L) == 0L)
  }

  test("hashGrams production mode: contaminationPairs counts equal the string-gram path") {
    val evalSet = docs(100L -> "the quick brown fox jumps", 101L -> "pack my box")
    val train = docs(
      1L -> "somewhere the quick brown fox appears",
      2L -> "completely unrelated training text here",
      3L -> "the quick brown fox jumps word for word pack my box")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val strings = asSet(Curation.contaminationPairs(train, evalSet, n = 3))
    val hashed = asSet(Curation.contaminationPairs(train, evalSet, n = 3, hashGrams = true))
    assert(strings.nonEmpty && hashed == strings)
  }

  test("hashGrams production mode: dupSpanStats counts equal the string-gram path") {
    val corpus = docs(
      1L -> "v w x y z q v w x y z",
      2L -> "a b v w x y z c",
      3L -> "p q r s t u",
      4L -> "tiny doc")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val strings = asSet(Curation.dupSpanStats(corpus, n = 5))
    val hashed = asSet(Curation.dupSpanStats(corpus, n = 5, hashGrams = true))
    assert(strings.nonEmpty && hashed == strings)
  }

  test("hashGrams equivalence is a property, not a fixture (adversarial token streams)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // the fixture tests above prove count-equality on one corpus; this
    // property samples adversarial token streams — heavy repetition,
    // empty documents, multi-byte unicode and surrogate-pair emoji,
    // visually-identical-but-distinct codepoints (latin 'a' vs cyrillic
    // 'а'), punctuation-only tokens — the shapes where a string-vs-hash
    // divergence would hide, so the 1e-19 collision argument rests on
    // sampled token space, not one hand-picked fixture
    val token = Gen.oneOf("a", "b", "aa", "а", "б", "☃", "🦊", "x.y", "-")
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, token))
      .map(_.mkString(" "))
    val corpusGen = Gen.chooseNum(2, 6).flatMap(n => Gen.listOfN(n, doc))
    val prop = Prop.forAll(corpusGen, corpusGen) { (trainDocs, evalDocs) =>
      val train = trainDocs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val evalSet = evalDocs.zipWithIndex.map { case (t, i) => (100L + i, t) }
        .toDF("doc_id", "text")
      def pairs(h: Boolean) =
        Curation.contaminationPairs(train, evalSet, n = 2, hashGrams = h)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      def spans(h: Boolean) =
        Curation.dupSpanStats(train, n = 2, hashGrams = h)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      pairs(h = true) == pairs(h = false) && spans(h = true) == spans(h = false)
    }
    // 12 sampled corpora (each trial runs four Spark jobs — the trial
    // count trades CI time, not confidence: tokens are drawn from the
    // full adversarial vocabulary every trial)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("hashGrams mode carries 8-byte gram keys through the d22 join") {
    val evalSet = docs(9L -> "a b c")
    val train = docs(1L -> "a b c x")
    val plan = Curation.contaminationPairs(train, evalSet, n = 3, hashGrams = true)
      .queryExecution.analyzed
    // the join keys are LongType (xxhash64), not the string grams
    val gramTypes = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.toSeq.flatMap(_.references.filter(_.name == "gram").map(_.dataType))
    }.flatten
    assert(gramTypes.nonEmpty &&
      gramTypes.forall(_ == org.apache.spark.sql.types.LongType), gramTypes.toString)
  }

  test("mixWeights: uniform target equalizes token mass across cells") {
    import spark.implicits._
    // cell A: 6 tokens over 2 docs; cell B: 2 tokens over 1 doc; total 8,
    // 2 cells -> uniform share 4: weight(A) = 8/(2*6) = 2/3, weight(B) = 8/(2*2) = 2
    val df = Seq(
      (1L, "a b c", "en", "web"),
      (2L, "d e f", "en", "web"),
      (3L, "g h", "ru", "books")).toDF("doc_id", "text", "lang", "source")
    val out = Curation.mixWeights(df).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(("en", "web")) == ((2L, 6L, 8.0 / 12.0)))
    assert(out(("ru", "books")) == ((1L, 2L, 2.0)))
    // the defining invariant: weighted token mass is equal per cell
    val masses = out.values.map { case (_, toks, w) => toks * w }.toSeq
    assert(masses.forall(m => math.abs(m - masses.head) < 1e-9))
    // grand totals come from agg + broadcast cross-join over the cached
    // cells frame, NOT an unpartitioned window: a high-cardinality `dims`
    // must degrade to a parallel aggregation, never a one-task pass over
    // every cell (and the "No Partition Defined for Window" warning that
    // used to sit in every bench tail is gone with the window)
    val plan = Curation.mixWeights(df).queryExecution.executedPlan.toString
    assert(graft.tools.PlanAudit.countNode(plan, "Window") == 0, plan)
  }

  test("mixWeights: explicit target fractions override the uniform share") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d d d", "en", "web"), // 6 tokens
      (2L, "g h", "ru", "books")) // 2 tokens; total 8
      .toDF("doc_id", "text", "lang", "source")
    val targets = Seq(("en", "web", 0.75), ("ru", "books", 0.25))
      .toDF("lang", "source", "target_frac")
    val out = Curation.mixWeights(df, targets = Some(targets)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    // weight = target_frac * total / n_tokens: en 0.75*8/6 = 1.0 (already
    // at target), ru 0.25*8/2 = 1.0 (already at target)
    assert(out(("en", "web")) == 1.0 && out(("ru", "books")) == 1.0)
    val skew = Seq(("en", "web", 0.5), ("ru", "books", 0.5))
      .toDF("lang", "source", "target_frac")
    val out2 = Curation.mixWeights(df, targets = Some(skew)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(out2(("en", "web")) == 0.5 * 8 / 6 && out2(("ru", "books")) == 2.0)
    // a cell with no target row surfaces as an explicit weight-0 row —
    // a whole domain must not silently vanish from the assembled mix
    val partial = Seq(("en", "web", 1.0)).toDF("lang", "source", "target_frac")
    val out3 = Curation.mixWeights(df, targets = Some(partial)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(out3.size == 2 && out3(("ru", "books")) == 0.0)
  }

  test("applyMix: integer weights copy exactly; fractional weights sample the md5 coin") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c", "en", "web"),
      (2L, "d e f", "en", "web"),
      (3L, "g h", "ru", "books")).toDF("doc_id", "text", "lang", "source")
    // uniform target: en/web weight 2/3 (frac .667 coin), ru/books exactly 2
    val out = Curation.applyMix(df, Curation.mixWeights(df)).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(3L) == 2L) // weight 2.0: frac 0 -> every doc exactly 2 copies
    assert(Seq(0L, 1L).contains(out(1L)) && Seq(0L, 1L).contains(out(2L)))
    // deterministic: the md5 coin lands the same way every run
    val again = Curation.applyMix(df, Curation.mixWeights(df)).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(again == out)
    // expected copy mass per cell ~ weight * n_docs: on a bigger cell the
    // md5 coin must land near its probability
    val big = (1L to 1000L).map(id => (id, "w x y z", "en", "web")).toDF(
      "doc_id", "text", "lang", "source")
    val w = Seq(("en", "web", 0.5)).toDF("lang", "source", "weight")
    val copies = Curation.applyMix(big, w).agg(sum(col("n_copies"))).head().getLong(0)
    assert(copies > 400 && copies < 600, s"got $copies of expected ~500")
  }

  test("materializeMix: copy counts expand to tagged rows; 0-copy docs drop") {
    import spark.implicits._
    val df = (1L to 200L).map(id => (id, "w x y", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val w = Seq(("en", "web", 2.25)).toDF("lang", "source", "weight")
    val counts = Curation.applyMix(df, w).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val rows = Curation.materializeMix(df, w).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    // total expansion equals the declared copy counts, per doc
    val perDoc = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    counts.foreach { case (id, n) =>
      assert(perDoc.getOrElse(id, Seq.empty) == (1L to n),
        s"doc $id: n_copies $n vs ${perDoc.get(id)}")
    }
    // weight 2.25: every doc >= 2 copies, ~1/4 get a third
    assert(rows.length >= 400 && rows.length < 500, s"got ${rows.length}")
    // downsample guard: sequence(1, 0) is DESCENDING in Spark — a 0-copy
    // doc must be absent, not doubled
    val down = Seq(("en", "web", 0.0)).toDF("lang", "source", "weight")
    assert(Curation.materializeMix(df, down).count() == 0L)
  }

  test("applyMix: a weight just below 1.0 upsamples near-certainly (threshold boundary)") {
    import spark.implicits._
    // frac = nextDown(1.0) drives the md5 coin threshold to its ceiling
    // 'ffffffff' — every doc except an exact-'ffffffff' md5 prefix
    // (probability 16^-8) gets the extra copy. Pins the boundary the
    // least() clamp protects: a threshold that ever formatted as the
    // 9-char '100000000' would drop this to ~1/16 of docs.
    val docs = (1L to 256L).map(id => (id, "t", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val w = Seq(("en", "web", math.nextDown(1.0))).toDF("lang", "source", "weight")
    val copies = Curation.applyMix(docs, w).agg(sum(col("n_copies"))).head().getLong(0)
    assert(copies >= 255L, s"got $copies of 256 near-certain extra copies")
  }

  test("piiScrub: planted emails/IPs/phones are redacted and counted") {
    val out = Curation.piiScrub(docs(
        1L -> "contact bob@example.com or 555-123 4567, server at 192.168.1.1",
        2L -> "no pii here at all",
        3L -> "two mails: a.b+c@x.co.uk and d_e%f@y.io"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L)._1 == "contact <EMAIL> or <PHONE>, server at <IP>")
    assert(out(1L)._2 == 1L && out(1L)._3 == 1L && out(1L)._4 == 1L)
    assert(out(2L) == (("no pii here at all", 0L, 0L, 0L)))
    assert(out(3L)._1 == "two mails: <EMAIL> and <EMAIL>")
    assert(out(3L)._2 == 2L)
  }

  test("piiScrub: IP octets are not double-counted as phones; email wins overlaps") {
    val out = Curation.piiScrub(docs(
        1L -> "ip 10.20.30.40 only", // dots break the phone pattern
        2L -> "5551234567@mail.com")) // phone-shaped digits inside an email
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (("ip <IP> only", 0L, 1L, 0L)))
    // counts see both patterns on the raw text; the scrub replaces the
    // email first so the phone digits are gone from the output
    assert(out(2L)._1 == "<EMAIL>")
    assert(out(2L)._2 == 1L && out(2L)._4 == 1L)
  }

  test("piiScrub: long digit runs are NOT phones (boundary guards)") {
    val out = Curation.piiScrub(docs(
        1L -> "order 1234567890123456 confirmed", // 16-digit ID, not a phone
        2L -> "call 5551234567 now")) // standalone 10 digits IS one
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(4))).toMap
    assert(out(1L) == (("order 1234567890123456 confirmed", 0L)))
    assert(out(2L) == (("call <PHONE> now", 1L)))
  }

  test("piiScrub is a narrow streaming-safe projection (no shuffle in the plan)") {
    val plan = Curation.piiScrub(docs(1L -> "x"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("gopherRules: each rule fires on its planted violator") {
    val longDoc = (Seq("the", "a") ++ Seq.fill(60)("word")).mkString(" ")
    val out = Curation.gopherRules(docs(
        1L -> longDoc,                                     // passes all rules
        2L -> "the a short doc only",                      // < minWords
        3L -> (Seq("the", "a") ++ Seq.fill(60)("xy")).mkString(" "),  // mean len < 3
        4L -> Seq.fill(60)("word").mkString(" "),          // no stop words
        5L -> (Seq("the", "a") ++ Seq.fill(30)("word") ++
          Seq.fill(30)("123")).mkString(" "),              // alpha ratio < 0.8
        6L -> (Seq("the", "a") ++ Seq.fill(50)("word") ++
          Seq.fill(10)("###")).mkString(" ")),             // symbol ratio > 0.1
        minWords = 50)
      .collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
      5L -> false, 6L -> false))
  }

  test("gopherRules: signal arithmetic on a hand-computed doc") {
    // 4 words, 17 non-space chars, 1 stop hit, 3 alphabetic words,
    // one '#' and one '...' -> 2 symbols
    val out = Curation.gopherRules(docs(1L -> "the word# x... 12345"))
      .collect().head
    assert(out.getLong(1) == 4L)
    assert(out.getDouble(2) == 17.0 / 4)   // incl. '#', '.' and digits
    assert(out.getLong(3) == 1L)
    assert(out.getDouble(4) == 3.0 / 4)
    assert(out.getDouble(5) == 2.0 / 4)
  }

  test("gopherRules is a narrow streaming-safe projection (no shuffle in the plan)") {
    val plan = Curation.gopherRules(docs(1L -> "x"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("hashSplit: buckets match a sequential md5 reference; proportions are sane") {
    import spark.implicits._
    val ids = (1L to 500L)
    val out = Curation.hashSplit(ids.map(i => (i, "x")).toDF("doc_id", "text"))
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    def refBucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    ids.foreach { id =>
      val (bucket, split) = out(id)
      assert(bucket == refBucket(id))
      val expected =
        if (bucket < 10) "test" else if (bucket < 20) "validation" else "train"
      assert(split == expected)
    }
    val counts = out.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(counts("train") > 350 && counts("test") > 20 && counts("validation") > 20)
  }

  test("hashSplit: membership is stable under corpus growth (no migration)") {
    import spark.implicits._
    val small = Curation.hashSplit((1L to 100L).map(i => (i, "x")).toDF("doc_id", "text"))
      .as[(Long, Long, String)].collect().toSet
    val large = Curation.hashSplit((1L to 1000L).map(i => (i, "x")).toDF("doc_id", "text"))
      .as[(Long, Long, String)].collect().filter(_._1 <= 100L).toSet
    assert(small == large)
  }

  test("hashSplit is a narrow streaming-safe projection (no shuffle in the plan)") {
    val plan = Curation.hashSplit(docs(1L -> "x"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("packShards: equals the naive global-window formulation") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val df = (1L to 400L).map { id =>
      (id, Seq.fill(1 + rng.nextInt(30))("w").mkString(" "))
    }.toDF("doc_id", "text")
    val budget = 64L
    for (parts <- Seq(1, 4, 32)) {
      val got = Curation.packShards(df, budget, parts)
        .as[(Long, Long, Long)].collect().toSet
      val naive = df
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
        .withColumn("before", coalesce(
          sum(col("n_tokens")).over(Window.orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("doc_id"), col("n_tokens"),
          expr(s"before div $budget").as("shard_id"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == naive, s"parts=$parts")
    }
  }

  test("packShards: shards are contiguous in doc_id order and start-bounded") {
    import spark.implicits._
    val df = (1L to 300L).map(id => (id, "a b c d e f g")).toDF("doc_id", "text")
    val rows = Curation.packShards(df, budget = 50, partitions = 8)
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    // nondecreasing shard ids, and each doc's start offset lies in its shard
    var cum = 0L
    var last = 0L
    rows.foreach { case (_, n, shard) =>
      assert(shard >= last); last = shard
      assert(cum / 50 == shard)
      cum += n
    }
    // 7-token docs < 50-token budget: every shard gets at least one start
    assert(rows.map(_._3).distinct.length == last.toInt + 1)
  }

  test("eval side is broadcast in the d22 plan") {
    val q = graft.ops.Curation.queries.find(_.name == "d22_decontaminate").get
    val plan = q.fn(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("mixWeights cells cache is bounded and deterministically evictable") {
    import spark.implicits._
    Curation.evictCellCaches(spark)
    assert(Curation.cachedCellCount == 0)
    // sweep MORE distinct inputs than the cap: each docs frame has a
    // distinct plan (different literal rows), so each mixWeights call
    // caches a new cells frame — the registry must evict oldest-first
    // instead of growing without bound
    val n = Curation.MaxCachedCellFrames + 5
    (1 to n).foreach { i =>
      val df = Seq((i.toLong, s"text $i", "en", s"src$i"))
        .toDF("doc_id", "text", "lang", "source")
      Curation.mixWeights(df).collect()
    }
    assert(Curation.cachedCellCount == Curation.MaxCachedCellFrames,
      s"registry grew to ${Curation.cachedCellCount}")
    // a repeat call over the SAME plan must not add an entry (plan-keyed
    // dedup, mirroring CacheManager)
    val again = Seq((n.toLong, s"text $n", "en", s"src$n"))
      .toDF("doc_id", "text", "lang", "source")
    Curation.mixWeights(again).collect()
    assert(Curation.cachedCellCount == Curation.MaxCachedCellFrames)
    // deterministic invalidation for mutated inputs
    Curation.evictCellCaches(spark)
    assert(Curation.cachedCellCount == 0)
  }

  test("onStopOnce registers one listener per (session, tag), even after eviction") {
    // the cells registry can be fully swept (cap eviction or the explicit
    // evict above) — a later cacheCells call must NOT re-register a
    // session-stop listener; registration is tracked per tag, not
    // inferred from registry contents
    assert(Sessions.onStopOnce(spark, "curation-spec-once")(() => ()))
    assert(!Sessions.onStopOnce(spark, "curation-spec-once")(() => ()))
    assert(!Sessions.onStopOnce(spark, "curation-spec-once")(() => ()))
    assert(Sessions.onStopOnce(spark, "curation-spec-other")(() => ()))
  }

  test("sortableBits preserves double ordering exactly (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val dbl = Gen.oneOf(
      Gen.chooseNum(-1e300, 1e300),
      Gen.oneOf(0.0, -0.0, 1.0 / 3.0, 0.3333333333333333, Double.MinPositiveValue,
        -Double.MinPositiveValue, 1e-320, Double.MaxValue, Double.MinValue))
    val prop = Prop.forAll(dbl, dbl) { (a, b) =>
      java.lang.Long.compareUnsigned(
        Curation.sortableBits(a), Curation.sortableBits(b)).sign ==
        java.lang.Double.compare(a, b).sign
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("qualityTopK selects the same rows and ranks as a window brute force") {
    import spark.implicits._
    // two strata; ratios engineered with shared values to exercise the
    // doc_id tie-break (docs 1/2 tie at 1/2; docs 10/12 tie at 1/3)
    val docs = Seq(
      (1L, "the a x y", "en"), (2L, "of to p q", "en"), (3L, "the x y z", "en"),
      (4L, "x y z w", "en"),
      (10L, "the x y", "de"), (11L, "the of x", "de"), (12L, "a p q", "de"))
      .toDF("doc_id", "text", "lang")
    val got = Curation.qualityTopK(docs, "lang", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val brute = graft.ops.TextOps.qualityScore(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("stopword_ratio").desc, col("doc_id"))))
      .where(col("rank") <= 2)
      .select(col("lang"), col("doc_id"), col("stopword_ratio"),
        col("rank").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(got == brute)
    // the en tie at 1/2 broke toward the smaller doc_id
    assert(got.contains(("en", 1L, 0.5, 1L)) && got.contains(("en", 2L, 0.5, 2L)))
    assert(got.contains(("de", 11L, 2.0 / 3.0, 1L)) && got.contains(("de", 10L, 1.0 / 3.0, 2L)))
  }

  test("shuffleOrder equals the window brute force and is a 1..n permutation") {
    import spark.implicits._
    val ids = (0L until 200L).toDF("doc_id")
    val got = Curation.shuffleOrder(ids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = ids
      .withColumn("position", row_number().over(Window.orderBy(
        md5(concat_ws(":", lit("graft"), col("doc_id").cast("string"))),
        col("doc_id"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == brute)
    assert(got.values.toSeq.sorted == (1L to 200L))
  }

  test("shuffleOrder: seeded determinism, seed sensitivity, growth keeps relative order") {
    import spark.implicits._
    val ids = (0L until 100L).toDF("doc_id")
    def order(df: org.apache.spark.sql.DataFrame, seed: String): Seq[Long] =
      Curation.shuffleOrder(df, seed).orderBy("position")
        .collect().map(_.getLong(0)).toSeq
    val a = order(ids, "graft")
    assert(a == order(ids, "graft"), "same seed must reproduce the epoch order")
    assert(a != order(ids, "other"), "a different seed must permute differently")
    // growing the corpus inserts new docs into the permutation without
    // reordering the survivors relative to each other
    val grown = order((0L until 150L).toDF("doc_id"), "graft")
    assert(grown.filter(_ < 100L) == a)
  }

  test("interleaveOrder equals the window brute force and round-robins groups") {
    import spark.implicits._
    // unequal group sizes: en 5, de 3, fr 1 — small groups exhaust early
    val docs = (Seq.tabulate(5)(i => (i.toLong, "en")) ++
        Seq.tabulate(3)(i => (10L + i, "de")) :+ ((20L, "fr")))
      .toDF("doc_id", "source")
    val got = Curation.interleaveOrder(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val brute = docs
      .withColumn("skey",
        md5(concat_ws(":", lit("graft"), col("doc_id").cast("string"))))
      .withColumn("rank_in_group", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("skey"), col("doc_id"))).cast("long"))
      .withColumn("position", row_number().over(
        Window.orderBy(col("rank_in_group"), col("source"))).cast("long"))
      .select(col("doc_id"), col("source"), col("rank_in_group"), col("position"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == brute.toSet)
    val byPos = got.sortBy(_._4)
    // while all three groups are live, consecutive positions cycle de,en,fr
    assert(byPos.take(3).map(_._2).toSeq == Seq("de", "en", "fr"))
    assert(byPos.map(_._4).toSeq == (1L to 9L))
    // ranks never decrease along the epoch and fr appears exactly once
    assert(byPos.map(_._3).toSeq == byPos.map(_._3).sorted.toSeq)
    assert(byPos.count(_._2 == "fr") == 1)
  }

  test("groupRank plan: offsets ride a broadcast join, no Window nodes") {
    import spark.implicits._
    // the returned frames of the ordering ops are RDD-backed (sequenceBy's
    // zipWithIndex), so THEIR executedPlan is an opaque RDD scan — the
    // auditable DataFrame stage is groupRank's output (checkpoint scan +
    // offsets aggregate + join), which is where a Window or a shuffled
    // join could sneak in
    val docs = (0L until 200L).map(i => (i, s"s${i % 7}")).toDF("doc_id", "source")
    val keyed = docs.select(col("doc_id"), col("source"),
      md5(concat_ws(":", lit("graft"), col("doc_id").cast("string"))).as("skey"))
    val plan = Curation.groupRank(keyed, "source",
        Seq(col("skey"), col("doc_id")), "rank_in_group")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "ranking must never plan a Window")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"offsets join must broadcast, got:\n$plan")
  }

  test("groupRank equals the window row_number on random corpora (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // random sizes and group cardinalities, including 1 group (fully
    // contiguous) and singleton groups — the offset arithmetic must
    // survive every partition-boundary placement
    val gen = for {
      n <- Gen.chooseNum(1, 500)
      g <- Gen.chooseNum(1, 12)
      mods <- Gen.listOfN(n, Gen.chooseNum(0, g - 1))
    } yield mods.zipWithIndex.map { case (m, i) => (i.toLong, s"g$m") }
    val prop = Prop.forAll(gen) { rows =>
      val df = rows.toDF("doc_id", "grp")
      val keyed = df.select(col("doc_id"), col("grp"),
        md5(concat_ws(":", lit("p"), col("doc_id").cast("string"))).as("skey"))
      val got = Curation.groupRank(keyed, "grp",
          Seq(col("skey"), col("doc_id")), "rk")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rk")).toMap
      val brute = keyed
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("grp")).orderBy(col("skey"), col("doc_id"))).cast("long"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rk")).toMap
      got == brute
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("temperatureWeights: hand-computed factors at tau = 0.5 / 0 / 1") {
    import spark.implicits._
    // sources sized 9 / 4 / 1 — perfect squares so sqrt is exact
    val docs = (Seq.fill(9)("a") ++ Seq.fill(4)("b") :+ "c")
      .zipWithIndex.map { case (src, i) => (i.toLong, src) }
      .toDF("doc_id", "source")
    def weights(tau: Double): Map[String, (Long, Double)] =
      Curation.temperatureWeights(docs, "source", tau)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(weights(0.5) == Map("a" -> (9L, 1.0), "b" -> (4L, 1.5), "c" -> (1L, 3.0)))
    assert(weights(0.0) == Map("a" -> (9L, 1.0), "b" -> (4L, 2.25), "c" -> (1L, 9.0)))
    assert(weights(1.0) == Map("a" -> (9L, 1.0), "b" -> (4L, 1.0), "c" -> (1L, 1.0)))
  }

  test("lengthBatches equals the window brute force on random corpora (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(1, 300)
      lens <- Gen.listOfN(n, Gen.chooseNum(1, 40))
      batch <- Gen.chooseNum(1, 8)
    } yield (lens.zipWithIndex.map { case (l, i) =>
      (i.toLong, Seq.fill(l)("w").mkString(" "))
    }, batch)
    val prop = Prop.forAll(gen) { case (rows, batch) =>
      val df = rows.toDF("doc_id", "text")
      val got = Curation.lengthBatches(df, edges = Seq(4, 8, 16), batchSize = batch)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
      val brute = df
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")).cast("long"))
        .withColumn("bucket",
          expr("size(filter(array(4,8,16), e -> e <= n_tokens))").cast("long"))
        .withColumn("rank_in_bucket", row_number().over(
          Window.partitionBy(col("bucket")).orderBy(col("n_tokens"), col("doc_id"))).cast("long"))
        .withColumn("batch_idx", expr(s"(rank_in_bucket - 1L) div $batch"))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("bucket"), r.getAs[Long]("rank_in_bucket"),
            r.getAs[Long]("batch_idx")))).toMap
      got == brute
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("epochPlan: temperature copies expand correctly and positions are a permutation") {
    import spark.implicits._
    // sources 9/4/1 -> weights 1.0 / 1.5 / 3.0 (see temperatureWeights test)
    val docs = (Seq.fill(9)("a") ++ Seq.fill(4)("b") :+ "c")
      .zipWithIndex.map { case (src, i) => (i.toLong, src) }
      .toDF("doc_id", "source")
    val out = Curation.epochPlan(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // positions are exactly 1..N with no gaps or repeats
    assert(out.map(_._4).sorted.toSeq == (1L to out.length))
    // weight 1.0 -> exactly one copy of each 'a' doc; weight 3.0 -> the
    // single 'c' doc carries copies 1..3; weight 1.5 -> every 'b' doc 1
    // or 2 copies, and the counts equal applyMix's gated coin rule
    assert(out.count(_._2 == "a") == 9)
    assert(out.filter(_._2 == "c").map(_._3).sorted.toSeq == Seq(1L, 2L, 3L))
    val bCounts = out.filter(_._2 == "b").groupBy(_._1).view.mapValues(_.length).toMap
    val coin = Curation.applyMix(docs,
        Curation.temperatureWeights(docs, "source").select(col("source"), col("weight")),
        Seq("source"))
      .where(col("source") === "b")
      .collect().map(r => r.getLong(0) -> r.getLong(2).toInt).toMap
    assert(bCounts == coin)
    assert(bCounts.values.forall(n => n == 1 || n == 2))
  }

  test("curriculumOrder equals the window brute force (desc double order, ties on id)") {
    import spark.implicits._
    // engineered ties (0.5 twice, 0.0 twice) plus denormal-ish spread
    val scored = Seq((1L, 0.5), (2L, 0.5), (3L, 0.75), (4L, 0.0),
        (5L, 0.0), (6L, 1.0 / 3.0), (7L, Double.MinPositiveValue))
      .toDF("doc_id", "score")
    val got = Curation.curriculumOrder(scored)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val brute = scored
      .withColumn("position", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == brute)
    assert(got.find(_._1 == 3L).get._3 == 1L) // best score leads the epoch
  }

  test("lengthBatches equals the window brute force; batches respect size and bucket") {
    import spark.implicits._
    // lengths straddling the 4/8 edges, with ties to exercise doc_id order
    val docs = (0L until 40L).map(i =>
        (i, Seq.fill(((i * 7) % 11).toInt + 1)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Curation.lengthBatches(docs, edges = Seq(4, 8), batchSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val brute = docs
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("bucket",
        expr("size(filter(array(4,8), e -> e <= n_tokens))").cast("long"))
      .withColumn("rank_in_bucket", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("n_tokens"), col("doc_id"))).cast("long"))
      .withColumn("batch_idx", expr("(rank_in_bucket - 1L) div 3"))
      .select(col("doc_id"), col("bucket"), col("n_tokens"),
        col("rank_in_bucket"), col("batch_idx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSet == brute.toSet)
    // no (bucket, batch) holds more than batchSize docs, and token spans
    // within a batch never interleave with a later batch's tokens
    val byBatch = got.groupBy(t => (t._2, t._5))
    assert(byBatch.values.forall(_.length <= 3))
    for (((b, i), rows) <- byBatch; next <- byBatch.get((b, i + 1)))
      assert(rows.map(_._3).max <= next.map(_._3).min)
  }

  test("boilerplateScrub drops high-doc-frequency lines, keeps order, blanks, empties") {
    import spark.implicits._
    // header appears in all 4 docs (df 4 > 2 -> dropped); "unique N"
    // body lines have df 1 (kept, in original order); the blank line in
    // doc 1 is structural and never dropped; doc 3 is ALL boilerplate
    // and must survive as an empty string; "shared pair" has df 2 ==
    // threshold (kept — the drop is strictly greater-than)
    val d = docs(
      1L -> "SITE HEADER\nunique one\n\nshared pair\nunique two",
      2L -> "SITE HEADER\nunique three\nshared pair",
      3L -> "SITE HEADER",
      4L -> "SITE HEADER\nunique four")
    val got = Curation.boilerplateScrub(d, maxDocFreq = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "unique one\n\nshared pair\nunique two", 4L, 1L),
      (2L, "unique three\nshared pair", 2L, 1L),
      (3L, "", 0L, 1L),
      (4L, "unique four", 1L, 1L)))
    // a line repeated WITHIN one doc counts that doc once: df of
    // "intra" is 2 docs, not 3 occurrences -> kept at threshold 2
    val d2 = docs(
      1L -> "intra\nintra\nbody a",
      2L -> "intra\nbody b",
      3L -> "body c")
    val got2 = Curation.boilerplateScrub(d2, maxDocFreq = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got2 == Seq(
      (1L, "intra\nintra\nbody a", 3L, 0L),
      (2L, "intra\nbody b", 2L, 0L),
      (3L, "body c", 1L, 0L)))
  }

  test("cleanPipeline: normalization runs BEFORE the hash stages; equals the manual chain") {
    import spark.implicits._
    // the same visible paragraph in two encodings (precomposed vs
    // combining sequence): without the normalize stage the paragraph
    // dedup would see two different strings — the pipeline must dedup
    // them, and the surviving text is the NFC form
    val d = docs(
      1L -> "caf\u00e9 paragraph\nmine one",  // precomposed e-acute
      2L -> "cafe\u0301 paragraph\nmine two") // e + combining acute
    val got = Curation.cleanPipeline(d, maxDocFreq = 2, sep = "\n")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "caf\u00e9 paragraph\nmine one", 2L, 0L),
      (2L, "mine two", 1L, 1L)))
    val manual = graft.ops.Curation.paragraphDedup(
      graft.ops.Curation.boilerplateScrub(
        graft.ops.Curation.unicodeNormalize(d)
          .select(col("doc_id"), col("norm_text").as("text")), 2)
        .select(col("doc_id"), col("clean_text").as("text")), "\n")
    val piped = Curation.cleanPipeline(d)
    assert(piped.exceptAll(manual).isEmpty && manual.exceptAll(piped).isEmpty)
  }

  test("paragraphDedup keeps exactly the first occurrence, in (doc_id, pos) order") {
    import spark.implicits._
    // "repeat" appears in docs 1 (pos 0 and 2), 2, and 3: only doc 1
    // pos 0 survives — WITHIN-doc repeats dedup too, unlike d95's
    // distinct-doc-frequency rule. Blank paragraphs always kept. Doc 3
    // was all repeats -> empty string, still one row.
    val d = docs(
      1L -> "repeat\nmine one\nrepeat",
      2L -> "repeat\n\nmine two",
      3L -> "repeat",
      4L -> "mine three")
    val got = Curation.paragraphDedup(d, sep = "\n")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "repeat\nmine one", 2L, 1L),
      (2L, "\nmine two", 2L, 1L),
      (3L, "", 0L, 1L),
      (4L, "mine three", 1L, 0L)))
    // real paragraph separator: the default "\n\n" treats single
    // newlines as intra-paragraph text
    val p = docs(
      1L -> "para one\nstill para one\n\npara two",
      2L -> "para one\nstill para one\n\nmine")
    val got2 = Curation.paragraphDedup(p)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got2 == Seq(
      (1L, "para one\nstill para one\n\npara two", 2L, 0L),
      (2L, "mine", 1L, 1L)))
  }
}
