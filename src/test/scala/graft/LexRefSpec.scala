package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.Corpus

/** The distributed TF-IDF and BM25 formulations must agree with a naive
  * sequential reference on ARBITRARY corpora — the DuckDB oracle gates
  * the fixed test corpus; this guards the operators for inputs the
  * corpus doesn't exercise (repeated terms, absent query terms, 1-doc
  * corpora, docs with none of the query terms).
  */
class LexRefSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("lex-ref-spec")
  override def afterAll(): Unit = spark.stop()

  private val word = Gen.oneOf("hash", "join", "scan", "agg", "row", "col")
  private val docGen = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, word))
  private val corpusGen = Gen.chooseNum(1, 15)
    .flatMap(n => Gen.listOfN(n, docGen))

  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("bm25Rank agrees with a sequential reference on random corpora (property)") {
    import spark.implicits._
    val terms = Seq("hash", "join")
    val prop = Prop.forAll(corpusGen) { docsWords =>
      val docs = docsWords.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val df = docs.toDF("doc_id", "text")

      // sequential Okapi BM25, k1 = 1.2, b = 0.75; the engine orders by
      // the ROUNDED score (round happens in the agg), so the reference
      // rounds before ranking too
      val toks = docs.map { case (id, t) => id -> t.split("\\s+").toSeq }
      val n = toks.size.toDouble
      val avgdl = toks.map(_._2.size).sum.toDouble / n
      val dfOf = terms.map(t => t -> toks.count(_._2.contains(t))).toMap
      val expect = toks.flatMap { case (id, ws) =>
        val dl = ws.size.toDouble
        val per = terms.flatMap { t =>
          val tf = ws.count(_ == t).toDouble
          if (tf == 0) None
          else {
            val df0 = dfOf(t).toDouble
            val idf = math.log(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
            Some(idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
          }
        }
        if (per.isEmpty) None
        else Some((id, round4(per.sum), per.size.toLong))
      }.sortBy(r => (-r._2, r._1)).take(10)

      val got = Corpus.bm25Rank(df, terms).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      got == expect
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("tfidfTopTerms agrees with a sequential reference on random corpora (property)") {
    import spark.implicits._
    // no shrinking: the default shrinker leaves the generator's domain
    // (it reaches List(List()), a corpus with an empty document), so a
    // failure would report that instead of the corpus that failed
    val prop = Prop.forAllNoShrink(corpusGen) { docsWords =>
      val docs = docsWords.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val df = docs.toDF("doc_id", "text")

      val toks = docs.map { case (id, t) => id -> t.split("\\s+").toSeq }
      val n = toks.size.toDouble
      val dfOf = toks.flatMap(_._2.distinct).groupBy(identity).view.mapValues(_.size).toMap
      val expect: Set[(Long, Int, String, Double)] = toks.flatMap { case (id, ws) =>
        ws.groupBy(identity).view.mapValues(_.size).toSeq
          .map { case (term, tf) => (term, tf * math.log(n / dfOf(term))) }
          .sortBy { case (term, s) => (-s, term) }
          .take(3).zipWithIndex
          .map { case ((term, s), i) => (id, i + 1, term, round4(s)) }
      }.toSet

      val got = Corpus.tfidfTopTerms(df).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
      got == expect
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("tfidfTopTerms ranks ln 9 and 2·ln 3 as a tie, broken by term (fixed 9-doc corpus)") {
    import spark.implicits._
    // N = 9. Doc 0: col (tf 1, df 1) scores ln 9 and join (tf 2, df 3)
    // scores 2·ln 3 for rank 3. Doc 1 swaps the roles: row (tf 1, df 1)
    // = ln 9 against agg (tf 2, df 3) = 2·ln 3. The two are equal in
    // exact arithmetic, under math.log and under DuckDB's ln, so the
    // term breaks the tie; StrictMath.log gives 2·ln 3 one ulp below
    // ln 9, which would put row ahead of agg in doc 1.
    val docs = Seq(
      "hash hash scan scan col join join",
      "agg agg row",
      "join agg",
      "join agg") ++ Seq.fill(5)("the")
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Corpus.tfidfTopTerms(df).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._2)).toSeq
    val expect = Seq(
      (0L, 1, "hash", 4.3944), (0L, 2, "scan", 4.3944), (0L, 3, "col", 2.1972),
      (1L, 1, "agg", 2.1972), (1L, 2, "row", 2.1972),
      (2L, 1, "agg", 1.0986), (2L, 2, "join", 1.0986),
      (3L, 1, "agg", 1.0986), (3L, 2, "join", 1.0986)) ++
      (4L to 8L).map(i => (i, 1, "the", 0.5878))
    assert(got == expect)
  }
}
