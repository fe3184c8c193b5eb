package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.sources.TextSources

/** The JSONL/CSV sink/source pair (d80/d81): the oracle gates the
  * round trip on the real corpus; this spec fuzzes the quoting and
  * escaping paths with the strings the corpus doesn't contain —
  * embedded quotes, commas, newlines, backslashes, unicode, empties,
  * nulls.
  */
class TextSourcesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Sessions.build("textsources-spec")
  override def afterAll(): Unit = spark.stop()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("textsources-spec").toString

  private def rows(texts: Seq[(Long, String, String)]) = {
    import spark.implicits._
    texts.toDF("id", "a", "b")
  }

  private def collectSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet

  private val nasty: Gen[String] = {
    val frag = Gen.oneOf(
      "plain", "with space", "\"quoted\"", "a,b,c", "line1\nline2",
      "back\\slash", "tab\there", "жёлтый", "emoji 😀", "",
      "trailing space ", " \"mix\",\n\\ ")
    Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, frag)).map(_.mkString("|"))
  }

  private val corpusGen: Gen[Seq[(Long, String, String)]] =
    Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.zip(nasty, nasty))).map(_.zipWithIndex.map {
        case ((a, b), i) => (i.toLong, a, b)
      })

  test("JSONL round trip is lossless on nasty strings (property)") {
    val prop = Prop.forAll(corpusGen) { texts =>
      val df = rows(texts)
      val dir = tmp()
      try {
        TextSources.writeJsonl(df, dir)
        collectSet(TextSources.readJsonl(spark, dir, df.schema)) == collectSet(df)
      } finally graft.ops.Corpus.deleteRecursively(dir)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("CSV round trip is lossless on nasty strings incl. newlines (property)") {
    val prop = Prop.forAll(corpusGen) { texts =>
      val df = rows(texts)
      val dir = tmp()
      try {
        TextSources.writeCsv(df, dir)
        // embedded newlines require multiLine reassembly — correctness
        // first, the splittable fast path is for newline-free data
        collectSet(TextSources.readCsv(spark, dir, df.schema, multiLine = true)) ==
          collectSet(df)
      } finally graft.ops.Corpus.deleteRecursively(dir)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("ORC round trip is lossless on nasty strings and nulls (property)") {
    val prop = Prop.forAll(corpusGen) { texts =>
      val df = rows(texts)
      val dir = tmp()
      try {
        TextSources.writeOrc(df, dir)
        collectSet(TextSources.readOrc(spark, dir, df.schema)) == collectSet(df)
      } finally graft.ops.Corpus.deleteRecursively(dir)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("CSV preserves the empty-string / null distinction") {
    import spark.implicits._
    val df = Seq((1L, "", "x"), (2L, null: String, "y")).toDF("id", "a", "b")
    val dir = tmp()
    try {
      TextSources.writeCsv(df, dir)
      val back = TextSources.readCsv(spark, dir, df.schema)
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
      assert(back(1L) == "")
      assert(back(2L) == null)
    } finally graft.ops.Corpus.deleteRecursively(dir)
  }

  test("requireCsvSplitSafe rejects embedded newlines and CRs, passes clean frames") {
    import spark.implicits._
    val clean = Seq((1L, "one line"), (2L, "another")).toDF("id", "text")
    TextSources.requireCsvSplitSafe(clean) // must not throw
    val lf = Seq((1L, "line one\nline two")).toDF("id", "text")
    val crErr = intercept[IllegalArgumentException] {
      TextSources.requireCsvSplitSafe(lf)
    }
    assert(crErr.getMessage.contains("multiLine"))
    val cr = Seq((1L, "line one\rline two")).toDF("id", "text")
    intercept[IllegalArgumentException] { TextSources.requireCsvSplitSafe(cr) }
    // non-string columns are never scanned (a frame with ONLY numerics
    // passes vacuously)
    TextSources.requireCsvSplitSafe(Seq((1L, 2.0)).toDF("a", "b"))
  }

  test("registered d80/d81/d86 bindings reproduce the documents table") {
    val sf = "/root/testdata/sf0.001"
    val want = graft.ops.Tables.documents(spark, sf)
      .collect().map(_.toSeq).toSet
    for (q <- Seq("d80_jsonl_roundtrip", "d81_csv_roundtrip", "d86_orc_roundtrip")) {
      val got = SparkEntry.queries(q)(spark, sf).collect().map(_.toSeq).toSet
      assert(got == want, s"$q diverged from the source table")
    }
  }
}
