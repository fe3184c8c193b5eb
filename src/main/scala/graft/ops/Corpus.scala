package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Second wave of training-data-pipeline operators: SimHash near-dedup,
  * n-gram language identification, winnowing document fingerprints, and
  * multimodal metadata extraction. All four are oracle-tested — the hash
  * primitive is md5 (bit-identical across engines), so even the sketch
  * queries compare exactly.
  *
  * Scale notes:
  *  - d09 joins on 15-bit simhash chunks (pigeonhole: hamming ≤ 3 over 4
  *    chunks ⇒ ≥ 1 chunk equal), so candidate generation is an equi-join,
  *    never all-pairs, and recall at the threshold is EXACT, not
  *    probabilistic.
  *  - d10/d11 are narrow per-doc pipelines (explode + window) that
  *    partition by doc — no global state, no skew beyond document length.
  *  - d12 keeps payloads as opaque binary and ships metadata only
  *    (byte size, md5); nothing decodes them.
  */
object Corpus {

  private val tokCol = "regexp_split_to_array(lower(trim(text)), '\\s+')"

  /** Fixed bag-of-words query for the d38/d39 retrieval gates: frequent
    * but non-universal corpus terms, so tf, df and length normalization
    * all do real work. */
  private[graft] val Bm25Query = Seq("hash", "join", "stream")

  /** d38's DuckDB oracle — d39 (the indexed path) is gated by the SAME
    * SQL, asserting the index round-trip preserves the direct result. */
  private val Bm25Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |       WHERE term IN ('hash', 'join', 'stream') GROUP BY doc_id, term),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |per AS (
      |  SELECT tf.doc_id,
      |         ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |           * (tf.tf * (1.2 + 1.0))
      |           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS s
      |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
      |SELECT doc_id, round(sum(s), 4) AS bm25, CAST(count(*) AS BIGINT) AS n_terms_hit
      |FROM per GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  /** d39's index directory, built ONCE per (session, data dir) — building
    * inside the query fn would (a) time full index construction on every
    * bench invocation of what is meant to showcase the indexed search and
    * (b) leak a complete index copy into the system temp dir per call.
    * Directories are deleted recursively when the session stops. */
  private val lexDirMemo = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), String]()

  private[ops] def lexIndexDir(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val k = (s, d)
    val hit = lexDirMemo.get(k)
    if (hit != null) hit
    else {
      val dir = java.nio.file.Files.createTempDirectory("graft-lex-q").toString
      LexIndex.save(documents(s, d), dir)
      val prev = lexDirMemo.putIfAbsent(k, dir)
      if (prev != null) { deleteRecursively(dir); prev }
      else {
        graft.Sessions.onStopOnce(s, "corpus-lexdir") { () =>
          val it = lexDirMemo.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getKey._1 eq s) { deleteRecursively(e.getValue); it.remove() }
          }
        }
        dir
      }
    }
  }

  /** Query names served from the per-(session, dir) [[lexIndexDir]] memo:
    * run 1 pays the full index build + search, run 2 only the search —
    * the bench headlines run 1 (cold) for these, same convention as the
    * Similarity/Curation memo families. */
  val MemoizedQueries: Set[String] = Set("d39_bm25_indexed")

  private[graft] def deleteRecursively(dir: String): Unit = {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    val p = Path.of(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
  }

  /** Winnowing fingerprints of one document (d11), computed in a single
    * pass: md5-prefix hash per 8-char gram, minimum over each full
    * 4-gram window, per-doc distinct (insertion order — the consumer is
    * set-semantic). Matches the SQL/window formulation bit-for-bit: md5
    * over UTF-8 bytes, first 8 hex chars, ASCII string min. */
  private val Hex = "0123456789abcdef".toCharArray

  /** 60-bit SimHash of a document's token list (d09) in one pass: per
    * token the first 15 md5 hex chars as a 60-bit value (= first 7 bytes
    * plus the high nibble of byte 8 — identical to the oracle's
    * conv(substring(md5(tok),1,15),16,10)), +-1 votes per bit, bit set
    * when the vote sum is >= 0. Empty tokens participate, matching the
    * SQL split semantics. */
  private val simhashUdf = udf((toks: Seq[String]) => {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](60)
    (if (toks == null) Seq.empty[String] else toks).foreach { tok =>
      val dg = md.digest((if (tok == null) "" else tok).getBytes("UTF-8"))
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (dg(b) & 0xffL); b += 1 }
      h = (h << 4) | ((dg(7) >> 4) & 0xfL)
      var k = 0
      while (k < 60) { if (((h >> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1; k += 1 }
    }
    var sh = 0L
    var k = 0
    while (k < 60) { if (votes(k) >= 0) sh |= 1L << k; k += 1 }
    sh
  })

  private val winnowUdf = udf((t: String) => {
    // gram positions count Unicode CODEPOINTS, matching SQL
    // substring/length semantics (a UTF-16-unit loop would shift windows
    // and split surrogate pairs on astral characters)
    val cps = if (t == null) Array.empty[Int] else t.codePoints().toArray
    val n = cps.length - 7
    if (n < 4) Array.empty[String]
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      // ASCII fast path: one UTF-8 encode, 8-byte windows == 8-char grams
      var ascii = true
      var c = 0
      while (c < t.length && ascii) { if (t.charAt(c) >= 0x80) ascii = false; c += 1 }
      val bytes = if (ascii) t.getBytes("UTF-8") else null
      val hs = new Array[String](n)
      var i = 0
      while (i < n) {
        if (bytes != null) md.update(bytes, i, 8)
        else md.update(new String(cps, i, 8).getBytes("UTF-8"))
        val dg = md.digest()
        val cs = new Array[Char](8)
        var b = 0
        while (b < 4) {
          cs(2 * b) = Hex((dg(b) >> 4) & 0xf); cs(2 * b + 1) = Hex(dg(b) & 0xf); b += 1
        }
        hs(i) = new String(cs)
        i += 1
      }
      val out = new java.util.LinkedHashSet[String]()
      var j = 0
      while (j <= n - 4) {
        var m = hs(j)
        var k = j + 1
        while (k <= j + 3) { if (hs(k).compareTo(m) < 0) m = hs(k); k += 1 }
        out.add(m)
        j += 1
      }
      out.toArray(new Array[String](0))
    }
  })

  /** SimHash near-duplicate pairs at hamming distance <= `maxHamming`
    * (d09). In: (doc_id, text).
    *
    * The 60-bit vote is per-document — one narrow UDF pass per doc
    * (a pure-SQL formulation explodes tokens x60 through a (doc, bit)
    * shuffle: a 60x row blow-up a large corpus cannot afford). Candidates
    * come from 15-bit chunk equality — exact recall by pigeonhole for
    * maxHamming <= 3 over 4 chunks, never all-pairs. The hamming test
    * runs map-side inside the join stage, so the dedupe shuffle carries
    * only true near-dup pairs, not every chunk collision.
    *
    * Scale note (measured at 50k docs with the former ScaleSmoke harness): on
    * corpora with homogeneous token distributions, simhash signatures
    * cluster and hamming <= 3 matches a constant fraction of ALL pairs —
    * the OUTPUT itself is then quadratic (the operator streams it, but
    * production near-dup detection on such corpora should tighten the
    * threshold or use the MinHash/prefix-filter paths, whose Jaccard
    * floor bounds the answer size). null-text docs are absent (matching
    * SQL unnest-of-null semantics). */
  /** (doc_id, simhash) signatures — d09's sketch, shared with the
    * persisted [[SimHashIndex]]. */
  private[ops] def simhashSignatures(docs: DataFrame): DataFrame =
    docs
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        simhashUdf(split(lower(trim(col("text"))), "\\s+")).as("simhash"))

  /** 15-bit chunk fanout of a signature frame — the pigeonhole join key
    * surface (4 rows/doc), shared by the one-shot and served paths. */
  private[ops] def simhashChunks(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), col("simhash"),
      explode(expr("transform(sequence(0, 3), c -> struct(c AS c, shiftright(simhash, c * 15) & 32767 AS v))")).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.c"), col("ch.v"))

  /** RETENTION NOTE (the Pq.topKAdc convention): the 16 B/doc signature
    * frame is cache()d for the duration of the returned frame's lineage
    * — it feeds BOTH sides of the self-join, and uncached would compute
    * the signature UDF pass twice. It cannot be released here without
    * eagerly materializing the output, which this operator must not do
    * (the scaladoc above documents adversarial corpora where the pair
    * set is quadratic; the operator streams it). Long-lived sessions
    * issuing many simhashPairs calls reclaim the blocks via RDD GC once
    * the returned frame is dropped, or can materialize-then-unpersist
    * explicitly. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "chunk-equality candidates are exact only for hamming <= 3")
    val chunks = simhashChunks(simhashSignatures(docs).cache())
    chunks.as("x").join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT)").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Winnowing document fingerprints (d11) — md5 8-gram hashes, min over
    * a 4-char-gram sliding window, distinct per doc (Schleimer/Wilkerson/
    * Aiken). In: (doc_id, text). Winnowing is per-document, so the whole
    * computation runs in ONE narrow pass (a UDF per document): zero
    * shuffles, where a window formulation pays a (doc, i)-shuffle plus a
    * distinct shuffle. md5 over UTF-8 bytes, hex-prefix string min
    * (ASCII = binary order). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), winnowUdf(lower(col("text"))).as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))

  /** Per-language distinct-token estimate (HLL++, 2% rsd) next to the
    * exact count (d13). In: (lang, text). */
  def distinctTokenSketch(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("lang"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
    // exact and approx in SEPARATE aggregations joined on the tiny group
    // key: mixing COUNT(DISTINCT) with a regular aggregate plans an
    // Expand that doubles the exploded token set through the shuffle —
    // the same split q01/q25 use. The exact side partial-aggregates
    // (lang, tok) map-side, so the big shuffle carries distinct pairs,
    // not raw tokens.
    val exact = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("_c"))
      .groupBy(col("lang")).agg(count(lit(1)).as("exact_distinct"))
    val approx = toks.groupBy(col("lang"))
      .agg(approx_count_distinct(col("tok"), 0.02).as("approx_distinct"))
    // null-safe equality: both sides group the SAME rows by lang, so the
    // group sets are identical — but a null lang group would never match
    // itself under plain `=` and silently vanish from the inner join
    exact.as("x").join(approx.as("y"), col("x.lang") <=> col("y.lang"))
      .select(col("x.lang"), col("x.exact_distinct"), col("y.approx_distinct"))
  }

  /** d13's sketch under a hash-gateable contract (d36): the per-language
    * exact distinct count plus a boolean asserting the HLL++ estimate
    * sits within `tol` relative error of it. Sketch VALUES are
    * engine-specific and can never hash-match an oracle, but this
    * projection can: the oracle recomputes `exact_distinct` and emits
    * literal TRUE, so a hash match adjudicates both the exact counts and
    * that the (deterministic — HLL++ has no RNG) estimate honored the
    * bound. `tol` defaults to 2.5× the 2% configured rsd, the bound
    * CorpusSketchSpec has measured since round 4. */
  def sketchWithinBound(docs: DataFrame, tol: Double = 0.05): DataFrame = {
    val e = col("exact_distinct").cast("double")
    distinctTokenSketch(docs).select(
      col("lang"), col("exact_distinct"),
      (abs(col("approx_distinct").cast("double") - e) / e <= tol)
        .as("within_bound"))
  }

  /** (doc_id, term) exploded token stream under the corpus-wide
    * whitespace tokenization (same contract as d02/d03). */
  private[ops] def termStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("term"))

  /** Natural log by `java.lang.Math.log` — the function DuckDB's `ln`
    * agrees with on the d37 ratios (see [[tfidfTopTerms]]). */
  private val lnUdf = udf((x: Double) => math.log(x))

  /** Per-document TF-IDF top-`k` terms (d37) — keyword extraction for
    * corpus triage. tfidf = tf · ln(N / df); ties broken by term. tf and
    * df are exact longs; ln goes through [[lnUdf]] (`math.log`), not
    * Spark's `log`, which is `StrictMath.log`: the two differ in the last
    * ulp on some ratios (StrictMath gives 2·ln 3 < ln 9, `math.log`,
    * glibc and DuckDB give them equal), so a mathematical tie ranked by
    * Spark's `log` could break the other way from the DuckDB oracle.
    *
    * Scale: tf is a (doc, term) partial-aggregated shuffle; df reuses tf
    * (one extra term-keyed agg over distinct pairs); the df join is
    * term-keyed and NOT broadcast — the vocabulary grows with the corpus.
    * N rides in as a 1-row broadcast cross join (the d26 pattern). The
    * ranking window partitions by doc_id — never a global sort.
    * In: (doc_id, text). Out: (doc_id, rank, term, tfidf). */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = termStream(docs)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf") * lnUdf(col("n_docs").cast(DoubleType) / col("df")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"),
        round(col("tfidf"), 4).as("tfidf"))
  }

  /** BM25 score of the (doc_id, term, tf) postings in `tf` against the
    * full per-doc length table `dl` — the shared scoring core of the
    * direct path (d38) and the [[LexIndex]] indexed path (d39), so the
    * two are equal by construction. df per query term is the match count
    * in `tf` (terms are already restricted to the query); n_docs/avgdl
    * come from `dl`. Every arithmetic step is written identically to the
    * DuckDB oracle (left-assoc, same literal folds) for bit parity; the
    * final cross-term sum is rounded to 4 decimals (≤ |query| addends,
    * the d15 convention). Top-k via orderBy+limit = TakeOrdered, never a
    * global window. */
  private[ops] def bm25ScoreFrom(tf: DataFrame, dl: DataFrame, k: Int,
      k1: Double, b: Double): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val score = (idf * (col("tf") * lit(k1 + 1.0))) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("s", score)
      .groupBy(col("doc_id"))
      .agg(round(sum(col("s")), 4).as("bm25"), count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** BM25 lexical retrieval (d38): top-`k` documents for a bag-of-words
    * query — the lexical counterpart of the vector search ops (d07/d08/
    * d17), and the retrieval stage a decontamination or near-dup triage
    * pipeline runs when embeddings are unavailable. Okapi BM25 with the
    * standard k1/b defaults.
    *
    * Scale: the term filter runs BEFORE the (doc, term) aggregation, so
    * only query-term tokens shuffle; dfreq is ≤ |query| rows (broadcast);
    * dl is a map-side-combined per-doc count; top-k is TakeOrdered. For
    * repeated queries over a fixed corpus use [[LexIndex]], which
    * persists the postings bucket-partitioned by term so a search reads
    * only the buckets its terms hash to. In: (doc_id, text). */
  def bm25Rank(docs: DataFrame, terms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Rank: empty query")
    val toks = termStream(docs)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    bm25ScoreFrom(tf, dl, k, k1, b)
  }

  /** Exact embedding-cosine near-duplicate pairs at `threshold` (d15):
    * a broadcast-hinted nested-loop self-join while the table fits
    * `maxBroadcastBytes`, switching to the blocked fragment-replicate
    * join beyond it (same pair set, no broadcast memory ceiling — see
    * [[Similarity.selfCosineJoin]]); the pair stream stays inside
    * codegen'd vec_dot and only above-threshold pairs survive.
    * In: (vec_id, embedding ARRAY<numeric>). The sub-quadratic
    * alternative at any scale is the IVF cell product (IvfIndex). */
  def cosineNearDupPairs(vecs: DataFrame, threshold: Double = 0.4,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    val e = vecs
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(call_function("vec_dot", col("v"), col("v"))))
    Similarity.selfCosineJoin(vecs, e, col("q.vec_id") < col("c.vec_id"), maxBroadcastBytes)
      .select(col("q.vec_id").as("vec_a"), col("c.vec_id").as("vec_b"),
        (call_function("vec_dot", col("q.v"), col("c.v")) /
          (col("q.nrm") * col("c.nrm"))).as("sim_raw"))
      .where(col("sim_raw") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("sim_raw"), 4).as("sim"))
  }

  /** Semantic benchmark decontamination (d53): which training vectors
    * sit within cosine `threshold` of an evaluation vector — the
    * embedding-space companion of d22's n-gram decontamination (modern
    * pipelines check both: lexical overlap catches verbatim leaks,
    * embedding similarity catches paraphrase/near-translation leaks the
    * n-gram check is blind to). In: train + eval frames of
    * (vec_id, embedding ARRAY<numeric>). Out: (train_id, eval_id, sim)
    * for sim >= threshold, sim at the 4-decimal convention.
    *
    * Scale: the eval side is small BY DEFINITION (a benchmark), so it
    * broadcasts — the d22 shape — and the pair stream is a narrow
    * broadcast nested-loop over the training corpus inside codegen'd
    * vec_dot: one corpus scan, no shuffle. Zero-norm vectors (failed
    * encodes) have no direction to compare — their sim is explicitly
    * NULL (guarded division, which ANSI mode requires anyway) and the
    * threshold filter drops them. */
  def semanticContaminationPairs(train: DataFrame, evalVecs: DataFrame,
      threshold: Double = 0.3): DataFrame = {
    def prep(df: DataFrame) = df
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(call_function("vec_dot", col("v"), col("v"))))
    val denom = col("q.nrm") * col("c.nrm")
    prep(train).as("q").join(broadcast(prep(evalVecs).as("c")),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("train_id"), col("c.vec_id").as("eval_id"),
        when(denom > 0.0,
          call_function("vec_dot", col("q.v"), col("c.v")) / denom)
          .as("sim_raw"))
      .where(col("sim_raw") >= threshold)
      .select(col("train_id"), col("eval_id"),
        round(col("sim_raw"), 4).as("sim"))
  }

  /** SemDeDup-style semantic dedup keep-list (d57): per vector, `kept`
    * is false iff some SMALLER-id vector sits within cosine `threshold`
    * — the deterministic, parallel-friendly relaxation of the greedy
    * sequential scan (Abbas et al. 2023 prune within k-means clusters;
    * the keep rule here is global and exact, so it is oracle-gateable).
    * A vector with no near-neighbor is always kept; of an a–b–c chain
    * with sim(a,c) below threshold this drops BOTH b and c where the
    * sequential greedy scan would re-keep c — a strictly more
    * aggressive dedup that never drops a vector without a kept-or-
    * dropped near-duplicate of smaller id. One row per input vector.
    * In: (vec_id, embedding ARRAY<numeric>). Out: (vec_id, kept BOOL).
    *
    * Scale: the pair source is [[cosineNearDupPairs]] — broadcast NLJ
    * with the blocked fragment-replicate fallback; only above-threshold
    * pairs survive into the distinct + left-anti shape, so the dedup
    * bookkeeping shuffles near-duplicate ids only, never the corpus.
    * The sub-quadratic pair source at 100 TB is the IVF cell product or
    * [[Similarity.annTopK]] candidates (same keep rule composes over
    * any (vec_a, vec_b) pair stream via [[semDedupKeepFrom]]). */
  def semDedupKeep(vecs: DataFrame, threshold: Double = 0.4,
      maxBroadcastBytes: Long = 256L << 20): DataFrame =
    semDedupKeepFrom(vecs, cosineNearDupPairs(vecs, threshold, maxBroadcastBytes))

  /** The d57 keep rule over a CALLER-SUPPLIED near-duplicate pair
    * stream (vec_a < vec_b) — the open seam for sub-quadratic candidate
    * sources (IVF cell products, LSH buckets, a persisted SimHashIndex):
    * a vector is dropped iff it appears as the LARGER id of any pair. */
  def semDedupKeepFrom(vecs: DataFrame, pairs: DataFrame): DataFrame = {
    val dropped = pairs.select(col("vec_b").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    vecs.select(col("vec_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup").isNull.as("kept"))
  }

  /** Semantic near-duplicate clusters (d58): connected components over
    * the exact cosine pair graph at `threshold` — the embedding-space
    * companion of d14's n-gram near-dup components (SemDeDup's
    * "duplicate groups" without the k-means blinders: a cluster is a
    * maximal set chained by pairwise similarity, its id the smallest
    * member id). Only vectors with at least one near-duplicate appear
    * (d14's convention — singletons are "kept" by definition and carry
    * no dedup decision). In: (vec_id, embedding ARRAY<numeric>).
    * Out: (vec_id, cluster_id, cluster_size).
    *
    * Scale: pair generation is the d15 exact join (swap in a candidate
    * source at 100 TB); the component step is [[Similarity]]'s
    * large/small-star contraction with the explicitly bounded in-memory
    * endgame — near-dup ids only, never the corpus. */
  def semanticDupClusters(s: org.apache.spark.sql.SparkSession, vecs: DataFrame,
      threshold: Double = 0.4, maxBroadcastBytes: Long = 256L << 20): DataFrame =
    Similarity.connectedComponents(s,
      cosineNearDupPairs(vecs, threshold, maxBroadcastBytes)
        .select(col("vec_a").as("a"), col("vec_b").as("b")))
      .select(col("v").as("vec_id"), col("lbl").as("cluster_id"),
        col("cluster_size"))

  /** Sliding-window chunking (d42): split each document into
    * `window`-token chunks every `stride` tokens — the standard
    * pretraining/RAG preprocessing step between curation and packing
    * (overlap = window - stride preserves cross-boundary context; the
    * last chunk truncates at the document end). Tokens are the repo's
    * whitespace convention; chunk count is 1 + ceil(max(n - window, 0)
    * / stride), so every document emits at least one chunk (short docs
    * emit themselves). A narrow explode — no shuffle, streaming-safe,
    * and the explode fan-out is bounded by n/stride per doc.
    * In: (doc_id, text). Out: (doc_id, chunk_id, n_tokens, chunk_text). */
  def chunkWindows(docs: DataFrame, window: Int = 64, stride: Int = 32): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window (stride > window would drop tokens)")
    docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .withColumn("nch",
        (greatest(ceil((size(col("toks")) - lit(window)) / lit(stride.toDouble)), lit(0))
          + 1).cast(IntegerType))
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(0, nch - 1)")).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast(LongType).as("chunk_id"),
        expr(s"slice(toks, chunk_id * $stride + 1, $window)").as("ctoks"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ctoks")).cast(LongType).as("n_tokens"),
        array_join(col("ctoks"), " ").as("chunk_text"))
  }

  /** BPE-style pre-tokenizer counts (d16) — GPT-2-ish regex written
    * without lookaheads (so Java regex and RE2 agree) next to the
    * whitespace token count. In: (doc_id, text). */
  def bpeTokenCounts(docs: DataFrame): DataFrame = {
    val pat = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(pat)).cast(LongType).as("n_bpe_tokens"),
      size(split(trim(col("text")), "\\s+")).cast(LongType).as("n_ws_tokens"))
  }

  /** Adjacent symbol pairs of a \u0001<sym>\u0002-delimited string —
    * the pair-extraction step of [[bpeTrain]]'s merge rounds. */
  private val bpePairsUdf = udf { (s: String) =>
    val syms = parseSyms(s)
    (0 until syms.length - 1).map(j => (syms(j), syms(j + 1)))
  }

  /** Parse a delimited symbol string into its symbol list. */
  private def parseSyms(s: String): scala.collection.mutable.ArrayBuffer[String] = {
    val syms = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      val close = s.indexOf('\u0002', i + 1)
      syms += s.substring(i + 1, close)
      i = close + 1
    }
    syms
  }

  /** The symbols themselves — [[bpeSegment]]'s final explode. */
  private val bpeSymsUdf = udf { (s: String) => parseSyms(s).toSeq }

  /** Distributed BPE merge learning (d51) — tokenizer induction
    * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
    * with Subword Units"): learn the top `merges` character-pair merges
    * from the corpus' word histogram. The classic map-reduce
    * formulation: the corpus collapses ONCE into (word, freq) TYPES —
    * the only corpus-wide pass — and every merge round then runs over
    * the vocab-sized type table: explode adjacent symbol pairs, weight
    * by freq, take the global argmax, and apply the chosen merge with a
    * literal left-to-right `replace` over the delimited symbol string.
    * No end-of-word marker (in-word merges only — a documented variant
    * choice, not load-bearing). Symbols ride \u0001<sym>\u0002 strings,
    * which makes `replace` of a bracketed pair EXACTLY BPE's
    * left-to-right non-overlapping merge ("[a][a][a]" + (a,a) ->
    * "[aa][a]"); corpus text must not contain \u0001/\u0002 (true of
    * any text corpus). Out: (rank, lhs, rhs, cnt) — merge rank
    * 1..merges, the merged pair, its weighted pair count when chosen;
    * ties break (cnt DESC, lhs, rhs) in binary string order, so the
    * learned merge TABLE is cross-engine exact and d51 hash-gates it
    * against a K-stage unrolled DuckDB oracle.
    *
    * Scale: merge rounds touch word TYPES (Heaps-law vocab — ~1e6-1e8
    * rows at 100 TB), never corpus tokens; each round is one
    * partial-combined pair aggregation + a 1-row TakeOrdered (the only
    * driver-side collect: ONE argmax row per round, the bounded-collect
    * class of d17's centroids), and the running symbolization is
    * localCheckpoint-pinned per round so lineage stays flat. Stops
    * early if no pair remains (every word fully merged). */
  def bpeTrain(docs: DataFrame, merges: Int = 8): DataFrame =
    bpeCore(docs, merges)._1

  /** Corpus subword vocabulary under the learned `merges`-round BPE
    * tokenizer (d52) — [[bpeTrain]]'s segmentation half: apply the
    * learned merge sequence to every word TYPE and emit each resulting
    * subword with its corpus frequency (Σ word freq over the types it
    * appears in, counted once per occurrence within the word). This is
    * the table a tokenizer ships as its vocab. In: (text). Out:
    * (subword, freq). Same scale shape as the trainer: one corpus pass
    * into word types, then vocab-sized narrow work. */
  def bpeSegment(docs: DataFrame, merges: Int = 8): DataFrame = {
    val words = bpeCore(docs, merges)._2
    words
      .select(col("freq"), explode(bpeSymsUdf(col("s"))).as("subword"))
      .groupBy(col("subword"))
      .agg(sum(col("freq")).as("freq"))
  }

  /** Per-document token counts under the learned `merges`-round BPE
    * tokenizer (d55) — the token-budget accounting step run with the
    * REAL tokenizer rather than the whitespace proxy (d02) or the
    * pre-tokenizer regex (d16): context-window packing, mix weighting
    * and shard budgets all count THESE tokens in production. In:
    * (doc_id, text). Out: (doc_id, n_bpe_subwords).
    *
    * Scale: the per-word subword length is a vocab-sized lookup table;
    * the doc-side join reuses the Zipf-head pattern (top `headK` words
    * by corpus freq broadcast — by construction the only words frequent
    * enough to skew a token-keyed join — misses shuffle against the
    * vocab tail, where per-token fan-in is small by definition). */
  def bpeEncodeCounts(docs: DataFrame, merges: Int = 8,
      headK: Int = 10000): DataFrame = {
    require(headK >= 0, "need headK >= 0")
    val words = bpeCore(docs, merges)._2
    val wlen = words.select(col("word").as("token"), col("freq"),
      size(bpeSymsUdf(col("s"))).cast(LongType).as("n_syms"))
    val docTok = Curation.docTokens(docs)
    val head = wlen.orderBy(col("freq").desc, col("token")).limit(headK)
      .select(col("token"), col("n_syms"))
    val viaHead = docTok.join(broadcast(head), Seq("token"), "left")
    // inner join: self-trained, every corpus word is in the vocab
    val missed = viaHead.where(col("n_syms").isNull).drop("n_syms")
      .join(wlen.select(col("token"), col("n_syms")), Seq("token"))
      .select(col("doc_id"), col("m"), col("n_syms"))
    viaHead.where(col("n_syms").isNotNull)
      .select(col("doc_id"), col("m"), col("n_syms"))
      .unionByName(missed)
      .groupBy(col("doc_id"))
      .agg(sum(col("m") * col("n_syms")).as("n_bpe_subwords"))
  }

  private def bpeCore(docs: DataFrame, merges: Int): (DataFrame, DataFrame) = {
    require(merges > 0, "need merges > 0")
    val spark = docs.sparkSession
    val O = "\u0001"; val C = "\u0002"
    var words = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        regexp_replace(col("word"), "(.)", O + "$1" + C).as("s"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= merges && !exhausted) {
      val best = words
        .select(col("freq"), explode(bpePairsUdf(col("s"))).as("p"))
        .groupBy(col("p._1").as("lhs"), col("p._2").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val l = best(0).getString(0); val r = best(0).getString(1)
        out += ((k.toLong, l, r, best(0).getLong(2)))
        words = words.withColumn("s",
          replace(col("s"), lit(O + l + C + O + r + C), lit(O + l + r + C)))
          .localCheckpoint()
        k += 1
      }
    }
    import spark.implicits._
    (out.toSeq.toDF("rank", "lhs", "rhs", "cnt"), words)
  }

  /** The d51/d52 oracle: `k` unrolled merge stages, each one pair-count
    * + argmax + replace — the literal SQL transcription of
    * [[bpeTrain]]'s loop (chr(1)/chr(2) are the symbol delimiters).
    * `segment = true` emits the final symbolization's subword histogram
    * (d52) instead of the merge table (d51); `encode = true` emits the
    * per-doc subword counts (d55). */
  private[graft] def bpeOracleSql(k: Int, segment: Boolean = false,
      encode: Boolean = false): String = {
    val ext = "regexp_extract_all(s, chr(1) || '([^' || chr(2) || ']*)' || chr(2), 1)"
    val sb = new StringBuilder
    sb ++= """WITH w0 AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
      |         regexp_replace(word, '(.)', chr(1) || '\1' || chr(2), 'g') AS s
      |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
      |        FROM documents)
      |  GROUP BY word)""".stripMargin
    for (i <- 1 to k) {
      sb ++= s""",
        |p$i AS (
        |  SELECT ss[j] AS lhs, ss[j+1] AS rhs, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, $ext AS ss FROM w${i - 1}),
        |    UNNEST(range(1, len(ss))) AS t(j)
        |  GROUP BY 1, 2),
        |b$i AS (SELECT $i AS rank, lhs, rhs, cnt FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT 1)""".stripMargin
      if (i < k || segment || encode) sb ++= s""",
        |w$i AS (
        |  SELECT word, freq,
        |         replace(s, chr(1)||lhs||chr(2)||chr(1)||rhs||chr(2),
        |                 chr(1)||lhs||rhs||chr(2)) AS s
        |  FROM w${i - 1}, b$i)""".stripMargin
    }
    if (encode)
      sb ++= s""",
        |wl AS (SELECT word, len($ext) AS n_syms FROM w$k),
        |dt AS (
        |  SELECT doc_id, word, count(*) AS m FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
        |    FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(m * n_syms) AS BIGINT) AS n_bpe_subwords
        |FROM dt JOIN wl USING (word)
        |GROUP BY doc_id""".stripMargin
    else if (segment)
      sb ++= s"""
        |SELECT sym AS subword, CAST(sum(freq) AS BIGINT) AS freq FROM (
        |  SELECT freq, unnest($ext) AS sym FROM w$k)
        |GROUP BY 1""".stripMargin
    else
      sb ++= "\n" + (1 to k).map(i =>
        s"SELECT CAST(rank AS BIGINT) AS rank, lhs, rhs, cnt FROM b$i")
        .mkString("\nUNION ALL\n")
    sb.toString
  }

  /** Per-language document-length distribution (d18): exact interpolated
    * percentiles ((n-1)*p linear interpolation — a per-group sort;
    * approx_percentile is the documented 100 TB fallback).
    * In: (lang, n_chars). */
  def lengthQuantiles(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("lang"))
      .agg(
        expr("percentile(n_chars, 0.5D)").as("p50"),
        expr("percentile(n_chars, 0.9D)").as("p90"),
        expr("percentile(n_chars, 0.99D)").as("p99"))

  /** Quantile-SKETCH bound gate (d107) — the d36 pattern applied to the
    * percentile family: d18's exact interpolated quantiles are the
    * oracle-checkable half; the mergeable approx_percentile sketch
    * (Greenwald–Khanna; rank error ≤ 1/`accuracy`) is the 100 TB half,
    * where an exact quantile would need a full sort per group but the
    * sketch partial-aggregates map-side in O(accuracy·log n) space.
    * The query emits the exact p50 (cross-engine) plus a within-bound
    * boolean the oracle pins TRUE: the sketch value must land between
    * the exact 45th and 55th percentiles — a 5× margin over the
    * configured 1% rank guarantee, so the gate fails only on a real
    * sketch defect, never on legitimate approximation. */
  def quantileSketchBound(docs: DataFrame, accuracy: Int = 100): DataFrame = {
    require(accuracy >= 20, "need accuracy >= 20 (rank error <= 5%)")
    docs.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, 0.5D)").as("p50_exact"),
        expr(s"approx_percentile(n_chars, 0.5D, $accuracy)").as("p50_approx"),
        expr("percentile(n_chars, 0.45D)").as("lo"),
        expr("percentile(n_chars, 0.55D)").as("hi"))
      .select(col("lang"), col("n_docs"),
        round(col("p50_exact"), 4).as("p50"),
        (col("p50_approx") >= col("lo") && col("p50_approx") <= col("hi"))
          .as("within_bound"))
  }

  /** Exact token-sequence (phrase) search (d111) — grep for tokens: per
    * document, how many positions start an exact occurrence of the
    * query phrase under the corpus tokenization. The lexical-retrieval
    * family's precision end: d37/d38 rank by bag-of-words relevance,
    * this answers "contains the literal phrase" (dataset audits,
    * memorization probes, targeted decontamination all need it). Only
    * matching docs emit: (doc_id, n_matches).
    *
    * Scale: a pure narrow codegen'd projection — tokenize, test each
    * of the ≤n_tokens start positions with a fused higher-order filter,
    * no shuffle, no UDF boundary, streaming-safe. At warehouse scale
    * the same predicate serves as the verify stage behind a positional-
    * postings candidate fetch; as a one-shot scan it is already the
    * minimal plan (every formulation must read every doc once). */
  def phraseMatch(docs: DataFrame, phrase: String): DataFrame = {
    val terms = phrase.trim.toLowerCase.split("\\s+").toSeq
    require(terms.nonEmpty && terms.head.nonEmpty, "need a non-empty phrase")
    // One regex pass per row: single-space-normalize (identical token
    // boundaries to split-on-\s+), wrap in sentinel spaces, and count
    // ZERO-WIDTH lookahead matches of " t1 t2 … " — zero-width so
    // overlapping occurrences ("a a" twice in "a a a") all count, with
    // each term Pattern.quote'd (terms are data, never syntax).
    //
    // Why a single self-contained expression and not the obvious
    // token-array + position-filter formulation: the output predicate
    // n_matches > 0 gets pushed below the scan's exchange with
    // n_matches REPLACED BY ITS DEFINITION, and in the array
    // formulation that definition re-evaluates split() inside the
    // position lambda — per START POSITION, not per row (measured: 3.2 s
    // vs 0.3 s at sf0.1, single-threaded below the exchange). Here the
    // duplicated predicate costs one extra regex pass per row.
    val needle = "(?= " +
      terms.map(java.util.regex.Pattern.quote).mkString(" ") + " )"
    val haystack = concat(lit(" "),
      regexp_replace(lower(trim(col("text"))), "\\s+", " "), lit(" "))
    docs
      .withColumn("n_matches",
        regexp_count(haystack, lit(needle)).cast(LongType))
      .where(col("n_matches") > 0)
      .select(col("doc_id"), col("n_matches"))
  }

  /** Multimodal metadata extraction (d12): payloads stay opaque binary,
    * only typed metadata (byte size, md5) ships — nothing decodes them.
    * In: (doc_id, payload BINARY). */
  def mediaMeta(media: DataFrame, modality: String): DataFrame =
    media.select(col("doc_id"),
      lit(modality).as("modality"),
      length(col("payload")).cast(LongType).as("n_bytes"),
      md5(col("payload")).as("payload_md5"))

  /** Heuristic language identification (d10): stopword-profile scoring
    * with a CJK character override; deterministic tie-break en>de>es>fr.
    * In: (doc_id, text, lang) — `lang` is echoed with a `correct` flag
    * for accuracy inspection; a corpus without reference labels can pass
    * lit(null) as lang. Narrow per-doc pass, no shuffle. */
  def langId(docs: DataFrame): DataFrame = {
    val en = "'the','and','of','to','is','in','that','it'"
    val de = "'der','die','und','das','ist','nicht','mit','ein'"
    val es = "'el','la','que','y','en','los','se','por'"
    val fr = "'le','les','des','et','est','une','dans','pour'"
    val decide =
      """CASE WHEN zh_n > 0 THEN 'zh'
        |WHEN en_n >= de_n AND en_n >= es_n AND en_n >= fr_n THEN 'en'
        |WHEN de_n >= es_n AND de_n >= fr_n THEN 'de'
        |WHEN es_n >= fr_n THEN 'es' ELSE 'fr' END""".stripMargin.replaceAll("\n", " ")
    docs
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .withColumn("en_n", expr(s"size(filter(toks, w -> w IN ($en)))"))
      .withColumn("de_n", expr(s"size(filter(toks, w -> w IN ($de)))"))
      .withColumn("es_n", expr(s"size(filter(toks, w -> w IN ($es)))"))
      .withColumn("fr_n", expr(s"size(filter(toks, w -> w IN ($fr)))"))
      .withColumn("zh_n", length(regexp_replace(col("text"), "[^一-鿿]", "")))
      .select(col("doc_id"),
        expr(decide).as("predicted_lang"),
        col("lang"),
        expr(s"$decide = lang").as("correct"))
  }

  /** Corpus-novelty scoring (d102): per probe document, the fraction of
    * its DISTINCT word-bigrams never seen in the base corpus — the
    * "information gain" curation signal (C4/RefinedWeb keep documents
    * that add n-grams the corpus lacks; a high-quality doc that is pure
    * vocabulary rehash scores 0). One row per probe doc that has at
    * least one bigram: (doc_id, n_grams, n_novel, novelty).
    *
    * Shape: probe grams LEFT-join the base's distinct-gram vocabulary
    * on the gram key (the one unavoidable wide exchange — both sides
    * partial-aggregate/distinct before shuffling), then a per-doc count
    * rollup. At warehouse scale the base vocabulary is computed once and
    * persisted bucketed BY gram (the LexIndex postings layout), so
    * successive deltas shuffle only themselves — the same serve shape as
    * [[HashIndex.dedupAgainstBloom]]'s, one level up from hashes to
    * n-grams. Counts are exact integers; the ratio is the round-4
    * convention. */
  def noveltyScore(base: DataFrame, probe: DataFrame): DataFrame =
    noveltyScoreFrom(probe, bigramVocab(base))

  /** Per-doc distinct word-bigrams — d102's gram domain. */
  private[ops] def wordBigrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))
      // slice keeps the index list empty for one-word docs (sequence
      // alone would COUNT DOWN from 1 to 0 and fabricate a pair)
      .select(col("doc_id"), explode(expr(
        "transform(slice(sequence(1, size(w)), 1, size(w) - 1), " +
        "i -> concat(w[i-1], ' ', w[i]))")).as("g"))
      .distinct()

  /** The base corpus's distinct-bigram vocabulary as md5 keys — the
    * additive SET fact [[GramIndex]] persists (set-union across any
    * batches; hashes so wide gram text never shuffles twice — the d06
    * `hashGrams`/d97 trade). Out: (gram_hash). */
  def bigramVocab(base: DataFrame): DataFrame =
    wordBigrams(base).select(md5(col("g")).as("gram_hash")).distinct()

  /** d102's scoring half over a CALLER-SUPPLIED (gram_hash) vocabulary
    * — the open seam [[GramIndex.noveltyAgainst]] serves from a
    * persisted index (the d97/d82 pattern: don't re-derive a 100 TB
    * corpus's vocabulary per arriving batch). Joining by md5 instead of
    * gram text changes no answer (the hash is injective on any real
    * vocabulary) and halves the wide shuffle. */
  def noveltyScoreFrom(probe: DataFrame, vocab: DataFrame): DataFrame =
    wordBigrams(probe)
      .select(col("doc_id"), md5(col("g")).as("gram_hash"))
      // re-distinct defensively: a vocab read from per-batch index
      // partitions may repeat a hash, and a duplicated join key would
      // double-count probe grams
      .join(vocab.select(col("gram_hash")).distinct()
        .withColumn("seen", lit(1)), Seq("gram_hash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("seen").isNull, 1)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast(DoubleType) / col("n_grams"), 4).as("novelty"))

  def queries: Seq[Q] = Seq(

    // d09: SimHash near-duplicate pairs at hamming distance <= 3.
    // 60-bit simhash from md5 token hashes (parity with the oracle: md5
    // over UTF-8 bytes, first 15 hex chars as a 60-bit integer); oracle
    // verifies by exhaustive pairs at test scale.
    Q("d09_simhash",
      (s, d) => simhashPairs(documents(s, d)),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |  FROM documents
             |), th AS (
             |  SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks
             |), bits AS (
             |  SELECT doc_id, k,
             |         CASE WHEN sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN 1 ELSE 0 END AS bit
             |  FROM th, LATERAL (SELECT unnest(range(0, 60)) AS k) u
             |  GROUP BY doc_id, k
             |), sh AS (
             |  SELECT doc_id, CAST(sum(bit * (CAST(1 AS BIGINT) << k)) AS BIGINT) AS simhash
             |  FROM bits GROUP BY doc_id
             |)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
             |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin)),

    // d10: language identification — stopword-profile scoring with a CJK
    // character override; deterministic tie-break order en>de>es>fr.
    Q("d10_langid",
      (s, d) => langId(documents(s, d)),
      Some(s"""WITH scored AS (
              |  SELECT doc_id, lang,
              |    len(list_filter($tokCol, w -> w IN ('the','and','of','to','is','in','that','it'))) AS en_n,
              |    len(list_filter($tokCol, w -> w IN ('der','die','und','das','ist','nicht','mit','ein'))) AS de_n,
              |    len(list_filter($tokCol, w -> w IN ('el','la','que','y','en','los','se','por'))) AS es_n,
              |    len(list_filter($tokCol, w -> w IN ('le','les','des','et','est','une','dans','pour'))) AS fr_n,
              |    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS zh_n
              |  FROM documents
              |)
              |SELECT doc_id,
              |  CASE WHEN zh_n > 0 THEN 'zh'
              |       WHEN en_n >= de_n AND en_n >= es_n AND en_n >= fr_n THEN 'en'
              |       WHEN de_n >= es_n AND de_n >= fr_n THEN 'de'
              |       WHEN es_n >= fr_n THEN 'es' ELSE 'fr' END AS predicted_lang,
              |  lang,
              |  (CASE WHEN zh_n > 0 THEN 'zh'
              |       WHEN en_n >= de_n AND en_n >= es_n AND en_n >= fr_n THEN 'en'
              |       WHEN de_n >= es_n AND de_n >= fr_n THEN 'de'
              |       WHEN es_n >= fr_n THEN 'es' ELSE 'fr' END = lang) AS correct
              |FROM scored""".stripMargin)),

    // d11: winnowing document fingerprints — md5 8-gram hashes, min over a
    // 4-gram sliding window, distinct per doc (Schleimer/Wilkerson/Aiken).
    Q("d11_fingerprint",
      (s, d) => fingerprints(documents(s, d)),
      Some("""WITH grams AS (
             |  SELECT doc_id, i, substring(md5(substring(t, i, 8)), 1, 8) AS h
             |  FROM (SELECT doc_id, lower(text) AS t FROM documents) dd,
             |       LATERAL (SELECT unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i) u
             |), wins AS (
             |  SELECT doc_id, i,
             |         min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             |         count(*) OVER (PARTITION BY doc_id) AS cnt
             |  FROM grams
             |)
             |SELECT DISTINCT doc_id, fp FROM wins WHERE i <= cnt - 3""".stripMargin)),

    // d13: sketched distinct counting (HLL++ via approx_count_distinct) —
    // the Q9 "sketched variant": per-language distinct token estimate next
    // to the exact count. The sketch value is engine-specific but
    // DETERMINISTIC (fixed-seed HLL++ over frozen seed=42 data), so the
    // oracle recomputes the exact side in SQL and pins the approx side to
    // a RECORDED GOLDEN join literal (r16 verdict ask #8) — a hash-gated
    // determinism/regression pin, sf0.01-specific by construction
    // (regenerate with tools/golden_ann.py if TESTDATA is ever rebuilt).
    // The error-bound semantics stay adjudicated by d36 (within_bound
    // hash-green) and CorpusSketchSpec.
    Q("d13_distinct_sketch",
      (s, d) => distinctTokenSketch(documents(s, d)),
      Some("""WITH exact AS (
             |  SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
             |  FROM (SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |        FROM documents)
             |  GROUP BY lang)
             |SELECT e.lang, e.exact_distinct, g.approx_distinct
             |FROM exact e
             |JOIN (VALUES ('de', CAST(31 AS BIGINT)), ('en', CAST(31 AS BIGINT)),
             |             ('es', CAST(31 AS BIGINT)), ('fr', CAST(31 AS BIGINT)),
             |             ('zh', CAST(31 AS BIGINT))) AS g(lang, approx_distinct)
             |ON e.lang = g.lang""".stripMargin)),

    // d36: the sketch family's hash-green sibling — d13's pipeline
    // projected onto what IS cross-engine checkable: exact per-language
    // distinct counts (oracle-recomputed) and a within-bound boolean the
    // oracle pins to TRUE. Converts the sketch's error-bound story from
    // spec-only (CorpusSketchSpec) to driver-adjudicated.
    Q("d36_sketch_bound",
      (s, d) => sketchWithinBound(documents(s, d)),
      Some("""SELECT lang,
             |CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct,
             |TRUE AS within_bound
             |FROM (SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |      FROM documents)
             |GROUP BY lang""".stripMargin)),

    // d107: the quantile-sketch family's hash-green gate — exact p50
    // (both engines' (n-1)·p interpolation, the d18 convention) beside
    // a within-bound boolean for the mergeable approx_percentile sketch
    // that replaces per-group sorts at scale; oracle pins TRUE.
    Q("d107_quantile_sketch",
      (s, d) => quantileSketchBound(documents(s, d)),
      Some("""SELECT lang,
             |CAST(count(*) AS BIGINT) AS n_docs,
             |round(quantile_cont(n_chars, 0.5), 4) AS p50,
             |TRUE AS within_bound
             |FROM documents GROUP BY lang""".stripMargin)),

    // d111: exact phrase search — integer match counts per doc under
    // the shared tokenization; the oracle replays the position test
    // with a LATERAL position unnest.
    Q("d111_phrase_match",
      (s, d) => phraseMatch(documents(s, d), "table scan"),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
             |  FROM documents),
             |pos AS (
             |  SELECT doc_id, w,
             |         unnest(range(1, greatest(len(w) - 1, 0) + 1)) AS i
             |  FROM t)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
             |FROM pos
             |WHERE w[i] = 'table' AND w[i + 1] = 'scan'
             |GROUP BY 1""".stripMargin)),

    // d37: per-document TF-IDF top terms — keyword extraction. tf/df/N
    // are exact longs; the engine takes ln with math.log (not Spark's
    // StrictMath-based log), which matches DuckDB's ln on ties such as
    // 2·ln 3 = ln 9, so (score desc, term) ranks the same on both sides.
    Q("d37_tfidf_topterms",
      (s, d) => tfidfTopTerms(documents(s, d)),
      Some(s"""WITH toks AS (
             |  SELECT doc_id, unnest($tokCol) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
             |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (
             |  SELECT tf.doc_id, tf.term,
             |         tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) AS tfidf
             |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
             |SELECT doc_id, rank, term, round(tfidf, 4) AS tfidf FROM (
             |  SELECT doc_id, term, tfidf,
             |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rank
             |  FROM scored)
             |WHERE rank <= 3""".stripMargin)),

    // d38: BM25 lexical retrieval over a fixed bag-of-words query — the
    // lexical counterpart of the vector-search family. The cross-term sum
    // is the only order-sensitive float op (≤ 3 addends) and is rounded
    // to 4 decimals, the d15 convention.
    Q("d38_bm25_rank",
      (s, d) => bm25Rank(documents(s, d), Bm25Query),
      Some(Bm25Oracle)),

    // d39: the SAME retrieval served from the persisted bucket-partitioned
    // inverted index (LexIndex), hash-gated by d38's oracle — proving the
    // index round-trip (postings write, bucket pruning, parquet read)
    // preserves the direct computation exactly.
    Q("d39_bm25_indexed",
      (s, d) => LexIndex.searchBm25(s, lexIndexDir(s, d), Bm25Query),
      Some(Bm25Oracle)),

    // d15: embedding-cosine near-duplicate pairs — exact all-pairs at a
    // 0.4 threshold as a broadcast-hinted nested-loop self-join while the
    // table fits the broadcast estimate, a fragment-replicate blocked
    // join beyond it (same pair set, no memory ceiling): the pair stream
    // stays inside codegen'd vec_dot and only above-threshold pairs
    // survive the filter. The sub-quadratic alternative is the IVF cell
    // product (IvfIndex). Identical double arithmetic to the oracle.
    Q("d15_cosine_neardup",
      (s, d) => cosineNearDupPairs(Tables.embeddings(s, d)),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT q.vec_id AS vec_a, c.vec_id AS vec_b,
             |       round(list_dot_product(q.v, c.v)
             |         / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS sim
             |FROM e q JOIN e c ON q.vec_id < c.vec_id
             |WHERE list_dot_product(q.v, c.v)
             |  / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.4""".stripMargin)),

    // d16: BPE-style pre-tokenizer counts (GPT-2-ish regex, written
    // without lookaheads so Java regex and DuckDB's RE2 agree) next to the
    // whitespace token count.
    Q("d16_bpe_tokens",
      (s, d) => bpeTokenCounts(documents(s, d)),
      Some("""SELECT doc_id,
             |CAST(len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')) AS BIGINT) AS n_bpe_tokens,
             |CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens
             |FROM documents""".stripMargin)),

    // d53: semantic decontamination — d22's eval-slice convention
    // (vec_id % 97) in embedding space; the paraphrase-leak check the
    // n-gram gate is blind to. Eval side broadcast, exact cosine.
    Q("d53_semantic_decontaminate",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        semanticContaminationPairs(
          e.where(col("vec_id") % 97 =!= 0),
          e.where(col("vec_id") % 97 === 0))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |t AS (SELECT * FROM e WHERE vec_id % 97 <> 0),
             |ev AS (SELECT * FROM e WHERE vec_id % 97 = 0),
             |s AS (
             |  SELECT t.vec_id AS train_id, ev.vec_id AS eval_id,
             |         list_dot_product(t.v, ev.v)
             |           / (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(ev.v, ev.v))) AS sim_raw
             |  FROM t, ev WHERE t.vec_id <> ev.vec_id)
             |SELECT train_id, eval_id, round(sim_raw, 4) AS sim
             |FROM s WHERE sim_raw >= 0.3""".stripMargin)),

    // d57: SemDeDup keep-list — drop any vector with a smaller-id cosine
    // neighbor at the d15 threshold; boolean + id output, so the gate is
    // hash-exact. Both sides share d15's pair expression verbatim.
    Q("d57_semdedup_keep",
      (s, d) => semDedupKeep(Tables.embeddings(s, d)),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |dup AS (
             |  SELECT DISTINCT c.vec_id
             |  FROM e q JOIN e c ON q.vec_id < c.vec_id
             |  WHERE list_dot_product(q.v, c.v)
             |    / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.4)
             |SELECT vec_id, vec_id NOT IN (SELECT vec_id FROM dup) AS kept
             |FROM embeddings""".stripMargin)),

    // d58: semantic near-dup clusters — connected components over the
    // d15 cosine pair graph, labels = smallest member id (the engine's
    // union-find/star contraction and the oracle's recursive reachability
    // CTE both converge to min-id labels). d14's convention: only
    // vectors with >= 1 near-duplicate appear.
    Q("d58_semdedup_clusters",
      (s, d) => semanticDupClusters(s, Tables.embeddings(s, d)),
      Some("""WITH RECURSIVE np AS MATERIALIZED (
             |  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |  SELECT q.vec_id AS a, c.vec_id AS b
             |  FROM e q JOIN e c ON q.vec_id < c.vec_id
             |  WHERE list_dot_product(q.v, c.v)
             |    / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.4
             |),
             |edges AS MATERIALIZED (SELECT a, b FROM np UNION ALL SELECT b, a FROM np),
             |nodes AS (SELECT DISTINCT a AS v FROM edges),
             |reach AS (
             |  SELECT v, v AS l FROM nodes
             |  UNION
             |  SELECT r.v, e.b AS l FROM reach r JOIN edges e ON e.a = r.l
             |),
             |lab AS (SELECT v, min(l) AS cluster_id FROM reach GROUP BY v),
             |csz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
             |SELECT v AS vec_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size
             |FROM lab JOIN csz USING (cluster_id)""".stripMargin)),

    // d61: the d57 keep rule over the ANN pair source in its EXACT mode
    // (d35's geometry: 1 table x 1 bit, probeFlips 1 probes both buckets,
    // so every pair is a candidate) — the composition that actually runs
    // at scale (candidate pairs -> keep rule), driver-adjudicated under
    // d57's oracle. Zero-norm vectors never pair on either path (the ANN
    // path excludes them from candidates; the exact path's NULL sim fails
    // the threshold), so the keep-lists agree on the full id universe.
    Q("d61_semdedup_ann_exact",
      (s, d) => {
        val vecs = Tables.embeddings(s, d)
        semDedupKeepFrom(vecs,
          Similarity.cosineNearDupPairsAnn(vecs, threshold = 0.4,
            tables = 1, bitsPerTable = 1, probeFlips = 1))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |dup AS (
             |  SELECT DISTINCT c.vec_id
             |  FROM e q JOIN e c ON q.vec_id < c.vec_id
             |  WHERE list_dot_product(q.v, c.v)
             |    / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.4)
             |SELECT vec_id, vec_id NOT IN (SELECT vec_id FROM dup) AS kept
             |FROM embeddings""".stripMargin)),

    // d56: one-row corpus health report (TextOps.corpusReport) — exact
    // integer aggregates + rounded exact percentiles, so the whole
    // report is hash-gated. Registered here (the EXTENDED bench set):
    // TextOps.queries is part of the bench BASELINE set, which must
    // stay the exact query list BASELINE.md's r01 total measured.
    Q("d56_corpus_report",
      (s, d) => TextOps.corpusReport(documents(s, d)),
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
             |  round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
             |  round(quantile_cont(n_chars, 0.99), 4) AS p99_chars,
             |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_exact_dup_docs
             |FROM documents""".stripMargin)),

    // d94: the per-source breakout of d56 — source-level triage (which
    // feeds are junk) under the same deterministic conventions; the one
    // computed double (avg_tokens) is a single correctly-rounded
    // division under the established round-to-4 convention.
    Q("d94_source_report",
      (s, d) => TextOps.sourceReport(documents(s, d)),
      Some("""SELECT source,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
             |  round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
             |  round(quantile_cont(n_chars, 0.99), 4) AS p99_chars,
             |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_exact_dup_docs,
             |  round(CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
             |    / count(*), 4) AS avg_tokens
             |FROM documents GROUP BY source""".stripMargin)),

    // d68: pairwise source-vocabulary overlap (TextOps.sourceOverlap).
    // Registered here, NOT in TextOps.queries: TextOps binds part of
    // the FROZEN bench baseline set (BASELINE.md's r01 query list), and
    // d68 is a round-10 addition — r08 adjudication flagged its TextOps
    // registration as baseline drift.
    Q("d68_source_overlap",
      (s, d) => TextOps.sourceOverlap(documents(s, d)),
      Some("""WITH v AS (
             |  SELECT DISTINCT g, word FROM (
             |    SELECT source AS g,
             |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
             |    FROM documents)),
             |s AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g),
             |i AS (
             |  SELECT a.g AS g, b.g AS g2, CAST(count(*) AS BIGINT) AS n_common
             |  FROM v a JOIN v b USING (word)
             |  WHERE a.g < b.g GROUP BY 1, 2)
             |SELECT i.g AS source_a, i.g2 AS source_b,
             |  sa.n AS vocab_a, sb.n AS vocab_b, n_common,
             |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
             |FROM i JOIN s sa ON sa.g = i.g JOIN s sb ON sb.g = i.g2""".stripMargin)),

    // d102: corpus-novelty scoring over the same base/delta split d101
    // probes — what fraction of each arriving doc's distinct bigrams
    // the indexed base has never seen. Integer counts + round-4 ratio.
    Q("d102_novelty_score",
      (s, d) => noveltyScore(
        documents(s, d).where(col("doc_id") % 3 === 0),
        documents(s, d).where(col("doc_id") % 3 =!= 0)),
      Some("""WITH bw AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS w
             |            FROM documents WHERE doc_id % 3 = 0),
             |base AS (SELECT DISTINCT w[i] || ' ' || w[i+1] AS g
             |         FROM bw, LATERAL (SELECT unnest(range(1, len(w))) AS i) u),
             |pw AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
             |       FROM documents WHERE doc_id % 3 <> 0),
             |pg AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS g
             |       FROM pw, LATERAL (SELECT unnest(range(1, len(w))) AS i) u)
             |SELECT pg.doc_id, count(*) AS n_grams,
             |       count(*) FILTER (WHERE base.g IS NULL) AS n_novel,
             |       round(count(*) FILTER (WHERE base.g IS NULL)
             |             / CAST(count(*) AS DOUBLE), 4) AS novelty
             |FROM pg LEFT JOIN base ON pg.g = base.g
             |GROUP BY 1""".stripMargin)),

    // d104: pairwise source unigram-DISTRIBUTION divergence (JS) — the
    // usage-level sibling of d68's vocabulary Jaccard. Registered here
    // with d68 (TextOps.queries is the frozen bench baseline set).
    Q("d104_source_divergence",
      (s, d) => TextOps.sourceDivergence(documents(s, d)),
      Some("""WITH tk AS (
             |  SELECT source AS g,
             |         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |  FROM documents),
             |c AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
             |t AS (SELECT g, sum(c) AS n FROM c GROUP BY 1),
             |p AS (SELECT c.g, tok, CAST(c AS DOUBLE) / n AS p
             |      FROM c JOIN t USING (g)),
             |srcs AS (SELECT DISTINCT g AS g2 FROM c),
             |ex AS (SELECT least(p.g, s.g2) AS source_a,
             |              greatest(p.g, s.g2) AS source_b, tok,
             |              CASE WHEN p.g < s.g2 THEN p.p ELSE 0 END AS pa,
             |              CASE WHEN p.g > s.g2 THEN p.p ELSE 0 END AS pb
             |       FROM p JOIN srcs s ON p.g <> s.g2),
             |m AS (SELECT source_a, source_b, tok, sum(pa) AS pa, sum(pb) AS pb
             |      FROM ex GROUP BY 1, 2, 3)
             |SELECT source_a, source_b,
             |  round(sum(
             |    CASE WHEN pa > 0 THEN 0.5 * pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END +
             |    CASE WHEN pb > 0 THEN 0.5 * pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END), 4)
             |    AS js_div
             |FROM m GROUP BY 1, 2""".stripMargin)),

    // d55: token-budget accounting under the LEARNED tokenizer — the
    // counts packing/mixing use in production, vs d02's whitespace and
    // d16's pre-tokenizer proxies. Gated by the unrolled merge oracle
    // with a per-doc subword-count stage.
    Q("d55_bpe_encode",
      (s, d) => bpeEncodeCounts(documents(s, d), merges = 8),
      Some(bpeOracleSql(8, encode = true))),

    // d51: BPE merge learning — the tokenizer-induction step upstream
    // of d16's pre-tokenizer and d42's chunker. Integer weighted counts
    // + binary-order tie-break make the learned merge table itself
    // hash-exact; the oracle is the 8-stage unrolled transcription of
    // the merge loop.
    Q("d51_bpe_train",
      (s, d) => bpeTrain(documents(s, d), merges = 8),
      Some(bpeOracleSql(8))),

    // d52: the learned tokenizer's segmentation half — the corpus
    // subword vocabulary after applying d51's 8 merges, gated by the
    // same unrolled oracle with a final subword-histogram stage.
    Q("d52_bpe_segment",
      (s, d) => bpeSegment(documents(s, d), merges = 8),
      Some(bpeOracleSql(8, segment = true))),

    // d42: sliding-window chunking — 64-token windows every 32 tokens
    // (the pretraining/RAG step between curation and shard packing).
    // Integer ids/counts + reassembled chunk text, so the whole
    // explode/slice pipeline is hash-exact; both engines share the
    // whitespace-token convention and 1-based inclusive slicing.
    Q("d42_chunk_windows",
      (s, d) => chunkWindows(documents(s, d)),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
             |  FROM documents),
             |n AS (
             |  SELECT doc_id, toks,
             |         CAST(greatest(ceil((len(toks) - 64) / 32.0), 0) + 1 AS INT) AS nch
             |  FROM t),
             |c AS (SELECT doc_id, toks, unnest(range(0, nch)) AS chunk_id FROM n)
             |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |       CAST(len(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 64)) AS BIGINT) AS n_tokens,
             |       array_to_string(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 64), ' ') AS chunk_text
             |FROM c""".stripMargin)),

    // d18: corpus length distribution — exact interpolated percentiles
    // per language (both engines use the standard (n-1)*p linear
    // interpolation: Spark `percentile`, DuckDB `quantile_cont`).
    Q("d18_length_quantiles",
      (s, d) => lengthQuantiles(documents(s, d)),
      Some("""SELECT lang,
             |quantile_cont(n_chars, 0.5) AS p50,
             |quantile_cont(n_chars, 0.9) AS p90,
             |quantile_cont(n_chars, 0.99) AS p99
             |FROM documents GROUP BY lang""".stripMargin)),

    // d12: multimodal metadata — payloads as opaque binary columns, only
    // typed metadata extracted (no decode stage; this query is the
    // metadata/plumbing surface, exact via md5/length).
    Q("d12_media_meta",
      (s, d) =>
        mediaMeta(
          documents(s, d).select(col("doc_id"),
            encode(col("text"), "UTF-8").cast(BinaryType).as("payload")),
          modality = "text"),
      Some("""SELECT doc_id, 'text' AS modality,
             |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |md5(text) AS payload_md5
             |FROM documents""".stripMargin))
  )
}
