package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Bounded buffer for [[MinKAgg]]: parallel (key, id) arrays kept sorted
  * ascending under (key, id), at most k entries. */
case class MinKBuf(keys: Array[String], ids: Array[Long])

/** Exact k-smallest (key, id) pairs per group as a typed Aggregator —
  * the selection engine of [[Curation.stratifiedSample]]. Constant-size
  * buffers with map-side partial aggregation: each group's reduce task
  * receives at most k rows PER MAP PARTITION (never the group), and
  * nothing is ever sorted beyond a k-element insertion — where a
  * window-rank formulation shuffles and sorts the entire stratum.
  * Selection under a total order is partition-order independent, so the
  * result is deterministic and matches the oracle's row_number. */
class MinKAgg(k: Int) extends Aggregator[(String, Long), MinKBuf, MinKBuf] {
  override def zero: MinKBuf = MinKBuf(new Array[String](0), new Array[Long](0))
  private def insert(b: MinKBuf, key: String, id: Long): MinKBuf = {
    if (key == null) return b // null sorts nowhere under compareTo: drop, don't NPE
    val n = b.keys.length
    var pos = n
    while (pos > 0 && {
        val c = key.compareTo(b.keys(pos - 1))
        c < 0 || (c == 0 && id < b.ids(pos - 1))
      }) pos -= 1
    if (pos >= k) b
    else {
      val m = math.min(n + 1, k)
      val ns = new Array[String](m); val ni = new Array[Long](m)
      System.arraycopy(b.keys, 0, ns, 0, pos)
      System.arraycopy(b.ids, 0, ni, 0, pos)
      ns(pos) = key; ni(pos) = id
      val tail = m - pos - 1
      if (tail > 0) {
        System.arraycopy(b.keys, pos, ns, pos + 1, tail)
        System.arraycopy(b.ids, pos, ni, pos + 1, tail)
      }
      MinKBuf(ns, ni)
    }
  }
  override def reduce(b: MinKBuf, a: (String, Long)): MinKBuf = insert(b, a._1, a._2)
  override def merge(x: MinKBuf, y: MinKBuf): MinKBuf = {
    var r = x
    var i = 0
    while (i < y.keys.length) { r = insert(r, y.keys(i), y.ids(i)); i += 1 }
    r
  }
  override def finish(b: MinKBuf): MinKBuf = b
  override def bufferEncoder: Encoder[MinKBuf] = Encoders.product[MinKBuf]
  override def outputEncoder: Encoder[MinKBuf] = Encoders.product[MinKBuf]
}

/** Corpus-curation operators a training-data pipeline runs between dedup
  * and packing: repetition-based quality signals (the Gopher filter
  * family), deterministic stratified sampling, and benchmark
  * decontamination. All three are SQL-expressible — each query carries a
  * DuckDB oracle — and all three keep integer outputs so cross-engine
  * comparison is exact (ratios are left to the caller: they are divisions
  * of the emitted integers).
  */
object Curation {

  private def wordsCol: Column = split(lower(trim(col("text"))), "\\s+")

  /** Space-only edge trim, matching Catalyst `trim()` and SQL TRIM (which
    * strip ' ' alone) — Java `String.trim` strips every char <= U+0020
    * (tab, newline, ...), so a text with a leading tab would tokenize to
    * one fewer leading empty token in a Java-trim UDF than in the SQL
    * formulations ([[wordsCol]], [[packShards]], the DuckDB oracles).
    * Every tokenizing path in this object shares THIS semantics. */
  private def trimSpaces(s: String): String = {
    var b = 0; var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == 0 && e == s.length) s else s.substring(b, e)
  }

  private[graft] def tokenize(text: String): Array[String] =
    if (text == null) Array.empty[String]
    else trimSpaces(text).toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)

  /** One-pass per-document repetition stats: (n_words, dup_word_count,
    * top_bigram_count, n_bigrams). A scalar UDF, not SQL aggregation —
    * see [[repetitionSignals]] for why. */
  private val repetitionUdf = udf { (text: String) =>
    // Locale.ROOT lower + space-only trim + \s+ split match Catalyst
    // lower()/trim()/split() — the oracle's formulation — byte-for-byte
    val ws = tokenize(text)
    val wordCounts = new java.util.HashMap[String, Long]()
    var i = 0
    while (i < ws.length) {
      wordCounts.merge(ws(i), 1L, (a, b) => a + b); i += 1
    }
    val biCounts = new java.util.HashMap[String, Long]()
    var topBi = 0L
    i = 0
    while (i < ws.length - 1) {
      val c = biCounts.merge(ws(i) + " " + ws(i + 1), 1L, (a, b) => a + b)
      if (c > topBi) topBi = c
      i += 1
    }
    (ws.length.toLong, ws.length.toLong - wordCounts.size,
      topBi, math.max(0, ws.length - 1).toLong)
  }

  /** Per-document repetition signals (Rae et al., "Scaling Language
    * Models: ... Gopher" §A1.1 quality heuristics, re-expressed over a
    * generic corpus): word count, duplicate-word count (occurrences
    * beyond each word's first), the occurrence count of the most frequent
    * word bigram, and the bigram total. Callers threshold the implied
    * fractions (dup_word_count/n_words, top_bigram_count/n_bigrams) to
    * drop boilerplate/spam docs.
    *
    * In: (doc_id, text). Out: (doc_id, n_words, dup_word_count,
    * top_bigram_count, n_bigrams).
    *
    * Scale: the signals only ever aggregate WITHIN one document, so the
    * whole operator is one narrow projection — a per-row single-pass UDF
    * whose working set is one doc's distinct words. The relational
    * formulation (explode bigrams → two partial-combined aggregations →
    * join back to the word stats) shuffles the full token stream twice
    * and scans the text column twice for the same answer — measured 4.6s
    * vs 1.0s at sf0.1. Narrow also means it runs unchanged on a
    * streaming DataFrame (GraftApiSpec's streaming case covers it). */
  def repetitionSignals(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), repetitionUdf(col("text")).as("r"))
      .select(
        col("doc_id"),
        col("r._1").as("n_words"),
        col("r._2").as("dup_word_count"),
        col("r._3").as("top_bigram_count"),
        col("r._4").as("n_bigrams"))

  /** CCNet-style unigram language-model scoring (Wenzek et al. 2020 use
    * a KenLM 5-gram; the unigram variant keeps the same filtering signal
    * — boilerplate and gibberish score high-perplexity — while staying
    * exactly computable from corpus statistics alone): per document, the
    * add-one-smoothed average token log-probability under the corpus'
    * own unigram distribution, and its perplexity exp(-avg).
    * p(t) = (count(t) + 1) / (total_tokens + |vocab|). Callers threshold
    * ppl to drop outlier docs (both tails: far-below-corpus ppl is
    * repeated boilerplate, far-above is noise).
    *
    * In: (doc_id, text). Out: (doc_id, n_tokens, avg_logprob, ppl) —
    * the two floats rounded to 4 decimals (the d15/d38 convention: the
    * per-doc log sum is the only order-sensitive float op).
    *
    * This is the composed self-scoring form of the CCNet TWO-PASS shape:
    * [[unigramVocab]] (train pass — one corpus scan into the token
    * distribution) then [[unigramPplAgainst]] (score pass — one corpus
    * scan scored against that model, Zipf-head lookup broadcast). Keep
    * the halves separate to train once and score later batches against
    * a frozen model; see each half's scaladoc for its scale shape. */
  def unigramPpl(docs: DataFrame, headK: Int = 10000): DataFrame =
    unigramPplAgainst(docs, unigramVocab(docs), headK)

  /** The model half of [[unigramPpl]]: corpus unigram statistics
    * (token, cnt, logp) with add-one smoothing,
    * logp = ln((cnt + 1) / (total_tokens + |vocab|)). Persist this frame
    * to score later batches against a FROZEN model ([[unigramPplAgainst]])
    * — the CCNet deployment shape, where the reference LM is trained once
    * and applied to every incoming crawl snapshot.
    *
    * Scale: one corpus scan into a token-keyed partial-combined
    * aggregation (the Zipf head collapses map-side, so "the" crosses the
    * shuffle once per map partition, not once per occurrence); grand
    * totals ride a 1-row broadcast cross join (the mixWeights shape). */
  def unigramVocab(docs: DataFrame): DataFrame =
    vocabFromCounts(tokenCounts(docs))

  /** Raw corpus token counts (token, cnt) — the ADDITIVE half of
    * [[unigramVocab]]: counts from disjoint doc batches merge by
    * summing, which is what makes the persisted incremental model
    * ([[LmIndex]]) possible without re-reading old corpus text.
    * Pre-counted per row ([[tokenCountsUdf]]) so the aggregation input
    * is per-doc-distinct (token, m) pairs, not the raw token stream;
    * needs only a text column. */
  private[graft] def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(explode(tokenCountsUdf(col("text"))).as(Seq("token", "m")))
      .groupBy(col("token")).agg(sum(col("m")).as("cnt"))

  /** Attach the add-one-smoothed log-probability to a (token, cnt)
    * frame: logp = ln((cnt + 1) / (total + |vocab|)). Totals ride a
    * 1-row broadcast cross join. */
  private[graft] def vocabFromCounts(counts: DataFrame): DataFrame = {
    val totals = counts.agg(
      sum(col("cnt")).cast(DoubleType).as("total"),
      count(lit(1)).cast(DoubleType).as("nv"))
    counts.crossJoin(broadcast(totals))
      .select(col("token"), col("cnt"),
        log((col("cnt") + lit(1)) / (col("total") + col("nv"))).as("logp"))
  }

  /** The scoring half of [[unigramPpl]]: per-doc average log-prob and
    * perplexity of `docs` under a [[unigramVocab]]-shaped model frame —
    * which may come from a DIFFERENT (earlier, larger) corpus. Tokens
    * absent from the vocab score at the smoothed unseen mass
    * ln(1 / (total + |vocab|)), so scoring a new batch never drops or
    * nulls a document. Output floats rounded to 4 decimals (the d15/d38
    * convention: the per-doc log sum is the only order-sensitive op).
    *
    * Scale: one corpus scan into per-doc (token, m) multiplicities
    * computed IN-ROW ([[docTokens]] — a narrow projection; the former
    * explode + groupBy(doc_id, token) formulation shuffled every token
    * occurrence in the corpus first).
    * The log-prob lookup join is where naive plans die at 100 TB: a
    * hash-join on token sends every doc's head-word rows to the head
    * word's one partition. Here the Zipf HEAD (top `headK` tokens by
    * count — by construction the only tokens frequent enough to skew) is
    * broadcast, and only the rows it misses shuffle-join the vocab tail,
    * where per-token fan-in is small by definition; the unseen-mass
    * constant rides a 1-row broadcast onto that same small branch. In
    * the composed self-scoring case AQE's stage cache shares the
    * tokenize/aggregate work with the vocab pass where plans coincide
    * (measured: 8 scans in the initial plan, 2 — one per pass — at
    * runtime; PlanInvariantSpec pins d44's plan shape). */
  def unigramPplAgainst(docs: DataFrame, vocab: DataFrame,
      headK: Int = 10000): DataFrame = {
    require(headK >= 0, "need headK >= 0")
    val perDoc = tokenLogps(docTokens(docs), vocab, headK)
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).cast(LongType).as("n_tokens"),
        sum(col("m") * col("logp")).as("slp"))
    perDoc.select(col("doc_id"), col("n_tokens"),
      round(col("slp") / col("n_tokens"), 4).as("avg_logprob"),
      round(exp(-col("slp") / col("n_tokens")), 4).as("ppl"))
  }

  /** One-pass per-document bigram multiplicities (ctx, tok, m) — the
    * order-2 sibling of [[tokenCountsUdf]] for [[bigramPpl]]; sub-2-token
    * docs return the empty seq (explode drops them; the final left join
    * restores their zero rows). */
  private[graft] val bigramCountsUdf = udf { (text: String) =>
    val ws = tokenize(text)
    val m = new java.util.HashMap[(String, String), Long]()
    var i = 0
    while (i < ws.length - 1) {
      m.merge((ws(i), ws(i + 1)), 1L, (a, b) => a + b); i += 1
    }
    scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.iterator
      .map { case ((a, b), c) => (a, b, c) }.toSeq
  }

  /** One-pass per-document token multiplicities as a map. Same
    * Catalyst-parity tokenize as [[repetitionUdf]] (space-only trim,
    * Locale.ROOT lower, \s+ split). */
  private val tokenCountsUdf = udf { (text: String) =>
    val ws = tokenize(text)
    val m = new java.util.HashMap[String, Long]()
    var i = 0
    while (i < ws.length) { m.merge(ws(i), 1L, (a, b) => a + b); i += 1 }
    scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.toMap
  }

  /** Per-doc token multiplicities (doc_id, token, m) — the scoring-side
    * tokenization shared by [[unigramPplAgainst]] and [[dsirWeights]].
    * Multiplicity is a per-DOCUMENT fact, so it is computed INSIDE the
    * row ([[tokenCountsUdf]]) and exploded — a narrow projection — where
    * the relational formulation (explode the token stream, groupBy
    * (doc_id, token)) shuffles every token occurrence in the corpus
    * first. Model-training counts (a corpus-wide fact) still shuffle,
    * but as rollups of this frame: per-doc-DISTINCT rows, not the raw
    * stream ([[tokenCounts]]). */
  private[graft] def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(tokenCountsUdf(col("text"))).as(Seq("token", "m")))

  /** The skew-safe log-prob lookup under a [[unigramVocab]]-shaped model:
    * (doc_id, token, m) -> (doc_id, m, logp), with vocab-absent tokens at
    * the smoothed unseen mass ln(1 / (total + |vocab|)). The Zipf HEAD
    * (top `headK` tokens — by construction the only tokens frequent
    * enough to skew a token-keyed join) is broadcast; only its misses
    * shuffle-join the vocab tail, where per-token fan-in is small by
    * definition; the unseen-mass constant rides a 1-row broadcast onto
    * that same small branch. */
  private def tokenLogps(docTok: DataFrame, vocab: DataFrame,
      headK: Int): DataFrame = {
    val unseen = vocab.agg(
      log(lit(1.0) /
        (sum(col("cnt")).cast(DoubleType) + count(lit(1)).cast(DoubleType)))
        .as("unseen_logp"))
    val head = vocab.orderBy(col("cnt").desc, col("token")).limit(headK)
      .select(col("token"), col("logp"))
    val viaHead = docTok.join(broadcast(head), Seq("token"), "left")
    val missed = viaHead.where(col("logp").isNull).drop("logp")
      .join(vocab.select(col("token"), col("logp")), Seq("token"), "left")
      .crossJoin(broadcast(unseen))
      .select(col("doc_id"), col("m"),
        coalesce(col("logp"), col("unseen_logp")).as("logp"))
    viaHead.where(col("logp").isNotNull)
      .select(col("doc_id"), col("m"), col("logp"))
      .unionByName(missed)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", at its unigram-feature
    * simplest): per document, the log importance ratio
    * log w(x) = log p_target(x) - log p_raw(x) under two add-one-smoothed
    * unigram LMs — the TARGET model trained on a small trusted corpus
    * (the distribution you want more of) and the RAW model trained on
    * `docs` itself. Docs whose token distribution looks more like the
    * target than like the raw corpus score positive. Callers select by
    * [[dsirSelect]] (the paper's Gumbel top-k resampling) or threshold.
    * The ratio is a SUM over tokens (not an average): DSIR weights whole
    * documents, so longer on-target docs legitimately outscore shorter
    * ones. In: docs + target, both (doc_id, text).
    * Out: (doc_id, n_tokens, log_ratio), the float rounded to 4 decimals
    * (the d15/d38 convention — the per-doc log sum is the only
    * order-sensitive op).
    *
    * Scale: ONE tokenize pass over `docs` ([[docTokens]]) feeds BOTH
    * model lookups (each the [[tokenLogps]] broadcast-head shape), and
    * the target model's training scan is over the small trusted set by
    * construction. Nothing corpus-sized is ever collected or sorted. */
  def dsirWeights(docs: DataFrame, target: DataFrame,
      headK: Int = 10000): DataFrame = {
    val docTok = docTokens(docs)
    // the raw model IS docs' own counts: roll docTok up per token
    // instead of re-tokenizing the corpus — corpus count = Σ_docs m,
    // and the rollup is a partial-agg over docTok's existing exchange
    // (one tokenize pass feeds the model AND both scoring lookups)
    val rawVocab = vocabFromCounts(
      docTok.groupBy(col("token")).agg(sum(col("m")).as("cnt")))
    dsirCore(docTok, rawVocab, unigramVocab(target), headK)
  }

  /** The frozen-model form of [[dsirWeights]]: score `docs` against two
    * ALREADY-TRAINED [[unigramVocab]]-shaped model frames — the DSIR
    * deployment shape, where the raw model is trained once on a corpus
    * snapshot (or served from a persisted [[LmIndex]] via
    * `LmIndex.vocab`), the target model once on the trusted set, and
    * every incoming batch scores against both without retraining.
    * Same output contract and skew-safe lookup shape as
    * [[dsirWeights]]; tokens absent from either model score that
    * model's smoothed unseen mass. */
  def dsirWeightsAgainst(docs: DataFrame, rawVocab: DataFrame,
      targetVocab: DataFrame, headK: Int = 10000): DataFrame =
    dsirCore(docTokens(docs), rawVocab, targetVocab, headK)

  private def dsirCore(docTok: DataFrame, rawVocab: DataFrame,
      targetVocab: DataFrame, headK: Int): DataFrame = {
    require(headK >= 0, "need headK >= 0")
    val raw = tokenLogps(docTok, rawVocab, headK)
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).cast(LongType).as("n_tokens"),
        sum(col("m") * col("logp")).as("slp_raw"))
    val tgt = tokenLogps(docTok, targetVocab, headK)
      .groupBy(col("doc_id"))
      .agg(sum(col("m") * col("logp")).as("slp_tgt"))
    raw.join(tgt, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("slp_tgt") - col("slp_raw"), 4).as("log_ratio"))
  }

  /** DSIR's selection step: Gumbel top-k resampling over
    * [[dsirWeights]] — add independent Gumbel noise g = -ln(-ln(u)) to
    * each log weight and take the k largest, which draws k docs WITHOUT
    * replacement with probability proportional to their importance
    * weights (the Gumbel-max trick). The noise is deterministic and
    * engine-independent: u = (h + 0.5) / 2^32 with h the first 8 hex
    * chars of md5(doc_id) — the d21/d29 coin, offset to (0,1) so both
    * ln calls are finite — making the selection reproducible across
    * runs AND engines (hash-gateable; the paper's seeded RNG would be
    * neither). Scores are ranked at the 4-decimal rounding convention
    * with doc_id tie-break. Out: (doc_id, score, sel_rank), rank 1..k.
    *
    * Scale: [[dsirWeights]] plus a narrow per-row score and a TakeOrdered
    * top-k (per-partition k-buffers merged at the driver — k rows, never
    * a global sort); the rank window runs over the k selected rows only. */
  def dsirSelect(docs: DataFrame, target: DataFrame, k: Int = 100,
      headK: Int = 10000): DataFrame = {
    require(k > 0, "need k > 0")
    val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 8), 16, 10)
      .cast(DoubleType)
    val u = (h + lit(0.5)) / lit(4294967296.0)
    val topk = dsirWeights(docs, target, headK)
      .select(col("doc_id"),
        round(col("log_ratio") - log(-log(u)), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
    topk.select(col("doc_id"), col("score"),
      row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
        .cast(LongType).as("sel_rank"))
  }

  /** Bigram LM perplexity — one model order up from [[unigramPpl]],
    * closing the gap toward CCNet's n-gram scorer (Wenzek et al. 2020
    * use a 5-gram KenLM; each added order sharpens the same signal —
    * word-ORDER gibberish that unigram statistics cannot see scores
    * high here). Per doc: the add-one-smoothed average bigram
    * log-probability p(w_i | w_{i-1}) = (B(ctx,tok) + 1) / (C(ctx) + V)
    * under the corpus' own bigram counts B, context totals C = Σ_tok B,
    * and unigram vocab size V, plus its perplexity exp(-avg). Docs with
    * fewer than two tokens emit n_bigrams 0 with NULL score (no
    * invented boundary markers — "no bigram evidence" is a fact the
    * caller decides on, matching d28's explicit-abstention convention).
    * Out: (doc_id, n_bigrams, avg_logprob, ppl), floats at the
    * 4-decimal convention.
    *
    * Scale: per-doc bigram multiplicities are computed IN-ROW
    * ([[bigramCountsUdf]] — a narrow projection, no bigram-stream
    * shuffle); model counts B roll up from those per-doc-distinct rows
    * under the (ctx, tok) key — far finer than d44's token key, so the
    * rollup spreads better than the unigram one — and the logp lookup
    * reuses the broadcast-head design: the top-headK bigrams by count
    * broadcast, only head-miss rows shuffle, so "the the"-class heads
    * never concentrate a partition. The only ctx-keyed shuffle is
    * model-sized (B ⋈ C), not corpus-sized. */
  def bigramPpl(docs: DataFrame, headK: Int = 10000): DataFrame = {
    require(headK >= 0, "need headK >= 0")
    val docBi = docs
      .select(col("doc_id"), explode(bigramCountsUdf(col("text"))).as("b"))
      .select(col("doc_id"), col("b._1").as("ctx"), col("b._2").as("tok"),
        col("b._3").as("m"))
    val bc = docBi.groupBy(col("ctx"), col("tok")).agg(sum(col("m")).as("cnt"))
    val cc = bc.groupBy(col("ctx")).agg(sum(col("cnt")).cast(DoubleType).as("ctot"))
    val nv = docTokens(docs)
      .agg(countDistinct(col("token")).cast(DoubleType).as("nv"))
    val model = bc.join(cc, Seq("ctx")).crossJoin(broadcast(nv))
      .select(col("ctx"), col("tok"), col("cnt"),
        log((col("cnt") + lit(1)) / (col("ctot") + col("nv"))).as("logp"))
    val head = model.orderBy(col("cnt").desc, col("ctx"), col("tok"))
      .limit(headK).select(col("ctx"), col("tok"), col("logp"))
    val viaHead = docBi.join(broadcast(head), Seq("ctx", "tok"), "left")
    // inner join: self-scored, every doc bigram exists in the model
    val missed = viaHead.where(col("logp").isNull).drop("logp")
      .join(model.select(col("ctx"), col("tok"), col("logp")), Seq("ctx", "tok"))
      .select(col("doc_id"), col("m"), col("logp"))
    val perDoc = viaHead.where(col("logp").isNotNull)
      .select(col("doc_id"), col("m"), col("logp"))
      .unionByName(missed)
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).cast(LongType).as("n_bigrams"),
        sum(col("m") * col("logp")).as("slp"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("slp") / col("n_bigrams"), 4).as("avg_logprob"),
        round(exp(-col("slp") / col("n_bigrams")), 4).as("ppl"))
  }

  /** CCNet's perplexity bucketing: within each language, docs are split
    * into head / middle / tail terciles by [[unigramPpl]] perplexity
    * (Wenzek et al. 2020 §4.4 — head = lowest-ppl third, the cleanest
    * text; downstream pipelines keep head+middle or reweight by bucket).
    * Thresholds are the exact per-language terciles of the 4-decimal
    * ppl, themselves rounded to 4 decimals: tercile interpolation
    * weights (1/3, 2/3) over a 4-decimal grid can only produce values
    * whose 5th decimal pattern is {0, 3, 6}, never the .00005 rounding
    * boundary, so the bucket comparison is cross-engine deterministic.
    *
    * In: (doc_id, text, lang). Out: (doc_id, lang, ppl, bucket).
    *
    * Scale: d44's two passes, plus a lang-keyed exact-percentile
    * aggregation (per-group value buffering — the d18 convention; at
    * extreme per-lang cardinality swap in approx_percentile) whose
    * output is |langs| rows broadcast back onto the scored frame, and
    * one doc_id equi-join to re-attach lang. No corpus-wide sort, no
    * per-lang single-task window. */
  def pplBuckets(docs: DataFrame, headK: Int = 10000): DataFrame = {
    val scored = unigramPpl(docs, headK)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val thresholds = scored.groupBy(col("lang")).agg(
      round(expr("percentile(ppl, CAST(1 AS DOUBLE) / 3)"), 4).as("t1"),
      round(expr("percentile(ppl, CAST(2 AS DOUBLE) / 3)"), 4).as("t2"))
    scored.join(broadcast(thresholds), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("ppl"),
        when(col("ppl") <= col("t1"), lit("head"))
          .when(col("ppl") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** The model-based quality-filter stage, trained IN the engine (d64):
    * logistic regression over per-document quality features by
    * full-batch gradient descent — each iteration is ONE corpus
    * aggregation reduced map-side to a 4-double gradient (the exact
    * shape distributed GD takes on a cluster; the only driver-side data
    * is the weight vector, like IvfIndex's K-centroid collect). The
    * demo seed label is lang='en' (in production the seed set comes
    * from human/LLM annotation; the mechanics are label-agnostic).
    * Features: bias, stopword_ratio, avg_token_len/10,
    * round(ln(n_tokens)/10, 6) — d04's exact-parity expressions, the
    * ln rounded so the one libm-sourced feature is bit-stable across
    * engines. Gradients and weight updates round at 6 decimals each
    * iteration (the d44/d47 float convention, making the whole descent
    * path — and so the oracle's unrolled replay of it — hash-exact).
    *
    * In: (doc_id, text, lang). Out of [[lrQualityScores]]:
    * (doc_id, score, predicted) — score = round(sigmoid(w·x), 4),
    * predicted = (w·x >= 0). */
  def lrQualityWeights(docs: DataFrame, iters: Int = 3,
      lr: Double = 1.0): Seq[Double] = {
    require(iters >= 1 && lr > 0, "need iters >= 1, lr > 0")
    val f = lrFeatures(docs).cache()
    try {
      var w = Seq(0.0, 0.0, 0.0, 0.0)
      for (_ <- 1 to iters) {
        val p = sigmoidOf(w)
        val row = f.agg(
          round(avg((p - col("y")) * col("b")), 6),
          round(avg((p - col("y")) * col("s")), 6),
          round(avg((p - col("y")) * col("a")), 6),
          round(avg((p - col("y")) * col("t")), 6)).head()
        w = w.indices.map { j =>
          BigDecimal(w(j) - lr * row.getDouble(j))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      }
      w
    } finally { f.unpersist(); () }
  }

  /** The trained d64 model as a persistable (feature, weight) frame —
    * the LmIndex-style "train once, score later batches" seam. */
  def lrWeightsFrame(docs: DataFrame, iters: Int = 3,
      lr: Double = 1.0): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    LrFeatureNames.zip(lrQualityWeights(docs, iters, lr))
      .toDF("feature", "weight")
  }

  /** Train + score in one call (the registered d64 form). */
  def lrQualityScores(docs: DataFrame, iters: Int = 3,
      lr: Double = 1.0): DataFrame = {
    val w = lrQualityWeights(docs, iters, lr)
    val z = zOf(Seq(col("wb"), col("ws"), col("wa"), col("wt")))
    lrFeatures(docs)
      .crossJoin(broadcast(
        docs.sparkSession.range(1).select(lit(w(0)).as("wb"), lit(w(1)).as("ws"),
          lit(w(2)).as("wa"), lit(w(3)).as("wt"))))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 4).as("score"),
        (z >= 0.0).as("predicted"))
  }

  /** Score a (new) batch against a frozen (feature, weight) frame from
    * [[lrWeightsFrame]] (d65): one narrow scan over the batch with the
    * 4-row model broadcast — no retraining, the d49 pattern for the LR
    * family. */
  def lrScoreAgainst(docs: DataFrame, weights: DataFrame): DataFrame = {
    val wrow = weights.agg(
      max(when(col("feature") === "b", col("weight"))).as("wb"),
      max(when(col("feature") === "s", col("weight"))).as("ws"),
      max(when(col("feature") === "a", col("weight"))).as("wa"),
      max(when(col("feature") === "t", col("weight"))).as("wt"))
    val z = zOf(Seq(col("wb"), col("ws"), col("wa"), col("wt")))
    lrFeatures(docs).crossJoin(broadcast(wrow))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 4).as("score"),
        (z >= 0.0).as("predicted"))
  }

  private val LrFeatureNames = Seq("b", "s", "a", "t")

  /** (doc_id, b, s, a, t, y): d04's exact-parity quality expressions as
    * features plus the lang='en' demo seed label. ONE narrow projection
    * — no join back onto the input (identical arithmetic to
    * TextOps.qualityScore's columns), so the frozen scoring path
    * ([[lrScoreAgainst]]) runs unchanged on a streaming DataFrame. */
  private def lrFeatures(docs: DataFrame): DataFrame = {
    val toks = split(lower(trim(col("text"))), "\\s+")
    val stop = typedLit(Seq("the", "a", "of", "and", "to", "in"))
    val nTok = size(toks).cast(LongType)
    docs.select(col("doc_id"),
      lit(1.0).as("b"),
      (size(filter(toks, w => array_contains(stop, w))).cast(LongType)
        .cast(DoubleType) / nTok).as("s"),
      ((length(regexp_replace(col("text"), "\\s", "")).cast(DoubleType) / nTok)
        / 10.0).as("a"),
      round(log(nTok.cast(DoubleType)) / 10.0, 6).as("t"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
  }

  private def zOf(w: Seq[Column]): Column =
    w(0) * col("b") + w(1) * col("s") + w(2) * col("a") + w(3) * col("t")

  private def sigmoidOf(w: Seq[Double]): Column = {
    val z = zOf(w.map(lit(_)))
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Deterministic stratified sample: exactly min(k, group size) rows per
    * `strata` value, chosen by ascending md5 of the doc id — a stable
    * "random" order that is reproducible across engines and runs (the
    * property q27's engine-seeded Bernoulli sample inherently lacks: this
    * one IS hash-gateable). In: (doc_id, <strata>). Out: (doc_id,
    * <strata>, sample_rank 1..k).
    *
    * Scale: the textbook `row_number() over (partition by strata order by
    * md5)` puts an entire stratum on one task AND sorts it — with 5
    * languages over 100 TB that is 5 tasks sorting everything. This is
    * instead exact bounded selection ([[MinKAgg]]): map-side partial
    * aggregation reduces every partition to <= k (key, id) pairs per
    * stratum before the shuffle, the per-stratum reduce merges those
    * k-buffers, and ranks fall out of the final buffer's order — no sort
    * of corpus-sized data anywhere, shuffle volume k rows per map
    * partition per stratum. */
  def stratifiedSample(docs: DataFrame, strata: String = "lang",
      k: Int = 20): DataFrame = {
    require(k > 0, "need k > 0")
    val mink = udaf(new MinKAgg(k))
    docs
      // a null doc_id has no md5 order key (and no deterministic rank):
      // exclude it rather than NPE the aggregator's compareTo
      .where(col("doc_id").isNotNull)
      .select(col(strata).as("stratum"),
        md5(col("doc_id").cast(StringType)).as("key"), col("doc_id"))
      .groupBy(col("stratum"))
      .agg(mink(col("key"), col("doc_id")).as("t"))
      .select(col("stratum").as(strata), posexplode(col("t.ids")).as(Seq("pos", "doc_id")))
      .select(col("doc_id"), col(strata),
        (col("pos") + 1).cast(LongType).as("sample_rank"))
  }

  /** Tags whose subtrees carry no visible text (script/style/meta
    * content) — skipped whole by [[htmlVisibleText]]. */
  private val HtmlSkipTags =
    Set("script", "style", "noscript", "template", "head", "title")

  /** Block-level tags: entering or leaving one is a line boundary in
    * the extracted text (the browsers'/jusText convention — inline
    * tags like <b>/<a> contribute no break). */
  private val HtmlBlockTags = Set("html", "body", "main", "article",
    "section", "header", "footer", "nav", "aside", "div", "p",
    "blockquote", "pre", "figure", "table", "tr", "th", "td", "ul",
    "ol", "li", "h1", "h2", "h3", "h4", "h5", "h6")

  /** Visible text of one HTML document: MiniDom parse, skip
    * [[HtmlSkipTags]] subtrees, emit text in document order with a
    * line break at every [[HtmlBlockTags]] boundary and every `<br>`,
    * then normalize (collapse whitespace runs per line, trim, drop
    * blank lines, join with '\n'). Entities decode as part of the
    * parse (MiniDom's unescape). */
  private[graft] def visibleTextOf(html: String): String = {
    if (html == null) return ""
    val sb = new java.lang.StringBuilder
    def walk(e: graft.parse.MiniDom.Elem): Unit =
      e.children.foreach {
        case graft.parse.MiniDom.Text(s) => sb.append(s)
        case c: graft.parse.MiniDom.Elem if !HtmlSkipTags(c.name) =>
          val block = HtmlBlockTags(c.name)
          if (block || c.name == "br") sb.append('\n')
          walk(c)
          if (block) sb.append('\n')
        case _ => // skipped subtree
      }
    walk(graft.parse.MiniDom.parse(html))
    sb.toString.split("\n", -1).iterator
      .map(_.replaceAll("\\s+", " ").trim)
      .filter(_.nonEmpty)
      .mkString("\n")
  }

  private lazy val visibleTextUdf = udf((s: String) => visibleTextOf(s))

  /** Generic HTML → visible text (d126) — the extraction stage every
    * web-corpus pipeline runs first (the skeleton of trafilatura /
    * jusText, minus their density heuristics): strip non-content
    * subtrees, linearize text with block-boundary line breaks,
    * normalize lines. In: (doc_id, html). Out: (doc_id, clean_text,
    * n_lines) — one row per input doc, text-free docs as empty string.
    * Composes upstream of d95 boilerplate removal and the dedup family
    * (this op removes MARKUP; d95 removes repeated CONTENT lines).
    *
    * Scale: one narrow per-row pass (parse cost ~ document bytes),
    * ZERO shuffles — a UDF by necessity (a DOM walk with a skip-set
    * and per-tag break rules is beyond Catalyst's regex surface; the
    * per-row cost is the same order as the reference ETL's HtmlGrid
    * parse, which this reuses MiniDom from). MiniDom tokenizes
    * raw-text elements as markup, so a literal '<' inside inline
    * script can end that subtree's skip early — real-crawl extraction
    * is best-effort there; the d126 gate pins the documented subset. */
  def htmlVisibleText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        coalesce(visibleTextUdf(col("html")), lit("")).as("clean_text"))
      .withColumn("n_lines",
        when(col("clean_text") === "", lit(0L))
          .otherwise(size(split(col("clean_text"), "\n")).cast(LongType)))

  /** Deterministic WEIGHTED stratified sample (d125) — Efraimidis &
    * Spirakis 2006's weighted reservoir, derandomized the d21 way:
    * each doc races `weight` md5 tickets (`md5(doc_id + ":" + i)`) and
    * its sort key is the MINIMUM ticket; the k lexicographically
    * smallest keys per stratum win. P(doc drawn first) = w/Σw exactly
    * (the min of w iid uniforms race), and successive picks follow the
    * without-replacement weighted distribution — the E-S scheme with
    * hash-derived uniforms, so the "sample" is reproducible, auditable,
    * and DuckDB-replayable. Weight = word count capped at `maxWeight`
    * (longer docs proportionally likelier — the pretraining-mix
    * convention; the cap bounds the per-row ticket loop and any
    * positive integer weight expression slots into the same seam). Out:
    * (doc_id, <strata>, sample_rank 1..k).
    *
    * Scale: the ticket race is ONE narrow codegen'd expression per row
    * (array_min over a transform — no explode, no per-ticket rows);
    * selection is d21's bounded MinKAgg per stratum (map-side partial
    * top-k), so the shuffle carries at most k rows per partition per
    * stratum, never the corpus. */
  def weightedSample(docs: DataFrame, strata: String = "source", k: Int = 20,
      maxWeight: Int = 64): DataFrame = {
    require(k > 0, "need k > 0")
    require(maxWeight >= 1, "need maxWeight >= 1")
    val mink = udaf(new MinKAgg(k))
    val weight = least(greatest(
      size(split(lower(trim(col("text"))), "\\s+")), lit(1)), lit(maxWeight))
    docs
      .where(col("doc_id").isNotNull)
      .select(col(strata).as("stratum"), col("doc_id"), weight.as("weight"))
      .withColumn("key", expr(
        "array_min(transform(sequence(1, weight), " +
          "i -> md5(concat(cast(doc_id AS STRING), ':', cast(i AS STRING)))))"))
      .groupBy(col("stratum"))
      .agg(mink(col("key"), col("doc_id")).as("t"))
      .select(col("stratum").as(strata), posexplode(col("t.ids")).as(Seq("pos", "doc_id")))
      .select(col("doc_id"), col(strata),
        (col("pos") + 1).cast(LongType).as("sample_rank"))
  }

  /** IEEE-754 order-preserving encoding: ascending doubles map to
    * ascending unsigned longs (the standard sign-flip trick), so a
    * fixed-width hex rendering sorts lexicographically in NUMERIC order
    * with zero precision loss — what lets [[MinKAgg]]'s string-keyed
    * k-selection rank by an arbitrary double EXACTLY (a decimal
    * rendering would collapse near-ties the oracle's full-precision
    * ORDER BY still distinguishes). */
  private[graft] def sortableBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    if (b < 0) ~b else b ^ java.lang.Long.MIN_VALUE
  }

  /** Hex key DESCENDING in `d` (k-smallest keys = k-largest doubles). */
  private val descKeyUdf = udf { (d: Double) => f"${~sortableBits(d)}%016x" }

  /** Per-stratum best-k documents by quality signal (d84) — the "select
    * the best docs per domain under a budget" step between scoring and
    * packing. Ranks by d04's stopword_ratio DESCENDING (bit-identical
    * across engines — d04's oracle gates the exact divisions), doc_id
    * ascending on ties. Out: (strata, doc_id, stopword_ratio, rank).
    *
    * Scale: selection rides [[MinKAgg]] under the order-preserving
    * [[sortableBits]] key — constant-size k-buffers with map-side
    * partial aggregation, so each stratum's reduce task receives at
    * most k rows per map partition and nothing ever sorts beyond a
    * k-element insertion; a window-rank formulation would shuffle and
    * SORT every stratum end-to-end. The winners (strata x k rows)
    * broadcast back onto the scored frame to re-attach the score. */
  def qualityTopK(docs: DataFrame, strata: String = "lang", k: Int = 10,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")): DataFrame = {
    require(k > 0, "need k > 0")
    val mink = udaf(new MinKAgg(k))
    val scored = TextOps.qualityScore(docs, stopwords)
      .join(docs.select(col("doc_id"), col(strata)), Seq("doc_id"))
      .where(col("doc_id").isNotNull)
    val winners = scored
      .select(col(strata).as("stratum"), descKeyUdf(col("stopword_ratio")).as("key"),
        col("doc_id"))
      .groupBy(col("stratum"))
      .agg(mink(col("key"), col("doc_id")).as("t"))
      .select(col("stratum").as(strata),
        posexplode(col("t.ids")).as(Seq("pos", "doc_id")))
      .select(col(strata), col("doc_id"),
        (col("pos") + 1).cast(LongType).as("rank"))
    scored.select(col("doc_id"), col("stopword_ratio"))
      .join(broadcast(winners), Seq("doc_id"))
      .select(col(strata), col("doc_id"), col("stopword_ratio"), col("rank"))
  }

  /** Deterministic global shuffle order (d87) — the "materialize the
    * training order" step: every example gets a position in one
    * pseudo-random permutation of the corpus, reproducible from the
    * seed alone (order = md5(seed:doc_id), so re-running on the same
    * corpus re-derives the same epoch order, and a grown corpus only
    * inserts new rows into the permutation without reshuffling runs
    * already consumed positions). Out: (doc_id, position), 1-based.
    *
    * Scale: one range-partitioned total sort via [[Ids.sequenceBy]] —
    * a window-free row numbering whose count and data jobs share one
    * shuffle. A total sort is the honest minimum for materializing a
    * global order; nothing here funnels through a single task. */
  def shuffleOrder(docs: DataFrame, seed: String = "graft",
      idCol: String = "doc_id"): DataFrame = {
    val keyed = docs.select(col(idCol),
      md5(concat_ws(":", lit(seed), col(idCol).cast(StringType))).as("skey"))
    Ids.sequenceBy(keyed, Seq(col("skey"), col(idCol)), "position")
      .select(col(idCol), col("position"))
  }

  /** Deterministic round-robin interleave across groups (d88) — the
    * "mix sources evenly through the epoch" ordering: rank documents
    * within each group by a seeded hash, then emit rank-1 docs of every
    * group (in group order), then rank-2, and so on — smaller sources
    * simply exhaust early. The uniform-mixing counterpart of the
    * weighted [[mixWeights]]/[[applyMix]] pair: those decide HOW MANY
    * copies of each doc train, this decides WHERE in the epoch each doc
    * lands. Out: (doc_id, group, rank_in_group, position), 1-based.
    *
    * Scale: two range-partitioned total sorts ([[Ids.sequenceBy]]) and
    * one #groups-row aggregate broadcast back — no Window node
    * anywhere, no per-group single-task sort (a
    * `row_number over (partition by group)` would funnel each group
    * through one task; here every group's ranking rides the range
    * exchange). The per-group start offsets come from min(gseq), which
    * is invariant to range-bound sampling because the (group, skey, id)
    * order is total. */
  def interleaveOrder(docs: DataFrame, groupCol: String = "source",
      seed: String = "graft"): DataFrame = {
    val keyed = docs.select(col("doc_id"), col(groupCol),
      md5(concat_ws(":", lit(seed), col("doc_id").cast(StringType))).as("skey"))
    val inGroup = groupRank(keyed, groupCol,
        Seq(col("skey"), col("doc_id")), "rank_in_group")
      .select(col("doc_id"), col(groupCol), col("rank_in_group"))
    Ids.sequenceBy(inGroup, Seq(col("rank_in_group"), col(groupCol)), "position")
      .select(col("doc_id"), col(groupCol), col("rank_in_group"), col("position"))
  }

  /** 1-based rank within each `groupCol` value under the total order
    * `order` — the window-free `row_number over (partition by group
    * order by ...)`: one range sort by (group, order...) makes group
    * blocks contiguous in the global [[Ids.sequenceBy]] numbering, so
    * rank = gseq − group's start offset, and the offsets are just
    * min(gseq) per group — a #groups-row aggregate broadcast back. No
    * per-group single-task sort at ANY group cardinality or skew (a
    * partitioned Window funnels each group through one task). The
    * ranged frame (callers pass a slim projection) is pinned so the
    * offsets aggregate and the join read ONE materialization instead of
    * re-executing the range sort (d23's pinning rationale — though a
    * re-execution would at least be CORRECT here, gseq being a rank in
    * a total order and thus invariant to range-bound sampling). */
  private[graft] def groupRank(df: DataFrame, groupCol: String,
      order: Seq[Column], rankCol: String): DataFrame = {
    val g = Ids.sequenceBy(df, col(groupCol) +: order, "gseq")
      .localCheckpoint()
    val offs = g.groupBy(col(groupCol)).agg(min(col("gseq")).as("goff"))
    g.join(broadcast(offs), Seq(groupCol))
      .withColumn(rankCol, col("gseq") - col("goff") + 1L)
      .drop("gseq", "goff")
  }

  /** Temperature-scaled source upsampling weights (d89) — the
    * multilingual-sampling rule (Conneau & Lample 2019 §3.1): sampling
    * shares q_s ∝ p_s^τ flatten the natural shares p_s, boosting tail
    * sources. Emitted as per-source upsampling factors RELATIVE TO THE
    * LARGEST source, w_s = (n_max/n_s)^(1−τ) — the largest source keeps
    * weight 1.0 and every factor is one correctly-rounded double
    * operation chain on exact long counts (τ = 0.5 routes through
    * `sqrt`, which IEEE requires correctly rounded in BOTH engines —
    * a normalized q_s would need a float SUM over sources, whose
    * fold order no engine pins). Out: (<groupCol>, n_docs, weight).
    *
    * Scale: one #groups aggregate + a 1-row max broadcast
    * (crossJoin(broadcast) — the d26 totals shape). Feed the weights to
    * [[applyMix]]'s copy semantics to materialize the upsampling. */
  def temperatureWeights(docs: DataFrame, groupCol: String = "source",
      tau: Double = 0.5): DataFrame = {
    require(tau >= 0 && tau <= 1, "need 0 <= tau <= 1")
    val counts = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"))
    val mx = counts.agg(max(col("n_docs")).as("mx"))
    val ratio = col("mx").cast(DoubleType) / col("n_docs")
    val w =
      if (tau == 0.5) sqrt(ratio)            // exactly rounded in IEEE
      else if (tau == 1.0) lit(1.0)          // natural sampling
      else if (tau == 0.0) ratio             // full equalization
      else pow(ratio, 1.0 - tau)             // platform-rounded (~1 ulp)
    counts.crossJoin(broadcast(mx))
      .select(col(groupCol), col("n_docs"), w.as("weight"))
  }

  /** Length-bucketed batch assignment (d90) — the padding-efficiency
    * step: bucket documents by whitespace token count (d02's n_tokens
    * semantics) under explicit `edges`, rank within each bucket by
    * (n_tokens, doc_id) so neighbors have near-equal lengths, and cut
    * batches of `batchSize` off each bucket's ranking. Out: (doc_id,
    * bucket, n_tokens, rank_in_bucket, batch_idx); bucket = number of
    * edges ≤ n_tokens (0-based), batch_idx 0-based within bucket.
    *
    * Scale: bucketing is a narrow integer projection; the ranking is
    * [[groupRank]] — the window-free contiguous-block numbering, safe
    * at any bucket skew (and length buckets ARE skewed: the corpus mode
    * bucket dwarfs the tails). */
  def lengthBatches(docs: DataFrame, edges: Seq[Int] = Seq(8, 16, 32, 64, 128),
      batchSize: Int = 32): DataFrame = {
    require(edges.nonEmpty && edges == edges.sorted, "need sorted nonempty edges")
    require(batchSize > 0, "need batchSize > 0")
    val arr = edges.mkString("array(", ",", ")")
    val t = docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast(LongType).as("n_tokens"))
      .withColumn("bucket",
        expr(s"size(filter($arr, e -> e <= n_tokens))").cast(LongType))
    groupRank(t, "bucket", Seq(col("n_tokens"), col("doc_id")), "rank_in_bucket")
      .select(col("doc_id"), col("bucket"), col("n_tokens"),
        col("rank_in_bucket"),
        // integer DIV, not `/` (Spark's `/` on longs is DOUBLE division)
        expr(s"(rank_in_bucket - 1L) div $batchSize").as("batch_idx"))
  }

  /** End-to-end epoch assembly (d91) — the composition a trainer
    * actually consumes: [[temperatureWeights]] decides each source's
    * upsampling factor, [[materializeMix]] expands docs into tagged
    * copies under the md5-coin copy rule, and a final seeded total sort
    * positions every copy in the epoch (the [[shuffleOrder]] machinery
    * over the composite (doc_id, copy_idx) identity, so two copies of
    * one doc land at unrelated positions). Out: (doc_id, <groupCol>,
    * copy_idx, position). Deterministic end to end — every stage is a
    * correctly-rounded or integer rule, so the whole plan hash-gates.
    *
    * Scale: the stages' own shapes — #groups aggregate + broadcast,
    * narrow explode, one range-partitioned total sort. */
  def epochPlan(docs: DataFrame, groupCol: String = "source",
      tau: Double = 0.5, seed: String = "graft"): DataFrame = {
    val w = temperatureWeights(docs, groupCol, tau)
      .select(col(groupCol), col("weight"))
    val expanded = materializeMix(docs, w, Seq(groupCol))
    val keyed = expanded.withColumn("skey",
      md5(concat_ws(":", lit(seed), col("doc_id").cast(StringType),
        col("copy_idx").cast(StringType))))
    Ids.sequenceBy(keyed, Seq(col("skey"), col("doc_id"), col("copy_idx")), "position")
      .select(col("doc_id"), col(groupCol), col("copy_idx"), col("position"))
  }

  /** Curriculum ordering (d92) — position docs easiest-first (or any
    * monotone schedule): 1-based position under (score DESC, doc_id),
    * for a caller-supplied per-doc score frame. The third member of the
    * ordering family: d87 shuffles, d88 interleaves, this one ORDERS BY
    * MERIT — the curriculum-learning epoch layout. In: (doc_id,
    * <scoreCol>). Out: (doc_id, <scoreCol>, position).
    *
    * Scale: one range-partitioned total sort ([[Ids.sequenceBy]] under
    * the IEEE order-preserving [[sortableBits]] key via [[descKeyUdf]] —
    * ranking by the raw double EXACTLY, not by a decimal rendering),
    * window-free like the rest of the family. */
  def curriculumOrder(scored: DataFrame, scoreCol: String = "score"): DataFrame = {
    val keyed = scored.select(col("doc_id"), col(scoreCol),
      descKeyUdf(col(scoreCol)).as("ckey"))
    Ids.sequenceBy(keyed, Seq(col("ckey"), col("doc_id")), "position")
      .select(col("doc_id"), col(scoreCol), col("position"))
  }

  /** Distinct lowercased word n-grams per document. */
  private[graft] def wordNGrams(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, "need n >= 1")
    val shifted = (0 until n).map(j => s"ws[i+$j]").mkString(", ")
    docs
      .select(col("doc_id"), wordsCol.as("ws"))
      .select(col("doc_id"), explode(array_distinct(expr(
        // guard short docs: sequence(0, negative) would COUNT DOWN
        s"""CASE WHEN size(ws) >= $n
           |THEN transform(sequence(0, size(ws) - $n), i -> concat_ws(' ', $shifted))
           |ELSE array() END""".stripMargin))).as("gram"))
  }

  /** Benchmark decontamination: which training documents share word
    * `n`-grams with an evaluation set (Brown et al., GPT-3 §C; the
    * training-side complement of eval contamination checks). Emits one
    * row per (training doc, eval doc) pair sharing at least one distinct
    * n-gram, with the shared-gram count — callers drop or flag training
    * docs above a threshold. In: two (doc_id, text) frames.
    * Out: (doc_id = training doc, bench_id = eval doc, n_shared).
    *
    * Scale: eval sets are small (benchmarks are MBs against a 100 TB
    * corpus), so the eval gram set is broadcast and the corpus-side gram
    * stream joins map-side — no shuffle of the corpus grams; the only
    * shuffle is the (doc, bench) pair aggregation, bounded by true
    * contamination volume. `hashGrams = true` is the production mode for
    * wide grams (n = 8..13, ~60-100 bytes each): xxhash64 maps every gram
    * to 8 bytes BEFORE the broadcast/join, shrinking the broadcast ~10×;
    * pair counts are identical modulo ~1e-19 hash collisions
    * (spec-proven equal on the test corpus). Default false: the driver
    * oracle compares string grams. */
  def contaminationPairs(train: DataFrame, evalDocs: DataFrame, n: Int = 3,
      hashGrams: Boolean = false): DataFrame = {
    def grams(df: DataFrame): DataFrame = {
      val g = wordNGrams(df, n)
      if (hashGrams) g.select(col("doc_id"), xxhash64(col("gram")).as("gram")) else g
    }
    grams(train).as("t")
      .join(broadcast(grams(evalDocs).as("e")), col("t.gram") === col("e.gram"))
      .groupBy(col("t.doc_id").as("doc_id"), col("e.doc_id").as("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Within-document positional n-gram counts as one narrow pass:
    * (gram, occurrences-in-this-doc) pairs, d20's UDF pattern (tokenize
    * once, count in a per-doc hash map) — the explode → groupBy(doc, gram)
    * formulation shuffles the full positional gram stream just to arrive
    * at the same per-doc multiset. */
  private def gramCountUdf(n: Int) = udf { (text: String) =>
    val ws = tokenize(text)
    val m = new java.util.HashMap[String, Long]()
    var i = 0
    while (i + n <= ws.length) {
      val sb = new java.lang.StringBuilder(ws(i))
      var j = 1
      while (j < n) { sb.append(' ').append(ws(i + j)); j += 1 }
      m.merge(sb.toString, 1L, (a, b) => a + b)
      i += 1
    }
    val out = new Array[(String, Long)](m.size)
    val it = m.entrySet().iterator()
    var k = 0
    while (it.hasNext) { val e = it.next(); out(k) = (e.getKey, e.getValue); k += 1 }
    out.toSeq
  }

  /** Inter-document duplicate-span statistics (the RefinedWeb/FineWeb
    * "fraction of tokens in duplicated n-grams" dedup signal): for each
    * document, how many of its word `n`-gram positions carry a gram that
    * also appears in at least one OTHER document. Complements d20 (which
    * measures repetition WITHIN a doc) and d22 (duplication vs a fixed
    * eval set) — this is duplication against the corpus itself, the
    * signal that catches boilerplate and template text survives
    * doc-level dedup. In: (doc_id, text). Out: (doc_id, n_spans,
    * dup_spans) — integers, so cross-engine comparison is exact; callers
    * threshold dup_spans/n_spans.
    *
    * Scale: per-doc gram counts are one narrow UDF pass (no shuffle of
    * the positional token stream); the only wide work shuffles the
    * per-doc DISTINCT gram set — once to count containing docs and once
    * (exchange-reused) to join the duplicated survivors back. The
    * n_docs >= 2 filter lands on the aggregate BEFORE the join, so the
    * join's build side holds only genuinely duplicated grams (in a clean
    * corpus, a tiny fraction). A mega-hot gram is bounded by the number
    * of docs containing it, and AQE's skew-join split covers that case.
    * `hashGrams = true` is the production mode for wide grams: xxhash64
    * replaces each string gram with 8 bytes BEFORE the distinct-gram
    * shuffle and the duplicated-survivor join — span counts identical
    * modulo ~1e-19 collisions (spec-proven equal on the test corpus).
    * Default false: the driver oracle compares string grams. */
  /** Per-document positional n-gram counts — d25's NARROW half, exposed
    * on its own because it is streaming-safe (one UDF pass, no shuffle;
    * the cross-document join half of [[dupSpanStats]] is inherently
    * batch). Out: (doc_id, gram, cnt) — one row per distinct gram per
    * doc with its in-doc occurrence count. `hashGrams` replaces each
    * string gram with its xxhash64 (the production key for wide grams). */
  def docGramCounts(docs: DataFrame, n: Int = 5,
      hashGrams: Boolean = false): DataFrame = {
    require(n >= 1, "need n >= 1")
    val gc = docs
      .select(col("doc_id"), explode(gramCountUdf(n)(col("text"))).as("g"))
      .select(col("doc_id"), col("g._1").as("gram"), col("g._2").as("cnt"))
    if (hashGrams) gc.withColumn("gram", xxhash64(col("gram"))) else gc
  }

  def dupSpanStats(docs: DataFrame, n: Int = 5,
      hashGrams: Boolean = false): DataFrame = {
    require(n >= 1, "need n >= 1")
    val gc = docGramCounts(docs, n, hashGrams)
    // Document frequency via count-over-window (d19's df pattern): ONE
    // evaluation of the gram scan serves both the containing-doc count
    // and the per-doc span sums. The groupBy(gram)-then-join-back
    // formulation evaluates the expensive tokenize+count UDF scan TWICE
    // (its two subtrees prune different columns, so exchange reuse can
    // never merge them — caught in this round's executed-plan audit) and
    // re-read the full text a third time for n_spans; n_spans folds out
    // of the same rows instead (sum of positional counts == gram
    // positions == greatest(0, words - n + 1)), so the only text read
    // left is the one under the UDF. A mega-hot gram buffers its
    // (doc, cnt) rows in one window partition — the same rows the join
    // form streams through its probe side; both are bounded by the
    // number of docs containing the gram. The final groupBy(doc_id)
    // partial-aggregates map-side: at most one 24-byte row per doc per
    // gram-partition crosses the second shuffle.
    val wg = Window.partitionBy(col("gram"))
    val perDoc = gc
      .withColumn("n_docs", count(lit(1)).over(wg))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_spans"),
        sum(when(col("n_docs") >= 2, col("cnt")).otherwise(0L)).as("dup_spans"))
    // doc_id-only scan (column-pruned: no text bytes) restores gram-less
    // short docs as explicit zero rows
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))
  }

  /** The (doc_id, pos, gram) position stream shared by d62/d63: one row
    * per n-gram START position (0-based, token units), gram text under
    * the corpus lower/trim/whitespace convention. Pure Catalyst
    * (transform + slice + array_join inside codegen) — no UDF. */
  private def gramPositions(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"), posexplode(
        expr(s"transform(sequence(0, size(w) - $n), i -> array_join(slice(w, i + 1, $n), ' '))"))
        .as(Seq("pos", "gram")))

  /** Maximal cross-document duplicate-span intervals (d62) — the
    * REMOVAL step of exact substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): where
    * d25 reports per-doc duplicate-span COUNTS, this emits the actual
    * token intervals to cut — every maximal run of positions whose word
    * `n`-gram also appears in ANOTHER document, overlapping/adjacent
    * gram hits merged (consecutive hit positions p, q chain while
    * q - p <= n). In: (doc_id, text). Out: (doc_id, span_start,
    * span_end, n_dup_grams) — token-position interval [start, end]
    * inclusive, 0-based, plus the number of duplicated gram positions
    * it merges. Integer outputs, so the gate is hash-exact.
    *
    * Scale: the gram position stream is a narrow explode; the
    * cross-doc document-frequency pass shuffles the DISTINCT
    * (doc, gram) set once keyed by gram (d19's count-over-window
    * pattern — a mega-hot gram buffers rows bounded by its containing-
    * doc count); hit positions re-attach by (doc_id, gram); the
    * interval merge is a lag/sum gaps-and-islands window PARTITIONED
    * PER DOC (ordered by an int within one document — never a corpus
    * sort). At 100 TB, hash the gram strings to 8 bytes before the
    * shuffles (the d22/d25 `hashGrams` trade) — gram content is only
    * ever compared for equality. */
  def dupSpanIntervals(docs: DataFrame, n: Int = 5,
      hashGrams: Boolean = false): DataFrame = {
    require(n >= 1, "need n >= 1")
    dupSpanIslands(docs, n, hashGrams)
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast(LongType).as("span_start"),
        (max(col("pos")) + (n - 1)).cast(LongType).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_dup_grams"))
  }

  /** The char-granularity sibling of [[gramPositions]]: one row per
    * CHARACTER start position over the whitespace-collapsed lowercase
    * text (`lower(trim())` + `\s+` → single space — so a
    * whitespace-variant copy of a passage produces the identical char
    * stream, matching what word tokenization gives the word path).
    * Positions are 0-based char offsets into that normalized string.
    * Pure Catalyst (transform + substring inside codegen) — no UDF. */
  private def charGramPositions(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), charNormText(col("text")).as("t"))
      .where(length(col("t")) >= n)
      .select(col("doc_id"), posexplode(
        expr(s"transform(sequence(0, length(t) - $n), i -> substring(t, i + 1, $n))"))
        .as(Seq("pos", "gram")))

  /** The char path's normalization convention, shared with the scrub
    * rebuild (positions must index the SAME string the grams hashed). */
  private def charNormText(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** (doc_id, pos, island) for every duplicated-gram position — the
    * shared core of d62 (interval aggregation) and d63 (scrub), and of
    * their char-granularity siblings d121/d122 (which feed the char
    * position stream through the same df/semi-join/islands machinery —
    * `n` then chains in char units). */
  private def dupSpanIslands(docs: DataFrame, n: Int,
      hashGrams: Boolean): DataFrame =
    dupSpanIslandsFrom(gramPositions(docs, n), n, hashGrams)

  private def dupSpanIslandsFrom(pos0: DataFrame, n: Int,
      hashGrams: Boolean): DataFrame = {
    val pos = if (hashGrams) pos0.withColumn("gram", xxhash64(col("gram"))) else pos0
    // the cross-doc dup-gram SET (gram only): distinct (doc, gram) once,
    // containing-doc count via partial-aggregated groupBy. Position rows
    // then attach by a gram-only LEFT SEMI join — the dup-gram set is the
    // small side by construction (only grams repeated across documents),
    // so AQE broadcasts it and the position stream never shuffles; the
    // (doc_id, gram) equi-join formulation shuffled the full position
    // stream by a wide string key for the same row set (measured 16.6 s
    // with the former ScaleSmoke harness — the df pass dominates d62).
    val dupGrams = pos.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .select(col("gram"))
    val hits = pos.join(dupGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wd) > n, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), col("pos"), col("island"))
  }

  /** Duplicate-span-scrubbed corpus (d63): rebuild each document's text
    * with every token covered by a d62 interval removed — the second
    * half of Lee-et-al exact substring dedup (cut the repeated passage
    * everywhere, keep the surrounding prose; pair with d57/d06 which
    * drop WHOLE documents). Tokens are the lower/trim/whitespace
    * convention, output re-joined single-spaced; a fully-duplicated
    * document survives as an empty string (one row per input doc — "all
    * cut" and "absent" are different facts). In: (doc_id, text). Out:
    * (doc_id, clean_text, n_kept_tokens).
    *
    * Scale: covered positions explode from the interval hits (bounded
    * by dup-gram positions x n); the rebuild is one anti-join on
    * (doc_id, pos) plus a per-doc sorted re-aggregation — shuffles
    * keyed by doc_id, per-doc cost bounded by document length, never a
    * global sort. */
  def dedupScrub(docs: DataFrame, n: Int = 5,
      hashGrams: Boolean = false): DataFrame = {
    require(n >= 1, "need n >= 1")
    val toks = docs
      .select(col("doc_id"), posexplode(split(lower(trim(col("text"))), "\\s+"))
        .as(Seq("p", "tok")))
    val covered = dupSpanIslands(docs, n, hashGrams)
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${n - 1})")).as("p"))
      .distinct()
    val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        expr("array_join(transform(array_sort(collect_list(struct(p, tok))), x -> x.tok), ' ')")
          .as("clean_text"),
        count(lit(1)).as("n_kept_tokens"))
    docs.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept_tokens"), lit(0L)).as("n_kept_tokens"))
  }

  /** Char-granularity duplicate-span intervals (d121) — Lee et al.
    * 2022's PUBLISHED granularity: the paper's ExactSubstr removes
    * duplicated ~50-BYTE character sequences, which catches duplication
    * word grams structurally miss — shared passages shorter than the
    * word-gram span (4 long words can exceed 30 chars), and copies
    * whose word boundaries differ (a dropped space fuses two tokens, so
    * no 5 consecutive WORDS match while a long char run still does).
    * Same machinery as d62 — cross-doc gram document-frequency, semi
    * join, per-doc gaps-and-islands merge — over the char position
    * stream; `n` is in CHARS (default 30: the sweet spot below the
    * paper's 50 for shorter synthetic docs, far above accidental-match
    * length). Out: (doc_id, span_start, span_end, n_dup_grams) — CHAR
    * offsets (0-based inclusive) into the whitespace-collapsed
    * lowercase text.
    *
    * Scale: identical shape to d62 (the position stream is ~1 row per
    * text char — bigger than the word stream by the chars-per-word
    * factor, but still a narrow explode that never carries text bytes
    * after hashing). `hashGrams = true` is the production mode: an
    * 8-byte xxhash64 replaces every n-char gram BEFORE the distinct and
    * the semi join, so no shuffle carries n-char strings. Registered
    * un-hashed so the DuckDB oracle replays gram equality verbatim. */
  def dupSpanIntervalsChars(docs: DataFrame, n: Int = 30,
      hashGrams: Boolean = false): DataFrame = {
    require(n >= 2, "need n >= 2 chars")
    dupSpanIslandsFrom(charGramPositions(docs, n), n, hashGrams)
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast(LongType).as("span_start"),
        (max(col("pos")) + (n - 1)).cast(LongType).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_dup_grams"))
  }

  /** Char-granularity scrub (d122) — cut every d121 interval out of the
    * normalized text. Where d63 rebuilds from surviving TOKENS via an
    * anti-join, the char rebuild avoids a per-CHARACTER explode of the
    * corpus: the merged intervals are disjoint and sorted (islands
    * break at gaps > n, so consecutive spans cannot touch), so each doc
    * is rebuilt in ONE pass by folding its own bounded interval list
    * with a higher-order `aggregate` — keep [cursor, start), jump the
    * cursor to end+1, append the tail. Out: (doc_id, clean_text,
    * n_kept_chars), one row per input doc; a fully-duplicated doc
    * survives as an empty string (d63's convention); clean_text is in
    * the char path's normalized space (lowercase, single-spaced).
    *
    * Scale: d121's stream plus one doc_id-keyed aggregation of the
    * interval list (rows = spans per doc, bounded) and one id-keyed
    * join back to the text — the rebuild itself is narrow per-row
    * expression work, never a corpus sort, never a char-level shuffle. */
  def dedupScrubChars(docs: DataFrame, n: Int = 30,
      hashGrams: Boolean = false): DataFrame = {
    require(n >= 2, "need n >= 2 chars")
    val t = docs.select(col("doc_id"), charNormText(col("text")).as("t"))
    val spans = dupSpanIntervalsChars(docs, n, hashGrams)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e")))).as("iv"))
    t.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(
          when(col("iv").isNull, col("t")).otherwise(expr(
            """aggregate(iv, struct(CAST(0 AS BIGINT) AS cur, '' AS acc),
              |  (a, x) -> struct(x.e + CAST(1 AS BIGINT) AS cur,
              |    concat(a.acc, substring(t, CAST(a.cur + 1 AS INT), CAST(x.s - a.cur AS INT))) AS acc),
              |  a -> concat(a.acc, substring(t, CAST(a.cur + 1 AS INT), CAST(length(t) - a.cur AS INT))))"""
              .stripMargin)),
          lit("")).as("clean_text"))
      .select(col("doc_id"), col("clean_text"),
        length(col("clean_text")).cast(LongType).as("n_kept_chars"))
  }

  /** Line-level boilerplate removal (d95) — the CCNet/C4 pre-dedup
    * stage (Wenzek et al. 2020 dedup paragraphs by hash across shards;
    * Raffel et al. 2020 drop boilerplate lines): split each document
    * into lines, count each distinct non-blank line's DOCUMENT frequency
    * across the corpus, drop every occurrence of lines appearing in more
    * than `maxDocFreq` documents (headers, nav bars, cookie banners —
    * content that repeats across pages is template, not prose), and
    * rebuild each document from its surviving lines in original order.
    * Blank lines carry document structure, not content, and are always
    * kept; a fully-boilerplate document survives as an empty string (one
    * row per input doc — d63's convention). Runs BEFORE document-level
    * dedup in real pipelines: boilerplate inflates every doc-level
    * similarity signal. In: (doc_id, text). Out: (doc_id, clean_text,
    * n_kept_lines, n_dropped_lines).
    *
    * Scale: one narrow line explode; the doc-frequency aggregation
    * shuffles the DISTINCT (doc, line) set at distinct-line width (cap
    * the key by hashing lines — the d06 `hashGrams` trade — when line
    * text is wide); the drop is a left-anti equi-join against only the
    * above-threshold lines (a tiny frame — boilerplate is by definition
    * few distinct strings — so it broadcasts); the rebuild is d63's
    * per-doc sorted re-aggregation, keyed by doc_id, never a global
    * sort. */
  def boilerplateScrub(docs: DataFrame, maxDocFreq: Long = 2): DataFrame =
    boilerplateScrubFrom(docs, lineDocFreq(docs), maxDocFreq)

  /** d95's counting half on its own: distinct-DOCUMENT frequency of
    * every non-blank line, keyed by the line's md5 (the scrub joins on
    * the hash, so wide line text never shuffles twice — the d06
    * `hashGrams` trade applied to lines). Out: (line_hash, df). This is
    * also the per-batch fact [[LineIndex]] persists: df is additive
    * across document-disjoint batches. */
  def lineDocFreq(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .where(trim(col("line")) =!= "")
      .select(col("doc_id"), md5(col("line")).as("line_hash")).distinct()
      .groupBy(col("line_hash")).agg(count(lit(1)).as("df"))

  /** The d95 scrub over a CALLER-SUPPLIED (line_hash, df) frame — the
    * open seam [[LineIndex.scrubAgainst]] serves from a persisted index
    * (the d82/d39 pattern: don't recount a 100 TB corpus's lines per
    * arriving batch; read the frozen additive counts). */
  def boilerplateScrubFrom(docs: DataFrame, lineDf: DataFrame,
      maxDocFreq: Long = 2): DataFrame = {
    require(maxDocFreq >= 1, "need maxDocFreq >= 1")
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("p", "line")))
    val boiler = lineDf.where(col("df") > maxDocFreq).select(col("line_hash"))
    val kept = lines
      .join(broadcast(boiler), md5(col("line")) === col("line_hash"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("p"), col("line")))),
            x => x.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("n_kept_lines"))
    docs.select(col("doc_id"),
        size(split(col("text"), "\n")).cast(LongType).as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept_lines"), lit(0L)).as("n_kept_lines"),
        (col("n_lines") - coalesce(col("n_kept_lines"), lit(0L)))
          .as("n_dropped_lines"))
  }

  /** Corpus-wide paragraph-level exact dedup (d98) — CCNet's actual
    * first stage (Wenzek et al. 2020 drop repeated paragraphs by hash,
    * keeping one copy): every repeated paragraph keeps ONLY its first
    * occurrence in (doc_id, position) order; later occurrences are cut
    * and each document is rebuilt from its surviving paragraphs in
    * order. Unlike d95 (drop ALL occurrences above a doc-frequency
    * threshold), this is dedup — exactly one copy survives. Blank
    * paragraphs are structural and always kept; a document that was all
    * repeats survives as an empty string. `sep` is a LITERAL separator
    * ("\n\n" for real paragraphs; the gate uses "\n" over the planted
    * multi-line fixture). In: (doc_id, text). Out: (doc_id, clean_text,
    * n_kept_paras, n_dropped_paras).
    *
    * Scale: one narrow explode; the first-occurrence rule is a
    * struct-min aggregation keyed by paragraph (distinct-paragraph-
    * width shuffle — hash the key via the d06 trade when paragraphs
    * are wide), an equi-join back, and d63's doc-keyed ordered rebuild
    * — never a corpus-wide sort or unpartitioned window. */
  def paragraphDedup(docs: DataFrame, sep: String = "\n\n"): DataFrame = {
    val splitter = java.util.regex.Pattern.quote(sep)
    val paras = docs.select(col("doc_id"),
      posexplode(split(col("text"), splitter)).as(Seq("p", "para")))
    val firsts = paras.where(trim(col("para")) =!= "")
      .groupBy(col("para"))
      .agg(min(struct(col("doc_id"), col("p"))).as("first"))
    val kept = paras.join(firsts, Seq("para"), "left")
      .where(col("first").isNull ||
        struct(col("doc_id"), col("p")) === col("first"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("p"), col("para")))),
            x => x.getField("para")), sep).as("clean_text"),
        count(lit(1)).as("n_kept_paras"))
    docs.select(col("doc_id"),
        size(split(col("text"), splitter)).cast(LongType).as("n_paras"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept_paras"), lit(0L)).as("n_kept_paras"),
        (col("n_paras") - coalesce(col("n_kept_paras"), lit(0L)))
          .as("n_dropped_paras"))
  }

  /** The d95 gate fixture: the driver's `documents` are single-line, so
    * the gate corpus is derived IN the query — each text reflowed into
    * 10-token lines and wrapped in a shared header/footer line. The
    * planted wrapper has document frequency = corpus size (must drop
    * everywhere); body lines inherit their text's true document
    * frequency (exact-duplicate docs' lines cross the threshold
    * honestly). The oracle replays the identical construction. */
  /** Unicode NFC normalization pass (d99) — the ftfy-class cleanup a
    * pipeline runs BEFORE any exact-hash operator: byte-different
    * encodings of the same characters (combining sequences vs
    * precomposed) defeat d01/d95/d98 and every persisted hash index, so
    * text canonicalizes first. Normalization is the codegen'd native
    * `nfc_normalize` expression (java.text.Normalizer; DuckDB's
    * utf8proc-backed nfc_normalize computes the identical composition —
    * the d99 gate). `changed` marks documents the pass actually
    * rewrote; char counts quantify the shrink (combining sequences
    * compose to single code points — both engines count code points).
    * In: (doc_id, text). Out: (doc_id, norm_text, changed,
    * n_chars_before, n_chars_after).
    *
    * Scale: a pure narrow codegen'd projection — no shuffle, no UDF
    * boundary, streaming-safe; the already-NFC fast path returns the
    * input without allocating. */
  def unicodeNormalize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
        call_function("nfc_normalize", col("text")).as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        (col("norm_text") =!= col("text")).as("changed"),
        length(col("text")).cast(LongType).as("n_chars_before"),
        length(col("norm_text")).cast(LongType).as("n_chars_after"))

  /** Composed text-cleanup pipeline (d100): [[unicodeNormalize]] →
    * [[boilerplateScrub]] → [[paragraphDedup]] chained as one frame —
    * the canonical pre-dedup cleanup order (canonicalize bytes FIRST so
    * the hash-based stages see one encoding per text; drop template
    * lines; then collapse repeated paragraphs to their first
    * occurrence). Each stage is the individually-gated operator; the
    * composition is gated as ONE query (the d54 pattern), which
    * adjudicates the stage WIRING — column renames, empty-doc rows
    * surviving two rebuilds, order preservation — not just each stage.
    * In: (doc_id, text). Out: [[paragraphDedup]]'s schema. */
  def cleanPipeline(docs: DataFrame, maxDocFreq: Long = 2,
      sep: String = "\n"): DataFrame = {
    val normed = unicodeNormalize(docs)
      .select(col("doc_id"), col("norm_text").as("text"))
    val scrubbed = boilerplateScrub(normed, maxDocFreq)
      .select(col("doc_id"), col("clean_text").as("text"))
    paragraphDedup(scrubbed, sep)
  }

  /** The shared oracle CTEs for the planted-boilerplate fixture family
    * (d95/d97/d98): replay [[plantedBoilerplate]]'s construction and
    * expose the (doc_id, p, line) stream as `lr` plus the wrapped docs
    * as `d2`. */
  private[ops] val BoilerplateFixtureCtes: String =
    """t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |d2 AS (
      |  SELECT doc_id,
      |    '=== BOILER HEADER ===' || chr(10) ||
      |    array_to_string(
      |      list_transform(range(0, CAST(ceil(len(toks) / 10.0) AS INT)),
      |        i -> array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' ')),
      |      chr(10)) ||
      |    chr(10) || '=== BOILER FOOTER ===' AS text
      |  FROM t),
      |l AS (
      |  SELECT doc_id, ls, unnest(range(len(ls))) AS p
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d2)),
      |lr AS (SELECT doc_id, p, ls[p + 1] AS line FROM l)""".stripMargin

  /** The d95 oracle (reused verbatim by d97's index-served gate — the
    * served scrub must reproduce the direct computation exactly). */
  private[ops] val BoilerplateOracle: String =
    s"""WITH $BoilerplateFixtureCtes,
      |b AS (
      |  SELECT line FROM (SELECT DISTINCT doc_id, line FROM lr WHERE trim(line) <> '')
      |  GROUP BY line HAVING count(*) > 2),
      |kept AS (
      |  SELECT lr.doc_id, lr.p, lr.line
      |  FROM lr LEFT JOIN b ON lr.line = b.line
      |  WHERE b.line IS NULL),
      |agg AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS clean_text,
      |         CAST(count(*) AS BIGINT) AS n_kept_lines
      |  FROM kept GROUP BY doc_id),
      |nl AS (
      |  SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
      |  FROM d2)
      |SELECT n.doc_id, coalesce(a.clean_text, '') AS clean_text,
      |       coalesce(a.n_kept_lines, CAST(0 AS BIGINT)) AS n_kept_lines,
      |       n.n_lines - coalesce(a.n_kept_lines, CAST(0 AS BIGINT)) AS n_dropped_lines
      |FROM nl n LEFT JOIN agg a USING (doc_id)""".stripMargin

  private[graft] def plantedBoilerplate(docs: DataFrame): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val nLines = ceil(size(toks) / lit(10.0)).cast(IntegerType)
    docs.select(col("doc_id"),
      concat_ws("\n",
        lit("=== BOILER HEADER ==="),
        array_join(
          transform(sequence(lit(0), nLines - 1),
            i => array_join(slice(toks, i * lit(10) + lit(1), lit(10)), " ")),
          "\n"),
        lit("=== BOILER FOOTER ===")).as("text"))
  }

  /** Pack documents into contiguous fixed-token-budget shards in doc_id
    * order — the "split the corpus into training shards" step. Each doc
    * is assigned the shard where it STARTS in the concatenated token
    * stream: shard_id = (tokens before it) div budget. In: (doc_id,
    * text). Out: (doc_id, n_tokens, shard_id). Token counts match d02's
    * whitespace semantics.
    *
    * Scale: the textbook formulation is a running sum over
    * `Window.orderBy(doc_id)` with no partitioning — ONE task sorting the
    * whole corpus. This is instead a distributed prefix sum: range-shuffle
    * by doc_id into `partitions` explicitly-sized slices (an explicit
    * count, so AQE never re-coalesces and the slice ids the two passes
    * see are identical), aggregate one token total per slice (the only
    * driver-side materialization — `partitions` longs, same bounded-
    * collect class as d17's K centroids), turn those into per-slice start
    * offsets, and add each row's slice-local running sum. The ranged
    * 16-byte projection is pinned with `localCheckpoint()` so the offsets
    * pass and the output pass read ONE materialization: Spark's
    * RangePartitioner seeds its reservoir sampler per-execution (from the
    * RDD id), so re-running the exchange may draw DIFFERENT range bounds
    * once partitions exceed the sample size — boundary rows would then
    * get another slice's start offset. Pinning makes slice identity
    * structural, not sampler-behavioral; the pinned data is only
    * (doc_id, n_tokens, pid), MEMORY_AND_DISK, never the corpus. */
  def packShards(docs: DataFrame, budget: Long = 2048, partitions: Int = 0): DataFrame = {
    require(budget > 0, "need budget > 0")
    val s = docs.sparkSession
    val n = if (partitions > 0) partitions else s.sparkContext.defaultParallelism
    val parted = docs
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast(LongType).as("n_tokens"))
      .repartitionByRange(n, col("doc_id"))
      .select(col("doc_id"), col("n_tokens"), spark_partition_id().as("pid"))
      .localCheckpoint()
    val totals = parted.groupBy(col("pid")).agg(sum(col("n_tokens")).as("tot"))
      .collect().sortBy(_.getInt(0))
    var acc = 0L
    val offsets = totals.map { r =>
      val e = (r.getInt(0), acc); acc += r.getLong(1); e
    }
    val offsetOf = map(offsets.toSeq.flatMap {
      case (pid, off) => Seq(lit(pid), lit(off)) }: _*)
    val local = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    parted
      .withColumn("start",
        element_at(offsetOf, col("pid")) +
          coalesce(sum(col("n_tokens")).over(local), lit(0L)))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"start div $budget").as("shard_id"))
  }

  /** [[Corpus.chunkWindows]] then [[packShards]] over the CHUNKS — the
    * realistic pretraining layout, where the packing unit is a
    * context-window chunk rather than a whole document. Chunks ride
    * through the packer under a reversible composite id
    * (doc_id * maxChunksPerDoc + chunk_id, decomposed on the way out;
    * requires doc_id * maxChunksPerDoc to fit a long — at realistic ids
    * and window/stride this holds by orders of magnitude). The span
    * scalar costs one extra narrow aggregate over the chunk counts; the
    * packing itself inherits packShards' distributed-prefix-sum shape,
    * ordered by (doc_id, chunk_id) via the composite key.
    * Reads: doc_id, text. Out: doc_id, chunk_id, n_tokens, shard_id. */
  def packChunkShards(docs: DataFrame, window: Int = 64, stride: Int = 32,
      budget: Long = 2048, partitions: Int = 0): DataFrame = {
    val chunks = Corpus.chunkWindows(docs, window, stride)
    // one scalar aggregate: the per-doc chunk-id span, making the
    // composite id collision-free without assuming a chunk cap
    val maxRow = chunks.agg(max(col("chunk_id"))).head()
    val m = if (maxRow.isNullAt(0)) 1L else maxRow.getLong(0) + 1L
    packShards(
        chunks.select((col("doc_id") * m + col("chunk_id")).as("doc_id"),
          col("chunk_text").as("text")),
        budget, partitions)
      .select(expr(s"doc_id DIV $m").as("doc_id"),
        pmod(col("doc_id"), lit(m)).as("chunk_id"),
        col("n_tokens"), col("shard_id"))
  }

  /** Token-budget-constrained corpus selection (d105) — the greedy
    * knapsack every "train on the best N tokens" decision reduces to:
    * rank documents by a quality score (here d02/d04's stopword ratio —
    * swap in d64's learned classifier or d44's perplexity terciles via
    * the same ordering seam) and keep the prefix whose cumulative token
    * count stays within `budget`. Greedy-by-density is the optimal
    * fractional-knapsack rule and the standard corpus practice. In:
    * (doc_id, text). Out: (doc_id, n_tokens, score, cum_tokens) for
    * SELECTED docs only — cum_tokens is the inclusive running total
    * under (score DESC, doc_id), so max(cum_tokens) <= budget is the
    * audit invariant.
    *
    * Scale: [[packShards]]' distributed-prefix-sum shape pointed at a
    * quality order instead of doc_id — range-shuffle by (score DESC,
    * doc_id) into explicitly-sized pinned slices, one token total per
    * slice to the driver (`partitions` longs), per-slice window sums on
    * top of the slice start offsets. No corpus-wide single-task sort
    * anywhere; the budget cut is a codegen'd filter. */
  def budgetSelect(docs: DataFrame, budget: Long = 10000L,
      partitions: Int = 0): DataFrame = {
    require(budget > 0, "need budget > 0")
    val s = docs.sparkSession
    val n = if (partitions > 0) partitions else s.sparkContext.defaultParallelism
    val scored = TextOps.qualityScore(docs)
      .select(col("doc_id"), col("n_tokens"),
        col("stopword_ratio").as("score"))
    val parted = scored
      .repartitionByRange(n, col("score").desc, col("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        spark_partition_id().as("pid"))
      .localCheckpoint()
    val totals = parted.groupBy(col("pid")).agg(sum(col("n_tokens")).as("tot"))
      .collect().sortBy(_.getInt(0))
    var acc = 0L
    val offsets = totals.map { r =>
      val e = (r.getInt(0), acc); acc += r.getLong(1); e
    }
    val offsetOf = map(offsets.toSeq.flatMap {
      case (pid, off) => Seq(lit(pid), lit(off)) }: _*)
    val local = Window.partitionBy(col("pid"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted
      .withColumn("cum_tokens",
        element_at(offsetOf, col("pid")) + sum(col("n_tokens")).over(local))
      .where(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("n_tokens"), col("score"), col("cum_tokens"))
  }

  /** Training-shard integrity manifest (d109) — the checksummed summary
    * a training job (or a reproducibility audit) verifies before
    * reading a packed corpus: per shard, the doc/token mass, the id
    * range, and an ORDER-INDEPENDENT content checksum
    * (md5 of the sorted per-doc md5s — any writer that shuffles rows
    * within a shard still produces the same manifest, while a single
    * flipped byte anywhere changes it). In: (doc_id, text). Out:
    * (shard_id, n_docs, n_tokens, min_doc_id, max_doc_id, content_md5).
    *
    * Scale: [[packShards]]' distributed prefix sum assigns shards; the
    * manifest is one shard-keyed aggregation whose only wide state is
    * the sorted hash list per shard — bounded by shard size, which the
    * token budget bounds by construction. */
  def shardManifest(docs: DataFrame, budget: Long = 2048,
      partitions: Int = 0): DataFrame =
    packShards(docs, budget, partitions)
      .join(docs.select(col("doc_id"), md5(col("text")).as("h")), Seq("doc_id"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        md5(concat_ws("", array_sort(collect_list(col("h"))))).as("content_md5"))

  /** Manifest verification (d115) — [[shardManifest]]'s audit
    * companion: recompute the manifest from the corpus as it exists NOW
    * and diff it against a STORED manifest, classifying every shard —
    * `ok` (checksums and counts agree), `mismatch` (content drifted:
    * corruption, a silent rewrite, nondeterministic upstream),
    * `missing` (manifested but no longer derivable), `extra` (derived
    * but never manifested — the corpus grew). The pre-flight check a
    * training job runs against the manifest its data release shipped.
    * In: (doc_id, text) + a [[shardManifest]]-shaped frame. Out:
    * (shard_id, status, expected_md5, actual_md5).
    *
    * Scale: one fresh manifest pass plus a full-outer join on the
    * unique shard_id key (shard-count-sized — thousands of rows where
    * the corpus is billions). */
  def verifyManifest(docs: DataFrame, manifest: DataFrame, budget: Long = 2048,
      partitions: Int = 0): DataFrame = {
    val fresh = shardManifest(docs, budget, partitions)
      .select(col("shard_id"), col("n_docs").as("a_docs"),
        col("n_tokens").as("a_tokens"), col("content_md5").as("actual_md5"))
    val stored = manifest
      .select(col("shard_id"), col("n_docs").as("e_docs"),
        col("n_tokens").as("e_tokens"), col("content_md5").as("expected_md5"))
    stored.join(fresh, Seq("shard_id"), "full_outer")
      .select(col("shard_id"),
        when(col("actual_md5").isNull, lit("missing"))
          .when(col("expected_md5").isNull, lit("extra"))
          .when(col("expected_md5") === col("actual_md5") &&
            col("e_docs") === col("a_docs") && col("e_tokens") === col("a_tokens"),
            lit("ok"))
          .otherwise(lit("mismatch")).as("status"),
        col("expected_md5"), col("actual_md5"))
  }

  /** Split-leakage audit (d110) — the check every held-out evaluation
    * silently depends on: near-duplicate pairs (d06's exact-verified
    * J >= 0.8) whose members landed in DIFFERENT deterministic splits
    * (d69's md5-coin assignment). A val/test doc with a train-side
    * near-copy inflates every metric computed on it; this surfaces
    * exactly those pairs, flagging byte-identical leaks (`exact`).
    * In: (doc_id, text). Out: (doc_a, doc_b, split_a, split_b,
    * inter_size, union_size, exact).
    *
    * Scale: inherits d06's banded-LSH candidate shape (never
    * all-pairs); the split attach is two id-keyed joins against the
    * 2-column assignment frame. */
  def splitLeakage(docs: DataFrame, valPct: Int = 10,
      testPct: Int = 10): DataFrame = {
    val splits = hashSplit(docs, valPct, testPct)
      .select(col("doc_id"), col("split"))
    val hashes = docs.select(col("doc_id"), md5(col("text")).as("h"))
    Similarity.nearDupPairs(docs)
      .join(splits.toDF("doc_a", "split_a"), Seq("doc_a"))
      .join(splits.toDF("doc_b", "split_b"), Seq("doc_b"))
      .where(col("split_a") =!= col("split_b"))
      .join(hashes.toDF("doc_a", "ha"), Seq("doc_a"))
      .join(hashes.toDF("doc_b", "hb"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        col("inter_size"), col("union_size"), (col("ha") === col("hb")).as("exact"))
  }

  /** Cluster-safe split assignment (d114) — the FIX for what
    * [[splitLeakage]] detects: derive every document's split from its
    * near-dup CLUSTER representative (the component's min doc_id; the
    * doc itself when unclustered) instead of its own id, so an entire
    * near-dup cluster lands in one split by construction and the d110
    * audit returns zero rows on the result. Same md5-coin determinism
    * as [[hashSplit]] — stable under corpus growth, and adding a new
    * near-copy of an existing doc lands it in the EXISTING doc's split.
    * In: (doc_id, text). Out: (doc_id, rep_id, bucket, split).
    *
    * The (doc_id, cluster_id) frame is CALLER-SUPPLIED — the driver
    * binding feeds it the memoized d14 components (and a production
    * pipeline feeds it its already-computed clustering).
    *
    * Scale: d14's cluster machinery (banded-LSH pairs, union-find
    * contraction) plus one id-keyed left join and a narrow coin
    * projection. */
  private[graft] def clusterSafeSplitFrom(docs: DataFrame, clusters: DataFrame,
      valPct: Int = 10, testPct: Int = 10): DataFrame = {
    require(valPct >= 0 && testPct >= 0 && valPct + testPct <= 100,
      "need 0 <= valPct + testPct <= 100")
    val rep = docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("rep_id"))
    val bucket = (conv(substring(md5(col("rep_id").cast(StringType)), 1, 8),
      16, 10).cast(LongType) % 100).as("bucket")
    rep.select(col("doc_id"), col("rep_id"), bucket)
      .withColumn("split",
        when(col("bucket") < testPct, "test")
          .when(col("bucket") < testPct + valPct, "validation")
          .otherwise("train"))
  }

  /** Per-source token-budget selection (d108) — the per-domain cap real
    * pipelines apply ("at most B tokens of CommonCrawl, best first"):
    * [[budgetSelect]]'s greedy rule run independently inside every
    * source. Completes the selection matrix with d84 (per-stratum
    * best-K by COUNT) and d105 (global token budget). In: (doc_id,
    * text, source). Out: (doc_id, source, n_tokens, score, cum_tokens)
    * for selected docs; cum_tokens is the inclusive running total
    * WITHIN the source under (score DESC, doc_id).
    *
    * Scale: the naive per-source window sort makes one task carry the
    * largest source — and real corpora have a source holding half the
    * tokens. Instead the range exchange orders by (source, score DESC,
    * doc_id), so a big source SPANS slices; the driver sees one token
    * total per (slice, source) — #slices × #sources bounded rows — and
    * accumulates per-source start offsets across slices, broadcast back
    * as a tiny join. Window sums then run per (slice, source): bounded
    * by slice width, never by source width. */
  def sourceBudgetSelect(docs: DataFrame, budget: Long = 5000L,
      partitions: Int = 0): DataFrame = {
    require(budget > 0, "need budget > 0")
    val s = docs.sparkSession
    val n = if (partitions > 0) partitions else s.sparkContext.defaultParallelism
    val base = docs.select(col("doc_id"), col("source"))
      .join(TextOps.qualityScore(docs)
        .select(col("doc_id"), col("n_tokens"), col("stopword_ratio").as("score")),
        Seq("doc_id"))
    val parted = base
      .repartitionByRange(n, col("source"), col("score").desc, col("doc_id"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("score"),
        spark_partition_id().as("pid"))
      .localCheckpoint()
    val totals = parted.groupBy(col("pid"), col("source"))
      .agg(sum(col("n_tokens")).as("tot")).collect()
    val offsetRows: Seq[(Int, String, Long)] = totals
      .groupBy(_.getString(1)).toSeq.flatMap { case (_, rows) =>
        var acc = 0L
        rows.sortBy(_.getInt(0)).map { r =>
          val e = (r.getInt(0), r.getString(1), acc); acc += r.getLong(2); e
        }
      }
    import s.implicits._
    val offsets = offsetRows.toDF("pid", "source", "off")
    val local = Window.partitionBy(col("pid"), col("source"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted.join(broadcast(offsets), Seq("pid", "source"))
      .withColumn("cum_tokens", col("off") + sum(col("n_tokens")).over(local))
      .where(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("score"),
        col("cum_tokens"))
  }

  /** Domain-mix sampling weights — the static data-mixing step behind
    * Pile-style corpus weighting (Gao et al. 2020) and DoReMi-style
    * reweighting applied at its simplest: given the corpus' realized
    * token mass per cell (a cell = one combination of `dims`, e.g.
    * lang × source), the per-cell sampling multiplier that would hit a
    * target token distribution. Default target is uniform across cells:
    * weight = total_tokens / (n_cells * n_tokens) — cells above their
    * share get weight < 1 (downsample), below get > 1 (upsample).
    * `targets` overrides with explicit fractions: a small frame of
    * (dims..., target_frac) broadcast-joined in, weight =
    * target_frac * total_tokens / n_tokens. Token counts match d02/d23's
    * whitespace semantics. Out: (dims..., n_docs, n_tokens, weight).
    *
    * Scale: ONE corpus scan and ONE partial-aggregated shuffle whose key
    * cardinality is the cell count (dozens-to-thousands at any corpus
    * size — lang × source is bounded by the crawl's structure, not its
    * bytes). The CELLS frame is cache()d and the grand totals come from
    * a 1-row `agg` of it, broadcast-cross-joined back — the cache makes
    * the totals read |cells| cached rows instead of re-running the
    * corpus scan (the two aggregates differ, so exchange reuse could
    * not merge them), and unlike the previous unpartitioned-window
    * form there is NO single-task pass over all cells: a caller passing
    * a high-cardinality dim (say a URL host) degrades to a parallel
    * aggregation, not a one-task bottleneck. The weight is one double
    * division of exact integer aggregates, so it is cross-engine
    * exact.
    *
    * Cache lifetime and REUSE SEMANTICS: the cells cache() entry
    * (|cells| rows — KBs) is registered in a bounded FIFO registry (see
    * [[MaxCachedCellFrames]]): a repeat call over the same input plan
    * REUSES it, so d29/d31 built over the same docs read cells warm (the
    * bench marks the d26/d29/d31 bindings memoized for this reason), and
    * a caller looping over many DISTINCT inputs evicts oldest-first
    * instead of accumulating entries until session stop. Reuse is by
    * PLAN, not by data: if the files under the same path change between
    * calls (a parquet append, an overwrite), the cached cells are STALE
    * — call [[evictCellCaches]] (or `spark.catalog.clearCache()`) after
    * mutating an input a previous call aggregated. */
  def mixWeights(docs: DataFrame, dims: Seq[String] = Seq("lang", "source"),
      targets: Option[DataFrame] = None): DataFrame = {
    require(dims.nonEmpty, "need at least one mix dimension")
    val cells = cacheCells(docs
      .groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), "\\s+")).cast(LongType)).as("n_tokens")))
    val totals = cells.agg(
      sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_cells"))
    val withTotals = cells.crossJoin(broadcast(totals))
    val weighted = targets match {
      case None =>
        withTotals.withColumn("weight", col("total_tokens").cast(DoubleType) /
          (col("n_cells") * col("n_tokens")).cast(DoubleType))
      case Some(t) =>
        // LEFT join: a cell absent from `targets` surfaces as an
        // explicit weight-0 row (and 0 copies under applyMix) instead of
        // silently vanishing from the assembled mix
        withTotals.join(broadcast(t), dims, "left")
          .withColumn("weight",
            coalesce(col("target_frac"), lit(0.0)) *
              col("total_tokens").cast(DoubleType) /
              col("n_tokens").cast(DoubleType))
    }
    weighted.select(dims.map(col) ++
      Seq(col("n_docs"), col("n_tokens"), col("weight")): _*)
  }

  /** Cap on concurrently-cached [[mixWeights]] cells frames per process.
    * Each entry is tiny (|cells| rows — KBs), so the cap guards entry
    * COUNT (a caller sweeping hundreds of distinct inputs in one
    * session), not bytes. */
  private[graft] val MaxCachedCellFrames = 16

  /** Insertion-ordered registry of the cells frames [[mixWeights]] has
    * cache()d, keyed by (session, canonicalized plan) — the canonicalized
    * LogicalPlan OBJECT, whose structural equality is what CacheManager's
    * sameResult dedup compares (a string key would be lossy: LocalRelation
    * prints its schema but not its data, so distinct in-memory inputs
    * would collide). Mirroring that dedup keeps the registry's count
    * honest, and bounds it: beyond [[MaxCachedCellFrames]] the OLDEST
    * frame is unpersisted (recompute cost = one cells aggregation).
    * Session-stop eviction drops the stopped session's keys. */
  private val cellCache =
    new java.util.LinkedHashMap[(SparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), DataFrame]()

  private[graft] def cachedCellCount: Int =
    cellCache.synchronized(cellCache.size)

  /** Deterministic invalidation for callers that MUTATE an input a prior
    * [[mixWeights]] call aggregated (parquet append/overwrite under the
    * same path): unpersists and forgets every cells frame this session
    * cached, so the next call recomputes from the current files. */
  def evictCellCaches(s: SparkSession): Unit = cellCache.synchronized {
    val it = cellCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) { e.getValue.unpersist(); it.remove() }
    }
  }

  private def cacheCells(cells: DataFrame): DataFrame = {
    val s = cells.sparkSession
    val key = (s, cells.queryExecution.analyzed.canonicalized)
    cellCache.synchronized {
      val hit = cellCache.get(key)
      if (hit != null) hit
      else {
        // one stop-listener per session, not per entry — tracked by
        // Sessions.onStopOnce, NOT by registry contents: the global FIFO
        // cap can evict all of a session's entries, and inferring
        // registration from the registry would then re-add a listener on
        // the session's next call
        graft.Sessions.onStopOnce(s, "curation-cells")(() => evictCellCaches(s))
        val df = cells.cache()
        cellCache.put(key, df)
        if (cellCache.size > MaxCachedCellFrames) {
          val it = cellCache.entrySet().iterator()
          val eldest = it.next(); it.remove()
          eldest.getValue.unpersist()
        }
        df
      }
    }
  }

  /** Materialize a [[mixWeights]] plan: per-document copy counts that
    * realize each cell's sampling multiplier deterministically —
    * n_copies = floor(weight) + one extra copy for the md5-chosen
    * fraction of the cell's docs (weight < 1 downsamples: most docs get
    * 0 copies; weight > 1 upsamples: every doc repeats, a fraction
    * repeats once more). The coin is the first 8 hex chars of
    * md5(doc_id) compared against the per-cell threshold hex — the same
    * engine-independent determinism d21's sampler uses, so the result
    * is reproducible across runs AND engines (hash-gateable; an
    * engine-seeded rand() would be neither). In: docs + the weights
    * frame (dims..., weight). Out: (doc_id, dims..., n_copies) —
    * expected copy total per cell = weight * cell size.
    *
    * Scale: one broadcast join against the |cells|-row weights frame
    * and a narrow per-row expression — no shuffle of the corpus. */
  def applyMix(docs: DataFrame, weights: DataFrame,
      dims: Seq[String] = Seq("lang", "source")): DataFrame = {
    val frac = col("weight") - floor(col("weight"))
    // least() clamp: if floor(frac * 2^32) ever landed on 2^32, '%08x'
    // would emit the 9-char '100000000', whose lexicographic compare
    // grants the extra copy only to md5 prefixes starting '0' (~1/16 of
    // docs) — silently inverting a near-certain upsample. For IEEE
    // doubles the edge is unreachable (frac is exact by Sterbenz and
    // < 1, and (1-2^-53)*2^32 = 2^32 - 2^-21 is exactly representable,
    // so the product never rounds up to 2^32) — but the failure mode is
    // severe and silent, so the clamp pins the 8-char invariant
    // structurally rather than by numeric argument. The d29 oracle
    // carries the same clamp.
    val thresholdHex = format_string("%08x",
      least(lit(4294967295L), floor(frac * 4294967296.0).cast(LongType)))
    docs.join(broadcast(weights.select((dims.map(col) :+ col("weight")): _*)), dims)
      .select((Seq(col("doc_id")) ++ dims.map(col) :+
        (floor(col("weight")).cast(LongType) +
          when(substring(md5(col("doc_id").cast(StringType)), 1, 8) < thresholdHex,
            1L).otherwise(0L)).as("n_copies")): _*)
  }

  /** Expand [[applyMix]]'s copy counts into the actual resampled corpus:
    * each doc appears n_copies times, tagged copy_idx 1..n_copies
    * (0-copy docs drop — that IS the downsample). Out: (doc_id, dims...,
    * copy_idx). The copy_idx tag keeps replicas distinguishable for
    * downstream shuffling/sharding without inventing new doc ids.
    *
    * Scale: applyMix's broadcast join plus one narrow explode — no
    * shuffle; the repeated text (join back on doc_id, or carry columns
    * through `docs`) is materialized only at the sink. The 0-copy
    * filter must precede the explode: Spark's sequence(1, 0) generates
    * the DESCENDING [1, 0], not empty — unguarded, every dropped doc
    * would come back twice. */
  def materializeMix(docs: DataFrame, weights: DataFrame,
      dims: Seq[String] = Seq("lang", "source")): DataFrame =
    applyMix(docs, weights, dims)
      .where(col("n_copies") > 0)
      .select((Seq(col("doc_id")) ++ dims.map(col) :+
        explode(expr("sequence(1, n_copies)")).as("copy_idx")): _*)

  // PII patterns shared by the Spark and DuckDB sides of d27 — kept to
  // syntax with identical semantics in java.util.regex and RE2 (no
  // lookaround, no backreferences; \b, \d, {m,n} behave alike).
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  // \b on both ends: an unguarded \d{3}... matches the FIRST 10 digits
  // of any longer digit run (mangling numeric IDs and leaving residue
  // digits glued to the placeholder); boundaries restrict the match to
  // standalone phone-shaped runs. \b sits between word and non-word, so
  // it composes with the optional '+' (non-word) and digit correctly in
  // both java.util.regex and RE2.
  private[graft] val PhoneRe = "\\+?\\b\\d{3}[- ]?\\d{3}[- ]?\\d{4}\\b"

  /** PII scrubbing — the redaction pass a training-data pipeline runs
    * before anything ships to a trainer: emails, IPv4 addresses, and
    * phone-shaped digit runs are replaced with typed placeholder tokens,
    * and per-document detection counts ride along (counts are matches on
    * the RAW text per pattern, so overlapping detections — a phone-shaped
    * digit run inside an email local part — are each visible even though
    * the earlier replacement wins in the scrubbed output; replacement
    * order email → IP → phone is fixed). Out: (doc_id, scrubbed,
    * n_emails, n_ips, n_phones).
    *
    * Scale: a narrow per-row projection of codegen'd regexp expressions —
    * no UDF, no shuffle, streaming-safe; at 100 TB this is exactly the
    * shape you want (the scan cost IS the cost). */
  /** The d27 scrub as a bare Column (email → IP → phone replacement
    * order) — lets pipelines redact in place without a join. */
  def scrubTextCol(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      EmailRe, "<EMAIL>"), IpRe, "<IP>"), PhoneRe, "<PHONE>")

  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      scrubTextCol(col("text")).as("scrubbed"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
        .cast(LongType).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(IpRe), lit(0)))
        .cast(LongType).as("n_ips"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
        .cast(LongType).as("n_phones"))

  /** Gopher-style rule-based document filter (d67) — the heuristic
    * keep/drop gate of Rae et al. 2021 (§A1.1), the stage a web-scale
    * pipeline runs BEFORE any model-based scoring: per-document word
    * count bounds, mean word length bounds, minimum stop-word evidence,
    * minimum alphabetic-word fraction, and maximum symbol (#/ellipsis)
    * density. Out: (doc_id, n_words, mean_word_len, stop_hits,
    * alpha_ratio, symbol_ratio, keep) — every signal is kept alongside
    * the verdict so downstream audits can see WHICH rule fired without
    * re-scanning text.
    *
    * Scale: one narrow codegen'd projection — no UDF, no shuffle,
    * streaming-safe; like d27 the scan cost is the whole cost. Ratios
    * are single IEEE divisions of exact integer counts (d04's
    * convention), so the DuckDB oracle hash-matches without rounding. */
  def gopherRules(docs: DataFrame,
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minStopHits: Long = 2, minAlphaRatio: Double = 0.8,
      maxSymbolRatio: Double = 0.1): DataFrame = {
    val toks = split(lower(trim(col("text"))), "\\s+")
    val nW = size(toks).cast(LongType)
    val meanLen =
      length(regexp_replace(col("text"), "\\s", "")).cast(DoubleType) / nW
    val stopSet = typedLit(Seq("the", "a", "of", "and", "to", "in"))
    val stopHits =
      size(filter(toks, w => array_contains(stopSet, w))).cast(LongType)
    val alphaRatio =
      size(filter(toks, w => w.rlike("[a-z]"))).cast(DoubleType) / nW
    val nHash = length(col("text")) - length(regexp_replace(col("text"), "#", ""))
    val nEllipsis =
      ((length(col("text")) -
        length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / lit(3))
        .cast(LongType)
    val symbolRatio = (nHash + nEllipsis).cast(DoubleType) / nW
    docs
      .select(col("doc_id"), nW.as("n_words"), meanLen.as("mean_word_len"),
        stopHits.as("stop_hits"), alphaRatio.as("alpha_ratio"),
        symbolRatio.as("symbol_ratio"))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanLen, maxMeanLen) &&
          col("stop_hits") >= minStopHits &&
          col("alpha_ratio") >= minAlphaRatio &&
          col("symbol_ratio") <= maxSymbolRatio)
  }

  /** Deterministic train/validation/test split (d69) — the assignment a
    * training pipeline must make exactly once and never revisit: bucket
    * 0..99 from the md5 coin of the doc id (the d21/d29 convention), the
    * first `testPct` buckets are test, the next `valPct` validation, the
    * rest train. Hash-based (not row_number-based) assignment is the
    * scale-correct form: membership is a pure function of the id, so it
    * is stable under corpus growth, reshuffling, and re-runs — a doc
    * never migrates between splits when new data arrives (the property
    * that keeps eval sets uncontaminated across pipeline versions). Out:
    * (doc_id, bucket, split).
    *
    * Scale: one narrow codegen'd projection — no shuffle, streaming-safe. */
  def hashSplit(docs: DataFrame, valPct: Int = 10, testPct: Int = 10): DataFrame = {
    require(valPct >= 0 && testPct >= 0 && valPct + testPct <= 100,
      "need 0 <= valPct + testPct <= 100")
    val bucket = (conv(substring(md5(col("doc_id").cast(StringType)), 1, 8),
      16, 10).cast(LongType) % 100).as("bucket")
    docs.select(col("doc_id"), bucket)
      .withColumn("split",
        when(col("bucket") < testPct, "test")
          .when(col("bucket") < testPct + valPct, "validation")
          .otherwise("train"))
  }

  /** The deduplicated corpus: one representative (min doc_id) per
    * exact-duplicate group and per near-duplicate cluster. The two
    * passes are complementary — identical docs always share LSH buckets
    * (J = 1) so near-dup clustering subsumes most exact groups, but
    * degenerate docs (under the 3-char gram floor) have empty sketches
    * and only the content-hash pass can group them. Reads: doc_id, text,
    * n_chars; returns the input rows of the kept representatives. */
  def dedupedCorpus(docs: DataFrame): DataFrame = {
    val exactKeep = TextOps.dedupExact(docs).select(col("keeper_doc_id").as("doc_id"))
    val nearDrop = Similarity.nearDupClusters(docs)
      .where(col("doc_id") =!= col("cluster_id")).select(col("doc_id"))
    docs.join(exactKeep, "doc_id").join(nearDrop, Seq("doc_id"), "left_anti")
  }

  /** The whole curation pipeline in one call: optional PII scrub
    * (in-place redaction BEFORE anything hashes or counts tokens, so
    * placeholders are what dedup and packing see) → exact + near dedup
    * ([[dedupedCorpus]]) → repetition-quality filter (drop docs under
    * `minWords`, over `maxDupWordFrac` duplicate words, or over
    * `maxTopBigramFrac` top-bigram mass) → optional inter-document
    * duplicate-span filter (drop docs whose `dupSpanN`-gram positions
    * are duplicated elsewhere in the corpus beyond `maxDupSpanFrac` —
    * the RefinedWeb boilerplate signal; 1.0 disables) → benchmark
    * optional CCNet LM filter (`dropPplTail` — drop each language's
    * worst-perplexity tercile under the surviving corpus' own unigram
    * model, [[pplBuckets]]; requires a `lang` column) → benchmark
    * decontamination (drop docs sharing more than `maxSharedGrams`
    * distinct `contaminationN`-grams with any single eval doc) →
    * token-budget shard packing. `hashGrams` switches the two gram
    * stages to 8-byte xxhash64 shuffles (the production mode). Returns
    * (doc_id, n_tokens, shard_id) over the surviving docs — the
    * corpus-to-training-shards recipe, each stage the already-tested
    * operator. Reads: doc_id, text, n_chars on `docs` (plus lang when
    * `dropPplTail`); doc_id, text on `evalDocs`.
    *
    * `checkpointDir` is the per-stage RESUME SEAM:
    * every stage is a pure row FILTER of the (optionally scrubbed)
    * input, so its full output reconstructs exactly as `base ⋉
    * survivor-ids`. With a directory set, each enabled stage's survivor
    * id-set is materialized under `<dir>/<stage>/ids` behind the
    * [[IndexCommit]] marker (crash mid-write leaves the stage
    * unmarked → recomputed; at 100 TB a failed stage-5 shard pack then
    * resumes from the last COMMITTED stage instead of re-deriving five
    * stages of lineage). A committed stage's computation is never even
    * constructed (by-name seam). The id-sets encode the run's knobs
    * implicitly, so the first run writes a `_graft_knobs` fingerprint
    * of every survivor-affecting parameter into the checkpoint root and
    * every resume REQUIRES it to match — a changed knob against an
    * existing directory fails fast instead of silently serving id-sets
    * computed under the old configuration. (`budget` is deliberately
    * outside the fingerprint: shard packing runs fresh on every call
    * and never persists, so re-packing surviving docs at a new budget
    * is a legitimate resume.) Point a changed configuration at a fresh
    * directory (the d54-gated default path, `checkpointDir = None`, is
    * byte-identical to the seamless plan).
    * TrainingShardsResumeSpec proves resumed == one-shot. */
  def trainingShards(docs: DataFrame, evalDocs: DataFrame,
      minWords: Long = 5, maxDupWordFrac: Double = 0.9,
      maxTopBigramFrac: Double = 0.5, maxSharedGrams: Long = 10,
      contaminationN: Int = 3, budget: Long = 2048,
      scrubPii: Boolean = false, maxDupSpanFrac: Double = 1.0,
      dupSpanN: Int = 5, hashGrams: Boolean = false,
      dropPplTail: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    val base =
      if (scrubPii) docs.withColumn("text", scrubTextCol(col("text")))
      else docs
    checkpointDir.foreach { root =>
      val spark = docs.sparkSession
      val knobs = Seq(
        s"minWords=$minWords", s"maxDupWordFrac=$maxDupWordFrac",
        s"maxTopBigramFrac=$maxTopBigramFrac", s"maxSharedGrams=$maxSharedGrams",
        s"contaminationN=$contaminationN", s"scrubPii=$scrubPii",
        s"maxDupSpanFrac=$maxDupSpanFrac", s"dupSpanN=$dupSpanN",
        s"hashGrams=$hashGrams", s"dropPplTail=$dropPplTail").mkString("\n")
      val p = new org.apache.hadoop.fs.Path(root, "_graft_knobs")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        val in = fs.open(p)
        val recorded =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        require(recorded == knobs,
          s"trainingShards checkpointDir $root was written under different " +
          s"parameters — its stage id-sets would silently reflect the old " +
          s"configuration.\nrecorded:\n$recorded\nrequested:\n$knobs\n" +
          "Resume with the recorded parameters, or point the changed " +
          "configuration at a fresh checkpointDir.")
      } else {
        val out = fs.create(p, true)
        try out.write(knobs.getBytes("UTF-8")) finally out.close()
      }
    }
    def stage(name: String)(out: => DataFrame): DataFrame = checkpointDir match {
      case None => out
      case Some(root) =>
        val spark = docs.sparkSession
        val d = s"$root/$name"
        if (!IndexCommit.isCommitted(spark, d))
          IndexCommit.withGuard(spark, d) {
            out.select(col("doc_id")).write.mode("overwrite").parquet(s"$d/ids")
          }
        base.join(Tables.parquet(spark, s"$d/ids"), Seq("doc_id"), "left_semi")
    }
    val deduped = stage("s1_dedup")(dedupedCorpus(base))
    val keepQuality = repetitionSignals(deduped)
      .where(col("n_words") >= minWords &&
        col("dup_word_count").cast("double") / col("n_words") <= maxDupWordFrac &&
        when(col("n_bigrams") > 0,
            col("top_bigram_count").cast("double") / col("n_bigrams"))
          .otherwise(0.0) <= maxTopBigramFrac)
      .select(col("doc_id"))
    val afterQuality = stage("s2_quality")(deduped.join(keepQuality, "doc_id"))
    val afterSpans =
      if (maxDupSpanFrac >= 1.0) afterQuality
      else stage("s3_spans")(afterQuality.join(
        dupSpanStats(afterQuality, dupSpanN, hashGrams)
          .where(when(col("n_spans") > 0,
              col("dup_spans").cast("double") / col("n_spans"))
            .otherwise(0.0) <= maxDupSpanFrac)
          .select(col("doc_id")),
        "doc_id"))
    val afterPpl =
      if (!dropPplTail) afterSpans
      else stage("s4_ppl")(afterSpans.join(
        pplBuckets(afterSpans).where(col("bucket") =!= "tail")
          .select(col("doc_id")),
        "doc_id"))
    def contaminated = contaminationPairs(
        afterPpl, evalDocs, contaminationN, hashGrams)
      .groupBy(col("doc_id"))
      .agg(max(col("n_shared")).as("worst"))
      .where(col("worst") > maxSharedGrams)
      .select(col("doc_id"))
    packShards(
      stage("s5_decontam")(afterPpl.join(contaminated, Seq("doc_id"), "left_anti")),
      budget)
  }

  // ---- driver bindings -------------------------------------------------

  /** Query names whose plans read a [[mixWeights]] cached cells frame:
    * d26/d29/d31 bind `mixWeights(documents(s, d))` — an identical
    * (lang, source) plan sharing ONE cache entry — while d32's
    * lang-only + explicit-targets plan warms a SEPARATE entry of its
    * own (so its run 2 is warm, but not via the others' cache).
    * CacheManager plan-matching makes every run after an entry's first
    * a warm cells read; the bench marks all four in its artifact so
    * min-of-2 times are interpreted as the cache-state they measured. */
  val MemoizedQueries: Set[String] =
    Set("d26_mix_weights", "d29_apply_mix", "d31_materialize_mix",
      "d32_mix_targets", "d46_ppl_indexed", "d49_dsir_indexed",
      // run 1 pays the memoized d14 pair computation (Similarity's memo)
      "d114_cluster_safe_split")

  /** The d22 eval-set predicate: a deterministic ~1% slice of `documents`
    * stands in for a benchmark. */
  private val evalPred = "doc_id % 97 = 0"

  /** Per-(session, sfDir, slice) persisted [[LmIndex]] for d46/d49 —
    * same pattern as Corpus.lexIndexDir: run 1 pays the model build +
    * score, run 2 only the score; directories die with the session.
    * `tag` names the slice ("raw" = whole table) so the d49 target
    * model memoizes independently of the raw one. */
  private val lmDirMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), String]()

  private def lmIndexDir(s: SparkSession, d: String, tag: String = "raw",
      slice: DataFrame => DataFrame = identity): String = {
    val k = (s, d, tag)
    val hit = lmDirMemo.get(k)
    if (hit != null) hit
    else {
      val dir = java.nio.file.Files.createTempDirectory("graft-lm-q").toString
      LmIndex.save(slice(documents(s, d)), dir)
      val prev = lmDirMemo.putIfAbsent(k, dir)
      if (prev != null) { Corpus.deleteRecursively(dir); prev }
      else {
        graft.Sessions.onStopOnce(s, "curation-lmdir") { () =>
          val it = lmDirMemo.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getKey._1 eq s) { Corpus.deleteRecursively(e.getValue); it.remove() }
          }
        }
        dir
      }
    }
  }

  /** The d44 oracle — shared verbatim by d46, whose Spark side scores
    * against the PERSISTED model: equal output proves the index round
    * trip (counts write, merged read, smoothing totals) exact. */
  private val UnigramPplOracle =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS token FROM w),
      |dt AS (SELECT doc_id, token, count(*) AS m FROM tok GROUP BY 1, 2),
      |v AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
      |             CAST(count(*) AS DOUBLE) AS nv FROM v)
      |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
      |  round(sum(m * ln((cnt + 1) / (total + nv))) / sum(m), 4) AS avg_logprob,
      |  round(exp(-sum(m * ln((cnt + 1) / (total + nv))) / sum(m)), 4) AS ppl
      |FROM dt JOIN v USING (token), t
      |GROUP BY doc_id""".stripMargin

  /** The d64/d65 oracle: the full-batch GD path UNROLLED — three
    * gradient/update rounds as 1-row CTEs over d04's exact-parity
    * feature expressions, every gradient and weight rounded at 6
    * decimals exactly like the engine's descent loop, then the scoring
    * scan at the 4-decimal convention. `predicted` compares the raw
    * margin to 0 (identical doubles both sides — no libm in the
    * margin: the one ln-sourced feature is pre-rounded). */
  private val LrOracle =
    """WITH f AS (
      |  SELECT doc_id,
      |         1.0 AS b,
      |         CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |              w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
      |           / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS s,
      |         (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
      |           / len(regexp_split_to_array(lower(trim(text)), '\s+'))) / 10.0 AS a,
      |         round(ln(len(regexp_split_to_array(lower(trim(text)), '\s+'))) / 10.0, 6) AS t,
      |         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      |  FROM documents),
      |w0 AS (SELECT 0.0 AS wb, 0.0 AS ws, 0.0 AS wa, 0.0 AS wt),
      |g1 AS (
      |  SELECT round(avg((1.0/(1.0 + exp(-(wb*b + ws*s + wa*a + wt*t))) - y) * b), 6) AS gb,
      |         round(avg((1.0/(1.0 + exp(-(wb*b + ws*s + wa*a + wt*t))) - y) * s), 6) AS gs,
      |         round(avg((1.0/(1.0 + exp(-(wb*b + ws*s + wa*a + wt*t))) - y) * a), 6) AS ga,
      |         round(avg((1.0/(1.0 + exp(-(wb*b + ws*s + wa*a + wt*t))) - y) * t), 6) AS gt
      |  FROM f, w0),
      |w1 AS (SELECT round(w0.wb - gb, 6) AS wb, round(w0.ws - gs, 6) AS ws,
      |              round(w0.wa - ga, 6) AS wa, round(w0.wt - gt, 6) AS wt FROM w0, g1),
      |g2 AS (
      |  SELECT round(avg((1.0/(1.0 + exp(-(wb*b + ws*s + wa*a + wt*t))) - y) * b), 6) AS gb,
      |         round(avg((1.0/(1.0 + exp(-(wb*b + ws*s + wa*a + wt*t))) - y) * s), 6) AS gs,
      |         round(avg((1.0/(1.0 + exp(-(wb*b + ws*s + wa*a + wt*t))) - y) * a), 6) AS ga,
      |         round(avg((1.0/(1.0 + exp(-(wb*b + ws*s + wa*a + wt*t))) - y) * t), 6) AS gt
      |  FROM f, w1),
      |w2 AS (SELECT round(w1.wb - gb, 6) AS wb, round(w1.ws - gs, 6) AS ws,
      |              round(w1.wa - ga, 6) AS wa, round(w1.wt - gt, 6) AS wt FROM w1, g2),
      |g3 AS (
      |  SELECT round(avg((1.0/(1.0 + exp(-(wb*b + ws*s + wa*a + wt*t))) - y) * b), 6) AS gb,
      |         round(avg((1.0/(1.0 + exp(-(wb*b + ws*s + wa*a + wt*t))) - y) * s), 6) AS gs,
      |         round(avg((1.0/(1.0 + exp(-(wb*b + ws*s + wa*a + wt*t))) - y) * a), 6) AS ga,
      |         round(avg((1.0/(1.0 + exp(-(wb*b + ws*s + wa*a + wt*t))) - y) * t), 6) AS gt
      |  FROM f, w2),
      |w3 AS (SELECT round(w2.wb - gb, 6) AS wb, round(w2.ws - gs, 6) AS ws,
      |              round(w2.wa - ga, 6) AS wa, round(w2.wt - gt, 6) AS wt FROM w2, g3)
      |SELECT doc_id,
      |       round(1.0/(1.0 + exp(-(wb*b + ws*s + wa*a + wt*t))), 4) AS score,
      |       (wb*b + ws*s + wa*a + wt*t) >= 0.0 AS predicted
      |FROM f, w3""".stripMargin

  /** Shared CTE chain of the d47/d48 oracles: per-doc log importance
    * ratio under the raw (all documents) and target (lang = 'en')
    * unigram LMs. Mirrors the Spark side's two-sum-then-subtract at the
    * 4-decimal convention; target-absent tokens score the target model's
    * unseen mass via the LEFT-join coalesce. */
  private val DsirCte =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS token FROM w),
      |dt AS (SELECT doc_id, token, count(*) AS m FROM tok GROUP BY 1, 2),
      |vr AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
      |tr AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
      |              CAST(count(*) AS DOUBLE) AS nv FROM vr),
      |wt AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
      |  FROM documents WHERE lang = 'en'),
      |tokt AS (SELECT doc_id, unnest(ws) AS token FROM wt),
      |vt AS (SELECT token, count(*) AS cnt FROM tokt GROUP BY 1),
      |tt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
      |              CAST(count(*) AS DOUBLE) AS nv FROM vt),
      |lr AS (
      |  SELECT dt.doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
      |    round(sum(m * coalesce(ln((vt.cnt + 1) / (tt.total + tt.nv)),
      |                           ln(1 / (tt.total + tt.nv))))
      |          - sum(m * ln((vr.cnt + 1) / (tr.total + tr.nv))), 4) + 0 AS log_ratio
      |  FROM dt JOIN vr USING (token) LEFT JOIN vt USING (token), tr, tt
      |  GROUP BY dt.doc_id)""".stripMargin
  // ^ the `+ 0` after round: DuckDB's round PRESERVES a tiny negative's
  // sign (-1e-7 -> -0.0) while Spark's BigDecimal HALF_UP never emits
  // -0.0 — a doc whose target/raw log-sums differ by < 5e-5 therefore
  // hash-mismatched at sf0.1 (first such doc appears only at that
  // scale; every sf0.01 gate was green). -0.0 + 0 = +0.0 aligns the
  // engines — the embeddingRelatedSql cosine convention.

  def queries: Seq[Q] = Seq(

    Q("d20_repetition",
      (s, d) => repetitionSignals(documents(s, d)),
      Some("""WITH w AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             |  FROM documents),
             |bi AS (
             |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
             |  FROM w, UNNEST(range(1, len(ws))) AS t(i)),
             |bc AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY 1, 2),
             |agg AS (
             |  SELECT doc_id, max(c) AS top_bigram_count,
             |         cast(sum(c) AS BIGINT) AS n_bigrams
             |  FROM bc GROUP BY 1)
             |SELECT w.doc_id, len(ws) AS n_words,
             |       len(ws) - len(list_distinct(ws)) AS dup_word_count,
             |       coalesce(agg.top_bigram_count, 0) AS top_bigram_count,
             |       coalesce(agg.n_bigrams, 0) AS n_bigrams
             |FROM w LEFT JOIN agg USING (doc_id)""".stripMargin)),

    // d44: CCNet-style unigram LM perplexity — add-one-smoothed average
    // token log-prob under the corpus' own unigram distribution. Both
    // floats rounded to 4 decimals (the per-doc log sum is the only
    // order-sensitive op; ln/exp agree across engines well inside 1e-4).
    Q("d44_unigram_ppl",
      (s, d) => unigramPpl(documents(s, d)),
      Some(UnigramPplOracle)),

    // d46: the SAME scoring served from the persisted incremental model
    // (LmIndex), hash-gated by d44's oracle — proving the model round
    // trip (per-batch counts write, merged read, smoothing totals)
    // preserves the direct computation exactly.
    Q("d46_ppl_indexed",
      (s, d) => unigramPplAgainst(documents(s, d), LmIndex.vocab(s, lmIndexDir(s, d))),
      Some(UnigramPplOracle)),

    // d45: CCNet perplexity bucketing — per-language head/middle/tail
    // terciles of d44's ppl. Thresholds and ppl both at the 4-decimal
    // convention; tercile weights over a 4-decimal grid cannot produce
    // a .00005 rounding boundary, so the CASE is cross-engine exact.
    Q("d45_ppl_buckets",
      (s, d) => pplBuckets(documents(s, d)),
      Some("""WITH w AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             |  FROM documents),
             |tok AS (SELECT doc_id, unnest(ws) AS token FROM w),
             |dt AS (SELECT doc_id, token, count(*) AS m FROM tok GROUP BY 1, 2),
             |v AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
             |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
             |             CAST(count(*) AS DOUBLE) AS nv FROM v),
             |p AS (
             |  SELECT doc_id,
             |    round(exp(-sum(m * ln((cnt + 1) / (total + nv))) / sum(m)), 4) AS ppl
             |  FROM dt JOIN v USING (token), t
             |  GROUP BY doc_id),
             |pl AS (
             |  SELECT p.doc_id, d.lang, p.ppl
             |  FROM p JOIN documents d ON p.doc_id = d.doc_id),
             |th AS (
             |  SELECT lang,
             |         round(quantile_cont(ppl, CAST(1 AS DOUBLE) / 3), 4) AS t1,
             |         round(quantile_cont(ppl, CAST(2 AS DOUBLE) / 3), 4) AS t2
             |  FROM pl GROUP BY lang)
             |SELECT doc_id, lang, ppl,
             |       CASE WHEN ppl <= t1 THEN 'head'
             |            WHEN ppl <= t2 THEN 'middle'
             |            ELSE 'tail' END AS bucket
             |FROM pl JOIN th USING (lang)""".stripMargin)),

    // d64: the model-based quality filter trained in-engine — full-batch
    // logistic GD, 3 iterations, each a single 4-double gradient
    // aggregation; the oracle replays the identical descent path
    // unrolled (the d51 unrolled-iteration precedent applied to floats
    // under the 6-decimal step convention).
    Q("d64_lr_quality",
      (s, d) => lrQualityScores(documents(s, d)),
      Some(LrOracle)),

    // d65: the same scores served from the FROZEN (feature, weight)
    // frame — the train-once/score-batches seam (d49's pattern for the
    // LR family), gated by the identical oracle so the weight-frame
    // round trip is driver-adjudicated.
    Q("d65_lr_score_frozen",
      (s, d) => {
        val docs = documents(s, d)
        lrScoreAgainst(docs, lrWeightsFrame(docs))
      },
      Some(LrOracle)),

    // d47: DSIR importance weights — log p_target(x) - log p_raw(x)
    // under two add-one-smoothed unigram LMs, the English slice standing
    // in for the small trusted target corpus. Cross-engine exact at the
    // 4-decimal convention (the per-doc log sums are the only
    // order-sensitive ops; both engines evaluate the same smoothed-logp
    // expression tree).
    Q("d47_dsir_weights",
      (s, d) => dsirWeights(documents(s, d),
        documents(s, d).where(col("lang") === "en")),
      Some(DsirCte +
        "\nSELECT doc_id, n_tokens, log_ratio FROM lr")),

    // d48: DSIR's Gumbel top-k selection over d47 — draws k docs without
    // replacement with probability proportional to their importance
    // weights (the Gumbel-max trick), with the engine-independent md5
    // coin (d21/d29 convention) in place of the paper's seeded RNG:
    // u = (hex(md5[0:8]) + 0.5) / 2^32 keeps both ln calls finite, so
    // the SELECTION ITSELF (which docs, in which rank order) is
    // hash-gated, not just the scores.
    Q("d48_dsir_select",
      (s, d) => dsirSelect(documents(s, d),
        documents(s, d).where(col("lang") === "en")),
      Some(DsirCte +
        """,
          |sc AS (
          |  SELECT doc_id,
          |    round(log_ratio -
          |      ln(-ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          |              + 0.5) / 4294967296.0)), 4) + 0 AS score
          |  FROM lr)
          |SELECT doc_id, score, CAST(rn AS BIGINT) AS sel_rank FROM (
          |  SELECT doc_id, score,
          |         row_number() OVER (ORDER BY score DESC, doc_id) AS rn
          |  FROM sc)
          |WHERE rn <= 100""".stripMargin)),

    // d50: bigram LM perplexity — the order-2 step toward CCNet's
    // n-gram scorer; word-order gibberish that unigram statistics can't
    // see scores high here. Sub-2-token docs emit n_bigrams 0 / NULL
    // score on both sides (no invented boundary markers).
    Q("d50_bigram_ppl",
      (s, d) => bigramPpl(documents(s, d)),
      Some("""WITH w AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             |  FROM documents),
             |bi AS (
             |  SELECT doc_id, ws[i] AS ctx, ws[i+1] AS tok
             |  FROM w, UNNEST(range(1, len(ws))) AS t(i)),
             |bc AS (SELECT ctx, tok, count(*) AS cnt FROM bi GROUP BY 1, 2),
             |cc AS (SELECT ctx, CAST(sum(cnt) AS DOUBLE) AS ctot FROM bc GROUP BY 1),
             |v AS (SELECT CAST(count(DISTINCT token) AS DOUBLE) AS nv
             |      FROM (SELECT unnest(ws) AS token FROM w)),
             |db AS (SELECT doc_id, ctx, tok, count(*) AS m FROM bi GROUP BY 1, 2, 3),
             |p AS (
             |  SELECT db.doc_id, sum(m) AS nb,
             |         sum(m * ln((bc.cnt + 1) / (cc.ctot + v.nv))) AS slp
             |  FROM db JOIN bc USING (ctx, tok) JOIN cc USING (ctx), v
             |  GROUP BY 1)
             |SELECT w.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
             |       round(slp / nb, 4) AS avg_logprob,
             |       round(exp(-slp / nb), 4) AS ppl
             |FROM w LEFT JOIN p USING (doc_id)""".stripMargin)),

    // d49: d47's scoring served from TWO persisted LmIndex models (raw
    // corpus + English target), hash-gated by d47's oracle — the DSIR
    // deployment shape (train both models once, score every incoming
    // batch without retraining), and a second independent proof of the
    // LmIndex round trip: d46 proves it under the ppl contract, d49
    // under the two-model log-ratio.
    Q("d49_dsir_indexed",
      (s, d) => dsirWeightsAgainst(documents(s, d),
        LmIndex.vocab(s, lmIndexDir(s, d)),
        LmIndex.vocab(s, lmIndexDir(s, d, "en",
          _.where(col("lang") === "en")))),
      Some(DsirCte +
        "\nSELECT doc_id, n_tokens, log_ratio FROM lr")),

    Q("d21_stratified_sample",
      (s, d) => stratifiedSample(documents(s, d)),
      Some("""SELECT doc_id, lang, cast(rn AS BIGINT) AS sample_rank FROM (
             |  SELECT doc_id, lang, row_number() OVER (
             |    PARTITION BY lang
             |    ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 20""".stripMargin)),

    // d125: weighted stratified sample — the E-S min-ticket race in
    // pure md5-string arithmetic, replayed verbatim by the oracle
    // (list_min/list_transform mirror array_min/transform; identical
    // ticket strings hash identically in both engines).
    Q("d125_weighted_sample",
      (s, d) => weightedSample(documents(s, d)),
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |    least(greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1), 64) AS weight
             |  FROM documents WHERE doc_id IS NOT NULL),
             |ks AS (
             |  SELECT doc_id, source,
             |    list_min(list_transform(range(1, weight + 1),
             |      i -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)))) AS key
             |  FROM t)
             |SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank FROM (
             |  SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
             |  FROM ks)
             |WHERE rn <= 20""".stripMargin)),

    // d126: HTML visible-text extraction over a planted page skeleton
    // (the corpus is markup-free — probed: no '<', '&', '>', newlines,
    // or tabs — so wrapping each doc in a FIXED skeleton makes the
    // expected extraction a pure string construction the oracle can
    // replay without parsing HTML: nav line + the doc's normalized
    // text + the two trailing block/br lines, with head/title/style/
    // script content dropped).
    Q("d126_html_extract",
      (s, d) => htmlVisibleText(
        documents(s, d).select(col("doc_id"),
          concat(
            lit("<html><head><title>Skip Me</title>" +
              "<style>p { color: red }</style></head><body>" +
              "<div class=\"nav\">HOME | ABOUT</div><p>"),
            col("text"),
            lit("</p><p>visit us<br>today</p>" +
              "<script>var x = 1;</script></body></html>")).as("html"))),
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    'HOME | ABOUT' || chr(10) || text || chr(10) ||
             |    'visit us' || chr(10) || 'today' AS r
             |  FROM documents),
             |ls AS (
             |  SELECT doc_id, i,
             |    trim(regexp_replace(regexp_split_to_array(r, chr(10))[i],
             |      '\s+', ' ', 'g')) AS line
             |  FROM raw,
             |    UNNEST(range(1, len(regexp_split_to_array(r, chr(10))) + 1)) AS u(i)),
             |agg AS (
             |  SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS clean_text,
             |         CAST(count(*) AS BIGINT) AS n_lines
             |  FROM ls WHERE line <> '' GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
             |       coalesce(a.n_lines, CAST(0 AS BIGINT)) AS n_lines
             |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    Q("d22_decontaminate",
      (s, d) => {
        val docs = documents(s, d)
        contaminationPairs(
          docs.where(not(expr(evalPred))), docs.where(expr(evalPred)))
      },
      Some(s"""WITH w AS (
              |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
              |  FROM documents),
              |g AS (
              |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
              |  FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i))
              |SELECT t.doc_id AS doc_id, e.doc_id AS bench_id, count(*) AS n_shared
              |FROM g t JOIN g e ON t.gram = e.gram
              |WHERE NOT (t.$evalPred) AND e.$evalPred
              |GROUP BY 1, 2""".stripMargin)),

    Q("d25_dup_spans",
      (s, d) => dupSpanStats(documents(s, d)),
      Some("""WITH w AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS gram
             |  FROM w, UNNEST(range(1, len(ws) - 3)) AS t(i)),
             |gc AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
             |nd AS (SELECT gram FROM gc GROUP BY gram HAVING count(*) >= 2),
             |dup AS (
             |  SELECT gc.doc_id, cast(sum(gc.cnt) AS BIGINT) AS dup_spans
             |  FROM gc JOIN nd USING (gram) GROUP BY 1)
             |SELECT w.doc_id,
             |       cast(greatest(0, len(ws) - 4) AS BIGINT) AS n_spans,
             |       cast(coalesce(dup.dup_spans, 0) AS BIGINT) AS dup_spans
             |FROM w LEFT JOIN dup USING (doc_id)""".stripMargin)),

    // d62: maximal duplicate-span intervals — d25's counting signal
    // upgraded to the actual cut list. Both sides build the identical
    // position stream, cross-doc dup-gram set, and gaps-and-islands
    // merge; integer outputs only.
    Q("d62_dup_span_intervals",
      (s, d) => dupSpanIntervals(documents(s, d)),
      Some("""WITH w AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, i - 1 AS pos,
             |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS gram
             |  FROM w, UNNEST(range(1, len(ws) - 3)) AS t(i)),
             |nd AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
             |       GROUP BY gram HAVING count(*) >= 2),
             |hits AS (SELECT doc_id, pos FROM g JOIN nd USING (gram)),
             |isl AS (
             |  SELECT doc_id, pos,
             |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
             |              THEN 1 ELSE 0 END AS brk
             |  FROM hits),
             |isl2 AS (
             |  SELECT doc_id, pos,
             |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
             |  FROM isl)
             |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             |       CAST(max(pos) + 4 AS BIGINT) AS span_end,
             |       CAST(count(*) AS BIGINT) AS n_dup_grams
             |FROM isl2 GROUP BY doc_id, island""".stripMargin)),

    // d63: the scrubbed corpus — tokens under any d62 interval removed,
    // single-spaced rebuild, one row per input doc (fully-cut docs as
    // empty string). The oracle rebuilds via string_agg ORDER BY
    // position == the engine's array_sort(collect_list(struct)).
    Q("d63_dedup_scrub",
      (s, d) => dedupScrub(documents(s, d)),
      Some("""WITH w AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, i - 1 AS pos,
             |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS gram
             |  FROM w, UNNEST(range(1, len(ws) - 3)) AS t(i)),
             |nd AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
             |       GROUP BY gram HAVING count(*) >= 2),
             |hits AS (SELECT doc_id, pos FROM g JOIN nd USING (gram)),
             |cov AS (SELECT DISTINCT doc_id, pos + o AS p
             |        FROM hits, UNNEST(range(0, 5)) AS r(o)),
             |toks AS (SELECT doc_id, i - 1 AS p, ws[i] AS tok
             |         FROM w, UNNEST(range(1, len(ws) + 1)) AS t(i)),
             |kept AS (
             |  SELECT t.doc_id, t.p, t.tok
             |  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
             |  WHERE c.p IS NULL),
             |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
             |               CAST(count(*) AS BIGINT) AS n_kept_tokens
             |        FROM kept GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
             |       coalesce(a.n_kept_tokens, CAST(0 AS BIGINT)) AS n_kept_tokens
             |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // d99: NFC normalization — the driver corpus is ASCII (already
    // NFC), so the gate plants a decomposed combining sequence on every
    // document (built from raw UTF-8 bytes so both engines construct
    // the identical pre-normalization string) and both engines must
    // compose it identically, flag the change, and agree on code-point
    // counts before/after.
    Q("d99_nfc_normalize",
      (s, d) => unicodeNormalize(
        documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(" cafe"),
            expr("decode(unhex('CC81'), 'UTF-8')")).as("text"))),
      Some("""WITH t AS (
             |  SELECT doc_id, text || ' cafe' || decode(from_hex('CC81')) AS text
             |  FROM documents)
             |SELECT doc_id,
             |  nfc_normalize(text) AS norm_text,
             |  nfc_normalize(text) <> text AS changed,
             |  CAST(length(text) AS BIGINT) AS n_chars_before,
             |  CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_after
             |FROM t""".stripMargin)),

    // d100: the composed cleanup pipeline over the planted fixture WITH
    // a decomposed combining sequence appended pre-reflow — so the
    // normalize stage genuinely changes bytes the downstream hash
    // stages then count. The oracle chains the three stages' replayed
    // SQL in the same order (normalize before any line counting).
    Q("d100_clean_pipeline",
      (s, d) => cleanPipeline(plantedBoilerplate(
        documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(" cafe"),
            expr("decode(unhex('CC81'), 'UTF-8')")).as("text")))),
      Some("""WITH raw AS (
             |  SELECT doc_id, text || ' cafe' || decode(from_hex('CC81')) AS text
             |  FROM documents),
             |t AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
             |  FROM raw),
             |d2 AS (
             |  SELECT doc_id,
             |    '=== BOILER HEADER ===' || chr(10) ||
             |    array_to_string(
             |      list_transform(range(0, CAST(ceil(len(toks) / 10.0) AS INT)),
             |        i -> array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' ')),
             |      chr(10)) ||
             |    chr(10) || '=== BOILER FOOTER ===' AS text
             |  FROM t),
             |nrm AS (SELECT doc_id, nfc_normalize(text) AS text FROM d2),
             |l AS (
             |  SELECT doc_id, ls, unnest(range(len(ls))) AS p
             |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM nrm)),
             |lr AS (SELECT doc_id, p, ls[p + 1] AS line FROM l),
             |b AS (
             |  SELECT line FROM (SELECT DISTINCT doc_id, line FROM lr WHERE trim(line) <> '')
             |  GROUP BY line HAVING count(*) > 2),
             |kept AS (
             |  SELECT lr.doc_id, lr.p, lr.line
             |  FROM lr LEFT JOIN b ON lr.line = b.line
             |  WHERE b.line IS NULL),
             |agg AS (
             |  SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS clean_text
             |  FROM kept GROUP BY doc_id),
             |scrubbed AS (
             |  SELECT n.doc_id, coalesce(a.clean_text, '') AS text
             |  FROM nrm n LEFT JOIN agg a USING (doc_id)),
             |l2 AS (
             |  SELECT doc_id, ls, unnest(range(len(ls))) AS p
             |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM scrubbed)),
             |pr AS (SELECT doc_id, p, ls[p + 1] AS line FROM l2),
             |f AS (
             |  SELECT doc_id, p, line,
             |         row_number() OVER (PARTITION BY line ORDER BY doc_id, p) AS rn
             |  FROM pr WHERE trim(line) <> ''),
             |kept2 AS (
             |  SELECT doc_id, p, line FROM f WHERE rn = 1
             |  UNION ALL
             |  SELECT doc_id, p, line FROM pr WHERE trim(line) = ''),
             |agg2 AS (
             |  SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS clean_text,
             |         CAST(count(*) AS BIGINT) AS n_kept_paras
             |  FROM kept2 GROUP BY doc_id),
             |nl2 AS (
             |  SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_paras
             |  FROM scrubbed)
             |SELECT n.doc_id, coalesce(a.clean_text, '') AS clean_text,
             |       coalesce(a.n_kept_paras, CAST(0 AS BIGINT)) AS n_kept_paras,
             |       n.n_paras - coalesce(a.n_kept_paras, CAST(0 AS BIGINT)) AS n_dropped_paras
             |FROM nl2 n LEFT JOIN agg2 a USING (doc_id)""".stripMargin)),

    // d95: line-level boilerplate removal over the planted multi-line
    // fixture (the driver corpus is single-line; the wrapper line is
    // boilerplate by construction, duplicate texts' body lines cross
    // the doc-frequency threshold honestly). The oracle replays the
    // fixture construction (d42's slice/array_to_string parity), the
    // doc-frequency count, the drop, and the ORDER BY p string_agg
    // rebuild == the engine's array_sort(collect_list(struct)).
    Q("d95_boilerplate_scrub",
      (s, d) => boilerplateScrub(plantedBoilerplate(documents(s, d))),
      Some(BoilerplateOracle)),

    // d98: corpus-wide paragraph-level exact dedup over the same
    // fixture, at line granularity — first occurrence in (doc_id, pos)
    // order survives (the engine's struct-min aggregation == the
    // oracle's rn = 1 window), blanks always kept, ordered rebuild.
    Q("d98_paragraph_dedup",
      (s, d) => paragraphDedup(plantedBoilerplate(documents(s, d)), sep = "\n"),
      Some(s"""WITH $BoilerplateFixtureCtes,
             |f AS (
             |  SELECT doc_id, p, line,
             |         row_number() OVER (PARTITION BY line ORDER BY doc_id, p) AS rn
             |  FROM lr WHERE trim(line) <> ''),
             |kept AS (
             |  SELECT doc_id, p, line FROM f WHERE rn = 1
             |  UNION ALL
             |  SELECT doc_id, p, line FROM lr WHERE trim(line) = ''),
             |agg AS (
             |  SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS clean_text,
             |         CAST(count(*) AS BIGINT) AS n_kept_paras
             |  FROM kept GROUP BY doc_id),
             |nl AS (
             |  SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_paras
             |  FROM d2)
             |SELECT n.doc_id, coalesce(a.clean_text, '') AS clean_text,
             |       coalesce(a.n_kept_paras, CAST(0 AS BIGINT)) AS n_kept_paras,
             |       n.n_paras - coalesce(a.n_kept_paras, CAST(0 AS BIGINT)) AS n_dropped_paras
             |FROM nl n LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    Q("d23_pack_shards",
      (s, d) => packShards(documents(s, d)),
      Some("""SELECT doc_id, n_tokens,
             |  cast(coalesce(sum(n_tokens) OVER (
             |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |    0) AS BIGINT) // 2048 AS shard_id
             |FROM (
             |  SELECT doc_id,
             |         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
             |  FROM documents)""".stripMargin)),

    // d105: greedy token-budget selection — d23's prefix-sum machinery
    // pointed at the d04 quality order. n_tokens/cum_tokens are exact
    // longs; score is one double division of exact integers (the
    // already-gated d04 value), so the order and the cut agree across
    // engines bit-for-bit.
    Q("d105_budget_select",
      (s, d) => budgetSelect(documents(s, d)),
      Some("""WITH q AS (
             |  SELECT doc_id,
             |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT)
             |      AS n_tokens,
             |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             |         w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
             |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS score
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, n_tokens, score,
             |    CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_tokens
             |  FROM q)
             |SELECT doc_id, n_tokens, score, cum_tokens
             |FROM c WHERE cum_tokens <= 10000""".stripMargin)),

    // d108: d105's greedy rule per source — the per-domain token cap.
    // Same exactness argument; the oracle's window partitions by source.
    Q("d108_source_budget",
      (s, d) => sourceBudgetSelect(documents(s, d)),
      Some("""WITH q AS (
             |  SELECT doc_id, source,
             |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT)
             |      AS n_tokens,
             |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             |         w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
             |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS score
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, source, n_tokens, score,
             |    CAST(sum(n_tokens) OVER (PARTITION BY source
             |      ORDER BY score DESC, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_tokens
             |  FROM q)
             |SELECT doc_id, source, n_tokens, score, cum_tokens
             |FROM c WHERE cum_tokens <= 5000""".stripMargin)),

    // d109: shard integrity manifest — d23's packing composed with an
    // order-independent checksum rollup. Integer aggregates + md5 of
    // sorted md5s, so the whole manifest is hash-exact.
    Q("d109_shard_manifest",
      (s, d) => shardManifest(documents(s, d)),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             |         md5(text) AS h
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, n_tokens, h,
             |    cast(coalesce(sum(n_tokens) OVER (
             |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS BIGINT) // 2048 AS shard_id
             |  FROM t)
             |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
             |       md5(string_agg(h, '' ORDER BY h)) AS content_md5
             |FROM p GROUP BY 1""".stripMargin)),

    // d110: split-leakage audit — d06's exact-verified near-dup pairs
    // crossing d69's deterministic split assignment. The oracle is the
    // composition of those two queries' SQL plus the exact-hash flag.
    Q("d110_split_leakage",
      (s, d) => splitLeakage(documents(s, d)),
      Some("""WITH sh AS (
             |  SELECT DISTINCT doc_id, substring(t, i, 3) AS g
             |  FROM (SELECT doc_id, lower(text) AS t FROM documents) dd,
             |       LATERAL (SELECT unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i) u
             |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_size
             |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT doc_a, doc_b, inter_size,
             |         za.n + zb.n - inter_size AS union_size
             |  FROM inter
             |  JOIN sizes za ON za.doc_id = doc_a
             |  JOIN sizes zb ON zb.doc_id = doc_b
             |  WHERE inter_size * 5 >= (za.n + zb.n - inter_size) * 4),
             |sp AS (
             |  SELECT doc_id,
             |    CASE WHEN b < 10 THEN 'test'
             |         WHEN b < 20 THEN 'validation'
             |         ELSE 'train' END AS split
             |  FROM (SELECT doc_id,
             |          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
             |            % 100 AS b
             |        FROM documents)),
             |h AS (SELECT doc_id, md5(text) AS h FROM documents)
             |SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b,
             |       p.inter_size, p.union_size, ha.h = hb.h AS exact
             |FROM pairs p
             |JOIN sp sa ON sa.doc_id = p.doc_a
             |JOIN sp sb ON sb.doc_id = p.doc_b
             |JOIN h ha ON ha.doc_id = p.doc_a
             |JOIN h hb ON hb.doc_id = p.doc_b
             |WHERE sa.split <> sb.split""".stripMargin)),

    // d115: manifest verification — d109's audit companion, gated as a
    // wiring composition (the d54 pattern): verifying a corpus against
    // its own freshly-derived manifest must classify every shard `ok`
    // through the full-outer diff machinery; the perturbation statuses
    // (mismatch/missing/extra) are spec-pinned where the oracle cannot
    // reach them.
    Q("d115_manifest_verify",
      (s, d) => verifyManifest(documents(s, d),
        shardManifest(documents(s, d))),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             |         md5(text) AS h
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, n_tokens, h,
             |    cast(coalesce(sum(n_tokens) OVER (
             |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS BIGINT) // 2048 AS shard_id
             |  FROM t),
             |m AS (
             |  SELECT shard_id, md5(string_agg(h, '' ORDER BY h)) AS content_md5
             |  FROM p GROUP BY 1)
             |SELECT shard_id, 'ok' AS status,
             |       content_md5 AS expected_md5, content_md5 AS actual_md5
             |FROM m""".stripMargin)),

    // d114: leakage-free split assignment — d110's fix. The binding
    // feeds the memoized d14 components; the oracle composes d14's
    // recursive-CTE clustering with d69's md5 coin applied to the
    // cluster representative.
    Q("d114_cluster_safe_split",
      (s, d) => clusterSafeSplitFrom(documents(s, d),
        Similarity.connectedComponents(s,
            Similarity.nearDupPairs(s, d)
              .select(col("doc_a").as("a"), col("doc_b").as("b")))
          .select(col("v").as("doc_id"), col("lbl").as("cluster_id"))),
      Some("""WITH RECURSIVE np AS MATERIALIZED (
             |  WITH sh AS (
             |    SELECT DISTINCT doc_id, substring(t, i, 3) AS g
             |    FROM (SELECT doc_id, lower(text) AS t FROM documents) dd,
             |         LATERAL (SELECT unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i) u
             |  ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |  inter AS (
             |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_size
             |    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
             |    GROUP BY 1, 2)
             |  SELECT doc_a, doc_b FROM inter
             |  JOIN sizes za ON za.doc_id = doc_a
             |  JOIN sizes zb ON zb.doc_id = doc_b
             |  WHERE inter_size * 5 >= (za.n + zb.n - inter_size) * 4
             |),
             |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM np UNION ALL SELECT doc_b, doc_a FROM np),
             |nodes AS (SELECT DISTINCT a AS v FROM edges),
             |reach AS (
             |  SELECT v, v AS l FROM nodes
             |  UNION
             |  SELECT r.v, e.b AS l FROM reach r JOIN edges e ON e.a = r.l
             |),
             |lab AS (SELECT v, min(l) AS cluster_id FROM reach GROUP BY v),
             |rep AS (
             |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS rep_id
             |  FROM documents d LEFT JOIN lab l ON l.v = d.doc_id)
             |SELECT doc_id, rep_id,
             |  CAST('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 8) AS BIGINT)
             |    % 100 AS bucket,
             |  CASE WHEN CAST('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 8) AS BIGINT)
             |            % 100 < 10 THEN 'test'
             |       WHEN CAST('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 8) AS BIGINT)
             |            % 100 < 20 THEN 'validation'
             |       ELSE 'train' END AS split
             |FROM rep""".stripMargin)),

    // d43: chunk-granularity packing — d42's sliding windows fed through
    // d23's prefix-sum packer in (doc_id, chunk_id) order. The oracle is
    // the literal composition of those two queries' SQL, so the
    // composite-id round trip (encode, range-shuffle, decode) is
    // hash-gated end-to-end.
    Q("d43_pack_chunks",
      (s, d) => packChunkShards(documents(s, d)),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
             |  FROM documents),
             |n AS (
             |  SELECT doc_id, toks,
             |         CAST(greatest(ceil((len(toks) - 64) / 32.0), 0) + 1 AS INT) AS nch
             |  FROM t),
             |c AS (SELECT doc_id, toks, unnest(range(0, nch)) AS chunk_id FROM n),
             |ch AS (
             |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |         CAST(len(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 64)) AS BIGINT) AS n_tokens
             |  FROM c)
             |SELECT doc_id, chunk_id, n_tokens,
             |  cast(coalesce(sum(n_tokens) OVER (
             |    ORDER BY doc_id, chunk_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |    0) AS BIGINT) // 2048 AS shard_id
             |FROM ch""".stripMargin)),

    Q("d26_mix_weights",
      (s, d) => mixWeights(documents(s, d)),
      Some("""WITH c AS (
             |  SELECT lang, source, count(*) AS n_docs,
             |         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1, 2),
             |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             |             count(*) AS n_cells FROM c)
             |SELECT lang, source, n_docs, n_tokens,
             |       CAST(total_tokens AS DOUBLE) / CAST(n_cells * n_tokens AS DOUBLE) AS weight
             |FROM c, t""".stripMargin)),

    // d32: the explicit-targets branch of d26 — caller-given fractions
    // override the uniform share, and a cell ABSENT from the targets
    // frame surfaces as an explicit weight-0 row (the left-join
    // semantics), not a missing one. Single-dim cells (lang) so the
    // targets frame covers a strict subset: en/es (both present in the
    // fixture corpus — langs are en/es/de/fr/zh) get fractions, the
    // other langs get 0; two MATCHED fractions keep the
    // frac-propagation path gated, not just the coalesce-0 path. Both
    // engines compute coalesce(frac, 0) * total / n_tokens in the same
    // literal-double arithmetic order, so the gate is hash-exact.
    Q("d32_mix_targets",
      (s, d) => {
        import s.implicits._
        val targets = Seq(("en", 0.7), ("es", 0.3)).toDF("lang", "target_frac")
        mixWeights(documents(s, d), dims = Seq("lang"), targets = Some(targets))
      },
      Some("""WITH c AS (
             |  SELECT lang, count(*) AS n_docs,
             |         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1),
             |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM c),
             |tg AS (SELECT * FROM (VALUES
             |        ('en', CAST(0.7 AS DOUBLE)),
             |        ('es', CAST(0.3 AS DOUBLE))) AS v(lang, target_frac))
             |SELECT lang, n_docs, n_tokens,
             |       COALESCE(tg.target_frac, CAST(0.0 AS DOUBLE)) *
             |         CAST(total_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS weight
             |FROM (SELECT c.*, total_tokens FROM c, t) ct
             |LEFT JOIN tg USING (lang)""".stripMargin)),

    Q("d29_apply_mix",
      (s, d) => {
        val docs = documents(s, d)
        applyMix(docs, mixWeights(docs))
      },
      Some("""WITH c AS (
             |  SELECT lang, source, count(*) AS n_docs,
             |         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1, 2),
             |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             |             count(*) AS n_cells FROM c),
             |w AS (SELECT lang, source,
             |             CAST(total_tokens AS DOUBLE) / CAST(n_cells * n_tokens AS DOUBLE) AS weight
             |      FROM c, t)
             |SELECT d.doc_id, d.lang, d.source,
             |       CAST(floor(weight) AS BIGINT) +
             |       CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
             |                 printf('%08x', CAST(least(4294967295, floor((weight - floor(weight)) * 4294967296.0)) AS BIGINT))
             |            THEN 1 ELSE 0 END AS n_copies
             |FROM documents d JOIN w USING (lang, source)""".stripMargin)),

    // d31: the materialized mix — d29's copy counts expanded into the
    // resampled corpus rows. Same deterministic md5 coin, so the full
    // expansion (which docs appear, how many times, tagged 1..n) is
    // hash-gated cross-engine; DuckDB's range(1, n+1) unnest mirrors
    // Spark's sequence(1, n) under the shared n_copies > 0 guard (Spark's
    // sequence(1, 0) is the descending [1, 0], DuckDB's range(1, 1) is
    // empty — the guard keeps the engines on the same rows).
    Q("d31_materialize_mix",
      (s, d) => {
        val docs = documents(s, d)
        materializeMix(docs, mixWeights(docs))
      },
      Some("""WITH c AS (
             |  SELECT lang, source, count(*) AS n_docs,
             |         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1, 2),
             |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             |             count(*) AS n_cells FROM c),
             |w AS (SELECT lang, source,
             |             CAST(total_tokens AS DOUBLE) / CAST(n_cells * n_tokens AS DOUBLE) AS weight
             |      FROM c, t),
             |a AS (SELECT d.doc_id, d.lang, d.source,
             |             CAST(floor(weight) AS BIGINT) +
             |             CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
             |                       printf('%08x', CAST(least(4294967295, floor((weight - floor(weight)) * 4294967296.0)) AS BIGINT))
             |                  THEN 1 ELSE 0 END AS n_copies
             |      FROM documents d JOIN w USING (lang, source))
             |SELECT doc_id, lang, source, CAST(u.i AS BIGINT) AS copy_idx
             |FROM a, LATERAL (SELECT unnest(range(1, n_copies + 1)) AS i) u
             |WHERE n_copies > 0""".stripMargin)),

    // d85 binds TextOps.snapshotDiff here (the EXTENDED set): TextOps'
    // own list feeds the bench's frozen 31-query baseline total, which
    // must not grow (round-over-round ratios would stop being
    // apples-to-apples). The planted new snapshot drops doc_id % 3 = 0,
    // mutates % 5 = 0, and keeps the rest — all four statuses appear.
    Q("d85_snapshot_diff",
      (s, d) => {
        val docs = documents(s, d)
        TextOps.snapshotDiff(
          docs.where(col("doc_id") % 3 =!= 2),
          docs.where(col("doc_id") % 3 =!= 0)
            .select(col("doc_id"),
              when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
                .otherwise(col("text")).as("text")))
      },
      Some("""WITH o AS (
             |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 <> 2),
             |n AS (
             |  SELECT doc_id,
             |         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
             |                  ELSE text END) AS h
             |  FROM documents WHERE doc_id % 3 <> 0)
             |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             |       CASE WHEN o.doc_id IS NULL THEN 'added'
             |            WHEN n.doc_id IS NULL THEN 'removed'
             |            WHEN o.h = n.h THEN 'same' ELSE 'changed' END AS status,
             |       o.h AS old_hash, n.h AS new_hash
             |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin)),

    Q("d84_quality_topk",
      (s, d) => qualityTopK(documents(s, d)),
      Some("""WITH s AS (
             |  SELECT doc_id, lang,
             |         regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             |  FROM documents),
             |q AS (SELECT doc_id, lang,
             |        CAST(len(list_filter(ws,
             |          w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
             |          / len(ws) AS stopword_ratio
             |      FROM s),
             |rk AS (SELECT doc_id, lang, stopword_ratio,
             |        CAST(row_number() OVER (PARTITION BY lang
             |          ORDER BY stopword_ratio DESC, doc_id) AS BIGINT) AS rank
             |       FROM q)
             |SELECT lang, doc_id, stopword_ratio, rank FROM rk
             |WHERE rank <= 10""".stripMargin)),

    Q("d87_shuffle_order",
      (s, d) => shuffleOrder(documents(s, d)),
      Some("""SELECT doc_id,
             |       CAST(row_number() OVER (
             |         ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id)
             |         AS BIGINT) AS position
             |FROM documents""".stripMargin)),

    Q("d88_interleave_order",
      (s, d) => interleaveOrder(documents(s, d)),
      Some("""WITH k AS (
             |  SELECT doc_id, source,
             |         md5('graft:' || CAST(doc_id AS VARCHAR)) AS skey
             |  FROM documents),
             |r AS (
             |  SELECT doc_id, source,
             |         CAST(row_number() OVER (
             |           PARTITION BY source ORDER BY skey, doc_id)
             |           AS BIGINT) AS rank_in_group
             |  FROM k)
             |SELECT doc_id, source, rank_in_group,
             |       CAST(row_number() OVER (ORDER BY rank_in_group, source)
             |         AS BIGINT) AS position
             |FROM r""".stripMargin)),

    Q("d89_temperature_mix",
      (s, d) => temperatureWeights(documents(s, d)),
      Some("""WITH c AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY source),
             |m AS (SELECT max(n_docs) AS mx FROM c)
             |SELECT source, n_docs,
             |       sqrt(CAST(mx AS DOUBLE) / n_docs) AS weight
             |FROM c, m""".stripMargin)),

    Q("d91_epoch_plan",
      (s, d) => epochPlan(documents(s, d)),
      Some("""WITH c AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY source),
             |m AS (SELECT max(n_docs) AS mx FROM c),
             |w AS (SELECT source, sqrt(CAST(mx AS DOUBLE) / n_docs) AS weight
             |      FROM c, m),
             |a AS (SELECT d.doc_id, d.source,
             |             CAST(floor(weight) AS BIGINT) +
             |             CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
             |                       printf('%08x', CAST(least(4294967295, floor((weight - floor(weight)) * 4294967296.0)) AS BIGINT))
             |                  THEN 1 ELSE 0 END AS n_copies
             |      FROM documents d JOIN w USING (source)),
             |e AS (SELECT doc_id, source, CAST(u.i AS BIGINT) AS copy_idx
             |      FROM a, LATERAL (SELECT unnest(range(1, n_copies + 1)) AS i) u
             |      WHERE n_copies > 0)
             |SELECT doc_id, source, copy_idx,
             |       CAST(row_number() OVER (ORDER BY
             |         md5('graft:' || CAST(doc_id AS VARCHAR) || ':' ||
             |             CAST(copy_idx AS VARCHAR)),
             |         doc_id, copy_idx) AS BIGINT) AS position
             |FROM e""".stripMargin)),

    Q("d92_curriculum_order",
      (s, d) => curriculumOrder(
        TextOps.qualityScore(documents(s, d))
          .select(col("doc_id"), col("stopword_ratio").as("score")),
        "score"),
      Some("""WITH s AS (
             |  SELECT doc_id,
             |         regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             |  FROM documents),
             |q AS (SELECT doc_id,
             |        CAST(len(list_filter(ws,
             |          w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
             |          / len(ws) AS score
             |      FROM s)
             |SELECT doc_id, score,
             |       CAST(row_number() OVER (ORDER BY score DESC, doc_id)
             |         AS BIGINT) AS position
             |FROM q""".stripMargin)),

    Q("d90_length_batches",
      (s, d) => lengthBatches(documents(s, d)),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         CAST(len(regexp_split_to_array(trim(text), '\s+'))
             |           AS BIGINT) AS n_tokens
             |  FROM documents),
             |b AS (
             |  SELECT doc_id, n_tokens,
             |         CAST(len(list_filter([8,16,32,64,128],
             |           e -> e <= n_tokens)) AS BIGINT) AS bucket
             |  FROM t),
             |r AS (
             |  SELECT doc_id, bucket, n_tokens,
             |         CAST(row_number() OVER (
             |           PARTITION BY bucket ORDER BY n_tokens, doc_id)
             |           AS BIGINT) AS rank_in_bucket
             |  FROM b)
             |SELECT doc_id, bucket, n_tokens, rank_in_bucket,
             |       (rank_in_bucket - 1) // 32 AS batch_idx
             |FROM r""".stripMargin)),

    Q("d67_gopher_rules",
      (s, d) => gopherRules(documents(s, d)),
      Some("""WITH f AS (
             |  SELECT doc_id,
             |    regexp_split_to_array(lower(trim(text)), '\s+') AS ws,
             |    length(text) - length(replace(text, '#', '')) AS n_hash,
             |    CAST((length(text) - length(replace(text, '...', ''))) / 3
             |         AS BIGINT) AS n_ell,
             |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT)
             |      AS n_nonspace
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |    CAST(len(ws) AS BIGINT) AS n_words,
             |    CAST(n_nonspace AS DOUBLE) / len(ws) AS mean_word_len,
             |    CAST(len(list_filter(ws,
             |        w -> w IN ('the','a','of','and','to','in'))) AS BIGINT)
             |      AS stop_hits,
             |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
             |         AS DOUBLE) / len(ws) AS alpha_ratio,
             |    CAST(n_hash + n_ell AS DOUBLE) / len(ws) AS symbol_ratio
             |  FROM f)
             |SELECT doc_id, n_words, mean_word_len, stop_hits, alpha_ratio,
             |  symbol_ratio,
             |  (n_words BETWEEN 50 AND 100000
             |   AND mean_word_len BETWEEN 3.0 AND 10.0
             |   AND stop_hits >= 2 AND alpha_ratio >= 0.8
             |   AND symbol_ratio <= 0.1) AS keep
             |FROM g""".stripMargin)),

    Q("d69_hash_split",
      (s, d) => hashSplit(documents(s, d)),
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
             |      % 100 AS bucket
             |  FROM documents)
             |SELECT doc_id, bucket,
             |  CASE WHEN bucket < 10 THEN 'test'
             |       WHEN bucket < 20 THEN 'validation'
             |       ELSE 'train' END AS split
             |FROM b""".stripMargin)),

    Q("d27_pii_scrub",
      (s, d) => piiScrub(documents(s, d)),
      Some("""SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             |    '\+?\b\d{3}[- ]?\d{3}[- ]?\d{4}\b', '<PHONE>', 'g') AS scrubbed,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
             |  CAST(len(regexp_extract_all(text, '\+?\b\d{3}[- ]?\d{3}[- ]?\d{4}\b')) AS BIGINT) AS n_phones
             |FROM documents""".stripMargin)),

    // d121: char-granularity duplicate-span intervals — Lee et al.'s
    // published ExactSubstr granularity (see dupSpanIntervalsChars).
    // The oracle replays the identical char-gram document-frequency +
    // gaps-and-islands pipeline on the whitespace-collapsed lowercase
    // text; integer outputs only, so the gate is hash-exact.
    Q("d121_char_dup_intervals",
      (s, d) => dupSpanIntervalsChars(documents(s, d)),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, i - 1 AS pos, substr(t, i, 30) AS gram
             |  FROM t, UNNEST(range(1, len(t) - 28)) AS r(i)),
             |nd AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
             |       GROUP BY gram HAVING count(*) >= 2),
             |hits AS (SELECT doc_id, pos FROM g JOIN nd USING (gram)),
             |isl AS (
             |  SELECT doc_id, pos,
             |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 30
             |              THEN 1 ELSE 0 END AS brk
             |  FROM hits),
             |isl2 AS (
             |  SELECT doc_id, pos,
             |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
             |  FROM isl)
             |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             |       CAST(max(pos) + 29 AS BIGINT) AS span_end,
             |       CAST(count(*) AS BIGINT) AS n_dup_grams
             |FROM isl2 GROUP BY doc_id, island""".stripMargin)),

    // d122: the char-granularity scrub. The oracle rebuilds kept text
    // from the per-char survivors of the covered-position set — the
    // engine's interval-fold rebuild concatenates exactly those chars
    // in order, so the two formulations agree string-for-string.
    Q("d122_char_dedup_scrub",
      (s, d) => dedupScrubChars(documents(s, d)),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, i - 1 AS pos, substr(t, i, 30) AS gram
             |  FROM t, UNNEST(range(1, len(t) - 28)) AS r(i)),
             |nd AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
             |       GROUP BY gram HAVING count(*) >= 2),
             |hits AS (SELECT doc_id, pos FROM g JOIN nd USING (gram)),
             |cov AS (SELECT DISTINCT doc_id, pos + o AS p
             |        FROM hits, UNNEST(range(0, 30)) AS r(o)),
             |chars AS (SELECT doc_id, i - 1 AS p, substr(t, i, 1) AS ch
             |          FROM t, UNNEST(range(1, len(t) + 1)) AS r(i)),
             |kept AS (
             |  SELECT c.doc_id, c.p, c.ch
             |  FROM chars c LEFT JOIN cov v ON c.doc_id = v.doc_id AND c.p = v.p
             |  WHERE v.p IS NULL),
             |agg AS (SELECT doc_id, string_agg(ch, '' ORDER BY p) AS clean_text,
             |               CAST(count(*) AS BIGINT) AS n_kept_chars
             |        FROM kept GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
             |       coalesce(a.n_kept_chars, CAST(0 AS BIGINT)) AS n_kept_chars
             |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin)))
}
