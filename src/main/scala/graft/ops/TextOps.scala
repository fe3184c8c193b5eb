package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Text-analysis / training-data-pipeline operators over a `documents`
  * corpus: exact dedup, token statistics, corpus word frequencies, quality
  * scoring. These are the oracle-testable (SQL-expressible) half; the
  * hash-sketch family (MinHash/SimHash/LSH) lives in Similarity.scala.
  *
  * Every operator is DataFrame-in / DataFrame-out (see each method's
  * column contract); the `queries` entries bind them to the driver's
  * `documents` test table.
  */
object TextOps {

  /** Exact deduplication groups: content-hash → (copies, keeper, size).
    * In: (text, doc_id, n_chars). At 100 TB this is the standard first
    * dedup pass: one shuffle on a 128-bit hash, never on the text. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("keeper_doc_id"),
        max(col("n_chars")).as("n_chars"))

  /** One-row corpus health report (d56) — the numbers a pipeline
    * operator checks before spending compute: corpus size, exact-dup
    * mass (docs beyond their text's first copy), language spread, token
    * total, and length percentiles. In: (doc_id, text, lang, n_chars).
    * Out: one row of scalars.
    *
    * Scale: one corpus scan into a single global aggregation (the two
    * count-distincts ride Spark's Expand; output is ONE row), plus the
    * exact-percentile buffer of d18's convention — swap in
    * approx_percentile at extreme scale. */
  def corpusReport(docs: DataFrame): DataFrame =
    docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique_texts"),
        countDistinct(col("lang")).as("n_langs"),
        sum(size(split(trim(col("text")), "\\s+")).cast(LongType))
          .as("total_tokens"),
        round(expr("percentile(n_chars, 0.5D)"), 4).as("p50_chars"),
        round(expr("percentile(n_chars, 0.99D)"), 4).as("p99_chars"))
      .withColumn("n_exact_dup_docs", col("n_docs") - col("n_unique_texts"))

  /** Per-group corpus health report (d94) — [[corpusReport]] broken out
    * by `groupCol`, the source-level triage view ("which feeds are
    * junk"): doc/unique/lang counts, token mass, exact length
    * percentiles, exact-dup count, and mean tokens/doc per group. Same
    * deterministic conventions as d56 (exact integer aggregates; the
    * one computed double is a single correctly-rounded division under
    * the round-to-4 convention d44 established). Out one row per group.
    *
    * Scale: one scan into a #groups-row aggregation; the two
    * count-distincts ride Spark's Expand (2 buffer passes), and the
    * exact-percentile buffer is d18's convention — swap in
    * approx_percentile at extreme scale. */
  def sourceReport(docs: DataFrame, groupCol: String = "source"): DataFrame =
    docs.groupBy(col(groupCol)).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique_texts"),
        countDistinct(col("lang")).as("n_langs"),
        sum(size(split(trim(col("text")), "\\s+")).cast(LongType))
          .as("total_tokens"),
        round(expr("percentile(n_chars, 0.5D)"), 4).as("p50_chars"),
        round(expr("percentile(n_chars, 0.99D)"), 4).as("p99_chars"))
      .withColumn("n_exact_dup_docs", col("n_docs") - col("n_unique_texts"))
      .withColumn("avg_tokens",
        round(col("total_tokens").cast(DoubleType) / col("n_docs"), 4))

  /** Whitespace token count + punctuation count per document.
    * In: (doc_id, text, n_chars). */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast(LongType).as("n_tokens"),
      col("n_chars"),
      (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
        .cast(LongType).as("n_punct"))

  /** Corpus top-k word frequencies (lowercased whitespace tokens).
    * In: (text). Explode + heavy groupBy shuffle + TakeOrdered top-k. */
  def wordFreq(docs: DataFrame, k: Int = 100): DataFrame =
    docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(k)

  /** Document quality signals: token count, mean token length, stopword
    * ratio. In: (doc_id, text). All ratios are double divisions of
    * identical integers → exact cross-engine parity. */
  def qualityScore(docs: DataFrame,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")): DataFrame = {
    // typed Columns, not interpolated SQL: a stopword containing a quote
    // ("don't") must stay data, never syntax, on this public API surface
    val stop = typedLit(stopwords)
    docs
      .withColumn("n_tokens", size(split(lower(trim(col("text"))), "\\s+")).cast(LongType))
      .withColumn("n_stop",
        size(filter(split(lower(trim(col("text"))), "\\s+"),
          w => array_contains(stop, w))).cast(LongType))
      .select(
        col("doc_id"),
        col("n_tokens"),
        (length(regexp_replace(col("text"), "\\s", "")).cast(DoubleType) / col("n_tokens"))
          .as("avg_token_len"),
        (col("n_stop").cast(DoubleType) / col("n_tokens")).as("stopword_ratio"))
  }

  /** Corpus snapshot diff (d85) — the audit a pipeline runs between two
    * crawls/versions of the same corpus before re-spending compute:
    * which documents were added, removed, changed (same id, different
    * content hash), or carried over unchanged. In: two (doc_id, text)
    * frames. Out: (doc_id, status in {added, removed, changed, same},
    * old_hash, new_hash).
    *
    * Scale: ONE full-outer equi-join on the unique doc_id key (sort-
    * merge, no skew possible), hashes computed in-scan — content never
    * compares byte-wise, so wide text columns only flow into md5. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("old_hash"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("new_hash"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "removed")
          .when(col("old_hash") === col("new_hash"), "same")
          .otherwise("changed").as("status"),
        col("old_hash"), col("new_hash"))
  }

  /** Corpus composition by language × source. In: (lang, source, n_chars). */
  def composition(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))

  /** Pairwise source-vocabulary overlap (d68) — the diagnostic a
    * mixture designer reads before weighting sources: for every source
    * pair, the exact Jaccard similarity of their word vocabularies
    * (plus both vocabulary sizes and the intersection count). A pair of
    * crawls with jaccard near 1 is the same content under two names —
    * weight one, not both. In: (source, text). Out: (source_a, source_b,
    * vocab_a, vocab_b, n_common, jaccard), source_a < source_b.
    *
    * Scale: everything shuffles at VOCABULARY width, never corpus width
    * — the distinct (source, word) set is the only large intermediate,
    * and the word-keyed self-join fans out at most #sources² rows per
    * word (sources are dozens, not millions). The tiny per-source size
    * frame broadcasts into the final join. */
  def sourceOverlap(docs: DataFrame, dim: String = "source"): DataFrame = {
    val vocab = docs
      .select(col(dim).as("g"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .distinct()
    val sizes = vocab.groupBy(col("g")).agg(count(lit(1)).as("n"))
    vocab.as("a")
      .join(vocab.withColumnRenamed("g", "g2").as("b"), "word")
      .where(col("g") < col("g2"))
      .groupBy(col("g"), col("g2"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.withColumnRenamed("n", "vocab_a")), Seq("g"))
      .join(broadcast(sizes.toDF("g2", "vocab_b")), Seq("g2"))
      .select(col("g").as("source_a"), col("g2").as("source_b"),
        col("vocab_a"), col("vocab_b"), col("n_common"),
        (col("n_common").cast(DoubleType) /
          (col("vocab_a") + col("vocab_b") - col("n_common"))).as("jaccard"))
  }

  /** Pairwise source DISTRIBUTION divergence (d104) — [[sourceOverlap]]
    * asks "do these sources share words"; this asks "do they USE them
    * alike": the Jensen–Shannon divergence between each pair's unigram
    * frequency distributions. 0 = identically distributed, ln 2 ≈ 0.693
    * = disjoint; symmetric and always finite (no smoothing needed —
    * one-sided terms weigh against the mixture). The drift monitor for
    * a periodically re-crawled corpus: JS(old, new) jumping is the
    * signal to re-fit mixture weights (d26) or the quality LM (d44).
    * In: (source, text). Out: (source_a, source_b, js_div), round-4
    * (the d15/d38 convention — the per-pair term sum is the only
    * order-sensitive op).
    *
    * Scale: per-source token counts partial-combine map-side (Zipf head
    * collapses before the shuffle), so the only wide data is the
    * (source, token) count table at vocabulary width. Each count row
    * then fans out to its #sources−1 pairs (a broadcast join against
    * the tiny source list — at most #sources² rows per token), and the
    * per-(pair, token) merge plus the final per-pair sum are two more
    * vocabulary-width partial aggregations. Nothing ever shuffles at
    * corpus width; #sources is dozens, never millions. */
  def sourceDivergence(docs: DataFrame, dim: String = "source"): DataFrame = {
    val counts = docs
      .select(col(dim).as("g"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("g")).agg(sum(col("c")).as("n"))
    val probs = counts.join(broadcast(totals), "g")
      .select(col("g"), col("tok"), (col("c").cast(DoubleType) / col("n")).as("p"))
    val srcs = probs.select(col("g").as("g2")).distinct()
    // route each source's mass to all its pairs, tagged by which side
    // of the (lexicographically ordered) pair it came from, then merge
    // the two sides per (pair, token) — absent mass arrives as 0
    val merged = probs.join(broadcast(srcs), col("g") =!= col("g2"))
      .select(least(col("g"), col("g2")).as("source_a"),
        greatest(col("g"), col("g2")).as("source_b"), col("tok"),
        when(col("g") < col("g2"), col("p")).otherwise(lit(0.0)).as("pa"),
        when(col("g") > col("g2"), col("p")).otherwise(lit(0.0)).as("pb"))
      .groupBy(col("source_a"), col("source_b"), col("tok"))
      .agg(sum(col("pa")).as("pa"), sum(col("pb")).as("pb"))
    val m = (col("pa") + col("pb")) / lit(2.0)
    val term =
      when(col("pa") > 0, lit(0.5) * col("pa") * log(col("pa") / m)).otherwise(lit(0.0)) +
      when(col("pb") > 0, lit(0.5) * col("pb") * log(col("pb") / m)).otherwise(lit(0.0))
    merged.groupBy(col("source_a"), col("source_b"))
      .agg(round(sum(term), 4).as("js_div"))
  }

  def queries: Seq[Q] = Seq(

    Q("d01_dedup_exact",
      (s, d) => dedupExact(documents(s, d)),
      Some("""SELECT md5(text) AS content_hash, count(*) AS n_copies,
             |min(doc_id) AS keeper_doc_id, max(n_chars) AS n_chars
             |FROM documents GROUP BY 1""".stripMargin)),

    Q("d02_token_stats",
      (s, d) => tokenStats(documents(s, d)),
      Some("""SELECT doc_id,
             |len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             |n_chars,
             |length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
             |FROM documents""".stripMargin)),

    Q("d03_word_freq",
      (s, d) => wordFreq(documents(s, d)),
      Some("""SELECT word, count(*) AS cnt FROM (
             |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
             |  FROM documents)
             |GROUP BY word ORDER BY cnt DESC, word LIMIT 100""".stripMargin)),

    Q("d04_quality_score",
      (s, d) => qualityScore(documents(s, d)),
      Some("""SELECT doc_id,
             |len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
             |CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
             |  / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS avg_token_len,
             |CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             |         w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
             |  / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS stopword_ratio
             |FROM documents""".stripMargin)),

    Q("d05_lang_source",
      (s, d) => composition(documents(s, d)),
      Some("""SELECT lang, source, count(*) AS n_docs,
             |CAST(sum(n_chars) AS BIGINT) AS total_chars
             |FROM documents GROUP BY lang, source""".stripMargin))
  )
}
