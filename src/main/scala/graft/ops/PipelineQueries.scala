package graft.ops

import org.apache.spark.sql.functions._

/** Driver registration for the composed end-to-end curation pipeline.
  *
  * d54 runs [[Curation.trainingShards]] — exact + near-dup dedup →
  * Gopher-style quality filter → CCNet perplexity tail-drop →
  * benchmark decontamination → token-budget shard packing — as ONE
  * registered query, hash-gated by the literal SQL composition of its
  * stages' individual oracles (d01/d06/d14's closure, d20, d45, d22,
  * d23). Every stage is already oracle-gated alone; this entry gates
  * the COMPOSITION: filter ordering, subset-relative perplexity
  * terciles (computed over the post-quality corpus, not the raw one),
  * the anti-join semantics, and the final prefix-sum packing over the
  * surviving docs, end to end.
  *
  * ORACLE SHAPE LESSONS (both measured at sf0.1, where the un-fixed
  * oracle spilled > 78 GB of DuckDB temp and never finished; 20 s
  * after the fixes, row-for-row equal to the Spark output):
  *  1. Every multiply-referenced CTE is MATERIALIZED — DuckDB inlines
  *     plain CTEs per reference and this chain multiplies
  *     (tr ×4 → dd ×4 → aq ×4 → ap ×3 …), the d188 unrolled-prune
  *     lesson on a composed pipeline.
  *  2. NO `LATERAL UNNEST(range(len(t)))` position fan-outs — DuckDB
  *     decorrelates each one into a hash join keyed on EVERY
  *     correlated column, here the full document text (`t IS NOT
  *     DISTINCT FROM t` in the plan), so each fan-out materializes a
  *     build side of (text × position) rows carrying the whole text
  *     per row, and several of them schedule concurrently. The
  *     n-gram/bigram expansions are written as
  *     `unnest(list_transform(range(...), i -> ...))` projections
  *     instead: same rows, zero joins, no correlation.
  * Both rewrites are semantics-neutral (same rows, same hash); Spark
  * is unaffected (the SQL is DuckDB-side only).
  */
object PipelineQueries {

  /** d22's eval-slice convention: a deterministic ~1% slice of
    * `documents` stands in for a benchmark. */
  private val EvalPred = "doc_id % 97 = 0"

  def queries: Seq[Q] = Seq(
    Q("d54_training_shards",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.trainingShards(
          docs.where(not(expr(EvalPred))),
          docs.where(expr(EvalPred)),
          dropPplTail = true)
      },
      Some(s"""WITH RECURSIVE
          |tr AS MATERIALIZED (SELECT * FROM documents WHERE NOT ($EvalPred)),
          |ev AS (SELECT * FROM documents WHERE $EvalPred),
          |ek AS (SELECT min(doc_id) AS doc_id FROM tr GROUP BY md5(text)),
          |np AS MATERIALIZED (
          |  WITH sh AS (
          |    SELECT DISTINCT doc_id,
          |           unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
          |                                 i -> substring(t, i, 3))) AS g
          |    FROM (SELECT doc_id, lower(text) AS t FROM tr) dd
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
          |edges AS MATERIALIZED (
          |  SELECT doc_a AS a, doc_b AS b FROM np
          |  UNION ALL SELECT doc_b, doc_a FROM np),
          |nodes AS (SELECT DISTINCT a AS v FROM edges),
          |reach AS (
          |  SELECT v, v AS l FROM nodes
          |  UNION
          |  SELECT r.v, e.b AS l FROM reach r JOIN edges e ON e.a = r.l),
          |lab AS (SELECT v, min(l) AS cluster_id FROM reach GROUP BY v),
          |dd AS MATERIALIZED (
          |  SELECT tr.* FROM tr JOIN ek USING (doc_id)
          |  WHERE doc_id NOT IN (SELECT v FROM lab WHERE v <> cluster_id)),
          |qw AS MATERIALIZED (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM dd),
          |qbi AS (SELECT doc_id,
          |               unnest(list_transform(range(1, len(ws)),
          |                                     i -> ws[i] || ' ' || ws[i+1])) AS bg
          |        FROM qw),
          |qbc AS (SELECT doc_id, bg, count(*) AS c FROM qbi GROUP BY 1, 2),
          |qagg AS (SELECT doc_id, max(c) AS top_bigram_count,
          |                CAST(sum(c) AS BIGINT) AS n_bigrams
          |         FROM qbc GROUP BY 1),
          |keepq AS (
          |  SELECT qw.doc_id FROM qw LEFT JOIN qagg USING (doc_id)
          |  WHERE len(ws) >= 5
          |    AND CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws) <= 0.9
          |    AND (CASE WHEN coalesce(n_bigrams, 0) > 0
          |         THEN CAST(top_bigram_count AS DOUBLE) / n_bigrams
          |         ELSE 0.0 END) <= 0.5),
          |aq AS MATERIALIZED (SELECT dd.* FROM dd JOIN keepq USING (doc_id)),
          |pw AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM aq),
          |ptok AS MATERIALIZED (SELECT doc_id, unnest(ws) AS token FROM pw),
          |pdt AS (SELECT doc_id, token, count(*) AS m FROM ptok GROUP BY 1, 2),
          |pv AS MATERIALIZED (SELECT token, count(*) AS cnt FROM ptok GROUP BY 1),
          |pt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
          |              CAST(count(*) AS DOUBLE) AS nv FROM pv),
          |pp AS MATERIALIZED (
          |  SELECT doc_id,
          |    round(exp(-sum(m * ln((cnt + 1) / (total + nv))) / sum(m)), 4) AS ppl
          |  FROM pdt JOIN pv USING (token), pt
          |  GROUP BY doc_id),
          |pl AS MATERIALIZED (SELECT pp.doc_id, a.lang, pp.ppl
          |       FROM pp JOIN aq a ON pp.doc_id = a.doc_id),
          |pth AS (SELECT lang,
          |               round(quantile_cont(ppl, CAST(1 AS DOUBLE) / 3), 4) AS t1,
          |               round(quantile_cont(ppl, CAST(2 AS DOUBLE) / 3), 4) AS t2
          |        FROM pl GROUP BY lang),
          |ap AS MATERIALIZED (SELECT aq.* FROM aq JOIN (
          |         SELECT doc_id FROM pl JOIN pth USING (lang)
          |         WHERE NOT (ppl > t2)) USING (doc_id)),
          |cg AS (SELECT DISTINCT doc_id,
          |              unnest(list_transform(range(1, len(ws) - 1),
          |                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
          |       FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM ap)),
          |eg AS (SELECT DISTINCT doc_id,
          |              unnest(list_transform(range(1, len(ws) - 1),
          |                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
          |       FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM ev)),
          |cont AS (
          |  SELECT doc_id FROM (
          |    SELECT c.doc_id, e.doc_id AS bench_id, count(*) AS n_shared
          |    FROM cg c JOIN eg e ON c.gram = e.gram GROUP BY 1, 2)
          |  GROUP BY doc_id HAVING max(n_shared) > 10),
          |kept AS (SELECT ap.* FROM ap WHERE doc_id NOT IN (SELECT doc_id FROM cont))
          |SELECT doc_id, n_tokens,
          |  CAST(coalesce(sum(n_tokens) OVER (
          |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |    0) AS BIGINT) // 2048 AS shard_id
          |FROM (
          |  SELECT doc_id,
          |         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
          |  FROM kept)""".stripMargin)))
}
