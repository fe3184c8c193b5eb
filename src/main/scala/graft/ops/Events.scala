package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Behavioral event analytics over the `events` stream — the cohort and
  * funnel queries every product-analytics warehouse runs, expressed
  * set-oriented (joins + aggregations, no per-user iteration) so they
  * scale as plain shuffles on the user key. Timestamps follow the
  * engine's epoch-µs Long convention ([[Tables.events]]).
  */
object Events {

  private val DayUs = 86400000000L

  /** Cohort retention (d116): users are cohorted by their FIRST active
    * day; for every (cohort_day, day_offset) cell, how many of that
    * cohort's users were active offset days later — the classic
    * retention triangle. In: (user_id, ts_us). Out: (cohort_day,
    * day_offset, n_users), all exact longs.
    *
    * Scale: distinct (user, day) first — the only corpus-width shuffle,
    * partial-aggregated map-side — then a user-keyed min and a
    * cells-sized rollup. The cohort attach is an equi-join on user_id
    * against a #users-row frame (AQE broadcasts it when small). */
  def cohortRetention(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
      .distinct()
    val cohorts = days.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Ordered funnel analysis (d117): per user, the furthest step
    * reached through `steps` IN TEMPORAL ORDER — step k counts only if
    * it happened STRICTLY AFTER the user's completion of step k−1
    * (earliest-completion semantics: the first step-1 event, then the
    * first step-2 event after it, and so on — the standard conversion
    * funnel, immune to out-of-order step events). One row per user:
    * (user_id, step timestamps as epoch-µs longs with NULL past the
    * drop-off, reached_step 0..k).
    *
    * Scale: one user-keyed min-aggregate per step over that step's
    * filtered events (k narrow passes + k user-keyed joins on
    * #users-row frames) — no windows, no per-user sort; the event scan
    * is shared by AQE where plans coincide. */
  def funnel(events: DataFrame,
      steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    val users = events.select(col("user_id")).distinct()
    // per step j: (user_id, stepJ_us) for users who completed steps
    // 1..j in order — each frame bounds the next (events strictly after
    // the user's previous completion, then the user-keyed min)
    var prev: Option[DataFrame] = None
    val stepFrames = steps.zipWithIndex.map { case (step, j) =>
      val evs = events.where(col("event_type") === step)
        .select(col("user_id"), col("ts_us"))
      val bounded = prev match {
        case None => evs
        case Some(p) =>
          evs.join(p, Seq("user_id")).where(col("ts_us") > col("prev_ts"))
      }
      val f = bounded.groupBy(col("user_id"))
        .agg(min(col("ts_us")).as(s"step${j + 1}_us"))
      prev = Some(f.select(col("user_id"), col(s"step${j + 1}_us").as("prev_ts")))
      f
    }
    val joined = stepFrames.foldLeft(users)(
      (acc, f) => acc.join(f, Seq("user_id"), "left"))
    // ascending fold wraps the HIGHEST completed step outermost
    val reachedStep = steps.indices.foldLeft(lit(0L)) { (acc, j) =>
      when(col(s"step${j + 1}_us").isNotNull, lit((j + 1).toLong)).otherwise(acc)
    }
    joined.select((col("user_id") +:
      steps.indices.map(j => col(s"step${j + 1}_us"))) :+
      reachedStep.as("reached_step"): _*)
  }

  /** Event-transition matrix (d118): counts of consecutive event-type
    * pairs within each user's (ts, event_id)-ordered stream — the
    * first-order Markov view behavioral models start from (and the
    * diagnostic that surfaces e.g. error→error loops). In: (user_id,
    * event_id, ts_us, event_type). Out: (from_type, to_type, n).
    *
    * Scale: the lead() window is PARTITIONED BY USER (q23's shape — a
    * user's history sorts within one task; per-user volumes are
    * app-bounded, and a pathological power-user key would be salted by
    * day the same way q23's sessions would). The rollup is
    * #types²-sized. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events.select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** RFM user-value aggregation (d119): per user, recency (days since
    * their last PURCHASE, measured against the stream's last day),
    * frequency (purchase count) and monetary (exact decimal sum of
    * purchase values) — the classic customer-value segmentation input.
    * Users who never purchased surface with NULL recency / 0 / 0
    * rather than vanishing. In: (user_id, ts_us, event_type, value).
    * Out: (user_id, recency_days, frequency, monetary).
    *
    * Scale: one filtered user-keyed aggregate plus a 1-row broadcast
    * corpus-max (the d26 totals shape) and a left join onto the
    * distinct-user frame. Monetary runs through the decimal-exact
    * [[Tables.decSum]] convention. */
  def rfm(events: DataFrame): DataFrame = {
    val lastDay = events.agg(max(expr(s"ts_us div $DayUs")).as("corpus_last_day"))
    val purchases = events.where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(expr(s"ts_us div $DayUs")).as("last_day"),
        count(lit(1)).as("frequency"),
        decSum(col("value")).as("monetary"))
    events.select(col("user_id")).distinct()
      .join(purchases, Seq("user_id"), "left")
      .crossJoin(broadcast(lastDay))
      .select(col("user_id"),
        (col("corpus_last_day") - col("last_day")).as("recency_days"),
        coalesce(col("frequency"), lit(0L)).as("frequency"),
        coalesce(col("monetary"), lit(0.0)).as("monetary"))
  }

  /** Rolling active users (d120): for every day in the stream's span,
    * how many distinct users were active in the trailing `window` days
    * — the WAU/MAU family. A sliding DISTINCT count cannot partial-
    * aggregate directly; the set-oriented shape is: distinct
    * (user, day) once, fan each row out to the `window` report days it
    * supports (an explode of a sequence — window-bounded, not
    * data-dependent), re-distinct on (report_day, user), and count.
    * Report days with no activity in range are absent (matching the
    * fan-out domain); days fanned past the stream's last day are
    * clipped. In: (user_id, ts_us). Out: (day, n_users), exact longs.
    *
    * Scale: the corpus-width work is the one distinct (user, day)
    * aggregation; the fan-out multiplies that DISTINCT set by the
    * window constant, never raw events. */
  def rollingActiveUsers(events: DataFrame, window: Int = 7): DataFrame = {
    require(window >= 1, "need window >= 1")
    val days = events
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
      .distinct()
    val lastDay = days.agg(max(col("day")).as("last_day"))
    days
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + lit(window - 1))).as("day"))
      .distinct()
      .crossJoin(broadcast(lastDay))
      .where(col("day") <= col("last_day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Daily-volume anomaly detection (d124): per day, the event count's
    * z-score against the TRAILING `window`-day baseline (current day
    * excluded — an anomalous day must not dilute its own baseline).
    * The ops-dashboard staple for ingest monitoring: a scraper outage
    * or a bot flood shows as |z| > 2 against the trailing week. Out:
    * (day, n_events, base_n, base_mean, base_std, z, is_anomaly) —
    * base_* NULL until 2 baseline days exist, z NULL when the baseline
    * variance is 0, is_anomaly false on NULL z.
    *
    * Determinism: the baseline window carries exact INTEGER sum and
    * sum-of-squares; mean/variance derive from those longs through one
    * fixed double expression (guarded against the tiny negative
    * variance float cancellation can produce when all baseline counts
    * are equal), so both engines compute bit-identical doubles and the
    * rounded outputs hash-match. The window is a RANGE frame over the
    * day number, so calendar gaps (days with zero events are absent
    * rows) still baseline against the true trailing week.
    *
    * Scale: the window runs over the DAILY AGGREGATE — one row per
    * calendar day, bounded by time range, never by event volume; the
    * only corpus-width work is the per-day count's shuffle. A
    * single-partition window over a calendar-bounded frame is fine at
    * any corpus size (this is the same adjudication as d26's totals). */
  def dailyAnomalies(events: DataFrame, window: Int = 7): DataFrame = {
    require(window >= 2, "need window >= 2")
    val daily = events
      .select(expr(s"ts_us div $DayUs").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
    val base = Window.orderBy(col("day")).rangeBetween(-window, -1)
    val stats = daily
      .withColumn("base_n", count(col("n_events")).over(base))
      .withColumn("s1", sum(col("n_events")).over(base))
      .withColumn("s2", sum(col("n_events") * col("n_events")).over(base))
    val mean = col("s1").cast(DoubleType) / col("base_n")
    val variance = greatest(
      (col("s2").cast(DoubleType) - col("s1").cast(DoubleType) * col("s1") / col("base_n")) /
        (col("base_n") - 1), lit(0.0))
    val std = sqrt(variance)
    val z = when(col("base_n") >= 2 && std > 0.0,
      (col("n_events").cast(DoubleType) - mean) / std)
    stats.select(col("day"), col("n_events"), col("base_n"),
      round(when(col("base_n") >= 2, mean), 4).as("base_mean"),
      round(when(col("base_n") >= 2, std), 4).as("base_std"),
      round(z, 4).as("z"),
      coalesce(abs(z) > 2.0, lit(false)).as("is_anomaly"))
  }

  /** Gap-based sessionization (d142): split each user's event stream
    * into sessions wherever the gap to the previous event exceeds
    * `gapMinutes`, then aggregate per-session shape — the standard
    * first step of behavioral analysis (session length/depth feed
    * engagement metrics, bot filters, and the d117 funnel's upstream).
    * The per-SESSION detail table — q23 is its per-USER rollup
    * (session/event counts only). In: (user_id, event_id, event_type,
    * ts_us). Out: (user_id, session_idx, session_start_us,
    * session_end_us, duration_us, n_events, n_event_types) —
    * session_idx is 1-based in first-event order; every value an exact
    * long, so the oracle replays the identical lag/running-sum/rollup.
    *
    * Semantics: a session BOUNDARY is a strict gap (ts − prev >
    * gap µs); ties within a user order by (ts_us, event_id) — the
    * d118 convention — so the running boundary count is deterministic.
    *
    * Scale: ONE shuffle on user_id serves the whole plan — the lag
    * window, the running-sum window, and the (user_id, session_idx)
    * rollup all live inside that partitioning (the group keys extend
    * the partition key, so no re-exchange; Spark sorts each user's
    * slice once and both windows share it). Per-user state is a sort
    * of that user's events, never corpus-global — the shape that
    * survives a 100 TB event log as long as no single user is a
    * meaningful fraction of the corpus (a hot bot user would be capped
    * upstream, the d127 basket adjudication). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    require(gapMinutes >= 1, "need gapMinutes >= 1")
    val gapUs = gapMinutes.toLong * 60000000L
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(order))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_sess")).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"),
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_event_types"))
  }

  def queries: Seq[Q] = Seq(

    // d142: 30-minute-gap sessionization — exact longs end to end; the
    // oracle replays the identical lag / boundary-flag / running-sum /
    // per-session rollup with the same (ts, event_id) tie order.
    Q("d142_sessionize",
      (s, d) => sessionize(events(s, d)),
      Some("""WITH s AS (
             |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
             |           ORDER BY epoch_us(ts), event_id) AS prev_us
             |  FROM events),
             |f AS (
             |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
             |                 THEN 1 ELSE 0 END AS new_sess
             |  FROM s),
             |g AS (
             |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
             |    ORDER BY ts_us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
             |  FROM f)
             |SELECT user_id, session_idx,
             |       CAST(min(ts_us) AS BIGINT) AS session_start_us,
             |       CAST(max(ts_us) AS BIGINT) AS session_end_us,
             |       CAST(max(ts_us) - min(ts_us) AS BIGINT) AS duration_us,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types
             |FROM g GROUP BY 1, 2""".stripMargin)),

    // d124: trailing-window daily-volume z-scores — the baseline sums
    // stay exact integers, so the derived doubles are expression-
    // identical in both engines (rounded to 4 for the hash).
    Q("d124_event_anomaly",
      (s, d) => dailyAnomalies(events(s, d)),
      Some("""WITH daily AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day,
             |         CAST(count(*) AS BIGINT) AS n_events
             |  FROM events GROUP BY 1),
             |w AS (
             |  SELECT day, n_events,
             |         CAST(count(n_events) OVER b AS BIGINT) AS base_n,
             |         CAST(sum(n_events) OVER b AS BIGINT) AS s1,
             |         CAST(sum(n_events * n_events) OVER b AS BIGINT) AS s2
             |  FROM daily
             |  WINDOW b AS (ORDER BY day RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
             |SELECT day, n_events, base_n,
             |  round(CASE WHEN base_n >= 2 THEN CAST(s1 AS DOUBLE) / base_n END, 4) AS base_mean,
             |  round(CASE WHEN base_n >= 2 THEN sqrt(greatest(
             |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / base_n) / (base_n - 1), 0.0)) END, 4) AS base_std,
             |  round(CASE WHEN base_n >= 2 AND sqrt(greatest(
             |      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / base_n) / (base_n - 1), 0.0)) > 0
             |    THEN (CAST(n_events AS DOUBLE) - CAST(s1 AS DOUBLE) / base_n)
             |         / sqrt(greatest((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / base_n) / (base_n - 1), 0.0))
             |    END, 4) + 0 AS z,
             |  coalesce(abs(CASE WHEN base_n >= 2 AND sqrt(greatest(
             |      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / base_n) / (base_n - 1), 0.0)) > 0
             |    THEN (CAST(n_events AS DOUBLE) - CAST(s1 AS DOUBLE) / base_n)
             |         / sqrt(greatest((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / base_n) / (base_n - 1), 0.0))
             |    END) > 2, false) AS is_anomaly
             |FROM w""".stripMargin)),

    // d120: trailing-7-day active users — exact longs; the oracle
    // replays the distinct fan-out with a LATERAL day range.
    Q("d120_rolling_active",
      (s, d) => rollingActiveUsers(events(s, d)),
      Some("""WITH dd AS (
             |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
             |  FROM events),
             |ld AS (SELECT max(day) AS last_day FROM dd),
             |f AS (
             |  SELECT DISTINCT user_id, day + o AS day
             |  FROM dd, LATERAL (SELECT unnest(range(0, 7)) AS o) u)
             |SELECT f.day, CAST(count(*) AS BIGINT) AS n_users
             |FROM f CROSS JOIN ld WHERE f.day <= ld.last_day
             |GROUP BY 1""".stripMargin)),

    // d119: RFM segmentation input — day arithmetic on exact longs,
    // decimal-exact monetary; never-purchased users kept with NULL
    // recency.
    Q("d119_rfm",
      (s, d) => rfm(events(s, d)),
      Some("""WITH ld AS (
             |  SELECT max(epoch_us(ts) // 86400000000) AS corpus_last_day FROM events),
             |p AS (
             |  SELECT user_id,
             |         max(epoch_us(ts) // 86400000000) AS last_day,
             |         CAST(count(*) AS BIGINT) AS frequency,
             |         CAST(sum(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS monetary
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |u AS (SELECT DISTINCT user_id FROM events)
             |SELECT u.user_id,
             |       ld.corpus_last_day - p.last_day AS recency_days,
             |       coalesce(p.frequency, 0) AS frequency,
             |       coalesce(p.monetary, 0.0) AS monetary
             |FROM u LEFT JOIN p USING (user_id) CROSS JOIN ld""".stripMargin)),

    // d118: first-order transition counts — integer-exact; the oracle
    // replays the identical per-user lead() ordering.
    Q("d118_event_transitions",
      (s, d) => eventTransitions(events(s, d)),
      Some("""WITH s AS (
             |  SELECT user_id, event_type,
             |         lead(event_type) OVER (PARTITION BY user_id
             |           ORDER BY epoch_us(ts), event_id) AS next_type
             |  FROM events)
             |SELECT event_type AS from_type, next_type AS to_type,
             |       CAST(count(*) AS BIGINT) AS n
             |FROM s WHERE next_type IS NOT NULL
             |GROUP BY 1, 2""".stripMargin)),

    // d116: cohort retention — exact longs end to end; the oracle
    // replays the distinct-day / min-day / offset rollup.
    Q("d116_cohort_retention",
      (s, d) => cohortRetention(events(s, d)),
      Some("""WITH dd AS (
             |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
             |  FROM events),
             |c AS (SELECT user_id, min(day) AS cohort_day FROM dd GROUP BY 1)
             |SELECT cohort_day, day - cohort_day AS day_offset,
             |       CAST(count(*) AS BIGINT) AS n_users
             |FROM dd JOIN c USING (user_id)
             |GROUP BY 1, 2""".stripMargin)),

    // d117: view -> click -> purchase funnel — earliest-completion
    // chain as correlated mins; epoch-µs longs and a 0..3 step count.
    Q("d117_funnel",
      (s, d) => funnel(events(s, d)),
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
             |v AS (SELECT user_id, min(epoch_us(ts)) AS v1 FROM events
             |      WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(epoch_us(ts)) AS c1 FROM events e
             |      JOIN v USING (user_id)
             |      WHERE event_type = 'click' AND epoch_us(ts) > v1 GROUP BY 1),
             |p AS (SELECT e.user_id, min(epoch_us(ts)) AS p1 FROM events e
             |      JOIN c USING (user_id)
             |      WHERE event_type = 'purchase' AND epoch_us(ts) > c1 GROUP BY 1)
             |SELECT u.user_id, v.v1 AS step1_us, c.c1 AS step2_us, p.p1 AS step3_us,
             |  CAST(CASE WHEN p.p1 IS NOT NULL THEN 3
             |            WHEN c.c1 IS NOT NULL THEN 2
             |            WHEN v.v1 IS NOT NULL THEN 1
             |            ELSE 0 END AS BIGINT) AS reached_step
             |FROM u LEFT JOIN v USING (user_id)
             |LEFT JOIN c USING (user_id)
             |LEFT JOIN p USING (user_id)""".stripMargin)))
}
