package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Analytics
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.SparkEntry.t

/** Registry queries of event and time-series analytics: windows, sessions,
  * funnels, cohorts, as-of joins and trends. Each query registers with its
  * oracle right after its body.
  */
private[graft] object AnalyticsQueries extends QueryFamily {

  /** SQL twin of one [[graft.operators.Analytics.corrPairs]] output row:
    * Pearson r from the exact decimal moment sums of CTE `m`, with the
    * identical left-to-right double arithmetic as the Spark side.
    */
  private def duckCorrArm(x: String, y: String): String =
    s"""SELECT '$x' AS x_col, '$y' AS y_col,
       |  round((CAST(n AS DOUBLE)*CAST(p_${x}__$y AS DOUBLE) - CAST(s_$x AS DOUBLE)*CAST(s_$y AS DOUBLE)) /
       |    sqrt((CAST(n AS DOUBLE)*CAST(q_$x AS DOUBLE) - CAST(s_$x AS DOUBLE)*CAST(s_$x AS DOUBLE)) *
       |         (CAST(n AS DOUBLE)*CAST(q_$y AS DOUBLE) - CAST(s_$y AS DOUBLE)*CAST(s_$y AS DOUBLE))), 6) AS corr_v
       |FROM m""".stripMargin

  /** SQL twins of [[graft.operators.Analytics.emaTrunc]]'s numerator and
    * denominator: the same exact-decimal weight literals ((1−α)ᵏ
    * terminates), one lag() term per depth step over the shared window `w`.
    */
  private def duckEmaW(k: Int, ratio: BigDecimal): String =
    (ratio.pow(k) * BigDecimal(10).pow(19)).toBigInt.toString

  private def duckEmaNum(depth: Int, ratio: BigDecimal): String =
    (0 until depth).map { k =>
      val x = if (k == 0) "xv" else s"lag(xv, $k) OVER w"
      s"COALESCE(($x) * CAST('${duckEmaW(k, ratio)}' AS DECIMAL(20,0)), CAST(0 AS DECIMAL(35,0)))"
    }.mkString(" + ")

  private def duckEmaDen(depth: Int, ratio: BigDecimal): String =
    (0 until depth).map { k =>
      val x = if (k == 0) "xv" else s"lag(xv, $k) OVER w"
      s"CASE WHEN ($x) IS NOT NULL THEN CAST('${duckEmaW(k, ratio)}' AS DECIMAL(20,0)) ELSE CAST(0 AS DECIMAL(20,0)) END"
    }.mkString(" + ")

  private def windowHourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
  query("q_window_hourly", windowHourly,
    """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
      |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2""".stripMargin)

  /** Hopping (overlapping) event-time windows — the Kafka-Streams window
    * kind the tumbling q_window_hourly doesn't cover: 2-hour windows every
    * 30 minutes, so each event lands in size/slide = 4 windows. Spark's
    * `window()` explodes the bounded per-event window list scan-side (a
    * generator, no self-join), then one partial-aggregated shuffle on
    * (window, type). Sums in DECIMAL — exact at any partition order.
    */
  private def windowHoppingQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "2 hours", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))
  // Hopping windows: an event at epoch-micros e lands in every window
  // whose slide-aligned start s satisfies e − size < s <= e — replayed as
  // an integer range over window indices (epochs positive, so floor
  // division == `//`)
  query("q_window_hopping", windowHoppingQ,
    """WITH ev AS (
      |  SELECT epoch_us(ts) AS eu, event_type, value FROM events
      |), w AS (
      |  SELECT event_type, value,
      |    unnest(range((eu - 7200000000) // 1800000000 + 1,
      |                 eu // 1800000000 + 1)) AS k
      |  FROM ev
      |)
      |SELECT make_timestamp(k * 1800000000) AS win_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM w GROUP BY 1, 2""".stripMargin)

  /** Native `session_window` aggregation — the streaming-capable
    * SessionWindows analog (Kafka Streams `SessionWindows.with(gap)`):
    * Spark's dedicated session-merge aggregate (sort-per-key, then merge
    * runs whose gap < 30 min), not a window function. Note the boundary
    * differs from [[sessionizeQ]] by design: `session_window` starts a new
    * session at gap >= 30 min (windows [ts, ts+gap) that merely touch do
    * NOT merge), the window-function islands at gap > 30 min.
    */
  private def sessionAggQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total"))
  // session_window islands: a new session starts at gap >= 30 min
  // (touching [ts, ts+gap) windows do NOT merge — note >=, where the
  // window-function sessionize uses >); end = last event + gap
  query("q_session_agg", sessionAggQ,
    """WITH x AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS ns
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT user_id, ts, value,
      |    SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM x)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM s GROUP BY user_id, session_seq""".stripMargin)

  /** Stream-stream windowed join: for each purchase, the views by the same
    * user in the preceding hour (inclusive), aggregated per purchase —
    * the KStream⋈KStream JoinWindows shape over the banded equi-join
    * ([[Analytics.intervalJoin]]), never a key-only join with a range
    * post-filter.
    */
  private def intervalJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    Analytics.intervalJoin(
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "view"),
        "user_id", "ts", "ts",
        beforeUs = 3600L * 1000000L, afterUs = 0L,
        rightCols = Seq("value" -> "view_value"))
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(lit(1)).as("n_views"),
        sum(col("view_value").cast("decimal(18,2)")).cast("double").as("view_total"))
  }
  // JoinWindows [purchase − 1h, purchase], both bounds inclusive
  private[queries] val intervalJoinDef = query("q_interval_join", intervalJoinQ,
    """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS lt
      |           FROM events WHERE event_type = 'purchase'),
      |     v AS (SELECT user_id, epoch_us(ts) AS rt, value
      |           FROM events WHERE event_type = 'view')
      |SELECT p.event_id, p.user_id, COUNT(*) AS n_views,
      |  CAST(SUM(CAST(v.value AS DECIMAL(18,2))) AS DOUBLE) AS view_total
      |FROM p JOIN v ON p.user_id = v.user_id
      |  AND v.rt >= p.lt - 3600000000 AND v.rt <= p.lt
      |GROUP BY 1, 2""".stripMargin)

  /** SlidingWindows analog ([[Analytics.slidingAgg]]): per event, the same
    * user's event count and value total over the trailing 10 minutes
    * (both bounds inclusive) — the fourth member of the windowing quartet
    * (tumbling [[windowHourlyQ]], hopping [[windowHoppingQ]], session
    * [[sessionAggQ]], sliding here).
    */
  private def windowSlidingQ(s: SparkSession, dir: String): DataFrame =
    Analytics.slidingAgg(
        t(s, dir, "events")
          .select("event_id", "user_id", "ts", "value"),
        "user_id", "ts", sizeSeconds = 600L,
        Seq("n_window" -> count(lit(1)),
          "total_dec" -> sum(col("value").cast("decimal(18,2)"))))
      .select(col("event_id"), col("user_id"), col("ts"), col("n_window"),
        col("total_dec").cast("double").as("total"))
  // trailing RANGE frame, both bounds inclusive — DuckDB's timestamp
  // RANGE frame and Spark's epoch-micros RANGE frame admit identical sets
  query("q_window_sliding", windowSlidingQ,
    """SELECT event_id, user_id, ts,
      |  COUNT(*) OVER w AS n_window,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS total
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |  RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)""".stripMargin)

  /** Cohort retention matrix: users bucketed by first-seen day, activity
    * counted per (cohort, age-in-days). Both aggregations and the join key
    * on `user_id`, so the first-seen census meets the activity set without
    * an exchange beyond the aggregates' own; the census side is
    * |users|-sized and broadcasts whenever it fits.
    */
  private def cohortRetentionQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val first = d.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    d.join(first, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("age_days"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      // DATE surfaces differently per engine (date32 vs datetime64) —
      // ship bars/cohorts at midnight TIMESTAMP for a type-stable contract
      .withColumn("cohort_day", col("cohort_day").cast("timestamp"))
  }
  query("q_cohort_retention", cohortRetentionQ,
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
      |SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
      |  date_diff('day', cohort_day, day) AS age_days,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM d JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin)

  /** Discrete conversion-hazard curve: for each day-since-signup t, the
    * users still unconverted entering day t (n_at_risk) and the share who
    * first purchase ON day t (hazard = d/n) — the life-table form of
    * time-to-convert analytics (the Kaplan–Meier survival curve is the
    * running product of (1 − hazard); the hazard table is its exact,
    * order-free core, and censoring at the observation horizon is
    * implicit: users never converting simply stay in the risk set).
    * Exact shape: one per-user min/first-purchase aggregate, a
    * domain-bounded day census, at-risk via the banded census self-join
    * (strictly-before cumulative — no partition-less window), one double
    * division per row.
    */
  private def hazardCurveQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val users = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"),
        min(when(col("event_type") === "purchase", col("ts"))).as("conv_ts"))
    val nAll = users.agg(count(lit(1)).as("n_users"))
    val census = users.filter(col("conv_ts").isNotNull)
      .select(datediff(to_date(col("conv_ts")), to_date(col("first_ts"))).cast("long").as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("d"))
    val cumBefore = census
      .join(census.select(col("t").as("t2"), col("d").as("d2")), col("t2") < col("t"), "left")
      .groupBy(col("t"), col("d")).agg(coalesce(sum(col("d2")), lit(0L)).as("cb"))
    cumBefore.crossJoin(nAll)
      .select(col("t"), (col("n_users") - col("cb")).as("n_at_risk"), col("d"),
        round(col("d").cast("double") / (col("n_users") - col("cb")).cast("double"), 6)
          .as("hazard"))
  }
  // hazard curve: per-user first/conversion aggregate, day census,
  // at-risk via the strictly-before banded cumulative, one division
  query("q_hazard_curve", hazardCurveQ,
    """WITH u AS (
      |  SELECT user_id, min(ts) AS first_ts,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS conv_ts
      |  FROM events GROUP BY 1
      |), na AS (SELECT COUNT(*) AS n_users FROM u),
      |c AS (
      |  SELECT CAST(CAST(conv_ts AS DATE) - CAST(first_ts AS DATE) AS BIGINT) AS t,
      |    COUNT(*) AS d
      |  FROM u WHERE conv_ts IS NOT NULL GROUP BY 1
      |), cb AS (
      |  SELECT c.t, c.d, COALESCE(SUM(c2.d), 0) AS cb
      |  FROM c LEFT JOIN c c2 ON c2.t < c.t GROUP BY c.t, c.d
      |)
      |SELECT t, CAST(n_users - cb AS BIGINT) AS n_at_risk, d,
      |  round(CAST(d AS DOUBLE) / CAST(n_users - cb AS DOUBLE), 6) AS hazard
      |FROM cb CROSS JOIN na""".stripMargin)

  /** DAU/MAU stickiness per month: average daily actives over monthly
    * actives — the engagement ratio product analytics tracks next to the
    * retention matrix. Exact integer numerators/denominators (sum of daily
    * distinct counts, one monthly distinct count); only the final ratio is
    * one rounded double division. Both distincts are key-sharded exact
    * aggregates — no HLL here because the contract is the exact ratio (the
    * approximate tier is [[Analytics.hllRollup]]).
    */
  private def stickinessQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val daily = ev
      .select(date_trunc("month", col("ts")).as("month"),
        to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("month"), col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
      .groupBy(col("month"))
      .agg(sum(col("dau")).as("sum_dau"), count(lit(1)).as("n_days"))
    val monthly = ev
      .groupBy(date_trunc("month", col("ts")).as("month"))
      .agg(countDistinct(col("user_id")).as("mau"))
    daily.join(monthly, "month")
      .select(col("month"), col("sum_dau"), col("n_days"), col("mau"),
        round(col("sum_dau").cast("double") /
          (col("n_days") * col("mau")).cast("double"), 6).as("stickiness"))
  }
  // DAU/MAU: exact integer counts, one rounded double ratio; months as
  // date_trunc TIMESTAMP on both engines (the DATE-contract rule)
  query("q_stickiness", stickinessQ,
    """WITH d AS (
      |  SELECT date_trunc('month', ts) AS month, CAST(ts AS DATE) AS day,
      |    user_id FROM events
      |), dau AS (
      |  SELECT month, day, COUNT(DISTINCT user_id) AS dau FROM d GROUP BY 1, 2
      |), m AS (
      |  SELECT month, CAST(SUM(dau) AS BIGINT) AS sum_dau,
      |    COUNT(*) AS n_days FROM dau GROUP BY 1
      |), mau AS (
      |  SELECT date_trunc('month', ts) AS month,
      |    COUNT(DISTINCT user_id) AS mau FROM events GROUP BY 1
      |)
      |SELECT month, sum_dau, n_days, mau,
      |  round(CAST(sum_dau AS DOUBLE) / CAST(n_days * mau AS DOUBLE), 6) AS stickiness
      |FROM m JOIN mau USING (month)""".stripMargin)

  /** Inactivity churn by signup cohort: users grouped by first-event ISO
    * week; churned = no activity in the observation window's last 14 days.
    * One per-user min/max aggregate, a 1-row global-max broadcast, and the
    * cohort rollup — the whole query is two key shuffles regardless of
    * corpus size. Cohort ships as midnight TIMESTAMP (the DATE-vs-engine
    * contract used by [[cohortRetentionQ]]).
    */
  private def churnCohortQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val users = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    users.crossJoin(ev.agg(max(col("ts")).as("mx")))
      .select(date_trunc("week", col("first_ts")).as("cohort_week"),
        (col("last_ts") < col("mx") - expr("INTERVAL 14 DAYS")).cast("long").as("ch"))
      .groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("users"), sum(col("ch")).as("churned"))
      .withColumn("churn_rate",
        round(col("churned").cast("double") / col("users").cast("double"), 6))
  }
  // inactivity churn: per-user first/last, ISO-Monday cohort weeks
  // (date_trunc('week') on both engines), strict < against max_ts − 14d
  query("q_churn_cohort", churnCohortQ,
    """WITH mx AS (SELECT max(ts) AS mx FROM events),
      |u AS (SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
      |      FROM events GROUP BY 1)
      |SELECT date_trunc('week', first_ts) AS cohort_week,
      |  COUNT(*) AS users,
      |  CAST(SUM(CASE WHEN last_ts < mx - INTERVAL 14 DAY THEN 1 ELSE 0 END) AS BIGINT) AS churned,
      |  round(CAST(SUM(CASE WHEN last_ts < mx - INTERVAL 14 DAY THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS churn_rate
      |FROM u CROSS JOIN mx GROUP BY 1""".stripMargin)

  /** Watermark-selection audit: per event type, how late events actually
    * arrive — lateness = (max event-time seen EARLIER in the per-user
    * arrival order, by event_id) minus the event's own time, exact micros.
    * This is the measurement that justifies a streaming `withWatermark`
    * bound: n_late says how often disorder happens, p99/max say how much
    * slack the state store must keep. One key-partitioned window (arrival
    * order per user) and one aggregate — no global sort.
    */
  private def watermarkAuditQ(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "events")
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("late_us",
        greatest(lit(0L), coalesce(max(col("us")).over(w) - col("us"), lit(0L))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0L, 1L).otherwise(0L)).as("n_late"),
        max(col("late_us")).as("max_late_us"),
        round(expr("percentile(late_us, 0.99)"), 6).as("p99_late_us"))
  }
  // watermark audit: lateness vs the per-user running max in ARRIVAL
  // order (event_id), exact micros; p99 via the same interpolated
  // percentile contract as q_percentiles
  query("q_watermark_audit", watermarkAuditQ,
    """WITH e AS (
      |  SELECT event_type, user_id, event_id, epoch_us(ts) AS us FROM events
      |), l AS (
      |  SELECT event_type,
      |    GREATEST(0, COALESCE(MAX(us) OVER (PARTITION BY user_id
      |      ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      - us, 0)) AS late_us
      |  FROM e
      |)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(MAX(late_us) AS BIGINT) AS max_late_us,
      |  round(quantile_cont(late_us, 0.99), 6) AS p99_late_us
      |FROM l GROUP BY 1""".stripMargin)

  /** Inter-event gap histogram (power-of-2 second buckets): the measurement
    * behind the sessionization gap knob — the session threshold should sit
    * in the valley between the intra-session bucket mass and the
    * between-visit mass, and this census shows exactly where that valley
    * is. One key shuffle for the lag, then a domain-bounded census.
    */
  private def gapHistogramQ(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gaps = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(TF.pow2BucketCap(expr("(us - prev_us) div 1000000")).as("gap_cap_s"))
    val counts = gaps.groupBy(col("gap_cap_s")).agg(count(lit(1)).as("n_gaps"))
    counts.crossJoin(counts.agg(sum(col("n_gaps")).as("__tot")))
      .select(col("gap_cap_s"), col("n_gaps"),
        round(col("n_gaps").cast("double") / col("__tot").cast("double"), 6).as("share"))
  }
  // inter-event gap census in power-of-2 second buckets (the psi/l-div
  // bucket-cap formula), share as one double division
  query("q_gap_histogram", gapHistogramQ,
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      |), g0 AS (
      |  SELECT us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS d
      |  FROM e
      |), g AS (SELECT d // 1000000 AS gap_s FROM g0 WHERE d IS NOT NULL),
      |b AS (
      |  SELECT CASE WHEN gap_s <= 1 THEN 1
      |    ELSE (CAST(1 AS BIGINT) << length(bin(gap_s - 1))) END AS gap_cap_s
      |  FROM g
      |), c AS (SELECT gap_cap_s, COUNT(*) AS n_gaps FROM b GROUP BY 1),
      |t AS (SELECT SUM(n_gaps) AS tot FROM c)
      |SELECT gap_cap_s, n_gaps,
      |  round(CAST(n_gaps AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
      |FROM c, t""".stripMargin)

  /** Ordered signup → view → purchase funnel ([[Analytics.funnel]]): per
    * user, the first completion time of each stage strictly after the
    * previous one — one key shuffle, no per-key sort at any stage.
    */
  private def funnelQ(s: SparkSession, dir: String): DataFrame =
    Analytics.funnel(
      t(s, dir, "events").select("user_id", "ts", "event_type"),
      "user_id", "ts",
      Seq("t_signup" -> (col("event_type") === "signup"),
        "t_view" -> (col("event_type") === "view"),
        "t_purchase" -> (col("event_type") === "purchase")))
  // each stage gates on the previous stage's completion; ts > NULL never
  // fires, so an incomplete funnel stays null from the broken stage on
  private[queries] val funnelDef = query("q_funnel", funnelQ,
    """WITH s1 AS (
      |  SELECT user_id, ts, event_type,
      |    MIN(CASE WHEN event_type = 'signup' THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_signup
      |  FROM events
      |), s2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'view' AND ts > t_signup
      |    THEN ts END) OVER (PARTITION BY user_id) AS t_view FROM s1
      |), s3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_view
      |    THEN ts END) OVER (PARTITION BY user_id) AS t_purchase FROM s2
      |)
      |SELECT user_id, MAX(t_signup) AS t_signup, MAX(t_view) AS t_view,
      |  MAX(t_purchase) AS t_purchase
      |FROM s3 GROUP BY user_id""".stripMargin)

  /** Daily OHLC bars per event type: open/close by event sequence via the
    * partial-aggregating `min_by`/`max_by` — bounded state per group, no
    * window sort anywhere — volume and total exact.
    */
  private def ohlcBarsQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).cast("timestamp").as("day"))
      .agg(min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
  // open/close keyed by the unique event sequence — deterministic arg_min
  query("q_ohlc_bars", ohlcBarsQ,
    """SELECT event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
      |  arg_min(value, event_id) AS open, MAX(value) AS high,
      |  MIN(value) AS low, arg_max(value, event_id) AS close,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2""".stripMargin)

  /** Daily resampling + LOCF gap fill ([[Analytics.resampleDailyLocf]]):
    * every user × every day of the corpus span, carrying the most recent
    * daily close (by event sequence) forward across silent days.
    */
  private def resampleFfillQ(s: SparkSession, dir: String): DataFrame =
    Analytics.resampleDailyLocf(t(s, dir, "events"), "user_id", "ts",
        max_by(col("value"), col("event_id")), "close")
      .select(col("user_id"), col("day").cast("timestamp").as("day"),
        col("close"))
  // dense user x day grid over the global span; LOCF via IGNORE NULLS,
  // null before a user's first observation in both engines
  query("q_resample_ffill", resampleFfillQ,
    """WITH b AS (SELECT CAST(CAST(MIN(ts) AS DATE) AS TIMESTAMP) AS d0,
      |             CAST(CAST(MAX(ts) AS DATE) AS TIMESTAMP) AS d1 FROM events),
      |u AS (SELECT DISTINCT user_id FROM events),
      |g AS (SELECT u.user_id,
      |        CAST(unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS DATE) AS day
      |      FROM u, b),
      |dc AS (SELECT user_id, CAST(ts AS DATE) AS day,
      |         arg_max(value, event_id) AS close
      |       FROM events GROUP BY 1, 2)
      |SELECT g.user_id, CAST(g.day AS TIMESTAMP) AS day,
      |  last_value(dc.close IGNORE NULLS) OVER (PARTITION BY g.user_id
      |    ORDER BY g.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      |  ) AS close
      |FROM g LEFT JOIN dc USING (user_id, day)""".stripMargin)

  /** Window-function sessionization over the events stream (30-min gap). */
  private def sessionizeQ(s: SparkSession, dir: String): DataFrame =
    Analytics.sessionize(t(s, dir, "events"), "ts", "user_id", gapSeconds = 1800,
        orderCols = Seq(col("event_id")))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
  query("q_sessionize", sessionizeQ,
    """WITH x AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS ns
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM x)
      |SELECT user_id, session_seq, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM s GROUP BY user_id, session_seq""".stripMargin)

  /** As-of join: each purchase event matched to the user's latest view event
    * at or before it (inner semantics — unmatched purchases dropped).
    */
  private def asofJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value").as("view_value"),
        col("event_id").as("view_seq"))
    // the custom whole-operator plan (graft.plans.AsofJoinExec): each side
    // shuffles its own width, O(1) merge state — spec-pinned equal to the
    // composed union+LOCF Analytics.asofJoin; view_seq makes equal-ts view
    // duplicates deterministic should the data ever grow them
    Analytics.asofJoinMerge(purchases, views, "user_id", "ts", "ts",
        Seq("view_value"), rightTies = Seq("view_seq"))
      .filter(col("asof_view_value").isNotNull)
      .select(col("event_id"), col("user_id"), col("value"),
        col("asof_view_value").as("prior_view_value"))
  }
  private[queries] val asofJoinDef = query("q_asof_join", asofJoinQ,
    """SELECT p.event_id, p.user_id, p.value, v.value AS prior_view_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin)

  /** [[asofJoinQ]] with a max-staleness bound: a prior view only counts if
    * it happened within 24 h of the purchase (`toleranceUs`) — the
    * merge operator masks the match when its closest-at-or-before row is
    * staler than the bound, so no second pass or post-join ts plumbing is
    * needed. Oracle: DuckDB ASOF JOIN post-filtered on the gap (the
    * closest match is the only candidate, so the filter IS tolerance
    * semantics for the inner form).
    */
  private def asofToleranceQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value").as("view_value"),
        col("event_id").as("view_seq"))
    Analytics.asofJoinMerge(purchases, views, "user_id", "ts", "ts",
        Seq("view_value"), rightTies = Seq("view_seq"),
        toleranceUs = 24L * 3600L * 1000000L)
      .filter(col("asof_view_value").isNotNull)
      .select(col("event_id"), col("user_id"), col("value"),
        col("asof_view_value").as("prior_view_value"))
  }
  query("q_asof_tolerance", asofToleranceQ,
    """SELECT p.event_id, p.user_id, p.value, v.value AS prior_view_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |WHERE p.ts - v.ts <= INTERVAL 24 HOUR""".stripMargin)

  /** First-order Markov transition matrix over each user's event sequence
    * ([[Analytics.transitionMatrix]]): count and conditional probability of
    * every event_type → event_type step, steps ordered by (ts, event_id).
    * One key shuffle for the lag; the |states|² matrix makes the totals
    * join a broadcast by construction.
    */
  private def eventTransitionsQ(s: SparkSession, dir: String): DataFrame =
    Analytics.transitionMatrix(
      t(s, dir, "events").select("user_id", "ts", "event_id", "event_type"),
      "user_id", "event_type", Seq(col("ts"), col("event_id")))
  query("q_event_transitions", eventTransitionsQ,
    """WITH x AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |c AS (
      |  SELECT prev AS prev_state, event_type AS state, count(*) AS n_transitions
      |  FROM x WHERE prev IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_state, state, n_transitions,
      |  round(CAST(n_transitions AS DOUBLE) /
      |        CAST(SUM(n_transitions) OVER (PARTITION BY prev_state) AS DOUBLE), 6) AS prob
      |FROM c""".stripMargin)

  /** User-journey trigrams: every 3-step event_type path a user walked,
    * with counts — the funnel-discovery companion to [[eventTransitionsQ]]
    * (same single key-partitioned window, two lags instead of one; the
    * output is ≤ |states|³ rows, aggregated map-side).
    */
  private def eventPathsQ(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("s1", lag(col("event_type"), 2).over(w))
      .withColumn("s2", lag(col("event_type"), 1).over(w))
      .filter(col("s1").isNotNull)
      .groupBy(col("s1"), col("s2"), col("event_type").as("s3"))
      .agg(count(lit(1)).as("n_paths"))
  }
  query("q_event_paths", eventPathsQ,
    """WITH x AS (
      |  SELECT user_id,
      |    lag(event_type, 2) OVER w AS s1,
      |    lag(event_type, 1) OVER w AS s2,
      |    event_type AS s3
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT s1, s2, s3, count(*) AS n_paths
      |FROM x WHERE s1 IS NOT NULL GROUP BY 1, 2, 3""".stripMargin)

  /** ROWS-frame rolling aggregates ([[Analytics.rollingAgg]]): 7-event
    * moving sum and mean of `value` per user. The frame sums DECIMAL so the
    * result is independent of the engines' frame-evaluation association
    * order; the mean divides the exact sum once in double.
    */
  private def movingAvgQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"),
      col("value").cast("decimal(18,2)").as("__v"))
    Analytics.rollingAgg(d, "user_id", Seq(col("ts"), col("event_id")), 7,
      Seq("__ws" -> sum(col("__v")), "__wn" -> count(lit(1))))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("__ws").cast("double").as("mov_sum"),
        (col("__ws").cast("double") / col("__wn").cast("double")).as("mov_avg"))
  }
  query("q_moving_avg", movingAvgQ,
    """SELECT user_id, ts, event_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_sum,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) /
      |    CAST(COUNT(*) OVER w AS DOUBLE) AS mov_avg
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin)

  /** RFM customer segmentation: per user, recency (days since last event,
    * against the corpus max day — ONE collected bound), frequency, and
    * decimal-exact monetary total, each cut into quartiles by the
    * range-sharded global NTILE ([[Analytics.rangedRank]] — the per-user
    * aggregate can be billions of rows at corpus scale, so no
    * single-reducer window anywhere), composed into the classic
    * three-digit segment code.
    */
  private def rfmSegmentsQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val maxDay = ev.agg(max(to_date(col("ts")))).head().getDate(0)
    val perUser = ev.groupBy(col("user_id"))
      .agg(datediff(lit(maxDay), max(to_date(col("ts")))).cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("monetary"))
    def quartile(df: DataFrame, metric: String, out: String): DataFrame =
      Analytics.rangedRank(df, Seq.empty, Seq(col(metric), col("user_id")))
        .withColumn(out, Analytics.ntileOf(col("rn"), col("n_part"), 4))
        .drop("rn", "n_part")
    quartile(quartile(quartile(perUser, "recency_days", "r"), "frequency", "f"),
        "monetary", "m")
      .withColumn("segment", col("r") * 100 + col("f") * 10 + col("m"))
  }
  query("q_rfm_segments", rfmSegmentsQ,
    """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events),
      |u AS (SELECT user_id,
      |        CAST(date_diff('day', max(CAST(ts AS DATE)), maxd) AS BIGINT) AS recency_days,
      |        count(*) AS frequency,
      |        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      |      FROM events, mx GROUP BY user_id, maxd),
      |sc AS (SELECT user_id, recency_days, frequency, monetary,
      |        CAST(NTILE(4) OVER (ORDER BY recency_days, user_id) AS BIGINT) AS r,
      |        CAST(NTILE(4) OVER (ORDER BY frequency, user_id) AS BIGINT) AS f,
      |        CAST(NTILE(4) OVER (ORDER BY monetary, user_id) AS BIGINT) AS m
      |       FROM u)
      |SELECT user_id, recency_days, frequency, monetary, r, f, m,
      |  r * 100 + f * 10 + m AS segment
      |FROM sc""".stripMargin)

  /** Day-over-day revenue delta via lag — the offset window. The global
    * window runs over POST-aggregation data (one row per day), so the
    * single-partition sort is a few thousand rows regardless of corpus
    * size; deltas subtract in DECIMAL (exact) before the double cast.
    */
  private def dailyDeltaQ(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
    t(s, dir, "orders")
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .select(col("day"), col("rev").cast("double").as("revenue"),
        lag(col("rev"), 1).over(w).cast("double").as("prev_revenue"),
        (col("rev") - lag(col("rev"), 1).over(w)).cast("double").as("delta"))
  }
  query("q_daily_delta", dailyDeltaQ,
    """WITH d AS (
      |  SELECT date_trunc('day', o_orderdate) AS day,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1)
      |SELECT day, CAST(rev AS DOUBLE) AS revenue,
      |CAST(lag(rev) OVER (ORDER BY day) AS DOUBLE) AS prev_revenue,
      |CAST(rev - lag(rev) OVER (ORDER BY day) AS DOUBLE) AS delta
      |FROM d""".stripMargin)

  /** Per-segment OLS revenue trend ([[Analytics.olsTrend]]): o_totalprice
    * regressed on days-since-epoch of o_orderdate. The customer join is
    * UNHINTED: customer scales with the fact tables (10⁹ rows at 100 TB —
    * the (custkey, segment) projection alone is ~16 GB, not
    * broadcastable), so the planner broadcasts it below
    * `autoBroadcastJoinThreshold` and shuffle-joins co-partitioned on the
    * custkey above. Either way the trend itself is one
    * partial-aggregating pass — only |segments| moment rows shuffle.
    */
  private def regrTrendQ(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    val joined = o.join(c, col("o_custkey") === col("c_custkey"))
    Analytics.olsTrend(joined, Seq(col("c_mktsegment")),
      datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))),
      col("o_totalprice"))
  }
  // exact decimal/long moment sums on both sides; closed forms divide
  // doubles of exact sums once — no regr_* builtins (float merge order)
  query("q_regr_trend", regrTrendQ,
    """WITH j AS (
      |  SELECT c_mktsegment,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
      |    CAST(o_totalprice AS DECIMAL(19,4)) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |m AS (
      |  SELECT c_mktsegment, count(*) AS n,
      |    sum(x) AS sx, sum(x*x) AS sxx,
      |    sum(y) AS sy, sum(y*y) AS syy, sum(y*x) AS sxy
      |  FROM j GROUP BY 1),
      |e AS (
      |  SELECT c_mktsegment, n,
      |    CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
      |    CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS dx,
      |    CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS dy,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM m)
      |SELECT c_mktsegment, n AS n_obs,
      |  round(num / NULLIF(dx, 0), 6) AS slope,
      |  round((syd - (num / NULLIF(dx, 0)) * sxd) / CAST(n AS DOUBLE), 6) AS intercept,
      |  round(num * num / NULLIF(dx * dy, 0), 6) AS r2
      |FROM e""".stripMargin)

  /** Pairwise Pearson matrix over four lineitem measures
    * ([[Analytics.corrPairs]]): all six correlations from ONE
    * partial-aggregated scan (exact decimal moments, no per-pair rescans,
    * no float merge-order nondeterminism).
    */
  private def corrMatrixQ(s: SparkSession, dir: String): DataFrame =
    Analytics.corrPairs(t(s, dir, "lineitem"), Seq(
      "l_discount" -> col("l_discount"),
      "l_extendedprice" -> col("l_extendedprice"),
      "l_quantity" -> col("l_quantity"),
      "l_tax" -> col("l_tax")))
  query("q_corr_matrix", corrMatrixQ,
    s"""WITH d AS (
       |  SELECT CAST(l_discount AS DECIMAL(19,6)) AS a,
       |         CAST(l_extendedprice AS DECIMAL(19,6)) AS b,
       |         CAST(l_quantity AS DECIMAL(19,6)) AS c,
       |         CAST(l_tax AS DECIMAL(19,6)) AS e
       |  FROM lineitem),
       |m AS (
       |  SELECT count(*) AS n,
       |    sum(a) AS s_l_discount, sum(b) AS s_l_extendedprice,
       |    sum(c) AS s_l_quantity, sum(e) AS s_l_tax,
       |    sum(a*a) AS q_l_discount, sum(b*b) AS q_l_extendedprice,
       |    sum(c*c) AS q_l_quantity, sum(e*e) AS q_l_tax,
       |    sum(a*b) AS p_l_discount__l_extendedprice,
       |    sum(a*c) AS p_l_discount__l_quantity,
       |    sum(a*e) AS p_l_discount__l_tax,
       |    sum(b*c) AS p_l_extendedprice__l_quantity,
       |    sum(b*e) AS p_l_extendedprice__l_tax,
       |    sum(c*e) AS p_l_quantity__l_tax
       |  FROM d)
       |${Seq(("l_discount", "l_extendedprice"), ("l_discount", "l_quantity"),
                ("l_discount", "l_tax"), ("l_extendedprice", "l_quantity"),
                ("l_extendedprice", "l_tax"), ("l_quantity", "l_tax"))
               .map { case (x, y) => duckCorrArm(x, y) }.mkString("\nUNION ALL\n")}""".stripMargin)

  /** U-shape position attribution over each user's event journey
    * ([[Analytics.positionAttribution]]): 40/20/40 credit split across
    * ordered touches, summed per event type in exact decimal.
    */
  private def attributionQ(s: SparkSession, dir: String): DataFrame =
    Analytics.positionAttribution(t(s, dir, "events"), "user_id",
      Seq(col("ts"), col("event_id")), "event_type")
  // integer picocredits: truncating integer division is identical in
  // every engine; decimal-exact sums divide by 1e12 once in double
  query("q_attribution", attributionQ,
    """WITH x AS (
      |  SELECT event_type,
      |    row_number() OVER w AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_type,
      |  round(CAST(sum(CASE WHEN n = 1 THEN 1000000000000
      |                      WHEN n = 2 THEN 500000000000
      |                      WHEN rn = 1 OR rn = n THEN 400000000000
      |                      ELSE 200000000000 // (n - 2) END) AS DOUBLE) / 1e12, 6) AS credit,
      |  count(*) AS n_touches
      |FROM x GROUP BY 1""".stripMargin)

  /** Deterministic per-user modal event type ([[Analytics.modePerKey]]):
    * most frequent, smallest-value tie-break (the builtin `mode` leaves
    * ties unspecified — unusable against an oracle).
    */
  private def modeEventQ(s: SparkSession, dir: String): DataFrame =
    Analytics.modePerKey(t(s, dir, "events"), "user_id", "event_type")
  query("q_mode_event", modeEventQ,
    """WITH c AS (
      |  SELECT user_id, event_type, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id, event_type, cnt,
      |    row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn
      |  FROM c)
      |SELECT user_id, event_type AS mode_val, cnt AS mode_n FROM r WHERE rn = 1""".stripMargin)

  /** Truncated 20-deep EMA (α = 0.1) of `value` per user
    * ([[Analytics.emaTrunc]]): exact decimal weights over one shared
    * per-key sort.
    */
  private def emaQ(s: SparkSession, dir: String): DataFrame =
    Analytics.emaTrunc(
      t(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"), col("value")),
      "user_id", Seq(col("ts"), col("event_id")), col("value"))
      .select(col("user_id"), col("ts"), col("event_id"), col("ema"))
  // all-integer EMA: cents × (0.9^k·10^19) integer weights, identical
  // lag-term expansion on both sides, two IEEE divisions at the end
  query("q_ema", emaQ,
    s"""WITH b AS (
       |  SELECT user_id, ts, event_id,
       |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0)) AS xv
       |  FROM events)
       |SELECT user_id, ts, event_id,
       |  round(CAST(${duckEmaNum(20, BigDecimal("0.9"))} AS DOUBLE) /
       |        CAST(${duckEmaDen(20, BigDecimal("0.9"))} AS DOUBLE) / 100.0, 6) AS ema
       |FROM b
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)

  /** Zero-filled per-user daily activity spine ([[Analytics.gapFillDaily]]).
    * `day` goes out as midnight TIMESTAMP — parquet date32 and DuckDB DATE
    * hash differently in the driver compare (same trick as
    * q_resample_ffill).
    */
  private def gapfillQ(s: SparkSession, dir: String): DataFrame =
    Analytics.gapFillDaily(t(s, dir, "events"), "user_id", "ts")
      .withColumn("day", col("day").cast("timestamp"))
  query("q_gapfill", gapfillQ,
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT user_id,
      |    CAST(unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM daily GROUP BY user_id)
      |SELECT s.user_id, CAST(s.day AS TIMESTAMP) AS day, coalesce(d.n, 0) AS n_ev
      |FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day""".stripMargin)

  /** Robust per-type outlier profile ([[Analytics.madOutliers]]):
    * median / MAD / 3σ-equivalent outlier counts of `value`. The group
    * key is the closed `event_type` vocabulary — a schema-level enum (5
    * values in the generator), so the broadcast gate gets a LITERAL bound
    * with headroom rather than a census job (a distinct-count scan at
    * plan-build time would run inside every timed bench sample, and at
    * 100 TB it is a full fact scan per plan build). The operator default
    * (unknown count → AQE decides) stays the scale-safe path for
    * open-vocabulary callers.
    */
  private def anomalyMadQ(s: SparkSession, dir: String): DataFrame =
    Analytics.madOutliers(t(s, dir, "events"), "event_type", col("value"),
      nGroups = 16L)
  query("q_anomaly_mad", anomalyMadQ,
    """WITH m AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1),
      |d AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
      |      FROM events e JOIN m USING (event_type)),
      |md AS (SELECT event_type, median(adev) AS mad FROM d GROUP BY 1)
      |SELECT d.event_type,
      |  round(min(d.med), 6) AS med,
      |  round(min(md.mad), 6) AS mad,
      |  CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  count(*) AS n_total
      |FROM d JOIN md USING (event_type)
      |GROUP BY 1""".stripMargin)

  /** Frequently-bought-together part pairs ([[Analytics.marketBasket]]):
    * in-basket pair generation, exact-count lift, deterministic top 50.
    * The item space is `l_partkey ⊆ part`, so the part-table row count
    * (a footer-statistics count, no data scan) feeds the broadcast gate;
    * a web-scale caller with an unbounded catalog leaves the default -1
    * and AQE sizes the aggregated item-count side at runtime.
    */
  private def marketBasketQ(s: SparkSession, dir: String): DataFrame =
    Analytics.marketBasket(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
      distinctItems = t(s, dir, "part").count())
  query("q_market_basket", marketBasketQ,
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |n AS (SELECT count(DISTINCT l_orderkey) AS nb FROM li),
      |pc AS (SELECT l_partkey, count(*) AS np FROM li GROUP BY 1),
      |pairs AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_ab
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT p1, p2, n_ab,
      |  round(CAST(n_ab AS DOUBLE) * CAST(nb AS DOUBLE) /
      |        (CAST(c1.np AS DOUBLE) * CAST(c2.np AS DOUBLE)), 6) AS lift
      |FROM pairs, n
      |JOIN pc c1 ON p1 = c1.l_partkey
      |JOIN pc c2 ON p2 = c2.l_partkey
      |ORDER BY lift DESC, p1, p2 LIMIT 50""".stripMargin)

  /** Pareto frontier of orders ([[Analytics.paretoFrontierByDate]]):
    * earliest-date / highest-value skyline via the per-date running max.
    */
  private def skylineQ(s: SparkSession, dir: String): DataFrame =
    Analytics.paretoFrontierByDate(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
      "o_orderdate", "o_totalprice")
  query("q_skyline", skylineQ,
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, max(o_totalprice) AS dmax
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT day, dmax,
      |    max(dmax) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
      |  FROM daily)
      |SELECT o_orderkey, o_orderdate, o_totalprice
      |FROM orders JOIN p ON CAST(o_orderdate AS DATE) = p.day
      |WHERE o_totalprice = p.dmax AND (p.prior_max IS NULL OR o_totalprice > p.prior_max)""".stripMargin)

  /** Benford first-digit profile of order totals: observed share per
    * leading digit next to the theoretical log₁₀(1+1/d). The expectation
    * constants are one Scala-computed literal table shared verbatim with
    * the oracle — engines' libm log10 need not agree.
    */
  private val benfordExp: Seq[(String, Double)] =
    (1 to 9).map(d => d.toString -> math.rint(math.log10(1.0 + 1.0 / d) * 1e6) / 1e6)

  private def benfordQ(s: SparkSession, dir: String): DataFrame = {
    val digits = t(s, dir, "orders")
      .select(substring(col("o_totalprice").cast("long").cast("string"), 1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
    val total = digits.agg(sum(col("n_orders")).as("__tot"))
    val expCol = benfordExp.foldLeft(lit(null).cast("double")) {
      case (acc, (d, e)) => when(col("digit") === d, lit(e)).otherwise(acc)
    }
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n_orders"),
        round(col("n_orders").cast("double") / col("__tot").cast("double"), 6).as("obs_pct"),
        expCol.as("exp_pct"))
  }
  query("q_benford", benfordQ,
    s"""WITH d AS (
       |  SELECT substring(CAST(CAST(TRUNC(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit
       |  FROM orders),
       |c AS (SELECT digit, count(*) AS n_orders FROM d GROUP BY 1),
       |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS tot FROM c)
       |SELECT digit, n_orders,
       |  round(CAST(n_orders AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS obs_pct,
       |  CASE digit ${benfordExp.map { case (d, e) =>
              s"WHEN '$d' THEN CAST($e AS DOUBLE)" }.mkString(" ")} END AS exp_pct
       |FROM c, t""".stripMargin)

  /** Per-event-type ISO day-of-week seasonality
    * ([[Analytics.dowProfile]]).
    */
  private def dowProfileQ(s: SparkSession, dir: String): DataFrame =
    Analytics.dowProfile(t(s, dir, "events"), "event_type", "ts", col("value"))
  query("q_dow_profile", dowProfileQ,
    """WITH a AS (
      |  SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
      |    count(*) AS n_ev,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(sum(n_ev) AS BIGINT) AS tot FROM a GROUP BY 1)
      |SELECT a.event_type, dow, n_ev,
      |  round(sum_v / CAST(n_ev AS DOUBLE), 6) AS avg_v,
      |  round(CAST(n_ev AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
      |FROM a JOIN t USING (event_type)""".stripMargin)

  /** Consecutive same-event runs per user ([[Analytics.runs]]):
    * gaps-and-islands from one lag + running sum over a single window.
    */
  private def runsQ(s: SparkSession, dir: String): DataFrame =
    Analytics.runs(t(s, dir, "events"), "user_id",
      Seq(col("ts"), col("event_id")), "event_type")
  query("q_runs", runsQ,
    """WITH x AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER w AS rn,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |y AS (
      |  SELECT user_id, event_type, rn,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY rn
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM x)
      |SELECT user_id, event_type, count(*) AS run_len,
      |  CAST(min(rn) AS BIGINT) AS start_pos
      |FROM y GROUP BY user_id, event_type, run""".stripMargin)

  /** Supplier concentration per part brand ([[Analytics.hhi]]): HHI from
    * exact integer share sums, the part dim broadcast onto the fact scan.
    */
  private def hhiQ(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
    val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    Analytics.hhi(li.join(broadcast(p), col("l_partkey") === col("p_partkey")),
      "p_brand", "l_suppkey")
  }
  query("q_hhi", hhiQ,
    """WITH j AS (
      |  SELECT p_brand, l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey),
      |c AS (SELECT p_brand, l_suppkey, count(*) AS n FROM j GROUP BY 1, 2),
      |a AS (SELECT p_brand, count(*) AS n_members,
      |        CAST(sum(n) AS BIGINT) AS tot, CAST(sum(n*n) AS BIGINT) AS sq
      |      FROM c GROUP BY 1)
      |SELECT p_brand, n_members,
      |  round(CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS hhi
      |FROM a""".stripMargin)

  /** Per-source winsorized length statistics ([[Analytics.winsorizedStats]]):
    * each source's n_chars clipped to its own discrete [p10, p90] before the
    * mean — the robust profile that survives a handful of pathological
    * crawl records. All integer until the final exact-int divisions.
    */
  private def winsorizeQ(s: SparkSession, dir: String): DataFrame =
    Analytics.winsorizedStats(t(s, dir, "documents"),
        col("source"), col("n_chars"), col("doc_id"), 100, 900)
      .withColumn("raw_mean", round(col("raw_mean"), 6))
      .withColumn("win_mean", round(col("win_mean"), 6))
  // rank band (rn−1)·1000 < n·p ≤ rn·1000 ⇔ rn = ceil(n·p/1000): the same
  // cross-multiplied integer arithmetic as winsorizedStats — no float ceil
  query("q_winsorize", winsorizeQ,
    """WITH r AS (
      |  SELECT source AS grp, n_chars AS v,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM documents
      |), b AS (
      |  SELECT grp,
      |    min(CASE WHEN (rn-1)*1000 < n*100 AND n*100 <= rn*1000 THEN v END) AS lo,
      |    min(CASE WHEN (rn-1)*1000 < n*900 AND n*900 <= rn*1000 THEN v END) AS hi
      |  FROM r GROUP BY 1
      |)
      |SELECT r.grp, count(*) AS n, min(b.lo) AS lo, min(b.hi) AS hi,
      |  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS raw_mean,
      |  round(CAST(sum(greatest(b.lo, least(b.hi, v))) AS DOUBLE) / count(*), 6) AS win_mean
      |FROM r JOIN b USING (grp) GROUP BY 1""".stripMargin)

  /** Windowed funnel ([[Analytics.funnelWindowed]]): signup → view within
    * 7 days → purchase within 7 days of the view — the per-step conversion
    * window q_funnel's unbounded form cannot express.
    */
  private def funnelWindowedQ(s: SparkSession, dir: String): DataFrame =
    Analytics.funnelWindowed(
      t(s, dir, "events").select("user_id", "ts", "event_type"),
      "user_id", "ts",
      Seq("t_signup" -> (col("event_type") === "signup"),
        "t_view" -> (col("event_type") === "view"),
        "t_purchase" -> (col("event_type") === "purchase")),
      maxGapSeconds = 7L * 86400L)
  // per-step 7-day window in exact epoch micros, anchored at each stage's
  // earliest completion (q_funnel's chain plus the gap conjunct)
  query("q_funnel_windowed", funnelWindowedQ,
    """WITH s1 AS (
      |  SELECT user_id, ts, event_type,
      |    MIN(CASE WHEN event_type = 'signup' THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_signup
      |  FROM events
      |), s2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'view' AND ts > t_signup
      |    AND epoch_us(ts) <= epoch_us(t_signup) + 604800000000
      |    THEN ts END) OVER (PARTITION BY user_id) AS t_view FROM s1
      |), s3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_view
      |    AND epoch_us(ts) <= epoch_us(t_view) + 604800000000
      |    THEN ts END) OVER (PARTITION BY user_id) AS t_purchase FROM s2
      |)
      |SELECT user_id, MAX(t_signup) AS t_signup, MAX(t_view) AS t_view,
      |  MAX(t_purchase) AS t_purchase
      |FROM s3 GROUP BY user_id""".stripMargin)

  /** Apriori frequent triples ([[Analytics.basketTriples]]) over part
    * groups (l_partkey mod 50) per order — the mining level after
    * q_market_basket's pairs, with the level-1 prune applied scan-side.
    */
  private def basketTriplesQ(s: SparkSession, dir: String): DataFrame =
    Analytics.basketTriples(t(s, dir, "lineitem"),
      col("l_orderkey"), pmod(col("l_partkey"), lit(50L)),
      minSupport = 5L, k = 50)
  // identical level-1 prune, cubic in-basket comprehension, and
  // left-associated lift3 = n_abc·N²/(n_a·n_b·n_c)
  query("q_basket_triples", basketTriplesQ,
    """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey % 50 AS i FROM lineitem),
      |ic AS (SELECT i, count(*) AS ni FROM it GROUP BY 1),
      |fi AS (SELECT i FROM ic WHERE ni >= 5),
      |ba AS (
      |  SELECT bk, list_sort(list(i)) AS arr
      |  FROM it WHERE i IN (SELECT i FROM fi) GROUP BY bk
      |), tr AS (
      |  SELECT unnest(flatten(flatten([[[
      |      {'a': arr[x], 'b': arr[y], 'c': arr[z]}
      |      FOR z IN range(y + 1, len(arr) + 1)]
      |    FOR y IN range(x + 1, len(arr))]
      |  FOR x IN range(1, len(arr) - 1)]))) AS s
      |  FROM ba WHERE len(arr) >= 3
      |), tc AS (
      |  SELECT s.a AS a, s.b AS b, s.c AS c, count(*) AS n_abc
      |  FROM tr GROUP BY 1, 2, 3 HAVING count(*) >= 5
      |), nb AS (SELECT count(DISTINCT bk) AS nbk FROM it)
      |SELECT a, b, c, CAST(n_abc AS BIGINT) AS n_abc,
      |  round(CAST(n_abc AS DOUBLE) * CAST(nbk AS DOUBLE) * CAST(nbk AS DOUBLE)
      |    / (CAST(na.ni AS DOUBLE) * CAST(nb2.ni AS DOUBLE) * CAST(nc.ni AS DOUBLE)), 6) AS lift
      |FROM tc CROSS JOIN nb
      |  JOIN ic na ON na.i = a JOIN ic nb2 ON nb2.i = b JOIN ic nc ON nc.i = c
      |ORDER BY lift DESC, a, b, c LIMIT 50""".stripMargin)

  /** One-pass table profile of orders ([[Analytics.profileTable]]):
    * count / nulls / distinct / min / max per column, numerics formatted
    * through exact decimals so both engines print identical strings.
    */
  private def profileQ(s: SparkSession, dir: String): DataFrame =
    Analytics.profileTable(t(s, dir, "orders"), Seq(
      "o_orderkey" -> col("o_orderkey"),
      "o_custkey" -> col("o_custkey"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_totalprice" -> col("o_totalprice").cast("decimal(18,2)"),
      "o_orderpriority" -> col("o_orderpriority")))
  query("q_profile", profileQ,
    """WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |             CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
      |             o_orderpriority FROM orders)
      |SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
      |  count(*) - count(o_orderkey) AS n_nulls,
      |  count(DISTINCT o_orderkey) AS n_distinct,
      |  CAST(min(o_orderkey) AS VARCHAR) AS min_s, CAST(max(o_orderkey) AS VARCHAR) AS max_s
      |FROM b
      |UNION ALL
      |SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
      |  count(DISTINCT o_custkey),
      |  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM b
      |UNION ALL
      |SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
      |  count(DISTINCT o_orderstatus),
      |  CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM b
      |UNION ALL
      |SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
      |  count(DISTINCT o_totalprice),
      |  CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR) FROM b
      |UNION ALL
      |SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
      |  count(DISTINCT o_orderpriority),
      |  CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR) FROM b""".stripMargin)

  /** Deequ-style data-quality checks over orders⊕lineitem: uniqueness,
    * completeness, domain membership, range, and referential integrity —
    * one row per check with the exact violation count. The orders-side
    * checks share ONE aggregate pass; referential integrity is a
    * left-anti join counted. A constraint suite, not a metric sample:
    * violations are exact longs at any scale.
    */
  private def dqChecksQ(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val li = t(s, dir, "lineitem").select(col("l_orderkey"))
    val a = o.agg(
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("__dup"),
      (count(lit(1)) - count(col("o_custkey"))).as("__nullck"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("__dom"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("__price"),
      sum(when(col("o_orderdate") < lit("1990-01-01").cast("timestamp") ||
        col("o_orderdate") >= lit("2010-01-01").cast("timestamp"), 1L).otherwise(0L))
        .as("__range"))
    val orphans = li.join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("__v"))
      .select(lit("lineitem_ref_integrity").as("check_name"), col("__v").as("violations"))
    val checks = Seq(
      "orderkey_unique" -> "__dup", "custkey_complete" -> "__nullck",
      "status_domain" -> "__dom", "totalprice_positive" -> "__price",
      "orderdate_range" -> "__range")
    a.select(explode(array(checks.map { case (n, c) =>
        struct(lit(n).as("check_name"), col(c).as("violations")) }: _*)).as("__r"))
      .select(col("__r.*"))
      .unionByName(orphans)
      .withColumn("passed", col("violations") === 0)
  }
  query("q_dq_checks", dqChecksQ,
    """WITH a AS (
      |  SELECT
      |    count(*) - count(DISTINCT o_orderkey) AS dup,
      |    count(*) - count(o_custkey) AS nullck,
      |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS dom,
      |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS price,
      |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
      |              OR o_orderdate >= TIMESTAMP '2010-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS rng
      |  FROM orders),
      |orphans AS (
      |  SELECT count(*) AS v FROM lineitem
      |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
      |c AS (
      |  SELECT 'orderkey_unique' AS check_name, dup AS violations FROM a
      |  UNION ALL SELECT 'custkey_complete', nullck FROM a
      |  UNION ALL SELECT 'status_domain', dom FROM a
      |  UNION ALL SELECT 'totalprice_positive', price FROM a
      |  UNION ALL SELECT 'orderdate_range', rng FROM a
      |  UNION ALL SELECT 'lineitem_ref_integrity', v FROM orphans)
      |SELECT check_name, violations, violations = 0 AS passed FROM c""".stripMargin)

  /** Per-user time-weighted average of `value` (TWAP): each observation is
    * held until the next one; weight = microseconds held (exact longs ×
    * exact decimal values — both sums exact), one division per user. The
    * last observation per user carries no weight; single-event users have
    * no span (dropped by both sides).
    */
  private def twapQ(s: SparkSession, dir: String): DataFrame =
    Analytics.twap(t(s, dir, "events"), "user_id", "ts",
      Seq(col("event_id")), col("value"))
  query("q_twap", twapQ,
    """WITH x AS (
      |  SELECT user_id, CAST(value AS DECIMAL(12,2)) AS v,
      |    lead(epoch_us(ts)) OVER w - epoch_us(ts) AS dt
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id,
      |  CAST(sum(dt) AS BIGINT) AS span_micros,
      |  CASE WHEN sum(dt) > 0
      |    THEN round(CAST(sum(v * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE), 6)
      |    ELSE NULL END AS twap
      |FROM x WHERE dt IS NOT NULL GROUP BY 1""".stripMargin)

  /** Peak concurrent sessions ([[Analytics.peakConcurrency]]): 30-minute
    * session windows swept as +1/−1 deltas through the range-sharded
    * global prefix sum.
    */
  private def peakConcurrencyQ(s: SparkSession, dir: String): DataFrame = {
    val sess = t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("__n"))
      .select(col("session_window.start").as("st"), col("session_window.end").as("en"))
    Analytics.peakConcurrency(sess, col("st"), col("en"))
  }
  query("q_peak_concurrency", peakConcurrencyQ,
    """WITH x AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS ns
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), se AS (
      |  SELECT user_id, ts,
      |    SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM x
      |), iv AS (
      |  SELECT epoch_us(MIN(ts)) AS st,
      |    epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS en
      |  FROM se GROUP BY user_id, session_seq
      |), d AS (
      |  SELECT st AS t, 1 AS delta FROM iv
      |  UNION ALL SELECT en, -1 FROM iv
      |), c AS (
      |  SELECT t, sum(delta) OVER (ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM d
      |), m AS (SELECT max(cum) AS peak FROM c)
      |SELECT CAST(min(m.peak) AS BIGINT) AS peak, make_timestamp(min(c.t)) AS peak_at
      |FROM c, m WHERE c.cum = m.peak""".stripMargin)

  /** CUSUM changepoint per event type: the day where the cumulative
    * deviation of daily value-sums from the type's mean peaks. Raw events
    * aggregate to CALENDAR grain first (one partial-aggregated shuffle),
    * so the sequential CUSUM scan runs over ≤ |days| rows per type —
    * bounded by the calendar at any data scale. The statistic
    * |n·cumₖ − k·S| is pure exact-decimal/long arithmetic, so the argmax
    * (ties → earliest day) is deterministic; it divides by n once for
    * display.
    */
  private def cusumShiftQ(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"))
    val tot = daily.groupBy(col("event_type"))
      .agg(sum(col("s")).as("__tot"), count(lit(1)).as("__n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val c = daily
      .withColumn("__cum", sum(col("s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__k", row_number().over(w))
      .join(broadcast(tot), "event_type")
      .withColumn("__stat", abs(col("__n").cast("decimal(10,0)") * col("__cum") -
        col("__k").cast("decimal(10,0)") * col("__tot")))
    c.withColumn("__rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("__stat").desc, col("day"))))
      .filter(col("__rn") === 1)
      .select(col("event_type"), col("day").cast("timestamp").as("shift_day"),
        round(col("__stat").cast("double") / col("__n").cast("double"), 6).as("cusum_stat"))
  }
  query("q_cusum_shift", cusumShiftQ,
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    sum(CAST(value AS DECIMAL(18,2))) AS s
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, sum(s) AS tot_s, count(*) AS n FROM daily GROUP BY 1),
      |c AS (SELECT event_type, day,
      |    sum(s) OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS k
      |  FROM daily),
      |j AS (SELECT c.event_type, day,
      |    abs(CAST(n AS DECIMAL(10,0)) * CAST(cum AS DECIMAL(28,2)) -
      |        CAST(k AS DECIMAL(10,0)) * CAST(tot_s AS DECIMAL(28,2))) AS stat, n
      |  FROM c JOIN tot USING (event_type)),
      |r AS (SELECT event_type, day, stat, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY stat DESC, day) AS rn
      |  FROM j)
      |SELECT event_type, CAST(day AS TIMESTAMP) AS shift_day,
      |  round(CAST(stat AS DOUBLE) / CAST(n AS DOUBLE), 6) AS cusum_stat
      |FROM r WHERE rn = 1""".stripMargin)

  /** Lag-1 autocorrelation of daily total revenue: consecutive-day pairs
    * from one lead() over the calendar-bounded daily aggregate, correlated
    * by the exact-moment machinery ([[Analytics.corrPairs]]).
    */
  private def autocorrQ(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val pairs = daily
      .withColumn("rev_next", lead(col("rev"), 1).over(Window.orderBy(col("day"))))
      .filter(col("rev_next").isNotNull)
    Analytics.corrPairs(pairs, Seq("rev" -> col("rev"), "rev_next" -> col("rev_next")))
  }
  query("q_autocorr", autocorrQ,
    s"""WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |p0 AS (SELECT day, rev, lead(rev) OVER (ORDER BY day) AS rev_next FROM daily),
      |d AS (SELECT CAST(rev AS DECIMAL(19,6)) AS a, CAST(rev_next AS DECIMAL(19,6)) AS b
      |      FROM p0 WHERE rev_next IS NOT NULL),
      |m AS (SELECT count(*) AS n, sum(a) AS s_rev, sum(b) AS s_rev_next,
      |  sum(a*a) AS q_rev, sum(b*b) AS q_rev_next, sum(a*b) AS p_rev__rev_next FROM d)
      |${duckCorrArm("rev", "rev_next")}""".stripMargin)

  /** Funnel conversion summary: per stage — users reached, conversion from
    * the previous stage, and the median seconds from stage 1 (exact micros
    * into one interpolated percentile; the single division to seconds and
    * the conversion ratio are one IEEE op each). One aggregate over the
    * funnel table; rows unpivot from the single aggregate row.
    */
  private def funnelStatsQ(s: SparkSession, dir: String): DataFrame = {
    val f = funnelQ(s, dir)
    val a = f.agg(
      count(col("t_signup")).as("__n1"),
      count(col("t_view")).as("__n2"),
      count(col("t_purchase")).as("__n3"),
      expr("percentile(unix_micros(t_view) - unix_micros(t_signup), 0.5)").as("__m2"),
      expr("percentile(unix_micros(t_purchase) - unix_micros(t_signup), 0.5)").as("__m3"))
    val d = (c: Column) => c.cast("double")
    a.select(explode(array(
        struct(lit("signup").as("stage"), col("__n1").as("n_reached"),
          lit(null).cast("double").as("conv_from_prev"), lit(0.0).as("med_secs_from_first")),
        struct(lit("view").as("stage"), col("__n2").as("n_reached"),
          round(d(col("__n2")) / d(col("__n1")), 6).as("conv_from_prev"),
          round(col("__m2") / lit(1e6), 6).as("med_secs_from_first")),
        struct(lit("purchase").as("stage"), col("__n3").as("n_reached"),
          round(d(col("__n3")) / d(col("__n2")), 6).as("conv_from_prev"),
          round(col("__m3") / lit(1e6), 6).as("med_secs_from_first")))).as("__r"))
      .select(col("__r.*"))
  }
  query("q_funnel_stats", funnelStatsQ,
    """WITH s1 AS (
      |  SELECT user_id, ts, event_type,
      |    MIN(CASE WHEN event_type = 'signup' THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_signup
      |  FROM events
      |), s2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'view' AND ts > t_signup
      |    THEN ts END) OVER (PARTITION BY user_id) AS t_view FROM s1
      |), s3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_view
      |    THEN ts END) OVER (PARTITION BY user_id) AS t_purchase FROM s2
      |), f AS (
      |  SELECT user_id, MAX(t_signup) AS t_signup, MAX(t_view) AS t_view,
      |    MAX(t_purchase) AS t_purchase
      |  FROM s3 GROUP BY user_id
      |), a AS (
      |  SELECT count(t_signup) AS n1, count(t_view) AS n2, count(t_purchase) AS n3,
      |    median(epoch_us(t_view) - epoch_us(t_signup)) AS m2,
      |    median(epoch_us(t_purchase) - epoch_us(t_signup)) AS m3
      |  FROM f)
      |SELECT 'signup' AS stage, n1 AS n_reached,
      |  CAST(NULL AS DOUBLE) AS conv_from_prev, 0.0 AS med_secs_from_first FROM a
      |UNION ALL
      |SELECT 'view', n2, round(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 6),
      |  round(m2 / 1e6, 6) FROM a
      |UNION ALL
      |SELECT 'purchase', n3, round(CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE), 6),
      |  round(m3 / 1e6, 6) FROM a""".stripMargin)

  /** Month-over-month and year-over-year revenue growth: exact-decimal
    * monthly sums, two lags over the CALENDAR-bounded month table, one
    * guarded division each.
    */
  private def growthRatesQ(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("__rev"))
    val w = Window.orderBy(col("month"))
    def growth(lagN: Int): Column = {
      val prev = lag(col("__rev"), lagN).over(w)
      when(prev.isNotNull && prev > 0,
        round((col("__rev").cast("double") - prev.cast("double")) / prev.cast("double"), 6))
        .otherwise(lit(null).cast("double"))
    }
    m.select(col("month"), col("__rev").cast("double").as("revenue"),
      growth(1).as("mom"), growth(12).as("yoy"))
  }
  query("q_growth_rates", growthRatesQ,
    """WITH m AS (
      |  SELECT date_trunc('month', o_orderdate) AS month,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1)
      |SELECT month, CAST(rev AS DOUBLE) AS revenue,
      |  CASE WHEN lag(rev) OVER w IS NOT NULL AND lag(rev) OVER w > 0
      |    THEN round((CAST(rev AS DOUBLE) - CAST(lag(rev) OVER w AS DOUBLE)) /
      |               CAST(lag(rev) OVER w AS DOUBLE), 6) END AS mom,
      |  CASE WHEN lag(rev, 12) OVER w IS NOT NULL AND lag(rev, 12) OVER w > 0
      |    THEN round((CAST(rev AS DOUBLE) - CAST(lag(rev, 12) OVER w AS DOUBLE)) /
      |               CAST(lag(rev, 12) OVER w AS DOUBLE), 6) END AS yoy
      |FROM m WINDOW w AS (ORDER BY month)""".stripMargin)

  /** 7-day trailing correlation between daily revenue and daily order
    * count: exact-decimal frame sums (ROWS 6 PRECEDING — engines'
    * frame-evaluation association is irrelevant for exact types), the
    * Pearson closed form per row, NULL where a window side is constant.
    * The input is the calendar-bounded daily aggregate.
    */
  private def rollingCorrQ(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(19,4)").as("__x"),
        count(lit(1)).cast("decimal(19,4)").as("__y"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, Window.currentRow)
    val d = (c: Column) => c.cast("double")
    val (n, sx, sy, sxy, sxx, syy) = (
      count(lit(1)).over(w), sum(col("__x")).over(w), sum(col("__y")).over(w),
      sum(col("__x") * col("__y")).over(w), sum(col("__x") * col("__x")).over(w),
      sum(col("__y") * col("__y")).over(w))
    val num = d(n) * d(sxy) - d(sx) * d(sy)
    val dx = d(n) * d(sxx) - d(sx) * d(sx)
    val dy = d(n) * d(syy) - d(sy) * d(sy)
    daily.select(col("day").cast("timestamp").as("day"),
      when(dx > 0 && dy > 0, round(num / sqrt(dx * dy), 6))
        .otherwise(lit(null).cast("double")).as("roll_corr"))
  }
  query("q_rolling_corr", rollingCorrQ,
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,4)) AS x,
      |    CAST(count(*) AS DECIMAL(19,4)) AS y
      |  FROM orders GROUP BY 1),
      |c AS (
      |  SELECT day,
      |    count(*) OVER w AS n, sum(x) OVER w AS sx, sum(y) OVER w AS sy,
      |    sum(x*y) OVER w AS sxy, sum(x*x) OVER w AS sxx, sum(y*y) OVER w AS syy
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |e AS (
      |  SELECT day,
      |    CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
      |    CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS dx,
      |    CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS dy
      |  FROM c)
      |SELECT CAST(day AS TIMESTAMP) AS day,
      |  CASE WHEN dx > 0 AND dy > 0 THEN round(num / sqrt(dx * dy), 6) END AS roll_corr
      |FROM e""".stripMargin)

  /** Revenue-concentration deciles (the 80/20 curve): users ranked by
    * exact-decimal monetary total through the range-sharded global NTILE
    * (no single-reducer window at any user count), then per-decile sums
    * and the cumulative share over the 10-row decile table.
    */
  private def powerUsersQ(s: SparkSession, dir: String): DataFrame = {
    val monetary = t(s, dir, "events").groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("__m"))
    val ranked = Analytics.rangedRank(monetary, Seq.empty,
        Seq(negate(col("__m")), col("user_id")))
      .withColumn("decile", Analytics.ntileOf(col("rn"), col("n_part"), 10))
    val d = ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("__m")).as("__dm"))
    val tot = d.agg(sum(col("__dm")).as("__t"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.crossJoin(broadcast(tot))
      .select(col("decile"), col("n_users"),
        col("__dm").cast("double").as("decile_revenue"),
        round(sum(col("__dm")).over(w).cast("double") / col("__t").cast("double"), 6)
          .as("cum_share"))
  }
  query("q_power_users", powerUsersQ,
    """WITH u AS (
      |  SELECT user_id, sum(CAST(value AS DECIMAL(18,2))) AS m
      |  FROM events GROUP BY 1),
      |r AS (SELECT user_id, m,
      |        CAST(NTILE(10) OVER (ORDER BY m DESC, user_id) AS BIGINT) AS decile
      |      FROM u),
      |d AS (SELECT decile, count(*) AS n_users, sum(m) AS dm FROM r GROUP BY 1),
      |t AS (SELECT sum(dm) AS tt FROM d)
      |SELECT decile, n_users, CAST(dm AS DOUBLE) AS decile_revenue,
      |  round(CAST(sum(dm) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
      |        CAST(tt AS DOUBLE), 6) AS cum_share
      |FROM d, t""".stripMargin)

  /** Daily new-vs-returning unique users: each user's first-seen day is a
    * per-user aggregate joined back on the same key partitioning.
    */
  private def newVsReturningQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val first = d.groupBy(col("user_id")).agg(min(col("day")).as("__d0"))
    d.join(first, "user_id")
      .groupBy(col("day").cast("timestamp").as("day"))
      .agg(sum(when(col("day") === col("__d0"), 1L).otherwise(0L)).as("new_users"),
        sum(when(col("day") > col("__d0"), 1L).otherwise(0L)).as("returning_users"))
  }
  query("q_new_vs_returning", newVsReturningQ,
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, min(day) AS d0 FROM d GROUP BY 1)
      |SELECT CAST(day AS TIMESTAMP) AS day,
      |  CAST(sum(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |  CAST(sum(CASE WHEN day > d0 THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
      |FROM d JOIN f USING (user_id) GROUP BY 1""".stripMargin)

  /** Cohort LTV curves: per signup-day cohort, the cumulative
    * exact-decimal revenue per user at each age. The running sum windows
    * over the (cohort × age) matrix — bounded by the calendar squared,
    * never the data.
    */
  private def ltvCohortQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cohorts = ev.groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("__cohort"))
    val sz = cohorts.groupBy(col("__cohort")).agg(count(lit(1)).as("__n"))
    val r = ev.join(cohorts, "user_id")
      .groupBy(col("__cohort"),
        datediff(to_date(col("ts")), col("__cohort")).cast("long").as("age"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("__rev"))
    val w = Window.partitionBy(col("__cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.join(broadcast(sz), "__cohort")
      .select(col("__cohort").cast("timestamp").as("cohort_day"), col("age"),
        round(sum(col("__rev")).over(w).cast("double") / col("__n").cast("double"), 6)
          .as("ltv_per_user"))
  }
  query("q_ltv_cohort", ltvCohortQ,
    """WITH c AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1),
      |sz AS (SELECT cohort, count(*) AS n FROM c GROUP BY 1),
      |r AS (SELECT c.cohort,
      |        CAST(date_diff('day', c.cohort, CAST(e.ts AS DATE)) AS BIGINT) AS age,
      |        sum(CAST(e.value AS DECIMAL(18,2))) AS rev
      |      FROM events e JOIN c USING (user_id) GROUP BY 1, 2)
      |SELECT CAST(r.cohort AS TIMESTAMP) AS cohort_day, age,
      |  round(CAST(sum(rev) OVER (PARTITION BY r.cohort ORDER BY age
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
      |        CAST(n AS DOUBLE), 6) AS ltv_per_user
      |FROM r JOIN sz ON r.cohort = sz.cohort""".stripMargin)

  /** Embedding-norm profile per label: count and the min / median / max
    * L2 norm. Per-row norms use the native dot (left-to-right fold, the
    * [[graft.expressions.DotProduct]] ↔ list_sum parity every vector
    * oracle relies on) rounded at 6 dp; the cross-row aggregates are all
    * SELECTION-based (min/max/interpolated median) — no float summation
    * across rows anywhere, so no merge-order nondeterminism.
    */
  private def normProfileQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"),
        round(sqrt(VF.dot(col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>"))), 6).as("__nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("__nrm")).as("min_norm"),
        expr("percentile(__nrm, 0.5)").as("p50_norm"),
        max(col("__nrm")).as("max_norm"))
  query("q_norm_profile", normProfileQ,
    """WITH b AS (
      |  SELECT label,
      |    round(sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
      |      FOR i IN range(1, 65)])), 6) AS nrm
      |  FROM embeddings)
      |SELECT label, count(*) AS n_vecs,
      |  min(nrm) AS min_norm, median(nrm) AS p50_norm, max(nrm) AS max_norm
      |FROM b GROUP BY 1""".stripMargin)

  /** Seasonally-adjusted revenue anomalies: the 10 days whose revenue
    * deviates most from their OWN weekday's mean — raw daily outliers
    * mostly rediscover the weekly cycle; subtracting the day-of-week level
    * first is the one-step seasonal adjustment that surfaces genuine
    * anomalies. Exactness: daily revenues and weekday sums are exact
    * decimals; the residual numerator `rev·n_dow − sum_dow` stays an exact
    * decimal (no mean division until the end), so ranking is engine-exact
    * with one rounded double at output.
    */
  private def seasonalResidQ(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .withColumn("dow",
        (((dayofweek(col("day")) + lit(5)) % lit(7)) + lit(1)).cast("long"))
    val byDow = daily.groupBy(col("dow"))
      .agg(sum(col("rev")).as("sum_dow"), count(lit(1)).as("n_dow"))
    daily.join(byDow, "dow")
      .select(col("day").cast("timestamp").as("day"), col("dow"),
        col("rev").cast("double").as("revenue"),
        round((col("rev") * col("n_dow") - col("sum_dow")).cast("double") /
          col("n_dow").cast("double"), 6).as("resid"))
      .orderBy(abs(col("resid")).desc, col("day"))
      .limit(10)
  }
  // seasonal residuals: exact decimal numerator rev*n_dow - sum_dow (no
  // mean division until output), isodow == the Spark ISO formula
  query("q_seasonal_resid", seasonalResidQ,
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1
      |), dd AS (
      |  SELECT day, rev, CAST(isodow(day) AS BIGINT) AS dow FROM daily
      |), bd AS (
      |  SELECT dow, SUM(rev) AS sum_dow, COUNT(*) AS n_dow FROM dd GROUP BY 1
      |)
      |SELECT CAST(day AS TIMESTAMP) AS day, dow, CAST(rev AS DOUBLE) AS revenue,
      |  round(CAST(rev * n_dow - sum_dow AS DOUBLE) / CAST(n_dow AS DOUBLE), 6) AS resid
      |FROM dd JOIN bd USING (dow)
      |ORDER BY abs(round(CAST(rev * n_dow - sum_dow AS DOUBLE) / CAST(n_dow AS DOUBLE), 6)) DESC, day
      |LIMIT 10""".stripMargin)

  /** Weekend-vs-weekday order value: Welch's t from EXACT decimal moments
    * (one conditional-sum pass; variance closed forms divide doubles of
    * exact sums — the same no-float-merge discipline as
    * [[Analytics.olsTrend]]), with the Welch–Satterthwaite dof.
    */
  private def weekendEffectQ(s: SparkSession, dir: String): DataFrame = {
    val isW = (((dayofweek(col("o_orderdate")) + lit(5)) % lit(7)) + lit(1)) >= 6
    val y = col("o_totalprice").cast("decimal(19,4)")
    val a = t(s, dir, "orders").agg(
      sum(when(isW, 1L).otherwise(0L)).as("n_wknd"),
      sum(when(isW, y)).as("__s1"), sum(when(isW, y * y)).as("__q1"),
      sum(when(!isW, 1L).otherwise(0L)).as("n_wkday"),
      sum(when(!isW, y)).as("__s2"), sum(when(!isW, y * y)).as("__q2"))
    val d = (c: Column) => c.cast("double")
    def varOf(n: Column, sy: Column, syy: Column): Column =
      (d(n) * d(syy) - d(sy) * d(sy)) / (d(n) * (d(n) - lit(1.0)))
    val (n1, n2) = (col("n_wknd"), col("n_wkday"))
    val v1 = varOf(n1, col("__s1"), col("__q1"))
    val v2 = varOf(n2, col("__s2"), col("__q2"))
    val se2 = v1 / d(n1) + v2 / d(n2)
    a.select(n1, n2,
      round(d(col("__s1")) / d(n1), 6).as("mean_wknd"),
      round(d(col("__s2")) / d(n2), 6).as("mean_wkday"),
      round((d(col("__s1")) / d(n1) - d(col("__s2")) / d(n2)) / sqrt(se2), 6).as("t_stat"),
      round(se2 * se2 / ((v1 / d(n1)) * (v1 / d(n1)) / (d(n1) - lit(1.0)) +
        (v2 / d(n2)) * (v2 / d(n2)) / (d(n2) - lit(1.0))), 6).as("dof"))
  }
  query("q_weekend_effect", weekendEffectQ,
    """WITH b AS (
      |  SELECT CAST(o_totalprice AS DECIMAL(19,4)) AS y,
      |    isodow(CAST(o_orderdate AS DATE)) >= 6 AS w
      |  FROM orders),
      |m AS (SELECT
      |  CAST(sum(CASE WHEN w THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |  sum(CASE WHEN w THEN y END) AS s1, sum(CASE WHEN w THEN y*y END) AS q1,
      |  CAST(sum(CASE WHEN NOT w THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |  sum(CASE WHEN NOT w THEN y END) AS s2, sum(CASE WHEN NOT w THEN y*y END) AS q2
      | FROM b),
      |e AS (SELECT n1, n2,
      |  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
      |  CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
      |  (CAST(n1 AS DOUBLE)*CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)) /
      |    (CAST(n1 AS DOUBLE)*(CAST(n1 AS DOUBLE) - 1.0)) AS v1,
      |  (CAST(n2 AS DOUBLE)*CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)) /
      |    (CAST(n2 AS DOUBLE)*(CAST(n2 AS DOUBLE) - 1.0)) AS v2
      | FROM m),
      |f AS (SELECT n1, n2, m1, m2, v1, v2,
      |  v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE) AS se2
      | FROM e)
      |SELECT n1 AS n_wknd, n2 AS n_wkday,
      |  round(m1, 6) AS mean_wknd, round(m2, 6) AS mean_wkday,
      |  round((m1 - m2) / sqrt(se2), 6) AS t_stat,
      |  round(se2 * se2 / ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) +
      |    (v2 / CAST(n2 AS DOUBLE)) * (v2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)), 6) AS dof
      |FROM f""".stripMargin)
}
