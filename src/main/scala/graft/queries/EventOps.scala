package graft.queries

import graft.Tables
import graft.operators.{AsOfJoin, Sessionize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryPack._

/** Event-stream operators in batch form (SURVEY.md §2.10 — the reference
  * has no event-time semantics; these are the superset capabilities:
  * sessionization, tumbling windows, as-of join). The same plans run
  * under Structured Streaming (readStream + withWatermark), covered by
  * the streaming test suite.
  */
object EventOps extends QueryPack {

  /** Gap-based sessionization (session_window analog): 30-minute gap. */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    Sessionize.summarize(Tables.events(s, dir), "user_id", "ts", "value", 1800L)
      .orderBy(col("user_id"), col("session_idx"))

  val sessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, value,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER
      |      (PARTITION BY user_id ORDER BY ts) AS gap_us
      |  FROM events),
      |f AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS nw
      |  FROM g),
      |x AS (
      |  SELECT user_id, ts, value,
      |    CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS session_idx
      |  FROM f)
      |SELECT user_id, session_idx, count(*) AS n_events,
      |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
      |  max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM x GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** Daily bounce-rate report (product analytics over the
    * sessionizer): per session-start day, sessions / single-event
    * bounces / bounce rate (one exact-integer-operand IEEE division)
    * and exact-decimal mean session duration. */
  def bounceRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sess = graft.operators.Sessionize
      .summarize(Tables.events(s, dir), "user_id", "ts", "value", 1800L)
    sess
      .groupBy(expr(graft.operators.Resample.floorDivExpr(
        "start_us", 86400000000L)).as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when($"n_events" === 1, 1L).otherwise(0L)).as("n_bounces"),
        sum($"duration_us").as("total_dur_us"))
      .select($"day", $"n_sessions", $"n_bounces",
        ($"n_bounces".cast("double") / $"n_sessions".cast("double"))
          .as("bounce_rate"),
        ($"total_dur_us".cast("double") / $"n_sessions".cast("double"))
          .as("mean_dur_us"))
      .orderBy($"day")
  }

  val bounceRateSql: String =
    """WITH g AS (
      |  SELECT user_id, ts,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER
      |      (PARTITION BY user_id ORDER BY ts) AS gap_us
      |  FROM events),
      |x AS (
      |  SELECT user_id, ts,
      |    CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
      |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_idx
      |  FROM g),
      |sess AS (
      |  SELECT user_id, session_idx,
      |    CAST(count(*) AS BIGINT) AS n_events,
      |    min(epoch_us(ts)) AS start_us,
      |    max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
      |  FROM x GROUP BY user_id, session_idx)
      |SELECT start_us // 86400000000 AS day,
      |  CAST(count(*) AS BIGINT) AS n_sessions,
      |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bounces,
      |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS bounce_rate,
      |  CAST(CAST(sum(duration_us) AS BIGINT) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS mean_dur_us
      |FROM sess GROUP BY 1 ORDER BY day""".stripMargin

  /** Tumbling 5-minute window aggregation (window(col, "5 minutes")
    * analog, expressed as an integer window id so the oracle is exact). */
  def tumbling(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(expr("unix_micros(ts) div 300000000").as("win_id"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
      .orderBy(col("win_id"), col("event_type"))

  val tumblingSql: String =
    s"""SELECT epoch_us(ts) // 300000000 AS win_id, event_type,
       |  count(*) AS n, ${dsumSql("value", 2)} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY win_id, event_type""".stripMargin

  /** As-of join: each purchase matched to the user's most recent prior
    * signup (DuckDB ASOF JOIN is the oracle; our implementation is the
    * single-shuffle union+window operator). */
  def asofPrevSignup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
    val signups = ev.filter(col("event_type") === "signup")
    AsOfJoin.asofPrev(purchases, signups, "user_id", "ts", "ts",
        Seq("event_id", "ts"))
      .select(col("event_id"), col("user_id"),
        col("asof_event_id"),
        (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("gap_us"))
      .orderBy(col("event_id"))
  }

  val asofPrevSignupSql: String =
    """SELECT e.event_id, e.user_id, p.event_id AS asof_event_id,
      |  epoch_us(e.ts) - epoch_us(p.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') e
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') p
      |  ON e.user_id = p.user_id AND e.ts >= p.ts
      |ORDER BY e.event_id""".stripMargin

  /** Conversion funnel: per user, first signup then first subsequent
    * purchase — the sequence-detection batch analog (streaming version is
    * flatMapGroupsWithState). Gap stats via exact integer micros. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val signups = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min(unix_micros($"ts")).as("signup_us"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("purchase_us"))
    val conv = signups.join(purchases, Seq("user_id"), "left")
      .filter($"purchase_us".isNull || $"purchase_us" >= $"signup_us")
      .groupBy($"user_id", $"signup_us")
      .agg(min($"purchase_us").as("first_purchase_us"))
    conv.agg(
      count(lit(1)).as("n_signup_users"),
      count($"first_purchase_us").as("n_converted"),
      (count($"first_purchase_us").cast("double") / count(lit(1))).as("conv_rate"),
      sum($"first_purchase_us" - $"signup_us").as("total_gap_us"))
  }

  /** Three-step ORDERED funnel (view → click → purchase): each step's
    * timestamp is the user's first qualifying event AT OR AFTER the
    * previous step — per-user min aggregates chained through two
    * co-keyed joins (no window over raw events, no self-join blowup);
    * one final 1-row rollup with exact-integer-operand rate divisions. */
  def funnelSteps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    def firstAtOrAfter(tpe: String, prev: DataFrame, prevCol: String,
        outCol: String): DataFrame =
      ev.filter($"event_type" === tpe)
        .select($"user_id", unix_micros($"ts").as("__t"))
        .join(prev, "user_id")
        .filter(col("__t") >= col(prevCol))
        .groupBy($"user_id", col(prevCol))
        .agg(min($"__t").as(outCol))
    val s1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min(unix_micros($"ts")).as("t1"))
    val s2 = firstAtOrAfter("click", s1, "t1", "t2")
    val s3 = firstAtOrAfter("purchase", s2.select($"user_id", $"t2"),
      "t2", "t3")
    s1.join(s2.select($"user_id", $"t2"), Seq("user_id"), "left")
      .join(s3.select($"user_id", $"t3"), Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_view"),
        count($"t2").as("n_click"),
        count($"t3").as("n_purchase"),
        (count($"t2").cast("double") / count(lit(1)).cast("double"))
          .as("r_view_click"),
        (count($"t3").cast("double") /
          when(count($"t2") === 0, lit(null).cast("long"))
            .otherwise(count($"t2")).cast("double")).as("r_click_purchase"))
  }

  val funnelStepsSql: String =
    """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1
      |            FROM events WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      |       FROM events e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.t1
      |       GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      |       FROM events e JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.t2
      |       GROUP BY e.user_id)
      |SELECT count(*) AS n_view,
      |  count(t2) AS n_click,
      |  count(t3) AS n_purchase,
      |  CAST(count(t2) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    AS r_view_click,
      |  CAST(count(t3) AS DOUBLE)
      |    / CAST(CASE WHEN count(t2) = 0 THEN NULL ELSE count(t2) END
      |      AS DOUBLE) AS r_click_purchase
      |FROM s1
      |LEFT JOIN s2 ON s1.user_id = s2.user_id
      |LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin

  val funnelSql: String =
    """WITH s AS (SELECT user_id, min(epoch_us(ts)) AS signup_us
      |           FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |p AS (SELECT user_id, epoch_us(ts) AS purchase_us
      |      FROM events WHERE event_type = 'purchase'),
      |conv AS (
      |  SELECT s.user_id, signup_us, min(purchase_us) AS first_purchase_us
      |  FROM s LEFT JOIN p ON s.user_id = p.user_id
      |  WHERE purchase_us IS NULL OR purchase_us >= signup_us
      |  GROUP BY s.user_id, signup_us)
      |SELECT count(*) AS n_signup_users,
      |  count(first_purchase_us) AS n_converted,
      |  CAST(count(first_purchase_us) AS DOUBLE) / count(*) AS conv_rate,
      |  CAST(sum(first_purchase_us - signup_us) AS BIGINT) AS total_gap_us
      |FROM conv""".stripMargin

  /** Resample to a regular time grid with forward fill — the
    * time-series `resample('1H').ffill()` contract (cudf follows
    * pandas' resampling surface, python/cudf/cudf/core/resample.py):
    * per user, hourly buckets from first to last observation, each
    * carrying the latest observation at-or-before the bucket.
    *
    * 100 TB shape: the raw stream collapses to per-(user, hour) last
    * values FIRST (map-side-combinable max(struct) aggregation — the
    * only pass over full data), the grid is generated per key with
    * sequence+explode (bounded by span/step, no driver loop, no
    * cross join), and the fill is one partition-local window after a
    * single co-partitioned join. Bucket ids are exact integer
    * micros-div, and the "latest" tie-break is the (ts, event_id)
    * struct max — both engines pick the identical row. */
  def resampleFfill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Resample.resampleFfill(
        Tables.events(s, dir).filter($"user_id" % 29 === 0),
        "user_id", "ts", "value", "event_id", 3600000000L)
      .orderBy($"user_id", $"win_id")
  }

  val resampleFfillSql: String =
    """WITH ev AS (SELECT * FROM events WHERE user_id % 29 = 0),
      |obs AS (
      |  SELECT user_id, epoch_us(ts) // 3600000000 AS win_id, value AS v_obs
      |  FROM ev
      |  QUALIFY row_number() OVER (
      |    PARTITION BY user_id, epoch_us(ts) // 3600000000
      |    ORDER BY ts DESC, event_id DESC) = 1),
      |b AS (SELECT user_id, min(win_id) AS w0, max(win_id) AS w1
      |      FROM obs GROUP BY user_id),
      |grid AS (SELECT user_id, unnest(generate_series(w0, w1)) AS win_id
      |         FROM b)
      |SELECT g.user_id, g.win_id,
      |  o.v_obs IS NOT NULL AS has_obs,
      |  last_value(o.v_obs IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.win_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
      |FROM grid g LEFT JOIN obs o
      |  ON g.user_id = o.user_id AND g.win_id = o.win_id
      |ORDER BY g.user_id, g.win_id""".stripMargin

  /** Recency-decayed engagement: Σ value·2^(−days_old) per user — the
    * half-life-weighted feature a ranking pipeline derives from an
    * event log. Engineered for cross-engine bit-exactness WITHOUT a
    * transcendental (exp/pow are 1-ulp engine-specific) AND without
    * rounding any fractional double into decimal (DuckDB's
    * DOUBLE→DECIMAL cast scales in double space and mis-rounds near
    * ties — measured on this very query; the VARCHAR finding's dual):
    * the whole sum is computed as an EXACT decimal numerator
    * Σ value·2^(29−k) (value is exact at 2 decimals; the multiplier is
    * an integer shift, k clamped to [0,29]), and the single 2^−29
    * division happens ONCE on the final double — an exact binary
    * scaling. One map-side-combinable aggregation; the anchor (max ts)
    * is a broadcast 1-row aggregate, not a driver action. */
  def decayedSum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val anchor = ev.agg(max(unix_micros($"ts")).as("t_max"))
    ev.crossJoin(broadcast(anchor))
      .withColumn("days_old", expr(
        "least(29L, greatest(0L, (t_max - unix_micros(ts)) div 86400000000))"))
      .withColumn("num",
        graft.plans.GraftExpressions.fastDecimal($"value", 18, 2) *
          expr("shiftleft(cast(1 as bigint), 29 - cast(days_old as int))"))
      .groupBy($"user_id")
      .agg((sum($"num").cast("double") / lit(536870912.0)).as("decayed_sum"),
        count(lit(1)).as("n"))
      .orderBy($"user_id")
  }

  val decayedSumSql: String =
    """WITH a AS (SELECT max(epoch_us(ts)) AS t_max FROM events)
      |SELECT user_id,
      |  CAST(CAST(sum(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,2)) *
      |      (1::BIGINT << (29 - CAST(least(29, greatest(0,
      |        (a.t_max - epoch_us(ts)) // 86400000000)) AS INT))))
      |    AS VARCHAR) AS DOUBLE) / 536870912.0 AS decayed_sum,
      |  count(*) AS n
      |FROM events, a
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Hopping (sliding) event-time windows — window(size=10m, slide=5m):
    * every event lands in size/slide = 2 overlapping windows. The
    * oracle replays Spark's epoch-aligned window enumeration directly:
    * starts (⌊t/slide⌋ − j)·slide for j ∈ {0,1}. Same plan shape as a
    * tumbling agg (the window expansion is a Generate map stage —
    * replication factor size/slide, no join). */
  def hopping(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
      .select(unix_micros(col("w.start")).as("win_start_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("win_start_us"), col("event_type"))

  val hoppingSql: String =
    s"""SELECT (epoch_us(ts) // 300000000 - j) * 300000000 AS win_start_us,
       |  event_type, count(*) AS n, ${dsumSql("value", 2)} AS sum_value
       |FROM events, UNNEST([0, 1]) AS t(j)
       |GROUP BY 1, 2 ORDER BY win_start_us, event_type""".stripMargin

  /** Interval-union coverage: each event opens a 10-minute activity
    * interval; overlaps within a user merge, and the output is the
    * total covered micros — the classic sweep as ONE window pass
    * (running max of interval ends over the start-ordered stream;
    * each row contributes max(0, end − max(start, peak_before)) —
    * no self-join, no explode to minute grains). Exact integer micros
    * on both engines. */
  def intervalUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val iv = Tables.events(s, dir).select($"user_id", $"event_id",
      unix_micros($"ts").as("s_us"),
      (unix_micros($"ts") + 600000000L).as("e_us"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"s_us", $"e_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    iv.withColumn("peak", max($"e_us").over(w))
      .withColumn("contrib",
        greatest(lit(0L), $"e_us" - greatest(coalesce($"peak", $"s_us"), $"s_us")))
      .groupBy($"user_id")
      .agg(sum($"contrib").as("covered_us"), count(lit(1)).as("n"))
      .orderBy($"user_id")
  }

  val intervalUnionSql: String =
    """SELECT user_id, CAST(sum(contrib) AS BIGINT) AS covered_us,
      |  count(*) AS n
      |FROM (
      |  SELECT user_id,
      |    greatest(0, e_us - greatest(coalesce(peak, s_us), s_us)) AS contrib
      |  FROM (
      |    SELECT user_id, s_us, e_us,
      |      max(e_us) OVER (PARTITION BY user_id
      |        ORDER BY s_us, e_us, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS peak
      |    FROM (SELECT user_id, event_id, epoch_us(ts) AS s_us,
      |            epoch_us(ts) + 600000000 AS e_us
      |          FROM events)))
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** First-order Markov transition matrix over per-user event
    * sequences: (type → next type) counts and row-normalized
    * probabilities — the user-path / clickstream analysis staple. One
    * user-keyed window shuffle over the fact; the probability window
    * runs over the |types|² AGGREGATE only. p is a single double
    * division of two exact counts — engine-identical. */
  def transitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", $"n".cast("double") /
        sum($"n").over(Window.partitionBy($"from_type")).cast("double"))
      .orderBy($"from_type", $"to_type")
  }

  val transitionsSql: String =
    """SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) /
      |    CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      |FROM (
      |  SELECT event_type AS from_type, to_type, count(*) AS n
      |  FROM (
      |    SELECT event_type,
      |      lead(event_type, 1) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) AS to_type
      |    FROM events)
      |  WHERE to_type IS NOT NULL
      |  GROUP BY 1, 2)
      |ORDER BY from_type, to_type""".stripMargin

  /** Per-key rate quota: first 3 events per user per event-time day
    * (ingestion throttling; WindowGroupLimit bounds the shuffle at
    * k·partitions rows per (user, day) however hard a key floods). */
  def quota(s: SparkSession, dir: String): DataFrame =
    graft.operators.Throttle.quotaPerKeyWindow(Tables.events(s, dir),
        "user_id", "ts", "1 day", k = 3, tieBreakCol = "event_id")
      .select(col("user_id"),
        expr(graft.operators.Resample.floorDivExpr("unix_micros(ts)",
          86400000000L)).as("win_id"),
        col("event_id"), col("seq_in_window").cast("long").as("seq_in_window"))
      .orderBy(col("user_id"), col("win_id"), col("seq_in_window"))

  val quotaSql: String =
    """SELECT user_id, win_id, event_id, seq_in_window FROM (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS win_id, event_id,
      |    row_number() OVER (
      |      PARTITION BY user_id, epoch_us(ts) // 86400000000
      |      ORDER BY ts, event_id) AS seq_in_window
      |  FROM events)
      |WHERE seq_in_window <= 3
      |ORDER BY user_id, win_id, seq_in_window""".stripMargin

  /** Hopping-window quota: first 3 events per user per 1-day window
    * advancing every 12 h — each event sits in TWO overlapping windows
    * and is admitted (or cut) independently in each, so the output
    * carries the window identity. Same WindowGroupLimit partial-top-k
    * shape as [[quota]] (plan-asserted in PlanSpec); the Expand that
    * fans each row into its containing windows is partition-local. */
  def quotaHopping(s: SparkSession, dir: String): DataFrame =
    graft.operators.Throttle.quotaPerKeyHoppingWindow(
        Tables.events(s, dir), "user_id", "ts", "1 day", "12 hours",
        k = 3, tieBreakCol = "event_id")
      .select(col("user_id"), col("win_start"), col("event_id"),
        col("seq_in_window").cast("long").as("seq_in_window"))
      .orderBy(col("user_id"), col("win_start"), col("seq_in_window"))

  val quotaHoppingSql: String =
    """SELECT user_id, win_start, event_id, seq_in_window FROM (
      |  SELECT user_id, win_start, event_id, row_number() OVER (
      |      PARTITION BY user_id, win_start ORDER BY ts, event_id
      |    ) AS seq_in_window
      |  FROM (
      |    SELECT user_id, event_id, ts,
      |      ((epoch_us(ts) // 43200000000) - g.i) * 43200000000 AS win_start
      |    FROM events
      |    CROSS JOIN (SELECT i FROM generate_series(0, 1) t(i)) g))
      |WHERE seq_in_window <= 3
      |ORDER BY user_id, win_start, seq_in_window""".stripMargin

  /** Daily top-2 event types by count — drift monitoring over an event
    * stream. Two-phase: the (day, type) count aggregate combines
    * map-side, and rank ≤ k over the (already tiny) per-day aggregate
    * rewrites to a WindowGroupLimit; the raw corpus never meets a
    * window. */
  def topkDaily(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(expr(graft.operators.Resample.floorDivExpr(
          "unix_micros(ts)", 86400000000L)).as("win_id"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("win_id"))
          .orderBy(col("n").desc, col("event_type"))))
      .filter(col("rnk") <= 2)
      .select(col("win_id"), col("rnk").cast("long").as("rnk"),
        col("event_type"), col("n"))
      .orderBy(col("win_id"), col("rnk"))

  val topkDailySql: String =
    """SELECT win_id, rnk, event_type, n FROM (
      |  SELECT win_id, event_type, n, row_number() OVER (
      |      PARTITION BY win_id ORDER BY n DESC, event_type) AS rnk
      |  FROM (SELECT epoch_us(ts) // 86400000000 AS win_id, event_type,
      |          count(*) AS n
      |        FROM events GROUP BY 1, 2))
      |WHERE rnk <= 2 ORDER BY win_id, rnk""".stripMargin

  /** Trailing-window anomaly detection: each event compared to the
    * mean/std of its user's previous 9 observations (current row
    * EXCLUDED — the monitor must not contaminate its own baseline);
    * emit rows beyond 2σ once 5 priors exist. Decimal-exact moments
    * (the win_rolling_std contract); the σ comparison runs on
    * identical doubles in both engines. */
  def anomalyQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-9, -1)
    val n = count(lit(1)).over(w).cast("double")
    val sx = sum(graft.plans.GraftExpressions.fastDecimal($"value", 38, 6))
      .over(w).cast("double")
    val sxx = sum(graft.plans.GraftExpressions.fastDecimal($"value" * $"value", 38, 6))
      .over(w).cast("double")
    Tables.events(s, dir)
      .withColumn("base_n", n)
      .withColumn("base_mean", sx / n)
      .withColumn("base_std",
        sqrt((sxx - sx * sx / n) / (n - lit(1.0))))
      .filter($"base_n" >= 5 && $"base_std" > 0 &&
        abs($"value" - $"base_mean") > lit(2.0) * $"base_std")
      .select($"user_id", $"event_id", $"value",
        $"base_n".cast("long").as("base_n"), $"base_mean", $"base_std")
      .orderBy($"user_id", $"event_id")
  }

  val anomalySql: String =
    """SELECT user_id, event_id, value,
      |  CAST(base_n AS BIGINT) AS base_n, base_mean, base_std
      |FROM (
      |  SELECT user_id, event_id, value, base_n, sx / base_n AS base_mean,
      |    sqrt((sxx - sx * sx / base_n) / (base_n - 1.0)) AS base_std
      |  FROM (
      |    SELECT user_id, event_id, value,
      |      CAST(count(*) OVER w AS DOUBLE) AS base_n,
      |      CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sx,
      |      CAST(sum(CAST((value * value) AS DECIMAL(38,6))) OVER w
      |        AS DOUBLE) AS sxx
      |    FROM events
      |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 9 PRECEDING AND 1 PRECEDING)))
      |WHERE base_n >= 5 AND base_std > 0
      |  AND abs(value - base_mean) > 2.0 * base_std
      |ORDER BY user_id, event_id""".stripMargin

  /** Pairwise event-type association rules over (user, day) baskets —
    * support / confidence / lift as exact integer-numerator rationals
    * ([[graft.operators.MarketBasket.associationRules]]). */
  def assocQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.MarketBasket.associationRules(
      Tables.events(s, dir)
        .withColumn("day", expr(graft.operators.Resample.floorDivExpr(
          "unix_micros(ts)", 86400000000L))),
      Seq("user_id", "day"), "event_type", minCount = 2)
      .orderBy(col("item_a"), col("item_b"))

  val assocSql: String =
    """WITH b AS (SELECT DISTINCT user_id,
      |             epoch_us(ts) // 86400000000 AS day,
      |             event_type AS item
      |           FROM events
      |           WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      |             AND ts IS NOT NULL),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets
      |      FROM (SELECT DISTINCT user_id, day FROM b) x),
      |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS c_item
      |       FROM b GROUP BY item),
      |p AS (SELECT a.item AS item_a, c.item AS item_b,
      |        CAST(count(*) AS BIGINT) AS c_ab
      |      FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
      |                       AND a.item < c.item
      |      GROUP BY 1, 2
      |      HAVING count(*) >= 2)
      |SELECT item_a, item_b, n.n_baskets, ia.c_item AS c_a,
      |  ib.c_item AS c_b, c_ab,
      |  CAST(c_ab AS DOUBLE) / CAST(n.n_baskets AS DOUBLE) AS support,
      |  CAST(c_ab AS DOUBLE) / CAST(ia.c_item AS DOUBLE) AS conf_a_b,
      |  CAST(c_ab AS DOUBLE) / CAST(ib.c_item AS DOUBLE) AS conf_b_a,
      |  CAST(CAST(CAST(c_ab AS DECIMAL(18,0))
      |      * CAST(n.n_baskets AS DECIMAL(18,0)) AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(CAST(ia.c_item AS DECIMAL(18,0))
      |      * CAST(ib.c_item AS DECIMAL(18,0)) AS VARCHAR) AS DOUBLE)
      |    AS lift
      |FROM p JOIN ic ia ON ia.item = p.item_a
      |JOIN ic ib ON ib.item = p.item_b
      |CROSS JOIN n
      |ORDER BY item_a, item_b""".stripMargin

  /** Daily TWAP per user: exact-decimal v·Δt moments (single-event days
    * yield NULL — no weight exists between observations). */
  def twapQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Resample.twap(Tables.events(s, dir), "user_id", "ts",
        "value", tieBreakCol = "event_id", bucketMicros = 86400000000L)
      .select(col("user_id"), col("bucket"), col("twap"))
      .orderBy(col("user_id"), col("bucket"))

  val twapSql: String =
    """SELECT user_id, bucket,
      |  CASE WHEN den > 0
      |    THEN CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(den AS DOUBLE)
      |  END AS twap
      |FROM (
      |  SELECT user_id, bucket, sum(v * dt) AS num, sum(dt) AS den
      |  FROM (
      |    SELECT user_id, bucket, v,
      |      lead(tus) OVER (PARTITION BY user_id, bucket
      |        ORDER BY tus, event_id) - tus AS dt
      |    FROM (SELECT user_id, epoch_us(ts) AS tus,
      |            epoch_us(ts) // 86400000000 AS bucket,
      |            CAST(value AS DECIMAL(18,2)) AS v, event_id
      |          FROM events))
      |  GROUP BY user_id, bucket)
      |ORDER BY user_id, bucket""".stripMargin

  /** Coverage gaps: days inside each user's active span with no events
    * (the feed-monitor report). */
  def gapsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Resample.missingBuckets(Tables.events(s, dir),
        "user_id", "ts", bucketMicros = 86400000000L)
      .orderBy(col("user_id"), col("bucket"))

  val gapsSql: String =
    """WITH obs AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS bucket
      |  FROM events),
      |spans AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
      |          FROM obs GROUP BY user_id)
      |SELECT s.user_id, g.bucket
      |FROM spans s, LATERAL (SELECT unnest(generate_series(s.lo, s.hi))
      |                       AS bucket) g
      |WHERE NOT EXISTS (SELECT 1 FROM obs o
      |                  WHERE o.user_id = s.user_id
      |                    AND o.bucket = g.bucket)
      |ORDER BY user_id, bucket""".stripMargin

  override def gates: Seq[Gate] = Seq(
    Gate("events_twap", twapQ, twapSql),
    Gate("events_gaps", gapsQ, gapsSql),
    Gate("events_quota", quota, quotaSql),
    Gate("events_quota_hopping", quotaHopping, quotaHoppingSql),
    Gate("events_topk_daily", topkDaily, topkDailySql),
    Gate("events_transitions", transitions, transitionsSql),
    Gate("events_funnel", funnel, funnelSql),
    Gate("events_funnel_steps", funnelSteps, funnelStepsSql),
    Gate("events_assoc", assocQ, assocSql),
    Gate("events_anomaly", anomalyQ, anomalySql),
    Gate("events_bounce_rate", bounceRate, bounceRateSql),
    Gate("events_sessionize", sessionize, sessionizeSql),
    Gate("events_tumbling", tumbling, tumblingSql),
    Gate("events_asof_prev", asofPrevSignup, asofPrevSignupSql),
    Gate("events_resample_ffill", resampleFfill, resampleFfillSql),
    Gate("events_decayed_sum", decayedSum, decayedSumSql),
    Gate("events_interval_union", intervalUnion, intervalUnionSql),
    Gate("events_hopping", hopping, hoppingSql))
}
