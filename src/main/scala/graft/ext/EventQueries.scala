package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-time windowing over the `events` stream table (SURVEY.md §2.11).
  * These are the BATCH forms — the DuckDB oracle can check them. The
  * streaming forms of the tumbling, session and click-attribution
  * queries (same expressions over `readStream` + watermark) live in
  * [[graft.streaming.StreamingOps]], whose replays the same oracle
  * gates.
  *
  * Scale: tumbling/sliding aggs are one hash-shuffle on (window, key)
  * with map-side partial aggregation; session windows shuffle once on
  * user_id and sort within partition — both the standard Structured
  * Streaming state layouts.
  */
object EventQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,4)")

  /** Tumbling 1-day windows per event_type. */
  def eventsTumbling(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"), col("n_users"))
      .orderBy("window_start", "event_type")
  }

  val eventsTumblingSql: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** Sliding 6-hour windows advancing hourly (each event lands in 6
    * windows). Oracle replays the window expansion with a generate_series
    * cross join.
    */
  def eventsSliding(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "6 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("n"), col("sum_value"))
      .orderBy("window_start")
  }

  val eventsSlidingSql: String =
    """SELECT date_trunc('hour', ts) - (k.k * INTERVAL 1 HOUR) AS window_start,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events CROSS JOIN (SELECT unnest(range(0, 6)) AS k) k
      |GROUP BY 1
      |ORDER BY window_start""".stripMargin

  /** Session windows per user (30-minute inactivity gap). Session end is
    * last-event-ts + gap, matching Spark's session_window semantics.
    */
  def eventsSession(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  val eventsSessionSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |           >= INTERVAL 30 MINUTE
      |         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  /** Daily exact distinct users per event type (the HLL-shaped query; the
    * oracle needs the exact form — swap count_distinct for
    * approx_count_distinct at 100 TB and drop the oracle).
    */
  def eventsDailyUsers(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("user_id"), col("event_type")).as("n_user_type"))
      .select(col("w.start").as("window_start"), col("n_users"), col("n_user_type"))
      .orderBy("window_start")
  }

  val eventsDailyUsersSql: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  COUNT(DISTINCT (user_id, event_type)) AS n_user_type
      |FROM events
      |GROUP BY 1
      |ORDER BY window_start""".stripMargin

  /** HLL sketch counting (the 100 TB form of distinct-users). The
    * estimate is engine-specific, so the REGISTERED form is the
    * deterministic ENVELOPE: the exact ride-along plus the
    * `within_envelope` boolean that `assert_true` has already enforced
    * (the query ABORTS — a driver-visible failure, not silently-wrong
    * rows — if the estimate drifts beyond 5× the configured 2% rsd).
    * HLL++ merges are commutative, so the gate is stable across
    * partitionings. The raw estimate lives in
    * [[eventsApproxUsersRaw]] (unregistered).
    */
  def eventsApproxUsers(spark: SparkSession, dir: String): DataFrame =
    eventsApproxUsersRaw(spark, dir)
      .withColumn("within_envelope", col("rel_err") <= 0.1)
      .select("window_start", "exact_users", "within_envelope")

  /** Raw-estimate form (engine-specific `approx_users`/`rel_err`
    * exposed; not oracle-expressible, hence unregistered).
    */
  def eventsApproxUsersRaw(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("w.start").as("window_start"),
        col("approx_users"), col("exact_users"),
        round(abs(col("approx_users") - col("exact_users"))
          / col("exact_users"), 6).as("rel_err"))
      .filter(expr(
        "assert_true(rel_err <= 0.1, 'HLL drifted >10% from exact') IS NULL"))
      .orderBy("window_start")
  }

  val eventsApproxUsersSql: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS within_envelope
      |FROM events
      |GROUP BY 1
      |ORDER BY window_start""".stripMargin

  /** MERGEABLE sketch rollup — the architectural upgrade over
    * [[eventsApproxUsers]]: daily `hll_sketch_agg` binaries UNION into
    * weekly estimates via `hll_union_agg`, never re-touching the raw
    * stream. This two-level shape is what a 100 TB rollup actually
    * stores: per-day sketches persist once (bounded bytes per cell) and
    * any coarser window — week, month, ad-hoc ranges — is a cheap merge
    * over sketches, where exact distinct-counts would re-shuffle the
    * full event history per query. Engine-specific bits, so the
    * registered form is the deterministic ENVELOPE (same contract as
    * [[eventsApproxUsers]]): exact weekly count + the asserted
    * `within_envelope` boolean; raw estimate in
    * [[eventsSketchWeeklyRaw]] (unregistered).
    */
  def eventsSketchWeekly(spark: SparkSession, dir: String): DataFrame =
    eventsSketchWeeklyRaw(spark, dir)
      .withColumn("within_envelope", col("rel_err") <= 0.1)
      .select("week", "event_type", "exact_users", "within_envelope")

  val eventsSketchWeeklySql: String =
    """SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS within_envelope
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY week, event_type""".stripMargin

  /** Raw-estimate form of the sketch rollup (unregistered). */
  def eventsSketchWeeklyRaw(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val weekly = ev
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      .select(to_date(date_trunc("week", col("w.start"))).as("week"),
        col("event_type"), col("sk"))
      .groupBy("week", "event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("approx_users"))
    // validation ride-along, NOT the production path: the exact weekly
    // count is a separate scan the sketch rollup exists to avoid
    val exact = ev
      .groupBy(to_date(date_trunc("week", col("ts"))).as("week"),
        col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    weekly.join(exact, Seq("week", "event_type"))
      .select(col("week"), col("event_type"),
        col("approx_users"), col("exact_users"),
        round(abs(col("approx_users") - col("exact_users"))
          / col("exact_users"), 6).as("rel_err"))
      .filter(expr(
        "assert_true(rel_err <= 0.1, 'merged HLL drifted >10% from exact') IS NULL"))
      .orderBy("week", "event_type")
  }

  /** Mergeable QUANTILE rollup — the percentile sibling of
    * [[eventsSketchWeekly]]: daily Greenwald–Khanna value sketches
    * ([[graft.functions.QuantileSketch]], bounded bytes per cell) merge
    * into weekly p50/p95 without re-touching raw events — the
    * latency-dashboard rollup a 100 TB event store actually runs, where
    * exact weekly percentiles would re-shuffle the full history per
    * query. Sketch bits are engine-specific (rows-only check) and the
    * query is SELF-VALIDATING on the real guarantee: GK bounds RANK
    * error (≤ ε·n per sketch, ≤ ~2ε through a merge level), so each
    * approximate percentile must land between the exact values at
    * p ± 4ε — `assert_true` aborts the query if it leaves that rank
    * envelope (value tolerance would be the wrong contract for
    * percentiles of a skewed column). The registered form is the
    * deterministic ENVELOPE: the exact order-statistic band bounds
    * (actual stored doubles — bitwise-reproducible in DuckDB) plus the
    * asserted `within_envelope` boolean; the engine-specific approx
    * percentiles live in [[eventsQuantileWeeklyRaw]] (unregistered).
    */
  def eventsQuantileWeekly(spark: SparkSession, dir: String): DataFrame =
    eventsQuantileWeeklyCore(spark, dir)
      .withColumn("within_envelope",
        expr("p50_approx >= p50_lo - 1e-9 AND p50_approx <= p50_hi + 1e-9 AND " +
             "p95_approx >= p95_lo - 1e-9 AND p95_approx <= p95_hi + 1e-9"))
      .select("week", "event_type", "n", "p50_lo", "p50_hi", "p95_lo", "p95_hi",
        "within_envelope")
      .orderBy("week", "event_type")

  /** Band arithmetic note: the ±0.04 rank margins are written as the
    * PRE-FOLDED decimal literals (0.46/0.54/0.91/0.99) in both engines,
    * so `floor`/`ceil` of `margin × n` is exact-decimal on both sides —
    * no float boundary flicker in the index computation, and the band
    * VALUES are stored doubles read from the same parquet.
    */
  val eventsQuantileWeeklySql: String =
    """WITH g AS (
      |  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
      |    list_sort(list(value)) AS vs, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT week, event_type, n,
      |  vs[GREATEST(1, CAST(FLOOR(0.46 * n) AS INT))] AS p50_lo,
      |  vs[LEAST(CAST(n AS INT), CAST(CEIL(0.54 * n) AS INT) + 1)] AS p50_hi,
      |  vs[GREATEST(1, CAST(FLOOR(0.91 * n) AS INT))] AS p95_lo,
      |  vs[LEAST(CAST(n AS INT), CAST(CEIL(0.99 * n) AS INT) + 1)] AS p95_hi,
      |  TRUE AS within_envelope
      |FROM g
      |ORDER BY week, event_type""".stripMargin

  /** Raw-estimate form (approx p50/p95 exposed; unregistered). */
  def eventsQuantileWeeklyRaw(spark: SparkSession, dir: String): DataFrame =
    eventsQuantileWeeklyCore(spark, dir)
      .select(col("week"), col("event_type"), col("p50_approx"), col("p95_approx"))
      .orderBy("week", "event_type")

  private def eventsQuantileWeeklyCore(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.QuantileSketch._
    val ev = Tables(spark, dir, "events")
    val weekly = ev
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(quantile_sketch_agg(col("value"), 0.01).as("sk"))
      .select(to_date(date_trunc("week", col("w.start"))).as("week"),
        col("event_type"), col("sk"))
      .groupBy("week", "event_type")
      .agg(quantile_sketch_merge(col("sk")).as("wsk"))
      .select(col("week"), col("event_type"),
        round(quantile_sketch_query(col("wsk"), 0.5), 6).as("p50_approx"),
        round(quantile_sketch_query(col("wsk"), 0.95), 6).as("p95_approx"))
    // validation ride-along, NOT the production path (same contract as
    // eventsSketchWeekly). GK returns an ACTUAL inserted value whose
    // rank is within ±(4ε·n) of p·n, so the bound is on ORDER
    // STATISTICS with ±1 integer slack — interpolated `percentile()`
    // is the wrong comparison for small discrete cells. collect_list
    // is the test-scale oracle device only (it's what the sketch
    // exists to avoid).
    val exact = ev
      .groupBy(to_date(date_trunc("week", col("ts"))).as("week"), col("event_type"))
      .agg(sort_array(collect_list(col("value"))).as("vs"), count(lit(1)).as("n"))
    // the margins fold to exact decimals (0.5∓0.04 → 0.46/0.54,
    // 0.95∓0.04 → 0.91/0.99) written literally so the oracle's decimal
    // arithmetic is identical
    def band(lo: String, hi: String, out: String) = Seq(
      expr(s"element_at(vs, greatest(1, cast(floor($lo * n) AS int)))").as(s"${out}_lo"),
      expr(s"element_at(vs, least(cast(n AS int), cast(ceil($hi * n) AS int) + 1))").as(s"${out}_hi"))
    weekly.join(exact, Seq("week", "event_type"))
      .select(Seq(col("week"), col("event_type"), col("n"),
        col("p50_approx"), col("p95_approx")) ++
        band("0.46", "0.54", "p50") ++ band("0.91", "0.99", "p95"): _*)
      .filter(expr("assert_true(p50_approx >= p50_lo - 1e-9 AND p50_approx <= p50_hi + 1e-9, " +
        "'weekly p50 outside GK rank envelope') IS NULL"))
      .filter(expr("assert_true(p95_approx >= p95_lo - 1e-9 AND p95_approx <= p95_hi + 1e-9, " +
        "'weekly p95 outside GK rank envelope') IS NULL"))
  }

  /** Range join (§2.4 breadth): click-to-purchase attribution — for each
    * purchase, the same user's clicks in the preceding hour. The equi key
    * (user_id) carries the join; the time range is a residual predicate
    * on matched pairs, so this stays a hash/sort-merge join on a
    * high-cardinality key at any scale, never a cross product. LEFT join
    * keeps zero-click purchases. The oracle truncates ts to microseconds
    * in the predicates — events carry nanosecond timestamps that Spark
    * reads µs-truncated (see [[graft.Tables]]).
    */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("cts"), col("value"))
    p.join(c,
        p("user_id") === c("c_user")
          && c("cts") <= p("pts")
          && c("cts") > p("pts") - expr("INTERVAL 1 HOUR"), "left")
      .groupBy(col("purchase_id"))
      .agg(count(col("cts")).as("n_clicks"),
        coalesce(sum(dec(col("value"))).cast("double"), lit(0.0)).as("click_value"))
      .orderBy("purchase_id")
  }

  /** Inner-join dual of [[rangeJoinSql]] for the stream-stream replay
    * gate: only matched (purchase, click) pairs — exactly what an
    * append-mode inner interval join emits. */
  val streamAttributionSql: String =
    """SELECT p.event_id AS purchase_id, CAST(COUNT(*) AS BIGINT) AS n_clicks,
      |  CAST(SUM(CAST(c.value AS DECIMAL(18,4))) AS DOUBLE) AS click_value
      |FROM (SELECT event_id, user_id, date_trunc('microseconds', ts) AS pts
      |      FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT user_id, date_trunc('microseconds', ts) AS cts, value
      |      FROM events WHERE event_type = 'click') c
      |  ON c.user_id = p.user_id
      | AND c.cts <= p.pts
      | AND c.cts > p.pts - INTERVAL 1 HOUR
      |GROUP BY p.event_id
      |ORDER BY purchase_id""".stripMargin

  val rangeJoinSql: String =
    """SELECT p.event_id AS purchase_id, COUNT(c.cts) AS n_clicks,
      |  COALESCE(CAST(SUM(CAST(c.value AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS click_value
      |FROM (SELECT event_id, user_id, date_trunc('microseconds', ts) AS pts
      |      FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT user_id, date_trunc('microseconds', ts) AS cts, value
      |           FROM events WHERE event_type = 'click') c
      |  ON c.user_id = p.user_id
      | AND c.cts <= p.pts
      | AND c.cts > p.pts - INTERVAL 1 HOUR
      |GROUP BY p.event_id
      |ORDER BY purchase_id""".stripMargin

  /** Interval-range window frame (§2.6 breadth): per-user trailing-7-day
    * value sum. Ordered by epoch SECONDS with a numeric range frame —
    * identical frame semantics in Spark and DuckDB (interval-typed RANGE
    * frames differ subtly between engines; integer range frames do not).
    * Ties on the sort key share a frame, so the result is deterministic
    * with or without a unique tiebreaker.
    */
  def windowRange7d(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-604800, 0)
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_timestamp(col("ts")).as("sec"), dec(col("value")).as("v"))
      .select(col("event_id"), col("user_id"), col("ts"),
        sum(col("v")).over(w).cast("double").as("sum_7d"))
      .orderBy("user_id", "ts", "event_id")
  }

  val windowRange7dSql: String =
    """SELECT event_id, user_id, ts,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
      |    PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
      |    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_7d
      |FROM events
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** Weekly cohort retention — the standard product-analytics matrix:
    * users grouped by first-activity week (their cohort), counted in each
    * later week they return. Three stages, each keyed where the data must
    * land anyway: the per-user cohort is a `min` WINDOW over `user_id`
    * (one shuffle, no self-join back to the event stream), then one
    * hash-shuffle on `(cohort_week, week_offset)` with partial
    * `count(distinct user)` — at 100 TB the distinct-count dominates and
    * partial aggregation bounds it per cohort cell. Weeks truncate
    * Monday-start in both engines; the offset division is exact (day
    * deltas are multiples of 7 by construction).
    */
  def eventsCohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    Tables(spark, dir, "events")
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .withColumn("cohort_week", min(col("wk")).over(w))
      .groupBy(col("cohort_week"),
        (datediff(col("wk"), col("cohort_week")) / 7).cast("int").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val eventsCohortRetentionSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |c AS (
      |  SELECT user_id, wk,
      |    MIN(wk) OVER (PARTITION BY user_id) AS cohort_week
      |  FROM e)
      |SELECT cohort_week,
      |  CAST((wk - cohort_week) // 7 AS INT) AS week_offset,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM c
      |GROUP BY 1, 2
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Funnel analysis — ordered conversion view → click → purchase per
    * user: each stage's timestamp is the user's earliest event of that
    * type STRICTLY AFTER the previous stage (the sequential-pattern shape
    * plain per-type mins get wrong — a purchase before the first click
    * must not count). Three stacked conditional-min windows over the SAME
    * user partition — Spark plans ONE user-keyed exchange serving all
    * three (no order-by, so no per-window sort) — then a global
    * single-row rollup unpivoted to (stage, n_users, conv_rate). At
    * 100 TB: one shuffle on user_id + a scalar aggregate; conversion
    * denominators ride along, no second pass.
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    val staged = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("v", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("c", min(when(col("event_type") === "click"
        && col("ts") > col("v"), col("ts"))).over(w))
      .withColumn("p", min(when(col("event_type") === "purchase"
        && col("ts") > col("c"), col("ts"))).over(w))
    val counts = staged
      .groupBy("user_id")
      .agg(max(col("v").isNotNull).as("hv"),
        max(col("c").isNotNull).as("hc"),
        max(col("p").isNotNull).as("hp"))
      .agg(sum(when(col("hv"), 1L).otherwise(0L)).as("n_view"),
        sum(when(col("hc"), 1L).otherwise(0L)).as("n_click"),
        sum(when(col("hp"), 1L).otherwise(0L)).as("n_purchase"))
    counts.select(expr(
      """stack(3,
           1L, 'view', n_view, cast(null AS double),
           2L, 'click', n_click, round(n_click / n_view, 6),
           3L, 'purchase', n_purchase, round(n_purchase / n_click, 6))
         AS (stage_no, stage, n_users, conv_rate)"""))
      .orderBy("stage_no")
  }

  val eventsFunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts
      |  FROM events),
      |staged AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id) AS v,
      |    ts, event_type
      |  FROM e),
      |staged2 AS (
      |  SELECT user_id, v,
      |    MIN(CASE WHEN event_type = 'click' AND ts > v THEN ts END)
      |      OVER (PARTITION BY user_id) AS c,
      |    ts, event_type
      |  FROM staged),
      |staged3 AS (
      |  SELECT user_id, v, c,
      |    MIN(CASE WHEN event_type = 'purchase' AND ts > c THEN ts END)
      |      OVER (PARTITION BY user_id) AS p
      |  FROM staged2),
      |per_user AS (
      |  SELECT user_id, MAX(v IS NOT NULL) AS hv, MAX(c IS NOT NULL) AS hc,
      |    MAX(p IS NOT NULL) AS hp
      |  FROM staged3 GROUP BY user_id),
      |counts AS (
      |  SELECT CAST(SUM(CASE WHEN hv THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |    CAST(SUM(CASE WHEN hc THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |    CAST(SUM(CASE WHEN hp THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
      |  FROM per_user)
      |SELECT stage_no, stage, n_users, conv_rate FROM (
      |  SELECT CAST(1 AS BIGINT) AS stage_no, 'view' AS stage, n_view AS n_users,
      |    CAST(NULL AS DOUBLE) AS conv_rate FROM counts
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), 'click', n_click,
      |    ROUND(CAST(n_click AS DOUBLE) / n_view, 6) FROM counts
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), 'purchase', n_purchase,
      |    ROUND(CAST(n_purchase AS DOUBLE) / n_click, 6) FROM counts)
      |ORDER BY stage_no""".stripMargin

  /** Trailing-window anomaly detection — the monitoring query every event
    * pipeline runs: per (event_type, day), flag days whose volume z-score
    * against the PRECEDING 7 days exceeds 3. Two cheap shuffles (daily
    * rollup on (type, day); series window on type), then pure arithmetic.
    * The mean/std come from DECIMAL running sums (`Σx`, `Σx²` over a
    * ROWS 7-preceding-to-1-preceding frame) rather than float avg/stddev
    * window aggregates — frame sums in decimal are fold-order-free — and
    * convert to double BEFORE any division (decimal division scale is
    * engine-specific), so both engines run the identical IEEE expression
    * tree and the z-scores hash-match; z rounds once at the edge.
    * Self-referential windows (today excluded from its own baseline) keep
    * a volume spike from masking itself.
    *
    * The daily series is DENSIFIED first (a calendar spine per event_type
    * spanning its min..max day, zero-filled): without it, "7 preceding
    * ROWS" silently means 7 preceding *observed* days — a gap stretches
    * the baseline across arbitrarily many calendar days, and a
    * zero-volume day (the classic outage) never appears in the output at
    * all. Dense rows make ROWS == calendar days and give an outage day a
    * real (large-negative-z) row. The spine is |types| × |days| rows —
    * broadcast-sized at any event volume.
    */
  /** CUSUM-style CHANGE-POINT detection per event type: over the daily
    * count series, the statistic |S_t·n − t·S_n| (cumulative sum
    * drift against the uniform-rate line, cross-multiplied so it stays
    * PURE BIGINT — no mean, no division) peaks at the day where the
    * rate shifts; the argmax (ties → earliest day) is the change-point
    * candidate and the peak value its strength. The monitoring sibling
    * of [[eventsAnomaly]]'s z-scores: z flags outlier DAYS, CUSUM
    * locates a LEVEL SHIFT. One corpus aggregate to (type, day);
    * windows and the argmax run on calendar-bounded rows; the argmax
    * is the single-pass `min(struct(−stat, day))`, never a sort.
    */
  def eventsChangepoint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
    val byType = Window.partitionBy("event_type")
    val series = daily
      .withColumn("t", row_number().over(byType.orderBy("d")).cast("long"))
      .withColumn("s", sum("x").over(byType.orderBy("d")))
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("sn", sum("x").over(byType))
      .withColumn("stat", abs(col("s") * col("n") - col("t") * col("sn")))
    series.groupBy("event_type")
      .agg(min(struct((-col("stat")).as("ns"), col("d").as("d"))).as("m"),
        max("n").as("n_days"), max("sn").as("n_events"))
      .select(col("event_type"), col("m.d").as("change_day"),
        (-col("m.ns")).as("stat_max"), col("n_days"), col("n_events"))
      .orderBy("event_type")
  }

  val eventsChangepointSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |series AS (
      |  SELECT event_type, d,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS BIGINT) AS t,
      |    SUM(x) OVER (PARTITION BY event_type ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |    SUM(x) OVER (PARTITION BY event_type) AS sn
      |  FROM daily),
      |stats AS (
      |  SELECT event_type, d, n, sn,
      |    ABS(s * n - t * sn) AS stat
      |  FROM series),
      |best AS (
      |  SELECT event_type, d AS change_day, stat AS stat_max, n, sn,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY stat DESC, d) AS rn
      |  FROM stats)
      |SELECT event_type, change_day, CAST(stat_max AS BIGINT) AS stat_max,
      |  n AS n_days, CAST(sn AS BIGINT) AS n_events
      |FROM best WHERE rn = 1
      |ORDER BY event_type""".stripMargin

  /** FRESHNESS MONITOR — per event type: last event time, minutes
    * behind the newest event anywhere, and last-day volume. The
    * liveness row every ingest dashboard leads with; a type whose lag
    * grows while its last-day count collapses is a dead upstream. One
    * corpus aggregate; the global max rides back as a broadcast
    * scalar.
    */
  def eventsFreshness(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val global = ev.agg(max(col("ts")).as("gmax"))
    ev.groupBy("event_type")
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_total"))
      .crossJoin(broadcast(global))
      .select(col("event_type"), col("last_ts"),
        ((unix_micros(col("gmax")) - unix_micros(col("last_ts")))
          / lit(60000000L)).cast("long").as("minutes_behind"),
        col("n_total"))
      .orderBy("event_type")
  }

  val eventsFreshnessSql: String =
    """WITH g AS (SELECT MAX(ts) AS gmax FROM events)
      |SELECT event_type,
      |  MAX(ts) AS last_ts,
      |  CAST(epoch_us((SELECT gmax FROM g) - MAX(ts)) // 60000000
      |    AS BIGINT) AS minutes_behind,
      |  CAST(COUNT(*) AS BIGINT) AS n_total
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** SEASONALITY PROFILE — the day-of-week × hour-of-day load matrix
    * with each cell's share of its day (integer-micros rounding): the
    * capacity-planning readout every event store serves. One corpus
    * aggregate to ≤ 7×24 cells; the share window runs on those cells.
    * Day-of-week via `dayofweek` (1=Sunday — matches DuckDB's
    * `dayofweek`+1 once aligned below).
    */
  def eventsSeasonality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables(spark, dir, "events")
      .groupBy(dayofweek(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n"))
      .withColumn("day_total", sum("n").over(Window.partitionBy("dow")))
      .select(col("dow"), col("hod"), col("n"),
        expr("(2 * n * 1000000 + day_total) div (2 * day_total) / 1e6")
          .as("share_of_day"))
      .orderBy("dow", "hod")
  }

  val eventsSeasonalitySql: String =
    """WITH c AS (
      |  SELECT dayofweek(ts) + 1 AS dow, EXTRACT(HOUR FROM ts) AS hod,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod, n,
      |  (2 * n * 1000000 + SUM(n) OVER (PARTITION BY dow))
      |    // (2 * SUM(n) OVER (PARTITION BY dow)) / 1e6 AS share_of_day
      |FROM c
      |ORDER BY dow, hod""".stripMargin

  /** RFM SEGMENTATION — recency / frequency / monetary quintiles per
    * customer, the classic marketing cut: one orders aggregate per
    * customer (days-since-last vs the corpus max date, order count,
    * decimal spend), exact global quintiles per metric with full
    * deterministic tie orders (metric, then custkey), and the
    * 555…111 segment code. The max-date scalar broadcasts back.
    *
    * Scale shape: quintiles are global BY DEFINITION, but NTILE(5)
    * OVER (ORDER BY …) as an unpartitioned window is a single-task
    * sort of every customer — a scale-killer once customers grow with
    * the corpus. Instead each score comes from [[globalRank]]'s exact
    * two-phase distributed rank (range-partition → per-partition
    * row_number → partition-count-bounded offset prefix) and the NTILE
    * bucket is then PURE ARITHMETIC on (rank, n): with q = n div 5 and
    * r = n mod 5, SQL NTILE gives the first r buckets q+1 rows and the
    * rest q, so bucket(p) = p div (q+1) + 1 for p < r·(q+1), else
    * r + (p − r·(q+1)) div q + 1 — bit-identical to the window form
    * (the oracle keeps the three NTILE windows) with no single-task
    * sort anywhere. The rank keys (metric, custkey) are unique, so the
    * rank — and therefore the bucket — is fully deterministic.
    */
  def ordersRfm(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
    val maxd = ord.agg(max(col("o_orderdate")).as("maxd"))
    val per = ord.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,4)")).as("monetary"))
      .crossJoin(broadcast(maxd))
      .select(col("o_custkey"),
        datediff(col("maxd"), col("last_order")).cast("long").as("recency_days"),
        col("frequency"), col("monetary"))
      // feeds three rank pipelines plus the n_total scalar — persisted so
      // the orders aggregate is computed once, not five times
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = Seq[(String, Seq[org.apache.spark.sql.Column])](
      ("_r0", Seq(col("recency_days").desc, col("o_custkey").asc)),
      ("_f0", Seq(col("frequency").asc, col("o_custkey").asc)),
      ("_m0", Seq(col("monetary").asc, col("o_custkey").asc)))
      .foldLeft(per.toDF()) { case (df, (c, ks)) => globalRank(df, c, ks) }
    // NTILE(5) from the 0-based rank: CASE branches are evaluated
    // lazily per row, so the q = 0 (n < 5) case never divides by zero —
    // r = n, every p < r·(q+1) = n, the THEN branch always fires
    def nt(rk: String): String =
      s"""(CASE WHEN $rk < (_n_total % 5) * (_n_total div 5 + 1)
         | THEN $rk div (_n_total div 5 + 1) + 1
         | ELSE (_n_total % 5)
         |   + ($rk - (_n_total % 5) * (_n_total div 5 + 1)) div (_n_total div 5)
         |   + 1 END)""".stripMargin.replaceAll("\n", " ")
    ranked
      .crossJoin(broadcast(per.agg(count(lit(1)).as("_n_total"))))
      .selectExpr("o_custkey", "recency_days", "frequency",
        "CAST(monetary AS DOUBLE) AS monetary",
        s"CAST(${nt("_r0")} * 100 + ${nt("_f0")} * 10 + ${nt("_m0")} AS BIGINT)" +
          " AS rfm_segment")
      .orderBy("o_custkey")
  }

  /** Exact 0-based global rank — delegated to the shared two-phase
    * distributed ranking helper [[DistRank.globalRank]] (built here
    * for orders_rfm; hoisted so pareto_abc / zipf_fit reuse the
    * identical discipline).
    */
  private def globalRank(df: DataFrame, rankCol: String,
      keys: Seq[org.apache.spark.sql.Column]): DataFrame =
    DistRank.globalRank(df, rankCol, keys)

  val ordersRfmSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    date_diff('day', MAX(o_orderdate),
      |      (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
      |    CAST(COUNT(*) AS BIGINT) AS frequency,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS monetary
      |  FROM orders GROUP BY o_custkey)
      |SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
      |  frequency, CAST(monetary AS DOUBLE) AS monetary,
      |  CAST(NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey) * 100
      |    + NTILE(5) OVER (ORDER BY frequency, o_custkey) * 10
      |    + NTILE(5) OVER (ORDER BY monetary, o_custkey) AS BIGINT)
      |    AS rfm_segment
      |FROM per
      |ORDER BY o_custkey""".stripMargin

  /** THEIL–SEN ROBUST TREND per event type — the median of all
    * pairwise day-to-day slopes of the daily series: up to ~29% of the
    * days can be wild (outages, bot storms) without moving the
    * estimate, where the OLS slope chases every spike. The pair
    * enumeration is quadratic in CALENDAR DAYS on the persisted
    * rollup, never rows — the same bound as [[eventsAcf]]. Each pair
    * slope is rounded to exact integer micros FIRST (signed
    * half-away-from-zero, the qualityClassifier discipline), so the
    * median runs on integers and lands on halves — exact in doubles on
    * both engines.
    */
  def eventsTheilsen(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = daily.select(col("event_type"),
      col("d").as("bd"), col("x").as("bx"))
    daily.join(b, Seq("event_type"))
      .filter(col("bd") > col("d"))
      .select(col("event_type"),
        (col("bx") - col("x")).as("p"),
        datediff(col("bd"), col("d")).cast("long").as("q"))
      .withColumn("slope_micros", expr(
        """CASE WHEN p >= 0 THEN (2 * p * 1000000 + q) div (2 * q)
           ELSE -((2 * -p * 1000000 + q) div (2 * q)) END"""))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        (expr("percentile(slope_micros, 0.5)") / 1e6).as("slope_per_day"))
      .orderBy("event_type")
  }

  val eventsTheilsenSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.event_type, b.x - a.x AS p,
      |    CAST(date_diff('day', a.d, b.d) AS BIGINT) AS q
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND b.d > a.d),
      |slopes AS (
      |  SELECT event_type,
      |    CASE WHEN p >= 0 THEN (2 * p * 1000000 + q) // (2 * q)
      |    ELSE -((2 * -p * 1000000 + q) // (2 * q)) END AS slope_micros
      |  FROM pairs)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  quantile_cont(slope_micros, 0.5) / 1e6 AS slope_per_day
      |FROM slopes
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** MULTI-TOUCH ATTRIBUTION — first-touch, last-touch, and linear
    * credit per touch type for every purchase conversion (7-day
    * lookback): the batch credit-model family on top of the streaming
    * [[graft.streaming.StreamingOps.clickAttribution]] inner join and the
    * single-model [[graft.queries.OlapQueries]] range join. ONE
    * user-keyed range join builds the (purchase, touch) frame; ONE
    * purchase-keyed exchange serves all three models — first/last are
    * rank-1 flags under fully tie-broken (ts, event_id) orders, linear
    * is the per-touch 1/n share in half-up integer micros (each
    * conversion distributes exactly ~10⁶ micros across its touches) —
    * then one ≤3-row aggregate. The equi user key carries the join;
    * the time window is a residual (the range_join discipline).
    */
  def touchAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))
    val touches = ev
      .filter(col("event_type").isin("view", "click", "signup"))
      .select(col("user_id"), col("ts").as("t_ts"),
        col("event_id").as("t_id"), col("event_type").as("touch_type"))
    val byPurchase = Window.partitionBy("p_id")
    purchases.join(touches, Seq("user_id"))
      .filter(col("t_ts") < col("p_ts") &&
        col("t_ts") >= expr("p_ts - INTERVAL 7 DAY"))
      .withColumn("n", count(lit(1)).over(byPurchase))
      .withColumn("rk_first", row_number().over(
        byPurchase.orderBy(col("t_ts"), col("t_id"))))
      .withColumn("rk_last", row_number().over(
        byPurchase.orderBy(col("t_ts").desc, col("t_id").desc)))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_touches"),
        sum(when(col("rk_first") === 1, 1L).otherwise(0L)).as("first_touch"),
        sum(when(col("rk_last") === 1, 1L).otherwise(0L)).as("last_touch"),
        sum(expr("(2 * 1000000 + n) div (2 * n)")).as("linear_micros"))
      .select(col("touch_type"), col("n_touches"), col("first_touch"),
        col("last_touch"),
        (col("linear_micros") / 1e6).as("linear_credit"))
      .orderBy("touch_type")
  }

  val touchAttributionSql: String =
    """WITH p AS (
      |  SELECT user_id, event_id AS p_id, ts AS p_ts
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, ts AS t_ts, event_id AS t_id,
      |    event_type AS touch_type
      |  FROM events WHERE event_type IN ('view', 'click', 'signup')),
      |j AS (
      |  SELECT p.p_id, t.t_ts, t.t_id, t.touch_type
      |  FROM p JOIN t ON t.user_id = p.user_id
      |    AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY),
      |w AS (
      |  SELECT touch_type,
      |    CAST(COUNT(*) OVER (PARTITION BY p_id) AS BIGINT) AS n,
      |    ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_ts, t_id)
      |      AS rk_first,
      |    ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_ts DESC,
      |      t_id DESC) AS rk_last
      |  FROM j)
      |SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
      |  CAST(SUM(CASE WHEN rk_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS first_touch,
      |  CAST(SUM(CASE WHEN rk_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS last_touch,
      |  CAST(SUM((2 * 1000000 + n) // (2 * n)) AS BIGINT) / 1e6
      |    AS linear_credit
      |FROM w
      |GROUP BY touch_type
      |ORDER BY touch_type""".stripMargin

  /** SEASONAL-NAIVE FORECAST EVALUATION — forecast every day's count
    * per event type as "same weekday last week" and score the forecast
    * with MAE and MAPE: the baseline every real forecasting deployment
    * must beat, and the error-metric machinery (exact, per-type) that
    * scoring any better model reuses. Only days whose d−7 was observed
    * are scored (join against the shifted rollup — no imputation). The
    * corpus stage is the daily rollup (persisted — it is both the
    * actual AND, shifted, the forecast); per-day APE and the means are
    * half-up integer micros.
    */
  def forecastEval(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val f = daily.select(col("event_type"), date_add(col("d"), 7).as("d"),
      col("y").as("yhat"))
    daily.join(f, Seq("event_type", "d"))
      .select(col("event_type"), abs(col("y") - col("yhat")).as("ae"),
        expr("""(2 * abs(y - yhat) * 1000000 + y) div (2 * y)""").as("ape"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("ae").as("sae"), sum("ape").as("sape"))
      .select(col("event_type"), col("n_days"),
        expr("(2 * sae * 1000000 + n_days) div (2 * n_days) / 1e6")
          .as("mae"),
        expr("(2 * sape * 1000000 + n_days) div (2 * n_days) / 1e12")
          .as("mape"))
      .orderBy("event_type")
  }

  val forecastEvalSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |f AS (
      |  SELECT event_type, d + 7 AS d, y AS yhat FROM daily),
      |scored AS (
      |  SELECT daily.event_type, ABS(daily.y - f.yhat) AS ae,
      |    (2 * ABS(daily.y - f.yhat) * 1000000 + daily.y)
      |      // (2 * daily.y) AS ape
      |  FROM daily JOIN f ON f.event_type = daily.event_type
      |    AND f.d = daily.d)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  (2 * CAST(SUM(ae) AS BIGINT) * 1000000 + COUNT(*))
      |    // (2 * COUNT(*)) / 1e6 AS mae,
      |  (2 * CAST(SUM(ape) AS BIGINT) * 1000000 + COUNT(*))
      |    // (2 * COUNT(*)) / 1e12 AS mape
      |FROM scored
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** CLASSICAL SEASONAL DECOMPOSITION (trend + weekly seasonal +
    * residual) of the per-type daily series — the additive STL-lite
    * every monitoring stack wants behind its charts: trend = the ±3-day
    * centered moving average (a RANGE window over the integer day
    * number, so calendar gaps average only the neighbors that exist —
    * never "7 rows" silently spanning a hole), seasonal = the mean
    * detrended value of the series' day-of-week, residual = the rest.
    * Day-of-week is `datediff(d, epoch) % 7` — pure integer, immune to
    * the engines' different dayofweek numbering conventions. All three
    * components are exact integer micros (signed half-up means);
    * everything runs on the persisted calendar-bounded rollup.
    */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
      .withColumn("dn",
        datediff(col("d"), lit("1995-01-01")).cast("long"))
      .withColumn("dow", expr("dn % 7"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ma = Window.partitionBy("event_type").orderBy("dn")
      .rangeBetween(-3, 3)
    val trended = daily
      .withColumn("tsum", sum("y").over(ma))
      .withColumn("tn", count(lit(1)).over(ma))
      .withColumn("trend_micros",
        expr("(2 * tsum * 1000000 + tn) div (2 * tn)"))
      .withColumn("det_micros", col("y") * 1000000L - col("trend_micros"))
    val seas = Window.partitionBy("event_type", "dow")
    trended
      .withColumn("ssum", sum("det_micros").over(seas))
      .withColumn("sn", count(lit(1)).over(seas))
      .withColumn("seasonal_micros", expr(
        """CASE WHEN ssum >= 0 THEN (2 * ssum + sn) div (2 * sn)
           ELSE -((2 * -ssum + sn) div (2 * sn)) END"""))
      .select(col("event_type"), col("d"), col("y"),
        (col("trend_micros") / 1e6).as("trend"),
        (col("seasonal_micros") / 1e6).as("seasonal"),
        ((col("det_micros") - col("seasonal_micros")) / 1e6).as("residual"))
      .orderBy("event_type", "d")
  }

  val seasonalDecomposeSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS y,
      |    CAST(date_diff('day', DATE '1995-01-01', CAST(ts AS DATE))
      |         AS BIGINT) AS dn
      |  FROM events GROUP BY 1, 2, 4),
      |tr AS (
      |  SELECT event_type, d, y, dn, dn % 7 AS dow,
      |    CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY dn
      |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS tsum,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY dn
      |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS tn
      |  FROM daily),
      |det AS (
      |  SELECT *,
      |    (2 * tsum * 1000000 + tn) // (2 * tn) AS trend_micros,
      |    y * 1000000 - (2 * tsum * 1000000 + tn) // (2 * tn) AS det_micros
      |  FROM tr),
      |seas AS (
      |  SELECT *,
      |    CAST(SUM(det_micros) OVER (PARTITION BY event_type, dow)
      |         AS BIGINT) AS ssum,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type, dow) AS BIGINT)
      |      AS sn
      |  FROM det),
      |fin AS (
      |  SELECT *,
      |    CASE WHEN ssum >= 0 THEN (2 * ssum + sn) // (2 * sn)
      |    ELSE -((2 * -ssum + sn) // (2 * sn)) END AS seasonal_micros
      |  FROM seas)
      |SELECT event_type, d, y,
      |  trend_micros / 1e6 AS trend,
      |  seasonal_micros / 1e6 AS seasonal,
      |  (det_micros - seasonal_micros) / 1e6 AS residual
      |FROM fin
      |ORDER BY event_type, d""".stripMargin

  /** ROLLING ACTIVE USERS — DAU, trailing-7-day WAU, and the
    * DAU/WAU stickiness ratio per day: the engagement triple on every
    * product dashboard. A rolling DISTINCT count can't ride a window
    * frame (distinct doesn't decompose), so the scalable form is the
    * COVERAGE EXPLODE: each (user, active-day) pair contributes to the
    * 7 calendar days it covers — a bounded ×7 blowup of the distinct
    * incidence, then ONE day-keyed distinct aggregate (dau rides along
    * as the offset-0 conditional distinct). Days past the data's max
    * date are clipped via the broadcast bound.
    */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val bounds = ud.agg(max("d").as("dmax"))
    ud
      .select(col("user_id"), col("d"),
        explode(expr("sequence(0, 6)")).as("k"))
      .withColumn("day", date_add(col("d"), col("k")))
      .crossJoin(broadcast(bounds))
      .filter(col("day") <= col("dmax"))
      .groupBy("day")
      .agg(countDistinct(when(col("k") === 0, col("user_id"))).as("dau"),
        countDistinct(col("user_id")).as("wau"))
      .select(col("day"), col("dau"), col("wau"),
        expr("(2 * dau * 1000000 + wau) div (2 * wau) / 1e6")
          .as("stickiness"))
      .orderBy("day")
  }

  val rollingActiveUsersSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |b AS (SELECT MAX(d) AS dmax FROM ud),
      |cov AS (
      |  SELECT user_id, d + CAST(t.k AS INTEGER) AS day, t.k
      |  FROM ud CROSS JOIN range(0, 7) t(k)),
      |g AS (
      |  SELECT day,
      |    CAST(COUNT(DISTINCT CASE WHEN k = 0 THEN user_id END) AS BIGINT)
      |      AS dau,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      |  FROM cov CROSS JOIN b
      |  WHERE day <= dmax
      |  GROUP BY day)
      |SELECT day, dau, wau,
      |  (2 * dau * 1000000 + wau) // (2 * wau) / 1e6 AS stickiness
      |FROM g
      |ORDER BY day""".stripMargin

  /** LONGEST ACTIVITY STREAKS — consecutive-day runs per user (the
    * engagement metric product teams pin to retention), as the classic
    * gaps-and-islands: island id = day number − dense day rank, one
    * user-keyed exchange for the rank, one aggregate per island,
    * global top-20 as TakeOrdered with the full (len, user, start)
    * tiebreak.
    */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .withColumn("dn", datediff(col("d"), lit("1995-01-01")).cast("long"))
    val w = Window.partitionBy("user_id").orderBy("dn")
    days
      .withColumn("grp", col("dn") - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("streak_days"),
        min("d").as("streak_start"), max("d").as("streak_end"))
      .select("user_id", "streak_days", "streak_start", "streak_end")
      .orderBy(desc("streak_days"), asc("user_id"), asc("streak_start"))
      .limit(20)
  }

  val activityStreaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
      |  FROM events),
      |marked AS (
      |  SELECT user_id, d,
      |    CAST(date_diff('day', DATE '1995-01-01', d) AS BIGINT)
      |      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
      |  FROM days)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_days,
      |  MIN(d) AS streak_start, MAX(d) AS streak_end
      |FROM marked
      |GROUP BY user_id, grp
      |ORDER BY streak_days DESC, user_id, streak_start
      |LIMIT 20""".stripMargin

  /** CONFORMAL PREDICTION BAND for the seasonal-naive forecast — the
    * split-conformal recipe on top of [[forecastEval]]'s point metrics:
    * the q95 of CALIBRATION |errors| (all but the last 14 days) becomes
    * the per-type ±band, and the band's EMPIRICAL COVERAGE on the
    * held-out 14 days is reported next to it — the distribution-free
    * guarantee check every forecast consumer should demand. The
    * quantile is the NEAREST-RANK order statistic (first |e| whose
    * rank·20 ≥ n·19) — pure integers, no interpolated percentile whose
    * fractional position drifts by an ulp across engines. Same
    * persisted daily rollup as forecastEval; everything after runs on
    * calendar-bounded rows.
    */
  def forecastInterval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val f = daily.select(col("event_type"), date_add(col("d"), 7).as("d"),
      col("y").as("yhat"))
    val bounds = daily.agg(max("d").as("dmax"))
    val errs = daily.join(f, Seq("event_type", "d"))
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), col("d"),
        abs(col("y") - col("yhat")).as("ae"),
        (col("d") <= date_sub(col("dmax"), 14)).as("is_cal"))
    val byType = Window.partitionBy("event_type")
    val cal = errs.filter(col("is_cal"))
      .withColumn("rk", row_number().over(byType.orderBy(col("ae"), col("d"))))
      .withColumn("n", count(lit(1)).over(byType))
      .groupBy("event_type")
      .agg(max("n").as("n_cal"),
        min(when(col("rk") * 20 >= col("n") * 19, col("ae"))).as("band"))
    errs.filter(!col("is_cal"))
      .join(broadcast(cal), Seq("event_type"))
      .groupBy(col("event_type"), col("n_cal"), col("band"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("ae") <= col("band"), 1L).otherwise(0L)).as("n_covered"))
      .select(col("event_type"), col("n_cal"), col("band"), col("n_eval"),
        col("n_covered"),
        expr("(2 * n_covered * 1000000 + n_eval) div (2 * n_eval) / 1e6")
          .as("coverage"))
      .orderBy("event_type")
  }

  val forecastIntervalSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |f AS (
      |  SELECT event_type, d + 7 AS d, y AS yhat FROM daily),
      |b AS (SELECT MAX(d) AS dmax FROM daily),
      |errs AS (
      |  SELECT daily.event_type, daily.d,
      |    ABS(daily.y - f.yhat) AS ae,
      |    daily.d <= dmax - 14 AS is_cal
      |  FROM daily JOIN f ON f.event_type = daily.event_type
      |    AND f.d = daily.d
      |  CROSS JOIN b),
      |ranked AS (
      |  SELECT event_type, ae,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ae, d) AS rk,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM errs WHERE is_cal),
      |cal AS (
      |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_cal,
      |    CAST(MIN(CASE WHEN rk * 20 >= n * 19 THEN ae END) AS BIGINT)
      |      AS band
      |  FROM ranked GROUP BY event_type)
      |SELECT e.event_type, n_cal, band,
      |  CAST(COUNT(*) AS BIGINT) AS n_eval,
      |  CAST(SUM(CASE WHEN ae <= band THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_covered,
      |  (2 * CAST(SUM(CASE WHEN ae <= band THEN 1 ELSE 0 END) AS BIGINT)
      |     * 1000000 + COUNT(*)) // (2 * COUNT(*)) / 1e6 AS coverage
      |FROM errs e JOIN cal ON cal.event_type = e.event_type
      |WHERE NOT is_cal
      |GROUP BY e.event_type, n_cal, band
      |ORDER BY e.event_type""".stripMargin

  /** AUDIENCE OVERLAP MATRIX — exact Jaccard similarity between the
    * USER SETS of every event-type pair ("do the people who click also
    * purchase?"): the set-similarity tier applied to audiences instead
    * of documents. The corpus collapses to the distinct (user, type)
    * incidence — ONE exchange, persisted — and both the pair
    * intersections (per-user type pairs, fanout ≤ C(5,2) = 10 per
    * user) and the per-type totals fold off it; |A∪B| comes from
    * inclusion-exclusion, never a union materialization. All integer
    * until the final half-up micros division; output ≤10 rows.
    */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    val inter = ut.as("a")
      .join(ut.as("b"), Seq("user_id"))
      .filter(col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(totals.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(totals.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("""(2 * n_both * 1000000 + (n_a + n_b - n_both))
                div (2 * (n_a + n_b - n_both)) / 1e6""").as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  val audienceOverlapSql: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type FROM events),
      |totals AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM ut GROUP BY 1),
      |inter AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_both
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_both,
      |  (2 * n_both * 1000000 + (ta.n + tb.n - n_both))
      |    // (2 * (ta.n + tb.n - n_both)) / 1e6 AS jaccard
      |FROM inter
      |JOIN totals ta ON ta.event_type = type_a
      |JOIN totals tb ON tb.event_type = type_b
      |ORDER BY type_a, type_b""".stripMargin

  /** COHORT LTV CURVES — cumulative purchase revenue per cohort user by
    * weeks-since-signup: the REVENUE companion to
    * [[eventsCohortRetention]]'s user counts (retention says who came
    * back, LTV says what they were worth — the pair every growth
    * dashboard plots together). Cohort = the user's first event week
    * (any type); revenue = purchase-event cents (lossless 2dp grid).
    * The corpus stage is one user-keyed min window + one (cohort,
    * offset) aggregate; the cumulative-revenue window and the
    * per-cohort-size division run on the calendar-bounded grid
    * (weeks × offsets). BIGINT cents, half-up micros division, /10⁸
    * display conversion — zero float accumulation.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        to_date(date_trunc("week", col("ts"))).as("wk"),
        expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("cents"))
      .withColumn("cohort_week",
        min(col("wk")).over(Window.partitionBy("user_id")))
    val cells = e.groupBy(col("cohort_week"),
        (datediff(col("wk"), col("cohort_week")) / 7).cast("int")
          .as("week_offset"))
      .agg(coalesce(sum(when(col("event_type") === "purchase",
        col("cents"))), lit(0L)).as("rev_cents"))
    val sizes = e.groupBy("cohort_week")
      .agg(countDistinct(col("user_id")).as("cohort_users"))
    val cum = Window.partitionBy("cohort_week").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("cum_cents", sum("rev_cents").over(cum))
      .select(col("cohort_week"), col("week_offset"), col("cohort_users"),
        (col("rev_cents") / 100.0).as("week_revenue"),
        expr("(2 * cum_cents * 1000000 + cohort_users) div (2 * cohort_users) / 1e8")
          .as("cum_ltv_per_user"))
      .orderBy("cohort_week", "week_offset")
  }

  val cohortLtvSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    CAST(date_trunc('week', ts) AS DATE) AS wk,
      |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      |  FROM events),
      |c AS (
      |  SELECT *, MIN(wk) OVER (PARTITION BY user_id) AS cohort_week
      |  FROM e),
      |cells AS (
      |  SELECT cohort_week,
      |    CAST((wk - cohort_week) // 7 AS INT) AS week_offset,
      |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |      THEN cents END), 0) AS BIGINT) AS rev_cents
      |  FROM c GROUP BY 1, 2),
      |sizes AS (
      |  SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_users
      |  FROM c GROUP BY 1),
      |cumed AS (
      |  SELECT cells.cohort_week, week_offset, cohort_users, rev_cents,
      |    CAST(SUM(rev_cents) OVER (PARTITION BY cells.cohort_week
      |      ORDER BY week_offset
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_cents
      |  FROM cells JOIN sizes ON sizes.cohort_week = cells.cohort_week)
      |SELECT cohort_week, week_offset, cohort_users,
      |  rev_cents / 100.0 AS week_revenue,
      |  (2 * cum_cents * 1000000 + cohort_users) // (2 * cohort_users) / 1e8
      |    AS cum_ltv_per_user
      |FROM cumed
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** SESSION BOUNCE RATE by entry event type — the engagement audit on
    * top of the sessionization tier ([[eventsSession]] builds sessions,
    * [[sessionPaths]] reads their shapes, this one scores their
    * QUALITY): a bounce is a single-event session, attributed to the
    * event type that OPENED the session — the "which landing
    * experience loses people" question. Sessions are the same
    * 30-minute-gap islands as [[eventsSession]] (lag + running-sum
    * form, exactly the oracle's semantics); the entry event is
    * rank-1 by (ts, event_id) so simultaneous first events break ties
    * identically in both engines. One user-keyed exchange serves the
    * lag, the island sum, and the entry rank; the aggregate is ≤5 rows.
    */
  def bounceRate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val sessions = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts") >= expr("prev_ts + INTERVAL 30 MINUTE"), 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rk", row_number().over(
        Window.partitionBy("user_id", "session_id")
          .orderBy(col("ts"), col("event_id"))))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        max(when(col("rk") === 1, col("event_type"))).as("entry_type"))
    sessions
      .groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"),
        sum("n_events").as("total_events"))
      .select(col("entry_type"), col("n_sessions"), col("n_bounces"),
        expr("(2 * n_bounces * 1000000 + n_sessions) div (2 * n_sessions) / 1e6")
          .as("bounce_rate"),
        expr("(2 * total_events * 1000000 + n_sessions) div (2 * n_sessions) / 1e6")
          .as("events_per_session"))
      .orderBy("entry_type")
  }

  val bounceRateSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) IS NULL
      |      OR ts >= LAG(ts) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) + INTERVAL 30 MINUTE
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked),
      |entry AS (
      |  SELECT user_id, session_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, session_id
      |      ORDER BY ts, event_id) AS rk
      |  FROM sess),
      |per AS (
      |  SELECT s.user_id, s.session_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_events,
      |    MAX(CASE WHEN e.rk = 1 THEN e.event_type END) AS entry_type
      |  FROM sess s JOIN entry e ON e.user_id = s.user_id
      |    AND e.session_id = s.session_id AND e.rk = 1
      |  GROUP BY s.user_id, s.session_id)
      |SELECT entry_type, CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bounces,
      |  (2 * CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |     * 1000000 + COUNT(*)) // (2 * COUNT(*)) / 1e6 AS bounce_rate,
      |  (2 * CAST(SUM(n_events) AS BIGINT) * 1000000 + COUNT(*))
      |    // (2 * COUNT(*)) / 1e6 AS events_per_session
      |FROM per
      |GROUP BY entry_type
      |ORDER BY entry_type""".stripMargin

  /** 5% TRIMMED MEAN of `value` per event type — the third robust
    * estimator next to [[eventsMad]] (robust spread) and
    * [[eventsTheilsen]] (robust trend): drop the bottom and top
    * floor(n·5%) observations by rank and average the middle, shown
    * against the untrimmed mean so the tail influence is the visible
    * delta. Values quantize to their lossless cents grid, sums are
    * BIGINT, and each mean is one half-up micros division — zero float
    * accumulation.
    *
    * Computed on the BOUNDED cents-grid histogram (the [[graft.ext
    * .CurationQueries.ksDrift]] idiom), never a corpus-wide rank: the
    * trim keeps the contiguous rank range (lo, n−lo], and every row
    * tied at the boundary carries the same cents value, so the kept
    * count per bucket is `max(0, min(cum, hi) − max(cum − cnt, lo))`
    * from cumulative bucket counts — identical sums to the tie-broken
    * rank form, exactly.
    *
    * Scale: one corpus aggregate to the per-type cents histogram; the
    * cumulative window runs per event_type over the bounded grid
    * (≤ types × value-range rows at ANY corpus size), then one
    * aggregate back. The corpus-sized exchange is the histogram
    * groupBy with map-side partial aggregation — no window ever sees
    * a corpus-proportional partition.
    */
  def trimmedMean(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("cents"))
      .agg(count(lit(1)).as("cnt"))
    val byType = Window.partitionBy("event_type")
    val cum = byType.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum("cnt").over(cum))
      .withColumn("n", sum("cnt").over(byType))
      .withColumn("lo", expr("n * 5 div 100"))
      .withColumn("kept", greatest(lit(0L),
        least(col("cum"), col("n") - col("lo"))
          - greatest(col("cum") - col("cnt"), col("lo"))))
      .groupBy("event_type")
      .agg(max("n").as("n"), max("lo").as("n_trimmed_each_side"),
        sum(col("cents") * col("cnt")).as("s_all"),
        sum(col("cents") * col("kept")).as("s_trim"),
        sum("kept").as("n_trim"))
      .select(col("event_type"), col("n"), col("n_trimmed_each_side"),
        expr("(2 * s_all * 1000000 + n) div (2 * n) / 1e8").as("mean_all"),
        expr("(2 * s_trim * 1000000 + n_trim) div (2 * n_trim) / 1e8")
          .as("mean_trimmed"))
      .orderBy("event_type")
  }

  val trimmedMeanSql: String =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL),
      |ranked AS (
      |  SELECT event_type, cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY cents, event_id) AS BIGINT) AS rk,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM ev),
      |flagged AS (
      |  SELECT event_type, cents, n, n * 5 // 100 AS lo,
      |    rk > n * 5 // 100 AND rk <= n - n * 5 // 100 AS keep
      |  FROM ranked)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
      |  CAST(MAX(lo) AS BIGINT) AS n_trimmed_each_side,
      |  (2 * CAST(SUM(cents) AS BIGINT) * 1000000 + MAX(n))
      |    // (2 * MAX(n)) / 1e8 AS mean_all,
      |  (2 * CAST(SUM(CASE WHEN keep THEN cents END) AS BIGINT) * 1000000
      |     + CAST(SUM(CASE WHEN keep THEN 1 END) AS BIGINT))
      |    // (2 * CAST(SUM(CASE WHEN keep THEN 1 END) AS BIGINT)) / 1e8
      |    AS mean_trimmed
      |FROM flagged
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** MAD ROBUST OUTLIERS — median absolute deviation per event type
    * over the daily series, flagging days beyond 3·MAD: the
    * breakdown-resistant sibling of [[eventsAnomaly]]'s mean/σ
    * z-scores (one monster day inflates a mean and hides itself; it
    * cannot move a median). Exact cross-engine floats BY CONSTRUCTION:
    * daily counts are integers, so the interpolated median lands on
    * halves, deviations on halves, the MAD on quarters — all exact in
    * doubles, and `percentile` (Spark) == `quantile_cont` (DuckDB) on
    * those grids. One corpus scan to the persisted calendar-bounded
    * rollup; the two median aggregates and both join-backs run on
    * ≤ types×days rows.
    */
  def eventsMad(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val med = daily.groupBy("event_type")
      .agg(expr("percentile(x, 0.5)").as("med"))
    val dev = daily.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("x") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("d"), col("x"),
        col("med"), col("mad"),
        (col("dev") > col("mad") * 3).as("is_outlier"))
      .orderBy("event_type", "d")
  }

  val eventsMadSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |med AS (
      |  SELECT event_type, quantile_cont(x, 0.5) AS med
      |  FROM daily GROUP BY event_type),
      |dev AS (
      |  SELECT daily.event_type, d, x, med, ABS(x - med) AS dev
      |  FROM daily JOIN med ON daily.event_type = med.event_type),
      |mad AS (
      |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT dev.event_type AS event_type, d, x, med, mad,
      |  dev > mad * 3 AS is_outlier
      |FROM dev JOIN mad ON dev.event_type = mad.event_type
      |ORDER BY dev.event_type, d""".stripMargin

  /** COUNT-MIN SKETCH count estimation (Cormode & Muthukrishnan 2005)
    * for the top per-user event counts — the third mergeable-sketch
    * tier next to HLL (distincts) and GK (quantiles): bounded D×W
    * integer counters that merge by cell-wise ADDITION, the shape a
    * 100 TB store keeps per source/day and rolls up without rescans.
    * Hashes are md5-derived (the cross-engine idiom), so the estimate
    * is a pure deterministic function of the data — the RAW estimates
    * sit under the full DuckDB hash oracle, no envelope needed (unlike
    * Misra–Gries, whose stored counters are merge-order-dependent).
    * One corpus scan to the per-user rollup (persisted — counters,
    * exact top-10, and the probe hashes all read it); the D×W counter
    * table (3×32) broadcasts. est ≥ true always (CMS one-sided
    * guarantee); `overcount` shows the collision error the width
    * bounds.
    */
  def cmsUserCounts(spark: SparkSession, dir: String): DataFrame = {
    val D = 3; val W = 32
    val users = Tables(spark, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def withBucket(df: DataFrame): DataFrame = df
      .select(col("user_id"), col("n"),
        explode(array((0 until D).map(r => lit(r.toLong)): _*)).as("r"))
      .withColumn("b", expr(
        s"""cast(conv(substring(md5(concat('cms', cast(r AS string), ':',
           |  cast(user_id AS string))), 1, 15), 16, 10) AS bigint) % $W"""
          .stripMargin))
    val counters = withBucket(users)
      .groupBy("r", "b").agg(sum("n").as("cnt"))
    val top = users.orderBy(desc("n"), asc("user_id")).limit(10)
    withBucket(top)
      .join(broadcast(counters), Seq("r", "b"))
      .groupBy(col("user_id"), col("n"))
      .agg(min("cnt").as("est"))
      .select(col("user_id"), col("n").as("true_n"), col("est"),
        (col("est") - col("n")).as("overcount"))
      .filter(expr(
        "assert_true(est >= true_n, 'CMS one-sided guarantee violated') IS NULL"))
      .orderBy(desc("true_n"), asc("user_id"))
  }

  val cmsUserCountsSql: String =
    """WITH u AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |h AS (
      |  SELECT user_id, n, r,
      |    CAST(('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || ':'
      |      || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 32 AS b
      |  FROM u CROSS JOIN (VALUES (0), (1), (2)) AS t(r)),
      |c AS (SELECT r, b, CAST(SUM(n) AS BIGINT) AS cnt FROM h GROUP BY r, b),
      |top AS (SELECT user_id, n FROM u ORDER BY n DESC, user_id LIMIT 10),
      |est AS (
      |  SELECT t.user_id, t.n, MIN(c.cnt) AS est
      |  FROM top t
      |  JOIN h ON h.user_id = t.user_id
      |  JOIN c ON c.r = h.r AND c.b = h.b
      |  GROUP BY t.user_id, t.n)
      |SELECT user_id, n AS true_n, CAST(est AS BIGINT) AS est,
      |  CAST(est - n AS BIGINT) AS overcount
      |FROM est
      |ORDER BY true_n DESC, user_id""".stripMargin

  /** MUTUAL INFORMATION between two categorical columns (event type ×
    * day-of-week) — the feature-screening statistic in front of any
    * model: does knowing the weekday tell you anything about the event
    * mix? Reported per CELL (n_xy and its MI term) rather than one
    * scalar, so the output is deterministic — the total would be an
    * order-dependent double sum; downstream sums the ≤|X|·|Y| rows
    * however it likes. One corpus aggregate to the bounded cell table;
    * marginals are window sums OVER THE CELLS, never a second scan.
    * ln runs on exact-integer ratios (products < 2⁵³, exact in
    * doubles), rounded 6dp — the lm_perplexity float precedent.
    */
  def featureMi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables(spark, dir, "events")
      .groupBy(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
      .agg(count(lit(1)).as("n_xy"))
      .withColumn("n_x", sum("n_xy").over(Window.partitionBy("event_type")))
      .withColumn("n_y", sum("n_xy").over(Window.partitionBy("dow")))
      .withColumn("n", sum("n_xy").over(Window.partitionBy()))
      .select(col("event_type"), col("dow"), col("n_xy"),
        round((col("n_xy").cast("double") / col("n").cast("double"))
          * log((col("n_xy") * col("n")).cast("double")
            / (col("n_x") * col("n_y")).cast("double")), 6).as("mi_term"))
      .orderBy("event_type", "dow")
  }

  val featureMiSql: String =
    """WITH cells AS (
      |  SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
      |    CAST(COUNT(*) AS BIGINT) AS n_xy
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, dow, n_xy,
      |    CAST(SUM(n_xy) OVER (PARTITION BY event_type) AS BIGINT) AS n_x,
      |    CAST(SUM(n_xy) OVER (PARTITION BY dow) AS BIGINT) AS n_y,
      |    CAST(SUM(n_xy) OVER () AS BIGINT) AS n
      |  FROM cells)
      |SELECT event_type, dow, n_xy,
      |  ROUND((CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE))
      |    * LN(CAST(n_xy * n AS DOUBLE) / CAST(n_x * n_y AS DOUBLE)), 6)
      |    AS mi_term
      |FROM m
      |ORDER BY event_type, dow""".stripMargin

  /** AUTOCORRELATION FUNCTION of the daily event-count series at lags
    * 1..7 — the is-there-weekly-structure statistic in front of any
    * forecasting model ([[eventsSeasonality]] shows WHERE the load
    * sits; the ACF shows whether yesterday predicts today). One corpus
    * aggregate to the calendar-bounded daily rollup (persisted — it
    * feeds both sides of the lag join); the lag pairing is a
    * days×days range join on that bounded frame, so at 100 TB the
    * quadratic term is in CALENDAR DAYS, never rows. Pearson per lag
    * follows the [[graft.queries.OlapQueries]] corrMatrix float
    * contract: all moments are exact BIGINT sums (order-free), the
    * only float ops are the final division and two sqrts on products
    * < 2⁵³ (exact in doubles), rounded at 6dp.
    */
  def eventsAcf(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = daily.select(col("d").as("bd"), col("x").as("xb"))
    daily.join(b, datediff(col("bd"), col("d")).between(1, 7))
      .select(datediff(col("bd"), col("d")).cast("long").as("lag"),
        col("x").as("xa"), col("xb"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum("xa").as("sa"), sum("xb").as("sb"),
        sum(col("xa") * col("xa")).as("qa"),
        sum(col("xb") * col("xb")).as("qb"),
        sum(col("xa") * col("xb")).as("sxy"))
      .select(col("lag"), col("n"),
        round((col("n") * col("sxy") - col("sa") * col("sb")).cast("double")
          / (sqrt((col("n") * col("qa") - col("sa") * col("sa")).cast("double"))
            * sqrt((col("n") * col("qb") - col("sb") * col("sb")).cast("double"))), 6)
          .as("acf"))
      .orderBy("lag")
  }

  val eventsAcfSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |lagged AS (
      |  SELECT CAST(date_diff('day', a.d, b.d) AS BIGINT) AS lag,
      |    a.x AS xa, b.x AS xb
      |  FROM daily a JOIN daily b
      |    ON date_diff('day', a.d, b.d) BETWEEN 1 AND 7),
      |m AS (
      |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(xa) AS BIGINT) AS sa, CAST(SUM(xb) AS BIGINT) AS sb,
      |    CAST(SUM(xa * xa) AS BIGINT) AS qa,
      |    CAST(SUM(xb * xb) AS BIGINT) AS qb,
      |    CAST(SUM(xa * xb) AS BIGINT) AS sxy
      |  FROM lagged GROUP BY lag)
      |SELECT lag, n,
      |  ROUND(CAST(n * sxy - sa * sb AS DOUBLE)
      |    / (SQRT(CAST(n * qa - sa * sa AS DOUBLE))
      |      * SQRT(CAST(n * qb - sb * sb AS DOUBLE))), 6) AS acf
      |FROM m
      |ORDER BY lag""".stripMargin

  /** 6dp-integer EWMA weights 0.8^m·10⁶, m = 0..13 — computed ONCE in
    * exact BigDecimal and inlined as literals into BOTH engines' plans,
    * so the smoothing is pure integer arithmetic end to end (a window
    * sum of pow() doubles would differ between Spark's running
    * accumulation and DuckDB's segment-tree window order). */
  private val EwmaW: Seq[Long] = (0 until 14).map(m =>
    (BigDecimal("0.8").pow(m)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
      * 1000000).toLongExact)

  /** HOLT–WINTERS additive triple smoothing per event type — the
    * classic seasonal forecaster ([[eventsEwma]] smooths level only;
    * [[seasonalDecompose]] is descriptive; this one maintains level +
    * trend + weekly seasonality and emits each day's ONE-STEP-AHEAD
    * forecast next to the actual): l_t = α(y_t − s_{t−7}) +
    * (1−α)(l_{t−1} + b_{t−1}), b_t = β·Δl + (1−β)b_{t−1},
    * s_t = γ(y_t − l_t) + (1−γ)s_{t−7}.
    *
    * Determinism discipline: the smoothing parameters are DYADIC
    * (α=1/2, β=1/4, γ=1/2) and the whole recurrence runs in BIGINT
    * micros with truncate-toward-zero division — the engine DEFINES
    * Holt–Winters as this fixed-point recurrence, so the DuckDB oracle
    * (a recursive CTE carrying (l, b, s-ring) with the identical
    * integer steps) replays it bit-for-bit; no float accumulates
    * across steps. Init: l₀ = 7-day mean (micros), b₀ = 0,
    * s-ring = first week's deviations.
    *
    * Scale shape: the corpus-side work is ONE (type, day) aggregation;
    * the recurrence itself is inherently sequential per type but runs
    * over CALENDAR-BOUNDED rows (≤3.7k/decade per type), so it folds
    * on the driver over the collected rollup — the bounded-metadata
    * discipline ([[graft.ext.TextQueries.bpeTrainMerges]]' shape), not
    * a corpus collect.
    */
  def holtWinters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
      .collect().map(r => (r.getString(0), r.getDate(1), r.getLong(2)))
    val out = daily.groupBy(_._1).toSeq.flatMap { case (tpe, rows0) =>
      hwFold(rows0.toSeq.map(r => (r._2, r._3)).sortBy(_._1.getTime)).map {
        case (d, y, fit, lNew, bNew) =>
          (tpe, d, y, fit / 1e6, lNew / 1e6, bNew / 1e6)
      }
    }
    out.toDF("event_type", "day", "y", "forecast", "level", "trend")
      .orderBy("event_type", "day")
  }

  /** The fixed-point recurrence core over one day-sorted series:
    * `(day, y, fit_micros, level_micros, trend_micros)` per day from
    * the 8th on; empty if the series is shorter. Extracted so
    * HoltWintersSpec can pin model behavior on crafted series. */
  private[ext] def hwFold(sr: Seq[(java.sql.Date, Long)])
      : Seq[(java.sql.Date, Long, Long, Long, Long)] = {
    def sdiv(x: Long, d: Long): Long = if (x >= 0) x / d else -((-x) / d)
    val S = 1000000L
    if (sr.length < 8) Seq.empty
    else {
      val l0 = sr.take(7).map(_._2).sum * S / 7
      var l = l0
      var b = 0L
      val s = Array.tabulate(7)(i => sr(i)._2 * S - l0)
      (7 until sr.length).map { t =>
        val ym = sr(t)._2 * S
        val sprev = s(t % 7)
        val fit = l + b + sprev
        val lNew = sdiv(ym - sprev + l + b, 2L)
        val bNew = sdiv(lNew - l + 3 * b, 4L)
        val sNew = sdiv(ym - lNew + sprev, 2L)
        l = lNew; b = bNew; s(t % 7) = sNew
        (sr(t)._1, sr(t)._2, fit, lNew, bNew)
      }
    }
  }

  val holtWintersSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |ser AS (
      |  SELECT event_type, list(struct_pack(d := d, y := y) ORDER BY d) AS sr
      |  FROM daily GROUP BY event_type
      |  HAVING COUNT(*) >= 8),
      |ini AS (
      |  SELECT event_type, sr,
      |    CAST(list_sum(list_transform(sr[1:7], x -> x.y)) * 1000000 // 7
      |      AS BIGINT) AS l0
      |  FROM ser),
      |ini2 AS (
      |  SELECT event_type, sr, l0,
      |    list_transform(sr[1:7], x -> x.y * 1000000 - l0) AS s0
      |  FROM ini),
      |rec AS (
      |  SELECT event_type, sr, 7 AS t, l0 AS l, CAST(0 AS BIGINT) AS b,
      |    s0 AS s,
      |    CAST([] AS STRUCT(d DATE, y BIGINT, fit BIGINT,
      |      lvl BIGINT, tr BIGINT)[]) AS outp
      |  FROM ini2
      |  UNION ALL
      |  SELECT event_type, sr, t + 1,
      |    lnew, bnew, snew_ring, outp_new
      |  FROM (
      |    SELECT event_type, sr, t, b, s, outp,
      |      sr[t + 1].y * 1000000 AS ym,
      |      s[(t % 7) + 1] AS sprev,
      |      l + b + s[(t % 7) + 1] AS fit,
      |      CASE WHEN ym - sprev + l + b >= 0
      |        THEN (ym - sprev + l + b) // 2
      |        ELSE -((-(ym - sprev + l + b)) // 2) END AS lnew,
      |      CASE WHEN lnew - l + 3 * b >= 0
      |        THEN (lnew - l + 3 * b) // 4
      |        ELSE -((-(lnew - l + 3 * b)) // 4) END AS bnew,
      |      CASE WHEN ym - lnew + sprev >= 0
      |        THEN (ym - lnew + sprev) // 2
      |        ELSE -((-(ym - lnew + sprev)) // 2) END AS snew,
      |      list_transform(range(1, 8),
      |        k -> CASE WHEN k = (t % 7) + 1 THEN snew
      |             ELSE s[CAST(k AS INT)] END) AS snew_ring,
      |      list_append(outp, struct_pack(d := sr[t + 1].d,
      |        y := sr[t + 1].y, fit := fit, lvl := lnew, tr := bnew))
      |        AS outp_new
      |    FROM rec WHERE t < len(sr))),
      |fin AS (
      |  SELECT event_type, unnest(outp) AS o
      |  FROM rec WHERE t = len(sr))
      |SELECT event_type, o.d AS day, o.y AS y,
      |  o.fit / 1e6 AS forecast, o.lvl / 1e6 AS level,
      |  o.tr / 1e6 AS trend
      |FROM fin
      |ORDER BY event_type, day""".stripMargin

  /** EWMA level per (type, day) — time-decay smoothing, the forecasting
    * sibling of [[eventsAnomaly]]'s global z-scores: each day's
    * expected level is the exponentially-weighted mean of the trailing
    * 14 days (α=0.2), and `spike` flags days at >2× their own smoothed
    * level via the EXACT cross-multiplied compare `x·Σw > 2·Σwx` — no
    * division, no floats, until the display value. The bounded lag
    * join (days × ≤14 lags) replaces the sequential EWMA recurrence —
    * the recurrence doesn't distribute; the windowed weighted mean
    * does, and on calendar-bounded rows it costs nothing.
    */
  def eventsEwma(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the calendar-bounded rollup feeds BOTH lag-join sides —
    // without the cache the corpus aggregate plans twice (PlanAuditSpec)
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wArr = array(EwmaW.map(lit): _*)
    val lag = daily.select(col("event_type"), col("d").as("bd"), col("x").as("bx"))
    daily.join(lag, Seq("event_type"))
      .withColumn("dd", datediff(col("d"), col("bd")))
      .filter(col("dd") >= 0 && col("dd") <= 13)
      .withColumn("w", element_at(wArr, col("dd") + 1))
      .groupBy(col("event_type"), col("d"), col("x"))
      .agg(sum(col("w") * col("bx")).as("num"), sum("w").as("den"))
      .select(col("event_type"), col("d"), col("x"),
        expr("(2 * num * 1000000 + den) div (2 * den) / 1e6").as("ewma"),
        (col("x") * col("den") > col("num") * 2).as("spike"))
      .orderBy("event_type", "d")
  }

  val eventsEwmaSql: String = {
    val lits = EwmaW.mkString("[", ", ", "]")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d,
       |    CAST(COUNT(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |lagged AS (
       |  SELECT a.event_type, a.d, a.x,
       |    ($lits)[CAST(date_diff('day', b.d, a.d) + 1 AS INT)] AS w,
       |    b.x AS bx
       |  FROM daily a JOIN daily b ON a.event_type = b.event_type
       |    AND date_diff('day', b.d, a.d) BETWEEN 0 AND 13)
       |SELECT event_type, d, x,
       |  (2 * SUM(w * bx) * 1000000 + SUM(w)) // (2 * SUM(w)) / 1e6 AS ewma,
       |  x * SUM(w) > SUM(w * bx) * 2 AS spike
       |FROM lagged
       |GROUP BY event_type, d, x
       |ORDER BY event_type, d""".stripMargin
  }

  /** Deterministic A/B EXPERIMENT readout: users hash into two variants
    * (the [[graft.queries.CoreQueries]] train_test_split discipline —
    * stable across runs/engines/partitionings, no random()), and each
    * event type reports per-variant event counts, user counts, and the
    * 6dp mean value with the A−B difference. Means round in EXACT
    * integer arithmetic from the decimal(18,4) sums (the
    * qualityClassifier tie discipline). One corpus scan, one
    * (type)-keyed aggregate with conditional branches — adding variants
    * or metrics never adds scans.
    */
  /** ONE-WAY ANOVA F — is day-of-week a REAL effect on daily volume,
    * per event type? The between/within variance ratio over the daily
    * series grouped by weekday (k = 7 groups): the hypothesis-test
    * companion to [[eventsSeasonality]]'s descriptive heatmap. Exact
    * arithmetic end to end: SSB·n²  and SSW·n² come out of integer
    * moment sums (per-group Σ, Σ², sizes), the F statistic closes with
    * one half-up micros division of the cross-multiplied ratio
    * F = (SSB/(k−1)) / (SSW/(n−k)), and the α≈0.05 decision compares
    * integer cross-products against the F(6, large) critical value
    * 2.1 (the asymptotic 2.0993 at ±0.1% — documented approximation,
    * exact arithmetic). Day-of-week is the engine-neutral `dn % 7`.
    *
    * Scale: corpus → persisted daily rollup; the 7-group moments are
    * one further aggregate; everything after is per-type scalars.
    */
  def weekdayAnova(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
      .withColumn("dow",
        expr("CAST(datediff(d, DATE '1995-01-01') AS BIGINT) % 7"))
    val g = daily.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("m"), sum("x").as("s"),
        sum(col("x") * col("x")).as("q"))
    g.groupBy("event_type")
      .agg(sum("m").as("n"), count(lit(1)).as("k"),
        sum("s").as("st"), sum("q").as("qt"),
        // computational identity SSB = Σ s²/m − (Σs)²/n, carried in
        // exact micros: each s²·10⁶ div m truncates identically in
        // both engines (defined semantics, the pageRank contrib rule)
        sum(expr("cast(s AS decimal(38,0)) * s * 1000000 div m"))
          .as("sb_micros"))
      .select(col("event_type"), col("n"), col("k"),
        // SSB·10⁶ = Σ(s²·10⁶ div m) − (Σs)²·10⁶/n  (each term half-
        // truncated identically in both engines — defined semantics)
        expr("""sb_micros - cast(st AS decimal(38,0)) * st * 1000000
                div n""").as("ssb_m"),
        // SSW·10⁶ = (Σq)·10⁶ − Σ(s²·10⁶ div m)
        expr("cast(qt AS decimal(38,0)) * 1000000 - sb_micros").as("ssw_m"))
      .select(col("event_type"), col("n"),
        expr("""CASE WHEN ssw_m <= 0 THEN NULL ELSE
                (2 * cast(ssb_m AS decimal(38,0)) * (n - k) * 1000000
                   + cast(ssw_m AS decimal(38,0)) * (k - 1))
                  div (2 * cast(ssw_m AS decimal(38,0)) * (k - 1))
                  / 1e6 END""").as("f_stat"),
        expr("""cast(ssb_m AS decimal(38,0)) * (n - k) * 10
                > cast(ssw_m AS decimal(38,0)) * (k - 1) * 21""")
          .as("dow_effect_05"))
      .orderBy("event_type")
  }

  val weekdayAnovaSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |dowd AS (
      |  SELECT event_type, x,
      |    CAST(date_diff('day', DATE '1995-01-01', d) AS BIGINT) % 7
      |      AS dow
      |  FROM daily),
      |g AS (
      |  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS m,
      |    CAST(SUM(x) AS BIGINT) AS s,
      |    CAST(SUM(x * x) AS BIGINT) AS q
      |  FROM dowd GROUP BY 1, 2),
      |agg AS (
      |  SELECT event_type, CAST(SUM(m) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(SUM(s) AS HUGEINT) AS st, CAST(SUM(q) AS HUGEINT) AS qt,
      |    CAST(SUM(CAST(s AS HUGEINT) * s * 1000000 // m) AS HUGEINT)
      |      AS sb_micros
      |  FROM g GROUP BY 1),
      |ss AS (
      |  SELECT event_type, n, k,
      |    sb_micros - st * st * 1000000 // n AS ssb_m,
      |    qt * 1000000 - sb_micros AS ssw_m
      |  FROM agg)
      |SELECT event_type, n,
      |  CASE WHEN ssw_m <= 0 THEN NULL ELSE
      |    CAST((2 * ssb_m * (n - k) * 1000000 + ssw_m * (k - 1))
      |      // (2 * ssw_m * (k - 1)) AS BIGINT) / 1e6 END AS f_stat,
      |  ssb_m * (n - k) * 10 > ssw_m * (k - 1) * 21 AS dow_effect_05
      |FROM ss
      |ORDER BY event_type""".stripMargin

  /** PEAK CONCURRENCY — the maximum number of SIMULTANEOUS 30-minute
    * sessions per day, by the classic interval sweep: every session
    * contributes a (+1 at start, −1 at end) boundary event, the
    * running sum over the time-ordered boundaries IS the concurrency
    * curve, and the per-day max (with its earliest peak instant) is
    * the capacity-planning number. Ends sort before starts at the same
    * instant (delta ascending), so touching sessions don't overlap —
    * and within an equal-(t, delta) group the running sum's maximum is
    * permutation-invariant, which is what makes the sweep
    * deterministic without a full total order. Sessions come from the
    * same lag/islands form as [[bounceRate]].
    *
    * Scale shape: the sweep is a TWO-PHASE prefix sum, not one global
    * window. Phase 1 runs the running sum PARTITIONED BY day (day is a
    * function of t, so the within-day (t, delta) order is exactly the
    * global order restricted to the partition). Phase 2 computes each
    * day's carry-in — the sum of all prior days' net deltas — with a
    * window over the per-day aggregate, which has one row per calendar
    * day (calendar-bounded: ~3.7k rows for a decade of data, whatever
    * the corpus size), then broadcasts it back. carry_in(day) +
    * within-day running sum == the global running sum, row for row, so
    * the result is bit-identical to the single-window form while the
    * only unpartitioned sort is over O(#days) rows. PlanAuditSpec pins
    * that every corpus-proportional window here carries a partition key.
    */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val sessions = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts") >= expr("prev_ts + INTERVAL 30 MINUTE"), 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("s"), expr("max(ts) + INTERVAL 30 MINUTE").as("e"))
      // persisted: the session rollup feeds BOTH boundary branches —
      // without the cache the whole lag/island pipeline plans twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = sessions
      .select(col("s").as("t"), lit(1L).as("delta"))
      .unionByName(sessions.select(col("e").as("t"), lit(-1L).as("delta")))
      .withColumn("day", to_date(col("t")))
    // phase 2 input: one row per calendar day — the ONLY unpartitioned
    // window in the plan runs over this calendar-bounded aggregate
    val carry = bounds.groupBy("day").agg(sum("delta").as("day_sum"))
      .withColumn("carry_in", coalesce(
        sum("day_sum").over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("day", "carry_in")
    // phase 1: the corpus-proportional running sum, partitioned by day
    val withinDay = Window.partitionBy("day").orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds
      .withColumn("cum_day", sum("delta").over(withinDay))
      .join(broadcast(carry), Seq("day"))
      .withColumn("cum", col("carry_in") + col("cum_day"))
      .withColumn("daypeak", max("cum").over(Window.partitionBy("day")))
      .groupBy("day")
      .agg(max("cum").as("peak_concurrent"),
        min(when(col("cum") === col("daypeak"), col("t"))).as("peak_at"))
      .orderBy("day")
  }

  val peakConcurrencySql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) IS NULL
      |      OR ts >= LAG(ts) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) + INTERVAL 30 MINUTE
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sess AS (
      |  SELECT user_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id,
      |    ts
      |  FROM marked),
      |iv AS (
      |  SELECT user_id, session_id, MIN(ts) AS s,
      |    MAX(ts) + INTERVAL 30 MINUTE AS e
      |  FROM sess GROUP BY 1, 2),
      |bounds AS (
      |  SELECT s AS t, 1 AS delta FROM iv
      |  UNION ALL
      |  SELECT e AS t, -1 AS delta FROM iv),
      |curve AS (
      |  SELECT t, CAST(SUM(delta) OVER (ORDER BY t, delta
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum
      |  FROM bounds),
      |dmax AS (
      |  SELECT CAST(t AS DATE) AS day, t, cum,
      |    MAX(cum) OVER (PARTITION BY CAST(t AS DATE)) AS daypeak
      |  FROM curve)
      |SELECT day, CAST(MAX(cum) AS BIGINT) AS peak_concurrent,
      |  MIN(CASE WHEN cum = daypeak THEN t END) AS peak_at
      |FROM dmax
      |GROUP BY day
      |ORDER BY day""".stripMargin

  /** ANOMALY ENSEMBLE — the three detector families this engine ships
    * ([[eventsAnomaly]]'s trailing z-score, [[eventsMad]]'s robust MAD,
    * [[eventsEwma]]'s decay-weighted spike) voted per (type, day): a
    * 2-of-3 majority trades each detector's pathology (z chases its
    * own spikes, MAD is blind to slow drifts, EWMA overweights
    * yesterday) against the others. Every flag is an exact
    * deterministic comparison — the z test is the cross-multiplied
    * integer `(n·x−s)² > 9·(n·q−s²)` (no σ, no sqrt), MAD runs on the
    * half-exact doubles the events_mad gate already proved, the EWMA
    * spike is the integer cross-product — so the vote is bit-identical
    * in both engines. One persisted daily rollup feeds all three
    * detectors.
    */
  def anomalyEnsemble(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
      .withColumn("dn", datediff(col("d"), lit("1995-01-01")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val trail = Window.partitionBy("event_type").orderBy("dn")
      .rangeBetween(-7, -1)
    val med = daily.groupBy("event_type")
      .agg(expr("percentile(x, 0.5)").as("med"))
    val dev = daily.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("x") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    val wArr = array(EwmaW.map(lit): _*)
    val lagS = daily.select(col("event_type"), col("d").as("bd"),
      col("x").as("bx"))
    val ew = daily.join(lagS, Seq("event_type"))
      .withColumn("dd", datediff(col("d"), col("bd")))
      .filter(col("dd") >= 0 && col("dd") <= 13)
      .withColumn("w", element_at(wArr, (col("dd") + 1).cast("int")))
      .groupBy("event_type", "d")
      .agg(sum(col("w") * col("bx")).as("num"), sum("w").as("den"))
    dev.join(broadcast(mad), Seq("event_type"))
      .join(ew, Seq("event_type", "d"))
      .withColumn("s", sum("x").over(trail))
      .withColumn("q", sum(col("x") * col("x")).over(trail))
      .withColumn("nw", count(lit(1)).over(trail))
      .withColumn("flag_z",
        coalesce(col("nw") >= 3 &&
          expr("""(nw * x - s) * (nw * x - s) > 9 * (nw * q - s * s)
                  AND nw * x > s"""), lit(false)))
      .withColumn("flag_mad", col("dev") > col("mad") * 3)
      .withColumn("flag_ewma", col("x") * col("den") > col("num") * 2)
      .withColumn("n_flags",
        col("flag_z").cast("long") + col("flag_mad").cast("long") +
          col("flag_ewma").cast("long"))
      .select(col("event_type"), col("d"), col("x"), col("flag_z"),
        col("flag_mad"), col("flag_ewma"), col("n_flags"),
        (col("n_flags") >= 2).as("is_anomaly"))
      .orderBy("event_type", "d")
  }

  val anomalyEnsembleSql: String = {
    val lits = (0 until 14).map(m =>
      (BigDecimal("0.8").pow(m)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
        * 1000000).toLongExact).mkString("[", ", ", "]")
    s"""WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(date_diff('day', DATE '1995-01-01', CAST(ts AS DATE))
      |         AS BIGINT) AS dn
      |  FROM events GROUP BY 1, 2, 4),
      |med AS (
      |  SELECT event_type, quantile_cont(x, 0.5) AS med
      |  FROM daily GROUP BY event_type),
      |dev AS (
      |  SELECT daily.*, ABS(x - med) AS dev
      |  FROM daily JOIN med USING (event_type)),
      |mad AS (
      |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
      |  FROM dev GROUP BY event_type),
      |ew AS (
      |  SELECT a.event_type, a.d,
      |    CAST(SUM(($lits)[CAST(date_diff('day', b.d, a.d) + 1 AS INT)]
      |      * b.x) AS BIGINT) AS num,
      |    CAST(SUM(($lits)[CAST(date_diff('day', b.d, a.d) + 1 AS INT)])
      |      AS BIGINT) AS den
      |  FROM daily a JOIN daily b ON a.event_type = b.event_type
      |    AND date_diff('day', b.d, a.d) BETWEEN 0 AND 13
      |  GROUP BY 1, 2),
      |z AS (
      |  SELECT dev.event_type, dev.d, dev.x, dev.dev, mad.mad,
      |    ew.num, ew.den,
      |    CAST(SUM(x) OVER tw AS BIGINT) AS s,
      |    CAST(SUM(x * x) OVER tw AS BIGINT) AS q,
      |    CAST(COUNT(*) OVER tw AS BIGINT) AS nw
      |  FROM dev
      |  JOIN mad USING (event_type)
      |  JOIN ew ON ew.event_type = dev.event_type AND ew.d = dev.d
      |  WINDOW tw AS (PARTITION BY dev.event_type ORDER BY dev.dn
      |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      |flags AS (
      |  SELECT event_type, d, x,
      |    COALESCE(nw >= 3
      |      AND (nw * x - s) * (nw * x - s) > 9 * (nw * q - s * s)
      |      AND nw * x > s, FALSE) AS flag_z,
      |    dev > mad * 3 AS flag_mad,
      |    x * den > num * 2 AS flag_ewma
      |  FROM z)
      |SELECT event_type, d, x, flag_z, flag_mad, flag_ewma,
      |  CAST(flag_z AS BIGINT) + CAST(flag_mad AS BIGINT)
      |    + CAST(flag_ewma AS BIGINT) AS n_flags,
      |  CAST(flag_z AS BIGINT) + CAST(flag_mad AS BIGINT)
      |    + CAST(flag_ewma AS BIGINT) >= 2 AS is_anomaly
      |FROM flags
      |ORDER BY event_type, d""".stripMargin
  }

  /** USER GROWTH ACCOUNTING — weekly NEW / RETAINED / RESURRECTED /
    * CHURNED user counts (the Social-Capital/a16z growth-accounting
    * standard): new = first week ever, retained = also active the
    * previous week, resurrected = inactive last week but seen before,
    * churned = last week's users who went quiet — the USER-count dual
    * of [[graft.queries.OlapQueries]] revenue_waterfall, with the
    * extra "seen before" memory that needs the per-user FIRST week
    * (one min window) next to the week-shift self-join. Two exact
    * identities hold and are spec-pinned: active(w) = new + retained +
    * resurrected, and churned(w) = active(w−1) − retained(w).
    */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uw = Tables(spark, dir, "events")
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk")).distinct()
      .withColumn("first_wk", min("wk").over(Window.partitionBy("user_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prev = uw.select(col("user_id"),
      date_add(col("wk"), 7).as("wk"), lit(1L).as("was_prev"))
    val cur = uw.join(prev, Seq("user_id", "wk"), "full_outer")
      .withColumn("active", col("first_wk").isNotNull)
    cur.groupBy("wk")
      .agg(
        sum(when(col("active") && col("wk") === col("first_wk"), 1L)
          .otherwise(0L)).as("new_users"),
        sum(when(col("active") && col("was_prev") === 1, 1L)
          .otherwise(0L)).as("retained"),
        sum(when(col("active") && col("was_prev").isNull
          && col("wk") > col("first_wk"), 1L).otherwise(0L))
          .as("resurrected"),
        sum(when(!col("active"), 1L).otherwise(0L)).as("churned"),
        sum(when(col("active"), 1L).otherwise(0L)).as("active_users"))
      .orderBy("wk")
  }

  val growthAccountingSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |fw AS (
      |  SELECT user_id, wk,
      |    MIN(wk) OVER (PARTITION BY user_id) AS first_wk
      |  FROM uw),
      |prev AS (
      |  SELECT user_id, wk + 7 AS wk, 1 AS was_prev FROM uw),
      |cur AS (
      |  SELECT COALESCE(f.user_id, p.user_id) AS user_id,
      |    COALESCE(f.wk, p.wk) AS wk, f.first_wk, p.was_prev,
      |    f.first_wk IS NOT NULL AS active
      |  FROM fw f FULL OUTER JOIN prev p
      |    ON p.user_id = f.user_id AND p.wk = f.wk)
      |SELECT wk,
      |  CAST(SUM(CASE WHEN active AND wk = first_wk THEN 1 ELSE 0 END)
      |       AS BIGINT) AS new_users,
      |  CAST(SUM(CASE WHEN active AND was_prev = 1 THEN 1 ELSE 0 END)
      |       AS BIGINT) AS retained,
      |  CAST(SUM(CASE WHEN active AND was_prev IS NULL AND wk > first_wk
      |    THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
      |  CAST(SUM(CASE WHEN NOT active THEN 1 ELSE 0 END) AS BIGINT)
      |    AS churned,
      |  CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
      |    AS active_users
      |FROM cur
      |GROUP BY wk
      |ORDER BY wk""".stripMargin

  /** SAMPLE-RATIO MISMATCH (SRM) check for the A/B assignment — the
    * experiment-VALIDITY gate in front of [[abAssign]]'s effect
    * readout: if the md5 split doesn't actually deliver ~50/50 exposed
    * USERS, every downstream p-value is garbage (the single most
    * common silent A/B failure in production — biased triggering,
    * variant-correlated crashes, bot filtering). χ² for two equal
    * cells reduces to (n_a−n_b)²/n, so the α=0.05 decision is the pure
    * integer comparison `(n_a−n_b)²·1000 > 3841·n` — no distribution
    * lookup, no float. Reported overall and per event type (a
    * per-surface imbalance with a clean global ratio is the classic
    * triggering bug). Distinct (user, type) incidence in one exchange.
    */
  def abSrm(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .withColumn("variant", expr(
        "cast(conv(substring(md5(concat('ab:', cast(user_id AS string))), 1, 15), 16, 10) AS bigint) % 2"))
    val perType = ut.groupBy(col("event_type").as("scope"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"))
    val overall = ut.select(col("user_id"), col("variant")).distinct()
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(lit("ALL").as("scope"), col("n_a"), col("n_b"))
    perType.unionByName(overall)
      .select(col("scope"), col("n_a"), col("n_b"),
        expr("""(2 * (n_a - n_b) * (n_a - n_b) * 1000000 + (n_a + n_b))
                div (2 * (n_a + n_b)) / 1e6""").as("chi2"),
        expr("(n_a - n_b) * (n_a - n_b) * 1000 > 3841 * (n_a + n_b)")
          .as("srm_detected"))
      .orderBy("scope")
  }

  val abSrmSql: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type,
      |    CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
      |      1, 15)) AS BIGINT) % 2 AS variant
      |  FROM events),
      |per AS (
      |  SELECT event_type AS scope,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_a,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_b
      |  FROM ut GROUP BY 1),
      |ov AS (
      |  SELECT 'ALL' AS scope,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_a,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_b
      |  FROM (SELECT DISTINCT user_id, variant FROM ut)),
      |u AS (SELECT * FROM per UNION ALL SELECT * FROM ov)
      |SELECT scope, n_a, n_b,
      |  (2 * (n_a - n_b) * (n_a - n_b) * 1000000 + (n_a + n_b))
      |    // (2 * (n_a + n_b)) / 1e6 AS chi2,
      |  (n_a - n_b) * (n_a - n_b) * 1000 > 3841 * (n_a + n_b)
      |    AS srm_detected
      |FROM u
      |ORDER BY scope""".stripMargin

  /** TIME-WINDOW INGEST DEDUP — the double-fire audit: the same user
    * emitting the same event type within 5 seconds is (in a clickstream
    * pipeline) a retry/double-submit artifact, not signal. A row is a
    * duplicate iff it lands ≤5s after the PREVIOUS KEPT-OR-NOT row of
    * its (user, type) lane — the lag form, one exchange; the report is
    * per-type kept/dropped with the dup rate. The row-level decision
    * stays distributed; only the ≤|types| summary comes back.
    */
  def dedupTimeWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_dup",
        col("prev_ts").isNotNull &&
          col("ts") <= expr("prev_ts + INTERVAL 5 SECOND"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
      .select(col("event_type"), col("n_events"), col("n_dups"),
        expr("(2 * n_dups * 1000000 + n_events) div (2 * n_events) / 1e6")
          .as("dup_rate"))
      .orderBy("event_type")
  }

  val dedupTimeWindowSql: String =
    """WITH lagged AS (
      |  SELECT event_type,
      |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id, event_type
      |        ORDER BY ts, event_id) IS NOT NULL
      |      AND ts <= LAG(ts) OVER (PARTITION BY user_id, event_type
      |        ORDER BY ts, event_id) + INTERVAL 5 SECOND
      |    THEN 1 ELSE 0 END AS is_dup
      |  FROM events)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(is_dup) AS BIGINT) AS n_dups,
      |  (2 * CAST(SUM(is_dup) AS BIGINT) * 1000000 + COUNT(*))
      |    // (2 * COUNT(*)) / 1e6 AS dup_rate
      |FROM lagged
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  def abAssign(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .withColumn("variant", expr(
        "cast(conv(substring(md5(concat('ab:', cast(user_id AS string))), 1, 15), 16, 10) AS bigint) % 2"))
      .withColumn("v4", col("value").cast("decimal(18,4)"))
    def meanMicros(sumCol: String, nCol: String) = expr(
      s"""CASE WHEN $nCol = 0 THEN NULL
          ELSE (2 * cast($sumCol * 10000 AS bigint) * 100 + $nCol)
                 div (2 * $nCol) / 1e6 END""")
    ev.groupBy("event_type")
      .agg(
        count(when(col("variant") === 0, 1)).as("n_a"),
        count(when(col("variant") === 1, 1)).as("n_b"),
        countDistinct(when(col("variant") === 0, col("user_id"))).as("users_a"),
        countDistinct(when(col("variant") === 1, col("user_id"))).as("users_b"),
        sum(when(col("variant") === 0, col("v4"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("sum_a"),
        sum(when(col("variant") === 1, col("v4"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("sum_b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("users_a"), col("users_b"),
        meanMicros("sum_a", "n_a").as("mean_a"),
        meanMicros("sum_b", "n_b").as("mean_b"),
        (meanMicros("sum_a", "n_a") - meanMicros("sum_b", "n_b")).as("mean_diff"))
      .orderBy("event_type")
  }

  val abAssignSql: String =
    """WITH ev AS (
      |  SELECT event_type, user_id,
      |    CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 2 AS variant,
      |    CAST(value AS DECIMAL(18,4)) AS v4
      |  FROM events),
      |agg AS (
      |  SELECT event_type,
      |    CAST(COUNT(*) FILTER (WHERE variant = 0) AS BIGINT) AS n_a,
      |    CAST(COUNT(*) FILTER (WHERE variant = 1) AS BIGINT) AS n_b,
      |    CAST(COUNT(DISTINCT user_id) FILTER (WHERE variant = 0) AS BIGINT) AS users_a,
      |    CAST(COUNT(DISTINCT user_id) FILTER (WHERE variant = 1) AS BIGINT) AS users_b,
      |    COALESCE(SUM(v4) FILTER (WHERE variant = 0), 0) AS sum_a,
      |    COALESCE(SUM(v4) FILTER (WHERE variant = 1), 0) AS sum_b
      |  FROM ev GROUP BY event_type)
      |SELECT event_type, n_a, n_b, users_a, users_b,
      |  CASE WHEN n_a = 0 THEN NULL
      |    ELSE (2 * CAST(sum_a * 10000 AS BIGINT) * 100 + n_a)
      |           // (2 * n_a) / 1e6 END AS mean_a,
      |  CASE WHEN n_b = 0 THEN NULL
      |    ELSE (2 * CAST(sum_b * 10000 AS BIGINT) * 100 + n_b)
      |           // (2 * n_b) / 1e6 END AS mean_b,
      |  CASE WHEN n_a = 0 THEN NULL
      |    ELSE (2 * CAST(sum_a * 10000 AS BIGINT) * 100 + n_a)
      |           // (2 * n_a) / 1e6 END
      |  - CASE WHEN n_b = 0 THEN NULL
      |    ELSE (2 * CAST(sum_b * 10000 AS BIGINT) * 100 + n_b)
      |           // (2 * n_b) / 1e6 END AS mean_diff
      |FROM agg
      |ORDER BY event_type""".stripMargin

  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted: the spine aggregation AND the zero-fill join both read
    // the daily rollup — un-persisted, each would re-run the full events
    // scan (the rollup is |types|x|days| rows; the scan is the corpus)
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(count(lit(1)).cast("decimal(18,4)").as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dense = daily.groupBy("event_type")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val filled = dense.join(daily, Seq("event_type", "day"), "left")
      .withColumn("n", coalesce(col("n"), lit(0).cast("decimal(18,4)")))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    filled
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .filter(col("cnt") === 7)
      // exact decimal sums -> double FIRST, then identical IEEE
      // arithmetic on both engines (decimal DIVISION scale/rounding is
      // engine-specific and drifted the 6th digit of z)
      .withColumn("s1d", col("s1").cast("double"))
      .withColumn("s2d", col("s2").cast("double"))
      .withColumn("mean", col("s1d") / 7)
      .withColumn("sd", sqrt((col("s2d") - col("s1d") * col("s1d") / 7) / 6))
      .filter(col("sd") > 0)
      .select(col("event_type"), col("day"),
        col("n").cast("long").as("n_events"),
        round(col("mean"), 4).as("mean7"),
        round((col("n").cast("double") - col("mean")) / col("sd"), 6).as("z"),
        (abs((col("n").cast("double") - col("mean")) / col("sd")) > 3).as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  val eventsAnomalySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(COUNT(*) AS DECIMAL(18,4)) AS n
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT event_type,
      |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
      |        FROM daily GROUP BY 1)),
      |filled AS (
      |  SELECT s.event_type, s.day,
      |    COALESCE(d.n, CAST(0 AS DECIMAL(18,4))) AS n
      |  FROM spine s LEFT JOIN daily d
      |    ON d.event_type = s.event_type AND d.day = s.day),
      |ser AS (
      |  SELECT event_type, day, n,
      |    COUNT(*) OVER w AS cnt,
      |    SUM(n) OVER w AS s1,
      |    SUM(n * n) OVER w AS s2
      |  FROM filled
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      |scored AS (
      |  SELECT event_type, day, n,
      |    CAST(s1 AS DOUBLE) / 7 AS mean,
      |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 7) / 6) AS sd
      |  FROM ser WHERE cnt = 7)
      |SELECT event_type, day, CAST(n AS BIGINT) AS n_events,
      |  ROUND(mean, 4) AS mean7,
      |  ROUND((CAST(n AS DOUBLE) - mean) / sd, 6) AS z,
      |  ABS((CAST(n AS DOUBLE) - mean) / sd) > 3 AS is_anomaly
      |FROM scored
      |WHERE sd > 0
      |ORDER BY event_type, day""".stripMargin

  /** Session path analysis — the top event-type transitions (A followed
    * by B within 30 minutes, same user): which flows dominate the
    * product. One lead window over (user, time) — the exchange every
    * per-user analysis shares — then a partial-agg count on the
    * transition pair and a global top-10 via TakeOrdered. Ties broken on
    * (event_id) in the sequence and (from, to) in the ranking, so the
    * result is deterministic under any partitioning.
    */
  def eventsTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .withColumn("to_ts", lead(col("ts"), 1).over(w))
      .filter(col("to_type").isNotNull
        && col("to_ts") <= col("ts") + expr("INTERVAL 30 MINUTES"))
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("from_type"), col("to_type"))
      .limit(10)
  }

  val eventsTransitionsSql: String =
    """WITH e AS (
      |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id, event_type
      |  FROM events),
      |seq AS (
      |  SELECT user_id, ts, event_type,
      |    LEAD(event_type, 1) OVER w AS to_type,
      |    LEAD(ts, 1) OVER w AS to_ts
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_type AS from_type, to_type, COUNT(*) AS n
      |FROM seq
      |WHERE to_type IS NOT NULL AND to_ts <= ts + INTERVAL 30 MINUTE
      |GROUP BY 1, 2
      |ORDER BY n DESC, from_type, to_type
      |LIMIT 10""".stripMargin

  /** SCD2 reconstruction: per-user state history as validity intervals —
    * the temporal-table/CDC-history shape (Kimball's type-2 dimension):
    * collapse each run of consecutive equal `event_type` into one row
    * with `[valid_from, valid_to)` bounds, `valid_to` NULL on the
    * current state. Gaps-and-islands via a lag change-flag + running
    * sum, so the detection, the run collapse, and the interval close
    * all ride ONE user_id exchange (the flag and island windows share
    * the partitioning; only the run-level groupBy re-hashes — run rows,
    * not event rows). Deterministic under ts ties via the event_id
    * tiebreak.
    */
  def scd2State(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = Tables(spark, dir, "events")
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(wAll).isNull
          || lag(col("event_type"), 1).over(wAll) =!= col("event_type"), 1L)
        .otherwise(0L))
      .withColumn("island", sum(col("chg")).over(wRun))
      .groupBy(col("user_id"), col("island"))
      .agg(max("event_type").as("event_type"),
        min("ts").as("valid_from"), count(lit(1)).as("n_events"))
    val wLead = Window.partitionBy("user_id").orderBy("island")
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wLead))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("valid_to"), col("n_events"), col("is_current"))
      .orderBy("user_id", "valid_from")
  }

  val scd2StateSql: String =
    """WITH o AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w != event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |i AS (
      |  SELECT user_id, event_type, ts,
      |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS island
      |  FROM o),
      |r AS (
      |  SELECT user_id, island, MAX(event_type) AS event_type,
      |    MIN(ts) AS valid_from, COUNT(*) AS n_events
      |  FROM i GROUP BY user_id, island)
      |SELECT user_id, event_type, valid_from,
      |  lead(valid_from) OVER wl AS valid_to,
      |  n_events,
      |  lead(valid_from) OVER wl IS NULL AS is_current
      |FROM r
      |WINDOW wl AS (PARTITION BY user_id ORDER BY island)
      |ORDER BY user_id, valid_from""".stripMargin

  /** Calendar densification + forward fill (gap filling): the
    * time-series repair every downstream chart/model assumes — a day
    * with no events must appear as an explicit zero row, and the
    * last-observed daily total must carry forward across the gap
    * (`last(…, ignoreNulls)` over the per-type date order).
    *
    * Scale shape: the ONLY corpus-sized stage is the daily aggregate
    * (one shuffle, map-side combined); the calendar is `types × days`
    * — bounded by the date span, thousands of rows at any corpus size —
    * built by exploding `sequence(min_day, max_day)` against the
    * distinct types, so the left join and the forward-fill window both
    * run on the small dense grid, never on raw events. The 1-row span
    * aggregate rides a broadcast crossJoin (the scalar-join idiom).
    * Exactness: totals are decimal sums cast to double before the fill,
    * so the carried value is bit-identical to the oracle's.
    */
  def eventsGapfill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
    val span = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val calendar = daily.select("event_type").distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    calendar.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("total"), ignoreNulls = true).over(w).as("carried"))
      .orderBy("event_type", "day")
  }

  val eventsGapfillSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
      |cal AS (
      |  SELECT t.event_type, CAST(gs.d AS DATE) AS day
      |  FROM (SELECT DISTINCT event_type FROM daily) t
      |  CROSS JOIN span,
      |  LATERAL (SELECT unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |                    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS d) gs)
      |SELECT c.event_type, c.day, COALESCE(d.n, 0) AS n,
      |  last_value(d.total IGNORE NULLS) OVER (
      |    PARTITION BY c.event_type ORDER BY c.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
      |FROM cal c LEFT JOIN daily d USING (event_type, day)
      |ORDER BY event_type, day""".stripMargin

  /** CDC APPLY (type-1 latest-wins merge): the events stream read as a
    * change log — every event upserts its user's `value`, an `error`
    * event is a tombstone DELETE — collapsed to the current snapshot.
    * The Kimball type-1 complement of [[scd2State]]'s type-2 history:
    * `MERGE` semantics (latest update wins, deletes remove the key)
    * computed as ONE user-keyed exchange — a row_number window ordered
    * by `(ts DESC, event_id DESC)` picks each key's final operation,
    * the tombstone filter then drops deleted keys, and the same
    * exchange serves the per-key change count. At 100 TB this is the
    * standard log-compaction shape: no join back to a snapshot, state
    * is reconstructed from the log's own order, and the deterministic
    * event_id tiebreak makes equal-timestamp changes reproducible.
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(desc("ts"), desc("event_id"))
    Tables(spark, dir, "events")
      .withColumn("rk", row_number().over(w))
      .withColumn("n_changes", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rk") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("ts").as("last_ts"),
        col("value").as("last_value"), col("n_changes"))
      .orderBy("user_id")
  }

  /** Session PATH analysis: the top-20 most common full within-session
    * event sequences — the whole-journey view that
    * [[eventsTransitions]]' pairwise counts can't reconstruct (distinct
    * paths can share every bigram). Sessions reuse the 30-minute-gap
    * rule; each session's path is the '>'-joined event-type sequence in
    * `(ts, event_id)` order — built by sorting the session's collected
    * `(ts, event_id, type)` structs, NOT by a collect_list over a
    * sorted partition (aggregation order after a shuffle is undefined;
    * the in-array sort is the deterministic form). One user-keyed
    * exchange serves sessionization and collection; path strings are
    * bounded by session length; the global top-20 is TakeOrdered with
    * full tiebreaks.
    */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(collect_list(struct(col("ts"), col("event_id"),
        col("event_type"))).as("evs"))
      .select(concat_ws(">",
        expr("transform(array_sort(evs), e -> e.event_type)")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), asc("path")).limit(20)
  }

  val sessionPathsSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |           >= INTERVAL 30 MINUTE
      |         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked),
      |paths AS (
      |  SELECT array_to_string(
      |    list(event_type ORDER BY ts, event_id), '>') AS path
      |  FROM sessions
      |  GROUP BY user_id, session_id)
      |SELECT path, COUNT(*) AS n_sessions
      |FROM paths
      |GROUP BY path
      |ORDER BY n_sessions DESC, path
      |LIMIT 20""".stripMargin

  /** Period-over-period reporting (week-over-week growth): weekly
    * volume per event type with the previous week's value and the
    * growth percentage — the standard dashboard delta, as a lag window
    * over the ALREADY-AGGREGATED weekly rollup (weeks × types rows;
    * the corpus touches only the first aggregate). Growth is one IEEE
    * division of exact BIGINTs rounded at 4 dp; the first week of each
    * type reports NULL growth (no prior period), pinning lag's
    * leading-edge semantics cross-engine.
    */
  def eventsWowGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = Tables(spark, dir, "events")
      .groupBy(col("event_type"),
        date_trunc("week", col("ts")).as("week"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
    weekly
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .withColumn("growth_pct", round(
        (col("n") - col("prev_n")).cast("double") * 100.0
          / col("prev_n").cast("double"), 4))
      .select(col("event_type"), col("week"), col("n"), col("prev_n"),
        col("growth_pct"))
      .orderBy("event_type", "week")
  }

  val eventsWowGrowthSql: String =
    """WITH weekly AS (
      |  SELECT event_type, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, week, n,
      |  lag(n, 1) OVER w AS prev_n,
      |  ROUND(CAST(n - lag(n, 1) OVER w AS DOUBLE) * 100.0
      |    / CAST(lag(n, 1) OVER w AS DOUBLE), 4) AS growth_pct
      |FROM weekly
      |WINDOW w AS (PARTITION BY event_type ORDER BY week)
      |ORDER BY event_type, week""".stripMargin

  /** Conversion-latency percentiles: per converting user, the seconds
    * from FIRST view to the first purchase AFTER it, summarized as
    * exact interpolated p50/p90 — the "how long does the funnel take"
    * number next to [[eventsFunnel]]'s "how many convert". The heavy
    * stage is one user-keyed conditional-min aggregate (first view,
    * then first qualifying purchase via a min over a filtered
    * column); the percentile runs on the bounded converted-users
    * rows. Latencies are exact integer seconds, so the interpolated
    * percentiles are identical IEEE arithmetic in both engines
    * (rounded at 4 dp like the percentiles query).
    *
    * The percentile itself is computed on the latency HISTOGRAM with
    * cumulative-count windows — never Spark's sort-collect
    * `percentile` buffer, which materializes every converted user in
    * one aggregation buffer (users grow with the corpus; distinct
    * integer latencies are bounded by the timespan). The interpolation
    * mirrors Spark's `Percentile` bit for bit: position `(n−1)·q`,
    * 1-based ranks `floor(pos)+1`/`ceil(pos)+1` looked up as
    * first-bucket-with-cum≥k, the equal-position and equal-key early
    * returns, then `(ceil−pos)·lo + (pos−floor)·hi` — both weights
    * Sterbenz-exact, so the value is the builtin's to the last ulp
    * (and the 4 dp round already matched DuckDB's quantile_cont; the
    * hash is unchanged).
    */
  def funnelTimePercentiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(spark, dir, "events")
    val perUser = ev
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view",
        unix_timestamp(col("ts")))).as("first_view"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_timestamp(col("ts")).as("pts"))
    val lat = perUser.filter(col("first_view").isNotNull)
      .join(purch, Seq("user_id"))
      .filter(col("pts") >= col("first_view"))
      .groupBy("user_id")
      .agg((min(col("pts")) - min(col("first_view"))).as("latency_s"))
    val cumW = Window.orderBy("latency_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val interp = (q: String, lo: String, hi: String) => expr(
      s"""CASE WHEN n IS NULL THEN CAST(NULL AS DOUBLE)
         |  WHEN ceil(pos$q) = floor(pos$q) OR $hi = $lo
         |    THEN CAST($lo AS DOUBLE)
         |  ELSE (ceil(pos$q) - pos$q) * $lo + (pos$q - floor(pos$q)) * $hi
         |END""".stripMargin)
    lat.groupBy("latency_s").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(cumW))
      .withColumn("n", sum("cnt").over(Window.partitionBy()))
      .withColumn("pos50", expr("(n - 1) * 0.5D"))
      .withColumn("pos90", expr("(n - 1) * 0.9D"))
      .groupBy()
      .agg(coalesce(max("n"), lit(0L)).as("n_converted"),
        min(when(col("cum") >= floor(col("pos50")) + 1, col("latency_s")))
          .as("lo50"),
        min(when(col("cum") >= ceil(col("pos50")) + 1, col("latency_s")))
          .as("hi50"),
        min(when(col("cum") >= floor(col("pos90")) + 1, col("latency_s")))
          .as("lo90"),
        min(when(col("cum") >= ceil(col("pos90")) + 1, col("latency_s")))
          .as("hi90"),
        max("pos50").as("pos50"), max("pos90").as("pos90"),
        max("n").as("n"))
      .select(col("n_converted"),
        round(interp("50", "lo50", "hi50"), 4).as("p50_s"),
        round(interp("90", "lo90", "hi90"), 4).as("p90_s"))
  }

  val funnelTimePercentilesSql: String =
    """WITH fv AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view'
      |        THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS first_view
      |  FROM events GROUP BY user_id),
      |lat AS (
      |  SELECT e.user_id,
      |    MIN(CAST(floor(epoch(e.ts)) AS BIGINT)) - MIN(fv.first_view) AS latency_s
      |  FROM events e JOIN fv ON fv.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND fv.first_view IS NOT NULL
      |    AND CAST(floor(epoch(e.ts)) AS BIGINT) >= fv.first_view
      |  GROUP BY e.user_id)
      |SELECT COUNT(*) AS n_converted,
      |  ROUND(quantile_cont(latency_s, 0.5), 4) AS p50_s,
      |  ROUND(quantile_cont(latency_s, 0.9), 4) AS p90_s
      |FROM lat""".stripMargin

  /** MARKOV-CHAIN (removal-effect) attribution — the principled member
    * of the attribution family ([[attributionLinear]] splits equally;
    * first-touch takes the earliest; both ignore the PATH): model user
    * journeys as a first-order Markov chain over channel states
    * (START → … → CONV | NULL, journeys truncated at the FIRST
    * purchase), compute the chain's conversion probability, and credit
    * each channel by its REMOVAL EFFECT — how much conversion drops
    * when journeys through the channel are broken (the channel's state
    * absorbs to non-conversion). Shares normalize removal effects
    * (Anderl et al. 2016's framework).
    *
    * Determinism: absorption probabilities come from a FIXED 12-round
    * synchronous value iteration in integer micros — each round one
    * floor division per state (all operands non-negative) — so the
    * driver fold and the oracle's list-carrying recursive CTE replay
    * identical BIGINT sequences; the final share is signed half-up
    * micros.
    *
    * Scale shape: corpus-side work is the journey pair aggregation
    * (one user-keyed exchange for ordering + one (src, dst) count);
    * everything after runs on the ≤(|channels|+3)² transition matrix —
    * bounded metadata on the driver, the [[holtWinters]] discipline.
    */
  def attributionMarkov(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(byUser))
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("rn").as("prn"))
    val evp = ev.join(purch, Seq("user_id"), "left")
    val j = evp.filter(col("prn").isNull || col("rn") < col("prn"))
    val pairs1 = j
      .withColumn("src",
        coalesce(lag("event_type", 1).over(byUser), lit("START")))
      .select(col("src"), col("event_type").as("dst"))
    val ends = evp.groupBy("user_id")
      .agg(max(when(col("prn").isNull || col("rn") < col("prn"),
          struct(col("rn"), col("event_type")))).as("lastev"),
        max("prn").as("prn2"))
      .select(coalesce(col("lastev.event_type"), lit("START")).as("src"),
        when(col("prn2").isNotNull, lit("CONV")).otherwise(lit("NULL")).as("dst"))
    val trans = pairs1.unionByName(ends)
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val out = markovRemoval(trans).map { case (c, base, re, share) =>
      (c, base / 1e6, re / 1e6, share.map(_ / 1e6))
    }
    out.toDF("channel", "p_conv", "removal_effect", "attribution")
      .orderBy("channel")
  }

  /** The bounded-matrix removal-effect fold: 12 synchronous
    * integer-micros value-iteration rounds per scenario (base + one
    * per removed channel). Returns `(channel, base_micros, re_micros,
    * share_micros)` sorted by channel. Extracted so MarkovSpec can pin
    * it against hand-computed chains. */
  private[ext] def markovRemoval(trans: Seq[(String, String, Long)])
      : Seq[(String, Long, Long, Option[Long])] = {
    val states = (trans.map(_._1) ++ trans.map(_._2)).distinct.sorted
    val channels = states.filterNot(Set("START", "CONV", "NULL"))
    val tot = trans.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    def conv(removed: Option[String]): Long = {
      var v = states.map(s => s -> (if (s == "CONV") 1000000L else 0L)).toMap
      for (_ <- 1 to 12) {
        v = states.map { s =>
          s -> (s match {
            case "CONV" => 1000000L
            case "NULL" => 0L
            case x if removed.contains(x) => 0L
            case x => tot.get(x) match {
              case Some(t) if t > 0 =>
                trans.filter(_._1 == x).map { case (_, d, c) => c * v(d) }.sum / t
              case _ => 0L
            }
          })
        }.toMap
      }
      v.getOrElse("START", 0L)
    }
    val base = conv(None)
    val res = channels.map(c => (c, base - conv(Some(c))))
    val sumRe = res.map(_._2).sum
    def share(re: Long): Option[Long] =
      if (sumRe <= 0) None
      else Some(
        if (re >= 0) (2 * re * 1000000L + sumRe) / (2 * sumRe)
        else -((2 * -re * 1000000L + sumRe) / (2 * sumRe)))
    res.map { case (c, re) => (c, base, re, share(re)) }
  }

  val attributionMarkovSql: String =
    """WITH RECURSIVE
      |ev AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS rn
      |  FROM events),
      |purch AS (
      |  SELECT user_id, MIN(rn) AS prn FROM ev
      |  WHERE event_type = 'purchase' GROUP BY user_id),
      |evp AS (SELECT e.*, p.prn FROM ev e LEFT JOIN purch p USING (user_id)),
      |j AS (SELECT * FROM evp WHERE prn IS NULL OR rn < prn),
      |pairs1 AS (
      |  SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id), 'START') AS src,
      |    event_type AS dst
      |  FROM j),
      |ends AS (
      |  SELECT COALESCE(max_by(event_type, rn)
      |      FILTER (WHERE prn IS NULL OR rn < prn), 'START') AS src,
      |    CASE WHEN MAX(prn) IS NOT NULL THEN 'CONV' ELSE 'NULL' END AS dst
      |  FROM evp GROUP BY user_id),
      |trans AS (
      |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt FROM
      |    (SELECT src, dst FROM pairs1 UNION ALL SELECT src, dst FROM ends)
      |  GROUP BY 1, 2),
      |idx AS (
      |  SELECT list_sort(list_distinct(list(s))) AS sts FROM
      |    (SELECT src AS s FROM trans UNION SELECT dst FROM trans)),
      |tlist AS (
      |  SELECT list_position(i.sts, t.src) AS si,
      |    list_position(i.sts, t.dst) AS di, t.cnt
      |  FROM trans t, idx i),
      |bysrc AS (
      |  SELECT si, list(struct_pack(di := di, cnt := cnt) ORDER BY di)
      |      AS outs,
      |    CAST(SUM(cnt) AS BIGINT) AS total
      |  FROM tlist GROUP BY si),
      |mat AS (
      |  SELECT i.sts,
      |    (SELECT list(struct_pack(si := b.si, outs := b.outs,
      |        total := b.total) ORDER BY b.si) FROM bysrc b) AS rowsl
      |  FROM idx i),
      |scen AS (
      |  SELECT removed FROM
      |    (SELECT unnest(sts) AS removed FROM idx)
      |  WHERE removed NOT IN ('START', 'CONV', 'NULL')
      |  UNION ALL SELECT 'NONE'),
      |rec AS (
      |  SELECT s.removed, m.sts, m.rowsl, 0 AS it,
      |    list_transform(m.sts, x -> CASE WHEN x = 'CONV'
      |      THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS v
      |  FROM scen s, mat m
      |  UNION ALL
      |  SELECT removed, sts, rowsl, it + 1,
      |    list_transform(range(1, len(sts) + 1), k ->
      |      CASE WHEN sts[CAST(k AS INT)] = 'CONV'
      |             THEN CAST(1000000 AS BIGINT)
      |           WHEN sts[CAST(k AS INT)] = 'NULL' THEN CAST(0 AS BIGINT)
      |           WHEN sts[CAST(k AS INT)] = removed THEN CAST(0 AS BIGINT)
      |           WHEN len(list_filter(rowsl, r -> r.si = k)) = 0
      |             THEN CAST(0 AS BIGINT)
      |           ELSE CAST(list_sum(list_transform(
      |               list_filter(rowsl, r -> r.si = k)[1].outs,
      |               e -> e.cnt * v[CAST(e.di AS INT)]))
      |             // list_filter(rowsl, r -> r.si = k)[1].total AS BIGINT)
      |      END) AS v
      |  FROM rec WHERE it < 12),
      |fin AS (
      |  SELECT removed, v[list_position(sts, 'START')] AS pstart
      |  FROM rec WHERE it = 12),
      |base AS (SELECT pstart AS b FROM fin WHERE removed = 'NONE'),
      |res AS (
      |  SELECT f.removed AS channel, b.b AS base, b.b - f.pstart AS re
      |  FROM fin f, base b WHERE f.removed != 'NONE'),
      |tot_re AS (SELECT CAST(SUM(re) AS BIGINT) AS s FROM res)
      |SELECT channel, base / 1e6 AS p_conv, re / 1e6 AS removal_effect,
      |  CASE WHEN s > 0 THEN
      |    (CASE WHEN re >= 0 THEN (2 * re * 1000000 + s) // (2 * s)
      |          ELSE -((2 * (-re) * 1000000 + s) // (2 * s)) END) / 1e6
      |  END AS attribution
      |FROM res CROSS JOIN tot_re
      |ORDER BY channel""".stripMargin

  /** LINEAR multi-touch attribution: each purchase's value is split
    * EQUALLY across the user's clicks in the preceding 7 days, credited
    * to the click's day — the credit-assignment semantics a marketing /
    * reward-modeling pipeline runs on top of the [[rangeJoin]]
    * first-touch shape (which can only answer "was there a click",
    * not "how much is each click worth"). One user-keyed range join
    * (equi key carries it, the 7-day window is a residual), the
    * per-purchase touch count as a count window on the SAME exchange,
    * then a day rollup. Purchases with no preceding click drop out
    * (unattributed — the inner-join semantics every MTA tool uses).
    * Exactness: per-touch credit is rounded at 6 dp and summed as
    * DECIMAL(18,6), so the day totals are order-free and
    * hash-identical in the oracle.
    */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
    val joined = purchases.join(clicks, Seq("user_id"))
      .filter(col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
    val wTouch = Window.partitionBy(col("p_id"))
    joined
      .withColumn("n_touches", count(lit(1)).over(wTouch))
      .withColumn("credit", round(col("value") / col("n_touches"), 6)
        .cast("decimal(18,6)"))
      .groupBy(to_date(col("c_ts")).as("click_day"))
      .agg(count(lit(1)).as("n_credits"),
        sum(col("credit")).cast("double").as("credited_value"))
      .orderBy("click_day")
  }

  val attributionLinearSql: String =
    """WITH p AS (
      |  SELECT event_id AS p_id, user_id, ts AS p_ts, value
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
      |j AS (
      |  SELECT p.p_id, p.value, c.c_ts
      |  FROM p JOIN c ON c.user_id = p.user_id
      |   AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 7 DAY),
      |t AS (
      |  SELECT c_ts,
      |    CAST(ROUND(value / (COUNT(*) OVER (PARTITION BY p_id)), 6)
      |      AS DECIMAL(18,6)) AS credit
      |  FROM j)
      |SELECT CAST(date_trunc('day', c_ts) AS DATE) AS click_day,
      |  COUNT(*) AS n_credits,
      |  CAST(SUM(credit) AS DOUBLE) AS credited_value
      |FROM t
      |GROUP BY 1
      |ORDER BY click_day""".stripMargin

  /** Approximate AUDIENCE OVERLAP between event-type pairs via HLL
    * inclusion–exclusion: `|A∩B| ≈ est(A) + est(B) − est(A∪B)`, where
    * every term is a mergeable sketch — the union estimate is
    * `hll_union` of the two types' PERSISTED daily-rollup-style
    * sketches, so the overlap matrix for any pair set computes from
    * |types| stored sketches without re-touching the event stream (the
    * cross-sketch question `hll_union_agg` rollups can't answer
    * directly). Sketch arithmetic is engine-specific, so the REGISTERED
    * form is the deterministic ENVELOPE (the [[eventsApproxUsers]]
    * discipline): exact overlap ride-along + the `within_envelope`
    * boolean `assert_true` has already enforced — inclusion–exclusion
    * compounds three estimates, so the gate is |err| ≤ 15% of the
    * UNION's exact size (the I–E error scale), not of the possibly-tiny
    * intersection. Raw estimates live in [[eventsOverlapApproxRaw]]
    * (unregistered). Exact side: distinct (user,type) pairs self-joined
    * per user — ≤ C(|types|,2) pair rows per user, linear in users.
    */
  def eventsOverlapApprox(spark: SparkSession, dir: String): DataFrame =
    eventsOverlapApproxRaw(spark, dir)
      .select("type_a", "type_b", "exact_overlap", "within_envelope")

  def eventsOverlapApproxRaw(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
    // |types| sketch rows + exact per-type distinct counts
    val sk = ut.groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
        count(lit(1)).as("exact_n"))
    val pairsSk = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"),
        col("exact_n").as("n_a"))
      .join(sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"),
        col("exact_n").as("n_b")), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        expr("hll_sketch_estimate(sk_a)").as("est_a"),
        expr("hll_sketch_estimate(sk_b)").as("est_b"),
        expr("hll_sketch_estimate(hll_union(sk_a, sk_b))").as("est_union"),
        col("n_a"), col("n_b"))
    // exact overlap: per-user type pairs, counted per (type_a, type_b)
    val exact = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("exact_overlap"))
    // inner join: pairs with zero exact overlap don't appear (matching
    // the oracle's GROUP BY over the existing pairs)
    pairsSk.join(exact, Seq("type_a", "type_b"))
      .withColumn("est_overlap",
        round(col("est_a") + col("est_b") - col("est_union"), 4))
      .withColumn("exact_union", col("n_a") + col("n_b") - col("exact_overlap"))
      .withColumn("rel_err", round(
        abs(col("est_overlap") - col("exact_overlap")) / col("exact_union"), 6))
      .withColumn("within_envelope", col("rel_err") <= 0.15)
      .filter(expr(
        "assert_true(rel_err <= 0.15, 'HLL overlap drifted >15% of union') IS NULL"))
      .select(col("type_a"), col("type_b"), col("exact_overlap"),
        col("est_overlap"), col("rel_err"), col("within_envelope"))
      .orderBy("type_a", "type_b")
  }

  val eventsOverlapApproxSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  COUNT(*) AS exact_overlap,
      |  TRUE AS within_envelope
      |FROM ut a JOIN ut b
      |  ON a.user_id = b.user_id AND a.event_type < b.event_type
      |GROUP BY 1, 2
      |ORDER BY type_a, type_b""".stripMargin

  /** Oracle for the streaming tumbling replay — the BATCH semantics the
    * stream must converge to (same grouping as [[eventsTumbling]] minus
    * the distinct-user count, which streaming aggregation cannot hold).
    */
  val streamTumblingSql: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  val cdcApplySql: String =
    """WITH ranked AS (
      |  SELECT user_id, ts, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rk,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      |  FROM events)
      |SELECT user_id, ts AS last_ts, value AS last_value, n_changes
      |FROM ranked
      |WHERE rk = 1 AND event_type != 'error'
      |ORDER BY user_id""".stripMargin

  /** CAPPED RUNNING BALANCE — the inventory/wallet fold no window
    * frame can express: per user, events in `(ts, event_id)` order
    * credit (even event_id) or debit (odd) `round(value·100)` integer
    * cents, and the balance CLAMPS to [0, 1,000,000] at every step, so
    * each step depends on the clamped outcome of the previous one
    * (running sums with a floor are non-linear — `sum() over` cannot
    * compute them). The distributed form: ONE user-keyed exchange,
    * per-user history collected + array-sorted (deterministic — not a
    * collect_list over a sorted partition), then a sequential
    * `aggregate` HOF fold with struct state carrying (balance,
    * floor-hits, cap-hits). State is bounded per key — the same
    * assumption sessionization makes; at 100 TB a key whose history
    * outgrows memory gets time-bucketed segment folds whose end-states
    * chain (the balance fold is associative over segments given the
    * carried state). Integer cents end to end: both engines replay the
    * fold bit-for-bit.
    */
  def runningCappedBalance(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        (when(col("event_id") % 2 === 0, lit(1L)).otherwise(lit(-1L)) *
          round(col("value") * 100, 0).cast("long")).as("delta_c"))
    ev.groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("delta_c")))).as("seq"))
      .select(col("user_id"),
        expr("""aggregate(seq,
          named_struct('bal', 0L, 'floored', 0L, 'capped', 0L),
          (acc, x) -> named_struct(
            'bal', LEAST(GREATEST(acc.bal + x.delta_c, 0L), 1000000L),
            'floored', acc.floored + IF(acc.bal + x.delta_c < 0L, 1L, 0L),
            'capped', acc.capped + IF(acc.bal + x.delta_c > 1000000L, 1L, 0L)))
          """).as("st"))
      .select(col("user_id"), col("st.bal").as("final_cents"),
        col("st.floored").as("n_floored"), col("st.capped").as("n_capped"))
      .orderBy("user_id")
  }

  val runningCappedBalanceSql: String =
    """WITH RECURSIVE seq AS (
      |  SELECT user_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    (CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END)
      |      * CAST(ROUND(value * 100, 0) AS BIGINT) AS delta_c
      |  FROM events),
      |rec AS (
      |  SELECT user_id, rn,
      |    LEAST(GREATEST(delta_c, 0), 1000000) AS bal,
      |    CAST(CASE WHEN delta_c < 0 THEN 1 ELSE 0 END AS BIGINT) AS n_floored,
      |    CAST(CASE WHEN delta_c > 1000000 THEN 1 ELSE 0 END AS BIGINT) AS n_capped
      |  FROM seq WHERE rn = 1
      |  UNION ALL
      |  SELECT s.user_id, s.rn,
      |    LEAST(GREATEST(r.bal + s.delta_c, 0), 1000000),
      |    r.n_floored + CASE WHEN r.bal + s.delta_c < 0 THEN 1 ELSE 0 END,
      |    r.n_capped + CASE WHEN r.bal + s.delta_c > 1000000 THEN 1 ELSE 0 END
      |  FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1),
      |fin AS (
      |  SELECT *, MAX(rn) OVER (PARTITION BY user_id) AS mx FROM rec)
      |SELECT user_id, CAST(bal AS BIGINT) AS final_cents,
      |  CAST(n_floored AS BIGINT) AS n_floored,
      |  CAST(n_capped AS BIGINT) AS n_capped
      |FROM fin WHERE rn = mx
      |ORDER BY user_id""".stripMargin

  /** CROSS-CORRELATION at lags −7…+7 between the daily 'view' and
    * 'purchase' series — does engagement LEAD conversion, and by how
    * many days ([[eventsAcf]] is the self-correlation form; this is
    * the two-series lead/lag readout behind funnel-latency intuition).
    * corr_L = Pearson(x_d, y_{d+L}) over the days where both sides
    * exist. All moments (Σx, Σx², Σxy…) are exact DECIMAL(38)
    * integers; only the final ratio/√ is IEEE double, rounded, with a
    * zero-variance guard identical in both engines.
    *
    * Scale: one corpus aggregation to the calendar-bounded daily
    * rollup (persisted — it feeds both join sides); the lag explode is
    * a 15-row literal; everything downstream is calendar × 15 rows.
    */
  def eventsXcorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .cast("decimal(38,0)").as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("decimal(38,0)").as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    daily.count()
    val lags = spark.range(1)
      .select(explode(sequence(lit(-7), lit(7))).as("lag"))
      .select(col("lag").cast("long").as("lag"))
    val xs = daily.select(col("d").as("xd"), col("x"))
    val ys = daily.select(col("d").as("yd"), col("y"))
    xs.crossJoin(broadcast(lags))
      .join(ys, expr("yd = date_add(xd, CAST(lag AS INT))"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_days"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("varx", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vary", col("n_days") * col("syy") - col("sy") * col("sy"))
      .withColumn("cov", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .select(col("lag"), col("n_days"),
        when(col("varx") > 0 && col("vary") > 0,
          round(col("cov").cast("double") /
            sqrt(col("varx").cast("double") * col("vary").cast("double")),
            6)).as("xcorr"))
      .orderBy("lag")
  }

  val eventsXcorrSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS x,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS y
      |  FROM events GROUP BY 1),
      |lags AS (SELECT unnest(range(-7, 8)) AS lag),
      |j AS (
      |  SELECT l.lag, a.x, b.y
      |  FROM daily a CROSS JOIN lags l
      |  JOIN daily b ON b.d = a.d + CAST(l.lag AS INT)),
      |m AS (
      |  SELECT lag, COUNT(*) AS n_days,
      |    SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      |  FROM j GROUP BY lag),
      |v AS (
      |  SELECT lag, n_days,
      |    n_days * sxx - sx * sx AS varx,
      |    n_days * syy - sy * sy AS vary,
      |    n_days * sxy - sx * sy AS cov
      |  FROM m)
      |SELECT lag, n_days,
      |  CASE WHEN varx > 0 AND vary > 0 THEN
      |    ROUND(CAST(cov AS DOUBLE) /
      |      SQRT(CAST(varx AS DOUBLE) * CAST(vary AS DOUBLE)), 6)
      |  END AS xcorr
      |FROM v
      |ORDER BY lag""".stripMargin

  /** FREQUENT GAPPED SEQUENCES — which ordered event pairs (a … then
    * b, any gap, same session) recur across sessions, with support:
    * the sequential-pattern-mining readout ([[eventsTransitions]]
    * counts ADJACENT steps; [[sessionPaths]] counts whole paths; this
    * is the PrefixSpan-style "a eventually leads to b" signal). Each
    * session contributes each distinct pair at most once; sessions are
    * the 30-minute-gap `session_window`, truncated to the first 12
    * events (documented cap — the pair expansion is ≤ C(12,2) = 66 per
    * session whatever a bot session's true length). Support as exact
    * div-ppm over ALL sessions.
    *
    * Scale: one session_window shuffle on user_id (the standard
    * streaming-state layout); the pair expansion is a bounded
    * per-session HOF (sort → slice 12 → index-transform → distinct) —
    * no self-join ever touches corpus rows; output ≤ |types|².
    */
  def freqSequences(spark: SparkSession, dir: String): DataFrame = {
    val k = 12
    val sessions = Tables(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(collect_list(struct(col("ts"), col("event_id"),
        col("event_type"))).as("evs"))
      .select(expr(
        s"slice(transform(array_sort(evs), e -> e.event_type), 1, $k)")
        .as("seq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = sessions.agg(count(lit(1)).as("n_total"))
    sessions
      .select(explode(expr(
        """array_distinct(flatten(transform(seq, (a, i) ->
          |  transform(slice(seq, i + 2, size(seq)),
          |            b -> struct(a AS a, b AS b)))))""".stripMargin))
        .as("p"))
      .select(col("p.a").as("first_event"), col("p.b").as("then_event"))
      .groupBy("first_event", "then_event")
      .agg(count(lit(1)).as("n_sessions"))
      .crossJoin(broadcast(total))
      .select(col("first_event"), col("then_event"), col("n_sessions"),
        (expr("n_sessions * 1000000 div n_total") / 1e6).as("support"))
      .orderBy(desc("n_sessions"), asc("first_event"), asc("then_event"))
  }

  val freqSequencesSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |           >= INTERVAL 30 MINUTE
      |         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked),
      |numbered AS (
      |  SELECT user_id, session_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, session_id
      |      ORDER BY ts, event_id) AS rn
      |  FROM sessions),
      |capped AS (SELECT * FROM numbered WHERE rn <= 12),
      |tot AS (
      |  SELECT COUNT(*) AS n_total
      |  FROM (SELECT DISTINCT user_id, session_id FROM sessions)),
      |pairs AS (
      |  SELECT DISTINCT a.user_id, a.session_id,
      |    a.event_type AS first_event, b.event_type AS then_event
      |  FROM capped a JOIN capped b
      |    ON a.user_id = b.user_id AND a.session_id = b.session_id
      |    AND a.rn < b.rn)
      |SELECT first_event, then_event,
      |  COUNT(*) AS n_sessions,
      |  (COUNT(*) * 1000000 // n_total) / 1e6 AS support
      |FROM pairs CROSS JOIN tot
      |GROUP BY first_event, then_event, n_total
      |ORDER BY n_sessions DESC, first_event, then_event""".stripMargin

  /** ENTROPY RATE of the event-type transition chain — how predictable
    * is the NEXT event given the current one ([[eventsTransitions]]
    * counts the steps; this is the information-theoretic readout over
    * them, the sequence-level sibling of source entropy): per state s,
    * the conditional next-step entropy H(next|s) = Σ_t p(t|s)·ln
    * 1/p(t|s), and its N-weighted contribution to the chain's entropy
    * rate Σ_s π_s·H(next|s). Carried as the floor-6dp ln-micros idiom
    * over exact transition counts — n_st·(lnm n_s − lnm n_st), `div`
    * by n_s (conditional) or N (contribution) — truncating identically
    * in both engines.
    *
    * Scale: one partitioned lag window (user-keyed — the streaming
    * state layout), one aggregation to the |types|² transition grid;
    * everything after is bounded-grid arithmetic.
    */
  def entropyRate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def lnm(e: String) =
      s"CAST(FLOOR(LN(CAST($e AS DOUBLE)) * 1000000) AS BIGINT)"
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("state"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n_st"))
    val states = trans.groupBy("state").agg(sum("n_st").as("n_s"))
    val tot = states.agg(sum("n_s").as("nn"))
    trans.join(broadcast(states), Seq("state"))
      .crossJoin(broadcast(tot))
      .withColumn("term",
        expr(s"n_st * (${lnm("n_s")} - ${lnm("n_st")})"))
      .groupBy(col("state"), col("n_s"), col("nn"))
      .agg(sum("term").as("ts_sum"))
      .select(col("state"), col("n_s"),
        (expr("n_s * 1000000 div nn") / 1e6).as("pi"),
        (expr("ts_sum div n_s") / 1e6).as("h_cond"),
        (expr("ts_sum div nn") / 1e6).as("rate_contrib"))
      .orderBy("state")
  }

  val entropyRateSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev
      |  FROM events),
      |trans AS (
      |  SELECT prev AS state, event_type AS next,
      |    CAST(COUNT(*) AS BIGINT) AS n_st
      |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
      |states AS (
      |  SELECT state, CAST(SUM(n_st) AS BIGINT) AS n_s
      |  FROM trans GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS nn FROM states),
      |terms AS (
      |  SELECT t.state, s.n_s, x.nn,
      |    SUM(t.n_st *
      |      (CAST(FLOOR(LN(CAST(s.n_s AS DOUBLE)) * 1000000) AS BIGINT)
      |       - CAST(FLOOR(LN(CAST(t.n_st AS DOUBLE)) * 1000000)
      |         AS BIGINT))) AS ts_sum
      |  FROM trans t JOIN states s USING (state) CROSS JOIN tot x
      |  GROUP BY 1, 2, 3)
      |SELECT state, n_s,
      |  CAST(n_s * 1000000 // nn AS BIGINT) / 1e6 AS pi,
      |  CAST(ts_sum // n_s AS BIGINT) / 1e6 AS h_cond,
      |  CAST(ts_sum // nn AS BIGINT) / 1e6 AS rate_contrib
      |FROM terms
      |ORDER BY state""".stripMargin

  /** KLEINBERG-STYLE BURST DETECTION over the daily event series (the
    * batch 2-state form of Kleinberg, KDD 2002): a base state emitting
    * at the series' mean daily rate λ₀ and a burst state at 2λ₀, a
    * switching cost γ to ENTER the burst state, and per-day Poisson
    * negative-log-likelihood emissions λ − n·ln λ (the n! term is
    * state-independent and drops). The forward dynamic program runs in
    * EXACT integer micros — λ as div-micros, ln λ as the floor-6dp
    * ln-micros idiom ([[graft.ext.TextQueries]] char_entropy /
    * link_prediction class), so both cost tracks replay bit-for-bit in
    * the recursive-CTE oracle; a day is in-burst when the burst track
    * is strictly cheaper.
    *
    * Scale: one corpus aggregation to the calendar-bounded daily
    * rollup; the sequential fold runs on that bounded metadata (the
    * holt_winters collect class), never on corpus rows.
    */
  def burstKleinberg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getDate(0), r.getLong(1)))
      .sortBy(_._1.getTime)
    burstFold(daily.toSeq)
      .toDF("day", "n_events", "cost_base_micros", "cost_burst_micros",
        "in_burst")
      .orderBy("day")
  }

  /** The 2-state DP core over one day-sorted series — extracted so
    * EventStatsSpec can pin burst behavior on crafted series. */
  private[ext] def burstFold(sr: Seq[(java.sql.Date, Long)])
      : Seq[(java.sql.Date, Long, Long, Long, Boolean)] = {
    if (sr.isEmpty) Seq.empty
    else {
      val S = 1000000L
      val nTot = sr.map(_._2).sum
      val lam0 = nTot * S / sr.length // ≥ S: every rolled-up day has ≥1
      val lam1 = 2L * lam0
      val ln0 = math.floor(math.log(lam0 / 1e6) * 1e6).toLong
      val ln1 = math.floor(math.log(lam1 / 1e6) * 1e6).toLong
      val gamma = 2000000L
      var c0 = 0L
      var c1 = gamma
      sr.map { case (d, n) =>
        val n0 = math.min(c0, c1) + (lam0 - n * ln0)
        val n1 = math.min(c0 + gamma, c1) + (lam1 - n * ln1)
        c0 = n0; c1 = n1
        (d, n, c0, c1, c1 < c0)
      }
    }
  }

  val burstKleinbergSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |ser AS (
      |  SELECT d, n, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily),
      |q AS (
      |  SELECT lam0, 2 * lam0 AS lam1,
      |    CAST(FLOOR(LN(lam0 / 1e6) * 1e6) AS BIGINT) AS ln0,
      |    CAST(FLOOR(LN(2 * lam0 / 1e6) * 1e6) AS BIGINT) AS ln1
      |  FROM (SELECT CAST(SUM(n) * 1000000 // COUNT(*) AS BIGINT) AS lam0
      |        FROM daily)),
      |rec(i, d, n, c0, c1) AS (
      |  SELECT s.i, s.d, s.n,
      |    0 + (q.lam0 - s.n * q.ln0),
      |    2000000 + (q.lam1 - s.n * q.ln1)
      |  FROM ser s CROSS JOIN q WHERE s.i = 1
      |  UNION ALL
      |  SELECT s.i, s.d, s.n,
      |    LEAST(r.c0, r.c1) + (q.lam0 - s.n * q.ln0),
      |    LEAST(r.c0 + 2000000, r.c1) + (q.lam1 - s.n * q.ln1)
      |  FROM rec r JOIN ser s ON s.i = r.i + 1 CROSS JOIN q)
      |SELECT d AS day, n AS n_events, c0 AS cost_base_micros,
      |  c1 AS cost_burst_micros, c1 < c0 AS in_burst
      |FROM rec ORDER BY day""".stripMargin

  /** WILCOXON SIGNED-RANK test on the PAIRED daily (view, purchase)
    * counts — the matched-pairs sibling of
    * [[graft.queries.OlapQueries]]'s Mann–Whitney U: does one series
    * systematically sit above the other on the same days? Zero diffs
    * drop (standard), |diff| ranks use AVERAGE ranks carried as the
    * exact integer 2·rank = 2·cum_before + ties + 1 per tie group, and
    * 2·W⁺ stays integral all the way; the tie-corrected z is the only
    * double, rounded, with the usual guard.
    *
    * Scale: everything after the first aggregate runs on the
    * calendar-bounded daily rollup; the single unpartitioned window
    * orders the per-|diff| tie groups — at most one row per day, the
    * PlanAuditSpec calendar class.
    */
  def wilcoxonSigned(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
      .withColumn("diff", col("x") - col("y"))
      .filter(col("diff") =!= 0)
    val groups = daily
      .groupBy(abs(col("diff")).as("ad"))
      .agg(count(lit(1)).as("t"),
        sum(when(col("diff") > 0, 1L).otherwise(0L)).as("p"))
    val w = Window.orderBy("ad")
      .rowsBetween(Window.unboundedPreceding, -1)
    groups
      .withColumn("c", coalesce(sum("t").over(w), lit(0L)))
      .agg(sum("t").as("n"),
        // 2·W⁺ = Σ over positive diffs of (2·cum_before + ties + 1)
        sum(expr("p * (2 * c + t + 1)")).as("w2"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * t * t - t")).as("ties"))
      .select(col("n"), (col("w2").cast("double") / 2).as("w_plus"),
        expr("""CASE WHEN n >= 2 AND
                  (CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                   - CAST(ties AS DOUBLE) / 48) > 0
                THEN ROUND(
                  (CAST(w2 AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2)
                  / (2 * SQRT(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                              - CAST(ties AS DOUBLE) / 48)), 6)
                END""").as("z"))
  }

  val wilcoxonSignedSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) -
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS diff
      |  FROM events WHERE event_type IN ('view', 'purchase')
      |  GROUP BY 1),
      |nz AS (SELECT diff FROM daily WHERE diff <> 0),
      |groups AS (
      |  SELECT ABS(diff) AS ad, CAST(COUNT(*) AS BIGINT) AS t,
      |    CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT) AS p
      |  FROM nz GROUP BY 1),
      |cum AS (
      |  SELECT *, COALESCE(SUM(t) OVER (ORDER BY ad
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
      |  FROM groups),
      |agg AS (
      |  SELECT CAST(SUM(t) AS BIGINT) AS n,
      |    CAST(SUM(p * (2 * c + t + 1)) AS BIGINT) AS w2,
      |    CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS ties
      |  FROM cum)
      |SELECT n, CAST(w2 AS DOUBLE) / 2 AS w_plus,
      |  CASE WHEN n >= 2 AND
      |    (CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
      |     - CAST(ties AS DOUBLE) / 48) > 0
      |  THEN ROUND(
      |    (CAST(w2 AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2)
      |    / (2 * SQRT(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
      |                - CAST(ties AS DOUBLE) / 48)), 6)
      |  END AS z
      |FROM agg""".stripMargin

  /** DYNAMIC TIME WARPING distance between the daily 'view' and
    * 'purchase' series — how similar are the two curves' SHAPES when
    * one may lead, lag, or stretch relative to the other
    * ([[eventsXcorr]] measures fixed-lag alignment; DTW finds the best
    * ELASTIC alignment, Sakoe & Chiba 1978). Pure integers end to end:
    * cell cost |xᵢ − yⱼ|, D(i,j) = cost + min of the three
    * predecessors — no float ever enters, so the DuckDB replay is
    * bit-exact. The engine folds the O(n·m) table over the
    * calendar-bounded day counts (the holt_winters collect class); the
    * oracle walks the SAME table by anti-diagonals in a recursive CTE
    * whose state is one row carrying the current and previous diagonal
    * as lists.
    */
  def dtwDaily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDate(1), r.getLong(2)))
    val xs = daily.filter(_._1 == "view").sortBy(_._2.getTime).map(_._3)
    val ys = daily.filter(_._1 == "purchase").sortBy(_._2.getTime).map(_._3)
    val cost = dtwCost(xs.toSeq, ys.toSeq)
    Seq((xs.length.toLong, ys.length.toLong, cost,
      (cost * 1000000L / (xs.length + ys.length)) / 1e6))
      .toDF("n_days_view", "n_days_purchase", "dtw_cost", "cost_per_step")
  }

  /** The DTW table fold over two integer series — extracted so
    * EventStatsSpec can pin it against a brute-force path search. */
  private[ext] def dtwCost(xs: Seq[Long], ys: Seq[Long]): Long = {
    val (n, m) = (xs.length, ys.length)
    require(n > 0 && m > 0, "dtw needs two nonempty series")
    val inf = Long.MaxValue / 4
    var prev = Array.fill(m + 1)(inf)
    prev(0) = 0L
    for (i <- 1 to n) {
      val cur = Array.fill(m + 1)(inf)
      for (j <- 1 to m) {
        val c = math.abs(xs(i - 1) - ys(j - 1))
        val best = math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
        cur(j) = c + best
      }
      // D(i, 0) is only reachable as a predecessor of (1,1) via (0,0)
      prev = cur
      prev(0) = inf
    }
    prev(m)
  }

  val dtwDailySql: String =
    """WITH RECURSIVE arrs AS MATERIALIZED (
      |  SELECT
      |    (SELECT list(n ORDER BY d) FROM (
      |      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM events WHERE event_type = 'view' GROUP BY 1)) AS xa,
      |    (SELECT list(n ORDER BY d) FROM (
      |      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1)) AS ya),
      |dims AS MATERIALIZED (
      |  SELECT xa, ya, len(xa) AS n, len(ya) AS m FROM arrs),
      |rec(d, cur, prv) AS (
      |  SELECT 2, [ABS(xa[1] - ya[1])], CAST(NULL AS BIGINT[])
      |  FROM dims
      |  UNION ALL
      |  SELECT r.d + 1,
      |    list_transform(
      |      generate_series(GREATEST(1, r.d + 1 - dm.m),
      |                      LEAST(dm.n, r.d)),
      |      i -> ABS(dm.xa[CAST(i AS INT)] - dm.ya[CAST(r.d + 1 - i AS INT)]) +
      |        LEAST(
      |          r.cur[CAST(i - GREATEST(1, r.d - dm.m) + 1 AS INT)],
      |          r.cur[CAST(i - GREATEST(1, r.d - dm.m) AS INT)],
      |          r.prv[CAST(i - GREATEST(1, r.d - 1 - dm.m) AS INT)])),
      |    r.cur
      |  FROM rec r CROSS JOIN dims dm
      |  WHERE r.d < dm.n + dm.m)
      |SELECT CAST(dm.n AS BIGINT) AS n_days_view,
      |  CAST(dm.m AS BIGINT) AS n_days_purchase,
      |  r.cur[1] AS dtw_cost,
      |  (r.cur[1] * 1000000 // (dm.n + dm.m)) / 1e6 AS cost_per_step
      |FROM rec r CROSS JOIN dims dm
      |WHERE r.d = dm.n + dm.m""".stripMargin

  val all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "running_capped_balance" ->
      ((runningCappedBalance _, runningCappedBalanceSql)),
    "cdc_apply" -> ((cdcApply _, cdcApplySql)),
    "events_overlap_approx" ->
      ((eventsOverlapApprox _, eventsOverlapApproxSql)),
    "attribution_linear" -> ((attributionLinear _, attributionLinearSql)),
    "attribution_markov" -> ((attributionMarkov _, attributionMarkovSql)),
    "events_wow_growth" -> ((eventsWowGrowth _, eventsWowGrowthSql)),
    "session_paths" -> ((sessionPaths _, sessionPathsSql)),
    "funnel_time_percentiles" ->
      ((funnelTimePercentiles _, funnelTimePercentilesSql)),
    "stream_events_tumbling" ->
      ((graft.streaming.StreamingOps.streamTumblingReplay _,
        streamTumblingSql)),
    // session-window replay hash-checks against the BATCH session oracle:
    // streamed micro-batch state merges must land on the gaps-and-islands
    // answer exactly
    "stream_events_session" ->
      ((graft.streaming.StreamingOps.streamSessionReplay _,
        eventsSessionSql)),
    // stream-stream interval join replay, per-purchase rollup of the
    // matched pairs against an inner-join interval oracle
    "stream_click_attribution" ->
      ((graft.streaming.StreamingOps.streamAttributionReplay _,
        streamAttributionSql)),
    "events_gapfill" -> ((eventsGapfill _, eventsGapfillSql)),
    "scd2_state" -> ((scd2State _, scd2StateSql)),
    "events_transitions" -> ((eventsTransitions _, eventsTransitionsSql)),
    "events_anomaly" -> ((eventsAnomaly _, eventsAnomalySql)),
    "events_changepoint" -> ((eventsChangepoint _, eventsChangepointSql)),
    "events_ewma" -> ((eventsEwma _, eventsEwmaSql)),
    "holt_winters" -> ((holtWinters _, holtWintersSql)),
    "events_acf" -> ((eventsAcf _, eventsAcfSql)),
    "events_xcorr" -> ((eventsXcorr _, eventsXcorrSql)),
    "freq_sequences" -> ((freqSequences _, freqSequencesSql)),
    "burst_kleinberg" -> ((burstKleinberg _, burstKleinbergSql)),
    "dtw_daily" -> ((dtwDaily _, dtwDailySql)),
    "wilcoxon_signed" -> ((wilcoxonSigned _, wilcoxonSignedSql)),
    "entropy_rate" -> ((entropyRate _, entropyRateSql)),
    "cms_user_counts" -> ((cmsUserCounts _, cmsUserCountsSql)),
    "events_mad" -> ((eventsMad _, eventsMadSql)),
    "trimmed_mean" -> ((trimmedMean _, trimmedMeanSql)),
    "cohort_ltv" -> ((cohortLtv _, cohortLtvSql)),
    "audience_overlap" -> ((audienceOverlap _, audienceOverlapSql)),
    "touch_attribution" -> ((touchAttribution _, touchAttributionSql)),
    "forecast_eval" -> ((forecastEval _, forecastEvalSql)),
    "forecast_interval" -> ((forecastInterval _, forecastIntervalSql)),
    "seasonal_decompose" -> ((seasonalDecompose _, seasonalDecomposeSql)),
    "activity_streaks" -> ((activityStreaks _, activityStreaksSql)),
    "rolling_active_users" -> ((rollingActiveUsers _, rollingActiveUsersSql)),
    "ab_srm" -> ((abSrm _, abSrmSql)),
    "growth_accounting" -> ((growthAccounting _, growthAccountingSql)),
    "anomaly_ensemble" -> ((anomalyEnsemble _, anomalyEnsembleSql)),
    "peak_concurrency" -> ((peakConcurrency _, peakConcurrencySql)),
    "weekday_anova" -> ((weekdayAnova _, weekdayAnovaSql)),
    "dedup_time_window" -> ((dedupTimeWindow _, dedupTimeWindowSql)),
    "bounce_rate" -> ((bounceRate _, bounceRateSql)),
    "events_theilsen" -> ((eventsTheilsen _, eventsTheilsenSql)),
    "feature_mi" -> ((featureMi _, featureMiSql)),
    "events_seasonality" -> ((eventsSeasonality _, eventsSeasonalitySql)),
    "events_freshness" -> ((eventsFreshness _, eventsFreshnessSql)),
    "orders_rfm" -> ((ordersRfm _, ordersRfmSql)),
    "ab_assign" -> ((abAssign _, abAssignSql)),
    "events_funnel" -> ((eventsFunnel _, eventsFunnelSql)),
    "events_approx_users" -> ((eventsApproxUsers _, eventsApproxUsersSql)),
    "events_sketch_weekly" -> ((eventsSketchWeekly _, eventsSketchWeeklySql)),
    "events_quantile_weekly" -> ((eventsQuantileWeekly _, eventsQuantileWeeklySql)),
    "events_cohort_retention" -> ((eventsCohortRetention _, eventsCohortRetentionSql)),
    "events_tumbling" -> ((eventsTumbling _, eventsTumblingSql)),
    "events_sliding" -> ((eventsSliding _, eventsSlidingSql)),
    "events_session" -> ((eventsSession _, eventsSessionSql)),
    "events_daily_users" -> ((eventsDailyUsers _, eventsDailyUsersSql)),
    "range_join" -> ((rangeJoin _, rangeJoinSql)),
    "window_range_7d" -> ((windowRange7d _, windowRange7dSql))
  )
}
