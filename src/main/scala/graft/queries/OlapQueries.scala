package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** OLAP surface beyond the reference (SURVEY.md §2.5/§2.6 extension
  * breadth): grouping sets, pivot, unpivot, percentiles, as-of join.
  * All shapes a user of a general analytics engine expects; each with a
  * DuckDB oracle.
  */
object OlapQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,4)")

  /** ROLLUP over (priority, status): partial-aggregate hierarchy in one
    * shuffle (Spark expands grouping sets map-side).
    */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"), col("total"))
      .orderBy("priority", "status")
  }

  val rollupAggSql: String =
    """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COALESCE(o_orderstatus, 'ALL') AS status,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  /** Pivot: order counts per priority × status. Expressed as conditional
    * aggregation (identical plan shape to Spark's pivot, and the form the
    * oracle can replay exactly).
    */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame = {
    val statuses = Seq("F", "O", "P")
    Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_total"),
        statuses.map(s =>
          sum(when(col("o_orderstatus") === s, 1L).otherwise(0L)).as(s"n_$s")): _*)
      .orderBy("o_orderpriority")
  }

  val pivotAggSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_F,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_O,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_P
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Unpivot (melt): wide customer metrics → long (metric, value). */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "customer")
      .filter(col("c_custkey") <= 50)
      .select(col("c_custkey"),
        expr("""stack(2, 'acctbal', c_acctbal,
                         'nationkey', cast(c_nationkey AS double))
                AS (metric, value)"""))
      .orderBy("c_custkey", "metric")
  }

  val unpivotMetricsSql: String =
    """SELECT c_custkey, metric, value FROM (
      |  SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer)
      |WHERE c_custkey <= 50
      |ORDER BY c_custkey, metric""".stripMargin

  /** Exact interpolated percentiles per group (median / p90). */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  val percentilesSql: String =
    """SELECT o_orderpriority,
      |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Approximate percentiles — the 100 TB form of [[percentiles]]
    * (exact percentile needs all values of a group collected; the
    * approx sketch is mergeable, bounded-memory, one pass). The sketch is
    * engine-specific, so the REGISTERED form is the deterministic
    * ENVELOPE: exact ride-along columns plus the `within_envelope`
    * boolean that `assert_true` has already enforced (the query ABORTS —
    * a driver-visible failure — if the approximation leaves its accuracy
    * envelope; 1e4 yields ~0.01% rank error, 1% value tolerance is
    * wide). The raw estimate lives in [[percentilesApproxRaw]]
    * (unregistered), so the DuckDB oracle can hash-match every emitted
    * column while the sketch still gates the row.
    */
  def percentilesApprox(spark: SparkSession, dir: String): DataFrame =
    percentilesApproxRaw(spark, dir)
      .withColumn("within_envelope", col("rel_err") <= 0.01)
      .select("o_orderpriority", "p50_exact", "n", "within_envelope")

  /** Raw-estimate form (engine-specific `p50_approx`/`rel_err` exposed;
    * not oracle-expressible, hence unregistered).
    */
  def percentilesApproxRaw(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("approx_percentile(o_totalprice, 0.5, 10000)"), 4).as("p50_approx"),
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50_exact"),
        count(lit(1)).as("n"))
      .withColumn("rel_err",
        round(abs(col("p50_approx") - col("p50_exact")) / col("p50_exact"), 6))
      .filter(expr(
        "assert_true(rel_err <= 0.01, 'approx percentile outside envelope') IS NULL"))
      .orderBy("o_orderpriority")
  }

  val percentilesApproxSql: String =
    """SELECT o_orderpriority,
      |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
      |  COUNT(*) AS n,
      |  TRUE AS within_envelope
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** As-of join: for every click event, the most recent purchase at or
    * before it by the same user. Spark-first formulation: ONE sort per
    * user (window last-ignoring-nulls over the unioned stream) instead of
    * a range join — O(n log n), no pair blow-up, and the exact shape a
    * 100 TB engine wants (single shuffle on user_id). The oracle replays
    * the same window in DuckDB.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.filter(col("event_type").isin("click", "purchase"))
      .withColumn("last_purchase_ts",
        last(when(col("event_type") === "purchase", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("last_purchase_ts"))
      .orderBy("event_id")
  }

  val asofJoinSql: String =
    """SELECT event_id, user_id, ts, last_purchase_ts FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |    MAX(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_ts
      |  FROM events
      |  WHERE event_type IN ('click', 'purchase'))
      |WHERE event_type = 'click'
      |ORDER BY event_id""".stripMargin

  /** Top-k per group via the custom [[graft.functions.TopKByScore]]
    * TypedImperativeAggregate: one agg pass, k pairs shuffled per
    * (task, group) instead of the window's full-shuffle sort. The oracle
    * is the window formulation — the two algorithms must agree exactly.
    */
  def topkCustomAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKByScore.topk_by
    Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(topk_by(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")))
      .select(col("o_orderpriority"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("o_orderkey"),
        col("col.score").as("o_totalprice"))
      .orderBy("o_orderpriority", "rank")
  }

  val topkCustomAggSql: String =
    """SELECT o_orderpriority, CAST(rank AS INT) AS rank, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders)
      |WHERE rank <= 3
      |ORDER BY o_orderpriority, rank""".stripMargin

  /** CUBE over (status, year) with GROUPING() markers — all 4 grouping
    * sets in one shuffle (Spark expands the sets map-side, same as
    * ROLLUP).
    */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .select(col("o_orderstatus").as("status"),
        year(col("o_orderdate")).as("o_year"), col("o_totalprice"))
      .cube(col("status"), col("o_year"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"),
        grouping(col("status")).cast("int").as("g_status"),
        grouping(col("o_year")).cast("int").as("g_year"))
      .orderBy("g_status", "g_year", "status", "o_year")
  }

  val cubeAggSql: String =
    """SELECT o_orderstatus AS status, YEAR(o_orderdate) AS o_year,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |  CAST(GROUPING(YEAR(o_orderdate)) AS INT) AS g_year
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, YEAR(o_orderdate))
      |ORDER BY g_status, g_year, status, o_year""".stripMargin

  /** Statistical aggregates per event type — mean / variance / stddev /
    * correlation computed from EXACT decimal moment sums, then one
    * double-precision expression at the end. Native stddev/corr stream
    * doubles in partition order and drift at the last ulp between
    * engines; exact moments keep the oracle hash-stable (the same
    * discipline as the decimal-sum rule, see CoreQueries).
    */
  def statsAgg(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).as("sx"),
        sum((dec(col("value")) * dec(col("value"))).cast("decimal(38,8)")).as("sxx"),
        sum(col("user_id")).as("sy"),
        sum((col("user_id") * col("user_id")).cast("decimal(38,0)")).as("syy"),
        sum((dec(col("value")) * col("user_id")).cast("decimal(38,4)")).as("sxy"))
    m.select(
        col("event_type"), col("n"),
        round(col("sx").cast("double") / col("n"), 6).as("mean_value"),
        round((col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / col("n"))
          / (col("n") - 1), 6).as("var_value"),
        round(sqrt((col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / col("n"))
          / (col("n") - 1)), 6).as("std_value"),
        round((col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double") / col("n"))
          / sqrt((col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / col("n"))
            * (col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double") / col("n"))), 6)
          .as("corr_value_user"))
      .orderBy("event_type")
  }

  val statsAggSql: String =
    """WITH m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS sx,
      |    SUM(CAST(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS sxx,
      |    SUM(user_id) AS sy,
      |    SUM(CAST(user_id * user_id AS DECIMAL(38,0))) AS syy,
      |    SUM(CAST(CAST(value AS DECIMAL(18,4)) * user_id AS DECIMAL(38,4))) AS sxy
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n,
      |  ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_value,
      |  ROUND((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1), 6) AS var_value,
      |  ROUND(SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)), 6) AS std_value,
      |  ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
      |    / SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
      |      * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)), 6) AS corr_value_user
      |FROM m
      |ORDER BY event_type""".stripMargin

  /** List aggregation with a deterministic order: per-customer sorted
    * status string (collect_list is order-nondeterministic, so sort the
    * array before joining — the only hash-stable form of list agg).
    */
  def listAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        array_join(array_sort(collect_list(col("o_orderstatus"))), "").as("statuses"))
      .orderBy("o_custkey")
  }

  val listAggSql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  array_to_string(list_sort(list(o_orderstatus)), '') AS statuses
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** Date/time function breadth (§2.8 extension): add days/months,
    * month-end clamping, day diffs, calendar fields, week truncation.
    */
  def dateFuncs(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .filter(col("o_orderkey") <= 100)
      .select(
        col("o_orderkey"),
        date_add(col("o_orderdate"), 30).as("plus_30d"),
        add_months(col("o_orderdate"), 2).as("plus_2m"),
        last_day(col("o_orderdate")).as("month_end"),
        datediff(col("o_orderdate"), lit("1995-01-01")).cast("int").as("days_since_95"),
        quarter(col("o_orderdate")).cast("int").as("q"),
        (dayofweek(col("o_orderdate")) - 1).cast("int").as("dow_sun0"),
        date_trunc("week", col("o_orderdate")).cast("date").as("week_start"))
      .orderBy("o_orderkey")
  }

  val dateFuncsSql: String =
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) + 30 AS plus_30d,
      |  CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus_2m,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_95,
      |  CAST(quarter(o_orderdate) AS INT) AS q,
      |  CAST(dayofweek(o_orderdate) AS INT) AS dow_sun0,
      |  CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start
      |FROM orders WHERE o_orderkey <= 100
      |ORDER BY o_orderkey""".stripMargin

  /** Navigation + distribution window breadth (lag/lead/ntile/
    * percent_rank) over each customer's order history. One shuffle on
    * o_custkey serves all four functions (same window spec); the ordering
    * key (o_orderdate, o_orderkey) is unique, so every function is
    * deterministic cross-engine.
    */
  def windowNav(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        // bigint to match DuckDB's NTILE (int32-vs-int64 survives the
        // driver's hash today, but only int64-vs-int64 is drift-proof)
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pr"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val windowNavSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  LAG(o_totalprice, 1) OVER w AS prev_price,
      |  LEAD(o_totalprice, 1) OVER w AS next_price,
      |  NTILE(4) OVER w AS quartile,
      |  ROUND(PERCENT_RANK() OVER w, 6) AS pr
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Explicit GROUPING SETS (the general form ROLLUP/CUBE specialize):
    * two independent one-dimension margins plus the grand total, WITHOUT
    * the pairwise cells a CUBE would also compute. Same single-shuffle
    * map-side expansion as rollup — each input row replicates once per
    * matching set, never once per row×set combination that doesn't apply.
    */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"), col("total"))
      .orderBy("priority", "status")
  }

  val groupingSetsAggSql: String =
    """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COALESCE(o_orderstatus, 'ALL') AS status,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      |ORDER BY priority, status""".stripMargin

  /** ANALYZE-style table profile: per-column row/null/distinct counts and
    * string-rendered min/max over `orders` — the stats pass every
    * pipeline (and a cost-based optimizer) runs before touching a new
    * table. Schema-driven: the column list comes from the DataFrame
    * schema, so the same code profiles any table.
    *
    * THIS is the shipped, 100 TB-safe form: NDV via
    * `approx_count_distinct` (mergeable HLL++ state, one pass, NO Expand —
    * the exact multi-column COUNT DISTINCT plans through Spark's Expand at
    * rows × (ncols+1) before the partial agg, a scale-killer on a wide
    * fact table). The HLL sketch is engine-specific so there is no DuckDB
    * oracle (rows-only check), but the query is SELF-VALIDATING like
    * `percentiles_approx`: `o_orderkey` is unique in `orders`, so its true
    * NDV is exactly `n_rows` (already computed in the same pass), and
    * `assert_true` aborts — a driver-visible failure, not silently-wrong
    * rows — if the sketch misses that hardest-cardinality column by more
    * than 3× the configured rsd. TableProfileSpec additionally pins every
    * column's approx NDV against the exact form at test scale.
    * [[tableProfileExact]] keeps the exact Expand form under the full
    * DuckDB hash oracle for the shared rendering/null/min-max logic.
    */
  def tableProfile(spark: SparkSession, dir: String): DataFrame =
    tableProfileApproxCore(Tables(spark, dir, "orders"), uniqueCol = Some("o_orderkey"),
      emitEstimate = false)

  /** Exact-NDV profile (ANALYZE semantics, oracle-gated). Plans through
    * the Expand — test-scale/small-table use only; the shipped
    * [[tableProfile]] is the approx form.
    */
  def tableProfileExact(spark: SparkSession, dir: String): DataFrame =
    tableProfileCore(Tables(spark, dir, "orders"))

  /** Approx-NDV profile over any DataFrame: single scan, single
    * aggregate, HLL++ NDV (rsd 0.05), no Expand in the plan
    * (PlanAuditSpec pins this). When `uniqueCol` names a known-unique
    * column, its approx NDV is asserted within 3×rsd of the row count —
    * a free accuracy ride-along at the table's maximum cardinality.
    */
  private[graft] def tableProfileApproxCore(df: DataFrame,
                                            uniqueCol: Option[String] = None,
                                            rsd: Double = 0.05,
                                            emitEstimate: Boolean = true): DataFrame = {
    val colNames = df.schema.fields.map(_.name).toSeq
    def rendered(agg: org.apache.spark.sql.Column, c: String): org.apache.spark.sql.Column =
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.DoubleType =>
          agg.cast("decimal(18,2)").cast("string")
        case _ => agg.cast("string")
      }
    val aggExprs = count(lit(1)).as("n") +: colNames.zipWithIndex.flatMap {
      case (c, i) => Seq(
        count(col(c)).as(s"nn_$i"),
        approx_count_distinct(col(c), rsd).as(s"nd_$i"),
        rendered(min(col(c)), c).as(s"mn_$i"),
        rendered(max(col(c)), c).as(s"mx_$i"))
    }
    val one = df.agg(aggExprs.head, aggExprs.tail: _*)
    // the unique-col accuracy guard: the sketch must land within 3×rsd of
    // the row count on the table's hardest-cardinality column
    val guardExpr = uniqueCol.map { u =>
      val i = colNames.indexOf(u)
      require(i >= 0, s"uniqueCol $u not in schema")
      (i, s"abs(nd_$i - n) <= greatest(${3 * rsd} * n, 1)")
    }
    val guarded = guardExpr match {
      case Some((_, pred)) =>
        one.filter(expr(
          s"assert_true($pred, " +
          s"'approx NDV outside envelope on unique column ${uniqueCol.get}') IS NULL"))
      case None => one
    }
    // envelope form: raw estimate omitted, the asserted guard exposed as a
    // computed (never literal) boolean — deterministic post-assert, so the
    // DuckDB oracle can hash-match every column
    def extraCols(i: Int): Seq[org.apache.spark.sql.Column] =
      if (emitEstimate) Seq(col(s"nd_$i").as("n_distinct"))
      else Seq(expr(guardExpr.map(_._2).getOrElse("true")).as("ndv_within_envelope"))
    guarded
      .select(explode(array(colNames.zipWithIndex.map { case (c, i) =>
        struct(Seq(lit(c).as("col_name"), col("n").as("n_rows"),
          (col("n") - col(s"nn_$i")).as("n_nulls")) ++
          extraCols(i) ++
          Seq(col(s"mn_$i").as("min_str"), col(s"mx_$i").as("max_str")): _*)
      }: _*)).as("p"))
      .select("p.*")
      .orderBy("col_name")
  }

  /** ONE builder for both profile oracles — the column list and the
    * double-rendering rule must not live twice (they drifted apart
    * would only be caught at gate time). `ndvExpr(c)` is the only
    * difference: exact COUNT(DISTINCT) vs the approx form's asserted
    * envelope boolean.
    */
  private def profileSqlFor(ndvCol: String => String): String = {
    val cols = Seq("o_orderkey" -> false, "o_custkey" -> false,
      "o_orderstatus" -> false, "o_totalprice" -> true,
      "o_orderdate" -> false, "o_orderpriority" -> false)
    cols.map { case (c, isDouble) =>
      val mn = if (isDouble) s"CAST(CAST(MIN($c) AS DECIMAL(18,2)) AS VARCHAR)"
               else s"CAST(MIN($c) AS VARCHAR)"
      val mx = if (isDouble) s"CAST(CAST(MAX($c) AS DECIMAL(18,2)) AS VARCHAR)"
               else s"CAST(MAX($c) AS VARCHAR)"
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT($c) AS n_nulls,
         |  ${ndvCol(c)},
         |  $mn AS min_str, $mx AS max_str FROM orders""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")
  }

  val tableProfileApproxSql: String =
    profileSqlFor(_ => "TRUE AS ndv_within_envelope")

  /** The profile pipeline over any DataFrame — TableProfileSpec drives it
    * with crafted nulls (the fixture tables are null-free, so the
    * registered query alone would leave n_nulls untested).
    */
  private[graft] def tableProfileCore(df: DataFrame): DataFrame = {
    val colNames = df.schema.fields.map(_.name).toSeq
    def rendered(agg: org.apache.spark.sql.Column, c: String): org.apache.spark.sql.Column =
      df.schema(c).dataType match {
      case org.apache.spark.sql.types.DoubleType =>
        agg.cast("decimal(18,2)").cast("string")
      case _ => agg.cast("string")
    }
    val aggExprs = count(lit(1)).as("n") +: colNames.zipWithIndex.flatMap {
      case (c, i) => Seq(
        count(col(c)).as(s"nn_$i"),
        countDistinct(col(c)).as(s"nd_$i"),
        rendered(min(col(c)), c).as(s"mn_$i"),
        rendered(max(col(c)), c).as(s"mx_$i"))
    }
    df.agg(aggExprs.head, aggExprs.tail: _*)
      .select(explode(array(colNames.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("col_name"), col("n").as("n_rows"),
          (col("n") - col(s"nn_$i")).as("n_nulls"),
          col(s"nd_$i").as("n_distinct"),
          col(s"mn_$i").as("min_str"), col(s"mx_$i").as("max_str"))
      }: _*)).as("p"))
      .select("p.*")
      .orderBy("col_name")
  }

  val tableProfileSql: String =
    profileSqlFor(c => s"COUNT(DISTINCT $c) AS n_distinct")

  /** Distribution-rank window breadth — `dense_rank`, `percent_rank`,
    * `cume_dist`, `ntile` — computed where an unpartitioned ranking
    * window is SCALE-CORRECT: over the 25-row nation-revenue AGGREGATE,
    * not the corpus (the single-task global sort an unpartitioned
    * window implies is only acceptable after aggregation has collapsed
    * the data; corpus-scale global ranks use the hash-rank /
    * range-bounds machinery in `shuffle_shard` / `partition_bounds`).
    * `percent_rank`/`cume_dist` are one IEEE division of window-counted
    * integers — identical in both engines; `ntile`'s order includes the
    * unique n_name tiebreak so bucket edges are deterministic.
    */
  def windowRankStats(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"),
        col("c_custkey") === col("o_custkey"))
      .join(Tables(spark, dir, "nation"),
        col("n_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
    val byRev = Window.orderBy(desc("revenue"), asc("n_name"))
    rev.select(col("n_name"), col("revenue"),
        dense_rank().over(Window.orderBy(desc("revenue"))).cast("long").as("drank"),
        percent_rank().over(byRev).as("prank"),
        cume_dist().over(byRev).as("cdist"),
        ntile(4).over(byRev).cast("long").as("quartile"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  val windowRankStatsSql: String =
    """WITH rev AS (
      |  SELECT n_name,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |  FROM orders o
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey
      |  GROUP BY n_name)
      |SELECT n_name, revenue,
      |  CAST(DENSE_RANK() OVER (ORDER BY revenue DESC) AS BIGINT) AS drank,
      |  PERCENT_RANK() OVER (ORDER BY revenue DESC, n_name) AS prank,
      |  CUME_DIST() OVER (ORDER BY revenue DESC, n_name) AS cdist,
      |  CAST(NTILE(4) OVER (ORDER BY revenue DESC, n_name) AS BIGINT) AS quartile
      |FROM rev
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** DYNAMIC pivot — the two-phase form [[pivotAgg]]'s fixed value list
    * avoids: phase 1 discovers the pivot values from the DIMENSION
    * itself (a bounded driver-side collect — the same contract as every
    * bounded literal here: pivot columns are a schema, and a schema is
    * driver-sized by definition), phase 2 is Spark's native
    * `RelationalGroupedDataset.pivot` over the sorted discovered values
    * — which plans the same single-shuffle conditional aggregation as
    * the hand-written form, now robust to new status codes appearing in
    * the data. Missing cells surface as NULL from pivot and are pinned
    * to 0 to match the CASE-sum oracle.
    */
  def pivotDynamic(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    // phase 1: bounded dim discovery (|statuses| strings)
    val statuses = orders.select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    orders.groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", statuses)
      .agg(count(lit(1)))
      .select(col("o_orderpriority") +:
        statuses.map(s => coalesce(col(s), lit(0L)).as(s"n_$s")): _*)
      .orderBy("o_orderpriority")
  }

  val pivotDynamicSql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_F,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_O,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_P
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Join-cardinality PRE-FLIGHT: the exact output size of
    * `orders ⋈ lineitem` computed WITHOUT running the join —
    * `Σₖ c_orders(k) · c_lineitem(k)` over the per-key count tables,
    * plus the fanout diagnostics (distinct keys per side, the worst
    * key's contribution). This is the guard a 100 TB pipeline runs
    * before an unfamiliar join: the two count aggregates are map-side-
    * combined scans, their join is key-cardinality-sized (not
    * row-sized), and a blow-up shows up as a number — with the skewed
    * key identified — instead of a dead cluster. The same per-key
    * count-sketch shape powers `skew_report`'s remedy side; here it
    * closes the loop as a registered, exactly-checkable estimate
    * (OlapQueriesSpec pins it equal to the materialized join's count).
    */
  def joinCardinality(spark: SparkSession, dir: String): DataFrame = {
    val co = Tables(spark, dir, "orders")
      .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("c_o"))
    val cl = Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("c_l"))
    co.join(cl, Seq("k"))
      .agg(
        sum(col("c_o") * col("c_l")).as("join_rows"),
        count(lit(1)).as("n_matching_keys"),
        max(col("c_o") * col("c_l")).as("max_key_rows"))
      .crossJoin(broadcast(co.agg(count(lit(1)).as("keys_orders"))))
      .crossJoin(broadcast(cl.agg(count(lit(1)).as("keys_lineitem"))))
  }

  val joinCardinalitySql: String =
    """WITH co AS (SELECT o_orderkey AS k, COUNT(*) AS c_o FROM orders GROUP BY 1),
      |cl AS (SELECT l_orderkey AS k, COUNT(*) AS c_l FROM lineitem GROUP BY 1),
      |m AS (
      |  SELECT CAST(SUM(c_o * c_l) AS BIGINT) AS join_rows,
      |    COUNT(*) AS n_matching_keys,
      |    CAST(MAX(c_o * c_l) AS BIGINT) AS max_key_rows
      |  FROM co JOIN cl USING (k))
      |SELECT join_rows, n_matching_keys, max_key_rows,
      |  (SELECT COUNT(*) FROM co) AS keys_orders,
      |  (SELECT COUNT(*) FROM cl) AS keys_lineitem
      |FROM m""".stripMargin

  /** WINSORIZATION (outlier clipping at p01/p99): the robust-stats
    * preprocessing step in front of any mean-based model — exact
    * interpolated percentile bounds computed ONCE (a 2-scalar
    * broadcast; at 100 TB the same query swaps in the mergeable
    * GK-sketch bounds from `events_quantile_weekly`'s tier), values
    * clipped against the 4dp-ROUNDED bounds so both engines branch on
    * identical doubles, and the per-day before/after means report what
    * the clipping did — the diagnostic that catches over-aggressive
    * bounds. One corpus scan for the bounds, one for the clip+rollup.
    */
  def winsorizeValues(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val bounds = ev.agg(
      round(expr("percentile(value, 0.01)"), 4).as("lo"),
      round(expr("percentile(value, 0.99)"), 4).as("hi"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("clipped", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_clipped"),
        sum(dec(col("value"))).cast("double").as("sum_raw"),
        sum(dec(col("clipped"))).cast("double").as("sum_winsorized"))
      .orderBy("day")
  }

  val winsorizeValuesSql: String =
    """WITH b AS (
      |  SELECT ROUND(quantile_cont(value, 0.01), 4) AS lo,
      |         ROUND(quantile_cont(value, 0.99), 4) AS hi
      |  FROM events)
      |SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |  COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_raw,
      |  CAST(SUM(CAST(LEAST(GREATEST(value, lo), hi) AS DECIMAL(18,4))) AS DOUBLE)
      |    AS sum_winsorized
      |FROM events CROSS JOIN b
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** DETERMINISTIC MODE (most frequent value) per group — the modal
    * order priority of each market segment. Spark 3.4's built-in
    * `mode` leaves ties implementation-defined, so the operator is the
    * two-level aggregate instead: count per (segment, priority) cell,
    * then `min(struct(-cnt, priority))` picks highest-count /
    * lexicographically-smallest in ONE struct-ordered agg — no window
    * over the corpus, both shuffles reduce (cells ≤ segments ×
    * priorities, then segments), and ties resolve identically on both
    * engines. The same shape computes the mode of any categorical at
    * 100 TB: the corpus-scale stage is the first map-side-combined
    * count.
    */
  def modeAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders").select("o_custkey", "o_orderpriority")
    val c = Tables(spark, dir, "customer").select("c_custkey", "c_mktsegment")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("segment")
      .agg(min(struct((-col("cnt")).as("nc"), col("priority").as("p"))).as("m"))
      .select(col("segment"), col("m.p").as("mode_priority"),
        (-col("m.nc")).as("n_mode"))
      .orderBy("segment")
  }

  val modeAggSql: String =
    """WITH pc AS (
      |  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
      |    COUNT(*) AS cnt
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2)
      |SELECT segment, priority AS mode_priority, cnt AS n_mode
      |FROM (SELECT *, ROW_NUMBER() OVER
      |        (PARTITION BY segment ORDER BY cnt DESC, priority) AS rn
      |      FROM pc)
      |WHERE rn = 1
      |ORDER BY segment""".stripMargin

  /** EQUI-WIDTH HISTOGRAM of `events.value`: 20 buckets between the
    * global min/max (a 2-scalar broadcast, the winsorize discipline),
    * per-bucket row count and exact decimal sum. Bucket arithmetic is
    * written as the SAME left-to-right double expression both engines
    * evaluate — `floor((value - lo) / (hi - lo) * 20)` — so boundary
    * values land in the same bucket bit-for-bit; the top edge folds
    * into bucket 19 (the standard right-closed last bucket). One scan
    * for the bounds, one map-side-combined pass for the buckets; at
    * 100 TB the bounds come from the profile tier instead of a scan.
    */
  def histogramValues(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").select("value")
    val bounds = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        least(greatest(
          floor((col("value") - col("lo")) / (col("hi") - col("lo")) * 20),
          lit(0L)), lit(19L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(min(col("lo")) + col("bucket") * ((min(col("hi")) - min(col("lo"))) / 20), 4)
          .as("bucket_lo"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select("bucket", "bucket_lo", "n", "sum_value")
      .orderBy("bucket")
  }

  val histogramValuesSql: String =
    """WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
      |h AS (
      |  SELECT LEAST(GREATEST(
      |      CAST(FLOOR((value - lo) / (hi - lo) * 20) AS BIGINT), 0), 19) AS bucket,
      |    value, lo, hi
      |  FROM events CROSS JOIN b)
      |SELECT bucket,
      |  ROUND(MIN(lo) + bucket * ((MIN(hi) - MIN(lo)) / 20), 4) AS bucket_lo,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM h
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** TPC-H Q8 shape (national market share): the TWO-ROLE dimension
    * join — `nation` enters once through the CUSTOMER side (restricting
    * demand to region AMERICA) and once through the SUPPLIER side (whose
    * share is measured), so the planner must keep two independent
    * broadcast copies of the same table without conflating them. Fact
    * side: lineitem × date-filtered orders is the one genuine shuffle
    * join; part (selective `p_type` filter), supplier, and both nation
    * roles broadcast; the date and type predicates push into the
    * parquet scans. Share = ROUND(double(Σ decimal NATION_6 volume) /
    * double(Σ decimal volume), 6) per order-year — sums exact, one
    * division at the end on two already-exact scalars.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val part = Tables(spark, dir, "part")
      .filter(col("p_type") === "ECONOMY").select("p_partkey")
    val supp = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val cust = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val nat = Tables(spark, dir, "nation")
    val amerNations = nat
      .join(broadcast(Tables(spark, dir, "region")
        .filter(col("r_name") === "AMERICA").select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    val suppNation = nat.select(col("n_nationkey").as("sn_key"),
      col("n_name").as("supp_nation"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(amerNations), col("c_nationkey") === col("cn_key"))
      .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
      .withColumn("volume", dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_6", col("volume"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("v6"),
        sum(col("volume")).as("vall"))
      .select(col("o_year"),
        round(col("v6").cast("double") / col("vall").cast("double"), 6)
          .as("mkt_share"))
      .orderBy("o_year")
  }

  val q8MarketShareSql: String =
    """WITH vol AS (
      |  SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
      |    CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)) AS volume,
      |    n2.n_name AS supp_nation
      |  FROM lineitem l
      |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o.o_orderdate < TIMESTAMP '1998-01-01'
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      |  JOIN region r ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'AMERICA'
      |  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey)
      |SELECT CAST(o_year AS BIGINT) AS o_year,
      |  ROUND(
      |    CAST(SUM(CASE WHEN supp_nation = 'NATION_6' THEN volume
      |                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
      |    / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
      |FROM vol
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** TPC-H Q6 (forecasting revenue change): the canonical PURE-SCAN
    * aggregate — three range predicates, no join, one pass; every
    * predicate must reach the parquet reader (`PushedFilters`), which
    * is the entire point of the query at 100 TB.
    */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice") * col("l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q6ForecastSql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
      |    AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    * on RETURNED lines in a quarter — fact⋈fact shuffle join with the
    * returnflag and date predicates pushed, customer + nation
    * broadcast, top-k as TakeOrdered with a full tie order.
    */
  def q10Returned(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1996-04-01"))
      .select("o_orderkey", "o_custkey")
    val cust = Tables(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    val nat = Tables(spark, dir, "nation").select("n_nationkey", "n_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .cast("double").as("revenue"),
        max(col("c_acctbal").cast("double")).as("acctbal"))
      .orderBy(desc("revenue"), asc("c_custkey")).limit(20)
  }

  val q10ReturnedSql: String =
    """SELECT c.c_custkey, c.c_name, n.n_name,
      |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
      |    AS DOUBLE) AS revenue,
      |  MAX(CAST(c.c_acctbal AS DOUBLE)) AS acctbal
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE l.l_returnflag = 'R'
      |GROUP BY c.c_custkey, c.c_name, n.n_name
      |ORDER BY revenue DESC, c.c_custkey LIMIT 20""".stripMargin

  /** TPC-H Q13 (customer distribution): the OUTER-JOIN COUNT histogram —
    * customers with ZERO orders must land in the c_count=0 bucket, which
    * is exactly what a naive inner-join formulation silently drops (the
    * COUNT-bug family, here in its group-then-histogram form). One
    * customer-keyed outer aggregate, then a bounded histogram shuffle.
    */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer").select("c_custkey")
    val ord = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey")
    cust.join(ord, col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  val q13CustDistSql: String =
    """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      |  GROUP BY c.c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q15 (top supplier): equality against the MAX of an
    * aggregate — every supplier tied at the exact maximum survives,
    * which only works because revenue stays DECIMAL through the
    * aggregate, the MAX, and the equality (the corr_min_cost
    * discipline applied to a derived aggregate instead of a base
    * column).
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-07-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("total_rev"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val best = rev.agg(max("total_rev").as("mx"))
    Tables(spark, dir, "supplier").select("s_suppkey", "s_name")
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(best), col("total_rev") === col("mx"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_rev"))
      .orderBy("s_suppkey")
  }

  val q15TopSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-07-01'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
      |FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
      |WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
      |ORDER BY s.s_suppkey""".stripMargin

  /** TPC-H Q9 shape (product-type profit by nation and year), adapted
    * to this schema: no partsupp table, so unit cost is the published
    * retail price at a 90% wholesale discount (`0.9·p_retailprice` —
    * deterministic, engine-identical arithmetic). Profit stays exact:
    * revenue and cost each round to DECIMAL(18,4) per line BEFORE the
    * subtraction and the sums, so the (nation, year) totals are
    * order-free. Part filter pushes; nation enters through the
    * SUPPLIER side (the Q9 role).
    */
  def q9Profit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val part = Tables(spark, dir, "part")
      .filter(col("p_type") === "STANDARD")
      .select("p_partkey", "p_retailprice")
    val supp = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val nat = Tables(spark, dir, "nation").select("n_nationkey", "n_name")
    val ord = Tables(spark, dir, "orders").select("o_orderkey", "o_orderdate")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("profit",
        dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          - dec(col("l_quantity") * col("p_retailprice") * lit(0.9)))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(col("profit")).cast("double").as("profit"),
        count(lit(1)).as("n_lines"))
      .orderBy(asc("nation"), desc("o_year"))
  }

  val q9ProfitSql: String =
    """SELECT n.n_name AS nation,
      |  CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM(
      |    CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
      |    - CAST(l.l_quantity * p.p_retailprice * 0.9 AS DECIMAL(18,4)))
      |    AS DOUBLE) AS profit,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'STANDARD'
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY n.n_name, EXTRACT(YEAR FROM o.o_orderdate)
      |ORDER BY nation, o_year DESC""".stripMargin

  /** TPC-H Q14 shape (promotion revenue share): the two-branch
    * conditional aggregate over ONE scan — promo revenue and total
    * revenue come from the same pass (a `SUM(CASE …)/SUM(…)` pair), the
    * month window pushes into the orders scan, part broadcasts. Exact
    * decimal sums; one division on the two final scalars.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val part = Tables(spark, dir, "part").select("p_partkey", "p_type")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1996-04-01"))
      .select("o_orderkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .withColumn("rev", dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("promo_rev"),
        sum(col("rev")).as("total_rev"))
      .select(
        col("promo_rev").cast("double").as("promo_rev"),
        col("total_rev").cast("double").as("total_rev"),
        round(col("promo_rev").cast("double") * 100.0
          / col("total_rev").cast("double"), 6).as("promo_pct"))
  }

  val q14PromoShareSql: String =
    """SELECT
      |  CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN
      |    CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
      |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_rev,
      |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
      |    AS DOUBLE) AS total_rev,
      |  ROUND(CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN
      |      CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
      |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) * 100.0
      |    / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
      |      AS DOUBLE), 6) AS promo_pct
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
      |JOIN part p ON l.l_partkey = p.p_partkey""".stripMargin

  /** TPC-H Q12 shape (late-shipment severity by mode): `l_linestatus`
    * stands in for shipmode (the synthetic schema has no l_shipmode).
    * One fact shuffle join, severity split as two conditional counts in
    * one aggregate — the plan never scans per severity class.
    */
  def q12LateBuckets(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val ord = Tables(spark, dir, "orders").select(
      col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
      .groupBy(col("l_linestatus"))
      .agg(
        count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
          .as("high_line_count"),
        count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
          .as("low_line_count"))
      .orderBy("l_linestatus")
  }

  val q12LateBucketsSql: String =
    """SELECT l.l_linestatus,
      |  CAST(COUNT(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
      |    AS BIGINT) AS high_line_count,
      |  CAST(COUNT(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
      |    AS BIGINT) AS low_line_count
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      |GROUP BY l.l_linestatus
      |ORDER BY l.l_linestatus""".stripMargin

  /** TPC-H Q19 shape (disjunctive join predicate): an OR of three
    * brand/size/quantity conjunctions ACROSS the join — the classic
    * test that the planner (a) keeps the disjunction as a join residual
    * rather than exploding the join, and (b) still pushes the
    * single-table parts of each disjunct into the scans where common
    * (quantity ≤ 30 and size ≤ 35 hold in every branch and prune
    * row groups).
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val part = Tables(spark, dir, "part").select("p_partkey", "p_brand", "p_size")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 10)) ||
        (col("p_brand") === "Brand#13" && col("p_size").between(1, 15) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#25" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30)))
      .agg(count(lit(1)).as("n_lines"),
        sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double").as("revenue"))
  }

  val q19DisjunctiveSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
      |    AS DOUBLE) AS revenue
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
      |       AND l.l_quantity BETWEEN 1 AND 10)
      |   OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15
      |       AND l.l_quantity BETWEEN 10 AND 20)
      |   OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 1 AND 35
      |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin

  private val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val CorrPairs: Seq[(String, String)] =
    for { i <- CorrCols.indices; j <- (i + 1) until CorrCols.size }
      yield (CorrCols(i), CorrCols(j))

  /** PAIRWISE CORRELATION MATRIX over the fact table's numeric columns
    * in ONE corpus pass — the feature-screening step in front of any
    * model: ALL sums / sum-squares / cross-products (4 + 4 + 6 decimal
    * aggregates + the count) come from a single map-side-combined
    * aggregate, then each of the 6 Pearson coefficients is pure scalar
    * arithmetic on the one-row result. The [[statsAgg]] exact-moment
    * discipline widened to a matrix: decimal sums are order-free, so
    * the double-valued corr is bit-identical on both engines; a naive
    * per-pair `corr()` would scan the corpus 6 times and still not
    * replay. At 100 TB: one shuffle of 15 decimals, nothing else.
    */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    def sq(c: String) = sum((dec(col(c)) * dec(col(c))).cast("decimal(38,8)"))
    val m = Tables(spark, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      CorrCols.map(c => sum(dec(col(c))).as(s"s_$c")) ++
        CorrCols.map(c => sq(c).as(s"q_$c")) ++
        CorrPairs.map { case (a, b) =>
          sum((dec(col(a)) * dec(col(b))).cast("decimal(38,8)")).as(s"x_${a}_$b")
        }: _*)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val pairRows = CorrPairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        round((d(col(s"x_${a}_$b")) - d(col(s"s_$a")) * d(col(s"s_$b")) / col("n"))
          / sqrt((d(col(s"q_$a")) - d(col(s"s_$a")) * d(col(s"s_$a")) / col("n"))
            * (d(col(s"q_$b")) - d(col(s"s_$b")) * d(col(s"s_$b")) / col("n"))), 6)
          .as("corr"))
    }
    m.select(col("n"), explode(array(pairRows: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("n"), col("p.corr"))
      .orderBy("col_a", "col_b")
  }

  val corrMatrixSql: String = {
    val sums = CorrCols.map(c =>
      s"SUM(CAST($c AS DECIMAL(18,4))) AS s_$c").mkString(",\n    ")
    // inner casts widened to DECIMAL(28,4) for DuckDB only: same 4dp
    // rounding as (18,4), but the product runs in HUGEINT instead of
    // overflowing INT64 on l_extendedprice² (~1.02e18 unscaled)
    val sqs = CorrCols.map(c =>
      s"SUM(CAST(CAST($c AS DECIMAL(28,4)) * CAST($c AS DECIMAL(28,4)) AS DECIMAL(38,8))) AS q_$c")
      .mkString(",\n    ")
    val crosses = CorrPairs.map { case (a, b) =>
      s"SUM(CAST(CAST($a AS DECIMAL(28,4)) * CAST($b AS DECIMAL(28,4)) AS DECIMAL(38,8))) AS x_${a}_$b"
    }.mkString(",\n    ")
    val rows = CorrPairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
         |  ROUND((CAST(x_${a}_$b AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE) / n)
         |    / SQRT((CAST(q_$a AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE) / n)
         |      * (CAST(q_$b AS DOUBLE) - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE) / n)), 6) AS corr
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (
       |  SELECT COUNT(*) AS n,
       |    $sums,
       |    $sqs,
       |    $crosses
       |  FROM lineitem)
       |$rows
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** MARKET-BASKET ASSOCIATION RULES (support / confidence / lift) at
    * the brand level — the recommender-bootstrap statistic every
    * retail store computes: "baskets with brand A also contain brand
    * B". Scale decisions: (1) items are the BOUNDED dimension attribute
    * (25 brands), not raw part keys — co-occurrence on a key with
    * basket-level frequency ~1 is noise, and the distinct
    * (basket, item) projection caps the per-basket pair fan-out at
    * item-vocabulary width, not line count; (2) pairing is a
    * basket-keyed self-join of that deduped projection — per-basket
    * quadratic in its ≤|items| distinct brands, NEVER a corpus×corpus
    * join; (3) the rollup feeds three consumers (basket count, item
    * supports, pair counts), so it persists once. All three rule
    * metrics are exact-integer micros (the [[graft.ext.TextQueries]]
    * qualityClassifier tie discipline); the lift numerator
    * n_baskets·n_ab·2e6 stays < 2⁶³ through ~sf1 — past that, widen to
    * decimal(38,0)/HUGEINT. Support floor 1% of baskets keeps the
    * output scale-invariant.
    */
  def marketBasket(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables(spark, dir, "part").select("p_partkey", "p_brand")
    // Repartition on basket FIRST: HashPartitioning(basket) satisfies
    // the distinct's (basket, item) clustering, so the dedup runs as a
    // single post-shuffle aggregate (no separate partial/final tower
    // over its own (basket, item) exchange). NOTE the self-join sides
    // still plan ENSURE_REQUIREMENTS exchanges over the cache: a lazy
    // cached AdaptiveSparkPlan reports Unknown partitioning
    // (plans/r16/market_basket_after.txt exchanges 15/20), and
    // force-materializing the cache first so the join goes
    // exchange-free re-measured SLOWER (2.64 → 4.60 s min-of-3: the
    // blocking build + cache-wide sorts cost more than the two
    // post-dedup exchanges save at this scale) — the exchanges stay.
    val ob = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      .repartition(col("basket"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = ob.agg(countDistinct(col("basket")).as("n_baskets"))
    val supp = ob.groupBy("item").agg(count(lit(1)).as("s"))
    val b = ob.select(col("basket"), col("item").as("item_b"))
    val pairs = ob.join(b, Seq("basket"))
      .filter(col("item") < col("item_b"))
      .groupBy(col("item").as("ia"), col("item_b").as("ib"))
      .agg(count(lit(1)).as("n_ab"))
    val rules = pairs.select(explode(array(
        struct(col("ia").as("antecedent"), col("ib").as("consequent"), col("n_ab")),
        struct(col("ib").as("antecedent"), col("ia").as("consequent"), col("n_ab"))))
        .as("r"))
      .select(col("r.antecedent"), col("r.consequent"), col("r.n_ab"))
    rules
      .join(broadcast(supp.select(col("item").as("antecedent"), col("s").as("supp_a"))),
        Seq("antecedent"))
      .join(broadcast(supp.select(col("item").as("consequent"), col("s").as("supp_b"))),
        Seq("consequent"))
      .crossJoin(broadcast(n))
      .filter(col("n_ab") * 100 >= col("n_baskets"))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        expr("(2 * n_ab * 1000000 + n_baskets) div (2 * n_baskets) / 1e6")
          .as("support"),
        expr("(2 * n_ab * 1000000 + supp_a) div (2 * supp_a) / 1e6")
          .as("confidence"),
        expr("""(2 * n_baskets * n_ab * 1000000 + supp_a * supp_b)
                div (2 * supp_a * supp_b) / 1e6""").as("lift"))
      .orderBy("antecedent", "consequent")
  }

  val marketBasketSql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |n AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM ob),
      |supp AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS s FROM ob GROUP BY item),
      |pr AS (
      |  SELECT a.item AS ia, b.item AS ib, CAST(COUNT(*) AS BIGINT) AS n_ab
      |  FROM ob a JOIN ob b ON a.basket = b.basket AND a.item < b.item
      |  GROUP BY 1, 2),
      |rules AS (
      |  SELECT ia AS antecedent, ib AS consequent, n_ab FROM pr
      |  UNION ALL
      |  SELECT ib AS antecedent, ia AS consequent, n_ab FROM pr)
      |SELECT r.antecedent, r.consequent, r.n_ab,
      |  (2 * r.n_ab * 1000000 + n.n_baskets) // (2 * n.n_baskets) / 1e6
      |    AS support,
      |  (2 * r.n_ab * 1000000 + sa.s) // (2 * sa.s) / 1e6 AS confidence,
      |  (2 * n.n_baskets * r.n_ab * 1000000 + sa.s * sb.s)
      |    // (2 * sa.s * sb.s) / 1e6 AS lift
      |FROM rules r
      |JOIN supp sa ON sa.item = r.antecedent
      |JOIN supp sb ON sb.item = r.consequent
      |CROSS JOIN n
      |WHERE r.n_ab * 100 >= n.n_baskets
      |ORDER BY antecedent, consequent""".stripMargin

  /** Benford first-digit probabilities log₁₀(1+1/d), d = 1..9, as 6dp
    * integer micros — computed ONCE here and inlined as literals into
    * BOTH engines' plans (the [[graft.ext.EventQueries]] EwmaW
    * discipline). They sum to exactly 10⁶. */
  private val BenfordMicros: Seq[Long] =
    (1 to 9).map(d => math.round(math.log10(1.0 + 1.0 / d) * 1e6))

  /** BENFORD FIRST-DIGIT AUDIT over order totals — the
    * forensic-accounting / synthetic-data smoke test: natural
    * multi-scale amounts follow P(d) = log₁₀(1+1/d); a uniform price
    * generator (or fabricated ledger) deviates loudly. Reports, per
    * digit, observed count, Benford-expected count, and the χ² term —
    * per-digit rows rather than one χ² scalar so the output is
    * deterministic (a 9-term double sum would depend on aggregation
    * order). First digit via string-of-decimal(18,4) (both engines
    * render plain digits at scale 4; amounts ≥ 1 so no leading "0."),
    * never via log10 of a double (binary log at power-of-10 boundaries
    * can misbucket). One orders scan to a ≤9-row rollup (persisted —
    * it feeds the total AND the join); everything downstream is
    * digit-bounded. Expected counts are exact BIGINT micros; the only
    * floats are the final per-row division (diff² / expected), exact
    * inputs < 2⁵³, rounded 6dp.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val obs = Tables(spark, dir, "orders")
      .select(substring(dec(col("o_totalprice")).cast("string"), 1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("observed"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = obs.agg(sum("observed").as("n"))
    val dig = n.select(col("n"), explode(array(
      BenfordMicros.zipWithIndex.map { case (p, i) =>
        struct(lit((i + 1).toString).as("digit"), lit(p).as("p_micros"))
      }: _*)).as("d"))
      .select(col("n"), col("d.digit"), col("d.p_micros"))
    dig.join(obs, Seq("digit"), "left")
      .select(col("digit"),
        coalesce(col("observed"), lit(0L)).as("observed"),
        (col("n") * col("p_micros")).as("exp_micros"))
      .withColumn("diffd",
        (col("observed") * 1000000L - col("exp_micros")).cast("double"))
      .select(col("digit"), col("observed"),
        (col("exp_micros").cast("double") / 1e6).as("expected"),
        round(col("diffd") * col("diffd")
          / (col("exp_micros").cast("double") * 1e6), 6).as("chi2_term"))
      .orderBy("digit")
  }

  val benfordAuditSql: String = {
    val vals = BenfordMicros.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, ${p})" }.mkString(", ")
    s"""WITH obs AS (
      |  SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR),
      |      1, 1) AS digit,
      |    CAST(COUNT(*) AS BIGINT) AS observed
      |  FROM orders GROUP BY 1),
      |n AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM obs),
      |dig AS (SELECT CAST(d AS VARCHAR) AS digit, CAST(p AS BIGINT) AS p_micros
      |  FROM (VALUES $vals) AS t(d, p)),
      |j AS (
      |  SELECT dig.digit, COALESCE(obs.observed, 0) AS observed,
      |    n.n * dig.p_micros AS exp_micros
      |  FROM dig LEFT JOIN obs ON obs.digit = dig.digit CROSS JOIN n),
      |k AS (
      |  SELECT digit, observed, exp_micros,
      |    CAST(observed * 1000000 - exp_micros AS DOUBLE) AS diffd
      |  FROM j)
      |SELECT digit, CAST(observed AS BIGINT) AS observed,
      |  CAST(exp_micros AS DOUBLE) / 1e6 AS expected,
      |  ROUND(diffd * diffd / (CAST(exp_micros AS DOUBLE) * 1e6), 6)
      |    AS chi2_term
      |FROM k
      |ORDER BY digit""".stripMargin
  }

  /** PARETO / ABC ANALYSIS of revenue concentration across parts — the
    * inventory-management classic: rank parts by revenue, class A =
    * the head covering ≤80% of cumulative revenue, B to 95%, C the
    * tail; report each class's size, revenue, and share. Class
    * boundaries are CROSS-MULTIPLIED decimal compares (cum·20 ≤
    * tot·16, cum·20 ≤ tot·19), never ratios — exact in both engines at
    * any magnitude. The cumulative revenue is a TWO-PHASE DISTRIBUTED
    * prefix sum ([[graft.ext.DistRank.globalCumSum]]): parts scale
    * with the corpus (~billions at 100 TB), so the old single-task
    * `Window.orderBy(desc(rev))` form was the last named
    * corpus-proportional global sort in the registry — now each range
    * partition sums locally and only a P-row offsets frame crosses
    * partitions (decimal sums are order-free, so the split is exact).
    * Shares come out as integer micros over exact cents
    * (floor(·100) — identical truncation both engines); the micros
    * numerator rides DECIMAL(38)/HUGEINT — 2·cents·10⁶ clears 2⁶³ at
    * ~10¹³ total cents, which the sf1 rehearsal hit (the BIGINT form
    * overflowed at exactly the magnitude the original note predicted).
    */
  def paretoAbc(spark: SparkSession, dir: String): DataFrame = {
    val byPart = Tables(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("rev"))
    graft.ext.DistRank.globalCumSum(byPart, "rev", "cum", "tot",
        Seq(desc("rev"), asc("l_partkey")))
      .withColumn("abc_class",
        when(col("cum") * 20 <= col("tot") * 16, "A")
          .when(col("cum") * 20 <= col("tot") * 19, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum("rev").as("class_rev"),
        max("tot").as("tot"))
      .select(col("abc_class"), col("n_parts"),
        col("class_rev").cast("double").as("revenue"),
        expr("""(2 * cast(floor(class_rev * 100) AS decimal(38,0)) * 1000000
                  + cast(floor(tot * 100) AS decimal(38,0)))
                div (2 * cast(floor(tot * 100) AS decimal(38,0))) / 1e6""")
          .as("share"))
      .orderBy("abc_class")
  }

  val paretoAbcSql: String =
    """WITH byp AS (
      |  SELECT l_partkey,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |      AS rev
      |  FROM lineitem GROUP BY l_partkey),
      |ranked AS (
      |  SELECT l_partkey, rev,
      |    SUM(rev) OVER (ORDER BY rev DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(rev) OVER () AS tot
      |  FROM byp),
      |classed AS (
      |  SELECT CASE WHEN cum * 20 <= tot * 16 THEN 'A'
      |              WHEN cum * 20 <= tot * 19 THEN 'B'
      |              ELSE 'C' END AS abc_class,
      |    rev, tot
      |  FROM ranked)
      |SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(SUM(rev) AS DOUBLE) AS revenue,
      |  (2 * CAST(FLOOR(SUM(rev) * 100) AS HUGEINT) * 1000000
      |     + CAST(FLOOR(MAX(tot) * 100) AS HUGEINT))
      |    // (2 * CAST(FLOOR(MAX(tot) * 100) AS HUGEINT)) / 1e6 AS share
      |FROM classed
      |GROUP BY abc_class
      |ORDER BY abc_class""".stripMargin

  /** HERFINDAHL–HIRSCHMAN CONCENTRATION INDEX of supplier revenue per
    * nation — the supply-risk audit (a nation whose parts flow through
    * one dominant supplier is a single point of failure; HHI > 0.25 is
    * the regulator's red line). One fact scan to the supplier-level
    * rollup; nation enrichment broadcasts. Each supplier's share is
    * integer-micros over exact cents FIRST (the [[paretoAbc]] floor
    * discipline), then HHI = Σ share² runs entirely in BIGINT
    * (micros² ≤ 10¹² per supplier, exact in doubles after the final
    * /10¹²) — no order-dependent float sum anywhere.
    */
  def supplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val bySup = Tables(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("rev"))
    val sup = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val nat = Tables(spark, dir, "nation").select("n_nationkey", "n_name")
    bySup
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .withColumn("rev_cents", floor(col("rev") * 100).cast("long"))
      .withColumn("nat_cents",
        sum("rev_cents").over(Window.partitionBy("n_name")))
      .withColumn("share_micros", expr(
        "(2 * rev_cents * 1000000 + nat_cents) div (2 * nat_cents)"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_suppliers"),
        (sum(col("share_micros") * col("share_micros")) / 1e12).as("hhi"))
      .orderBy("nation")
  }

  val supplierHhiSql: String =
    """WITH bys AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |      AS rev
      |  FROM lineitem GROUP BY l_suppkey),
      |j AS (
      |  SELECT n.n_name AS nation,
      |    CAST(FLOOR(rev * 100) AS BIGINT) AS rev_cents
      |  FROM bys
      |  JOIN supplier s ON s.s_suppkey = bys.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey),
      |sh AS (
      |  SELECT nation,
      |    (2 * rev_cents * 1000000 + SUM(rev_cents) OVER (PARTITION BY nation))
      |      // (2 * SUM(rev_cents) OVER (PARTITION BY nation)) AS share_micros
      |  FROM j)
      |SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |  CAST(SUM(share_micros * share_micros) AS BIGINT) / 1e12 AS hhi
      |FROM sh
      |GROUP BY nation
      |ORDER BY nation""".stripMargin

  /** SAME-DAY DUPLICATE-TRANSACTION AUDIT — customers placing more
    * than one order on one day, with the repeated-identical-amount
    * signal (`n_distinct_prices < n_orders` is the double-charge /
    * replayed-submission pattern every payments pipeline screens for).
    * One keyed aggregate on (customer, day) — the candidate key — with
    * a HAVING filter; never a self-join of the fact table on a fuzzy
    * time predicate.
    */
  def sameDayOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(dec(col("o_totalprice"))).as("n_distinct_prices"),
        sum(dec(col("o_totalprice"))).cast("double").as("day_total"))
      .filter(col("n_orders") > 1)
      .orderBy("o_custkey", "o_orderdate")
  }

  val sameDayOrdersSql: String =
    """SELECT o_custkey, o_orderdate,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(COUNT(DISTINCT CAST(o_totalprice AS DECIMAL(18,4))) AS BIGINT)
      |    AS n_distinct_prices,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS day_total
      |FROM orders
      |GROUP BY o_custkey, o_orderdate
      |HAVING COUNT(*) > 1
      |ORDER BY o_custkey, o_orderdate""".stripMargin

  /** KAPLAN–MEIER SURVIVAL of the inter-order gap — "how long until a
    * customer orders again", with customers who never reorder (or whose
    * last order is simply near the end of the observation window)
    * handled as RIGHT-CENSORED instead of discarded: the estimator the
    * naive mean-gap report silently biases low without. Gap = days to
    * the customer's next order (event); last order per customer =
    * days to the dataset's max order date (censored). The risk table is
    * keyed by DISTINCT GAP LENGTH in days — bounded by the calendar
    * span at ANY corpus size — so the corpus-scale work is ONE
    * (duration, event) histogram aggregate and everything after (risk
    * counts, the product-limit fold) runs on calendar-bounded rows.
    *
    * Cross-engine float contract: the product Π(1 − dᵢ/nᵢ) runs in LOG
    * space as a cumulative INTEGER sum of `floor(ln((n−d)/n)·10⁶)`
    * terms (ln-at-6dp, the drift_psi/BM25 discipline; d=0 rows
    * contribute exactly 0), then one final exp + round — so the only
    * order-sensitive float accumulation is eliminated. A d=n terminal
    * event (everyone at risk dies) pins the sentinel −2·10⁷ micros
    * (exp → 2·10⁻⁹, rounds to survival 0 at 6dp) rather than ln(0).
    */
  def survivalKm(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"),
        col("o_orderkey"))
    val dmax = orders.agg(max(col("od")).as("dmax"))
    val w = Window.partitionBy("o_custkey").orderBy(col("od"), col("o_orderkey"))
    val durs = orders
      .withColumn("nxt", lead(col("od"), 1).over(w))
      .crossJoin(broadcast(dmax))
      .select(
        when(col("nxt").isNotNull, datediff(col("nxt"), col("od")))
          .otherwise(datediff(col("dmax"), col("od"))).cast("long").as("t"),
        col("nxt").isNotNull.cast("long").as("evt"))
    val hist = durs.groupBy("t")
      .agg(sum("evt").as("d"), count(lit(1)).as("nall"))
    val atRisk = Window.orderBy("t")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val cum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("n_risk", sum("nall").over(atRisk))
      .withColumn("term_micros", expr(
        """CASE WHEN d >= n_risk THEN -20000000
           ELSE CAST(FLOOR(LN(CAST(n_risk - d AS DOUBLE) / n_risk) * 1000000)
                     AS BIGINT) END"""))
      .withColumn("cum_micros", sum("term_micros").over(cum))
      .filter(col("d") > 0)
      .select(col("t").as("gap_days"), col("n_risk"), col("d").as("d_events"),
        round(exp(col("cum_micros") / 1e6), 6).as("survival"))
      .orderBy("gap_days")
  }

  val survivalKmSql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od, o_orderkey
      |  FROM orders),
      |durs AS (
      |  SELECT
      |    CAST(COALESCE(
      |      date_diff('day', od, LEAD(od) OVER (PARTITION BY o_custkey
      |        ORDER BY od, o_orderkey)),
      |      date_diff('day', od, (SELECT MAX(od) FROM o))) AS BIGINT) AS t,
      |    CASE WHEN LEAD(od) OVER (PARTITION BY o_custkey
      |      ORDER BY od, o_orderkey) IS NULL THEN 0 ELSE 1 END AS evt
      |  FROM o),
      |hist AS (
      |  SELECT t, CAST(SUM(evt) AS BIGINT) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS nall
      |  FROM durs GROUP BY t),
      |risk AS (
      |  SELECT t, d,
      |    CAST(SUM(nall) OVER (ORDER BY t
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
      |      AS n_risk
      |  FROM hist),
      |terms AS (
      |  SELECT t, d, n_risk,
      |    CASE WHEN d >= n_risk THEN -20000000
      |    ELSE CAST(FLOOR(LN(CAST(n_risk - d AS DOUBLE) / n_risk) * 1000000)
      |              AS BIGINT) END AS term_micros
      |  FROM risk),
      |km AS (
      |  SELECT t, d, n_risk,
      |    CAST(SUM(term_micros) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_micros
      |  FROM terms)
      |SELECT t AS gap_days, n_risk, d AS d_events,
      |  ROUND(EXP(cum_micros / 1e6), 6) AS survival
      |FROM km
      |WHERE d > 0
      |ORDER BY gap_days""".stripMargin

  /** GINI COEFFICIENT of customer revenue per nation — the Lorenz-curve
    * inequality audit next to [[supplierHhi]]'s top-heaviness index:
    * HHI asks "is one player dominant", Gini asks "how unequal is the
    * whole distribution". Uses the exact rank identity
    * G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over revenues sorted ascending
    * (custkey tiebreak), computed ENTIRELY in exact arithmetic:
    * revenues as BIGINT cents, the rank-weighted sum as DECIMAL(38,0)
    * (i·x reaches ~10¹⁹ at sf100 — past BIGINT, nowhere near 38
    * digits), the final ratio by the half-up integer-micros idiom
    * (numerator ≥ 0 by the sort). The corpus-scale stage is the
    * per-customer rollup; the rank window is partitioned by nation
    * (range-partition the rank at 100 TB).
    */
  def giniNation(spark: SparkSession, dir: String): DataFrame = {
    val byCust = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("o_totalprice"))).as("rev"))
      .withColumn("cents", floor(col("rev") * 100).cast("long"))
    val cust = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val nat = Tables(spark, dir, "nation").select("n_nationkey", "n_name")
    val ranked = byCust
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .withColumn("i", row_number().over(
        Window.partitionBy("n_name").orderBy(col("cents"), col("o_custkey"))))
    ranked
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents").cast("decimal(38,0)")).as("sx"),
        sum((col("i").cast("decimal(38,0)")) * col("cents")).as("six"))
      .select(col("nation"), col("n_customers"),
        col("sx").cast("double").as("total_cents"),
        expr("""(2 * (2 * six - (n_customers + 1) * sx) * 1000000
                  + n_customers * sx)
                div (2 * n_customers * sx) / 1e6""").as("gini"))
      .orderBy("nation")
  }

  val giniNationSql: String =
    """WITH byc AS (
      |  SELECT o_custkey,
      |    CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100)
      |         AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT n.n_name AS nation, cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY n.n_name
      |      ORDER BY cents, o_custkey) AS BIGINT) AS i
      |  FROM byc
      |  JOIN customer c ON c.c_custkey = byc.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey),
      |agg AS (
      |  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_customers,
      |    CAST(SUM(cents) AS HUGEINT) AS sx,
      |    CAST(SUM(i * cents) AS HUGEINT) AS six
      |  FROM ranked GROUP BY nation)
      |SELECT nation, n_customers,
      |  CAST(sx AS DOUBLE) AS total_cents,
      |  CAST((2 * (2 * six - (n_customers + 1) * sx) * 1000000
      |          + n_customers * sx)
      |        // (2 * n_customers * sx) AS BIGINT) / 1e6 AS gini
      |FROM agg
      |ORDER BY nation""".stripMargin

  /** RECIPROCAL BEST MATCH over the part↔supplier revenue bipartite —
    * the greedy core of entity-pairing problems (each part's top
    * supplier AND that supplier's top part must agree): the pairs a
    * sourcing team can consolidate without contention, and the
    * one-round deterministic kernel of stable-matching. One fact
    * rollup to (part, supplier) revenue cents, then an argmax window
    * on EACH side (full key tiebreaks) and the pairs where both ranks
    * are 1. Revenue in exact BIGINT cents.
    *
    * Scale: the rollup is one fact shuffle; each side's argmax is a
    * MAP-SIDE-COMBINED `max(struct(cents, -key))` aggregate (the
    * [[modeAgg]] single-pass discipline — ties break exactly like the
    * oracle's `ORDER BY cents DESC, key` windows), so only partial
    * aggregates move, never a re-sorted copy of the rollup; the
    * reciprocal condition is then an equality join of the two
    * key-bounded argmax tables (a first form ranked with two
    * row_number windows — two full exchanges + sorts of the rollup for
    * the same pairs).
    */
  def reciprocalBest(spark: SparkSession, dir: String): DataFrame = {
    val ps = Tables(spark, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("rev"))
      .withColumn("cents", floor(col("rev") * 100).cast("long"))
      // feeds both argmax sides: persisted so the fact rollup is ONE
      // scan by construction (runtime exchange reuse would dedupe the
      // identical shuffle anyway, but the cache makes it a plan-level
      // guarantee PlanAuditSpec can pin)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bestSupp = ps.groupBy("l_partkey")
      .agg(max(struct(col("cents"), (-col("l_suppkey")).as("ns"))).as("m"))
      .select(col("l_partkey"), (-col("m.ns")).as("l_suppkey"),
        col("m.cents").as("cents"))
    val bestPart = ps.groupBy("l_suppkey")
      .agg(max(struct(col("cents"), (-col("l_partkey")).as("np"))).as("m"))
      .select(col("l_suppkey"), (-col("m.np")).as("l_partkey"))
    bestSupp.join(bestPart, Seq("l_partkey", "l_suppkey"))
      .select(col("l_partkey").as("partkey"),
        col("l_suppkey").as("suppkey"),
        (col("cents") / 100.0).as("pair_revenue"))
      .orderBy("partkey")
  }

  val reciprocalBestSql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount)
      |      AS DECIMAL(18,4))) * 100) AS BIGINT) AS cents
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |ranked AS (
      |  SELECT l_partkey, l_suppkey, cents,
      |    ROW_NUMBER() OVER (PARTITION BY l_partkey
      |      ORDER BY cents DESC, l_suppkey) AS rp,
      |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
      |      ORDER BY cents DESC, l_partkey) AS rs
      |  FROM ps)
      |SELECT l_partkey AS partkey, l_suppkey AS suppkey,
      |  cents / 100.0 AS pair_revenue
      |FROM ranked
      |WHERE rp = 1 AND rs = 1
      |ORDER BY partkey""".stripMargin

  /** GROUPED OLS — DISCOUNT ELASTICITY of demand per brand: the
    * closed-form least-squares slope of quantity on discount points,
    * fit independently for every p_brand in ONE aggregate pass (the
    * million-models-in-one-groupBy shape — no per-group solver, no
    * iteration). The global-trend sibling of [[graft.ext.EventQueries
    * .eventsTheilsen]]'s robust estimator. x = discount in integer
    * points (lossless: TPC-H discounts are 2dp), y = integer quantity,
    * the five moment sums are DECIMAL(38,0)-exact, and the slope
    * closes with the signed half-up micros idiom on the cross-product
    * ratio (m·Σxy − Σx·Σy)/(m·Σxx − (Σx)²) — zero floats anywhere.
    * Degenerate groups (all rows at one discount) report NULL.
    */
  def discountElasticity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_partkey"),
        expr("CAST(ROUND(l_discount * 100, 0) AS DECIMAL(38,0))").as("x"),
        expr("CAST(ROUND(l_quantity, 0) AS DECIMAL(38,0))").as("y"))
    val part = Tables(spark, dir, "part").select("p_partkey", "p_brand")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("brand"), col("m").cast("long").as("n"),
        expr("""CASE WHEN m * sxx - sx * sx = 0 THEN NULL
                ELSE CASE WHEN (m * sxy - sx * sy) >= 0
                  THEN (2 * (m * sxy - sx * sy) * 1000000
                          + (m * sxx - sx * sx))
                       div (2 * (m * sxx - sx * sx))
                  ELSE -((2 * -(m * sxy - sx * sy) * 1000000
                          + (m * sxx - sx * sx))
                       div (2 * (m * sxx - sx * sx))) END / 1e6
                END""").as("qty_per_discount_pt"))
      .orderBy("brand")
  }

  val discountElasticitySql: String =
    """WITH li AS (
      |  SELECT l_partkey,
      |    CAST(ROUND(l_discount * 100, 0) AS HUGEINT) AS x,
      |    CAST(ROUND(l_quantity, 0) AS HUGEINT) AS y
      |  FROM lineitem),
      |agg AS (
      |  SELECT p.p_brand AS brand,
      |    CAST(COUNT(*) AS HUGEINT) AS m,
      |    SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM li JOIN part p ON p.p_partkey = li.l_partkey
      |  GROUP BY 1)
      |SELECT brand, CAST(m AS BIGINT) AS n,
      |  CASE WHEN m * sxx - sx * sx = 0 THEN NULL
      |  ELSE CAST(CASE WHEN (m * sxy - sx * sy) >= 0
      |    THEN (2 * (m * sxy - sx * sy) * 1000000
      |            + (m * sxx - sx * sx))
      |         // (2 * (m * sxx - sx * sx))
      |    ELSE -((2 * -(m * sxy - sx * sy) * 1000000
      |            + (m * sxx - sx * sx))
      |         // (2 * (m * sxx - sx * sx))) END AS BIGINT) / 1e6
      |  END AS qty_per_discount_pt
      |FROM agg
      |ORDER BY brand""".stripMargin

  /** BLOOM-PREFILTERED JOIN — the sideways-information-passing
    * optimization for selective joins whose build side is too big to
    * broadcast as a hash table but whose KEY SET fits a sketch: the
    * high-balance customer keys collapse to a distributed-built Bloom
    * filter (`stat.bloomFilter`'s treeAggregate), the fact table is
    * prefiltered by the broadcast codegen
    * [[graft.functions.BloomMightContain]] BEFORE its shuffle — at 1%
    * fpp that is ~99% of non-matching fact rows never exchanged — and
    * the exact join then removes the false positives. The ORACLE IS
    * THE PLAIN JOIN: a hash match proves the optimization is invisible
    * in the result (the skew_salted_join discipline). Revenue per
    * nation of high-balance customers' orders.
    */
  def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val vip = Tables(spark, dir, "customer")
      .filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_nationkey"))
    val n = math.max(vip.count(), 1L) // bounded driver scalar
    val bf = vip.stat.bloomFilter("c_custkey", n, 0.01)
    val orders = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
      .filter(graft.functions.BloomMightContain
        .might_contain(spark, bf, col("o_custkey")))
    val nat = Tables(spark, dir, "nation").select("n_nationkey", "n_name")
    orders
      .join(vip, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy("nation")
  }

  val bloomJoinSql: String =
    """SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders o
      |JOIN customer c ON c.c_custkey = o.o_custkey AND c.c_acctbal > 9000
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** NET REVENUE RETENTION by month — the subscription-economy health
    * metric read over the order stream: of month m−1's customers, how
    * much did they spend in month m, as a fraction of m−1's total
    * (NRR > 1 = expansion), with the month's NEW-customer revenue
    * split out. One (customer, month) rollup — persisted, it is both
    * sides of the month-shift self-join AND the monthly base totals —
    * then calendar-bounded joins and one aggregate per month. BIGINT
    * cents, half-up micros ratio.
    */
  def revenueRetention(spark: SparkSession, dir: String): DataFrame = {
    val mc = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"),
        to_date(date_trunc("month", col("o_orderdate"))).as("mo"))
      .agg(floor(sum(dec(col("o_totalprice"))) * 100).cast("long").as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prev = mc.select(col("o_custkey"),
      add_months(col("mo"), 1).as("mo"), col("cents").as("prev_cents"))
    val base = prev.groupBy("mo").agg(sum("prev_cents").as("base_cents"))
    mc.join(prev.select(col("o_custkey"), col("mo"), lit(1L).as("was_active")),
        Seq("o_custkey", "mo"), "left")
      .groupBy("mo")
      .agg(sum(when(col("was_active") === 1, col("cents"))).as("retained_c"),
        sum(when(col("was_active").isNull, col("cents"))).as("new_c"))
      .join(base, Seq("mo"))
      .select(col("mo").as("month"),
        (col("base_cents") / 100.0).as("prev_month_revenue"),
        (coalesce(col("retained_c"), lit(0L)) / 100.0).as("retained_revenue"),
        (coalesce(col("new_c"), lit(0L)) / 100.0).as("new_revenue"),
        expr("""(2 * coalesce(retained_c, 0L) * 1000000 + base_cents)
                div (2 * base_cents) / 1e6""").as("nrr"))
      .orderBy("month")
  }

  val revenueRetentionSql: String =
    """WITH mc AS (
      |  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
      |    CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100)
      |         AS BIGINT) AS cents
      |  FROM orders GROUP BY 1, 2),
      |prev AS (
      |  SELECT o_custkey, mo + INTERVAL 1 MONTH AS ts_mo, cents AS prev_cents
      |  FROM mc),
      |prevd AS (
      |  SELECT o_custkey, CAST(ts_mo AS DATE) AS mo, prev_cents FROM prev),
      |base AS (
      |  SELECT mo, CAST(SUM(prev_cents) AS BIGINT) AS base_cents
      |  FROM prevd GROUP BY mo),
      |flagged AS (
      |  SELECT mc.mo, mc.cents, p.prev_cents IS NOT NULL AS was_active
      |  FROM mc LEFT JOIN prevd p
      |    ON p.o_custkey = mc.o_custkey AND p.mo = mc.mo),
      |agg AS (
      |  SELECT mo,
      |    CAST(SUM(CASE WHEN was_active THEN cents END) AS BIGINT)
      |      AS retained_c,
      |    CAST(SUM(CASE WHEN NOT was_active THEN cents END) AS BIGINT)
      |      AS new_c
      |  FROM flagged GROUP BY mo)
      |SELECT agg.mo AS month,
      |  base_cents / 100.0 AS prev_month_revenue,
      |  COALESCE(retained_c, 0) / 100.0 AS retained_revenue,
      |  COALESCE(new_c, 0) / 100.0 AS new_revenue,
      |  (2 * COALESCE(retained_c, 0) * 1000000 + base_cents)
      |    // (2 * base_cents) / 1e6 AS nrr
      |FROM agg JOIN base ON base.mo = agg.mo
      |ORDER BY month""".stripMargin

  /** SIMPSON'S PARADOX DETECTOR — does the aggregate trend between
    * customer account balance and order size survive stratification by
    * nation, or is it an artifact of the mix? The audit every
    * observational readout needs before anyone acts on a correlation:
    * the same exact-integer OLS moments as [[discountElasticity]],
    * computed once per stratum AND once overall (broadcast scalar),
    * with the disagreement = sign(stratum slope) ≠ sign(overall
    * slope). Slope signs come from the cross-product numerator — no
    * division, no float, no tie ambiguity.
    */
  def simpsonCheck(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "orders")
      .join(broadcast(Tables(spark, dir, "customer")
        .select("c_custkey", "c_acctbal", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(spark, dir, "nation")
        .select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        expr("CAST(ROUND(c_acctbal * 100, 0) AS DECIMAL(38,0))").as("x"),
        expr("CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(38,0))").as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perNation = base.groupBy("nation")
      .agg(count(lit(1)).cast("decimal(38,0)").as("m"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("num", expr("m * sxy - sx * sy"))
    val overall = base
      .agg(count(lit(1)).cast("decimal(38,0)").as("mo"),
        sum("x").as("sxo"), sum("y").as("syo"),
        sum(col("x") * col("y")).as("sxyo"))
      .select(expr("mo * sxyo - sxo * syo").as("num_overall"))
    perNation.crossJoin(broadcast(overall))
      .select(col("nation"), col("m").cast("long").as("n"),
        signum(col("num").cast("double")).cast("long").as("slope_sign"),
        signum(col("num_overall").cast("double")).cast("long")
          .as("overall_sign"))
      .withColumn("disagrees", col("slope_sign") =!= col("overall_sign"))
      .orderBy("nation")
  }

  val simpsonCheckSql: String =
    """WITH base AS (
      |  SELECT n.n_name AS nation,
      |    CAST(ROUND(c.c_acctbal * 100, 0) AS HUGEINT) AS x,
      |    CAST(ROUND(o.o_totalprice * 100, 0) AS HUGEINT) AS y
      |  FROM orders o
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey),
      |per AS (
      |  SELECT nation, CAST(COUNT(*) AS HUGEINT) AS m,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy
      |  FROM base GROUP BY 1),
      |o AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) * SUM(x * y)
      |    - SUM(x) * SUM(y) AS num_overall
      |  FROM base)
      |SELECT nation, CAST(m AS BIGINT) AS n,
      |  CAST(SIGN(CAST(m * sxy - sx * sy AS DOUBLE)) AS BIGINT)
      |    AS slope_sign,
      |  CAST(SIGN(CAST(num_overall AS DOUBLE)) AS BIGINT) AS overall_sign,
      |  CAST(SIGN(CAST(m * sxy - sx * sy AS DOUBLE)) AS BIGINT)
      |    <> CAST(SIGN(CAST(num_overall AS DOUBLE)) AS BIGINT) AS disagrees
      |FROM per CROSS JOIN o
      |ORDER BY nation""".stripMargin

  /** CROSS-TABLE FINANCIAL RECONCILIATION — does each order's header
    * total equal the sum of its lines' `extendedprice·(1−disc)·(1+tax)`?
    * The audit [[graft.queries.CoreQueries]] `dq_checks` can't express
    * (its expectations are single-table): per-status counts of exact
    * matches, ≤1-cent rounding drift, and real mismatches, with the
    * total and max absolute drift. One line-level rollup joined to the
    * header — full outer would also catch headerless lines, but
    * orphans are `fk_orphans`' job; this one audits the AMOUNTS.
    * Exact BIGINT cents on both sides.
    */
  def orderReconcile(spark: SparkSession, dir: String): DataFrame = {
    // every factor is a 2dp amount: quantize EACH to its integer grid
    // first, so the line value pc·(100−dk)·(100+tk) is an exact BIGINT
    // in 10⁻⁶-dollar units — a decimal cast of the 3-factor double
    // product ties at the 4th decimal and the engines round ties
    // differently (caught by the sf0.01 gate)
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), expr(
        """CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))
           * (100 + CAST(ROUND(l_tax * 100, 0) AS BIGINT))""").as("lm"))
      .groupBy(col("l_orderkey"))
      .agg(sum("lm").as("li_micros"))
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) * 10000")
          .as("o_micros"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .withColumn("delta", col("o_micros") - col("li_micros"))
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("delta") === 0, 1L).otherwise(0L)).as("n_exact"),
        sum(when(abs(col("delta")) <= 10000 && col("delta") =!= 0, 1L)
          .otherwise(0L)).as("n_rounding"),
        sum(when(abs(col("delta")) > 10000, 1L).otherwise(0L))
          .as("n_mismatch"),
        (sum(abs(col("delta"))) / 1e6).as("total_abs_drift"),
        (max(abs(col("delta"))) / 1e6).as("max_abs_drift"))
      .orderBy("status")
  }

  val orderReconcileSql: String =
    """WITH li AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
      |      * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))
      |      * (100 + CAST(ROUND(l_tax * 100, 0) AS BIGINT))) AS BIGINT)
      |      AS li_micros
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o.o_orderstatus AS status,
      |    CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) * 10000
      |      - li_micros AS delta
      |  FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey)
      |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CASE WHEN delta = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_exact,
      |  CAST(SUM(CASE WHEN ABS(delta) <= 10000 AND delta <> 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_rounding,
      |  CAST(SUM(CASE WHEN ABS(delta) > 10000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_mismatch,
      |  CAST(SUM(ABS(delta)) AS BIGINT) / 1e6 AS total_abs_drift,
      |  CAST(MAX(ABS(delta)) AS BIGINT) / 1e6 AS max_abs_drift
      |FROM j
      |GROUP BY status
      |ORDER BY status""".stripMargin

  /** FULFILLMENT LATENCY PERCENTILES — order-date → ship-date lag per
    * order priority as NEAREST-RANK p50/p90/p99 (the
    * [[graft.ext.EventQueries]] forecast_interval order-statistic
    * discipline — no interpolated percentile whose fractional position
    * can drift an ulp between engines). Computed on the BOUNDED
    * day-lag histogram, never a corpus-wide rank: a nearest-rank
    * percentile `min(lat | rk·k ≥ n·m)` is the first lag bucket whose
    * CUMULATIVE count satisfies `cum·k ≥ n·m` (the bucket's max rank
    * IS its cum, so it holds a qualifying rank iff the cum does) —
    * identical to the tie-broken rank form, exactly.
    *
    * Scale: one fact join, one partial-aggregated groupBy to the
    * per-priority lag histogram (lags are calendar-bounded — the grid
    * never grows with the corpus), cumulative windows on that bounded
    * grid, one aggregate back. No few-key corpus-wide sort anywhere.
    */
  def shipLatency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      .join(Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          to_date(col("o_orderdate")).as("od")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("priority"),
        datediff(col("sd"), col("od")).cast("long").as("lat"))
      .agg(count(lit(1)).as("cnt"))
    val byP = Window.partitionBy("priority")
    val cum = byP.orderBy("lat")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum("cnt").over(cum))
      .withColumn("n", sum("cnt").over(byP))
      .groupBy("priority")
      .agg(max("n").as("n_lines"),
        min(when(col("cum") * 2 >= col("n"), col("lat"))).as("p50_days"),
        min(when(col("cum") * 10 >= col("n") * 9, col("lat"))).as("p90_days"),
        min(when(col("cum") * 100 >= col("n") * 99, col("lat"))).as("p99_days"))
      .orderBy("priority")
  }

  val shipLatencySql: String =
    """WITH lat AS (
      |  SELECT o.o_orderpriority AS priority,
      |    CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
      |      CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lat,
      |    l.l_orderkey, l.l_linenumber
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |ranked AS (
      |  SELECT priority, lat,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY priority
      |      ORDER BY lat, l_orderkey, l_linenumber) AS BIGINT) AS rk,
      |    CAST(COUNT(*) OVER (PARTITION BY priority) AS BIGINT) AS n
      |  FROM lat)
      |SELECT priority, CAST(MAX(n) AS BIGINT) AS n_lines,
      |  CAST(MIN(CASE WHEN rk * 2 >= n THEN lat END) AS BIGINT) AS p50_days,
      |  CAST(MIN(CASE WHEN rk * 10 >= n * 9 THEN lat END) AS BIGINT)
      |    AS p90_days,
      |  CAST(MIN(CASE WHEN rk * 100 >= n * 99 THEN lat END) AS BIGINT)
      |    AS p99_days
      |FROM ranked
      |GROUP BY priority
      |ORDER BY priority""".stripMargin

  /** REVENUE WATERFALL — the month-over-month bridge every finance
    * review opens with, decomposing ΔMRR into its four named parts:
    * NEW (customers absent last month), EXPANSION (returning customers
    * spending more), CONTRACTION (returning, spending less), CHURNED
    * (last month's customers gone this month). The identity
    * `this_month = last_month + new + expansion − contraction −
    * churned` holds EXACTLY in BIGINT cents — the waterfall is a
    * partition of the delta, not an approximation (pinned in
    * RoundOpsInvariantSpec). Full-outer month-shift self-join of the
    * one persisted (customer, month) rollup, the
    * [[revenueRetention]] artifact read a second way.
    */
  def revenueWaterfall(spark: SparkSession, dir: String): DataFrame = {
    val mc = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"),
        to_date(date_trunc("month", col("o_orderdate"))).as("mo"))
      .agg(floor(sum(dec(col("o_totalprice"))) * 100).cast("long").as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prev = mc.select(col("o_custkey"),
      add_months(col("mo"), 1).as("mo"), col("cents").as("prev_cents"))
    mc.join(prev, Seq("o_custkey", "mo"), "full_outer")
      .groupBy("mo")
      .agg(
        sum(when(col("prev_cents").isNull, col("cents"))).as("new_c"),
        sum(when(col("cents").isNotNull && col("prev_cents").isNotNull
          && col("cents") > col("prev_cents"),
          col("cents") - col("prev_cents"))).as("expansion_c"),
        sum(when(col("cents").isNotNull && col("prev_cents").isNotNull
          && col("cents") < col("prev_cents"),
          col("prev_cents") - col("cents"))).as("contraction_c"),
        sum(when(col("cents").isNull, col("prev_cents"))).as("churned_c"),
        sum(coalesce(col("cents"), lit(0L))).as("cur_c"),
        sum(coalesce(col("prev_cents"), lit(0L))).as("prev_c"))
      .select(col("mo").as("month"),
        (col("prev_c") / 100.0).as("prev_revenue"),
        (coalesce(col("new_c"), lit(0L)) / 100.0).as("new_revenue"),
        (coalesce(col("expansion_c"), lit(0L)) / 100.0).as("expansion"),
        (coalesce(col("contraction_c"), lit(0L)) / 100.0).as("contraction"),
        (coalesce(col("churned_c"), lit(0L)) / 100.0).as("churned"),
        (col("cur_c") / 100.0).as("revenue"))
      .orderBy("month")
  }

  val revenueWaterfallSql: String =
    """WITH mc AS (
      |  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
      |    CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100)
      |         AS BIGINT) AS cents
      |  FROM orders GROUP BY 1, 2),
      |prev AS (
      |  SELECT o_custkey, CAST(mo + INTERVAL 1 MONTH AS DATE) AS mo,
      |    cents AS prev_cents
      |  FROM mc),
      |j AS (
      |  SELECT COALESCE(mc.o_custkey, p.o_custkey) AS o_custkey,
      |    COALESCE(mc.mo, p.mo) AS mo, mc.cents, p.prev_cents
      |  FROM mc FULL OUTER JOIN prev p
      |    ON p.o_custkey = mc.o_custkey AND p.mo = mc.mo)
      |SELECT mo AS month,
      |  CAST(SUM(COALESCE(prev_cents, 0)) AS BIGINT) / 100.0
      |    AS prev_revenue,
      |  CAST(COALESCE(SUM(CASE WHEN prev_cents IS NULL THEN cents END), 0)
      |       AS BIGINT) / 100.0 AS new_revenue,
      |  CAST(COALESCE(SUM(CASE WHEN cents IS NOT NULL
      |    AND prev_cents IS NOT NULL AND cents > prev_cents
      |    THEN cents - prev_cents END), 0) AS BIGINT) / 100.0 AS expansion,
      |  CAST(COALESCE(SUM(CASE WHEN cents IS NOT NULL
      |    AND prev_cents IS NOT NULL AND cents < prev_cents
      |    THEN prev_cents - cents END), 0) AS BIGINT) / 100.0
      |    AS contraction,
      |  CAST(COALESCE(SUM(CASE WHEN cents IS NULL THEN prev_cents END), 0)
      |       AS BIGINT) / 100.0 AS churned,
      |  CAST(SUM(COALESCE(cents, 0)) AS BIGINT) / 100.0 AS revenue
      |FROM j
      |GROUP BY mo
      |ORDER BY month""".stripMargin

  /** PRICE–VOLUME VARIANCE DECOMPOSITION per brand — the FP&A bridge
    * explaining WHY revenue moved between the first and second half of
    * the date span (the [[graft.ext.CurationQueries]] drift_psi split):
    * price effect = q₂·(p₂−p₁), volume effect = p₁·(q₂−q₁), and by
    * construction price + volume = ΔRev exactly up to the two half-up
    * micro roundings (each effect carries one rational p = rev/qty,
    * computed by the signed integer-micros idiom — never a float
    * average price). Brands absent from either half are excluded (no
    * p to compare); `new_dropped` flags them upstream via the fact
    * that Σ brand deltas ≠ total delta.
    */
  def mixVariance(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_partkey"), to_date(col("l_shipdate")).as("d"),
        expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").as("q"),
        expr("""CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))""")
          .as("rev_u"))
    val part = Tables(spark, dir, "part").select("p_partkey", "p_brand")
    val bounds = li.agg(min("d").as("mind"), max("d").as("maxd"))
    val halves = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .crossJoin(broadcast(bounds))
      .withColumn("h1",
        datediff(col("d"), col("mind")) * 2 < datediff(col("maxd"), col("mind")))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(when(col("h1"), col("q"))).as("q1"),
        sum(when(col("h1"), col("rev_u")).cast("decimal(38,0)")).as("r1"),
        sum(when(!col("h1"), col("q"))).as("q2"),
        sum(when(!col("h1"), col("rev_u")).cast("decimal(38,0)")).as("r2"))
      .filter(col("q1").isNotNull && col("q2").isNotNull &&
        col("q1") > 0 && col("q2") > 0)
    // effects stay in rev_u units (10⁻⁴ $): q·r products ride DECIMAL(38)
    // and the one rational p = rev/qty closes with the half-up idiom —
    // a ·10⁶ micros inflation here would push the LONG result past 2⁶³
    // at sf100, so the unit IS the precision
    def halfDiv(p: String, q: String) =
      s"""CASE WHEN $p >= 0 THEN (2 * ($p) + $q) div (2 * ($q))
         |ELSE -((2 * -($p) + $q) div (2 * ($q))) END""".stripMargin
    halves
      .withColumn("price_eff_u", expr(
        s"cast(r2 AS long) - ${halfDiv("q2 * r1", "q1")}"))
      .withColumn("vol_eff_u", expr(halfDiv("(q2 - q1) * r1", "q1")))
      .select(col("brand"), col("q1"), col("q2"),
        (col("r1").cast("double") / 1e4).as("rev_h1"),
        (col("r2").cast("double") / 1e4).as("rev_h2"),
        ((col("r2") - col("r1")).cast("double") / 1e4).as("delta"),
        (col("price_eff_u") / 1e4).as("price_effect"),
        (col("vol_eff_u") / 1e4).as("volume_effect"))
      .orderBy("brand")
  }

  val mixVarianceSql: String = {
    def halfDiv(p: String, q: String) =
      s"""CASE WHEN $p >= 0 THEN (2 * ($p) + $q) // (2 * ($q))
         |ELSE -((2 * -($p) + $q) // (2 * ($q))) END""".stripMargin
    s"""WITH li AS (
      |  SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
      |    CAST(ROUND(l_quantity, 0) AS BIGINT) AS q,
      |    CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
      |      * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS rev_u
      |  FROM lineitem),
      |b AS (SELECT MIN(d) AS mind, MAX(d) AS maxd FROM li),
      |halves AS (
      |  SELECT p.p_brand AS brand,
      |    CAST(SUM(CASE WHEN date_diff('day', mind, d) * 2
      |      < date_diff('day', mind, maxd) THEN q END) AS BIGINT) AS q1,
      |    CAST(SUM(CASE WHEN date_diff('day', mind, d) * 2
      |      < date_diff('day', mind, maxd) THEN rev_u END) AS HUGEINT) AS r1,
      |    CAST(SUM(CASE WHEN date_diff('day', mind, d) * 2
      |      >= date_diff('day', mind, maxd) THEN q END) AS BIGINT) AS q2,
      |    CAST(SUM(CASE WHEN date_diff('day', mind, d) * 2
      |      >= date_diff('day', mind, maxd) THEN rev_u END) AS HUGEINT) AS r2
      |  FROM li JOIN part p ON p.p_partkey = li.l_partkey
      |  CROSS JOIN b
      |  GROUP BY 1
      |  HAVING q1 IS NOT NULL AND q2 IS NOT NULL AND q1 > 0 AND q2 > 0)
      |SELECT brand, q1, q2,
      |  CAST(r1 AS DOUBLE) / 1e4 AS rev_h1,
      |  CAST(r2 AS DOUBLE) / 1e4 AS rev_h2,
      |  CAST(r2 - r1 AS DOUBLE) / 1e4 AS delta,
      |  CAST(CAST(r2 AS BIGINT) - ${halfDiv("q2 * r1", "q1")} AS BIGINT)
      |    / 1e4 AS price_effect,
      |  CAST(${halfDiv("(q2 - q1) * r1", "q1")} AS BIGINT) / 1e4
      |    AS volume_effect
      |FROM halves
      |ORDER BY brand""".stripMargin
  }

  /** DISTRIBUTION WINDOW FUNCTIONS — the four ANSI ranking/distribution
    * windows the rest of the registry never needed (`ntile`,
    * `percent_rank`, `cume_dist`, `nth_value`), exercised together
    * over the fully tie-broken (value-cents, event_id) order and
    * collapsed to a per-(type, decile) profile. The float-safety rule
    * for the two RATIO windows: their p/q doubles are correctly-rounded
    * identical in both engines, so COMPARISONS against constants are
    * deterministic — but they are never emitted raw (round(p/q, 6)
    * ties are the documented cross-engine trap); the output carries
    * only integer counts derived from them.
    */
  def windowDist(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
      .orderBy(col("cents"), col("event_id"))
    val full = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("cents"))
      .withColumn("decile", ntile(10).over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("nv100", nth_value(col("event_id"), 100).over(full))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"),
        (min("cents") / 100.0).as("lo"),
        (max("cents") / 100.0).as("hi"),
        sum(when(col("cd") <= 0.5, 1L).otherwise(0L)).as("n_below_median"),
        sum(when(col("pr") < 0.1, 1L).otherwise(0L)).as("n_bottom_decile_pr"),
        max("nv100").as("id_100th"))
      .orderBy("event_type", "decile")
  }

  val windowDistSql: String =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL),
      |wd AS (
      |  SELECT event_type, cents,
      |    NTILE(10) OVER tw AS decile,
      |    PERCENT_RANK() OVER tw AS pr,
      |    CUME_DIST() OVER tw AS cd,
      |    NTH_VALUE(event_id, 100) OVER (PARTITION BY event_type
      |      ORDER BY cents, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |      AS nv100
      |  FROM ev
      |  WINDOW tw AS (PARTITION BY event_type ORDER BY cents, event_id))
      |SELECT event_type, CAST(decile AS INT) AS decile,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(cents) / 100.0 AS lo,
      |  MAX(cents) / 100.0 AS hi,
      |  CAST(SUM(CASE WHEN cd <= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_below_median,
      |  CAST(SUM(CASE WHEN pr < 0.1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bottom_decile_pr,
      |  CAST(MAX(nv100) AS BIGINT) AS id_100th
      |FROM wd
      |GROUP BY event_type, decile
      |ORDER BY event_type, decile""".stripMargin

  /** RETURN RATES with WILSON 95% INTERVALS per brand — the proportion
    * estimate done right: at small n the naive p̂ ± z·SE interval dips
    * below zero and over-trusts tiny brands, Wilson's score interval
    * (1927) stays in [0,1] and is the recommended default (Brown,
    * Cai & DasGupta 2001). Numerically: r and n are exact integers,
    * z² = 3.8416 enters as the exact literal 38416/10⁴, both engines
    * evaluate the IDENTICAL expression tree over correctly-rounded
    * doubles (sqrt is IEEE-exact), and only the final 6dp round is a
    * display choice — the assortativity discipline. One fact+dim
    * aggregate.
    */
  def returnRates(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_partkey"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
    val part = Tables(spark, dir, "part").select("p_partkey", "p_brand")
    def wilson(sign: String) =
      s"""round((p + 19208.0 / 10000 / n
         |  $sign 1.96 * sqrt((p * (1 - p) + 9604.0 / 10000 / n) / n))
         |  / (1 + 38416.0 / 10000 / n), 6)""".stripMargin
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n"), sum("r").as("n_returned"))
      .withColumn("p", col("n_returned").cast("double") / col("n"))
      .select(col("brand"), col("n"), col("n_returned"),
        expr("round(p, 6)").as("return_rate"),
        expr(wilson("-")).as("wilson_lo"),
        expr(wilson("+")).as("wilson_hi"))
      .orderBy("brand")
  }

  val returnRatesSql: String = {
    def wilson(sign: String) =
      s"""ROUND((p + 19208.0 / 10000 / n
         |  $sign 1.96 * SQRT((p * (1 - p) + 9604.0 / 10000 / n) / n))
         |  / (1 + 38416.0 / 10000 / n), 6)""".stripMargin
    s"""WITH agg AS (
      |  SELECT p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_returned
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1),
      |wp AS (
      |  SELECT *, CAST(n_returned AS DOUBLE) / n AS p FROM agg)
      |SELECT brand, n, n_returned,
      |  ROUND(p, 6) AS return_rate,
      |  ${wilson("-")} AS wilson_lo,
      |  ${wilson("+")} AS wilson_hi
      |FROM wp
      |ORDER BY brand""".stripMargin
  }

  /** MAXIMUM DRAWDOWN of the daily revenue series — the
    * worst-peak-to-trough finance metric read over the order stream:
    * per day, revenue, the running peak so far, the drawdown (peak −
    * today, exact cents), and the flag marking the day the WORST
    * drawdown bottomed out. Two cumulative windows on the
    * calendar-bounded daily rollup; cents all the way, the display
    * division last.
    */
  def revenueDrawdown(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(floor(sum(dec(col("o_totalprice"))) * 100).cast("long").as("cents"))
    val runPeak = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    daily
      .withColumn("peak", max("cents").over(runPeak))
      .withColumn("dd", col("peak") - col("cents"))
      .withColumn("maxdd", max("dd").over(all))
      .select(col("d").as("day"),
        (col("cents") / 100.0).as("revenue"),
        (col("peak") / 100.0).as("running_peak"),
        (col("dd") / 100.0).as("drawdown"),
        (col("dd") === col("maxdd") && col("maxdd") > 0).as("is_max_drawdown"))
      .orderBy("day")
  }

  val revenueDrawdownSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100)
      |         AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |dd AS (
      |  SELECT d, cents,
      |    CAST(MAX(cents) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS peak
      |  FROM daily),
      |m AS (
      |  SELECT *, peak - cents AS drawdown,
      |    MAX(peak - cents) OVER () AS maxdd
      |  FROM dd)
      |SELECT d AS day, cents / 100.0 AS revenue,
      |  peak / 100.0 AS running_peak,
      |  drawdown / 100.0 AS drawdown,
      |  drawdown = maxdd AND maxdd > 0 AS is_max_drawdown
      |FROM m
      |ORDER BY day""".stripMargin

  /** CUSUM CHANGEPOINT on the daily revenue series — WHERE did the
    * level shift (Page 1954's cumulative-sum statistic, the classic
    * single-changepoint locator next to [[revenueDrawdown]]'s
    * peak-to-trough geometry): S_i = Σ_{j≤i}(x_j − x̄), the changepoint
    * is the day maximizing |S_i|, and the report carries the exact
    * mean level before and after the split. DIVISION-FREE exactness:
    * instead of subtracting the fractional mean, every deviation is
    * scaled by the day count — S'_i = Σ_{j≤i}(x_j·D − T) = D·S_i with
    * T = Σx — so the argmax runs on exact integers (DECIMAL(38) /
    * HUGEINT: cents·D·days clears 2⁶³ between sf1 and sf10, the
    * pareto_abc overflow lesson applied BEFORE the rehearsal finds
    * it); the two means come out as the half-up integer-micros idiom
    * at the very end. Ties on |S'| break to the EARLIEST day.
    *
    * Scale: one corpus aggregate to the calendar-bounded daily
    * rollup; the cumulative windows order `d` on that rollup —
    * the PlanAuditSpec §global-windows calendar class.
    */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(floor(sum(dec(col("o_totalprice"))) * 100).cast("long").as("cents"))
    val cum = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val scored = daily
      .withColumn("dn", count(lit(1)).over(all))
      .withColumn("tot", sum(expr("CAST(cents AS DECIMAL(38,0))")).over(all))
      .withColumn("cumc", sum(expr("CAST(cents AS DECIMAL(38,0))")).over(cum))
      .withColumn("i", row_number().over(Window.orderBy("d")).cast("long"))
      .withColumn("s", col("cumc") * col("dn") - col("tot") * col("i"))
    scored
      // global argmax as TakeOrdered (never a rank window/total sort)
      .orderBy(abs(col("s")).desc, col("d")).limit(1)
      .select(col("d").as("changepoint_day"), col("i").as("day_index"),
        col("dn").as("n_days"),
        // |S| in plain (unscaled-by-D) cents, floor division — display
        expr("CAST(abs(s) div dn AS BIGINT)").as("abs_cusum_cents"),
        expr("""(2 * cumc * 1000000 + i) div (2 * i) / 1e6""")
          .as("mean_before_cents"),
        expr("""CASE WHEN dn = i THEN CAST(NULL AS DOUBLE)
                ELSE (2 * (tot - cumc) * 1000000 + (dn - i))
                       div (2 * (dn - i)) / 1e6 END""")
          .as("mean_after_cents"))
  }

  val cusumChangepointSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100)
      |         AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |sc AS (
      |  SELECT d,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS dn,
      |    CAST(SUM(CAST(cents AS HUGEINT)) OVER () AS HUGEINT) AS tot,
      |    CAST(SUM(CAST(cents AS HUGEINT)) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
      |      AS cumc,
      |    CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i
      |  FROM daily),
      |s2 AS (
      |  SELECT *, cumc * dn - tot * i AS s FROM sc),
      |top AS (
      |  SELECT * FROM s2 ORDER BY abs(s) DESC, d LIMIT 1)
      |SELECT d AS changepoint_day, i AS day_index, dn AS n_days,
      |  CAST(abs(s) // dn AS BIGINT) AS abs_cusum_cents,
      |  CAST((2 * cumc * 1000000 + i) // (2 * i) AS BIGINT) / 1e6
      |    AS mean_before_cents,
      |  CASE WHEN dn = i THEN CAST(NULL AS DOUBLE)
      |  ELSE CAST((2 * (tot - cumc) * 1000000 + (dn - i))
      |            // (2 * (dn - i)) AS BIGINT) / 1e6 END
      |    AS mean_after_cents
      |FROM top""".stripMargin

  /** SKYLINE (Pareto frontier) over supplier performance — the classic
    * maximal-vector operator (Börzsönyi, Kossmann & Stocker, ICDE
    * 2001): which suppliers are NOT dominated on (revenue ↑,
    * return-rate ↓) — no other supplier has at-least-the-revenue AND
    * at-most-the-return-rate with one strict. The textbook form is an
    * O(n²) dominance self-join; the scale-safe exact form is the
    * SORT-SWEEP: a point survives iff (a) it has the best rate within
    * its own revenue tie-group and (b) its rate is strictly below the
    * minimum rate of every HIGHER-revenue point — an exclusive prefix
    * minimum in revenue-descending order. That prefix min runs on
    * [[graft.ext.DistRank.globalCumMinExcl]]'s two-phase
    * range-partitioned sweep, so no task ever sorts more than ~1/P of
    * the supplier table whatever the corpus size. Metrics are exact:
    * revenue in floored cents, return rate in `div` ppm.
    */
  def skylineSuppliers(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the supplier aggregate feeds BOTH the tie-group rollup
    // (via the DistRank sweep) and the final survivor join — without
    // the cache the corpus scan+aggregation runs once per consumer
    val sup = Tables(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(floor(sum(dec(col("l_extendedprice") *
          (lit(1.0) - col("l_discount")))) * 100).cast("long")
          .as("rev_cents"),
        count(lit(1)).as("n_items"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_ret"))
      .withColumn("rate_ppm", expr("n_ret * 1000000 div n_items"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sup.count()
    val grp = sup.groupBy("rev_cents").agg(min("rate_ppm").as("grp_min"))
    val swept = graft.ext.DistRank.globalCumMinExcl(
      grp, "grp_min", "pref_min", Seq(col("rev_cents").desc))
    sup.join(swept, Seq("rev_cents"))
      .filter(col("rate_ppm") === col("grp_min") &&
        (col("pref_min").isNull || col("rate_ppm") < col("pref_min")))
      .select(col("l_suppkey").as("suppkey"),
        (col("rev_cents") / 100.0).as("revenue"),
        (col("rate_ppm") / 1e6).as("return_rate"))
      .orderBy(desc("revenue"), asc("suppkey"))
  }

  val skylineSuppliersSql: String =
    """WITH sup AS (
      |  SELECT l_suppkey,
      |    CAST(FLOOR(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(18,4))) * 100) AS BIGINT) AS rev_cents,
      |    COUNT(*) AS n_items,
      |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_ret
      |  FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT l_suppkey, rev_cents,
      |    n_ret * 1000000 // n_items AS rate_ppm
      |  FROM sup),
      |g AS (SELECT rev_cents, MIN(rate_ppm) AS grp_min FROM r GROUP BY 1),
      |sw AS (
      |  SELECT rev_cents, grp_min,
      |    MIN(grp_min) OVER (ORDER BY rev_cents DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pref_min
      |  FROM g)
      |SELECT l_suppkey AS suppkey, rev_cents / 100.0 AS revenue,
      |  rate_ppm / 1e6 AS return_rate
      |FROM r JOIN sw USING (rev_cents)
      |WHERE rate_ppm = grp_min AND (pref_min IS NULL OR rate_ppm < pref_min)
      |ORDER BY revenue DESC, suppkey""".stripMargin

  /** CRAMÉR'S V — association strength between the CUSTOMER segment
    * and the ORDER priority, the cross-table categorical-correlation
    * readout ([[priorityMixShift]] tests a shift over time within one
    * table; this measures segment↔priority dependence through the
    * o_custkey join). χ² carried in the exact-micros `div` discipline:
    * expected-count micros e6 = r·c·10⁶ div n (≤ n·10⁶, inside
    * DECIMAL(38) at any survey scale), per-cell contribution
    * (O·10⁶ − e6)² div e6 — every truncation defined identically in
    * both engines; only the final √ for V is IEEE double, rounded.
    *
    * Scale: one co-partitioned shuffle join on the customer key (both
    * sides corpus-sized — never broadcast), then one aggregation to
    * the bounded segment × priority grid (≤ 25 cells); margins and
    * totals are grid-side rollups of the persisted cells.
    */
  def cramersV(spark: SparkSession, dir: String): DataFrame = {
    val joined = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderpriority"))
      .join(Tables(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    val cells = joined
      .groupBy("c_mktsegment", "o_orderpriority")
      .agg(count(lit(1)).cast("decimal(38,0)").as("o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cells.count()
    val rows = cells.groupBy("c_mktsegment")
      .agg(sum("o").as("r"))
    val colsM = cells.groupBy("o_orderpriority")
      .agg(sum("o").as("c"))
    val tot = cells.agg(sum("o").as("nn"),
      countDistinct("c_mktsegment").as("nr"),
      countDistinct("o_orderpriority").as("nc"))
    // COMPLETE the grid from the margins: an empty observed cell still
    // contributes (0−E)²/E — groupBy alone would silently drop it and
    // understate χ² (a 1:1-associated 2×2 table would score V=1/√2)
    rows.crossJoin(broadcast(colsM))
      .join(cells, Seq("c_mktsegment", "o_orderpriority"), "left")
      .withColumn("o", coalesce(col("o"), lit(0).cast("decimal(38,0)")))
      .crossJoin(broadcast(tot))
      // greatest(…,1): a margin pair below 1e-6 of n truncates to an
      // expected-micros of 0; clamp so the div stays defined (identical
      // clamp in the oracle)
      .withColumn("e6", expr("greatest(r * c * 1000000 div nn, 1)"))
      .withColumn("cell_micros",
        expr("""(o * 1000000 - e6) * (o * 1000000 - e6) div e6"""))
      .groupBy(col("nn"), col("nr"), col("nc"))
      .agg(sum("cell_micros").as("chi2_micros"))
      .select(col("nn").cast("long").as("n_pairs"),
        (col("chi2_micros") / 1e6).as("chi2"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        round(sqrt(col("chi2_micros").cast("double") / 1e6 /
          (col("nn").cast("double") *
           least(col("nr") - 1, col("nc") - 1).cast("double"))), 6)
          .as("cramers_v"))
  }

  val cramersVSql: String =
    """WITH j AS (
      |  SELECT c_mktsegment, o_orderpriority
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |cells AS (
      |  SELECT c_mktsegment, o_orderpriority,
      |    CAST(COUNT(*) AS HUGEINT) AS o
      |  FROM j GROUP BY 1, 2),
      |r AS (SELECT c_mktsegment, SUM(o) AS r FROM cells GROUP BY 1),
      |c AS (SELECT o_orderpriority, SUM(o) AS c FROM cells GROUP BY 1),
      |tot AS (
      |  SELECT SUM(o) AS nn,
      |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS nr,
      |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nc
      |  FROM cells),
      |grid AS (
      |  SELECT r.c_mktsegment, c.o_orderpriority, r.r, c.c,
      |    COALESCE(cells.o, 0) AS o
      |  FROM r CROSS JOIN c
      |  LEFT JOIN cells USING (c_mktsegment, o_orderpriority)),
      |terms AS (
      |  SELECT nn, nr, nc,
      |    (o * 1000000 - GREATEST(r * c * 1000000 // nn, 1))
      |      * (o * 1000000 - GREATEST(r * c * 1000000 // nn, 1))
      |      // GREATEST(r * c * 1000000 // nn, 1) AS cell_micros
      |  FROM grid
      |  CROSS JOIN tot)
      |SELECT CAST(nn AS BIGINT) AS n_pairs,
      |  CAST(SUM(cell_micros) AS BIGINT) / 1e6 AS chi2,
      |  (nr - 1) * (nc - 1) AS dof,
      |  ROUND(SQRT(CAST(SUM(cell_micros) AS BIGINT) / 1e6 /
      |    (CAST(nn AS DOUBLE) *
      |     CAST(LEAST(nr - 1, nc - 1) AS DOUBLE))), 6) AS cramers_v
      |FROM terms
      |GROUP BY nn, nr, nc""".stripMargin

  /** MANN–WHITNEY U rank-sum test — do fulfilled ('F') and open ('O')
    * orders draw from the same order-value distribution? The
    * nonparametric two-sample sibling of [[graft.ext.EventQueries]]'s
    * weekday ANOVA: no normality assumed, the statistic counts
    * cross-group value wins. Computed WITHOUT ranks or an n² pair
    * join: group the corpus by exact cents value, then U_F =
    * Σ_v n_F(v)·(#O strictly below v) + ½·n_F(v)·n_O(v) — the
    * "#O below" prefix sum runs on
    * [[graft.ext.DistRank.globalCumSum]]'s two-phase range-partitioned
    * sweep. 2U is carried exactly on DECIMAL(38) (the ½-tie term
    * stays integral); the z-score (normal approximation WITH the tie
    * correction Σ(t³−t)) and the rank-biserial effect size are the
    * only doubles, rounded, with a zero-variance guard identical in
    * both engines.
    */
  def mannwhitneyU(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables(spark, dir, "orders")
      .filter(col("o_orderstatus").isin("F", "O"))
      .select(floor(dec(col("o_totalprice")) * 100).cast("long")
        .as("cents"), col("o_orderstatus").as("st"))
      .groupBy("cents")
      .agg(sum(when(col("st") === "F", 1L).otherwise(0L))
          .cast("decimal(38,0)").as("na"),
        sum(when(col("st") === "O", 1L).otherwise(0L))
          .cast("decimal(38,0)").as("nb"))
    val swept = graft.ext.DistRank.globalCumSum(
      vals, "nb", "cumb", "totb", Seq(col("cents")))
    swept
      .agg(sum("na").as("n1"), sum("nb").as("n2"),
        // 2·U_F: per value, na·(2·(#B strictly below) + ties)
        sum(expr("na * (2 * cumb - nb)")).as("u2"),
        // tie correction Σ(t³ − t) over the pooled per-value counts
        sum(expr("(na + nb) * (na + nb) * (na + nb) - (na + nb)"))
          .as("ties"))
      .select(col("n1").cast("long").as("n1"),
        col("n2").cast("long").as("n2"),
        (col("u2").cast("double") / 2).as("u"),
        expr("""CASE WHEN n1 > 0 AND n2 > 0 AND (n1 + n2) > 1 AND
                  CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12
                    * (CAST(n1 + n2 + 1 AS DOUBLE)
                       - CAST(ties AS DOUBLE)
                         / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))) > 0
                THEN ROUND(
                  (CAST(u2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                  / (2 * SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12
                    * (CAST(n1 + n2 + 1 AS DOUBLE)
                       - CAST(ties AS DOUBLE)
                         / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))), 6)
                END""").as("z"),
        expr("""ROUND(CAST(u2 AS DOUBLE)
                / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) - 1, 6)""")
          .as("rank_biserial"))
  }

  val mannwhitneyUSql: String =
    """WITH vals AS (
      |  SELECT CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,4)) * 100)
      |      AS BIGINT) AS cents,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS na,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS nb
      |  FROM orders WHERE o_orderstatus IN ('F', 'O')
      |  GROUP BY 1),
      |sw AS (
      |  SELECT *, SUM(nb) OVER (ORDER BY cents
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      |  FROM vals),
      |agg AS (
      |  SELECT SUM(na) AS n1, SUM(nb) AS n2,
      |    SUM(na * (2 * cumb - nb)) AS u2,
      |    SUM((na + nb) * (na + nb) * (na + nb) - (na + nb)) AS ties
      |  FROM sw)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(u2 AS DOUBLE) / 2 AS u,
      |  CASE WHEN n1 > 0 AND n2 > 0 AND (n1 + n2) > 1 AND
      |    CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12
      |      * (CAST(n1 + n2 + 1 AS DOUBLE)
      |         - CAST(ties AS DOUBLE)
      |           / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))) > 0
      |  THEN ROUND(
      |    (CAST(u2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
      |    / (2 * SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12
      |      * (CAST(n1 + n2 + 1 AS DOUBLE)
      |         - CAST(ties AS DOUBLE)
      |           / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))), 6)
      |  END AS z,
      |  ROUND(CAST(u2 AS DOUBLE)
      |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) - 1, 6)
      |    AS rank_biserial
      |FROM agg""".stripMargin

  /** THEIL INEQUALITY DECOMPOSITION of customer revenue by nation —
    * the DECOMPOSABLE inequality index beside [[giniNation]]'s
    * per-nation Gini: Theil's T splits exactly into within-nation
    * inequality plus a between-nation term, which is the analytics
    * question Gini cannot answer ("is revenue concentration a
    * within-market or an across-market phenomenon"). Per nation g:
    * T_g = Σᵢ xᵢ·ln(xᵢ·n_g/X_g) / X_g and the between contribution
    * (X_g/X)·ln((X_g/X)/(n_g/n)). Carried in the floor-6dp ln-micros
    * idiom over exact integer cents — both engines evaluate the same
    * ln inputs and truncations, so the readout hashes exactly.
    *
    * Scale: one corpus aggregation to per-customer spend, one
    * co-partitioned join to nation, a 25-row nation rollup broadcast
    * back for the group-dependent ln terms, then a second bounded
    * rollup — the spend projection is persisted so the corpus is
    * scanned once.
    */
  def theilDecomp(spark: SparkSession, dir: String): DataFrame = {
    def lnm(e: String) =
      s"CAST(FLOOR(LN(CAST($e AS DOUBLE)) * 1000000) AS BIGINT)"
    val cust = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(floor(sum(dec(col("o_totalprice"))) * 100)
        .cast("decimal(38,0)").as("x"))
      .join(Tables(spark, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        Seq("o_custkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cust.count()
    val nat = cust.groupBy("c_nationkey")
      .agg(sum("x").as("xg"), count(lit(1)).cast("decimal(38,0)").as("ng"))
    val tot = nat.agg(sum("xg").as("xx"), sum("ng").as("nn"))
    cust
      .join(broadcast(nat), Seq("c_nationkey"))
      .withColumn("term",
        expr(s"x * (${lnm("x * ng")} - ${lnm("xg")})"))
      .groupBy(col("c_nationkey"), col("xg"), col("ng"))
      .agg(sum("term").as("sg"))
      .crossJoin(broadcast(tot))
      .select(col("c_nationkey"),
        col("ng").cast("long").as("n_cust"),
        (expr("xg * 1000000 div xx") / 1e6).as("revenue_share"),
        (expr("sg div xg") / 1e6).as("t_within"),
        (expr(s"xg * (${lnm("xg * nn")} - ${lnm("xx * ng")}) div xx")
          / 1e6).as("between_contrib"))
      .orderBy("c_nationkey")
  }

  val theilDecompSql: String =
    """WITH cust AS (
      |  SELECT o.o_custkey,
      |    CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100)
      |      AS HUGEINT) AS x,
      |    c.c_nationkey
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY o.o_custkey, c.c_nationkey),
      |nat AS (
      |  SELECT c_nationkey, SUM(x) AS xg, CAST(COUNT(*) AS HUGEINT) AS ng
      |  FROM cust GROUP BY 1),
      |tot AS (SELECT SUM(xg) AS xx, SUM(ng) AS nn FROM nat),
      |terms AS (
      |  SELECT cust.c_nationkey, nat.xg, nat.ng,
      |    SUM(x * (CAST(FLOOR(LN(CAST(x * ng AS DOUBLE)) * 1000000)
      |               AS BIGINT)
      |             - CAST(FLOOR(LN(CAST(xg AS DOUBLE)) * 1000000)
      |               AS BIGINT))) AS sg
      |  FROM cust JOIN nat USING (c_nationkey)
      |  GROUP BY 1, 2, 3)
      |SELECT c_nationkey, CAST(ng AS BIGINT) AS n_cust,
      |  CAST(xg * 1000000 // xx AS BIGINT) / 1e6 AS revenue_share,
      |  CAST(sg // xg AS BIGINT) / 1e6 AS t_within,
      |  CAST(xg * (CAST(FLOOR(LN(CAST(xg * nn AS DOUBLE)) * 1000000)
      |               AS BIGINT)
      |             - CAST(FLOOR(LN(CAST(xx * ng AS DOUBLE)) * 1000000)
      |               AS BIGINT)) // xx AS BIGINT) / 1e6
      |    AS between_contrib
      |FROM terms CROSS JOIN tot
      |ORDER BY c_nationkey""".stripMargin

  /** OPEN-ORDER AGING — the unfulfilled backlog bucketed by how long
    * each open order ('O' status) has been waiting, measured against
    * the dataset's max order date (the "as of" instant a live system
    * takes from the clock): the operational WIP report next to
    * [[shipLatency]]'s completed-work percentiles. Fixed 30/90/365-day
    * buckets as integer datediff comparisons; one conditional
    * aggregate over the filtered fact + the broadcast as-of scalar.
    */
  def openOrderAging(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val asOf = orders.agg(max(to_date(col("o_orderdate"))).as("asof"))
    orders
      .filter(col("o_orderstatus") === "O")
      .select(col("o_orderpriority"),
        to_date(col("o_orderdate")).as("od"),
        dec(col("o_totalprice")).as("v"))
      .crossJoin(broadcast(asOf))
      .withColumn("age", datediff(col("asof"), col("od")).cast("long"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_open"),
        sum(when(col("age") <= 30, 1L).otherwise(0L)).as("n_0_30d"),
        sum(when(col("age") > 30 && col("age") <= 90, 1L).otherwise(0L))
          .as("n_31_90d"),
        sum(when(col("age") > 90 && col("age") <= 365, 1L).otherwise(0L))
          .as("n_91_365d"),
        sum(when(col("age") > 365, 1L).otherwise(0L)).as("n_over_1y"),
        sum(col("v")).cast("double").as("open_value"),
        max("age").as("oldest_days"))
      .orderBy("priority")
  }

  val openOrderAgingSql: String =
    """WITH cutoff AS (
      |  SELECT MAX(CAST(o_orderdate AS DATE)) AS cod FROM orders),
      |o AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(date_diff('day', CAST(o_orderdate AS DATE), cod)
      |         AS BIGINT) AS age,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS v
      |  FROM orders CROSS JOIN cutoff
      |  WHERE o_orderstatus = 'O')
      |SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_open,
      |  CAST(SUM(CASE WHEN age <= 30 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_0_30d,
      |  CAST(SUM(CASE WHEN age > 30 AND age <= 90 THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_31_90d,
      |  CAST(SUM(CASE WHEN age > 90 AND age <= 365 THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_91_365d,
      |  CAST(SUM(CASE WHEN age > 365 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_over_1y,
      |  CAST(SUM(v) AS DOUBLE) AS open_value,
      |  CAST(MAX(age) AS BIGINT) AS oldest_days
      |FROM o
      |GROUP BY priority
      |ORDER BY priority""".stripMargin

  /** χ² HOMOGENEITY — did the ORDER-PRIORITY MIX shift between the
    * first and second half of the date span? The k×2 contingency
    * sibling of [[graft.ext.EventQueries]] ab_srm's 2-cell test and
    * the drift family's distribution checks: per-cell terms
    * (o·n − rt·ct)²/(n·rt·ct) are micros-rounded exact rationals
    * (DECIMAL(38)/HUGEINT numerators — they clear 2⁶³ at sf1), summed
    * order-free as integers, and the α=0.05 decision for df = k−1 = 4
    * compares the micros sum against 9 488 000 (χ²crit 9.488). Output:
    * per-priority half counts + shares and the ride-along verdict.
    */
  def priorityMixShift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderpriority").as("priority"),
        to_date(col("o_orderdate")).as("d"))
    val bounds = o.agg(min("d").as("mind"), max("d").as("maxd"))
    val cells = o.crossJoin(broadcast(bounds))
      .withColumn("h1",
        datediff(col("d"), col("mind")) * 2 < datediff(col("maxd"), col("mind")))
      .groupBy("priority")
      .agg(sum(when(col("h1"), 1L).otherwise(0L)).as("o1"),
        sum(when(!col("h1"), 1L).otherwise(0L)).as("o2"))
    val tot = Window.partitionBy()
    cells
      .withColumn("c1", sum("o1").over(tot))
      .withColumn("c2", sum("o2").over(tot))
      .withColumn("n", col("c1") + col("c2"))
      .withColumn("rt", col("o1") + col("o2"))
      .withColumn("t1", expr(
        """(2 * (cast(o1 AS decimal(38,0)) * n - cast(rt AS decimal(38,0)) * c1)
             * (cast(o1 AS decimal(38,0)) * n - cast(rt AS decimal(38,0)) * c1)
             * 1000000
           + cast(n AS decimal(38,0)) * rt * c1)
          div (2 * cast(n AS decimal(38,0)) * rt * c1)"""))
      .withColumn("t2", expr(
        """(2 * (cast(o2 AS decimal(38,0)) * n - cast(rt AS decimal(38,0)) * c2)
             * (cast(o2 AS decimal(38,0)) * n - cast(rt AS decimal(38,0)) * c2)
             * 1000000
           + cast(n AS decimal(38,0)) * rt * c2)
          div (2 * cast(n AS decimal(38,0)) * rt * c2)"""))
      .withColumn("chi2_micros", sum(col("t1") + col("t2")).over(tot))
      .select(col("priority"), col("o1").as("n_h1"), col("o2").as("n_h2"),
        expr("(2 * o1 * 1000000 + c1) div (2 * c1) / 1e6").as("share_h1"),
        expr("(2 * o2 * 1000000 + c2) div (2 * c2) / 1e6").as("share_h2"),
        (col("chi2_micros") / 1e6).as("chi2"),
        (col("chi2_micros") > 9488000L).as("mix_shift_05"))
      .orderBy("priority")
  }

  val priorityMixShiftSql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(o_orderdate AS DATE) AS d
      |  FROM orders),
      |b AS (SELECT MIN(d) AS mind, MAX(d) AS maxd FROM o),
      |cells AS (
      |  SELECT priority,
      |    CAST(SUM(CASE WHEN date_diff('day', mind, d) * 2
      |      < date_diff('day', mind, maxd) THEN 1 ELSE 0 END) AS BIGINT)
      |      AS o1,
      |    CAST(SUM(CASE WHEN date_diff('day', mind, d) * 2
      |      >= date_diff('day', mind, maxd) THEN 1 ELSE 0 END) AS BIGINT)
      |      AS o2
      |  FROM o CROSS JOIN b
      |  GROUP BY 1),
      |w AS (
      |  SELECT *,
      |    CAST(SUM(o1) OVER () AS HUGEINT) AS c1,
      |    CAST(SUM(o2) OVER () AS HUGEINT) AS c2,
      |    CAST(SUM(o1) OVER () + SUM(o2) OVER () AS HUGEINT) AS n,
      |    CAST(o1 + o2 AS HUGEINT) AS rt
      |  FROM cells),
      |terms AS (
      |  SELECT *,
      |    (2 * (CAST(o1 AS HUGEINT) * n - rt * c1)
      |       * (CAST(o1 AS HUGEINT) * n - rt * c1) * 1000000
      |     + n * rt * c1) // (2 * n * rt * c1) AS t1,
      |    (2 * (CAST(o2 AS HUGEINT) * n - rt * c2)
      |       * (CAST(o2 AS HUGEINT) * n - rt * c2) * 1000000
      |     + n * rt * c2) // (2 * n * rt * c2) AS t2
      |  FROM w),
      |f AS (
      |  SELECT *, CAST(SUM(t1 + t2) OVER () AS BIGINT) AS chi2_micros
      |  FROM terms)
      |SELECT priority, o1 AS n_h1, o2 AS n_h2,
      |  CAST((2 * o1 * 1000000 + c1) // (2 * c1) AS BIGINT) / 1e6
      |    AS share_h1,
      |  CAST((2 * o2 * 1000000 + c2) // (2 * c2) AS BIGINT) / 1e6
      |    AS share_h2,
      |  chi2_micros / 1e6 AS chi2,
      |  chi2_micros > 9488000 AS mix_shift_05
      |FROM f
      |ORDER BY priority""".stripMargin

  val all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "market_basket" -> ((marketBasket _, marketBasketSql)),
    "benford_audit" -> ((benfordAudit _, benfordAuditSql)),
    "pareto_abc" -> ((paretoAbc _, paretoAbcSql)),
    "supplier_hhi" -> ((supplierHhi _, supplierHhiSql)),
    "same_day_orders" -> ((sameDayOrders _, sameDayOrdersSql)),
    "survival_km" -> ((survivalKm _, survivalKmSql)),
    "gini_nation" -> ((giniNation _, giniNationSql)),
    "reciprocal_best" -> ((reciprocalBest _, reciprocalBestSql)),
    "discount_elasticity" -> ((discountElasticity _, discountElasticitySql)),
    "bloom_join" -> ((bloomJoin _, bloomJoinSql)),
    "revenue_retention" -> ((revenueRetention _, revenueRetentionSql)),
    "revenue_waterfall" -> ((revenueWaterfall _, revenueWaterfallSql)),
    "mix_variance" -> ((mixVariance _, mixVarianceSql)),
    "window_dist" -> ((windowDist _, windowDistSql)),
    "return_rates" -> ((returnRates _, returnRatesSql)),
    "revenue_drawdown" -> ((revenueDrawdown _, revenueDrawdownSql)),
    "cusum_changepoint" -> ((cusumChangepoint _, cusumChangepointSql)),
    "skyline_suppliers" -> ((skylineSuppliers _, skylineSuppliersSql)),
    "cramers_v" -> ((cramersV _, cramersVSql)),
    "mannwhitney_u" -> ((mannwhitneyU _, mannwhitneyUSql)),
    "theil_decomp" -> ((theilDecomp _, theilDecompSql)),
    "open_order_aging" -> ((openOrderAging _, openOrderAgingSql)),
    "priority_mix_shift" -> ((priorityMixShift _, priorityMixShiftSql)),
    "simpson_check" -> ((simpsonCheck _, simpsonCheckSql)),
    "order_reconcile" -> ((orderReconcile _, orderReconcileSql)),
    "ship_latency" -> ((shipLatency _, shipLatencySql)),
    "q8_market_share" -> ((q8MarketShare _, q8MarketShareSql)),
    "q14_promo_share" -> ((q14PromoShare _, q14PromoShareSql)),
    "q6_forecast" -> ((q6Forecast _, q6ForecastSql)),
    "q10_returned" -> ((q10Returned _, q10ReturnedSql)),
    "q13_custdist" -> ((q13CustDist _, q13CustDistSql)),
    "q15_top_supplier" -> ((q15TopSupplier _, q15TopSupplierSql)),
    "q9_profit" -> ((q9Profit _, q9ProfitSql)),
    "q12_late_buckets" -> ((q12LateBuckets _, q12LateBucketsSql)),
    "q19_disjunctive" -> ((q19Disjunctive _, q19DisjunctiveSql)),
    "corr_matrix" -> ((corrMatrix _, corrMatrixSql)),
    "mode_agg" -> ((modeAgg _, modeAggSql)),
    "histogram_values" -> ((histogramValues _, histogramValuesSql)),
    "winsorize_values" -> ((winsorizeValues _, winsorizeValuesSql)),
    "join_cardinality" -> ((joinCardinality _, joinCardinalitySql)),
    "pivot_dynamic" -> ((pivotDynamic _, pivotDynamicSql)),
    "window_rank_stats" -> ((windowRankStats _, windowRankStatsSql)),
    "table_profile" -> ((tableProfile _, tableProfileApproxSql)),
    "table_profile_exact" -> ((tableProfileExact _, tableProfileSql)),
    "topk_custom_agg" -> ((topkCustomAgg _, topkCustomAggSql)),
    "grouping_sets" -> ((groupingSetsAgg _, groupingSetsAggSql)),
    "window_nav" -> ((windowNav _, windowNavSql)),
    "rollup_agg" -> ((rollupAgg _, rollupAggSql)),
    "pivot_agg" -> ((pivotAgg _, pivotAggSql)),
    "unpivot_metrics" -> ((unpivotMetrics _, unpivotMetricsSql)),
    "percentiles" -> ((percentiles _, percentilesSql)),
    "percentiles_approx" -> ((percentilesApprox _, percentilesApproxSql)),
    "asof_join" -> ((asofJoin _, asofJoinSql)),
    "cube_agg" -> ((cubeAgg _, cubeAggSql)),
    "stats_agg" -> ((statsAgg _, statsAggSql)),
    "list_agg" -> ((listAgg _, listAggSql)),
    "date_funcs" -> ((dateFuncs _, dateFuncsSql))
  )
}
