package graft.olap

import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckRound6, duckUnits, round4, round6, units}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral / time-series analytics over the star schema and the
  * event stream — the cohort, funnel, and series-completion shapes a
  * warehouse user reaches for right after the core OLAP layer
  * (SURVEY.md §2.6 extension set).
  *
  * Scale: every query here is built from key-partitioned aggregates
  * and joins whose key is the natural entity (customer, user, hour
  * bucket) — no pairwise work, no fact-scale windows. The only
  * single-row inputs are scalar aggregate bounds, which are joined in
  * (never `.head()`-ed) per the lazy-plan rule.
  */
object Analytics {

  // ---------- q_cohort_retention: first-order cohorts × months-since ----------

  /** Classic retention matrix: cohort = month of the customer's first
    * order; for each (cohort month, months since) count the customers
    * who placed an order that far out.
    *
    * Shape: collapse orders to the (customer, month) grain FIRST (the
    * pairwise-collapse rule — 10 orders/customer become ≤80 rows
    * before any join), derive first-month per customer from that same
    * grain, then one equi-join on o_custkey and one hash aggregate.
    * At 100 TB both sides of the join are customer-keyed shuffles;
    * the output is bounded by months² regardless of fact size.
    */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val custMonth = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), date_trunc("month", col("o_orderdate")).as("m"))
      .distinct()
    val firstMonth = custMonth.groupBy("o_custkey")
      .agg(min(col("m")).as("cohort_m"))
    custMonth.join(firstMonth, "o_custkey")
      .groupBy(
        date_format(col("cohort_m"), "yyyy-MM").as("cohort_month"),
        months_between(col("m"), col("cohort_m")).cast("long").as("months_since"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy("cohort_month", "months_since")
  }

  private val sqlCohortRetention =
    """WITH cm AS (SELECT DISTINCT o_custkey,
      |                   date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS m
      |            FROM orders),
      |     f AS (SELECT o_custkey, min(m) AS cohort_m FROM cm GROUP BY 1)
      |SELECT strftime(f.cohort_m, '%Y-%m') AS cohort_month,
      |       date_diff('month', f.cohort_m, cm.m) AS months_since,
      |       count(DISTINCT cm.o_custkey) AS n_customers
      |FROM cm JOIN f USING (o_custkey)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------- q_funnel: ordered view → click → purchase stages ----------

  /** Ordered conversion funnel: users with a view, users whose first
    * post-view click exists, users whose first post-click purchase
    * exists. Each stage is a filtered aggregate joined on user_id to
    * the previous stage's first-timestamp — the ordering constraint
    * (`ts >= prev stage ts`) is what makes it a funnel rather than
    * three independent counts.
    *
    * Shape: three user-keyed hash aggregates chained by user-keyed
    * equi-joins; per-stage state is one timestamp per user. The final
    * three scalar counts are unioned lazily (no driver-side action).
    */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val views = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("v_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .join(views, "user_id").filter(col("ts") >= col("v_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("c_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .join(clicks, "user_id").filter(col("ts") >= col("c_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
    views.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("1_view"))
      .unionByName(clicks.agg(count(lit(1)).as("n_users"))
        .withColumn("stage", lit("2_click_after_view")))
      .unionByName(purchases.agg(count(lit(1)).as("n_users"))
        .withColumn("stage", lit("3_purchase_after_click")))
      .select(col("stage"), col("n_users"))
      .orderBy("stage")
  }

  private val sqlFunnel =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |     v AS (SELECT user_id, min(ts) AS v_ts FROM e WHERE event_type = 'view' GROUP BY 1),
      |     c AS (SELECT e.user_id, min(e.ts) AS c_ts
      |           FROM e JOIN v ON e.user_id = v.user_id AND e.ts >= v.v_ts
      |           WHERE e.event_type = 'click' GROUP BY 1),
      |     p AS (SELECT e.user_id, min(e.ts) AS p_ts
      |           FROM e JOIN c ON e.user_id = c.user_id AND e.ts >= c.c_ts
      |           WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT '1_view' AS stage, count(*) AS n_users FROM v
      |UNION ALL SELECT '2_click_after_view', count(*) FROM c
      |UNION ALL SELECT '3_purchase_after_click', count(*) FROM p
      |ORDER BY stage""".stripMargin

  // ---------- q_gap_fill: dense hourly series with zero-filled gaps ----------

  /** Hourly purchase revenue with missing hours restored as explicit
    * zero rows (time-series completion — ML feature windows and
    * charting both need the dense grid; 47 of 720 hours are empty on
    * this corpus, so the fill is exercised).
    *
    * Shape: the hour spine is `sequence()` over the min/max bounds —
    * a scalar aggregate JOINED in (cross join of one row), never
    * collected. Spine cardinality scales with wall-clock time, not
    * data volume, so the left join's build side stays tiny at any SF.
    */
  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val purchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(date_trunc("hour", col("ts")).as("hr"), col("value"))
    val hourly = purchases.groupBy("hr")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 4).as("sum_value"))
    val spine = purchases
      .agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
      .select(explode(expr("sequence(mn, mx, interval 1 hour)")).as("hr"))
    spine.join(hourly, Seq("hr"), "left")
      .select(
        date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy("hour")
  }

  private val sqlGapFill =
    """WITH p AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, value
      |           FROM events WHERE event_type = 'purchase'),
      |     hourly AS (SELECT hr, count(*) AS n_purchases,
      |                       round(sum(value), 4) AS sum_value
      |                FROM p GROUP BY 1),
      |     b AS (SELECT min(hr) AS mn, max(hr) AS mx FROM p),
      |     spine AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM b)
      |SELECT strftime(spine.hr, '%Y-%m-%d %H:%M:%S') AS hour,
      |       coalesce(n_purchases, 0) AS n_purchases,
      |       coalesce(sum_value, 0.0) AS sum_value
      |FROM spine LEFT JOIN hourly ON spine.hr = hourly.hr
      |ORDER BY 1""".stripMargin

  // ---------- q_salted_agg: skew-salted two-phase aggregate, plain oracle ----------

  /** Oracle-verified twin of [[Skew.saltedSumCount]]: the salted
    * two-phase sum/count must equal the plain one-phase aggregate
    * (salting only re-associates the additions). This promotes the
    * skew operator from spec-only to oracle-gated — the deterministic
    * xxhash64 salt and the partial/final split are both on the line.
    */
  def saltedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
    Skew.saltedSumCount(e, Seq("event_type"), "value", salt = 16)
      .select(col("event_type"),
        round(col("sum_value"), 4).as("sum_value"), col("n"))
      .orderBy("event_type")
  }

  private val sqlSaltedAgg =
    """SELECT event_type, round(sum(value), 4) AS sum_value, count(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_minmax_by: argmin/argmax aggregates ----------

  /** Revenue of each nation's first and last active order month —
    * `min_by`/`max_by` (argmin/argmax) aggregates, the single-pass
    * alternative to a self-join or window for "value at the extreme
    * of another column". Deterministic here because the ordering key
    * (month) is unique within each group after the monthly rollup;
    * with tied keys both engines pick arbitrarily, so never use raw
    * fact rows as min_by input (the monthly pre-aggregate IS the
    * determinism guard, not just a perf one).
    *
    * Shape: broadcast dim joins → one hash aggregate to monthly grain
    * → one argmin/argmax aggregate over dim-cardinality input.
    */
  def minmaxBy(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), date_trunc("month", col("o_orderdate")).as("m"))
      .agg(round(sum(col("o_totalprice")), 4).as("rev"))
    monthly.groupBy("n_name")
      .agg(min_by(col("rev"), col("m")).as("first_month_rev"),
        max_by(col("rev"), col("m")).as("last_month_rev"),
        count(lit(1)).as("n_months"))
      .orderBy("n_name")
  }

  private val sqlMinmaxBy =
    """WITH monthly AS (
      |  SELECT n_name, date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS m,
      |         round(sum(o_totalprice), 4) AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2)
      |SELECT n_name, min_by(rev, m) AS first_month_rev,
      |       max_by(rev, m) AS last_month_rev, count(*) AS n_months
      |FROM monthly GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_percent_rank: relative-standing windows ----------

  /** Nations ranked by total revenue with `percent_rank` and
    * `cume_dist` — the relative-standing window pair (exact rational
    * arithmetic: (rank-1)/(n-1) and rank/n, so cross-engine doubles
    * are bit-identical; round4 at the edge per convention).
    *
    * Scale note: the single-partition window runs over the 25-row
    * nation aggregate, not the fact table (the CLAUDE.md dim-input
    * exception); at fact-scale grain you'd rank within partitions
    * (percent_rank OVER a partitioned window) or derive standing from
    * a global sort + prefix counts ([[graft.etl.PrefixScan]]).
    */
  def percentRank(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byNation = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("o_totalprice")), 4).as("rev"))
    val w = Window.orderBy(col("rev").desc, col("n_name"))
    byNation
      .withColumn("pct_rank", round4(percent_rank().over(w)))
      .withColumn("cume", round4(cume_dist().over(w)))
      .select(col("n_name"), col("rev"), col("pct_rank"), col("cume"))
      .orderBy("n_name")
  }

  private val sqlPercentRank = {
    s"""WITH byn AS (
       |  SELECT n_name, round(sum(o_totalprice), 4) AS rev
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1)
       |SELECT n_name, rev,
       |       ${duckRound4("percent_rank() OVER (ORDER BY rev DESC, n_name)")} AS pct_rank,
       |       ${duckRound4("cume_dist() OVER (ORDER BY rev DESC, n_name)")} AS cume
       |FROM byn ORDER BY n_name""".stripMargin
  }

  // ---------- q_rolling_7d: time-RANGE window frames ----------

  /** 7-day rolling revenue per order priority — a RANGE frame over
    * event time (`RANGE BETWEEN 6 DAYS PRECEDING AND CURRENT ROW` on
    * epoch seconds), the window shape behind every trailing-metric
    * dashboard.
    *
    * Float parity: Spark re-aggregates each sliding frame left-to-
    * right, DuckDB uses a segment tree — different association, so a
    * DOUBLE window sum is not cross-engine-stable. The daily rollup
    * is therefore cast to DECIMAL(18,4) before the window: decimal
    * addition is exact, making the frame sum association-free; both
    * edges cast back to DOUBLE for output.
    *
    * Scale: the window input is the (priority, day) pre-aggregate —
    * time-bounded cardinality, not fact rows (the CLAUDE.md rule);
    * the frame itself holds ≤7 rows regardless of data volume.
    */
  def rolling7d(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("prio"),
        date_trunc("day", col("o_orderdate")).as("d"))
      .agg(round(sum(col("o_totalprice")), 4).cast("decimal(18,4)").as("rev_dec"))
    val w = Window.partitionBy("prio")
      .orderBy(col("d").cast("long"))
      .rangeBetween(-6L * 86400L, 0L)
    daily
      .withColumn("rev_7d_dec", sum(col("rev_dec")).over(w))
      .select(col("prio"),
        date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("rev_dec").cast("double").as("rev"),
        col("rev_7d_dec").cast("double").as("rev_7d"))
      .orderBy("prio", "day")
  }

  private val sqlRolling7d =
    """WITH daily AS (
      |  SELECT o_orderpriority AS prio,
      |         date_trunc('day', CAST(o_orderdate AS TIMESTAMP)) AS d,
      |         CAST(round(sum(o_totalprice), 4) AS DECIMAL(18,4)) AS rev_dec
      |  FROM orders GROUP BY 1, 2)
      |SELECT prio, strftime(d, '%Y-%m-%d') AS day,
      |       CAST(rev_dec AS DOUBLE) AS rev,
      |       CAST(sum(rev_dec) OVER (PARTITION BY prio ORDER BY d
      |              RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
      |            AS DOUBLE) AS rev_7d
      |FROM daily ORDER BY prio, day""".stripMargin

  // ---------- q_full_outer: two-source reconciliation join ----------

  /** Full-outer reconciliation of two entity populations (customers
    * who order vs users who click) with presence classification —
    * the audit query for pipelines that must account for every key on
    * either side. Completes the join-type coverage (inner/semi/anti/
    * left are pinned elsewhere).
    *
    * Shape: two keyed pre-aggregates then one full-outer hash join on
    * the key — both sides shrink to entity cardinality before the
    * join, so the outer join never sees fact rows.
    */
  def fullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val buyers = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("id")).agg(count(lit(1)).as("n_orders"))
    val actives = Tables.events(spark, sfDir)
      .groupBy(col("user_id").as("id")).agg(count(lit(1)).as("n_events"))
    buyers.join(actives, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("n_orders").isNull, lit("event_only"))
          .when(col("n_events").isNull, lit("order_only"))
          .otherwise(lit("both")).as("presence"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy("id")
  }

  private val sqlFullOuter =
    """WITH b AS (SELECT o_custkey AS id, count(*) AS n_orders FROM orders GROUP BY 1),
      |     a AS (SELECT user_id AS id, count(*) AS n_events FROM events GROUP BY 1)
      |SELECT coalesce(b.id, a.id) AS id,
      |       CASE WHEN b.id IS NULL THEN 'event_only'
      |            WHEN a.id IS NULL THEN 'order_only'
      |            ELSE 'both' END AS presence,
      |       coalesce(n_orders, 0) AS n_orders,
      |       coalesce(n_events, 0) AS n_events
      |FROM b FULL OUTER JOIN a ON b.id = a.id
      |ORDER BY id""".stripMargin

  // ---------- q_unpivot: wide → long melt (inverse of q_pivot) ----------

  /** Unpivot/melt: the per-flag measure columns of a Q1-style rollup
    * turned into (flag, measure, value) rows — the wide→long reshape
    * feeding generic metric stores and chart layers. Runs on the
    * aggregate (6 rows × 3 measures), where reshapes belong; melting
    * raw fact columns would triple the scan instead.
    */
  def unpivotQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("avg_disc")),
        "measure", "value")
      .orderBy("l_returnflag", "measure")
  }

  private val sqlUnpivot =
    """WITH wide AS (
      |  SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty,
      |         round(sum(l_extendedprice), 4) AS sum_price,
      |         round(avg(l_discount), 4) AS avg_disc
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, measure, value
      |FROM (UNPIVOT wide ON sum_qty, sum_price, avg_disc
      |      INTO NAME measure VALUE value)
      |ORDER BY l_returnflag, measure""".stripMargin

  // ---------- q_window_frames: dense_rank + frame-bounded value picks ----------

  /** The window functions the rest of the pack doesn't exercise:
    * `dense_rank` (gap-free ranking of each segment's months by
    * revenue) plus full-frame value picking — `first_value` /
    * `last_value` / `nth_value` over ROWS UNBOUNDED PRECEDING AND
    * UNBOUNDED FOLLOWING give every month its segment's first,
    * latest, and second month revenue for baseline comparisons.
    * Completes the §2.6 window-function surface next to rank
    * (`q_window_rank`), lag (`q_mom_delta`), ntile (`q_ntile`),
    * percent_rank/cume_dist (`q_percent_rank`) and frame sums
    * (`q_running_total`, `q_rolling_7d`).
    *
    * Determinism: ranking orders on the ROUNDED revenue with the
    * month as tie-break (CLAUDE.md rank rule); the frame picks are
    * positional over the month order, which is total. Scale: the
    * window input is the segment × month AGGREGATE (calendar
    * cardinality), not the fact table.
    */
  def windowFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val m = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
      .agg(round(sum(col("o_totalprice")), 4).as("rev"))
    val byRev = Window.partitionBy("segment")
      .orderBy(col("rev").desc, col("month"))
    val frame = Window.partitionBy("segment").orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    m.withColumn("rev_rank", dense_rank().over(byRev).cast("long"))
      .withColumn("first_rev", first(col("rev")).over(frame))
      .withColumn("last_rev", last(col("rev")).over(frame))
      .withColumn("second_rev", nth_value(col("rev"), 2).over(frame))
      .orderBy("segment", "month")
  }

  private val sqlWindowFrames =
    """WITH m AS (SELECT c_mktsegment AS segment,
      |                  strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
      |                  round(sum(o_totalprice), 4) AS rev
      |           FROM orders JOIN customer ON o_custkey = c_custkey
      |           GROUP BY 1, 2)
      |SELECT segment, month, rev,
      |       CAST(dense_rank() OVER (PARTITION BY segment
      |              ORDER BY rev DESC, month) AS BIGINT) AS rev_rank,
      |       first_value(rev) OVER w AS first_rev,
      |       last_value(rev) OVER w AS last_rev,
      |       nth_value(rev, 2) OVER w AS second_rev
      |FROM m
      |WINDOW w AS (PARTITION BY segment ORDER BY month
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY segment, month""".stripMargin

  // ---------- q_autocorr: lag-k autocorrelation of the daily series ----------

  /** Lag-1..7 autocorrelation of daily order revenue — the
    * periodicity detector behind every seasonality dashboard (a
    * weekly cycle shows as a lag-7 peak). For each lag k, pairs
    * (day d, day d+k) are formed by an equi-join on epoch seconds
    * and the Pearson r of the paired revenues is computed from
    * EXACT integer-cent moments, the [[OlapStats.corrStats]]
    * discipline: daily revenue is summed as integer cents (order-
    * independent), the five co-moments accumulate in DECIMAL(38,0)
    * (a cents product can exceed 2⁶³ summed over days), and the one
    * double formula at the end uses the explicit
    * `sqrt(varX)*sqrt(varY)` association mirrored in the oracle.
    *
    * Scale: the fact scan collapses to day grain (bounded, ~2.4k
    * rows for 7 years) in one map-side-combinable aggregate; the
    * 7-lag spine is a broadcast cross over that bounded series, so
    * everything after the first aggregate is dim-sized. At 100 TB
    * the plan is unchanged — day grain does not scale with SF.
    */
  def autocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("xc"))
      // orderdate arrives TIMESTAMP_NTZ; session TZ is pinned UTC, so
      // NTZ→LTZ→long is the same epoch second DuckDB's epoch() sees
      .select(col("d").cast("timestamp").cast("long").as("dl"), col("xc"))
    val lags = spark.range(1L, 8L).select(col("id").as("lag"))
    val a = daily.select(col("dl"), col("xc").as("x"))
    val b = daily.select(col("dl").as("dl2"), col("xc").as("y"))
    val pairs = a.crossJoin(broadcast(lags))
      .withColumn("dlk", col("dl") + col("lag") * 86400L)
      .join(b, col("dlk") === col("dl2"))
    val xd = col("x").cast("decimal(19,0)")
    val yd = col("y").cast("decimal(19,0)")
    val m = pairs.groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum(xd).as("sx"), sum(yd).as("sy"),
        sum((xd * yd).cast("decimal(38,0)")).as("sxy"),
        sum((xd * xd).cast("decimal(38,0)")).as("sxx"),
        sum((yd * yd).cast("decimal(38,0)")).as("syy"))
    val nD = col("n").cast("double")
    def dd(c: String): Column = col(c).cast("double")
    val varX = (dd("sxx") - dd("sx") * dd("sx") / nD) / (nD - 1.0)
    val varY = (dd("syy") - dd("sy") * dd("sy") / nD) / (nD - 1.0)
    val cov = (dd("sxy") - dd("sx") * dd("sy") / nD) / (nD - 1.0)
    m.select(col("lag"), col("n").as("n_pairs"),
        round4(cov / (sqrt(varX) * sqrt(varY))).as("autocorr"))
      .orderBy("lag")
  }

  private val sqlAutocorr = {
    val varX = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)"
    val varY = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)"
    val cov = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)"
    s"""WITH daily AS (SELECT CAST(epoch(o_orderdate) AS BIGINT) AS dl,
       |                      CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS xc
       |               FROM orders GROUP BY 1),
       |     lags AS (SELECT CAST(UNNEST(range(1, 8)) AS BIGINT) AS lag),
       |     pairs AS (SELECT l.lag, a.xc AS x, b.xc AS y
       |               FROM daily a CROSS JOIN lags l
       |               JOIN daily b ON b.dl = a.dl + l.lag * 86400),
       |     m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
       |                  sum(CAST(x AS DECIMAL(19,0))) AS sx,
       |                  sum(CAST(y AS DECIMAL(19,0))) AS sy,
       |                  sum(CAST(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxy,
       |                  sum(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxx,
       |                  sum(CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS syy
       |           FROM pairs GROUP BY 1)
       |SELECT lag, n AS n_pairs,
       |       ${duckRound4(s"($cov) / (sqrt($varX) * sqrt($varY))")} AS autocorr
       |FROM m ORDER BY lag""".stripMargin
  }

  // ---------- q_seasonal_naive: forecast backtest (seasonal-naive) ----------

  /** Seasonal-naive backtest: forecast month m's order revenue as
    * month m−12's actual, evaluated on every month with a lag-12
    * predecessor — the baseline every forecasting effort must beat,
    * and the backtest harness shape (join actuals to lagged
    * forecasts, score per period) that any fancier model plugs into.
    * APE is reported per month; the lag-7 [[autocorr]] peak says
    * WHETHER seasonality exists, this says how far the purely
    * seasonal model gets.
    *
    * Exactness: month revenues are integer cents (one hash
    * aggregate), the month key is y·12+m integer arithmetic, APE's
    * single division is round4'd. Scale: everything after the fact
    * scan is month-grain.
    */
  def seasonalNaive(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = Tables.orders(spark, sfDir)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("mkey"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("cents"))
    val f = monthly.select((col("mkey") + 12L).as("mkey"), col("cents").as("fcents"))
    monthly.join(f, Seq("mkey"))
      .select(((col("mkey") - 1) / 12).cast("long").as("year"),
        (pmod(col("mkey") - 1, lit(12)) + 1).cast("long").as("month_no"),
        col("cents").as("actual_cents"), col("fcents").as("forecast_cents"),
        round4(
          abs(col("cents") - col("fcents")).cast("double") /
            col("cents").cast("double")).as("ape"))
      .orderBy("year", "month_no")
  }

  private val sqlSeasonalNaive =
    s"""WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
       |                  CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS cents
       |           FROM orders GROUP BY 1)
       |SELECT (a.mkey - 1) // 12 AS year,
       |       (a.mkey - 1) % 12 + 1 AS month_no,
       |       a.cents AS actual_cents, f.cents AS forecast_cents,
       |       ${duckRound4(
                  "CAST(abs(a.cents - f.cents) AS DOUBLE) / CAST(a.cents AS DOUBLE)")} AS ape
       |FROM m a JOIN m f ON a.mkey = f.mkey + 12
       |ORDER BY year, month_no""".stripMargin

  // ---------- q_mann_kendall: nonparametric monotone-trend test ----------

  /** Mann-Kendall trend test on the monthly revenue series (Mann
    * 1945, Kendall 1975) — the nonparametric "is there a monotone
    * trend at all" gate run BEFORE fitting [[olsTrend]]'s slope or
    * [[theilSen]]'s robust line: S = Σ_{i<j} sign(xⱼ − xᵢ) over time
    * order, variance with the standard tie correction, z with the
    * ±1 continuity correction. Rank-free and outlier-immune — the
    * hydrology-standard trend screen, here the revenue reading.
    *
    * Exactness: the series is exact integer cents at BOUNDED month
    * grain, so the pair join is calendar², sign counts are pure
    * integers, and the single sqrt division happens once at the edge
    * (its operands are identical integer-derived doubles on both
    * engines). No window, no rank.
    */
  def mannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = Tables.orders(spark, sfDir)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("mkey"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("cents"))
      .localCheckpoint(true) // staged: pair join (two legs) + tie census
    val a = monthly.select(col("mkey").as("mi"), col("cents").as("xi"))
    val b = monthly.select(col("mkey").as("mj"), col("cents").as("xj"))
    val s = a.join(broadcast(b), col("mi") < col("mj"))
      .agg(sum(when(col("xj") > col("xi"), 1L)
        .when(col("xj") < col("xi"), -1L).otherwise(0L)).as("s_stat"))
    val ties = monthly.groupBy("cents").agg(count(lit(1)).as("t"))
      .agg(sum(when(col("t") >= 2, col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5L))
        .otherwise(0L)).as("tsum"),
        sum(col("t")).as("n"))
    val nD = col("n").cast("double")
    val varS = (nD * (nD - 1.0) * (nD * 2.0 + 5.0) - col("tsum").cast("double")) / 18.0
    val sD = col("s_stat").cast("double")
    s.crossJoin(broadcast(ties))
      .select(col("n").as("n_months"), col("s_stat"),
        round4(varS).as("var_s"),
        round4(
          when(col("s_stat") > 0, (sD - 1.0) / sqrt(varS))
            .when(col("s_stat") < 0, (sD + 1.0) / sqrt(varS))
            .otherwise(lit(0.0))).as("z_stat"))
  }

  private val sqlMannKendall = {
    val varS = "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) * " +
      "(2.0 * CAST(n AS DOUBLE) + 5.0) - CAST(tsum AS DOUBLE)) / 18.0"
    s"""WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
       |                  CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS cents
       |           FROM orders GROUP BY 1),
       |     s AS (SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
       |                               WHEN b.cents < a.cents THEN -1
       |                               ELSE 0 END) AS BIGINT) AS s_stat
       |           FROM m a JOIN m b ON a.mkey < b.mkey),
       |     tg AS (SELECT cents, CAST(count(*) AS BIGINT) AS t FROM m GROUP BY 1),
       |     ts AS (SELECT CAST(sum(CASE WHEN t >= 2
       |                      THEN t * (t - 1) * (2 * t + 5) ELSE 0 END) AS BIGINT) AS tsum,
       |                   CAST(sum(t) AS BIGINT) AS n
       |            FROM tg)
       |SELECT n AS n_months, s_stat,
       |       ${duckRound4(varS)} AS var_s,
       |       ${duckRound4(s"CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt($varS)" +
                 s" WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt($varS)" +
                 " ELSE 0.0 END")} AS z_stat
       |FROM s CROSS JOIN ts""".stripMargin
  }

  // ---------- q_mase: scaled forecast-accuracy scores ----------

  /** MASE + sMAPE of the seasonal-naive backtest (Hyndman & Koehler
    * 2006) — the scores that make [[seasonalNaive]]'s per-month APEs
    * comparable across series: MASE scales the forecast MAE by the
    * in-sample naive-1 MAE (so < 1 means "beats last-month-carried-
    * forward"), sMAPE bounds the percentage view at [0,2]. These are
    * the two numbers a forecast-model bakeoff table actually prints.
    *
    * Exactness: MASE is a ratio of two INTEGER-cent error sums —
    * fully exact until one edge division; each sMAPE term 2|f−a|/(f+a)
    * is an exact rational collapsed to round6 DECIMAL before the sum.
    * Shape: one month-grain aggregate (the only fact pass), two
    * self-joins at lag 12 / lag 1 over the bounded calendar spine,
    * one-row output.
    */
  def maseScores(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = Tables.orders(spark, sfDir)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("mkey"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("cents"))
      .localCheckpoint(true) // staged: three self-join legs below
    val f12 = monthly.select((col("mkey") + 12L).as("mkey"), col("cents").as("fcents"))
    val f1 = monthly.select((col("mkey") + 1L).as("mkey"), col("cents").as("pcents"))
    val sEr = monthly.join(f12, Seq("mkey"))
      .agg(count(lit(1)).as("n_forecasts"),
        sum(abs(col("cents") - col("fcents"))).as("sae"),
        sum(units(lit(2.0) * abs(col("cents") - col("fcents")).cast("double") /
          (col("cents") + col("fcents")).cast("double"), 1e6).cast("decimal(28,0)")).as("sm6"))
    val nEr = monthly.join(f1, Seq("mkey"))
      .agg(count(lit(1)).as("n_naive"),
        sum(abs(col("cents") - col("pcents"))).as("nae"))
    sEr.crossJoin(broadcast(nEr))
      .select(col("n_forecasts"),
        round4(
          (col("sae").cast("double") / col("n_forecasts").cast("double")) /
            (col("nae").cast("double") / col("n_naive").cast("double"))).as("mase"),
        round4(col("sm6").cast("double") / 1000000.0 /
          col("n_forecasts").cast("double")).as("smape"))
  }

  private val sqlMaseScores = {
    s"""WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
       |                  CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS cents
       |           FROM orders GROUP BY 1),
       |     se AS (SELECT CAST(count(*) AS BIGINT) AS n_forecasts,
       |                   CAST(sum(abs(a.cents - f.cents)) AS BIGINT) AS sae,
       |                   sum(CAST(${duckUnits("2.0 * CAST(abs(a.cents - f.cents) AS DOUBLE)" +
                     " / CAST(a.cents + f.cents AS DOUBLE)", 1e6)}
       |                     AS DECIMAL(28,0))) AS sm6
       |            FROM m a JOIN m f ON a.mkey = f.mkey + 12),
       |     ne AS (SELECT CAST(count(*) AS BIGINT) AS n_naive,
       |                   CAST(sum(abs(a.cents - p.cents)) AS BIGINT) AS nae
       |            FROM m a JOIN m p ON a.mkey = p.mkey + 1)
       |SELECT n_forecasts,
       |       ${duckRound4("(CAST(sae AS DOUBLE) / CAST(n_forecasts AS DOUBLE)) / " +
                 "(CAST(nae AS DOUBLE) / CAST(n_naive AS DOUBLE))")} AS mase,
       |       ${duckRound4("CAST(sm6 AS DOUBLE) / 1000000.0 / CAST(n_forecasts AS DOUBLE)")} AS smape
       |FROM se CROSS JOIN ne""".stripMargin
  }

  // ---------- q_ltv_curve: cohort lifetime-value accumulation ----------

  /** Average cumulative revenue per customer by cohort age — the LTV
    * curve finance reads the payback period off: customers cohorted
    * by first-order month (1995 cohorts), revenue accumulated over
    * the first 12 months of life, divided by cohort size.
    * [[cohortRetention]] counts who comes back; this weighs what
    * they spend.
    *
    * Exactness: integer cents summed at (cohort, age) grain, the
    * running total a window over ≤12 ages per cohort (bounded
    * partitions), one round4 division per row. Scale: one
    * customer-grain first-order aggregate + one fact equi-join on
    * custkey (the required shuffle); everything after is
    * cohort×age grain.
    */
  def ltvCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val mk = (c: Column) => (year(c) * 12 + month(c)).cast("long")
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), mk(col("o_orderdate")).as("mkey"),
        units(col("o_totalprice"), 100.0).cast("long").as("cents"))
    val cohort = orders.groupBy("o_custkey").agg(min(col("mkey")).as("ckey"))
      .filter(((col("ckey") - 1) / 12).cast("long") === 1995L)
    val sizes = cohort.groupBy("ckey").agg(count(lit(1)).as("n_customers"))
    val cells = orders.join(cohort, Seq("o_custkey"))
      .withColumn("age", col("mkey") - col("ckey"))
      .filter(col("age") < 12)
      .groupBy("ckey", "age").agg(sum(col("cents")).as("cents"))
    val w = Window.partitionBy("ckey").orderBy("age")
    cells
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .join(broadcast(sizes), Seq("ckey"))
      .select((pmod(col("ckey") - 1, lit(12)) + 1).cast("long").as("cohort_month"),
        col("age"), col("n_customers"),
        round4(col("cum_cents").cast("double") / 100.0 /
          col("n_customers").cast("double")).as("ltv_per_user"))
      .orderBy("cohort_month", "age")
  }

  private val sqlLtvCurve =
    s"""WITH o AS (SELECT o_custkey,
       |                  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
       |                  CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT) AS cents
       |           FROM orders),
       |     c AS (SELECT o_custkey, min(mkey) AS ckey FROM o GROUP BY 1),
       |     c95 AS (SELECT * FROM c WHERE (ckey - 1) // 12 = 1995),
       |     sz AS (SELECT ckey, CAST(count(*) AS BIGINT) AS n_customers
       |            FROM c95 GROUP BY 1),
       |     cells AS (SELECT c95.ckey, o.mkey - c95.ckey AS age,
       |                      CAST(sum(o.cents) AS BIGINT) AS cents
       |               FROM o JOIN c95 ON o.o_custkey = c95.o_custkey
       |               WHERE o.mkey - c95.ckey < 12
       |               GROUP BY 1, 2),
       |     cum AS (SELECT ckey, age,
       |                    CAST(sum(cents) OVER (PARTITION BY ckey ORDER BY age)
       |                      AS BIGINT) AS cum_cents
       |             FROM cells)
       |SELECT (cum.ckey - 1) % 12 + 1 AS cohort_month, cum.age, sz.n_customers,
       |       ${duckRound4(
                  "CAST(cum_cents AS DOUBLE) / 100.0 / CAST(n_customers AS DOUBLE)")} AS ltv_per_user
       |FROM cum JOIN sz ON cum.ckey = sz.ckey
       |ORDER BY cohort_month, age""".stripMargin

  // ---------- q_window_nav: navigation functions (first/last/nth, IGNORE NULLS) ----------

  /** The window NAVIGATION function family over each customer's order
    * history, ordered by the (date, orderkey) total order: first and
    * second order, most recent order, and the most recent FINISHED
    * order's price via `last_value(... IGNORE NULLS)` — the
    * null-skipping navigation that reporting queries lean on (latest
    * non-null reading per entity). One row per customer (the rn = 1
    * filter), so the output is entity grain, not order grain.
    *
    * Parity: every navigated value is selected, never computed — no
    * float arithmetic; the (date, orderkey) composite makes all four
    * navigations deterministic; the IGNORE-NULLS column is a CASE
    * over o_orderstatus, identical on both engines.
    *
    * Scale: one window partitioned by custkey (fact-proportional key,
    * shuffles once); all four navigations share the partition.
    */
  def windowNav(spark: SparkSession, sfDir: String): DataFrame = {
    val o = graft.schema.Tables.orders(spark, sfDir)
      .withColumn("f_price",
        when(col("o_orderstatus") === "F", col("o_totalprice")))
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    o.withColumn("rn", row_number().over(w))
      .withColumn("first_key", first(col("o_orderkey")).over(full))
      .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(full))
      .withColumn("last_key", last(col("o_orderkey")).over(full))
      .withColumn("last_f_price",
        last(col("f_price"), ignoreNulls = true).over(full))
      .withColumn("n_orders", count(lit(1)).over(full))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("custkey"), col("n_orders"),
        col("first_key"), col("second_key"), col("last_key"),
        col("last_f_price"))
      .orderBy("custkey")
  }

  private val sqlWindowNav =
    """WITH o AS (SELECT *, CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS f_price
      |           FROM orders),
      |     w AS (SELECT o_custkey,
      |             row_number() OVER win AS rn,
      |             CAST(count(*) OVER wfull AS BIGINT) AS n_orders,
      |             first_value(o_orderkey) OVER wfull AS first_key,
      |             nth_value(o_orderkey, 2) OVER wfull AS second_key,
      |             last_value(o_orderkey) OVER wfull AS last_key,
      |             last_value(f_price IGNORE NULLS) OVER wfull AS last_f_price
      |           FROM o
      |           WINDOW win AS (PARTITION BY o_custkey
      |                          ORDER BY o_orderdate, o_orderkey),
      |                  wfull AS (PARTITION BY o_custkey
      |                            ORDER BY o_orderdate, o_orderkey
      |                            ROWS BETWEEN UNBOUNDED PRECEDING
      |                                     AND UNBOUNDED FOLLOWING))
      |SELECT o_custkey AS custkey, n_orders, first_key, second_key,
      |       last_key, last_f_price
      |FROM w WHERE rn = 1 ORDER BY custkey""".stripMargin

  // ---------- q_ols_trend: exact least-squares revenue trend ----------

  /** Per-brand ordinary-least-squares revenue trend: slope and
    * intercept of monthly revenue regressed on the month index — the
    * is-this-line-going-up primitive under every KPI dashboard,
    * computed EXACTLY. All five sufficient statistics (n, Σx, Σy,
    * Σxy, Σx²) are integer/DECIMAL aggregates over integer cents and
    * month indices, so the closed-form numerators/denominators
    * (n·Σxy − Σx·Σy etc.) are exact on both engines; the only float
    * work is one division + one /100 per output, in one literal
    * order. This is also why `regr_slope` (both engines have it) is
    * NOT used: its running-sum implementation is partition-order-
    * dependent float arithmetic — the mergeable-exact-sums shape is
    * the one that survives a distributed hash gate.
    *
    * Scale: lineitem⋈part equi-join (AQE-planned), collapse to the
    * (brand, month) grain — 25×84 rows — before the per-brand stats;
    * everything after the first aggregate is dim-cardinality.
    */
  def olsTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .withColumn("cents",
        units(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 100.0).cast("long"))
      .withColumn("m",
        ((year(col("l_shipdate")) - 1992) * 12 + month(col("l_shipdate")) - 1)
          .cast("long"))
    val bm = li.join(Tables.part(spark, sfDir),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("m"))
      .agg(sum(col("cents")).as("y"))
    val stats = bm.groupBy("brand").agg(
      count(lit(1)).as("n"),
      sum(col("m").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((col("m") * col("y")).cast("decimal(38,0)")).as("sxy"),
      sum((col("m") * col("m")).cast("decimal(38,0)")).as("sxx"))
    stats.filter(col("n") >= 2)
      .withColumn("den", (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .select(col("brand"), col("n").as("n_months"),
        round4((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double") / col("den") / 100.0).as("slope"),
        round4((col("sy") * col("sxx") - col("sx") * col("sxy"))
          .cast("double") / col("den") / 100.0).as("intercept"))
      .orderBy("brand")
  }

  private val sqlOlsTrend =
    s"""WITH li AS (SELECT l_partkey,
       |              CAST(${duckUnits("l_extendedprice * (1.0 - l_discount)", 100.0)} AS BIGINT) AS cents,
       |              CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate) - 1 AS BIGINT) AS m
       |            FROM lineitem),
       |     bm AS (SELECT p_brand AS brand, m, sum(cents) AS y
       |            FROM li JOIN part ON l_partkey = p_partkey
       |            GROUP BY 1, 2),
       |     st AS (SELECT brand, count(*) AS n, sum(m) AS sx, sum(y) AS sy,
       |              sum(m * y) AS sxy, sum(m * m) AS sxx
       |            FROM bm GROUP BY 1),
       |     d AS (SELECT *, CAST(n * sxx - sx * sx AS DOUBLE) AS den
       |           FROM st WHERE n >= 2)
       |SELECT brand, CAST(n AS BIGINT) AS n_months,
       |       ${duckRound4("CAST(n * sxy - sx * sy AS DOUBLE) / den / 100.0")} AS slope,
       |       ${duckRound4("CAST(sy * sxx - sx * sxy AS DOUBLE) / den / 100.0")} AS intercept
       |FROM d ORDER BY brand""".stripMargin

  // ---------- q_theilsen: robust Theil–Sen trend over monthly revenue ----------

  /** Theil–Sen estimator over the company-wide monthly revenue
    * series: the median (and quartile band) of all pairwise slopes
    * (y_j − y_i)/(x_j − x_i), i < j — the robust alternative to
    * [[olsTrend]] that one crazy month cannot move (breakdown point
    * ≈ 29%). Each pairwise slope is ONE double division of exact
    * integer cents over exact month deltas, so every slope is
    * engine-identical; the median is Spark exact `percentile` ≡
    * DuckDB `quantile_cont` (bit-identical, the verified pairing)
    * over identical doubles, rounded once at the edge.
    *
    * Scale: the pairwise self-join is over the MONTH-grain aggregate
    * — cardinality (months choose 2) is bounded by the calendar span
    * (84 months → 3.5k pairs), never by fact volume; the fact table
    * is collapsed to month grain in one hash aggregate first.
    */
  def theilSen(spark: SparkSession, sfDir: String): DataFrame = {
    val my = Tables.orders(spark, sfDir)
      .withColumn("m",
        ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
          .cast("long"))
      .withColumn("cents", units(col("o_totalprice"), 100.0).cast("long"))
      .groupBy("m").agg(sum(col("cents")).as("y"))
    val a = my.select(col("m").as("m1"), col("y").as("y1"))
    val b = my.select(col("m").as("m2"), col("y").as("y2"))
    val slopes = a.join(b, col("m2") > col("m1"))
      .select(((col("y2") - col("y1")).cast("double") /
        (col("m2") - col("m1")).cast("double")).as("s"))
    slopes.agg(
        count(lit(1)).as("n_pairs"),
        percentile(col("s"), lit(0.25)).as("p25"),
        percentile(col("s"), lit(0.5)).as("med"),
        percentile(col("s"), lit(0.75)).as("p75"))
      .select(col("n_pairs"),
        round4(col("p25") / 100.0).as("slope_p25"),
        round4(col("med") / 100.0).as("slope_med"),
        round4(col("p75") / 100.0).as("slope_p75"))
  }

  private val sqlTheilSen =
    s"""WITH my AS (SELECT CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS BIGINT) AS m,
       |              CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS y
       |            FROM orders GROUP BY 1),
       |     sl AS (SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.m - a.m AS DOUBLE) AS s
       |            FROM my a JOIN my b ON b.m > a.m)
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |       ${duckRound4("quantile_cont(s, 0.25) / 100.0")} AS slope_p25,
       |       ${duckRound4("quantile_cont(s, 0.5) / 100.0")} AS slope_med,
       |       ${duckRound4("quantile_cont(s, 0.75) / 100.0")} AS slope_p75
       |FROM sl""".stripMargin

  // ---------- q_seasonal_index: classic calendar-month seasonal index ----------

  /** Calendar-month seasonal index — the ratio-to-overall-average
    * seasonality profile (index > 1 ⇒ that calendar month runs hot):
    * for each of the 12 calendar months, the mean monthly revenue of
    * that month across years divided by the overall mean monthly
    * revenue. The deseasonalization companion to [[seasonalNaive]]
    * (which backtests lag-12; this measures the seasonal shape
    * itself).
    *
    * Parity: all sums are exact integer cents at (year, month) grain
    * (DECIMAL on the Spark side, HUGEINT in DuckDB); each output is
    * a fixed sequence of three IEEE divisions
    * (month-mean, overall-mean, their ratio), rounded once.
    *
    * Scale: fact collapses to the (year, month) grain in one hash
    * aggregate; everything after is ≤ span-months rows.
    */
  def seasonalIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val ym = Tables.orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long"))
        .cast("decimal(38,0)").as("cents"))
    val tot = ym.agg(sum(col("cents")).as("tot_cents"),
      count(lit(1)).as("tot_months"))
    ym.groupBy("m")
      .agg(count(lit(1)).as("n_months"), sum(col("cents")).as("m_cents"))
      .crossJoin(broadcast(tot))
      .select(col("m").cast("long").as("cal_month"), col("n_months"),
        round4(col("m_cents").cast("double") /
          col("n_months").cast("double") / 100.0).as("avg_revenue"),
        round4(
          (col("m_cents").cast("double") / col("n_months").cast("double")) /
            (col("tot_cents").cast("double") / col("tot_months").cast("double")))
          .as("seasonal_index"))
      .orderBy("cal_month")
  }

  private val sqlSeasonalIndex =
    s"""WITH ym AS (SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
       |              CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS cents
       |            FROM orders GROUP BY 1, 2),
       |     tot AS (SELECT sum(cents) AS tot_cents, count(*) AS tot_months FROM ym)
       |SELECT CAST(m AS BIGINT) AS cal_month, CAST(count(*) AS BIGINT) AS n_months,
       |       ${duckRound4(
                  "CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0")} AS avg_revenue,
       |       ${duckRound4(
                  "(CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / " +
                  "(CAST(tot_cents AS DOUBLE) / CAST(tot_months AS DOUBLE))")} AS seasonal_index
       |FROM ym CROSS JOIN tot
       |GROUP BY m, tot_cents, tot_months ORDER BY cal_month""".stripMargin

  // ---------- q_interpolate: LOCF + linear interpolation over gaps ----------

  /** Gap REPAIR over the hourly purchase series — the two standard
    * fills [[gapFill]]'s zero-fill deliberately is not: last-
    * observation-carried-forward (LOCF, what metric dashboards show
    * during outages) and linear interpolation between the
    * surrounding observations (what feature pipelines feed models).
    * Missing hours (47 of 720 on this corpus) get both; edge gaps
    * with no anchor on one side stay NULL, explicitly.
    *
    * Parity: hourly sums are exact micro-unit integers
    * (round-before-sum DECIMAL); LOCF selects (never computes); the
    * interpolation is prev + (next − prev) · (pos − ppos) /
    * (npos − ppos) over exact integers in one literal order — two
    * IEEE ops, engine-identical — rounded once. `IGNORE NULLS`
    * navigation windows on both engines.
    *
    * Scale: the fact collapses to hour grain first; the windows run
    * over the HOUR SPINE — bounded by wall-clock span, not volume
    * (single-partition-window rule: bounded input, noted). At a
    * multi-year span you'd partition the spine by series key, which
    * a per-metric fill naturally has.
    */
  def interpolate(spark: SparkSession, sfDir: String): DataFrame = {
    val purchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(date_trunc("hour", col("ts")).as("hr"), col("value"))
    val hourly = purchases.groupBy("hr")
      .agg(sum(units(col("value"), 1e6).cast("decimal(28,0)"))
        .cast("long").as("vm"))
    val spine = purchases
      .agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
      .select(explode(expr("sequence(mn, mx, interval 1 hour)")).as("hr"))
    val base = spine.join(hourly, Seq("hr"), "left")
      .withColumn("pos", expr("unix_micros(hr) div 3600000000"))
      .withColumn("vpos", when(col("vm").isNotNull, col("pos")))
    val all = Window.orderBy("pos")
    val before = all.rowsBetween(Window.unboundedPreceding, -1)
    val after = all.rowsBetween(1, Window.unboundedFollowing)
    val filled = base
      .withColumn("locf_m", last(col("vm"), ignoreNulls = true)
        .over(all.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("pv", last(col("vm"), ignoreNulls = true).over(before))
      .withColumn("pp", last(col("vpos"), ignoreNulls = true).over(before))
      .withColumn("nv", first(col("vm"), ignoreNulls = true).over(after))
      .withColumn("np", first(col("vpos"), ignoreNulls = true).over(after))
      .withColumn("interp_m",
        when(col("vm").isNotNull, col("vm").cast("double"))
          .otherwise(col("pv").cast("double") +
            (col("nv") - col("pv")).cast("double") *
              (col("pos") - col("pp")).cast("double") /
              (col("np") - col("pp")).cast("double")))
    filled.select(
        date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        round4(col("vm").cast("double") / 1000000.0)
          .as("observed"),
        round4(col("locf_m").cast("double") / 1000000.0)
          .as("locf"),
        round4(col("interp_m") / 1000000.0).as("interp"))
      .orderBy("hour")
  }

  private val sqlInterpolate = {
    s"""WITH p AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, value
       |           FROM events WHERE event_type = 'purchase'),
       |     hourly AS (SELECT hr,
       |                  CAST(sum(CAST(${duckUnits("value", 1e6)} AS DECIMAL(28,0))) AS BIGINT) AS vm
       |                FROM p GROUP BY 1),
       |     bnd AS (SELECT min(hr) AS mn, max(hr) AS mx FROM p),
       |     spine AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM bnd),
       |     base AS (SELECT spine.hr, vm,
       |                epoch_us(spine.hr) // 3600000000 AS pos,
       |                CASE WHEN vm IS NOT NULL
       |                     THEN epoch_us(spine.hr) // 3600000000 END AS vpos
       |              FROM spine LEFT JOIN hourly ON spine.hr = hourly.hr),
       |     f AS (SELECT hr, vm, pos,
       |             last_value(vm IGNORE NULLS) OVER (ORDER BY pos
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_m,
       |             last_value(vm IGNORE NULLS) OVER (ORDER BY pos
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
       |             last_value(vpos IGNORE NULLS) OVER (ORDER BY pos
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pp,
       |             first_value(vm IGNORE NULLS) OVER (ORDER BY pos
       |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
       |             first_value(vpos IGNORE NULLS) OVER (ORDER BY pos
       |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
       |           FROM base),
       |     g AS (SELECT hr, vm, locf_m,
       |             CASE WHEN vm IS NOT NULL THEN CAST(vm AS DOUBLE)
       |                  ELSE CAST(pv AS DOUBLE) +
       |                       CAST(nv - pv AS DOUBLE) *
       |                       CAST(pos - pp AS DOUBLE) /
       |                       CAST(np - pp AS DOUBLE) END AS interp_m
       |           FROM f)
       |SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
       |       ${duckRound4("CAST(vm AS DOUBLE) / 1000000.0")} AS observed,
       |       ${duckRound4("CAST(locf_m AS DOUBLE) / 1000000.0")} AS locf,
       |       ${duckRound4("interp_m / 1000000.0")} AS interp
       |FROM g ORDER BY hour""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_window_nav" -> (windowNav _),
    "q_ols_trend" -> (olsTrend _),
    "q_theilsen" -> (theilSen _),
    "q_seasonal_index" -> (seasonalIndex _),
    "q_interpolate" -> (interpolate _),
    "q_seasonal_naive" -> (seasonalNaive _),
    "q_mase" -> (maseScores _),
    "q_mann_kendall" -> (mannKendall _),
    "q_ltv_curve" -> (ltvCurve _),
    "q_autocorr" -> (autocorr _),
    "q_window_frames" -> (windowFrames _),
    "q_full_outer" -> (fullOuter _),
    "q_unpivot" -> (unpivotQ _),
    "q_rolling_7d" -> (rolling7d _),
    "q_cohort_retention" -> (cohortRetention _),
    "q_funnel" -> (funnel _),
    "q_gap_fill" -> (gapFill _),
    "q_salted_agg" -> (saltedAgg _),
    "q_minmax_by" -> (minmaxBy _),
    "q_percent_rank" -> (percentRank _),
    "q_cusum_drift" -> (cusumDrift _),
    "q_changepoint" -> (changepoint _),
    "q_runs_test" -> (runsTest _),
    "q_median_polish" -> (medianPolish _),
    "q_order_cycle_time" -> (orderCycleTime _),
    "q_rolling_median" -> (rollingMedian _),
    "q_rfm" -> (rfm _))

  // ---------- q_changepoint: binary-segmentation split on daily revenue ----------

  /** Single change-point LOCATION on the daily-revenue series (binary
    * segmentation, the first step of Scott & Knott / PELT-style
    * detectors): the split day t* maximizing the between-segment
    * sum-of-squares gain R(t) = S_t²/t + (S_n−S_t)²/(n−t) − S_n²/n —
    * [[cusumDrift]] MONITORS for a level shift; this LOCATES it and
    * sizes the two regimes. Emits the argmax split, both segment
    * means, and the explained-variance fraction R/SST.
    *
    * Scale note: the two windows (running count + running cents sum)
    * order the DAY-grain aggregate — bounded by the calendar, not the
    * fact table (the [[cusumDrift]] contract); the argmax is a
    * mergeable struct-min, not a rank window. Parity: cents and their
    * cumulative sums are exact BIGINT, daily cents² stage in
    * DECIMAL(38,0); R and SST are fixed-shape doubles over those
    * exact integers, and the ARGMAX compares the integer-scaled
    * floor(R/SST·1e8) with the epoch-day tie-break — never a raw
    * double (rank-on-rounded rule).
    */
  def changepoint(spark: SparkSession, sfDir: String): DataFrame = {
    // staged once: tot, the cumulative window, and the final
    // crossJoin all re-read the day-grain aggregate (twice-read rule)
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("xc"))
      .localCheckpoint(true)
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("xc")).as("tc"),
      sum(col("xc").cast("decimal(19,0)") * col("xc").cast("decimal(19,0)")).as("sxx"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def d(c: Column): Column = c.cast("double")
    val cum = daily
      .withColumn("t", count(lit(1)).over(w))
      .withColumn("s", sum(col("xc")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("t") < col("n"))
    val gain = d(col("s")) * d(col("s")) / d(col("t")) +
      (d(col("tc")) - d(col("s"))) * (d(col("tc")) - d(col("s"))) /
        (d(col("n")) - d(col("t"))) -
      d(col("tc")) * d(col("tc")) / d(col("n"))
    val sst = d(col("sxx")) - d(col("tc")) * d(col("tc")) / d(col("n"))
    val pick = cum
      .withColumn("g8", units(gain / sst, 1e8).cast("long"))
      .withColumn("dk", datediff(col("day"), to_date(lit("1970-01-01"))))
      .agg(min(struct((-col("g8")).as("a"), col("dk").as("b"),
        col("t").as("t"), col("s").as("s"))).as("p"))
    pick.crossJoin(broadcast(tot))
      .select(
        date_format(date_add(to_date(lit("1970-01-01")), col("p.b")), "yyyy-MM-dd")
          .as("split_day"),
        col("p.t").as("n_left"), (col("n") - col("p.t")).as("n_right"),
        round4(d(col("p.s")) / d(col("p.t")) / 100.0).as("mean_left"),
        round4(
          (d(col("tc")) - d(col("p.s"))) / (d(col("n")) - d(col("p.t"))) / 100.0)
          .as("mean_right"),
        ((-col("p.a")).cast("double") / 100000000.0).as("gain_frac"))
  }

  private val sqlChangepoint = {
    val gain = "(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(t AS DOUBLE) " +
      "+ (CAST(tc AS DOUBLE) - CAST(s AS DOUBLE)) * (CAST(tc AS DOUBLE) - CAST(s AS DOUBLE)) " +
      "/ (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)) " +
      "- CAST(tc AS DOUBLE) * CAST(tc AS DOUBLE) / CAST(n AS DOUBLE))"
    val sst = "(CAST(sxx AS DOUBLE) - CAST(tc AS DOUBLE) * CAST(tc AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""WITH daily AS (SELECT o_orderdate AS day,
       |                      CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS xc
       |               FROM orders GROUP BY 1),
       |     tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(xc) AS BIGINT) AS tc,
       |                    sum(CAST(xc AS DECIMAL(19,0)) * CAST(xc AS DECIMAL(19,0))) AS sxx
       |             FROM daily),
       |     cum AS (SELECT day,
       |                    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
       |                    CAST(sum(xc) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
       |                    n, tc, sxx
       |             FROM daily CROSS JOIN tot),
       |     cand AS (SELECT CAST(${duckUnits(s"$gain / $sst", 1e8)} AS BIGINT) AS g8,
       |                     date_diff('day', DATE '1970-01-01', day) AS dk, t, s
       |              FROM cum WHERE t < n),
       |     pick AS (SELECT min({'a': -g8, 'b': dk, 't': t, 's': s}) AS p FROM cand)
       |SELECT strftime(DATE '1970-01-01' + CAST((p).b AS INTEGER), '%Y-%m-%d') AS split_day,
       |       CAST((p).t AS BIGINT) AS n_left, CAST(n - (p).t AS BIGINT) AS n_right,
       |       ${duckRound4("CAST((p).s AS DOUBLE) / CAST((p).t AS DOUBLE) / 100.0")} AS mean_left,
       |       ${duckRound4("(CAST(tc AS DOUBLE) - CAST((p).s AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST((p).t AS DOUBLE)) / 100.0")} AS mean_right,
       |       CAST(-(p).a AS DOUBLE) / 100000000.0 AS gain_frac
       |FROM pick CROSS JOIN tot""".stripMargin
  }

  // ---------- q_median_polish: Tukey two-way robust decomposition ----------

  /** Tukey's median polish (EDA 1977) on the month × market-segment
    * mean-order-value table: two full row/column sweeps peel robust
    * MONTH effects and SEGMENT effects off the grid by medians —
    * where a mean-based two-way decomposition (ANOVA's) lets one
    * outlier month poison a segment effect, the median sweep does
    * not. Emits each segment's polished effect plus its mean
    * absolute residual — the "is segment pricing additive in time"
    * readout, and the robust complement to [[seasonalIndex]]'s
    * ratio-to-average table.
    *
    * Shape: one fact pass to the bounded (month × segment) grid
    * (≤ 84×5 cells), then four bounded-grain percentile aggregates
    * (row sweep, column sweep, ×2) joined back broadcast — all
    * calendar/dim cardinality after the first aggregate. Parity:
    * cell means are round6ed doubles of exact DECIMAL cents (both
    * engines see identical cells), medians are exact `percentile` ≡
    * `quantile_cont`, subtraction chains run in one literal order,
    * and the residual summary stages |r| through round6-DECIMAL
    * before its cross-month sum.
    */
  def medianPolish(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val cells = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("m"),
        col("c_mktsegment").as("seg"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("cc"),
        count(lit(1)).as("n"))
      .select(col("m"), col("seg"),
        round6(col("cc").cast("double") / 100.0 / col("n").cast("double")).as("x"))
      .localCheckpoint(true) // staged: four sweep joins read the grid
    def rowSweep(df: DataFrame, xc: String, out: String): DataFrame = {
      val rm = df.groupBy("m").agg(expr(s"percentile($xc, 0.5)").as("rm"))
      df.join(broadcast(rm), "m").withColumn(out, col(xc) - col("rm")).drop("rm")
    }
    def colSweep(df: DataFrame, xc: String, out: String, eff: String): DataFrame = {
      val cm = df.groupBy("seg").agg(expr(s"percentile($xc, 0.5)").as(eff))
      df.join(broadcast(cm), "seg").withColumn(out, col(xc) - col(eff))
    }
    val s1 = colSweep(rowSweep(cells, "x", "x1"), "x1", "x2", "cm1")
    val s2 = colSweep(rowSweep(s1, "x2", "x3"), "x3", "x4", "cm2")
    s2.withColumn("ar6", round6(abs(col("x4"))).cast("decimal(28,6)"))
      .groupBy("seg", "cm1", "cm2")
      .agg(count(lit(1)).as("n_months"), sum(col("ar6")).as("ars"))
      .select(col("seg"), col("n_months"),
        round4(col("cm1") + col("cm2")).as("seg_effect"),
        round4(
          col("ars").cast("double") / col("n_months").cast("double"))
          .as("mean_abs_resid"))
      .orderBy("seg")
  }

  private val sqlMedianPolish = {
    val cents = s"CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS DOUBLE)"
    s"""WITH cells AS (SELECT strftime(o_orderdate, '%Y-%m') AS m, c_mktsegment AS seg,
       |                      ${duckRound6(s"$cents / 100.0 / CAST(count(*) AS DOUBLE)")} AS x
       |               FROM orders JOIN customer ON o_custkey = c_custkey
       |               GROUP BY 1, 2),
       |     r1 AS (SELECT m, quantile_cont(x, 0.5) AS rm FROM cells GROUP BY 1),
       |     a1 AS (SELECT cells.m, seg, x - rm AS x1 FROM cells JOIN r1 ON cells.m = r1.m),
       |     c1 AS (SELECT seg, quantile_cont(x1, 0.5) AS cm1 FROM a1 GROUP BY 1),
       |     a2 AS (SELECT m, a1.seg, cm1, x1 - cm1 AS x2 FROM a1 JOIN c1 ON a1.seg = c1.seg),
       |     r2 AS (SELECT m, quantile_cont(x2, 0.5) AS rm2 FROM a2 GROUP BY 1),
       |     a3 AS (SELECT a2.m, seg, cm1, x2 - rm2 AS x3 FROM a2 JOIN r2 ON a2.m = r2.m),
       |     c2 AS (SELECT seg, quantile_cont(x3, 0.5) AS cm2 FROM a3 GROUP BY 1),
       |     a4 AS (SELECT m, a3.seg, cm1, a3cm2.cm2, x3 - a3cm2.cm2 AS x4
       |            FROM a3 JOIN c2 a3cm2 ON a3.seg = a3cm2.seg),
       |     f AS (SELECT seg, cm1, cm2, CAST(count(*) AS BIGINT) AS n_months,
       |                  sum(CAST(${duckRound6("abs(x4)")}
       |                        AS DECIMAL(28,6))) AS ars
       |           FROM a4 GROUP BY 1, 2, 3)
       |SELECT seg, n_months,
       |       ${duckRound4("cm1 + cm2")} AS seg_effect,
       |       ${duckRound4("CAST(ars AS DOUBLE) / CAST(n_months AS DOUBLE)")} AS mean_abs_resid
       |FROM f ORDER BY seg""".stripMargin
  }

  // ---------- q_runs_test: Wald-Wolfowitz randomness of the daily series ----------

  /** Wald–Wolfowitz runs test on the daily-revenue series (1940): are
    * days above/below the median revenue RANDOMLY interleaved, or do
    * they clump (trend / regime persistence)? The classic
    * distribution-free check that the [[cusumDrift]]/[[changepoint]]
    * monitors have anything to find: z far below 0 means long
    * same-sign runs — persistence; far above means oscillation.
    * Ties at the median are dropped (the standard treatment).
    *
    * Scale note: the sign-change lag orders the DAY-grain aggregate
    * (calendar-bounded — the [[cusumDrift]] contract); the median is
    * one exact `percentile` (≡ `quantile_cont`) over the same bounded
    * grain. Parity: signs and run counts are all-integer; z's closed
    * form (sqrt — IEEE-safe) is the single double edge.
    */
  def runsTest(spark: SparkSession, sfDir: String): DataFrame = {
    // staged once: the median aggregate and the sign series both
    // re-read the day-grain aggregate (twice-read rule)
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("xc"))
      .localCheckpoint(true)
    val med = daily.agg(expr("percentile(xc, 0.5)").as("med"))
    val wl = Window.orderBy("day")
    val signs = daily.crossJoin(broadcast(med))
      .filter(col("xc").cast("double") =!= col("med"))
      .withColumn("sgn", when(col("xc").cast("double") > col("med"), 1).otherwise(0))
      .withColumn("chg",
        when(lag(col("sgn"), 1).over(wl).isNull, 1)
          .when(lag(col("sgn"), 1).over(wl) =!= col("sgn"), 1).otherwise(0))
    def d(c: Column): Column = c.cast("double")
    val agg = signs.agg(count(lit(1)).as("nn"), sum(col("sgn")).as("n1"),
      sum(col("chg")).as("runs"))
      .withColumn("n2", col("nn") - col("n1"))
    val two = lit(2.0) * d(col("n1")) * d(col("n2"))
    val nD = d(col("nn"))
    agg.select(col("nn").as("n_days"), col("n1").as("n_above"),
      col("n2").as("n_below"), col("runs"),
      round4(
        (d(col("runs")) - (lit(1.0) + two / nD)) /
          sqrt(two * (two - nD) / (nD * nD * (nD - 1.0)))).as("z_stat"))
  }

  private val sqlRunsTest = {
    val two = "(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
    val nD = "CAST(nn AS DOUBLE)"
    s"""WITH daily AS (SELECT o_orderdate AS day,
       |                      CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS xc
       |               FROM orders GROUP BY 1),
       |     md AS (SELECT quantile_cont(xc, 0.5) AS med FROM daily),
       |     sg AS (SELECT day, CASE WHEN CAST(xc AS DOUBLE) > med THEN 1 ELSE 0 END AS sgn
       |            FROM daily CROSS JOIN md
       |            WHERE CAST(xc AS DOUBLE) <> med),
       |     ch AS (SELECT sgn,
       |                   CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL THEN 1
       |                        WHEN lag(sgn) OVER (ORDER BY day) <> sgn THEN 1
       |                        ELSE 0 END AS chg
       |            FROM sg),
       |     a AS (SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(sgn) AS BIGINT) AS n1,
       |                  CAST(sum(chg) AS BIGINT) AS runs
       |           FROM ch),
       |     b AS (SELECT nn, n1, CAST(nn - n1 AS BIGINT) AS n2, runs FROM a)
       |SELECT nn AS n_days, n1 AS n_above, n2 AS n_below, runs,
       |       ${duckRound4(s"(CAST(runs AS DOUBLE) - (1.0 + $two / $nD)) / " +
                 s"sqrt($two * ($two - $nD) / ($nD * $nD * ($nD - 1.0)))")} AS z_stat
       |FROM b""".stripMargin
  }

  // ---------- q_order_cycle_time: fulfillment-latency distribution ----------

  /** Order-to-ship cycle-time distribution per order priority — the
    * operational-latency staple (order placed → line shipped, in
    * days) reported as the full percentile ladder, the shape every
    * SLA dashboard wants. Also a free data-quality screen: negative
    * cycle times (ship before order) surface as `n_negative`.
    *
    * Shape: one key-partitioned orders⋈lineitem equi-join (fact-to-
    * fact on the natural key — the one required shuffle) + a
    * priority-grain aggregate with exact percentiles (Spark
    * `percentile` ≡ DuckDB `quantile_cont`; swap `approx_percentile`
    * at 100 TB, same shape). Day deltas are exact integers.
    */
  def orderCycleTime(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, col("o_orderkey") === col("l_orderkey"))
      .withColumn("days", datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("days") < 0, lit(1))).as("n_negative"),
        min(col("days")).as("min_days"),
        percentile(col("days"),
          array(lit(0.5), lit(0.9), lit(0.99))).as("ps"),
        max(col("days")).as("max_days"))
      .select(col("priority"), col("n_lines"), col("n_negative"),
        col("min_days"),
        round4(element_at(col("ps"), 1)).as("p50_days"),
        round4(element_at(col("ps"), 2)).as("p90_days"),
        round4(element_at(col("ps"), 3)).as("p99_days"),
        col("max_days"))
      .orderBy("priority")
  }

  private val sqlOrderCycleTime = {
    s"""SELECT o_orderpriority AS priority, count(*) AS n_lines,
       |       CAST(count(CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 0 THEN 1 END) AS BIGINT) AS n_negative,
       |       CAST(min(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS min_days,
       |       ${duckRound4("quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.5)")} AS p50_days,
       |       ${duckRound4("quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.9)")} AS p90_days,
       |       ${duckRound4("quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.99)")} AS p99_days,
       |       CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS max_days
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------- q_rfm: recency/frequency/monetary segmentation ----------

  /** RFM segmentation — the marketing-analytics classic: score every
    * customer 1-5 on Recency (days since last order, lower better),
    * Frequency (order count), and Monetary (revenue), with quintile
    * fences from the customer population itself, and report the
    * segment-cell census the campaign targeting reads ("5-5-5 =
    * champions", "1-x-x = lapsed").
    *
    * Shape: one customer-grain aggregate (the only fact pass), ONE
    * fence row via three array-percentile buffers broadcast back,
    * branch-free Σ-exceedance scores (the `q_value_drift` decile
    * trick), and a ≤125-cell census. Parity: integer days/counts/
    * cents; fences ride percentile ≡ quantile_cont; comparisons are
    * double-vs-double with identical operands.
    */
  def rfm(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(max(col("o_orderdate")).as("last_d"),
        count(lit(1)).as("freq"),
        sum(units(col("o_totalprice"), 100.0).cast("long")).as("cents"))
    val maxD = cust.agg(max(col("last_d")).as("gmax"))
    val base = cust.crossJoin(broadcast(maxD))
      .select(col("o_custkey"),
        datediff(col("gmax"), col("last_d")).cast("long").as("rec_days"),
        col("freq"), col("cents"))
    val qs = array((1 to 4).map(i => lit(i * 0.2)): _*)
    val fences = base.agg(
      percentile(col("rec_days"), qs).as("rf"),
      percentile(col("freq"), qs).as("ff"),
      percentile(col("cents"), qs).as("mf"))
    def score(c: org.apache.spark.sql.Column, f: String) = (1 to 4).map(i =>
      when(c.cast("double") > element_at(col(f), i), 1L).otherwise(0L))
      .reduce(_ + _) + 1L
    base.crossJoin(broadcast(fences))
      .select(
        (lit(6L) - score(col("rec_days"), "rf")).as("r_score"),
        score(col("freq"), "ff").as("f_score"),
        score(col("cents"), "mf").as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("r_score", "f_score", "m_score")
  }

  private val sqlRfm = {
    def fences(m: String, n: String) = (1 to 4)
      .map(i => s"quantile_cont($m, ${i * 0.2}) AS ${n}$i").mkString(", ")
    def score(c: String, n: String) = "(" + (1 to 4)
      .map(i => s"(CASE WHEN CAST($c AS DOUBLE) > ${n}$i THEN 1 ELSE 0 END)")
      .mkString(" + ") + " + 1)"
    s"""WITH cust AS (SELECT o_custkey, max(o_orderdate) AS last_d,
       |                     CAST(count(*) AS BIGINT) AS freq,
       |                     CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS cents
       |              FROM orders GROUP BY 1),
       |     g AS (SELECT max(last_d) AS gmax FROM cust),
       |     b AS (SELECT o_custkey,
       |                  CAST(date_diff('day', CAST(last_d AS DATE), CAST(gmax AS DATE)) AS BIGINT) AS rec_days,
       |                  freq, cents
       |           FROM cust CROSS JOIN g),
       |     f AS (SELECT ${fences("rec_days", "rf")}, ${fences("freq", "ff")},
       |                  ${fences("cents", "mf")}
       |           FROM b),
       |     s AS (SELECT CAST(6 - ${score("rec_days", "rf")} AS BIGINT) AS r_score,
       |                  CAST(${score("freq", "ff")} AS BIGINT) AS f_score,
       |                  CAST(${score("cents", "mf")} AS BIGINT) AS m_score
       |           FROM b CROSS JOIN f)
       |SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS n_customers
       |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  // ---------- q_rolling_median: robust rolling window statistic ----------

  /** Rolling 7-day MEDIAN of daily revenue — the robust counterpart
    * of `q_rolling_7d`'s rolling mean (one spiky day drags a mean for
    * a week; the median shrugs it off). Spark has no percentile over
    * window FRAMES, so the shape is the `rollingDistinct` replication
    * trick: each day's value replicates to the ≤7 windows that
    * contain it (a `sequence` explode — bounded fan, equi-join, no
    * BNLJ), then one exact-percentile hash aggregate per window.
    * Window input is the DAY-GRAIN aggregate (calendar-bounded), so
    * the whole query is one fact pass + bounded-grain work.
    * Parity: integer epoch-day indices, exact cents, percentile ≡
    * quantile_cont, one rounded edge.
    */
  def rollingMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("xc"))
      .withColumn("di", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val fan = daily
      .select(col("di"), col("xc"),
        explode_outer(sequence(col("di"), col("di") + 6)).as("wd"))
    val windows = fan.groupBy("wd")
      .agg(count(lit(1)).as("n_days"),
        percentile(col("xc"), lit(0.5)).as("medc"))
    windows.join(daily.select(col("di").as("wd"), col("day")), "wd")
      .select(col("day"), col("n_days"),
        round4(col("medc") / 100.0).as("median_rev"))
      .orderBy("day")
  }

  private val sqlRollingMedian =
    s"""WITH daily AS (SELECT o_orderdate AS day,
       |                      CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS xc,
       |                      CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS di
       |               FROM orders GROUP BY 1),
       |     fan AS (SELECT di, xc, unnest(range(di, di + 7)) AS wd FROM daily),
       |     w AS (SELECT wd, CAST(count(*) AS BIGINT) AS n_days,
       |                  quantile_cont(xc, 0.5) AS medc
       |           FROM fan GROUP BY wd)
       |SELECT day, n_days,
       |       ${duckRound4("medc / 100.0")} AS median_rev
       |FROM w JOIN daily ON w.wd = daily.di
       |ORDER BY day""".stripMargin

  // ---------- q_cusum_drift: change-point detection on daily revenue ----------

  /** One-sided CUSUM drift detector over the daily-revenue series
    * (Page 1954): S_t = max(0, S_{t-1} + (x_t − μ − k)) with slack
    * k = 5% of the global mean — the standard "has the level shifted
    * up?" monitor a warehouse runs over its daily KPIs. The recursion
    * is NOT expressed as a loop: max(0,·)-CUSUM has the closed form
    * S_t = R_t − min(0, min_{j≤t} R_j) where R is the plain running
    * sum of deviations — two window functions, no recursion, no
    * driver pacing.
    *
    * Scale note: both windows order the DAY-grain aggregate (bounded
    * by the calendar, not the fact table) — the fact-scale work is
    * one map-side-combinable daily aggregate. At fact-scale grain the
    * same closed form would partition by series key.
    *
    * Parity: revenue is summed as exact integer CENTS (floor(x·100 +
    * 0.5) — o_totalprice carries 2 decimals, so cents are exact);
    * deviations are scaled by 20n to clear both the mean division
    * (·n) and the 5% slack (·1/20) — ALL window arithmetic is BIGINT,
    * and the two output doubles are single divisions rounded at the
    * edge. (At 100 TB the bigint headroom note: 20n·cents sums
    * approach 2^63 around petadollar volumes — swap to DECIMAL(38,0)
    * then.)
    */
  def cusumDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("xc"))
    val tot = daily.agg(sum(col("xc")).as("tc"), count(lit(1)).as("nd"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(tot))
      .withColumn("dev", lit(20L) * col("nd") * col("xc") - lit(21L) * col("tc"))
      .withColumn("r", sum(col("dev")).over(w))
      .withColumn("m", least(min(col("r")).over(w), lit(0L)))
      .select(col("day"),
        round4(col("xc").cast("double") / 100.0).as("daily_rev"),
        round4((col("r") - col("m")).cast("double")
          / (lit(2000.0) * col("nd").cast("double"))).as("cusum"))
      .orderBy("day")
  }

  private val sqlCusumDrift = {
    s"""WITH daily AS (SELECT o_orderdate AS day,
       |                      CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS xc
       |               FROM orders GROUP BY 1),
       |     tot AS (SELECT CAST(sum(xc) AS BIGINT) AS tc,
       |                    CAST(count(*) AS BIGINT) AS nd FROM daily),
       |     dev AS (SELECT day, xc, nd,
       |                    20 * nd * xc - 21 * tc AS dev
       |             FROM daily CROSS JOIN tot),
       |     win AS (SELECT day, xc, nd,
       |                    CAST(sum(dev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r
       |             FROM dev),
       |     mm AS (SELECT day, xc, nd, r,
       |                   least(min(r) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS m
       |            FROM win)
       |SELECT day, ${duckRound4("CAST(xc AS DOUBLE) / 100.0")} AS daily_rev,
       |       ${duckRound4("CAST(r - m AS DOUBLE) / (2000.0 * CAST(nd AS DOUBLE))")} AS cusum
       |FROM mm ORDER BY day""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_window_nav" -> sqlWindowNav,
    "q_ols_trend" -> sqlOlsTrend,
    "q_theilsen" -> sqlTheilSen,
    "q_seasonal_index" -> sqlSeasonalIndex,
    "q_interpolate" -> sqlInterpolate,
    "q_autocorr" -> sqlAutocorr,
    "q_seasonal_naive" -> sqlSeasonalNaive,
    "q_mase" -> sqlMaseScores,
    "q_mann_kendall" -> sqlMannKendall,
    "q_ltv_curve" -> sqlLtvCurve,
    "q_cusum_drift" -> sqlCusumDrift,
    "q_changepoint" -> sqlChangepoint,
    "q_runs_test" -> sqlRunsTest,
    "q_median_polish" -> sqlMedianPolish,
    "q_order_cycle_time" -> sqlOrderCycleTime,
    "q_rolling_median" -> sqlRollingMedian,
    "q_rfm" -> sqlRfm,
    "q_window_frames" -> sqlWindowFrames,
    "q_full_outer" -> sqlFullOuter,
    "q_unpivot" -> sqlUnpivot,
    "q_rolling_7d" -> sqlRolling7d,
    "q_cohort_retention" -> sqlCohortRetention,
    "q_funnel" -> sqlFunnel,
    "q_gap_fill" -> sqlGapFill,
    "q_salted_agg" -> sqlSaltedAgg,
    "q_minmax_by" -> sqlMinmaxBy,
    "q_percent_rank" -> sqlPercentRank)
}
