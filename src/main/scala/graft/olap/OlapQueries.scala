package graft.olap

import graft.etl.CleanFns
import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckRound6, duckUnits, round4, round6, units}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** OLAP query library over the star schema — the capability the
  * reference's warehouse exists to serve (its NextJS query layer is a
  * separate missing repo, reference `README.md:7`; SURVEY.md §2.6
  * declares the operator set we must provide): hash aggregation,
  * ROLLUP/grouping sets, windows (ranking + frames), top-k, distinct
  * counting, set operations.
  *
  * Determinism rules (SURVEY.md §7.0) applied to every query: total
  * ORDER BY over the output, `round(x, 4)` on every double, BIGINT
  * casts on integer outputs so the DuckDB oracle hashes identically.
  * Where an ORDER BY ranks a double aggregate, the *rounded* value is
  * ranked with an integer tie-break so a last-ulp difference between
  * engines cannot flip the output set.
  *
  * Scale notes: every query below is a scan→(broadcastable dim joins)→
  * partial+final hash aggregate→small ordered output. The only global
  * sorts run on post-aggregation outputs (≤ a few thousand rows at any
  * scale); top-k compiles to TakeOrderedAndProject (no full sort).
  */
object OlapQueries {

  /** §7.2 spine: fact grain rebuilt from source, grouped by product
    * category, revenue per the reference's F9/F10 semantics
    * (`ETL/fact_ETL.py:56,94`: ceil2(quantity*price)).
    */
  def revenueByCategory(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_type").as("category"))
      .agg(
        round(sum(CleanFns.revenue(col("l_quantity"), col("p_retailprice"))), 4).as("total_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("category"))
  }

  /** Fact grain joined out to the geography + segment dimensions —
    * shared input for the rollup. Fact-side joins on customer/nation/
    * region are broadcastable (dims are tiny); the lineitem⋈orders and
    * lineitem⋈part joins are the only potentially large shuffles and
    * AQE converts them to broadcast when a side fits.
    */
  private def revenueCube(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(p, li("l_partkey") === p("p_partkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        col("r_name").as("region"), col("n_name").as("nation"),
        col("c_mktsegment").as("segment"),
        CleanFns.revenue(col("l_quantity"), col("p_retailprice")).as("revenue"))
  }

  /** 10. ROLLUP(region, nation, segment) with grouping flags — the
    * roll-up/drill-down operator of SURVEY.md §2.6. Null group cells
    * are recoded to 'ALL' (data values are never null here) so both
    * engines hash the same strings.
    */
  def revenueRollup(spark: SparkSession, sfDir: String): DataFrame =
    revenueCube(spark, sfDir)
      .rollup(col("region"), col("nation"), col("segment"))
      .agg(
        grouping_id().cast("long").as("gid"),
        round(sum(col("revenue")), 4).as("total_revenue"),
        count(lit(1)).as("n_items"))
      .select(
        coalesce(col("region"), lit("ALL")).as("region"),
        coalesce(col("nation"), lit("ALL")).as("nation"),
        coalesce(col("segment"), lit("ALL")).as("segment"),
        col("gid"), col("total_revenue"), col("n_items"))
      .orderBy("gid", "region", "nation", "segment")

  private val sqlRevenueRollup =
    """SELECT coalesce(region, 'ALL') AS region,
      |       coalesce(nation, 'ALL') AS nation,
      |       coalesce(segment, 'ALL') AS segment,
      |       CAST(GROUPING(region)*4 + GROUPING(nation)*2 + GROUPING(segment) AS BIGINT) AS gid,
      |       round(sum(revenue), 4) AS total_revenue,
      |       count(*) AS n_items
      |FROM (SELECT r_name AS region, n_name AS nation, c_mktsegment AS segment,
      |             ceil(l_quantity * p_retailprice * 100) / 100 AS revenue
      |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |                    JOIN part ON l_partkey = p_partkey
      |                    JOIN customer ON o_custkey = c_custkey
      |                    JOIN nation ON c_nationkey = n_nationkey
      |                    JOIN region ON n_regionkey = r_regionkey)
      |GROUP BY ROLLUP(region, nation, segment)
      |ORDER BY gid, region, nation, segment""".stripMargin

  /** 11. Monthly revenue trend — date_trunc bucketing + sum/avg
    * (SURVEY.md §7.3 #11). Order grain, so no fact join needed. The
    * cent-valued prices sum exactly as DECIMAL; the mean divides that
    * sum once, in doubles, and both engines round4 both measures (each
    * engine's own `round` of a raw-double avg split on the .xxxx5 mean
    * of a seed-7 fixture month).
    */
  def monthlyTrend(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
      .agg(
        sum(col("o_totalprice").cast("decimal(15,2)")).cast("double").as("total"),
        count(lit(1)).as("n_orders"))
      .select(col("month"),
        round4(col("total")).as("total_revenue"),
        round4(col("total") / col("n_orders").cast("double"))
          .as("avg_order_value"),
        col("n_orders"))
      .orderBy("month")

  private val sqlMonthlyTrend =
    s"""WITH m AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       |                  CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS total,
       |                  count(*) AS n_orders
       |           FROM orders GROUP BY 1)
       |SELECT month, ${duckRound4("total")} AS total_revenue,
       |       ${duckRound4("total / CAST(n_orders AS DOUBLE)")} AS avg_order_value,
       |       n_orders
       |FROM m ORDER BY 1""".stripMargin

  /** 12. Top-10 customers by lifetime order value — orderBy+limit
    * compiles to TakeOrderedAndProject (per-partition heap, no global
    * sort). Ranking uses the rounded measure + key tie-break so the
    * selected set is engine-independent.
    */
  def topkCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(round(sum(col("o_totalprice")), 4).as("total_spent"),
        count(lit(1)).as("n_orders"))
      .orderBy(desc("total_spent"), col("c_custkey"))
      .limit(10)
  }

  private val sqlTopkCustomers =
    """SELECT c_custkey, c_name, round(sum(o_totalprice), 4) AS total_spent,
      |       count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2 ORDER BY total_spent DESC, c_custkey LIMIT 10""".stripMargin

  /** 13. Ranking window: top-3 parts per category by units sold.
    * rank() over an integer measure is fully deterministic (ties share
    * a rank; the qualifying row set is identical in both engines).
    */
  def windowRank(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    val counts = li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_type").as("category"), col("p_partkey"))
      .agg(count(lit(1)).as("n_sold"))
    val w = Window.partitionBy(col("category")).orderBy(desc("n_sold"), col("p_partkey"))
    counts.withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy("category", "rnk", "p_partkey")
  }

  private val sqlWindowRank =
    """SELECT * FROM (
      |  SELECT p_type AS category, p_partkey, count(*) AS n_sold,
      |         CAST(rank() OVER (PARTITION BY p_type
      |                           ORDER BY count(*) DESC, p_partkey) AS BIGINT) AS rnk
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2)
      |WHERE rnk <= 3 ORDER BY category, rnk, p_partkey""".stripMargin

  /** 14. Frame window: running total of monthly revenue
    * (rowsBetween unboundedPreceding → current). The cumulative sum
    * adds identical month aggregates in the identical (month) order in
    * both engines, so rounding the output is safe.
    */
  def runningTotal(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = Tables.orders(spark, sfDir)
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
      .agg(sum(col("o_totalprice")).as("rev"))
    val w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .select(col("month"), round(col("rev"), 4).as("monthly_revenue"),
        round(sum(col("rev")).over(w), 4).as("running_total"))
      .orderBy("month")
  }

  private val sqlRunningTotal =
    """WITH m AS (
      |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
      |         sum(o_totalprice) AS rev
      |  FROM orders GROUP BY 1)
      |SELECT month, round(rev, 4) AS monthly_revenue,
      |       round(sum(rev) OVER (ORDER BY month
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total
      |FROM m ORDER BY month""".stripMargin

  /** 15. Distinct buyers per nation — exact count(distinct). The
    * approximate variant (`approx_count_distinct`, Spark's built-in
    * HLL) ships as [[approxDistinctBuyers]] for scale but is excluded
    * from the hash-compared output because HLL estimates are
    * engine-specific (SURVEY.md §7.3 #15).
    */
  def distinctBuyers(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(countDistinct(col("o_custkey")).as("n_buyers"),
        count(lit(1)).as("n_orders"))
      .orderBy("nation")
  }

  /** Scale path for #15: one pass, no distinct-expansion shuffle. */
  def approxDistinctBuyers(spark: SparkSession, sfDir: String, rsd: Double = 0.01): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(approx_count_distinct(col("o_custkey"), rsd).as("n_buyers_approx"))
      .orderBy("nation")
  }

  private val sqlDistinctBuyers =
    """SELECT n_name AS nation, count(DISTINCT o_custkey) AS n_buyers,
      |       count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |            JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** 16. Set operations over customer key sets: buyers of urgent-
    * priority orders vs buyers of low-priority orders — union /
    * intersect / except cardinalities (SURVEY.md §7.3 #16).
    */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    val low = o.filter(col("o_orderpriority") === "5-LOW")
      .select(col("o_custkey")).distinct()
    def counted(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_customers")).select(lit(name).as("op"), col("n_customers"))
    counted("except", urgent.except(low))
      .union(counted("intersect", urgent.intersect(low)))
      .union(counted("union", urgent.union(low).distinct()))
      .orderBy("op")
  }

  private val sqlSetOps =
    """WITH urgent AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
      |     low AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
      |SELECT * FROM (
      |  SELECT 'except' AS op, count(*) AS n_customers FROM (SELECT * FROM urgent EXCEPT SELECT * FROM low)
      |  UNION ALL
      |  SELECT 'intersect', count(*) FROM (SELECT * FROM urgent INTERSECT SELECT * FROM low)
      |  UNION ALL
      |  SELECT 'union', count(*) FROM (SELECT * FROM urgent UNION SELECT * FROM low)
      |) ORDER BY op""".stripMargin

  // ---------- q_discount_revenue: TPC-H Q6 semantics ----------

  /** Forecast-revenue-change query (TPC-H Q6's shape on this star):
    * how much revenue was given away to a discount band in one ship
    * year — a pure scan-filter-aggregate whose plan should be a
    * single whole-stage-codegen'd pass with every predicate pushed to
    * the parquet scan (no join, no shuffle beyond one 1-row combine).
    * Parity: the per-row giveaway ext·disc lands in a round6-DECIMAL
    * before the cross-row sum (order-independent), one rounded edge.
    */
  def discountRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .filter(year(col("l_shipdate")) === 1996
        && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_items"),
        sum(round6(col("l_extendedprice") * col("l_discount")).cast("decimal(28,6)")).as("rev_dec"))
      .select(col("n_items"),
        round(col("rev_dec").cast("double"), 4).as("promo_revenue"))
  }

  private val sqlDiscountRevenue =
    s"""SELECT count(*) AS n_items,
      |       round(CAST(sum(CAST(${duckRound6("l_extendedprice * l_discount")} AS DECIMAL(28,6))) AS DOUBLE), 4) AS promo_revenue
      |FROM lineitem
      |WHERE date_part('year', l_shipdate) = 1996
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // ---------- q_local_supply: TPC-H Q5 semantics ----------

  /** Local-supplier revenue per nation (TPC-H Q5's join shape): line
    * items where the ordering customer and the supplier sit in the
    * SAME nation, one ship year, revenue per nation. The classic
    * star-join stress: fact ⋈ orders (key-partitioned, the one big
    * shuffle) with customer/supplier/nation as broadcast-joined
    * lookups; the same-nation predicate applies AFTER the lookups —
    * at 100 TB only the fact⋈orders exchange moves data. (TPC-H
    * customer/supplier scale with SF; at warehouse scale these become
    * shuffle joins and the plan degrades gracefully under AQE — the
    * nation table stays the only true broadcast.)
    */
  def localSupply(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir).filter(year(col("o_orderdate")) === 1996)
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_items"),
        sum(round6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(28,6)"))
          .as("rev_dec"))
      .select(col("nation"), col("n_items"),
        round(col("rev_dec").cast("double"), 4).as("revenue"))
      .orderBy("nation")
  }

  private val sqlLocalSupply =
    s"""SELECT n_name AS nation, count(*) AS n_items,
      |       round(CAST(sum(CAST(${duckRound6("l_extendedprice * (1.0 - l_discount)")} AS DECIMAL(28,6))) AS DOUBLE), 4) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE date_part('year', o_orderdate) = 1996
      |  AND c_nationkey = s_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_top_returners: TPC-H Q10 semantics ----------

  /** Top-20 customers by returned-item revenue (TPC-H Q10's shape) —
    * the "who is sending the most value back" review. Revenue
    * accumulates as EXACT integer cents so the top-20 rank is an
    * integer order (no float-rank hazard by construction), taken via
    * orderBy+limit (TakeOrdered — per-partition top-k partials, never
    * a global sort).
    */
  def topReturners(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).filter(col("l_returnflag") === "R")
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(lit(1)).as("n_items"),
        sum(units(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 100.0).cast("long")).as("cents"))
      .orderBy(col("cents").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_items"),
        round(col("cents").cast("double") / 100.0, 4).as("returned_revenue"))
  }

  private val sqlTopReturners =
    s"""WITH g AS (SELECT c_custkey, c_name, count(*) AS n_items,
      |                  CAST(sum(CAST(${duckUnits("l_extendedprice * (1.0 - l_discount)", 100.0)} AS BIGINT)) AS BIGINT) AS cents
      |           FROM lineitem
      |           JOIN orders ON l_orderkey = o_orderkey
      |           JOIN customer ON o_custkey = c_custkey
      |           WHERE l_returnflag = 'R'
      |           GROUP BY 1, 2)
      |SELECT c_custkey, c_name, n_items,
      |       round(CAST(cents AS DOUBLE) / 100.0, 4) AS returned_revenue
      |FROM g ORDER BY cents DESC, c_custkey LIMIT 20""".stripMargin

  // ---------- q_return_rate: brand return-rate KPI ----------

  /** Return rate per brand — items and revenue coming back as a share
    * of what shipped, the quality KPI next to `q_top_returners`'
    * customer cut (a brand whose revenue-weighted return rate runs
    * ahead of its item rate is returning its EXPENSIVE items — the
    * column pair exists to expose exactly that gap).
    *
    * Shape: one lineitem⋈part equi-join (AQE-planned; part scales
    * with SF, so no forced broadcast) + a brand-grain conditional
    * aggregate. Exact integer cents/counts; two rounded shares.
    */
  def returnRate(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = units(col("l_extendedprice"), 100.0).cast("long")
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_items"),
        count(when(col("l_returnflag") === "R", lit(1))).as("n_returned"),
        sum(cents).as("cents_all"),
        sum(when(col("l_returnflag") === "R", cents).otherwise(lit(0L)))
          .as("cents_returned"))
      .select(col("brand"), col("n_items"), col("n_returned"),
        round(col("n_returned").cast("double") / col("n_items").cast("double"), 4)
          .as("item_return_rate"),
        round(col("cents_returned").cast("double") / col("cents_all").cast("double"), 4)
          .as("revenue_return_rate"))
      .orderBy("brand")
  }

  private val sqlReturnRate =
    s"""WITH g AS (SELECT p_brand AS brand, count(*) AS n_items,
      |                  CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT) AS n_returned,
      |                  CAST(sum(CAST(${duckUnits("l_extendedprice", 100.0)} AS BIGINT)) AS BIGINT) AS cents_all,
      |                  CAST(sum(CASE WHEN l_returnflag = 'R'
      |                           THEN CAST(${duckUnits("l_extendedprice", 100.0)} AS BIGINT)
      |                           ELSE 0 END) AS BIGINT) AS cents_returned
      |           FROM lineitem JOIN part ON l_partkey = p_partkey
      |           GROUP BY 1)
      |SELECT brand, n_items, n_returned,
      |       round(CAST(n_returned AS DOUBLE) / CAST(n_items AS DOUBLE), 4) AS item_return_rate,
      |       round(CAST(cents_returned AS DOUBLE) / CAST(cents_all AS DOUBLE), 4) AS revenue_return_rate
      |FROM g ORDER BY brand""".stripMargin

  // ---------- q_discount_uplift: quantity response to discounting ----------

  /** Quantity uplift per discount band — the first-order price-
    * response read a pricing review starts from: average units per
    * line at each discount level, with the lift over the
    * zero-discount baseline. (Causality caveats apply — this is the
    * descriptive table, not the elasticity model.)
    *
    * Parity: discount bands are exact integer basis points
    * (floor(d·100+0.5) — the synthetic discounts carry 2 decimals);
    * quantities are exact integer sums; averages and lift are
    * fixed-shape divisions rounded at the edge. One bounded
    * band-grain aggregate + a 1-row baseline broadcast.
    */
  def discountUplift(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = Tables.lineitem(spark, sfDir)
      .select(units(col("l_discount"), 100.0).cast("long").as("disc_pct"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("disc_pct")
      .agg(count(lit(1)).as("n_lines"), sum(col("qty")).as("units"))
    val baseline = bands.filter(col("disc_pct") === 0)
      .select((col("units").cast("double") / col("n_lines").cast("double"))
        .as("base_avg"))
    bands.crossJoin(broadcast(baseline))
      .select(col("disc_pct"), col("n_lines"),
        round(col("units").cast("double") / col("n_lines").cast("double"), 4)
          .as("avg_qty"),
        round((col("units").cast("double") / col("n_lines").cast("double"))
          / col("base_avg"), 4).as("lift_vs_no_discount"))
      .orderBy("disc_pct")
  }

  private val sqlDiscountUplift =
    s"""WITH b AS (SELECT CAST(${duckUnits("l_discount", 100.0)} AS BIGINT) AS disc_pct,
      |                  count(*) AS n_lines,
      |                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS units
      |           FROM lineitem GROUP BY 1),
      |     base AS (SELECT CAST(units AS DOUBLE) / CAST(n_lines AS DOUBLE) AS base_avg
      |              FROM b WHERE disc_pct = 0)
      |SELECT disc_pct, n_lines,
      |       round(CAST(units AS DOUBLE) / CAST(n_lines AS DOUBLE), 4) AS avg_qty,
      |       round((CAST(units AS DOUBLE) / CAST(n_lines AS DOUBLE)) / base_avg, 4) AS lift_vs_no_discount
      |FROM b CROSS JOIN base
      |ORDER BY disc_pct""".stripMargin

  // ---------- q_hhi: supplier-concentration Herfindahl index ----------

  /** Herfindahl-Hirschman concentration of supplier revenue per
    * nation — the antitrust-grade concentration number beside
    * `q_gini_revenue`'s customer inequality: HHI = Σ shareᵢ² (0 =
    * atomized, 1 = monopoly supplier), computed as the RATIONAL
    * Σcᵢ²/(Σcᵢ)² so everything is exact integers until one division.
    *
    * Shape: supplier-grain revenue aggregate (key-partitioned) →
    * nation-grain Σc and Σc² + broadcast nation lookup. (Headroom:
    * Σcᵢ² nears 2⁶³ around 3·10⁹-cent single-supplier nations —
    * widen to DECIMAL past ~$30M per supplier; noted, not hit here.)
    */
  def hhi(spark: SparkSession, sfDir: String): DataFrame = {
    val supRev = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_suppkey"))
      .agg(sum(units(col("l_extendedprice"), 100.0).cast("long")).as("c"))
    val s = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    supRev.join(s, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("c")).as("tot"),
        // c² overflows int64 at real revenue magnitudes — exact DECIMAL
        sum(col("c").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
          .as("sumsq"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_suppliers"),
        round(col("sumsq").cast("double")
          / (col("tot").cast("double") * col("tot").cast("double")), 4).as("hhi"))
      .orderBy("nation")
  }

  private val sqlHhi =
    s"""WITH sr AS (SELECT l_suppkey,
      |                   CAST(sum(CAST(${duckUnits("l_extendedprice", 100.0)} AS BIGINT)) AS BIGINT) AS c
      |            FROM lineitem GROUP BY 1),
      |     g AS (SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
      |                  CAST(sum(c) AS BIGINT) AS tot,
      |                  sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sumsq
      |           FROM sr JOIN supplier ON l_suppkey = s_suppkey
      |           GROUP BY 1)
      |SELECT n_name AS nation, n_suppliers,
      |       round(CAST(sumsq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 4) AS hhi
      |FROM g JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY nation""".stripMargin

  // ---------- q_sql_surface: one ANSI string, two engines ----------

  /** The SQL-user entry path under the correctness gate: a single
    * ANSI query string — regional quarterly revenue with each
    * quarter's share of its region-year via a window — executed
    * VERBATIM by `spark.sql` over registered temp views AND by the
    * DuckDB oracle. Proves a reference user who only writes SQL can
    * drive this engine with the exact text they run today: shared
    * dialect surface (year/quarter, integer-cent aggregation, window
    * SUM, the floor-based round4) with zero per-engine edits.
    *
    * Scale: star join with broadcastable dims (AQE plans the
    * customer join), month-grain output, region×year windows over
    * quarter rows (bounded).
    */
  private val sharedSql =
    s"""WITH rev AS (
      |  SELECT r_name AS region,
      |         CAST(year(o_orderdate) AS BIGINT) AS yr,
      |         CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      |         CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |       JOIN nation ON c_nationkey = n_nationkey
      |       JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2, 3)
      |SELECT region, yr, qtr, cents,
      |       floor(CAST(cents AS DOUBLE)
      |             / CAST(sum(cents) OVER (PARTITION BY region, yr) AS DOUBLE)
      |             * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |         / CAST(10000.0 AS DOUBLE) AS qtr_share
      |FROM rev ORDER BY region, yr, qtr""".stripMargin

  def sqlSurface(spark: SparkSession, sfDir: String): DataFrame = {
    Seq("orders", "customer", "nation", "region").foreach { t =>
      Tables(spark, sfDir, t).createOrReplaceTempView(t)
    }
    spark.sql(sharedSql)
  }

  // ---------- q_big_orders: TPC-H Q18 shape (large-volume orders) ----------

  /** Large-volume customers (TPC-H Q18's shape on this schema):
    * orders whose total line quantity exceeds a threshold, with the
    * customer attached — the HAVING-then-join-back pattern (aggregate
    * a fact to its parent grain, filter on the aggregate, enrich the
    * survivors) that generalizes to every "find the whales" report.
    *
    * Shape: one lineitem→orderkey hash aggregate with the HAVING
    * filter applied BEFORE the joins (survivors only — at any SF the
    * join input is the handful of whales, not the fact table), then
    * orders⋈customer enrichment and an integer-ordered top-20
    * (TakeOrderedAndProject; quantity sums are exact integers via
    * cents-free casts).
    */
  def bigOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val qty = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > 150L)
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name"))
    qty.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(20)
  }

  private val sqlBigOrders =
    """WITH q AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |           FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 150)
      |SELECT c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |       total_qty
      |FROM q JOIN orders ON l_orderkey = o_orderkey
      |       JOIN customer ON o_custkey = c_custkey
      |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin

  // ---------- q_strat_ate: stratified treatment-effect adjustment ----------

  /** Stratified (exact-matching) average treatment effect of
    * discounting on line quantity, adjusting for product brand — the
    * causal step AFTER [[discountUplift]]'s descriptive table and the
    * constructive answer to `q_simpson_slopes`' warning: the naive
    * treated-vs-control difference mixes product composition into the
    * "effect"; stratifying on brand and re-weighting per-stratum
    * differences by stratum size (Cochran 1968 subclassification,
    * the identity-matching limit of propensity adjustment) removes
    * exactly that confounding axis. Emits both the naive and the
    * adjusted estimate — the gap IS the composition bias.
    *
    * Shape: one fact pass to (brand × arm) integer cells (25-bounded),
    * a 1-row totals broadcast, per-stratum difference terms ROUND6ed
    * into DECIMAL before the cross-stratum sum (the order-independent
    * sum rule — 25 doubles in engine order would differ in the last
    * ulp). Strata missing an arm are EXCLUDED on both sides (no
    * within-stratum counterfactual), and totals are over kept strata
    * so naive and adjusted read on the same population. All integer
    * until the fixed-shape edge divisions.
    */
  def stratAte(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"),
        (col("l_discount") > 0).cast("long").as("t"),
        col("l_quantity").cast("long").as("qty"))
    val p = Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand"))
    val cells = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(col("t")).as("n1"), count(lit(1)).as("n"),
        sum(col("t") * col("qty")).as("s1"), sum(col("qty")).as("s"))
      .withColumn("n0", col("n") - col("n1"))
      .withColumn("s0", col("s") - col("s1"))
      .filter(col("n1") > 0 && col("n0") > 0)
      .localCheckpoint(true) // staged: totals + the term pass read the cells
    val tot = cells.agg(count(lit(1)).as("kb"), sum(col("n1")).as("nt1"),
      sum(col("n0")).as("nt0"), sum(col("s1")).as("st1"),
      sum(col("s0")).as("st0"), sum(col("n")).as("nn"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val term = d(col("n")) / d(col("nn")) *
      (d(col("s1")) / d(col("n1")) - d(col("s0")) / d(col("n0")))
    cells.crossJoin(broadcast(tot))
      .withColumn("t6",
        round6(term).cast("decimal(28,6)"))
      .groupBy("kb", "nt1", "nt0", "st1", "st0")
      .agg(sum(col("t6")).as("ate6"))
      .select(col("kb").as("n_strata"),
        col("nt1").as("n_treated"), col("nt0").as("n_control"),
        round4(
          d(col("st1")) / d(col("nt1")) - d(col("st0")) / d(col("nt0")))
          .as("naive_diff"),
        round4(col("ate6").cast("double")).as("strat_ate"))
  }

  private val sqlStratAte = {
    val term = "(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) * " +
      "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)))"
    s"""WITH li AS (SELECT l_partkey, CASE WHEN l_discount > 0 THEN 1 ELSE 0 END AS t,
       |                   CAST(l_quantity AS BIGINT) AS qty
       |            FROM lineitem),
       |     cells0 AS (SELECT p_brand AS brand, CAST(sum(t) AS BIGINT) AS n1,
       |                       CAST(count(*) AS BIGINT) AS n,
       |                       CAST(sum(t * qty) AS BIGINT) AS s1,
       |                       CAST(sum(qty) AS BIGINT) AS s
       |                FROM li JOIN part ON l_partkey = p_partkey GROUP BY 1),
       |     cells AS (SELECT brand, n1, n, s1, s, n - n1 AS n0, s - s1 AS s0
       |               FROM cells0 WHERE n1 > 0 AND n - n1 > 0),
       |     tot AS (SELECT CAST(count(*) AS BIGINT) AS kb, CAST(sum(n1) AS BIGINT) AS nt1,
       |                    CAST(sum(n0) AS BIGINT) AS nt0, CAST(sum(s1) AS BIGINT) AS st1,
       |                    CAST(sum(s0) AS BIGINT) AS st0, CAST(sum(n) AS BIGINT) AS nn
       |             FROM cells),
       |     a AS (SELECT kb, nt1, nt0, st1, st0,
       |                  sum(CAST(${duckRound6(term)}
       |                        AS DECIMAL(28,6))) AS ate6
       |           FROM cells CROSS JOIN tot
       |           GROUP BY 1, 2, 3, 4, 5)
       |SELECT kb AS n_strata, nt1 AS n_treated, nt0 AS n_control,
       |       ${duckRound4(
                  "CAST(st1 AS DOUBLE) / CAST(nt1 AS DOUBLE) - CAST(st0 AS DOUBLE) / CAST(nt0 AS DOUBLE)")} AS naive_diff,
       |       ${duckRound4("CAST(ate6 AS DOUBLE)")} AS strat_ate
       |FROM a""".stripMargin
  }

  // ---------- q_ipf_rake: iterative proportional fitting (raking) ----------

  /** Survey raking / IPF (Deming & Stephan 1940): calibrate a
    * deterministic ⅓ sample of orders (o_orderkey % 3 = 0) to the
    * FULL population's month and segment margins by alternating
    * proportional sweeps — the weighting step every survey/panel
    * pipeline runs so a skewed sample reports population-valid
    * totals, and [[stratAte]]'s generalization from one stratifier
    * to two. Three sweeps (row, column, row — ending on the month
    * sweep so the SEGMENT margins still show a residual), then per
    * segment: the raked mass vs the true margin and the remaining
    * relative gap (near 0 = converged in 1½ rounds).
    *
    * Shape: ONE fact pass to a (month × segment) grid carrying BOTH
    * the population and the sample count per cell (margins are
    * rollups of that grid — never a second fact scan), then three
    * broadcast-join sweeps over dim-grain rows, each sweep
    * localCheckpoint'd because the next references it twice
    * (denominator rollup + join back; unstaged, the plan re-derived
    * the fact join once per branch — 8 fact scans observed). Parity:
    * every sweep output is ROUND6ed into DECIMAL before it feeds ANY
    * sum (sweep denominators and final masses are exact DECIMAL sums
    * — partition order can never perturb them); the ratio arithmetic
    * is fixed-shape doubles over those exact values.
    */
  def ipfRake(spark: SparkSession, sfDir: String): DataFrame = {
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val grid = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"),
        col("c_mktsegment").as("seg"), col("o_orderkey"))
      .groupBy("m", "seg")
      .agg(count(lit(1)).as("tc"),
        count(when(col("o_orderkey") % 3 === 0, lit(1))).as("c0"))
      .localCheckpoint(true) // staged: margins + cells all read this grid
    val rowMargin = grid.groupBy("m").agg(sum(col("tc")).as("tm"))
    val colMargin = grid.groupBy("seg").agg(sum(col("tc")).as("ts"))
    val cells = grid.filter(col("c0") > 0).select(col("m"), col("seg"), col("c0"))
    val s1 = cells
      .join(broadcast(cells.groupBy("m").agg(sum(col("c0")).as("rt0"))), "m")
      .join(broadcast(rowMargin), "m")
      .withColumn("c1", round6(dd(col("c0")) * dd(col("tm")) / dd(col("rt0"))).cast("decimal(28,6)"))
      .localCheckpoint(true)
    val s2 = s1
      .join(broadcast(s1.groupBy("seg").agg(sum(col("c1")).as("ct1"))), "seg")
      .join(broadcast(colMargin), "seg")
      .withColumn("c2", round6(dd(col("c1")) * dd(col("ts")) / dd(col("ct1"))).cast("decimal(28,6)"))
      .localCheckpoint(true)
    val s3 = s2
      .join(broadcast(s2.groupBy("m").agg(sum(col("c2")).as("rt2"))), "m")
      .withColumn("c3", round6(dd(col("c2")) * dd(col("tm")) / dd(col("rt2"))).cast("decimal(28,6)"))
    s3.groupBy("seg", "ts")
      .agg(count(lit(1)).as("n_cells"), sum(col("c3")).as("mass"))
      .select(col("seg"), col("n_cells"), col("ts").as("target"),
        round4(dd(col("mass"))).as("raked_mass"),
        round4(
          (dd(col("mass")) - dd(col("ts"))) / dd(col("ts"))).as("rel_gap"))
      .orderBy("seg")
  }

  private val sqlIpfRake = {
    s"""WITH al AS (SELECT strftime(o_orderdate, '%Y-%m') AS m, c_mktsegment AS seg,
       |                   o_orderkey
       |            FROM orders JOIN customer ON o_custkey = c_custkey),
       |     rmg AS (SELECT m, CAST(count(*) AS BIGINT) AS tm FROM al GROUP BY 1),
       |     cmg AS (SELECT seg, CAST(count(*) AS BIGINT) AS ts FROM al GROUP BY 1),
       |     cells AS (SELECT m, seg, CAST(count(*) AS BIGINT) AS c0
       |               FROM al WHERE o_orderkey % 3 = 0 GROUP BY 1, 2),
       |     rt0 AS (SELECT m, sum(c0) AS rt0 FROM cells GROUP BY 1),
       |     s1 AS (SELECT cells.m, seg,
       |                   CAST(${duckRound6("CAST(c0 AS DOUBLE) * CAST(tm AS DOUBLE) / CAST(rt0 AS DOUBLE)")} AS DECIMAL(28,6)) AS c1
       |            FROM cells JOIN rt0 ON cells.m = rt0.m JOIN rmg ON cells.m = rmg.m),
       |     ct1 AS (SELECT seg, sum(c1) AS ct1 FROM s1 GROUP BY 1),
       |     s2 AS (SELECT m, s1.seg,
       |                   CAST(${duckRound6("CAST(c1 AS DOUBLE) * CAST(ts AS DOUBLE) / CAST(ct1 AS DOUBLE)")} AS DECIMAL(28,6)) AS c2
       |            FROM s1 JOIN ct1 ON s1.seg = ct1.seg JOIN cmg ON s1.seg = cmg.seg),
       |     rt2 AS (SELECT m, sum(c2) AS rt2 FROM s2 GROUP BY 1),
       |     s3 AS (SELECT s2.m, seg,
       |                   CAST(${duckRound6("CAST(c2 AS DOUBLE) * CAST(tm AS DOUBLE) / CAST(rt2 AS DOUBLE)")} AS DECIMAL(28,6)) AS c3
       |            FROM s2 JOIN rt2 ON s2.m = rt2.m JOIN rmg ON s2.m = rmg.m),
       |     f AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_cells, sum(c3) AS mass
       |           FROM s3 GROUP BY 1)
       |SELECT f.seg, n_cells, ts AS target,
       |       ${duckRound4("CAST(mass AS DOUBLE)")} AS raked_mass,
       |       ${duckRound4("(CAST(mass AS DOUBLE) - CAST(ts AS DOUBLE)) / CAST(ts AS DOUBLE)")} AS rel_gap
       |FROM f JOIN cmg ON f.seg = cmg.seg ORDER BY f.seg""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ipf_rake" -> (ipfRake _),
    "q_strat_ate" -> (stratAte _),
    "q_big_orders" -> (bigOrders _),
    "q_sql_surface" -> (sqlSurface _),
    "q_discount_uplift" -> (discountUplift _),
    "q_hhi" -> (hhi _),
    "q_return_rate" -> (returnRate _),
    "q_discount_revenue" -> (discountRevenue _),
    "q_local_supply" -> (localSupply _),
    "q_top_returners" -> (topReturners _),
    "q_revenue_by_category" -> (revenueByCategory _),
    "q_revenue_rollup" -> (revenueRollup _),
    "q_monthly_trend" -> (monthlyTrend _),
    "q_topk_customers" -> (topkCustomers _),
    "q_window_rank" -> (windowRank _),
    "q_running_total" -> (runningTotal _),
    "q_distinct_buyers" -> (distinctBuyers _),
    "q_setops" -> (setOps _))

  val oracle: Map[String, String] = Map(
    "q_ipf_rake" -> sqlIpfRake,
    "q_strat_ate" -> sqlStratAte,
    "q_big_orders" -> sqlBigOrders,
    "q_sql_surface" -> sharedSql,
    "q_discount_uplift" -> sqlDiscountUplift,
    "q_hhi" -> sqlHhi,
    "q_return_rate" -> sqlReturnRate,
    "q_discount_revenue" -> sqlDiscountRevenue,
    "q_local_supply" -> sqlLocalSupply,
    "q_top_returners" -> sqlTopReturners,
    "q_revenue_by_category" ->
      """SELECT p_type AS category,
        |       round(sum(ceil(l_quantity * p_retailprice * 100) / 100), 4) AS total_revenue,
        |       count(*) AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_revenue_rollup" -> sqlRevenueRollup,
    "q_monthly_trend" -> sqlMonthlyTrend,
    "q_topk_customers" -> sqlTopkCustomers,
    "q_window_rank" -> sqlWindowRank,
    "q_running_total" -> sqlRunningTotal,
    "q_distinct_buyers" -> sqlDistinctBuyers,
    "q_setops" -> sqlSetOps)
}
