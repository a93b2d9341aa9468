package graft.olap

import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckRound6, duckUnits, round4, round6, units}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Classic warehouse SUBQUERY shapes (TPC-H Q2/Q3/Q4/Q7/Q8/Q9/Q11/
  * Q12/Q13/Q14/Q15/Q16/Q17/Q19/Q20/Q21/Q22 analogs, adapted to the
  * columns this dataset carries — no partsupp/commitdate/shipmode, so
  * each query keeps the SHAPE that makes the original a planner
  * benchmark and re-targets the predicate columns): correlated scalar
  * subqueries (min/avg), uncorrelated scalar subqueries against an
  * aggregate, EXISTS/NOT-EXISTS/NOT-IN nesting, non-equi correlated
  * EXISTS, left-join count distributions, conditional dual
  * aggregates, limit-ranked aggregates, and disjunctive join
  * predicates. The reference's query surface is plain ANSI SQL
  * (`/root/reference/OLAP/olapapp.py` renders star-schema SQL), so
  * these pin the subquery surface a migrating SQL user hits next.
  *
  * Spark-first: every scalar subquery is a 1-row aggregate
  * cross-joined back with an explicit `broadcast()` (never a
  * `.collect()`), correlated subqueries decorrelate into grain
  * aggregates joined on the correlation key (the plan Catalyst's
  * RewriteCorrelatedScalarSubquery produces from the SQL form —
  * declared directly here so the join keys are visible for AQE), and
  * EXISTS/NOT EXISTS become leftsemi/leftanti joins.
  *
  * Parity: money sums use the micro-unit DECIMAL convention
  * (floor(x·1e6+0.5)/1e6 per row cast DECIMAL(28,6), summed exactly,
  * one rounded edge) and every threshold compare is exact integer /
  * decimal arithmetic on both engines — never a float boundary.
  */
object Subqueries {

  private val rev = "l_extendedprice * (1.0 - l_discount)"
  /** The revenue row term in micro-units: exact DECIMAL accumulation. */
  private val revDec = round6(expr(rev)).cast("decimal(28,6)")
  private val duckRevDec = s"CAST(${duckRound6(rev)} AS DECIMAL(28,6))"

  // ---------- q_small_qty_revenue: correlated scalar subquery (TPC-H Q17) ----------

  /** Small-quantity-order revenue per brand — Q17's correlated scalar
    * subquery `l_quantity < 0.2 * (SELECT avg(l_quantity) FROM
    * lineitem WHERE l_partkey = outer.l_partkey)`, decorrelated into
    * a per-part (n, sum_qty) aggregate joined back on partkey: the
    * shape Catalyst itself rewrites the SQL form into, declared
    * directly. The threshold compare is kept EXACT: `qty < 0.2 ·
    * sum/n` is evaluated as `qty · 5 · n < sum_qty` — quantities are
    * integral, so both sides are exact integers in double space (far
    * under 2^53) and no float-boundary row can flip between engines.
    *
    * Scale: part grain is fact-proportional, so the per-part
    * aggregate and the join both shuffle on l_partkey — co-located,
    * one exchange each, no broadcast of a scaling side. At 100 TB
    * this is two map-side-combinable hash aggregates and one
    * shuffle join; AQE handles any hot-part skew.
    */
  def smallQtyRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("n_i"), sum(col("l_quantity")).as("qty_i"))
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") * 5.0 * col("n_i") < col("qty_i"))
      .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_small"),
        sum(revDec).as("rev_dec"))
      .select(col("brand"), col("n_small"),
        round(col("rev_dec").cast("double"), 4).as("revenue"))
      .orderBy("brand")
  }

  private val sqlSmallQtyRevenue =
    s"""WITH pp AS (SELECT l_partkey AS pk, count(*) AS n_i, sum(l_quantity) AS qty_i
       |            FROM lineitem GROUP BY 1)
       |SELECT p_brand AS brand, count(*) AS n_small,
       |       round(CAST(sum($duckRevDec) AS DOUBLE), 4) AS revenue
       |FROM lineitem JOIN pp ON l_partkey = pk
       |JOIN part ON l_partkey = p_partkey
       |WHERE l_quantity * 5.0 * n_i < qty_i
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_lapsed_above_avg: scalar subquery + anti-join (TPC-H Q22) ----------

  /** High-balance lapsed customers per nation — Q22's shape: an
    * uncorrelated scalar subquery (global average account balance)
    * gating the outer scan, composed with NOT EXISTS against recent
    * orders (here: no order since 2000-08-01 — every customer has
    * SOME order in this data, so the classic "never ordered" filter
    * would be vacuous). The average compare is exact integer
    * arithmetic: `bal > sum/n` evaluated as `bal_cents · n >
    * sum_cents` over BIGINT cents — no float boundary.
    *
    * Scale: the scalar is a broadcast 1-row aggregate; the NOT
    * EXISTS is a left-anti join shuffled on custkey against the
    * date-filtered orders (filter pushed to the scan); output is
    * nation grain.
    */
  def lapsedAboveAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .withColumn("bal_cents", units(col("c_acctbal"), 100.0).cast("long"))
    val stats = c.agg(count(lit(1)).as("n_cust"), sum(col("bal_cents")).as("tot_cents"))
    val recent = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("2000-08-01").cast("timestamp"))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(stats))
      .filter(col("bal_cents") * col("n_cust") > col("tot_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_lapsed"),
        sum(col("bal_cents")).as("sum_cents"))
      .select(col("nation"), col("n_lapsed"),
        round(col("sum_cents").cast("double") / 100.0, 2).as("sum_acctbal"))
      .orderBy("nation")
  }

  private val sqlLapsedAboveAvg =
    s"""WITH c AS (SELECT *, CAST(${duckUnits("c_acctbal", 100.0)} AS BIGINT) AS bal_cents
      |           FROM customer),
      |     st AS (SELECT count(*) AS n_cust, sum(bal_cents) AS tot_cents FROM c)
      |SELECT n_name AS nation, count(*) AS n_lapsed,
      |       round(CAST(sum(bal_cents) AS DOUBLE) / 100.0, 2) AS sum_acctbal
      |FROM c CROSS JOIN st
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE bal_cents * n_cust > tot_cents
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderdate >= TIMESTAMP '2000-08-01')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_order_count_dist: left-join count distribution (TPC-H Q13) ----------

  /** Distribution of orders-per-customer — Q13: LEFT join customers
    * to orders so zero-order customers are counted in the 0 bucket,
    * aggregate to customer grain, then re-aggregate the counts into
    * a (n_orders → n_customers) histogram. Two hash aggregates and
    * one shuffle join, all integer arithmetic.
    *
    * Scale: both aggregates are map-side combinable; the join
    * shuffles on custkey. The histogram output is bounded by the max
    * per-customer order count, not by table size.
    */
  def orderCountDist(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
    perCust.groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_orders")
  }

  private val sqlOrderCountDist =
    """WITH pc AS (SELECT c_custkey, count(o_orderkey) AS n_orders
      |            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |            GROUP BY 1)
      |SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
      |FROM pc GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_bracket_revenue: disjunctive join predicates (TPC-H Q19) ----------

  private case class Bracket(label: String, brand: String,
                             sizeMax: Int, qtyLo: Int, qtyHi: Int)
  private val Brackets = Seq(
    Bracket("small", "Brand#12", 5, 1, 11),
    Bracket("medium", "Brand#23", 10, 10, 20),
    Bracket("large", "Brand#21", 15, 20, 30))

  /** Bracketed promo revenue — Q19's signature OR-of-conjunctions
    * join predicate: three (brand, size-range, quantity-range)
    * brackets OR'd inside the lineitem⋈part condition. The planner
    * test the original poses is whether the common `l_partkey =
    * p_partkey` conjunct is factored out of the disjunction so the
    * join stays an equi-join with a residual filter (Spark's
    * extractEquiJoinKeys does; verified in the plan — a nested-loop
    * join here would be quadratic). Brands are distinct across
    * brackets, so bracket labels partition the matches and each
    * bracket row is non-vacuous at sf0.01 (64/67/153 items).
    */
  def bracketRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    def arm(b: Bracket): Column =
      col("p_brand") === b.brand &&
        col("p_size").between(1, b.sizeMax) &&
        col("l_quantity").between(b.qtyLo, b.qtyHi)
    val joined = li.join(p,
      col("l_partkey") === col("p_partkey") && Brackets.map(arm).reduce(_ || _))
    val label = Brackets.tail.foldLeft(
        when(arm(Brackets.head), Brackets.head.label)) { (acc, b) =>
        acc.when(arm(b), b.label)
      }
    joined.withColumn("bracket", label)
      .groupBy("bracket")
      .agg(count(lit(1)).as("n_items"), sum(revDec).as("rev_dec"))
      .select(col("bracket"), col("n_items"),
        round(col("rev_dec").cast("double"), 4).as("revenue"))
      .orderBy("bracket")
  }

  private val sqlBracketRevenue = {
    def armSql(b: Bracket): String =
      s"(p_brand = '${b.brand}' AND p_size BETWEEN 1 AND ${b.sizeMax} " +
        s"AND l_quantity BETWEEN ${b.qtyLo} AND ${b.qtyHi})"
    val arms = Brackets.map(armSql)
    val label = Brackets.map(b => s"WHEN ${armSql(b)} THEN '${b.label}'")
      .mkString("CASE ", " ", " END")
    s"""SELECT $label AS bracket, count(*) AS n_items,
       |       round(CAST(sum($duckRevDec) AS DOUBLE), 4) AS revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE ${arms.mkString("\n   OR ")}
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------- q_nation_volume: two-sided nation join (TPC-H Q7) ----------

  /** Cross-border shipping volume — Q7: revenue between every
    * (supplier nation → customer nation) pair for ship-years
    * 1998-1999, excluding domestic flows. The nation dim joins in
    * TWICE under different aliases (the self-alias shape that
    * breaks naive column resolution); both are explicit broadcasts.
    * Supplier and customer scale with SF, so those joins shuffle.
    */
  def nationVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(year(col("l_shipdate")).between(1998, 1999))
    val n = Tables.nation(spark, sfDir)
    val sn = n.select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    val cn = n.select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
    li.join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("snk"))
      .join(broadcast(cn), col("c_nationkey") === col("cnk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("ship_year"))
      .agg(count(lit(1)).as("n_items"), sum(revDec).as("rev_dec"))
      .select(col("supp_nation"), col("cust_nation"), col("ship_year"),
        col("n_items"), round(col("rev_dec").cast("double"), 4).as("volume"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  private val sqlNationVolume =
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       |       CAST(date_part('year', l_shipdate) AS INT) AS ship_year,
       |       count(*) AS n_items,
       |       round(CAST(sum($duckRevDec) AS DOUBLE), 4) AS volume
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation sn ON s_nationkey = sn.n_nationkey
       |JOIN nation cn ON c_nationkey = cn.n_nationkey
       |WHERE date_part('year', l_shipdate) BETWEEN 1998 AND 1999
       |  AND sn.n_name <> cn.n_name
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------- q_market_share: share-of-total ratio (TPC-H Q8) ----------

  /** Market share — Q8: within the ASIA-customer market, the share
    * of revenue supplied by NATION_3 per ship-year. One aggregation
    * computes both the conditional and the total sum (no second
    * scan); the share is a single division of two exact DECIMAL
    * sums, rounded once.
    */
  def marketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    val asiaNations = n.join(broadcast(r),
        col("n_regionkey") === col("r_regionkey") && col("r_name") === "ASIA")
      .select(col("n_nationkey").as("cnk"))
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(asiaNations), col("c_nationkey") === col("cnk"), "leftsemi")
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("l_shipdate")).as("ship_year"))
      .agg(
        sum(revDec).as("tot_dec"),
        sum(when(col("s_nationkey") === 3, revDec)
          .otherwise(lit(0).cast("decimal(28,6)"))).as("nat_dec"))
      .select(col("ship_year"),
        round(col("nat_dec").cast("double"), 4).as("nation_rev"),
        round(col("tot_dec").cast("double"), 4).as("market_rev"),
        round4(col("nat_dec").cast("double") / col("tot_dec").cast("double"))
          .as("share"))
      .orderBy("ship_year")
  }

  private val sqlMarketShare =
    s"""SELECT CAST(date_part('year', l_shipdate) AS INT) AS ship_year,
       |       round(CAST(sum(CASE WHEN s_nationkey = 3 THEN $duckRevDec
       |                           ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE), 4) AS nation_rev,
       |       round(CAST(sum($duckRevDec) AS DOUBLE), 4) AS market_rev,
       |       ${duckRound4(
                  s"CAST(sum(CASE WHEN s_nationkey = 3 THEN $duckRevDec ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE) " +
                    s"/ CAST(sum($duckRevDec) AS DOUBLE)")} AS share
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |WHERE c_nationkey IN (SELECT n_nationkey FROM nation
       |                      JOIN region ON n_regionkey = r_regionkey
       |                      WHERE r_name = 'ASIA')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_top_supplier: max scalar subquery with ties (TPC-H Q15) ----------

  /** Top supplier(s) by revenue — Q15: total revenue per supplier,
    * keep the row(s) equal to the maximum (a scalar subquery over
    * the same aggregate — Q15's original formulation materializes
    * the aggregate as a view precisely so it isn't computed twice;
    * here the DataFrame value is reused and the max is a broadcast
    * 1-row aggregate). Revenue is exact DECIMAL, so the equality
    * compare — the part naive float plans get wrong — is exact, and
    * ties all surface.
    */
  def topSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    // Stage the supplier-grain aggregate ONCE (Q15's "materialize the
    // view so it isn't computed twice", literally): the max subquery
    // and the filter both consume it across a BroadcastExchange —
    // unstaged, each re-ran the full lineitem scan + aggregate.
    val perSupp = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_suppkey"))
      .agg(sum(revDec).as("rev_dec"))
      .localCheckpoint(true)
    val mx = perSupp.agg(max(col("rev_dec")).as("max_dec"))
    perSupp.crossJoin(broadcast(mx))
      .filter(col("rev_dec") === col("max_dec"))
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_suppkey").as("suppkey"), col("s_name"),
        round(col("rev_dec").cast("double"), 4).as("revenue"))
      .orderBy("suppkey")
  }

  private val sqlTopSupplier =
    s"""WITH ps AS (SELECT l_suppkey AS suppkey, sum($duckRevDec) AS rev_dec
       |            FROM lineitem GROUP BY 1)
       |SELECT suppkey, s_name, round(CAST(rev_dec AS DOUBLE), 4) AS revenue
       |FROM ps JOIN supplier ON suppkey = s_suppkey
       |WHERE rev_dec = (SELECT max(rev_dec) FROM ps)
       |ORDER BY suppkey""".stripMargin

  // ---------- q_sole_return_supplier: nested EXISTS/NOT EXISTS (TPC-H Q21) ----------

  /** Sole-responsible return supplier — Q21's shape without the
    * receipt/commit dates this dataset lacks: per supplier, the
    * count of orders where that supplier shipped a returned item
    * (EXISTS) and NO other supplier did in the same order (NOT
    * EXISTS). The oracle states it in the literal nested-subquery
    * form; the Spark plan is the scalable decorrelation — collapse
    * returned lineitems to distinct (order, supplier), aggregate to
    * order grain (`count ≡ 1` ⇒ the min supplier IS the sole one),
    * and re-aggregate per supplier. Work is two hash aggregates on
    * order grain instead of an O(returns²-per-order) self-join.
    */
  def soleReturnSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val rPairs = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    rPairs.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), min(col("l_suppkey")).as("the_supp"))
      .filter(col("n_supp") === 1)
      .groupBy(col("the_supp").as("suppkey"))
      .agg(count(lit(1)).as("n_sole_orders"))
      .join(Tables.supplier(spark, sfDir), col("suppkey") === col("s_suppkey"))
      .select(col("suppkey"), col("s_name"), col("n_sole_orders"))
      .orderBy("suppkey")
  }

  private val sqlSoleReturnSupplier =
    """WITH rp AS (SELECT DISTINCT l_orderkey, l_suppkey
      |            FROM lineitem WHERE l_returnflag = 'R')
      |SELECT a.l_suppkey AS suppkey, s_name,
      |       CAST(count(*) AS BIGINT) AS n_sole_orders
      |FROM rp a JOIN supplier ON a.l_suppkey = s_suppkey
      |WHERE NOT EXISTS (SELECT 1 FROM rp b
      |                  WHERE b.l_orderkey = a.l_orderkey
      |                    AND b.l_suppkey <> a.l_suppkey)
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---------- q_having_share: HAVING against a scalar subquery (TPC-H Q11) ----------

  /** Revenue-concentrated parts — Q11's HAVING-against-scalar shape:
    * parts whose revenue exceeds 1.5× the mean per-part revenue
    * (`HAVING sum(rev) > (SELECT 1.5·sum(rev)/count FROM ...)`).
    * The threshold compare stays exact: `rev > 1.5·tot/np` is
    * evaluated as `rev · np · 2 > tot · 3` in DECIMAL×BIGINT
    * arithmetic — both engines compute it exactly, no float
    * boundary. 29 parts qualify at sf0.01.
    */
  def havingShare(spark: SparkSession, sfDir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(revDec).as("rev_dec"))
    val tot = perPart.agg(sum(col("rev_dec")).as("tot_dec"),
      count(lit(1)).as("np"))
    perPart.crossJoin(broadcast(tot))
      .filter(col("rev_dec") * col("np") * 2 > col("tot_dec") * 3)
      .select(col("partkey"),
        round(col("rev_dec").cast("double"), 4).as("revenue"))
      .orderBy("partkey")
  }

  private val sqlHavingShare =
    s"""WITH pp AS (SELECT l_partkey AS partkey, sum($duckRevDec) AS rev_dec
       |            FROM lineitem GROUP BY 1),
       |     t AS (SELECT sum(rev_dec) AS tot_dec, count(*) AS np FROM pp)
       |SELECT partkey, round(CAST(rev_dec AS DOUBLE), 4) AS revenue
       |FROM pp CROSS JOIN t
       |WHERE rev_dec * np * 2 > tot_dec * 3
       |ORDER BY partkey""".stripMargin

  // ---------- q_ship_priority: unshipped-order ranking (TPC-H Q3) ----------

  /** Shipping-priority ranking — Q3: revenue still in flight per order
    * (ordered before the cutoff, shipped after it) for one market
    * segment, top 10 by revenue. The LIMIT is the planner test: the
    * exact-DECIMAL revenue sum makes the top-10 cut deterministic
    * cross-engine (a float sum could reorder near-ties), with
    * o_orderkey as the total tie-break.
    *
    * Scale: both date filters push to the scans; the li⋈o join
    * shuffles on orderkey, o⋈c on custkey; the final top-10 is
    * TakeOrderedAndProject over the aggregate — never a global sort.
    */
  def shipPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1998-06-01").cast("timestamp")
    val li = Tables.lineitem(spark, sfDir).filter(col("l_shipdate") > cutoff)
    val o = Tables.orders(spark, sfDir).filter(col("o_orderdate") < cutoff)
    val c = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .agg(sum(revDec).as("rev_dec"))
      .orderBy(col("rev_dec").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("order_date"), col("o_orderpriority"),
        round4(col("rev_dec").cast("double")).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
  }

  private val sqlShipPriority =
    s"""WITH a AS (SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       |                  o_orderpriority, sum($duckRevDec) AS rev_dec
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |           JOIN customer ON o_custkey = c_custkey
       |           WHERE c_mktsegment = 'BUILDING'
       |             AND o_orderdate < TIMESTAMP '1998-06-01'
       |             AND l_shipdate > TIMESTAMP '1998-06-01'
       |           GROUP BY 1, 2, 3
       |           ORDER BY rev_dec DESC, o_orderkey LIMIT 10)
       |SELECT o_orderkey, order_date, o_orderpriority,
       |       ${duckRound4("CAST(rev_dec AS DOUBLE)")} AS revenue
       |FROM a ORDER BY revenue DESC, o_orderkey""".stripMargin

  // ---------- q_priority_exists: correlated EXISTS (TPC-H Q4) ----------

  /** Order-priority audit — Q4's correlated EXISTS with a NON-EQUI
    * correlation: count one quarter's orders having at least one line
    * shipped more than 60 days after the order date. The EXISTS
    * becomes a left-semi join whose condition carries both the
    * orderkey equality AND the inequality — Spark plans the equi part
    * as the join key and the inequality as a join-side residual, so
    * the semi join still shuffles on orderkey (never a nested loop).
    */
  def priorityExists(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-04-01").cast("timestamp"))
    val li = Tables.lineitem(spark, sfDir)
    o.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  private val sqlPriorityExists =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_nation_profit: multi-join profit rollup (TPC-H Q9) ----------

  /** Product-line profit by supplier nation and year — Q9's shape
    * (li⋈part⋈supplier⋈nation⋈orders, name-substring part filter,
    * (nation, year) rollup). No partsupp table in this corpus, so
    * supply cost is the 0.6·retail-price convention; the per-row
    * profit expression is written in ONE literal operation order on
    * both engines and accumulated in micro-unit DECIMAL (negative
    * rows floor identically).
    *
    * Scale: the part name filter prunes before the join; supplier/
    * nation are broadcast; the fact-side joins shuffle on their keys;
    * output is (nation × year) grain.
    */
  def nationProfit(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir).filter(col("p_name").contains("red"))
    val profit = expr(s"$rev - 0.6 * p_retailprice * l_quantity")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("yr"))
      .agg(count(lit(1)).as("n_items"), sum(round6(profit).cast("decimal(28,6)")).as("profit_dec"))
      .select(col("nation"), col("yr"), col("n_items"),
        round4(col("profit_dec").cast("double")).as("profit"))
      .orderBy("nation", "yr")
  }

  private val sqlNationProfit =
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS yr,
       |       CAST(count(*) AS BIGINT) AS n_items,
       |       ${duckRound4(s"CAST(sum(CAST(${duckRound6(s"$rev - 0.6 * p_retailprice * l_quantity")} AS DECIMAL(28,6))) AS DOUBLE)")} AS profit
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |WHERE p_name LIKE '%red%'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------- q_late_split: conditional dual-count (TPC-H Q12) ----------

  /** Late-shipment priority split — Q12's signature CASE-based dual
    * aggregate: among lines shipped more than 30 days after their
    * order date, count critical (URGENT/HIGH) vs other priority
    * orders per return flag. Pure integer arithmetic after one
    * fact-fact join shuffled on orderkey.
    */
  def lateSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(hi, lit(1L)).otherwise(lit(0L))).as("high_n"),
        sum(when(!hi, lit(1L)).otherwise(lit(0L))).as("low_n"))
      .orderBy("l_returnflag")
  }

  private val sqlLateSplit =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_n,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_promo_share: conditional revenue share (TPC-H Q14) ----------

  /** Promo revenue share per month — Q14: the percentage of revenue
    * from PROMO-type parts, by ship month. Numerator and denominator
    * are separate micro-unit DECIMAL sums; ONE double division + one
    * rounding at the output edge (never per row).
    */
  def promoShare(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(year(col("l_shipdate")) === 1998)
    li.join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
      .groupBy((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
        .cast("long").as("ym"))
      .agg(
        sum(when(col("p_type") === "PROMO", revDec)
          .otherwise(lit(0).cast("decimal(28,6)"))).as("promo_dec"),
        sum(revDec).as("tot_dec"))
      .select(col("ym"),
        round4(col("promo_dec").cast("double") * 100.0 /
          col("tot_dec").cast("double")).as("promo_share"))
      .orderBy("ym")
  }

  private val sqlPromoShare =
    s"""WITH m AS (SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ym,
       |                  sum(CASE WHEN p_type = 'PROMO' THEN $duckRevDec
       |                           ELSE CAST(0 AS DECIMAL(28,6)) END) AS promo_dec,
       |                  sum($duckRevDec) AS tot_dec
       |           FROM lineitem JOIN part ON l_partkey = p_partkey
       |           WHERE year(l_shipdate) = 1998 GROUP BY 1)
       |SELECT ym, ${duckRound4(
                 "CAST(promo_dec AS DOUBLE) * 100.0 / CAST(tot_dec AS DOUBLE)")} AS promo_share
       |FROM m ORDER BY ym""".stripMargin

  // ---------- q_part_supp_cnt: NOT-IN + count distinct (TPC-H Q16) ----------

  /** Supplier diversity per part class — Q16's shape: distinct
    * supplier count per (brand, type, size) over the observed
    * part-supplier pairs, excluding blacklisted suppliers (negative
    * balance stands in for the complaints subquery) via NOT IN →
    * left-anti join. The (partkey, suppkey) pair set is collapsed
    * DISTINCT before any dimension join — the pair table is the
    * fact-scaled side and dedup first keeps the joins minimal.
    */
  def partSuppCnt(spark: SparkSession, sfDir: String): DataFrame = {
    val excl = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val p = Tables.part(spark, sfDir)
      .filter(col("p_brand") =!= "Brand#1" &&
        col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  private val sqlPartSuppCnt =
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |     ok AS (SELECT * FROM ps
      |            WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                                    WHERE s_acctbal < 0))
      |SELECT p_brand, p_type, p_size,
      |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM ok JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      |GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, 1, 2, 3""".stripMargin

  // ---------- q_volume_supplier: nested-IN share filter (TPC-H Q20) ----------

  /** Dominant-volume suppliers — Q20's nested-IN chain re-expressed
    * as grain aggregates: suppliers who shipped more than 10% of the
    * total volume of some 'small'-named part, with their qualifying
    * part count. Quantities are integral, so the share compare
    * `ps·10 > p_total` is exact in double space — no float boundary.
    *
    * Scale: two map-side-combinable aggregates on (part, supp) and
    * (part) grain, one co-located join between them (both shuffled on
    * partkey), then a supplier-grain rollup.
    */
  def volumeSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val sp = Tables.part(spark, sfDir)
      .filter(col("p_name").startsWith("small")).select(col("p_partkey"))
    // Stage the (part, supplier)-grain aggregate ONCE: the per-part
    // rollup and the share join both consume it — unstaged, each ran
    // the lineitem⋈part scan + aggregate again. The staged frame
    // re-exchanges on partkey for the join (checkpoints drop
    // partitioning), but that small aggregate-grain exchange is far
    // cheaper than the second fact scan it replaces.
    val perPS = Tables.lineitem(spark, sfDir)
      .join(sp, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("ps_qty"))
      .localCheckpoint(true)
    val perP = perPS.groupBy(col("l_partkey"))
      .agg(sum(col("ps_qty")).as("p_qty"))
    perPS.join(perP, Seq("l_partkey"))
      .filter(col("ps_qty") * 10 > col("p_qty"))
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_name"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy("s_name")
  }

  private val sqlVolumeSupplier =
    """WITH sp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
      |     pq AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS ps_qty
      |            FROM lineitem JOIN sp ON l_partkey = p_partkey GROUP BY 1, 2),
      |     pt AS (SELECT l_partkey, sum(ps_qty) AS p_qty FROM pq GROUP BY 1)
      |SELECT s_name, n_name AS nation, CAST(count(*) AS BIGINT) AS n_parts
      |FROM pq JOIN pt USING (l_partkey)
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE ps_qty * 10 > p_qty
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---------- q_min_cost_supplier: correlated argmin (TPC-H Q2) ----------

  /** Cheapest in-region supplier per part — Q2's correlated MIN
    * subquery: per (part, supplier) the minimum observed unit price
    * (extendedprice/quantity, round6-collapsed BEFORE any compare —
    * the ulp rule for derived measures), then per part the
    * lexicographic-min (cost, suppkey) among EUROPE suppliers for
    * small parts. The argmin is a mergeable struct-min aggregate —
    * the mega-cluster-safe election, never a per-part window; the
    * oracle replays it as a row_number window (value-identical,
    * oracle-side only).
    */
  def minCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val unit = round6(col("l_extendedprice") / col("l_quantity"))
    val cost = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(unit).as("c"))
    val eur = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    val p = Tables.part(spark, sfDir).filter(col("p_size") <= 5)
      .select(col("p_partkey"), col("p_name"))
    cost.join(eur, col("l_suppkey") === col("s_suppkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("part_key"), col("p_name"))
      .agg(min(struct(col("c"), col("s_suppkey"), col("s_name"),
        col("n_name"))).as("w"))
      .select(col("part_key"), col("p_name"),
        col("w.s_name").as("s_name"), col("w.n_name").as("nation"),
        round4(col("w.c")).as("cost"))
      .orderBy("part_key")
  }

  private val sqlMinCostSupplier =
    s"""WITH cost AS (SELECT l_partkey, l_suppkey,
      |                     min(${duckRound6("l_extendedprice / l_quantity")}) AS c
      |              FROM lineitem GROUP BY 1, 2),
      |     eur AS (SELECT s_suppkey, s_name, n_name
      |             FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |             JOIN region ON n_regionkey = r_regionkey
      |             WHERE r_name = 'EUROPE'),
      |     j AS (SELECT l_partkey, p_name, c, s_suppkey, s_name, n_name
      |           FROM cost JOIN eur ON l_suppkey = s_suppkey
      |           JOIN part ON l_partkey = p_partkey WHERE p_size <= 5),
      |     w AS (SELECT *, row_number() OVER (PARTITION BY l_partkey
      |                       ORDER BY c, s_suppkey) AS rk FROM j)
      |SELECT l_partkey AS part_key, p_name, s_name, n_name AS nation,
      |       ${duckRound4("c")} AS cost
      |FROM w WHERE rk = 1 ORDER BY part_key""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ship_priority" -> (shipPriority _),
    "q_priority_exists" -> (priorityExists _),
    "q_nation_profit" -> (nationProfit _),
    "q_late_split" -> (lateSplit _),
    "q_promo_share" -> (promoShare _),
    "q_part_supp_cnt" -> (partSuppCnt _),
    "q_volume_supplier" -> (volumeSupplier _),
    "q_min_cost_supplier" -> (minCostSupplier _),
    "q_small_qty_revenue" -> (smallQtyRevenue _),
    "q_lapsed_above_avg" -> (lapsedAboveAvg _),
    "q_order_count_dist" -> (orderCountDist _),
    "q_bracket_revenue" -> (bracketRevenue _),
    "q_nation_volume" -> (nationVolume _),
    "q_market_share" -> (marketShare _),
    "q_top_supplier" -> (topSupplier _),
    "q_sole_return_supplier" -> (soleReturnSupplier _),
    "q_having_share" -> (havingShare _))

  val oracle: Map[String, String] = Map(
    "q_ship_priority" -> sqlShipPriority,
    "q_priority_exists" -> sqlPriorityExists,
    "q_nation_profit" -> sqlNationProfit,
    "q_late_split" -> sqlLateSplit,
    "q_promo_share" -> sqlPromoShare,
    "q_part_supp_cnt" -> sqlPartSuppCnt,
    "q_volume_supplier" -> sqlVolumeSupplier,
    "q_min_cost_supplier" -> sqlMinCostSupplier,
    "q_small_qty_revenue" -> sqlSmallQtyRevenue,
    "q_lapsed_above_avg" -> sqlLapsedAboveAvg,
    "q_order_count_dist" -> sqlOrderCountDist,
    "q_bracket_revenue" -> sqlBracketRevenue,
    "q_nation_volume" -> sqlNationVolume,
    "q_market_share" -> sqlMarketShare,
    "q_top_supplier" -> sqlTopSupplier,
    "q_sole_return_supplier" -> sqlSoleReturnSupplier,
    "q_having_share" -> sqlHavingShare)
}
