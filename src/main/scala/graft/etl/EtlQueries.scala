package graft.etl

import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckRound6, duckUnits, round4, round6, units}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared ETL-semantics queries 1-8 (SURVEY.md §7.3) — each pins one
  * or more reference operators onto the testdata mapping (FIXTURES.md)
  * with a DuckDB oracle.
  *
  * The query wrappers apply the determinism edge (round doubles to 4,
  * cast ints to long, total ORDER BY) so the library functions stay
  * clean for composition.
  */
object EtlQueries {

  /** DuckDB 1.0 has no `initcap`; this expression reproduces Spark's
    * semantics (capitalize first char of each whitespace-delimited
    * word, lowercase the rest).
    */
  def duckInitcap(expr: String): String =
    s"array_to_string(list_transform(string_split(trim($expr), ' '), " +
      s"w -> upper(w[1]) || lower(w[2:])), ' ')"

  private val duckSegmentRecode =
    """CASE c_mktsegment WHEN 'BUILDING' THEN 'Building'
      | WHEN 'MACHINERY' THEN 'Industrial' WHEN 'AUTOMOBILE' THEN 'Auto'
      | WHEN 'HOUSEHOLD' THEN 'Home' ELSE c_mktsegment END""".stripMargin

  /** Shared oracle CTEs for the four dimensions + raw fact — mirrors
    * StarSchema.{userDim,productDim,locationDim,dateDim,factSource}.
    */
  private def duckUserDim: String =
    s"""SELECT nat_key, username, segment, nationkey, acctbal,
       |       CAST(row_number() OVER (ORDER BY username) AS BIGINT) AS user_sk
       |FROM (SELECT c_custkey AS nat_key, ${duckInitcap("c_name")} AS username,
       |             $duckSegmentRecode AS segment,
       |             CAST(c_nationkey AS BIGINT) AS nationkey,
       |             round(c_acctbal, 4) AS acctbal,
       |             row_number() OVER (PARTITION BY ${duckInitcap("c_name")}
       |                                ORDER BY c_custkey) AS rn
       |      FROM customer) WHERE rn = 1""".stripMargin

  private def duckProductDim: String =
    s"""SELECT nat_key, name, brand, category, price,
       |       CAST(row_number() OVER (ORDER BY name, brand) AS BIGINT) AS product_sk
       |FROM (SELECT p_partkey AS nat_key, ${duckInitcap("p_name")} AS name,
       |             p_brand AS brand, p_type AS category,
       |             ceil(p_retailprice * 100) / 100 AS price,
       |             row_number() OVER (PARTITION BY ${duckInitcap("p_name")}, p_brand
       |                                ORDER BY p_partkey) AS rn
       |      FROM part) WHERE rn = 1""".stripMargin

  private def duckLocationDim: String =
    s"""SELECT nat_key, nation, region,
       |       CAST(row_number() OVER (ORDER BY nation) AS BIGINT) AS location_sk
       |FROM (SELECT CAST(n_nationkey AS BIGINT) AS nat_key,
       |             ${duckInitcap("n_name")} AS nation,
       |             ${duckInitcap("r_name")} AS region,
       |             row_number() OVER (PARTITION BY ${duckInitcap("n_name")}
       |                                ORDER BY n_nationkey) AS rn
       |      FROM nation JOIN region ON n_regionkey = r_regionkey
       |      WHERE n_name IS NOT NULL AND r_name IS NOT NULL) WHERE rn = 1""".stripMargin

  private def duckDateDim: String =
    """SELECT d AS date, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS date_sk
      |FROM (SELECT DISTINCT CAST(date_trunc('day', o_orderdate) AS DATE) AS d
      |      FROM orders WHERE o_orderdate IS NOT NULL)""".stripMargin

  /** Mirrors StarSchema.factSource incl. the D5 grain dedup
    * (first-wins on order_number with a total tiebreak — the synthetic
    * lineitem repeats (o_orderkey, l_linenumber)).
    */
  private def duckFactSource: String =
    """SELECT order_number, quantity, revenue, user_nat_key,
      |       product_nat_key, location_nat_key, date_nat_key
      |FROM (SELECT *, row_number() OVER (PARTITION BY order_number
      |                ORDER BY product_nat_key, quantity, revenue) AS rn
      |      FROM (SELECT o_orderkey || '-' || l_linenumber AS order_number,
      |                   l_quantity AS quantity,
      |                   ceil(l_quantity * p_retailprice * 100) / 100 AS revenue,
      |                   c_custkey AS user_nat_key, p_partkey AS product_nat_key,
      |                   CAST(c_nationkey AS BIGINT) AS location_nat_key,
      |                   CAST(date_trunc('day', o_orderdate) AS DATE) AS date_nat_key
      |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |                          JOIN part ON l_partkey = p_partkey
      |                          JOIN customer ON o_custkey = c_custkey))
      |WHERE rn = 1""".stripMargin

  // ----- 1. q_clean_user_dim: F1+F2+F3+F4+D1 + surrogate -----
  def cleanUserDim(spark: SparkSession, sfDir: String): DataFrame =
    StarSchema.userDim(spark, sfDir)
      .select(col("user_sk"), col("nat_key"), col("username"), col("segment"),
        col("nationkey"), round(col("acctbal"), 4).as("acctbal"))
      .orderBy("user_sk")

  private val sqlCleanUserDim =
    s"""WITH u AS ($duckUserDim)
       |SELECT user_sk, nat_key, username, segment, nationkey, acctbal
       |FROM u ORDER BY user_sk""".stripMargin

  // ----- 2. q_recode_categorical: F4/F5 dict recode + pass-through -----
  def recodeCategorical(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .groupBy(CleanFns.recode(col("c_mktsegment"), StarSchema.segmentRecode).as("segment"))
      .agg(count(lit(1)).as("n"))
      .orderBy("segment")

  private val sqlRecodeCategorical =
    s"""SELECT $duckSegmentRecode AS segment, count(*) AS n
       |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // ----- 3. q_date_dim: F7+D4 + surrogate -----
  def dateDimQ(spark: SparkSession, sfDir: String): DataFrame =
    StarSchema.dateDim(spark, sfDir)
      .select(col("date_sk"), date_format(col("date"), "yyyy-MM-dd").as("date"))
      .orderBy("date_sk")

  private val sqlDateDim =
    s"""WITH d AS ($duckDateDim)
       |SELECT date_sk, strftime(date, '%Y-%m-%d') AS date FROM d ORDER BY date_sk""".stripMargin

  // ----- 4. q_ceil_prices: F9 ceiling to 2 decimals -----
  def ceilPrices(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(col("p_partkey"), round(CleanFns.ceil2(col("p_retailprice")), 4).as("price"))
      .orderBy("p_partkey")

  private val sqlCeilPrices =
    """SELECT p_partkey, round(ceil(p_retailprice * 100) / 100, 4) AS price
      |FROM part ORDER BY p_partkey""".stripMargin

  // ----- 5. q_numeric_coerce: F8 lenient coercion over JSON-extracted value -----
  def numericCoerce(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("k", CleanFns.coerceDouble(get_json_object(col("props"), "$.k")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), count(col("k")).as("n_valid"),
        round(sum(col("k")), 4).as("sum_k"), round(avg(col("k")), 4).as("avg_k"))
      .orderBy("event_type")

  private val sqlNumericCoerce =
    """SELECT event_type, count(*) AS n_events,
      |       count(try_cast(json_extract_string(props, '$.k') AS DOUBLE)) AS n_valid,
      |       round(sum(try_cast(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS sum_k,
      |       round(avg(try_cast(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ----- 6. q_fact_build: J1+F10+P4+J6 full fact snapshot -----
  def factBuild(spark: SparkSession, sfDir: String): DataFrame =
    StarSchema.factWithSurrogates(spark, sfDir)
      .select(col("order_number"), round(col("quantity"), 4).as("quantity"),
        round(col("revenue"), 4).as("revenue"),
        col("user_sk"), col("product_sk"), col("location_sk"), col("date_sk"))
      .orderBy("order_number")

  private val sqlFactBuild =
    s"""WITH u AS ($duckUserDim), p AS ($duckProductDim),
       |     l AS ($duckLocationDim), d AS ($duckDateDim),
       |     f AS ($duckFactSource)
       |SELECT f.order_number, round(f.quantity, 4) AS quantity,
       |       round(f.revenue, 4) AS revenue,
       |       u.user_sk, p.product_sk, l.location_sk, d.date_sk
       |FROM f JOIN u ON f.user_nat_key = u.nat_key
       |       JOIN p ON f.product_nat_key = p.nat_key
       |       JOIN l ON f.location_nat_key = l.nat_key
       |       JOIN d ON f.date_nat_key = d.date
       |ORDER BY f.order_number""".stripMargin

  // ----- 7. q_surrogate_map: J2/J6 nat→surrogate mapping -----
  def surrogateMap(spark: SparkSession, sfDir: String): DataFrame =
    StarSchema.userDim(spark, sfDir)
      .select(col("nat_key"), col("user_sk"))
      .orderBy("nat_key")

  private val sqlSurrogateMap =
    s"""WITH u AS ($duckUserDim)
       |SELECT nat_key, user_sk FROM u ORDER BY nat_key""".stripMargin

  // ----- 8. q_ri_filter: P4 referential-integrity drop accounting -----
  def riFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    def orphans(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_dropped")).select(lit(name).as("reason"), col("n_dropped"))
    orphans("lineitem_no_order", li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti"))
      .union(orphans("lineitem_no_part", li.join(p, li("l_partkey") === p("p_partkey"), "left_anti")))
      .union(orphans("order_no_customer", o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")))
      .orderBy("reason")
  }

  private val sqlRiFilter =
    """SELECT * FROM (
      |  SELECT 'lineitem_no_order' AS reason, count(*) AS n_dropped FROM lineitem l
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |  UNION ALL
      |  SELECT 'lineitem_no_part', count(*) FROM lineitem l
      |  WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
      |  UNION ALL
      |  SELECT 'order_no_customer', count(*) FROM orders o
      |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |) ORDER BY reason""".stripMargin

  // ----- 9. q_profile: one-pass data-profiling over the source -----

  /** [[Profile.profile]] on the customer source: per-column null /
    * distinct / range in one aggregation pass. Profiled columns are
    * ints+strings only — double→string rendering differs between
    * engines and the min/max land in a string column.
    */
  def profileQ(spark: SparkSession, sfDir: String): DataFrame =
    Profile.profile(Tables.customer(spark, sfDir),
      Seq("c_custkey", "c_mktsegment", "c_name", "c_nationkey"))

  private val sqlProfile = {
    def block(c: String) =
      s"""SELECT '$c' AS "column", count(*) - count($c) AS n_null,
         |       count(DISTINCT $c) AS n_distinct,
         |       CAST(min($c) AS VARCHAR) AS min_value,
         |       CAST(max($c) AS VARCHAR) AS max_value
         |FROM customer""".stripMargin
    Seq("c_custkey", "c_mktsegment", "c_name", "c_nationkey")
      .map(block).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  // ----- 10. q_bloom_prune: bloom-pruned semi-join (shuffle reducer) -----

  /** [[BloomPrune.prunedSemiJoin]] on the fact ⋈ selective-dim shape:
    * lineitems of finished high-value orders. The bloom probe drops
    * most non-qualifying fact rows before the semi-join shuffle; the
    * exact semi-join after the probe makes the result value-identical
    * to the oracle's plain EXISTS — which is exactly what this query
    * pins.
    */
  def bloomPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val hotOrders = Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 200000)
      .select(col("o_orderkey"))
    BloomPrune.prunedSemiJoin(
        Tables.lineitem(spark, sfDir), hotOrders,
        bigKey = "l_orderkey", smallKey = "o_orderkey",
        expectedItems = 100000L)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 4).as("sum_price"))
      .orderBy("l_returnflag")
  }

  private val sqlBloomPrune =
    """SELECT l_returnflag, count(*) AS n_items,
      |       round(sum(l_extendedprice), 4) AS sum_price
      |FROM lineitem l
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_orderkey = l.l_orderkey
      |                AND o.o_orderstatus = 'F' AND o.o_totalprice > 200000)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_agg_refresh: incremental aggregate ≡ full recompute ----------

  /** The [[AggMaintain]] contract as a DRIVER-GATED query (the
    * `q_delta_dedup` trick applied to aggregates): the Spark side
    * builds the snapshot from even order keys and REFRESHES it with
    * the odd-key delta through `refreshAdditive`; the oracle computes
    * the full aggregate directly. They hash-match only if the
    * incremental combine is exact — decimal measures make the monoid
    * associative-exact, so it is.
    */
  def aggRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val keys = Seq("l_returnflag", "l_linestatus")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
        col("l_quantity").cast("decimal(18,4)").as("qty"), lit(1L).as("cnt"))
    def full(df: DataFrame) = df.groupBy(keys.map(col): _*)
      .agg(sum("qty").as("qty"), sum("cnt").as("cnt"))
    val snapshot = full(li.filter(col("l_orderkey") % 2 === 0))
    AggMaintain.refreshAdditive(
        snapshot, li.filter(col("l_orderkey") % 2 === 1), keys, Seq("qty", "cnt"))
      .select(col("l_returnflag"), col("l_linestatus"),
        round(col("qty").cast("double"), 4).as("sum_qty"),
        col("cnt").cast("long").as("n_items"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val sqlAggRefresh =
    """SELECT l_returnflag, l_linestatus,
      |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
      |       count(*) AS n_items
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------- q_zorder_addr: Morton-interleave kernel vs oracle ----------

  private val ZBits = 8

  /** [[ZOrder.zValue]] driver-gated: min/max-scale (c_acctbal,
    * c_custkey) to [[ZBits]]-bit levels and interleave — the oracle
    * replays the scaling (identical IEEE DAG; the floor input is the
    * same double on both engines) and the bit interleave as explicit
    * `(c // 2^j) % 2 · 2^(2j+i)` arithmetic. Gates the address
    * kernel's exact bit layout, which `ZOrderSpec`'s locality tests
    * (by design) never pin value-for-value.
    */
  def zorderAddr(spark: SparkSession, sfDir: String): DataFrame = {
    val levels = (1L << ZBits) - 1
    val c = Tables.customer(spark, sfDir).select(
      col("c_custkey"), col("c_acctbal").cast("double").as("bal"))
    val stats = c.agg(
      min(col("bal")).as("mn_b"), max(col("bal")).as("mx_b"),
      min(col("c_custkey")).cast("double").as("mn_k"),
      max(col("c_custkey")).cast("double").as("mx_k"))
    val scaled = Seq(
      floor((col("bal") - col("mn_b")) / (col("mx_b") - col("mn_b")) * levels),
      floor((col("c_custkey").cast("double") - col("mn_k")) /
        (col("mx_k") - col("mn_k")) * levels))
    c.crossJoin(broadcast(stats))
      .withColumn("zaddr", ZOrder.zValue(scaled, ZBits))
      .orderBy(col("zaddr").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("zaddr"))
  }

  private val sqlZorderAddr = {
    val levels = (1L << ZBits) - 1
    def lvl(e: String) = s"CAST(floor($e * $levels) AS BIGINT)"
    val sb = lvl("(bal - mn_b) / (mx_b - mn_b)")
    val sk = lvl("(CAST(c_custkey AS DOUBLE) - mn_k) / (mx_k - mn_k)")
    val terms = for {
      (c, i) <- Seq("sb" -> 0, "sk" -> 1)
      j <- 0 until ZBits
    } yield s"(($c // ${1L << j}) % 2) * ${1L << (j * 2 + i)}"
    s"""WITH c AS (SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal FROM customer),
       |     st AS (SELECT min(bal) AS mn_b, max(bal) AS mx_b,
       |                   CAST(min(c_custkey) AS DOUBLE) AS mn_k,
       |                   CAST(max(c_custkey) AS DOUBLE) AS mx_k FROM c),
       |     s AS (SELECT c_custkey, $sb AS sb, $sk AS sk FROM c CROSS JOIN st),
       |     z AS (SELECT c_custkey, ${terms.mkString(" + ")} AS zaddr FROM s)
       |SELECT c_custkey, CAST(zaddr AS BIGINT) AS zaddr
       |FROM z ORDER BY zaddr DESC, c_custkey LIMIT 20""".stripMargin
  }

  // ---------- q_scd2_history: Type-2 versioning vs its contract ----------

  /** [[Merge.scd2]] driver-gated (S7's history-preserving half, until
    * now spec-only): seed a current-only dimension from customer,
    * apply an update batch that moves every third key to a new
    * segment, and summarize the resulting version table. The oracle
    * CONSTRUCTS the contractual post-state directly (changed keys →
    * one closed v1 + one open v2; unchanged keys → untouched current
    * row), so the hash-compare proves the close/open/no-op semantics
    * end-to-end — the kernel itself never appears in the oracle.
    */
  def scd2History(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"))
    val existing = cust
      .withColumn("valid_from", lit("2024-01-01").cast("timestamp"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
    val updates = cust.withColumn("segment",
      when(col("custkey") % 3 === 0, lit("MOVED")).otherwise(col("segment")))
    Merge.scd2(existing, updates, Seq("custkey"), Seq("segment"),
        asOf = lit("2024-06-01").cast("timestamp"))
      .groupBy("segment", "is_current")
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("valid_to").isNull, lit(1))).as("n_open"))
      .orderBy("segment", "is_current")
  }

  private val sqlScd2History =
    """WITH c AS (SELECT c_custkey AS custkey, c_mktsegment AS segment FROM customer),
      |     v AS (
      |  SELECT segment, FALSE AS is_current, 0 AS open_flag
      |  FROM c WHERE custkey % 3 = 0
      |  UNION ALL
      |  SELECT segment, TRUE, 1 FROM c WHERE custkey % 3 <> 0
      |  UNION ALL
      |  SELECT 'MOVED', TRUE, 1 FROM c WHERE custkey % 3 = 0)
      |SELECT segment, is_current, count(*) AS n_rows,
      |       CAST(sum(open_flag) AS BIGINT) AS n_open
      |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------- q_vacuum_plan: small-file compaction planner ----------

  private val VacuumCapacity = 25000L // rows per compacted file

  /** Small-file compaction (VACUUM / OPTIMIZE bin-packing) planner:
    * month partitions of the fact are mostly far below a healthy file
    * size, so plan contiguous merges that fill ~[[VacuumCapacity]]
    * rows per output file — the Delta/Iceberg `OPTIMIZE` planning
    * step, expressed as a query so the plan is inspectable before
    * any rewrite runs. Contiguity (pack in month order) preserves the
    * partition pruning the monthly layout exists for.
    *
    * Shape: partition stats are one month-grain aggregate; the
    * packing is [[PrefixScan.packByCapacity]] (hierarchical two-phase
    * prefix sum — the `q_pack_audit` kernel, so its greedy spill
    * semantics are already spec-pinned); the plan rollup is bounded
    * by output-file count. All integers.
    */
  def vacuumPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Tables.lineitem(spark, sfDir)
      .groupBy((year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
        .cast("long").as("midx"))
      .agg(count(lit(1)).as("rows"))
    PrefixScan.packByCapacity(parts, "midx", "rows", VacuumCapacity, "file_id")
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_partitions"), sum(col("rows")).as("n_rows"),
        min(col("midx")).as("first_month"), max(col("midx")).as("last_month"))
      .orderBy("file_id")
  }

  private val sqlVacuumPlan =
    s"""WITH p AS (SELECT CAST(date_part('year', l_shipdate) * 12
       |                    + date_part('month', l_shipdate) - 1 AS BIGINT) AS midx,
       |                  CAST(count(*) AS BIGINT) AS rows
       |           FROM lineitem GROUP BY 1),
       |     s AS (SELECT midx, rows,
       |                  CAST(coalesce(sum(rows) OVER (ORDER BY midx
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |                    // $VacuumCapacity AS BIGINT) AS file_id
       |           FROM p)
       |SELECT file_id, CAST(count(*) AS BIGINT) AS n_partitions,
       |       CAST(sum(rows) AS BIGINT) AS n_rows,
       |       min(midx) AS first_month, max(midx) AS last_month
       |FROM s GROUP BY file_id ORDER BY file_id""".stripMargin

  // ---------- q_compact_exec: EXECUTE the compaction plan ----------

  /** [[vacuumPlan]] executed, not just planned: the fact rows are
    * physically rewritten into the plan's bin-packed files (one
    * parquet file per planned file_id — `repartition(file_id)` routes
    * every planned file's rows to exactly one task, the dynamic-
    * partition-write discipline CLAUDE.md mandates) and the POST-STATE
    * is read back from the filesystem: per planned file, the observed
    * file count must be 1 and the observed row count must equal the
    * plan. The oracle states the contractual post-state (the plan's
    * own numbers + n_files = 1 + rows_match) — the `q_scd2_history`
    * driver-gating pattern applied to OPTIMIZE: a compactor that
    * splits a bin, drops rows, or leaks a second file per bin breaks
    * the hash. Scale: one shuffle on file_id (the rewrite IS the
    * point); month-contiguous bins preserve date-range pruning.
    */
  def compactExec(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .withColumn("midx", (year(col("l_shipdate")) * 12 +
        month(col("l_shipdate")) - 1).cast("long"))
    val parts = li.groupBy("midx").agg(count(lit(1)).as("rows"))
    // Stage the pack ONCE (month-cardinality rows): the assignment
    // broadcast AND the plan aggregate below both consume it, and
    // without staging each consumer re-runs the full lineitem month
    // aggregate plus the two-pass prefix scan (two extra fact scans
    // observed in the before-plan). Deterministic either way (the
    // prefix sum is boundary-independent), so staging is purely
    // physical.
    val packed = PrefixScan
      .packByCapacity(parts, "midx", "rows", VacuumCapacity, "file_id")
      .localCheckpoint(true)
    val assign = packed.select(col("midx"), col("file_id"))
    val outDir = graft.util.Scratch.dir("graft_compact").toString
    li.join(broadcast(assign), "midx")
      .repartition(col("file_id"))
      .write.partitionBy("file_id").mode("overwrite").parquet(outDir)
    // observed post-state: rows per bin from the data, file count per
    // bin from the filesystem (bounded by plan size — a driver walk)
    val obs = spark.read.parquet(outDir)
      .groupBy(col("file_id").cast("long").as("file_id"))
      .agg(count(lit(1)).as("obs_rows"))
    val fileCounts = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(outDir)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("file_id="))
        .map { p =>
          val id = p.getFileName.toString.stripPrefix("file_id=").toLong
          val n = java.nio.file.Files.list(p).iterator().asScala
            .count(_.getFileName.toString.endsWith(".parquet"))
          (id, n.toLong)
        }.toSeq
    }
    import spark.implicits._
    val fc = fileCounts.toDF("file_id", "n_files")
    val plan = packed
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_partitions"), sum(col("rows")).as("n_rows"),
        min(col("midx")).as("first_month"), max(col("midx")).as("last_month"))
    plan.join(obs, "file_id").join(broadcast(fc), "file_id")
      .select(col("file_id"), col("n_partitions"), col("n_rows"),
        col("first_month"), col("last_month"), col("n_files"),
        (col("obs_rows") === col("n_rows")).as("rows_match"))
      .orderBy("file_id")
  }

  private val sqlCompactExec =
    s"""WITH p AS (SELECT CAST(date_part('year', l_shipdate) * 12
       |                    + date_part('month', l_shipdate) - 1 AS BIGINT) AS midx,
       |                  CAST(count(*) AS BIGINT) AS rows
       |           FROM lineitem GROUP BY 1),
       |     s AS (SELECT midx, rows,
       |                  CAST(coalesce(sum(rows) OVER (ORDER BY midx
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |                    // $VacuumCapacity AS BIGINT) AS file_id
       |           FROM p)
       |SELECT file_id, CAST(count(*) AS BIGINT) AS n_partitions,
       |       CAST(sum(rows) AS BIGINT) AS n_rows,
       |       min(midx) AS first_month, max(midx) AS last_month,
       |       CAST(1 AS BIGINT) AS n_files, TRUE AS rows_match
       |FROM s GROUP BY file_id ORDER BY file_id""".stripMargin

  // ---------- q_impute_median: group-median null imputation ----------

  /** Median imputation audit: fill null event values with the
    * per-type median and report the filled mean next to the
    * imputation volume — the cleaning step after [[CleanFns]]'
    * coercions (F8 turns junk into nulls; this decides what the
    * nulls BECOME) with the audit columns a feature pipeline logs.
    *
    * Shape: ONE type-grain aggregate computes everything — the
    * filled mean needs no second pass because it is algebraic in the
    * aggregates: (Σv + n_null·med)/n. Parity: both engines skip
    * nulls in sum/percentile identically; the sum is round6-DECIMAL
    * (order-independent), the median joins it as a DECIMAL product
    * with exact integer n_null, one division at the edge.
    */
  def imputeMedian(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(when(col("value").isNull, lit(1))).as("n_imputed"),
        sum(round6(col("value")).cast("decimal(18,6)")).as("sv"),
        percentile(col("value"), lit(0.5)).as("med"))
      .select(col("event_type"), col("n_events"), col("n_imputed"),
        round4(col("med")).as("median"),
        round4(
          (col("sv") + round6(col("med")).cast("decimal(18,6)") * col("n_imputed")).cast("double")
            / col("n_events").cast("double")).as("mean_filled"))
      .orderBy("event_type")
  }

  private val sqlImputeMedian = {
    s"""WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |                  CAST(count(CASE WHEN value IS NULL THEN 1 END) AS BIGINT) AS n_imputed,
       |                  sum(CAST(${duckRound6("value")} AS DECIMAL(18,6))) AS sv,
       |                  quantile_cont(value, 0.5) AS med
       |           FROM events GROUP BY event_type)
       |SELECT event_type, n_events, n_imputed,
       |       ${duckRound4("med")} AS median,
       |       ${duckRound4(
                 s"CAST(sv + CAST(${duckRound6("med")} AS DECIMAL(18,6)) * n_imputed AS DOUBLE) / CAST(n_events AS DOUBLE)")} AS mean_filled
       |FROM g ORDER BY event_type""".stripMargin
  }

  // ---------- q_profile_drift: snapshot-over-snapshot profile diff ----------

  /** Column-profile drift between two ingestion halves — the
    * schema-quality CI check on top of [[Profile]]: has a column's
    * null rate moved between snapshot A (even event ids) and snapshot
    * B (odd)? A jump says an upstream producer changed (a field went
    * optional, a parser started failing) before any query breaks
    * loudly. One row per audited column with both rates and the
    * absolute drift.
    *
    * Shape: one pass over the fact computes every (column, half)
    * counter as conditional aggregates (the Deequ batched-
    * verification trick `q_constraint_audit` uses), then a literal
    * unpivot — no per-column scans. Integers + two rounded rates.
    */
  def profileDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .withColumn("half", pmod(col("event_id"), lit(2)))
    val agg = ev.agg(
      count(when(col("half") === 0, lit(1))).as("n_a"),
      count(when(col("half") === 1, lit(1))).as("n_b"),
      count(when(col("half") === 0 && col("user_id").isNull, lit(1))).as("nu_a"),
      count(when(col("half") === 1 && col("user_id").isNull, lit(1))).as("nu_b"),
      count(when(col("half") === 0 && col("value").isNull, lit(1))).as("nv_a"),
      count(when(col("half") === 1 && col("value").isNull, lit(1))).as("nv_b"),
      count(when(col("half") === 0 && col("props").isNull, lit(1))).as("np_a"),
      count(when(col("half") === 1 && col("props").isNull, lit(1))).as("np_b"))
    val cols = Seq(("user_id", "nu"), ("value", "nv"), ("props", "np"))
    val rows = cols.map { case (name, p) =>
      agg.select(lit(name).as("column_name"), col("n_a"), col("n_b"),
        col(s"${p}_a").as("nulls_a"), col(s"${p}_b").as("nulls_b"))
    }.reduce(_ unionByName _)
    rows
      .withColumn("null_rate_a", round4(
        col("nulls_a").cast("double") / col("n_a").cast("double")))
      .withColumn("null_rate_b", round4(
        col("nulls_b").cast("double") / col("n_b").cast("double")))
      .withColumn("drift", round4(
        abs(col("null_rate_a") - col("null_rate_b"))))
      .select("column_name", "n_a", "n_b", "nulls_a", "nulls_b",
        "null_rate_a", "null_rate_b", "drift")
      .orderBy("column_name")
  }

  private val sqlProfileDrift = {
    val blocks = Seq(("user_id", "nu"), ("value", "nv"), ("props", "np")).map {
      case (name, p) =>
        s"SELECT '$name' AS column_name, n_a, n_b, ${p}_a AS nulls_a, ${p}_b AS nulls_b FROM a"
    }.mkString("(", " UNION ALL ", ")")
    s"""WITH a AS (SELECT
       |    CAST(count(CASE WHEN event_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_a,
       |    CAST(count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_b,
       |    CAST(count(CASE WHEN event_id % 2 = 0 AND user_id IS NULL THEN 1 END) AS BIGINT) AS nu_a,
       |    CAST(count(CASE WHEN event_id % 2 = 1 AND user_id IS NULL THEN 1 END) AS BIGINT) AS nu_b,
       |    CAST(count(CASE WHEN event_id % 2 = 0 AND value IS NULL THEN 1 END) AS BIGINT) AS nv_a,
       |    CAST(count(CASE WHEN event_id % 2 = 1 AND value IS NULL THEN 1 END) AS BIGINT) AS nv_b,
       |    CAST(count(CASE WHEN event_id % 2 = 0 AND props IS NULL THEN 1 END) AS BIGINT) AS np_a,
       |    CAST(count(CASE WHEN event_id % 2 = 1 AND props IS NULL THEN 1 END) AS BIGINT) AS np_b
       |  FROM events),
       |     u AS $blocks
       |SELECT column_name, n_a, n_b, nulls_a, nulls_b,
       |       ${duckRound4("CAST(nulls_a AS DOUBLE) / CAST(n_a AS DOUBLE)")} AS null_rate_a,
       |       ${duckRound4("CAST(nulls_b AS DOUBLE) / CAST(n_b AS DOUBLE)")} AS null_rate_b,
       |       ${duckRound4(s"abs(${duckRound4("CAST(nulls_a AS DOUBLE) / CAST(n_a AS DOUBLE)")} - " +
                 s"${duckRound4("CAST(nulls_b AS DOUBLE) / CAST(n_b AS DOUBLE)")})")} AS drift
       |FROM u ORDER BY column_name""".stripMargin
  }

  // ---------- q_pit_join: point-in-time (temporal) fact⋈SCD2 join ----------

  /** Point-in-time correct join: route every order to the dimension
    * VERSION that was valid on its order date — the temporal-join
    * semantics that separate an SCD2 warehouse from one that silently
    * attributes old facts to current attributes (and the feature-
    * store "as-of training join" in ML serving). History derives from
    * [[Merge.scd2]] deterministically: customers with custkey%3=0
    * moved segment on 1998-01-01, so pre-move orders must land on the
    * OLD segment and post-move orders on MOVED; the oracle states the
    * contractual routing directly (the `q_scd2_history` post-state
    * pattern).
    *
    * Shape: equi-join on the business key with the validity interval
    * as a post-join filter — the standard PIT plan (the key join
    * bounds candidates to versions-per-key, a small constant; at
    * 100 TB the history side is dim-versions-scale and AQE picks the
    * join strategy). Revenue stays exact integer cents.
    */
  def pitJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"))
    val existing = cust
      .withColumn("valid_from", lit("1995-01-01").cast("timestamp"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
    val updates = cust.withColumn("segment",
      when(col("custkey") % 3 === 0, lit("MOVED")).otherwise(col("segment")))
    val history = Merge.scd2(existing, updates, Seq("custkey"), Seq("segment"),
      asOf = lit("1998-01-01").cast("timestamp"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp").as("od"),
        units(col("o_totalprice"), 100.0).cast("long").as("cents"))
    o.join(history, col("o_custkey") === col("custkey")
        && col("od") >= col("valid_from")
        && (col("valid_to").isNull || col("od") < col("valid_to")))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("cents")).cast("double") / 100.0, 4).as("revenue"))
      .orderBy("segment")
  }

  private val sqlPitJoin =
    s"""SELECT CASE WHEN c_custkey % 3 = 0 AND o_orderdate >= DATE '1998-01-01'
      |            THEN 'MOVED' ELSE c_mktsegment END AS segment,
      |       count(*) AS n_orders,
      |       round(CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS DOUBLE) / 100.0, 4) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_constraint_audit: declarative data-quality checks ----------

  /** Deequ-style declarative constraint audit over the warehouse
    * inputs: one row per named check with its violation count — the
    * CI gate a pipeline runs before publishing a snapshot (the
    * reference enforces these implicitly via dropna/dedup/upsert-
    * conflict keys, `ETL/fact_ETL.py:54,132`; this makes them
    * explicit and countable). Checks: primary-key uniqueness,
    * referential integrity both ways the star schema needs
    * (lineitem→orders, customer→nation), domain membership, value
    * positivity, and an expected date window (the one check this
    * corpus genuinely violates — 5,980 post-1998 orders at sf0.01 —
    * so the audit output exercises the nonzero path too).
    *
    * Shape: the three orders scalar checks share ONE scan (a single
    * aggregate emitting all three counters, unpivoted — the Deequ
    * batched-verification trick); uniqueness is one group-by-key
    * aggregate; each RI check is a broadcast/shuffle anti-join count.
    * Everything is linear and map-side combinable; violation counts,
    * not violating-row lists, cross to the output (row lists are
    * re-derivable by filtering, and at 100 TB an audit that ships
    * rows is itself the bottleneck).
    */
  def constraintAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val lineitem = Tables.lineitem(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    val nation = Tables.nation(spark, sfDir)
    // three scalar checks, one scan: aggregate once, unpivot to rows
    val ordersScalar = orders.agg(
        sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("price"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("status"),
        sum(when(col("o_orderdate") > lit("1998-12-31").cast("timestamp"), 1L)
          .otherwise(0L)).as("window"))
      .select(explode(array(
        struct(lit("orders_price_positive").as("check_name"), col("price").as("n_violations")),
        struct(lit("orders_status_domain").as("check_name"), col("status").as("n_violations")),
        struct(lit("orders_date_window").as("check_name"), col("window").as("n_violations"))))
        .as("c"))
      .select(col("c.check_name"), col("c.n_violations"))
    val pkUnique = orders.groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_violations"))
      .select(lit("orders_pk_unique").as("check_name"), col("n_violations"))
    val liFk = lineitem.join(orders.select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("lineitem_fk_orders").as("check_name"), col("n_violations"))
    val custFk = customer.join(broadcast(nation.select("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("customer_fk_nation").as("check_name"), col("n_violations"))
    ordersScalar
      .unionByName(pkUnique).unionByName(liFk).unionByName(custFk)
      .orderBy("check_name")
  }

  private val sqlConstraintAudit =
    """SELECT * FROM (
      |  SELECT 'orders_price_positive' AS check_name,
      |         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders_status_domain',
      |         CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders_date_window',
      |         CAST(sum(CASE WHEN o_orderdate > TIMESTAMP '1998-12-31' THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders_pk_unique',
      |         CAST(coalesce(sum(n), 0) AS BIGINT)
      |  FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
      |  UNION ALL
      |  SELECT 'lineitem_fk_orders',
      |         CAST(count(*) AS BIGINT)
      |  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      |  UNION ALL
      |  SELECT 'customer_fk_nation',
      |         CAST(count(*) AS BIGINT)
      |  FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)
      |) ORDER BY check_name""".stripMargin

  // ---------- q_bloom_fpr: engine-independent Bloom FPR audit ----------

  private val BloomM = 16384L // bits
  private val BloomK = 4      // hash functions

  /** Bloom-filter false-positive-rate audit with ENGINE-INDEPENDENT
    * hashes ([[graft.functions.TextHashUtil]] permutations mod m) —
    * the cross-engine-verifiable counterpart of [[BloomPrune]], whose
    * Spark-native sketch bits no other engine can replay (the
    * Sampling/xxhash64 limit in CLAUDE.md). Build the bit set from
    * the even order keys, probe with the odd keys (disjoint by
    * construction, so every probe hit is a FALSE positive), and report
    * observed load factor and FPR — the audit that decides whether a
    * deployed filter's m/k still fit the key volume.
    *
    * Shape: build = one fan to k bit positions + DISTINCT collapse to
    * ≤m rows (the filter itself — broadcast-sized by construction);
    * probe = fan + broadcast join + per-key all-bits-present check as
    * two integer counts. Work ∝ n·k, state ≤ m. All integers; two
    * rounded ratios.
    */
  def bloomFpr(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextHashUtil
    val keys = Tables.orders(spark, sfDir).select(col("o_orderkey").as("key"))
    def bitsOf(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column = array((0 until BloomK).map(j =>
      pmod(pmod(h * TextHashUtil.aj(j) + TextHashUtil.bj(j),
        lit(TextHashUtil.P)), lit(BloomM))): _*)
    val h = pmod(col("key"), lit(TextHashUtil.P))
    val bits = keys.filter(col("key") % 2 === 0)
      .select(explode_outer(bitsOf(h)).as("bit")).distinct()
    val probes = keys.filter(col("key") % 2 === 1)
      .select(col("key"), explode_outer(bitsOf(h)).as("bit"))
    val perProbe = probes
      .join(broadcast(bits.withColumn("present", lit(1L))), Seq("bit"), "left")
      .groupBy("key")
      .agg(count_distinct(col("bit")).as("n_pos"),
        count_distinct(when(col("present").isNotNull, col("bit"))).as("n_hit"))
    val nBits = bits.agg(count(lit(1)).as("bits_set"))
    perProbe
      .agg(count(lit(1)).as("n_probes"),
        count(when(col("n_hit") === col("n_pos"), lit(1))).as("n_fp"))
      .crossJoin(broadcast(nBits))
      .select(col("bits_set"), round4(
          col("bits_set").cast("double") / lit(BloomM.toDouble)).as("load"),
        col("n_probes"), col("n_fp"),
        round4(col("n_fp").cast("double")
          / col("n_probes").cast("double")).as("fpr"))
  }

  private val sqlBloomFpr = {
    import graft.functions.TextHashUtil
    def bitJ(j: Int) =
      s"(((key % ${TextHashUtil.P}) * ${TextHashUtil.aj(j)} + ${TextHashUtil.bj(j)}) % ${TextHashUtil.P}) % $BloomM"
    val fan = (0 until BloomK).map(j => s"SELECT key, ${bitJ(j)} AS bit FROM p")
      .mkString("(", " UNION ALL ", ")")
    val buildFan = (0 until BloomK).map(j => s"SELECT ${bitJ(j)} AS bit FROM b")
      .mkString("(", " UNION ALL ", ")")
    s"""WITH b AS (SELECT o_orderkey AS key FROM orders WHERE o_orderkey % 2 = 0),
       |     p AS (SELECT o_orderkey AS key FROM orders WHERE o_orderkey % 2 = 1),
       |     bits AS (SELECT DISTINCT bit FROM $buildFan f),
       |     pb AS (SELECT key, bit FROM $fan f),
       |     pp AS (SELECT pb.key, count(DISTINCT pb.bit) AS n_pos,
       |                   count(DISTINCT CASE WHEN bits.bit IS NOT NULL THEN pb.bit END) AS n_hit
       |            FROM pb LEFT JOIN bits ON pb.bit = bits.bit
       |            GROUP BY pb.key),
       |     nb AS (SELECT CAST(count(*) AS BIGINT) AS bits_set FROM bits)
       |SELECT bits_set,
       |       ${duckRound4(
                 s"CAST(bits_set AS DOUBLE) / $BloomM.0")} AS load,
       |       CAST(count(*) AS BIGINT) AS n_probes,
       |       CAST(count(CASE WHEN n_hit = n_pos THEN 1 END) AS BIGINT) AS n_fp,
       |       ${duckRound4(
                 "CAST(count(CASE WHEN n_hit = n_pos THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS fpr
       |FROM pp CROSS JOIN nb
       |GROUP BY bits_set""".stripMargin
  }

  // ---------- q_mv_retract: incremental refresh with retractions ----------

  /** [[AggMaintain.refreshWithRetractions]] driver-gated (the
    * `q_agg_refresh` pattern extended to DELETES): the snapshot is the
    * aggregate of the orderkey%3 ∈ {0,1} slice, the batch inserts the
    * %3=2 slice and RETRACTS the %3=1 slice; the oracle aggregates
    * the %3≠1 slice directly. Hash-match proves the negated-measure
    * combine is exact — the upsert/retract-stream maintenance model
    * (Flink retract streams; DBSP/differential-dataflow Z-sets) on
    * the additive monoid.
    */
  def mvRetract(spark: SparkSession, sfDir: String): DataFrame = {
    val keys = Seq("l_returnflag", "l_linestatus", "grp")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("l_suppkey") % 10).as("grp"), col("l_orderkey"),
        col("l_quantity").cast("decimal(18,4)").as("qty"), lit(1L).as("cnt"))
    def full(df: DataFrame) = df.groupBy(keys.map(col): _*)
      .agg(sum("qty").as("qty"), sum("cnt").as("cnt"))
    val snapshot = full(li.filter(col("l_orderkey") % 3 =!= 2))
    AggMaintain.refreshWithRetractions(
        snapshot,
        inserts = li.filter(col("l_orderkey") % 3 === 2),
        deletes = li.filter(col("l_orderkey") % 3 === 1),
        keys, Seq("qty", "cnt"), countMeasure = "cnt")
      .select(col("l_returnflag"), col("l_linestatus"), col("grp"),
        round(col("qty").cast("double"), 4).as("sum_qty"),
        col("cnt").cast("long").as("n_items"))
      .orderBy("l_returnflag", "l_linestatus", "grp")
  }

  private val sqlMvRetract =
    """SELECT l_returnflag, l_linestatus, l_suppkey % 10 AS grp,
      |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
      |       count(*) AS n_items
      |FROM lineitem WHERE l_orderkey % 3 <> 1
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------- q_zone_map: min/max zone-map pruning audit ----------

  /** Zone-map (per-partition min/max) pruning audit over the natural
    * monthly layout: for each ship-month partition, would a
    * date-range predicate and an orderkey-range predicate skip it?
    * The date predicate prunes almost everything (the partition key
    * IS the predicate column); the orderkey predicate prunes nothing
    * (orderkeys are uniform across months) — the measured gap is the
    * case for Z-ordering ([[ZOrder]]) or sort-within-partition when
    * queries filter on non-partition columns. `n_date_match` /
    * `n_key_match` make false-positive scans visible: a partition
    * that overlaps but matches 0 rows is pure wasted IO.
    *
    * Shape: one month-grain aggregate builds every zone map (min/max
    * are map-side combinable); the two range bounds derive from a
    * 1-row broadcast aggregate so the audit stays scale-relative.
    * Integers and dates only.
    */
  def zoneMap(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(date_trunc("month", col("l_shipdate")).as("month"),
        col("l_shipdate"), col("l_orderkey"))
    val bounds = li.agg(
      floor(max(col("l_orderkey")) * 0.4).cast("long").as("k_lo"),
      floor(max(col("l_orderkey")) * 0.45).cast("long").as("k_hi"))
    val dLo = to_date(lit("1995-06-01")); val dHi = to_date(lit("1995-08-15"))
    li.crossJoin(broadcast(bounds))
      .groupBy("month")
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_orderkey")).as("mn_key"), max(col("l_orderkey")).as("mx_key"),
        min(col("l_shipdate")).as("mn_date"), max(col("l_shipdate")).as("mx_date"),
        count(when(col("l_orderkey").between(col("k_lo"), col("k_hi")), lit(1)))
          .as("n_key_match"),
        count(when(col("l_shipdate").between(dLo, dHi), lit(1))).as("n_date_match"),
        max(col("k_lo")).as("k_lo"), max(col("k_hi")).as("k_hi"))
      .select(col("month"), col("n_rows"),
        col("mn_key"), col("mx_key"),
        (col("mn_key") <= col("k_hi") && col("mx_key") >= col("k_lo"))
          .cast("int").as("key_overlap"),
        col("n_key_match"),
        (col("mn_date") <= dHi && col("mx_date") >= dLo)
          .cast("int").as("date_overlap"),
        col("n_date_match"))
      .orderBy("month")
  }

  private val sqlZoneMap =
    """WITH b AS (SELECT CAST(floor(max(l_orderkey) * 0.4) AS BIGINT) AS k_lo,
      |                  CAST(floor(max(l_orderkey) * 0.45) AS BIGINT) AS k_hi
      |           FROM lineitem),
      |     g AS (SELECT date_trunc('month', CAST(l_shipdate AS TIMESTAMP)) AS month,
      |                  count(*) AS n_rows,
      |                  min(l_orderkey) AS mn_key, max(l_orderkey) AS mx_key,
      |                  min(l_shipdate) AS mn_date, max(l_shipdate) AS mx_date,
      |                  CAST(count(CASE WHEN l_orderkey BETWEEN k_lo AND k_hi THEN 1 END) AS BIGINT) AS n_key_match,
      |                  CAST(count(CASE WHEN l_shipdate BETWEEN DATE '1995-06-01' AND DATE '1995-08-15' THEN 1 END) AS BIGINT) AS n_date_match,
      |                  max(k_lo) AS k_lo, max(k_hi) AS k_hi
      |           FROM lineitem CROSS JOIN b GROUP BY 1)
      |SELECT month, n_rows, mn_key, mx_key,
      |       CAST(mn_key <= k_hi AND mx_key >= k_lo AS INT) AS key_overlap,
      |       n_key_match,
      |       CAST(mn_date <= DATE '1995-08-15' AND mx_date >= DATE '1995-06-01' AS INT) AS date_overlap,
      |       n_date_match
      |FROM g ORDER BY month""".stripMargin

  // ---------- q_snapshot_diff: CDC-style snapshot comparison ----------

  /** Data-diff between two warehouse snapshots (the audit a CDC /
    * backfill pipeline runs after a reload): full-outer join on the
    * business key, classify every key as added / removed / changed /
    * unchanged, roll up per order status. The two snapshots derive
    * deterministically from `orders` (old = keys %10≠0, new = keys
    * %7≠0 with a 10% price bump on %5=0 keys), so the classification
    * exercises all four classes.
    *
    * Shape: one key-partitioned full-outer join (fact-to-fact — the
    * one shuffle the operation fundamentally requires) + a bounded
    * status-grain rollup. The changed-detection compares the SAME
    * floor-arithmetic bump expression on both engines, so double
    * equality is bit-deterministic.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val bumped = units(col("o_totalprice"), 110.0) / 100.0 // 1.1 × price in whole cents
    val old = o.filter(col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey").as("k1"), col("o_orderstatus").as("s1"),
        col("o_totalprice").as("p1"))
    val nw = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("k2"), col("o_orderstatus").as("s2"),
        when(col("o_orderkey") % 5 === 0, bumped)
          .otherwise(col("o_totalprice")).as("p2"))
    old.join(nw, col("k1") === col("k2"), "full_outer")
      .select(coalesce(col("s1"), col("s2")).as("status"),
        when(col("k1").isNull, "added")
          .when(col("k2").isNull, "removed")
          .when(col("p1") =!= col("p2"), "changed")
          .otherwise("unchanged").as("class"))
      .groupBy("status")
      .agg(count(when(col("class") === "added", lit(1))).as("n_added"),
        count(when(col("class") === "removed", lit(1))).as("n_removed"),
        count(when(col("class") === "changed", lit(1))).as("n_changed"),
        count(when(col("class") === "unchanged", lit(1))).as("n_unchanged"))
      .orderBy("status")
  }

  private val sqlSnapshotDiff =
    s"""WITH old AS (SELECT o_orderkey AS k1, o_orderstatus AS s1, o_totalprice AS p1
      |             FROM orders WHERE o_orderkey % 10 <> 0),
      |     nw AS (SELECT o_orderkey AS k2, o_orderstatus AS s2,
      |                   CASE WHEN o_orderkey % 5 = 0
      |                        THEN ${duckUnits("o_totalprice", 110.0)} / 100.0
      |                        ELSE o_totalprice END AS p2
      |            FROM orders WHERE o_orderkey % 7 <> 0),
      |     d AS (SELECT coalesce(s1, s2) AS status,
      |                  CASE WHEN k1 IS NULL THEN 'added'
      |                       WHEN k2 IS NULL THEN 'removed'
      |                       WHEN p1 <> p2 THEN 'changed'
      |                       ELSE 'unchanged' END AS class
      |           FROM old FULL OUTER JOIN nw ON k1 = k2)
      |SELECT status,
      |       CAST(count(CASE WHEN class = 'added' THEN 1 END) AS BIGINT) AS n_added,
      |       CAST(count(CASE WHEN class = 'removed' THEN 1 END) AS BIGINT) AS n_removed,
      |       CAST(count(CASE WHEN class = 'changed' THEN 1 END) AS BIGINT) AS n_changed,
      |       CAST(count(CASE WHEN class = 'unchanged' THEN 1 END) AS BIGINT) AS n_unchanged
      |FROM d GROUP BY status ORDER BY status""".stripMargin

  // ---------- q_late_dims: late-arriving-dimension triage ----------

  /** The Kimball late-arriving-dimension workflow: facts whose
    * dimension row hasn't landed yet must not be dropped — they take
    * an INFERRED MEMBER (placeholder surrogate keyed by the natural
    * key, updated when the real row arrives). This query runs the
    * triage under a deterministic availability model (customers with
    * c_custkey % 50 = 0 are "not yet loaded" — the driver corpus has
    * full RI, so lateness is simulated, the operator is real):
    * per order month, how many facts joined a present dimension row
    * vs were routed to inferred members, and how many DISTINCT
    * placeholders the month would mint — the dim-load backlog
    * metric.
    *
    * Shape: one orders⋈customer LEFT join on the filtered dim (the
    * required key shuffle; broadcast at real dim sizes), month-grain
    * rollup. The anti-join side is exactly [[graft.etl.StarSchema]]'s
    * RI-filter complement — same machinery, kept instead of dropped.
    */
  def lateDims(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
    val present = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 50 =!= 0)
      .select(col("c_custkey"))
    o.join(present, col("o_custkey") === col("c_custkey"), "left")
      .groupBy("month")
      .agg(count(lit(1)).as("n_facts"),
        sum(when(col("c_custkey").isNull, lit(1L)).otherwise(lit(0L)))
          .as("n_inferred"),
        countDistinct(when(col("c_custkey").isNull, col("o_custkey")))
          .as("n_placeholders"))
      .withColumn("inferred_rate", round4(
        col("n_inferred").cast("double") / col("n_facts").cast("double")))
      .orderBy("month")
  }

  private val sqlLateDims =
    s"""WITH p AS (SELECT c_custkey FROM customer WHERE c_custkey % 50 <> 0)
       |SELECT strftime(o_orderdate, '%Y-%m') AS month,
       |       CAST(count(*) AS BIGINT) AS n_facts,
       |       CAST(sum(CASE WHEN p.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_inferred,
       |       CAST(count(DISTINCT CASE WHEN p.c_custkey IS NULL
       |                                THEN o_custkey END) AS BIGINT) AS n_placeholders,
       |       ${duckRound4(
                  "CAST(sum(CASE WHEN p.c_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS inferred_rate
       |FROM orders LEFT JOIN p ON o_custkey = p.c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_time_travel: versioned snapshots under the oracle ----------

  /** Time travel under the ORACLE gate (the
    * [[graft.stream.SnapshotCommitter]] protocol was spec-gated
    * only): three snapshot versions are PUBLISHED through the real
    * `ManifestCommitter` protocol — recover → stage → write →
    * atomic manifest flip — with retention 3, then every retained
    * version is read back via `snapshotAt` and aggregated. The
    * version slices are deterministic event_id residue classes, so
    * the oracle states each version's expected aggregate directly
    * from the base table: a committer that mixed up versions, leaked
    * staging data, or swept a retained version breaks the hash.
    * (Driver-gated-kernel pattern: the oracle is the CONTRACTUAL
    * post-state, never the kernel — CLAUDE.md.)
    *
    * Scale: the gate harness rewrites snapshots whole; the
    * production writer is the incremental merge sink
    * ([[graft.stream.Streaming]] startUpsertSink) over the same
    * committer — version publish cost is one manifest PUT either way.
    */
  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.util.Scratch.dir("graft_tt").toString
    val c = new graft.stream.ManifestCommitter(
      dir, spark.sparkContext.hadoopConfiguration, retain = 3)
    val ev = Tables.events(spark, sfDir)
    def publish(df: DataFrame): Unit = {
      c.recover()
      val st = c.stage()
      df.write.mode("overwrite").parquet(st.toString)
      c.commit(st)
    }
    publish(ev.filter(col("event_id") % 3 === 0))
    publish(ev.filter(col("event_id") % 3 <= 1))
    publish(ev)
    c.versions().sorted.map { v =>
      spark.read.parquet(c.snapshotAt(v).get.toString)
        .withColumn("vm", units(col("value"), 1e6).cast("decimal(28,0)"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          sum(col("vm")).as("vms"))
        .select(lit(v).as("version"), col("n_events"), col("n_types"),
          round4(col("vms").cast("double") / 1000000.0)
            .as("sum_value"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  private val sqlTimeTravel = {
    def ver(n: Int, where: String): String =
      s"""SELECT CAST($n AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         |       ${duckRound4(
                    s"CAST(sum(CAST(${duckUnits("value", 1e6)} AS DECIMAL(28,0))) AS DOUBLE) / 1000000.0")} AS sum_value
         |FROM events $where""".stripMargin
    s"""${ver(1, "WHERE event_id % 3 = 0")}
       |UNION ALL ${ver(2, "WHERE event_id % 3 <= 1")}
       |UNION ALL ${ver(3, "")}
       |ORDER BY version""".stripMargin
  }

  // ---------- q_csv_roundtrip / q_jsonl_roundtrip: format fidelity ----------

  /** Interchange-format fidelity under the ORACLE gate (FormatsSpec
    * proves per-type round-trips; this proves the whole pipeline on
    * real data): events are written through [[graft.schema.Formats]]
    * CSV and read back with schema-on-read, then aggregated — the
    * result must hash-match the oracle computed from the ORIGINAL
    * parquet, so any timestamp-format, null-token, double-precision,
    * or quoting loss in the text round-trip breaks the gate. The
    * aggregate is chosen to be sensitive to each fidelity axis:
    * exact micro-unit value sums (doubles), distinct epoch hours
    * (timestamps to the second), id min/max (longs).
    *
    * CSV carries the typed columns (`props` JSON strings can embed
    * newlines, which CSV needs multiLine quoting for — that axis is
    * FormatsSpec's; the JSONL twin below round-trips props too).
    */
  def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.util.Scratch.dir("graft_csv_rt").toString
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
      // Text-format parallelism comes from file count (Formats
      // scaladoc), and file count comes from the upstream partitioning
      // — which here is a SINGLE-file parquet scan, so without this
      // the whole encode AND the read-back parse run on one core
      // (the 10×-fixture pass measured 27× per 10× data on the JSONL
      // twin). One small round-robin shuffle buys a core-count-wide
      // export, which is exactly how a real egress job is laid out.
      .repartition(spark.sparkContext.defaultParallelism)
    graft.schema.Formats.writeCsv(ev, s"$dir/events_csv")
    val back = graft.schema.Formats.readCsv(spark, s"$dir/events_csv", ev.schema)
    roundtripAgg(back)
  }

  /** JSONL edition of [[csvRoundtrip]], `props` included — the JSON
    * payload string survives inside the JSON line (escaped), and the
    * parsed-key sum proves it byte-faithful, not just non-null. */
  def jsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.util.Scratch.dir("graft_jsonl_rt").toString
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"), col("props"))
      // same file-count-parallelism rationale as [[csvRoundtrip]]
      .repartition(spark.sparkContext.defaultParallelism)
    graft.schema.Formats.writeJsonl(ev, s"$dir/events_jsonl")
    val back = graft.schema.Formats.readJsonl(spark, s"$dir/events_jsonl", ev.schema)
    val k = try_element_at(
      from_json(col("props"),
        org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")),
      lit("k")).try_cast("double")
    back
      .withColumn("km",
        when(k.isNotNull, units(k, 1e6).cast("decimal(28,0)"))
          .otherwise(lit(0).cast("decimal(28,0)")))
      .withColumn("vm", units(col("value"), 1e6).cast("decimal(28,0)"))
      .withColumn("hr", expr("unix_micros(ts) div 3600000000"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("hr")).as("n_hours"),
        sum(col("vm")).as("vms"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        sum(col("km")).as("kms"))
      .select(col("event_type"), col("n_events"), col("n_hours"),
        round4(col("vms").cast("double") / 1000000.0)
          .as("sum_value"),
        col("min_id"), col("max_id"),
        round4(col("kms").cast("double") / 1000000.0)
          .as("k_sum"))
      .orderBy("event_type")
  }

  /** ORC edition of [[csvRoundtrip]] — the binary columnar
    * interchange leg (ORC carries types natively, so this pins
    * timestamp micro-precision and double bit-fidelity through the
    * ORC writer/reader pair rather than through text encode/parse).
    * Same sensitive aggregate, same oracle as the CSV leg: the
    * contract is that NO format leg changes the answer.
    */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.util.Scratch.dir("graft_orc_rt").toString
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
      // same file-count-parallelism rationale as [[csvRoundtrip]]
      .repartition(spark.sparkContext.defaultParallelism)
    graft.schema.Formats.writeOrc(ev, s"$dir/events_orc")
    val back = graft.schema.Formats.readOrc(spark, s"$dir/events_orc", ev.schema)
    roundtripAgg(back)
  }

  /** Avro edition of [[csvRoundtrip]] — the row-oriented binary
    * interchange leg (the Kafka-ecosystem wire format): timestamps
    * through the timestamp-micros logical type, doubles through IEEE
    * bits. Same sensitive aggregate, same oracle — no format leg may
    * change the answer.
    */
  def avroRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.util.Scratch.dir("graft_avro_rt").toString
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
      // same file-count-parallelism rationale as [[csvRoundtrip]]
      .repartition(spark.sparkContext.defaultParallelism)
    graft.schema.Formats.writeAvro(ev, s"$dir/events_avro")
    val back = graft.schema.Formats.readAvro(spark, s"$dir/events_avro", ev.schema)
    roundtripAgg(back)
  }

  /** XML edition of [[csvRoundtrip]] — the WORST-case text leg (every
    * value flattens to an element string); pinned timestamp format +
    * explicit schema keep micro-precision and double parsing exact,
    * proven by the same hash-gated aggregate.
    */
  def xmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.util.Scratch.dir("graft_xml_rt").toString
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
      .repartition(spark.sparkContext.defaultParallelism)
    graft.schema.Formats.writeXml(ev, s"$dir/events_xml")
    val back = graft.schema.Formats.readXml(spark, s"$dir/events_xml", ev.schema)
    roundtripAgg(back)
  }

  // ---------- q_schema_merge: schema-evolution (mergeSchema) seam ----------

  /** Schema-evolution fidelity under the oracle gate: an "old"
    * snapshot written WITHOUT a column and a "new" snapshot written
    * WITH it (the additive-column migration every long-lived table
    * goes through) are read back together via parquet `mergeSchema`,
    * and the merged frame must aggregate exactly as the contract
    * says: old rows surface the added column as NULL, new rows carry
    * their values, and no row or measure is lost crossing the schema
    * boundary. The oracle replays the contract from the ORIGINAL
    * table (pre-1995 orders = the old snapshot, the rest = new), so
    * any silent row drop, column misalignment, or null-default
    * divergence in the merged read breaks the hash.
    *
    * Scale: mergeSchema's footer-union planning cost is per-FILE,
    * not per-row — at 100 TB you pin the merged schema in the
    * catalog instead (the scaladoc'd production path); the read
    * itself stays a plain pruned columnar scan.
    */
  def schemaMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.util.Scratch.dir("graft_schema_mrg").toString
    val o = Tables.orders(spark, sfDir)
    val cut = lit("1995-01-01").cast("date")
    // old snapshot: pre-cut rows, no channel column yet
    o.filter(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_totalprice"))
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/snap/v1")
    // new snapshot: post-cut rows with the added column
    o.filter(col("o_orderdate") >= cut)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority").as("channel"))
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/snap/v2")
    val merged = spark.read.option("mergeSchema", "true")
      .option("recursiveFileLookup", "true").parquet(s"$dir/snap")
    merged
      .withColumn("ch", coalesce(col("channel"), lit("_pre_migration")))
      .withColumn("cents", units(col("o_totalprice"), 100.0).cast("long"))
      .groupBy("ch")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents").cast("decimal(38,0)")).as("cs"),
        min(col("o_orderkey")).as("min_key"))
      .select(col("ch").as("channel"), col("n_orders"),
        round4(col("cs").cast("double") / 100.0).as("revenue"),
        col("min_key"))
      .orderBy("channel")
  }

  private val sqlSchemaMerge =
    s"""WITH m AS (SELECT o_orderkey,
       |             CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT) AS cents,
       |             CASE WHEN o_orderdate < DATE '1995-01-01' THEN '_pre_migration'
       |                  ELSE o_orderpriority END AS ch
       |           FROM orders)
       |SELECT ch AS channel, CAST(count(*) AS BIGINT) AS n_orders,
       |       ${duckRound4("CAST(sum(cents) AS DOUBLE) / 100.0")} AS revenue,
       |       CAST(min(o_orderkey) AS BIGINT) AS min_key
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  private def roundtripAgg(df: DataFrame): DataFrame =
    df.withColumn("vm", units(col("value"), 1e6).cast("decimal(28,0)"))
      .withColumn("hr", expr("unix_micros(ts) div 3600000000"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("hr")).as("n_hours"),
        sum(col("vm")).as("vms"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .select(col("event_type"), col("n_events"), col("n_hours"),
        round4(col("vms").cast("double") / 1000000.0)
          .as("sum_value"),
        col("min_id"), col("max_id"))
      .orderBy("event_type")

  private val sqlRoundtripBase =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(count(DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) AS BIGINT) AS n_hours,
       |       ${duckRound4(
                  s"CAST(sum(CAST(${duckUnits("value", 1e6)} AS DECIMAL(28,0))) AS DOUBLE) / 1000000.0")} AS sum_value,
       |       CAST(min(event_id) AS BIGINT) AS min_id,
       |       CAST(max(event_id) AS BIGINT) AS max_id
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  private val sqlJsonlRoundtrip =
    s"""WITH a AS ($sqlRoundtripBase),
       |     k AS (SELECT event_type,
       |             ${duckRound4(
                       s"CAST(sum(CASE WHEN try_cast(json_extract_string(props, '$$.k') AS DOUBLE) IS NOT NULL THEN CAST(${duckUnits("try_cast(json_extract_string(props, '$.k') AS DOUBLE)", 1e6)} AS DECIMAL(28,0)) ELSE CAST(0 AS DECIMAL(28,0)) END) AS DOUBLE) / 1000000.0")} AS k_sum
       |           FROM events GROUP BY 1)
       |SELECT a.*, k.k_sum FROM a JOIN k ON a.event_type = k.event_type
       |ORDER BY a.event_type""".stripMargin

  // ---------- q_py_title: pandas .title() exact-parity audit ----------

  /** Closes the documented F3 divergence (SURVEY §2.3: pandas
    * `.str.title()` vs Spark `initcap`, `ETL/user_ETL.py:48-49`):
    * [[graft.functions.TextHashes.pyTitle]] is a native codegen
    * expression with Python's EXACT titlecasing rule — any non-letter
    * (apostrophe, digit) ends a cased run, so `"men's" → "Men'S"`
    * where `initcap`'s whitespace-word rule gives `"Men's"`. The
    * query audits both casings over a possessive string built from
    * part data (the corpus itself has no apostrophes — the divergence
    * class the reference's real inputs DO hit) and counts per type
    * where the two rules disagree; the oracle reproduces BOTH rules
    * as character-walk SQL, so the kernel's semantics — not just its
    * row counts — are hash-pinned cross-engine.
    *
    * Scale: one pushed-down scan, per-row codegen'd string kernel,
    * bounded type-grain aggregate. ASCII-parity-only byte walk
    * (kernel scaladoc), matching the corpus contract.
    */
  def pyTitleAudit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .withColumn("s", concat(col("p_name"), lit("'s "), col("p_type")))
      .withColumn("t", graft.functions.TextHashes.pyTitle(col("s")))
      .withColumn("ic", initcap(col("s")))
      .groupBy("p_type")
      .agg(count(lit(1)).as("n_parts"),
        sum(when(col("t") =!= col("ic"), lit(1L)).otherwise(lit(0L)))
          .as("n_diverge"),
        min(col("t")).as("sample_title"))
      .orderBy("p_type")

  private val sqlPyTitle = {
    def walk(body: String): String =
      s"""list_aggregate(list_transform(range(1, length(s) + 1), i ->
         |  $body), 'string_agg', '')""".stripMargin
    def ch(off: String): String = s"substring(s, CAST($off AS INT), 1)"
    def alpha(off: String): String =
      s"(ascii(${ch(off)}) BETWEEN 65 AND 90 OR ascii(${ch(off)}) BETWEEN 97 AND 122)"
    val pt = walk(
      s"""CASE WHEN ${alpha("i")}
         |     THEN CASE WHEN i > 1 AND ${alpha("i-1")}
         |               THEN lower(${ch("i")}) ELSE upper(${ch("i")}) END
         |     ELSE ${ch("i")} END""".stripMargin)
    val ic = walk(
      s"""CASE WHEN i = 1 OR ${ch("i-1")} = ' '
         |     THEN upper(${ch("i")}) ELSE lower(${ch("i")}) END""".stripMargin)
    s"""WITH base AS (SELECT p_type, p_name || '''s ' || p_type AS s FROM part),
       |     cased AS (SELECT p_type, $pt AS t, $ic AS ic FROM base)
       |SELECT p_type, CAST(count(*) AS BIGINT) AS n_parts,
       |       CAST(sum(CASE WHEN t <> ic THEN 1 ELSE 0 END) AS BIGINT) AS n_diverge,
       |       min(t) AS sample_title
       |FROM cased GROUP BY p_type ORDER BY p_type""".stripMargin
  }

  // ---------- q_lww_upsert: cross-chunk last-writer-wins replay ----------

  /** The reference's cross-chunk upsert semantics as a queryable
    * operator (`ETL/user_ETL.py:106-114`: chunks arrive in order and
    * each `ON CONFLICT DO UPDATE` overwrites the previous writer —
    * the divergence SURVEY §2.4 documents against the snapshot
    * engine's first-wins dedup, now closed by [[Dedup.lastWins]]):
    * replay the event stream as arrival-ordered upserts keyed on
    * (user, event_type) and report the FINAL table state per type —
    * surviving keys, superseded row count, the winners' exact value
    * mass, and a winner-id checksum that any wrong-winner choice
    * breaks.
    *
    * Shape: one struct-max hash aggregate at key grain (mergeable —
    * see [[Dedup.lastWins]]; never a per-key window) plus a bounded
    * type-grain rollup and a broadcastable type-grain join for the
    * superseded counts. Value mass through micro-unit DECIMAL
    * (order-independent exact sum).
    */
  def lwwUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ord_us"), col("event_id"),
        units(col("value"), 1e6).cast("decimal(28,0)").as("vm"))
    val last = Dedup.lastWins(ev, Seq("user_id", "event_type"),
      Seq(col("ord_us"), col("event_id")), Seq("event_id", "vm"))
    val tot = ev.groupBy("event_type").agg(count(lit(1)).as("n_rows"))
    last.groupBy("event_type")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("vm")).as("vms"),
        sum(col("event_id")).as("winner_id_sum"))
      .join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("n_keys"),
        (col("n_rows") - col("n_keys")).as("n_superseded"),
        round4(col("vms").cast("double") / 1000000.0)
          .as("last_value_sum"),
        col("winner_id_sum"))
      .orderBy("event_type")
  }

  private val sqlLwwUpsert =
    s"""WITH e AS (SELECT user_id, event_type,
       |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ord_us, event_id,
       |                  CAST(${duckUnits("value", 1e6)} AS DECIMAL(28,0)) AS vm
       |           FROM events),
       |     w AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
       |                      ORDER BY ord_us DESC, event_id DESC) AS rn FROM e),
       |     l AS (SELECT * FROM w WHERE rn = 1),
       |     t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows
       |           FROM e GROUP BY 1)
       |SELECT l.event_type, CAST(count(*) AS BIGINT) AS n_keys,
       |       CAST(t.n_rows - count(*) AS BIGINT) AS n_superseded,
       |       ${duckRound4(
                  "CAST(sum(l.vm) AS DOUBLE) / 1000000.0")} AS last_value_sum,
       |       CAST(sum(l.event_id) AS BIGINT) AS winner_id_sum
       |FROM l JOIN t ON l.event_type = t.event_type
       |GROUP BY l.event_type, t.n_rows ORDER BY l.event_type""".stripMargin

  // ---------- q_merge_matrix: full four-clause MERGE semantics ----------

  /** The complete MERGE clause matrix as a queryable operator — the
    * modern lakehouse `MERGE INTO` contract ([[Merge.upsert]] gates
    * the two-clause upsert; this adds the DELETE arms, including
    * Spark 4 / Delta's `WHEN NOT MATCHED BY SOURCE`, the "sync table
    * to feed" clause):
    *   - matched,     source balance < 0  → DELETE (purge on signal)
    *   - matched,     otherwise           → UPDATE (take source value)
    *   - not matched (source-only)        → INSERT
    *   - not matched BY SOURCE, stale flag→ DELETE (sweep unrefreshed)
    * Target/source are deterministic residue-class slices of the
    * customer table (target: even custkey with shifted balance;
    * source: custkey % 3 = 0 with the raw balance) so every clause
    * fires. The gate hashes the merged table's per-(custkey % 5)
    * row counts and exact balance-cent mass plus a key checksum —
    * any clause mis-fire moves a count or the checksum.
    *
    * Shape: ONE full-outer equi-join on the key + codegen'd clause
    * CASE — the canonical distributed MERGE execution (what Delta/
    * Iceberg plan under the hood): no per-key window, no skew beyond
    * the key join, linear at 100 TB. The oracle replays the same
    * relational algebra in ANSI SQL.
    */
  def mergeMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("k"),
        units(col("c_acctbal"), 100.0).cast("long").as("balc"))
    val target = cust.filter(col("k") % 2 === 0)
      .select(col("k"), (col("balc") + 5000L).as("t_balc"))
    val source = cust.filter(col("k") % 3 === 0)
      .select(col("k").as("sk"), col("balc").as("s_balc"))
    val merged = target.join(source, col("k") === col("sk"), "full_outer")
      .select(
        coalesce(col("k"), col("sk")).as("key"),
        when(col("k").isNotNull && col("sk").isNotNull,
          when(col("s_balc") < 0, lit(null).cast("long"))      // matched-delete
            .otherwise(col("s_balc")))                          // matched-update
          .when(col("k").isNull, col("s_balc"))                 // insert
          .otherwise(                                           // not matched by source
            when(col("t_balc") < 0, lit(null).cast("long"))     //   stale-delete
              .otherwise(col("t_balc"))).as("bal"))             //   keep
      .filter(col("bal").isNotNull)
    merged.groupBy((col("key") % 5).as("key_mod"))
      .agg(count(lit(1)).as("n_rows"), sum(col("bal")).as("bal_cents"),
        sum(col("key")).as("key_checksum"))
      .orderBy("key_mod")
  }

  private val sqlMergeMatrix =
    s"""WITH cust AS (SELECT c_custkey AS k,
      |                     CAST(${duckUnits("c_acctbal", 100.0)} AS BIGINT) AS balc
      |              FROM customer),
      |     t AS (SELECT k, balc + 5000 AS t_balc FROM cust WHERE k % 2 = 0),
      |     s AS (SELECT k AS sk, balc AS s_balc FROM cust WHERE k % 3 = 0),
      |     m AS (SELECT COALESCE(k, sk) AS key,
      |                  CASE WHEN k IS NOT NULL AND sk IS NOT NULL THEN
      |                         CASE WHEN s_balc < 0 THEN NULL ELSE s_balc END
      |                       WHEN k IS NULL THEN s_balc
      |                       ELSE CASE WHEN t_balc < 0 THEN NULL ELSE t_balc END
      |                  END AS bal
      |           FROM t FULL OUTER JOIN s ON k = sk)
      |SELECT key % 5 AS key_mod, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(bal) AS BIGINT) AS bal_cents,
      |       CAST(sum(key) AS BIGINT) AS key_checksum
      |FROM m WHERE bal IS NOT NULL
      |GROUP BY 1 ORDER BY key_mod""".stripMargin

  // ---------- q_catalog_stats: ANALYZE … FOR COLUMNS reaches the catalog ----------

  /** Cost-based-optimizer statistics THROUGH the catalog, not just
    * computed: registers the orders table in the session catalog,
    * runs `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` (the
    * command whose stored shape `q_equidepth_hist` computes by hand),
    * then reads the numbers BACK out of the catalog via
    * `DESCRIBE EXTENDED <table> <col>` — proving the stats round-trip
    * that join-reorder/broadcast decisions consume. The verdict's
    * "histogram stats never reach a catalog" gap, closed with the
    * built-in catalog (a Hive/Iceberg metastore swaps in by config,
    * same commands).
    *
    * Output: per analyzed column, the catalog's recorded row count,
    * null count, and min/max — the EXACT stats only (the HLL distinct
    * estimate and equi-height histogram are also stored and readable
    * the same way, but are engine-specific numbers no oracle can
    * reproduce; asserting them is `CatalogStatsSpec`'s job). The
    * oracle recomputes the same facts from the raw table, so a stats
    * pipeline that silently analyzes the wrong snapshot breaks the
    * hash. ANALYZE is one mergeable pass — the 100 TB cost is a scan.
    */
  def catalogStats(spark: SparkSession, sfDir: String): DataFrame = {
    val tbl = "graft_stats_orders"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING parquet " +
      s"OPTIONS (path '$sfDir/orders.parquet')")
    spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS " +
      "FOR COLUMNS o_custkey, o_totalprice")
    // catalog row count: the Statistics line of DESCRIBE EXTENDED
    val rowCnt = spark.sql(s"DESCRIBE EXTENDED $tbl")
      .filter(col("col_name") === "Statistics")
      .select(col("data_type")).collect()(0).getString(0)
      .split(",")(1).trim.split(" ")(0).toLong
    def colStats(c: String): DataFrame = {
      val kv = spark.sql(s"DESCRIBE EXTENDED $tbl $c")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      import spark.implicits._
      Seq((c, rowCnt, kv("num_nulls").toLong,
        kv("min").toDouble, kv("max").toDouble))
        .toDF("col_name", "n_rows", "null_cnt", "min_raw", "max_raw")
    }
    colStats("o_custkey").unionByName(colStats("o_totalprice"))
      .select(col("col_name"), col("n_rows"), col("null_cnt"),
        round4(col("min_raw")).as("min_v"),
        round4(col("max_raw")).as("max_v"))
      .orderBy("col_name")
  }

  private val sqlCatalogStats = {
    def side(c: String) =
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(*) - count($c) AS BIGINT) AS null_cnt,
         |       ${duckRound4(s"CAST(min($c) AS DOUBLE)")} AS min_v,
         |       ${duckRound4(s"CAST(max($c) AS DOUBLE)")} AS max_v
         |FROM orders""".stripMargin
    s"""${side("o_custkey")}
       |UNION ALL
       |${side("o_totalprice")}
       |ORDER BY col_name""".stripMargin
  }

  // ---------- q_mor_read: merge-on-read scan (base + delta log) ----------

  /** Merge-on-read under the correctness gate: the table-format read
    * path where a BASE snapshot and an unmerged DELTA LOG (updates +
    * delete tombstones, sequence-numbered) are reconciled AT SCAN
    * TIME — Hudi MOR / Iceberg v2 positional-delete semantics,
    * complementing `q_lww_upsert` (which gates the WRITE-side
    * compaction of the same rule). Base customers are written to
    * parquet; a delta log carries +100.00 balance updates (seq 1,
    * custkey ≡ 0 mod 7) and delete tombstones (seq 2, custkey ≡ 0 mod
    * 13); the scan unions base (seq 0) with the log, keeps the
    * max-seq row per key (`row_number` over the key — partitioned by
    * key, fact-scale safe), and drops tombstoned keys. The oracle
    * states the contractual merged table arithmetically from the raw
    * source — a reader that loses a tombstone, double-applies an
    * update, or misorders sequences breaks the hash.
    *
    * Scale: the merge is one key-partitioned window over base ∪ log —
    * work ∝ base + delta, the read amplification MOR trades for
    * cheap writes; balances ride as exact integer cents.
    */
  def morRead(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.util.Scratch.dir("graft_mor").toString
    val base = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"),
        units(col("c_acctbal"), 100.0).cast("long").as("cents"))
    base.write.mode("overwrite").parquet(s"$dir/base")
    val updates = base.filter(pmod(col("c_custkey"), lit(7L)) === 0L)
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("cents") + 10000L).as("cents"),
        lit("U").as("op"), lit(1L).as("seq"))
    val deletes = base.filter(pmod(col("c_custkey"), lit(13L)) === 0L)
      .select(col("c_custkey"), col("c_mktsegment"), col("cents"),
        lit("D").as("op"), lit(2L).as("seq"))
    updates.unionByName(deletes).write.mode("overwrite").parquet(s"$dir/delta")
    // ---- the read path under test: base ∪ log, last-sequence-wins ----
    val scanned = spark.read.parquet(s"$dir/base")
      .select(col("c_custkey"), col("c_mktsegment"), col("cents"),
        lit("I").as("op"), lit(0L).as("seq"))
      .unionByName(spark.read.parquet(s"$dir/delta"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_custkey").orderBy(col("seq").desc)
    scanned.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("c"))
      .select(col("c_mktsegment"), col("n_rows"),
        round(col("c").cast("double") / 100.0, 4).as("total_balance"))
      .orderBy("c_mktsegment")
  }

  private val sqlMorRead =
    s"""WITH m AS (SELECT c_custkey, c_mktsegment,
      |                  CAST(${duckUnits("c_acctbal", 100.0)} AS BIGINT)
      |                    + CASE WHEN c_custkey % 7 = 0 THEN 10000 ELSE 0 END AS cents
      |           FROM customer
      |           WHERE c_custkey % 13 <> 0)
      |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
      |       round(CAST(sum(cents) AS DOUBLE) / 100.0, 4) AS total_balance
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_bucket_join: co-located bucketed join, driver-gated ----------

  /** Bucketed co-located join under the correctness gate (previously
    * spec-only, `BucketJoinSpec`): orders and lineitem are written as
    * catalog tables bucketed 4-ways on the order key
    * ([[Bucketing.saveBucketed]] — ONE bucketed-write implementation
    * for spec and gate), joined through [[Bucketing.bucketedJoin]]
    * with auto-broadcast disabled, and the physical plan's shuffle-
    * exchange count over the bare join is EMBEDDED in the hashed
    * output (`join_shuffles`, oracle pins it to 0): a layout change
    * that re-introduces the exchange breaks the hash, not just a
    * test. Values: revenue per order priority through the
    * round-before-sum DECIMAL discipline (`q_local_supply`'s rule).
    *
    * Scale: this is THE 100 TB shape for repeated fact⋈fact joins —
    * pay the bucketed layout once at write, elide the dominant
    * shuffle on every later join; bucket count sized so one bucket of
    * the larger side fits an executor core (thousands at 100 TB, 4
    * here). The result is materialized (5 rows) before the catalog
    * tables are dropped.
    */
  def bucketJoinExec(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderpriority")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o_orderkey"),
        col("l_extendedprice"), col("l_discount"))
    // The two layout writes are independent tables — writing them on
    // futures overlaps the smaller write (and its catalog DDL/commit)
    // with the larger one (the query is write-bound: the two
    // saveAsTable stages are ~80% of its job time).
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val wo = Future(Bucketing.saveBucketed(orders, "graft_bj_orders", "o_orderkey", 4))
      val wl = Future(Bucketing.saveBucketed(li, "graft_bj_lineitem", "o_orderkey", 4))
      Await.result(wo, Duration.Inf); Await.result(wl, Duration.Inf)
    }
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.bucketedJoin(
        spark, "graft_bj_orders", "graft_bj_lineitem", "o_orderkey")
      val nShuffles = Bucketing.shuffleCount(joined)
      joined
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(round6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(28,6)"))
            .as("rev_dec"))
        .select(col("o_orderpriority"), col("n_items"),
          round(col("rev_dec").cast("double"), 4).as("revenue"),
          lit(nShuffles.toLong).as("join_shuffles"))
        .orderBy("o_orderpriority")
        // materialize NOW: the frame reads catalog tables the finally
        // block drops, and the plan must be the forced-SMJ one
        .localCheckpoint(true)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS graft_bj_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bj_lineitem")
    }
  }

  private val sqlBucketJoin =
    s"""SELECT o_orderpriority, count(*) AS n_items,
      |       round(CAST(sum(CAST(${duckRound6("l_extendedprice * (1.0 - l_discount)")} AS DECIMAL(28,6))) AS DOUBLE), 4) AS revenue,
      |       CAST(0 AS BIGINT) AS join_shuffles
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_snapshot_partition: dynamic partition overwrite, driver-gated ----------

  /** Partitioned snapshots + dynamic partition overwrite under the
    * correctness gate (previously spec-only): a month-partitioned
    * orders snapshot is written in full (`batch = 'v1'`), then ONLY
    * the 1996 months are rewritten (`batch = 'v2'`) through the same
    * [[Warehouse.writePartitioned]] production path, and the
    * POST-STATE is read back from the filesystem: per month, the
    * surviving batch marker, row count, and physical file count. The
    * oracle states the contractual post-state — 1996 months carry v2,
    * every other month still carries its ORIGINAL v1 rows (a static
    * overwrite would have deleted them and broken the hash), and each
    * directory holds exactly one file (the pre-write repartition on
    * the partition column, CLAUDE.md's dynamic-write discipline).
    * This is the partition-level upsert a 100 TB warehouse runs
    * nightly: work ∝ the replaced partitions, never the table.
    */
  def snapshotPartition(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .withColumn("order_month", date_format(col("o_orderdate"), "yyyy-MM"))
    val dir = graft.util.Scratch.dir("graft_snap_part").toString
    Warehouse.writePartitioned(
      o.withColumn("batch", lit("v1")), dir, Seq("order_month"))
    Warehouse.writePartitioned(
      o.filter(year(col("o_orderdate")) === 1996)
        .withColumn("batch", lit("v2")), dir, Seq("order_month"))
    val counts = spark.read.parquet(dir)
      .groupBy(col("order_month").cast("string").as("order_month"),
        col("batch"))
      .agg(count(lit(1)).as("n_rows"))
    // physical files per partition directory: a driver walk bounded
    // by month count (years × 12, independent of rows)
    val fileCounts = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("order_month="))
        .map { p =>
          val m = p.getFileName.toString.stripPrefix("order_month=")
          val n = java.nio.file.Files.list(p).iterator().asScala
            .count(_.getFileName.toString.endsWith(".parquet"))
          (m, n.toLong)
        }.toSeq
    }
    import spark.implicits._
    counts
      .join(broadcast(fileCounts.toDF("order_month", "n_files")), "order_month")
      .select(col("order_month"), col("batch"), col("n_rows"), col("n_files"))
      .orderBy("order_month", "batch")
  }

  private val sqlSnapshotPartition =
    """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
      |       CASE WHEN date_part('year', o_orderdate) = 1996
      |            THEN 'v2' ELSE 'v1' END AS batch,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(1 AS BIGINT) AS n_files
      |FROM orders
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------- q_delta_encode: delta+varint encoding-choice audit ----------

  /** Timestamp delta-encoding audit — the lakehouse "which encoding
    * for this column" decision (`q_dict_encode`'s numeric twin,
    * Parquet's DELTA_BINARY_PACKED / Gorilla's rationale): per user,
    * sort events by time and replace each epoch-µs timestamp with its
    * delta from the predecessor; cost each delta at zigzag-varint
    * width (1 byte per started 7-bit group — thresholds are exact
    * integer compares, no log); the series head pays the full 8-byte
    * anchor. Per event type: raw bytes (8·n), delta-encoded bytes,
    * and the compression ratio — the number that decides whether the
    * sorted layout is worth the write-side shuffle.
    *
    * Shape: one window partitioned by user_id (fact-scale key count,
    * bounded rows per key — the allowed partitioned-window form) and
    * one hash aggregate. Determinism: deltas depend only on the
    * sorted µs sequence; ties order by event_id so the 8-byte anchor
    * lands on the same row in both engines. Zigzag of a non-negative
    * delta is 2d — widths are pure integer CASE thresholds, exact
    * everywhere.
    */
  def deltaEncode(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ord_us"), col("event_id"))
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ord_us"))
      .withColumn("prev", lag(col("ord_us"), 1).over(w))
      .withColumn("bytes",
        when(col("prev").isNull, 8L).otherwise({
          val z = (col("ord_us") - col("prev")) * 2L
          when(z < (1L << 7), 1L).when(z < (1L << 14), 2L)
            .when(z < (1L << 21), 3L).when(z < (1L << 28), 4L)
            .when(z < (1L << 35), 5L).when(z < (1L << 42), 6L)
            .when(z < (1L << 49), 7L).when(z < (1L << 56), 8L)
            .otherwise(10L)
        }))
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        (count(lit(1)) * 8L).as("raw_bytes"),
        sum(col("bytes")).as("delta_bytes"))
      .select(col("event_type"), col("n_events"), col("raw_bytes"),
        col("delta_bytes"),
        round4(col("delta_bytes").cast("double") /
          col("raw_bytes").cast("double")).as("ratio"))
      .orderBy("event_type")
  }

  private val sqlDeltaEncode = {
    val width = (1 to 8).map { k =>
      s"WHEN z < ${1L << (7 * k)} THEN $k"
    }.mkString(" ")
    s"""WITH e AS (SELECT event_type, user_id, event_id,
       |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ord_us
       |           FROM events),
       |     d AS (SELECT event_type,
       |                  (ord_us - lag(ord_us, 1) OVER (PARTITION BY user_id
       |                     ORDER BY ord_us, event_id)) * 2 AS z
       |           FROM e),
       |     b AS (SELECT event_type,
       |                  CASE WHEN z IS NULL THEN 8 $width ELSE 10 END AS bytes
       |           FROM d)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
       |       CAST(sum(bytes) AS BIGINT) AS delta_bytes,
       |       ${duckRound4(
                  "CAST(sum(bytes) AS DOUBLE) / CAST(count(*) * 8 AS DOUBLE)")} AS ratio
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_delta_encode" -> (deltaEncode _),
    "q_bucket_join" -> (bucketJoinExec _),
    "q_mor_read" -> (morRead _),
    "q_snapshot_partition" -> (snapshotPartition _),
    "q_catalog_stats" -> (catalogStats _),
    "q_compact_exec" -> (compactExec _),
    "q_time_travel" -> (timeTravel _),
    "q_csv_roundtrip" -> (csvRoundtrip _),
    "q_orc_roundtrip" -> (orcRoundtrip _),
    "q_avro_roundtrip" -> (avroRoundtrip _),
    "q_xml_roundtrip" -> (xmlRoundtrip _),
    "q_schema_merge" -> (schemaMerge _),
    "q_jsonl_roundtrip" -> (jsonlRoundtrip _),
    "q_py_title" -> (pyTitleAudit _),
    "q_lww_upsert" -> (lwwUpsert _),
    "q_merge_matrix" -> (mergeMatrix _),
    "q_late_dims" -> (lateDims _),
    "q_bloom_fpr" -> (bloomFpr _),
    "q_pit_join" -> (pitJoin _),
    "q_impute_median" -> (imputeMedian _),
    "q_vacuum_plan" -> (vacuumPlan _),
    "q_profile_drift" -> (profileDrift _),
    "q_mv_retract" -> (mvRetract _),
    "q_zone_map" -> (zoneMap _),
    "q_snapshot_diff" -> (snapshotDiff _),
    "q_constraint_audit" -> (constraintAudit _),
    "q_scd2_history" -> (scd2History _),
    "q_zorder_addr" -> (zorderAddr _),
    "q_agg_refresh" -> (aggRefresh _),
    "q_bloom_prune" -> (bloomPrune _),
    "q_profile" -> (profileQ _),
    "q_clean_user_dim" -> (cleanUserDim _),
    "q_recode_categorical" -> (recodeCategorical _),
    "q_date_dim" -> (dateDimQ _),
    "q_ceil_prices" -> (ceilPrices _),
    "q_numeric_coerce" -> (numericCoerce _),
    "q_fact_build" -> (factBuild _),
    "q_surrogate_map" -> (surrogateMap _),
    "q_ri_filter" -> (riFilter _))

  val oracle: Map[String, String] = Map(
    "q_delta_encode" -> sqlDeltaEncode,
    "q_bucket_join" -> sqlBucketJoin,
    "q_mor_read" -> sqlMorRead,
    "q_snapshot_partition" -> sqlSnapshotPartition,
    "q_catalog_stats" -> sqlCatalogStats,
    "q_compact_exec" -> sqlCompactExec,
    "q_time_travel" -> sqlTimeTravel,
    "q_csv_roundtrip" -> sqlRoundtripBase,
    "q_orc_roundtrip" -> sqlRoundtripBase,
    "q_avro_roundtrip" -> sqlRoundtripBase,
    "q_xml_roundtrip" -> sqlRoundtripBase,
    "q_schema_merge" -> sqlSchemaMerge,
    "q_jsonl_roundtrip" -> sqlJsonlRoundtrip,
    "q_py_title" -> sqlPyTitle,
    "q_lww_upsert" -> sqlLwwUpsert,
    "q_merge_matrix" -> sqlMergeMatrix,
    "q_late_dims" -> sqlLateDims,
    "q_bloom_fpr" -> sqlBloomFpr,
    "q_pit_join" -> sqlPitJoin,
    "q_impute_median" -> sqlImputeMedian,
    "q_vacuum_plan" -> sqlVacuumPlan,
    "q_profile_drift" -> sqlProfileDrift,
    "q_mv_retract" -> sqlMvRetract,
    "q_zone_map" -> sqlZoneMap,
    "q_snapshot_diff" -> sqlSnapshotDiff,
    "q_constraint_audit" -> sqlConstraintAudit,
    "q_scd2_history" -> sqlScd2History,
    "q_zorder_addr" -> sqlZorderAddr,
    "q_agg_refresh" -> sqlAggRefresh,
    "q_bloom_prune" -> sqlBloomPrune,
    "q_profile" -> sqlProfile,
    "q_clean_user_dim" -> sqlCleanUserDim,
    "q_recode_categorical" -> sqlRecodeCategorical,
    "q_date_dim" -> sqlDateDim,
    "q_ceil_prices" -> sqlCeilPrices,
    "q_numeric_coerce" -> sqlNumericCoerce,
    "q_fact_build" -> sqlFactBuild,
    "q_surrogate_map" -> sqlSurrogateMap,
    "q_ri_filter" -> sqlRiFilter)
}
