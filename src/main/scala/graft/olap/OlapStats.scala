package graft.olap

import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckRound6, duckUnits, round4, round6, units}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical OLAP operators — second-moment statistics, modal
  * aggregates, binning, and Pareto (skyline) selection. Extends the
  * §2.6 aggregate layer with the shapes an analyst reaches for once
  * sums and ranks are exhausted (reference scope: the reference's
  * query layer lives in a separate NextJS repo it only links to —
  * README.md:7 — so SURVEY.md §2.6 mandates the implicit OLAP surface
  * its star schema exists to serve; these are the same star-schema
  * reads with richer aggregate math).
  *
  * Cross-engine determinism: every query here either aggregates in
  * DECIMAL (exact, order-independent) and converts to double once at
  * the end, or compares/ranks only ROUNDED measures — double sum
  * order across partitions never reaches an output or a comparison
  * unrounded (CLAUDE.md parity rules).
  */
object OlapStats {

  // ---------- q_corr_stats: exact-moment correlation / covariance ----------

  /** Pearson correlation, sample covariance, and sample stddevs of
    * (l_quantity, l_extendedprice) per return flag — computed from
    * EXACT decimal co-moments (n, Σx, Σy, Σxy, Σx², Σy²), not from
    * `corr()`/`covar_samp()`: the built-ins fold doubles in partition
    * order, which is nondeterministic across engines AND across runs,
    * while decimal sums are associative-exact, so both engines see
    * bit-identical moments and the one double formula at the end is
    * IEEE-deterministic. This is also the scale story: the five sums
    * are one map-side-combinable hash aggregate (O(groups) state), and
    * the closed-form combine is exactly how a 1000-executor cluster
    * merges partial moments.
    *
    * The double arithmetic is written with explicit association —
    * `sqrt(a)*sqrt(b)`, never `sqrt(a*b)` — and mirrored token-for-
    * token in the oracle (verify-skill float rules).
    */
  def corrStats(spark: SparkSession, sfDir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,4)")
    val y = col("l_extendedprice").cast("decimal(18,4)")
    // product operands widen to (18,4)×(20,4): combined width 38 is the
    // widest DuckDB will multiply, and Spark's (39,8) caps to (38,8)
    // without value loss at these magnitudes — both engines hold the
    // exact product
    val x20 = col("l_quantity").cast("decimal(20,4)")
    val y20 = col("l_extendedprice").cast("decimal(20,4)")
    val m = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y20).as("sxy"), sum(x * x20).as("sxx"), sum(y * y20).as("syy"))
    val nD = col("n").cast("double")
    def d(c: String): Column = col(c).cast("double")
    val varX = (d("sxx") - d("sx") * d("sx") / nD) / (nD - 1.0)
    val varY = (d("syy") - d("sy") * d("sy") / nD) / (nD - 1.0)
    val cov = (d("sxy") - d("sx") * d("sy") / nD) / (nD - 1.0)
    m.select(col("l_returnflag"), col("n").as("n_items"),
        round4(cov / (sqrt(varX) * sqrt(varY))).as("corr_qty_price"),
        round4(cov).as("cov_qty_price"),
        round4(sqrt(varX)).as("std_qty"),
        round4(sqrt(varY)).as("std_price"))
      .orderBy("l_returnflag")
  }

  private val sqlCorrStats = {
    val varX = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)"
    val varY = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)"
    val cov = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)"
    s"""WITH t AS (SELECT l_returnflag,
       |                  CAST(l_quantity AS DECIMAL(18,4)) AS x,
       |                  CAST(l_extendedprice AS DECIMAL(18,4)) AS y,
       |                  CAST(l_quantity AS DECIMAL(20,4)) AS x20,
       |                  CAST(l_extendedprice AS DECIMAL(20,4)) AS y20
       |           FROM lineitem),
       |     m AS (SELECT l_returnflag, count(*) AS n,
       |                  sum(x) AS sx, sum(y) AS sy,
       |                  sum(x * y20) AS sxy, sum(x * x20) AS sxx, sum(y * y20) AS syy
       |           FROM t GROUP BY 1)
       |SELECT l_returnflag, CAST(n AS BIGINT) AS n_items,
       |       ${duckRound4(s"$cov / (sqrt($varX) * sqrt($varY))")} AS corr_qty_price,
       |       ${duckRound4(cov)} AS cov_qty_price,
       |       ${duckRound4(s"sqrt($varX)")} AS std_qty,
       |       ${duckRound4(s"sqrt($varY)")} AS std_price
       |FROM m ORDER BY l_returnflag""".stripMargin
  }

  // ---------- q_mode_priority: deterministic modal aggregate ----------

  /** Most frequent order priority per order status — the MODE
    * aggregate, built deterministically instead of calling `mode()`
    * (whose tie-break is engine-defined): count per (status,
    * priority), then one mergeable struct-min over (-count, priority)
    * picks highest-count-then-lexicographic-smallest. Two hash
    * aggregates, O(groups) state, no window — a per-status window
    * would funnel each status's candidates through one reducer, the
    * struct-min combines map-side.
    */
  def modePriority(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .groupBy("o_orderstatus")
      .agg(min(struct((-col("n")).as("a"), col("o_orderpriority").as("b")))
        .as("pick"))
      .select(col("o_orderstatus"), col("pick.b").as("mode_priority"),
        (-col("pick.a")).as("n_orders"))
      .orderBy("o_orderstatus")

  private val sqlModePriority =
    """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
      |           FROM orders GROUP BY 1, 2),
      |     r AS (SELECT o_orderstatus, o_orderpriority, n,
      |                  row_number() OVER (PARTITION BY o_orderstatus
      |                                     ORDER BY n DESC, o_orderpriority) AS rk
      |           FROM c)
      |SELECT o_orderstatus, o_orderpriority AS mode_priority,
      |       CAST(n AS BIGINT) AS n_orders
      |FROM r WHERE rk = 1 ORDER BY o_orderstatus""".stripMargin

  // ---------- q_histogram: equi-width binning ----------

  /** Order-value histogram: fixed-width price buckets with count and
    * bucket-local average — the binning primitive behind distribution
    * dashboards and feature bucketization. One hash aggregate keyed by
    * the computed bucket id; bucket count is bounded by the value
    * range / width, not by row count, so the output (and the combine
    * state) stays tiny at any SF.
    */
  def histogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .withColumn("bucket", floor(col("o_totalprice") / 25000.0))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        round4(avg(col("o_totalprice"))).as("avg_price"))
      .withColumn("bucket_lo", (col("bucket") * 25000.0).cast("double"))
      .select("bucket", "bucket_lo", "n_orders", "avg_price")
      .orderBy("bucket")

  private val sqlHistogram =
    s"""SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
       |       CAST(floor(o_totalprice / 25000.0) AS BIGINT) * 25000.0 AS bucket_lo,
       |       count(*) AS n_orders,
       |       ${duckRound4("avg(o_totalprice)")} AS avg_price
       |FROM orders GROUP BY 1, 2 ORDER BY bucket""".stripMargin

  // ---------- q_skyline: Pareto frontier (non-dominated selection) ----------

  /** Skyline of nations on (revenue ↑ better, avg discount ↓ better):
    * a nation survives unless some other nation has ≥ revenue AND
    * ≤ discount with at least one strict — the relational "skyline"
    * operator, expressed as aggregate → dominance anti-join.
    *
    * Dominance compares only ROUNDED measures (rank-on-rounded rule:
    * raw double sums differ across engines in the last ulp, and a
    * dominance decision is a comparison, i.e. a rank). The quadratic
    * dominance join is safe ONLY because the input is the
    * dim-cardinality nation aggregate (25 rows, bounded by the
    * schema); for a fact-proportional entity (suppliers, customers)
    * the scale path is the 2-D sort-scan skyline — sort by discount,
    * keep the running revenue max (one range partition + PrefixScan's
    * two-pass running aggregate, no pairwise join).
    */
  def skyline(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"),
        col("l_discount"))
    val perNation = li
      .join(Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey")
      .agg(round4(sum(col("rev"))).as("revenue"),
        round4(avg(col("l_discount"))).as("avg_disc"))
    // one left_anti on the dominance predicate IS the skyline (rows
    // with no dominating partner) — the direct NOT EXISTS mirror; a
    // 25-row broadcast NLJ here, bounded by nation cardinality
    perNation.as("a").join(perNation.as("b"),
        col("b.revenue") >= col("a.revenue") &&
          col("b.avg_disc") <= col("a.avg_disc") &&
          (col("b.revenue") > col("a.revenue") ||
            col("b.avg_disc") < col("a.avg_disc")),
        "left_anti")
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("revenue"), col("avg_disc"))
      .orderBy("n_name")
  }

  private val sqlSkyline =
    s"""WITH pn AS (
       |  SELECT s.s_nationkey,
       |         ${duckRound4("sum(l.l_extendedprice * (1.0 - l.l_discount))")} AS revenue,
       |         ${duckRound4("avg(l.l_discount)")} AS avg_disc
       |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1)
       |SELECT n.n_name, a.revenue, a.avg_disc
       |FROM pn a JOIN nation n ON a.s_nationkey = n.n_nationkey
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM pn b
       |  WHERE b.revenue >= a.revenue AND b.avg_disc <= a.avg_disc
       |    AND (b.revenue > a.revenue OR b.avg_disc < a.avg_disc))
       |ORDER BY n.n_name""".stripMargin

  // ---------- q_outliers: IQR-fence outlier screen ----------

  /** Tukey IQR outlier screen per market segment: fences at
    * q1 − 1.5·IQR / q3 + 1.5·IQR, then a second pass counts and bounds
    * the orders outside them — the standard robust anomaly gate (box-
    * plot fences) an order-quality monitor runs, and the quantile
    * sibling of [[histogram]]'s equi-width bins.
    *
    * Cross-engine determinism: exact `percentile` ≡ `quantile_cont`
    * (bit-identical linear interpolation, the q_percentiles-proven
    * pair); the fence arithmetic is the same IEEE DAG on both sides,
    * so the strict comparisons classify identically; outputs round via
    * round4 because 1.5·IQR can land past 4 decimals on a half.
    *
    * Scale: two passes over orders (exact percentiles sort per group —
    * at 100 TB swap in `approx_percentile`, same shape, see
    * [[approxPercentiles]]'s note in OlapMore) with the 5-row fence
    * table broadcast back; no window, no pairwise work.
    */
  def outliers(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    // Stage the (segment, price) projection ONCE: the IQR fences and
    // the outlier aggregate both consume it — unstaged, each re-ran
    // the orders⋈customer join (two fact scans for one monitor).
    val priced = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("o_totalprice").as("price"))
      .localCheckpoint(true)
    val fences = priced.groupBy("segment")
      .agg(percentile(col("price"), lit(0.25)).as("q1"),
        percentile(col("price"), lit(0.75)).as("q3"))
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
      .select("segment", "lo", "hi")
    priced.join(broadcast(fences), "segment")
      .groupBy("segment")
      .agg(count(lit(1)).as("n_orders"),
        count(when(col("price") > col("hi") || col("price") < col("lo"), lit(1)))
          .as("n_outliers"),
        round4(min(col("lo"))).as("lo_fence"),
        round4(max(col("hi"))).as("hi_fence"),
        round4(max(when(col("price") > col("hi"), col("price")))).as("max_outlier"))
      .orderBy("segment")
  }

  private val sqlOutliers =
    s"""WITH p AS (SELECT c_mktsegment AS segment, o_totalprice AS price
       |           FROM orders JOIN customer ON o_custkey = c_custkey),
       |     f AS (SELECT segment, quantile_cont(price, 0.25) AS q1,
       |                  quantile_cont(price, 0.75) AS q3
       |           FROM p GROUP BY 1),
       |     g AS (SELECT segment, q1 - 1.5 * (q3 - q1) AS lo,
       |                  q3 + 1.5 * (q3 - q1) AS hi FROM f)
       |SELECT p.segment, count(*) AS n_orders,
       |       count(CASE WHEN price > hi OR price < lo THEN 1 END) AS n_outliers,
       |       ${duckRound4("min(lo)")} AS lo_fence,
       |       ${duckRound4("max(hi)")} AS hi_fence,
       |       ${duckRound4("max(CASE WHEN price > hi THEN price END)")} AS max_outlier
       |FROM p JOIN g ON p.segment = g.segment
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_mad_outliers: median-absolute-deviation screen ----------

  /** MAD-fence anomaly screen per event type: flag events whose
    * |value − median| exceeds 3·MAD, where MAD = median(|x − median|)
    * — the robust-statistics upgrade of [[outliers]]' IQR fences (MAD
    * has a 50% breakdown point vs the IQR's 25%: half a feed can go
    * bad before the fence moves, which is exactly the telemetry-
    * monitoring regime). Three passes: per-group exact median,
    * per-group MAD of the broadcast-joined deviations, fence
    * classification — each an aggregate + tiny broadcast, no windows
    * (Spark exact `percentile` ≡ DuckDB `quantile_cont`, the proven
    * bit-identical pair; at 100 TB both medians swap to
    * `approx_percentile`, same shape).
    */
  def madOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"),
        max(col("med")).as("med"))
    ev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(when(abs(col("value") - col("med")) > lit(3.0) * col("mad"), lit(1)))
          .as("n_anomalies"),
        round4(max(col("med"))).as("median"),
        round4(max(col("mad"))).as("mad"))
      .orderBy("event_type")
  }

  private val sqlMadOutliers =
    s"""WITH e AS (SELECT event_type, value FROM events),
       |     m AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM e GROUP BY 1),
       |     d AS (SELECT e.event_type, quantile_cont(abs(value - med), 0.5) AS mad,
       |                  max(med) AS med
       |           FROM e JOIN m ON e.event_type = m.event_type GROUP BY 1)
       |SELECT e.event_type, count(*) AS n_events,
       |       count(CASE WHEN abs(value - med) > 3.0 * mad THEN 1 END) AS n_anomalies,
       |       ${duckRound4("max(med)")} AS median,
       |       ${duckRound4("max(mad)")} AS mad
       |FROM e JOIN d ON e.event_type = d.event_type
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_winsorize: percentile clipping audit ----------

  /** Winsorization (p05/p95 clipping) per market segment — the
    * heavy-tail taming step a feature pipeline runs before feeding
    * raw monetary amounts to a model, with the audit a curation run
    * records: how many values each fence clipped and the mean
    * before/after. Same three-stage shape as [[outliers]]: exact
    * per-group percentile fences (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, bit-identical), broadcast back, one
    * classify+clip aggregate. At 100 TB the fences swap to
    * `approx_percentile` (t-digest), identical plan.
    *
    * Both means follow the CLAUDE.md exact-sum rule: sum round6(x)
    * CAST AS DECIMAL (order-independent), divide once at the output
    * edge — never a raw-double groupBy sum.
    */
  def winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    // Staged once — same two-consumer fence shape as `outliers` above
    val priced = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("o_totalprice").as("price"))
      .localCheckpoint(true)
    val fences = priced.groupBy("segment")
      .agg(percentile(col("price"), lit(0.05)).as("lo"),
        percentile(col("price"), lit(0.95)).as("hi"))
    priced.join(broadcast(fences), "segment")
      .withColumn("clipped", least(greatest(col("price"), col("lo")), col("hi")))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_orders"),
        count(when(col("price") < col("lo"), lit(1))).as("n_clipped_lo"),
        count(when(col("price") > col("hi"), lit(1))).as("n_clipped_hi"),
        sum(round6(col("price")).cast("decimal(28,6)")).as("sraw"),
        sum(round6(col("clipped")).cast("decimal(28,6)")).as("sclip"),
        round4(min(col("lo"))).as("lo_fence"),
        round4(max(col("hi"))).as("hi_fence"))
      .select(col("segment"), col("n_orders"), col("n_clipped_lo"),
        col("n_clipped_hi"),
        round4(col("sraw").cast("double") / col("n_orders").cast("double"))
          .as("mean_raw"),
        round4(col("sclip").cast("double") / col("n_orders").cast("double"))
          .as("mean_winsorized"),
        col("lo_fence"), col("hi_fence"))
      .orderBy("segment")
  }

  private val sqlWinsorize = {
    s"""WITH p AS (SELECT c_mktsegment AS segment, o_totalprice AS price
       |           FROM orders JOIN customer ON o_custkey = c_custkey),
       |     f AS (SELECT segment, quantile_cont(price, 0.05) AS lo,
       |                  quantile_cont(price, 0.95) AS hi
       |           FROM p GROUP BY 1),
       |     cl AS (SELECT p.segment, price, lo, hi,
       |                   least(greatest(price, lo), hi) AS clipped
       |            FROM p JOIN f ON p.segment = f.segment)
       |SELECT segment, count(*) AS n_orders,
       |       count(CASE WHEN price < lo THEN 1 END) AS n_clipped_lo,
       |       count(CASE WHEN price > hi THEN 1 END) AS n_clipped_hi,
       |       ${duckRound4(
                  s"CAST(sum(CAST(${duckRound6("price")} AS DECIMAL(28,6))) AS DOUBLE)" +
                    " / CAST(count(*) AS DOUBLE)")} AS mean_raw,
       |       ${duckRound4(
                  s"CAST(sum(CAST(${duckRound6("clipped")} AS DECIMAL(28,6))) AS DOUBLE)" +
                    " / CAST(count(*) AS DOUBLE)")} AS mean_winsorized,
       |       ${duckRound4("min(lo)")} AS lo_fence,
       |       ${duckRound4("max(hi)")} AS hi_fence
       |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------- q_quantile_est: approx-percentile sketch accuracy audit ----------

  /** Quantile-sketch accuracy audit — the percentile member of the
    * sketch-audit family (`q_cms_est` for counts, `q_minhash_est` for
    * Jaccard, `q_ann_recall` for kNN): per order priority, run the
    * mergeable approx-percentile sketch (Spark's Greenwald-Khanna
    * variant, accuracy 1000 → rank error ε ≤ n/1000) next to the
    * exact median, then PROVE the sketch's contract by ranking the
    * sketched value against the real data: its rank interval
    * [count(<v)+1, count(≤v)] must overlap the target rank ± εn (+1
    * interpolation slack). The oracle asserts the CONTRACTUAL
    * post-state — exact median and `bound_ok = TRUE` — never the
    * sketch internals (the q_scd2_history pattern; the sketch value
    * itself is engine-specific and stays out of the output).
    *
    * Scale: one map-side-combinable aggregate computes n/exact/approx
    * (at 100 TB the exact percentile swaps out and the sketch IS the
    * answer — this audit is how you earn that swap), then one rank
    * pass against the broadcast 5-row summary. The audit never costs
    * more than the sketch.
    */
  def quantileEst(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val agg = orders.groupBy("o_orderpriority").agg(
      count(lit(1)).as("n_rows"),
      expr("percentile(o_totalprice, 0.5)").as("exact_median"),
      expr("approx_percentile(o_totalprice, 0.5, 1000)").as("approx_median"))
    val ranks = orders
      .join(broadcast(agg.select(col("o_orderpriority"), col("approx_median"))),
        "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(
        sum(when(col("o_totalprice") < col("approx_median"), 1L).otherwise(0L)).as("r_lt"),
        sum(when(col("o_totalprice") <= col("approx_median"), 1L).otherwise(0L)).as("r_le"))
    val nD = col("n_rows").cast("double")
    agg.join(broadcast(ranks), "o_orderpriority")
      .withColumn("bound_ok",
        (col("r_lt").cast("double") <= nD * 0.5 + nD / 1000.0 + 1.0) &&
          (col("r_le").cast("double") >= nD * 0.5 - nD / 1000.0 - 1.0))
      .select(col("o_orderpriority"), col("n_rows"),
        round4(col("exact_median")).as("exact_median"), col("bound_ok"))
      .orderBy("o_orderpriority")
  }

  private val sqlQuantileEst =
    s"""SELECT o_orderpriority, count(*) AS n_rows,
       |       ${duckRound4("quantile_cont(o_totalprice, 0.5)")} AS exact_median,
       |       TRUE AS bound_ok
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_equidepth_hist: optimizer-statistics histogram ----------

  private val EqBuckets = 10

  /** GK sketch accuracy — approx_percentile(…, accuracy) guarantees
    * each returned fence's rank is within N/accuracy of its target.
    */
  private val EqAccuracy = 10000L

  /** Equi-depth (equi-height) histogram fences over `l_extendedprice`
    * — the column statistic cost-based optimizers keep (Spark's own
    * ANALYZE ... FOR COLUMNS stores exactly this shape): fences at the
    * k/N quantiles so each bucket holds ~the same row count, making
    * selectivity estimates robust to skew where equi-WIDTH buckets
    * (see `q_histogram`) collapse.
    *
    * The EXECUTED path is the sketch: ONE `approx_percentile` with the
    * percentage ARRAY (a mergeable Greenwald–Khanna aggregate — no
    * single reducer ever buffers the column, unlike exact `percentile`
    * whose single-group form was this suite's one scale-killer and its
    * worst upscale ratio, 7× per 10× at round 11). The oracle is the
    * GK RANK CONTRACT, not fence equality (sketch fences are
    * implementation-specific): for fence i, the count of rows strictly
    * below it must not exceed i·N/10 + N/[[EqAccuracy]] + 1 and the
    * count at-or-below must reach i·N/10 − N/[[EqAccuracy]] − 1 — the
    * `q_quantile_est` gating pattern, tie-safe because it bounds ranks
    * of the fence VALUE, never per-bucket depths (duplicates all land
    * on one side of a fence). One sketch aggregate + one broadcast
    * rank pass; both linear, both mergeable.
    */
  def equidepthHist(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_extendedprice").cast("double").as("x"))
    val fences = li
      .agg(count(lit(1)).as("n"),
        expr(s"approx_percentile(x, array(${(1 until EqBuckets)
          .map(i => i.toDouble / EqBuckets).mkString(",")}), $EqAccuracy)")
          .as("fs"))
    val rankCols = (1 until EqBuckets).flatMap { i =>
      val f = element_at(col("fs"), i)
      Seq(
        sum(when(col("x") < f, 1L).otherwise(0L)).as(s"lt$i"),
        sum(when(col("x") <= f, 1L).otherwise(0L)).as(s"le$i"))
    }
    // Stage the 1-row rank frame ONCE: the per-fence union below has
    // 9 consumers, and without staging EACH branch re-runs the full
    // scan + GK sketch + 18-sum aggregate (36 parquet scans in the
    // before-plan; 9 sketches for one histogram).
    val ranks = li.crossJoin(broadcast(fences))
      .agg(first(col("n")).as("n"), rankCols: _*)
      .localCheckpoint(true)
    val perFence = (1 until EqBuckets).map { i =>
      ranks.select(
        lit(i.toLong).as("fence_idx"),
        expr(s"($i * n) div ${EqBuckets}").as("target_rank"),
        (col(s"lt$i") <= expr(s"($i * n) div ${EqBuckets}") +
            col("n") / lit(EqAccuracy) + 1L &&
          col(s"le$i") >= expr(s"($i * n) div ${EqBuckets}") -
            col("n") / lit(EqAccuracy) - 1L).as("rank_ok"))
    }
    perFence.reduce(_ unionByName _).orderBy("fence_idx")
  }

  /** Oracle = the contractual post-state: every fence rank in bound
    * (the Spark side computes rank_ok from the real sketch; a sketch
    * regression flips it false and fails the hash compare).
    */
  private val sqlEquidepthHist =
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem)
       |SELECT CAST(i AS BIGINT) AS fence_idx,
       |       (i * c) // ${EqBuckets} AS target_rank,
       |       TRUE AS rank_ok
       |FROM generate_series(1, ${EqBuckets - 1}) AS t(i) CROSS JOIN n
       |ORDER BY fence_idx""".stripMargin

  // ---------- q_benford: first-digit law audit ----------

  /** Benford's-law first-digit audit over order totals — the fraud /
    * synthetic-data screen (Nigrini's forensic-accounting staple):
    * naturally-occurring multi-scale amounts put ~30.1% of first
    * digits at 1; fabricated or clamped distributions don't. Emitted
    * per digit with observed vs expected share so the reviewer sees
    * WHERE the distribution bends (this synthetic corpus bends it —
    * that's the point of an audit).
    *
    * Parity: the first digit comes from integer-cents magnitude via a
    * descending CASE power ladder (no log10 anywhere near the
    * round-trip); the nine expected shares are literals rendered from
    * the same Scala doubles into both plans; shares are single
    * divisions rounded at the edge. One bounded 9-group aggregate.
    */
  private val BenfordPows: Seq[Long] =
    (1 to 12).scanLeft(1L)((a, _) => a * 10L).reverse
  private val BenfordExp: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))

  def benford(spark: SparkSession, sfDir: String): DataFrame = {
    val c = units(col("o_totalprice"), 100.0).cast("long")
    // fold ASCENDING so the largest power lands outermost — CASE
    // semantics check the outermost (= largest) threshold first,
    // mirroring the oracle's descending WHEN ladder
    val fd = BenfordPows.init.reverse.foldLeft(c) { (acc, p) =>
      when(c >= p, (c / p).cast("long")).otherwise(acc)
    }
    val expCol = BenfordExp.foldLeft(lit(0.0)) { case (acc, (d, e)) =>
      when(col("digit") === d, lit(e)).otherwise(acc)
    }
    val counts = Tables.orders(spark, sfDir)
      .select(fd.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("t"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share", round4(col("n").cast("double") / col("t").cast("double")))
      .withColumn("expected", round4(expCol))
      .select(col("digit"), col("n"), col("share"), col("expected"),
        round4(col("share") - col("expected")).as("excess"))
      .orderBy("digit")
  }

  private val sqlBenford = {
    val ladder = BenfordPows.init
      .map(p => s"WHEN c >= $p THEN c // $p").mkString(" ")
    val expCase = BenfordExp
      .map { case (d, e) => s"WHEN digit = $d THEN $e" }.mkString(" ")
    s"""WITH v AS (SELECT CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT) AS c
       |           FROM orders),
       |     f AS (SELECT CAST(CASE $ladder ELSE c END AS BIGINT) AS digit FROM v),
       |     g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY digit),
       |     t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM g),
       |     s AS (SELECT digit, n,
       |                  ${duckRound4("CAST(n AS DOUBLE) / CAST(t AS DOUBLE)")} AS share,
       |                  ${duckRound4(s"CASE $expCase ELSE 0.0 END")} AS expected
       |           FROM g CROSS JOIN t)
       |SELECT digit, n, share, expected,
       |       ${duckRound4("share - expected")} AS excess
       |FROM s ORDER BY digit""".stripMargin
  }

  // ---------- q_weighted_median: weighted quantile via prefix scan ----------

  /** Quantity-weighted median price per return flag — the weighted
    * quantile neither Spark nor most engines ship natively (an
    * unweighted median over line items answers "the typical LINE";
    * the quantity-weighted one answers "the typical UNIT sold").
    * Definition: the smallest price whose cumulative weight reaches
    * ⌈T/2⌉ (the lower weighted median — an exact-integer contract
    * with no interpolation to drift cross-engine).
    *
    * Shape — the scale story IS the ranking machinery: cumulative
    * weights in (flag, price) order come from ONE global
    * [[graft.etl.PrefixScan.exclusivePrefixSum]] over a composite
    * integer key (flag block · 10¹⁶ + cents · 10⁸ + row id) with
    * per-flag offsets subtracted via a 3-row broadcast — never a
    * fact-scale sort window. Duplicate composite keys can only carry
    * the SAME price, so the selected value is deterministic even
    * where the tie order is not. All integers end-to-end; the single
    * division by 100 is the output edge.
    */
  def weightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val flags = Seq("A", "N", "R")
    val flagIdx = flags.zipWithIndex
      .foldLeft(lit(-1L)) { case (acc, (f, i)) =>
        when(col("l_returnflag") === f, lit(i.toLong)).otherwise(acc) }
    val rows = Tables.lineitem(spark, sfDir)
      .select(flagIdx.as("fi"),
        units(col("l_extendedprice"), 100.0).cast("long").as("cents"),
        col("l_quantity").cast("long").as("w"),
        (col("l_orderkey") * 10L + col("l_linenumber")).as("rid"))
      .withColumn("ord",
        col("fi") * 10000000000000000L + col("cents") * 100000000L
          + pmod(col("rid"), lit(100000000L)))
    val scanned = graft.etl.PrefixScan
      .exclusivePrefixSum(rows, "ord", "w", "prefix")
    val totals = scanned.groupBy("fi").agg(sum(col("w")).as("t"))
    // 3-row bounded collect: per-flag totals → contiguous-block offsets
    val totRows = totals.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offMap = totRows.map(_._1).zip(
      totRows.map(_._2).scanLeft(0L)(_ + _).init).toMap
    val offCol = offMap.foldLeft(lit(0L)) { case (acc, (fi, off)) =>
      when(col("fi") === fi, lit(off)).otherwise(acc) }
    val tCol = totRows.toMap.foldLeft(lit(0L)) { case (acc, (fi, t)) =>
      when(col("fi") === fi, lit(t)).otherwise(acc) }
    scanned
      .withColumn("cum", col("prefix") - offCol + col("w"))
      .withColumn("target", ((tCol + 1L) / 2L).cast("long"))
      .groupBy("fi")
      .agg(max(tCol).as("total_weight"),
        min(when(col("cum") >= col("target"), col("cents"))).as("med_cents"))
      .select(
        flags.zipWithIndex.foldLeft(lit("?")) { case (acc, (f, i)) =>
          when(col("fi") === i, lit(f)).otherwise(acc) }.as("l_returnflag"),
        col("total_weight"),
        round4(col("med_cents").cast("double") / 100.0).as("weighted_median_price"))
      .orderBy("l_returnflag")
  }

  private val sqlWeightedMedian =
    s"""WITH r AS (SELECT l_returnflag AS f,
       |                  CAST(${duckUnits("l_extendedprice", 100.0)} AS BIGINT) AS cents,
       |                  CAST(l_quantity AS BIGINT) AS w,
       |                  l_orderkey * 10 + l_linenumber AS rid
       |           FROM lineitem),
       |     c AS (SELECT f, cents, w,
       |                  CAST(sum(w) OVER (PARTITION BY f
       |                    ORDER BY cents, rid % 100000000
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |                  CAST(sum(w) OVER (PARTITION BY f) AS BIGINT) AS t
       |           FROM r)
       |SELECT f AS l_returnflag, max(t) AS total_weight,
       |       ${duckRound4(
                 "CAST(min(CASE WHEN cum >= (t + 1) // 2 THEN cents END) AS DOUBLE) / 100.0")} AS weighted_median_price
       |FROM c GROUP BY f ORDER BY f""".stripMargin

  // ---------- q_tv_drift: total-variation mix-drift audit ----------

  /** Total-variation distance contribution per customer nation
    * between the early (pre-1998) and late order halves — the
    * categorical-mix drift screen that completes the drift triad:
    * χ² ([[graft.text.DocOps.sourceSkew]]) scores deviation from a
    * global expectation, KS ([[graft.text.DocOps.ksDrift]]) a
    * continuous measure, TV the plain share-shift ½Σ|p₁−p₂| every
    * monitoring page quotes as "X points of mix moved".
    *
    * Exactness: each contribution is |c₁·T₂ − c₂·T₁| / (2·T₁·T₂) —
    * integer cross-products (long holds it to ~3·10⁹ orders per
    * half; widen to DECIMAL past that), one round4 division at the
    * edge. Scale: one orders⋈customer key shuffle (the required
    * one), nation broadcast, then nation-grain arithmetic.
    */
  def tvDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        when(col("o_orderdate") < lit("1998-01-01").cast("timestamp"), lit(0))
          .otherwise(lit(1)).as("half"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    val cnt = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(when(col("half") === 0, lit(1L)).otherwise(lit(0L))).as("n_early"),
        sum(when(col("half") === 1, lit(1L)).otherwise(lit(0L))).as("n_late"))
    val tot = cnt.agg(sum(col("n_early")).as("t1"), sum(col("n_late")).as("t2"))
    cnt.crossJoin(broadcast(tot))
      .select(col("n_name"), col("n_early"), col("n_late"),
        round4(
          abs(col("n_early") * col("t2") - col("n_late") * col("t1")).cast("double") /
            (lit(2.0) * col("t1").cast("double") * col("t2").cast("double")))
          .as("tv_contrib"))
      .orderBy("n_name")
  }

  private val sqlTvDrift =
    s"""WITH o AS (SELECT o_custkey,
       |                  CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
       |                       THEN 0 ELSE 1 END AS half
       |           FROM orders),
       |     cnt AS (SELECT n_name,
       |                    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
       |                    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_late
       |             FROM o JOIN customer ON o_custkey = c_custkey
       |                    JOIN nation ON c_nationkey = n_nationkey
       |             GROUP BY 1),
       |     tot AS (SELECT CAST(sum(n_early) AS BIGINT) AS t1,
       |                    CAST(sum(n_late) AS BIGINT) AS t2 FROM cnt)
       |SELECT n_name, n_early, n_late,
       |       ${duckRound4(
                  "CAST(abs(n_early * t2 - n_late * t1) AS DOUBLE) / (2.0 * CAST(t1 AS DOUBLE) * CAST(t2 AS DOUBLE))")} AS tv_contrib
       |FROM cnt CROSS JOIN tot ORDER BY n_name""".stripMargin

  // ---------- q_welch_ttest: unequal-variance mean comparison ----------

  /** Welch's t-test between every pair of market segments on order
    * totals (Welch 1947) — the two-sample companion to `q_ab_test`'s
    * proportion z-test: does segment A spend more per order than B,
    * WITHOUT assuming equal variances (the assumption classic
    * Student's t silently makes and real revenue data violates)?
    * Emits t and the Welch-Satterthwaite degrees of freedom per pair.
    *
    * Shape: one 5-group aggregate of EXACT decimal moments (the
    * `q_corr_stats` recipe — n, Σx, Σx² in DECIMAL so partition
    * order cannot perturb them), then a bounded 5×5 pair join of the
    * aggregate rows. Both closed forms are fixed-shape doubles
    * mirrored token-for-token; one rounding at the edge.
    */
  def welchTtest(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val m = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        col("o_totalprice").cast("decimal(18,4)").as("x"),
        col("o_totalprice").cast("decimal(18,4)")
          .multiply(col("o_totalprice").cast("decimal(20,4)")).as("xx"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("xx")).as("sxx"))
    def nD(p: String) = col(s"${p}n").cast("double")
    def mean(p: String) = col(s"${p}sx").cast("double") / nD(p)
    def vOverN(p: String) =
      ((col(s"${p}sxx").cast("double") -
        col(s"${p}sx").cast("double") * col(s"${p}sx").cast("double") / nD(p)) /
        (nD(p) - 1.0)) / nD(p)
    val a = m.select(col("seg").as("seg_a"), col("n").as("an"),
      col("sx").as("asx"), col("sxx").as("asxx"))
    val b = m.select(col("seg").as("seg_b"), col("n").as("bn"),
      col("sx").as("bsx"), col("sxx").as("bsxx"))
    // broadcast the 5-row side: the inequality-only pair join would
    // otherwise plan as a CartesianProduct (PlanAuditSpec bans those
    // outright; BroadcastNestedLoopJoin over a dim-sized build side is
    // the sanctioned shape for bounded pair grids)
    a.join(broadcast(b), col("seg_a") < col("seg_b"))
      .withColumn("va", vOverN("a"))
      .withColumn("vb", vOverN("b"))
      .select(col("seg_a"), col("seg_b"),
        col("an").as("n_a"), col("bn").as("n_b"),
        round4(mean("a") - mean("b")).as("mean_diff"),
        round4((mean("a") - mean("b")) / (sqrt(col("va") + col("vb"))))
          .as("t_stat"),
        round4((col("va") + col("vb")) * (col("va") + col("vb")) /
          (col("va") * col("va") / (nD("a") - 1.0) +
            col("vb") * col("vb") / (nD("b") - 1.0))).as("df"))
      .orderBy("seg_a", "seg_b")
  }

  private val sqlWelchTtest = {
    def mean(p: String) = s"(CAST(${p}sx AS DOUBLE) / CAST(${p}n AS DOUBLE))"
    def vOverN(p: String) =
      s"(((CAST(${p}sxx AS DOUBLE) - CAST(${p}sx AS DOUBLE) * CAST(${p}sx AS DOUBLE) / CAST(${p}n AS DOUBLE)) " +
        s"/ (CAST(${p}n AS DOUBLE) - 1.0)) / CAST(${p}n AS DOUBLE))"
    val (va, vb) = (vOverN("a"), vOverN("b"))
    s"""WITH t AS (SELECT c_mktsegment AS seg,
       |                  CAST(o_totalprice AS DECIMAL(18,4)) AS x,
       |                  CAST(o_totalprice AS DECIMAL(18,4)) * CAST(o_totalprice AS DECIMAL(20,4)) AS xx
       |           FROM orders JOIN customer ON o_custkey = c_custkey),
       |     m AS (SELECT seg, count(*) AS n, sum(x) AS sx, sum(xx) AS sxx
       |           FROM t GROUP BY 1),
       |     pr AS (SELECT a.seg AS seg_a, b.seg AS seg_b,
       |                   a.n AS an, a.sx AS asx, a.sxx AS asxx,
       |                   b.n AS bn, b.sx AS bsx, b.sxx AS bsxx
       |            FROM m a JOIN m b ON a.seg < b.seg)
       |SELECT seg_a, seg_b,
       |       CAST(an AS BIGINT) AS n_a, CAST(bn AS BIGINT) AS n_b,
       |       ${duckRound4(s"${mean("a")} - ${mean("b")}")} AS mean_diff,
       |       ${duckRound4(s"(${mean("a")} - ${mean("b")}) / (sqrt($va + $vb))")} AS t_stat,
       |       ${duckRound4(s"($va + $vb) * ($va + $vb) / " +
                 s"($va * $va / (CAST(an AS DOUBLE) - 1.0) + $vb * $vb / (CAST(bn AS DOUBLE) - 1.0))")} AS df
       |FROM pr ORDER BY seg_a, seg_b""".stripMargin
  }

  // ---------- q_cohens_d: standardized effect size per segment pair ----------

  /** Cohen's d between market segments' order values (Cohen 1988) —
    * the EFFECT-SIZE companion [[welchTtest]]'s t needs: at fact-scale
    * n every trivial difference is "significant", and d = (m₁−m₂)/s_p
    * is the unit-free magnitude a decision actually turns on (0.2
    * small / 0.5 medium / 0.8 large). Pooled s_p uses the classic
    * ((n₁−1)s₁² + (n₂−1)s₂²)/(n₁+n₂−2) form.
    *
    * Shape: the same exact-DECIMAL moment aggregate as Welch (n, Σx,
    * Σx² per segment — one fact pass), then the bounded broadcast
    * segment-pair grid. Parity: both closed forms are fixed-shape
    * double trees over identical DECIMAL casts, mirrored
    * token-for-token; one rounding at the edge.
    */
  def cohensD(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val m = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        col("o_totalprice").cast("decimal(18,4)").as("x"),
        col("o_totalprice").cast("decimal(18,4)")
          .multiply(col("o_totalprice").cast("decimal(20,4)")).as("xx"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("xx")).as("sxx"))
    def nD(p: String) = col(s"${p}n").cast("double")
    def mean(p: String) = col(s"${p}sx").cast("double") / nD(p)
    def ss(p: String) = // (n−1)·s² = Σx² − (Σx)²/n, the exact corrected sum of squares
      col(s"${p}sxx").cast("double") -
        col(s"${p}sx").cast("double") * col(s"${p}sx").cast("double") / nD(p)
    val a = m.select(col("seg").as("seg_a"), col("n").as("an"),
      col("sx").as("asx"), col("sxx").as("asxx"))
    val b = m.select(col("seg").as("seg_b"), col("n").as("bn"),
      col("sx").as("bsx"), col("sxx").as("bsxx"))
    a.join(broadcast(b), col("seg_a") < col("seg_b"))
      .select(col("seg_a"), col("seg_b"),
        col("an").as("n_a"), col("bn").as("n_b"),
        round4(mean("a") - mean("b")).as("mean_diff"),
        round4((mean("a") - mean("b")) /
          sqrt((ss("a") + ss("b")) / (nD("a") + nD("b") - 2.0))).as("cohens_d"))
      .orderBy("seg_a", "seg_b")
  }

  private val sqlCohensD = {
    def mean(p: String) = s"(CAST(${p}sx AS DOUBLE) / CAST(${p}n AS DOUBLE))"
    def ss(p: String) =
      s"(CAST(${p}sxx AS DOUBLE) - CAST(${p}sx AS DOUBLE) * CAST(${p}sx AS DOUBLE) / CAST(${p}n AS DOUBLE))"
    s"""WITH t AS (SELECT c_mktsegment AS seg,
       |                  CAST(o_totalprice AS DECIMAL(18,4)) AS x,
       |                  CAST(o_totalprice AS DECIMAL(18,4)) * CAST(o_totalprice AS DECIMAL(20,4)) AS xx
       |           FROM orders JOIN customer ON o_custkey = c_custkey),
       |     m AS (SELECT seg, count(*) AS n, sum(x) AS sx, sum(xx) AS sxx
       |           FROM t GROUP BY 1),
       |     pr AS (SELECT a.seg AS seg_a, b.seg AS seg_b,
       |                   a.n AS an, a.sx AS asx, a.sxx AS asxx,
       |                   b.n AS bn, b.sx AS bsx, b.sxx AS bsxx
       |            FROM m a JOIN m b ON a.seg < b.seg)
       |SELECT seg_a, seg_b,
       |       CAST(an AS BIGINT) AS n_a, CAST(bn AS BIGINT) AS n_b,
       |       ${duckRound4(s"${mean("a")} - ${mean("b")}")} AS mean_diff,
       |       ${duckRound4(s"(${mean("a")} - ${mean("b")}) / " +
                 s"sqrt((${ss("a")} + ${ss("b")}) / (CAST(an AS DOUBLE) + CAST(bn AS DOUBLE) - 2.0))")} AS cohens_d
       |FROM pr ORDER BY seg_a, seg_b""".stripMargin
  }

  // ---------- q_kendall_tau: ordinal association of nation KPIs ----------

  /** Kendall's τ-b between two per-nation KPIs — order-book revenue
    * vs customer count (Kendall 1938; the tie-corrected τ-b form of
    * Agresti, Analysis of Ordinal Categorical Data §2.4): does the
    * revenue ORDER track the market-size order? Spearman
    * (`q_spearman`) correlates rank VALUES; τ counts pairwise order
    * agreements, which is the statistic that stays interpretable
    * under heavy ties and tiny n — the reason ordinal-KPI dashboards
    * report τ-b next to ρ.
    *
    * Shape — rank-free by construction: both KPIs aggregate to the
    * BOUNDED nation grain (revenue as exact DECIMAL cents, counts as
    * integers), then one broadcast pair join over the ≤25-row
    * aggregate counts concordant/discordant/tied pairs as pure
    * integers — no window, no float rank, no fact-scale pair join
    * (the [[welchTtest]] bounded-pair-grid shape). τ-b =
    * (C−D)/(√(n₀−t_x)·√(n₀−t_y)) with each factor under its own
    * sqrt (the parity rule), one rounding at the edge.
    */
  def kendallTau(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val byNat = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x"),
        countDistinct(col("o_custkey")).as("y"))
    val a = byNat.select(col("n_name").as("na"), col("x").as("xa"), col("y").as("ya"))
    val b = byNat.select(col("n_name").as("nb"), col("x").as("xb"), col("y").as("yb"))
    val pairs = a.join(broadcast(b), col("na") < col("nb"))
      .agg(
        sum(when((col("xa") > col("xb") && col("ya") > col("yb"))
          || (col("xa") < col("xb") && col("ya") < col("yb")), 1L)
          .otherwise(0L)).as("concordant"),
        sum(when((col("xa") > col("xb") && col("ya") < col("yb"))
          || (col("xa") < col("xb") && col("ya") > col("yb")), 1L)
          .otherwise(0L)).as("discordant"),
        sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("ty"),
        count(lit(1)).as("n0"))
    pairs.select(col("n0").as("n_pairs"), col("concordant"), col("discordant"),
      round4((col("concordant") - col("discordant")).cast("double") /
        (sqrt((col("n0") - col("tx")).cast("double")) *
          sqrt((col("n0") - col("ty")).cast("double")))).as("tau_b"))
  }

  private val sqlKendallTau =
    s"""WITH byn AS (SELECT n_name,
       |                    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x,
       |                    CAST(count(DISTINCT o_custkey) AS BIGINT) AS y
       |             FROM orders
       |             JOIN customer ON o_custkey = c_custkey
       |             JOIN nation ON c_nationkey = n_nationkey
       |             GROUP BY n_name),
       |     pr AS (SELECT
       |              CAST(sum(CASE WHEN (a.x > b.x AND a.y > b.y)
       |                             OR (a.x < b.x AND a.y < b.y)
       |                        THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
       |              CAST(sum(CASE WHEN (a.x > b.x AND a.y < b.y)
       |                             OR (a.x < b.x AND a.y > b.y)
       |                        THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
       |              CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
       |              CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty,
       |              CAST(count(*) AS BIGINT) AS n0
       |            FROM byn a JOIN byn b ON a.n_name < b.n_name)
       |SELECT n0 AS n_pairs, concordant, discordant,
       |       ${duckRound4(
                 "CAST(concordant - discordant AS DOUBLE) / " +
                   "(sqrt(CAST(n0 - tx AS DOUBLE)) * sqrt(CAST(n0 - ty AS DOUBLE)))")} AS tau_b
       |FROM pr""".stripMargin

  // ---------- q_mann_whitney: rank-sum two-sample test ----------

  /** Mann-Whitney U (Wilcoxon rank-sum) between click and purchase
    * event values — the NONPARAMETRIC companion to [[welchTtest]]:
    * no normality assumption, rank-based, the test a metrics review
    * reaches for when the value distribution is skewed or censored.
    * U, its tie-averaged form, and the normal approximation with the
    * standard tie correction are all EXACT-INTEGER derived:
    * 2U = Σ_v n_a(v)·(2·cum_b(<v) + n_b(v)) over the distinct-value
    * grain, so no float rank is ever assigned (the FLOAT_AUDIT
    * doctrine: ranks from exact integers or not at all).
    *
    * Shape — the fact-scale rank test: values collapse to distinct-
    * value grain (one hash aggregate), the below-v cumulative is
    * [[graft.etl.PrefixScan.exclusivePrefixSum]] (range-partition +
    * two-pass scan), NEVER a single-partition window over a
    * fact-proportional input (the CLAUDE.md window rule — the oracle,
    * single-engine, uses the plain window form). One global integer
    * aggregate, doubles only in the final z. Headroom: u2 and
    * n_a·n_b are < 2⁶³ to ~3·10⁹ rows per side; tsum = Σ(t³−t) is
    * bounded by tie-group cubes (widen to DECIMAL on corpora where a
    * single value carries ≥ ~2·10⁶ rows).
    */
  def mannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("value")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("na"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("nb"))
    val cum = graft.etl.PrefixScan.exclusivePrefixSum(g, "value", "nb", "cumb")
    val t = col("na") + col("nb")
    val agg = cum.agg(
      sum(col("na")).as("nat"), sum(col("nb")).as("nbt"),
      sum(col("na") * (lit(2L) * col("cumb") + col("nb"))).as("u2"),
      sum(when(t >= 2L, t * t * t - t).otherwise(0L)).as("tsum"),
      sum(when(t >= 2L, 1L).otherwise(0L)).as("n_tie_groups"))
    val nD = (col("nat") + col("nbt")).cast("double")
    val va = (col("nat") * col("nbt")).cast("double") / 12.0 *
      ((nD + 1.0) - col("tsum").cast("double") / (nD * (nD - 1.0)))
    agg.select(col("nat").as("n_a"), col("nbt").as("n_b"),
      col("u2"), col("n_tie_groups"),
      round4(((col("u2") - col("nat") * col("nbt")).cast("double") / 2.0) /
        sqrt(va)).as("z_stat"))
  }

  private val sqlMannWhitney = {
    val va = "CAST(nat * nbt AS DOUBLE) / 12.0 * " +
      "((CAST(nat + nbt AS DOUBLE) + 1.0) - CAST(tsum AS DOUBLE) / " +
      "(CAST(nat + nbt AS DOUBLE) * (CAST(nat + nbt AS DOUBLE) - 1.0)))"
    s"""WITH g AS (SELECT value,
       |                  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS nb
       |           FROM events WHERE event_type IN ('click', 'purchase')
       |           GROUP BY 1),
       |     c AS (SELECT *, CAST(coalesce(sum(nb) OVER (ORDER BY value
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
       |           FROM g),
       |     a AS (SELECT CAST(sum(na) AS BIGINT) AS nat,
       |                  CAST(sum(nb) AS BIGINT) AS nbt,
       |                  CAST(sum(na * (2 * cumb + nb)) AS BIGINT) AS u2,
       |                  CAST(sum(CASE WHEN na + nb >= 2
       |                    THEN (na + nb) * (na + nb) * (na + nb) - (na + nb)
       |                    ELSE 0 END) AS BIGINT) AS tsum,
       |                  CAST(sum(CASE WHEN na + nb >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_tie_groups
       |           FROM c)
       |SELECT nat AS n_a, nbt AS n_b, u2, n_tie_groups,
       |       ${duckRound4(s"(CAST(u2 - nat * nbt AS DOUBLE) / 2.0) / sqrt($va)")} AS z_stat
       |FROM a""".stripMargin
  }

  // ---------- q_simpson_slopes: aggregation-reversal (Simpson) screen ----------

  /** Simpson's-paradox screen on the discount→quantity relationship:
    * the OLS slope per market segment vs the pooled slope, with a
    * reversal flag per segment — the audit a metrics review runs
    * before trusting ANY pooled trend, because aggregation can flip
    * the sign of every segment-level relationship (Simpson 1951; the
    * classic Berkeley-admissions failure mode). A reversal row means
    * "report this relationship segmented, never pooled".
    *
    * Exactness: slopes come from exact DECIMAL sufficient statistics
    * (n, Σx, Σy, Σxy, Σx² with x = integer discount-percent, y =
    * integer quantity — the [[corrStats]]/OLS discipline), composed in
    * one literal double tree per row; the reversal compare runs on
    * ROUNDED slopes so both engines flag identically. Shape: ONE
    * fact-grain aggregate to segment grain (the lineitem⋈orders⋈
    * customer join is the only fact pass), the pooled row is the
    * integer SUM of the segment stats — no second scan.
    */
  def simpsonSlopes(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"),
        units(col("l_discount"), 100.0).cast("long").as("x"),
        col("l_quantity").cast("long").as("y"))
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_mktsegment"))
    val seg = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(18,0)")).as("sx"),
        sum(col("y").cast("decimal(18,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(28,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(28,0)")).as("sxx"))
      .localCheckpoint(true) // staged: per-segment rows + the pooled sum read it
    val pooled = seg.groupBy()
      .agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"), sum(col("sy")).as("sy"),
        sum(col("sxy")).as("sxy"), sum(col("sxx")).as("sxx"))
      .withColumn("segment", lit("ALL"))
    def slope = {
      val nD = col("n").cast("double")
      (col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double") / nD) /
        (col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / nD)
    }
    val withSlope = seg.select(col("segment"), col("n"), round4(slope).as("slope"))
      .unionByName(pooled.select(col("segment"), col("n").cast("long").as("n"),
        round4(slope).as("slope")))
    val pr = withSlope.filter(col("segment") === "ALL")
      .select(col("slope").as("pooled_slope"))
    withSlope.crossJoin(broadcast(pr))
      .select(col("segment"), col("n").as("n_rows"), col("slope"),
        (col("slope") * col("pooled_slope") < 0.0).as("reverses_pooled"))
      .orderBy("segment")
  }

  private val sqlSimpsonSlopes = {
    val slope = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / " +
      "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""WITH f AS (SELECT c_mktsegment AS segment,
       |                  CAST(${duckUnits("l_discount", 100.0)} AS BIGINT) AS x,
       |                  CAST(l_quantity AS BIGINT) AS y
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |                JOIN customer ON o_custkey = c_custkey),
       |     m AS (SELECT segment, CAST(count(*) AS BIGINT) AS n,
       |                  sum(CAST(x AS DECIMAL(18,0))) AS sx,
       |                  sum(CAST(y AS DECIMAL(18,0))) AS sy,
       |                  sum(CAST(x * y AS DECIMAL(28,0))) AS sxy,
       |                  sum(CAST(x * x AS DECIMAL(28,0))) AS sxx
       |           FROM f GROUP BY 1),
       |     p AS (SELECT 'ALL' AS segment, CAST(sum(n) AS BIGINT) AS n,
       |                  sum(sx) AS sx, sum(sy) AS sy, sum(sxy) AS sxy, sum(sxx) AS sxx
       |           FROM m),
       |     a AS (SELECT segment, n, ${duckRound4(slope)} AS slope FROM m
       |           UNION ALL
       |           SELECT segment, n, ${duckRound4(slope)} AS slope FROM p),
       |     pr AS (SELECT slope AS pooled_slope FROM a WHERE segment = 'ALL')
       |SELECT segment, n AS n_rows, slope,
       |       slope * pooled_slope < 0.0 AS reverses_pooled
       |FROM a CROSS JOIN pr
       |ORDER BY segment""".stripMargin
  }

  // ---------- q_cliff_delta: ordinal dominance effect size ----------

  /** Cliff's delta between click and purchase event values (Cliff
    * 1993) — the EFFECT-SIZE companion to [[mannWhitney]]'s p-value,
    * exactly as [[cohensD]] companions [[welchTtest]] but with zero
    * distributional assumptions: δ = (#(x>y) − #(x<y)) / (n₁·n₂),
    * read against Romano et al.'s conventional fences (0.147 / 0.33 /
    * 0.474 → negligible/small/medium/large). Reported next to z, the
    * magnitude is what a metrics review acts on at fact-scale n.
    *
    * Shape — identical to Mann-Whitney's fact-scale rank-free recipe:
    * collapse to distinct-value grain, one
    * [[graft.etl.PrefixScan.exclusivePrefixSum]] cumulative (never a
    * single-partition window over fact-proportional input), then
    * #(x>y) = Σ_v n_a(v)·cum_b(<v) and #(x<y) by the complement —
    * all exact integers, one rounded division, the magnitude CASE on
    * the ROUNDED value so both engines label identically.
    */
  def cliffDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("value")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("na"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("nb"))
    val cum = graft.etl.PrefixScan.exclusivePrefixSum(g, "value", "nb", "cumb")
    // one aggregate carries everything: gt = #(x>y), tie_pairs =
    // Σ na(v)·nb(v), so lt falls out as n_a·n_b − gt − ties and
    // δ = (gt − lt)/(n_a·n_b) = (2·gt + ties − n_a·n_b)/(n_a·n_b)
    val agg = cum.agg(
      sum(col("na")).as("nat"), sum(col("nb")).as("nbt"),
      sum(col("na") * col("cumb")).as("gt"),
      sum(col("na") * col("nb")).as("tie_pairs"))
    val d = (lit(2.0) * col("gt").cast("double")
      + col("tie_pairs").cast("double")
      - (col("nat") * col("nbt")).cast("double")) /
      (col("nat") * col("nbt")).cast("double")
    agg
      .select(col("nat").as("n_a"), col("nbt").as("n_b"),
        col("gt").as("gt_pairs"), col("tie_pairs"),
        round4(d).as("cliffs_delta"),
        when(abs(round4(d)) < 0.147, lit("negligible"))
          .when(abs(round4(d)) < 0.33, lit("small"))
          .when(abs(round4(d)) < 0.474, lit("medium"))
          .otherwise(lit("large")).as("magnitude"))
  }

  private val sqlCliffDelta = {
    val d = "(2.0 * CAST(gt AS DOUBLE) + CAST(tie_pairs AS DOUBLE) " +
      "- CAST(nat * nbt AS DOUBLE)) / CAST(nat * nbt AS DOUBLE)"
    val rd = duckRound4(d)
    s"""WITH g AS (SELECT value,
       |                  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS nb
       |           FROM events WHERE event_type IN ('click', 'purchase')
       |           GROUP BY 1),
       |     c AS (SELECT *, CAST(coalesce(sum(nb) OVER (ORDER BY value
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
       |           FROM g),
       |     a AS (SELECT CAST(sum(na) AS BIGINT) AS nat,
       |                  CAST(sum(nb) AS BIGINT) AS nbt,
       |                  CAST(sum(na * cumb) AS BIGINT) AS gt,
       |                  CAST(sum(na * nb) AS BIGINT) AS tie_pairs
       |           FROM c)
       |SELECT nat AS n_a, nbt AS n_b, gt AS gt_pairs, tie_pairs,
       |       $rd AS cliffs_delta,
       |       CASE WHEN abs($rd) < 0.147 THEN 'negligible'
       |            WHEN abs($rd) < 0.33 THEN 'small'
       |            WHEN abs($rd) < 0.474 THEN 'medium'
       |            ELSE 'large' END AS magnitude
       |FROM a""".stripMargin
  }

  // ---------- q_hill_tail: heavy-tail index (Hill estimator) ----------

  /** Top-order-statistic count for the Hill estimator (k = 50 tail
    * points + the anchoring (k+1)-th value). Every priority holds ≥ 51
    * orders from sf0.001 up.
    */
  private val HillK = 50

  /** Hill estimator of the right-tail index of order totals per
    * priority — THE standard tail-heaviness measure (Hill 1975):
    * α̂ = k / Σᵢ₌₁..k ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the k largest values.
    * α ≤ 2 means infinite variance (means unstable, percentile SLOs
    * meaningless) — the statistic that tells an analyst whether
    * `q_outliers`-style fences even apply to this distribution.
    *
    * Shape: the top-(k+1) per group comes from the mergeable
    * [[graft.functions.TopKAgg]] UDAF (O(k) state per group,
    * map-side combinable) — NOT a per-priority window over the fact
    * table, which the scale rules ban (5 priority partitions scale
    * with SF). The k+1 values then explode at bounded grain
    * (groups × 51 rows). Parity: values are exact integer cents as
    * doubles; the anchor x₍ₖ₊₁₎ = array min (pure selection); per-row
    * ln of identical doubles; the ≤51-term sum is far inside round4
    * tolerance; ln(x₍ₖ₊₁₎/x₍ₖ₊₁₎) = 0 contributes nothing, so the sum
    * runs over all 51 rows unconditionally.
    */
  def hillTail(spark: SparkSession, sfDir: String): DataFrame = {
    val topK1 = udaf(new graft.functions.TopKAgg(HillK + 1))
    val cents = units(col("o_totalprice"), 100.0).cast("long").cast("double")
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(topK1(cents).as("vals"))
      .select(col("priority"), array_min(col("vals")).as("xk"),
        explode_outer(col("vals")).as("x"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_top"),
        max(col("xk")).cast("long").as("xk_cents"),
        sum(log(col("x") / col("xk"))).as("s"))
      .select(col("priority"), col("n_top"), col("xk_cents"),
        round4(lit(HillK.toDouble) / col("s")).as("hill_alpha"),
        round4(col("s") / lit(HillK.toDouble)).as("mean_log_excess"))
      .orderBy("priority")
  }

  private val sqlHillTail =
    s"""WITH c AS (SELECT o_orderpriority AS priority,
       |                  CAST(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT) AS DOUBLE) AS x
       |           FROM orders),
       |     r AS (SELECT priority, x,
       |                  row_number() OVER (PARTITION BY priority ORDER BY x DESC) AS rn
       |           FROM c),
       |     t AS (SELECT priority, x FROM r WHERE rn <= ${HillK + 1}),
       |     a AS (SELECT priority, min(x) AS xk FROM t GROUP BY 1),
       |     g AS (SELECT t.priority, count(*) AS n_top, min(t.x) AS xk,
       |                  sum(ln(t.x / a.xk)) AS s
       |           FROM t JOIN a ON t.priority = a.priority GROUP BY 1)
       |SELECT priority, CAST(n_top AS BIGINT) AS n_top,
       |       CAST(xk AS BIGINT) AS xk_cents,
       |       ${duckRound4(s"${HillK.toDouble} / s")} AS hill_alpha,
       |       ${duckRound4(s"s / ${HillK.toDouble}")} AS mean_log_excess
       |FROM g ORDER BY priority""".stripMargin

  // ---------- q_percentile_disc: discrete (element-exact) quantiles ----------

  /** Discrete percentile ladder over order totals per priority —
    * `percentile_disc` (the inverse-distribution form that returns an
    * ACTUAL element: smallest value whose cumulative distribution
    * ≥ p) next to the interpolated `percentile_cont` median, the pair
    * every warehouse exposes side by side. Disc quantiles matter
    * operationally because the answer is a real observed order (an
    * SLA breach you can look up), not an interpolated phantom.
    *
    * Parity: both engines define the discrete quantile as the
    * smallest element with cume ≥ p (probed: n=10 p∈{.25,.5,.75} and
    * n=8 p=.75 select identical elements), and selection involves no
    * arithmetic, so the disc columns are exact; the cont median is
    * the proven percentile ≡ quantile_cont pair, rounded at the edge.
    * Shape: one map-side-combinable aggregate at priority grain
    * (5 groups); swap approx sketches at 100 TB (same plan,
    * `q_quantile_est` is the audit that earns the swap).
    */
  def percentileDisc(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)").as("p25_disc"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50_disc"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)").as("p75_disc"),
        round4(expr("percentile(o_totalprice, 0.5)")).as("p50_cont"))
      .orderBy("priority")

  private val sqlPercentileDisc =
    s"""SELECT o_orderpriority AS priority, count(*) AS n_rows,
       |       quantile_disc(o_totalprice, 0.25) AS p25_disc,
       |       quantile_disc(o_totalprice, 0.5) AS p50_disc,
       |       quantile_disc(o_totalprice, 0.75) AS p75_disc,
       |       ${duckRound4("quantile_cont(o_totalprice, 0.5)")} AS p50_cont
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_anova: one-way F across market segments ----------

  /** One-way ANOVA F across the five market segments on order totals
    * (Fisher 1925) — the k-group generalization of [[welchTtest]]'s
    * pairwise comparison: does segment membership explain ANY of the
    * revenue variance? Emits F, its two degrees of freedom, and η²
    * (SSB/SST — the share of variance segments explain, the effect
    * size that matters at fact-scale n where F is always "significant").
    *
    * Shape: ONE fact pass to exact-DECIMAL per-segment moments (n,
    * Σx, Σx² — the [[corrStats]] recipe, map-side combinable, O(k)
    * state), then a k-row collapse. Cross-group sums of the double
    * per-group terms (Σx²_g/n_g and the within-SS) are LEFT FOLDS in
    * segment order over the bounded k-element list (`aggregate` ≡
    * `list_reduce` with prepended init — the CLAUDE.md float-reduction
    * rule; the terms are ~1e13, far past what round6-into-DECIMAL
    * staging can carry through Spark's long-valued floor), so both
    * engines execute the identical addition sequence; the F/η² closed
    * forms are single-division doubles at the edge.
    */
  def anovaF(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val m = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        col("o_totalprice").cast("decimal(18,4)").as("x"),
        col("o_totalprice").cast("decimal(18,4)")
          .multiply(col("o_totalprice").cast("decimal(20,4)")).as("xx"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("xx")).as("sxx"))
    val b = col("sx").cast("double") * col("sx").cast("double") / col("n").cast("double")
    val agg = m
      .withColumn("b", b)
      .withColumn("w", col("sxx").cast("double") - b)
      .agg(count(lit(1)).as("k"), sum(col("n")).as("nt"), sum(col("sx")).as("tsx"),
        sort_array(collect_list(struct(col("seg"), col("b").as("b")))).as("bs"),
        sort_array(collect_list(struct(col("seg"), col("w").as("w")))).as("ws"))
      // k-element left folds in segment order (bounded list, HOF cost O(k))
      .withColumn("sb", aggregate(col("bs"), lit(0.0), (acc, s) => acc + s("b")))
      .withColumn("ssw", aggregate(col("ws"), lit(0.0), (acc, s) => acc + s("w")))
    val grand = col("tsx").cast("double") * col("tsx").cast("double") / col("nt").cast("double")
    val ssb = col("sb") - grand
    val ssw = col("ssw")
    agg.select(col("k").as("k_groups"), col("nt").as("n_total"),
      round4((ssb / (col("k").cast("double") - 1.0)) /
        (ssw / (col("nt").cast("double") - col("k").cast("double")))).as("f_stat"),
      round4(ssb / (ssb + ssw)).as("eta_sq"))
  }

  private val sqlAnovaF = {
    val b = "(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val grand = "(CAST(tsx AS DOUBLE) * CAST(tsx AS DOUBLE) / CAST(nt AS DOUBLE))"
    def fold(v: String) =
      s"list_reduce([CAST(0 AS DOUBLE)] || list($v ORDER BY seg), (acc, v) -> acc + v)"
    val ssb = s"(sb - $grand)"
    s"""WITH t AS (SELECT c_mktsegment AS seg,
       |                  CAST(o_totalprice AS DECIMAL(18,4)) AS x,
       |                  CAST(o_totalprice AS DECIMAL(18,4)) * CAST(o_totalprice AS DECIMAL(20,4)) AS xx
       |           FROM orders JOIN customer ON o_custkey = c_custkey),
       |     m AS (SELECT seg, count(*) AS n, sum(x) AS sx, sum(xx) AS sxx
       |           FROM t GROUP BY 1),
       |     a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nt,
       |                  sum(sx) AS tsx,
       |                  ${fold(b)} AS sb,
       |                  ${fold(s"(CAST(sxx AS DOUBLE) - $b)")} AS ssw
       |           FROM m)
       |SELECT k AS k_groups, nt AS n_total,
       |       ${duckRound4(s"($ssb / (CAST(k AS DOUBLE) - 1.0)) / (ssw / (CAST(nt AS DOUBLE) - CAST(k AS DOUBLE)))")} AS f_stat,
       |       ${duckRound4(s"$ssb / ($ssb + ssw)")} AS eta_sq
       |FROM a""".stripMargin
  }

  // ---------- q_levene: Brown-Forsythe variance-homogeneity test ----------

  /** Brown–Forsythe test (Levene's test with the MEDIAN center,
    * Brown & Forsythe 1974) for variance homogeneity across market
    * segments — the assumption check that says whether [[anovaF]]'s
    * pooled within-variance is even meaningful, and the robust-center
    * variant that survives the heavy-tailed revenue distribution: the
    * statistic is a one-way ANOVA F computed on zᵢ = |xᵢ − median_g|.
    *
    * Shape: per-segment exact `percentile` medians (≡ quantile_cont,
    * the verified bit-identical pair) on one fact pass, broadcast back
    * (k rows), then the same exact-moment ANOVA collapse as [[anovaF]]
    * — with z ROUND6ed into DECIMAL(18,6) before its moment sums (z
    * is a derived double; summing raw doubles at fact grain is
    * partition-order-dependent, the q_kmeans_refine rule). The
    * precision matters: at (24,6), Spark's decimal multiply hits the
    * 38-digit cap and (under allowPrecisionLoss) adjusts (49,12) →
    * (38,6), ROUNDING each z² to 6 decimals while DuckDB keeps the
    * exact 12-decimal product — per-engine moments then differ by up
    * to ~5e-7/row, the SF-growing round4-boundary drift class. At
    * (18,6) (z ≤ ~1e6 needs 7 integer digits, 12 available) the
    * product is (37,12) in Spark and — with one operand widened to
    * (19,6) so DuckDB leaves its int64-backed multiply, which throws
    * on overflow rather than widening — (38,12) in DuckDB: exact on
    * both, so both engines see bit-identical moments (the DECIMAL(18,6)
    * pattern [[graft.text.TextAnalytics]] burrowsDelta uses).
    */
  def leveneBf(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val base = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_totalprice").as("x"))
    val med = base.groupBy("seg")
      .agg(expr("percentile(x, 0.5)").as("med"))
    val z6 = round6(abs(col("x") - col("med")))
      .cast("decimal(18,6)")
    val m = base.join(broadcast(med), "seg")
      .withColumn("z", z6)
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum(col("z")).as("sx"),
        sum(col("z").multiply(col("z"))).as("sxx"))
    val b = col("sx").cast("double") * col("sx").cast("double") / col("n").cast("double")
    val agg = m
      .withColumn("b", b)
      .withColumn("w", col("sxx").cast("double") - b)
      .agg(count(lit(1)).as("k"), sum(col("n")).as("nt"), sum(col("sx")).as("tsx"),
        sort_array(collect_list(struct(col("seg"), col("b").as("b")))).as("bs"),
        sort_array(collect_list(struct(col("seg"), col("w").as("w")))).as("ws"))
      .withColumn("sb", aggregate(col("bs"), lit(0.0), (acc, s) => acc + s("b")))
      .withColumn("ssw", aggregate(col("ws"), lit(0.0), (acc, s) => acc + s("w")))
    val grand = col("tsx").cast("double") * col("tsx").cast("double") / col("nt").cast("double")
    val ssb = col("sb") - grand
    val ssw = col("ssw")
    agg.select(col("k").as("k_groups"), col("nt").as("n_total"),
      round4((ssb / (col("k").cast("double") - 1.0)) /
        (ssw / (col("nt").cast("double") - col("k").cast("double")))).as("bf_stat"))
  }

  private val sqlLeveneBf = {
    val b = "(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val grand = "(CAST(tsx AS DOUBLE) * CAST(tsx AS DOUBLE) / CAST(nt AS DOUBLE))"
    def fold(v: String) =
      s"list_reduce([CAST(0 AS DOUBLE)] || list($v ORDER BY seg), (acc, v) -> acc + v)"
    val ssb = s"(sb - $grand)"
    s"""WITH base AS (SELECT c_mktsegment AS seg, o_totalprice AS x
       |              FROM orders JOIN customer ON o_custkey = c_custkey),
       |     md AS (SELECT seg, quantile_cont(x, 0.5) AS med FROM base GROUP BY 1),
       |     zz AS (SELECT base.seg,
       |                   CAST(${duckRound6("abs(x - med)")} AS DECIMAL(18,6)) AS z
       |            FROM base JOIN md ON base.seg = md.seg),
       |     m AS (SELECT seg, count(*) AS n, sum(z) AS sx,
       |                  sum(CAST(z AS DECIMAL(19,6)) * z) AS sxx
       |           FROM zz GROUP BY 1),
       |     a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nt,
       |                  sum(sx) AS tsx,
       |                  ${fold(b)} AS sb,
       |                  ${fold(s"(CAST(sxx AS DOUBLE) - $b)")} AS ssw
       |           FROM m)
       |SELECT k AS k_groups, nt AS n_total,
       |       ${duckRound4(s"($ssb / (CAST(k AS DOUBLE) - 1.0)) / (ssw / (CAST(nt AS DOUBLE) - CAST(k AS DOUBLE)))")} AS bf_stat
       |FROM a""".stripMargin
  }

  // ---------- q_trimmed_mean: robust location by tail dropping ----------

  /** Two-sided 5% trimmed mean of order value per market segment —
    * the DROP companion to `q_winsorize`'s CLAMP: winsorizing pulls
    * tail mass to the fences (keeps n, caps influence), trimming
    * removes it (the location estimator with a 5% breakdown point per
    * side). The emitted mean shift vs the plain mean is the "how much
    * do tails own this KPI" number read next to the outlier screens.
    *
    * Shape: one exact per-segment `percentile` fence row (≡
    * `quantile_cont`, approx_percentile at 100 TB) broadcast back,
    * then one conditional DECIMAL aggregate — integer-exact sums on
    * both the kept slice and the full population, divisions at the
    * edge only.
    */
  def trimmedMean(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    // Staged once — same two-consumer fence shape as `outliers`
    val base = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_totalprice").as("x"),
        units(col("o_totalprice"), 100.0).cast("long").as("xc"))
      .localCheckpoint(true)
    val fences = base.groupBy("seg")
      .agg(expr("percentile(x, 0.05)").as("lo"), expr("percentile(x, 0.95)").as("hi"))
    base.join(broadcast(fences), "seg")
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum(col("xc")).as("sc"),
        count(when(col("x") >= col("lo") && col("x") <= col("hi"), lit(1)))
          .as("n_kept"),
        sum(when(col("x") >= col("lo") && col("x") <= col("hi"), col("xc"))
          .otherwise(lit(0L))).as("sk"))
      .select(col("seg"), col("n"), col("n_kept"),
        round4(col("sc").cast("double") / 100.0 / col("n").cast("double"))
          .as("mean"),
        round4(col("sk").cast("double") / 100.0 / col("n_kept").cast("double"))
          .as("trimmed_mean"),
        round4(col("sc").cast("double") / 100.0 / col("n").cast("double")
          - col("sk").cast("double") / 100.0 / col("n_kept").cast("double"))
          .as("tail_shift"))
      .orderBy("seg")
  }

  private val sqlTrimmedMean = {
    val mean = "(CAST(sc AS DOUBLE) / 100.0 / CAST(n AS DOUBLE))"
    val tmean = "(CAST(sk AS DOUBLE) / 100.0 / CAST(n_kept AS DOUBLE))"
    s"""WITH base AS (SELECT c_mktsegment AS seg, o_totalprice AS x,
       |                     CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT) AS xc
       |              FROM orders JOIN customer ON o_custkey = c_custkey),
       |     f AS (SELECT seg, quantile_cont(x, 0.05) AS lo, quantile_cont(x, 0.95) AS hi
       |           FROM base GROUP BY 1),
       |     a AS (SELECT base.seg, CAST(count(*) AS BIGINT) AS n,
       |                  CAST(sum(xc) AS BIGINT) AS sc,
       |                  CAST(count(CASE WHEN x >= lo AND x <= hi THEN 1 END) AS BIGINT) AS n_kept,
       |                  CAST(sum(CASE WHEN x >= lo AND x <= hi THEN xc ELSE 0 END) AS BIGINT) AS sk
       |           FROM base JOIN f ON base.seg = f.seg
       |           GROUP BY 1)
       |SELECT seg, n, n_kept,
       |       ${duckRound4(mean)} AS mean,
       |       ${duckRound4(tmean)} AS trimmed_mean,
       |       ${duckRound4(s"$mean - $tmean")} AS tail_shift
       |FROM a ORDER BY seg""".stripMargin
  }

  // ---------- q_kruskal_wallis: k-group rank test on the daily series ----------

  /** Kruskal–Wallis H test (1952) — the rank analog of [[anovaF]]:
    * does daily revenue DISTRIBUTION depend on day-of-week, judged on
    * ranks so the heavy revenue tail can't dominate the way it does
    * the F statistic's variance terms. Emits H, the tie-corrected H,
    * and the group count — read next to `q_seasonal_dow` (the means)
    * as the distribution-free second opinion.
    *
    * Shape: the [[mannWhitney]] rank discipline generalized to k
    * groups — VALUE-grain tie groups (cents), an exclusive prefix
    * scan for cumulative counts, and 2×-scaled average ranks so every
    * rank sum is an exact integer: R2 contribution of a tie group to
    * its day-of-week is n_gv·(2·cum + t + 1). The day grain bounds
    * everything by the calendar; the k-element Σ R2²/n fold is
    * segment-ordered (the [[anovaF]] k-fold rule). Doubles appear
    * only in the closed form at the edge.
    */
  def kruskalWallis(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("xc"))
      .withColumn("dow", dayofweek(col("day")).cast("long"))
      .localCheckpoint(true)
    val byVal = daily.groupBy("xc").agg(count(lit(1)).as("t"))
    val cum = graft.etl.PrefixScan.exclusivePrefixSum(byVal, "xc", "t", "cum")
    val perDow = daily.groupBy("xc", "dow").agg(count(lit(1)).as("cnt"))
      .join(cum, "xc")
      .groupBy("dow")
      .agg(sum(col("cnt")).as("ng"),
        sum(col("cnt") * (lit(2L) * col("cum") + col("t") + lit(1L))).as("r2"))
    val ties = cum.agg(
      sum(when(col("t") >= 2L, col("t") * col("t") * col("t") - col("t"))
        .otherwise(lit(0L))).as("tsum"))
    def d(c: Column): Column = c.cast("double")
    val agg = perDow
      .agg(count(lit(1)).as("k"), sum(col("ng")).as("nn"),
        sort_array(collect_list(struct(col("dow"),
          (col("r2") * col("r2")).as("r2sq"), col("ng").as("ng")))).as("gs"))
      // k-element left fold in dow order (bounded list)
      .withColumn("sr", aggregate(col("gs"), lit(0.0),
        (acc, s) => acc + s("r2sq").cast("double") / s("ng").cast("double")))
      .crossJoin(broadcast(ties))
    val nD = d(col("nn"))
    val h = lit(3.0) * col("sr") / (nD * (nD + 1.0)) - lit(3.0) * (nD + 1.0)
    val corr = lit(1.0) - d(col("tsum")) / (nD * nD * nD - nD)
    agg.select(col("nn").as("n_days"), col("k").as("k_groups"),
      round4(h).as("h_stat"), round4(h / corr).as("h_adj"))
  }

  private val sqlKruskalWallis = {
    val nD = "CAST(nn AS DOUBLE)"
    val h = s"(3.0 * sr / ($nD * ($nD + 1.0)) - 3.0 * ($nD + 1.0))"
    val corr = s"(1.0 - CAST(tsum AS DOUBLE) / ($nD * $nD * $nD - $nD))"
    s"""WITH daily AS (SELECT o_orderdate AS day,
       |                      CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS xc,
       |                      CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow
       |               FROM orders GROUP BY 1, 3),
       |     bv AS (SELECT xc, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY 1),
       |     cm AS (SELECT *, CAST(coalesce(sum(t) OVER (ORDER BY xc
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
       |            FROM bv),
       |     pd AS (SELECT dow, CAST(sum(cnt) AS BIGINT) AS ng,
       |                   CAST(sum(cnt * (2 * cum + t + 1)) AS BIGINT) AS r2
       |            FROM (SELECT d.xc, dow, CAST(count(*) AS BIGINT) AS cnt
       |                  FROM daily d GROUP BY 1, 2) g
       |            JOIN cm ON g.xc = cm.xc
       |            GROUP BY dow),
       |     ts AS (SELECT CAST(sum(CASE WHEN t >= 2 THEN t*t*t - t ELSE 0 END) AS BIGINT) AS tsum
       |            FROM cm),
       |     a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS nn,
       |                  list_reduce([CAST(0 AS DOUBLE)] ||
       |                    list(CAST(r2 * r2 AS DOUBLE) / CAST(ng AS DOUBLE) ORDER BY dow),
       |                    (acc, v) -> acc + v) AS sr
       |           FROM pd)
       |SELECT nn AS n_days, k AS k_groups,
       |       ${duckRound4(h)} AS h_stat,
       |       ${duckRound4(s"$h / $corr")} AS h_adj
       |FROM a CROSS JOIN ts""".stripMargin
  }

  // ---------- q_friedman: within-block rank test (month × segment) ----------

  /** Friedman test (1937) on the month × market-segment mean-order-
    * value grid: within every month, rank the k segments by mean
    * order value, sum ranks per segment over months — do segments
    * keep a consistent ordering (χ²_F large), or is the monthly
    * ranking noise? Kendall's W = χ²/(n(k−1)) is emitted as the
    * agreement coefficient. The rank complement to [[q_median_polish]]
    * on the exact same grid.
    *
    * Parity: the within-block ranking never touches a float — cells
    * carry exact cents sums and counts, and mean comparison is the
    * CROSS-MULTIPLIED integer test sc_j·n_i vs sc_i·n_j (DECIMAL(38,0)
    * products, overflow-safe at any SF); ties take average rank via
    * the 2×-scaled integer rank2 = 2 + 2·#greater + #equal. Complete
    * blocks only (the standard treatment — a missing cell has no
    * rank). Everything is (month × segment)-grain — calendar-bounded.
    */
  def friedman(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val cells = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("m"),
        col("c_mktsegment").as("seg"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("sc"),
        count(lit(1)).as("n"))
      .localCheckpoint(true)
    val k = cells.select(countDistinct(col("seg")).as("k"))
    val complete = cells.groupBy("m").agg(count(lit(1)).as("kc"))
      .crossJoin(broadcast(k)).filter(col("kc") === col("k")).select("m")
    val inBlk = cells.join(complete, "m")
    def p(sc: Column, n: Column): Column =
      sc.cast("decimal(38,0)") * n.cast("decimal(19,0)")
    val ranked = inBlk.as("a").join(inBlk.as("b"), Seq("m"))
      .groupBy(col("m"), col("a.seg").as("seg"))
      .agg(sum(when(p(col("b.sc"), col("a.n")) > p(col("a.sc"), col("b.n")), 2L)
          .when(col("a.seg") =!= col("b.seg") &&
            p(col("b.sc"), col("a.n")) === p(col("a.sc"), col("b.n")), 1L)
          .otherwise(0L)).as("above2"))
      .withColumn("rank2", lit(2L) + col("above2"))
    def d(c: Column): Column = c.cast("double")
    val agg = ranked.groupBy("seg").agg(sum(col("rank2")).as("r2"),
        count(lit(1)).as("nb"))
      .agg(count(lit(1)).as("k"), max(col("nb")).as("n"),
        sum(col("r2") * col("r2")).as("sr2"))
    val chi = lit(3.0) * d(col("sr2")) /
      (d(col("n")) * d(col("k")) * (d(col("k")) + 1.0)) -
      lit(3.0) * d(col("n")) * (d(col("k")) + 1.0)
    agg.select(col("n").as("n_blocks"), col("k").as("k_groups"),
      round4(chi).as("chi2_f"),
      round4(chi / (d(col("n")) * (d(col("k")) - 1.0))).as("kendalls_w"))
  }

  private val sqlFriedman = {
    val chi = "(3.0 * CAST(sr2 AS DOUBLE) / " +
      "(CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)) " +
      "- 3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0))"
    s"""WITH cells AS (SELECT strftime(o_orderdate, '%Y-%m') AS m, c_mktsegment AS seg,
       |                      CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS sc,
       |                      CAST(count(*) AS BIGINT) AS n
       |               FROM orders JOIN customer ON o_custkey = c_custkey
       |               GROUP BY 1, 2),
       |     kk AS (SELECT count(DISTINCT seg) AS k FROM cells),
       |     cmp AS (SELECT m FROM cells CROSS JOIN kk GROUP BY m, k
       |             HAVING count(*) = any_value(k)),
       |     ib AS (SELECT cells.* FROM cells JOIN cmp ON cells.m = cmp.m),
       |     rk AS (SELECT a.m, a.seg,
       |                   2 + CAST(sum(CASE
       |                     WHEN CAST(b.sc AS HUGEINT) * a.n > CAST(a.sc AS HUGEINT) * b.n THEN 2
       |                     WHEN a.seg <> b.seg AND CAST(b.sc AS HUGEINT) * a.n = CAST(a.sc AS HUGEINT) * b.n THEN 1
       |                     ELSE 0 END) AS BIGINT) AS rank2
       |            FROM ib a JOIN ib b ON a.m = b.m
       |            GROUP BY 1, 2),
       |     pg AS (SELECT seg, CAST(sum(rank2) AS BIGINT) AS r2,
       |                   CAST(count(*) AS BIGINT) AS nb
       |            FROM rk GROUP BY 1),
       |     a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(max(nb) AS BIGINT) AS n,
       |                  CAST(sum(r2 * r2) AS BIGINT) AS sr2
       |           FROM pg)
       |SELECT n AS n_blocks, k AS k_groups,
       |       ${duckRound4(chi)} AS chi2_f,
       |       ${duckRound4(s"$chi / (CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0))")} AS kendalls_w
       |FROM a""".stripMargin
  }

  // ---------- q_cochran_q: k related binary treatments ----------

  /** Cochran's Q test (1950) — [[q_mcnemar]]'s k-treatment
    * generalization: did the customer base's propensity to order
    * differ across the first three months of the year, judged on the
    * per-customer binary "ordered in month j" matrix? Q =
    * (k−1)·(k·ΣG_j² − N²)/(k·N − ΣL_i²) with G the month column
    * totals and L the per-customer row totals — all-integer until the
    * single division. All-zero rows cancel from every term, so the
    * block universe needs no arbitrary inclusion rule.
    *
    * Shape: one (customer × month) distinct pass, one customer-grain
    * aggregate, one global fold — linear, map-combinable, no windows.
    */
  def cochranQ(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 3
    val cm = Tables.orders(spark, sfDir)
      .withColumn("mm", month(col("o_orderdate")).cast("long"))
      .filter(col("mm") <= k)
      .select(col("o_custkey").as("cust"), col("mm")).distinct()
      .localCheckpoint(true)
    val rows = cm.groupBy("cust").agg(count(lit(1)).as("l"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("l")).as("nn"),
        sum(col("l") * col("l")).as("l2"))
    val cols = cm.groupBy("mm").agg(count(lit(1)).as("g"))
      .agg(sum(col("g") * col("g")).as("g2"))
    def d(c: Column): Column = c.cast("double")
    rows.crossJoin(broadcast(cols))
      .select(col("n_blocks"),
        round4(d(lit(k - 1)) * (d(lit(k)) * d(col("g2")) - d(col("nn")) * d(col("nn"))) /
          (d(lit(k)) * d(col("nn")) - d(col("l2")))).as("q_stat"))
  }

  private val sqlCochranQ = {
    val k = 3
    val q = s"(CAST(${k - 1} AS DOUBLE) * (CAST($k AS DOUBLE) * CAST(g2 AS DOUBLE) " +
      "- CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) / " +
      s"(CAST($k AS DOUBLE) * CAST(nn AS DOUBLE) - CAST(l2 AS DOUBLE)))"
    s"""WITH cm AS (SELECT DISTINCT o_custkey AS cust,
       |                   CAST(month(o_orderdate) AS BIGINT) AS mm
       |            FROM orders WHERE month(o_orderdate) <= $k),
       |     r AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
       |                  CAST(sum(l) AS BIGINT) AS nn,
       |                  CAST(sum(l * l) AS BIGINT) AS l2
       |           FROM (SELECT cust, CAST(count(*) AS BIGINT) AS l FROM cm GROUP BY 1) t),
       |     c AS (SELECT CAST(sum(g * g) AS BIGINT) AS g2
       |           FROM (SELECT mm, CAST(count(*) AS BIGINT) AS g FROM cm GROUP BY 1) t)
       |SELECT n_blocks, ${duckRound4(q)} AS q_stat
       |FROM r CROSS JOIN c""".stripMargin
  }

  // ---------- q_wasserstein: exact 1-Wasserstein (earth-mover) drift ----------

  /** Exact 1-Wasserstein distance between the AUTOMOBILE and BUILDING
    * segments' order-value distributions — the drift metric that,
    * unlike [[tvDrift]]'s bucket overlap or a KS max-gap, prices HOW
    * FAR the mass moved (W₁ = ∫|F_a−F_b| dx, in dollars): the number
    * a data-mixture owner reads as "retraining cost" when a source's
    * value profile shifts. Completes the drift triad's metric axis.
    *
    * Parity + scale: ALL-INTEGER until the output edge. Value-grain
    * (cents) conditional counts; ONE [[graft.etl.PrefixScan]] pass
    * over a bit-PACKED value (idx ≪ 40 | cumA ≪ 20 | cumB — sums
    * distribute over the pack, so one scan yields the rank and both
    * inclusive CDFs numerators; packing needs per-segment totals
    * < 2²⁰, true through 30× upscale and enforced by a fail-loud
    * require — at larger SF widen the fields or run two scans); the
    * "next value" comes from an idx+1
    * equi-join (never a fact-scale lead window). Each integral strip
    * is (gap cents)·|cumA·n_b − cumB·n_a| — an exact DECIMAL product
    * summed order-independently; the single division and dollar
    * rescale happen once at the end.
    */
  def wasserstein(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val base = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
      .select((col("c_mktsegment") === "AUTOMOBILE").as("is_a"),
        units(col("o_totalprice"), 100.0).cast("long").as("xc"))
    val g = base.groupBy("xc").agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
      .withColumn("v",
        lit(1L << 40) + col("na") * lit(1L << 20) + col("nb"))
    val sc = graft.etl.PrefixScan.exclusivePrefixSum(g, "xc", "v", "cum")
      .withColumn("idx", expr("cum div 1099511627776"))
      .withColumn("ca", expr("(cum % 1099511627776) div 1048576") + col("na"))
      .withColumn("cb", col("cum") % lit(1L << 20) + col("nb"))
      .localCheckpoint(true)
    val tot = sc.agg(sum(col("na")).as("nat"), sum(col("nb")).as("nbt"))
    // Fail-loud pack-capacity guard (round-17 advice): the 20-bit CDF
    // fields silently bleed cumB into cumA past 2^20 orders/segment —
    // the 30× upscale is already at ~86% of capacity. A scalar check
    // over the eagerly-checkpointed sc is one cheap driver job; at a
    // larger SF the fix is two prefix scans (or 31-bit fields in two
    // longs), and this require names that remedy instead of corrupting
    // w1_dollars quietly.
    val cap = tot.select(greatest(col("nat"), col("nbt"))).head.getLong(0)
    require(cap < (1L << 20),
      s"wasserstein bit-pack overflow: per-segment total $cap >= 2^20 — " +
        "widen the packed fields or fall back to two prefix scans")
    val nxt = sc.select((col("idx") - 1).as("idx"), col("xc").as("x_next"))
    sc.join(nxt, "idx")
      .crossJoin(broadcast(tot))
      .withColumn("d", abs(col("ca") * col("nbt") - col("cb") * col("nat")))
      .agg(max(col("nat")).as("n_a"), max(col("nbt")).as("n_b"),
        (count(lit(1)) + 1).as("n_values"),
        sum((col("x_next") - col("xc")).cast("decimal(19,0)") *
          col("d").cast("decimal(19,0)")).as("s"))
      .select(col("n_a"), col("n_b"), col("n_values"),
        round4(col("s").cast("double") /
          (col("n_a") * col("n_b")).cast("double") / 100.0).as("w1_dollars"))
  }

  private val sqlWasserstein =
    s"""WITH base AS (SELECT c_mktsegment = 'AUTOMOBILE' AS is_a,
       |                     CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT) AS xc
       |              FROM orders JOIN customer ON o_custkey = c_custkey
       |              WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')),
       |     g AS (SELECT xc,
       |                  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |                  CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS nb
       |           FROM base GROUP BY 1),
       |     sc AS (SELECT xc, na, nb,
       |                   CAST(sum(na) OVER w AS BIGINT) AS ca,
       |                   CAST(sum(nb) OVER w AS BIGINT) AS cb,
       |                   lead(xc) OVER (ORDER BY xc) AS x_next
       |            FROM g
       |            WINDOW w AS (ORDER BY xc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |     tot AS (SELECT CAST(sum(na) AS BIGINT) AS nat, CAST(sum(nb) AS BIGINT) AS nbt
       |             FROM g)
       |SELECT nat AS n_a, nbt AS n_b, CAST(count(*) + 1 AS BIGINT) AS n_values,
       |       ${duckRound4(
                 "CAST(sum(CAST(x_next - xc AS DECIMAL(19,0)) * " +
                   "CAST(abs(ca * nbt - cb * nat) AS DECIMAL(19,0))) AS DOUBLE)" +
                   " / CAST(nat * nbt AS DOUBLE) / 100.0")} AS w1_dollars
       |FROM sc CROSS JOIN tot
       |WHERE x_next IS NOT NULL
       |GROUP BY 1, 2""".stripMargin

  // ---------- q_bhattacharyya: histogram affinity + Hellinger drift ----------

  /** Bhattacharyya coefficient and Hellinger distance between the
    * same two segments' order-value HISTOGRAMS (fixed $25k-wide
    * buckets, tail-capped) — the bounded-[0,1] affinity reading next
    * to [[wasserstein]]'s unbounded dollar metric: BC near 1 means
    * the shapes overlap; H = √(1−BC) is the proper metric the
    * drift-alert thresholds are set on (and, unlike KL/PSI, needs no
    * log — sqrt is the one IEEE-exact transcendental, so the pair is
    * cross-engine-safe by construction).
    *
    * Shape: one bucket-grain conditional aggregate (≤ 23 cells), then
    * a bucket-ordered k-element fold of √(pᵢ)·√(qᵢ) (explicit
    * sqrt(a)·sqrt(b) association, never sqrt(a·b) — the float rule).
    */
  def bhattacharyya(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val g = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
      .select((col("c_mktsegment") === "AUTOMOBILE").as("is_a"),
        least(expr(s"CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT) div 2500000"),
          lit(20L)).as("b"))
      .groupBy("b").agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("pa"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("pb"))
    def d(x: Column): Column = x.cast("double")
    val agg = g.agg(sum(col("pa")).as("nat"), sum(col("pb")).as("nbt"),
        count(lit(1)).as("n_buckets"),
        sort_array(collect_list(struct(col("b"), col("pa").as("pa"),
          col("pb").as("pb")))).as("cells"))
      .withColumn("bc", aggregate(col("cells"), lit(0.0),
        (acc, s) => acc +
          sqrt(s("pa").cast("double") / col("nat").cast("double")) *
          sqrt(s("pb").cast("double") / col("nbt").cast("double"))))
    agg.select(col("nat").as("n_a"), col("nbt").as("n_b"), col("n_buckets"),
      round4(col("bc")).as("bc"),
      round4(sqrt(greatest(lit(0.0), lit(1.0) - col("bc")))).as("hellinger"))
  }

  private val sqlBhattacharyya = {
    val term = "sqrt(CAST(pa AS DOUBLE) / CAST(nat AS DOUBLE)) * " +
      "sqrt(CAST(pb AS DOUBLE) / CAST(nbt AS DOUBLE))"
    s"""WITH g AS (SELECT LEAST(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT) // 2500000, 20) AS b,
       |                  CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS pa,
       |                  CAST(sum(CASE WHEN c_mktsegment <> 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS pb
       |           FROM orders JOIN customer ON o_custkey = c_custkey
       |           WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
       |           GROUP BY 1),
       |     t AS (SELECT CAST(sum(pa) AS BIGINT) AS nat, CAST(sum(pb) AS BIGINT) AS nbt,
       |                  CAST(count(*) AS BIGINT) AS n_buckets
       |           FROM g),
       |     a AS (SELECT nat, nbt, n_buckets,
       |                  list_reduce([CAST(0 AS DOUBLE)] || list($term ORDER BY b),
       |                    (acc, v) -> acc + v) AS bc
       |           FROM g CROSS JOIN t
       |           GROUP BY nat, nbt, n_buckets)
       |SELECT nat AS n_a, nbt AS n_b, n_buckets,
       |       ${duckRound4("bc")} AS bc,
       |       ${duckRound4("sqrt(GREATEST(0.0, 1.0 - bc))")} AS hellinger
       |FROM a""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_wasserstein" -> (wasserstein _),
    "q_bhattacharyya" -> (bhattacharyya _),
    "q_kruskal_wallis" -> (kruskalWallis _),
    "q_friedman" -> (friedman _),
    "q_cochran_q" -> (cochranQ _),
    "q_trimmed_mean" -> (trimmedMean _),
    "q_anova" -> (anovaF _),
    "q_levene" -> (leveneBf _),
    "q_percentile_disc" -> (percentileDisc _),
    "q_hill_tail" -> (hillTail _),
    "q_welch_ttest" -> (welchTtest _),
    "q_kendall_tau" -> (kendallTau _),
    "q_cohens_d" -> (cohensD _),
    "q_mann_whitney" -> (mannWhitney _),
    "q_cliff_delta" -> (cliffDelta _),
    "q_simpson_slopes" -> (simpsonSlopes _),
    "q_tv_drift" -> (tvDrift _),
    "q_weighted_median" -> (weightedMedian _),
    "q_benford" -> (benford _),
    "q_equidepth_hist" -> (equidepthHist _),
    "q_quantile_est" -> (quantileEst _),
    "q_winsorize" -> (winsorize _),
    "q_mad_outliers" -> (madOutliers _),
    "q_corr_stats" -> (corrStats _),
    "q_mode_priority" -> (modePriority _),
    "q_histogram" -> (histogram _),
    "q_skyline" -> (skyline _),
    "q_outliers" -> (outliers _))

  val oracle: Map[String, String] = Map(
    "q_wasserstein" -> sqlWasserstein,
    "q_bhattacharyya" -> sqlBhattacharyya,
    "q_kruskal_wallis" -> sqlKruskalWallis,
    "q_friedman" -> sqlFriedman,
    "q_cochran_q" -> sqlCochranQ,
    "q_trimmed_mean" -> sqlTrimmedMean,
    "q_anova" -> sqlAnovaF,
    "q_levene" -> sqlLeveneBf,
    "q_percentile_disc" -> sqlPercentileDisc,
    "q_hill_tail" -> sqlHillTail,
    "q_welch_ttest" -> sqlWelchTtest,
    "q_kendall_tau" -> sqlKendallTau,
    "q_cohens_d" -> sqlCohensD,
    "q_mann_whitney" -> sqlMannWhitney,
    "q_cliff_delta" -> sqlCliffDelta,
    "q_simpson_slopes" -> sqlSimpsonSlopes,
    "q_tv_drift" -> sqlTvDrift,
    "q_weighted_median" -> sqlWeightedMedian,
    "q_benford" -> sqlBenford,
    "q_equidepth_hist" -> sqlEquidepthHist,
    "q_quantile_est" -> sqlQuantileEst,
    "q_winsorize" -> sqlWinsorize,
    "q_mad_outliers" -> sqlMadOutliers,
    "q_corr_stats" -> sqlCorrStats,
    "q_mode_priority" -> sqlModePriority,
    "q_histogram" -> sqlHistogram,
    "q_skyline" -> sqlSkyline,
    "q_outliers" -> sqlOutliers)
}
