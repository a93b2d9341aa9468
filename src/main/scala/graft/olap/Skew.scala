package graft.olap

import graft.functions.TextHashUtil
import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckUnits, round4, units}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot aggregation keys (SURVEY.md §4 / build
  * brief "salting for skew").
  *
  * AQE's skew-join splitting handles skewed JOINS automatically, but a
  * hash AGGREGATE with one hot key still funnels that key's rows into
  * a single reducer. Salting splits each key across `salt` reducers in
  * a first partial aggregate, then merges the ≤salt partials per key —
  * the hot reducer's input drops by ~salt×, at the cost of one extra
  * (tiny) shuffle stage. Worth it only for algebraic aggregates
  * (sum/count/min/max — avg composes as sum/count) and only when the
  * key histogram is actually skewed; for uniform keys Spark's
  * map-side partial aggregation already does this work for free.
  */
object Skew {

  /** Salted sum+count per key (the building block — avg, rates, and
    * weighted means all derive from sums and counts). The salt is a
    * DETERMINISTIC function of every column in the row: a task retried
    * after a fetch failure recomputes the identical salt assignment,
    * so no row can be double-counted in one salt group and lost from
    * another when some reducers already consumed the old map output
    * (the indeterminate-shuffle hazard of partition-id/row-id salts).
    * The trade-off is that fully-identical rows share a salt — a hot
    * key whose rows are byte-identical still funnels to one reducer.
    * That case is the map-side combiner's job anyway (identical rows
    * pre-aggregate perfectly); salting targets hot keys with VARYING
    * payloads, which xxhash64 over all columns spreads uniformly.
    */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     salt: Int = 16): DataFrame = {
    val keyCols = keys.map(col)
    val phase1 = df
      .withColumn("__salt", pmod(
        xxhash64(df.columns.map(col).toIndexedSeq: _*),
        lit(salt.toLong)))
      .groupBy((keyCols :+ col("__salt")): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
    phase1
      .groupBy(keyCols: _*)
      .agg(sum(col("__psum")).as(s"sum_$valueCol"),
        sum(col("__pcnt")).as("n"))
  }

  // ---------- q_key_skew: join-key distribution diagnostics ----------

  private val SkewKeys = Seq("l_orderkey", "l_partkey", "l_suppkey")

  /** Join-key skew diagnostics — the histogram a planner (or a human)
    * reads before deciding whether a join needs salting / AQE skew
    * splitting: per candidate key of `lineitem`, the key-count
    * distribution (max, median, p99 per-key multiplicity), the
    * max/avg skew ratio, and the share of ROWS sitting on keys above
    * the p99 multiplicity (the "hot share" that would funnel into few
    * reducers).
    *
    * Shape: per key one hash aggregate to key grain (map-side
    * combinable), one 1-row stats aggregate over that grain, and a
    * broadcast of the 1-row stats back onto the key grain for the
    * conditional hot-share sum — no windows, no top-k, nothing
    * fact-scale beyond the grouping itself, so the shape survives
    * keys whose cardinality scales with the fact table. Parity: the
    * exact `percentile` ≡ `quantile_cont` pair; avg and shares are
    * single divisions of exact integers, rounded once at the edge.
    */
  def keySkew(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val perKey = SkewKeys.map { k =>
      val counts = li.groupBy(col(k).as("key")).agg(count(lit(1)).as("cnt"))
      val stats = counts.agg(
        count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"),
        percentile(col("cnt"), lit(0.5)).as("p50_cnt"),
        percentile(col("cnt"), lit(0.99)).as("p99_cnt"))
      counts.crossJoin(broadcast(stats))
        .groupBy("n_keys", "n_rows", "max_cnt", "p50_cnt", "p99_cnt")
        .agg(sum(when(col("cnt").cast("double") > col("p99_cnt"), col("cnt"))
          .otherwise(lit(0L))).as("hot_rows"))
        .select(lit(k).as("key_name"), col("n_rows"), col("n_keys"),
          col("max_cnt"),
          round4(col("p50_cnt")).as("p50_cnt"),
          round4(col("p99_cnt")).as("p99_cnt"),
          round4(col("max_cnt").cast("double")
            * col("n_keys").cast("double") / col("n_rows").cast("double"))
            .as("skew_ratio"),
          round4(col("hot_rows").cast("double")
            / col("n_rows").cast("double")).as("hot_share"))
    }
    perKey.reduce(_ unionByName _).orderBy("key_name")
  }

  private val sqlKeySkew = {
    val blocks = SkewKeys.map { k =>
      s"""SELECT '$k' AS key_name, n_rows, n_keys, max_cnt,
         |       ${duckRound4("p50_cnt")} AS p50_cnt, ${duckRound4("p99_cnt")} AS p99_cnt,
         |       ${duckRound4("CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)")} AS skew_ratio,
         |       ${duckRound4("CAST(hot_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)")} AS hot_share
         |FROM (
         |  SELECT max(n_keys) AS n_keys, max(n_rows) AS n_rows,
         |         max(max_cnt) AS max_cnt, max(p50_cnt) AS p50_cnt,
         |         max(p99_cnt) AS p99_cnt,
         |         CAST(sum(CASE WHEN CAST(cnt AS DOUBLE) > p99_cnt THEN cnt ELSE 0 END) AS BIGINT) AS hot_rows
         |  FROM (SELECT $k AS key, count(*) AS cnt FROM lineitem GROUP BY 1) c
         |  CROSS JOIN (
         |    SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
         |           max(cnt) AS max_cnt,
         |           quantile_cont(cnt, 0.5) AS p50_cnt, quantile_cont(cnt, 0.99) AS p99_cnt
         |    FROM (SELECT $k AS key, count(*) AS cnt FROM lineitem GROUP BY 1) c2) s
         |)""".stripMargin
    }
    blocks.mkString("", "\nUNION ALL\n", "\nORDER BY key_name")
  }

  // ---------- q_join_size_est: sketched join-cardinality estimate ----------

  private val CmsD = 4
  private val CmsW = 512

  /** CMS cell of an integer key `h` for hash row j — the
    * [[TextHashUtil]] permutations reduced mod [[CmsW]], identical
    * literals on both engines (the `q_cms_est` construction).
    */
  private def cmsCol(h: org.apache.spark.sql.Column, j: Int) =
    pmod(pmod(h * TextHashUtil.aj(j) + TextHashUtil.bj(j),
      lit(TextHashUtil.P)), lit(CmsW.toLong))

  private def duckCmsCol(h: String, j: Int): String =
    s"((($h * ${TextHashUtil.aj(j)} + ${TextHashUtil.bj(j)}) % ${TextHashUtil.P}) % $CmsW)"

  /** Join-cardinality estimation from count-min sketches (the
    * AMS/CMS inner-product estimator, Cormode & Muthukrishnan 2005
    * §4.2): |A ⋈_k B| = Σ_key cntA·cntB, estimated as min over hash
    * rows of Σ_cell sketchA[j][c]·sketchB[j][c] — here the self-join
    * of `lineitem` on `l_partkey`, the quantity a cost-based planner
    * wants BEFORE running a join that might explode. The estimate is
    * an upper bound by construction (hash collisions only ADD cross
    * terms), so `est ≥ exact` is a contract, not a coincidence — the
    * audit emits both plus the relative error a deployment would
    * alarm on.
    *
    * Shape: one hash aggregate to key grain, a 4-way fan to (j, cell)
    * grain (state d·w = 2048 counters — the mergeable-summary class),
    * and 1-row reductions; exact side is Σ cnt² over key grain. All
    * integers until the single rounded ratio.
    */
  def joinSizeEst(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey").as("key")).agg(count(lit(1)).as("cnt"))
    val exact = counts.agg(sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      sum(col("cnt") * col("cnt")).as("exact_pairs"))
    val h = pmod(col("key"), lit(TextHashUtil.P))
    val est = counts
      .select(col("cnt"), explode_outer(array((0 until CmsD).map(j =>
        struct(lit(j).as("j"), cmsCol(h, j).as("c"))): _*)).as("jc"))
      .groupBy(col("jc.j").as("j"), col("jc.c").as("c"))
      .agg(sum(col("cnt")).as("cell"))
      .groupBy("j").agg(sum(col("cell") * col("cell")).as("row_est"))
      .agg(min(col("row_est")).as("est_pairs"))
    exact.crossJoin(broadcast(est))
      .select(col("n_rows"), col("n_keys"), col("exact_pairs"),
        col("est_pairs"), (col("est_pairs") - col("exact_pairs")).as("overcount"),
        round4(col("est_pairs").cast("double")
          / col("exact_pairs").cast("double")).as("ratio"))
  }

  private val sqlJoinSizeEst = {
    val fan = (0 until CmsD).map(j =>
      s"SELECT cnt, $j AS j, ${duckCmsCol("(key % " + TextHashUtil.P + ")", j)} AS c FROM k")
      .mkString("(", " UNION ALL ", ")")
    s"""WITH k AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS cnt
       |           FROM lineitem GROUP BY 1),
       |     ex AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
       |                   CAST(count(*) AS BIGINT) AS n_keys,
       |                   CAST(sum(cnt * cnt) AS BIGINT) AS exact_pairs
       |            FROM k),
       |     cells AS (SELECT j, c, CAST(sum(cnt) AS BIGINT) AS cell
       |               FROM $fan f GROUP BY j, c),
       |     rowest AS (SELECT j, CAST(sum(cell * cell) AS BIGINT) AS row_est
       |                FROM cells GROUP BY j),
       |     es AS (SELECT min(row_est) AS est_pairs FROM rowest)
       |SELECT n_rows, n_keys, exact_pairs, est_pairs,
       |       est_pairs - exact_pairs AS overcount,
       |       ${duckRound4(
                 "CAST(est_pairs AS DOUBLE) / CAST(exact_pairs AS DOUBLE)")} AS ratio
       |FROM ex CROSS JOIN es""".stripMargin
  }

  // ---------- q_partition_balance: reducer-balance audit ----------

  private val NumReducers = 32L

  /** Reducer-balance audit: how evenly would `lineitem` rows spread
    * over [[NumReducers]] shuffle partitions under (a) a proper hash
    * partitioner vs (b) naive key-modulo — the diagnosis behind "my
    * shuffle has 31 idle reducers and 1 hot one". Modulo partitioning
    * of structured keys (here `l_partkey`, dense sequential ids)
    * aliases any key-generation stride straight into reducer ids; the
    * permuted hash breaks the structure. The imbalance factor
    * (max/avg) is the wall-clock multiplier the stage suffers, since
    * the slowest reducer gates the stage.
    *
    * Shape: two bucket-grain hash aggregates (≤2·[[NumReducers]]
    * groups) + a 2-row rollup. The hash is the engine-independent
    * [[TextHashUtil]] permutation, so DuckDB replays bucket ids
    * bit-for-bit (Spark's own `hash()` would not cross engines).
    */
  def partitionBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(col("l_partkey").as("key"))
    def stats(df: DataFrame, scheme: String) = df
      .groupBy("bucket").agg(count(lit(1)).as("rows"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("rows")).as("n_rows"),
        min(col("rows")).as("min_rows"), max(col("rows")).as("max_rows"))
      .select(lit(scheme).as("scheme"), col("n_buckets"), col("n_rows"),
        col("min_rows"), col("max_rows"),
        round4(col("max_rows").cast("double")
          * lit(NumReducers.toDouble) / col("n_rows").cast("double"))
          .as("imbalance"))
    val hashed = li.withColumn("bucket",
      pmod(pmod(pmod(col("key"), lit(TextHashUtil.P)) * TextHashUtil.aj(0)
        + TextHashUtil.bj(0), lit(TextHashUtil.P)), lit(NumReducers)))
    val modulo = li.withColumn("bucket", pmod(col("key"), lit(NumReducers)))
    stats(hashed, "hash").unionByName(stats(modulo, "mod")).orderBy("scheme")
  }

  private val sqlPartitionBalance = {
    def block(bucket: String, scheme: String) =
      s"""SELECT '$scheme' AS scheme, CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(sum(rows) AS BIGINT) AS n_rows,
         |       min(rows) AS min_rows, max(rows) AS max_rows,
         |       ${duckRound4(s"CAST(max(rows) AS DOUBLE) * $NumReducers.0 / CAST(sum(rows) AS DOUBLE)")} AS imbalance
         |FROM (SELECT $bucket AS bucket, CAST(count(*) AS BIGINT) AS rows
         |      FROM lineitem GROUP BY 1)""".stripMargin
    val hash = s"(((l_partkey % ${TextHashUtil.P}) * ${TextHashUtil.aj(0)} + ${TextHashUtil.bj(0)}) % ${TextHashUtil.P}) % $NumReducers"
    val mod = s"l_partkey % $NumReducers"
    s"""${block(hash, "hash")}
       |UNION ALL
       |${block(mod, "mod")}
       |ORDER BY scheme""".stripMargin
  }

  // ---------- q_gini_revenue: customer-concentration Gini ----------

  /** Gini coefficient of customer revenue — the one-number
    * concentration audit next to [[keySkew]]'s per-key histogram and
    * `q_abc_analysis`'s Pareto classes: G = 2·Σ rank·x / (n·Σx) −
    * (n+1)/n over ascending-revenue ranks. Ranks over customer grain
    * are fact-proportional, so they come from
    * [[graft.etl.PrefixScan.exclusivePrefixSum]] (hierarchical
    * two-phase scan) counting ones — never a single-partition
    * window. Revenue is exact integer cents; Σ rank·x stays in
    * bigint to ~10⁶ customers × petacent revenues (the headroom
    * note: widen to DECIMAL past that); one rounded edge.
    */
  def giniRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val cr = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("x"))
      // ord packs (cents, custkey) into one long for the prefix-scan
      // rank: collision-free while custkey < 1e8 (TPC-H custkey =
      // 150000·SF → SF < ~667) and x·1e8 stays in Long (per-customer
      // cents are SF-invariant ≤ ~2.3e9 → 2.3e17 ≪ 2^63). Past that
      // SF, switch ord to DECIMAL(38,0) x·1e20 + custkey — PrefixScan
      // only needs an orderable column.
      .withColumn("ord", col("x") * 100000000L + col("custkey"))
      .withColumn("one", lit(1L))
    val ranked = graft.etl.PrefixScan
      .exclusivePrefixSum(cr, "ord", "one", "rank0")
    ranked
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum((col("rank0") + 1L) * col("x")).as("sxr"))
      .select(col("n").as("n_customers"),
        round4(col("sx").cast("double") / 100.0).as("total_rev"),
        round4(
          lit(2.0) * col("sxr").cast("double")
            / (col("n").cast("double") * col("sx").cast("double"))
            - (col("n") + 1).cast("double") / col("n").cast("double")).as("gini"))
  }

  private val sqlGiniRevenue = {
    s"""WITH cr AS (SELECT o_custkey AS custkey,
       |                   CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS x
       |            FROM orders GROUP BY 1),
       |     rk AS (SELECT x, CAST(row_number() OVER (ORDER BY x * 100000000 + custkey) AS BIGINT) AS rank
       |            FROM cr),
       |     a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |                  CAST(sum(rank * x) AS BIGINT) AS sxr
       |           FROM rk)
       |SELECT n AS n_customers,
       |       ${duckRound4("CAST(sx AS DOUBLE) / 100.0")} AS total_rev,
       |       ${duckRound4("2.0 * CAST(sxr AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) " +
                 "- CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)")} AS gini
       |FROM a""".stripMargin
  }

  // ---------- q_hoover: Robin Hood index of revenue concentration ----------

  /** Hoover (Robin Hood) index of customer-revenue concentration —
    * the share of total revenue that would have to move between
    * customers to equalize them: H = ½·Σ|sᵢ − 1/n| = Σ|xᵢ·n − T| /
    * (2·T·n). [[giniRevenue]] integrates the whole Lorenz curve; the
    * Hoover index is its max-vertical-gap sibling, and unlike Gini it
    * needs NO rank at all — the concentration number that stays
    * embarrassingly parallel at any scale.
    *
    * Shape: one fact-grain cents aggregate to customer grain, one
    * 2-row broadcast of (n, T), one order-independent integer-DECIMAL
    * aggregate of |xᵢ·n − T| — no window, no sort, no PrefixScan (the
    * explicit contrast to Gini's rank requirement). Exactness: cents
    * are integers, xᵢ·n − T is exact DECIMAL(38,0) (headroom: 10¹⁰
    * customers × 10¹² cents still fits), one double division at the
    * edge.
    */
  def hooverIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val cr = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("x"))
      // staged: consumed by the (n, T) totals AND the deviation pass —
      // without it the fact scan + customer aggregate runs twice
      .localCheckpoint(true)
    val tot = cr.agg(count(lit(1)).as("n"), sum(col("x")).as("t"))
    cr.crossJoin(broadcast(tot))
      .select(col("n"), col("t"),
        abs(col("x").cast("decimal(19,0)") * col("n").cast("decimal(19,0)")
          - col("t").cast("decimal(19,0)")).cast("decimal(38,0)").as("dev"))
      .groupBy(col("n"), col("t"))
      .agg(sum(col("dev")).as("sdev"))
      .select(col("n").as("n_customers"),
        round4(col("t").cast("double") / 100.0).as("total_rev"),
        round4(
          col("sdev").cast("double") /
            (lit(2.0) * col("t").cast("double") * col("n").cast("double")))
          .as("hoover"))
  }

  private val sqlHoover = {
    s"""WITH cr AS (SELECT o_custkey AS custkey,
       |                   CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS x
       |            FROM orders GROUP BY 1),
       |     tt AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS t
       |            FROM cr),
       |     d AS (SELECT n, t,
       |                  CAST(abs(CAST(x AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
       |                    - CAST(t AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS dev
       |           FROM cr CROSS JOIN tt),
       |     a AS (SELECT n, t, sum(dev) AS sdev FROM d GROUP BY 1, 2)
       |SELECT n AS n_customers,
       |       ${duckRound4("CAST(t AS DOUBLE) / 100.0")} AS total_rev,
       |       ${duckRound4("CAST(sdev AS DOUBLE) / (2.0 * CAST(t AS DOUBLE) * CAST(n AS DOUBLE))")} AS hoover
       |FROM a""".stripMargin
  }

  // ---------- q_lorenz: decile Lorenz curve of revenue concentration ----------

  /** Decile Lorenz curve of customer revenue — the distribution
    * behind the single numbers [[giniRevenue]] (area) and
    * [[hooverIndex]] (max gap) report: for each poorest-d/10 slice of
    * customers, its share of total revenue, cumulative. This is the
    * chart finance actually reads ("the bottom half of customers
    * carries x% of revenue").
    *
    * Scale — the fact-scale-safe rank path: customers are ranked by
    * (cents, custkey) through ONE
    * [[graft.etl.PrefixScan.exclusivePrefixSum]] pass (range-partition
    * + two-pass scan — never a single-partition window over the
    * customer grain, which SCALES with SF); the prefix sum is a
    * function of the global order, so partition boundaries cannot
    * perturb it. Deciles then collapse to a 10-row table whose
    * cumulative runs over that bounded grain. Exact integer cents and
    * counts until the two rounded share divisions.
    */
  def lorenzCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val cr = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(units(col("o_totalprice"), 100.0).cast("long")).as("x"))
      // same collision-free packing bound as [[giniRevenue]] (custkey
      // < 1e8, i.e. SF < ~667; DECIMAL ord past that)
      .withColumn("ord", col("x") * 100000000L + col("custkey"))
      .withColumn("one", lit(1L))
    val ranked = graft.etl.PrefixScan
      .exclusivePrefixSum(cr, "ord", "one", "rank0")
      .localCheckpoint(true) // staged: totals + the decile aggregate read it
    val tot = ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("t"))
    val dec = ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("rank0 * 10 div n") + 1L)
      .groupBy(col("decile"), col("n"), col("t"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("x").cast("decimal(28,0)")).as("rev"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // bounded 10-row cumulative (decile grain, never customer grain)
    dec
      .withColumn("cum_rev", sum(col("rev")).over(w))
      .select(col("decile"), col("n_customers"),
        round4(
          col("rev").cast("double") / col("t").cast("double")).as("rev_share"),
        round4(
          col("cum_rev").cast("double") / col("t").cast("double")).as("cum_rev_share"))
      .orderBy("decile")
  }

  private val sqlLorenz = {
    s"""WITH cr AS (SELECT o_custkey AS custkey,
       |                   CAST(sum(CAST(${duckUnits("o_totalprice", 100.0)} AS BIGINT)) AS BIGINT) AS x
       |            FROM orders GROUP BY 1),
       |     rk AS (SELECT x, CAST(row_number() OVER (ORDER BY x * 100000000 + custkey) AS BIGINT) - 1 AS rank0
       |            FROM cr),
       |     tt AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS t
       |            FROM cr),
       |     d AS (SELECT (rank0 * 10) // n + 1 AS decile, n, t,
       |                  CAST(count(*) AS BIGINT) AS n_customers,
       |                  sum(CAST(x AS DECIMAL(28,0))) AS rev
       |           FROM rk CROSS JOIN tt GROUP BY 1, 2, 3)
       |SELECT decile, n_customers,
       |       ${duckRound4("CAST(rev AS DOUBLE) / CAST(t AS DOUBLE)")} AS rev_share,
       |       ${duckRound4("CAST(sum(rev) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED " +
                 "PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(t AS DOUBLE)")} AS cum_rev_share
       |FROM d ORDER BY decile""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_key_skew" -> (keySkew _),
    "q_join_size_est" -> (joinSizeEst _),
    "q_partition_balance" -> (partitionBalance _),
    "q_gini_revenue" -> (giniRevenue _),
    "q_hoover" -> (hooverIndex _),
    "q_lorenz" -> (lorenzCurve _))

  val oracle: Map[String, String] = Map(
    "q_key_skew" -> sqlKeySkew,
    "q_join_size_est" -> sqlJoinSizeEst,
    "q_partition_balance" -> sqlPartitionBalance,
    "q_gini_revenue" -> sqlGiniRevenue,
    "q_hoover" -> sqlHoover,
    "q_lorenz" -> sqlLorenz)
}
