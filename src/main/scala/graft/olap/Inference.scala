package graft.olap

import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckRound6, round4, round6}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Decision-layer inference operators over the star schema — the
  * calibration and probabilistic-linkage shapes that sit between the
  * statistical audits (`OlapStats`) and the ER candidate generators
  * (`OlapMore.blockingQuality` / `jaroWinklerQ`): split-conformal
  * prediction intervals (the distribution-free guarantee a serving
  * layer wraps around any per-group predictor) and Fellegi-Sunter
  * EM (the unsupervised match/non-match weight model every record-
  * linkage deployment fits before thresholding pairs).
  *
  * Cross-engine parity: every fact-scale aggregate follows the
  * CLAUDE.md exact-sum rule (round6 → DECIMAL, one edge division);
  * the EM recursion runs entirely at PATTERN grain (2³ rows), where
  * each per-pattern term is rounded to 6 decimals before the
  * order-free DECIMAL sum, so two EM iterations produce bit-identical
  * parameters in Spark and DuckDB.
  */
object Inference {

  // ---------- q_conformal: split-conformal calibration + coverage ----------

  /** Split-conformal prediction (Vovk et al. 2005; Lei et al. 2018)
    * for the per-event-type mean predictor: a deterministic
    * train/calibration/test split by `event_id % 5` (3/1/1), the
    * absolute-residual nonconformity score on the calibration split,
    * the finite-sample-corrected quantile q̂ = the
    * ⌈(n_cal+1)·(1−α)⌉-th smallest score (α = 0.1), and the empirical
    * coverage of ŷ ± q̂ on the held-out test split — the
    * distribution-free ≥ 90% guarantee, audited.
    *
    * Shape: the predictor is one 5-row broadcast (DECIMAL-exact train
    * means); scores are a map-side expression. The quantile is an
    * EXACT order statistic selected by a row_number window partitioned
    * by event_type over the CALIBRATION split only. Scale note:
    * conformal calibration sets are bounded by design — the guarantee
    * depends on n_cal, not corpus size, so a 100 TB deployment first
    * samples the calibration split to a fixed n per type
    * (`q_hash_sample`'s operator), keeping this window dim-bounded;
    * the train means and test coverage legs are plain hash aggregates
    * at any scale.
    */
  def conformal(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"),
        (col("event_id") % 5).as("sp"))
    val yhat = ev.filter(col("sp") <= 2)
      .groupBy("event_type")
      .agg((sum(round6(col("value")).cast("decimal(28,6)")).cast("double") /
        count(lit(1)).cast("double")).as("yhat"))
    val cal = ev.filter(col("sp") === 3)
      .join(broadcast(yhat), "event_type")
      .withColumn("s", abs(col("value") - col("yhat")))
    val kstar = cal.groupBy("event_type")
      .agg(count(lit(1)).as("n_cal"))
      .withColumn("kstar",
        least(ceil(lit(0.9) * (col("n_cal") + 1)).cast("long"), col("n_cal")))
    val rn = Window.partitionBy("event_type").orderBy(col("s"), col("event_id"))
    val qhat = cal
      .withColumn("rn", row_number().over(rn))
      .join(broadcast(kstar), "event_type")
      .filter(col("rn") === col("kstar"))
      .select(col("event_type"), col("n_cal"), col("s").as("qhat"))
    val test = ev.filter(col("sp") === 4)
      .join(broadcast(yhat), "event_type")
      .join(broadcast(qhat), "event_type")
    test.groupBy(col("event_type"), col("n_cal"), col("qhat"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("value") - col("yhat")) <= col("qhat"), 1L)
          .otherwise(0L)).as("covered"))
      .select(col("event_type"), col("n_cal"),
        round4(col("qhat")).as("qhat"),
        col("n_test"), col("covered"),
        round4(col("covered").cast("double") /
          col("n_test").cast("double")).as("coverage"))
      .orderBy("event_type")
  }

  private val sqlConformal = {
    s"""WITH ev AS (SELECT event_type, event_id, value, event_id % 5 AS sp
       |            FROM events WHERE value IS NOT NULL),
       |     yh AS (SELECT event_type,
       |                   CAST(sum(CAST(${duckRound6("value")} AS DECIMAL(28,6))) AS DOUBLE) /
       |                   CAST(count(*) AS DOUBLE) AS yhat
       |            FROM ev WHERE sp <= 2 GROUP BY event_type),
       |     cal AS (SELECT ev.event_type, ev.event_id,
       |                    abs(ev.value - yh.yhat) AS s
       |             FROM ev JOIN yh ON ev.event_type = yh.event_type
       |             WHERE ev.sp = 3),
       |     ks AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal,
       |                   least(CAST(ceil(0.9 * (count(*) + 1)) AS BIGINT),
       |                         CAST(count(*) AS BIGINT)) AS kstar
       |            FROM cal GROUP BY event_type),
       |     rn AS (SELECT event_type, s,
       |                   row_number() OVER (PARTITION BY event_type
       |                                      ORDER BY s, event_id) AS rn
       |            FROM cal),
       |     qh AS (SELECT rn.event_type, ks.n_cal, rn.s AS qhat
       |            FROM rn JOIN ks ON rn.event_type = ks.event_type
       |            WHERE rn.rn = ks.kstar),
       |     t AS (SELECT ev.event_type, qh.n_cal, qh.qhat,
       |                  CASE WHEN abs(ev.value - yh.yhat) <= qh.qhat
       |                       THEN 1 ELSE 0 END AS cov
       |           FROM ev JOIN yh ON ev.event_type = yh.event_type
       |                   JOIN qh ON ev.event_type = qh.event_type
       |           WHERE ev.sp = 4)
       |SELECT event_type, n_cal, ${duckRound4("qhat")} AS qhat,
       |       CAST(count(*) AS BIGINT) AS n_test,
       |       CAST(sum(cov) AS BIGINT) AS covered,
       |       ${duckRound4("CAST(sum(cov) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS coverage
       |FROM t GROUP BY event_type, n_cal, qhat
       |ORDER BY event_type""".stripMargin
  }

  // ---------- q_fellegi_sunter: EM for record-linkage m/u weights ----------

  private val FsPriceBucket = 100.0

  /** Fellegi-Sunter (1969) probabilistic record linkage, fit with the
    * classic pattern-grain EM (Winkler 1988): over the blocked part
    * pairs of `q_blocking_quality`'s (brand, last-name-token) scheme,
    * the comparison vector γ = (type agrees, size agrees, price-bucket
    * agrees) collapses to 2³ pattern COUNTS, and two EM iterations
    * from the textbook prior (π=0.5, m=0.9, u=0.1) estimate per-field
    * match/non-match agreement rates; the output is each pattern's
    * posterior match probability — the score a linkage deployment
    * thresholds instead of hand-tuning per-field weights.
    *
    * Shape: NO pair is ever materialized. For every attribute subset
    * S, the count of blocked pairs agreeing on at least S is
    * A_S = Σ C(m, 2) over (block, S-attrs) groups — the
    * `blockingQuality` arithmetic, one hash aggregate per subset
    * (2³ = 8 linear passes over part grain, unionable to one
    * grouping-sets pass). Exact-pattern counts follow by Möbius
    * inversion: cnt(exactly G) = Σ_{S ⊇ G} (−1)^{|S\G|} A_S, all
    * BIGINT-exact — so the pattern table costs 8 aggregates
    * regardless of block sizes, where the naive blocked self-join is
    * quadratic in the largest block (measured: 38 s at 10×, 572 s at
    * 30× before this decomposition; 8 aggregates after). The sf0.01
    * oracle still counts patterns by the brute-force pair join,
    * proving the inversion loses nothing. EM itself is arithmetic
    * over 8 rows, driver-paced with the pattern table
    * localCheckpointed once. Updates are Laplace-smoothed
    * ((0.5+num)/(1+den)) so parameters stay interior and every
    * posterior is well-defined. Parity: per-pattern terms are
    * round6→DECIMAL before the order-free sums; π, m, u are single
    * divisions of DECIMAL-cast doubles; the posterior is ranked
    * nowhere and rounded once at the edge. Scale note: at extreme SF
    * the round6 pack bound (cnt·w < 2^53/1e6) is guarded by the
    * pattern counts being BIGINT-exact — swap the term rounding to
    * DECIMAL multiplication if a deployment's block counts approach
    * 9e9 pairs per pattern.
    */
  def fellegiSunter(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir).select(
      col("p_partkey"), col("p_brand"),
      element_at(split(col("p_name"), " "), -1).as("blk"),
      col("p_type"), col("p_size"),
      floor(col("p_retailprice") / FsPriceBucket).cast("long").as("pb"))
    // A_S: pairs agreeing on AT LEAST subset S of (type, size, price),
    // via C(m,2) at (block ++ S) grain — one linear aggregate per S
    val attrs = Seq("p_type", "p_size", "pb")
    def aS(s: Seq[String]): DataFrame =
      p.groupBy(("p_brand" +: "blk" +: s).map(col): _*)
        .agg(count(lit(1)).as("m"))
        .agg(coalesce(sum(expr("(m * (m - 1)) div 2")), lit(0L)).as("a"))
    val subsets = (0 until 8).map(g => attrs.indices.filter(i => (g & (1 << i)) != 0))
    // one row (a0..a7), all eight subset aggregates broadcast-joined
    val aRow = subsets.zipWithIndex.map { case (s, i) =>
      aS(s.map(attrs)).select(col("a").as(s"a$i"))
    }.reduce((l, r) => l.crossJoin(broadcast(r)))
    // Möbius inversion to exactly-G pattern counts; subset bit i of g
    // corresponds to attrs(i) = (type, size, price)
    def exactCnt(g: Int): Column =
      (0 until 8).filter(s => (s & g) == g).map { s =>
        val sign = if (Integer.bitCount(s ^ g) % 2 == 0) 1L else -1L
        lit(sign) * col(s"a$s")
      }.reduce(_ + _)
    val pat = (0 until 8).map { g =>
      aRow.select(
        lit((g >> 0) & 1).as("g_type"), lit((g >> 1) & 1).as("g_size"),
        lit((g >> 2) & 1).as("g_price"), exactCnt(g).as("cnt"))
    }.reduce(_.unionByName(_))
      .filter(col("cnt") > 0)
      .localCheckpoint()

    def fk(g: String, m: String): Column =
      when(col(g) === 1, col(m)).otherwise(lit(1.0) - col(m))
    def weighted(params: DataFrame): DataFrame =
      pat.crossJoin(broadcast(params))
        .withColumn("pm", col("pi") *
          fk("g_type", "m1") * fk("g_size", "m2") * fk("g_price", "m3"))
        .withColumn("pu", (lit(1.0) - col("pi")) *
          fk("g_type", "u1") * fk("g_size", "u2") * fk("g_price", "u3"))
        .withColumn("w", col("pm") / (col("pm") + col("pu")))
    def emStep(params: DataFrame): DataFrame =
      weighted(params)
        .withColumn("tw", round6(col("cnt").cast("double") * col("w")).cast("decimal(28,6)"))
        .withColumn("tu", round6(col("cnt").cast("double") * (lit(1.0) - col("w"))).cast("decimal(28,6)"))
        .agg(sum(col("cnt")).as("c"),
          sum(col("tw")).as("sw"), sum(col("tu")).as("su"),
          sum(col("tw") * col("g_type")).as("mw1"),
          sum(col("tw") * col("g_size")).as("mw2"),
          sum(col("tw") * col("g_price")).as("mw3"),
          sum(col("tu") * col("g_type")).as("uw1"),
          sum(col("tu") * col("g_size")).as("uw2"),
          sum(col("tu") * col("g_price")).as("uw3"))
        .select(
          (col("sw").cast("double") / col("c").cast("double")).as("pi"),
          ((lit(0.5) + col("mw1").cast("double")) /
            (lit(1.0) + col("sw").cast("double"))).as("m1"),
          ((lit(0.5) + col("mw2").cast("double")) /
            (lit(1.0) + col("sw").cast("double"))).as("m2"),
          ((lit(0.5) + col("mw3").cast("double")) /
            (lit(1.0) + col("sw").cast("double"))).as("m3"),
          ((lit(0.5) + col("uw1").cast("double")) /
            (lit(1.0) + col("su").cast("double"))).as("u1"),
          ((lit(0.5) + col("uw2").cast("double")) /
            (lit(1.0) + col("su").cast("double"))).as("u2"),
          ((lit(0.5) + col("uw3").cast("double")) /
            (lit(1.0) + col("su").cast("double"))).as("u3"))

    val p0 = spark.range(1).select(
      lit(0.5).as("pi"),
      lit(0.9).as("m1"), lit(0.9).as("m2"), lit(0.9).as("m3"),
      lit(0.1).as("u1"), lit(0.1).as("u2"), lit(0.1).as("u3"))
    val p2 = emStep(emStep(p0))
    weighted(p2)
      .select(col("g_type"), col("g_size"), col("g_price"), col("cnt"),
        round4(col("w")).as("p_match"))
      .orderBy("g_type", "g_size", "g_price")
  }

  private val sqlFellegiSunter = {
    def fk(g: String, m: String): String =
      s"CASE WHEN $g = 1 THEN $m ELSE 1.0 - $m END"
    // one EM step reading params from CTE `src`; emits the next params
    def step(src: String): String =
      s"""SELECT CAST(sum(sw) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS pi,
         |  (0.5 + CAST(sum(mw1) AS DOUBLE)) / (1.0 + CAST(sum(sw) AS DOUBLE)) AS m1,
         |  (0.5 + CAST(sum(mw2) AS DOUBLE)) / (1.0 + CAST(sum(sw) AS DOUBLE)) AS m2,
         |  (0.5 + CAST(sum(mw3) AS DOUBLE)) / (1.0 + CAST(sum(sw) AS DOUBLE)) AS m3,
         |  (0.5 + CAST(sum(uw1) AS DOUBLE)) / (1.0 + CAST(sum(su) AS DOUBLE)) AS u1,
         |  (0.5 + CAST(sum(uw2) AS DOUBLE)) / (1.0 + CAST(sum(su) AS DOUBLE)) AS u2,
         |  (0.5 + CAST(sum(uw3) AS DOUBLE)) / (1.0 + CAST(sum(su) AS DOUBLE)) AS u3
         |FROM (SELECT cnt AS c, tw AS sw, tu AS su,
         |             tw * g_type AS mw1, tw * g_size AS mw2, tw * g_price AS mw3,
         |             tu * g_type AS uw1, tu * g_size AS uw2, tu * g_price AS uw3
         |      FROM (SELECT pat.*,
         |              CAST(${duckRound6("CAST(cnt AS DOUBLE) * w")} AS DECIMAL(28,6)) AS tw,
         |              CAST(${duckRound6("CAST(cnt AS DOUBLE) * (1.0 - w)")} AS DECIMAL(28,6)) AS tu
         |            FROM (SELECT pat.*, pm / (pm + pu) AS w
         |                  FROM (SELECT pat.*,
         |                          pi * ${fk("g_type", "m1")} * ${fk("g_size", "m2")} * ${fk("g_price", "m3")} AS pm,
         |                          (1.0 - pi) * ${fk("g_type", "u1")} * ${fk("g_size", "u2")} * ${fk("g_price", "u3")} AS pu
         |                        FROM pat CROSS JOIN $src) pat) pat) pat) t""".stripMargin
    s"""WITH p AS (SELECT p_partkey, p_brand, string_split(p_name, ' ')[-1] AS blk,
       |                  p_type, p_size,
       |                  CAST(floor(p_retailprice / $FsPriceBucket) AS BIGINT) AS pb
       |           FROM part),
       |     pat AS (SELECT CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS g_type,
       |                    CASE WHEN a.p_size = b.p_size THEN 1 ELSE 0 END AS g_size,
       |                    CASE WHEN a.pb = b.pb THEN 1 ELSE 0 END AS g_price,
       |                    CAST(count(*) AS BIGINT) AS cnt
       |             FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.blk = b.blk
       |                              AND a.p_partkey < b.p_partkey
       |             GROUP BY 1, 2, 3),
       |     p0 AS (SELECT 0.5 AS pi, 0.9 AS m1, 0.9 AS m2, 0.9 AS m3,
       |                   0.1 AS u1, 0.1 AS u2, 0.1 AS u3),
       |     p1 AS (${step("p0")}),
       |     p2 AS (${step("p1")})
       |SELECT g_type, g_size, g_price, cnt,
       |       ${duckRound4("pm / (pm + pu)")} AS p_match
       |FROM (SELECT pat.*,
       |        pi * ${fk("g_type", "m1")} * ${fk("g_size", "m2")} * ${fk("g_price", "m3")} AS pm,
       |        (1.0 - pi) * ${fk("g_type", "u1")} * ${fk("g_size", "u2")} * ${fk("g_price", "u3")} AS pu
       |      FROM pat CROSS JOIN p2) x
       |ORDER BY g_type, g_size, g_price""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_conformal" -> (conformal _),
    "q_fellegi_sunter" -> (fellegiSunter _))

  val oracle: Map[String, String] = Map(
    "q_conformal" -> sqlConformal,
    "q_fellegi_sunter" -> sqlFellegiSunter)
}
