package graft.vector

import graft.functions.TextHashUtil
import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckRound6, duckUnits, round4, round6, units}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Johnson-Lindenstrauss random projection with a distance-distortion
  * audit (round 8; no counterpart in the reference — the ANN serving
  * path's dimensionality-reduction front end). A ±1 (Rademacher)
  * projection matrix derived from the shared [[TextHashUtil]] hash
  * constants maps 64-d embeddings to [[ProjK]]-d; the JL lemma says
  * pairwise distances survive within 1±ε, and the audit MEASURES that
  * on a deterministic pair sample — the go/no-go check before
  * swapping a projected index in for the full-width one
  * ([[RunIndex]]'s layouts would then store [[ProjK]]-d codes).
  *
  * Cross-engine float parity (CLAUDE.md rules): the projection and
  * both distances are LEFT-ASSOCIATED nested sums generated from the
  * same Scala constants on both sides (identical evaluation order ⇒
  * identical bits), sqrt is the only transcendental (correctly
  * rounded; √16 is written as the exact literal 4.0), the mean
  * distortion is a DECIMAL sum of round6'd ratios divided once at
  * the output edge, and min/max commute with the final round4.
  */
object Projection {

  private val Dim = 64
  private val ProjK = 16
  private val PairOffset = 25L

  /** Rademacher sign s(j,i) ∈ {-1,+1} from the [[TextHashUtil.aj]]/
    * [[TextHashUtil.bj]] permutation parity — deterministic, engine-
    * independent, and inlined as literals into BOTH plans (the
    * projection matrix never materializes anywhere).
    */
  private def sign(j: Int, i: Int): Double =
    if ((TextHashUtil.aj(j) * i + TextHashUtil.bj(j)) % TextHashUtil.P % 2 == 1L) 1.0
    else -1.0

  private def duckProj(v: String, j: Int): String =
    (1 to Dim).foldLeft("CAST(0.0 AS DOUBLE)") { (acc, i) =>
      s"($acc + $v[$i] * ${sign(j, i)})"
    }

  /** JL distortion audit: project every embedding to [[ProjK]]-d with
    * the hash-sign matrix, pair each vector with the one
    * [[PairOffset]] ids above it (a fixed derangement — a
    * deterministic O(N) pair sample with no sampling partitioner, so
    * both engines audit the identical pair set), and compare
    * projected to original Euclidean distance. `ratio` =
    * d_proj / (√ProjK · d_orig) — 1 ± ε under JL; the output is the
    * audit summary: how many pairs landed within ±25%, and the
    * mean/min/max distortion.
    *
    * Shape: the projection is a per-row map (zero shuffle — the map
    * stage a projected ANN index build prepends); the pair-up is an
    * equi-join on the shifted integer id (AQE-planned, broadcastable
    * when one side is a sample); the audit output is one aggregate
    * row. Work is linear in vectors at any SF; the 16×64 multiply-add
    * projection and both distances run as NATIVE codegen'd kernels
    * ([[graft.functions.VectorNative.rademacher]]/[[graft.functions.
    * VectorNative.sqDist]] — index-order left folds, IEEE-identical
    * to the oracle's left-associated literal sums; the first draft's
    * 1024-term closed-form column trees cost ~1.4 s of per-run plan
    * processing at sf0.1, the native form ~0.3 s).
    */
  def randProj(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorNative
    val proj = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("v"))
      .withColumn("p", VectorNative.rademacher(col("v"), ProjK))
    val a = proj.select(col("vec_id").as("ida"), col("v").as("va"), col("p").as("pa"))
    val b = proj.select(col("vec_id").as("idb"), col("v").as("vb"), col("p").as("pb"))
    a.join(b, col("idb") === col("ida") + PairOffset)
      .withColumn("ratio",
        sqrt(VectorNative.sqDist(col("pa"), col("pb")))
          / (lit(4.0) * sqrt(VectorNative.sqDist(col("va"), col("vb")))))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("ratio").between(0.75, 1.25), 1L).otherwise(0L)).as("n_within_25pct"),
        sum(round6(col("ratio")).cast("decimal(18,6)")).as("ratio_dec"),
        min(col("ratio")).as("min_r"),
        max(col("ratio")).as("max_r"))
      .select(
        col("n_pairs"),
        col("n_within_25pct"),
        round4(
          col("ratio_dec").cast("double") / col("n_pairs").cast("double")).as("avg_ratio"),
        round4(col("min_r")).as("min_ratio"),
        round4(col("max_r")).as("max_ratio"))
  }

  private val sqlRandProj = {
    val projA = (0 until ProjK).map(j => s"${duckProj("v", j)} AS p$j").mkString(", ")
    val dOrig2 = (1 to Dim).foldLeft("CAST(0.0 AS DOUBLE)") { (acc, i) =>
      s"($acc + (a.v[$i] - b.v[$i]) * (a.v[$i] - b.v[$i]))"
    }
    val dProj2 = (0 until ProjK).foldLeft("CAST(0.0 AS DOUBLE)") { (acc, j) =>
      s"($acc + (a.p$j - b.p$j) * (a.p$j - b.p$j))"
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     p AS (SELECT vec_id, v, $projA FROM e),
       |     r AS (SELECT sqrt($dProj2) / (4.0 * sqrt($dOrig2)) AS ratio
       |           FROM p a JOIN p b ON b.vec_id = a.vec_id + $PairOffset)
       |SELECT count(*) AS n_pairs,
       |       CAST(sum(CASE WHEN ratio BETWEEN 0.75 AND 1.25 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_within_25pct,
       |       ${duckRound4(
                  s"CAST(sum(CAST(${duckRound6("ratio")} AS DECIMAL(18,6))) AS DOUBLE)" +
                    " / CAST(count(*) AS DOUBLE)")} AS avg_ratio,
       |       ${duckRound4("min(ratio)")} AS min_ratio,
       |       ${duckRound4("max(ratio)")} AS max_ratio
       |FROM r""".stripMargin
  }

  // ---------- q_centroid_drift: per-label centroid vs global centroid ----------

  /** DuckDB left-fold dot product (the VectorQueries fragment,
    * re-stated for this pack's oracle).
    */
  private def duckDot(a: String, b: String): String =
    s"list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len($a) + 1), " +
      s"i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)]), (acc, v) -> acc + v)"

  /** Embedding-space drift audit: cosine between each label's mean
    * vector and the global mean vector. A label (or, in a curation
    * deployment, an ingest source/snapshot epoch) whose centroid
    * drifts from the corpus centroid signals distribution shift —
    * the embedding-space twin of [[graft.text.DocOps.sourceSkew]]'s
    * categorical χ², and the go/no-go check before mixing a new batch
    * into an ANN index whose IVF cells were trained on the old
    * distribution ([[VectorQueries.kmeansRefine]]'s codebook).
    *
    * Parity — mean vectors are ORDER-DEPENDENT float sums, so the
    * centroids here are decimal-exact: per (label, dim), sum
    * round6(x) CAST AS DECIMAL (order-independent, the CLAUDE.md
    * exact-sum rule), divide once to double (identical bits), then
    * cosine as index-order left folds (native [[graft.functions.
    * VecUtil.dot]] ≡ the oracle's list_reduce) with √a·√b staging and
    * one round4 at the edge. Dim order comes from
    * sort_array(collect_list(struct(dim, c))) ≡ list_sort — total
    * because dims are distinct within a group.
    *
    * Shape: one posexplode to (label, dim) grain — vecs × 64 rows,
    * linear, map-side combinable — two hash aggregates, a broadcast
    * 1-row global centroid, and a label-cardinality output. The same
    * two-aggregate shape computes per-SOURCE drift at 100 TB with
    * source as the key.
    */
  def centroidDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorNative
    val dims = Tables.embeddings(spark, sfDir)
      .select(col("label"), posexplode(VectorFns.toDouble(col("embedding"))).as(Seq("dim", "x")))
    def centroidOf(grouped: DataFrame, keys: Seq[String]): DataFrame =
      grouped
        .groupBy((keys :+ "dim").map(col): _*)
        .agg(sum(round6(col("x")).cast("decimal(28,6)")).as("sx"),
          count(lit(1)).as("n"))
        .withColumn("c", col("sx").cast("double") / col("n").cast("double"))
        .groupBy(keys.map(col): _*)
        .agg(max(col("n")).as("n_vecs"),
          transform(sort_array(collect_list(struct(col("dim"), col("c")))),
            s => s.getField("c")).as("cv"))
    val byLabel = centroidOf(dims, Seq("label"))
    val global = centroidOf(dims.withColumn("g", lit(1)), Seq("g"))
      .select(col("cv").as("gv"))
    byLabel.crossJoin(broadcast(global))
      .withColumn("cos",
        VectorNative.dot(col("cv"), col("gv"))
          / (sqrt(VectorNative.dot(col("cv"), col("cv")))
            * sqrt(VectorNative.dot(col("gv"), col("gv")))))
      .select(col("label"), col("n_vecs"),
        round4(col("cos")).as("drift_cos"))
      .orderBy("label")
  }

  private val sqlCentroidDrift = {
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     x AS (SELECT label, CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |           FROM e CROSS JOIN range(1, ${Dim + 1}) t(i)),
       |     lc AS (SELECT label, dim,
       |              CAST(sum(CAST(${duckRound6("x")} AS DECIMAL(28,6))) AS DOUBLE)
       |                / count(*) AS c,
       |              count(*) AS n
       |            FROM x GROUP BY 1, 2),
       |     la AS (SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
       |              list_transform(list_sort(list({'dim': dim, 'c': c})), p -> p.c) AS cv
       |            FROM lc GROUP BY label),
       |     gc AS (SELECT dim,
       |              CAST(sum(CAST(${duckRound6("x")} AS DECIMAL(28,6))) AS DOUBLE)
       |                / count(*) AS c
       |            FROM x GROUP BY 1),
       |     ga AS (SELECT list_transform(list_sort(list({'dim': dim, 'c': c})), p -> p.c) AS gv
       |            FROM gc)
       |SELECT label, n_vecs,
       |       ${duckRound4(
                  s"${duckDot("cv", "gv")} / (sqrt(${duckDot("cv", "cv")})" +
                    s" * sqrt(${duckDot("gv", "gv")}))")} AS drift_cos
       |FROM la CROSS JOIN ga ORDER BY label""".stripMargin
  }

  // ---------- q_dim_stats: per-dimension moments (whitening audit) ----------

  /** Per-dimension mean/variance/min/max over the embedding corpus —
    * the statistics a whitening or scalar-quantization step trains on
    * ([[VectorQueries.sqError]]'s per-dim min/max generalized to full
    * moments), and the drift table an embedding-pipeline monitor
    * diffs between snapshots (a dimension whose variance collapses
    * signals an encoder regression).
    *
    * Parity: mean and variance are order-dependent float reductions,
    * so both moments aggregate round6(x) (and its EXACT decimal
    * square — DECIMAL×DECIMAL, never a double product recast) as
    * DECIMAL sums, converted to double once at the output edge;
    * variance = E[x²] − mean² evaluates the identical IEEE expression
    * on both engines. min/max commute with the edge round4.
    *
    * Shape: one posexplode to (dim, x) grain — vecs × 64 rows, linear,
    * map-side combinable — and one hash aggregate to a 64-row output.
    * At 100 TB identical; the explode never shuffles more than the
    * input width multiplier.
    */
  def dimStats(spark: SparkSession, sfDir: String): DataFrame = {
    val x6 = round6(col("x")).cast("decimal(18,6)")
    Tables.embeddings(spark, sfDir)
      .select(posexplode(VectorFns.toDouble(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(x6).as("sx"),
        sum((x6 * x6).cast("decimal(38,12)")).as("sxx"),
        min(col("x")).as("mn"), max(col("x")).as("mx"))
      .withColumn("mean", col("sx").cast("double") / col("n_vecs").cast("double"))
      .select(col("dim"), col("n_vecs"),
        round4(col("mean")).as("mean"),
        round4(
          col("sxx").cast("double") / col("n_vecs").cast("double")
            - col("mean") * col("mean")).as("variance"),
        round4(col("mn")).as("min_x"),
        round4(col("mx")).as("max_x"))
      .orderBy("dim")
  }

  private val sqlDimStats = {
    val x6 = s"CAST(${duckRound6("x")} AS DECIMAL(18,6))"
    s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     x AS (SELECT CAST(i - 1 AS BIGINT) AS dim, v[CAST(i AS INT)] AS x
       |           FROM e CROSS JOIN range(1, ${Dim + 1}) t(i)),
       |     a AS (SELECT dim, count(*) AS n_vecs,
       |                  sum($x6) AS sx,
       |                  sum(CAST($x6 * $x6 AS DECIMAL(38,12))) AS sxx,
       |                  min(x) AS mn, max(x) AS mx
       |           FROM x GROUP BY 1),
       |     m AS (SELECT dim, n_vecs, mn, mx, sxx,
       |                  CAST(sx AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS mean
       |           FROM a)
       |SELECT dim, CAST(n_vecs AS BIGINT) AS n_vecs,
       |       ${duckRound4("mean")} AS mean,
       |       ${duckRound4(
                  "CAST(sxx AS DOUBLE) / CAST(n_vecs AS DOUBLE) - mean * mean")} AS variance,
       |       ${duckRound4("mn")} AS min_x,
       |       ${duckRound4("mx")} AS max_x
       |FROM m ORDER BY dim""".stripMargin
  }

  // ---------- q_dim_corr: top cross-dimension correlations ----------

  private val DimCorrTopK = 10

  /** Top-[[DimCorrTopK]] most-correlated embedding dimension PAIRS
    * (|Pearson r|) — the cross-dimension companion to [[dimStats]]'
    * marginal moments: strongly correlated dimensions are redundant
    * capacity, the signal that picks PCA/whitening before product
    * quantization (PQ subspaces assume near-independent dims) and
    * explains a flat [[randProj]] distortion spectrum.
    *
    * Shape — zero joins, zero fact shuffles: the upper-triangle pair
    * fan-out is a double `explode_outer` over literal `sequence`
    * ranges (d²/2 = 2016 rows per vector, element_at on the staged
    * array; indices are constructed in-range), then ONE hash
    * aggregate at (dim_a, dim_b) grain — the only shuffle is the
    * 2016-group partials, map-side combined. Work is N·d²/2, linear
    * in N with d fixed. Parity: the per-cell sums are round6-DECIMAL
    * exact (order-independent); the Pearson combination converts each
    * exact sum to double ONCE and evaluates the identical tree with
    * sqrt(a)·sqrt(b) (never sqrt(ab)); ranking is on the ROUNDED
    * |r| with (dim_a, dim_b) tie-break.
    */
  def dimCorr(spark: SparkSession, sfDir: String): DataFrame = {
    // Integer micro-unit kernel (round-9 rewrite; same oracle, same
    // bits): r6(x) ≡ m6(x)/10⁶ with m6 = floor(x·10⁶ + 0.5) a LONG, so
    // every decimal the old shape summed is a scaled integer sum —
    // Σ m6 (µ-units) and Σ m6·m6' (µ²-units) — that whole-stage
    // codegen folds as plain long adds. Two structural wins on top:
    // (1) element_at reads the RAW parquet float array (the old
    //     transform-built `v` re-evaluated its HOF per element access
    //     under the double explode — the documented inlining hazard);
    // (2) the marginal sums (sa, saa) depend on ONE dim, so they come
    //     from a d-group aggregate over N·d rows and broadcast to the
    //     cells — only the genuinely pairwise Σ m6·m6' rides the
    //     N·d²/2 fan-out, one long column instead of five decimals.
    // Conversion back at cell grain: long < 2⁵³ ⇒ long→double exact,
    // and /10⁶ (or /10¹²) is one correctly-rounded IEEE op — the same
    // double the DECIMAL→double edge produced (both are the correctly
    // rounded image of the identical rational). Headroom note: µ²-unit
    // sums reach 2⁵³ around 9e15 ⇒ ~10¹⁰ unit-scale vectors per
    // cell; past that, widen to DECIMAL in the same shape.
    val x6 = units(col("x").cast("double"), 1e6).cast("long")
    val base = Tables.embeddings(spark, sfDir).select(col("embedding"))
    val marg = base
      .select(posexplode_outer(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("d").cast("long").as("d"))
      .agg(count(lit(1)).as("n"), sum(x6).as("s6"), sum(x6 * x6).as("ss6"))
    val cross = base
      .withColumn("da", explode_outer(sequence(lit(0), lit(Dim - 2))))
      .withColumn("db", explode_outer(sequence(col("da") + 1, lit(Dim - 1))))
      .select(col("da"), col("db"),
        (units(element_at(col("embedding"), col("da") + 1).cast("double"), 1e6).cast("long")
          * units(element_at(col("embedding"), col("db") + 1).cast("double"), 1e6).cast("long"))
          .as("ab6"))
      .groupBy(col("da").cast("long").as("dim_a"),
        col("db").cast("long").as("dim_b"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("ab6")).as("sab6"))
    val cells = cross
      .join(broadcast(marg.select(col("d").as("dim_a"), col("s6").as("sa6"),
        col("ss6").as("saa6"))), "dim_a")
      .join(broadcast(marg.select(col("d").as("dim_b"), col("s6").as("sb6"),
        col("ss6").as("sbb6"))), "dim_b")
      .select(col("dim_a"), col("dim_b"), col("n_vecs"),
        (col("sa6").cast("double") / 1000000.0).as("saD"),
        (col("sb6").cast("double") / 1000000.0).as("sbD"),
        (col("saa6").cast("double") / 1.0e12).as("saaD"),
        (col("sbb6").cast("double") / 1.0e12).as("sbbD"),
        (col("sab6").cast("double") / 1.0e12).as("sabD"))
    val nd = col("n_vecs").cast("double")
    val scored = cells
      .withColumn("num", nd * col("sabD") - col("saD") * col("sbD"))
      .withColumn("dena", nd * col("saaD") - col("saD") * col("saD"))
      .withColumn("denb", nd * col("sbbD") - col("sbD") * col("sbD"))
      .withColumn("corr", when(col("dena") === 0.0 || col("denb") === 0.0, lit(null))
        .otherwise(col("num") / (sqrt(col("dena")) * sqrt(col("denb")))))
      .withColumn("acorr", round4(abs(col("corr"))))
    scored
      .select(col("dim_a"), col("dim_b"), col("n_vecs"),
        round4(col("corr")).as("corr"), col("acorr"))
      .orderBy(col("acorr").desc, col("dim_a"), col("dim_b"))
      .limit(DimCorrTopK)
      .select("dim_a", "dim_b", "n_vecs", "corr")
  }

  private val sqlDimCorr = {
    val a6 = s"CAST(${duckRound6("xa")} AS DECIMAL(18,6))"
    val b6 = s"CAST(${duckRound6("xb")} AS DECIMAL(18,6))"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     p AS (SELECT CAST(i - 1 AS BIGINT) AS dim_a, CAST(j - 1 AS BIGINT) AS dim_b,
       |                  v[CAST(i AS INT)] AS xa, v[CAST(j AS INT)] AS xb
       |           FROM e CROSS JOIN range(1, ${Dim + 1}) t(i)
       |                  CROSS JOIN range(1, ${Dim + 1}) u(j)
       |           WHERE i < j),
       |     c AS (SELECT dim_a, dim_b, CAST(count(*) AS BIGINT) AS n_vecs,
       |                  sum($a6) AS sa, sum($b6) AS sb,
       |                  sum(CAST($a6 * $a6 AS DECIMAL(38,12))) AS saa,
       |                  sum(CAST($b6 * $b6 AS DECIMAL(38,12))) AS sbb,
       |                  sum(CAST($a6 * $b6 AS DECIMAL(38,12))) AS sab
       |           FROM p GROUP BY 1, 2),
       |     z AS (SELECT dim_a, dim_b, n_vecs,
       |             CAST(n_vecs AS DOUBLE) * CAST(sab AS DOUBLE)
       |               - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) AS num,
       |             CAST(n_vecs AS DOUBLE) * CAST(saa AS DOUBLE)
       |               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) AS dena,
       |             CAST(n_vecs AS DOUBLE) * CAST(sbb AS DOUBLE)
       |               - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) AS denb
       |           FROM c),
       |     s AS (SELECT dim_a, dim_b, n_vecs,
       |             CASE WHEN dena = 0.0 OR denb = 0.0 THEN NULL
       |                  ELSE num / (sqrt(dena) * sqrt(denb)) END AS corr0
       |           FROM z)
       |SELECT dim_a, dim_b, n_vecs, ${duckRound4("corr0")} AS corr
       |FROM s
       |ORDER BY ${duckRound4("abs(corr0)")} DESC, dim_a, dim_b
       |LIMIT $DimCorrTopK""".stripMargin
  }

  // ---------- q_isotropy: mean pairwise cosine without pairs ----------

  /** Embedding-space isotropy audit: the mean pairwise cosine
    * similarity among each label's (normalized) vectors — the
    * anisotropy statistic of Ethayarajh (2019): a healthy embedding
    * space has mean cosine near 0; a collapsed ("cone") space where
    * all vectors point the same way scores near 1, and ANN recall,
    * SemDeDup thresholds, and cosine top-k all degrade there.
    *
    * The scale story IS the query: mean_{i≠j} uᵢ·uⱼ =
    * (‖Σu‖² − Σ‖u‖²) / (n(n−1)) — a closed form over ONE aggregation
    * pass, O(n·d), where the naive pairwise definition is O(n²·d).
    * At 100 TB the (label, dim) partial aggregation map-side-combines
    * to label×d grain; nothing pairwise ever materializes.
    *
    * Parity: normalization (÷ left-fold ‖v‖, sqrt correctly rounded)
    * is row-local; the cross-row sums are round6-DECIMAL exact per
    * the order-independent-float-sum rule; ‖S‖² is a left-fold dot
    * over the dim-sorted sum vector (identical order both engines);
    * both identity terms use the SAME rounded uᵈ so the algebra
    * holds bit-for-bit.
    */
  def isotropy(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorNative
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("v", VectorFns.toDouble(col("embedding")))
      .withColumn("nrm", sqrt(VectorNative.dot(col("v"), col("v"))))
    val dims = e
      .select(col("label"), col("nrm"), posexplode_outer(col("v")).as(Seq("dim", "x")))
      .withColumn("u", col("x") / col("nrm"))
    val u6 = round6(col("u")).cast("decimal(18,6)")
    val grouped = dims
      .groupBy("label", "dim")
      .agg(sum(u6).as("s"),
        sum((u6 * u6).cast("decimal(38,12)")).as("q"),
        count(lit(1)).as("n"))
    grouped
      .groupBy("label")
      .agg(max(col("n")).as("n_vecs"),
        sum(col("q")).as("sq"),
        transform(sort_array(collect_list(struct(col("dim"),
          col("s").cast("double").as("s")))), p => p.getField("s")).as("sv"))
      .withColumn("mean_cos", round4(
        (VectorNative.dot(col("sv"), col("sv")) - col("sq").cast("double"))
          / (col("n_vecs").cast("double") * (col("n_vecs") - 1).cast("double"))))
      .select(col("label"), col("n_vecs"), col("mean_cos"))
      .orderBy("label")
  }

  private val sqlIsotropy = {
    val u6 = s"CAST(${duckRound6("u")} AS DECIMAL(18,6))"
    s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     e AS (SELECT vec_id, label, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e0),
       |     x AS (SELECT label, CAST(i - 1 AS INT) AS dim,
       |                  v[CAST(i AS INT)] / nrm AS u
       |           FROM e CROSS JOIN range(1, ${Dim + 1}) t(i)),
       |     g AS (SELECT label, dim, sum($u6) AS s,
       |                  sum(CAST($u6 * $u6 AS DECIMAL(38,12))) AS q,
       |                  count(*) AS n
       |           FROM x GROUP BY 1, 2),
       |     l AS (SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
       |                  CAST(sum(q) AS DOUBLE) AS sq,
       |                  list_transform(list_sort(list({'dim': dim, 's': CAST(s AS DOUBLE)})),
       |                    p -> p.s) AS sv
       |           FROM g GROUP BY label)
       |SELECT label, n_vecs,
       |       ${duckRound4(
                 s"(${duckDot("sv", "sv")} - sq) / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs - 1 AS DOUBLE))")} AS mean_cos
       |FROM l ORDER BY label""".stripMargin
  }

  // ---------- q_centroid_outliers: distance-to-centroid screen ----------

  /** Mislabeled-sample screen: per label, count vectors whose squared
    * distance to the label centroid exceeds mean + 2σ — the
    * embedding-space outlier audit a curation pass runs before
    * trusting labels for hard-negative mining or stratified splits
    * (the same screen SemDeDup-style pipelines use to quarantine
    * off-cluster points).
    *
    * Shape: three linear passes — (1) decimal-exact centroids at
    * (label, dim) grain ([[centroidDrift]]'s parity recipe), (2)
    * per-row native sqDist against the broadcast centroid + a
    * label-grain round6-DECIMAL moment aggregate, (3) the flag pass
    * re-joins the 10-row stats broadcast. No pairwise work anywhere.
    * The threshold compare runs on ROUNDED distances (round-before-
    * compare rule: mean+2σ crosses a decimal→double edge).
    */
  def centroidOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorNative
    val dims = Tables.embeddings(spark, sfDir)
      .select(col("label"), posexplode_outer(VectorFns.toDouble(col("embedding")))
        .as(Seq("dim", "x")))
    val cents = dims
      .groupBy("label", "dim")
      .agg(sum(round6(col("x")).cast("decimal(28,6)")).as("sx"), count(lit(1)).as("n"))
      .withColumn("c", col("sx").cast("double") / col("n").cast("double"))
      .groupBy("label")
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("cv"))
    val dists = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        VectorFns.toDouble(col("embedding")).as("v"))
      .join(broadcast(cents), "label")
      .withColumn("d2", VectorNative.sqDist(col("v"), col("cv")))
    val d2dec = round6(col("d2")).cast("decimal(28,6)")
    val stats = dists.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(d2dec).as("sd"),
        sum((d2dec * d2dec).cast("decimal(38,12)")).as("sdd"))
      .withColumn("mean_d2", col("sd").cast("double") / col("n_vecs").cast("double"))
      .withColumn("sigma", sqrt(col("sdd").cast("double") / col("n_vecs").cast("double")
        - col("mean_d2") * col("mean_d2")))
    dists.join(broadcast(stats.select(col("label"), col("n_vecs"),
        col("mean_d2"), col("sigma"))), "label")
      .groupBy("label")
      .agg(max(col("n_vecs")).as("n_vecs"),
        round4(max(col("mean_d2"))).as("mean_d2"),
        count(when(round6(col("d2")) >
          round6(col("mean_d2") + lit(2.0) * col("sigma")), lit(1))).as("n_outliers"))
      .orderBy("label")
  }

  private val sqlCentroidOutliers = {
    val d2dec = s"CAST(${duckRound6("d2")} AS DECIMAL(28,6))"
    val sqd = "list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len(v) + 1), " +
      "i -> (v[CAST(i AS INT)] - cv[CAST(i AS INT)]) * (v[CAST(i AS INT)] - cv[CAST(i AS INT)])), (acc, y) -> acc + y)"
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     x AS (SELECT label, CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |           FROM e CROSS JOIN range(1, ${Dim + 1}) t(i)),
       |     lc AS (SELECT label, dim,
       |              CAST(sum(CAST(${duckRound6("x")} AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS c
       |            FROM x GROUP BY 1, 2),
       |     ce AS (SELECT label,
       |              list_transform(list_sort(list({'dim': dim, 'c': c})), p -> p.c) AS cv
       |            FROM lc GROUP BY label),
       |     d AS (SELECT e.vec_id, e.label, $sqd AS d2
       |           FROM e JOIN ce ON e.label = ce.label),
       |     st AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |                   CAST(sum($d2dec) AS DOUBLE) / count(*) AS mean_d2,
       |                   sqrt(CAST(sum(CAST($d2dec * $d2dec AS DECIMAL(38,12))) AS DOUBLE) / count(*)
       |                     - (CAST(sum($d2dec) AS DOUBLE) / count(*))
       |                       * (CAST(sum($d2dec) AS DOUBLE) / count(*))) AS sigma
       |            FROM d GROUP BY label)
       |SELECT d.label AS label, max(n_vecs) AS n_vecs,
       |       ${duckRound4("max(mean_d2)")} AS mean_d2,
       |       CAST(count(CASE WHEN ${duckRound6("d2")} > ${duckRound6("mean_d2 + 2.0 * sigma")} THEN 1 END) AS BIGINT) AS n_outliers
       |FROM d JOIN st ON d.label = st.label
       |GROUP BY d.label ORDER BY d.label""".stripMargin
  }

  // ---------- q_pca_power: leading principal component ----------

  private val PcaIters = 3

  /** Leading principal component of the embedding covariance by
    * power iteration — the PCA/whitening front end the [[dimCorr]]
    * redundancy audit motivates (a dominant component with broad
    * loadings = rotate before PQ subspacing; also the classic
    * all-but-the-top embedding post-process of Mu & Viswanath 2018).
    *
    * Division of labor at 100 TB: the DISTRIBUTED work is the exact
    * second-moment matrix — the [[dimCorr]] integer micro-unit
    * kernel (marginals at d grain, Σm6·m6′ at d²/2 grain, all long
    * sums) — and the DRIVER work is [[PcaIters]] power iterations on
    * the collected d×d matrix (4096 doubles — the bounded-collect
    * class of PrefixScan's partials). That split is how production
    * PCA at scale actually runs (covariance distributed, eigensolve
    * local).
    *
    * Parity: covariance cells are one fixed-shape double expression
    * over exact integer sums (int64→double is correctly rounded on
    * both engines); every fold in the iteration — matrix·vector per
    * row, the norm — is an ASCENDING-index left fold, mirrored by the
    * oracle's list_reduce over ordered lists; sqrt is the one
    * transcendental; the sign is pinned by the deterministic all-⅛
    * start vector; outputs round once at the edge.
    */
  def pcaPower(spark: SparkSession, sfDir: String): DataFrame = {
    val x6 = units(col("x").cast("double"), 1e6).cast("long")
    val base = Tables.embeddings(spark, sfDir).select(col("embedding"))
    val marg = base
      .select(posexplode_outer(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n"), sum(x6).as("s6"), sum(x6 * x6).as("ss6"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val dimN = marg.length
    val n = marg.head._2
    val s = marg.map(_._3)
    val cross = base
      .withColumn("da", explode_outer(sequence(lit(0), lit(Dim - 2))))
      .withColumn("db", explode_outer(sequence(col("da") + 1, lit(Dim - 1))))
      .select(col("da"), col("db"),
        (units(element_at(col("embedding"), col("da") + 1).cast("double"), 1e6).cast("long")
          * units(element_at(col("embedding"), col("db") + 1).cast("double"), 1e6).cast("long"))
          .as("ab6"))
      .groupBy("da", "db").agg(sum(col("ab6")).as("p6"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    def p(i: Int, j: Int): Long =
      if (i == j) marg(i)._4 else cross((math.min(i, j), math.max(i, j)))
    val nD = n.toDouble
    // identical expression tree to the oracle's cmat CTE
    val cm = Array.tabulate(dimN, dimN) { (i, j) =>
      (nD * p(i, j).toDouble - s(i).toDouble * s(j).toDouble) /
        ((nD * nD) * 1.0e12)
    }
    var v = Array.fill(dimN)(0.125)
    var lambda = 0.0
    (1 to PcaIters).foreach { _ =>
      val w = Array.tabulate(dimN) { i =>
        var acc = 0.0
        var j = 0
        while (j < dimN) { acc = acc + cm(i)(j) * v(j); j += 1 }
        acc
      }
      var nrm2 = 0.0
      var i = 0
      while (i < dimN) { nrm2 = nrm2 + w(i) * w(i); i += 1 }
      lambda = math.sqrt(nrm2)
      v = w.map(_ / lambda)
    }
    import spark.implicits._
    v.zipWithIndex.map { case (l, i) => (i.toLong, l, lambda) }
      .toSeq.toDF("dim", "loading", "eigenvalue")
      .select(col("dim"), round4(col("loading")).as("loading"),
        round4(col("eigenvalue")).as("eigenvalue"))
      .orderBy("dim")
  }

  private val sqlPcaPower = {
    // one unrolled power iteration: (cl rows, v list) -> (w list, λ)
    def iter(k: Int, vPrev: String): String =
      s"""w$k AS (SELECT i, list_reduce([CAST(0.0 AS DOUBLE)] ||
         |          list_transform(range(1, ${Dim + 1}),
         |            j -> cl[CAST(j AS INT)] * v[CAST(j AS INT)]),
         |          (acc, y) -> acc + y) AS wi
         |        FROM crow CROSS JOIN $vPrev),
         |     wl$k AS (SELECT list(wi ORDER BY i) AS w FROM w$k),
         |     nm$k AS (SELECT w, sqrt(list_reduce([CAST(0.0 AS DOUBLE)] ||
         |          list_transform(w, y -> y * y), (acc, y) -> acc + y)) AS lam
         |        FROM wl$k),
         |     v$k AS (SELECT list_transform(w, y -> y / lam) AS v, lam FROM nm$k)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     x AS (SELECT vec_id, CAST(i - 1 AS INT) AS d, CAST(${duckUnits("v[CAST(i AS INT)]", 1e6)} AS BIGINT) AS m
       |           FROM e CROSS JOIN range(1, ${Dim + 1}) t(i)),
       |     mg AS (SELECT d, CAST(count(*) AS BIGINT) AS n, CAST(sum(m) AS BIGINT) AS s6
       |            FROM x GROUP BY d),
       |     p AS (SELECT a.d AS i, b.d AS j, CAST(sum(a.m * b.m) AS BIGINT) AS p6
       |           FROM x a JOIN x b ON a.vec_id = b.vec_id
       |           GROUP BY 1, 2),
       |     cmat AS (SELECT p.i, p.j,
       |                (CAST(mi.n AS DOUBLE) * CAST(p6 AS DOUBLE)
       |                  - CAST(mi.s6 AS DOUBLE) * CAST(mj.s6 AS DOUBLE))
       |                / ((CAST(mi.n AS DOUBLE) * CAST(mi.n AS DOUBLE)) * 1.0e12) AS c
       |              FROM p JOIN mg mi ON p.i = mi.d JOIN mg mj ON p.j = mj.d),
       |     crow AS (SELECT i, list(c ORDER BY j) AS cl FROM cmat GROUP BY i),
       |     v0 AS (SELECT list_transform(range(1, ${Dim + 1}), j -> CAST(0.125 AS DOUBLE)) AS v),
       |     ${iter(1, "v0")},
       |     ${iter(2, "v1")},
       |     ${iter(3, "v2")}
       |SELECT CAST(i - 1 AS BIGINT) AS dim,
       |       ${duckRound4("v[CAST(i AS INT)]")} AS loading,
       |       ${duckRound4("lam")} AS eigenvalue
       |FROM v3 CROSS JOIN range(1, ${Dim + 1}) t(i)
       |ORDER BY dim""".stripMargin
  }

  // ---------- q_stump_split: histogram decision-stump split finder ----------

  private val StumpDims = 4
  private val StumpBuckets = 32

  /** Histogram-based best-split search for a decision stump over the
    * first [[StumpDims]] embedding dimensions vs the stored label —
    * the per-feature inner loop of every gradient-boosting / tree
    * learner (XGBoost/LightGBM's `hist` method): bucketize the
    * feature into [[StumpBuckets]] equi-width bins, build per-bin
    * label histograms, and evaluate Gini gain at every bin boundary
    * from CUMULATIVE counts — never a sort, never per-row threshold
    * scans. The output per dimension is the best boundary, the child
    * sizes, and the gain — the feature-audit a labeling pipeline runs
    * to ask "does any single dimension already separate the classes?"
    *
    * Determinism/parity: features enter as exact µ-unit integers
    * (floor(x·10⁶+0.5) of the identical float→double value); bin
    * edges are integer arithmetic on (mn, mx); every histogram and
    * cumulative count is an exact BIGINT; the gain is three divisions
    * of those integers evaluated in the identical literal order on
    * both engines (bit-identical — FLOAT_AUDIT.md doctrine), with the
    * bin index as the struct-max tie-break and one round4 at the
    * output edge.
    *
    * Scale: state is bounded by dims × bins × labels (constants),
    * the per-row work is one bucket assignment, and the
    * threshold × histogram expansion is constants-sized — the same
    * shape that lets `hist` learners train on billions of rows.
    */
  def stumpSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val vals = Tables.embeddings(spark, sfDir)
      .select(col("label"),
        posexplode(slice(col("embedding"), 1, StumpDims)).as(Seq("dim", "xf")))
      .select(col("dim").cast("long").as("dim"), col("label"),
        units(col("xf").cast("double"), 1e6).as("x6"))
    val rng = vals.groupBy("dim").agg(min("x6").as("mn"), max("x6").as("mx"))
    val cnt = vals.join(broadcast(rng), "dim")
      .withColumn("bucket",
        expr(s"((x6 - mn) * $StumpBuckets) div (mx - mn + 1)"))
      .groupBy("dim", "bucket", "label").agg(count(lit(1)).as("c"))
    val thrs = sequence(lit(0L), lit((StumpBuckets - 2).toLong))
    val cum = cnt.withColumn("b", explode(thrs))
      .filter(col("bucket") <= col("b"))
      .groupBy("dim", "b", "label").agg(sum("c").as("cum"))
    val tot = cnt.groupBy("dim", "label").agg(sum("c").as("totc"))
    val grid = tot.withColumn("b", explode(thrs))
      .join(cum, Seq("dim", "b", "label"), "left")
      .withColumn("cum0", coalesce(col("cum"), lit(0L)))
    val perThr = grid.groupBy("dim", "b")
      .agg(sum("cum0").as("nl"),
        sum(col("cum0") * col("cum0")).as("sl"),
        sum((col("totc") - col("cum0")) * (col("totc") - col("cum0"))).as("sr"),
        sum("totc").as("n"),
        sum(col("totc") * col("totc")).as("s_all"))
    val gain =
      when(col("nl") === 0, lit(0.0)).otherwise(col("sl").cast("double") /
        (col("nl").cast("double") * col("n").cast("double"))) +
      when(col("n") - col("nl") === 0, lit(0.0)).otherwise(col("sr").cast("double") /
        ((col("n") - col("nl")).cast("double") * col("n").cast("double"))) -
      col("s_all").cast("double") / (col("n").cast("double") * col("n").cast("double"))
    perThr.withColumn("g", gain)
      .groupBy("dim")
      .agg(max(struct(col("g"), (-col("b")).as("nb"),
        col("nl").as("l"), (col("n") - col("nl")).as("r"))).as("best"))
      .select(col("dim"), (-col("best.nb")).as("thr_bucket"),
        col("best.l").as("n_left"), col("best.r").as("n_right"),
        round4(col("best.g")).as("gain"))
      .orderBy("dim")
  }

  private val sqlStumpSplit = {
    val gainSql =
      "(CASE WHEN nl = 0 THEN 0.0 ELSE CAST(sl AS DOUBLE) / " +
        "(CAST(nl AS DOUBLE) * CAST(n AS DOUBLE)) END " +
        "+ CASE WHEN n - nl = 0 THEN 0.0 ELSE CAST(sr AS DOUBLE) / " +
        "(CAST(n - nl AS DOUBLE) * CAST(n AS DOUBLE)) END " +
        "- CAST(s_all AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     vals AS (SELECT CAST(d.range AS BIGINT) AS dim, label,
       |                     CAST(${duckUnits("v[CAST(d.range + 1 AS INT)]", 1e6)} AS BIGINT) AS x6
       |              FROM e CROSS JOIN range(0, $StumpDims) d),
       |     rng AS (SELECT dim, min(x6) AS mn, max(x6) AS mx FROM vals GROUP BY 1),
       |     bkt AS (SELECT vals.dim, label,
       |                    ((x6 - mn) * $StumpBuckets) // (mx - mn + 1) AS bucket
       |             FROM vals JOIN rng ON vals.dim = rng.dim),
       |     cnt AS (SELECT dim, bucket, label, CAST(count(*) AS BIGINT) AS c
       |             FROM bkt GROUP BY 1, 2, 3),
       |     cum AS (SELECT dim, t.range AS b, label, CAST(sum(c) AS BIGINT) AS cum
       |             FROM cnt CROSS JOIN range(0, ${StumpBuckets - 1}) t
       |             WHERE bucket <= t.range GROUP BY 1, 2, 3),
       |     tot AS (SELECT dim, label, CAST(sum(c) AS BIGINT) AS totc
       |             FROM cnt GROUP BY 1, 2),
       |     grid AS (SELECT tot.dim, t.range AS b, tot.label, tot.totc,
       |                     coalesce(cum.cum, 0) AS cum0
       |              FROM tot CROSS JOIN range(0, ${StumpBuckets - 1}) t
       |              LEFT JOIN cum ON cum.dim = tot.dim AND cum.b = t.range
       |                           AND cum.label = tot.label),
       |     pt AS (SELECT dim, b, CAST(sum(cum0) AS BIGINT) AS nl,
       |                   CAST(sum(cum0 * cum0) AS BIGINT) AS sl,
       |                   CAST(sum((totc - cum0) * (totc - cum0)) AS BIGINT) AS sr,
       |                   CAST(sum(totc) AS BIGINT) AS n,
       |                   CAST(sum(totc * totc) AS BIGINT) AS s_all
       |            FROM grid GROUP BY 1, 2),
       |     gn AS (SELECT dim, b, nl, n - nl AS nr, $gainSql AS g FROM pt),
       |     best AS (SELECT dim, max({'g': g, 'nb': -b, 'l': nl, 'r': nr}) AS bs
       |              FROM gn GROUP BY dim)
       |SELECT dim, CAST(-(bs.nb) AS BIGINT) AS thr_bucket,
       |       CAST(bs.l AS BIGINT) AS n_left, CAST(bs.r AS BIGINT) AS n_right,
       |       ${duckRound4("bs.g")} AS gain
       |FROM best ORDER BY dim""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stump_split" -> (stumpSplit _),
    "q_pca_power" -> (pcaPower _),
    "q_rand_proj" -> (randProj _),
    "q_centroid_drift" -> (centroidDrift _),
    "q_dim_corr" -> (dimCorr _),
    "q_dim_stats" -> (dimStats _),
    "q_isotropy" -> (isotropy _),
    "q_centroid_outliers" -> (centroidOutliers _))

  val oracle: Map[String, String] = Map(
    "q_stump_split" -> sqlStumpSplit,
    "q_rand_proj" -> sqlRandProj,
    "q_centroid_drift" -> sqlCentroidDrift,
    "q_dim_corr" -> sqlDimCorr,
    "q_dim_stats" -> sqlDimStats,
    "q_isotropy" -> sqlIsotropy,
    "q_centroid_outliers" -> sqlCentroidOutliers,
    "q_pca_power" -> sqlPcaPower)
}
