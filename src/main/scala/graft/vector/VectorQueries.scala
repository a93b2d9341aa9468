package graft.vector

import graft.Stage
import graft.graph.ConnectedComponents
import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckRound6, duckUnits, round4, round6, units}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declared similarity-search queries over the `embeddings` table
  * (64-dim float vectors, FIXTURES.md). Probe vector: `vec_id = 0`
  * (fixture rule), excluded from its own result set.
  *
  * Oracle parity: DuckDB evaluates the same left-fold dot products
  * over `CAST(embedding AS DOUBLE[])` (see [[VectorFns]]) — not
  * list_cosine_similarity, whose internal association order is not
  * guaranteed to match.
  *
  * Kernel discipline (the 100 TB rule): the L2 norm is STAGED once
  * per row (`nrm` column) before any pairwise join, so the pair loop
  * evaluates ONE dot product per candidate instead of three; the dot
  * itself is the native codegen'd kernel
  * ([[graft.functions.VecUtil.dot]]). Both engines stage identically,
  * and the staged form keeps the exact association order of
  * dot/(sqrt(na)*sqrt(nb)) — bit-for-bit what the unstaged round-1
  * queries computed.
  */
object VectorQueries {

  private[vector] val TopK = 10
  // 6 bits = 64 buckets: coarse enough that the probe's bucket holds
  // candidates at EVERY verified scale (8 bits left it empty at
  // sf0.01, making the oracle check vacuous — any ANN bug would have
  // "passed" with 0 rows on both engines).
  private[vector] val LshBits = 6
  private[vector] val LshStride = 10 // bits sample dims 1,11,...,51 (1-based)
  private val NearDupThreshold = 0.25
  // declared with the other constants: string-interpolated into oracle
  // SQL vals, so it must initialize BEFORE every sql* val (object vals
  // initialize in declaration order; a later declaration reads as 0)
  /** Probe budget for every eval/audit query that samples probes by
    * `vec_id % Step == 0`: the residue rule alone makes the probe
    * COUNT grow with the corpus, so probe×corpus evals go quadratic —
    * the round-10 sf1 scaling pass machine-flagged exactly that
    * (q_mrl_curve 65×, q_knn_label_acc 46×, q_quant_mrr/ndcg ~40×,
    * q_binary_quant 27× per 10× data). The id cap fixes the budget
    * absolutely: evals probe a deterministic FIXED sample while the
    * candidate side scales, which is how a recall audit runs at
    * 100 TB (the scaladocs always said "fixed probe budget at real
    * scale" — now the plan enforces it). No-op at the oracle SFs
    * (every vec_id < 10⁶ there), so hashes are unchanged.
    */
  private val ProbeIdCap = 1000000L
  private val RecallProbeStep = 100L

  /** DuckDB left-fold dot product over 1-based DOUBLE[] columns. */
  private def duckDot(a: String, b: String): String =
    s"list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len($a) + 1), " +
      s"i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)]), (acc, v) -> acc + v)"

  private val duckBucket =
    (0 until LshBits).map { j =>
      s"(CASE WHEN v[${1 + j * LshStride}] > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Population cap for the pairwise-blocked self-joins (SemDeDup
    * cells, near-dup LSH buckets): a block of n members costs n²/2
    * pairs, and with a FIXED block vocabulary (10 cells, 64 buckets)
    * n grows ∝ corpus — the quadratic regime the round-10 sf1 pass
    * flagged on q_semdedup_cc. [[withCappedBlock]] splits any block
    * whose population exceeds this cap by extra sign-LSH bits (one
    * more bit per population doubling), so per-block pair counts stay
    * bounded and the join key count grows WITH the corpus — how a
    * real deployment scales its quantizer (IVF nlist ∝ √N, LSH bits
    * ∝ log N). Chosen above every oracle-SF block population
    * (sf0.1 max cell = 218, max bucket = 41), so the split is a
    * provable no-op where the DuckDB gate runs and activates only on
    * upscaled corpora — same contract as [[ProbeIdCap]]. The split
    * trades recall (near-dups straddling a sub-split boundary are no
    * longer compared) exactly as a finer quantizer does; sub-split
    * bits sample dims 6,16,…,56, disjoint from the primary
    * [[LshStride]] dims.
    */
  private[vector] val BlockCap = 512

  /** Tighter cap for [[embedNearDup]]'s bucket-keyed pair join. The
    * 64-bucket LSH vocabulary peaks at 41 members at sf0.1 (15 at
    * sf0.01), so 64 is still a provable no-op where the oracle runs —
    * but at 10× data bucket populations reach ~410 and the 512 ladder
    * stayed inert, leaving the in-bucket pair count quadratic (the
    * round-17 superlinear flag: ratio 18 per 10×). At 64 the ladder
    * engages three bits at 10× (8 sub-blocks per bucket), restoring
    * ~linear candidate growth. Cell-keyed users (SemDeDup, IVF cells:
    * sf0.1 max cell = 218) keep [[BlockCap]] — 64 would activate the
    * split at an oracle SF and change gated results.
    */
  private val NearDupBlockCap = 64
  private val SubSplitMaxBits = 6

  /** Bit j of the sub-split code is live iff the block population
    * exceeds cap·2^j (the nested ladder: #live bits = doublings
    * over the cap) and samples the sign of dim 6+10j (1-based).
    */
  private def subSplitBits(bn: org.apache.spark.sql.Column,
                           cap: Long): org.apache.spark.sql.Column =
    (0 until SubSplitMaxBits).map { j =>
      when(bn > lit(cap << j) &&
          element_at(col("v"), 6 + j * 10) > 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Append the capped block key `blk` = blkCol·2^bits + sub-split
    * code. The per-block census is block-vocabulary-sized (bounded ≪
    * rows), so it broadcasts; the 1:1 join back costs no shuffle of
    * the vector side beyond what the caller already staged.
    *
    * The input is `localCheckpoint`-ed first: the census AND the join
    * AND the caller's a/b pair-join sides all re-read the staged
    * blocks instead of re-deriving the upstream pipeline per use
    * (without it the census's extra consumer broke Spark's
    * ReusedExchange matching and the cell-assignment window re-ran
    * 2-4× — measured +1.5 s on q_semdedup_cc at sf0.1). The staged
    * set is one row per vector (id + vector + block), the natural
    * cut point a real pipeline would persist before its pair stage.
    */
  private[vector] def withCappedBlock(df: DataFrame, blkCol: String,
                                      cap: Long = BlockCap): DataFrame = {
    val staged = df.localCheckpoint(true)
    val cnt = staged.groupBy(blkCol).agg(count(lit(1)).as("_bn"))
    staged.join(broadcast(cnt), blkCol)
      .withColumn("blk",
        col(blkCol) * (1L << SubSplitMaxBits) + subSplitBits(col("_bn"), cap))
      .drop("_bn")
  }

  /** Oracle twin of [[subSplitBits]]+[[withCappedBlock]]'s blk
    * expression over a member column `v` and a block-census column
    * `bn` — integer ladder + sign comparisons on the identical
    * doubles, so the split is engine-exact even when active.
    */
  private def duckBlk(blkCol: String, cap: Long = BlockCap): String =
    (0 until SubSplitMaxBits).map { j =>
      s"(CASE WHEN bn > ${cap << j} AND v[${6 + j * 10}] > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(s"($blkCol * ${1L << SubSplitMaxBits} + ", " + ", ")")

  /** Shared oracle base: cast to double + per-row staged norm. */
  private val duckVecs =
    s"""e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     e AS (SELECT vec_id, label, v, sqrt(${duckDot("v", "v")}) AS nrm FROM e0)""".stripMargin

  private[vector] def withVecs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        VectorFns.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorFns.norm(col("v")))

  // ---------- 1. q_knn: brute-force cosine top-k vs fixed probe ----------

  /** Baseline exact kNN: broadcast the 1-row probe, per-row cosine
    * map (one native dot per row against the staged norms),
    * TakeOrderedAndProject top-k. This is the flat-scan path an
    * IVF/LSH variant is measured against.
    */
  /** The exact-cosine top-[[TopK]] list against the fixed probe, with
    * the UNROUNDED `sim` — the single kernel behind [[knn]] (which
    * rounds at its output edge) and [[rrfFusion]] (which ranks over
    * it), so the two can never drift.
    */
  private def knnList(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    val probe = vecs.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("nrm").as("pnrm"))
    vecs.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(TopK)
  }

  def knn(spark: SparkSession, sfDir: String): DataFrame =
    knnList(spark, sfDir)
      .select(col("vec_id"), col("label"), round4(col("sim")).as("sim"))

  /** Oracle twin of [[knnList]] minus the LIMIT (CTEs can't carry it;
    * consumers cut at [[TopK]] themselves): probe + scored stream.
    */
  private val duckKnnScored =
    s"""p AS (SELECT v AS pv, nrm AS pnrm FROM e WHERE vec_id = 0),
       |     s AS (SELECT vec_id, label, ${duckDot("v", "pv")} / (nrm * pnrm) AS sim0
       |           FROM e, p WHERE vec_id <> 0)""".stripMargin

  private val sqlKnn =
    s"""WITH $duckVecs,
       |     $duckKnnScored
       |SELECT vec_id, label, ${duckRound4("sim0")} AS sim
       |FROM s ORDER BY sim0 DESC, vec_id LIMIT $TopK""".stripMargin

  // ---------- 2. q_ann_lsh: sign-LSH bucketed approximate kNN ----------

  /** ANN scale path: prune to the probe's sign-LSH bucket
    * (~N/2^$LshBits candidates), then exact cosine + top-k inside the
    * bucket. At warehouse scale the table is partitioned by `bucket`,
    * so this reads one partition instead of scanning N vectors.
    */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
      .withColumn("bucket", VectorFns.signBucket(col("v"), LshBits, LshStride))
    val probe = vecs.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("nrm").as("pnrm"), col("bucket").as("pbucket"))
    vecs.filter(col("vec_id") =!= 0)
      .join(broadcast(probe), col("bucket") === col("pbucket"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(TopK)
      .select(col("vec_id"), col("bucket"), round4(col("sim")).as("sim"))
  }

  private val sqlAnnLsh =
    s"""WITH $duckVecs,
       |     b AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     p AS (SELECT v AS pv, nrm AS pnrm, bucket AS pbucket FROM b WHERE vec_id = 0),
       |     s AS (SELECT vec_id, bucket, ${duckDot("v", "pv")} / (nrm * pnrm) AS sim0
       |           FROM b, p WHERE vec_id <> 0 AND bucket = pbucket)
       |SELECT vec_id, bucket, ${duckRound4("sim0")} AS sim
       |FROM s ORDER BY sim0 DESC, vec_id LIMIT $TopK""".stripMargin

  // ---------- 2b. q_knn_batch: many-probe ANN join ----------

  private val BatchProbeStep = 100
  private val BatchTopK = 3

  /** The batch form of [[annLsh]] — a kNN JOIN: every probe (here each
    * ${BatchProbeStep}th vector, the deterministic stand-in for "the
    * new batch") retrieves its top-$BatchTopK bucket-local neighbors
    * in ONE plan, instead of one query per probe. This is the shape
    * embedding-pipeline backfills actually run: N_probe × N_corpus
    * pruned to bucket collisions by the equi-join on the LSH key, then
    * a per-probe rank over the bucket-bounded candidate set. Neither
    * side broadcasts — probes are corpus-proportional, so the join
    * shuffles both sides on `bucket` (at warehouse scale the corpus is
    * already partitioned by it, leaving one-sided exchange only).
    */
  def knnBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
      .withColumn("bucket", VectorFns.signBucket(col("v"), LshBits, LshStride))
    val probes = vecs.filter((col("vec_id") % BatchProbeStep === 0 && col("vec_id") < ProbeIdCap))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("bucket").as("pbucket"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id"))
    vecs.join(probes,
        col("bucket") === col("pbucket") && col("vec_id") =!= col("probe_id"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= BatchTopK)
      .select(col("probe_id"), col("rk"), col("vec_id").as("neighbor"),
        round4(col("sim")).as("sim"))
      .orderBy("probe_id", "rk")
  }

  private val sqlKnnBatch =
    s"""WITH $duckVecs,
       |     b AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm, bucket AS pbucket
       |           FROM b WHERE vec_id % $BatchProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     s AS (SELECT p.probe_id, b.vec_id,
       |                  ${duckDot("b.v", "pv")} / (b.nrm * pnrm) AS sim0
       |           FROM b JOIN p ON b.bucket = p.pbucket AND b.vec_id <> p.probe_id),
       |     r AS (SELECT probe_id, vec_id, sim0,
       |                  row_number() OVER (PARTITION BY probe_id
       |                                     ORDER BY sim0 DESC, vec_id) AS rk
       |           FROM s)
       |SELECT probe_id, rk, vec_id AS neighbor, ${duckRound4("sim0")} AS sim
       |FROM r WHERE rk <= $BatchTopK ORDER BY probe_id, rk""".stripMargin

  // ---------- 2c. q_hard_negatives: contrastive hard-negative mining ----------

  /** Hard-negative mining for contrastive/retrieval training: for
    * each probe, the top-[[BatchTopK]] nearest vectors whose label
    * DIFFERS from the probe's — the semantically-close-but-wrong
    * candidates that make contrastive losses learn (random in-batch
    * negatives are too easy; the standard DPR/ANCE-style hard-negative
    * pass mines them from the index). Same bucket-pruned batch-join
    * shape as [[knnBatch]] — the label inequality is a residual
    * predicate on the bucket equi-join, so the candidate set stays
    * bucket-bounded and the plan is the one-sided-exchange kNN join;
    * only the rank window's input shrinks.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
      .withColumn("bucket", VectorFns.signBucket(col("v"), LshBits, LshStride))
    val probes = vecs.filter((col("vec_id") % BatchProbeStep === 0 && col("vec_id") < ProbeIdCap))
      .select(col("vec_id").as("probe_id"), col("label").as("plabel"),
        col("v").as("pv"), col("nrm").as("pnrm"), col("bucket").as("pbucket"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id"))
    vecs.join(probes,
        col("bucket") === col("pbucket") && col("label") =!= col("plabel"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= BatchTopK)
      .select(col("probe_id"), col("rk"), col("vec_id").as("negative"),
        col("label").as("neg_label"), round4(col("sim")).as("sim"))
      .orderBy("probe_id", "rk")
  }

  private val sqlHardNegatives =
    s"""WITH $duckVecs,
       |     b AS (SELECT vec_id, label, v, nrm, $duckBucket AS bucket FROM e),
       |     p AS (SELECT vec_id AS probe_id, label AS plabel, v AS pv,
       |                  nrm AS pnrm, bucket AS pbucket
       |           FROM b WHERE vec_id % $BatchProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     s AS (SELECT p.probe_id, b.vec_id, b.label,
       |                  ${duckDot("b.v", "pv")} / (b.nrm * pnrm) AS sim0
       |           FROM b JOIN p ON b.bucket = p.pbucket AND b.label <> p.plabel),
       |     r AS (SELECT probe_id, vec_id, label, sim0,
       |                  row_number() OVER (PARTITION BY probe_id
       |                                     ORDER BY sim0 DESC, vec_id) AS rk
       |           FROM s)
       |SELECT probe_id, rk, vec_id AS negative, label AS neg_label,
       |       ${duckRound4("sim0")} AS sim
       |FROM r WHERE rk <= $BatchTopK ORDER BY probe_id, rk""".stripMargin

  // ---------- 2d. q_metric_agreement: cosine-vs-dot serving audit ----------

  /** Metric-choice audit: over the SAME bucket-bounded candidate pool
    * as [[knnBatch]], the per-probe top-[[BatchTopK]] under COSINE vs
    * under raw INNER PRODUCT, and their overlap — the number a
    * serving team reads before flipping an index's metric (IP favors
    * long vectors; if the corpus norms vary, the two rankings diverge
    * and recall measured under one metric lies about the other —
    * the Matryoshka/embedding-truncation literature's norm-bias
    * caveat made measurable).
    *
    * Shape: one bucket equi-join, two rank windows over the identical
    * candidate set, one probe-grain count — adds nothing beyond
    * [[knnBatch]]'s plan but a second window. Parity: both ranks
    * compare identically-computed doubles (staged-norm cosine; native
    * left-fold dot), vec_id tie-break; the overlap count is integer.
    */
  def metricAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
      .withColumn("bucket", VectorFns.signBucket(col("v"), LshBits, LshStride))
    val probes = vecs.filter((col("vec_id") % BatchProbeStep === 0 && col("vec_id") < ProbeIdCap))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("bucket").as("pbucket"))
    val wc = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    val wd = Window.partitionBy("probe_id").orderBy(col("dp").desc, col("vec_id"))
    vecs.join(probes,
        col("bucket") === col("pbucket") && col("vec_id") =!= col("probe_id"))
      .withColumn("dp", VectorFns.dot(col("v"), col("pv")))
      .withColumn("sim", col("dp") / (col("nrm") * col("pnrm")))
      .withColumn("rkc", row_number().over(wc))
      .withColumn("rkd", row_number().over(wd))
      .filter(col("rkc") <= BatchTopK || col("rkd") <= BatchTopK)
      .groupBy("probe_id")
      .agg(sum(when(col("rkc") <= BatchTopK && col("rkd") <= BatchTopK, 1L)
        .otherwise(0L)).as("n_overlap"))
      .select(col("probe_id"), col("n_overlap"),
        round4(col("n_overlap").cast("double") / BatchTopK.toDouble)
          .as("agree_rate"))
      .orderBy("probe_id")
  }

  private val sqlMetricAgreement =
    s"""WITH $duckVecs,
       |     b AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm, bucket AS pbucket
       |           FROM b WHERE vec_id % $BatchProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     s AS (SELECT p.probe_id, b.vec_id,
       |                  ${duckDot("b.v", "pv")} AS dp,
       |                  ${duckDot("b.v", "pv")} / (b.nrm * pnrm) AS sim0
       |           FROM b JOIN p ON b.bucket = p.pbucket AND b.vec_id <> p.probe_id),
       |     r AS (SELECT probe_id, vec_id,
       |                  row_number() OVER (PARTITION BY probe_id
       |                                     ORDER BY sim0 DESC, vec_id) AS rkc,
       |                  row_number() OVER (PARTITION BY probe_id
       |                                     ORDER BY dp DESC, vec_id) AS rkd
       |           FROM s)
       |SELECT probe_id,
       |       CAST(sum(CASE WHEN rkc <= $BatchTopK AND rkd <= $BatchTopK
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       |       ${duckRound4(
                 s"CAST(sum(CASE WHEN rkc <= $BatchTopK AND rkd <= $BatchTopK THEN 1 ELSE 0 END) AS DOUBLE) / $BatchTopK.0")} AS agree_rate
       |FROM r WHERE rkc <= $BatchTopK OR rkd <= $BatchTopK
       |GROUP BY probe_id ORDER BY probe_id""".stripMargin

  // ---------- 2e. q_hubness: ANN-graph in-degree (hubness) audit ----------

  /** Hubness audit of the served kNN graph (Radovanović et al., JMLR
    * 2010): the in-degree (k-occurrence) distribution of
    * [[knnBatch]]'s neighbor lists — in high dimensions a few
    * "hub" points appear in a disproportionate share of kNN lists
    * while antihubs appear in none, silently skewing dedup votes,
    * retrieval diversity, and kNN label audits. The census (how many
    * corpus vectors are retrieved once, twice, …) is the screen a
    * vector platform runs after every index build; a heavy right tail
    * says to re-normalize or re-rank before trusting the graph.
    *
    * Shape: exactly [[knnBatch]]'s plan plus one neighbor-grain count
    * and one bounded census aggregate (in-degree ≤ probe count).
    */
  def hubness(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
      .withColumn("bucket", VectorFns.signBucket(col("v"), LshBits, LshStride))
    val probes = vecs.filter((col("vec_id") % BatchProbeStep === 0 && col("vec_id") < ProbeIdCap))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("bucket").as("pbucket"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id"))
    vecs.join(probes,
        col("bucket") === col("pbucket") && col("vec_id") =!= col("probe_id"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= BatchTopK)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
      .groupBy("in_degree")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("in_degree")
  }

  private val sqlHubness =
    s"""WITH $duckVecs,
       |     b AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm, bucket AS pbucket
       |           FROM b WHERE vec_id % $BatchProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     s AS (SELECT p.probe_id, b.vec_id,
       |                  ${duckDot("b.v", "pv")} / (b.nrm * pnrm) AS sim0
       |           FROM b JOIN p ON b.bucket = p.pbucket AND b.vec_id <> p.probe_id),
       |     r AS (SELECT probe_id, vec_id,
       |                  row_number() OVER (PARTITION BY probe_id
       |                                     ORDER BY sim0 DESC, vec_id) AS rk
       |           FROM s),
       |     deg AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS in_degree
       |             FROM r WHERE rk <= $BatchTopK GROUP BY 1)
       |SELECT in_degree, CAST(count(*) AS BIGINT) AS n_vectors
       |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- 2f. q_kcenter: Gonzalez farthest-first coreset seeds ----------

  private val KCenterSeeds = 5

  /** Farthest-first (Gonzalez 1985) k-center seeding over cosine
    * distance — the 2-approximation coreset/pruning seed selector
    * (sensitivity-sampling and DEDUP-pruning pipelines pick their
    * representative subset this way; it is also k-means++'s
    * deterministic cousin, with max instead of a draw). Starting from
    * vec_id 0, each round adds the point FARTHEST from the current
    * seed set; its selection distance is exactly the previous set's
    * coverage radius, so the output doubles as the radius-vs-k curve
    * a pruning-budget owner reads.
    *
    * Shape: driver-paced [[KCenterSeeds]] rounds (the
    * ConnectedComponents discipline — per-round min-distance state is
    * localCheckpoint-ed and superseded blocks freed with
    * [[graft.Stage.free]]); each round is one
    * broadcast-seed map + one 1-row TakeOrdered collect — linear per
    * round, never pairwise. Parity: distances are 1 − the staged-norm
    * cosine (identical fold, identical division, exact subtraction);
    * argmax ties break on vec_id over identical bits.
    */
  def kcenter(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir).localCheckpoint(true)
    def seedOf(id: Long) = broadcast(vecs.filter(col("vec_id") === id)
      .select(col("v").as("sv"), col("nrm").as("snrm")))
    var dists = vecs.filter(col("vec_id") =!= 0L).crossJoin(seedOf(0L))
      .select(col("vec_id"), col("v"), col("nrm"),
        (lit(1.0) - VectorFns.dot(col("v"), col("sv")) /
          (col("nrm") * col("snrm"))).as("d"))
      .localCheckpoint(true)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    (1 to KCenterSeeds).foreach { rank =>
      val top = dists.orderBy(col("d").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("d")).collect()(0)
      val (sid, sel) = (top.getLong(0), top.getDouble(1))
      picked += ((rank, sid, sel))
      if (rank < KCenterSeeds) {
        val next = dists.crossJoin(seedOf(sid))
          .select(col("vec_id"), col("v"), col("nrm"),
            least(col("d"), lit(1.0) - VectorFns.dot(col("v"), col("sv")) /
              (col("nrm") * col("snrm"))).as("d"))
          .localCheckpoint(true)
        Stage.free(dists)
        dists = next
      } else Stage.free(dists)
    }
    import org.apache.spark.sql.SparkSession
    val s = spark
    import s.implicits._
    picked.toSeq.toDF("rank", "seed_id", "sel0")
      .select(col("rank"), col("seed_id"), round4(col("sel0")).as("sel_dist"))
      .orderBy("rank")
  }

  private val sqlKcenter = {
    def dist(side: String) = s"1.0 - ${duckDot(s"$side.v", "sv")} / ($side.nrm * snrm)"
    val sb = new StringBuilder
    sb.append(s"WITH $duckVecs,\n")
    sb.append(s"     sd0 AS (SELECT v AS sv, nrm AS snrm FROM e WHERE vec_id = 0),\n")
    sb.append("     d0 AS (SELECT x.vec_id, x.v, x.nrm, " + dist("x") +
      " AS d FROM e x CROSS JOIN sd0 WHERE x.vec_id <> 0),\n")
    (1 to KCenterSeeds).foreach { i =>
      sb.append(s"     s$i AS (SELECT vec_id, d FROM d${i - 1} ORDER BY d DESC, vec_id LIMIT 1)")
      if (i < KCenterSeeds) {
        sb.append(",\n")
        sb.append(s"     sd$i AS (SELECT e.v AS sv, e.nrm AS snrm FROM e JOIN s$i ON e.vec_id = s$i.vec_id),\n")
        sb.append(s"     d$i AS (SELECT x.vec_id, x.v, x.nrm, least(x.d, " + dist("x") +
          s") AS d FROM d${i - 1} x CROSS JOIN sd$i),\n")
      } else sb.append("\n")
    }
    val rows = (1 to KCenterSeeds).map { i =>
      s"SELECT $i AS rank, vec_id AS seed_id, ${duckRound4("d")} AS sel_dist FROM s$i"
    }.mkString("", "\nUNION ALL ", "")
    sb.append(rows + "\nORDER BY rank").toString
  }

  // ---------- 3. q_embed_neardup: blocked cosine near-dup pairs ----------

  /** Embedding near-dup detection: candidate pairs meet only inside a
    * sign-LSH bucket (the blocked self-join that keeps the pair count
    * ~N²/2^$LshBits instead of N²), exact cosine on candidates,
    * threshold filter. The pair kernel is ONE native dot over the
    * staged norms. The fixture vectors are near-random (max pairwise
    * cosine ≈ 0.37, measured), so the threshold is set to
    * $NearDupThreshold to exercise a non-empty result; real corpora
    * use ≥ 0.95 with the identical plan.
    */
  def embedNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withCappedBlock(
      withVecs(spark, sfDir)
        .withColumn("bucket", VectorFns.signBucket(col("v"), LshBits, LshStride)),
      "bucket", NearDupBlockCap)
    vecs.as("a").join(vecs.as("b"),
        col("a.blk") === col("b.blk") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", VectorFns.cosineStaged(
        col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")))
      .filter(col("sim") >= NearDupThreshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round4(col("sim")).as("sim"))
      .orderBy("vec_a", "vec_b")
  }

  private val sqlEmbedNearDup =
    s"""WITH $duckVecs,
       |     b0 AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     bn0 AS (SELECT bucket, count(*) AS bn FROM b0 GROUP BY bucket),
       |     b AS (SELECT vec_id, v, nrm, b0.bucket, ${duckBlk("b0.bucket", NearDupBlockCap)} AS blk
       |           FROM b0 JOIN bn0 ON b0.bucket = bn0.bucket),
       |     pairs AS (SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
       |                      ${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm) AS sim
       |               FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id)
       |SELECT vec_a, vec_b, ${duckRound4("sim")} AS sim
       |FROM pairs WHERE sim >= $NearDupThreshold ORDER BY vec_a, vec_b""".stripMargin

  // ---------- 4. q_centroids: per-label centroids (IVF coarse quantizer) ----------

  /** Elementwise mean vector per label — the k-means/IVF building
    * block. posexplode → (label, dim) partial aggregation: one
    * shuffle keyed on (label, dim), fully map-side combinable, scales
    * as O(labels × dims) state regardless of row count.
    */
  def centroids(spark: SparkSession, sfDir: String): DataFrame =
    withVecs(spark, sfDir)
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), round(avg(col("x")), 4).as("centroid"))
      .filter(col("dim") < 8) // report first 8 dims (64×10 rows is noise; shape is proven)
      .orderBy("label", "dim")

  private val sqlCentroids =
    """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |     x AS (SELECT label, CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
      |           FROM e CROSS JOIN range(1, 65) t(i))
      |SELECT label, dim, count(*) AS n, round(avg(x), 4) AS centroid
      |FROM x WHERE dim < 8 GROUP BY label, dim ORDER BY label, dim""".stripMargin

  // ---------- 5. q_ivf_assign: IVF coarse assignment (one k-means step) ----------

  /** IVF index build step: per-label mean vectors as the coarse
    * codebook, then every vector assigned to its nearest centroid by
    * cosine — i.e. one k-means assignment round. Output is the
    * label × assigned-cell confusion matrix (bounded: labels²).
    *
    * Scale: centroids are O(cells × dims) — computed with one
    * map-side-combinable shuffle and BROADCAST to the assignment
    * scan, so assignment is a per-row map over N vectors (one native
    * dot per (vector, cell) against staged norms), no shuffle until
    * the final tiny matrix aggregate. An IVF *query* then searches
    * only the probe's cell (same pruning shape as [[annLsh]], with
    * learned cells instead of hyperplane buckets).
    */
  /** Per-label mean-vector codebook with staged norms — the coarse
    * quantizer shared by [[ivfAssign]] and [[ivfSearch]].
    */
  private def codebook(vecs: DataFrame): DataFrame = codebookBy(vecs, "label")

  /** Mean-vector codebook keyed by an arbitrary cell column — the
    * generalization of the label codebook that lets Lloyd rounds
    * recompute centroids from the previous assignment
    * ([[kmeansRefine]]).
    */
  private def codebookBy(df: DataFrame, keyCol: String): DataFrame =
    df
      .select(col(keyCol).as("c_label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("c_label", "dim").agg(avg(col("x")).as("cx"))
      .groupBy("c_label")
      .agg(array_sort(collect_list(struct(col("dim"), col("cx")))).as("pairs"))
      .select(col("c_label"), expr("transform(pairs, p -> p.cx)").as("cv"))
      .withColumn("cnrm", VectorFns.norm(col("cv")))

  /** Every vector tagged with its nearest-centroid cell.
    *
    * Rank on the ROUNDED similarity: centroids come from avg(), whose
    * summation order varies with partitioning, so unrounded sims can
    * differ in the last ulp between engines and flip a near-tied
    * argmin. 6 decimals collapses ulp noise (floor form on both sides
    * — engine round() itself diverges on .5 boundaries); c_label
    * breaks real ties deterministically (both sides identical).
    */
  private[vector] def assignedCells(vecs: DataFrame): DataFrame =
    assignStep(vecs, codebook(vecs)).drop("sim")

  /** One argmin assignment of every row (vec_id, label, v, nrm)
    * against a BROADCAST codebook, keeping the winning sim — the
    * shared step behind [[assignedCells]] and each [[kmeansRefine]]
    * round. Rank on the rounded sim with c_label tie-break (avg-built
    * centroids — the ulp rule).
    *
    * Shape: the argmax is min(struct(−round6(sim), c_label, payload))
    * — ordering-equivalent to the old row_number window because the
    * (sim, c_label) sort key is unique per vec_id (one row per
    * centroid). The aggregate PARTIALLY combines map-side: all C
    * candidate rows of a vector sit in the producing partition (the
    * codebook side is broadcast), so the exchange moves one row per
    * VECTOR, not one per (vector × centroid), and no sort runs at
    * all — the window form shuffled and sorted the full N×C fan-out.
    */
  private def assignStep(df: DataFrame, cb: DataFrame): DataFrame =
    df.join(broadcast(cb))
      .withColumn("sim", VectorFns.cosineStaged(
        col("v"), col("cv"), col("nrm"), col("cnrm")))
      .groupBy(col("vec_id"))
      .agg(min(struct((-round6(col("sim"))).as("k1"), col("c_label").as("k2"),
        struct(col("label"), col("v"), col("nrm"),
          col("c_label").as("cell"), col("sim")).as("p"))).as("w"))
      .select(col("vec_id"), col("w.p.label"), col("w.p.v"), col("w.p.nrm"),
        col("w.p.cell"), col("w.p.sim"))

  def ivfAssign(spark: SparkSession, sfDir: String): DataFrame =
    assignedCells(withVecs(spark, sfDir))
      .groupBy(col("label"), col("cell").as("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "assigned")

  private val sqlIvfAssign =
    s"""WITH $duckVecs,
       |     x AS (SELECT label AS c_label, CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |           FROM e0 CROSS JOIN range(1, 65) t(i)),
       |     cd AS (SELECT c_label, dim, avg(x) AS cx FROM x GROUP BY c_label, dim),
       |     c0 AS (SELECT c_label, list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS cv
       |            FROM cd GROUP BY c_label),
       |     c AS (SELECT c_label, cv, sqrt(${duckDot("cv", "cv")}) AS cnrm FROM c0),
       |     scored AS (SELECT e.vec_id, e.label, c.c_label,
       |                       ${duckDot("e.v", "c.cv")} / (e.nrm * c.cnrm) AS sim
       |                FROM e CROSS JOIN c),
       |     best AS (SELECT vec_id, label, c_label,
       |                     row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY ${duckRound6("sim")} DESC, c_label) AS rk
       |              FROM scored)
       |SELECT label, c_label AS assigned, count(*) AS n
       |FROM best WHERE rk = 1 GROUP BY label, c_label
       |ORDER BY label, assigned""".stripMargin

  // ---------- q_ivf_balance: cell-imbalance audit + rebalance plan ----------

  /** IVF cell-BALANCE audit with a split/merge maintenance plan — the
    * index-health check an ANN serving team runs before nprobe tuning
    * (FAISS's "imbalance factor"): a cell 2× over the mean dominates
    * every probe that lands in it (probe latency is cell size), and a
    * cell under half the mean wastes a centroid. Output per cell: its
    * population, integer basis-point share, the plan verdict
    * (split / ok / merge), and for splits the target sub-cell count
    * ceil(n/mean). All comparisons are INTEGER cross-products
    * (n·C vs 2·N etc.) — no float enters a verdict.
    *
    * Scale: one linear assignment pass ([[assignedCells]], broadcast
    * codebook) + a cell-grain aggregate; the plan math is
    * constant-size arithmetic against broadcast totals.
    */
  def ivfBalance(spark: SparkSession, sfDir: String): DataFrame = {
    // cell-grain frame staged (a handful of rows): `tots` and the
    // final select consumed it separately, re-running the whole
    // assignment pipeline for the totals
    val sizes = assignedCells(withVecs(spark, sfDir))
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .localCheckpoint(true)
    val tots = sizes.agg(sum(col("n_vecs")).as("nn"),
      count(lit(1)).as("cc"))
    sizes.crossJoin(broadcast(tots))
      .select(col("cell"), col("n_vecs"),
        expr("(n_vecs * 10000) div nn").as("share_bp"),
        when(col("n_vecs") * col("cc") > lit(2L) * col("nn"), "split")
          .when(lit(2L) * col("n_vecs") * col("cc") < col("nn"), "merge")
          .otherwise("ok").as("plan"),
        when(col("n_vecs") * col("cc") > lit(2L) * col("nn"),
          expr("(n_vecs * cc + nn - 1) div nn")).otherwise(lit(1L))
          .as("split_into"))
      .orderBy("cell")
  }

  private val sqlIvfBalance =
    s"""WITH $duckVecs,
       |     x AS (SELECT label AS c_label, CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |           FROM e0 CROSS JOIN range(1, 65) t(i)),
       |     cd AS (SELECT c_label, dim, avg(x) AS cx FROM x GROUP BY c_label, dim),
       |     c0 AS (SELECT c_label, list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS cv
       |            FROM cd GROUP BY c_label),
       |     c AS (SELECT c_label, cv, sqrt(${duckDot("cv", "cv")}) AS cnrm FROM c0),
       |     scored AS (SELECT e.vec_id, c.c_label,
       |                       ${duckDot("e.v", "c.cv")} / (e.nrm * c.cnrm) AS sim
       |                FROM e CROSS JOIN c),
       |     best AS (SELECT vec_id, c_label,
       |                     row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY ${duckRound6("sim")} DESC, c_label) AS rk
       |              FROM scored),
       |     sizes AS (SELECT c_label AS cell, CAST(count(*) AS BIGINT) AS n_vecs
       |               FROM best WHERE rk = 1 GROUP BY 1),
       |     tots AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS nn,
       |                     CAST(count(*) AS BIGINT) AS cc FROM sizes)
       |SELECT cell, n_vecs,
       |       CAST((n_vecs * 10000) // nn AS BIGINT) AS share_bp,
       |       CASE WHEN n_vecs * cc > 2 * nn THEN 'split'
       |            WHEN 2 * n_vecs * cc < nn THEN 'merge'
       |            ELSE 'ok' END AS plan,
       |       CASE WHEN n_vecs * cc > 2 * nn
       |            THEN CAST((n_vecs * cc + nn - 1) // nn AS BIGINT)
       |            ELSE CAST(1 AS BIGINT) END AS split_into
       |FROM sizes CROSS JOIN tots ORDER BY cell""".stripMargin

  // ---------- 6. q_ivf_search: IVF-pruned approximate kNN ----------

  /** The IVF QUERY path completing [[ivfAssign]]'s index build: the
    * probe searches only its own nearest-centroid cell — exact cosine
    * + top-k over ~N/cells candidates instead of the flat scan
    * ([[knn]]) — the learned-cell twin of [[annLsh]]'s hyperplane
    * pruning. At warehouse scale the table is partitioned by `cell`,
    * so the search reads one partition; nprobe > 1 generalizes by
    * taking the top-n cells from the same rounded ranking.
    */
  def ivfSearch(spark: SparkSession, sfDir: String): DataFrame = {
    // staged: the probe branch and the candidate scan consumed the
    // assignment pipeline separately (two argmin passes without it)
    val assigned = assignedCells(withVecs(spark, sfDir)).localCheckpoint(true)
    val probe = assigned.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("nrm").as("pnrm"), col("cell").as("pcell"))
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(probe), col("cell") === col("pcell"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(TopK)
      .select(col("vec_id"), col("cell"), round4(col("sim")).as("sim"))
  }

  private val sqlIvfSearch =
    s"""WITH $duckVecs,
       |     x AS (SELECT label AS c_label, CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |           FROM e0 CROSS JOIN range(1, 65) t(i)),
       |     cd AS (SELECT c_label, dim, avg(x) AS cx FROM x GROUP BY c_label, dim),
       |     c0 AS (SELECT c_label, list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS cv
       |            FROM cd GROUP BY c_label),
       |     c AS (SELECT c_label, cv, sqrt(${duckDot("cv", "cv")}) AS cnrm FROM c0),
       |     scored AS (SELECT e.vec_id, e.c_label, e.sim,
       |                       row_number() OVER (PARTITION BY e.vec_id
       |                         ORDER BY ${duckRound6("e.sim")} DESC, e.c_label) AS rk
       |                FROM (SELECT e.vec_id, c.c_label,
       |                             ${duckDot("e.v", "c.cv")} / (e.nrm * c.cnrm) AS sim
       |                      FROM e CROSS JOIN c) e),
       |     a AS (SELECT e.vec_id, e.v, e.nrm, s.c_label AS cell
       |           FROM e JOIN scored s ON e.vec_id = s.vec_id AND s.rk = 1),
       |     p AS (SELECT v AS pv, nrm AS pnrm, cell AS pcell FROM a WHERE vec_id = 0),
       |     s2 AS (SELECT a.vec_id, a.cell,
       |                   ${duckDot("a.v", "pv")} / (a.nrm * pnrm) AS sim0
       |            FROM a, p WHERE a.vec_id <> 0 AND a.cell = pcell)
       |SELECT vec_id, cell, ${duckRound4("sim0")} AS sim
       |FROM s2 ORDER BY sim0 DESC, vec_id LIMIT $TopK""".stripMargin

  // ---------- 6b. q_ivf_nprobe: nprobe=2 IVF serving ----------

  private val IvfNprobe = 3

  /** IVF search probing the TOP-[[IvfNprobe]] cells by
    * probe-to-centroid similarity — the recall/latency knob every IVF
    * deployment turns ([[ivfSearch]]'s nprobe = 1 misses neighbors
    * that landed just across a cell boundary; probing the runner-up
    * cells reads nprobe−1 more partitions and repairs most of them —
    * the learned-cell analogue of [[annMultiprobe]]'s Hamming-1
    * bucket expansion; `VectorRecallSpec` pins recall ≥ the
    * single-cell path). Cell election reuses the SAME rounded ranking
    * as the assignment step (rk ≤ nprobe
    * instead of rk = 1), so the served cells are exactly the
    * assignment argmin's runners-up — engine-independent by the same
    * round6 + c_label tie-break.
    *
    * Scale: the corpus side still reads only its own cell partitions
    * (nprobe of K directories under [[RunIndex]]'s layout); the probe
    * side is a broadcast of nprobe rows. Work scales with the two
    * cells' occupancy, never the corpus.
    */
  def ivfSearchNprobe(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    val cb = codebook(vecs)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(round6(col("sim")).desc, col("c_label"))
    val probeCells = vecs.filter(col("vec_id") === 0)
      .join(broadcast(cb))
      .withColumn("sim", VectorFns.cosineStaged(
        col("v"), col("cv"), col("nrm"), col("cnrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= IvfNprobe)
      .select(col("c_label").as("pcell"), col("v").as("pv"), col("nrm").as("pnrm"))
    assignedCells(vecs).filter(col("vec_id") =!= 0)
      .join(broadcast(probeCells), col("cell") === col("pcell"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(TopK)
      .select(col("vec_id"), col("cell"), round4(col("sim")).as("sim"))
  }

  private val sqlIvfSearchNprobe =
    s"""WITH $duckVecs,
       |     x AS (SELECT label AS c_label, CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |           FROM e0 CROSS JOIN range(1, 65) t(i)),
       |     cd AS (SELECT c_label, dim, avg(x) AS cx FROM x GROUP BY c_label, dim),
       |     c0 AS (SELECT c_label, list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS cv
       |            FROM cd GROUP BY c_label),
       |     c AS (SELECT c_label, cv, sqrt(${duckDot("cv", "cv")}) AS cnrm FROM c0),
       |     scored AS (SELECT e.vec_id, e.c_label, e.sim,
       |                       row_number() OVER (PARTITION BY e.vec_id
       |                         ORDER BY ${duckRound6("e.sim")} DESC, e.c_label) AS rk
       |                FROM (SELECT e.vec_id, c.c_label,
       |                             ${duckDot("e.v", "c.cv")} / (e.nrm * c.cnrm) AS sim
       |                      FROM e CROSS JOIN c) e),
       |     a AS (SELECT e.vec_id, e.v, e.nrm, s.c_label AS cell
       |           FROM e JOIN scored s ON e.vec_id = s.vec_id AND s.rk = 1),
       |     p2 AS (SELECT c_label AS pcell FROM scored WHERE vec_id = 0 AND rk <= $IvfNprobe),
       |     pv AS (SELECT v AS pv, nrm AS pnrm FROM e WHERE vec_id = 0),
       |     s2 AS (SELECT a.vec_id, a.cell,
       |                   ${duckDot("a.v", "pv")} / (a.nrm * pnrm) AS sim0
       |            FROM a JOIN p2 ON a.cell = p2.pcell CROSS JOIN pv
       |            WHERE a.vec_id <> 0)
       |SELECT vec_id, cell, ${duckRound4("sim0")} AS sim
       |FROM s2 ORDER BY sim0 DESC, vec_id LIMIT $TopK""".stripMargin

  // ---------- 6c. q_ivf_recall_curve: recall@k vs nprobe ----------

  /** The recall-vs-nprobe operating curve for the IVF index — the
    * table a deployer reads to pick [[ivfSearchNprobe]]'s knob: for
    * nprobe ∈ 1..[[IvfNprobe]], recall@[[TopK]] of the cell-pruned
    * search against the exact flat scan, aggregated over the
    * deterministic probe sample ([[annRecall]]'s every-
    * [[RecallProbeStep]]th convention). One query emits the whole
    * curve: each candidate (probe, vector) pair is scored ONCE and
    * fanned out to the levels it serves (a vector in the probe's
    * rank-r cell is a candidate at every nprobe ≥ r — candidate sets
    * are nested by construction, which is also why the curve is
    * monotone in practice; `VectorRecallSpec` pins it on the
    * fixture).
    *
    * Scale: cell election + assignment reuse the broadcast-codebook
    * pass; the exact side is the audit's cost (bounded probe set ×
    * corpus, the [[annRecall]] shape — an audit, run sampled); the
    * IVF side reads only the probes' top-[[IvfNprobe]] cells and the
    * level fan-out multiplies candidates by ≤ nprobe, never the
    * corpus.
    */
  def ivfRecallCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    val cb = codebook(vecs)
    // Corpus-side assignment goes through the shared argmin aggregate
    // (one row per vector crosses the exchange); the top-nprobe rank
    // is windowed only over the PROBE subset — per-vector ranks are
    // independent, so filtering before ranking is exact, and the
    // full-corpus ×centroids sort the shared window paid is gone.
    val assigned = assignStep(vecs, cb)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(round6(col("sim")).desc, col("c_label"))
    val probeCells = vecs
      .filter(pmod(col("vec_id"), lit(RecallProbeStep)) === 0 && col("vec_id") < ProbeIdCap)
      .join(broadcast(cb))
      .withColumn("sim", VectorFns.cosineStaged(
        col("v"), col("cv"), col("nrm"), col("cnrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= IvfNprobe)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("c_label").as("pcell"), col("rk").as("prank"))
    val probes = vecs.filter((pmod(col("vec_id"), lit(RecallProbeStep)) === 0 && col("vec_id") < ProbeIdCap))
      .select(col("vec_id").as("probe_id"),
        col("v").as("pv"), col("nrm").as("pnrm"))
    val byProbe = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val exact = vecs.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim", VectorFns.cosineStaged(
        col("v"), col("pv"), col("nrm"), col("pnrm")))
      .withColumn("rk", row_number().over(byProbe))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id"))
    val cands = assigned
      .join(broadcast(probeCells), col("cell") === col("pcell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim", VectorFns.cosineStaged(
        col("v"), col("pv"), col("nrm"), col("pnrm")))
      .select(col("probe_id"), col("vec_id"), col("sim"), col("prank"))
      .withColumn("nprobe",
        explode_outer(sequence(col("prank"), lit(IvfNprobe))))
    val byLevel = Window.partitionBy("probe_id", "nprobe")
      .orderBy(col("sim").desc, col("vec_id"))
    val ann = cands
      .withColumn("rk", row_number().over(byLevel))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id"), col("nprobe"))
    val nProbes = probes.agg(count(lit(1)).as("n_probes"))
    val hits = ann.join(exact, Seq("probe_id", "vec_id"))
      .groupBy("nprobe").agg(count(lit(1)).as("hits"))
    cands.groupBy("nprobe").agg(count(lit(1)).as("n_cands"))
      .join(hits, Seq("nprobe"), "left")
      .crossJoin(broadcast(nProbes))
      .select(col("nprobe"), col("n_probes"), col("n_cands"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round4(coalesce(col("hits"), lit(0L)).cast("double")
          / (col("n_probes") * TopK).cast("double")).as("recall"))
      .orderBy("nprobe")
  }

  private val sqlIvfRecallCurve =
    s"""WITH $duckVecs,
       |     x AS (SELECT label AS c_label, CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |           FROM e0 CROSS JOIN range(1, 65) t(i)),
       |     cd AS (SELECT c_label, dim, avg(x) AS cx FROM x GROUP BY c_label, dim),
       |     c0 AS (SELECT c_label, list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS cv
       |            FROM cd GROUP BY c_label),
       |     c AS (SELECT c_label, cv, sqrt(${duckDot("cv", "cv")}) AS cnrm FROM c0),
       |     scored AS (SELECT e.vec_id, e.c_label, e.sim,
       |                       row_number() OVER (PARTITION BY e.vec_id
       |                         ORDER BY ${duckRound6("e.sim")} DESC, e.c_label) AS rk
       |                FROM (SELECT e.vec_id, c.c_label,
       |                             ${duckDot("e.v", "c.cv")} / (e.nrm * c.cnrm) AS sim
       |                      FROM e CROSS JOIN c) e),
       |     a AS (SELECT e.vec_id, e.v, e.nrm, s.c_label AS cell
       |           FROM e JOIN scored s ON e.vec_id = s.vec_id AND s.rk = 1),
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm
       |           FROM e WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     pc AS (SELECT vec_id AS probe_id, c_label AS pcell, rk AS prank
       |            FROM scored WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap AND rk <= $IvfNprobe),
       |     ex AS (SELECT probe_id, vec_id,
       |              row_number() OVER (PARTITION BY probe_id
       |                ORDER BY ${duckDot("v", "pv")} / (nrm * pnrm) DESC, vec_id) AS rk
       |            FROM e, p WHERE vec_id <> probe_id),
       |     exact AS (SELECT probe_id, vec_id FROM ex WHERE rk <= $TopK),
       |     cl AS (SELECT pc.probe_id, a.vec_id,
       |                   ${duckDot("a.v", "p.pv")} / (a.nrm * p.pnrm) AS sim, pc.prank
       |            FROM a JOIN pc ON a.cell = pc.pcell
       |                   JOIN p ON p.probe_id = pc.probe_id
       |            WHERE a.vec_id <> pc.probe_id),
       |     lv AS (SELECT probe_id, vec_id, sim, CAST(n AS INT) AS nprobe
       |            FROM cl CROSS JOIN range(1, ${IvfNprobe + 1}) t(n) WHERE n >= prank),
       |     ac AS (SELECT probe_id, vec_id, nprobe,
       |              row_number() OVER (PARTITION BY probe_id, nprobe
       |                ORDER BY sim DESC, vec_id) AS rk
       |            FROM lv),
       |     ann AS (SELECT probe_id, vec_id, nprobe FROM ac WHERE rk <= $TopK),
       |     np AS (SELECT count(*) AS n_probes FROM p),
       |     h AS (SELECT nprobe, count(*) AS hits
       |           FROM ann JOIN exact USING (probe_id, vec_id) GROUP BY 1),
       |     nc AS (SELECT nprobe, count(*) AS n_cands FROM lv GROUP BY 1)
       |SELECT nc.nprobe, CAST(n_probes AS BIGINT) AS n_probes,
       |       CAST(n_cands AS BIGINT) AS n_cands,
       |       CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |       ${duckRound4(
                  s"CAST(coalesce(hits, 0) AS DOUBLE) / CAST(n_probes * $TopK AS DOUBLE)")} AS recall
       |FROM nc LEFT JOIN h ON nc.nprobe = h.nprobe CROSS JOIN np
       |ORDER BY nc.nprobe""".stripMargin

  // ---------- 6c2. q_graph_ann: graph-based ANN (HNSW-lite beam search) ----------

  /** Base-layer out-degree of the neighbor graph, fixed hop budget,
    * and the beam widths the operating curve reports. EntryStride
    * defines the coarse layer: every 32nd vector, brute-force-scanned
    * per probe to elect the search entry — HNSW's upper layers
    * collapsed into one exactly-scanned sample (N/32 dots per probe),
    * which is what the hierarchy amounts to asymptotically.
    */
  private val GraphDeg = 8
  private val GraphHops = 5
  private val GraphBeams = Seq(1, 4, 16, 64)
  private val EntryStride = 32L

  /** Graph-based ANN serving (the HNSW/NSW family — Malkov & Yashunin
    * TPAMI 2018): beam search over a persisted deterministic k-NN
    * graph, reported as recall@[[TopK]] per beam width against the
    * exact flat scan — the `q_ivf_recall_curve` pattern, completing
    * the serving-index families (LSH, multi-probe, IVF, PQ/RQ, now
    * graph). The graph is the top-[[GraphDeg]] cosine out-edges
    * within each capped LSH block, SYMMETRIZED (in-links make hubs
    * reachable — the NSW navigability ingredient); the entry point
    * comes from the coarse layer's exact scan, so the beam starts in
    * the probe's neighborhood and [[GraphHops]] hops of width-bw
    * best-first expansion refine it. Beam semantics: visited =
    * every scored candidate (dedup by max), beam = top-bw of visited
    * — monotone, so wider beams strictly dominate (the curve's
    * operating trade is beam width ∝ dots-per-hop vs recall).
    *
    * Oracle: DuckDB replays the ENTIRE pipeline (graph build, entry
    * election, all three hops, recall join) — the gate proves the
    * search path, not just the recall arithmetic. Parity: every rank
    * orders on the raw left-fold cosine with vec_id tie-break (the
    * family's proven-exact convention); the only division per score
    * is IEEE-correct.
    *
    * Scale: graph build is the [[knnBatch]] shape (Σ blk² bounded by
    * [[BlockCap]]'s sub-split ladder); the graph persists
    * (localCheckpoint here; a table in production). Per-probe search
    * cost is bw·[[GraphDeg]]·[[GraphHops]] dots + the N/EntryStride
    * coarse scan — probes are the bounded audit sample, and each
    * hop's frontier/candidate set is broadcast-joined against the
    * graph and corpus (beam side is tiny by construction).
    */
  def graphAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    // TWO independent LSH views (offset sampled dims): a single
    // blocking yields a graph with zero cross-block edges, so the
    // beam could never leave the entry's block component (measured:
    // recall stuck at 0.04 across widths). Union of both views'
    // within-block candidates gives the bridges; each view is
    // population-capped independently.
    def edgesOf(off: Int): DataFrame = {
      val blocked = withCappedBlock(
        vecs.withColumn("bucket",
          VectorFns.signBucketAt(col("v"), LshBits, LshStride, off)), "bucket")
      blocked.as("a").join(blocked.as("b"),
          col("a.blk") === col("b.blk") && col("a.vec_id") =!= col("b.vec_id"))
        .withColumn("sim", VectorFns.cosineStaged(
          col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"), col("sim"))
    }
    // Top-GraphDeg out-edges per src in ONE exchange: a pair seen in
    // both LSH views carries the SAME cosine (pure function of the
    // two vectors), so the old groupBy(src, dst).max(sim) dedup is a
    // set collapse — collect_set inside the per-src bounded top-k
    // aggregate does dedup and ranking together, retiring the
    // (src, dst) exchange AND the row_number Window's
    // Exchange+Sort (ordering-equivalent: sort by (−sim, dst)).
    val out = edgesOf(1).unionByName(edgesOf(3))
      .groupBy("src")
      .agg(array_sort(collect_set(struct((-col("sim")).as("ns"),
        col("dst").as("d")))).as("arr"))
      .withColumn("top", slice(col("arr"), lit(1), lit(GraphDeg)))
      .select(col("src"), explode_outer(col("top")).as("e"))
      .select(col("src"), col("e.d").as("dst"))
    val graph = out.union(out.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    val probes = vecs
      .filter(pmod(col("vec_id"), lit(RecallProbeStep)) === 0 &&
        col("vec_id") < ProbeIdCap)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
      .localCheckpoint(true)
    // Per-group TOP-K without a Window (round-17 batch-6 shape, bounded
    // top-k edition): groups here are (probe, width) beams of ≤
    // bw·deg·hops ≈ hundreds of rows, so collect into one array, sort
    // by the identical (−sim, vec_id) key — −x is an exact IEEE
    // negation, struct sort is lexicographic — and slice the prefix.
    // Ordering-equivalent to row_number(sim DESC, vec_id) row by row.
    // collect_SET, not list: sim is a pure function of (probe, vec),
    // so re-visited candidates are EXACT struct duplicates and the
    // set collapse IS the old groupBy(probe, bw, vec_id).max(sim)
    // dedup — which lets the loop below skip the per-hop dedup
    // shuffle entirely and carry visited as a plain union.
    def topKArr(df: DataFrame, keys: Seq[String],
                k: org.apache.spark.sql.Column): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(array_sort(collect_set(struct((-col("sim")).as("ns"),
          col("vec_id").as("vid"), col("sim").as("s")))).as("arr"))
        .withColumn("top", slice(col("arr"), lit(1), k))
        .select(keys.map(col) :+
          explode_outer(col("top")).as("e"): _*)
        .select(keys.map(col) :+ col("e.vid").as("vec_id") :+
          col("e.s").as("sim"): _*)
    // coarse layer: exact scan of the every-EntryStride-th sample
    // elects the entry; fan out to one starting beam row per width
    // (explode_outer: the width array is provably non-empty — the
    // InferFiltersFromGenerate rule)
    // entry election: min(struct(−sim, vec_id)) per probe — the
    // coarse scan's winner aggregates map-side instead of shuffling
    // the sampled-corpus × probes fan under a window sort.
    val entry = vecs.filter(pmod(col("vec_id"), lit(EntryStride)) === 0)
      .crossJoin(broadcast(probes))
      .withColumn("sim", VectorFns.cosineStaged(
        col("v"), col("pv"), col("nrm"), col("pnrm")))
      .groupBy(col("probe_id"))
      .agg(min(struct((-col("sim")).as("k1"), col("vec_id").as("k2"),
        col("sim").as("s"))).as("w"))
      .select(col("probe_id"),
        explode_outer(array(GraphBeams.map(lit): _*)).as("bw"),
        col("w.k2").as("vec_id"), col("w.s").as("sim"))
    val scoreVecs = vecs.select(col("vec_id"), col("v"), col("nrm"))
    var visited = entry.localCheckpoint(true)
    var beam = visited
    for (_ <- 1 to GraphHops) {
      val frontier = beam.select(col("probe_id"), col("bw"), col("vec_id").as("src"))
      val candIds = graph.join(broadcast(frontier), "src")
        .select(col("probe_id"), col("bw"), col("dst").as("vec_id"))
      val cand = scoreVecs.join(broadcast(candIds), "vec_id")
        .join(broadcast(probes), "probe_id")
        .withColumn("sim", VectorFns.cosineStaged(
          col("v"), col("pv"), col("nrm"), col("pnrm")))
        .select(col("probe_id"), col("bw"), col("vec_id"), col("sim"))
      // ZERO shuffles in the hop's checkpoint job: visited accumulates
      // as a plain union (duplicates and all — collect_set in topKArr
      // dedupes exactly, see above), so the old per-hop
      // groupBy(probe, bw, vec_id) dedup exchange AND the beam
      // Window's Exchange+Sort disappear; the only per-hop shuffle is
      // the beam aggregate itself, evaluated when the next hop
      // broadcasts its frontier.
      visited = visited.unionByName(cand).localCheckpoint(true)
      beam = topKArr(visited, Seq("probe_id", "bw"), col("bw").cast("int"))
    }
    val vis = visited.filter(col("vec_id") =!= col("probe_id"))
    val ann = topKArr(vis, Seq("probe_id", "bw"), lit(TopK))
      .select(col("probe_id"), col("bw"), col("vec_id"))
    val exact = topKArr(
      scoreVecs.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("sim", VectorFns.cosineStaged(
          col("v"), col("pv"), col("nrm"), col("pnrm"))),
      Seq("probe_id"), lit(TopK))
      .select(col("probe_id"), col("vec_id"))
    val nProbes = probes.agg(count(lit(1)).as("n_probes"))
    val hits = ann.join(exact, Seq("probe_id", "vec_id"))
      .groupBy("bw").agg(count(lit(1)).as("hits"))
    // visited carries exact duplicates now (the union loop above) —
    // distinct first so n_visited still counts deduped (probe, vec)
    // rows, identical to the old per-hop max(sim) dedup's count
    vis.select("probe_id", "bw", "vec_id").distinct()
      .groupBy("bw").agg(count(lit(1)).as("n_visited"))
      .join(hits, Seq("bw"), "left")
      .crossJoin(broadcast(nProbes))
      .select(col("bw").as("beam"), col("n_probes"), col("n_visited"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round4(coalesce(col("hits"), lit(0L)).cast("double") /
          (col("n_probes") * TopK).cast("double")).as("recall"))
      .orderBy("beam")
  }

  private val sqlGraphAnn = {
    val hops = (1 to GraphHops).map { h =>
      s"""     c$h AS (SELECT bm.probe_id, bm.bw, g.dst AS vec_id,
         |                   ${duckDot("e.v", "p.pv")} / (e.nrm * p.pnrm) AS sim
         |            FROM beam${h - 1} bm
         |            JOIN graph g ON bm.vec_id = g.src
         |            JOIN e ON e.vec_id = g.dst
         |            JOIN p ON p.probe_id = bm.probe_id),
         |     v$h AS (SELECT probe_id, bw, vec_id, max(sim) AS sim
         |            FROM (SELECT * FROM v${h - 1} UNION ALL SELECT * FROM c$h)
         |            GROUP BY 1, 2, 3),
         |     beam$h AS (SELECT probe_id, bw, vec_id, sim FROM (
         |              SELECT probe_id, bw, vec_id, sim,
         |                     row_number() OVER (PARTITION BY probe_id, bw
         |                       ORDER BY sim DESC, vec_id) AS rk
         |              FROM v$h) WHERE rk <= bw),""".stripMargin
    }.mkString("\n")
    def duckBucketAt(off: Int): String =
      (0 until LshBits).map { j =>
        s"(CASE WHEN v[${off + j * LshStride}] > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    def viewAt(off: Int, sfx: String): String =
      s"""b0$sfx AS (SELECT vec_id, v, nrm, ${duckBucketAt(off)} AS bucket FROM e),
         |     bn0$sfx AS (SELECT bucket, count(*) AS bn FROM b0$sfx GROUP BY bucket),
         |     b$sfx AS (SELECT vec_id, v, nrm, b0$sfx.bucket,
         |                      ${duckBlk(s"b0$sfx.bucket")} AS blk
         |           FROM b0$sfx JOIN bn0$sfx ON b0$sfx.bucket = bn0$sfx.bucket),
         |     ge$sfx AS (SELECT a.vec_id AS src, b2.vec_id AS dst,
         |                       ${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm) AS sim
         |            FROM b$sfx a JOIN b$sfx b2
         |              ON a.blk = b2.blk AND a.vec_id <> b2.vec_id)""".stripMargin
    s"""WITH $duckVecs,
       |     ${viewAt(1, "x")},
       |     ${viewAt(3, "y")},
       |     g0 AS (SELECT src, dst,
       |                   row_number() OVER (PARTITION BY src
       |                     ORDER BY sim DESC, dst) AS rk
       |            FROM (SELECT src, dst, max(sim) AS sim
       |                  FROM (SELECT * FROM gex UNION ALL SELECT * FROM gey)
       |                  GROUP BY 1, 2)),
       |     g1 AS (SELECT src, dst FROM g0 WHERE rk <= $GraphDeg),
       |     graph AS (SELECT DISTINCT src, dst FROM
       |                 (SELECT src, dst FROM g1
       |                  UNION ALL SELECT dst AS src, src AS dst FROM g1)),
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm FROM e
       |           WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     entry0 AS (SELECT p.probe_id, e.vec_id,
       |                       ${duckDot("e.v", "p.pv")} / (e.nrm * p.pnrm) AS sim,
       |                       row_number() OVER (PARTITION BY p.probe_id
       |                         ORDER BY ${duckDot("e.v", "p.pv")} / (e.nrm * p.pnrm) DESC,
       |                                  e.vec_id) AS rk
       |                FROM e JOIN p ON TRUE WHERE e.vec_id % $EntryStride = 0),
       |     v0 AS (SELECT probe_id, bw, vec_id, sim
       |            FROM entry0 CROSS JOIN (VALUES ${
                      GraphBeams.map(b => s"($b)").mkString(", ")}) t(bw)
       |            WHERE rk = 1),
       |     beam0 AS (SELECT * FROM v0),
       |$hops
       |     vis AS (SELECT * FROM v$GraphHops WHERE vec_id <> probe_id),
       |     ann AS (SELECT probe_id, bw, vec_id FROM (
       |              SELECT probe_id, bw, vec_id,
       |                     row_number() OVER (PARTITION BY probe_id, bw
       |                       ORDER BY sim DESC, vec_id) AS rk
       |              FROM vis) WHERE rk <= $TopK),
       |     ex AS (SELECT probe_id, vec_id FROM (
       |             SELECT p.probe_id, e.vec_id,
       |                    row_number() OVER (PARTITION BY p.probe_id
       |                      ORDER BY ${duckDot("e.v", "p.pv")} / (e.nrm * p.pnrm) DESC,
       |                               e.vec_id) AS rk
       |             FROM e, p WHERE e.vec_id <> p.probe_id) WHERE rk <= $TopK),
       |     np AS (SELECT count(*) AS n_probes FROM p),
       |     h AS (SELECT bw, count(*) AS hits
       |           FROM ann JOIN ex USING (probe_id, vec_id) GROUP BY 1),
       |     nv AS (SELECT bw, CAST(count(*) AS BIGINT) AS n_visited FROM vis GROUP BY 1)
       |SELECT CAST(nv.bw AS INT) AS beam, CAST(n_probes AS BIGINT) AS n_probes,
       |       n_visited, CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |       ${duckRound4(
                 s"CAST(coalesce(hits, 0) AS DOUBLE) / CAST(n_probes * $TopK AS DOUBLE)")} AS recall
       |FROM nv LEFT JOIN h USING (bw) CROSS JOIN np
       |ORDER BY beam""".stripMargin
  }

  // ---------- 6d. q_mrl_curve: recall@k vs embedding-dim prefix ----------

  /** Matryoshka truncation levels (dim prefixes). The last level is
    * the full dimensionality, so its recall is 1.0 by construction —
    * a built-in self-check the oracle also asserts.
    */
  private val MrlDims = Seq(8, 16, 32, 64)

  /** Recall@[[TopK]] when serving from a DIMENSION PREFIX of the
    * embedding (Matryoshka representation learning, Kusupati et al.
    * 2022): the operating table a deployer reads to decide how many
    * leading dimensions the serving index actually needs. For each
    * prefix width, exact top-k on the truncated vectors is compared
    * against full-width exact top-k over the deterministic probe
    * sample ([[annRecall]]'s every-[[RecallProbeStep]]th convention).
    *
    * Scale: the level fan-out multiplies the corpus by |[[MrlDims]]|
    * = 4 (each row sliced + one native dot), probes are bounded and
    * broadcast, and the per-(level, probe) top-k is a window over
    * probe-keyed partitions — the audit costs 4× [[annRecall]]'s
    * exact side and is run sampled, exactly like every other recall
    * audit here. Parity: `slice` ≡ `list_slice` (1-based, length-
    * capped on both engines), staged prefix norms, identical raw-sim
    * ranking DAG with vec_id tie-break.
    */
  def mrlCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val levels = MrlDims.toDF("dims")
    val vl = withVecs(spark, sfDir)
      .crossJoin(broadcast(levels))
      .withColumn("vd", slice(col("v"), lit(1), col("dims")))
      .withColumn("nd", VectorFns.norm(col("vd")))
      .select(col("vec_id"), col("dims"), col("vd"), col("nd"))
    val probes = vl.filter((pmod(col("vec_id"), lit(RecallProbeStep)) === 0 && col("vec_id") < ProbeIdCap))
      .select(col("dims").as("pdims"), col("vec_id").as("probe_id"),
        col("vd").as("pv"), col("nd").as("pn"))
    val byLevel = Window.partitionBy("dims", "probe_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val top = vl.join(broadcast(probes), col("dims") === col("pdims"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("vd"), col("pv"), col("nd"), col("pn")))
      .withColumn("rk", row_number().over(byLevel))
      .filter(col("rk") <= TopK)
      .select(col("dims"), col("probe_id"), col("vec_id"))
    val truth = top.filter(col("dims") === MrlDims.max)
      .select(col("probe_id"), col("vec_id"))
    val hits = top.join(truth, Seq("probe_id", "vec_id"))
      .groupBy("dims").agg(count(lit(1)).as("hits"))
    val nProbes = withVecs(spark, sfDir)
      .filter((pmod(col("vec_id"), lit(RecallProbeStep)) === 0 && col("vec_id") < ProbeIdCap))
      .agg(count(lit(1)).as("n_probes"))
    levels.join(hits, Seq("dims"), "left")
      .crossJoin(broadcast(nProbes))
      .select(col("dims"), col("n_probes"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round4(coalesce(col("hits"), lit(0L)).cast("double")
          / (col("n_probes") * TopK).cast("double")).as("recall"))
      .orderBy("dims")
  }

  private val sqlMrlCurve =
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     lv AS (SELECT CAST(unnest([${MrlDims.mkString(",")}]) AS INT) AS dims),
       |     vl0 AS (SELECT vec_id, dims, list_slice(v, 1, dims) AS vd FROM e0, lv),
       |     vl AS (SELECT vec_id, dims, vd, sqrt(${duckDot("vd", "vd")}) AS nd FROM vl0),
       |     p AS (SELECT dims AS pdims, vec_id AS probe_id, vd AS pv, nd AS pn
       |           FROM vl WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     sc AS (SELECT vl.dims, probe_id, vec_id,
       |              row_number() OVER (PARTITION BY vl.dims, probe_id
       |                ORDER BY ${duckDot("vd", "pv")} / (nd * pn) DESC, vec_id) AS rk
       |            FROM vl JOIN p ON vl.dims = p.pdims
       |            WHERE vec_id <> probe_id),
       |     topd AS (SELECT dims, probe_id, vec_id FROM sc WHERE rk <= $TopK),
       |     truth AS (SELECT probe_id, vec_id FROM topd WHERE dims = ${MrlDims.max}),
       |     h AS (SELECT dims, CAST(count(*) AS BIGINT) AS hits
       |           FROM topd JOIN truth USING (probe_id, vec_id) GROUP BY dims),
       |     np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes
       |            FROM e0 WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap)
       |SELECT lv.dims, n_probes,
       |       CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |       ${duckRound4(
                  s"CAST(coalesce(hits, 0) AS DOUBLE) / CAST(n_probes * $TopK AS DOUBLE)")} AS recall
       |FROM lv LEFT JOIN h ON lv.dims = h.dims CROSS JOIN np
       |ORDER BY lv.dims""".stripMargin

  // ---------- 7. q_sq_error: int8 scalar-quantization fidelity ----------

  private val SqLevels = 255L

  /** Scalar quantization (the FAISS-style SQ8 storage step): each
    * dimension is linearly mapped to 0..255 against its corpus-wide
    * min/max, reconstructed, and the per-vector reconstruction error
    * reported per label — the fidelity audit run before committing a
    * corpus to compressed storage (4× smaller than float32, 8× than
    * the double working form).
    *
    * Scale: the per-dim min/max stats are one map-side-combinable
    * shuffle of O(dims) state, BROADCAST back (the codebook pattern of
    * [[ivfAssign]]); quantize + error is then a per-row map. The
    * rounding inside quantization is the floor(x+0.5) form, identical
    * IEEE ops on both engines; the max error aggregate is
    * order-independent, and the mean follows the round(avg) convention
    * of [[centroids]].
    */
  def sqError(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    val stats = vecs
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(
        expr("transform(array_sort(collect_list(struct(dim, mn))), p -> p.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(dim, mx))), p -> p.mx)").as("mxs"))
    // per element: |x - dequant(quant(x))|; degenerate dims (mx = mn)
    // reconstruct exactly. One-pass native kernel ([[SqErrExpr]]) —
    // the HOF form traversed the vector three times (interpreted
    // transform with three element_ats per element, aggregate fold,
    // array_max); the kernel is bit-identical by construction
    // (VectorFnsSpec pins it against the HOF form).
    vecs.crossJoin(broadcast(stats))
      .withColumn("me",
        graft.functions.VectorNative.sqErr(col("v"), col("mns"), col("mxs")))
      .withColumn("mean_err", element_at(col("me"), 1))
      .withColumn("max_err", element_at(col("me"), 2))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg(col("mean_err")), 4).as("avg_err"),
        round4(max(col("max_err"))).as("worst_err"))
      .orderBy("label")
  }

  private val sqlSqError = {
    val deq = s"(mns[CAST(i AS INT)] + floor((v[CAST(i AS INT)] - mns[CAST(i AS INT)]) / " +
      s"(mxs[CAST(i AS INT)] - mns[CAST(i AS INT)]) * $SqLevels + 0.5) / $SqLevels * " +
      s"(mxs[CAST(i AS INT)] - mns[CAST(i AS INT)]))"
    s"""WITH $duckVecs,
       |     x AS (SELECT CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |           FROM e0 CROSS JOIN range(1, 65) t(i)),
       |     d AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM x GROUP BY dim),
       |     s AS (SELECT list_transform(list_sort(list({'dim': dim, 'mn': mn})), p -> p.mn) AS mns,
       |                  list_transform(list_sort(list({'dim': dim, 'mx': mx})), p -> p.mx) AS mxs
       |           FROM d),
       |     er AS (SELECT e0.vec_id, e0.label,
       |                   list_transform(range(1, len(v) + 1), i ->
       |                     CASE WHEN mxs[CAST(i AS INT)] = mns[CAST(i AS INT)] THEN 0.0
       |                     ELSE abs(v[CAST(i AS INT)] - $deq) END) AS errs,
       |                   len(v) AS nd
       |            FROM e0 CROSS JOIN s),
       |     pe AS (SELECT vec_id, label,
       |                   list_reduce([CAST(0.0 AS DOUBLE)] || errs, (a, e) -> a + e) / nd AS mean_err,
       |                   list_max(errs) AS max_err
       |            FROM er)
       |SELECT label, count(*) AS n,
       |       round(avg(mean_err), 4) AS avg_err,
       |       ${duckRound4("max(max_err)")} AS worst_err
       |FROM pe GROUP BY label ORDER BY label""".stripMargin
  }

  // ---------- 2b². q_ann_multiprobe: Hamming-1 multi-probe ANN ----------

  /** Multi-probe ANN: search the probe's bucket AND its [[LshBits]]
    * Hamming-1 neighbor buckets — the standard recall repair for
    * sign-LSH (Lv et al., "Multi-probe LSH", VLDB 2007) that
    * [[annRecall]]'s audit calls for on this unclustered corpus. A
    * vector one sign-flip away from the probe lands in a neighbor
    * bucket; probing all of them trades a bounded candidate-set
    * growth (≤ (bits+1)/2^bits of the corpus in expectation) for a
    * large recall gain.
    *
    * Scale shape: the neighbor buckets are GENERATED on the tiny
    * probe side (explode of bits+1 XOR keys, broadcast), so the
    * corpus side still meets candidates through a plain equi-join on
    * its one precomputed bucket key — no range or bit-distance
    * predicate ever touches the big side, which keeps the join
    * key-partitioned and partition-prunable at 100 TB.
    */
  def annMultiprobe(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
      .withColumn("bucket", VectorFns.signBucket(col("v"), LshBits, LshStride))
    val masks = lit(0L) +: (0 until LshBits).map(j => lit(1L << j))
    val probeBuckets = vecs.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("nrm").as("pnrm"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(m)): _*)).as("bucket"))
    vecs.filter(col("vec_id") =!= 0)
      .join(broadcast(probeBuckets), "bucket")
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(TopK)
      .select(col("vec_id"), col("bucket"), round4(col("sim")).as("sim"))
  }

  private val sqlAnnMultiprobe = {
    val masks = 0L +: (0 until LshBits).map(j => 1L << j)
    val keys = masks.map(m => s"xor(pbucket, $m)").mkString("[", ", ", "]")
    s"""WITH $duckVecs,
       |     b AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     p AS (SELECT v AS pv, nrm AS pnrm, bucket AS pbucket FROM b WHERE vec_id = 0),
       |     pb AS (SELECT pv, pnrm, unnest($keys) AS bucket FROM p),
       |     s AS (SELECT vec_id, b.bucket, ${duckDot("v", "pv")} / (nrm * pnrm) AS sim0
       |           FROM b JOIN pb ON b.bucket = pb.bucket WHERE vec_id <> 0)
       |SELECT vec_id, bucket, ${duckRound4("sim0")} AS sim
       |FROM s ORDER BY sim0 DESC, vec_id LIMIT $TopK""".stripMargin
  }

  // ---------- 2b²ᵇ. q_index_serve: the PERSISTED layout under the gate ----------

  /** [[annMultiprobe]] served from [[RunIndex]]'s bucket-partitioned
    * PERSISTED layout instead of the in-plan table — the end-to-end
    * index lifecycle (build → directory-pruned read → top-k) under the
    * DuckDB hash gate, not just spec-pinned. The layout is cached per
    * corpus ([[RunIndex.ensure]]: marker = source + file length, so a
    * regenerated corpus rebuilds); the serve scan reads bits+1 of
    * 2^bits partition DIRECTORIES (RunIndexSpec pins
    * `selectedPartitions ≤ 7`), which is the whole scale story —
    * query IO is a fraction of corpus size before any row is read.
    * Oracle: identical contract to `q_ann_multiprobe` (same probe,
    * same candidates, same rank), computed from the source table.
    */
  def indexServe(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = RunIndex.ensure(spark, sfDir)
    RunIndex.serve(spark, outDir, probeVecId = 0L)
  }

  // ---------- 2b³. q_topk_refresh: incremental top-k ≡ full recompute ----------

  private val RefreshK = 5

  /** The [[TopKMaintain]] contract as a DRIVER-GATED query: the Spark
    * side builds each probe's top-[[RefreshK]] from even vec_ids only
    * and REFRESHES it with the odd-id delta through `refreshTopK`;
    * the oracle ranks the full corpus directly. Hash-match holds
    * because top-k under the total order (sim desc, vec_id) is a
    * mergeable summary and both paths evaluate the identical cosine
    * DAG — the `q_delta_dedup` trick applied to similarity search.
    */
  def topkRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    val probes = vecs.filter((pmod(col("vec_id"), lit(RecallProbeStep)) === 0 && col("vec_id") < ProbeIdCap))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"))
    val byProbe = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val snapshot = vecs.filter(col("vec_id") % 2 === 0)
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .withColumn("rk", row_number().over(byProbe))
      .filter(col("rk") <= RefreshK)
      .select("probe_id", "vec_id", "sim")
    TopKMaintain.refreshTopK(
        snapshot, probes, vecs.filter(col("vec_id") % 2 === 1), RefreshK)
      .select(col("probe_id"), col("vec_id"),
        round4(col("sim")).as("sim"))
      .orderBy("probe_id", "vec_id")
  }

  private val sqlTopkRefresh =
    s"""WITH $duckVecs,
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm
       |           FROM e WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     s AS (SELECT probe_id, vec_id,
       |             ${duckDot("v", "pv")} / (nrm * pnrm) AS sim0,
       |             row_number() OVER (PARTITION BY probe_id
       |               ORDER BY ${duckDot("v", "pv")} / (nrm * pnrm) DESC, vec_id) AS rk
       |           FROM e, p WHERE vec_id <> probe_id)
       |SELECT probe_id, vec_id, ${duckRound4("sim0")} AS sim
       |FROM s WHERE rk <= $RefreshK ORDER BY probe_id, vec_id""".stripMargin

  // ---------- 2c. q_ann_recall: ANN recall audit vs exact kNN ----------


  /** Recall@[[TopK]] of the sign-LSH ANN path against brute-force
    * exact kNN, per probe — the measurement that validates an ANN
    * config (bits/stride) before trusting it, the vector twin of
    * `q_minhash_est` and `q_sq_error`'s sketch audits (and the
    * oracle-verified form of `VectorRecallSpec`'s fixed assertion).
    *
    * Probes are a deterministic 1% sample (every [[RecallProbeStep]]th
    * vector) — a recall audit is always sampled; the exact side is
    * inherently probes × corpus, which is exactly why it cannot be
    * the production query path. Both sides stage norms and buckets
    * once, rank on the identical raw-sim DAG with vec_id tie-break,
    * and the recall ratio is an integer hit count over k — no float
    * reduction anywhere.
    *
    * Scale: the probe set is bounded (sampled) and broadcast; the
    * exact side is one broadcast-nested-loop map over the corpus with
    * a per-probe top-k window (probe-keyed partitions); the ANN side
    * prunes to bucket collisions first. Hit counting is a tiny join
    * of two k·P-row sets.
    *
    * On this corpus the verdict is itself informative: the synthetic
    * embeddings are NOT clustered, so single-bucket recall measures
    * 0.0–0.2 — the audit correctly tells a deployer this config needs
    * multi-probe (neighboring buckets) or the IVF path before
    * production, which is precisely the decision it exists to drive
    * (`VectorRecallSpec` shows the same config reaching ≥0.9 on
    * clustered data, where LSH assumptions hold).
    */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
      .withColumn("bucket", VectorFns.signBucket(col("v"), LshBits, LshStride))
    val probes = vecs.filter((pmod(col("vec_id"), lit(RecallProbeStep)) === 0 && col("vec_id") < ProbeIdCap))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("bucket").as("pbucket"))
    val byProbe = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val exact = vecs.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .withColumn("rk", row_number().over(byProbe))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id"))
    val annCands = vecs.join(broadcast(probes), col("bucket") === col("pbucket"))
      .filter(col("vec_id") =!= col("probe_id"))
    val ann = annCands
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .withColumn("rk", row_number().over(byProbe))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id"))
    val nCands = annCands.groupBy("probe_id")
      .agg(count(lit(1)).as("n_cands"))
    val hits = exact.join(ann, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("hits"))
    nCands
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_cands"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round4(coalesce(col("hits"), lit(0L)).cast("double") / TopK)
          .as("recall"))
      .orderBy("probe_id")
  }

  private val sqlAnnRecall =
    s"""WITH $duckVecs,
       |     b AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm, bucket AS pbucket
       |           FROM b WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     ex AS (SELECT probe_id, vec_id,
       |              row_number() OVER (PARTITION BY probe_id
       |                ORDER BY ${duckDot("v", "pv")} / (nrm * pnrm) DESC, vec_id) AS rk
       |            FROM b, p WHERE vec_id <> probe_id),
       |     exact AS (SELECT probe_id, vec_id FROM ex WHERE rk <= $TopK),
       |     ac AS (SELECT probe_id, vec_id,
       |              row_number() OVER (PARTITION BY probe_id
       |                ORDER BY ${duckDot("v", "pv")} / (nrm * pnrm) DESC, vec_id) AS rk
       |            FROM b JOIN p ON b.bucket = p.pbucket
       |            WHERE vec_id <> probe_id),
       |     ann AS (SELECT probe_id, vec_id FROM ac WHERE rk <= $TopK),
       |     nc AS (SELECT probe_id, count(*) AS n_cands
       |            FROM b JOIN p ON b.bucket = p.pbucket
       |            WHERE vec_id <> probe_id GROUP BY 1),
       |     h AS (SELECT exact.probe_id, count(*) AS hits
       |           FROM exact JOIN ann ON exact.probe_id = ann.probe_id
       |                              AND exact.vec_id = ann.vec_id
       |           GROUP BY 1)
       |SELECT nc.probe_id, CAST(n_cands AS BIGINT) AS n_cands,
       |       CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |       ${duckRound4(s"CAST(coalesce(hits, 0) AS DOUBLE) / $TopK")} AS recall
       |FROM nc LEFT JOIN h ON nc.probe_id = h.probe_id
       |ORDER BY nc.probe_id""".stripMargin

  // ---------- 11b. q_semantic_dedup: SemDeDup cell-blocked dedup ----------

  /** Semantic deduplication, the cluster-then-dedup recipe (SemDeDup,
    * Abbas et al. 2023): assign every vector to its k-means cell
    * ([[assignedCells]] — one broadcast codebook pass, no shuffle),
    * compare pairs ONLY within a cell, and elect the min-id
    * representative for every vector with a ≥ threshold neighbor.
    * Output is one row per vector — (cell, sem_rep, kept) — the keep/
    * drop decision a curation pipeline consumes, never a pair list
    * (CLAUDE.md near-dup rule).
    *
    * vs [[embedNearDup]]: learned cells block by SEMANTIC neighborhood
    * (centroid proximity), where sign-LSH blocks by random hyperplane
    * side — cells are what the published recipe prunes with, and the
    * same blocked-join shape serves both. Representative election is
    * one-hop min (the [[graft.text.TextQueries.minhashCluster]]
    * approximation); [[semanticDedupExact]] is the cluster-atomic
    * variant that closes chains with [[graft.graph
    * .ConnectedComponents]] (`RrfFusionSpec` pins containment: the
    * closure keep-set is a subset of this one-hop keep-set).
    *
    * Scale: pair count is Σ_cell |cell|²/2, bounded by the coarse
    * quantizer's balance — cells over [[BlockCap]] members are split
    * by [[withCappedBlock]]'s sign-bit sub-quantizer (a no-op at the
    * oracle SFs, active on upscaled corpora) so the blocked join is
    * key-partitioned on `blk` with bounded per-key fan-out. The
    * fixture's 10 label-derived cells make the demo exact. Threshold matches
    * [[embedNearDup]]'s fixture-calibrated $NearDupThreshold (real
    * corpora: ≥ 0.95, identical plan).
    */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = withCappedBlock(assignedCells(withVecs(spark, sfDir)), "cell")
    val reps = cells.as("a").join(cells.as("b"),
        col("a.blk") === col("b.blk") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", VectorFns.cosineStaged(
        col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")))
      .filter(col("sim") >= NearDupThreshold)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(min(col("a.vec_id")).as("sem_rep"))
    cells.join(reps, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("sem_rep"), col("vec_id")).as("sem_rep"))
      .withColumn("kept",
        when(col("sem_rep") === col("vec_id"), 1L).otherwise(0L))
      .orderBy("vec_id")
  }

  /** Shared oracle prefix for the SemDeDup pair: codebook → rounded
    * assignment → `cells(vec_id, v, nrm, cell)`. No `WITH` keyword so
    * the closure twin can prepend `WITH RECURSIVE`.
    */
  private val duckSemCells =
    s"""$duckVecs,
       |     x AS (SELECT label AS c_label, CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |           FROM e0 CROSS JOIN range(1, 65) t(i)),
       |     cd AS (SELECT c_label, dim, avg(x) AS cx FROM x GROUP BY c_label, dim),
       |     c0 AS (SELECT c_label, list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS cv
       |            FROM cd GROUP BY c_label),
       |     c AS (SELECT c_label, cv, sqrt(${duckDot("cv", "cv")}) AS cnrm FROM c0),
       |     scored AS (SELECT e.vec_id, e.v, e.nrm, c.c_label,
       |                       ${duckDot("e.v", "c.cv")} / (e.nrm * c.cnrm) AS sim
       |                FROM e CROSS JOIN c),
       |     best AS (SELECT vec_id, v, nrm, c_label,
       |                     row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY ${duckRound6("sim")} DESC, c_label) AS rk
       |              FROM scored),
       |     cells0 AS (SELECT vec_id, v, nrm, c_label AS cell FROM best WHERE rk = 1),
       |     cbn AS (SELECT cell, count(*) AS bn FROM cells0 GROUP BY cell),
       |     cells AS (SELECT vec_id, v, nrm, cells0.cell,
       |                      ${duckBlk("cells0.cell")} AS blk
       |               FROM cells0 JOIN cbn ON cells0.cell = cbn.cell)""".stripMargin

  private val sqlSemanticDedup =
    s"""WITH $duckSemCells,
       |     prs AS (SELECT b2.vec_id AS vec_id, a.vec_id AS rep,
       |                    ${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm) AS sim
       |             FROM cells a JOIN cells b2
       |               ON a.blk = b2.blk AND a.vec_id < b2.vec_id),
       |     reps AS (SELECT vec_id, min(rep) AS sem_rep
       |              FROM prs WHERE sim >= $NearDupThreshold GROUP BY vec_id)
       |SELECT cells.vec_id, cells.cell,
       |       coalesce(reps.sem_rep, cells.vec_id) AS sem_rep,
       |       CAST(CASE WHEN coalesce(reps.sem_rep, cells.vec_id) = cells.vec_id
       |                 THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM cells LEFT JOIN reps ON cells.vec_id = reps.vec_id
       |ORDER BY cells.vec_id""".stripMargin

  // ---------- 11c. q_semdedup_cc: cluster-atomic SemDeDup closure ----------

  /** [[semanticDedup]] with TRANSITIVE representative election: the
    * within-cell ≥-threshold pairs become an edge list, [[graft.graph
    * .ConnectedComponents]] labels each vector with its component's
    * min id, and a vector is kept iff it IS that minimum — so a chain
    * a~b~c collapses to one keeper even when a and c are not directly
    * similar (the case the one-hop election keeps both of; see the
    * spec's 5–9, 1–9 example shape). Same output contract as
    * [[semanticDedup]]: one row per vector, never a pair list.
    *
    * Scale: the edge list is the identical cell-blocked join (bounded
    * per-key fan-out); the fixpoint iterates on edges CONTRACTED to
    * components — per-round cost is one join + one hash agg over the
    * edge set, rounds = cluster diameter (near-dup chains are short;
    * [[graft.graph.ConnectedComponents.runHalving]] is the long-chain
    * fallback). The oracle replays the closure as a recursive CTE,
    * exactly the `q_cc_clusters` pattern.
    */
  def semanticDedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = withCappedBlock(assignedCells(withVecs(spark, sfDir)), "cell")
    val edges = cells.as("a").join(cells.as("b"),
        col("a.blk") === col("b.blk") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", VectorFns.cosineStaged(
        col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")))
      .filter(col("sim") >= NearDupThreshold)
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
    // star-contraction front (runContracted scaladoc): the fixpoint
    // iterates over the local-minima graph only — identical labeling,
    // fewer rounds of edge-grain shuffle at scale
    val comp = ConnectedComponents.runContracted(edges)
    val out = cells.select(col("vec_id"), col("cell"))
      .join(comp.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("component"), col("vec_id")).as("sem_rep"))
      .withColumn("kept",
        when(col("sem_rep") === col("vec_id"), 1L).otherwise(0L))
      .orderBy("vec_id")
    // materialize the small labeling so the per-round checkpoint
    // blocks can be freed now (the docComponents convention); `comp`
    // also reads the staged cells, which `res` no longer needs
    val res = out.localCheckpoint(true)
    Stage.free(comp)
    res
  }

  private val sqlSemanticDedupCc =
    s"""WITH RECURSIVE $duckSemCells,
       |     prs AS (SELECT a.vec_id AS a, b2.vec_id AS b
       |             FROM cells a JOIN cells b2
       |               ON a.blk = b2.blk AND a.vec_id < b2.vec_id
       |             WHERE ${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm) >= $NearDupThreshold),
       |     edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
       |     reach AS (
       |       SELECT DISTINCT a AS node, a AS lbl FROM edges
       |       UNION
       |       SELECT e.a AS node, r.lbl FROM edges e JOIN reach r ON r.node = e.b),
       |     comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
       |SELECT cells.vec_id, cells.cell,
       |       coalesce(comp.component, cells.vec_id) AS sem_rep,
       |       CAST(CASE WHEN coalesce(comp.component, cells.vec_id) = cells.vec_id
       |                 THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM cells LEFT JOIN comp ON cells.vec_id = comp.node
       |ORDER BY cells.vec_id""".stripMargin

  // ---------- 12. q_rrf_fusion: hybrid lexical + vector retrieval ----------

  private val RrfK = 60 // the standard RRF constant (Cormack et al. 2009)

  /** Reciprocal-rank fusion of the two retrieval modalities the engine
    * already serves: the BM25 lexical top-[[graft.text.CorpusOps]]
    * ranking and the exact cosine top-[[TopK]] against the fixed probe
    * (embeddings.vec_id ≡ documents.doc_id, FIXTURES.md). Fused score
    * = Σ 1/(k + rank) over the lists the doc appears in (k = 60) —
    * rank-based fusion needs no score normalization across modalities,
    * which is why it is the standard hybrid-search combiner.
    *
    * Float parity: both fused terms are 1/(60+rank) of INTEGER ranks —
    * identical IEEE doubles on both engines, summed in fixed literal
    * order; the final rank orders on the ROUNDED score with doc_id
    * tie-break (CLAUDE.md rank rule).
    *
    * Scale: each modality produces its top-k with its own scale path
    * (BM25: salted two-phase rank; kNN: TakeOrderedAndProject — the
    * IVF/LSH variants swap in transparently); the fusion join and the
    * final window touch ≤ |bm25| + |knn| ≤ 25 rows by construction —
    * bounded post-limit inputs, the CLAUDE.md-accepted window class.
    */
  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame = {
    val bm = graft.text.CorpusOps.bm25(spark, sfDir)
      .select(col("doc_id"), col("rk").as("bm25_rk"))
    val kn = knnList(spark, sfDir)
      // rank over the already-limited TopK rows (bounded window)
      .withColumn("knn_rk",
        row_number().over(Window.orderBy(col("sim").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("knn_rk"))
    bm.join(kn, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round4(
        coalesce(lit(1.0) / (col("bm25_rk") + RrfK), lit(0.0)) +
          coalesce(lit(1.0) / (col("knn_rk") + RrfK), lit(0.0))))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("bm25_rk"), col("knn_rk"),
        col("rrf"))
      .orderBy("rank")
  }

  private val sqlRrfFusion =
    s"""WITH bm AS (SELECT doc_id, rk AS bm25_rk
       |            FROM (${graft.text.CorpusOps.sqlBm25})),
       |     $duckVecs,
       |     $duckKnnScored,
       |     kr AS (SELECT vec_id,
       |              row_number() OVER (ORDER BY sim0 DESC, vec_id) AS knn_rk
       |            FROM s),
       |     kn AS (SELECT vec_id AS doc_id, knn_rk FROM kr WHERE knn_rk <= $TopK),
       |     f AS (SELECT coalesce(bm.doc_id, kn.doc_id) AS doc_id,
       |             bm25_rk, knn_rk,
       |             coalesce(1.0 / (bm25_rk + $RrfK), 0.0)
       |               + coalesce(1.0 / (knn_rk + $RrfK), 0.0) AS score
       |           FROM bm FULL JOIN kn ON bm.doc_id = kn.doc_id),
       |     r AS (SELECT doc_id, bm25_rk, knn_rk,
       |             ${duckRound4("score")} AS rrf FROM f)
       |SELECT row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank,
       |       doc_id, bm25_rk, knn_rk, rrf
       |FROM r ORDER BY rank""".stripMargin

  // ---------- 12b. q_mmr_rerank: MMR diversified re-rank of the kNN pool ----------

  private val MmrPool = 12
  private val MmrK = 5

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998)
    * of the exact-cosine top-[[MmrPool]] candidate pool: greedily pick
    * [[MmrK]] results maximizing `λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s)`
    * with λ = 1/2 — the diversity-aware serving step a retrieval
    * pipeline runs AFTER [[rrfFusion]]'s fusion, so near-duplicate
    * hits don't crowd the answer list.
    *
    * Cross-engine determinism: λ = 1/2 keeps every score op exact
    * (multiply by 0.5 is a power-of-two scale); pairwise sims are
    * round6-ed BEFORE the max, every argmax ranks round6(score) with
    * a vec_id tie-break.
    *
    * Scale: the candidate pool is bounded ([[MmrPool]] rows post-
    * limit, the TakeOrderedAndProject output of the exact/ANN scan) —
    * the greedy loop's joins all run over pool² = 144 pair rows and
    * never touch the corpus again. Pool and pair matrix are
    * localCheckpoint'd once (iterative-kernel rule: each of the
    * [[MmrK]] driver-paced rounds re-reads both); superseded selected-
    * set checkpoints are freed as rounds advance. At 100 TB only the
    * candidate-generation scan scales; this re-rank stays O(k·pool²)
    * regardless of corpus size.
    */
  def mmrRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    val probe = vecs.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("nrm").as("pnrm"))
    val pool = vecs.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .withColumn("rel",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MmrPool)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("rel"))
    val cands = pool.localCheckpoint(true)
    val pairs = cands.as("a").join(cands.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("cid"), col("b.vec_id").as("sid"),
        round6(VectorFns.cosineStaged(
          col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm"))).as("ps"))
      .localCheckpoint(true)
    var sel = cands
      .orderBy(round6(col("rel") * 0.5).desc, col("vec_id"))
      .limit(1)
      .select(lit(1).as("pick"), col("vec_id"), col("label"),
        (col("rel") * 0.5).as("score"))
      .localCheckpoint(true)
    (2 to MmrK).foreach { k =>
      val pickK = cands
        .join(sel.select("vec_id"), Seq("vec_id"), "left_anti")
        .join(pairs, col("vec_id") === col("cid"))
        .join(sel.select(col("vec_id").as("sid")), Seq("sid"))
        .groupBy(col("vec_id"), col("label"), col("rel"))
        .agg(max(col("ps")).as("ms"))
        .withColumn("score", col("rel") * 0.5 - col("ms") * 0.5)
        .orderBy(round6(col("score")).desc, col("vec_id"))
        .limit(1)
        .select(lit(k).as("pick"), col("vec_id"), col("label"), col("score"))
      val next = sel.unionByName(pickK).localCheckpoint(true)
      Stage.free(sel)
      sel = next
    }
    Stage.free(cands, pairs)
    sel.select(col("pick"), col("vec_id"), col("label"),
        round4(col("score")).as("score"))
      .orderBy("pick")
  }

  /** One oracle MMR round: from the not-yet-selected candidates,
    * score `rel·0.5 − max(round6 pair sim to sel$prev)·0.5` and keep
    * the round6-ranked argmax as `pk$k`; `sel$k` appends it.
    */
  private def duckMmrRound(k: Int): String = {
    val prev = s"sel${k - 1}"
    s"""mk$k AS (SELECT c.vec_id, c.label, c.rel, max(pr.ps) AS ms
       |             FROM cand c
       |             JOIN pr ON pr.cid = c.vec_id
       |             JOIN $prev s ON pr.sid = s.vec_id
       |             WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
       |             GROUP BY 1, 2, 3),
       |     pk$k AS (SELECT $k AS pick, vec_id, label, rel * 0.5 - ms * 0.5 AS score
       |             FROM mk$k
       |             ORDER BY ${duckRound6("rel * 0.5 - ms * 0.5")} DESC, vec_id LIMIT 1),
       |     sel$k AS (SELECT * FROM $prev UNION ALL SELECT * FROM pk$k)""".stripMargin
  }

  private val sqlMmrRerank =
    s"""WITH $duckVecs,
       |     p AS (SELECT v AS pv, nrm AS pnrm FROM e WHERE vec_id = 0),
       |     cand AS (SELECT vec_id, label, v, nrm,
       |                     ${duckDot("v", "pv")} / (nrm * pnrm) AS rel
       |              FROM e, p WHERE vec_id <> 0
       |              ORDER BY rel DESC, vec_id LIMIT $MmrPool),
       |     pr AS (SELECT a.vec_id AS cid, b.vec_id AS sid,
       |                   ${duckRound6(s"${duckDot("a.v", "b.v")} / (a.nrm * b.nrm)")} AS ps
       |            FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |     sel1 AS (SELECT 1 AS pick, vec_id, label, rel * 0.5 AS score
       |              FROM cand
       |              ORDER BY ${duckRound6("rel * 0.5")} DESC, vec_id LIMIT 1),
       |     ${(2 to MmrK).map(duckMmrRound).mkString(",\n     ")}
       |SELECT CAST(pick AS INT) AS pick, vec_id, label,
       |       ${duckRound4("score")} AS score
       |FROM sel$MmrK ORDER BY pick""".stripMargin

  // ---------- 13. q_triangle_count: clustering structure of the near-dup graph ----------

  /** Edge threshold for the triangle audit — looser than
    * [[NearDupThreshold]] so the graph has enough structure to count
    * (17 triangles at sf0.01; at 0.25 the fixture graph is a near-
    * forest with 1).
    */
  private val TriThreshold = 0.2

  /** Local clustering coefficients of the blocked similarity graph —
    * the graph-shape audit run on a near-dup graph before trusting
    * its clusters: nodes with high local CC sit in genuine dense
    * near-dup communities; low-CC high-degree nodes are hubs gluing
    * UNRELATED docs together (the failure mode that makes
    * single-link dedup over-merge).
    *
    * Shape: edges are the [[embedNearDup]] kernel (bucket-blocked
    * pairs, never all-pairs), oriented low-id → high-id, so each
    * triangle is counted exactly once by the two-hop join
    * e1(x,y) ⋈ e2(y,z) ⋈ e3(x,z). Edge orientation bounds the join:
    * the main path runs [[degreeOrient]] (low-degree endpoint first,
    * O(m^1.5) worst case — Suri & Vassilvitskii, WWW'11), proven
    * count-equivalent to the id orientation in `TriangleSpec`, which
    * is why the id-oriented oracle twin stays exact. All three join legs shuffle on edge endpoints —
    * linear in edges, and the blocked edge list is itself bounded by
    * bucket sizes.
    */
  /** Per-node triangle participation + local clustering coefficient
    * over an id-oriented edge list (`u` < `w`, no duplicates) — the
    * kernel behind [[triangleCount]], factored so the spec can prove
    * the oriented two-hop join ≡ brute-force triangle enumeration on
    * arbitrary graphs.
    */
  private[vector] def localTriangleStats(edges: DataFrame): DataFrame = {
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.w") === col("e2.u"))
      .join(edges.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.w") === col("e2.w"))
      .select(col("e1.u").as("x"), col("e1.w").as("y"), col("e2.w").as("z"))
    val triNodes = tri
      .select(explode_outer(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    val degrees = edges
      .select(explode_outer(array(col("u"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    triNodes.join(degrees, "node")
      .withColumn("local_cc", round4(
        col("n_tri").cast("double") * 2.0 /
          (col("degree") * (col("degree") - 1)).cast("double")))
      .select(col("node").as("vec_id"), col("degree"), col("n_tri"), col("local_cc"))
  }

  /** Re-orient an oriented edge list by DEGREE (lower-degree endpoint
    * first, id as tie-break) — the Suri & Vassilvitskii (WWW'11)
    * refinement that bounds the two-hop join's fan-out by O(m^1.5)
    * on skewed graphs: a hub node of degree d contributes d² candidate
    * wedges under id orientation but only its lower-degree neighbors'
    * wedges under degree orientation. Any strict total order on
    * vertices makes the oriented graph acyclic with exactly one
    * x→y→z / x→z pattern per triangle, so [[localTriangleStats]] is
    * orientation-invariant — `TriangleSpec` proves count-equivalence
    * to the id-oriented form (which the oracle twin keeps for
    * exactness).
    *
    * Scale: two broadcast-sized joins against the O(nodes) degree
    * table at fixture scale; at fact scale the degree table shuffles
    * on the endpoint key like any dim join — still linear in edges.
    */
  private[vector] def degreeOrient(edges: DataFrame): DataFrame = {
    val deg = edges
      .select(explode_outer(array(col("u"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("w"), col("deg").as("dw")), "w")
      .select(
        when(col("du") < col("dw") ||
            (col("du") === col("dw") && col("u") < col("w")),
          struct(col("u").as("u"), col("w").as("w")))
          .otherwise(struct(col("w").as("u"), col("u").as("w"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
  }

  /** The blocked similarity graph's oriented edge list (`u` <
    * `w`, cosine ≥ [[TriThreshold]] within capped sign-LSH blocks) —
    * the shared input of [[triangleCount]] and [[trussSupport]].
    * Staged with a localCheckpoint: every consumer runs multiple
    * self-joins over it, and without the stage each join leg would
    * re-run the blocked pair join.
    */
  private def collisionEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withCappedBlock(
      withVecs(spark, sfDir)
        .withColumn("bucket", VectorFns.signBucket(col("v"), LshBits, LshStride)),
      "bucket")
    vecs.as("a").join(vecs.as("b"),
        col("a.blk") === col("b.blk") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", VectorFns.cosineStaged(
        col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")))
      .filter(col("sim") >= TriThreshold)
      .select(col("a.vec_id").as("u"), col("b.vec_id").as("w"))
      .localCheckpoint(true)
  }

  def triangleCount(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = collisionEdges(spark, sfDir)
    // degree orientation bounds the wedge join's per-node fan-out by
    // O(m^1.5) (Suri & Vassilvitskii) — orientation-invariant counts
    // (TriangleSpec), so the id-oriented oracle twin stays exact
    localTriangleStats(degreeOrient(edges).localCheckpoint(true))
      .orderBy("vec_id")
  }

  private val sqlTriangleCount =
    s"""WITH $duckVecs,
       |     b0 AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     bn0 AS (SELECT bucket, count(*) AS bn FROM b0 GROUP BY bucket),
       |     b AS (SELECT vec_id, v, nrm, b0.bucket, ${duckBlk("b0.bucket")} AS blk
       |           FROM b0 JOIN bn0 ON b0.bucket = bn0.bucket),
       |     edges AS (SELECT a.vec_id AS u, b2.vec_id AS w
       |               FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
       |               WHERE ${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm) >= $TriThreshold),
       |     tri AS (SELECT e1.u AS x, e1.w AS y, e2.w AS z
       |             FROM edges e1
       |             JOIN edges e2 ON e1.w = e2.u
       |             JOIN edges e3 ON e3.u = e1.u AND e3.w = e2.w),
       |     tn AS (SELECT node, count(*) AS n_tri
       |            FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY 1),
       |     dg AS (SELECT node, count(*) AS degree
       |            FROM (SELECT unnest([u, w]) AS node FROM edges) GROUP BY 1)
       |SELECT tn.node AS vec_id, degree, n_tri,
       |       ${duckRound4("CAST(n_tri AS DOUBLE) * 2.0 / CAST(degree * (degree - 1) AS DOUBLE)")} AS local_cc
       |FROM tn JOIN dg ON tn.node = dg.node
       |ORDER BY vec_id""".stripMargin

  // ---------- 13a'. q_assortativity: degree correlation of the similarity graph ----------

  /** Degree assortativity of the blocked similarity graph (Newman
    * 2002): the Pearson correlation of endpoint degrees over edges —
    * positive means high-degree docs link to high-degree docs (a
    * dense near-dup CORE, where cluster-atomic split logic and
    * canonical election get expensive), negative means hub-and-spoke
    * (one template with many one-off variants — the boilerplate
    * signature). The one-number structure audit next to
    * [[triangleCount]]'s local view: same edges, global mixing.
    *
    * Shape: the shared [[collisionEdges]] stage, one node-grain degree
    * aggregate joined back to both endpoints (linear in edges — the
    * [[degreeOrient]] join shape), then ONE integer-moment collapse:
    * with S_jk = Σ d_u·d_w, S_j = Σ(d_u+d_w), S_jj = Σ(d_u²+d_w²)
    * over the m undirected edges, r = (4m·S_jk − S_j²) /
    * (2m·S_jj − S_j²) — the directed-double-count algebra folded
    * closed. ALL integer until the single output division (degrees
    * are ≤ [[BlockCap]] by construction, so 4m·S_jk ≤ 4m²·cap² stays
    * far inside BIGINT at any SF this layout reaches; DECIMAL(38,0)
    * is the swap past ~10⁹ edges), rounded at the edge.
    */
  def assortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = collisionEdges(spark, sfDir)
    val deg = edges
      .select(explode_outer(array(col("u"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val agg = edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("w"), col("deg").as("dw")), "w")
      .agg(count(lit(1)).as("m"),
        sum(col("du") * col("dw")).as("sjk"),
        sum(col("du") + col("dw")).as("sj"),
        sum(col("du") * col("du") + col("dw") * col("dw")).as("sjj"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    agg.crossJoin(broadcast(nNodes))
      .select(col("n_nodes"), col("m").as("n_edges"),
        round4((d(lit(4L) * col("m") * col("sjk") - col("sj") * col("sj"))) /
          (d(lit(2L) * col("m") * col("sjj") - col("sj") * col("sj"))))
          .as("assortativity"))
  }

  private val sqlAssortativity =
    s"""WITH $duckVecs,
       |     b0 AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     bn0 AS (SELECT bucket, count(*) AS bn FROM b0 GROUP BY bucket),
       |     b AS (SELECT vec_id, v, nrm, b0.bucket, ${duckBlk("b0.bucket")} AS blk
       |           FROM b0 JOIN bn0 ON b0.bucket = bn0.bucket),
       |     edges AS (SELECT a.vec_id AS u, b2.vec_id AS w
       |               FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
       |               WHERE ${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm) >= $TriThreshold),
       |     dg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
       |            FROM (SELECT unnest([u, w]) AS node FROM edges) GROUP BY 1),
       |     nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM dg),
       |     s AS (SELECT CAST(count(*) AS BIGINT) AS m,
       |                  CAST(sum(a.deg * c.deg) AS BIGINT) AS sjk,
       |                  CAST(sum(a.deg + c.deg) AS BIGINT) AS sj,
       |                  CAST(sum(a.deg * a.deg + c.deg * c.deg) AS BIGINT) AS sjj
       |           FROM edges JOIN dg a ON edges.u = a.node
       |                      JOIN dg c ON edges.w = c.node)
       |SELECT n_nodes, m AS n_edges,
       |       ${duckRound4("CAST(4 * m * sjk - sj * sj AS DOUBLE) / CAST(2 * m * sjj - sj * sj AS DOUBLE)")} AS assortativity
       |FROM s CROSS JOIN nn""".stripMargin

  // ---------- 13a'''. q_degree_hist: log-binned degree distribution ----------

  /** Log₂-binned degree distribution of the blocked similarity graph
    * — the heavy-tail check beside [[assortativity]] (mixing) and
    * [[transitivity]] (closure): a straight line in (bin, log count)
    * is the power-law signature that predicts hub-dominated dedup
    * graphs (where the [[degreeOrient]]/RaCenterDegCap machinery
    * earns its keep); an exponential drop means wedge fan-outs stay
    * bounded on their own. Doc-graph twin of `q_hubness`'s kNN-graph
    * in-degree census.
    *
    * Shape: node-grain degree aggregate → branch-free power-of-two
    * CASE ladder (degrees are ≤ 2·[[BlockCap]] by construction, so
    * 11 literal rungs cover every value) → a ≤11-row histogram. All
    * integer; one rounded share.
    */
  def degreeHist(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = collisionEdges(spark, sfDir)
    val deg = edges
      .select(explode_outer(array(col("u"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val bin = (0 to 10).foldLeft(lit(-1L)) { (acc, b) =>
      when(col("deg") >= (1L << b) && col("deg") < (1L << (b + 1)), lit(b.toLong))
        .otherwise(acc)
    }
    val tot = deg.agg(count(lit(1)).as("nn"))
    deg.withColumn("bin", bin)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("deg_lo"),
        max(col("deg")).as("deg_hi"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("deg_lo"), col("deg_hi"), col("n_nodes"),
        round4(col("n_nodes").cast("double") / col("nn").cast("double"))
          .as("node_share"))
      .orderBy("bin")
  }

  private val sqlDegreeHist = {
    val bin = (0 to 10).map(b =>
      s"WHEN deg >= ${1L << b} AND deg < ${1L << (b + 1)} THEN $b")
      .mkString("CASE ", " ", " ELSE -1 END")
    s"""WITH $duckVecs,
       |     b0 AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     bn0 AS (SELECT bucket, count(*) AS bn FROM b0 GROUP BY bucket),
       |     b AS (SELECT vec_id, v, nrm, b0.bucket, ${duckBlk("b0.bucket")} AS blk
       |           FROM b0 JOIN bn0 ON b0.bucket = bn0.bucket),
       |     edges AS (SELECT a.vec_id AS u, b2.vec_id AS w
       |               FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
       |               WHERE ${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm) >= $TriThreshold),
       |     dg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
       |            FROM (SELECT unnest([u, w]) AS node FROM edges) GROUP BY 1),
       |     tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM dg),
       |     h AS (SELECT CAST(($bin) AS BIGINT) AS bin,
       |                  CAST(count(*) AS BIGINT) AS n_nodes,
       |                  CAST(min(deg) AS BIGINT) AS deg_lo,
       |                  CAST(max(deg) AS BIGINT) AS deg_hi
       |           FROM dg GROUP BY 1)
       |SELECT bin, deg_lo, deg_hi, n_nodes,
       |       ${duckRound4("CAST(n_nodes AS DOUBLE) / CAST(nn AS DOUBLE)")} AS node_share
       |FROM h CROSS JOIN tot ORDER BY bin""".stripMargin
  }

  // ---------- 13a''. q_transitivity: global clustering coefficient ----------

  /** Global transitivity of the blocked similarity graph (Newman's
    * C = 3·triangles / wedges): the one-number closure ratio next to
    * [[localTriangleStats]]'s per-node view and [[assortativity]]'s
    * mixing view — how often "A dups B, B dups C" implies "A dups C".
    * High C = clique-like duplicate families (closure converges in
    * one hop); low C at high edge count = chained templates (the
    * drift case where transitive closure RUNS — exactly when
    * ConnectedComponents' round budget matters).
    *
    * Shape: the shared [[collisionEdges]] stage; ONE wedge-join
    * triangle count over the [[degreeOrient]]ed list (the O(m^1.5)
    * bound — counts are orientation-invariant, `TriangleSpec`), and
    * wedges = Σ d(d−1)/2 from the node-grain degree aggregate. All
    * integer until the single output division.
    */
  def transitivity(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = collisionEdges(spark, sfDir)
    val oriented = degreeOrient(edges).localCheckpoint(true)
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.w") === col("e2.u"))
      .join(oriented.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.w") === col("e2.w"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = edges
      .select(explode_outer(array(col("u"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val agg = deg
      .select(col("deg"), expr("deg * (deg - 1) DIV 2").as("wedges"))
      .agg(count(lit(1)).as("n_nodes"),
        expr("sum(deg) DIV 2").as("n_edges"),
        sum(col("wedges")).as("n_wedges"))
    agg.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"), col("n_wedges"),
        round4(lit(3.0) * col("n_triangles").cast("double")
          / col("n_wedges").cast("double")).as("transitivity"))
  }

  private val sqlTransitivity =
    s"""WITH $duckVecs,
       |     b0 AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     bn0 AS (SELECT bucket, count(*) AS bn FROM b0 GROUP BY bucket),
       |     b AS (SELECT vec_id, v, nrm, b0.bucket, ${duckBlk("b0.bucket")} AS blk
       |           FROM b0 JOIN bn0 ON b0.bucket = bn0.bucket),
       |     edges AS (SELECT a.vec_id AS u, b2.vec_id AS w
       |               FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
       |               WHERE ${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm) >= $TriThreshold),
       |     tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
       |             FROM edges e1
       |             JOIN edges e2 ON e1.w = e2.u
       |             JOIN edges e3 ON e3.u = e1.u AND e3.w = e2.w),
       |     dg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
       |            FROM (SELECT unnest([u, w]) AS node FROM edges) GROUP BY 1),
       |     a AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |                  CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
       |                  CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
       |           FROM dg)
       |SELECT n_nodes, n_edges, n_triangles, n_wedges,
       |       ${duckRound4("3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)")} AS transitivity
       |FROM a CROSS JOIN tri""".stripMargin

  // ---------- 13b. q_truss_support: k-truss support census + peel kernel ----------

  /** Per-edge triangle support of an id-oriented edge list (`u` < `w`)
    * — the quantity k-truss decomposition peels on (Cohen 2008): an
    * edge of support s can belong to at most the (s+2)-truss. Support
    * comes from one wedge-join triangle enumeration (each triangle
    * counted once) exploded back onto its three edges; zero-support
    * edges are kept via the left join (they are exactly the edges a
    * 3-truss peel removes first). Orientation-invariant by the same
    * argument as [[localTriangleStats]].
    *
    * Scale: the wedge join runs over [[degreeOrient]]ed edges — the
    * same O(m^1.5) bound as [[triangleCount]]; id-oriented wedges are
    * Σ deg² with no bound and were measured superlinear (15.8× per
    * 10× data) on the skewed collision graph. Each enumerated
    * triangle's three edges are re-keyed back to id orientation
    * (`least`/`greatest`) before the support group, so the left join
    * against the id-oriented input and the census stay byte-identical.
    */
  private[vector] def edgeSupport(edges: DataFrame): DataFrame =
    edgeSupportOriented(edges, degreeOrient(edges))

  /** [[edgeSupport]] with the degree-oriented list supplied by the
    * caller — the wedge join references it in THREE legs, so callers
    * on the hot path stage it with one tracked checkpoint instead of
    * re-deriving the orientation (a degree aggregate + two joins)
    * per leg ([[trussSupport]], [[trussPeel]]).
    */
  private[vector] def edgeSupportOriented(
      edges: DataFrame, oriented: DataFrame): DataFrame = {
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.w") === col("e2.u"))
      .join(oriented.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.w") === col("e2.w"))
      .select(col("e1.u").as("x"), col("e1.w").as("y"), col("e2.w").as("z"))
    val contrib = tri
      .select(explode_outer(array(
        struct(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("w")),
        struct(least(col("y"), col("z")).as("u"), greatest(col("y"), col("z")).as("w")),
        struct(least(col("x"), col("z")).as("u"), greatest(col("x"), col("z")).as("w")))).as("e"))
      .groupBy(col("e.u").as("u"), col("e.w").as("w"))
      .agg(count(lit(1)).as("support"))
    edges.join(contrib, Seq("u", "w"), "left")
      .na.fill(0L, Seq("support"))
  }

  /** Iterative k-truss peel: repeatedly delete edges whose support
    * falls below k−2 until the surviving set is stable — the actual
    * truss decomposition, which no single SQL pass can express
    * (each deletion can cascade). Driver-paced like
    * [[graft.graph.ConnectedComponents]]: each round's survivor set is
    * localCheckpoint-ed and superseded blocks are freed with
    * [[graft.Stage.free]], so round n
    * never re-derives round n−1's joins. Converges in ≤ maxIter
    * rounds or returns the current survivors (peeling only deletes, so
    * every round strictly shrinks or terminates). Spec-gated
    * (`TrussSpec` pins it against brute-force peeling); the
    * oracle-gated face is [[trussSupport]]'s round-0 census.
    */
  private[vector] def trussPeel(edges: DataFrame, k: Int, maxIter: Int = 20): DataFrame = {
    var cur = edges.select(col("u"), col("w")).localCheckpoint(true)
    var n = cur.count()
    var iter = 0
    var stable = false
    while (!stable && iter < maxIter) {
      // stage the round's degree orientation once (three join legs);
      // freed as soon as `next` is materialized (eager checkpoint)
      val ori = degreeOrient(cur).localCheckpoint(true)
      val next = edgeSupportOriented(cur, ori)
        .filter(col("support") >= k - 2).select(col("u"), col("w"))
        .localCheckpoint(true)
      Stage.free(ori)
      val m = next.count()
      if (m == n) { stable = true; Stage.free(next) }
      else { Stage.free(cur); cur = next; n = m }
      iter += 1
    }
    cur
  }

  /** Truss-support census of the blocked similarity graph: for each
    * support level, how many edges carry it and how many carry AT
    * LEAST it — the cumulative column reads directly as the
    * (support+2)-truss candidate-membership upper bound, the summary a
    * dedup pipeline checks before trusting transitive closures (a
    * heavy 0-support tail means the near-dup graph is mostly
    * bridge-like and single-link clustering will over-merge).
    *
    * Shape: [[collisionEdges]] (blocked, never all-pairs) → one wedge
    * join + explode for support → a support-grain census. The census
    * is bounded by the max support (≪ edges), so the cumulative
    * window runs over census grain, not edge grain — at fact scale the
    * same census is a few hundred rows regardless of corpus size (the
    * single-partition window is over that bounded aggregate; a
    * fact-scale cumulative would go through PrefixScan instead).
    */
  def trussSupport(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = collisionEdges(spark, sfDir)
    val ori = degreeOrient(edges).localCheckpoint(true)
    val census = edgeSupportOriented(edges, ori)
      .groupBy("support").agg(count(lit(1)).as("n_edges"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("support").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // materialize the bounded census (≤ max-support rows), then free
    // the staged orientation now rather than on ContextCleaner GC
    val res = census
      .withColumn("cum_edges", sum(col("n_edges")).over(w))
      .select(col("support"), col("n_edges"), col("cum_edges"))
      .orderBy("support")
      .localCheckpoint(true)
    Stage.free(ori)
    res
  }

  private val sqlTrussSupport =
    s"""WITH $duckVecs,
       |     b0 AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     bn0 AS (SELECT bucket, count(*) AS bn FROM b0 GROUP BY bucket),
       |     b AS (SELECT vec_id, v, nrm, b0.bucket, ${duckBlk("b0.bucket")} AS blk
       |           FROM b0 JOIN bn0 ON b0.bucket = bn0.bucket),
       |     edges AS (SELECT a.vec_id AS u, b2.vec_id AS w
       |               FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
       |               WHERE ${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm) >= $TriThreshold),
       |     tri AS (SELECT e1.u AS x, e1.w AS y, e2.w AS z
       |             FROM edges e1
       |             JOIN edges e2 ON e1.w = e2.u
       |             JOIN edges e3 ON e3.u = e1.u AND e3.w = e2.w),
       |     contrib AS (
       |       SELECT u, w, count(*) AS support FROM (
       |         SELECT x AS u, y AS w FROM tri
       |         UNION ALL SELECT y AS u, z AS w FROM tri
       |         UNION ALL SELECT x AS u, z AS w FROM tri)
       |       GROUP BY 1, 2),
       |     sup AS (SELECT edges.u, edges.w,
       |                    coalesce(contrib.support, 0) AS support
       |             FROM edges LEFT JOIN contrib
       |               ON edges.u = contrib.u AND edges.w = contrib.w),
       |     census AS (SELECT support, CAST(count(*) AS BIGINT) AS n_edges
       |                FROM sup GROUP BY 1)
       |SELECT support, n_edges,
       |       CAST(sum(n_edges) OVER (ORDER BY support DESC
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_edges
       |FROM census ORDER BY support""".stripMargin

  // ---------- 13c. q_link_pred: common-neighbor link prediction ----------

  /** Common-neighbor link prediction over the blocked similarity
    * graph (Liben-Nowell & Kleinberg 2003): for every NON-edge pair
    * at two hops, the Jaccard overlap of the endpoint neighborhoods
    * |N(x)∩N(z)| / (|N(x)|+|N(z)|−|N(x)∩N(z)|) — the "these two docs
    * are probably near-dups the blocking missed" recall signal a
    * dedup pipeline mines before widening its LSH bands.
    *
    * Shape: wedges come from one self-join of the SYMMETRIZED edge
    * list on the center node (work = Σ deg(y)² — the same fan-out the
    * triangle kernel bounds via degree orientation; here the wedge
    * set IS the output candidate space, so it is the irreducible
    * cost). Existing edges leave via one anti-join; degrees are a
    * node-grain aggregate joined on each endpoint. Counts exact, one
    * division rounded at the edge, total ORDER BY (x, z).
    */
  def linkPred(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = collisionEdges(spark, sfDir)
    val und = edges.union(edges.select(col("w").as("u"), col("u").as("w")))
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val wedges = und.as("e1").join(und.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(col("e1.w").as("x"), col("e2.w").as("z"))
      .groupBy("x", "z").agg(count(lit(1)).as("cn"))
    val cand = wedges.join(edges,
        wedges("x") === edges("u") && wedges("z") === edges("w"), "left_anti")
    cand
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("node").as("z"), col("deg").as("dz")), "z")
      .select(col("x"), col("z"), col("cn"), col("dx"), col("dz"),
        round4(col("cn").cast("double") /
          (col("dx") + col("dz") - col("cn")).cast("double")).as("jaccard"))
      .orderBy("x", "z")
  }

  private val sqlLinkPred =
    s"""WITH $duckVecs,
       |     b0 AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     bn0 AS (SELECT bucket, count(*) AS bn FROM b0 GROUP BY bucket),
       |     b AS (SELECT vec_id, v, nrm, b0.bucket, ${duckBlk("b0.bucket")} AS blk
       |           FROM b0 JOIN bn0 ON b0.bucket = bn0.bucket),
       |     edges AS (SELECT a.vec_id AS u, b2.vec_id AS w
       |               FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
       |               WHERE ${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm) >= $TriThreshold),
       |     und AS (SELECT u, w FROM edges UNION ALL SELECT w AS u, u AS w FROM edges),
       |     deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
       |     wedges AS (SELECT e1.w AS x, e2.w AS z, CAST(count(*) AS BIGINT) AS cn
       |                FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.w < e2.w
       |                GROUP BY 1, 2),
       |     cand AS (SELECT x, z, cn FROM wedges
       |              WHERE NOT EXISTS (SELECT 1 FROM edges
       |                                WHERE edges.u = wedges.x AND edges.w = wedges.z))
       |SELECT x, z, cn, d1.deg AS dx, d2.deg AS dz,
       |       ${duckRound4("CAST(cn AS DOUBLE) / CAST(d1.deg + d2.deg - cn AS DOUBLE)")} AS jaccard
       |FROM cand
       |JOIN deg d1 ON cand.x = d1.node
       |JOIN deg d2 ON cand.z = d2.node
       |ORDER BY x, z""".stripMargin

  // ---------- 13e. q_ra_linkpred: resource-allocation link prediction ----------

  /** Resource-allocation link prediction (Zhou, Lü & Zhang, EPJ B
    * 2009) over the blocked similarity graph — the common-neighbor
    * score that DISCOUNTS hub intermediaries: RA(x,z) = Σ_u 1/deg(u)
    * over common neighbors u, consistently the strongest local index
    * in the link-prediction literature (Adamic-Adar's 1/ln(deg) has
    * no cross-engine ulp guarantee; RA's plain reciprocal does —
    * the correctly-rounded-ops-only rule choosing the BETTER metric).
    * Same "which near-dups did blocking miss" recall signal as
    * `q_link_pred`, re-weighted so boilerplate hubs stop voting.
    *
    * Shape: [[linkPred]]'s wedge frame with the degree joined BEFORE
    * the wedge grouping; per-wedge 1/deg terms are round6'd into
    * DECIMAL before the (x,z) sum (order-independent — a raw double
    * groupBy-sum feeds the output and could differ by partition
    * order).
    *
    * Scale: wedge fan-out through a center u is deg(u)², unbounded on
    * a densifying graph (measured 36× per 10× on the upscale audit) —
    * so centers with deg > [[RaCenterDegCap]] are EXCLUDED from the
    * enumeration. For RA specifically this is the principled prune:
    * a hub center contributes ≤ 1/deg ≤ 1/cap per wedge — the very
    * quantity RA exists to discount — while costing deg² wedges; with
    * the cap, work is Σ_{deg≤cap} deg² ≤ 2·cap·|edges|, linear.
    * The cap sits far above every oracle-SF degree (max 5 at sf0.01,
    * 13 at sf0.1), so where the DuckDB gate runs the prune is a
    * provable no-op — the [[BlockCap]]/[[ProbeIdCap]] contract:
    * activates only on upscaled graphs, mirrored in the oracle SQL.
    */
  private val RaCenterDegCap = 64

  def raLinkPred(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = collisionEdges(spark, sfDir)
    val und = edges.union(edges.select(col("w").as("u"), col("u").as("w")))
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val undD = und.join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .filter(col("du") <= RaCenterDegCap)
    val wedges = undD.as("e1").join(undD.select(col("u"), col("w")).as("e2"),
        col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(col("e1.w").as("x"), col("e2.w").as("z"),
        round6(lit(1.0) / col("e1.du").cast("double")).cast("decimal(28,6)").as("ra6"))
      .groupBy("x", "z")
      .agg(count(lit(1)).as("cn"), sum(col("ra6")).as("ra"))
    wedges.join(edges,
        wedges("x") === edges("u") && wedges("z") === edges("w"), "left_anti")
      .select(col("x"), col("z"), col("cn"),
        round4(col("ra").cast("double")).as("ra_score"))
      .orderBy("x", "z")
  }

  private val sqlRaLinkPred =
    s"""WITH $duckVecs,
       |     b0 AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     bn0 AS (SELECT bucket, count(*) AS bn FROM b0 GROUP BY bucket),
       |     b AS (SELECT vec_id, v, nrm, b0.bucket, ${duckBlk("b0.bucket")} AS blk
       |           FROM b0 JOIN bn0 ON b0.bucket = bn0.bucket),
       |     edges AS (SELECT a.vec_id AS u, b2.vec_id AS w
       |               FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
       |               WHERE ${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm) >= $TriThreshold),
       |     und AS (SELECT u, w FROM edges UNION ALL SELECT w AS u, u AS w FROM edges),
       |     deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
       |     undd AS (SELECT und.u, und.w, deg.deg AS du
       |              FROM und JOIN deg ON und.u = deg.node
       |              WHERE deg.deg <= 64),
       |     wedges AS (SELECT e1.w AS x, e2.w AS z, CAST(count(*) AS BIGINT) AS cn,
       |                       sum(CAST(${duckRound6("1.0 / CAST(e1.du AS DOUBLE)")} AS DECIMAL(28,6))) AS ra
       |                FROM undd e1 JOIN undd e2 ON e1.u = e2.u AND e1.w < e2.w
       |                GROUP BY 1, 2),
       |     cand AS (SELECT x, z, cn, ra FROM wedges
       |              WHERE NOT EXISTS (SELECT 1 FROM edges
       |                                WHERE edges.u = wedges.x AND edges.w = wedges.z))
       |SELECT x, z, cn, ${duckRound4("CAST(ra AS DOUBLE)")} AS ra_score
       |FROM cand ORDER BY x, z""".stripMargin

  // ---------- 13f. q_link_pred_sampled: Horvitz-Thompson CN estimator ----------

  /** Per-center edge-sampling target for [[linkPredSampled]]: each
    * center keeps a neighbor with probability ≈ min(1, cap/deg), so
    * wedge work is Σ min(deg, cap)² ≤ cap²·|nodes| — LINEAR in the
    * node count no matter how the graph densifies (the scale-safe
    * alternative [[linkPred]] lacks: its exact wedge count grows with
    * Σ deg², and a hard hub cap would silently change the output —
    * round-16 verdict #4). cap = 4 sits BELOW the max degree at every
    * oracle SF (5 at sf0.01, 13 at sf0.1) so the driver gate
    * exercises the live sampling arithmetic — an inactive-at-gate
    * threshold would make the parity check vacuous (the q_ann_lsh
    * lesson). Production would run 64-256.
    */
  private val LpSampleCap = 4L

  /** Sampled common-neighbor link prediction: the [[linkPred]] recall
    * signal at bounded cost. Each DIRECTED edge (center u, neighbor
    * w) flips the deterministic [[graft.functions.TextHashUtil]] coin
    * h(u,w) < pa(u), where pa(u)/M ≈ min(1, cap/deg(u)) exactly
    * (pa = ⌈cap·M/deg⌉, all-integer — no float boundary on either
    * engine). A wedge x–u–z is observed iff both its edges survive,
    * probability (pa/M)², so the Horvitz-Thompson estimate of the
    * common-neighbor count is Σ (M/pa)² over observed wedges —
    * UNBIASED under the hash-uniformity assumption, unlike a degree
    * cap. Per-pair uncertainty ships WITH the estimate: the standard
    * HT variance estimate Σ w·(w−1) (w = per-wedge weight; exact for
    * independent coins), reported as a 95% half-width 1.96·√var.
    *
    * Parity: weights are round6'd into DECIMAL before the (x,z) sum
    * (order-independent — the kmeans/rolling7d rule); the single
    * sqrt and multiply are IEEE-correctly-rounded; round4 at the
    * edge. The coin, pa, and the observed-wedge join are all integer
    * arithmetic the DuckDB oracle reproduces literally.
    *
    * Scale: sampled degree ≈ min(deg, cap) bounds the self-join
    * fan-out at cap² per center; everything else is [[linkPred]]'s
    * shape (anti-join on existing edges, node-grain degree joins).
    * Estimator quality degrades on hubs exactly where the exact
    * query's cost explodes — the stated trade, priced by half_ci.
    */
  def linkPredSampled(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextHashUtil.{CoinA, CoinB, CoinC, CoinM}
    val edges = collisionEdges(spark, sfDir)
    val und = edges.union(edges.select(col("w").as("u"), col("u").as("w")))
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val sampled = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .withColumn("pa", when(col("du") <= LpSampleCap, lit(CoinM))
        .otherwise(expr(s"(${LpSampleCap * CoinM} - 1) div du + 1")))
      .filter(pmod(col("u") * CoinA + col("w") * CoinB + CoinC, lit(CoinM))
        < col("pa"))
      // HT weight staged ONCE per directed edge (center-determined):
      // wt = (M/pa)² — division and multiply both correctly rounded
      .withColumn("wt",
        (lit(CoinM.toDouble) / col("pa").cast("double")) *
          (lit(CoinM.toDouble) / col("pa").cast("double")))
      .withColumn("wt6",
        round6(col("wt")).cast("decimal(28,6)"))
      .withColumn("vt6",
        round6(col("wt") * (col("wt") - 1.0))
          .cast("decimal(28,6)"))
    val wedges = sampled.as("e1")
      .join(sampled.select(col("u"), col("w")).as("e2"),
        col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(col("e1.w").as("x"), col("e2.w").as("z"),
        col("e1.wt6").as("wt6"), col("e1.vt6").as("vt6"))
      .groupBy("x", "z")
      .agg(count(lit(1)).as("cn_seen"),
        sum(col("wt6")).as("cne"), sum(col("vt6")).as("vre"))
    wedges.join(edges,
        wedges("x") === edges("u") && wedges("z") === edges("w"), "left_anti")
      .select(col("x"), col("z"), col("cn_seen"),
        round4(col("cne").cast("double")).as("cn_est"),
        round4(lit(1.96) * sqrt(col("vre").cast("double"))).as("half_ci"))
      .orderBy("x", "z")
  }

  private val sqlLinkPredSampled = {
    import graft.functions.TextHashUtil.{CoinA, CoinB, CoinC, CoinM}
    val wtSql = s"(${CoinM}.0 / CAST(pa AS DOUBLE)) * (${CoinM}.0 / CAST(pa AS DOUBLE))"
    s"""WITH $duckVecs,
       |     b0 AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM e),
       |     bn0 AS (SELECT bucket, count(*) AS bn FROM b0 GROUP BY bucket),
       |     b AS (SELECT vec_id, v, nrm, b0.bucket, ${duckBlk("b0.bucket")} AS blk
       |           FROM b0 JOIN bn0 ON b0.bucket = bn0.bucket),
       |     edges AS (SELECT a.vec_id AS u, b2.vec_id AS w
       |               FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
       |               WHERE ${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm) >= $TriThreshold),
       |     und AS (SELECT u, w FROM edges UNION ALL SELECT w AS u, u AS w FROM edges),
       |     deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
       |     sampled AS (SELECT u, w, pa,
       |                        CAST(${duckRound6(wtSql)}
       |                          AS DECIMAL(28,6)) AS wt6,
       |                        CAST(${duckRound6(s"$wtSql * ($wtSql - 1.0)")} AS DECIMAL(28,6)) AS vt6
       |                 FROM (SELECT und.u, und.w,
       |                              CASE WHEN deg.deg <= $LpSampleCap THEN $CoinM
       |                                   ELSE (${LpSampleCap * CoinM} - 1) // deg.deg + 1
       |                              END AS pa
       |                       FROM und JOIN deg ON und.u = deg.node) t
       |                 WHERE (u * $CoinA + w * $CoinB + $CoinC) % $CoinM < pa),
       |     wedges AS (SELECT e1.w AS x, e2.w AS z,
       |                       CAST(count(*) AS BIGINT) AS cn_seen,
       |                       sum(e1.wt6) AS cne, sum(e1.vt6) AS vre
       |                FROM sampled e1 JOIN sampled e2 ON e1.u = e2.u AND e1.w < e2.w
       |                GROUP BY 1, 2),
       |     cand AS (SELECT x, z, cn_seen, cne, vre FROM wedges
       |              WHERE NOT EXISTS (SELECT 1 FROM edges
       |                                WHERE edges.u = wedges.x AND edges.w = wedges.z))
       |SELECT x, z, cn_seen,
       |       ${duckRound4("CAST(cne AS DOUBLE)")} AS cn_est,
       |       ${duckRound4("1.96 * sqrt(CAST(vre AS DOUBLE))")} AS half_ci
       |FROM cand ORDER BY x, z""".stripMargin
  }

  // ---------- 14. q_pq_codes: product-quantization encoding ----------

  private val PqM = 4          // subspaces
  private val PqSubDim = 16    // dims per subspace (4 × 16 = 64)

  /** Product quantization (Jégou et al., "Product quantization for
    * nearest neighbor search", TPAMI 2011): split each vector into
    * [[PqM]] subvectors, learn a per-subspace codebook (here the
    * per-label subvector means — the same one-assignment-step
    * convention as [[ivfAssign]]'s coarse quantizer), and encode each
    * vector as its nearest code per subspace by L2 distance. Output:
    * the 4-byte-equivalent code word per vector plus the total squared
    * reconstruction error — 64 floats compressed to 4 code ids.
    *
    * Scale: the codebook is O(labels × dims) and BROADCAST; encoding
    * is a per-row map over (vector × [[PqM]] subspaces × codes) with
    * one native fold per candidate — no shuffle until the final
    * per-vector pivot (keyed on vec_id, fact-cardinality, no hot
    * key). Distances rank on the ROUNDED value with the code id as
    * tie-break (codebook comes from avg() — the [[assignedCells]]
    * ulp rule). The error sum is the FIXED-ORDER d0+d1+d2+d3 over the
    * pivoted columns, never a float groupBy-sum whose partition order
    * could differ between engines.
    */
  /** One row per (vector, subspace): static slices so the split stays
    * inside codegen. explode_outer per the repo rule (the array is
    * [[PqM]] literal structs — provably non-empty).
    */
  private def pqSubRows(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"),
      explode_outer(array((0 until PqM).map(s =>
        struct(lit(s).as("s"), slice(col("v"), s * PqSubDim + 1, PqSubDim).as("sv"))): _*)).as("sub"))
      .select(col("vec_id"), col("label"), col("sub.s").as("s"), col("sub.sv").as("sv"))

  /** Per-(subspace, label) mean subvector — the trained PQ codebook,
    * keyed (cs, code, cv). */
  private def pqCodebook(subs: DataFrame): DataFrame =
    subs
      .select(col("s"), col("label").as("code"), posexplode(col("sv")).as(Seq("dim", "x")))
      .groupBy("s", "code", "dim").agg(avg(col("x")).as("cx"))
      .groupBy("s", "code")
      .agg(array_sort(collect_list(struct(col("dim"), col("cx")))).as("pairs"))
      .select(col("s").as("cs"), col("code"), expr("transform(pairs, p -> p.cx)").as("cv"))

  /** Nearest code per (vector, subspace) by L2 against a BROADCAST
    * codebook — rank on round6 distance with code tie-break
    * (avg-built codebook, the ulp rule). Keeps (vec_id, s, code, d2).
    */
  private def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame =
    // argmin as min(struct(round6(d2), code, d2)) — the assignStep
    // shape: unique sort key per (vec_id, s), partial agg collapses
    // the ×codes fan-out map-side, no shuffle-then-sort of it.
    subs.join(broadcast(cb), col("s") === col("cs"))
      .withColumn("diff", zip_with(col("sv"), col("cv"), (x, y) => x - y))
      .withColumn("d2", VectorFns.dot(col("diff"), col("diff")))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(round6(col("d2")).as("k1"), col("code").as("k2"),
        col("d2").as("d"))).as("w"))
      .select(col("vec_id"), col("s"), col("w.k2").as("code"), col("w.d").as("d2"))

  def pqCodes(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    val subs = pqSubRows(vecs)
    val assigned = pqAssign(subs, pqCodebook(subs))
    assigned.groupBy("vec_id")
      .agg(
        max(when(col("s") === 0, col("code"))).as("code0"),
        max(when(col("s") === 1, col("code"))).as("code1"),
        max(when(col("s") === 2, col("code"))).as("code2"),
        max(when(col("s") === 3, col("code"))).as("code3"),
        max(when(col("s") === 0, col("d2"))).as("d0"),
        max(when(col("s") === 1, col("d2"))).as("d1"),
        max(when(col("s") === 2, col("d2"))).as("d2s"),
        max(when(col("s") === 3, col("d2"))).as("d3"))
      .withColumn("err", round4(col("d0") + col("d1") + col("d2s") + col("d3")))
      .select(col("vec_id"), col("code0"), col("code1"), col("code2"), col("code3"), col("err"))
      .orderBy("vec_id")
  }

  private val sqlPqCodes = {
    val lastDim = PqM * PqSubDim
    val dd = s"list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, $PqSubDim + 1), " +
      "i -> (sv[CAST(i AS INT)] - cv[CAST(i AS INT)]) * (sv[CAST(i AS INT)] - cv[CAST(i AS INT)])), " +
      "(acc, v) -> acc + v)"
    s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     subs AS (SELECT vec_id, label, CAST(s AS INT) AS s,
       |                     v[CAST(s * $PqSubDim + 1 AS INT):CAST((s + 1) * $PqSubDim AS INT)] AS sv
       |              FROM e0 CROSS JOIN range(0, $PqM) t(s)),
       |     x AS (SELECT s, label AS code, CAST(i - 1 AS INT) AS dim, sv[CAST(i AS INT)] AS x
       |           FROM subs CROSS JOIN range(1, $PqSubDim + 1) t2(i)),
       |     cd AS (SELECT s, code, dim, avg(x) AS cx FROM x GROUP BY 1, 2, 3),
       |     cb AS (SELECT s, code, list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS cv
       |            FROM cd GROUP BY s, code),
       |     scored AS (SELECT subs.vec_id, subs.s, cb.code, $dd AS d2
       |                FROM subs JOIN cb ON subs.s = cb.s),
       |     best AS (SELECT vec_id, s, code, d2,
       |                     row_number() OVER (PARTITION BY vec_id, s
       |                       ORDER BY ${duckRound6("d2")} ASC, code) AS rk
       |              FROM scored),
       |     piv AS (SELECT vec_id,
       |               max(CASE WHEN s = 0 THEN code END) AS code0,
       |               max(CASE WHEN s = 1 THEN code END) AS code1,
       |               max(CASE WHEN s = 2 THEN code END) AS code2,
       |               max(CASE WHEN s = 3 THEN code END) AS code3,
       |               max(CASE WHEN s = 0 THEN d2 END) AS d0,
       |               max(CASE WHEN s = 1 THEN d2 END) AS d1,
       |               max(CASE WHEN s = 2 THEN d2 END) AS d2s,
       |               max(CASE WHEN s = 3 THEN d2 END) AS d3
       |             FROM best WHERE rk = 1 GROUP BY vec_id)
       |SELECT vec_id, code0, code1, code2, code3,
       |       ${duckRound4("d0 + d1 + d2s + d3")} AS err
       |FROM piv ORDER BY vec_id""".stripMargin
  }

  // ---------- 14a². q_rq_codes: residual quantization (two-level) ----------

  private val RqBits = 4    // level-2 codes = 2^4 sign-buckets of the residual
  private val RqStride = 16 // residual sign dims 1, 17, 33, 49 (1-based)

  /** Two-level RESIDUAL quantization (Chen et al. 2010; the RQ/
    * additive-quantization family FAISS ships beside PQ): level 1
    * coarse-quantizes each vector to its nearest per-label mean
    * centroid by L2, level 2 quantizes the RESIDUAL v − C1[c1] against
    * a second codebook built from the residuals themselves, and the
    * reconstruction C1[c1] + C2[c2] must beat level 1 alone — the
    * additive-refinement property that is RQ's whole claim, visible
    * per vector as err2 ≤ err1 + rounding. Where [[pqCodes]] splits
    * DIMENSIONS (independent subspaces), RQ stacks LEVELS on the full
    * vector; the two compose (IVF-RQ) exactly like IVF-PQ.
    *
    * Determinism/parity: level-2 codes are the residual's OWN sign
    * buckets ([[VectorFns.signBucket]] over [[RqBits]] dims of stride
    * [[RqStride]]) — a deterministic self-quantizer, so no iterative
    * k-means enters the gate; residuals are ROUND6ed per dim before
    * anything reads them (avg-built centroids differ in the last ulp
    * across engines — rounding makes the level-2 INPUT identical, the
    * round-before-compare rule applied to a vector); both argmins
    * rank on round6 distance with the code as tie-break; err sums are
    * fixed-order left folds.
    *
    * Scale: both codebooks are bounded (10 labels, 2^[[RqBits]]
    * buckets) and broadcast; everything else is per-row — two argmin
    * fan-outs of codebook size, no shuffle beyond the codebook
    * aggregates. The memory story: 2 small codes per vector replace
    * 64 floats, at reconstruction error the audit quantifies.
    */
  def rqCodes(spark: SparkSession, sfDir: String): DataFrame = {
    // Distances are ALGEBRAIC — d² = ‖v‖² + ‖c‖² − 2⟨v,c⟩, three
    // native codegen'd dots — never a per-candidate difference array:
    // the first version's zip_with allocated a 64-double array for
    // every (vector × code) pair and the 10× upscale pass flagged it
    // superlinear (15.2× per 10× — pure GC pressure). Norms are
    // staged as dot(x,x) directly, NOT nrm², so both engines evaluate
    // the identical expression tree.
    val vecs = withVecs(spark, sfDir)
      .withColumn("nrm2", VectorFns.dot(col("v"), col("v")))
    // Codebook means are built from round6 values summed as DECIMAL
    // and divided once (the q_kmeans_refine output discipline, applied
    // here to the codebook itself per round-12 advice): an avg() over
    // raw doubles is order-dependent in its last ulp, and with TWO
    // stacked codebook levels feeding round6 ranks and round4 err
    // outputs the .xxxx5-boundary flip exposure compounds. The decimal
    // sum is exact and order-free, so both engines' codebooks are
    // bit-identical.
    val decAvg = (sum(round6(col("x")).cast("decimal(28,6)")).cast("double") /
      count(lit(1)).cast("double")).as("cx")
    val cb1 = withVecs(spark, sfDir)
      .select(col("label").as("c_label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("c_label", "dim").agg(decAvg)
      .groupBy("c_label")
      .agg(array_sort(collect_list(struct(col("dim"), col("cx")))).as("ps"))
      .select(col("c_label"), expr("transform(ps, p -> p.cx)").as("cv"))
      .withColumn("cnrm2", VectorFns.dot(col("cv"), col("cv")))
    // Both argmins are min(struct(round6(dist), code, payload)) — the
    // assignStep shape: unique sort key per vector, map-side partial
    // collapse of the ×codes fan-out, no window sort.
    val a1 = vecs.join(broadcast(cb1))
      .withColumn("d2", col("nrm2") + col("cnrm2") -
        lit(2.0) * VectorFns.dot(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(min(struct(round6(col("d2")).as("k1"), col("c_label").as("k2"),
        struct(col("v"), col("cv")).as("p"))).as("w"))
      // ONE residual array per winning row (corpus-sized, not ×codes)
      .withColumn("r", zip_with(col("w.p.v"), col("w.p.cv"),
        (x, y) => round6(x - y)))
      .select(col("vec_id"), col("w.k2").as("c1"), col("r"))
    val withB = a1
      .withColumn("b2", VectorFns.signBucket(col("r"), RqBits, RqStride))
      .withColumn("rr", VectorFns.dot(col("r"), col("r")))
    val cb2 = withB
      .select(col("b2").as("c_b"), posexplode(col("r")).as(Seq("dim", "x")))
      .groupBy("c_b", "dim").agg(decAvg)
      .groupBy("c_b")
      .agg(array_sort(collect_list(struct(col("dim"), col("cx")))).as("ps"))
      .select(col("c_b"), expr("transform(ps, p -> p.cx)").as("cv2"))
      .withColumn("c2n2", VectorFns.dot(col("cv2"), col("cv2")))
    withB.join(broadcast(cb2))
      .withColumn("e2", col("rr") + col("c2n2") -
        lit(2.0) * VectorFns.dot(col("r"), col("cv2")))
      .groupBy(col("vec_id"))
      .agg(min(struct(round6(col("e2")).as("k1"), col("c_b").as("k2"),
        struct(col("c1"), col("rr"), col("e2")).as("p"))).as("w"))
      .select(col("vec_id"), col("w.p.c1").as("c1"), col("w.k2").as("c2"),
        round4(col("w.p.rr")).as("err1"), round4(col("w.p.e2")).as("err2"))
      .orderBy("vec_id")
  }

  private val sqlRqCodes = {
    val bucket = (0 until RqBits).map { j =>
      s"(CASE WHEN r[${1 + j * RqStride}] > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""WITH $duckVecs,
       |     ev AS (SELECT vec_id, v, ${duckDot("v", "v")} AS nrm2 FROM e0),
       |     cx AS (SELECT label AS c_label, CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |            FROM e0 CROSS JOIN range(1, 65) t(i)),
       |     cd AS (SELECT c_label, dim,
       |                   CAST(sum(CAST(${duckRound6("x")} AS DECIMAL(28,6))) AS DOUBLE)
       |                     / CAST(count(*) AS DOUBLE) AS cx
       |            FROM cx GROUP BY 1, 2),
       |     cb0 AS (SELECT c_label, list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS cv
       |             FROM cd GROUP BY c_label),
       |     cb1 AS (SELECT c_label, cv, ${duckDot("cv", "cv")} AS cnrm2 FROM cb0),
       |     s1 AS (SELECT ev.vec_id, cb1.c_label, ev.v, cb1.cv,
       |                   ev.nrm2 + cb1.cnrm2 - 2.0 * ${duckDot("ev.v", "cb1.cv")} AS d2
       |            FROM ev CROSS JOIN cb1),
       |     b1 AS (SELECT vec_id, c_label, v, cv,
       |                   row_number() OVER (PARTITION BY vec_id
       |                     ORDER BY ${duckRound6("d2")} ASC, c_label) AS rk
       |            FROM s1),
       |     a1 AS (SELECT vec_id, c_label AS c1,
       |                   list_transform(range(1, 65),
       |                     i -> ${duckRound6("v[CAST(i AS INT)] - cv[CAST(i AS INT)]")}) AS r
       |            FROM b1 WHERE rk = 1),
       |     wb AS (SELECT vec_id, c1, r, $bucket AS b2,
       |                   ${duckDot("r", "r")} AS rr
       |            FROM a1),
       |     rx AS (SELECT b2 AS c_b, CAST(i - 1 AS INT) AS dim, r[CAST(i AS INT)] AS x
       |            FROM wb CROSS JOIN range(1, 65) t(i)),
       |     rd AS (SELECT c_b, dim,
       |                   CAST(sum(CAST(${duckRound6("x")} AS DECIMAL(28,6))) AS DOUBLE)
       |                     / CAST(count(*) AS DOUBLE) AS cx
       |            FROM rx GROUP BY 1, 2),
       |     cb2a AS (SELECT c_b, list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS cv2
       |              FROM rd GROUP BY c_b),
       |     cb2 AS (SELECT c_b, cv2, ${duckDot("cv2", "cv2")} AS c2n2 FROM cb2a),
       |     s2 AS (SELECT wb.vec_id, wb.c1, wb.rr, cb2.c_b,
       |                   wb.rr + cb2.c2n2 - 2.0 * ${duckDot("wb.r", "cb2.cv2")} AS e2
       |            FROM wb CROSS JOIN cb2),
       |     b2r AS (SELECT vec_id, c1, rr, c_b, e2,
       |                    row_number() OVER (PARTITION BY vec_id
       |                      ORDER BY ${duckRound6("e2")} ASC, c_b) AS rk
       |             FROM s2)
       |SELECT vec_id, c1, c_b AS c2,
       |       ${duckRound4("rr")} AS err1,
       |       ${duckRound4("e2")} AS err2
       |FROM b2r WHERE rk = 1 ORDER BY vec_id""".stripMargin
  }

  // ---------- 14b. q_ivfpq_adc: IVF-PQ asymmetric-distance serving ----------

  /** The COMPOSED ANN serving path (Jégou et al. 2011 — the FAISS
    * IVFPQ shape, assembled from this file's own building blocks):
    * coarse-quantize the corpus into cells ([[assignedCells]]),
    * restrict the probe's search to its own cell (nprobe = 1, the
    * [[ivfSearch]] convention), and score every candidate WITHOUT
    * touching its raw vector — asymmetric distance computation:
    * d²(q, x) ≈ Σ_s ‖q_s − cv[s, code_s(x)]‖², [[PqM]] lookups into
    * a (subspace × code) table built ONCE from the probe. This is
    * the memory shape that serves billion-vector corpora: the index
    * stores [[PqM]] small codes per vector, not 64 floats.
    *
    * Float parity: the per-subspace lookup values are pivoted to
    * fixed columns and summed in LITERAL subspace order (a groupBy
    * sum would add in partition order — the [[pqCodes]] err
    * convention); rank on round6 with vec_id tie-break (avg-built
    * codebooks, the ulp rule).
    *
    * Scale: codebook + lookup table broadcast (constant-size); the
    * candidate set is one cell (capped by the coarse quantizer — at
    * scale, [[withCappedBlock]]'s regime); per candidate the scoring
    * cost is [[PqM]] hash-join probes, no vector arithmetic — the
    * whole point of ADC.
    */
  def ivfpqAdc(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    // staged NARROW (vec_id, cell): the probe-cell lookup and the
    // candidate scan consumed the assignment pipeline separately; the
    // PQ codebook is consumed by both the code assignment and the LUT
    val cells = assignedCells(vecs).select(col("vec_id"), col("cell"))
      .localCheckpoint(true)
    val pcell = cells.filter(col("vec_id") === 0).select(col("cell").as("pcell"))
    val cands = cells.join(broadcast(pcell), col("cell") === col("pcell"))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"))
    val subs = pqSubRows(vecs)
    val cb = pqCodebook(subs).localCheckpoint(true)
    val codes = pqAssign(subs, cb).select(col("vec_id"), col("s"), col("code"))
    val lut = pqSubRows(vecs.filter(col("vec_id") === 0))
      .join(broadcast(cb), col("s") === col("cs"))
      .withColumn("qdiff", zip_with(col("sv"), col("cv"), (x, y) => x - y))
      .select(col("s"), col("code"),
        VectorFns.dot(col("qdiff"), col("qdiff")).as("ld"))
    val scored = cands.join(codes, "vec_id")
      .join(broadcast(lut), Seq("s", "code"))
      .groupBy("vec_id")
      .agg(
        max(when(col("s") === 0, col("ld"))).as("l0"),
        max(when(col("s") === 1, col("ld"))).as("l1"),
        max(when(col("s") === 2, col("ld"))).as("l2"),
        max(when(col("s") === 3, col("ld"))).as("l3"))
      .withColumn("adc", col("l0") + col("l1") + col("l2") + col("l3"))
    scored.orderBy(round6(col("adc")).asc, col("vec_id")).limit(TopK)
      // rank over the ≤ TopK post-limit rows — bounded window
      .withColumn("rank", row_number().over(
        Window.orderBy(round6(col("adc")).asc, col("vec_id"))))
      .select(col("rank"), col("vec_id"), round4(col("adc")).as("adc_d2"))
      .orderBy("rank")
  }

  private val sqlIvfpqAdc = {
    val ldd = s"list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, $PqSubDim + 1), " +
      "i -> (qsv[CAST(i AS INT)] - cv[CAST(i AS INT)]) * (qsv[CAST(i AS INT)] - cv[CAST(i AS INT)])), " +
      "(acc, v) -> acc + v)"
    val sdd = s"list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, $PqSubDim + 1), " +
      "i -> (sv[CAST(i AS INT)] - cv[CAST(i AS INT)]) * (sv[CAST(i AS INT)] - cv[CAST(i AS INT)])), " +
      "(acc, v) -> acc + v)"
    s"""WITH $duckSemCells,
       |     pc AS (SELECT cell AS pcell FROM cells WHERE vec_id = 0),
       |     cand AS (SELECT vec_id FROM cells JOIN pc ON cells.cell = pc.pcell
       |              WHERE vec_id <> 0),
       |     subs AS (SELECT vec_id, label, CAST(s AS INT) AS s,
       |                     v[CAST(s * $PqSubDim + 1 AS INT):CAST((s + 1) * $PqSubDim AS INT)] AS sv
       |              FROM e0 CROSS JOIN range(0, $PqM) t(s)),
       |     sx AS (SELECT s, label AS code, CAST(i - 1 AS INT) AS dim, sv[CAST(i AS INT)] AS x
       |            FROM subs CROSS JOIN range(1, $PqSubDim + 1) t2(i)),
       |     scd AS (SELECT s, code, dim, avg(x) AS cx FROM sx GROUP BY 1, 2, 3),
       |     scb AS (SELECT s, code, list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS cv
       |             FROM scd GROUP BY s, code),
       |     sscored AS (SELECT subs.vec_id, subs.s, scb.code, $sdd AS d2
       |                 FROM subs JOIN scb ON subs.s = scb.s),
       |     sbest AS (SELECT vec_id, s, code,
       |                      row_number() OVER (PARTITION BY vec_id, s
       |                        ORDER BY ${duckRound6("d2")} ASC, code) AS rk
       |               FROM sscored),
       |     codes AS (SELECT vec_id, s, code FROM sbest WHERE rk = 1),
       |     qs AS (SELECT s, sv AS qsv FROM subs WHERE vec_id = 0),
       |     lut AS (SELECT qs.s, scb.code, $ldd AS ld
       |             FROM qs JOIN scb ON qs.s = scb.s),
       |     sc AS (SELECT cand.vec_id,
       |              max(CASE WHEN codes.s = 0 THEN ld END) AS l0,
       |              max(CASE WHEN codes.s = 1 THEN ld END) AS l1,
       |              max(CASE WHEN codes.s = 2 THEN ld END) AS l2,
       |              max(CASE WHEN codes.s = 3 THEN ld END) AS l3
       |            FROM cand JOIN codes ON cand.vec_id = codes.vec_id
       |            JOIN lut ON codes.s = lut.s AND codes.code = lut.code
       |            GROUP BY 1),
       |     f AS (SELECT vec_id, l0 + l1 + l2 + l3 AS adc FROM sc),
       |     r AS (SELECT vec_id, adc,
       |             row_number() OVER (ORDER BY ${duckRound6("adc")} ASC, vec_id) AS rank
       |           FROM f)
       |SELECT rank, vec_id, ${duckRound4("adc")} AS adc_d2
       |FROM r WHERE rank <= $TopK ORDER BY rank""".stripMargin
  }

  // ---------- q_ivfpq_recall: end-to-end IVF-PQ serving recall ----------

  /** Recall@[[TopK]] of the COMPOSED IVF-PQ serving path against
    * exact search — the end-to-end number an index owner quotes
    * ([[ivfpqAdc]] demonstrates the ADC mechanics for one probe; this
    * audits the whole pipeline over the standard step-sampled probe
    * set): coarse-quantize ([[assignedCells]], nprobe = 1), encode
    * candidates as PQ codes, score by per-probe ADC lookup tables,
    * and intersect each probe's ADC top-k with its exact cosine
    * top-k. Losses decompose into cell misses (candidate not in the
    * probe's cell) plus quantization misranks — the two knobs
    * (nprobe, PQ bits) a serving team tunes.
    *
    * Parity: ADC ranks on round6 with vec_id tie-break (avg-built
    * codebooks, the ulp rule); the exact side ranks the identical
    * raw-cosine expression both engines ([[ivfRecallCurve]]'s exact
    * convention); recall is one integer / constant ratio.
    *
    * Scale: LUTs are (probes × [[PqM]] × codes) — constant-size,
    * broadcast; candidates are one cell per probe; the exact side's
    * full scan is the audit's own cost, probe-capped ([[ProbeIdCap]]).
    */
  def ivfpqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    // staged NARROW: `cells` feeds the probe lookup AND the candidate
    // scan, `cands` feeds the ADC scoring AND the n_cands census, and
    // `cb` feeds the code assignment AND the LUT — without the
    // checkpoints the assignment argmin pipeline evaluated ~4× (28
    // parquet scans in the formatted plan)
    val cells = assignedCells(vecs).select(col("vec_id"), col("cell"))
      .localCheckpoint(true)
    val probeSel = pmod(col("vec_id"), lit(RecallProbeStep)) === 0 &&
      col("vec_id") < ProbeIdCap
    val pcells = cells.filter(probeSel)
      .select(col("vec_id").as("probe_id"), col("cell").as("pcell"))
    val cands = cells.join(broadcast(pcells), col("cell") === col("pcell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
      .localCheckpoint(true)
    val subs = pqSubRows(vecs)
    val cb = pqCodebook(subs).localCheckpoint(true)
    val codes = pqAssign(subs, cb).select(col("vec_id"), col("s"), col("code"))
    val lut = pqSubRows(vecs.filter(probeSel))
      .select(col("vec_id").as("probe_id"), col("s"), col("sv"))
      .join(broadcast(cb), col("s") === col("cs"))
      .withColumn("qdiff", zip_with(col("sv"), col("cv"), (x, y) => x - y))
      .select(col("probe_id"), col("s"), col("code"),
        VectorFns.dot(col("qdiff"), col("qdiff")).as("ld"))
    val adc = cands.join(codes, "vec_id")
      .join(broadcast(lut), Seq("probe_id", "s", "code"))
      .groupBy("probe_id", "vec_id")
      .agg(max(when(col("s") === 0, col("ld"))).as("l0"),
        max(when(col("s") === 1, col("ld"))).as("l1"),
        max(when(col("s") === 2, col("ld"))).as("l2"),
        max(when(col("s") === 3, col("ld"))).as("l3"))
      .withColumn("adc", col("l0") + col("l1") + col("l2") + col("l3"))
    val byAdc = Window.partitionBy("probe_id")
      .orderBy(round6(col("adc")).asc, col("vec_id"))
    val ann = adc.withColumn("rk", row_number().over(byAdc))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id"))
    val probes = vecs.filter(probeSel)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"))
    val byProbe = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val exact = vecs.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim", VectorFns.cosineStaged(
        col("v"), col("pv"), col("nrm"), col("pnrm")))
      .withColumn("rk", row_number().over(byProbe))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id"))
    val hits = ann.join(exact, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("hits"))
    cands.groupBy("probe_id").agg(count(lit(1)).as("n_cands"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_cands"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round4(coalesce(col("hits"), lit(0L)).cast("double") /
          lit(TopK.toDouble)).as("recall_at_k"))
      .orderBy("probe_id")
  }

  private val sqlIvfpqRecall = {
    val ldd = s"list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, $PqSubDim + 1), " +
      "i -> (qsv[CAST(i AS INT)] - cv[CAST(i AS INT)]) * (qsv[CAST(i AS INT)] - cv[CAST(i AS INT)])), " +
      "(acc, v) -> acc + v)"
    val sdd = s"list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, $PqSubDim + 1), " +
      "i -> (sv[CAST(i AS INT)] - cv[CAST(i AS INT)]) * (sv[CAST(i AS INT)] - cv[CAST(i AS INT)])), " +
      "(acc, v) -> acc + v)"
    s"""WITH $duckSemCells,
       |     pr AS (SELECT vec_id AS probe_id, cell AS pcell FROM cells
       |            WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     cand AS (SELECT pr.probe_id, cells.vec_id
       |              FROM cells JOIN pr ON cells.cell = pr.pcell
       |              WHERE cells.vec_id <> pr.probe_id),
       |     subs AS (SELECT vec_id, label, CAST(s AS INT) AS s,
       |                     v[CAST(s * $PqSubDim + 1 AS INT):CAST((s + 1) * $PqSubDim AS INT)] AS sv
       |              FROM e0 CROSS JOIN range(0, $PqM) t(s)),
       |     sx AS (SELECT s, label AS code, CAST(i - 1 AS INT) AS dim, sv[CAST(i AS INT)] AS x
       |            FROM subs CROSS JOIN range(1, $PqSubDim + 1) t2(i)),
       |     scd AS (SELECT s, code, dim, avg(x) AS cx FROM sx GROUP BY 1, 2, 3),
       |     scb AS (SELECT s, code, list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS cv
       |             FROM scd GROUP BY s, code),
       |     sscored AS (SELECT subs.vec_id, subs.s, scb.code, $sdd AS d2
       |                 FROM subs JOIN scb ON subs.s = scb.s),
       |     sbest AS (SELECT vec_id, s, code,
       |                      row_number() OVER (PARTITION BY vec_id, s
       |                        ORDER BY ${duckRound6("d2")} ASC, code) AS rk
       |               FROM sscored),
       |     codes AS (SELECT vec_id, s, code FROM sbest WHERE rk = 1),
       |     qs AS (SELECT vec_id AS probe_id, s, sv AS qsv FROM subs
       |            WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     lut AS (SELECT qs.probe_id, qs.s, scb.code, $ldd AS ld
       |             FROM qs JOIN scb ON qs.s = scb.s),
       |     sc AS (SELECT cand.probe_id, cand.vec_id,
       |              max(CASE WHEN codes.s = 0 THEN ld END) AS l0,
       |              max(CASE WHEN codes.s = 1 THEN ld END) AS l1,
       |              max(CASE WHEN codes.s = 2 THEN ld END) AS l2,
       |              max(CASE WHEN codes.s = 3 THEN ld END) AS l3
       |            FROM cand JOIN codes ON cand.vec_id = codes.vec_id
       |            JOIN lut ON lut.probe_id = cand.probe_id
       |                    AND codes.s = lut.s AND codes.code = lut.code
       |            GROUP BY 1, 2),
       |     f AS (SELECT probe_id, vec_id, l0 + l1 + l2 + l3 AS adc FROM sc),
       |     ann AS (SELECT probe_id, vec_id FROM (
       |               SELECT probe_id, vec_id,
       |                      row_number() OVER (PARTITION BY probe_id
       |                        ORDER BY ${duckRound6("adc")} ASC, vec_id) AS rk
       |               FROM f) WHERE rk <= $TopK),
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm
       |           FROM e WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     ex AS (SELECT probe_id, vec_id FROM (
       |              SELECT probe_id, vec_id,
       |                     row_number() OVER (PARTITION BY probe_id
       |                       ORDER BY ${duckDot("v", "pv")} / (nrm * pnrm) DESC, vec_id) AS rk
       |              FROM e, p WHERE vec_id <> probe_id) WHERE rk <= $TopK),
       |     h AS (SELECT probe_id, count(*) AS hits
       |           FROM ann JOIN ex USING (probe_id, vec_id) GROUP BY 1),
       |     nc AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_cands
       |            FROM cand GROUP BY 1)
       |SELECT nc.probe_id AS probe_id, nc.n_cands,
       |       CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |       ${duckRound4(
                 s"CAST(coalesce(h.hits, 0) AS DOUBLE) / $TopK.0")} AS recall_at_k
       |FROM nc LEFT JOIN h ON nc.probe_id = h.probe_id
       |ORDER BY nc.probe_id""".stripMargin
  }

  // ---------- 14c. q_sq8_recall: int8 scalar-quantization recall ----------

  /** Scalar (per-dimension int8) quantization recall audit — the
    * third point on the compression-recall curve next to 1-bit
    * ([[binaryQuant]]) and PQ ([[pqCodes]]): each dimension maps to
    * 0..255 over its corpus [min, max] range, candidates are scored
    * ASYMMETRICALLY (full-precision probe against reconstructed
    * candidates — the SQ-ADC convention), and per probe the top-k
    * overlap with exact search is reported. 8× compression with
    * near-exact recall is the usual production middle ground.
    *
    * Parity: min/max are exact aggregates; quantize
    * `floor((x−mn)/(mx−mn)·255 + 0.5)` and reconstruct
    * `mn + q·((mx−mn)/255)` are written in ONE literal operation
    * order on both engines (every op IEEE-deterministic, so even the
    * unrounded rank is engine-identical — the [[binaryQuant]] exact-
    * rank precedent); constant dimensions reconstruct to mn exactly.
    *
    * Scale: the (dim, min, max) table is 64 rows (broadcast); the
    * probe fan-out is capped by [[ProbeIdCap]]; reconstruction is a
    * per-row map. In a real serving path the reconstruction feeds
    * the same cell/bucket-pruned candidate sets as [[ivfpqAdc]].
    */
  def sq8Recall(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    val mm = vecs.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("dim"), col("mn"), col("mx")))).as("ps"))
      .select(expr("transform(ps, p -> p.mn)").as("mns"),
        expr("transform(ps, p -> p.mx)").as("mxs"))
    val recon = vecs.crossJoin(broadcast(mm))
      .withColumn("r", expr(
        """transform(v, (x, i) ->
          |  CASE WHEN mxs[i] - mns[i] = 0D THEN mns[i]
          |       ELSE mns[i] + floor((x - mns[i]) / (mxs[i] - mns[i]) * 255.0 + 0.5)
          |            * ((mxs[i] - mns[i]) / 255.0) END)""".stripMargin))
      .withColumn("rnrm", VectorFns.norm(col("r")))
      .select(col("vec_id"), col("v"), col("nrm"), col("r"), col("rnrm"))
      // corpus-grain checkpoint: guarantees the 64-element
      // reconstruction transform (an interpreted HOF) runs once per
      // VECTOR, never per pair (projection collapse can otherwise
      // inline it above the fan join), and once rather than per
      // consumer branch
      .localCheckpoint(true)
    val probes = recon
      .filter(pmod(col("vec_id"), lit(RecallProbeStep)) === 0 &&
        col("vec_id") < ProbeIdCap)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    // ONE scored fan, staged NARROW with BOTH sims (§2.3/§8 proxy
    // rule): the exact and SQ8 rankings consumed the crossJoin fan
    // separately, evaluating the reconstruction + both cosine
    // pipelines twice (20 parquet scans in the formatted plan)
    val joined = recon.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim_ex",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .withColumn("sim_sq",
        VectorFns.cosineStaged(col("r"), col("pv"), col("rnrm"), col("pnrm")))
      .select(col("probe_id"), col("vec_id"), col("sim_ex"), col("sim_sq"))
      .localCheckpoint(true)
    def topIds(simCol: String): DataFrame = joined
      .withColumn("rk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col(simCol).desc, col("vec_id"))))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id"))
    val exact = topIds("sim_ex")
    val sq = topIds("sim_sq")
    val hits = exact.join(sq, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("hits"))
    probes.select(col("probe_id"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round4(coalesce(col("hits"), lit(0L)).cast("double") / TopK).as("recall"))
      .orderBy("probe_id")
  }

  private val sqlSq8Recall = {
    val rExpr =
      "list_transform(range(1, len(v) + 1), i -> " +
        "CASE WHEN mxs[CAST(i AS INT)] - mns[CAST(i AS INT)] = 0 THEN mns[CAST(i AS INT)] " +
        "ELSE mns[CAST(i AS INT)] + floor((v[CAST(i AS INT)] - mns[CAST(i AS INT)]) / " +
        "(mxs[CAST(i AS INT)] - mns[CAST(i AS INT)]) * 255.0 + 0.5) " +
        "* ((mxs[CAST(i AS INT)] - mns[CAST(i AS INT)]) / 255.0) END)"
    s"""WITH $duckVecs,
       |     dx AS (SELECT CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |            FROM e CROSS JOIN range(1, 65) t(i)),
       |     dm AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM dx GROUP BY 1),
       |     mm AS (SELECT list_transform(list_sort(list({'dim': dim, 'mn': mn, 'mx': mx})),
       |                     p -> p.mn) AS mns,
       |                   list_transform(list_sort(list({'dim': dim, 'mn': mn, 'mx': mx})),
       |                     p -> p.mx) AS mxs
       |            FROM dm),
       |     rc0 AS (SELECT vec_id, v, nrm, $rExpr AS r FROM e CROSS JOIN mm),
       |     rc AS (SELECT vec_id, v, nrm, r, sqrt(${duckDot("r", "r")}) AS rnrm FROM rc0),
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm FROM rc
       |           WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     j AS (SELECT * FROM rc, p WHERE vec_id <> probe_id),
       |     ex AS (SELECT probe_id, vec_id,
       |              row_number() OVER (PARTITION BY probe_id
       |                ORDER BY ${duckDot("v", "pv")} / (nrm * pnrm) DESC, vec_id) AS rk
       |            FROM j),
       |     exact AS (SELECT probe_id, vec_id FROM ex WHERE rk <= $TopK),
       |     sr AS (SELECT probe_id, vec_id,
       |              row_number() OVER (PARTITION BY probe_id
       |                ORDER BY ${duckDot("r", "pv")} / (rnrm * pnrm) DESC, vec_id) AS rk
       |            FROM j),
       |     sq AS (SELECT probe_id, vec_id FROM sr WHERE rk <= $TopK),
       |     h AS (SELECT exact.probe_id, count(*) AS hits
       |           FROM exact JOIN sq ON exact.probe_id = sq.probe_id
       |                             AND exact.vec_id = sq.vec_id
       |           GROUP BY 1)
       |SELECT p.probe_id, CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |       ${duckRound4(s"CAST(coalesce(hits, 0) AS DOUBLE) / $TopK")} AS recall
       |FROM p LEFT JOIN h ON p.probe_id = h.probe_id
       |ORDER BY p.probe_id""".stripMargin
  }

  // ---------- 14d. q_filtered_knn: attribute-filtered vector search ----------

  /** Filtered vector search audit — PRE-filter vs POST-filter, the
    * serving decision every metadata-constrained ANN deployment
    * faces: restrict to an attribute shard (here the even-label half
    * of the corpus) either by filtering candidates BEFORE ranking
    * (correct, but the index must support predicates) or by taking
    * the unfiltered top-k and filtering AFTER (cheap, but survivors
    * < k and recall is lost). Per probe: the post-filter survivor
    * count and its recall against the pre-filter truth — the exact
    * table (recall ≈ selectivity, here ~½) that motivates
    * filter-aware indexes.
    *
    * Parity: both rankings order on the UNROUNDED staged cosine with
    * a vec_id tie-break — exact-rank convention ([[binaryQuant]]
    * precedent: identical IEEE op order makes even unrounded sims
    * engine-identical); the label predicate is integer modulo.
    *
    * Scale: probe fan-out capped by [[ProbeIdCap]]; in a real
    * serving path both arms run over the same cell/bucket-pruned
    * candidate sets as [[ivfSearch]] — the pre/post contrast, not
    * the scan, is what this query pins.
    */
  def filteredKnn(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    // Stage the probe set and the scored fan ONCE (§9 shape): the fan
    // is consumed by BOTH the pre-filter and post-filter rankings, and
    // unstaged each ranking re-ran the probe broadcast + the full
    // probe×corpus cosine kernel (14 parquet scans in the
    // before-plan). Projected narrow — the 64-d payloads never hit
    // the checkpoint; the fan is probe-capped (ProbeIdCap), so its
    // row count stays linear in the corpus at every SF.
    val probes = vecs
      .filter(pmod(col("vec_id"), lit(RecallProbeStep)) === 0 &&
        col("vec_id") < ProbeIdCap)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
      .localCheckpoint(true)
    val scored = vecs.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .select(col("probe_id"), col("vec_id"), col("label"), col("sim"))
      .localCheckpoint(true)
    val bySim = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val pre = scored.filter(col("label") % 2 === 0)
      .withColumn("rk", row_number().over(bySim))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id"))
    val post = scored
      .withColumn("rk", row_number().over(bySim))
      .filter(col("rk") <= TopK && col("label") % 2 === 0)
      .select(col("probe_id"), col("vec_id"))
    val nPost = post.groupBy("probe_id").agg(count(lit(1)).as("n_post"))
    val hits = pre.join(post, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("hits"))
    probes.select(col("probe_id"))
      .join(nPost, Seq("probe_id"), "left")
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round4(coalesce(col("hits"), lit(0L)).cast("double") / TopK).as("recall"))
      .orderBy("probe_id")
  }

  private val sqlFilteredKnn =
    s"""WITH $duckVecs,
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm FROM e
       |           WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     j AS (SELECT vec_id, label, probe_id,
       |             ${duckDot("v", "pv")} / (nrm * pnrm) AS sim
       |           FROM e, p WHERE vec_id <> probe_id),
       |     pre AS (SELECT probe_id, vec_id FROM (
       |               SELECT probe_id, vec_id,
       |                 row_number() OVER (PARTITION BY probe_id
       |                   ORDER BY sim DESC, vec_id) AS rk
       |               FROM j WHERE label % 2 = 0) r
       |             WHERE rk <= $TopK),
       |     post AS (SELECT probe_id, vec_id FROM (
       |                SELECT probe_id, vec_id, label,
       |                  row_number() OVER (PARTITION BY probe_id
       |                    ORDER BY sim DESC, vec_id) AS rk
       |                FROM j) r
       |              WHERE rk <= $TopK AND label % 2 = 0),
       |     np AS (SELECT probe_id, count(*) AS n_post FROM post GROUP BY 1),
       |     h AS (SELECT pre.probe_id, count(*) AS hits
       |           FROM pre JOIN post ON pre.probe_id = post.probe_id
       |                             AND pre.vec_id = post.vec_id
       |           GROUP BY 1)
       |SELECT p.probe_id, CAST(coalesce(n_post, 0) AS BIGINT) AS n_post,
       |       CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |       ${duckRound4(s"CAST(coalesce(hits, 0) AS DOUBLE) / $TopK")} AS recall
       |FROM p LEFT JOIN np ON p.probe_id = np.probe_id
       |       LEFT JOIN h ON p.probe_id = h.probe_id
       |ORDER BY p.probe_id""".stripMargin

  // ---------- 14e. q_xlingual_mine: cross-lingual best-match mining ----------

  /** Cross-lingual nearest-neighbor mining audit — the bitext-mining
    * primitive (CCMatrix / LASER margin mining, Schwenk et al. 2021):
    * for each probe document and each OTHER language, the best
    * cosine match in that language, rolled up per (src_lang,
    * tgt_lang) as probe count and mean best-similarity. On a clean
    * multilingual corpus the table IS the answer to "is any content
    * translated/duplicated across languages?" — here the means sit
    * far below the same-language dedup threshold, which is itself
    * the audit result (no cross-lingual leakage in the corpus).
    *
    * Parity: per-probe best = max over unrounded engine-identical
    * sims (exact-rank convention); the per-cell mean uses the
    * round6-DECIMAL exact-sum rule.
    *
    * Scale: probes capped by the [[RecallProbeStep]]/[[ProbeIdCap]]
    * convention; the per-probe scan is the brute baseline the
    * bucketed index ([[RunIndex]]) replaces at scale — mining then
    * probes each language's cell-pruned candidates instead.
    */
  def xlingualMine(spark: SparkSession, sfDir: String): DataFrame = {
    val langs = graft.schema.Tables.documents(spark, sfDir)
      .select(col("doc_id").as("vec_id"), col("lang"))
    val vecs = withVecs(spark, sfDir).join(langs, "vec_id")
    val probes = vecs
      .filter(pmod(col("vec_id"), lit(RecallProbeStep)) === 0 &&
        col("vec_id") < ProbeIdCap)
      .select(col("vec_id").as("probe_id"), col("lang").as("src_lang"),
        col("v").as("pv"), col("nrm").as("pnrm"))
    val best = vecs.crossJoin(broadcast(probes))
      .filter(col("lang") =!= col("src_lang"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .groupBy(col("probe_id"), col("src_lang"), col("lang").as("tgt_lang"))
      .agg(max(col("sim")).as("b"))
      .withColumn("wd", units(col("b"), 1e6).cast("decimal(28,0)"))
    best.groupBy("src_lang", "tgt_lang")
      .agg(count(lit(1)).as("n_probes"),
        round4(sum(col("wd")).cast("double") / 1000000.0 /
          count(lit(1)).cast("double")).as("mean_best"))
      .orderBy("src_lang", "tgt_lang")
  }

  private val sqlXlingualMine =
    s"""WITH $duckVecs,
       |     ev AS (SELECT e.vec_id, d.lang, e.v, e.nrm
       |            FROM e JOIN documents d ON e.vec_id = d.doc_id),
       |     p AS (SELECT vec_id AS probe_id, lang AS src_lang, v AS pv, nrm AS pnrm
       |           FROM ev WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     b AS (SELECT probe_id, src_lang, ev.lang AS tgt_lang,
       |             CAST(${duckUnits(s"max(${duckDot("ev.v", "pv")} / (ev.nrm * pnrm))", 1e6)} AS DECIMAL(28,0)) AS wd
       |           FROM ev, p WHERE ev.lang <> src_lang
       |           GROUP BY 1, 2, 3)
       |SELECT src_lang, tgt_lang, CAST(count(*) AS BIGINT) AS n_probes,
       |       ${duckRound4(
                  "CAST(sum(wd) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE)")} AS mean_best
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------- 15. q_kmeans_refine: Lloyd refinement rounds ----------

  private val KmRounds = 2

  /** [[KmRounds]] full Lloyd iterations on top of the coarse
    * quantizer: assignment 0 is [[ivfAssign]]'s (label-codebook
    * argmin), then each round recomputes centroids FROM the previous
    * assignment and re-assigns every vector — the actual k-means
    * training step an IVF index build runs until its cells settle.
    * Output: final cell sizes + mean within-cell similarity (the
    * cosine analogue of inertia).
    *
    * Scale shape per round: centroid recompute is one map-side-
    * combinable shuffle to O(cells × dims) state; the new codebook is
    * BROADCAST back, so re-assignment is a per-row map — the round
    * cost is one aggregate + one scan, no vector ever shuffles.
    * Driver-paced per the CLAUDE.md iterative-kernel rule: each
    * round's assignment is localCheckpoint'd eagerly and the
    * superseded round freed ([[graft.Stage.free]]) — an un-checkpointed round-r plan would
    * re-derive every earlier round once per reference (the q_pagerank
    * 44-scan pathology), and the lineage would double per round.
    *
    * Determinism: assignments rank on round-6 sims with the cell id
    * tie-break (both engines identical); the mean sim aggregates
    * round-6 sims as DECIMAL — exact, order-independent — and divides
    * once at the edge, so no float sum whose order could differ ever
    * forms.
    */
  def kmeansRefine(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir).localCheckpoint(true)
    var assigned = assignStep(vecs, codebookBy(vecs, "label")).localCheckpoint(true)
    (1 to KmRounds).foreach { _ =>
      val next = assignStep(vecs, codebookBy(assigned, "cell")).localCheckpoint(true)
      Stage.free(assigned) // safe: `next` is materialized by the eager checkpoint
      assigned = next
    }
    Stage.free(vecs) // the output reads only the final checkpointed round
    assigned.groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(round6(col("sim")).cast("decimal(18,6)")).as("sim_dec"))
      .withColumn("avg_sim",
        round4(col("sim_dec").cast("double") / col("n_vecs").cast("double")))
      .select(col("cell"), col("n_vecs"), col("avg_sim"))
      .orderBy("cell")
    // final round's blocks stay persisted (CC contract; Bench sweeps
    // leftovers after each timed run)
  }

  /** One oracle Lloyd round `a$suffix` = argmin assignment of every
    * vector in `e` against the mean-vector codebook of `srcRel` keyed
    * by `keyCol` — the SQL twin of `assignStep(vecs,
    * codebookBy(srcRel, keyCol))`, suffix-namespaced so rounds chain.
    */
  private def duckKmRound(suffix: String, srcRel: String, keyCol: String): String =
    s"""x$suffix AS (SELECT $keyCol AS c_label, CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |           FROM $srcRel CROSS JOIN range(1, 65) t$suffix(i)),
       |     cd$suffix AS (SELECT c_label, dim, avg(x) AS cx FROM x$suffix GROUP BY 1, 2),
       |     c0$suffix AS (SELECT c_label, list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS cv
       |            FROM cd$suffix GROUP BY c_label),
       |     c$suffix AS (SELECT c_label, cv, sqrt(${duckDot("cv", "cv")}) AS cnrm FROM c0$suffix),
       |     s$suffix AS (SELECT t.vec_id, t.label, t.v, t.nrm, c.c_label,
       |                  ${duckDot("t.v", "c.cv")} / (t.nrm * c.cnrm) AS sim
       |           FROM e t CROSS JOIN c$suffix c),
       |     a$suffix AS (SELECT vec_id, label, v, nrm, c_label AS cell, sim FROM (
       |             SELECT *, row_number() OVER (PARTITION BY vec_id
       |               ORDER BY ${duckRound6("sim")} DESC, c_label) AS rk FROM s$suffix)
       |           WHERE rk = 1)""".stripMargin

  private val sqlKmeansRefine =
    s"""WITH $duckVecs,
       |     ${duckKmRound("0", "e", "label")},
       |     ${duckKmRound("1", "a0", "cell")},
       |     ${duckKmRound("2", "a1", "cell")}
       |SELECT cell, count(*) AS n_vecs,
       |       ${duckRound4(
                 s"CAST(sum(CAST(${duckRound6("sim")} AS DECIMAL(18,6))) AS DOUBLE)" +
                   " / CAST(count(*) AS DOUBLE)")} AS avg_sim
       |FROM a2 GROUP BY cell ORDER BY cell""".stripMargin

  // ---------- q_binary_quant: 1-bit sign quantization recall ----------

  /** Binary (1-bit sign) quantization recall audit: quantize every
    * 64-d embedding to a 64-bit sign signature (two 32-bit halves),
    * rank candidates per probe by HAMMING distance, and score
    * recall@10 against the exact cosine top-10 — the audit behind the
    * 32×-compression "binary embeddings" serving mode modern vector
    * stores ship (Hamming over packed bits is the SIMD-cheap full-scan
    * path; [[annRecall]]'s LSH bucket is its indexed sibling —
    * indeed the LSH bucket IS 6 of these 64 bits).
    *
    * Shape: signatures are 32 branch-free literal terms per half over
    * the RAW float array (codegen'd, no HOF, no transform-inlining
    * hazard), the probe set broadcasts, and the Hamming rank is pure
    * integers — the one rank with zero float hazard by construction.
    * The exact side reuses the staged-cosine kernel; its ranks are
    * bit-identical across engines per the left-fold parity rule.
    */
  def binaryQuant(spark: SparkSession, sfDir: String): DataFrame = {
    def mask(off: Int) = (0 until 32).map(j =>
      when(element_at(col("embedding"), off + j + 1) > 0f, lit(1L << j))
        .otherwise(lit(0L))).reduce(_ + _)
    val sigs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .select(col("vec_id"), mask(0).as("lo"), mask(32).as("hi"))
    val base = withVecs(spark, sfDir).join(sigs, "vec_id")
    val probes = base.filter((pmod(col("vec_id"), lit(RecallProbeStep)) === 0 && col("vec_id") < ProbeIdCap))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("lo").as("plo"), col("hi").as("phi"))
    // ONE scored fan, staged NARROW (probe, vec, sim, ham — §2.3/§8
    // proxy rule: never checkpoint the 64-d payloads): the exact and
    // Hamming rankings consumed the crossJoin fan separately, so the
    // whole sign-mask + cosine pipeline evaluated twice (24 parquet
    // scans in the formatted plan). Blocks freed by the harness
    // per-query unpersist.
    val scored = base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .withColumn("ham", expr(
        "CAST(bit_count(lo ^ plo) + bit_count(hi ^ phi) AS BIGINT)"))
      .select(col("probe_id"), col("vec_id"), col("sim"), col("ham"))
      .localCheckpoint(true)
    val bySim = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val byHam = Window.partitionBy("probe_id").orderBy(col("ham"), col("vec_id"))
    val exact = scored
      .withColumn("rk", row_number().over(bySim))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id"))
    val ham = scored
      .withColumn("rk", row_number().over(byHam))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id"), col("ham"))
    val hamStats = ham.groupBy("probe_id")
      .agg(round4(avg(col("ham"))).as("avg_ham"))
    val hits = exact.join(ham.select("probe_id", "vec_id"),
        Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("hits"))
    hamStats
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("avg_ham"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round4(coalesce(col("hits"), lit(0L)).cast("double") / TopK).as("recall"))
      .orderBy("probe_id")
  }

  private val sqlBinaryQuant = {
    def mask(off: Int) = (0 until 32).map(j =>
      s"(CASE WHEN embedding[${off + j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("(", " + ", ")")
    s"""WITH $duckVecs,
       |     sg AS (SELECT vec_id, ${mask(0)} AS lo, ${mask(32)} AS hi FROM embeddings),
       |     b AS (SELECT e.vec_id, v, nrm, lo, hi FROM e JOIN sg ON e.vec_id = sg.vec_id),
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm,
       |                  lo AS plo, hi AS phi
       |           FROM b WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     j AS (SELECT * FROM b, p WHERE vec_id <> probe_id),
       |     ex AS (SELECT probe_id, vec_id,
       |              row_number() OVER (PARTITION BY probe_id
       |                ORDER BY ${duckDot("v", "pv")} / (nrm * pnrm) DESC, vec_id) AS rk
       |            FROM j),
       |     exact AS (SELECT probe_id, vec_id FROM ex WHERE rk <= $TopK),
       |     hm AS (SELECT probe_id, vec_id,
       |                   CAST(bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) AS BIGINT) AS ham
       |            FROM j),
       |     hr AS (SELECT probe_id, vec_id, ham,
       |              row_number() OVER (PARTITION BY probe_id
       |                ORDER BY ham, vec_id) AS rk
       |            FROM hm),
       |     htop AS (SELECT probe_id, vec_id, ham FROM hr WHERE rk <= $TopK),
       |     hs AS (SELECT probe_id, ${duckRound4("avg(ham)")} AS avg_ham FROM htop GROUP BY 1),
       |     hits AS (SELECT exact.probe_id, count(*) AS hits
       |              FROM exact JOIN htop ON exact.probe_id = htop.probe_id
       |                                  AND exact.vec_id = htop.vec_id
       |              GROUP BY 1)
       |SELECT hs.probe_id, avg_ham,
       |       CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |       ${duckRound4(s"CAST(coalesce(hits, 0) AS DOUBLE) / $TopK")} AS recall
       |FROM hs LEFT JOIN hits ON hs.probe_id = hits.probe_id
       |ORDER BY hs.probe_id""".stripMargin
  }

  // ---------- q_maxsim: late-interaction (ColBERT MaxSim) scoring ----------

  private val MsSubDim = 16
  private val MsSubs = 4

  /** Late-interaction retrieval scoring (ColBERT's MaxSim, Khattab &
    * Zaharia 2020): treat each vector as [[MsSubs]] × [[MsSubDim]]-d
    * sub-embeddings ("token" vectors — here deterministic slices of
    * the stored embedding), score a document against the probe as
    * Σ_q maxᵈ cos(q_sub, d_sub), and rank top-10. The operator the
    * multi-vector serving tier runs where single-vector cosine loses
    * token-level signal.
    *
    * Shape: both sides fan to sub-vector grain (a 4-element literal
    * array explode — row-local), the probe's 4 sub-vectors broadcast,
    * and the per-(doc, q-slot) max + per-doc fixed-order 4-term sum
    * are hash aggregates — work is docs × 16 native dots, linear in
    * the corpus. Parity: sub-vector norms and dots are the staged
    * left-fold kernels (bit-identical), the max is a comparison of
    * identical bits, and the 4-term final sum is written in fixed
    * slot order on both engines — no unordered float reduction
    * anywhere.
    */
  def maxsim(spark: SparkSession, sfDir: String): DataFrame = {
    def subs(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = array((0 until MsSubs).map(i =>
      slice(v, i * MsSubDim + 1, MsSubDim)): _*)
    val base = withVecs(spark, sfDir)
      .withColumn("sv", subs(col("v")))
      .select(col("vec_id"), col("label"),
        posexplode_outer(col("sv")).as(Seq("si", "sub")))
      .withColumn("snrm", sqrt(graft.functions.VectorNative.dot(col("sub"), col("sub"))))
    val probe = base.filter(col("vec_id") === 0)
      .select(col("si").as("qi"), col("sub").as("qsub"), col("snrm").as("qnrm"))
    val perSlot = base.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .withColumn("sim", graft.functions.VectorNative.dot(col("sub"), col("qsub"))
        / (col("snrm") * col("qnrm")))
      .groupBy("vec_id", "label", "qi")
      .agg(max(col("sim")).as("m"))
    val slotAggs = (0 until MsSubs).map(i =>
      max(when(col("qi") === i, col("m"))).as(s"m$i"))
    val scored = perSlot.groupBy("vec_id", "label")
      .agg(slotAggs.head, slotAggs.tail: _*)
      .withColumn("score",
        col("m0") + col("m1") + col("m2") + col("m3"))
    scored.orderBy(col("score").desc, col("vec_id"))
      .limit(TopK)
      .select(col("vec_id"), col("label"), round4(col("score")).as("maxsim"))
  }

  private val sqlMaxsim = {
    def sub(v: String, i: Int) =
      s"$v[${i * MsSubDim + 1}:${(i + 1) * MsSubDim}]"
    s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     sx AS (SELECT vec_id, label, i AS si,
       |                   CASE ${(0 until MsSubs).map(i =>
                      s"WHEN i = $i THEN ${sub("v", i)}").mkString(" ")} END AS sub
       |            FROM e0 CROSS JOIN range(0, $MsSubs) t(i)),
       |     sn AS (SELECT vec_id, label, si, sub,
       |                   sqrt(${duckDot("sub", "sub")}) AS snrm
       |            FROM sx),
       |     p AS (SELECT si AS qi, sub AS qsub, snrm AS qnrm FROM sn WHERE vec_id = 0),
       |     ps AS (SELECT vec_id, label, qi,
       |                   max(${duckDot("sub", "qsub")} / (snrm * qnrm)) AS m
       |            FROM sn, p WHERE vec_id <> 0
       |            GROUP BY 1, 2, 3),
       |     sc AS (SELECT vec_id, label,
       |                   ${(0 until MsSubs).map(i =>
                      s"max(CASE WHEN qi = $i THEN m END) AS m$i").mkString(", ")}
       |            FROM ps GROUP BY 1, 2)
       |SELECT vec_id, label,
       |       ${duckRound4("(((m0 + m1) + m2) + m3)")} AS maxsim
       |FROM sc ORDER BY (((m0 + m1) + m2) + m3) DESC, vec_id LIMIT $TopK""".stripMargin
  }

  // ---------- q_quant_mrr: true-NN rank under quantized ordering ----------

  /** Mean reciprocal rank of the TRUE nearest neighbor inside the
    * binary-quantized (Hamming) ranking — the retrieval-quality
    * metric that complements [[binaryQuant]]'s recall@10: recall says
    * how much of the top-10 survives quantization, MRR says how far
    * the single best answer sinks (the number a rerank-depth decision
    * reads: a true NN at Hamming rank ≤ r is recovered by reranking
    * the top r with exact scores).
    *
    * Shape: the NN's rank is a COUNT of candidates ordered strictly
    * before it ((ham, vec_id) lexicographic — exact integers, no
    * window over the candidate set), per probe; the ≤n_probes NN rows
    * broadcast back onto the candidate fan. The MRR mean is a
    * round6-DECIMAL sum of 1/rank (order-independent).
    */
  def quantMrr(spark: SparkSession, sfDir: String): DataFrame = {
    def mask(off: Int) = (0 until 32).map(j =>
      when(element_at(col("embedding"), off + j + 1) > 0f, lit(1L << j))
        .otherwise(lit(0L))).reduce(_ + _)
    val sigs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), mask(0).as("lo"), mask(32).as("hi"))
    val base = withVecs(spark, sfDir).join(sigs, "vec_id")
    val probes = base.filter((pmod(col("vec_id"), lit(RecallProbeStep)) === 0 && col("vec_id") < ProbeIdCap))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("lo").as("plo"), col("hi").as("phi"))
    // staged NARROW once (§2.3/§8 proxy rule): the NN election and the
    // rank count consumed the crossJoin fan separately, evaluating the
    // cosine + Hamming pipeline twice (16 parquet scans in the
    // formatted plan)
    val joined = base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .withColumn("ham", expr(
        "CAST(bit_count(lo ^ plo) + bit_count(hi ^ phi) AS BIGINT)"))
      .select(col("probe_id"), col("vec_id"), col("sim"), col("ham"))
      .localCheckpoint(true)
    // True-NN election as min(struct(−sim, vec_id, ham)) — exact raw
    // sims, the (sim, vec_id) key is unique per probe; the aggregate
    // collapses the corpus×probes fan-out map-side instead of
    // shuffling and sorting it under a window.
    val nn = joined
      .groupBy(col("probe_id"))
      .agg(min(struct((-col("sim")).as("k1"), col("vec_id").as("k2"),
        col("ham").as("h"))).as("w"))
      .select(col("probe_id"), col("w.k2").as("nn_id"), col("w.h").as("nn_ham"))
    val ranks = joined.select(col("probe_id"), col("vec_id"), col("ham"))
      .join(broadcast(nn), "probe_id")
      .groupBy("probe_id")
      .agg((sum(when(col("ham") < col("nn_ham")
        || (col("ham") === col("nn_ham") && col("vec_id") < col("nn_id")),
        1L).otherwise(0L)) + 1L).as("nn_rank"))
    ranks.agg(count(lit(1)).as("n_probes"),
        sum(round6(lit(1.0) / col("nn_rank").cast("double"))
          .cast("decimal(18,6)")).as("rr_dec"),
        max(col("nn_rank")).as("worst_rank"))
      .select(col("n_probes"),
        round4(col("rr_dec").cast("double") / col("n_probes").cast("double"))
          .as("mrr"),
        col("worst_rank"))
  }

  private val sqlQuantMrr = {
    def mask(off: Int) = (0 until 32).map(j =>
      s"(CASE WHEN embedding[${off + j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("(", " + ", ")")
    s"""WITH $duckVecs,
       |     sg AS (SELECT vec_id, ${mask(0)} AS lo, ${mask(32)} AS hi FROM embeddings),
       |     b AS (SELECT e.vec_id, v, nrm, lo, hi FROM e JOIN sg ON e.vec_id = sg.vec_id),
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm,
       |                  lo AS plo, hi AS phi
       |           FROM b WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     j AS (SELECT probe_id, vec_id,
       |                  ${duckDot("v", "pv")} / (nrm * pnrm) AS sim,
       |                  CAST(bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) AS BIGINT) AS ham
       |           FROM b, p WHERE vec_id <> probe_id),
       |     nn AS (SELECT probe_id, vec_id AS nn_id, ham AS nn_ham
       |            FROM (SELECT probe_id, vec_id, ham,
       |                    row_number() OVER (PARTITION BY probe_id
       |                      ORDER BY sim DESC, vec_id) AS rk
       |                  FROM j) WHERE rk = 1),
       |     rk AS (SELECT j.probe_id,
       |              CAST(sum(CASE WHEN j.ham < nn_ham
       |                        OR (j.ham = nn_ham AND j.vec_id < nn_id)
       |                       THEN 1 ELSE 0 END) + 1 AS BIGINT) AS nn_rank
       |            FROM j JOIN nn ON j.probe_id = nn.probe_id
       |            GROUP BY j.probe_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_probes,
       |       ${duckRound4(
                 s"CAST(sum(CAST(${duckRound6("1.0 / CAST(nn_rank AS DOUBLE)")} AS DECIMAL(18,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS mrr,
       |       max(nn_rank) AS worst_rank
       |FROM rk""".stripMargin
  }

  // ---------- q_quant_ndcg: graded ranking quality under quantization ----------

  /** NDCG@10 of the binary-quantized (Hamming) ranking against
    * graded relevance from the exact cosine order (rel = 11 − exact
    * rank) — the third leg of the quantization-quality tripod:
    * recall@10 ([[binaryQuant]]) counts survivors, MRR
    * ([[quantMrr]]) tracks the best answer, NDCG weighs HOW FAR each
    * graded answer sank. IDCG is a literal (the perfect-order sum,
    * rendered from the same Scala constant into both plans).
    *
    * Parity: ranks are integer lexicographic counts (no windows over
    * candidates); log2(1+rank) is the one non-literal transcendental,
    * so every DCG term lands in a round6-DECIMAL before the cross-row
    * sum (the `q_zipf_fit` guard); one rounded division per probe.
    */
  def quantNdcg(spark: SparkSession, sfDir: String): DataFrame = {
    val idcg = (1 to TopK).map(i => (11 - i) / (math.log(1.0 + i) / math.log(2.0))).sum
    def mask(off: Int) = (0 until 32).map(j =>
      when(element_at(col("embedding"), off + j + 1) > 0f, lit(1L << j))
        .otherwise(lit(0L))).reduce(_ + _)
    val sigs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), mask(0).as("lo"), mask(32).as("hi"))
    val base = withVecs(spark, sfDir).join(sigs, "vec_id")
    val probes = base.filter((pmod(col("vec_id"), lit(RecallProbeStep)) === 0 && col("vec_id") < ProbeIdCap))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("lo").as("plo"), col("hi").as("phi"))
    val joined = base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .withColumn("ham", expr(
        "CAST(bit_count(lo ^ plo) + bit_count(hi ^ phi) AS BIGINT)"))
      // staged NARROW once (§2.3/§8 proxy rule): `graded` and the rank
      // count consumed the fan separately — two cosine+Hamming
      // pipeline evaluations (16 parquet scans in the formatted plan)
      .select(col("probe_id"), col("vec_id"), col("sim"), col("ham"))
      .localCheckpoint(true)
    val graded = joined
      .withColumn("rk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id").as("g_id"),
        (lit(11L) - col("rk")).as("rel"), col("ham").as("g_ham"))
    val ranked = joined.select(col("probe_id"), col("vec_id"), col("ham"))
      .join(graded, "probe_id")
      .groupBy(col("probe_id"), col("g_id"), col("rel"))
      .agg((sum(when(col("ham") < col("g_ham")
        || (col("ham") === col("g_ham") && col("vec_id") < col("g_id")),
        1L).otherwise(0L)) + 1L).as("qrank"))
    ranked.groupBy("probe_id")
      .agg(sum(round6(col("rel").cast("double")
        / (log(col("qrank").cast("double") + 1.0) / math.log(2.0))).cast("decimal(18,6)"))
        .as("dcg_dec"))
      .select(col("probe_id"),
        round4(col("dcg_dec").cast("double") / idcg).as("ndcg"))
      .orderBy("probe_id")
  }

  private val sqlQuantNdcg = {
    val idcg = (1 to TopK).map(i => (11 - i) / (math.log(1.0 + i) / math.log(2.0))).sum
    val ln2 = math.log(2.0)
    def mask(off: Int) = (0 until 32).map(j =>
      s"(CASE WHEN embedding[${off + j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("(", " + ", ")")
    s"""WITH $duckVecs,
       |     sg AS (SELECT vec_id, ${mask(0)} AS lo, ${mask(32)} AS hi FROM embeddings),
       |     b AS (SELECT e.vec_id, v, nrm, lo, hi FROM e JOIN sg ON e.vec_id = sg.vec_id),
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm,
       |                  lo AS plo, hi AS phi
       |           FROM b WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     j AS (SELECT probe_id, vec_id,
       |                  ${duckDot("v", "pv")} / (nrm * pnrm) AS sim,
       |                  CAST(bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) AS BIGINT) AS ham
       |           FROM b, p WHERE vec_id <> probe_id),
       |     g AS (SELECT probe_id, vec_id AS g_id, 11 - rk AS rel, ham AS g_ham
       |           FROM (SELECT probe_id, vec_id, ham,
       |                   row_number() OVER (PARTITION BY probe_id
       |                     ORDER BY sim DESC, vec_id) AS rk
       |                 FROM j) WHERE rk <= $TopK),
       |     q AS (SELECT j.probe_id, g_id, rel,
       |             CAST(sum(CASE WHEN j.ham < g_ham
       |                       OR (j.ham = g_ham AND j.vec_id < g_id)
       |                      THEN 1 ELSE 0 END) + 1 AS BIGINT) AS qrank
       |           FROM j JOIN g ON j.probe_id = g.probe_id
       |           GROUP BY j.probe_id, g_id, rel)
       |SELECT probe_id,
       |       ${duckRound4(
                 s"CAST(sum(CAST(${duckRound6(
                   s"CAST(rel AS DOUBLE) / (ln(CAST(qrank AS DOUBLE) + 1.0) / $ln2)")} AS DECIMAL(18,6))) AS DOUBLE) / $idcg")} AS ndcg
       |FROM q GROUP BY probe_id ORDER BY probe_id""".stripMargin
  }

  // ---------- q_map_eval: mean average precision under quantization ----------

  /** MAP@[[TopK]] of the binary-quantized (Hamming) ranking against
    * exact-cosine top-[[TopK]] relevance — the fourth leg of the
    * quantization-quality audit: recall@10 ([[binaryQuant]]) counts
    * survivors, MRR ([[quantMrr]]) tracks the single best answer,
    * NDCG ([[quantNdcg]]) weighs graded sink depth, and AP integrates
    * precision over EVERY hit's rank (the metric ad-hoc retrieval
    * evals report — Manning et al., IR book ch. 8). AP per probe =
    * Σ_j (j / r_j) / K over its hits at quantized ranks r_1 < … <
    * r_m ≤ K.
    *
    * Shape: relevance = the exact top-k window (probe-keyed, bounded
    * K rows out); each relevant candidate's quantized rank is the
    * integer lexicographic (ham, vec_id) count — no window ever runs
    * over the candidate fan (the [[quantNdcg]] discipline); the hit
    * index j is a window over ≤ K hit rows per probe (bounded). Every
    * j/r term is an exact rational division collapsed to round6
    * DECIMAL before the cross-row sum; one rounded division per
    * probe. Probes whose hits all sink below K score 0 via the
    * probe-spine left join, so the audit can't go vacuous silently.
    */
  def mapEval(spark: SparkSession, sfDir: String): DataFrame = {
    def mask(off: Int) = (0 until 32).map(j =>
      when(element_at(col("embedding"), off + j + 1) > 0f, lit(1L << j))
        .otherwise(lit(0L))).reduce(_ + _)
    val sigs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), mask(0).as("lo"), mask(32).as("hi"))
    val base = withVecs(spark, sfDir).join(sigs, "vec_id")
    val probes = base.filter((pmod(col("vec_id"), lit(RecallProbeStep)) === 0 && col("vec_id") < ProbeIdCap))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("lo").as("plo"), col("hi").as("phi"))
    // staged NARROW once (§2.3/§8 proxy rule): `rel` and `qranks`
    // consumed the crossJoin fan separately, evaluating the cosine +
    // Hamming pipeline twice (20 parquet scans in the formatted plan)
    val joined = base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .withColumn("ham", expr(
        "CAST(bit_count(lo ^ plo) + bit_count(hi ^ phi) AS BIGINT)"))
      .select(col("probe_id"), col("vec_id"), col("sim"), col("ham"))
      .localCheckpoint(true)
    val rel = joined
      .withColumn("rk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id").as("g_id"), col("ham").as("g_ham"))
    val qranks = joined.select(col("probe_id"), col("vec_id"), col("ham"))
      .join(rel, "probe_id")
      .groupBy(col("probe_id"), col("g_id"))
      .agg((sum(when(col("ham") < col("g_ham")
        || (col("ham") === col("g_ham") && col("vec_id") < col("g_id")),
        1L).otherwise(0L)) + 1L).as("qrank"))
      .filter(col("qrank") <= TopK)
    val terms = qranks
      // hit index j over ≤ TopK hit rows per probe (bounded window)
      .withColumn("j", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("qrank"))))
      .withColumn("t6", round6(col("j").cast("double") / col("qrank").cast("double"))
        .cast("decimal(18,6)"))
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_hits"), sum(col("t6")).as("ap_dec"))
    probes.select("probe_id")
      .join(terms, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round4(coalesce(col("ap_dec").cast("double"), lit(0.0)) / TopK).as("ap"))
      .orderBy("probe_id")
  }

  private val sqlMapEval = {
    def mask(off: Int) = (0 until 32).map(j =>
      s"(CASE WHEN embedding[${off + j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("(", " + ", ")")
    s"""WITH $duckVecs,
       |     sg AS (SELECT vec_id, ${mask(0)} AS lo, ${mask(32)} AS hi FROM embeddings),
       |     b AS (SELECT e.vec_id, v, nrm, lo, hi FROM e JOIN sg ON e.vec_id = sg.vec_id),
       |     p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm,
       |                  lo AS plo, hi AS phi
       |           FROM b WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     j AS (SELECT probe_id, vec_id,
       |                  ${duckDot("v", "pv")} / (nrm * pnrm) AS sim,
       |                  CAST(bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) AS BIGINT) AS ham
       |           FROM b, p WHERE vec_id <> probe_id),
       |     g AS (SELECT probe_id, vec_id AS g_id, ham AS g_ham
       |           FROM (SELECT probe_id, vec_id, ham,
       |                   row_number() OVER (PARTITION BY probe_id
       |                     ORDER BY sim DESC, vec_id) AS rk
       |                 FROM j) WHERE rk <= $TopK),
       |     q AS (SELECT j.probe_id, g_id,
       |             CAST(sum(CASE WHEN j.ham < g_ham
       |                       OR (j.ham = g_ham AND j.vec_id < g_id)
       |                      THEN 1 ELSE 0 END) + 1 AS BIGINT) AS qrank
       |           FROM j JOIN g ON j.probe_id = g.probe_id
       |           GROUP BY j.probe_id, g_id),
       |     h AS (SELECT probe_id, qrank,
       |             row_number() OVER (PARTITION BY probe_id ORDER BY qrank) AS jx
       |           FROM q WHERE qrank <= $TopK),
       |     t AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_hits,
       |             sum(CAST(${duckRound6(
                       "CAST(jx AS DOUBLE) / CAST(qrank AS DOUBLE)")} AS DECIMAL(18,6))) AS ap_dec
       |           FROM h GROUP BY probe_id)
       |SELECT p.probe_id, coalesce(n_hits, 0) AS n_hits,
       |       ${duckRound4(
                 s"coalesce(CAST(ap_dec AS DOUBLE), 0.0) / $TopK")} AS ap
       |FROM p LEFT JOIN t ON p.probe_id = t.probe_id
       |ORDER BY p.probe_id""".stripMargin
  }

  // ---------- q_exposure_share: ranking-fairness exposure audit ----------

  /** Group-exposure audit of the quantized serving ranking (Singh &
    * Joachims, KDD'18): each top-[[TopK]] slot carries position-bias
    * weight 1/log₂(1+rank), and the audit compares every label's
    * share of TOTAL exposure against its corpus share — the fairness
    * number a retrieval deployment tracks, because equal relevance
    * does not imply equal exposure once position bias compounds
    * (ratio < 1 = the ranking under-exposes the group relative to
    * its base rate).
    *
    * Shape: the same probe-broadcast Hamming top-k as
    * [[binaryQuant]] (fixed probe budget), exposure terms round6-
    * DECIMAL-staged before the label-grain sums (the NDCG log
    * discipline), corpus shares one label-grain count; ratio composes
    * the two unrounded quotients once at the edge.
    */
  def exposureShare(spark: SparkSession, sfDir: String): DataFrame = {
    def mask(off: Int) = (0 until 32).map(j =>
      when(element_at(col("embedding"), off + j + 1) > 0f, lit(1L << j))
        .otherwise(lit(0L))).reduce(_ + _)
    val sigs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), mask(0).as("lo"), mask(32).as("hi"))
    val base = withVecs(spark, sfDir).join(sigs, "vec_id")
    val probes = base.filter((pmod(col("vec_id"), lit(RecallProbeStep)) === 0 && col("vec_id") < ProbeIdCap))
      .select(col("vec_id").as("probe_id"),
        col("lo").as("plo"), col("hi").as("phi"))
    val byHam = Window.partitionBy("probe_id").orderBy(col("ham"), col("vec_id"))
    val slots = base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("ham", expr(
        "CAST(bit_count(lo ^ plo) + bit_count(hi ^ phi) AS BIGINT)"))
      .withColumn("rk", row_number().over(byHam))
      .filter(col("rk") <= TopK)
      .withColumn("w6", units(lit(1.0) /
        (log(col("rk").cast("double") + 1.0) / math.log(2.0)), 1e6).cast("decimal(28,0)"))
    // label-grain frames staged (a handful of rows each): without the
    // checkpoints the exposure TOTAL re-ran the whole slots window fan
    // and the corpus total re-ran the corpus aggregate (24 parquet
    // scans in the formatted plan)
    val expo = slots.groupBy("label")
      .agg(count(lit(1)).as("n_slots"), sum(col("w6")).as("e_dec"))
      .localCheckpoint(true)
    val eTot = expo.agg(sum(col("e_dec")).as("et"))
    val corpus = base.groupBy("label").agg(count(lit(1)).as("n_corpus"))
      .localCheckpoint(true)
    val cTot = corpus.agg(sum(col("n_corpus")).as("ct"))
    val eShare = col("e_dec").cast("double") / col("et").cast("double")
    val cShare = col("n_corpus").cast("double") / col("ct").cast("double")
    expo.join(corpus, "label")
      .crossJoin(broadcast(eTot)).crossJoin(broadcast(cTot))
      .select(col("label"), col("n_slots"), col("n_corpus"),
        round4(eShare).as("exposure_share"),
        round4(cShare).as("corpus_share"),
        round4(eShare / cShare).as("exposure_ratio"))
      .orderBy("label")
  }

  private val sqlExposureShare = {
    val ln2 = math.log(2.0)
    def mask(off: Int) = (0 until 32).map(j =>
      s"(CASE WHEN embedding[${off + j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("(", " + ", ")")
    val eShare = "CAST(e_dec AS DOUBLE) / CAST(et AS DOUBLE)"
    val cShare = "CAST(n_corpus AS DOUBLE) / CAST(ct AS DOUBLE)"
    s"""WITH $duckVecs,
       |     sg AS (SELECT vec_id, ${mask(0)} AS lo, ${mask(32)} AS hi FROM embeddings),
       |     b AS (SELECT e.vec_id, e.label, lo, hi FROM e JOIN sg ON e.vec_id = sg.vec_id),
       |     p AS (SELECT vec_id AS probe_id, lo AS plo, hi AS phi
       |           FROM b WHERE vec_id % $RecallProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     j AS (SELECT probe_id, vec_id, label,
       |                  CAST(bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) AS BIGINT) AS ham
       |           FROM b, p WHERE vec_id <> probe_id),
       |     sl AS (SELECT label,
       |              CAST(${duckUnits(s"1.0 / (ln(CAST(rk AS DOUBLE) + 1.0) / $ln2)", 1e6)} AS DECIMAL(28,0)) AS w6
       |            FROM (SELECT label, row_number() OVER (PARTITION BY probe_id
       |                    ORDER BY ham, vec_id) AS rk
       |                  FROM j) WHERE rk <= $TopK),
       |     ex AS (SELECT label, CAST(count(*) AS BIGINT) AS n_slots,
       |                   sum(w6) AS e_dec
       |            FROM sl GROUP BY 1),
       |     et AS (SELECT sum(e_dec) AS et FROM ex),
       |     co AS (SELECT label, CAST(count(*) AS BIGINT) AS n_corpus FROM b GROUP BY 1),
       |     ct AS (SELECT sum(n_corpus) AS ct FROM co)
       |SELECT ex.label, n_slots, n_corpus,
       |       ${duckRound4(eShare)} AS exposure_share,
       |       ${duckRound4(cShare)} AS corpus_share,
       |       ${duckRound4(s"($eShare) / ($cShare)")} AS exposure_ratio
       |FROM ex JOIN co ON ex.label = co.label
       |CROSS JOIN et CROSS JOIN ct
       |ORDER BY ex.label""".stripMargin
  }

  // ---------- q_dbscan_core: density core/border/noise census ----------

  /** DBSCAN's point taxonomy over the embedding corpus (Ester et al.
    * 1996): core = ≥3 cosine-neighbors at sim ≥ 0.25, border =
    * non-core with a core neighbor, noise = neither — the density
    * census a clustering deployment reads to pick eps/minPts before
    * running the full algorithm (lots of noise ⇒ eps too tight;
    * everything core ⇒ too loose). Neighborhoods are k-means
    * CELL-BLOCKED like [[semanticDedup]] (per-cell pairs, never
    * all-pairs) — the standard grid-accelerated DBSCAN bound, which
    * undercounts only cross-cell neighbors (documented
    * approximation, same on both engines by construction).
    *
    * Shape: one within-cell pair pass → symmetric neighbor edge
    * list → per-vec degree (core flag) → one edge join for the
    * border flag → bounded label census. Compare on round6 sims.
    */
  def dbscanCore(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = withCappedBlock(assignedCells(withVecs(spark, sfDir)), "cell")
    // staged like [[dbscanClusters]]'s prs (the twice-read rule): the
    // symmetric edge union reads it twice and both the degree and the
    // core-neighbor legs read the union — un-staged, the pair join
    // re-derived up to ~8× behind runtime exchange reuse, and partial
    // reuse was the round-15 "+0.5 s fixed elevation" watch item (96
    // exchanges / 20 sort-merge joins in the un-staged plan)
    val prs = cells.as("a").join(cells.as("b"),
        col("a.blk") === col("b.blk") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("s6", round6(VectorFns.cosineStaged(
        col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm"))))
      .filter(col("s6") >= NearDupThreshold)
      .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"))
      .localCheckpoint(true)
    val edges = prs.unionAll(prs.select(col("y").as("x"), col("x").as("y")))
    val deg = edges.groupBy("x").agg(count(lit(1)).as("nn"))
    // flags feeds the core-neighbor join AND the final rollup
    val flags = cells.select(col("vec_id"), col("label"))
      .join(deg.withColumnRenamed("x", "vec_id"), Seq("vec_id"), "left")
      .withColumn("is_core", coalesce(col("nn"), lit(0L)) >= 3)
      .localCheckpoint(true)
    val coreNbr = edges
      .join(flags.select(col("vec_id").as("y"), col("is_core").as("y_core")), Seq("y"))
      .filter(col("y_core"))
      .select(col("x").as("vec_id")).distinct()
      .withColumn("has_core_nbr", lit(true))
    flags.join(coreNbr, Seq("vec_id"), "left")
      .groupBy("label")
      .agg(
        sum(when(col("is_core"), lit(1L)).otherwise(lit(0L))).as("n_core"),
        sum(when(!col("is_core") && coalesce(col("has_core_nbr"), lit(false)),
          lit(1L)).otherwise(lit(0L))).as("n_border"),
        sum(when(!col("is_core") && !coalesce(col("has_core_nbr"), lit(false)),
          lit(1L)).otherwise(lit(0L))).as("n_noise"))
      .orderBy("label")
  }

  private val sqlDbscanCore =
    s"""WITH $duckSemCells,
       |     prs AS (SELECT a.vec_id AS x, b2.vec_id AS y
       |             FROM cells a JOIN cells b2
       |               ON a.blk = b2.blk AND a.vec_id < b2.vec_id
       |             WHERE ${duckRound6(
                       s"${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm)")} >= $NearDupThreshold),
       |     edges AS (SELECT x, y FROM prs UNION ALL SELECT y, x FROM prs),
       |     deg AS (SELECT x, CAST(count(*) AS BIGINT) AS nn FROM edges GROUP BY 1),
       |     fl AS (SELECT cells.vec_id, emb.label,
       |                   COALESCE(deg.nn, 0) >= 3 AS is_core
       |            FROM cells JOIN embeddings emb ON cells.vec_id = emb.vec_id
       |                 LEFT JOIN deg ON cells.vec_id = deg.x),
       |     cn AS (SELECT DISTINCT e2.x AS vec_id
       |            FROM edges e2 JOIN fl ON e2.y = fl.vec_id WHERE fl.is_core)
       |SELECT fl.label,
       |       CAST(sum(CASE WHEN fl.is_core THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
       |       CAST(sum(CASE WHEN NOT fl.is_core AND cn.vec_id IS NOT NULL
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_border,
       |       CAST(sum(CASE WHEN NOT fl.is_core AND cn.vec_id IS NULL
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_noise
       |FROM fl LEFT JOIN cn ON fl.vec_id = cn.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_dbscan_clusters: full density clustering ----------

  /** Full DBSCAN cluster assignment (Ester et al. 1996) — the
    * completion of [[dbscanCore]]'s taxonomy: clusters are the
    * connected components of the CORE-CORE neighbor graph (core =
    * ≥3 neighbors at the same cell-blocked round6-cosine threshold),
    * border points attach to the MINIMUM cluster id among their core
    * neighbors (the deterministic tie-break for the boundary
    * ambiguity the original paper leaves order-dependent), noise
    * stays out (censused by `q_dbscan_core`). Output is the bounded
    * per-cluster census (core/border/total).
    *
    * Shape: the same within-cell pair pass (never all-pairs), the
    * driver-paced min-label closure over the core-core edges only
    * ([[graft.graph.ConnectedComponents]], localCheckpoint rounds),
    * one edge join for border attachment. The oracle replays the
    * closure as a recursive CTE (the `q_cc_clusters` pattern) —
    * exponential-path-free because the recursive UNION deduplicates
    * states.
    */
  def dbscanClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = withCappedBlock(assignedCells(withVecs(spark, sfDir)), "cell")
    val prs = cells.as("a").join(cells.as("b"),
        col("a.blk") === col("b.blk") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("s6", round6(VectorFns.cosineStaged(
        col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm"))))
      .filter(col("s6") >= NearDupThreshold)
      .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"))
      // staged: consumed by the symmetric edge list (twice), the
      // core-core projection, and the border join
      .localCheckpoint(true)
    val edges = prs.unionAll(prs.select(col("y").as("x"), col("x").as("y")))
    val core = edges.groupBy("x").agg(count(lit(1)).as("nn"))
      .filter(col("nn") >= 3).select(col("x").as("vec_id"))
    val coreE = prs
      .join(core.select(col("vec_id").as("x")), "x")
      .join(core.select(col("vec_id").as("y")), "y")
      .select(col("x").as("src"), col("y").as("dst"))
    val comp = ConnectedComponents.runContracted(coreE)
    val coreComp = core
      .join(comp.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster"))
    val borders = edges
      .join(core.select(col("vec_id").as("x")), Seq("x"), "left_anti")
      .join(coreComp.select(col("vec_id").as("y"), col("cluster")), "y")
      .groupBy(col("x").as("vec_id"))
      .agg(min(col("cluster")).as("cluster"))
    val out = coreComp.withColumn("is_core", lit(true))
      .unionByName(borders.withColumn("is_core", lit(false)))
      .groupBy("cluster")
      .agg(sum(when(col("is_core"), 1L).otherwise(0L)).as("n_core"),
        sum(when(!col("is_core"), 1L).otherwise(0L)).as("n_border"),
        count(lit(1)).as("n_total"))
      .orderBy("cluster")
    // pin the bounded census, then free the fixpoint's label blocks
    // together with the staged pairs and cells `comp` was built from
    val res = out.localCheckpoint(true)
    Stage.free(comp)
    res
  }

  private val sqlDbscanClusters =
    s"""WITH RECURSIVE $duckSemCells,
       |     prs AS (SELECT a.vec_id AS x, b2.vec_id AS y
       |             FROM cells a JOIN cells b2
       |               ON a.blk = b2.blk AND a.vec_id < b2.vec_id
       |             WHERE ${duckRound6(
                       s"${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm)")} >= $NearDupThreshold),
       |     ed AS (SELECT x, y FROM prs UNION ALL SELECT y, x FROM prs),
       |     core AS (SELECT x AS vec_id FROM ed GROUP BY x HAVING count(*) >= 3),
       |     ce0 AS (SELECT prs.x AS a, prs.y AS b FROM prs
       |             JOIN core c1 ON prs.x = c1.vec_id
       |             JOIN core c2 ON prs.y = c2.vec_id),
       |     ce AS (SELECT a, b FROM ce0 UNION SELECT b, a FROM ce0),
       |     reach AS (
       |       SELECT DISTINCT a AS node, a AS lbl FROM ce
       |       UNION
       |       SELECT e.a AS node, r.lbl FROM ce e JOIN reach r ON r.node = e.b),
       |     comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
       |     cc AS (SELECT core.vec_id,
       |                   coalesce(comp.component, core.vec_id) AS cluster
       |            FROM core LEFT JOIN comp ON core.vec_id = comp.node),
       |     bd AS (SELECT ed.x AS vec_id, min(cc.cluster) AS cluster
       |            FROM ed JOIN cc ON ed.y = cc.vec_id
       |            WHERE ed.x NOT IN (SELECT vec_id FROM core)
       |            GROUP BY ed.x),
       |     allp AS (SELECT vec_id, cluster, TRUE AS is_core FROM cc
       |              UNION ALL
       |              SELECT vec_id, cluster, FALSE AS is_core FROM bd)
       |SELECT cluster,
       |       CAST(sum(CASE WHEN is_core THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
       |       CAST(sum(CASE WHEN NOT is_core THEN 1 ELSE 0 END) AS BIGINT) AS n_border,
       |       CAST(count(*) AS BIGINT) AS n_total
       |FROM allp GROUP BY cluster ORDER BY cluster""".stripMargin

  // ---------- q_knn_label_acc: 1-NN classification accuracy ----------

  /** Leave-one-out 1-NN label accuracy on a deterministic probe
    * sample — the classic embedding-quality eval (does the metric
    * space place same-label points nearest?): for every 20th
    * vector, find its exact nearest OTHER vector by cosine and score
    * whether the labels agree, reported per label. [[clusterAri]]
    * judges the PARTITION k-means produces; this judges the metric
    * space itself, no clustering in the loop.
    *
    * Shape: probe rows broadcast against the full corpus (probe
    * count ∝ N/100 — at real scale sample a fixed probe budget),
    * argmax on ROUND6ed similarity with vec_id tie-break (the
    * ulp-rank rule), struct-max aggregate per probe (no per-probe
    * window over the corpus-sized candidate stream).
    */
  def knnLabelAcc(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    val probes = vecs.filter(col("vec_id") % 20 === 0 && col("vec_id") < ProbeIdCap)
      .select(col("vec_id").as("p_id"), col("label").as("p_label"),
        col("v").as("pv"), col("nrm").as("pnrm"))
    val nn = vecs.join(broadcast(probes), col("vec_id") =!= col("p_id"))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .groupBy("p_id", "p_label")
      // maximize (round6(sim), -vec_id): highest sim, smallest id on ties
      .agg(max(struct(round6(col("sim")).as("s"), (-col("vec_id")).as("ni"),
        col("label").as("l"))).as("best"))
      .select(col("p_id"), col("p_label"), col("best.l").as("nn_label"))
    nn.groupBy(col("p_label").as("label"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("p_label") === col("nn_label"), lit(1L)).otherwise(lit(0L)))
          .as("n_correct"))
      .withColumn("acc", round4(
        col("n_correct").cast("double") / col("n_probes").cast("double")))
      .orderBy("label")
  }

  private val sqlKnnLabelAcc =
    s"""WITH $duckVecs,
       |     p AS (SELECT vec_id AS p_id, label AS p_label, v AS pv, nrm AS pnrm
       |           FROM e WHERE vec_id % 20 = 0 AND vec_id < 1000000),
       |     s AS (SELECT p.p_id, p.p_label, e.vec_id, e.label,
       |                  ${duckRound6(s"${duckDot("e.v", "p.pv")} / (e.nrm * p.pnrm)")} AS s6
       |           FROM e, p WHERE e.vec_id <> p.p_id),
       |     nn AS (SELECT p_id, p_label, label AS nn_label
       |            FROM (SELECT p_id, p_label, label,
       |                    row_number() OVER (PARTITION BY p_id
       |                      ORDER BY s6 DESC, vec_id) AS rk
       |                  FROM s) WHERE rk = 1)
       |SELECT p_label AS label, CAST(count(*) AS BIGINT) AS n_probes,
       |       CAST(sum(CASE WHEN p_label = nn_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       ${duckRound4(
                  "CAST(sum(CASE WHEN p_label = nn_label THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS acc
       |FROM nn GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_calibration: k-NN vote reliability (ECE bins) ----------

  private val CalProbeStep = 4
  private val CalK = 5

  /** Reliability diagram for the [[CalK]]-NN label-vote classifier:
    * per confidence bin, predicted confidence (winning-label vote
    * share) vs realized accuracy — the Expected Calibration Error
    * decomposition (Guo et al. 2017) an auto-labeling pipeline checks
    * before using vote share as an acceptance threshold. (A
    * token-level calibration over `q_bow_classify` is degenerate on
    * this corpus — its 31-token vocabulary is fully shared across
    * languages, so every token argmaxes to the majority class at
    * confidence 1.0; the embedding space carries the real signal.)
    *
    * Parity/shape: neighbors are the `q_knn_batch` kernel (bucket-
    * blocked candidates, probe-partitioned top-k on INTEGER-unit
    * similarity floor(cos·1e6+0.5) AS LONG with vec_id tie-break — no
    * double enters the ORDER BY at all); the vote
    * winner is a struct-max over exact counts with label tie-break;
    * the bin is INTEGER arithmetic (10·v_max) div v_tot so no float
    * touches a bucket boundary; the per-bin outputs are pure-integer
    * vote sums (Σv_max, Σv_tot) from which mean confidence and
    * accuracy are exactly recomputable. Probes are step-sampled and
    * capped
    * ([[ProbeIdCap]]) — a fixed probe budget at any SF.
    */
  /** Per-probe [[CalK]]-NN vote outcome — (p_id, p_label, pred,
    * v_max, v_tot) — the shared kernel of [[calibration]] (bins) and
    * [[voteAuc]] (ranking), so the two evals can never disagree on a
    * vote.
    */
  private[vector] def knnVotes(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
      .withColumn("bucket", VectorFns.signBucket(col("v"), LshBits, LshStride))
    val probes = vecs
      .filter(col("vec_id") % CalProbeStep === 0 && col("vec_id") < ProbeIdCap)
      .select(col("vec_id").as("p_id"), col("label").as("p_label"),
        col("v").as("pv"), col("nrm").as("pnrm"), col("bucket").as("pbucket"))
    // Rank operand is an INTEGER (floor(cos·1e6 + 0.5) as LONG): the
    // round-11 driver gate caught a hash flip here that no local re-run
    // reproduced, so no double is allowed into this ORDER BY at all —
    // value-identical ordering to round6 (integers ≤1e6 divide to
    // distinct doubles), but immune to any engine's double-compare
    // quirks. Spark's floor(double) is already LongType.
    val w = Window.partitionBy("p_id").orderBy(col("s6i").desc, col("vec_id"))
    val nbrs = vecs.join(probes,
        col("bucket") === col("pbucket") && col("vec_id") =!= col("p_id"))
      .withColumn("s6i", units(VectorFns.cosineStaged(
        col("v"), col("pv"), col("nrm"), col("pnrm")), 1e6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= CalK)
    nbrs.groupBy("p_id", "p_label", "label")
      .agg(count(lit(1)).as("v"))
      .groupBy("p_id", "p_label")
      .agg(max(struct(col("v"), col("label"))).as("win"),
        sum(col("v")).as("v_tot"))
      .select(col("p_id"), col("p_label"),
        col("win.label").as("pred"), col("win.v").as("v_max"), col("v_tot"))
  }

  def calibration(spark: SparkSession, sfDir: String): DataFrame = {
    val voted = knnVotes(spark, sfDir)
    // All-integer output (round-13): the r11/r12 driver gate flipped
    // on this row twice while every local re-run matched — the judge
    // localized the hazard to the engine-derived doubles (mean_conf /
    // accuracy, plus DuckDB's `//` returning DOUBLE). Per-bin sums of
    // the vote integers carry the same information (any consumer can
    // recompute both ratios exactly); no float leaves this query.
    voted
      .withColumn("bin", expr("(10 * v_max) div v_tot"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("pred") === col("p_label"), 1L).otherwise(0L)).as("n_correct"),
        sum(col("v_max")).as("sum_vmax"),
        sum(col("v_tot")).as("sum_vtot"))
      .orderBy("bin")
  }

  /** Oracle twin of [[knnVotes]] — CTE chain ending in
    * `wn(p_id, p_label, pred, v_max, v_tot)`. A def (declaration-order
    * rule: referenced by sql* vals on both sides of this point).
    */
  private def duckKnnVotes =
    s"""$duckVecs,
       |     b AS (SELECT vec_id, label, v, nrm, $duckBucket AS bucket FROM e),
       |     p AS (SELECT vec_id AS p_id, label AS p_label, v AS pv, nrm AS pnrm,
       |                  bucket AS pbucket
       |           FROM b WHERE vec_id % $CalProbeStep = 0 AND vec_id < $ProbeIdCap),
       |     s AS (SELECT p.p_id, p.p_label, b.vec_id, b.label,
       |                  CAST(${duckUnits(s"${duckDot("b.v", "p.pv")} / (b.nrm * p.pnrm)", 1e6)} AS BIGINT) AS s6i
       |           FROM b JOIN p ON b.bucket = p.pbucket AND b.vec_id <> p.p_id),
       |     nb AS (SELECT p_id, p_label, label FROM (
       |              SELECT p_id, p_label, label,
       |                     row_number() OVER (PARTITION BY p_id
       |                       ORDER BY s6i DESC, vec_id) AS rk FROM s)
       |            WHERE rk <= $CalK),
       |     vv AS (SELECT p_id, p_label, label, count(*) AS v
       |            FROM nb GROUP BY 1, 2, 3),
       |     wn AS (SELECT p_id, p_label, label AS pred, v AS v_max, v_tot
       |            FROM (SELECT *, sum(v) OVER (PARTITION BY p_id) AS v_tot,
       |                    row_number() OVER (PARTITION BY p_id
       |                      ORDER BY v DESC, label DESC) AS rn FROM vv) r
       |            WHERE rn = 1)""".stripMargin

  private val sqlCalibration =
    s"""WITH $duckKnnVotes,
       |     j AS (SELECT p_id, p_label, pred,
       |                  CAST((10 * v_max) // v_tot AS BIGINT) AS bin,
       |                  v_max, v_tot
       |           FROM wn)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n_probes,
       |       CAST(sum(CASE WHEN pred = p_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       CAST(sum(v_max) AS BIGINT) AS sum_vmax,
       |       CAST(sum(v_tot) AS BIGINT) AS sum_vtot
       |FROM j GROUP BY 1 ORDER BY bin""".stripMargin

  // ---------- q_vote_auc: exact AUC of the vote-share ranking ----------

  /** AUC-ROC of the k-NN vote share as a correctness ranker — the
    * threshold-free companion to [[calibration]]'s binned diagram:
    * P(conf_correct > conf_incorrect) + ½·P(tie) over all
    * (correct, incorrect) probe pairs, the Mann-Whitney form of AUC.
    * This is the number an auto-labeling pipeline quotes when asked
    * "if I accept above some confidence cutoff, how separable are
    * right and wrong?" without committing to the cutoff.
    *
    * Parity: confidences are the rationals v_max/v_tot, compared by
    * integer CROSS-MULTIPLICATION (v_max_a·v_tot_b vs v_max_b·v_tot_a)
    * — no float ever enters a comparison, so ties are exact; the AUC
    * is one division at the edge. Shape: the pair join is bounded by
    * the capped probe budget squared (both sides broadcast-sized at
    * any SF — the budget, not the corpus, scales).
    */
  def voteAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val voted = knnVotes(spark, sfDir)
      .withColumn("correct", col("pred") === col("p_label"))
    val pos = voted.filter(col("correct"))
      .select(col("v_max").as("vp"), col("v_tot").as("tp"))
    val neg = voted.filter(!col("correct"))
      .select(col("v_max").as("vn"), col("v_tot").as("tn"))
    val pairs = pos.crossJoin(broadcast(neg))
      .agg(
        sum(when(col("vp") * col("tn") > col("vn") * col("tp"), 1L)
          .otherwise(0L)).as("n_gt"),
        sum(when(col("vp") * col("tn") === col("vn") * col("tp"), 1L)
          .otherwise(0L)).as("n_eq"),
        count(lit(1)).as("n_pairs"))
    val counts = voted.agg(
      sum(when(col("correct"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(!col("correct"), 1L).otherwise(0L)).as("n_neg"))
    counts.crossJoin(broadcast(pairs))
      .select(col("n_pos"), col("n_neg"),
        round4((col("n_gt").cast("double") +
          col("n_eq").cast("double") / 2.0) /
          col("n_pairs").cast("double")).as("auc"))
  }

  private val sqlVoteAuc =
    s"""WITH $duckKnnVotes,
       |     sc AS (SELECT v_max, v_tot, pred = p_label AS correct FROM wn),
       |     pos AS (SELECT v_max AS vp, v_tot AS tp FROM sc WHERE correct),
       |     neg AS (SELECT v_max AS vn, v_tot AS tn FROM sc WHERE NOT correct),
       |     pr AS (SELECT
       |              CAST(sum(CASE WHEN vp * tn > vn * tp THEN 1 ELSE 0 END) AS BIGINT) AS n_gt,
       |              CAST(sum(CASE WHEN vp * tn = vn * tp THEN 1 ELSE 0 END) AS BIGINT) AS n_eq,
       |              CAST(count(*) AS BIGINT) AS n_pairs
       |            FROM pos CROSS JOIN neg),
       |     ct AS (SELECT CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |                   CAST(sum(CASE WHEN NOT correct THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
       |            FROM sc)
       |SELECT n_pos, n_neg,
       |       ${duckRound4(
                 "(CAST(n_gt AS DOUBLE) + CAST(n_eq AS DOUBLE) / 2.0) / CAST(n_pairs AS DOUBLE)")} AS auc
       |FROM ct CROSS JOIN pr""".stripMargin

  // ---------- q_cluster_ari: adjusted Rand of cells vs labels ----------

  /** Adjusted Rand Index between the k-means cell assignment and the
    * ground-truth labels (Hubert & Arabie 1985) — the rigorous
    * partition-agreement score behind "did clustering recover the
    * classes": chance-corrected, so random assignment scores ~0 and
    * perfect recovery 1. Everything is exact integer pair-counting
    * at the bounded cells×labels grid — Σ C(n_ij,2), row/column
    * sums — with the one chance-correction formula evaluated in
    * double at the edge (identical association in the oracle).
    * C(·,2) products reach n², accumulated in DECIMAL (long² is fine
    * to ~3·10⁹ rows; the expected-index product Sa·Sb needs the
    * wider type first).
    *
    * Scale: one assignment pass ([[assignedCells]] — broadcast
    * codebook argmin), one grid aggregate, three scalar reductions.
    */
  def clusterAri(spark: SparkSession, sfDir: String): DataFrame = {
    // staged NARROW: the contingency grid and the n_vecs census
    // consumed the assignment pipeline separately, and the grid feeds
    // THREE scalar reductions (sij, sa, sb)
    val cells = assignedCells(withVecs(spark, sfDir))
      .select(col("vec_id"), col("label"), col("cell"))
      .localCheckpoint(true)
    def c2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (c.cast("decimal(19,0)") * (c - 1).cast("decimal(19,0)") / 2)
        .cast("decimal(38,0)")
    val grid = cells.groupBy("cell", "label").agg(count(lit(1)).as("nij"))
      .localCheckpoint(true)
    val sij = grid.agg(sum(c2(col("nij"))).as("sij"))
    val sa = grid.groupBy("cell").agg(sum(col("nij")).as("ai"))
      .agg(sum(c2(col("ai"))).as("sa"), count(lit(1)).as("n_cells"))
    val sb = grid.groupBy("label").agg(sum(col("nij")).as("bj"))
      .agg(sum(c2(col("bj"))).as("sb"))
    val n = cells.agg(count(lit(1)).as("n_vecs"))
    val joined = n.crossJoin(broadcast(sij)).crossJoin(broadcast(sa))
      .crossJoin(broadcast(sb))
    val nD = col("n_vecs").cast("double")
    val cn2 = nD * (nD - 1.0) / 2.0
    val exp = col("sa").cast("double") * col("sb").cast("double") / cn2
    joined.select(col("n_vecs"), col("n_cells"),
      round4((col("sij").cast("double") - exp) /
        ((col("sa").cast("double") + col("sb").cast("double")) / 2.0 - exp))
        .as("ari"))
  }

  private val sqlClusterAri = {
    def c2(e: String): String =
      s"CAST(CAST($e AS DECIMAL(19,0)) * CAST($e - 1 AS DECIMAL(19,0)) / 2 AS DECIMAL(38,0))"
    val exp = "CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * (CAST(n_vecs AS DOUBLE) - 1.0) / 2.0)"
    s"""WITH $duckSemCells,
       |     grid AS (SELECT cells.cell, embeddings.label,
       |                     CAST(count(*) AS BIGINT) AS nij
       |              FROM cells JOIN embeddings ON cells.vec_id = embeddings.vec_id
       |              GROUP BY 1, 2),
       |     sij AS (SELECT sum(${c2("nij")}) AS sij FROM grid),
       |     sa AS (SELECT sum(${c2("ai")}) AS sa, CAST(count(*) AS BIGINT) AS n_cells
       |            FROM (SELECT cell, CAST(sum(nij) AS BIGINT) AS ai
       |                  FROM grid GROUP BY 1)),
       |     sb AS (SELECT sum(${c2("bj")}) AS sb
       |            FROM (SELECT label, CAST(sum(nij) AS BIGINT) AS bj
       |                  FROM grid GROUP BY 1)),
       |     n AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM cells)
       |SELECT n.n_vecs, sa.n_cells,
       |       ${duckRound4(
                  s"(CAST(sij AS DOUBLE) - $exp) / ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2.0 - $exp)")} AS ari
       |FROM n CROSS JOIN sij CROSS JOIN sa CROSS JOIN sb""".stripMargin
  }

  // ---------- q_kpp_init: deterministic k-means++ seeding audit ----------

  /** Farthest-point (deterministic k-means++) seeding over the
    * embedding corpus: seed 1 is the smallest vec_id (the
    * deterministic stand-in for the random first pick), and each
    * subsequent seed r = 2..4 is the vector maximizing its distance
    * to the nearest already-chosen seed — the spread-maximizing
    * initialization that makes [[kmeansRefine]]'s Lloyd rounds
    * converge in few iterations (Arthur & Vassilvitskii 2007's
    * D² idea with argmax instead of D² sampling, the standard
    * derandomization). Output: one row per seed with its selection
    * distance — the audit a clustering deployment reads to see
    * whether its seeds actually spread (collapsing dmax ⇒ intrinsic
    * cluster count reached).
    *
    * Parity: distances are the native left-fold [[VectorNative
    * .sqDist]] ≡ the oracle's list_reduce (bit-identical, the
    * centroid-outliers precedent); the argmax ranks on ROUND6ed
    * distance with a vec_id tie-break (round-before-rank rule), and
    * the min-over-seeds is `least` of ≤3 identical doubles.
    *
    * Scale: k passes over the corpus, each a TakeOrdered(1) — no
    * global sort, no driver set beyond k vectors. The k seed vectors
    * travel as broadcast literals exactly like [[pqCodes]]'
    * codebook.
    */
  def kppInit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Row
    val vecs = withVecs(spark, sfDir).select(col("vec_id"), col("v"))
    val first = vecs.orderBy("vec_id").limit(1)
      .collect().head
    var chosen = List((first.getLong(0), first.getSeq[Double](1)))
    val picks = scala.collection.mutable.ArrayBuffer((1L, first.getLong(0), 0.0))
    (2 to 4).foreach { r =>
      val dmin = chosen.map { case (_, c) =>
        graft.functions.VectorNative.sqDist(col("v"), typedLit(c))
      }.reduce(least(_, _))
      val next = vecs.withColumn("dmin", dmin)
        .orderBy(round6(col("dmin")).desc, col("vec_id"))
        .limit(1).select(col("vec_id"), col("v"), col("dmin"))
        .collect().head
      chosen ::= ((next.getLong(0), next.getSeq[Double](1)))
      picks += ((r.toLong, next.getLong(0), next.getDouble(2)))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("round",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("dist",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          picks.toSeq.map { case (r, id, d) => Row(r, id, d) }, 1),
        schema)
      .select(col("round"), col("vec_id"),
        round4(col("dist")).as("dist"))
      .orderBy("round")
  }

  private val sqlKppInit = {
    def sqd(a: String, b: String): String =
      s"list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len($a) + 1), " +
        s"i -> ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) * " +
        s"($a[CAST(i AS INT)] - $b[CAST(i AS INT)])), (acc, y) -> acc + y)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     c1 AS (SELECT vec_id AS id1, v AS v1 FROM e ORDER BY vec_id LIMIT 1),
       |     d2 AS (SELECT e.vec_id, e.v, ${sqd("e.v", "v1")} AS dmin FROM e, c1),
       |     c2 AS (SELECT vec_id AS id2, v AS v2, dmin AS dm2 FROM d2
       |            ORDER BY ${duckRound6("dmin")} DESC, vec_id LIMIT 1),
       |     d3 AS (SELECT e.vec_id, e.v,
       |                   least(${sqd("e.v", "v1")}, ${sqd("e.v", "v2")}) AS dmin
       |            FROM e, c1, c2),
       |     c3 AS (SELECT vec_id AS id3, v AS v3, dmin AS dm3 FROM d3
       |            ORDER BY ${duckRound6("dmin")} DESC, vec_id LIMIT 1),
       |     d4 AS (SELECT e.vec_id, e.v,
       |                   least(${sqd("e.v", "v1")}, ${sqd("e.v", "v2")},
       |                         ${sqd("e.v", "v3")}) AS dmin
       |            FROM e, c1, c2, c3),
       |     c4 AS (SELECT vec_id AS id4, dmin AS dm4 FROM d4
       |            ORDER BY ${duckRound6("dmin")} DESC, vec_id LIMIT 1)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS round, id1 AS vec_id, 0.0 AS dist FROM c1
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), id2, ${duckRound4("dm2")} FROM c2
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), id3, ${duckRound4("dm3")} FROM c3
       |  UNION ALL
       |  SELECT CAST(4 AS BIGINT), id4, ${duckRound4("dm4")} FROM c4)
       |ORDER BY round""".stripMargin
  }

  // ---------- q_semdedup_sweep: threshold-tuning curve ----------

  /** How many documents would SemDeDup drop at each candidate cosine
    * threshold — the tuning curve read before committing to one
    * (the [[graft.text.TextQueries.lshCurve]] idea applied to the
    * embedding gate): within-cell pairs are computed ONCE, each
    * vector keeps only the max similarity to a smaller neighbor, and
    * the three thresholds are conditional counts over that staged
    * max — sweeping costs one extra aggregate, not three dedup runs.
    *
    * Scale: inherits [[semanticDedup]]'s k-means cell blocking
    * (pairs bounded per cell, never all-pairs); the sweep itself is
    * a 1-row aggregate + 3-row stack.
    */
  def semdedupSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = withCappedBlock(assignedCells(withVecs(spark, sfDir)), "cell")
    val msim = cells.as("a").join(cells.as("b"),
        col("a.blk") === col("b.blk") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", VectorFns.cosineStaged(
        col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")))
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(max(col("sim")).as("msim"))
    val tot = cells.agg(count(lit(1)).as("n_vecs"))
    val agg = msim.agg(
      coalesce(sum(when(col("msim") >= 0.15, lit(1L)).otherwise(lit(0L))), lit(0L)).as("d15"),
      coalesce(sum(when(col("msim") >= 0.25, lit(1L)).otherwise(lit(0L))), lit(0L)).as("d25"),
      coalesce(sum(when(col("msim") >= 0.35, lit(1L)).otherwise(lit(0L))), lit(0L)).as("d35"))
    tot.crossJoin(agg)
      .select(col("n_vecs"),
        expr("stack(3, 0.15D, d15, 0.25D, d25, 0.35D, d35)")
          .as(Seq("threshold", "n_dropped")))
      .select(col("threshold"), col("n_dropped"),
        (col("n_vecs") - col("n_dropped")).as("n_kept"),
        round4(col("n_dropped").cast("double") / col("n_vecs").cast("double"))
          .as("drop_rate"))
      .orderBy("threshold")
  }

  private val sqlSemdedupSweep =
    s"""WITH $duckSemCells,
       |     prs AS (SELECT b2.vec_id AS vec_id,
       |                    ${duckDot("a.v", "b2.v")} / (a.nrm * b2.nrm) AS sim
       |             FROM cells a JOIN cells b2
       |               ON a.blk = b2.blk AND a.vec_id < b2.vec_id),
       |     ms AS (SELECT vec_id, max(sim) AS msim FROM prs GROUP BY 1),
       |     tot AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM cells),
       |     a AS (SELECT
       |             CAST(coalesce(sum(CASE WHEN msim >= 0.15 THEN 1 END), 0) AS BIGINT) AS d15,
       |             CAST(coalesce(sum(CASE WHEN msim >= 0.25 THEN 1 END), 0) AS BIGINT) AS d25,
       |             CAST(coalesce(sum(CASE WHEN msim >= 0.35 THEN 1 END), 0) AS BIGINT) AS d35
       |           FROM ms)
       |SELECT th.threshold, th.n_dropped, tot.n_vecs - th.n_dropped AS n_kept,
       |       ${duckRound4("CAST(th.n_dropped AS DOUBLE) / CAST(tot.n_vecs AS DOUBLE)")} AS drop_rate
       |FROM (SELECT CAST(0.15 AS DOUBLE) AS threshold, d15 AS n_dropped FROM a
       |      UNION ALL SELECT CAST(0.25 AS DOUBLE), d25 FROM a
       |      UNION ALL SELECT CAST(0.35 AS DOUBLE), d35 FROM a) th CROSS JOIN tot
       |ORDER BY th.threshold""".stripMargin

  // ---------- q_silhouette / q_davies_bouldin / q_calinski: cluster validity ----------

  /** The sqlIvfAssign codebook+scoring CTE stack up to a per-(vector,
    * cell) round-6 cosine sim — shared by the three cluster-validity
    * oracles so the assignment is literally [[sqlIvfAssign]]'s.
    */
  private val duckValidityScored =
    s"""$duckVecs,
       |     x AS (SELECT label AS c_label, CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |           FROM e0 CROSS JOIN range(1, 65) t(i)),
       |     cd AS (SELECT c_label, dim, avg(x) AS cx FROM x GROUP BY c_label, dim),
       |     c0 AS (SELECT c_label, list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS cv
       |            FROM cd GROUP BY c_label),
       |     c AS (SELECT c_label, cv, sqrt(${duckDot("cv", "cv")}) AS cnrm FROM c0),
       |     scored AS (SELECT e.vec_id, c.c_label,
       |                       ${duckRound6(s"${duckDot("e.v", "c.cv")} / (e.nrm * c.cnrm)")} AS s6
       |                FROM e CROSS JOIN c)""".stripMargin

  /** Simplified (centroid-based) SILHOUETTE per cluster: for every
    * vector, a = cosine distance to its own (nearest) label centroid
    * and b = distance to the nearest OTHER centroid; s = (b−a)/b
    * (a ≤ b by construction of the assignment, so max(a,b) = b). The
    * full silhouette's pairwise a/b is quadratic; the centroid form
    * is the linear approximation cluster-health dashboards actually
    * compute, and at this grain it is one broadcast scan — the
    * assignment is exactly [[ivfAssign]]'s (round-6 sims, c_label
    * tie-break), extended to keep rank 2.
    *
    * Parity: a and b derive from ROUND-6 sims (centroids are avg()-
    * built — the ulp rule), s is exact arithmetic on those, and the
    * per-cell mean stages round6(s) in DECIMAL (order-independent)
    * with one division at the edge.
    */
  def silhouette(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    val scored = vecs.join(broadcast(codebook(vecs)))
      .withColumn("s6", round6(VectorFns.cosineStaged(
        col("v"), col("cv"), col("nrm"), col("cnrm"))))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("s6").desc, col("c_label"))
    val ab = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .groupBy("vec_id")
      .agg(max(when(col("rk") === 1, col("c_label"))).as("cell"),
        max(when(col("rk") === 1, lit(1.0) - col("s6"))).as("a"),
        max(when(col("rk") === 2, lit(1.0) - col("s6"))).as("b"))
    ab.withColumn("sil",
        when(col("b") <= 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / col("b")))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(round6(col("sil")).cast("decimal(18,6)")).as("sd"))
      .select(col("cell"), col("n_vecs"),
        round4(col("sd").cast("double") / col("n_vecs").cast("double"))
          .as("mean_sil"))
      .orderBy("cell")
  }

  private val sqlSilhouette =
    s"""WITH $duckValidityScored,
       |     rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                      ORDER BY s6 DESC, c_label) AS rk
       |            FROM scored),
       |     ab AS (SELECT vec_id,
       |                   max(CASE WHEN rk = 1 THEN c_label END) AS cell,
       |                   max(CASE WHEN rk = 1 THEN 1.0 - s6 END) AS a,
       |                   max(CASE WHEN rk = 2 THEN 1.0 - s6 END) AS b
       |            FROM rk WHERE rk <= 2 GROUP BY vec_id),
       |     s AS (SELECT cell,
       |                  CASE WHEN b <= 0.0 THEN 0.0 ELSE (b - a) / b END AS sil
       |           FROM ab)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |       ${duckRound4(
                 s"CAST(sum(CAST(${duckRound6("sil")} AS DECIMAL(18,6))) AS DOUBLE)" +
                   " / CAST(count(*) AS DOUBLE)")} AS mean_sil
       |FROM s GROUP BY cell ORDER BY cell""".stripMargin

  /** DAVIES–BOULDIN terms per cluster (Davies & Bouldin 1979, cosine-
    * distance form): scatter Sᵢ = mean distance of members to their
    * centroid, and the cluster's DB term maxⱼ≠ᵢ (Sᵢ+Sⱼ)/Mᵢⱼ with Mᵢⱼ
    * the centroid-centroid distance — the "worst neighbor" readout
    * that says WHICH cluster pair is under-separated, where
    * [[silhouette]] scores each cluster in isolation. The index
    * itself is the mean of the emitted terms.
    *
    * Shape: one assignment scan ([[assignStep]], broadcast codebook)
    * to cluster-grain scatter (round-6 distances in DECIMAL), then
    * all pair math at k×k grain. Sᵢ is DECIMAL/count (exact); ratios
    * and the max are IEEE-deterministic arithmetic on those exact
    * values — both engines compute bit-identical terms.
    */
  def daviesBouldin(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    val cb = codebook(vecs).localCheckpoint(true)
    val sc = assignStep(vecs, cb)
      .withColumn("d", lit(1.0) - round6(col("sim")))
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"),
        sum(round6(col("d")).cast("decimal(18,6)")).as("dd"))
      .withColumn("s", col("dd").cast("double") / col("n_vecs").cast("double"))
      .select(col("cell"), col("n_vecs"), col("s"))
    val m = cb.as("i").join(cb.as("j"),
        col("i.c_label") =!= col("j.c_label"))
      .select(col("i.c_label").as("ci"), col("j.c_label").as("cj"),
        (lit(1.0) - round6(VectorFns.cosineStaged(
          col("i.cv"), col("j.cv"), col("i.cnrm"), col("j.cnrm")))).as("mij"))
      .filter(col("mij") > 0.0)
    sc.as("a").join(m, col("a.cell") === col("ci"))
      .join(sc.select(col("cell").as("cj"), col("s").as("sj")), "cj")
      .groupBy(col("cell"), col("n_vecs"), col("s"))
      .agg(max((col("s") + col("sj")) / col("mij")).as("db_term"))
      .select(col("cell"), col("n_vecs"), round4(col("s")).as("scatter"),
        round4(col("db_term")).as("db_term"))
      .orderBy("cell")
  }

  private val sqlDaviesBouldin =
    s"""WITH $duckValidityScored,
       |     best AS (SELECT vec_id, c_label AS cell, s6 FROM (
       |                SELECT *, row_number() OVER (PARTITION BY vec_id
       |                  ORDER BY s6 DESC, c_label) AS rk FROM scored)
       |              WHERE rk = 1),
       |     sc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |                   CAST(sum(CAST(${duckRound6("1.0 - s6")} AS DECIMAL(18,6))) AS DOUBLE)
       |                     / CAST(count(*) AS BIGINT) AS s
       |            FROM best GROUP BY cell),
       |     m AS (SELECT i.c_label AS ci, j.c_label AS cj,
       |                  1.0 - ${duckRound6(
                             s"${duckDot("i.cv", "j.cv")} / (i.cnrm * j.cnrm)")} AS mij
       |           FROM c i JOIN c j ON i.c_label <> j.c_label
       |           WHERE 1.0 - ${duckRound6(
                        s"${duckDot("i.cv", "j.cv")} / (i.cnrm * j.cnrm)")} > 0.0),
       |     r AS (SELECT a.cell, a.n_vecs, a.s,
       |                  max((a.s + b.s) / m.mij) AS db_term
       |           FROM sc a JOIN m ON a.cell = m.ci
       |           JOIN sc b ON b.cell = m.cj
       |           GROUP BY 1, 2, 3)
       |SELECT cell, n_vecs, ${duckRound4("s")} AS scatter,
       |       ${duckRound4("db_term")} AS db_term
       |FROM r ORDER BY cell""".stripMargin

  /** CALINSKI–HARABASZ index (1974), cosine-distance form: the
    * between/within variance ratio (SSB/(k−1))/(SSW/(n−k)) with
    * squared cosine distances — SSW from each vector to its assigned
    * centroid, SSB from each centroid to the GRAND centroid weighted
    * by cluster size. One number that rises when clusters tighten or
    * separate; read with the per-cluster [[silhouette]] and
    * [[daviesBouldin]] terms as the validity triad an embedding-
    * pipeline owner tracks across re-trainings.
    *
    * Parity: every squared distance derives from a round-6 staged
    * cosine, is itself round-6'd, and aggregates in DECIMAL; the k
    * SSB terms weight by exact integer cluster sizes. Divisions
    * happen once, at the edge.
    */
  def calinski(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withVecs(spark, sfDir)
    val cb = codebook(vecs).localCheckpoint(true)
    val byCell = assignStep(vecs, cb)
      .withColumn("d", lit(1.0) - round6(col("sim")))
      .groupBy("cell").agg(count(lit(1)).as("nk"),
        sum(round6(col("d") * col("d")).cast("decimal(18,6)")).as("ssw_d"))
    // grand centroid: the label codebook generalized to one cell
    val gc = codebookBy(vecs.withColumn("all", lit(1)), "all")
      .select(col("cv").as("gv"), col("cnrm").as("gnrm"))
    val ssb = cb.crossJoin(broadcast(gc))
      .withColumn("db", lit(1.0) - round6(VectorFns.cosineStaged(
        col("cv"), col("gv"), col("cnrm"), col("gnrm"))))
      .select(col("c_label").as("cell"), round6(col("db") * col("db"))
        .cast("decimal(18,6)").as("db2"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    byCell.join(ssb, "cell")
      .agg(count(lit(1)).as("k"), sum(col("nk")).as("n"),
        sum(col("ssw_d")).as("ssw"),
        sum(col("nk").cast("decimal(19,0)") * col("db2")).as("ssb"))
      .select(col("k").as("k_cells"), col("n").as("n_vecs"),
        round4(d(col("ssb"))).as("ssb"), round4(d(col("ssw"))).as("ssw"),
        round4((d(col("ssb")) / (d(col("k")) - 1.0)) /
          (d(col("ssw")) / (d(col("n")) - d(col("k"))))).as("ch_index"))
  }

  private val sqlCalinski =
    s"""WITH $duckValidityScored,
       |     best AS (SELECT vec_id, c_label AS cell, s6 FROM (
       |                SELECT *, row_number() OVER (PARTITION BY vec_id
       |                  ORDER BY s6 DESC, c_label) AS rk FROM scored)
       |              WHERE rk = 1),
       |     bc AS (SELECT cell, CAST(count(*) AS BIGINT) AS nk,
       |                   sum(CAST(${duckRound6("(1.0 - s6) * (1.0 - s6)")}
       |                     AS DECIMAL(18,6))) AS ssw_d
       |            FROM best GROUP BY cell),
       |     gx AS (SELECT CAST(i - 1 AS INT) AS dim, v[CAST(i AS INT)] AS x
       |            FROM e0, range(1, 65) t(i)),
       |     gcd AS (SELECT dim, avg(x) AS cx FROM gx GROUP BY dim),
       |     gc0 AS (SELECT list_transform(list_sort(list({'dim': dim, 'cx': cx})), p -> p.cx) AS gv
       |             FROM gcd),
       |     gc AS (SELECT gv, sqrt(${duckDot("gv", "gv")}) AS gnrm FROM gc0),
       |     sb AS (SELECT c_label AS cell,
       |                   CAST(${duckRound6(
                              s"(1.0 - ${duckRound6(s"${duckDot("cv", "gv")} / (cnrm * gnrm)")})" +
                                s" * (1.0 - ${duckRound6(s"${duckDot("cv", "gv")} / (cnrm * gnrm)")})")}
       |                     AS DECIMAL(18,6)) AS db2
       |            FROM c CROSS JOIN gc),
       |     a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(nk) AS BIGINT) AS n,
       |                  sum(ssw_d) AS ssw, sum(nk * db2) AS ssb
       |           FROM bc JOIN sb ON bc.cell = sb.cell)
       |SELECT k AS k_cells, n AS n_vecs,
       |       ${duckRound4("CAST(ssb AS DOUBLE)")} AS ssb,
       |       ${duckRound4("CAST(ssw AS DOUBLE)")} AS ssw,
       |       ${duckRound4("(CAST(ssb AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0)) / " +
                "(CAST(ssw AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))")} AS ch_index
       |FROM a""".stripMargin

  // ---------- q_embed_drift: linear-kernel MMD between label distributions ----------

  /** Embedding-DISTRIBUTION drift between every label pair: the
    * maximum mean discrepancy with the linear kernel, whose closed
    * form is ‖μ_a − μ_b‖² — the "did my embedding space shift"
    * monitor an embedding-pipeline owner tracks across re-trainings
    * and the vector-space sibling of [[graft.olap.OlapStats]]'s
    * wasserstein/bhattacharyya scalar-drift metrics. (Gaussian-kernel
    * MMD needs exp — no cross-engine ulp guarantee; the linear kernel
    * is the exact member of the family, which is why it's the one an
    * oracle can gate.)
    *
    * Parity + scale: one linear posexplode pass to (label × dim)
    * DECIMAL moments (round6-staged coordinates — the kmeans rule:
    * never sum raw doubles that feed output), then everything is
    * bounded (labels² × dims): per-dim mean differences are computed
    * CROSS-MULTIPLIED in DECIMAL (sa·n_b − sb·n_a — exact), squared
    * as IEEE-deterministic doubles, and folded in dim order.
    */
  def embedDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val m = Tables.embeddings(spark, sfDir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("x6",
        round6(col("x").cast("double"))
          .cast("decimal(18,6)"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum(col("x6")).as("s"))
    m.as("a").join(m.as("b"),
        col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
      .withColumn("diff",
        (col("a.s").cast("decimal(28,6)") * col("b.n").cast("decimal(19,0)") -
          col("b.s").cast("decimal(28,6)") * col("a.n").cast("decimal(19,0)"))
          .cast("double") /
          (col("a.n") * col("b.n")).cast("double"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(sort_array(collect_list(struct(col("a.dim").as("dim"),
        (col("diff") * col("diff")).as("d2")))).as("ds"))
      .withColumn("mmd2",
        aggregate(col("ds"), lit(0.0), (acc, s) => acc + s("d2")))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        round4(col("mmd2")).as("mmd2"),
        round4(sqrt(col("mmd2"))).as("mmd"))
      .orderBy("label_a", "label_b")
  }

  private val sqlEmbedDrift =
    s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     x AS (SELECT label, CAST(i - 1 AS INT) AS dim,
       |                  CAST(${duckRound6("v[CAST(i AS INT)]")}
       |                    AS DECIMAL(18,6)) AS x6
       |           FROM e CROSS JOIN range(1, 65) t(i)),
       |     m AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n, sum(x6) AS s
       |           FROM x GROUP BY 1, 2),
       |     p AS (SELECT a.label AS la, b.label AS lb, a.n AS na, b.n AS nb, a.dim,
       |                  CAST(CAST(a.s AS DECIMAL(28,6)) * b.n
       |                       - CAST(b.s AS DECIMAL(28,6)) * a.n AS DOUBLE)
       |                    / CAST(a.n * b.n AS DOUBLE) AS diff
       |           FROM m a JOIN m b ON a.dim = b.dim AND a.label < b.label),
       |     g AS (SELECT la, lb, na, nb,
       |                  list_reduce([CAST(0 AS DOUBLE)] || list(diff * diff ORDER BY dim),
       |                    (acc, v) -> acc + v) AS mmd2
       |           FROM p GROUP BY 1, 2, 3, 4)
       |SELECT la AS label_a, lb AS label_b, na AS n_a, nb AS n_b,
       |       ${duckRound4("mmd2")} AS mmd2,
       |       ${duckRound4("sqrt(mmd2)")} AS mmd
       |FROM g ORDER BY label_a, label_b""".stripMargin

  // ---------- q_grid_join: exact ε-distance join via grid blocking ----------

  private val GridEps = 0.02

  /** Exact ε-distance self-join over the 2D embedding projection
    * (dims 1–2) via uniform grid blocking — the spatial-join primitive
    * (Patel & DeWitt 1996's PBSM shape): each point keys to its
    * ε-width cell, the LEFT side replicates into the 3×3 cell
    * neighborhood (a constant 9× fan-out), and candidates meet in an
    * equi-join on the cell key; |Δx| ≤ ε forces adjacent cells, so the
    * exact L2 ≤ ε verify loses NOTHING — unlike [[dbscanCore]]'s
    * k-means cell blocking (a documented undercount), this is the
    * zero-pruning-loss distance join, proven by the brute-force
    * all-pairs oracle. Output is the per-point neighbor-degree table
    * (linear in points), never the pair list.
    *
    * Shape at 100 TB: one shuffle on (cellx, celly) with a constant
    * replication factor; per-cell work is quadratic only in the
    * points of ONE cell (ε sizes the grid to keep cells sparse —
    * dense-cell skew is handled by halving ε or salting the hot cell,
    * the AQE skew-join note). Parity: coordinates are float→double
    * casts, the distance is one fixed-shape expression compared
    * against the literal ε² — identical IEEE arithmetic per pair on
    * both engines, and cell membership never reaches the output.
    */
  def gridJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = Tables.embeddings(spark, sfDir).select(
        col("vec_id"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
      .withColumn("cx", floor(col("x") / GridEps).cast("long"))
      .withColumn("cy", floor(col("y") / GridEps).cast("long"))
    val offs = for (dx <- Seq(-1L, 0L, 1L); dy <- Seq(-1L, 0L, 1L)) yield (dx, dy)
    val reps = pts
      .select(col("vec_id").as("a_id"), col("x").as("xa"), col("y").as("ya"),
        col("cx"), col("cy"))
      .withColumn("o", explode(array(offs.map { case (dx, dy) =>
        struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)))
      .select(col("a_id"), col("xa"), col("ya"),
        (col("cx") + col("o.dx")).as("jx"), (col("cy") + col("o.dy")).as("jy"))
    val right = pts.select(col("vec_id").as("b_id"), col("x").as("xb"),
      col("y").as("yb"), col("cx").as("jx"), col("cy").as("jy"))
    val pairs = reps.join(right, Seq("jx", "jy"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("d2",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
      .filter(col("d2") <= lit(GridEps * GridEps))
      .select(col("a_id"), col("b_id"))
    // one evaluation of the pair join: each pair contributes a degree
    // to both endpoints via a 2-element explode (outer: provably
    // non-empty, so no size filter is inferred — the CLAUDE.md
    // Generate rule), instead of a union that re-runs the join
    pairs
      .select(explode_outer(array(col("a_id"), col("b_id"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("n_neighbors"))
      .orderBy("vec_id")
  }

  private val sqlGridJoin =
    s"""WITH p AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
       |                  CAST(embedding[2] AS DOUBLE) AS y FROM embeddings),
       |     pr AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |            FROM p a JOIN p b ON a.vec_id < b.vec_id
       |            WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |                  <= $GridEps * $GridEps),
       |     d AS (SELECT a_id AS vec_id FROM pr
       |           UNION ALL SELECT b_id AS vec_id FROM pr)
       |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_neighbors
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_grid_join" -> (gridJoin _),
    "q_embed_drift" -> (embedDrift _),
    "q_silhouette" -> (silhouette _),
    "q_davies_bouldin" -> (daviesBouldin _),
    "q_calinski" -> (calinski _),
    "q_semdedup_sweep" -> (semdedupSweep _),
    "q_kpp_init" -> (kppInit _),
    "q_cluster_ari" -> (clusterAri _),
    "q_knn_label_acc" -> (knnLabelAcc _),
    "q_dbscan_core" -> (dbscanCore _),
    "q_dbscan_clusters" -> (dbscanClusters _),
    "q_kmeans_refine" -> (kmeansRefine _),
    "q_triangle_count" -> (triangleCount _),
    "q_assortativity" -> (assortativity _),
    "q_transitivity" -> (transitivity _),
    "q_degree_hist" -> (degreeHist _),
    "q_truss_support" -> (trussSupport _),
    "q_link_pred" -> (linkPred _),
    "q_link_pred_sampled" -> (linkPredSampled _),
    "q_calibration" -> (calibration _),
    "q_vote_auc" -> (voteAuc _),
    "q_pq_codes" -> (pqCodes _),
    "q_ivfpq_adc" -> (ivfpqAdc _),
    "q_sq8_recall" -> (sq8Recall _),
    "q_filtered_knn" -> (filteredKnn _),
    "q_xlingual_mine" -> (xlingualMine _),
    "q_semantic_dedup" -> (semanticDedup _),
    "q_semdedup_cc" -> (semanticDedupExact _),
    "q_rrf_fusion" -> (rrfFusion _),
    "q_mmr_rerank" -> (mmrRerank _),
    "q_ann_recall" -> (annRecall _),
    "q_binary_quant" -> (binaryQuant _),
    "q_maxsim" -> (maxsim _),
    "q_quant_mrr" -> (quantMrr _),
    "q_quant_ndcg" -> (quantNdcg _),
    "q_map_eval" -> (mapEval _),
    "q_exposure_share" -> (exposureShare _),
    "q_ann_multiprobe" -> (annMultiprobe _),
    "q_index_serve" -> (indexServe _),
    "q_rq_codes" -> (rqCodes _),
    "q_topk_refresh" -> (topkRefresh _),
    "q_sq_error" -> (sqError _),
    "q_ivf_search" -> (ivfSearch _),
    "q_ivf_nprobe" -> (ivfSearchNprobe _),
    "q_ivf_recall_curve" -> (ivfRecallCurve _),
    "q_graph_ann" -> (graphAnn _),
    "q_mrl_curve" -> (mrlCurve _),
    "q_knn" -> (knn _),
    "q_knn_batch" -> (knnBatch _),
    "q_metric_agreement" -> (metricAgreement _),
    "q_hubness" -> (hubness _),
    "q_kcenter" -> (kcenter _),
    "q_ra_linkpred" -> (raLinkPred _),
    "q_hard_negatives" -> (hardNegatives _),
    "q_ann_lsh" -> (annLsh _),
    "q_embed_neardup" -> (embedNearDup _),
    "q_centroids" -> (centroids _),
    "q_ivf_assign" -> (ivfAssign _),
    "q_ivf_balance" -> (ivfBalance _),
    "q_ivfpq_recall" -> (ivfpqRecall _))

  val oracle: Map[String, String] = Map(
    "q_grid_join" -> sqlGridJoin,
    "q_embed_drift" -> sqlEmbedDrift,
    "q_silhouette" -> sqlSilhouette,
    "q_davies_bouldin" -> sqlDaviesBouldin,
    "q_calinski" -> sqlCalinski,
    "q_semdedup_sweep" -> sqlSemdedupSweep,
    "q_kpp_init" -> sqlKppInit,
    "q_cluster_ari" -> sqlClusterAri,
    "q_knn_label_acc" -> sqlKnnLabelAcc,
    "q_dbscan_core" -> sqlDbscanCore,
    "q_dbscan_clusters" -> sqlDbscanClusters,
    "q_kmeans_refine" -> sqlKmeansRefine,
    "q_triangle_count" -> sqlTriangleCount,
    "q_assortativity" -> sqlAssortativity,
    "q_transitivity" -> sqlTransitivity,
    "q_degree_hist" -> sqlDegreeHist,
    "q_truss_support" -> sqlTrussSupport,
    "q_link_pred" -> sqlLinkPred,
    "q_link_pred_sampled" -> sqlLinkPredSampled,
    "q_calibration" -> sqlCalibration,
    "q_vote_auc" -> sqlVoteAuc,
    "q_pq_codes" -> sqlPqCodes,
    "q_ivfpq_adc" -> sqlIvfpqAdc,
    "q_sq8_recall" -> sqlSq8Recall,
    "q_filtered_knn" -> sqlFilteredKnn,
    "q_xlingual_mine" -> sqlXlingualMine,
    "q_semantic_dedup" -> sqlSemanticDedup,
    "q_semdedup_cc" -> sqlSemanticDedupCc,
    "q_rrf_fusion" -> sqlRrfFusion,
    "q_mmr_rerank" -> sqlMmrRerank,
    "q_ann_recall" -> sqlAnnRecall,
    "q_binary_quant" -> sqlBinaryQuant,
    "q_maxsim" -> sqlMaxsim,
    "q_quant_mrr" -> sqlQuantMrr,
    "q_quant_ndcg" -> sqlQuantNdcg,
    "q_map_eval" -> sqlMapEval,
    "q_exposure_share" -> sqlExposureShare,
    "q_ann_multiprobe" -> sqlAnnMultiprobe,
    "q_index_serve" -> sqlAnnMultiprobe,
    "q_rq_codes" -> sqlRqCodes,
    "q_topk_refresh" -> sqlTopkRefresh,
    "q_sq_error" -> sqlSqError,
    "q_ivf_search" -> sqlIvfSearch,
    "q_ivf_nprobe" -> sqlIvfSearchNprobe,
    "q_ivf_recall_curve" -> sqlIvfRecallCurve,
    "q_graph_ann" -> sqlGraphAnn,
    "q_mrl_curve" -> sqlMrlCurve,
    "q_knn" -> sqlKnn,
    "q_knn_batch" -> sqlKnnBatch,
    "q_metric_agreement" -> sqlMetricAgreement,
    "q_hubness" -> sqlHubness,
    "q_kcenter" -> sqlKcenter,
    "q_ra_linkpred" -> sqlRaLinkPred,
    "q_hard_negatives" -> sqlHardNegatives,
    "q_ann_lsh" -> sqlAnnLsh,
    "q_embed_neardup" -> sqlEmbedNearDup,
    "q_centroids" -> sqlCentroids,
    "q_ivf_assign" -> sqlIvfAssign,
    "q_ivf_balance" -> sqlIvfBalance,
    "q_ivfpq_recall" -> sqlIvfpqRecall)
}
