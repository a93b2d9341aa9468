package graft.text

import graft.Stage
import graft.graph.ConnectedComponents
import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckRound6, duckUnits, round4, round6, units}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declared text-pipeline queries over the `documents` table — the
  * LLM-training-data operator set (exact + near dedup, fingerprints,
  * language-ID scoring, quality filtering, token accounting) the
  * builder north star adds on top of the reference's capabilities.
  *
  * Every oracle below is generated from the SAME constants as the
  * Spark expressions ([[TextFns]]) so both engines evaluate the
  * identical integer recurrences — the driver hash-compares output
  * values, so "similar" hashes are not enough.
  *
  * Scale design: all per-document features are pure array expressions
  * (no UDF, no shuffle); the only shuffles are the final small
  * aggregations and the LSH band-key self-join, which is exactly the
  * join you want at 100 TB (candidates meet only within a band
  * bucket — the join key IS the partition key, and bucket sizes are
  * bounded by banding probability, not corpus size).
  */
object TextQueries {

  import TextFns.{P => p}
  private[text] val K = 5 // shingle length (chars)
  private[text] val NumHashes = 16 // minhash signature width
  private[text] val RowsPerBand = 4
  private[text] val NumBands = NumHashes / RowsPerBand
  private val NgramN = 3 // word n-gram width for jaccard
  private val SimBits = 32 // simhash width

  // ---------- shared DuckDB oracle fragments (built from the same
  // constants as the Spark side) ----------

  /** codes CTE body: 1-based code-point list of `text` (shared with
    * [[TextAnalytics]]'s hash-sample oracle, same single-source rule
    * as [[duckTokens]]).
    */
  private[text] val duckCodes =
    "list_transform(range(1, greatest(length(text), 1) + 1), " +
      "i -> CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT))"

  /** Closed-form K-gram polynomial hash at position i over list `cs`
    * — mirrors [[TextFns.shingleHashAt]] step by step.
    */
  private def duckShingleHash: String =
    (0 until K).foldLeft("CAST(0 AS BIGINT)") { (acc, off) =>
      s"(($acc * 31 + coalesce(cs[CAST(i + $off AS INT)], 0)) % $p)"
    }

  private val duckShingles =
    s"list_transform(range(1, greatest(length(text) - ${K - 1}, 1) + 1), i -> $duckShingleHash)"

  /** Whole-document rolling hash — mirrors [[TextFns.polyHash]]. */
  private[text] val duckPolyHash =
    s"list_reduce([CAST(0 AS BIGINT)] || cs, (acc, c) -> (acc * 31 + c) % $p)"

  /** Shared with [[TextAnalytics]] (single source of truth for the
    * token oracle form, per the TextHash-constants rule).
    */
  private[text] val duckTokens =
    "list_filter(string_split(lower(text), ' '), t -> length(t) > 0)"

  /** Per-token rolling hashes (tokens already materialized as `ts`). */
  private[text] val duckTokenHashes =
    "list_transform(ts, t -> list_reduce([CAST(0 AS BIGINT)] || " +
      "list_transform(range(1, greatest(length(t), 1) + 1), " +
      "i -> CAST(ascii(substring(t, CAST(i AS INT), 1)) AS BIGINT)), " +
      s"(acc, c) -> (acc * 31 + c) % $p))"

  /** SimHash over token-hash list `hs` — mirrors [[TextFns.simHash]]:
    * bit j set iff sum over tokens of (2*bit_j(h) - 1) > 0.
    */
  private def duckSimHash: String =
    (0 until SimBits).map { j =>
      val pow = 1L << j
      s"(CASE WHEN list_sum(list_transform(hs, h -> ((h // $pow) % 2) * 2 - 1)) > 0 THEN $pow ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** MinHash signature list — mirrors [[TextFns.minHashSignature]]. */
  private def duckSignature: String =
    (0 until NumHashes).map { j =>
      s"list_min(list_transform(shs, x -> (x * ${TextFns.aj(j)} + ${TextFns.bj(j)}) % $p))"
    }.mkString("[", ", ", "]")

  /** LSH band keys — mirrors [[TextFns.lshBandKeys]]. */
  private def duckBandKeys: String =
    (0 until NumBands).map { b =>
      val parts = (0 until RowsPerBand).map(r => s"sig[${b * RowsPerBand + r + 1}]")
      s"'$b:' || " + parts.map(x => s"CAST($x AS VARCHAR)").mkString(" || ',' || ")
    }.mkString("[", ", ", "]")

  /** Shared with [[TextAnalytics.weightedSample]] (single source of
    * truth for the quality-score oracle form).
    *
    * Token-less/empty-text parity with [[TextFns.qualityScore]]:
    * Spark's punct numerator subtracts from the CLAMPED length
    * (`greatest(length,1)`) and its token-length fold over an empty
    * array yields 0 where DuckDB's `list_sum([])` is NULL — both
    * mirrored here (`greatest` in the numerator, `coalesce(...,0)`),
    * otherwise a whitespace-only document scores NULL in the oracle
    * and every consumer of the unrounded score (`q_weighted_sample`'s
    * keep decision) diverges.
    */
  private[text] val duckQuality = {
    val stop = TextFns.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    """(least(CAST(greatest(length(text), 1) AS DOUBLE) / 400.0, 1.0) * 0.3
      | + least(CAST(greatest(length(text), 1) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
      |         / CAST(greatest(length(text), 1) AS DOUBLE) * 20.0, 1.0) * 0.2
      | + least(CAST(len(list_filter(ts, t -> list_contains(STOP, t))) AS DOUBLE)
      |         / CAST(greatest(len(ts), 1) AS DOUBLE) * 4.0, 1.0) * 0.3
      | + least(CAST(coalesce(list_sum(list_transform(ts, t -> length(t))), 0) AS DOUBLE)
      |         / CAST(greatest(len(ts), 1) AS DOUBLE) / 8.0, 1.0) * 0.2)"""
      .stripMargin.replace("STOP", stop).replace("\n", " ")
  }

  // ---------- 1. q_doc_dedup: exact dedup on normalized-text hash ----------

  /** Normalization: lowercase, collapse non-alphanumeric runs to one
    * space, trim — the standard exact-dedup key for text corpora.
    */
  private[text] def normText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  def docDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("h", sha2(normText(col("text")), 256))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dup_docs"))
      .orderBy("source")

  private val sqlDocDedup =
    """SELECT source, count(*) AS n_docs,
      |       count(DISTINCT sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS n_distinct,
      |       count(*) - count(DISTINCT sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS n_dup_docs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------- 2. q_doc_fingerprint: rolling-hash + simhash per doc ----------

  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs
      .select(col("doc_id"),
        graft.functions.TextHashes.polyHash(col("text")).as("fingerprint"),
        graft.functions.TextHashes.simHash(col("text"), SimBits).as("simhash"))
      .orderBy("doc_id")
  }

  private val sqlDocFingerprint =
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     t AS (SELECT doc_id, text, cs, $duckTokens AS ts FROM c),
       |     h AS (SELECT doc_id, cs, $duckTokenHashes AS hs FROM t)
       |SELECT doc_id, $duckPolyHash AS fingerprint, $duckSimHash AS simhash
       |FROM h ORDER BY doc_id""".stripMargin

  // ---------- 3. q_minhash_cluster: MinHash-LSH near-dup clustering ----------

  /** Full MinHash+LSH dedup pipeline: per-doc signature (native
    * expression, no shuffle) → explode band keys → bucket
    * representative = min doc_id per band → each doc joins the
    * cluster of the smallest representative it collides with
    * (one-hop single-link, the first round of connected components).
    *
    * Deliberately emits CLUSTERS, not pairs: this synthetic corpus
    * has ~600k genuine ≥0.5-similar pairs at sf0.1 (measured — a
    * tiny shared vocabulary makes 5-gram Jaccard high everywhere), so
    * any pairwise listing is inherently quadratic in cluster size;
    * cluster assignment is what a dedup pipeline needs (canonical doc
    * per cluster) and every step here is a linear key-partitioned
    * aggregate/join that survives 100 TB.
    */
  /** (doc_id, band) LSH bucket memberships — the collision stage
    * shared by one-hop clustering ([[minhashAssignments]]) and the
    * transitive closure ([[ccClusters]]).
    */
  private[text] def minhashBands(docs: DataFrame): DataFrame =
    docs
      .withColumn("sig",
        graft.functions.TextHashes.minHashSig(col("text"), K, NumHashes))
      .select(col("doc_id"),
        // packed band keys: bijective with the oracle's string form
        // (same buckets), shuffled as fixed-width integers —
        // TextFns.lshBandPacked
        explode(TextFns.lshBandPacked(col("sig"), RowsPerBand, NumBands)).as("band"))

  /** Each band membership joined to its bucket representative
    * (min doc_id per band) — the single definition of bucket
    * structure consumed by both the one-hop clustering and the
    * closure's edge list, so the two can never disagree about which
    * docs collide.
    */
  private def bandReps(docs: DataFrame): DataFrame = {
    // Stage the band memberships ONCE (round-17 verdict #6): `bands`
    // feeds BOTH the rep aggregate and the join below, and without
    // materialization each consumer re-runs the full MinHash
    // signature scan — the single most expensive expression in the
    // pipeline — because the reps branch goes through a
    // BroadcastExchange, so ReuseExchange cannot dedupe the two
    // subtrees (2 `Scan parquet` nodes observed in
    // q_minhash_cluster's plan; every bandReps consumer paid it).
    // The staged set is (doc_id, band) ints, tiny next to the text;
    // the blocks are freed by the per-query unpersist in Bench/Verify
    // (and superseded ones by the ContextCleaner elsewhere).
    val bands = minhashBands(docs).localCheckpoint(true)
    val reps = bands.groupBy("band").agg(min(col("doc_id")).as("rep"))
    bands.join(reps, "band")
  }

  /** Per-document MinHash-LSH cluster assignment (doc_id →
    * cluster_id), the shared kernel of [[minhashCluster]] and
    * RunCurate's near-dup gate — one definition so the curation
    * funnel can never diverge from the oracle-verified clustering.
    * Input must carry (`doc_id`, `text`).
    */
  private[text] def minhashAssignments(docs: DataFrame): DataFrame =
    bandReps(docs)
      .groupBy("doc_id").agg(min(col("rep")).as("cluster_id"))

  def minhashCluster(spark: SparkSession, sfDir: String): DataFrame =
    minhashAssignments(Tables.documents(spark, sfDir))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy("cluster_id")

  private val sqlMinhashCluster =
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     clusters AS (SELECT bands.doc_id, min(reps.rep) AS cluster_id
       |                  FROM bands JOIN reps ON bands.band = reps.band
       |                  GROUP BY bands.doc_id)
       |SELECT cluster_id, count(*) AS n_docs
       |FROM clusters GROUP BY cluster_id HAVING count(*) > 1
       |ORDER BY cluster_id""".stripMargin

  // ---------- 3a¹. q_minhash_est: sketch-accuracy audit ----------

  /** MinHash estimator accuracy audit, measured on the clustering's
    * OWN edges: for every (bucket representative, member) pair the LSH
    * stage actually produces, compare the signature estimate
    * (matching positions / [[NumHashes]]) against the exact Jaccard of
    * the distinct shingle-hash sets. This is the calibration query a
    * dedup deployment runs before trusting a banding config — it
    * answers "how wrong is the sketch on the pairs it acts on"
    * (Broder 1997's estimator, audited like `q_sq_error` audits SQ8).
    *
    * Scale: auditing the EDGE LIST keeps the pair count linear —
    * each doc contributes at most [[NumBands]] (rep, doc) pairs, never
    * an all-pairs or within-bucket quadratic join (the CLAUDE.md
    * pairwise rule). Signatures and distinct shingle sets are staged
    * per doc before the pair join; the estimate is an integer match
    * count over 16 positions (order-free), the exact side a single
    * array_intersect over pre-deduped arrays.
    */
  def minhashEst(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val staged = docs
      // native codegen'd distinct-shingle set + signature (HOF parity
      // pinned by TextHashSpec) — the interpreted HOF form cost ~2.5 s
      // of this query's 3.6 s at sf0.1. Shingle sets are staged
      // ASCENDING-sorted so the pair verify is the merge-walk kernel
      // (array_intersect builds a hash set per pair — the q_ppjoin
      // verify lesson applied here too).
      .withColumn("shs",
        array_sort(graft.functions.TextHashes.shingleSet(col("text"), K)))
      .withColumn("sig",
        graft.functions.TextHashes.minHashSig(col("text"), K, NumHashes))
      .select(col("doc_id"), col("shs"), size(col("shs")).as("nsh"), col("sig"))
      // staged ONCE: consumed by BOTH pair sides, whose joins exchange
      // on different keys (doc_a vs doc_b) — ReuseExchange cannot
      // dedupe them, so without the checkpoint the shingle+signature
      // kernel (the query's dominant cost) ran twice per row. Blocks
      // freed by the per-query unpersist in Bench/Verify.
      .localCheckpoint(true)
    val pairs = bandReps(docs)
      .filter(col("rep") < col("doc_id"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
    val a = staged.select(col("doc_id").as("doc_a"), col("shs").as("shs_a"),
      col("nsh").as("nsh_a"), col("sig").as("sig_a"))
    val b = staged.select(col("doc_id").as("doc_b"), col("shs").as("shs_b"),
      col("nsh").as("nsh_b"), col("sig").as("sig_b"))
    pairs.join(a, "doc_a").join(b, "doc_b")
      .withColumn("matches",
        graft.functions.TextHashes.posEqCount(col("sig_a"), col("sig_b")))
      .withColumn("est", col("matches").cast("double") / NumHashes)
      .withColumn("inter",
        graft.functions.TextHashes.sortedIntersectCount(
          col("shs_a"), col("shs_b")).cast("double"))
      .withColumn("uni", (col("nsh_a") + col("nsh_b")).cast("double") - col("inter"))
      .withColumn("ex", when(col("uni") === 0, lit(1.0)).otherwise(col("inter") / col("uni")))
      .select(col("doc_a"), col("doc_b"),
        round4(col("est")).as("est_sim"),
        round4(col("ex")).as("exact_sim"),
        round4(abs(col("est") - col("ex"))).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  private val sqlMinhashEst =
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, list_distinct(shs) AS dsh, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     pairs AS (SELECT DISTINCT reps.rep AS doc_a, bands.doc_id AS doc_b
       |               FROM bands JOIN reps ON bands.band = reps.band
       |               WHERE reps.rep < bands.doc_id),
       |     m AS (SELECT doc_a, doc_b,
       |             CAST(list_sum(list_transform(range(1, $NumHashes + 1),
       |               i -> CASE WHEN ga.sig[CAST(i AS INT)] = gb.sig[CAST(i AS INT)]
       |                         THEN 1 ELSE 0 END)) AS DOUBLE) / $NumHashes AS est,
       |             CAST(len(list_filter(ga.dsh, x -> list_contains(gb.dsh, x))) AS DOUBLE) AS inter,
       |             CAST(len(ga.dsh) + len(gb.dsh) AS DOUBLE) AS tot
       |           FROM pairs JOIN g ga ON pairs.doc_a = ga.doc_id
       |                      JOIN g gb ON pairs.doc_b = gb.doc_id),
       |     e AS (SELECT doc_a, doc_b, est,
       |             CASE WHEN tot - inter = 0 THEN 1.0
       |                  ELSE inter / (tot - inter) END AS ex
       |           FROM m)
       |SELECT doc_a, doc_b, ${duckRound4("est")} AS est_sim,
       |       ${duckRound4("ex")} AS exact_sim,
       |       ${duckRound4("abs(est - ex)")} AS abs_err
       |FROM e ORDER BY doc_a, doc_b""".stripMargin

  // ---------- 3a⁻¹. q_bbit_minhash: b-bit minwise hashing audit ----------

  private val BbitB = 2

  /** b-bit minwise hashing (Li & König 2010): store only the lowest
    * [[BbitB]] bits of each MinHash slot — 32× less signature storage
    * at b=2 vs 64-bit slots — and recover Jaccard from the collision
    * rate with the bias correction Ĵ = (C − r)/(1 − r), r = 2^−b
    * (random low-bit collisions happen at rate r even for disjoint
    * sets; the correction de-biases them). This audit scores the
    * compressed estimator against BOTH the full-width estimate and
    * exact Jaccard on the same LSH candidate pairs as `q_minhash_est`
    * — the measurement that licenses shipping b-bit signatures at
    * 100 TB, where signature storage is the index's dominant cost.
    *
    * Shape: identical to [[minhashEst]] (bounded rep-member pair list,
    * per-pair array ops); the b-bit compare is `x mod 2^b` on the
    * already-verified signature slots, so no new hash machinery enters
    * the parity surface.
    */
  def bbitMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val mask = 1L << BbitB
    val r = 1.0 / mask
    val staged = docs
      // sorted shingle sets + a per-doc STAGED b-bit signature (sig
      // mod 2^b): the masked compare then reuses the positional-match
      // kernel, instead of re-computing the mod per pair inside an
      // interpreted zip_with (the q_minhash_est staging discipline)
      .withColumn("shs",
        array_sort(graft.functions.TextHashes.shingleSet(col("text"), K)))
      .withColumn("sig",
        graft.functions.TextHashes.minHashSig(col("text"), K, NumHashes))
      .withColumn("sigb", transform(col("sig"), x => pmod(x, lit(mask))))
      .select(col("doc_id"), col("shs"), size(col("shs")).as("nsh"),
        col("sig"), col("sigb"))
    val pairs = bandReps(docs)
      .filter(col("rep") < col("doc_id"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
    val a = staged.select(col("doc_id").as("doc_a"), col("shs").as("shs_a"),
      col("nsh").as("nsh_a"), col("sig").as("sig_a"), col("sigb").as("sigb_a"))
    val b = staged.select(col("doc_id").as("doc_b"), col("shs").as("shs_b"),
      col("nsh").as("nsh_b"), col("sig").as("sig_b"), col("sigb").as("sigb_b"))
    pairs.join(a, "doc_a").join(b, "doc_b")
      .withColumn("m_full",
        graft.functions.TextHashes.posEqCount(col("sig_a"), col("sig_b")))
      .withColumn("m_bbit",
        graft.functions.TextHashes.posEqCount(col("sigb_a"), col("sigb_b")))
      .withColumn("est_full", col("m_full").cast("double") / NumHashes)
      .withColumn("c_bbit", col("m_bbit").cast("double") / NumHashes)
      .withColumn("est_bbit", (col("c_bbit") - lit(r)) / lit(1.0 - r))
      .withColumn("inter",
        graft.functions.TextHashes.sortedIntersectCount(
          col("shs_a"), col("shs_b")).cast("double"))
      .withColumn("uni", (col("nsh_a") + col("nsh_b")).cast("double") - col("inter"))
      .withColumn("ex", when(col("uni") === 0, lit(1.0)).otherwise(col("inter") / col("uni")))
      .select(col("doc_a"), col("doc_b"),
        round4(col("ex")).as("exact_sim"),
        round4(col("est_full")).as("est_full"),
        round4(col("est_bbit")).as("est_bbit"),
        round4(abs(col("est_full") - col("ex"))).as("err_full"),
        round4(abs(col("est_bbit") - col("ex"))).as("err_bbit"))
      .orderBy("doc_a", "doc_b")
  }

  private val sqlBbitMinhash = {
    val mask = 1L << BbitB
    val r = s"(1.0 / $mask)"
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, list_distinct(shs) AS dsh, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     pairs AS (SELECT DISTINCT reps.rep AS doc_a, bands.doc_id AS doc_b
       |               FROM bands JOIN reps ON bands.band = reps.band
       |               WHERE reps.rep < bands.doc_id),
       |     m AS (SELECT doc_a, doc_b,
       |             CAST(list_sum(list_transform(range(1, $NumHashes + 1),
       |               i -> CASE WHEN ga.sig[CAST(i AS INT)] = gb.sig[CAST(i AS INT)]
       |                         THEN 1 ELSE 0 END)) AS DOUBLE) / $NumHashes AS est_full,
       |             CAST(list_sum(list_transform(range(1, $NumHashes + 1),
       |               i -> CASE WHEN ga.sig[CAST(i AS INT)] % $mask = gb.sig[CAST(i AS INT)] % $mask
       |                         THEN 1 ELSE 0 END)) AS DOUBLE) / $NumHashes AS c_bbit,
       |             CAST(len(list_filter(ga.dsh, x -> list_contains(gb.dsh, x))) AS DOUBLE) AS inter,
       |             CAST(len(ga.dsh) + len(gb.dsh) AS DOUBLE) AS tot
       |           FROM pairs JOIN g ga ON pairs.doc_a = ga.doc_id
       |                      JOIN g gb ON pairs.doc_b = gb.doc_id),
       |     e AS (SELECT doc_a, doc_b, est_full,
       |             (c_bbit - $r) / (1.0 - $r) AS est_bbit,
       |             CASE WHEN tot - inter = 0 THEN 1.0
       |                  ELSE inter / (tot - inter) END AS ex
       |           FROM m)
       |SELECT doc_a, doc_b,
       |       ${duckRound4("ex")} AS exact_sim,
       |       ${duckRound4("est_full")} AS est_full,
       |       ${duckRound4("est_bbit")} AS est_bbit,
       |       ${duckRound4("abs(est_full - ex)")} AS err_full,
       |       ${duckRound4("abs(est_bbit - ex)")} AS err_bbit
       |FROM e ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------- 3a⁰. q_cluster_sizes: duplication-depth profile ----------

  /** Near-dup cluster-size distribution: for each cluster size s, how
    * many LSH clusters have exactly s members and how many documents
    * they hold — the duplication-depth histogram (the curve behind
    * "dedup will remove X% of the corpus": Σ (s−1)·n_clusters docs
    * drop under canonical election). Size-1 rows are the undeduped
    * mass; a heavy tail means boilerplate/mirror content.
    *
    * Shape: two bounded hash aggregates over [[minhashAssignments]]'
    * output (cluster grain, then size grain — ≤ max-cluster-size
    * rows). All integers.
    */
  def clusterSizes(spark: SparkSession, sfDir: String): DataFrame =
    minhashAssignments(Tables.documents(spark, sfDir))
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy("sz")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"),
        ((col("sz") - 1L) * col("n_clusters")).as("docs_dropped_by_dedup"))
      .orderBy("cluster_size")

  private val sqlClusterSizes =
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     clusters AS (SELECT bands.doc_id, min(reps.rep) AS cluster_id
       |                  FROM bands JOIN reps ON bands.band = reps.band
       |                  GROUP BY bands.doc_id),
       |     sz AS (SELECT cluster_id, count(*) AS sz FROM clusters GROUP BY 1)
       |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |       CAST(sz * count(*) AS BIGINT) AS n_docs,
       |       CAST((sz - 1) * count(*) AS BIGINT) AS docs_dropped_by_dedup
       |FROM sz GROUP BY sz ORDER BY cluster_size""".stripMargin

  // ---------- 3aᵈ. q_dup_rate: per-source duplication rate ----------

  /** Near-dup rate per source — the per-SOURCE cut of the
    * [[clusterSizes]] histogram: what fraction of each source's
    * documents would the near-dup gate drop (doc is a duplicate iff
    * it is not its cluster's canonical representative, the
    * `cluster_id = min doc_id` convention every dedup query here
    * shares). The ranking a crawl review reads to find which feeds
    * are re-serving the same content.
    *
    * Shape: the shared [[minhashAssignments]] kernel (banded LSH,
    * distinct-fingerprint collapse — all the scale discipline lives
    * there) + one broadcast-joined source lookup + a source-grain
    * rollup. Integer counts, one rounded rate.
    */
  def dupRate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    minhashAssignments(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("doc_id") =!= col("cluster_id"), lit(1))).as("n_dupes"))
      .withColumn("dup_rate", round4(
        col("n_dupes").cast("double") / col("n_docs").cast("double")))
      .orderBy("source")
  }

  private val sqlDupRate =
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     clusters AS (SELECT bands.doc_id, min(reps.rep) AS cluster_id
       |                  FROM bands JOIN reps ON bands.band = reps.band
       |                  GROUP BY bands.doc_id),
       |     j AS (SELECT clusters.doc_id, cluster_id, source
       |           FROM clusters JOIN documents ON clusters.doc_id = documents.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(CASE WHEN doc_id <> cluster_id THEN 1 END) AS BIGINT) AS n_dupes,
       |       ${duckRound4(
                 "CAST(count(CASE WHEN doc_id <> cluster_id THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS dup_rate
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  // ---------- 3aᵉ. q_dedup_savings: storage economics of dedup ----------

  /** Bytes the near-dup gate saves, per source — the storage/compute
    * economics view of [[dupRate]]'s ratios: dropped characters ARE
    * the tokens never embedded, indexed, or trained on, so this is
    * the number that justifies (or kills) running dedup at all for a
    * given feed.
    *
    * Shape: the shared [[minhashAssignments]] kernel + one broadcast-
    * free key join to (source, n_chars) + a source-grain conditional
    * sum. Exact integers, one rounded share.
    */
  def dedupSavings(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    minhashAssignments(docs)
      .join(docs.select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("nc")), "doc_id")
      .groupBy("source")
      .agg(sum(col("nc")).as("bytes_total"),
        sum(when(col("doc_id") =!= col("cluster_id"), col("nc"))
          .otherwise(lit(0L))).as("bytes_dropped"))
      .withColumn("save_rate", round4(
        col("bytes_dropped").cast("double") / col("bytes_total").cast("double")))
      .orderBy("source")
  }

  private val sqlDedupSavings =
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     clusters AS (SELECT bands.doc_id, min(reps.rep) AS cluster_id
       |                  FROM bands JOIN reps ON bands.band = reps.band
       |                  GROUP BY bands.doc_id),
       |     j AS (SELECT clusters.doc_id, cluster_id, source, CAST(n_chars AS BIGINT) AS nc
       |           FROM clusters JOIN documents ON clusters.doc_id = documents.doc_id)
       |SELECT source, CAST(sum(nc) AS BIGINT) AS bytes_total,
       |       CAST(sum(CASE WHEN doc_id <> cluster_id THEN nc ELSE 0 END) AS BIGINT) AS bytes_dropped,
       |       ${duckRound4(
                 "CAST(sum(CASE WHEN doc_id <> cluster_id THEN nc ELSE 0 END) AS DOUBLE) / CAST(sum(nc) AS DOUBLE)")} AS save_rate
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  // ---------- 3aᵍ. q_dedup_chain: staged dedup attrition funnel ----------

  /** The curation funnel every corpus report leads with: per source,
    * how many documents survive each dedup stage in sequence — raw →
    * exact (first-wins on the normalized-text hash, the [[docDedup]]
    * key) → near-dup (MinHash-LSH canonical per cluster, the
    * [[minhashAssignments]] kernel run ON THE EXACT-STAGE SURVIVORS,
    * not the raw corpus — staging order changes cluster structure, so
    * the funnel is pinned as a composition, not two independent
    * counts). `retention` = n_near/n_raw is the number a data-mix
    * owner quotes.
    *
    * Scale: stage 1 is one hash aggregate + self-equi-join at
    * hash-grain; stage 2 inherits the banded LSH linearity (bucket
    * reps, never pairs). Survivor sets pass between stages as
    * dataframes — at 100 TB each stage is one materialized
    * checkpoint of a curation DAG, identical shape. Sources that
    * lose every document stay visible via left joins + zero fills.
    */
  def dedupChain(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val keyed = docs.withColumn("h", sha2(normText(col("text")), 256))
    val r1 = keyed.groupBy("h").agg(min(col("doc_id")).as("keep1"))
    // Stage the exact-dedup survivor set ONCE: it has THREE consumers
    // (the MinHash stage, the per-source exact counts, the near-dup
    // retention join) — unstaged, each re-ran the sha256 + normText
    // pass and the keep-min join over the corpus (10 parquet scans in
    // the before-plan).
    val s1 = keyed.join(r1, Seq("h"))
      .filter(col("doc_id") === col("keep1"))
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint(true)
    val r2 = minhashAssignments(s1)
      .groupBy("cluster_id").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val raw = docs.groupBy("source").agg(count(lit(1)).as("n_raw"))
    val ex = s1.groupBy("source").agg(count(lit(1)).as("n_exact"))
    val nn = s1.join(r2, Seq("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("n_near"))
    raw.join(ex, Seq("source"), "left").join(nn, Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        round4(coalesce(col("n_near"), lit(0L)).cast("double") /
          col("n_raw").cast("double")).as("retention"))
      .orderBy("source")
  }

  private val sqlDedupChain =
    s"""WITH k AS (SELECT doc_id, source, text,
       |                  sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
       |           FROM documents),
       |     r1 AS (SELECT h, min(doc_id) AS keep1 FROM k GROUP BY h),
       |     s1 AS (SELECT k.doc_id, k.source, k.text
       |            FROM k JOIN r1 ON k.h = r1.h AND k.doc_id = r1.keep1),
       |     c AS (SELECT doc_id, text, $duckCodes AS cs FROM s1),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     cl AS (SELECT bands.doc_id, min(reps.rep) AS cluster_id
       |            FROM bands JOIN reps ON bands.band = reps.band
       |            GROUP BY bands.doc_id),
       |     r2 AS (SELECT min(doc_id) AS doc_id FROM cl GROUP BY cluster_id),
       |     raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw
       |             FROM documents GROUP BY 1),
       |     e AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM s1 GROUP BY 1),
       |     nn AS (SELECT s1.source, CAST(count(*) AS BIGINT) AS n_near
       |            FROM s1 JOIN r2 ON s1.doc_id = r2.doc_id GROUP BY 1)
       |SELECT raw.source, raw.n_raw,
       |       COALESCE(e.n_exact, 0) AS n_exact,
       |       COALESCE(nn.n_near, 0) AS n_near,
       |       ${duckRound4(
                 "CAST(COALESCE(nn.n_near, 0) AS DOUBLE) / CAST(raw.n_raw AS DOUBLE)")} AS retention
       |FROM raw LEFT JOIN e ON raw.source = e.source
       |         LEFT JOIN nn ON raw.source = nn.source
       |ORDER BY raw.source""".stripMargin

  // ---------- 3aʲ. q_method_agreement: LSH vs SimHash triangulation ----------

  /** Do the two near-dup detectors agree on WHICH documents are
    * duplicates? Per document, "flagged" means non-canonical under
    * the method's one-hop clustering (doc_id ≠ cluster_id); the 2×2
    * contingency of MinHash-LSH vs SimHash flags plus the agreement
    * rate is the triangulation a dedup rollout reads before trusting
    * either method alone — the `lsh_only`/`sim_only` cells are the
    * review queues (Jaccard-near but bitwise-far, and vice versa).
    *
    * Scale: both assignment kernels are the linear banded shapes
    * ([[minhashAssignments]], [[simhashAssignments]]); the audit
    * joins them doc-keyed and collapses to four counters — document-
    * pair enumeration never happens.
    */
  def methodAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val lsh = minhashAssignments(docs)
      .select(col("doc_id"), (col("doc_id") =!= col("cluster_id")).as("lsh_dup"))
    val sim = simhashAssignments(docs)
      .select(col("doc_id"), (col("doc_id") =!= col("cluster_id")).as("sim_dup"))
    lsh.join(sim, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lsh_dup") && col("sim_dup"), lit(1L)).otherwise(lit(0L)))
          .as("n_both"),
        sum(when(col("lsh_dup") && !col("sim_dup"), lit(1L)).otherwise(lit(0L)))
          .as("n_lsh_only"),
        sum(when(!col("lsh_dup") && col("sim_dup"), lit(1L)).otherwise(lit(0L)))
          .as("n_sim_only"),
        sum(when(!col("lsh_dup") && !col("sim_dup"), lit(1L)).otherwise(lit(0L)))
          .as("n_neither"))
      .select(col("n_docs"), col("n_both"), col("n_lsh_only"),
        col("n_sim_only"), col("n_neither"),
        round4((col("n_both") + col("n_neither")).cast("double") /
          col("n_docs").cast("double")).as("agreement"))
  }

  // a DEF, not a val: reads SimBands/MaxHamming, which are declared
  // after this point in the object (the RecallProbeStep lesson — an
  // earlier val reading a later val sees 0 and emits empty band lists)
  private def sqlMethodAgreement = {
    val bandList = (0 until SimBands).map { b =>
      s"'$b:' || CAST((sh // ${1L << (b * 8)}) % 256 AS VARCHAR)"
    }.mkString("[", ", ", "]")
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s0 AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s0),
       |     mbands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     mreps AS (SELECT band, min(doc_id) AS rep FROM mbands GROUP BY band),
       |     mcl AS (SELECT mbands.doc_id, min(mreps.rep) AS cluster_id
       |             FROM mbands JOIN mreps ON mbands.band = mreps.band
       |             GROUP BY mbands.doc_id),
       |     t AS (SELECT doc_id, text, $duckTokens AS ts FROM c),
       |     h AS (SELECT doc_id, $duckTokenHashes AS hs FROM t),
       |     sh0 AS (SELECT doc_id, $duckSimHash AS sh FROM h),
       |     fps AS (SELECT sh, min(doc_id) AS rep FROM sh0 GROUP BY sh),
       |     sbands AS (SELECT sh, rep, unnest($bandList) AS band FROM fps),
       |     spairs AS (SELECT a.sh AS sh, b.rep AS nbr
       |                FROM sbands a JOIN sbands b
       |                  ON a.band = b.band AND a.rep > b.rep
       |                WHERE bit_count(xor(a.sh, b.sh)) <= $MaxHamming),
       |     smn AS (SELECT sh, min(nbr) AS mn FROM spairs GROUP BY sh),
       |     sfpc AS (SELECT fps.sh,
       |                     least(fps.rep, coalesce(smn.mn, fps.rep)) AS cluster_id
       |              FROM fps LEFT JOIN smn ON fps.sh = smn.sh),
       |     scl AS (SELECT sh0.doc_id, sfpc.cluster_id
       |             FROM sh0 JOIN sfpc ON sh0.sh = sfpc.sh),
       |     j AS (SELECT mcl.doc_id,
       |                  mcl.doc_id <> mcl.cluster_id AS lsh_dup,
       |                  scl.doc_id <> scl.cluster_id AS sim_dup
       |           FROM mcl JOIN scl ON mcl.doc_id = scl.doc_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN lsh_dup AND sim_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       |       CAST(sum(CASE WHEN lsh_dup AND NOT sim_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh_only,
       |       CAST(sum(CASE WHEN NOT lsh_dup AND sim_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_sim_only,
       |       CAST(sum(CASE WHEN NOT lsh_dup AND NOT sim_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_neither,
       |       ${duckRound4(
                  "CAST(sum(CASE WHEN lsh_dup = sim_dup THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS agreement
       |FROM j""".stripMargin
  }

  // ---------- 3aⁱ. q_dedup_bias: does dedup shift the language mix? ----------

  /** Demographic-shift audit on the near-dup gate: language-mix
    * shares BEFORE vs AFTER keeping only [[minhashAssignments]]
    * canonicals (doc_id = cluster_id), with each language's
    * total-variation contribution — boilerplate concentrates inside
    * languages, so a dedup pass can silently shrink one language's
    * share while the per-source funnel ([[dedupChain]]) still looks
    * flat. The number a responsible-curation review asks for before
    * shipping the deduped corpus.
    *
    * Exactness: shares and the TV term |b·T_a − a·T_b|/(2·T_b·T_a)
    * are integer cross-products with one round4 division each
    * (long-safe to ~3·10⁹ docs; DECIMAL past that). Scale: the LSH
    * kernel's linear banded shape + two lang-grain aggregates.
    */
  def dedupBias(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val lab = minhashAssignments(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val cnt = lab.groupBy("lang")
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("doc_id") === col("cluster_id"), lit(1L)).otherwise(lit(0L)))
          .as("n_after"))
    val tot = cnt.agg(sum(col("n_before")).as("tb"), sum(col("n_after")).as("ta"))
    cnt.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_before"), col("n_after"),
        round4(col("n_before").cast("double") / col("tb").cast("double"))
          .as("share_before"),
        round4(col("n_after").cast("double") / col("ta").cast("double"))
          .as("share_after"),
        round4(
          abs(col("n_before") * col("ta") - col("n_after") * col("tb")).cast("double") /
            (lit(2.0) * col("tb").cast("double") * col("ta").cast("double")))
          .as("tv_contrib"))
      .orderBy("lang")
  }

  private val sqlDedupBias =
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     cl AS (SELECT bands.doc_id, min(reps.rep) AS cluster_id
       |            FROM bands JOIN reps ON bands.band = reps.band
       |            GROUP BY bands.doc_id),
       |     lab AS (SELECT cl.doc_id, cl.cluster_id, d.lang
       |             FROM cl JOIN documents d ON cl.doc_id = d.doc_id),
       |     cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_before,
       |                    CAST(sum(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END)
       |                      AS BIGINT) AS n_after
       |             FROM lab GROUP BY 1),
       |     tot AS (SELECT CAST(sum(n_before) AS BIGINT) AS tb,
       |                    CAST(sum(n_after) AS BIGINT) AS ta FROM cnt)
       |SELECT lang, n_before, n_after,
       |       ${duckRound4("CAST(n_before AS DOUBLE) / CAST(tb AS DOUBLE)")} AS share_before,
       |       ${duckRound4("CAST(n_after AS DOUBLE) / CAST(ta AS DOUBLE)")} AS share_after,
       |       ${duckRound4(
                  "CAST(abs(n_before * ta - n_after * tb) AS DOUBLE) / (2.0 * CAST(tb AS DOUBLE) * CAST(ta AS DOUBLE))")} AS tv_contrib
       |FROM cnt CROSS JOIN tot ORDER BY lang""".stripMargin

  // ---------- 3aʰ. q_modularity: one-hop clustering quality audit ----------

  /** Newman modularity of the ONE-HOP LSH clustering measured on the
    * band-collision graph itself — the audit that says how much
    * linkage [[minhashAssignments]]'s cheap single pass leaves on the
    * table versus the transitive closure: `cut_edges` counts
    * collision edges whose endpoints land in different one-hop
    * clusters (exactly the links [[ccClusters]] would merge), and
    * Q = intra/m − Σ_c(d_c/2m)² scores the partition against the
    * degree-preserving random graph (Newman 2004). A Q near its
    * maximum with few cut edges says one-hop is good enough — skip
    * the closure's extra rounds; a large cut says run the fixpoint.
    *
    * Exactness: everything is integer until the single output
    * division — the numerator 4m·intra − Σd_c² and denominator 4m²
    * accumulate in DECIMAL(38,0) (long² overflows past ~10⁹ edges),
    * each converted to double once, same association in the oracle.
    *
    * Scale: edge list and degrees are linear aggregates of the
    * banded collision structure (never within-bucket pairs); the
    * three scalar aggregates broadcast-join at the end. Same plan at
    * any SF.
    */
  def modularity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val e0 = bandReps(docs)
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("a"), col("doc_id").as("b"))
      .distinct()
    val assign = minhashAssignments(docs)
    val lab = e0
      .join(assign.select(col("doc_id").as("a"), col("cluster_id").as("ca")), Seq("a"))
      .join(assign.select(col("doc_id").as("b"), col("cluster_id").as("cb")), Seq("b"))
    val mRow = lab.agg(count(lit(1)).as("m"),
      sum(when(col("ca") === col("cb"), lit(1L)).otherwise(lit(0L))).as("intra"))
    val deg = e0.select(col("a").as("node"))
      .unionAll(e0.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val dc2 = deg
      .join(assign.withColumnRenamed("doc_id", "node"), Seq("node"))
      .groupBy("cluster_id").agg(sum(col("deg")).as("dc"))
      .agg(sum(col("dc").cast("decimal(19,0)") * col("dc").cast("decimal(19,0)"))
        .as("sum_dc2"))
    val mD = col("m").cast("decimal(19,0)")
    val iD = col("intra").cast("decimal(19,0)")
    mRow.crossJoin(broadcast(nNodes)).crossJoin(broadcast(dc2))
      .select(col("n_nodes"), col("m").as("n_edges"),
        col("intra").as("intra_edges"), (col("m") - col("intra")).as("cut_edges"),
        round4(
          ((lit(4).cast("decimal(19,0)") * iD * mD).cast("double") -
            col("sum_dc2").cast("double")) /
          (lit(4).cast("decimal(19,0)") * mD * mD).cast("double")).as("modularity"))
  }

  private val sqlModularity =
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     e0 AS (SELECT DISTINCT reps.rep AS a, bands.doc_id AS b
       |            FROM bands JOIN reps ON bands.band = reps.band
       |            WHERE bands.doc_id <> reps.rep),
       |     cl AS (SELECT bands.doc_id, min(reps.rep) AS cluster_id
       |            FROM bands JOIN reps ON bands.band = reps.band
       |            GROUP BY bands.doc_id),
       |     lab AS (SELECT ca.cluster_id AS ca, cb.cluster_id AS cb
       |             FROM e0 JOIN cl ca ON e0.a = ca.doc_id
       |                     JOIN cl cb ON e0.b = cb.doc_id),
       |     mrow AS (SELECT CAST(count(*) AS BIGINT) AS m,
       |                     CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT) AS intra
       |              FROM lab),
       |     deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
       |             FROM (SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
       |             GROUP BY 1),
       |     nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
       |     dc AS (SELECT cl.cluster_id, CAST(sum(deg.deg) AS BIGINT) AS dc
       |            FROM deg JOIN cl ON deg.node = cl.doc_id GROUP BY 1),
       |     dc2 AS (SELECT sum(CAST(dc AS DECIMAL(19,0)) * CAST(dc AS DECIMAL(19,0))) AS sum_dc2
       |             FROM dc)
       |SELECT nn.n_nodes, mrow.m AS n_edges, mrow.intra AS intra_edges,
       |       mrow.m - mrow.intra AS cut_edges,
       |       ${duckRound4(
                  "(CAST(CAST(4 AS DECIMAL(19,0)) * CAST(mrow.intra AS DECIMAL(19,0)) * CAST(mrow.m AS DECIMAL(19,0)) AS DOUBLE) - CAST(dc2.sum_dc2 AS DOUBLE)) / CAST(CAST(4 AS DECIMAL(19,0)) * CAST(mrow.m AS DECIMAL(19,0)) * CAST(mrow.m AS DECIMAL(19,0)) AS DOUBLE)")} AS modularity
       |FROM mrow CROSS JOIN nn CROSS JOIN dc2""".stripMargin

  // ---------- 3aᶠ. q_cluster_purity: cross-language duplicate screen ----------

  /** Language purity of near-dup clusters: how many multi-document
    * clusters span a single language vs several — a multi-language
    * cluster is either boilerplate shared across translations (drop
    * everywhere) or an LSH false positive (tighten banding), and
    * either way it is the cluster a reviewer opens first.
    *
    * Shape: two bounded aggregates over the shared assignment kernel
    * (cluster grain, then langs-per-cluster histogram grain). All
    * integers.
    */
  def clusterPurity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    minhashAssignments(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("sz"), countDistinct(col("lang")).as("n_langs"))
      .filter(col("sz") > 1)
      .groupBy("n_langs")
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
      .orderBy("n_langs")
  }

  private val sqlClusterPurity =
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     clusters AS (SELECT bands.doc_id, min(reps.rep) AS cluster_id
       |                  FROM bands JOIN reps ON bands.band = reps.band
       |                  GROUP BY bands.doc_id),
       |     cl AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz,
       |                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       |            FROM clusters JOIN documents ON clusters.doc_id = documents.doc_id
       |            GROUP BY cluster_id)
       |SELECT n_langs, CAST(count(*) AS BIGINT) AS n_clusters,
       |       CAST(sum(sz) AS BIGINT) AS n_docs
       |FROM cl WHERE sz > 1
       |GROUP BY n_langs ORDER BY n_langs""".stripMargin

  // ---------- 3aᵍ. q_bcubed: B³ extrinsic clustering quality ----------

  /** B-cubed precision/recall/F1 of the MinHash-LSH clustering
    * against the exact-duplicate gold standard (Bagga & Baldwin 1998;
    * the metric Amigó et al. 2009 showed uniquely satisfies all four
    * clustering-eval constraints, which is why entity-resolution
    * evals report it over pair-F1): gold classes are the
    * normalized-text sha groups ([[docDedup]]'s key), system clusters
    * the [[minhashAssignments]] kernel. B³ precision for a doc = the
    * fraction of its system cluster sharing its gold class; recall
    * swaps the roles; both average over docs. Low B³ precision =
    * LSH over-merges (false near-dups); low recall = banding misses
    * true duplicates.
    *
    * Shape: everything reduces through the (cluster, gold) CONTINGENCY
    * table — Σ n_cg²/|c| and Σ n_cg²/|g| — so the cost is three
    * hash aggregates and two dim-grain joins, never a doc×doc pair
    * join (contingency grain ≤ min(clusters, golds)² but in practice
    * ≈ #docs). Each rational term collapses to round6 DECIMAL before
    * the cross-row sum; F1 composes the two unrounded quotients in
    * one literal order (identical IEEE ops both engines), rounded at
    * the edge.
    */
  def bcubed(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // Stage the (cluster, gold-hash) assignment ONCE, projected to
    // the two columns downstream reads: cluster sizes, gold sizes and
    // the contingency each consumed it — unstaged, every consumer
    // re-ran the MinHash assignment kernel AND the sha256 pass
    // (10 parquet scans in the before-plan).
    val joined = minhashAssignments(docs)
      .join(docs.select(col("doc_id"),
        sha2(normText(col("text")), 256).as("h")), "doc_id")
      .select(col("cluster_id"), col("h"))
      .localCheckpoint(true)
    val cs = joined.groupBy("cluster_id").agg(count(lit(1)).as("csz"))
    val gs = joined.groupBy("h").agg(count(lit(1)).as("gsz"))
    val cont = joined.groupBy("cluster_id", "h").agg(count(lit(1)).as("n"))
    val terms = cont.join(cs, "cluster_id").join(gs, "h")
      .select(col("n"),
        units((col("n") * col("n")).cast("double") / col("csz").cast("double"), 1e6).cast("decimal(28,0)").as("p6"),
        units((col("n") * col("n")).cast("double") / col("gsz").cast("double"), 1e6).cast("decimal(28,0)").as("r6"))
    val agg = terms.agg(sum(col("n")).as("n_docs"),
      sum(col("p6")).as("pd"), sum(col("r6")).as("rd"))
    val nCl = cs.agg(count(lit(1)).as("n_clusters"))
    val nGo = gs.agg(count(lit(1)).as("n_gold"))
    val p = col("pd").cast("double") / 1000000.0 / col("n_docs").cast("double")
    val r = col("rd").cast("double") / 1000000.0 / col("n_docs").cast("double")
    agg.crossJoin(broadcast(nCl)).crossJoin(broadcast(nGo))
      .select(col("n_docs"), col("n_clusters"), col("n_gold"),
        round4(p).as("b3_precision"),
        round4(r).as("b3_recall"),
        round4(lit(2.0) * p * r / (p + r)).as("b3_f1"))
  }

  private val sqlBcubed = {
    val p = "CAST(pd AS DOUBLE) / 1000000.0 / CAST(n_docs AS DOUBLE)"
    val r = "CAST(rd AS DOUBLE) / 1000000.0 / CAST(n_docs AS DOUBLE)"
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     clusters AS (SELECT bands.doc_id, min(reps.rep) AS cluster_id
       |                  FROM bands JOIN reps ON bands.band = reps.band
       |                  GROUP BY bands.doc_id),
       |     jn AS (SELECT clusters.doc_id, cluster_id,
       |                   sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
       |            FROM clusters JOIN documents ON clusters.doc_id = documents.doc_id),
       |     csz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csz FROM jn GROUP BY 1),
       |     gsz AS (SELECT h, CAST(count(*) AS BIGINT) AS gsz FROM jn GROUP BY 1),
       |     cont AS (SELECT cluster_id, h, CAST(count(*) AS BIGINT) AS n
       |              FROM jn GROUP BY 1, 2),
       |     terms AS (SELECT n,
       |                 CAST(${duckUnits("CAST(n * n AS DOUBLE) / CAST(csz.csz AS DOUBLE)", 1e6)}
       |                   AS DECIMAL(28,0)) AS p6,
       |                 CAST(${duckUnits("CAST(n * n AS DOUBLE) / CAST(gsz.gsz AS DOUBLE)", 1e6)}
       |                   AS DECIMAL(28,0)) AS r6
       |               FROM cont JOIN csz USING (cluster_id) JOIN gsz USING (h)),
       |     ag AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs, sum(p6) AS pd, sum(r6) AS rd
       |            FROM terms),
       |     nc AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters FROM csz),
       |     ng AS (SELECT CAST(count(*) AS BIGINT) AS n_gold FROM gsz)
       |SELECT n_docs, n_clusters, n_gold,
       |       ${duckRound4(p)} AS b3_precision,
       |       ${duckRound4(r)} AS b3_recall,
       |       ${duckRound4(s"2.0 * ($p) * ($r) / (($p) + ($r))")} AS b3_f1
       |FROM ag CROSS JOIN nc CROSS JOIN ng""".stripMargin
  }

  // ---------- 3aʰ. q_gram_curve: dedup sensitivity vs gram size ----------

  private val GramCurveNs = Seq(1, 2, 3, 5)

  /** Exact-dedup sensitivity curve over the word-gram size: for each
    * n ∈ {1,2,3,5}, how many documents share their DISTINCT n-gram
    * hash SET with another document (set-identity dedup). This is the
    * parameter-selection table for gram-based dedup — n=1 collapses
    * any reordering of the same vocabulary (aggressive), large n
    * approaches [[docDedup]]'s normalized-exact key (conservative) —
    * read next to [[lshCurve]]'s banding table when tuning the
    * pipeline: lshCurve picks the SKETCH config, this picks the GRAIN.
    *
    * Shape: tokenize once (staged — four gram branches re-read it),
    * per n one native [[graft.functions.TextHashes.ngramHashes]] pass
    * (codegen'd, byte-identical to the oracle's character walk on this
    * ASCII corpus), group by the sorted-distinct hash array —
    * doc-linear per level, group keys exact BIGINT arrays on both
    * engines. At 100 TB the group key would be one more hash of the
    * canonical array (the docDedup sha shape) instead of the array
    * itself; the census is unchanged.
    */
  def gramCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("doc_id"), col("ts"))
      .localCheckpoint(true)
    val branches = GramCurveNs.map { n =>
      staged
        .withColumn("sig", sort_array(array_distinct(
          graft.functions.TextHashes.ngramHashes(col("ts"), n))))
        .groupBy("sig").agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_docs"),
          sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("n_dup_docs"),
          sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_groups"))
        .select(lit(n.toLong).as("gram_n"), col("n_docs"), col("n_dup_docs"),
          col("n_dup_groups"),
          round4(col("n_dup_docs").cast("double") /
            col("n_docs").cast("double")).as("dup_rate"))
    }
    branches.reduce(_ unionByName _).orderBy("gram_n")
  }

  private val sqlGramCurve = {
    val blocks = GramCurveNs.map { n =>
      s"""SELECT CAST($n AS BIGINT) AS gram_n,
         |       CAST(sum(cnt) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |       CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
         |       ${duckRound4(
                   "CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)")} AS dup_rate
         |FROM (SELECT sig, count(*) AS cnt FROM (
         |        SELECT doc_id, list_sort(list_distinct(${duckNgramHashesOf(n)})) AS sig
         |        FROM t) s
         |      GROUP BY sig) g""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id, $duckTokens AS ts FROM documents)
       |${blocks.mkString("", "\nUNION ALL\n", "\nORDER BY gram_n")}""".stripMargin
  }

  // ---------- 3a¹ᵃ. q_lsh_curve: banding operating table ----------

  /** True-pair threshold for the curve: a candidate pair counts as a
    * real near-dup when its ROUNDED exact Jaccard clears this (the
    * round-before-compare rule — both engines compare identical
    * 4-decimal values).
    */
  private val LshCurveTau = 0.5

  /** LSH banding operating table — the MinHash twin of
    * `q_ivf_recall_curve`: for each banding of the SAME
    * [[NumHashes]]-slot signature (r rows × b bands, r ∈ 2/4/8),
    * how many candidate pairs the config produces and how many TRUE
    * near-dups (exact Jaccard ≥ [[LshCurveTau]]) it catches. This is
    * the table that picks r: small r = high recall + junk candidates,
    * large r = precise + misses — the S-curve knob (Leskovec/
    * Rajaraman/Ullman, Mining of Massive Datasets §3.4).
    *
    * Shape: the pair domain is the MOST permissive config's (r=2)
    * rep-member collisions — coarser configs' collisions are nested
    * inside it BY CONSTRUCTION (an aligned 4-row band match contains
    * two matching 2-row halves), so one domain scores every level and
    * the curve is monotone, like the recall-curve's nested candidate
    * sets. Each pair is scored ONCE (one exact Jaccard + 16 slot
    * compares); configs differ only in which slot-compare conjunction
    * fires — zero extra joins per level. Collapse-before-pairs holds:
    * rep-member edges, never member×member.
    */
  def lshCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = Tables.documents(spark, sfDir)
      // sorted for the merge-walk verify (set semantics only)
      .withColumn("shs",
        array_sort(graft.functions.TextHashes.shingleSet(col("text"), K)))
      .withColumn("sig",
        graft.functions.TextHashes.minHashSig(col("text"), K, NumHashes))
      .select(col("doc_id"), col("shs"), size(col("shs")).as("nsh"), col("sig"))
      // checkpoint, not just column-staging: THREE consumers (band
      // explode + both pair sides) each re-ran the shingle-set and
      // signature kernels unstaged (8 parquet scans in the
      // before-plan)
      .localCheckpoint(true)
    val bands2 = staged.select(col("doc_id"),
      explode(TextFns.lshBandPacked(col("sig"), 2, NumHashes / 2)).as("band"))
      // two consumers (reps, pairs) — staged (doc_id, band) int pairs,
      // the bandReps discipline
      .localCheckpoint(true)
    val reps = bands2.groupBy("band").agg(min(col("doc_id")).as("rep"))
    val pairs = bands2.join(reps, "band")
      .filter(col("rep") < col("doc_id"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b")).distinct()
    val a = staged.select(col("doc_id").as("doc_a"), col("shs").as("shs_a"),
      col("nsh").as("nsh_a"), col("sig").as("sig_a"))
    val b = staged.select(col("doc_id").as("doc_b"), col("shs").as("shs_b"),
      col("nsh").as("nsh_b"), col("sig").as("sig_b"))
    def collide(r: Int): Column =
      (0 until NumHashes / r).map { i =>
        (0 until r).map(j =>
          element_at(col("sig_a"), i * r + j + 1) ===
            element_at(col("sig_b"), i * r + j + 1)).reduce(_ && _)
      }.reduce(_ || _)
    val scored = pairs.join(a, "doc_a").join(b, "doc_b")
      .withColumn("inter",
        graft.functions.TextHashes.sortedIntersectCount(
          col("shs_a"), col("shs_b")).cast("double"))
      .withColumn("uni", (col("nsh_a") + col("nsh_b")).cast("double") - col("inter"))
      .withColumn("ex", when(col("uni") === 0, lit(1.0)).otherwise(col("inter") / col("uni")))
      .withColumn("is_true", round4(col("ex")) >= LshCurveTau)
      .select(col("is_true"),
        collide(2).as("c2"), collide(4).as("c4"), collide(8).as("c8"))
    def caught(c: String) = sum(when(col("is_true") && col(c), 1L).otherwise(0L))
    def cand(c: String) = sum(when(col(c), 1L).otherwise(0L))
    scored.agg(
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"),
        cand("c2").as("cand_2"), caught("c2").as("caught_2"),
        cand("c4").as("cand_4"), caught("c4").as("caught_4"),
        cand("c8").as("cand_8"), caught("c8").as("caught_8"))
      .select(col("n_true"), expr(
        """stack(3, 2L, 8L, cand_2, caught_2,
          |         4L, 4L, cand_4, caught_4,
          |         8L, 2L, cand_8, caught_8) AS (r, b, n_candidates, n_caught)"""
          .stripMargin))
      .withColumn("catch_rate",
        when(col("n_true") === 0, lit(null).cast("double"))
          .otherwise(round4(
            col("n_caught").cast("double") / col("n_true").cast("double"))))
      .select(col("r"), col("b"), col("n_candidates"), col("n_true"),
        col("n_caught"), col("catch_rate"))
      .orderBy("r")
  }

  private val sqlLshCurve = {
    def collideSql(r: Int): String =
      (0 until NumHashes / r).map { i =>
        (0 until r).map(j =>
          s"sa[${i * r + j + 1}] = sb[${i * r + j + 1}]").mkString("(", " AND ", ")")
      }.mkString("(", " OR ", ")")
    def bandKeys2: String =
      (0 until NumHashes / 2).map { b =>
        val parts = (0 until 2).map(j => s"sig[${b * 2 + j + 1}]")
        s"'$b:' || " + parts.map(x => s"CAST($x AS VARCHAR)").mkString(" || ',' || ")
      }.mkString("[", ", ", "]")
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, list_distinct(shs) AS dsh, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($bandKeys2) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     pairs AS (SELECT DISTINCT reps.rep AS doc_a, bands.doc_id AS doc_b
       |               FROM bands JOIN reps ON bands.band = reps.band
       |               WHERE reps.rep < bands.doc_id),
       |     m AS (SELECT ga.sig AS sa, gb.sig AS sb,
       |             CAST(len(list_filter(ga.dsh, x -> list_contains(gb.dsh, x))) AS DOUBLE) AS inter,
       |             CAST(len(ga.dsh) + len(gb.dsh) AS DOUBLE) AS tot
       |           FROM pairs JOIN g ga ON pairs.doc_a = ga.doc_id
       |                      JOIN g gb ON pairs.doc_b = gb.doc_id),
       |     f AS (SELECT ${duckRound4(
                    "CASE WHEN tot - inter = 0 THEN 1.0 ELSE inter / (tot - inter) END")}
       |               >= $LshCurveTau AS is_true,
       |             ${collideSql(2)} AS c2, ${collideSql(4)} AS c4,
       |             ${collideSql(8)} AS c8
       |           FROM m),
       |     agg AS (SELECT
       |             CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |             CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS cand_2,
       |             CAST(sum(CASE WHEN is_true AND c2 THEN 1 ELSE 0 END) AS BIGINT) AS caught_2,
       |             CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS cand_4,
       |             CAST(sum(CASE WHEN is_true AND c4 THEN 1 ELSE 0 END) AS BIGINT) AS caught_4,
       |             CAST(sum(CASE WHEN c8 THEN 1 ELSE 0 END) AS BIGINT) AS cand_8,
       |             CAST(sum(CASE WHEN is_true AND c8 THEN 1 ELSE 0 END) AS BIGINT) AS caught_8
       |           FROM f),
       |     lv AS (SELECT CAST(2 AS BIGINT) AS r, CAST(8 AS BIGINT) AS b,
       |                   cand_2 AS n_candidates, n_true, caught_2 AS n_caught FROM agg
       |            UNION ALL
       |            SELECT 4, 4, cand_4, n_true, caught_4 FROM agg
       |            UNION ALL
       |            SELECT 8, 2, cand_8, n_true, caught_8 FROM agg)
       |SELECT r, b, n_candidates, n_true, n_caught,
       |       CASE WHEN n_true = 0 THEN NULL
       |            ELSE ${duckRound4(
                      "CAST(n_caught AS DOUBLE) / CAST(n_true AS DOUBLE)")}
       |       END AS catch_rate
       |FROM lv ORDER BY r""".stripMargin
  }

  // ---------- 3a¹ᵇ. q_pagerank: centrality over the collision graph ----------

  private val PrScale = 1000000L
  private val PrIters = 3

  /** PageRank (3 fixed rounds, d = 0.85) over the LSH collision
    * graph — the same rep-member edge list [[minhashEst]] audits,
    * symmetrized. High-rank documents are the hubs of near-duplicate
    * neighborhoods: the ones whose removal (or canonical election)
    * collapses the most duplication — centrality as a curation
    * signal, one step past [[ccClusters]]' membership-only view.
    *
    * Determinism + scale live in [[graft.graph.PageRank]]: scaled
    * integer arithmetic (float message sums would be partition-order-
    * dependent and unverifiable), each round one src-keyed join + one
    * dst-keyed hash aggregate. The oracle unrolls the same three
    * integer rounds as CTEs.
    */
  def pagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = bandReps(Tables.documents(spark, sfDir))
      .filter(col("rep") < col("doc_id"))
      .select(col("rep").as("a"), col("doc_id").as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    graft.graph.PageRank.integerRanks(edges, PrIters, PrScale)
      .select(col("v").as("doc_id"), col("deg"), col("r").as("rank_ppm"))
      .orderBy("doc_id")
  }

  private val sqlPagerank = {
    def round(i: Int, prev: String): String =
      s"""c$i AS (SELECT dir.dst AS v,
         |          CAST(sum((85 * r) // (100 * deg)) AS BIGINT) AS contrib
         |        FROM dir JOIN $prev ON dir.src = $prev.v GROUP BY 1),
         |r$i AS (SELECT deg.v, deg.deg,
         |          CAST((15 * $PrScale) // (100 * n_nodes)
         |               + coalesce(contrib, 0) AS BIGINT) AS r
         |        FROM deg LEFT JOIN c$i ON deg.v = c$i.v CROSS JOIN nn)""".stripMargin
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     pairs AS (SELECT DISTINCT reps.rep AS a, bands.doc_id AS b
       |               FROM bands JOIN reps ON bands.band = reps.band
       |               WHERE reps.rep < bands.doc_id),
       |     dir AS (SELECT a AS src, b AS dst FROM pairs
       |             UNION ALL SELECT b, a FROM pairs),
       |     deg AS (SELECT src AS v, count(*) AS deg FROM dir GROUP BY 1),
       |     nn AS (SELECT count(*) AS n_nodes FROM deg),
       |     r0 AS (SELECT v, deg, CAST($PrScale // n_nodes AS BIGINT) AS r
       |            FROM deg CROSS JOIN nn),
       |     ${(1 to PrIters).map(i => round(i, s"r${i - 1}")).mkString(",\n")}
       |SELECT v AS doc_id, deg, r AS rank_ppm FROM r$PrIters ORDER BY doc_id""".stripMargin
  }

  // ---------- 3a¹ᵈ. q_hits: hubs/authorities over the collision graph ----------

  private val HitsScale = 1000000L
  private val HitsRounds = 2

  /** Shared oracle prefix for the collision-graph analytics: the
    * distinct rep<member pair list every graph query iterates
    * ([[pagerank]]'s `pairs` CTE, factored).
    */
  private def duckPairsPrefix =
    s"""c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     pairs AS (SELECT DISTINCT reps.rep AS a, bands.doc_id AS b
       |               FROM bands JOIN reps ON bands.band = reps.band
       |               WHERE reps.rep < bands.doc_id)""".stripMargin

  /** HITS over the DIRECTED rep→member collision graph
    * ([[graft.graph.Hits]]): hubs are bucket representatives
    * anchoring many duplicate neighborhoods, authorities are
    * documents many representatives claim — the two dedup roles
    * [[pagerank]]'s symmetric walk blends. Determinism + the
    * per-half-step join/aggregate scale shape live in the kernel
    * (scaled integers, L1 renormalization, checkpoint/free rounds);
    * the oracle unrolls the same [[HitsRounds]] integer rounds as
    * CTEs.
    */
  def hitsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = bandReps(Tables.documents(spark, sfDir))
      .filter(col("rep") < col("doc_id"))
      .select(col("rep").as("src"), col("doc_id").as("dst"))
      .distinct()
    graft.graph.Hits.integerHits(edges, HitsRounds, HitsScale)
      .select(col("v").as("doc_id"), col("h").as("hub_ppm"), col("a").as("auth_ppm"))
      .orderBy("doc_id")
  }

  private val sqlHits = {
    def round(i: Int, prevHub: String): String =
      s"""ar$i AS (SELECT p.b AS v, CAST(sum(ph.h) AS BIGINT) AS raw
         |         FROM pairs p JOIN $prevHub ph ON ph.v = p.a GROUP BY 1),
         |at$i AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM ar$i),
         |aa$i AS (SELECT n.v, CAST((coalesce(raw, 0) * $HitsScale) // tot AS BIGINT) AS a
         |         FROM nodes n LEFT JOIN ar$i ON n.v = ar$i.v CROSS JOIN at$i),
         |hr$i AS (SELECT p.a AS v, CAST(sum(pa.a) AS BIGINT) AS raw
         |         FROM pairs p JOIN aa$i pa ON pa.v = p.b GROUP BY 1),
         |ht$i AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM hr$i),
         |hh$i AS (SELECT n.v, CAST((coalesce(raw, 0) * $HitsScale) // tot AS BIGINT) AS h
         |         FROM nodes n LEFT JOIN hr$i ON n.v = hr$i.v CROSS JOIN ht$i)""".stripMargin
    s"""WITH $duckPairsPrefix,
       |     nodes AS (SELECT a AS v FROM pairs UNION SELECT b FROM pairs),
       |     hh0 AS (SELECT v, CAST($HitsScale AS BIGINT) AS h FROM nodes),
       |     ${(1 to HitsRounds).map(i => round(i, s"hh${i - 1}")).mkString(",\n")}
       |SELECT n.v AS doc_id, hh$HitsRounds.h AS hub_ppm, aa$HitsRounds.a AS auth_ppm
       |FROM nodes n JOIN hh$HitsRounds ON n.v = hh$HitsRounds.v
       |             JOIN aa$HitsRounds ON n.v = aa$HitsRounds.v
       |ORDER BY doc_id""".stripMargin
  }

  // ---------- 3a¹ᵉ. q_degree_mix: degree stats + assortativity ----------

  /** One-row structural audit of the collision graph: node/edge
    * counts, max/avg degree, and the degree assortativity (Pearson r
    * of endpoint degrees over all ORDERED edges — Newman 2002's
    * simplified degree-correlation form). Strongly negative r is the
    * signature of star-shaped duplicate neighborhoods (hub reps
    * linked to leaf members); r drifting toward 0 warns that near-dup
    * clusters are becoming cliquish and rep-contraction savings are
    * shrinking.
    *
    * Shape: degree is one hash aggregate over the symmetrized edges;
    * endpoint degrees join back by key (fact-proportional equi-
    * joins); all Pearson sums are exact integers (products summed AS
    * DECIMAL(38,0)), converted to double ONCE and combined in the
    * identical expression tree on both engines — sqrt-free via the
    * symmetric form (Σx = Σy over ordered edges, so r =
    * (m·Σxy − Σx²)/(m·Σx² − (Σx)²): no transcendental at all).
    */
  def degreeMix(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = bandReps(Tables.documents(spark, sfDir))
      .filter(col("rep") < col("doc_id"))
      .select(col("rep").as("a"), col("doc_id").as("b"))
      .distinct()
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val joined = sym.join(deg, "src")
      .withColumnRenamed("deg", "x")
      .join(deg.select(col("src").as("dst"), col("deg").as("y")), "dst")
    val sums = joined.agg(
      count(lit(1)).as("m"),
      sum(col("x")).as("sx"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
      sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"), max(col("deg")).as("max_deg"))
    val edgeCount = pairs.agg(count(lit(1)).as("n_edges"))
    sums.crossJoin(broadcast(degStats)).crossJoin(broadcast(edgeCount))
      .withColumn("num",
        col("m").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
      .withColumn("den",
        col("m").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
      .select(col("n_nodes"), col("n_edges"), col("max_deg"),
        round4(lit(2.0) * col("n_edges").cast("double")
          / col("n_nodes").cast("double")).as("avg_deg"),
        round4(when(col("den") === 0.0, lit(null))
          .otherwise(col("num") / col("den"))).as("assortativity"))
  }

  private val sqlDegreeMix =
    s"""WITH $duckPairsPrefix,
       |     dir AS (SELECT a AS src, b AS dst FROM pairs
       |             UNION ALL SELECT b, a FROM pairs),
       |     deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg
       |             FROM dir GROUP BY 1),
       |     j AS (SELECT da.deg AS x, db.deg AS y
       |           FROM dir JOIN deg da ON dir.src = da.v
       |                    JOIN deg db ON dir.dst = db.v),
       |     su AS (SELECT CAST(count(*) AS BIGINT) AS m,
       |                   CAST(sum(x) AS BIGINT) AS sx,
       |                   sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
       |                   sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
       |            FROM j),
       |     ds AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |                   max(deg) AS max_deg FROM deg),
       |     ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs),
       |     z AS (SELECT *,
       |             CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
       |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS num,
       |             CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
       |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den
       |           FROM su CROSS JOIN ds CROSS JOIN ec)
       |SELECT n_nodes, n_edges, max_deg,
       |       ${duckRound4(
                 "2.0 * CAST(n_edges AS DOUBLE) / CAST(n_nodes AS DOUBLE)")} AS avg_deg,
       |       ${duckRound4(
                 "CASE WHEN den = 0.0 THEN NULL ELSE num / den END")} AS assortativity
       |FROM z""".stripMargin

  // ---------- 3a¹ᶠ. q_cc_refresh: incremental component maintenance ----------

  /** "Newly ingested" batch selector: docs with doc_id ≡ 7 (mod 10)
    * — the [[deltaDedup]] convention of carving a deterministic batch
    * out of the testdata so the incremental path is exercised against
    * a from-scratch oracle.
    */
  private val CcBatchResidue = 7

  /** Incremental connected-components maintenance: given the persisted
    * component labeling of the PRE-BATCH graph (edges touching no
    * batch doc), fold in the batch's new edges by CONTRACTION — map
    * each new edge's endpoints through the old labeling, run the
    * fixpoint on that contracted delta graph (work ∝ new edges +
    * affected components, the archive graph is never re-iterated),
    * and compose: node → old label → delta label. Labels are
    * preserved exactly (old labels are component minima; min over
    * contracted ids = global min), so the refreshed clustering must
    * EQUAL a from-scratch closure over all edges — which is what the
    * oracle computes (the [[etl.AggMaintain]] / [[deltaDedup]]
    * incremental-≡-batch contract, graph edition). Demo recomputes
    * the base labeling; a deployment reads it from the snapshot store
    * exactly like [[deltaDedup]]'s band index. The base labeling (and
    * [[ccForget]]'s touched-subgraph re-run) runs
    * [[ConnectedComponents.runContracted]] over min-oriented band edges
    * — the star contraction [[docComponentsWithCollisions]] applies to
    * the full band graph, so the fixpoint iterates at rep grain, not
    * doc grain, which is what the 10×/30× legs pay for.
    */
  def ccRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val p = bandReps(Tables.documents(spark, sfDir))
      .filter(col("rep") < col("doc_id"))
      .select(col("rep").as("a"), col("doc_id").as("b"))
      .distinct()
      .localCheckpoint(true)
    def isNew(c: Column): Column = pmod(c, lit(10)) === CcBatchResidue
    val oldE = p.filter(!isNew(col("a")) && !isNew(col("b")))
    val newE = p.filter(isNew(col("a")) || isNew(col("b")))
    val base = ConnectedComponents.runContracted(oldE, "a", "b")
    val contracted = newE
      .join(base.select(col("node").as("a"), col("component").as("compA")),
        Seq("a"), "left")
      .join(base.select(col("node").as("b"), col("component").as("compB")),
        Seq("b"), "left")
      .select(coalesce(col("compA"), col("a")).as("u"),
        coalesce(col("compB"), col("b")).as("w"))
      .filter(col("u") =!= col("w"))
    val deltaSym = contracted.select(col("u").as("src"), col("w").as("dst"))
      .unionByName(contracted.select(col("w").as("src"), col("u").as("dst")))
      .distinct()
    val delta = ConnectedComponents.run(deltaSym)
    val nodes = p.select(col("a").as("node"))
      .unionByName(p.select(col("b").as("node"))).distinct()
    val lbl = nodes.join(base, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("mid"))
      .join(delta.select(col("node").as("mid"), col("component").as("fin")),
        Seq("mid"), "left")
      .select(col("node"), coalesce(col("fin"), col("mid")).as("component"))
    val out = lbl.groupBy("component").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy("component")
    // same block hygiene as docComponents: pin the tiny result, then
    // free the collision set and both fixpoints' label blocks
    val res = out.localCheckpoint(true)
    Stage.free(p, base, delta)
    res
  }

  /** From-scratch closure over ALL edges — incremental ≡ batch. */
  private val sqlCcRefresh =
    s"""$duckCcComp
       |SELECT component, count(*) AS n_docs
       |FROM comp GROUP BY component HAVING count(*) > 1
       |ORDER BY component""".stripMargin

  // ---------- 3a¹ᶠ². q_cc_forget: DECREMENTAL component maintenance ----------

  /** Erasure set for the decremental demo: doc_id ≡ 4 (mod 11) — the
    * deterministic right-to-erasure batch (the `q_forget_plan`
    * governance event applied to the dedup GRAPH).
    */
  private val ForgetResidue = 4

  /** Decremental connected-components maintenance — [[ccRefresh]]'s
    * missing direction: a right-to-erasure deletion REMOVES nodes from
    * the near-dup graph, and deletions (unlike insertions) can SPLIT
    * components, so contraction doesn't apply. The scalable shape:
    * from the persisted base labeling, find the components that
    * CONTAIN an erased doc (the touched set — bounded by the erasure,
    * not the corpus), keep every untouched component's labels verbatim
    * (deleting a node can only affect its own component — edges never
    * cross components), and re-run the fixpoint ONLY on the touched
    * components' surviving edges. Work ∝ touched subgraph; the archive
    * graph is never re-iterated. Labels are component-min ids on both
    * paths, so the refreshed clustering must EQUAL a from-scratch
    * closure over the reduced graph — which is what the oracle
    * computes (the incremental-≡-batch contract, deletion edition).
    * Demo recomputes the base labeling; a deployment reads it from
    * the snapshot store.
    */
  def ccForget(spark: SparkSession, sfDir: String): DataFrame = {
    val p = bandReps(Tables.documents(spark, sfDir))
      .filter(col("rep") < col("doc_id"))
      .select(col("rep").as("a"), col("doc_id").as("b"))
      .distinct()
      .localCheckpoint(true)
    def erased(c: Column): Column = pmod(c, lit(11)) === ForgetResidue
    val base = ConnectedComponents.runContracted(p, "a", "b")
    val touched = base.filter(erased(col("node")))
      .select(col("component").as("tc")).distinct()
    val kept = p.filter(!erased(col("a")) && !erased(col("b")))
      .join(base.select(col("node").as("a"), col("component").as("cA")), Seq("a"))
    // no broadcast hint: `touched` scales with the erasure volume
    // (fixture erases 1/11 of the corpus), so it is fact-proportional
    // in the worst case — semi/anti joins on the component key let AQE
    // broadcast only when the runtime size genuinely fits
    val affected = kept.join(touched, col("cA") === col("tc"), "left_semi")
      .select("a", "b")
    val untouched = kept.join(touched, col("cA") === col("tc"),
        "left_anti")
    // affected is an (a, b) subset of p — still min-oriented, so the
    // same contraction applies to the touched-subgraph re-run
    val aff = ConnectedComponents.runContracted(affected, "a", "b")
    val untouchedLbl = untouched.select(col("a").as("node"))
      .unionByName(untouched.select(col("b").as("node"))).distinct()
      .join(base, Seq("node"))
      .select(col("node"), col("component"))
    val out = untouchedLbl.unionByName(aff)
      .groupBy("component").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy("component")
    val res = out.localCheckpoint(true)
    Stage.free(p, base, aff)
    res
  }

  /** From-scratch closure over the REDUCED (post-erasure) graph —
    * decremental ≡ batch.
    */
  private val sqlCcForget =
    s"""WITH RECURSIVE
       |     c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     e0 AS (SELECT DISTINCT reps.rep AS a, bands.doc_id AS b
       |            FROM bands JOIN reps ON bands.band = reps.band
       |            WHERE bands.doc_id <> reps.rep
       |              AND reps.rep % 11 <> $ForgetResidue
       |              AND bands.doc_id % 11 <> $ForgetResidue),
       |     edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
       |     reach AS (
       |       SELECT DISTINCT a AS node, a AS lbl FROM edges
       |       UNION
       |       SELECT e.a AS node, r.lbl FROM edges e JOIN reach r ON r.node = e.b),
       |     comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
       |SELECT component, count(*) AS n_docs
       |FROM comp GROUP BY component HAVING count(*) > 1
       |ORDER BY component""".stripMargin

  // ---------- 3a¹ᵍ. q_kcore: bounded k-core peeling rounds ----------

  private val KcoreK = 3
  private val KcoreRounds = 3

  /** [[KcoreRounds]] rounds of k-core peeling (k = [[KcoreK]],
    * Seidman 1983): repeatedly drop nodes with degree < k and report
    * per-round attrition — the densest-substructure screen that
    * separates genuinely cliquish duplicate families (which survive
    * peeling) from the star-shaped rep-and-leaves neighborhoods
    * (which evaporate in round 1, their hub's degree collapsing with
    * its leaves). Round count is FIXED (the query contract, like
    * [[pagerank]]'s iterations); convergence-to-fixpoint is the
    * driver-paced deployment loop, same shape.
    *
    * Shape: each round is one degree aggregate + two key-partitioned
    * semi-joins on the surviving node set, lineage truncated per
    * round (checkpoint/free). Per-round driver actions are fused to
    * two bounded collects: the degree frame is LAZY-checkpointed and
    * both node scalars come out of ONE single-row aggregate over it
    * (which doubles as its materialization — the CC fixpoint's fused-
    * probe shape), so the old second degree aggregate for `nCur` and
    * the separate keep-set checkpoint/count jobs are gone; `keep`
    * reads the materialized degree blocks lazily. The oracle unrolls
    * identical rounds as CTEs.
    */
  def kcore(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = bandReps(Tables.documents(spark, sfDir))
      .filter(col("rep") < col("doc_id"))
      .select(col("rep").as("a"), col("doc_id").as("b"))
      .distinct()
    var e = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val rows = scala.collection.mutable.ListBuffer.empty[(Int, Long, Long, Long)]
    for (r <- 1 to KcoreRounds) {
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint(false)
      // one job: materializes the degree blocks AND collects both
      // scalars (the global aggregate scans every partition)
      val cnt = deg.agg(count(lit(1)).as("n"),
        count(when(col("deg") >= KcoreK, 1)).as("k")).head()
      val (nCur, nKeep) = (cnt.getLong(0), cnt.getLong(1))
      val keep = deg.filter(col("deg") >= KcoreK).select(col("src").as("v"))
      val e2 = e.join(keep.select(col("v").as("src")), "src")
        .join(keep.select(col("v").as("dst")), "dst")
        .select(col("src"), col("dst"))
        .localCheckpoint(false)
      val nE = e2.count() / 2
      Stage.free(e, deg)
      e = e2
      rows += ((r, nCur - nKeep, nKeep, nE))
    }
    Stage.free(e)
    import spark.implicits._
    rows.toSeq.toDF("round", "n_removed", "n_nodes", "n_edges")
      .orderBy("round")
  }

  private val sqlKcore = {
    def round(i: Int, prevE: String): String =
      s"""d$i AS (SELECT src AS v, count(*) AS deg FROM $prevE GROUP BY 1),
         |k$i AS (SELECT v FROM d$i WHERE deg >= $KcoreK),
         |e$i AS (SELECT p.src, p.dst FROM $prevE p
         |        JOIN k$i ka ON p.src = ka.v JOIN k$i kb ON p.dst = kb.v),
         |r$i AS (SELECT $i AS round,
         |          (SELECT count(*) FROM d$i) - (SELECT count(*) FROM k$i) AS n_removed,
         |          (SELECT count(*) FROM k$i) AS n_nodes,
         |          (SELECT count(*) FROM e$i) // 2 AS n_edges)""".stripMargin
    s"""WITH $duckPairsPrefix,
       |     e0 AS (SELECT a AS src, b AS dst FROM pairs
       |            UNION ALL SELECT b, a FROM pairs),
       |     ${(1 to KcoreRounds).map(i => round(i, s"e${i - 1}")).mkString(",\n")}
       |SELECT CAST(round AS INT) AS round, CAST(n_removed AS BIGINT) AS n_removed,
       |       CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges
       |FROM (${(1 to KcoreRounds).map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")})
       |ORDER BY round""".stripMargin
  }

  // ---------- 3a¹ᵇ'. q_bfs_khop: k-hop BFS reach profile ----------

  private val BfsSeeds = 3
  private val BfsDepth = 3

  /** Per-seed breadth-first reach profile over the undirected LSH
    * collision graph: from each of the [[BfsSeeds]] smallest graph
    * nodes, how many documents sit at shortest-path distance 1, 2,
    * and 3 — the duplicate-neighborhood-radius question ("if I drop
    * this doc, how far does its near-dup influence extend?") and the
    * standard k-hop primitive under graph feature extraction.
    *
    * Shape: driver-paced frontier expansion, one equi-join + anti-
    * join per depth (work ∝ frontier-adjacent edges, never the whole
    * graph); every round's frontier and the accumulated visited set
    * are localCheckpoint-ed and superseded blocks freed with
    * [[graft.Stage.free]], per the iterative-kernel rule. Seed
    * selection is a TakeOrdered over the distinct node set (bounded
    * output, no global sort materialization). The oracle unrolls the same [[BfsDepth]]
    * levels as CTEs with EXCEPT-based visited masking.
    *
    * All-integer outputs; no float parity surface at all.
    */
  def bfsKhop(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = bandReps(Tables.documents(spark, sfDir))
      .filter(col("rep") < col("doc_id"))
      .select(col("rep").as("a"), col("doc_id").as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val seeds = edges.select(col("src").as("v")).distinct()
      .orderBy("v").limit(BfsSeeds)
    var visited = seeds.select(col("v").as("seed"), col("v"), lit(0).as("dist"))
      .localCheckpoint(true)
    var frontier = visited
    for (d <- 1 to BfsDepth) {
      // frontier LAZY: vis2's eager checkpoint below is a narrow union
      // over (visited ∪ next) that scans every `next` partition, so it
      // doubles as next's materialization — one fused job per depth
      // instead of two (the CC fixpoint's fused-probe discipline)
      val next = frontier.join(edges, frontier("v") === edges("src"))
        .select(col("seed"), col("dst").as("v")).distinct()
        .join(visited.select(col("seed"), col("v")), Seq("seed", "v"), "left_anti")
        .withColumn("dist", lit(d))
        .localCheckpoint(false)
      val vis2 = visited.unionByName(next).localCheckpoint(true)
      Stage.free(visited, frontier)
      visited = vis2
      frontier = next
    }
    val out = visited.groupBy("seed", "dist")
      .agg(count(lit(1)).as("n_nodes"))
      .filter(col("dist") > 0)
      .orderBy("seed", "dist")
      .localCheckpoint(true)
    Stage.free(visited, frontier, edges)
    out
  }

  private val sqlBfsKhop = {
    def level(i: Int): String =
      s"""f$i AS (SELECT DISTINCT f.seed, e.dst AS v
         |        FROM f${i - 1} f JOIN e0 e ON f.v = e.src
         |        WHERE NOT EXISTS (SELECT 1 FROM vis${i - 1} x
         |                          WHERE x.seed = f.seed AND x.v = e.dst)),
         |vis$i AS (SELECT seed, v FROM vis${i - 1}
         |          UNION ALL SELECT seed, v FROM f$i)""".stripMargin
    s"""WITH $duckPairsPrefix,
       |     e0 AS (SELECT a AS src, b AS dst FROM pairs
       |            UNION ALL SELECT b, a FROM pairs),
       |     sd AS (SELECT DISTINCT src AS v FROM e0 ORDER BY v LIMIT $BfsSeeds),
       |     f0 AS (SELECT v AS seed, v FROM sd),
       |     vis0 AS (SELECT seed, v FROM f0),
       |     ${(1 to BfsDepth).map(level).mkString(",\n")}
       |SELECT seed, dist, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM (${(1 to BfsDepth)
                .map(i => s"SELECT seed, $i AS dist, v FROM f$i")
                .mkString(" UNION ALL ")}) lv
       |GROUP BY seed, dist ORDER BY seed, dist""".stripMargin
  }

  // ---------- 3a¹ᶜ. q_label_prop: one label-propagation round ----------

  /** One synchronous label-propagation round (Raghavan et al., 2007)
    * over the LSH collision graph: every graph node takes the
    * MAJORITY language label of its neighbors (count DESC, then
    * smallest label — a total order, so both engines elect the same
    * winner), and the output is the orig-lang × new-label confusion
    * table. Near-duplicate neighborhoods are overwhelmingly
    * monolingual, so disagreement rows are exactly the
    * cross-language near-dup bridges — the label-noise signal a
    * curation pipeline reviews before trusting per-language quotas
    * ([[CorpusOps.temperatureMix]] consumes those lang counts).
    * Further rounds are driver-paced exactly like
    * [[graft.graph.PageRank]]'s (checkpoint-tracked); one round is
    * already the audit.
    *
    * Shape: the edge list is the linear rep-member band graph (never
    * within-bucket quadratic), the vote is one (node, label) hash
    * aggregate, and the winner election is a row_number window
    * partitioned BY NODE (per-partition width = distinct neighbor
    * labels ≤ 5 here, label-cardinality bounded). The confusion
    * rollup is a (lang, label) aggregate over lang²-bounded keys.
    */
  def labelProp(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val pairs = bandReps(docs)
      .filter(col("rep") < col("doc_id"))
      .select(col("rep").as("a"), col("doc_id").as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val langs = docs.select(col("doc_id"), col("lang"))
    val votes = edges
      .join(langs.select(col("doc_id").as("dst"), col("lang").as("nb_lang")), "dst")
      .groupBy("src", "nb_lang")
      .agg(count(lit(1)).as("n_votes"))
    // winning vote as min(struct(−n_votes, nb_lang)) — unique sort
    // key per src, so it is exactly the old row_number()=1 row; the
    // aggregate combines partials on the votes grain map-side instead
    // of shuffling the whole vote table under a window sort.
    val newLabels = votes
      .groupBy(col("src"))
      .agg(min(struct((-col("n_votes")).as("k1"), col("nb_lang").as("k2"))).as("w"))
      .select(col("src").as("doc_id"), col("w.k2").as("new_label"))
    newLabels
      .join(langs, "doc_id")
      .groupBy("lang", "new_label")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "new_label")
  }

  private val sqlLabelProp =
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     pairs AS (SELECT DISTINCT reps.rep AS a, bands.doc_id AS b
       |               FROM bands JOIN reps ON bands.band = reps.band
       |               WHERE reps.rep < bands.doc_id),
       |     dir AS (SELECT a AS src, b AS dst FROM pairs
       |             UNION ALL SELECT b, a FROM pairs),
       |     votes AS (SELECT dir.src, d.lang AS nb_lang, count(*) AS n_votes
       |               FROM dir JOIN documents d ON dir.dst = d.doc_id
       |               GROUP BY 1, 2),
       |     win AS (SELECT src AS doc_id, nb_lang AS new_label FROM (
       |               SELECT *, row_number() OVER (PARTITION BY src
       |                 ORDER BY n_votes DESC, nb_lang) AS rk FROM votes)
       |             WHERE rk = 1)
       |SELECT d.lang, w.new_label, count(*) AS n_docs
       |FROM win w JOIN documents d ON w.doc_id = d.doc_id
       |GROUP BY 1, 2 ORDER BY lang, new_label""".stripMargin

  // ---------- 3a². q_delta_dedup: incremental dedup vs a corpus index ----------

  /** The persistable (band, idx_doc) LSH band index of a corpus — the
    * table an incremental-dedup deployment writes once per ingest and
    * APPENDS each accepted batch's rows to (key-partitioned on band).
    */
  def bandIndex(docs: DataFrame): DataFrame =
    minhashBands(docs).select(col("band"), col("doc_id").as("idx_doc"))

  /** Screen an incoming batch against a (band, idx_doc) index: for
    * each new doc, how many distinct indexed docs it LSH-collides
    * with and the smallest such (its dedup representative). Work is
    * a band-key join + per-doc aggregate — proportional to the batch
    * when `index` is a persisted table.
    */
  def screenAgainstIndex(incoming: DataFrame, index: DataFrame): DataFrame =
    minhashBands(incoming).join(index, "band")
      .groupBy("doc_id")
      .agg(countDistinct(col("idx_doc")).as("n_index_collisions"),
        min(col("idx_doc")).as("dedup_rep"))
      .orderBy("doc_id")

  /** Incremental (delta) near-dedup: screen an INCOMING batch against
    * the band index of an already-ingested corpus, without touching
    * corpus text. Here even doc_ids stand in for the indexed corpus
    * and odd doc_ids for the incoming batch.
    *
    * Scale: the SHAPE is the realistic 100 TB one — the incoming
    * batch (small) joins the corpus's band index on the band key, so
    * with a PERSISTED index ([[bandIndex]] written to parquet, as
    * `DeltaDedupSpec` exercises) work is proportional to the batch,
    * not the archive. This self-contained DEMO recomputes the index
    * from the even-doc_id half on each run — only the
    * persisted-index deployment has the batch-proportional property.
    */
  def deltaDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // Collapse BOTH sides to DISTINCT text before signing/screening
    // (CLAUDE.md collapse-before-pairwise, ingest edition): verbatim
    // re-submissions — the dominant duplicate class in a real ingest
    // — hash, band, and join ONCE per distinct text. Identical text ⇒
    // identical band SET, so a new doc collides with one member of an
    // index text-group iff it collides with all of them: the screen
    // joins at group grain and recovers the member-grain answer
    // exactly — n_index_collisions = Σ group size over colliding
    // groups (≡ countDistinct over members: distinct texts have
    // disjoint id sets), dedup_rep = min of group minima. The
    // round-17 30× flag (ratio 84) was the UNcollapsed index side:
    // the upscaler's verbatim copies multiplied every band bucket's
    // index occupancy, making the band join's fan quadratic in copy
    // multiplicity.
    val idxGrp = docs.filter(col("doc_id") % 2 === 0)
      .groupBy("text")
      .agg(count(lit(1)).as("idx_cnt"), min(col("doc_id")).as("idx_min"))
    val idxBands = minhashBands(
        idxGrp.select(col("idx_min").as("doc_id"), col("text")))
      .select(col("band"), col("doc_id").as("grp_min"))
    val grpStats = idxGrp.select(col("idx_min").as("grp_min"), col("idx_cnt"))
    val dist = docs.filter(col("doc_id") % 2 === 1)
      .groupBy("text").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .withColumn("doc_id", element_at(col("ids"), 1))
    val screened = minhashBands(dist.select("doc_id", "text"))
      .join(idxBands, "band")
      // a doc can collide with a group via several bands — distinct
      // (doc, group) BEFORE summing multiplicities, like countDistinct
      .select(col("doc_id"), col("grp_min")).distinct()
      .join(grpStats, "grp_min")
      .groupBy("doc_id")
      .agg(sum(col("idx_cnt")).cast("long").as("n_index_collisions"),
        min(col("grp_min")).as("dedup_rep"))
      .withColumnRenamed("doc_id", "rep_id")
    dist.select(col("doc_id").as("rep_id"), explode(col("ids")).as("doc_id"))
      .join(screened, Seq("rep_id"))
      .select(col("doc_id"), col("n_index_collisions"), col("dedup_rep"))
      .orderBy("doc_id")
  }

  private val sqlDeltaDedup =
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     idx AS (SELECT band, doc_id AS idx_doc FROM bands WHERE doc_id % 2 = 0),
       |     nw AS (SELECT doc_id, band FROM bands WHERE doc_id % 2 = 1)
       |SELECT nw.doc_id,
       |       CAST(count(DISTINCT idx.idx_doc) AS BIGINT) AS n_index_collisions,
       |       min(idx.idx_doc) AS dedup_rep
       |FROM nw JOIN idx ON nw.band = idx.band
       |GROUP BY nw.doc_id ORDER BY doc_id""".stripMargin

  // ---------- 3b. q_cc_clusters: transitive-closure near-dup clusters ----------

  /** (doc_id, component) — transitive cluster id per document, the
    * closure input shared by [[ccClusters]] and [[canonicalDocs]].
    *
    * The fixpoint runs on the CONTRACTED rep–rep graph, not the
    * bipartite doc↔rep star graph: each doc links the reps of all its
    * buckets (edges from its min rep to each other rep), CC labels
    * the reps, and docs attach through their min rep afterward. Two
    * wins at scale — the iterated dataset shrinks from O(docs×bands)
    * edges to bucket-overlap pairs, and every doc–rep–doc hop becomes
    * one rep–rep edge, halving the graph diameter and therefore the
    * round count of the fixpoint loop (measured 8.5 s → 7.1 s for
    * the two closure queries at sf0.1, where per-round job overhead
    * dominates; the data-volume win is the part that scales).
    *
    * Labeling is preserved exactly: a cluster's global-min doc is
    * always a bucket representative (it is the min of any bucket that
    * contains it), so min-label over reps = min doc_id of the
    * cluster, identical to running CC on the full star graph. Docs
    * whose buckets contain no other doc stay singletons (left join +
    * coalesce to their own rep).
    */
  /** [[docComponents]] plus the CHECKPOINTED collision set it was
    * built from — for consumers that need both the labeling and the
    * collision edges ([[splitLeakage]]) without paying the minhash
    * signature scan twice. The returned collision set stays resident
    * (the caller frees it with [[graft.Stage.free]]); callers that
    * don't consume it use [[docComponents]], which frees it
    * immediately.
    */
  private[text] def docComponentsWithCollisions(
      docs: DataFrame): (DataFrame, DataFrame) = {
    // materialize the collision stage once: it feeds THREE consumers
    // (docMin, repEdges, and the final attach join), and without the
    // checkpoint each re-evaluates the full minhash signature scan —
    // the single most expensive expression in the pipeline. The
    // materialized set is (doc_id, rep) pairs, tiny next to the text.
    val br = bandReps(docs).select("doc_id", "rep").distinct().localCheckpoint(true)
    val docMin = br.groupBy("doc_id").agg(min(col("rep")).as("rep0"))
    val repEdges = br.join(docMin, "doc_id")
      .filter(col("rep") =!= col("rep0"))
      .select(col("rep0").as("src"), col("rep").as("dst"))
      .distinct()
    val repComp = ConnectedComponents.run(repEdges)
    val out = docMin.join(repComp.withColumnRenamed("node", "rep0"),
        Seq("rep0"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("rep0")).as("component"))
    // materialize the tiny (doc_id, component) labeling eagerly so the
    // per-round label blocks can be freed NOW — localCheckpoint blocks
    // are unreachable by Dataset.unpersist, and without this every
    // invocation (Bench runs each closure query twice per session)
    // parks a persisted RDD until ContextCleaner GC.
    val res = out.localCheckpoint(true)
    Stage.free(repComp)
    (res, br)
  }

  private[text] def docComponents(docs: DataFrame): DataFrame = {
    val (res, br) = docComponentsWithCollisions(docs)
    // collision set not consumed here — free it NOW
    Stage.free(br)
    res
  }

  /** Full connected-components closure over the MinHash band-collision
    * graph ([[graft.graph.ConnectedComponents]]): docs A and C land in
    * one cluster whenever a chain of band collisions links them, even
    * if no single band holds both. [[minhashCluster]] is the one-hop
    * approximation (each doc takes the smallest representative it
    * directly collides with); this is the fixpoint a dedup pipeline
    * canonicalizes on.
    *
    * The oracle replays the closure as a recursive CTE (min label
    * reachable over the symmetric doc↔rep edge set — connectivity is
    * identical on the contracted graph the engine iterates) —
    * exponential-path-free because the recursive UNION deduplicates
    * (node, lbl) states.
    */
  def ccClusters(spark: SparkSession, sfDir: String): DataFrame =
    docComponents(Tables.documents(spark, sfDir))
      .groupBy("component").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy("component")

  /** Shared oracle prefix: recursive-CTE closure ending in
    * `comp(node, component)` — every endpoint of the collision graph
    * labeled with its min reachable doc_id.
    */
  // a DEF, not a val: referenced by sql* vals declared both before and
  // after this point (q_cc_refresh / q_cc_clusters / q_leakage_split),
  // and object vals initialize in declaration order — an earlier val
  // reading a later val sees null (the RecallProbeStep lesson).
  private def duckCcComp =
    s"""WITH RECURSIVE
       |     c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     s AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s),
       |     bands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     reps AS (SELECT band, min(doc_id) AS rep FROM bands GROUP BY band),
       |     e0 AS (SELECT DISTINCT reps.rep AS a, bands.doc_id AS b
       |            FROM bands JOIN reps ON bands.band = reps.band
       |            WHERE bands.doc_id <> reps.rep),
       |     edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
       |     reach AS (
       |       SELECT DISTINCT a AS node, a AS lbl FROM edges
       |       UNION
       |       SELECT e.a AS node, r.lbl FROM edges e JOIN reach r ON r.node = e.b),
       |     comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)""".stripMargin

  private val sqlCcClusters =
    s"""$duckCcComp
       |SELECT component, count(*) AS n_docs
       |FROM comp GROUP BY component HAVING count(*) > 1
       |ORDER BY component""".stripMargin

  // ---------- 3c. q_canonical_docs: keep-one-per-cluster selection ----------

  /** The dedup pipeline's final step: for every transitive near-dup
    * cluster, elect the canonical document (longest text, doc_id as
    * tie-break) the corpus keeps. The election is a mergeable
    * struct-min aggregate — (-n_chars, doc_id) compared
    * lexicographically — NOT a per-cluster window: a hash aggregate
    * stays O(1) state per cluster and map-side-combines, where a
    * window over a mega-cluster funnels the whole cluster through one
    * reducer.
    */
  def canonicalDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docComponents(docs)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy("component")
      .agg(count(lit(1)).as("n_docs"),
        min(struct((-col("n_chars")).as("a"), col("doc_id").as("b"))).as("pick"))
      // singleton "clusters" are just undeduplicated docs, not
      // clusters — the closure output starts at size 2 (matches the
      // oracle, whose nodes are the edge endpoints only)
      .filter(col("n_docs") > 1)
      .select(col("component"), col("n_docs"),
        col("pick.b").as("canonical_doc"),
        (-col("pick.a")).as("canonical_chars"))
      .orderBy("component")
  }

  private val sqlCanonicalDocs =
    s"""$duckCcComp,
       |     m AS (SELECT comp.component, d.doc_id, d.n_chars
       |           FROM comp JOIN documents d ON comp.node = d.doc_id)
       |SELECT component, count(*) AS n_docs,
       |       (min({'a': -n_chars, 'b': doc_id})).b AS canonical_doc,
       |       -(min({'a': -n_chars, 'b': doc_id})).a AS canonical_chars
       |FROM m GROUP BY component ORDER BY component""".stripMargin

  // ---------- 3c². q_dedup_provenance: loser→winner lineage export ----------

  /** The dedup LINEAGE artifact governance actually persists: for
    * every document the near-dup gate drops, WHICH canonical document
    * replaced it — the record that answers takedowns ("was my page's
    * content used via a mirror?"), right-to-erasure scope checks
    * (`q_forget_plan`'s graph twin is `q_cc_forget`; this is the
    * row-level attribution), and train-data audits. The mapping is
    * linear (one edge per dropped doc, never a pair list); the query
    * rolls it to source grain with an INTEGER checksum — the sum of
    * winner doc_ids over each source's losers — so a wrong
    * attribution anywhere breaks the hash without shipping the full
    * edge list through the gate. `cross_src` counts losers whose
    * winner lives in a DIFFERENT source — the cross-feed mirroring
    * measure `q_source_overlap` estimates at gram grain, here exact
    * at doc grain.
    */
  def dedupProvenance(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val labeled = docComponents(docs)
      .join(docs.select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
    // winner_src rides the argmin struct (doc_id already makes the
    // (a,b) prefix unique, so the extra field can't change the pick):
    // resolving it at component grain removes the round-12 version's
    // broadcast of a fact-proportional (doc_id, source) map — the
    // loser rows get their winner's source on the component join they
    // already pay for, no second join at all.
    val winners = labeled.groupBy("component")
      .agg(min(struct((-col("n_chars")).as("a"), col("doc_id").as("b"),
        col("source").as("s"))).as("pick"),
        count(lit(1)).as("csize"))
      .filter(col("csize") > 1)
      .select(col("component"), col("pick.b").as("winner_id"),
        col("pick.s").as("winner_src"))
    val losers = labeled.join(winners, "component")
      .filter(col("doc_id") =!= col("winner_id"))
    losers
      .groupBy("source")
      .agg(count(lit(1)).as("n_losers"),
        sum(col("winner_id")).as("winner_id_sum"),
        sum(when(col("winner_src") =!= col("source"), 1L).otherwise(0L))
          .as("cross_src"))
      .orderBy("source")
  }

  private val sqlDedupProvenance =
    s"""$duckCcComp,
       |     m AS (SELECT comp.component, d.doc_id, d.source, d.n_chars
       |           FROM comp JOIN documents d ON comp.node = d.doc_id),
       |     w AS (SELECT component,
       |                  (min({'a': -n_chars, 'b': doc_id, 's': source})).b AS winner_id,
       |                  (min({'a': -n_chars, 'b': doc_id, 's': source})).s AS winner_src
       |           FROM m GROUP BY component HAVING count(*) > 1),
       |     l AS (SELECT m.source, w.winner_id, w.winner_src
       |           FROM m JOIN w USING (component)
       |           WHERE m.doc_id <> w.winner_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_losers,
       |       CAST(sum(winner_id) AS BIGINT) AS winner_id_sum,
       |       CAST(sum(CASE WHEN winner_src <> source THEN 1 ELSE 0 END) AS BIGINT) AS cross_src
       |FROM l GROUP BY source ORDER BY source""".stripMargin

  // ---------- 3d. q_leakage_split: cluster-atomic train/val/test split ----------

  /** Leakage-safe train/val/test split: the unit of assignment is the
    * near-dup CLUSTER ([[docComponents]]' transitive closure), not the
    * document — a doc-level random split puts near-duplicates of
    * training documents into the eval set, and the eval loss silently
    * measures memorization (the standard train/test-contamination
    * failure). Hashing the cluster id sends every member of a cluster
    * to the same split by construction: split = polyHash(component)
    * mod 10, buckets 0-7 → train, 8 → val, 9 → test.
    *
    * Determinism: the bucket comes from the shared content-derived
    * [[graft.functions.TextHashes.polyHash]] (same parity contract as
    * q_doc_fingerprint), never from `rand()` or a partition-dependent
    * sample — re-running on any layout, any engine, reproduces the
    * split (the membership-hash rule from `Sampling`).
    *
    * Scale: closure cost is [[ccClusters]]' (rep-contracted fixpoint);
    * the split itself is one hash per doc and one 3-group aggregate —
    * no window, no extra shuffle beyond the closure's own.
    */
  def leakageSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs.select(col("doc_id"), col("n_chars"))
      .join(docComponents(docs), "doc_id")
      .withColumn("b", pmod(graft.functions.TextHashes.polyHash(
        col("component").cast("string")), lit(10L)))
      .withColumn("split",
        when(col("b") < 8, "train").when(col("b") === 8, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(countDistinct(col("component")).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy("split")
  }

  private val sqlLeakageSplit =
    s"""$duckCcComp,
       |     alldocs AS (SELECT d.doc_id, d.n_chars,
       |                   coalesce(comp.component, d.doc_id) AS component
       |                 FROM documents d LEFT JOIN comp ON comp.node = d.doc_id),
       |     cstrs AS (SELECT component, n_chars,
       |                 CAST(component AS VARCHAR) AS cstr
       |               FROM alldocs),
       |     hcs AS (SELECT component, n_chars,
       |              list_transform(range(1, greatest(length(cstr), 1) + 1),
       |                i -> CAST(ascii(substring(cstr, CAST(i AS INT), 1)) AS BIGINT)) AS cs
       |             FROM cstrs),
       |     hb AS (SELECT component, n_chars, ($duckPolyHash) % 10 AS b FROM hcs),
       |     sp AS (SELECT component, n_chars,
       |              CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
       |                   ELSE 'test' END AS split
       |            FROM hb)
       |SELECT split, count(DISTINCT component) AS n_clusters,
       |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
       |FROM sp GROUP BY split ORDER BY split""".stripMargin

  // ---------- 4. q_ngram_jaccard: exact word-3-gram Jaccard on
  // prefix-blocked candidate pairs ----------

  /** Blocking key: (lang, first 20 chars). At scale this is the
    * standard blocked pairwise comparison — candidates only meet
    * inside a block, so the self-join is key-partitioned and the
    * quadratic blowup is bounded per block.
    *
    * The gram SET and its size are staged per DOCUMENT (array_distinct
    * once per row) so the pair expression is a single array_intersect
    * over pre-deduped arrays — the staged-norm rule applied to set
    * similarity. The oracle stages identically (list_distinct in its
    * own CTE).
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // Collapse to DISTINCT text per block BEFORE the pairwise join
    // (collapse-before-pairwise): verbatim duplicates share a block
    // by construction (same first-20 prefix), so at 5× exact-dup
    // multiplicity the doc-grain self-join paid 25× the intersection
    // work (sf1 pass flag: 34× per 10× data). The gram kernel and
    // every array_intersect now run once per distinct text; the
    // doc-id pair list — the declared output, inherently quadratic
    // in duplicate multiplicity — is expanded afterwards by a cheap
    // id-list cross, so compute is distinct-grain and only the
    // OUTPUT scales with multiplicity. Identical texts pair at
    // jaccard exactly 1.0 (intersection = union).
    val dist = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 20).as("blk"), col("text"))
      .groupBy("lang", "blk", "text")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("lang"), col("blk"), col("text"), col("ids"),
        array_distinct(
          graft.functions.TextHashes.ngramHashes(col("ts"), NgramN)).as("grams"))
      .withColumn("ng", size(col("grams")))
      // staged ONCE: consumed by both self-join sides AND the exact-
      // duplicate `same` branch (3 evaluations of the distinct-text
      // aggregate + gram kernel without it — 6 parquet scans counted
      // in the formatted plan). Freed by the harness per-query
      // unpersist.
      .localCheckpoint(true)
    val inter = size(array_intersect(col("a.grams"), col("b.grams"))).cast("double")
    val union = (col("a.ng") + col("b.ng")).cast("double") - inter
    val cross = dist.as("a").join(dist.as("b"),
        col("a.lang") === col("b.lang") && col("a.blk") === col("b.blk") &&
          col("a.text") < col("b.text"))
      .withColumn("jac", when(union === 0, lit(1.0)).otherwise(inter / union))
      .filter(col("jac") >= 0.3)
      .select(explode(col("a.ids")).as("da"), col("b.ids"), col("jac"))
      .select(col("da"), explode(col("ids")).as("db"), col("jac"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        round4(col("jac")).as("jaccard"))
    val same = dist.filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("da"), col("ids"))
      .select(col("da"), explode(col("ids")).as("db"))
      .filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(same).orderBy("doc_a", "doc_b")
  }

  /** Word n-gram list over staged tokens `ts` — the single oracle
    * mirror of [[TextFns.wordNgramsFromTokens]] for every gram width.
    */
  private[text] def duckNgramsOf(n: Int): String =
    s"list_transform(range(1, greatest(len(ts) - ${n - 1}, 1) + 1), " +
      "i -> " + (0 until n).map(o => s"coalesce(ts[CAST(i + $o AS INT)], '')")
        .mkString(" || ") + ")"

  private val duckNgrams = duckNgramsOf(NgramN)

  /** Word n-gram HASH list over staged tokens `ts` — the oracle
    * mirror of [[graft.functions.TextHashUtil.ngramHashes]]: the gram
    * byte stream is the n token slots joined with the 0x01 separator
    * (chr(1), `wordNgramsFromTokens`' concat_ws byte), so both
    * engines hash IDENTICAL bytes and even hash collisions merge the
    * same gram pairs on both sides.
    */
  private[text] def duckNgramHashesOf(n: Int): String = {
    val gram = (0 until n).map(o => s"coalesce(ts[CAST(i + $o AS INT)], '')")
      .mkString(" || chr(1) || ")
    s"list_transform(range(1, greatest(len(ts) - ${n - 1}, 1) + 1), " +
      s"i -> list_reduce([CAST(0 AS BIGINT)] || " +
      s"list_transform(range(1, greatest(length($gram), 1) + 1), " +
      s"j -> CAST(ascii(substring($gram, CAST(j AS INT), 1)) AS BIGINT)), " +
      s"(acc, c) -> (acc * 31 + c) % ${TextFns.P}))"
  }

  private val sqlNgramJaccard =
    s"""WITH t AS (SELECT doc_id, lang, substring(text, 1, 20) AS blk, $duckTokens AS ts
       |           FROM documents),
       |     n AS (SELECT doc_id, lang, blk,
       |             list_distinct(${duckNgramHashesOf(NgramN)}) AS grams FROM t),
       |     pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                      CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE) AS inter,
       |                      CAST(len(a.grams) + len(b.grams) AS DOUBLE) AS tot
       |               FROM n a JOIN n b ON a.lang = b.lang AND a.blk = b.blk
       |                                AND a.doc_id < b.doc_id),
       |     j AS (SELECT doc_a, doc_b,
       |                  CASE WHEN tot - inter = 0 THEN 1.0 ELSE inter / (tot - inter) END AS jac
       |           FROM pairs)
       |SELECT doc_a, doc_b, ${duckRound4("jac")} AS jaccard
       |FROM j WHERE jac >= 0.3 ORDER BY doc_a, doc_b""".stripMargin

  // ---------- 4a2. q_ppjoin: EXACT set-similarity join (prefix filter) ----------

  /** Jaccard threshold for the exact join, kept RATIONAL (1/PpDen) so
    * every filter is integer arithmetic: `jac ≥ 1/2` ⟺
    * `3·|x∩y| ≥ |x|+|y|`, prefix length `|x| − ⌈|x|/2⌉ + 1` with
    * `⌈n/2⌉ = (n+1) div 2` — no float boundary anywhere, on either
    * engine. τ = 1/2 (round 16; was 1/3): prefix filtering is
    * structurally weak at low thresholds — at τ = 1/3 the prefix is
    * 2/3 of every set and the length filter admits 3× size skew, so
    * 42% of raw candidates survived the positional filter at 10×
    * while every ACTUAL near-dup pair in this corpus sits at
    * jac ≥ 0.8 (min observed 0.8 at sf0.1, 0.9 at sf0.01) — the
    * permissive threshold bought nothing but candidate volume. τ=1/2
    * is the standard near-duplicate regime the PPJoin literature
    * evaluates (Xiao WWW'08 uses 0.5-0.95) and leaves the gated
    * output IDENTICAL at every verified SF.
    */
  private val PpDen = 2

  /** Estimated-bytes threshold above which the ppjoin verify stops
    * broadcasting the signature table and switches to gid-bucketed
    * co-partitioned joins (see the record-join note in [[ppjoin]]).
    * 16 MB: the 30× upscale's signature table (~35 MB, 79k sigs)
    * crosses it — the scale path gets exercised by the 30× bench leg,
    * not just trusted — while sf0.01/sf0.1 (~2 MB) stay comfortably
    * under (broadcast gate plan unchanged).
    */
  private val PpBroadcastBytes = 16L * 1024 * 1024

  /** EXACT set-similarity self-join via prefix filtering (SSJoin /
    * PPJoin family — Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07,
    * Xiao et al. WWW'08): every distinct-text pair with word-3-gram
    * Jaccard ≥ 1/[[PpDen]], with NO blocking loss — unlike
    * [[ngramJaccard]] (same-20-char-prefix blocks, misses cross-block
    * pairs) and [[containment]] (df-capped postings), the prefix
    * filter is COMPLETE at the threshold: order every gram set by
    * ascending global document frequency (rarest first, gram hash as
    * the total tie-break) and index only each set's first
    * `ng − ⌈ng·t⌉ + 1` grams — any pair meeting the threshold must
    * share an indexed gram (else the ≥⌈t·ng⌉ shared grams would all
    * hide in a suffix shorter than that), so joining prefixes
    * generates a candidate superset and the exact integer verify
    * keeps precision at 1. The DuckDB oracle is the BRUTE-FORCE
    * all-pairs join — the gate literally proves the pruning lost
    * nothing.
    *
    * Scale: compute is CORE-SIGNATURE grain — a second collapse below
    * the distinct-text one. Split each gram set into its CORE (grams
    * with df ≥ 2) and its RESIDUAL (df = 1): a df-1 gram lives in
    * exactly one set, so it can never be shared — it generates zero
    * candidates and contributes zero to any intersection; only its
    * COUNT matters (it inflates ng). Two texts with the same (core
    * set, ng) are therefore fully exchangeable in the join: same
    * emitted prefix grams at the same positions (the r residuals are
    * globally rarest and all sort before the core, so core positions
    * are r + core-rank for every member), same intersection with
    * every outside set (|coreₐ ∩ core_b| exactly — residuals drop
    * out), same Jaccard. The join runs ONCE per signature GROUP;
    * member pairs expand afterward through output-proportional joins.
    * This is what bounds the duplicate-VARIANT regime the round-15
    * 30× upscale exposed (169 s = 44×): k one-token variants of a doc
    * share the core and differ only in df-1 suffix grams, so a family
    * that put k postings under every prefix gram (k² candidates per
    * gram) collapses to TWO groups (base, variants) — candidate
    * volume returns to Σ_gram |group-postings|², ~constant in the
    * duplication factor, while the genuinely quadratic part (the
    * family's k²/2 TRUE result pairs) moves to the expansion joins
    * that only touch output rows. The df table is gram-vocabulary
    * grain; everything shuffles on gram or group id — no all-pairs
    * stage at any scale, and the brute-force oracle still proves the
    * collapse lost nothing.
    */
  def ppjoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dist = Tables.documents(spark, sfDir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("sid"), count(lit(1)).as("n_docs"))
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("sid"), col("n_docs"),
        array_distinct(
          graft.functions.TextHashes.ngramHashes(col("ts"), NgramN)).as("grams"))
      .withColumn("ng", size(col("grams")))
      // staged once: the gram explode and the core-annotation join
      // both re-read this (the capped-block rule)
      .localCheckpoint(true)
    val posting = dist.select(col("sid"), explode_outer(col("grams")).as("g"))
    val gdf = posting.groupBy("g").agg(count(lit(1)).as("df"))
    // core = the df ≥ 2 grams in rare-first order (df, hash — a GLOBAL
    // total order); r = how many unshareable df-1 grams precede them
    val core = posting.join(gdf, "g").filter(col("df") >= 2)
      .groupBy("sid")
      .agg(array_sort(collect_list(struct(col("df"), col("g")))).as("ord"))
    val annot = dist.select(col("sid"), col("n_docs"), col("ng"))
      .join(core, Seq("sid"), "left")
      .withColumn("ord", coalesce(col("ord"),
        expr("CAST(array() AS ARRAY<STRUCT<df: BIGINT, g: BIGINT>>)")))
    // signature groups: min-sid representative + member multiplicity.
    // The window partitions on the (bounded-multiplicity) signature —
    // group size is duplicate-VARIANT multiplicity, the same class as
    // the n_docs exact-duplicate count the first collapse absorbs.
    // hash keys FIRST in the partition spec: same groups (tuple
    // equality), but the within-partition sort comparator resolves on
    // the 64-bit hash and only falls back to the full array compare
    // on hash ties — array-first keying compared ~300-struct arrays
    // per sort step
    val wGrp = Window.partitionBy(xxhash64(col("ord")), col("ng"), col("ord"))
    val grp = annot
      .withColumn("gid", min(col("sid")).over(wGrp))
      .withColumn("m", count(lit(1)).over(wGrp))
    // members feed three output-proportional joins; reps feed the
    // prefix emission, two verify joins, and the within-group leg
    val members = grp.select(col("gid"), col("sid"), col("n_docs"))
      .localCheckpoint(true)
    // ghs keeps the rare-first order (prefix emission); gss is the
    // same set ASCENDING-sorted for the merge-walk verify kernel
    val reps = grp.filter(col("sid") === col("gid"))
      .select(col("gid"), col("ng"), col("m"),
        expr("transform(ord, p -> p.g)").as("ghs"))
      .withColumn("gss", array_sort(col("ghs")))
      .withColumn("ncore", size(col("ghs")))
      .withColumn("r", col("ng") - col("ncore"))
      .localCheckpoint(true)
    // prefix grams WITH their 0-based position in the full rare-first
    // ordering: the window is the first ng − ⌈ng/t⌉ + 1 positions of
    // the ordered full set; its df-1 occupants (positions 0..r−1)
    // are dropped — they can't match anything, so the candidate set
    // is unchanged — and the surviving core grams keep their original
    // positions i = r + idx for the ppjoin+ positional filter
    val prefix = reps
      .withColumn("take",
        greatest(
          (col("ng") - expr(s"(ng + ${PpDen - 1}) div $PpDen") + lit(1) -
            col("r")).cast("int"),
          lit(0)))
      .select(col("gid"), col("ng"), col("r"),
        posexplode_outer(slice(col("ghs"), lit(1), col("take"))))
      .select(col("gid"), col("ng"), (col("pos") + col("r")).as("i"),
        col("col").as("g"))
    // Positional filter (ppjoin+, Xiao et al. WWW'08): the rare-first
    // ordering is a GLOBAL total order, so the first shared prefix
    // gram minimizes its position in BOTH sets simultaneously and no
    // shared gram can precede it anywhere — hence overlap ≤ 1 +
    // min(remaining suffix lengths) at that gram. Pairs whose bound
    // cannot reach the threshold are pruned BEFORE the array-intersect
    // verify. All-integer, so the brute-force oracle still proves
    // completeness.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.gid") < col("b.gid") &&
          least(col("a.ng"), col("b.ng")) * PpDen >=
            greatest(col("a.ng"), col("b.ng")))
      .groupBy(col("a.gid").as("sa"), col("b.gid").as("sb"),
        col("a.ng").as("pna"), col("b.ng").as("pnb"))
      .agg(min(col("a.i")).as("ia"), min(col("b.i")).as("ib"))
      .filter((lit(1) + least(col("pna") - 1 - col("ia"),
          col("pnb") - 1 - col("ib"))) * (PpDen + 1) >=
        col("pna") + col("pnb"))
      .select(col("sa"), col("sb"))
    // verify ONCE per group pair: |coreₐ ∩ core_b| IS |fullₐ ∩ full_b|
    // for every member pair (residuals are unshareable by definition).
    // Attaching the gram arrays to candidate pairs is the record-join
    // stage of Vernica/Carey/Li SIGMOD'10, and it has two legitimate
    // shapes chosen HERE by the signature table's measured size (one
    // cheap scalar job over the eagerly-checkpointed reps):
    //   - small (≤ PpBroadcastBytes est.): broadcast both attach joins
    //     — a shuffle join at this size only moves ~KB gram arrays on
    //     every candidate-pair row for nothing (the measured verify
    //     wall of round 15). This keeps the sf0.01/sf0.1 gate plan.
    //   - large: gid-bucketed co-partitioned sort-merge joins — pairs
    //     shuffle on sa bare (no arrays), attach ga, then shuffle on
    //     sb carrying the one attached array. Candidate volume is
    //     positional-filter-pruned to near the true-result size, so
    //     the array-bearing shuffle is output-proportional — the
    //     100 TB shape, where no signature table fits a broadcast.
    // The intersect itself is the codegen'd merge-walk kernel over the
    // ascending-sorted arrays, not array_intersect's per-row hash set.
    val repsSz = reps.agg(count(lit(1)).as("n"),
      coalesce(sum(size(col("gss"))), lit(0L)).as("cells")).head
    val repsEstBytes = repsSz.getLong(1) * 8L + repsSz.getLong(0) * 48L
    val bucketed = repsEstBytes > PpBroadcastBytes
    System.err.println(s"[ppjoin] ${repsSz.getLong(0)} signatures, " +
      s"~${repsEstBytes / 1024 / 1024} MB -> " +
      (if (bucketed) "gid-bucketed co-partitioned verify" else "broadcast verify"))
    val repsA = reps.select(col("gid").as("sa"), col("gss").as("ga"),
      col("ng").as("na"))
    val repsB = reps.select(col("gid").as("sb"), col("gss").as("gb"),
      col("ng").as("nb"))
    val attached =
      if (bucketed) cand.join(repsA, "sa").join(repsB, "sb")
      else cand.join(broadcast(repsA), "sa").join(broadcast(repsB), "sb")
    val crossPairs = attached
      .withColumn("inter",
        graft.functions.TextHashes.sortedIntersectCount(col("ga"), col("gb")))
      .filter(col("inter") * (PpDen + 1) >= col("na") + col("nb"))
      .select(col("sa"), col("sb"), col("na"), col("nb"), col("inter"))
    // within-group pairs need no candidate stage at all: members share
    // the core and nothing else, so inter = ncore and both sizes = ng
    val withinPairs = reps
      .filter(col("m") >= 2 && col("ng") > 0 &&
        col("ncore").cast("long") * (PpDen + 1) >= col("ng") * 2)
      .select(col("gid").as("sa"), col("gid").as("sb"),
        col("ng").as("na"), col("ng").as("nb"),
        col("ncore").cast("long").as("inter"))
    // expansion: every member pair of a qualifying group pair is a
    // result row with the group-level Jaccard — strictly output-
    // proportional joins (the only quadratic left is the TRUE result
    // set itself, which no exact join can shrink)
    val expanded = crossPairs.unionByName(withinPairs)
      .join(members.select(col("gid").as("sa"), col("sid").as("s1"),
        col("n_docs").as("nd1")), "sa")
      .join(members.select(col("gid").as("sb"), col("sid").as("s2"),
        col("n_docs").as("nd2")), "sb")
      .filter(col("sa") =!= col("sb") || col("s1") < col("s2"))
    expanded
      .select(least(col("s1"), col("s2")).as("set_a"),
        greatest(col("s1"), col("s2")).as("set_b"),
        when(col("s1") < col("s2"), col("nd1")).otherwise(col("nd2")).as("n_docs_a"),
        when(col("s1") < col("s2"), col("nd2")).otherwise(col("nd1")).as("n_docs_b"),
        round4(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .orderBy("set_a", "set_b")
  }

  private val sqlPpjoin =
    s"""WITH d AS (SELECT text, min(doc_id) AS sid, CAST(count(*) AS BIGINT) AS n_docs
       |           FROM documents GROUP BY 1),
       |     t AS (SELECT sid, n_docs, $duckTokens AS ts FROM d),
       |     s AS (SELECT sid, n_docs,
       |             list_distinct(${duckNgramHashesOf(NgramN)}) AS grams FROM t),
       |     n AS (SELECT sid, n_docs, grams, len(grams) AS ng FROM s),
       |     prs AS (SELECT a.sid AS set_a, b.sid AS set_b,
       |                    a.n_docs AS n_docs_a, b.n_docs AS n_docs_b,
       |                    CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS BIGINT) AS inter,
       |                    a.ng + b.ng AS tot
       |             FROM n a JOIN n b ON a.sid < b.sid)
       |SELECT set_a, set_b, n_docs_a, n_docs_b,
       |       ${duckRound4("CAST(inter AS DOUBLE) / CAST(tot - inter AS DOUBLE)")} AS jaccard
       |FROM prs WHERE inter * ${PpDen + 1} >= tot
       |ORDER BY set_a, set_b""".stripMargin

  // ---------- 4b. q_containment: asymmetric n-gram containment ----------

  /** Document-frequency band for candidate-generating grams: a gram
    * shared by 2..[[ContainDfMax]] docs votes a candidate pair. The
    * lower bound drops unique grams (no pair to vote); the upper
    * bound is the PPJoin-style frequency filter that keeps the
    * inverted-index self-join linear in kept postings (a gram in df
    * docs contributes df² pair votes — boilerplate grams shared by
    * everything would otherwise go quadratic).
    */
  private val ContainDfMax = 8
  private val ContainThreshold = 0.6

  /** Asymmetric n-gram CONTAINMENT (Broder 1997's second resemblance
    * measure): C = |A∩B| / min(|A|,|B|) over word-[[NgramN]]-gram
    * sets — the quote/subset detector [[ngramJaccard]] misses by
    * construction (a short doc fully quoted inside a long one has
    * tiny Jaccard but containment 1.0). Top-20 containing pairs with
    * C ≥ [[ContainThreshold]] on the ROUNDED score.
    *
    * Shape: candidate-then-verify. Distinct gram sets are staged per
    * doc ONCE (the staged-gram-set rule); candidates come from an
    * inverted-index self-join restricted to the [[ContainDfMax]] df
    * band (bounded pair votes per gram), deduped at pair grain;
    * verification joins the two gram arrays back and runs ONE
    * array_intersect per surviving pair. Never an all-pairs stage;
    * the blocked [[ngramJaccard]] prefix-join can't see cross-prefix
    * containment, which is exactly what the gram index adds.
    */
  def containment(spark: SparkSession, sfDir: String): DataFrame = {
    // Stage the per-doc gram sets and the df-banded postings ONCE
    // (the bandReps single-scan rule): `docs` feeds postings AND both
    // verification joins, `votes` feeds both sides of the candidate
    // self-join, and the self-join sides exchange on different derived
    // keys so ReuseExchange cannot dedupe the subtrees — without the
    // checkpoints the plan ran the full tokenize+ngram-hash corpus
    // scan TWELVE times (counted in the formatted plan). Blocks are
    // freed by the per-query unpersist in Bench/Verify.
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("doc_id"),
        array_distinct(
          graft.functions.TextHashes.ngramHashes(col("ts"), NgramN)).as("grams"))
      .withColumn("ng", size(col("grams")))
      .localCheckpoint(true)
    val postings = docs
      .select(col("doc_id"), explode_outer(col("grams")).as("g"))
    val banded = postings.groupBy("g")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= ContainDfMax)
      .select("g")
    val votes = postings.join(banded, "g").localCheckpoint(true)
    val cands = votes.as("a").join(votes.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val verified = cands
      .join(docs.select(col("doc_id").as("da"),
        col("grams").as("ga"), col("ng").as("na")), "da")
      .join(docs.select(col("doc_id").as("db"),
        col("grams").as("gb"), col("ng").as("nb")), "db")
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("containment", round4(
        col("inter").cast("double") / least(col("na"), col("nb")).cast("double")))
      .filter(col("containment") >= ContainThreshold)
    verified
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("inter").as("n_shared"), col("containment"))
      .orderBy(col("containment").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  private val sqlContainment =
    s"""WITH t AS (SELECT doc_id, $duckTokens AS ts FROM documents),
       |     n AS (SELECT doc_id, list_distinct(${duckNgramHashesOf(NgramN)}) AS grams
       |           FROM t),
       |     x AS (SELECT doc_id, unnest(grams) AS g FROM n),
       |     keep AS (SELECT g FROM x GROUP BY g
       |              HAVING count(*) >= 2 AND count(*) <= $ContainDfMax),
       |     v AS (SELECT doc_id, g FROM x JOIN keep USING (g)),
       |     cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |              FROM v a JOIN v b ON a.g = b.g AND a.doc_id < b.doc_id),
       |     ver AS (SELECT da, db,
       |               CAST(len(list_filter(na.grams, y -> list_contains(nb.grams, y))) AS BIGINT) AS inter,
       |               len(na.grams) AS la, len(nb.grams) AS lb
       |             FROM cand JOIN n na ON na.doc_id = da
       |                       JOIN n nb ON nb.doc_id = db),
       |     s AS (SELECT da AS doc_a, db AS doc_b, inter AS n_shared,
       |             ${duckRound4(
                       "CAST(inter AS DOUBLE) / CAST(least(la, lb) AS DOUBLE)")} AS containment
       |           FROM ver)
       |SELECT doc_a, doc_b, n_shared, containment FROM s
       |WHERE containment >= $ContainThreshold
       |ORDER BY containment DESC, doc_a, doc_b LIMIT 20""".stripMargin

  // ---------- 5. q_lang_id: lexicon-hit language scoring matrix ----------

  /** Per actual-lang totals of marker-lexicon hits for every candidate
    * language — the deterministic core of lexicon language-ID (the
    * argmax lives in [[TextFns]] and is unit-tested; the synthetic
    * corpus shares one vocabulary across langs, so a matrix is the
    * honest oracle-checkable output).
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val langs = TextFns.langMarkers.keys.toSeq.sorted
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text"))) // staged: scored 5×
    val hitCols = langs.map(l =>
      sum(TextFns.lexiconHitsFromTokens(col("ts"), TextFns.langMarkers(l))).as(s"hits_$l"))
    val aggCols = count(lit(1)).as("n_docs") +: hitCols
    docs.groupBy("lang")
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy("lang")
  }

  private val sqlLangId = {
    val langs = TextFns.langMarkers.keys.toSeq.sorted
    val hitSel = langs.map { l =>
      val lex = TextFns.langMarkers(l).map(s => s"'$s'").mkString("[", ", ", "]")
      s"CAST(sum(len(list_filter(ts, t -> list_contains($lex, t)))) AS BIGINT) AS hits_$l"
    }.mkString(", ")
    s"""WITH t AS (SELECT lang, $duckTokens AS ts FROM documents)
       |SELECT lang, count(*) AS n_docs, $hitSel
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------- 5b. q_lang_agreement: label-vs-prediction confusion audit ----------

  /** Per-language precision / recall / F1 of the lexicon language-ID
    * argmax against the stored `lang` label — the agreement audit a
    * curation pipeline runs before trusting EITHER labeling (the
    * inter-annotator-agreement shape: production pipelines diff a
    * cheap classifier against provider metadata exactly this way).
    * The synthetic corpus shares one vocabulary across languages, so
    * low agreement is the EXPECTED verdict here — which is precisely
    * what the audit exists to surface.
    *
    * Parity: the argmax ranks INTEGER hit counts with an alphabetical
    * candidate tie-break (no floats anywhere in the election); all
    * three metrics are pure rationals of exact counts — F1 written as
    * its harmonic-mean identity 2·correct/(n_true + n_pred), one
    * round4 each at the edge.
    *
    * Shape: tokenize once (staged — HOFs are interpreted), score the
    * 5 lexicons per row, elect per doc via ONE struct-max aggregate
    * (hits, then negated candidate rank — no join-back, so the
    * lexicon scoring runs once), then two lang-cardinality aggregates
    * full-outer-joined. Linear in tokens at any SF.
    */
  /** Per-document (lang, pred) under the lexicon classifier — the
    * shared kernel of [[langAgreement]] (precision/recall/F1) and
    * [[cohensKappa]] (chance-corrected agreement).
    */
  private def langPreds(spark: SparkSession, sfDir: String): DataFrame = {
    val langs = TextFns.langMarkers.keys.toSeq.sorted
    Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text"))) // staged: scored 5×
      .select(col("doc_id"), col("lang"),
        explode_outer(array(langs.zipWithIndex.map { case (l, i) =>
          struct(
            TextFns.lexiconHitsFromTokens(col("ts"), TextFns.langMarkers(l))
              .cast("long").as("hits"),
            lit(-i).as("nrank"))
        }: _*)).as("s"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(max(col("s")).as("b"))
      .select(col("lang"),
        element_at(typedLit(langs), (-col("b.nrank")).cast("int") + 1).as("pred"))
  }

  // ---------- 5b¹. q_mcc: Matthews correlation of the en-gate ----------

  /** Matthews correlation coefficient of the binary "is English"
    * gate the lexicon classifier implies (Matthews 1975) — the single
    * balanced number a curation team reads when the positive class
    * dominates (en is ~44% of this corpus, so raw accuracy and even
    * F1 flatter; MCC uses all four confusion cells). Same per-doc
    * predictions as [[langAgreement]] (shared [[langPreds]] kernel),
    * collapsed to en-vs-rest. Confusion cells are exact integers;
    * MCC = (tp·tn − fp·fn) / (√(tp+fp)·√(tp+fn)·√(tn+fp)·√(tn+fn))
    * with each factor under its OWN sqrt — four correctly-rounded
    * roots multiplied in one literal order on both engines (the
    * sqrt(a)·sqrt(b) parity rule; a single sqrt of the product would
    * overflow BIGINT at corpus scale anyway).
    */
  def mccGate(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = langPreds(spark, sfDir)
      .withColumn("pp", col("pred") === "en")
      .withColumn("tt", col("lang") === "en")
    val cells = scored.agg(
      sum(when(col("pp") && col("tt"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("pp") && !col("tt"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("pp") && col("tt"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("pp") && !col("tt"), 1L).otherwise(0L)).as("tn"))
    cells.select(col("tp"), col("fp"), col("fn"), col("tn"),
      round4(
        (col("tp") * col("tn") - col("fp") * col("fn")).cast("double") /
          (sqrt((col("tp") + col("fp")).cast("double")) *
            sqrt((col("tp") + col("fn")).cast("double")) *
            sqrt((col("tn") + col("fp")).cast("double")) *
            sqrt((col("tn") + col("fn")).cast("double")))).as("mcc"))
  }

  private val sqlMccGate = {
    val langs = TextFns.langMarkers.keys.toSeq.sorted
    val hitSel = langs.map { l =>
      val lex = TextFns.langMarkers(l).map(s => s"'$s'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(ts, t -> list_contains($lex, t))) AS BIGINT) AS hits_$l"
    }.mkString(", ")
    val structs = langs.zipWithIndex
      .map { case (l, i) => s"{'hits': hits_$l, 'nrank': ${-i}}" }
      .mkString("[", ", ", "]")
    val langList = langs.map(l => s"'$l'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, lang, $duckTokens AS ts FROM documents),
       |     h AS (SELECT doc_id, lang, $hitSel FROM t),
       |     u AS (SELECT doc_id, lang, unnest($structs) AS s FROM h),
       |     b AS (SELECT doc_id, lang, max(s) AS bs FROM u GROUP BY 1, 2),
       |     p AS (SELECT lang, ($langList)[CAST(-bs.nrank AS INT) + 1] AS pred FROM b),
       |     f AS (SELECT pred = 'en' AS pp, lang = 'en' AS tt FROM p),
       |     cc AS (SELECT
       |              CAST(sum(CASE WHEN pp AND tt THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |              CAST(sum(CASE WHEN pp AND NOT tt THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |              CAST(sum(CASE WHEN NOT pp AND tt THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |              CAST(sum(CASE WHEN NOT pp AND NOT tt THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |            FROM f)
       |SELECT tp, fp, fn, tn,
       |       ${duckRound4(
                 "CAST(tp * tn - fp * fn AS DOUBLE) / " +
                   "(sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE)) * " +
                   "sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE)))")} AS mcc
       |FROM cc""".stripMargin
  }

  // ---------- 5b². q_brier: confidence quality of the lexicon classifier ----------

  /** Brier score of the lexicon classifier's confidence (Brier 1950,
    * the proper scoring rule whose bins `q_calibration` approximates):
    * confidence = winning lexicon's hit share of all lexicon hits (an
    * exact rational), scored (confidence − correct)² per doc and
    * averaged per true language next to the mean confidence — so
    * over/under-confidence reads directly (mean_conf ≫ accuracy with
    * high brier = overconfident). Docs with ZERO lexicon hits carry
    * no evidence and are censused in `n_abstain`, not silently scored.
    *
    * Parity: confidence is one exact rational division, the squared
    * error an exact IEEE composition of it; both collapse to round6
    * DECIMAL before the cross-row sum, one division per group at the
    * edge. Shape: the [[langPreds]] struct-max election extended with
    * the hit total (same staged-tokens scan), then one lang-grain
    * aggregate — linear in tokens at any SF.
    */
  def brierScore(spark: SparkSession, sfDir: String): DataFrame = {
    val langs = TextFns.langMarkers.keys.toSeq.sorted
    val scored = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text"))) // staged: scored 5×
      .select(col("doc_id"), col("lang"),
        explode_outer(array(langs.zipWithIndex.map { case (l, i) =>
          struct(
            TextFns.lexiconHitsFromTokens(col("ts"), TextFns.langMarkers(l))
              .cast("long").as("hits"),
            lit(-i).as("nrank"))
        }: _*)).as("s"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(max(col("s")).as("b"), sum(col("s.hits")).as("th"))
      .select(col("lang"),
        element_at(typedLit(langs), (-col("b.nrank")).cast("int") + 1).as("pred"),
        col("b.hits").as("hb"), col("th"))
    val conf = col("hb").cast("double") / col("th").cast("double")
    val y = when(col("pred") === col("lang"), lit(1.0)).otherwise(lit(0.0))
    val err = (conf - y) * (conf - y)
    scored
      .groupBy("lang")
      .agg(sum(when(col("th") > 0, 1L).otherwise(0L)).as("n_scored"),
        sum(when(col("th") === 0, 1L).otherwise(0L)).as("n_abstain"),
        sum(when(col("th") > 0, units(conf, 1e6).cast("decimal(28,0)"))).as("c_dec"),
        sum(when(col("th") > 0, units(err, 1e6).cast("decimal(28,0)"))).as("e_dec"))
      .select(col("lang"), col("n_scored"), col("n_abstain"),
        round4(col("c_dec").cast("double") / 1000000.0 /
          col("n_scored").cast("double")).as("mean_conf"),
        round4(col("e_dec").cast("double") / 1000000.0 /
          col("n_scored").cast("double")).as("brier"))
      .orderBy("lang")
  }

  private val sqlBrierScore = {
    val langs = TextFns.langMarkers.keys.toSeq.sorted
    val hitSel = langs.map { l =>
      val lex = TextFns.langMarkers(l).map(s => s"'$s'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(ts, t -> list_contains($lex, t))) AS BIGINT) AS hits_$l"
    }.mkString(", ")
    val structs = langs.zipWithIndex
      .map { case (l, i) => s"{'hits': hits_$l, 'nrank': ${-i}}" }
      .mkString("[", ", ", "]")
    val langList = langs.map(l => s"'$l'").mkString("[", ", ", "]")
    val conf = "CAST(hb AS DOUBLE) / CAST(th AS DOUBLE)"
    val y = "(CASE WHEN pred = lang THEN 1.0 ELSE 0.0 END)"
    val err = s"(($conf) - $y) * (($conf) - $y)"
    s"""WITH t AS (SELECT doc_id, lang, $duckTokens AS ts FROM documents),
       |     h AS (SELECT doc_id, lang, $hitSel FROM t),
       |     u AS (SELECT doc_id, lang, unnest($structs) AS s FROM h),
       |     b AS (SELECT doc_id, lang, max(s) AS bs,
       |                  CAST(sum(s.hits) AS BIGINT) AS th
       |           FROM u GROUP BY 1, 2),
       |     p AS (SELECT lang, ($langList)[CAST(-bs.nrank AS INT) + 1] AS pred,
       |                  bs.hits AS hb, th
       |           FROM b)
       |SELECT lang,
       |       CAST(sum(CASE WHEN th > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
       |       CAST(sum(CASE WHEN th = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_abstain,
       |       ${duckRound4(
                 s"CAST(sum(CASE WHEN th > 0 THEN CAST(${duckUnits(conf, 1e6)} AS DECIMAL(28,0)) END) AS DOUBLE)" +
                   " / 1000000.0 / CAST(sum(CASE WHEN th > 0 THEN 1 ELSE 0 END) AS DOUBLE)")} AS mean_conf,
       |       ${duckRound4(
                 s"CAST(sum(CASE WHEN th > 0 THEN CAST(${duckUnits(err, 1e6)} AS DECIMAL(28,0)) END) AS DOUBLE)" +
                   " / 1000000.0 / CAST(sum(CASE WHEN th > 0 THEN 1 ELSE 0 END) AS DOUBLE)")} AS brier
       |FROM p GROUP BY lang ORDER BY lang""".stripMargin
  }

  def langAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val pred = langPreds(spark, sfDir)
    val truth = pred.groupBy("lang")
      .agg(count(lit(1)).as("n_true"),
        count(when(col("pred") === col("lang"), lit(1))).as("n_correct"))
    val predicted = pred.groupBy(col("pred").as("plang"))
      .agg(count(lit(1)).as("n_pred"))
    truth.join(predicted, col("lang") === col("plang"), "full_outer")
      .select(coalesce(col("lang"), col("plang")).as("lang"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
      .withColumn("precision",
        when(col("n_pred") === 0, lit(0.0)).otherwise(round4(
          col("n_correct").cast("double") / col("n_pred").cast("double"))))
      .withColumn("recall",
        when(col("n_true") === 0, lit(0.0)).otherwise(round4(
          col("n_correct").cast("double") / col("n_true").cast("double"))))
      .withColumn("f1",
        when(col("n_true") + col("n_pred") === 0, lit(0.0)).otherwise(round4(
          lit(2.0) * col("n_correct").cast("double")
            / (col("n_true") + col("n_pred")).cast("double"))))
      .orderBy("lang")
  }

  private val sqlLangAgreement = {
    val langs = TextFns.langMarkers.keys.toSeq.sorted
    val hitSel = langs.map { l =>
      val lex = TextFns.langMarkers(l).map(s => s"'$s'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(ts, t -> list_contains($lex, t))) AS BIGINT) AS hits_$l"
    }.mkString(", ")
    val structs = langs.zipWithIndex
      .map { case (l, i) => s"{'hits': hits_$l, 'nrank': ${-i}}" }
      .mkString("[", ", ", "]")
    val langList = langs.map(l => s"'$l'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, lang, $duckTokens AS ts FROM documents),
       |     h AS (SELECT doc_id, lang, $hitSel FROM t),
       |     u AS (SELECT doc_id, lang, unnest($structs) AS s FROM h),
       |     b AS (SELECT doc_id, lang, max(s) AS bs FROM u GROUP BY 1, 2),
       |     p AS (SELECT lang, ($langList)[CAST(-bs.nrank AS INT) + 1] AS pred FROM b),
       |     tr AS (SELECT lang, count(*) AS n_true,
       |                   count(CASE WHEN pred = lang THEN 1 END) AS n_correct
       |            FROM p GROUP BY 1),
       |     pr AS (SELECT pred AS plang, count(*) AS n_pred FROM p GROUP BY 1)
       |SELECT coalesce(lang, plang) AS lang,
       |       CAST(coalesce(n_true, 0) AS BIGINT) AS n_true,
       |       CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
       |       CAST(coalesce(n_correct, 0) AS BIGINT) AS n_correct,
       |       CASE WHEN coalesce(n_pred, 0) = 0 THEN 0.0
       |            ELSE ${duckRound4(
                      "CAST(coalesce(n_correct, 0) AS DOUBLE) / CAST(n_pred AS DOUBLE)")} END AS precision,
       |       CASE WHEN coalesce(n_true, 0) = 0 THEN 0.0
       |            ELSE ${duckRound4(
                      "CAST(coalesce(n_correct, 0) AS DOUBLE) / CAST(n_true AS DOUBLE)")} END AS recall,
       |       CASE WHEN coalesce(n_true, 0) + coalesce(n_pred, 0) = 0 THEN 0.0
       |            ELSE ${duckRound4(
                      "2.0 * CAST(coalesce(n_correct, 0) AS DOUBLE) " +
                        "/ CAST(coalesce(n_true, 0) + coalesce(n_pred, 0) AS DOUBLE)")} END AS f1
       |FROM tr FULL JOIN pr ON tr.lang = pr.plang
       |ORDER BY lang""".stripMargin
  }

  // ---------- 5b³. q_lang_confusion: full confusion matrix ----------

  /** The full label × prediction confusion MATRIX of the lexicon
    * language classifier — the table behind every summary the eval
    * ladder already gates ([[langAgreement]]'s P/R/F1 are its
    * margins, [[cohensKappa]]/[[mccGate]] its contractions): which
    * languages the classifier confuses WITH which, the routing table
    * a curation team reads before trusting per-language quotas.
    * Zero cells are omitted (sparse form); row shares are exact
    * rationals of the emitted integer counts.
    *
    * Shape: the shared [[langPreds]] kernel → one bounded ≤25-cell
    * contingency aggregate + a broadcast row-margin join. All
    * dim-sized after the doc-grain election.
    */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    // staged: the ≤25-cell contingency is read by the row margin AND
    // the join back — unstaged, each leg re-runs the doc-grain election
    val cells = langPreds(spark, sfDir)
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val rows = cells.groupBy("lang").agg(sum(col("n")).as("nt"))
    cells.join(broadcast(rows), "lang")
      .select(col("lang"), col("pred"), col("n"),
        round4(col("n").cast("double") / col("nt").cast("double"))
          .as("row_share"))
      .orderBy("lang", "pred")
  }

  private val sqlLangConfusion = {
    val langs = TextFns.langMarkers.keys.toSeq.sorted
    val hitSel = langs.map { l =>
      val lex = TextFns.langMarkers(l).map(s => s"'$s'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(ts, t -> list_contains($lex, t))) AS BIGINT) AS hits_$l"
    }.mkString(", ")
    val structs = langs.zipWithIndex
      .map { case (l, i) => s"{'hits': hits_$l, 'nrank': ${-i}}" }
      .mkString("[", ", ", "]")
    val langList = langs.map(l => s"'$l'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, lang, $duckTokens AS ts FROM documents),
       |     h AS (SELECT doc_id, lang, $hitSel FROM t),
       |     u AS (SELECT doc_id, lang, unnest($structs) AS s FROM h),
       |     b AS (SELECT doc_id, lang, max(s) AS bs FROM u GROUP BY 1, 2),
       |     p AS (SELECT lang, ($langList)[CAST(-bs.nrank AS INT) + 1] AS pred FROM b),
       |     cells AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
       |               FROM p GROUP BY 1, 2),
       |     r AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nt FROM cells GROUP BY 1)
       |SELECT cells.lang, pred, n,
       |       ${duckRound4("CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)")} AS row_share
       |FROM cells JOIN r ON cells.lang = r.lang
       |ORDER BY cells.lang, pred""".stripMargin
  }

  // ---------- 5c. q_cohens_kappa: chance-corrected agreement ----------

  /** Cohen's κ between the lexicon classifier and the labeled
    * language (Cohen 1960) — the chance-corrected summary
    * [[langAgreement]]'s per-class precision/recall doesn't give: on
    * a skewed label mix, raw accuracy flatters a majority-class
    * guesser; κ subtracts exactly that. κ = (n·Σdiag − Σᵢnᵗᵢ·nᵖᵢ) /
    * (n² − Σᵢnᵗᵢ·nᵖᵢ) — every term an exact integer (cell counts and
    * margin products), ONE division at the edge, so the oracle
    * compare has no float pipeline at all.
    *
    * Shape: the shared [[langPreds]] kernel → one bounded 25-cell
    * contingency aggregate → margin products. All dim-sized.
    */
  def cohensKappa(spark: SparkSession, sfDir: String): DataFrame = {
    val cell = langPreds(spark, sfDir)
      .groupBy("lang", "pred").agg(count(lit(1)).as("c"))
    val tot = cell.agg(sum(col("c")).as("n"),
      sum(when(col("lang") === col("pred"), col("c")).otherwise(lit(0L)))
        .as("n_agree"))
    val nt = cell.groupBy("lang").agg(sum(col("c")).as("nt"))
    val np = cell.groupBy("pred").agg(sum(col("c")).as("np"))
    val pe = nt.join(np, col("lang") === col("pred"))
      .agg(sum(col("nt") * col("np")).as("pe_num"))
    tot.crossJoin(broadcast(pe))
      .select(col("n").as("n_docs"), col("n_agree"),
        round4(col("n_agree").cast("double") /
          col("n").cast("double")).as("p_observed"),
        round4(col("pe_num").cast("double") /
          (col("n") * col("n")).cast("double")).as("p_expected"),
        round4((col("n_agree") * col("n") - col("pe_num")).cast("double") /
          (col("n") * col("n") - col("pe_num")).cast("double")).as("kappa"))
  }

  private val sqlCohensKappa = {
    val langs = TextFns.langMarkers.keys.toSeq.sorted
    val hitSel = langs.map { l =>
      val lex = TextFns.langMarkers(l).map(s => s"'$s'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(ts, t -> list_contains($lex, t))) AS BIGINT) AS hits_$l"
    }.mkString(", ")
    val structs = langs.zipWithIndex
      .map { case (l, i) => s"{'hits': hits_$l, 'nrank': ${-i}}" }
      .mkString("[", ", ", "]")
    val langList = langs.map(l => s"'$l'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, lang, $duckTokens AS ts FROM documents),
       |     h AS (SELECT doc_id, lang, $hitSel FROM t),
       |     u AS (SELECT doc_id, lang, unnest($structs) AS s FROM h),
       |     b AS (SELECT doc_id, lang, max(s) AS bs FROM u GROUP BY 1, 2),
       |     p AS (SELECT lang, ($langList)[CAST(-bs.nrank AS INT) + 1] AS pred FROM b),
       |     cell AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1, 2),
       |     tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
       |                    CAST(sum(CASE WHEN lang = pred THEN c ELSE 0 END) AS BIGINT) AS n_agree
       |             FROM cell),
       |     nt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nt FROM cell GROUP BY 1),
       |     np AS (SELECT pred, CAST(sum(c) AS BIGINT) AS np FROM cell GROUP BY 1),
       |     pe AS (SELECT CAST(sum(nt * np) AS BIGINT) AS pe_num
       |            FROM nt JOIN np ON nt.lang = np.pred)
       |SELECT n AS n_docs, n_agree,
       |       ${duckRound4("CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE)")} AS p_observed,
       |       ${duckRound4("CAST(pe_num AS DOUBLE) / CAST(n * n AS DOUBLE)")} AS p_expected,
       |       ${duckRound4(
                 "CAST(n_agree * n - pe_num AS DOUBLE) / CAST(n * n - pe_num AS DOUBLE)")} AS kappa
       |FROM tot CROSS JOIN pe""".stripMargin
  }

  // ---------- 6. q_text_stats: per-lang corpus statistics ----------

  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("ts"))).as("total_tokens"),
        round(avg(length(col("text"))), 4).as("avg_chars"),
        round(avg(TextFns.qualityScore(col("text"), col("ts"))), 4).as("avg_quality"))
      .orderBy("lang")

  private val sqlTextStats =
    s"""WITH t AS (SELECT lang, text, $duckTokens AS ts FROM documents)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(len(ts)) AS BIGINT) AS total_tokens,
       |       round(avg(length(text)), 4) AS avg_chars,
       |       round(avg($duckQuality), 4) AS avg_quality
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  // ---------- 7. q_token_count: BPE-ish regex token accounting ----------

  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    // regexp_count ≡ size(regexp_extract_all(...)) without
    // materializing the per-doc token ARRAY just to measure it —
    // the match loop is the same, the per-token string allocations
    // and the array copy disappear (guide §1.2 per-task work)
    Tables.documents(spark, sfDir)
      .withColumn("n_tok",
        expr(s"regexp_count(text, '${TextFns.bpeTokenRegex}')"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("total_tokens"),
        max(col("n_tok")).cast("long").as("max_tokens"))
      .orderBy("source")

  private val sqlTokenCount =
    s"""SELECT source, count(*) AS n_docs,
       |       CAST(sum(len(regexp_extract_all(text, '${TextFns.bpeTokenRegex}'))) AS BIGINT) AS total_tokens,
       |       CAST(max(len(regexp_extract_all(text, '${TextFns.bpeTokenRegex}'))) AS BIGINT) AS max_tokens
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------- 7b. q_simhash_neardup: banded-SimHash near-dup clustering ----------

  private val SimBands = 4 // 8-bit bands over the 32-bit fingerprint
  private val MaxHamming = 3 // pigeonhole: ≤3 flipped bits ⇒ ≥1 of 4 bands equal

  /** The third near-dup family endpoint (next to MinHash-LSH set
    * similarity and n-gram Jaccard): character-distribution similarity
    * via SimHash, using the fingerprint's own bits as the blocking
    * key — split the 32-bit simhash into 4 bands of 8 bits; any pair
    * within Hamming distance 3 must agree on at least one whole band
    * (pigeonhole), so candidates meet only inside a band bucket and
    * the exact Hamming check runs per candidate, never all-pairs.
    * Output is cluster assignments (one-hop min-neighbor, as
    * `q_minhash_cluster`), not pair lists.
    *
    * Scale: band width is the recall/cost dial — at larger corpora
    * use more, wider bands (e.g. 6×11 bits of a 64-bit fingerprint
    * for Hamming ≤5); bucket sizes are set by fingerprint entropy,
    * not corpus size, and every step is a key-partitioned join/agg.
    */
  def simhashNearDup(spark: SparkSession, sfDir: String): DataFrame =
    simhashAssignments(Tables.documents(spark, sfDir))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy("cluster_id")

  /** Per-document SimHash near-dup cluster assignment (doc_id →
    * cluster_id) — the SimHash twin of [[minhashAssignments]],
    * factored out so the method-agreement audit and the cluster
    * report can never disagree about the banding decisions.
    */
  private[text] def simhashAssignments(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"),
        graft.functions.TextHashes.simHash(col("text"), SimBits).as("sh"))
    // Collapse to DISTINCT fingerprints before any pairwise work: a
    // doc's Hamming neighborhood depends only on its fingerprint, and
    // pigeonhole guarantees every ≤3-Hamming neighbor shares a band —
    // so each doc's cluster is min(doc ids of its fingerprint
    // neighborhood) = min over related fingerprints' min-doc reps.
    // Exact-duplicate texts (common in real corpora) would otherwise
    // make bucket pair counts quadratic in duplicate multiplicity.
    val fps = docs.groupBy("sh").agg(min(col("doc_id")).as("rep"))
    // packed long band key b·256 + byte — bijective with the oracle's
    // "b:byte" string (same buckets), integer-hashed in the self-join
    val bandKeys = array((0 until SimBands).map { b =>
      ((col("sh") / lit(1L << (b * 8))).cast("long") % 256L) + lit(b * 256L)
    }: _*)
    val bands = fps.select(col("sh"), col("rep"), explode(bandKeys).as("band"))
    // only SMALLER neighbor reps matter: the cluster id is a min;
    // duplicate pairs (several agreeing bands) are absorbed by the
    // min aggregate, no distinct needed
    val pairs = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.rep") > col("b.rep"))
      .filter(TextFns.hammingDist(col("a.sh"), col("b.sh"), SimBits) <= MaxHamming)
      .select(col("a.sh").as("sh"), col("b.rep").as("nbr"))
    val mn = pairs.groupBy("sh").agg(min(col("nbr")).as("mn"))
    val fpCluster = fps.join(mn, Seq("sh"), "left")
      .select(col("sh"), least(col("rep"), coalesce(col("mn"), col("rep"))).as("cluster_id"))
    docs.join(fpCluster, Seq("sh"))
      .select(col("doc_id"), col("cluster_id"))
  }

  private val sqlSimhashNearDup = {
    val bandList = (0 until SimBands).map { b =>
      s"'$b:' || CAST((sh // ${1L << (b * 8)}) % 256 AS VARCHAR)"
    }.mkString("[", ", ", "]")
    s"""WITH c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     t AS (SELECT doc_id, text, $duckTokens AS ts FROM c),
       |     h AS (SELECT doc_id, $duckTokenHashes AS hs FROM t),
       |     s AS (SELECT doc_id, $duckSimHash AS sh FROM h),
       |     fps AS (SELECT sh, min(doc_id) AS rep FROM s GROUP BY sh),
       |     bands AS (SELECT sh, rep, unnest($bandList) AS band FROM fps),
       |     pairs AS (SELECT a.sh AS sh, b.rep AS nbr
       |               FROM bands a JOIN bands b
       |                 ON a.band = b.band AND a.rep > b.rep
       |               WHERE bit_count(xor(a.sh, b.sh)) <= $MaxHamming),
       |     mn AS (SELECT sh, min(nbr) AS mn FROM pairs GROUP BY sh),
       |     fpc AS (SELECT fps.sh,
       |                    least(fps.rep, coalesce(mn.mn, fps.rep)) AS cluster_id
       |             FROM fps LEFT JOIN mn ON fps.sh = mn.sh)
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
       |FROM s JOIN fpc ON s.sh = fpc.sh
       |GROUP BY cluster_id HAVING count(*) > 1
       |ORDER BY cluster_id""".stripMargin
  }

  // ---------- 7c. q_repetition: Gopher-style repeated-n-gram filter ----------

  // 0.1 flags the corpus's top ~2% most-repetitive docs (max measured
  // ratio 0.138) — the gate provably FIRES at every test scale, so a
  // sign flip can't pass the suite; production corpora tune this
  private[text] val RepetitionThreshold = 0.1

  /** Repetition scoring (the Gopher quality rule family): fraction of
    * token 2-grams that are repeats of an earlier 2-gram in the same
    * document — degenerate generated/boilerplate text scores high and
    * gets flagged. Pure per-row array expressions over the staged
    * token/gram columns (no shuffle but the final sort); the corpus
    * has no newlines, so the n-gram form stands in for Gopher's
    * duplicate-line fraction with the same intent.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    // native graft_bigram_stats kernel: one byte walk per row yields
    // (n_grams, n_distinct) with wordNgramsFromTokens' exact gram
    // semantics (incl. short-doc padding) — replaces the interpreted
    // transform+concat_ws gram build and array_distinct's per-row
    // string-array materialization; rep_ratio is the same round4 of
    // 1 − distinct/total
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextHashes.bigramStats(col("text")).as("bs"))
      .select(col("doc_id"),
        col("bs.n_grams").as("n_grams"),
        col("bs.n_distinct").as("n_distinct"),
        round4(lit(1.0) -
          col("bs.n_distinct").cast("double") /
            col("bs.n_grams").cast("double")).as("rep_ratio"))
      .withColumn("is_repetitive", col("rep_ratio") >= RepetitionThreshold)
      .orderBy("doc_id")

  private val duckBigrams = duckNgramsOf(2)

  private val sqlRepetition =
    s"""WITH t AS (SELECT doc_id, $duckTokens AS ts FROM documents),
       |     g AS (SELECT doc_id, $duckBigrams AS grams FROM t),
       |     r AS (SELECT doc_id,
       |                  CAST(len(grams) AS BIGINT) AS n_grams,
       |                  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct
       |           FROM g),
       |     s AS (SELECT doc_id, n_grams, n_distinct,
       |                  ${duckRound4(
                            "1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)")} AS rep_ratio
       |           FROM r)
       |SELECT doc_id, n_grams, n_distinct, rep_ratio,
       |       (rep_ratio >= $RepetitionThreshold) AS is_repetitive
       |FROM s ORDER BY doc_id""".stripMargin

  // ---------- 7d. q_contamination: benchmark-overlap screening ----------

  /** Decontamination screen: fraction of each document's distinct
    * word-3-grams that appear in a held-out probe set — the standard
    * benchmark-contamination check run before training. The probe
    * here is doc 0's gram set (a deterministic stand-in for an eval
    * suite); real usage swaps in the benchmark corpus.
    *
    * Scale: the probe set is BROADCAST (benchmark suites are tiny
    * next to a training corpus), so the membership check is a
    * broadcast semi-join on the exploded grams — per-document work is
    * linear and shuffles only the per-doc hit counts. Docs with zero
    * overlap drop out via the inner join (the interesting output is
    * what to quarantine).
    */
  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .withColumn("grams",
        array_distinct(TextFns.wordNgramsFromTokens(col("ts"), NgramN)))
      .select(col("doc_id"), col("grams"))
    // probe = the distinct gram ROWS of doc 0, broadcast as a hash
    // relation: the membership test is then a broadcast hash join on
    // exploded candidate grams — the probe set is hashed ONCE per
    // executor, vs per-row `array_intersect(grams, probe_array)`
    // which rebuilds the probe hash set on every row (~3× slower at
    // sf0.1 for the same 20-row answer). Both sides are pre-deduped,
    // so the per-doc join hit count ≡ |intersection|; docs with zero
    // overlap drop out via the inner join (what to quarantine is the
    // interesting output).
    // explode_outer here too: plain explode infers size(grams)>0 and
    // inlines the gram pipeline into the filter (cheap for one probe
    // doc, but the banned plan shape); the null row from an empty
    // array can't match the join
    val probe = docs.filter(col("doc_id") === 0)
      .select(explode_outer(col("grams")).as("pgram")).distinct()
    docs.filter(col("doc_id") =!= 0)
      .withColumn("n_grams", size(col("grams")).cast("long"))
      // explode_outer, not explode: an inferred size(grams)>0 filter
      // under a plain Generate inlines the HOF gram pipeline
      // (CLAUDE.md / PlanAuditSpec dupNgrams rule); null grams can't
      // match the inner join, so semantics are identical
      .select(col("doc_id"), col("n_grams"),
        explode_outer(col("grams")).as("gram"))
      .join(broadcast(probe), col("gram") === col("pgram"))
      .groupBy("doc_id")
      .agg(max(col("n_grams")).as("n_grams"), count(lit(1)).as("n_hits"))
      .withColumn("contamination", round4(
        col("n_hits").cast("double") / col("n_grams").cast("double")))
      .select("doc_id", "n_grams", "n_hits", "contamination")
      .orderBy("doc_id")
  }

  private val sqlContamination =
    s"""WITH t AS (SELECT doc_id, $duckTokens AS ts FROM documents),
       |     g AS (SELECT doc_id, list_distinct($duckNgrams) AS grams FROM t),
       |     p AS (SELECT DISTINCT unnest(grams) AS pgram FROM g WHERE doc_id = 0),
       |     x AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
       |           FROM g WHERE doc_id != 0),
       |     h AS (SELECT x.doc_id, CAST(max(x.n_grams) AS BIGINT) AS n_grams,
       |                  count(*) AS n_hits
       |           FROM x JOIN p ON x.gram = p.pgram GROUP BY x.doc_id)
       |SELECT doc_id, n_grams, n_hits,
       |       ${duckRound4(
                 "CAST(n_hits AS DOUBLE) / CAST(n_grams AS DOUBLE)")} AS contamination
       |FROM h ORDER BY doc_id""".stripMargin

  // ---------- 7e. q_dup_ngrams: cross-document duplication profile ----------

  private[text] val DupN = 5 // wide enough that a shared gram means copying

  /** Across-document duplication profile (the RefinedWeb / Gopher
    * corpus-quality measure): per source, how many documents share at
    * least one word-5-gram with ANOTHER document, and what fraction
    * of all per-doc-distinct 5-grams are corpus-duplicated. Unlike
    * [[repetition]] (within-doc repeats) this measures cross-document
    * copying — the signal behind boilerplate/mirror removal.
    *
    * Scale: linear — explode per-doc DISTINCT grams, count docs per
    * gram (grams are pre-deduped per doc, so count(*) IS the doc
    * count), join back on the gram key, aggregate to doc then source.
    * Two key shuffles, no pairwise join anywhere. Per-source ratios
    * are ratios of BIGINT sums (one double division at the end) —
    * never order-dependent double accumulation, so the oracle compare
    * is exact.
    */
  def dupNgrams(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        array_distinct(
          graft.functions.TextHashes.ngramHashes(col("ts"), DupN)).as("grams"))
    // explode_outer, NOT explode: InferFiltersFromGenerate puts a
    // size(grams) > 0 filter under a non-outer Generate, and projection
    // collapse inlines the whole tokenize+gram HOF pipeline into it —
    // every element access re-tokenizes the document (21 s → 2 s at
    // sf0.1). The gram array is never empty (greatest(..., 1) pads), so
    // outer ≡ inner here and no filter is inferred.
    val x = docs.select(col("doc_id"), col("source"),
      explode_outer(col("grams")).as("gram"))
    val nd = x.groupBy("gram").agg(count(lit(1)).as("nd"))
    val perDoc = x.join(nd, Seq("gram"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_dup") > 0, 1L).otherwise(0L)).as("docs_with_dup"),
        round4(sum(col("n_dup")).cast("double") /
          sum(col("n_grams")).cast("double")).as("dup_frac"))
      .orderBy("source")
  }

  private val sqlDupNgrams = {
    val grams5 = duckNgramHashesOf(DupN)
    s"""WITH t AS (SELECT doc_id, source, $duckTokens AS ts FROM documents),
       |     g AS (SELECT doc_id, source, list_distinct($grams5) AS grams FROM t),
       |     x AS (SELECT doc_id, source, unnest(grams) AS gram FROM g),
       |     c AS (SELECT gram, count(*) AS nd FROM x GROUP BY gram),
       |     d AS (SELECT x.doc_id, x.source,
       |                  CAST(count(*) AS BIGINT) AS n_grams,
       |                  CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |           FROM x JOIN c ON x.gram = c.gram GROUP BY x.doc_id, x.source)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_dup,
       |       ${duckRound4(
                 "CAST(sum(n_dup) AS DOUBLE) / CAST(sum(n_grams) AS DOUBLE)")} AS dup_frac
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- 7f. q_vocab_coverage: Zipf-head vocabulary coverage ----------

  private val VocabTopK = 20

  /** Top-k corpus tokens with rank and cumulative share of all token
    * occurrences — the vocabulary-coverage (Zipf head) curve used to
    * budget tokenizer vocabularies and spot boilerplate-dominated
    * corpora.
    *
    * Scale: token counts are one linear hash aggregate; the top-k is
    * TakeOrderedAndProject (k rows cross the wire, not the vocab);
    * the cumulative window runs over exactly k=$VocabTopK rows AFTER
    * the limit (bounded by construction, per the single-partition-
    * window rule), with the corpus total joined in as one broadcast
    * scalar. Ranks tie-break on the token itself, so the order is
    * total and RANGE-vs-ROWS frame semantics cannot diverge.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(explode(TextFns.tokens(col("text"))).as("token"))
    val counts = toks.groupBy("token").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    val top = counts.orderBy(col("n").desc, col("token")).limit(VocabTopK)
    val w = Window.orderBy(col("n").desc, col("token"))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_share", round4(
        sum(col("n")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / col("total").cast("double")))
      .select(col("rank"), col("token"), col("n"), col("cum_share"))
      .orderBy("rank")
  }

  private val sqlVocabCoverage =
    s"""WITH t AS (SELECT $duckTokens AS ts FROM documents),
       |     tok AS (SELECT unnest(ts) AS token FROM t),
       |     c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token),
       |     tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
       |     top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT $VocabTopK)
       |SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank,
       |       token, n,
       |       ${duckRound4(
                 "CAST(sum(n) OVER (ORDER BY n DESC, token " +
                 "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)" +
                 " / CAST((SELECT total FROM tot) AS DOUBLE)")} AS cum_share
       |FROM top
       |ORDER BY rank""".stripMargin

  // ---------- 7g. q_token_shards: capacity-packed training shards ----------

  private val ShardTokens = 5000L

  /** Training-shard packing: fill shards to $ShardTokens whitespace
    * tokens in doc_id order (the sequence-sharding step before
    * tokenized training data is written). Runs on the DISTRIBUTED
    * prefix scan ([[graft.etl.PrefixScan]] — range partition +
    * two-pass offsets, never a single-partition window); the oracle
    * replays the same semantics with a window cumsum, which is fine
    * at oracle scale.
    */
  def tokenShards(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.etl.PrefixScan.packByCapacity(docs, "doc_id", "n_tokens", ShardTokens)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy("shard")
  }

  private val sqlTokenShards =
    s"""WITH t AS (SELECT doc_id, CAST(len($duckTokens) AS BIGINT) AS n_tokens
       |           FROM documents),
       |     p AS (SELECT doc_id, n_tokens,
       |                  coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
       |           FROM t)
       |SELECT CAST(prefix // $ShardTokens AS BIGINT) AS shard,
       |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM p GROUP BY 1 ORDER BY shard""".stripMargin

  // ---------- 8. q_quality_score: per-doc quality (C4-style heuristics) ----------

  def qualityScoreQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("doc_id"),
        round4(TextFns.qualityScore(col("text"), col("ts"))).as("quality"))
      .orderBy("doc_id")

  private val sqlQualityScore =
    s"""WITH t AS (SELECT doc_id, text, $duckTokens AS ts FROM documents)
       |SELECT doc_id, ${duckRound4(duckQuality)} AS quality
       |FROM t ORDER BY doc_id""".stripMargin

  // ---------- q_dataset_card: per-source datasheet row ----------

  /** The datasheet table every corpus release ships (Gebru et al.'s
    * "Datasheets for Datasets" reduced to its per-source quantitative
    * row): volume (docs, chars), language mix (distinct langs +
    * deterministic top language), exact-duplicate count, median
    * length, and mean quality score — one row per source, every
    * number produced by machinery individually oracle-verified
    * elsewhere ([[docDedup]]'s hash, [[TextFns.qualityScore]],
    * exact percentile ≡ quantile_cont).
    *
    * Parity: mean quality goes through integer micro-units
    * (floor(q·10⁶+0.5) summed as DECIMAL — order-independent), one
    * double division chain at the edge; top language breaks count
    * ties on the smaller lang string via a per-source window over
    * lang-grain rows (bounded partitions). Scale: one fact pass +
    * two bounded aggregates; the percentile swaps to
    * `approx_percentile` at 100 TB with the same plan.
    */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val base = docs
      .withColumn("ts", TextFns.tokens(col("text")))
      .withColumn("qm",
        units(TextFns.qualityScore(col("text"), col("ts")), 1e6)
          .cast("decimal(18,0)"))
      .withColumn("h", sha2(normText(col("text")), 256))
    val agg = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars").cast("long")).as("total_chars"),
      countDistinct(col("lang")).as("n_langs"),
      (count(lit(1)) - countDistinct(col("h"))).as("n_dups"),
      percentile(col("n_chars").cast("double"), lit(0.5)).as("p50"),
      sum(col("qm")).as("qsum"))
    val w = Window.partitionBy("source").orderBy(col("c").desc, col("lang"))
    val topLang = docs.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    agg.join(topLang, Seq("source"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        col("n_langs"), col("top_lang"), col("n_dups"),
        round4(col("p50")).as("p50_chars"),
        round4(col("qsum").cast("double") / 1000000.0 /
          col("n_docs").cast("double")).as("mean_quality"))
      .orderBy("source")
  }

  private val sqlDatasetCard =
    s"""WITH t AS (SELECT doc_id, source, lang, n_chars, text, $duckTokens AS ts
       |           FROM documents),
       |     q AS (SELECT source, lang, n_chars,
       |                  CAST(${duckUnits(duckQuality, 1e6)} AS DECIMAL(18,0)) AS qm,
       |                  sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
       |           FROM t),
       |     a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |                  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |                  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |                  CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dups,
       |                  quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50,
       |                  sum(qm) AS qsum
       |           FROM q GROUP BY 1),
       |     lc AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
       |     tl AS (SELECT source, lang AS top_lang FROM lc
       |            QUALIFY row_number() OVER (PARTITION BY source
       |                                       ORDER BY c DESC, lang) = 1)
       |SELECT a.source, a.n_docs, a.total_chars, a.n_langs, tl.top_lang, a.n_dups,
       |       ${duckRound4("p50")} AS p50_chars,
       |       ${duckRound4(
                  "CAST(qsum AS DOUBLE) / 1000000.0 / CAST(n_docs AS DOUBLE)")} AS mean_quality
       |FROM a JOIN tl ON a.source = tl.source ORDER BY a.source""".stripMargin

  // ---------- q_spearman: rank correlation (is quality just length?) ----------

  /** Spearman rank correlation between document length and quality
    * score per source — the redundancy audit on the quality signal:
    * ρ near 1 says the "quality" model is mostly re-ranking by
    * length (its length factor dominating), low ρ says the
    * punctuation/stopword/word-length factors actually contribute.
    * Complements [[graft.olap.OlapStats.corrStats]] (Pearson on
    * values) with the ranks-only statistic robust to any monotone
    * rescaling.
    *
    * Exactness: ranks are row_number over (ROUNDED quality, doc_id)
    * and (n_chars, doc_id) — the round-before-rank rule with integer
    * tie-breaks, so both engines assign identical ranks; Σd² and
    * n(n²−1) accumulate in DECIMAL (n³ overflows long past ~2M docs
    * per source), one double division in ρ = 1 − 6Σd²/(n(n²−1)).
    *
    * Scale: the two rank windows partition by source at doc grain —
    * fine to ~10⁷ docs/source; past that assign ranks with the
    * hierarchical [[graft.etl.PrefixScan]] (the weighted-median
    * pattern) instead of a window, same output contract.
    */
  def spearman(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .withColumn("q", round4(TextFns.qualityScore(col("text"), col("ts"))))
      .select(col("doc_id"), col("source"), col("n_chars"), col("q"))
    val wq = Window.partitionBy("source").orderBy(col("q"), col("doc_id"))
    val wl = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    val ranked = docs
      .withColumn("rq", row_number().over(wq).cast("long"))
      .withColumn("rl", row_number().over(wl).cast("long"))
      .withColumn("d", col("rq") - col("rl"))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("d") * col("d")).cast("decimal(28,0)")).as("sd2"))
      .filter(col("n_docs") > 1)
      .withColumn("nd", col("n_docs").cast("decimal(19,0)"))
      .select(col("source"), col("n_docs"),
        round4(lit(1.0) -
          (lit(6.0) * col("sd2").cast("double")) /
            (col("nd") * (col("nd") * col("nd") - lit(1).cast("decimal(19,0)")))
              .cast("double")).as("rho"))
      .orderBy("source")
  }

  private val sqlSpearman =
    s"""WITH t AS (SELECT doc_id, source, n_chars, text, $duckTokens AS ts
       |           FROM documents),
       |     q AS (SELECT doc_id, source, n_chars,
       |                  ${duckRound4(duckQuality)} AS q FROM t),
       |     r AS (SELECT source,
       |                  CAST(row_number() OVER (PARTITION BY source
       |                         ORDER BY q, doc_id) AS BIGINT) AS rq,
       |                  CAST(row_number() OVER (PARTITION BY source
       |                         ORDER BY n_chars, doc_id) AS BIGINT) AS rl
       |           FROM q),
       |     a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |                  sum(CAST((rq - rl) * (rq - rl) AS DECIMAL(28,0))) AS sd2
       |           FROM r GROUP BY 1 HAVING count(*) > 1)
       |SELECT source, n_docs,
       |       ${duckRound4(
                  "1.0 - (6.0 * CAST(sd2 AS DOUBLE)) / CAST(CAST(n_docs AS DECIMAL(19,0)) * (CAST(n_docs AS DECIMAL(19,0)) * CAST(n_docs AS DECIMAL(19,0)) - CAST(1 AS DECIMAL(19,0))) AS DOUBLE)")} AS rho
       |FROM a ORDER BY source""".stripMargin

  // ---------- q_quality_survival: quality-quartile × dedup cross-tab ----------

  /** Quality-vs-dedup survival matrix: cross-tab of quality-score
    * quartile against whether exact dedup (first-wins on the
    * [[normText]] hash) KEEPS the document — the bias audit a
    * curation pipeline runs before trusting its dedup stage (if
    * boilerplate clusters score high, dedup silently strips the
    * "best" quartile and the surviving mix shifts down).
    *
    * Shape: one fact-keyed window (row_number by content hash — the
    * D1-D3 first-wins rule), ONE exact-percentile aggregate for the
    * three fences (1-row broadcast back; swap `approx_percentile`
    * at 100 TB exactly as in winsorize/MAD), one bounded cross-tab.
    * Parity: the quartile compare runs on the round4'd score (the
    * round-before-compare rule) against `percentile` ≡
    * `quantile_cont` fences (bit-identical, verified); kept_ratio is
    * a division of exact BIGINTs rounded once.
    */
  def qualitySurvival(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("doc_id"),
        round4(TextFns.qualityScore(col("text"), col("ts"))).as("quality"),
        sha2(normText(col("text")), 256).as("nh"))
    val wFirst = Window.partitionBy("nh").orderBy("doc_id")
    val kept = docs.withColumn("kept", row_number().over(wFirst) === 1)
    val fences = kept.agg(
      expr("percentile(quality, array(0.25D, 0.5D, 0.75D))").as("f"))
    kept.crossJoin(broadcast(fences))
      .withColumn("quartile",
        when(col("quality") <= element_at(col("f"), 1), 1)
          .when(col("quality") <= element_at(col("f"), 2), 2)
          .when(col("quality") <= element_at(col("f"), 3), 3)
          .otherwise(4))
      .groupBy("quartile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_ratio",
        round4(col("n_kept").cast("double") / col("n_docs").cast("double")))
      .orderBy("quartile")
  }

  private val sqlQualitySurvival =
    s"""WITH t AS (SELECT doc_id, text, $duckTokens AS ts FROM documents),
       |     q AS (SELECT doc_id, ${duckRound4(duckQuality)} AS quality,
       |             sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS nh
       |           FROM t),
       |     k AS (SELECT doc_id, quality,
       |             row_number() OVER (PARTITION BY nh ORDER BY doc_id) = 1 AS kept
       |           FROM q),
       |     f AS (SELECT quantile_cont(quality, 0.25) AS f1,
       |                  quantile_cont(quality, 0.5) AS f2,
       |                  quantile_cont(quality, 0.75) AS f3 FROM k),
       |     a AS (SELECT CASE WHEN quality <= f1 THEN 1
       |                       WHEN quality <= f2 THEN 2
       |                       WHEN quality <= f3 THEN 3 ELSE 4 END AS quartile,
       |                  kept
       |           FROM k CROSS JOIN f)
       |SELECT quartile, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       ${duckRound4(
                  "CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)" +
                    " / CAST(count(*) AS DOUBLE)")} AS kept_ratio
       |FROM a GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_anti_join: unique-doc complement of exact dedup ----------

  /** The anti-join operator in its dedup-pipeline role: documents with
    * NO exact duplicate anywhere in the corpus (the complement of
    * [[docDedup]]'s duplicate groups), summarized per language. Shape:
    * hash aggregate over the normalized-text hash to find duplicated
    * keys, then `left_anti` (≡ NOT EXISTS) from the corpus against
    * that key set. Both sides shuffle on the hash key — the duplicated-
    * key set is corpus-proportional, so it is NOT broadcast (contrast
    * [[contamination]]'s bounded probe set, which is).
    */
  def uniqueDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("h", sha2(normText(col("text")), 256))
    val dupKeys = docs.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("h")
    docs.join(dupKeys, Seq("h"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_unique"),
        round4(avg(col("n_chars"))).as("avg_chars"))
      .orderBy("lang")
  }

  private val sqlAntiJoin =
    s"""WITH hs AS (SELECT lang, n_chars,
       |                   sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
       |            FROM documents),
       |     d AS (SELECT h FROM hs GROUP BY h HAVING count(*) > 1)
       |SELECT lang, count(*) AS n_unique,
       |       ${duckRound4("avg(n_chars)")} AS avg_chars
       |FROM hs WHERE NOT EXISTS (SELECT 1 FROM d WHERE d.h = hs.h)
       |GROUP BY 1 ORDER BY lang""".stripMargin

  // ---------- 5d. q_mcnemar: paired classifier comparison ----------

  /** McNemar's test statistic comparing the lexicon language-ID
    * against the majority-class baseline on PAIRED documents — the
    * standard "does my classifier beat always-guess-the-mode,
    * discordant-pairs-significant?" gate (McNemar 1947; the paired
    * sibling of [[cohensKappa]]'s chance correction). Only the
    * discordant cells carry signal: χ² = (b−c)²/(b+c) over
    * b = classifier-only-correct, c = baseline-only-correct.
    *
    * Determinism: the baseline's majority language is elected by an
    * exact count with alphabetical tie-break (struct-min over
    * (−count, lang) ≡ ORDER BY count DESC, lang LIMIT 1); every cell
    * is an exact integer; the statistic is ONE ratio of integers,
    * round4 at the edge.
    *
    * Shape: the shared [[langPreds]] kernel (one pass over tokens),
    * a lang-cardinality mode election broadcast back, one bounded
    * 4-cell aggregate. Linear in tokens at any SF.
    */
  def mcnemar(spark: SparkSession, sfDir: String): DataFrame = {
    val preds = langPreds(spark, sfDir)
    val maj = preds.groupBy("lang").agg(count(lit(1)).as("c"))
      .agg(min(struct((-col("c")).as("nc"), col("lang").as("l"))).as("m"))
      .select(col("m.l").as("maj_lang"))
    preds.crossJoin(broadcast(maj))
      .select((col("pred") === col("lang")).as("a_ok"),
        (col("lang") === col("maj_lang")).as("b_ok"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("a_ok") && col("b_ok"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("a_ok") && !col("b_ok"), 1L).otherwise(0L)).as("n_a_only"),
        sum(when(!col("a_ok") && col("b_ok"), 1L).otherwise(0L)).as("n_b_only"),
        sum(when(!col("a_ok") && !col("b_ok"), 1L).otherwise(0L)).as("n_neither"))
      .withColumn("mcnemar_chi2",
        when(col("n_a_only") + col("n_b_only") === 0, lit(0.0))
          .otherwise(round4(
            ((col("n_a_only") - col("n_b_only")) *
              (col("n_a_only") - col("n_b_only"))).cast("double") /
              (col("n_a_only") + col("n_b_only")).cast("double"))))
  }

  private val sqlMcnemar = {
    val langs = TextFns.langMarkers.keys.toSeq.sorted
    val hitSel = langs.map { l =>
      val lex = TextFns.langMarkers(l).map(s => s"'$s'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(ts, t -> list_contains($lex, t))) AS BIGINT) AS hits_$l"
    }.mkString(", ")
    val structs = langs.zipWithIndex
      .map { case (l, i) => s"{'hits': hits_$l, 'nrank': ${-i}}" }
      .mkString("[", ", ", "]")
    val langList = langs.map(l => s"'$l'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, lang, $duckTokens AS ts FROM documents),
       |     h AS (SELECT doc_id, lang, $hitSel FROM t),
       |     u AS (SELECT doc_id, lang, unnest($structs) AS s FROM h),
       |     b AS (SELECT doc_id, lang, max(s) AS bs FROM u GROUP BY 1, 2),
       |     p AS (SELECT lang, ($langList)[CAST(-bs.nrank AS INT) + 1] AS pred FROM b),
       |     maj AS (SELECT lang AS maj_lang FROM (
       |               SELECT lang, count(*) AS c FROM p GROUP BY 1
       |               ORDER BY c DESC, lang LIMIT 1)),
       |     j AS (SELECT (pred = lang) AS a_ok,
       |                  (lang = (SELECT maj_lang FROM maj)) AS b_ok FROM p),
       |     g AS (SELECT count(*) AS n_docs,
       |                  sum(CASE WHEN a_ok AND b_ok THEN 1 ELSE 0 END) AS n_both,
       |                  sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS n_a_only,
       |                  sum(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END) AS n_b_only,
       |                  sum(CASE WHEN NOT a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS n_neither
       |           FROM j)
       |SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(n_both AS BIGINT) AS n_both,
       |       CAST(n_a_only AS BIGINT) AS n_a_only,
       |       CAST(n_b_only AS BIGINT) AS n_b_only,
       |       CAST(n_neither AS BIGINT) AS n_neither,
       |       CASE WHEN n_a_only + n_b_only = 0 THEN 0.0
       |            ELSE ${duckRound4(
                      "CAST((n_a_only - n_b_only) * (n_a_only - n_b_only) AS DOUBLE) " +
                        "/ CAST(n_a_only + n_b_only AS DOUBLE)")} END AS mcnemar_chi2
       |FROM g""".stripMargin
  }

  // ---------- 5e. q_fleiss_kappa: multi-gate agreement ----------

  /** Fleiss' κ across the corpus' THREE dedup raters — exact
    * (normalized-hash), MinHash-LSH, SimHash — each voting dup/keep
    * per document (Fleiss 1971). [[methodAgreement]] reports the raw
    * 2-method contingency; Fleiss is the chance-corrected m-rater
    * summary a curation pipeline quotes when deciding whether gates
    * are redundant (κ→1) or complementary (κ→0). The dup convention
    * matches methodAgreement: a doc is "dup" under a method iff it is
    * not its own cluster representative (exact: not the min doc_id of
    * its normalized-hash group).
    *
    * Determinism/parity: with m=3 raters and 2 categories, κ
    * collapses to ONE ratio of exact integers:
    * κ = (3N(S2−3N) − 2(D²+(3N−D)²)) / (18N² − 2(D²+(3N−D)²)) where
    * D = Σ dup votes and S2 = Σ(nd²+(3−nd)²) — no float anywhere
    * before the final round4. (Integer headroom: 27N² < 2⁶³ up to
    * N ≈ 5.8×10⁸ docs per partition-of-compute; beyond that widen to
    * DECIMAL.)
    *
    * Shape: the three assignment kernels are each linear
    * (hash-aggregate / banded, never all-pairs); the vote join is
    * doc-keyed; the κ computation is one global 3-integer aggregate.
    */
  def fleissKappa(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val exact = docs
      .withColumn("h", sha2(normText(col("text")), 256))
      .withColumn("minid", min(col("doc_id")).over(Window.partitionBy("h")))
      .select(col("doc_id"), (col("doc_id") =!= col("minid")).as("ex_dup"))
    val lsh = minhashAssignments(docs)
      .select(col("doc_id"), (col("doc_id") =!= col("cluster_id")).as("lsh_dup"))
    val sim = simhashAssignments(docs)
      .select(col("doc_id"), (col("doc_id") =!= col("cluster_id")).as("sim_dup"))
    val votes = exact.join(lsh, "doc_id").join(sim, "doc_id")
      .select((col("ex_dup").cast("long") + col("lsh_dup").cast("long") +
        col("sim_dup").cast("long")).as("nd"))
    votes.agg(count(lit(1)).as("n"), sum(col("nd")).as("d"),
        sum(col("nd") * col("nd") + (lit(3L) - col("nd")) * (lit(3L) - col("nd")))
          .as("s2"))
      .select(col("n").as("n_docs"), col("d").as("n_dup_votes"),
        round4((col("s2") - lit(3L) * col("n")).cast("double") /
          (lit(6L) * col("n")).cast("double")).as("p_bar"),
        round4((col("d") * col("d") +
          (lit(3L) * col("n") - col("d")) * (lit(3L) * col("n") - col("d")))
          .cast("double") / (lit(9L) * col("n") * col("n")).cast("double"))
          .as("p_expected"),
        round4(
          (lit(3L) * col("n") * (col("s2") - lit(3L) * col("n")) -
            lit(2L) * (col("d") * col("d") +
              (lit(3L) * col("n") - col("d")) * (lit(3L) * col("n") - col("d"))))
            .cast("double") /
          (lit(18L) * col("n") * col("n") -
            lit(2L) * (col("d") * col("d") +
              (lit(3L) * col("n") - col("d")) * (lit(3L) * col("n") - col("d"))))
            .cast("double")).as("kappa"))
  }

  /** Shared oracle WITH-prefix rebuilding the three dedup raters'
    * per-doc dup-vote counts (`votes(nd)`) — consumed by
    * [[sqlFleissKappa]] and [[sqlKrippendorff]].
    */
  private def duckDupVotes = {
    val simBandList = (0 until SimBands).map { b =>
      s"'$b:' || CAST((sh // ${1L << (b * 8)}) % 256 AS VARCHAR)"
    }.mkString("[", ", ", "]")
    s"""c AS (SELECT doc_id, text, $duckCodes AS cs FROM documents),
       |     ex AS (SELECT doc_id,
       |              (doc_id <> min(doc_id) OVER (PARTITION BY
       |                sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))) AS ex_dup
       |            FROM documents),
       |     s0 AS (SELECT doc_id, $duckShingles AS shs FROM c),
       |     g AS (SELECT doc_id, $duckSignature AS sig FROM s0),
       |     mbands AS (SELECT doc_id, unnest($duckBandKeys) AS band FROM g),
       |     mreps AS (SELECT band, min(doc_id) AS rep FROM mbands GROUP BY band),
       |     mcl AS (SELECT mbands.doc_id, min(mreps.rep) AS cluster_id
       |             FROM mbands JOIN mreps ON mbands.band = mreps.band
       |             GROUP BY mbands.doc_id),
       |     lsh AS (SELECT doc_id, (doc_id <> cluster_id) AS lsh_dup FROM mcl),
       |     t AS (SELECT doc_id, text, $duckTokens AS ts FROM c),
       |     h AS (SELECT doc_id, $duckTokenHashes AS hs FROM t),
       |     sh0 AS (SELECT doc_id, $duckSimHash AS sh FROM h),
       |     fps AS (SELECT sh, min(doc_id) AS rep FROM sh0 GROUP BY sh),
       |     sbands AS (SELECT sh, rep, unnest($simBandList) AS band FROM fps),
       |     spairs AS (SELECT a.sh AS sh, b.rep AS nbr
       |                FROM sbands a JOIN sbands b
       |                  ON a.band = b.band AND a.rep > b.rep
       |                WHERE bit_count(xor(a.sh, b.sh)) <= $MaxHamming),
       |     smn AS (SELECT sh, min(nbr) AS mn FROM spairs GROUP BY sh),
       |     fcl AS (SELECT fps.sh, least(fps.rep, coalesce(smn.mn, fps.rep)) AS cluster_id
       |             FROM fps LEFT JOIN smn ON fps.sh = smn.sh),
       |     simv AS (SELECT sh0.doc_id, (sh0.doc_id <> fcl.cluster_id) AS sim_dup
       |              FROM sh0 JOIN fcl ON sh0.sh = fcl.sh),
       |     votes AS (SELECT (CASE WHEN ex.ex_dup THEN 1 ELSE 0 END +
       |                       CASE WHEN lsh.lsh_dup THEN 1 ELSE 0 END +
       |                       CASE WHEN simv.sim_dup THEN 1 ELSE 0 END) AS nd
       |               FROM ex JOIN lsh USING (doc_id) JOIN simv USING (doc_id))""".stripMargin
  }

  private def sqlFleissKappa =
    s"""WITH $duckDupVotes,
       |     agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |                    CAST(sum(nd) AS BIGINT) AS d,
       |                    CAST(sum(nd * nd + (3 - nd) * (3 - nd)) AS BIGINT) AS s2
       |             FROM votes)
       |SELECT n AS n_docs, d AS n_dup_votes,
       |       ${duckRound4(
                 "CAST(s2 - 3 * n AS DOUBLE) / CAST(6 * n AS DOUBLE)")} AS p_bar,
       |       ${duckRound4(
                 "CAST(d * d + (3 * n - d) * (3 * n - d) AS DOUBLE) " +
                   "/ CAST(9 * n * n AS DOUBLE)")} AS p_expected,
       |       ${duckRound4(
                 "CAST(3 * n * (s2 - 3 * n) - 2 * (d * d + (3 * n - d) * (3 * n - d)) AS DOUBLE) " +
                   "/ CAST(18 * n * n - 2 * (d * d + (3 * n - d) * (3 * n - d)) AS DOUBLE)")} AS kappa
       |FROM agg""".stripMargin

  // ---------- 5e¹. q_krippendorff: Krippendorff's alpha (nominal) ----------

  /** Krippendorff's α (1970, nominal data) over the SAME three dedup
    * raters as [[fleissKappa]] — the agreement coefficient that
    * generalizes to missing ratings and many raters, quoted alongside
    * Fleiss when annotation pipelines are audited. With m=3 complete
    * binary ratings it reduces to exact integer arithmetic:
    * per-unit observed disagreement is nd·(3−nd) disagreeing pairs of
    * 3, so Do = P/(3N) with P = Σ nd(3−nd); expected disagreement
    * uses the JOINT value distribution over all 3N ratings
    * (Krippendorff's (n(n−1)) pairing — the α-vs-κ difference):
    * De = 2D(3N−D)/(3N(3N−1)); α = 1 − P(3N−1)/(2D(3N−D)) — one
    * rational of longs, round4 at the edge (headroom: N·N terms,
    * widen to DECIMAL past ~10⁹ docs).
    *
    * Shape: identical to [[fleissKappa]] — three linear assignment
    * kernels, one doc-keyed vote join, one 3-integer global aggregate.
    */
  def krippendorffAlpha(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val exact = docs
      .withColumn("h", sha2(normText(col("text")), 256))
      .withColumn("minid", min(col("doc_id")).over(Window.partitionBy("h")))
      .select(col("doc_id"), (col("doc_id") =!= col("minid")).as("ex_dup"))
    val lsh = minhashAssignments(docs)
      .select(col("doc_id"), (col("doc_id") =!= col("cluster_id")).as("lsh_dup"))
    val sim = simhashAssignments(docs)
      .select(col("doc_id"), (col("doc_id") =!= col("cluster_id")).as("sim_dup"))
    val votes = exact.join(lsh, "doc_id").join(sim, "doc_id")
      .select((col("ex_dup").cast("long") + col("lsh_dup").cast("long") +
        col("sim_dup").cast("long")).as("nd"))
    votes.agg(count(lit(1)).as("n"), sum(col("nd")).as("d"),
        sum(col("nd") * (lit(3L) - col("nd"))).as("p"))
      .select(col("n").as("n_docs"), col("d").as("n_dup_votes"),
        round4(col("p").cast("double") /
          (lit(3L) * col("n")).cast("double")).as("d_observed"),
        round4((lit(2L) * col("d") * (lit(3L) * col("n") - col("d")))
          .cast("double") /
          (lit(3L) * col("n") * (lit(3L) * col("n") - lit(1L))).cast("double"))
          .as("d_expected"),
        round4(lit(1.0) -
          (col("p") * (lit(3L) * col("n") - lit(1L))).cast("double") /
          (lit(2L) * col("d") * (lit(3L) * col("n") - col("d"))).cast("double"))
          .as("alpha"))
  }

  private def sqlKrippendorff =
    s"""WITH $duckDupVotes,
       |     agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |                    CAST(sum(nd) AS BIGINT) AS d,
       |                    CAST(sum(nd * (3 - nd)) AS BIGINT) AS p
       |             FROM votes)
       |SELECT n AS n_docs, d AS n_dup_votes,
       |       ${duckRound4("CAST(p AS DOUBLE) / CAST(3 * n AS DOUBLE)")} AS d_observed,
       |       ${duckRound4(
                 "CAST(2 * d * (3 * n - d) AS DOUBLE) / CAST(3 * n * (3 * n - 1) AS DOUBLE)")} AS d_expected,
       |       ${duckRound4(
                 "1.0 - CAST(p * (3 * n - 1) AS DOUBLE) / CAST(2 * d * (3 * n - d) AS DOUBLE)")} AS alpha
       |FROM agg""".stripMargin

  // ---------- 5e². q_self_bleu: corpus-diversity self-BLEU screen ----------

  /** Set-semantics self-BLEU diversity screen per source (Zhu et al.
    * 2018's Texygen metric, the standard "is this generated/scraped
    * corpus collapsing onto itself" number): for each document, the
    * fraction of its DISTINCT unigrams / bigrams that also occur in
    * ANOTHER document of the same source (source-df ≥ 2 — set
    * semantics replace BLEU's clipped counts, keeping every ratio a
    * rational of exact integers), combined as the 2-gram geometric
    * mean √p₁·√p₂ (two correctly-rounded sqrts multiplied — the
    * cross-engine-safe form; never sqrt(p₁·p₂)). High mean self-BLEU
    * = low diversity = the source is boilerplate-heavy even where
    * whole-document dedup finds nothing.
    *
    * Shape: distinct-gram fan-out (array_distinct before explode, so
    * the gram shuffle is set-grain), one (source, gram) df aggregate
    * per width, one doc-grain hit count each, one source-grain mean —
    * linear, no pair stage. Parity: per-doc scores are exact-integer
    * ratios through sqrt; the source mean is a round6-DECIMAL sum
    * divided once at the edge.
    */
  def selfBleu(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        array_distinct(col("ts")).as("g1arr"),
        array_distinct(
          graft.functions.TextHashes.ngramHashes(col("ts"), 2)).as("g2arr"))
      .localCheckpoint(true)
    def hits(gcol: String): DataFrame = {
      val u = d.select(col("doc_id"), col("source"),
          explode_outer(col(gcol)).as("g"))
        .filter(col("g").isNotNull)
      val df = u.groupBy("source", "g").agg(count(lit(1)).as("df"))
      u.join(df, Seq("source", "g"))
        .groupBy("doc_id")
        .agg(sum(when(col("df") >= 2, 1L).otherwise(0L)).as("h"),
          count(lit(1)).as("ng"))
    }
    val h1 = hits("g1arr").withColumnRenamed("h", "h1").withColumnRenamed("ng", "ng1")
    val h2 = hits("g2arr").withColumnRenamed("h", "h2").withColumnRenamed("ng", "ng2")
    val per = d.select(col("doc_id"), col("source"))
      .join(h1, "doc_id").join(h2, "doc_id")
      .withColumn("score",
        sqrt(col("h1").cast("double") / col("ng1").cast("double")) *
          sqrt(col("h2").cast("double") / col("ng2").cast("double")))
      .withColumn("s6", round6(col("score"))
        .cast("decimal(28,6)"))
    per.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") === 1.0, 1L).otherwise(0L)).as("n_saturated"),
        sum(col("s6")).as("ssum"))
      .select(col("source"), col("n_docs"), col("n_saturated"),
        round4(col("ssum").cast("double") /
          col("n_docs").cast("double")).as("mean_self_bleu"))
      .orderBy("source")
  }

  private def sqlSelfBleu = {
    s"""WITH t AS (SELECT doc_id, source, $duckTokens AS ts FROM documents),
       |     d AS (SELECT doc_id, source, list_distinct(ts) AS g1arr,
       |                  list_distinct(${duckNgramHashesOf(2)}) AS g2arr
       |           FROM t),
       |     u1 AS (SELECT doc_id, source, unnest(g1arr) AS g FROM d),
       |     f1 AS (SELECT source, g, count(*) AS df FROM u1 GROUP BY 1, 2),
       |     h1 AS (SELECT doc_id,
       |                   sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS h1,
       |                   count(*) AS ng1
       |            FROM u1 JOIN f1 USING (source, g) GROUP BY 1),
       |     u2 AS (SELECT doc_id, source, unnest(g2arr) AS g FROM d),
       |     f2 AS (SELECT source, g, count(*) AS df FROM u2 GROUP BY 1, 2),
       |     h2 AS (SELECT doc_id,
       |                   sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS h2,
       |                   count(*) AS ng2
       |            FROM u2 JOIN f2 USING (source, g) GROUP BY 1),
       |     per AS (SELECT d.doc_id, d.source,
       |                    sqrt(CAST(h1 AS DOUBLE) / CAST(ng1 AS DOUBLE)) *
       |                      sqrt(CAST(h2 AS DOUBLE) / CAST(ng2 AS DOUBLE)) AS score
       |             FROM d JOIN h1 ON d.doc_id = h1.doc_id
       |                    JOIN h2 ON d.doc_id = h2.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN score = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated,
       |       ${duckRound4(s"CAST(sum(CAST(${duckRound6("score")} AS DECIMAL(28,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS mean_self_bleu
       |FROM per GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- 3d². q_split_leakage: cross-split near-dup edge audit ----------

  /** The audit that justifies [[leakageSplit]]'s cluster-atomic
    * design: count near-dup COLLISION EDGES whose endpoints land in
    * different train/val/test splits under (a) the cluster-atomic
    * hash split (leak = 0 by construction — both endpoints share a
    * component, components split atomically) and (b) the naive
    * per-document hash split every pipeline starts with (leak > 0 —
    * eval documents with training-set near-duplicates, the
    * memorization-contamination failure). Shipping both rows turns
    * "trust me, split by cluster" into a measured delta.
    *
    * Shape: the edge list is the banded collision set (linear — at
    * most NumBands edges per doc, never pairs-in-bucket); splits are
    * content-derived hashes ([[graft.functions.TextHashes.polyHash]],
    * the Sampling membership rule); two doc-keyed joins + one global
    * aggregate. The closure ([[docComponents]]) is the same fixpoint
    * the dedup pipeline already pays for.
    */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // one signature scan for BOTH the labeling and the edge list: the
    // closure's checkpointed collision set IS the edge set (already
    // distinct (doc_id, rep) pairs)
    val (comp, br) = docComponentsWithCollisions(docs)
    val edges = br
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("a"), col("doc_id").as("b"))
    def split10(c: Column): Column =
      pmod(graft.functions.TextHashes.polyHash(c.cast("string")), lit(10L))
    def splitLab(b: Column): Column =
      when(b < 8, "train").when(b === 8, "val").otherwise("test")
    val sp = comp.select(col("doc_id"),
      splitLab(split10(col("component"))).as("s_cluster"),
      splitLab(split10(col("doc_id"))).as("s_naive"))
    val e2 = edges
      .join(sp.select(col("doc_id").as("a"), col("s_cluster").as("ca"),
        col("s_naive").as("na")), "a")
      .join(sp.select(col("doc_id").as("b"), col("s_cluster").as("cb"),
        col("s_naive").as("nb")), "b")
    val out = e2.agg(count(lit(1)).as("n_edges"),
        sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L)).as("x_cluster"),
        sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)).as("x_naive"))
      .select(explode(array(
        struct(lit("cluster_atomic").as("method"), col("n_edges"),
          col("x_cluster").as("n_cross")),
        struct(lit("doc_hash").as("method"), col("n_edges"),
          col("x_naive").as("n_cross")))).as("r"))
      .select(col("r.method").as("method"), col("r.n_edges").as("n_edges"),
        col("r.n_cross").as("n_cross"))
      .withColumn("leak_pct",
        when(col("n_edges") === 0, lit(0.0)).otherwise(round4(
          col("n_cross").cast("double") / col("n_edges").cast("double"))))
      .orderBy("method")
    // materialize the 2-row result, then free the checkpointed
    // collision set NOW — Bench runs each query 4+ times per session
    // and un-freed blocks accumulate until ContextCleaner GC
    val res = out.localCheckpoint(true)
    Stage.free(br)
    res
  }

  private def sqlSplitLeakage = {
    def h10(e: String) =
      s"(list_reduce([CAST(0 AS BIGINT)] || list_transform(" +
        s"range(1, greatest(length(CAST($e AS VARCHAR)), 1) + 1), " +
        s"i -> CAST(ascii(substring(CAST($e AS VARCHAR), CAST(i AS INT), 1)) AS BIGINT)), " +
        s"(acc, c) -> (acc * 31 + c) % $p) % 10)"
    def lab(e: String) =
      s"(CASE WHEN ${h10(e)} < 8 THEN 'train' WHEN ${h10(e)} = 8 THEN 'val' ELSE 'test' END)"
    s"""$duckCcComp,
       |     sp AS (SELECT node AS doc_id,
       |                   ${lab("component")} AS s_cluster,
       |                   ${lab("node")} AS s_naive
       |            FROM comp),
       |     j AS (SELECT ha.s_cluster AS ca, hb.s_cluster AS cb,
       |                  ha.s_naive AS na, hb.s_naive AS nb
       |           FROM e0 JOIN sp ha ON e0.a = ha.doc_id
       |                   JOIN sp hb ON e0.b = hb.doc_id),
       |     t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
       |                  CAST(sum(CASE WHEN ca <> cb THEN 1 ELSE 0 END) AS BIGINT) AS x_cluster,
       |                  CAST(sum(CASE WHEN na <> nb THEN 1 ELSE 0 END) AS BIGINT) AS x_naive
       |           FROM j)
       |SELECT method, n_edges, n_cross,
       |       CASE WHEN n_edges = 0 THEN 0.0
       |            ELSE ${duckRound4(
                      "CAST(n_cross AS DOUBLE) / CAST(n_edges AS DOUBLE)")} END AS leak_pct
       |FROM (SELECT 'cluster_atomic' AS method, n_edges, x_cluster AS n_cross FROM t
       |      UNION ALL
       |      SELECT 'doc_hash' AS method, n_edges, x_naive AS n_cross FROM t)
       |ORDER BY method""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_anti_join" -> (uniqueDocs _),
    "q_doc_dedup" -> (docDedup _),
    "q_doc_fingerprint" -> (docFingerprint _),
    "q_minhash_cluster" -> (minhashCluster _),
    "q_minhash_est" -> (minhashEst _),
    "q_bbit_minhash" -> (bbitMinhash _),
    "q_lsh_curve" -> (lshCurve _),
    "q_cluster_sizes" -> (clusterSizes _),
    "q_dup_rate" -> (dupRate _),
    "q_dedup_savings" -> (dedupSavings _),
    "q_dedup_chain" -> (dedupChain _),
    "q_modularity" -> (modularity _),
    "q_dataset_card" -> (datasetCard _),
    "q_spearman" -> (spearman _),
    "q_dedup_bias" -> (dedupBias _),
    "q_method_agreement" -> (methodAgreement _),
    "q_cluster_purity" -> (clusterPurity _),
    "q_bcubed" -> (bcubed _),
    "q_gram_curve" -> (gramCurve _),
    "q_mcc" -> (mccGate _),
    "q_brier" -> (brierScore _),
    "q_pagerank" -> (pagerank _),
    "q_hits" -> (hitsQ _),
    "q_degree_mix" -> (degreeMix _),
    "q_cc_refresh" -> (ccRefresh _),
    "q_cc_forget" -> (ccForget _),
    "q_dedup_provenance" -> (dedupProvenance _),
    "q_kcore" -> (kcore _),
    "q_bfs_khop" -> (bfsKhop _),
    "q_label_prop" -> (labelProp _),
    "q_delta_dedup" -> (deltaDedup _),
    "q_cc_clusters" -> (ccClusters _),
    "q_leakage_split" -> (leakageSplit _),
    "q_canonical_docs" -> (canonicalDocs _),
    "q_simhash_neardup" -> (simhashNearDup _),
    "q_repetition" -> (repetition _),
    "q_contamination" -> (contamination _),
    "q_dup_ngrams" -> (dupNgrams _),
    "q_vocab_coverage" -> (vocabCoverage _),
    "q_token_shards" -> (tokenShards _),
    "q_ngram_jaccard" -> (ngramJaccard _),
    "q_ppjoin" -> (ppjoin _),
    "q_krippendorff" -> (krippendorffAlpha _),
    "q_self_bleu" -> (selfBleu _),
    "q_containment" -> (containment _),
    "q_lang_id" -> (langId _),
    "q_lang_agreement" -> (langAgreement _),
    "q_lang_confusion" -> (langConfusion _),
    "q_cohens_kappa" -> (cohensKappa _),
    "q_mcnemar" -> (mcnemar _),
    "q_fleiss_kappa" -> (fleissKappa _),
    "q_split_leakage" -> (splitLeakage _),
    "q_text_stats" -> (textStats _),
    "q_token_count" -> (tokenCount _),
    "q_quality_score" -> (qualityScoreQ _),
    "q_quality_survival" -> (qualitySurvival _))

  val oracle: Map[String, String] = Map(
    "q_anti_join" -> sqlAntiJoin,
    "q_doc_dedup" -> sqlDocDedup,
    "q_doc_fingerprint" -> sqlDocFingerprint,
    "q_minhash_cluster" -> sqlMinhashCluster,
    "q_minhash_est" -> sqlMinhashEst,
    "q_bbit_minhash" -> sqlBbitMinhash,
    "q_lsh_curve" -> sqlLshCurve,
    "q_cluster_sizes" -> sqlClusterSizes,
    "q_dup_rate" -> sqlDupRate,
    "q_dedup_savings" -> sqlDedupSavings,
    "q_dedup_chain" -> sqlDedupChain,
    "q_modularity" -> sqlModularity,
    "q_dataset_card" -> sqlDatasetCard,
    "q_spearman" -> sqlSpearman,
    "q_dedup_bias" -> sqlDedupBias,
    "q_method_agreement" -> sqlMethodAgreement,
    "q_cluster_purity" -> sqlClusterPurity,
    "q_bcubed" -> sqlBcubed,
    "q_gram_curve" -> sqlGramCurve,
    "q_mcc" -> sqlMccGate,
    "q_brier" -> sqlBrierScore,
    "q_pagerank" -> sqlPagerank,
    "q_hits" -> sqlHits,
    "q_degree_mix" -> sqlDegreeMix,
    "q_cc_refresh" -> sqlCcRefresh,
    "q_cc_forget" -> sqlCcForget,
    "q_dedup_provenance" -> sqlDedupProvenance,
    "q_kcore" -> sqlKcore,
    "q_bfs_khop" -> sqlBfsKhop,
    "q_label_prop" -> sqlLabelProp,
    "q_delta_dedup" -> sqlDeltaDedup,
    "q_cc_clusters" -> sqlCcClusters,
    "q_leakage_split" -> sqlLeakageSplit,
    "q_canonical_docs" -> sqlCanonicalDocs,
    "q_simhash_neardup" -> sqlSimhashNearDup,
    "q_repetition" -> sqlRepetition,
    "q_contamination" -> sqlContamination,
    "q_dup_ngrams" -> sqlDupNgrams,
    "q_vocab_coverage" -> sqlVocabCoverage,
    "q_token_shards" -> sqlTokenShards,
    "q_ngram_jaccard" -> sqlNgramJaccard,
    "q_ppjoin" -> sqlPpjoin,
    "q_krippendorff" -> sqlKrippendorff,
    "q_self_bleu" -> sqlSelfBleu,
    "q_containment" -> sqlContainment,
    "q_lang_id" -> sqlLangId,
    "q_lang_agreement" -> sqlLangAgreement,
    "q_lang_confusion" -> sqlLangConfusion,
    "q_mcnemar" -> sqlMcnemar,
    "q_fleiss_kappa" -> sqlFleissKappa,
    "q_split_leakage" -> sqlSplitLeakage,
    "q_cohens_kappa" -> sqlCohensKappa,
    "q_text_stats" -> sqlTextStats,
    "q_token_count" -> sqlTokenCount,
    "q_quality_score" -> sqlQualityScore,
    "q_quality_survival" -> sqlQualitySurvival)
}
