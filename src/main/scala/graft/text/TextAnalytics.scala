package graft.text

import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckUnits, round4, units}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level term statistics and deterministic sampling — the
  * text-analysis shapes that sit between per-document scoring
  * ([[TextFns]]) and pairwise dedup ([[TextQueries]]).
  *
  * Scale notes inline per query; tokenization is the shared
  * [[TextFns.tokens]] / [[TextQueries.duckTokens]] pair so every text
  * operator in the repo agrees on what a token is.
  */
object TextAnalytics {

  // ---------- q_tfidf: top-3 TF-IDF terms per document ----------

  /** Per-document top-3 terms by TF-IDF (tf × ln(N/df)) — the
    * classic relevance weight, and the repo's inverted-index /
    * keyword-extraction primitive.
    *
    * Shape: explode to (doc, term) grain → two hash aggregates (term
    * frequency per doc, document frequency per term) → join back on
    * term. N is a scalar aggregate joined in as a broadcast (never
    * `.head()`-ed). The per-doc top-3 is a row_number window
    * partitioned by doc_id — fact-cardinality partitions, so no hot
    * key. Ranking follows the CLAUDE.md rule: order on the ROUNDED
    * score with the term string as total tie-break, so cross-engine
    * ulp drift in `ln` cannot flip ranks (both engines rank the same
    * round4 value).
    */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val terms = docs.select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round4(col("tf") * log(col("n_docs").cast("double") / col("df"))))
    val byDoc = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("score"))
      .orderBy("doc_id", "rk")
  }

  private val sqlTfidf = {
    val score = duckRound4("tf * ln(CAST(n_docs AS DOUBLE) / df)")
    s"""WITH t AS (SELECT doc_id, ${TextQueries.duckTokens} AS ts FROM documents),
       |     terms AS (SELECT doc_id, unnest(ts) AS term FROM t),
       |     tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |     dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |     nd AS (SELECT count(*) AS n_docs FROM documents),
       |     scored AS (SELECT tf.doc_id, tf.term, $score AS score
       |                FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
       |     ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |                  ORDER BY score DESC, term) AS rk
       |                FROM scored)
       |SELECT doc_id, rk, term, score FROM ranked
       |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin
  }

  // ---------- q_strat_sample: deterministic stratified sample ----------

  /** Exact-k deterministic stratified sample: 5 documents per
    * language, selected by md5(doc_id) order — reproducible across
    * runs, partition layouts, and engines (content-hash membership,
    * the [[graft.etl.Sampling]] principle applied to exact-k).
    *
    * Shape: the strata (5 langs) are hot keys, so a single window
    * partitioned by lang would funnel the corpus through 5 reducers.
    * Instead: phase 1 takes the per-(lang, salt) top-5 over 8 salt
    * shards (row_number over lang×salt — 40 partitions, each seeing
    * ~1/8 of a stratum), phase 2 re-ranks the ≤40 survivors per lang.
    * Selection by a total order composes, so two-phase ≡ one global
    * rank — the oracle ranks once and must agree exactly. This is the
    * relational form of the mergeable top-k (TopKAgg) pattern.
    */
  def stratSample(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 5
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("hkey"))
    val phase1 = Window
      .partitionBy(col("lang"), pmod(col("doc_id"), lit(8L)))
      .orderBy(col("hkey"), col("doc_id"))
    val survivors = docs
      .withColumn("rk1", row_number().over(phase1))
      .filter(col("rk1") <= k)
    val phase2 = Window.partitionBy("lang").orderBy(col("hkey"), col("doc_id"))
    survivors.withColumn("rk", row_number().over(phase2))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy("lang", "rk")
  }

  private val sqlStratSample =
    """WITH h AS (SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hkey
      |           FROM documents),
      |     ranked AS (SELECT lang, doc_id,
      |                       row_number() OVER (PARTITION BY lang
      |                         ORDER BY hkey, doc_id) AS rk
      |                FROM h)
      |SELECT lang, rk, doc_id FROM ranked WHERE rk <= 5
      |ORDER BY lang, rk""".stripMargin

  // ---------- q_inverted_index: term → posting-list build ----------

  /** Inverted-index build: per term, the document frequency and the
    * sorted posting list — the search-index materialization step
    * (and the exact-df companion to [[tfidf]]'s join).
    *
    * Shape: explode → distinct to the (term, doc) grain → one hash
    * aggregate; `sort_array(collect_list(...))` makes the posting
    * order deterministic regardless of partition layout (collect_list
    * alone is arrival-ordered). Posting lists render as a joined
    * string so the oracle compare is byte-stable.
    *
    * Scale: posting-list length is bounded by docs-per-term; hot
    * terms (stopwords) dominate — a production index shards postings
    * by (term, doc_id range) and stores df separately, which this
    * query's grain makes a pure re-partitioning of.
    */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val postings = Tables.documents(spark, sfDir)
      .select(explode(TextFns.tokens(col("text"))).as("term"), col("doc_id"))
      .distinct()
    postings.groupBy("term")
      .agg(count(lit(1)).as("df"),
        array_join(
          transform(sort_array(collect_list(col("doc_id"))), _.cast("string")),
          ",").as("postings"))
      .orderBy("term")
  }

  private val sqlInvertedIndex =
    s"""WITH t AS (SELECT doc_id, ${TextQueries.duckTokens} AS ts FROM documents),
       |     p AS (SELECT DISTINCT unnest(ts) AS term, doc_id FROM t)
       |SELECT term, count(*) AS df,
       |       array_to_string(list_sort(list(doc_id)), ',') AS postings
       |FROM p GROUP BY term ORDER BY term""".stripMargin

  // ---------- q_weighted_sample: quality-weighted retention ----------

  /** CCNet-style quality-weighted sampling: each document is kept
    * with probability equal to its quality score, decided by a
    * DETERMINISTIC content hash (md5 of the doc id mapped to a
    * fraction in [0,1)) — reproducible across runs and partition
    * layouts, the [[graft.etl.Sampling]] contract with a per-row
    * weight instead of a constant. Output is the per-lang retention
    * funnel (corpus count, kept count, kept-average quality).
    *
    * Cross-engine determinism: the hash fraction is an exact dyadic
    * rational (first 8 md5 hex chars / 2^32) and the quality score is
    * the same IEEE expression DAG on both engines, so the keep
    * decision `hfrac < q` never straddles engines. Pure per-row
    * predicate — one scan, no shuffle beyond the final tiny rollup.
    */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .withColumn("q", TextFns.qualityScore(col("text"), col("ts")))
      .withColumn("hfrac",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("double") / 4294967296.0)
      .withColumn("kept", col("hfrac") < col("q"))
    docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("kept"), lit(1))).as("n_kept"),
        round4(avg(when(col("kept"), col("q")))).as("avg_kept_q"))
      .orderBy("lang")
  }

  private val sqlWeightedSample =
    s"""WITH t AS (SELECT doc_id, lang, text, ${TextQueries.duckTokens} AS ts FROM documents),
       |     q AS (SELECT lang, ${TextQueries.duckQuality} AS q,
       |                  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |                    / 4294967296.0 AS hfrac
       |           FROM t)
       |SELECT lang, count(*) AS n_docs,
       |       count(CASE WHEN hfrac < q THEN 1 END) AS n_kept,
       |       ${duckRound4("avg(CASE WHEN hfrac < q THEN q END)")} AS avg_kept_q
       |FROM q GROUP BY lang ORDER BY lang""".stripMargin

  // ---------- q_cross_entropy: unigram-LM quality scoring ----------

  /** Per-document cross-entropy under the corpus's own unigram
    * distribution — the language-model quality signal (CCNet-style)
    * one step up from [[graft.text.TextFns.qualityScore]]'s
    * heuristics: documents whose token mix diverges from the corpus
    * score high (surprising), boilerplate scores low. Emitted per doc
    * so a curation gate can threshold it.
    *
    * Shape: corpus token counts are one map-side-combinable hash
    * aggregate (O(vocab) state); the corpus total is a one-row scalar
    * JOINED in (never collected); the per-doc score is then a
    * (doc, term)-grain join + hash aggregate — all key-partitioned,
    * no windows, no pairwise work. Both engines compute
    * `-ln(count/total)` per term and round the per-doc mean once at
    * the end (round4 convention).
    */
  /** Per-document (doc_id, n_tokens, UNROUNDED xent) under the
    * corpus unigram LM — the shared kernel of [[crossEntropy]] (which
    * rounds at its output edge) and [[ccnetBuckets]] (which rounds
    * before bucketing), so the two can never disagree on a score.
    */
  private def docXent(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy("term").agg(sum(col("tf")).as("c"))
    val tot = cnt.agg(sum(col("c")).as("tot"))
    tf.join(cnt, "term")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        (sum(col("tf").cast("double") *
          -log(col("c").cast("double") / col("tot").cast("double"))) /
          sum(col("tf")).cast("double")).as("xent_raw"))
  }

  def crossEntropy(spark: SparkSession, sfDir: String): DataFrame =
    docXent(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"),
        round4(col("xent_raw")).as("xent"))
      .orderBy("doc_id")

  private val sqlCrossEntropy = {
    val xent = duckRound4(
      "sum(CAST(tf AS DOUBLE) * -ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))) " +
        "/ CAST(sum(tf) AS DOUBLE)")
    s"""WITH t AS (SELECT doc_id, ${TextQueries.duckTokens} AS ts FROM documents),
       |     terms AS (SELECT doc_id, unnest(ts) AS term FROM t),
       |     tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |     cnt AS (SELECT term, sum(tf) AS c FROM tf GROUP BY 1),
       |     tot AS (SELECT sum(c) AS tot FROM cnt)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, $xent AS xent
       |FROM tf JOIN cnt USING (term) CROSS JOIN tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------- q_pii_redact: identifier detection + redaction screen ----------

  private val CustIdRe = "Customer#\\d+"
  private val AcctRe = "acct \\d+"

  /** Identifier redaction (pseudonymization) — the screen a corpus
    * runs before sharing: detect identifier patterns, count hits,
    * rewrite them to placeholder tags, and PROVE the rewrite complete
    * by re-scanning the redacted text (residual_hits must be 0 — the
    * audit most redaction pipelines skip). The identifier-shaped data
    * this synthetic dataset has is entity ids (`Customer#\d+` names,
    * account numbers composed from the key); a production deployment
    * adds email/phone/SSN patterns to the exact same shape.
    *
    * Scale: pure per-row regex work (codegen'd `regexp_count` /
    * `regexp_replace`) + one hash aggregate — linear, no shuffle
    * beyond the group-by, embarrassingly parallel at 100 TB.
    */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val contact = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment").as("segment"),
        concat_ws(" ", col("c_name"),
          lit("acct"), col("c_custkey").cast("string")).as("contact"))
      .withColumn("red",
        regexp_replace(regexp_replace(col("contact"), CustIdRe, "[ID]"),
          AcctRe, "acct [N]"))
    contact
      .groupBy("segment")
      .agg(count(lit(1)).as("n_docs"),
        sum(regexp_count(col("contact"), lit(CustIdRe))).cast("long").as("id_hits"),
        sum(regexp_count(col("contact"), lit(AcctRe))).cast("long").as("acct_hits"),
        sum(regexp_count(col("red"), lit(CustIdRe)) +
          regexp_count(col("red"), lit(AcctRe))).cast("long").as("residual_hits"),
        min(col("red")).as("sample_redacted"))
      .orderBy("segment")
  }

  private val sqlPiiRedact =
    """WITH t AS (SELECT c_mktsegment AS segment,
      |                  concat_ws(' ', c_name, 'acct', CAST(c_custkey AS VARCHAR)) AS contact
      |           FROM customer),
      |     r AS (SELECT segment, contact,
      |                  regexp_replace(regexp_replace(contact, 'Customer#\d+', '[ID]', 'g'),
      |                                 'acct \d+', 'acct [N]', 'g') AS red
      |           FROM t)
      |SELECT segment, count(*) AS n_docs,
      |       CAST(sum(len(regexp_extract_all(contact, 'Customer#\d+'))) AS BIGINT) AS id_hits,
      |       CAST(sum(len(regexp_extract_all(contact, 'acct \d+'))) AS BIGINT) AS acct_hits,
      |       CAST(sum(len(regexp_extract_all(red, 'Customer#\d+'))
      |                + len(regexp_extract_all(red, 'acct \d+'))) AS BIGINT) AS residual_hits,
      |       min(red) AS sample_redacted
      |FROM r GROUP BY segment ORDER BY segment""".stripMargin

  // ---------- q_source_quota: per-domain quota balancing ----------

  private val QuotaK = 40

  /** The quota-selection kernel: keep the top-`k` rows per `source`
    * ordered by (`scoreCol` desc, doc_id) via the [[stratSample]]
    * two-phase salted rank — exact-k selection by a total order
    * composes across the salt shards, so no hot-source window sees
    * more than ~1/8 of a stratum. Shared by [[sourceQuota]] (the
    * oracle-verified report) and [[RunCurate]]'s balance stage, so
    * the funnel can never diverge from the verified selection.
    */
  private[text] def quotaSelect(docs: DataFrame, k: Int,
                                scoreCol: String): DataFrame = {
    val phase1 = Window
      .partitionBy(col("source"), pmod(col("doc_id"), lit(8L)))
      .orderBy(col(scoreCol).desc, col("doc_id"))
    val phase2 = Window.partitionBy("source")
      .orderBy(col(scoreCol).desc, col("doc_id"))
    docs
      .withColumn("rk1", row_number().over(phase1))
      .filter(col("rk1") <= k)
      .withColumn("rk", row_number().over(phase2))
      .filter(col("rk") <= k)
      .drop("rk1", "rk")
  }

  /** Domain/source quota balancing — the corpus-mix stage (cap every
    * source at K documents, keep the K best by quality) that stops a
    * crawl's biggest domain from dominating the training mix. Emits
    * the before/after profile per source: how many documents, how
    * many survive the quota, and the mean quality of kept vs dropped
    * (the quota's selection lift, the number a curation report shows).
    *
    * Shape: the same two-phase salted rank as [[stratSample]] (top-K
    * per (source, salt-shard), then re-rank the ≤8K survivors per
    * source) — exact-k selection by a total order composes, so no
    * hot-source window sees more than ~1/8 of a stratum. Quality is
    * summed in integer BASIS POINTS (`floor(q·10⁴ + ½)` per doc):
    * integer sums are associative-exact, so the kept/dropped means
    * are order- and engine-independent without any float-fold parity
    * care — the [[graft.olap.OlapStats.corrStats]] exact-moment
    * principle applied to a curation report.
    */
  def sourceQuota(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("source"), col("doc_id"),
        units(TextFns.qualityScore(col("text"), col("ts")), 1e4)
          .cast("long").as("q4"))
    val kept = quotaSelect(docs, QuotaK, "q4")
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("q4")).as("kept_q4"))
    val all = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("q4")).as("all_q4"))
    all.join(kept, "source")
      .select(col("source"), col("n_docs"), col("n_kept"),
        round4(col("kept_q4").cast("double") /
          col("n_kept").cast("double") / 10000.0).as("kept_avg_quality"),
        when(col("n_docs") > col("n_kept"),
          round4((col("all_q4") - col("kept_q4")).cast("double") /
            (col("n_docs") - col("n_kept")).cast("double") / 10000.0))
          .as("dropped_avg_quality"))
      .orderBy("source")
  }

  private val sqlSourceQuota =
    s"""WITH t AS (SELECT source, doc_id, text, ${TextQueries.duckTokens} AS ts FROM documents),
       |     q AS (SELECT source, doc_id,
       |                  CAST(${duckUnits(TextQueries.duckQuality, 1e4)} AS BIGINT) AS q4
       |           FROM t),
       |     r AS (SELECT source, doc_id, q4,
       |                  row_number() OVER (PARTITION BY source
       |                    ORDER BY q4 DESC, doc_id) AS rk
       |           FROM q),
       |     kept AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |                     CAST(sum(q4) AS BIGINT) AS kept_q4
       |              FROM r WHERE rk <= $QuotaK GROUP BY source),
       |     alld AS (SELECT source, count(*) AS n_docs,
       |                     CAST(sum(q4) AS BIGINT) AS all_q4
       |              FROM q GROUP BY source)
       |SELECT alld.source, n_docs, n_kept,
       |       ${duckRound4(
                 "CAST(kept_q4 AS DOUBLE) / CAST(n_kept AS DOUBLE) / 10000.0")} AS kept_avg_quality,
       |       CASE WHEN n_docs > n_kept THEN
       |         ${duckRound4(
                   "CAST(all_q4 - kept_q4 AS DOUBLE) / CAST(n_docs - n_kept AS DOUBLE) / 10000.0")}
       |       ELSE NULL END AS dropped_avg_quality
       |FROM alld JOIN kept ON alld.source = kept.source
       |ORDER BY alld.source""".stripMargin

  // ---------- q_gen_ladder: k-anonymity generalization ladder ----------

  /** Generalization ladder for the [[kanon]] release decision
    * (Sweeney's domain-generalization hierarchy): the SAME
    * quasi-identifier audited at three coarsening levels — L0
    * nation × segment × $1k band, L1 nation × segment × $5k band,
    * L2 segment × $10k band — reporting per level the class count
    * (the utility proxy: more classes = more analytic resolution),
    * the smallest class, and the k=5 violation mass. The release
    * review picks the FIRST level whose risk clears policy; kanon
    * says whether a level passes, this says which level to publish.
    *
    * Shape: ONE customer scan fanned to (level, class-key) grain via
    * a 3-element literal explode, one hash aggregate, one bounded
    * per-level rollup. All integer; one rounded share.
    */
  def genLadder(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val lv = array(
      struct(lit(0L).as("lvl"),
        concat_ws("|", col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0)).as("qi")),
      struct(lit(1L).as("lvl"),
        concat_ws("|", col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 5000.0)).as("qi")),
      struct(lit(2L).as("lvl"),
        concat_ws("|", col("c_mktsegment"),
          floor(col("c_acctbal") / 10000.0)).as("qi")))
    val classes = c
      .select(explode_outer(lv).as("e"))
      .select(col("e.lvl").as("lvl"), col("e.qi").as("qi"))
      .groupBy("lvl", "qi").agg(count(lit(1)).as("sz"))
    classes.groupBy("lvl")
      .agg(count(lit(1)).as("n_classes"),
        min(col("sz")).as("min_class"),
        sum(col("sz")).as("n_rows"),
        count(when(col("sz") < 5, lit(1))).as("n_violating_k5"),
        sum(when(col("sz") < 5, col("sz")).otherwise(lit(0L))).as("rows_at_risk"))
      .select(col("lvl"), col("n_classes"), col("min_class"),
        col("n_violating_k5"), col("rows_at_risk"),
        round4(col("rows_at_risk").cast("double")
          / col("n_rows").cast("double")).as("risk_share"))
      .orderBy("lvl")
  }

  private val sqlGenLadder =
    s"""WITH lv AS (
       |  SELECT 0 AS lvl, CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment || '|'
       |           || CAST(floor(c_acctbal / 1000.0) AS VARCHAR) AS qi FROM customer
       |  UNION ALL
       |  SELECT 1, CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment || '|'
       |           || CAST(floor(c_acctbal / 5000.0) AS VARCHAR) FROM customer
       |  UNION ALL
       |  SELECT 2, c_mktsegment || '|'
       |           || CAST(floor(c_acctbal / 10000.0) AS VARCHAR) FROM customer),
       |     cls AS (SELECT lvl, qi, CAST(count(*) AS BIGINT) AS sz
       |             FROM lv GROUP BY 1, 2),
       |     a AS (SELECT lvl, CAST(count(*) AS BIGINT) AS n_classes,
       |                  CAST(min(sz) AS BIGINT) AS min_class,
       |                  CAST(sum(sz) AS BIGINT) AS n_rows,
       |                  CAST(count(CASE WHEN sz < 5 THEN 1 END) AS BIGINT) AS n_violating_k5,
       |                  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk
       |           FROM cls GROUP BY 1)
       |SELECT CAST(lvl AS BIGINT) AS lvl, n_classes, min_class, n_violating_k5, rows_at_risk,
       |       ${duckRound4(
                 "CAST(rows_at_risk AS DOUBLE) / CAST(n_rows AS DOUBLE)")} AS risk_share
       |FROM a ORDER BY lvl""".stripMargin

  // ---------- q_kanon: k-anonymity audit ----------

  private val KThresholds = Seq(2L, 5L, 10L)

  /** K-anonymity audit over a quasi-identifier tuple (Sweeney 2002) —
    * [[piiRedact]]'s structural sibling: redaction removes DIRECT
    * identifiers, but a row is still re-identifiable when its
    * quasi-identifier combination (here nation × market segment ×
    * coarse balance band) is shared by fewer than k records. The
    * audit reports, for each candidate k, how many equivalence
    * classes violate it and how many rows sit at risk — the numbers a
    * release review reads before publishing "anonymized" data.
    *
    * Shape: ONE hash aggregate to QI-class grain (map-side
    * combinable), then a 3-way literal fan over the k thresholds and
    * a bounded rollup — the fact table is touched once regardless of
    * how many k values are audited. Integer counts; one rounded share.
    */
  def kanon(spark: SparkSession, sfDir: String): DataFrame = {
    val classes = Tables.customer(spark, sfDir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).as("bal_band"))
      .agg(count(lit(1)).as("sz"))
    classes
      .select(col("sz"), explode_outer(
        array(KThresholds.map(lit): _*)).as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_classes"),
        sum(col("sz")).as("n_rows"),
        count(when(col("sz") < col("k"), lit(1))).as("n_violating"),
        sum(when(col("sz") < col("k"), col("sz")).otherwise(lit(0L)))
          .as("rows_at_risk"))
      .withColumn("risk_share", round4(
        col("rows_at_risk").cast("double") / col("n_rows").cast("double")))
      .select("k", "n_classes", "n_violating", "rows_at_risk", "risk_share")
      .orderBy("k")
  }

  private val sqlKanon =
    s"""WITH c AS (SELECT c_nationkey, c_mktsegment,
       |                  floor(c_acctbal / 1000.0) AS bal_band,
       |                  count(*) AS sz
       |           FROM customer GROUP BY 1, 2, 3),
       |     f AS (SELECT sz, unnest([${KThresholds.mkString(", ")}]) AS k FROM c)
       |SELECT k, CAST(count(*) AS BIGINT) AS n_classes,
       |       CAST(count(CASE WHEN sz < k THEN 1 END) AS BIGINT) AS n_violating,
       |       CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
       |       ${duckRound4(
                 "CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS DOUBLE) / CAST(sum(sz) AS DOUBLE)")} AS risk_share
       |FROM f GROUP BY k ORDER BY k""".stripMargin

  // ---------- q_l_diversity: sensitive-attribute diversity audit ----------

  private val LThresholds = Seq(2L, 3L, 5L)

  /** l-diversity audit (Machanavajjhala et al. 2007) — the attack
    * k-anonymity misses: an equivalence class can hold k rows and
    * still leak the sensitive attribute when all k share one value
    * (homogeneity attack). Quasi-identifiers are [[kanon]]'s
    * (nationkey, balance band) MINUS the market segment, which
    * becomes the SENSITIVE attribute; l(class) = distinct segments in
    * the class. Per policy threshold: violating classes, rows at
    * risk, risk share — the release-gate table a privacy review reads
    * next to the k-anonymity one.
    *
    * Shape: one class-grain aggregate (count + count distinct), a
    * constant threshold fan-out, integer counts, one round4 share.
    */
  def lDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val classes = Tables.customer(spark, sfDir)
      .groupBy(col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).as("bal_band"))
      .agg(count(lit(1)).as("sz"),
        countDistinct(col("c_mktsegment")).as("l"))
    classes
      .select(col("sz"), col("l"),
        explode_outer(array(LThresholds.map(lit): _*)).as("lmin"))
      .groupBy("lmin")
      .agg(count(lit(1)).as("n_classes"),
        count(when(col("l") < col("lmin"), lit(1))).as("n_violating"),
        sum(when(col("l") < col("lmin"), col("sz")).otherwise(lit(0L)))
          .as("rows_at_risk"),
        sum(col("sz")).as("nr"))
      .withColumn("risk_share", round4(
        col("rows_at_risk").cast("double") / col("nr").cast("double")))
      .select("lmin", "n_classes", "n_violating", "rows_at_risk", "risk_share")
      .orderBy("lmin")
  }

  private val sqlLDiversity =
    s"""WITH c AS (SELECT c_nationkey, floor(c_acctbal / 1000.0) AS bal_band,
       |                  count(*) AS sz,
       |                  count(DISTINCT c_mktsegment) AS l
       |           FROM customer GROUP BY 1, 2),
       |     f AS (SELECT sz, l, unnest([${LThresholds.mkString(", ")}]) AS lmin FROM c)
       |SELECT lmin, CAST(count(*) AS BIGINT) AS n_classes,
       |       CAST(count(CASE WHEN l < lmin THEN 1 END) AS BIGINT) AS n_violating,
       |       CAST(sum(CASE WHEN l < lmin THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
       |       ${duckRound4(
                 "CAST(sum(CASE WHEN l < lmin THEN sz ELSE 0 END) AS DOUBLE) / CAST(sum(sz) AS DOUBLE)")} AS risk_share
       |FROM f GROUP BY lmin ORDER BY lmin""".stripMargin

  // ---------- q_t_closeness: sensitive-distribution distance audit ----------

  /** t-closeness thresholds, in PERCENT so every violation test is an
    * exact integer cross-product compare (t > θ ⟺ 100·num > θ·2·S·T).
    */
  private val TThresholdsPct = Seq(20L, 35L, 50L)

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    * attack [[lDiversity]] misses: a class can hold l distinct
    * sensitive values and still leak when its DISTRIBUTION differs
    * sharply from the table's (skewness attack: "90% of this class is
    * AUTOMOBILE" is a disclosure even with l=5). t(class) = the
    * variational distance (the nominal-attribute EMD) between the
    * class's segment distribution and the global one:
    * t = Σ_s |c_cs·T − g_s·S_c| / (2·S_c·T) — one rational of exact
    * integer cross-products per class (the [[graft.olap.OlapStats]]
    * tvDrift identity applied per equivalence class), so the
    * per-threshold violation test never touches a float. Completes
    * the k-anonymity / l-diversity / t-closeness release-gate trio.
    *
    * Shape: one class-grain and one (class, segment)-grain aggregate;
    * the segment fan-out is classes × |segments| (bounded, broadcast);
    * threshold fan bounded. Integer everywhere, round4 shares at the
    * edge.
    */
  def tCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).as("bal_band"), col("c_mktsegment"))
    val cls = cust.groupBy("c_nationkey", "bal_band").agg(count(lit(1)).as("sz"))
    val cs = cust.groupBy("c_nationkey", "bal_band", "c_mktsegment")
      .agg(count(lit(1)).as("c_cs"))
    val g = cust.groupBy("c_mktsegment").agg(count(lit(1)).as("g_s"))
    val tot = cust.agg(count(lit(1)).as("t"))
    val num = cls.crossJoin(broadcast(g)).crossJoin(broadcast(tot))
      .join(cs, Seq("c_nationkey", "bal_band", "c_mktsegment"), "left")
      .na.fill(0L, Seq("c_cs"))
      .groupBy(col("c_nationkey"), col("bal_band"), col("sz"), col("t"))
      .agg(sum(abs(col("c_cs") * col("t") - col("g_s") * col("sz"))).as("num"))
    num
      .select(col("sz"), col("t"), col("num"),
        explode_outer(array(TThresholdsPct.map(lit): _*)).as("t_pct"))
      .groupBy("t_pct")
      .agg(count(lit(1)).as("n_classes"),
        count(when(col("num") * 100L > col("t_pct") * 2L * col("sz") * col("t"),
          lit(1))).as("n_violating"),
        sum(when(col("num") * 100L > col("t_pct") * 2L * col("sz") * col("t"),
          col("sz")).otherwise(lit(0L))).as("rows_at_risk"),
        sum(col("sz")).as("nr"))
      .withColumn("risk_share", round4(
        col("rows_at_risk").cast("double") / col("nr").cast("double")))
      .select("t_pct", "n_classes", "n_violating", "rows_at_risk", "risk_share")
      .orderBy("t_pct")
  }

  private val sqlTCloseness =
    s"""WITH cu AS (SELECT c_nationkey, floor(c_acctbal / 1000.0) AS bal_band,
       |                   c_mktsegment
       |            FROM customer),
       |     cls AS (SELECT c_nationkey, bal_band, CAST(count(*) AS BIGINT) AS sz
       |             FROM cu GROUP BY 1, 2),
       |     cs AS (SELECT c_nationkey, bal_band, c_mktsegment,
       |                   CAST(count(*) AS BIGINT) AS c_cs
       |            FROM cu GROUP BY 1, 2, 3),
       |     g AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS g_s
       |           FROM cu GROUP BY 1),
       |     tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM cu),
       |     num AS (SELECT cls.c_nationkey, cls.bal_band, cls.sz, tt.t,
       |                    CAST(sum(abs(coalesce(cs.c_cs, 0) * tt.t - g.g_s * cls.sz))
       |                      AS BIGINT) AS num
       |             FROM cls CROSS JOIN g CROSS JOIN tt
       |             LEFT JOIN cs ON cs.c_nationkey = cls.c_nationkey
       |               AND cs.bal_band = cls.bal_band
       |               AND cs.c_mktsegment = g.c_mktsegment
       |             GROUP BY 1, 2, 3, 4),
       |     f AS (SELECT sz, t, num,
       |                  unnest([${TThresholdsPct.mkString(", ")}]) AS t_pct
       |           FROM num)
       |SELECT t_pct, CAST(count(*) AS BIGINT) AS n_classes,
       |       CAST(count(CASE WHEN num * 100 > t_pct * 2 * sz * t THEN 1 END) AS BIGINT) AS n_violating,
       |       CAST(sum(CASE WHEN num * 100 > t_pct * 2 * sz * t THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
       |       ${duckRound4(
                 "CAST(sum(CASE WHEN num * 100 > t_pct * 2 * sz * t THEN sz ELSE 0 END) AS DOUBLE) / CAST(sum(sz) AS DOUBLE)")} AS risk_share
       |FROM f GROUP BY t_pct ORDER BY t_pct""".stripMargin

  // ---------- q_neyman_alloc: optimal stratified-sample allocation ----------

  /** Neyman allocation (Neyman 1934) of a 1000-document audit sample
    * across sources: n_h ∝ N_h·σ_h — strata that are large OR
    * internally variable get more of the budget, the design that
    * minimizes the estimator variance at fixed cost. The per-stratum
    * σ of document length comes from exact integer moments (n, Σx,
    * Σx² — the corrStats discipline), the weights collapse through
    * round6 micro-units summed as DECIMAL (a 20-row double sum is
    * still partition-order-dependent), and the final seat counts
    * floor(share·1000+0.5) come from the ROUNDED share so both
    * engines mint identical allocations.
    *
    * Scale: one fact-grain moment aggregate, then everything at
    * source grain. This is the query a labeling-budget owner runs
    * before commissioning human review.
    */
  def neymanAlloc(spark: SparkSession, sfDir: String): DataFrame = {
    val x = col("n_chars").cast("decimal(19,0)")
    val m = Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(x).as("sx"),
        sum((x * x).cast("decimal(38,0)")).as("sxx"))
    val nD = col("n").cast("double")
    val varX = (col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double") / nD) / (nD - 1.0)
    val w6 = units(nD * sqrt(varX), 1e6).cast("decimal(28,0)")
    val weighted = m.withColumn("w6", w6)
    val tot = weighted.agg(sum(col("w6")).as("tw"))
    weighted.crossJoin(broadcast(tot))
      .withColumn("share", round4(
        col("w6").cast("double") / col("tw").cast("double")))
      .select(col("source"), col("n").as("n_docs"),
        round4(sqrt(varX)).as("sigma_chars"),
        col("share"),
        units(col("share"), 1000.0).cast("long").as("n_alloc"))
      .orderBy("source")
  }

  private val sqlNeymanAlloc = {
    val varX = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)"
    s"""WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
       |                  sum(CAST(n_chars AS DECIMAL(19,0))) AS sx,
       |                  sum(CAST(CAST(n_chars AS DECIMAL(19,0)) *
       |                           CAST(n_chars AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxx
       |           FROM documents GROUP BY 1),
       |     w AS (SELECT source, n, sx, sxx,
       |                  CAST(${duckUnits(s"CAST(n AS DOUBLE) * sqrt($varX)", 1e6)}
       |                    AS DECIMAL(28,0)) AS w6
       |           FROM m),
       |     tot AS (SELECT sum(w6) AS tw FROM w)
       |SELECT source, n AS n_docs,
       |       ${duckRound4(s"sqrt($varX)")} AS sigma_chars,
       |       ${duckRound4("CAST(w6 AS DOUBLE) / CAST(tw AS DOUBLE)")} AS share,
       |       CAST(${duckUnits(duckRound4("CAST(w6 AS DOUBLE) / CAST(tw AS DOUBLE)"), 1000.0)}
       |         AS BIGINT) AS n_alloc
       |FROM w CROSS JOIN tot ORDER BY source""".stripMargin
  }

  // ---------- q_bow_classify: trained bag-of-words classifier ----------

  /** A TRAINED text classifier with a leakage-safe train/apply split,
    * entirely in exact integer arithmetic (the fasttext-shaped
    * quality/language-classifier stage of a curation pipeline,
    * minus the float softmax no cross-engine gate could pin): the
    * even-doc_id half trains a token→language table (per token, the
    * language it appears under most — count-desc, language-desc
    * tie-break), the odd half is classified by majority token vote
    * through that table (vote-count-desc, language-desc), and the
    * report is per-true-language accuracy. [[TextQueries]] already
    * audits the UNTRAINED n-gram heuristic (q_lang_agreement); this
    * one gates the train→model→apply→eval loop itself.
    *
    * Shape: token explode (linear) → (token, lang) counts → per-token
    * argmax as a mergeable struct-MAX aggregate (never a vocab
    * window); apply is one hash join at (doc, token) grain against
    * the vocab-sized model (broadcastable at any corpus size by
    * Heaps' law) and two more count/argmax aggregates at doc grain.
    * Unseen tokens fall out of the inner join — abstentions land in
    * n_docs via the labeled left join, counted as wrong (the honest
    * eval).
    */
  def bowClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        explode_outer(TextFns.tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
    val model = toks.filter(col("doc_id") % 2 === 0)
      .groupBy("tok", "lang").agg(count(lit(1)).as("cnt"))
      .groupBy("tok")
      .agg(max(struct(col("cnt"), col("lang"))).as("w"))
      .select(col("tok"), col("w.lang").as("pred_lang"))
    val votes = toks.filter(col("doc_id") % 2 === 1)
      .join(model, Seq("tok"))
      .groupBy(col("doc_id"), col("pred_lang"))
      .agg(count(lit(1)).as("v"))
      .groupBy("doc_id")
      .agg(max(struct(col("v"), col("pred_lang"))).as("w"))
      .select(col("doc_id"), col("w.pred_lang").as("pred"))
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"))
      .join(votes, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("lang"), lit(1L)).otherwise(lit(0L)))
          .as("n_correct"))
      .withColumn("acc", round4(
        col("n_correct").cast("double") / col("n_docs").cast("double")))
      .orderBy("lang")
  }

  private val sqlBowClassify =
    s"""WITH t AS (SELECT doc_id, lang, ${TextQueries.duckTokens} AS ts FROM documents),
       |     e AS (SELECT doc_id, lang, unnest(ts) AS tok FROM t),
       |     tc AS (SELECT tok, lang, count(*) AS cnt FROM e
       |            WHERE doc_id % 2 = 0 GROUP BY 1, 2),
       |     model AS (SELECT tok, lang AS pred_lang FROM (
       |                 SELECT tok, lang, row_number() OVER (PARTITION BY tok
       |                          ORDER BY cnt DESC, lang DESC) AS rn FROM tc) r
       |               WHERE rn = 1),
       |     v AS (SELECT e.doc_id, m.pred_lang, count(*) AS v FROM e
       |           JOIN model m ON e.tok = m.tok
       |           WHERE e.doc_id % 2 = 1 GROUP BY 1, 2),
       |     p AS (SELECT doc_id, pred_lang AS pred FROM (
       |             SELECT doc_id, pred_lang, row_number() OVER (PARTITION BY doc_id
       |                      ORDER BY v DESC, pred_lang DESC) AS rn FROM v) r
       |           WHERE rn = 1),
       |     d AS (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 1)
       |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN p.pred = d.lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       ${duckRound4(
                  "CAST(sum(CASE WHEN p.pred = d.lang THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS acc
       |FROM d LEFT JOIN p ON d.doc_id = p.doc_id
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---------- q_ccnet_buckets: head/middle/tail LM-quality buckets ----------

  /** CCNet-style quality bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): per language, split documents into
    * head/middle/tail THIRDS by their LM score — here the
    * [[docXent]] unigram cross-entropy standing in for the paper's
    * KenLM perplexity (lower = closer to the corpus distribution =
    * head, exactly the paper's orientation). The bucket label is the
    * curation signal half the open-source corpora shipped with.
    *
    * Parity: documents are bucketed on the ROUNDED score (the same
    * round4 value [[crossEntropy]] emits), the per-lang tercile cuts
    * are Spark exact `percentile` ≡ DuckDB `quantile_cont` over
    * those identical doubles (bit-identical, verified pairing), and
    * `1.0/3.0` is the same IEEE division on both engines; bucket
    * means use the round6-DECIMAL exact-sum rule.
    *
    * Scale: per-doc scoring is the linear [[docXent]] shape; the cut
    * table is lang-cardinality (broadcast); one comparison per doc.
    */
  def ccnetBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    // Stage the doc-grain xent frame ONCE, projected to the two
    // columns downstream reads (the per-lang cuts AND the bucket
    // aggregate both consume it across a BroadcastExchange — unstaged,
    // each re-ran the whole docXent token pipeline; 16 parquet scans
    // in the before-plan).
    val dx = docXent(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
        "doc_id")
      .withColumn("xq", round4(col("xent_raw")))
      .select(col("lang"), col("xq"))
      .localCheckpoint(true)
    val cuts = dx.groupBy("lang")
      .agg(percentile(col("xq"), lit(1.0 / 3.0)).as("t1"),
        percentile(col("xq"), lit(2.0 / 3.0)).as("t2"))
    dx.join(broadcast(cuts), "lang")
      .withColumn("bucket",
        when(col("xq") <= col("t1"), lit("head"))
          .when(col("xq") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")))
      .withColumn("wd", units(col("xq"), 1e6).cast("decimal(28,0)"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        round4(sum(col("wd")).cast("double") / 1000000.0 /
          count(lit(1)).cast("double")).as("mean_xent"))
      .orderBy("lang", "bucket")
  }

  private val sqlCcnetBuckets =
    s"""WITH t AS (SELECT doc_id, ${TextQueries.duckTokens} AS ts FROM documents),
       |     terms AS (SELECT doc_id, unnest(ts) AS term FROM t),
       |     tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |     cnt AS (SELECT term, sum(tf) AS c FROM tf GROUP BY 1),
       |     tot AS (SELECT sum(c) AS tot FROM cnt),
       |     dx0 AS (SELECT doc_id,
       |               sum(CAST(tf AS DOUBLE) * -ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)))
       |                 / CAST(sum(tf) AS DOUBLE) AS xent_raw
       |             FROM tf JOIN cnt USING (term) CROSS JOIN tot
       |             GROUP BY doc_id),
       |     dx AS (SELECT d.lang, ${duckRound4("xent_raw")} AS xq
       |            FROM dx0 JOIN documents d USING (doc_id)),
       |     cuts AS (SELECT lang, quantile_cont(xq, 1.0 / 3.0) AS t1,
       |                quantile_cont(xq, 2.0 / 3.0) AS t2
       |              FROM dx GROUP BY 1),
       |     b AS (SELECT dx.lang,
       |             CASE WHEN xq <= t1 THEN 'head'
       |                  WHEN xq <= t2 THEN 'middle'
       |                  ELSE 'tail' END AS bucket,
       |             CAST(${duckUnits("xq", 1e6)} AS DECIMAL(28,0)) AS wd
       |           FROM dx JOIN cuts ON dx.lang = cuts.lang)
       |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |       ${duckRound4(
                  "CAST(sum(wd) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE)")} AS mean_xent
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------- q_hash_sample: deterministic content-hash Bernoulli sample ----------

  /** Sampling rate in percent — 10% is the conventional holdout. */
  private val HashSamplePct = 10L

  /** Deterministic content-keyed Bernoulli sampling: a document is
    * sampled iff `polyHash(text) % 100 < 10` — membership depends on
    * CONTENT alone, so the sample is reproducible across runs,
    * partition layouts, engines, and re-ingestions (the property
    * `rand()`-based sampling lacks, and the reason every holdout /
    * decile-experiment split should be hash-keyed). Emitted per
    * source with a mean-length bias audit: a fair hash must not
    * correlate with document length, and the sampled-vs-all mean
    * gap is the check reviewers actually run on a sampler.
    *
    * Unlike [[graft.etl.Sampling]] (xxhash64 — engine-specific, so
    * property-tested, per the CLAUDE.md limit), this uses the
    * [[graft.functions.TextHashUtil]] rolling hash that the oracle
    * replays character by character — the one hash family that
    * crosses engines.
    *
    * Scale: one per-row native hash + one hash aggregate; linear,
    * no shuffle beyond the source-grain group-by.
    */
  def hashSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("sampled",
        graft.functions.TextHashes.polyHash(col("text")) % 100 < HashSamplePct)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        sum(col("n_chars")).as("chars_all"),
        sum(when(col("sampled"), col("n_chars")).otherwise(0L)).as("chars_s"))
      .select(col("source"), col("n_docs"), col("n_sampled"),
        round4(col("n_sampled").cast("double") /
          col("n_docs").cast("double")).as("rate"),
        round4(col("chars_all").cast("double") /
          col("n_docs").cast("double")).as("mean_chars_all"),
        when(col("n_sampled") > 0,
          round4(col("chars_s").cast("double") /
            col("n_sampled").cast("double"))).as("mean_chars_sampled"))
      .orderBy("source")

  private val sqlHashSample =
    s"""WITH c AS (SELECT source, n_chars, ${TextQueries.duckCodes} AS cs FROM documents),
       |     h AS (SELECT source, n_chars,
       |             (${TextQueries.duckPolyHash} % 100 < $HashSamplePct) AS sampled
       |           FROM c),
       |     g AS (SELECT source, count(*) AS n_docs,
       |             sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS n_sampled,
       |             sum(n_chars) AS chars_all,
       |             sum(CASE WHEN sampled THEN n_chars ELSE 0 END) AS chars_s
       |           FROM h GROUP BY 1)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |       CAST(n_sampled AS BIGINT) AS n_sampled,
       |       ${duckRound4("CAST(n_sampled AS DOUBLE) / CAST(n_docs AS DOUBLE)")} AS rate,
       |       ${duckRound4("CAST(chars_all AS DOUBLE) / CAST(n_docs AS DOUBLE)")} AS mean_chars_all,
       |       CASE WHEN n_sampled > 0 THEN
       |         ${duckRound4("CAST(chars_s AS DOUBLE) / CAST(n_sampled AS DOUBLE)")}
       |       END AS mean_chars_sampled
       |FROM g ORDER BY source""".stripMargin

  // ---------- q_bigram_xent: bigram-LM quality scoring ----------

  /** Per-document cross-entropy under a corpus-trained BIGRAM LM with
    * add-½ smoothing — the sequence-aware step up from
    * [[crossEntropy]]'s unigram scorer (CCNet's actual filter is an
    * n-gram LM: order matters, so shuffled boilerplate that fools the
    * unigram model scores high here). p(w₂|w₁) = (c₁₂ + ½)/(c₁ + ½V)
    * with V the successor vocabulary; xent = −mean ln p over the
    * document's bigram stream.
    *
    * Shape: one staged tokenize, one posexplode to bigram instances
    * (pairs of columns, never separator-concatenated strings — no
    * collision question to argue), then two map-side-combinable count
    * aggregates (bigram, prefix), both joined back at bigram grain;
    * V is a 1-row broadcast. All key-partitioned, no pairwise work.
    * Parity: counts exact; per-doc ln sums are the proven
    * `q_cross_entropy` regime (error ≪ round4 tolerance).
    * posexplode_outer (not posexplode) because `ts` is HOF-built and
    * provably non-empty after the ≥2-token filter — the inferred
    * `size > 0` filter would re-evaluate the tokenize per element
    * (CLAUDE.md explode-over-HOF rule).
    */
  def bigramXent(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .filter(size(col("ts")) >= 2)
    val bg = t
      .select(col("doc_id"), col("ts"), posexplode_outer(col("ts")).as(Seq("i", "w1")))
      .filter(col("i") < size(col("ts")) - 1)
      .select(col("doc_id"), col("w1"),
        try_element_at(col("ts"), col("i") + 2).as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = bg.agg(countDistinct(col("w2")).as("v"))
    bg.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round4(
          sum(-log((col("c12").cast("double") + 0.5) /
            (col("c1").cast("double") + lit(0.5) * col("v").cast("double")))) /
            count(lit(1)).cast("double")).as("xent2"))
      .orderBy("doc_id")
  }

  private val sqlBigramXent = {
    val p = "(CAST(c12 AS DOUBLE) + 0.5) / (CAST(c1 AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))"
    s"""WITH t AS (SELECT doc_id, ${TextQueries.duckTokens} AS ts FROM documents),
       |     t2 AS (SELECT doc_id, ts FROM t WHERE len(ts) >= 2),
       |     bi AS (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM t2),
       |     bg AS (SELECT doc_id, ts[CAST(i AS INT)] AS w1,
       |                   ts[CAST(i + 1 AS INT)] AS w2 FROM bi),
       |     c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
       |     c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
       |     vv AS (SELECT count(DISTINCT w2) AS v FROM bg)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |       ${duckRound4(s"sum(-ln($p)) / CAST(count(*) AS DOUBLE)")} AS xent2
       |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------- q_kn_xent: Kneser-Ney bigram-LM scoring ----------

  /** Per-document cross-entropy under an interpolated Kneser-Ney
    * bigram LM (Kneser & Ney 1995; Chen & Goodman 1999's benchmark
    * smoother — what real LM-based quality filters like CCNet's
    * actually train, where [[bigramXent]]'s add-½ is the didactic
    * baseline): p(w₂|w₁) = max(c₁₂−D, 0)/c₁ + D·N₁₊(w₁·)/c₁ ·
    * N₁₊(·w₂)/B, with D = ¾ (a DYADIC discount — c₁₂−D is exact),
    * N₁₊(w₁·)/N₁₊(·w₂) the distinct-successor/-predecessor counts
    * and B the distinct-bigram-type total. The continuation
    * probability is KN's actual insight: "york" is frequent but
    * follows only "new", so its unigram backoff weight should be tiny
    * — a filter scoring scraped text must capture that or
    * boilerplate with frequent-but-fixed collocations sneaks through.
    *
    * Shape: [[bigramXent]]'s exactly — bigram-instance fan-out, four
    * map-side-combinable count aggregates (c₁₂, c₁, N₁₊ both
    * directions; B broadcast 1-row), all joined back at bigram grain.
    * Parity: counts exact, D dyadic, per-doc ln sums the proven
    * cross-entropy regime.
    */
  def knXent(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .filter(size(col("ts")) >= 2)
    val bg = t
      .select(col("doc_id"), col("ts"), posexplode_outer(col("ts")).as(Seq("i", "w1")))
      .filter(col("i") < size(col("ts")) - 1)
      .select(col("doc_id"), col("w1"),
        try_element_at(col("ts"), col("i") + 2).as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val n1f = c12.groupBy("w1").agg(count(lit(1)).as("n1f"))
    val n1r = c12.groupBy("w2").agg(count(lit(1)).as("n1r"))
    val b = c12.agg(count(lit(1)).as("b"))
    val p = greatest(col("c12").cast("double") - 0.75, lit(0.0)) /
      col("c1").cast("double") +
      (lit(0.75) * col("n1f").cast("double") / col("c1").cast("double")) *
        (col("n1r").cast("double") / col("b").cast("double"))
    bg.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .join(broadcast(n1f), Seq("w1"))
      .join(broadcast(n1r), Seq("w2"))
      .crossJoin(broadcast(b))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round4(sum(-log(p)) / count(lit(1)).cast("double")).as("xent_kn"))
      .orderBy("doc_id")
  }

  private val sqlKnXent = {
    val p = "greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE) + " +
      "(0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)) * " +
      "(CAST(n1r AS DOUBLE) / CAST(b AS DOUBLE))"
    s"""WITH t AS (SELECT doc_id, ${TextQueries.duckTokens} AS ts FROM documents),
       |     t2 AS (SELECT doc_id, ts FROM t WHERE len(ts) >= 2),
       |     bi AS (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM t2),
       |     bg AS (SELECT doc_id, ts[CAST(i AS INT)] AS w1,
       |                   ts[CAST(i + 1 AS INT)] AS w2 FROM bi),
       |     c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
       |     c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
       |     n1f AS (SELECT w1, count(*) AS n1f FROM c12 GROUP BY 1),
       |     n1r AS (SELECT w2, count(*) AS n1r FROM c12 GROUP BY 1),
       |     bb AS (SELECT count(*) AS b FROM c12)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |       ${duckRound4(s"sum(-ln($p)) / CAST(count(*) AS DOUBLE)")} AS xent_kn
       |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
       |        JOIN n1f USING (w1) JOIN n1r USING (w2) CROSS JOIN bb
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------- q_js_divergence: Jensen-Shannon drift between languages ----------

  /** Pairwise Jensen–Shannon divergence between the unigram
    * distributions of every language pair — the symmetric, bounded
    * ([0, ln 2]) drift measure used to compare corpus slices before
    * mixing them (KL is infinite on disjoint support; JSD is not,
    * which is exactly why it's the corpus-comparison standard).
    *
    * Decomposition that keeps the join INNER-only: terms outside the
    * shared support contribute p·ln 2 to their side's sum, and the
    * shared-support mass Σp is known, so
    * JSD = Σ_shared ½(p·ln(p/m) + q·ln(q/m)) + ½ln2·(2 − Σp − Σq)
    * — no outer join, no null branches, and the identity is pure
    * algebra (m = (p+q)/2).
    *
    * Shape: (lang, term) counts are one hash aggregate; per-lang
    * totals broadcast; the pair join is term-keyed between
    * lang-bounded sides (≤ L² pair rows per term, L = 5); output is
    * C(L,2) rows. Per-pair double sums over the shared vocab are the
    * proven cross-entropy regime (error ≪ round4).
    */
  def jsDivergence(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("lang"), explode_outer(col("ts")).as("term"))
      .filter(col("term").isNotNull)
    val c = terms.groupBy("lang", "term").agg(count(lit(1)).as("c"))
    val tot = c.groupBy("lang").agg(sum(col("c")).as("tot"))
    val p = c.join(broadcast(tot), "lang")
      .select(col("lang"), col("term"),
        (col("c").cast("double") / col("tot").cast("double")).as("p"))
    val ln2 = math.log(2.0)
    p.as("a").join(p.as("b"),
        col("a.term") === col("b.term") && col("a.lang") < col("b.lang"))
      .select(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"),
        col("a.p").as("pa"), col("b.p").as("pb"))
      .withColumn("m", (col("pa") + col("pb")) / 2.0)
      .groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).as("n_shared"),
        sum(col("pa") * log(col("pa") / col("m")) * 0.5 +
          col("pb") * log(col("pb") / col("m")) * 0.5).as("core"),
        sum(col("pa")).as("sp"), sum(col("pb")).as("sq"))
      .select(col("lang_a"), col("lang_b"), col("n_shared"),
        round4(col("core") +
          lit(0.5 * ln2) * (lit(2.0) - col("sp") - col("sq"))).as("jsd"),
        round4(col("sp")).as("shared_mass_a"),
        round4(col("sq")).as("shared_mass_b"))
      .orderBy("lang_a", "lang_b")
  }

  private val sqlJsDivergence = {
    val halfLn2 = 0.5 * math.log(2.0)
    s"""WITH t AS (SELECT lang, ${TextQueries.duckTokens} AS ts FROM documents),
       |     terms AS (SELECT lang, unnest(ts) AS term FROM t),
       |     c AS (SELECT lang, term, count(*) AS c FROM terms GROUP BY 1, 2),
       |     tot AS (SELECT lang, sum(c) AS tot FROM c GROUP BY 1),
       |     p AS (SELECT c.lang, term,
       |                  CAST(c AS DOUBLE) / CAST(tot AS DOUBLE) AS p
       |           FROM c JOIN tot ON c.lang = tot.lang),
       |     pr AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
       |                   a.p AS pa, b.p AS pb, (a.p + b.p) / 2.0 AS m
       |            FROM p a JOIN p b ON a.term = b.term AND a.lang < b.lang),
       |     g AS (SELECT lang_a, lang_b, CAST(count(*) AS BIGINT) AS n_shared,
       |                  sum(pa * ln(pa / m) * 0.5 + pb * ln(pb / m) * 0.5) AS core,
       |                  sum(pa) AS sp, sum(pb) AS sq
       |           FROM pr GROUP BY 1, 2)
       |SELECT lang_a, lang_b, n_shared,
       |       ${duckRound4(s"core + $halfLn2 * (2.0 - sp - sq)")} AS jsd,
       |       ${duckRound4("sp")} AS shared_mass_a,
       |       ${duckRound4("sq")} AS shared_mass_b
       |FROM g ORDER BY lang_a, lang_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bigram_xent" -> (bigramXent _),
    "q_kn_xent" -> (knXent _),
    "q_t_closeness" -> (tCloseness _),
    "q_js_divergence" -> (jsDivergence _),
    "q_ccnet_buckets" -> (ccnetBuckets _),
    "q_hash_sample" -> (hashSample _),
    "q_bow_classify" -> (bowClassify _),
    "q_neyman_alloc" -> (neymanAlloc _),
    "q_kanon" -> (kanon _),
    "q_gen_ladder" -> (genLadder _),
    "q_l_diversity" -> (lDiversity _),
    "q_cross_entropy" -> (crossEntropy _),
    "q_tfidf" -> (tfidf _),
    "q_strat_sample" -> (stratSample _),
    "q_inverted_index" -> (invertedIndex _),
    "q_weighted_sample" -> (weightedSample _),
    "q_pii_redact" -> (piiRedact _),
    "q_source_quota" -> (sourceQuota _))

  val oracle: Map[String, String] = Map(
    "q_bigram_xent" -> sqlBigramXent,
    "q_kn_xent" -> sqlKnXent,
    "q_t_closeness" -> sqlTCloseness,
    "q_js_divergence" -> sqlJsDivergence,
    "q_ccnet_buckets" -> sqlCcnetBuckets,
    "q_hash_sample" -> sqlHashSample,
    "q_bow_classify" -> sqlBowClassify,
    "q_neyman_alloc" -> sqlNeymanAlloc,
    "q_kanon" -> sqlKanon,
    "q_gen_ladder" -> sqlGenLadder,
    "q_l_diversity" -> sqlLDiversity,
    "q_cross_entropy" -> sqlCrossEntropy,
    "q_tfidf" -> sqlTfidf,
    "q_strat_sample" -> sqlStratSample,
    "q_inverted_index" -> sqlInvertedIndex,
    "q_weighted_sample" -> sqlWeightedSample,
    "q_pii_redact" -> sqlPiiRedact,
    "q_source_quota" -> sqlSourceQuota)
}
