package graft.text

import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckRound6, round4, round6}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-growth and batch-shape audits for the LLM-data-pipeline
  * pack (no counterpart in the reference, whose string surface is
  * trim/lower/title — `ETL/user_ETL.py:47-53`): the Heaps'-law
  * vocabulary-growth curve a tokenizer-budgeting pass charts while a
  * corpus is ingested (Heaps, 1978; the V(n) ~ K·n^β curve), and the
  * padded-batch waste audit behind sequence-length bucketing
  * (the bucketed-batching trick every training loader applies so a
  * 4096-slot batch is not padded to its longest member).
  *
  * Shares [[TextFns.tokens]] / [[TextQueries.duckTokens]] and the
  * round-before-output parity rules.
  */
object GrowthOps {

  private val duckTokens = TextQueries.duckTokens

  // ---------- q_vocab_growth: Heaps'-law vocabulary growth ----------

  /** Cumulative vocabulary size at each doc-sequence decile — the
    * Heaps'-law growth curve. A corpus whose vocabulary keeps growing
    * linearly is still absorbing novel content; a flattening curve
    * says additional ingestion is re-reading the same vocabulary
    * (the signal used to budget tokenizer vocab size and to decide
    * when web-crawl ingestion saturates).
    *
    * Shape — no fact-scale windows anywhere: each token's FIRST
    * occurrence is `min(doc_id)` (one vocab-grain hash aggregate, the
    * map-side-combining kind), the ten decile fences come from ONE
    * exact-percentile aggregate row (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the proven bit-identical pair; at 100 TB swap
    * `approx_percentile`, same shape), and the cumulative counts are
    * a ≤10-row broadcast inequality join against the vocab-grain /
    * doc-grain sides — work is 10× vocab + 10× docs, never a sort.
    * The naive alternative (row_number over ingestion order +
    * running distinct) is a single-partition window over the fact
    * table; this shape replaces it per the scale rules.
    */
  def vocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("doc_id"), col("ts"))
    val toks = docs.select(col("doc_id"), explode_outer(col("ts")).as("token"))
    val firstSeen = toks.groupBy("token").agg(min(col("doc_id")).as("first_doc"))
    val pctCols =
      (1 to 10).map(d => percentile(col("doc_id"), lit(d / 10.0)).as(s"q$d"))
    val fences = docs.agg(pctCols.head, pctCols.tail: _*)
      .select(posexplode(array((1 to 10).map(d => col(s"q$d")): _*)))
      .select((col("pos") + 1).cast("int").as("decile"), col("col").as("fence"))
    val vocabCum = firstSeen.join(broadcast(fences),
        col("first_doc").cast("double") <= col("fence"))
      .groupBy("decile").agg(count(lit(1)).as("vocab"))
    val docCum = docs
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_toks"))
      .join(broadcast(fences), col("doc_id").cast("double") <= col("fence"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    docCum.join(vocabCum, "decile")
      .withColumn("ttr", round4(
        col("vocab").cast("double") / col("n_tokens").cast("double")))
      .select("decile", "n_docs", "n_tokens", "vocab", "ttr")
      .orderBy("decile")
  }

  private val sqlVocabGrowth =
    s"""WITH d AS (SELECT doc_id, $duckTokens AS ts FROM documents),
       |     tok AS (SELECT doc_id, unnest(ts) AS token FROM d),
       |     fs AS (SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY token),
       |     q AS (SELECT ${(1 to 10).map(x =>
                s"quantile_cont(doc_id, ${x / 10.0}) AS q$x").mkString(", ")}
       |           FROM d),
       |     fe AS (SELECT CAST(i AS INT) AS decile,
       |                   [${(1 to 10).map(x => s"q$x").mkString(",")}][CAST(i AS INT)] AS fence
       |            FROM q, range(1, 11) t(i)),
       |     vc AS (SELECT decile, CAST(count(*) AS BIGINT) AS vocab
       |            FROM fs JOIN fe ON CAST(first_doc AS DOUBLE) <= fence
       |            GROUP BY decile),
       |     dc AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
       |                   CAST(sum(len(ts)) AS BIGINT) AS n_tokens
       |            FROM d JOIN fe ON CAST(doc_id AS DOUBLE) <= fence
       |            GROUP BY decile)
       |SELECT dc.decile AS decile, n_docs, n_tokens, vocab,
       |       ${duckRound4(
                 "CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE)")} AS ttr
       |FROM dc JOIN vc ON dc.decile = vc.decile
       |ORDER BY dc.decile""".stripMargin

  // ---------- q_length_buckets: padded-batch waste audit ----------

  /** Power-of-two sequence-length bucket edges. Docs longer than the
    * last edge clamp into it (counted in `n_clamped` so the clamp is
    * visible, never silent).
    */
  private val BucketEdges = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 4096L)

  /** Padding-waste audit for sequence-length-bucketed batching:
    * assign every document to the smallest power-of-two bucket that
    * holds its token count and report, per bucket, how many pad slots
    * a bucket-homogeneous batch wastes (`1 − sum_tokens/(n·bucket)`).
    * This is the audit a training loader runs to choose bucket edges:
    * the waste ratio IS the fraction of attention FLOPs burned on
    * padding if batches are drawn bucket-pure.
    *
    * Shape: the bucket is a branch-free CASE chain (codegen'd, zero
    * joins — the edge list is 8 constants, not a table), then one
    * hash aggregate at bucket grain. Strictly linear, no shuffle
    * beyond the ≤8-group aggregate. Parity: counts are exact
    * integers; the single division is rounded once at the edge.
    */
  def lengthBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(TextFns.tokens(col("text"))).cast("long").as("n"))
    val bucket = BucketEdges.init.reverse.foldLeft(
      lit(BucketEdges.last): org.apache.spark.sql.Column) {
      (acc, e) => when(col("n") <= e, lit(e)).otherwise(acc)
    }
    docs.withColumn("bucket", bucket)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("sum_tokens"),
        count(when(col("n") > col("bucket"), lit(1))).as("n_clamped"))
      .withColumn("padded_slots", col("bucket") * col("n_docs"))
      .withColumn("waste", round4(
        lit(1.0) - col("sum_tokens").cast("double") / col("padded_slots").cast("double")))
      .select("bucket", "n_docs", "sum_tokens", "padded_slots", "n_clamped", "waste")
      .orderBy("bucket")
  }

  private val sqlLengthBuckets = {
    val caseChain = BucketEdges.init
      .map(e => s"WHEN n <= $e THEN CAST($e AS BIGINT)")
      .mkString(" ")
    s"""WITH d AS (SELECT doc_id, CAST(len($duckTokens) AS BIGINT) AS n FROM documents),
       |     b AS (SELECT n, CASE $caseChain
       |                     ELSE CAST(${BucketEdges.last} AS BIGINT) END AS bucket
       |           FROM d),
       |     g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |                  CAST(sum(n) AS BIGINT) AS sum_tokens,
       |                  CAST(count(CASE WHEN n > bucket THEN 1 END) AS BIGINT) AS n_clamped
       |           FROM b GROUP BY bucket)
       |SELECT bucket, n_docs, sum_tokens,
       |       bucket * n_docs AS padded_slots, n_clamped,
       |       ${duckRound4(
                 "1.0 - CAST(sum_tokens AS DOUBLE) / CAST(bucket * n_docs AS DOUBLE)")} AS waste
       |FROM g ORDER BY bucket""".stripMargin
  }

  // ---------- q_fertility: tokenizer fertility by language ----------

  /** Tokenizer fertility audit per language: subword tokens per
    * whitespace word (fertility) and characters per subword token
    * (compression) — the per-language statistics a tokenizer review
    * reads to spot languages the vocab under-serves (high fertility =
    * more tokens per word = more compute per unit text; Rust/Ács
    * multilingual-tokenizer analyses report exactly these columns).
    * Uses the same BPE-ish regex token stream as `q_token_count` and
    * the same whitespace word stream as the quality suite, so the
    * ratio is consistent with both accountings.
    *
    * Shape: two per-row `size()` projections (no explode — counts
    * only), one lang-grain hash aggregate. Strictly linear, output
    * bounded by the language domain. Parity: integer sums; each ratio
    * is one double division rounded at the edge.
    */
  def fertility(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("n_words", size(TextFns.tokens(col("text"))).cast("long"))
      .withColumn("n_toks",
        size(expr(s"regexp_extract_all(text, '${TextFns.bpeTokenRegex}', 0)")).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("words"),
        sum(col("n_toks")).as("tokens"),
        sum(col("n_chars").cast("long")).as("chars"))
      .withColumn("fertility", round4(
        col("tokens").cast("double") / col("words").cast("double")))
      .withColumn("chars_per_token", round4(
        col("chars").cast("double") / col("tokens").cast("double")))
      .select("lang", "n_docs", "words", "tokens", "chars",
        "fertility", "chars_per_token")
      .orderBy("lang")

  private val sqlFertility =
    s"""WITH d AS (SELECT lang, n_chars,
       |                  len($duckTokens) AS n_words,
       |                  len(regexp_extract_all(text, '${TextFns.bpeTokenRegex}')) AS n_toks
       |           FROM documents),
       |     g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |                  CAST(sum(n_words) AS BIGINT) AS words,
       |                  CAST(sum(n_toks) AS BIGINT) AS tokens,
       |                  CAST(sum(n_chars) AS BIGINT) AS chars
       |           FROM d GROUP BY lang)
       |SELECT lang, n_docs, words, tokens, chars,
       |       ${duckRound4("CAST(tokens AS DOUBLE) / CAST(words AS DOUBLE)")} AS fertility,
       |       ${duckRound4("CAST(chars AS DOUBLE) / CAST(tokens AS DOUBLE)")} AS chars_per_token
       |FROM g ORDER BY lang""".stripMargin

  // ---------- q_vocab_drift: snapshot-over-snapshot vocabulary drift ----------

  /** Vocabulary drift between two ingestion snapshots, per source:
    * Jaccard overlap of the token sets plus the count of tokens that
    * appeared (born) and disappeared (died) — the lexical twin of
    * [[graft.vector.Projection.centroidDrift]]'s embedding-space
    * drift, and the alarm a continuously-crawled source trips when
    * its content pipeline changes under you (template swap, spam
    * influx, language shift). Snapshots derive deterministically from
    * doc_id parity (in production: ingestion epochs).
    *
    * Shape: collapse to DISTINCT (source, token, epoch-membership)
    * FIRST — one hash aggregate with two boolean maxes — so the
    * set algebra runs at vocab×source grain, never doc grain. All
    * integers; one rounded Jaccard.
    */
  def vocabDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("source"), (col("doc_id") % 2 === 0).as("old"),
        explode_outer(col("ts")).as("token"))
    docs
      .groupBy("source", "token")
      .agg(max(when(col("old"), 1L).otherwise(0L)).as("in_old"),
        max(when(!col("old"), 1L).otherwise(0L)).as("in_new"))
      .groupBy("source")
      .agg(sum(col("in_old") * col("in_new")).as("n_both"),
        sum(col("in_old") * (lit(1L) - col("in_new"))).as("n_died"),
        sum((lit(1L) - col("in_old")) * col("in_new")).as("n_born"),
        count(lit(1)).as("n_union"))
      .withColumn("jaccard", round4(
        col("n_both").cast("double") / col("n_union").cast("double")))
      .select("source", "n_both", "n_born", "n_died", "n_union", "jaccard")
      .orderBy("source")
  }

  private val sqlVocabDrift =
    s"""WITH d AS (SELECT source, doc_id % 2 = 0 AS old,
       |                  unnest($duckTokens) AS token
       |           FROM documents),
       |     v AS (SELECT source, token,
       |                  max(CASE WHEN old THEN 1 ELSE 0 END) AS in_old,
       |                  max(CASE WHEN NOT old THEN 1 ELSE 0 END) AS in_new
       |           FROM d GROUP BY 1, 2)
       |SELECT source,
       |       CAST(sum(in_old * in_new) AS BIGINT) AS n_both,
       |       CAST(sum((1 - in_old) * in_new) AS BIGINT) AS n_born,
       |       CAST(sum(in_old * (1 - in_new)) AS BIGINT) AS n_died,
       |       CAST(count(*) AS BIGINT) AS n_union,
       |       ${duckRound4(
                 "CAST(sum(in_old * in_new) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS jaccard
       |FROM v GROUP BY source ORDER BY source""".stripMargin

  // ---------- q_zipf_fit: rank-frequency power-law fit ----------

  private val ZipfTopN = 1000

  /** Zipf's-law fit over the corpus rank-frequency curve: the OLS
    * slope of ln(freq) on ln(rank) for the top-[[ZipfTopN]] terms —
    * natural text sits near slope −1; corpora polluted by boilerplate
    * or synthetic spam bend away from it, which makes the slope a
    * one-number corpus-health check next to [[vocabGrowth]]'s curve.
    *
    * Shape: vocab collapse (one hash aggregate), a DETERMINISTIC
    * top-N cut on the (freq DESC, word) total order, and ranks from a
    * row_number over the N-row bounded input (scale note: N is a
    * constant, so the window input never scales; the vocab-grain
    * alternative for full-curve fits is the `q_dict_encode`
    * radix-rank). Parity: ln is correctly-rounded on both engines in
    * practice but NOT guaranteed (CLAUDE.md pow/exp/ln rule), so each
    * ln lands in a round6-DECIMAL before ANY cross-row sum — a 1-ulp
    * ln divergence would have to straddle a 1e-6 grid edge to matter;
    * the five OLS sums are then decimal-exact and the slope /
    * intercept / R² are fixed-shape double expressions at the edge.
    */
  def zipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = Tables.documents(spark, sfDir)
      .select(explode_outer(TextFns.tokens(col("text"))).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(ZipfTopN)
    val ranked = vocab
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("word"))))
      .withColumn("x", round6(log(col("rank").cast("double"))).cast("decimal(18,6)"))
      .withColumn("y", round6(log(col("freq").cast("double"))).cast("decimal(18,6)"))
    ranked.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,12)")).as("sxy"),
        sum((col("y") * col("y")).cast("decimal(38,12)")).as("syy"))
      .select(col("n").as("n_terms"),
        round4(
          (col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))).as("slope"),
        round4(
          (col("sy").cast("double") - col("sx").cast("double")
            * ((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
            / (col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))))
          / col("n").cast("double")).as("intercept"),
        round4(
          ((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            * (col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double")))
          / ((col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            * (col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double")))).as("r2"))
  }

  private val sqlZipfFit = {
    val nD = "CAST(n AS DOUBLE)"
    val sxD = "CAST(sx AS DOUBLE)"; val syD = "CAST(sy AS DOUBLE)"
    val sxxD = "CAST(sxx AS DOUBLE)"; val sxyD = "CAST(sxy AS DOUBLE)"
    val syyD = "CAST(syy AS DOUBLE)"
    val num = s"($nD * $sxyD - $sxD * $syD)"
    val den = s"($nD * $sxxD - $sxD * $sxD)"
    s"""WITH e AS (SELECT unnest($duckTokens) AS word FROM documents),
       |     v AS (SELECT word, count(*) AS freq FROM e GROUP BY 1
       |           ORDER BY freq DESC, word LIMIT $ZipfTopN),
       |     r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, word) AS rank FROM v),
       |     p AS (SELECT CAST(${duckRound6("ln(CAST(rank AS DOUBLE))")} AS DECIMAL(18,6)) AS x,
       |                  CAST(${duckRound6("ln(CAST(freq AS DOUBLE))")} AS DECIMAL(18,6)) AS y
       |           FROM r),
       |     a AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
       |                  sum(CAST(x * x AS DECIMAL(38,12))) AS sxx,
       |                  sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
       |                  sum(CAST(y * y AS DECIMAL(38,12))) AS syy
       |           FROM p)
       |SELECT n AS n_terms,
       |       ${duckRound4(s"$num / $den")} AS slope,
       |       ${duckRound4(s"($syD - $sxD * ($num / $den)) / $nD")} AS intercept,
       |       ${duckRound4(
                 s"($num * $num) / ($den * ($nD * $syyD - $syD * $syD))")} AS r2
       |FROM a""".stripMargin
  }

  // ---------- q_distinctive_terms: per-source lexical fingerprint ----------

  private val DtMinCorpusTf = 5L
  private val DtTopK = 3

  /** Top-[[DtTopK]] most DISTINCTIVE terms per source by lift —
    * (term share within the source) ÷ (term share in the corpus) —
    * the lexical fingerprint a crawl review reads to see what a feed
    * is actually about (and the boilerplate detector's cousin: a
    * navigation token with lift ≈ uniform across sources is
    * template, one with lift ≫ 1 in a single source is content).
    * Terms under [[DtMinCorpusTf]] corpus occurrences are dropped —
    * singleton lift is noise.
    *
    * Shape: one (source, term) hash aggregate + two bounded margins
    * broadcast back; the top-3 cut is a window over source-partitioned
    * vocab-grain input (scale note: vocab grows sublinearly; the
    * fact-scale alternative is the 3-fold mergeable struct-max of the
    * `q_mode_priority` pattern). Rank on the ROUNDED lift with a term
    * tie-break (rank-on-rounded rule); the lift itself is one
    * fixed-shape division of exact-integer products.
    */
  def distinctiveTerms(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("source"), explode_outer(col("ts")).as("term"))
    val st = toks.groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val ct = st.groupBy("term").agg(sum(col("tf")).as("ctf"))
      .filter(col("ctf") >= DtMinCorpusTf)
    val srcTot = st.groupBy("source").agg(sum(col("tf")).as("t_src"))
    val tot = ct.agg(sum(col("ctf")).as("t_all"))
    val scored = st.join(ct, "term")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(tot))
      .withColumn("lift", round4(
        (col("tf").cast("double") * col("t_all").cast("double"))
          / (col("t_src").cast("double") * col("ctf").cast("double"))))
    scored
      .withColumn("rk", row_number().over(Window.partitionBy("source")
        .orderBy(col("lift").desc, col("term"))))
      .filter(col("rk") <= DtTopK)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("term"), col("tf"), col("lift"))
      .orderBy("source", "rk")
  }

  private val sqlDistinctiveTerms =
    s"""WITH tok AS (SELECT source, unnest($duckTokens) AS term FROM documents),
       |     st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
       |            FROM tok GROUP BY 1, 2),
       |     ct AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM st GROUP BY 1
       |            HAVING sum(tf) >= $DtMinCorpusTf),
       |     stot AS (SELECT source, CAST(sum(tf) AS BIGINT) AS t_src FROM st GROUP BY 1),
       |     tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS t_all FROM ct),
       |     sc AS (SELECT source, term, tf,
       |              ${duckRound4(
                  "(CAST(tf AS DOUBLE) * CAST(t_all AS DOUBLE)) / (CAST(t_src AS DOUBLE) * CAST(ctf AS DOUBLE))")} AS lift
       |            FROM st JOIN ct USING (term) JOIN stot USING (source) CROSS JOIN tot),
       |     rk AS (SELECT source, term, tf, lift,
       |              CAST(row_number() OVER (PARTITION BY source
       |                ORDER BY lift DESC, term) AS BIGINT) AS rk
       |            FROM sc)
       |SELECT source, rk, term, tf, lift FROM rk WHERE rk <= $DtTopK
       |ORDER BY source, rk""".stripMargin

  // ---------- q_simpson_diversity: lexical concentration per source ----------

  /** Simpson diversity index per source: D = Σ f(f−1) / (T(T−1)) —
    * the probability two tokens drawn without replacement are the
    * SAME type. The token-level concentration number completing the
    * diversity ladder ([[vocabGrowth]]'s TTR = richness,
    * `q_char_gini` = character grain, this = repetition mass): a
    * source whose D spikes is re-serving the same few tokens
    * (templates, spam), whatever its vocabulary size says.
    *
    * Parity: ENTIRELY integer until one division — Σ f(f−1) and
    * T(T−1) are exact bigints (the rational-arithmetic rule: no ln,
    * no float sums anywhere). Shape: one (source, term) hash
    * aggregate + a source-grain rollup, both map-side combinable.
    * (Headroom: Σ f(f−1) nears 2⁶³ around 3·10⁹ occurrences of one
    * term in one source — widen to DECIMAL then.)
    */
  def simpsonDiversity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("source"), explode_outer(col("ts")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("f"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"), sum(col("f")).as("n_tokens"),
        sum(col("f") * (col("f") - 1L)).as("rep_mass"))
      .withColumn("simpson", round4(
        col("rep_mass").cast("double")
          / (col("n_tokens").cast("double") * (col("n_tokens") - 1L).cast("double"))))
      .select("source", "n_types", "n_tokens", "simpson")
      .orderBy("source")

  private val sqlSimpsonDiversity =
    s"""WITH tok AS (SELECT source, unnest($duckTokens) AS term FROM documents),
       |     tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS f
       |            FROM tok GROUP BY 1, 2),
       |     g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
       |                  CAST(sum(f) AS BIGINT) AS n_tokens,
       |                  CAST(sum(f * (f - 1)) AS BIGINT) AS rep_mass
       |           FROM tf GROUP BY source)
       |SELECT source, n_types, n_tokens,
       |       ${duckRound4(
                 "CAST(rep_mass AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))")} AS simpson
       |FROM g ORDER BY source""".stripMargin

  // ---------- q_readability: Flesch reading-ease screen ----------

  /** Flesch reading-ease per source: 206.835 − 1.015·(words/sentences)
    * − 84.6·(syllables/words), with syllables approximated as vowel
    * GROUPS (the standard cheap proxy) and sentences as terminal-
    * punctuation runs — the readability screen next to the Gopher
    * rules: a training-mix readability profile is how curation keeps
    * "textbook-quality" quotas honest.
    *
    * Shape: three per-row `regexp_count`-class counters (codegen'd,
    * zero joins) + one source-grain aggregate. Parity: counts are
    * exact integers from the SAME regexes (basic classes — no engine-
    * specific syntax); the Flesch formula is one fixed-shape double
    * expression over aggregate integers, rounded once. max(1, ·)
    * guards the no-punctuation document.
    */
  def readability(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("w"),
        greatest(expr("CAST(regexp_count(text, '[.!?]+') AS BIGINT)"), lit(1L)).as("s"),
        expr("CAST(regexp_count(text, '[aeiouAEIOU]+') AS BIGINT)").as("syl"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
        sum(col("s")).as("sentences"), sum(col("syl")).as("syllables"))
      .withColumn("flesch", round4(
        lit(206.835)
          - lit(1.015) * (col("words").cast("double") / col("sentences").cast("double"))
          - lit(84.6) * (col("syllables").cast("double") / col("words").cast("double"))))
      .select("source", "n_docs", "words", "sentences", "syllables", "flesch")
      .orderBy("source")

  private val sqlReadability =
    s"""WITH d AS (SELECT source,
       |                  CAST(len($duckTokens) AS BIGINT) AS w,
       |                  greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS s,
       |                  CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS BIGINT) AS syl
       |           FROM documents),
       |     g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |                  CAST(sum(w) AS BIGINT) AS words,
       |                  CAST(sum(s) AS BIGINT) AS sentences,
       |                  CAST(sum(syl) AS BIGINT) AS syllables
       |           FROM d GROUP BY source)
       |SELECT source, n_docs, words, sentences, syllables,
       |       ${duckRound4(
                 "206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE)) " +
                   "- 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))")} AS flesch
       |FROM g ORDER BY source""".stripMargin

  // ---------- q_chao1: nonparametric vocabulary-richness estimate ----------

  /** Chao1 species-richness estimate of each language's vocabulary —
    * the capture-recapture answer to "how many word types does this
    * corpus slice REALLY have, counting the ones we haven't seen
    * yet": the bias-corrected V̂ = V + f₁(f₁−1)/(2(f₂+1)) from the
    * frequency-of-frequencies (Chao 1984; the corrected form is also
    * defined when f₂ = 0, which real slices hit), plus the Good-Turing unseen-mass estimate f₁/N —
    * the pair a curation pipeline reads to decide whether a slice is
    * vocabulary-saturated or still growing (the estimator complement
    * to `q_vocab_growth`'s observed Heaps curve).
    *
    * Shape: (lang, term) counts (one hash aggregate) → a lang-grain
    * frequency-of-frequency aggregate — all map-side combinable,
    * output bounded by languages. Counts exact; the two estimates are
    * fixed-shape divisions over exact integers, rounded at the edge.
    */
  def chao1(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("lang"), explode_outer(col("ts")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("lang", "term").agg(count(lit(1)).as("c"))
    tf.groupBy("lang")
      .agg(count(lit(1)).as("v_obs"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("lang"), col("n_tokens"), col("v_obs"), col("f1"), col("f2"),
        round4(col("v_obs").cast("double") +
          col("f1").cast("double") * (col("f1").cast("double") - lit(1.0)) /
            (lit(2.0) * (col("f2").cast("double") + lit(1.0)))).as("chao1"),
        round4(col("f1").cast("double") /
          col("n_tokens").cast("double")).as("gt_unseen_mass"))
      .orderBy("lang")
  }

  private val sqlChao1 =
    s"""WITH t AS (SELECT lang, $duckTokens AS ts FROM documents),
       |     terms AS (SELECT lang, unnest(ts) AS term FROM t),
       |     tf AS (SELECT lang, term, count(*) AS c FROM terms GROUP BY 1, 2),
       |     g AS (SELECT lang, CAST(count(*) AS BIGINT) AS v_obs,
       |                  CAST(sum(c) AS BIGINT) AS n_tokens,
       |                  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |                  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
       |           FROM tf GROUP BY 1)
       |SELECT lang, n_tokens, v_obs, f1, f2,
       |       ${duckRound4(
                 "CAST(v_obs AS DOUBLE) + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0) " +
                   "/ (2.0 * (CAST(f2 AS DOUBLE) + 1.0))")} AS chao1,
       |       ${duckRound4(
                 "CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)")} AS gt_unseen_mass
       |FROM g ORDER BY lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_chao1" -> (chao1 _),
    "q_readability" -> (readability _),
    "q_simpson_diversity" -> (simpsonDiversity _),
    "q_distinctive_terms" -> (distinctiveTerms _),
    "q_vocab_growth" -> (vocabGrowth _),
    "q_length_buckets" -> (lengthBuckets _),
    "q_fertility" -> (fertility _),
    "q_vocab_drift" -> (vocabDrift _),
    "q_zipf_fit" -> (zipfFit _))

  val oracle: Map[String, String] = Map(
    "q_readability" -> sqlReadability,
    "q_chao1" -> sqlChao1,
    "q_simpson_diversity" -> sqlSimpsonDiversity,
    "q_distinctive_terms" -> sqlDistinctiveTerms,
    "q_vocab_growth" -> sqlVocabGrowth,
    "q_length_buckets" -> sqlLengthBuckets,
    "q_fertility" -> sqlFertility,
    "q_vocab_drift" -> sqlVocabDrift,
    "q_zipf_fit" -> sqlZipfFit)
}
