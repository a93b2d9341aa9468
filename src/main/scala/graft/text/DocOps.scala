package graft.text

import graft.functions.TextHashUtil
import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckRound6, round4, round6}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document-grain curation operators — the round-8 additions to the
  * LLM-data-pipeline pack (no counterpart in the reference, whose
  * string surface is trim/lower/title — `ETL/user_ETL.py:47-53`):
  * segment-grain dedup (the CCNet/RefinedWeb line-dedup shape over
  * fixed token windows), a Gopher-style quality-rule audit (Rae et
  * al., 2021 §A1.1.2 — repetition/length/stopword screens), and the
  * first BPE merge round's pair statistics (Sennrich et al., 2016 —
  * the vocabulary-induction kernel a tokenizer trainer runs
  * repeatedly).
  *
  * Shares [[TextFns.tokens]] / [[TextQueries.duckTokens]] and the
  * polynomial-hash parity contract from
  * [[graft.functions.TextHashUtil]].
  */
object DocOps {

  /** Token oracle fragment ([[TextQueries.duckTokens]] is the single
    * source of truth).
    */
  private val duckTokens = TextQueries.duckTokens

  private def duckCodesOf(e: String): String =
    s"list_transform(range(1, greatest(length($e), 1) + 1), " +
      s"i -> CAST(ascii(substring($e, CAST(i AS INT), 1)) AS BIGINT))"

  private val duckPolyHash =
    s"list_reduce([CAST(0 AS BIGINT)] || cs, (acc, c) -> (acc * 31 + c) % ${TextFns.P})"

  // ---------- q_segment_dedup: CCNet-style segment-grain dedup ----------

  /** Segment width in tokens. CCNet dedups at line grain; this corpus
    * has no newlines (TESTDATA.md), so the segment is a fixed
    * 10-token window — the same kernel, a synthetic line boundary.
    */
  private val SegLen = 10

  /** Segment-grain exact dedup audit: split every document into
    * consecutive [[SegLen]]-token segments, keep each distinct
    * segment at its FIRST occurrence ((doc_id, seg_idx) order — the
    * deterministic first-wins rule shared with D1-D3 row dedup), and
    * report the per-source retained fraction. This is the
    * paragraph/line-dedup stage of CCNet/RefinedWeb-style pipelines:
    * boilerplate segments repeat across pages even when whole-document
    * hashes differ, and the retained fraction is the quality signal
    * curation monitors per source.
    *
    * Shape: the segment fan-out is `explode_outer` over an index
    * `sequence` (chunkPlan's zero-shuffle outer-generate shape —
    * outer, so InferFiltersFromGenerate adds no size()>0 filter that
    * would inline the tokens pipeline); the winner election is ONE
    * row_number window partitioned by the 64-bit segment hash (key
    * cardinality = distinct segments, fact-proportional partitioning,
    * ties broken by integer (doc_id, seg_idx) — engine-independent);
    * the audit is one hash aggregate by source. Work is linear in
    * corpus tokens at any SF; no joins.
    *
    * Parity: documents with zero tokens would vanish from BOTH
    * engines identically (Spark: size(ts)=0 makes n_segs=1 but the
    * segment text is '' with polyHash 0 — still present; the corpus
    * has none), and the kept/total ratio is a division of exact
    * integers — identical bits — wrapped in round4 on both sides.
    */
  def segmentDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val segs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .withColumn("n_tok", size(col("ts")).cast("long"))
      .withColumn("n_segs", expr(s"greatest((n_tok + ${SegLen - 1}) DIV $SegLen, 1)"))
      .select(col("doc_id"), col("source"), col("ts"),
        explode_outer(sequence(lit(0L), col("n_segs") - 1L)).as("seg_idx"))
      .withColumn("seg",
        array_join(slice(col("ts"), (col("seg_idx") * SegLen + 1L).cast("int"), lit(SegLen)), " "))
      .select(col("doc_id"), col("source"), col("seg_idx"),
        graft.functions.TextHashes.polyHash(col("seg")).as("h"))
    val firstWins = Window.partitionBy("h").orderBy("doc_id", "seg_idx")
    segs
      .withColumn("kept", when(row_number().over(firstWins) === 1, 1L).otherwise(0L))
      .groupBy("source")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_segments"),
        sum(col("kept")).as("n_kept"))
      .withColumn("kept_ratio",
        round4(col("n_kept").cast("double") / col("n_segments").cast("double")))
      .orderBy("source")
  }

  private val sqlSegmentDedup =
    s"""WITH t AS (SELECT doc_id, source, $duckTokens AS ts FROM documents),
       |     n AS (SELECT doc_id, source, ts,
       |             greatest((CAST(len(ts) AS BIGINT) + ${SegLen - 1}) // $SegLen, 1) AS n_segs
       |           FROM t),
       |     sg AS (SELECT doc_id, source, ts, unnest(range(0, n_segs)) AS seg_idx FROM n),
       |     sx AS (SELECT doc_id, source, seg_idx,
       |             array_to_string(list_slice(ts, CAST(seg_idx * $SegLen + 1 AS INT),
       |               CAST(seg_idx * $SegLen + $SegLen AS INT)), ' ') AS seg
       |           FROM sg),
       |     hs AS (SELECT doc_id, source, seg_idx, ${duckCodesOf("seg")} AS cs FROM sx),
       |     h AS (SELECT doc_id, source, seg_idx, $duckPolyHash AS h FROM hs),
       |     w AS (SELECT source, doc_id,
       |             CASE WHEN row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) = 1
       |                  THEN 1 ELSE 0 END AS kept
       |           FROM h)
       |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |       count(*) AS n_segments, CAST(sum(kept) AS BIGINT) AS n_kept,
       |       ${duckRound4(
                  "CAST(sum(kept) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS kept_ratio
       |FROM w GROUP BY source ORDER BY source""".stripMargin

  // ---------- q_gopher_rules: quality-rule audit ----------

  /** Rule thresholds — Gopher's screens re-based to this corpus's
    * measured distributions (word counts 10-99 median 56, mean word
    * length 3.7-5.3, top-word fraction up to 0.30) so each rule
    * genuinely discriminates: at sf0.01, 289/500 documents pass all
    * four.
    */
  private val WcMin = 30L
  private val WcMax = 90L
  private val MwlMin = 4L // mean word length bounds, applied as
  private val MwlMax = 10L // cross-multiplied INTEGER compares
  private val StopMin = 2L
  private val RepDenom = 8L // top word must be ≤ 1/8 of tokens

  /** Gopher-style quality-rule audit: per-document boolean screens
    * (word-count bounds, mean-word-length bounds, minimum stopword
    * occurrences, maximum single-token repetition), rolled up to
    * per-source failure counts and a pass rate — the go/no-go summary
    * a corpus curation run reports per ingest source.
    *
    * All four rules are INTEGER comparisons (mean word length as the
    * cross-multiplied `MwlMin·n ≤ letters ≤ MwlMax·n`, repetition as
    * `topc·RepDenom ≤ n`), so no float ever reaches a rule decision —
    * cross-engine parity by construction; the only double output is
    * the pass rate, a single exact-integer division wrapped in round4
    * on both sides.
    *
    * Shape: every per-document statistic — token count, letter count,
    * stopword hits, top-token count — is derived from ONE
    * (doc, token)-grain count aggregate (n = Σcnt, letters =
    * Σcnt·len(tok), stops = Σcnt·[tok∈stop], topc = max cnt), i.e.
    * explode + two hash aggregates + the source rollup, all linear in
    * corpus tokens and map-side combinable. The in-array alternative
    * (count each distinct token by rescanning the token array) is
    * O(len·distinct) per document in an interpreted lambda — quadratic
    * in document length, wrong at 100 TB where documents are
    * unbounded. A document with zero tokens produces no token rows on
    * EITHER engine (explode_outer + null filter ≡ unnest of an empty
    * list) and is deliberately absent from the audit.
    */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    // All four per-document statistics come from the native
    // graft_token_stats kernel in ONE codegen'd byte walk per row —
    // the explode→groupBy(doc,tok)→groupBy(doc) form it replaces
    // shuffled the corpus's token STRINGS through two hash aggregates
    // (guide §2.3/§2.4: the statistics are per-document, so they
    // belong in the row expression; zero exchanges now precede the
    // source rollup). Distinct-token counts use exact lowercased
    // strings inside the kernel, so values are identical; a document
    // with zero tokens returns n = 0 and is filtered out exactly
    // where the old explode_outer + isNotNull dropped it.
    // The old `filter(n > 0)` was pushed BELOW the projection and
    // re-evaluated graft_token_stats per row (two byte walks — the
    // round-17 residual). n > 0 ⟺ the text has at least one
    // space-delimited token ⟺ trim(text) is non-empty (the kernel
    // splits on 0x20 only; a null text fails both forms), so filter
    // on the RAW column with a cheap trim instead: the pushed filter
    // costs one trivial scan of the bytes and the kernel runs ONCE,
    // in the projection, on surviving rows only.
    val perDoc = Tables.documents(spark, sfDir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        graft.functions.TextHashes.tokenStats(col("text")).as("st"))
      .select(col("doc_id"), col("source"),
        col("st.n").as("n"), col("st.letters").as("letters"),
        col("st.stops").as("stops"), col("st.topc").as("topc"))
    perDoc
      .withColumn("p_wc",
        when(col("n").between(WcMin, WcMax), 1L).otherwise(0L))
      .withColumn("p_mwl",
        when(col("letters") >= lit(MwlMin) * col("n") &&
          col("letters") <= lit(MwlMax) * col("n"), 1L).otherwise(0L))
      .withColumn("p_stop", when(col("stops") >= StopMin, 1L).otherwise(0L))
      .withColumn("p_rep",
        when(col("topc") * RepDenom <= col("n"), 1L).otherwise(0L))
      .withColumn("p_all", col("p_wc") * col("p_mwl") * col("p_stop") * col("p_rep"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(lit(1L) - col("p_wc")).as("n_fail_wordcount"),
        sum(lit(1L) - col("p_mwl")).as("n_fail_wordlen"),
        sum(lit(1L) - col("p_stop")).as("n_fail_stopword"),
        sum(lit(1L) - col("p_rep")).as("n_fail_repetition"),
        sum(col("p_all")).as("n_pass"))
      .withColumn("pass_rate",
        round4(col("n_pass").cast("double") / col("n_docs").cast("double")))
      .orderBy("source")
  }

  private val sqlGopherRules = {
    val stop = TextFns.stopwords.map(s => s"'$s'").mkString("(", ", ", ")")
    s"""WITH t AS (SELECT doc_id, source, $duckTokens AS ts FROM documents),
       |     e AS (SELECT doc_id, source, unnest(ts) AS tok FROM t),
       |     g AS (SELECT doc_id, source, tok, count(*) AS cnt FROM e GROUP BY 1, 2, 3),
       |     d AS (SELECT doc_id, source,
       |             CAST(sum(cnt) AS BIGINT) AS n,
       |             CAST(sum(cnt * length(tok)) AS BIGINT) AS letters,
       |             CAST(sum(CASE WHEN tok IN $stop THEN cnt ELSE 0 END) AS BIGINT) AS stops,
       |             CAST(max(cnt) AS BIGINT) AS topc
       |           FROM g GROUP BY 1, 2),
       |     r AS (SELECT source,
       |             CASE WHEN n BETWEEN $WcMin AND $WcMax THEN 1 ELSE 0 END AS p_wc,
       |             CASE WHEN letters >= $MwlMin * n AND letters <= $MwlMax * n
       |                  THEN 1 ELSE 0 END AS p_mwl,
       |             CASE WHEN stops >= $StopMin THEN 1 ELSE 0 END AS p_stop,
       |             CASE WHEN topc * $RepDenom <= n THEN 1 ELSE 0 END AS p_rep
       |           FROM d)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(1 - p_wc) AS BIGINT) AS n_fail_wordcount,
       |       CAST(sum(1 - p_mwl) AS BIGINT) AS n_fail_wordlen,
       |       CAST(sum(1 - p_stop) AS BIGINT) AS n_fail_stopword,
       |       CAST(sum(1 - p_rep) AS BIGINT) AS n_fail_repetition,
       |       CAST(sum(p_wc * p_mwl * p_stop * p_rep) AS BIGINT) AS n_pass,
       |       ${duckRound4(
                  "CAST(sum(p_wc * p_mwl * p_stop * p_rep) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS pass_rate
       |FROM r GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q_bpe_pairs: BPE first-merge pair statistics ----------

  private val BpeTopK = 20

  /** The first BPE merge round's candidate statistics: weighted
    * adjacent character-pair counts over the corpus vocabulary, top
    * [[BpeTopK]] by count — the argmax of this table IS the first
    * merge a BPE tokenizer trainer performs, and re-running the same
    * kernel over the merged symbol sequences yields every subsequent
    * round (the iteration is driver-paced like
    * [[graft.vector.VectorQueries.kmeansRefine]]'s Lloyd rounds).
    *
    * Shape — the collapse-first rule: pair generation runs over the
    * DISTINCT vocabulary (one (word, freq) hash aggregate collapses
    * corpus tokens to vocab grain first), weighted by word frequency,
    * so the per-round work after the collapse is O(vocab · word
    * length), independent of corpus size — exactly how production BPE
    * trainers scale. The pair fan-out is an outer generate over words
    * pre-filtered to length ≥ 2 (≥ 1 pair, provably non-empty — and
    * the sequence bound stays ≥ 1, avoiding Spark's descending-
    * sequence surprise on `sequence(1, 0)`). Top-K is a
    * TakeOrderedAndProject with the (count DESC, pair) total order so
    * the cut is engine-independent.
    */
  def bpePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(explode_outer(col("ts")).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
      .filter(length(col("word")) >= 2)
    vocab
      .withColumn("pairs",
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2))))
      .select(col("freq"), explode_outer(col("pairs")).as("pair"))
      .groupBy("pair")
      .agg(sum(col("freq")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(BpeTopK)
  }

  private val sqlBpePairs =
    s"""WITH t AS (SELECT $duckTokens AS ts FROM documents),
       |     e AS (SELECT unnest(ts) AS word FROM t),
       |     v AS (SELECT word, count(*) AS freq FROM e GROUP BY 1 HAVING length(word) >= 2),
       |     p AS (SELECT freq,
       |             unnest(list_transform(range(1, length(word)),
       |               i -> substring(word, CAST(i AS INT), 2))) AS pair
       |           FROM v)
       |SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
       |FROM p GROUP BY pair
       |ORDER BY n_occurrences DESC, pair LIMIT $BpeTopK""".stripMargin

  // ---------- q_winnow_fp: winnowing fingerprints (MOSS) ----------

  /** Winnowing parameters (Schleimer, Wilkerson & Aiken, SIGMOD'03):
    * character k-gram width and the window over consecutive gram
    * hashes from which one minimum is selected. Guarantee: any shared
    * substring of length ≥ WinK + WinW - 1 (= 11 chars) produces at
    * least one shared fingerprint.
    */
  private val WinK = 7
  private val WinW = 5

  /** Discriminative-fingerprint band: a fingerprint appearing in more
    * than [[WinMaxDf]] documents is boilerplate (MOSS drops overly
    * common fingerprints for the same reason an inverted index drops
    * stopwords); pairs must share ≥ [[WinMinShared]] fingerprints to
    * be reported. At sf0.01: 2081 distinct fingerprints, median df
    * 11, max 390 — the 2..5 band keeps the discriminative tail and
    * yields 107 candidate pairs.
    */
  private val WinMaxDf = 5L
  private val WinMinShared = 2L

  /** Winnowing fingerprint near-dup candidates: per document, hash
    * every [[WinK]]-char gram, select the minimum hash of each
    * [[WinW]]-wide window of consecutive gram hashes (the winnowing
    * selection — position-robust, so partial overlaps that whole-doc
    * hashing ([[TextQueries.docFingerprint]]) and prefix hashing
    * ([[CorpusOps.prefixDup]]) both miss still collide), and report
    * document pairs sharing ≥ [[WinMinShared]] selected fingerprints.
    *
    * Shape — every CLAUDE.md pair-join rule applied: collapse to
    * distinct (doc, fingerprint) BEFORE any join (`array_distinct`
    * per row — winnowing itself already cuts fingerprints per doc to
    * ~len/W); drop non-discriminative fingerprints by document
    * frequency (df ≤ [[WinMaxDf]]) so the per-fingerprint pair
    * fan-out is ≤ C(MaxDf,2) = 10 — the pair list is LINEAR in kept
    * fingerprints by construction, never quadratic in cluster size
    * (the capped-df band is what makes a pair-list output safe here
    * where the MinHash path must emit cluster assignments instead);
    * the join is a fingerprint-keyed equi-join, no theta join. At
    * 100 TB df of boilerplate grows with the corpus while the cap
    * stays fixed, so kept fingerprints stay the rare discriminative
    * tail — the same reason the band works for MOSS at web scale.
    *
    * Per-row cost: the fingerprint extraction is the NATIVE
    * codegen'd [[graft.functions.TextHashes.winnowFp]] kernel (one
    * tight O(len·(K+W)) primitive loop — TextHashSpec pins it ≡ the
    * interpreted `array_distinct(transform(.., i ->
    * array_min(slice(hs, i, W))))` HOF reference form). Native
    * matters doubly here: the fps relation is consumed three times
    * (df census + both pair-join sides), and the interpreted form
    * re-evaluated ~len slice allocations per row per consumer —
    * measured 11.4 s at sf0.1 vs 1 s native.
    */
  def winnowFp(spark: SparkSession, sfDir: String): DataFrame = {
    // Stage the winnowed fingerprints ONCE ((doc_id, fp) int pairs):
    // the df-band filter and the kept join both consume them —
    // unstaged, each re-ran the winnow kernel over the corpus. The
    // df-banded kept set is staged too (its two self-join sides are
    // the pair fan) — the "staged gram sets before Jaccard"
    // discipline.
    val fps = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode_outer(
          graft.functions.TextHashes.winnowFp(col("text"), WinK, WinW)).as("fp"))
      .localCheckpoint(true)
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2L, WinMaxDf))
      .select("fp")
    val kept = fps.join(keep, "fp").localCheckpoint(true)
    kept.select(col("fp"), col("doc_id").as("doc_a"))
      .join(kept.select(col("fp"), col("doc_id").as("doc_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinMinShared)
      .orderBy("doc_a", "doc_b")
  }

  private val sqlWinnowFp = {
    // closed-form WinK-gram hash at position i over staged codes `cs`
    // (TextQueries.duckShingleHash's shape at this pack's gram width)
    val gramHash = (0 until WinK).foldLeft("CAST(0 AS BIGINT)") { (acc, off) =>
      s"(($acc * 31 + coalesce(cs[CAST(i + $off AS INT)], 0)) % ${TextFns.P})"
    }
    s"""WITH c AS (SELECT doc_id, ${duckCodesOf("text")} AS cs FROM documents),
       |     g AS (SELECT doc_id,
       |             list_transform(range(1, greatest(length(text) - ${WinK - 1}, 1) + 1),
       |               i -> $gramHash) AS hs
       |           FROM c JOIN documents USING (doc_id)),
       |     f AS (SELECT doc_id,
       |             unnest(list_distinct(list_transform(
       |               range(1, greatest(len(hs) - ${WinW - 1}, 1) + 1),
       |               i -> list_min(hs[CAST(i AS INT):CAST(i + ${WinW - 1} AS INT)])))) AS fp
       |           FROM g),
       |     keep AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM f GROUP BY 1)
       |              WHERE df BETWEEN 2 AND $WinMaxDf),
       |     k AS (SELECT fp, doc_id FROM f JOIN keep USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |FROM k a JOIN k b USING (fp) WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $WinMinShared
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------- q_cms_est: count-min sketch accuracy audit ----------

  /** Count-min sketch geometry (Cormode & Muthukrishnan, 2005): d
    * hash rows × w counters. State is d·w = 2048 integers — a
    * mergeable summary (counter-wise addition), the same class as the
    * Misra-Gries summaries [[CorpusOps.heavyHitters]] persists and
    * the HLL registers in [[graft.etl.Sketches]].
    */
  private val CmsD = 4
  private val CmsW = 512
  private val CmsTopQ = 20

  /** CMS row/column of a staged 64-bit token hash `h`: the j-th
    * [[TextHashUtil.aj]]/[[TextHashUtil.bj]] permutation reduced mod
    * [[CmsW]] — engine-independent integers, so unlike an
    * xxhash64-based sketch (the [[graft.etl.Sampling]] limit in
    * CLAUDE.md) this sketch IS cross-engine verifiable.
    */
  private def cmsCol(h: Column, j: Int): Column =
    pmod(pmod(h * TextHashUtil.aj(j) + TextHashUtil.bj(j), lit(TextHashUtil.P)), lit(CmsW.toLong))

  private def duckCmsCol(h: String, j: Int): String =
    s"((($h * ${TextHashUtil.aj(j)} + ${TextHashUtil.bj(j)}) % ${TextHashUtil.P}) % $CmsW)"

  /** Count-min sketch accuracy audit: build a d×w CMS over corpus
    * token counts, then compare the sketch estimate against the exact
    * count for the corpus's top-[[CmsTopQ]] tokens. CMS guarantees
    * est ≥ exact, with overcount ≤ εN w.h.p. — `overcount` is the
    * audit column a deployment tracks before trusting the sketch for
    * admission control / rate limiting over streams too wide to count
    * exactly.
    *
    * Shape — collapse-first again: corpus tokens collapse to (word,
    * freq) vocab grain ONCE (one hash aggregate, the only
    * corpus-sized shuffle); the sketch build fans each vocab row to
    * its d counter cells (outer generate over a 4-element literal
    * array) and sums freq per (row, col) — work ∝ vocab · d, state
    * d·w. The query side broadcasts the top-Q probe set (≤ 20 rows
    * post-limit) against the 2048-row counter table. The top-Q cut
    * uses the (freq DESC, word) total order so both engines cut the
    * identical set.
    */
  /** Hashed (word, freq) vocabulary of a documents relation — the
    * collapse both the sketch build and the probe side share.
    */
  private[text] def hashedVocab(docs: DataFrame): DataFrame =
    docs
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(explode_outer(col("ts")).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
      .withColumn("h", graft.functions.TextHashes.polyHash(col("word")))

  /** The (j, c, cnt) CMS counter table of a documents relation.
    * Counter-wise ADDITIVE: cmsCells(A ⊎ B) = cmsCells(A) + cmsCells(B)
    * summed per cell — the mergeable-summary law `DocOpsSpec` pins,
    * and the reason a sharded/streaming deployment can build per-batch
    * sketches and fold them.
    */
  private[graft] def cmsCells(docs: DataFrame): DataFrame =
    hashedVocab(docs)
      .select(col("freq"),
        explode_outer(array((0 until CmsD).map(j =>
          struct(lit(j).as("j"), cmsCol(col("h"), j).as("c"))): _*)).as("jc"))
      .groupBy(col("jc.j").as("j"), col("jc.c").as("c"))
      .agg(sum(col("freq")).as("cnt"))

  def cmsEst(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val vocab = hashedVocab(docs)
    val cells = cmsCells(docs)
    val top = vocab
      .orderBy(col("freq").desc, col("word"))
      .limit(CmsTopQ)
    top
      .select(col("word"), col("freq"),
        explode_outer(array((0 until CmsD).map(j =>
          struct(lit(j).as("j"), cmsCol(col("h"), j).as("c"))): _*)).as("jc"))
      .join(cells, col("jc.j") === cells("j") && col("jc.c") === cells("c"))
      .groupBy("word", "freq")
      .agg(min(col("cnt")).as("n_est"))
      .select(col("word").as("token"), col("freq").as("n_exact"),
        col("n_est"), (col("n_est") - col("freq")).as("overcount"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  /** Shared WITH-clause prefix rebuilding the CMS counter table from
    * the documents relation arithmetically — consumed by [[sqlCmsEst]]
    * and by the streaming CMS sink's gate oracle (q_stream_cms in
    * [[graft.stream.EventQueries]]: the persisted snapshot must equal
    * this batch counter table by the mergeability law).
    */
  private[graft] val duckCmsCellsCte: String = {
    val fan = (0 until CmsD).map(j =>
      s"SELECT word, freq, $j AS j, ${duckCmsCol("h", j)} AS c FROM h")
      .mkString("(", " UNION ALL ", ")")
    s"""t AS (SELECT $duckTokens AS ts FROM documents),
       |     e AS (SELECT unnest(ts) AS word FROM t),
       |     v AS (SELECT word, count(*) AS freq FROM e GROUP BY 1),
       |     vc AS (SELECT word, freq, ${duckCodesOf("word")} AS cs FROM v),
       |     h AS (SELECT word, freq, $duckPolyHash AS h FROM vc),
       |     f AS (SELECT * FROM $fan),
       |     cells AS (SELECT j, c, CAST(sum(freq) AS BIGINT) AS cnt FROM f GROUP BY 1, 2)""".stripMargin
  }

  /** q_stream_cms oracle: the batch counter table, (j, c)-ordered. */
  private[graft] val sqlStreamCms: String =
    s"""WITH $duckCmsCellsCte
       |SELECT CAST(j AS INT) AS j, CAST(c AS BIGINT) AS c, cnt
       |FROM cells ORDER BY j, c""".stripMargin

  /** q_stream_hh oracle: exact per-term counts + running total — what
    * the Misra-Gries snapshot must equal in the lossless regime
    * (capacity ≥ vocabulary; see streamHh's scaladoc).
    */
  private[graft] val sqlStreamHh: String =
    s"""WITH t AS (SELECT $duckTokens AS ts FROM documents),
       |     e AS (SELECT unnest(ts) AS word FROM t),
       |     v AS (SELECT word AS term, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1)
       |SELECT term, cnt, CAST((SELECT sum(cnt) FROM v) AS BIGINT) AS n_total
       |FROM v ORDER BY term""".stripMargin

  private val sqlCmsEst = {
    s"""WITH $duckCmsCellsCte,
       |     top AS (SELECT word, freq FROM v ORDER BY freq DESC, word LIMIT $CmsTopQ),
       |     q AS (SELECT f.word, f.freq, f.j, f.c FROM f JOIN top
       |             ON f.word = top.word AND f.freq = top.freq)
       |SELECT q.word AS token, CAST(q.freq AS BIGINT) AS n_exact,
       |       CAST(min(cells.cnt) AS BIGINT) AS n_est,
       |       CAST(min(cells.cnt) - q.freq AS BIGINT) AS overcount
       |FROM q JOIN cells ON q.j = cells.j AND q.c = cells.c
       |GROUP BY q.word, q.freq
       |ORDER BY n_exact DESC, token""".stripMargin
  }

  // ---------- q_dict_encode: dictionary-encoding compression audit ----------

  /** Dictionary-encoding audit: assign dense codes to the vocabulary
    * by (frequency DESC, token) rank — the order a columnar store's
    * dictionary builder uses so hot values get short codes — and
    * measure the encoded size under byte-aligned code widths (1 byte
    * for codes < 2⁸, 2 for < 2¹⁶, else 4) against the raw
    * space-joined text bytes. The compression ratio is the signal
    * that decides whether a string column gets dictionary-encoded at
    * write time ([[graft.etl.Warehouse]]'s parquet writes make this
    * choice implicitly; this query makes the estimate explicit).
    *
    * Scale note (CLAUDE.md window rule): the rank window runs
    * partition-less over the VOCABULARY — an aggregate of the corpus
    * (one hash-agg collapse), ~√N by Heaps' law, not
    * fact-proportional; at web scale where the vocab itself is wide,
    * the rank swaps to the lazy radix rank over freq buckets
    * ([[graft.olap.OlapMore.ntileQuartiles]]'s shape) — named here as
    * the fact-scale alternative. Everything else is integer
    * arithmetic and two aggregates.
    */
  def dictEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(explode_outer(col("ts")).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
    val coded = vocab
      .withColumn("code",
        row_number().over(Window.orderBy(col("freq").desc, col("word"))).cast("long") - 1L)
      .withColumn("code_bytes",
        when(col("code") < 256L, 1L).when(col("code") < 65536L, 2L).otherwise(4L))
    coded.agg(
        count(lit(1)).as("n_vocab"),
        sum(col("freq")).as("n_tokens"),
        // raw bytes: token chars + one separator per token (the
        // space-joined wire form both engines agree on exactly)
        sum(col("freq") * (length(col("word")).cast("long") + 1L)).as("raw_bytes"),
        sum(col("freq") * col("code_bytes")).as("encoded_bytes"))
      .withColumn("ratio",
        round4(col("encoded_bytes").cast("double") / col("raw_bytes").cast("double")))
      .select(col("n_vocab"), col("n_tokens"), col("raw_bytes"),
        col("encoded_bytes"), col("ratio"))
  }

  private val sqlDictEncode =
    s"""WITH t AS (SELECT $duckTokens AS ts FROM documents),
       |     e AS (SELECT unnest(ts) AS word FROM t),
       |     v AS (SELECT word, count(*) AS freq FROM e GROUP BY 1),
       |     c AS (SELECT word, freq,
       |             row_number() OVER (ORDER BY freq DESC, word) - 1 AS code
       |           FROM v),
       |     b AS (SELECT word, freq,
       |             CASE WHEN code < 256 THEN 1 WHEN code < 65536 THEN 2 ELSE 4 END AS code_bytes
       |           FROM c)
       |SELECT count(*) AS n_vocab, CAST(sum(freq) AS BIGINT) AS n_tokens,
       |       CAST(sum(freq * (length(word) + 1)) AS BIGINT) AS raw_bytes,
       |       CAST(sum(freq * code_bytes) AS BIGINT) AS encoded_bytes,
       |       ${duckRound4(
                  "CAST(sum(freq * code_bytes) AS DOUBLE) / CAST(sum(freq * (length(word) + 1)) AS DOUBLE)")} AS ratio
       |FROM b""".stripMargin

  // ---------- q_novelty: first-occurrence n-gram novelty scoring ----------

  private val NovN = 3 // word n-gram width (the q_ngram_jaccard width)

  /** Distinct [[NovN]]-gram-HASH stream per document: one (doc_id,
    * source, gram) row per distinct gram per doc, `gram` being the
    * 64-bit [[graft.functions.TextHashUtil.ngramHashes]] key (fused
    * native kernel — no gram string is ever materialized, and the
    * gram-keyed shuffles move longs instead of 3-word strings; the
    * oracles mirror the identical separator-byte hash via
    * `TextQueries.duckNgramHashesOf`, so collisions merge the same
    * pairs on both engines). The shared tokenization seam of
    * [[novelty]], [[deltaNovelty]] and the streaming novelty ingest
    * (`Streaming.noveltyIngestBatch`) — the three MUST agree on gram
    * extraction or the persisted index screens the wrong keys.
    */
  private[graft] def docGrams(df: DataFrame): DataFrame = df
    .withColumn("ts", TextFns.tokens(col("text")))
    .withColumn("gs", array_distinct(
      graft.functions.TextHashes.ngramHashes(col("ts"), NovN)))
    .select(col("doc_id"), col("source"), explode_outer(col("gs")).as("gram"))
    .filter(col("gram").isNotNull)

  /** Data-valuation novelty scoring: attribute every distinct word
    * [[NovN]]-gram to the FIRST document containing it (min doc_id —
    * ingestion order), then score each source by the fraction of its
    * gram occurrences that are first occurrences. A source full of
    * grams already seen elsewhere contributes little new signal even
    * when whole-document dedup passes — this is the marginal-
    * contribution number a curation pipeline weighs acquisition cost
    * against (the same first-wins attribution rule as
    * [[segmentDedup]], one granularity down).
    *
    * Shape: distinct (doc, gram) collapse per row (`array_distinct`),
    * one gram-keyed min aggregate (the only corpus-wide shuffle), and
    * the novelty join is gram-keyed equi. The ratio is
    * sum-of-integers / sum-of-integers per source — one exact
    * division at the output edge, no float aggregation anywhere.
    */
  def novelty(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = docGrams(Tables.documents(spark, sfDir))
    val firstDoc = grams.groupBy("gram").agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstDoc, "gram")
      .withColumn("novel", when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
      .groupBy("source")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_grams"),
        sum(col("novel")).as("n_novel"))
      .withColumn("novelty",
        round4(col("n_novel").cast("double") / col("n_grams").cast("double")))
      .orderBy("source")
  }

  private val sqlNovelty =
    s"""WITH t AS (SELECT doc_id, source, $duckTokens AS ts FROM documents),
       |     g0 AS (SELECT doc_id, source,
       |             list_distinct(${TextQueries.duckNgramHashesOf(NovN)}) AS gs
       |           FROM t),
       |     g AS (SELECT doc_id, source, unnest(gs) AS gram FROM g0),
       |     f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1)
       |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |       count(*) AS n_grams,
       |       CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       ${duckRound4(
                  "CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS DOUBLE)" +
                    " / CAST(count(*) AS DOUBLE)")} AS novelty
       |FROM g JOIN f USING (gram)
       |GROUP BY source ORDER BY source""".stripMargin

  // ---------- q_delta_novelty: batch novelty vs a persisted gram index ----------

  /** Incremental novelty screen: score an INCOMING batch's marginal
    * contribution against the already-ingested corpus's distinct-gram
    * index — the ingest-time twin of [[novelty]] (which attributes
    * within one snapshot) and the novelty analogue of
    * [[TextQueries.deltaDedup]]: an acquisition pipeline asks "how
    * much of this feed is new against everything we have?" BEFORE
    * paying to ingest it. Even doc_ids stand in for the indexed
    * corpus, odd for the batch (the deltaDedup convention).
    *
    * Scale: with the gram index persisted (the
    * [[TextQueries.bandIndex]] pattern at gram grain), the left-anti
    * join is batch-grams × index on the gram key — work ∝ batch, the
    * archive is never re-tokenized. This self-contained demo
    * recomputes the index from the even half each run; the persisted-
    * index deployment with the batch-proportional property is
    * `Streaming.startNoveltyIngest` (StreamingSpec proves its batch-2
    * report is row-identical to this oracle-gated query).
    */
  def deltaNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val index = docGrams(docs.filter(col("doc_id") % 2 === 0))
      .select("gram").distinct()
    noveltyReport(docGrams(docs.filter(col("doc_id") % 2 === 1)), Some(index))
      .orderBy("source")
  }

  /** The per-source novelty report of `grams` ([[docGrams]] rows):
    * n_docs, n_grams, n_novel (the grams absent from the distinct-gram
    * `index`; every gram without one) and novelty = n_novel / n_grams,
    * round4'd. [[deltaNovelty]] and the streaming novelty ingest
    * (`Streaming.noveltyIngestBatch`) both report through it.
    */
  def noveltyReport(grams: DataFrame, index: Option[DataFrame]): DataFrame = {
    val novel = index.fold(grams)(grams.join(_, Seq("gram"), "left_anti"))
      .groupBy("source").agg(count(lit(1)).as("n_novel"))
    grams.groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_grams"))
      .join(novel, Seq("source"), "left_outer")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty",
        round4(col("n_novel").cast("double") / col("n_grams").cast("double")))
      .select("source", "n_docs", "n_grams", "n_novel", "novelty")
  }

  private val sqlDeltaNovelty =
    s"""WITH t AS (SELECT doc_id, source, $duckTokens AS ts FROM documents),
       |     g0 AS (SELECT doc_id, source,
       |             list_distinct(${TextQueries.duckNgramHashesOf(NovN)}) AS gs
       |           FROM t),
       |     g AS (SELECT doc_id, source, unnest(gs) AS gram FROM g0),
       |     idx AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
       |     b AS (SELECT * FROM g WHERE doc_id % 2 = 1),
       |     nv AS (SELECT source, count(*) AS n_novel FROM b
       |            WHERE gram NOT IN (SELECT gram FROM idx) GROUP BY 1),
       |     tot AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |               count(*) AS n_grams
       |             FROM b GROUP BY 1)
       |SELECT tot.source, n_docs, n_grams,
       |       CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
       |       ${duckRound4(
                  "CAST(coalesce(n_novel, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE)")} AS novelty
       |FROM tot LEFT JOIN nv ON tot.source = nv.source
       |ORDER BY tot.source""".stripMargin

  // ---------- q_cdc_chunks: content-defined chunking dedup audit ----------

  /** CDC parameters: 5-byte rolling window (the corpus gram width),
    * divisor 64 ⇒ expected chunk ≈ 64 bytes — storage-dedup scale.
    */
  private val CdcK = 5
  private val CdcDiv = 64

  /** Content-defined-chunking dedup audit (the LBFS/restic/borg
    * chunking idea applied to corpus text): split every document at
    * content-derived boundaries (rolling 5-gram hash ≡ 0 mod 64 —
    * boundaries re-synchronize after edits, so shared passages land
    * in identical chunks even at different offsets, which fixed-width
    * blocks structurally cannot do), hash each chunk, and report per
    * source how much of the corpus is chunk-level duplicate — the
    * sub-document dedup-savings estimate that complements
    * [[segmentDedup]] (line grain) and [[graft.text.TextQueries
    * .dupNgrams]] (gram grain) with the storage-dedup grain.
    *
    * The chunker is the native codegen'd [[graft.functions
    * .TextHashes.cdcChunks]] kernel (one primitive pass per row); the
    * oracle rebuilds boundaries and chunk folds from the staged code
    * list with list_slice — bit-identical integer recurrences.
    * Scale: per-row kernel + one chunk-grain hash aggregate; chunk
    * count ≈ bytes/64, linear.
    */
  def cdcChunksQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("hs",
        graft.functions.TextHashes.cdcChunks(col("text"), CdcK, CdcDiv))
      .select(col("source"), col("n_chars").cast("long").as("nc"), col("hs"))
    val tb = docs.groupBy("source").agg(sum(col("nc")).as("total_bytes"))
    val ag = docs
      .select(col("source"), explode_outer(col("hs")).as("h"))
      .groupBy("source")
      .agg(count(col("h")).as("n_chunks"), countDistinct(col("h")).as("n_distinct"))
    ag.join(tb, Seq("source"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        round4(lit(1.0) -
          col("n_distinct").cast("double") / col("n_chunks").cast("double"))
          .as("dup_rate"),
        round4(col("total_bytes").cast("double") /
          col("n_chunks").cast("double")).as("avg_chunk_bytes"))
      .orderBy("source")
  }

  private val sqlCdcChunks = {
    val gramHash = (0 until CdcK).foldLeft("CAST(0 AS BIGINT)") { (acc, off) =>
      s"(($acc * 31 + coalesce(cs[CAST(i + $off AS INT)], 0)) % ${TextFns.P})"
    }
    s"""WITH c AS (SELECT doc_id, source, length(text) AS L,
       |                  ${duckCodesOf("text")} AS cs
       |           FROM documents),
       |     g AS (SELECT doc_id, source, L, cs,
       |             list_filter(list_transform(range(1, greatest(L - ${CdcK - 2}, 1)),
       |               i -> CASE WHEN ($gramHash) % $CdcDiv = 0
       |                         THEN i + ${CdcK - 1} END),
       |               x -> x IS NOT NULL) AS b
       |           FROM c),
       |     e AS (SELECT doc_id, source, cs,
       |             CASE WHEN len(b) > 0 AND b[CAST(len(b) AS INT)] = L THEN b
       |                  ELSE list_append(b, L) END AS ends
       |           FROM g),
       |     ch AS (SELECT source,
       |              unnest(list_transform(range(1, len(ends) + 1),
       |                j -> list_reduce([CAST(0 AS BIGINT)] ||
       |                       list_slice(cs,
       |                         CASE WHEN j = 1 THEN 1
       |                              ELSE CAST(ends[CAST(j AS INT) - 1] + 1 AS INT) END,
       |                         CAST(ends[CAST(j AS INT)] AS INT)),
       |                     (a, c2) -> (a * 31 + c2) % ${TextFns.P}))) AS h
       |           FROM e),
       |     tb AS (SELECT source, CAST(sum(L) AS BIGINT) AS total_bytes
       |            FROM c GROUP BY 1),
       |     ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
       |                   CAST(count(DISTINCT h) AS BIGINT) AS n_distinct
       |            FROM ch GROUP BY 1)
       |SELECT ag.source, ag.n_chunks, ag.n_distinct,
       |       ${duckRound4(
                  "1.0 - CAST(ag.n_distinct AS DOUBLE) / CAST(ag.n_chunks AS DOUBLE)")} AS dup_rate,
       |       ${duckRound4(
                  "CAST(tb.total_bytes AS DOUBLE) / CAST(ag.n_chunks AS DOUBLE)")} AS avg_chunk_bytes
       |FROM ag JOIN tb ON ag.source = tb.source ORDER BY ag.source""".stripMargin
  }

  // ---------- q_bpe_encode: train-and-apply BPE rounds ----------

  /** End-to-end tokenizer loop, oracle-gated: four BPE merge rounds,
    * each TRAINING (argmax adjacent-pair count over the weighted
    * vocab, count-desc / pair-asc tie-break) then APPLYING the merge
    * to the whole vocabulary — the [[bpePairs]] round-1 statistics
    * extended into the actual encode that [[BpeTrainer]] spec-gates
    * driver-paced. Output per round: the merged pair, its weighted
    * adjacency count at selection time, and the corpus token total
    * AFTER applying it — the compression trajectory a tokenizer
    * build reports.
    *
    * The cross-engine trick making the ENCODE oracle-expressible:
    * token sequences travel as trailing-space strings (`h e l l o `)
    * and a merge (a,b)→ab is `replace(s, "a b ", "ab ")` — plain
    * left-to-right non-overlapping substring replacement, which both
    * Spark's `replace` and DuckDB's `replace` implement with
    * identical semantics, and which equals the sequential BPE merge
    * walk (the consumed trailing space blocks overlap re-use,
    * `aaa` → `aa a`). Words are [[TextFns.tokens]] output
    * (alphanumeric), so token text never collides with the space
    * separator.
    *
    * Scale: everything runs at VOCAB grain (distinct words ×
    * freq — bounded by Heaps' law, not corpus size) exactly like
    * [[BpeTrainer]]; per round one pair-grain hash aggregate, a
    * 1-row TakeOrdered collect, and a vocab-grain map. The fact
    * table is touched once to build the vocab.
    */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Row
    val vocab = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(explode_outer(col("ts")).as("word"))
      .filter(col("word").isNotNull && length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("s", regexp_replace(col("word"), "(.)", "$1 "))
      .select(col("freq"), col("s"))
      .cache()
    // Pairs via zip_with over two shifted slices, NOT
    // transform(sequence(1, size-1)): when merges collapse a whole
    // word to ONE token, size-1 = 0 and Spark's sequence(1, 0) counts
    // DOWN to [1, 0] — the lambda then hits element_at index 0 /
    // out-of-bounds, both ANSI throws. slice(_, _, 0) is just empty,
    // matching the oracle's empty range(1, 1).
    def pairStats(df: DataFrame): DataFrame = df
      .withColumn("toks", filter(split(col("s"), " "), x => x =!= ""))
      .withColumn("prs", zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("a"), b.as("b"))))
      .select(col("freq"), explode_outer(col("prs")).as("pr"))
      .filter(col("pr").isNotNull)
      .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))
    var cur = vocab
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    (1 to 4).foreach { r =>
      val top = pairStats(cur)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect().head
      val (a, b, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
      cur = cur.withColumn("s",
        regexp_replace(col("s"), lit(java.util.regex.Pattern.quote(s"$a $b ")),
          lit(s"$a$b ")))
      val after = cur
        .withColumn("toks", filter(split(col("s"), " "), x => x =!= ""))
        .agg(sum(col("freq") * size(col("toks"))).as("t")).collect().head.getLong(0)
      rows += Row(r.toLong, a, b, cnt, after)
    }
    vocab.unpersist()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("round",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("pair_a",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pair_b",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_pair",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_tokens_after",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), schema)
      .orderBy("round")
  }

  private val sqlBpeEncode = {
    def pairCte(w: String, p: String): String =
      s"""$p AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |   SELECT freq, t.pr['a'] AS a, t.pr['b'] AS b
         |   FROM (SELECT freq,
         |           list_filter(string_split(s, ' '), x -> x <> '') AS toks
         |         FROM $w) w0,
         |        unnest(list_transform(range(1, len(w0.toks)),
         |          i -> {'a': w0.toks[CAST(i AS INT)],
         |                'b': w0.toks[CAST(i + 1 AS INT)]})) t(pr))
         | GROUP BY a, b)""".stripMargin
    def topCte(p: String, m: String): String =
      s"$m AS (SELECT a, b, cnt FROM $p ORDER BY cnt DESC, a, b LIMIT 1)"
    def applyCte(w: String, m: String, w2: String): String =
      s"""$w2 AS (SELECT freq,
         |   replace(s, $m.a || ' ' || $m.b || ' ', $m.a || $m.b || ' ') AS s
         | FROM $w CROSS JOIN $m)""".stripMargin
    def afterCte(w: String, t: String): String =
      s"""$t AS (SELECT CAST(sum(freq * len(list_filter(string_split(s, ' '),
         |   x -> x <> ''))) AS BIGINT) AS t FROM $w)""".stripMargin
    s"""WITH t0 AS (SELECT $duckTokens AS ts FROM documents),
       |     e AS (SELECT unnest(ts) AS word FROM t0),
       |     w1 AS (SELECT word, count(*) AS freq FROM e
       |            GROUP BY 1 HAVING length(word) >= 2),
       |     w AS (SELECT freq, regexp_replace(word, '(.)', '\\1 ', 'g') AS s FROM w1),
       |     ${pairCte("w", "p1")}, ${topCte("p1", "m1")},
       |     ${applyCte("w", "m1", "wa")}, ${afterCte("wa", "t1")},
       |     ${pairCte("wa", "p2")}, ${topCte("p2", "m2")},
       |     ${applyCte("wa", "m2", "wb")}, ${afterCte("wb", "t2")},
       |     ${pairCte("wb", "p3")}, ${topCte("p3", "m3")},
       |     ${applyCte("wb", "m3", "wc")}, ${afterCte("wc", "t3")},
       |     ${pairCte("wc", "p4")}, ${topCte("p4", "m4")},
       |     ${applyCte("wc", "m4", "wd")}, ${afterCte("wd", "t4")}
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS round, m1.a AS pair_a, m1.b AS pair_b,
       |         m1.cnt AS n_pair, t1.t AS n_tokens_after FROM m1, t1
       |  UNION ALL SELECT CAST(2 AS BIGINT), m2.a, m2.b, m2.cnt, t2.t FROM m2, t2
       |  UNION ALL SELECT CAST(3 AS BIGINT), m3.a, m3.b, m3.cnt, t3.t FROM m3, t3
       |  UNION ALL SELECT CAST(4 AS BIGINT), m4.a, m4.b, m4.cnt, t4.t FROM m4, t4)
       |ORDER BY round""".stripMargin
  }

  // ---------- q_source_skew: chi-square language-mix skew audit ----------

  /** Per-source χ² statistic of the source's language distribution
    * against the global mix: χ² = Σ_lang (obs − exp)²/exp with
    * exp = n_source · n_lang / n_total. Flags sources whose language
    * composition diverges from the corpus — the drift/contamination
    * alarm a multilingual ingest monitors per feed (χ² chosen over KL
    * divergence DELIBERATELY: χ² is rational arithmetic — exact
    * integer counts and correctly-rounded IEEE divisions — where KL's
    * ln has no cross-engine ulp guarantee; CLAUDE.md float-parity
    * rule).
    *
    * Parity: each (source, lang) term is computed from identical-bit
    * doubles, then round6'd and summed AS DECIMAL (order-independent
    * exact sum — the Σ over langs would otherwise depend on partial-
    * aggregation order), divided by nothing, rounded once at the
    * edge. Shape: two bounded aggregates (source×lang, then source)
    * over counts, broadcast lang totals — no fact-proportional
    * windows, no joins beyond source×lang cardinality.
    */
  def sourceSkew(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val cell = docs.groupBy("source", "lang").agg(count(lit(1)).as("obs"))
    val bySource = docs.groupBy("source").agg(count(lit(1)).as("n_source"))
    val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    cell
      .join(broadcast(byLang), "lang")
      .join(bySource, "source")
      .crossJoin(broadcast(total))
      .withColumn("exp",
        col("n_source").cast("double") * col("n_lang").cast("double")
          / col("n_total").cast("double"))
      .withColumn("term",
        (col("obs").cast("double") - col("exp")) * (col("obs").cast("double") - col("exp"))
          / col("exp"))
      .groupBy("source")
      .agg(
        max(col("n_source")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum(round6(col("term")).cast("decimal(18,6)")).as("chi2_dec"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        round4(col("chi2_dec").cast("double")).as("chi2"))
      .orderBy("source")
  }

  private val sqlSourceSkew =
    s"""WITH cell AS (SELECT source, lang, count(*) AS obs FROM documents GROUP BY 1, 2),
       |     bs AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
       |     bl AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
       |     tot AS (SELECT count(*) AS n_total FROM documents),
       |     e AS (SELECT cell.source, cell.obs,
       |             CAST(n_source AS DOUBLE) * CAST(n_lang AS DOUBLE)
       |               / CAST(n_total AS DOUBLE) AS exp,
       |             n_source
       |           FROM cell JOIN bl USING (lang) JOIN bs USING (source) CROSS JOIN tot),
       |     t AS (SELECT source, n_source,
       |             (CAST(obs AS DOUBLE) - exp) * (CAST(obs AS DOUBLE) - exp) / exp AS term
       |           FROM e)
       |SELECT source, CAST(max(n_source) AS BIGINT) AS n_docs,
       |       count(*) AS n_langs,
       |       ${duckRound4(
                  s"CAST(sum(CAST(${duckRound6("term")}" +
                    " AS DECIMAL(18,6))) AS DOUBLE)")} AS chi2
       |FROM t GROUP BY source ORDER BY source""".stripMargin

  // ---------- q_cramers_v: source × lang association strength ----------

  /** Cramér's V over the source × language contingency table — the
    * normalized association statistic on top of [[sourceSkew]]'s raw
    * per-source χ²: one number in [0, 1] answering "how strongly does
    * source determine language in this corpus" (V near 1 = sources
    * are language silos, the signal to stratify the mixture by
    * (source, lang) jointly rather than independently).
    *
    * Shape: contingency cells, margins, and total are four bounded
    * hash aggregates (cell grain = source × lang domain); the χ²
    * terms are per-cell doubles collapsed into a round6-DECIMAL sum
    * (the [[sourceSkew]] parity recipe) and V = sqrt(χ²/(n·min(r−1,
    * c−1))) — sqrt being the one correctly-rounded transcendental the
    * parity rules allow.
    */
  def cramersV(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val cell = docs.groupBy("source", "lang").agg(count(lit(1)).as("obs"))
    val bySource = docs.groupBy("source").agg(count(lit(1)).as("n_source"))
    val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val dims = docs.agg(count(lit(1)).as("n_total"),
      countDistinct(col("source")).as("r"), countDistinct(col("lang")).as("c"))
    cell
      .join(broadcast(byLang), "lang")
      .join(broadcast(bySource), "source")
      .crossJoin(broadcast(dims))
      .withColumn("exp",
        col("n_source").cast("double") * col("n_lang").cast("double")
          / col("n_total").cast("double"))
      .withColumn("term",
        (col("obs").cast("double") - col("exp"))
          * (col("obs").cast("double") - col("exp")) / col("exp"))
      .groupBy("n_total", "r", "c")
      .agg(sum(round6(col("term")).cast("decimal(18,6)")).as("chi2_dec"))
      .select(col("n_total").as("n_docs"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"),
        round4(col("chi2_dec").cast("double")).as("chi2"),
        round4(sqrt(col("chi2_dec").cast("double")
          / (col("n_total").cast("double")
            * least(col("r") - 1, col("c") - 1).cast("double")))).as("cramers_v"))
  }

  private val sqlCramersV =
    s"""WITH cell AS (SELECT source, lang, count(*) AS obs FROM documents GROUP BY 1, 2),
       |     bs AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
       |     bl AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
       |     d AS (SELECT count(*) AS n_total, count(DISTINCT source) AS r,
       |                  count(DISTINCT lang) AS c
       |           FROM documents),
       |     t AS (SELECT n_total, r, c,
       |             (CAST(obs AS DOUBLE) - CAST(n_source AS DOUBLE) * CAST(n_lang AS DOUBLE) / CAST(n_total AS DOUBLE))
       |               * (CAST(obs AS DOUBLE) - CAST(n_source AS DOUBLE) * CAST(n_lang AS DOUBLE) / CAST(n_total AS DOUBLE))
       |               / (CAST(n_source AS DOUBLE) * CAST(n_lang AS DOUBLE) / CAST(n_total AS DOUBLE)) AS term
       |           FROM cell JOIN bl USING (lang) JOIN bs USING (source) CROSS JOIN d),
       |     a AS (SELECT n_total, r, c,
       |                  sum(CAST(${duckRound6("term")} AS DECIMAL(18,6))) AS chi2_dec
       |           FROM t GROUP BY 1, 2, 3)
       |SELECT CAST(n_total AS BIGINT) AS n_docs,
       |       CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       |       ${duckRound4("CAST(chi2_dec AS DOUBLE)")} AS chi2,
       |       ${duckRound4(
                 "sqrt(CAST(chi2_dec AS DOUBLE) / (CAST(n_total AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE)))")} AS cramers_v
       |FROM a""".stripMargin

  // ---------- q_mutual_info: lang × source information audit ----------

  /** Mutual information between language and source — the
    * information-theoretic twin of [[cramersV]]'s χ²-based
    * association: I(lang; source) in nats plus both marginal
    * entropies and the normalized NMI = I/√(H_l·H_s) (Strehl &
    * Ghosh's geometric normalization). χ² weights large cells by
    * squared deviation; MI weights them by log-likelihood ratio —
    * reading both tells a curator whether the dependence is broad or
    * driven by a few silo cells.
    *
    * Shape: identical to cramersV — bounded contingency cells, margin
    * broadcasts, per-cell double terms collapsed in round6-DECIMAL
    * (order-independent), one output row. √(H_l·H_s) is written
    * sqrt·sqrt per the float rules.
    */
  def mutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // Stage the source×lang contingency table ONCE (dim×dim rows) and
    // derive every marginal from it (Σ per-cell counts ≡ the group
    // counts, exactly): unstaged, the marginals and totals re-scanned
    // the table once per consumer (16 parquet scans in the
    // before-plan); staged, the corpus is scanned once.
    val cell = docs.groupBy("source", "lang").agg(count(lit(1)).as("obs"))
      .localCheckpoint(true)
    val bySource = cell.groupBy("source").agg(sum(col("obs")).as("n_source"))
    val byLang = cell.groupBy("lang").agg(sum(col("obs")).as("n_lang"))
    val tot = cell.agg(sum(col("obs")).as("n_total"))
    val nD = col("n_total").cast("double")
    val mi = cell
      .join(broadcast(byLang), "lang")
      .join(broadcast(bySource), "source")
      .crossJoin(broadcast(tot))
      .withColumn("term",
        (col("obs").cast("double") / nD) *
          log(col("obs").cast("double") * nD /
            (col("n_source").cast("double") * col("n_lang").cast("double"))))
      .groupBy("n_total").agg(sum(round6(col("term")).cast("decimal(18,6)")).as("mi_dec"))
    val hl = byLang.crossJoin(broadcast(tot))
      .withColumn("term",
        -(col("n_lang").cast("double") / nD) * log(col("n_lang").cast("double") / nD))
      .groupBy("n_total").agg(sum(round6(col("term")).cast("decimal(18,6)")).as("hl_dec"))
    val hs = bySource.crossJoin(broadcast(tot))
      .withColumn("term",
        -(col("n_source").cast("double") / nD) * log(col("n_source").cast("double") / nD))
      .groupBy("n_total").agg(sum(round6(col("term")).cast("decimal(18,6)")).as("hs_dec"))
    mi.join(hl, "n_total").join(hs, "n_total")
      .select(col("n_total").as("n_docs"),
        round4(col("mi_dec").cast("double")).as("mi"),
        round4(col("hl_dec").cast("double")).as("h_lang"),
        round4(col("hs_dec").cast("double")).as("h_source"),
        round4(col("mi_dec").cast("double") /
          (sqrt(col("hl_dec").cast("double")) * sqrt(col("hs_dec").cast("double"))))
          .as("nmi"))
  }

  private val sqlMutualInfo = {
    s"""WITH cell AS (SELECT source, lang, count(*) AS obs FROM documents GROUP BY 1, 2),
       |     bs AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
       |     bl AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
       |     d AS (SELECT count(*) AS n_total FROM documents),
       |     mi AS (SELECT n_total, sum(CAST(${duckRound6(
                  "(CAST(obs AS DOUBLE) / CAST(n_total AS DOUBLE)) * " +
                    "ln(CAST(obs AS DOUBLE) * CAST(n_total AS DOUBLE) / " +
                    "(CAST(n_source AS DOUBLE) * CAST(n_lang AS DOUBLE)))")} AS DECIMAL(18,6))) AS mi_dec
       |            FROM cell JOIN bl USING (lang) JOIN bs USING (source) CROSS JOIN d
       |            GROUP BY 1),
       |     hl AS (SELECT n_total, sum(CAST(${duckRound6(
                  "-(CAST(n_lang AS DOUBLE) / CAST(n_total AS DOUBLE)) * " +
                    "ln(CAST(n_lang AS DOUBLE) / CAST(n_total AS DOUBLE))")} AS DECIMAL(18,6))) AS hl_dec
       |            FROM bl CROSS JOIN d GROUP BY 1),
       |     hs AS (SELECT n_total, sum(CAST(${duckRound6(
                  "-(CAST(n_source AS DOUBLE) / CAST(n_total AS DOUBLE)) * " +
                    "ln(CAST(n_source AS DOUBLE) / CAST(n_total AS DOUBLE))")} AS DECIMAL(18,6))) AS hs_dec
       |            FROM bs CROSS JOIN d GROUP BY 1)
       |SELECT CAST(n_total AS BIGINT) AS n_docs,
       |       ${duckRound4("CAST(mi_dec AS DOUBLE)")} AS mi,
       |       ${duckRound4("CAST(hl_dec AS DOUBLE)")} AS h_lang,
       |       ${duckRound4("CAST(hs_dec AS DOUBLE)")} AS h_source,
       |       ${duckRound4(
                 "CAST(mi_dec AS DOUBLE) / (sqrt(CAST(hl_dec AS DOUBLE)) * sqrt(CAST(hs_dec AS DOUBLE)))")} AS nmi
       |FROM mi JOIN hl USING (n_total) JOIN hs USING (n_total)""".stripMargin
  }

  // ---------- q_collocations: PMI-lift bigram phrase mining ----------

  private val ColMinCount = 5L
  private val ColTopK = 20

  /** Collocation (phrase) mining: top bigrams by LIFT — the
    * multiword-expression detector a tokenizer/vocab builder runs to
    * decide which token pairs deserve a fused vocabulary entry
    * (word-level twin of [[bpePairs]]' character merges).
    * lift(a,b) = P(ab)/(P(a)·P(b)) = n_ab·N / (n_a·n_b), the
    * monotone transform of PMI — ranking on lift instead of
    * log-lift drops the `ln` whose cross-engine ulp is unguaranteed
    * (the same correctly-rounded-ops-only rule as
    * [[CorpusOps.temperatureMix]]'s sqrt and [[sourceSkew]]'s χ²).
    *
    * Parity: numerator and denominator are exact integer products
    * (n ≤ 2³¹-scale counts ⇒ products < 2⁶³; a web-scale corpus
    * divides counts by a common sample factor first, as
    * [[CorpusOps.mixSchedule]] notes), ONE double division (identical
    * bits), round4 before the rank, integer tie-break. Shape: unigram
    * and bigram counts are two hash aggregates over one explode each;
    * the join attaches unigram counts to the BIGRAM-DISTINCT grain
    * (vocab², not corpus); top-K is a total-order cut.
    */
  def collocations(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
    val uni = toks
      .select(explode_outer(col("ts")).as("w"))
      .filter(col("w").isNotNull)
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val tot = uni.agg(sum(col("n_w")).as("n_total"))
    // adjacent-pair fan-out by position index (the sequence bound
    // stays >= 1 via the size-2 prefilter — Spark's sequence(1, 0)
    // COUNTS DOWN); grams-with-separator would not split back, the
    // shared n-gram form concatenates bare
    val bi = toks.filter(size(col("ts")) >= 2)
      .select(col("ts"), explode_outer(sequence(lit(1), size(col("ts")) - 1)).as("i"))
      .select(
        try_element_at(col("ts"), col("i")).as("w1"),
        try_element_at(col("ts"), col("i") + 1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= ColMinCount)
    bi
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_b")), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("lift",
        round4((col("n_ab") * col("n_total")).cast("double")
          / (col("n_a") * col("n_b")).cast("double")))
      .select(col("w1"), col("w2"), col("n_ab"), col("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(ColTopK)
  }

  private val sqlCollocations =
    s"""WITH t AS (SELECT doc_id, $duckTokens AS ts FROM documents),
       |     u AS (SELECT unnest(ts) AS w FROM t),
       |     uni AS (SELECT w, count(*) AS n_w FROM u GROUP BY 1),
       |     tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_total FROM uni),
       |     b0 AS (SELECT ts, unnest(range(1, greatest(len(ts), 1))) AS i
       |            FROM t WHERE len(ts) >= 2),
       |     bi AS (SELECT ts[CAST(i AS INT)] AS w1, ts[CAST(i + 1 AS INT)] AS w2,
       |              count(*) AS n_ab
       |            FROM b0 GROUP BY 1, 2 HAVING count(*) >= $ColMinCount)
       |SELECT bi.w1, bi.w2, CAST(n_ab AS BIGINT) AS n_ab,
       |       ${duckRound4(
                  "CAST(n_ab * n_total AS DOUBLE) / CAST(a.n_w * b.n_w AS DOUBLE)")} AS lift
       |FROM bi JOIN uni a ON bi.w1 = a.w JOIN uni b ON bi.w2 = b.w CROSS JOIN tot
       |ORDER BY lift DESC, w1, w2 LIMIT $ColTopK""".stripMargin

  // ---------- q_char_gini: rational character-diversity score ----------

  /** Per-language character-diversity audit via Gini impurity
    * (1 − Σ p_c²) of each document's character distribution — the
    * repetitiveness screen that needs NO transcendental: entropy's ln
    * has no cross-engine ulp guarantee (CLAUDE.md float rules), while
    * Gini is a pure rational of exact integer counts (Σ cnt², len²)
    * so both engines compute identical bits. Low-impurity documents
    * are single-character floods / padding artifacts the quality gate
    * ([[gopherRules]]) should drop; the per-lang aggregate is the
    * corpus-health row a curation dashboard tracks.
    *
    * Shape: Σcnt² is the native codegen'd
    * [[graft.functions.TextHashes.charSqSum]] kernel (one 256-slot
    * primitive histogram per ROW — `TextHashSpec` pins its parity
    * with the explode + two-hash-aggregate HOF form this replaced),
    * so the per-doc stage is zero-shuffle and the only exchange is
    * the lang-cardinality output aggregate. The per-doc mean follows
    * the round6-DECIMAL exact-sum rule.
    */
  def charGini(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        greatest(length(col("text")), lit(1)).cast("long").as("len"),
        graft.functions.TextHashes.charSqSum(col("text")).as("ss"))
      .withColumn("gini",
        lit(1.0) - col("ss").cast("double")
          / (col("len") * col("len")).cast("double"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(round6(col("gini")).cast("decimal(18,6)")).as("sg"),
        min(col("gini")).as("mn"), max(col("gini")).as("mx"))
      .select(col("lang"), col("n_docs"),
        round4(col("sg").cast("double") / col("n_docs").cast("double"))
          .as("avg_gini"),
        round4(col("mn")).as("min_gini"),
        round4(col("mx")).as("max_gini"))
      .orderBy("lang")
  }

  private val sqlCharGini = {
    s"""WITH c AS (SELECT doc_id, lang, unnest(${duckCodesOf("text")}) AS code
       |           FROM documents),
       |     k AS (SELECT doc_id, lang, code, count(*) AS cnt
       |           FROM c GROUP BY 1, 2, 3),
       |     d AS (SELECT doc_id, lang, sum(cnt) AS len,
       |                  sum(cnt * cnt) AS ss
       |           FROM k GROUP BY 1, 2),
       |     g AS (SELECT doc_id, lang,
       |                  1.0 - CAST(ss AS DOUBLE) / CAST(len * len AS DOUBLE) AS gini
       |           FROM d)
       |SELECT lang, count(*) AS n_docs,
       |       ${duckRound4(
                  s"CAST(sum(CAST(${duckRound6("gini")} AS DECIMAL(18,6))) AS DOUBLE)" +
                    " / CAST(count(*) AS DOUBLE)")} AS avg_gini,
       |       ${duckRound4("min(gini)")} AS min_gini,
       |       ${duckRound4("max(gini)")} AS max_gini
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------- q_decontaminate: eval-set n-gram overlap screen ----------

  /** Decontamination gram width — long enough that a match means
    * copied text, not chance collocation (the 8-13-gram window the
    * published decontamination passes use).
    */
  private val DecontamN = 8

  /** Held-out fraction: docs with polyHash(doc_id) ≡ 0 (mod 50), ~2%
    * of the corpus, stand in for the benchmark/eval set. Content-hash
    * membership (the `Sampling` rule) — deterministic on any layout,
    * any engine; never `rand()`.
    */
  private val EvalMod = 50L

  /** Benchmark-decontamination audit: flag every training document
    * that shares at least one word-[[DecontamN]]-gram with the
    * held-out eval set — the train/test-overlap screen (GPT-3
    * appx. C / PaLM-style n-gram decontamination) that a curation
    * pipeline runs before training, complementing `q_leakage_split`
    * (which splits cluster-atomically but cannot catch contamination
    * against an EXTERNALLY-fixed eval set).
    *
    * Shape: per-doc DISTINCT grams (array_distinct once per row — the
    * collapse-before-join rule), hashed to 64-bit keys so the
    * gram-keyed shuffle moves longs, never 8-word strings; the eval
    * side collapses to a DISTINCT gram-hash set (≤2% of corpus
    * grams); ONE left equi-join marks hits and ONE doc-grain
    * aggregate + ONE source-grain aggregate roll up. Linear in corpus
    * tokens, no pairwise join, no window. At 100 TB the eval side is
    * a benchmark suite (MB-scale) and the same plan broadcasts it.
    *
    * Parity: hash collisions count as hits in BOTH engines (same
    * polynomial mod-P hash — [[graft.functions.TextHashUtil]]);
    * ratios are BIGINT-sum divisions rounded once at the edge.
    */
  /** The [[EvalMod]] held-out membership flag (content-hash rule). */
  private[text] def isEvalDoc: Column =
    pmod(graft.functions.TextHashes.polyHash(col("doc_id").cast("string")),
      lit(EvalMod)) === 0L

  /** Per-TRAIN-doc eval-overlap counts — the kernel behind
    * [[decontaminate]] (which aggregates it per source) and
    * `RunCurate`'s decontamination stage (which drops the flagged
    * docs). Input needs (doc_id, source, text); output one row per
    * non-eval doc: (doc_id, source, n_grams, n_hits).
    */
  private[graft] def contamHits(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .withColumn("ts", TextFns.tokens(col("text")))
      .withColumn("is_eval", isEvalDoc)
      // native fused gram-hash kernel (NgramHashExpr): one primitive
      // pass per row — no gram string is ever materialized; dedup is
      // on the hash (the oracle mirrors the identical separator-byte
      // hash, so collisions merge the same pairs on both engines)
      .select(col("doc_id"), col("source"), col("is_eval"),
        array_distinct(
          graft.functions.TextHashes.ngramHashes(col("ts"), DecontamN)).as("hs"))
    // explode_outer, not explode: the array is kernel-built and
    // provably non-empty (greatest(..., 1) pads), and a non-outer
    // Generate gets a size()>0 filter that inlines the tokenize
    // pipeline (the q_dup_ngrams 10× regression shape).
    val exploded = docs
      .select(col("doc_id"), col("source"), col("is_eval"),
        explode_outer(col("hs")).as("h"))
    val evalGrams = exploded.filter(col("is_eval"))
      .select(col("h")).distinct().withColumn("hit", lit(1L))
    exploded.filter(!col("is_eval"))
      .join(evalGrams, Seq("h"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
  }

  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    contamHits(Tables.documents(spark, sfDir).select("doc_id", "source", "text"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_contam"),
        sum(col("n_hits")).as("hit_grams"))
      .withColumn("contam_ratio",
        round4(col("n_contam").cast("double") / col("n_train").cast("double")))
      .orderBy("source")
  }

  private val sqlDecontaminate = {
    s"""WITH t AS (SELECT doc_id, source, $duckTokens AS ts FROM documents),
       |     im AS (SELECT doc_id, source, ts,
       |              ${duckCodesOf("CAST(doc_id AS VARCHAR)")} AS cs
       |            FROM t),
       |     iv AS (SELECT doc_id, source, ts,
       |              ($duckPolyHash) % $EvalMod = 0 AS is_eval
       |            FROM im),
       |     gh AS (SELECT doc_id, source, is_eval,
       |             list_distinct(${TextQueries.duckNgramHashesOf(DecontamN)}) AS hs
       |           FROM iv),
       |     ev AS (SELECT DISTINCT unnest(hs) AS h FROM gh WHERE is_eval),
       |     tr AS (SELECT doc_id, source, unnest(hs) AS h FROM gh WHERE NOT is_eval),
       |     pd AS (SELECT tr.doc_id, tr.source,
       |              count(*) AS n_grams,
       |              sum(CASE WHEN ev.h IS NULL THEN 0 ELSE 1 END) AS n_hits
       |            FROM tr LEFT JOIN ev ON tr.h = ev.h GROUP BY 1, 2)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_train,
       |       CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contam,
       |       CAST(sum(n_hits) AS BIGINT) AS hit_grams,
       |       ${duckRound4(
                  "CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)" +
                    " / CAST(count(*) AS DOUBLE)")} AS contam_ratio
       |FROM pd GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q_pack_audit: GPT-style sequence-packing audit ----------

  /** Packed-sequence capacity (tokens per training sequence). Small
    * relative to real 2k-8k contexts so the sf0.01 corpus still packs
    * multiple bins per source.
    */
  private val PackCap = 512L

  /** Docs per prefix-sum block — the hierarchical-scan fan-in. */
  private val PackBlock = 1024L

  /** Sequence-packing audit (concat-then-split, the GPT-style packing
    * that concatenates each source's token stream in doc_id order and
    * cuts every [[PackCap]] tokens): per source, total tokens, packed
    * bin count, documents straddling a bin boundary, and the extra
    * fragments splitting creates — the packing-efficiency /
    * truncation-damage table a training-data loader reports.
    *
    * Shape — the scale story IS the point: a naive
    * `Window.partitionBy(source).orderBy(doc_id)` running sum puts an
    * entire source's doc stream in ONE partition (the forbidden
    * fact-scale-window shape). Instead the prefix sum is hierarchical:
    * (1) block partials — one hash aggregate at (source, doc_id DIV
    * [[PackBlock]]) grain; (2) block offsets — an ordered window over
    * the PARTIAL grain only (docs/[[PackBlock]] rows per source,
    * 1000× reduction; recurse the same two phases if even that
    * overflows a partition); (3) per-doc local sums — a window keyed
    * by (source, block), ≤[[PackBlock]] rows per key,
    * fact-proportional KEY cardinality so partitioning scales. The
    * DuckDB oracle computes the same prefix sums with one flat window
    * — identical integers, different schedule.
    *
    * Parity: every output is an exact integer (counts, DIV, ceil-DIV)
    * — no float crosses the engine boundary anywhere.
    */
  def packAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        size(col("ts")).cast("long").as("n_tok"))
      .withColumn("blk", expr(s"doc_id DIV $PackBlock"))
    val partials = d.groupBy("source", "blk").agg(sum(col("n_tok")).as("bt"))
    val wBlocks = Window.partitionBy("source").orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials
      .withColumn("off", coalesce(sum(col("bt")).over(wBlocks), lit(0L)))
      .select(col("source"), col("blk"), col("off"))
    val wLocal = Window.partitionBy("source", "blk").orderBy("doc_id")
    val cum = d.join(offsets, Seq("source", "blk"))
      .withColumn("cum", col("off") + sum(col("n_tok")).over(wLocal))
      .withColumn("prev", col("cum") - col("n_tok"))
      .withColumn("extra",
        when(col("n_tok") === 0, lit(0L))
          .otherwise(expr(s"(cum - 1) DIV $PackCap - prev DIV $PackCap")))
    cum.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(when(col("extra") > 0, 1L).otherwise(0L)).as("n_straddle"),
        sum(col("extra")).as("frag_extra"))
      .withColumn("n_bins", expr(s"(total_tokens + ${PackCap - 1}) DIV $PackCap"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_bins"), col("n_straddle"), col("frag_extra"))
      .orderBy("source")
  }

  private val sqlPackAudit =
    s"""WITH t AS (SELECT doc_id, source,
       |             CAST(len($duckTokens) AS BIGINT) AS n_tok
       |           FROM documents),
       |     c AS (SELECT doc_id, source, n_tok,
       |             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
       |           FROM t),
       |     e AS (SELECT source, n_tok, cum, cum - n_tok AS prev,
       |             CASE WHEN n_tok = 0 THEN 0
       |                  ELSE (cum - 1) // $PackCap - (cum - n_tok) // $PackCap
       |             END AS extra
       |           FROM c)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |       CAST((sum(n_tok) + ${PackCap - 1}) // $PackCap AS BIGINT) AS n_bins,
       |       CAST(sum(CASE WHEN extra > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
       |       CAST(sum(extra) AS BIGINT) AS frag_extra
       |FROM e GROUP BY source ORDER BY source""".stripMargin

  // ---------- q_soft_dedup: duplicate down-weighting (SoftDeDup) ----------

  /** Soft deduplication report: instead of DROPPING exact duplicates,
    * weight every copy 1/multiplicity so each distinct document
    * contributes unit mass to the training mix (the
    * down-weight-don't-delete alternative the data-mixing literature
    * prefers when duplicates carry distribution signal). Per source:
    * raw docs, docs that are part of a duplicate group, effective
    * (weighted) doc count, and the effective/raw ratio — the number a
    * mixing schedule multiplies into its per-source sampling rate.
    *
    * Shape: collapse to (content-hash, source) CELLS first (the
    * collapse-before-join rule — multiplicity never reaches the
    * join), aggregate cell counts to per-hash multiplicity, then ONE
    * hash-keyed equi-join at distinct-document cardinality and one
    * bounded source aggregate. Two key shuffles, both at
    * distinct-content cardinality — never raw-doc-proportional join
    * fan-out.
    *
    * Parity: weights are round6(1/mult) CAST TO DECIMAL and summed
    * exactly (the order-independent float-sum rule); one cast +
    * round4 at the output edge.
    */
  def softDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val cell = Tables.documents(spark, sfDir)
      .select(col("source"), graft.functions.TextHashes.polyHash(col("text")).as("h"))
      .groupBy("h", "source").agg(count(lit(1)).as("c"))
    val mult = cell.groupBy("h").agg(sum(col("c")).as("mult"))
    cell.join(mult, "h")
      .withColumn("w",
        col("c") * round6(lit(1.0) / col("mult").cast("double")).cast("decimal(18,6)"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_docs"),
        sum(when(col("mult") > 1, col("c")).otherwise(0L)).as("n_duped"),
        sum(col("w")).as("wsum"))
      .select(col("source"), col("n_docs"), col("n_duped"),
        round4(col("wsum").cast("double")).as("eff_docs"),
        round4(col("wsum").cast("double") / col("n_docs").cast("double"))
          .as("eff_ratio"))
      .orderBy("source")
  }

  private val sqlSoftDedup = {
    s"""WITH c AS (SELECT source, ${duckCodesOf("text")} AS cs FROM documents),
       |     h AS (SELECT source, $duckPolyHash AS h FROM c),
       |     cell AS (SELECT h, source, count(*) AS c FROM h GROUP BY 1, 2),
       |     m AS (SELECT h, CAST(sum(c) AS BIGINT) AS mult FROM cell GROUP BY 1),
       |     j AS (SELECT cell.source, cell.c, m.mult,
       |             cell.c * CAST(${duckRound6("1.0 / CAST(mult AS DOUBLE)")}
       |               AS DECIMAL(18,6)) AS w
       |           FROM cell JOIN m ON cell.h = m.h)
       |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN mult > 1 THEN c ELSE 0 END) AS BIGINT) AS n_duped,
       |       ${duckRound4("CAST(sum(w) AS DOUBLE)")} AS eff_docs,
       |       ${duckRound4(
                  "CAST(sum(w) AS DOUBLE) / CAST(sum(c) AS DOUBLE)")} AS eff_ratio
       |FROM j GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q_ks_test: two-sample Kolmogorov–Smirnov drift screen ----------

  /** Per-source distributional drift of document length: the exact
    * two-sample KS statistic of each source's `n_chars` distribution
    * against the pooled rest of the corpus, D = max_v |F_s(v) −
    * F_rest(v)|. Complements [[sourceSkew]] (χ² on a categorical
    * mix) with the continuous-measure analogue every ingest monitor
    * wants: a source whose length distribution silently shifts
    * (truncation bug, boilerplate injection) spikes its D.
    *
    * Exactness: D is maximized over the INTEGER cross-term
    * |c1·n2 − c2·n1| (c1,c2 cumulative counts; n1,n2 sample sizes) so
    * the argmax never touches a float; the single division happens
    * once at the output edge and is round4'd on both engines. The
    * integer product needs n1·N < 2⁶³ — fine to ~3e9 docs; widen to
    * DECIMAL beyond that.
    *
    * Scale: aggregates at (source × distinct-length) grain; windows
    * partition by source over distinct-value rows, bounded by the
    * length domain (for unbounded measures, pre-bin to equi-width
    * buckets first — same plan). The sources×values spine is a
    * broadcast cross of two bounded dims; no fact-scale shuffle
    * beyond the two hash aggregates.
    */
  def ksDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir).select(col("source"), col("n_chars").as("v"))
    val c = docs.groupBy("source", "v").agg(count(lit(1)).as("cnt"))
    val tot = docs.groupBy("v").agg(count(lit(1)).as("tcnt"))
    val n1 = docs.groupBy("source").agg(count(lit(1)).as("n1"))
    val nAll = docs.agg(count(lit(1)).as("n_all"))
    val spine = tot.crossJoin(broadcast(n1.select("source")))
    val w = Window.partitionBy("source").orderBy("v")
    val cum = spine
      .join(c, Seq("source", "v"), "left")
      .withColumn("c1", sum(coalesce(col("cnt"), lit(0L))).over(w))
      .withColumn("call", sum(col("tcnt")).over(w))
    cum
      .join(broadcast(n1), Seq("source"))
      .crossJoin(broadcast(nAll))
      .withColumn("dint",
        abs(col("c1") * (col("n_all") - col("n1")) - (col("call") - col("c1")) * col("n1")))
      .groupBy(col("source"), col("n1"), col("n_all"))
      .agg(max(col("dint")).as("d_scaled"))
      .select(col("source"), col("n1").as("n_docs"), col("d_scaled"),
        round4(col("d_scaled").cast("double") /
          (col("n1").cast("double") * (col("n_all") - col("n1")).cast("double"))).as("ks_d"))
      .orderBy("source")
  }

  private val sqlKsDrift =
    s"""WITH d AS (SELECT source, n_chars AS v FROM documents),
       |     c AS (SELECT source, v, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1, 2),
       |     tot AS (SELECT v, CAST(count(*) AS BIGINT) AS tcnt FROM d GROUP BY 1),
       |     n1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n1 FROM d GROUP BY 1),
       |     nall AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM d),
       |     spine AS (SELECT n1.source, tot.v, tot.tcnt FROM tot CROSS JOIN n1),
       |     cum AS (SELECT spine.source, spine.v,
       |                    CAST(sum(COALESCE(c.cnt, 0)) OVER
       |                      (PARTITION BY spine.source ORDER BY spine.v) AS BIGINT) AS c1,
       |                    CAST(sum(spine.tcnt) OVER
       |                      (PARTITION BY spine.source ORDER BY spine.v) AS BIGINT) AS call
       |             FROM spine LEFT JOIN c ON c.source = spine.source AND c.v = spine.v),
       |     dm AS (SELECT cum.source, n1.n1, nall.n_all,
       |                   abs(c1 * (n_all - n1) - (call - c1) * n1) AS dint
       |            FROM cum JOIN n1 ON cum.source = n1.source CROSS JOIN nall)
       |SELECT source, n1 AS n_docs, CAST(max(dint) AS BIGINT) AS d_scaled,
       |       ${duckRound4(
                  "CAST(max(dint) AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n_all - n1 AS DOUBLE))")} AS ks_d
       |FROM dm GROUP BY source, n1, n_all ORDER BY source""".stripMargin

  // ---------- q_dsir_weights: hashed-feature importance resampling ----------

  /** DSIR bucket count (hashed unigram features; the paper hashes
    * n-grams into 10⁴ buckets — scaled to this corpus's vocabulary).
    */
  private val DsirBuckets = 256L

  /** Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169) — the curation operator that up-weights raw
    * documents whose hashed-feature distribution resembles a target
    * domain: per document, the mean log-likelihood ratio
    * `ln p_target(b) − ln p_raw(b)` over its token instances, where
    * both distributions are add-one-smoothed bucket frequencies of
    * [[TextFns.tokenHashesFromTokens]] token hashes modulo
    * [[DsirBuckets]]. The target here is the English subcorpus
    * (`lang = 'en'`); positive weight ⇒ resembles the target,
    * negative ⇒ out-of-domain. Sampling ∝ exp(weight) is the paper's
    * next step; emitting the log-weight keeps the gate exact.
    *
    * Shape: (doc, bucket) term frequencies (one hash aggregate),
    * bucket-grain raw/target count tables (vocab-bounded), totals as
    * broadcast 1-row aggregates, one join back to (doc, bucket)
    * grain — the [[graft.text.TextAnalytics]] cross-entropy shape
    * with a second (conditional) count table; linear at 100 TB, no
    * pairwise work. Parity: the ln-ratio is written with IDENTICAL
    * division-then-ln structure on both engines and the per-doc mean
    * is rounded once at the edge (the `-ln(c/tot)` cross-entropy
    * precedent); token hashes come from [[graft.functions.TextHashUtil]]'s
    * constants on both sides.
    */
  def dsirWeights(spark: SparkSession, sfDir: String): DataFrame = {
    // Native per-doc bucket census (graft_token_bucket_hist): one
    // codegen'd byte walk replaces the interpreted lower→split→
    // transform(polyHash) HOF chain, the TOKEN-grain explode, and the
    // token-grain partial aggregate — the (doc, bucket, tf) frame
    // comes out of the scan already aggregated (guide §2.3 "aggregate
    // before you shuffle" done at expression level; same packed-long
    // census shape as q_byte_entropy's charHist). Bucket values are
    // identical: the kernel's token walk/hash is the simHash parity
    // class (byte walk ≡ char walk on the ASCII corpus) and
    // h % m ≡ pmod(h, m) for h ∈ [0, P). explode_outer keeps the
    // InferFiltersFromGenerate guard off the kernel (CLAUDE.md).
    val tf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        explode_outer(graft.functions.TextHashes.tokenBucketHist(
          col("text"), DsirBuckets.toInt)).as("pk"))
      .select(col("doc_id"), col("lang"),
        shiftRight(col("pk"), 40).as("b"),
        col("pk").bitwiseAND(lit((1L << 40) - 1)).as("tf"))
    val rawCnt = tf.groupBy("b").agg(sum(col("tf")).as("rc"))
    val tgtCnt = tf.filter(col("lang") === "en")
      .groupBy("b").agg(sum(col("tf")).as("tc"))
    val tots = rawCnt.agg(sum(col("rc")).as("rt"))
      .crossJoin(tgtCnt.agg(sum(col("tc")).as("tt")))
    val lnRatio =
      log((coalesce(col("tc"), lit(0L)) + 1L).cast("double") /
          (col("tt") + DsirBuckets).cast("double")) -
        log((col("rc") + 1L).cast("double") /
            (col("rt") + DsirBuckets).cast("double"))
    tf.join(rawCnt, "b")
      .join(tgtCnt, Seq("b"), "left")
      .crossJoin(broadcast(tots))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        round4(
          sum(col("tf").cast("double") * lnRatio) /
            sum(col("tf")).cast("double")).as("dsir_w"))
      .orderBy("doc_id")
  }

  private val sqlDsirWeights = {
    val hashTerm = s"list_reduce([CAST(0 AS BIGINT)] || ${duckCodesOf("term")}, " +
      s"(acc, c) -> (acc * 31 + c) % ${TextFns.P})"
    val w = duckRound4(
      "sum(CAST(tf AS DOUBLE) * (ln(CAST(COALESCE(tc, 0) + 1 AS DOUBLE) " +
        s"/ CAST(tt + $DsirBuckets AS DOUBLE)) " +
        "- ln(CAST(rc + 1 AS DOUBLE) " +
        s"/ CAST(rt + $DsirBuckets AS DOUBLE)))) / CAST(sum(tf) AS DOUBLE)")
    s"""WITH t AS (SELECT doc_id, lang, $duckTokens AS ts FROM documents),
       |     tok AS (SELECT doc_id, lang, unnest(ts) AS term FROM t),
       |     hb AS (SELECT doc_id, lang, ($hashTerm) % $DsirBuckets AS b FROM tok),
       |     tf AS (SELECT doc_id, lang, b, count(*) AS tf FROM hb GROUP BY 1, 2, 3),
       |     rc AS (SELECT b, sum(tf) AS rc FROM tf GROUP BY 1),
       |     tc AS (SELECT b, sum(tf) AS tc FROM tf WHERE lang = 'en' GROUP BY 1),
       |     tots AS (SELECT (SELECT sum(rc) FROM rc) AS rt,
       |                     (SELECT sum(tc) FROM tc) AS tt)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, $w AS dsir_w
       |FROM tf JOIN rc USING (b) LEFT JOIN tc USING (b) CROSS JOIN tots
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------- q_byte_entropy: order-0 compressibility estimate ----------

  /** Per-source order-0 character entropy (bits/char) — Shannon's
    * lower bound on what any entropy coder can achieve from symbol
    * frequencies alone, i.e. the storage-planning number behind "how
    * much will this feed compress": h0/8 is the best order-0 ratio vs
    * raw bytes, and the gap to the observed zstd ratio measures how
    * much structure (order-k context) the codec exploits. Companion
    * to `q_dict_encode` (token-level) at character grain.
    *
    * Parity: each −p·log₂p term is ROUND6ed into a DECIMAL before the
    * cross-row sum (the `q_zipf_fit` ln discipline — ln carries no
    * cross-engine ulp guarantee, so a term lands in the sum only
    * after rounding); identical literal operation order both engines.
    * Shape: one native per-row char census
    * ([[graft.functions.TextHashes.charHist]] — zero per-char rows)
    * exploded at (doc × distinct-code) grain (≤ alphabet size per
    * doc), then one (source, char) aggregate + one source-grain
    * collapse — the round-12 version exploded the raw code STREAM and
    * shuffled one row per character; the census form shuffles ~an
    * order of magnitude less at identical values.
    *
    * Parity is BYTE-level on both engines: the kernel walks UTF-8
    * bytes ([[graft.functions.TextHashUtil.charHist]]) and the oracle
    * walks the same bytes via `hex(encode(text))` (two hex digits per
    * byte) — true cross-engine parity on multi-byte text, not just
    * the pure-ASCII corpus (the round-14 caveat this removes).
    */
  def byteEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .withColumn("h", graft.functions.TextHashes.charHist(col("text")))
      .select(col("source"), explode_outer(col("h")).as("e"))
      .select(col("source"), shiftright(col("e"), 40).as("code"),
        col("e").bitwiseAND(lit((1L << 40) - 1)).as("cn"))
      .groupBy("source", "code").agg(sum(col("cn")).as("nc"))
    val tot = counts.groupBy("source")
      .agg(sum(col("nc")).as("n_chars"), count(lit(1)).as("n_symbols"))
    val term = (col("nc").cast("double") / col("n_chars").cast("double")) *
      ((log(col("n_chars").cast("double")) - log(col("nc").cast("double"))) /
        log(lit(2.0)))
    counts.join(tot, "source")
      .withColumn("t6", round6(term)
        .cast("decimal(28,6)"))
      .groupBy("source", "n_chars", "n_symbols")
      .agg(sum(col("t6")).as("h0"))
      .select(col("source"), col("n_chars"), col("n_symbols"),
        round4(col("h0").cast("double")).as("h0_bits"),
        round4(col("h0").cast("double") / 8.0).as("best_ratio"))
      .orderBy("source")
  }

  private val sqlByteEntropy = {
    val term = "(CAST(nc AS DOUBLE) / CAST(n_chars AS DOUBLE)) * " +
      "((ln(CAST(n_chars AS DOUBLE)) - ln(CAST(nc AS DOUBLE))) / ln(2.0))"
    s"""WITH c AS (SELECT source, hex(encode(text)) AS hx,
       |                  CAST(octet_length(encode(text)) AS BIGINT) AS nb
       |           FROM documents),
       |     ix AS (SELECT source, hx, unnest(range(1, nb + 1)) AS i FROM c),
       |     x AS (SELECT source,
       |                  16 * (strpos('0123456789ABCDEF', substring(hx, CAST(2*i-1 AS INT), 1)) - 1)
       |                     + (strpos('0123456789ABCDEF', substring(hx, CAST(2*i AS INT), 1)) - 1) AS code
       |           FROM ix),
       |     k AS (SELECT source, code, CAST(count(*) AS BIGINT) AS nc
       |           FROM x GROUP BY 1, 2),
       |     t AS (SELECT source, CAST(sum(nc) AS BIGINT) AS n_chars,
       |                  CAST(count(*) AS BIGINT) AS n_symbols
       |           FROM k GROUP BY 1),
       |     s AS (SELECT k.source, n_chars, n_symbols,
       |                  sum(CAST(${duckRound6(term)}
       |                        AS DECIMAL(28,6))) AS h0
       |           FROM k JOIN t ON k.source = t.source
       |           GROUP BY 1, 2, 3)
       |SELECT source, n_chars, n_symbols,
       |       ${duckRound4("CAST(h0 AS DOUBLE)")} AS h0_bits,
       |       ${duckRound4("CAST(h0 AS DOUBLE) / 8.0")} AS best_ratio
       |FROM s ORDER BY source""".stripMargin
  }

  // ---------- q_substring_dup: cross-doc repeated-substring coverage ----------

  private val SubK = 40

  /** Per-source coverage of CROSS-document repeated [[SubK]]-char
    * substrings — the signal behind exact substring deduplication
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", which dedups 50-token repeated spans): how many
    * of each source's characters sit inside a window that also occurs
    * verbatim in another document. Whole-doc/near-dup gates miss these
    * shared passages (boilerplate, quotes, licenses); this is the
    * audit that says how much training signal substring-grain dedup
    * would reclaim.
    *
    * Shape — the scalable alternative to Lee et al.'s suffix array:
    * per-position gram HASHES (8-byte polynomial, cross-engine by the
    * [[TextFns.shingleHashAt]] contract) shuffle at gram grain, a hash
    * aggregate finds grams in ≥2 distinct docs, and per-doc covered
    * chars come from a doc-partitioned window over duplicated
    * positions (equal-length intervals ⇒ union = Σ min(K, next−pos)
    * with K for the last) — linear end-to-end, no pair stage, no
    * suffix sort. Docs shorter than K are excluded on both sides (a
    * sub-K doc has no K-window).
    */
  def substringDup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        col("text"), length(col("text")).cast("long").as("len"))
      .filter(col("len") >= SubK)
    // Collapse EXACT-DUPLICATE TEXTS before any gram work (the
    // distinct-fingerprints-before-pairing rule): a text duplicated
    // m ≥ 2 times shares EVERY gram cross-doc, so its coverage is its
    // whole length by definition — no hashing needed; the gram
    // pipeline runs on DISTINCT texts only. On the 10× upscale fixture
    // (heavily exact-duplicated by construction) the un-collapsed form
    // measured 21.6× per 10× — pure duplicate multiplication; real
    // web corpora duplicate even harder. dup(h) at group grain:
    // h in ≥2 distinct texts OR in any text with multiplicity ≥2.
    // ONE doc-grain pass over the text strings: aggregate to
    // (text, source) grain first — groups and the final per-source
    // rollup both derive from it, so the corpus text crosses an
    // exchange exactly once (the round-17 30× profile put ~60 of the
    // query's 114 s in the old tail, which re-joined every DOC row on
    // its full text string; guide §2.3 "aggregate before you
    // shuffle" / §8 "move heavy bytes once").
    val sgroups = docs.groupBy(col("text"), col("source"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("sdoc"),
        min(col("len")).as("slen"))
      .localCheckpoint(true)
    val groups = sgroups.groupBy("text")
      .agg(min(col("sdoc")).as("gid"), sum(col("cnt")).as("m"),
        min(col("slen")).as("glen"))
    val staged = groups
      .withColumn("hs", graft.functions.TextHashes.shingleHashes(col("text"), SubK))
      .select("gid", "m", "hs")
    // posexplode_outer: hs is provably non-empty (len ≥ K ⇒ ≥1 gram),
    // and the outer generate dodges InferFiltersFromGenerate's
    // size(hs)>0 filter inlining the whole hash pipeline (CLAUDE.md).
    // localCheckpoint: the gram frame feeds BOTH the census and the
    // coverage join — without it the hash pipeline evaluates twice.
    val pos = staged.select(col("gid"), col("m"),
      posexplode_outer(col("hs")).as(Seq("p0", "h")))
      .localCheckpoint(true)
    // "in ≥2 distinct texts" ⟺ min(gid) ≠ max(gid): a plain min/max
    // pair folds into the SAME single hash aggregate as max(m), where
    // countDistinct planned a second, (h, gid)-grain aggregate pass
    // (Spark rewrites mixed distinct/non-distinct aggregates through
    // an Expand) — one shuffle instead of two on the gram-grain frame,
    // the query's dominant volume (guide §2.4).
    val dupGrams = pos.groupBy("h")
      .agg(min(col("gid")).as("g0"), max(col("gid")).as("g1"),
        max(col("m")).as("mm"))
      .filter(col("g0") =!= col("g1") || col("mm") >= 2).select("h")
    val byGroup = Window.partitionBy("gid").orderBy("p0")
    val uniqCov = pos.filter(col("m") === 1)
      .join(dupGrams, "h")
      .withColumn("nxt", lead(col("p0"), 1).over(byGroup))
      .withColumn("cov",
        when(col("nxt").isNull, lit(SubK.toLong))
          .otherwise(least(lit(SubK.toLong), (col("nxt") - col("p0")).cast("long"))))
      .groupBy("gid").agg(sum(col("cov")).as("gcov"))
    val gcov = groups.filter(col("m") >= 2)
      .select(col("gid"), col("glen").as("gcov"))
      .unionByName(uniqCov)
    // group-grain rollup: (text, source) counts join the per-group
    // coverage and weight it by multiplicity — identical to joining
    // every doc row to its group's gcov (inner ≡ the old left +
    // isNotNull), at ~distinct-text grain instead of doc grain
    val covered = sgroups
      .join(groups.select(col("text"), col("gid")), Seq("text"))
      .join(gcov, Seq("gid"))
      .groupBy("source")
      .agg(sum(col("cnt")).as("docs_hit"),
        sum(col("cnt") * col("gcov")).as("dup_chars"))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("total_chars"))
      .join(covered, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("docs_hit"), lit(0L)).as("docs_hit"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        col("total_chars"),
        round4(coalesce(col("dup_chars"), lit(0L)).cast("double") /
          col("total_chars").cast("double")).as("dup_cover"))
      .orderBy("source")
  }

  private val sqlSubstringDup = {
    val gramHash = (0 until SubK).foldLeft("CAST(0 AS BIGINT)") { (acc, off) =>
      s"(($acc * 31 + coalesce(cs[CAST(i + $off AS INT)], 0)) % ${TextFns.P})"
    }
    s"""WITH d0 AS (SELECT doc_id, source, text, CAST(length(text) AS BIGINT) AS len
       |            FROM documents WHERE length(text) >= $SubK),
       |     g0 AS (SELECT text, min(doc_id) AS gid, CAST(count(*) AS BIGINT) AS m,
       |                   min(len) AS glen
       |            FROM d0 GROUP BY text),
       |     c AS (SELECT gid, m, glen, ${duckCodesOf("text")} AS cs FROM g0),
       |     g AS (SELECT gid, m, cs,
       |             unnest(range(1, glen - ${SubK - 1} + 1)) AS i
       |           FROM c),
       |     px AS (SELECT gid, m, i AS p0, $gramHash AS h FROM g),
       |     dg AS (SELECT h FROM (SELECT h, count(DISTINCT gid) AS ng, max(m) AS mm
       |                           FROM px GROUP BY 1) WHERE ng >= 2 OR mm >= 2),
       |     ucov AS (SELECT gid,
       |               sum(CASE WHEN nxt IS NULL THEN CAST($SubK AS BIGINT)
       |                        ELSE least(CAST($SubK AS BIGINT), nxt - p0) END) AS gcov
       |              FROM (SELECT px.*, lead(p0) OVER (PARTITION BY gid ORDER BY p0) AS nxt
       |                    FROM px JOIN dg USING (h) WHERE m = 1)
       |              GROUP BY 1),
       |     gcov AS (SELECT gid, glen AS gcov FROM g0 WHERE m >= 2
       |              UNION ALL SELECT gid, gcov FROM ucov),
       |     ps AS (SELECT source, CAST(count(*) AS BIGINT) AS docs_hit,
       |                   CAST(sum(gcov) AS BIGINT) AS dup_chars
       |            FROM d0 JOIN g0 USING (text) JOIN gcov USING (gid)
       |            GROUP BY 1),
       |     tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |                    CAST(sum(len) AS BIGINT) AS total_chars
       |             FROM d0 GROUP BY 1)
       |SELECT source, n_docs,
       |       coalesce(docs_hit, 0) AS docs_hit,
       |       coalesce(dup_chars, 0) AS dup_chars,
       |       total_chars,
       |       ${duckRound4(
                 "CAST(coalesce(dup_chars, 0) AS DOUBLE) / CAST(total_chars AS DOUBLE)")} AS dup_cover
       |FROM tot LEFT JOIN ps USING (source)
       |ORDER BY source""".stripMargin
  }

  // ---------- q_wilson_ci: binomial confidence bands on gate pass rates ----------

  /** Wilson 95% score intervals on the per-source Gopher pass rate —
    * the uncertainty band a data-quality DASHBOARD needs before
    * alerting on a pass-rate dip: at small per-source n, a raw rate
    * swing is often inside the binomial noise band, and the Wilson
    * interval (unlike the Wald ±z√(p̂q̂/n)) stays inside [0,1] and
    * behaves at p̂→0/1 (Wilson 1927; Brown-Cai-DasGupta 2001
    * recommend it exactly for this monitoring use).
    *
    * Parity: every input to the interval is a ratio of exact integers
    * (k passes / n docs, from the [[gopherRules]] aggregate) and the
    * only non-arithmetic op is one IEEE-correct sqrt — both engines
    * evaluate the identical literal expression tree (z constants
    * pre-squared: 3.8416, 1.9208, 0.9604), so the doubles are
    * bit-identical before the round4 edge.
    *
    * Shape: [[gopherRules]]' linear aggregate + one source-grain map.
    */
  def wilsonCi(spark: SparkSession, sfDir: String): DataFrame = {
    val g = gopherRules(spark, sfDir)
      .select(col("source"), col("n_docs"), col("n_pass"))
    val nD = col("n_docs").cast("double")
    val phat = col("n_pass").cast("double") / nD
    val denom = lit(1.0) + lit(3.8416) / nD
    val center = (phat + lit(1.9208) / nD) / denom
    val half = (lit(1.96) * sqrt(phat * (lit(1.0) - phat) / nD +
      lit(0.9604) / (nD * nD))) / denom
    g.select(col("source"), col("n_docs"), col("n_pass"),
        round4(phat).as("pass_rate"),
        round4(center - half).as("wilson_lo"),
        round4(center + half).as("wilson_hi"))
      .orderBy("source")
  }

  private val sqlWilsonCi = {
    val nD = "CAST(n_docs AS DOUBLE)"
    val phat = s"(CAST(n_pass AS DOUBLE) / $nD)"
    val denom = s"(1.0 + 3.8416 / $nD)"
    val center = s"(($phat + 1.9208 / $nD) / $denom)"
    val half = s"((1.96 * sqrt($phat * (1.0 - $phat) / $nD + " +
      s"0.9604 / ($nD * $nD))) / $denom)"
    s"""WITH base AS ($sqlGopherRules)
       |SELECT source, n_docs, n_pass,
       |       ${duckRound4(phat)} AS pass_rate,
       |       ${duckRound4(s"$center - $half")} AS wilson_lo,
       |       ${duckRound4(s"$center + $half")} AS wilson_hi
       |FROM base ORDER BY source""".stripMargin
  }

  // ---------- q_span_corrupt: T5 span-corruption planning ----------

  /** Deterministic span-corruption PLAN (Raffel et al. 2020, the T5
    * denoising objective): per document, the number of length-3 mask
    * spans at ~15% noise density — n_spans = round(n_tokens/20) — and
    * the positions they cover, with span starts drawn from the
    * content-derived hash stream polyHash(doc_id:k) mod (n−2) (the
    * Sampling membership-hash rule: any engine, any layout, any rerun
    * reproduces the identical mask plan — a `rand()` plan would be
    * unauditable). Overlapping spans collapse (count DISTINCT covered
    * positions), so the realized mask ratio lands slightly under the
    * nominal density — exactly what the pipeline needs to know before
    * fixing a sentinel-token budget.
    *
    * Shape: one token-count pass, span fan-out bounded by
    * n_tokens/20 × 3 positions (linear in corpus tokens), one
    * doc-grain distinct + one source-grain rollup.
    */
  def spanCorrupt(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("doc_id"), col("source"), size(col("ts")).cast("long").as("n"))
    val spans = docs
      .withColumn("n_spans", expr("(n + 10) div 20"))
      .filter(col("n") >= 3 && col("n_spans") > 0)
      .withColumn("k", explode_outer(sequence(lit(1L), col("n_spans"))))
      .withColumn("h", graft.functions.TextHashes.polyHash(
        concat(col("doc_id").cast("string"), lit(":"), col("k").cast("string"))))
      .withColumn("start", pmod(col("h"), col("n") - 2))
      .withColumn("p", explode_outer(sequence(col("start"), col("start") + 2)))
      .groupBy("doc_id", "source")
      .agg(countDistinct(col("p")).as("masked"), max(col("n_spans")).as("nsp"))
    docs.join(spans.select(col("doc_id"), col("masked"), col("nsp")),
        Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(coalesce(col("nsp"), lit(0L))).as("total_spans"),
        sum(coalesce(col("masked"), lit(0L))).as("masked_tokens"))
      .withColumn("mask_ratio",
        when(col("total_tokens") === 0, lit(0.0)).otherwise(round4(
          col("masked_tokens").cast("double") / col("total_tokens").cast("double"))))
      .orderBy("source")
  }

  private val sqlSpanCorrupt = {
    val hashOf = "list_reduce([CAST(0 AS BIGINT)] || list_transform(" +
      "range(1, greatest(length(kstr), 1) + 1), " +
      "i -> CAST(ascii(substring(kstr, CAST(i AS INT), 1)) AS BIGINT)), " +
      s"(acc, c) -> (acc * 31 + c) % ${TextFns.P})"
    s"""WITH t AS (SELECT doc_id, source, CAST(len($duckTokens) AS BIGINT) AS n
       |           FROM documents),
       |     s AS (SELECT doc_id, source, n, (n + 10) // 20 AS n_spans FROM t),
       |     ks AS (SELECT doc_id, source, n, n_spans,
       |                   unnest(range(1, n_spans + 1)) AS k
       |            FROM s WHERE n >= 3 AND n_spans > 0),
       |     hs AS (SELECT doc_id, source, n, n_spans, k,
       |                   CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR) AS kstr
       |            FROM ks),
       |     st AS (SELECT doc_id, source, n_spans, ($hashOf) % (n - 2) AS strt
       |            FROM hs),
       |     pos AS (SELECT doc_id, source, n_spans, strt + i.range AS p
       |             FROM st CROSS JOIN range(0, 3) i),
       |     m AS (SELECT doc_id, source, max(n_spans) AS nsp,
       |                  count(DISTINCT p) AS masked
       |           FROM pos GROUP BY 1, 2)
       |SELECT t.source, count(*) AS n_docs,
       |       CAST(sum(t.n) AS BIGINT) AS total_tokens,
       |       CAST(sum(coalesce(m.nsp, 0)) AS BIGINT) AS total_spans,
       |       CAST(sum(coalesce(m.masked, 0)) AS BIGINT) AS masked_tokens,
       |       CASE WHEN sum(t.n) = 0 THEN 0.0
       |            ELSE ${duckRound4(
                      "CAST(sum(coalesce(m.masked, 0)) AS DOUBLE) / CAST(sum(t.n) AS DOUBLE)")}
       |       END AS mask_ratio
       |FROM t LEFT JOIN m ON t.doc_id = m.doc_id
       |GROUP BY t.source ORDER BY t.source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_substring_dup" -> (substringDup _),
    "q_byte_entropy" -> (byteEntropy _),
    "q_dsir_weights" -> (dsirWeights _),
    "q_ks_test" -> (ksDrift _),
    "q_char_gini" -> (charGini _),
    "q_collocations" -> (collocations _),
    "q_novelty" -> (novelty _),
    "q_delta_novelty" -> (deltaNovelty _),
    "q_source_skew" -> (sourceSkew _),
    "q_cramers_v" -> (cramersV _),
    "q_mutual_info" -> (mutualInfo _),
    "q_cms_est" -> (cmsEst _),
    "q_dict_encode" -> (dictEncode _),
    "q_segment_dedup" -> (segmentDedup _),
    "q_gopher_rules" -> (gopherRules _),
    "q_wilson_ci" -> (wilsonCi _),
    "q_span_corrupt" -> (spanCorrupt _),
    "q_bpe_pairs" -> (bpePairs _),
    "q_bpe_encode" -> (bpeEncode _),
    "q_cdc_chunks" -> (cdcChunksQ _),
    "q_winnow_fp" -> (winnowFp _),
    "q_decontaminate" -> (decontaminate _),
    "q_soft_dedup" -> (softDedup _),
    "q_pack_audit" -> (packAudit _))

  val oracle: Map[String, String] = Map(
    "q_substring_dup" -> sqlSubstringDup,
    "q_byte_entropy" -> sqlByteEntropy,
    "q_dsir_weights" -> sqlDsirWeights,
    "q_ks_test" -> sqlKsDrift,
    "q_char_gini" -> sqlCharGini,
    "q_collocations" -> sqlCollocations,
    "q_novelty" -> sqlNovelty,
    "q_delta_novelty" -> sqlDeltaNovelty,
    "q_source_skew" -> sqlSourceSkew,
    "q_cramers_v" -> sqlCramersV,
    "q_mutual_info" -> sqlMutualInfo,
    "q_cms_est" -> sqlCmsEst,
    "q_dict_encode" -> sqlDictEncode,
    "q_segment_dedup" -> sqlSegmentDedup,
    "q_gopher_rules" -> sqlGopherRules,
    "q_wilson_ci" -> sqlWilsonCi,
    "q_span_corrupt" -> sqlSpanCorrupt,
    "q_bpe_pairs" -> sqlBpePairs,
    "q_bpe_encode" -> sqlBpeEncode,
    "q_cdc_chunks" -> sqlCdcChunks,
    "q_winnow_fp" -> sqlWinnowFp,
    "q_decontaminate" -> sqlDecontaminate,
    "q_soft_dedup" -> sqlSoftDedup,
    "q_pack_audit" -> sqlPackAudit)
}
