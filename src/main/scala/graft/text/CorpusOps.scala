package graft.text

import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckRound6, duckUnits, round4, round6, units}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-scale frequency / ranking / packing operators — the round-6
  * additions to the LLM-data-pipeline pack (no counterpart in the
  * reference, whose string surface is trim/lower/title —
  * `ETL/user_ETL.py:47-53`): two-pass exact heavy hitters, BM25
  * retrieval ranking, sliding-window chunk planning for RAG/context
  * packing, and largest-remainder token-budget apportionment across
  * sources.
  *
  * Everything shares [[TextFns.tokens]] / the TextQueries duck-token
  * oracle form, and the polynomial-hash parity contract from
  * [[graft.functions.TextHashUtil]].
  */
object CorpusOps {

  import TextFns.{P => p}

  /** Token oracle fragment (same as [[TextQueries.duckTokens]], which
    * is the single source of truth).
    */
  private val duckTokens = TextQueries.duckTokens

  /** 1-based code-point list of an arbitrary string expression
    * (parameterized twin of TextQueries' `duckCodes`, which is fixed
    * to the `text` column).
    */
  private def duckCodesOf(e: String): String =
    s"list_transform(range(1, greatest(length($e), 1) + 1), " +
      s"i -> CAST(ascii(substring($e, CAST(i AS INT), 1)) AS BIGINT))"

  /** Rolling polynomial hash over a staged code list `cs` — mirrors
    * [[TextFns.polyHash]].
    */
  private val duckPolyHash =
    s"list_reduce([CAST(0 AS BIGINT)] || cs, (acc, c) -> (acc * 31 + c) % $p)"

  // ---------- q_heavy_hitters: two-pass exact heavy hitters ----------

  /** Misra-Gries capacity. The MG guarantee: an item never surviving
    * any partition summary has per-partition count ≤ localN/(m+1), so
    * global count ≤ N/(m+1) = N/257 < N/[[HhDenom]] — every true heavy
    * hitter is a candidate, and the exact recount pass removes the
    * false ones. Deterministic output from a partition-layout-dependent
    * candidate set.
    */
  private val MgCapacity = 256
  private val HhDenom = 200L // heavy ⇔ cnt ≥ total/200 (0.5%)

  /** One Misra-Gries pass over a partition's tokens: bounded state
    * (≤ `m` counters), emits the surviving (key, residual count)
    * counters. Residuals underestimate true counts by at most
    * localN/(m+1) — the mergeable-summary form consumed by
    * [[graft.stream.Streaming.startHeavyHitterSink]].
    */
  private[graft] def mgSummary(it: Iterator[String], m: Int): Iterator[(String, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      if (counts.contains(t)) counts(t) += 1L
      else if (counts.size < m) counts(t) = 1L
      else {
        counts.mapValuesInPlace((_, v) => v - 1L)
        counts.filterInPlace((_, v) => v > 0L)
      }
    }
    counts.iterator
  }

  /** Surviving candidate keys only (the two-pass query's pass 1). */
  private[text] def mgCandidates(it: Iterator[String], m: Int): Iterator[String] =
    mgSummary(it, m).map(_._1)

  /** Merge two MG summaries back to capacity `m` (Agarwal et al.,
    * "Mergeable Summaries", PODS 2012): counter-wise sum, then if over
    * capacity subtract the (m+1)-th largest combined count from every
    * counter and drop the non-positive ones. Each merge adds at most
    * n_b/(m+1) to the underestimation bound, so summaries combine
    * across partitions, micro-batches, or shards without ever holding
    * more than m counters.
    */
  private[graft] def mgMerge(a: Map[String, Long], b: Map[String, Long],
                             m: Int): Map[String, Long] = {
    val c = scala.collection.mutable.HashMap.empty[String, Long]
    a.foreach { case (k, v) => c(k) = v }
    b.foreach { case (k, v) => c(k) = c.getOrElse(k, 0L) + v }
    if (c.size <= m) c.toMap
    else {
      val thr = c.values.toIndexedSeq.sorted(Ordering[Long].reverse).apply(m)
      c.iterator.map { case (k, v) => k -> (v - thr) }
        .filter(_._2 > 0L).toMap
    }
  }

  /** Candidate cap for the residual-sum reduction. The bound: a term
    * with count ≥ N/[[HhDenom]] keeps summed residual
    * ≥ N/200 − N/(m+1) = N·57/51400 > N/902 across the partition
    * summaries (each partition underestimates by ≤ localN/(m+1)), and
    * residual sums total ≤ N, so at most 902 terms can clear that
    * bar — every true heavy hitter is inside the top-1024 by summed
    * residual at ANY partition count.
    */
  private val CandidateCap = 1024

  /** Exact distributed heavy hitters (tokens with ≥ 0.5% corpus
    * frequency) via the two-pass candidate/verify pattern: pass 1 runs
    * bounded-state Misra-Gries per partition (`mapPartitions`, O(m)
    * memory, zero shuffle), reduces the partial summaries by term
    * ([[CandidateCap]] survivors via TakeOrderedAndProject on summed
    * residual — see the bound above; a naive distinct of per-partition
    * keys would broadcast m·P candidates, 25M keys at 100k
    * partitions), and pass 2 recounts ONLY those candidates exactly,
    * filtering by the true threshold.
    *
    * Scale: this is the 100 TB shape for frequency mining — a naive
    * `groupBy(term)` shuffles every token occurrence (the corpus),
    * while here the shuffled rows are the ≤ m·P summary COUNTERS
    * (keys, not occurrences) and the occurrences of ≤ 1024 candidate
    * terms. The corpus is scanned twice but scans are cheap; shuffles
    * are not. Misra & Gries 1982 + the mergeable-summaries residual
    * bound (Agarwal et al. 2012).
    *
    * Correctness does not depend on partitioning: the candidate set
    * provably contains every term with count ≥ N/[[HhDenom]], and
    * pass 2 is exact — so the output is the exact heavy-hitter set
    * regardless of layout, which is what the oracle (single-pass
    * exact counts) verifies.
    */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val terms = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(explode_outer(col("ts")).as("term"))
      .filter(col("term").isNotNull)
    val candidates = terms.as[String]
      .mapPartitions(it => mgSummary(it, MgCapacity))
      .toDF("term", "residual")
      .groupBy("term").agg(sum(col("residual")).as("rsum"))
      .orderBy(col("rsum").desc, col("term")).limit(CandidateCap)
      .select("term")
    val exact = terms.join(broadcast(candidates), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val tot = terms.agg(count(lit(1)).as("total"))
    exact.crossJoin(broadcast(tot))
      .filter(col("cnt") * HhDenom >= col("total"))
      .select(col("term"), col("cnt"),
        expr("CAST(cnt * 10000 DIV total AS BIGINT)").as("share_bp"))
      .orderBy("term")
  }

  private val sqlHeavyHitters =
    s"""WITH t AS (SELECT $duckTokens AS ts FROM documents),
       |     terms AS (SELECT unnest(ts) AS term FROM t),
       |     c AS (SELECT term, count(*) AS cnt FROM terms GROUP BY 1),
       |     tot AS (SELECT count(*) AS total FROM terms)
       |SELECT term, CAST(cnt AS BIGINT) AS cnt,
       |       CAST(cnt * 10000 // total AS BIGINT) AS share_bp
       |FROM c CROSS JOIN tot
       |WHERE cnt * $HhDenom >= total
       |ORDER BY term""".stripMargin

  // ---------- q_bm25: BM25 retrieval ranking ----------

  private val QueryTerms = Seq("table", "spark", "window")
  private val Bm25K = 15

  /** BM25 top-k over the corpus for a fixed conjunctive query
    * (Robertson/Spärck Jones; the Lucene `1 + (N-df+0.5)/(df+0.5)`
    * idf form so scores stay positive) — the retrieval-ranking
    * primitive next to [[TextAnalytics.tfidf]]'s keyword extraction.
    *
    * Shape: explode → filter to the query terms FIRST (the scored
    * universe is only documents matching ≥1 term), tf at (doc, term)
    * grain, df broadcast-joined back, corpus stats (N, avgdl) as a
    * broadcast scalar — never collected. Float parity: each query
    * term's contribution is summed by a separate single-row aggregate
    * (the (doc, term) grain has ≤1 row per term), then added in FIXED
    * literal order, so no order-dependent float reduction exists on
    * either engine; the rank orders on the ROUNDED score with doc_id
    * tie-break (CLAUDE.md rank rule).
    *
    * Scale: top-k uses the [[TextAnalytics.stratSample]] two-phase
    * salted rank — phase 1 takes top-k per (doc_id mod 8) shard,
    * phase 2 re-ranks the ≤ 8k survivors; selection by a total order
    * composes, and no window ever sees more than ~1/8 of the scored
    * set. The phase-2 window is unpartitioned but bounded at 8k rows
    * by construction (post-filter input, not corpus-proportional).
    */
  def bm25(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("doc_id"), col("ts"),
        size(col("ts")).cast("double").as("dl"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
    val terms = docs
      .select(col("doc_id"), col("dl"), explode_outer(col("ts")).as("term"))
      .filter(col("term").isInCollection(QueryTerms))
    val tf = terms.groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"), max(col("dl")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    val perTerm = QueryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("contrib"))).as(s"s$i")
    }
    val perDoc = scored.groupBy("doc_id")
      .agg(perTerm.head, perTerm.tail :+ count(lit(1)).as("n_terms"): _*)
      .withColumn("score", round4(
        QueryTerms.indices.map(i => coalesce(col(s"s$i"), lit(0.0)))
          .reduceLeft(_ + _)))
    val phase1 = Window.partitionBy(pmod(col("doc_id"), lit(8L)))
      .orderBy(col("score").desc, col("doc_id"))
    val phase2 = Window.orderBy(col("score").desc, col("doc_id"))
    perDoc
      .withColumn("rk1", row_number().over(phase1))
      .filter(col("rk1") <= Bm25K)
      .withColumn("rk", row_number().over(phase2))
      .filter(col("rk") <= Bm25K)
      .select(col("rk"), col("doc_id"), col("n_terms"), col("score"))
      .orderBy("rk")
  }

  // private[graft]: q_rrf_fusion's oracle embeds the bm25 ranking as
  // a nested CTE so the fused oracle can never drift from this one
  private[graft] val sqlBm25 = {
    val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
    val sumTerms = QueryTerms.zipWithIndex.map { case (t, i) =>
      s"coalesce(sum(CASE WHEN term = '$t' THEN contrib END), 0.0)"
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id, $duckTokens AS ts FROM documents),
       |     d AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl, ts FROM t),
       |     stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, sum(dl) AS sum_dl,
       |                      sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl
       |               FROM d),
       |     terms AS (SELECT doc_id, dl, unnest(ts) AS term FROM d),
       |     tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl
       |            FROM terms WHERE term IN ($inList) GROUP BY 1, 2),
       |     dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |     scored AS (SELECT doc_id, term,
       |                  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |                    * (tf * 2.2)
       |                    / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS contrib
       |                FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
       |     perdoc AS (SELECT doc_id, count(*) AS n_terms,
       |                  ${duckRound4(sumTerms)} AS score
       |                FROM scored GROUP BY doc_id),
       |     ranked AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
       |                FROM perdoc)
       |SELECT rk, doc_id, CAST(n_terms AS BIGINT) AS n_terms, score
       |FROM ranked WHERE rk <= $Bm25K ORDER BY rk""".stripMargin
  }

  // ---------- q_chunk_plan: sliding-window chunking for RAG ----------

  private val ChunkW = 32 // tokens per chunk
  private val ChunkS = 24 // stride (8-token overlap)

  /** Sliding-window token chunking — the context-packing /
    * RAG-ingestion step: each document becomes ⌈max(n−W,0)/S⌉+1
    * overlapping chunks of W=[[ChunkW]] tokens at stride S=[[ChunkS]],
    * the last chunk keeping its natural short length. Emits the chunk
    * plan (position, length) plus a content fingerprint (the shared
    * [[TextFns.polyHash]] rolling hash of the chunk text) so chunk
    * payloads can be routed/deduped downstream without re-reading the
    * document.
    *
    * Shape: pure per-row array work — tokens staged once, chunk index
    * exploded from a `sequence` (explode_outer: the array is
    * non-empty by construction and the plain explode would let
    * InferFiltersFromGenerate inline the token pipeline into an
    * inferred size() filter — the q_dup_ngrams rule), chunk text by
    * `slice` on the staged token array. No shuffle at all until the
    * contract ORDER BY; at 100 TB this is embarrassingly parallel and
    * the chunk rows land partition-local, ready for
    * [[graft.etl.PrefixScan]]-style shard packing.
    */
  def chunkPlan(spark: SparkSession, sfDir: String): DataFrame =
    chunkPlanOf(Tables.documents(spark, sfDir)).orderBy("doc_id", "chunk_idx")

  /** The chunking kernel over any (doc_id, text) input — shared by the
    * oracle query above and [[RunCurate]]'s chunk artifact, so the
    * pipeline cannot diverge from the verified plan.
    */
  private[text] def chunkPlanOf(input: DataFrame): DataFrame = {
    val docs = input
      .withColumn("ts", TextFns.tokens(col("text")))
      .withColumn("n_tok", size(col("ts")).cast("long"))
      .withColumn("n_chunks",
        ceil(greatest(col("n_tok") - ChunkW, lit(0L)).cast("double") / ChunkS) + 1L)
    docs
      .select(col("doc_id"), col("ts"), col("n_tok"),
        explode_outer(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * ChunkS + 1L)
      .withColumn("chunk_len",
        least(lit(ChunkW.toLong), col("n_tok") - col("start_tok") + 1L))
      .withColumn("chunk_txt",
        array_join(slice(col("ts"), col("start_tok").cast("int"), lit(ChunkW)), " "))
      // native codegen'd rolling hash (same recurrence as the
      // interpreted TextFns.polyHash∘codes — parity pinned by
      // q_doc_fingerprint); the HOF form cost ~1.9 s of the query's
      // 2.7 s at sf0.1
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"), col("chunk_len"),
        graft.functions.TextHashes.polyHash(col("chunk_txt")).as("chunk_hash"))
  }

  private val sqlChunkPlan =
    s"""WITH t AS (SELECT doc_id, $duckTokens AS ts FROM documents),
       |     n AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n_tok,
       |             CAST(ceil(CAST(greatest(CAST(len(ts) AS BIGINT) - $ChunkW, 0) AS DOUBLE)
       |                       / $ChunkS) + 1 AS BIGINT) AS n_chunks
       |           FROM t),
       |     c AS (SELECT doc_id, ts, n_tok,
       |             unnest(range(0, n_chunks)) AS chunk_idx
       |           FROM n),
       |     s AS (SELECT doc_id, chunk_idx, chunk_idx * $ChunkS + 1 AS start_tok,
       |             least($ChunkW, n_tok - (chunk_idx * $ChunkS + 1) + 1) AS chunk_len,
       |             array_to_string(list_slice(ts, CAST(chunk_idx * $ChunkS + 1 AS INT),
       |               CAST(chunk_idx * $ChunkS + $ChunkW AS INT)), ' ') AS ctext
       |           FROM c),
       |     h AS (SELECT doc_id, chunk_idx, start_tok, chunk_len,
       |             ${duckCodesOf("ctext")} AS cs
       |           FROM s)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |       CAST(start_tok AS BIGINT) AS start_tok,
       |       CAST(chunk_len AS BIGINT) AS chunk_len,
       |       $duckPolyHash AS chunk_hash
       |FROM h ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------- q_yule_k: Yule's characteristic K per source ----------

  /** Yule's K (Yule 1944) per source — the REPETITIVENESS
    * characteristic: K = 10⁴·(Σ_m m²·V_m − N)/N² over the term-
    * frequency spectrum (V_m = types occurring m times, N = tokens).
    * Unlike raw type/token ratio, K is (approximately) length-
    * invariant, which is why stylometry and corpus-quality screens
    * use it to compare sources of different sizes: a boilerplate-
    * heavy crawl slice shows an elevated K long before exact dedup
    * can see it. Reads next to `q_zipf_fit` (rank-frequency law) and
    * `q_chao1` (unseen types) as the third view of the same spectrum.
    *
    * Shape: (source × term) counts → (source × m) spectrum → one
    * all-integer fold; the single division happens once at the edge
    * (round4). Linear, map-combinable, no windows.
    */
  def yuleK(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("source"), explode_outer(col("ts")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("source", "term").agg(count(lit(1)).as("m"))
    tf.groupBy("source", "m").agg(count(lit(1)).as("vm"))
      .groupBy("source")
      .agg(sum(col("m") * col("vm")).as("n_tokens"),
        sum(col("vm")).as("vocab"),
        sum(col("m") * col("m") * col("vm")).as("m2v"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round4(lit(10000.0) *
          (col("m2v") - col("n_tokens")).cast("double") /
          (col("n_tokens").cast("double") * col("n_tokens").cast("double")))
          .as("yule_k"))
      .orderBy("source")
  }

  private val sqlYuleK =
    s"""WITH t AS (SELECT source, $duckTokens AS ts FROM documents),
       |     terms AS (SELECT source, unnest(ts) AS term FROM t),
       |     tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS m
       |            FROM terms GROUP BY 1, 2),
       |     sp AS (SELECT source, m, CAST(count(*) AS BIGINT) AS vm
       |            FROM tf GROUP BY 1, 2),
       |     a AS (SELECT source, CAST(sum(m * vm) AS BIGINT) AS n_tokens,
       |                  CAST(sum(vm) AS BIGINT) AS vocab,
       |                  CAST(sum(m * m * vm) AS BIGINT) AS m2v
       |           FROM sp GROUP BY 1)
       |SELECT source, n_tokens, vocab,
       |       ${duckRound4("10000.0 * CAST(m2v - n_tokens AS DOUBLE) / " +
                "(CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))")} AS yule_k
       |FROM a ORDER BY source""".stripMargin

  // ---------- q_mix_schedule: largest-remainder budget apportionment ----------

  private val MixBudget = 1000000L // token budget to apportion

  /** Training-mixture apportionment: split a fixed token budget across
    * sources proportionally to their token mass, using
    * largest-remainder (Hamilton) rounding so the allocations are
    * integers that sum EXACTLY to the budget — the deterministic
    * mixture-schedule input a trainer consumes. All arithmetic is
    * integer (floor quotient + remainder rank), so the result is
    * associative-exact on both engines with no float parity care.
    *
    * Shape: one hash aggregate to per-source token counts, scalar
    * totals broadcast back, and the remainder rank over the SOURCE
    * cardinality (20 here; bounded-dim, not fact-proportional — the
    * CLAUDE.md window rule's accepted class). At web scale
    * (source = registrable domain, ~10⁷ rows) the +1 set is "top-R by
    * remainder", a TakeOrderedAndProject of R ≤ #sources — still no
    * corpus-proportional window. `tokens * budget` must fit in 64 bits
    * (here ≪ 2⁶³); a 100 TB deployment with >2⁵⁰ tokens divides
    * per-source counts by a common scale first (or uses decimal).
    */
  def mixSchedule(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .withColumn("n_tok", size(TextFns.tokens(col("text"))).cast("long"))
      .groupBy("source").agg(sum(col("n_tok")).as("tokens"))
    val tot = toks.agg(sum(col("tokens")).as("total"))
    val base = toks.crossJoin(broadcast(tot))
      .withColumn("alloc_floor", expr(s"CAST(tokens * $MixBudget DIV total AS BIGINT)"))
      .withColumn("rem", expr(s"(tokens * $MixBudget) % total"))
    val sumFloor = base.agg(sum(col("alloc_floor")).as("sum_floor"))
    val byRem = Window.orderBy(col("rem").desc, col("source"))
    base.crossJoin(broadcast(sumFloor))
      .withColumn("rk", row_number().over(byRem))
      .withColumn("alloc",
        col("alloc_floor") +
          when(col("rk") <= lit(MixBudget) - col("sum_floor"), 1L).otherwise(0L))
      .select(col("source"), col("tokens"), col("alloc"))
      .orderBy("source")
  }

  private val sqlMixSchedule =
    s"""WITH t AS (SELECT source, $duckTokens AS ts FROM documents),
       |     c AS (SELECT source, CAST(sum(len(ts)) AS BIGINT) AS tokens FROM t GROUP BY 1),
       |     tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM c),
       |     b AS (SELECT source, tokens,
       |             CAST(tokens * $MixBudget // total AS BIGINT) AS alloc_floor,
       |             CAST((tokens * $MixBudget) % total AS BIGINT) AS rem
       |           FROM c CROSS JOIN tot),
       |     sf AS (SELECT CAST(sum(alloc_floor) AS BIGINT) AS sum_floor FROM b),
       |     r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
       |           FROM b CROSS JOIN sf)
       |SELECT source, tokens,
       |       CAST(alloc_floor + CASE WHEN rk <= $MixBudget - sum_floor THEN 1 ELSE 0 END
       |            AS BIGINT) AS alloc
       |FROM r ORDER BY source""".stripMargin

  // ---------- q_epoch_plan: data-constrained epoch repeats ----------

  /** Epoch cap: repeating data beyond ~4 epochs returns almost
    * nothing (Muennighoff et al. 2023, "Scaling Data-Constrained
    * Language Models" — the decay-coefficient fit puts the value of a
    * 5th epoch near zero).
    */
  private val MaxEpochs = 4L

  /** Budget multiplier: total training-token demand = 6× the corpus,
    * so an equal per-source share (≈6× the mean source) CAPS
    * below-mean sources at [[MaxEpochs]] epochs and leaves a deficit
    * — the regime the epoch rule exists for.
    */
  private val EpochBudgetX = 6L

  /** Data-constrained epoch schedule: apportion a training-token
    * budget equally across sources; each source serves
    * `min(MaxEpochs, share DIV tokens)` full epochs plus a partial
    * pass, never more than [[MaxEpochs]] passes total — the
    * repeat-vs-fresh-data plan ([[mixSchedule]] allocates WITHIN one
    * epoch; this decides how many times each source may repeat before
    * its marginal value dies). `deficit` is the share the cap leaves
    * unfilled — the number that tells acquisition how many NEW tokens
    * to buy.
    *
    * Shape: one token aggregate at source grain + two broadcast
    * scalars; all outputs are exact integers (DIV/least/greatest —
    * no float crosses the engine boundary). The 64-bit-width note
    * from [[mixSchedule]] applies to `tokens * EpochBudgetX`.
    */
  def epochPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .withColumn("n_tok", size(TextFns.tokens(col("text"))).cast("long"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
    val tot = toks.agg(sum(col("tokens")).as("total"),
      count(lit(1)).as("n_sources"))
    toks.crossJoin(broadcast(tot))
      .withColumn("share", expr(s"total * $EpochBudgetX DIV n_sources"))
      .withColumn("full_epochs",
        least(lit(MaxEpochs), expr("share DIV greatest(tokens, 1)")))
      .withColumn("planned_tokens",
        least(col("share"), lit(MaxEpochs) * col("tokens")))
      .withColumn("deficit", col("share") - col("planned_tokens"))
      .select(col("source"), col("n_docs"), col("tokens"), col("share"),
        col("full_epochs"), col("planned_tokens"), col("deficit"))
      .orderBy("source")
  }

  private val sqlEpochPlan =
    s"""WITH t AS (SELECT source, $duckTokens AS ts FROM documents),
       |     c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(len(ts)) AS BIGINT) AS tokens FROM t GROUP BY 1),
       |     tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
       |               CAST(count(*) AS BIGINT) AS n_sources FROM c),
       |     p AS (SELECT source, n_docs, tokens,
       |             CAST(total * $EpochBudgetX // n_sources AS BIGINT) AS share
       |           FROM c CROSS JOIN tot)
       |SELECT source, n_docs, tokens, share,
       |       CAST(least($MaxEpochs, share // greatest(tokens, 1)) AS BIGINT)
       |         AS full_epochs,
       |       CAST(least(share, $MaxEpochs * tokens) AS BIGINT) AS planned_tokens,
       |       CAST(share - least(share, $MaxEpochs * tokens) AS BIGINT) AS deficit
       |FROM p ORDER BY source""".stripMargin

  // ---------- q_src_checksum: order-independent snapshot checksum ----------

  /** Per-source integrity digest — the anti-entropy primitive for
    * replicated/migrated snapshots: row hash = the shared polyHash
    * over a canonical field rendering, partition digest = XOR of row
    * hashes (commutative and overflow-free, so it is order- and
    * partition-layout-independent and MERGEABLE across shards) plus
    * count and min/max hash as tie-down corroborators. Two copies of
    * a table agree iff every (source) digest row agrees — comparing
    * digests replaces comparing rows, which is the point at 100 TB:
    * each side computes its digest locally (one linear scan, one
    * tiny shuffle on the group key) and ships rows only for groups
    * whose digests differ (Merkle-style anti-entropy, per-source
    * granularity here, hierarchical in a production deployment).
    *
    * XOR cancels duplicate PAIRS, which is why the count travels with
    * it (a doubled+dropped row flips count but not xor; both together
    * catch it).
    */
  def srcChecksum(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("h", graft.functions.TextHashes.polyHash(
        concat_ws("|", col("doc_id").cast("string"), col("lang"), col("text"))))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(bit_xor(h) AS BIGINT)").as("xor_hash"),
        min(col("h")).as("min_hash"),
        max(col("h")).as("max_hash"))
      .orderBy("source")

  private val sqlSrcChecksum =
    s"""WITH t AS (SELECT source,
       |             concat_ws('|', CAST(doc_id AS VARCHAR), lang, text) AS ctext
       |           FROM documents),
       |     h2 AS (SELECT source, ${duckCodesOf("ctext")} AS cs FROM t),
       |     h AS (SELECT source, $duckPolyHash AS h FROM h2)
       |SELECT source, count(*) AS n_docs,
       |       CAST(bit_xor(h) AS BIGINT) AS xor_hash,
       |       CAST(min(h) AS BIGINT) AS min_hash,
       |       CAST(max(h) AS BIGINT) AS max_hash
       |FROM h GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_source_overlap: pairwise source n-gram Jaccard ----------

  /** Word n-gram width for the source-overlap audit (matches the
    * corpus-dedup gram width so "overlap" means the same thing as
    * "duplication" elsewhere in the pack).
    */
  private val OverlapN = 3

  /** Cross-source contamination audit: exact Jaccard similarity of the
    * distinct word-3-gram sets of every source pair — the dataset-
    * provenance check run before mixing crawls/dumps into one training
    * corpus (two "different" sources with high gram Jaccard are the
    * same crawl twice).
    *
    * Shape: collapse to distinct (source, gram) FIRST (the CLAUDE.md
    * collapse-before-pairs rule — document multiplicity never reaches
    * the pair stage), then ONE gram-keyed aggregate collects each
    * gram's sorted source set and the ordered pairs are generated
    * in-row (source is a bounded dim, so the set and its ≤|sources|²/2
    * pairs are O(1) per gram). This replaces the earlier gram-keyed
    * self-join: same output, but one aggregate instead of deriving
    * the gram set twice and shuffling both join sides. For UNBOUNDED
    * pair domains (per-document) this exact form is wrong by
    * construction; that path is MinHash ([[TextQueries]]' cluster
    * queries, `q_minhash_est` for estimator fidelity).
    */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .withColumn("grams", array_distinct(
        graft.functions.TextHashes.ngramHashes(col("ts"), OverlapN)))
      // explode_outer (not explode): a plain Generate over the
      // HOF-built array infers size(grams)>0 and inlines the gram
      // pipeline into that filter (PlanAuditSpec dupNgrams rule);
      // wordNgramsFromTokens pads, so the array is never empty anyway
      .select(col("source"), explode_outer(col("grams")).as("gram"))
      .distinct()
    val sizes = g.groupBy("source").agg(count(lit(1)).as("n"))
    // sort_array(collect_set) → lexicographic source order, so the
    // in-row nested transform emits exactly the src_a < src_b pairs
    // the former self-join produced (same binary string comparison).
    // explode_outer again: the pair array is HOF-built and provably
    // non-empty after the size > 1 filter.
    val pairs = g.groupBy("gram")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) > 1)
      .select(explode_outer(expr(
        """flatten(transform(ss, (a, i) ->
          |  transform(slice(ss, i + 2, size(ss)),
          |            b -> struct(a AS src_a, b AS src_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .withColumn("jaccard", round4(
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")))
      .select("src_a", "src_b", "n_inter", "jaccard")
      .orderBy("src_a", "src_b")
  }

  private val sqlSourceOverlap = {
    val jac = duckRound4(
      "CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE)")
    s"""WITH t AS (SELECT source, $duckTokens AS ts FROM documents),
       |     n AS (SELECT source, list_distinct(${TextQueries.duckNgramHashesOf(OverlapN)}) AS grams FROM t),
       |     g AS (SELECT DISTINCT source, unnest(grams) AS gram FROM n),
       |     s AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
       |     pr AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
       |            FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
       |            GROUP BY 1, 2)
       |SELECT src_a, src_b, n_inter, $jac AS jaccard
       |FROM pr
       |JOIN (SELECT source AS src_a, n AS n_a FROM s) sa USING (src_a)
       |JOIN (SELECT source AS src_b, n AS n_b FROM s) sb USING (src_b)
       |ORDER BY src_a, src_b""".stripMargin
  }

  // ---------- q_weighted_minhash: integer-CWS weighted-Jaccard sketch ----------

  private val WmhCap = 8L
  private val WmhHashes = 16

  /** Weighted-Jaccard sketch audit between source term DISTRIBUTIONS —
    * [[sourceOverlap]]'s set Jaccard ignores how often a term occurs,
    * but corpus-mix decisions care about mass: J_w = Σmin(c_a,c_b) /
    * Σmax(c_a,c_b) over per-source token counts. The sketch is the
    * integer consistent-weighted-sampling reduction (Haveliwala et
    * al. 2000's replication trick, the exact special case of Ioffe
    * 2010's ICWS): a token with count c becomes c distinct elements
    * (h·31+i mod P, i ≤ c, capped at [[WmhCap]] — the standard CWS
    * truncation, applied to BOTH sides so the audit is apples-to-
    * apples), and plain MinHash over the replicated multiset
    * estimates exactly J_w of the capped counts. Output: estimate vs
    * exact and the absolute error per overlapping source pair — the
    * calibration that licenses replacing the exact token-grain join
    * with 16-slot signatures at 100 TB.
    *
    * Shape: signatures are 16 distributed min-aggregates over the
    * replicated token grain (constant ≤[[WmhCap]]× fan-out, no
    * per-source arrays, no collect); the exact side joins at token
    * grain on the hash (per-gram pair fan-out bounded by source
    * cardinality squared — sources are a bounded registry, not a
    * fact-scale key); pair scoring joins the 20-row signature and
    * total tables broadcast. Parity: counts and Σmin are exact
    * integers; hashes are the [[graft.functions.TextHashUtil]]
    * affine family (a_j·x+b_j mod P, products < 2^62); ASCII-corpus
    * byte/char walk caveat as documented in CLAUDE.md.
    */
  def weightedMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .withColumn("hs", TextFns.tokenHashesFromTokens(col("ts")))
      // explode_outer: hs is HOF-built (the Generate-filter rule);
      // a whitespace-only doc contributes one null row, filtered next
      .select(col("source"), explode_outer(col("hs")).as("h"))
      .filter(col("h").isNotNull)
      .groupBy("source", "h")
      .agg(least(count(lit(1)), lit(WmhCap)).as("c"))
      // Stage the capped tf ONCE ((source, h, c) ints): FOUR consumers
      // (totals, both exact-intersection sides, the replication fan) —
      // unstaged, each re-ran the token-hash explode + aggregate over
      // the corpus (12 parquet scans in the before-plan).
      .localCheckpoint(true)
    val tot = tf.groupBy("source").agg(sum(col("c")).as("tot"))
    val inter = tf.as("a").join(tf.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(least(col("a.c"), col("b.c"))).as("imin"))
    val repl = tf
      .withColumn("i", explode_outer(sequence(lit(1L), col("c"))))
      .withColumn("hp", (col("h") * 31L + col("i")) % p)
    // staged: both broadcast sides (sa, sb) consume the signature
    // frame, and unstaged each re-ran the multiset replication explode
    val sig = repl.groupBy("source").agg(
      min((col("hp") * TextFns.aj(0) + TextFns.bj(0)) % p).as("s0"),
      (1 until WmhHashes).map(j =>
        min((col("hp") * TextFns.aj(j) + TextFns.bj(j)) % p).as(s"s$j")): _*)
      .localCheckpoint(true)
    val matches = (0 until WmhHashes).map(j =>
      when(col(s"sa.s$j") === col(s"sb.s$j"), 1).otherwise(0)).reduce(_ + _)
    inter
      .join(broadcast(tot.select(col("source").as("src_a"),
        col("tot").as("tot_a"))), "src_a")
      .join(broadcast(tot.select(col("source").as("src_b"),
        col("tot").as("tot_b"))), "src_b")
      .join(broadcast(sig.as("sa")), col("src_a") === col("sa.source"))
      .join(broadcast(sig.as("sb")), col("src_b") === col("sb.source"))
      .withColumn("est", matches.cast("double") / lit(WmhHashes.toDouble))
      .withColumn("ex", col("imin").cast("double") /
        (col("tot_a") + col("tot_b") - col("imin")).cast("double"))
      .select(col("src_a"), col("src_b"),
        round4(col("est")).as("est_sim"),
        round4(col("ex")).as("exact_sim"),
        round4(abs(col("est") - col("ex"))).as("abs_err"))
      .orderBy("src_a", "src_b")
  }

  private val sqlWeightedMinhash = {
    val sigCols = (0 until WmhHashes).map(j =>
      s"min((hp * ${TextFns.aj(j)} + ${TextFns.bj(j)}) % $p) AS s$j").mkString(", ")
    val matches = (0 until WmhHashes).map(j =>
      s"CASE WHEN sa.s$j = sb.s$j THEN 1 ELSE 0 END").mkString(" + ")
    val est = s"CAST($matches AS DOUBLE) / ${WmhHashes}.0"
    val ex = "CAST(imin AS DOUBLE) / CAST(ta.tot + tb.tot - imin AS DOUBLE)"
    s"""WITH t AS (SELECT source, $duckTokens AS ts FROM documents),
       |     hh AS (SELECT source, unnest(${TextQueries.duckTokenHashes}) AS h FROM t),
       |     tf AS (SELECT source, h, CAST(least(count(*), $WmhCap) AS BIGINT) AS c
       |            FROM hh GROUP BY 1, 2),
       |     tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM tf GROUP BY 1),
       |     r0 AS (SELECT source, h, unnest(range(1, c + 1)) AS i FROM tf),
       |     r AS (SELECT source, (h * 31 + i) % $p AS hp FROM r0),
       |     sig AS (SELECT source, $sigCols FROM r GROUP BY source),
       |     inter AS (SELECT a.source AS src_a, b.source AS src_b,
       |                      CAST(sum(least(a.c, b.c)) AS BIGINT) AS imin
       |               FROM tf a JOIN tf b ON a.h = b.h AND a.source < b.source
       |               GROUP BY 1, 2)
       |SELECT src_a, src_b,
       |       ${duckRound4(est)} AS est_sim,
       |       ${duckRound4(ex)} AS exact_sim,
       |       ${duckRound4(s"abs($est - $ex)")} AS abs_err
       |FROM inter
       |JOIN tot ta ON inter.src_a = ta.source
       |JOIN tot tb ON inter.src_b = tb.source
       |JOIN sig sa ON inter.src_a = sa.source
       |JOIN sig sb ON inter.src_b = sb.source
       |ORDER BY src_a, src_b""".stripMargin
  }

  // ---------- q_prefix_dup: shared-prefix clone detection ----------

  /** Prefix length (tokens) for clone grouping: long enough that a
    * shared prefix means a shared origin, short enough to catch
    * tail-mutated near-clones that whole-document hashing misses.
    */
  private val PrefixLen = 16

  /** Shared-prefix clone groups: documents whose first [[PrefixLen]]
    * tokens hash identically — the crawl-artifact detector for
    * template pages / boilerplate headers / tail-truncated refetches,
    * which whole-text exact dedup (`q_doc_dedup`) misses whenever the
    * tail differs (on this corpus: 0 exact-dup groups, 22 prefix
    * groups at sf0.01).
    *
    * Shape: one linear pass fingerprints each document's prefix (the
    * shared polyHash, evaluated natively — no shuffle), one hash
    * aggregate groups by fingerprint. The group-by key is a 64-bit
    * hash, so at 100 TB this is the same single-shuffle shape as
    * exact dedup; prefix extraction costs O(PrefixLen) per row
    * regardless of document length.
    */
  def prefixDup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .withColumn("pref", concat_ws(" ", slice(col("ts"), 1, PrefixLen)))
      .select(col("doc_id"),
        graft.functions.TextHashes.polyHash(col("pref")).as("prefix_hash"))
      .groupBy("prefix_hash")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("prefix_hash")

  private val sqlPrefixDup =
    s"""WITH t AS (SELECT doc_id, $duckTokens AS ts FROM documents),
       |     pt AS (SELECT doc_id, array_to_string(ts[1:$PrefixLen], ' ') AS pref FROM t),
       |     c AS (SELECT doc_id, ${duckCodesOf("pref")} AS cs FROM pt),
       |     h AS (SELECT doc_id, $duckPolyHash AS prefix_hash FROM c)
       |SELECT prefix_hash, count(*) AS n_docs, CAST(min(doc_id) AS BIGINT) AS first_doc
       |FROM h GROUP BY 1 HAVING count(*) > 1 ORDER BY prefix_hash""".stripMargin

  // ---------- q_temperature_mix: temperature-flattened language mixture ----------

  /** Document budget apportioned across languages by temperature-
    * sampled weights.
    */
  private[text] val TempBudget = 10000L

  /** Temperature-flattened language sampling weights (α = 1/2, i.e.
    * T = 2): w_l ∝ p_l^α — the multilingual rebalancing rule from
    * XLM-R (Conneau et al., 2020) that upsamples low-resource
    * languages without letting them dominate. α = 1/2 specifically
    * because p^(1/2) = sqrt(p) and IEEE-754 sqrt is correctly rounded
    * on every engine — pow(p, 0.3) is NOT, and a 1-ulp divergence
    * would break the cross-engine hash compare (CLAUDE.md float
    * parity rules).
    *
    * Determinism: the rounded weight w4 = floor(sqrt(p)·1e4 + 0.5) is
    * an INTEGER, and the budget apportionment is largest-remainder
    * (Hamilton) arithmetic on those integers — same all-integer shape
    * as [[mixSchedule]], so no float sum whose addition order could
    * differ between engines ever reaches the output. The
    * rank-by-remainder window runs over lang-cardinality rows (5), a
    * genuinely bounded dim — single-partition is fine (CLAUDE.md
    * scale-rule carve-out).
    */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    // Stage the lang-grain counts ONCE (a handful of rows): the
    // weight/allocation chain below fans out to five consumers across
    // broadcasts, and unstaged each re-scanned the corpus (16 parquet
    // scans in the before-plan).
    val counts = Tables.documents(spark, sfDir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(true)
    val tot = counts.agg(sum(col("n_docs")).as("n_total"))
    val w = counts.crossJoin(broadcast(tot))
      .withColumn("w4",
        units(sqrt(col("n_docs").cast("double") / col("n_total").cast("double")), 1e4).cast("long"))
    val sumW = w.agg(sum(col("w4")).as("sum_w"))
    val base = w.crossJoin(broadcast(sumW))
      .withColumn("alloc_floor", expr(s"CAST($TempBudget * w4 DIV sum_w AS BIGINT)"))
      .withColumn("rem", expr(s"($TempBudget * w4) % sum_w"))
    val sumFloor = base.agg(sum(col("alloc_floor")).as("sum_floor"))
    val byRem = Window.orderBy(col("rem").desc, col("lang"))
    base.crossJoin(broadcast(sumFloor))
      .withColumn("rk", row_number().over(byRem))
      .withColumn("alloc",
        col("alloc_floor") +
          when(col("rk") <= lit(TempBudget) - col("sum_floor"), 1L).otherwise(0L))
      // w_temp skips the usual round4 wrap DELIBERATELY: both engines
      // compute the bit-identical expression CAST(w4 AS DOUBLE)/1e4
      // over the same integer w4 ≤ 10000, and IEEE division of exact
      // operands is correctly rounded — the value already has ≤4
      // decimal digits by construction. Do NOT copy this shape into a
      // query whose operands differ across engines (CLAUDE.md rule:
      // round4 every double output) — it is safe only because the
      // dividend is an integer both sides agree on exactly.
      .withColumn("w_temp", col("w4").cast("double") / 10000.0)
      .select(col("lang"), col("n_docs"), col("w_temp"), col("alloc"))
      .orderBy("lang")
  }

  private val sqlTemperatureMix =
    s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
       |     tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM c),
       |     w AS (SELECT lang, n_docs,
       |             CAST(${duckUnits("sqrt(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))", 1e4)} AS BIGINT) AS w4
       |           FROM c CROSS JOIN tot),
       |     sw AS (SELECT CAST(sum(w4) AS BIGINT) AS sum_w FROM w),
       |     b AS (SELECT lang, n_docs, w4,
       |             CAST($TempBudget * w4 // sum_w AS BIGINT) AS alloc_floor,
       |             CAST(($TempBudget * w4) % sum_w AS BIGINT) AS rem
       |           FROM w CROSS JOIN sw),
       |     sf AS (SELECT CAST(sum(alloc_floor) AS BIGINT) AS sum_floor FROM b),
       |     r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk
       |           FROM b CROSS JOIN sf)
       |SELECT lang, n_docs, CAST(w4 AS DOUBLE) / 10000.0 AS w_temp,
       |       CAST(alloc_floor + CASE WHEN rk <= $TempBudget - sum_floor THEN 1 ELSE 0 END
       |            AS BIGINT) AS alloc
       |FROM r ORDER BY lang""".stripMargin

  // ---------- q_loo_source: leave-one-source-out quality valuation ----------

  /** Shapley-lite data valuation at source grain: for each source,
    * the corpus mean quality score WITHOUT it — the marginal effect a
    * mix owner reads before cutting or up-weighting a feed (the
    * leave-one-out special case of data Shapley, Ghorbani & Zou 2019;
    * exact for the mean metric, no retraining). `delta_q > 0` means
    * dropping the source would RAISE corpus quality — a negative
    * contributor despite whatever its volume says.
    *
    * Parity/scale: per-doc quality ([[TextFns.qualityScore]], the
    * oracle-shared kernel) goes to integer micro-units summed as
    * DECIMAL (order-independent); LOO means are pure arithmetic on
    * ONE source-grain aggregate + one broadcast total row — the whole
    * audit is a single fact pass regardless of source count, which is
    * why LOO (unlike sampled Shapley) is free at 100 TB.
    */
  def looSource(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("source"),
        units(TextFns.qualityScore(col("text"), col("ts")), 1e6)
          .cast("decimal(28,0)").as("qm"))
    val per = scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("qm")).as("s_qm"))
    val tot = per.agg(sum(col("n_docs")).as("n_all"), sum(col("s_qm")).as("s_all"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round4(col("s_qm").cast("double") / 1000000.0 /
          col("n_docs").cast("double")).as("mean_q"),
        round4((col("s_all") - col("s_qm")).cast("double") / 1000000.0 /
          (col("n_all") - col("n_docs")).cast("double")).as("loo_mean"),
        round4(
          (col("s_all") - col("s_qm")).cast("double") / 1000000.0 /
            (col("n_all") - col("n_docs")).cast("double") -
          col("s_all").cast("double") / 1000000.0 /
            col("n_all").cast("double")).as("delta_q"))
      .orderBy("source")
  }

  private val sqlLooSource = {
    val q = TextQueries.duckQuality
    s"""WITH t AS (SELECT source, text, $duckTokens AS ts FROM documents),
       |     d AS (SELECT source,
       |             CAST(${duckUnits(q, 1e6)} AS DECIMAL(28,0)) AS qm
       |           FROM t),
       |     per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |                    sum(qm) AS s_qm
       |             FROM d GROUP BY 1),
       |     tot AS (SELECT sum(n_docs) AS n_all, sum(s_qm) AS s_all FROM per)
       |SELECT source, n_docs,
       |       ${duckRound4(
                 "CAST(s_qm AS DOUBLE) / 1000000.0 / CAST(n_docs AS DOUBLE)")} AS mean_q,
       |       ${duckRound4(
                 "CAST(s_all - s_qm AS DOUBLE) / 1000000.0 / CAST(n_all - n_docs AS DOUBLE)")} AS loo_mean,
       |       ${duckRound4(
                 "CAST(s_all - s_qm AS DOUBLE) / 1000000.0 / CAST(n_all - n_docs AS DOUBLE) " +
                 "- CAST(s_all AS DOUBLE) / 1000000.0 / CAST(n_all AS DOUBLE)")} AS delta_q
       |FROM per CROSS JOIN tot ORDER BY source""".stripMargin
  }

  // ---------- q_waterfill_mix: max-entropy budget allocation ----------

  /** Water-filling allocation: spend a token budget B across sources
    * as UNIFORMLY as supply allows — the max-entropy mixture under
    * per-source supply caps (the convex-optimization waterfill,
    * solved exactly in closed form): every source below the water
    * level λ is taken whole, everyone else gets λ (±1 from the
    * integer remainder, assigned by source-name rank). This is the
    * third mixture policy next to proportional ([[mixSchedule]]) and
    * temperature-flattened (`q_temperature_mix`) — the one that
    * maximally de-concentrates dominant sources.
    *
    * All-integer: λ = (B − Σ_{taken} s) div (g − j) after sorting
    * supplies ascending and choosing the largest prefix j whose next
    * supply exceeds its own level — windows over SOURCE-grain rows
    * (bounded ≪ corpus), one fact pass to count tokens. Contract
    * baked into the output: Σalloc = B, alloc ≤ supply, uncapped
    * allocs within 1 of each other.
    */
  def waterfillMix(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .withColumn("n_tok", size(TextFns.tokens(col("text"))).cast("long"))
      .groupBy("source").agg(sum(col("n_tok")).as("supply"))
    val tot = toks.agg(sum(col("supply")).as("total"), count(lit(1)).as("g"))
    val byS = Window.orderBy(col("supply").asc, col("source"))
    val run = byS.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = toks.crossJoin(broadcast(tot))
      .withColumn("budget", expr("total * 6 div 10"))
      .withColumn("rk", row_number().over(byS))
      .withColumn("pfx", sum(col("supply")).over(run))
      // source rk is fully absorbed iff taking it whole still leaves
      // the remaining g−rk sources a level ≥ its own supply
      .withColumn("absorbed",
        col("supply") * (col("g") - col("rk")) + col("pfx") <= col("budget"))
    val cut = ranked.agg(
      sum(when(col("absorbed"), 1L).otherwise(0L)).as("j"),
      sum(when(col("absorbed"), col("supply")).otherwise(0L)).as("taken"))
    val byName = Window.orderBy(col("source"))
    ranked.crossJoin(broadcast(cut))
      .withColumn("lvl", expr("(budget - taken) div (g - j)"))
      .withColumn("rem", expr("(budget - taken) % (g - j)"))
      .withColumn("nrk", row_number().over(byName))
      // remainder +1 goes to the first `rem` UNcapped sources by name
      .withColumn("urk", sum(when(!col("absorbed"), 1L).otherwise(0L))
        .over(byName.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("alloc",
        when(col("absorbed"), col("supply"))
          .otherwise(col("lvl") + when(col("urk") <= col("rem"), 1L).otherwise(0L)))
      .select(col("source"), col("supply"), col("alloc"),
        col("absorbed").as("taken_whole"))
      .orderBy("source")
  }

  private val sqlWaterfillMix =
    s"""WITH t0 AS (SELECT source, CAST(len($duckTokens) AS BIGINT) AS n_tok
       |            FROM documents),
       |     s AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS supply FROM t0 GROUP BY 1),
       |     tt AS (SELECT CAST(sum(supply) AS BIGINT) AS total,
       |                   CAST(count(*) AS BIGINT) AS g FROM s),
       |     r AS (SELECT *, total * 6 // 10 AS budget,
       |                  row_number() OVER (ORDER BY supply, source) AS rk,
       |                  sum(supply) OVER (ORDER BY supply, source
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
       |           FROM s CROSS JOIN tt),
       |     a AS (SELECT *, supply * (g - rk) + pfx <= budget AS absorbed FROM r),
       |     c AS (SELECT CAST(sum(CASE WHEN absorbed THEN 1 ELSE 0 END) AS BIGINT) AS j,
       |                  CAST(sum(CASE WHEN absorbed THEN supply ELSE 0 END) AS BIGINT) AS taken
       |           FROM a),
       |     f AS (SELECT a.*, (budget - taken) // (g - j) AS lvl,
       |                  (budget - taken) % (g - j) AS rem,
       |                  sum(CASE WHEN NOT absorbed THEN 1 ELSE 0 END)
       |                    OVER (ORDER BY source
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS urk
       |           FROM a CROSS JOIN c)
       |SELECT source, supply,
       |       CAST(CASE WHEN absorbed THEN supply
       |                 ELSE lvl + (CASE WHEN urk <= rem THEN 1 ELSE 0 END) END AS BIGINT) AS alloc,
       |       absorbed AS taken_whole
       |FROM f ORDER BY source""".stripMargin

  // ---------- q_jackknife_se: delete-one-group jackknife error bar ----------

  /** The error bar on the corpus quality mean via the delete-one-GROUP
    * jackknife (Efron 1981; groups = sources, the natural dependence
    * unit — docs within a source are correlated, so a doc-level SE
    * would be falsely tight): SE² = (g−1)/g · Σ(loo_i − mean(loo))²
    * over the g leave-one-source-out means [[looSource]] already
    * computes. Resampling without randomness — bootstrap needs RNG
    * (banned by the determinism contract), the jackknife is exact and
    * closed-form, so it gates.
    *
    * Parity: loo means derive from micro-unit DECIMAL sums; each is
    * re-rounded (round6) before the deviation, the per-source squared
    * deviations collapse in round6-DECIMAL (order-independent), and
    * the final sqrt is the one correctly-rounded transcendental. Scale
    * = [[looSource]]'s: one source-grain aggregate + broadcast totals.
    */
  // ---------- q_poisson_boot: deterministic multiplier bootstrap ----------

  private val BootReps = 20

  /** Poisson-multiplier bootstrap standard error of the corpus mean
    * quality (Kleiner et al.'s streaming-bootstrap form: resample by
    * giving each row an independent Poisson(1) multiplicity instead
    * of materializing B resamples — the only bootstrap that runs in
    * one pass over 100 TB) — made DETERMINISTIC so it can gate: the
    * multiplier for (doc, replicate) comes from an integer LCG mix
    * (`((doc_id mod 1000003)·2654435761 + b·40503) div 2¹⁶ mod 1000`,
    * all exact BIGINT ops, headroom ≤ 2.7·10¹⁵ so ANSI never
    * overflows) thresholded at the Poisson(1) cdf cut-points
    * (368/736/920/981 per mille → counts 0..4). [[jackknifeSe]] is
    * the delete-one-GROUP error bar; this is its row-level resampling
    * sibling, B = [[BootReps]] replicates in one scan.
    *
    * Parity: weights are integers, each replicate mean is one double
    * division of DECIMAL sums collapsed to round6 before the moment
    * aggregate; SE = sqrt of an exact-DECIMAL deviation sum. Shape:
    * doc-grain scan × B in-row replicate fan-out, two bounded
    * aggregates — no RNG, no per-replicate pass.
    */
  def poissonBoot(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("doc_id"),
        units(TextFns.qualityScore(col("text"), col("ts")), 1e6)
          .cast("decimal(28,0)").as("qm"))
      .localCheckpoint(true) // staged: replicate fan-out + the overall-mean pass
    val w = when(col("u") < 368, 0L).when(col("u") < 736, 1L)
      .when(col("u") < 920, 2L).when(col("u") < 981, 3L).otherwise(4L)
    val reps = scored
      .select(col("doc_id"), col("qm"),
        explode_outer(sequence(lit(1L), lit(BootReps.toLong))).as("b"))
      .withColumn("u0", pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L)
        + col("b") * lit(40503L))
      .withColumn("u", pmod(expr("u0 div 65536"), lit(1000L)))
      .withColumn("w", w)
      .groupBy("b")
      .agg(sum(col("qm") * col("w").cast("decimal(10,0)")).as("swq"),
        sum(col("w")).as("sw"))
      .withColumn("m6", round6(col("swq").cast("double") / 1000000.0 /
        col("sw").cast("double")))
    val bar = reps.agg(count(lit(1)).as("nb"),
        sum(col("m6").cast("decimal(28,6)")).as("ms"))
      .withColumn("m_bar", col("ms").cast("double") / col("nb").cast("double"))
    val se = reps.select(col("m6")).crossJoin(broadcast(bar))
      .withColumn("dev2", units((col("m6") - col("m_bar")) * (col("m6") - col("m_bar")), 1e6).cast("decimal(28,0)"))
      .groupBy("nb").agg(sum(col("dev2")).as("ss"))
      .select(col("nb"), round4(sqrt(
        col("ss").cast("double") / 1000000.0 / (col("nb") - 1).cast("double"))).as("boot_se"))
    val tot = scored.agg(count(lit(1)).as("n_docs"), sum(col("qm")).as("sq"))
    tot.crossJoin(broadcast(se))
      .select(col("n_docs"), col("nb").as("n_replicates"),
        round4(col("sq").cast("double") / 1000000.0 /
          col("n_docs").cast("double")).as("mean_q"),
        col("boot_se"))
  }

  private val sqlPoissonBoot = {
    val q = TextQueries.duckQuality
    s"""WITH t AS (SELECT doc_id, source, text, $duckTokens AS ts FROM documents),
       |     d AS (SELECT doc_id,
       |             CAST(${duckUnits(q, 1e6)} AS DECIMAL(28,0)) AS qm
       |           FROM t),
       |     reps AS (SELECT doc_id, qm, unnest(range(1, ${BootReps + 1})) AS b FROM d),
       |     wt AS (SELECT b, qm,
       |              (((doc_id % 1000003) * 2654435761 + b * 40503) // 65536) % 1000 AS u
       |            FROM reps),
       |     ww AS (SELECT b, qm,
       |              CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1
       |                   WHEN u < 920 THEN 2 WHEN u < 981 THEN 3 ELSE 4 END AS w
       |            FROM wt),
       |     rm AS (SELECT b,
       |              CAST(${duckUnits("CAST(sum(qm * CAST(w AS DECIMAL(10,0))) AS DOUBLE) / 1000000.0" +
                  " / CAST(sum(w) AS DOUBLE)", 1e6)} AS DOUBLE)
       |                / 1000000.0 AS m6
       |            FROM ww GROUP BY b),
       |     bar AS (SELECT CAST(count(*) AS BIGINT) AS nb,
       |                    CAST(sum(CAST(m6 AS DECIMAL(28,6))) AS DOUBLE)
       |                      / CAST(count(*) AS DOUBLE) AS m_bar
       |             FROM rm),
       |     se AS (SELECT nb,
       |              sum(CAST(${duckUnits("(m6 - m_bar) * (m6 - m_bar)", 1e6)}
       |                    AS DECIMAL(28,0))) AS ss
       |            FROM rm CROSS JOIN bar GROUP BY nb),
       |     tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, sum(qm) AS sq FROM d)
       |SELECT n_docs, nb AS n_replicates,
       |       ${duckRound4(
                 "CAST(sq AS DOUBLE) / 1000000.0 / CAST(n_docs AS DOUBLE)")} AS mean_q,
       |       ${duckRound4(
                 "sqrt(CAST(ss AS DOUBLE) / 1000000.0 / (CAST(nb AS DOUBLE) - 1.0))")} AS boot_se
       |FROM tot CROSS JOIN se""".stripMargin
  }

  def jackknifeSe(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("source"),
        units(TextFns.qualityScore(col("text"), col("ts")), 1e6)
          .cast("decimal(28,0)").as("qm"))
    val per = scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("qm")).as("s_qm"))
    val tot = per.agg(sum(col("n_docs")).as("n_all"), sum(col("s_qm")).as("s_all"),
      count(lit(1)).as("g"))
    val loo = per.crossJoin(broadcast(tot))
      .withColumn("loo6", round6((col("s_all") - col("s_qm")).cast("double") /
        1000000.0 / (col("n_all") - col("n_docs")).cast("double")))
    val bar = loo.agg(first(col("g")).as("g"), first(col("n_all")).as("n_all"),
        first(col("s_all")).as("s_all"),
        sum(col("loo6").cast("decimal(28,6)")).as("loo_sum"))
      .withColumn("loo_bar", col("loo_sum").cast("double") / col("g").cast("double"))
    loo.select(col("loo6"))
      .crossJoin(broadcast(bar))
      .withColumn("dev2", round6((col("loo6") - col("loo_bar")) *
        (col("loo6") - col("loo_bar"))).cast("decimal(28,6)"))
      .groupBy("g", "n_all", "s_all")
      .agg(sum(col("dev2")).as("ss"))
      .select(col("g").as("n_sources"),
        round4(col("s_all").cast("double") / 1000000.0 /
          col("n_all").cast("double")).as("mean_q"),
        round4(sqrt(
          (col("g") - 1).cast("double") / col("g").cast("double") *
            col("ss").cast("double"))).as("jk_se"))
  }

  private val sqlJackknifeSe = {
    val q = TextQueries.duckQuality
    s"""WITH t AS (SELECT source, text, $duckTokens AS ts FROM documents),
       |     d AS (SELECT source,
       |             CAST(${duckUnits(q, 1e6)} AS DECIMAL(28,0)) AS qm
       |           FROM t),
       |     per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |                    sum(qm) AS s_qm
       |             FROM d GROUP BY 1),
       |     tot AS (SELECT sum(n_docs) AS n_all, sum(s_qm) AS s_all,
       |                    CAST(count(*) AS BIGINT) AS g FROM per),
       |     loo AS (SELECT CAST(${duckUnits("CAST(s_all - s_qm AS DOUBLE) / 1000000.0" +
                  " / CAST(n_all - n_docs AS DOUBLE)", 1e6)} AS DOUBLE)
       |                      / 1000000.0 AS loo6
       |             FROM per CROSS JOIN tot),
       |     bar AS (SELECT g, n_all, s_all,
       |                    CAST(sum(CAST(loo6 AS DECIMAL(28,6))) AS DOUBLE)
       |                      / CAST(g AS DOUBLE) AS loo_bar
       |             FROM loo CROSS JOIN tot GROUP BY g, n_all, s_all),
       |     dv AS (SELECT g, n_all, s_all,
       |              sum(CAST(${duckRound6("(loo6 - loo_bar) * (loo6 - loo_bar)")} AS DECIMAL(28,6))) AS ss
       |            FROM loo CROSS JOIN bar GROUP BY g, n_all, s_all)
       |SELECT g AS n_sources,
       |       ${duckRound4(
                 "CAST(s_all AS DOUBLE) / 1000000.0 / CAST(n_all AS DOUBLE)")} AS mean_q,
       |       ${duckRound4(
                 "sqrt(CAST(g - 1 AS DOUBLE) / CAST(g AS DOUBLE) * CAST(ss AS DOUBLE))")} AS jk_se
       |FROM dv""".stripMargin
  }

  // ---------- q_prf_expand: pseudo-relevance-feedback expansion ----------

  private val PrfF = 3 // feedback depth (top BM25 docs)
  private val PrfE = 5 // expansion terms returned

  /** Rocchio pseudo-relevance-feedback query expansion (Rocchio 1971;
    * the RM/PRF family every retrieval stack ships beside BM25): take
    * the [[bm25]] top-[[PrfF]] documents as presumed-relevant
    * feedback, score every term they contain (minus the original
    * query terms) by Σ_feedback tf · idf, and return the
    * top-[[PrfE]] expansion terms — the second-pass query a RAG
    * retriever issues when first-pass recall is thin.
    *
    * Parity: idf is the BM25 form ln(1 + (N−df+0.5)/(df+0.5)) — ln
    * carries no cross-engine ulp guarantee, so the weight is ROUNDED
    * (round4) before the rank and the rank carries the term
    * tie-break, the exact `q_bm25` discipline.
    *
    * Shape: feedback tf is bounded (PrfF docs); df is one vocab-grain
    * aggregate; the final rank is an unpartitioned window over
    * candidate terms — vocab-grain, bounded by the corpus vocabulary,
    * never by doc count (PlanAuditSpec window allowlist).
    */
  def prfExpand(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
    val fb = bm25(spark, sfDir).filter(col("rk") <= PrfF).select(col("doc_id"))
    val terms = docs.select(col("doc_id"), explode_outer(col("ts")).as("term"))
      .filter(col("term").isNotNull)
    val dfreq = terms.distinct().groupBy("term").agg(count(lit(1)).as("df"))
    val nn = docs.agg(count(lit(1)).as("n_docs"))
    val fbTf = terms.join(broadcast(fb), "doc_id")
      .filter(!col("term").isInCollection(QueryTerms))
      .groupBy("term").agg(count(lit(1)).cast("double").as("tf_sum"))
    fbTf.join(dfreq, "term").crossJoin(broadcast(nn))
      .withColumn("weight", round4(col("tf_sum") *
        log(lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double")
          + 0.5) / (col("df").cast("double") + 0.5))))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("weight").desc, col("term"))))
      .filter(col("rk") <= PrfE)
      .select(col("rk"), col("term"), col("df"), col("weight"))
      .orderBy("rk")
  }

  private val sqlPrfExpand = {
    val exList = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH fb AS (SELECT doc_id FROM ($sqlBm25) WHERE rk <= $PrfF),
       |     t AS (SELECT doc_id, $duckTokens AS ts FROM documents),
       |     e AS (SELECT doc_id, unnest(ts) AS term FROM t),
       |     dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |               FROM e GROUP BY 1),
       |     nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |     fbtf AS (SELECT term, CAST(count(*) AS DOUBLE) AS tf_sum
       |              FROM e JOIN fb USING (doc_id)
       |              WHERE term NOT IN ($exList) GROUP BY 1),
       |     w AS (SELECT term, df,
       |             ${duckRound4(
                       "tf_sum * ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) " +
                         "/ (CAST(df AS DOUBLE) + 0.5))")} AS weight
       |           FROM fbtf JOIN dfreq USING (term) CROSS JOIN nn),
       |     r AS (SELECT row_number() OVER (ORDER BY weight DESC, term) AS rk,
       |                  term, df, weight FROM w)
       |SELECT rk, term, df, weight FROM r WHERE rk <= $PrfE ORDER BY rk""".stripMargin
  }

  // ---------- q_ranker_overlap: BM25-vs-TFIDF ranking agreement ----------

  private val OverlapK = 10

  /** Top-[[OverlapK]] agreement between two rankers answering the
    * SAME query — [[bm25]] and a classic tf·idf scorer — the audit an
    * IR team runs before swapping scoring functions: overlap@k and
    * Jaccard of the two top-k result sets say how much of the serving
    * surface actually changes (a high-agreement swap is a safe
    * rollout; a low one needs a relevance eval first). Both rankers
    * run over the identical tokenized corpus and the identical query
    * terms, so the delta isolates the scoring function.
    *
    * Parity: both scores pass ln through the round4 gate BEFORE their
    * ranks (the q_bm25 discipline), both ranks break ties on doc_id,
    * and the agreement numbers are exact integers with one round4
    * ratio each at the edge.
    *
    * Scale: two vocab-bounded scoring passes + two top-k
    * (TakeOrdered-shaped) selections + one k-sized intersection.
    */
  /** The TF-IDF ranker's top-[[OverlapK]] (doc_id, rk) — shared by
    * [[rankerOverlap]] (set agreement) and [[rboAgreement]]
    * (rank-weighted agreement), so the two audits can never rank from
    * different lists.
    */
  private def tfidfTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
    val terms = docs
      .select(col("doc_id"), explode_outer(col("ts")).as("term"))
      .filter(col("term").isInCollection(QueryTerms))
    val tf = terms.groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nn = docs.agg(count(lit(1)).as("n_docs"))
    val perTerm = QueryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("w"))).as(s"w$i")
    }
    tf.join(broadcast(dfreq), "term").crossJoin(broadcast(nn))
      .withColumn("w", col("tf") * log((col("n_docs").cast("double") + 1.0) /
        (col("df").cast("double") + 1.0)))
      .groupBy("doc_id").agg(perTerm.head, perTerm.tail: _*)
      .withColumn("score", round4(
        QueryTerms.indices.map(i => coalesce(col(s"w$i"), lit(0.0)))
          .reduceLeft(_ + _)))
      // two-phase top-k (the q_bm25 discipline): per-hash-partition
      // top-k first so the global window only ever sees 8·k rows —
      // never a fact-scale single-partition sort
      .withColumn("rk1", row_number().over(Window
        .partitionBy(pmod(col("doc_id"), lit(8L)))
        .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk1") <= OverlapK)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk") <= OverlapK)
      .select(col("doc_id"), col("rk"))
  }

  def rankerOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val a = bm25(spark, sfDir).filter(col("rk") <= OverlapK)
      .select(col("doc_id").as("a_id"))
    val b = tfidfTopK(spark, sfDir).select(col("doc_id").as("b_id"))
    a.join(b, col("a_id") === col("b_id"), "full_outer")
      .agg(count(when(col("a_id").isNotNull && col("b_id").isNotNull, 1)).as("n_common"),
        count(when(col("a_id").isNotNull || col("b_id").isNotNull, 1)).as("n_union"))
      .select(lit(OverlapK.toLong).as("k"), col("n_common"),
        round4(col("n_common").cast("double") / lit(OverlapK.toDouble))
          .as("overlap_at_k"),
        round4(col("n_common").cast("double") /
          col("n_union").cast("double")).as("jaccard"))
  }

  /** Oracle CTE chain ending in `btop(doc_id, rk)` — the TF-IDF
    * ranker's top list, shared by [[sqlRankerOverlap]] and [[sqlRbo]]
    * (the twin of [[tfidfTopK]]).
    */
  private val sqlRankerOverlapB = {
    val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
    val sumTerms = QueryTerms.map { t =>
      s"coalesce(sum(CASE WHEN term = '$t' THEN w END), 0.0)"
    }.mkString(" + ")
    s"""t AS (SELECT doc_id, $duckTokens AS ts FROM documents),
       |     e AS (SELECT doc_id, unnest(ts) AS term FROM t),
       |     tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
       |            FROM e WHERE term IN ($inList) GROUP BY 1, 2),
       |     dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |     nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |     wt AS (SELECT doc_id, term,
       |              tf * ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) AS w
       |            FROM tf JOIN dfreq USING (term) CROSS JOIN nn),
       |     sc AS (SELECT doc_id, ${duckRound4(sumTerms)} AS score
       |            FROM wt GROUP BY doc_id),
       |     btop AS (SELECT doc_id, rk FROM (
       |             SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
       |             FROM sc) WHERE rk <= $OverlapK)""".stripMargin
  }

  private val sqlRankerOverlap = {
    s"""WITH a AS (SELECT doc_id AS a_id FROM ($sqlBm25) WHERE rk <= $OverlapK),
       |     $sqlRankerOverlapB,
       |     b AS (SELECT doc_id AS b_id FROM btop),
       |     j AS (SELECT a_id, b_id FROM a FULL JOIN b ON a.a_id = b.b_id)
       |SELECT CAST($OverlapK AS BIGINT) AS k,
       |       CAST(count(CASE WHEN a_id IS NOT NULL AND b_id IS NOT NULL THEN 1 END) AS BIGINT) AS n_common,
       |       ${duckRound4(
                 "CAST(count(CASE WHEN a_id IS NOT NULL AND b_id IS NOT NULL THEN 1 END) AS DOUBLE) " +
                   s"/ $OverlapK.0")} AS overlap_at_k,
       |       ${duckRound4(
                 "CAST(count(CASE WHEN a_id IS NOT NULL AND b_id IS NOT NULL THEN 1 END) AS DOUBLE) " +
                   "/ CAST(count(CASE WHEN a_id IS NOT NULL OR b_id IS NOT NULL THEN 1 END) AS DOUBLE)")} AS jaccard
       |FROM j""".stripMargin
  }

  // ---------- q_neg_sample: word2vec negative-sampling table ----------

  private val NegSlots = 10000L

  /** Unigram^(3/4) negative-sampling table (Mikolov et al., NIPS 2013
    * — the smoothing every SGNS/word2vec implementation hard-codes:
    * raw frequency over-samples stopwords, uniform under-trains them;
    * f^(3/4) is the empirical sweet spot). The exponent is computed
    * as √f·√√f — a COMPOSITION OF CORRECTLY-ROUNDED OPS (two sqrts,
    * one multiply), where pow(f, 0.75) carries no cross-engine ulp
    * guarantee (the α=1/2 temperature-mix rule, extended to 3/4).
    * Weights collapse to integer micro-units, the [[NegSlots]]-slot
    * table minted by the same all-integer Hamilton apportionment as
    * [[temperatureMix]] — both engines emit identical slot counts,
    * and Σ slots = [[NegSlots]] exactly.
    *
    * Shape: one vocab collapse, two scalar broadcasts, one bounded
    * vocab-grain remainder rank (allowlisted — vocabulary grain, the
    * dictEncode class; radix-rank swap at web-scale vocab).
    */
  def negSample(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(explode_outer(col("ts")).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val w = counts.withColumn("w6",
      units(sqrt(col("freq").cast("double")) *
        sqrt(sqrt(col("freq").cast("double"))), 1e6).cast("long"))
    val sumW = w.agg(sum(col("w6")).as("sum_w"))
    val base = w.crossJoin(broadcast(sumW))
      .withColumn("alloc_floor", expr(s"CAST($NegSlots * w6 DIV sum_w AS BIGINT)"))
      .withColumn("rem", expr(s"($NegSlots * w6) % sum_w"))
    val sumFloor = base.agg(sum(col("alloc_floor")).as("sum_floor"))
    val byRem = Window.orderBy(col("rem").desc, col("word"))
    base.crossJoin(broadcast(sumFloor))
      .withColumn("rk", row_number().over(byRem))
      .withColumn("n_slots",
        col("alloc_floor") +
          when(col("rk") <= lit(NegSlots) - col("sum_floor"), 1L).otherwise(0L))
      .select(col("word"), col("freq"), col("n_slots"))
      .orderBy("word")
  }

  private val sqlNegSample =
    s"""WITH t AS (SELECT $duckTokens AS ts FROM documents),
       |     e AS (SELECT unnest(ts) AS word FROM t),
       |     c AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM e GROUP BY 1),
       |     w AS (SELECT word, freq,
       |             CAST(${duckUnits("sqrt(CAST(freq AS DOUBLE))" +
                  " * sqrt(sqrt(CAST(freq AS DOUBLE)))", 1e6)} AS BIGINT) AS w6
       |           FROM c),
       |     sw AS (SELECT CAST(sum(w6) AS BIGINT) AS sum_w FROM w),
       |     b AS (SELECT word, freq, w6,
       |             CAST($NegSlots * w6 // sum_w AS BIGINT) AS alloc_floor,
       |             CAST(($NegSlots * w6) % sum_w AS BIGINT) AS rem
       |           FROM w CROSS JOIN sw),
       |     sf AS (SELECT CAST(sum(alloc_floor) AS BIGINT) AS sum_floor FROM b),
       |     r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, word) AS rk
       |           FROM b CROSS JOIN sf)
       |SELECT word, freq,
       |       CAST(alloc_floor + CASE WHEN rk <= $NegSlots - sum_floor THEN 1 ELSE 0 END
       |            AS BIGINT) AS n_slots
       |FROM r ORDER BY word""".stripMargin

  // ---------- q_rbo: rank-biased overlap between the two rankers ----------

  /** Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010) between
    * the BM25 and TF-IDF top-[[OverlapK]] lists — [[rankerOverlap]]'s
    * overlap@k treats rank 1 and rank 10 alike; RBO is the
    * top-weighted agreement the IR-evaluation literature prescribes
    * for comparing indefinite rankings. Persistence p = 1/2 is chosen
    * DYADIC: each (doc, depth) term is 1/(2^(d−1)·d) — one correctly-
    * rounded division of 1.0 by an exact integer (a pow(p, d) form
    * carries no cross-engine ulp guarantee, the temperature-mix α
    * rule again). A common doc first covered at depth max(ra, rb)
    * contributes every deeper term, so the truncated
    * RBO = (1−p)·Σ_d p^(d−1)·|A_d∩B_d|/d unrolls to one bounded
    * explode (≤ k rows per common doc) + a round6-DECIMAL sum.
    */
  def rboAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val a = bm25(spark, sfDir).filter(col("rk") <= OverlapK)
      .select(col("doc_id"), col("rk").cast("long").as("ra"))
    val b = tfidfTopK(spark, sfDir)
      .select(col("doc_id"), col("rk").cast("long").as("rb"))
    // Stage the top-K intersection ONCE (≤ K rows): both the
    // n_common count and the RBO term sum consume it, and unstaged
    // each consumer re-ran BOTH ranking pipelines (bm25 + tfidf —
    // 24 parquet scans in the before-plan).
    val common = a.join(b, "doc_id")
      .withColumn("d0", greatest(col("ra"), col("rb")))
      .localCheckpoint(true)
    val terms = common
      .select(explode_outer(sequence(col("d0"), lit(OverlapK.toLong))).as("d"))
      .withColumn("t6",
        round6(lit(1.0) /
          (expr("shiftleft(cast(1 as bigint), cast(d - 1 as int))") * col("d"))
            .cast("double"))
          .cast("decimal(28,6)"))
    common.agg(count(lit(1)).as("n_common"))
      .crossJoin(terms.agg(
        coalesce(sum(col("t6")), lit(0).cast("decimal(28,6)")).as("ssum")))
      .select(lit(OverlapK.toLong).as("k"), col("n_common"),
        round4(lit(0.5) * col("ssum").cast("double")).as("rbo"))
  }

  private val sqlRbo = {
    val b = sqlRankerOverlapB
    s"""WITH a AS (SELECT doc_id, CAST(rk AS BIGINT) AS ra FROM ($sqlBm25)
       |           WHERE rk <= $OverlapK),
       |     $b,
       |     bb AS (SELECT doc_id, CAST(rk AS BIGINT) AS rb FROM btop),
       |     common AS (SELECT a.doc_id, greatest(ra, rb) AS d0
       |                FROM a JOIN bb ON a.doc_id = bb.doc_id),
       |     dpt AS (SELECT unnest(range(d0, $OverlapK + 1)) AS d FROM common),
       |     trm AS (SELECT CAST(${duckRound6(
                  "1.0 / CAST((CAST(1 AS BIGINT) << CAST(d - 1 AS INT)) * d AS DOUBLE)")} AS DECIMAL(28,6)) AS t6
       |           FROM dpt)
       |SELECT CAST($OverlapK AS BIGINT) AS k,
       |       (SELECT CAST(count(*) AS BIGINT) FROM common) AS n_common,
       |       ${duckRound4(
                 "0.5 * CAST(coalesce(sum(t6), 0) AS DOUBLE)")} AS rbo
       |FROM trm""".stripMargin
  }

  // ---------- q_good_turing: count-of-counts smoothing table ----------

  /** Good–Turing frequency re-estimation table (Good 1953, the
    * smoothing backbone behind Katz backoff and the KN discounts
    * `q_kn_xent` fixes by hand): for observed term counts r = 1..8,
    * the count-of-counts N_r and the adjusted count
    * r_star = (r+1)·N_{r+1}/N_r — the estimate of how much
    * probability mass the maximum-likelihood count OVERSTATES for
    * rare terms (discount = r_star/r < 1 in a Zipfian corpus, the
    * emitted column). The r = 1 row's N_1
    * is also the classic unseen-mass estimate. Next to `q_zipf_fit`
    * (the rank-frequency law) this is the FREQUENCY-of-frequency
    * view the smoothing literature actually consumes.
    *
    * The unit is the TRIGRAM (via the cross-engine
    * [[graft.functions.TextHashUtil.ngramHashes]] identity — a
    * value-only kernel, so hash identity is all that matters): this
    * corpus's unigram vocabulary is ~31 terms with ~900 counts each —
    * no low-count head at all — while trigrams are properly Zipfian
    * (N_1 ≈ 9.4k at sf0.01), which is also the realistic grain: GT
    * smoothing exists FOR the sparse high-order n-gram counts.
    *
    * Shape: native gram-hash pass → gram-grain count → count-of-
    * counts (a ≤ max-count-cardinality table) self-joined on r+1 —
    * all integer until the two single-division doubles, rounded at
    * the edge. Linear in tokens, mergeable everywhere.
    */
  def goodTuring(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(explode_outer(
        graft.functions.TextHashes.ngramHashes(col("ts"), 3)).as("term"))
      .filter(col("term").isNotNull)
    val counts = terms.groupBy("term").agg(count(lit(1)).as("r"))
    // staged: the r+1 self-join reads the count-of-counts twice, and
    // unstaged each leg re-ran the gram pipeline
    val coc = counts.groupBy("r").agg(count(lit(1)).as("nr"))
      .localCheckpoint(true)
    // Loud guard (round-15 verdict #8): the table is premised on a
    // Zipfian low-count head — the unigram grain was rejected exactly
    // because its N_1 is 0 on this corpus. If an upscaled/changed
    // corpus ever zeroes N_1 at trigram grain too, the r = 1
    // unseen-mass row would silently VANISH from the output (no
    // divide-by-zero — the row just isn't there), so fail loudly
    // instead. Cheap: coc is already checkpointed, this reads it back.
    require(coc.filter(col("r") === 1).limit(1).count() == 1L,
      "q_good_turing: N_1 = 0 at trigram grain — no singleton head in this " +
        "corpus; the GT table needs a sparser n-gram grain")
    coc.filter(col("r") <= 8)
      .join(broadcast(coc.select((col("r") - 1).as("r"), col("nr").as("nr1"))),
        Seq("r"), "left")
      .withColumn("nr1", coalesce(col("nr1"), lit(0L)))
      .select(col("r"), col("nr").as("n_r"), col("nr1").as("n_r1"),
        round4((col("r") + 1).cast("double") * col("nr1").cast("double")
          / col("nr").cast("double")).as("r_star"),
        round4((col("r") + 1).cast("double") * col("nr1").cast("double")
          / col("nr").cast("double") / col("r").cast("double")).as("discount"))
      .orderBy("r")
  }

  private val sqlGoodTuring = {
    val rs = "(CAST(r + 1 AS DOUBLE) * CAST(nr1 AS DOUBLE) / CAST(nr AS DOUBLE))"
    s"""WITH t AS (SELECT $duckTokens AS ts FROM documents),
       |     terms AS (SELECT unnest(${TextQueries.duckNgramHashesOf(3)}) AS term FROM t),
       |     c AS (SELECT term, count(*) AS r FROM terms GROUP BY 1),
       |     coc AS (SELECT r, CAST(count(*) AS BIGINT) AS nr FROM c GROUP BY 1),
       |     j AS (SELECT a.r, a.nr, COALESCE(b.nr, 0) AS nr1
       |           FROM coc a LEFT JOIN coc b ON b.r = a.r + 1
       |           WHERE a.r <= 8)
       |SELECT CAST(r AS BIGINT) AS r, nr AS n_r, nr1 AS n_r1,
       |       ${duckRound4(rs)} AS r_star,
       |       ${duckRound4(s"$rs / CAST(r AS DOUBLE)")} AS discount
       |FROM j ORDER BY r""".stripMargin
  }

  // ---------- q_keyness: log-likelihood distinctive terms per source ----------

  /** Dunning's log-likelihood keyness (Dunning 1993, the corpus-
    * linguistics "what words make this source DIFFERENT" test): for
    * each (source, term), G² = 2·(a·ln(a/E_a) + b·ln(b/E_b)) where a
    * is the term's count in the source, b its count in the rest, and
    * E the expected counts under a shared rate. The top-5 OVERUSED
    * terms per source (a·N > tokens_src·(a+b), the exact-integer
    * over-representation test) are the source's signature vocabulary
    * — the audit that catches a crawl slice gone topical.
    *
    * Shape: (source × term)-grain counts (linear), joined to the
    * vocab-grain corpus counts and the bounded source totals. Parity:
    * each a·ln(·) term is ROUND6ed into DECIMAL before the pair sum
    * (ln has no cross-engine ulp guarantee — the `q_zipf_fit`
    * discipline), ranks compare the exact DECIMAL G² with a term
    * tie-break, and the one output double is rounded at the edge.
    */
  def keyness(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("source"), explode_outer(col("ts")).as("term"))
      .filter(col("term").isNotNull)
    // ONE token pass; every margin is a rollup of the (source, term)
    // grain (staged — unstaged, each margin re-ran the explode: four
    // fact passes observed in the plan audit)
    val st = terms.groupBy("source", "term").agg(count(lit(1)).as("a"))
      .localCheckpoint(true)
    val srcTot = st.groupBy("source").agg(sum(col("a")).as("sa"))
    val termTot = st.groupBy("term").agg(sum(col("a")).as("ab"))
    val tot = st.agg(sum(col("a")).as("nn"))
    def dd(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast("double")
    val joined = st
      .join(broadcast(srcTot), "source")
      .join(termTot, "term")
      .crossJoin(broadcast(tot))
      .withColumn("b", col("ab") - col("a"))
      .withColumn("bt", col("nn") - col("sa"))
      // exact-integer over-representation screen BEFORE any float
      .filter(col("a") * col("nn") > col("sa") * col("ab"))
      .withColumn("ta", round6(dd(col("a")) * log(dd(col("a"))
        / (dd(col("sa")) * dd(col("ab")) / dd(col("nn"))))).cast("decimal(28,6)"))
      .withColumn("tb", when(col("b") > 0,
        round6(dd(col("b")) * log(dd(col("b"))
          / (dd(col("bt")) * dd(col("ab")) / dd(col("nn"))))).cast("decimal(28,6)"))
        .otherwise(lit(0.0).cast("decimal(28,6)")))
      .withColumn("g2", (col("ta") + col("tb")) * 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("g2").desc, col("term"))
    joined
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk"), col("term"),
        col("a").as("cnt_in"), col("b").as("cnt_rest"),
        round4(col("g2").cast("double")).as("g2"))
      .orderBy("source", "rk")
  }

  private val sqlKeyness = {
    val ta = s"CAST(${duckRound6("CAST(a AS DOUBLE) * ln(CAST(a AS DOUBLE) " +
      "/ (CAST(sa AS DOUBLE) * CAST(ab AS DOUBLE) / CAST(nn AS DOUBLE)))")} AS DECIMAL(28,6))"
    val tb = s"CAST(${duckRound6("CAST(b AS DOUBLE) * ln(CAST(b AS DOUBLE) " +
      "/ (CAST(bt AS DOUBLE) * CAST(ab AS DOUBLE) / CAST(nn AS DOUBLE)))")} AS DECIMAL(28,6))"
    s"""WITH t AS (SELECT source, $duckTokens AS ts FROM documents),
       |     terms AS (SELECT source, unnest(ts) AS term FROM t),
       |     st AS (SELECT source, term, count(*) AS a FROM terms GROUP BY 1, 2),
       |     stot AS (SELECT source, count(*) AS sa FROM terms GROUP BY 1),
       |     ttot AS (SELECT term, count(*) AS ab FROM terms GROUP BY 1),
       |     tot AS (SELECT count(*) AS nn FROM terms),
       |     j AS (SELECT st.source, st.term, a, sa, ab, nn,
       |                  ab - a AS b, nn - sa AS bt
       |           FROM st JOIN stot ON st.source = stot.source
       |                   JOIN ttot ON st.term = ttot.term
       |                   CROSS JOIN tot
       |           WHERE a * nn > sa * ab),
       |     g AS (SELECT source, term, a, b,
       |                  ($ta + CASE WHEN b > 0 THEN $tb
       |                              ELSE CAST(0.0 AS DECIMAL(28,6)) END) * 2 AS g2
       |           FROM j),
       |     r AS (SELECT source, term, a, b, g2,
       |                  row_number() OVER (PARTITION BY source
       |                                     ORDER BY g2 DESC, term) AS rk
       |           FROM g)
       |SELECT source, CAST(rk AS BIGINT) AS rk, term,
       |       CAST(a AS BIGINT) AS cnt_in, CAST(b AS BIGINT) AS cnt_rest,
       |       ${duckRound4("CAST(g2 AS DOUBLE)")} AS g2
       |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin
  }

  // ---------- q_burrows_delta: stylometric distance between sources ----------

  /** Burrows's Delta between source pairs (Burrows 2002, the standard
    * stylometric attribution distance): z-score each source's
    * per-mille rate of the M most frequent terms against the
    * cross-source distribution, then Delta(s,s') = mean |z_s − z_s'|
    * over those terms. Low Delta = same "authorial fingerprint" — in
    * a training corpus, the pair of crawl slices that are the same
    * template/generator wearing two source labels (the provenance
    * cousin of `q_source_overlap`'s document-level containment).
    *
    * Shape: (source × term) counts densified against the bounded
    * (sources × top-M) grid, term-grain moment rows, then the bounded
    * pair join — all dim-cardinality after the one linear token pass.
    * Parity: per-mille rates are ROUND6ed into DECIMAL at the cell
    * (exact moments thereafter), the top-M cut ranks integer corpus
    * counts with a term tie-break, zero-variance terms are excluded
    * by an EXACT decimal test, each |z − z'| lands in the pair mean
    * only after round6 (bounded-k double-sum rule), one rounded edge.
    */
  def burrowsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val M = 20
    val terms = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("source"), explode_outer(col("ts")).as("term"))
      .filter(col("term").isNotNull)
    // ONE token pass; source totals and the top-M cut are rollups of
    // the staged (source, term) grain (unstaged, the z-table's two
    // self-join legs re-derived the whole pipeline — four fact passes
    // and four broadcast crosses observed in the plan audit)
    val st = terms.groupBy("source", "term").agg(count(lit(1)).as("a"))
      .localCheckpoint(true)
    val srcTot = st.groupBy("source").agg(sum(col("a")).as("sa"))
    val topM = st.groupBy("term").agg(sum(col("a")).as("ab"))
      .orderBy(col("ab").desc, col("term")).limit(M).select("term")
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    // densified (source × top-M) rate cells: absent terms are REAL
    // zero-rate observations, not missing rows
    val cells = srcTot.crossJoin(broadcast(topM))
      .join(st, Seq("source", "term"), "left")
      .withColumn("f6",
        round6(lit(1000.0) * coalesce(dd(col("a")), lit(0.0)) / dd(col("sa"))).cast("decimal(18,6)"))
      .localCheckpoint(true) // bounded sources×M grid; term stats + both z legs read it
    val tstats = cells.groupBy("term")
      .agg(count(lit(1)).as("k"), sum(col("f6")).as("sf"),
        sum(col("f6") * col("f6")).as("sff"))
      // zero-variance screen on the DOUBLE variance: its inputs are
      // exact DECIMAL moments, so the fixed-shape double is
      // bit-identical across engines and the > 0 compare is too
      .withColumn("vr", (dd(col("sff")) - dd(col("sf")) * dd(col("sf"))
        / dd(col("k"))) / dd(col("k")))
      .filter(col("vr") > 0.0)
      .withColumn("mu", dd(col("sf")) / dd(col("k")))
      .withColumn("sg", sqrt(col("vr")))
    val z = cells.join(broadcast(tstats.select("term", "mu", "sg")), "term")
      .select(col("term"), col("source"),
        ((dd(col("f6")) - col("mu")) / col("sg")).as("z"))
      .localCheckpoint(true) // bounded; the pair join reads it twice
    z.as("x").join(z.as("y"),
        col("x.term") === col("y.term") && col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        round6(abs(col("x.z") - col("y.z")))
          .cast("decimal(28,6)").as("d6"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_terms"), sum(col("d6")).as("ds"))
      .select(col("source_a"), col("source_b"), col("n_terms"),
        round4(col("ds").cast("double") / col("n_terms").cast("double"))
          .as("delta"))
      .orderBy("source_a", "source_b")
  }

  private val sqlBurrowsDelta = {
    val f6 =
      s"CAST(${duckRound6("1000.0 * COALESCE(CAST(a AS DOUBLE), 0.0) / CAST(sa AS DOUBLE)")} AS DECIMAL(18,6))"
    s"""WITH t AS (SELECT source, $duckTokens AS ts FROM documents),
       |     terms AS (SELECT source, unnest(ts) AS term FROM t),
       |     st AS (SELECT source, term, count(*) AS a FROM terms GROUP BY 1, 2),
       |     stot AS (SELECT source, count(*) AS sa FROM terms GROUP BY 1),
       |     topm AS (SELECT term FROM (SELECT term, count(*) AS ab FROM terms GROUP BY 1)
       |              ORDER BY ab DESC, term LIMIT 20),
       |     cells AS (SELECT stot.source, topm.term, $f6 AS f6
       |               FROM stot CROSS JOIN topm
       |               LEFT JOIN st ON st.source = stot.source AND st.term = topm.term),
       |     ts2 AS (SELECT term, CAST(count(*) AS BIGINT) AS k,
       |                    sum(f6) AS sf, sum(f6 * f6) AS sff
       |             FROM cells GROUP BY 1),
       |     tv AS (SELECT term, k, sf,
       |                   (CAST(sff AS DOUBLE) - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE)
       |                     / CAST(k AS DOUBLE)) / CAST(k AS DOUBLE) AS vr
       |            FROM ts2),
       |     tstats AS (SELECT term,
       |                       CAST(sf AS DOUBLE) / CAST(k AS DOUBLE) AS mu,
       |                       sqrt(vr) AS sg
       |                FROM tv WHERE vr > 0.0),
       |     z AS (SELECT cells.term, source,
       |                  (CAST(f6 AS DOUBLE) - mu) / sg AS z
       |           FROM cells JOIN tstats ON cells.term = tstats.term),
       |     pr AS (SELECT x.source AS source_a, y.source AS source_b,
       |                   CAST(${duckRound6("abs(x.z - y.z)")}
       |                     AS DECIMAL(28,6)) AS d6
       |            FROM z x JOIN z y ON x.term = y.term AND x.source < y.source)
       |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_terms,
       |       ${duckRound4("CAST(sum(d6) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS delta
       |FROM pr GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin
  }

  // ---------- q_boot_ci: percentile bootstrap confidence interval ----------

  /** Percentile bootstrap CI on the corpus mean quality — the
    * INTERVAL companion to [[poissonBoot]]'s standard error (Efron's
    * percentile method: the [2.5%, 97.5%] quantiles of the replicate
    * means ARE the interval, no normality assumption): identical
    * deterministic Poisson(1) LCG multiplier kernel (same constants,
    * same B = [[BootReps]], so the two queries gate the SAME replicate
    * distribution two ways), finished with one exact `percentile` ≡
    * `quantile_cont` pair over the B replicate means — the verified
    * bit-identical interpolation, over round6ed values.
    *
    * Shape: one doc-grain scan × B in-row fan-out, a B-row percentile
    * — the one-pass 100 TB bootstrap with an error BAND instead of a
    * bar.
    */
  def bootCi(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("doc_id"),
        units(TextFns.qualityScore(col("text"), col("ts")), 1e6)
          .cast("decimal(28,0)").as("qm"))
    val w = when(col("u") < 368, 0L).when(col("u") < 736, 1L)
      .when(col("u") < 920, 2L).when(col("u") < 981, 3L).otherwise(4L)
    val reps = scored
      .select(col("doc_id"), col("qm"),
        explode_outer(sequence(lit(1L), lit(BootReps.toLong))).as("b"))
      .withColumn("u0", pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L)
        + col("b") * lit(40503L))
      .withColumn("u", pmod(expr("u0 div 65536"), lit(1000L)))
      .withColumn("w", w)
      .groupBy("b")
      .agg(sum(col("qm") * col("w").cast("decimal(10,0)")).as("swq"),
        sum(col("w")).as("sw"))
      .withColumn("m6", round6(col("swq").cast("double") / 1000000.0 /
        col("sw").cast("double")))
    reps.agg(count(lit(1)).as("n_replicates"),
        sum(col("m6").cast("decimal(28,6)")).as("ms"),
        expr("percentile(m6, 0.025)").as("lo"),
        expr("percentile(m6, 0.975)").as("hi"))
      .select(col("n_replicates"),
        round4(col("ms").cast("double")
          / col("n_replicates").cast("double")).as("boot_mean"),
        round4(col("lo")).as("ci_lo"),
        round4(col("hi")).as("ci_hi"))
  }

  private val sqlBootCi = {
    val q = TextQueries.duckQuality
    s"""WITH t AS (SELECT doc_id, source, text, $duckTokens AS ts FROM documents),
       |     d AS (SELECT doc_id,
       |             CAST(${duckUnits(q, 1e6)} AS DECIMAL(28,0)) AS qm
       |           FROM t),
       |     reps AS (SELECT doc_id, qm, unnest(range(1, ${BootReps + 1})) AS b FROM d),
       |     wt AS (SELECT b, qm,
       |              (((doc_id % 1000003) * 2654435761 + b * 40503) // 65536) % 1000 AS u
       |            FROM reps),
       |     ww AS (SELECT b, qm,
       |              CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1
       |                   WHEN u < 920 THEN 2 WHEN u < 981 THEN 3 ELSE 4 END AS w
       |            FROM wt),
       |     rm AS (SELECT b,
       |              CAST(${duckUnits("CAST(sum(qm * CAST(w AS DECIMAL(10,0))) AS DOUBLE) / 1000000.0" +
                  " / CAST(sum(w) AS DOUBLE)", 1e6)} AS DOUBLE)
       |                / 1000000.0 AS m6
       |            FROM ww GROUP BY b),
       |     a AS (SELECT CAST(count(*) AS BIGINT) AS n_replicates,
       |                  CAST(sum(CAST(m6 AS DECIMAL(28,6))) AS DOUBLE)
       |                    / CAST(count(*) AS DOUBLE) AS mb,
       |                  quantile_cont(m6, 0.025) AS lo,
       |                  quantile_cont(m6, 0.975) AS hi
       |           FROM rm)
       |SELECT n_replicates,
       |       ${duckRound4("mb")} AS boot_mean,
       |       ${duckRound4("lo")} AS ci_lo,
       |       ${duckRound4("hi")} AS ci_hi
       |FROM a""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_boot_ci" -> (bootCi _),
    "q_burrows_delta" -> (burrowsDelta _),
    "q_good_turing" -> (goodTuring _),
    "q_keyness" -> (keyness _),
    "q_prf_expand" -> (prfExpand _),
    "q_rbo" -> (rboAgreement _),
    "q_neg_sample" -> (negSample _),
    "q_ranker_overlap" -> (rankerOverlap _),
    "q_loo_source" -> (looSource _),
    "q_waterfill_mix" -> (waterfillMix _),
    "q_jackknife_se" -> (jackknifeSe _),
    "q_poisson_boot" -> (poissonBoot _),
    "q_heavy_hitters" -> (heavyHitters _),
    "q_bm25" -> (bm25 _),
    "q_chunk_plan" -> (chunkPlan _),
    "q_mix_schedule" -> (mixSchedule _),
    "q_epoch_plan" -> (epochPlan _),
    "q_src_checksum" -> (srcChecksum _),
    "q_source_overlap" -> (sourceOverlap _),
    "q_weighted_minhash" -> (weightedMinhash _),
    "q_prefix_dup" -> (prefixDup _),
    "q_yule_k" -> (yuleK _),
    "q_temperature_mix" -> (temperatureMix _))

  val oracle: Map[String, String] = Map(
    "q_boot_ci" -> sqlBootCi,
    "q_burrows_delta" -> sqlBurrowsDelta,
    "q_good_turing" -> sqlGoodTuring,
    "q_keyness" -> sqlKeyness,
    "q_prf_expand" -> sqlPrfExpand,
    "q_rbo" -> sqlRbo,
    "q_neg_sample" -> sqlNegSample,
    "q_ranker_overlap" -> sqlRankerOverlap,
    "q_loo_source" -> sqlLooSource,
    "q_waterfill_mix" -> sqlWaterfillMix,
    "q_jackknife_se" -> sqlJackknifeSe,
    "q_poisson_boot" -> sqlPoissonBoot,
    "q_heavy_hitters" -> sqlHeavyHitters,
    "q_bm25" -> sqlBm25,
    "q_chunk_plan" -> sqlChunkPlan,
    "q_mix_schedule" -> sqlMixSchedule,
    "q_yule_k" -> sqlYuleK,
    "q_epoch_plan" -> sqlEpochPlan,
    "q_src_checksum" -> sqlSrcChecksum,
    "q_source_overlap" -> sqlSourceOverlap,
    "q_weighted_minhash" -> sqlWeightedMinhash,
    "q_prefix_dup" -> sqlPrefixDup,
    "q_temperature_mix" -> sqlTemperatureMix)
}
