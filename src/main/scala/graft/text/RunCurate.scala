package graft.text

import graft.etl.RunEtl.StageStat
import graft.schema.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation orchestrator — the LLM-training-data
  * twin of [[graft.etl.RunEtl]]: one command takes the raw `documents`
  * table to a training-ready corpus through the standard curation
  * funnel, reporting per-stage wall-clock + surviving row counts
  * (the numbers a data-pipeline operator actually watches: how many
  * documents each gate dropped).
  *
  * Stages (each built from the same oracle-checked kernels as the
  * declared queries):
  *   1. annotate  — language-ID (lexicon argmax), quality score,
  *                  token count ([[TextFns]]; `q_lang_id`,
  *                  `q_quality_score`, `q_token_count` kernels)
  *   2. quality   — drop documents below the quality threshold
  *   3. exact     — first-wins dedup on the normalized-text sha256
  *                  (`q_doc_dedup` key)
  *   4. neardup   — MinHash-LSH cluster assignment, keep each
  *                  cluster's canonical (min doc_id) member
  *                  (`q_minhash_cluster` shape)
  *   5. decontam  — benchmark decontamination: the content-hash
  *                  held-out eval slice leaves the corpus, along with
  *                  every training doc sharing a word-8-gram with it
  *                  (`q_decontaminate` kernel)
  *   6. balance   — per-source quota: each source keeps its best
  *                  `quota` docs by quality (`q_source_quota` kernel),
  *                  capping any domain's share of the mix
  *   7. corpus    — survivors packed into token-budgeted training
  *                  shards (`q_token_shards` kernel); a by-language
  *                  serving layout is rewritten alongside
  *
  * Each stage persists a parquet snapshot and the next reads it back:
  * at 100 TB a multi-stage curation run wants stage boundaries on
  * storage anyway (restartability, lineage truncation, per-stage
  * inspection) — the same snapshot discipline as the warehouse build.
  * All stage logic is shuffle-minimal: annotate is per-row (no
  * shuffle), the dedup stages shuffle once each on their bucket keys,
  * and nothing is pairwise.
  */
object RunCurate {

  /** Lexicon-argmax language prediction over a STAGED tokens column:
    * score every candidate language by marker hits, pick the best,
    * ties broken by language code (deterministic; the scoring matrix
    * itself is what `q_lang_id` oracle-checks). Takes tokens, not
    * text — scoring 5 lexicons from raw text would re-tokenize 5×
    * per row inside interpreted HOFs.
    */
  def bestLang(ts: Column): Column = {
    val scored = TextFns.langMarkers.toSeq.sortBy(_._1).map { case (lang, lex) =>
      struct(TextFns.lexiconHitsFromTokens(ts, lex).as("score"), lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  /** Run the curation funnel; returns per-stage stats in order. */
  def curate(spark: SparkSession, sfDir: String, outDir: String,
             minQuality: Double = 0.5, quota: Int = 40): Seq[StageStat] = {
    def stage(name: String)(df: => DataFrame): StageStat = {
      val t0 = System.nanoTime()
      val path = s"$outDir/$name"
      df.write.mode("overwrite").parquet(path)
      val rows = spark.read.parquet(path).count()
      StageStat(name, rows, (System.nanoTime() - t0) / 1e9)
    }
    def read(name: String): DataFrame = spark.read.parquet(s"$outDir/$name")

    val s1 = stage("annotate") {
      Tables.documents(spark, sfDir)
        .withColumn("ts", TextFns.tokens(col("text")))
        .withColumn("grams", TextFns.wordNgramsFromTokens(col("ts"), 2))
        .select(col("doc_id"), col("source"), col("lang"), col("text"),
          bestLang(col("ts")).as("lang_pred"),
          TextFns.round4(TextFns.qualityScore(col("text"), col("ts"))).as("quality"),
          size(col("ts")).cast("long").as("n_tokens"),
          (TextFns.repetitionRatio(col("grams")) >=
            TextQueries.RepetitionThreshold).as("is_repetitive"),
          sha2(TextQueries.normText(col("text")), 256).as("content_hash"))
    }

    val s2 = stage("quality") {
      // C4-style score floor AND the Gopher-style repetition ceiling
      // (the q_repetition kernel): both are cheap per-row gates, so
      // they share one stage
      read("annotate")
        .filter(col("quality") >= minQuality && !col("is_repetitive"))
    }

    val s3 = stage("exact") {
      // first-wins per content hash: one shuffle on the hash key
      graft.etl.Dedup.firstWins(read("quality"),
        Seq("content_hash"), Seq(col("doc_id")))
    }

    val s4 = stage("neardup") {
      val docs = read("exact")
      // the oracle-verified clustering kernel (q_minhash_cluster);
      // the canonical member is the doc that IS its own cluster id —
      // keeps exactly one per cluster and every singleton
      val clusters = TextQueries.minhashAssignments(docs)
      docs.join(clusters.where(col("doc_id") === col("cluster_id"))
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    }

    val s5 = stage("decontam") {
      // benchmark decontamination (the q_decontaminate kernel): the
      // content-hash-held-out eval slice IS the benchmark — its docs
      // leave the training corpus entirely, and any training doc
      // sharing a word-8-gram with it is dropped too (train/test
      // contamination would otherwise survive every dedup gate above:
      // a paraphrased benchmark answer is neither an exact nor a
      // MinHash near-dup of the eval doc)
      val docs = read("neardup")
      val flagged = DocOps.contamHits(docs.select("doc_id", "source", "text"))
        .filter(col("n_hits") > 0).select("doc_id")
      docs.filter(!DocOps.isEvalDoc)
        .join(flagged, Seq("doc_id"), "left_anti")
    }

    val s6 = stage("balance") {
      // per-source quota (the q_source_quota selection kernel): caps
      // any single domain's share of the final mix, keeping each
      // source's best `quota` docs by quality
      TextAnalytics.quotaSelect(read("decontam"), quota, "quality")
    }

    val s7 = stage("corpus") {
      // survivors packed into training shards of bounded token budget
      // (the distributed prefix scan — the same q_token_shards kernel)
      graft.etl.PrefixScan.packByCapacity(
        read("balance"), "doc_id", "n_tokens", capacity = 50000L)
    }
    // partitioned rewrite for the language serving layout (corpus/ is
    // the flat snapshot the stats read). Lang cardinality is bounded
    // by the marker map, so directories stay sane at any corpus size;
    // shard is corpus-proportional and must NOT be a Hive partition
    // key — shard locality is already file-level in corpus/ (the
    // prefix scan leaves rows shard-monotone, so parquet min/max on
    // `shard` prunes files for a shard read).
    graft.etl.Warehouse.writePartitioned(
      read("corpus"), s"$outDir/corpus_by_lang", Seq("lang_pred"))
    // chunk-grain serving artifact (the q_chunk_plan kernel): each
    // surviving document as overlapping fixed-width token chunks with
    // content fingerprints, tagged with its shard — the sample-level
    // view a trainer/RAG indexer reads; doc-grain corpus/ stays the
    // funnel's snapshot (chunking multiplies rows, it is not a gate)
    val corpus = read("corpus")
    CorpusOps.chunkPlanOf(corpus.select("doc_id", "text"))
      .join(corpus.select("doc_id", "shard", "lang_pred"), "doc_id")
      .write.mode("overwrite").parquet(s"$outDir/chunks")

    Seq(s1, s2, s3, s4, s5, s6, s7)
  }

  /** `runMain graft.text.RunCurate [sfDir] [outDir] [minQuality]` */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_corpus"
    val minQ = if (args.length > 2) args(2).toDouble else 0.5
    val spark = graft.GraftSession()
    val t0 = System.nanoTime()
    val stats = curate(spark, sfDir, outDir, minQ)
    val total = (System.nanoTime() - t0) / 1e9
    stats.foreach { s =>
      println(f"[curate] ${s.stage}%-10s rows=${s.rows}%-8d ${s.seconds}%.2fs")
    }
    println(f"[curate] TOTAL      kept=${stats.last.rows}%-8d $total%.2fs -> $outDir")
    spark.stop()
  }
}
