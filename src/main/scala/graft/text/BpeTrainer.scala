package graft.text

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Stage

/** Multi-round BPE merge training (Sennrich, Haddow & Birch, ACL
  * 2016) — the driver-paced extension of [[DocOps.bpePairs]] (which
  * oracle-verifies exactly one round's pair statistics). Each round:
  * count weighted adjacent symbol pairs over the vocabulary, elect
  * the (count DESC, pair ASC) argmax as the round's merge, and
  * rewrite every word's symbol sequence with the leftmost-first
  * non-overlapping application of that merge — the loop a tokenizer
  * trainer runs until the target vocabulary size.
  *
  * Scale shape (the reason BPE training is feasible at 100 TB): the
  * corpus is collapsed ONCE to (word, freq) vocabulary grain — every
  * subsequent round's work is O(vocab · word length), independent of
  * corpus size. Per round: one pair-count aggregate (map-side
  * combinable), ONE 1-row collect (the elected merge — summary-sized,
  * never data-sized), one typed map to rewrite symbols. Round state
  * (the symbol table) is localCheckpoint'd and the superseded round's
  * blocks freed, per the CLAUDE.md driver-paced-kernel rule — an
  * un-checkpointed symbol table would re-derive every earlier round's
  * rewrite once per later round's reference.
  *
  * Spec-gated ([[BpeTrainerSpec]]): engine-internal symbol sequences
  * (array<string>) don't cross the DuckDB oracle seam cleanly, but
  * the round-1 statistics ARE driver-gated via `q_bpe_pairs`, and the
  * spec pins the classic low/lower/newest/widest example end-to-end
  * plus the weighted-symbol-count conservation law.
  */
object BpeTrainer {

  /** One vocabulary word as a symbol sequence with its corpus
    * frequency.
    */
  case class SymWord(symbols: Seq[String], freq: Long)

  /** One elected merge with the weighted occurrence count it had at
    * election time.
    */
  case class Merge(a: String, b: String, n: Long)

  /** Character-split initial symbol table from a (word, freq) vocab
    * relation — BPE's starting state.
    */
  def initSymbols(vocab: DataFrame): Dataset[SymWord] = {
    val spark = vocab.sparkSession
    import spark.implicits._
    vocab.select(col("word").cast("string"), col("freq").cast("long"))
      .as[(String, Long)]
      .map { case (w, f) => SymWord(w.map(_.toString), f) }
  }

  /** Leftmost-first non-overlapping application of merge (a, b):
    * scan once; at each position, if the pair matches, emit the fused
    * symbol and skip both — "aaa" under (a,a) becomes ["aa", "a"],
    * exactly the reference BPE semantics.
    */
  def applyMerge(symbols: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < symbols.length) {
      if (i + 1 < symbols.length && symbols(i) == a && symbols(i + 1) == b) {
        out += (a + b)
        i += 2
      } else {
        out += symbols(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Weighted adjacent-pair counts of the current symbol table —
    * the same statistic [[DocOps.bpePairs]] verifies for round 1.
    */
  def pairCounts(words: Dataset[SymWord]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    words
      .flatMap(w => w.symbols.sliding(2).collect {
        case Seq(a, b) => (a, b, w.freq)
      })
      .toDF("a", "b", "freq")
      .groupBy("a", "b")
      .agg(sum(col("freq")).as("n"))
  }

  /** Run `rounds` merge elections. Returns the merges in order plus
    * the final symbol table (reads from the final round's
    * localCheckpoint, released with [[graft.Stage.free]]; superseded
    * rounds' blocks are freed as each next round materializes).
    * Stops early if no pair remains (all words fused to one symbol).
    */
  def train(vocab: DataFrame, rounds: Int): (Seq[Merge], Dataset[SymWord]) = {
    val spark = vocab.sparkSession
    import spark.implicits._
    var words = initSymbols(vocab).toDF.localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val top = pairCounts(words.as[SymWord])
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      top.headOption match {
        case None => exhausted = true
        case Some((a, b, n)) =>
          merges += Merge(a, b, n)
          val next = words.as[SymWord]
            .map(w => SymWord(applyMerge(w.symbols, a, b), w.freq)).toDF
            .localCheckpoint(true)
          Stage.free(words) // safe: `next` is materialized by the eager checkpoint
          words = next
      }
      r += 1
    }
    (merges.toSeq, words.as[SymWord])
  }

  /** Convenience: train over the corpus vocabulary of a documents
    * relation (the same tokens/collapse as [[DocOps.bpePairs]]).
    */
  def trainOnDocuments(spark: SparkSession, sfDir: String, rounds: Int): Seq[Merge] = {
    val vocab = graft.schema.Tables.documents(spark, sfDir)
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(explode_outer(col("ts")).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
    val (merges, fin) = train(vocab, rounds)
    Stage.free(fin)
    merges
  }
}
