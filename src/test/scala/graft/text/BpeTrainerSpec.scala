package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE training kernel invariants. Round-1 statistics are ALSO
  * driver-gated against DuckDB via `q_bpe_pairs`; these specs pin the
  * multi-round behavior the oracle seam can't express.
  */
class BpeTrainerSpec extends SparkSpec {
  import spark.implicits._

  /** The classic example (Sennrich et al. 2016, §3.2 shape, no
    * end-of-word marker): expected elections worked by hand —
    * round 1: es=9 ties st=9, "e s" < "s t" so (e,s);
    * round 2: (es,t)=9; round 3: lo=7 ties ow=7 so (l,o).
    */
  private def classicVocab = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    .toDF("word", "freq")

  test("classic vocab elects (e,s), (es,t), (l,o) in order") {
    val (merges, fin) = BpeTrainer.train(classicVocab, 3)
    assert(merges.map(m => (m.a, m.b, m.n)) ==
      Seq(("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L)))
    val sym = fin.collect().map(w => w.symbols.mkString(" ") -> w.freq).toMap
    assert(sym == Map(
      "lo w" -> 5L, "lo w e r" -> 2L,
      "n e w est" -> 6L, "w i d est" -> 3L))
    graft.Stage.free(fin)
  }

  test("applyMerge is leftmost-first non-overlapping") {
    assert(BpeTrainer.applyMerge(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(BpeTrainer.applyMerge(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(BpeTrainer.applyMerge(Seq("x"), "a", "b") == Seq("x"))
    assert(BpeTrainer.applyMerge(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
  }

  test("each merge shrinks the weighted symbol count by its election count") {
    // conservation law: one merge occurrence fuses two symbols into
    // one, so Σ freq·|symbols| drops by exactly the elected n
    def weighted(ds: org.apache.spark.sql.Dataset[BpeTrainer.SymWord]): Long =
      ds.map(w => w.freq * w.symbols.length).collect().sum
    val before = weighted(BpeTrainer.initSymbols(classicVocab))
    val (merges, fin) = BpeTrainer.train(classicVocab, 3)
    assert(weighted(fin) == before - merges.map(_.n).sum)
    graft.Stage.free(fin)
  }

  test("training is deterministic and matches q_bpe_pairs round-1 argmax") {
    val dir = sfTiny
    val m1 = BpeTrainer.trainOnDocuments(spark, dir, 2)
    val m2 = BpeTrainer.trainOnDocuments(spark, dir, 2)
    assert(m1 == m2)
    // round 1's election is the top row of the oracle-verified
    // q_bpe_pairs statistic (pair = a||b, count DESC, pair ASC)
    val top = DocOps.bpePairs(spark, dir).limit(1).collect().head
    assert(m1.head.a + m1.head.b == top.getString(0))
    assert(m1.head.n == top.getLong(1))
  }

  test("trainOnDocuments leaves no new persistent RDD") {
    // every round's symbol table is a localCheckpoint; the final one
    // must be freed too, not just the superseded rounds
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    BpeTrainer.trainOnDocuments(spark, sfTiny, 2)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked localCheckpoint blocks: $leaked")
  }

  test("train stops early when every word is a single symbol") {
    val tiny = Seq(("ab", 3L)).toDF("word", "freq")
    val (merges, fin) = BpeTrainer.train(tiny, 10)
    assert(merges.map(m => (m.a, m.b)) == Seq(("a", "b")))
    assert(fin.collect().toSeq == Seq(BpeTrainer.SymWord(Seq("ab"), 3L)))
    graft.Stage.free(fin)
  }
}
