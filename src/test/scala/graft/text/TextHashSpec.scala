package graft.text

import graft.SparkSpec
import graft.functions.{TextHashUtil, TextHashes}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Parity between the native Catalyst hash expressions and the
  * higher-order-function reference implementations in TextFns (both
  * must match the DuckDB oracle recurrences), plus semantic checks on
  * planted near-duplicates.
  */
class TextHashSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "completely different content with nothing shared here",
    "tiny",
    "Mixed CASE Words and MORE",
    "a b  c   d")

  test("native polyHash equals HOF polyHash(codes)") {
    val df = texts.toDF("text")
      .withColumn("cs", TextFns.codes(col("text")))
      .select(
        TextHashes.polyHash(col("text")).as("native"),
        TextFns.polyHash(col("cs")).as("hof"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native minHashSig equals HOF minhash pipeline") {
    val df = texts.toDF("text")
      .withColumn("cs", TextFns.codes(col("text")))
      .withColumn("sh", TextFns.shingleHashesFromCodes(col("cs"), length(col("text")), 5))
      .select(
        TextHashes.minHashSig(col("text"), 5, 16).as("native"),
        TextFns.minHashFromShingles(col("sh"), 16).as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("native shingleSet equals array_distinct of the HOF shingle pipeline") {
    val df = texts.toDF("text")
      .withColumn("cs", TextFns.codes(col("text")))
      .withColumn("sh", TextFns.shingleHashesFromCodes(col("cs"), length(col("text")), 5))
      .select(
        TextHashes.shingleSet(col("text"), 5).as("native"),
        array_distinct(col("sh")).as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("native shingleHashes (rolling) equals the HOF positional shingle pipeline") {
    // the rolling O(1)-per-position update must agree with the direct
    // O(k) recurrence at every position, including the zero-padded
    // short-text case and k spanning the whole text
    for (k <- Seq(3, 5, 40)) {
      val df = texts.toDF("text")
        .withColumn("cs", TextFns.codes(col("text")))
        .withColumn("sh", TextFns.shingleHashesFromCodes(col("cs"), length(col("text")), k))
        .select(
          TextHashes.shingleHashes(col("text"), k).as("native"),
          col("sh").as("hof"))
      df.collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"k=$k")
      }
    }
  }

  test("native ngramHashes equals polyHash over the HOF word-ngram pipeline") {
    // edge cases: empty token array (one hash of the bare-separator
    // gram), fewer tokens than n (padded slots contribute only their
    // 0x01 separators), exactly n, more than n, multi-space runs
    // (empties dropped by tokens()). The compare explodes the HOF
    // grams so the native hash is checked against the CONCRETE gram
    // string — including its invisible 0x01 token separators,
    // which a hand-rolled "no separator" kernel would miss.
    for (n <- Seq(2, 3, 8)) {
      val rows = (texts :+ "").toDF("text")
        .withColumn("ts", TextFns.tokens(col("text")))
        .withColumn("native", TextHashes.ngramHashes(col("ts"), n))
        .withColumn("grams", TextFns.wordNgramsFromTokens(col("ts"), n))
        .select(col("native"), posexplode(col("grams")).as(Seq("pos", "g")))
        .select(
          element_at(col("native"), col("pos") + 1).as("nh"),
          TextHashes.polyHash(col("g")).as("hh"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"n=$n mismatch"))
    }
  }

  test("ngramHashes property: equals polyHash of separator-joined slots (200 random cases)") {
    // deterministic-seed randomized sweep over token counts 0..11,
    // token lengths 0..7 (empties included), n 1..9 — the kernel must
    // equal polyHash of the n slots joined with the 0x01 separator,
    // with out-of-range slots as ''
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val t = rnd.nextInt(12)
      val toks = Seq.fill(t)(rnd.alphanumeric.take(rnd.nextInt(8)).mkString)
      val n = 1 + rnd.nextInt(9)
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        toks.map(UTF8String.fromString).toArray[Any])
      val got = TextHashUtil.ngramHashes(arr, n)
      val m = math.max(t - n + 1, 1)
      assert(got.numElements() == m)
      (0 until m).foreach { i =>
        val gram = (0 until n)
          .map(o => if (i + o < t) toks(i + o) else "").mkString("\u0001")
        assert(got.getLong(i) ==
          TextHashUtil.polyHash(UTF8String.fromString(gram)),
          s"t=$t n=$n i=$i toks=$toks")
      }
    }
  }

  test("native winnowFp equals HOF window-min-of-shingles pipeline") {
    val w = 5
    val df = texts.toDF("text")
      .withColumn("cs", TextFns.codes(col("text")))
      .withColumn("hs", TextFns.shingleHashesFromCodes(col("cs"), length(col("text")), 7))
      .select(
        TextHashes.winnowFp(col("text"), 7, w).as("native"),
        array_distinct(transform(
          sequence(lit(1), greatest(size(col("hs")) - (w - 1), lit(1))),
          i => array_min(slice(col("hs"), i, lit(w))))).as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("winnowing guarantee: shared substring of length >= k+w-1 shares a fingerprint") {
    // two documents sharing an 11-char substring (k=7, w=5) must share
    // at least one selected fingerprint — the SIGMOD'03 theorem the
    // q_winnow_fp candidate generation relies on
    def fps(s: String): Set[Long] = {
      val a = TextHashUtil.winnowFp(UTF8String.fromString(s), 7, 5)
      (0 until a.numElements()).map(a.getLong).toSet
    }
    val shared = "abcdefghijk" // exactly k + w - 1 = 11 chars
    val d1 = s"xxxx $shared yyyy"
    val d2 = s"zz $shared qqqqqq"
    assert(fps(d1).intersect(fps(d2)).nonEmpty)
  }

  test("native charSqSum equals explode+groupBy sum(cnt*cnt) over codes") {
    val withEmpty = texts :+ "" :+ "aaaa"
    val hof = withEmpty.zipWithIndex.map(_.swap).toDF("id", "text")
      .select(col("id"), explode_outer(TextFns.codes(col("text"))).as("code"))
      .groupBy("id", "code").agg(count(lit(1)).as("cnt"))
      .groupBy("id").agg(sum(col("cnt") * col("cnt")).as("ss"))
    val native = withEmpty.zipWithIndex.map(_.swap).toDF("id", "text")
      .select(col("id"), TextHashes.charSqSum(col("text")).as("ss"))
    val h = hof.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = native.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(n == h)
    assert(n(withEmpty.length - 1) == 16L) // "aaaa": one code, cnt=4, ss=16
    assert(n(withEmpty.length - 2) == 1L)  // "": the zero-padded code
  }

  test("native charHist census equals explode+groupBy over codes") {
    val withEmpty = texts :+ "" :+ "aaaa"
    val hof = withEmpty.zipWithIndex.map(_.swap).toDF("id", "text")
      .select(col("id"), explode_outer(TextFns.codes(col("text"))).as("code"))
      .groupBy("id", "code").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val native = withEmpty.zipWithIndex.map(_.swap).toDF("id", "text")
      .select(col("id"), explode_outer(TextHashes.charHist(col("text"))).as("e"))
      .select(col("id"), shiftright(col("e"), 40).as("code"),
        col("e").bitwiseAND(lit((1L << 40) - 1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(native == hof)
    // "" contributes the one zero-padded code (parity with codes())
    assert(native((withEmpty.length - 2, 0L)) == 1L)
    assert(native((withEmpty.length - 1, 'a'.toLong)) == 4L)
  }

  test("native tokenBucketHist equals HOF tokenize+hash+pmod+groupBy census") {
    // the q_dsir_weights kernel contract: per-doc (bucket, tf) pairs
    // must equal the explode-and-aggregate form over the HOF token
    // hashes — same token walk, same polyHash, bucket = pmod(h, m)
    val m = 256
    val withEmpty = texts :+ "" :+ "Par PAR par  extra"
    val hof = withEmpty.zipWithIndex.map(_.swap).toDF("id", "text")
      .withColumn("ts", TextFns.tokens(col("text")))
      .withColumn("hs", TextFns.tokenHashesFromTokens(col("ts")))
      .select(col("id"), explode(col("hs")).as("h"))
      .groupBy(col("id"), pmod(col("h"), lit(m.toLong)).as("b"))
      .agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val native = withEmpty.zipWithIndex.map(_.swap).toDF("id", "text")
      .select(col("id"),
        explode(TextHashes.tokenBucketHist(col("text"), m)).as("pk"))
      .select(col("id"), shiftright(col("pk"), 40).as("b"),
        col("pk").bitwiseAND(lit((1L << 40) - 1)).as("tf"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(native == hof)
    // empty text: no tokens — empty census on both sides (explode
    // emits no row), and mixed-case tokens collapse (ASCII lowercase)
    assert(!native.keys.exists(_._1 == withEmpty.length - 2))
  }

  test("native tokenStats equals explode+groupBy token census") {
    // q_gopher_rules / qualityScore kernel contract: (n, letters,
    // stops, topc) per doc must equal the two-level aggregate over
    // exploded tokens
    val cases = texts :+ "" :+ "The THE the zz  zz" :+ "solo"
    val df = cases.zipWithIndex.map(_.swap).toDF("id", "text")
    val hof = df
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(col("id"), explode_outer(col("ts")).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy("id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("id")
      .agg(sum(col("cnt")).as("n"),
        sum(col("cnt") * length(col("tok")).cast("long")).as("letters"),
        sum(when(col("tok").isInCollection(TextFns.stopwords), col("cnt"))
          .otherwise(0L)).as("stops"),
        max(col("cnt")).as("topc"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val native = df
      .select(col("id"), TextHashes.tokenStats(col("text")).as("st"))
      .select(col("id"), col("st.n"), col("st.letters"), col("st.stops"),
        col("st.topc"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    cases.indices.foreach { i =>
      if (hof.contains(i)) assert(native(i) == hof(i), s"case $i")
      else assert(native(i) == ((0L, 0L, 0L, 0L)), s"empty case $i")
    }
    // "The THE the zz  zz": 5 tokens, lowercase collapse → topc = 3
    assert(native(cases.length - 2) == ((5L, 13L, 3L, 3L)))
  }

  test("native bigramStats equals wordNgrams+array_distinct census") {
    val cases = texts :+ "" :+ "solo" :+ "a b a b a"
    val df = cases.zipWithIndex.map(_.swap).toDF("id", "text")
    val hof = df
      .withColumn("ts", TextFns.tokens(col("text")))
      .withColumn("grams", TextFns.wordNgramsFromTokens(col("ts"), 2))
      .select(col("id"), size(col("grams")).cast("long").as("g"),
        size(array_distinct(col("grams"))).cast("long").as("d"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val native = df
      .select(col("id"), TextHashes.bigramStats(col("text")).as("bs"))
      .select(col("id"), col("bs.n_grams"), col("bs.n_distinct"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(native == hof)
    // "a b a b a": grams ab, ba, ab, ba → 4 total, 2 distinct
    assert(native(cases.length - 1) == ((4L, 2L)))
  }

  test("native simHash equals HOF simhash pipeline") {
    val df = texts.toDF("text")
      .withColumn("ts", TextFns.tokens(col("text")))
      .withColumn("hs", TextFns.tokenHashesFromTokens(col("ts")))
      .select(
        TextHashes.simHash(col("text"), 32).as("native"),
        TextFns.simHashFromHashes(col("hs"), 32).as("hof"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("near-duplicate texts agree on most minhash slots; unrelated do not") {
    def sig(s: String): Seq[Long] =
      (0 until 16).map(j => TextHashUtil.minHashSig(UTF8String.fromString(s), 5, 16)
        .getLong(j))
    val a = sig(texts(0)); val b = sig(texts(1)); val c = sig(texts(2))
    val ab = a.zip(b).count { case (x, y) => x == y }
    val ac = a.zip(c).count { case (x, y) => x == y }
    assert(ab >= 10, s"near-dup agreement only $ab/16")
    assert(ac <= 6, s"unrelated agreement $ac/16")
  }

  test("simhash hamming distance small for near-dups, large for unrelated") {
    def sh(s: String): Long = TextHashUtil.simHash(UTF8String.fromString(s), 32)
    def ham(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(ham(sh(texts(0)), sh(texts(1))) <= 8)
    assert(ham(sh(texts(0)), sh(texts(2))) >= 8)
  }

  test("jaccard of word 3-gram sets: identical=1, disjoint=0") {
    val df = Seq(
      ("a b c d e", "a b c d e"),
      ("a b c d e", "v w x y z"))
      .toDF("s1", "s2")
      .withColumn("t1", TextFns.tokens(col("s1")))
      .withColumn("t2", TextFns.tokens(col("s2")))
      .select(TextFns.jaccard(
        TextFns.wordNgramsFromTokens(col("t1"), 3),
        TextFns.wordNgramsFromTokens(col("t2"), 3)).as("j"))
    val got = df.collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 0.0))
  }

  test("tokens split on single spaces and drop empties") {
    val got = Seq("a b  c   d").toDF("text")
      .select(TextFns.tokens(col("text"))).collect().head.getSeq[String](0)
    assert(got == Seq("a", "b", "c", "d"))
  }

  test("round4 rounds half up on the binary value (0.31525 case)") {
    // 0.31525 as a double is 0.31524999…, so 4-digit rounding must
    // give 0.3152 (matching DuckDB), not String-based 0.3153.
    val got = Seq(0.31525, 0.125, 0.12345).toDF("x")
      .select(TextFns.round4(col("x"))).collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(0.3152, 0.125, 0.1235))
    // The same rule at each scale, on doubles just below a …5 tie:
    // 1.005·100 = 100.49999999999999, 0.0001245·1e6 = 124.49999999999999.
    def jvm(x: Double, s: Double): Long = math.floor(x * s + 0.5).toLong
    val r = Seq((1.005, 0.31525, 0.0001245)).toDF("c", "q", "m")
      .select(TextFns.units(col("c"), 100.0), TextFns.units(col("q"), 1e4),
        TextFns.units(col("m"), 1e6), TextFns.round6(col("m"))).head
    assert(Seq(r.getLong(0), r.getLong(1), r.getLong(2)) ==
      Seq(jvm(1.005, 100.0), jvm(0.31525, 1e4), jvm(0.0001245, 1e6)))
    assert(Seq(r.getLong(0), r.getLong(1), r.getLong(2)) == Seq(100L, 3152L, 124L))
    assert(r.getDouble(3) == jvm(0.0001245, 1e6) / 1e6 && r.getDouble(3) == 0.000124)
    // The SQL mirrors print the DECIMAL literals the oracles always
    // used (a 1.0E6 would be a DOUBLE and change DECIMAL arithmetic).
    assert(TextFns.duckRound6("x") == "(floor((x) * 1000000.0 + 0.5) / 1000000.0)")
    assert(TextFns.duckUnits("x", 100.0) == "floor((x) * 100.0 + 0.5)")
    assert(TextFns.duckUnits("x", 1e4) == "floor((x) * 10000.0 + 0.5)")
    assert(TextFns.duckUnits("x", 1e6) == "floor((x) * 1000000.0 + 0.5)")
  }

  test("native hash functions are SQL-callable after registration") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_poly_hash('abc') AS h, graft_simhash('a b c', 32) AS s, " +
        "size(graft_minhash('hello world', 5, 16)) AS m, " +
        "graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d, " +
        "size(graft_shingle_set('aaaaaa', 5)) AS ss, " +
        "graft_ngram_hashes(array('the', 'quick'), 2) AS ng, " +
        "graft_char_sq_sum('aaaa') AS cq").collect().head
    assert(r.getLong(0) == TextHashUtil.polyHash(UTF8String.fromString("abc")))
    assert(r.getLong(1) == TextHashUtil.simHash(UTF8String.fromString("a b c"), 32))
    assert(r.getInt(2) == 16)
    assert(r.getDouble(3) == 11.0)
    assert(r.getInt(4) == 1) // 'aaaaaa' has 2 positions, 1 distinct 5-gram
    assert(r.getSeq[Long](5) ==
      Seq(TextHashUtil.polyHash(UTF8String.fromString("the\u0001quick"))))
    assert(r.getLong(6) == 16L)
  }

  test("cdcChunks: boundaries re-synchronize after a prefix edit") {
    def chunks(s: String): Seq[Long] =
      TextHashUtil.cdcChunks(UTF8String.fromString(s), 5, 64)
        .toLongArray().toSeq
    val base = ("the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight ") * 6
    val edited = "COMPLETELY NEW PREFIX INSERTED HERE " + base
    val cb = chunks(base)
    val ce = chunks(edited)
    assert(cb.length > 3, s"fixture too short to have chunks: ${cb.length}")
    // content-defined boundaries realign: every base chunk except at
    // most the first (absorbed into the edited prefix chunk) reappears
    val shared = cb.toSet.intersect(ce.toSet)
    assert(shared.size >= cb.toSet.size - 1,
      s"resync failed: ${shared.size} of ${cb.toSet.size} chunks survived the edit")
    // a fixed-width blocker under the same edit shifts EVERY block:
    // offset 36 is not a multiple of 64, so no aligned block survives
    def fixed(s: String): Seq[Long] = s.getBytes("UTF-8").grouped(64).map { g =>
      g.foldLeft(0L)((a, b) => (a * 31 + (b & 0xffL)) % TextHashUtil.P)
    }.toSeq
    assert(fixed(base).toSet.intersect(fixed(edited).toSet).isEmpty)
    // empty-text contract shared with the oracle: one empty-fold chunk
    assert(chunks("") == Seq(0L))
    // chunks partition the text: refolding the concatenation is polyHash
    val whole = TextHashUtil.polyHash(UTF8String.fromString("tiny"))
    assert(chunks("tiny") == Seq(whole))
  }

  test("pyTitle matches Python str.title() semantics; agrees with initcap on plain words") {
    def title(s: String): String =
      TextHashUtil.pyTitle(UTF8String.fromString(s)).toString
    // the cases Python documents (and initcap gets differently):
    // any non-letter ends a cased run
    assert(title("men's") == "Men'S")
    assert(title("bin2go tx") == "Bin2Go Tx")
    assert(title("HELLO world") == "Hello World")
    assert(title("it's a o'clock-ish THING") == "It'S A O'Clock-Ish Thing")
    assert(title("") == "")
    assert(title("  x") == "  X")
    // on whitespace-separated pure-letter words the two rules agree —
    // pin it against Spark's own initcap across a corpus-shaped sample
    val rows = graft.schema.Tables.part(spark, sfTiny)
      .select(col("p_name"))
      .withColumn("t", graft.functions.TextHashes.pyTitle(col("p_name")))
      .withColumn("ic", initcap(col("p_name")))
      .filter(col("t") =!= col("ic"))
      .count()
    assert(rows == 0L, s"pyTitle and initcap diverged on $rows apostrophe-free names")
  }

  test("lexiconHits counts only exact token matches") {
    val got = Seq("the cat and the hat in a box").toDF("text")
      .select(TextFns.lexiconHits(col("text"), Seq("the", "a", "and", "of", "is")))
      .collect().head.getInt(0)
    assert(got == 4) // the, and, the, a
  }

  test("sortedIntersectCount equals size(array_intersect) on sorted distinct sets") {
    val df = texts.toDF("ta").crossJoin(texts.toDF("tb"))
      .withColumn("sa", array_sort(TextHashes.shingleSet(col("ta"), 5)))
      .withColumn("sb", array_sort(TextHashes.shingleSet(col("tb"), 5)))
      .select(
        TextHashes.sortedIntersectCount(col("sa"), col("sb")).as("native"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("builtin"))
    df.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
    }
  }

  test("posEqCount equals the zip_with positional-match fold") {
    val df = texts.toDF("ta").crossJoin(texts.toDF("tb"))
      .withColumn("sa", TextHashes.minHashSig(col("ta"), 5, 16))
      .withColumn("sb", TextHashes.minHashSig(col("tb"), 5, 16))
      .select(
        TextHashes.posEqCount(col("sa"), col("sb")).as("native"),
        aggregate(
          zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, lit(1L)).otherwise(lit(0L))),
          lit(0L), _ + _).as("hof"))
    df.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
    }
  }
}
