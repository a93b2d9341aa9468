package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-data-pipeline extension
  * (builder north star; no counterpart in the reference, whose only
  * string ops are trim/lower/title — `ETL/user_ETL.py:47-53`).
  * Algorithms follow the published formulations: MinHash resemblance
  * (Broder, "On the resemblance and containment of documents", 1997)
  * with banded LSH (Leskovec/Rajaraman/Ullman, MMDS ch.3), SimHash
  * (Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002), Rabin-Karp rolling hashes, and C4-style
  * quality heuristics (Raffel et al., 2020).
  *
  * Everything here is a pure per-row Column expression built from
  * Spark's higher-order array functions — no UDFs, no shuffles — so
  * it stays inside whole-stage codegen and scales linearly: at 100 TB
  * each task fingerprints its own partition independently and only
  * the (tiny) downstream dedup join shuffles.
  *
  * Hash parity contract: all hashes are polynomial-rolling hashes over
  * code points, mod P = 2^31-1, chosen (rather than xxhash64/murmur)
  * because the DuckDB oracle can evaluate the identical recurrence
  * with list_transform/list_reduce — the driver hash-compares results
  * bit-for-bit, so both engines must share hash semantics, not just
  * "a hash".
  */
object TextFns {

  /** Modulus for all polynomial hashes: 2^31-1 (Mersenne prime).
    * Keeps every intermediate < 2^36 so 64-bit arithmetic never
    * overflows in either engine (DuckDB raises on BIGINT overflow).
    */
  val P: Long = 2147483647L
  val B: Long = 31L

  /** Code-point array of a string column (ascii inputs in testdata).
    * Built positionally (sequence + substr) rather than split("") —
    * Java's split keeps a trailing empty string that would smuggle a
    * spurious 0 into the hash; the positional form is also exactly
    * what the oracle evaluates.
    */
  def codes(text: Column): Column =
    transform(sequence(lit(1), greatest(length(text), lit(1))),
      i => ascii(text.substr(i, lit(1))).cast("long"))

  /** Rolling polynomial hash of the whole code array:
    * fold(acc*B + c) mod P — the classic Rabin-Karp document
    * fingerprint.
    */
  def polyHash(codesCol: Column): Column =
    aggregate(codesCol, lit(0L), (acc, c) => (acc * B + c) % P)

  /** Hash of the k-gram starting at 1-based position i (closed form,
    * no inner fold, so the per-shingle cost is k multiplies).
    * Out-of-range positions contribute 0 (only possible on texts
    * shorter than k, which produce one padded shingle).
    *
    * `codesCol` MUST be a materialized column (a bound attribute, not
    * an inline expression): higher-order functions are interpreted,
    * not codegen'd, so an inlined `codes` expression would be
    * re-evaluated on every element access — O(len²·k) per row.
    * Callers stage it with `.withColumn("cs", codes(...))` first
    * (CollapseProject keeps multiply-referenced non-cheap aliases
    * staged).
    */
  def shingleHashAt(codesCol: Column, i: Column, k: Int): Column = {
    // try_element_at: ANSI mode (Spark 4 default) makes element_at
    // THROW on out-of-range instead of returning null; DuckDB's list
    // index returns NULL, which coalesce maps to 0 on both engines.
    def c(off: Int): Column =
      coalesce(try_element_at(codesCol, (i + lit(off)).cast("int")), lit(0L))
    (0 until k).foldLeft(lit(0L)) { (acc, off) => (acc * B + c(off)) % P }
  }

  /** All character k-gram hashes from a STAGED codes column + the
    * text length (one hash per start position).
    */
  def shingleHashesFromCodes(codesCol: Column, textLen: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(textLen - lit(k - 1), lit(1))),
      i => shingleHashAt(codesCol, i, k))

  /** j-th MinHash permutation constants — delegated to
    * [[graft.functions.TextHashUtil]], the single source of truth
    * shared by the native expressions and the DuckDB oracle
    * (TextQueries embeds these values as SQL literals).
    */
  def aj(j: Int): Long = graft.functions.TextHashUtil.aj(j)
  def bj(j: Int): Long = graft.functions.TextHashUtil.bj(j)

  /** MinHash signature from a STAGED shingle-hash column: for each of
    * `numHashes` permutations h_j(x) = (a_j*x + b_j) mod P, take the
    * min over all shingle hashes. Entirely per-row (array ops), no
    * shuffle.
    */
  def minHashFromShingles(shingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map { j =>
      array_min(transform(shingles, x => (x * aj(j) + bj(j)) % P))
    }: _*)

  /** LSH band keys: split the signature into bands of `rowsPerBand`
    * and key each band as "bandIdx:v1,v2,...". Docs sharing any band
    * key are near-dup candidates (standard MinHash-LSH banding).
    */
  def lshBandKeys(signature: Column, rowsPerBand: Int, numBands: Int): Column =
    array((0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map { r =>
        element_at(signature, b * rowsPerBand + r + 1).cast("string")
      }
      concat_ws(",", (lit(s"$b:") +: parts): _*)
    }: _*)

  /** Packed LSH band keys — BIJECTIVE with [[lshBandKeys]]: the band
    * index plus the band's signature rows packed pairwise as
    * v₁·P + v₂ (values < P, so each pack < P² < 2^62 — exactly
    * invertible, zero collision risk), grouped and joined as
    * fixed-width integers instead of ~40-byte concat_ws strings.
    * Same buckets, same downstream output; the band-grain shuffle
    * carries 8-byte longs and hashes/compares integers (guide §2.3
    * "narrower types"). Only used as an internal group/join key —
    * the oracle keeps the string form, which denotes the same
    * partition of docs.
    */
  def lshBandPacked(signature: Column, rowsPerBand: Int, numBands: Int): Column = {
    require(rowsPerBand % 2 == 0, s"rowsPerBand must be even: $rowsPerBand")
    array((0 until numBands).map { b =>
      val packs = (0 until rowsPerBand by 2).map { r =>
        (element_at(signature, b * rowsPerBand + r + 1) * P +
          element_at(signature, b * rowsPerBand + r + 2)).as(s"p${r / 2}")
      }
      struct((lit(b).as("b") +: packs): _*)
    }: _*)
  }

  /** Space-delimited tokens (lowercased, empties dropped). Plain ' '
    * split, not \s+, so the oracle's string_split matches exactly.
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), " "), t => length(t) > 0)

  /** Per-token polynomial hashes from a STAGED tokens column (the
    * inner `codes` is per-token, bounded by token length — cheap).
    */
  def tokenHashesFromTokens(tokensCol: Column): Column =
    transform(tokensCol, t => polyHash(codes(t)))

  /** `bits`-bit SimHash from a STAGED token-hash column: bit j is set
    * iff more token hashes have bit j set than clear. Division by 2^j
    * (not shiftright) because the lambda bit-index is a column and
    * both engines evaluate `floor(h / 2^j) % 2` identically.
    */
  def simHashFromHashes(hashes: Column, bits: Int): Column = {
    val bitCols = (0 until bits).map { j =>
      val pow = lit(1L << j)
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + ((h / pow).cast("long") % 2L) * 2L - 1L)
      when(votes > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Hamming distance between two simhash values (as longs). */
  def hammingDist(a: Column, b: Column, bits: Int): Column = {
    val x = a.bitwiseXOR(b)
    (0 until bits).map { j =>
      ((x / lit(1L << j)).cast("long") % 2L)
    }.reduce(_ + _)
  }

  /** Word n-gram array (join tokens with the 0x01 byte so grams compare as
    * single strings).
    */
  def wordNgramsFromTokens(ts: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(size(ts) - lit(n - 1), lit(1))),
      i => concat_ws("\u0001", (0 until n).map(o =>
        coalesce(try_element_at(ts, (i + lit(o)).cast("int")), lit(""))): _*))

  /** Exact Jaccard similarity of two string-array columns (set
    * semantics via array_distinct; intersection/union by size).
    */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    val union = (size(da) + size(db)).cast("double") - inter
    when(union === 0, lit(1.0)).otherwise(inter / union)
  }

  /** English-ish stopword list used by the quality score + stats.
    * Fixed and mirrored in the oracle SQL; the canonical list lives in
    * TextHashUtil (single source of truth — the native tokenStats
    * kernel matches against the same instance).
    */
  val stopwords: Seq[String] = graft.functions.TextHashUtil.stopwords

  /** Marker lexicons for the n-gram/lexicon language-ID heuristic. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("de", "shi", "le", "zai", "he"))

  /** Count of tokens present in a fixed lexicon, over a STAGED tokens
    * column — callers scoring several lexicons must tokenize once and
    * reuse (HOFs are interpreted; an inlined `tokens(text)` here would
    * re-split the text per lexicon per row).
    */
  def lexiconHitsFromTokens(ts: Column, lexicon: Seq[String]): Column =
    size(filter(ts, t => t.isInCollection(lexicon)))

  /** Single-lexicon convenience over raw text. */
  def lexiconHits(text: Column, lexicon: Seq[String]): Column =
    lexiconHitsFromTokens(tokens(text), lexicon)

  /** Quality score in [0,1]: weighted mix of length band, punctuation
    * ratio, stopword ratio, and mean token length — the standard
    * cheap pre-filter for LLM training corpora (C4-style heuristics).
    * Weights/formula mirrored exactly in the oracle SQL. `ts` is the
    * staged tokens column (referenced 3×, see shingleHashAt note).
    */
  def qualityScore(text: Column, ts: Column): Column = {
    // guard: ANSI mode throws on /0 for empty text (DuckDB would give
    // inf) — both sides divide by max(len, 1)
    // Token statistics come from the native graft_token_stats kernel
    // (one codegen'd byte walk) instead of the interpreted
    // size/filter/aggregate HOF trio over the staged `ts` — same
    // values (token count, stopword instance hits, Σ token length;
    // byte ≡ char length on the ASCII corpus), at one virtual call
    // per row. `ts` stays in the signature: several callers stage it
    // for OTHER columns, and the staging contract is theirs.
    val st = graft.functions.TextHashes.tokenStats(text)
    val nChars = greatest(length(text), lit(1)).cast("double")
    val nTok = greatest(st.getField("n"), lit(1L)).cast("double")
    val punct = (nChars - length(regexp_replace(text, "[.!?,;:]", ""))).cast("double")
    val stopHits = st.getField("stops").cast("double")
    val meanTokLen = st.getField("letters").cast("double") / nTok
    val lenScore = least(nChars / lit(400.0), lit(1.0))
    val punctScore = least(punct / nChars * 20.0, lit(1.0))
    val stopScore = least(stopHits / nTok * 4.0, lit(1.0))
    val tokLenScore = least(meanTokLen / lit(8.0), lit(1.0))
    lenScore * 0.3 + punctScore * 0.2 + stopScore * 0.3 + tokLenScore * 0.2
  }

  /** Repeated-gram fraction over a STAGED gram array (the Gopher
    * repetition signal shared by q_repetition and RunCurate's gate):
    * 1 − distinct/total, round4 for cross-engine parity.
    */
  def repetitionRatio(grams: Column): Column =
    round4(lit(1.0) -
      size(array_distinct(grams)).cast("double") / size(grams).cast("double"))

  /** BPE-ish tokenizer regex: letter runs, single digits, or
    * punctuation runs — the GPT-2-style pre-tokenization shape,
    * restricted to a regex subset Java and RE2 treat identically.
    */
  val bpeTokenRegex: String = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]+"

  /** The cross-engine parity rounding, in integer units of 1/scale:
    * floor(x*scale + 0.5) (cents at 100.0, micro-units at 1e6).
    * Spark's `round` on doubles goes through the decimal STRING
    * (BigDecimal.valueOf → HALF_UP) while DuckDB rounds the binary
    * value, so a value whose nearest double sits just below a …5
    * boundary (e.g. 0.31525 → 0.31524999…) rounds differently. This
    * form evaluates identical IEEE ops on both engines. For negative
    * inputs it rounds halves toward +inf (not away from zero) — fine
    * for parity, since both engines evaluate the same formula; callers
    * who need away-from-zero semantics for display should not feed
    * negatives. Callers cast the result (`long`, `decimal(28,0)`) for
    * order-independent exact sums.
    */
  def units(c: Column, scale: Double): Column = floor(c * scale + 0.5)

  /** The DuckDB/SQL mirror of [[units]]. The scale prints as a plain
    * decimal literal (`1000000.0`, never `1.0E6`): both engines type
    * that as DECIMAL, which keeps DECIMAL operands exact.
    */
  def duckUnits(e: String, scale: Double): String =
    s"floor(($e) * ${java.math.BigDecimal.valueOf(scale).setScale(1).toPlainString} + 0.5)"

  /** Explicit 4-decimal rounding: floor(x*1e4 + 0.5)/1e4 ([[units]]),
    * mirrored verbatim in the oracle by [[duckRound4]].
    */
  def round4(c: Column): Column = units(c, 10000.0) / 10000.0

  /** The DuckDB mirror of [[round4]]. */
  def duckRound4(e: String): String = s"(${duckUnits(e, 10000.0)} / 10000.0)"

  /** 6-decimal form of [[round4]]: floor(x*1e6 + 0.5)/1e6. */
  def round6(c: Column): Column = units(c, 1000000.0) / 1000000.0

  /** The DuckDB mirror of [[round6]]. */
  def duckRound6(e: String): String = s"(${duckUnits(e, 1000000.0)} / 1000000.0)"
}
