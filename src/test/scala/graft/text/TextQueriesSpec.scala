package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic checks for the text queries that have oracles but no unit
  * pins: quality-score components, token accounting, normalization.
  */
class TextQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("qualityScore rewards length, stopwords, punctuation within [0,1]") {
    val texts = Seq(
      "the cat is on the mat. it sits with a hat, and naps in the sun. " * 8, // long, stopwordy, punctuated
      "zzz qqq xxx", // short, no stopwords, no punctuation
      "")
    val got = texts.toDF("text")
      .withColumn("ts", TextFns.tokens(col("text")))
      .select(TextFns.qualityScore(col("text"), col("ts")).as("q"))
      .collect().map(_.getDouble(0))
    assert(got.forall(q => q >= 0.0 && q <= 1.0))
    assert(got(0) > got(1), s"rich text ${got(0)} should outscore junk ${got(1)}")
  }

  test("BPE-ish regex splits letter runs, digits, punctuation runs") {
    val got = Seq("hello world42!! x").toDF("text")
      .select(expr(s"regexp_extract_all(text, '${TextFns.bpeTokenRegex}', 0)"))
      .collect().head.getSeq[String](0)
    assert(got == Seq("hello", "world", "4", "2", "!!", "x"))
  }

  test("exact-dedup normalization collapses case/punct/whitespace variants") {
    val df = Seq("Hello,  World!", "hello world", "hello  WORLD.")
      .toDF("text")
      .select(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("n"))
    assert(df.distinct().count() == 1)
  }

  test("leakageSplit assigns every near-dup cluster to exactly one split") {
    val sf = "/root/testdata/sf0.01"
    val docs = graft.schema.Tables.documents(spark, sf)
    // replay the query's own assignment at doc grain and check the
    // contract the aggregate output can't show: no component straddles
    // two splits, and the per-doc assignment is exhaustive
    val assigned = docs.select(col("doc_id"))
      .join(TextQueries.docComponents(docs), "doc_id")
      .withColumn("b", pmod(graft.functions.TextHashes.polyHash(
        col("component").cast("string")), lit(10L)))
      .withColumn("split",
        when(col("b") < 8, "train").when(col("b") === 8, "val")
          .otherwise("test"))
    assert(assigned.count() == docs.count(), "split must cover every doc")
    val straddlers = assigned.groupBy("component")
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(straddlers == 0, s"$straddlers clusters span multiple splits")
    // and the headline query exposes all three splits, non-vacuously
    val splits = TextQueries.leakageSplit(spark, sf)
      .collect().map(_.getString(0)).toSet
    assert(splits == Set("train", "val", "test"))
  }

  test("minhashCluster groups exact duplicates into one cluster") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely unrelated content about query engines and columnar io"))
      .toDF("doc_id", "text")
      .withColumn("sig", graft.functions.TextHashes.minHashSig(col("text"), 5, 16))
      .select(col("doc_id"),
        explode(TextFns.lshBandKeys(col("sig"), 4, 4)).as("band"))
    val reps = docs.groupBy("band").agg(min("doc_id").as("rep"))
    val clusters = docs.join(reps, "band")
      .groupBy("doc_id").agg(min("rep").as("cluster_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) == clusters(2L)) // identical docs share a cluster
    assert(clusters(3L) != clusters(1L)) // unrelated doc stays apart
  }
}
