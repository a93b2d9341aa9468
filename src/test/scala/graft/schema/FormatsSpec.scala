package graft.schema

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Round-trip fidelity of the interchange formats against every
  * column type the testdata exercises: strings (with spaces),
  * longs, doubles, dates, and ns-origin timestamps. Parquet is the
  * canonical store; a format that cannot round-trip these exactly
  * must not sit at the warehouse edge.
  */
class FormatsSpec extends SparkSpec {

  /** Exact multiset equality: `exceptAll` in BOTH directions plus a
    * row-count check — a reader that drops, duplicates, shifts a
    * column boundary, or conflates a real null with the string
    * "null" fails (a Set-of-concatenated-strings compare catches
    * none of those: Sets collapse duplicate rows, separator-free
    * mkString lets ("ab","c") collide with ("a","bc")).
    */
  private def assertSame(back: DataFrame, df: DataFrame, msg: String): Unit = {
    assert(back.count() == df.count(), s"$msg: row count diverged")
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
      s"$msg: multiset diverged")
  }

  private def roundTrip(df: DataFrame, tag: String): Unit = {
    val base = java.nio.file.Files.createTempDirectory(s"fmt_$tag").toString
    val schema = df.schema
    Formats.writeCsv(df, s"$base/csv")
    Formats.writeJsonl(df, s"$base/jsonl")
    Formats.writeOrc(df, s"$base/orc")
    assertSame(Formats.readCsv(spark, s"$base/csv", schema), df,
      s"$tag: CSV round-trip")
    assertSame(Formats.readJsonl(spark, s"$base/jsonl", schema), df,
      s"$tag: JSONL round-trip")
    assertSame(Formats.readOrc(spark, s"$base/orc", schema), df,
      s"$tag: ORC round-trip")
  }

  test("documents round-trip CSV/JSONL/ORC exactly (text + longs)") {
    roundTrip(Tables.documents(spark, sfTiny), "documents")
  }

  test("lineitem round-trips exactly (doubles + dates)") {
    roundTrip(Tables.lineitem(spark, sfTiny), "lineitem")
  }

  test("events round-trip exactly (micro-precision timestamps + json strings)") {
    roundTrip(Tables.events(spark, sfTiny), "events")
  }

  test("eventTs gives both events.ts vintages the same TimestampType instants") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    // rounds ≤8 shipped ns-epoch parquet, read as a long: integer div
    // truncates the sub-µs digits (a double division would round)
    val nsLong = Seq(1704067200123456999L, 1704067200000000001L).toDF("ts")
    // timestamp[us] parquet arrives as TIMESTAMP_NTZ
    val ntz = Seq("2024-01-01 00:00:00.123456", "2024-01-01 00:00:00").toDF("s")
      .select(expr("CAST(s AS TIMESTAMP_NTZ)").as("ts"))
    for ((df, tag) <- Seq(nsLong -> "ns long", ntz -> "timestamp_ntz")) {
      val out = Tables.eventTs(df)
      assert(out.schema("ts").dataType == org.apache.spark.sql.types.TimestampType, tag)
      assert(out.select(unix_micros(col("ts"))).as[Long].collect().toSeq ==
        Seq(1704067200123456L, 1704067200000000L), tag)
    }
  }

  test("null round-trips as null, never as the sentinel string") {
    import spark.implicits._
    val df = Seq(("a", Option("x")), ("b", None), ("null", Option("null")))
      .toDF("k", "v")
    val base = java.nio.file.Files.createTempDirectory("fmt_nulls").toString
    Formats.writeCsv(df, s"$base/csv")
    val back = Formats.readCsv(spark, s"$base/csv", df.schema)
    assertSame(back, df, "nulls: CSV round-trip")
    // the written file must stay a plain text file — no control bytes
    val dir = new java.io.File(s"$base/csv")
    val part = dir.listFiles().find(_.getName.startsWith("part-")).get
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    assert(!bytes.exists(b => b >= 0 && b < 0x09),
      "CSV output contains control bytes — not a valid text interchange file")
  }
}
