package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Schema-on-read over parquet is the Spark-native equivalent of the
  * reference's runtime reflection (`MetaData().reflect`,
  * reference `ETL/user_ETL.py:63-69` — SURVEY.md §2.1 S4): the parquet
  * footer carries the schema, Catalyst prunes columns at the scan, and
  * filters are pushed into the reader. At 100 TB the same call reads a
  * partitioned/bucketed table directory; nothing here changes.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** The events table as stored, read under the legacy flag that turns
    * nanosecond parquet timestamps into longs (Spark's vectorized
    * reader rejects them otherwise); [[eventTs]] normalizes its `ts`.
    * Stream queries take their file-source schema from this frame.
    */
  def eventsRaw(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    apply(s, d, "events")
  }
  def events(s: SparkSession, d: String): DataFrame = eventTs(eventsRaw(s, d))

  /** `events.ts` normalization is SCHEMA-ADAPTIVE — the driver has
    * shipped this column two ways across rounds:
    *  - nanosecond parquet timestamp (rounds ≤8), read as a long by
    *    [[eventsRaw]]: truncate to a micros timestamp with INTEGER
    *    division (`div`) — `/` would promote the ~1.7e18 epoch-nano
    *    long to double, whose 53-bit mantissa rounds off-by-1µs —
    *    matching DuckDB's truncating `CAST(ts AS TIMESTAMP)`;
    *  - plain `timestamp[us]` (round-9 regeneration), which arrives
    *    as TIMESTAMP_NTZ: cast to session-TZ TimestampType (every
    *    entry point pins UTC, so the instant is unchanged) to keep
    *    the downstream column type identical across both vintages.
    * Works on batch and streaming frames alike.
    */
  def eventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
