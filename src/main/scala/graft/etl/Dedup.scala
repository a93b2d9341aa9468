package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic key-based deduplication (SURVEY.md §2.4 D1-D5).
  *
  * The reference's `drop_duplicates(subset=key)` keeps the first row in
  * scan order (`ETL/user_ETL.py:58` et al.); Spark's `dropDuplicates`
  * keeps an *arbitrary* row, which would break oracle hash-parity. The
  * deterministic variant is a `row_number` over an explicit tiebreak
  * order — a single hash-partition shuffle on the dedup key, partial
  * aggregation on the map side is not applicable but the window runs
  * per-key so it scales with the key cardinality, not the data size.
  */
object Dedup {

  /** Keep exactly one row per key, chosen by the tiebreak order.
    * Deterministic at any scale and any partition count.
    */
  def firstWins(df: DataFrame, keys: Seq[String], tiebreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tiebreak: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // NOTE (round 18): a struct-MIN aggregate variant of firstWins
  // (the lastWins shape, mirrored) was measured against the window
  // form on the StarSchema paths and is a wash — min(struct) is not
  // hash-aggregable (struct buffer), so it plans as SortAggregate,
  // which sorts both sides of the exchange exactly like the window's
  // Sort + WindowGroupLimit pair. Don't re-attempt without a
  // fixed-width ordering key that keeps the aggregate in
  // HashAggregateExec.

  /** Last-writer-wins: one row per key, the one GREATEST in the
    * arrival order — the reference's cross-chunk upsert semantics
    * (`ETL/user_ETL.py:106-114`: later chunks' `ON CONFLICT DO
    * UPDATE` overwrite earlier ones), where [[firstWins]] is its
    * `drop_duplicates` ingest-side complement. Implemented as a
    * mergeable struct-MAX hash aggregate (ord columns lead the
    * struct, payload follows; partial maxes combine associatively on
    * the map side), NOT a per-key window: the window sort
    * materializes each key's rows on one task, the aggregate never
    * does — the mega-key-safe plan ([[graft.text.TextQueries]]
    * canonical-election precedent). `ord` must be a total order
    * (include a unique id last) or the winner is undefined.
    */
  def lastWins(df: DataFrame, keys: Seq[String], ord: Seq[Column],
               payload: Seq[String]): DataFrame = {
    val s = struct(
      ord.zipWithIndex.map { case (c, i) => c.as(s"__o$i") } ++
        payload.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max(s).as("__w"))
      .select(keys.map(col) ++ payload.map(p => col(s"__w.$p").as(p)): _*)
  }
}
