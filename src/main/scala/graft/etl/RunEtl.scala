package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** E1 — the end-to-end ETL orchestrator, the Spark re-expression of
  * the reference's top entry point `python app.py` (`app.py:6-28`):
  * probe connectivity, build the four dimensions, build the fact with
  * resolved surrogates, and report per-stage wall-clock + row counts
  * (the reference's `total_inserted` counters,
  * `ETL/user_ETL.py:119,139-143`).
  *
  * Differences from the reference are the snapshot-engine design
  * decisions documented in SURVEY.md §7.5: each stage is one lazy
  * DataFrame written as an immutable parquet snapshot (idempotent
  * re-run ≡ the reference's upsert convergence), and the fact snapshot
  * is partitioned by order month ([[Warehouse.writeFactByMonth]]) so
  * month-predicate queries prune directories at any scale.
  *
  * Row counts are taken from the WRITTEN snapshot (a metadata-cheap
  * parquet count), not from a second pipeline evaluation — counting
  * the unwritten DataFrame would re-run every join twice.
  */
object RunEtl {

  /** One stage of a pipeline run (also RunCurate's and RunIndex's). */
  final case class StageStat(stage: String, rows: Long, seconds: Double)

  /** Build the full warehouse snapshot under `outDir`. Returns
    * per-stage stats in execution order.
    */
  def buildWarehouse(spark: SparkSession, sfDir: String, outDir: String): Seq[StageStat] = {
    // S3 connectivity probe — the reference's `SELECT 1` (`app.py:8-9`)
    spark.sql("SELECT 1").collect()

    def stage(name: String, df: => DataFrame,
              write: DataFrame => String): StageStat = {
      val t0 = System.nanoTime()
      val path = write(df)
      val rows = spark.read.parquet(path).count()
      StageStat(name, rows, (System.nanoTime() - t0) / 1e9)
    }
    def plain(name: String)(df: => DataFrame): StageStat =
      stage(name, df, d => {
        val p = s"$outDir/$name"
        d.write.mode("overwrite").parquet(p)
        p
      })

    Seq(
      plain("dim_user")(StarSchema.userDim(spark, sfDir)),
      plain("dim_product")(StarSchema.productDim(spark, sfDir)),
      plain("dim_location")(StarSchema.locationDim(spark, sfDir)),
      plain("dim_date")(StarSchema.dateDim(spark, sfDir)),
      // the fact resolves against the dim SNAPSHOTS written above —
      // each dim pipeline runs once per build, and the fact stage's
      // wall-clock is the fact's own cost, not re-run dim work
      stage("fact_sales", StarSchema.factFromDims(spark, sfDir,
        spark.read.parquet(s"$outDir/dim_user"),
        spark.read.parquet(s"$outDir/dim_product"),
        spark.read.parquet(s"$outDir/dim_location"),
        spark.read.parquet(s"$outDir/dim_date")), d => {
        val p = s"$outDir/fact_sales"
        Warehouse.writeFactByMonth(d, p)
        p
      }))
  }

  /** `runMain graft.etl.RunEtl [sfDir] [outDir]` — builds the
    * warehouse and prints the reference-style per-stage report.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_warehouse"
    val spark = graft.GraftSession()
    val t0 = System.nanoTime()
    val stats = buildWarehouse(spark, sfDir, outDir)
    val total = (System.nanoTime() - t0) / 1e9
    stats.foreach { s =>
      println(f"[etl] ${s.stage}%-14s rows=${s.rows}%-8d ${s.seconds}%.2fs")
    }
    println(f"[etl] TOTAL          ${stats.map(_.rows).sum}%-8d $total%.2fs -> $outDir")
    spark.stop()
  }
}
