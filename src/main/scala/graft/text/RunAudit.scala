package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus AUDIT orchestrator — the read-only companion of
  * [[RunCurate]] (which mutates the corpus) and [[graft.etl.RunEtl]]
  * (which builds the warehouse): one command runs the full
  * data-quality battery over a snapshot and writes a report
  * directory, one parquet per audit plus a one-row-per-audit summary.
  * This is what a 100 TB deployment schedules nightly: every audit
  * here is a bounded-output aggregate (counts, rates, χ², confusion
  * cells — never row lists), so the report stays KB-sized no matter
  * the corpus.
  *
  * Every audit is the SAME oracle-verified kernel as its declared
  * query — the report cannot drift from what the driver verifies:
  *   - warehouse constraints   — `q_constraint_audit`
  *   - quality-rule screens    — `q_gopher_rules`
  *   - segment-dedup retention — `q_segment_dedup`
  *   - source novelty          — `q_novelty`
  *   - language-mix skew       — `q_source_skew`
  *   - cross-source overlap    — `q_source_overlap`
  *   - label-prop confusion    — `q_label_prop`
  *   - embedding drift         — `q_centroid_drift`
  *
  * The summary flattens each audit to (audit, rows, alert) where
  * `alert` is the audit's own headline number (violations, failure
  * count, worst skew...) so an operator reads ONE 8-row table before
  * deciding to open any detail file.
  */
object RunAudit {

  final case class AuditStat(audit: String, rows: Long, alert: Double, seconds: Double)

  /** Run the battery; returns per-audit stats in order. */
  def audit(spark: SparkSession, sfDir: String, outDir: String): Seq[AuditStat] = {
    def run(name: String, alertOf: DataFrame => Double)(df: => DataFrame): AuditStat = {
      val t0 = System.nanoTime()
      val path = s"$outDir/$name"
      df.write.mode("overwrite").parquet(path)
      val back = spark.read.parquet(path)
      val stat = AuditStat(name, back.count(), alertOf(back),
        (System.nanoTime() - t0) / 1e9)
      stat
    }
    def sumCol(c: String)(df: DataFrame): Double =
      df.agg(coalesce(sum(col(c)), lit(0L))).collect()(0).getLong(0).toDouble
    def maxCol(c: String)(df: DataFrame): Double =
      df.agg(coalesce(max(col(c)), lit(0.0))).collect()(0).getDouble(0)

    val stats = Seq(
      run("constraints", sumCol("n_violations")) {
        graft.etl.EtlQueries.constraintAudit(spark, sfDir)
      },
      run("gopher_rules", df => sumCol("n_docs")(df) - sumCol("n_pass")(df)) {
        DocOps.gopherRules(spark, sfDir)
      },
      run("segment_dedup", df =>
          sumCol("n_segments")(df) - sumCol("n_kept")(df)) {
        DocOps.segmentDedup(spark, sfDir)
      },
      run("novelty", df => sumCol("n_grams")(df) - sumCol("n_novel")(df)) {
        DocOps.novelty(spark, sfDir)
      },
      run("source_skew", maxCol("chi2")) {
        DocOps.sourceSkew(spark, sfDir)
      },
      run("source_overlap", sumCol("n_inter")) {
        CorpusOps.sourceOverlap(spark, sfDir)
      },
      run("label_prop", df =>
          sumCol("n_docs")(df.filter(col("lang") =!= col("new_label")))) {
        TextQueries.labelProp(spark, sfDir)
      },
      run("centroid_drift", df => maxCol("drift_cos")(df)) {
        graft.vector.Projection.centroidDrift(spark, sfDir)
      },
      // round-9 continuation additions — same kernel-reuse rule
      run("kanon", sumCol("rows_at_risk")) {
        TextAnalytics.kanon(spark, sfDir)
      },
      run("cramers_v", maxCol("cramers_v")) {
        DocOps.cramersV(spark, sfDir)
      },
      run("vocab_drift", df => sumCol("n_born")(df) + sumCol("n_died")(df)) {
        GrowthOps.vocabDrift(spark, sfDir)
      },
      run("dup_rate", sumCol("n_dupes")) {
        TextQueries.dupRate(spark, sfDir)
      },
      run("centroid_outliers", sumCol("n_outliers")) {
        graft.vector.Projection.centroidOutliers(spark, sfDir)
      })

    val spark2 = spark
    import spark2.implicits._
    stats.toDF().write.mode("overwrite").parquet(s"$outDir/_summary")
    stats
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_audit"
    val spark = graft.GraftSession()
    try {
      val stats = audit(spark, sfDir, outDir)
      stats.foreach(s =>
        println(f"[audit] ${s.audit}%-16s rows=${s.rows}%6d alert=${s.alert}%12.2f ${s.seconds}%6.2fs"))
    } finally spark.stop()
  }
}
