package graft

import org.apache.spark.sql.SparkSession

/** The one session every main runs on (Bench, Verify, Explain, Profile,
  * Upscale, RunEtl, RunCurate, RunAudit), so a plan inspected or
  * profiled by hand is planned under the config the bench times.
  */
object GraftSession {
  /** Local cores, for both the master and the shuffle partitions:
    * `SPARK_GRAFT_CPUS` when set, else every available processor.
    */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // The fixtures are SINGLE parquet files (driver layout contract);
      // at the default 128 MB maxPartitionBytes the 10× upscale tables
      // (lineitem 113 MB) scan as ONE task and every downstream stage
      // drains a single-threaded producer — the round-10 "superlinear"
      // q_fact_build was mostly this. 16 MB ≈ sized so the upscale
      // tables get tens of scan tasks; on a real cluster the same knob
      // is tuned to executor-core count vs file sizes.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
