package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b restricts dump AND oracle manifest — a
    // local iteration aid (tools/check.py then checks just the subset);
    // the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally QueryProfile.endQuery(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(o => selected(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Environment attribution (round-12 verdict #7): the r11/r12
    // q_calibration flips were environment-only (a fresh DuckDB 1.0.0
    // re-check matched value-for-value while the driver's compare
    // disagreed), and nothing in the shipped artifact said which
    // oracle engine version the SQL was authored against. Record the
    // contract in a SEPARATE file so the driver's oracle_sql.json
    // parse (key = query, value = SQL) is untouched.
    Files.writeString(Paths.get(s"$outDir/oracle_env.json"),
      s"""{"oracle_requires":"duckdb>=1.0.0",
         |"authored_against":"duckdb 1.0.0 (tools/check.py records the adjudicating versions in oracle_versions.json)",
         |"spark":"${spark.version}",
         |"note":"hash compare sorts columns by name; doubles are round4/round6 per CLAUDE.md parity rules"}"""
        .stripMargin.replace("\n", " "))
    spark.stop()
  }
}
