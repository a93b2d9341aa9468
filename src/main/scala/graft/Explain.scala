package graft
/** Plan-audit main: prints the formatted physical plan of each named
  * query (or all with no args) at the given sf dir, planned on the
  * bench's [[GraftSession]] config. Used to check the scale-critical
  * plan properties: parquet filter/column pushdown (PushedFilters /
  * ReadSchema), broadcast vs sort-merge join choice, and
  * whole-stage-codegen coverage.
  *
  *   sbt "runMain graft.Explain /root/testdata/sf0.001 q_fact_build ..."
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession()
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
