package graft

/** Diagnostic main: where each query's time went, layer by layer, on
  * the bench's [[GraftSession]] config.
  *
  *   sbt "runMain graft.Profile /root/testdata/sf0.1 q_fact_build q_cc_refresh q_stream_outer"
  *
  * Runs each named query (every query when none is named) once warm and
  * once measured, and prints the measured run: job and stage counts,
  * wall seconds, busy seconds (the union of job intervals), the driver
  * gap (wall minus busy), the top-5 stages by summed task run time (the
  * stage name carries the operator's callsite) and, for stream queries,
  * every micro-batch's `durationMs` breakdown (triggerExecution,
  * queryPlanning, addBatch, walCommit, commitOffsets, ...).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession()
    val profile = new QueryProfile(spark)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def once() = profile.run(fn(spark, sfDir).write.mode("overwrite").format("noop").save())
      try {
        once() // warm
        val p = once()
        println(f"PROFILE $name%-24s jobs=${p.jobs}%4d stages=${p.stages}%4d " +
          f"wallSec=${p.wallSec}%7.2f busySec=${p.busySec}%7.2f gapSec=${p.gapSec}%7.2f")
        p.topStages(5).foreach { s =>
          println(f"  STAGE ${s.runMs / 1e3}%7.2fs tasks=${s.tasks}%4d  ${s.name.take(110)}")
        }
        p.batches.foreach { b =>
          val ms = b.durationMs.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
          println(s"  BATCH ${b.id} rows=${b.rows} $ms")
        }
      } catch { case e: Throwable =>
        println(s"PROFILE $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
