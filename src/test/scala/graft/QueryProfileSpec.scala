package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.streaming.StreamingQueryListener

class QueryProfileSpec extends SparkSpec {
  import QueryProfile.unionMs

  test("unionMs: disjoint intervals add up") {
    assert(unionMs(Seq((0L, 10L), (20L, 30L))) == 20L)
    assert(unionMs(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(unionMs(Nil) == 0L)
  }

  test("unionMs: a nested interval counts once") {
    assert(unionMs(Seq((0L, 100L), (10L, 20L))) == 100L)
    assert(unionMs(Seq((10L, 20L), (0L, 100L), (30L, 40L))) == 100L)
  }

  test("unionMs: overlapping intervals count their overlap once") {
    assert(unionMs(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(unionMs(Seq((0L, 10L), (10L, 20L), (15L, 25L), (40L, 41L))) == 26L)
  }

  private def withProfile[T](f: QueryProfile => T): T = {
    val profile = new QueryProfile(spark)
    try f(profile) finally profile.close()
  }

  test("jobs on overlapping Futures: exact job count, busy time within wall time") {
    val sc = spark.sparkContext
    val p = withProfile(_.run {
      val jobs = Seq.fill(2)(Future {
        sc.parallelize(Seq(1), 1).map { x => Thread.sleep(400); x }.count()
      })
      jobs.foreach(Await.result(_, 60.seconds))
    })
    assert(p.jobs == 2)
    assert(p.stages == 2)
    assert(p.busySec >= 0.4)
    // event times are whole milliseconds
    assert(p.busySec <= p.wallSec + 0.001, s"busy ${p.busySec} > wall ${p.wallSec}")
  }

  test("a stream query's batch count equals the progress events seen after a drain") {
    val progress = new AtomicInteger
    val witness = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.incrementAndGet(); ()
      }
    }
    spark.streams.addListener(witness)
    try {
      val fn = SparkEntry.queries("q_stream_dedup")
      val p = withProfile(_.run(fn(spark, sfTiny).write.format("noop").mode("overwrite").save()))
      QueryProfile.drain(spark)
      assert(p.batches.nonEmpty)
      assert(p.batches.size == progress.get)
      assert(p.batches.forall(_.durationMs.contains("triggerExecution")))
    } finally spark.streams.removeListener(witness)
  }

  test("endQuery deletes the query's Scratch dirs and keeps the stage cache") {
    import java.nio.file.Files
    val sfDir = Files.createTempDirectory("graft_qp_sf")
    val scratch = graft.util.Scratch.dir("graft_qp_spec")
    Files.writeString(scratch.resolve("out"), "x")
    val cached = graft.stream.StageCache.cachedIn("qp_spec", sfDir.toString) { (_, in) =>
      Files.writeString(in.resolve("f"), "x"); ()
    }
    try {
      QueryProfile.endQuery(spark)
      assert(!Files.exists(scratch))
      assert(Files.exists(cached.resolve("f")))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(cached.getParent.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(sfDir.toFile)
    }
  }
}
