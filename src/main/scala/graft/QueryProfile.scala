package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one profiling listener (Spark jobs, stages and tasks plus
  * streaming progress), attached to `spark` on construction. [[run]]
  * executes one query and returns what the listener bus reported for
  * it. Wall-clock alone cannot show whether a change removed driver
  * round trips (adjacent runs drift ±20-40%); job and stage COUNTS are
  * deterministic for a fixed plan and fixture, and the driver gap
  * (wall minus the union of job intervals) is time spent outside any
  * job: planning, micro-batch commits, driver-side loops.
  */
final class QueryProfile(spark: SparkSession) extends SparkListener with AutoCloseable {
  import QueryProfile._

  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stages = new ConcurrentLinkedQueue[StageRun]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  private val shuffleBytes = new AtomicLong
  private val spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, e.time); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(s => jobSpans.add((s.longValue, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stages.add(StageRun(si.name.linesIterator.nextOption().getOrElse(""),
      Option(si.taskMetrics).fold(0L)(_.executorRunTime), si.numTasks)); ()
  }
  // Per-query shuffle/spill volume is the scale signal timings can't
  // give: a query can be fast at sf0.1 while shuffling its whole input.
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
    }

  private object streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(Batch(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)); ()
    }
  }

  spark.sparkContext.addSparkListener(this)
  spark.streams.addListener(streams)

  /** Runs `body` as one query: drains the bus and clears the counters,
    * times `body`, then runs [[endQuery]] (outside the timed window,
    * also when `body` throws) so the returned numbers hold every event
    * of the query and none of the next one's.
    */
  def run(body: => Unit): Stats = {
    drain(spark)
    jobStarts.clear(); jobSpans.clear(); stages.clear(); batches.clear()
    shuffleBytes.set(0); spillBytes.set(0)
    val t0 = System.nanoTime()
    val wallSec = try { body; (System.nanoTime() - t0) / 1e9 } finally endQuery(spark)
    val spans = jobSpans.asScala.toSeq
    Stats(wallSec, spans.size, unionMs(spans) / 1e3, stages.asScala.toSeq,
      shuffleBytes.get, spillBytes.get, batches.asScala.toSeq.sortBy(_.id))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streams)
  }
}

object QueryProfile {
  final case class StageRun(name: String, runMs: Long, tasks: Int)
  final case class Batch(id: Long, rows: Long, durationMs: Map[String, Long])

  /** One query as the listener bus saw it. `busySec` is the union of
    * the job intervals, so jobs overlapping on Futures count once and
    * `gapSec` is the wall time outside every job. Event times are whole
    * milliseconds, so `busySec` can exceed `wallSec` by up to 1 ms.
    */
  final case class Stats(wallSec: Double, jobs: Int, busySec: Double,
                         stageRuns: Seq[StageRun], shuffleBytes: Long,
                         spillBytes: Long, batches: Seq[Batch]) {
    def stages: Int = stageRuns.size
    def gapSec: Double = wallSec - busySec
    def topStages(n: Int): Seq[StageRun] = stageRuns.sortBy(-_.runMs).take(n)
  }

  /** Total length of the union of `[start, end]` intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Long =
    spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((total, reach), (s, e)) =>
      (total + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
    }._1

  /** Best-effort bus flush: waitUntilEmpty THROWS after 10 s if the
    * dispatch thread is starved (exactly the contention regime the
    * bench's min-of-runs reporting exists for) — a drain failure must
    * never turn a successfully run query into an error, only leave that
    * run's counts approximate.
    */
  def drain(spark: SparkSession): Unit =
    try org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
    catch { case _: Throwable => () }

  /** The end-of-query step of every main: flush the listener bus, then
    * free per-query resident state — persisted RDDs and the directories
    * [[graft.util.Scratch.dir]] made. The closure/PageRank queries leave
    * their final localCheckpoint blocks persisted (one small RDD per
    * invocation, reclaimed only on GC) — across 97 queries × 4 runs the
    * accumulation degraded the late-alphabet queries ~10× (q_transitions
    * 0.8 s isolated vs 11.6 s in-suite). No declared query shares
    * persisted state across invocations, so a blanket unpersist is safe.
    */
  def endQuery(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    graft.util.Scratch.deleteAll()
  }
}
