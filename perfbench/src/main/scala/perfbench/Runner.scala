package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.etl.RunEtl

/** JVM side of the benchmark: one process, one closed-loop client.
  *
  * An op is one call of a public entry point, timed from outside:
  * either a `SparkEntry.queries` function followed by a `noop` write
  * (as `graft.Bench` times it), or one `RunEtl.buildWarehouse`.
  *
  * Phases of a run, in order:
  *  1. warm-up: the workload's warm passes over every distinct op,
  *     untimed; in the first, query results are written as parquet
  *     (and the ETL warehouse kept) for the oracle check that run.py
  *     makes after the process exits;
  *  2. the measured window: whole rounds of the op set, each round in
  *     an order drawn from `--seed`, until `--seconds` are used, and at
  *     least the workload's minimum, so that every run's statistics
  *     cover the same multiset of ops however fast the machine is;
  *  3. with `--trace 1` the window instead takes half the seconds (at
  *     least one round); then listeners are registered and the same op
  *     sequence is replayed for the other half as the traced window, so
  *     run.py can report tracing overhead against the untraced one.
  *
  * Everything is kept in memory and written to `--out` at the end as
  * JSON lines; run.py derives every metric from those files.
  */
object Runner {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val EtlOp = "buildWarehouse"

  /** driver_mix: three driver-paced iterative queries (a connected-
    * components fixpoint, k-core peeling and PageRank, whose rounds run
    * inside the query function) and three micro-batch stream queries.
    * Their cost is per round and per batch, not per row. */
  val iterative: Seq[String] = Seq("q_cc_clusters", "q_kcore", "q_pagerank")
  val streams: Seq[String] = Seq("q_stream_dedup", "q_stream_enrich", "q_stream_topk")

  /** A workload's ops (every op reads the sf0.01 fixture), its warm-up
    * passes and the fewest whole rounds its untraced window may hold. */
  final case class Workload(ops: Seq[String], warmPasses: Int, minRounds: Int)

  /** One build leaves the JIT far from steady: on 4 cores the builds
    * after it fell from 6.7 s to 5.5 s over eight more, so etl_build
    * warms with three and times at least four. driver_mix is warm
    * after one pass and times at least three rounds: its rounds take
    * 7-10 s, so a time-bound window of two or three would hold
    * different op mixes from run to run. */
  val workloads: Map[String, Workload] = Map(
    "etl_build" -> Workload(Seq(EtlOp), warmPasses = 3, minRounds = 4),
    "driver_mix" -> Workload(iterative ++ streams, warmPasses = 1, minRounds = 3))

  final case class OpRec(idx: Int, phase: String, name: String, round: Int,
                         start: Double, built: Double, end: Double,
                         error: Option[String], leakedRdds: Int, leakedBytes: Long,
                         etl: Seq[RunEtl.StageStat], files: Int, bytes: Long)

  /** Listener state of the traced window; every event is tagged with the
    * op that was running when the bus delivered it (the bus is drained
    * after each op, so an op's events never reach the next op). */
  final class Tracer extends SparkListener {
    val currentOp = new AtomicInteger(-1)
    final class StageAcc { var tasks = 0L; var cpuNs = 0L; var shuffleW = 0L
                           var spill = 0L; var input = 0L; var submit = 0L
                           var complete = 0L; var op = -1; var job = -1 }
    val jobs = new ConcurrentHashMap[Int, Array[Long]]()   // op, start, end
    val stages = new ConcurrentHashMap[(Int, Int), StageAcc]()
    /** The job that last listed each stage: the one that submits it. */
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val batches = ArrayBuffer[String]()

    private def acc(id: Int, attempt: Int): StageAcc =
      stages.computeIfAbsent((id, attempt), _ => new StageAcc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      jobs.put(e.jobId, Array(currentOp.get, e.time, -1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_(2) = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = acc(i.stageId, i.attemptNumber())
      a.synchronized {
        a.op = currentOp.get
        a.job = stageJob.getOrDefault(i.stageId, -1)
        a.submit = i.submissionTime.getOrElse(-1L)
        a.complete = i.completionTime.getOrElse(-1L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(e.stageId, e.stageAttemptId)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.shuffleW += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
        }
      }
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => s"${q(k)}:${v.longValue}" }
        batches.synchronized {
          batches += s"""{"op":${currentOp.get},"batch":${p.batchId},""" +
            s""""rows":${p.numInputRows},"durations":{${d.mkString(",")}}}"""
        }
      }
    }
  }

  /** JSON string literal. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def treeBytes(p: Path, filter: Path => Boolean = _ => true): (Int, Long) =
    if (!Files.exists(p)) (0, 0L)
    else {
      val files = Files.walk(p).iterator.asScala.filter(f => Files.isRegularFile(f) && filter(f)).toSeq
      (files.size, files.map(Files.size).sum)
    }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[LocalFsInProcess].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalAfsInProcess].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val work = Paths.get(opt("out")).toAbsolutePath
    Files.createDirectories(work)
    val workload = workloads(opt("workload"))
    val names = workload.ops
    val fixture = opt("fixture")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val verifyDir = work.resolve("verify")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val deadlineMs = jvmStart + opt("deadline").toDouble * 1000
    val spark = session(cores, work)
    val sessionS = (nowMs - jvmStart) / 1000.0
    val sc = spark.sparkContext
    val queries = SparkEntry.queries
    val recs = ArrayBuffer[OpRec]()
    var tracer: Option[Tracer] = None
    def drain(): Unit =
      try org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
      catch { case _: Throwable => () }

    /** Persisted RDDs an op left registered: counted, sized, then freed
      * (outside the op's timing) so they cannot slow the next op. */
    def freeStaged(): (Int, Long) = {
      val persisted = sc.getPersistentRDDs
      val ids = persisted.keySet
      val bytes = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
      persisted.values.foreach(_.unpersist(blocking = true))
      (persisted.size, bytes)
    }

    def runOp(name: String, round: Int, phase: String, dump: Boolean): OpRec = {
      val idx = recs.size
      tracer.foreach(_.currentOp.set(idx))
      // each build gets its own directory, kept until run.py removes the
      // run directory, so no deletion I/O falls between timed ops
      val etlOut = if (dump) verifyDir.resolve("warehouse") else work.resolve(s"etl/$idx")
      var built = 0.0
      var stats = Seq.empty[RunEtl.StageStat]
      val start = nowMs
      val error = try {
        if (name == EtlOp) {
          stats = RunEtl.buildWarehouse(spark, fixture, etlOut.toString)
          built = start
        } else {
          val df = queries(name)(spark, fixture)
          built = nowMs
          if (dump) df.coalesce(1).write.mode("overwrite").parquet(verifyDir.resolve(name).toString)
          else df.write.mode("overwrite").format("noop").save()
        }
        None
      } catch { case e: Throwable =>
        if (built == 0.0) built = nowMs
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val end = nowMs
      if (tracer.isDefined) drain()
      val (leaked, leakedBytes) = freeStaged()
      val (files, bytes) =
        if (name == EtlOp) treeBytes(etlOut, _.getFileName.toString.endsWith(".parquet")) else (0, 0L)
      val r = OpRec(idx, phase, name, round, start, built, end, error, leaked, leakedBytes,
        stats, files, bytes)
      recs += r
      r
    }

    // 1. warm-up passes, the first keeping results for the oracle check
    Files.createDirectories(verifyDir)
    names.sorted.foreach(runOp(_, -1, "warm", dump = true))
    for (_ <- 2 to workload.warmPasses) names.sorted.foreach(runOp(_, -1, "warm", dump = false))
    val setupS = (nowMs - jvmStart) / 1000.0

    // 2./3. whole rounds in seeded order; after the minimum, a round
    // starts only if one as long as the last still ends within the target
    final case class Window(phase: String, start: Double, end: Double, gcMs: Long)
    def window(phase: String, target: Double, minRounds: Int): Window = {
      val g0 = gcMs()
      val t0 = nowMs
      var round = 0
      var last = 0.0
      var go = true
      while (go) {
        val r0 = nowMs
        new Random(seed * 1000003L + round).shuffle(names).foreach(runOp(_, round, phase, dump = false))
        last = nowMs - r0
        round += 1
        go = (round < minRounds || (nowMs - t0) + last <= target * 1000) &&
          nowMs + last <= deadlineMs
      }
      Window(phase, t0, nowMs, gcMs() - g0)
    }
    val windows = ArrayBuffer(if (trace) window("timed", seconds / 2, 1) else window("timed", seconds, workload.minRounds))
    if (trace) {
      val t = new Tracer
      sc.addSparkListener(t)
      spark.streams.addListener(t.streams)
      tracer = Some(t)
      windows += window("traced", seconds / 2, 1)
      drain()
      t.currentOp.set(-1)
    }

    // heap in use after a full collection, staged blocks already freed.
    // A trivial job first displaces what only the last op's execution
    // still references, and the cleaner gets time to drop what the
    // collection released; the least of three readings is reported.
    val heapLiveMb = (1 to 3).map { _ =>
      spark.range(1).count()
      System.gc(); Thread.sleep(300); System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val scratch = sys.env.get("SPARK_GRAFT_SCRATCH").map(p => treeBytes(Paths.get(p))._2).getOrElse(0L)

    // ---- write out ----
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    val opLines = recs.map { r =>
      val etl = r.etl.map(s => s"""{"stage":${q(s.stage)},"rows":${s.rows},"seconds":${s.seconds}}""")
      s"""{"idx":${r.idx},"phase":${q(r.phase)},"name":${q(r.name)},"round":${r.round},""" +
        s""""start":${num(r.start)},"built":${num(r.built)},"end":${num(r.end)},""" +
        s""""error":${r.error.map(q).getOrElse("null")},"leaked_rdds":${r.leakedRdds},""" +
        s""""leaked_bytes":${r.leakedBytes},"etl":[${etl.mkString(",")}],""" +
        s""""files":${r.files},"bytes":${r.bytes}}"""
    }
    Files.write(work.resolve("ops.jsonl"), opLines.asJava)
    // the oracle of each op: its query's SQL, or q_fact_build's for the
    // ETL build (checked against the written fact)
    val oracle = SparkEntry.oracleSql
    Files.writeString(verifyDir.resolve("oracle_sql.json"), names.map { n =>
      s"${q(n)}:" + oracle.get(if (n == EtlOp) "q_fact_build" else n).map(q).getOrElse("null")
    }.mkString("{", ",", "}"))
    val ws = windows.map(w =>
      s"""{"phase":${q(w.phase)},"start":${num(w.start)},"end":${num(w.end)},"gc_ms":${w.gcMs}}""")
    Files.writeString(work.resolve("run.json"),
      s"""{"setup_s":$setupS,"session_s":$sessionS,"heap_live_mb":$heapLiveMb,"scratch_left_bytes":$scratch,""" +
        s""""cores":$cores,"windows":[${ws.mkString(",")}]}""")
    tracer.foreach { t =>
      Files.write(work.resolve("jobs.jsonl"), t.jobs.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
        s"""{"job":$id,"op":${a(0)},"start":${a(1)},"end":${a(2)}}"""
      }.asJava)
      Files.write(work.resolve("stages.jsonl"), t.stages.asScala.toSeq.sortBy(_._1).map { case ((id, at), a) =>
        s"""{"stage":$id,"attempt":$at,"op":${a.op},"job":${a.job},"tasks":${a.tasks},"cpu_ns":${a.cpuNs},""" +
          s""""shuffle_write":${a.shuffleW},"spill":${a.spill},"input":${a.input},""" +
          s""""submit":${a.submit},"complete":${a.complete}}"""
      }.asJava)
      Files.write(work.resolve("batches.jsonl"), t.batches.asJava)
    }
    spark.stop()
  }
}
