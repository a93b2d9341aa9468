package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.util.ManualClock

/** Bridge to `StreamingQueryManager.startQuery` (private[sql]) with an
  * injected `ManualClock` (private[spark]) as the trigger clock — the
  * one seam that makes PROCESSING-TIME semantics deterministic: the
  * micro-batch engine stamps every batch with `triggerClock
  * .getTimeMillis()`, so with a manual clock the batch timestamps —
  * and therefore `TimerValues.getCurrentProcessingTimeInMs()` and
  * processing-time timer expiry — are exactly the values the driver
  * advances to, independent of wall time. This is the same injection
  * Spark's own StreamTest harness uses (StreamManualClock); nothing
  * here touches engine internals beyond passing the documented
  * constructor parameter the public `DataStreamWriter` hardcodes to
  * `SystemClock`. Same keep-it-logic-free rule as [[ColumnBridge]].
  */
object StreamClockBridge {

  /** A running manually-clocked query: advance the virtual clock and
    * await batch completion; the engine does the rest.
    */
  final class Handle(val query: StreamingQuery, clock: ManualClock) {
    def advance(ms: Long): Unit = clock.advance(ms)

    /** Waits (wall-bounded) until batch `n` has COMPLETED. Progress is
      * reported after commit, so lastProgress.batchId >= n means batch
      * n's sink writes are visible. Wall time bounds only the WAIT —
      * all semantic time is the manual clock's.
      */
    def awaitBatch(n: Long, deadlineMs: Long = 60000L): Unit = {
      val t0 = System.nanoTime()
      while ({
        val p = query.lastProgress
        (p == null || p.batchId < n) && query.exception.isEmpty
      }) {
        if ((System.nanoTime() - t0) / 1e6 > deadlineMs)
          throw new IllegalStateException(
            s"batch $n not completed within ${deadlineMs}ms " +
              s"(lastProgress=${Option(query.lastProgress).map(_.batchId)})")
        Thread.sleep(10)
      }
      query.exception.foreach(throw _)
    }
  }

  /** Starts `df` (a streaming Dataset) as a foreachBatch query in
    * `outputMode` under `trigger`, with the trigger clock replaced by
    * a `ManualClock(startMs)`.
    */
  def startWithManualClock(
      df: Dataset[Row],
      checkpointDir: String,
      outputMode: OutputMode,
      trigger: Trigger,
      startMs: Long)(batchFn: (Dataset[Row], Long) => Unit): Handle = {
    val classicDf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = classicDf.sparkSession
    val clock = new ManualClock(startMs)
    val sink = new org.apache.spark.sql.execution.streaming.sources.ForeachBatchSink[Row](
      (b: Dataset[Row], id: Long) => batchFn(b, id), classicDf.exprEnc)
    val q = spark.sessionState.streamingQueryManager.startQuery(
      userSpecifiedName = None,
      userSpecifiedCheckpointLocation = Some(checkpointDir),
      df = classicDf,
      extraOptions = Map.empty[String, String],
      sink = sink,
      outputMode = outputMode,
      useTempCheckpointLocation = false,
      recoverFromCheckpointLocation = true,
      trigger = trigger,
      triggerClock = clock)
    new Handle(q, clock)
  }
}
