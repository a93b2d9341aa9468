package graft.stream

import graft.text.TextFns.{round4, units}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.7 extension table).
  *
  * The reference's "streaming" is bounded chunk iteration over a JDBC
  * cursor (`ETL/user_ETL.py:71-96`) — no watermarks, no event time, no
  * state. This module provides the real thing on Spark's engine. Each
  * transform takes any events-shaped DataFrame (`ts` timestamp,
  * `user_id` long, `event_type` string, `value` double) — static for
  * the batch tests, `readStream` for production — because the
  * DataFrame API is identical on both; the streaming-only pieces
  * (watermark, output mode, state timeout) are declared here.
  *
  * Scale: all state is keyed and watermark-bounded, so executor state
  * stores stay O(active keys × window horizon) regardless of total
  * stream volume; late data past the watermark is dropped rather than
  * accumulating state.
  */
object Streaming {

  /** The event-time window aggregate: per window × event type, the
    * event count and the value sum, over tumbling windows of
    * `windowLen` or windows sliding by `slide`. The sum is
    * round-before-sum: each value becomes whole micro-units in
    * DECIMAL(28,0), whose sum is exact and order-independent (a state
    * merge across micro-batches reorders float addition), and the total
    * is round4'd once at the edge (the CLAUDE.md parity rule). With a
    * `lateness` watermark, rows behind it are dropped and, in append
    * mode, a window emits once its end passes it; `None` adds no
    * watermark (Complete and Update runs over a bounded input).
    */
  def windowedCounts(events: DataFrame, windowLen: String, slide: Option[String] = None,
                     lateness: Option[String] = Some("1 hour")): DataFrame = {
    val win = slide.fold(window(col("ts"), windowLen))(window(col("ts"), windowLen, _))
    lateness.fold(events)(events.withWatermark("ts", _))
      .withColumn("vm", units(col("value"), 1e6).cast("decimal(28,0)"))
      .groupBy(win, col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("vm")).as("vm_sum"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("event_type"), col("n_events"),
        round4(col("vm_sum").cast("double") / 1000000.0).as("sum_value"))
  }

  /** Stateful exact dedup within the watermark horizon — the streaming
    * analogue of the reference's upsert-keyed idempotence
    * (`ETL/fact_ETL.py:129-143` dedups on OrderNumber across batches).
    * State per key is dropped once the watermark passes, bounding it.
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Per-user running counters via explicit keyed state
    * (`mapGroupsWithState`) — the custom-state extension point the
    * north star asks for. Emits (user_id, events_seen_so_far,
    * value_sum_so_far) on every trigger; state never grows beyond one
    * small tuple per active user and times out after inactivity.
    */
  def runningUserTotals(events: DataFrame,
                        timeout: Option[String] = Some("1 hour")): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // NoTimeout when eviction is off: a ProcessingTimeTimeout query
    // schedules a no-data micro-batch every trigger to fire timeouts,
    // which never quiesces under the default 0-interval trigger
    // (tests use None; production passes an eviction horizon and a
    // real trigger interval).
    val conf =
      if (timeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(conf) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, s) = state.get
            state.remove()
            (user, n, s)
          } else {
            val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
            // single streaming fold — materializing the group (toSeq)
            // would hold a hot user's whole micro-batch in memory
            val updated = rows.foldLeft((n0, s0)) {
              case ((n, s), (_, v)) => (n + 1, s + v)
            }
            state.update(updated)
            timeout.foreach(state.setTimeoutDuration)
            (user, updated._1, updated._2)
          }
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Session assembly with `flatMapGroupsWithState` — the 0-or-N
    * output twin of [[runningUserTotals]]'s exactly-1 shape: per user,
    * buffer (count, sum, last event time) and EMIT ONLY closed
    * sessions — nothing while a session is open, the finished session
    * when `gap` passes without activity (processing-time timeout
    * fires it). State is one small tuple per active user; emitted rows
    * are final (append mode), which is what a downstream sink wants
    * from sessionization.
    */
  def closedSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      // events.value is nullable; a null into the primitive tuple
      // encoder would kill the query on its first appearance
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, s) = state.get
            state.remove()
            Iterator.single((user, n, s)) // the closed session
          } else {
            val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
            val updated = rows.foldLeft((n0, s0)) {
              case ((n, s), (_, v)) => (n + 1, s + v)
            }
            state.update(updated)
            state.setTimeoutDuration(gap)
            Iterator.empty // open sessions emit nothing
          }
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Streaming CUSUM drift monitor — the keyed-state twin of
    * [[graft.olap.Analytics.cusumDrift]]'s batch closed form. Per
    * key, maintain the scaled-deviation running sum R and its prefix
    * minimum; the current alarm statistic is S = (R − min(0, minR)) /
    * 2000 dollars, EXACTLY the batch identity S_t = R_t − min
    * prefix R. Deviations are integer cents scaled by 20 (so the 5%
    * slack ·21/20 stays integer): dev = 20·cents − 21·targetCents —
    * the caller supplies the target mean (in production: from the
    * training window; the batch query derives it from the full
    * series). All state arithmetic is exact integers, so replaying
    * the same prefix always reproduces the same statistic —
    * the property [[graft.stream.SnapshotCommitter]]-style recovery
    * needs from a monitor.
    *
    * Ordering: R is order-independent (a sum) but the prefix MINIMUM
    * is not, so each micro-batch's group is folded in (ts, value)
    * order — correct whenever batch boundaries respect event order
    * (an append log). State is two longs + a count per key.
    */
  def cusumMonitor(points: DataFrame, targetCents: Long): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .select(col("key").cast("long"), col("ts").cast("long"),
        col("cents").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          val (n0, r0, m0) = state.getOption.getOrElse((0L, 0L, 0L))
          val ordered = rows.toSeq.sortBy(p => (p._2, p._3))
          val (n, r, m) = ordered.foldLeft((n0, r0, m0)) {
            case ((nn, rr, mm), (_, _, cents)) =>
              val r2 = rr + (20L * cents - 21L * targetCents)
              (nn + 1, r2, math.min(mm, r2))
          }
          state.update((n, r, m))
          (key, n, (r - math.min(m, 0L)).toDouble / 2000.0)
      }
      .toDF("key", "n_points", "cusum")
  }

  /** CEP-style funnel detection over the event stream: a per-user
    * state machine advancing view → click → purchase (each stage's
    * event at-or-after the previous stage's), emitting one row per
    * COMPLETED conversion with the three stage timestamps, then
    * resetting so repeat conversions re-emit — the streaming twin of
    * the batch funnel (`q_funnel` counts the same ordered stages at
    * rest).
    *
    * State is one (stage, view_ts, click_ts) triple per active user —
    * O(users), independent of stream length; `timeout` evicts
    * abandoned funnels (ProcessingTimeTimeout), and it DEFAULTS ON
    * (30 min): a user who abandons mid-funnel must not hold a state
    * entry forever. Pass `timeout = None` ONLY in tests —
    * timeout-bearing queries never quiesce under the 0-interval test
    * trigger (`processAllAvailable` would hang). Each user's
    * micro-batch slice is sorted by event time before the fold:
    * micro-batch iterators carry no time order, and a funnel is
    * order-sensitive — the sort holds one user's BATCH slice, not the
    * stream, so memory is bounded by (hot user × trigger interval).
    */
  def funnelConversions(events: DataFrame,
                        timeout: Option[String] = Some("30 minutes")): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val conf =
      if (timeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id").cast("long"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append, conf) {
        (user: Long, rows: Iterator[(Long, String, Long)],
         state: GroupState[(Int, Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove() // abandoned mid-funnel: evict, emit nothing
            Iterator.empty
          } else {
            var (stage, vUs, cUs) = state.getOption.getOrElse((0, 0L, 0L))
            val out = Seq.newBuilder[(Long, Long, Long, Long)]
            // tie-break equal timestamps by STAGE order, not event_type
            // text (lexicographic click<purchase<view is the reverse of
            // the funnel): the >= guards deliberately admit
            // same-instant progressions, and the sort must present
            // them in stage order or an in-batch (view,click,purchase)
            // at one timestamp would be dropped while the same events
            // split across batches convert — a batch-boundary
            // dependency the batch twin (q_funnel) doesn't have
            val stageRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
            rows.toSeq.sortBy(r => (r._3, stageRank.getOrElse(r._2, 3)))
              .foreach { case (_, typ, us) =>
                (stage, typ) match {
                  case (0, "view") => stage = 1; vUs = us
                  case (1, "click") if us >= vUs => stage = 2; cUs = us
                  case (2, "purchase") if us >= cUs =>
                    out += ((user, vUs, cUs, us))
                    stage = 0; vUs = 0L; cUs = 0L
                  case _ => () // out-of-pattern event: no transition
                }
              }
            // stage 0 carries no information — storing it would grow
            // the state store with every user ever seen (the getOrElse
            // default reconstructs it for free on the next event)
            if (stage == 0) state.remove()
            else {
              state.update((stage, vUs, cUs))
              timeout.foreach(state.setTimeoutDuration)
            }
            out.result().iterator
          }
      }
      .toDF("user_id", "view_us", "click_us", "purchase_us")
  }

  /** Stream-stream event-time interval join: each `later` row (a click,
    * a purchase) joins the `earlier` rows of the same `user_id` whose
    * `ts` lies in [later.ts − `horizon`, later.ts]. Both sides carry a
    * `lateness` watermark on `ts` and the predicate bounds one side's
    * time by the other's, so the state store keeps each side only for
    * watermark + horizon: O(active users × (horizon + lateness)),
    * independent of stream length (an unconstrained equi-join would
    * buffer both streams forever).
    *
    * `joinType` "left_outer" emits every later row exactly once:
    * joined to its in-horizon rows when they exist, with NULL earlier
    * columns otherwise. An unmatched row can only emit once the
    * earlier side's watermark proves no match can still arrive, so it
    * is held in state until `ts + lateness` passes the global
    * watermark: exactly-once unmatched emission, which a batch
    * anti-join could not give without a rescan.
    *
    * The output is `user_id`, then the other columns of `later`, then
    * those of `earlier`. `ts`, and any other column both sides carry,
    * is prefixed with its side's name from `names` (`click_ts`,
    * `view_ts`); the rest keep the caller's names.
    */
  def intervalJoin(later: DataFrame, earlier: DataFrame, names: (String, String),
                   horizon: String = "30 minutes", lateness: String = "1 hour",
                   joinType: String = "inner"): DataFrame = {
    val shared = later.columns.toSet.intersect(earlier.columns.toSet)
    def side(df: DataFrame, name: String, key: String) =
      df.withWatermark("ts", lateness).select(col("user_id").as(key) +:
        df.columns.toSeq.filter(_ != "user_id")
          .map(c => col(c).as(if (shared(c)) s"${name}_$c" else c)): _*)
    val (ln, en) = names
    val (lts, ets) = (col(s"${ln}_ts"), col(s"${en}_ts"))
    side(later, ln, "user_id").join(side(earlier, en, s"${en}_user_id"),
      col("user_id") === col(s"${en}_user_id") &&
        ets <= lts && ets >= lts - expr(s"INTERVAL $horizon"),
      joinType)
      .drop(s"${en}_user_id")
  }

  /** Streaming heavy-hitter monitor: maintains a persisted Misra-
    * Gries summary (≤ `m` counters + the running token total) across
    * micro-batches — the streaming twin of the batch two-pass
    * `q_heavy_hitters`, for when the corpus arrives as a stream and
    * "what's trending" must be answerable at any time without a
    * rescan.
    *
    * Per batch: each partition folds its terms into a bounded local
    * summary (`CorpusOps.mgSummary` — only P·m counters ever cross to
    * the driver, never the token stream), the partials are combined
    * and capped, then merged into the persisted summary with
    * `CorpusOps.mgMerge` (mergeable-summaries guarantee: the
    * underestimation bound grows by ≤ batchN/(m+1) per batch, so any
    * term with frequency ≥ totalN/(m+1) since stream start is present).
    * The snapshot swap reuses the [[SnapshotCommitter]] protocol, so
    * crash recovery and object-store semantics match
    * [[startUpsertSink]]; the merge is idempotent only up to the MG
    * error bound, which the at-least-once replay contract absorbs
    * (a replayed batch can inflate counts by its size — acceptable
    * for a trending monitor, documented here for consumers).
    *
    * Snapshot schema: (term, cnt, n_total) — n_total repeated per row
    * for plain-parquet consumers, AND written out-of-band as an
    * `_n_total` side file inside the snapshot directory (`_`-prefixed
    * files are invisible to Spark's parquet reader, like `_SUCCESS`).
    * The side file is authoritative: mgMerge can legitimately return
    * an EMPTY summary (the capacity cap's threshold subtraction zeroes
    * every counter when combined counts tie, or a zero-token batch),
    * and a zero-row snapshot would silently reset the running total —
    * skewing the heavy-hitter threshold for every later read.
    */
  def startHeavyHitterSink(terms: DataFrame, path: String, checkpoint: String,
                           m: Int = 256,
                           committerFor: (String, org.apache.hadoop.conf.Configuration)
                             => SnapshotCommitter = new RenameCommitter(_, _)) =
    terms.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val batchN = batch.count()
        val partials = batch.select(col("term")).as[String]
          .mapPartitions(it => graft.text.CorpusOps.mgSummary(it, m))
          .collect()
        val combined = partials.groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).sum }
        val batchSummary = graft.text.CorpusOps.mgMerge(combined, Map.empty, m)
        val conf = spark.sparkContext.hadoopConfiguration
        val committer = committerFor(path, conf)
        committer.recover()
        val (cur, curN) = committer.current() match {
          case Some(p) =>
            val df = spark.read.parquet(p.toString)
            val n = readNTotal(p, conf).getOrElse {
              // pre-side-file snapshot: fall back to the column form
              // (null over an empty summary reads as 0)
              val r = df.select(max(col("n_total"))).collect()(0)
              if (r.isNullAt(0)) 0L else r.getLong(0)
            }
            (df.select(col("term"), col("cnt")).as[(String, Long)]
              .collect().toMap, n)
          case None => (Map.empty[String, Long], 0L)
        }
        val merged = graft.text.CorpusOps.mgMerge(cur, batchSummary, m)
        val staged = committer.stage()
        merged.toSeq.toDF("term", "cnt")
          .withColumn("n_total", lit(curN + batchN))
          .coalesce(1)
          .write.mode("overwrite").parquet(staged.toString)
        writeNTotal(staged, conf, curN + batchN)
        committer.commit(staged)
        ()
      }
      .start()

  /** Streaming count-min sketch maintenance: folds each micro-batch's
    * CMS counter table ([[graft.text.DocOps.cmsCells]] over the
    * batch's documents) into a persisted d×w counter snapshot — the
    * sketch twin of [[startHeavyHitterSink]], for when "roughly how
    * often has this token appeared since stream start" must be
    * answerable without a rescan (admission control, rate limiting).
    * Correct BECAUSE the counter table is counter-wise additive
    * (cells(A ⊎ B) = cells(A) + cells(B) — the mergeability law
    * `DocOpsSpec` pins), so the merge is one union + (j, c) sum of two
    * ≤ d·w = 2048-row tables; nothing batch-sized or stream-sized is
    * ever collected. The snapshot swap reuses the [[SnapshotCommitter]]
    * protocol (crash recovery, object-store semantics as
    * [[startUpsertSink]]). At-least-once replay inflates counts by the
    * replayed batch — the same monotone-overcount direction CMS
    * already guarantees (est ≥ exact), documented for consumers.
    */
  def startCmsSink(docs: DataFrame, path: String, checkpoint: String,
                   committerFor: (String, org.apache.hadoop.conf.Configuration)
                     => SnapshotCommitter = new RenameCommitter(_, _)) =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val batchCells = graft.text.DocOps.cmsCells(batch)
        val conf = spark.sparkContext.hadoopConfiguration
        val committer = committerFor(path, conf)
        committer.recover()
        val merged = committer.current() match {
          case Some(p) =>
            batchCells.unionByName(spark.read.parquet(p.toString))
              .groupBy("j", "c")
              .agg(sum(col("cnt")).as("cnt"))
          case None => batchCells
        }
        val staged = committer.stage()
        merged.coalesce(1).write.mode("overwrite").parquet(staged.toString)
        committer.commit(staged)
        ()
      }
      .start()

  /** The running token total rides INSIDE the committed snapshot dir
    * (so the committer's atomic swap covers it) as a `_`-prefixed text
    * file Spark's file source ignores. Absent ⇒ None (legacy snapshot
    * written before the side file existed).
    */
  private def writeNTotal(dir: org.apache.hadoop.fs.Path,
                          conf: org.apache.hadoop.conf.Configuration,
                          n: Long): Unit = {
    val fs = dir.getFileSystem(conf)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_n_total"), true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  private def readNTotal(dir: org.apache.hadoop.fs.Path,
                         conf: org.apache.hadoop.conf.Configuration): Option[Long] = {
    val fs = dir.getFileSystem(conf)
    val p = new org.apache.hadoop.fs.Path(dir, "_n_total")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](64)
        var r = in.read(tmp)
        while (r > 0) { buf.write(tmp, 0, r); r = in.read(tmp) }
        Some(buf.toString("UTF-8").trim.toLong)
      } finally in.close()
    }
  }

  /** Streaming ingest dedup — the streaming form of `q_delta_dedup`'s
    * incremental screen, composed from the same oracle-verified
    * kernels: each micro-batch of (doc_id, text) documents is
    *
    *  1. self-screened (batch-internal near-dups collapse to the
    *     min-doc_id canonical via the batch's own band index),
    *  2. screened against the PERSISTED (band, idx_doc) index —
    *     any LSH collision with an already-ingested doc drops the
    *     newcomer (work ∝ batch, never the archive),
    *  3. accepted docs merge into the corpus snapshot (doc_id-keyed
    *     upsert) and their bands append to the index.
    *
    * Crash safety under at-least-once replay: the CORPUS commits
    * before the INDEX. A crash between the two replays the batch
    * against the OLD index, re-accepting the same docs — the
    * doc_id-keyed corpus merge and the distinct band union are both
    * idempotent, so the state converges. (Index-first would be wrong:
    * the replayed batch would collide with its own bands and the
    * corpus would lose the accepted docs.)
    */
  def startDedupIngest(docs: DataFrame, path: String, checkpoint: String,
                       committerFor: (String, org.apache.hadoop.conf.Configuration)
                         => SnapshotCommitter = new RenameCommitter(_, _)) =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        dedupIngestBatch(batch, path, committerFor)
      }
      .start()

  /** One micro-batch of the dedup ingest — factored out so the
    * at-least-once replay property (re-applying the SAME batch to the
    * committed state converges) is directly testable; the scaladoc
    * above states the argument, `StreamingSpec` executes it.
    */
  private[stream] def dedupIngestBatch(batch: DataFrame, path: String,
                                       committerFor: (String, org.apache.hadoop.conf.Configuration)
                                         => SnapshotCommitter): Unit = {
    import graft.text.TextQueries.{bandIndex, screenAgainstIndex}
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val corpusC = committerFor(s"$path/corpus", conf)
    val indexC = committerFor(s"$path/index", conf)
    corpusC.recover(); indexC.recover()
    // 1. batch-internal canonical election: a doc survives iff it
    // is its own smallest band-collision representative
    val canonical = batch.join(
      screenAgainstIndex(batch, bandIndex(batch))
        .filter(col("dedup_rep") === col("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    // 2. drop anything colliding with the persisted index. Replay
    // note: a fully-replayed doc collides with its OWN bands from the
    // first application and is dropped — harmless, the corpus upsert
    // already holds it, so the state converges either way
    val accepted = indexC.current() match {
      case Some(p) =>
        val idx = spark.read.parquet(p.toString)
        canonical.join(screenAgainstIndex(canonical, idx).select("doc_id"),
          Seq("doc_id"), "left_anti")
      case None => canonical
    }
    // 3a. corpus merge (commit FIRST — see scaladoc)
    val corpus = corpusC.current() match {
      case Some(p) => graft.etl.Merge.upsert(
        spark.read.parquet(p.toString), accepted, Seq("doc_id"))
      case None => accepted
    }
    val corpusStage = corpusC.stage()
    corpus.write.mode("overwrite").parquet(corpusStage.toString)
    corpusC.commit(corpusStage)
    // 3b. index append (distinct union — replay-idempotent)
    val index = indexC.current() match {
      case Some(p) => spark.read.parquet(p.toString)
        .unionByName(bandIndex(accepted)).distinct()
      case None => bandIndex(accepted)
    }
    val indexStage = indexC.stage()
    index.write.mode("overwrite").parquet(indexStage.toString)
    indexC.commit(indexStage)
    ()
  }

  /** Streaming novelty ingest — the persisted-index deployment of
    * `q_delta_novelty`'s acquisition screen (`DocOps.deltaNovelty`,
    * which self-contains the demo by rebuilding the index each run):
    * each micro-batch of (doc_id, source, text) documents is
    *
    *  1. scored against the PERSISTED distinct-gram index: the
    *     left-anti join charges work ∝ batch grams; the archive is
    *     never re-tokenized,
    *  2. its per-source novelty report (n_docs, n_grams, n_novel,
    *     novelty) upserted into `$path/report` keyed on
    *     (batch_id, source),
    *  3. its grams distinct-unioned into `$path/index`.
    *
    * Crash safety under at-least-once replay: the REPORT commits
    * before the INDEX, and the report merge is FIRST-WRITE-WINS on
    * (batch_id, source) — not a plain upsert. A replay can land on
    * either side of the index commit: before it, the recomputed
    * report is identical (old index) and the insert-if-absent skips
    * it; after it (crash between the index commit and the stream's
    * checkpoint offset commit), the recomputed report would anti-join
    * the batch's OWN grams and claim zero novelty — first-write-wins
    * discards that recomputation and keeps the truthful committed
    * rows. The gram union is distinct → idempotent at both points.
    */
  def startNoveltyIngest(docs: DataFrame, path: String, checkpoint: String,
                         committerFor: (String, org.apache.hadoop.conf.Configuration)
                           => SnapshotCommitter = new RenameCommitter(_, _)) =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        noveltyIngestBatch(batch, batchId, path, committerFor)
      }
      .start()

  /** One micro-batch of the novelty ingest — factored out so the
    * replay-convergence property is directly testable
    * (`StreamingSpec`), the same seam as [[dedupIngestBatch]].
    */
  private[stream] def noveltyIngestBatch(batch: DataFrame, batchId: Long, path: String,
                                         committerFor: (String, org.apache.hadoop.conf.Configuration)
                                           => SnapshotCommitter): Unit = {
    import graft.text.DocOps
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val reportC = committerFor(s"$path/report", conf)
    val indexC = committerFor(s"$path/index", conf)
    reportC.recover(); indexC.recover()
    val grams = DocOps.docGrams(batch)
    val index = indexC.current().map(p => spark.read.parquet(p.toString))
    // 1. the batch's report against the persisted index
    val report = DocOps.noveltyReport(grams, index)
      .select(lit(batchId).as("batch_id"), col("*"))
    // 2. report insert-if-absent (commit FIRST; first-write-wins —
    // see scaladoc for why a replayed recomputation must never
    // overwrite the committed rows)
    val merged = reportC.current() match {
      case Some(p) =>
        val cur = spark.read.parquet(p.toString)
        cur.unionByName(report.join(
          cur.select("batch_id", "source"), Seq("batch_id", "source"), "left_anti"))
      case None => report
    }
    val reportStage = reportC.stage()
    merged.write.mode("overwrite").parquet(reportStage.toString)
    reportC.commit(reportStage)
    // 3. gram-index append (distinct union — replay-idempotent)
    val batchGrams = grams.select("gram").distinct()
    val indexStage = indexC.stage()
    index.fold(batchGrams)(_.unionByName(batchGrams).distinct())
      .write.mode("overwrite").parquet(indexStage.toString)
    indexC.commit(indexStage)
    ()
  }

  /** Canonical sink wiring for a streaming aggregate: append mode for
    * watermark-closed windows, checkpointed for exactly-once restart.
    */
  def startParquetSink(df: DataFrame, path: String, checkpoint: String,
                       mode: OutputMode = OutputMode.Append()) =
    df.writeStream
      .outputMode(mode)
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .start()

  /** Streaming upsert into a warehouse snapshot: every micro-batch is
    * merged into the parquet snapshot at `path` on the business key
    * (graft.etl.Merge) — the streaming twin of the reference's
    * per-batch upsert loop (`ETL/user_ETL.py:91-117`), with the
    * micro-batch as the unit the chunked cursor was imitating.
    * Checkpointed, so restarts resume from the last committed batch;
    * the merge itself is idempotent per key, so replayed batches
    * converge (at-least-once delivery → exactly-once state).
    *
    * Storage scope is the COMMITTER's ([[SnapshotCommitter]]): the
    * default [[RenameCommitter]] swaps in place via atomic directory
    * rename (HDFS/local FS); pass `new ManifestCommitter(_, _)` for
    * object stores, where the snapshot lives in immutable version
    * directories and the commit is one manifest-pointer write. Both
    * run the same recover → read → stage → commit loop below.
    */
  def startUpsertSink(updates: DataFrame, path: String, checkpoint: String,
                      keys: Seq[String],
                      committerFor: (String, org.apache.hadoop.conf.Configuration)
                        => SnapshotCommitter = new RenameCommitter(_, _)) =
    updates.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // Hadoop conf, not java.io.File: the committer resolves
        // hdfs:// and file:// URIs alike from the session's conf.
        val committer =
          committerFor(path, spark.sparkContext.hadoopConfiguration)
        committer.recover() // finish/roll back any interrupted commit
        val merged = committer.current() match {
          case Some(cur) =>
            graft.etl.Merge.upsert(spark.read.parquet(cur.toString), batch, keys)
          case None => batch
        }
        val staged = committer.stage()
        merged.write.mode("overwrite").parquet(staged.toString)
        committer.commit(staged)
        ()
      }
      .start()
}
