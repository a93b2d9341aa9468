package graft.stream

import graft.schema.Tables
import graft.text.TextFns.{duckRound4, duckRound6, duckUnits, round4, round6, units}
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType}

/** Event-time analytics over the `events` table (SURVEY.md §2.7,
  * §7.3 #17-19). Batch-first: these run on the static table here and
  * are verified against the DuckDB oracle; [[Streaming]] exposes the
  * identical transforms over `readStream` sources with watermarks —
  * same `window`/`session_window` expressions, so batch verification
  * covers the streaming semantics.
  *
  * Scale: event streams are the 100 TB-shaped input. Every query is a
  * single partial+final hash aggregate keyed on (bucket, type) or
  * (user, session); no joins, no global state. Skewed hot keys would
  * be handled by AQE skew splitting; the session window needs a shuffle
  * on user_id only (key cardinality ~users, not events).
  */
object EventQueries {

  /** 17. Tumbling 1-hour event-time windows: counts + value sums per
    * (hour, event_type). `window()` is the Spark-native bucketing
    * operator (works identically under Structured Streaming with a
    * watermark); an aligned 1-hour tumble is equivalent to
    * date_trunc('hour') on the oracle side.
    */
  def eventsTumbling(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("hour", "event_type")

  private val sqlEventsTumbling =
    """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
      |       event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** 18. Session windows (30-minute gap) per user: Spark's
    * `session_window` merges events whose [ts, ts+gap) intervals
    * overlap — a new session starts when the gap to the previous event
    * is >= 30 min, which is exactly the gaps-and-islands formulation
    * the oracle uses.
    */
  def eventsSession(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  private val sqlEventsSession =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |     flagged AS (
      |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |                 THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |     sessions AS (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |       count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM sessions GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  // ---------- q_ooo_depth: out-of-orderness / watermark-delay sizing ----------

  /** How late does this stream actually run? Per event, the
    * out-of-orderness depth = running-max(event time over ARRIVAL
    * order) − its own event time — the distribution that SIZES a
    * watermark delay: `withWatermark(δ)` silently drops exactly the
    * rows whose depth exceeds δ, so you pick δ from this table, not
    * from folklore. Arrival order models an 8-way partitioned
    * transport (the fixture's event_ids are perfectly time-ordered,
    * which no real ingest is): records go to partition `id % 8`
    * round-robin and the consumer drains partition-major within each
    * 64-record fetch window — i.e. arrival position is the 8×8
    * TRANSPOSE of the id order inside every 64-block, per-partition
    * order preserved (Kafka's actual guarantee), cross-partition
    * interleaving scrambled (Kafka's actual non-guarantee). Output:
    * inversion counts above candidate delays (1 min / 10 min / 1 h)
    * + the max depth — every number a mergeable integer aggregate.
    *
    * Shape: the running high-watermark is
    * [[graft.etl.PrefixScan.exclusivePrefixMax]] — the hierarchical
    * two-pass scan (per-partition maxes → broadcast exclusive
    * scan-max), NEVER a single-partition global window over the fact
    * table; depth thresholds replace a fact-wide percentile (whose
    * single-group buffer is the scale-killer shape q_equidepth_hist
    * just retired).
    */
  def oooDepth(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("tus"))
      // arrival = block*64 + transposed in-block position (see doc)
      .withColumn("arrival",
        expr("(event_id div 64) * 64 + (event_id % 8) * 8 + (event_id div 8) % 8"))
    graft.etl.PrefixScan.exclusivePrefixMax(e, "arrival", "tus", "hwm", 0L)
      .withColumn("depth_us", greatest(lit(0L), col("hwm") - col("tus")))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("depth_us") > 0L, 1L).otherwise(0L)).as("n_inverted"),
        sum(when(col("depth_us") >= 60000000L, 1L).otherwise(0L)).as("late_ge_1m"),
        sum(when(col("depth_us") >= 600000000L, 1L).otherwise(0L)).as("late_ge_10m"),
        sum(when(col("depth_us") >= 3600000000L, 1L).otherwise(0L)).as("late_ge_1h"),
        (max(col("depth_us")) / lit(1000000L)).cast("long").as("max_depth_s"))
  }

  private val sqlOooDepth =
    """WITH e AS (SELECT (event_id // 64) * 64 + (event_id % 8) * 8
      |                    + (event_id // 8) % 8 AS arrival,
      |                  epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
      |     x AS (SELECT tus,
      |             greatest(0, coalesce(max(tus) OVER (ORDER BY arrival
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) - tus) AS depth_us
      |           FROM e)
      |SELECT CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CASE WHEN depth_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inverted,
      |       CAST(sum(CASE WHEN depth_us >= 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS late_ge_1m,
      |       CAST(sum(CASE WHEN depth_us >= 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS late_ge_10m,
      |       CAST(sum(CASE WHEN depth_us >= 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS late_ge_1h,
      |       CAST(max(depth_us) // 1000000 AS BIGINT) AS max_depth_s
      |FROM x""".stripMargin

  // ---------- q_hll_overlap: sketched audience intersection ----------

  /** Audience OVERLAP between event types from HLL sketches by
    * inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), where
    * the union estimate is one `hll_union` of the two per-type
    * sketches — the cross-segment overlap matrix at sketch cost
    * (each segment's users sketched ONCE, every pairwise overlap from
    * constant-size merges; the exact path re-shuffles user ids per
    * pair). Deterministic (register-max commutes), so gateable: the
    * oracle recomputes exact overlaps and the contract asserts the
    * estimate inside an inclusion–exclusion-widened envelope (three
    * estimates stack error: 3 × 5% of the union + 6 absolute). The
    * exact column stays in the output — both paths hash-checked.
    */
  def hllOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val sk = ev.groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
        countDistinct(col("user_id")).as("n_exact"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"),
      col("n_exact").as("n_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"),
      col("n_exact").as("n_b"))
    val pairs = a.join(b, col("type_a") < col("type_b"))
      .withColumn("est_union",
        expr("hll_sketch_estimate(hll_union(sk_a, sk_b, true))"))
      .withColumn("est_overlap",
        expr("hll_sketch_estimate(sk_a) + hll_sketch_estimate(sk_b) - est_union"))
    val exact = ev.select(col("event_type").as("type_a"), col("user_id"))
      .distinct()
      .join(ev.select(col("event_type").as("type_b"), col("user_id")).distinct(),
        "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_overlap"))
    pairs.join(exact, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_overlap"),
        (abs(col("est_overlap") - col("n_overlap").cast("double")) <=
          col("est_union") * 0.15 + 6.0).as("bound_ok"))
      .orderBy("type_a", "type_b")
  }

  private val sqlHllOverlap =
    """WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
      |     n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_u
      |           FROM d GROUP BY 1),
      |     o AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |                  CAST(count(*) AS BIGINT) AS n_overlap
      |           FROM d a JOIN d b ON a.user_id = b.user_id
      |                  AND a.event_type < b.event_type
      |           GROUP BY 1, 2)
      |SELECT type_a, type_b, na.n_u AS n_a, nb.n_u AS n_b, n_overlap,
      |       TRUE AS bound_ok
      |FROM o JOIN n na ON o.type_a = na.event_type
      |       JOIN n nb ON o.type_b = nb.event_type
      |ORDER BY type_a, type_b""".stripMargin

  // ---------- q_session_cap: max-duration session sub-splitting ----------

  // 20 minutes — sized to this corpus's compressed timescale (max
  // 30-min-gap session spans ~57 min, p99 ~24 min at sf0.01), so the
  // split branch provably FIRES at the oracle SFs; a web deployment
  // sets hours here, the closed form is scale-free
  private val SessionCapUs = 1200000000L

  /** Production sessionization rule #2: gap-based sessions ALSO split
    * at a maximum duration (the GA4/Adobe long-session integrity rule
    * — a dangling tab that pings every 25 minutes would otherwise
    * produce a week-long "session"). Sessions form by the 30-minute
    * gap rule (the `q_events_session` kernel), then each splits at
    * fixed [[SessionCapUs]] offsets FROM ITS OWN START — sub-session
    * = (session, floor((ts − session_start)/cap)), a deterministic
    * closed form, not a sequential walk, so it gates. Output is the
    * per-user audit: raw sessions, sessions the cap actually split,
    * and the resulting sub-session count.
    *
    * Shape: user-partitioned lag/sum windows (bounded per-user
    * partitions) + integer-µs arithmetic end-to-end — no float
    * touches a boundary.
    */
  def sessionCap(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tus")
    val run = Window.partitionBy("user_id").orderBy("tus")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bySess = Window.partitionBy("user_id", "sid")
    val flagged = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"))
      .withColumn("prev", lag(col("tus"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("tus") - col("prev") >= 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(run))
      .withColumn("s_start", min(col("tus")).over(bySess))
      .withColumn("sub", expr(s"(tus - s_start) div $SessionCapUs"))
    flagged.groupBy("user_id", "sid")
      .agg(max(col("sub")).as("msub"), countDistinct(col("sub")).as("nsub"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("msub") > 0, 1L).otherwise(0L)).as("n_capped"),
        sum(col("nsub")).as("n_subsessions"))
      .orderBy("user_id")
  }

  private val sqlSessionCap =
    s"""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
       |     f AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
       |                            OR tus - lag(tus) OVER w >= 1800000000
       |                          THEN 1 ELSE 0 END AS new_s
       |           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
       |     s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |           FROM f),
       |     x AS (SELECT *, (tus - min(tus) OVER (PARTITION BY user_id, sid))
       |                       // $SessionCapUs AS sub
       |           FROM s),
       |     g AS (SELECT user_id, sid, max(sub) AS msub,
       |                  count(DISTINCT sub) AS nsub
       |           FROM x GROUP BY 1, 2)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
       |       CAST(sum(CASE WHEN msub > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
       |       CAST(sum(nsub) AS BIGINT) AS n_subsessions
       |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** 19. JSON props extraction via `from_json` into a map column
    * (SURVEY.md §1.4: props → MapType), bucketed histogram of the
    * numeric payload. Exercises the semi-structured path: parse once,
    * then map access + cast + bucket, all codegen'd.
    */
  def jsonProps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("props_map",
        from_json(col("props"), org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")))
      // try_element_at + try_cast: ANSI mode (Spark 4 default) makes a
      // missing map key / malformed number THROW; the oracle's
      // json_extract_string + try_cast nulls them, and so must we.
      .withColumn("k", try_element_at(col("props_map"), lit("k")).try_cast("double"))
      .groupBy(floor(col("k") / 10).cast("long").as("k_bucket"))
      .agg(count(lit(1)).as("n"), round(sum(col("k")), 4).as("sum_k"))
      .orderBy("k_bucket")

  private val sqlJsonProps =
    """SELECT CAST(floor(try_cast(json_extract_string(props, '$.k') AS DOUBLE) / 10) AS BIGINT) AS k_bucket,
      |       count(*) AS n,
      |       round(sum(try_cast(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS sum_k
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** 19b. Semi-structured shredding through Spark 4's VARIANT type
    * (the open-encoding successor to per-query from_json): props parse
    * ONCE to a variant column ([[jsonProps]] re-parses to a typed map
    * per query shape), typed paths come out via `try_variant_get`
    * (null on missing path / type mismatch — the ANSI-safe form), and
    * the engine keeps the binary-shredded value columnar. The
    * aggregate (per event type: extracted-key coverage, distinct
    * payloads, exact integer sum) is the audit a pipeline runs after
    * pointing a VARIANT reader at a new telemetry feed. Oracle:
    * DuckDB's native JSON extraction over the same paths — the gate
    * proves the VARIANT path preserves values exactly, not just
    * parses.
    *
    * Scale: parse + extract are per-row codegen'd expressions (no
    * shuffle), the census is one (type)-grain hash aggregate; at
    * 100 TB the VARIANT encoding is WHY this works — shredded access
    * reads only the touched paths, where a string-JSON scan re-parses
    * every byte.
    */
  def variantShred(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      // try_parse_json, not parse_json: under ANSI mode a malformed
      // props value would THROW where the oracle's try_cast/
      // json_extract path nulls — the CLAUDE.md try_* divergence class
      .withColumn("vr", expr("try_parse_json(props)"))
      .withColumn("k", expr("try_variant_get(vr, '$.k', 'bigint')"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_extracted"),
        countDistinct(col("k")).as("n_distinct_k"),
        sum(col("k")).as("sum_k"))
      .orderBy("event_type")

  private val sqlVariantShred =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(try_cast(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_extracted,
      |       CAST(count(DISTINCT try_cast(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_distinct_k,
      |       CAST(sum(try_cast(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Sliding 7-day distinct users per day (rolling reach). Exact
    * distinct is NOT frame-decomposable — a `count(distinct)` window
    * frame would re-scan every frame — so the distributed shape is:
    * collapse to distinct (day, user) grain FIRST (one hash shuffle,
    * linear in events), then REPLICATE each user-day to the exactly-7
    * window days it serves (`sequence(d, d+6) → explode`, the
    * [[graft.olap.RangeJoin]] cell pattern), and finish with one
    * distinct-aggregate hash-keyed by serving day. Work after the
    * collapse is (active user-days × window width) — a theta join
    * against a day spine would instead plan BroadcastNestedLoopJoin
    * and compare every user-day against EVERY calendar day
    * (user-days × |calendar|, quadratic in elapsed time at constant
    * daily volume; `PlanAuditSpec` pins the no-BNLJ shape). Serving
    * days past the last active day fall out of the inner dau join.
    * At 100 TB the same two aggregates hold; if exact distinct over
    * user-day grain is itself too wide, the sketch path keeps per-day
    * HLL partials and merges 7 of them per output day
    * ([[graft.etl.Sketches]] persists exactly that shape).
    */
  def rollingDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.events(spark, sfDir)
      .select(date_trunc("day", col("ts")).as("d"), col("user_id"))
      .distinct()
    val dau = pairs.groupBy("d")
      .agg(countDistinct(col("user_id")).as("dau"))
    // explode_outer: the 7-element sequence is provably non-empty, and
    // outer generates suppress InferFiltersFromGenerate's size(...)>0
    // filter (which would re-evaluate the sequence per row — CLAUDE.md
    // explode-over-built-array rule)
    val win = pairs
      .withColumn("serve",
        sequence(col("d"), col("d") + expr("INTERVAL 6 DAYS"), expr("INTERVAL 1 DAY")))
      .select(explode_outer(col("serve")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("users_7d"))
    dau.join(win, col("d") === col("day"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("dau"), col("users_7d"))
      .orderBy("day")
  }

  private val sqlRollingDistinct =
    """WITH p AS (SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, user_id
      |           FROM events),
      |     dau AS (SELECT d, count(DISTINCT user_id) AS dau FROM p GROUP BY 1),
      |     spine AS (SELECT DISTINCT d AS day FROM p),
      |     win AS (SELECT s.day, count(DISTINCT p.user_id) AS users_7d
      |             FROM p JOIN spine s
      |               ON p.d >= s.day - INTERVAL 6 DAY AND p.d <= s.day
      |             GROUP BY 1)
      |SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau AS dau, win.users_7d AS users_7d
      |FROM dau JOIN win ON dau.d = win.day ORDER BY day""".stripMargin

  // ---------- q_rolling_hll: the MERGEABLE-SKETCH rolling distinct ----------

  /** [[rollingDistinct]]'s documented 100 TB path, EXECUTED: per-day
    * HLL sketches (`hll_sketch_agg`, the Apache DataSketches HLL
    * Spark 3.5+ ships) merged per 7-day window with `hll_union_agg` —
    * window state is 7 fixed-size sketches per day instead of the
    * window's raw user-day pairs, which is what makes rolling reach
    * computable when a day holds 10⁹ distinct users. Deterministic by
    * construction (register-max updates commute, so partition order
    * cannot move an estimate), hence gateable: the oracle recomputes
    * the EXACT 7-day distincts and the contract asserts the estimate
    * lands inside the sketch's error envelope (lgConfigK=14 → rsd
    * ≈ 0.8%; the gate allows 5% + 4 absolute) — the `q_quantile_est`
    * sketch-gating pattern applied to HLL. The exact twin column
    * stays in the output, so both paths are hash-checked at once.
    */
  def rollingHll(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.events(spark, sfDir)
      .select(date_trunc("day", col("ts")).as("d"), col("user_id"))
    val daily = pairs.groupBy("d")
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val est = daily
      .withColumn("serve",
        sequence(col("d"), col("d") + expr("INTERVAL 6 DAYS"), expr("INTERVAL 1 DAY")))
      .select(explode_outer(col("serve")).as("day"), col("sk"))
      .groupBy("day")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est_7d"))
    val exact = pairs.distinct()
      .withColumn("serve",
        sequence(col("d"), col("d") + expr("INTERVAL 6 DAYS"), expr("INTERVAL 1 DAY")))
      .select(explode_outer(col("serve")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("users_7d"))
    val days = pairs.select(col("d").as("day")).distinct()
    days.join(exact, "day").join(est, "day")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("users_7d"),
        (abs(col("est_7d").cast("double") - col("users_7d").cast("double")) <=
          greatest(lit(4.0), col("users_7d").cast("double") * 0.05)).as("bound_ok"))
      .orderBy("day")
  }

  private val sqlRollingHll =
    """WITH p AS (SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, user_id
      |           FROM events),
      |     spine AS (SELECT DISTINCT d AS day FROM p),
      |     win AS (SELECT s.day, count(DISTINCT p.user_id) AS users_7d
      |             FROM p JOIN spine s
      |               ON p.d >= s.day - INTERVAL 6 DAY AND p.d <= s.day
      |             GROUP BY 1)
      |SELECT strftime(day, '%Y-%m-%d') AS day, users_7d, TRUE AS bound_ok
      |FROM win ORDER BY day""".stripMargin

  /** Sliding windows: 1-hour windows every 30 minutes — each event
    * contributes to exactly 2 overlapping windows (len/slide copies;
    * Spark expands them at the scan, the aggregation stays a single
    * partial+final hash agg keyed on (window, type)). The oracle
    * replays the expansion arithmetically: epoch-aligned 30-minute
    * floors at offsets 0 and 1.
    */
  def eventsSliding(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("win_start", "event_type")

  private val sqlEventsSliding =
    """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
      |     x AS (SELECT make_timestamp((epoch_us(ts) // 1800000000 - off) * 1800000000) AS ws,
      |                  event_type, value
      |           FROM e CROSS JOIN (SELECT unnest([0, 1]) AS off))
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
      |       event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM x GROUP BY ws, event_type ORDER BY win_start, event_type""".stripMargin

  /** 20. As-of join: each purchase event attached to the user's
    * latest click at-or-before the purchase time ([[AsOfJoin]] — one
    * key-partitioned shuffle, no range join). Lag reported in exact
    * integer microseconds (both engines subtract epoch-µs BIGINTs).
    */
  def asofClicks(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    AsOfJoin.asOf(purchases, clicks, key = "user_id", ts = "ts",
        tieCol = "click_id", valueCols = Seq("click_id"))
      .select(col("event_id"), col("user_id"),
        col("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("__r_ts"))).as("lag_us"))
      .orderBy("event_id")
  }

  private val sqlAsofClicks =
    """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |     p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
      |     c AS (SELECT user_id, ts, event_id AS click_id FROM e WHERE event_type = 'click'),
      |     best AS (SELECT p.event_id, p.user_id, p.ts,
      |                     c.click_id, c.ts AS click_ts,
      |                     row_number() OVER (PARTITION BY p.event_id
      |                       ORDER BY c.ts DESC, c.click_id DESC) AS rk
      |              FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
      |SELECT event_id, user_id, click_id,
      |       epoch_us(ts) - epoch_us(click_ts) AS lag_us
      |FROM best WHERE rk = 1 ORDER BY event_id""".stripMargin

  /** 21. Range join: each purchase joined into its user's view-span
    * interval (first view … last view) via the bucketed interval join
    * ([[graft.olap.RangeJoin]] — equi-join on (user, week cell) +
    * exact refine, never a theta join). The oracle replays the same
    * semantics as a plain BETWEEN join — blocking is physical only.
    * Sum rounded at the edge; count is exact.
    */
  def rangeJoinSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val spans = ev.filter(col("event_type") === "view")
      .groupBy("user_id")
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    graft.olap.RangeJoin.pointInInterval(purchases, spans,
        key = "user_id", pt = "ts", start = "start_ts", end = "end_ts",
        bucket = 7L * 86400) // week cells ≈ median span scale
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_in_span"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy("user_id")
  }

  private val sqlRangeJoinSpans =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |     spans AS (SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts
      |               FROM e WHERE event_type = 'view' GROUP BY user_id),
      |     p AS (SELECT user_id, ts, value FROM e WHERE event_type = 'purchase')
      |SELECT p.user_id, count(*) AS n_in_span, round(sum(p.value), 4) AS sum_value
      |FROM p JOIN spans ON p.user_id = spans.user_id
      |                 AND p.ts >= spans.start_ts AND p.ts <= spans.end_ts
      |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin

  /** Clickstream transition matrix: for every user timeline, count
    * (event_type → next event_type) adjacencies — the first-order
    * Markov statistics behind next-action models and the sequence
    * sanity check run before exporting behavioral training data.
    *
    * Shape: one `lead` window PARTITIONED BY user (per-user timelines
    * are bounded; key cardinality = users, the same shuffle key as the
    * session queries), then a hash aggregate onto the types² matrix —
    * bounded output regardless of event volume. Equal timestamps are
    * tie-broken by event_id on BOTH sides, otherwise the adjacency
    * relation itself is nondeterministic.
    */
  def transitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  private val sqlTransitions =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |           FROM events),
      |     nx AS (SELECT event_type AS from_type,
      |                   lead(event_type) OVER (PARTITION BY user_id
      |                                          ORDER BY ts, event_id) AS to_type
      |            FROM e)
      |SELECT from_type, to_type, count(*) AS n
      |FROM nx WHERE to_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin

  // ---------- q_reciprocity: directed-transition reciprocity ----------

  /** Reciprocity of the session transition graph — for the directed
    * event-type edges [[transitions]] mines, how often does the
    * reverse edge also occur (edge reciprocity), and how much of the
    * transition VOLUME is matched by reverse volume (weighted
    * reciprocity, Σ min(n_ab, n_ba)/Σ n_ab — Garlaschelli & Loffredo
    * 2004)? High reciprocity says the funnel has back-edges (users
    * bounce between states); near-zero says the flow is a DAG — the
    * structural read that decides whether funnel analyses may assume
    * forward progress.
    *
    * Shape: the shared oracle-verified [[transitions]] kernel (one
    * lead window at user grain, type-pair aggregate), then a
    * self-join at TYPE-PAIR grain (bounded by |types|²) and one
    * global integer aggregate; two round4 ratios at the edge.
    */
  def reciprocity(spark: SparkSession, sfDir: String): DataFrame = {
    val tr = transitions(spark, sfDir)
      .filter(col("from_type") =!= col("to_type"))
    val rev = tr.select(col("from_type").as("to_type"),
      col("to_type").as("from_type"), col("n").as("n_rev"))
    tr.join(rev, Seq("from_type", "to_type"), "left")
      .agg(count(lit(1)).as("n_edges"),
        count(col("n_rev")).as("n_reciprocated"),
        sum(col("n")).as("n_transitions"),
        sum(least(col("n"), coalesce(col("n_rev"), lit(0L)))).as("n_matched"))
      .select(col("n_edges"), col("n_reciprocated"),
        col("n_transitions"), col("n_matched"),
        round4(col("n_reciprocated").cast("double") /
          col("n_edges").cast("double")).as("edge_reciprocity"),
        round4(col("n_matched").cast("double") /
          col("n_transitions").cast("double")).as("weight_reciprocity"))
  }

  private def sqlReciprocity =
    s"""WITH t0 AS ($sqlTransitions),
       |     t AS (SELECT from_type, to_type, n FROM t0 WHERE from_type <> to_type),
       |     j AS (SELECT a.n AS n, b.n AS n_rev
       |           FROM t a LEFT JOIN t b
       |             ON a.from_type = b.to_type AND a.to_type = b.from_type)
       |SELECT CAST(count(*) AS BIGINT) AS n_edges,
       |       CAST(count(n_rev) AS BIGINT) AS n_reciprocated,
       |       CAST(sum(n) AS BIGINT) AS n_transitions,
       |       CAST(sum(least(n, coalesce(n_rev, 0))) AS BIGINT) AS n_matched,
       |       ${duckRound4(
                 "CAST(count(n_rev) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS edge_reciprocity,
       |       ${duckRound4(
                 "CAST(sum(least(n, coalesce(n_rev, 0))) AS DOUBLE) / CAST(sum(n) AS DOUBLE)")} AS weight_reciprocity
       |FROM j""".stripMargin

  // ---------- q_sax: symbolic aggregate approximation words ----------

  /** SAX breakpoints for a 4-symbol alphabet: the standard N(0,1)
    * quartile cuts (Lin et al. 2003), compared against the ROUNDED
    * z-score per the round-before-compare rule.
    */
  private val SaxCuts = Seq(-0.6745, 0.0, 0.6745)

  /** SAX words over the daily purchase-volume profile: each day's
    * 24-hour series is PAA-compressed to six 4-hour segments,
    * z-normalized against the global segment distribution, and
    * mapped to a 4-letter alphabet — the symbolic time-series
    * representation behind motif discovery, series indexing, and
    * cheap anomaly grep (days whose word differs from the modal word
    * are shape anomalies, not just volume ones).
    *
    * Shape: one (day, segment) hash aggregate over exact integer
    * cents → global moments via the DECIMAL recipe (one broadcast
    * row) → per-segment symbol via a CASE ladder on round4(z) →
    * per-day ordered word assembly (sort_array over the ≤6 segment
    * structs — bounded in-row work, no window). Everything after the
    * first aggregate is day-grain.
    */
  def sax(spark: SparkSession, sfDir: String): DataFrame = {
    val seg = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        (hour(col("ts")) / 4).cast("int").as("seg"),
        units(col("value"), 100.0).cast("long").as("cents"))
      .groupBy("day", "seg")
      .agg((sum(col("cents")).cast("double") / 100.0).as("x"))
    val m = seg.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,2)")).as("sx"),
      sum(col("x").cast("decimal(18,2)") * col("x").cast("decimal(20,2)")).as("sxx"))
    val nD = col("n").cast("double")
    val mean = col("sx").cast("double") / nD
    val sd = sqrt((col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double") / nD) / (nD - 1.0))
    val z = round4((col("x") - col("mu")) / col("sigma"))
    val sym = when(z < SaxCuts(0), "a")
      .when(z < SaxCuts(1), "b")
      .when(z < SaxCuts(2), "c").otherwise("d")
    seg.crossJoin(broadcast(m.select(mean.as("mu"), sd.as("sigma"))))
      .withColumn("sym", sym)
      .groupBy("day")
      .agg(count(lit(1)).as("n_segments"),
        array_join(transform(
          sort_array(collect_list(struct(col("seg"), col("sym").as("s")))),
          p => p.getField("s")), "").as("sax_word"))
      .orderBy("day")
  }

  private val sqlSax = {
    val mean = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val sd = "sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))"
    val z = duckRound4(s"(x - mu) / sigma")
    s"""WITH p AS (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
       |                  CAST(hour(CAST(ts AS TIMESTAMP)) // 4 AS INT) AS seg,
       |                  CAST(${duckUnits("value", 100.0)} AS BIGINT) AS cents
       |           FROM events
       |           WHERE event_type = 'purchase' AND value IS NOT NULL),
       |     sg AS (SELECT day, seg, CAST(sum(cents) AS DOUBLE) / 100.0 AS x
       |            FROM p GROUP BY 1, 2),
       |     m AS (SELECT count(*) AS n,
       |                  sum(CAST(x AS DECIMAL(18,2))) AS sx,
       |                  sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(20,2))) AS sxx
       |           FROM sg),
       |     mm AS (SELECT $mean AS mu, $sd AS sigma FROM m),
       |     sym AS (SELECT day, seg,
       |                    CASE WHEN $z < ${SaxCuts(0)} THEN 'a'
       |                         WHEN $z < ${SaxCuts(1)} THEN 'b'
       |                         WHEN $z < ${SaxCuts(2)} THEN 'c'
       |                         ELSE 'd' END AS s
       |             FROM sg CROSS JOIN mm)
       |SELECT day, CAST(count(*) AS BIGINT) AS n_segments,
       |       string_agg(s, '' ORDER BY seg) AS sax_word
       |FROM sym GROUP BY day ORDER BY day""".stripMargin
  }

  // ---------- q_entropy_rate: sequence predictability audit ----------

  /** Entropy rate of the per-user event-type process — the
    * information-theoretic answer to "how predictable is the next
    * event": H(next | current) = Σᵢ pᵢ·H(rowᵢ) over the first-order
    * transition matrix (the [[transitions]] kernel), reported next to
    * the marginal entropy H(next) so the gap — the mutual information
    * the current state carries — is visible. Near-zero gap says a
    * Markov recommender adds nothing; a large gap justifies one.
    *
    * Shape: the same per-user lead window as [[transitions]]
    * (user-cardinality partitions), one bounded 25-cell aggregate,
    * then cell-grain arithmetic. Parity: counts exact; ln terms sum
    * in round6-DECIMAL (the cramersV recipe); one rounding per
    * output column.
    */
  def entropyRate(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val cell = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTot = cell.groupBy("from_type").agg(sum(col("n")).as("nf"))
    val toTot = cell.groupBy("to_type").agg(sum(col("n")).as("nt"))
    val tot = cell.agg(sum(col("n")).as("ntot"))
    val totD = col("ntot").cast("double")
    // H(next|current) = -Σ_ij (n_ij/N) ln(n_ij/n_i)
    val hCond = cell.join(broadcast(fromTot), "from_type")
      .crossJoin(broadcast(tot))
      .withColumn("term",
        -(col("n").cast("double") / totD) *
          log(col("n").cast("double") / col("nf").cast("double")))
      .groupBy("ntot").agg(sum(round6(col("term")).cast("decimal(18,6)")).as("hcond_dec"))
    // H(next) = -Σ_j (n_j/N) ln(n_j/N)
    val hMarg = toTot.crossJoin(broadcast(tot))
      .withColumn("term",
        -(col("nt").cast("double") / totD) * log(col("nt").cast("double") / totD))
      .groupBy("ntot").agg(sum(round6(col("term")).cast("decimal(18,6)")).as("hmarg_dec"))
    hCond.join(hMarg, "ntot")
      .select(col("ntot").as("n_transitions"),
        round4(col("hcond_dec").cast("double")).as("h_cond"),
        round4(col("hmarg_dec").cast("double")).as("h_marginal"),
        round4(col("hmarg_dec").cast("double") -
          col("hcond_dec").cast("double")).as("mi_state"))
  }

  private val sqlEntropyRate = {
    s"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
       |           FROM events),
       |     nx AS (SELECT event_type AS from_type,
       |                   lead(event_type) OVER (PARTITION BY user_id
       |                                          ORDER BY ts, event_id) AS to_type
       |            FROM e),
       |     cell AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
       |              FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |     ft AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS nf FROM cell GROUP BY 1),
       |     tt AS (SELECT to_type, CAST(sum(n) AS BIGINT) AS nt FROM cell GROUP BY 1),
       |     tot AS (SELECT CAST(sum(n) AS BIGINT) AS ntot FROM cell),
       |     hc AS (SELECT ntot, sum(CAST(${duckRound6(
                  "-(CAST(n AS DOUBLE) / CAST(ntot AS DOUBLE)) * " +
                    "ln(CAST(n AS DOUBLE) / CAST(nf AS DOUBLE))")} AS DECIMAL(18,6))) AS hcond_dec
       |            FROM cell JOIN ft USING (from_type) CROSS JOIN tot GROUP BY 1),
       |     hm AS (SELECT ntot, sum(CAST(${duckRound6(
                  "-(CAST(nt AS DOUBLE) / CAST(ntot AS DOUBLE)) * " +
                    "ln(CAST(nt AS DOUBLE) / CAST(ntot AS DOUBLE))")} AS DECIMAL(18,6))) AS hmarg_dec
       |            FROM tt CROSS JOIN tot GROUP BY 1)
       |SELECT ntot AS n_transitions,
       |       ${duckRound4("CAST(hcond_dec AS DOUBLE)")} AS h_cond,
       |       ${duckRound4("CAST(hmarg_dec AS DOUBLE)")} AS h_marginal,
       |       ${duckRound4("CAST(hmarg_dec AS DOUBLE) - CAST(hcond_dec AS DOUBLE)")} AS mi_state
       |FROM hc JOIN hm USING (ntot)""".stripMargin
  }

  // ---------- q_ewma_trend: EWMA-smoothed daily event volume ----------

  /** Exponentially-weighted moving average over each event type's
    * daily volume (α = 0.3) — the smoothed trend/anomaly baseline a
    * monitoring pipeline keeps per stream. Emits the series length,
    * the final day's raw count, and the EWMA it lands on, so a
    * threshold alert compares `last_cnt` against `ewma`.
    *
    * Cross-engine determinism: the recurrence s₁ = x₁,
    * sᵢ = 0.3·xᵢ + 0.7·sᵢ₋₁ is inherently ordered, so it is evaluated
    * as an explicit LEFT FOLD on both engines (Spark `aggregate` over
    * the day-sorted counts seeded with the first element ≡ DuckDB
    * `list_reduce`, which folds left from the head) — the float-fold
    * parity rule. Day order comes from `sort_array(collect_list)` ≡
    * `list(... ORDER BY day)`, total because days are distinct within
    * a type.
    *
    * Scale: the fold input is the DAILY aggregate per type — calendar
    * cardinality (n_days × types), not event cardinality; the heavy
    * work is one partial+final hash agg over the raw events. A
    * longer-horizon deployment windows the fold (EWMA telescopes:
    * seed each chunk with the previous chunk's smoothed value).
    */
  def ewmaTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("cnt")))).as("series"))
      .withColumn("cs", transform(col("series"), s => s.getField("cnt").cast("double")))
      .select(col("event_type"),
        size(col("cs")).cast("long").as("n_days"),
        element_at(col("cs"), -1).cast("long").as("last_cnt"),
        round4(
          aggregate(slice(col("cs"), 2, 1000000), element_at(col("cs"), 1),
            (acc, x) => lit(0.3) * x + lit(0.7) * acc)).as("ewma"))
      .orderBy("event_type")
  }

  // ---------- q_holt: double-exponential (level+trend) smoothing ----------

  /** Holt's linear-trend smoothing over each event type's daily
    * volume (Holt 1957): the two coupled recursions lₜ = αxₜ +
    * (1−α)(lₜ₋₁+tₜ₋₁), tₜ = β(lₜ−lₜ₋₁) + (1−β)tₜ₋₁ — what
    * [[ewmaTrend]]'s single smoother cannot express (EWMA lags any
    * trending series by design; Holt tracks the slope and emits the
    * 1-step-ahead forecast l+t an alerting pipeline thresholds on).
    * α = β = ½ (dyadic, exactly representable).
    *
    * Mechanism: a LEFT FOLD with 2-component state — the
    * [level, trend] pair rides through `aggregate` as an
    * array<double> accumulator (the scalar-fold EWMA mechanism,
    * state-widened); the oracle mirrors it with `list_reduce` over
    * singleton-list elements with the [l₀, 0] init prepended (DuckDB
    * requires acc type = element type, so xₜ travels as [xₜ]).
    * Identical IEEE op order per step on both engines; the fold is
    * in-row over the bounded daily series (≤31 steps), one rounding
    * per output.
    */
  def holt(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("cnt")))).as("series"))
      .withColumn("cs", transform(col("series"), s => s.getField("cnt").cast("double")))
      .withColumn("lt",
        aggregate(slice(col("cs"), 2, 1000000),
          array(element_at(col("cs"), 1), lit(0.0)),
          (acc, x) => {
            val l = element_at(acc, 1)
            val t = element_at(acc, 2)
            val nl = lit(0.5) * x + lit(0.5) * (l + t)
            array(nl, lit(0.5) * (nl - l) + lit(0.5) * t)
          }))
      .select(col("event_type"),
        size(col("cs")).cast("long").as("n_days"),
        round4(element_at(col("lt"), 1)).as("level"),
        round4(element_at(col("lt"), 2)).as("trend"),
        round4(
          element_at(col("lt"), 1) + element_at(col("lt"), 2)).as("forecast_next"))
      .orderBy("event_type")
  }

  private val sqlHolt = {
    val nl = "0.5 * e[1] + 0.5 * (acc[1] + acc[2])"
    s"""WITH d AS (SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |                  count(*) AS cnt
       |           FROM events GROUP BY 1, 2),
       |     s AS (SELECT event_type,
       |                  list_transform(list_sort(list({'day': day, 'cnt': cnt})),
       |                                 p -> CAST(p.cnt AS DOUBLE)) AS cs
       |           FROM d GROUP BY 1),
       |     f AS (SELECT event_type, cs,
       |                  list_reduce(
       |                    list_prepend([cs[1], 0.0],
       |                      list_transform(cs[2:], x -> [x])),
       |                    (acc, e) -> [$nl,
       |                                 0.5 * (($nl) - acc[1]) + 0.5 * acc[2]]) AS lt
       |           FROM s)
       |SELECT event_type, CAST(len(cs) AS BIGINT) AS n_days,
       |       ${duckRound4("lt[1]")} AS level,
       |       ${duckRound4("lt[2]")} AS trend,
       |       ${duckRound4("lt[1] + lt[2]")} AS forecast_next
       |FROM f ORDER BY event_type""".stripMargin
  }

  // ---------- q_holt_winters: additive triple-exponential smoothing ----------

  /** Additive Holt-Winters (level + trend + 7-day seasonal) over the
    * per-type daily counts — [[holt]] plus the seasonal component, the
    * smoother that stops a weekly traffic dip from reading as trend
    * loss. All three smoothing constants are the DYADIC 1/2 (the
    * [[timeDecay]]/[[holt]] rule: halving and adding doubles are
    * correctly-rounded IEEE ops, so the identical left fold is
    * bit-exact on both engines — no per-step rounding needed, where
    * a conventional α=0.3 would drift in the last ulp). Seasonal
    * state is a 7-slot rotating queue inside the fold accumulator
    * ([L, T, S₁..S₇]; slot 3 is the current day's, re-enqueued
    * smoothed at the back), zero-initialized — a definition both
    * engines replay verbatim, like [[holt]]'s L₀=x₁ T₀=0.
    *
    * Scale: the fold runs over day-grain series per type — bounded by
    * calendar span, never event volume (the [[ewmaTrend]] grain note).
    */
  def holtWinters(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("cnt")))).as("series"))
      .withColumn("cs", transform(col("series"), s => s.getField("cnt").cast("double")))
      .withColumn("hw",
        aggregate(slice(col("cs"), 2, 1000000),
          concat(array(element_at(col("cs"), 1), lit(0.0)),
            array_repeat(lit(0.0), 7)),
          (acc, x) => {
            val l = element_at(acc, 1)
            val t = element_at(acc, 2)
            val s = element_at(acc, 3)
            val nl = lit(0.5) * (x - s) + lit(0.5) * (l + t)
            val nt = lit(0.5) * (nl - l) + lit(0.5) * t
            val ns = lit(0.5) * (x - nl) + lit(0.5) * s
            concat(array(nl, nt), slice(acc, 4, 6), array(ns))
          }))
      .select(col("event_type"),
        size(col("cs")).cast("long").as("n_days"),
        round4(element_at(col("hw"), 1)).as("level"),
        round4(element_at(col("hw"), 2)).as("trend"),
        round4(element_at(col("hw"), 3)).as("seasonal_next"),
        round4(element_at(col("hw"), 1) +
          element_at(col("hw"), 2) + element_at(col("hw"), 3)).as("forecast_next"))
      .orderBy("event_type")
  }

  private val sqlHoltWinters = {
    val nl = "0.5 * (e[1] - acc[3]) + 0.5 * (acc[1] + acc[2])"
    val nt = s"0.5 * (($nl) - acc[1]) + 0.5 * acc[2]"
    val ns = s"0.5 * (e[1] - ($nl)) + 0.5 * acc[3]"
    s"""WITH d AS (SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |                  count(*) AS cnt
       |           FROM events GROUP BY 1, 2),
       |     s AS (SELECT event_type,
       |                  list_transform(list_sort(list({'day': day, 'cnt': cnt})),
       |                                 p -> CAST(p.cnt AS DOUBLE)) AS cs
       |           FROM d GROUP BY 1),
       |     f AS (SELECT event_type, cs,
       |                  list_reduce(
       |                    list_prepend([cs[1], 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
       |                      list_transform(cs[2:], x -> [x])),
       |                    (acc, e) -> [$nl, $nt,
       |                                 acc[4], acc[5], acc[6], acc[7], acc[8], acc[9],
       |                                 $ns]) AS hw
       |           FROM s)
       |SELECT event_type, CAST(len(cs) AS BIGINT) AS n_days,
       |       ${duckRound4("hw[1]")} AS level,
       |       ${duckRound4("hw[2]")} AS trend,
       |       ${duckRound4("hw[3]")} AS seasonal_next,
       |       ${duckRound4("hw[1] + hw[2] + hw[3]")} AS forecast_next
       |FROM f ORDER BY event_type""".stripMargin
  }

  private val sqlEwmaTrend =
    s"""WITH d AS (SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |                  count(*) AS cnt
       |           FROM events GROUP BY 1, 2),
       |     s AS (SELECT event_type, list(CAST(cnt AS DOUBLE) ORDER BY day) AS cs
       |           FROM d GROUP BY 1)
       |SELECT event_type, CAST(len(cs) AS BIGINT) AS n_days,
       |       CAST(cs[-1] AS BIGINT) AS last_cnt,
       |       ${duckRound4(
                  "list_reduce(cs, (acc, x) -> 0.3 * x + 0.7 * acc)")} AS ewma
       |FROM s ORDER BY event_type""".stripMargin

  // ---------- q_time_decay: dyadic half-life recency weighting ----------

  /** Cap on the half-life exponent: 2⁵² is the largest power of two
    * whose reciprocal scaling is still exact for every double
    * mantissa; events older than 52 half-lives contribute ~0 anyway.
    */
  private val DecayMaxK = 52L

  /** Recency-weighted value totals per event type: weight = 2^(−k)
    * where k = whole 7-day half-lives between the event and the
    * stream's newest event. The decay base is a POWER OF TWO
    * deliberately: multiplying a double by 2^(−k) only shifts the
    * exponent — exact on every IEEE engine — where the conventional
    * exp(−λ·age) has no cross-engine ulp guarantee (the same
    * correctly-rounded-ops-only rule that picked sqrt for
    * [[graft.text.CorpusOps.temperatureMix]]'s α). Ages are pure
    * integer arithmetic on epoch microseconds.
    *
    * Parity: the weighted values are exact per row, then round6'd and
    * summed AS DECIMAL (order-independent) with one round4 at the
    * edge — no order-dependent float sum ever reaches the output.
    * Shape: the reference timestamp joins in lazily (broadcast 1-row
    * cross join, the division/nRegions pattern), then ONE hash
    * aggregate over events. A streaming deployment keeps per-(type,
    * half-life-bucket) partial sums and rescales on read — the
    * telescoping EWMA note above, dyadic edition.
    */
  def timeDecay(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("value"))
    val mx = ev.agg(max(col("ts")).as("max_ts"))
    ev.crossJoin(broadcast(mx))
      .withColumn("k",
        least(expr("(unix_micros(max_ts) - unix_micros(ts)) DIV 86400000000 DIV 7"),
          lit(DecayMaxK)))
      .withColumn("wv", col("value") / expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(k AS INT)) AS DOUBLE)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(round6(col("wv")).cast("decimal(18,6)")).as("dec"))
      .select(col("event_type"), col("n_events"),
        round4(col("dec").cast("double")).as("decayed_value"))
      .orderBy("event_type")
  }

  private val sqlTimeDecay =
    s"""WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
       |     mx AS (SELECT max(ts) AS max_ts FROM e),
       |     k AS (SELECT event_type, value,
       |             least((epoch_us(max_ts) - epoch_us(ts)) // 86400000000 // 7,
       |                   $DecayMaxK) AS k
       |           FROM e CROSS JOIN mx),
       |     w AS (SELECT event_type,
       |             value / CAST((CAST(1 AS BIGINT) << CAST(k AS INT)) AS DOUBLE) AS wv
       |           FROM k)
       |SELECT event_type, count(*) AS n_events,
       |       ${duckRound4(
                  s"CAST(sum(CAST(${duckRound6("wv")}" +
                    " AS DECIMAL(18,6))) AS DOUBLE)")} AS decayed_value
       |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---------- q_funnel_paths: top session trigram paths ----------

  private val PathTopK = 10
  private val SessionGapUs = 1800L * 1000000L // 30 min, eventsSession's gap

  /** Top-[[PathTopK]] 3-step event-type paths inside user sessions —
    * sequential-pattern mining at trigram width, the "what do users
    * actually do" companion to [[transitions]]' bigram matrix and the
    * funnel query's fixed hypothesis (this one DISCOVERS the funnels
    * worth defining). Sessionization is the gaps-and-islands form of
    * [[eventsSession]]'s 30-minute rule (lag + running flag-sum), so
    * both engines carve identical sessions; paths then come from two
    * leads inside each session.
    *
    * Shape: both windows are user- (then session-) partitioned —
    * fact-scale PARTITIONING, never a global sort; the path count is
    * one hash aggregate and the top-k is TakeOrderedAndProject on
    * (count, path). Path strings are bounded (3 type names).
    */
  def funnelPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val wu = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val flagged = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"), col("event_type"))
      .withColumn("prev_us", lag(col("us"), 1).over(wu))
      .withColumn("new_session",
        when(col("prev_us").isNull
          || col("us") - col("prev_us") >= SessionGapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("new_session"))
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ws = Window.partitionBy("user_id", "sid").orderBy(col("us"), col("event_id"))
    flagged
      .withColumn("t2", lead(col("event_type"), 1).over(ws))
      .withColumn("t3", lead(col("event_type"), 2).over(ws))
      .where(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(PathTopK)
  }

  private val sqlFunnelPaths =
    s"""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
       |                  event_id, event_type FROM events),
       |     f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
       |                            OR us - lag(us) OVER w >= $SessionGapUs
       |                          THEN 1 ELSE 0 END AS new_session
       |           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |     s AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
       |                       ORDER BY us, event_id
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |           FROM f),
       |     p AS (SELECT event_type || '>' || lead(event_type, 1) OVER w2
       |                    || '>' || lead(event_type, 2) OVER w2 AS path,
       |                  lead(event_type, 2) OVER w2 AS t3
       |           FROM s WINDOW w2 AS (PARTITION BY user_id, sid
       |                                ORDER BY us, event_id))
       |SELECT path, CAST(count(*) AS BIGINT) AS n
       |FROM p WHERE t3 IS NOT NULL
       |GROUP BY path ORDER BY n DESC, path LIMIT $PathTopK""".stripMargin

  // ---------- q_value_drift: weekly χ² distribution drift ----------

  /** Week-over-week drift of the event-value distribution: χ² of each
    * week's value-decile histogram against the all-time decile shares
    * — the population-stability screen (the χ² form of PSI, ln-free
    * per the parity rules) a telemetry pipeline runs before trusting
    * week-trained thresholds on next week's feed. Fences are ONE
    * global exact-percentile row broadcast back ([[graft.olap
    * .OlapStats]]' convention, `approx_percentile` at 100 TB); the
    * decile of a value is a branch-free sum of boolean exceedances
    * (identical both engines); weeks are integer day-sevenths from
    * the broadcast min day. Per-term χ² contributions are round6-
    * DECIMAL summed (order-independent), rounded once at the edge.
    */
  def valueDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(date_trunc('day', ts))").as("day_us"), col("value"))
    // single array-percentile buffer (the q_equidepth_hist lesson)
    val fences = ev
      .agg(percentile(col("value"), array((1 to 9).map(d =>
        lit(d / 10.0)): _*)).as("qs"))
      .select((1 to 9).map(d => element_at(col("qs"), d).as(s"q$d")): _*)
    val minDay = ev.agg(min(col("day_us")).as("min_day"))
    val cells = ev.crossJoin(broadcast(fences)).crossJoin(broadcast(minDay))
      .withColumn("week",
        expr("(day_us - min_day) DIV 604800000000").cast("int"))
      .withColumn("decile",
        (1 to 9).map(d => when(col("value") > col(s"q$d"), 1).otherwise(0))
          .reduce(_ + _) + 1)
      .groupBy("week", "decile").agg(count(lit(1)).as("obs"))
      // Stage the week×decile contingency table ONCE (weeks×10 rows):
      // FOUR consumers (row totals, column totals, grand total, the
      // χ² join), each crossing a BroadcastExchange — unstaged, every
      // consumer re-ran the events scan + exact-percentile fences
      // (24 parquet scans in the before-plan).
      .localCheckpoint(true)
    val weekTot = cells.groupBy("week").agg(sum(col("obs")).as("wn"))
    val decTot = cells.groupBy("decile").agg(sum(col("obs")).as("dn"))
    val total = cells.agg(sum(col("obs")).as("n"))
    cells.join(broadcast(weekTot), "week")
      .join(broadcast(decTot), "decile")
      .crossJoin(broadcast(total))
      .withColumn("exp",
        col("wn").cast("double") * col("dn").cast("double") / col("n").cast("double"))
      .withColumn("term",
        (col("obs").cast("double") - col("exp")) * (col("obs").cast("double") - col("exp"))
          / col("exp"))
      .groupBy("week")
      .agg(max(col("wn")).as("n_events"), sum(round6(col("term")).cast("decimal(18,6)")).as("chi2_dec"))
      .select(col("week"), col("n_events"),
        round4(col("chi2_dec").cast("double")).as("chi2"))
      .orderBy("week")
  }

  private val sqlValueDrift = {
    val decileExpr = (1 to 9)
      .map(d => s"(CASE WHEN value > q$d THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH e AS (SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS day_us,
       |                  value FROM events),
       |     f AS (SELECT ${(1 to 9).map(d =>
                s"quantile_cont(value, ${d / 10.0}) AS q$d").mkString(", ")} FROM e),
       |     md AS (SELECT min(day_us) AS min_day FROM e),
       |     c AS (SELECT CAST((day_us - min_day) // 604800000000 AS INT) AS week,
       |                  1 + $decileExpr AS decile
       |           FROM e CROSS JOIN f CROSS JOIN md),
       |     cells AS (SELECT week, decile, CAST(count(*) AS BIGINT) AS obs
       |               FROM c GROUP BY 1, 2),
       |     wt AS (SELECT week, CAST(sum(obs) AS BIGINT) AS wn FROM cells GROUP BY 1),
       |     dt AS (SELECT decile, CAST(sum(obs) AS BIGINT) AS dn FROM cells GROUP BY 1),
       |     t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells),
       |     z AS (SELECT cells.week, obs, wn,
       |             CAST(wn AS DOUBLE) * CAST(dn AS DOUBLE) / CAST(n AS DOUBLE) AS exp
       |           FROM cells JOIN wt ON cells.week = wt.week
       |                      JOIN dt ON cells.decile = dt.decile CROSS JOIN t),
       |     term AS (SELECT week, wn,
       |                (CAST(obs AS DOUBLE) - exp) * (CAST(obs AS DOUBLE) - exp) / exp
       |                  AS term
       |              FROM z)
       |SELECT week, max(wn) AS n_events,
       |       ${duckRound4(s"CAST(sum(CAST(${duckRound6("term")}" +
                " AS DECIMAL(18,6))) AS DOUBLE)")} AS chi2
       |FROM term GROUP BY week ORDER BY week""".stripMargin
  }

  // ---------- q_peak_detect: hourly traffic-spike screen ----------

  private val PeakTopK = 20

  /** Hourly traffic-spike screen: the [[PeakTopK]] hours with the
    * highest count-to-median ratio per event type, each flagged
    * against a Poisson-aware fence (med + 3·√med — a RATIO fence is
    * scale-sensitive: relative Poisson noise shrinks as volume grows,
    * so a fixed 2× cut that fires at sf0.01 goes silent at sf0.1;
    * the √-fence and the always-top-K output stay informative at
    * every scale). Median, not mean: a single spike inflates the
    * mean and hides its siblings — the [[OlapStats]] MAD lesson at
    * hour grain.
    *
    * Shape: the hourly rollup is one (hour, type) hash aggregate —
    * the only fact-scale pass; the median runs over that BOUNDED
    * aggregate (hours × types rows) and broadcasts back. Ratio ranks
    * on the rounded value with (type, hour) tie-break.
    */
  def peakDetect(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val med = hourly.groupBy("event_type")
      .agg(percentile(col("n_events"), lit(0.5)).as("med"))
    hourly.join(broadcast(med), "event_type")
      .withColumn("ratio", round4(
        col("n_events").cast("double") / col("med")))
      .withColumn("flagged",
        col("n_events").cast("double") > col("med") + lit(3.0) * sqrt(col("med")))
      .select(col("event_type"), col("hour"), col("n_events"),
        round4(col("med")).as("median_hourly"),
        col("ratio"), col("flagged"))
      .orderBy(col("ratio").desc, col("event_type"), col("hour"))
      .limit(PeakTopK)
  }

  private val sqlPeakDetect = {
    s"""WITH h AS (SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
       |                           '%Y-%m-%d %H:%M:%S') AS hour,
       |                  event_type, CAST(count(*) AS BIGINT) AS n_events
       |           FROM events GROUP BY 1, 2),
       |     m AS (SELECT event_type, quantile_cont(n_events, 0.5) AS med
       |           FROM h GROUP BY 1),
       |     z AS (SELECT h.event_type, hour, n_events, med,
       |             ${duckRound4("CAST(n_events AS DOUBLE) / med")} AS ratio,
       |             CAST(n_events AS DOUBLE) > med + 3.0 * sqrt(med) AS flagged
       |           FROM h JOIN m ON h.event_type = m.event_type)
       |SELECT event_type, hour, n_events, ${duckRound4("med")} AS median_hourly,
       |       ratio, flagged
       |FROM z ORDER BY ratio DESC, event_type, hour LIMIT $PeakTopK""".stripMargin
  }

  // ---------- q_kaplan_meier: right-censored survival curve ----------

  /** High-value conversion threshold: value > 200 converts ~20% of
    * signed-up users at sf0.01, leaving the rest right-censored —
    * real censoring is the point (at 100% conversion KM degenerates
    * to 1−ECDF and the last factor hits 0).
    */
  private val KmValueFloor = 200.0

  /** Kaplan-Meier survival curve for time-to-high-value-purchase
    * (Kaplan & Meier 1958) — the right answer to "how long until
    * users convert" when most users HAVEN'T yet: non-converters are
    * right-censored at their last observed event instead of being
    * dropped (which biases fast) or counted as never (which biases
    * slow). Ŝ(t) = Π_{u≤t} (1 − d_u/n_u) over conversion days, with
    * the at-risk set shrinking by both conversions and censorings.
    *
    * Shape: three user-grain aggregates (signup, first qualifying
    * purchase, last observation) → one subject row per user → a
    * day-grain census. The cumulative product runs over the BOUNDED
    * day domain (conversion days ≤ observation window), not user
    * grain, so the single-partition window is aggregate-sized (scale
    * note: a fact-scale horizon would go through PrefixScan).
    * Parity: d/n are exact integers; the product is exp(Σ ln f) with
    * the frame-ordered window sum over ≤31 identical doubles (round4
    * absorbs exp/ln ulp); a d=n day would make f=0, so ln reads
    * ln(CASE f>0 THEN f ELSE 1) with a cumulative zero flag forcing
    * Ŝ=0 from that day on — Spark's ln(0)=NULL vs DuckDB's -inf
    * never evaluates. Day deltas are integer `div` over unix_micros ≡
    * epoch_us (the q_time_to_convert pair).
    */
  def kaplanMeier(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("unix_micros(ts)").as("us"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("s_us"))
    val pu = ev.filter(col("event_type") === "purchase" && col("value") > KmValueFloor)
      .join(su, "user_id").filter(col("us") >= col("s_us"))
      .groupBy("user_id").agg(min(col("us")).as("p_us"))
    val le = ev.groupBy("user_id").agg(max(col("us")).as("l_us"))
    val subj = su.join(pu, Seq("user_id"), "left").join(le, "user_id")
      .select(col("user_id"),
        when(col("p_us").isNotNull, expr("(p_us - s_us) div 86400000000"))
          .otherwise(expr("(l_us - s_us) div 86400000000")).as("t"),
        col("p_us").isNotNull.as("converted"))
    val census = subj.groupBy("t")
      .agg(sum(when(col("converted"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("leaving"))
    val nTotal = subj.agg(count(lit(1)).as("n_subjects"))
    // at-risk at t = subjects with time >= t = total - those leaving earlier
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wKm = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, 0)
    census.crossJoin(broadcast(nTotal))
      .withColumn("n_risk",
        col("n_subjects") - coalesce(sum(col("leaving")).over(wCum), lit(0L)))
      .filter(col("d") > 0)
      .withColumn("f",
        lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
      .withColumn("km",
        when(min(col("f")).over(wKm) === 0.0, lit(0.0))
          .otherwise(exp(sum(log(when(col("f") > 0.0, col("f")).otherwise(lit(1.0))))
            .over(wKm))))
      .select(col("t").as("day"), col("n_risk"), col("d").as("n_events"),
        round4(col("km")).as("survival"))
      .orderBy("day")
  }

  private val sqlKaplanMeier = {
    s"""WITH e AS (SELECT user_id, event_type, value,
       |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |           FROM events),
       |     su AS (SELECT user_id, min(us) AS s_us FROM e
       |            WHERE event_type = 'signup' GROUP BY 1),
       |     pu AS (SELECT e.user_id, min(e.us) AS p_us
       |            FROM e JOIN su ON e.user_id = su.user_id
       |            WHERE e.event_type = 'purchase' AND e.value > $KmValueFloor
       |              AND e.us >= su.s_us
       |            GROUP BY 1),
       |     le AS (SELECT user_id, max(us) AS l_us FROM e GROUP BY 1),
       |     subj AS (SELECT su.user_id,
       |                     CASE WHEN pu.p_us IS NOT NULL
       |                          THEN (pu.p_us - su.s_us) // 86400000000
       |                          ELSE (le.l_us - su.s_us) // 86400000000 END AS t,
       |                     pu.p_us IS NOT NULL AS converted
       |              FROM su LEFT JOIN pu ON su.user_id = pu.user_id
       |                      JOIN le ON su.user_id = le.user_id),
       |     census AS (SELECT t,
       |                       CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |                       CAST(count(*) AS BIGINT) AS leaving
       |                FROM subj GROUP BY 1),
       |     nt AS (SELECT CAST(count(*) AS BIGINT) AS n_subjects FROM subj),
       |     rk AS (SELECT t, d,
       |                   n_subjects - coalesce(sum(leaving) OVER (ORDER BY t
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
       |            FROM census CROSS JOIN nt),
       |     f AS (SELECT t, d, n_risk,
       |                  1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS f
       |           FROM rk WHERE d > 0),
       |     k AS (SELECT t, d, n_risk,
       |                  CASE WHEN min(f) OVER (ORDER BY t
       |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 0.0
       |                       THEN 0.0
       |                       ELSE exp(sum(ln(CASE WHEN f > 0.0 THEN f ELSE 1.0 END))
       |                              OVER (ORDER BY t
       |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |                  END AS km
       |           FROM f)
       |SELECT t AS day, CAST(n_risk AS BIGINT) AS n_risk, d AS n_events,
       |       ${duckRound4("km")} AS survival
       |FROM k ORDER BY day""".stripMargin
  }

  // ---------- q_nelson_aalen: cumulative-hazard curve ----------

  /** Per-user survival subject rows for time-to-high-value-purchase —
    * the [[kaplanMeier]] derivation factored for its siblings
    * ([[nelsonAalen]], [[logRank]]): one row per signed-up user with
    * duration `t` (days to first qualifying purchase, else to last
    * observation) and the `converted` flag.
    */
  private def kmSubjects(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("unix_micros(ts)").as("us"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("s_us"))
    val pu = ev.filter(col("event_type") === "purchase" && col("value") > KmValueFloor)
      .join(su, "user_id").filter(col("us") >= col("s_us"))
      .groupBy("user_id").agg(min(col("us")).as("p_us"))
    val le = ev.groupBy("user_id").agg(max(col("us")).as("l_us"))
    su.join(pu, Seq("user_id"), "left").join(le, "user_id")
      .select(col("user_id"),
        when(col("p_us").isNotNull, expr("(p_us - s_us) div 86400000000"))
          .otherwise(expr("(l_us - s_us) div 86400000000")).as("t"),
        col("p_us").isNotNull.as("converted"))
  }

  /** Shared oracle CTE chain ending in `subj` = (user_id, t,
    * converted) — the SQL twin of [[kmSubjects]].
    */
  private val duckKmSubjects =
    s"""e AS (SELECT user_id, event_type, value,
       |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |           FROM events),
       |     su AS (SELECT user_id, min(us) AS s_us FROM e
       |            WHERE event_type = 'signup' GROUP BY 1),
       |     pu AS (SELECT e.user_id, min(e.us) AS p_us
       |            FROM e JOIN su ON e.user_id = su.user_id
       |            WHERE e.event_type = 'purchase' AND e.value > $KmValueFloor
       |              AND e.us >= su.s_us
       |            GROUP BY 1),
       |     le AS (SELECT user_id, max(us) AS l_us FROM e GROUP BY 1),
       |     subj AS (SELECT su.user_id,
       |                     CASE WHEN pu.p_us IS NOT NULL
       |                          THEN (pu.p_us - su.s_us) // 86400000000
       |                          ELSE (le.l_us - su.s_us) // 86400000000 END AS t,
       |                     pu.p_us IS NOT NULL AS converted
       |              FROM su LEFT JOIN pu ON su.user_id = pu.user_id
       |                      JOIN le ON su.user_id = le.user_id)""".stripMargin

  /** Nelson-Aalen cumulative-hazard curve Ĥ(t) = Σ_{u≤t} d_u/n_u over
    * the same right-censored subjects as [[kaplanMeier]] (Nelson
    * 1972, Aalen 1978) — the estimator survival reviews read next to
    * KM because hazard SLOPE localizes when conversion risk changes
    * (KM's product form smears it), and because Ĥ needs no
    * transcendentals: each d/n is an exact rational collapsed to
    * round6 DECIMAL before the cumulative sum, so the curve is
    * engine-exact where KM's exp(Σln) needed a rounding guard.
    *
    * Shape: identical to KM — user-grain aggregates, then a BOUNDED
    * day-grain risk table; the cumulative windows run over that
    * aggregate grain (scale note: a fact-scale horizon would go
    * through PrefixScan), which is why PlanAuditSpec's window audit
    * allowlists this query.
    */
  def nelsonAalen(spark: SparkSession, sfDir: String): DataFrame = {
    val subj = kmSubjects(spark, sfDir)
    val census = subj.groupBy("t")
      .agg(sum(when(col("converted"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("leaving"))
    val nTotal = subj.agg(count(lit(1)).as("n_subjects"))
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNa = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, 0)
    census.crossJoin(broadcast(nTotal))
      .withColumn("n_risk",
        col("n_subjects") - coalesce(sum(col("leaving")).over(wCum), lit(0L)))
      .filter(col("d") > 0)
      .withColumn("h6",
        units(col("d").cast("double") / col("n_risk").cast("double"), 1e6).cast("decimal(28,0)"))
      .withColumn("cum_hazard", round4(
        sum(col("h6")).over(wNa).cast("double") / 1000000.0))
      .select(col("t").as("day"), col("n_risk"), col("d").as("n_events"),
        col("cum_hazard"))
      .orderBy("day")
  }

  private val sqlNelsonAalen = {
    s"""WITH $duckKmSubjects,
       |     census AS (SELECT t,
       |                       CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |                       CAST(count(*) AS BIGINT) AS leaving
       |                FROM subj GROUP BY 1),
       |     nt AS (SELECT CAST(count(*) AS BIGINT) AS n_subjects FROM subj),
       |     rk AS (SELECT t, d,
       |                   n_subjects - coalesce(sum(leaving) OVER (ORDER BY t
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
       |            FROM census CROSS JOIN nt),
       |     h AS (SELECT t, d, n_risk,
       |                  CAST(${duckUnits("CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)", 1e6)} AS DECIMAL(28,0)) AS h6
       |           FROM rk WHERE d > 0)
       |SELECT t AS day, CAST(n_risk AS BIGINT) AS n_risk, d AS n_events,
       |       ${duckRound4(
                 "CAST(sum(h6) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING " +
                   "AND CURRENT ROW) AS DOUBLE) / 1000000.0")} AS cum_hazard
       |FROM h ORDER BY day""".stripMargin
  }

  // ---------- q_logrank: two-cohort survival comparison ----------

  /** Log-rank (Mantel-Cox) test between two deterministic user
    * cohorts (even vs odd user_id — the A/B split a conversion
    * experiment would randomize): at every conversion time the
    * observed group-A conversions are compared against the
    * hypergeometric expectation d·n_A/n, with the standard variance
    * d·(n_A/n)·(n_B/n)·(n−d)/(n−1); χ² = (O−E)²/V (Mantel 1966).
    * This is the test that uses the WHOLE curve — comparing KM
    * medians throws away the censored tail.
    *
    * Parity: O is an exact integer; every E and V term is a fixed
    * rational expression of exact counts, collapsed to round6
    * DECIMAL before the cross-day sums (the CLAUDE.md float-sum
    * rule); χ² composes the two decimal-derived doubles once at the
    * edge. Shape: user-grain aggregates → BOUNDED (day × 2)-grain
    * risk table; cumulative windows over that aggregate grain only
    * (PlanAuditSpec window-allowlisted; fact-scale horizon → PrefixScan).
    */
  def logRank(spark: SparkSession, sfDir: String): DataFrame = {
    val subj = kmSubjects(spark, sfDir)
      .withColumn("ga", pmod(col("user_id"), lit(2)) === 0)
    val census = subj.groupBy("t")
      .agg(sum(when(col("converted") && col("ga"), 1L).otherwise(0L)).as("d1"),
        sum(when(col("converted") && !col("ga"), 1L).otherwise(0L)).as("d2"),
        sum(when(col("ga"), 1L).otherwise(0L)).as("l1"),
        sum(when(!col("ga"), 1L).otherwise(0L)).as("l2"))
    val nTotal = subj.agg(
      sum(when(col("ga"), 1L).otherwise(0L)).as("na0"),
      sum(when(!col("ga"), 1L).otherwise(0L)).as("nb0"))
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val rows = census.crossJoin(broadcast(nTotal))
      .withColumn("n1", col("na0") - coalesce(sum(col("l1")).over(wCum), lit(0L)))
      .withColumn("n2", col("nb0") - coalesce(sum(col("l2")).over(wCum), lit(0L)))
      .withColumn("d", col("d1") + col("d2"))
      .withColumn("n", col("n1") + col("n2"))
      .filter(col("d") > 0 && col("n") > 1)
    val nD = col("n").cast("double")
    val agg = rows.agg(
      sum(col("d1")).as("o1"),
      sum(units(col("d").cast("double") * col("n1").cast("double") / nD, 1e6).cast("decimal(28,0)")).as("e6"),
      sum(units(col("d").cast("double") * (col("n1").cast("double") / nD)
        * (col("n2").cast("double") / nD)
        * ((col("n") - col("d")).cast("double") / (nD - 1.0)), 1e6).cast("decimal(28,0)")).as("v6"))
    val e = col("e6").cast("double") / 1000000.0
    val v = col("v6").cast("double") / 1000000.0
    agg.select(col("o1").as("observed_a"),
      round4(e).as("expected_a"),
      round4(v).as("variance"),
      round4(
        (col("o1").cast("double") - e) * (col("o1").cast("double") - e) / v)
        .as("chi2"))
  }

  private val sqlLogRank = {
    val e = "CAST(e6 AS DOUBLE) / 1000000.0"
    val v = "CAST(v6 AS DOUBLE) / 1000000.0"
    s"""WITH $duckKmSubjects,
       |     sg AS (SELECT t, converted, user_id % 2 = 0 AS ga FROM subj),
       |     census AS (SELECT t,
       |                  CAST(sum(CASE WHEN converted AND ga THEN 1 ELSE 0 END) AS BIGINT) AS d1,
       |                  CAST(sum(CASE WHEN converted AND NOT ga THEN 1 ELSE 0 END) AS BIGINT) AS d2,
       |                  CAST(sum(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS l1,
       |                  CAST(sum(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS BIGINT) AS l2
       |                FROM sg GROUP BY 1),
       |     nt AS (SELECT CAST(sum(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS na0,
       |                   CAST(sum(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS BIGINT) AS nb0
       |            FROM sg),
       |     rk AS (SELECT t, d1, d2,
       |                   na0 - coalesce(sum(l1) OVER (ORDER BY t
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
       |                   nb0 - coalesce(sum(l2) OVER (ORDER BY t
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2
       |            FROM census CROSS JOIN nt),
       |     rows0 AS (SELECT d1, d1 + d2 AS d, n1, n2, n1 + n2 AS n
       |               FROM rk WHERE d1 + d2 > 0 AND n1 + n2 > 1),
       |     ag AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
       |              sum(CAST(${duckUnits("CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)", 1e6)}
       |                AS DECIMAL(28,0))) AS e6,
       |              sum(CAST(${duckUnits(
                       "CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)) " +
                         "* (CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE)) " +
                         "* (CAST(n - d AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0))", 1e6)} AS DECIMAL(28,0))) AS v6
       |            FROM rows0)
       |SELECT o1 AS observed_a,
       |       ${duckRound4(e)} AS expected_a,
       |       ${duckRound4(v)} AS variance,
       |       ${duckRound4(s"(CAST(o1 AS DOUBLE) - ($e)) * (CAST(o1 AS DOUBLE) - ($e)) / ($v)")} AS chi2
       |FROM ag""".stripMargin
  }

  // ---------- q_apdex: SLO satisfaction score ----------

  /** Satisfied-latency threshold T (tolerating ≤ 4T, the standard
    * Apdex multiplier). 50 sits just above the corpus median so both
    * classes are populated at every SF.
    */
  private val ApdexT = 50.0

  /** Apdex score per event type — the industry-standard SLO rollup
    * (Apdex Alliance spec): (satisfied + tolerating/2) / n with
    * satisfied = latency ≤ T, tolerating = T < latency ≤ 4T. The
    * one-number companion to [[latencyBands]]' percentile trend —
    * dashboards show both because percentiles hide the mix shift
    * Apdex is built to expose.
    *
    * Shape: one map-side-combinable conditional-count aggregate at
    * type grain. Counts exact (comparisons run on the same stored
    * doubles in both engines); the score is one fixed-shape division
    * rounded at the edge.
    */
  def apdex(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value") <= ApdexT, 1L).otherwise(0L)).as("n_satisfied"),
        sum(when(col("value") > ApdexT && col("value") <= 4 * ApdexT, 1L)
          .otherwise(0L)).as("n_tolerating"))
      .withColumn("apdex", round4(
        (col("n_satisfied").cast("double") +
          col("n_tolerating").cast("double") / 2.0) /
          col("n_events").cast("double")))
      .orderBy("event_type")

  private val sqlApdex =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(sum(CASE WHEN value <= $ApdexT THEN 1 ELSE 0 END) AS BIGINT) AS n_satisfied,
       |       CAST(sum(CASE WHEN value > $ApdexT AND value <= ${4 * ApdexT} THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating,
       |       ${duckRound4(
                 s"(CAST(sum(CASE WHEN value <= $ApdexT THEN 1 ELSE 0 END) AS DOUBLE) " +
                   s"+ CAST(sum(CASE WHEN value > $ApdexT AND value <= ${4 * ApdexT} THEN 1 ELSE 0 END) AS DOUBLE) / 2.0) " +
                   "/ CAST(count(*) AS DOUBLE)")} AS apdex
       |FROM events WHERE value IS NOT NULL
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------- q_latency_bands: monthly percentile bands ----------

  /** Daily P50/P95/P99 bands of event value per event type — the
    * SLO-style percentile trend every operations dashboard charts
    * over telemetry (day grain: the testdata spans one month, and
    * the day axis is what a latency dashboard plots anyway). One
    * hash aggregate at (day, type) grain; the
    * percentiles are exact per group (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the proven bit-identical pair — swap
    * `approx_percentile` at 100 TB, same shape, the winsorize/MAD
    * convention). Month formatting is the momDelta parity pair
    * (date_format ≡ strftime).
    */
  def latencyBands(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        percentile(col("value"),
          array(lit(0.5), lit(0.95), lit(0.99))).as("ps"))
      .select(col("day"), col("event_type"), col("n_events"),
        round4(element_at(col("ps"), 1)).as("p50"),
        round4(element_at(col("ps"), 2)).as("p95"),
        round4(element_at(col("ps"), 3)).as("p99"))
      .orderBy("day", "event_type")
  }

  private val sqlLatencyBands = {
    s"""SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
       |       event_type, CAST(count(*) AS BIGINT) AS n_events,
       |       ${duckRound4("quantile_cont(value, 0.5)")} AS p50,
       |       ${duckRound4("quantile_cont(value, 0.95)")} AS p95,
       |       ${duckRound4("quantile_cont(value, 0.99)")} AS p99
       |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin
  }

  // ---------- q_burstiness: inter-arrival burstiness screen ----------

  private val BurstMinGaps = 20

  /** Per-user inter-arrival burstiness (Goh & Barabási, "Burstiness
    * and memory in complex systems", 2008): B = (σ−μ)/(σ+μ) over the
    * gaps between a user's consecutive events. B→−1 is a metronome,
    * B≈0 is Poisson, B→1 is bursty — the screen that separates bot
    * traffic (periodic) from humans (bursty) and flags scraping in
    * ingestion telemetry. Only users with ≥ $BurstMinGaps gaps are
    * scored; top 20 burstiest reported.
    *
    * Shape: ONE user-partitioned window (lag by ts — fact-scale
    * partitioning, never a global sort), then a user-grain hash
    * aggregate, then TakeOrderedAndProject (20 rows cross the wire).
    * Parity: gaps are floored to whole SECONDS (integer µs DIV 1e6,
    * ≡ DuckDB //) so Σgap and Σgap² are exact integers (Σgap² summed
    * AS DECIMAL(38,0) — gap ≤ corpus span keeps gap² < 2^63, the sum
    * exact at any cardinality); mean/variance then evaluate the SAME
    * double expression tree on identical exact inputs on both
    * engines, and σ is a bare sqrt (IEEE-correctly-rounded, the only
    * cross-engine-safe transcendental). Output rounds once at the
    * edge; the top-20 rank orders on the ROUNDED score with user_id
    * as tiebreak (round-before-compare rule).
    */
  def burstiness(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val gaps = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("gap_s", expr("(us - prev_us) DIV 1000000"))
      .where(col("gap_s").isNotNull)
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("sum_s"),
        sum((col("gap_s") * col("gap_s")).cast("decimal(38,0)")).as("sq_dec"))
      .where(col("n_gaps") >= BurstMinGaps)
      .withColumn("mean", col("sum_s").cast("double") / col("n_gaps").cast("double"))
      .withColumn("variance",
        (col("sq_dec").cast("double") -
          col("sum_s").cast("double") * col("sum_s").cast("double")
            / col("n_gaps").cast("double"))
          / (col("n_gaps").cast("double") - lit(1.0)))
      .withColumn("std", sqrt(col("variance")))
      .withColumn("burstiness", round4(
        (col("std") - col("mean")) / (col("std") + col("mean"))))
      .withColumn("cv", round4(col("std") / col("mean")))
      .withColumn("mean_gap_s", round4(col("mean")))
      .select("user_id", "n_gaps", "mean_gap_s", "cv", "burstiness")
      .orderBy(col("burstiness").desc, col("user_id"))
      .limit(20)
  }

  private val sqlBurstiness = {
    s"""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
       |           FROM events),
       |     g AS (SELECT user_id,
       |             (us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id))
       |               // 1000000 AS gap_s
       |           FROM e),
       |     a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
       |                  CAST(sum(gap_s) AS BIGINT) AS sum_s,
       |                  sum(CAST(gap_s * gap_s AS DECIMAL(38,0))) AS sq_dec
       |           FROM g WHERE gap_s IS NOT NULL GROUP BY user_id),
       |     s AS (SELECT user_id, n_gaps,
       |                  CAST(sum_s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean,
       |                  (CAST(sq_dec AS DOUBLE) -
       |                     CAST(sum_s AS DOUBLE) * CAST(sum_s AS DOUBLE)
       |                       / CAST(n_gaps AS DOUBLE))
       |                    / (CAST(n_gaps AS DOUBLE) - 1.0) AS variance
       |           FROM a WHERE n_gaps >= $BurstMinGaps)
       |SELECT user_id, n_gaps,
       |       ${duckRound4("mean")} AS mean_gap_s,
       |       ${duckRound4("sqrt(variance) / mean")} AS cv,
       |       ${duckRound4("(sqrt(variance) - mean) / (sqrt(variance) + mean)")} AS burstiness
       |FROM s
       |ORDER BY ${duckRound4("(sqrt(variance) - mean) / (sqrt(variance) + mean)")} DESC, user_id
       |LIMIT 20""".stripMargin
  }

  // ---------- q_event_gaps: outage / silence-gap audit ----------

  /** Silence-gap audit per event type: collapse the stream to ACTIVE
    * MINUTES, then measure the gaps between consecutive active
    * minutes — max, p99, and the count of gaps over 10 minutes (the
    * candidate outages an on-call review walks through). The
    * per-event sequence never sorts: activity is a minute-grain hash
    * aggregate first, so the lag window runs over calendar-bounded
    * input (minutes in the observation span — grows with TIME, not
    * with event volume; the fact-scale work is one map-side-combining
    * aggregate).
    *
    * Parity: minute indices are exact integer epoch-µs divisions;
    * gaps are integer deltas; p99 through the percentile ≡
    * quantile_cont pair, rounded at the edge.
    */
  def eventGaps(spark: SparkSession, sfDir: String): DataFrame = {
    val active = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 60000000").as("midx"))
      .distinct()
    val w = Window.partitionBy("event_type").orderBy("midx")
    active
      .withColumn("gap", col("midx") - lag(col("midx"), 1).over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_active_minutes"),
        max(col("gap")).as("max_gap_min"),
        round4(percentile(col("gap"), lit(0.99)))
          .as("p99_gap_min"),
        count(when(col("gap") > 10, lit(1))).as("n_gaps_over_10"))
      .orderBy("event_type")
  }

  private val sqlEventGaps = {
    s"""WITH a AS (SELECT DISTINCT event_type,
       |                  epoch_us(CAST(ts AS TIMESTAMP)) // 60000000 AS midx
       |           FROM events),
       |     g AS (SELECT event_type,
       |                  midx - lag(midx) OVER (PARTITION BY event_type ORDER BY midx) AS gap
       |           FROM a)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_active_minutes,
       |       CAST(max(gap) AS BIGINT) AS max_gap_min,
       |       ${duckRound4("quantile_cont(gap, 0.99)")} AS p99_gap_min,
       |       CAST(count(CASE WHEN gap > 10 THEN 1 END) AS BIGINT) AS n_gaps_over_10
       |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ---------- q_user_churn: month-over-month retention / churn ----------

  /** Month-over-month user churn: for each consecutive month pair,
    * how many of the prior month's active users returned (retained),
    * left (churned), and how many are new — the MAU retention ladder
    * every growth dashboard leads with.
    *
    * Shape: collapse the stream to DISTINCT (user, month-index) FIRST
    * (one hash aggregate — the only fact-scale pass), then a
    * key-partitioned self-join on (user, m+1) and month-grain
    * rollups. Month indices are exact integers (y·12+m−1), so the
    * consecutive-month join is an integer equi-join, and all outputs
    * are integer counts + one rounded rate.
    */
  def userChurn(spark: SparkSession, sfDir: String): DataFrame = {
    // week grain (epoch-µs // 7 days): the synthetic stream spans ~a
    // month, so weeks give 3-4 consecutive boundaries at every SF
    // where calendar months would leave the query vacuous
    val um = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("w"))
      .distinct()
    val perWeek = um.groupBy("w").agg(count(lit(1)).as("n_active"))
    val retained = um.as("a")
      .join(um.as("b"), col("a.user_id") === col("b.user_id")
        && col("b.w") === col("a.w") + 1)
      .groupBy(col("a.w").as("w")).agg(count(lit(1)).as("n_retained"))
    perWeek.as("prev")
      .join(perWeek.as("cur").select((col("w") - 1).as("w"),
        col("n_active").as("n_active_next")), Seq("w"))
      .join(retained, Seq("w"), "left")
      .select(col("w").as("week"),
        col("n_active"), col("n_active_next"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        (col("n_active") - coalesce(col("n_retained"), lit(0L))).as("n_churned"),
        (col("n_active_next") - coalesce(col("n_retained"), lit(0L))).as("n_new"),
        round4(coalesce(col("n_retained"), lit(0L)).cast("double")
          / col("n_active").cast("double")).as("retention"))
      .orderBy("week")
  }

  private val sqlUserChurn = {
    s"""WITH um AS (SELECT DISTINCT user_id,
       |                   epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS w
       |            FROM events),
       |     pm AS (SELECT w, CAST(count(*) AS BIGINT) AS n_active FROM um GROUP BY w),
       |     rt AS (SELECT a.w AS w, CAST(count(*) AS BIGINT) AS n_retained
       |            FROM um a JOIN um b ON a.user_id = b.user_id AND b.w = a.w + 1
       |            GROUP BY a.w)
       |SELECT CAST(prev.w AS BIGINT) AS week,
       |       prev.n_active AS n_active, cur.n_active AS n_active_next,
       |       coalesce(n_retained, 0) AS n_retained,
       |       prev.n_active - coalesce(n_retained, 0) AS n_churned,
       |       cur.n_active - coalesce(n_retained, 0) AS n_new,
       |       ${duckRound4("CAST(coalesce(n_retained, 0) AS DOUBLE) / CAST(prev.n_active AS DOUBLE)")} AS retention
       |FROM pm prev
       |JOIN pm cur ON cur.w = prev.w + 1
       |LEFT JOIN rt ON rt.w = prev.w
       |ORDER BY week""".stripMargin
  }

  // ---------- q_cuped: CUPED variance-reduction audit ----------

  /** CUPED (Deng, Xu, Kohavi & Walker, WSDM 2013) — the pre-experiment
    * covariate adjustment every large A/B platform applies before
    * reading a metric: with x = a user's PRE-period value and y the
    * POST-period value, the adjusted metric y − θ·x (θ = cov/var(x))
    * keeps the same mean but sheds ρ² of the variance. This query
    * computes θ and the variance-reduction factor ρ² from the event
    * stream, split at the calendar midpoint week — the number that
    * says how much smaller every future experiment on this metric can
    * be.
    *
    * Parity/scale: per-user period sums are exact integer micro-units
    * (order-independent); the five co-moments are DECIMAL sums (the
    * `q_corr_stats` recipe); θ and ρ² are fixed-shape double formulas
    * over n·cov / n·var numerators (the 1/(n−1) factors cancel).
    * One user-grain aggregate + one 1-row moment aggregate — linear.
    */
  // ---------- q_did: difference-in-differences estimate ----------

  /** Difference-in-differences over the event stream (Card & Krueger
    * 1994's workhorse design): cohorts = even/odd user_id (the
    * deterministic A/B split the experiment queries share), periods =
    * the same calendar-midpoint pre/post split [[cuped]] uses, outcome
    * = mean event value. DiD = (Ā_post − Ā_pre) − (B̄_post − B̄_pre) —
    * the causal-readout that differences away both the cohort's fixed
    * offset and the period's common shock, reported beside the four
    * cell means so parallel-trends eyeballing is possible.
    *
    * Exactness: one fact pass to 4 cells of (n, Σ value-micros as
    * DECIMAL); every mean is one double division of exact sums; DiD
    * composes the four quotients in one literal order (identical IEEE
    * ops both engines), rounded at the edge.
    */
  def did(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("w"),
        units(col("value"), 1e6).cast("long").as("vm"))
    val bounds = ev.agg(min(col("w")).as("wmin"), max(col("w")).as("wmax"))
    val cells = ev.crossJoin(broadcast(bounds))
      .withColumn("post", col("w") >= expr("(wmin + wmax + 1) div 2"))
      .withColumn("treated", pmod(col("user_id"), lit(2)) === 0)
      .groupBy()
      .agg(
        sum(when(col("treated") && !col("post"), 1L).otherwise(0L)).as("n_a_pre"),
        sum(when(col("treated") && !col("post"), col("vm").cast("decimal(28,0)"))).as("s_a_pre"),
        sum(when(col("treated") && col("post"), 1L).otherwise(0L)).as("n_a_post"),
        sum(when(col("treated") && col("post"), col("vm").cast("decimal(28,0)"))).as("s_a_post"),
        sum(when(!col("treated") && !col("post"), 1L).otherwise(0L)).as("n_b_pre"),
        sum(when(!col("treated") && !col("post"), col("vm").cast("decimal(28,0)"))).as("s_b_pre"),
        sum(when(!col("treated") && col("post"), 1L).otherwise(0L)).as("n_b_post"),
        sum(when(!col("treated") && col("post"), col("vm").cast("decimal(28,0)"))).as("s_b_post"))
    def mean(p: String) =
      col(s"s_$p").cast("double") / 1000000.0 / col(s"n_$p").cast("double")
    cells.select(
      col("n_a_pre"), round4(mean("a_pre")).as("mean_a_pre"),
      col("n_a_post"), round4(mean("a_post")).as("mean_a_post"),
      col("n_b_pre"), round4(mean("b_pre")).as("mean_b_pre"),
      col("n_b_post"), round4(mean("b_post")).as("mean_b_post"),
      round4((mean("a_post") - mean("a_pre")) - (mean("b_post") - mean("b_pre")))
        .as("did"))
  }

  private val sqlDid = {
    def mean(p: String) =
      s"(CAST(s_$p AS DOUBLE) / 1000000.0 / CAST(n_$p AS DOUBLE))"
    def cell(name: String, cond: String) =
      s"CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS n_$name,\n" +
        s"       |              sum(CASE WHEN $cond THEN CAST(vm AS DECIMAL(28,0)) END) AS s_$name"
    s"""WITH ev AS (SELECT user_id,
       |                   epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS w,
       |                   CAST(${duckUnits("value", 1e6)} AS BIGINT) AS vm
       |            FROM events),
       |     b AS (SELECT min(w) AS wmin, max(w) AS wmax FROM ev),
       |     f AS (SELECT vm, w >= (wmin + wmax + 1) // 2 AS post,
       |                  user_id % 2 = 0 AS treated
       |           FROM ev CROSS JOIN b),
       |     c AS (SELECT ${cell("a_pre", "treated AND NOT post")},
       |              ${cell("a_post", "treated AND post")},
       |              ${cell("b_pre", "NOT treated AND NOT post")},
       |              ${cell("b_post", "NOT treated AND post")}
       |           FROM f)
       |SELECT n_a_pre, ${duckRound4(mean("a_pre"))} AS mean_a_pre,
       |       n_a_post, ${duckRound4(mean("a_post"))} AS mean_a_post,
       |       n_b_pre, ${duckRound4(mean("b_pre"))} AS mean_b_pre,
       |       n_b_post, ${duckRound4(mean("b_post"))} AS mean_b_post,
       |       ${duckRound4(s"(${mean("a_post")} - ${mean("a_pre")}) - (${mean("b_post")} - ${mean("b_pre")})")} AS did
       |FROM c""".stripMargin
  }

  def cuped(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("w"),
        units(col("value"), 1e6).cast("long").as("vm"))
    val bounds = ev.agg(min(col("w")).as("wmin"), max(col("w")).as("wmax"))
    val u = ev.crossJoin(broadcast(bounds))
      .withColumn("pre", col("w") < expr("(wmin + wmax + 1) div 2"))
      .groupBy("user_id")
      .agg(sum(when(col("pre"), col("vm")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("vm")).otherwise(0L)).as("y"))
    val m = u.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,0)")).as("sx"),
      sum(col("y").cast("decimal(18,0)")).as("sy"),
      sum(col("x").cast("decimal(18,0)") * col("y").cast("decimal(20,0)")).as("sxy"),
      sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(20,0)")).as("sxx"),
      sum(col("y").cast("decimal(18,0)") * col("y").cast("decimal(20,0)")).as("syy"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val covN = d("sxy") - d("sx") * d("sy") / nD
    val varxN = d("sxx") - d("sx") * d("sx") / nD
    val varyN = d("syy") - d("sy") * d("sy") / nD
    m.select(col("n").as("n_users"),
      round4(covN / varxN).as("theta"),
      round4(covN * covN / (varxN * varyN))
        .as("var_reduction"))
  }

  private val sqlCuped = {
    val covN = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    val varxN = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val varyN = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""WITH ev AS (SELECT user_id,
       |                   epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS w,
       |                   CAST(${duckUnits("value", 1e6)} AS BIGINT) AS vm
       |            FROM events),
       |     b AS (SELECT min(w) AS wmin, max(w) AS wmax FROM ev),
       |     u AS (SELECT user_id,
       |                  CAST(sum(CASE WHEN w < (wmin + wmax + 1) // 2 THEN vm ELSE 0 END) AS BIGINT) AS x,
       |                  CAST(sum(CASE WHEN w >= (wmin + wmax + 1) // 2 THEN vm ELSE 0 END) AS BIGINT) AS y
       |           FROM ev CROSS JOIN b GROUP BY 1),
       |     m AS (SELECT count(*) AS n,
       |                  sum(CAST(x AS DECIMAL(18,0))) AS sx,
       |                  sum(CAST(y AS DECIMAL(18,0))) AS sy,
       |                  sum(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(20,0))) AS sxy,
       |                  sum(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(20,0))) AS sxx,
       |                  sum(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(20,0))) AS syy
       |           FROM u)
       |SELECT CAST(n AS BIGINT) AS n_users,
       |       ${duckRound4(s"$covN / $varxN")} AS theta,
       |       ${duckRound4(
                 s"$covN * $covN / ($varxN * $varyN)")} AS var_reduction
       |FROM m""".stripMargin
  }

  // ---------- q_stl_strength: seasonal/trend strength decomposition ----------

  /** Trend and seasonal STRENGTH of the per-type daily count series
    * (Hyndman & Athanasopoulos, FPP3 §4.5 — the STL-based feature
    * that decides "does this series even HAVE a weekly cycle" before
    * anyone fits a seasonal model; companion to [[seasonalDow]]'s raw
    * profile and [[holtWinters]]'s smoother): trend = centered 7-day
    * moving average (full windows only), seasonal = day-of-week mean
    * of the detrended series, remainder = what's left;
    * F_s = max(0, 1 − Var(R)/Var(S+R)), F_t = max(0, 1 −
    * Var(R)/Var(T+R)).
    *
    * Parity: the MA is Σ7/7.0 over exact integer counts (identical
    * division); day-of-week is integer epoch-day mod 7; every
    * variance comes from round6-DECIMAL Σv/Σv² sums (order-
    * independent) through one fixed double formula. The per-type
    * window runs over DAY grain — bounded by calendar span, the
    * sanctioned window class.
    */
  def stlStrength(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000").as("dnum"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("dnum")
      .rowsBetween(-3, 3)
    val det = daily
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("trend", sum(col("cnt")).over(w).cast("double") / 7.0)
      .filter(col("nw") === 7)
      .withColumn("dow", pmod(col("dnum"), lit(7L)))
      .withColumn("detr", col("cnt").cast("double") - col("trend"))
    val seas = det.groupBy("event_type", "dow")
      .agg((sum(round6(col("detr")).cast("decimal(28,6)")).cast("double") /
        count(lit(1)).cast("double")).as("s"))
    val rr = det.join(seas, Seq("event_type", "dow"))
      .withColumn("r", col("detr") - col("s"))
      .withColumn("tr", col("cnt").cast("double") - col("s"))
    val m = rr.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(round6(col("r")).cast("decimal(28,6)")).as("sr"),
      sum(round6(col("r") * col("r")).cast("decimal(28,6)")).as("srr"),
      sum(round6(col("detr")).cast("decimal(28,6)")).as("sd"),
      sum(round6(col("detr") * col("detr")).cast("decimal(28,6)")).as("sdd"),
      sum(round6(col("tr")).cast("decimal(28,6)")).as("st"),
      sum(round6(col("tr") * col("tr")).cast("decimal(28,6)")).as("stt"))
    val nD = col("n").cast("double")
    def varOf(s: String, ss: String) =
      (col(ss).cast("double") - col(s).cast("double") * col(s).cast("double") / nD) / nD
    m.select(col("event_type"), col("n").as("n_days"),
        round4(greatest(lit(0.0),
          lit(1.0) - varOf("sr", "srr") / varOf("sd", "sdd")))
          .as("seasonal_strength"),
        round4(greatest(lit(0.0),
          lit(1.0) - varOf("sr", "srr") / varOf("st", "stt")))
          .as("trend_strength"))
      .orderBy("event_type")
  }

  private val sqlStlStrength = {
    def varOf(s: String, ss: String) =
      s"((CAST($ss AS DOUBLE) - CAST($s AS DOUBLE) * CAST($s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
    s"""WITH d AS (SELECT event_type,
       |                  epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) // 86400000000 AS dnum,
       |                  count(*) AS cnt
       |           FROM events GROUP BY 1, 2),
       |     ma AS (SELECT event_type, dnum, cnt,
       |                   count(*) OVER wi AS nw,
       |                   CAST(sum(cnt) OVER wi AS DOUBLE) / 7.0 AS trend
       |            FROM d WINDOW wi AS (PARTITION BY event_type ORDER BY dnum
       |                                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |     det AS (SELECT event_type, dnum % 7 AS dow, cnt,
       |                    CAST(cnt AS DOUBLE) - trend AS detr
       |             FROM ma WHERE nw = 7),
       |     seas AS (SELECT event_type, dow,
       |                     CAST(sum(CAST(${duckRound6("detr")} AS DECIMAL(28,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS s
       |              FROM det GROUP BY 1, 2),
       |     rr AS (SELECT det.event_type, detr, detr - s AS r,
       |                   CAST(cnt AS DOUBLE) - s AS tr
       |            FROM det JOIN seas ON det.event_type = seas.event_type
       |                               AND det.dow = seas.dow),
       |     m AS (SELECT event_type, count(*) AS n,
       |                  sum(CAST(${duckRound6("r")} AS DECIMAL(28,6))) AS sr,
       |                  sum(CAST(${duckRound6("r * r")} AS DECIMAL(28,6))) AS srr,
       |                  sum(CAST(${duckRound6("detr")} AS DECIMAL(28,6))) AS sd,
       |                  sum(CAST(${duckRound6("detr * detr")} AS DECIMAL(28,6))) AS sdd,
       |                  sum(CAST(${duckRound6("tr")} AS DECIMAL(28,6))) AS st,
       |                  sum(CAST(${duckRound6("tr * tr")} AS DECIMAL(28,6))) AS stt
       |           FROM rr GROUP BY 1)
       |SELECT event_type, CAST(n AS BIGINT) AS n_days,
       |       ${duckRound4(
                 s"greatest(0.0, 1.0 - ${varOf("sr", "srr")} / ${varOf("sd", "sdd")})")} AS seasonal_strength,
       |       ${duckRound4(
                 s"greatest(0.0, 1.0 - ${varOf("sr", "srr")} / ${varOf("st", "stt")})")} AS trend_strength
       |FROM m ORDER BY event_type""".stripMargin
  }

  // ---------- q_repeat_purchase: purchase-cadence summary ----------

  /** Repeat-purchase cadence: share of purchasers who buy again and
    * the inter-purchase interval distribution — the LTV input next to
    * [[timeToConvert]]'s acquisition latency. The mean interval per
    * user is computed WITHOUT ordering anything: for n purchases in a
    * span of (max − min) the mean gap is span/(n−1) exactly, so one
    * user-grain (count, min, max) aggregate replaces a per-user sort
    * (the closed-form trick; a per-gap distribution would use the
    * [[eventGaps]] lag-over-bounded-grain shape).
    *
    * Parity: integer-minute spans, exact counts; the two percentile
    * outputs ride the proven percentile ≡ quantile_cont pair over
    * single-division doubles.
    */
  def repeatPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val pu = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        expr("(max(unix_micros(ts)) - min(unix_micros(ts))) div 60000000")
          .as("span_min"))
    val rep = pu.filter(col("n") >= 2)
      .withColumn("mean_gap",
        col("span_min").cast("double") / (col("n") - 1L).cast("double"))
    pu.agg(count(lit(1)).as("n_buyers"),
        count(when(col("n") >= 2, lit(1))).as("n_repeat"))
      .crossJoin(broadcast(rep.agg(
        percentile(col("mean_gap"), array(lit(0.5), lit(0.9))).as("ps"))))
      .select(col("n_buyers"), col("n_repeat"),
        round4(col("n_repeat").cast("double")
          / col("n_buyers").cast("double")).as("repeat_rate"),
        round4(element_at(col("ps"), 1)).as("p50_gap_min"),
        round4(element_at(col("ps"), 2)).as("p90_gap_min"))
  }

  private val sqlRepeatPurchase = {
    s"""WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       |                   (max(epoch_us(CAST(ts AS TIMESTAMP)))
       |                     - min(epoch_us(CAST(ts AS TIMESTAMP)))) // 60000000 AS span_min
       |            FROM events WHERE event_type = 'purchase'
       |            GROUP BY user_id),
       |     rep AS (SELECT CAST(span_min AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS mean_gap
       |             FROM pu WHERE n >= 2),
       |     a AS (SELECT CAST(count(*) AS BIGINT) AS n_buyers,
       |                  CAST(count(CASE WHEN n >= 2 THEN 1 END) AS BIGINT) AS n_repeat
       |           FROM pu),
       |     g AS (SELECT quantile_cont(mean_gap, 0.5) AS p50,
       |                  quantile_cont(mean_gap, 0.9) AS p90 FROM rep)
       |SELECT n_buyers, n_repeat,
       |       ${duckRound4("CAST(n_repeat AS DOUBLE) / CAST(n_buyers AS DOUBLE)")} AS repeat_rate,
       |       ${duckRound4("p50")} AS p50_gap_min,
       |       ${duckRound4("p90")} AS p90_gap_min
       |FROM a CROSS JOIN g""".stripMargin
  }

  // ---------- q_time_to_convert: funnel latency distribution ----------

  /** Time-to-convert distribution: minutes from a user's FIRST view
    * to their first purchase AT-OR-AFTER it — the latency behind
    * `q_funnel`'s conversion counts (how many convert) and the
    * number attribution windows are sized from (how long to wait).
    *
    * Shape: two user-grain min-aggregates (first view; first
    * qualifying purchase via a conditional min after a broadcast-free
    * key join) and one 1-row percentile summary. Deltas are exact
    * integer minutes (epoch-µs div); percentile ≡ quantile_cont on
    * integers; single-row output, array-percentile buffer.
    */
  def timeToConvert(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("v_us"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("us") >= col("v_us"))
      .groupBy("user_id").agg(min(col("us")).as("p_us"), max(col("v_us")).as("v_us"))
      .select(expr("(p_us - v_us) div 60000000").as("mins"))
    conv.agg(count(lit(1)).as("n_converters"),
        percentile(col("mins"), array(lit(0.5), lit(0.9))).as("ps"),
        max(col("mins")).as("max_mins"))
      .select(col("n_converters"),
        round4(element_at(col("ps"), 1)).as("p50_mins"),
        round4(element_at(col("ps"), 2)).as("p90_mins"),
        col("max_mins"))
  }

  private val sqlTimeToConvert = {
    s"""WITH e AS (SELECT user_id, event_type,
       |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |           FROM events),
       |     fv AS (SELECT user_id, min(us) AS v_us FROM e
       |            WHERE event_type = 'view' GROUP BY user_id),
       |     c AS (SELECT (min(e.us) - max(v_us)) // 60000000 AS mins
       |           FROM e JOIN fv ON e.user_id = fv.user_id
       |           WHERE e.event_type = 'purchase' AND e.us >= v_us
       |           GROUP BY e.user_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_converters,
       |       ${duckRound4("quantile_cont(mins, 0.5)")} AS p50_mins,
       |       ${duckRound4("quantile_cont(mins, 0.9)")} AS p90_mins,
       |       CAST(max(mins) AS BIGINT) AS max_mins
       |FROM c""".stripMargin
  }

  // ---------- q_growth_accounting: new/retained/resurrected/churned ----------

  /** Full growth accounting per week (the a16z/AARRR ledger
    * [[userChurn]]'s two-week view cannot express): every active user
    * is exactly one of NEW (first week ever), RETAINED (also active
    * last week), or RESURRECTED (active before, skipped last week);
    * churned counts last week's actives who left. The ledger
    * identity actives(w) = new + retained + resurrected is the
    * built-in self-check.
    *
    * Shape: one distinct (user, week) collapse, a user-grain
    * first-week aggregate joined back on the key, and a consecutive-
    * week integer self-join — all key-partitioned hash work; weeks
    * are exact epoch-µs divisions.
    */
  def growthAccounting(spark: SparkSession, sfDir: String): DataFrame = {
    val um = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("w"))
      .distinct()
    val first = um.groupBy("user_id").agg(min(col("w")).as("fw"))
    val prev = um.select(col("user_id"), (col("w") + 1).as("w"),
      lit(1L).as("was_prev"))
    val classified = um.join(first, "user_id")
      .join(prev, Seq("user_id", "w"), "left")
      .select(col("w"),
        when(col("fw") === col("w"), "new")
          .when(col("was_prev").isNotNull, "retained")
          .otherwise("resurrected").as("cls"))
    val ledger = classified.groupBy("w")
      .agg(count(lit(1)).as("n_active"),
        count(when(col("cls") === "new", lit(1))).as("n_new"),
        count(when(col("cls") === "retained", lit(1))).as("n_retained"),
        count(when(col("cls") === "resurrected", lit(1))).as("n_resurrected"))
    val churned = um.as("a")
      .join(um.as("b").select(col("user_id"), (col("w") - 1).as("w"),
        lit(1L).as("next")), Seq("user_id", "w"), "left")
      .filter(col("next").isNull)
      .groupBy((col("w") + 1).as("w"))
      .agg(count(lit(1)).as("n_churned"))
    ledger.join(churned, Seq("w"), "left")
      .select(col("w").as("week"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned_in"))
      .orderBy("week")
  }

  private val sqlGrowthAccounting =
    s"""WITH um AS (SELECT DISTINCT user_id,
       |                   epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS w
       |            FROM events),
       |     f AS (SELECT user_id, min(w) AS fw FROM um GROUP BY user_id),
       |     cl AS (SELECT um.w,
       |              CASE WHEN f.fw = um.w THEN 'new'
       |                   WHEN p.user_id IS NOT NULL THEN 'retained'
       |                   ELSE 'resurrected' END AS cls
       |            FROM um JOIN f ON um.user_id = f.user_id
       |            LEFT JOIN um p ON p.user_id = um.user_id AND p.w = um.w - 1),
       |     led AS (SELECT w, CAST(count(*) AS BIGINT) AS n_active,
       |               CAST(count(CASE WHEN cls = 'new' THEN 1 END) AS BIGINT) AS n_new,
       |               CAST(count(CASE WHEN cls = 'retained' THEN 1 END) AS BIGINT) AS n_retained,
       |               CAST(count(CASE WHEN cls = 'resurrected' THEN 1 END) AS BIGINT) AS n_resurrected
       |             FROM cl GROUP BY w),
       |     ch AS (SELECT a.w + 1 AS w, CAST(count(*) AS BIGINT) AS n_churned
       |            FROM um a LEFT JOIN um n ON n.user_id = a.user_id AND n.w = a.w + 1
       |            WHERE n.user_id IS NULL
       |            GROUP BY a.w + 1)
       |SELECT CAST(led.w AS BIGINT) AS week, n_active, n_new, n_retained, n_resurrected,
       |       coalesce(n_churned, 0) AS n_churned_in
       |FROM led LEFT JOIN ch ON led.w = ch.w
       |ORDER BY week""".stripMargin

  // ---------- q_ab_test: two-proportion conversion z-test ----------

  /** Two-proportion z-test on conversion (the experimentation
    * workhorse): users split into variants by id parity (in
    * production: the assignment column), conversion = at least one
    * `purchase` event; the pooled-variance z-score decides whether
    * the lift is noise. sqrt is the only transcendental (the parity
    * rules' one allowed), every input to it is a fixed-shape double
    * expression over exact integer counts, and the significance flag
    * compares the ROUNDED |z| (round-before-compare rule).
    *
    * Shape: one distinct (user, converted) collapse — conversion via
    * max(bool), map-side combinable — then a 2-row variant rollup and
    * a 1-row combine. Linear, no windows.
    */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    // conversion = above-average purchase count, not any-purchase: on
    // this dense synthetic stream EVERY user purchases, which makes
    // the pooled variance 0 and the z-score division undefined at all
    // SFs; the above-average cut stays near 50% at any density
    val perUser = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(when(col("event_type") === "purchase", lit(1))).as("np"))
    val avg1 = perUser.agg(
      (sum(col("np")).cast("double") / count(lit(1)).cast("double")).as("avg_np"))
    val users = perUser.crossJoin(broadcast(avg1))
      .select(col("user_id"),
        when(col("np").cast("double") > col("avg_np"), 1L).otherwise(0L).as("conv"))
      .withColumn("variant", pmod(col("user_id"), lit(2)))
    val agg = users.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
    val wide = agg.agg(
      max(when(col("variant") === 0, col("n"))).as("n_a"),
      max(when(col("variant") === 0, col("k"))).as("k_a"),
      max(when(col("variant") === 1, col("n"))).as("n_b"),
      max(when(col("variant") === 1, col("k"))).as("k_b"))
    val pa = col("k_a").cast("double") / col("n_a").cast("double")
    val pb = col("k_b").cast("double") / col("n_b").cast("double")
    val pp = (col("k_a") + col("k_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val z = (pa - pb) / sqrt(pp * (lit(1.0) - pp)
      * (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    wide.select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
        round4(pa).as("conv_a"),
        round4(pb).as("conv_b"),
        round4(z).as("z_score"))
      .withColumn("significant",
        (abs(col("z_score")) > 1.96).cast("int"))
  }

  private val sqlAbTest = {
    val pa = "CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
    val pb = "CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE)"
    val pp = "CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)"
    val z = s"(($pa) - ($pb)) / sqrt(($pp) * (1.0 - ($pp)) * " +
      "(1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"
    s"""WITH pu AS (SELECT user_id,
       |                   count(CASE WHEN event_type = 'purchase' THEN 1 END) AS np
       |            FROM events GROUP BY user_id),
       |     av AS (SELECT CAST(sum(np) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_np
       |            FROM pu),
       |     u AS (SELECT user_id,
       |                  CASE WHEN CAST(np AS DOUBLE) > avg_np THEN 1 ELSE 0 END AS conv,
       |                  user_id % 2 AS variant
       |           FROM pu CROSS JOIN av),
       |     a AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
       |                  CAST(sum(conv) AS BIGINT) AS k
       |           FROM u GROUP BY variant),
       |     w AS (SELECT max(CASE WHEN variant = 0 THEN n END) AS n_a,
       |                  max(CASE WHEN variant = 0 THEN k END) AS k_a,
       |                  max(CASE WHEN variant = 1 THEN n END) AS n_b,
       |                  max(CASE WHEN variant = 1 THEN k END) AS k_b
       |           FROM a)
       |SELECT n_a, k_a, n_b, k_b,
       |       ${duckRound4(pa)} AS conv_a, ${duckRound4(pb)} AS conv_b,
       |       ${duckRound4(z)} AS z_score,
       |       CAST(abs(${duckRound4(z)}) > 1.96 AS INT) AS significant
       |FROM w""".stripMargin
  }

  // ---------- q_seasonal_dow: day-of-week seasonality profile ----------

  /** Day-of-week traffic profile per event type — the seasonality
    * baseline [[peakDetect]]'s spike fences and [[valueDrift]]'s PSI
    * implicitly assume away: share of each type's events landing on
    * each weekday, so capacity planning and anomaly fences can be
    * conditioned on the weekly cycle. One bounded (dow × type) hash
    * aggregate + a broadcast type-total; integers and one rounded
    * share. Day-of-week parity: Spark's 1..7 Sunday-first `dayofweek`
    * ≡ DuckDB's 0..6 `dayofweek` + 1.
    */
  def seasonalDow(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
    val cells = e.groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
    val tots = cells.groupBy("event_type").agg(sum(col("n")).as("t"))
    cells.join(broadcast(tots), "event_type")
      .select(col("event_type"), col("dow"), col("n"),
        round4(col("n").cast("double") / col("t").cast("double"))
          .as("share"))
      .orderBy("event_type", "dow")
  }

  private val sqlSeasonalDow =
    s"""WITH e AS (SELECT event_type,
       |                  CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow
       |           FROM events),
       |     c AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n
       |           FROM e GROUP BY 1, 2),
       |     t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY 1)
       |SELECT event_type, dow, n,
       |       ${duckRound4("CAST(n AS DOUBLE) / CAST(t AS DOUBLE)")} AS share
       |FROM c JOIN t USING (event_type)
       |ORDER BY event_type, dow""".stripMargin

  // ---------- q_attribution: last-touch conversion attribution ----------

  /** Last-touch attribution: for every converting user (first
    * `purchase` by (ts, event_id) order), which event type was the
    * LAST thing they did strictly before converting — the channel
    * credit table marketing reconciles spend against, and the
    * complement of [[timeToConvert]]'s latency view. Users whose
    * purchase has no prior event attribute to `none` (direct).
    *
    * Shape: NO per-user windows — first-purchase and last-touch are
    * mergeable struct-min/struct-max aggregates over the unique
    * (ts, event_id) order (O(1) state per user, map-side combine),
    * then one bounded type-grain rollup. The oracle replays the
    * same picks with row_number windows — method differs, contract
    * (unique order) guarantees identical rows.
    */
  def attribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"))).as("f"))
      .select(col("user_id"), col("f.ts").as("fts"), col("f.event_id").as("fid"))
    val lt = ev.filter(col("event_type") =!= "purchase")
      .join(fp, Seq("user_id"))
      .filter(col("ts") < col("fts") ||
        (col("ts") === col("fts") && col("event_id") < col("fid")))
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("l"))
      .select(col("user_id"), col("l.event_type").as("touch_type"))
    val a = fp.join(lt, Seq("user_id"), "left")
      .groupBy(coalesce(col("touch_type"), lit("none")).as("touch_type"))
      .agg(count(lit(1)).as("n_users"))
    val tot = a.agg(sum(col("n_users")).as("t"))
    a.crossJoin(broadcast(tot))
      .select(col("touch_type"), col("n_users"),
        round4(
          col("n_users").cast("double") / col("t").cast("double")).as("share"))
      .orderBy("touch_type")
  }

  private val sqlAttribution =
    s"""WITH fp AS (SELECT user_id, ts AS fts, event_id AS fid
       |            FROM (SELECT user_id, ts, event_id,
       |                    row_number() OVER (PARTITION BY user_id
       |                      ORDER BY ts, event_id) AS rn
       |                  FROM events WHERE event_type = 'purchase')
       |            WHERE rn = 1),
       |     touch AS (SELECT e.user_id, e.event_type, e.ts, e.event_id
       |               FROM events e JOIN fp ON e.user_id = fp.user_id
       |               WHERE e.event_type <> 'purchase'
       |                 AND (e.ts < fp.fts
       |                      OR (e.ts = fp.fts AND e.event_id < fp.fid))),
       |     lt AS (SELECT user_id, event_type AS touch_type
       |            FROM (SELECT user_id, event_type,
       |                    row_number() OVER (PARTITION BY user_id
       |                      ORDER BY ts DESC, event_id DESC) AS rn
       |                  FROM touch)
       |            WHERE rn = 1),
       |     a AS (SELECT COALESCE(lt.touch_type, 'none') AS touch_type,
       |                  CAST(count(*) AS BIGINT) AS n_users
       |           FROM fp LEFT JOIN lt ON fp.user_id = lt.user_id
       |           GROUP BY 1),
       |     tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS t FROM a)
       |SELECT touch_type, n_users,
       |       ${duckRound4(
                  "CAST(n_users AS DOUBLE) / CAST(t AS DOUBLE)")} AS share
       |FROM a CROSS JOIN tot ORDER BY touch_type""".stripMargin

  // ---------- q_multi_touch: position-based (U-shaped) attribution ----------

  /** Position-based multi-touch attribution over the same
    * first-purchase touch sets as [[attribution]]: one touch takes
    * full credit, two touches split 50/50, three or more give 40% to
    * the first, 40% to the last, and divide the remaining 20% evenly
    * among the middles — the standard U-shaped model that values
    * discovery and closing over mid-funnel noise. Credit is
    * aggregated per touch type.
    *
    * Parity: the per-touch weight is round6-collapsed and summed as
    * DECIMAL (float credit sums would add in partition order); the
    * single 0.2/(n−2) division is the same IEEE op on both engines.
    * The (ts, event_id) composite totally orders each user's touch
    * sequence, so positions are deterministic.
    *
    * Scale: per-user windows (user-keyed shuffle, per-user touch
    * counts bounded by session behavior, not corpus size), one
    * type-grain aggregate.
    */
  def multiTouch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"))).as("f"))
      .select(col("user_id"), col("f.ts").as("fts"), col("f.event_id").as("fid"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .join(fp, Seq("user_id"))
      .filter(col("ts") < col("fts") ||
        (col("ts") === col("fts") && col("event_id") < col("fid")))
    val byPos = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val byUser = Window.partitionBy("user_id")
    val weighted = touches
      .withColumn("rn", row_number().over(byPos))
      .withColumn("n", count(lit(1)).over(byUser))
      .withColumn("w",
        when(col("n") === 1, lit(1.0))
          .when(col("n") === 2, lit(0.5))
          .when(col("rn") === 1 || col("rn") === col("n"), lit(0.4))
          .otherwise(lit(0.2) / (col("n") - 2).cast("double")))
      .withColumn("wd",
        round6(col("w")).cast("decimal(18,6)"))
    weighted.groupBy(col("event_type").as("touch_type"))
      .agg(count(lit(1)).as("n_touches"), sum(col("wd")).as("credit_dec"))
      .select(col("touch_type"), col("n_touches"),
        round4(col("credit_dec").cast("double")).as("credit"))
      .orderBy("touch_type")
  }

  private val sqlMultiTouch =
    s"""WITH fp AS (SELECT user_id, ts AS fts, event_id AS fid
       |            FROM (SELECT user_id, ts, event_id,
       |                    row_number() OVER (PARTITION BY user_id
       |                      ORDER BY ts, event_id) AS rn
       |                  FROM events WHERE event_type = 'purchase')
       |            WHERE rn = 1),
       |     touch AS (SELECT e.user_id, e.event_type, e.ts, e.event_id
       |               FROM events e JOIN fp ON e.user_id = fp.user_id
       |               WHERE e.event_type <> 'purchase'
       |                 AND (e.ts < fp.fts
       |                      OR (e.ts = fp.fts AND e.event_id < fp.fid))),
       |     pos AS (SELECT user_id, event_type,
       |               row_number() OVER (PARTITION BY user_id
       |                 ORDER BY ts, event_id) AS rn,
       |               count(*) OVER (PARTITION BY user_id) AS n
       |             FROM touch),
       |     wt AS (SELECT event_type,
       |              CAST(${duckRound6("CASE WHEN n = 1 THEN 1.0 WHEN n = 2 THEN 0.5 " +
                  "WHEN rn = 1 OR rn = n THEN 0.4 ELSE 0.2 / CAST(n - 2 AS DOUBLE) END")}
       |                AS DECIMAL(18,6)) AS wd
       |            FROM pos)
       |SELECT event_type AS touch_type, CAST(count(*) AS BIGINT) AS n_touches,
       |       ${duckRound4("CAST(sum(wd) AS DOUBLE)")} AS credit
       |FROM wt GROUP BY 1 ORDER BY 1""".stripMargin

  /** Runs `body` with the gated streaming runs' scoped settings, each
    * set back (or unset when it was absent) in a finally so a failed
    * run cannot leak it into the next bench query:
    *  - `spark.sql.shuffle.partitions` = `n`, the STATE sizing. A
    *    stateful query instantiates one state store per shuffle
    *    partition per stateful operator (four stores per partition for
    *    a stream-stream join), and every micro-batch commits a
    *    checkpoint delta per store; at the gate's state cardinality
    *    (≤ tens of thousands of keys) the session default of 32
    *    partitions makes the commit path pure fixed overhead —
    *    q_stream_join measured 14.2 s at sf0.1 but 19.1 s at sf0.01,
    *    i.e. all engine, no data. Two partitions is the plan a
    *    production job would size for this state volume (measured: the
    *    11-query gated pack fell 36.3 → 26.3 s at sf0.1 going 8 → 2,
    *    with the 4-store outer join alone 10.2 → 5.6 s and NO query
    *    slower — per-store commit count, not parallelism, is the
    *    binding cost at this state size; round 18 took the same logic
    *    to its floor, 2 → 1: the StreamingQueryProgress profile showed
    *    even a 4-ROW sentinel batch paying ~0.65-1.0 s, of which
    *    state-store commit was 250-300 ms on the 4-store joins — one
    *    partition halves the store count again, and every gated sum
    *    stays order-independent by the DECIMAL rule below); at 100 TB
    *    partitions scale with STATE size (keys retained inside the
    *    watermark), not input size, so the knob — not the query — is
    *    what changes.
    *  - checkpoint file checksums off: 4.1's ChecksumCheckpointFileManager
    *    spawns a background checksum write per checkpoint file — pure
    *    fixed overhead for these ephemeral temp-dir checkpoints (and a
    *    documented deadlock risk on tiny local pools, see SparkSpec).
    *  - `stateStore`, when given, as the state-store provider class
    *    ([[RocksDbStore]] for the transformWithState gates).
    * Result-stable by construction: every gated value sum is
    * round-before-sum DECIMAL (order-independent), so the partition
    * count cannot move a hash.
    *
    * SEQUENTIAL-HARNESS ASSUMPTION: the override mutates the
    * session-global conf, so any query sharing the SparkSession
    * during the body would silently plan with these settings (and a
    * concurrent restore could clobber the saved values). The
    * Verify/Bench drivers run queries strictly one-at-a-time, which
    * is what makes this safe; if a caller ever runs gated streaming
    * concurrently, scope the override to a `spark.newSession()`
    * (session-local conf, shared SparkContext) instead.
    */
  private def withStatePartitions[A](spark: SparkSession, n: Int = 1,
      stateStore: Option[String] = None)(body: => A): A = {
    val scoped = Seq(
      "spark.sql.shuffle.partitions" -> Some(n.toString),
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> Some("false"),
      "spark.sql.streaming.stateStore.providerClass" -> stateStore)
      .collect { case (k, Some(v)) => k -> v }
    val prev = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The state-store provider transformWithState requires. */
  private val RocksDbStore =
    Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** `sfDir`'s events file as a stream of `schema` rows, read in one
    * micro-batch (the file source reads directories, so a glob picks
    * out the one file). `schema` is [[Tables.eventsRaw]]'s: the raw
    * `ts`, for [[Tables.eventTs]] to normalize.
    */
  private def eventsStream(spark: SparkSession, schema: StructType, sfDir: String): DataFrame =
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)

  /** The staged files of `inDir` as a stream of `schema` rows, one file
    * per micro-batch in modification-time order.
    */
  private def slicedStream(spark: SparkSession, schema: StructType, inDir: Path): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)

  /** Runs `ds` to the end of its available input on an AvailableNow
    * trigger — the Spark-native form of the reference's chunked cursor
    * loop — handing each micro-batch and its id to `sink`, with
    * `outputMode` and its checkpoint at `checkpoint`. Returns once the
    * run has stopped; a failed batch rethrows here.
    */
  private def runToEnd[T](ds: Dataset[T], outputMode: String, checkpoint: Path)(
      sink: (Dataset[T], Long) => Unit): Unit =
    ds.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint.toString)
      .foreachBatch(sink)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** A sink appending each micro-batch to parquet `out` with its batch
    * id as column `bid`, for a last-writer-wins read-back
    * ([[graft.etl.Dedup.lastWins]]).
    */
  private def appendWithBid[T](out: String): (Dataset[T], Long) => Unit = (b, bid) =>
    b.toDF().withColumn("bid", lit(bid)).coalesce(1).write.mode("append").parquet(out)

  /** Modification time of the `i`-th staged input file: the file source
    * takes pending files in mtime order, so strictly increasing stamps
    * fix the micro-batch order.
    */
  private def stagedMtime(i: Int): Long = 1600000000000L + i * 60000L

  /** Stages `df` as the ONE parquet file `in/name` with modification
    * time `mtimeMs`: a `coalesce(1)` write into a scratch dir under
    * `work`, whose part file is moved into place.
    */
  private def stageFile(df: DataFrame, work: Path, in: Path, name: String, mtimeMs: Long): Unit = {
    val tmp = work.resolve(s"w_$name")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }.findFirst.get
    Files.setLastModifiedTime(Files.move(part, in.resolve(name)), FileTime.fromMillis(mtimeMs))
  }

  /** Stages a byte copy of `file` as `in/name` with modification time `mtimeMs`. */
  private def stageCopy(file: Path, in: Path, name: String, mtimeMs: Long): Unit =
    Files.setLastModifiedTime(Files.copy(file, in.resolve(name)), FileTime.fromMillis(mtimeMs))

  /** The latest row of `events`, `days` later: a far-future watermark
    * sentinel. Raw-vintage aware, like [[plusDays]].
    */
  private def latestPlusDays(events: DataFrame, days: Int): DataFrame =
    events.orderBy(col("ts").desc).limit(1).withColumn("ts", plusDays(events, "ts", days))

  /** Column `c` of `events` moved `days` later: in nanoseconds when the
    * raw `ts` is an ns-epoch long, by an interval when it is a
    * timestamp.
    */
  private def plusDays(events: DataFrame, c: String, days: Int): Column =
    if (events.schema("ts").dataType == LongType) col(c) + lit(days.toLong * 86400L * 1000000000L)
    else expr(s"$c + INTERVAL '${days * 24}' HOUR")

  /** The rounded value sum of micro-unit column `micros`. */
  private def sumValue(micros: String = "vm_sum"): Column =
    round4(col(micros).cast("double") / 1000000.0).as("sum_value")

  /** A [[Streaming.windowedCounts]] batch in the window gates' oracle
    * columns, its window start as text column `startAs`.
    */
  private def windowRows(b: DataFrame, startAs: String = "window_start"): DataFrame =
    b.select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as(startAs),
      col("event_type"), col("n_events"), col("sum_value"))

  // ---------- q_stream_tumbling: REAL streaming run, oracle-gated ----------

  /** The streaming path itself under the correctness gate: a genuine
    * Structured Streaming job (`readStream` over the events parquet →
    * Complete-mode 6-hour tumbling aggregation → `foreachBatch`
    * overwrite sink → `Trigger.AvailableNow`) whose FINAL sink state
    * the oracle reproduces with plain batch SQL. Complete mode makes
    * the result independent of how the file source splits batches
    * (each batch re-emits the full aggregate and overwrites the
    * sink), so the contract holds whether the runner sees one batch
    * or fifty — the deterministic-streaming property every replayed
    * pipeline relies on, now hash-checked instead of spec-asserted.
    *
    * Scale: the aggregation state is (windows × types) — bounded by
    * wall-clock span, not event volume; at 100 TB the same job runs
    * with a watermark + update sink and the per-batch work is the
    * batch's own windows (see [[Streaming]] for the incremental
    * sinks). Value sums use the round-before-sum DECIMAL rule.
    */
  def streamTumbling(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val schema = Tables.eventsRaw(spark, sfDir).schema
    val dir = graft.util.Scratch.dir("graft_stream_q")
    val out = dir.resolve("out").toString
    val evs = Tables.eventTs(eventsStream(spark, schema, sfDir))
    runToEnd(Streaming.windowedCounts(evs, "6 hours", lateness = None), "complete",
        dir.resolve("cp")) { (b, _) =>
      windowRows(b).coalesce(1).write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(out).orderBy("window_start", "event_type")
  }

  /** The tumbling oracle: [start, end) windows, so the bucket is the
    * FLOOR of the microsecond epoch over 6 h (as Spark's `window()`).
    * DuckDB's `epoch()` returns DOUBLE seconds and its BIGINT cast
    * rounds to nearest, which moved an event in a window's last half
    * second into the next window.
    */
  private val sqlStreamTumbling =
    s"""SELECT strftime(make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000)
       |                * 21600000000), '%Y-%m-%d %H:%M:%S') AS window_start,
       |       event_type, count(*) AS n_events,
       |       ${duckRound4(
                  s"CAST(sum(CAST(${duckUnits("value", 1e6)} AS DECIMAL(28,0))) AS DOUBLE) / 1000000.0")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------- q_stream_session: streaming session merging, oracle-gated ----------

  /** Streaming SESSION WINDOWS under the correctness gate: the same
    * 30-minute-gap sessionization as [[eventsSession]], but executed
    * by Structured Streaming's session-merging state store (Complete
    * mode — no watermark needed on a bounded AvailableNow run, and
    * every batch re-emits the fully-merged sessions, so the final
    * overwrite sink is batch-split-independent). The oracle is the
    * batch twin's gaps-and-islands SQL with one deliberate change:
    * value sums go through the round-before-sum micro-unit DECIMAL
    * discipline ([[streamTumbling]]'s rule). Counts are batch-split-
    * independent for free; float sums are NOT — if the file source
    * ever splits into multiple micro-batches, streaming state-merge
    * changes the addition order, so only an order-independent exact
    * sum keeps the contract honest beyond the single-batch case.
    */
  // n = 2, not the 1-partition default: session-window merging is the
  // one gated state op whose per-batch work is ROW-heavy (the merge
  // sorts the full 100k-row batch inside the state operator), so it
  // still benefits from 2-way parallelism — measured 2.0 s at n=2 vs
  // 2.4 s at n=1; every other gated query is state-commit-bound.
  def streamSession(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark, 2) {
    val evs = Tables.eventTs(eventsStream(spark, Tables.eventsRaw(spark, sfDir).schema, sfDir))
    val dir = graft.util.Scratch.dir("graft_stream_ss")
    val out = dir.resolve("out").toString
    val agg = evs
      .withColumn("vm", units(col("value"), 1e6).cast("decimal(28,0)"))
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("vm")).as("vm_sum"))
    runToEnd(agg, "complete", dir.resolve("cp")) { (b, _) =>
      b.select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          col("n_events"), sumValue())
        .coalesce(1).write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(out).orderBy("user_id", "session_start")
  }

  /** [[sqlEventsSession]] with the micro-unit DECIMAL sum — the
    * batch twin keeps its raw-double oracle (single-engine plan, no
    * state merge), the STREAMING run must be order-independent.
    */
  private val sqlStreamSession =
    s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |                  CAST(${duckUnits("value", 1e6)} AS DECIMAL(28,0)) AS vm
      |           FROM events),
      |     flagged AS (
      |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |                 THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |     sessions AS (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |       count(*) AS n_events,
      |       ${duckRound4(
                 "CAST(sum(vm) AS DOUBLE) / 1000000.0")} AS sum_value
      |FROM sessions GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  // ---------- q_stream_sliding: streaming sliding windows, oracle-gated ----------

  /** Streaming SLIDING windows under the correctness gate — with
    * [[streamTumbling]] (tumbling), [[streamSession]] (session), and
    * [[streamDedup]] (stateful dedup), every event-time window family
    * now has its streaming execution hash-checked, not just its batch
    * twin: 1-hour windows sliding by 30 minutes (each event lands in
    * two windows — the state-duplication path tumbling never
    * exercises), Complete mode + overwrite sink for batch-split
    * independence, with [[eventsSliding]]'s window arithmetic in the
    * oracle. Value sums use the round-before-sum micro-unit DECIMAL
    * rule ([[streamTumbling]]): streaming state-merge reorders float
    * addition across micro-batches, so only an order-independent
    * exact sum is honestly batch-split-independent.
    */
  def streamSliding(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val evs = Tables.eventTs(eventsStream(spark, Tables.eventsRaw(spark, sfDir).schema, sfDir))
    val dir = graft.util.Scratch.dir("graft_stream_sl")
    val out = dir.resolve("out").toString
    val agg = Streaming.windowedCounts(evs, "1 hour", Some("30 minutes"), lateness = None)
    runToEnd(agg, "complete", dir.resolve("cp")) { (b, _) =>
      windowRows(b, "win_start").coalesce(1).write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(out).orderBy("win_start", "event_type")
  }

  /** [[sqlEventsSliding]] with the micro-unit DECIMAL sum (see
    * [[sqlStreamSession]] for why the streaming twin diverges from
    * the batch oracle here).
    */
  private val sqlStreamSliding =
    s"""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
      |                  CAST(${duckUnits("value", 1e6)} AS DECIMAL(28,0)) AS vm
      |           FROM events),
      |     x AS (SELECT make_timestamp((epoch_us(ts) // 1800000000 - off) * 1800000000) AS ws,
      |                  event_type, vm
      |           FROM e CROSS JOIN (SELECT unnest([0, 1]) AS off))
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
      |       event_type, count(*) AS n_events,
      |       ${duckRound4(
                 "CAST(sum(vm) AS DOUBLE) / 1000000.0")} AS sum_value
      |FROM x GROUP BY ws, event_type ORDER BY win_start, event_type""".stripMargin

  // ---------- q_stream_dedup: stateful streaming dedup, oracle-gated ----------

  /** Streaming exactly-once ingest dedup under the correctness gate:
    * the events file is streamed TWICE (two file sources unioned, so
    * every event arrives duplicated, possibly in different
    * micro-batches), `dropDuplicates(event_id)` holds the seen-key
    * state across batches, and the append-mode `foreachBatch` sink
    * accumulates each batch's genuinely-new rows — the final sink
    * must contain every event exactly once, which the oracle states
    * as the plain batch counts. This is the at-least-once-source →
    * exactly-once-sink contract ([[Streaming.startDedupIngest]]'s
    * law) proven by hash-compare on a REAL streaming run, robust to
    * any batch split by construction.
    *
    * The bounded AvailableNow run needs no watermark; the production
    * deployment bounds the key state with
    * [[Streaming.dedupWithinWatermark]] (gated by [[streamDedupWm]])
    * — same plan shape.
    */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val schema = Tables.eventsRaw(spark, sfDir).schema
    // two sources, so every event arrives twice
    def src = eventsStream(spark, schema, sfDir).select(col("event_id"), col("event_type"))
    val dir = graft.util.Scratch.dir("graft_stream_dd")
    val out = dir.resolve("out").toString
    runToEnd(src.unionByName(src).dropDuplicates("event_id"), "append", dir.resolve("cp")) {
      (b, _) => b.coalesce(1).write.mode("append").parquet(out)
    }
    spark.read.parquet(out)
      .groupBy("event_type").agg(count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  private val sqlStreamDedup =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_stream_dedup_wm: WATERMARK-BOUNDED dedup, oracle-gated ----------

  /** The PRODUCTION dedup operator under the correctness gate:
    * [[Streaming.dedupWithinWatermark]] — the API whose key state is
    * EVICTED once the watermark passes (unlike [[streamDedup]]'s
    * plain `dropDuplicates`, which retains every key forever and
    * cannot run at 100 TB). The events file is replayed as a SECOND
    * micro-batch (two staged copies, `maxFilesPerTrigger=1`,
    * mtime-ordered — [[streamAppend]]'s staging), so the replay
    * arrives after the watermark advanced to max(ts) − δ.
    *
    * The exactly-once contract is ROBUST BY CONSTRUCTION for an exact
    * replay, independent of eviction timing and boundary semantics: a
    * replayed row either (a) sits below the watermark → dropped as
    * late input, or (b) sits at/above it → its key's state is
    * necessarily still live (expiry needs ts + δ < wm, which implies
    * ts < wm — case (a)), so it dedups. Re-emission would require
    * expired-but-not-late, impossible for δ > 0. The final sink
    * therefore equals the plain batch counts — hash-checked — while
    * the state store provably holds only keys inside the δ horizon,
    * the bounded-state property that makes this the 100 TB shape.
    */
  def streamDedupWm(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val events = Paths.get(sfDir, "events.parquet")
    val schema = Tables.eventsRaw(spark, sfDir).schema
    val dir = graft.util.Scratch.dir("graft_stream_dw")
    val out = dir.resolve("out").toString
    val inDir = StageCache.cachedIn("dw", sfDir) { (_, in) =>
      stageCopy(events, in, "a_events.parquet", stagedMtime(0))
      stageCopy(events, in, "b_replay.parquet", stagedMtime(1))
    }
    val deduped = Streaming.dedupWithinWatermark(
      Tables.eventTs(slicedStream(spark, schema, inDir))
        .select(col("event_id"), col("event_type"), col("ts")),
      Seq("event_id"), "1 hour")
    runToEnd(deduped, "append", dir.resolve("cp")) { (b, _) =>
      b.coalesce(1).write.mode("append").parquet(out)
    }
    spark.read.parquet(out)
      .groupBy("event_type").agg(count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  private val sqlStreamDedupWm =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_stream_topk: incremental top-k maintenance, oracle-gated ----------

  private val StreamTopK = 10

  /** Streaming TOP-K maintenance under the correctness gate — the
    * mergeable-summary law ([[graft.vector.TopKMaintain]]'s contract)
    * exercised by the streaming engine: the events file is staged as
    * TWO id-sliced files processed as two micro-batches
    * (`maxFilesPerTrigger=1`), and `foreachBatch` folds each batch's
    * per-type top-[[StreamTopK]] into a bounded driver-held summary
    * (merge = union + re-rank + truncate; state is types×k rows
    * REGARDLESS of stream length — the shape a 100 TB leaderboard
    * actually runs, vs holding every value in state). Because top-k
    * under the total order (value desc, event_id) is mergeable, the
    * final summary must equal the batch top-k EXACTLY, whatever the
    * batch split — which is what the oracle states. Ranking compares
    * STORED doubles only (no arithmetic touches a boundary); the
    * driver-side merge applies the identical ordering.
    */
  def streamTopk(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val schema = Tables.eventsRaw(spark, sfDir).schema
    val dir = graft.util.Scratch.dir("graft_stream_tk")
    // TWO slices (was three): top-k mergeability is proven by one
    // cross-batch merge; the third batch was pure machinery wall
    val inDir = stageEventSlices2(spark, sfDir)
    // bounded driver-held summary: (type, event_id, value), ≤ types×k
    var state = Vector.empty[(String, Long, Double)]
    def mergeTrunc(rows: Vector[(String, Long, Double)]): Vector[(String, Long, Double)] =
      rows.groupBy(_._1).toVector.flatMap { case (_, g) =>
        g.sortBy(r => (-r._3, r._2)).take(StreamTopK)
      }
    val byType = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id"))
    runToEnd(slicedStream(spark, schema, inDir), "append", dir.resolve("cp")) { (b, _) =>
      // per-PARTITION bounded top-k partials (O(types×k) state each,
      // zero shuffle — the r13 shape shuffled the whole micro-batch
      // into a per-type row_number window, measured 1.3× over
      // baseline), merged on the driver by the same total order.
      // Mergeable because top-k under a total order is: the round-13
      // verdict's prescribed pre-reduction.
      import b.sparkSession.implicits._
      val btop = b.select(col("event_type"), col("event_id"), col("value"))
        .as[(String, Long, Double)]
        .mapPartitions { it =>
          // dequeues the WORST under (value desc, event_id asc)
          val worstFirst = Ordering.fromLessThan[(Long, Double)] {
            (a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
          }
          val qs = scala.collection.mutable.HashMap
            .empty[String, scala.collection.mutable.PriorityQueue[(Long, Double)]]
          it.foreach { case (t, id, v) =>
            val pq = qs.getOrElseUpdate(t,
              scala.collection.mutable.PriorityQueue.empty(worstFirst))
            pq.enqueue((id, v))
            if (pq.size > StreamTopK) pq.dequeue()
          }
          qs.iterator.flatMap { case (t, pq) =>
            pq.iterator.map { case (id, v) => (t, id, v) } }
        }
        .collect()
      state = mergeTrunc(state ++ btop.toVector)
    }
    import spark.implicits._
    state.toDF("event_type", "event_id", "value")
      .withColumn("rank", row_number().over(byType))
      .select(col("event_type"), col("rank"), col("event_id"),
        round4(col("value")).as("value"))
      .orderBy("event_type", "rank")
  }

  private val sqlStreamTopk =
    s"""WITH r AS (SELECT event_type, event_id, value,
       |             row_number() OVER (PARTITION BY event_type
       |               ORDER BY value DESC, event_id) AS rk
       |           FROM events)
       |SELECT event_type, CAST(rk AS INT) AS rank, event_id,
       |       ${duckRound4("value")} AS value
       |FROM r WHERE rk <= $StreamTopK
       |ORDER BY event_type, rank""".stripMargin

  // ---------- q_stream_restart: checkpoint recovery, oracle-gated ----------

  /** CHECKPOINT RECOVERY under the correctness gate — the streaming
    * property none of the other nine gates exercises: a Complete-mode
    * windowed aggregation processes ONE staged file and is STOPPED;
    * two more files arrive while the engine is down; a NEW query
    * started on the SAME checkpoint must restore both the state store
    * and the file-source progress log, process only the unseen files,
    * and re-emit the aggregate of EVERYTHING — which the oracle states
    * as the plain batch aggregate ([[sqlStreamTumbling]], the same
    * contract as the uninterrupted run). A recovery that loses state
    * under-counts the first file's windows; one that replays it
    * double-counts them; either breaks the hash. This is the
    * crash/upgrade path every production stream depends on, proven by
    * value, not by spec assertion. Value sums ride the
    * round-before-sum DECIMAL rule (state merge reorders floats).
    */
  def streamRestart(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val batch = Tables.eventsRaw(spark, sfDir)
    val dir = graft.util.Scratch.dir("graft_stream_rs")
    // the slices are cached; the ARRIVAL dir must stay per-run — files
    // arrive into it between the two engine runs (cheap Files.copy)
    val stage = StageCache.cachedIn("rs", sfDir) { (work, in) =>
      (0 until 3).foreach { k =>
        stageFile(batch.filter(pmod(col("event_id"), lit(3)) === k),
          work, in, s"s$k.parquet", stagedMtime(k))
      }
    }
    val inDir = dir.resolve("in"); Files.createDirectories(inDir)
    val out = dir.resolve("out").toString
    def runOnce(): Unit =
      runToEnd(Streaming.windowedCounts(Tables.eventTs(slicedStream(spark, batch.schema, inDir)),
          "6 hours", lateness = None), "complete", dir.resolve("cp")) { (b, _) =>
        windowRows(b).coalesce(1).write.mode("overwrite").parquet(out)
      }
    def arrive(k: Int): Unit =
      stageCopy(stage.resolve(s"s$k.parquet"), inDir, s"s$k.parquet", stagedMtime(k))
    // run 1 sees ONLY slice 0, then the engine is STOPPED
    arrive(0)
    runOnce()
    // slices 1-2 arrive while the engine is down; the restarted query
    // must resume from the checkpoint, not from scratch
    arrive(1)
    arrive(2)
    runOnce()
    spark.read.parquet(out).orderBy("window_start", "event_type")
  }

  // ---------- q_stream_cms / q_stream_hh: streaming sketch sinks, oracle-gated ----------

  /** Stage the events table as TWO event_id-sliced parquet files in
    * modification-time order — the micro-batch fixture shared (one
    * cache entry) by [[streamTopk]] and the four full-stream
    * transformWithState gates (tws/l3/ms/up); [[stageDocSlices]] is its
    * documents twin.
    *
    * Two slices, not three (round-18, per the round-17 verdict's
    * "combine input batches where the contract allows"): every one of
    * these gates proves CROSS-BATCH state continuity, and two
    * micro-batches exercise exactly the same state-merge boundary as
    * three while paying one less forced batch (~0.4-0.6 s of pure
    * micro-batch machinery per query — profiled via
    * StreamingQueryProgress: even a tiny batch costs ~0.5-0.9 s of
    * planning + state-store commit + sink job). The final LWW state
    * is slice-independent by construction, so results are unchanged.
    */
  private def stageEventSlices2(spark: SparkSession, sfDir: String): Path =
    StageCache.cachedIn("ev2", sfDir) { (work, in) =>
      val batch = Tables.eventsRaw(spark, sfDir)
      (0 until 2).foreach { k =>
        stageFile(batch.filter(col("event_id") % 2 === k),
          work, in, s"slice$k.parquet", stagedMtime(k))
      }
    }

  /** Stage the documents table as two doc_id-sliced parquet files in
    * modification-time order — [[stageEventSlices2]]'s documents twin,
    * shared by the two sketch-sink gates (`maxFilesPerTrigger=1` turns
    * each slice into its own micro-batch). Returns the documents
    * schema and the staged directory.
    */
  private def stageDocSlices(spark: SparkSession, sfDir: String): (StructType, Path) = {
    val batch = spark.read.parquet(s"$sfDir/documents.parquet")
    // one shared cache entry serves both sketch gates (identical
    // fixture); TWO slices — the mergeability law needs one cross-
    // batch fold, and each extra forced batch costs a full committer
    // read-merge-write cycle (stageEventSlices2 note)
    val in = StageCache.cachedIn("doc2", sfDir) { (work, in) =>
      (0 until 2).foreach { k =>
        stageFile(batch.filter(pmod(col("doc_id"), lit(2)) === k),
          work, in, s"s$k.parquet", stagedMtime(k))
      }
    }
    (batch.schema, in)
  }

  /** Streaming count-min sketch maintenance under the correctness
    * gate: the PRODUCTION sink ([[Streaming.startCmsSink]] — per-batch
    * counter tables folded into a committed snapshot through the
    * [[SnapshotCommitter]] swap protocol) run over two staged
    * micro-batches, with the final committed snapshot hash-compared
    * against the one-shot batch counter table the oracle rebuilds
    * arithmetically. This is the counter-wise mergeability law
    * (cells(A ⊎ B) = cells(A) + cells(B)) that lets a 100 TB stream
    * keep a 2048-row sketch instead of a vocabulary-sized state —
    * previously spec-only (`StreamingSpec`), now driver-gated exactly
    * like the other nine streaming execution modes.
    */
  def streamCms(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val dir = graft.util.Scratch.dir("graft_stream_cms")
    val (schema, inDir) = stageDocSlices(spark, sfDir)
    val src = slicedStream(spark, schema, inDir)
    val snap = dir.resolve("snap").toString
    val q = Streaming.startCmsSink(src, snap, dir.resolve("cp").toString)
    q.processAllAvailable(); q.stop()
    spark.read.parquet(snap).orderBy("j", "c")
  }

  /** Streaming Misra-Gries heavy-hitter maintenance under the
    * correctness gate: the PRODUCTION sink
    * ([[Streaming.startHeavyHitterSink]], default capacity m=256 —
    * per-batch summaries merged via Agarwal et al.'s mergeable-summary
    * rule, `_n_total` side-file carrying the running token count) run
    * over two staged micro-batches of exploded document tokens.
    * Gate contract: this corpus's vocabulary (31 terms) is far below
    * the summary capacity, so Misra-Gries is in its LOSSLESS regime —
    * no decrement ever fires (per-partition maps never fill, merges
    * never exceed capacity) and the final snapshot must equal the
    * exact per-term counts with n_total = the exact token total,
    * deterministically, whatever the batch/partition split. The
    * eviction path (where counts become residuals) stays spec-gated
    * (`StreamingSpec`'s m=8 and m=2 tests) — its result depends on
    * within-partition row order and is not cross-engine replayable.
    */
  def streamHh(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val dir = graft.util.Scratch.dir("graft_stream_hh")
    val (schema, inDir) = stageDocSlices(spark, sfDir)
    val terms = slicedStream(spark, schema, inDir)
      .select(explode_outer(graft.text.TextFns.tokens(col("text"))).as("term"))
      .filter(col("term").isNotNull)
    val snap = dir.resolve("snap").toString
    val q = Streaming.startHeavyHitterSink(terms, snap, dir.resolve("cp").toString)
    q.processAllAvailable(); q.stop()
    spark.read.parquet(snap).select("term", "cnt", "n_total").orderBy("term")
  }

  // ---------- q_stream_append: watermark-evicted APPEND mode, oracle-gated ----------

  /** The production streaming path under the correctness gate: APPEND
    * output mode with real watermark eviction — the mode you actually
    * run at 100×, where each window is emitted EXACTLY ONCE when the
    * watermark passes its end and state is freed, unlike the
    * Complete-mode gates ([[streamTumbling]] etc.) that re-emit all
    * state every batch and can never scale. The gate needs the run to
    * be finite AND every window to provably close, so the source is
    * staged as TWO files processed as two micro-batches
    * (`maxFilesPerTrigger=1`, modification-time ordered): the real
    * events, then two sentinel rows time-stamped 1 and 2 days past
    * the max event time. Sentinels flow through the watermark node
    * AND the aggregation — a pre-agg filter does NOT work, Catalyst
    * pushes it below the EventTimeWatermark node so the sentinel
    * never reaches the watermark accumulator and the watermark never
    * advances (observed: final windows stuck in state forever).
    * Instead their own windows simply never close (each sentinel
    * sits ≥ 18 h past the final watermark), so they die in state,
    * and the sink filters the one that a trailing no-data micro-batch
    * could still evict. The second sentinel batch flushes the windows
    * the first one closed (watermark advances at END of a batch,
    * eviction happens in the NEXT one). The append sink accumulates each
    * batch's evicted windows; the accumulated union must equal the
    * batch aggregate — [[sqlStreamTumbling]]'s oracle verbatim, one
    * contract for both the Complete and the eviction path. Value
    * sums use the round-before-sum micro-unit DECIMAL rule (state
    * merge reorders float addition).
    */
  def streamAppend(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val batch = Tables.eventsRaw(spark, sfDir)
    val dir = graft.util.Scratch.dir("graft_stream_ap")
    val out = dir.resolve("out").toString
    // the file source orders pending files by modification time; stamp
    // strictly increasing mtimes so events → sentinel1 → sentinel2 is
    // the guaranteed batch order (a sentinel processed FIRST would
    // advance the watermark before the real events arrive and drop
    // them all as late)
    val inDir = StageCache.cachedIn("ap", sfDir) { (work, in) =>
      stageCopy(Paths.get(sfDir, "events.parquet"), in, "a_events.parquet", stagedMtime(0))
      (1 to 2).foreach { k =>
        stageFile(latestPlusDays(batch, k).withColumn("event_type", lit("__wm_sentinel")),
          work, in, s"z_sentinel$k.parquet", stagedMtime(k))
      }
    }
    val evs = Tables.eventTs(slicedStream(spark, batch.schema, inDir))
    runToEnd(Streaming.windowedCounts(evs, "6 hours", lateness = Some("0 seconds")), "append",
        dir.resolve("cp")) { (b, _) =>
      windowRows(b.filter(col("event_type") =!= "__wm_sentinel"))
        .coalesce(1).write.mode("append").parquet(out)
    }
    spark.read.parquet(out).orderBy("window_start", "event_type")
  }

  // ---------- q_stream_join: stream-stream interval join, oracle-gated ----------

  /** Stream-STREAM join under the correctness gate — the last major
    * streaming operator family ([[AsOfJoin]] covers the batch as-of
    * shape; this is the live two-stream path): purchases and clicks
    * arrive as two independent file streams, inner-joined per user
    * with the interval condition `purchase-1h ≤ click ≤ purchase`,
    * both sides watermarked (the state-retention bound the interval
    * condition lets Spark derive). Inner join emits each matched
    * pair exactly once as both sides arrive; the raw pairs land in
    * an append sink and the final read aggregates them per purchase,
    * which must hash-match the batch interval join. Join-buffer
    * state at 100 TB is bounded by the watermark delay × interval
    * width per user — the production contract this gate pins.
    */
  def streamJoin(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val schema = Tables.eventsRaw(spark, sfDir).schema
    val dir = graft.util.Scratch.dir("graft_stream_j")
    val out = dir.resolve("out").toString
    val pairs = purchaseClicks(() => Tables.eventTs(eventsStream(spark, schema, sfDir)), "inner")
    runToEnd(pairs, "append", dir.resolve("cp")) { (b, _) =>
      b.coalesce(1).write.mode("append").parquet(out)
    }
    spark.read.parquet(out)
      .groupBy(col("p_id").as("event_id"))
      .agg(count(lit(1)).as("n_clicks"), min(col("lag_us")).as("min_lag_us"),
        max(col("c_id")).as("last_click_id"))
      .orderBy("event_id")
  }

  /** Purchases joined to the same user's clicks in the hour before them
    * ([[Streaming.intervalJoin]], 0-second watermarks), as (p_id, c_id,
    * lag_us) pairs. Each side reads its own stream from `events`.
    */
  private def purchaseClicks(events: () => DataFrame, joinType: String): DataFrame = {
    def side(tpe: String, idAs: String) = events()
      .filter(col("event_type") === tpe)
      .select(col("event_id").as(idAs), col("user_id"), col("ts"))
    Streaming.intervalJoin(side("purchase", "p_id"), side("click", "c_id"), ("p", "c"),
        horizon = "1 hour", lateness = "0 seconds", joinType = joinType)
      .select(col("p_id"), col("c_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
  }

  private val sqlStreamJoin =
    """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events),
      |     p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM e
      |           WHERE event_type = 'purchase'),
      |     c AS (SELECT event_id AS c_id, user_id, ts AS c_ts FROM e
      |           WHERE event_type = 'click')
      |SELECT p.p_id AS event_id, CAST(count(*) AS BIGINT) AS n_clicks,
      |       CAST(min(epoch_us(p.p_ts) - epoch_us(c.c_ts)) AS BIGINT) AS min_lag_us,
      |       CAST(max(c.c_id) AS BIGINT) AS last_click_id
      |FROM p JOIN c ON p.user_id = c.user_id
      |             AND c.c_ts <= p.p_ts
      |             AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_stream_enrich: stream-static enrichment join, oracle-gated ----------

  /** STREAM-STATIC join under the correctness gate: the event stream
    * is enriched against the static customer dimension (a plain
    * batch DataFrame on the right — Structured Streaming re-plans it
    * per micro-batch as a broadcast hash join, the standard
    * dimension-enrichment shape), then aggregated to (segment, type)
    * grain in Complete mode. The final sink state must hash-match
    * the batch join+aggregate — proving the static side is joined
    * consistently across micro-batches.
    *
    * Scale: the static dim broadcasts once per batch (at 100 TB the
    * same join runs against a snapshotted dim table, refreshed by
    * restarting the query or via a Delta-style lookup); stream state
    * is (segments × types) — bounded, tiny.
    */
  def streamEnrich(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val schema = Tables.eventsRaw(spark, sfDir).schema
    val cust = graft.schema.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val dir = graft.util.Scratch.dir("graft_stream_en")
    val out = dir.resolve("out").toString
    val agg = Tables.eventTs(eventsStream(spark, schema, sfDir))
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .withColumn("vm", units(col("value"), 1e6).cast("decimal(28,0)"))
      .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("vm")).as("vm_sum"))
    runToEnd(agg, "complete", dir.resolve("cp")) { (b, _) =>
      b.select(col("segment"), col("event_type"), col("n_events"), sumValue())
        .coalesce(1).write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(out).orderBy("segment", "event_type")
  }

  private val sqlStreamEnrich =
    s"""SELECT c_mktsegment AS segment, event_type,
       |       CAST(count(*) AS BIGINT) AS n_events,
       |       ${duckRound4(
                  s"CAST(sum(CAST(${duckUnits("value", 1e6)} AS DECIMAL(28,0))) AS DOUBLE) / 1000000.0")} AS sum_value
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------- q_stream_outer: stream-stream LEFT OUTER join, oracle-gated ----------

  /** Stream-stream LEFT OUTER interval join under the correctness
    * gate — the eviction-EMISSION path [[streamJoin]]'s inner join
    * never exercises: a purchase with no click in its preceding hour
    * can only be emitted (click columns null) once the click-side
    * WATERMARK has passed its whole interval, because until then a
    * matching click could still arrive. The run streams the events
    * file, then two far-future watermark sentinels (two, because
    * outer-join state is evicted against the PREVIOUS batch's
    * watermark — the same two-phase lag [[streamLate]] encodes); the
    * sentinels are real purchase and click rows of user −1, so they
    * pass each side's type filter, advance its watermark and join
    * nothing. The accumulated append sink, aggregated to purchase
    * grain, must hash-match the batch LEFT JOIN — unmatched purchases
    * included, which is precisely the part only correct eviction can
    * produce.
    *
    * Scale: join state is bounded by the interval (1 h of both
    * sides) × watermark lag, independent of stream length; the
    * aggregate after the sink is purchase-grain.
    */
  def streamOuterJoin(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val batch = Tables.eventsRaw(spark, sfDir)
    val dir = graft.util.Scratch.dir("graft_stream_oj")
    val out = dir.resolve("out").toString
    // Sentinels must be REAL 'purchase'/'click' rows (user_id = -1 so
    // they join nothing, event_id = -1 so the sink read drops them):
    // a foreign-typed sentinel never advances the watermark, because
    // the type filter runs below the EventTimeWatermark node (Catalyst
    // pushes it there even when written above) and the sentinel dies —
    // observed as batches 2-3 emitting zero rows while the last
    // hour's unmatched purchase sat in state forever. THREE sentinel
    // batches: eviction runs against the previous batch's watermark
    // (the streamLate two-phase lag) and the left eviction bound is
    // offset by the 1 h interval.
    val inDir = StageCache.cachedIn("oj", sfDir) { (work, in) =>
      stageCopy(Paths.get(sfDir, "events.parquet"), in, "a_events.parquet", stagedMtime(0))
      (1 to 3).foreach { k =>
        val mx = latestPlusDays(batch, k)
          .withColumn("event_id", lit(-1L))
          .withColumn("user_id", lit(-1L).cast(batch.schema("user_id").dataType))
        stageFile(mx.withColumn("event_type", lit("purchase"))
            .unionByName(mx.withColumn("event_type", lit("click"))),
          work, in, s"s${k}_sentinel.parquet", stagedMtime(k))
      }
    }
    val pairs = purchaseClicks(
      () => Tables.eventTs(slicedStream(spark, batch.schema, inDir)), "left_outer")
    runToEnd(pairs, "append", dir.resolve("cp")) { (b, _) =>
      b.coalesce(1).write.mode("append").parquet(out)
    }
    spark.read.parquet(out)
      .filter(col("p_id") >= 0) // drop watermark-sentinel purchases
      .groupBy(col("p_id").as("event_id"))
      .agg(count(col("c_id")).as("n_clicks"),
        min(col("lag_us")).as("min_lag_us"))
      .orderBy("event_id")
  }

  private val sqlStreamOuter =
    """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events),
      |     p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM e
      |           WHERE event_type = 'purchase'),
      |     c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts FROM e
      |           WHERE event_type = 'click')
      |SELECT p.p_id AS event_id, CAST(count(c.c_id) AS BIGINT) AS n_clicks,
      |       CAST(min(epoch_us(p.p_ts) - epoch_us(c.c_ts)) AS BIGINT) AS min_lag_us
      |FROM p LEFT JOIN c ON p.user_id = c.c_user
      |                   AND c.c_ts <= p.p_ts
      |                   AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q_stream_late: watermark late-data DROP, oracle-gated ----------

  /** Late-data handling under the correctness gate — the semantics
    * [[Streaming]] spec-asserts, now hash-checked: the event file is
    * followed by a REPLAY batch (the chronologically earliest ~10% of
    * events re-sent) and then a sentinel. After batch 1 the watermark
    * sits at max event time minus zero delay, so every replayed row
    * arrives strictly behind it and MUST be dropped whole — if the
    * state store wrongly accepted any, the early windows would
    * double-count and the hash would break. The accumulated append
    * sink therefore equals the plain batch aggregate over the
    * ORIGINAL events ([[sqlStreamTumbling]]'s oracle), proving both
    * the drop path and the eviction path in one run. Same sentinel /
    * mtime-ordering / DECIMAL-sum machinery as [[streamAppend]].
    */
  def streamLate(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val batch = Tables.eventsRaw(spark, sfDir)
    val dir = graft.util.Scratch.dir("graft_stream_lt")
    val out = dir.resolve("out").toString
    // batch order by mtime: events, sentinel 1, replay, sentinel 2
    val inDir = StageCache.cachedIn("lt", sfDir) { (work, in) =>
      stageCopy(Paths.get(sfDir, "events.parquet"), in, "a_events.parquet", stagedMtime(0))
      // the replay: earliest ~10% by event time, re-sent verbatim. It
      // must arrive TWO batches after the events: Spark filters late
      // rows against the PREVIOUS batch's eviction watermark (the
      // two-watermark semantics that avoid dropping rows racing a wm
      // advance), so a replay in batch N is judged by the wm batch N-1
      // evicted with — one sentinel batch in between publishes the
      // post-events watermark before the replay is judged (observed:
      // replay directly after events is accepted wholesale, doubling
      // early windows).
      val cut = batch.selectExpr("percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.1)")
        .head.getDouble(0).toLong
      stageFile(batch.filter(unix_micros(col("ts").cast("timestamp")) <= lit(cut)),
        work, in, "c_late_replay.parquet", stagedMtime(2))
      Seq(1 -> "b_sentinel1.parquet", 2 -> "z_sentinel2.parquet").foreach { case (k, name) =>
        stageFile(latestPlusDays(batch, k).withColumn("event_type", lit("__wm_sentinel")),
          work, in, name, stagedMtime(2 * k - 1))
      }
    }
    val evs = Tables.eventTs(slicedStream(spark, batch.schema, inDir))
    runToEnd(Streaming.windowedCounts(evs, "6 hours", lateness = Some("0 seconds")), "append",
        dir.resolve("cp")) { (b, _) =>
      windowRows(b.filter(col("event_type") =!= "__wm_sentinel"))
        .coalesce(1).write.mode("append").parquet(out)
    }
    spark.read.parquet(out).orderBy("window_start", "event_type")
  }

  // ---------- q_stream_fmgws: custom state API, oracle-gated ----------

  private[stream] case class SessEv(
      user_id: Long, ts_us: Long, event_id: Long, vm: Long, sentinel: Boolean)
  private[stream] case class SessState(start: Long, last: Long, n: Long, vm: Long)
  private[stream] case class SessOut(
      user_id: Long, start_us: Long, n_events: Long, vm: Long)

  /** `flatMapGroupsWithState` — the CUSTOM-STATE streaming API —
    * under the correctness gate: the same 30-minute-gap
    * sessionization [[streamSession]] gates through the built-in
    * `session_window` state store, re-implemented as hand-rolled
    * per-user state (open-session struct), so the arbitrary-state
    * API itself is hash-checked against [[sqlStreamSession]]'s
    * gaps-and-islands oracle rather than only spec-asserted. A
    * session is emitted when a ≥30 min gap closes it; per-user
    * sentinel rows a day past max event time arrive as a second
    * micro-batch (`maxFilesPerTrigger=1`, mtime-ordered) and close
    * every still-open session — sentinels never open sessions, so
    * state dies empty and the accumulated append sink is exactly the
    * full session set. NoTimeout by design: a bounded AvailableNow
    * run never fires processing-time timeouts, the sentinel IS the
    * close signal (the timeout path is spec-gated in StreamingSpec's
    * closedSessions).
    *
    * Per-group batch rows are sorted by event time inside the state
    * function (arrival order within a micro-batch is not event
    * order); that sort is bounded by one user's events per batch —
    * the production shape bounds it further with watermarked
    * repartitioning. Value mass in exact Long micro-units (≡ the
    * oracle's DECIMAL sum).
    */
  def streamFmgws(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    val batch = Tables.eventsRaw(spark, sfDir)
    val dir = graft.util.Scratch.dir("graft_stream_fm")
    val out = dir.resolve("out").toString
    val inDir = StageCache.cachedIn("fm", sfDir) { (work, in) =>
      stageCopy(Paths.get(sfDir, "events.parquet"), in, "a_events.parquet", stagedMtime(0))
      // one sentinel per user, a day past global max event time
      val mxTs = batch.agg(max(col("ts")).as("mts"))
        .withColumn("ts", plusDays(batch, "mts", 1))
        .select("ts")
      val sent = batch.select(col("user_id")).distinct()
        .crossJoin(mxTs)
        .withColumn("event_id", lit(-1L))
        .withColumn("event_type", lit("__sentinel"))
        .withColumn("value", lit(0.0))
        .withColumn("props", lit(null).cast("string"))
        .select(batch.schema.fieldNames.map(col).toSeq: _*)
      stageFile(sent, work, in, "z_sentinel.parquet", stagedMtime(1))
    }
    val evs = Tables.eventTs(slicedStream(spark, batch.schema, inDir))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"),
        units(col("value"), 1e6).cast("long").as("vm"),
        (col("event_type") === "__sentinel").as("sentinel"))
      .as[SessEv]
    val GapUs = 30L * 60L * 1000000L
    val sessions = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
        val outBuf = scala.collection.mutable.ArrayBuffer.empty[SessOut]
        var cur = state.getOption
        sorted.foreach { e =>
          if (e.sentinel) {
            cur.foreach(s => outBuf += SessOut(uid, s.start, s.n, s.vm))
            cur = None
          } else cur match {
            case Some(s) if e.ts_us - s.last >= GapUs =>
              outBuf += SessOut(uid, s.start, s.n, s.vm)
              cur = Some(SessState(e.ts_us, e.ts_us, 1L, e.vm))
            case Some(s) =>
              cur = Some(s.copy(last = e.ts_us, n = s.n + 1, vm = s.vm + e.vm))
            case None =>
              cur = Some(SessState(e.ts_us, e.ts_us, 1L, e.vm))
          }
        }
        cur match {
          case Some(s) => state.update(s)
          case None => state.remove()
        }
        outBuf.iterator
      }
    runToEnd(sessions, "append", dir.resolve("cp")) { (b, _) =>
      b.toDF().coalesce(1).write.mode("append").parquet(out)
    }
    spark.read.parquet(out)
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        col("n_events"), sumValue("vm"))
      .orderBy("user_id", "session_start")
  }

  // ---------- q_stream_tws: transformWithState (Spark 4 API), oracle-gated ----------

  /** A row the per-type fold takes: its value in micro-units and its id. */
  private[stream] trait VmEv { def event_id: Long; def vm: Long }
  private[stream] case class TwsEv(event_type: String, event_id: Long, vm: Long) extends VmEv
  private[stream] case class TwsOut(
      event_type: String, n_events: Long, vm_sum: Long, max_event_id: Long)

  /** The per-event-type running aggregate the four typed-state gates
    * keep: one ValueState[TwsOut] per key, and the (count, value sum,
    * max event id) fold of each batch's rows into it. Serializable
    * (shipped to tasks).
    */
  private[stream] trait TypeStatsState[I <: VmEv]
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, I, TwsOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient protected var st: ValueState[TwsOut] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TwsOut]("agg",
        org.apache.spark.sql.Encoders.product[TwsOut], TTLConfig.NONE)
    /** Folds `rows` into `key`'s state and returns the new totals. */
    protected def fold(key: String, rows: Iterator[I]): TwsOut = {
      val zero = if (st.exists()) st.get() else TwsOut(key, 0L, 0L, Long.MinValue)
      val acc = rows.foldLeft(zero) { (a, e) =>
        TwsOut(key, a.n_events + 1L, a.vm_sum + e.vm, math.max(a.max_event_id, e.event_id))
      }
      st.update(acc)
      acc
    }
  }

  /** The [[streamTws]] processor: folds each batch's rows into the
    * per-type state and re-emits the running totals — the canonical
    * "running aggregate in arbitrary state" the new API exists for.
    */
  private[stream] class TwsTypeStats extends TypeStatsState[TwsEv] {
    override def handleInputRows(key: String, rows: Iterator[TwsEv],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TwsOut] =
      Iterator.single(fold(key, rows))
  }

  /** Spark 4's `transformWithState` — the successor arbitrary-state
    * API (SPARK-46815, state-v2: typed state variables, timers, TTL,
    * RocksDB-backed) — under the same hash gate as the other ten
    * streaming modes: per event type, a ValueState running aggregate
    * (count, integer-micro value sum, max event id) folded across
    * two staged micro-batches in Update mode; the batch-stamped
    * append sink reconstructs final state last-writer-wins
    * ([[streamUpdate]]'s idempotent-upsert contract) and must equal
    * the plain batch aggregate. flatMapGroupsWithState
    * ([[streamFmgws]]) gates the LEGACY state API; this gates its
    * replacement, including the RocksDB state-store provider the new
    * API requires (scoped to this query, restored after).
    *
    * Scale: state is one tiny row per event type; each micro-batch
    * shuffles only its own rows to the keyed state partitions —
    * bounded state, linear flow, the exact shape a 100 TB stream's
    * per-key telemetry rollup runs with.
    */
  def streamTws(spark: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(spark, stateStore = RocksDbStore) {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import spark.implicits._
      val schema = Tables.eventsRaw(spark, sfDir).schema
      val dir = graft.util.Scratch.dir("graft_stream_tws")
      val inDir = stageEventSlices2(spark, sfDir)
      val out = dir.resolve("out").toString
      val evs = slicedStream(spark, schema, inDir)
        .select(col("event_type"), col("event_id"),
          units(col("value"), 1e6).cast("long").as("vm"))
        .as[TwsEv]
      val stats = evs.groupByKey(_.event_type)
        .transformWithState(new TwsTypeStats, TimeMode.None(), OutputMode.Update())
      runToEnd(stats, "update", dir.resolve("cp"))(appendWithBid(out))
      typeStats(spark.read.parquet(out))
    }

  /** Last writer per event type of a [[TwsOut]] sink stamped by
    * [[appendWithBid]], in [[sqlStreamTws]]'s columns.
    */
  private def typeStats(sinkRows: DataFrame): DataFrame =
    graft.etl.Dedup.lastWins(sinkRows,
        Seq("event_type"), Seq(col("bid")),
        Seq("n_events", "vm_sum", "max_event_id"))
      .select(col("event_type"), col("n_events"), sumValue(), col("max_event_id"))
      .orderBy("event_type")

  private val sqlStreamTws =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       ${duckRound4(s"CAST(sum(CAST(${duckUnits("value", 1e6)} AS BIGINT)) AS DOUBLE) / 1000000.0")}
      |         AS sum_value,
      |       CAST(max(event_id) AS BIGINT) AS max_event_id
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------- q_stream_init: warm-start initial state, oracle-gated ----------

  /** [[TwsTypeStats]] extended with `handleInitialState`: the
    * batch-computed per-type aggregate seeds the ValueState BEFORE the
    * first micro-batch — Spark 4's StatefulProcessorWithInitialState,
    * the API leg that makes batch→streaming MIGRATION a first-class
    * operation instead of a replay.
    */
  private[stream] class TwsInit
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        String, TwsEv, TwsOut, TwsOut] with TypeStatsState[TwsEv] {
    override def handleInitialState(key: String, initialState: TwsOut,
        timerValues: org.apache.spark.sql.streaming.TimerValues): Unit =
      st.update(initialState)
    override def handleInputRows(key: String, rows: Iterator[TwsEv],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TwsOut] =
      Iterator.single(fold(key, rows))
  }

  /** Warm-start migration under the hash gate: the per-type running
    * aggregate is BOOTSTRAPPED from a batch computation over the
    * historical third of the data (`handleInitialState` — Spark 4's
    * StatefulProcessorWithInitialState), then only the two remaining
    * thirds stream through as micro-batches; the final LWW state must
    * equal the plain batch aggregate over EVERYTHING (the same oracle
    * as [[streamTws]]). This is the production cutover path — stand up
    * the stream from a warehouse snapshot instead of replaying
    * history — proven by value: a lost or double-applied initial state
    * breaks the hash. Limitation (documented, not hit here): a key
    * with NO streamed rows never re-emits (handleInitialState writes
    * state but produces no output) — a production cutover pairs the
    * seed with one warehouse-side snapshot emission; on this fixture
    * every type streams, and the hash gate would catch an absent row.
    *
    * Scale: the bootstrap is one batch aggregate (warehouse-side),
    * the stream shuffles only new rows — state bounded at one row per
    * type, the exact cutover shape a 100 TB pipeline needs (replaying
    * history through the stream would cost the full corpus again).
    */
  def streamInit(spark: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(spark, stateStore = RocksDbStore) {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import spark.implicits._
      val batch = Tables.eventsRaw(spark, sfDir)
      val dir = graft.util.Scratch.dir("graft_stream_ini")
      val out = dir.resolve("out").toString
      // the non-history two thirds stream as ONE file (was two
      // id-sliced batches): the cutover contract is seed + streamed
      // merge, which one streamed batch proves completely —
      // cross-batch state continuity is [[streamTws]]'s gate, and the
      // second forced batch was ~0.6 s of pure micro-batch machinery
      val inDir = StageCache.cachedIn("ini1", sfDir) { (work, in) =>
        stageFile(batch.filter(col("event_id") % 3 =!= 0),
          work, in, "slice12.parquet", stagedMtime(0))
      }
      val initAgg = batch.filter(col("event_id") % 3 === 0)
        .select(col("event_type"), col("event_id"),
          units(col("value"), 1e6).cast("long").as("vm"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum(col("vm")).as("vm_sum"),
          max(col("event_id")).as("max_event_id"))
        .as[TwsOut]
      // Seed emission (bid = -1): handleInitialState writes state but
      // produces NO output, so a type present only in the history
      // slice would otherwise be absent vs the full-batch oracle.
      // Union the batch seed under the LWW dedup — any streamed row
      // for the same key (bid >= 0) wins, seed-only keys survive.
      // This removes the fixture-composition dependence the round-14
      // ADVICE flagged, and is the production shape anyway: a cutover
      // pairs the state seed with one warehouse-side snapshot emission.
      appendWithBid[TwsOut](out)(initAgg, -1L)
      val initState = initAgg.groupByKey(_.event_type)
      val evs = slicedStream(spark, batch.schema, inDir)
        .select(col("event_type"), col("event_id"),
          units(col("value"), 1e6).cast("long").as("vm"))
        .as[TwsEv]
      val stats = evs.groupByKey(_.event_type)
        .transformWithState(new TwsInit, TimeMode.None(), OutputMode.Update(),
          initState)
      runToEnd(stats, "update", dir.resolve("cp"))(appendWithBid(out))
      typeStats(spark.read.parquet(out))
    }

  // ---------- q_stream_timer: event-time timer emission, oracle-gated ----------

  private[stream] case class TmrEv(
      event_type: String, event_id: Long, vm: Long, ts: java.sql.Timestamp) extends VmEv

  /** The timer gates' per-type state: each batch folds into it and emits
    * nothing, then the key's one live timer is disarmed (`listTimers` +
    * `deleteTimer`, the re-arm discipline a session-TTL processor runs
    * per event) and re-armed at [[flushAt]]. The totals leave only
    * through `handleExpiredTimer`, once, and the state is cleared.
    */
  private[stream] abstract class TypeStatsTimer[I <: VmEv] extends TypeStatsState[I] {
    /** The instant, in ms, the key's timer is armed at after a batch. */
    protected def flushAt(timerValues: org.apache.spark.sql.streaming.TimerValues): Long
    override def handleInputRows(key: String, rows: Iterator[I],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TwsOut] = {
      fold(key, rows)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(flushAt(timerValues))
      Iterator.empty
    }
    override def handleExpiredTimer(key: String,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[TwsOut] = {
      val out: Iterator[TwsOut] =
        if (st.exists()) Iterator.single(st.get()) else Iterator.empty
      st.clear()
      out
    }
  }

  /** The [[streamTimer]] processor — the last state-v2 surface
    * (round-14 verdict #1): `registerTimer`-driven emission, a
    * [[TypeStatsTimer]] armed at one fixed event-time flush instant.
    * Output exists ONLY once the watermark crosses that instant —
    * a lost registration, a double fire, or an expiry that misses its
    * state shows up as a missing/duplicated key under the hash gate.
    * The flush instant is constant across keys (checkpoint-flush
    * shape) rather than per-key last-event + gap: a per-key gap timer
    * can expire BETWEEN two input batches of the same key (watermark
    * is global), splitting the aggregate nondeterministically vs the
    * batch oracle — constant-instant arming keeps the gate exact
    * while exercising the identical API surface.
    */
  private[stream] class TwsTimer(flushAtMs: Long) extends TypeStatsTimer[TmrEv] {
    override protected def flushAt(
        timerValues: org.apache.spark.sql.streaming.TimerValues): Long = flushAtMs
  }

  /** Processing-time-timer twin of [[TwsTimer]] — the
    * TimeMode.ProcessingTime leg. Wall-clock-nondeterministic under
    * the system clock (a timer fires whenever a batch runs past its
    * instant), so for rounds 15-16 it was spec-gated only
    * (`TwsProcessorSpec`); since round 17 [[streamProcTimer]] also
    * oracle-gates it deterministically by injecting a ManualClock as
    * the trigger clock (`q_stream_ptimer`). Same single-live-timer
    * discipline as the event-time twin, armed relative to the batch's
    * current processing time — the idle-flush / cache-expiry shape
    * (event-time timers are the session-close shape).
    */
  private[stream] class TwsProcTimer(delayMs: Long) extends TypeStatsTimer[TwsEv] {
    // new activity pushes the flush out: re-armed at now + delay
    override protected def flushAt(
        timerValues: org.apache.spark.sql.streaming.TimerValues): Long =
      timerValues.getCurrentProcessingTimeInMs() + delayMs
  }

  /** Event-time timers under the hash gate — the one
    * `transformWithState` leg the round-14 suite left ungated: real
    * events stream as two micro-batches (no chronological guarantee —
    * the fold is order-free), then two far-future watermark sentinels
    * ([[streamAppend]]'s established two-step: the watermark advances
    * at the END of sentinel-1's batch, timers FIRE in sentinel-2's
    * batch). Every key's timer expires exactly once, emitting its
    * final aggregate from `handleExpiredTimer`; the accumulated
    * append output (sentinel key dropped at the sink) must equal the
    * plain batch aggregate — [[sqlStreamTws]]'s oracle verbatim.
    *
    * Scale: timers are the 100 TB session/TTL mechanism — state per
    * key stays one row plus one timer registration, eviction is
    * watermark-driven (no full-state sweep), and each micro-batch
    * shuffles only its own rows. This is the shape a production
    * session-close / periodic-flush pipeline ships with on this API.
    */
  def streamTimer(spark: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(spark, stateStore = RocksDbStore) {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import spark.implicits._
      val batch = Tables.events(spark, sfDir)
      val dir = graft.util.Scratch.dir("graft_stream_tmr")
      val out = dir.resolve("out").toString
      val maxTsMs = batch.agg(max(col("ts"))).head().getTimestamp(0).getTime
      val flushAtMs = maxTsMs + 12L * 3600 * 1000 // +12 h: past all data,
      // below sentinel-1's +24 h watermark — fires in sentinel-2's batch
      val slim = batch.select(col("event_type"), col("event_id"),
        units(col("value"), 1e6).cast("long").as("vm"), col("ts"))
      val inDir = StageCache.cachedIn("tmr1", sfDir) { (work, in) =>
        // ONE real-event batch (was two — and never more than two: a
        // third id-sliced batch would see the one-batch-lagged
        // watermark advanced past its rows and drop them as late, see
        // SKILL.md event-time-timer note). One data batch removes the
        // late-row hazard entirely AND one forced micro-batch of
        // machinery wall; the timer contract — register in a data
        // batch, fire in a later batch once the sentinel-advanced
        // watermark passes flushAt — is exercised identically
        // (cross-batch ACCUMULATION is [[streamTws]]'s gate).
        stageFile(slim, work, in, "a_events.parquet", stagedMtime(0))
        (1 to 2).foreach { k =>
          stageFile(latestPlusDays(slim, k).withColumn("event_type", lit("__wm_sentinel")),
            work, in, s"z_sentinel$k.parquet", stagedMtime(2 + k))
        }
      }
      val evs = slicedStream(spark, slim.schema, inDir)
        .withWatermark("ts", "0 seconds")
        .as[TmrEv]
      val stats = evs.groupByKey(_.event_type)
        .transformWithState(new TwsTimer(flushAtMs),
          TimeMode.EventTime(), OutputMode.Update())
      runToEnd(stats, "update", dir.resolve("cp"))(appendWithBid(out))
      typeStats(spark.read.parquet(out).filter(col("event_type") =!= "__wm_sentinel"))
    }

  // ---------- q_stream_ptimer: PROCESSING-time timers, oracle-gated ----------

  /** Processing-time timers under the hash gate — closing the one
    * spec-only leg of the timer surface. Determinism comes from an
    * injected ManualClock ([[org.apache.spark.sql.graftbridge
    * .StreamClockBridge]]): the micro-batch engine stamps each batch
    * from the trigger clock, so `getCurrentProcessingTimeInMs()` and
    * timer expiry see EXACTLY the virtual instants the driver steps
    * through — T0 (batch 0: slice 0 arms T0+2s), T0+1s (batch 1:
    * slice 1 re-arms T0+3s), then empty timer-driven batches until
    * the fire. Each key's [[TwsProcTimer]] emits its accumulated
    * state ONCE at expiry and clears it; the sink is read back with
    * NO dedup, so an early fire (partial totals + a second row) or a
    * double fire fails the oracle loudly. Wall time bounds only the
    * await loops — every semantic timestamp is virtual.
    *
    * Scale: identical state/timer mechanics to [[streamTimer]] — one
    * value row + one live timer per key, RocksDB-backed; the manual
    * clock is a TEST seam (production uses the system clock), the
    * processor and plan are the production idle-flush shape.
    */
  def streamProcTimer(spark: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(spark, stateStore = RocksDbStore) {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import org.apache.spark.sql.graftbridge.StreamClockBridge
      import spark.implicits._
      val slim = Tables.eventsRaw(spark, sfDir).select(col("event_type"), col("event_id"),
        units(col("value"), 1e6).cast("long").as("vm"))
      val dir = graft.util.Scratch.dir("graft_stream_ptmr")
      val out = dir.resolve("out").toString
      val inDir = StageCache.cachedIn("ptmr", sfDir) { (work, in) =>
        (0 until 2).foreach { k =>
          stageFile(slim.filter(col("event_id") % 2 === k),
            work, in, s"a_slice$k.parquet", stagedMtime(k))
        }
      }
      val src = slicedStream(spark, slim.schema, inDir)
      // delay 2 s on a 1 s virtual trigger: batch 0 arms T0+2s, batch 1
      // re-arms T0+3s, everything fires by the 4th batch — the shortest
      // timeline that still proves re-arm-on-activity pushes the flush
      // out (each extra empty batch is real micro-batch machinery wall)
      val stats = src.as[TwsEv]
        .groupByKey(_.event_type)
        .transformWithState(new TwsProcTimer(2000L),
          TimeMode.ProcessingTime(), OutputMode.Update())
      val t0 = 1600000000000L // virtual epoch; every expiry derives from it
      val h = StreamClockBridge.startWithManualClock(
        stats.toDF(), dir.resolve("cp").toString,
        OutputMode.Update(), Trigger.ProcessingTime("1 second"), t0)(appendWithBid(out))
      val expected = slim.select("event_type").distinct().count()
      def fired(): Long =
        try spark.read.parquet(out).select("event_type").distinct().count()
        catch { case _: Throwable => 0L } // sink dir not created yet
      try {
        h.awaitBatch(0)
        // step the virtual clock; stop as soon as every key has fired
        // (after the last fire the engine has no pending work and may
        // schedule no further batch to await)
        var step = 0L
        while (fired() < expected && step < 8) {
          step += 1
          h.advance(1000L)
          h.awaitBatch(step)
        }
      } finally h.query.stop()
      require(fired() == expected,
        s"processing-time timers fired for ${fired()} of $expected keys")
      spark.read.parquet(out)
        .select(col("event_type"), col("n_events"), sumValue(), col("max_event_id"))
        .orderBy("event_type")
    }

  // ---------- q_stream_last3: ListState recent-history, oracle-gated ----------

  private[stream] case class L3Ev(
      user_id: Long, event_id: Long, ts_us: Long)
  private[stream] case class L3Pair(ts_us: Long, event_id: Long)
  private[stream] case class L3Out(user_id: Long, n_events: Long, last3: String)

  /** The [[streamLast3]] processor: per user, a bounded ListState of
    * the 3 most-recent (ts, event_id) pairs plus a ValueState total —
    * the "recent activity" state shape a personalization service keeps
    * per key, exercising state-v2's LIST variable (append/put/get)
    * alongside the value variable [[TwsTypeStats]] gated.
    */
  private[stream] class L3Recent
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, L3Ev, L3Out] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var top: ListState[L3Pair] = _
    @transient private var cnt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      top = getHandle.getListState[L3Pair]("top",
        org.apache.spark.sql.Encoders.product[L3Pair], TTLConfig.NONE)
      cnt = getHandle.getValueState[Long]("cnt",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[L3Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[L3Out] = {
      val incoming = rows.toSeq
      val prev = if (top.exists()) top.get().toSeq else Seq.empty
      val merged = (prev ++ incoming.map(e => L3Pair(e.ts_us, e.event_id)))
        .sortBy(p => (-p.ts_us, -p.event_id)).take(3)
      top.put(merged.toArray)
      val n = (if (cnt.exists()) cnt.get() else 0L) + incoming.size
      cnt.update(n)
      Iterator.single(L3Out(key, n,
        merged.map(_.event_id).mkString(",")))
    }
  }

  /** state-v2 LIST state under the hash gate: per user, the 3
    * most-recent event ids (bounded recent-history list — the
    * session-recommendation state shape) plus the lifetime event
    * count, maintained by [[L3Recent]] across two staged
    * micro-batches that arrive OUT of event-time order (the
    * event_id % 2 split interleaves timestamps), so the list merge
    * must re-rank prior state against each batch — exactly what a
    * late-arriving production stream does to a recent-items list.
    * Update-mode batch-stamped sink reconstructed last-writer-wins;
    * final state must equal the plain batch top-3-per-user aggregate.
    * [[streamTws]] gates ValueState; this adds ListState (append/
    * put/get) + a second state variable on one processor.
    *
    * Scale: state is ≤3 pairs + 1 counter per user; each batch
    * shuffles only its own rows to the keyed partitions.
    */
  def streamLast3(spark: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(spark, stateStore = RocksDbStore) {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import spark.implicits._
      val schema = Tables.eventsRaw(spark, sfDir).schema
      val dir = graft.util.Scratch.dir("graft_stream_l3")
      val inDir = stageEventSlices2(spark, sfDir)
      val out = dir.resolve("out").toString
      val evs = Tables.eventTs(slicedStream(spark, schema, inDir))
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
        .as[L3Ev]
      val stats = evs.groupByKey(_.user_id)
        .transformWithState(new L3Recent, TimeMode.None(), OutputMode.Update())
      runToEnd(stats, "update", dir.resolve("cp"))(appendWithBid(out))
      graft.etl.Dedup.lastWins(spark.read.parquet(out),
          Seq("user_id"), Seq(col("bid")),
          Seq("n_events", "last3"))
        .select(col("user_id"), col("n_events"), col("last3"))
        .orderBy("user_id")
    }

  private val sqlStreamLast3 =
    """WITH e AS (SELECT user_id, event_id,
      |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |           FROM events),
      |     r AS (SELECT user_id, event_id,
      |             row_number() OVER (PARTITION BY user_id
      |               ORDER BY ts_us DESC, event_id DESC) AS rk
      |           FROM e),
      |     t AS (SELECT user_id,
      |             string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rk) AS last3
      |           FROM r WHERE rk <= 3 GROUP BY user_id),
      |     n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      |           FROM e GROUP BY user_id)
      |SELECT n.user_id, n.n_events, t.last3
      |FROM n JOIN t ON n.user_id = t.user_id
      |ORDER BY n.user_id""".stripMargin

  // ---------- q_stream_mapstate: MapState hourly histogram, oracle-gated ----------

  private[stream] case class MsEv(event_type: String, hour: Long, vm: Long)
  private[stream] case class MsOut(
      event_type: String, n_hours: Long, n_events: Long, histogram: String)

  /** The [[streamMapstate]] processor: per event-type key, a
    * MapState[hour → (count, value-micros)] hourly histogram — the
    * per-key sub-keyed telemetry rollup MapState exists for (a
    * ValueState would re-serialize the whole histogram per update; the
    * map variable updates one cell). Completes the state-v2 variable
    * trio under the gate: ValueState ([[TwsTypeStats]]), ListState
    * ([[L3Recent]]), MapState (this).
    */
  private[stream] class MsHourly
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, MsEv, MsOut] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TTLConfig}
    @transient private var hist: MapState[Long, (Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getMapState[Long, (Long, Long)]("hist",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[MsEv],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[MsOut] = {
      // Pre-combine the batch in memory, then touch each DISTINCT
      // hour cell once: the first version did containsKey + getValue
      // + updateValue PER ROW — three state-store round-trips (each
      // through the key/value encoders into RocksDB) per input row,
      // which the round-15 30× upscale exposed as the suite's one
      // superlinear streaming leg (59.3 s = 16.2×: per-batch rows
      // grow 30× while distinct cells stay calendar-bounded, and
      // RocksDB write volume amplifies within the batch). Combining
      // first is also the production shape: state writes should be
      // per-cell, row volume belongs in the combiner.
      val acc = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
      rows.foreach { e =>
        val (c, v) = acc.getOrElse(e.hour, (0L, 0L))
        acc.update(e.hour, (c + 1L, v + e.vm))
      }
      acc.foreach { case (h, (dc, dv)) =>
        val (c, v) = if (hist.containsKey(h)) hist.getValue(h) else (0L, 0L)
        hist.updateValue(h, (c + dc, v + dv))
      }
      val cells = hist.iterator().toSeq.sortBy(_._1)
      Iterator.single(MsOut(key, cells.size,
        cells.map(_._2._1).sum,
        cells.map { case (h, (c, _)) => s"$h:$c" }.mkString(",")))
    }
  }

  /** state-v2 MAP state under the hash gate: per event type, an
    * hour-of-day histogram (count per UTC hour) maintained cell-wise
    * in a MapState across two staged micro-batches — the sub-keyed
    * state shape whose point is that each arriving row touches ONE
    * map cell instead of rewriting a whole serialized histogram.
    * Update-mode batch-stamped sink reconstructed last-writer-wins;
    * final state must equal the plain batch (type × hour) histogram,
    * rendered as an hour-ordered "h:count" string.
    *
    * Scale: state is ≤ 24 cells per event type; the gate's value is
    * proving cell-wise merge across batch boundaries equals the batch
    * group-by — the invariant a 100 TB per-key rollup rests on.
    */
  def streamMapstate(spark: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(spark, stateStore = RocksDbStore) {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import spark.implicits._
      val schema = Tables.eventsRaw(spark, sfDir).schema
      val dir = graft.util.Scratch.dir("graft_stream_ms")
      val inDir = stageEventSlices2(spark, sfDir)
      val out = dir.resolve("out").toString
      val evs = Tables.eventTs(slicedStream(spark, schema, inDir))
        .select(col("event_type"), hour(col("ts")).cast("long").as("hour"),
          units(col("value"), 1e6).cast("long").as("vm"))
        .as[MsEv]
      val stats = evs.groupByKey(_.event_type)
        .transformWithState(new MsHourly, TimeMode.None(), OutputMode.Update())
      runToEnd(stats, "update", dir.resolve("cp"))(appendWithBid(out))
      graft.etl.Dedup.lastWins(spark.read.parquet(out),
          Seq("event_type"), Seq(col("bid")),
          Seq("n_hours", "n_events", "histogram"))
        .select(col("event_type"), col("n_hours"), col("n_events"), col("histogram"))
        .orderBy("event_type")
    }

  private val sqlStreamMapstate =
    """WITH e AS (SELECT event_type,
      |                  CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS h
      |           FROM events),
      |     c AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS cnt
      |           FROM e GROUP BY 1, 2)
      |SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_hours,
      |       CAST(sum(cnt) AS BIGINT) AS n_events,
      |       string_agg(CAST(h AS VARCHAR) || ':' || CAST(cnt AS VARCHAR),
      |                  ',' ORDER BY h) AS histogram
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------- q_stream_update: UPDATE output mode, oracle-gated ----------

  /** UPDATE output mode under the correctness gate — with
    * [[streamTumbling]] (Complete) and [[streamAppend]] (Append +
    * watermark eviction) this closes the output-mode trio: each batch
    * emits only the groups that CHANGED, and a changed group's later
    * emission supersedes its earlier one. The gate forces genuinely
    * incremental behavior by splitting the events file into two
    * slices (event_id mod 2) processed as two micro-batches
    * (`maxFilesPerTrigger=1`, mtime-ordered) — events are spread
    * across the whole time span, so every batch updates windows
    * earlier batches already emitted. The sink appends every emission
    * stamped with its batch id; the final state is the LAST WRITER
    * per (window, type) — [[graft.etl.Dedup.lastWins]], the same
    * mergeable struct-max used for upsert replay — and must equal
    * the batch aggregate ([[sqlStreamTumbling]]'s oracle verbatim).
    * This is exactly how an idempotent-upsert sink (the production
    * shape for update mode) converges. Micro-unit DECIMAL sums as in
    * every gated streaming value aggregate.
    */
  def streamUpdate(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    val schema = Tables.eventsRaw(spark, sfDir).schema
    val dir = graft.util.Scratch.dir("graft_stream_up")
    val inDir = stageEventSlices2(spark, sfDir)
    val out = dir.resolve("out").toString
    val evs = Tables.eventTs(slicedStream(spark, schema, inDir))
    runToEnd(Streaming.windowedCounts(evs, "6 hours", lateness = None), "update",
        dir.resolve("cp")) { (b, bid) =>
      windowRows(b).withColumn("bid", lit(bid)).coalesce(1).write.mode("append").parquet(out)
    }
    graft.etl.Dedup.lastWins(spark.read.parquet(out),
        Seq("window_start", "event_type"), Seq(col("bid")),
        Seq("n_events", "sum_value"))
      .select(col("window_start"), col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  // ---------- q_burn_rate: multiwindow SLO burn-rate alerts ----------

  /** The SRE multiwindow burn-rate alert (Google SRE workbook) over
    * the event stream: per 1-hour window, the error-event share and
    * the share of its containing 6-hour window, with the alert
    * firing only when BOTH exceed the threshold — the long window
    * suppresses blips, the short one keeps detection fast. The page
    * an on-call actually receives, expressed as two bounded
    * window-grain aggregates and one epoch-bucket equi-join.
    *
    * Parity: rates are integer/integer divisions round4'd BEFORE the
    * alert compare (round-before-compare rule), window keys are
    * exact epoch arithmetic. Threshold 0.21 sits just above this
    * stream's ~20% baseline error share so both alert states occur.
    */
  def burnRate(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("ts").cast("timestamp").cast("long").as("es"),
        (col("event_type") === "error").as("is_err"))
    val h1 = ev.groupBy((col("es") / 3600L).cast("long").as("h1"))
      .agg(count(lit(1)).as("n1"),
        sum(when(col("is_err"), lit(1L)).otherwise(lit(0L))).as("e1"))
    val h6 = ev.groupBy((col("es") / 21600L).cast("long").as("h6"))
      .agg(count(lit(1)).as("n6"),
        sum(when(col("is_err"), lit(1L)).otherwise(lit(0L))).as("e6"))
    h1.withColumn("h6", (col("h1") / 6L).cast("long"))
      .join(h6, Seq("h6"))
      .withColumn("rate_1h",
        round4(col("e1").cast("double") / col("n1").cast("double")))
      .withColumn("rate_6h",
        round4(col("e6").cast("double") / col("n6").cast("double")))
      .select(
        date_format(to_timestamp(col("h1") * 3600L), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n1").as("n_events"), col("rate_1h"), col("rate_6h"),
        (col("rate_1h") > 0.21 && col("rate_6h") > 0.21).cast("long").as("alert"))
      .orderBy("hour")
  }

  private val sqlBurnRate =
    s"""WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS eu,
       |                  event_type = 'error' AS is_err FROM events),
       |     h1 AS (SELECT eu // 3600000000 AS h1, CAST(count(*) AS BIGINT) AS n1,
       |                   CAST(sum(CASE WHEN is_err THEN 1 ELSE 0 END) AS BIGINT) AS e1
       |            FROM e GROUP BY 1),
       |     h6 AS (SELECT eu // 21600000000 AS h6, CAST(count(*) AS BIGINT) AS n6,
       |                   CAST(sum(CASE WHEN is_err THEN 1 ELSE 0 END) AS BIGINT) AS e6
       |            FROM e GROUP BY 1),
       |     j AS (SELECT h1.h1, h1.n1,
       |                  ${duckRound4(
                            "CAST(e1 AS DOUBLE) / CAST(n1 AS DOUBLE)")} AS rate_1h,
       |                  ${duckRound4(
                            "CAST(e6 AS DOUBLE) / CAST(n6 AS DOUBLE)")} AS rate_6h
       |           FROM h1 JOIN h6 ON h1.h1 // 6 = h6.h6)
       |SELECT strftime(make_timestamp(h1 * 3600 * 1000000), '%Y-%m-%d %H:%M:%S') AS hour,
       |       n1 AS n_events, rate_1h, rate_6h,
       |       CAST(CASE WHEN rate_1h > 0.21 AND rate_6h > 0.21
       |                 THEN 1 ELSE 0 END AS BIGINT) AS alert
       |FROM j ORDER BY hour""".stripMargin

  // ---------- q_forget_plan: right-to-erasure impact report ----------

  /** Deletion-impact plan for a right-to-erasure request batch (the
    * GDPR/CCPA workflow): for the requested users (here the
    * deterministic stand-in `user_id % 97 = 0`), what each
    * maintained aggregate loses — rows, exact value mass, and the
    * share of each event type affected. These are precisely the
    * RETRACTION deltas [[graft.etl.AggMaintain]] would apply
    * downstream ([[q_mv_retract]]'s semantics driven by a user set
    * instead of a CDC batch), reported before anyone deletes
    * anything.
    *
    * Exactness: value mass goes through round6 micro-units summed as
    * DECIMAL (order-independent), shares are integer/integer round4.
    * Scale: one semi-joinable predicate on the fact scan (pushable
    * bloom/IN at 100 TB) + a bounded type-grain aggregate.
    */
  def forgetPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"),
        units(col("value"), 1e6).cast("decimal(28,0)").as("vm"))
      .withColumn("hit", col("user_id") % 97 === 0)
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("hit"), lit(1L)).otherwise(lit(0L))).as("n_deleted"),
        sum(when(col("hit"), col("vm")).otherwise(lit(0).cast("decimal(28,0)")))
          .as("vm_del"))
      .select(col("event_type"), col("n_total"), col("n_deleted"),
        round4(
          col("n_deleted").cast("double") / col("n_total").cast("double"))
          .as("pct_rows"),
        round4(col("vm_del").cast("double") / 1000000.0)
          .as("value_removed"))
      .orderBy("event_type")
  }

  private val sqlForgetPlan =
    s"""WITH e AS (SELECT event_type, user_id,
       |                  CAST(${duckUnits("value", 1e6)} AS DECIMAL(28,0)) AS vm,
       |                  user_id % 97 = 0 AS hit
       |           FROM events)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
       |       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       |       ${duckRound4(
                  "CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS pct_rows,
       |       ${duckRound4(
                  "CAST(sum(CASE WHEN hit THEN vm ELSE CAST(0 AS DECIMAL(28,0)) END) AS DOUBLE) / 1000000.0")} AS value_removed
       |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_attribution" -> (attribution _),
    "q_forget_plan" -> (forgetPlan _),
    "q_burn_rate" -> (burnRate _),
    "q_stream_tumbling" -> (streamTumbling _),
    "q_stream_dedup" -> (streamDedup _),
    "q_stream_dedup_wm" -> (streamDedupWm _),
    "q_stream_topk" -> (streamTopk _),
    "q_stream_cms" -> (streamCms _),
    "q_stream_restart" -> (streamRestart _),
    "q_stream_hh" -> (streamHh _),
    "q_stream_append" -> (streamAppend _),
    "q_stream_update" -> (streamUpdate _),
    "q_stream_tws" -> (streamTws _),
    "q_stream_init" -> (streamInit _),
    "q_stream_timer" -> (streamTimer _),
    "q_stream_ptimer" -> (streamProcTimer _),
    "q_stream_last3" -> (streamLast3 _),
    "q_stream_mapstate" -> (streamMapstate _),
    "q_stream_fmgws" -> (streamFmgws _),
    "q_stream_late" -> (streamLate _),
    "q_stream_join" -> (streamJoin _),
    "q_stream_enrich" -> (streamEnrich _),
    "q_multi_touch" -> (multiTouch _),
    "q_stream_outer" -> (streamOuterJoin _),
    "q_stream_session" -> (streamSession _),
    "q_stream_sliding" -> (streamSliding _),
    "q_seasonal_dow" -> (seasonalDow _),
    "q_growth_accounting" -> (growthAccounting _),
    "q_time_to_convert" -> (timeToConvert _),
    "q_repeat_purchase" -> (repeatPurchase _),
    "q_ab_test" -> (abTest _),
    "q_user_churn" -> (userChurn _),
    "q_event_gaps" -> (eventGaps _),
    "q_burstiness" -> (burstiness _),
    "q_funnel_paths" -> (funnelPaths _),
    "q_value_drift" -> (valueDrift _),
    "q_peak_detect" -> (peakDetect _),
    "q_latency_bands" -> (latencyBands _),
    "q_apdex" -> (apdex _),
    "q_kaplan_meier" -> (kaplanMeier _),
    "q_nelson_aalen" -> (nelsonAalen _),
    "q_logrank" -> (logRank _),
    "q_entropy_rate" -> (entropyRate _),
    "q_sax" -> (sax _),
    "q_holt" -> (holt _),
    "q_holt_winters" -> (holtWinters _),
    "q_cuped" -> (cuped _),
    "q_did" -> (did _),
    "q_stl_strength" -> (stlStrength _),
    "q_time_decay" -> (timeDecay _),
    "q_ewma_trend" -> (ewmaTrend _),
    "q_transitions" -> (transitions _),
    "q_reciprocity" -> (reciprocity _),
    "q_range_join" -> (rangeJoinSpans _),
    "q_events_tumbling" -> (eventsTumbling _),
    "q_events_session" -> (eventsSession _),
    "q_json_props" -> (jsonProps _),
    "q_variant_shred" -> (variantShred _),
    "q_asof_clicks" -> (asofClicks _),
    "q_events_sliding" -> (eventsSliding _),
    "q_rolling_distinct" -> (rollingDistinct _),
    "q_rolling_hll" -> (rollingHll _),
    "q_session_cap" -> (sessionCap _),
    "q_hll_overlap" -> (hllOverlap _),
    "q_ooo_depth" -> (oooDepth _))

  val oracle: Map[String, String] = Map(
    "q_attribution" -> sqlAttribution,
    "q_forget_plan" -> sqlForgetPlan,
    "q_burn_rate" -> sqlBurnRate,
    "q_stream_tumbling" -> sqlStreamTumbling,
    "q_stream_dedup" -> sqlStreamDedup,
    "q_stream_dedup_wm" -> sqlStreamDedupWm,
    "q_stream_topk" -> sqlStreamTopk,
    "q_stream_cms" -> graft.text.DocOps.sqlStreamCms,
    "q_stream_restart" -> sqlStreamTumbling,
    "q_stream_hh" -> graft.text.DocOps.sqlStreamHh,
    "q_stream_append" -> sqlStreamTumbling,
    "q_stream_update" -> sqlStreamTumbling,
    "q_stream_tws" -> sqlStreamTws,
    "q_stream_init" -> sqlStreamTws,
    "q_stream_timer" -> sqlStreamTws,
    "q_stream_ptimer" -> sqlStreamTws,
    "q_stream_last3" -> sqlStreamLast3,
    "q_stream_mapstate" -> sqlStreamMapstate,
    "q_stream_fmgws" -> sqlStreamSession,
    "q_stream_late" -> sqlStreamTumbling,
    "q_stream_join" -> sqlStreamJoin,
    "q_stream_enrich" -> sqlStreamEnrich,
    "q_multi_touch" -> sqlMultiTouch,
    "q_stream_outer" -> sqlStreamOuter,
    "q_stream_session" -> sqlStreamSession,
    "q_stream_sliding" -> sqlStreamSliding,
    "q_seasonal_dow" -> sqlSeasonalDow,
    "q_growth_accounting" -> sqlGrowthAccounting,
    "q_time_to_convert" -> sqlTimeToConvert,
    "q_repeat_purchase" -> sqlRepeatPurchase,
    "q_ab_test" -> sqlAbTest,
    "q_user_churn" -> sqlUserChurn,
    "q_event_gaps" -> sqlEventGaps,
    "q_burstiness" -> sqlBurstiness,
    "q_funnel_paths" -> sqlFunnelPaths,
    "q_value_drift" -> sqlValueDrift,
    "q_peak_detect" -> sqlPeakDetect,
    "q_latency_bands" -> sqlLatencyBands,
    "q_apdex" -> sqlApdex,
    "q_kaplan_meier" -> sqlKaplanMeier,
    "q_nelson_aalen" -> sqlNelsonAalen,
    "q_logrank" -> sqlLogRank,
    "q_entropy_rate" -> sqlEntropyRate,
    "q_sax" -> sqlSax,
    "q_holt" -> sqlHolt,
    "q_holt_winters" -> sqlHoltWinters,
    "q_cuped" -> sqlCuped,
    "q_did" -> sqlDid,
    "q_stl_strength" -> sqlStlStrength,
    "q_time_decay" -> sqlTimeDecay,
    "q_ewma_trend" -> sqlEwmaTrend,
    "q_transitions" -> sqlTransitions,
    "q_reciprocity" -> sqlReciprocity,
    "q_range_join" -> sqlRangeJoinSpans,
    "q_events_tumbling" -> sqlEventsTumbling,
    "q_events_session" -> sqlEventsSession,
    "q_json_props" -> sqlJsonProps,
    "q_variant_shred" -> sqlVariantShred,
    "q_asof_clicks" -> sqlAsofClicks,
    "q_events_sliding" -> sqlEventsSliding,
    "q_rolling_distinct" -> sqlRollingDistinct,
    "q_rolling_hll" -> sqlRollingHll,
    "q_session_cap" -> sqlSessionCap,
    "q_hll_overlap" -> sqlHllOverlap,
    "q_ooo_depth" -> sqlOooDepth)
}
