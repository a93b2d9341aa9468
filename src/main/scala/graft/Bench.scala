package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: times every declared query end-to-end at
  * SPARK_GRAFT_SF_DIR and prints one JSON line (driver contract).
  * Results are written to the `noop` sink — a plain count() would let
  * Catalyst prune expensive output expressions (fingerprints, scores)
  * and under-measure; noop forces full column materialization.
  */
object Bench {
  /** One query's numbers as the regression gate sees them. `isoSpread`
    * is the spread of the post-suite isolated re-runs (present only
    * when the in-suite spread exceeded the interference threshold and
    * the query was re-timed); when present it REPLACES the suite
    * spread in the gate — a 13 s contention spread must not buy a
    * real 2.5× slip a pass (the round-8 q_leakage_split incident).
    */
  private[graft] final case class GateEntry(
      name: String, best: Double, spread: Double,
      isoSpread: Option[Double], sf2Best: Option[Double])

  /** Pure regression decision, unit-testable without a SparkSession.
    * Flags when the (isolation-corrected) best exceeds the baseline
    * best by both the effective noise band (+250 ms floor) and 30%,
    * OR when the dual-scale (sf0.01) best drifts >50% (+250 ms floor)
    * — the sf2 pass is short enough to stay clean on a machine whose
    * main-SF window was contended, so it catches what interference
    * masks.
    */
  private[graft] def flagRegressions(
      entries: Seq[GateEntry],
      prevBest: Map[String, Double],
      prevSf2: Map[String, Double]): Seq[(String, Double, Double, String)] =
    entries.flatMap { e =>
      val effSpread = e.isoSpread.getOrElse(e.spread)
      // floor 250 ms (was 150): on the round-9 machine boot every
      // clean back-to-back 241-query run flagged a DIFFERENT set of
      // sub-1 s queries at 0.15-0.25 s deltas — scheduler noise, not
      // plan cost. A real slip (the 1.57→4.01 s q_leakage_split case)
      // clears 250 ms and 30% together by an order of magnitude.
      val main = prevBest.get(e.name).collect {
        case old if old >= 0 && e.best >= 0 &&
          e.best > old + math.max(effSpread, 0.25) && e.best > old * 1.3 =>
          (e.name, e.best, old, "sf")
      }
      // a dual-scale flag reports the SF2 numbers it fired on — the
      // round-9 gate printed the (improved) main-SF best for an sf2
      // drift, which read as a nonsense "regression 0.87 < prev 0.96"
      // +250 ms floor: sf0.01 runs in the 0.1-0.4 s band where
      // fixed per-query overhead (session bookkeeping, JIT, listener
      // drain) swamps plan cost — a 100 ms floor flagged pure noise
      // on every symmetric-GC run; a real sf2 regression clears
      // 250 ms AND 50% simultaneously
      val dual = for {
        t2 <- e.sf2Best if t2 >= 0
        o2 <- prevSf2.get(e.name) if o2 >= 0.05
        if t2 > o2 + 0.25 && t2 > o2 * 1.5
      } yield (e.name, t2, o2, "sf2")
      main.orElse(dual)
    }

  /** Reads per-query baseline bests (and, when present, sf2 bests)
    * from the baseline JSON. Accepts both the canonical shape this
    * repo writes ({"queries":{...},"sf2":{...}}) and the driver's raw
    * round snapshot where the bench line sits under "parsed" — the
    * round-8 gate silently compared against an EMPTY map because only
    * the top-level key was tried. Fail-soft: unparseable → empty.
    */
  private[graft] def readBaseline(txt: String): (Map[String, Double], Map[String, Double]) = {
    import org.json4s._
    def numMap(v: JValue): Map[String, Double] = v match {
      case JObject(fields) => fields.collect {
        case (k, JDouble(x)) => k -> x
        case (k, JDecimal(x)) => k -> x.toDouble
        case (k, JInt(x)) => k -> x.toDouble
      }.toMap
      case _ => Map.empty
    }
    try {
      val j = org.json4s.jackson.JsonMethods.parse(txt)
      val top = numMap(j \ "queries")
      val best = if (top.nonEmpty) top else numMap((j \ "parsed") \ "queries")
      (best, numMap(j \ "sf2"))
    } catch { case _: Throwable => (Map.empty, Map.empty) }
  }

  /** tools/sfup_skipped.json carries the budget-skip rotation between
    * rounds. Resolve it against the repo root rather than bare CWD and
    * never fail silently (round-12 advice): a write that lands in the
    * wrong directory quietly defeats the next round's front-stagger.
    */
  private[graft] def toolsPath(file: String): java.nio.file.Path =
    sys.env.get("SPARK_GRAFT_REPO_ROOT")
      .orElse(if (new java.io.File("tools").isDirectory) Some(".") else None)
      .map(r => java.nio.file.Paths.get(r, "tools", file))
      .getOrElse(java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_" + file))

  private[graft] def sfupSkippedPath(): java.nio.file.Path =
    toolsPath("sfup_skipped.json")

  private[graft] def sf2SkippedPath(): java.nio.file.Path =
    toolsPath("sf2_skipped.json")

  /** Reads a skip-rotation file (a JSON array of query names written
    * by emit); fail-soft to an empty set so a missing or corrupt file
    * only costs the front-stagger, never the pass.
    */
  private[graft] def readSkipped(p: java.nio.file.Path): Set[String] =
    try {
      if (!java.nio.file.Files.exists(p)) Set.empty
      else {
        val txt = java.nio.file.Files.readString(p)
        "\"([^\"]+)\"".r.findAllMatchIn(txt).map(_.group(1)).toSet
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ${p.getFileName} read failed: ${e.getMessage}")
      Set.empty }

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    val profile = new QueryProfile(spark)
    // Warm the session (noop sink registration, codegen, parquet
    // footer caches) on the tiny sf so the first timed query doesn't
    // absorb one-time startup cost.
    try profile.run(SparkEntry.entry(spark).write.mode("overwrite").format("noop").save())
    catch { case _: Throwable => () }
    // One warmup + THREE measured passes per query, report the MIN over
    // all four executions: single-run timings are not regression-
    // trustworthy (round-1 showed a 19× spread between near-identical
    // plans), and the round-6 driver run proved the median isn't either
    // under EXTERNAL contention — the driver machine ran something
    // beside the bench and all three measured runs of q_dup_ngrams
    // landed 27-81 s while the warm run took 5 s (sum-of-medians 138 s
    // vs 75 s reproduced clean). The min of n samples is the standard
    // contention-robust wall-clock estimator: plan cost is a lower
    // bound, interference only ever adds. Median and spread still land
    // in target/bench_detail.json so a cross-round delta can be judged
    // against the query's own noise band.
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (local iteration aid;
    // the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    case class Run(sec: Double, shuffleB: Long, spillB: Long)
    def execOnce(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                 dir: String): Run =
      try {
        val p = profile.run(fn(spark, dir).write.mode("overwrite").format("noop").save())
        Run(p.wallSec, p.shuffleBytes, p.spillBytes)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Run(-1.0, 0, 0) // a failed query reports -1, never a plausible fast time
      }
    // Streaming queries (q_stream_*) run 1 warm + 1 measured instead
    // of 1 + 3: their wall-clock is Structured-Streaming machinery
    // (temp-dir staging, forced micro-batches, checkpoint dirs) —
    // stable and plan-independent — and at 405 queries the extra two
    // runs (~90 s of pure machinery) were exactly what starved the
    // upscale budget to zero in the round-14 driver artifact. The
    // regression gate still sees them via the 250 ms + 30% floor.
    def isStreaming(name: String): Boolean = name.startsWith("q_stream_")
    val results = selected.map { case (name, fn) =>
      // Snapshot the StageCache build counter around the warm run: a
      // cold cache makes the warm run pay a one-time fixture build the
      // measured run never pays, inflating the streaming
      // |measured − warm| contention signal into spurious retimes on
      // every first full pass after a cache wipe (round-17 advice).
      // best itself stays correct either way (it is a min).
      val builds0 = graft.stream.StageCache.builds
      val warm = execOnce(name, fn, sfDir)
      val warmBuilt = graft.stream.StageCache.builds != builds0
      // 2 measured runs, not 3 (round-17 rebalance): at 434 queries
      // the third run cost ~334 s of wall — precisely the 10× pass's
      // budget, which the round-16 driver artifact starved to ZERO
      // (sfup_skipped=434). min-of-3 plus the spread-gated isolated
      // retime (1+3 for any query whose spread exceeds 1 s) keeps the
      // headline best contention-robust; the scale evidence the
      // envelope exists to carry outranks a fourth main-SF sample.
      val nRuns = if (isStreaming(name)) 1 else 2
      val runs = if (warm.sec < 0) Nil else List.fill(nRuns)(execOnce(name, fn, sfDir))
      // One full GC per QUERY (outside every timed window): without
      // it, old-gen garbage from earlier queries accumulates and
      // inflates every later run — the neighbor effect CLAUDE.md
      // documents (q_window_frames 3.0 s in-suite vs 0.97 s
      // isolated). min-of-4 cannot filter it because the pressure is
      // resident, not a pause; ~100 ms × n_queries of untimed wall
      // buys timings that estimate plan cost, not heap history.
      System.gc()
      (name, warm, runs, warmBuilt)
    }
    // best = min over warm + measured runs (the headline number);
    // median/spread are computed over the measured runs only; the
    // shuffle/spill bytes reported are the BEST run's (plan
    // volume is layout-deterministic; interference only adds spill)
    case class Stat(name: String, best: Double, median: Double,
                    spread: Double, warm: Double, runs: List[Double],
                    shuffleB: Long, spillB: Long,
                    isoRuns: List[Double] = Nil)
    val statsRaw = results.map { case (name, warm, runs, warmBuilt) =>
      if (warm.sec < 0 || runs.exists(_.sec < 0))
        Stat(name, -1, -1, 0, warm.sec, runs.map(_.sec), 0, 0)
      else {
        val all = warm :: runs
        val best = all.minBy(_.sec)
        val s = runs.map(_.sec).sorted
        // Streaming queries run ONE measured pass, so a measured-runs
        // spread is structurally 0 and the spread>1s contention gate
        // could never select them — one externally-contended streaming
        // measurement would become the recorded best with no isolated
        // re-time. Use |measured − warm| as their contention signal
        // instead (both executions are full machinery, so a clean run
        // keeps them close and contention splits them) — UNLESS the
        // warm run paid a one-time StageCache fixture build: that
        // split is staging cost, not contention, and on a cold cache
        // it would retime every q_stream_* spuriously (round-17
        // advice). With the build excluded there is no second clean
        // sample to take a spread against, so report 0 and let the
        // sf2-drift leg of the gate carry that query this round.
        val spread =
          if (s.size == 1) { if (warmBuilt) 0.0 else math.abs(s.head - warm.sec) }
          else s.last - s.head
        Stat(name, best.sec, s(s.size / 2), spread, warm.sec,
          runs.map(_.sec), best.shuffleB, best.spillB)
      }
    }
    // ---------- emission (called after EVERY pass — fail-soft) ----------
    // The harness captures only the LAST 2000 chars of stdout and parses
    // the JSON line out of that window; sbt appends its own ~75-char
    // "[success] Total time" trailer after us. Full-precision doubles for
    // ~80 queries overflow the window and the line arrives truncated
    // (unparseable — observed rounds 1-4). Emit compact per-query medians
    // (2 decimals, trailing zeros trimmed); if the line exceeds the
    // budget fall back to 1 decimal, and as a last resort (query set
    // ~100+) drop the per-query map entirely — the detail file always
    // has everything. "errors" is ALWAYS present (consumers index it
    // unconditionally; an omitted-when-empty key broke that contract).
    // Round-12 postmortem: the single end-of-run println meant a bench
    // killed mid-upscale shipped NOTHING (rc 124, parsed:null). emit()
    // now runs after the main pass, after the sf2 pass, and at the end:
    // the driver parses the LAST line, so a killed run still leaves the
    // most-enriched line that completed, and bench_detail.json is
    // re-flushed at each checkpoint.
    def fmt(v: Double, scale: Int): String =
      if (v < 0) "-1"
      else BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros.toPlainString
    def mb(b: Long): Long = b / (1024 * 1024)
    def emit(stats: Seq[Stat], sf2Best: Map[String, Double],
             upFinal: Map[String, Double], upFactor: Int,
             sf2Dir: String, up30: Map[String, Double] = Map.empty): Unit = {
      val failed = stats.collect { case s if s.best < 0 => "\"" + s.name + "\"" }
      val total = stats.collect { case s if s.best >= 0 => s.best }.sum
      val errs = s""""errors":[${failed.mkString(",")}]"""
      // Spread-gated regression check against the recorded baseline
      // (tools/bench_baseline.json — refresh from each round's CLEAN
      // bench via tools/refresh_baseline.py). Decision logic lives in
      // flagRegressions (pure, spec-pinned by BenchGateSpec): the
      // isolation-corrected spread gates the main-SF best, and the sf2
      // pass gates drift interference can't mask. Fail-soft: a missing
      // or unparseable baseline yields an empty list, never an error.
      val regressions: Seq[(String, Double, Double, String)] = try {
        val path = sys.env.getOrElse("SPARK_GRAFT_BASELINE", "tools/bench_baseline.json")
        val src = scala.io.Source.fromFile(path)
        val txt = try src.mkString finally src.close()
        val (prevBest, prevSf2) = readBaseline(txt)
        val entries = stats.map { s =>
          GateEntry(s.name, s.best, s.spread,
            if (s.isoRuns.nonEmpty) Some(s.isoRuns.max - s.isoRuns.min) else None,
            sf2Best.get(s.name))
        }
        flagRegressions(entries, prevBest, prevSf2)
      } catch { case _: Throwable => Nil }
      val regs = regressions.take(8)
        .map { case (n, b, o, sc) =>
          s"""{"q":"$n","best":${fmt(b, 2)},"prev":${fmt(o, 2)},"scale":"$sc"}""" }
        .mkString("\"regressions\":[", ",", "]")
      // dual-scale summary: second-SF total + the worst per-query
      // scaling ratio (denominator floored at 50 ms — below that the
      // ratio measures fixed overhead, not plan cost)
      val scaling = if (sf2Best.isEmpty) "" else {
        val valid = sf2Best.filter(_._2 >= 0)
        val sf2Total = valid.values.sum
        // skipped = streaming exclusions + budget skips (-2.0 marker),
        // counted, never silently dropped (CLAUDE.md no-silent-caps)
        val sf2Skipped = sf2Best.count(_._2 == -2.0)
        // persist the NON-streaming budget skips for next round's sf2
        // front-stagger (streaming is excluded by design, not budget)
        val sf2SkipNames = sf2Best.collect {
          case (n, t) if t == -2.0 && !n.startsWith("q_stream_") => n }.toSeq.sorted
        try java.nio.file.Files.writeString(sf2SkippedPath(),
          sf2SkipNames.map("\"" + _ + "\"").mkString("[", ",", "]") + "\n")
        catch { case e: Throwable =>
          System.err.println(s"[bench] sf2_skipped.json write failed: ${e.getMessage}") }
        val ratios = stats.flatMap { s =>
          sf2Best.get(s.name).collect {
            case t2 if t2 >= 0.05 && s.best >= 0 => (s.name, s.best / t2)
          }
        }
        val worst = ratios.sortBy(-_._2).headOption
          .map { case (n, r) => s""","worst_scaling":{"q":"$n","ratio":${fmt(r, 1)}}""" }
          .getOrElse("")
        s""","sf2":"$sf2Dir","sf2_total":${fmt(sf2Total, 2)},"sf2_skipped":$sf2Skipped$worst"""
      }
      // upward-scaling summary: per-query sfDir→sfup ratio, flagging
      // anything over 15× per 10× data as machine-detected super-linear
      // (denominator floored at 50 ms — below that the ratio measures
      // fixed overhead, not plan cost)
      val upline = if (upFinal.isEmpty) "" else {
        val done = upFinal.filter(_._2 >= 0)
        // NAME the budget-skipped queries (capped at 10 in the line for
        // the 2000-char window; the full set persists for next round's
        // front-stagger) — a bare count was a silent cap by another name.
        val skippedNames = upFinal.collect { case (n, t) if t == -2.0 => n }.toSeq.sorted
        try {
          val p = sfupSkippedPath()
          java.nio.file.Files.writeString(p,
            skippedNames.map("\"" + _ + "\"").mkString("[", ",", "]") + "\n")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] sfup_skipped.json write failed: ${e.getMessage}") }
        val namesJson = skippedNames.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")
        val ratios = stats.flatMap { s =>
          upFinal.get(s.name).collect {
            case t if t >= 0 && s.best >= 0.05 => (s.name, t / s.best)
          }
        }
        val flagged = ratios.filter(_._2 > 15.0).sortBy(-_._2)
        val fl = flagged.take(8).map { case (n, r) =>
          s"""{"q":"$n","ratio":${fmt(r, 1)}}""" }.mkString("[", ",", "]")
        s""","sfup_factor":$upFactor,"sfup_total":${fmt(done.values.sum, 2)},""" +
          s""""sfup_skipped":${skippedNames.size},"sfup_skipped_names":$namesJson,""" +
          s""""superlinear":$fl"""
      }
      // 30× spot summary: count + total + any query whose 30× ratio
      // exceeds 45 (the 15×-per-10× superlinear bar scaled to 30×)
      val up30line = if (up30.isEmpty) "" else {
        val done30 = up30.filter(_._2 >= 0)
        val flagged30 = stats.flatMap { s =>
          up30.get(s.name).collect {
            case t if t >= 0 && s.best >= 0.05 && t / s.best > 45.0 =>
              s"""{"q":"${s.name}","ratio":${fmt(t / s.best, 1)}}"""
          }
        }
        s""","sfup30_n":${done30.size},"sfup30_total":${fmt(done30.values.sum, 2)},""" +
          s""""sfup30_skipped":${up30.count(_._2 == -2.0)},""" +
          s""""superlinear30":${flagged30.mkString("[", ",", "]")}"""
      }
      // suite-level plan-volume totals (best runs): the one-line scale
      // signature next to the one-line timing
      val vols = s""""shuffle_mb":${mb(stats.map(_.shuffleB).sum)},""" +
        s""""spill_mb":${mb(stats.map(_.spillB).sum)}"""
      def line(scale: Int): String = {
        val qs = stats.map { s => "\"" + s.name + "\":" + fmt(s.best, scale) }
          .mkString("{", ",", "}")
        s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec",""" +
          s""""queries":$qs,$vols,$errs,$regs$scaling$upline$up30line,"sf":"$sfDir"}"""
      }
      // last resort (query set too big for even 1-decimal full maps):
      // keep the SLOWEST 20 queries in the line — the per-query numbers
      // a regression judgment actually needs — and say how many were
      // omitted; the full distribution is always in bench_detail.json.
      // PLUS the fixed scaling set (round-17 verdict #2): at 443
      // queries the slowest 20 are exclusively micro-batch-machinery
      // streaming queries and driver-paced fixpoints — latency-bound,
      // so the driver's low-core/high-core per-query comparison read
      // ≈1 everywhere and tripped `suspect_cpus_ignored` even though
      // the env IS honored. These ten are compute-bound parallel
      // scans/joins (no fixpoint, no micro-batch floor) whose c8/c32
      // ratio genuinely reflects core scaling. Additions-only: the
      // top-k keys all stay.
      def lineTop(k: Int): String = {
        val ok = stats.filter(_.best >= 0)
        val top = ok.sortBy(-_.best).take(k)
        val scalingSet = Seq("q_substring_dup", "q_fact_build", "q_ppjoin",
          "q_bucket_join", "q_binary_quant", "q_fleiss_kappa", "q_containment",
          "q_simhash_neardup", "q_method_agreement", "q_krippendorff")
        val have = top.map(_.name).toSet
        val extra = scalingSet.filterNot(have)
          .flatMap(n => ok.find(_.name == n))
        val qs = (top ++ extra).map(s => "\"" + s.name + "\":" + fmt(s.best, 2))
          .mkString("{", ",", "}")
        s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","cpus":${GraftSession.cores},""" +
          s""""queries":$qs,"omitted":${stats.size - top.size - extra.size},$vols,$errs,""" +
          s"""$regs$scaling$upline$up30line,"sf":"$sfDir"}"""
      }
      val compact = {
        val l2 = line(2)
        if (l2.length <= 1850) l2
        else { val l1 = line(1)
               if (l1.length <= 1850) l1
               else { val lt = lineTop(20)
                      if (lt.length <= 1850) lt else lineTop(12) } }
      }
      try {
        val detail = stats.map { s =>
          "\"" + s.name + "\":{\"best\":" + s.best + ",\"median\":" + s.median +
            ",\"spread\":" + s.spread + ",\"warm\":" + s.warm +
            ",\"runs\":[" + s.runs.mkString(",") + "]" +
            (if (s.isoRuns.nonEmpty) ",\"iso_runs\":[" + s.isoRuns.mkString(",") + "]" else "") +
            ",\"shuffle_mb\":" + mb(s.shuffleB) + ",\"spill_mb\":" + mb(s.spillB) +
            sf2Best.get(s.name).map(t => ",\"sf2_best\":" + t).getOrElse("") +
            upFinal.get(s.name).map(t => ",\"sfup_best\":" + t).getOrElse("") +
            up30.get(s.name).map(t => ",\"sfup30_best\":" + t).getOrElse("") + "}"
        }.mkString("{", ",", "}")
        val detailLine =
          s"""{"total":$total,$vols,"queries":$detail,$regs$scaling$upline$up30line,"sf":"$sfDir"}"""
        val w = new java.io.PrintWriter("target/bench_detail.json")
        try w.println(detailLine)
        finally w.close()
        // Auto-archive (round-14 clobber postmortem): EVERY Bench
        // invocation — including SPARK_GRAFT_ONLY targeted runs —
        // overwrites target/bench_detail.json, and the round-14 full
        // 10× detail was lost to exactly that minutes after it was
        // produced. The harness now archives the detail itself on
        // every FULL-coverage run (no SPARK_GRAFT_ONLY filter), at
        // every checkpoint, so a targeted run can never clobber the
        // last full pass and a killed run still leaves its most-
        // enriched full-coverage detail in tools/.
        if (only.isEmpty) {
          try java.nio.file.Files.writeString(
            toolsPath("bench_detail_last_full.json"), detailLine + "\n")
          catch { case e: Throwable =>
            System.err.println(s"[bench] archive write failed: ${e.getMessage}") }
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] bench_detail.json write failed: ${e.getMessage}") }
      println(compact)
      System.out.flush()
    }
    // ---------- fail-soft checkpoint 1: main pass only ----------
    val sf2Dir = sys.env.getOrElse("SPARK_GRAFT_SF2_DIR", "/root/testdata/sf0.01")
    val upFactorPre = sys.env.getOrElse("SPARK_GRAFT_SFUP_FACTOR", "10").toInt
    emit(statsRaw, Map.empty, Map.empty, upFactorPre, sf2Dir)
    // PASS ORDER (round-15 re-architecture — the round-14 weak item):
    // main → retime → 10× upscale → sf2 → 30× spot. Round 14 ran the
    // sf2 pass second and at 405 queries main + sf2 + retime consumed
    // the whole deadline: the driver artifact shipped sfup_skipped=405
    // and a budget-0 30× skip — ZERO scale evidence, the one thing
    // the envelope exists to carry. The 10× pass (the scale signal:
    // super-linear plans are >15× slower at 10× data, far beyond
    // noise) now runs FIRST after retime, with floors reserved for
    // the sf2 and 30× passes; the sf2 pass (the LEAST informative —
    // downward to sf0.01, where fixed per-query overhead swamps plan
    // cost) runs after it, budget-aware, skips counted honestly.
    // UPWARD scaling pass: sf0.1 → sf1 ratios. The sf2 pass below
    // compares DOWNWARD, where fixed per-query overhead swamps plan
    // cost and super-linear plans hide (judged from the 0.01→0.1
    // ratio, q_edit_distance's SF² join read as "7.4× per 10×"). This
    // pass derives a 10× fixture from the main SF ([[Upscale]]:
    // key-shifted copies, RI-exact, single-file layout parity) and
    // times ONE execution per query on it — at 10× the data a real
    // super-linear plan is >15× slower, far beyond single-run noise.
    // Time-budgeted (default 900 s) so a pathological query can't eat
    // the round; budget-skipped queries are COUNTED in the output,
    // never silently dropped (CLAUDE.md no-silent-caps rule).
    // SPARK_GRAFT_SFUP="" disables; SPARK_GRAFT_SFUP_DIR overrides
    // the cached fixture location.
    val upFactor = sys.env.getOrElse("SPARK_GRAFT_SFUP_FACTOR", "10").toInt
    val upDir = sys.env.getOrElse("SPARK_GRAFT_SFUP_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft_sfup_${upFactor}x")
    // ADAPTIVE budget (round-13): the fixed 1800 s budget of round 12
    // blew the driver's total-bench wall-clock cap — BENCH_r12.json was
    // rc:124/parsed:null, the worst possible outcome. The upscale pass
    // now spends whatever remains of a TOTAL deadline
    // (SPARK_GRAFT_BENCH_DEADLINE_SEC) after the main pass,
    // reserving 240 s for final emission plus floors for the sf2 and
    // 30× passes that now run AFTER it (round-15 reorder). Full
    // 10× coverage is achieved ACROSS rounds via the skip rotation
    // below, never by one over-long run. SPARK_GRAFT_SFUP_BUDGET_SEC
    // remains as an explicit override for local finalization runs.
    // Default 2520 s: round-11's PASSING envelope was 46:14 total
    // wall (2774 s) measured by the driver's clock, which also covers
    // ~1 min of sbt startup/compile this in-main elapsed cannot see —
    // 2520 in-main ≈ 43 min total, a real margin under the cap that
    // killed round 12, and the fail-soft checkpoint lines cover the
    // overrun case anyway.
    val deadlineSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "2520").toDouble
    // sfup30 reserved floor (round-13 verdict #2): taken OFF the 10×
    // pass's budget so the driver artifact always carries a second
    // scale point — round 13's 10× pass ate the whole leftover and the
    // 30× pass skipped at "budget 0 s". Larger when the 30× fixture
    // must still be generated (generation is real minutes of wall).
    val dir30 = sys.env.getOrElse("SPARK_GRAFT_SFUP30_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft_sfup_30x")
    val have30Fixture = java.nio.file.Files.exists(Upscale.marker(dir30))
    val up30FloorSec = sys.env.get("SPARK_GRAFT_SFUP30_FLOOR_SEC").map(_.toDouble)
      .getOrElse(if (have30Fixture) 240.0 else 600.0)
    // a DEF, re-read after fixture generation: Upscale.ensure on a
    // fresh machine costs minutes of wall the per-query budget must
    // see, or the deadline overshoots by exactly the generation time
    // sf2 reserved floor: the downward pass now runs AFTER the 10×
    // pass (round-15 reorder), so its expected cost — ~385 non-
    // streaming queries × 2 runs at sf0.01 + per-query GC ≈ 280 s —
    // must be withheld from the 10× budget or the reorder just moves
    // the starvation from one pass to the other.
    // 200 s (was 300, round-17 rebalance): partial sf2 coverage with
    // honest skip counts beats zero 10× coverage — the sf2 pass is the
    // least informative of the three scale passes and the regression
    // gate's main leg (spread + baseline) still covers every query.
    val sf2FloorSec = sys.env.get("SPARK_GRAFT_SF2_FLOOR_SEC").map(_.toDouble)
      .getOrElse(if (sf2Dir.nonEmpty && sf2Dir != sfDir) 200.0 else 0.0)
    val upBudgetEnv = sys.env.get("SPARK_GRAFT_SFUP_BUDGET_SEC").map(_.toDouble)
    def upBudgetNow: Double = upBudgetEnv
      .getOrElse(math.max(0.0,
        deadlineSec - elapsedSec - 240.0 - up30FloorSec - sf2FloorSec))
    System.err.println(f"[bench] upscale budget ${upBudgetNow}%.0f s " +
      f"(deadline $deadlineSec%.0f, elapsed $elapsedSec%.0f, " +
      f"sfup30 floor $up30FloorSec%.0f, sf2 floor $sf2FloorSec%.0f)")
    // Isolated re-time pass: a measured-run spread over 1 s means the
    // suite window was contended (external load — rounds 6 and 8 both
    // hit it), and a spread-gated regression check is blind exactly
    // then. Re-run those queries AFTER the whole suite
    // (giving the interference time to decay); the min folds into best
    // and the tight isolated spread replaces the contaminated one in
    // the gate. Runs BEFORE the upscale passes (round-13 advice) so
    // the 10×/30× ratio denominators, the spot-set selection, and
    // emit's superlinear flags all see the SAME retimed map — the
    // pre-retime denominator made a contended query spot-selected and
    // ratio-flagged inconsistently between the two passes. The pass
    // must clear the SUITE'S OWN noise too: GC first and discard one
    // warm run (observed 2.73→1.99→1.34 s decay on q_source_overlap —
    // a fake 1.4 s "spread") before the three timed runs.
    val qmap = selected.toMap
    def retimeSuspects(in: Seq[Stat]): Seq[Stat] = in.map { s =>
      if (s.best >= 0 && s.spread > 1.0) {
        System.gc()
        // streaming queries keep their 1-warm+1-measured protocol in
        // the retime too (their |measured − warm| spread is what
        // selected them); everything else gets the full 1+3
        val nIso = if (isStreaming(s.name)) 1 else 3
        val warmIso = execOnce(s.name, qmap(s.name), sfDir).sec
        val extra = List.fill(nIso)(execOnce(s.name, qmap(s.name), sfDir).sec)
        if (warmIso >= 0 && extra.forall(_ >= 0))
          s.copy(best = math.min(s.best, math.min(warmIso, extra.min)), isoRuns = extra)
        else s
      } else s
    }
    val stats = retimeSuspects(statsRaw)
    val bestRetimed: Map[String, Double] = stats.map(s => s.name -> s.best).toMap
    val upBest: Map[String, Double] =
      if (sys.env.getOrElse("SPARK_GRAFT_SFUP", "1").isEmpty || upFactor <= 1) Map.empty
      else if (upBudgetNow < 60 && !java.nio.file.Files.exists(Upscale.marker(upDir))) {
        // deadline already (nearly) spent and the 10× fixture would
        // have to be generated first — generation itself is unbudgeted
        // work; skip the whole pass honestly rather than overrun
        System.err.println("[bench] upscale pass skipped: budget " +
          f"$upBudgetNow%.0f s too small to generate the fixture")
        Map.empty
      } else {
        try Upscale.ensure(spark, sfDir, upDir, upFactor)
        catch { case e: Throwable =>
          System.err.println(s"[bench] upscale generation failed: ${e.getMessage}") }
        if (!java.nio.file.Files.exists(Upscale.marker(upDir))) Map.empty
        else {
          // budget captured AFTER generation so its wall-time counts
          val upBudget = upBudgetNow
          var spent = 0.0
          val bestAtSf = bestRetimed
          // Queries the PREVIOUS round's pass budget-skipped run FIRST
          // this round, so no query goes two consecutive rounds
          // un-audited for super-linearity (round-11 skipped three and
          // couldn't even name them).
          val priorSkipped: Set[String] = readSkipped(sfupSkippedPath())
          val upOrder = selected.sortBy { case (n, _) => (!priorSkipped(n), n) }
          upOrder.map { case (name, fn) =>
            // Pre-launch estimate: a query's upscaled run costs at
            // LEAST ~factor × its main-SF best even when perfectly
            // linear, so launching one whose estimate alone overruns
            // the remaining budget lets a single super-linear query —
            // exactly what this pass exists to detect — eat the whole
            // round (the round-10 gap). Skip it (recorded as -2,
            // counted in sfup_skipped) and keep the budget for the
            // rest; genuinely super-linear queries still get caught on
            // the rounds where their main-SF best is small.
            val est = bestAtSf.getOrElse(name, 0.0).max(0.0) * upFactor
            if (spent + est > upBudget) name -> -2.0
            else {
              val r = execOnce(name, fn, upDir)
              System.gc()
              if (r.sec >= 0) spent += r.sec
              name -> r.sec
            }
          }.toMap
        }
      }
    // Verification re-time for would-be superlinear flags: the first
    // pass times ONE cold execution per query in a JVM that just ran
    // the whole suite, and that single sample overstates badly — all
    // four round-10 flags (21-28× per 10×) re-measured at 3.4-5.9×
    // under min-of-4 in a fresh JVM. Re-run just the over-threshold
    // candidates (bounded: ≤8, ratio-descending) and report the min,
    // so a flag means the plan, not the heap history.
    val upFinal: Map[String, Double] = {
      val fns = selected.toMap
      val candidates = upBest.toSeq.flatMap { case (name, t) =>
        val base = bestRetimed.getOrElse(name, -1.0)
        if (t >= 0 && base >= 0.05 && t / base > 15.0) Some((name, t / base)) else None
      }.sortBy(-_._2).take(8).map(_._1).toSet
      upBest.map { case (name, t) =>
        if (!candidates(name)) name -> t
        else {
          System.gc()
          val r = execOnce(name, fns(name), upDir)
          name -> (if (r.sec >= 0) math.min(t, r.sec) else t)
        }
      }
    }
    // ---------- fail-soft checkpoint 2: main + retime + 10× ----------
    // (round-13 advice, medium): without this line a run killed during
    // a later pass lost the completed 10× results from the parsed
    // line AND never wrote tools/sfup_skipped.json, silently defeating
    // the next round's skip-rotation front-stagger (the exact
    // round-12 failure mode).
    emit(stats, Map.empty, upFinal, upFactor, sf2Dir)
    // Dual-scale (downward) pass: one warm + one measured execution
    // per query at a second (smaller) SF so per-query t(sf)/t(sf2)
    // ratios are recorded — the regression gate's interference-immune
    // second opinion (a real sf2 regression clears 250 ms AND 50%
    // where the contended main window can't be trusted). Runs AFTER
    // the 10× pass (round-15 reorder — it is the least informative
    // scale pass), budget-aware with skips counted, and EXCLUDES
    // q_stream_* (their sf2 time is pure streaming machinery — the
    // ratio would measure temp-dir staging, not the plan).
    // Disable with SPARK_GRAFT_SF2_DIR="" for quick local iteration.
    val sf2Best: Map[String, Double] =
      if (sf2Dir.nonEmpty && sf2Dir != sfDir && new java.io.File(sf2Dir).isDirectory) {
        val sf2Budget = sys.env.get("SPARK_GRAFT_SF2_BUDGET_SEC").map(_.toDouble)
          .getOrElse(math.max(0.0, deadlineSec - elapsedSec - 240.0 - up30FloorSec))
        System.err.println(f"[bench] sf2 budget $sf2Budget%.0f s")
        var spent = 0.0
        // Same front-stagger rotation as the 10× pass (round-17): with
        // the pass budget-bounded, name-order iteration left the same
        // alphabetical tail without an sf2 point every round — the
        // gate's sf2-drift leg was permanently blind to them.
        val priorSf2Skipped = readSkipped(sf2SkippedPath())
        val sf2Order = selected.sortBy { case (n, _) => (!priorSf2Skipped(n), n) }
        sf2Order.map { case (name, fn) =>
          if (isStreaming(name) || spent > sf2Budget) name -> -2.0
          else {
            val t0 = elapsedSec
            val a = execOnce(name, fn, sf2Dir)
            val b = if (a.sec < 0) a else execOnce(name, fn, sf2Dir)
            System.gc() // same neighbor-garbage discipline as the main pass
            spent += elapsedSec - t0
            name -> (if (a.sec < 0 || b.sec < 0) -1.0 else math.min(a.sec, b.sec))
          }
        }.toMap
      } else Map.empty
    // ---------- fail-soft checkpoint 3: main + retime + 10× + sf2 ----------
    emit(stats, sf2Best, upFinal, upFactor, sf2Dir)
    // 30× SPOT pass (round-13 verdict stretch #9): a second upward
    // scaling point so the scale grade rests on two ratios, not one.
    // Spot set = top-10 most expensive main-SF queries + any query
    // whose 10× ratio exceeded 3× (capped at 16). Deadline-aware like
    // the 10× pass — in driver-shape runs the 10× pass usually eats
    // the leftover and this pass skips honestly (logged); the local
    // finalization run supplies the artifact via
    // SPARK_GRAFT_SFUP30_BUDGET_SEC, and its bench_detail is archived
    // under tools/ per round.
    val up30Factor = 30
    val up30BudgetEnv = sys.env.get("SPARK_GRAFT_SFUP30_BUDGET_SEC").map(_.toDouble)
    // same budget-after-generation rule as the 10× pass; the reserved
    // floor was already withheld from the 10× budget, so in a
    // driver-shape run the remaining slack here is ≈ the floor
    def up30BudgetNow: Double = up30BudgetEnv
      .getOrElse(math.max(0.0, deadlineSec - elapsedSec - 240.0))
    val up30: Map[String, Double] =
      if (sys.env.getOrElse("SPARK_GRAFT_SFUP", "1").isEmpty || upFinal.isEmpty)
        Map.empty
      else {
        // fixture generation at 30× is minutes of unbudgeted work —
        // require real slack before paying it (the reserved floor
        // covers exactly this: 600 s fixture-absent, 240 s present)
        if (up30BudgetNow < (if (have30Fixture) 120 else 450)) {
          System.err.println(
            f"[bench] sfup30 spot pass skipped: budget $up30BudgetNow%.0f s")
          Map.empty
        } else {
          // Spot set: the 10×-RATIO TAIL first, ratio-DESCENDING
          // (round-15 verdict #2 — the queries most likely to bend at
          // scale are exactly the worst 10× scalers, and the previous
          // rotation never reached them because the ANN family and the
          // name-sorted >3× set filled the cap), then the most
          // expensive main-SF queries, then the ANN/IVF serving family
          // (already 30×-verified in round 15 — kept as trend points,
          // last in line). All ratio denominators use the RETIMED map
          // (round-13 advice).
          val tail = upFinal.collect { case (n, t)
              if t >= 0 && bestRetimed.getOrElse(n, -1.0) >= 0.05 &&
                t / bestRetimed(n) > 3.0 => (n, t / bestRetimed(n)) }
            .toSeq.sortBy(-_._2).map(_._1)
          val topTen = stats.filter(_.best >= 0).sortBy(-_.best).take(10).map(_.name)
          val annFamily = Seq("q_ivf_search", "q_ivfpq_adc", "q_ivfpq_recall",
            "q_ann_lsh", "q_ann_multiprobe", "q_ivf_nprobe")
            .filter(qmap.contains)
          val spot = (tail ++ topTen ++ annFamily).distinct.take(16)
          try Upscale.ensure(spark, sfDir, dir30, up30Factor)
          catch { case e: Throwable =>
            System.err.println(s"[bench] sfup30 generation failed: ${e.getMessage}") }
          if (!java.nio.file.Files.exists(Upscale.marker(dir30))) Map.empty
          else {
            val up30Budget = up30BudgetNow
            var spent = 0.0
            spot.flatMap { name =>
              val est = bestRetimed.getOrElse(name, 0.0).max(0.0) * up30Factor
              if (spent + est > up30Budget) Some(name -> -2.0)
              else qmap.get(name).map { fn =>
                val r = execOnce(name, fn, dir30)
                System.gc()
                if (r.sec >= 0) spent += r.sec
                name -> r.sec
              }
            }.toMap
          }
        }
      }
    // ---------- final (most-enriched) line: the one the driver parses
    // when the run completes within the envelope ----------
    emit(stats, sf2Best, upFinal, upFactor, sf2Dir, up30)
    spark.stop()
  }
}
