package graft

/** Machine-checks the CLAUDE.md single-partition-window rule: a
  * `Window.orderBy` with NO partitionBy serializes through one task,
  * which is acceptable only over aggregate-/dim-/calendar-grain input
  * that does not scale with the fact table. All current sites were
  * hand-audited (round-12 verdict: 22 sites, each bounded, each with a
  * scale note) — but nothing stopped the SET from growing silently.
  * This spec pins the exact set of declared queries whose optimized
  * plan contains an unpartitioned Window; adding one means either
  * partitioning the window or consciously extending the allowlist WITH
  * a scale note at the new site.
  *
  * Exclusions: `q_stream_*` queries are not inspected — invoking their
  * builders EXECUTES a Structured-Streaming micro-batch pipeline
  * (expensive in a unit test), and their returned frames are
  * memory-sink batch results at micro-batch-output grain, where an
  * unpartitioned window is bounded by construction.
  */
class WindowAuditSpec extends SparkSpec {

  /** Queries sanctioned to plan an unpartitioned Window. Every entry
    * must have a scale note at its implementation site naming the
    * bounded input grain (and, where relevant, the fact-scale
    * alternative — see OlapMore.momDelta / ntileQuartiles).
    */
  private val sanctioned: Set[String] = Set(
    "q_bm25",            // vocab-grain idf rank
    "q_changepoint",     // day-grain cumulative + struct-min argmax (calendar-bounded)
    "q_cusum_drift",     // day-grain series (calendar-bounded)
    "q_date_dim",        // dense date surrogate (SurrogateKeys.dense, bounded dim)
    "q_dict_encode",     // vocab-grain code assignment
    "q_fact_build",      // dense date surrogate via date_dim
    "q_interpolate",     // day-grain gap fill
    "q_ivfpq_adc",       // single-probe candidate rank (cell-capped)
    "q_kaplan_meier",    // distinct-duration grain (bounded risk table)
    "q_logrank",         // same bounded day-grain risk table, two cohorts (round-14)
    "q_lorenz",          // decile-grain cumulative (10 rows; customer rank via PrefixScan)
    "q_nelson_aalen",    // same bounded day-grain risk table as q_kaplan_meier (round-14)
    "q_mix_schedule",    // source-grain apportionment (dim cardinality)
    "q_mom_delta",       // month-grain lag (calendar; scale note at site)
    "q_neg_sample",      // vocab-grain Hamilton remainder rank (round-14)
    "q_ntile",           // dim-cardinality segmentation (scale note at site)
    "q_percent_rank",    // nation-grain relative standing
    "q_prf_expand",      // vocab-grain expansion-term rank (round-13)
    "q_rank_join",       // k-row final rank over the TA answer (bounded by k=10; round-17)
    "q_ranker_overlap",  // two-phase top-k: global rank sees <= 8k rows (round-13)
    "q_rrf_fusion",      // per-probe fused rank over capped candidates
    "q_runs_test",       // day-grain sign lag (calendar-bounded)
    "q_running_total",   // month-grain running total (calendar)
    "q_sql_lag",         // month-grain SQL-surface lag
    "q_sql_monthly",     // month-grain SQL-surface trend
    "q_temperature_mix", // language-grain mixture (bounded alphabet)
    // q_truss_support left the set in round 14: its census window still
    // runs (support-grain, bounded) but behind an eager checkpoint, so
    // the returned frame's plan is a LogicalRDD the audit can't see —
    // the scale note lives at the implementation site
    "q_vocab_coverage",  // vocab-grain Zipf head
    "q_waterfill_mix",   // source-grain water-filling
    "q_zipf_fit"         // vocab-head grain (top-k terms)
  )

  test("unpartitioned-window query set matches the audited allowlist") {
    val offenders = scala.collection.mutable.SortedSet.empty[String]
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!name.startsWith("q_stream_")) {
        try {
          val plan = fn(spark, sfTiny).queryExecution.optimizedPlan
          val bare = plan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
                if w.partitionSpec.isEmpty => w
          }
          if (bare.nonEmpty) offenders += name
        } catch {
          case e: Throwable => failures += s"$name: ${e.getMessage}"
        } finally {
          QueryProfile.endQuery(spark)
        }
      }
    }
    assert(failures.isEmpty, s"queries failed to build: ${failures.mkString("; ")}")
    val extra = offenders.toSet -- sanctioned
    val gone = sanctioned -- offenders.toSet
    assert(extra.isEmpty,
      s"NEW unpartitioned windows (partition them or extend the " +
        s"allowlist with a scale note): ${extra.toSeq.sorted.mkString(", ")}\n" +
        s"full current set: ${offenders.mkString(", ")}")
    assert(gone.isEmpty,
      s"allowlist entries no longer planning an unpartitioned window " +
        s"(prune them): ${gone.toSeq.sorted.mkString(", ")}")
  }
}
