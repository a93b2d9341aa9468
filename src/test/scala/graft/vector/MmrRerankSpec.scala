package graft.vector

import graft.SparkSpec

/** Pins the MMR greedy kernel (`VectorQueries.mmrRerank`) against a
  * driver-side brute-force greedy over the same fixture, and pins its
  * checkpoint/free discipline (the iterative-kernel rule: superseded
  * selected-set checkpoints must be freed as rounds advance — only
  * the final round's blocks may remain persisted when the query
  * returns). The oracle gate (`q_mmr_rerank`) proves the numbers; this
  * spec proves the ALGORITHM is the textbook greedy and the loop
  * doesn't leak localCheckpoint blocks across its 5 rounds.
  */
class MmrRerankSpec extends SparkSpec {

  // exact replicas of the engine's cross-engine-safe kernels:
  // left-fold dot, staged norms with dot/(nrmA*nrmB) association,
  // floor(x*s+0.5)/s rounding (TextFns.round4/round6)
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
  private def r4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4

  private case class Cand(id: Long, label: Int, rel: Double)

  /** Brute-force MMR greedy: λ=1/2, pairwise sims round6-ed before
    * the max, every argmax on (round6(score) desc, id asc) — the
    * documented contract of mmrRerank, computed with plain loops.
    */
  private def bruteForce(dir: String): Seq[(Int, Long, Int, Double)] = {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map { r =>
        // label is int32 in the driver's embeddings table (read via
        // Number — the RrfFusionSpec convention)
        (r.getLong(0), r.getAs[Number](1).intValue,
          r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
      }.sortBy(_._1)
    val (probe, rest) = rows.partition(_._1 == 0L)
    val pv = probe.head._3
    val pnrm = math.sqrt(dot(pv, pv))
    val byId = rest.map(t => t._1 -> t._3).toMap
    val nrm = rest.map(t => t._1 -> math.sqrt(dot(t._3, t._3))).toMap
    val pool = rest
      .map { case (id, lbl, v) => Cand(id, lbl, dot(v, pv) / (nrm(id) * pnrm)) }
      .sortBy(c => (-c.rel, c.id))
      .take(12)
    def ps(a: Long, b: Long): Double =
      r6(dot(byId(a), byId(b)) / (nrm(a) * nrm(b)))
    val first = pool.minBy(c => (-r6(c.rel * 0.5), c.id))
    var sel = Vector((1, first.id, first.label, first.rel * 0.5))
    (2 to 5).foreach { k =>
      val picked = sel.map(_._2).toSet
      val next = pool.filterNot(c => picked(c.id))
        .map { c =>
          val ms = sel.map(s => ps(c.id, s._2)).max
          (c, c.rel * 0.5 - ms * 0.5)
        }
        .minBy { case (c, sc) => (-r6(sc), c.id) }
      sel = sel :+ ((k, next._1.id, next._1.label, next._2))
    }
    sel.map { case (p, id, l, sc) => (p, id, l, r4(sc)) }
  }

  test("mmrRerank equals the driver-side brute-force greedy") {
    val got = VectorQueries.mmrRerank(spark, sfTiny).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getAs[Number](2).intValue, r.getDouble(3)))
      .toSeq
    val want = bruteForce(sfTiny)
    assert(got === want)
    // non-vacuous and diversity-bearing: 5 picks, all distinct ids,
    // strictly descending MMR scores are NOT required (greedy only
    // guarantees round-wise argmax) but pick 1 must carry the best rel
    assert(got.map(_._2).distinct.size === 5)
  }

  test("greedy loop frees superseded checkpoints (≤1 block survives)") {
    val sc = spark.sparkContext
    // drop anything a previous test left behind so the delta is ours
    graft.QueryProfile.endQuery(spark)
    val before = sc.getPersistentRDDs.keySet
    val out = VectorQueries.mmrRerank(spark, sfTiny)
    out.collect()
    val leaked = sc.getPersistentRDDs.keySet -- before
    // 8 checkpoints are created across the run (cands, pairs, sel1 and
    // 4 union rounds); everything but the final selected set must have
    // been freed by the time the result materializes
    assert(leaked.size <= 1, s"leaked localCheckpoint blocks: $leaked")
    graft.Stage.free(out)
  }
}
