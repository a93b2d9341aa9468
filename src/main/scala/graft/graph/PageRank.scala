package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Stage

/** Fixed-iteration PageRank in scaled INTEGER arithmetic — the graph
  * centrality companion to [[ConnectedComponents]] (Page/Brin 1998;
  * d = 0.85 damping as 85/100 integer fractions).
  *
  * Why integers: float PageRank sums per-neighbor contributions in
  * partition order (nondeterministic across runs and engines), so an
  * oracle hash-compare would be impossible. Here ranks live in units
  * of 1/`scale` (floor division at every step), making every
  * iteration an associative-exact integer sum — bit-identical on any
  * partition layout and any engine. The floors leak ≤1 unit per term
  * versus the real-valued recurrence, immaterial for ranking.
  *
  * Scale shape: each iteration is one key-partitioned join
  * (edges ⋈ ranks on src) + one hash aggregate on dst — exactly the
  * message-passing round a Pregel implementation runs, expressed
  * relationally so Catalyst/AQE handle skew and the edge list can be
  * pre-bucketed by src at 100 TB. Iteration count is FIXED (the query
  * contract), so the lineage depth is bounded; a long-running
  * deployment checkpoints between rounds like the CC loop.
  */
object PageRank {

  /** Ranks after `iterations` rounds over a DIRECTED edge list
    * (`src`, `dst`) — pass both directions for an undirected graph.
    * Every node is assumed to have out-degree ≥ 1 (true for edge
    * lists derived from symmetric relations; no dangling-mass term).
    * In-degree-0 nodes (a source feeding a cycle) keep their
    * ⌊15·scale/(100·N)⌋ base term each round: the contribution join
    * is a LEFT join with a zero default, not an inner join that
    * would silently drop them from the output.
    *
    * Returns (v, deg, r) where r ≈ scale · rank(v):
    * r₀(v) = ⌊scale/N⌋, then
    * rᵢ₊₁(v) = ⌊15·scale/(100·N)⌋ + Σ_{u→v} ⌊85·rᵢ(u)/(100·deg(u))⌋.
    */
  def integerRanks(edges: DataFrame, iterations: Int, scale: Long): DataFrame = {
    // checkpoint the edge list ONCE: each iteration references it from
    // two branches (contrib join + the nodes/deg side), so without
    // lineage truncation the (often expensive) edge derivation — e.g.
    // the MinHash banding pipeline in q_pagerank — is recomputed
    // per reference per round (observed: 44 identical document scans
    // in the 3-round physical plan). Each superseded round is freed
    // with Stage.free once the next one is materialized, as in the CC
    // fixpoint loop.
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val nodes = deg.select(col("src").as("v"), col("deg"))
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = nodes.crossJoin(broadcast(n))
      .select(col("v"), col("deg"),
        expr(s"CAST($scale DIV n_nodes AS BIGINT)").as("r"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val contrib = e
        .join(ranks.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"),
          expr("CAST((85 * r) DIV (100 * deg) AS BIGINT)").as("c"))
        .groupBy("v").agg(sum(col("c")).as("contrib"))
      val next = nodes.join(contrib, Seq("v"), "left")
        .crossJoin(broadcast(n))
        .select(col("v"), col("deg"),
          expr(s"CAST((15 * $scale) DIV (100 * n_nodes)" +
            " + coalesce(contrib, 0) AS BIGINT)").as("r"))
        .localCheckpoint(true)
      Stage.free(ranks)
      ranks = next
    }
    Stage.free(e)
    ranks
  }
}
