package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Stage

/** Fixed-round HITS (Kleinberg 1999) in scaled INTEGER arithmetic —
  * the hubs-and-authorities companion to [[PageRank]]. Hubs are nodes
  * whose out-edges reach high-authority nodes; authorities are nodes
  * reached by high-hub ones. On the rep→member collision graph this
  * separates the two dedup roles PageRank blends: bucket
  * representatives that anchor many duplicate neighborhoods (hubs)
  * vs documents that many representatives claim (authorities).
  *
  * Why integers: like [[PageRank.integerRanks]], float score sums are
  * partition-order-dependent and unverifiable; here both score
  * vectors live in units of 1/`scale` and every half-step
  * renormalizes by L1 SUM with floor division — the integer analogue
  * of the usual norm step, associative-exact and bit-identical on
  * any partition layout and engine. (L1, not the classic L2: the sum
  * is exact in integers where sqrt of a sum of squares is not, and
  * normalization choice does not change the ranking.)
  *
  * Scale shape: each half-step is one key-partitioned join (edges ⋈
  * scores) + one hash aggregate + a 1-row broadcast total — the
  * PageRank round shape, twice per round. Round count is FIXED;
  * lineage is truncated per half-step with the CC loop's
  * checkpoint/free discipline. Intermediates fit BIGINT while
  * raw·scale < 2^63 (raw ≤ maxdeg·scale); at extreme degree·scale
  * products promote the renormalization to DECIMAL — same shape.
  */
object Hits {

  /** (v, hub, auth) after `rounds` alternating half-steps over a
    * DIRECTED edge list (`src`, `dst`). Nodes missing from a side
    * (no in-edges / no out-edges) score 0 on that side via the LEFT
    * join, never dropped. Initial scores are `scale` for every node.
    */
  def integerHits(edges: DataFrame, rounds: Int, scale: Long): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val nodes = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct()
    var hub = nodes.withColumn("h", lit(scale)).localCheckpoint(true)
    var auth = nodes.withColumn("a", lit(scale)).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val rawA = e.join(hub.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"), col("h"))
        .groupBy("v").agg(sum(col("h")).as("raw"))
      val nextA = renorm(nodes, rawA, scale, "a").localCheckpoint(true)
      Stage.free(auth)
      auth = nextA
      val rawH = e.join(auth.withColumnRenamed("v", "dst"), "dst")
        .select(col("src").as("v"), col("a"))
        .groupBy("v").agg(sum(col("a")).as("raw"))
      val nextH = renorm(nodes, rawH, scale, "h").localCheckpoint(true)
      Stage.free(hub)
      hub = nextH
    }
    Stage.free(e)
    hub.join(auth, "v")
  }

  /** x(v) = ⌊coalesce(raw(v), 0)·scale / Σraw⌋ over the full node
    * set — the L1 renormalization half-step.
    */
  private def renorm(nodes: DataFrame, raw: DataFrame, scale: Long,
      out: String): DataFrame = {
    val tot = raw.agg(sum(col("raw")).as("tot"))
    nodes.join(raw, Seq("v"), "left")
      .crossJoin(broadcast(tot))
      .select(col("v"),
        expr(s"CAST((coalesce(raw, 0) * $scale) DIV tot AS BIGINT)").as(out))
  }
}
