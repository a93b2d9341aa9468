package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Stage

/** Distributed connected components by iterative min-label
  * propagation — the transitive-closure step that turns one-hop
  * near-dup buckets (MinHash band collisions, SimHash Hamming pairs)
  * into full duplicate CLUSTERS. One-hop single-link (what
  * `q_minhash_cluster` emits) under-merges whenever A~B and B~C
  * collide in different bands; the closure is what a dedup pipeline
  * must canonicalize on.
  *
  * Algorithm: label(v) starts as v; each round every vertex takes the
  * min of its own label and its neighbors' labels; fixpoint when no
  * label changes. Rounds needed = graph diameter, and near-dup graphs
  * are star-shaped (docs hang off bucket representatives), so the
  * diameter is small — single digits in practice. Each round is one
  * key-partitioned join (edges ⋈ labels on dst) plus one hash
  * aggregate (min per node): O(E) shuffle per round, no driver-side
  * data, scale-safe at any edge count. The per-round driver action is
  * a single fused job — a `count` of the changed labels that doubles
  * as the round's lazy-localCheckpoint materialization — the
  * canonical iterate-until-fixpoint shape (same as GraphX/Pregel)
  * minus the separate per-round probe job.
  *
  * Lineage: labels are `localCheckpoint`-ed each round — without
  * truncation the plan doubles per iteration and the optimizer
  * re-walks it quadratically — and each superseded round is released
  * with [[graft.Stage.free]] once the next one has materialized. On a cluster with dynamic allocation
  * prefer `spark.sparkContext.setCheckpointDir` + `checkpoint()`
  * (localCheckpoint blocks die with their executor); at 100 TB the
  * halving variant (large-star/small-star, Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) cuts
  * rounds from diameter to O(log diameter) — same per-round shape,
  * worth it only for chain-heavy graphs.
  */
object ConnectedComponents {

  /** @param edges undirected edge list; orientation and duplicates
    *              are normalized away internally.
    * @return (node, component) where component = min node id
    *         reachable from `node`; every endpoint of `edges` appears
    *         exactly once. The result reads lazily from the final
    *         round's localCheckpoint; callers free its blocks with
    *         [[graft.Stage.free]] once the result has materialized.
    */
  def run(edges: DataFrame, src: String = "src", dst: String = "dst",
          maxIter: Int = 50): DataFrame = {
    val e0 = edges.select(col(src).as("a"), col(dst).as("b"))
    // LAZY checkpoints for both setup frames: round 1's convergence
    // count is the first action over them, so ONE job materializes
    // sym, labels₀ AND round 1 (the eager form paid three driver jobs
    // for the same work — guide §1.2, fewer driver round trips; the
    // per-round work is unchanged, only the job count drops). Both
    // frames are consumed by two subtrees inside that job; the block
    // store's per-partition locks make the second consumer read, not
    // recompute.
    val sym = e0.union(e0.select(col("b").as("a"), col("a").as("b"))).distinct()
      .localCheckpoint(false)
    // Fold ROUND 1 into initialization: labels₀(v) = min(N(v) ∪ {v})
    // comes out of the same aggregate that enumerates the distinct
    // nodes (sym is symmetric, so every endpoint appears as `a`) —
    // one grouped aggregate replaces the old distinct-then-self-label
    // setup AND the first join+union+aggregate round (guide §2.4:
    // two operations keyed the same way share one pass). Labels are
    // identical to the old code's after its first round, so the loop
    // below converges to the same fixpoint in one fewer iteration.
    var labels = sym.groupBy(col("a")).agg(min(col("b")).as("mb"))
      .select(col("a").as("node"), least(col("a"), col("mb")).as("lbl"))
      .localCheckpoint(false)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbr = sym
        .join(labels.select(col("node").as("b"), col("lbl")), "b")
        .select(col("a").as("node"), col("lbl"), lit(false).as("own"))
      // fold the convergence evidence into the SAME aggregate that
      // computes the new labels: each node contributes exactly one
      // `own` row, so min(lbl WHERE own) is the previous label and the
      // probe becomes a shuffle-free filter over the checkpointed
      // result — one join + one shuffle per round instead of two (the
      // old probe re-joined next against labels every round)
      val next = labels.withColumn("own", lit(true)).union(nbr)
        .groupBy("node")
        .agg(min(col("lbl")).as("lbl"),
          min(when(col("own"), col("lbl"))).as("prev_lbl"))
        .localCheckpoint(false)
      // Convergence probe as a RAW RDD count over the lazily-
      // checkpointed internal rows: one driver job per round that BOTH
      // materializes the round's blocks (count scans every partition;
      // doCheckpoint then finds none missing) and counts the changed
      // labels — with zero Catalyst/AQE planning (a Dataset-level
      // filter+count re-plans per round and pays an extra final-agg
      // stage job under AQE). prev_lbl is never null: every `node`
      // has exactly one `own` row by construction.
      val sch = next.schema
      val (iL, iP) = (sch.fieldIndex("lbl"), sch.fieldIndex("prev_lbl"))
      val dt = sch(iL).dataType
      converged = next.queryExecution.toRdd
        .filter(r => !java.util.Objects.equals(r.get(iL, dt), r.get(iP, dt)))
        .count() == 0L
      Stage.free(labels)
      labels = next.select(col("node"), col("lbl"))
      iter += 1
    }
    Stage.free(sym)
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds " +
          "(diameter exceeds maxIter — raise it or use the halving variant)")
    labels.select(col("node"), col("lbl").as("component"))
  }

  /** [[run]] with one STAR-CONTRACTION round in front: orient
    * every edge (min, max), contract each node to the minimum of its
    * incident small-endpoints (plus itself where it IS one), run the
    * fixpoint only on the contracted graph of those local minima, and
    * lift labels back through the node→min map. Identical labeling
    * (the returned component ids are still global component minima):
    * a component's global min node always appears as a small endpoint
    * — every edge is min-oriented, so a minimum that only appeared on
    * the large side would have a smaller neighbor — and the
    * contracted graph preserves connectivity exactly (for edge (a,b):
    * b is linked to a and to min(b)'s rep through b's own incidence;
    * a to min(a)'s likewise). The fixpoint then iterates over the
    * local-minima graph — for the star-shaped near-dup graphs this
    * library serves, a small fraction of the nodes — which is what
    * the 10×/30× legs pay for. Self-loops are dropped by orientation
    * (they never affect components); nodes incident ONLY to
    * self-loops do not occur in this codebase's edge lists.
    * [[graft.Stage.free]] on the result frees the fixpoint's label
    * blocks together with any staged input of `edges`.
    */
  def runContracted(edges: DataFrame, src: String = "src",
                    dst: String = "dst"): DataFrame = {
    val e = edges.select(
        least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
    val inc = e.select(col("b").as("node"), col("a").as("r"))
      .unionByName(e.select(col("a").as("node"), col("a").as("r")))
    val nodeMin = inc.groupBy("node").agg(min(col("r")).as("r0"))
    val repEdges = inc.join(nodeMin, "node")
      .filter(col("r") =!= col("r0"))
      .select(col("r0").as("src"), col("r").as("dst"))
      .distinct()
    val repComp = run(repEdges)
    nodeMin
      .join(repComp.withColumnRenamed("node", "r0"), Seq("r0"), "left")
      .select(col("node"), coalesce(col("component"), col("r0")).as("component"))
  }

  /** The O(log d)-round variant: alternating Large-Star / Small-Star
    * edge rewrites (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14). Each round re-points nodes at ever-smaller
    * neighborhood minima, roughly halving component diameter — the
    * right tool when the graph has long chains (supply paths, linked
    * event sequences), where plain label propagation needs a round per
    * hop. For star-shaped near-dup graphs [[run]] is simpler and just
    * as fast; both return the identical (node, component = min node)
    * labeling ([[ConnectedComponentsSpec]] pins equivalence on seeded
    * graphs and a 60-node chain).
    *
    * Round shape: two grouped aggregates + joins over the current edge
    * set — O(E) per round like [[run]], but the number of rounds drops
    * from diameter to O(log diameter). Convergence = the Small-Star
    * output equals the previous edge set (then edges form (node, root)
    * stars).
    */
  def runHalving(edges: DataFrame, src: String = "src", dst: String = "dst",
                 maxIter: Int = 50): DataFrame = {
    val e0 = edges.select(col(src).as("u"), col(dst).as("v"))
      .filter(col("u") =!= col("v"))
    val nodes = e0.select(col("u").as("node"))
      .union(e0.select(col("v").as("node"))).distinct()
      .localCheckpoint(true)
    var cur = e0.distinct().localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // Large-Star: each node points its LARGER neighbors at the min
      // of its closed neighborhood
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // Small-Star: orient every edge at the smaller endpoint, then
      // each node re-points its smaller neighbors (and itself) at the
      // neighborhood min
      val oriented = large.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins2 = oriented.groupBy("u").agg(min(col("v")).as("m"))
      val small = oriented.join(mins2, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
        .distinct()
      val next = small.localCheckpoint(true)
      converged = next.except(cur).isEmpty && cur.except(next).isEmpty
      Stage.free(cur)
      cur = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"halving connected components did not converge in $maxIter rounds")
    // at the fixpoint edges are (node, root) stars; roots themselves
    // carry no outgoing edge and self-label via the coalesce. The
    // final `cur` and `nodes` checkpoints stay persisted — the result
    // reads from them lazily and localCheckpoint blocks are not
    // recomputable; Stage.free(result) releases both.
    nodes
      .join(cur.select(col("u").as("node"), col("v").as("root")), Seq("node"), "left")
      .select(col("node"), coalesce(col("root"), col("node")).as("component"))
  }
}
