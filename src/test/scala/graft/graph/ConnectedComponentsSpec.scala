package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("chain graph needs multi-hop propagation (transitivity beyond one hop)") {
    // 1-2-3-4-5 is diameter 4: the min label reaches node 5 only after
    // several rounds — exactly what one-hop bucket clustering misses.
    val got = components(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  /** Reference: plain union-find with min-id canonicalization. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }

  test("matches driver-side union-find on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    assert(components(edges) == unionFind(edges))
  }

  test("orientation and duplicate edges are normalized") {
    val got = components(Seq((2L, 1L), (1L, 2L), (2L, 1L), (3L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  private def componentsContracted(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val lbl = ConnectedComponents.runContracted(edges.toDF("src", "dst"))
    val got = lbl.as[(Long, Long)].collect().toMap
    graft.Stage.free(lbl)
    got
  }

  test("contracted variant equals label propagation on seeded random graphs") {
    for (seed <- Seq(7, 21, 99)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(50)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
      assert(componentsContracted(edges) == unionFind(edges),
        s"contracted/union-find mismatch at seed $seed")
    }
    // unoriented + duplicate edges normalize; chains contract through
    // local minima (nodes on the large side of every edge)
    assert(componentsContracted(Seq((2L, 1L), (1L, 2L), (3L, 2L), (5L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
    assert(componentsContracted(
      Seq((1L, 5L), (5L, 9L), (9L, 12L), (12L, 30L), (20L, 21L))) ==
      Map(1L -> 1L, 5L -> 1L, 9L -> 1L, 12L -> 1L, 30L -> 1L,
        20L -> 20L, 21L -> 20L))
    // min-oriented edge lists (every edge a < b, `a` a band
    // representative — the q_cc_refresh / q_cc_forget bandReps shape):
    // star, rep-chained components (a rep that is another band's
    // member), singleton edges, and a deterministic pseudo-random batch
    val rnd = new scala.util.Random(42)
    val randomEdges = (1 to 120).map { _ =>
      val x = rnd.nextInt(60).toLong; val y = rnd.nextInt(60).toLong
      (math.min(x, y), math.max(x, y) + 1)
    }
    val minOriented = (Seq((1L, 5L), (5L, 9L), (9L, 12L), (2L, 7L), (2L, 8L),
      (20L, 21L)) ++ randomEdges).distinct
    assert(componentsContracted(minOriented) == components(minOriented))
  }

  private def componentsHalving(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.runHalving(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("halving variant collapses a 60-node chain (diameter beyond run's budget)") {
    // the chain is the halving algorithm's reason to exist: diameter
    // 59 would cost plain propagation a round per hop (it refuses at
    // its default maxIter=50) while the star rewrites converge in
    // ~log2(59) rounds — checked against union-find, not run(), so
    // the test doesn't pay for 59 propagation rounds
    val chain = (1L until 60L).map(i => (i, i + 1)) :+ (100L, 101L)
    assert(componentsHalving(chain) == unionFind(chain))
  }

  test("halving variant equals label propagation on seeded random graphs") {
    for (seed <- Seq(7, 21, 99)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(50)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
      assert(componentsHalving(edges) == components(edges),
        s"halving/propagation mismatch at seed $seed")
    }
  }
}
