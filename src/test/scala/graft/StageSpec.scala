package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Stage.free]] finds a frame's localCheckpoint blocks through its
  * plan: these cases pin which blocks a free reaches and which it must
  * leave alone.
  */
class StageSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Stage `df` and return the frame plus the RDD id it registered. */
  private def staged(df: DataFrame, eager: Boolean = true): (DataFrame, Int) = {
    val before = persisted
    val chk = df.localCheckpoint(eager)
    val added = persisted -- before
    assert(added.size == 1, s"one checkpoint should register one RDD: $added")
    (chk, added.head)
  }

  private def nums(n: Int): DataFrame = (1 to n).toDF("x")

  test("eager and lazy checkpoints are each freed") {
    val (eager, eagerId) = staged(nums(10))
    val (lzy, lazyId) = staged(nums(20), eager = false)
    assert(lzy.count() == 20)
    Stage.free(eager)
    assert(!persisted.contains(eagerId))
    assert(persisted.contains(lazyId))
    Stage.free(lzy)
    assert(!persisted.contains(lazyId))
  }

  test("a projection of a checkpoint frees that checkpoint") {
    val (chk, id) = staged(nums(10))
    val proj = chk.select((col("x") * 2).as("y")).filter(col("y") > 4)
    assert(proj.count() == 8)
    Stage.free(proj)
    assert(!persisted.contains(id))
  }

  test("a join of two checkpoints frees both") {
    val (a, aId) = staged(nums(10))
    val (b, bId) = staged(nums(5).withColumnRenamed("x", "z"))
    val joined = a.join(b, col("x") === col("z"))
    assert(joined.count() == 5)
    Stage.free(joined)
    assert(!persisted.contains(aId) && !persisted.contains(bId))
  }

  test("a checkpoint staged afterwards survives an unrelated free") {
    val (first, _) = staged(nums(10))
    val (second, secondId) = staged(nums(7))
    Stage.free(first)
    assert(persisted.contains(secondId))
    assert(second.count() == 7)
    Stage.free(second)
  }

  test("a double free and a frame with no checkpoint are no-ops") {
    val (chk, id) = staged(nums(10))
    val (other, otherId) = staged(nums(3))
    Stage.free(chk)
    Stage.free(chk, nums(4))
    assert(!persisted.contains(id))
    assert(persisted.contains(otherId))
    Stage.free(other)
  }

  test("reading a freed frame throws") {
    val (chk, _) = staged(nums(10))
    Stage.free(chk)
    val e = intercept[Exception](chk.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")),
      s"unexpected failure: $e")
  }
}
