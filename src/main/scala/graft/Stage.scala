package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Lifetime of staged frames. Staging is the plain
  * `df.localCheckpoint(eager)` call: its blocks are persisted at the
  * RDD level, where `Dataset.unpersist` (which consults only the cache
  * manager) cannot reach them, and they are not recomputable. A staged
  * frame's plan leaf is a `LogicalRDD` whose `rdd` is exactly the
  * persisted checkpoint RDD, for eager and lazy checkpoints alike, and
  * projections and joins keep those leaves — so a frame names its own
  * staged state and no id bookkeeping is needed to free it.
  */
object Stage {

  /** Unpersist every localCheckpoint block each of `dfs` reads. Call it
    * only after every consumer of those blocks has materialized:
    * reading a frame whose block was freed fails with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Freeing a frame twice, or one
    * that reads no checkpoint, is a no-op.
    */
  def free(dfs: Dataset[_]*): Unit = dfs.foreach { df =>
    val persisted = df.sparkSession.sparkContext.getPersistentRDDs
    df.queryExecution.logical
      .collect { case r: LogicalRDD => r.rdd.id }
      .foreach(id => persisted.get(id).foreach(_.unpersist(false)))
  }
}
