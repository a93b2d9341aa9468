package graft.util

/** RAM-backed scratch directories for EPHEMERAL per-invocation state:
  * streaming checkpoint/sink dirs, lakehouse round-trip fixtures,
  * interchange-format temp outputs. These live for one query
  * execution and are never read across invocations, so durability is
  * irrelevant — but the default `java.io.tmpdir` (/tmp) is ext4 in
  * the bench sandbox, and a Structured Streaming micro-batch commits
  * hundreds of tiny checkpoint files + renames per run, which is pure
  * disk-latency overhead (guide §1.2: fix the per-task work; §6 small
  * files hurt twice). tmpfs (/dev/shm) makes those file ops memory
  * ops.
  *
  * Each directory lives until the end of its query
  * ([[graft.QueryProfile.endQuery]] deletes it); callers that never
  * end their queries through it keep theirs.
  *
  * Scale-parameterized per the bench rules: SPARK_GRAFT_SCRATCH
  * overrides the base explicitly; otherwise /dev/shm is used when
  * writable, else java.io.tmpdir — on a production cluster, streaming
  * checkpoints go to durable storage (a real checkpointLocation), and
  * this helper simply isn't on that path (it only backs the gated
  * demo runs' throwaway dirs).
  */
object Scratch {
  private[graft] lazy val base: java.nio.file.Path = {
    val p = sys.env.get("SPARK_GRAFT_SCRATCH")
      .orElse(Some("/dev/shm").filter(d => {
        val f = new java.io.File(d)
        f.isDirectory && f.canWrite
      }))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    java.nio.file.Paths.get(p)
  }

  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  /** A fresh unique directory under the scratch base, kept until
    * [[deleteAll]].
    */
  def dir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(base, prefix)
    made.add(d)
    d
  }

  /** Deletes every directory [[dir]] has made, with its contents.
    * [[graft.QueryProfile.endQuery]] calls it after the caller has
    * consumed the query's result: a returned frame reads its sink
    * lazily, so the directory must outlive the query body. Other
    * entries of the base (the [[graft.stream.StageCache]]) stay.
    */
  def deleteAll(): Unit =
    Iterator.continually(made.poll()).takeWhile(_ != null)
      .foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
}
