package graft.vector

import graft.etl.RunEtl.StageStat
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end vector-index lifecycle orchestrator — the similarity-
  * search sibling of [[graft.etl.RunEtl]] (warehouse) and
  * [[graft.text.RunCurate]] (corpus): build a persisted ANN index
  * layout, serve probes from it with PHYSICAL partition pruning, and
  * grow it incrementally.
  *
  * Layout: one parquet table partitioned by the sign-LSH `bucket`
  * (the same bits/stride config as the oracle-verified
  * `q_ann_lsh`/`q_ann_multiprobe`), carrying the staged double
  * vector and its precomputed norm — norms are index metadata, paid
  * once at build, never at query time.
  *
  * The scale story is the read path: a multi-probe query touches the
  * probe's bucket plus its Hamming-1 neighbors — `bits`+1 of the
  * 2^bits partitions (7/64 here) — as Hive-partition directory
  * pruning, so query cost is a fraction of corpus size BEFORE any
  * row is read. `append` writes a delta batch into its bucket
  * directories only (insert-only, the [[TopKMaintain]] contract).
  */
object RunIndex {

  import VectorQueries.{LshBits, LshStride, TopK}

  private def staged(vecs: DataFrame): DataFrame =
    vecs.withColumn("bucket",
      VectorFns.signBucket(col("v"), LshBits, LshStride))

  /** Marker recording what a cached index layout was built from —
    * source dir + embeddings file length — so a driver-regenerated
    * corpus (same path, new bytes) forces a rebuild instead of serving
    * stale buckets (the Upscale marker contract applied here).
    */
  private def marker(outDir: String) = java.nio.file.Paths.get(outDir, "_built_from")

  /** Bumped whenever the persisted layout's schema or builder code
    * changes shape — the marker must invalidate on CODE changes, not
    * only corpus changes (round-12 advice: a config-blind marker
    * silently serves a stale /tmp layout across sessions).
    */
  private val LayoutVersion = 2

  private def markerContent(sfDir: String): String = {
    val f = new java.io.File(s"$sfDir/embeddings.parquet")
    s"v$LayoutVersion:bits=$LshBits:stride=$LshStride:$sfDir:${f.length()}"
  }

  /** Idempotently materialize the LSH layout for `sfDir` under a
    * deterministic cache dir and return that dir — the seam that lets
    * an oracle-gated query (`q_index_serve`) exercise the PERSISTED
    * serve path: build cost is paid once per corpus, every subsequent
    * call is marker-check only.
    */
  def ensure(spark: SparkSession, sfDir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val outDir =
      s"${System.getProperty("java.io.tmpdir")}/graft_runindex_$digest"
    val m = marker(outDir)
    val want = markerContent(sfDir)
    val have = if (java.nio.file.Files.exists(m))
      java.nio.file.Files.readString(m) else ""
    if (have != want) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
      build(spark, sfDir, outDir)
      java.nio.file.Files.createDirectories(m.getParent)
      java.nio.file.Files.writeString(m, want)
    }
    outDir
  }

  /** Build the bucket-partitioned index from the embeddings table. */
  def build(spark: SparkSession, sfDir: String, outDir: String): StageStat = {
    val t0 = System.nanoTime()
    val idx = staged(VectorQueries.withVecs(spark, sfDir))
      .select("vec_id", "label", "v", "nrm", "bucket")
    graft.etl.Warehouse.writePartitioned(idx, s"$outDir/vectors", Seq("bucket"))
    val rows = spark.read.parquet(s"$outDir/vectors").count()
    StageStat("build", rows, (System.nanoTime() - t0) / 1e9)
  }

  /** Append an insert-only delta batch (vec_id, label, v, nrm) into
    * its bucket directories.
    */
  def append(spark: SparkSession, delta: DataFrame, outDir: String): Unit =
    staged(delta).select("vec_id", "label", "v", "nrm", "bucket")
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$outDir/vectors")

  /** Build the IVF layout beside the LSH one: the corpus assigned to
    * its nearest-centroid cell (the oracle-verified `q_ivf_assign`
    * kernel) and written partitioned BY CELL — the learned-quantizer
    * twin of [[build]]'s hash layout. `q_ivf_search`'s scale claim
    * ("the probe's cell only") becomes physical here: a cell read is
    * one partition directory of ~N/k vectors.
    */
  def buildIvf(spark: SparkSession, sfDir: String, outDir: String): StageStat = {
    val t0 = System.nanoTime()
    val assigned = VectorQueries.assignedCells(VectorQueries.withVecs(spark, sfDir))
      .select("vec_id", "label", "v", "nrm", "cell")
    graft.etl.Warehouse.writePartitioned(assigned, s"$outDir/cells", Seq("cell"))
    val rows = spark.read.parquet(s"$outDir/cells").count()
    StageStat("build_ivf", rows, (System.nanoTime() - t0) / 1e9)
  }

  /** Top-k from the persisted IVF layout: the probe's cell is a 1-row
    * driver lookup, and the literal cell filter prunes to ONE
    * partition directory before any row IO. Result ≡ `q_ivf_search`
    * (RunIndexSpec pins it).
    */
  def serveIvf(spark: SparkSession, outDir: String, probeVecId: Long,
               k: Int = TopK): DataFrame = {
    val idx = spark.read.parquet(s"$outDir/cells")
      .withColumn("cell", col("cell").cast("int"))
    val p = idx.filter(col("vec_id") === probeVecId)
      .select(col("v"), col("nrm"), col("cell")).collect()(0)
    val (pv, pnrm, pcell) = (p.getSeq[Double](0), p.getDouble(1), p.getInt(2))
    val probe = spark.range(1).select(
      typedLit(pv).as("pv"), lit(pnrm).as("pnrm"))
    idx.filter(col("cell") === pcell && col("vec_id") =!= probeVecId)
      .crossJoin(broadcast(probe))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cell"),
        graft.text.TextFns.round4(col("sim")).as("sim"))
  }

  /** Multi-probe top-k from the PERSISTED index: the probe row is a
    * 1-row driver lookup (like RunEtl's connectivity probe — not a
    * per-row collect), its bucket expands to the Hamming-1 key LIST,
    * and the literal `isin` filter prunes partition DIRECTORIES
    * before any row is read. Result ≡ `q_ann_multiprobe` on the same
    * data (RunIndexSpec pins it).
    */
  def serve(spark: SparkSession, outDir: String, probeVecId: Long,
            k: Int = TopK): DataFrame = {
    // Hive partition-value inference types the bucket directory name
    // as INT; the in-plan bucket column is LONG — normalize on read
    val idx = spark.read.parquet(s"$outDir/vectors")
      .withColumn("bucket", col("bucket").cast("long"))
    val p = idx.filter(col("vec_id") === probeVecId)
      .select(col("v"), col("nrm"), col("bucket")).collect()(0)
    val (pv, pnrm, pbucket) =
      (p.getSeq[Double](0), p.getDouble(1), p.getLong(2))
    val keys = (0L +: (0 until LshBits).map(j => 1L << j)).map(_ ^ pbucket)
    val probe = spark.range(1).select(
      typedLit(pv).as("pv"), lit(pnrm).as("pnrm"))
    idx.filter(col("bucket").isin(keys: _*) && col("vec_id") =!= probeVecId)
      .crossJoin(broadcast(probe))
      .withColumn("sim",
        VectorFns.cosineStaged(col("v"), col("pv"), col("nrm"), col("pnrm")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("bucket"),
        graft.text.TextFns.round4(col("sim")).as("sim"))
  }
}
