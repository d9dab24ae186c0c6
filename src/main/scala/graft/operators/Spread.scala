package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive input spreading for compute-dense operators
  * (optimization guide §2.5, "input skew: one huge unsplittable file").
  *
  * The text/dedup kernels (MinHash signatures, shingle sets, window
  * grams, BPE/LM tokenization, language ID) fuse with the scan — the
  * right shape on a parallel input, but on an input whose scan splits
  * far fewer ways than the session's parallelism (ONE parquet file with
  * one row group — exactly the bench corpus; a gzip crawl shard at
  * warehouse scale) the whole kernel runs on a handful of cores while
  * the rest idle. Measured at sf0.1: q50's signature+banding stage was
  * a single 4.2 s task on 32 cores.
  *
  * `Spread(df)` inserts ONE round-robin repartition to the session's
  * default parallelism when — and only when — the input's estimated
  * scan-split count is far below it (< half). The estimate is
  * Σ ceil(fileSize / maxPartitionBytes) over the frame's input files,
  * the same arithmetic Spark's own FilePartition planner uses, probed
  * from the already-listed file index (no job, no extra listing). On a
  * real multi-file / splittable input the condition is false and this
  * is the identity — a 100 TB corpus is never blanket-reshuffled; when
  * the condition IS true at scale (a few unsplittable files on a big
  * cluster) the repartition is precisely the guide's prescription.
  *
  * Row-level semantics are unchanged: every consumer below is an
  * aggregation, join, or explicitly ordered window, so results are
  * partitioning-invariant (the whole suite re-verifies against the
  * DuckDB oracle). Round-robin repartition sorts locally before
  * assigning rows (sortBeforeRepartition, Spark default) so retries
  * are deterministic.
  */
private[graft] object Spread {
  /** Same-binary A/B kill switch (the r17 crc-switch discipline):
    * `SPARK_GRAFT_SPREAD=off` turns every Spread site into the
    * identity so a bench pair on one binary isolates the machinery.
    */
  private val disabled: Boolean =
    sys.env.get("SPARK_GRAFT_SPREAD").exists(_.equalsIgnoreCase("off"))

  /** Byte floor for MEDIUM-density kernels (token counts, word-gram
    * explodes, chunking, fingerprints): below this input size the
    * serial stage is cheaper than the repartition's extra stage —
    * measured at sf0.1 (0.6 MB documents): q28 0.52→0.97 s,
    * q113 0.53→1.07 s with an unconditional spread, while at sf1
    * (≥ 6 MB) the serial kernel dominates and spreading wins. The
    * SUPER-DENSE kernels (MinHash, shingle sets, SimHash, window
    * grams, BPE merge chains, langid) use no floor — they were
    * multi-second serial tasks even on the 0.6 MB input.
    */
  val MediumFloor: Long = 4L << 20

  def apply(df: DataFrame, minBytes: Long = 0L): DataFrame = {
    if (disabled) return df
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val files = try df.inputFiles catch { case scala.util.control.NonFatal(_) => Array.empty[String] }
    // no file-backed input (in-memory relation, checkpointed RDD):
    // partitioning already reflects an upstream decision — leave it
    if (files.isEmpty || files.length * 2 >= target) return df
    val maxSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val hconf = spark.sparkContext.hadoopConfiguration
    var totalBytes = 0L
    val estSplits =
      try files.foldLeft(0L) { (acc, f) =>
        if (acc >= target) acc // enough parallelism proven — stop stat-ing
        else {
          val p = new org.apache.hadoop.fs.Path(f)
          val len = p.getFileSystem(hconf).getFileStatus(p).getLen
          totalBytes += len
          acc + math.max(1L, (len + maxSplit - 1) / maxSplit)
        }
      } catch { case scala.util.control.NonFatal(_) => target.toLong }
    if (estSplits * 2 < target &&
        (totalBytes >= minBytes ||
          (minBytes > 0L && uncompressedBytes(df, files) >= minBytes)))
      df.repartition(target)
    else df
  }

  /** Uncompressed input size from the parquet footers' row-group
    * totalByteSize (r19): the MEDIUM floor gates on how much KERNEL
    * WORK the scan feeds, and text compresses 5–20× — sf1's 50k-doc
    * corpus is 0.9 MB on disk but 18 MB of rows, and the
    * compressed-byte floor left its kernels serial (measured:
    * charEntropy 4.7–5.2 s serial vs 1.6–1.8 s spread at sf1).
    * Footers are read DRIVER-SIDE only on the slow path — a handful of
    * files (the estSplits gate already proved file count ≪ cores)
    * whose compressed size is under the floor, so the probe is a few
    * ms and only ever runs where the input is small. Non-parquet
    * files contribute their on-disk length; a file whose footer or
    * status cannot be read contributes 0.
    */
  private def uncompressedBytes(df: DataFrame, files: Array[String]): Long = {
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    files.foldLeft(0L) { (acc, f) =>
      acc + (try {
        if (f.endsWith(".parquet")) {
          import scala.jdk.CollectionConverters._
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f), hconf))
          try r.getFooter.getBlocks.asScala.map(_.getTotalByteSize).sum
          finally r.close()
        } else {
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(hconf).getFileStatus(p).getLen
        }
      } catch { case scala.util.control.NonFatal(_) => 0L })
    }
  }

  /** Medium-density tier: spread only past [[MediumFloor]] input bytes. */
  def medium(df: DataFrame): DataFrame = apply(df, MediumFloor)
}
