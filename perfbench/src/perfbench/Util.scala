package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

object Util {

  /** Run `body`, returning its result and wall time in milliseconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Linear-interpolated percentile (numpy's default), `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Order-independent fingerprint of a row set: (rows, XOR of the
    * per-row xxhash64). The engine side computes it with Spark's
    * `xxhash64`; the model side with the same hash function applied to
    * its own values, so the two never share table code.
    */
  final case class Digest(rows: Long, xor: Long) {
    def ^(rowHash: Long): Digest = Digest(rows + 1, xor ^ rowHash)
    def -(rowHash: Long): Digest = Digest(rows - 1, xor ^ rowHash)
  }
  val EmptyDigest: Digest = Digest(0, 0)

  /** xxhash64 of one row, matching Spark's `xxhash64(c1, c2, ...)` for
    * BIGINT and STRING columns (nulls leave the running hash as is).
    */
  def rowHash(vals: Any*): Long = vals.foldLeft(42L) { (h, v) =>
    v match {
      case null          => h
      case None          => h
      case Some(x)       => rowHash1(x, h)
      case x             => rowHash1(x, h)
    }
  }

  private def rowHash1(v: Any, h: Long): Long = v match {
    case l: Long   => XXH64.hashLong(l, h)
    case i: Int    => XXH64.hashInt(i, h)
    case s: String =>
      val u = UTF8String.fromString(s)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), h)
    case other => throw new IllegalArgumentException(s"unhashable ${other.getClass}")
  }

  def digestOf(df: DataFrame, cols: Seq[String]): Digest = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1))
  }

  def readLines(f: java.io.File): List[String] =
    scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toList)

  /** Total bytes of the regular files under `root`. */
  def dirBytes(spark: SparkSession, root: String): Long = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  /** Bytes the live snapshot `df` takes when written once as plain
    * parquet — the denominator of space amplification.
    */
  def plainParquetBytes(spark: SparkSession, df: DataFrame, scratch: String): Long = {
    df.write.mode("overwrite").parquet(scratch)
    val b = dirBytes(spark, scratch)
    val p = new Path(scratch)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    b
  }

  private val mapper = new ObjectMapper()

  /** File actions of one committed Delta version, read from its
    * `_delta_log/<v>.json`.
    */
  final case class CommitStats(filesAdded: Long, filesRemoved: Long, bytesWritten: Long) {
    def counters: Seq[(String, Double)] = Seq("commits" -> 1.0,
      "files_added" -> filesAdded.toDouble, "files_removed" -> filesRemoved.toDouble,
      "bytes_written" -> bytesWritten.toDouble)
  }

  def commitStats(spark: SparkSession, root: String, version: Long): CommitStats = {
    val p = new Path(new Path(root, "_delta_log"), f"$version%020d.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    var added, removed, bytes = 0L
    text.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
      val n = mapper.readTree(line)
      if (n.has("add")) { added += 1; bytes += n.get("add").path("size").asLong(0) }
      if (n.has("cdc")) { added += 1; bytes += n.get("cdc").path("size").asLong(0) }
      if (n.has("remove")) removed += 1
    }
    CommitStats(added, removed, bytes)
  }

  /** Highest heap use right after a garbage collection, from the JVM's
    * own collections (GC notifications of the garbage-collector
    * MXBeans, summed over the heap pools): the live set the engine
    * retains, not transient garbage. No collection is forced.
    */
  object HeapPeak {
    @volatile private var peak = 0L
    def install(): Unit = {
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
      val listener = new NotificationListener {
        def handleNotification(n: Notification, handback: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak = math.max(peak, used)
          }
      }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ =>
      }
    }
    def mb: Double = peak / (1024.0 * 1024.0)
  }
}
