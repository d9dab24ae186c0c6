package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every workload shares: the session, the tracer, its work
  * directory and seed, and where the benchmark's own files live.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
                val benchDir: String, val seed: Long) {
  def path(rel: String): String = new java.io.File(work, rel).getAbsolutePath
  def resource(rel: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(benchDir, rel)), "UTF-8")
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One timed sample of operation `kind`. */
final case class Sample(ms: Double, kind: String = "")

/** A benchmark workload. `setup` builds the starting state from the
  * seed, `step` runs one unit of work and checks its output, `finish`
  * checks the final state. Each operation runs under `op`, which counts
  * attempts and failures.
  *
  * Each workload fills two latency samples: `primary` is its main unit
  * of work, `secondary` the call a user waits on next (see README.md
  * for the mapping per workload).
  */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** How many operation ids (from the first) the count signature covers. */
  def signatureUnits: Int
  def setup(): Unit
  /** Units run untimed after set-up, so the window starts with the
    * workload's own paths compiled at size. The window's units follow
    * them, with the next unit indices.
    */
  def warmUnits: Int
  def step(i: Int): Unit
  def finish(): Unit

  /** The window unit (counted from 0) after which space amplification
    * is measured, once, so that it does not grow with the window.
    */
  def spaceUnit: Int
  /** Table root, its live snapshot and the snapshot's row count. */
  protected def spaceOf(): (String, DataFrame, Long)

  def spark: SparkSession = ctx.spark

  val primary = mutable.ArrayBuffer[Sample]()
  val secondary = mutable.ArrayBuffer[Sample]()
  /** Work completed (rows, ops, docs) and the timed milliseconds it
    * took, for throughput.
    */
  var throughputUnits = 0.0
  var busyMs = 0.0
  var spaceAmp = 0.0
  /** Bytes per live row when written once as plain parquet. */
  var plainBytesPerRow = 0.0
  /** Per-layer values the workload measures itself. */
  val layerValues = mutable.LinkedHashMap[String, Double]()

  /** Bytes under the table root ÷ bytes of its live snapshot written
    * once as plain parquet.
    */
  def measureSpace(): Unit = {
    val (root, live, rows) = spaceOf()
    val plain = Util.plainParquetBytes(spark, live, ctx.path("plain"))
    spaceAmp = Util.dirBytes(spark, root).toDouble / plain
    plainBytesPerRow = plain.toDouble / rows
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)

  /** Time `body` as a sample of `into`; `busy` adds the time to the
    * throughput denominator.
    */
  def sample[T](into: mutable.ArrayBuffer[Sample], busy: Boolean = true,
                kind: String = "")(body: => T): T = {
    val (r, ms) = Util.timed(body)
    into += Sample(ms, kind)
    if (busy) busyMs += ms
    r
  }

  /** Forget what the warm-up units measured. */
  def resetMeasurements(): Unit = {
    primary.clear(); secondary.clear(); layerValues.clear(); failures.clear()
    throughputUnits = 0; busyMs = 0; attempted = 0
  }

  /** The typical latency of a set of samples: the median by default. */
  def typical(xs: Seq[Sample]): Double = Util.median(xs.map(_.ms))

  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0

  /** One attempted operation or batch: a throw or a failed output check
    * is counted as failed and the run goes on.
    */
  def op(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch { case e: Exception =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
      e.printStackTrace()
    }
  }
}
