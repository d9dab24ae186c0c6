package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.sources.{DeltaRead, DeltaWrite}

/** dml_mix: one closed-loop client runs a cycle of ops at fixed shares,
  * on seeded rows, against a Delta table with change data feed,
  * deletion vectors and row tracking on. Writes: append, merge upsert,
  * update, DV delete. Reads: latest, time travel (2 versions back, and
  * to the last checkpoint), and a change-feed read over the last (up
  * to) 8 commits. The writer checkpoints every 5 commits; a DV purge plus
  * compaction runs every 4 writes.
  *
  * Every unit replays the same cycle and rows on a freshly built table
  * (the build is not timed), so every unit measures the same ops on the
  * same table states, however many units the window holds.
  *
  * Model: a keyed map replayed op by op in plain Scala, with the digest
  * of every version and the change-row counts of every commit.
  */
final class DmlMix(ctx: Ctx) extends Workload(ctx) {
  import DmlMix._
  import Gen._

  val name = "dml_mix"
  val signatureUnits = CycleOps

  private val ops = dmlCycle
  private var rand = rng(ctx.seed, 20)

  private var table: String = _
  private val model = mutable.HashMap[Long, Order]()
  private val keys = mutable.ArrayBuffer[Long]()
  private val keyIdx = mutable.HashMap[Long, Int]()
  private var digest = Util.EmptyDigest
  private val digests = mutable.HashMap[Long, Util.Digest]()
  private val changes = mutable.HashMap[Long, Map[String, Long]]()
  private var version = -1L
  private var lastCheckpoint = -1L
  private var nextKey = 0L
  private var writes = 0
  private var travels = 0
  private var rowsChanged, bytesWritten = 0L

  private def put(o: Order): Unit = {
    model.put(o.o_orderkey, o) match {
      case Some(old) => digest = digest - old.hash
      case None => keyIdx(o.o_orderkey) = keys.size; keys += o.o_orderkey
    }
    digest = digest ^ o.hash
  }

  private def remove(k: Long): Unit = {
    digest = digest - model.remove(k).get.hash
    val i = keyIdx.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (last != k) { keys(i) = last; keyIdx(last) = i }
  }

  /** Record committed version `v` (which must be `expected`) with the
    * model's digest and change rows for it.
    */
  private def committed(v: Long, expected: Long, chg: Map[String, Long]): Unit = {
    check(v == expected, s"commit landed at version $v, expected $expected")
    version = v
    digests(v) = digest
    changes(v) = chg
  }

  def setup(): Unit = ()

  /** A fresh table for unit `i`, from the seed alone: the base rows
    * (version 0), the table properties (1) and one append (2), so that
    * time-travel and change-feed reads have history from the first op.
    * The previous unit's table is removed.
    */
  private def freshTable(i: Int): Unit = {
    if (table != null) {
      val p = new Path(table)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    model.clear(); keys.clear(); keyIdx.clear(); digests.clear(); changes.clear()
    digest = Util.EmptyDigest
    rand = rng(ctx.seed, 20)
    table = ctx.path(s"orders-$i")
    val base = (1L to BaseRows.toLong).map(k => order(rand, k, Customers))
    DeltaWrite.append(spark, spark.createDataFrame(base).repartition(4), table)
    DeltaWrite.setProperties(spark, table, Map(
      "delta.enableChangeDataFeed" -> "true",
      "delta.enableRowTracking" -> "true",
      // the benchmark checkpoints itself, so the checkpoint is a call
      // of its own, timed and traced apart
      "delta.checkpointInterval" -> "1000000000"))
    base.foreach(put)
    digests(0L) = digest
    digests(1L) = digest
    val hist = (0 until AppendRows).map(j => order(rand, BaseRows + 1L + j, Customers))
    DeltaWrite.append(spark, spark.createDataFrame(hist), table)
    hist.foreach(put)
    digests(2L) = digest
    changes(2L) = Map("insert" -> hist.size.toLong)
    version = 2L
    lastCheckpoint = -1L
    nextKey = BaseRows + 1L + AppendRows
    writes = 0
    travels = 0
  }

  val warmUnits = 2

  override def resetMeasurements(): Unit = {
    super.resetMeasurements()
    rowsChanged = 0; bytesWritten = 0
  }

  private def randomLive(): Order = model(keys(rand.nextInt(keys.size)))

  /** Units are whole cycles, so the mean over them is the typical
    * write (or read) latency of the cycle's op mix.
    */
  override def typical(xs: Seq[Sample]): Double = Util.mean(xs.map(_.ms))

  /** The writer's checkpoint every 5 commits, as a call of its own. */
  private def checkpointIfDue(i: Int, v: Long): Unit =
    if (v % CheckpointEvery == 0) {
      ctx.tracer.span("sources.checkpoint", i)(DeltaWrite.checkpoint(spark, table))
      lastCheckpoint = v
    }

  /** Count version `v`'s files and bytes, from its log entry. */
  private def recordCommit(i: Int, op: String, v: Long): Unit = {
    val c = Util.commitStats(spark, table, v)
    bytesWritten += c.bytesWritten
    ctx.tracer.annotate(s"sources.$op", i, c.counters)
  }

  private def write(i: Int, op: String)(commit: => Long): Long = {
    throughputUnits += 1
    val v = sample(primary, kind = op) {
      val v = ctx.tracer.span(s"sources.$op", i)(commit)
      checkpointIfDue(i, v)
      v
    }
    recordCommit(i, op, v)
    writes += 1
    v
  }

  private def read[T](i: Int, op: String, at: Long)(body: => T): T = {
    val r = sample(secondary, kind = op)(ctx.tracer.span(s"sources.$op", i)(body))
    throughputUnits += 1
    val tail = if (lastCheckpoint < 0 || lastCheckpoint > at) at + 1 else at - lastCheckpoint
    ctx.tracer.annotate(s"sources.$op", i, Seq("log_tail_len" -> tail.toDouble))
    r
  }

  /** One unit: the whole cycle, on a fresh table. */
  def step(i: Int): Unit = {
    freshTable(i)
    ops.indices.foreach { j =>
      val k = i * CycleOps + j
      op(s"op $k (${ops(j)})")(runOp(k, ops(j)))
    }
  }

  private def runOp(i: Int, op: String): Unit = {
    op match {
      case "append" =>
        val rows = (0 until AppendRows).map(j => order(rand, nextKey + j, Customers))
        nextKey += AppendRows
        val df = spark.createDataFrame(rows)
        val v = write(i, op)(DeltaWrite.append(spark, df, table))
        rows.foreach(put)
        rowsChanged += rows.size
        committed(v, version + 1, Map("insert" -> rows.size.toLong))
      case "merge" =>
        val upd = rand.shuffle(keys.indices.toVector).take(MergeKeys / 2).map(j => model(keys(j)))
          .map(o => order(rand, o.o_orderkey, Customers).copy(o_custkey = o.o_custkey))
        val ins = (0 until MergeKeys / 2).map(j => order(rand, nextKey + j, Customers))
        nextKey += MergeKeys / 2
        val df = spark.createDataFrame(upd ++ ins)
        val v = write(i, op)(DeltaWrite.merge(spark, df, table, Seq("o_orderkey")))
        (upd ++ ins).foreach(put)
        rowsChanged += upd.size + ins.size
        committed(v, version + 1, Map("update_preimage" -> upd.size.toLong,
          "update_postimage" -> upd.size.toLong, "insert" -> ins.size.toLong))
      case "update" =>
        val c = randomLive().o_custkey
        val v = write(i, op)(DeltaWrite.update(spark, table, s"o_custkey = $c",
          Map("o_price_cents" -> "o_price_cents + 7", "o_status" -> "'U'")))
        val hit = model.values.filter(_.o_custkey == c).toSeq
        hit.foreach(o => put(o.copy(o_price_cents = o.o_price_cents + 7, o_status = "U")))
        rowsChanged += hit.size
        committed(v, version + 1, Map("update_preimage" -> hit.size.toLong,
          "update_postimage" -> hit.size.toLong))
      case "delete" =>
        val c = randomLive().o_custkey
        val v = write(i, op)(DeltaWrite.delete(spark, table, s"o_custkey = $c"))
        val hit = model.values.filter(_.o_custkey == c).map(_.o_orderkey).toSeq
        hit.foreach(remove)
        rowsChanged += hit.size
        committed(v, version + 1, Map("delete" -> hit.size.toLong))
      case "read_latest" =>
        val got = read(i, op, version)(Util.digestOf(DeltaRead.read(spark, table), Cols))
        check(got == digests(version), s"latest read $got != model ${digests(version)}")
      case "read_tt" =>
        // the first goes 2 versions back (a snapshot replayed from JSON
        // commits), the second to the last checkpoint (read from its
        // parquet): fixed, because a seeded or version-counted target
        // lands on the checkpoint in some seeds only, and that read
        // runs 9 jobs instead of 2
        val v = if (travels == 0 || lastCheckpoint < 0) version - 2 else lastCheckpoint
        travels += 1
        val got = read(i, op, v)(Util.digestOf(DeltaRead.read(spark, table, Some(v)), Cols))
        check(got == digests(v), s"time-travel read of v$v $got != model ${digests(v)}")
      case "read_changes" =>
        val from = math.max(2L, version - 7)
        val got = read(i, op, version)(DeltaRead.readChanges(spark, table, from, Some(version))
          .groupBy(col("_change_type")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
        val want = (from to version).flatMap(changes.getOrElse(_, Map.empty).toSeq)
          .groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > 0)
        check(got == want, s"change feed v$from..v$version $got != model $want")
    }
    if (!op.startsWith("read") && writes % MaintenanceEvery == 0) maintain(i)
  }

  /** DV purge then compaction: data-neutral commits (or none when there
    * is nothing to fold), timed as ops of their own.
    */
  private def maintain(i: Int): Unit = {
    Seq("purge" -> (() => DeltaWrite.purgeDvs(spark, table)),
        "compact" -> (() => DeltaWrite.compact(spark, table))).foreach { case (op, call) =>
      val (v, ms) = Util.timed {
        val v = ctx.tracer.span(s"sources.$op", i)(call())
        if (v != version) checkpointIfDue(i, v)
        v
      }
      busyMs += ms
      throughputUnits += 1
      if (v != version) {
        recordCommit(i, op, v)
        committed(v, version + 1, Map.empty)
      }
    }
  }

  val spaceUnit = 0
  protected def spaceOf() = (table, DeltaRead.read(spark, table), model.size.toLong)

  def finish(): Unit = {
    val got = Util.digestOf(DeltaRead.read(spark, table), Cols)
    check(got == digest, s"final table $got differs from the model replay $digest")
    layerValues("sources.write_amp") = bytesWritten / (rowsChanged * plainBytesPerRow)
  }
}

object DmlMix {
  val BaseRows = 10000
  val Customers = 500  // ~20 rows per update or delete
  val AppendRows = 300
  val MergeKeys = 100  // half updates of live keys, half inserts
  val CheckpointEvery = 5
  val MaintenanceEvery = 4
  val CycleOps = Gen.dmlCycle.size
  val Cols = Seq("o_orderkey", "o_custkey", "o_status", "o_price_cents", "o_comment")
}
