package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path

import graft.sources.DeltaRead

/** etl_merge: a YAML silver pipeline takes a seeded lineitem change
  * batch (updates, new keys, dirty rows) through rename, cast,
  * try_cast, a `{col}` expression, the hash_key control column and
  * drop/warn validation, and a Delta `mode: merge` sink upserts it into
  * the silver table built untimed in `setup`.
  *
  * Model: a keyed map of the silver rows the transform and rules should
  * produce, upserted per batch in plain Scala.
  */
final class EtlMerge(ctx: Ctx) extends Workload(ctx) {
  import EtlMerge._
  import Gen._

  val name = "etl_merge"
  val signatureUnits = 2

  private val yaml = ctx.resource("pipelines/lineitem_silver.yml")
  private val rand = rng(ctx.seed, 10)

  private var silver: String = _
  private val model = mutable.HashMap[(Long, Long), SilverLine]()
  private var digest = Util.EmptyDigest
  private val liveKeys = mutable.ArrayBuffer[(Long, Long)]()
  private var nextOrder = 0L
  private var version = -1L
  private var rowsIn, rowsKept, bytesWritten = 0L

  private def writeRaw(rows: Seq[RawLine], path: String): Unit =
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(path)


  private def upsertModel(rows: Seq[RawLine]): Unit = rows.flatMap(silverOf).foreach { s =>
    val k = (s.orderkey, s.linenumber)
    model.put(k, s) match {
      case Some(old) => digest = digest - old.hash
      case None      => liveKeys += k
    }
    digest = digest ^ s.hash
  }

  def setup(): Unit = {
    silver = ctx.path("silver")
    val base = etlBase(ctx.seed, BaseOrders)
    writeRaw(base, ctx.path("base"))
    PipelineRun(ctx, yaml, Map("batch_path" -> ctx.path("base"), "silver_path" -> silver), -1)
    upsertModel(base)
    nextOrder = BaseOrders + 1L
    version = 0L
  }

  val warmUnits = 2

  override def resetMeasurements(): Unit = {
    super.resetMeasurements()
    rowsIn = 0; rowsKept = 0; bytesWritten = 0
  }

  def step(i: Int): Unit = op(s"batch $i") {
    val rows = etlBatch(rand, liveKeys.toIndexedSeq, nextOrder, BatchRows)
    nextOrder += BatchRows
    val batchPath = ctx.path(s"batch-$i")
    writeRaw(rows, batchPath)
    val sinkMs = sample(primary) {
      PipelineRun(ctx, yaml, Map("batch_path" -> batchPath, "silver_path" -> silver), i)
    }
    secondary += Sample(sinkMs)
    upsertModel(rows)
    rowsIn += rows.size
    rowsKept += rows.count(silverOf(_).isDefined)
    throughputUnits += rows.size
    version += 1
    val c = Util.commitStats(spark, silver, version)
    bytesWritten += c.bytesWritten
    ctx.tracer.annotate("pipeline.sink", i, c.counters)
    val next = new Path(new Path(silver, "_delta_log"), f"${version + 1}%020d.json")
    check(!next.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(next),
      s"batch $i committed more than one version")
  }

  val spaceUnit = 1
  protected def spaceOf() = (silver, DeltaRead.read(spark, silver), model.size.toLong)

  def finish(): Unit = {
    val got = Util.digestOf(DeltaRead.read(spark, silver), SilverCols)
    check(got == digest, s"silver table $got differs from the model upsert $digest")
    layerValues("quality.kept_ratio") = rowsKept.toDouble / rowsIn
    layerValues("sources.write_amp") = bytesWritten / (rowsKept * plainBytesPerRow)
  }
}

object EtlMerge {
  val BaseOrders = 15000 // x 4 line numbers = 60k silver rows
  val BatchRows = 6000   // 10% of the base per batch
  val SilverCols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_price_cents",
    "l_returnflag", "l_comment")
}
