package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Many-writer stress of the manifest CAS: N threads x M commits each,
  * mixing appends with deletes and a restore — the protocol must
  * linearize every commit (contiguous versions, no lost update, every
  * surviving row accounted for) without any coordination beyond the
  * pointer CAS. Heavier than the two-writer races elsewhere: this is
  * the "8 pipelines land on one table" shape a shared lakehouse sees.
  */
class CommitStressSuite extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("8 writers x 5 appends: all 40 land, versions contiguous, no lost rows") {
    val root = tmp("stress_appends")
    val writers = 8; val per = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val latch = new java.util.concurrent.CountDownLatch(writers)
    (0 until writers).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try {
            (0 until per).foreach { i =>
              val id = (w * per + i).toLong
              // 8-way pointer contention loses the CAS often; every
              // loss must retry and land within the commit loop's cap
              VersionedTable.commitDelta(spark, root, "parquet",
                Seq((id, s"w${w}_c$i")).toDF("id", "v"),
                compactAfter = Int.MaxValue)
            }
          } catch { case t: Throwable => failures.add(t) }
          finally latch.countDown()
      })
    }
    latch.await()
    pool.shutdown()
    assert(failures.isEmpty, s"writer failed: ${Option(failures.peek()).map(_.getMessage)}")
    // every commit linearized: 40 contiguous versions, each append-classified
    val h = VersionedTable.history(spark, root)
    assert(h.map(_.version) == (1L to (writers * per).toLong),
      s"versions not contiguous: ${h.map(_.version)}")
    // no lost update: all 40 distinct rows present exactly once
    val rows = VersionedTable.read(spark, root).select("id").as[Long].collect().sorted.toSeq
    assert(rows == (0L until (writers * per).toLong),
      s"row set diverged: ${rows.length} rows")
    // the whole history is one append chain — streamable end to end
    val appended = VersionedTable.appendedFilesBetween(spark, root, 1L, h.last.version)
    assert(appended.isDefined && appended.get.length == writers * per - 1,
      "append chain must classify every span")
  }

  test("appends racing deletes and a restore: every surviving row is explainable") {
    val root = tmp("stress_mixed")
    // base: ids 0-99
    val v1 = VersionedTable.commitDelta(spark, root, "parquet",
      spark.range(100).select(col("id"), lit("base").as("v")),
      compactAfter = Int.MaxValue)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val latch = new java.util.concurrent.CountDownLatch(3)
    def task(f: => Unit): Unit = pool.submit(new Runnable {
      override def run(): Unit =
        try f catch { case t: Throwable => failures.add(t) } finally latch.countDown()
    })
    task((0 until 5).foreach { i =>
      VersionedTable.commitDelta(spark, root, "parquet",
        Seq((1000L + i, "app")).toDF("id", "v"),
        compactAfter = Int.MaxValue)
    })
    task(VersionedTable.commitDelete(spark, root, "id < 10"))
    task(VersionedTable.commitDelete(spark, root, "id >= 90 AND id < 100"))
    latch.await()
    pool.shutdown()
    assert(failures.isEmpty, s"writer failed: ${Option(failures.peek()).map(_.getMessage)}")
    val ids = VersionedTable.read(spark, root).select("id").as[Long].collect().toSet
    // both deletes applied regardless of interleaving; all appends present
    assert((10L until 90L).forall(ids), "a surviving base row was lost")
    assert(!(0L until 10L).exists(ids) && !(90L until 100L).exists(ids),
      "a deleted row survived")
    assert((0 until 5).forall(i => ids(1000L + i)), "an appended row was lost")
    // restore to v1 after the storm: exact base back, zero data I/O
    VersionedTable.restore(spark, root, v1)
    val back = VersionedTable.read(spark, root).select("id").as[Long].collect().sorted.toSeq
    assert(back == (0L until 100L), "restore must resurrect the exact base")
  }
}
