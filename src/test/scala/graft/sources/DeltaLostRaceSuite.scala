package graft.sources

import graft.SparkSpec

/** Lost commit races, one per Delta operation: a competing commit lands
  * through [[DeltaTxn.beforeCas]] just before the operation's first CAS,
  * so the first attempt loses and the commit loop retries against the
  * winner's snapshot. The raced table must equal a serial replay (the
  * competing commit, then the operation), and no staged file may be
  * left behind that the log does not reference. Compaction and DV
  * purge must instead abort when the winner soft-deleted rows in a file
  * they folded.
  */
class DeltaLostRaceSuite extends SparkSpec {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_race").toString + "/t"

  /** Two files of ten rows, change data feed on — so DELETE, UPDATE,
    * MERGE and RESTORE stage `_change_data` files as well.
    */
  private def base(root: String): Unit = {
    DeltaWrite.append(spark, (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(2, $"id"), root)
    DeltaWrite.setProperties(spark, root, Map("delta.enableChangeDataFeed" -> "true"))
  }

  /** Run `op` on `root` with `competitor` landed just before its first
    * CAS attempt.
    */
  private def racing[A](root: String)(competitor: => Unit)(op: => A): A = {
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    DeltaTxn.beforeCas = (table, _) =>
      if (table.stripSuffix("/").endsWith(root) && armed.getAndSet(false)) competitor
    try {
      val out = op
      assert(!armed.get, "the competing commit never landed")
      out
    } finally DeltaTxn.beforeCas = null
  }

  private def rows(root: String): Seq[(Long, String)] =
    DeltaRead.read(spark, root).select("id", "v").as[(Long, String)].collect().toSeq.sorted

  /** Data files under the table root that no commit in the log names. */
  private def unreferenced(root: String): Set[String] = {
    val dir = new java.io.File(root)
    val named = new java.io.File(dir, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).toSeq.flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().filter(_.trim.nonEmpty).toList.flatMap { l =>
          val n = mapper.readTree(l)
          Seq("add", "remove", "cdc").flatMap(k =>
            Option(n.get(k)).map(a => DeltaRead.decodePath(a.get("path").asText)))
        } finally src.close()
      }.toSet
    def walk(d: java.io.File, rel: String): Seq[String] = d.listFiles().toSeq.flatMap { f =>
      val r = if (rel.isEmpty) f.getName else s"$rel/${f.getName}"
      if (f.isDirectory) { if (f.getName == "_delta_log") Nil else walk(f, r) }
      else if (f.getName.endsWith(".parquet")) Seq(r)
      else Nil
    }
    walk(dir, "").toSet -- named
  }

  /** The raced run against a serial replay on a fresh table built by
    * the same `setup`: same committed version, same rows, no orphans.
    */
  private def assertSerializes(setup: String => Unit)(competitor: String => Unit)
                              (op: String => Long): Unit = {
    val raced = tmp()
    setup(raced)
    val before = DeltaRead.snapshot(spark, raced).version
    val v = racing(raced)(competitor(raced))(op(raced))
    assert(v == before + 2, s"the retry must commit after the winner (v$v)")
    val serial = tmp()
    setup(serial)
    competitor(serial)
    assert(op(serial) == v)
    assert(rows(raced) == rows(serial))
    assert(unreferenced(raced).isEmpty, s"orphaned staged files: ${unreferenced(raced)}")
  }

  private def appendRow(id: Long, v: String)(root: String): Unit =
    DeltaWrite.append(spark, Seq((id, v)).toDF("id", "v").coalesce(1), root)

  test("append retries its staged files after a lost race") {
    assertSerializes(base)(appendRow(100L, "c"))(root =>
      DeltaWrite.append(spark, Seq((200L, "o")).toDF("id", "v").coalesce(1), root))
  }

  test("overwrite retries and also replaces the winner's files") {
    assertSerializes(base)(appendRow(100L, "c"))(root =>
      DeltaWrite.overwrite(spark, Seq((300L, "o")).toDF("id", "v").coalesce(1), root))
  }

  test("delete retries against the winner's deletion vectors") {
    assertSerializes(base)(root => DeltaWrite.delete(spark, root, "id = 1"))(root =>
      DeltaWrite.delete(spark, root, "id = 2 OR id = 7"))
  }

  test("update re-derives its matches from the winner's snapshot") {
    assertSerializes(base)(appendRow(5L, "c"))(root =>
      DeltaWrite.update(spark, root, "id = 5", Map("v" -> "'u'")))
  }

  test("merge re-derives its rewrite from the winner's snapshot") {
    assertSerializes(base)(appendRow(8L, "c"))(root =>
      DeltaWrite.merge(spark, Seq((8L, "m"), (50L, "m")).toDF("id", "v"), root, Seq("id")))
  }

  test("compact retries past an appender") {
    assertSerializes(base)(appendRow(100L, "c"))(root =>
      DeltaWrite.compact(spark, root, targetFiles = 1))
  }

  test("purgeDvs retries past an appender") {
    val setup = (root: String) => { base(root); DeltaWrite.delete(spark, root, "id = 0"); () }
    assertSerializes(setup)(appendRow(100L, "c"))(root =>
      DeltaWrite.purgeDvs(spark, root))
  }

  test("restore re-derives its file diff from the winner's snapshot") {
    val setup = (root: String) => { base(root); appendRow(20L, "x")(root) }
    assertSerializes(setup)(appendRow(100L, "c"))(root =>
      DeltaWrite.restore(spark, root, 1L))
  }

  test("setProperties retries on the winner's snapshot") {
    assertSerializes(base)(appendRow(100L, "c"))(root =>
      DeltaWrite.setProperties(spark, root, Map("graft.race" -> "x")))
  }

  test("compact and purgeDvs abort when the winner DV-deletes rows in a folded file") {
    val c = tmp()
    base(c)
    val e1 = intercept[IllegalStateException] {
      racing(c)(DeltaWrite.delete(spark, c, "id = 3"))(
        DeltaWrite.compact(spark, c, targetFiles = 1))
    }
    assert(e1.getMessage.contains("aborted"), e1.getMessage)
    assert(!rows(c).exists(_._1 == 3L) && rows(c).size == 9)
    assert(unreferenced(c).isEmpty, s"orphaned staged files: ${unreferenced(c)}")

    // one file, so the DV purge folds the file every later DELETE hits
    val p = tmp()
    DeltaWrite.append(spark, (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1), p)
    DeltaWrite.delete(spark, p, "id = 0")
    val e2 = intercept[IllegalStateException] {
      racing(p)(DeltaWrite.delete(spark, p, "id = 5"))(DeltaWrite.purgeDvs(spark, p))
    }
    assert(e2.getMessage.contains("aborted"), e2.getMessage)
    assert(rows(p).size == 8)
    assert(unreferenced(p).isEmpty, s"orphaned staged files: ${unreferenced(p)}")
  }
}
