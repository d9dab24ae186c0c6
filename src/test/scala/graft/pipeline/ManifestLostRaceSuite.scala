package graft.pipeline

import graft.SparkSpec
import graft.operators.IncrementalDedup
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, PrunedScan}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Lost commit races, one per manifest operation: a competing commit
  * lands through [[ManifestTxn.beforeCas]] just before the operation's
  * first CAS, so the first attempt loses and the commit loop retries
  * against the winner's snapshot. The raced table must equal a serial
  * replay (the competing commit, then the operation) with the same
  * contiguous version history, and no `data-*` dir may be left behind
  * that neither a live pointer nor a fold marker names.
  */
class ManifestLostRaceSuite extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_mrace").toString + "/t"

  /** Run `op` with `competitor` landed just before the first CAS on
    * `table`.
    */
  private def racing[A](table: String)(competitor: => Unit)(op: => A): A = {
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    ManifestTxn.beforeCas = (root, _) =>
      if (root == table && armed.getAndSet(false)) competitor
    try {
      val out = op
      assert(!armed.get, "the competing commit never landed")
      out
    } finally ManifestTxn.beforeCas = null
  }

  private def rows(table: String): Seq[String] = {
    val df = VersionedTable.read(spark, table)
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toString).toSeq.sorted
  }

  /** `data-*` dirs under `root` that no live pointer — main's or a
    * branch's — names, as an entry or as a fold's delta dir.
    */
  private def orphans(root: String): Set[String] = {
    val mdir = new java.io.File(root, "_manifest")
    val pointerDirs = mdir +: Option(new java.io.File(mdir, "branches").listFiles()).toSeq.flatten
    val named = pointerDirs.flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(_.getName.matches("v\\d{10}")).flatMap { f =>
        val p = ManifestTxn.Pointer.parse(
          new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        p.entries.map(VersionedTable.entryDir) ++
          p.kind.filter(_.startsWith("fold:")).map(_.stripPrefix("fold:"))
      }.toSet
    new java.io.File(root).list().filter(_.startsWith("data-")).toSet -- named
  }

  /** The raced run against a serial replay on a fresh table built by
    * the same `setup`: same result, same rows and history on `table`,
    * and no orphan dir under any of `roots`.
    */
  private def assertSerializes(setup: String => Unit)(competitor: String => Unit)
                              (op: String => Long,
                               table: String => String = identity,
                               roots: String => Seq[String] = Seq(_)): Unit = {
    val raced = tmp()
    setup(raced)
    val v = racing(table(raced))(competitor(raced))(op(raced))
    val serial = tmp()
    setup(serial)
    competitor(serial)
    val vSerial = op(serial)
    assert(v == vSerial, s"raced op returned $v, serial replay $vSerial")
    assert(rows(table(raced)) == rows(table(serial)), "raced table diverged from the serial replay")
    val history = VersionedTable.history(spark, table(raced)).map(_.version)
    assert(history == (history.head to history.last), s"versions not contiguous: $history")
    assert(history == VersionedTable.history(spark, table(serial)).map(_.version))
    roots(raced).foreach(r => assert(orphans(r).isEmpty, s"orphan dirs under $r: ${orphans(r)}"))
  }

  private def append(root: String, rows: (Long, String)*): Long =
    VersionedTable.commitDelta(spark, root, "parquet", rows.toDF("id", "v"),
      compactAfter = Int.MaxValue)

  /** ids 0-19 as four range-clustered files. */
  private def base(root: String): Unit =
    VersionedTable.commit(spark, root, "parquet", _ =>
      spark.range(20).select(col("id"), concat(lit("v"), col("id")).as("v"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"))

  test("commit: the full rewrite re-merges on the winner's snapshot") {
    assertSerializes(base)(append(_, 100L -> "comp"))(root =>
      VersionedTable.commit(spark, root, "parquet", b => b.get.withColumn("v", upper(col("v")))))
  }

  test("commitDelta: a pointer-only retry appends after the winner") {
    assertSerializes(base)(append(_, 100L -> "comp"))(append(_, 200L -> "op"))
  }

  test("commitDelta: a retry past compactAfter folds the winner's rows in") {
    assertSerializes(base)(append(_, 100L -> "comp")) { root =>
      // the first attempt sees 1 entry (append); the retry sees 2 (fold)
      val v = VersionedTable.commitDelta(spark, root, "parquet",
        Seq((200L, "op")).toDF("id", "v"), compactAfter = 2)
      assert(VersionedTable.commitKindOf(spark, root, v).exists(_.startsWith("fold:")))
      v
    }
  }

  test("commitMerge: the pruned merge re-classifies against the winner") {
    assertSerializes(base)(root => VersionedTable.commitMerge(spark, root, "parquet",
      Seq((5L, "comp"), (100L, "comp")).toDF("id", "v"), Seq("id")))(root =>
      VersionedTable.commitMerge(spark, root, "parquet",
        Seq((5L, "op"), (12L, "op"), (200L, "op")).toDF("id", "v"), Seq("id")))
  }

  test("a lost FIRST commit keeps the winner's rows: merge, overwrite-where, empty overwrite") {
    val empty: String => Unit = _ => ()
    assertSerializes(empty)(append(_, 1L -> "comp"))(root =>
      VersionedTable.commitMerge(spark, root, "parquet",
        Seq((2L, "op")).toDF("id", "v"), Seq("id")))
    assertSerializes(empty)(append(_, 1L -> "comp"))(root =>
      VersionedTable.commitOverwriteWhere(spark, root, "parquet",
        Seq((2L, "op")).toDF("id", "v"), "id >= 2"))
    assertSerializes(empty)(append(_, 1L -> "comp")) { root =>
      val v = VersionedTable.commitPartitionOverwrite(spark, root, "parquet",
        Seq((2L, "op")).toDF("id", "v").limit(0), Seq("v"))
      assert(v == 1L, "overwriting no partition commits nothing over the winner")
      v
    }
  }

  private def partitioned(root: String): Unit =
    VersionedTable.commit(spark, root, "parquet",
      _ => spark.range(12).select(col("id"), (col("id") % 3).as("p")), partitionBy = Seq("p"))

  test("commitPartitionOverwrite: carried subtrees re-classify against the winner") {
    assertSerializes(partitioned)(root => VersionedTable.commitDelta(spark, root, "parquet",
      Seq((100L, 1L), (101L, 3L)).toDF("id", "p"), partitionBy = Seq("p")))(root =>
      VersionedTable.commitPartitionOverwrite(spark, root, "parquet",
        Seq((200L, 1L)).toDF("id", "p"), Seq("p")))
  }

  test("commitOverwriteWhere: the winner's rows in the region are replaced too") {
    assertSerializes(base)(append(_, 15L -> "comp", 30L -> "comp"))(root =>
      VersionedTable.commitOverwriteWhere(spark, root, "parquet",
        Seq((10L, "op"), (11L, "op")).toDF("id", "v"), "id >= 10 AND id < 20"))
  }

  test("commitDelete: the winner's matching rows are deleted too") {
    assertSerializes(base)(append(_, 5L -> "comp", 50L -> "comp"))(
      VersionedTable.commitDelete(spark, _, "id < 8"))
  }

  test("commitUpdate: the winner's matching rows are updated, not dropped") {
    assertSerializes(base)(append(_, 6L -> "comp", 60L -> "comp"))(
      VersionedTable.commitUpdate(spark, _, "id < 8", Map("v" -> "'upd'")))
  }

  test("compact: the compaction folds the winner's append in") {
    assertSerializes { root => base(root); append(root, 40L -> "b") }(
      append(_, 100L -> "comp"))(VersionedTable.compact(spark, _))
  }

  test("restore: republishes the target after the winner") {
    assertSerializes { root => base(root); append(root, 40L -> "b") }(
      append(_, 100L -> "comp"))(VersionedTable.restore(spark, _, 1L))
  }

  private def branched(root: String): Unit = {
    base(root)
    VersionedTable.createBranch(spark, root, "b")
    append(VersionedTable.branchRoot(root, "b"), 300L -> "branch")
  }

  test("publishBranch: a forced publish fast-forwards over the winner") {
    assertSerializes(branched)(append(_, 100L -> "comp"))(
      VersionedTable.publishBranch(spark, _, "b", force = true))
  }

  test("rebaseBranch: the rebase re-runs its checks against the new branch head") {
    assertSerializes { root => branched(root); append(root, 100L -> "main") }(root =>
      append(VersionedTable.branchRoot(root, "b"), 301L -> "comp"))(
      VersionedTable.rebaseBranch(spark, _, "b"),
      table = VersionedTable.branchRoot(_, "b"))
  }

  private val shared = "entirely fresh document text that matches no template " * 4
  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog while it sleeps " * 3),
    (2L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 3))

  test("dedupeDelta: survivors re-check against the rows the winner admitted") {
    assertSerializes(root =>
      IncrementalDedup.initStore(spark, corpus.toDF("doc_id", "text"), root))(root =>
      IncrementalDedup.dedupeDelta(spark, Seq((9002L, shared)).toDF("doc_id", "text"), root))(
      root => IncrementalDedup.dedupeDelta(spark, Seq((9001L, shared),
        (9003L, "a second unrelated document about harbor tides and gulls " * 3))
        .toDF("doc_id", "text"), root).version)
  }

  test("exactDelta: fresh fingerprints drop the ones the winner admitted") {
    assertSerializes(root =>
      IncrementalDedup.initExactStore(spark, corpus.toDF("doc_id", "text"), root))(root =>
      IncrementalDedup.exactDelta(spark,
        Seq((9002L, "shared new text")).toDF("doc_id", "text"), root))(
      root => IncrementalDedup.exactDelta(spark,
        Seq((9001L, "shared NEW text"), (9003L, "unrelated")).toDF("doc_id", "text"), root).version)
  }

  test("MaterializedAgg.refresh: the loser folds only what the winner did not") {
    def agg(root: String) = root.stripSuffix("/t") + "/agg"
    val aggs = Seq(MaterializedAgg.MAgg("n", "", "count"), MaterializedAgg.MAgg("s", "x", "sum"))
    def refresh(root: String) =
      MaterializedAgg.refresh(spark, root, agg(root), Seq("g"), aggs)
    def src(root: String, rows: (Long, Long)*) =
      VersionedTable.commitDelta(spark, root, "parquet", rows.toDF("g", "x"))
    // the winner refreshes the rollup, then appends to the source: the
    // loser's retry folds only that append
    assertSerializes { root =>
      src(root, 1L -> 10L, 2L -> 20L); refresh(root); src(root, 1L -> 5L)
    } { root => refresh(root); src(root, 2L -> 7L, 3L -> 1L) }(
      refresh, table = agg, roots = root => Seq(root, agg(root)))
  }

  test("two first commitMerges racing into an empty root keep both writers' rows") {
    val root = tmp()
    // the first merge's source plans its full scan — its data write,
    // after it found the table empty — by landing the second merge
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val source = spark.baseRelationToDataFrame(new PlanHookRelation(spark.sqlContext,
      Seq(Row(1L, "a"), Row(2L, "a")), schema, trigger = "v",
      () => VersionedTable.commitMerge(spark, root, "parquet",
        Seq((3L, "b"), (4L, "b")).toDF("id", "v"), Seq("id"))))
    assert(VersionedTable.commitMerge(spark, root, "parquet", source, Seq("id")) == 2L)
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")))
    assert(orphans(root).isEmpty, s"orphan dirs: ${orphans(root)}")
  }
}

/** A relation that runs `onPlan` the first time a query plans a scan
  * reading column `trigger` — a way to land a competing commit inside
  * an operation's data write (a key-only scan before it does not fire)
  * using the public API only.
  */
private class PlanHookRelation(@transient val sqlContext: SQLContext, rows: Seq[Row],
                               val schema: StructType, trigger: String,
                               @transient onPlan: () => Unit)
    extends BaseRelation with PrunedScan {
  private val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
  override def buildScan(requiredColumns: Array[String]): org.apache.spark.rdd.RDD[Row] = {
    if (requiredColumns.contains(trigger) && armed.getAndSet(false)) onPlan()
    val idx = requiredColumns.map(schema.fieldIndex)
    sqlContext.sparkContext.parallelize(rows.map(r => Row.fromSeq(idx.toSeq.map(r.get))), 1)
  }
}
