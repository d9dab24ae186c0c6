package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The commit core under every [[VersionedTable]] write: one typed
  * manifest [[Pointer]] with one renderer and one parser, and one
  * optimistic commit loop ([[commit]]).
  *
  * An operation supplies only its BODY: given the attempt's snapshot it
  * either declares a no-op at a version or returns the pointer to
  * publish plus the data dirs it wrote for it. The loop owns everything
  * else — the CAS at the next version, recording the table format,
  * re-publishing a linked catalog view, reclaiming dirs no pointer will
  * ever name, and the retry cap.
  */
private[graft] object ManifestTxn {

  /** Commit attempts before an operation gives up on a table another
    * writer keeps committing to.
    */
  val MaxAttempts = 20

  /** A manifest pointer. On disk: the data entries, one per line, then
    * `#` metadata lines in the order `#kind=`, `#fork=`, `#layout=`,
    * `#tag=`:
    *  - `kind`: `append` (commitDelta's pointer-only append),
    *    `fold:<deltaDir>` (its bounded auto-compaction — `<deltaDir>`
    *    holds the rows this commit APPENDED, unreferenced but on disk
    *    until vacuum), `compact` (no new rows), `merge`/`rewrite`/
    *    `restore` (arbitrary row changes) and `branch` (a branch's v1).
    *    Pre-marker pointers have none; kind readers treat them
    *    conservatively.
    *  - `fork`: the main version a branch's content is based on (its
    *    v1 and every rebase record one; publish's guard reads the
    *    newest).
    *  - `layout`: the hive partition columns (`Some(Nil)` = flat), so
    *    layout-aware maintenance never walks the directories. Pointers
    *    older than the marker have none (`None`), and copying one
    *    (restore, branch) keeps the absence.
    *  - `tag`: an exactly-once producer's unit-of-work id
    *    ([[VersionedTable.taggedVersion]]).
    */
  final case class Pointer(entries: Seq[String], kind: Option[String] = None,
                           layout: Option[Seq[String]] = None, fork: Option[Long] = None,
                           tag: Option[String] = None) {

    def render: String = {
      layout.getOrElse(Nil).foreach(c => require(!c.contains(",") && !c.contains("\n"),
        s"partition column name '$c' cannot be recorded in a layout marker"))
      (entries ++ kind.map("#kind=" + _) ++ fork.map("#fork=" + _) ++
        layout.map("#layout=" + _.mkString(",")) ++ tag.map("#tag=" + _)).mkString("\n")
    }

    /** Does this pointer keep data dir `dir` — through an entry, or as
      * a fold's delta dir?
      */
    def names(dir: String): Boolean =
      entries.exists(VersionedTable.entryDir(_) == dir) || kind.contains(s"fold:$dir")
  }

  object Pointer {
    def parse(content: String): Pointer = {
      val lines = content.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      def meta(prefix: String): Option[String] =
        lines.find(_.startsWith(prefix)).map(_.stripPrefix(prefix))
      Pointer(lines.filterNot(_.startsWith("#")), meta("#kind="),
        meta("#layout=").map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq),
        meta("#fork=").flatMap(f => scala.util.Try(f.toLong).toOption), meta("#tag="))
    }
  }

  /** What one attempt's body decided. */
  sealed trait Step

  /** Nothing to commit: the op's result is `version`. */
  final case class NoOp(version: Long) extends Step

  /** Publish `pointer` at the next version. `staged` are the data dirs
    * this attempt wrote from its snapshot: a lost race deletes them and
    * the next attempt re-derives.
    */
  final case class Publish(pointer: Pointer, staged: Seq[String] = Nil) extends Step

  /** Test seam: called with (table root, version) once per attempt just
    * before the CAS — a test lands a competing commit here. Null in
    * production.
    */
  @volatile private[pipeline] var beforeCas: (String, Long) => Unit = null

  /** The one optimistic commit loop. Each attempt reads the snapshot of
    * `root` (a `#branch=` root commits to that branch's pointers), runs
    * `body` on it and publishes the pointer at the next version. A
    * winning publish records `format` (when given) and, with `sync`,
    * re-publishes the table's linked catalog view; a lost one retries,
    * at most [[MaxAttempts]] times.
    *
    * `kept` are data dirs the op wrote BEFORE the loop (its data job
    * never re-runs): they carry across attempts, and whatever the
    * winning pointer does not name — or all of them, when the op ends
    * in a no-op or an error — is deleted. Returns the committed
    * version, or the body's no-op version.
    */
  def commit(spark: SparkSession, root: String, op: String,
             format: Option[String] = None, sync: Boolean = false,
             kept: Seq[String] = Nil)
            (body: Option[VersionedTable.Snapshot] => Step): Long = {
    val (fs, rootP) = VersionedTable.fsFor(spark, root)
    val mdir = VersionedTable.mdirOf(rootP, root)
    def reclaim(dirs: Seq[String]): Unit = dirs.foreach(d =>
      try fs.delete(new Path(rootP, d), true)
      catch { case scala.util.control.NonFatal(_) => () })
    var pending = kept // kept dirs not yet handed to a publish
    try {
      var attempt = 0
      while (attempt < MaxAttempts) {
        attempt += 1
        val snap = VersionedTable.currentSnapshot(spark, root)
        body(snap) match {
          case NoOp(v) =>
            reclaim(pending)
            return v
          case Publish(pointer, staged) =>
            val next = snap.map(_.version + 1).getOrElse(1L)
            if (snap.isEmpty) fs.mkdirs(mdir) // casPublish stages its tmp there
            Option(beforeCas).foreach(_(root, next))
            // a publish that throws may still have landed: nothing it
            // names may be reclaimed (an orphan is safe, a dangling
            // entry is not)
            pending = Nil
            if (VersionedTable.casPublish(fs, new Path(mdir, f"v$next%010d"), pointer.render)) {
              reclaim(kept.filterNot(pointer.names))
              format.foreach(VersionedTable.recordFormat(fs, rootP, _))
              if (sync) VersionedTable.syncIfLinked(spark, root)
              return next
            }
            pending = kept
            reclaim(staged)
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        reclaim(pending)
        throw e
    }
    reclaim(pending)
    throw new IllegalStateException(
      s"$op at $root lost the publish race $MaxAttempts times — writer contention " +
        "is pathological; retry with backoff or shard the table")
  }
}
