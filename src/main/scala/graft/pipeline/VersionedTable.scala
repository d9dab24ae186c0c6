package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import ManifestTxn.{NoOp, Pointer, Publish}

/** Optimistic-concurrency table commits over plain parquet — the
  * lakehouse-free answer to drune's `DeltaTable.forName(...).merge`
  * table sinks (reference: src/drune/engines/spark/steps/writer.py:
  * 40-100): the reference delegates concurrent-writer safety to Delta's
  * transaction log; graft's plain-path merge modes were a checkpoint +
  * full rewrite with last-writer-wins. This module gives path sinks a
  * real commit protocol with no format dependency:
  *
  * {{{
  * <root>/_manifest/v0000000042   # pointer file: names the data dir
  * <root>/data-0000000042-ab12cd34/  # immutable version directories
  * }}}
  *
  * Commit = read the current snapshot, compute the merged result as one
  * distributed plan, write it to a PRIVATE data directory, then publish
  * by atomically creating the next manifest pointer (compare-and-swap
  * on the version number) — every commit flavor through ONE loop
  * ([[ManifestTxn.commit]]). Exactly one concurrent committer wins a
  * version; losers delete the directories they derived, re-read the
  * winner's snapshot, RE-DERIVE, and retry — no lost updates,
  * serialized history — at most [[ManifestTxn.MaxAttempts]] (20) times.
  *
  * Because version directories are immutable, the merge plan streams
  * straight from the old files into the new directory: no
  * read-what-you-overwrite hazard, so no checkpoint materialization
  * and no rename-swap window (the two costs of Writer.rewrite). Readers
  * always see a complete snapshot: the pointer is created only after
  * the data write finishes, and old versions stay readable until
  * [[vacuum]] retires them.
  *
  * The CAS primitive is scheme-aware: HDFS-like stores use
  * `create(overwrite = false)` (an atomic namenode op); the local
  * filesystem CANNOT use that (check-then-create race) nor Hadoop
  * rename (POSIX rename(2) replaces an existing destination), so it
  * publishes via hard-link creation — O_EXCL-atomic AND the content is
  * complete at the instant the link appears. Same family of protocol as
  * Similarity.ivfCentroidsPath's tmp+rename artifact publish, upgraded
  * from "losers adopt the winner" to "losers re-merge on the winner".
  */
object VersionedTable {

  /** A committed version = an ordered list of immutable data ENTRIES
    * (manifest pointer content, one per line). An entry is either a
    * whole data directory (`data-...`), or — after a file-pruned
    * [[commitMerge]] — a single FILE inside one (`data-.../part-...`),
    * or — after a partition-pruned [[commitPartitionOverwrite]] — a
    * hive PARTITION SUBTREE (`data-.../p=v[/q=w...]`, every post-dir
    * segment a `col=value` pair): the carried-over untouched slices of
    * a partially-rewritten directory. Merge-style commits write one
    * full directory; APPEND commits reuse the base's entries and add
    * only their delta — O(delta) I/O instead of a full copy — until
    * [[commitDelta]]'s `compactAfter` threshold triggers a compacting
    * rewrite.
    */
  final case class Snapshot(version: Long, dataDirs: Seq[String])

  /** Is this manifest entry a reference INTO a data directory (file or
    * partition subtree), as opposed to a whole directory?
    */
  private[pipeline] def isFileRef(entry: String): Boolean = entry.contains("/")

  /** Is this a hive partition-subtree reference? Every segment after
    * the data dir has `col=value` form — Spark's partition-path writer
    * ESCAPES '=' inside values and parquet part-file names never
    * contain one, so the shape is unambiguous against file refs.
    */
  private[pipeline] def isPartitionRef(entry: String): Boolean =
    isFileRef(entry) &&
      entry.split('/').drop(1).forall(seg => seg.contains('=') && !seg.startsWith("="))

  /** The data DIRECTORY an entry keeps alive (itself, or a file ref's
    * parent) — the unit vacuum reasons about.
    */
  private[pipeline] def entryDir(entry: String): String =
    if (isFileRef(entry)) entry.substring(0, entry.indexOf('/')) else entry

  private val ManifestDir = "_manifest"
  private val BranchesDir = "branches"
  private val ManifestName = """v(\d{10})""".r

  /** A root string may carry a `#branch=<name>` suffix selecting a
    * named BRANCH of the table: the same data-dir namespace (all data
    * stays under the one true root — zero-copy by construction, and
    * the entry grammar stays root-relative/rename-proof), but a
    * separate pointer sequence under `_manifest/branches/<name>/`.
    * Every entry point that takes a root accepts the suffix: reads,
    * time travel, incremental reads, every commit flavor, restore and
    * history all operate per-branch; the format marker and catalog
    * face stay on main (one storage format per table; views track the
    * published main). Returns (true root, branch).
    */
  private[graft] def splitBranch(root: String): (String, Option[String]) = {
    val i = root.lastIndexOf("#branch=")
    if (i < 0) (root, None)
    else {
      val name = root.substring(i + "#branch=".length)
      require(name.nonEmpty && name.forall(c =>
          c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
        s"illegal branch name '$name' — use letters, digits, '.', '_', '-'")
      (root.substring(0, i), Some(name))
    }
  }

  private[graft] def branchOf(root: String): Option[String] = splitBranch(root)._2

  /** The root string addressing branch `name` of the table at `root`. */
  def branchRoot(root: String, name: String): String = {
    require(branchOf(root).isEmpty, s"cannot branch from a branch: $root")
    s"$root#branch=$name"
  }

  /** The manifest directory the root string addresses: main's, or the
    * named branch's pointer dir.
    */
  private[pipeline] def mdirOf(rootP: Path, root: String): Path = branchOf(root) match {
    case Some(b) => new Path(new Path(new Path(rootP, ManifestDir), BranchesDir), b)
    case None => new Path(rootP, ManifestDir)
  }

  private[pipeline] def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(splitBranch(root)._1)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private[graft] def readSmall(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        Some(new String(bytes, "UTF-8").trim)
      } finally in.close()
    } catch { case _: Throwable => None }

  /** The branch's NEWEST fork marker: v1 records the original cut and
    * every [[rebaseBranch]] commit re-records the new base, so the
    * newest marker is the main version the branch's content is
    * currently based on — publish's fast-forward guard compares
    * against this, not against v1's original cut.
    */
  private def latestFork(fs: FileSystem, bm: Path): Option[Long] =
    listManifests(fs, bm).sortBy(-_._1).iterator
      .flatMap { case (_, p, _) => readSmall(fs, p).flatMap(Pointer.parse(_).fork) }
      .nextOption()

  /** The parsed pointer of `version` in `mdir`, if readable. */
  private def pointerAt(fs: FileSystem, mdir: Path, version: Long): Option[Pointer] =
    readSmall(fs, new Path(mdir, f"v$version%010d")).map(Pointer.parse)

  /** The recorded commit kind of `version`, if the manifest carries one. */
  private[pipeline] def commitKindOf(spark: SparkSession, root: String,
                                     version: Long): Option[String] = {
    val (fs, rootP) = fsFor(spark, root)
    pointerAt(fs, mdirOf(rootP, root), version).flatMap(_.kind)
  }

  /** The committed version carrying `#tag=tag`, if any — how an
    * exactly-once producer (e.g. a streaming micro-batch committer)
    * detects that a replayed unit of work already landed. Scans the
    * surviving manifest pointers (O(versions) tiny reads); a tag
    * vacuumed away with its manifest is older than any replayable
    * unit, so the miss is safe.
    */
  def taggedVersion(spark: SparkSession, root: String, tag: String): Option[Long] = {
    val (fs, rootP) = fsFor(spark, root)
    listManifests(fs, mdirOf(rootP, root)).sortBy(-_._1).iterator.flatMap { case (v, p, _) =>
      readSmall(fs, p).filter(Pointer.parse(_).tag.contains(tag)).map(_ => v)
    }.nextOption()
  }

  /** All manifest pointers under the root, unordered: (version, path,
    * modification time). The single place that knows the pointer
    * naming scheme — every reader (snapshot, history, vacuum) walks
    * through here.
    */
  private def listManifests(fs: FileSystem, mdir: Path): Seq[(Long, Path, Long)] = {
    if (!fs.exists(mdir)) Nil
    else fs.listStatus(mdir).toSeq.flatMap(st => st.getPath.getName match {
      case ManifestName(n) => Some((n.toLong, st.getPath, st.getModificationTime))
      case _ => None
    })
  }

  /** Data dirs a specific version's pointer references, with the
    * in-flight-publish retry (a pointer that reads back empty is an
    * HDFS create whose content isn't visible yet: re-read once).
    */
  private def dirsOf(fs: FileSystem, mdir: Path, version: Long): Option[Seq[String]] = {
    val p = new Path(mdir, f"v$version%010d")
    // the retry is for a pointer that EXISTS but reads empty (in-flight
    // HDFS publish) — a missing pointer is just missing; don't tax every
    // no-such-version error path with a sleep and a second read
    if (!fs.exists(p)) None
    else readSmall(fs, p).filter(_.nonEmpty)
      .orElse { Thread.sleep(50); readSmall(fs, p).filter(_.nonEmpty) }
      .map(Pointer.parse(_).entries)
  }

  /** The entries of committed `version`; a missing or unreadable one
    * refuses loudly (`why` extends the message).
    */
  private def entriesAt(fs: FileSystem, rootP: Path, root: String, version: Long,
                        why: String = ""): Seq[String] =
    dirsOf(fs, mdirOf(rootP, root), version).getOrElse(throw new IllegalArgumentException(
      s"versioned table at $root has no committed version $version$why"))

  /** Newest committed snapshot, or None for an empty/absent table.
    * An unreadable newest pointer falls back to the next-lower version
    * rather than failing the read.
    */
  def currentSnapshot(spark: SparkSession, root: String): Option[Snapshot] = {
    val (fs, rootP) = fsFor(spark, root)
    listManifests(fs, mdirOf(rootP, root)).sortBy(-_._1).iterator
      .flatMap { case (v, _, _) => dirsOf(fs, mdirOf(rootP, root), v).map(Snapshot(v, _)) }
      .nextOption()
  }

  private def load(spark: SparkSession, rootP: Path, format: String,
                   dirs: Seq[String]): DataFrame = {
    val (refs, dirRefs) = dirs.partition(isFileRef)
    val (partRefs, fileRefs) = refs.partition(isPartitionRef)
    // FAST PATH — the high-version/file-count shape (hundreds of
    // delta dirs, flat or uniformly hive-partitioned, plus merge
    // carry-over file refs): when every schema sidecar agrees, the
    // whole snapshot becomes ONE scan over a manifest-synthesized
    // FileIndex — leaf paths, sizes and partition values all come
    // from manifest + sidecars, so building the plan performs ZERO
    // filesystem calls (ManifestFileIndex). The general path below
    // builds one read PER DIRECTORY and a unionByName across them —
    // per-dir footer inference, per-dir partition discovery and an
    // O(dirs)-branch plan; ManifestScaleProbe measured 17.8 s to
    // count a 300-delta flat table and 27.8 s on 20 dirs × 250
    // partitions where this path is sub-second and flat in dir
    // count. Any dir without a schema sidecar (legacy, non-graft
    // writer), any schema disagreement (additive evolution), any
    // mixed layout → general path, unchanged.
    // schema sidecars prefetched ONCE in bounded parallel — the fast
    // path's gate consumes them, and the general path reuses the same
    // map (a fallback must not re-pay the GETs serially per dir)
    lazy val loadFs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaSidecars: Map[String, Option[(org.apache.spark.sql.types.StructType, Seq[String])]] =
      if (format == "parquet" && dirs.nonEmpty) {
        val tops = dirs.map(entryDir).distinct
        parallelMap(tops)(d =>
          d -> FileStats.readSchemaSidecar(loadFs, new Path(rootP, d))).toMap
      } else Map.empty
    if (format == "parquet" && dirs.nonEmpty) {
      val sidecars = dirs.map(entryDir).distinct.map(schemaSidecars(_))
      val allPresent = sidecars.forall(_.isDefined)
      val partsAgree = allPresent && sidecars.flatMap(_.map(_._2)).distinct.length == 1
      // ADDITIVE schema evolution stays on the fast path: merge the
      // sidecar schemas in manifest encounter order (mirroring the
      // general path's unionByName(allowMissingColumns) column order),
      // columns absent from some dirs read as null from those files —
      // parquet-by-name resolution gives that for free. Only a TYPE
      // disagreement on a same-named column (non-additive evolution)
      // falls back to the per-dir union read.
      val mergedOpt: Option[org.apache.spark.sql.types.StructType] =
        if (!partsAgree) None
        else {
          val schemas = sidecars.map(_.get._1)
          if (schemas.map(_.json).distinct.length == 1) Some(schemas.head)
          else {
            val everywhere = schemas.map(_.fieldNames.toSet).reduce(_ intersect _)
            val fields = scala.collection.mutable.LinkedHashMap[
              String, org.apache.spark.sql.types.StructField]()
            var ok = true
            schemas.foreach(_.fields.foreach { f =>
              fields.get(f.name) match {
                case None =>
                  fields(f.name) = if (everywhere(f.name)) f else f.copy(nullable = true)
                case Some(prev) =>
                  if (prev.dataType.catalogString != f.dataType.catalogString) ok = false
                  else if (f.nullable && !prev.nullable)
                    fields(f.name) = prev.copy(nullable = true)
              }
            })
            if (ok) Some(org.apache.spark.sql.types.StructType(fields.values.toSeq))
            else None
          }
        }
      // Partition-subtree refs and partition-qualified file refs
      // resolve fine (their col=value segments ride the leaf path);
      // only a PLAIN file ref under a hive parent would lose its
      // partition values — general path for that shape.
      val hiveOk = sidecars.headOption.flatten.forall(_._2.isEmpty) ||
        fileRefs.forall { r =>
          val mid = r.split('/').drop(1).dropRight(1)
          mid.nonEmpty && mid.forall(s => s.contains('=') && !s.startsWith("="))
        }
      if (mergedOpt.isDefined && hiveOk) {
        val (recorded, partCols) = (mergedOpt.get, sidecars.head.get._2)
        val partSchema = org.apache.spark.sql.types.StructType(
          partCols.flatMap(c => recorded.fields.find(_.name == c)))
        if (partSchema.length == partCols.length) {
          val dataSchema = org.apache.spark.sql.types.StructType(
            recorded.filterNot(f => partCols.contains(f.name)))
          val (files, _) = entryFilesPartitioned(spark, rootP.toString, dirs)
          val index = graft.sources.GraftDataSource.partitionedIndex(
            spark, files, partSchema, dataSchema, rootP.toString)
          val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
            index, partSchema, dataSchema, None,
            new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
            Map.empty[String, String])(spark)
          return spark.baseRelationToDataFrame(rel)
        }
      }
    }
    // Per-branch reads carry the recorded schema when available —
    // partition discovery still runs per dir (hive values come from
    // paths) but parquet footer inference is skipped. Sidecars come
    // from the prefetched map above, not fresh per-dir reads.
    def readWithRecordedSchema(top: String): org.apache.spark.sql.DataFrameReader = {
      val r = spark.read.format(format)
      schemaSidecars.getOrElse(top, None)
        .map { case (s, _) => r.schema(s) }.getOrElse(r)
    }
    val dirReads = dirRefs.map(d => readWithRecordedSchema(d).load(new Path(rootP, d).toString))
    // File refs (commitMerge carry-overs) group by their parent dir —
    // files of one immutable dir share a schema — and read as ONE
    // multi-path scan per dir with basePath = the dir: for flat
    // layouts a no-op, for files INSIDE hive partition subtrees
    // (`dir/p=1/part-...`) it derives the partition columns from the
    // path components below the base, so partitioned tables'
    // carried-over files read whole.
    val fileReads = fileRefs.groupBy(entryDir).toSeq.sortBy(_._1).map { case (d, refs) =>
      readWithRecordedSchema(d).option("basePath", new Path(rootP, d).toString)
        .load(refs.map(r => new Path(rootP, r).toString): _*)
    }
    // Partition-subtree refs (commitPartitionOverwrite carry-overs)
    // group by their parent dir and read as ONE multi-path scan with
    // basePath = the parent, so Spark derives the partition columns
    // from the path components BELOW the base — the carried slices
    // keep their `col=value` columns while only the referenced
    // subtrees are ever listed or scanned.
    val partReads = partRefs.groupBy(entryDir).toSeq.sortBy(_._1).map { case (d, refs) =>
      readWithRecordedSchema(d).option("basePath", new Path(rootP, d).toString)
        .load(refs.map(r => new Path(rootP, r).toString): _*)
    }
    val reads = dirReads ++ fileReads ++ partReads
    if (reads.length == 1) reads.head
    else
      // One read PER DIRECTORY, unioned by name — not a single
      // multi-path read: each committed dir is its own table root, so
      // hive-partitioned layouts (e.g. IncrementalAnn's list_id dirs)
      // infer their partition columns per branch (a multi-path read
      // fails with CONFLICTING_DIRECTORY_STRUCTURES across
      // differently-named delta dirs), partition pruning applies per
      // branch, and additive schema evolution keeps mergeSchema's
      // semantics via the null-filling union (a column absent in an
      // older dir reads as null there, same as footer reconciliation).
      reads.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Read the newest committed version (a stable snapshot — later
    * commits land in new directories and do not disturb this plan).
    */
  def read(spark: SparkSession, root: String, format: String = "parquet"): DataFrame =
    readVersion(spark, root,
      currentSnapshot(spark, root).getOrElse(throw new IllegalArgumentException(
        s"versioned table at $root has no committed version")).version, format)

  /** Time-travel read of a specific committed version. */
  def readVersion(spark: SparkSession, root: String, version: Long,
                  format: String = "parquet"): DataFrame = {
    val (fs, rootP) = fsFor(spark, root)
    load(spark, rootP, format, entriesAt(fs, rootP, root, version))
  }

  /** Incremental read: the rows of data directories that joined the
    * manifest AFTER `sinceVersion` — for an APPEND-ONLY history
    * (commitDelta) this is exactly the data committed since that
    * version, at O(new data) read cost, which is how a downstream
    * pipeline consumes a growing corpus without rescanning it. A
    * merge/overwrite/compaction commit REWRITES directories, so the
    * rows of every rewritten/new directory read as new — for a
    * file-pruned [[commitMerge]] that is the touched subset (untouched
    * entries carry over and do not re-read); either way a rewrite span
    * is not a row-level diff (use [[diffVersions]]; run incremental
    * consumers against append-only tables).
    * `sinceVersion` must still be in the manifest (not vacuumed).
    */
  def changesSince(spark: SparkSession, root: String, sinceVersion: Long,
                   format: String = "parquet"): DataFrame = {
    val (fs, rootP) = fsFor(spark, root)
    val cur = currentSnapshot(spark, root).getOrElse(throw new IllegalArgumentException(
      s"versioned table at $root has no committed version"))
    val oldDirs = entriesAt(fs, rootP, root, sinceVersion,
      " (never committed, or already vacuumed — incremental readers must " +
        "keep up within the vacuum retention)").toSet
    val newDirs = cur.dataDirs.filterNot(oldDirs)
    // caught up: an empty frame whose schema comes from the NEWEST dir
    // only — a polling consumer hits this branch every cycle, and
    // loading all dirs with mergeSchema here would read every footer in
    // the table per no-op poll. This matches the DELTA-read contract: a
    // non-caught-up read's schema is the union of the NEW dirs only, so
    // a consumer depending on a column that exists only in older dirs
    // fails the same way on both branches (not just the caught-up one)
    if (newDirs.isEmpty) load(spark, rootP, format, Seq(cur.dataDirs.last)).limit(0)
    else load(spark, rootP, format, newDirs)
  }

  /** [[changesSince]] with a PINNED upper bound: rows of the data
    * directories that joined the manifest after `fromVersion`, as of
    * `toVersion` — for readers that must not race commits landing while
    * they plan (e.g. an optimistic-concurrency writer re-deriving its
    * delta after losing a commit race has to cover exactly the span
    * `(from, to]` it will retry against, not whatever is newest at
    * execution time). Both versions must still be in the
    * manifest (not vacuumed).
    */
  def changesBetween(spark: SparkSession, root: String, fromVersion: Long, toVersion: Long,
                     format: String = "parquet"): DataFrame = {
    val (fs, rootP) = fsFor(spark, root)
    def dirs(v: Long) = entriesAt(fs, rootP, root, v, " (never committed, or already vacuumed)")
    val oldDirs = dirs(fromVersion).toSet
    val toDirs = dirs(toVersion)
    val newDirs = toDirs.filterNot(oldDirs)
    // same caught-up contract as changesSince: schema from one dir only
    if (newDirs.isEmpty) load(spark, rootP, format, Seq(toDirs.last)).limit(0)
    else load(spark, rootP, format, newDirs)
  }

  /** Data dirs carrying the rows APPENDED in the span `(from, to]` —
    * the delta-maintenance read set. Walks the consecutive manifest
    * versions: an `append` commit contributes its new delta dir, a
    * `fold` (commitDelta's bounded auto-compaction) contributes the
    * delta dir its marker recorded (unreferenced but on disk until
    * vacuum), a maintenance `compact` contributes nothing (pure
    * repackaging), and a `rewrite` — or a rewrite-SHAPED commit from a
    * pre-marker table — makes delta maintenance unsound: None.
    *
    * Manifests INSIDE the span `(from, to]` must exist (a missing one
    * throws: the caller outlived the vacuum retention, same contract
    * as [[changesBetween]]). The `from` manifest itself MAY already be
    * vacuumed — commit-kind markers make the walk independent of it
    * (an `append` pointer's delta dir is always its last data-dir
    * line, a `fold`'s travels in the marker, a `compact` contributes
    * nothing); only a pre-marker manifest still needs its
    * predecessor's dir set. This matters for a CAUGHT-UP reader (e.g.
    * the streaming source committed at HEAD) racing `vacuum(keep=1)`:
    * its next span starts at a version whose manifest was just swept.
    * Returned dirs are NOT existence-checked — a fold dir swept by
    * vacuum surfaces when loaded, and callers wanting a friendlier
    * error pre-check.
    */
  private[graft] def appendedDirsBetween(spark: SparkSession, root: String,
                                            from: Long, to: Long): Option[Seq[String]] = {
    val (fs, rootP) = fsFor(spark, root)
    def dirs(v: Long) = entriesAt(fs, rootP, root, v, " (never committed, or already vacuumed)")
    var prev: Option[Set[String]] = dirsOf(fs, mdirOf(rootP, root), from).map(_.toSet)
    val acc = Seq.newBuilder[String]
    var v = from + 1
    while (v <= to) {
      val curSeq = dirs(v)
      val cur = curSeq.toSet
      commitKindOf(spark, root, v) match {
        case Some("append") => prev match {
          case Some(p) => acc ++= (cur -- p)
          case None => acc += curSeq.last // append pointer = base dirs :+ delta
        }
        case Some(k) if k.startsWith("fold:") => acc += k.stripPrefix("fold:")
        case Some("compact") => ()
        case Some(_) => return None // rewrite (or an unknown future kind)
        case None => prev match {
          // pre-marker manifest: append-shaped (nothing removed) is
          // still safely classifiable; anything else is opaque
          case Some(p) => if ((p -- cur).isEmpty) acc ++= (cur -- p) else return None
          case None => throw new IllegalArgumentException(
            s"versioned table at $root has no committed version $from and " +
              s"v$v carries no commit-kind marker — the span is not classifiable " +
              "(pre-marker history outlived the vacuum retention)")
        }
      }
      prev = Some(cur)
      v += 1
    }
    Some(acc.result())
  }

  /** Load specific data dirs of this table (same per-dir union
    * semantics as snapshot reads).
    */
  private[graft] def loadDirs(spark: SparkSession, root: String,
                                 format: String, dirs: Seq[String]): DataFrame = {
    val (_, rootP) = fsFor(spark, root)
    load(spark, rootP, format, dirs)
  }

  /** Resolve manifest entries to ABSOLUTE data-file paths — the
    * planning unit of the DSv2 `graft` format face, which hands Spark
    * an explicit file list instead of directories (a file-pruned
    * merge's manifest references individual carried-over files inside
    * dirs whose other files are dead, so directory listing alone would
    * resurrect them). Refuses hive-partitioned dirs loudly: their
    * partition columns live in subdirectory NAMES, which a flat file
    * enumeration would silently drop — those tables read through
    * [[read]]/GRAFT_READ (per-branch partition discovery).
    */
  def entryFiles(spark: SparkSession, root: String, entries: Seq[String]): Seq[String] = {
    val (fs, rootP) = fsFor(spark, root)
    // refuse ANY ref that traverses a hive partition directory — a
    // subtree ref, or a file ref inside one (`dir/p=1/part-...`): its
    // partition columns live in the path, which a flat enumeration
    // would silently drop
    entries.find(e => isPartitionRef(e) ||
        (isFileRef(e) && e.split('/').drop(1).dropRight(1).exists(_.contains('='))))
      .foreach { e =>
        throw new UnsupportedOperationException(
          s"manifest entry $e of versioned table at $root references a hive " +
            "partition subtree — its partition columns live in the path, which a " +
            "flat file enumeration would drop; read this table with GRAFT_READ / " +
            "VersionedTable.read instead of format(\"graft\")")
      }
    val (fileRefs, dirRefs) = entries.partition(isFileRef)
    val fromDirs = dirRefs.flatMap { d =>
      val dp = new Path(rootP, d)
      FileStats.listDataFiles(fs, dp) match {
        case Some(names) => names.map(n => new Path(dp, n).toString)
        case None => throw new UnsupportedOperationException(
          s"data directory $d of versioned table at $root is hive-partitioned — " +
            "a flat file enumeration would drop its partition columns; read this " +
            "table with GRAFT_READ / VersionedTable.read instead of format(\"graft\")")
      }
    }
    fromDirs ++ fileRefs.map(r => new Path(rootP, r).toString)
  }

  /** Absolute data-file paths of `version`'s snapshot (see
    * [[entryFiles]] for the hive-partitioned refusal).
    */
  def snapshotFiles(spark: SparkSession, root: String, version: Long): Seq[String] = {
    val (fs, rootP) = fsFor(spark, root)
    val entries = entriesAt(fs, rootP, root, version)
    entryFiles(spark, root, entries)
  }

  /** [[snapshotFiles]] that understands hive layouts: every leaf data
    * file of `version` with its hive partition assignment parsed from
    * the manifest-relative path — `(absolute file path, ordered
    * (column, raw path-unescaped value) pairs)` — plus the partition
    * column sequence, which every leaf must share (`Nil` = flat
    * table). The planning unit of the DSv2 face's partition-aware
    * scan: subtree refs and file refs inside partition dirs resolve
    * here instead of refusing. Refuses loudly on a MIXED layout
    * (flat and partitioned leaves in one snapshot, or disagreeing
    * partition column sequences) — no single partition schema can
    * describe it; those tables read through [[read]]/GRAFT_READ.
    */
  /** One manifest-resolved leaf data file: absolute path, its ordered
    * hive partition assignment (empty = flat), and its size in bytes
    * (-1 = unknown; a complete sized list lets scan planning skip
    * every per-file stat call).
    */
  final case class LeafFile(path: String, partitions: Seq[(String, String)], bytes: Long)

  /** Bounded-parallel driver-side map for per-directory metadata
    * reads (sidecars): on an object store each read is a GET with
    * real latency, and a many-hundred-dir snapshot must not pay them
    * serially. Local threads, not a Spark job — the items are tiny
    * and the latency is I/O wait, not CPU.
    */
  private lazy val metaReadPool = {
    // shared daemon pool: load/classify paths call parallelMap once or
    // twice per COMMIT — per-call pool construction/teardown is churn
    val tf = new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-meta-read-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    }
    java.util.concurrent.Executors.newFixedThreadPool(32, tf)
  }

  private def parallelMap[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.length <= 1) items.map(f)
    else {
      items.map(a => metaReadPool.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = f(a)
      })).map { fut =>
        try fut.get()
        catch {
          // surface the WORKER's failure, not the Future wrapper — a
          // sidecar IOException must read the same whether the reads
          // ran serial or parallel
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
    }

  def snapshotFilesPartitioned(spark: SparkSession, root: String, version: Long)
      : (Seq[LeafFile], Seq[String]) = {
    val (fs, rootP) = fsFor(spark, root)
    val entries = entriesAt(fs, rootP, root, version)
    entryFilesPartitioned(spark, root, entries)
  }

  /** [[appendedDirsBetween]] resolved with partition assignments —
    * the hive-aware analog of [[appendedFilesBetween]], feeding the
    * DSv2 micro-batch planner's partitioned spans (None = the span
    * contains a rewrite and is not streamable row-wise).
    */
  private[graft] def appendedFilesPartitionedBetween(
      spark: SparkSession, root: String, from: Long, to: Long)
      : Option[(Seq[LeafFile], Seq[String])] =
    appendedDirsBetween(spark, root, from, to)
      .map(entryFilesPartitioned(spark, root, _))

  /** [[snapshotFilesPartitioned]]'s entry resolution over an explicit
    * entry list (a snapshot's, or an offset span's appends).
    */
  private[graft] def entryFilesPartitioned(spark: SparkSession, root: String,
                                           entries: Seq[String])
      : (Seq[LeafFile], Seq[String]) = {
    val (fs, rootP) = fsFor(spark, root)
    // Every entry resolves to rootP-relative leaf paths: file refs
    // as-is; dir entries and partition-subtree refs from the data
    // dir's `_graft_stats` SIDECAR, which already enumerates every
    // leaf (written all-or-nothing at commit time, and the dir is
    // immutable after publish). One small sidecar read per data dir
    // replaces a recursive listStatus walk — at a many-thousand-dir
    // snapshot on an object store the walk is one serial driver RPC
    // PER DIRECTORY, the sidecar is one GET per data dir. Sidecar
    // absent/unreadable (non-parquet formats, stats-write failure) →
    // the walk remains as fallback.
    // (Entry order is preserved — the scan's file order, and with it
    // unordered-query row order, must not depend on which resolution
    // path ran. Sidecar leaf order == walk order: both sorted.)
    // Leaf paths carry their SIZE from the sidecar (bytes=-1 when
    // unknown — legacy sidecars, walk fallback without lengths): with
    // every size known, scan planning synthesizes its FileIndex from
    // this list alone and performs zero per-file stat calls.
    // all distinct data dirs' sidecars prefetch in bounded parallel
    // (object-store GETs must not serialize at high dir counts)
    val sidecarLeaves: Map[String, Seq[(String, Long)]] = {
      val tops = entries.map(entryDir).distinct
      parallelMap(tops) { top =>
        top -> FileStats.readSidecar(fs, new Path(rootP, top))
          .map(_.map(st => (st.file, st.bytes))).getOrElse(Nil)
      }.toMap
    }
    def leavesOf(top: String): Seq[(String, Long)] = sidecarLeaves.getOrElse(top, Nil)
    // per-dir leaf->bytes MAP for file-ref lookups: a merge-heavy
    // snapshot can carry thousands of file refs against a sidecar of
    // thousands of leaves — O(1) lookups, not a linear scan per ref
    lazy val leafBytes: Map[String, Map[String, Long]] =
      sidecarLeaves.map { case (top, ls) => top -> ls.toMap }
    val rels: Seq[(String, Long)] = entries.flatMap { e =>
      if (isFileRef(e) && !isPartitionRef(e)) {
        // direct file ref: its size lives in the PARENT dir's sidecar
        val top = entryDir(e)
        val name = e.stripPrefix(top + "/")
        Seq((e, leafBytes.getOrElse(top, Map.empty).getOrElse(name, -1L)))
      } else {
        val top = entryDir(e)
        val leaves = leavesOf(top)
        if (leaves.nonEmpty) {
          if (e == top) leaves.map { case (l, b) => (s"$top/$l", b) }
          else {
            // partition-subtree ref: keep sidecar leaves under it
            val prefix = e.stripPrefix(top + "/") + "/"
            leaves.collect { case (l, b) if l.startsWith(prefix) => (s"$top/$l", b) }
          }
        } else FileStats.listLeafDataFilesSized(fs, new Path(rootP, e))
          .map { case (rel, b) => (s"$e/$rel", b) }
      }
    }
    val files = rels.map { case (rel, bytes) =>
      val segs = rel.split('/')
      // partition segments are everything between the data dir and the
      // file name; in a hive layout each has col=value form
      val mid = segs.drop(1).dropRight(1)
      val parts = mid.takeWhile(s => s.contains('=') && !s.startsWith("=")).map { s =>
        val i = s.indexOf('=')
        (s.substring(0, i), unescapePartitionValue(s.substring(i + 1)))
      }.toSeq
      require(parts.length == mid.length,
        s"manifest entry path $rel of versioned table at $root mixes hive " +
          "partition segments with plain subdirectories — not a partitionable " +
          "layout; read this table with GRAFT_READ / VersionedTable.read")
      LeafFile(new Path(rootP, rel).toString, parts, bytes)
    }
    val colSeqs = files.map(_.partitions.map(_._1)).distinct
    require(colSeqs.length <= 1,
      s"versioned table at $root mixes partition layouts in one manifest span " +
        s"(${colSeqs.map(_.mkString("/")).map(s => if (s.isEmpty) "<flat>" else s).mkString(", ")}) — " +
        "no single partition schema describes the snapshot; read it with " +
        "GRAFT_READ / VersionedTable.read")
    (files, colSeqs.headOption.getOrElse(Nil))
  }

  /** [[appendedDirsBetween]] resolved to absolute file paths (None =
    * the span contains a rewrite and is not streamable row-wise).
    */
  private[graft] def appendedFilesBetween(spark: SparkSession, root: String,
                                          from: Long, to: Long): Option[Seq[String]] =
    appendedDirsBetween(spark, root, from, to).map(entryFiles(spark, root, _))

  /** Which of `dirs` no longer exist on storage (e.g. a fold delta dir
    * already swept by vacuum). Delta-maintenance callers pre-check with
    * this so a swept span surfaces as their documented rebuild
    * instruction, not a raw path-not-found from the Spark load.
    */
  private[pipeline] def missingDirs(spark: SparkSession, root: String,
                                    dirs: Seq[String]): Seq[String] = {
    val (fs, rootP) = fsFor(spark, root)
    dirs.filterNot(d => fs.exists(new Path(rootP, d)))
  }

  /** Keyed CDC between two committed versions — what changed from
    * `fromVersion` to `toVersion`, classified added/removed/changed
    * with changed-column attribution (Relational.snapshotDiff's output
    * shape).
    *
    * Cost model: when every commit in the span appended (including
    * through commitDelta's bounded auto-compaction, whose fold marker
    * preserves the append lineage), the diff IS the appended rows —
    * O(delta) read, no join at all. A genuine rewrite (merge /
    * overwrite / maintenance compact from a pre-marker table) drops to
    * the general path: one full-outer sort-merge reconciliation of the
    * two snapshots. The manifest decides; callers never guess.
    *
    * Keys must be unique per snapshot (snapshotDiff's primary-key
    * contract) — which for the append fast path means appended rows
    * carry NEW keys, as any keyed append-only table guarantees.
    */
  def diffVersions(spark: SparkSession, root: String,
                   fromVersion: Long, toVersion: Long,
                   keys: Seq[String], compare: Seq[String],
                   format: String = "parquet"): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (fs, rootP) = fsFor(spark, root)
    val fastDirs = appendedDirsBetween(spark, root, fromVersion, toVersion)
      // a fold dir already swept by vacuum: fall back to the general
      // path (both snapshots are still fully readable) instead of
      // failing the read
      .filter(_.forall(d => fs.exists(new Path(rootP, d))))
    fastDirs match {
      case Some(dirs) =>
        // nothing appended (caught up, or a compact-only span): empty
        // frame, schema from the newest dir — changesSince's contract
        val delta =
          if (dirs.nonEmpty) load(spark, rootP, format, dirs)
          else load(spark, rootP, format,
            Seq(dirsOf(fs, mdirOf(rootP, root), toVersion).get.last)).limit(0)
        delta.select(keys.map(col) ++
          Seq(lit("added").as("change_type"), lit(null).cast("string").as("changed_cols")) ++
          compare.flatMap(c =>
            Seq(lit(null).cast(delta.schema(c).dataType).as(s"old_$c"), col(c).as(s"new_$c"))): _*)
      case None =>
        graft.operators.Relational.snapshotDiff(
          readVersion(spark, root, fromVersion, format),
          readVersion(spark, root, toVersion, format),
          keys, compare)
    }
  }

  /** Structured-Streaming source over an APPEND-ONLY versioned table —
    * EXACTLY-COMMITTED reads via the manifest-gated
    * [[graft.streaming.VersionedStreamProvider]]: stream offsets are
    * committed manifest versions, each micro-batch is precisely the
    * rows appended in the offset span, so an unpublished delta dir
    * (including a crashed committer's orphan) never streams, restarts
    * resume at the checkpointed version, and maintenance compaction in
    * the span contributes nothing. The first batch delivers the full
    * snapshot as of the first trigger (override with
    * `startingVersion = Some("latest")` or `Some("<n>")`).
    *
    * Remaining contracts:
    *  - retention: the stream must stay caught up within vacuum's
    *    keep/grace retention — a span whose manifest (or
    *    fold-recovered delta dir) was swept fails loudly rather than
    *    skipping data.
    *  - merge/overwrite commits are NOT streamable row-wise (no row
    *    diff on plain parquet) — a rewrite in the span fails the
    *    stream; stream append-only tables.
    */
  def readStream(spark: SparkSession, root: String, format: String = "",
                 startingVersion: Option[String] = None): DataFrame = {
    val fmt = resolveFormat(spark, root, format)
    val r = spark.readStream.format("graft-versioned").option("format", fmt)
    startingVersion.foreach(v => r.option("startingVersion", v))
    r.load(root)
  }

  /** Atomically create `manifest` with `content`; false = another
    * committer won this version. Both branches publish COMPLETE
    * content in one atomic step — never create-then-write, which on a
    * committer crash would leave a permanently empty pointer wedging
    * every later commit at that version.
    */
  private[graft] def casPublish(fs: FileSystem, manifest: Path, content: String): Boolean = {
    val bytes = content.getBytes("UTF-8")
    if (Option(manifest.toUri.getScheme).getOrElse(fs.getScheme) == "file") {
      // POSIX rename(2) (under Hadoop's local rename) REPLACES an
      // existing destination and create(overwrite=false) is
      // check-then-act locally — hard-link creation is the atomic
      // primitive that also publishes complete content in one step.
      val dir = java.nio.file.Paths.get(manifest.getParent.toUri.getPath)
      val tmp = dir.resolve(".tmp-" + java.util.UUID.randomUUID.toString.take(8))
      java.nio.file.Files.write(tmp, bytes)
      try { java.nio.file.Files.createLink(dir.resolve(manifest.getName), tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // a file:// mount without hard-link support (some NFS/SMB/FUSE
        // filesystems): name the requirement instead of surfacing an
        // opaque FS error from deep inside a commit. Only the FS's own
        // "not supported" signal gets this diagnosis — an
        // AccessDeniedException / NoSuchFileException / disk-full is a
        // different failure and must not point users at the wrong
        // remedy, so those get a neutral wrap with the cause chained.
        case e: UnsupportedOperationException =>
          throw new IllegalStateException(
            s"versioned-table commit needs hard-link support on local storage " +
              s"(atomic manifest CAS via Files.createLink) but the filesystem at " +
              s"$dir refused it — move the table root to a POSIX filesystem with " +
              "hard links, or mount it under a non-file:// scheme (hdfs/s3) where " +
              "the rename-based CAS path applies", e)
        case e: java.nio.file.FileSystemException =>
          throw new IllegalStateException(
            s"manifest CAS publish failed at $dir " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage})", e)
      }
      finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      // HDFS-like: write a private tmp FULLY, then rename — HDFS
      // rename fails when the destination exists, which is the CAS,
      // and the content is complete at the instant the name appears.
      // (create(overwrite=false) alone is atomic for the name but not
      // the content: a crash between create and close leaves a torn
      // pointer.) A crash before the rename leaves only an orphan tmp,
      // swept by vacuum.
      val tmp = new Path(manifest.getParent,
        ".tmp-" + java.util.UUID.randomUUID.toString.take(8))
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      val won = try fs.rename(tmp, manifest) catch { case _: java.io.IOException => false }
      if (!won) fs.delete(tmp, false)
      won
    }
  }

  /** Commit `merge(currentBase)` as the next version. The merge
    * function receives the current snapshot's DataFrame (None for an
    * empty table) and MUST be re-computable: a committer that loses the
    * CAS race re-invokes it against the winner's snapshot, which is
    * what makes concurrent commits serialize without lost updates.
    * Returns the committed version number.
    */
  def commit(
      spark: SparkSession,
      root: String,
      format: String,
      merge: Option[DataFrame] => DataFrame,
      partitionBy: Seq[String] = Nil,
      commitKind: String = "rewrite"): Long = {
    val (_, rootP) = fsFor(spark, root)
    commitRewrite(spark, root, format, partitionBy, commitKind)(snap =>
      Some(merge(snap.map(s => load(spark, rootP, format, s.dataDirs)))))
  }

  /** [[commit]] for callers that re-derive their result from each
    * attempt's snapshot: `derive` returns the rows of the next version,
    * or None to commit nothing (the result is then the snapshot's
    * version, 0 for an empty table).
    */
  private[graft] def commitRewrite(spark: SparkSession, root: String, format: String,
                                   partitionBy: Seq[String] = Nil, kind: String = "rewrite")
                                  (derive: Option[Snapshot] => Option[DataFrame]): Long = {
    val (fs, rootP) = fsFor(spark, root)
    ManifestTxn.commit(spark, root, "versioned commit", Some(format)) { snap =>
      derive(snap) match {
        case Some(rows) => rewrite(spark, fs, rootP, format, snap, rows, partitionBy, kind)
        case None => NoOp(snap.map(_.version).getOrElse(0L))
      }
    }
  }

  /** A fresh data dir name for version `next`. */
  private def newDirName(next: Long): String =
    f"data-$next%010d-" + java.util.UUID.randomUUID.toString.take(8)

  /** Write `rows` into the new data dir `dirName` (hive-partitioned by
    * `partitionBy`) plus its stats sidecar.
    */
  private def writeDir(spark: SparkSession, fs: FileSystem, rootP: Path, format: String,
                       rows: DataFrame, partitionBy: Seq[String], dirName: String): Unit = {
    val dataDir = new Path(rootP, dirName)
    val w = rows.write.format(format).mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(dataDir.toString)
    FileStats.writeSidecar(spark, fs, dataDir, format)
  }

  /** The full-rewrite body: `rows` land in ONE new data dir, which the
    * next version's pointer names alone.
    */
  private def rewrite(spark: SparkSession, fs: FileSystem, rootP: Path, format: String,
                      snap: Option[Snapshot], rows: DataFrame, partitionBy: Seq[String],
                      kind: String, tag: Option[String] = None): Publish = {
    val dirName = newDirName(snap.map(_.version + 1).getOrElse(1L))
    writeDir(spark, fs, rootP, format, rows, partitionBy, dirName)
    Publish(Pointer(Seq(dirName), Some(kind), Some(partitionBy), tag = tag), Seq(dirName))
  }

  private val DefaultCompactAfter = 16

  /** Append-only commit: write ONLY the delta rows to a private
    * directory and publish a pointer listing the base's directories
    * plus the new one — O(delta) I/O however large the table, which is
    * the only append cost model that survives 100 TB. Once a version
    * would reference more than `compactAfter` directories, the commit
    * compacts instead (one full rewrite into a single directory), so
    * read-side file counts stay bounded without a separate maintenance
    * job. Losing the CAS race is CHEAP here: the delta directory is
    * reused unchanged and only the pointer content is recomputed
    * against the winner's snapshot.
    */
  def commitDelta(
      spark: SparkSession,
      root: String,
      format: String,
      delta: DataFrame,
      partitionBy: Seq[String] = Nil,
      compactAfter: Int = DefaultCompactAfter,
      tag: Option[String] = None): Long = {
    tag.foreach(t => require(!t.contains("\n") && t.trim.nonEmpty,
      s"commit tag must be a non-empty single line, got '$t'"))
    require(compactAfter >= 1, "compactAfter must be >= 1")
    val (fs, rootP) = fsFor(spark, root)
    val deltaName = "data-delta-" + java.util.UUID.randomUUID.toString.take(8)
    writeDir(spark, fs, rootP, format, delta, partitionBy, deltaName)
    ManifestTxn.commit(spark, root, "versioned append", Some(format), kept = Seq(deltaName))(
      appendStep(spark, fs, rootP, format, _, deltaName, partitionBy, compactAfter, tag))
  }

  /** [[commitDelta]] for callers that re-derive their delta from each
    * attempt's snapshot (e.g. IncrementalDedup re-checking its
    * survivors against the rows a racing writer admitted): `derive`
    * returns the delta rows, or None to commit nothing (the result is
    * then the snapshot's version). The delta dir is written per
    * attempt and deleted when the attempt loses the race.
    */
  private[graft] def commitDerivedDelta(spark: SparkSession, root: String, format: String)
                                       (derive: Option[Snapshot] => Option[DataFrame]): Long = {
    val (fs, rootP) = fsFor(spark, root)
    ManifestTxn.commit(spark, root, "versioned append", Some(format)) { snap =>
      derive(snap) match {
        case Some(delta) =>
          val deltaName = "data-delta-" + java.util.UUID.randomUUID.toString.take(8)
          writeDir(spark, fs, rootP, format, delta, Nil, deltaName)
          val step = appendStep(spark, fs, rootP, format, snap, deltaName, Nil,
            DefaultCompactAfter, None)
          step.copy(staged = deltaName +: step.staged)
        case None => NoOp(snap.map(_.version).getOrElse(0L))
      }
    }
  }

  /** The append body over `snap`: the base's entries plus `deltaName`,
    * or — past `compactAfter` entries — a fold of both into one new dir.
    */
  private def appendStep(spark: SparkSession, fs: FileSystem, rootP: Path, format: String,
                         snap: Option[Snapshot], deltaName: String, partitionBy: Seq[String],
                         compactAfter: Int, tag: Option[String]): Publish = {
    val baseDirs = snap.map(_.dataDirs).getOrElse(Nil)
    if (baseDirs.length + 1 <= compactAfter)
      Publish(Pointer(baseDirs :+ deltaName, Some("append"), Some(partitionBy), tag = tag))
    else
      // fold: this commit both APPENDS the delta dir's rows and
      // repackages the whole table — the kind records WHICH dir carries
      // the new rows, so delta-maintenance readers (MaterializedAgg,
      // diffVersions) survive the bounded auto-compaction instead of
      // treating it as an opaque rewrite. The delta dir stays on disk
      // for vacuum's grace period to sweep: deleting it here would yank
      // the freshest rows out from under a readStream consumer
      // mid-listing (streams read delta dirs, never compacted dirs).
      rewrite(spark, fs, rootP, format, snap, load(spark, rootP, format, baseDirs :+ deltaName),
        partitionBy, s"fold:$deltaName", tag)
  }

  /** FILE-PRUNED keyed merge — the commit that keeps MERGE O(touched
    * data) instead of O(table) at 100 TB. Classic [[commit]] merges
    * rewrite every file of the snapshot; this one consults the
    * per-file min/max stats ([[FileStats]] sidecars written by every
    * commit) and rewrites ONLY the files whose `keys.head` range can
    * contain a source key. Everything else carries over in the next
    * manifest BY REFERENCE (file-level entries) — zero data I/O for
    * untouched files, which at a 1000-executor scale is the difference
    * between a merge that moves gigabytes and one that moves the whole
    * table.
    *
    * Soundness: a file whose key range provably contains NO source key
    * (binary search of the sorted distinct source keys against the
    * file's [min,max]) cannot hold a row the upsert would replace, so
    * carrying it over byte-identical IS the merge for that file. Files
    * without usable stats (missing sidecar, unsupported key type,
    * all-null chunks) are conservatively rewritten. When the source
    * key set is too large to collect (> `maxCollectedKeys` distinct),
    * pruning falls back to the [min,max] interval of the source keys —
    * coarser, still sound.
    *
    * `merge(touchedBase, source)` computes the replacement rows for
    * the touched subset (default: upsert — source rows win, unmatched
    * touched-base rows survive). It must be re-computable: a CAS race
    * loser re-derives against the winner's snapshot.
    *
    * Hive-partitioned snapshots classify at LEAF-FILE level inside
    * partition subtrees ([[classifyEntriesBy]]): sidecar relative
    * paths keep the `col=value/` segments, so untouched files carry
    * over as partition-qualified file refs and only intersecting
    * leaves rewrite. Files without a usable sidecar rewrite.
    *
    * The commit publishes `#kind=merge`: delta-maintenance readers
    * (streams, matviews, diffVersions' fast path) correctly treat the
    * span as a rewrite.
    */
  def commitMerge(
      spark: SparkSession,
      root: String,
      format: String,
      source: DataFrame,
      keys: Seq[String],
      merge: (DataFrame, DataFrame) => DataFrame = null,
      partitionBy: Seq[String] = Nil,
      maxCollectedKeys: Int = 4000000): Long = {
    require(keys.nonEmpty, "commitMerge needs at least one key column")
    val mergeFn: (DataFrame, DataFrame) => DataFrame =
      if (merge != null) merge
      else (touched, src) => src.unionByName(
        touched.join(src.select(keys.map(org.apache.spark.sql.functions.col): _*),
          keys, "left_anti"),
        allowMissingColumns = true)
    val (fs, rootP) = fsFor(spark, root)

    // The source key set is collected ONCE (it prices the pruning for
    // every attempt); the per-file classification reruns per attempt
    // against the current snapshot.
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    val keyCol = keys.head
    val distinctKeys = source.select(col(keyCol)).where(col(keyCol).isNotNull).distinct()
    val keyRows = distinctKeys.limit(maxCollectedKeys + 1).collect()
    val pruner: FileStats.ColStat => Boolean =
      if (keyRows.length <= maxCollectedKeys) {
        val sorted = keyRows.map(r => normalizeKey(r.get(0))).sortWith(FileStats.cmp(_, _) < 0)
        if (sorted.isEmpty) _ => false // empty source: nothing touches
        else st => FileStats.rangeHitsKeys(st, scala.collection.immutable.ArraySeq.unsafeWrapArray(sorted))
      } else {
        val mm = source.agg(smin(col(keyCol)), smax(col(keyCol))).head()
        val (lo, hi) = (normalizeKey(mm.get(0)), normalizeKey(mm.get(1)))
        st => FileStats.rangeOverlaps(st, lo, hi)
      }

    ManifestTxn.commit(spark, root, "versioned merge", Some(format)) {
      case None =>
        // empty table: the merge IS the source — a plain first commit
        rewrite(spark, fs, rootP, format, None, source, partitionBy, "merge")
      case Some(s) =>
        // no usable stats on a file: conservatively rewrite it
        val (untouchedEntries, touchedFiles) = classifyEntriesBy(fs, rootP, s.dataDirs,
          _.flatMap(_.cols.get(keyCol)).forall(pruner))
        val dirName = newDirName(s.version + 1)
        // keep the hive layout through partial rewrites too — a flat
        // replacement dir on a partitioned table is correct (partition
        // cols become data cols) but degrades later partition-level
        // operations
        writeDir(spark, fs, rootP, format,
          mergeFn(touchedRows(spark, rootP, format, s, touchedFiles), source), partitionBy, dirName)
        Publish(Pointer(untouchedEntries :+ dirName, Some("merge"), Some(partitionBy)),
          Seq(dirName))
    }
  }

  /** The rows of a pruned rewrite's touched files — an empty frame with
    * the snapshot's schema when nothing is touched.
    */
  private def touchedRows(spark: SparkSession, rootP: Path, format: String, s: Snapshot,
                          touchedFiles: Seq[String]): DataFrame =
    if (touchedFiles.nonEmpty) load(spark, rootP, format, touchedFiles)
    else load(spark, rootP, format, Seq(s.dataDirs.last)).limit(0)

  /** PARTITION-PRUNED dynamic partition overwrite — the commit that
    * keeps `overwrite_partition` O(touched partitions) instead of
    * O(table) at 100 TB. The classic [[commit]] route anti-joins the
    * whole base and rewrites every byte; this one classifies the
    * snapshot's hive leaves against the source's partition tuples and
    * rewrites NOTHING: untouched leaves carry over in the next
    * manifest as partition-subtree references (`dir/p=v`), touched
    * leaves are simply dropped, and the source lands as one new
    * partitioned directory. Data I/O = writing the source — the cost
    * model of Spark's own dynamic partitionOverwriteMode, plus
    * snapshot isolation and time travel.
    *
    * Matching is by Spark's partition-path value domain: source tuples
    * render via CAST(col AS STRING) (exactly the value Spark escapes
    * into the `col=value` path) and directory names decode via
    * the catalyst unescape — so `p=a%20b` matches the source value
    * "a b". Null partition values are refused loudly (the
    * `__HIVE_DEFAULT_PARTITION__` sentinel round-trips ambiguously
    * with the literal string).
    *
    * Layouts this cannot classify — a flat (unpartitioned) data dir, a
    * dir partitioned by DIFFERENT columns, a flat file ref from an
    * earlier [[commitMerge]] — fall back to the full-rewrite
    * anti-join+union commit, which is always sound. Reference analog:
    * drune's writer.py `overwrite_partition` mode over
    * `insertInto`-style dynamic overwrite (reference engines/spark/
    * steps/writer.py:27-36); the manifest carry-over is this repo's
    * scale re-expression.
    */
  def commitPartitionOverwrite(
      spark: SparkSession,
      root: String,
      format: String,
      source: DataFrame,
      partitionBy: Seq[String]): Long = {
    require(partitionBy.nonEmpty, "commitPartitionOverwrite needs partition columns")
    val (fs, rootP) = fsFor(spark, root)
    import org.apache.spark.sql.functions.col
    // Write the source FIRST into a private partitioned dir, then
    // derive the touched set from the leaves ACTUALLY written — the
    // classification can never disagree with the data (a
    // collect-then-write would re-evaluate a non-deterministic source
    // and could land rows in a partition classified untouched, leaving
    // old and new rows visible together). The dir name is claimed
    // pre-CAS like commitDelta's delta dirs; a CAS race loss reuses it
    // unchanged (pointer-only retry).
    // The per-file min/max sidecar lets later stats-pruned
    // merges/deletes and read-side data skipping classify this dir at
    // leaf-file level, like every other commit's dirs.
    val dirName = "data-po-" + java.util.UUID.randomUUID.toString.take(8)
    val dataDir = new Path(rootP, dirName)
    writeDir(spark, fs, rootP, format, source, partitionBy, dirName)
    val touched: Set[Seq[String]] =
      partitionLeaves(fs, dataDir, partitionBy).getOrElse(throw new IllegalStateException(
        s"commitPartitionOverwrite at $root wrote $dirName but its layout does not " +
          s"match partitionBy=${partitionBy.mkString(",")} — concurrent mutation of a " +
          "private directory")).map(_._2).toSet
    touched.flatten.find(_ == "__HIVE_DEFAULT_PARTITION__").foreach { _ =>
      fs.delete(dataDir, true)
      throw new IllegalArgumentException(
        s"commitPartitionOverwrite at $root: null partition value — the hive default " +
          "sentinel round-trips ambiguously; null partitions are not supported on " +
          "versioned sinks")
    }
    if (touched.isEmpty) {
      // dynamic-overwrite of nothing replaces nothing: no-op, like
      // Spark's own dynamic partitionOverwriteMode with an empty frame.
      // On a table with no committed version yet, commit the empty
      // source FLAT (no partitionBy): a partitioned 0-row write emits
      // no data files, and a v1 pointing at an empty dir would fail
      // schema inference on every later read.
      fs.delete(dataDir, true)
      return commitRewrite(spark, root, format, kind = "merge")(snap =>
        if (snap.isDefined) None else Some(source))
    }
    ManifestTxn.commit(spark, root, "versioned partition overwrite", Some(format),
        kept = Seq(dirName)) {
      // empty table: the written dir IS the first version
      case None => Publish(Pointer(Seq(dirName), Some("merge"), Some(partitionBy)))
      case snap @ Some(s) =>
        classifyPartitionEntries(fs, rootP, s.dataDirs, partitionBy, touched) match {
          case None =>
            // not partition-classifiable: sound full-rewrite fallback
            // (the unused written dir is deleted once this lands)
            val parts = source.select(partitionBy.map(col): _*).distinct()
            rewrite(spark, fs, rootP, format, snap,
              load(spark, rootP, format, s.dataDirs).join(parts, partitionBy, "left_anti")
                .unionByName(source, allowMissingColumns = true),
              partitionBy, "merge")
          case Some(carried) =>
            Publish(Pointer(carried :+ dirName, Some("merge"), Some(partitionBy)))
        }
    }
  }

  /** Split a snapshot's entries for a partition overwrite: Some(the
    * entries to carry over) — untouched whole dirs stay whole-dir
    * entries, partially-touched dirs decompose into partition-subtree
    * refs for their untouched leaves, touched leaves drop. None = some
    * entry is not classifiable against `partitionBy` (flat dir, flat
    * file ref, different partition columns/depth, stray data files at
    * a non-leaf level) and the caller must full-rewrite.
    */
  private def classifyPartitionEntries(
      fs: FileSystem, rootP: Path, entries: Seq[String],
      partitionBy: Seq[String], touched: Set[Seq[String]])
      : Option[Seq[String]] = {
    val carried = Seq.newBuilder[String]
    for (entry <- entries) {
      if (isPartitionRef(entry)) {
        val segs = entry.split('/')
        val names = segs.drop(1).map(_.takeWhile(_ != '='))
        if (!names.sameElements(partitionBy)) return None
        val vals = segs.drop(1).zip(partitionBy).map { case (seg, c) =>
          unescapePartitionValue(seg.substring(c.length + 1))
        }
        if (!touched.contains(vals.toSeq)) carried += entry
      } else if (isFileRef(entry)) {
        return None // flat file ref: its rows' partitions are unknown
      } else {
        partitionLeaves(fs, new Path(rootP, entry), partitionBy) match {
          case None => return None
          case Some(leaves) =>
            val (t, u) = leaves.partition { case (_, vals) => touched.contains(vals) }
            if (t.isEmpty) carried += entry // whole dir survives as-is
            else carried ++= u.map { case (rel, _) => s"$entry/$rel" }
        }
      }
    }
    Some(carried.result())
  }

  /** Leaf partition subtrees of a hive-partitioned data dir, as
    * (relative path, decoded value tuple) at exactly `partitionBy`
    * depth — or None when the layout does not match (flat dir, other
    * column names, data files at a non-leaf level). O(partitions)
    * directory listings, zero data I/O.
    */
  private def partitionLeaves(fs: FileSystem, dir: Path, partitionBy: Seq[String])
      : Option[Seq[(String, Seq[String])]] = {
    def walk(p: Path, rel: String, vals: List[String], depth: Int)
        : Option[Seq[(String, Seq[String])]] =
      if (depth == partitionBy.length) Some(Seq((rel, vals.reverse)))
      else {
        val entries = fs.listStatus(p).toSeq
          .filterNot(e => e.getPath.getName.startsWith("_") || e.getPath.getName.startsWith("."))
        if (entries.exists(e => !e.isDirectory)) None // stray data file above leaf depth
        else {
          val expect = partitionBy(depth) + "="
          if (!entries.forall(_.getPath.getName.startsWith(expect))) None
          else {
            val results = entries.map { e =>
              val name = e.getPath.getName
              walk(e.getPath, if (rel.isEmpty) name else s"$rel/$name",
                unescapePartitionValue(name.substring(expect.length)) :: vals, depth + 1)
            }
            if (results.exists(_.isEmpty)) None else Some(results.flatMap(_.get))
          }
        }
      }
    walk(dir, "", Nil, 0)
  }

  /** Decode one hive partition-path value the way Spark encoded it. */
  private def unescapePartitionValue(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)

  /** STATS-PRUNED `overwrite_where` (Delta's replaceWhere) — result
    * semantics are `base WHERE cond IS NOT TRUE  UNION  source WHERE
    * cond` (rows where cond evaluates NULL are KEPT, matching SQL
    * DELETE/replaceWhere three-valued logic), but a file whose
    * per-column min/max ranges PROVE it holds no cond-matching row is
    * carried over in the next manifest BY REFERENCE instead of being
    * filtered and rewritten: for a condition confined to a clustered
    * column's range (the typical backfill — "replace this date
    * span"), the commit rewrites only the intersecting files,
    * O(touched + source) instead of O(table).
    *
    * Soundness: pruning uses only constraints IMPLIED by `cond` —
    * top-level conjuncts of simple comparisons (`col >= lit` etc.,
    * strict inequalities widened to closed bounds, anything inside
    * OR/NOT/casts contributing nothing). A file disjoint from an
    * implied constraint's interval cannot hold a cond=TRUE row, so
    * `WHERE cond IS NOT TRUE` is the identity on it (NULL-evaluating
    * rows are kept by that filter too) and the byte-identical
    * carry-over IS the rewrite. Files without usable stats, and
    * conditions yielding no constraints, rewrite conservatively;
    * hive layouts classify at leaf-file level inside partition dirs.
    *
    * `transform` post-processes the replacement rows (the Writer
    * passes its z-order clustering here, mirroring commitMerge).
    */
  def commitOverwriteWhere(
      spark: SparkSession,
      root: String,
      format: String,
      source: DataFrame,
      cond: String,
      transform: DataFrame => DataFrame = identity,
      partitionBy: Seq[String] = Nil): Long =
    overwriteWhere(spark, root, format, _ => source, cond, transform, partitionBy)

  /** [[commitOverwriteWhere]] over a source derived from each attempt's
    * snapshot. replaceWhere guards its region by re-filtering the
    * source with `cond`; an UPDATE's replacement rows may no longer
    * SATISFY the condition they matched pre-update (SET touching a
    * WHERE column) — commitUpdate passes `filterSource = false` so they
    * land instead of vanishing.
    */
  private def overwriteWhere(
      spark: SparkSession, root: String, format: String,
      sourceOf: Option[Snapshot] => DataFrame, cond: String,
      transform: DataFrame => DataFrame, partitionBy: Seq[String],
      filterSource: Boolean = true): Long = {
    val (fs, rootP) = fsFor(spark, root)
    val constraints = condConstraints(spark, cond)
    // a file is untouchable iff SOME implied constraint's interval is
    // provably disjoint from the file's range for that column
    val touchesFile: Option[FileStats.FileStat] => Boolean = {
      case Some(st) =>
        // PARTITION columns never appear in footer stats (their values
        // live in the path) — derive min=max constants from the
        // file's col=value segments so a replaceWhere keyed on the
        // partition column still prunes file-level (O(touched), not
        // O(table)). Numeric-looking values compare numerically,
        // mirroring the cast Spark applies to the real predicate; an
        // uncomparable pair yields no verdict → conservatively touched.
        lazy val partConsts: Map[String, Any] = st.file.split('/').dropRight(1)
          .filter(s => s.contains('=') && !s.startsWith("=")).flatMap { seg =>
            val kv = seg.split("=", 2)
            val k = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(kv(0))
            val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(kv(1))
            if (raw == "__HIVE_DEFAULT_PARTITION__") None // null: no verdict
            else Some(k -> (scala.util.Try(raw.toLong).toOption
              .orElse(scala.util.Try(raw.toDouble).toOption)
              .getOrElse(raw): Any))
          }.toMap
        def excluded(c: String, lo: Option[Any], hi: Option[Any]): Boolean =
          st.cols.get(c).map(cs => (cs.min, cs.max))
            .orElse(partConsts.get(c).map(v => (v, v)))
            .exists { case (mn, mx) =>
              lo.flatMap(l => statCmp(mx, l)).exists(_ < 0) ||
                hi.flatMap(h => statCmp(mn, h)).exists(_ > 0)
            }
        // untouched iff EVERY disjunct is provably excluded
        !constraints.forall(conj => conj.exists {
          case (c, lo, hi) => excluded(c, lo, hi)
        })
      case None => true
    }
    ManifestTxn.commit(spark, root, "versioned overwrite-where", Some(format)) {
      case None =>
        // legacy Writer contract on an empty table: the source lands
        // whole (no base rows to preserve, nothing to filter)
        rewrite(spark, fs, rootP, format, None, transform(sourceOf(None)), partitionBy, "merge")
      case snap @ Some(s) =>
        val sourceInRegion = if (filterSource) sourceOf(snap).where(cond) else sourceOf(snap)
        val (untouchedEntries, touchedFiles) = classifyEntriesBy(fs, rootP, s.dataDirs, touchesFile)
        val dirName = newDirName(s.version + 1)
        val replacement = touchedRows(spark, rootP, format, s, touchedFiles)
          .where(s"($cond) IS NOT TRUE").unionByName(sourceInRegion, allowMissingColumns = true)
        // keep the hive layout through partial rewrites (see commitMerge)
        writeDir(spark, fs, rootP, format, transform(replacement), partitionBy, dirName)
        // a replacement in which every touched row was deleted writes NO
        // files under a partitioned layout (dynamic writes emit nothing
        // for zero rows) — an empty dir in the manifest would fail
        // schema inference on read, and the exact commit is simply "the
        // carried entries alone"
        if (FileStats.listLeafDataFiles(fs, new Path(rootP, dirName)).nonEmpty)
          Publish(Pointer(untouchedEntries :+ dirName, Some("merge"), Some(partitionBy)),
            Seq(dirName))
        else {
          fs.delete(new Path(rootP, dirName), true)
          if (untouchedEntries.nonEmpty)
            Publish(Pointer(untouchedEntries, Some("merge"), Some(partitionBy)))
          else {
            // nothing carried AND nothing replaced: an empty table —
            // publish an empty FLAT dir (readable: the flat writer emits
            // a 0-row schema-bearing file)
            replacement.limit(0).write.format(format)
              .mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
              .save(new Path(rootP, dirName).toString)
            Publish(Pointer(Seq(dirName), Some("merge"), Some(partitionBy)), Seq(dirName))
          }
        }
    }
  }

  /** STATS-PRUNED row-level DELETE — `commitOverwriteWhere` with an
    * empty source: rows matching `cond` vanish, files whose min/max
    * ranges prove they hold no matching row carry over BY REFERENCE
    * untouched, only intersecting files rewrite through the
    * `(cond) IS NOT TRUE` filter (three-valued logic: a NULL
    * predicate keeps the row — DELETE removes only rows where the
    * condition is TRUE). The GDPR/backfill-retraction commit shape:
    * O(touched files), not O(table). Returns the committed version.
    */
  def commitDelete(
      spark: SparkSession,
      root: String,
      cond: String,
      format: String = ""): Long = {
    val fmt = resolveFormat(spark, root, format)
    val empty = read(spark, root, fmt).limit(0)
    // a hive-partitioned table takes the full-rewrite fallback inside
    // commitOverwriteWhere — detect its partition columns so the
    // rewrite keeps the layout instead of silently flattening it
    commitOverwriteWhere(spark, root, fmt, empty, cond,
      partitionBy = detectPartitionColumns(spark, root))
  }

  /** UPDATE … SET … WHERE as a stats-pruned rewrite: the replacement
    * rows are the attempt's snapshot's matches with `assignments`
    * applied, and [[commitOverwriteWhere]] rewrites only the files
    * whose stats intersect the condition — O(touched), not O(table).
    * Assignments are SIMULTANEOUS (every right-hand side evaluates
    * against the pre-update row) and cast to the target column's type,
    * standard SQL UPDATE semantics. Same conservative postures as
    * DELETE: an unparsable condition degrades to the full rewrite, a
    * hive layout is preserved via the detected partition columns.
    */
  def commitUpdate(
      spark: SparkSession,
      root: String,
      cond: String,
      assignments: Map[String, String],
      format: String = ""): Long = {
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    val fmt = resolveFormat(spark, root, format)
    val byLower = assignments.map { case (k, v) => k.toLowerCase -> v }
    import org.apache.spark.sql.functions.{col, expr}
    // derived per attempt: a race loser must update the WINNER's
    // matching rows, not re-land the ones it read first
    def updatedOf(snap: Option[Snapshot]): DataFrame = {
      val cur = readVersion(spark, root, snap.getOrElse(throw new IllegalArgumentException(
        s"versioned table at $root has no committed version")).version, fmt)
      assignments.keys.foreach(c => require(
        cur.columns.exists(_.equalsIgnoreCase(c)),
        s"UPDATE at $root: SET targets unknown column '$c' " +
          s"(table columns: ${cur.columns.mkString(", ")})"))
      cur.where(cond).select(cur.schema.fields.map { f =>
        byLower.get(f.name.toLowerCase)
          .map(e => expr(e).cast(f.dataType).as(f.name))
          .getOrElse(col(s"`${f.name}`"))
      }.toIndexedSeq: _*)
    }
    // filterSource = false: the updated rows may no longer satisfy the
    // WHERE they matched (SET touching a WHERE column) — re-filtering
    // them would silently DELETE instead of update
    overwriteWhere(spark, root, fmt, updatedOf, cond, identity,
      detectPartitionColumns(spark, root), filterSource = false)
  }

  /** The hive partition column names of the current snapshot's layout.
    * The committed `#layout=` marker answers in O(1) when present
    * (every commit path records it); pre-marker pointers fall back to
    * the directory walk — every whole-dir entry must agree (Nil for
    * flat tables, mixed layouts, or snapshots of only file refs).
    * Partition-subtree refs carry their columns in the ref path itself.
    */
  private def detectPartitionColumns(spark: SparkSession, root: String): Seq[String] = {
    val (fs, rootP) = fsFor(spark, root)
    val snap = currentSnapshot(spark, root).getOrElse(return Nil)
    pointerAt(fs, mdirOf(rootP, root), snap.version).flatMap(_.layout) match {
      case Some(cols) => return cols
      case None => () // pre-marker pointer: walk the directories below
    }
    val entries = snap.dataDirs
    def colsOf(entry: String): Option[Seq[String]] =
      if (isPartitionRef(entry))
        Some(entry.split('/').drop(1).map(_.takeWhile(_ != '=')).toSeq)
      else if (isFileRef(entry)) {
        // a file ref inside hive subtrees carries its partition columns
        // in the middle `col=value` segments (pruned merges/deletes on
        // partitioned tables produce these); a flat file ref is a flat
        // layout; anything else is unknowable
        val mid = entry.split('/').drop(1).dropRight(1).toSeq
        if (mid.forall(s => s.contains('=') && !s.startsWith("=")))
          Some(mid.map(_.takeWhile(_ != '=')))
        else None
      }
      else {
        // walk one branch while names stay col=value-shaped
        def walk(p: Path, acc: List[String]): Seq[String] = {
          val subs = fs.listStatus(p).toSeq
            .filterNot(e => e.getPath.getName.startsWith("_") || e.getPath.getName.startsWith("."))
          subs.filter(_.isDirectory).map(_.getPath.getName) match {
            case names if names.nonEmpty && names.forall(_.contains('=')) &&
                names.map(_.takeWhile(_ != '=')).distinct.size == 1 =>
              val c = names.head.takeWhile(_ != '=')
              walk(new Path(p, names.head), c :: acc)
            case _ => acc.reverse
          }
        }
        Some(walk(new Path(rootP, entry), Nil))
      }
    val all = entries.map(colsOf)
    if (all.exists(_.isEmpty)) return Nil // file refs: layout unknowable
    val distinctLayouts = all.flatten.distinct
    distinctLayouts match {
      case Seq(one) if one.nonEmpty => one
      case _ => Nil
    }
  }

  /** Per-column closed intervals IMPLIED by `cond`: its top-level
    * conjuncts of the form `col <op> literal` (either operand order),
    * strict inequalities widened to closed bounds — a sound
    * SUPERSET of the true match set, which is all pruning needs.
    * OR/NOT subtrees, casts, functions and non-literal operands
    * contribute nothing (→ conservative). An unparsable condition
    * yields no constraints (→ every file rewrites).
    */
  private def condConstraints(spark: SparkSession, cond: String)
      : Seq[Seq[(String, Option[Any], Option[Any])]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    def litVal(e: Expression): Option[Any] = e match {
      case Literal(v, _) => v match {
        case i: java.lang.Integer => Some(i.longValue)
        case l: java.lang.Long    => Some(l.longValue)
        case s: java.lang.Short   => Some(s.longValue)
        case b: java.lang.Byte    => Some(b.longValue)
        case f: java.lang.Float   => Some(f.doubleValue)
        case d: java.lang.Double  => Some(d.doubleValue)
        case dec: org.apache.spark.sql.types.Decimal => Some(dec.toDouble)
        case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
        case _ => None
      }
      case _ => None
    }
    def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 => Some(a.nameParts.head)
      case _ => None
    }
    def ge(a: Expression, v: Expression) = // col >= v  →  [v, ∞)
      (for { c <- attrName(a); x <- litVal(v) } yield (c, Some(x): Option[Any], None: Option[Any])).toSeq
    def le(a: Expression, v: Expression) = // col <= v  →  (-∞, v]
      (for { c <- attrName(a); x <- litVal(v) } yield (c, None: Option[Any], Some(x): Option[Any])).toSeq
    def eq(a: Expression, v: Expression) =
      (for { c <- attrName(a); x <- litVal(v) } yield (c, Some(x): Option[Any], Some(x): Option[Any])).toSeq
    def minMax(xs: Seq[Any]): Option[(Any, Any)] =
      xs.tail.foldLeft(Option((xs.head, xs.head))) {
        case (Some((lo, hi)), v) =>
          for { cl <- statCmp(v, lo); ch <- statCmp(v, hi) }
            yield (if (cl < 0) v else lo, if (ch > 0) v else hi)
        case (None, _) => None
      }
    def leaf(e: Expression): Seq[(String, Option[Any], Option[Any])] = e match {
      case GreaterThanOrEqual(a, v)  => ge(a, v) ++ le(v, a)
      case GreaterThan(a, v)         => ge(a, v) ++ le(v, a) // widened: sound
      case LessThanOrEqual(a, v)     => le(a, v) ++ ge(v, a)
      case LessThan(a, v)            => le(a, v) ++ ge(v, a) // widened: sound
      case EqualTo(a, v)             => eq(a, v) ++ eq(v, a)
      case In(a, vals) if vals.nonEmpty =>
        // col IN (v1..vn) ⊆ [min, max] — widened to the hull: sound
        // (the DNF walk below expands small IN lists exactly instead)
        (for {
          c <- attrName(a)
          lits = vals.map(litVal)
          if !lits.exists(_.isEmpty)
          mm <- minMax(lits.flatten)
        } yield (c, Some(mm._1): Option[Any], Some(mm._2): Option[Any])).toSeq
      case _ => Nil
    }
    def conj(e: Expression): Seq[(String, Option[Any], Option[Any])] = e match {
      case And(l, r) => conj(l) ++ conj(r)
      case other     => leaf(other)
    }
    // DISJUNCTS of conjuncts: a file is provably untouched iff EVERY
    // disjunct has a constraint excluding it. OR branches and small IN
    // lists expand exactly — the hull widening alone would classify a
    // partition-keyed `IN (0, 17, 18)` as touching every partition in
    // [0, 18]. Blowup is capped (the collapsed conjunction fallback
    // stays sound: fewer provable exclusions, never a wrong one).
    def dnf(e: Expression): Seq[Seq[(String, Option[Any], Option[Any])]] = e match {
      case And(l, r) =>
        val (a, b) = (dnf(l), dnf(r))
        if (a.length.toLong * b.length > 64) Seq(conj(e))
        else for { x <- a; y <- b } yield x ++ y
      case Or(l, r) =>
        val d = dnf(l) ++ dnf(r)
        if (d.length > 64) Seq(conj(e)) else d
      case In(a, vals) if vals.nonEmpty && vals.length <= 64 &&
          attrName(a).isDefined && vals.forall(litVal(_).isDefined) =>
        val c = attrName(a).get
        vals.map(v => Seq((c, litVal(v), litVal(v))))
      case other => Seq(leaf(other))
    }
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(cond)
      catch { case scala.util.control.NonFatal(_) => return Seq(Nil) }
    dnf(parsed)
  }

  /** [[FileStats.cmp]] with numeric widening and a None (no verdict)
    * instead of a throw on incomparable types — pruning must stay
    * conservative, never fail, on a type surprise.
    */
  private def statCmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long)     => Some(java.lang.Long.compare(x, y))
    case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
    // mixed long/double compares EXACTLY (a toDouble round-trip loses
    // precision past 2^53 and an off-by-one there could wrongly prove
    // a file disjoint — wrong results, not just a missed prune)
    case (x: Long, y: Double) if !y.isNaN && !y.isInfinite =>
      Some(java.math.BigDecimal.valueOf(x).compareTo(new java.math.BigDecimal(y)))
    case (x: Double, y: Long) if !x.isNaN && !x.isInfinite =>
      Some(new java.math.BigDecimal(x).compareTo(java.math.BigDecimal.valueOf(y)))
    case (x: Double, y: Long) if x.isInfinite => Some(if (x > 0) 1 else -1)
    case (x: Long, y: Double) if y.isInfinite => Some(if (y > 0) -1 else 1)
    // UNSIGNED UTF-8 BYTE order, not UTF-16 code units: parquet footer
    // min/max (and Spark's UTF8String) sort by UTF-8 bytes, which
    // disagrees with String.compareTo for supplementary-plane chars vs
    // U+E000..U+FFFF — a code-unit compare could wrongly prove a file
    // disjoint and carry rows a DELETE should have removed.
    case (x: String, y: String) => Some(
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
    case _ => None
  }

  /** Widen a collected key to the stats value domain (int→long,
    * float→double — [[FileStats]] stores widened values).
    */
  private[graft] def normalizeKey(v: Any): Any = v match {
    case i: java.lang.Integer => i.longValue()
    case l: java.lang.Long    => l.longValue()
    case f: java.lang.Float   => f.doubleValue()
    case d: java.lang.Double  => d.doubleValue()
    case s: String            => s
    case other => throw new IllegalArgumentException(
      s"commitMerge/readPruned key type ${if (other == null) "null" else other.getClass.getSimpleName} " +
        "has no file-stats support (long/int/double/string only)")
  }

  /** Split a snapshot's entries into (untouched entries to carry over,
    * touched file refs to rewrite) by a per-file predicate over the
    * file's stats — how [[commitMerge]] consults the key column's range
    * and [[commitOverwriteWhere]] several columns' ranges. A dir whose
    * every file is untouched carries over as the original DIR entry
    * (compact, classifiable); a partially-touched dir decomposes into
    * file refs.
    *
    * Hive-partitioned dirs and partition-subtree refs classify at the
    * LEAF-file level too: sidecars key files by dir-RELATIVE path
    * (partition subdirs ride along), the carried refs keep those
    * paths, and [[load]] restores the partition columns via basePath.
    * Files without stats (dirs committed before per-leaf sidecars
    * existed, non-parquet formats) classify touched.
    */
  private def classifyEntriesBy(
      fs: FileSystem, rootP: Path, entries: Seq[String],
      touchesFile: Option[FileStats.FileStat] => Boolean): (Seq[String], Seq[String]) = {
    val untouched = Seq.newBuilder[String]
    val touched = Seq.newBuilder[String]
    // one bounded-parallel prefetch of every distinct dir's sidecar
    // (a many-hundred-dir classification must not serialize GETs)
    val sidecarByDir: Map[String, Map[String, FileStats.FileStat]] =
      parallelMap(entries.map(entryDir).distinct) { d =>
        d -> FileStats.readSidecar(fs, new Path(rootP, d))
          .map(_.map(st => st.file -> st).toMap).getOrElse(Map.empty[String, FileStats.FileStat])
      }.toMap
    for (entry <- entries) {
      val dir = entryDir(entry)
      def fileTouched(rel: String): Boolean = touchesFile(sidecarByDir(dir).get(rel))
      if (isFileRef(entry) && !isPartitionRef(entry)) {
        if (fileTouched(entry.substring(dir.length + 1))) touched += entry else untouched += entry
      } else {
        // a whole dir or a partition subtree: classify its leaf files
        // against the dir's sidecar (a subtree ref's suffix is their
        // key prefix)
        val prefix = if (entry == dir) "" else entry.substring(dir.length + 1) + "/"
        val (t, u) = FileStats.listLeafDataFiles(fs, new Path(rootP, entry))
          .map(prefix + _).partition(fileTouched)
        if (t.isEmpty) untouched += entry // whole dir/subtree survives as-is
        else {
          untouched ++= u.map(f => s"$dir/$f")
          touched ++= t.map(f => s"$dir/$f")
        }
      }
    }
    (untouched.result(), touched.result())
  }

  /** Read the newest snapshot OPENING ONLY the files whose `col`
    * min/max range intersects [lower, upper] — manifest-level data
    * skipping: one sidecar read per directory instead of one footer
    * open per file, before any Spark job starts. The result still
    * contains every row of the surviving files, so apply the actual
    * filter on top; rows outside surviving files provably fail it.
    * Files/dirs without usable stats are read (conservative).
    */
  def readPruned(spark: SparkSession, root: String, colName: String,
                 lower: Any, upper: Any, format: String = "parquet"): DataFrame = {
    val (fs, rootP) = fsFor(spark, root)
    val snap = currentSnapshot(spark, root).getOrElse(throw new IllegalArgumentException(
      s"versioned table at $root has no committed version"))
    val (lo, hi) = (normalizeKey(lower), normalizeKey(upper))
    prunedEntries(spark, fs, rootP, snap.dataDirs, colName, lo, hi) match {
      case Seq() => load(spark, rootP, format, Seq(snap.dataDirs.last)).limit(0)
      case kept  => load(spark, rootP, format, kept)
    }
  }

  /** The entries [[readPruned]] would open (exposed for IO audits). */
  private[graft] def prunedEntries(
      spark: SparkSession, fs: FileSystem, rootP: Path, entries: Seq[String],
      colName: String, lo: Any, hi: Any): Seq[String] = {
    val kept = Seq.newBuilder[String]
    for (entry <- entries) {
      val dir = entryDir(entry)
      val dirP = new Path(rootP, dir)
      FileStats.readSidecar(fs, dirP).map(_.map(st => st.file -> st).toMap) match {
        case None => kept += entry // no sidecar: read it all
        case Some(statsByFile) =>
          def hits(rel: String): Boolean =
            statsByFile.get(rel).flatMap(_.cols.get(colName)) match {
              case Some(cs) => FileStats.rangeOverlaps(cs, lo, hi)
              case None => true
            }
          if (isPartitionRef(entry)) {
            // leaf-file skipping INSIDE the carried subtree (sidecar
            // keys are parent-relative; the ref suffix is the prefix)
            val prefix = entry.substring(entry.indexOf('/') + 1)
            val files = FileStats.listLeafDataFiles(fs, new Path(rootP, entry))
              .map(f => s"$prefix/$f")
            val keep = files.filter(hits)
            if (keep.length == files.length) kept += entry
            else kept ++= keep.map(f => s"$dir/$f")
          } else if (isFileRef(entry)) {
            if (hits(entry.substring(entry.indexOf('/') + 1))) kept += entry
          } else {
            // per-leaf listing: hive dirs skip file-level too (the
            // partition subdirs ride along in the sidecar keys)
            val files = FileStats.listLeafDataFiles(fs, dirP)
            val keep = files.filter(hits)
            if (keep.length == files.length) kept += entry
            else kept ++= keep.map(f => s"$dir/$f")
          }
      }
    }
    kept.result()
  }

  /** One committed version in [[history]]: its number, the manifest
    * pointer's modification time (= publish instant), and the data
    * directories it references.
    */
  final case class VersionInfo(version: Long, committedAt: java.sql.Timestamp,
                               dataDirs: Seq[String])

  /** Commit history, oldest first — the time-travel index (what
    * `DESCRIBE HISTORY` is on a lakehouse table). Reads only manifest
    * pointers (O(versions), no data I/O); versions already vacuumed
    * away do not appear.
    */
  def history(spark: SparkSession, root: String): Seq[VersionInfo] =
    history(spark, root, Int.MaxValue)

  /** [[history]] limited to the NEWEST `limit` versions (ascending
    * order preserved). The full call reads every manifest — O(V·E)
    * bytes, since every pointer lists the whole snapshot — which is
    * the right audit default but the wrong cost for "show me the last
    * 10 commits" against a 10k-version table; the limit bounds the
    * manifest reads to the tail actually asked for.
    */
  def history(spark: SparkSession, root: String, limit: Int): Seq[VersionInfo] = {
    require(limit >= 1, s"history limit must be >= 1, got $limit")
    val (fs, rootP) = fsFor(spark, root)
    listManifests(fs, mdirOf(rootP, root)).sortBy(-_._1).take(limit).sortBy(_._1).flatMap { case (v, p, mtime) =>
      // a pointer that DISAPPEARED since the listing is a concurrent
      // vacuum retiring it — drop it from the listing like vacuum
      // itself would have; a pointer that exists but is unreadable is a
      // hole in the audit trail and must be LOUD (vacuum aborts on the
      // same condition for the same reason)
      dirsOf(fs, mdirOf(rootP, root), v) match {
        case Some(dirs) => Some(VersionInfo(v, new java.sql.Timestamp(mtime), dirs))
        case None if !fs.exists(p) => None
        case None => throw new IllegalStateException(
          s"history at $root: manifest v$v is unreadable — transient store " +
            "failure or an in-flight publish; retry")
      }
    }
  }

  /** Compact the current snapshot into ONE data directory, committed as
    * a new version through the same CAS loop (OPTIMIZE for the
    * append-delta layout): read-side file/directory counts reset
    * without blocking writers — a concurrent append either lands before
    * (its delta is folded in) or after (it references the compacted
    * dir). No-op (returns the current version) when the snapshot is
    * already a single directory and no re-clustering was asked for.
    *
    * `zorderBy` turns the rewrite into OPTIMIZE-with-ZORDER: the
    * compacted directory is written as `zorderFiles` Morton-clustered
    * files (operators.ZOrder), so parquet min/max stats prune files
    * for filters on ANY clustered column — the one moment the table is
    * being rewritten anyway is exactly when clustering is free.
    */
  def compact(spark: SparkSession, root: String, format: String = "",
              partitionBy: Seq[String] = Nil,
              zorderBy: Seq[String] = Nil, zorderFiles: Int = 8): Long = {
    // "" = auto: maintenance callers rarely know the table's format,
    // and compacting a json table as parquet would fail (worse, it
    // used to record the wrong format before failing)
    val fmt = resolveFormat(spark, root, format)
    val (fs, rootP) = fsFor(spark, root)
    // a table with a LIVE catalog face keeps it current automatically —
    // otherwise a later vacuum would delete directories the stale view
    // still globs, breaking spark.table(name) until the next pipeline
    // write
    ManifestTxn.commit(spark, root, "versioned compaction", Some(fmt), sync = true) { snap =>
      val s = snap.getOrElse(throw new IllegalArgumentException(
        s"versioned table at $root has no committed version to compact"))
      // a snapshot holding FILE references (commitMerge carry-overs) is
      // always worth compacting: it pins whole parent dirs alive in
      // vacuum for the sake of a subset of their files
      if (s.dataDirs.length <= 1 && zorderBy.isEmpty && !s.dataDirs.exists(isFileRef))
        NoOp(s.version)
      else {
        val b = load(spark, rootP, fmt, s.dataDirs)
        rewrite(spark, fs, rootP, fmt, snap,
          if (zorderBy.isEmpty) b
          else graft.operators.ZOrder.cluster(b, zorderBy, zorderFiles, within = partitionBy),
          partitionBy, "compact")
      }
    }
  }

  private val CatalogMarker = "_catalog"
  private val FormatMarker = "_format"

  /** The storage format this table's commits were written with, if
    * recorded (every commit since the marker existed records it) — how
    * format-agnostic entry points (GRAFT_READ, compact, readStream)
    * avoid hard-coding parquet against a json/orc table. A marker that
    * EXISTS but fails to read is a transient store failure and must be
    * loud — silently degrading to parquet would misread the table with
    * a "corrupt file" error pointing the user at healthy data.
    */
  def tableFormat(spark: SparkSession, root: String): Option[String] = {
    val (fs, rootP) = fsFor(spark, root)
    val marker = new Path(new Path(rootP, ManifestDir), FormatMarker)
    val v = readSmall(fs, marker).map(_.trim).filter(_.nonEmpty)
    if (v.isEmpty && fs.exists(marker)) throw new IllegalStateException(
      s"format marker at $root exists but is unreadable — transient store " +
        "failure; retry (refusing to guess the storage format)")
    v
  }

  /** Resolve an entry point's format argument: "" (auto) reads the
    * recorded marker, defaulting to parquet for pre-marker tables.
    */
  private[graft] def resolveFormat(spark: SparkSession, root: String, format: String): String =
    if (format.nonEmpty) format
    else tableFormat(spark, root).getOrElse("parquet")

  /** Record the commit format once — genuinely first-committer-wins via
    * the same atomic create-no-overwrite CAS the manifest pointers use
    * (a bare exists-then-rename would be last-wins on local rename
    * semantics). The format of a table is invariant, so one record
    * suffices; called only AFTER a successful publish, so a failed
    * commit with a WRONG format claim (e.g. a maintenance call
    * defaulting to parquet against a json table) cannot poison the
    * marker.
    */
  private[pipeline] def recordFormat(fs: FileSystem, rootP: Path, format: String): Unit = {
    val marker = new Path(new Path(rootP, ManifestDir), FormatMarker)
    if (!fs.exists(marker)) casPublish(fs, marker, format)
  }

  /** The catalog view name recorded for this table (written by
    * [[syncCatalogView]]), if any — how maintenance operations that are
    * given only the storage root (CLI compact/vacuum) find the view
    * they must keep in sync.
    */
  def catalogName(spark: SparkSession, root: String): Option[String] = {
    val (fs, rootP) = fsFor(spark, root)
    catalogFace(fs, rootP).map(_._1)
  }

  /** Marker content: view name + newline + format. */
  private def catalogFace(fs: FileSystem, rootP: Path): Option[(String, String)] =
    readSmall(fs, new Path(new Path(rootP, ManifestDir), CatalogMarker)).flatMap { c =>
      val lines = c.split("\n").map(_.trim)
      lines.headOption.filter(_.nonEmpty)
        .map(_ -> lines.drop(1).headOption.filter(_.nonEmpty).getOrElse("parquet"))
    }

  /** Publish the CURRENT snapshot under a catalog name: `CREATE OR
    * REPLACE VIEW name` over the snapshot's data directories, so
    * `spark.table(name)` and pure SQL read the versioned table without
    * knowing the manifest protocol — the catalog face of a versioned
    * sink (reference table targets read back via the metastore,
    * writer.py:40-100; graft's pointer lives in the view text instead
    * of a Delta log). The replace is one metastore op, so readers flip
    * between complete snapshots, never a partial directory list.
    *
    * Called after every versioned commit by [[Writer]]; each call
    * re-reads the manifest, so concurrent committers syncing out of
    * order leave the view at most transiently stale (the next commit
    * re-syncs — exact-latest readers use [[read]], which consults the
    * manifest directly). Multi-directory (append-delta) snapshots
    * resolve through a `{d1,d2}` path glob; NOTE the plain view read
    * infers its schema without parquet mergeSchema, so an ADDITIVE
    * schema change in a delta becomes visible in the view after the
    * next compaction or full-merge commit (readers needing it sooner
    * set `spark.sql.parquet.mergeSchema=true` or use [[read]]).
    */
  def syncCatalogView(spark: SparkSession, name: String, root: String,
                      format: String = "parquet"): Unit = {
    require(branchOf(root).isEmpty,
      s"catalog views track the MAIN branch; publish the branch first (publishBranch), then sync: $root")
    val (fs, rootP) = fsFor(spark, root)
    val snap = currentSnapshot(spark, root).getOrElse(throw new IllegalStateException(
      s"cannot publish catalog view '$name': versioned table at $root has no committed version"))
    val pathExpr =
      if (snap.dataDirs.length == 1) s"$rootP/${snap.dataDirs.head}"
      else s"$rootP/{${snap.dataDirs.mkString(",")}}"
    // quote/escape everything interpolated into the statement: the view
    // name goes through backticks per part (a dotted name is a
    // db-qualified identifier), literals double their quotes — a root
    // path with an apostrophe must not fail the publish AFTER the data
    // commit landed
    val quotedName = name.split('.')
      .map(p => "`" + p.replace("`", "``") + "`").mkString(".")
    val comment = s"graft versioned table v${snap.version} at $root".replace("'", "''")
    spark.sql(
      s"CREATE OR REPLACE VIEW $quotedName " +
        s"COMMENT '$comment' " +
        s"AS SELECT * FROM $format.`${pathExpr.replace("`", "``")}`")
    // record the catalog face next to the manifest so maintenance ops
    // given only the root (compact/vacuum) can keep the view current.
    // Last published name wins (metadata, not a commit), but the write
    // is still tmp + rename: create-then-write could crash into a
    // permanently EMPTY marker, silently disabling the maintenance sync
    // this marker exists for (and casPublish's doc forbids torn
    // pointers for the same reason)
    val marker = new Path(new Path(rootP, ManifestDir), CatalogMarker)
    val tmp = new Path(marker.getParent, ".tmp-" + java.util.UUID.randomUUID.toString.take(8))
    val out = fs.create(tmp, true)
    try out.write(s"$name\n$format".getBytes("UTF-8")) finally out.close()
    fs.delete(marker, false) // POSIX rename replaces; HDFS rename needs the target gone
    if (!fs.rename(tmp, marker)) fs.delete(tmp, false) // racer published — theirs wins
  }

  /** Re-publish the catalog view iff the marker names one AND the
    * catalog still holds it as a view. Self-healing: a marker whose
    * name was since DROPped (or now names a physical table) is STALE
    * user intent — remove it and stop tracking, rather than resurrect
    * a deliberately-dropped view or wedge every future vacuum on a
    * CREATE OR REPLACE VIEW that can never succeed.
    */
  private[pipeline] def syncIfLinked(spark: SparkSession, root: String): Unit = {
    if (branchOf(root).nonEmpty) return // catalog views track main only
    val (fs, rootP) = fsFor(spark, root)
    catalogFace(fs, rootP).foreach { case (name, fmt) =>
      val isView =
        try spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(name)
        ).tableType == org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW
        catch { case _: org.apache.spark.sql.AnalysisException => false }
      if (isView) syncCatalogView(spark, name, root, fmt)
      else fs.delete(new Path(new Path(rootP, ManifestDir), CatalogMarker), false)
    }
  }

  /** RESTORE: republish `toVersion`'s exact entry set (and layout) as
    * a NEW commit — time-travel rollback with ZERO data I/O (the
    * target's immutable dirs carry over by reference; nothing is
    * copied or rewritten). The rolled-back-over versions stay in
    * history, auditable and still time-travelable until vacuum
    * retires them — the Delta `RESTORE TABLE ... VERSION AS OF`
    * shape. Publishes `#kind=restore`: delta-maintenance readers
    * (streams, matview refresh, diffVersions' fast path) treat the
    * span as a rewrite, which a rollback is.
    *
    * Refuses loudly when the target's data dirs were already vacuumed
    * (a restore must never publish dangling references), and no-ops
    * (returns the current version) when the table is already at the
    * target's entry set.
    */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    val (fs, rootP) = fsFor(spark, root)
    val target = pointerAt(fs, mdirOf(rootP, root), toVersion).getOrElse(
      throw new IllegalArgumentException(
        s"versioned table at $root has no committed version $toVersion " +
          "(never committed, or already vacuumed) — nothing to restore to"))
    val targetTops = target.entries.map(entryDir).distinct
    val gone = missingDirs(spark, root, targetTops)
    require(gone.isEmpty,
      s"cannot restore $root to v$toVersion: data dirs ${gone.mkString(", ")} were " +
        "already vacuumed — restore only reaches versions within the vacuum retention")
    // Pre-marker manifests carry NO layout line: the restored pointer
    // preserves that absence ("unknown, detect by walking"), not an
    // explicit-flat marker that would make a later layout-aware rewrite
    // silently flatten a legacy hive table.
    def restoreTo(entries: Seq[String], layout: Option[Seq[String]])
                 (snap: Option[Snapshot]): ManifestTxn.Step = snap match {
      case None => throw new IllegalArgumentException(
        s"versioned table at $root has no committed version")
      case Some(s) if s.dataDirs == entries => NoOp(s.version) // already there: no churn
      case Some(_) => Publish(Pointer(entries, Some("restore"), layout))
    }
    var pre: Option[Snapshot] = None // the snapshot the winning publish replaced
    val v = ManifestTxn.commit(spark, root, "restore") { snap =>
      val step = restoreTo(target.entries, target.layout)(snap)
      pre = step match { case _: Publish => snap; case _ => None }
      step
    }
    pre.fold(v) { snap =>
      // TOCTOU re-check: a vacuum that computed its referenced set
      // BEFORE this pointer landed can have swept the target's dirs
      // between validation and publish (they were outside its keep
      // window and too old for the grace period). This NARROWS the race
      // to the sub-second span between this re-check and an in-flight
      // sweep's final deletions — vacuum's own pre-sweep re-listing (see
      // vacuum) covers that side; full closure would need a
      // coordination primitive the protocol deliberately omits (Delta
      // documents the same RESTORE/VACUUM hazard). On detection, roll
      // the table FORWARD to the pre-restore snapshot (its dirs are the
      // newest-kept set, alive by vacuum's own retention) and refuse
      // loudly.
      val swept = missingDirs(spark, root, targetTops)
      if (swept.isEmpty) {
        syncIfLinked(spark, root)
        v
      } else {
        // The heal commits against the moving head like any commit. A
        // concurrent commit built on the dangling restore head is
        // poisoned regardless (its pointer copied the swept entries) —
        // rolling forward to the pre-restore snapshot is the best
        // consistent state available; the thrown message reports
        // honestly which outcome happened.
        val preLayout = pointerAt(fs, mdirOf(rootP, root), snap.version).flatMap(_.layout)
        val healed =
          try {
            ManifestTxn.commit(spark, root, "restore heal")(restoreTo(snap.dataDirs, preLayout))
            true
          } catch { case scala.util.control.NonFatal(_) => false }
        syncIfLinked(spark, root)
        throw new IllegalStateException(
          s"restore of $root to v$toVersion raced a vacuum: data dirs " +
            s"${swept.mkString(", ")} were swept after validation — " +
            (if (healed)
              "the table was rolled forward to its pre-restore snapshot. "
            else
              s"AND the roll-forward heal lost its publish race to concurrent " +
                s"writers, so the current head may still reference swept dirs; " +
                s"run VersionedTable.restore(root, ${snap.version}) to roll " +
                "forward manually. ") +
            "Raise the vacuum keep window to cover restore targets, or run " +
            "restore and vacuum from one maintenance process")
      }
    }
  }

  /** CREATE BRANCH: a zero-copy writable clone of `fromVersion` (or
    * the current snapshot) — Iceberg's branch / Delta's shallow-clone
    * use case, expressed inside one table root so every manifest entry
    * stays root-relative (rename-proof, no cross-root path baking).
    * The branch starts its OWN pointer sequence at v1 under
    * `_manifest/branches/<name>/`, referencing the fork point's
    * immutable data dirs by name: no data I/O at any table size.
    * Address it as `root#branch=<name>` ([[branchRoot]]) — every
    * entry point (read, time travel, incremental reads, all commit
    * flavors, restore, history) then operates on the branch; commits
    * write new data dirs into the shared namespace (UUID-suffixed, so
    * concurrent branch/main writers never collide) without touching
    * main. The write-audit-publish loop: branch → run the experimental
    * pipeline → validate → [[publishBranch]] fast-forwards main.
    *
    * Vacuum protects every dir any branch references (see [[vacuum]]);
    * the createBranch-vs-vacuum race gets restore's treatment — a
    * post-publish liveness re-check that deletes the new branch and
    * throws if its fork point was swept mid-create.
    *
    * Pre-fork history stays on main: the branch's v1 IS the fork
    * point; time travel below it happens on the main root.
    */
  def createBranch(spark: SparkSession, root: String, name: String,
                   fromVersion: Option[Long] = None): Long = {
    val bRoot = branchRoot(root, name) // validates name + rejects branch-of-branch
    val (fs, rootP) = fsFor(spark, root)
    val v = fromVersion.getOrElse(currentSnapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"versioned table at $root has no committed version — nothing to branch")).version)
    val fork = pointerAt(fs, mdirOf(rootP, root), v).getOrElse(
      throw new IllegalArgumentException(
        s"versioned table at $root has no committed version $v " +
          "(never committed, or already vacuumed) — nothing to branch from"))
    val tops = fork.entries.map(entryDir).distinct
    val gone = missingDirs(spark, root, tops)
    require(gone.isEmpty,
      s"cannot branch $root at v$v: data dirs ${gone.mkString(", ")} were already " +
        "vacuumed — branch only from versions within the vacuum retention")
    val created = ManifestTxn.commit(spark, bRoot, "createBranch") {
      case Some(_) => throw new IllegalArgumentException(s"branch '$name' already exists at $root")
      case None => Publish(Pointer(fork.entries, Some("branch"), fork.layout, fork = Some(v)))
    }
    // TOCTOU re-check (restore's hazard, simpler remedy): a vacuum that
    // computed its referenced set before this pointer landed may have
    // swept the fork point's dirs — detect, remove the dangling branch,
    // refuse loudly. Nothing else can have observed the branch yet
    // except a racing writer to the same new name, which the CAS above
    // already serialized.
    val swept = missingDirs(spark, root, tops)
    if (swept.nonEmpty) {
      fs.delete(mdirOf(rootP, bRoot), true)
      throw new IllegalStateException(
        s"createBranch('$name') of $root raced a vacuum: data dirs " +
          s"${swept.mkString(", ")} were swept after validation — the branch was " +
          "removed. Raise the vacuum keep window to cover branch fork points, or " +
          "run branching and vacuum from one maintenance process")
    }
    created
  }

  /** Names of the table's branches (empty when none exist). */
  def listBranches(spark: SparkSession, root: String): Seq[String] = {
    val (fs, rootP) = fsFor(spark, root)
    val broot = new Path(new Path(rootP, ManifestDir), BranchesDir)
    if (!fs.exists(broot)) Nil
    else fs.listStatus(broot).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  /** Drop a branch: delete its pointer sequence. Data dirs only the
    * branch referenced become unreferenced and are reclaimed by the
    * next [[vacuum]] (after its grace period). Idempotent — returns
    * whether the branch existed.
    */
  def dropBranch(spark: SparkSession, root: String, name: String): Boolean = {
    val bRoot = branchRoot(root, name)
    val (fs, rootP) = fsFor(spark, root)
    fs.delete(mdirOf(rootP, bRoot), true)
  }

  /** PUBLISH a branch: fast-forward MAIN's head to the branch's
    * current snapshot — the "audit passed, promote the experiment"
    * step. A pointer-only commit (`#kind=rewrite`: the branch may have
    * merged/deleted, so downstream delta maintenance must treat the
    * span as a rewrite); the branch's dirs are alive by construction
    * while its pointers exist (vacuum protects every
    * branch-referenced dir), so no liveness dance is needed — drop
    * the branch only AFTER the publish lands. No-op returning the
    * current main version when main already matches the branch head.
    *
    * FAST-FORWARD GUARD: the branch's v1 records its fork point
    * (`#fork=<mainVersion>`); publish REFUSES when main's head moved
    * past it — the audit (branchDiff) ran against a main the publish
    * would silently revert, the lost-update hazard Iceberg's
    * fast-forward also refuses. `force = true` (SQL:
    * `GRAFT_PUBLISH(path, name, FORCE)`) keeps last-writer-wins for
    * the operator who re-audited against the NEW main. Pre-guard
    * branches carry no fork marker → the guard cannot apply (legacy
    * last-writer-wins).
    */
  def publishBranch(spark: SparkSession, root: String, name: String,
                    force: Boolean = false): Long = {
    require(branchOf(root).isEmpty, s"publish targets the main root, got: $root")
    val bRoot = branchRoot(root, name)
    val (fs, rootP) = fsFor(spark, root)
    val bSnap = currentSnapshot(spark, bRoot).getOrElse(throw new IllegalArgumentException(
      s"branch '$name' of $root has no committed version — nothing to publish"))
    val fork: Option[Long] = latestFork(fs, mdirOf(rootP, bRoot))
    val layout = pointerAt(fs, mdirOf(rootP, bRoot), bSnap.version).flatMap(_.layout)
    ManifestTxn.commit(spark, root, s"publish of branch '$name'", sync = true) { main =>
      if (main.exists(_.dataDirs == bSnap.dataDirs)) NoOp(main.get.version)
      else {
        if (!force) fork.foreach { f =>
          val head = main.map(_.version).getOrElse(0L)
          if (head != f) throw new IllegalStateException(
            s"publish of branch '$name' at $root refused: main advanced past the " +
              s"fork point (forked at v$f, head is v$head) — publishing would " +
              "silently revert commits the branch audit never saw. Re-audit against " +
              "the CURRENT main (branchDiff / GRAFT_BRANCH_DIFF) and either " +
              "re-branch, or publish with force=true (SQL: GRAFT_PUBLISH(path, " +
              "name, FORCE)) to deliberately keep last-writer-wins")
        }
        Publish(Pointer(bSnap.dataDirs, Some("rewrite"), layout))
      }
    }
  }

  /** REBASE branch `name` onto main's CURRENT head — the constructive
    * answer to [[publishBranch]]'s fast-forward refusal. When the
    * branch span since its (re)base point only ADDED data (every
    * fork-inherited dir is still present in the branch head — no
    * branch-side merge/delete/compaction touched inherited data), its
    * net additions commute with whatever main did meanwhile: the
    * rebase commits `main-head dirs ++ branch additions` as one
    * pointer-only branch commit (zero data I/O) carrying a fresh
    * `#fork=<mainHead>` marker, after which the publish guard passes.
    * Returns the new branch version.
    *
    * A branch whose span rewrote or deleted inherited data REFUSES —
    * replaying arbitrary row changes onto a moved base is a semantic
    * three-way merge; audit with [[branchDiff]] and re-apply the
    * branch's intent on a fresh branch instead. STRUCTURAL rebase
    * only: if the branch appended rows that main meanwhile also
    * appended (or deleted), both survive/reappear — run the
    * write-audit-publish audit AFTER the rebase, exactly as before.
    *
    * Scale: manifest reads + one CAS — no data job, O(entries) strings
    * on the driver, same residency as every other pointer commit.
    */
  def rebaseBranch(spark: SparkSession, root: String, name: String): Long = {
    require(branchOf(root).isEmpty, s"rebase targets the main root, got: $root")
    val bRoot = branchRoot(root, name)
    val (fs, rootP) = fsFor(spark, root)
    val bm = mdirOf(rootP, bRoot)
    val mainM = mdirOf(rootP, root)
    // every attempt re-runs the checks against the CURRENT branch head
    // (a concurrent branch writer may have landed) and main head
    var rebased: Option[(Snapshot, Seq[String])] = None // (pre-rebase head, adopted dirs)
    val v = ManifestTxn.commit(spark, bRoot, s"rebase of branch '$name'") { snap =>
      rebased = None
      val bSnap = snap.getOrElse(throw new IllegalArgumentException(
        s"branch '$name' of $root has no committed version — nothing to rebase"))
      val main = currentSnapshot(spark, root).getOrElse(throw new IllegalArgumentException(
        s"versioned table at $root has no committed version — nothing to rebase onto"))
      val forkV = latestFork(fs, bm).getOrElse(throw new UnsupportedOperationException(
        s"branch '$name' of $root carries no fork marker (pre-guard branch) — rebase " +
          "cannot determine its base; re-create the branch from the current main"))
      if (forkV == main.version) NoOp(bSnap.version) // already based on head
      else {
        val baseDirs = dirsOf(fs, mainM, forkV).getOrElse(throw new IllegalStateException(
          s"main's manifest v$forkV (the fork base of branch '$name') no longer exists " +
            s"at $root (vacuumed) — cannot prove the branch span is append-only; " +
            "audit with branchDiff and re-branch from the current main"))
        val rewrote = baseDirs.filterNot(bSnap.dataDirs.contains)
        if (rewrote.nonEmpty) throw new UnsupportedOperationException(
          s"rebase of branch '$name' at $root refused: the branch span is not " +
            s"append-only — fork-inherited entries were rewritten or deleted on the " +
            s"branch (${rewrote.take(3).mkString(", ")}" +
            s"${if (rewrote.length > 3) ", …" else ""}). " +
            "Replaying row-level changes onto a moved main is a semantic three-way " +
            "merge: audit with branchDiff and re-apply the branch's intent on a " +
            "fresh branch of the current main")
        val bLayout = pointerAt(fs, bm, bSnap.version).flatMap(_.layout)
        val mLayout = pointerAt(fs, mainM, main.version).flatMap(_.layout)
        require(bLayout == mLayout,
          s"rebase of branch '$name' at $root refused: the branch head's data layout " +
            s"(${bLayout.getOrElse(Seq("flat")).mkString(",")}) differs from main's " +
            s"(${mLayout.getOrElse(Seq("flat")).mkString(",")}) — a rebased snapshot " +
            "would mix partition layouts")
        // additions = branch entries beyond its base, MINUS anything main
        // already holds (a published branch's entries are on main — naive
        // replay would double-count them)
        val adds = bSnap.dataDirs.filterNot(baseDirs.toSet).filterNot(main.dataDirs.toSet)
        val newDirs = main.dataDirs ++ adds
        if (newDirs == bSnap.dataDirs) NoOp(bSnap.version) // content already in sync
        else {
          val tops = newDirs.map(entryDir).distinct
          val gone = missingDirs(spark, root, tops)
          require(gone.isEmpty,
            s"cannot rebase branch '$name' at $root: data dirs ${gone.mkString(", ")} " +
              "were already vacuumed — re-branch from the current main")
          rebased = Some((bSnap, tops))
          Publish(Pointer(newDirs, Some("rewrite"), mLayout, fork = Some(main.version)))
        }
      }
    }
    // TOCTOU re-check (createBranch's hazard): a vacuum that computed
    // its referenced set before this pointer landed may have swept
    // main-head dirs the rebase adopted — heal by restoring the branch
    // to its pre-rebase head (pointer-only) and refuse loudly.
    rebased.foreach { case (bSnap, tops) =>
      val swept = missingDirs(spark, root, tops)
      if (swept.nonEmpty) {
        restore(spark, bRoot, bSnap.version)
        throw new IllegalStateException(
          s"rebase of branch '$name' at $root raced a vacuum: data dirs " +
            s"${swept.mkString(", ")} were swept after validation — the branch was " +
            "restored to its pre-rebase head. Raise the vacuum keep window, or run " +
            "rebase and vacuum from one maintenance process")
      }
    }
    v
  }

  /** What publishing branch `name` WOULD change on main — the AUDIT
    * step of write-audit-publish: keyed CDC between main's current
    * snapshot and the branch head
    * ([[graft.operators.Relational.snapshotDiff]]'s output shape —
    * added/removed/changed rows with changed-column attribution).
    * One full-outer sort-merge reconciliation of the two snapshots;
    * run it, eyeball/validate the report, then [[publishBranch]].
    */
  def branchDiff(spark: SparkSession, root: String, name: String,
                 keys: Seq[String], compare: Seq[String],
                 format: String = "parquet"): DataFrame = {
    require(branchOf(root).isEmpty, s"branchDiff targets the main root, got: $root")
    graft.operators.Relational.snapshotDiff(
      read(spark, root, format),
      read(spark, branchRoot(root, name), format),
      keys, compare)
  }

  /** Backfill the round-11 metadata sidecars (`_graft_schema`, and
    * `_graft_stats` with file sizes) into a LEGACY table's live data
    * dirs, so it gets manifest-planned scans (one synthesized
    * FileIndex, zero plan-time FS calls) without waiting for its next
    * compaction to rewrite the dirs. In-place and safe under
    * concurrent readers: sidecars are metadata (underscore-prefixed,
    * invisible to scans), and a reader that catches a half-written
    * sidecar parses it to None and takes the general per-dir path —
    * degraded, never wrong. Idempotent; returns the number of dirs
    * (re)written.
    */
  def upgradeMetadata(spark: SparkSession, root: String): Int = {
    val (fs, rootP) = fsFor(spark, root)
    val snap = currentSnapshot(spark, root).getOrElse(throw new IllegalArgumentException(
      s"versioned table at $root has no committed version"))
    val fmt = resolveFormat(spark, root, "")
    // metadata sidecars are a parquet feature (footer stats, schema
    // record) — refusing here beats reporting N dirs "upgraded" that
    // writeSidecar's format guard then silently skips, forever
    require(fmt == "parquet",
      s"versioned table at $root is format '$fmt' — metadata sidecars (and the " +
        "manifest-planned scan they enable) are parquet-only; nothing to upgrade")
    val dirs = snap.dataDirs.map(entryDir).distinct
    val stale = dirs.filter { d =>
      val p = new Path(rootP, d)
      FileStats.readSchemaSidecar(fs, p).isEmpty ||
        FileStats.readSidecar(fs, p).forall(_.exists(_.bytes < 0))
    }
    stale.foreach(d => FileStats.writeSidecar(spark, fs, new Path(rootP, d), fmt))
    stale.length
  }

  /** Retire history: keep the newest `keep` versions' pointers and data
    * directories; delete older pointers, then any `data-*` directory
    * that no surviving pointer references and whose modification time
    * is older than `graceMs` (the grace period protects a LIVE
    * committer's private directory, which has no pointer yet).
    */
  def vacuum(spark: SparkSession, root: String, keep: Int = 3,
             graceMs: Long = 3600L * 1000): Unit = {
    require(keep >= 1, "vacuum must keep at least the current version")
    // grace 0 is legitimate ONLY when no writer can be concurrent (a
    // negative grace would even delete dirs committed in the future of
    // a skewed clock — always a bug)
    require(graceMs >= 0, "vacuum grace must be >= 0")
    require(branchOf(root).isEmpty,
      "vacuum operates on the WHOLE table (data dirs are shared across " +
        "branches) — run it against the main root; branch pointers are " +
        "reclaimed by dropBranch")
    val (fs, rootP) = fsFor(spark, root)
    val mdir = new Path(rootP, ManifestDir)
    if (!fs.exists(mdir)) return
    // Dirs referenced by ANY branch pointer stay alive regardless of
    // main's keep window: a branch is a live reader/writer head over
    // the shared data-dir namespace. Unreadable branch pointers abort
    // (same contract as main's kept pointers — a silently shrunken
    // reference set would sweep live data).
    def branchReferenced(): Set[String] = {
      val broot = new Path(mdir, BranchesDir)
      if (!fs.exists(broot)) Set.empty
      else fs.listStatus(broot).filter(_.isDirectory).toSeq.flatMap { b =>
        listManifests(fs, b.getPath).flatMap { case (v, p, _) =>
          readSmall(fs, p).map(Pointer.parse(_).entries).getOrElse(throw new IllegalStateException(
            s"vacuum aborted: branch manifest v$v of '${b.getPath.getName}' at $root " +
              "is unreadable — re-run when the store is healthy (nothing was deleted)"))
            .map(entryDir)
        }
      }.toSet
    }
    // Every kept pointer MUST read back: a transient failure here would
    // silently shrink the referenced set and the sweep below would
    // delete LIVE data directories — abort instead; vacuum is always
    // safe to re-run later.
    def computeKeepSet(): (Seq[(Long, Path)], Seq[(Long, Path)], Set[String]) = {
      val manifests = listManifests(fs, mdirOf(rootP, root)).map(m => (m._1, m._2)).sortBy(-_._1)
      val (kept, retired) = manifests.splitAt(keep)
      val referenced = kept.flatMap { case (v, p) =>
        readSmall(fs, p).map(Pointer.parse(_).entries).getOrElse(throw new IllegalStateException(
          s"vacuum aborted: manifest v$v at $root is unreadable — " +
            "re-run when the store is healthy (nothing was deleted)"))
          // a FILE reference (commitMerge carry-over) keeps its whole
          // parent directory alive: vacuum's unit is the directory, and
          // partially-referenced dirs are reclaimed by the next compact
          .map(entryDir).toSet
      }.toSet ++ branchReferenced()
      (kept, retired, referenced)
    }
    // Pre-sweep STABILITY loop: a pointer that lands between the
    // referenced-set computation and the sweep (a concurrent commit —
    // or a RESTORE reaching back past the keep window, whose target
    // dirs this sweep would otherwise delete) must be seen before
    // anything is deleted. Re-list until the newest version is stable
    // across two listings; a writer outpacing three rounds aborts the
    // vacuum (safe to re-run) rather than sweeping under its feet.
    var (kept, retired, referenced) = computeKeepSet()
    var stable = false
    var rounds = 0
    while (!stable && rounds < 3) {
      rounds += 1
      val again = computeKeepSet()
      if (again._1.headOption.map(_._1) == kept.headOption.map(_._1)) stable = true
      // ALWAYS adopt the re-listed result (already paid for): even
      // with main's head unchanged, a branch pointer landing mid-loop
      // (createBranch, or a branch restore reaching past the keep
      // window) widens the referenced set — sweeping with the stale
      // one would turn that race into a branch deletion/heal instead
      // of preventing it
      kept = again._1; retired = again._2; referenced = again._3
    }
    if (!stable) throw new IllegalStateException(
      s"vacuum of $root aborted: the head advanced on every re-listing " +
        "(pathological writer churn) — nothing was deleted; re-run later")
    // a stale catalog view may still glob directories this sweep is
    // about to delete (e.g. a compact ran without knowing the view, or
    // the marker was written by a later writer): re-publish it onto the
    // CURRENT snapshot first so readers never resolve deleted paths
    // (no-op + marker cleanup when the view was since dropped)
    syncIfLinked(spark, root)
    retired.foreach { case (_, p) => fs.delete(p, false) }
    val cutoff = System.currentTimeMillis() - graceMs
    fs.listStatus(rootP)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("data-") &&
        !referenced(st.getPath.getName) && st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    // orphan publish tmps from crashed committers (same grace period),
    // in main's pointer dir and every branch's
    val tmpDirs = mdir +: {
      val broot = new Path(mdir, BranchesDir)
      if (!fs.exists(broot)) Seq.empty
      else fs.listStatus(broot).filter(_.isDirectory).map(_.getPath).toSeq
    }
    tmpDirs.foreach(d => fs.listStatus(d)
      .filter(st => st.getPath.getName.startsWith(".tmp-") &&
        st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, false)))
  }
}
