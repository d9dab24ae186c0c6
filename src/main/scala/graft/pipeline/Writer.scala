package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink writer — graft's equivalent of drune's WriterStep
  * (reference: src/drune/engines/spark/steps/writer.py:27-36).
  *
  * Drune's merge paths require Delta; graft targets plain parquet/orc
  * paths, so merge-like modes are expressed as distributed
  * read-join-rewrite plans: one co-partitioned shuffle on `hash_key`,
  * never a driver-side loop. On a lakehouse the same plans bolt onto a
  * format with real MERGE support unchanged.
  */
object Writer {

  def write(spark: SparkSession, df: DataFrame, sink: SinkSpec): Unit = {
    // Delta-FORMAT sinks (drune's native lakehouse target, reference:
    // src/drune/engines/spark/steps/writer.py:40-100) commit through
    // graft's own implementation of the public _delta_log protocol
    // (sources/DeltaWrite) — the delta-spark connector is not on this
    // build's classpath, but the log protocol is, by design, engine-
    // independent. Merge-shaped modes compose: graft's distributed
    // merge plans compute the new snapshot, DeltaWrite commits it.
    if (sink.format == "delta") { deltaSink(spark, df, sink); return }
    require(!sink.mergeSchema,
      s"merge_schema is a DELTA append option (additive log-schema evolution); " +
        s"a ${sink.format} sink has no table schema to evolve — drop the option")
    sink.table match {
      // Versioned CATALOG table: the data commits through the path
      // protocol (manifest CAS — concurrent merges serialize), then the
      // snapshot is published under the catalog name as a view, so
      // `spark.table(t)` / pure SQL read it like any table. This is the
      // OCC story the plain insertInto table sink can't have.
      case Some(t) if sink.versioned =>
        require(sink.path.nonEmpty,
          s"versioned catalog table '$t' needs a path (the storage root " +
            "for its immutable version directories)")
        // refuse BEFORE the data commit: the post-write view publish
        // would throw anyway (views track main), and a loud error
        // after a landed commit reads like a half-applied write
        require(VersionedTable.branchOf(sink.path).isEmpty,
          s"versioned catalog table '$t' cannot target branch path '${sink.path}' — " +
            "catalog views track the MAIN branch; drop `table:` to write the " +
            "branch, then publishBranch and sync the view from main")
        versionedWrite(spark, df, sink)
        VersionedTable.syncCatalogView(spark, t, sink.path, sink.format)
      case Some(t) if sink.path.isEmpty => writeTable(spark, df, sink, t)
      case _                            => writePath(spark, df, sink)
    }
  }

  /** Catalog-table sink — drune's table targets (writer.py:40-100 merge
    * via `DeltaTable.forName`). The session catalog's parquet tables
    * have no ACID MERGE, so merge-like modes compute the merged table as
    * ONE distributed plan, eagerly materialize it off the table's own
    * files (the local checkpoint cuts lineage so the INSERT OVERWRITE
    * doesn't read what it rewrites — same pattern as
    * Ddl.reprocessHashKey), then insert-overwrite the named table. On a
    * lakehouse format the identical merged plan feeds a native MERGE
    * with no other change; concurrent-writer safety is the format's job,
    * not this planner's.
    */
  private def writeTable(spark: SparkSession, df: DataFrame, sink: SinkSpec, table: String): Unit = {
    // insertInto cannot control file layout — fail loudly rather than
    // silently ignore a requested clustering (use writeBucketed or a
    // path sink for layout-managed tables)
    require(sink.zorderBy.isEmpty,
      s"zorder_by is not supported for plain catalog-table sink '$table' — " +
        "use a file sink, or add versioned: true + path (versioned catalog " +
        "tables manage their own layout and support clustering)")
    // insertInto matches by POSITION: align the pipeline output to the
    // table's declared column order by name, failing fast on a gap.
    def aligned(d: DataFrame): DataFrame = {
      val cols = spark.table(table).columns
      // case-INsensitive presence check to match the analyzer's default
      // resolution — a case-mismatched column would otherwise fail here
      // despite resolving fine in the select below
      val missing = cols.filterNot(c => d.columns.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"table '$table': pipeline output lacks columns ${missing.mkString(", ")}")
      d.select(cols.map(col): _*)
    }
    def overwriteMerged(merged: DataFrame): Unit = {
      val snap = aligned(merged).localCheckpoint(true)
      try snap.write.mode(SaveMode.Overwrite).insertInto(table)
      finally graft.operators.Dedup.releaseCheckpoint(snap)
    }
    def base: DataFrame = spark.table(table)
    sink.mode match {
      case Append    => aligned(df).write.mode(SaveMode.Append).insertInto(table)
      case Overwrite => aligned(df).write.mode(SaveMode.Overwrite).insertInto(table)
      case OverwritePartition =>
        val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try aligned(df).write.mode(SaveMode.Overwrite).insertInto(table)
        finally prev.foreach(spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
      case OverwriteWhere(cond) =>
        // IS NOT TRUE keeps rows where cond evaluates NULL — SQL
        // DELETE/replaceWhere three-valued semantics, and the same
        // filter the versioned path uses (commitOverwriteWhere)
        overwriteMerged(base.where(s"($cond) IS NOT TRUE")
          .unionByName(df.where(cond), allowMissingColumns = true))
      case MergeUpsert =>
        overwriteMerged(upsert(df, Some(base)))
      case Scd2(track) =>
        overwriteMerged(Scd2Merge(spark, df, Some(base), track))
    }
  }

  /** Delta-format path sink. Append / overwrite / dynamic partition
    * overwrite are native log commits (remove actions cover exactly
    * the replaced files). Merge modes (upsert, SCD2) go through
    * [[graft.sources.DeltaWrite.merge]] — the FILE-PRUNED shape: the
    * Delta log's per-file `add.stats` classify live files by hash_key
    * intersection with the source, only the touched files rewrite
    * (reading them WITH their deletion vectors), and untouched adds
    * carry by absence of a remove action — O(touched + source) data
    * I/O, the same pruning commitMerge does on graft's own protocol.
    * replace-where still composes base-side (the predicate, not a key
    * set, decides survival) and commits as an overwrite.
    */
  private def deltaSink(spark: SparkSession, df: DataFrame, sink: SinkSpec): Unit = {
    require(sink.table.isEmpty,
      s"delta sink '${sink.table.get}': catalog-table targets need the delta-spark " +
        "connector's catalog integration — write to a path sink (the table root), " +
        "then register it, or use a graft versioned catalog table")
    require(!sink.versioned,
      "versioned: true is graft's own manifest protocol — a delta sink is already " +
        "versioned by its transaction log; drop one of the two")
    require(sink.path.nonEmpty, "delta sink needs a path")
    // clustering requests compose: cluster the outgoing snapshot, then
    // commit the clustered files through the log
    def clustered(d: DataFrame): DataFrame =
      if (sink.zorderBy.nonEmpty)
        graft.operators.ZOrder.cluster(d, sink.zorderBy, sink.zorderFiles,
          within = sink.partitionBy)
      else d
    def base: Option[DataFrame] =
      if (graft.sources.DeltaRead.isDeltaTable(spark, sink.path))
        Some(graft.sources.DeltaRead.read(spark, sink.path))
      else None
    require(!sink.mergeSchema || sink.mode == Append,
      "merge_schema evolves the schema on APPEND sinks; overwrite already " +
        "re-emits the schema and merge modes conform to the table — drop the option")
    sink.mode match {
      case Append =>
        graft.sources.DeltaWrite.append(spark, clustered(df), sink.path,
          sink.partitionBy, mergeSchema = sink.mergeSchema)
      case Overwrite =>
        graft.sources.DeltaWrite.overwrite(spark, clustered(df), sink.path, sink.partitionBy)
      case OverwritePartition =>
        require(sink.partitionBy.nonEmpty,
          "overwrite_partition on a delta sink needs partition_by")
        graft.sources.DeltaWrite.overwritePartitions(spark, clustered(df), sink.path,
          sink.partitionBy)
      case OverwriteWhere(cond) =>
        val merged = base match {
          case Some(b) => b.where(s"($cond) IS NOT TRUE")
            .unionByName(df.where(cond), allowMissingColumns = true)
          case None => df // first write: nothing to replace (same as writePath)
        }
        graft.sources.DeltaWrite.overwrite(spark, clustered(merged), sink.path,
          sink.partitionBy)
      case MergeUpsert =>
        if (base.isEmpty)
          graft.sources.DeltaWrite.append(spark, clustered(df), sink.path, sink.partitionBy)
        else
          // matching keys live ONLY in touched files (range soundness),
          // so upsert-over-touched ≡ upsert-over-table
          graft.sources.DeltaWrite.merge(spark, df, sink.path, Seq("hash_key"),
            mergeFn = (touched, src) => clustered(upsert(src, Some(touched))))
      case Scd2(track) =>
        if (base.isEmpty)
          graft.sources.DeltaWrite.append(spark,
            clustered(Scd2Merge(spark, df, None, track)), sink.path, sink.partitionBy)
        else
          graft.sources.DeltaWrite.merge(spark, df, sink.path, Seq("hash_key"),
            mergeFn = (touched, src) => clustered(Scd2Merge(spark, src, Some(touched), track)))
    }
  }

  private def writePath(spark: SparkSession, df: DataFrame, sink: SinkSpec): Unit = {
    // Versioned sinks commit through the manifest CAS — a different
    // layout (immutable data dirs + pointer files), crash-safe by
    // construction, so none of the swap/recovery machinery below
    // applies.
    if (sink.versioned) { versionedWrite(spark, df, sink); return }
    // Crash recovery FIRST — before any readBase builds a plan over the
    // (possibly missing) target: a previous rewrite() that died between
    // its two swap renames left the only copy of the base at __old with
    // the target path missing. Restore it; a leftover __old is garbage
    // only when the target also exists.
    recoverSwap(spark, sink)
    def basic(mode: SaveMode, data: DataFrame): Unit = {
      if (sink.zorderBy.nonEmpty) {
        // Clustering makes three passes over the input (quantile grid,
        // range-boundary sampling, write) — materialize the pipeline
        // output once so an expensive upstream plan isn't recomputed
        // three times (repo pattern: materialize-then-unpersist).
        // `within = partitionBy` keeps each task inside few partition
        // values so the dynamic-partition writer emits one clustered
        // file per (task, partition), not zorderFiles × |partitions|.
        val m = data.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val clustered = graft.operators.ZOrder.cluster(
            m, sink.zorderBy, sink.zorderFiles, within = sink.partitionBy)
          val w = clustered.write.format(sink.format).mode(mode)
          (if (sink.partitionBy.nonEmpty) w.partitionBy(sink.partitionBy: _*) else w)
            .save(sink.path)
        } finally m.unpersist(blocking = false)
      } else {
        val w = data.write.format(sink.format).mode(mode)
        (if (sink.partitionBy.nonEmpty) w.partitionBy(sink.partitionBy: _*) else w)
          .save(sink.path)
      }
    }
    sink.mode match {
      case Append    => basic(SaveMode.Append, df)
      case Overwrite => basic(SaveMode.Overwrite, df)
      case OverwritePartition =>
        // Dynamic partition overwrite: only partitions present in df are
        // replaced (writer.py 'overwrite_partition').
        val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try basic(SaveMode.Overwrite, df)
        finally prev.foreach(spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
      case OverwriteWhere(cond) =>
        // replaceWhere on parquet: keep base rows where cond is not
        // TRUE (NULL-evaluating rows survive, like SQL DELETE).
        val merged = readBase(spark, sink) match {
          case Some(base) => base.where(s"($cond) IS NOT TRUE").unionByName(df.where(cond), allowMissingColumns = true)
          case None => df
        }
        rewrite(spark, merged, sink)
      case MergeUpsert =>
        rewrite(spark, upsert(df, readBase(spark, sink)), sink)
      case Scd2(track) =>
        rewrite(spark, Scd2Merge(spark, df, readBase(spark, sink), track), sink)
    }
  }

  /** Versioned path sink: every write mode commits through the manifest
    * format's one optimistic loop (append via commitDelta; merge,
    * overwrite_partition and overwrite_where via their pruned commits;
    * the rest as a merge function over the snapshot via commit). The
    * merge plans are the SAME distributed formulations as the in-place
    * path modes; what changes is the commit: concurrent writers
    * serialize (the loser re-derives against the winner's snapshot, up
    * to 20 lost races — drune gets this from Delta's transaction log,
    * writer.py:40-100), and because version directories are immutable
    * there is no read-what-you-overwrite hazard — no checkpoint
    * materialization, no rename-swap window.
    */
  private def versionedWrite(spark: SparkSession, df: DataFrame, sink: SinkSpec): Unit = {
    // Flipping `versioned: true` on a path that already holds PLAIN
    // (non-manifest) data would silently start from empty — the old
    // rows are invisible to the manifest protocol. Fail loudly; the
    // migration is an explicit one-time versioned overwrite/merge of
    // the old data read back by the caller.
    if (VersionedTable.currentSnapshot(spark, sink.path).isEmpty) {
      val p = new Path(sink.path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.listStatus(p).exists { st =>
            val n = st.getPath.getName
            !n.startsWith("_") && !n.startsWith("data-") && !n.startsWith(".")
          })
        throw new IllegalStateException(
          s"versioned sink '${sink.path}' already holds non-versioned data; " +
            "bootstrap it explicitly (read the old data and write it as the " +
            "first versioned commit) instead of silently ignoring it")
    }
    // Clustering makes three passes over its input (see basic()) — the
    // merge plan must be materialized once per commit attempt, not
    // recomputed per pass; released after the commit lands.
    val toRelease = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def clustered(d: DataFrame): DataFrame =
      if (sink.zorderBy.nonEmpty) {
        val m = d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        toRelease += m
        graft.operators.ZOrder.cluster(m, sink.zorderBy, sink.zorderFiles,
          within = sink.partitionBy)
      } else d
    try versionedWriteInner(spark, df, sink, clustered)
    finally toRelease.foreach(_.unpersist(blocking = false))
  }

  private def versionedWriteInner(spark: SparkSession, df: DataFrame, sink: SinkSpec,
                                  clustered: DataFrame => DataFrame): Unit = {
    sink.mode match {
      case Append =>
        // appends never copy the base: the delta lands in its own
        // directory and the commit is a pointer update (compaction
        // kicks in past VersionedTable's directory threshold)
        VersionedTable.commitDelta(spark, sink.path, sink.format,
          clustered(df), partitionBy = sink.partitionBy)
        return
      case MergeUpsert =>
        // FILE-PRUNED merge: per-file hash_key stats classify which of
        // the snapshot's files can contain a source key; only those are
        // rewritten (through the same upsert plan, so created_at
        // preservation still applies — matched base rows are by
        // definition in touched files), the rest carry over in the
        // manifest by reference. O(touched + source) instead of
        // O(table) — the commit-cost shape a 100 TB merge requires.
        // Files without stats classify touched and rewrite.
        VersionedTable.commitMerge(spark, sink.path, sink.format, df,
          keys = Seq("hash_key"),
          merge = (touched, src) => clustered(upsert(src, Some(touched))),
          partitionBy = sink.partitionBy)
        return
      case OverwritePartition =>
        require(sink.partitionBy.nonEmpty,
          "overwrite_partition on a versioned sink needs partition_by")
        // PARTITION-PRUNED dynamic overwrite: untouched hive leaves
        // carry over in the manifest as partition-subtree references
        // (zero data I/O), touched leaves drop, the source lands as
        // one new partitioned dir — O(source) instead of O(table).
        // Unclassifiable layouts fall back to the anti-join full
        // rewrite inside commitPartitionOverwrite.
        VersionedTable.commitPartitionOverwrite(spark, sink.path, sink.format,
          clustered(df), partitionBy = sink.partitionBy)
        return
      case OverwriteWhere(cond) =>
        // STATS-PRUNED replaceWhere: files whose min/max ranges prove
        // no cond-matching row carry over by reference; only the
        // intersecting files filter-and-rewrite — O(touched + source).
        // Hive-partitioned sinks classify at leaf-file level inside
        // partition subtrees (sidecar paths carry the col=value
        // segments); partitionBy keeps their layout through rewrites.
        VersionedTable.commitOverwriteWhere(spark, sink.path, sink.format,
          df, cond, transform = clustered, partitionBy = sink.partitionBy)
        return
      case _ => ()
    }
    val mergeFn: Option[DataFrame] => DataFrame = sink.mode match {
      case Append | MergeUpsert | OverwritePartition | OverwriteWhere(_) =>
        _ => throw new IllegalStateException(
          "unreachable: Append commits through commitDelta, MergeUpsert through " +
            "commitMerge, OverwritePartition through commitPartitionOverwrite, " +
            "OverwriteWhere through commitOverwriteWhere")
      case Overwrite => _ => df
      case Scd2(track) => base => Scd2Merge(spark, df, base, track)
    }
    VersionedTable.commit(spark, sink.path, sink.format,
      base => clustered(mergeFn(base)), partitionBy = sink.partitionBy)
  }

  /** Z-order clustered path write: repartition + sort by the Morton
    * interleave of `cols`' rank buckets, so every output file covers a
    * compact hyper-rectangle of the clustered key space and parquet
    * min/max stats prune files for filters on ANY clustered column
    * (see [[graft.operators.ZOrder]]). The multi-dimensional
    * complement to [[writeBucketed]]: bucketing kills the JOIN
    * shuffle, z-ordering kills the SCAN for selective multi-column
    * filters.
    */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String], numFiles: Int,
                    format: String = "parquet"): Unit =
    graft.operators.ZOrder.cluster(df, cols, numFiles)
      .write.format(format).mode(SaveMode.Overwrite).save(path)

  /** Bucketed catalog-table write: pay the shuffle ONCE at write time —
    * hash-partition into `numBuckets` files by `keys` (sorted within
    * buckets) — and every later equi-join or aggregation on those keys
    * is exchange-free (Spark matches bucket specs instead of
    * re-shuffling). The 100 TB pattern for fact⋈fact joins two big
    * tables share: bucket both on the join key at ingest; see the
    * DdlSuite plan assertion.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String], numBuckets: Int,
                    format: String = "parquet", overwrite: Boolean = true): Unit =
    df.write.format(format)
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /** Restore `__old` -> target if a crashed rewrite() left the base
    * renamed aside with the target missing (see writePath).
    */
  private def recoverSwap(spark: SparkSession, sink: SinkSpec): Unit = {
    val p = new Path(sink.path)
    val bak = new Path(sink.path + "__old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(bak) && !fs.exists(p))
      require(fs.rename(bak, p), s"crash recovery: rename $bak -> $p failed")
  }

  private def readBase(spark: SparkSession, sink: SinkSpec): Option[DataFrame] = {
    val p = new Path(sink.path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.format(sink.format).load(sink.path)) else None
  }

  /** Upsert on hash_key (writer.py _merge_standard:610-626): source rows
    * win; unmatched base rows survive; created_at preserved from base.
    */
  private def upsert(source: DataFrame, baseOpt: Option[DataFrame]): DataFrame =
    baseOpt match {
      case None => source
      case Some(base) =>
        val kept = base.join(source.select("hash_key"), Seq("hash_key"), "left_anti")
        val withCreated =
          if (base.columns.contains("created_at"))
            source.drop("created_at")
              .join(base.select(col("hash_key"), col("created_at")), Seq("hash_key"), "left")
              .withColumn("created_at", coalesce(col("created_at"), col("updated_at")))
          else source
        kept.unionByName(withCreated, allowMissingColumns = true)
    }

  /** Full-path rewrite via tmp dir + swap: parquet has no ACID, so
    * read-modify-write must land elsewhere then swap. The old dataset
    * is renamed ASIDE (not deleted) until the new one is in place, and
    * every Hadoop `rename` — which reports most failures via its
    * boolean, not an exception — is CHECKED: an unchecked
    * delete-then-rename would destroy the base data and return
    * normally when the rename fails, with the output orphaned in the
    * tmp dir. On rename failure the old data is restored. (A lakehouse
    * format replaces this whole dance with an atomic commit.)
    */
  private def rewrite(spark: SparkSession, df: DataFrame, sink: SinkSpec): Unit = {
    val p = new Path(sink.path)
    val tmp = new Path(sink.path + "__tmp")
    val bak = new Path(sink.path + "__old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mustRename(from: Path, to: Path): Unit =
      require(fs.rename(from, to), s"rename $from -> $to failed; data left at $from")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // Stale __old from a COMPLETED prior swap (target exists — the
    // missing-target case was restored by recoverSwap before the merge
    // plan was built).
    if (fs.exists(bak)) fs.delete(bak, true)
    // merge-mode rewrites honor zorder_by too — a clustering request
    // must never be silently dropped by the write mode
    val out =
      if (sink.zorderBy.nonEmpty)
        graft.operators.ZOrder.cluster(df, sink.zorderBy, sink.zorderFiles,
          within = sink.partitionBy)
      else df
    val w = out.write.format(sink.format).mode(SaveMode.Overwrite)
    (if (sink.partitionBy.nonEmpty) w.partitionBy(sink.partitionBy: _*) else w)
      .save(tmp.toString)
    val hadBase = fs.exists(p)
    if (hadBase) mustRename(p, bak)
    try mustRename(tmp, p)
    catch {
      case e: Throwable =>
        if (hadBase && !fs.exists(p)) fs.rename(bak, p) // restore
        throw e
    }
    if (hadBase) fs.delete(bak, true)
  }
}

/** SCD Type 2 merge (writer.py _merge_scd2:628-673), as one declarative
  * plan over (base, source):
  *   - base history rows (is_current=false) pass through untouched;
  *   - current rows whose key reappears with a different data_hash are
  *     expired (is_current=false, end_date=now);
  *   - source rows that are new keys or changed versions are inserted
  *     current (start_date=now, end_date=null);
  *   - idempotent: a source row whose (hash_key, data_hash) already
  *     exists current is a no-op.
  * One shuffle on hash_key covers the join + anti-join (same key).
  */
object Scd2Merge {
  def apply(spark: SparkSession, source: DataFrame, baseOpt: Option[DataFrame], track: Seq[String],
            now: org.apache.spark.sql.Column = current_timestamp()): DataFrame = {
    val trackCols = if (track.nonEmpty) track else source.columns.filterNot(Seq("hash_key", "updated_at").contains).toSeq
    val src = (if (source.columns.contains("data_hash")) source
               else Pipeline.dataHash(source, trackCols))
    val srcStamped = src
      .withColumn("is_current", lit(true))
      .withColumn("start_date", now)
      .withColumn("end_date", lit(null).cast("timestamp"))
    baseOpt match {
      case None => srcStamped
      case Some(base) =>
        val history = base.where(!col("is_current"))
        val current = base.where(col("is_current"))
        val srcKeys = src.select(col("hash_key"), col("data_hash").as("__src_hash"))
        val cur = current.join(srcKeys, Seq("hash_key"), "left")
        val unchangedOrAbsent = cur.where(col("__src_hash").isNull || col("__src_hash") === col("data_hash")).drop("__src_hash")
        val expired = cur.where(col("__src_hash").isNotNull && col("__src_hash") =!= col("data_hash"))
          .drop("__src_hash")
          .withColumn("is_current", lit(false))
          .withColumn("end_date", now)
        val existing = current.select(col("hash_key").as("__k"), col("data_hash").as("__h"))
        val inserts = srcStamped.join(existing,
          srcStamped("hash_key") === col("__k") && srcStamped("data_hash") === col("__h"),
          "left_anti")
        history.unionByName(unchangedOrAbsent).unionByName(expired).unionByName(inserts, allowMissingColumns = true)
    }
  }
}
