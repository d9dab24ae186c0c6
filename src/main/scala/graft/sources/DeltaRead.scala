package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Read-only interop with EXISTING Delta Lake tables — the reference's
  * sources accept `format: delta` (reference: src/drune/engines/spark/
  * steps/reader.py:25-30 passes the format straight to spark.read, and
  * its merge sinks are DeltaTable writes, writer.py:40-100), so a
  * migrating user points graft at Delta tables on day one. Graft's own
  * table protocol is [[graft.pipeline.VersionedTable]]; this reader
  * exists so those EXISTING tables remain readable without the
  * delta-spark dependency (not in the budget) — it parses the PUBLIC
  * Delta transaction-log protocol (github.com/delta-io/delta
  * PROTOCOL.md) directly:
  *
  *  - `_delta_log/NNNNNNNNNNNNNNNNNNNN.json`: one JSON action per
  *    line — `metaData` (schemaString + partitionColumns), `add`
  *    (file joins the snapshot), `remove` (file leaves it),
  *    `protocol` (reader feature gate).
  *  - `NNN...N.checkpoint.parquet` (and the multi-part
  *    `NNN.checkpoint.A.B.parquet` form) under `_delta_log`: the
  *    compacted form of all actions ≤ checkpoint version; snapshot
  *    reconstruction starts at the newest COMPLETE checkpoint ≤ the
  *    requested version and replays the JSON commits after it.
  *  - `_last_checkpoint`: pointer to the newest checkpoint — honored
  *    as a fast path for latest-version reads (no log listing at
  *    all); time travel and stale pointers fall back to a listing.
  *
  * Supported: snapshot read, time travel by version, partitioned
  * tables (partition values come from the log, not the directory
  * names), and COLUMN MAPPING in `name` mode (reader protocol v2, or
  * v3 with the `columnMapping` feature): the scan reads the physical
  * parquet names and renames to the logical schema; partition-value
  * keys translate at snapshot build. Refused loudly: v3 reader
  * features this reader does not implement (ignoring an unknown
  * reader feature is silent data corruption by the protocol's
  * design; columnMapping — name and id mode, nested included —
  * deletionVectors, v2Checkpoint, timestampNtz, and typeWidening ARE
  * implemented).
  *
  * Scale note: driver-side parsing is O(actions since last checkpoint)
  * — the checkpointed state itself (the unbounded part) replays as a
  * distributed job, and only the LIVE file list lands on the driver
  * (for scan planning; same residency as delta-spark's prepared scan).
  * The DATA read is a normal distributed parquet scan over the live
  * file list with pushdown/pruning intact; partitioned tables read
  * one scan branch per live partition value (fine for the dimension/
  * medallion tables this interop targets; a million-partition fact
  * migration should land in VersionedTable, not stay in Delta).
  */
object DeltaRead {

  private val mapper = new ObjectMapper()

  final case class Snapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      /** live data files: path -> partition values (null for unpartitioned) */
      files: Map[String, Map[String, String]],
      /** live file sizes in bytes, from the log's `add.size` (-1 when
        * a legacy action lacked it) — lets the scan plan from log
        * metadata alone, no per-file stat calls
        */
      sizes: Map[String, Long] = Map.empty,
      /** the table's `metaData.id` — the writer must CARRY it through
        * schema-changing overwrites (a new id means "different table"
        * to other Delta clients); null on legacy logs that never set it
        */
      metaId: String = null,
      /** `txn` (SetTransaction) high-water marks: appId -> newest
        * committed version — the protocol's idempotent-writer handshake.
        * A streaming sink checks its appId before committing a batch,
        * so a replayed micro-batch (restart from the streaming
        * checkpoint) is recognized and dropped instead of duplicated.
        */
      txns: Map[String, Long] = Map.empty,
      /** raw `add.stats` JSON per live file (absent when the writer
        * recorded none) — numRecords/minValues/maxValues/nullCount,
        * the log-resident stats DATA SKIPPING reads from
        * ([[read]] prunes files whose range cannot match a pushed
        * filter, delta-spark's skipping semantics). Same driver
        * residency as the file list itself (~200 B/file).
        */
      stats: Map[String, String] = Map.empty,
      /** COLUMN MAPPING (`delta.columnMapping.mode = name`, reader
        * protocol v2 / v3-`columnMapping`): logical column name →
        * physical parquet column name. Empty when the table has no
        * mapping. `schema` and `partitionColumns` (and the
        * partition-value keys in `files`) are LOGICAL everywhere in
        * this Snapshot — physical names exist only at the parquet
        * scan, where [[readSnapshot]] reads physical and renames.
        */
      colMap: Map[String, String] = Map.empty,
      /** DELETION VECTORS: decoded-path → live DV descriptor, for the
        * files whose add action carries one. [[readSnapshot]] drops
        * the deleted row indexes at scan time; replay reconciles file
        * actions by the protocol's (path, dv.uniqueId) identity.
        */
      dvs: Map[String, DeletionVectors.Descriptor] = Map.empty,
      /** the table's protocol as REPLAYED (newest protocol action wins)
        * — a writer that upgrades the protocol (e.g. a DV-emitting
        * delete) must carry every existing feature forward, never
        * clobber one
        */
      minReader: Int = 1,
      minWriter: Int = 2,
      readerFeatures: Set[String] = Set.empty,
      writerFeatures: Set[String] = Set.empty,
      /** `metaData.configuration` as replayed — the writer gates read
        * enforcement settings from it (`delta.appendOnly`,
        * `delta.constraints.*`, `delta.enableChangeDataFeed`): a
        * writer that cannot enforce a configured contract must refuse,
        * not silently break it for every other writer (PROTOCOL.md's
        * writer-requirements section).
        */
      configuration: Map[String, String] = Map.empty,
      /** LIVE domain metadata (writer feature `domainMetadata`):
        * domain → configuration JSON, replayed last-action-wins with
        * `removed=true` tombstones dropped — the protocol's
        * per-domain key/value channel (delta-spark uses it for e.g.
        * clustering state). [[DeltaWrite.checkpoint]] carries live
        * domains so a fold never forgets them.
        */
      domains: Map[String, String] = Map.empty,
      /** ROW TRACKING (writer feature `rowTracking`): live file →
        * (baseRowId, defaultRowCommitVersion) for adds that carry
        * them. Row tracking is writer-side only (not a reader
        * feature), but the WRITER needs these to carry a re-added
        * file's ids (DV DML re-adds the same path) and to advance the
        * `delta.rowTracking` high-water mark domain
        * ([[DeltaWrite]] stamps every add on a rowTracking table).
        */
      rowIds: Map[String, (Long, Long)] = Map.empty)

  /** Is `path` a Delta table root (has a transaction log)? A
    * log-cleaned table may hold its state ONLY as checkpoint parquet
    * (no surviving NNN.json) — snapshot()/read() can serve it, so it
    * must be recognized here too or the YAML `format: delta` route
    * would refuse a readable table.
    */
  def isDeltaTable(spark: SparkSession, path: String): Boolean = {
    val log = new Path(path, "_delta_log")
    val fs = log.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(log) && fs.listStatus(log).exists { st =>
      val n = st.getPath.getName
      (n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit)) ||
        (n.endsWith(".parquet") && n.contains(".checkpoint"))
    }
  }

  /** Read the newest committed snapshot (or `version` for time travel). */
  def read(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame =
    readSnapshot(spark, path, snapshot(spark, path, version))

  /** The snapshot scan PLUS the protocol's ROW IDS (writer feature
    * `rowTracking`): one extra `rowIdCol` column carrying each row's
    * fresh row id = its file's `baseRowId` + the row's physical
    * position (`_metadata.row_index`) — the protocol's fresh-row-id
    * formula. DV-deleted rows drop but survivors keep their PHYSICAL
    * index, so ids are stable across DV DELETE/UPDATE (the file and
    * its baseRowId are unchanged). The per-file base map rides a
    * broadcast join keyed by the scan's own file_path — codegen'd, no
    * per-row driver state.
    *
    * MATERIALIZED row ids (delta-spark's stable-id extension): when
    * the config names a materialized column
    * (`delta.rowTracking.materializedRowIdColumnName`), a preserving
    * writer stored rewritten rows' original ids in a HIDDEN parquet
    * column (absent from the table schema). The protocol's read
    * formula is `coalesce(materialized, baseRowId + row_index)` —
    * implemented by extending the read schema with the hidden column
    * (files without it read null, parquet by-name resolution).
    * Column-mapped tables bind the hidden column by its OWN name
    * (the declared name is a physical parquet name outside the mapped
    * schema — delta-spark's shape); only a clash with a real column's
    * physical name refuses.
    *
    * Refused loudly: live files without a baseRowId (an unbackfilled
    * suspended table has no ids to surface).
    */
  def readWithRowIds(spark: SparkSession, path: String,
                     version: Option[Long] = None,
                     rowIdCol: String = "_row_id"): DataFrame = {
    val snap = snapshot(spark, path, version)
    require(snap.minWriter >= 7 && snap.writerFeatures.contains("rowTracking"),
      s"Delta table at $path does not carry the rowTracking writer feature — " +
        "there are no row ids to surface")
    readSnapshotRowIds(spark, path, snap, rowIdCol)
  }

  /** [[readWithRowIds]] over an EXPLICIT snapshot-shaped file set —
    * shared with [[DeltaWrite.compact]]'s id-preserving rewrite, which
    * scans only its folded subset.
    */
  private[graft] def readSnapshotRowIds(spark: SparkSession, path: String,
                                          snap: Snapshot,
                                          rowIdCol: String,
                                          matFlagCol: Option[String] = None): DataFrame = {
    val matName = snap.configuration.get("delta.rowTracking.materializedRowIdColumnName")
    matName.foreach { m =>
      require(!snap.schema.fieldNames.contains(m),
        s"materialized row-id column '$m' collides with a table column at $path")
      // COLUMN-MAPPED tables (round 18 — the r17 refusal lifted): the
      // declared name IS the hidden column's physical parquet name
      // (delta-spark mints it outside the mapped schema; it never has a
      // mapping id), so the scan binds it identity-mapped — in id mode
      // a field without parquet.field.id metadata resolves by name.
      // Only a clash with a REAL column's physical name is unbindable.
      require(!snap.colMap.values.exists(_ == m),
        s"materialized row-id column '$m' collides with a mapped column's " +
          s"physical name at $path")
    }
    val missing = snap.files.keySet -- snap.rowIds.keySet
    require(missing.isEmpty,
      s"Delta table at $path has ${missing.size} live file(s) without a baseRowId " +
        s"(e.g. ${missing.take(3).mkString(", ")}) — enable row tracking " +
        "(delta.enableRowTracking=true backfills) before reading row ids")
    val rootP = qualifiedRoot(spark, path)
    import spark.implicits._
    // keys in the same SparkPath (URL-encoded URI) form the DV filter
    // uses — _metadata.file_path's canonical representation
    val baseDf = broadcast(snap.rowIds.toSeq.map { case (rel, (b, _)) =>
      (new Path(rootP, rel).toUri.toString, b)
    }.toDF("__graft_dv_fp", "__graft_base_rid"))
    val scanSnap = matName match {
      case Some(m) =>
        val s2 = snap.copy(schema = org.apache.spark.sql.types.StructType(
          snap.schema.fields :+ org.apache.spark.sql.types.StructField(
            m, org.apache.spark.sql.types.LongType, nullable = true)))
        if (snap.colMap.isEmpty) s2 else s2.copy(colMap = snap.colMap + (m -> m))
      case None => snap
    }
    val joined = readSnapshot(spark, path, scanSnap, keepRowMeta = true)
      .join(baseDf, Seq("__graft_dv_fp"))
    val fresh = col("__graft_base_rid") + col("__graft_dv_ri")
    // `matFlagCol`: emit whether THIS row's id came from the hidden
    // materialized column (true) or the fresh formula (false) — the
    // CDF reader uses it to tell a rewrite's carried/updated rows
    // (materialized) from its inserts (fresh) inside one add file.
    val out0 = matName match {
      case Some(m) =>
        // when the caller names the OUTPUT after the materialized
        // column itself (compact's id-preserving rewrite does),
        // withColumn already REPLACED it — dropping m would drop the
        // result
        // flag FIRST: when rowIdCol == m the next withColumn replaces
        // m, and a flag computed after would read the coalesced value
        val flagged = matFlagCol.foldLeft(joined) {
          (d, fc) => d.withColumn(fc, col(s"`$m`").isNotNull)
        }.withColumn(rowIdCol, coalesce(col(s"`$m`"), fresh))
        val out = flagged.drop("__graft_dv_fp", "__graft_dv_ri", "__graft_base_rid")
        if (rowIdCol == m) out else out.drop(m)
      case None =>
        matFlagCol.foldLeft(joined.withColumn(rowIdCol, fresh)) {
          (d, fc) => d.withColumn(fc, lit(false))
        }.drop("__graft_dv_fp", "__graft_dv_ri", "__graft_base_rid")
    }
    out0
  }

  /** The scan over an EXPLICIT snapshot-shaped file set — the body of
    * [[read]], shared with the streaming source (whose micro-batch is
    * a synthetic Snapshot holding just one offset span's added files).
    * `keepRowMeta` retains `__graft_dv_fp` / `__graft_dv_ri` on every
    * branch (the row-id read needs the physical position AFTER the DV
    * filter).
    */
  private[graft] def readSnapshot(spark: SparkSession, path: String,
                                  snap: Snapshot,
                                  keepRowMeta: Boolean = false): DataFrame = {
    // DELETION VECTORS: split the scan — clean files read at full
    // native speed, DV-carrying files read with _metadata.row_index
    // and drop their deleted rows through a broadcast bitmap probe
    // (binary search over the decoded sorted indexes; 8 bytes per
    // deleted row, the same residency delta-spark's DV broadcast has).
    // Only the dirty branch pays the filter.
    val liveDvs = snap.dvs.filter { case (p, _) => snap.files.contains(p) }
    if (liveDvs.nonEmpty) {
      val rootP = qualifiedRoot(spark, path)
      val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val totalDeleted = liveDvs.values.map(_.cardinality).sum
      require(totalDeleted <= DeletionVectors.maxDeletedRows,
        s"Delta table at $path carries $totalDeleted soft-deleted rows in " +
          s"deletion vectors (cap ${DeletionVectors.maxDeletedRows}) — OPTIMIZE " +
          "the table with delta-spark to materialize the deletes, then re-read")
      // keys must match `_metadata.file_path`, which Spark 4 surfaces
      // in SparkPath (URL-encoded URI) form — Path.toString leaves
      // URI-unsafe chars RAW (a space in a hive partition value stays
      // a space), so a raw-keyed probe would match nothing and
      // silently resurrect the soft-deleted rows. toUri.toString is
      // the same canonical form SparkPath.fromPath uses.
      val deleted: Map[String, Array[Long]] = liveDvs.map { case (rel, d) =>
        new Path(rootP, rel).toUri.toString -> DeletionVectors.deletedRows(fs, rootP, d)
      }
      val dirty = snap.copy(files = snap.files.filter(kv => liveDvs.contains(kv._1)),
        dvs = Map.empty)
      val dirtyScan = scanSnapshot(spark, path, dirty, withRowMeta = true)
      // Common case (≤2M deleted rows): a BROADCAST ANTI JOIN on
      // (file, row_index) — whole-stage codegen, no per-row JVM-object
      // conversion. The UDF probe (binary search over the broadcast
      // sorted arrays) only takes over past the broadcast-friendly
      // size, where its 8 B/row footprint wins over join-row overhead.
      val dirtyDf0 =
        if (totalDeleted <= 2000000L) {
          import spark.implicits._
          val pairs = deleted.toSeq.flatMap { case (fp, arr) => arr.map(fp -> _) }
            .toDF("__graft_dv_fp", "__graft_dv_ri")
          dirtyScan.join(broadcast(pairs), Seq("__graft_dv_fp", "__graft_dv_ri"), "left_anti")
        } else {
          val bc = spark.sparkContext.broadcast(deleted)
          val keep = org.apache.spark.sql.functions.udf((fp: String, ri: Long) =>
            bc.value.get(fp).forall(a => java.util.Arrays.binarySearch(a, ri) < 0))
          dirtyScan.where(keep(col("__graft_dv_fp"), col("__graft_dv_ri")))
        }
      val dirtyDf = if (keepRowMeta) dirtyDf0
        else dirtyDf0.drop("__graft_dv_fp", "__graft_dv_ri")
      val cleanFiles = snap.files -- liveDvs.keySet
      return if (cleanFiles.isEmpty) dirtyDf
        else scanSnapshot(spark, path, snap.copy(files = cleanFiles, dvs = Map.empty),
            withRowMeta = keepRowMeta)
          .unionByName(dirtyDf)
    }
    scanSnapshot(spark, path, snap, withRowMeta = keepRowMeta)
  }

  /** The raw snapshot scan. `withRowMeta` appends `__graft_dv_fp`
    * (_metadata.file_path) and `__graft_dv_ri` (_metadata.row_index) for the
    * deletion-vector filter — selected at the scan itself, where the
    * metadata columns resolve.
    */
  private def scanSnapshot(spark: SparkSession, path: String,
                           snap: Snapshot, withRowMeta: Boolean = false): DataFrame = {
    val rootP = qualifiedRoot(spark, path)
    if (snap.files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        snap.schema)
    // Column mapping: the PARQUET read uses physical names; partition
    // values were translated to logical keys at snapshot build, so the
    // partition side stays logical throughout. The final projection
    // renames the data columns back. ID MODE additionally stamps each
    // requested field with `parquet.field.id` (from
    // delta.columnMapping.id) and enables Spark's native field-id
    // resolution, so every file resolves by the ids in its own footer
    // regardless of what the columns are NAMED there — the protocol's
    // id-mode contract, heterogeneous file names included.
    val cm = snap.colMap
    val idMode = snap.configuration.get("delta.columnMapping.mode").contains("id")
    // session-level by necessity (the returned frame evaluates later,
    // so a set/restore window cannot cover it) — benign for unrelated
    // reads: field-id resolution only engages for read schemas that
    // CARRY parquet.field.id metadata, which only id-mode scans stamp
    if (idMode) spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    // NESTED mapping (round 15): inner struct fields (including structs
    // under arrays/maps) are renamed too — the parquet READ schema is
    // the recursively physicalized type (each nested field's
    // physicalName from its own metadata, ids stamped in id mode), and
    // the final projection CASTS each mapped column back to its logical
    // type: a struct cast matches by POSITION and takes the target's
    // field names, which is exactly the physical→logical rename.
    def physType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f => physField(f, None)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = physType(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = physType(m.keyType), valueType = physType(m.valueType))
      case other => other
    }
    def physField(f: StructField, topName: Option[String]): StructField = {
      val physKey = "delta.columnMapping.physicalName"
      val pn = topName.getOrElse {
        if (f.metadata.contains(physKey)) f.metadata.getString(physKey)
        else throw new IllegalStateException(
          s"Delta table at $path maps a nested schema but field '${f.name}' " +
            "carries no physicalName metadata (the protocol requires it on " +
            "every field) — corrupt log?")
      }
      val g = f.copy(name = pn, dataType = physType(f.dataType))
      if (!idMode || !f.metadata.contains("delta.columnMapping.id")) g
      else g.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(g.metadata)
        .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
        .build())
    }
    def hasStructType(dt: DataType): Boolean = dt match {
      case _: StructType => true
      case a: org.apache.spark.sql.types.ArrayType => hasStructType(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        hasStructType(m.keyType) || hasStructType(m.valueType)
      case _ => false
    }
    val dataCols = snap.schema.fields.filterNot(f => snap.partitionColumns.contains(f.name))
      .map { f => if (cm.isEmpty) f else physField(f, Some(cm(f.name))) }
    def outCols: Array[org.apache.spark.sql.Column] = {
      val logical = snap.schema.fields.map { f =>
        val n = f.name
        if (cm.isEmpty || snap.partitionColumns.contains(n)) col(n)
        else if (hasStructType(f.dataType)) // positional cast = nested rename-back
          col(cm(n)).cast(f.dataType).as(n)
        else col(cm(n)).as(n)
      }
      if (!withRowMeta) logical
      else logical ++ Array(col("_metadata.file_path").as("__graft_dv_fp"),
        col("_metadata.row_index").as("__graft_dv_ri"))
    }
    // LOG-PLANNED fast path (mirrors VersionedTable.load's round-11
    // manifest planning): the Delta log records every live file's
    // SIZE (`add.size`) and partition values, so the scan can build
    // a ManifestFileIndex with zero filesystem calls — and a
    // partitioned table becomes ONE native scan with partition
    // pruning instead of one union branch per live partition tuple
    // (O(partitions) plan nodes, the old shape below). Falls back
    // when a legacy action lacked size, a partition value doesn't
    // coerce, or one directory mixes partition tuples (the protocol
    // allows metadata-only partitioning; pruning maps dirs).
    logPlannedRead(spark, rootP, snap, dataCols).foreach { df =>
      return df.select(outCols: _*)
    }
    if (snap.partitionColumns.isEmpty) {
      spark.read.schema(StructType(dataCols)).parquet(
        snap.files.keys.toSeq.map(rel => new Path(rootP, rel).toString): _*)
        .select(outCols: _*)
    } else {
      // Partition values are LOG metadata, not file content — rebuild
      // them as literal columns per distinct partition tuple (one scan
      // branch per live partition value; see the scale note above).
      val byPartition = snap.files.groupBy(_._2)
      byPartition.toSeq.map { case (pvals, fs) =>
        val base = spark.read.schema(StructType(dataCols)).parquet(
          fs.keys.toSeq.map(rel => new Path(rootP, rel).toString): _*)
        snap.partitionColumns.foldLeft(base) { (df, pc) =>
          val dt = snap.schema(pc).dataType
          // null partition value = Delta's __HIVE_DEFAULT_PARTITION__
          val v = pvals.getOrElse(pc, null)
          df.withColumn(pc, (if (v == null) lit(null) else lit(v)).cast(dt))
        }.select(outCols: _*)
      }.reduce(_.unionByName(_))
    }
  }

  /** The log-planned scan (None = a precondition failed; caller takes
    * the legacy path): ManifestFileIndex over (path, size) from the
    * log, partition values coerced into an explicit PartitionSpec.
    */
  private def logPlannedRead(spark: SparkSession, rootP: Path, snap: Snapshot,
                             dataCols: Array[org.apache.spark.sql.types.StructField])
      : Option[DataFrame] =
    try {
      val sized = snap.files.keys.toSeq.sorted.map { rel =>
        (new Path(rootP, rel).toString, snap.files(rel), snap.sizes.getOrElse(rel, -1L))
      }
      if (sized.isEmpty || sized.exists(_._3 < 0)) return None
      val partSchema = StructType(snap.partitionColumns.flatMap(c =>
        snap.schema.fields.find(_.name == c)))
      if (partSchema.length != snap.partitionColumns.length) return None
      val spec =
        if (partSchema.isEmpty)
          org.apache.spark.sql.execution.datasources.PartitionSpec.emptySpec
        else {
          // pruning maps DIRECTORIES to partition values: every dir
          // must carry exactly one tuple (delta partitioning is
          // metadata-only in the protocol; hive-style writers satisfy
          // this, anything else falls back)
          val byDir = sized.groupBy(f => new Path(f._1).getParent)
          if (byDir.exists(_._2.map(_._2).distinct.length > 1)) return None
          val partitions = byDir.toSeq.sortBy(_._1.toString).map { case (dir, fs) =>
            val pv = fs.head._2
            val values = partSchema.fields.map { f =>
              val raw = pv.getOrElse(f.name, null)
              // null partition value = Delta's HIVE_DEFAULT; the
              // coercion helper throws on uncoercible types -> caught
              if (raw == null) null
              else GraftDataSource.partitionValue(raw, f, rootP.toString)
            }
            org.apache.spark.sql.execution.datasources.PartitionPath(
              org.apache.spark.sql.catalyst.InternalRow.fromSeq(
                scala.collection.immutable.ArraySeq.unsafeWrapArray(values)), dir)
          }
          org.apache.spark.sql.execution.datasources.PartitionSpec(partSchema, partitions)
        }
      // log-resident DATA SKIPPING: when adds carried stats, the scan's
      // listFiles drops files whose min/max cannot match the pushed
      // filters (delta-spark's skipping; parse is lazy + memoized, and
      // a file/column without stats is simply kept)
      val index =
        if (snap.stats.isEmpty)
          new org.apache.spark.sql.graftbridge.ManifestFileIndex(
            spark, spec, sized.map(f => (f._1, f._3)))
        else {
          val statsByAbs = snap.stats.map { case (rel, st) =>
            new Path(rootP, rel).toString -> st
          }
          val cache = new java.util.concurrent.ConcurrentHashMap[
            String, Option[graft.pipeline.FileStats.FileStat]]()
          new org.apache.spark.sql.graftbridge.StatsManifestFileIndex(
            spark, spec, sized.map(f => (f._1, f._3)),
            p => cache.computeIfAbsent(p,
              k => statsByAbs.get(k).flatMap(parseAddStats)))
        }
      val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        index, partSchema, StructType(dataCols), None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty[String, String])(spark)
      Some(spark.baseRelationToDataFrame(rel))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Reconstruct the file-list snapshot at `version` (newest if None).
    *
    * Log discovery has two paths:
    *  - `_last_checkpoint` FAST PATH (latest-version reads only): the
    *    pointer names the newest checkpoint directly, so checkpoint
    *    file names derive from it and the commit tail is discovered by
    *    probing `NNN.json` forward (commit versions are contiguous per
    *    the protocol) — no listing of the log directory at all. On an
    *    object store that turns the most expensive metadata op (LIST
    *    over an unbounded log dir) into O(tail) HEAD calls.
    *  - full listing (time travel, no/stale pointer): one LIST serves
    *    both the commit scan and the checkpoint scan, as before. A
    *    stale or half-written pointer falls back here rather than
    *    failing — same tolerance as delta-spark's.
    *
    * Checkpoint replay is DISTRIBUTED: the checkpointed `add` set (the
    * entire table state — millions of rows on a large table) stays a
    * DataFrame; only the post-checkpoint tail commits (bounded by the
    * writer's checkpoint interval) are parsed on the driver, and the
    * live-file set is resolved as `checkpoint adds ANTI-JOIN
    * tail-touched paths UNION tail's final adds`. Only the final LIVE
    * list is collected — for scan planning, the same driver residency
    * delta-spark's own prepared scan has — so a heavily-churned log
    * never materializes its dead files on the driver.
    */
  def snapshot(spark: SparkSession, path: String,
               version: Option[Long] = None): Snapshot = {
    val rootP = qualifiedRoot(spark, path)
    val logP = new Path(rootP, "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // SNAPSHOT CACHE (round 18, guide §1/§5 — the driver is the
    // bottleneck of small commits): every DML op used to rebuild the
    // snapshot from scratch — a full log listing plus, past the first
    // checkpoint, a distributed checkpoint-parquet read (4-5 Spark jobs
    // PER OPERATION, measured ~0.2-0.4 s each on q109's append chain).
    // Delta's log is append-only and committed versions are immutable,
    // so the last-served snapshot advances INCREMENTALLY: verify the
    // cached version's commit file is byte-identical (len+mtime — a
    // deleted/recreated table at the same path fails this and rebuilds),
    // probe the contiguous tail forward (commit versions are dense), and
    // replay only the new commits' actions driver-side. A metaData
    // action in the span falls back to the full rebuild (schema /
    // column-mapping changes re-key partition values). This is
    // delta-spark's SnapshotManagement shape; it caches METADATA only —
    // never query results — and every data read still scans parquet.
    val fromCache: Option[Snapshot] =
      Option(snapCache.get(logP.toString))
        .filter(c => version.forall(_ >= c.snap.version)).flatMap { c =>
        val vFile = new Path(logP, f"${c.snap.version}%020d.json")
        val ident =
          try {
            val st = fs.getFileStatus(vFile)
            st.getLen == c.len && st.getModificationTime == c.mtime
          } catch { case _: java.io.IOException => false }
        if (!ident) None
        else {
          var latest = c.snap.version
          while (version.forall(_ > latest) &&
              fs.exists(new Path(logP, f"${latest + 1}%020d.json")))
            latest += 1
          val target = version.getOrElse(latest)
          if (target == c.snap.version) Some(c.snap) // validated when cached
          else if (target > latest) None // asked past the contiguous tail
          else applyCommitsIncremental(fs, logP, c.snap, target).map { snap =>
            validateChecksum(fs, logP, path, snap)
            if (version.isEmpty || target == latest) cachePut(fs, logP, snap)
            snap
          }
        }
      }
    if (fromCache.isDefined) return fromCache.get

    require(fs.exists(logP), s"$path is not a Delta table (no _delta_log)")

    val fast = if (version.isEmpty) fastDiscovery(fs, logP) else None
    val (target, ckpt, checkpointFiles) = fast match {
      case Some((latest, cp, cpFiles)) => (latest, cp, cpFiles)
      case None =>
        val names = fs.listStatus(logP).toSeq.map(_.getPath.getName)
        val commits = commitVersionsOf(names)
        val cpFiles = checkpointFilesOf(names)
        val checkpoints = cpFiles.keys.toSeq.sorted
        require(commits.nonEmpty || checkpoints.nonEmpty,
          s"$path has an empty _delta_log — no committed version")
        val latest = (commits ++ checkpoints).max
        val t = version.getOrElse(latest)
        require(t <= latest, s"Delta table at $path has no version $t (latest: $latest)")
        (t, checkpoints.filter(_ <= t).lastOption, cpFiles)
    }

    var schemaJson: String = null
    var partCols: Seq[String] = Nil
    var metaId: String = null
    var ckptAdds: Option[DataFrame] = None
    // one row per writer appId — inherently tiny (collect is bounded)
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // reader-protocol gate is DEFERRED to the end of the replay: v2
    // legality depends on metaData.configuration (column-mapping mode),
    // which an earlier action in the same log carries
    var minReader = 1
    var minWriter = 2
    val readerFeatures = scala.collection.mutable.Set.empty[String]
    val writerFeatures = scala.collection.mutable.Set.empty[String]
    var tableConf = Map.empty[String, String]
    // domain → (configuration, removed); last action per domain wins,
    // checkpoint rows first so the tail overrides
    val domainsB = scala.collection.mutable.LinkedHashMap.empty[String, (String, Boolean)]

    ckpt.foreach { cv =>
      val rows = spark.read.parquet(
        checkpointFiles(cv).map(n => new Path(logP, n).toString): _*)
      // checkpoint rows: one action per row in struct columns
      val cols = rows.columns.toSet
      if (cols("metaData")) {
        // `id`/`configuration` are optional in hand-written/legacy
        // checkpoint layouts
        val mdCols = rows.select("metaData.*").columns.toSet
        val idCol = if (mdCols("id")) col("metaData.id") else lit(null).cast("string")
        val confCol = if (mdCols("configuration")) col("metaData.configuration")
          else lit(null).cast("map<string,string>")
        rows.select(col("metaData.schemaString"), col("metaData.partitionColumns"),
            idCol, confCol)
          .collect().filter(!_.isNullAt(0)).foreach { r =>
            schemaJson = r.getString(0); partCols = r.getSeq[String](1)
            if (!r.isNullAt(2)) metaId = r.getString(2)
            if (!r.isNullAt(3)) tableConf = r.getMap[String, String](3).toMap
          }
      }
      // V2 (UUID-named) checkpoints split file actions into SIDECAR
      // parquet under _delta_log/_sidecars/ — the main file holds the
      // non-file actions (and a checkpointMetadata marker). Resolve the
      // sidecar list here; adds then extract from main + sidecars alike.
      val sideFrames: Seq[DataFrame] =
        if (!cols("sidecar")) Nil
        else rows.select(col("sidecar.path")).where(col("sidecar.path").isNotNull)
          .collect().map(_.getString(0)).toSeq.sorted.map { rel =>
            val p = if (rel.contains("://") || rel.startsWith("/"))
              throw new IllegalStateException(
                s"v2 checkpoint at $path references an absolute sidecar '$rel' — " +
                  "this interop reader resolves sidecars under _delta_log/_sidecars only")
            else new Path(new Path(logP, "_sidecars"), rel)
            spark.read.parquet(p.toString)
          }
      val addFrames = (Seq(rows).filter(_.columns.contains("add")) ++
        sideFrames.filter(_.columns.contains("add")))
      require(addFrames.nonEmpty,
        s"unrecognized checkpoint layout at $path (no add column in the " +
          "checkpoint or its sidecars)")
      def addsOf(frame: DataFrame): DataFrame = {
        val addCols = frame.select("add.*").columns.toSet
        val sizeCol =
          if (addCols("size")) col("add.size") else lit(-1L).as("size")
        val pvCol =
          if (addCols("partitionValues")) col("add.partitionValues")
          else lit(null).cast("map<string,string>").as("partitionValues")
        val statsCol =
          if (addCols("stats")) col("add.stats")
          else lit(null).cast("string").as("stats")
        val dvCols: Seq[org.apache.spark.sql.Column] =
          if (addCols("deletionVector"))
            Seq(col("add.deletionVector.storageType").cast("string").as("dv_st"),
              col("add.deletionVector.pathOrInlineDv").cast("string").as("dv_p"),
              col("add.deletionVector.offset").cast("int").as("dv_off"),
              col("add.deletionVector.sizeInBytes").cast("int").as("dv_sz"),
              col("add.deletionVector.cardinality").cast("long").as("dv_card"))
          else Seq(lit(null).cast("string").as("dv_st"),
            lit(null).cast("string").as("dv_p"), lit(null).cast("int").as("dv_off"),
            lit(null).cast("int").as("dv_sz"), lit(null).cast("long").as("dv_card"))
        // row-tracking fields survive the fold (writer-side state: a
        // re-add must carry its file's ids, the hwm domain must cover
        // every assigned id)
        val bridCol =
          if (addCols("baseRowId")) col("add.baseRowId") else lit(null).cast("bigint")
        val dcvCol =
          if (addCols("defaultRowCommitVersion")) col("add.defaultRowCommitVersion")
          else lit(null).cast("bigint")
        // paths stay URI-ENCODED inside the frame; decoding happens
        // once, post-replay, so checkpoint adds and tail removes meet
        // in the same (encoded) key space
        frame.select(Seq(col("add.path").cast("string").as("path"),
            pvCol.cast("map<string,string>").as("partitionValues"),
            sizeCol.cast("bigint").as("size"), statsCol.cast("string").as("stats"),
            bridCol.cast("bigint").as("baseRowId"),
            dcvCol.cast("bigint").as("defaultRowCommitVersion"))
            ++ dvCols: _*)
          .where(col("path").isNotNull)
      }
      ckptAdds = Some(addFrames.map(addsOf).reduce(_.unionByName(_)))
      // protocol gate can live in the checkpoint too (validated after
      // the replay, once the table configuration is known)
      if (cols("protocol")) {
        val pCols = rows.select("protocol.*").columns.toSet
        val featCol = if (pCols("readerFeatures")) col("protocol.readerFeatures")
          else lit(null).cast("array<string>")
        val wFeatCol = if (pCols("writerFeatures")) col("protocol.writerFeatures")
          else lit(null).cast("array<string>")
        val mwCol = if (pCols("minWriterVersion")) col("protocol.minWriterVersion")
          else lit(null).cast("int")
        rows.select(col("protocol.minReaderVersion"), featCol, wFeatCol, mwCol).collect()
          .filter(!_.isNullAt(0)).foreach { r =>
            minReader = minReader.max(r.getInt(0))
            if (!r.isNullAt(1)) readerFeatures ++= r.getSeq[String](1)
            if (!r.isNullAt(2)) writerFeatures ++= r.getSeq[String](2)
            if (!r.isNullAt(3)) minWriter = minWriter.max(r.getInt(3))
          }
      }
      // SetTransaction marks survive checkpointing (required by the
      // protocol — a cleaned log must not forget a sink's high-water)
      if (cols("txn")) rows.select("txn.appId", "txn.version").collect()
        .filter(!_.isNullAt(0)).foreach(r => txns(r.getString(0)) = r.getLong(1))
      // domain metadata survives checkpointing too (live rows; a
      // foreign checkpoint may carry removed=true tombstones — honor
      // the flag rather than assume)
      if (cols("domainMetadata")) {
        val dCols = rows.select("domainMetadata.*").columns.toSet
        val cfgCol = if (dCols("configuration")) col("domainMetadata.configuration")
          else lit(null).cast("string")
        val rmCol = if (dCols("removed")) col("domainMetadata.removed") else lit(false)
        rows.select(col("domainMetadata.domain"), cfgCol, rmCol)
          .where(col("domainMetadata.domain").isNotNull)
          .collect().foreach { r =>
            domainsB(r.getString(0)) =
              (if (r.isNullAt(1)) null else r.getString(1),
                !r.isNullAt(2) && r.getBoolean(2))
          }
      }
    }

    // Tail replay (driver-side, bounded by the checkpoint interval):
    // last action per (ENCODED path, dv.uniqueId) wins — the protocol's
    // file-action identity. A DELETE that grows a file's deletion
    // vector commits add(F, newDv) + remove(F, oldDv) in ONE commit;
    // path-only keying would let line order decide whether F survives.
    // Some(pv) = live add, None = removed; for unmapped/DV-free tables
    // every uid is "" and this reduces to the old path keying exactly.
    def dvOf(n: JsonNode): DeletionVectors.Descriptor = parseDv(n)
    def uidOf(d: DeletionVectors.Descriptor): String = if (d == null) "" else d.uniqueId
    // last two elements: baseRowId / defaultRowCommitVersion (row
    // tracking; -1 = the add carries none)
    val tail = scala.collection.mutable.LinkedHashMap[(String, String),
      Option[(Map[String, String], Long, String, DeletionVectors.Descriptor, Long, Long)]]()
    val replayFrom = ckpt.map(_ + 1).getOrElse(0L)
    for (v <- replayFrom to target) {
      val p = new Path(logP, f"$v%020d.json")
      if (!fs.exists(p)) {
        // commits below the newest checkpoint may be legitimately
        // vacuumed (delta log cleanup); a HOLE after the replay start
        // is an unreadable table
        throw new IllegalStateException(
          s"Delta log at $path is missing commit $v (log cleaned past the " +
            s"requested version?) — cannot reconstruct version $target")
      }
      val content = graft.pipeline.VersionedTable.readSmall(fs, p).getOrElse(
        throw new IllegalStateException(s"Delta commit $v at $path is unreadable"))
      content.split("\n").map(_.trim).filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        if (node.has("protocol")) {
          val p = node.get("protocol")
          minReader = minReader.max(p.path("minReaderVersion").asInt(1))
          minWriter = minWriter.max(p.path("minWriterVersion").asInt(2))
          if (p.has("readerFeatures"))
            readerFeatures ++= p.get("readerFeatures").elements().asScala.map(_.asText())
          if (p.has("writerFeatures"))
            writerFeatures ++= p.get("writerFeatures").elements().asScala.map(_.asText())
        }
        if (node.has("metaData")) {
          val md = node.get("metaData")
          schemaJson = md.path("schemaString").asText(null)
          partCols = md.path("partitionColumns").elements().asScala
            .map(_.asText()).toSeq
          metaId = md.path("id").asText(metaId)
          if (md.has("configuration"))
            tableConf = md.get("configuration").properties().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap
        }
        if (node.has("add")) {
          val add = node.get("add")
          val pv = Option(add.get("partitionValues")).map(n =>
            n.properties().asScala.map(e =>
              e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())).toMap)
            .getOrElse(Map.empty[String, String])
          val sz = Option(add.get("size")).filterNot(_.isNull).map(_.asLong()).getOrElse(-1L)
          val st = Option(add.get("stats")).filterNot(_.isNull).map(_.asText()).orNull
          val dv = dvOf(add.get("deletionVector"))
          val brid = if (add.hasNonNull("baseRowId")) add.get("baseRowId").asLong(-1L) else -1L
          val dcv = if (add.hasNonNull("defaultRowCommitVersion"))
            add.get("defaultRowCommitVersion").asLong(-1L) else -1L
          tail.put((add.get("path").asText(), uidOf(dv)), Some((pv, sz, st, dv, brid, dcv)))
        }
        if (node.has("remove")) {
          val rm = node.get("remove")
          tail.put((rm.path("path").asText(), uidOf(dvOf(rm.get("deletionVector")))), None)
        }
        if (node.has("txn")) {
          val t = node.get("txn")
          txns(t.path("appId").asText()) = t.path("version").asLong()
        }
        if (node.has("domainMetadata")) {
          val d = node.get("domainMetadata")
          domainsB(d.path("domain").asText()) =
            (d.path("configuration").asText(null), d.path("removed").asBoolean(false))
        }
      }
    }

    val entries: Map[String, (Map[String, String], Long, String, DeletionVectors.Descriptor, Long, Long)] =
      ckptAdds match {
      case None =>
        // no checkpoint: the tail IS the whole history (collapse to one
        // entry per path — a live file has exactly one live dv identity)
        tail.collect { case ((p, _), Some(e)) => decodePath(p) -> e }.toMap
      case Some(adds) =>
        import spark.implicits._
        // decode BEFORE the anti-join: the match key must be the
        // canonical path, not its encoding — a cross-writer table can
        // remove "a%28b%29" where the checkpoint added "a(b)" and an
        // encoded-key join would resurrect the dead file (the driver
        // replay always matched decoded; so must the distributed one).
        // The join key is (path, dv.uniqueId) — the file-action
        // identity — so a remove of (F, oldDv) cannot kill a
        // checkpointed (F, null) twin or vice versa.
        val dec = org.apache.spark.sql.functions.udf((p: String) => decodePath(p))
        val uidCol = org.apache.spark.sql.functions.when(
          col("dv_st").isNull || col("dv_st") === "", lit("")).otherwise(
          org.apache.spark.sql.functions.concat(col("dv_st"), col("dv_p"), lit("@"),
            org.apache.spark.sql.functions.coalesce(col("dv_off"), lit(0)).cast("string")))
        val addsDec = adds.select(dec(col("path")).as("path"), col("partitionValues"),
          col("size"), col("stats"), col("dv_st"), col("dv_p"), col("dv_off"),
          col("dv_sz"), col("dv_card"), col("baseRowId"),
          col("defaultRowCommitVersion"), uidCol.as("__uid"))
        val carried0 =
          if (tail.isEmpty) addsDec
          else {
            val touched = broadcast(tail.keys.toSeq
              .map { case (p, uid) => (decodePath(p), uid) }.distinct
              .toDF("path", "__uid"))
            addsDec.join(touched, Seq("path", "__uid"), "left_anti")
          }
        // the join puts its keys first — pin the collect order explicitly
        val carried = carried0.select("path", "partitionValues", "size", "stats",
          "dv_st", "dv_p", "dv_off", "dv_sz", "dv_card",
          "baseRowId", "defaultRowCommitVersion")
        val live = carried.collect().map { r =>
          val pv = if (r.isNullAt(1)) Map.empty[String, String]
            else r.getMap[String, String](1).toMap
          val sz = if (r.isNullAt(2)) -1L else r.getLong(2)
          val st = if (r.isNullAt(3)) null else r.getString(3)
          val dv = if (r.isNullAt(4) || r.getString(4).isEmpty) null
            else DeletionVectors.Descriptor(r.getString(4), r.getString(5),
              if (r.isNullAt(6)) None else Some(r.getInt(6)),
              if (r.isNullAt(7)) 0 else r.getInt(7),
              if (r.isNullAt(8)) 0L else r.getLong(8))
          val brid = if (r.isNullAt(9)) -1L else r.getLong(9)
          val dcv = if (r.isNullAt(10)) -1L else r.getLong(10)
          r.getString(0) -> ((pv, sz, st, dv, brid, dcv))
        }.toMap
        live ++ tail.collect { case ((p, _), Some(e)) => decodePath(p) -> e }
    }

    require(schemaJson != null,
      s"Delta log at $path carries no metaData action — cannot derive a schema")
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val mode = tableConf.getOrElse("delta.columnMapping.mode", "none")
    validateReaderProtocol(path, minReader, readerFeatures.toSet, mode)
    // id mode (round 15 — the Iceberg-converted-table case): the
    // protocol requires BOTH id and physicalName in either mapping
    // mode, so the logical→physical map builds the same way; the SCAN
    // additionally resolves parquet columns by FIELD ID
    // ([[scanSnapshot]]), because an id-mode file's column names need
    // not match physicalName (converted tables keep their original
    // names and carry ids in the footers).
    val colMap = if (mode == "name" || mode == "id") buildColMap(path, schema)
      else Map.empty[String, String]
    // add.partitionValues (and stats) keys are PHYSICAL names under
    // column mapping; the Snapshot is logical everywhere except stats,
    // which stay physical because skipping happens at the (physical)
    // parquet scan.
    val physToLogical = colMap.map(_.swap)
    def pvKeys(pv: Map[String, String]): Map[String, String] =
      if (physToLogical.isEmpty) pv
      else pv.map { case (k, v) => physToLogical.getOrElse(k, k) -> v }
    val snap = Snapshot(target, schema,
      partCols, entries.map { case (p, (pv, _, _, _, _, _)) => p -> pvKeys(pv) },
      entries.map { case (p, (_, sz, _, _, _, _)) => p -> sz }, metaId, txns.toMap,
      entries.collect { case (p, (_, _, st, _, _, _)) if st != null => p -> st },
      colMap,
      entries.collect { case (p, (_, _, _, dv, _, _)) if dv != null => p -> dv },
      minReader, minWriter, readerFeatures.toSet, writerFeatures.toSet, tableConf,
      domainsB.collect { case (d, (cfg, false)) => d -> cfg }.toMap,
      entries.collect { case (p, (_, _, _, _, brid, dcv)) if brid >= 0L =>
        p -> ((brid, dcv)) })
    validateChecksum(fs, logP, path, snap)
    if (version.isEmpty) cachePut(fs, logP, snap)
    snap
  }

  /** One cached latest snapshot per table (log path), advanced
    * incrementally by [[snapshot]]. Identity = the cached version's
    * commit-file (length, mtime): immutable once published, so a match
    * proves the cached state is a prefix of the current log.
    */
  private final case class CachedSnap(snap: Snapshot, len: Long, mtime: Long)
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedSnap]()

  private def cachePut(fs: FileSystem, logP: Path, snap: Snapshot): Unit =
    try {
      val st = fs.getFileStatus(new Path(logP, f"${snap.version}%020d.json"))
      if (snapCache.size > 64) snapCache.clear() // crude bound; entries are small
      snapCache.put(logP.toString, CachedSnap(snap, st.getLen, st.getModificationTime))
    } catch { case scala.util.control.NonFatal(_) => () } // log-cleaned head: skip

  /** Test seam / escape hatch: forget every cached snapshot. */
  private[graft] def invalidateSnapshotCache(): Unit = snapCache.clear()

  /** Replay commits `(base.version, target]` on top of a cached
    * snapshot, driver-side and action-by-action (the log's sequential
    * semantics — equivalent to the full replay's last-wins fold on the
    * (path, dv.uniqueId) file identity). Returns None when the span is
    * unreadable or carries a `metaData` action (schema / configuration /
    * column-mapping changes re-key partition values and gates — the
    * full rebuild handles those).
    */
  private def applyCommitsIncremental(fs: FileSystem, logP: Path,
                                      base: Snapshot, target: Long): Option[Snapshot] = {
    var files = base.files; var sizes = base.sizes; var stats = base.stats
    var dvs = base.dvs; var rowIds = base.rowIds
    var txns = base.txns; var domains = base.domains
    var minReader = base.minReader; var minWriter = base.minWriter
    var readerF = base.readerFeatures; var writerF = base.writerFeatures
    val physToLogical = base.colMap.map(_.swap)
    def pvKeys(pv: Map[String, String]): Map[String, String] =
      if (physToLogical.isEmpty) pv
      else pv.map { case (k, v) => physToLogical.getOrElse(k, k) -> v }
    var bail = false
    var v = base.version + 1
    while (v <= target && !bail) {
      val p = new Path(logP, f"$v%020d.json")
      val contentOpt = graft.pipeline.VersionedTable.readSmall(fs, p)
      if (contentOpt.isEmpty) bail = true
      val lines = contentOpt.map(_.split("\n").iterator.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Iterator.empty)
      while (lines.hasNext && !bail) {
        val line = lines.next()
        val node = mapper.readTree(line)
        if (node.has("metaData")) bail = true
        else {
        if (node.has("protocol")) {
          val pr = node.get("protocol")
          minReader = minReader.max(pr.path("minReaderVersion").asInt(1))
          minWriter = minWriter.max(pr.path("minWriterVersion").asInt(2))
          if (pr.has("readerFeatures"))
            readerF ++= pr.get("readerFeatures").elements().asScala.map(_.asText())
          if (pr.has("writerFeatures"))
            writerF ++= pr.get("writerFeatures").elements().asScala.map(_.asText())
        }
        if (node.has("add")) {
          val add = node.get("add")
          val dec = decodePath(add.get("path").asText())
          val pv = Option(add.get("partitionValues")).map(n =>
            n.properties().asScala.map(e =>
              e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())).toMap)
            .getOrElse(Map.empty[String, String])
          files += dec -> pvKeys(pv)
          sizes += dec -> Option(add.get("size")).filterNot(_.isNull)
            .map(_.asLong()).getOrElse(-1L)
          val st = Option(add.get("stats")).filterNot(_.isNull).map(_.asText()).orNull
          if (st != null) stats += dec -> st else stats -= dec
          val dv = parseDv(add.get("deletionVector"))
          if (dv != null) dvs += dec -> dv else dvs -= dec
          val brid = if (add.hasNonNull("baseRowId")) add.get("baseRowId").asLong(-1L) else -1L
          val dcv = if (add.hasNonNull("defaultRowCommitVersion"))
            add.get("defaultRowCommitVersion").asLong(-1L) else -1L
          if (brid >= 0L) rowIds += dec -> ((brid, dcv)) else rowIds -= dec
        }
        if (node.has("remove")) {
          val rm = node.get("remove")
          val dec = decodePath(rm.path("path").asText())
          val uid = Option(parseDv(rm.get("deletionVector")))
            .map(_.uniqueId).getOrElse("")
          val curUid = dvs.get(dec).map(_.uniqueId).getOrElse("")
          // the protocol's file-action identity is (path, dv.uniqueId):
          // a remove of the OLD dv must not kill the same path's re-add
          // under a NEW dv (DV-growing DELETE commits both in one commit)
          if (files.contains(dec) && curUid == uid) {
            files -= dec; sizes -= dec; stats -= dec; dvs -= dec; rowIds -= dec
          }
        }
        if (node.has("txn")) {
          val t = node.get("txn")
          txns += t.path("appId").asText() -> t.path("version").asLong()
        }
        if (node.has("domainMetadata")) {
          val d = node.get("domainMetadata")
          val dom = d.path("domain").asText()
          if (d.path("removed").asBoolean(false)) domains -= dom
          else domains += dom -> d.path("configuration").asText(null)
        }
        }
      }
      v += 1
    }
    if (bail) return None
    Some(base.copy(version = target, files = files, sizes = sizes, stats = stats,
      dvs = dvs, rowIds = rowIds, txns = txns, domains = domains,
      minReader = minReader, minWriter = minWriter,
      readerFeatures = readerF, writerFeatures = writerF))
  }

  /** Opportunistic `<v>.crc` version-checksum validation (delta-spark
    * writes these sidecars; [[DeltaWrite]] does too): when the
    * snapshot's version has a parseable checksum carrying `numFiles` /
    * `tableSizeBytes`, the REPLAYED state must agree — a mismatch
    * means the log or a checkpoint is corrupted, and serving the
    * snapshot anyway would silently return wrong data. Absent or
    * unreadable checksums are fine (they're optional per the
    * protocol); size validation is skipped when any live file's size
    * is unknown (legacy adds without `size`).
    */
  /** Runtime kill switch for the whole `<v>.crc` machinery (publish +
    * validation): `SPARK_GRAFT_DELTA_CRC=off`. Exists so a bench A/B
    * can measure the machinery's cost on the same binary; checksums
    * are optional per the protocol, so disabling only loses the
    * corruption-detection depth, never correctness of served data.
    */
  private[sources] val crcDisabled: Boolean =
    sys.env.get("SPARK_GRAFT_DELTA_CRC").exists(_.equalsIgnoreCase("off"))

  private def validateChecksum(fs: FileSystem, logP: Path, path: String,
                               s: Snapshot): Unit = {
    if (crcDisabled) return
    val n: JsonNode =
      try {
        val p = new Path(logP, f"${s.version}%020d.crc")
        if (!fs.exists(p)) return
        graft.pipeline.VersionedTable.readSmall(fs, p)
          .map(mapper.readTree).orNull
      } catch { case scala.util.control.NonFatal(_) => return }
    if (n == null) return
    if (n.hasNonNull("numFiles")) {
      val expect = n.get("numFiles").asLong
      if (expect != s.files.size)
        throw new IllegalStateException(
          s"Delta table at $path fails checksum validation at version " +
            s"${s.version}: the .crc sidecar records numFiles=$expect but the " +
            s"replayed snapshot has ${s.files.size} live files — the log or a " +
            "checkpoint is corrupted; refusing to serve a wrong snapshot")
    }
    if (n.hasNonNull("tableSizeBytes") && s.files.keys.forall(p =>
        s.sizes.getOrElse(p, -1L) >= 0L)) {
      val expect = n.get("tableSizeBytes").asLong
      // keysIterator, NOT keys.map: mapping a key SET through sizes
      // would dedup equal sizes and undercount
      val got = s.files.keysIterator.map(s.sizes).sum
      if (expect != got)
        throw new IllegalStateException(
          s"Delta table at $path fails checksum validation at version " +
            s"${s.version}: tableSizeBytes=$expect recorded vs $got replayed — the " +
            "log or a checkpoint is corrupted; refusing to serve a wrong snapshot")
    }
  }

  /** A `deletionVector` descriptor from its action-JSON node (null =
    * no DV). Offset PRESENCE matters: delta's uniqueId distinguishes
    * an absent offset from 0, and a re-serialized remove must match.
    */
  private def parseDv(n: JsonNode): DeletionVectors.Descriptor = {
    if (n == null || n.isNull) return null
    val st = n.path("storageType").asText("")
    if (st.isEmpty) null
    else DeletionVectors.Descriptor(st, n.path("pathOrInlineDv").asText(""),
      if (n.hasNonNull("offset")) Some(n.get("offset").asInt()) else None,
      n.path("sizeInBytes").asInt(0),
      n.path("cardinality").asLong(0))
  }

  /** CHANGE DATA FEED read — delta-spark's `readChangeFeed` shape over
    * the commit span `[fromVersion, toVersion]` (default head): the
    * table's columns plus `_change_type` (insert / delete /
    * update_preimage / update_postimage), `_commit_version`, and
    * `_commit_timestamp`.
    *
    * Per PROTOCOL.md's change-data-files rules, a commit WITH `cdc`
    * actions yields exactly its `_change_data` parquet rows (written
    * by [[DeltaWrite.delete]] / [[DeltaWrite.merge]] on CDF tables);
    * a commit without them derives — `dataChange=true` adds read as
    * inserts, `dataChange=true` removes read as deletes, both with
    * their action's deletion vector applied (so an overwrite of a
    * DV-masked file reports only its LIVE rows deleted), and
    * `dataChange=false` maintenance contributes nothing. The span's
    * reads are log-planned file scans unioned per version — CDF spans
    * are incremental-consumer sized (a handful of commits), never a
    * full-history replay; schema is the END version's, older files
    * null-fill evolved columns by name. Derived deletes need the
    * REMOVED file still on disk: a vacuumed span fails loudly, the
    * same retention contract delta-spark's CDF has.
    */
  def readChanges(spark: SparkSession, path: String, fromVersion: Long,
                  toVersion: Option[Long] = None): DataFrame =
    readChangesImpl(spark, path, fromVersion, toVersion, None)

  /** The hidden column graft's cdc writers stamp each change row's row
    * id into (rowTracking tables): `_change_data` parquet is not table
    * data, so the column needs no mapping id and foreign readers prune
    * it by name.
    */
  private[sources] val CdcRowIdCol = "_graft_cdc_row_id"

  /** [[readChanges]] PLUS the protocol's row ids — one extra `rowIdCol`
    * column keying every change row by the stable id the row has (or
    * had) in the table, delta-spark 3.x's rowTracking-CDF surface:
    *  - inserts carry the id the new row reads back with
    *    (baseRowId + physical index, or its materialized id);
    *  - deletes carry the retired row's id;
    *  - update/merge preimage and postimage SHARE the row's id.
    * Commits WITHOUT cdc actions derive ids from their add/remove
    * actions' baseRowId (+ the hidden materialized column when the
    * table declares one). Commits WITH cdc actions need the change
    * rows themselves to carry ids ([[DeltaWrite]] stamps
    * [[CdcRowIdCol]] on DELETE always, and on UPDATE/MERGE/RESTORE
    * when ids are attributable — UPDATE/MERGE postimages need the
    * materialized-column declaration, since without it the rewritten
    * rows' fresh ids are unknowable at cdc-write time). A change row
    * that cannot be keyed refuses loudly rather than feeding a
    * consumer null keys.
    */
  def readChangesWithRowIds(spark: SparkSession, path: String, fromVersion: Long,
                            toVersion: Option[Long] = None,
                            rowIdCol: String = "_row_id"): DataFrame =
    readChangesImpl(spark, path, fromVersion, toVersion, Some(rowIdCol))

  private def readChangesImpl(spark: SparkSession, path: String, fromVersion: Long,
                              toVersion: Option[Long], rowIdOpt: Option[String]): DataFrame = {
    val rootP = qualifiedRoot(spark, path)
    val logP = new Path(rootP, "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val endSnap = snapshot(spark, rootP.toString, toVersion)
    val endV = endSnap.version
    require(fromVersion >= 0 && fromVersion <= endV,
      s"readChanges($path): fromVersion $fromVersion is outside [0, $endV]")
    require(endSnap.configuration.get("delta.enableChangeDataFeed")
        .exists(_.equalsIgnoreCase("true")),
      s"Delta table at $path does not have delta.enableChangeDataFeed=true — " +
        "enable it (DeltaWrite.setProperties) before reading the change feed")
    rowIdOpt.foreach { ric =>
      require(endSnap.minWriter >= 7 && endSnap.writerFeatures.contains("rowTracking"),
        s"Delta table at $path does not carry the rowTracking writer feature — " +
          "there are no row ids to key the change feed with")
      require(!endSnap.schema.fieldNames.exists(_.equalsIgnoreCase(ric)),
        s"row-id column '$ric' collides with a table column at $path")
    }
    val physToLogical = endSnap.colMap.map(_.swap)
    def pvLogical(pv: Map[String, String]): Map[String, String] =
      if (physToLogical.isEmpty) pv
      else pv.map { case (k, v) => physToLogical.getOrElse(k, k) -> v }
    def pvOf(n: JsonNode): Map[String, String] =
      Option(n.get("partitionValues")).map(_.properties().asScala
        .map(e => e.getKey ->
          (if (e.getValue.isNull) null else e.getValue.asText())).toMap)
        .getOrElse(Map.empty[String, String])
    // cdc parquet carries _change_type as a real column; under column
    // mapping it is its own physical name (no mapping id — it is not
    // table data)
    val ctSchema = StructType(endSnap.schema.fields :+
      StructField("_change_type", StringType, nullable = true))
    val ctColMap =
      if (endSnap.colMap.isEmpty) endSnap.colMap
      else endSnap.colMap + ("_change_type" -> "_change_type")

    val frames = Seq.newBuilder[DataFrame]
    // id-keyed cdc validation is DEFERRED and batched: the per-commit
    // counts all come out of ONE union aggregation after the span parse
    // (r18, guide §1 — a 3-commit span used to pay three validation
    // jobs; job count dominates these driver-heavy reads). Each entry:
    // (version, cdc frame, continuation applying the counts).
    val deferredCdc =
      scala.collection.mutable.ArrayBuffer.empty[(Long, DataFrame,
        (Long, Long, Long) => Unit)]
    (fromVersion to endV).foreach { v =>
      val p = new Path(logP, f"$v%020d.json")
      val content = graft.pipeline.VersionedTable.readSmall(fs, p).getOrElse(
        throw new IllegalStateException(
          s"Delta log at $path is missing commit $v — the change-feed span " +
            "reaches past the log's retention (cleaned log); raise fromVersion " +
            "into the retained span"))
      var ts: Long = -1L
      val cdc = Seq.newBuilder[(String, Map[String, String], Long)]
      // (relPath, partitionValues, size, dv, baseRowId | -1 when unstamped)
      val adds = Seq.newBuilder[(String, Map[String, String], Long,
        DeletionVectors.Descriptor, Long)]
      val rms = Seq.newBuilder[(String, DeletionVectors.Descriptor)]
      content.split("\n").map(_.trim).filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        if (node.has("commitInfo")) {
          val t = node.get("commitInfo").path("timestamp").asLong(-1L)
          if (t > 0) ts = t
        }
        if (node.has("cdc")) {
          val c = node.get("cdc")
          cdc += ((decodePath(c.get("path").asText()),
            pvLogical(pvOf(c)), c.path("size").asLong(-1L)))
        }
        if (node.has("add") && node.get("add").path("dataChange").asBoolean(true)) {
          val a = node.get("add")
          adds += ((decodePath(a.get("path").asText()), pvLogical(pvOf(a)),
            a.path("size").asLong(-1L), parseDv(a.get("deletionVector")),
            if (a.hasNonNull("baseRowId")) a.get("baseRowId").asLong() else -1L))
        }
        if (node.has("remove") &&
            node.get("remove").path("dataChange").asBoolean(true)) {
          val r = node.get("remove")
          rms += ((decodePath(r.get("path").asText()),
            parseDv(r.get("deletionVector"))))
        }
      }
      if (ts < 0) ts = fs.getFileStatus(p).getModificationTime
      def stamp(df: DataFrame): DataFrame = df
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", lit(new java.sql.Timestamp(ts)))
      val cdcFiles = cdc.result()
      val addFiles = adds.result()
      val rmFiles = rms.result()
      val rmPaths = rmFiles.map(_._1).toSet
      // this version's add actions as a snapshot-shaped scan; with row
      // ids, each add's log-resident baseRowId keys the fresh formula
      // (coalesced with the materialized column when declared), and
      // `matInsertsOnly` keeps ONLY fresh-id rows — inside a preserving
      // rewrite's output those are exactly the inserted rows
      def readAdds(files: Seq[(String, Map[String, String], Long,
          DeletionVectors.Descriptor, Long)], matInsertsOnly: Boolean): DataFrame = {
        val snapV = endSnap.copy(version = v,
          files = files.map(a => a._1 -> a._2).toMap,
          sizes = files.map(a => a._1 -> a._3).toMap,
          stats = Map.empty,
          dvs = files.collect { case (rel, _, _, d, _) if d != null => rel -> d }.toMap)
        rowIdOpt match {
          case None => readSnapshot(spark, rootP.toString, snapV)
          case Some(ric) =>
            files.foreach { case (rel, _, _, _, brid) =>
              require(brid >= 0L,
                s"readChanges($path): commit $v adds '$rel' without a baseRowId — " +
                  "the span reaches before row tracking was enabled; raise " +
                  "fromVersion past the enablement commit or read without row ids") }
            val withIds = readSnapshotRowIds(spark, rootP.toString,
              snapV.copy(rowIds = files.map(a => a._1 -> (a._5, v)).toMap), ric,
              matFlagCol = if (matInsertsOnly) Some("__graft_rid_mat") else None)
            if (matInsertsOnly)
              withIds.where(!col("__graft_rid_mat")).drop("__graft_rid_mat")
            else withIds
        }
      }
      if (cdcFiles.nonEmpty) {
        val cdcSnap = endSnap.copy(
          version = v, schema = ctSchema, colMap = ctColMap,
          files = cdcFiles.map(c => c._1 -> c._2).toMap,
          sizes = cdcFiles.map(c => c._1 -> c._3).toMap,
          stats = Map.empty, dvs = Map.empty)
        rowIdOpt match {
          case None =>
            frames += stamp(readSnapshot(spark, rootP.toString, cdcSnap))
          case Some(ric) =>
            // the change rows must carry their own ids ([[CdcRowIdCol]],
            // stamped by graft's cdc writers on rowTracking tables);
            // files written without it null-fill by name
            val idSchema = StructType(ctSchema.fields :+
              StructField(CdcRowIdCol, org.apache.spark.sql.types.LongType,
                nullable = true))
            val idColMap =
              if (ctColMap.isEmpty) ctColMap else ctColMap + (CdcRowIdCol -> CdcRowIdCol)
            val cdcDf = readSnapshot(spark, rootP.toString,
              cdcSnap.copy(schema = idSchema, colMap = idColMap))
            deferredCdc += ((v, cdcDf, (nNonInsNull, nInsKeyed, nInsNull) => {
              val isIns = col("_change_type") === "insert"
              require(nNonInsNull == 0L,
                s"readChanges($path): commit $v carries change-data rows without row " +
                  "ids — written before row-id support, or by an UPDATE/MERGE on a " +
                  "table with no materialized row-id column declaration (the " +
                  "rewritten rows' ids are unknowable at cdc-write time); declare " +
                  "delta.rowTracking.materializedRowIdColumnName or read without row ids")
              frames += stamp(cdcDf.where(!isIns).withColumnRenamed(CdcRowIdCol, ric))
              val hasKeyed = nInsKeyed > 0L
              val hasNull = nInsNull > 0L
              require(!(hasKeyed && hasNull),
                s"readChanges($path): commit $v mixes keyed and unkeyed insert " +
                  "change rows — cannot re-derive the unkeyed ones without " +
                  "double-counting the keyed ones")
              if (hasKeyed)
                frames += stamp(cdcDf.where(isIns && col(CdcRowIdCol).isNotNull)
                  .withColumnRenamed(CdcRowIdCol, ric))
              if (hasNull) {
                // unkeyed inserts (a preserving MERGE can't know its
                // inserts' ids at cdc-write time): the inserted rows live
                // in this commit's NEW files (paths it did not also
                // remove) as exactly the fresh-id rows
                val newAdds = addFiles.filterNot(a => rmPaths.contains(a._1))
                require(newAdds.nonEmpty,
                  s"readChanges($path): commit $v has unkeyed insert change rows " +
                    "but no new data files to derive their ids from")
                frames += stamp(readAdds(newAdds, matInsertsOnly = true)
                  .withColumn("_change_type", lit("insert")))
              }
            }))
        }
      } else {
        // A dataChange remove of a file RE-ADDED in the same commit
        // under a different DV is a DV-style DELETE/UPDATE (committed
        // before CDF was enabled, or by a writer that skipped cdc
        // files): whole-file derivation would emit delete+insert churn
        // for every SURVIVING row of the file. delta-spark fails such
        // a read — match its posture rather than feed consumers
        // spurious change rows.
        addFiles.foreach { case (p, _, _, _, _) =>
          require(!rmPaths.contains(p),
            s"readChanges($path): commit $v both removes and re-adds '$p' with " +
              "dataChange=true and carries no cdc action — a deletion-vector " +
              "DML committed without change-data files; its row-level changes " +
              "cannot be derived from whole files (delta-spark fails this read " +
              "too). Re-read from a version after CDF was enabled")
        }
        if (addFiles.nonEmpty) {
          frames += stamp(readAdds(addFiles, matInsertsOnly = false)
            .withColumn("_change_type", lit("insert")))
        }
        if (rmFiles.nonEmpty) {
          // removed files' partitionValues/sizes live in the PREVIOUS
          // version's snapshot (graft removes don't re-serialize them)
          val prev = snapshot(spark, rootP.toString, Some(v - 1))
          rmFiles.foreach { case (rel, _) =>
            require(prev.files.contains(rel),
              s"readChanges($path): commit $v removes $rel, which version " +
                s"${v - 1} does not carry — cannot derive its deleted rows") }
          val rmSnap = endSnap.copy(
            version = v,
            files = rmFiles.map { case (rel, _) => rel -> prev.files(rel) }.toMap,
            sizes = prev.sizes, stats = Map.empty,
            dvs = rmFiles.collect { case (rel, d) if d != null => rel -> d }.toMap)
          val rmDf = rowIdOpt match {
            case None => readSnapshot(spark, rootP.toString, rmSnap)
            case Some(ric) =>
              // deletes carry the RETIRED ids — the ids the rows had at
              // v-1 (per-file baseRowId + physical index, materialized
              // column honored)
              rmFiles.foreach { case (rel, _) =>
                require(prev.rowIds.contains(rel),
                  s"readChanges($path): commit $v removes '$rel', which carries " +
                    s"no baseRowId at version ${v - 1} — the span reaches before " +
                    "row tracking was enabled; raise fromVersion or read " +
                    "without row ids") }
              readSnapshotRowIds(spark, rootP.toString,
                rmSnap.copy(rowIds =
                  prev.rowIds.filter(kv => rmSnap.files.contains(kv._1))), ric)
          }
          frames += stamp(rmDf.withColumn("_change_type", lit("delete")))
        }
      }
    }
    if (deferredCdc.nonEmpty) {
      import org.apache.spark.sql.functions.{sum => fsum, when => fwhen}
      val isIns = col("_change_type") === "insert"
      val union = deferredCdc.map { case (v, df, _) =>
        df.select(lit(v).as("__v"), col("_change_type"), col(CdcRowIdCol))
      }.reduce(_.unionByName(_))
      val counts = union.groupBy("__v").agg(
        fsum(fwhen(!isIns && col(CdcRowIdCol).isNull, 1L).otherwise(0L)),
        fsum(fwhen(isIns && col(CdcRowIdCol).isNotNull, 1L).otherwise(0L)),
        fsum(fwhen(isIns && col(CdcRowIdCol).isNull, 1L).otherwise(0L)))
        .collect().map { r =>
          def n(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
          r.getLong(0) -> ((n(1), n(2), n(3)))
        }.toMap
      deferredCdc.foreach { case (v, _, apply) =>
        val (a, b, c) = counts.getOrElse(v, (0L, 0L, 0L))
        apply(a, b, c)
      }
    }
    val outCols = ((endSnap.schema.fieldNames :+ "_change_type" :+
      "_commit_version" :+ "_commit_timestamp") ++ rowIdOpt).map(col)
    frames.result() match {
      case Seq() =>
        import org.apache.spark.sql.types.{LongType, TimestampType}
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType((ctSchema.fields :+
            StructField("_commit_version", LongType, nullable = false) :+
            StructField("_commit_timestamp", TimestampType, nullable = false)) ++
            rowIdOpt.map(StructField(_, LongType, nullable = false))))
      case fs0 => fs0.map(_.select(outCols: _*)).reduce(_.unionByName(_))
    }
  }

  /** TOP-LEVEL logical → physical name map for column-mapped tables:
    * every top-level field must carry the protocol's physicalName
    * metadata. Nested mapped schemas read too (round 15): the inner
    * renames resolve from each nested field's own metadata at the scan
    * ([[scanSnapshot]]'s recursive physicalization + cast-back) — this
    * map stays top-level because that is what partition translation
    * and the writers consume.
    */
  private def buildColMap(path: String, schema: StructType): Map[String, String] = {
    schema.fields.map { f =>
      val key = "delta.columnMapping.physicalName"
      if (!f.metadata.contains(key))
        throw new IllegalStateException(
          s"Delta table at $path declares column mapping but column " +
            s"'${f.name}' carries no physicalName metadata (the protocol " +
            "requires it in both name and id modes) — corrupt log?")
      f.name -> f.metadata.getString(key)
    }.toMap
  }

  /** `_last_checkpoint` fast path for latest-version reads: returns
    * (latest version, checkpoint version, its file names) with NO log
    * listing, or None when the pointer is absent/stale/half-written
    * (→ caller falls back to the listing path). The commit tail is
    * probed forward from the checkpoint — protocol commit versions are
    * contiguous, so the first missing NNN.json is the end of the log.
    */
  private def fastDiscovery(fs: FileSystem, logP: Path)
      : Option[(Long, Option[Long], Map[Long, Seq[String]])] = {
    val ptr = new Path(logP, "_last_checkpoint")
    val content = graft.pipeline.VersionedTable.readSmall(fs, ptr).getOrElse(return None)
    val (cpV, parts) =
      try {
        val node = mapper.readTree(content.trim)
        if (!node.has("version")) return None
        (node.get("version").asLong(),
          if (node.has("parts")) Some(node.get("parts").asInt()) else None)
      } catch { case _: Exception => return None }
    val classic = parts match {
      case Some(b) => (1 to b).map(a => f"$cpV%020d.checkpoint.$a%010d.$b%010d.parquet")
      case None => Seq(f"$cpV%020d.checkpoint.parquet")
    }
    val cpNames: Seq[String] =
      if (classic.forall(n => fs.exists(new Path(logP, n)))) classic
      else {
        // the pointer may reference a V2 (UUID-named) checkpoint — one
        // targeted glob on the version prefix keeps the no-LIST fast
        // path alive for v2-policy tables instead of permanently
        // falling back to the full log listing
        val globbed = try fs.globStatus(
          new Path(logP, f"$cpV%020d.checkpoint.*.parquet"))
          .map(_.getPath.getName).toSeq
        catch { case scala.util.control.NonFatal(_) => Seq.empty[String] }
        checkpointFilesOf(globbed).get(cpV) match {
          case Some(names) => names
          case None => return None // stale pointer
        }
      }
    var latest = cpV
    while (fs.exists(new Path(logP, f"${latest + 1}%020d.json"))) latest += 1
    Some((latest, Some(cpV), Map(cpV -> cpNames)))
  }

  /** One-shot migration of a Delta table into graft's versioned-table
    * protocol: reads the requested snapshot through the log and
    * commits it as one manifest version at `graftRoot` (after which
    * appends are O(delta) pointer commits, streams are
    * exactly-committed, and matviews can maintain incrementally —
    * none of which this read-only interop can offer on the foreign
    * log). The source table is untouched.
    */
  def importDelta(spark: SparkSession, deltaRoot: String, graftRoot: String,
                  version: Option[Long] = None,
                  format: String = "parquet"): Long = {
    val snap = read(spark, deltaRoot, version)
    graft.pipeline.VersionedTable.commit(spark, graftRoot, format, base => {
      require(base.isEmpty,
        s"importDelta targets a FRESH graft root; $graftRoot already has commits — " +
          "merge through the normal write path instead")
      snap
    })
  }

  /** Committed versions visible in the log (for GRAFT_VERSIONS-style
    * introspection of foreign tables). A log-cleaned table may hold a
    * version ONLY as a checkpoint (no surviving NNN.json) — snapshot()/
    * read() can serve such a version, so it must be listed here too
    * (same single/multi-part discovery logic as snapshot()).
    */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val logP = new Path(qualifiedRoot(spark, path), "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logP)) Nil
    else {
      val names = fs.listStatus(logP).toSeq.map(_.getPath.getName)
      (commitVersionsOf(names) ++ checkpointFilesOf(names).keys).distinct.sorted
    }
  }

  /** Newest committed version, None for a non-delta/empty log — the
    * streaming source's `getOffset` probe (pointer fast path when the
    * pointer is fresh, one LIST otherwise).
    */
  private[graft] def latestVersion(spark: SparkSession, path: String): Option[Long] =
    versions(spark, path).lastOption

  /** TIMESTAMP time travel: the newest version whose commit timestamp
    * is ≤ `tsMillis` — delta-spark's `timestampAsOf` resolution. Commit
    * timestamps are the log files' MODIFICATION TIMES with delta's
    * monotonicity adjustment (a commit stamped at or before its
    * predecessor reads as predecessor+1 ms, so clock skew between
    * writers can never make resolution non-monotonic). One LIST, zero
    * content reads. Versions whose commit JSON was log-cleaned have no
    * timestamp — a request resolving below the earliest surviving
    * commit refuses (delta-spark's contract), and checkpoint-only
    * versions are likewise not timestamp-addressable.
    */
  def versionAt(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val logP = new Path(qualifiedRoot(spark, path), "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(logP), s"$path is not a Delta table (no _delta_log)")
    val stamped = fs.listStatus(logP).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit)
      }
      .map(st => st.getPath.getName.stripSuffix(".json").toLong -> st.getModificationTime)
      .sortBy(_._1)
    require(stamped.nonEmpty,
      s"Delta table at $path has no surviving commit JSONs — timestamps are not " +
        "reconstructable from a checkpoint-only log; time travel by version instead")
    // IN-COMMIT TIMESTAMPS (writer feature inCommitTimestamp): when the
    // table pins delta.enableInCommitTimestamps, every version at or
    // past the enablement version resolves by the commitInfo's
    // inCommitTimestamp — the clock-skew-proof clock the writers
    // maintain monotonic — and only pre-enablement versions fall back
    // to file mtimes. One small content read per surviving commit in
    // the ICT span (bounded by the post-cleanup log tail).
    val conf = snapshot(spark, path).configuration
    val ictTs: Map[Long, Long] =
      if (!conf.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true")))
        Map.empty
      else {
        val enableV = conf.get("delta.inCommitTimestampEnablementVersion")
          .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(0L)
        stamped.collect { case (v, _) if v >= enableV =>
          graft.pipeline.VersionedTable.readSmall(fs, new Path(logP, f"$v%020d.json"))
            .flatMap(_.split("\n").find(_.contains("inCommitTimestamp")))
            .flatMap { l =>
              val n = mapper.readTree(l)
              Option(n.get("commitInfo")).flatMap(ci =>
                Option(ci.get("inCommitTimestamp")).map(t => v -> t.asLong()))
            }
        }.flatten.toMap
      }
    // monotonic adjustment in version order (ICT values are already
    // monotonic by the writer contract and simply pass through the max)
    val adjusted = stamped.scanLeft((-1L, Long.MinValue)) { case ((_, prevTs), (v, ts)) =>
      (v, math.max(ictTs.getOrElse(v, ts), prevTs + 1))
    }.drop(1)
    require(tsMillis >= adjusted.head._2,
      s"timestamp $tsMillis predates the earliest surviving commit of the Delta " +
        s"table at $path (version ${adjusted.head._1} at ${adjusted.head._2}) — " +
        "older commits were log-cleaned")
    adjusted.takeWhile(_._2 <= tsMillis).last._1
  }

  /** [[read]] at the newest version committed at or before `tsMillis`. */
  def readAt(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    read(spark, path, Some(versionAt(spark, path, tsMillis)))

  /** PHYSICAL row indexes matching `condition`, per live file — the
    * input of a DV-emitting delete ([[DeltaWrite.delete]]). The scan
    * deliberately ignores the current DVs: DV indexes address physical
    * file rows, and the caller unions with the existing bitmap (a
    * match that is already soft-deleted simply stays deleted). Returns
    * decoded-relative-path → sorted indexes; refuses past the DV cap.
    *
    * Scale shape: the per-file grouping and index sort run ON THE
    * EXECUTORS (`groupBy(file).agg(sort_array(collect_list(idx)))`) so
    * the driver receives ONE row per touched file whose payload is the
    * packed index array — 8 bytes per matched row, the same residency
    * the commit's DV serialization needs anyway. A row-level collect
    * here would ship a full Row object + the repeated file-path string
    * per matched row (~20× the bytes) and OOM the driver long before
    * the cap fired. The cap itself is BYTES of index payload
    * ([[DeletionVectors.maxDeletedRows]] × 8), checked AFTER the
    * collect on the collected sizes: the collect itself relies on
    * `spark.driver.maxResultSize` to stop a pathological DELETE before
    * the driver is at risk.
    */
  private[sources] def matchedPhysicalRows(spark: SparkSession, path: String,
                                           snap: Snapshot,
                                           condition: String): Map[String, Array[Long]] = {
    val rootP = qualifiedRoot(spark, path)
    // key space = _metadata.file_path = SparkPath (URL-encoded URI)
    // form; Path.toString would leave e.g. a space in a partition
    // value raw and the lookup below would miss (see readSnapshot)
    val absToRel = snap.files.keys.map(rel => new Path(rootP, rel).toUri.toString -> rel).toMap
    val scanned = scanSnapshot(spark, path, snap.copy(dvs = Map.empty), withRowMeta = true)
      .where(condition)
      .select(col("__graft_dv_fp"), col("__graft_dv_ri"))
    // ONE scan (r19, guide §1.2/§1.4): the budget used to be guarded by
    // a dedicated count() — a second full pass over every candidate
    // file before the collect. The refusal condition is unchanged
    // (same threshold, same message) but now checks the collected
    // sizes; the collect itself stays bounded by
    // spark.driver.maxResultSize (1 GB default ≈ the 800 MB the old
    // pre-count admitted anyway), so a pathological DELETE still fails
    // before the driver is at risk — it just fails inside the collect
    // rather than ahead of it.
    import org.apache.spark.sql.functions.{collect_list, sort_array}
    val out = scanned.groupBy(col("__graft_dv_fp"))
      .agg(sort_array(collect_list(col("__graft_dv_ri"))).as("__graft_dv_ris"))
      .collect()
      .map { r =>
        val rel = absToRel.getOrElse(r.getString(0),
          throw new IllegalStateException(
            s"DELETE scan surfaced an unknown file ${r.getString(0)}"))
        rel -> r.getSeq[Long](1).toArray
      }.toMap
    val n = out.valuesIterator.map(_.length.toLong).sum
    require(8L * n <= 8L * DeletionVectors.maxDeletedRows,
      s"DELETE at $path matches $n rows (${8L * n} bytes of row indexes) — past " +
        s"the deletion-vector budget (${8L * DeletionVectors.maxDeletedRows} bytes); " +
        "rewrite the table instead")
    out
  }

  /** One commit's DATA-CHANGING actions, for the streaming source:
    * adds as (encoded path, partitionValues, size, statsOrNull), plus
    * how many files the commit removed. Actions flagged
    * `dataChange=false` (OPTIMIZE repackaging) are excluded on both
    * sides — per the protocol they carry no new rows and must not
    * stream or fail a stream.
    */
  private[graft] final case class CommitActions(
      version: Long,
      adds: Seq[(String, Map[String, String], Long, String, Long)],
      removes: Int)

  /** Parse commits `(fromExclusive, toInclusive]` — the streaming
    * micro-batch span. A missing commit file inside the span means the
    * stream's lag exceeded the log's retention (cleaned log): loud.
    */
  private[graft] def commitActions(spark: SparkSession, path: String,
                                   fromExclusive: Long,
                                   toInclusive: Long): Seq[CommitActions] = {
    val logP = new Path(qualifiedRoot(spark, path), "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fromExclusive + 1 to toInclusive).map { v =>
      val p = new Path(logP, f"$v%020d.json")
      val content = graft.pipeline.VersionedTable.readSmall(fs, p).getOrElse(
        throw new IllegalStateException(
          s"Delta log at $path is missing commit $v — the stream's lag exceeded " +
            "the log's retention (cleaned log); restart from a fresh checkpoint"))
      var removes = 0
      // (encodedPath, partitionValues, size, statsOrNull, baseRowId|-1)
      val adds = Seq.newBuilder[(String, Map[String, String], Long, String, Long)]
      content.split("\n").map(_.trim).filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        if (node.has("add")) {
          val ad = node.get("add")
          if (ad.path("dataChange").asBoolean(true)) {
            val pv = Option(ad.get("partitionValues")).map(_.properties().asScala
              .map(e => e.getKey ->
                (if (e.getValue.isNull) null else e.getValue.asText())).toMap)
              .getOrElse(Map.empty[String, String])
            adds += ((ad.get("path").asText(), pv,
              ad.path("size").asLong(-1L), ad.path("stats").asText(null),
              if (ad.hasNonNull("baseRowId")) ad.get("baseRowId").asLong() else -1L))
          }
        }
        if (node.has("remove") &&
            node.get("remove").path("dataChange").asBoolean(true)) removes += 1
      }
      CommitActions(v, adds.result(), removes)
    }
  }

  /** Parse an `add.stats` JSON into the [[graft.pipeline.FileStats]]
    * shape the skipping machinery consumes. Stat domains: integral →
    * Long, floating → Double, text → String (matching the sidecar
    * domains, so the shared interval/overlap logic applies verbatim);
    * a null bound, domain mismatch between min and max, or unparseable
    * JSON records no entry — the file is scanned, never mis-skipped.
    */
  private[sources] def parseAddStats(json: String)
      : Option[graft.pipeline.FileStats.FileStat] =
    try {
      val n = mapper.readTree(json)
      val rows = Option(n.get("numRecords")).filterNot(_.isNull)
        .map(_.asLong()).getOrElse(-1L)
      def statVal(nd: com.fasterxml.jackson.databind.JsonNode): Option[Any] =
        if (nd == null || nd.isNull) None
        else if (nd.isIntegralNumber) Some(nd.asLong())
        else if (nd.isFloatingPointNumber) Some(nd.asDouble())
        else if (nd.isTextual) Some(nd.asText())
        else None
      val cols = (for {
        mn <- Option(n.get("minValues")).toSeq
        mx <- Option(n.get("maxValues")).toSeq
        e <- mn.properties().asScala
        hiN <- Option(mx.get(e.getKey))
        lo <- statVal(e.getValue)
        hi <- statVal(hiN)
        if lo.getClass == hi.getClass
      } yield e.getKey -> graft.pipeline.FileStats.ColStat(lo, hi)).toMap
      Some(graft.pipeline.FileStats.FileStat("", rows, cols))
    } catch { case scala.util.control.NonFatal(_) => None }

  private[sources] def commitVersionsOf(names: Seq[String]): Seq[Long] = names.collect {
    case n if n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit) =>
      n.stripSuffix(".json").toLong
  }.sorted

  /** Checkpoint forms: single-file vNNN.checkpoint.parquet, or the
    * large-table multi-part vNNN.checkpoint.AAAAAAAAAA.BBBBBBBBBB
    * .parquet (part A of B) — a multi-part version is usable only
    * when ALL its parts are present (a half-written one is not a
    * checkpoint yet, per the protocol).
    */
  private[sources] def checkpointFilesOf(names: Seq[String]): Map[Long, Seq[String]] = {
    val SinglePart = """(\d{20})\.checkpoint\.parquet""".r
    val MultiPart = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
    // V2 (UUID-named) checkpoints — sidecar resolution happens at read
    // time; several UUIDs at one version are equivalent by protocol,
    // pick the lexicographically first for determinism
    val V2 = """(\d{20})\.checkpoint\.[0-9a-fA-F]{8}-[0-9a-fA-F-]{27}\.parquet""".r
    val singles = names.collect { case SinglePart(v) => v.toLong -> Seq(f"${v.toLong}%020d.checkpoint.parquet") }
    val multis = names.collect { case MultiPart(v, a, b) => (v.toLong, b.toInt, a.toInt) }
      .groupBy { case (v, b, _) => (v, b) }
      .collect { case ((v, b), parts) if parts.map(_._3).toSet == (1 to b).toSet =>
        v -> (1 to b).map(a => f"$v%020d.checkpoint.$a%010d.$b%010d.parquet")
      }.toSeq
    val v2s = names.collect { case n @ V2(v) => v.toLong -> n }
      .groupBy(_._1).map { case (v, ns) => v -> Seq(ns.map(_._2).min) }
    // classic forms win when both exist at a version (either is valid)
    (v2s.toSeq ++ multis ++ singles).toMap
  }

  /** Reader-protocol gate (PROTOCOL.md's "Reader Requirements"):
    *  - v1: always readable.
    *  - v2: column mapping — `name` mode supported (physical-name scan
    *    + rename), `id` mode (parquet field-id resolution) refused.
    *  - v3: table features — readable iff every `readerFeatures` entry
    *    is one this reader actually implements (`columnMapping`,
    *    `timestampNtz` — the latter is just a type our schema parse
    *    already carries). Everything else refuses loudly: ignoring an
    *    unknown reader feature is silent data corruption by design of
    *    the protocol.
    *
    * `typeWidening` (and its `-preview` form) is SUPPORTED (round 17):
    * a widened column's old files store the narrower physical type and
    * the scan's read schema carries the wider table type — Spark 4's
    * parquet reader performs the widening promotions the delta matrix
    * allows (int8/16/32→int64, float→double; SPARK-40876), pinned in
    * DeltaReadSuite against hand-widened logs.
    */
  private def validateReaderProtocol(path: String, minReader: Int,
                                     features: Set[String], mappingMode: String): Unit = {
    // vacuumProtocolCheck has no read-path semantics — its contract is
    // "VACUUM must validate the protocol first", which DeltaWrite.vacuum
    // does (requireWritable) — so tables carrying it stay readable
    val supported = Set("columnMapping", "timestampNtz", "deletionVectors",
      "v2Checkpoint", "vacuumProtocolCheck", "typeWidening", "typeWidening-preview",
      // variant: Spark 4's parquet reader consumes both the unshredded
      // struct<metadata, value> layout (variantType) and shredded files
      // (variantShredding-preview — spark.sql.variant.allowReadingShredded
      // is on by default), so tables carrying either stay readable
      "variantType", "variantType-preview", "variantShredding-preview")
    if (minReader >= 3) {
      val unsupported = features -- supported
      require(unsupported.isEmpty,
        s"Delta table at $path requires reader features ${unsupported.toSeq.sorted.mkString(", ")} " +
          "— this interop reader supports only " +
          s"${supported.toSeq.sorted.mkString(", ")}; read it with the real " +
          "delta-spark connector or migrate it to a graft versioned table")
    }
    require(minReader <= 3,
      s"Delta table at $path requires minReaderVersion=$minReader — newer than " +
        "this interop reader's protocol support (v3); read it with delta-spark")
    require(mappingMode == "none" || mappingMode == "name" || mappingMode == "id",
      s"Delta table at $path uses delta.columnMapping.mode=$mappingMode — only " +
        "'name' and 'id' modes (and unmapped tables) are supported by this " +
        "interop reader; read it with delta-spark")
  }

  /** Log paths are RFC-2396 percent-encoded URIs (delta-spark decodes
    * via `new URI(p).getPath`) — NOT form-encoding: URLDecoder would
    * turn a literal '+' in a file or partition-dir name into a space
    * and the resolved path would miss on disk.
    *
    * The protocol ALSO allows `add.path` to be an absolute URI (shallow
    * clones, absolute-path writers). Resolving such an entry against
    * THIS table root's filesystem would silently read from the wrong
    * location (or fail with an opaque path error), so it is refused
    * loudly — same contract as the minReaderVersion gate.
    */
  private[sources] def decodePath(rel: String): String = {
    val uri =
      try new java.net.URI(rel)
      catch { case _: java.net.URISyntaxException =>
        throw new IllegalStateException(s"Delta log references an unparseable path '$rel'") }
    val p = uri.getPath
    if (uri.getScheme != null || uri.getAuthority != null || (p != null && p.startsWith("/")))
      throw new IllegalStateException(
        s"Delta log references an ABSOLUTE file path '$rel' (shallow clone or " +
          "absolute-path writer) — this interop reader resolves add entries " +
          "against the table root only; read the table with delta-spark or " +
          "migrate it to a graft versioned table")
    p
  }

  private def qualifiedRoot(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }
}
