package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The transaction core under every Delta commit [[DeltaWrite]] makes:
  * a typed action model with ONE serializer, one protocol-action
  * calculator, one publish ([[publishCommit]]: ICT stamp, row-tracking
  * stamp, `.crc` sidecar) and one optimistic commit loop ([[commit]]).
  *
  * An operation supplies only its BODY: given the attempt's snapshot
  * it either declares a no-op at a version or returns the actions to
  * commit plus the files it staged for them. The loop owns everything
  * else — the writer gate on every attempt's snapshot, the CAS, the
  * post-commit checkpoint cadence, reclaiming staged files the log will
  * never reference, and the retry cap.
  */
private[sources] object DeltaTxn {

  private val mapper = new ObjectMapper()

  private val EngineInfo = "graft-delta-writer/1.0"

  /** Commit attempts before an operation gives up on a table another
    * writer keeps committing to.
    */
  val MaxAttempts = 20

  // ----- actions ------------------------------------------------------

  sealed trait Action

  /** `params` become `operationParameters` (omitted when empty); Long
    * values serialize as JSON numbers, anything else as strings. `ict`
    * is the in-commit timestamp — set by [[publishCommit]] on ICT
    * tables unless the body pinned one.
    */
  final case class CommitInfo(operation: String, params: Seq[(String, Any)] = Nil,
                              ict: Option[Long] = None) extends Action

  /** Feature lists are absent (None) on legacy protocols. */
  final case class Protocol(minReader: Int, minWriter: Int,
                            readerFeatures: Option[Seq[String]],
                            writerFeatures: Option[Seq[String]]) extends Action

  final case class MetaData(id: String, schemaString: String,
                            partitionColumns: Seq[String],
                            configuration: Map[String, String]) extends Action

  /** `path` is the DECODED table-relative path (the serializer
    * percent-encodes it); `modificationTime` None = the commit's clock;
    * `rowIds` = (baseRowId, defaultRowCommitVersion), the version
    * omitted when negative.
    */
  final case class Add(path: String, partitionValues: Map[String, String], size: Long,
                       modificationTime: Option[Long], dataChange: Boolean,
                       stats: Option[String] = None,
                       dv: Option[DeletionVectors.Descriptor] = None,
                       rowIds: Option[(Long, Long)] = None) extends Action

  final case class Remove(path: String, dataChange: Boolean,
                          dv: Option[DeletionVectors.Descriptor]) extends Action

  final case class Cdc(path: String, partitionValues: Map[String, String],
                       size: Long) extends Action

  final case class Txn(appId: String, version: Long) extends Action

  final case class DomainMetadata(domain: String, configuration: String,
                                  removed: Boolean) extends Action

  /** A file a commit body staged: data written by Spark's parquet
    * writer and renamed into the table (or under `_change_data/`),
    * referenced by no log entry until a commit publishes it.
    */
  final case class NewFile(
      relPath: String,
      partitionValues: Map[String, String],
      size: Long,
      modificationTime: Long,
      stats: String = null)

  /** The add action for a staged data file. */
  def addOf(f: NewFile, dataChange: Boolean = true): Add =
    Add(f.relPath, f.partitionValues, f.size, Some(f.modificationTime), dataChange,
      Option(f.stats))

  /** The cdc action for a staged `_change_data` file. */
  def cdcOf(f: NewFile): Cdc = Cdc(f.relPath, f.partitionValues, f.size)

  /** Re-add a live file of `snap` (DV DML, the row-tracking backfill,
    * restore): partition values go back under PHYSICAL keys on a
    * column-mapped table (snapshot keys are logical), stats carry, and
    * `dv` is the descriptor the re-added file carries. `withRowIds`
    * embeds the file's row ids in `snap` — restore needs them, since
    * the head snapshot [[stampRowTracking]] carries from is not the one
    * the file comes from.
    */
  def reAdd(snap: DeltaRead.Snapshot, rel: String, dataChange: Boolean,
            dv: Option[DeletionVectors.Descriptor],
            withRowIds: Boolean = false): Add =
    Add(rel, snap.files(rel).map { case (k, v) => snap.colMap.getOrElse(k, k) -> v },
      snap.sizes.getOrElse(rel, -1L), None, dataChange, snap.stats.get(rel), dv,
      if (withRowIds) snap.rowIds.get(rel) else None)

  /** The metaData action re-emitted over `snap`, carrying its table id
    * (a fresh id would read as a different table to other Delta
    * clients).
    */
  def metaDataOf(snap: Option[DeltaRead.Snapshot], schemaString: String,
                 partitionColumns: Seq[String],
                 configuration: Map[String, String]): MetaData =
    MetaData(snap.flatMap(s => Option(s.metaId))
      .getOrElse(java.util.UUID.randomUUID.toString),
      schemaString, partitionColumns, configuration)

  /** The one action serializer: `now` stamps the commit clock into
    * commitInfo, remove, txn, metaData and clock-stamped adds.
    */
  private def json(a: Action, now: Long): ObjectNode = {
    val n = mapper.createObjectNode
    def putPv(b: ObjectNode, pv: Map[String, String]): Unit = {
      val o = b.putObject("partitionValues")
      pv.foreach { case (k, v) => if (v == null) o.putNull(k) else o.put(k, v) }
    }
    // the protocol's (path, dv.uniqueId) reconciliation needs a file
    // action to name EXACTLY its dv identity, including offset PRESENCE
    // (delta's uniqueId distinguishes absent from 0)
    def putDv(b: ObjectNode, d: DeletionVectors.Descriptor): Unit = {
      val o = b.putObject("deletionVector")
      o.put("storageType", d.storageType)
      o.put("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(o.put("offset", _))
      o.put("sizeInBytes", d.sizeInBytes)
      o.put("cardinality", d.cardinality)
    }
    def strings(b: ObjectNode, name: String, xs: Seq[String]): Unit = {
      val arr = b.putArray(name); xs.foreach(arr.add)
    }
    a match {
      case CommitInfo(operation, params, ict) =>
        val b = n.putObject("commitInfo")
        b.put("timestamp", now)
        ict.foreach(b.put("inCommitTimestamp", _))
        b.put("operation", operation)
        if (params.nonEmpty) {
          val o = b.putObject("operationParameters")
          params.foreach {
            case (k, v: Long) => o.put(k, v)
            case (k, v) => o.put(k, v.toString)
          }
        }
        b.put("engineInfo", EngineInfo)
      case Protocol(r, w, rf, wf) =>
        val b = n.putObject("protocol")
        b.put("minReaderVersion", r)
        b.put("minWriterVersion", w)
        rf.foreach(strings(b, "readerFeatures", _))
        wf.foreach(strings(b, "writerFeatures", _))
      case MetaData(id, schemaString, parts, conf) =>
        val b = n.putObject("metaData")
        b.put("id", id)
        val fmt = b.putObject("format")
        fmt.put("provider", "parquet")
        fmt.putObject("options")
        b.put("schemaString", schemaString)
        strings(b, "partitionColumns", parts)
        val cfg = b.putObject("configuration")
        conf.toSeq.sortBy(_._1).foreach { case (k, v) => cfg.put(k, v) }
        b.put("createdTime", now)
      case Add(path, pv, size, mtime, dataChange, stats, dv, rowIds) =>
        val b = n.putObject("add")
        b.put("path", DeltaWrite.encodePath(path))
        putPv(b, pv)
        b.put("size", size)
        b.put("modificationTime", mtime.getOrElse(now))
        b.put("dataChange", dataChange)
        stats.foreach(b.put("stats", _))
        dv.foreach(putDv(b, _))
        rowIds.foreach { case (base, dcv) =>
          b.put("baseRowId", base)
          if (dcv >= 0L) b.put("defaultRowCommitVersion", dcv)
        }
      case Remove(path, dataChange, dv) =>
        val b = n.putObject("remove")
        b.put("path", DeltaWrite.encodePath(path))
        b.put("deletionTimestamp", now)
        b.put("dataChange", dataChange)
        dv.foreach(putDv(b, _))
      case Cdc(path, pv, size) =>
        // dataChange=false per the protocol: cdc files describe
        // changes; they are not table data and never replay
        val b = n.putObject("cdc")
        b.put("path", DeltaWrite.encodePath(path))
        putPv(b, pv)
        b.put("size", size)
        b.put("dataChange", false)
      case Txn(appId, version) =>
        val b = n.putObject("txn")
        b.put("appId", appId)
        b.put("version", version)
        b.put("lastUpdated", now)
      case DomainMetadata(domain, configuration, removed) =>
        val b = n.putObject("domainMetadata")
        b.put("domain", domain)
        b.put("configuration", Option(configuration).getOrElse(""))
        b.put("removed", removed)
    }
    n
  }

  // ----- protocol -----------------------------------------------------

  /** Legacy (minReader, minWriter) versions implying each feature — the
    * protocol's table. Features absent here exist only in the table
    * features form (reader 3 / writer 7).
    */
  private val legacyVersions: Map[String, (Int, Int)] = Map(
    "appendOnly" -> (1, 2), "invariants" -> (1, 2), "checkConstraints" -> (1, 3),
    "changeDataFeed" -> (1, 4), "generatedColumns" -> (1, 4),
    "columnMapping" -> (2, 5), "identityColumns" -> (1, 6))

  /** Features a READER must understand too — listed in both feature
    * lists once the table is in the features form.
    */
  private val readerWriterFeatures = Set("columnMapping", "deletionVectors",
    "typeWidening", "v2Checkpoint", "variantType", "variantShredding-preview",
    "timestampNtz")

  /** The writer features a legacy `minWriterVersion` IMPLIES: upgrading
    * a legacy table to the features form must list them all, or the
    * upgrade silently drops enforcement other writers rely on.
    */
  def impliedWriterFeatures(minWriter: Int): Seq[String] =
    legacyVersions.toSeq.collect { case (f, (_, w)) if w <= minWriter => f }.sorted

  /** The protocol action a commit needs so the table supports every
    * feature in `features`; None when it already does. A commit
    * carries at most ONE protocol action (it replaces the previous
    * one, so two would drop each other's additions) — every upgrade a
    * commit needs folds into this one call. Existing features always
    * carry forward. The shapes:
    *  - a reader feature outside the legacy table (deletion vectors,
    *    type widening, v2 checkpoints, variant, timestampNtz) moves the
    *    table to reader 3 / writer 7 with both lists;
    *  - writer features on a writer-7 table extend `writerFeatures`;
    *  - on a legacy table, features with a legacy version raise the
    *    versions; a features-only writer feature (ICT, row tracking,
    *    domain metadata) moves the writer to 7 with the implied list.
    */
  def protocolAction(minReader: Int, minWriter: Int, readerFeatures: Set[String],
                     writerFeatures: Set[String], features: Set[String]): Option[Protocol] = {
    val implied = impliedWriterFeatures(minWriter)
    def hasWriter(f: String) =
      if (minWriter >= 7) writerFeatures(f) else implied.contains(f)
    def hasReader(f: String) = !readerWriterFeatures(f) ||
      (if (minReader >= 3) readerFeatures(f)
       else legacyVersions.get(f).exists(_._1 <= minReader))
    val missing = features.filterNot(f => hasReader(f) && hasWriter(f))
    if (missing.isEmpty) return None
    def sorted(s: Set[String]) = Some(s.toSeq.sorted)
    val missingReader = missing.filter(readerWriterFeatures)
    if (missingReader.exists(f => !legacyVersions.contains(f))) {
      // the historical upgrade shape, kept so committed logs do not
      // change: on a writer-7 table `implied` still lists every legacy
      // writer feature, and any reader >= 2 gains columnMapping in both
      // lists even when the table is not mapped
      val legacyReader = if (minReader >= 2) Set("columnMapping") else Set.empty[String]
      Some(Protocol(math.max(minReader, 3), math.max(minWriter, 7),
        sorted(readerFeatures ++ legacyReader ++ missingReader),
        sorted(writerFeatures ++ implied ++ legacyReader ++ missing)))
    } else if (minWriter >= 7) {
      Some(Protocol(if (missingReader.nonEmpty) math.max(minReader, 2) else minReader,
        minWriter,
        if (minReader >= 3) sorted(readerFeatures ++ missingReader) else None,
        sorted(writerFeatures ++ missing)))
    } else {
      val target = missing.map(f => legacyVersions.get(f).map(_._2).getOrElse(7)).max
      if (target >= 7)
        Some(Protocol(minReader, 7,
          if (minReader >= 3) sorted(readerFeatures) else None,
          sorted(implied.toSet ++ missing)))
      else
        Some(Protocol(math.max(minReader, missing.map(legacyVersions(_)._1).max),
          math.max(minWriter, target), None, None))
    }
  }

  def protocolAction(snap: DeltaRead.Snapshot, features: Set[String]): Option[Protocol] =
    protocolAction(snap.minReader, snap.minWriter, snap.readerFeatures,
      snap.writerFeatures, features)

  // ----- in-commit timestamps (writer feature `inCommitTimestamp`) -----
  // When `delta.enableInCommitTimestamps = true`, the protocol requires
  // every commit's commitInfo to be the FIRST action and to carry an
  // `inCommitTimestamp` strictly greater than the previous commit's —
  // the clock-skew-proof timestamp delta-spark 4.x time travel reads.

  def ictEnabled(conf: Map[String, String]): Boolean =
    conf.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true"))

  /** The previous commit's inCommitTimestamp (None when v < 0, the
    * JSON was log-cleaned, or it predates enablement) — one small read
    * of the head commit, which metadata cleanup always preserves.
    */
  private def prevIct(fs: FileSystem, logP: Path, v: Long): Option[Long] =
    if (v < 0) None
    else graft.pipeline.VersionedTable.readSmall(fs, new Path(logP, f"$v%020d.json"))
      .flatMap(_.split("\n").find(_.contains("inCommitTimestamp")))
      .flatMap { l =>
        val n = mapper.readTree(l)
        Option(n.get("commitInfo"))
          .flatMap(ci => Option(ci.get("inCommitTimestamp")).map(_.asLong()))
      }

  /** Monotonic ICT for the commit about to land at `version`. */
  def nextIct(fs: FileSystem, logP: Path, version: Long): Long =
    math.max(System.currentTimeMillis,
      prevIct(fs, logP, version - 1).map(_ + 1L).getOrElse(Long.MinValue))

  // ----- row tracking -------------------------------------------------

  private def parseHwm(cfg: String): Long =
    try {
      val n = mapper.readTree(cfg)
      if (n.hasNonNull("rowIdHighWaterMark")) n.get("rowIdHighWaterMark").asLong(-1L)
      else -1L
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** ROW TRACKING (writer feature `rowTracking`): stamp every add
    * action with `baseRowId` / `defaultRowCommitVersion` and advance
    * the [[DeltaWrite.RowTrackingDomain]] high-water mark — the
    * protocol's writer contract whenever the feature is in
    * writerFeatures (enabled or merely supported). Runs at the publish
    * choke point so every DML path satisfies the contract without
    * per-path code:
    *  - an add already CARRYING row ids keeps them (restore embeds the
    *    target snapshot's ids) — the hwm still rises to cover it when
    *    its stats expose numRecords;
    *  - a re-add of a LIVE path (DV DML re-adds the same file) carries
    *    the file's existing ids from `prevSnap` — physical rows are
    *    unchanged, so their ids must not move;
    *  - a NEW file gets the next fresh range: baseRowId = hwm + 1,
    *    hwm += numRecords (from `add.stats` — refusing loudly when a
    *    new add has no numRecords, because an unknowable range would
    *    corrupt the watermark for every other writer), and
    *    defaultRowCommitVersion = the committing version.
    * The domain action lands in the same commit (last-wins replay);
    * per-attempt re-stamping is safe because the loop re-snapshots
    * after a lost CAS. O(commit actions) — no table scan.
    */
  private def stampRowTracking(version: Long, actions: Seq[Action],
                               prevSnap: Option[DeltaRead.Snapshot]): Seq[Action] = {
    val active = prevSnap.exists(s =>
      s.minWriter >= 7 && s.writerFeatures.contains("rowTracking")) ||
      actions.exists {
        case p: Protocol => p.writerFeatures.exists(_.contains("rowTracking"))
        case _ => false
      }
    if (!active) return actions
    val domain = DeltaWrite.RowTrackingDomain
    var hwm = prevSnap.flatMap(_.domains.get(domain)).map(parseHwm).getOrElse(-1L)
    // Missing/unparseable high-water-mark domain on a table that already
    // carries stamped files: restarting at 0 would silently mint row ids
    // DUPLICATING the live files' ranges (the disjoint-range invariant
    // with no error). Re-seed from the live ranges themselves —
    // max(baseRowId + numRecords - 1) — refusing loudly when a stamped
    // file's numRecords is unknowable (its range can't be bounded).
    if (hwm < 0L && prevSnap.exists(_.rowIds.nonEmpty)) {
      val s = prevSnap.get
      hwm = s.rowIds.iterator.map { case (rel, (base, _)) =>
        val nr = s.stats.get(rel).flatMap(DeltaRead.parseAddStats)
          .map(_.rows).filter(_ >= 0L).getOrElse(
            throw new IllegalStateException(
              s"row tracking: the $domain high-water-mark domain is " +
                s"missing or unparseable and live file '$rel' carries a baseRowId " +
                "but no numRecords stats — its id range cannot be bounded, so a " +
                "fresh range cannot be assigned without risking duplicate row ids"))
        base + nr - 1L
      }.max
    }
    val carried: Map[String, (Long, Long)] =
      prevSnap.map(_.rowIds).getOrElse(Map.empty)
    def numRecordsOf(a: Add): Option[Long] =
      a.stats.flatMap(DeltaRead.parseAddStats).map(_.rows).filter(_ >= 0L)
    var stamped = false
    var domainSeen = false
    val out = actions.flatMap {
      case d: DomainMetadata if d.domain == domain =>
        // content carrying its own hwm: fold it in and drop the action —
        // the recomputed domain appended below covers it
        domainSeen = true
        hwm = math.max(hwm, parseHwm(d.configuration))
        None
      case a @ Add(_, _, _, _, _, _, _, Some((base, _))) =>
        numRecordsOf(a).foreach(nr => hwm = math.max(hwm, base + nr - 1))
        Some(a)
      case a: Add =>
        stamped = true
        carried.get(a.path) match {
          case Some(ids) => Some(a.copy(rowIds = Some(ids)))
          case None =>
            val nr = numRecordsOf(a).getOrElse(throw new UnsupportedOperationException(
              s"row tracking requires numRecords stats on every new add action — " +
                s"'${a.path}' carries none; cannot assign a sound baseRowId range"))
            val b = a.copy(rowIds = Some((hwm + 1, version)))
            hwm += nr
            Some(b)
        }
      case other => Some(other)
    }
    if (!stamped && !domainSeen) actions
    else out :+ DomainMetadata(domain, s"""{"rowIdHighWaterMark":$hwm}""", removed = false)
  }

  // ----- version checksum ---------------------------------------------

  /** The `<v>.crc` version-checksum sidecar in delta-spark's
    * VersionChecksum shape: table-level aggregates (tableSizeBytes,
    * numFiles) plus the replayed metadata/protocol, which a reader can
    * validate a snapshot against without replaying the log. Computed
    * INCREMENTALLY from the pre-commit snapshot plus this commit's own
    * actions — never a replay, so the cost is O(commit). None — never
    * written wrong — when the base state is unavailable (no prevSnap on
    * a non-initial commit) or any live file's size is unknown (a legacy
    * add without `size`). Optional per the protocol; delta-spark
    * validates opportunistically, as does [[DeltaRead.snapshot]].
    */
  private def versionChecksum(version: Long, actions: Seq[Action], now: Long,
                              prevSnap: Option[DeltaRead.Snapshot]): Option[String] = {
    // runtime kill switch (SPARK_GRAFT_DELTA_CRC=off) so a bench A/B
    // can compare crc-on vs crc-off on the SAME binary; checksums are
    // optional per the protocol, so "off" only loses validation depth
    if (DeltaRead.crcDisabled) return None
    val base: Map[String, Long] = prevSnap match {
      case Some(s) => s.files.keys.map(p => p -> s.sizes.getOrElse(p, -1L)).toMap
      case None if version == 0L => Map.empty
      case None => return None
    }
    val removed = actions.collect { case r: Remove => r.path }.toSet
    val post = base -- removed ++ actions.collect { case a: Add => a.path -> a.size }
    if (post.values.exists(_ < 0L)) return None
    def last[A](pf: PartialFunction[Action, A]): Option[A] = actions.collect(pf).lastOption
    val metaNode = last { case m: MetaData => json(m, now).get("metaData") }
      .orElse(prevSnap.map(crcMetaNode))
    val protoNode = last { case p: Protocol => json(p, now).get("protocol") }
      .orElse(prevSnap.map(crcProtoNode))
    if (metaNode.isEmpty || protoNode.isEmpty) return None
    val node = mapper.createObjectNode
    node.put("tableSizeBytes", post.values.sum)
    node.put("numFiles", post.size.toLong)
    node.put("numMetadata", 1L)
    node.put("numProtocol", 1L)
    last { case CommitInfo(_, _, Some(ict)) => ict }.foreach(node.put("inCommitTimestampOpt", _))
    node.set[com.fasterxml.jackson.databind.JsonNode]("metadata", metaNode.get)
    node.set[com.fasterxml.jackson.databind.JsonNode]("protocol", protoNode.get)
    // the optional state lists delta-spark's VersionChecksum also
    // carries. setTransactions is CAPPED: delta-spark omits the list
    // past ~100 appIds rather than letting a many-sink streaming table
    // grow every crc (and every commit's driver work) unboundedly — the
    // list is optional per the protocol, so omission only loses
    // validation depth.
    val postTxns = prevSnap.map(_.txns).getOrElse(Map.empty) ++
      actions.collect { case t: Txn => t.appId -> t.version }
    if (postTxns.nonEmpty && postTxns.size <= 100) {
      val arr = node.putArray("setTransactions")
      postTxns.toSeq.sortBy(_._1).foreach { case (appId, v) =>
        val t = arr.addObject(); t.put("appId", appId); t.put("version", v)
      }
    }
    val postDoms = prevSnap.map(_.domains.map { case (d, c) => d -> ((c, false)) })
      .getOrElse(Map.empty) ++
      actions.collect { case d: DomainMetadata =>
        d.domain -> ((Option(d.configuration).getOrElse(""), d.removed)) }
    val liveDoms = postDoms.collect { case (d, (c, false)) => d -> c }
    if (liveDoms.nonEmpty) {
      val arr = node.putArray("domainMetadata")
      liveDoms.toSeq.sortBy(_._1).foreach { case (d, c) =>
        val o = arr.addObject()
        o.put("domain", d); o.put("configuration", Option(c).getOrElse(""))
        o.put("removed", false)
      }
    }
    Some(mapper.writeValueAsString(node) + "\n")
  }

  private def crcMetaNode(s: DeltaRead.Snapshot): com.fasterxml.jackson.databind.JsonNode = {
    val md = mapper.createObjectNode
    md.put("id", Option(s.metaId).getOrElse(""))
    val fmt = md.putObject("format")
    fmt.put("provider", "parquet")
    fmt.putObject("options")
    md.put("schemaString", s.schema.json)
    val pc = md.putArray("partitionColumns")
    s.partitionColumns.foreach(pc.add)
    val cfg = md.putObject("configuration")
    s.configuration.toSeq.sortBy(_._1).foreach { case (k, v) => cfg.put(k, v) }
    md
  }

  private def crcProtoNode(s: DeltaRead.Snapshot): com.fasterxml.jackson.databind.JsonNode = {
    val pr = mapper.createObjectNode
    pr.put("minReaderVersion", s.minReader)
    pr.put("minWriterVersion", s.minWriter)
    if (s.readerFeatures.nonEmpty) {
      val a = pr.putArray("readerFeatures")
      s.readerFeatures.toSeq.sorted.foreach(a.add)
    }
    if (s.writerFeatures.nonEmpty) {
      val a = pr.putArray("writerFeatures")
      s.writerFeatures.toSeq.sorted.foreach(a.add)
    }
    pr
  }

  // ----- publish ------------------------------------------------------

  /** Publish one Delta commit through the log's CAS. On ICT tables the
    * commitInfo gains its `inCommitTimestamp` here, recomputed per
    * attempt (it must exceed whatever commit actually precedes this
    * one); row-tracking tables get their adds stamped
    * ([[stampRowTracking]]). A winning publish also emits the
    * `<v>.crc` sidecar (best-effort).
    */
  private def publishCommit(fs: FileSystem, logP: Path, version: Long,
                            actions: Seq[Action], conf: Map[String, String],
                            prevSnap: Option[DeltaRead.Snapshot]): Boolean = {
    val now = System.currentTimeMillis
    val withIct =
      if (!ictEnabled(conf)) actions
      else actions.map {
        case ci: CommitInfo if ci.ict.isEmpty => ci.copy(ict = Some(nextIct(fs, logP, version)))
        case a => a
      }
    val stamped = stampRowTracking(version, withIct, prevSnap)
    def cas(name: String, content: String): Boolean =
      graft.pipeline.VersionedTable.casPublish(fs, new Path(logP, name), content)
    val won = cas(f"$version%020d.json",
      stamped.map(a => mapper.writeValueAsString(json(a, now))).mkString("\n") + "\n")
    if (won)
      try versionChecksum(version, stamped, now, prevSnap).foreach(cas(f"$version%020d.crc", _))
      catch { case scala.util.control.NonFatal(_) => () }
    won
  }

  // ----- the commit loop ----------------------------------------------

  /** What one attempt's body decided. */
  sealed trait Outcome

  /** Nothing to commit: the op's result is `version`. */
  final case class NoOp(version: Long) extends Outcome

  /** Commit `actions`. `staged` are the files the actions reference
    * that the body (or the op, before the loop) wrote. `reclaimOnLoss`:
    * the staged files were derived from THIS attempt's snapshot, so a
    * lost race deletes them and the next attempt re-derives; otherwise
    * they carry to the retry (the data job never re-runs) and are
    * deleted only if the op ends without committing them.
    */
  final case class Commit(actions: Seq[Action], staged: Seq[NewFile] = Nil,
                          reclaimOnLoss: Boolean = false) extends Outcome

  /** Test seam: called with (table root, version) once per attempt just
    * before the CAS — a test lands a competing commit here. Null in
    * production.
    */
  @volatile private[sources] var beforeCas: (String, Long) => Unit = null

  /** The one optimistic commit loop. Each attempt takes the snapshot
    * (`first` on attempt 1 — the op's own read; a fresh one after a
    * lost race), runs the writer gate ([[DeltaWrite.requireWritable]]
    * with the op's flags) on it, runs `body`, and publishes. A winning
    * publish runs the table's checkpoint cadence; a lost one retries,
    * at most [[MaxAttempts]] times. Returns the committed version, or
    * the body's no-op version.
    */
  def commit(spark: SparkSession, path: String, op: String, first: DeltaRead.Snapshot,
             removesData: Boolean, cdfHandled: Boolean = false)
            (body: DeltaRead.Snapshot => Outcome): Long =
    commitCreating(spark, path, op, Some(first), removesData, cdfHandled)(s => body(s.get))

  /** [[commit]] for a write that may create the table: `first = None`
    * means no table exists yet, and the body sees None on attempt 1
    * (every later attempt reads the table a racing creator made).
    */
  def commitCreating(spark: SparkSession, path: String, op: String,
                     first: Option[DeltaRead.Snapshot],
                     removesData: Boolean, cdfHandled: Boolean)
                    (body: Option[DeltaRead.Snapshot] => Outcome): Long = {
    val rootP = DeltaWrite.qualifiedRoot(spark, path)
    val root = rootP.toString
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logP = new Path(rootP, "_delta_log")
    def reclaim(files: Seq[NewFile]): Unit = files.foreach(f =>
      try fs.delete(new Path(rootP, f.relPath), false)
      catch { case scala.util.control.NonFatal(_) => () })
    var snap = first
    var carried: Seq[NewFile] = Nil // staged files kept across attempts
    var attempt = 0
    try {
      while (attempt < MaxAttempts) {
        attempt += 1
        if (attempt > 1) snap = Some(DeltaRead.snapshot(spark, root))
        snap.foreach(DeltaWrite.requireWritable(_, path, removesData, cdfHandled))
        body(snap) match {
          case NoOp(v) =>
            reclaim(carried)
            return v
          case Commit(actions, staged, reclaimOnLoss) =>
            val next = snap.map(_.version + 1).getOrElse(0L)
            if (snap.isEmpty) fs.mkdirs(logP) // casPublish stages its tmp in the log dir
            // the configuration the committed version carries: a
            // metaData action replaces the snapshot's
            val conf = actions.collectFirst { case m: MetaData => m.configuration }
              .getOrElse(snap.map(_.configuration).getOrElse(Map.empty))
            Option(beforeCas).foreach(_(root, next))
            // a publish that throws may still have landed: its files
            // must not be reclaimed (an orphan is safe, a dangling add
            // is not)
            carried = Nil
            if (publishCommit(fs, logP, next, actions, conf, snap)) {
              DeltaWrite.autoCheckpoint(spark, root, next, conf)
              return next
            }
            if (reclaimOnLoss) reclaim(staged) else carried = staged
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        reclaim(carried)
        throw e
    }
    reclaim(carried)
    throw new IllegalStateException(
      s"$op at $path lost the commit race $MaxAttempts times — another writer is " +
        "committing continuously; retry later")
  }
}
