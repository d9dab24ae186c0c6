package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained rollups over versioned tables — the
  * materialized-view half of the lakehouse story: a `groupBy` aggregate
  * of a 100 TB append-only fact table stays fresh by folding in ONLY
  * the rows committed since the last refresh, never rescanning history.
  *
  * Design:
  *  - The rollup itself is a versioned table (same CAS commit protocol,
  *    time travel, vacuum). Every refresh commits the FULL merged
  *    rollup — it is bounded by group cardinality, orders of magnitude
  *    smaller than the fact — stamped with a `__src_version` column
  *    recording exactly which source version it reflects.
  *  - The watermark therefore travels ATOMICALLY with the data: a crash
  *    between "read delta" and "commit" leaves the previous rollup +
  *    previous watermark intact, and the retry reprocesses the same
  *    delta. No side-channel state file, no double counting.
  *  - Only decomposable aggregates are supported (count / sum / min /
  *    max — avg derives as sum/count at read time): their partials over
  *    the delta merge with the stored rollup by a small outer join, so
  *    refresh cost is O(delta + |rollup|), independent of fact history.
  *
  * Reference scope: drune materializes gold tables by full recompute
  * per run (spark_engine.py:232-255 executes the SQL chain over the
  * whole dependency); this replaces the recompute with delta
  * maintenance once the dependency is a versioned append table.
  */
object MaterializedAgg {

  /** A decomposable aggregate: `name` is the output column, `expr` a
    * SQL expression over the source rows, `kind` ∈ count | sum | min |
    * max | avg. For `count`, `expr` is ignored (row count). `avg`
    * decomposes as sum+count partials (stored as hidden `__<name>_sum`
    * / `__<name>_cnt` columns; the quotient is derived at read time) —
    * a stored quotient could not fold with a delta's. Genuinely
    * non-decomposable aggregates (median/percentiles, count-distinct)
    * are refused here: their partials do not merge, so incremental
    * maintenance would be silently wrong — recompute those per query
    * (or via a sketch operator) instead.
    */
  final case class MAgg(name: String, expr: String, kind: String) {
    require(Set("count", "sum", "min", "max", "avg", "ndv")(kind),
      s"unsupported aggregate kind '$kind' — decomposable kinds: count, sum, min, " +
        "max, avg (sum/count fold), ndv (HLL sketch fold, approximate); " +
        "median/percentile/exact-distinct aggregates have no mergeable partials " +
        "and cannot be incrementally maintained (exact NDV: group by (keys, value) " +
        "with a count aggregate and count rows per key at read — the two-level rollup)")
  }

  private val SrcVersionCol = "__src_version"
  private val DefName = "_matview"

  /** A materialized view's durable definition — written next to the
    * rollup's manifest on first refresh, so maintenance needs only the
    * rollup root: `GRAFT_REFRESH('/aggRoot')`, the YAML `materialized`
    * sink, and [[refresh(spark:org\.apache\.spark\.sql\.SparkSession,aggRoot:String)* refresh(spark, aggRoot)]]
    * all read it back instead of re-stating group/agg shape (and a
    * re-statement that DISAGREES with the stored one is refused — two
    * shapes folding into one rollup is silent corruption).
    */
  final case class MatViewDef(srcRoot: String, groupBy: Seq[String], aggs: Seq[MAgg],
                              srcFormat: String = "parquet",
                              aggFormat: String = "parquet")

  /** The stored definition at `aggRoot`, if a refresh has written one. */
  def viewDef(spark: SparkSession, aggRoot: String): Option[MatViewDef] = {
    val p = new org.apache.hadoop.fs.Path(aggRoot, DefName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    VersionedTable.readSmall(fs, p).map(parseDef(_, aggRoot))
  }

  // Line format, one key per line (the manifest-pointer convention —
  // no JSON library in the dependency budget): src/srcFormat/aggFormat
  // are single values, groupBy tab-separated, one agg=<name>\t<kind>\t
  // <expr> line per aggregate. Tabs/newlines are refused at write time.
  private def renderDef(d: MatViewDef): String = {
    def clean(s: String, what: String): String = {
      require(!s.contains("\t") && !s.contains("\n"),
        s"materialized-view $what must not contain tabs or newlines: '$s'")
      s
    }
    (Seq(
      s"src=${clean(d.srcRoot, "source root")}",
      s"srcFormat=${clean(d.srcFormat, "source format")}",
      s"aggFormat=${clean(d.aggFormat, "agg format")}",
      s"groupBy=${d.groupBy.map(clean(_, "group column")).mkString("\t")}") ++
      d.aggs.map(a =>
        s"agg=${clean(a.name, "agg name")}\t${clean(a.kind, "agg kind")}\t${clean(a.expr, "agg expr")}"))
      .mkString("\n")
  }

  private def parseDef(content: String, aggRoot: String): MatViewDef = {
    val kv = content.split("\n").map(_.trim).filter(_.nonEmpty)
    def one(k: String): String = kv.collectFirst { case l if l.startsWith(s"$k=") =>
      l.stripPrefix(s"$k=") }.getOrElse(throw new IllegalStateException(
      s"materialized-view definition at $aggRoot/$DefName is unreadable (missing '$k='); " +
        s"delete the file and re-run a full refresh(srcRoot, aggRoot, groupBy, aggs) to rewrite it"))
    MatViewDef(
      srcRoot = one("src"),
      groupBy = one("groupBy").split("\t").toSeq,
      aggs = kv.toSeq.collect { case l if l.startsWith("agg=") =>
        l.stripPrefix("agg=").split("\t", 3) match {
          case Array(n, k, e) => MAgg(n, e, k)
          // count's expr is empty and the line-level trim eats its
          // trailing tab — the two-field form is that same agg line
          case Array(n, k) => MAgg(n, "", k)
          case other => throw new IllegalStateException(
            s"materialized-view definition at $aggRoot/$DefName has a malformed agg " +
              s"line '${other.mkString("\t")}' — delete the file and re-run a full refresh")
        }
      },
      srcFormat = one("srcFormat"), aggFormat = one("aggFormat"))
  }

  private def persistDef(spark: SparkSession, aggRoot: String, d: MatViewDef): Unit = {
    val p = new org.apache.hadoop.fs.Path(aggRoot, DefName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rendered = renderDef(d)
    viewDef(spark, aggRoot) match {
      case Some(existing) =>
        require(renderDef(existing) == rendered,
          s"materialized view at $aggRoot is defined as $existing but this refresh " +
            s"was called with $d — two shapes folding into one rollup would corrupt " +
            "it; use the stored definition (refresh(spark, aggRoot)) or rebuild the " +
            "rollup from scratch under the new shape")
      case None =>
        // create(overwrite=false): one racing first-refresh wins the
        // name; the loser re-reads and validates (both derived the same
        // def from the same call site in the common case). Any OTHER
        // IOException must surface — swallowing it would report a
        // successful refresh that silently failed to persist the
        // definition, wedging every later refresh-by-root.
        try {
          val out = fs.create(p, false)
          try out.write(rendered.getBytes("UTF-8")) finally out.close()
        } catch {
          case e: java.io.IOException =>
            viewDef(spark, aggRoot) match {
              case Some(existing) =>
                require(renderDef(existing) == rendered,
                  s"materialized view at $aggRoot was concurrently defined as $existing, " +
                    s"which disagrees with $d")
              case None => throw new IllegalStateException(
                s"cannot persist the materialized-view definition at $p " +
                  "(the rollup committed, but refresh-by-root would not find it)", e)
            }
        }
    }
  }

  /** Refresh by the rollup root alone, using the definition persisted
    * by the first full-signature refresh — the maintenance entry point
    * for schedulers and the `GRAFT_REFRESH('/aggRoot')` SQL statement,
    * which need not know the view's shape.
    */
  def refresh(spark: SparkSession, aggRoot: String): Long = {
    val d = viewDef(spark, aggRoot).getOrElse(throw new IllegalArgumentException(
      s"no materialized-view definition at $aggRoot/$DefName — run the full " +
        "refresh(spark, srcRoot, aggRoot, groupBy, aggs) once to define it"))
    refresh(spark, d.srcRoot, aggRoot, d.groupBy, d.aggs, d.srcFormat, d.aggFormat)
  }

  /** The current rollup (without the watermark column). When the
    * stored definition is available, derived aggregates materialize
    * here: `avg` columns are computed from their stored sum/count
    * partials and the hidden partial columns are dropped.
    */
  def read(spark: SparkSession, aggRoot: String, format: String = "parquet"): DataFrame = {
    val raw = VersionedTable.read(spark, aggRoot, format).drop(SrcVersionCol)
    viewDef(spark, aggRoot) match {
      case Some(d) => deriveOutput(raw, d.groupBy, d.aggs)
      case None    => raw
    }
  }

  /** Project the STORED rollup columns to the declared output: group
    * keys, then each aggregate — plain kinds pass through, `avg`
    * derives sum/cnt (null for an all-null group, matching SQL AVG).
    */
  private def deriveOutput(stored: DataFrame, groupBy: Seq[String], aggs: Seq[MAgg]): DataFrame =
    stored.select(groupBy.map(col) ++ aggs.map { a =>
      a.kind match {
        case "avg" =>
          when(col(cntCol(a)) === 0L, lit(null))
            .otherwise(col(sumCol(a)).cast("double") / col(cntCol(a))).as(a.name)
        case "ndv" =>
          // an all-null group stores a null sketch: its distinct count
          // is 0, matching COUNT(DISTINCT x) over only-null values
          when(col(hllCol(a)).isNull, lit(0L))
            .otherwise(call_function("hll_sketch_estimate", col(hllCol(a)))).as(a.name)
        case _ => col(a.name)
      }
    }: _*)

  private def sumCol(a: MAgg) = s"__${a.name}_sum"
  private def cntCol(a: MAgg) = s"__${a.name}_cnt"
  private def hllCol(a: MAgg) = s"__${a.name}_hll"

  /** The source version the stored rollup reflects, if any. */
  def watermark(spark: SparkSession, aggRoot: String, format: String = "parquet"): Option[Long] =
    VersionedTable.currentSnapshot(spark, aggRoot)
      .flatMap(s => watermarkOf(spark, aggRoot, s.version, format))

  private def watermarkOf(spark: SparkSession, aggRoot: String, aggVersion: Long,
                          format: String): Option[Long] = {
    val r = VersionedTable.readVersion(spark, aggRoot, aggVersion, format)
      .select(max(col(SrcVersionCol))).head()
    // an empty-but-committed rollup (empty source at first refresh)
    // has no rows to carry the watermark — treat as never refreshed;
    // the recompute over the still-empty source is the correct fold
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  private def partial(df: DataFrame, groupBy: Seq[String], aggs: Seq[MAgg]): DataFrame = {
    val cols = aggs.flatMap(_.toColumns)
    df.groupBy(groupBy.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** The STORED columns an aggregate folds through, with the fold kind
    * of each: plain kinds store themselves; `avg` stores its sum and
    * count partials (both additive folds).
    */
  private def storedParts(a: MAgg): Seq[(String, String)] = a.kind match {
    case "avg" => Seq(sumCol(a) -> "sum", cntCol(a) -> "count")
    case "ndv" => Seq(hllCol(a) -> "hll")
    case k     => Seq(a.name -> k)
  }

  private implicit class MAggOps(private val a: MAgg) extends AnyVal {
    def toColumns: Seq[Column] = a.kind match {
      case "count" => Seq(count(lit(1)).as(a.name))
      case "sum"   => Seq(sum(expr(a.expr)).as(a.name))
      case "min"   => Seq(min(expr(a.expr)).as(a.name))
      case "max"   => Seq(max(expr(a.expr)).as(a.name))
      case "avg"   => Seq(sum(expr(a.expr)).as(sumCol(a)),
        // count(expr): non-null values only — SQL AVG semantics
        count(expr(a.expr)).as(cntCol(a)))
      // HLL partial: the delta's values sketch into one mergeable
      // binary per group (Spark's DataSketches HLL, lgK 12 ≈ 1.6% se);
      // the fold unions sketches, the read estimates — incremental
      // COUNT DISTINCT at O(sketch) state per group, the only NDV
      // shape that survives a 100 TB fact
      case "ndv"   => Seq(expr(s"hll_sketch_agg(${a.expr})").as(hllCol(a)))
    }
  }

  /** Merge a stored value with a delta partial (null-safe: a group
    * absent from one side contributes only the other side).
    */
  private def mergePart(kind: String, stored: Column, delta: Column): Column = kind match {
    case "count" | "sum" =>
      when(stored.isNull, delta).when(delta.isNull, stored).otherwise(stored + delta)
    case "min" => least(stored, delta)    // least/greatest skip nulls
    case "max" => greatest(stored, delta)
    case "hll" =>
      when(stored.isNull, delta).when(delta.isNull, stored)
        .otherwise(call_function("hll_union", stored, delta))
  }

  /** Fold everything the source committed since the stored watermark
    * into the rollup and commit the result as the rollup's next
    * version. Returns the source version the rollup now reflects.
    * No-op (no new commit) when already caught up.
    *
    * First refresh (no rollup yet) aggregates the full source snapshot
    * — the one unavoidable full pass, the same one that builds any
    * index. Later refreshes read ONLY the dirs the manifest proves
    * were appended in the span (fold markers let the read set survive
    * commitDelta's bounded auto-compaction; maintenance compactions
    * contribute nothing). A genuine rewrite (merge/overwrite) in the
    * span makes delta maintenance unsound and is refused with a
    * rebuild instruction; a fold dir already swept by vacuum means the
    * rollup outlived the retention window — same remedy.
    *
    * Concurrency: each commit attempt reads the watermark and the
    * stored rollup from that attempt's rollup snapshot and publishes
    * the fold as exactly the next version — two racing refreshes
    * serialize, the loser re-derives its fold from the winner's rollup,
    * and the delta can never fold twice.
    */
  def refresh(spark: SparkSession, srcRoot: String, aggRoot: String,
              groupBy: Seq[String], aggs: Seq[MAgg],
              srcFormat: String = "parquet", aggFormat: String = "parquet"): Long = {
    require(groupBy.nonEmpty, "refresh needs at least one group column")
    require(aggs.nonEmpty, "refresh needs at least one aggregate")
    // A BRANCH-addressed rollup root is refused loudly: the rollup is
    // its own versioned table whose definition sidecar and watermark
    // live at the PLAIN root — a '#branch=' path here would bake the
    // marker into a literal directory name. (A branch SOURCE root is
    // fully supported: maintain an experiment's rollup at a separate
    // plain aggRoot over `srcRoot#branch=name`.)
    require(VersionedTable.branchOf(aggRoot).isEmpty,
      s"materialized-view rollup root '$aggRoot' cannot be a branch path — " +
        "rollups are plain versioned tables; to maintain a rollup over a " +
        "BRANCH, point srcRoot at root#branch=<name> and use a separate " +
        "plain aggRoot for the experimental rollup")
    val d = MatViewDef(srcRoot, groupBy, aggs, srcFormat, aggFormat)
    // render EAGERLY: a shape the sidecar can't serialize (tab/newline
    // in a name or expr) must refuse here, before the first fold
    // commits a rollup that refresh-by-root could never maintain
    val renderedD = renderDef(d)
    // a stored definition that DISAGREES with this call must refuse
    // BEFORE anything folds (mixed shapes corrupt the rollup silently)
    viewDef(spark, aggRoot).foreach(existing => require(renderDef(existing) == renderedD,
      s"materialized view at $aggRoot is defined as $existing but this refresh " +
        s"was called with $d — use the stored definition (refresh(spark, aggRoot)) " +
        "or rebuild the rollup from scratch under the new shape"))
    // persist (claim) the definition BEFORE the first fold commits:
    // persistDef's create(overwrite=false) is the CAS that decides
    // which of two RACING first refreshes with different shapes owns
    // the rollup — deciding it after the fold would let the loser
    // commit one rollup version under the wrong shape first (needing
    // the from-scratch rebuild its error prescribes). An aborted
    // refresh can leave a definition sidecar with no rollup commit;
    // that is harmless — the next refresh validates against it and
    // performs the same first full fold.
    persistDef(spark, aggRoot, d)
    fold(spark, srcRoot, aggRoot, aggFormat) { (aggSnap, srcHead) =>
      aggSnap.flatMap(s => watermarkOf(spark, aggRoot, s.version, aggFormat)) match {
        case Some(w) if w == srcHead => None // caught up — nothing to commit
        case Some(w) =>
          val deltaDirs = VersionedTable.appendedDirsBetween(spark, srcRoot, w, srcHead)
            .getOrElse(throw new IllegalArgumentException(
              s"source history at $srcRoot between v$w and v$srcHead contains a " +
                "rewrite (merge/overwrite) — delta maintenance is unsound; " +
                "rebuild the rollup from scratch (drop the agg table and refresh)"))
          // same pre-check diffVersions performs: a fold delta dir already
          // swept by vacuum must surface as the rebuild instruction, not a
          // raw path-not-found out of the Spark load below. The check is
          // check-then-act (a vacuum racing this refresh can sweep a dir
          // between exists() and the load), so the load below ALSO maps
          // its path-not-found to the same instruction — the friendly
          // error is guaranteed, not best-effort.
          def sweptError(dirs: Seq[String], cause: Throwable = null) =
            new IllegalArgumentException(
              s"source history at $srcRoot between v$w and v$srcHead references " +
                s"vacuumed delta dir(s) ${dirs.mkString(", ")} — the delta span is " +
                "no longer readable; rebuild the rollup from scratch (drop the agg " +
                "table and refresh)", cause)
          val swept = VersionedTable.missingDirs(spark, srcRoot, deltaDirs)
          if (swept.nonEmpty) throw sweptError(swept)
          val stored = VersionedTable.readVersion(spark, aggRoot, aggSnap.get.version, aggFormat)
            .drop(SrcVersionCol)
          val merged =
            if (deltaDirs.isEmpty) stored // compact-only span: rows unchanged
            else {
              val delta =
                try VersionedTable.loadDirs(spark, srcRoot, srcFormat, deltaDirs)
                catch {
                  case e: org.apache.spark.sql.AnalysisException
                      if Option(e.getErrorClass).exists(_.contains("PATH_NOT_FOUND")) ||
                        e.getMessage.contains("Path does not exist") =>
                    throw sweptError(
                      VersionedTable.missingDirs(spark, srcRoot, deltaDirs), e)
                }
              val partials = partial(delta, groupBy, aggs)
              // rename the delta side wholesale (shared-lineage ambiguity
              // — same pattern as Relational.snapshotDiff)
              val d = partials.select(partials.columns.map(c => col(c).as(s"__d_$c")): _*)
              val cond = groupBy.map(k => col(k) <=> col(s"__d_$k")).reduce(_ && _)
              stored.join(d, cond, "full_outer")
                .select(groupBy.map(k => coalesce(col(k), col(s"__d_$k")).as(k)) ++
                  aggs.flatMap(a => storedParts(a).map { case (sc, kind) =>
                    mergePart(kind, col(sc), col(s"__d_$sc")).as(sc)
                  }): _*)
            }
          Some(merged)
        case None =>
          Some(partial(VersionedTable.readVersion(spark, srcRoot, srcHead, srcFormat),
            groupBy, aggs))
      }
    }
  }

  /** FULL REBUILD: recompute the rollup from the source's CURRENT
    * snapshot under the STORED definition and commit it as the next
    * rollup version — the remedy [[refresh]] prescribes when the
    * unprocessed span contains a rewrite (merge/overwrite/partition
    * overwrite/delete) or a vacuumed fold dir. One unavoidable full
    * pass over the fact (the same pass any first refresh pays);
    * rollup history/time travel is preserved — the rebuild is just
    * its next version, CAS-serialized against concurrent refreshes.
    * Returns the source version the rollup now reflects. SQL surface:
    * `GRAFT_REFRESH('/aggRoot', FULL)`.
    */
  def rebuild(spark: SparkSession, aggRoot: String): Long = {
    val d = viewDef(spark, aggRoot).getOrElse(throw new IllegalArgumentException(
      s"no materialized-view definition at $aggRoot — nothing to rebuild; run " +
        "refresh(spark, srcRoot, aggRoot, groupBy, aggs) once to define it"))
    fold(spark, d.srcRoot, aggRoot, d.aggFormat)((_, srcHead) => Some(partial(
      VersionedTable.readVersion(spark, d.srcRoot, srcHead, d.srcFormat), d.groupBy, d.aggs)))
  }

  /** Commit the rollup `rollupOf` derives from each attempt's rollup
    * snapshot and the source head read for it (None: already caught
    * up), stamped with that source version. Returns the source version
    * of the attempt that landed.
    */
  private def fold(spark: SparkSession, srcRoot: String, aggRoot: String, aggFormat: String)
                  (rollupOf: (Option[VersionedTable.Snapshot], Long) => Option[DataFrame]): Long = {
    var srcHead = -1L
    VersionedTable.commitRewrite(spark, aggRoot, aggFormat) { aggSnap =>
      srcHead = VersionedTable.currentSnapshot(spark, srcRoot)
        .getOrElse(throw new IllegalArgumentException(
          s"source at $srcRoot has no committed version")).version
      rollupOf(aggSnap, srcHead).map(_.withColumn(SrcVersionCol, lit(srcHead)))
    }
    srcHead
  }
}
