package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pipeline.VersionedTable

/** Incremental corpus deduplication against a PERSISTED signature
  * store — the workflow a 100 TB training-data pipeline actually runs:
  * the corpus is deduped once, its per-document signatures are kept as
  * a versioned table, and each new ingest batch ("delta") is deduped
  * against the corpus WITHOUT recomputing anything over the corpus
  * text. Signature computation (normalize → shingle → MinHash over
  * every byte of text) is the dominant cost of near-dup dedup; here it
  * runs over the delta only, while the corpus contributes two cheap
  * columnar scans of its stored signatures (~1 KB/doc — two orders of
  * magnitude less I/O than the text). Surviving delta signatures are
  * appended to the store as an O(delta) versioned commit
  * ([[graft.pipeline.VersionedTable.commitDelta]]), so the store rides
  * the same manifest protocol as every other graft table:
  * history/compact/vacuum apply, and `changesSince` exposes "which docs
  * were admitted by batch N" to downstream consumers.
  *
  * Concurrency: ingest batches running in parallel serialize through
  * the manifest's one commit loop
  * ([[graft.pipeline.VersionedTable.commitDerivedDelta]]), and the
  * DEDUP INVARIANT survives the race — every commit attempt derives its
  * rows from that attempt's store snapshot: when another batch landed
  * since the version the batch was deduped against, the batch re-checks
  * its survivors against ONLY the rows the winner admitted
  * ([[VersionedTable.changesBetween]] — O(conflict delta), signatures
  * only, no text), drops fresh matches, and publishes as exactly the
  * next version (a lost publish race repeats this, up to the loop's
  * 20-attempt cap). Two racing batches carrying copies of the same new
  * document therefore admit exactly one copy, whichever order they land
  * in.
  *
  * Reference analog: drune dedups only within one materialization
  * (steps/writer.py merge modes); a persistent cross-batch signature
  * store has no drune counterpart — this is the scale path the Spark
  * engine adds.
  *
  * Two stores, two semantics:
  *  - MinHash store (`initStore`/`dedupeDelta`): near-duplicate dedup.
  *    Store rows are `(id long, sig array<long>)`; the MinHash family
  *    parameters are pinned in a `_sig_params` file at the store root
  *    and re-used for every delta (signatures from different
  *    parameters are incomparable — mixing them is a silent-wrong-
  *    answer bug, hence the loud fail on mismatch, the params-first
  *    retraction on re-init, and the stored-width probe in
  *    `dedupeDelta`).
  *  - Exact store (`initExactStore`/`exactDelta`): exact dedup. Store
  *    rows are `(fingerprint string, keeper_id long)` over the
  *    md5-of-normalized-text fingerprint (TextAnalysis.fingerprintMd5,
  *    the q29 semantics).
  *
  * Id discipline: document ids must be unique ACROSS corpus and all
  * delta batches (they are join keys and keeper labels). Delta-internal
  * keeper semantics match the batch operators: lowest id wins; any
  * corpus match drops the delta doc regardless of id order (the corpus
  * doc is already committed).
  */
object IncrementalDedup {

  /** MinHash family parameters pinned at store creation. `bands` /
    * `threshold` are query-time knobs and intentionally NOT part of
    * the store contract (band keys are derived from the signature at
    * read time).
    */
  final case class SigParams(numHashes: Int = 128, shingleK: Int = 5, seed: Long = 42L)

  private val ParamsFile = "_sig_params"

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def writeParams(spark: SparkSession, root: String, p: SigParams): Unit = {
    val (fs, rootP) = fsFor(spark, root)
    val f = new Path(rootP, ParamsFile)
    // sweep tmp orphans from crashed publishes — VersionedTable.vacuum
    // knows nothing about params files, so nothing else ever would;
    // the grace window keeps us off a concurrent writer's live tmp
    val cutoff = System.currentTimeMillis() - 15L * 60 * 1000
    Option(fs.globStatus(new Path(rootP, ParamsFile + ".tmp*"))).getOrElse(Array.empty)
      .foreach(st => if (st.getModificationTime < cutoff) fs.delete(st.getPath, false))
    val tmp = new Path(rootP, ParamsFile + ".tmp" + java.util.UUID.randomUUID.toString.take(8))
    try {
      val out = fs.create(tmp, true)
      try out.write(s"numHashes=${p.numHashes}\nshingleK=${p.shingleK}\nseed=${p.seed}\n"
        .getBytes("UTF-8"))
      finally out.close()
      fs.delete(f, false)
      if (!fs.rename(tmp, f)) throw new IllegalStateException(s"could not publish $f")
    } catch { case e: Throwable =>
      try fs.delete(tmp, false) catch { case _: Throwable => () }
      throw e
    }
  }

  /** The store's pinned MinHash parameters, or None if `root` has no
    * `_sig_params` (not an IncrementalDedup store, pre-init, or a
    * re-init crashed mid-publish — in which case deltas fail loudly
    * until `initStore` completes). A params file that EXISTS but cannot
    * be read is a transient store failure and throws rather than
    * reporting "no params".
    */
  def storeParams(spark: SparkSession, root: String): Option[SigParams] = {
    val (fs, rootP) = fsFor(spark, root)
    val f = new Path(rootP, ParamsFile)
    if (!fs.exists(f)) None
    else {
      val content = VersionedTable.readSmall(fs, f).getOrElse(throw new IllegalStateException(
        s"$ParamsFile at $root exists but could not be read — transient " +
          "filesystem failure or an in-flight publish; retry"))
      val kv = content.linesIterator.flatMap { l =>
        l.split("=", 2) match { case Array(k, v) => Some(k.trim -> v.trim); case _ => None }
      }.toMap
      try Some(SigParams(kv("numHashes").toInt, kv("shingleK").toInt, kv("seed").toLong))
      catch { case e: Exception =>
        throw new IllegalStateException(s"corrupt $ParamsFile at $root: '$content'", e)
      }
    }
  }

  /** Create (or overwrite) the MinHash signature store for `docs`:
    * one full signature pass over the corpus text, committed as
    * versioned-table v1 (or a new full-copy version on an existing
    * store), parameters pinned alongside. This is the once-per-corpus
    * cost every later delta avoids.
    *
    * Re-initializing an existing store with a DIFFERENT family
    * retracts `_sig_params` FIRST, so a crash anywhere before the
    * final params publish leaves the store loudly unusable ("no
    * _sig_params") instead of silently pairing one family's
    * signatures with the other's parameters. Do not run `dedupeDelta`
    * concurrently with a re-init — a delta that read the old params
    * before the retraction could still commit old-family signatures
    * (the stored-width probe in `dedupeDelta` catches the mix on the
    * next delta when `numHashes` changed).
    */
  def initStore(
      spark: SparkSession,
      docs: DataFrame,
      root: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      params: SigParams = SigParams()): Long = {
    if (storeParams(spark, root).exists(_ != params)) {
      val (fs, rootP) = fsFor(spark, root)
      fs.delete(new Path(rootP, ParamsFile), false)
    }
    val sigs = Dedup.minhashSignatures(
      docs, idCol, textCol, params.numHashes, params.shingleK, params.seed)
    val v = VersionedTable.commit(spark, root, "parquet", _ => sigs)
    writeParams(spark, root, params)
    v
  }

  /** Result of a delta dedup: `pairs` are the verified near-dup pairs
    * touching the delta (`src` = "corpus" for delta-vs-corpus,
    * "delta" for delta-internal; `id_a < id_b`); `survivors` are the
    * delta rows admitted to the corpus; `version` is the store version
    * the survivor signatures were committed as (-1 when `append` was
    * false; when the batch admitted NOTHING, no version is minted and
    * `version` is the base version the delta was deduped against).
    * `pairs` is materialized; `survivors` is materialized on appending
    * calls and lazy (but safe — it binds only the caller's delta frame
    * and the checkpointed pairs) on read-only `append = false` calls.
    */
  final case class DeltaDedup(pairs: DataFrame, survivors: DataFrame, version: Long)

  /** Dedup a delta batch against the stored corpus WITHOUT touching
    * corpus text. Plan shape (scale-critical):
    *
    *  1. Delta signatures: the only text pass — O(delta).
    *  2. Delta band keys aggregate to per-(band,key) member lists
    *     (bounded, like [[Dedup.bucketPairs]]) — a tiny table,
    *     broadcast.
    *  3. Corpus signatures stream ONCE through a projection that
    *     derives band keys and broadcast-joins the delta's keys: no
    *     corpus shuffle, no corpus text, only colliding corpus rows
    *     survive (LSH-bounded).
    *  4. Joint skew guard: a (band,key) bucket whose combined
    *     delta+corpus membership exceeds `maxBucket` is dropped
    *     wholesale — byte-identical semantics to the batch operator's
    *     guard over the union corpus (each side's bounded collect
    *     keeps maxBucket+1, so the overflow test is exact).
    *  5. Candidate pairs = delta×corpus collisions + delta-internal
    *     combinations; only 8-byte ids shuffle.
    *  6. Verify by signature agreement (codegen'd matchCountL ≥
    *     threshold), corpus sigs fetched by a second broadcast-probed
    *     scan (size-probed: beyond `maxBroadcastPairs` candidate
    *     pairs the fetch switches to a shuffled join).
    *  7. Survivors = delta minus dropped (any corpus match, or a
    *     lower-id delta match); their signatures append to the store
    *     as ONE O(delta) versioned commit of exactly the next version
    *     after the base of step 3 — when another batch landed first,
    *     the survivors re-check against just the winner's admitted
    *     rows before the commit (class doc, "Concurrency").
    *
    * Equivalence (ScalaTested): with a common `maxBucket`, the pair
    * set equals `Dedup.minhashLsh(corpus ∪ delta)` restricted to
    * pairs with at least one delta side.
    *
    * With `append = false` the survivors are returned LAZY (no
    * checkpoint job): they re-evaluate `delta` on every action, so the
    * `delta` frame must be deterministic — a non-deterministic frame
    * (an unordered `limit`, a `sample`) would make `survivors` disagree
    * with the signatures and pairs they were derived from.
    */
  def dedupeDelta(
      spark: SparkSession,
      delta: DataFrame,
      root: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucket: Int = 1000,
      maxBroadcastPairs: Long = 1000000L,
      append: Boolean = true): DeltaDedup =
    dedupeDeltaHooked(spark, delta, root, idCol, textCol, bands, threshold,
      maxBucket, maxBroadcastPairs, append, () => ())

  /** EXACT-MODE seam for the q97 oracle closure: `constantBand`
    * replaces band keys with one constant bucket on BOTH sides (every
    * delta×corpus and delta-internal combination becomes a candidate
    * — the q93/q85 all-pairs trick applied to the incremental path),
    * and `verify` replaces the MinHash signature-agreement check with
    * an exact verifier (pairsRaw in: `id_a, id_b, delta_id, src`;
    * verified out: same plus `est_jaccard`). `verify` returns the lazy
    * verified frame plus any temp frames it persisted — released by the
    * CALLER after materializing the result (r19: the seam used to route
    * through [[Dedup.jaccardVerify]], which re-persisted the
    * already-persisted pair set and spent an extra checkpoint round
    * materializing a frame the caller was about to checkpoint again).
    * The surrounding machinery — store init, snapshot pinning, the
    * broadcast collision join, bounded bucket collects, pair generation
    * and the survivor anti-join — is the PRODUCTION code path, which is
    * the point: it runs under an oracle hash for the first time.
    */
  private[graft] final case class ExactSeam(
      constantBand: Boolean,
      verify: DataFrame => (DataFrame, Seq[DataFrame]))

  /** [[dedupeDelta]] in exact mode: all-pairs candidates (constant
    * band key) verified by exact n-gram Jaccard over `docs` (the
    * capped corpus+delta text — an oracle device; the production path
    * never touches corpus text). Read-only against the store
    * (append=false).
    */
  def dedupeDeltaExact(
      spark: SparkSession,
      delta: DataFrame,
      root: String,
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      jaccardThreshold: Double = 0.7,
      maxBucket: Int = 1 << 20): DeltaDedup = {
    val seam = ExactSeam(constantBand = true, verify = pairsRaw => {
      // pairsRaw is already persisted by verifiedDeltaPairs — build the
      // verify plan directly over it (jaccardVerify would persist the
      // projection a second time and checkpoint an intermediate the
      // caller is about to checkpoint again; r19, guide §1.2)
      val (exact, sets) = Dedup.jaccardVerifyPlan(
        pairsRaw.select(col("id_a"), col("id_b")), docs,
        idCol, textCol, shingleK = 5, threshold = jaccardThreshold,
        maxBroadcastDocs = 100000L)
      (pairsRaw.join(exact.withColumnRenamed("jaccard", "est_jaccard"),
          Seq("id_a", "id_b"))
        .select(col("id_a"), col("id_b"), col("delta_id"), col("src"),
          col("est_jaccard")),
        Seq(sets))
    })
    dedupeDeltaHooked(spark, delta, root, idCol, textCol, bands = 1,
      threshold = jaccardThreshold, maxBucket = maxBucket,
      maxBroadcastPairs = 1000000L, append = false, () => (), Some(seam))
  }

  /** [[dedupeDelta]] with a test seam: `beforeCommit` runs after the
    * survivors are computed and before the first commit attempt, so a
    * test can interleave a competing batch deterministically.
    */
  private[graft] def dedupeDeltaHooked(
      spark: SparkSession,
      delta: DataFrame,
      root: String,
      idCol: String,
      textCol: String,
      bands: Int,
      threshold: Double,
      maxBucket: Int,
      maxBroadcastPairs: Long,
      append: Boolean,
      beforeCommit: () => Unit,
      seam: Option[ExactSeam] = None): DeltaDedup = {
    val p = storeParams(spark, root).getOrElse(throw new IllegalStateException(
      s"no $ParamsFile at $root — initStore must create the signature store first"))
    val rows = Dedup.bandRows(p.numHashes, bands)

    // Pin the snapshot: the data read and the version the commit is
    // attempted against must be the SAME snapshot, or a concurrent
    // append between the two reads silently widens the race window.
    val baseVersion = VersionedTable.currentSnapshot(spark, root)
      .getOrElse(throw new IllegalStateException(
        s"signature store at $root has no committed version")).version
    val corpusSigs = VersionedTable.readVersion(spark, root, baseVersion) // (id, sig) — no text
    // Belt against param/signature mixing (a crashed re-init is loud by
    // construction, but a torn re-init that DID publish params can
    // still leave old-width rows): probe one stored signature's width.
    corpusSigs.select(size(col("sig")).as("n")).limit(1).collect().foreach { r =>
      if (r.getInt(0) != p.numHashes) throw new IllegalStateException(
        s"signature store at $root holds ${r.getInt(0)}-hash signatures but " +
          s"$ParamsFile pins numHashes=${p.numHashes} — the store mixes MinHash " +
          "families; re-run initStore over the full corpus")
    }
    val deltaSigs = Dedup.minhashSignatures(
        delta, idCol, textCol, p.numHashes, p.shingleK, p.seed)
      .persist(StorageLevel.MEMORY_AND_DISK)

    val (verified, pairsRaw, nPairs, temps) = verifiedDeltaPairs(
      deltaSigs, corpusSigs, p.numHashes, bands, rows, threshold,
      maxBucket, maxBroadcastPairs, includeInternal = true, seam)
    val verifiedMat = Dedup.materializeAndRelease(verified, (pairsRaw +: temps): _*)

    val dropped = verifiedMat.select(col("delta_id").as("__drop")).distinct()
    val droppedK = if (nPairs <= maxBroadcastPairs) broadcast(dropped) else dropped
    // append=false is a READ-ONLY dedup: survivors bind only the
    // caller's delta frame and the checkpointed verified pairs — both
    // outlive the call — so the eager checkpoint job is skipped (r19,
    // guide §1.2). The append path keeps the materialization: the
    // commit loop re-joins survivors per attempt.
    val survivorsLazy =
      delta.join(droppedK, delta(idCol) === dropped("__drop"), "left_anti")
    var survivors =
      if (append) Dedup.materializeAndRelease(survivorsLazy) else survivorsLazy
    var pairFrames = List(
      verifiedMat.select(col("id_a"), col("id_b"), col("est_jaccard"), col("src")))

    def survivorSigs = deltaSigs.join(
      survivors.select(col(idCol).as("__keep")), deltaSigs("id") === col("__keep"), "left_semi")

    beforeCommit()

    var curVersion = baseVersion
    val version =
      if (!append) -1L
      else VersionedTable.commitDerivedDelta(spark, root, "parquet") { snap =>
        val head = snap.getOrElse(throw new IllegalStateException(
          s"signature store at $root has no committed version")).version
        if (head != curVersion) {
          // Another batch landed: re-check survivors against ONLY the
          // span the winner(s) admitted — signatures on both sides, no
          // text, O(conflict delta). Internal pairs were already
          // emitted — cross only.
          val newSigs = VersionedTable.changesBetween(spark, root, curVersion, head)
            .select(col("id"), col("sig"))
          val (vp, praw, nP, ts) = verifiedDeltaPairs(
            survivorSigs, newSigs, p.numHashes, bands, rows, threshold,
            maxBucket, maxBroadcastPairs, includeInternal = false, seam)
          val newVerified = Dedup.materializeAndRelease(vp, (praw +: ts): _*)
          val newDropped = newVerified.select(col("delta_id").as("__drop")).distinct()
          val newDroppedK =
            if (nP <= maxBroadcastPairs) broadcast(newDropped) else newDropped
          survivors = Dedup.materializeAndRelease(
            survivors.join(newDroppedK,
              survivors(idCol) === newDropped("__drop"), "left_anti"))
          pairFrames :+= newVerified.select(
            col("id_a"), col("id_b"), col("est_jaccard"), col("src"))
          curVersion = head
        }
        // no-op ingest: minting an empty version would churn
        // changesSince consumers and march the dir count toward a
        // pointless full-store compaction
        if (survivors.isEmpty) None else Some(survivorSigs)
      }
    deltaSigs.unpersist(false)
    // the checkpoint blocks behind pairFrames back the RETURNED pairs
    // frame — they are NOT released here (same contract as minhashLsh's
    // result).

    DeltaDedup(pairFrames.reduce(_ unionByName _), survivors, version)
  }

  /** Verified near-dup pairs between the (persisted) `deltaSigs` and a
    * corpus-signature frame — steps 2-6 of [[dedupeDelta]]'s plan,
    * shared by the main pass and the conflict re-check. Returns the
    * LAZY verified frame, the persisted raw-candidate frame backing it
    * (caller materializes the result, then releases it), and the
    * candidate-pair count (the broadcast probe for downstream
    * anti-joins). `includeInternal=false` skips delta-internal
    * combinations (the re-check emitted them already).
    */
  private def verifiedDeltaPairs(
      deltaSigs: DataFrame,
      corpusSigs: DataFrame,
      numHashes: Int,
      bands: Int,
      rows: Int,
      threshold: Double,
      maxBucket: Int,
      maxBroadcastPairs: Long,
      includeInternal: Boolean,
      seam: Option[ExactSeam] = None): (DataFrame, DataFrame, Long, Seq[DataFrame]) = {
    // Exact-mode seam: a constant band key puts every signature in one
    // bucket (all-pairs candidates) — same downstream machinery.
    def explodeBands(sigs: DataFrame): DataFrame =
      if (seam.exists(_.constantBand))
        sigs.select(col("id"), lit(0).as("band"), lit(0L).as("key"))
      else Dedup.bandExplode(sigs, bands, rows)

    // Per-key delta members; bounded like the batch generator.
    val deltaBuckets = explodeBands(deltaSigs)
      .groupBy(col("band"), col("key"))
      .agg(graft.functions.VectorFunctions.boundedCollectList(col("id"), maxBucket).as("d_ids"))

    // ONE corpus-sig scan: band keys are a projection, the join
    // broadcasts the delta's keys, so only collisions come back.
    val collisions = explodeBands(corpusSigs)
      .join(broadcast(deltaBuckets.select(col("band"), col("key"))), Seq("band", "key"))
      .groupBy(col("band"), col("key"))
      .agg(graft.functions.VectorFunctions.boundedCollectList(col("id"), maxBucket).as("c_ids"))

    val buckets = deltaBuckets
      .join(collisions, Seq("band", "key"), "left")
      .withColumn("c_ids", coalesce(col("c_ids"), typedLit(Array.empty[Long])))
      // Joint guard — both collects kept maxBucket+1, so the sum test
      // detects every bucket whose TRUE joint size exceeds the cap.
      .where(size(col("d_ids")) + size(col("c_ids")) <= maxBucket)

    val cross = buckets
      .select(explode(col("d_ids")).as("did"), col("c_ids"))
      .select(col("did"), explode(col("c_ids")).as("cid"))
      .select(least(col("did"), col("cid")).as("id_a"),
        greatest(col("did"), col("cid")).as("id_b"),
        col("did").as("delta_id"), lit("corpus").as("src"))
    val internal = buckets
      .where(size(col("d_ids")) >= 2)
      .select(explode(col("d_ids")).as("id_a"), col("d_ids"))
      .select(col("id_a"), explode(col("d_ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("id_b").as("delta_id"), lit("delta").as("src"))

    val pairsRaw = (if (includeInternal) cross.unionByName(internal) else cross)
      .dropDuplicates("id_a", "id_b")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = pairsRaw.count()

    // Exact-mode seam: the verifier replaces the signature-agreement
    // check wholesale (pairsRaw in, verified-with-est_jaccard out).
    if (seam.isDefined) {
      val (v, temps) = seam.get.verify(pairsRaw)
      (v, pairsRaw, nPairs, temps)
    } else {

    // Verify: delta-internal pairs resolve both sigs from the (small,
    // persisted) delta table; cross pairs fetch the corpus sig via a
    // broadcast of the pair list against ONE more corpus-sig scan —
    // or a shuffled join past the broadcast budget.
    val crossPairs = pairsRaw.where(col("src") === "corpus")
      .withColumn("corpus_id",
        when(col("id_a") === col("delta_id"), col("id_b")).otherwise(col("id_a")))
    val crossKeyed = if (nPairs <= maxBroadcastPairs) broadcast(crossPairs) else crossPairs
    val crossWithCorpusSig = corpusSigs
      .join(crossKeyed, col("id") === col("corpus_id"))
      .select(col("id_a"), col("id_b"), col("delta_id"), col("src"), col("sig").as("sig_c"))
    val dsA = deltaSigs.select(col("id").as("__did"), col("sig").as("sig_d"))
    val crossV = crossWithCorpusSig
      .join(dsA, col("delta_id") === col("__did"))
      .select(col("id_a"), col("id_b"), col("delta_id"), col("src"),
        agreement(col("sig_c"), col("sig_d"), numHashes).as("est_jaccard"))
    val verified =
      if (!includeInternal) crossV.where(col("est_jaccard") >= threshold)
      else {
        val internalV = pairsRaw.where(col("src") === "delta")
          .join(deltaSigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
          .join(deltaSigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
          .select(col("id_a"), col("id_b"), col("delta_id"), col("src"),
            agreement(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
        crossV.unionByName(internalV).where(col("est_jaccard") >= threshold)
      }
    (verified, pairsRaw, nPairs, Nil)
    }
  }

  private def agreement(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
                        numHashes: Int): org.apache.spark.sql.Column =
    round(graft.functions.VectorFunctions.matchCountL(a, b).cast("double") / numHashes, 4)

  // ------------------------------------------------------------------
  // Exact store
  // ------------------------------------------------------------------

  /** Create (or overwrite) the exact-dedup store: one
    * `(fingerprint, keeper_id)` row per distinct normalized-text
    * fingerprint in `docs`, keeper = lowest id.
    */
  def initExactStore(
      spark: SparkSession,
      docs: DataFrame,
      root: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Long = {
    val fp = docs
      .groupBy(TextAnalysis.fingerprintMd5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"))
    VersionedTable.commit(spark, root, "parquet", _ => fp)
  }

  /** `survivors` holds the ADMITTED `(fingerprint, keeper_id)` rows —
    * one row per distinct fingerprint unseen in the store, keeper = the
    * lowest delta id carrying it (several delta docs can share one
    * row). To recover the admitted documents, semi-join the delta on
    * `keeper_id`. `version` follows the [[DeltaDedup]] convention: the
    * store version the rows were appended as, the base version when the
    * batch admitted nothing, -1 when `append` was false.
    */
  final case class ExactDelta(survivors: DataFrame, version: Long)

  /** Exact-dedup a delta batch against the store. The delta side is
    * one fingerprint projection + one small aggregate; the corpus
    * contributes a single scan of the store's thin
    * (fingerprint, keeper_id) table for the anti join — never the
    * corpus text. New fingerprints append as ONE O(delta) commit
    * (another batch landed first → anti-join the winner's admitted
    * fingerprints before committing — class doc, "Concurrency"), so
    * `changesSince` answers "which documents did batch N admit".
    */
  def exactDelta(
      spark: SparkSession,
      delta: DataFrame,
      root: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      append: Boolean = true): ExactDelta =
    exactDeltaHooked(spark, delta, root, idCol, textCol, append, () => ())

  /** [[exactDelta]] with the same test seam as [[dedupeDeltaHooked]]. */
  private[graft] def exactDeltaHooked(
      spark: SparkSession,
      delta: DataFrame,
      root: String,
      idCol: String,
      textCol: String,
      append: Boolean,
      beforeCommit: () => Unit): ExactDelta = {
    val keep = delta
      .groupBy(TextAnalysis.fingerprintMd5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"))
    var curVersion = VersionedTable.currentSnapshot(spark, root)
      .getOrElse(throw new IllegalStateException(
        s"exact-dedup store at $root has no committed version")).version
    val store = VersionedTable.readVersion(spark, root, curVersion).select(col("fingerprint"))
    var fresh = Dedup.materializeAndRelease(
      keep.join(store, Seq("fingerprint"), "left_anti"))

    beforeCommit()

    val version =
      if (!append) -1L
      else VersionedTable.commitDerivedDelta(spark, root, "parquet") { snap =>
        val head = snap.getOrElse(throw new IllegalStateException(
          s"exact-dedup store at $root has no committed version")).version
        if (head != curVersion) {
          // another batch landed: drop the fingerprints it admitted
          val winnerFps = VersionedTable.changesBetween(spark, root, curVersion, head)
            .select(col("fingerprint"))
          fresh = Dedup.materializeAndRelease(
            fresh.join(winnerFps, Seq("fingerprint"), "left_anti"))
          curVersion = head
        }
        if (fresh.isEmpty) None // no-op ingest: don't mint an empty version
        else Some(fresh)
      }
    ExactDelta(fresh, version)
  }

  // ---- substring-GRAM store: incremental span-level dedup ------------
  // The scale path of Dedup.duplicatedSpans (q119/q120): the corpus's
  // distinct window grams persist once, and each ingest batch scores
  // its duplicated-span coverage against corpus+batch WITHOUT ever
  // rescanning corpus text — the corpus contributes one columnar scan
  // of stored keys (8 B/gram hashed), the delta pays the only window
  // explode.

  /** Window length + key mode pinned at gram-store creation. Exact
    * (string-gram) stores exist for oracle/byte-parity work; hashed is
    * the production shape.
    */
  final case class GramParams(window: Int = 50, hashed: Boolean = true)

  private val GramParamsFile = "_gram_params"

  private def writeGramParams(spark: SparkSession, root: String, p: GramParams): Unit = {
    val (fs, rootP) = fsFor(spark, root)
    val f = new Path(rootP, GramParamsFile)
    val cutoff = System.currentTimeMillis() - 15L * 60 * 1000
    Option(fs.globStatus(new Path(rootP, GramParamsFile + ".tmp*"))).getOrElse(Array.empty)
      .foreach(st => if (st.getModificationTime < cutoff) fs.delete(st.getPath, false))
    val tmp = new Path(rootP, GramParamsFile + ".tmp" +
      java.util.UUID.randomUUID.toString.take(8))
    try {
      val out = fs.create(tmp, true)
      try out.write(s"window=${p.window}\nhashed=${p.hashed}\n".getBytes("UTF-8"))
      finally out.close()
      fs.delete(f, false)
      if (!fs.rename(tmp, f)) throw new IllegalStateException(s"could not publish $f")
    } catch { case e: Throwable =>
      try fs.delete(tmp, false) catch { case _: Throwable => () }
      throw e
    }
  }

  /** The store's pinned gram parameters — same contract as
    * [[storeParams]] (None = not a gram store / crashed re-init;
    * unreadable-but-present throws).
    */
  def gramStoreParams(spark: SparkSession, root: String): Option[GramParams] = {
    val (fs, rootP) = fsFor(spark, root)
    val f = new Path(rootP, GramParamsFile)
    if (!fs.exists(f)) None
    else {
      val content = VersionedTable.readSmall(fs, f).getOrElse(throw new IllegalStateException(
        s"$GramParamsFile at $root exists but could not be read — transient " +
          "filesystem failure or an in-flight publish; retry"))
      val kv = content.linesIterator.flatMap { l =>
        l.split("=", 2) match { case Array(k, v) => Some(k.trim -> v.trim); case _ => None }
      }.toMap
      try Some(GramParams(kv("window").toInt, kv("hashed").toBoolean))
      catch { case e: Exception =>
        throw new IllegalStateException(s"corrupt $GramParamsFile at $root: '$content'", e)
      }
    }
  }

  /** Create (or overwrite) the gram store: the corpus's DISTINCT
    * length-`window` gram keys as versioned rows `(g)`, parameters
    * pinned alongside (mixing window lengths or key modes is a
    * silent-wrong-answer bug — same retract-params-first crash
    * posture as [[initStore]]). One window pass over corpus text —
    * the once-per-corpus cost every later delta avoids.
    */
  def initGramStore(
      spark: SparkSession,
      docs: DataFrame,
      root: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      params: GramParams = GramParams()): Long = {
    if (gramStoreParams(spark, root).exists(_ != params)) {
      val (fs, rootP) = fsFor(spark, root)
      fs.delete(new Path(rootP, GramParamsFile), false)
    }
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
    val grams = Dedup.windowGrams(base, params.window, params.hashed)
      .select("g").distinct()
    val v = VersionedTable.commit(spark, root, "parquet", _ => grams)
    writeGramParams(spark, root, params)
    v
  }

  /** `scores` = (doc_id, dup_chars, dup_frac) per DELTA doc — the
    * characters covered by windows duplicated against CORPUS or
    * within the batch (>= 2 delta docs); materialized (safe after the
    * store advances). `version` follows [[DeltaDedup]]'s convention.
    */
  final case class SpanDelta(scores: DataFrame, version: Long)

  /** Score a delta batch's duplicated-span coverage against the
    * stored corpus grams + the batch itself, then admit the batch's
    * NEW grams as one O(delta) versioned commit. EXACT equivalence
    * (ScalaTested): `scores` equals `Dedup.duplicatedSpans(corpus ∪
    * delta)` restricted to the delta docs — a delta window is
    * duplicated iff its gram lives in >= 2 distinct union docs, which
    * decomposes into (gram ∈ corpus store) OR (gram in >= 2 delta
    * docs); corpus-internal multiplicity cannot change a delta doc's
    * score.
    *
    * Plan shape: the delta pays the ONLY window explode; the corpus
    * side is one columnar scan of stored keys for the semi join —
    * never corpus text. Concurrency: racing batches may both admit
    * one gram (duplicate store rows) — harmless for the semi-join
    * semantics, reclaimed by the next store compaction; scores
    * materialize BEFORE the append so a batch never sees its own
    * grams as "corpus".
    */
  def spanDelta(
      spark: SparkSession,
      delta: DataFrame,
      root: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      append: Boolean = true): SpanDelta = {
    val params = gramStoreParams(spark, root).getOrElse(throw new IllegalStateException(
      s"gram store at $root has no $GramParamsFile — run initGramStore first " +
        "(or a re-init crashed mid-publish; re-run it)"))
    val n = params.window
    val base = delta.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
    val w = Dedup.windowGrams(base, n, params.hashed)
      .persist(StorageLevel.MEMORY_AND_DISK) // probe + flag join + admit
    val store = VersionedTable.read(spark, root).select("g")
    // flag GRAM SETS first, then join the big window side ONCE — the
    // alternative (semi-joining w against store AND against the
    // within-batch grams, union, distinct) shuffles the full window
    // set three times instead of once
    val deltaG = w.select("g", "doc_id").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withinG = deltaG.groupBy("g").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("g")
    // store ⋉ delta grams: the store streams once, output bounded by
    // the DELTA's gram count — never the corpus's
    val corpusG = store.join(deltaG.select("g").distinct(), Seq("g"), "left_semi")
    val flaggedG = corpusG.unionByName(withinG).distinct()
    val flagged = w.join(flaggedG, Seq("g"), "left_semi").select("doc_id", "start")
    val scores = Dedup.spanCoverage(base, flagged, n).localCheckpoint(true)
    var version = -1L
    if (append) {
      val newG = deltaG.select("g").distinct().join(store, Seq("g"), "left_anti")
      version = VersionedTable.commitDelta(spark, root, "parquet", newG)
    }
    deltaG.unpersist(blocking = false)
    w.unpersist(blocking = false)
    SpanDelta(scores, version)
  }
}
