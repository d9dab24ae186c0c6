package perfbench

import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, IncrementalDedup}
import graft.pipeline.VersionedTable

/** curate_corpus: a YAML curation pipeline (curate, minhash dedup, pack,
  * shard; `pipelines/curate_corpus.yml`) over a seeded corpus batch with
  * injected exact and edited near-duplicates, then one
  * `IncrementalDedup.dedupeDelta` batch of new documents against a
  * signature store built untimed in `setup`.
  *
  * Checks: survivors are a subset of the batch, injected exact copies
  * are gone, pack's token offsets chain without gaps (so the packed
  * total equals the sum of the documents' token counts), shard sizes
  * sum to the survivor count; the incremental batch admits no exact
  * copy of a stored document.
  */
final class CurateCorpus(ctx: Ctx) extends Workload(ctx) {
  import CurateCorpus._
  import Gen._

  val name = "curate_corpus"
  val signatureUnits = 1

  private val yaml = ctx.resource("pipelines/curate_corpus.yml")
  private var store: String = _
  private var storeDocs: IndexedSeq[Doc] = _

  private def writeDocs(docs: Seq[Doc], path: String): Unit =
    spark.createDataFrame(docs).coalesce(1).write.mode("overwrite").parquet(path)

  private def runPipeline(docsPath: String, outPath: String, op: Long): Unit =
    PipelineRun(ctx, yaml, Map("docs_path" -> docsPath, "out_path" -> outPath), op)

  def setup(): Unit = {
    store = ctx.path("sigstore")
    storeDocs = corpus(rng(ctx.seed, 31), StoreBase, StoreDocs, 0, 0)._1.toIndexedSeq
    IncrementalDedup.initStore(spark, spark.createDataFrame(storeDocs), store)
  }

  val warmUnits = 1

  def step(i: Int): Unit = op(s"batch $i") {
    val r = rng(ctx.seed, 100 + i)
    val base = BatchBase * (i + 1)
    val (docs, exactCopies) = corpus(r, base, Docs, ExactShare, NearShare)
    val docsPath = ctx.path(s"docs-$i")
    val outPath = ctx.path(s"out-$i")
    writeDocs(docs, docsPath)
    val (delta, deltaCopies) =
      deltaBatch(r, DeltaBase + i * BatchBase, DeltaDocs, storeDocs, CopyShare)
    val deltaDf = spark.createDataFrame(delta)

    sample(primary)(runPipeline(docsPath, outPath, i))
    throughputUnits += docs.size
    val res = sample(secondary, busy = false) {
      ctx.tracer.span("operators.incr_dedup", i) {
        IncrementalDedup.dedupeDelta(spark, deltaDf, store)
      }
    }

    val sink = spark.read.parquet(outPath)
    val out = sink.select(col("doc_id"), col("n_tokens"), col("bin"), col("bin_offset"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val shardSizes = sink.groupBy(col("shard")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1))
    val ids = out.map(_._1)
    val inputIds = docs.map(_.doc_id).toSet
    check(out.nonEmpty, s"batch $i: no document survived curation")
    check(ids.distinct.length == ids.length, s"batch $i: a survivor appears twice")
    check(ids.forall(inputIds), s"batch $i: a survivor is not an input document")
    check(!ids.exists(exactCopies), s"batch $i: an injected exact duplicate survived")
    // pack: every document starts where the previous one ended
    val starts = out.map { case (_, _, bin, off) => bin * SeqLen + off }
    check(starts.head == 0 &&
      out.indices.tail.forall(k => starts(k) == starts(k - 1) + out(k - 1)._2),
      s"batch $i: packed token offsets do not conserve the token total")
    check(shardSizes.map(_._2).sum == out.length &&
      shardSizes.forall { case (s, _) => s >= 0 && s < Shards },
      s"batch $i: shard sizes do not sum to the survivors")

    val admitted = res.survivors.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    check(admitted.forall(delta.map(_.doc_id).toSet),
      s"batch $i: dedupeDelta admitted a foreign id")
    check(!admitted.exists(deltaCopies), s"batch $i: dedupeDelta admitted an exact copy")
  }

  val spaceUnit = 0
  protected def spaceOf() = {
    val live = VersionedTable.read(spark, store)
    (store, live, live.count())
  }

  def finish(): Unit = {
    if (ctx.tracer.traced) {
      // untimed count pass: how much candidate volume LSH hands verify
      val (docs, _) = corpus(rng(ctx.seed, 100), BatchBase, Docs, ExactShare, NearShare)
      val df = spark.createDataFrame(docs)
      val pairs = Dedup.minhashCandidatePairs(df).persist()
      val candidates = pairs.count()
      val verified = Dedup.jaccardVerify(df, pairs, threshold = 0.8).count()
      pairs.unpersist(false)
      layerValues("operators.dedup.candidate_pairs") = candidates.toDouble
      layerValues("operators.dedup.verify_ratio") =
        if (candidates == 0) 0.0 else verified.toDouble / candidates
    }
  }
}

object CurateCorpus {
  val Docs = 300         // originals per batch, plus the injected copies
  val ExactShare = 0.1
  val NearShare = 0.1
  val StoreDocs = 600
  val DeltaDocs = 60
  val CopyShare = 0.1     // exact and edited copies of stored docs, each
  val SeqLen = 2048L      // the pipeline's pack step
  val Shards = 8          // the pipeline's shard step
  val BatchBase = 100000L
  val StoreBase = 50000000L
  val DeltaBase = 90000000L
}
