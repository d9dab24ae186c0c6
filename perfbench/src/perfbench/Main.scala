package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: one workload, one seed, one timed window.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        --out DIR --bench DIR --cores N [--build ID]
  *
  * Prints every metric on its own line as `metric <name> <value> <unit>`
  * and, as the last line, one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (the end-to-end metrics untraced, the
  * per-layer metrics traced). A traced run also writes its spans and
  * its count signature under the out directory.
  */
object Main {

  val SourceOps = Seq("append", "merge", "update", "delete", "checkpoint", "compact", "purge",
    "read_latest", "read_tt", "read_changes")
  val OperatorSteps = Seq("curate", "dedup", "pack", "shard", "incr_dedup")
  val Layers = Seq("sources", "pipeline", "quality", "operators")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = new File(a("work")).getAbsolutePath
    val out = new File(a("out")).getAbsolutePath

    val spark = GraftSession.tune(SparkSession.builder().master(s"local[$cores]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // bounded status-store history, so the heap figure tracks what
      // graft retains rather than how many jobs the window happened to run
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "100"), cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, traced)
    val ctx = new Ctx(spark, tracer, work, a("bench"), seed)
    val w: Workload = workload match {
      case "etl_merge"     => new EtlMerge(ctx)
      case "dml_mix"       => new DmlMix(ctx)
      case "curate_corpus" => new CurateCorpus(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // set-up and warm-up on the state the window then measures; the
    // window's units continue the warm-up's unit indices
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStartS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val sessionS = sinceStartS
    Util.HeapPeak.install()
    val (_, stateMs) = Util.timed(w.setup())
    val (_, warmMs) = Util.timed((0 until w.warmUnits).foreach(w.step))
    w.resetMeasurements()
    // set-up time: JVM start to the first timed operation
    val setupS = sinceStartS

    val windowStart = System.nanoTime()
    var n = 0
    tracer.on = traced
    while (n == 0 || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      w.step(w.warmUnits + n)
      if (n == w.spaceUnit) w.op("space amplification")(w.measureSpace())
      n += 1
    }
    tracer.on = false
    val windowS = (System.nanoTime() - windowStart) / 1e9
    val heapMb = Util.HeapPeak.mb
    w.op("final check") {
      if (w.plainBytesPerRow == 0) w.measureSpace()
      w.finish()
    }
    tracer.drain()
    val attempted = w.attempted
    val failed = w.failures.size

    val e2e = endToEnd(w, setupS, heapMb)
    val build = a.getOrElse("build", "")
    val perLayer = if (traced) layerMetrics(w, tracer, n, out, build) else Nil
    if (!traced && failed == 0) writeUntraced(out, w, build, e2e.toMap.apply("primary_ms")._1)
    spark.stop()

    val named = namedMetrics(w, e2e, attempted, failed)
    val meta = Seq(
      "workload" -> workload, "seed" -> seed.toString, "trace" -> (if (traced) "1" else "0"),
      "units" -> n.toString, "window_s" -> f"$windowS%.3f", "session_s" -> f"$sessionS%.3f",
      "state_s" -> f"${stateMs / 1000}%.3f", "warmup_s" -> f"${warmMs / 1000}%.3f")
    println("meta " + meta.map { case (k, v) => s"$k=$v" }.mkString(" "))
    w.failures.foreach(f => println(s"failure $f"))
    (if (traced) perLayer else e2e).foreach { case (k, (v, u)) => println(s"metric $k $v $u") }
    named.foreach { case (k, (v, u)) => println(s"named $k $v $u") }

    val reported = if (traced) perLayer else e2e
    val metrics = reported.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$metrics}}""")
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v")
    v.toString
  }


  /** The end-to-end metrics (reported from untraced runs only). */
  def endToEnd(w: Workload, setupS: Double,
               heapMb: Double): Seq[(String, (Double, String))] = {
    val p = w.primary.toSeq
    val s = w.secondary.toSeq
    def typical(xs: Seq[Sample]) = if (xs.isEmpty) 0.0 else w.typical(xs)
    Seq(
      "setup_s" -> (setupS, "s"),
      "primary_ms" -> (typical(p), "ms"),
      "secondary_ms" -> (typical(s), "ms"),
      "throughput_per_s" ->
        (if (w.busyMs > 0) w.throughputUnits / (w.busyMs / 1000) else 0.0, "1/s"),
      "space_amp" -> (w.spaceAmp, "ratio"),
      "heap_peak_mb" -> (heapMb, "MB"))
  }

  /** The workload's own names for the end-to-end figures. */
  def namedMetrics(w: Workload, e2e: Seq[(String, (Double, String))], attempted: Int,
                   failed: Int): Seq[(String, (Double, String))] = {
    val m = e2e.toMap.map { case (k, (v, _)) => k -> v }
    val p = w.primary.toSeq.map(_.ms)
    val s = w.secondary.toSeq.map(_.ms)
    // p90 over a window this short has fewer than ten samples beyond
    // it: printed for reading, never gated
    def p90(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Util.pct(xs, 90)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Util.pct(xs, 50)
    val specific = w.name match {
      case "etl_merge" => Seq(
        "etl_batch_p50_s" -> (m("primary_ms") / 1000, "s"),
        "etl_sink_p50_s" -> (m("secondary_ms") / 1000, "s"),
        "etl_rows_per_s" -> (m("throughput_per_s"), "1/s"))
      case "dml_mix" => Seq(
        "dml_write_mean_ms" -> (m("primary_ms"), "ms"),
        "dml_write_p50_ms" -> (p50(p), "ms"),
        "dml_write_p90_ms" -> (p90(p), "ms"),
        "dml_read_mean_ms" -> (m("secondary_ms"), "ms"),
        "dml_read_p50_ms" -> (p50(s), "ms"),
        "dml_read_p90_ms" -> (p90(s), "ms"),
        "dml_ops_per_s" -> (m("throughput_per_s"), "1/s"))
      case _ => Seq(
        "curate_batch_p50_s" -> (m("primary_ms") / 1000, "s"),
        "curate_docs_per_s" -> (m("throughput_per_s"), "1/s"),
        "incr_dedup_batch_p50_s" -> (m("secondary_ms") / 1000, "s"))
    }
    val perKind = (w.primary.toSeq ++ w.secondary).filter(_.kind.nonEmpty)
      .groupBy(_.kind).toSeq.sortBy(_._1).flatMap { case (k, ss) => Seq(
        s"${k}_p50_ms" -> (Util.median(ss.map(_.ms)), "ms"),
        s"${k}_samples" -> (ss.size.toDouble, "count")) }
    specific ++ perKind ++ Seq(
      "failed_ratio" -> (failed.toDouble / attempted, "ratio"),
      "primary_samples" -> (p.size.toDouble, "count"),
      "secondary_samples" -> (s.size.toDouble, "count"))
  }

  /** Per-layer metrics from the traced units; every name is always
    * reported (0 where the workload never calls that layer).
    */
  def layerMetrics(w: Workload, t: Tracer, units: Int, outDir: String,
                   build: String): Seq[(String, (Double, String))] = {
    val incl = t.inclusive()
    val spans = t.spans.toSeq
    val byName = spans.groupBy(_.name)
    def per(name: String)(f: Tracer.Span => Double): Double =
      Util.mean(byName.getOrElse(name, Nil).map(f))
    def jobs(s: Tracer.Span): Double = incl.get(s.id).map(_.jobs.toDouble).getOrElse(0.0)
    def counter(names: Seq[String], key: String): Double =
      names.flatMap(byName.getOrElse(_, Nil)).map(_.counters.getOrElse(key, 0.0)).sum
    val out = mutable.ArrayBuffer[(String, (Double, String))]()

    SourceOps.foreach { op =>
      val n = s"sources.$op"
      out += s"$n.ms" -> (per(n)(_.durMs), "ms")
      out += s"$n.jobs" -> (per(n)(jobs), "count")
      out += s"$n.driver_gap_ms" -> (per(n)(t.driverGapMs), "ms")
    }
    val writers = SourceOps.map("sources." + _) :+ "pipeline.sink"
    val commits = math.max(1.0, counter(writers, "commits"))
    out += "sources.files_added" -> (counter(writers, "files_added") / commits, "count")
    out += "sources.files_removed" -> (counter(writers, "files_removed") / commits, "count")
    out += "sources.bytes_written" -> (counter(writers, "bytes_written") / commits, "bytes")
    out += "sources.write_amp" -> (w.layerValues.getOrElse("sources.write_amp", 0.0), "ratio")
    val readers = Seq("sources.read_latest", "sources.read_tt", "sources.read_changes")
    val reads = readers.map(byName.getOrElse(_, Nil).size).sum
    out += "sources.log_tail_len" ->
      (if (reads == 0) 0.0 else counter(readers, "log_tail_len") / reads, "count")

    Seq("load", "read", "transform", "plan").foreach { s =>
      out += s"pipeline.${s}_ms" -> (per(s"pipeline.$s")(_.durMs), "ms")
    }
    out += "pipeline.sink.ms" -> (per("pipeline.sink")(_.durMs), "ms")
    out += "pipeline.sink.jobs" -> (per("pipeline.sink")(jobs), "count")
    out += "quality.validate_ms" -> (per("quality.validate")(_.durMs), "ms")
    out += "quality.jobs" -> (per("quality.validate")(jobs), "count")
    out += "quality.kept_ratio" -> (w.layerValues.getOrElse("quality.kept_ratio", 0.0), "ratio")

    OperatorSteps.foreach { s =>
      out += s"operators.$s.ms" -> (per(s"operators.$s")(_.durMs), "ms")
      out += s"operators.$s.jobs" -> (per(s"operators.$s")(jobs), "count")
    }
    out += "operators.dedup.candidate_pairs" ->
      (w.layerValues.getOrElse("operators.dedup.candidate_pairs", 0.0), "count")
    out += "operators.dedup.verify_ratio" ->
      (w.layerValues.getOrElse("operators.dedup.verify_ratio", 0.0), "ratio")

    // Spark totals per unit, over the spans' own jobs
    val roots = spans.filter(_.parent < 0)
    val tot = roots.flatMap(s => incl.get(s.id)).foldLeft(Tracer.SparkTotals())(_ + _)
    def perUnit(v: Double) = v / units
    out += "spark.jobs" -> (perUnit(tot.jobs), "count")
    out += "spark.stages" -> (perUnit(tot.stages), "count")
    out += "spark.tasks" -> (perUnit(tot.tasks), "count")
    out += "spark.input_bytes" -> (perUnit(tot.inputBytes), "bytes")
    out += "spark.shuffle_read_bytes" -> (perUnit(tot.shuffleReadBytes), "bytes")
    out += "spark.shuffle_write_bytes" -> (perUnit(tot.shuffleWriteBytes), "bytes")
    out += "spark.spill_bytes" -> (perUnit(tot.spillBytes), "bytes")
    out += "spark.job_busy_ms" -> (perUnit(tot.jobBusyMs), "ms")
    out += "spark.driver_gap_ms" -> (perUnit(roots.map(t.driverGapMs).sum), "ms")
    out += "spark.executor_gc_ms" -> (perUnit(tot.executorGcMs), "ms")
    out += "spark.task_cpu_ms" -> (perUnit(tot.taskCpuMs), "ms")

    Layers.foreach { l =>
      out += s"self_ms.$l" -> (perUnit(spans.filter(_.layer == l).map(t.selfMs).sum), "ms")
    }
    // tracing overhead: this run's typical primary latency against the
    // untraced run of the same build and seed, when one has been made
    val base = readUntraced(outDir, w, build)
    out += "trace.overhead_ms" ->
      (base.map(w.typical(w.primary.toSeq) - _).getOrElse(0.0), "ms")
    out += "trace.compared" -> (if (base.isDefined) 1.0 else 0.0, "count")
    out += "trace.units" -> (units.toDouble, "count")

    val (compared, moved) = Determinism.check(w, t, incl, outDir, build)
    out += "determinism.compared" -> (compared.toDouble, "count")
    out += "determinism.moved_counts" -> (moved.toDouble, "count")
    writeSpans(t, incl, s"$outDir/spans-${w.name}-${w.ctx.seed}.json")
    out.toSeq
  }

  private def untracedFile(outDir: String, w: Workload) =
    new File(s"$outDir/untraced-${w.name}-${w.ctx.seed}.txt")

  /** An untraced run leaves its typical primary latency for the traced
    * run of the same build and seed to compare against.
    */
  def writeUntraced(outDir: String, w: Workload, build: String, primaryMs: Double): Unit = {
    val f = untracedFile(outDir, w)
    f.getParentFile.mkdirs()
    val pw = new PrintWriter(f, "UTF-8")
    try { pw.println(s"build $build"); pw.println(primaryMs) } finally pw.close()
  }

  private def readUntraced(outDir: String, w: Workload, build: String): Option[Double] = {
    val f = untracedFile(outDir, w)
    if (!f.exists()) None
    else Util.readLines(f) match {
      case h :: v :: _ if h == s"build $build" => v.toDoubleOption
      case _ => None
    }
  }

  private def writeSpans(t: Tracer, incl: Map[Int, Tracer.SparkTotals], path: String): Unit = {
    new File(path).getParentFile.mkdirs()
    val pw = new PrintWriter(path, "UTF-8")
    try {
      pw.println("[")
      pw.println(t.spans.map { s =>
        val tot = incl.getOrElse(s.id, Tracer.SparkTotals())
        val c = s.counters.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
        s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
          s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "dur_ms": ${s.durMs}, """ +
          s""""self_ms": ${t.selfMs(s)}, "driver_gap_ms": ${t.driverGapMs(s)}, """ +
          s""""jobs": ${tot.jobs}, "stages": ${tot.stages}, "tasks": ${tot.tasks}, """ +
          s""""input_bytes": ${tot.inputBytes}, "shuffle_read_bytes": ${tot.shuffleReadBytes}, """ +
          s""""shuffle_write_bytes": ${tot.shuffleWriteBytes}, """ +
          s""""spill_bytes": ${tot.spillBytes}, """ +
          s""""executor_gc_ms": ${tot.executorGcMs}, "task_cpu_ms": ${tot.taskCpuMs}, """ +
          s""""counters": {$c}}"""
      }.mkString(",\n"))
      pw.println("]")
    } finally pw.close()
  }
}

/** Count-determinism self-check: the per-layer counts of the first
  * traced units (jobs, stages, commit files and bytes, candidate pairs)
  * are saved per workload and seed; a later traced run of the same
  * build and seed compares its own against them and flags every count
  * that moved, so no count is cited as exact unless it repeats.
  */
object Determinism {

  def signature(w: Workload, t: Tracer, incl: Map[Int, Tracer.SparkTotals]): Seq[String] = {
    val ops = t.spans.map(_.op).filter(_ >= 0).distinct.sorted.take(w.signatureUnits).toSet
    val spanCounts = t.spans.filter(s => ops(s.op)).map { s =>
      val tot = incl.getOrElse(s.id, Tracer.SparkTotals())
      val c = Seq("files_added", "files_removed", "bytes_written")
        .flatMap(k => s.counters.get(k).map(v => s"$k=${v.toLong}"))
      (Seq(s"op${s.op} ${s.name}", s"jobs=${tot.jobs}", s"stages=${tot.stages}",
        s"tasks=${tot.tasks}", s"input_bytes=${tot.inputBytes}",
        s"shuffle_write_bytes=${tot.shuffleWriteBytes}") ++ c).mkString(" ")
    }
    val extra = Seq("operators.dedup.candidate_pairs").flatMap(k =>
      w.layerValues.get(k).map(v => s"$k=${v.toLong}"))
    (spanCounts ++ extra).toSeq
  }

  /** Returns (1 if an earlier signature was compared else 0, counts moved). */
  def check(w: Workload, t: Tracer, incl: Map[Int, Tracer.SparkTotals], outDir: String,
            build: String): (Int, Int) = {
    val sig = signature(w, t, incl)
    val f = new File(s"$outDir/counts-${w.name}-${w.ctx.seed}.txt")
    val header = s"build $build"
    val prev =
      if (f.exists()) Util.readLines(f) else Nil
    if (prev.headOption.contains(header)) {
      val old = prev.tail
      val n = math.min(old.size, sig.size)
      val moved = (0 until n).filter(k => old(k) != sig(k))
      moved.foreach(k => println(s"determinism moved: was '${old(k)}' now '${sig(k)}'"))
      (1, moved.size)
    } else {
      f.getParentFile.mkdirs()
      val pw = new PrintWriter(f, "UTF-8")
      try (header +: sig).foreach(pw.println) finally pw.close()
      (0, 0)
    }
  }
}
