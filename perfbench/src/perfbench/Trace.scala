package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into graft's layers, plus a
  * SparkListener that attributes every job, stage and task metric to
  * the span that was open on the calling thread when the job started.
  *
  * A span is named `<layer>.<op>` (the layer is a graft module:
  * `sources`, `pipeline`, `quality`, `operators`). Spans of one
  * workload unit share an operation id. Before running a span's body
  * the tracer sets the Spark job description and the private
  * `perfbench.span` local property; the listener reads the property
  * back from each job's start event. Spans and job records stay in
  * memory and are written out when the run ends.
  *
  * In an untraced run `span` only runs its body: no listener is
  * registered and no local property is touched, so untraced runs
  * measure the engine alone.
  */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  val listener = new JobListener
  if (traced) sc.addSparkListener(listener)

  /** Spans are recorded only while `on`: in a traced run, the timed
    * window (not set-up or warm-up).
    */
  var on = false

  def span[T](name: String, op: Long)(body: => T): T = {
    if (!on) return body
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, parent, op, System.currentTimeMillis(), System.nanoTime())
    spans += s
    val prevProp = sc.getLocalProperty(SpanKey)
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty(SpanKey, s.id.toString)
    sc.setJobDescription(s"perfbench:$name#$op")
    stack = s :: stack
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prevProp)
      sc.setLocalProperty("spark.job.description", prevDesc)
    }
  }

  /** Add counts to the latest span named `name` of operation `op`, for
    * counts read after the call returns (e.g. from the committed log).
    */
  def annotate(name: String, op: Long, counts: Iterable[(String, Double)]): Unit =
    if (on) spans.findLast(s => s.name == name && s.op == op)
      .foreach(s => counts.foreach { case (k, v) => s.add(k, v) })

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (traced) org.apache.spark.PerfbenchBus.drain(sc)

  /** Spark totals attributed to span `s` and all its descendants. */
  def inclusive(): Map[Int, SparkTotals] = {
    val children = childIndex
    val direct = listener.totalsBySpan()
    val memo = mutable.Map[Int, SparkTotals]()
    def go(s: Span): SparkTotals = memo.getOrElseUpdate(s.id, {
      val own = direct.getOrElse(s.id, SparkTotals())
      children.getOrElse(s.id, Nil).foldLeft(own)((acc, c) => acc + go(c))
    })
    spans.foreach(go)
    memo.toMap
  }

  /** Wall time of span `s` not covered by any job it (or a descendant)
    * started: driver-side planning, log I/O, listing and commit work.
    */
  def driverGapMs(s: Span): Double = {
    val ids = descendants(s)
    val ivs = listener.jobs.values.filter(j => ids(j.span) && j.endMs >= 0)
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.durMs - covered)
  }

  private var indexed = -1
  private var childIdx: Map[Int, Seq[Span]] = Map.empty
  private def childIndex: Map[Int, Seq[Span]] = {
    if (indexed != spans.size) { childIdx = spans.toSeq.groupBy(_.parent); indexed = spans.size }
    childIdx
  }
  private def descendants(s: Span): Set[Int] = {
    val out = mutable.Set(s.id)
    var frontier = List(s.id)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(id => childIndex.getOrElse(id, Nil).map(_.id))
      out ++= next
      frontier = next
    }
    out.toSet
  }

  /** A span's duration minus the part its direct children cover. */
  def selfMs(s: Span): Double =
    s.durMs - childIndex.getOrElse(s.id, Nil).map(_.durMs).sum
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Long,
                        startMs: Long, startNs: Long) {
    var endNs: Long = -1L
    var endMs: Long = -1L
    val counters = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
    def durMs: Double = (endNs - startNs) / 1e6
    def layer: String = name.takeWhile(_ != '.')
  }

  final case class SparkTotals(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      inputBytes: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
      spillBytes: Long = 0, jobBusyMs: Long = 0, executorGcMs: Long = 0,
      taskCpuMs: Double = 0) {
    def +(o: SparkTotals): SparkTotals = SparkTotals(
      jobs + o.jobs, stages + o.stages, tasks + o.tasks, inputBytes + o.inputBytes,
      shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
      spillBytes + o.spillBytes, jobBusyMs + o.jobBusyMs, executorGcMs + o.executorGcMs,
      taskCpuMs + o.taskCpuMs)
  }

  final case class JobRec(id: Int, span: Int, startMs: Long, stageIds: Seq[Int]) {
    var endMs: Long = -1L
  }

  final case class StageRec(tasks: Long, input: Long, shRead: Long, shWrite: Long,
                            spill: Long, gcMs: Long, cpuMs: Double)

  /** Records job intervals and completed-stage metrics, keyed so that
    * every stage maps back to the span of the job that ran it.
    */
  final class JobListener extends SparkListener {
    val jobs = mutable.Map[Int, JobRec]()
    val stageSpan = mutable.Map[Int, Int]()
    val stages = mutable.Map[(Int, Int), StageRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = JobRec(e.jobId, span, e.time, e.stageIds)
      e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stages((si.stageId, si.attemptNumber())) = StageRec(
        si.numTasks,
        m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.jvmGCTime,
        m.executorCpuTime / 1e6)
    }

    def totalsBySpan(): Map[Int, SparkTotals] = synchronized {
      val byJob = jobs.values.groupBy(_.span).map { case (span, js) =>
        span -> js.foldLeft(SparkTotals()) { (acc, j) =>
          acc + SparkTotals(jobs = 1,
            jobBusyMs = if (j.endMs >= 0) j.endMs - j.startMs else 0)
        }
      }
      val byStage = stages.toSeq.groupBy { case ((sid, _), _) => stageSpan.getOrElse(sid, -1) }
        .map { case (span, ss) =>
          span -> ss.foldLeft(SparkTotals()) { case (acc, (_, r)) =>
            acc + SparkTotals(stages = 1, tasks = r.tasks, inputBytes = r.input,
              shuffleReadBytes = r.shRead, shuffleWriteBytes = r.shWrite,
              spillBytes = r.spill, executorGcMs = r.gcMs, taskCpuMs = r.cpuMs)
          }
        }
      (byJob.keySet ++ byStage.keySet).map { k =>
        k -> (byJob.getOrElse(k, SparkTotals()) + byStage.getOrElse(k, SparkTotals()))
      }.toMap
    }
  }
}
