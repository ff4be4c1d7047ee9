package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBridge, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. Times are epoch nanoseconds;
  * `parent` is the id of the span that caused it (0 = root); `attrs` are
  * counts recorded at the same boundary. */
final case class Span(id: Int, parent: Int, layer: String, kind: String,
                      name: String, startNs: Long, endNs: Long,
                      attrs: Map[String, Double] = Map.empty) {
  def durNs: Long = endNs - startNs
}

/** Wall clock in epoch nanoseconds with nanoTime resolution, so that
  * harness spans and Spark listener timestamps (epoch ms) share a clock. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now: Long = baseEpochNs + (System.nanoTime() - baseNano)
}

final case class TaskRec(stageId: Int, stageAttempt: Int, launchNs: Long,
                         finishNs: Long, ok: Boolean, runMs: Long, cpuNs: Long,
                         gcMs: Long, inputBytes: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long)

final case class JobRec(jobId: Int, parentSpan: Int, startNs: Long, var endNs: Long)

final case class StageRec(stageId: Int, attempt: Int, numTasks: Int, failed: Boolean)

final case class Mark(jobs: Int, stages: Int, tasks: Int, progress: Int, spans: Int)

final case class Window(jobs: Seq[JobRec], stages: Seq[StageRec], tasks: Seq[TaskRec],
                        progress: Seq[BatchProgress], spans: Seq[Span])

final case class BatchProgress(runId: String, batchId: Long, planMs: Long,
                               addBatchMs: Long, commitMs: Long,
                               stateCommitMs: Long, stateRows: Long,
                               stateMemBytes: Long, droppedByWatermark: Long,
                               inputRows: Long)

/** Collects Spark's own job, stage, task and micro-batch events, plus the
  * harness's spans. Only installed for traced runs: an untraced run
  * registers no listener and records no spans. */
final class Trace(sc: SparkContext) extends SparkListener {
  val spanProp = "graft.bench.span"
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val progress = new ConcurrentLinkedQueue[BatchProgress]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  private val open = mutable.Stack.empty[(Int, String, String, String, Long)]

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      progress.add(BatchProgress(p.runId.toString, p.batchId, d("queryPlanning"),
        d("addBatch"), d("walCommit") + d("commitOffsets"),
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.numRowsDroppedByWatermark).sum,
        p.numInputRows))
    }
  }

  def install(): Unit = sc.addSparkListener(this)

  /** Deliver every queued listener event before counters are read. */
  def drain(): Unit = BenchBridge.drainListeners(sc)

  def currentSpan: Int = if (open.isEmpty) 0 else open.top._1

  /** Run `body` inside a span; Spark jobs it submits from this thread
    * carry the span id as a local property and become its children. */
  def span[T](layer: String, kind: String, name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = currentSpan
    val prevProp = sc.getLocalProperty(spanProp)
    open.push((id, layer, kind, name, Clock.now))
    sc.setLocalProperty(spanProp, id.toString)
    try body
    finally {
      val (_, l, k, n, s) = open.pop()
      spans += Span(id, parent, l, k, n, s, Clock.now)
      sc.setLocalProperty(spanProp, prevProp)
    }
  }

  /** Attach a count to the most recent finished span with this id. */
  def annotate(id: Int, key: String, value: Double): Unit = {
    val i = spans.lastIndexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs + (key -> value))
  }

  /** Id of the span `span` will give its next span. */
  def nextSpanId: Int = nextId

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(spanProp)))
      .map(_.toInt).getOrElse(0)
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    val r = JobRec(e.jobId, parent, e.time * 1000000L, -1L)
    openJobs.put(e.jobId, r); jobs.add(r)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(openJobs.remove(e.jobId)).foreach(_.endNs = e.time * 1000000L)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageRec(i.stageId, i.attemptNumber(), i.numTasks, i.failureReason.isDefined))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks.add(TaskRec(e.stageId, e.stageAttemptId, ti.launchTime * 1000000L,
      ti.finishTime * 1000000L, e.reason == Success,
      m.map(_.executorRunTime).getOrElse(0L), m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L), m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)))
  }

  /** Snapshot positions, so a caller can read the events of one window. */
  def mark(): Mark = { drain(); Mark(jobs.size, stages.size, tasks.size, progress.size, spans.size) }

  def since(m: Mark): Window = {
    drain()
    Window(jobs.asScala.drop(m.jobs).toSeq, stages.asScala.drop(m.stages).toSeq,
      tasks.asScala.drop(m.tasks).toSeq, progress.asScala.drop(m.progress).toSeq,
      spans.drop(m.spans).toSeq)
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Jobs become spans too (layer exec), parented to the span that was
    * open on the submitting thread, or else to the innermost span whose
    * interval contains the job: micro-batch jobs run on the stream's own
    * thread, which inherited the span property current at query start. */
  def jobSpans(candidates: Seq[Span]): Seq[Span] = {
    drain()
    val byJob = tasks.asScala.toSeq.groupBy(t => stageJob.getOrDefault(t.stageId, -1))
    jobs.asScala.toSeq.map { j =>
      val end = if (j.endNs < 0) j.startNs else j.endNs
      val parent =
        if (candidates.exists(s => s.id == j.parentSpan && s.startNs <= j.startNs && j.startNs <= s.endNs))
          j.parentSpan
        else candidates.filter(s => s.startNs <= j.startNs && j.startNs <= s.endNs)
          .sortBy(_.durNs).headOption.map(_.id).getOrElse(0)
      val ts = byJob.getOrElse(j.jobId, Nil)
      Span(-(j.jobId + 1), parent, "exec", "job", s"job ${j.jobId}", j.startNs, end,
        Map("tasks" -> ts.size.toDouble, "task_s" -> ts.map(t => t.finishNs - t.launchNs).sum / 1e9))
    }
  }
}

object Trace {
  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer: at every instant, the time belongs to the
    * deepest open span, so a span's self time is its duration minus what
    * its children cover, and overlapping siblings (concurrent jobs) are
    * counted once. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = {
      var d = 0; var p = s.parent
      while (byId.contains(p) && d < 64) { d += 1; p = byId(p).parent }
      d
    }
    val depthOf = spans.map(s => s.id -> depth(s)).toMap
    val events = spans.flatMap(s => Seq((s.startNs, 1, s), (s.endNs, 0, s))).sortBy(e => (e._1, e._2))
    val active = mutable.Set.empty[Span]
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var prev = Long.MinValue
    events.foreach { case (t, isStart, s) =>
      if (active.nonEmpty && t > prev) out(active.maxBy(x => (depthOf(x.id), x.startNs)).layer) += t - prev
      prev = t
      if (isStart == 1) active += s else active -= s
    }
    out.toMap
  }

  def toJson(spans: Seq[Span]): String =
    spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","kind":"${s.kind}",""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}""" +
        s.attrs.map { case (k, v) => s",${Json.str(k)}:${Json.num(v)}" }.mkString + "}"
    }.mkString("[\n", ",\n", "\n]\n")
}
