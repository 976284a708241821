package perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval. `end < 0` marks a span that never closed (an open
  * span): it has no duration, never a negative one. Times are epoch ms.
  */
final case class Span(id: Long, parent: Long, traceId: String, name: String,
    layer: String, start: Long, end: Long, attrs: Map[String, Double] = Map.empty) {
  def open: Boolean = end < 0
  def durMs: Long = if (open) 0L else math.max(0L, end - start)
}

/** In-memory span store. Spans are appended from any thread and written out
  * only at the end of a run.
  */
final class Tracer(val traceId: String) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Span = { spans.add(s); s }

  def record(parent: Long, name: String, layer: String, start: Long, end: Long,
      attrs: Map[String, Double] = Map.empty): Span =
    add(Span(nextId(), parent, traceId, name, layer, start, end, attrs))

  /** Time `f` as a span and return its result with the span. */
  def timed[T](parent: Long, name: String, layer: String)(f: Long => T): (T, Span) = {
    val id = nextId()
    val t0 = System.currentTimeMillis()
    val r = try f(id) catch {
      case e: Throwable =>
        add(Span(id, parent, traceId, name, layer, t0, System.currentTimeMillis(),
          Map("failed" -> 1.0)))
        throw e
    }
    (r, add(Span(id, parent, traceId, name, layer, t0, System.currentTimeMillis())))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))

  def toJson: String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    all.map { s =>
      val a = s.attrs.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString(",")
      s"""{"trace":"${esc(s.traceId)}","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${esc(s.name)}","layer":"${esc(s.layer)}","start":${s.start},""" +
        s""""end":${s.end},"attrs":{$a}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Trace {

  /** Self time of every closed span: its duration minus the part of it that
    * its (closed) children cover. Children are clipped to the parent, and
    * overlapping children are counted once, so a self time is never
    * negative.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.filter(!_.open).groupBy(_.parent)
    spans.filter(!_.open).map { s =>
      val ivs = kids.getOrElse(s.id, Seq.empty)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.durMs - covered)
    }.toMap
  }

  /** Sum of self times per layer, over the subtree rooted at `root`. */
  def layerSelf(spans: Seq[Span], root: Long): Map[String, Long] = {
    val self = selfTimes(spans)
    val kids = spans.groupBy(_.parent)
    val out = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(id: Long): Unit = kids.getOrElse(id, Seq.empty).foreach { c =>
      out(c.layer) += self.getOrElse(c.id, 0L)
      walk(c.id)
    }
    walk(root)
    out.toMap
  }
}

/** Per-stage totals gathered from task-end events. */
final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var inputBytes = 0L
  var isShuffleMap = false
  val taskMs = scala.collection.mutable.ArrayBuffer.empty[Long]
}

/** Stage metrics of a set of jobs, summed; `skew` is max ÷ median task
  * time in the costliest result stage.
  */
final case class JobSum(jobs: Int, stages: Int, tasks: Int, mapMs: Long,
    shuffleBytes: Long, shuffleRecords: Long, resultMs: Long, spill: Long,
    output: Long, input: Long, skew: Double, runMs: Long)

final case class JobRec(jobId: Int, group: String, batchId: Long,
    start: Long, end: Long, stages: Seq[Int])

/** Spark listener that groups jobs by the job group the benchmark sets
  * around each call (streaming jobs carry the query's own group and their
  * micro-batch id instead). A job with no end event stays open (`end = -1`).
  */
final class JobListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val stageTimes = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, JobRec(e.jobId, group, batch, e.time, -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stageTimes.put(i.stageId,
      (i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.taskMs += m.executorRunTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
        a.inputBytes += m.inputMetrics.bytesRead
        if (e.taskType == "ShuffleMapTask") a.isShuffleMap = true
      }
    }
  }

  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.jobId)
  def stage(id: Int): Option[StageAgg] = Option(stageAgg.get(id))
  def stageWindow(id: Int): Option[(Long, Long)] = Option(stageTimes.get(id))

  /** Feed a raw event (the benchmark's own test drives this directly). */
  def jobStarted(jobId: Int, group: String, time: Long): Unit = {
    val p = new java.util.Properties()
    p.setProperty("spark.jobGroup.id", group)
    onJobStart(SparkListenerJobStart(jobId, time, Seq.empty, p))
  }

  /** Add every job of `jobsOf` as a child span of `parent`, with its stages
    * as grandchildren. Returns the job spans.
    */
  def emit(tracer: Tracer, parent: Long, layer: String, js: Seq[JobRec]): Seq[Span] =
    js.map { j =>
      val js = tracer.record(parent, s"job ${j.jobId}", layer, j.start, j.end)
      j.stages.foreach { sid =>
        stageWindow(sid).foreach { case (a, b) =>
          if (a > 0) tracer.record(js.id, s"stage $sid", layer, a, if (b > 0) b else -1L)
        }
      }
      js
    }
}
