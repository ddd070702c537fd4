package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call from the benchmark into one engine module (or a benchmark-side
  * grouping such as a whole medallion batch). Times are `System.nanoTime`;
  * task times from the listener are wall-clock millis, so each span also
  * keeps its wall-clock bounds for clipping task intervals. */
final case class Span(id: Int, parent: Int, layer: String, op: String,
    pass: Int, startNs: Long, startMs: Long, var endNs: Long = 0L,
    var endMs: Long = 0L) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Per-task facts the layer metrics are computed from. */
final case class TaskRec(span: Int, stage: Int, launchMs: Long,
    finishMs: Long, runMs: Long, waitMs: Long, shuffleBytes: Long,
    spillBytes: Long, readBytes: Long, rowsWritten: Long)

/** Span recorder plus the Spark listener that attributes jobs, stages and
  * tasks to spans. Each span is tagged onto the calling thread as a job
  * group; a job started under that group carries the span id in its
  * properties, and its stages' tasks are charged to that span. Spans and
  * task records stay in memory until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val GroupPrefix = "perfbench-span-"
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageSubmitMs = mutable.HashMap.empty[(Int, Int), Long]
  private val taskRecs = mutable.ArrayBuffer.empty[TaskRec]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var active = false
  private var stack: List[Span] = Nil

  /** Starts attributing; `false` leaves the listener detached so an
    * untraced pass pays nothing for it. */
  def enable(on: Boolean): Unit = if (on != active) {
    if (on) sc.addSparkListener(this) else {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(this)
    }
    active = on
  }

  def tracing: Boolean = active

  /** Runs `body` inside a span when tracing, else just runs it. */
  def span[T](layer: String, op: String, pass: Int)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, parent.map(_.id).getOrElse(-1), layer, op,
        pass, System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(GroupPrefix + s.id, s"$layer $op pass $pass")
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p.id, s"${p.layer} ${p.op}")
          case None => sc.clearJobGroup()
        }
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(GroupPrefix)).foreach { g =>
      val id = g.stripPrefix(GroupPrefix).toInt
      synchronized(e.stageIds.foreach(st => stageSpan(st) = id))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach { t =>
      synchronized(stageSubmitMs((e.stageInfo.stageId,
        e.stageInfo.attemptNumber())) = t)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    val span = stageSpan.getOrElse(e.stageId, -1)
    val submit = stageSubmitMs.getOrElse((e.stageId, e.stageAttemptId),
      info.launchTime)
    taskRecs += TaskRec(span, e.stageId, info.launchTime, info.finishTime,
      if (m == null) 0L else m.executorRunTime,
      math.max(0L, info.launchTime - submit),
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.outputMetrics.recordsWritten)
  }

  /** All task records seen so far, after the listener queue has drained. */
  def tasks: Seq[TaskRec] = {
    if (active) org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(taskRecs.toList)
  }
}

/** Layer-level aggregation of a tracer's spans and tasks. */
object Layers {

  /** Length of the union of `[a, b)` intervals, each clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per-stage max ÷ median task run time, averaged over stages weighted by
    * each stage's total run time (a single long straggler in a big stage
    * counts; a one-task stage reads 1). 0 when there are no tasks. */
  def skew(ts: Seq[TaskRec]): Double = {
    val byStage = ts.groupBy(_.stage).values.toSeq
    val weighted = byStage.map { st =>
      val d = st.map(t => math.max(1L, t.runMs).toDouble).sorted
      val med = d(d.size / 2)
      (d.last / med, d.sum)
    }
    val w = weighted.map(_._2).sum
    if (w == 0) 0.0 else weighted.map { case (s, wt) => s * wt }.sum / w
  }

  /** Span metrics per layer, summed over every span of that layer. */
  def metrics(spans: Seq[Span], tasks: Seq[TaskRec]): Map[String, Map[String, Double]] = {
    val bySpan = tasks.groupBy(_.span)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      val ts = ss.flatMap(s => bySpan.getOrElse(s.id, Nil))
      val wall = ss.map(_.wallS).sum
      val busyWall = ss.map { s =>
        covered(bySpan.getOrElse(s.id, Nil).map(t => (t.launchMs, t.finishMs)),
          s.startMs, s.endMs) / 1e3
      }.sum
      layer -> Map(
        "wall_s" -> wall,
        "driver_s" -> math.max(0.0, wall - busyWall),
        "busy_s" -> ts.map(_.runMs).sum / 1e3,
        "wait_s" -> ts.map(_.waitMs).sum / 1e3,
        "tasks" -> ts.size.toDouble,
        "task_skew" -> skew(ts),
        "shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
        "read_bytes" -> ts.map(_.readBytes).sum.toDouble,
        "rows_written" -> ts.map(_.rowsWritten).sum.toDouble)
    }
  }

  /** Self time of each span: its wall time minus what its children cover. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.endNs - s.startNs - covered(kids, s.startNs, s.endNs)) / 1e9
    }.toMap
  }
}
