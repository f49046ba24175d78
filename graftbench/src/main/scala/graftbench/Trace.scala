package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder for traced ops.
  *
  * A span is (id, parent, op, name, start, end) on the `System.nanoTime`
  * clock. Spans wrap the benchmark's calls into the engine's public
  * functions; nothing inside the engine is instrumented. When tracing is
  * off for an op, [[span]] only runs the body.
  */
final class Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      start: Long, end: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0
  private var curOp = -1
  private var on = false

  /** Wall-clock epoch millis → this tracer's nanoTime clock. */
  val epochOffsetNs: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def active: Boolean = on

  def beginOp(op: Int, traced: Boolean): Unit = {
    curOp = op; on = traced
  }
  def endOp(): Unit = { on = false; curOp = -1 }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val t0 = System.nanoTime()
      stack.push((id, name, t0))
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, curOp, name, t0, System.nanoTime())
      }
    }

  /** Record an interval measured elsewhere (planning phases from
    * `QueryExecution.tracker`) with no parent; the analysis nests it
    * under the innermost span that contains it.
    */
  def interval(name: String, start: Long, end: Long): Unit =
    if (on) {
      spans += Span(nextId, -2, curOp, name, start, end); nextId += 1
    }

  def all: Seq[Span] = spans.toSeq
}

/** Spark listener counting the work of one op: jobs and their
  * intervals, tasks, executor run/cpu/GC time, shuffle write and spill
  * bytes, and the task-time spread of the op's slowest stage. Attached
  * only around traced ops; the caller flushes the listener bus before
  * reading [[take]].
  */
final class OpListener(tracer: Tracer) extends SparkListener {
  final case class Counts(
      jobs: Int, tasks: Long, taskRunS: Double, taskCpuS: Double,
      gcS: Double, shuffleWriteBytes: Long, spillBytes: Long,
      jobIntervals: Seq[(Long, Long)], taskSkew: Double)

  private var jobs = 0
  private var tasks = 0L
  private var runMs = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var shuffleW = 0L
  private var spill = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageWall = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s =>
      intervals += ((tracer.fromEpochMs(s), tracer.fromEpochMs(e.time))))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stageWall(i.stageId) = c - s
    }

  /** Counts since the last call; resets them. */
  def take(): Counts = synchronized {
    val skew = if (stageWall.isEmpty) 0.0 else {
      val slowest = stageWall.maxBy(_._2)._1
      stageTasks.get(slowest).filter(_.nonEmpty).map { ts =>
        val s = ts.sorted
        val med = (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
        if (med > 0) s.last / med else 1.0
      }.getOrElse(1.0)
    }
    val c = Counts(jobs, tasks, runMs / 1e3, cpuNs / 1e9, gcMs / 1e3,
      shuffleW, spill, intervals.toSeq, skew)
    jobs = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0; shuffleW = 0
    spill = 0; intervals.clear(); stageTasks.clear(); stageWall.clear()
    c
  }
}
