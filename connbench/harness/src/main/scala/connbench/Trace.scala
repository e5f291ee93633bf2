package connbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval. Times are epoch nanoseconds (a nanoTime clock
  * anchored once to the wall clock), so spans line up with the epoch
  * milliseconds Spark stamps on its listener events. */
final case class Span(id: Int, name: String, parent: Int, call: Int,
    start: Long, end: Long) {
  def ns: Long = end - start
  def toJson: String =
    s"""{"id":$id,"name":"$name","parent":$parent,"call":$call,""" +
      s""""start_ns":$start,"end_ns":$end}"""
}

/** In-memory span recorder. Only the traced calls of a `--trace 1` run
  * open spans. */
final class Tracer {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  val spans = mutable.ArrayBuffer.empty[Span]
  private val byCall = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Span]]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var call = -1

  /** Open a new call id; spans recorded until the next `newCall` carry it. */
  def newCall(): Int = { call += 1; call }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = now()
    try body
    finally {
      stack = stack.tail
      val s = Span(id, name, parent, call, t0, now())
      spans += s
      byCall.getOrElseUpdate(call, mutable.ArrayBuffer.empty) += s
    }
  }

  private def inCall(call: Int): Seq[Span] =
    byCall.get(call).map(_.toSeq).getOrElse(Nil)

  /** The span `name` of call `call`. */
  def get(call: Int, name: String): Span =
    inCall(call).find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no span $name in call $call"))

  /** Total nanoseconds of the spans `name` of call `call`. */
  def ns(call: Int, name: String): Long =
    inCall(call).filter(_.name == name).map(_.ns).sum

  /** Duration minus the part of it that child spans cover. Children of
    * one span run one after another (one client thread), so their
    * durations add up without overlap. */
  def selfNs(s: Span): Long =
    s.ns - inCall(s.call).filter(_.parent == s.id).map(_.ns).sum
}

/** Job, stage and task statistics as the benchmark's own listener sees
  * them. Jobs are attributed to spans by their submission time: the
  * benchmark is a single closed-loop client, so at most one span of a
  * given level is open at any instant. */
final class Recorder extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long,
      stages: Seq[Int])
  final class Tasks {
    var n = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var recordsRead = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    def add(o: Tasks): Unit = {
      n += o.n; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      recordsRead += o.recordsRead; shuffleBytes += o.shuffleBytes
      spillBytes += o.spillBytes
    }
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageTasks = mutable.HashMap.empty[Int, Tasks]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = stageTasks.getOrElseUpdate(e.stageId, new Tasks)
      t.n += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.recordsRead += m.inputMetrics.recordsRead
      t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Jobs submitted inside `[startNs, endNs]` (epoch nanoseconds). */
  def jobsIn(startNs: Long, endNs: Long): Seq[Job] = synchronized {
    jobs.values.filter { j =>
      j.startMs * 1000000L >= startNs - 1000000L && j.startMs * 1000000L <= endNs
    }.toSeq
  }

  def tasksOf(js: Seq[Job]): Tasks = synchronized {
    val acc = new Tasks
    js.flatMap(_.stages).distinct.foreach(s => stageTasks.get(s).foreach(acc.add))
    acc
  }

  /** Nanoseconds of `[startNs, endNs]` that no job covers. */
  def gapNs(startNs: Long, endNs: Long, js: Seq[Job]): Long = {
    val iv = js.map(j => (j.startMs * 1000000L max startNs,
      (if (j.endMs < 0) endNs else j.endMs * 1000000L) min endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    (endNs - startNs) - covered
  }
}
