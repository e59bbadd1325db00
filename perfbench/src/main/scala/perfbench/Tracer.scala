package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative Spark counters at one instant. */
final case class Counters(
    jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0, runMs: Long = 0,
    gcMs: Long = 0, shuffleWriteBytes: Long = 0, fetchWaitMs: Long = 0,
    inputBytes: Long = 0, spillBytes: Long = 0, scanTasks: Long = 0,
    busyMs: Long = 0, triggers: Long = 0, triggerMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, fetchWaitMs - o.fetchWaitMs,
    inputBytes - o.inputBytes, spillBytes - o.spillBytes,
    scanTasks - o.scanTasks, busyMs - o.busyMs, triggers - o.triggers,
    triggerMs - o.triggerMs)
}

/** One recorded call: name, wall interval, parent span, the operation it
  * belongs to, and the Spark counters accumulated while it ran. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, opId: Int, delta: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Outside-in tracer: a SparkListener and a StreamingQueryListener that the
  * benchmark registers itself, plus an in-memory span recorder. Each span
  * runs under a Spark job group named after it, so its jobs carry the
  * call's name; the listener bus is drained at every span boundary so the
  * counters taken there are exact. Spans are kept in memory and written out
  * once, when the run ends. */
final class Tracer(spark: SparkSession) {
  import Tracer.Open
  private val sc: SparkContext = spark.sparkContext
  private val JobGroupKey = "spark.jobGroup.id"
  private val lock = new Object
  private var c = Counters()
  private var activeJobs = 0
  private var busySince = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      if (activeJobs == 0) busySince = e.time
      activeJobs += 1
      c = c.copy(jobs = c.jobs + 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      activeJobs = math.max(0, activeJobs - 1)
      if (activeJobs == 0) c = c.copy(busyMs = c.busyMs + (e.time - busySince))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val in = m.inputMetrics.bytesRead
        c = c.copy(tasks = c.tasks + 1, cpuNs = c.cpuNs + m.executorCpuTime,
          runMs = c.runMs + m.executorRunTime, gcMs = c.gcMs + m.jvmGCTime,
          shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          fetchWaitMs = c.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
          inputBytes = c.inputBytes + in,
          spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
          scanTasks = c.scanTasks + (if (in > 0) 1 else 0))
      } else c = c.copy(tasks = c.tasks + 1)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val d = Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        c = c.copy(triggers = c.triggers + 1, triggerMs = c.triggerMs + d)
      }
  }

  sc.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  def detach(): Unit = {
    flush()
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Drains the listener bus, then reads the counters; a job still
    * running counts as busy up to now. */
  def snapshot(): Counters = {
    flush()
    lock.synchronized {
      if (activeJobs > 0) c.copy(busyMs = c.busyMs + (System.currentTimeMillis() - busySince))
      else c
    }
  }

  private def flush(): Unit = org.apache.spark.perfbenchbridge.Bus.drain(sc)

  // ---- spans --------------------------------------------------------------
  val spans = ArrayBuffer[Span]()
  private val stack = mutable.Stack[Open]()
  private var nextId = 0

  /** Opens a span; the span's jobs run under job group `name`. A root
    * span starts a new operation. */
  def open(name: String, root: Boolean = false): AnyRef = {
    nextId += 1
    val parent = stack.headOption.map(_.id).getOrElse(0)
    val opId = if (root || stack.isEmpty) nextId else stack.head.opId
    val prev = Option(sc.getLocalProperty(JobGroupKey))
    sc.setJobGroup(name, name, interruptOnCancel = true)
    val o = Open(nextId, name, System.nanoTime(), parent, opId, snapshot(), prev)
    stack.push(o)
    o
  }

  def close(h: AnyRef): Unit = {
    val o = h.asInstanceOf[Open]
    val end = System.nanoTime()
    val at = snapshot()
    while (stack.nonEmpty && (stack.top ne o)) stack.pop()
    if (stack.nonEmpty) stack.pop()
    o.prevGroup match {
      case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = true)
      case None => sc.clearJobGroup()
    }
    spans += Span(o.id, o.name, o.t0, end, o.parent, o.opId, at - o.at)
  }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Writes the spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"op":${s.opId},"jobs":${s.delta.jobs},"tasks":${s.delta.tasks},""" +
        s""""task_cpu_ms":${s.delta.cpuNs / 1000000},"gc_ms":${s.delta.gcMs},"input_bytes":${s.delta.inputBytes}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  private final case class Open(id: Int, name: String, t0: Long, parent: Int,
                                opId: Int, at: Counters, prevGroup: Option[String])
}
