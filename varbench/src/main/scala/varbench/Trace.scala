package varbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: a layer call, or a root (one op, one build, ...). */
final case class Span(id: Int, name: String, parent: Int, root: Int,
    startNs: Long, var endNs: Long = -1L)

/** Spark counters of the tasks one span's jobs ran. */
final class Counters {
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var waitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadRecords = 0L
  var spillBytes = 0L
  var retried = 0
  var skew = 1.0
  var busiestStageMs = 0L

  def add(o: Counters): Unit = {
    stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; waitMs += o.waitMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadRecords += o.shuffleReadRecords
    spillBytes += o.spillBytes; retried += o.retried
    skew = math.max(skew, o.skew)
  }
}

/**
 * Listener that charges every task to the span whose job group launched
 * it. Each traced span runs its Spark jobs under its own job group, so
 * the stage → span map comes straight from the stage's properties.
 * Callbacks arrive on one listener thread; the span reads its counters
 * only after seeing its jobs' ends in the concurrent `jobsEnded` set.
 */
final class TraceListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val spanCounters = new ConcurrentHashMap[Int, Counters]()
  private val jobsEnded = ConcurrentHashMap.newKeySet[Int]()

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toInt)

  private def counters(span: Int): Counters =
    spanCounters.computeIfAbsent(span, _ => new Counters)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    if (span == 0 && !stageSpan.containsKey(e.stageId)) return
    val c = counters(span)
    val info = e.taskInfo
    val m = e.taskMetrics
    c.tasks += 1
    if (info.attemptNumber > 0 || info.failed || info.killed) c.retried += 1
    if (m != null) {
      c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      // scheduler delay as the Spark UI defines it, plus shuffle-fetch wait
      val schedulerDelay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      c.waitMs += schedulerDelay + m.shuffleReadMetrics.fetchWaitTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      c.spillBytes += m.diskBytesSpilled
    }
    stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]) += info.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    if (!stageSpan.containsKey(id)) return
    val c = counters(stageSpan.get(id))
    val times = Option(stageTaskMs.remove(id)).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty)
    c.stages += 1
    // skew of the span = max/median task time of its busiest stage
    if (times.size >= 2 && times.sum >= c.busiestStageMs) {
      c.busiestStageMs = times.sum
      c.skew = times.last.toDouble / math.max(1L, times(times.size / 2))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsEnded.add(e.jobId); () }

  def jobEnded(id: Int): Boolean = jobsEnded.contains(id)
  def countersOf(span: Int): Counters = Option(spanCounters.get(span)).getOrElse(new Counters)
}

/**
 * Span recorder. Spans are kept in memory and written once, at the end of
 * the run. With `enabled = false` every call is a plain pass-through, so
 * the untraced ops carry no job groups and no listener.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String) {
  val listener = new TraceListener
  if (enabled) sc.addSparkListener(listener)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val rows = mutable.HashMap.empty[Int, Long]
  private var stack: List[Span] = Nil

  /** Run `f` as a span named `name`, nested under the current one. */
  def span[T](name: String)(f: => T): T = {
    if (!enabled) return f
    val parent = stack.headOption
    val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
      parent.map(_.root).getOrElse(spans.size), System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(Tracer.GroupPrefix + s.id, name, interruptOnCancel = false)
    try f
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      awaitJobs(s.id)
    }
  }

  /** Block until the listener has seen the end of every job the span ran.
   * Spark posts a job's task and stage events before its job end, so the
   * span's counters are then complete. */
  private def awaitJobs(id: Int): Unit = {
    val jobs = sc.statusTracker.getJobIdsForGroup(Tracer.GroupPrefix + id)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!jobs.forall(listener.jobEnded) && System.nanoTime() < deadline)
      Thread.sleep(1)
  }

  /** Record the rows the current span's layer produced. */
  def rowsOut(n: Long): Unit =
    if (enabled) stack.headOption.foreach(s => rows(s.id) = n)

  def allSpans: Seq[Span] = spans.toSeq
  def rowsOf(id: Int): Option[Long] = rows.get(id)

  /** Span duration minus the part of it that its children cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    (s.endNs - s.startNs) - covered
  }

  /** One JSON object per span, written once. */
  def write(path: java.nio.file.Path, runStartNs: Long): Unit = {
    val lines = spans.map { s =>
      val c = listener.countersOf(s.id)
      f"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""root":${s.root},"start_s":${(s.startNs - runStartNs) / 1e9}%.6f,""" +
        f""""end_s":${(s.endNs - runStartNs) / 1e9}%.6f,"self_s":${selfNs(s) / 1e9}%.6f,""" +
        f""""stages":${c.stages},"tasks":${c.tasks},"rows_out":${rows.getOrElse(s.id, -1L)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

object Tracer {
  val GroupPrefix = "varbench-span-"
}
