package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into the program: wall interval, parent, and the Spark
  * work and filesystem change attributed to it. Counters are exclusive of
  * child spans; [[Trace.total]] rolls a span's subtree up. */
final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long) {
  var endNs: Long = startNs
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  /** Job wall intervals (ns, on the span clock) started under this span. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Call site of each job (its last stage's name, e.g. `collect at X.scala:12`). */
  val jobSites = mutable.ArrayBuffer.empty[String]
  /** Workload-supplied facts (rows returned, files read, fs deltas). */
  val notes = mutable.LinkedHashMap.empty[String, Double]
  def ms: Double = (endNs - startNs) / 1e6
}

/**
 * Span recorder for traced runs. Each span sets the Spark local property
 * `perfbench.span` while it is open, so every job submitted from the client
 * thread is attributed to the innermost open span; a [[SparkListener]]
 * folds job, stage and task metrics into that span. Spans stay in memory
 * and are written out as JSON when the run ends. With tracing off, `span`
 * runs its body and records nothing.
 */
object Trace {
  @volatile var enabled = false
  private val Prop = "perfbench.span"
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var lastClosed: Option[Span] = None
  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  // listener times are epoch ms; spans use nanoTime — one fixed offset
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def install(context: SparkContext): Unit = {
    sc = context
    enabled = true
    context.addSparkListener(Listener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = spans.synchronized {
        val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
          System.nanoTime())
        spans += s
        s
      }
      val saved = sc.getLocalProperty(Prop)
      stack = s :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        lastClosed = Some(s)
        sc.setLocalProperty(Prop, saved)
      }
    }

  /** The span that closed last, for facts computed later (untraced: None). */
  def lastSpan: Option[Span] = if (enabled) lastClosed else None

  /** Attach a fact to the span that closed last — for facts read after
    * the call returns (plan details, filesystem state). */
  def noteLast(key: String, value: Double): Unit =
    if (enabled) lastClosed.foreach(s => s.notes(key) = s.notes.getOrElse(key, 0.0) + value)

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  private def children(id: Int): Seq[Span] = all.filter(_.parent == id)

  private def subtree(s: Span): Seq[Span] = s +: children(s.id).flatMap(subtree)

  /** A counter summed over a span and all its descendants. */
  def total(s: Span, f: Span => Long): Long = subtree(s).map(f).sum

  /** Span time (ms) not covered by any Spark job submitted inside it —
    * planning, driver-side folds, commits and renames. */
  def driverMs(s: Span): Double = {
    val iv = subtree(s).flatMap(_.jobIntervals)
      .map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (s.endNs - s.startNs - covered) / 1e6)
  }

  def toJson: String = {
    def num(d: Double) = Json.num(d)
    all.map { s =>
      val notes = s.notes.map { case (k, v) => s"${Json.str(k)}: ${num(v)}" }
        .mkString(", ")
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
        s""""start_ms": ${num((s.startNs + epochOffsetNs) / 1e6)}, "ms": ${num(s.ms)}, """ +
        s""""jobs": ${s.jobs}, "stages": ${s.stages}, "tasks": ${s.tasks}, """ +
        s""""shuffle_read": ${s.shuffleRead}, "shuffle_write": ${s.shuffleWrite}, """ +
        s""""bytes_read": ${s.bytesRead}, "records_read": ${s.recordsRead}, """ +
        s""""bytes_written": ${s.bytesWritten}, """ +
        s""""job_sites": [${s.jobSites.map(Json.str).mkString(", ")}], """ +
        s""""job_ms": [${s.jobIntervals.map { case (a, b) => num((b - a) / 1e6) }.mkString(", ")}], """ +
        s""""notes": {$notes}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }

  private object Listener extends SparkListener {
    private def spanOf(props: java.util.Properties): Option[Span] =
      Option(props).flatMap(p => Option(p.getProperty(Prop)))
        .map(id => spans.synchronized(spans(id.toInt)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        s.jobs += 1
        s.jobSites += e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
        jobSpan(e.jobId) = s
        jobStartMs(e.jobId) = e.time
        e.stageInfos.foreach(si => stageSpan(si.stageId) = s)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.remove(e.jobId).foreach { s =>
        val a = jobStartMs.remove(e.jobId).getOrElse(e.time) * 1000000L - epochOffsetNs
        s.jobIntervals += ((a, e.time * 1000000L - epochOffsetNs))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.get(e.stageId).foreach { s =>
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.bytesRead += m.inputMetrics.bytesRead
          s.recordsRead += m.inputMetrics.recordsRead
          s.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
  }
}
