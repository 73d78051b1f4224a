package etlbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is -1 for a root span. Times are
  * `System.nanoTime`; `count` carries a span's own tally (bytes moved by a
  * storage call, rows decoded, rows counted). */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      start: Long, var end: Long = 0L, var count: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work seen by one span: task metrics summed over the stages of the
  * jobs the span's thread submitted, and the jobs' wall intervals. */
final class SparkTally {
  var jobs, stages, tasks, tasksFailed = 0L
  var shuffleRead, shuffleWrite, spill, input, result = 0L
  var runMs, cpuNs, gcMs = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // job (start, end) ms

  def add(o: SparkTally): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    tasksFailed += o.tasksFailed; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; input += o.input
    result += o.result; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    intervals ++= o.intervals
  }

  /** Length of the union of the job intervals, in seconds. */
  def busySeconds: Double = {
    var total, curS, curE = 0L
    var open = false
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total / 1000.0
  }
}

/** Listener that files every job, stage and task under the span that was
  * open on the submitting thread. Spark copies a thread's local properties
  * into each job it submits (including AQE's broadcast and stage jobs), so
  * the `etlbench.span` property set by [[Tracer.span]] reaches every job. */
final class SpanListener extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val tallies = mutable.Map.empty[Int, SparkTally]
  @volatile var barriersSeen = 0

  private def tally(span: Int) = tallies.getOrElseUpdate(span, new SparkTally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.Key))).map(_.toInt)
    span.foreach { s =>
      jobSpan(e.jobId) = s
      jobStart(e.jobId) = e.time
      if (s >= 0) tally(s).jobs += 1
      e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { s =>
      if (s == Tracer.Barrier) barriersSeen += 1
      else tally(s).intervals += ((jobStart(e.jobId), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).filter(_ >= 0).foreach(tally(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).filter(_ >= 0).foreach { s =>
      val t = tally(s)
      t.tasks += 1
      if (e.reason != Success) t.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
        t.result += m.resultSize
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
      }
    }
  }

  def tallyOf(span: Int): SparkTally = synchronized {
    tallies.get(span).map { t => val c = new SparkTally; c.add(t); c }
      .getOrElse(new SparkTally)
  }
}

/** In-memory span recorder. Spans nest by call structure on the calling
  * thread; each open span is published as the thread's `etlbench.span`
  * local property so [[SpanListener]] can attribute Spark work to it. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val listener = new SpanListener
  sc.addSparkListener(listener)

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(spans.size, name, layer, stack.headOption.getOrElse(-1), System.nanoTime())
    spans += s
    stack = s.id :: stack
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.toString).orNull)
    }
  }

  /** The innermost open span, for callers that tally into it. */
  def current: Option[Span] = stack.headOption.map(spans)

  /** Block until the listener has seen every event posted so far: run a
    * one-task job tagged as a barrier and wait for its end event, which
    * the listener bus delivers after everything queued before it. */
  def drain(): Unit = {
    val before = listener.barriersSeen
    val saved = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, Tracer.Barrier.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.Key, saved)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (listener.barriersSeen == before && System.nanoTime() < deadline)
      Thread.sleep(2)
    require(listener.barriersSeen > before, "Spark listener bus did not drain in 30 s")
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  def subtree(id: Int): Seq[Span] = {
    val out = mutable.ArrayBuffer(spans(id))
    var i = 0
    while (i < out.size) { out ++= children(out(i).id); i += 1 }
    out.toSeq
  }

  /** Duration minus the time covered by child spans (children of one
    * thread never overlap). */
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  /** Spark work of the span itself, without its children. */
  def sparkOf(s: Span): SparkTally = listener.tallyOf(s.id)

  /** Spark work of the span and all its descendants. */
  def sparkUnder(s: Span): SparkTally = {
    val t = new SparkTally
    subtree(s.id).foreach(c => t.add(listener.tallyOf(c.id)))
    t
  }
}

object Tracer {
  val Key = "etlbench.span"
  val Barrier: Int = -2
}
