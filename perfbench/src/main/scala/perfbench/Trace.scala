package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the benchmark, opened around a call into one
  * layer. Times are epoch milliseconds (fractional), on the same clock as
  * Spark's listener events, so jobs can be placed inside spans. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Double, var end: Double = Double.NaN) {
  def wall: Double = end - start
  /** Layer of the span: the part of its name before the first dot. */
  def layer: String = name.takeWhile(_ != '.')
}

/** A Spark job, attributed to the innermost span open when it started. */
final case class JobRec(id: Int, span: Int, site: String, start: Long,
    var end: Long = -1L) {
  def wall: Double = (end - start).toDouble
  /** The layer a job serves, from the source file of its call site
    * ("localCheckpoint at Iterate.scala:132"). */
  def category: String = {
    val at = site.lastIndexOf(" at ")
    val method = if (at < 0) site else site.substring(0, at)
    val file = if (at < 0) "" else site.substring(at + 4).takeWhile(_ != ':')
    file match {
      case "SimpleGraph.scala" | "EdgeBlocks.scala" => "graph"
      case "Iterate.scala" | "Pregel.scala" =>
        if (method == "localCheckpoint") "checkpoint" else "converge"
      case "SnapshotTable.scala" | "TableSource.scala" => "sources"
      case "GraphBuilder.scala" => "graphbuild"
      case "SourceFiles.scala" => "model"
      case "Context.scala" => "ops"
      case f if Trace.appFiles(f) => "apps"
      // broadcast exchanges run their job from a pool thread, whose
      // stack holds no engine frame
      case _ if site.contains("withThreadLocalCaptured") => "broadcast"
      case _ => "bench"
    }
  }
}

/** Counters of one finished task. */
final case class TaskRec(span: Int, job: Int, stage: Int, durationMs: Long,
    runMs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, outBytes: Long)

/** Records spans always (a clock read and a local property per span) and,
  * only when tracing, Spark's job, stage and task counters through a
  * listener. Jobs and stages carry the id of the innermost open span as a
  * local property, so attribution is exact although the listener bus
  * delivers events asynchronously. */
final class Trace(sc: SparkContext) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  var op: Int = -1

  /** Runs `f` inside a new span named `name`, nested in the open one. */
  def span[T](name: String)(f: Span => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      op, now())
    spans += s
    stack.push(s)
    sc.setLocalProperty(Trace.SpanProperty, s.id.toString)
    try f(s)
    finally {
      s.end = now()
      stack.pop()
      sc.setLocalProperty(Trace.SpanProperty,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  private var listener: Option[Trace.Listener] = None
  val jobs = mutable.ArrayBuffer[JobRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  /** Time the listener spent handling events: the work tracing adds. */
  var listenerMs = 0.0

  def attach(): Unit = if (listener.isEmpty) {
    val l = new Trace.Listener
    sc.addSparkListener(l)
    listener = Some(l)
  }

  /** Waits for the bus to deliver every pending event, moves the
    * listener's records here and unregisters it. */
  def detach(): Unit = listener.foreach { l =>
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.removeSparkListener(l)
    l.synchronized {
      jobs ++= l.jobs.values.toSeq.sortBy(_.id)
      tasks ++= l.tasks
      listenerMs += l.busyNs / 1e6
    }
    listener = None
  }

  // ------------------------------------------------------------ analysis

  private lazy val children: Map[Int, Seq[Span]] =
    spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  /** The span and all spans opened under it. */
  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  private lazy val jobsBySpan = jobs.toSeq.groupBy(_.span)
  private lazy val tasksBySpan = tasks.toSeq.groupBy(_.span)

  def jobsIn(s: Span): Seq[JobRec] =
    subtree(s).flatMap(c => jobsBySpan.getOrElse(c.id, Nil))
  def tasksIn(s: Span): Seq[TaskRec] =
    subtree(s).flatMap(c => tasksBySpan.getOrElse(c.id, Nil))

  /** Milliseconds of the span covered by at least one of `js`. */
  def covered(s: Span, js: Seq[JobRec]): Double = {
    val iv = js.filter(_.end >= 0)
      .map(j => (math.max(j.start.toDouble, s.start),
        math.min(j.end.toDouble, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Span wall time minus the part its child spans cover. */
  def selfMs(s: Span): Double = {
    s.wall - children.getOrElse(s.id, Nil).map(_.wall).sum
  }
}

object Trace {
  val SpanProperty = "perfbench.span"

  val appFiles = Set("PageRank.scala", "WCC.scala", "CDLP.scala")

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(q => Option(q.getProperty(SpanProperty)))
      .map(_.toInt).getOrElse(-1)

  final class Listener extends SparkListener {
    val jobs = mutable.Map[Int, JobRec]()
    val tasks = mutable.ArrayBuffer[TaskRec]()
    private val stageSpan = mutable.Map[Int, Int]()
    private val stageJob = mutable.Map[Int, Int]()
    private val lastJobOfStage = mutable.Map[Int, Int]()
    var busyNs = 0L

    private def timed(f: => Unit): Unit = synchronized {
      val t0 = System.nanoTime()
      f
      busyNs += System.nanoTime() - t0
    }

    // Jobs outside every span (the benchmark's own checks) are skipped.
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val span = spanOf(e.properties)
      if (span >= 0) {
        val site = if (e.stageInfos.isEmpty) ""
          else e.stageInfos.maxBy(_.stageId).name
        jobs(e.jobId) = JobRec(e.jobId, span, site, e.time)
        e.stageIds.foreach(s => lastJobOfStage(s) = e.jobId)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      timed {
        val id = e.stageInfo.stageId
        val span = spanOf(e.properties)
        if (span >= 0) {
          stageSpan(id) = span
          stageJob(id) = lastJobOfStage.getOrElse(id, -1)
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) stageSpan.get(e.stageId).foreach { span =>
        val sr = m.shuffleReadMetrics
        tasks += TaskRec(span,
          stageJob.getOrElse(e.stageId, -1), e.stageId, e.taskInfo.duration,
          m.executorRunTime, m.jvmGCTime,
          sr.remoteBytesRead + sr.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten)
      }
    }
  }
}
