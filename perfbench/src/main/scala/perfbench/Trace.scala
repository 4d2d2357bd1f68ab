package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** A timed region on the bench thread (`kind` = "span") or a Spark job the
  * listener saw (`kind` = "job", parented to the span that submitted it).
  * Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      req: Long, start: Double, end: Double, kind: String) {
  def ms: Double = end - start
}

/** Task-metric totals of one stage, summed over its tasks. */
final class StageTotals {
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputRecords = 0L
  var outputBytes = 0L
}

/** One Spark job: the span that submitted it, its wall time and the totals
  * of the stages it ran. */
final case class JobRec(jobId: Int, span: Int, start: Long, end: Long,
                        stages: Seq[StageTotals]) {
  def ms: Double = (end - start).toDouble
  def tasks: Int = stages.map(_.tasks).sum
  def taskMs: Long = stages.map(_.runMs).sum
  def ranStages: Int = stages.count(_.tasks > 0)
  def sum(f: StageTotals => Long): Long = stages.map(f).sum
}

/** Records jobs, their stages and task metrics. Each job is attributed to
  * the bench span that was open on the submitting thread, carried as a
  * Spark local property. */
final class JobListener extends SparkListener {
  private val stageTotals = mutable.Map[Int, StageTotals]()
  private val open = mutable.Map[Int, (Int, Long, Seq[Int])]()
  private val done = mutable.ArrayBuffer[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    open(e.jobId) = (span, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (span, start, stageIds) =>
      done += JobRec(e.jobId, span, start, e.time,
        stageIds.map(id => stageTotals.getOrElse(id, new StageTotals)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stageTotals.getOrElseUpdate(e.stageId, new StageTotals)
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputRecords += m.inputMetrics.recordsRead
      t.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def jobs(sc: SparkContext): Seq[JobRec] = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(done.toList)
  }
}

/** In-memory span recorder for the single bench thread. Disabled, `span`
  * only runs its body. Enabled, it records every span, tags Spark jobs with
  * the innermost open span and registers a [[JobListener]]. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var next = 0
  private var request = 0L
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None

  private val t0Nano = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  private def now: Double = t0Epoch + (System.nanoTime() - t0Nano) / 1e6

  /** Starts a new request id for the following top-level spans. */
  def newRequest(): Long = { request += 1; request }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val start = now
      try body
      finally {
        spans += Span(id, parent, name, layer, request, start, now, "span")
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  def recorded: Seq[Span] = spans.toList

  /** Jobs with their submitting span. A job submitted from another thread
    * (the engine runs some build stages in futures) carries no span
    * property; it belongs to the innermost span open when it started,
    * since the single bench thread waits inside that span. */
  def jobs: Seq[JobRec] = listener.map(_.jobs(sc)).getOrElse(Nil).map { j =>
    if (j.span >= 0) j
    else j.copy(span = spans.filter(s => s.start <= j.start + 1 && j.start <= s.end + 1)
      .maxByOption(_.start).map(_.id).getOrElse(-1))
  }

  /** Jobs as child spans of the bench span that submitted them. */
  def jobSpans: Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    jobs.map { j =>
      val p = byId.get(j.span)
      Span(-1 - j.jobId, j.span, s"job ${j.jobId}", p.map(_.layer).getOrElse("spark"),
        p.map(_.req).getOrElse(0L), j.start.toDouble, j.end.toDouble, "job")
    }
  }

  /** All spans with every descendant span (bench and job) of `root`. */
  def subtree(root: Span): (Seq[Span], Seq[JobRec]) = {
    val kids = spans.groupBy(_.parent)
    val ids = mutable.Set[Int]()
    def walk(id: Int): Unit = { ids += id; kids.getOrElse(id, Nil).foreach(c => walk(c.id)) }
    walk(root.id)
    (spans.filter(s => ids(s.id)).toList, jobs.filter(j => ids(j.span)))
  }

  /** Self time per layer: each span's wall minus its child spans and the
    * jobs it submitted; job wall goes to the submitting span's layer. */
  def layerTable: Seq[(String, Int, Double, Double, Int, Long)] = {
    val js = jobs
    val childMs = spans.groupBy(_.parent).map { case (p, c) => p -> c.map(_.ms).sum }
    val jobMs = js.groupBy(_.span).map { case (s, j) => s -> j.map(_.ms).sum }
    val bySpan = js.groupBy(_.span)
    spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (layer, ss) =>
      val self = ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0) - jobMs.getOrElse(s.id, 0.0)).sum
      val jm = ss.map(s => jobMs.getOrElse(s.id, 0.0)).sum
      val nJobs = ss.map(s => bySpan.getOrElse(s.id, Nil).size).sum
      val taskMs = ss.map(s => bySpan.getOrElse(s.id, Nil).map(_.taskMs).sum).sum
      (layer, ss.size, self, jm, nJobs, taskMs)
    }
  }

  def toJson(workload: String, seed: Long): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val all = (spans ++ jobSpans).sortBy(_.start)
    all.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${esc(s.name)}","layer":"${s.layer}",""" +
        f""""kind":"${s.kind}","req":${s.req},"start":${s.start}%.3f,"end":${s.end}%.3f}"""
    }.mkString(s"""{"workload":"$workload","seed":$seed,"spans":[\n""", ",\n", "\n]}\n")
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
