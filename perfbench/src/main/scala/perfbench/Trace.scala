package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a layer's unit of work inside a pass. */
final case class Span(id: Long, name: String, layer: String, start: Long, end: Long,
                      parent: Long, pass: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span store. Spans nest per thread (the parent is the span
  * open on the calling thread) and carry the pass id; the Spark local
  * property `perfbench.span` names the innermost open span, so the
  * listener can attribute each job to the span that started it. Nothing
  * is written until [[write]] at the end of the run.
  */
object Trace {
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile var pass: Int = 0
  @volatile var on = false

  def record(name: String, layer: String, start: Long, end: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), name, layer, start, end,
      open.get.headOption.getOrElse(0L), pass))

  /** Time `f` as a span when tracing; run it bare otherwise. */
  def span[T](spark: SparkSession, name: String, layer: String)(f: => T): T = {
    if (!on) return f
    val id = ids.incrementAndGet()
    val parent = open.get.headOption.getOrElse(0L)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty("perfbench.span")
    open.set(id :: open.get)
    sc.setLocalProperty("perfbench.span", s"$id:$name")
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      open.set(open.get.tail)
      sc.setLocalProperty("perfbench.span", prevProp)
      spans.add(Span(id, name, layer, t0, t1, parent, pass))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus that of its child
    * spans (model batches run on task threads and are not children). */
  def selfSeconds(of: Seq[Span]): Map[String, Double] = {
    val childNs = of.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.end - s.start).sum }
    of.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.end - s.start - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }

  /** Spans and Spark jobs as JSON lines. */
  def write(path: String, jobs: Seq[JobRecord]): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      all.sortBy(_.start).foreach { s =>
        out.println(s"""{"kind":"span","id":${s.id},"name":${q(s.name)},"layer":${q(s.layer)},""" +
          s""""start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"pass":${s.pass}}""")
      }
      jobs.foreach { j =>
        out.println(s"""{"kind":"job","id":${j.jobId},"span":${q(j.span)},"pass":${j.pass},""" +
          s""""start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stages}}""")
      }
    } finally out.close()
  }
}

final case class JobRecord(jobId: Int, span: String, pass: Int, startMs: Long, var endMs: Long,
                           stages: Int)

/** Spark runtime totals for one pass. */
final class SparkTotals {
  var tasks, stages = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
}

/** The benchmark's own listeners: a `SparkListener` that keeps every job
  * (with the span and pass that started it) and sums task metrics per
  * pass, and a `QueryExecutionListener` that records each SQL execution
  * as a span. Registered only for traced passes. */
final class Listeners extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  val totals = mutable.Map.empty[Int, SparkTotals]
  private val stagePass = mutable.Map.empty[Int, Int]

  private def passOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.pass"))).map(_.toInt).getOrElse(-1)

  private def tot(pass: Int) = totals.getOrElseUpdate(pass, new SparkTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val pass = passOf(e.properties)
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span"))).getOrElse("")
    jobs(e.jobId) = JobRecord(e.jobId, span, pass, e.time, e.time, e.stageInfos.size)
    e.stageIds.foreach(stagePass(_) = pass)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    tot(stagePass.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tot(stagePass.getOrElse(e.stageId, -1))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime; t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.diskBytesSpilled
    }
  }

  /** SQL executions seen and the summed analysis, optimization and
    * planning phase times their `QueryPlanningTracker`s report. The
    * listeners are registered for one traced pass at a time, so these
    * belong to that pass. */
  var executions = 0L
  var planningMs = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    executions += 1
    planningMs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def resetExecutions(): Unit = synchronized { executions = 0; planningMs = 0 }

  def jobsOf(pass: Int): Seq[JobRecord] = synchronized { jobs.values.filter(_.pass == pass).toSeq }

  /** Seconds of the union of job intervals in `pass`. */
  def jobUnionSeconds(pass: Int): Double = {
    val iv = jobsOf(pass).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total, curS, curE = 0L
    var first = true
    for ((s, e) <- iv) {
      if (first) { curS = s; curE = e; first = false }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!first) total += curE - curS
    total / 1000.0
  }
}
