package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters for the traced run: a SparkListener for jobs, stages
  * and tasks, and a QueryExecutionListener for Catalyst's phase times and
  * the write commands' file counts. Jobs carry the pass and span that
  * submitted them as local properties, so attribution is exact; query
  * events carry only a time and are attributed to the pass window.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val queries = new ConcurrentLinkedQueue[Query]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val j = Job(e.jobId, prop(PassKey).map(_.toInt).getOrElse(-1),
      prop(SpanKey).map(_.toInt).getOrElse(-1), e.time)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
    open.put(e.jobId, j)
    jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val job = Option(stageJob.get(i.stageId))
    val m = Option(i.taskMetrics)
    stages.add(Stage(
      pass = job.map(_.pass).getOrElse(-1), span = job.map(_.span).getOrElse(-1),
      tasks = i.numTasks,
      runMs = m.map(_.executorRunTime).getOrElse(0L),
      bytesRead = m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      recordsRead = m.map(_.inputMetrics.recordsRead).getOrElse(0L),
      shuffleRead = m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      shuffleWrite = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      spill = m.map(_.diskBytesSpilled).getOrElse(0L)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val writes = qe.executedPlan.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    def sum(k: String) = writes.flatMap(_.get(k)).map(_.value).sum
    // the bus may deliver the event after its pass ended: date it by planning
    val at = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    queries.add(Query(at, ms("analysis"), ms("optimization"), ms("planning"),
      sum("numFiles"), sum("numOutputBytes")))
  }

  def jobsOf(pass: Int): Seq[Job] = jobs.asScala.filter(_.pass == pass).toSeq
  def stagesOf(pass: Int): Seq[Stage] = stages.asScala.filter(_.pass == pass).toSeq
  def queriesIn(fromMs: Long, toMs: Long): Seq[Query] =
    queries.asScala.filter(q => q.atMs >= fromMs && q.atMs <= toMs).toSeq
}

object Probe {
  val PassKey = "graftbench.pass"
  val SpanKey = "graftbench.span"

  final case class Job(id: Int, pass: Int, span: Int, start: Long) { var end: Long = -1L }
  final case class Stage(pass: Int, span: Int, tasks: Int, runMs: Long, bytesRead: Long,
                         recordsRead: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Query(atMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long,
                         files: Long, bytes: Long)

  /** Wall time covered by at least one job, within [from, to] (ms). */
  def jobCoverMs(jobs: Seq[Job], from: Long, to: Long): Long = {
    val iv = jobs.map(j => (math.max(j.start, from), math.min(if (j.end < 0) to else j.end, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered, curA, curB = 0L
    var first = true
    iv.foreach { case (a, b) =>
      if (first) { curA = a; curB = b; first = false }
      else if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (!first) covered += curB - curA
    covered
  }
}

/** Spans around each public call the benchmark makes into graft: name,
  * layer, phase, start, end, parent and run id. Kept in memory and
  * written out at exit. Disabled, a span is one branch and the body.
  */
final class Tracer(val runId: String, sc: org.apache.spark.SparkContext) {
  import Tracer.Span

  var enabled = false
  var pass = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  def span[A](layer: String, phase: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), pass, layer, phase,
        name, System.nanoTime())
      spans += s
      stack.push(s)
      sc.setLocalProperty(Probe.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Probe.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def ofPass(p: Int): Seq[Span] = spans.filter(_.pass == p).toSeq

  /** Seconds per (layer, phase) in one pass, total and self (span time
    * minus the time of its child spans). */
  def seconds(p: Int): Map[(String, String), (Double, Double)] = {
    val sp = ofPass(p)
    val childTime = sp.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    sp.groupBy(s => (s.layer, s.phase)).view.mapValues { ss =>
      (ss.map(_.seconds).sum, ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum)
    }.toMap
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, pass: Int, layer: String, phase: String,
                        name: String, startNs: Long, var endNs: Long = -1L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}
