package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One span: a request, an `api.call` inside it, a planning phase, a job
  * or a stage. Spans of one request share `group` (the Spark job group the
  * benchmark sets per request).
  */
final case class Span(name: String, group: String, parent: String, startMs: Long, endMs: Long,
    attrs: Seq[(String, Any)] = Nil)

/** What one executed query did, read from its executed plan's SQL metrics
  * and its planning tracker.
  */
final case class QueryStats(
    execId: Long,
    phases: Seq[(String, Long, Long)], // (phase, startMs, endMs)
    scans: Int, files: Long, scanRows: Long, scanNs: Long,
    exchanges: Int, shuffleBytes: Long, shuffleWriteNs: Long,
    reconcileNs: Long, reconcileIn: Long, reconcileOut: Long,
    windowRowsIn: Long, joinRows: Long)

final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long, stages: Seq[Int])
final case class StageRec(id: Int, submitMs: Long, endMs: Long, tasks: Int, failures: Int,
    waitMs: Long, inputBytes: Long, shuffleBytes: Long, shuffleWriteNs: Long)

/** Times the calls into each layer from outside the engine. Untraced
  * (the default) it only opens request scopes; [[start]] registers a
  * SparkListener whose events (jobs, stages, and each SQL execution's
  * plan and metrics) are kept in memory and read after [[stop]]. While
  * started, [[active]] says whether the next requests are traced: [[stop]]
  * keeps only the jobs, stages and queries of traced requests, so traced
  * and untraced requests can alternate within one loop.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var on = false
  /** Whether requests are traced while the tracer is started. */
  var active = true
  private var seq = 0L
  private var group = ""

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val queries = mutable.ArrayBuffer.empty[QueryStats]
  private val execGroup = mutable.HashMap.empty[Long, String]
  private val execStart = mutable.HashMap.empty[Long, Long]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageWait = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  private val stageFail = mutable.HashMap.empty[Int, Int].withDefaultValue(0)

  /** Janino compilations of generated code inside traced requests. */
  var codegenCompiles = 0L
  private def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, g, e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = lock.synchronized {
      stageSubmit.get(e.stageId).foreach { s =>
        stageWait(e.stageId) += math.max(0L, e.taskInfo.launchTime - s)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (e.reason != org.apache.spark.Success) stageFail(e.stageId) += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks, stageFail(i.stageId), stageWait(i.stageId),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.writeTime).getOrElse(0L))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        lock.synchronized {
          execStart(s.executionId) = s.time
          s.jobGroupId.foreach(g => execGroup(s.executionId) = g)
        }
      case e: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.PerfbenchSql.queryExecution(e).foreach { qe =>
          val st = Tracer.stats(e.executionId, qe)
          lock.synchronized { queries += st }
        }
      case _ =>
    }
  }

  private val lock = new Object

  def start(): Unit = {
    sc.addSparkListener(listener)
    on = true
  }

  /** Stop recording and wait until every posted event has been delivered. */
  def stop(): Unit = if (on) {
    on = false
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    keepTraced()
  }

  /** Drops what untraced requests caused. A job or query without a job
    * group (a streaming micro-batch runs on the stream's own thread)
    * belongs to the traced request whose span holds its start.
    */
  private def keepTraced(): Unit = lock.synchronized {
    val reqs = spans.filter(_.name == "request").map(r => (r.startMs, r.endMs, r.group))
    val groups = reqs.map(_._3).toSet
    def owner(group: String, t: Long): Option[String] =
      if (group.nonEmpty) Some(group).filter(groups)
      else reqs.find { case (s, e, _) => s <= t && t <= e }.map(_._3)
    val kept = jobs.values.toVector.flatMap(j => owner(j.group, j.startMs).map(g => j.copy(group = g)))
    jobs.clear()
    kept.foreach(j => jobs(j.id) = j)
    val keptStages = kept.flatMap(_.stages).toSet
    stages.filterInPlace(st => keptStages(st.id))
    val execs = queries.map(_.execId).flatMap { id =>
      owner(execGroup.getOrElse(id, ""), execStart.getOrElse(id, Long.MinValue)).map(id -> _)
    }.toMap
    queries.filterInPlace(q => execs.contains(q.execId))
    execGroup.clear()
    execGroup ++= execs
  }

  /** One timed request: its own job group, so every span it causes shares
    * the request's id.
    */
  def request[T](kind: String)(body: => T): T = {
    if (!on || !active) return body
    seq += 1
    group = s"$kind-$seq"
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    val c0 = compiles
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      codegenCompiles += compiles - c0
      lock.synchronized { spans += Span("request", group, "", t0, t1, Seq("kind" -> kind)) }
      sc.clearJobGroup()
    }
  }

  /** The public engine call up to the return of its DataFrame. */
  def apiCall[T](body: => T): T = {
    if (!on || !active) return body
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      lock.synchronized { spans += Span("api.call", group, group, t0, t1) }
    }
  }

  def groupOfExec(id: Long): String = lock.synchronized(execGroup.getOrElse(id, ""))

  /** Jobs, stages and planning phases as spans, parented to their request. */
  def derivedSpans(): Seq[Span] = lock.synchronized {
    val stageById = stages.map(s => s.id -> s).toMap
    val jobSpans = jobs.values.toSeq.flatMap { j =>
      Span("job", j.group, j.group, j.startMs, j.endMs, Seq("job" -> j.id)) +:
        j.stages.flatMap(stageById.get).map(s => Span("stage", j.group, s"job-${j.id}",
          s.submitMs, s.endMs, Seq("stage" -> s.id, "tasks" -> s.tasks)))
    }
    val planSpans = queries.toSeq.flatMap { q =>
      val g = execGroup.getOrElse(q.execId, "")
      q.phases.map { case (p, s, e) => Span(s"plans.$p", g, g, s, e, Seq("execution" -> q.execId)) }
    }
    jobSpans ++ planSpans
  }
}

object Tracer {

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Rows produced by `p`, looking through operators that keep no count. */
  private def rowsOut(p: SparkPlan): Long = p match {
    case s: QueryStageExec => rowsOut(s.plan)
    case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
    case r: ReusedExchangeExec => rowsOut(r.child)
    case _ if p.metrics.contains("numOutputRows") => metric(p, "numOutputRows")
    case _ if p.children.size == 1 => rowsOut(p.children.head)
    case _ => 0L
  }

  /** Every node of the final physical plan, reused exchanges once. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def isReconcile(a: BaseAggregateExec): Boolean =
    a.aggregateExpressions.exists(_.aggregateFunction.prettyName.contains("reconcile"))

  def stats(execId: Long, qe: QueryExecution): QueryStats = {
    val ns = scala.util.Try(nodes(qe.executedPlan)).getOrElse(Nil)
    val scans = ns.filter(n => n.nodeName.contains("Scan") && n.metrics.contains("numFiles"))
    val exch = ns.collect { case e: ShuffleExchangeExec => e }
    val recon = ns.collect { case a: BaseAggregateExec if isReconcile(a) => a }
    val partial = recon.filter(_.aggregateExpressions.exists(_.mode ==
      org.apache.spark.sql.catalyst.expressions.aggregate.Partial))
    val fin = recon.filter(_.aggregateExpressions.exists(_.mode ==
      org.apache.spark.sql.catalyst.expressions.aggregate.Final))
    val phases = qe.tracker.phases.toSeq.collect {
      case (name, ps) if name != "parsing" => (name, ps.startTimeMs, ps.endTimeMs)
    }
    QueryStats(execId, phases,
      scans.size, scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "numOutputRows")).sum, scans.map(metric(_, "scanTime")).sum * 1000000L,
      exch.size, exch.map(metric(_, "dataSize")).sum, exch.map(metric(_, "shuffleWriteTime")).sum,
      recon.map(metric(_, "aggTime")).sum * 1000000L,
      partial.map(a => rowsOut(a.child)).sum, fin.map(metric(_, "numOutputRows")).sum,
      ns.collect { case w: WindowExecBase => rowsOut(w.child) }.sum,
      ns.collect { case j: BaseJoinExec => metric(j, "numOutputRows") }.sum)
  }
}
