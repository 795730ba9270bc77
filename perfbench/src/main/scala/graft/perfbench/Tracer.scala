package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{HashJoin, ShuffledHashJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Where the harness is: which pass, op and phase (build or action) the
  * Spark work it triggers belongs to. Carried to the listener as local
  * properties on every job and stage. */
object Where {
  val Pass = "perfbench.pass"
  val Op = "perfbench.op"
  val Phase = "perfbench.phase"
}

/** A closed interval with a name and a parent, in epoch milliseconds. */
final case class Span(kind: String, name: String, parent: String,
    start: Long, end: Long)

/** Listener-side record of one run: always the per-pass input records
  * (the untraced run needs them for records_per_s); while `on`, also
  * every job and stage span and the per-op layer counters. Everything is
  * kept in memory and written out once at the end of the run. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var on = false

  /** (pass, op) the listener thread attributes plan-level events to;
    * the harness drains the bus before it changes this. */
  @volatile var current: (Int, String, String) = (-1, "", "")

  val inputRecords = mutable.Map[Int, Long]().withDefaultValue(0L)
  val counters = mutable.Map[(Int, String), mutable.Map[String, Double]]()
  val spans = mutable.ArrayBuffer[Span]()
  private val stageOwner = mutable.Map[Int, (Int, String, String)]()
  private val stageRunTimes = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val stageShuffleRead = mutable.Map[Int, Long]().withDefaultValue(0L)
  private val jobStart = mutable.Map[Int, (Long, (Int, String, String))]()
  private val jobStages = mutable.Map[Int, Seq[Int]]()

  private def owner(p: java.util.Properties): (Int, String, String) =
    if (p == null) (-1, "", "")
    else (Option(p.getProperty(Where.Pass)).map(_.toInt).getOrElse(-1),
      Option(p.getProperty(Where.Op)).getOrElse(""),
      Option(p.getProperty(Where.Phase)).getOrElse(""))

  private def add(pass: Int, op: String, k: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate((pass, op), mutable.Map[String, Double]())
    m(k) = m.getOrElse(k, 0.0) + v
  }
  private def max(pass: Int, op: String, k: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate((pass, op), mutable.Map[String, Double]())
    m(k) = math.max(m.getOrElse(k, 0.0), v)
  }

  private def opId(o: (Int, String, String)): String = s"${o._1}/${o._2}/${o._3}"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val o = owner(e.properties)
    e.stageIds.foreach(stageOwner(_) = o)
    if (on) {
      jobStart(e.jobId) = (e.time, o)
      jobStages(e.jobId) = e.stageIds
      add(o._1, o._2, "scheduler.jobs", 1)
      if (o._3 == "build") add(o._1, o._2, "driver.build_jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (on) jobStart.remove(e.jobId).foreach { case (t0, o) =>
      spans += Span("job", s"job ${e.jobId}", opId(o), t0, e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (!stageOwner.contains(e.stageInfo.stageId))
      stageOwner(e.stageInfo.stageId) = owner(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val o = stageOwner.getOrElse(si.stageId, (-1, "", ""))
    if (on) {
      add(o._1, o._2, "scheduler.stages", 1)
      for (t0 <- si.submissionTime; t1 <- si.completionTime) {
        val job = jobStages.collectFirst { case (j, ss) if ss.contains(si.stageId) => j }
        spans += Span("stage", s"stage ${si.stageId}.${si.attemptNumber()}",
          job.map(j => s"job $j").getOrElse(opId(o)), t0, t1)
      }
      val times = stageRunTimes.remove(si.stageId).getOrElse(mutable.ArrayBuffer())
      if (stageShuffleRead(si.stageId) > 0 && times.nonEmpty) {
        val sorted = times.sorted
        val med = sorted(sorted.length / 2).toDouble
        if (med > 0) max(o._1, o._2, "exchange.reduce_skew", sorted.last / med)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val o = stageOwner.getOrElse(e.stageId, (-1, "", ""))
    val m = e.taskMetrics
    if (m == null) return
    inputRecords(o._1) += m.inputMetrics.recordsRead
    if (!on) return
    val (p, op) = (o._1, o._2)
    add(p, op, "scheduler.tasks", 1)
    add(p, op, "scheduler.task_overhead_s",
      math.max(0L, e.taskInfo.duration - m.executorRunTime) / 1e3)
    add(p, op, "scan.bytes", m.inputMetrics.bytesRead)
    add(p, op, "scan.records", m.inputMetrics.recordsRead)
    add(p, op, "exchange.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
    add(p, op, "exchange.shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
    add(p, op, "exchange.shuffle_write_s", m.shuffleWriteMetrics.writeTime / 1e9)
    add(p, op, "exchange.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
    add(p, op, "exchange.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
    add(p, op, "operators.run_s", m.executorRunTime / 1e3)
    add(p, op, "operators.cpu_s", m.executorCpuTime / 1e9)
    add(p, op, "operators.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    max(p, op, "operators.peak_exec_mem_mb", m.peakExecutionMemory / 1048576.0)
    add(p, op, "write.bytes", m.outputMetrics.bytesWritten)
    add(p, op, "write.records", m.outputMetrics.recordsWritten)
    if (m.outputMetrics.bytesWritten > 0) add(p, op, "write.s", m.executorRunTime / 1e3)
    stageRunTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
    stageShuffleRead(e.stageId) += m.shuffleReadMetrics.totalBytesRead
  }

  // ---- plan-level counters, from the executed plans of the actions ----

  private object Plans extends AdaptiveSparkPlanHelper

  /** At-rest bytes per table root, listed once. */
  private val restBytes = mutable.Map[String, Long]()
  private def atRest(root: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Long =
    restBytes.getOrElseUpdate(root.toString, {
      val fs = root.getFileSystem(conf)
      val it = fs.listFiles(root, true)
      var n = 0L
      while (it.hasNext) n += it.next().getLen
      n
    })

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  /** Rows flowing out of `p`: its own row count, or that of the nearest
    * descendant that keeps one (codegen wrappers and adaptive readers
    * keep none). */
  private def rowsOut(p: SparkPlan): Double =
    p.metrics.get("numOutputRows").map(_.value.toDouble)
      .orElse(p.metrics.get("recordsRead").map(_.value.toDouble))
      .getOrElse(Plans.collectFirst(p) {
        case c if (c ne p) && c.metrics.contains("numOutputRows") =>
          c.metrics("numOutputRows").value.toDouble
      }.getOrElse(0.0))

  /** Nodes that pass rows through unchanged, by node name prefix. */
  private val PassThrough = Seq("Project", "Sort", "WholeStageCodegen", "InputAdapter",
    "AQEShuffleRead", "ShuffleQueryStage", "ColumnarToRow")

  /** Children across adaptive query-stage boundaries. */
  private def planChildren(p: SparkPlan): Seq[SparkPlan] = p match {
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(s.plan)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case _ => p.children
  }

  private def childRows(p: SparkPlan): Double =
    p.children.map(rowsOut).sum

  def planCounters(qe: QueryExecution, pass: Int, op: String): Unit = {
    val phases = qe.tracker.phases
    add(pass, op, "driver.plan_s", Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum / 1e3)
    val conf = qe.sparkSession.sessionState.newHadoopConf()
    val nodes = Plans.collectWithSubqueries(qe.executedPlan) { case p => p }
    var restTotal = 0L
    nodes.foreach {
      case s: FileSourceScanLike =>
        add(pass, op, "scan.files", metric(s, "numFiles"))
        add(pass, op, "scan.time_s", metric(s, "scanTime") / 1e3)
        restTotal += s.relation.location.rootPaths.map(atRest(_, conf)).sum
      case s if s.nodeName.startsWith("BatchScan") =>
        add(pass, op, "scan.time_s", metric(s, "scanTime") / 1e3)
      case b: BroadcastExchangeExec =>
        add(pass, op, "exchange.broadcast_bytes", metric(b, "dataSize"))
        add(pass, op, "exchange.broadcast_build_s",
          (metric(b, "collectTime") + metric(b, "buildTime")) / 1e3)
      case a: BaseAggregateExec if a.aggregateExpressions.nonEmpty &&
          a.aggregateExpressions.forall(e => e.mode == Partial || e.mode == PartialMerge) =>
        add(pass, op, "operators.partial_agg_rows_in", childRows(a))
        add(pass, op, "operators.partial_agg_rows_out", metric(a, "numOutputRows"))
      case _ =>
    }
    nodes.foreach {
      case j: HashJoin =>
        val build = if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft)
          j.left else j.right
        add(pass, op, "operators.join_build_rows", rowsOut(build))
        j match {
          case s: ShuffledHashJoinExec =>
            add(pass, op, "operators.join_build_s", metric(s, "buildTime") / 1e3)
          case _ => Plans.collectFirst(build) { case b: BroadcastExchangeExec => b }
            .foreach(b => add(pass, op, "operators.join_build_s", metric(b, "buildTime") / 1e3))
        }
      case t: graft.plans.TopKPerGroupExec =>
        add(pass, op, "operators.topk_rows_in", childRows(t))
      case _ =>
    }
    // TopKPerGroupExec keeps no row count of its own: its output is the
    // input of the first consumer above it that counts rows, seen through
    // the row-preserving nodes in between
    val parent = nodes.flatMap(p => planChildren(p).map(_ -> p)).toMap
    nodes.foreach {
      case t: graft.plans.TopKPerGroupExec =>
        var p = parent.get(t)
        while (p.exists(n => PassThrough.exists(n.nodeName.startsWith))) p = p.flatMap(parent.get)
        p.foreach(n => add(pass, op, "operators.topk_rows_out",
          n.metrics.get("shuffleRecordsWritten").orElse(n.metrics.get("numOutputRows"))
            .filter(_ => n.children.size == 1).map(_.value.toDouble).getOrElse(0.0)))
      case _ =>
    }
    add(pass, op, "scan.rest_bytes", restTotal)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) synchronized {
      val (pass, op, phase) = current
      if (phase == "action") planCounters(qe, pass, op)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
