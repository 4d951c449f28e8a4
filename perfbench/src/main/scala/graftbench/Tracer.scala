package graftbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.util.QueryExecutionListener

/** What one op did, as seen from outside the engine: the Spark jobs,
  * stages and tasks it submitted (attributed through the job's local
  * properties), the SQL executions it ran, and the ERROR log events
  * raised while it ran. Times are epoch microseconds. */
final class OpTrace(val id: String, val name: String) {
  var start = 0L
  var end = 0L
  /** (phase, start, end) as timed by the harness. */
  val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  /** jobId -> (phase, start, end); end stays -1 until the job ends. */
  val jobs = mutable.LinkedHashMap[Int, (String, Long, Long)]()
  /** stageId -> (jobId, start, end, tasks) for completed stages. */
  val stages = mutable.LinkedHashMap[Int, (Int, Long, Long, Int)]()
  val sums: mutable.Map[String, Double] = mutable.Map().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = sums(k) = sums(k) + v

  def jobIntervals(phase: Option[String] = None): Seq[(Long, Long)] =
    jobs.values.toSeq.filter(j => phase.forall(_ == j._1) && j._3 >= j._2)
      .map(j => (j._2, j._3))
}

/** The traced run's only hooks into the engine: one SparkListener, one
  * QueryExecutionListener and one log4j appender, all registered from
  * the benchmark and removed again when a traced pass ends. Untraced
  * passes run with none of them attached. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  import Tracer._

  private val byId = mutable.Map[String, OpTrace]()
  private val stageOwner = mutable.Map[Int, (OpTrace, Int)]()
  @volatile private var current: OpTrace = null
  val spans = mutable.ArrayBuffer[String]()
  private var nextSpan = 0L

  private def opOf(props: java.util.Properties): OpTrace =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).flatMap(byId.get)
      .getOrElse(current)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val op = opOf(e.properties)
      if (op != null) {
        val phase = Option(e.properties).map(_.getProperty(PhaseKey, "")).getOrElse("")
        op.jobs(e.jobId) = (phase, e.time * 1000, -1L)
        e.stageIds.foreach(s => stageOwner(s) = (op, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      byId.values.find(_.jobs.contains(e.jobId)).foreach { op =>
        val (ph, s, _) = op.jobs(e.jobId)
        op.jobs(e.jobId) = (ph, s, e.time * 1000)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      stageOwner.get(si.stageId).foreach { case (op, job) =>
        op.stages(si.stageId) = (job, si.submissionTime.getOrElse(0L) * 1000,
          si.completionTime.getOrElse(0L) * 1000, si.numTasks)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      stageOwner.get(e.stageId).foreach { case (op, _) =>
        op.add("tasks", 1)
        if (m != null) {
          op.add("task_ms", m.executorRunTime)
          op.add("cpu_ns", m.executorCpuTime)
          op.add("gc_ms", m.jvmGCTime)
          op.add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
          op.add("shuffle_read",
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
          op.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
          op.add("spill", m.diskBytesSpilled)
          op.add("scan_bytes", m.inputMetrics.bytesRead)
          op.add("scan_records", m.inputMetrics.recordsRead)
          op.add("out_bytes", m.outputMetrics.bytesWritten)
          op.add("out_records", m.outputMetrics.recordsWritten)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val exchanges = try collectWithSubqueries(qe.executedPlan) {
      case x: ShuffleExchangeLike => x.outputPartitioning.isInstanceOf[RangePartitioning]
    } catch { case _: Throwable => Nil }
    synchronized {
      val op = current
      if (op != null) {
        op.add("executions", 1)
        op.add("analysis_ms", ms("analysis"))
        op.add("optimizer_ms", ms("optimization"))
        op.add("planning_ms", ms("planning"))
        op.add("exchanges", exchanges.size)
        op.add("range_exchanges", exchanges.count(identity))
      }
    }
  }

  private val appender = new AbstractAppender("graftbench-errors", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getLevel.isMoreSpecificThan(Level.ERROR)) Tracer.this.synchronized {
        if (current != null) current.add("error_logs", 1)
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
  }

  def detach(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
    appender.stop()
  }

  def beginOp(op: OpTrace): Unit = synchronized { byId(op.id) = op; current = op }

  /** Drains the bus, closes the op and turns it into spans. */
  def endOp(op: OpTrace, passSpan: Long): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    synchronized {
      current = null
      val opSpan = span(passSpan, op.id, "op", op.name, op.start, op.end,
        Intervals.selfTime(op.start, op.end, op.jobIntervals()),
        s""""jobs":${op.jobs.size},"error_logs":${op.sums("error_logs").toLong}""")
      val phaseSpan = op.phases.map { case (ph, s, e) =>
        ph -> span(opSpan, op.id, ph, ph, s, e,
          Intervals.selfTime(s, e, op.jobIntervals(Some(ph))), "")
      }.toMap
      val jobSpan = op.jobs.map { case (j, (ph, s, e)) =>
        val stages = op.stages.values.filter(_._1 == j).map(st => (st._2, st._3)).toSeq
        val end = math.max(e, s)
        j -> span(phaseSpan.getOrElse(ph, opSpan), op.id, "job", s"job-$j", s, end,
          Intervals.selfTime(s, end, stages), s""""phase":"$ph"""")
      }
      op.stages.foreach { case (st, (j, s, e, n)) =>
        span(jobSpan.getOrElse(j, opSpan), op.id, "stage", s"stage-$st", s, e, e - s,
          s""""tasks":$n""")
      }
      byId.remove(op.id)
      op.stages.keys.foreach(stageOwner.remove)
    }
  }

  /** An id for a span recorded later, once its end is known. */
  def reserve(): Long = synchronized { nextSpan += 1; nextSpan }

  def span(parent: Long, op: String, kind: String, name: String, start: Long,
      end: Long, self: Long, attrs: String, id: Long = -1): Long = synchronized {
    val sid = if (id > 0) id else reserve()
    spans += s"""{"id":$sid,"parent":$parent,"op":"$op","kind":"$kind",""" +
      s""""name":"${Json.esc(name)}","start_us":$start,"end_us":$end,"self_us":$self""" +
      (if (attrs.isEmpty) "}" else s",$attrs}")
    sid
  }
}

object Tracer {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"

  /** Per-pass totals of the engine-side layers, from the ops of one
    * traced pass. `cores` is the local[N] width. */
  def layerTotals(ops: Seq[OpTrace], cores: Int): Map[String, Double] = {
    def sum(k: String): Double = ops.map(_.sums(k)).sum
    def phaseLen(ph: String): Double = ops.flatMap(_.phases).collect {
      case (`ph`, s, e) => (e - s).toDouble }.sum
    val buildSelf = ops.map { op =>
      op.phases.collect { case ("build", s, e) =>
        Intervals.selfTime(s, e, op.jobIntervals(Some("build"))).toDouble }.sum
    }.sum
    val jobWall = ops.map(op => Intervals.unionLength(op.jobIntervals()).toDouble).sum
    val opWall = ops.map(op => (op.end - op.start).toDouble).sum
    val mb = 1024.0 * 1024.0
    val taskS = sum("task_ms") / 1e3
    Map(
      "queries.build_s" -> phaseLen("build") / 1e6,
      "queries.build_self_s" -> buildSelf / 1e6,
      "queries.action_s" -> phaseLen("action") / 1e6,
      "catalyst.analysis_s" -> sum("analysis_ms") / 1e3,
      "catalyst.optimizer_s" -> sum("optimizer_ms") / 1e3,
      "catalyst.planning_s" -> sum("planning_ms") / 1e3,
      "catalyst.executions" -> sum("executions"),
      "catalyst.exchanges" -> sum("exchanges"),
      "catalyst.range_exchanges" -> sum("range_exchanges"),
      "sched.jobs" -> ops.map(_.jobs.size).sum.toDouble,
      "sched.stages" -> ops.map(_.stages.size).sum.toDouble,
      "sched.tasks" -> sum("tasks"),
      "sched.job_wall_s" -> jobWall / 1e6,
      "sched.driver_gap_s" -> (opWall - jobWall) / 1e6,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> sum("cpu_ns") / 1e9,
      "exec.gc_s" -> sum("gc_ms") / 1e3,
      "exec.core_util" -> (if (jobWall > 0) taskS / (jobWall / 1e6 * cores) else 0.0),
      "shuffle.write_mb" -> sum("shuffle_write") / mb,
      "shuffle.read_mb" -> sum("shuffle_read") / mb,
      "shuffle.fetch_wait_s" -> sum("fetch_wait_ms") / 1e3,
      "shuffle.spill_mb" -> sum("spill") / mb,
      "scan.read_mb" -> sum("scan_bytes") / mb,
      "scan.records" -> sum("scan_records"),
      "io.task_write_mb" -> sum("out_bytes") / mb,
      "io.records_written" -> sum("out_records"),
      "spark.error_logs" -> sum("error_logs"))
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
