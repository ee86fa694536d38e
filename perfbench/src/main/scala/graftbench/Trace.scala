package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Three listeners, all from the benchmark's
  * own files, keep raw events in memory; [[perOp]] and [[perBatch]] attribute them
  * to the timed operations by wall-clock interval after the listener bus
  * is drained. Attribution by interval rather than by job group also
  * catches jobs that a query starts from its own threads. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stagesRun = mutable.HashMap.empty[Int, Int] // stage -> tasks
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Job(e.jobId, e.time, -1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val i = jobs.lastIndexWhere(_.id == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stagesRun(e.stageInfo.stageId) = e.stageInfo.numTasks
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, m.executorRunTime,
        m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def dur(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val start = ph.get("analysis").orElse(ph.get("optimization"))
        .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      val files = try writtenFiles(qe.executedPlan)
        catch { case scala.util.control.NonFatal(_) => 0L }
      Trace.this.synchronized {
        plans += Plan(start, dur("analysis"), dur("optimization"), dur("planning"), files)
      }
    }
    /** Files written by the file-writing commands in a plan (a scan's
      * `numFiles` counts files read, so only write commands are asked). */
    private def writtenFiles(p: SparkPlan): Long = p match {
      case c: CommandResultExec => writtenFiles(c.commandPhysicalPlan)
      case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case a: AdaptiveSparkPlanExec => writtenFiles(a.executedPlan)
      case q: QueryStageExec => writtenFiles(q.plan)
      case other => other.children.map(writtenFiles).sum
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized { progress += e }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    org.apache.spark.sql.BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Per-operation layer figures for operations given as wall-clock
    * intervals (epoch ms); call after [[close]]. */
  def perOp(ops: Seq[Span]): Seq[Map[String, Double]] = synchronized {
    ops.map { op =>
      val js = jobs.filter(j => j.start >= op.start && j.start <= op.end)
      val ids = js.map(_.id).toSet
      val stages = stagesRun.keys.filter(s => stageJob.get(s).exists(ids)).toSet
      val ts = tasks.filter(t => stages(t.stage))
      val ps = plans.filter(p => p.start >= op.start && p.start <= op.end)
      val jobWall = unionLength(js.map(j => (j.start, if (j.end < 0) op.end else j.end)).toSeq)
      val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
        val rt = st.map(_.runMs.toDouble).sorted
        rt.last / math.max(rt(rt.size / 2), 1.0)
      }.foldLeft(1.0)(math.max)
      Map(
        "driver.analysis_ms" -> ps.map(_.analysisMs).sum.toDouble,
        "driver.optimization_ms" -> ps.map(_.optimizationMs).sum.toDouble,
        "driver.planning_ms" -> ps.map(_.planningMs).sum.toDouble,
        "driver.gap_ms" -> math.max(0.0, op.end - op.start - jobWall),
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> stages.size.toDouble,
        "spark.tasks" -> ts.size.toDouble,
        "spark.job_ms" -> jobWall,
        "task.cpu_ms" -> ts.map(_.cpuMs).sum.toDouble,
        "task.run_ms" -> ts.map(_.runMs).sum.toDouble,
        "task.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
        "task.skew" -> skew,
        "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "shuffle.records" -> ts.map(_.shuffleRecords).sum.toDouble,
        "spill.bytes" -> ts.map(_.spill).sum.toDouble,
        "scan.bytes" -> ts.map(_.inBytes).sum.toDouble,
        "scan.rows" -> ts.map(_.inRows).sum.toDouble,
        "output.bytes" -> ts.map(_.outBytes).sum.toDouble,
        "output.files" -> ps.map(_.files).sum.toDouble)
    }
  }

  /** Streaming progress per timed operation: the data batch that the
    * operation's trigger ran, and the count of empty batches the query
    * ran while the operation waited. */
  def perBatch(ops: Seq[Span]): Seq[Map[String, Double]] = synchronized {
    val all = progress.map(_.progress)
      .map(p => (java.time.Instant.parse(p.timestamp).toEpochMilli, p)).toSeq
    ops.flatMap { op =>
      val in = all.filter { case (t, _) => t >= op.start && t <= op.end }.map(_._2)
      in.find(_.numInputRows > 0).map(p => layersOf(p) +
        ("streaming.empty_batches" -> in.count(_.numInputRows == 0).toDouble))
    }
  }

  private def layersOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress) = {
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      val st = p.stateOperators.headOption
      Map(
        "streaming.trigger_ms" -> ms("triggerExecution"),
        "streaming.add_batch_ms" -> ms("addBatch"),
        "streaming.planning_ms" -> ms("queryPlanning"),
        "streaming.commit_ms" -> (ms("walCommit") + ms("commitOffsets")),
        "state.commit_ms" -> st.map(_.commitTimeMs.toDouble).getOrElse(0.0),
        "state.rows_updated" -> st.map(_.numRowsUpdated.toDouble).getOrElse(0.0),
        "state.rows_total" -> st.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "state.memory_bytes" -> st.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
  }
}

object Trace {
  final case class Span(start: Long, end: Long)
  final case class Job(id: Int, start: Long, end: Long)
  final case class Task(stage: Int, runMs: Long, cpuMs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, shuffleRecords: Long, spill: Long,
      inBytes: Long, inRows: Long, outBytes: Long)
  final case class Plan(start: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, files: Long)

  /** Total length covered by a set of intervals (overlaps counted once). */
  def unionLength(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    (total + (curE - curS)).toDouble
  }
}
