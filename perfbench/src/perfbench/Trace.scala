package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{SinkInputPartition, SinkPackedInputPartition}

/** The traced run's listeners, all registered from the benchmark:
  *   - a QueryExecutionListener for Catalyst phase spans, the files an
  *     execution read and the sink files a scan planned;
  *   - a SparkListener for jobs, stages and task metrics, attributed to
  *     pass and op through the local properties the driver loop sets.
  * Everything stays in memory until [[dump]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val queryExecutions = new ConcurrentLinkedQueue[mutable.LinkedHashMap[String, Any]]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, mutable.LinkedHashMap[String, Any]]
  private val stagePass = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val taskTotals = mutable.Map[Int, mutable.LinkedHashMap[String, Double]]()

  private object Plans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L, ok = false)
  }

  private def record(qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (name, p) =>
      name -> Seq(p.startTimeMs, p.endTimeMs) }
    val inputs = Try(qe.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten).getOrElse(Nil)
    val scanFiles = Try(Plans.collectWithSubqueries(qe.executedPlan) {
      case b: BatchScanExec => b.inputPartitions.map {
        case p: SinkPackedInputPartition => p.splits.size
        case _: SinkInputPartition => 1
        case _ => 0
      }.sum
    }).map(s => if (s.isEmpty) -1 else s.sum).getOrElse(-1)
    queryExecutions.add(mutable.LinkedHashMap("id" -> qe.id, "ok" -> ok,
      "duration_ms" -> durationNs / 1e6, "phases" -> phases,
      "input_paths" -> inputs.distinct, "sink_files_scanned" -> scanFiles))
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String): Int =
        props.flatMap(p => Option(p.getProperty(k))).map(_.toInt).getOrElse(-1)
      val pass = prop("perfbench.pass")
      e.stageIds.foreach(s => stagePass.put(s, pass))
      jobs.put(e.jobId, mutable.LinkedHashMap("id" -> e.jobId, "pass" -> pass,
        "op" -> prop("perfbench.op"), "start_ms" -> e.time,
        "stages" -> e.stageIds.size))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j("end_ms") = e.time
        j("ok") = e.jobResult == JobSucceeded
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stagePass.getOrDefault(e.stageInfo.stageId, -1), "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val pass = stagePass.getOrDefault(e.stageId, -1)
      add(pass, "tasks", 1)
      if (e.reason != org.apache.spark.Success) add(pass, "task_failures", 1)
      Option(e.taskMetrics).foreach { m =>
        add(pass, "task_run_ms", m.executorRunTime)
        add(pass, "task_cpu_ns", m.executorCpuTime)
        add(pass, "gc_ms", m.jvmGCTime)
        add(pass, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(pass, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(pass, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add(pass, "input_bytes", m.inputMetrics.bytesRead)
        add(pass, "output_bytes", m.outputMetrics.bytesWritten)
        add(pass, "output_rows", m.outputMetrics.recordsWritten)
      }
    }
  }

  private def add(pass: Int, key: String, v: Double): Unit = taskTotals.synchronized {
    val t = taskTotals.getOrElseUpdate(pass, mutable.LinkedHashMap())
    t(key) = t.getOrElse(key, 0.0) + v
  }

  private val listenerManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    listenerManager.register(qeListener)
  }

  /** Call once the listener bus is drained, so no event of the pass is lost. */
  def detach(): Unit = {
    listenerManager.unregister(qeListener)
    sc.removeSparkListener(jobListener)
  }

  def dump(): Map[String, Any] = Map(
    "query_executions" -> queryExecutions.asScala.toSeq,
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_("id").asInstanceOf[Int]),
    "task_totals" -> taskTotals.synchronized {
      taskTotals.map { case (p, t) => p.toString -> t.clone() }.toMap
    })
}
