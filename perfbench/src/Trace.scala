package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval on the epoch-millisecond clock, tagged with the layer
  * it belongs to. run.py turns these into self times per layer. */
final case class Span(layer: String, start: Double, end: Double)

/** Counters read at op boundaries; every field only grows. */
final case class Counters(compiles: Long, compileNs: Long, gcCount: Long, gcMs: Long) {
  def -(o: Counters): Counters = Counters(compiles - o.compiles,
    compileNs - o.compileNs, gcCount - o.gcCount, gcMs - o.gcMs)
}

object Counters {
  def read(): Counters = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Counters(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime, gcs.map(_.getCollectionCount).sum,
      gcs.map(_.getCollectionTime).sum)
  }
}

/** One Spark job as the listener saw it. `group` is the job group the
  * driver thread set for the op that submitted it (absent for jobs of the
  * engine's own maintenance threads). */
final class JobRec(val id: Int, val group: Option[String], val start: Long) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
}

object Tracer {
  private val planLayer = Map(
    QueryPlanningTracker.PARSING -> "sql.parse",
    QueryPlanningTracker.ANALYSIS -> "plan.analysis",
    QueryPlanningTracker.OPTIMIZATION -> "plan.optimize",
    QueryPlanningTracker.PLANNING -> "plan.physical")

  /** The planning phases one query recorded, as spans of their layers. */
  def phaseSpans(qe: QueryExecution): Seq[Span] =
    qe.tracker.phases.toSeq.flatMap { case (name, p) =>
      planLayer.get(name).map(Span(_, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
}

/** Listens to Spark from outside the engine: job, stage and task events
  * and the planning tracker's phases of every finished query. Events
  * arrive on Spark's listener bus; [[drain]] waits for it so an op's spans
  * are complete before the op is closed. */
final class Tracer(spark: SparkSession) {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private val phases = mutable.ArrayBuffer[Span]()
  private val stageRetries = new AtomicLong()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val j = new JobRec(e.jobId, group, e.time)
      j.stages = e.stageInfos.size
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.attemptNumber() > 0) stageRetries.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.reason != Success) j.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.taskRunMs += m.executorRunTime
          j.taskCpuNs += m.executorCpuTime
          j.bytesRead += m.inputMetrics.bytesRead
          j.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val qel = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = phases.synchronized {
      phases ++= Tracer.phaseSpans(qe)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  def drain(): Unit = org.apache.spark.PerfBenchBus.drain(spark.sparkContext)

  def close(): Unit = {
    drain()
    spark.listenerManager.unregister(qel)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Every job and planning phase seen so far, as plain maps for the
    * output file. Jobs carry their op's group; run.py attributes them. */
  def dump(): Map[String, Any] = {
    drain()
    val js = jobs.synchronized(jobs.values.map { j =>
      Map("id" -> j.id, "group" -> j.group.orNull, "start" -> j.start,
        "end" -> j.end, "stages" -> j.stages, "tasks" -> j.tasks,
        "failed_tasks" -> j.failedTasks, "task_run_ms" -> j.taskRunMs,
        "task_cpu_ns" -> j.taskCpuNs, "bytes_read" -> j.bytesRead,
        "records_read" -> j.recordsRead)
    }.toSeq)
    val ps = phases.synchronized(phases.map(p =>
      Map("layer" -> p.layer, "start" -> p.start, "end" -> p.end)).toSeq)
    Map("jobs" -> js, "phases" -> ps, "stage_retries" -> stageRetries.get())
  }
}
