package org.apache.spark.sql.graft

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.InsertAdaptiveSparkPlan
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, OutputWriterFactory, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Spark 4 moved Column↔Expression conversion behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). This bridge lives in
  * the sql package hierarchy to re-export the two conversions the engine
  * needs: reading a user filter's Expression tree for file skipping, and
  * wrapping custom Catalyst Expressions as Columns. The lake's one file
  * writer ([[writeFiles]]) and the session helpers below live here too.
  */
object Bridge {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Run `df` as one job writing parquet files under `root`, Delta's
    * `TransactionalWrite` shape: `FileFormatWriter` over the frame's own
    * query execution, under an execution id of its own, so an
    * observation on the frame completes when the write does. With
    * `adaptive = false` that execution is a [[NonAdaptiveExecution]] of
    * the frame's analyzed plan on the same session, whose conf stays as
    * the caller set it.
    * `partitionCols` become hive dirs, which `committer` maps to files. */
  def writeFiles(df: DataFrame, root: String, partitionCols: Seq[String],
      committer: FileCommitProtocol, stats: WriteJobStatsTracker, adaptive: Boolean): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = if (adaptive) ds.queryExecution
      else new NonAdaptiveExecution(ds.sparkSession, ds.queryExecution.analyzed)
    SQLExecution.withNewExecutionId(qe, Some("lakeWrite")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(qe.sparkSession, plan, new LakeParquetFormat, committer,
        FileFormatWriter.OutputSpec(root, Map.empty, plan.output),
        qe.sparkSession.sessionState.newHadoopConf(),
        partitionCols.map(c => plan.output.find(_.name == c).get),
        None, Seq(stats), Map.empty)
    }
  }

  /** A query execution planned without `InsertAdaptiveSparkPlan`, as
    * Spark's streaming `IncrementalExecution` is: each exchange runs as
    * part of one job, with no per-stage re-optimization. */
  private final class NonAdaptiveExecution(session: classic.SparkSession, plan: LogicalPlan)
      extends QueryExecution(session, plan) {
    override protected def preparations: Seq[Rule[SparkPlan]] =
      super.preparations.filterNot(_.isInstanceOf[InsertAdaptiveSparkPlan])
  }

  /** Lake files store INT64 micros timestamps, whose footer min/max feed
    * skipping (INT96 carries none), set in the write job's own conf so
    * the session's setting is never touched. */
  private final class LakeParquetFormat extends ParquetFileFormat {
    override def prepareWrite(session: SparkSession, job: Job,
        options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
      val factory = super.prepareWrite(session, job, options, dataSchema)
      job.getConfiguration.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
      factory
    }
  }

  /** Fault-tolerant eager cut (the `localCheckpoint(true)` replacement,
    * VERDICT r13 #2): evaluate `df` ONCE now, keep the rows PERSISTED
    * (memory, spilling to disk), and return a frame whose plan is just
    * the materialized RDD — downstream passes (a global sort's range
    * sampling, a threshold arm, a second aggregation) re-read the rows
    * instead of re-executing the upstream subplan.
    *
    * Differences from `localCheckpoint(eager = true)`, same shape
    * otherwise (this mirrors Dataset.checkpoint's body minus the
    * lineage truncation):
    *  - the persisted RDD KEEPS its lineage, so on a real cluster an
    *    executor loss recomputes the missing partitions from the DAG
    *    instead of failing the job unrecoverably — localCheckpoint
    *    stores blocks executor-local with NO lineage to rebuild them;
    *  - blocks spill to disk under memory pressure rather than
    *    evicting silently.
    * Cleanup matches localCheckpoint's: the persisted blocks are
    * dropped by the ContextCleaner when the RDD becomes unreachable —
    * nothing registers in the session CacheManager, so no per-query
    * cache entries accumulate across a long session.
    */
  def persistedCut(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    persistedCutCounted(df)._1

  /** [[persistedCut]] that also returns the materialized ROW COUNT —
    * the eager evaluation is a count anyway, so callers that next ask
    * `isEmpty`/`count()` (e.g. an incremental refresh probing for an
    * empty delta) save that follow-up job.
    */
  def persistedCutCounted(df: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Long) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val rdd = ds.queryExecution.executedPlan.execute().map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = rdd.count() // eager: the single evaluation happens HERE
    (org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD
        .fromDataset(rdd, ds, isStreaming = false)), n)
  }
}
