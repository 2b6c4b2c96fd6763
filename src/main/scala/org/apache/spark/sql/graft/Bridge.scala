package org.apache.spark.sql.graft

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
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

  /** Rebind `df`'s analyzed plan to a clone of its session with
    * adaptive execution disabled. A write command run through the
    * returned frame is planned non-adaptively, because the conf that
    * `SQLExecution.withNewExecutionId` propagates is the CLONE's (a
    * thread-local SQLConf override is NOT enough: that call
    * re-propagates the SESSION conf over it before the command plan is
    * prepared).
    * The clone shares the SparkContext and SharedState (so the cache
    * manager still deduplicates cached subplans).
    *
    * The twin is CACHED per base session and re-cloned only when the
    * base session's explicitly-set confs change (compared by
    * `getAllConfs`, ~0.1 ms): every `cloneSession()` registers its own
    * ExecutionListenerBus on the SHARED LiveListenerBus, so cloning per
    * staging write leaked one bus listener per commit — hundreds per
    * bench run, a session-wide event-dispatch slowdown that only
    * clears when the dropped twins are GC'd. Conf-change invalidation
    * keeps the twin exactly as fresh as clone-per-call for everything
    * a write reads from the session conf.
    *
    * An `Observation` attached to `df` completes through the listener
    * the base session's ObservationManager registers on its first use;
    * a clone copies only the listeners that exist when it is made. The
    * manager is therefore created before every clone, so a frame observed
    * on the base session completes when its write runs on the twin.
    */
  def rebindAdaptiveDisabled(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!session.sessionState.conf.adaptiveExecutionEnabled) df
    else {
      val confs = session.sessionState.conf.getAllConfs
      val twin = twinCache.synchronized {
        Option(twinCache.get(session)) match {
          case Some((cachedConfs, cachedTwin)) if cachedConfs == confs =>
            cachedTwin
          case _ =>
            session.observationManager
            val t = session.cloneSession()
            t.conf.set("spark.sql.adaptive.enabled", "false")
            twinCache.put(session, (confs, t))
            t
        }
      }
      org.apache.spark.sql.classic.Dataset.ofRows(twin, df.queryExecution.analyzed)
    }
  }

  // The weak key does NOT release an entry: the twin (the value) holds
  // its base session (the key) strongly through its parent session
  // state, and the map holds its values strongly. Every base session
  // that ever staged a write therefore keeps one twin, and one
  // listener-bus entry, until the JVM exits. That is bounded by the
  // number of base sessions (usually one); conf changes replace the
  // entry rather than adding one.
  private val twinCache =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      (Map[String, String], org.apache.spark.sql.classic.SparkSession)]()

  /** Number of cached AQE-off twins (one per base session). */
  def twinCount: Int = twinCache.synchronized(twinCache.size())

  /** Run `df` as one job writing parquet files under `root`, Delta's
    * `TransactionalWrite` shape: `FileFormatWriter` over the frame's own
    * executed plan, under the frame's own execution id, so an
    * observation on the frame completes when the write does.
    * `partitionCols` become hive dirs, which `committer` maps to files. */
  def writeFiles(df: DataFrame, root: String, partitionCols: Seq[String],
      committer: FileCommitProtocol, stats: WriteJobStatsTracker): Unit = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("lakeWrite")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(qe.sparkSession, plan, new LakeParquetFormat, committer,
        FileFormatWriter.OutputSpec(root, Map.empty, plan.output),
        qe.sparkSession.sessionState.newHadoopConf(),
        partitionCols.map(c => plan.output.find(_.name == c).get),
        None, Seq(stats), Map.empty)
    }
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
