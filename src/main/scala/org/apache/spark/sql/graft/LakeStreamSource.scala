package org.apache.spark.sql.graft

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.{LakeTable, SetTxn, WriteMode}

/** The lake table at a path as a data source. Streams read the commit
  * log through one V1 [[LakeSource]], whose micro-batches are the
  * engine's own batch reads: the files added in `(start, end]` for a
  * table stream, `tableChanges` for a change-feed stream. Replay after a
  * checkpoint recovery reads exactly the same rows.
  *
  *   spark.readStream
  *     .format("org.apache.spark.sql.graft.LakeSourceProvider")
  *     .option("path", tablePath)
  *     .option("startingVersion", 0)      // default: 0 (full history)
  *     .option("readChangeFeed", "true")  // optional: the change feed
  *     .load()
  *
  * A table stream skips commits that rewrite data (Delta's
  * `skipChangeCommits`; `skipChangeCommits=false` fails on them
  * instead). Batch reads (`spark.read.format(provider)`) get the table
  * as a [[LakeV2Table]]; with `readChangeFeed=true` [[LakeCdfReadRule]]
  * turns them into `tableChanges` over `[startingVersion,
  * endingVersion|latest]`. The same provider is the exactly-once
  * streaming sink (`writeStream.format(provider).option("path", ...)`,
  * [[LakeSink]]).
  */
class LakeSourceProvider extends TableProvider with StreamSourceProvider
  with StreamSinkProvider {

  private def path(options: collection.Map[String, String]): String =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }.getOrElse(
      throw new IllegalArgumentException("lake source requires option 'path'"))

  private def cdf(options: Map[String, String]): Boolean =
    options.get("readChangeFeed").exists(_.toBoolean)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeSource.tableSchema(path(options.asScala))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val p = path(properties.asScala)
    LakeV2Table(LakeTable.forPath(SparkSession.active, p), p)
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (providerName, LakeSource.schema(path(parameters), cdf(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val p = path(parameters)
    new LakeSource(p, LakeSource.schema(p, cdf(parameters)),
      parameters.get("startingVersion").map(_.toLong).getOrElse(0L),
      parameters.get("skipChangeCommits").forall(_.toBoolean),
      cdf(parameters))
  }

  /** The provider's table has no STREAMING_WRITE, so `writeStream` takes
    * Spark's V1 sink fallback and lands here. */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    if (outputMode == OutputMode.Update())
      throw new UnsupportedOperationException(
        "the lake sink supports Append and Complete output modes")
    new LakeSink(parameters.getOrElse("path",
      throw new IllegalArgumentException("lake sink requires option 'path'")),
      complete = outputMode == OutputMode.Complete())
  }
}

/** Exactly-once streaming sink (K6): each micro-batch is one
  * [[LakeTable.write]] carrying `SetTxn(queryId, batchId)`, so a batch
  * replayed after a failure or restart is a no-op (the
  * [[LakeTable.idempotentAppend]] contract). The query id survives
  * restarts from the same checkpoint. Complete mode overwrites the table
  * with each batch; rows are aligned to the table schema without evolving
  * it, and clustered by its partition layout as a SQL insert's are.
  */
private[graft] class LakeSink(path: String, complete: Boolean) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val ds = data.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    // the micro-batch as a plain batch frame, as Spark's ForeachBatchSink
    // builds it: the incremental plan itself cannot run another action
    val frame = org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
    val queryId = ds.sparkSession.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY)
    val lake = LakeTable.forPath(ds.sparkSession, path)
    val batch = RunLakeWrite.clustered(lake, frame)
    if (complete)
      lake.write(batch, WriteMode.Overwrite, txn = Some(SetTxn(queryId, batchId)))
    else lake.idempotentAppend(batch, queryId, batchId, mergeSchema = false)
  }
}

/** A stream over the lake table at `path`, from `startingVersion` on.
  * Each micro-batch of commits `(start, end]` is the engine's batch
  * read of them, built on the stream's own session: a table stream
  * reads the files those commits added ([[LakeTable.streamRows]]), a
  * change-feed stream their change rows ([[LakeTable.tableChanges]]).
  *
  * Every offset pairs its version with the generation id from ONE
  * snapshot resolution: separate resolutions could pair a new
  * generation's id with the old generation's version if a recreate
  * lands in between, producing a consistent-looking offset that
  * silently continues in the wrong generation. `Trigger.AvailableNow`
  * pins that pair when the query starts, so the run drains exactly the
  * versions that existed then and stops while writers keep committing
  * (Delta's source does the same). A table deleted (not recreated)
  * mid-run fails the next offset resolution loudly.
  */
private[graft] class LakeSource(
    path: String, override val schema: StructType, startingVersion: Long,
    skipChangeCommits: Boolean, cdf: Boolean)
  extends Source with SupportsTriggerAvailableNow {

  private val log = new graft.lake.LakeLog(path)

  @volatile private var pinnedEnd: Option[LakeSourceOffset] = None

  private def latest(): LakeSourceOffset = {
    val s = log.snapshot(None)
    LakeSourceOffset(s.version, Some(s.metaData.id))
  }

  override def getOffset: Option[Offset] = Some(latest())

  override def prepareForTriggerAvailableNow(): Unit = pinnedEnd = Some(latest())

  override def latestOffset(start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: ReadLimit): org.apache.spark.sql.connector.read.streaming.Offset =
    pinnedEnd.getOrElse(latest())

  /** Offsets recovered from the checkpoint arrive as their json; a
    * checkpoint of another table generation fails here, on the restart's
    * first call, before any row is read. */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(o => LakeSourceOffset.parse(o.json))
    val to = LakeSourceOffset.parse(end.json)
    LakeSourceOffset.checkGeneration(path, log.snapshot(None).metaData.id, from.toSeq :+ to: _*)
    val after = from.fold(startingVersion - 1)(_.version)
    val spark = SparkSession.active.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val frame =
      if (after >= to.version) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else if (cdf) LakeTable.forPath(spark, path).tableChanges(after + 1, Some(to.version))
      else LakeTable.forPath(spark, path).streamRows(after, to.version, schema, skipChangeCommits)
    // the frame's rows typed as the stream's schema: a file scan reads
    // every column as nullable, the stream keeps the table's declared types
    val rows = frame.select(schema.fieldNames.toSeq.map(col): _*)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.toRdd
    spark.internalCreateDataFrame(rows, schema, isStreaming = true)
  }

  override def stop(): Unit = ()
}

private[graft] object LakeSource {
  def tableSchema(path: String): StructType = {
    require(LakeTable.isLakeTable(path), s"not a lake table: $path")
    new graft.lake.LakeLog(path).snapshot(None).schema
  }

  /** The stream's schema: the table's, or the change-feed read schema
    * ([[graft.lake.Cdc.readSchema]]). */
  def schema(path: String, cdf: Boolean): StructType =
    if (cdf) graft.lake.Cdc.readSchema(tableSchema(path)) else tableSchema(path)
}

/** Commit-log position of the stream, plus the table GENERATION it
  * belongs to (`tableId` = the metadata id stamped at table creation,
  * Delta's `reservoirId` guard): version numbers are only meaningful
  * within one generation, so a checkpoint recovered against a table
  * that was deleted and recreated at the same path must fail loudly
  * instead of silently reading the new generation's commits as a
  * continuation. `tableId` is None only for offsets checkpointed
  * before the field existed — those skip the check once and re-persist
  * with the id. */
private[graft] case class LakeSourceOffset(
    version: Long, tableId: Option[String] = None) extends Offset {
  // Jackson, not string interpolation: engine-created tables use UUID
  // ids, but LakeLog reads ANY conforming log, whose MetaData.id an
  // external writer controls — an unescaped quote would corrupt the
  // stream's offset WAL. The id-less legacy form stays byte-identical
  // ({"version":N}).
  override def json(): String = {
    val n = LakeSourceOffset.mapper.createObjectNode()
    n.put("version", version)
    tableId.foreach(id => n.put("tableId", id))
    n.toString
  }
}

private[graft] object LakeSourceOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def parse(json: String): LakeSourceOffset = {
    val node =
      try mapper.readTree(json)
      catch { case scala.util.control.NonFatal(_) => null }
    if (node == null || !node.hasNonNull("version"))
      throw new IllegalArgumentException(s"bad offset: $json")
    LakeSourceOffset(node.get("version").asLong(),
      Option(node.get("tableId")).map(_.asText()))
  }

  /** Fail when any offset pins a DIFFERENT table generation than the
    * one currently at `path` — checked on every batch, so a recreate
    * is caught at checkpoint recovery and, landing mid-run, on the next
    * trigger rather than read through. */
  def checkGeneration(
      path: String, currentId: String, offsets: LakeSourceOffset*): Unit =
    offsets.foreach { o =>
      o.tableId.filter(_ != currentId).foreach { old =>
        throw new IllegalStateException(
          s"the lake table at $path was deleted and recreated (stream " +
            s"pinned generation $old, found $currentId): its commit " +
            "versions do not continue the checkpointed history — restart " +
            "against the new table with a NEW checkpoint location " +
            "(startingVersion only applies together with one; the old " +
            "checkpoint replays the old generation's offsets regardless)")
      }
    }
}
