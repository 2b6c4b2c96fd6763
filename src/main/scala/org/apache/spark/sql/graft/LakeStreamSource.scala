package org.apache.spark.sql.graft

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetTable}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.{LakeTable, SetTxn, WriteMode}

/** Streaming lake source (VERDICT r01 #9): a custom MicroBatchStream over
  * the commit log with EXACT version-range batches — each micro-batch is
  * the files added in `(startVersion, endVersion]`, so replay after a
  * checkpoint recovery reads precisely the same rows. DML-safe: commits
  * that contain RemoveFile actions (MERGE/UPDATE/DELETE/COMPACT rewrites)
  * are skipped rather than re-emitting rewritten rows — Delta's
  * `skipChangeCommits` semantics (set `failOnDataLoss=true`-style
  * `skipChangeCommits=false` to fail instead). Batch reading delegates to
  * Spark's own parquet reader factory pinned to the batch's file list.
  *
  *   spark.readStream
  *     .format("org.apache.spark.sql.graft.LakeSourceProvider")
  *     .option("path", tablePath)
  *     .option("startingVersion", 0)   // default: 0 (full history)
  *     .load()
  *
  * The same provider is the exactly-once streaming sink
  * (`writeStream.format(provider).option("path", ...)`, [[LakeSink]]).
  */
class LakeSourceProvider extends TableProvider with StreamSinkProvider {

  private def path(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("lake source requires option 'path'"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val p = path(options)
    require(LakeTable.isLakeTable(p), s"not a lake table: $p")
    val table = new graft.lake.LakeLog(p).snapshot(None).schema
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean))
      LakeStreamSource.cdfSchema(table)
    else table
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    def opt(key: String): Option[String] =
      properties.asScala.collectFirst {
        case (k, v) if k.equalsIgnoreCase(key) => v
      }
    new LakeStreamTable(
      opt("path").getOrElse(
        throw new IllegalArgumentException("lake source requires option 'path'")),
      schema,
      opt("startingVersion").map(_.toLong).getOrElse(0L),
      opt("skipChangeCommits").forall(_.toBoolean),
      opt("readChangeFeed").exists(_.toBoolean),
      opt("endingVersion").map(_.toLong))
  }

  /** The stream table has no STREAMING_WRITE, so `writeStream` takes
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

private[graft] object LakeStreamSource {
  /** The change-feed read schema ([[graft.lake.Cdc.readSchema]]). */
  def cdfSchema(table: StructType): StructType =
    graft.lake.Cdc.readSchema(table)
}

private[graft] class LakeStreamTable(
    path: String, tableSchema: StructType, startingVersion: Long,
    skipChangeCommits: Boolean, cdf: Boolean,
    endingVersion: Option[Long] = None) extends Table with SupportsRead {

  override def name(): String = s"lake-stream:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = tableSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        if (cdf) new LakeCdfMicroBatchStream(path, tableSchema, startingVersion)
        else new LakeMicroBatchStream(path, tableSchema, startingVersion,
          skipChangeCommits)
      /** `spark.read.format(provider)`: CDF mode reads the change rows of
        * `[startingVersion, endingVersion|latest]` as one batch. */
      override def toBatch: org.apache.spark.sql.connector.read.Batch = {
        require(cdf,
          "batch reads of the table itself go through Graft.table / the " +
            "lake catalog; this provider's batch mode is readChangeFeed=true")
        new LakeCdfBatch(path, tableSchema, startingVersion, endingVersion)
      }
    }
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
    * one currently at `path` — checked at checkpoint recovery
    * (deserializeOffset) AND at batch planning, so a recreate landing
    * mid-run is caught on the next trigger rather than read through. */
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

/** Shared offset/generation plumbing of the two lake micro-batch
  * streams (plain + CDF). Every emitted offset pairs its version with
  * the generation id from ONE snapshot resolution — separate
  * resolutions could pair a new generation's id with the old
  * generation's version if a recreate lands in between, producing a
  * consistent-LOOKING offset that silently continues in the wrong
  * generation. AvailableNow pins the (version, id) PAIR at prepare
  * time for the same reason. A table DELETED (not recreated) mid-run
  * now fails the next offset resolution loudly instead of idling on a
  * phantom -1 offset.
  */
private[graft] trait LakeOffsetStream extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  protected def path: String
  protected def startingVersion: Long

  protected lazy val log = new graft.lake.LakeLog(path)

  @volatile private var pinnedEnd: Option[(Long, String)] = None

  // ONE resolution per (version, id) pair — the snapshot cache makes
  // this a pointer read + existence probe + one stat per trigger
  private def snapPair(): (Long, String) = {
    val s = log.snapshot(None)
    (s.version, s.metaData.id)
  }

  protected def currentTableId: String = log.snapshot(None).metaData.id

  override def prepareForTriggerAvailableNow(): Unit =
    pinnedEnd = Some(snapPair())

  override def initialOffset(): Offset =
    LakeSourceOffset(startingVersion - 1, Some(currentTableId))

  override def latestOffset(): Offset = {
    val (v, id) = pinnedEnd.getOrElse(snapPair())
    LakeSourceOffset(v, Some(id))
  }

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()

  override def reportLatestOffset(): Offset = {
    val (v, id) = snapPair()
    LakeSourceOffset(v, Some(id))
  }

  override def deserializeOffset(json: String): Offset = {
    val o = LakeSourceOffset.parse(json)
    // checkpoint recovery is the earliest point a recreate can surface;
    // id-LESS legacy offsets skip the check AND the snapshot resolution
    // it needs (a pure parse, like before the guard existed)
    o.tableId.foreach(_ =>
      LakeSourceOffset.checkGeneration(path, currentTableId, o))
    o
  }

  protected def checkGenerationAtPlan(start: Offset, end: Offset): Unit =
    LakeSourceOffset.checkGeneration(path, currentTableId,
      start.asInstanceOf[LakeSourceOffset], end.asInstanceOf[LakeSourceOffset])

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[graft] class LakeMicroBatchStream(
    protected val path: String, schema: StructType,
    protected val startingVersion: Long,
    skipChangeCommits: Boolean) extends LakeOffsetStream {

  @volatile private var readerFactory: PartitionReaderFactory = _

  // Trigger.AvailableNow (T1-T4): the engine calls prepare() once at
  // query start; the backlog END is pinned to the (version, generation)
  // of that moment, so the query drains exactly the versions that
  // existed at start and stops — concurrent writers can keep committing
  // without extending the run (the same contract Delta's source
  // implements). Offsets/recovery/generation guard: [[LakeOffsetStream]].

  /** Files added in `(start, end]`, excluding (or failing on) change
    * commits. REORG-class commits (compaction, Z-order, bloom-index
    * backfill) move or annotate files without changing the table's rows
    * — Delta's `dataChange = false` — so they are invisible in BOTH
    * modes: strict mode only fails on commits that change data, and an
    * adds-only backfill must not replay its re-adds as inserts. The
    * operation label is TRUSTED (see [[graft.lake.LakeTable.REORG_OPS]]):
    * a writer that mislabels a data-changing commit as REORG violates
    * the log protocol, exactly as a false `dataChange = false` does in
    * Delta — no cheap structural check can catch it (removes carry no
    * row counts), and strict mode deliberately does not re-fail on
    * reorg-labelled removes, else every compaction would break streams. */
  private def filesForRange(start: Long, end: Long): Seq[String] =
    ((start + 1) to end).flatMap { v =>
      val actions = log.readCommit(v)
      val op = actions.flatMap(_.commitInfo).headOption
        .map(_.operation).getOrElse("")
      if (graft.lake.LakeTable.REORG_OPS.contains(op)) Seq.empty
      else {
        val isChange = actions.exists(_.remove.isDefined)
        if (isChange) {
          if (!skipChangeCommits)
            throw new IllegalStateException(
              s"version $v of $path rewrites existing data (MERGE/UPDATE/" +
                "DELETE/OVERWRITE); set skipChangeCommits=true to stream past it")
          Seq.empty
        } else actions.flatMap(_.add).map(f => s"$path/${f.path}")
      }
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    checkGenerationAtPlan(start, end)
    val files = filesForRange(
      start.asInstanceOf[LakeSourceOffset].version,
      end.asInstanceOf[LakeSourceOffset].version)
    val spark = SparkSession.active.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    val options = new CaseInsensitiveStringMap(Map("basePath" -> path).asJava)
    val scan = ParquetTable(s"lake-stream:$path", spark, options, files,
      Some(schema), classOf[ParquetFileFormat])
      .newScanBuilder(options).build()
    val batch = scan.toBatch
    readerFactory = batch.createReaderFactory()
    batch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory
}

/** Streaming CHANGE DATA FEED (Delta's `readChangeFeed` stream): each
  * micro-batch carries the row-level changes of commits `(start, end]` —
  * recorded `_change_data` files for DML, derived inserts for plain
  * appends — with `_change_type` / `_commit_version` /
  * `_commit_timestamp` appended per row. Downstream pipelines consume
  * deltas (including deletes) incrementally instead of re-diffing
  * snapshots. File reorganizations emit nothing; an overwrite/restore
  * (or DML from before CDF was enabled) fails the stream explicitly
  * rather than silently dropping changes.
  */
private[graft] class LakeCdfMicroBatchStream(
    protected val path: String, outSchema: StructType,
    protected val startingVersion: Long) extends LakeOffsetStream {

  private val tableSchema = StructType(outSchema.dropRight(3))
  private val cdcFileSchema = LakeCdf.cdcFileSchema(tableSchema)
  @volatile private var factory: CdfReaderFactory = _

  // offsets/recovery/generation guard: [[LakeOffsetStream]]

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    checkGenerationAtPlan(start, end)
    val (parts, f) = LakeCdf.plan(path, tableSchema, cdcFileSchema,
      start.asInstanceOf[LakeSourceOffset].version + 1,
      end.asInstanceOf[LakeSourceOffset].version, log)
    factory = f
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory = factory
}

/** Shared CDF partition planning for the streaming source and the
  * DataFrameReader batch mode. */
private[graft] object LakeCdf {

  def cdcFileSchema(tableSchema: StructType): StructType =
    graft.lake.Cdc.fileSchema(tableSchema)

  /** A scan of `files`, whose partition columns come from their dirs
    * under `basePath`, with its partition columns and, per column of
    * `schema`, its ordinal in the scan's rows (which put partition
    * columns last). */
  private def batchFor(basePath: String, files: Seq[String], schema: StructType)
      : (org.apache.spark.sql.connector.read.Batch, StructType, IndexedSeq[Int]) = {
    val spark = SparkSession.active.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    val options = new CaseInsensitiveStringMap(Map("basePath" -> basePath).asJava)
    val scan = ParquetTable(s"lake-cdf:$basePath", spark, options, files, Some(schema),
      classOf[ParquetFileFormat]).newScanBuilder(options).build().asInstanceOf[ParquetScan]
    val read = scan.readSchema().fieldNames
    (scan.toBatch, scan.readPartitionSchema, schema.fieldNames.map(read.indexOf(_)).toIndexedSeq)
  }

  /** Change partitions of commits `[from, to]` + their reader factory.
    * Recorded `_change_data` replays as-is; appends derive inserts;
    * overwrites/restores derive deletes from the previous snapshot's
    * removed files + inserts from the adds. Unstreamable: DML without
    * recorded change data (pre-CDF) and derived deletes of DV-masked
    * files (the raw reader cannot apply the bitmap) — both fail
    * explicitly rather than dropping changes.
    */
  def plan(path: String, tableSchema: StructType, cdcSchema: StructType,
      from: Long, to: Long, log: graft.lake.LakeLog)
      : (Array[InputPartition], CdfReaderFactory) = {
    val out = scala.collection.mutable.ArrayBuffer[InputPartition]()
    // one reader factory per file kind and partition layout: a factory
    // holds no file list, so later batches of that shape reuse it
    val readers = scala.collection.mutable.LinkedHashMap[
      (Boolean, StructType), (PartitionReaderFactory, StructType, IndexedSeq[Int])]()
    def parts(basePath: String, files: Seq[String], schema: StructType,
        changeType: Option[String], v: Long, ts: Long): Unit = if (files.nonEmpty) {
      val (b, partSchema, order) = batchFor(basePath, files, schema)
      val key = (changeType.isEmpty, partSchema)
      if (!readers.contains(key)) readers(key) = (b.createReaderFactory(), schema, order)
      val reader = readers.keysIterator.indexOf(key)
      b.planInputPartitions().foreach(p =>
        out += CdfInputPartition(p, reader, changeType, v, ts))
    }
    // one snapshot at the range start, then forward replay (O(range))
    var props: Map[String, String] = Map.empty
    val files = scala.collection.mutable.LinkedHashMap[String, graft.lake.AddFile]()
    if (from > 0) {
      val base = log.snapshot(Some(from - 1))
      props = base.metaData.properties
      base.files.foreach(f => files(f.path) = f)
    }
    for (v <- from to to) {
      val actions = log.readCommit(v)
      actions.flatMap(_.metaData).foreach(m => props = m.properties)
      val ci = actions.flatMap(_.commitInfo).headOption
      val op = ci.map(_.operation).getOrElse("")
      val tsMicros = ci.map(_.timestamp).getOrElse(0L) * 1000L
      val cdcFiles = actions.flatMap(_.cdc).map(_.path)
      if (cdcFiles.nonEmpty) {
        graft.lake.Cdc.layouts(cdcFiles).foreach(fs => parts(s"$path/${graft.lake.Cdc.CDC_DIR}",
          fs.map(f => s"$path/$f"), cdcSchema, None, v, tsMicros))
      } else if (!graft.lake.LakeTable.REORG_OPS.contains(op)) {
        val removes = actions.flatMap(_.remove)
        if (removes.nonEmpty && graft.lake.LakeTable.DML_OPS.contains(op)) {
          // a CDF-enabled DML commit with no cdc actions changed nothing
          // (its adds are rewrite artifacts — emit NOTHING); only DML
          // from before enablement is unrecoverable
          if (!props.get(graft.lake.Cdc.PROP).exists(_.equalsIgnoreCase("true")))
            throw new IllegalStateException(
              s"version $v of $path ($op) removes data without recorded " +
                "change files; the change feed cannot stream past it " +
                s"(enable ${graft.lake.Cdc.PROP} before DML, or start after this version)")
        } else {
          if (removes.nonEmpty) {
            // overwrite/restore: removed rows via the pre-commit file state
            val removedFiles = removes.flatMap(r => files.get(r.path))
            if (removedFiles.exists(f => f.dvPath.isDefined || f.dvInline.isDefined))
              throw new IllegalStateException(
                s"version $v of $path ($op) removes deletion-vector-masked " +
                  "files; stream the change feed from after it or use the " +
                  "batch tableChanges read")
            parts(path, removedFiles.map(f => s"$path/${f.path}"), tableSchema,
              Some(graft.lake.Cdc.DELETE), v, tsMicros)
          }
          parts(path, actions.flatMap(_.add).map(f => s"$path/${f.path}"), tableSchema,
            Some(graft.lake.Cdc.INSERT), v, tsMicros)
        }
      }
      actions.foreach { a =>
        a.add.foreach(f => files(f.path) = f)
        a.remove.foreach(r => files.remove(r.path))
      }
    }
    (out.toArray, new CdfReaderFactory(readers.values.toIndexedSeq))
  }
}

/** One-shot batch over a change-feed version range (DataFrameReader's
  * `readChangeFeed` mode). */
private[graft] class LakeCdfBatch(
    path: String, outSchema: StructType, from: Long, toOpt: Option[Long])
  extends org.apache.spark.sql.connector.read.Batch {

  private lazy val planned: (Array[InputPartition], CdfReaderFactory) = {
    val log = new graft.lake.LakeLog(path)
    val to = toOpt.orElse(log.latestVersion).getOrElse(-1L)
    val tableSchema = StructType(outSchema.dropRight(3))
    LakeCdf.plan(path, tableSchema, LakeCdf.cdcFileSchema(tableSchema),
      from, to, log)
  }

  override def planInputPartitions(): Array[InputPartition] = planned._1
  override def createReaderFactory(): PartitionReaderFactory = planned._2
}

/** `reader`: the [[CdfReaderFactory]] entry that reads `inner`.
  * `changeType`: None = rows come from a `_change_data` file that
  * already carries `_change_type`; Some(t) = derived rows, append `t`. */
private[graft] case class CdfInputPartition(
    inner: InputPartition, reader: Int, changeType: Option[String], version: Long,
    tsMicros: Long) extends InputPartition

/** Wraps the stock parquet readers, putting each row's columns back in
  * table order (a scan puts partition columns last) and appending the
  * CDF metadata columns per row: change files already carry
  * `_change_type` (append version + timestamp); derived insert files
  * append all three. Row-based by design — CDF batches are sized by
  * changed rows, not the table. `readers`: (factory, row schema, each
  * column's ordinal in the factory's rows).
  */
private[graft] class CdfReaderFactory(
    readers: IndexedSeq[(PartitionReaderFactory, StructType, IndexedSeq[Int])])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val cp = partition.asInstanceOf[CdfInputPartition]
    val (factory, schema, order) = readers(cp.reader)
    val inner = factory.createReader(cp.inner)
    val ordered = org.apache.spark.sql.catalyst.ProjectingInternalRow(schema, order)
    val consts = cp.changeType match {
      case None =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](cp.version, cp.tsMicros))
      case Some(t) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(t),
            cp.version, cp.tsMicros))
    }
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow()
      override def next(): Boolean = inner.next()
      override def get(): org.apache.spark.sql.catalyst.InternalRow = {
        ordered.project(inner.get())
        joined(ordered, consts)
      }
      override def close(): Unit = inner.close()
    }
  }
}
