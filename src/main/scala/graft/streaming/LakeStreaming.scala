package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.lake.LakeTable

/** Structured-Streaming integration for the lake layer (SURVEY §7.4):
  * an exactly-once foreachBatch sink (K6/K7) and a table-as-stream
  * source (S9).
  */
object LakeStreaming {

  /** Exactly-once streaming sink into a LakeTable. Each micro-batch is
    * committed with (queryName, batchId) in the log's txn action —
    * a replayed batch after restart is a no-op, mirroring the
    * delta-style `txnAppId`/`txnVersion` protocol the reference's
    * checkpointed writers rely on (`02.ingesta_incremental [json].py:
    * 117-123`).
    *
    * @param onBatch optional per-batch side effect AFTER the append
    *        (the reference's landing→raw archiving foreachBatch,
    *        `03.ingesta_incremental_v2 [json].py:211-235`)
    */
  def sink(
      stream: DataFrame,
      tablePath: String,
      queryName: String,
      checkpointLocation: String,
      partitionBy: Seq[String] = Seq.empty,
      trigger: Trigger = Trigger.AvailableNow(),
      mergeSchema: Boolean = true,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      /** Table properties applied when the sink CREATES the table (a
        * pre-existing table keeps its own): the hook config-driven
        * pipelines use to land CDC-enabled or auto-compacting bronze
        * tables (graft.enableChangeDataFeed, graft.autoCompact.*). */
      tableProperties: Map[String, String] = Map.empty): StreamingQuery = {
    val spark = stream.sparkSession
    stream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          val table =
            if (LakeTable.isLakeTable(tablePath)) LakeTable.forPath(spark, tablePath)
            else {
              val empty = spark.createDataFrame(
                spark.sparkContext.emptyRDD[Row], batch.schema)
              LakeTable.create(spark, tablePath, empty,
                partitionBy = partitionBy, properties = tableProperties)
            }
          table.idempotentAppend(batch, queryName, batchId,
            mergeSchema = mergeSchema)
          onBatch(batch, batchId)
        } finally batch.unpersist()
      }
      .start()
  }

  /** Table-as-stream source (S9): the table's commit log as a stream
    * ([[org.apache.spark.sql.graft.LakeSourceProvider]]). Each
    * micro-batch holds the rows of the commits it covers, resumes at its
    * exact version offset, and starts at `startingVersion`. Commits that
    * rewrite data (DELETE/UPDATE/MERGE/OVERWRITE) are skipped, not
    * re-emitted, or fail the stream when `skipChangeCommits` is false.
    */
  def asStream(spark: SparkSession, tablePath: String,
      startingVersion: Long = 0L,
      skipChangeCommits: Boolean = true): DataFrame =
    spark.readStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", tablePath)
      .option("startingVersion", startingVersion)
      .option("skipChangeCommits", skipChangeCommits)
      .load()
}
