package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Change data feed (Delta's CDF, `delta.enableChangeDataFeed`): when the
  * table property [[Cdc.PROP]] is true, every DML commit also writes its
  * row-level changes — `insert` / `delete` / `update_preimage` /
  * `update_postimage` — as parquet under `_change_data/`, registered in
  * the commit as [[CdcFile]] actions. [[LakeTable.tableChanges]] replays
  * them so downstream pipelines consume incremental changes instead of
  * re-diffing snapshots.
  *
  * Scale design: change files are written by executors, sized by the
  * changed-row count — a point UPDATE on a 100 TB table emits a few KB
  * of CDC, never a table scan. Plain appends/overwrites write NO change
  * files; their changes are derived from add/remove actions at read time
  * (Delta does the same).
  *
  * Routing (Delta's `__is_cdc` partition): a DV-path MERGE writes its
  * change rows in the SAME job as its new data rows. One generator over
  * the merge join emits both, tagged by the hidden [[KIND_COL]], and
  * [[LakeTable.stageFilesAndChanges]] partitions the write on it first:
  * files of the `true` partition move to `_change_data/` as CdcFiles,
  * the rest are the commit's AddFiles. Change files keep one on-disk
  * shape whichever way they were written — table columns plus an
  * in-file `_change_type` — so every reader, old logs included, reads
  * them unchanged. Routed data files carry an all-null `_change_type`
  * that every scan ignores (each reads with the explicit table schema).
  * Layouts whose dirs would strip table columns out of change files
  * (identity partitions, buckets) and the other DML paths write change
  * rows in a separate job through [[stage]].
  */
object Cdc {

  val CDC_DIR = "_change_data"
  val CHANGE_TYPE = "_change_type"
  /** hidden routing column of a merge write: true on change rows */
  val KIND_COL = "__is_cdc"
  val PROP = "graft.enableChangeDataFeed"

  val INSERT = "insert"
  val DELETE = "delete"
  val UPDATE_PRE = "update_preimage"
  val UPDATE_POST = "update_postimage"

  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

  /** Change-FILE schema: table columns + `_change_type`. */
  def fileSchema(table: StructType): StructType =
    StructType(table.fields :+ StructField(CHANGE_TYPE, StringType))

  /** Change-READ schema: table columns + the three CDF columns — the one
    * shape `tableChanges`, the TVF, and the batch/stream readers share. */
  def readSchema(table: StructType): StructType =
    StructType(table.fields ++ Seq(
      StructField(CHANGE_TYPE, StringType),
      StructField("_commit_version", LongType),
      StructField("_commit_timestamp", TimestampType)))

  /** Stage `df` (data columns + `_change_type`) as change files under
    * `_change_data/`. Executors write; the driver only moves (same-FS
    * renames) and lists sizes.
    */
  def stage(tablePath: String, df: DataFrame): Seq[CdcFile] = {
    val staging = Paths.get(tablePath,
      LakeTable.STAGING_PREFIX + "cdc-" + UUID.randomUUID())
    df.write.mode("overwrite").parquet(staging.toString)
    val destDir = Paths.get(tablePath, CDC_DIR)
    Files.createDirectories(destDir)
    val moved = scala.collection.mutable.ArrayBuffer[Path]()
    graft.util.Fs.listDir(staging).foreach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".parquet")) {
        val dest = destDir.resolve(name)
        Files.move(p, dest)
        moved += dest
      } else Files.deleteIfExists(p)
    }
    Files.deleteIfExists(staging)
    // drop zero-row parts (footer-only files) — an empty change set
    // registers no cdc action at all
    val counts = Stats.collectFromFooters(df.sparkSession, df.schema,
      moved.map(_.toString).toSeq)
    moved.flatMap { p =>
      val abs = p.toAbsolutePath.normalize.toString
      if (counts.get(abs).exists(_.numRecords > 0))
        Some(CdcFile(s"$CDC_DIR/${p.getFileName}", Files.size(p)))
      else { Files.deleteIfExists(p); None }
    }.toSeq
  }
}
