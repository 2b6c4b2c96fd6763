package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  * One generator, one writer (Delta's `__is_cdc` partition): MERGE,
  * UPDATE and DELETE build their output with [[rows]], which emits each
  * input row's data row and its change rows side by side, tagged by the
  * hidden [[KIND_COL]]. [[LakeTable.stageFilesAndChanges]] is the only
  * code that writes change files: it routes the tagged frame in the
  * DML's own write — files of the kind column's `true` partition go to
  * `_change_data/` as CdcFiles, the rest are the commit's AddFiles.
  * A change file holds the table columns plus an in-file `_change_type`,
  * except the identity partition columns: as in Delta, those live in
  * the file's dirs (`_change_data/<col>=<v>/cdc-*`) and the readers
  * recover them by partition discovery from `_change_data` ([[layouts]]).
  * Every other layout, and every older commit, has flat change files.
  * Routed data files carry an all-null `_change_type` that every scan
  * ignores (each reads with the explicit table schema).
  */
object Cdc {

  val CDC_DIR = "_change_data"
  val CHANGE_TYPE = "_change_type"
  /** hidden routing column of a DML write: true on change rows */
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

  /** Change files (paths under the table root) grouped by the partition
    * columns of their dirs, so each group reads with one partition
    * discovery from `_change_data`: flat files form one group. */
  def layouts(paths: Seq[String]): Seq[Seq[String]] =
    paths.groupBy(LakeTable.parsePartitionValues(_).keySet).values.toSeq

  /** Change-READ schema: table columns + the three CDF columns — the one
    * shape `tableChanges`, the TVF, and the batch/stream readers share. */
  def readSchema(table: StructType): StructType =
    StructType(table.fields ++ Seq(
      StructField(CHANGE_TYPE, StringType),
      StructField("_commit_version", LongType),
      StructField("_commit_timestamp", TimestampType)))

  /** The DML output generator: per row of `df` up to three structs —
    * the data row (if `data`), the old image (if `old`, typed by
    * `oldType`) and the new image (if `nu`, typed by `newType`) —
    * flattened by `inline`, so one pass over `df` yields data and change
    * rows alike (a union of filtered branches would run `df`, and any
    * metric it observes, once per branch). The data row and the new
    * image share `newImage`; `oldImage` gives the old one; both list one
    * column per field of `schema`. Columns out: the table columns,
    * `_change_type` (null on data rows) and [[KIND_COL]] (true on change
    * rows). Without `cdf` only the data rows come out, in table columns.
    */
  def rows(df: DataFrame, schema: StructType, cdf: Boolean,
      data: Column, newImage: Seq[Column],
      old: Column, oldImage: Seq[Column], oldType: Column,
      nu: Column, newType: Column): DataFrame = {
    val names = schema.fieldNames.toSeq.zipWithIndex
    def flat(prefix: String, image: Seq[Column]) =
      image.zip(names).map { case (c, (_, i)) => c.as(s"$prefix$i") }
    def named(prefix: String) = names.map { case (n, i) => col(s"$prefix$i").as(n) }
    if (!cdf)
      df.select(data.as("__d") +: flat("__n", newImage): _*)
        .where(col("__d")).select(named("__n"): _*)
    else {
      def image(present: String, prefix: String, changeType: Column, isChange: Boolean) =
        when(col(present), struct(named(prefix) ++
          Seq(changeType.as(CHANGE_TYPE), lit(isChange).as(KIND_COL)): _*))
      df.select(Seq(data.as("__d"), old.as("__o"), nu.as("__u"),
          oldType.cast(StringType).as("__ot"), newType.cast(StringType).as("__ut")) ++
          flat("__n", newImage) ++ flat("__p", oldImage): _*)
        .select(inline(filter(array(
          image("__d", "__n", lit(null).cast(StringType), isChange = false),
          image("__o", "__p", col("__ot"), isChange = true),
          image("__u", "__n", col("__ut"), isChange = true)), _.isNotNull)))
    }
  }
}
