package graft.lake

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Commit-log action model, shaped after the transaction log the reference
  * inspects (Delta `_delta_log` JSON files, `01.parquet_primer.py:199-222`):
  * one JSON object per line, each wrapping exactly one action.
  *
  * File paths are RELATIVE to the table root (hive partition dirs
  * included), so a table directory can be moved wholesale.
  */

/** Per-file column statistics for data skipping (SURVEY.md §4: min/max
  * collected at write, filter file list before scan). Values are
  * canonical strings; numeric/timestamp columns are stored as their
  * primitive long/double rendering (timestamps as micros since epoch,
  * dates as days since epoch) so comparison never needs a parser.
  */
final case class FileStats(
    numRecords: Long,
    minValues: Map[String, String] = Map.empty,
    maxValues: Map[String, String] = Map.empty,
    nullCount: Map[String, Long] = Map.empty)

/** `dvPath`/`dvCardinality`: optional deletion vector — a roaring-bitmap
  * sidecar (relative path under `_dv/`) of ROW INDEXES within this
  * parquet file that are logically deleted. Small DELETEs become one
  * sidecar write + a metadata swap instead of a file rewrite; `stats`
  * stay physical (skipping stays conservative).
  */
/** `bucket`: for hash-bucketed tables ([[Bucketing]]) the bucket id every
  * row of this file hashes to — the DSv2 scan groups files by it to
  * report a KeyGroupedPartitioning for storage-partitioned joins.
  *
  * `dvInline`: small deletion vectors (serialized ≤ [[Dv.INLINE_MAX_BYTES]])
  * ride base64-inline in the action instead of as a sidecar — a point
  * DELETE then costs zero extra file reads on every subsequent scan
  * (Delta's inline DV storage). At most one of dvPath/dvInline is set.
  *
  * `bloomPath`: optional per-file Bloom-filter index sidecar (relative
  * path under `_index/`, see [[BloomIndex]]) consulted by equality
  * skipping; absent on tables without `graft.bloom.columns`.
  */
final case class AddFile(
    path: String,
    partitionValues: Map[String, String] = Map.empty,
    size: Long = 0L,
    modificationTime: Long = 0L,
    stats: Option[FileStats] = None,
    dvPath: Option[String] = None,
    dvCardinality: Long = 0L,
    bucket: Option[Int] = None,
    dvInline: Option[String] = None,
    bloomPath: Option[String] = None)

final case class RemoveFile(
    path: String,
    deletionTimestamp: Long,
    partitionValues: Map[String, String] = Map.empty)

/** Table-level metadata. `schemaDdl` is a Spark DDL string
  * (`StructType.toDDL` / `DataType.fromDDL`) covering the FULL schema
  * including partition columns; `partitionColumns` orders the hive
  * layout.
  *
  * `schemaJson` (when present) is the authoritative schema: unlike DDL
  * it preserves StructField METADATA — the `parquet.field.id` entries
  * that make column RENAME/DROP metadata-only operations (readers
  * resolve parquet columns by field id, not name). `schemaDdl` is kept
  * in sync for back-compat and human inspection.
  */
final case class MetaData(
    id: String,
    schemaDdl: String,
    partitionColumns: Seq[String] = Seq.empty,
    properties: Map[String, String] = Map.empty,
    createdTime: Long = 0L,
    schemaJson: Option[String] = None) {

  def withSchema(s: org.apache.spark.sql.types.StructType): MetaData =
    copy(schemaDdl = s.toDDL, schemaJson = Some(s.json))

  /** The slice of metadata staged rows were VALIDATED against: the table
    * GENERATION (`id` — a table deleted and recreated at the same path
    * gets a fresh id, and a pinned-plan stream or rebasing append must
    * NOT commit into the new generation even when the recreated schema
    * is identical), schema, partition layout, bucketing spec, and CHECK
    * constraints. Staleness checks (publish, blind-append rebase)
    * compare this — not whole-MetaData equality — so a concurrent commit
    * touching only benign table properties (an ownership tag, a CDC
    * toggle, MV lineage pointers) neither aborts a batch write nor
    * permanently fails a running stream whose planned metadata is pinned
    * at query start. Deliberately MORE PERMISSIVE than Delta, which
    * conflicts on ANY concurrent metadata commit: property-only commits
    * are carved out here (constraint/bucketing props excepted).
    */
  def validationState: (String, String, Option[String], Seq[String], Map[String, String]) =
    (id, schemaDdl, schemaJson, partitionColumns,
      properties.filter { case (k, _) =>
        k.startsWith(Constraints.PREFIX) ||
          k == Bucketing.COLS_PROP || k == Bucketing.COUNT_PROP
      })
}

/** Streaming-sink idempotence marker (one per (appId) — highest batchId
  * wins), mirroring Delta's txn action. */
final case class SetTxn(appId: String, batchId: Long)

/** Change-data file (Delta's `cdc` action): a parquet file under
  * `_change_data/` holding this commit's row-level changes (data columns
  * + `_change_type`). On an identity-partitioned table it sits under its
  * partition dirs (`_change_data/<col>=<v>/cdc-*`), which hold those
  * columns instead of the file. Never part of table state — snapshot resolution and
  * checkpoints ignore it; only the change-feed readers read it.
  */
final case class CdcFile(path: String, size: Long = 0L)

final case class CommitInfo(
    timestamp: Long,
    operation: String,
    parameters: Map[String, String] = Map.empty,
    numAddedFiles: Long = 0L,
    numRemovedFiles: Long = 0L,
    numOutputRows: Long = 0L)

/** Envelope: exactly one field set per log line. */
final case class Action(
    metaData: Option[MetaData] = None,
    add: Option[AddFile] = None,
    remove: Option[RemoveFile] = None,
    txn: Option[SetTxn] = None,
    commitInfo: Option[CommitInfo] = None,
    cdc: Option[CdcFile] = None)

object Action {
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.setSerializationInclusion(JsonInclude.Include.NON_ABSENT)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  def toJson(a: Action): String = mapper.writeValueAsString(a)

  def fromJson(s: String): Action = {
    val a = mapper.readValue(s, classOf[Action])
    // Scala's Map[String, Long] erases to Map[String, Object]; Jackson
    // deserializes small JSON ints as java.lang.Integer, which explodes
    // at the first primitive unboxing. Re-widen the numeric maps.
    def fix(st: FileStats): FileStats =
      st.copy(nullCount = st.nullCount.asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.asInstanceOf[Number].longValue() })
    a.copy(add = a.add.map(ad => ad.copy(stats = ad.stats.map(fix))))
  }

  def of(m: MetaData): Action     = Action(metaData = Some(m))
  def of(a: AddFile): Action      = Action(add = Some(a))
  def of(r: RemoveFile): Action   = Action(remove = Some(r))
  def of(t: SetTxn): Action       = Action(txn = Some(t))
  def of(ci: CommitInfo): Action  = Action(commitInfo = Some(ci))
  def of(c: CdcFile): Action      = Action(cdc = Some(c))
}
