package org.apache.spark.sql.graft

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.LakeTable

/** The DSv2 Table for a lake table, from the catalog or a path
  * ([[LakeSourceProvider]]): batch reads delegate to Spark's own
  * ParquetTable pinned to the loaded snapshot's file list (stock
  * pushdown/pruning/vectorization). SQL writes never reach a DSv2 write:
  * [[LakeDmlRule]] turns them into one [[graft.lake.LakeTable.write]].
  * Streams never reach its scan either: [[LakeCdfReadRule]] turns a
  * streaming relation over it into the provider's [[LakeSource]].
  * Time-travel handles (`VERSION AS OF`) are read-only, same rule as the
  * Scala API.
  */
class LakeV2Table(
    val lake: LakeTable,
    ident: String,
    inner: ParquetTable) extends Table with SupportsRead
  with SupportsMetadataColumns {

  private[graft] val snap = lake.snapshot

  /** Any live deletion vectors? SQL reads then go through
    * [[LakeDvReadRule]]'s substituted plan instead of the raw scan. */
  def hasDvs: Boolean =
    snap.files.exists(f => f.dvPath.isDefined || f.dvInline.isDefined)

  /** Files written under more than one partition spec (partition-spec
    * EVOLUTION)? The stock parquet scan can only infer ONE directory
    * layout — elided columns of the other generations would read as
    * null — so SQL reads substitute the engine's generation-aware plan,
    * same as the DV route. */
  def hasMixedPartitionSpecs: Boolean =
    snap.files.iterator.map(_.partitionValues.keySet).distinct.size > 1

  private val bucketSpec = graft.lake.Bucketing.specOf(snap.metaData)

  /** Exposed for [[BucketMismatchGuard]]'s plan-time layout check. */
  private[graft] def bucketingSpec: Option[graft.lake.Bucketing.Spec] = bucketSpec

  /** The bucketed scan engages only on a fully-bucketed, DV-free
    * snapshot with a plain (identity-only) partition spec; `_bucket` is
    * advertised under exactly that condition. */
  private def bucketedScanActive: Boolean =
    bucketSpec.isDefined && !hasDvs && snap.files.nonEmpty &&
      snap.files.forall(_.bucket.isDefined) &&
      graft.lake.PartitionTransforms
        .transforms(snap.metaData.partitionColumns).isEmpty

  override def metadataColumns(): Array[MetadataColumn] =
    if (bucketedScanActive)
      Array(new MetadataColumn {
        override def name(): String = graft.lake.Bucketing.BUCKET_META_COL
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.IntegerType
        override def isNullable: Boolean = false
        override def comment(): String =
          "bucket id of the row's file (served from the commit log)"
      })
    else Array.empty

  override def name(): String = ident

  override def schema(): StructType = snap.schema

  override def partitioning(): Array[Transform] =
    (snap.metaData.partitionColumns.map(e =>
      graft.lake.PartitionTransforms.parse(e) match {
        case graft.lake.PartitionTransforms.Identity(c) => Expressions.identity(c)
        case graft.lake.PartitionTransforms.Transform("year", _, c) =>
          Expressions.years(c)
        case graft.lake.PartitionTransforms.Transform("month", _, c) =>
          Expressions.months(c)
        case graft.lake.PartitionTransforms.Transform("day", _, c) =>
          Expressions.days(c)
        case graft.lake.PartitionTransforms.Transform("truncate", Some(n), c) =>
          Expressions.apply("truncate",
            Expressions.literal(n), Expressions.column(c))
        case graft.lake.PartitionTransforms.Transform(_, _, c) =>
          Expressions.identity(c)
      }) ++
      bucketSpec.map(s => Expressions.bucket(s.numBuckets, s.columns: _*))).toArray

  override def properties(): util.Map[String, String] =
    snap.metaData.properties.asJava

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      // MERGE WITH SCHEMA EVOLUTION: the analyzer alters the table
      // through LakeCatalog.alterTable (metadata-only ADD COLUMN
      // commits) before expanding star actions
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    bucketSpec match {
      // DV'd tables read through the substituted union plan, and a file
      // written before bucketing was enabled has no bucket id — both fall
      // back to the stock parquet scan (correct, just shuffles on join)
      case Some(spec) if bucketedScanActive =>
        val pcs = snap.metaData.partitionColumns
        val fileKeys = snap.files.map { f =>
          java.nio.file.Paths.get(lake.path, f.path)
            .toAbsolutePath.normalize.toString ->
            (pcs.map(c => f.partitionValues.getOrElse(c, null)), f.bucket.get)
        }.toMap
        val partSchema = StructType(pcs.map(c => snap.schema(c)))
        new LakeBucketedScanBuilder(
          inner.newScanBuilder(options)
            .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder],
          spec, partSchema, fileKeys)
      case _ => inner.newScanBuilder(options)
    }
}

object LakeV2Table {
  /** The table over `lake`'s snapshot, named `name`: Spark's
    * ParquetTable pinned to the snapshot's files. */
  def apply(lake: LakeTable, name: String): LakeV2Table = {
    val spark = lake.spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // renamed/dropped columns resolve by parquet field id
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    val snap = lake.snapshot
    val parquet = ParquetTable(name, spark,
      new CaseInsensitiveStringMap(Map("basePath" -> lake.path).asJava),
      snap.files.map(f => s"${lake.path}/${f.path}"), Some(snap.schema),
      classOf[ParquetFileFormat])
    new LakeV2Table(lake, name, parquet)
  }
}
