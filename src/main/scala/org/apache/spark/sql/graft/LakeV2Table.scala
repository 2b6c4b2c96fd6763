package org.apache.spark.sql.graft

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.LakeTable

/** The DSv2 Table for a lake table: reads delegate to Spark's own
  * ParquetTable pinned to the loaded snapshot's file list (stock
  * pushdown/pruning/vectorization). SQL writes never reach a DSv2 write:
  * [[LakeDmlRule]] turns them into one [[graft.lake.LakeTable.write]].
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
      TableCapability.MICRO_BATCH_READ,
      // MERGE WITH SCHEMA EVOLUTION: the analyzer alters the table
      // through LakeCatalog.alterTable (metadata-only ADD COLUMN
      // commits) before expanding star actions
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val base: ScanBuilder = bucketSpec match {
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
    // wrap the built scan so `spark.readStream.table("lake.db.t")` gets a
    // MicroBatchStream; batch reads and every pushdown surface delegate
    // straight through
    new LakeCatalogScanBuilder(base, lake, options)
  }
}

/** Delegating builder: every pushdown surface passes through to the
  * parquet/bucketed builder; the built scan is wrapped for streaming. */
private[graft] class LakeCatalogScanBuilder(
    inner: ScanBuilder,
    lake: LakeTable,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  override def pruneColumns(requiredSchema: StructType): Unit = inner match {
    case s: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
      s.pruneColumns(requiredSchema)
    case _ => ()
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    inner match {
      case s: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        s.pushFilters(filters)
      case _ => filters
    }

  override def pushedFilters(): Array[Predicate] = inner match {
    case s: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
      s.pushedFilters
    case _ => Array.empty
  }

  override def pushAggregation(aggregation: Aggregation): Boolean =
    inner match {
      case s: org.apache.spark.sql.connector.read.SupportsPushDownAggregates =>
        s.pushAggregation(aggregation)
      case _ => false
    }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    inner match {
      case s: org.apache.spark.sql.connector.read.SupportsPushDownAggregates =>
        s.supportCompletePushDown(aggregation)
      case _ => false
    }

  // the parquet builder's ParquetScan, or a LakeBucketedScanBuilder's
  // scan: both report statistics
  override def build(): org.apache.spark.sql.connector.read.Scan =
    new LakeCatalogScan(inner.build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics], lake, options)
}

/** The catalog table's scan: batch behavior (including the bucketed
  * KeyGroupedPartitioning and parquet runtime filtering) delegates to the
  * wrapped scan; `toMicroBatchStream` serves `spark.readStream.table` by
  * streaming the commit log exactly like the path-based provider
  * ([[LakeMicroBatchStream]] — same options: startingVersion,
  * skipChangeCommits).
  */
private[graft] class LakeCatalogScan(
    val inner: org.apache.spark.sql.connector.read.SupportsReportStatistics,
    lake: LakeTable,
    options: CaseInsensitiveStringMap)
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = inner.readSchema()

  /** size/row statistics MUST survive the wrapper — a 1 MB dimension
    * that reports unknown size loses its broadcast join. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    inner.estimateStatistics()
  override def description(): String = inner.description()
  override def toBatch: org.apache.spark.sql.connector.read.Batch = inner.toBatch

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    def opt(k: String) = Option(options.get(k))
    if (opt("readChangeFeed").exists(_.toBoolean))
      throw new UnsupportedOperationException(
        "streaming readChangeFeed goes through the path-based provider " +
          "(spark.readStream.format(LakeSourceProvider).option(\"readChangeFeed\",\"true\"))" +
          " — the catalog relation's schema is the table schema, not the CDF schema")
    new LakeMicroBatchStream(lake.path, lake.snapshot.schema,
      opt("startingVersion").map(_.toLong).getOrElse(0L),
      opt("skipChangeCommits").forall(_.toBoolean))
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    inner match {
      case p: org.apache.spark.sql.connector.read.SupportsReportPartitioning =>
        p.outputPartitioning()
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    inner match {
      case f: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        f.filterAttributes()
      case _ => Array.empty
    }

  override def filter(
      filters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    inner match {
      case f: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        f.filter(filters)
      case _ => ()
    }

  // exchange/scan reuse: equality is the wrapped scan's
  override def equals(other: Any): Boolean = other match {
    case s: LakeCatalogScan => inner == s.inner
    case _ => false
  }
  override def hashCode(): Int = inner.hashCode()
}
