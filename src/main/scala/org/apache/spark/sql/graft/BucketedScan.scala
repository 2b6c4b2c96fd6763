package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GenericInternalRow, Literal, Murmur3HashFunction}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.{Bucketing, Stats}

/** Storage-partitioned-join surface for bucketed lake tables
  * (SPARK-37377, the Iceberg SPJ shape): the scan groups the snapshot's
  * files by (hive partition values, recorded bucket id) and reports
  * `KeyGroupedPartitioning(identity(p1)..identity(pk), bucket(n, cols))`.
  * With `spark.sql.sources.v2.bucketing.enabled=true`, an equi-join of
  * two tables bucketed on the same columns+count plans with NO shuffle on
  * either side — each bucket pair joins where it sits. On a
  * partitioned+bucketed table the identity transforms carry per-split
  * partition keys too, so a join on (partition cols, bucket cols) is
  * likewise shuffle-free; mismatched partition value sets are padded by
  * `spark.sql.sources.v2.bucketing.pushPartValues.enabled`.
  *
  * The V2 `bucket` function below is the read-side twin of
  * [[graft.lake.Bucketing.bucketId]] (murmur3 seed 42, pmod n); Spark
  * resolves it through [[LakeCatalog]]'s FunctionCatalog and compares the
  * two sides by `canonicalName` to decide compatibility.
  */
object GraftFunctions {

  val BUCKET = new UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(n, cols...): murmur3(cols) pmod n — the lake bucket id"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.length >= 2 && inputType.head.dataType == IntegerType,
        s"bucket expects (numBuckets int, cols...), got ${inputType.catalogString}")
      new BoundBucket(inputType)
    }
  }
}

/** Bound `bucket(numBuckets, cols...)`: input row is the literal bucket
  * count followed by the bucket column values. `produceResult` replays
  * Spark's `hash(...)` chain (murmur3, seed 42) so runtime evaluation
  * (partition filters, partially-clustered SPJ) agrees bit-for-bit with
  * what the write path stamped on each file.
  */
final class BoundBucket(inputType: StructType) extends ScalarFunction[Integer] {

  override def inputTypes(): Array[DataType] = inputType.fields.map(_.dataType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def isResultNullable: Boolean = false

  /** Two sides join shuffle-free only when their bucket functions agree;
    * key the canonical name by the bucket column types. */
  override def canonicalName(): String =
    s"graft.bucket(${inputType.fields.drop(1).map(_.dataType.catalogString).mkString(",")})"

  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    var h = 42L
    var i = 1
    while (i < inputType.length) {
      val dt = inputType.fields(i).dataType
      h = Murmur3HashFunction.hash(input.get(i, dt), dt, h)
      i += 1
    }
    Integer.valueOf(((h.toInt % n) + n) % n)
  }
}

/** ScanBuilder for bucketed tables: delegates every pushdown surface to
  * Spark's ParquetScanBuilder, then wraps the built scan so it reports
  * the bucket layout. `fileKeys` maps absolute data-file paths to
  * (partition values in partition-column order, bucket id), from the
  * snapshot's AddFiles.
  */
private[graft] class LakeBucketedScanBuilder(
    inner: ParquetScanBuilder,
    spec: Bucketing.Spec,
    partSchema: StructType,
    fileKeys: Map[String, (Seq[String], Int)])
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownCatalystFilters
  with SupportsPushDownAggregates {

  /** `_bucket` metadata column requested? (multi-column SPJ convention —
    * see [[LakeBucketedScan.outputPartitioning]]) */
  private var withBucketCol = false

  override def pruneColumns(requiredSchema: StructType): Unit = {
    withBucketCol = requiredSchema.fieldNames.contains(Bucketing.BUCKET_META_COL)
    inner.pruneColumns(StructType(
      requiredSchema.filterNot(_.name == Bucketing.BUCKET_META_COL)))
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    inner.pushFilters(filters)

  override def pushedFilters(): Array[Predicate] = inner.pushedFilters

  private var aggPushed = false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    aggPushed = inner.pushAggregation(aggregation)
    aggPushed
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    inner.supportCompletePushDown(aggregation)

  override def build(): SupportsReportStatistics = {
    val scan = inner.build()
    // aggregate pushdown rewrites the scan to emit pre-aggregated rows;
    // bucket grouping no longer applies to that shape
    if (aggPushed) scan
    else new LakeBucketedScan(scan, spec, partSchema, fileKeys, withBucketCol)
  }
}

/** One group's slice of the scan: a plain FilePartition that also
  * exposes its (partition values, bucket id) as the key Spark groups on. */
private[graft] final class BucketedFilePartition(
    override val index: Int,
    override val files: Array[PartitionedFile],
    key: InternalRow) extends FilePartition(index, files) with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  /** bucket id is always the key row's last field */
  def bucketId: Int = key.getInt(key.numFields - 1)
}

/** Appends the `_bucket` metadata column — constant within each group's
  * partition, read from the group key, never from parquet. Columnar
  * batches get a ConstantColumnVector (the same mechanism Spark uses
  * for hive-partition values), row readers a JoinedRow.
  */
private[graft] final class BucketAppendingReaderFactory(
    inner: PartitionReaderFactory) extends PartitionReaderFactory {

  private def bucketOf(p: InputPartition): Int = p match {
    case b: BucketedFilePartition => b.bucketId
    case other => throw new IllegalStateException(
      s"expected BucketedFilePartition, got $other")
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(partition)

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    val extra = new GenericInternalRow(Array[Any](bucketOf(p)))
    val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
    new PartitionReader[InternalRow] {
      override def next(): Boolean = r.next()
      override def get(): InternalRow = joined(r.get(), extra)
      override def close(): Unit = r.close()
    }
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val r = inner.createColumnarReader(p)
    val bucket = bucketOf(p)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = r.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val batch = r.get()
        val n = batch.numRows()
        val cv = new org.apache.spark.sql.execution.vectorized
          .ConstantColumnVector(math.max(n, 1), IntegerType)
        cv.setInt(bucket)
        val cols = ((0 until batch.numCols()).map(batch.column) :+ cv)
          .toArray[org.apache.spark.sql.vectorized.ColumnVector]
        new org.apache.spark.sql.vectorized.ColumnarBatch(cols, n)
      }
      override def close(): Unit = r.close()
    }
  }
}

private[graft] class LakeBucketedScan(
    val inner: SupportsReportStatistics,
    val spec: Bucketing.Spec,
    partSchema: StructType,
    fileKeys: Map[String, (Seq[String], Int)],
    val withBucketCol: Boolean = false)
  extends Scan with SupportsReportPartitioning with SupportsReportStatistics with Batch {

  override def readSchema(): StructType =
    if (withBucketCol)
      inner.readSchema().add(Bucketing.BUCKET_META_COL, IntegerType,
        nullable = false)
    else inner.readSchema()

  /** delegate size statistics so small bucketed dimensions still get
    * broadcast when SPJ doesn't apply */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    inner.estimateStatistics()
  override def description(): String = s"${inner.description()} (bucketed)"
  override def toBatch: Batch = this

  /** Ordered distinct group keys. A flat bucketed table emits EVERY
    * bucket (possibly empty) so two co-bucketed scans always line up
    * partition-for-partition even without pushPartValues; a partitioned
    * table emits the (partition, bucket) combos the snapshot actually
    * holds — the partition value universe is unbounded, so alignment
    * across tables is pushPartValues' job.
    */
  private lazy val groupKeys: Seq[(Seq[String], Int)] =
    if (partSchema.isEmpty) (0 until spec.numBuckets).map(b => (Seq.empty[String], b))
    else fileKeys.values.toSeq.distinct.sortBy { case (pv, b) =>
      (pv.map(s => if (s == null) "" else s).mkString("\u0000"), b)
    }

  /** Hive dir strings → catalyst internal partition values (the key row
    * Spark compares across the join). */
  private def keyRow(pv: Seq[String], bucket: Int): InternalRow = {
    val parts = pv.zip(partSchema.fields).map { case (raw, f) =>
      if (raw == null) null
      else Cast(Literal(UTF8String.fromString(raw), StringType), f.dataType,
        Option(SQLConf.get.sessionLocalTimeZone)).eval(null)
    }
    new GenericInternalRow((parts :+ Integer.valueOf(bucket).asInstanceOf[Any]).toArray)
  }

  /** Single-column specs report the V2 `bucket(n, col)` transform —
    * Spark matches it to a plain join key through the FunctionCatalog.
    * That resolution path is single-reference, so a MULTI-column spec
    * could never engage SPJ through the transform; when the query
    * references the `_bucket` metadata column, the bucket key is instead
    * reported as `identity(_bucket)` — one reference, standard identity
    * matching — and a join that includes `_bucket` (derived from the
    * bucket columns, so semantically free) plans shuffle-free
    * (NEXT.md r4 #1).
    */
  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      (partSchema.names.map(n => Expressions.identity(n)) :+
        (if (withBucketCol) Expressions.identity(Bucketing.BUCKET_META_COL)
         else Expressions.bucket(spec.numBuckets, spec.columns: _*)))
        .toArray[org.apache.spark.sql.connector.expressions.Expression],
      groupKeys.size)

  /** Regroup the inner parquet scan's splits by (partition, bucket) —
    * filter pushdown and split planning stay stock; only the grouping
    * changes.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val splits = inner.toBatch.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"unexpected non-file partition from parquet scan: $other")
    }
    val byKey = splits.groupBy { f =>
      fileKeys.getOrElse(Stats.normalizeFileUri(f.filePath.toString),
        throw new IllegalStateException(
          s"file has no recorded bucket id: ${f.filePath}"))
    }
    groupKeys.zipWithIndex.map { case (k @ (pv, b), i) =>
      new BucketedFilePartition(i, byKey.getOrElse(k, Array.empty), keyRow(pv, b))
        : InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val f = inner.toBatch.createReaderFactory()
    if (withBucketCol) new BucketAppendingReaderFactory(f) else f
  }

  // plan-reuse equality: two bucketed scans are equal iff their inner
  // scans are (spec/file map are functions of the same snapshot)
  override def equals(other: Any): Boolean = other match {
    case s: LakeBucketedScan =>
      inner == s.inner && spec == s.spec && withBucketCol == s.withBucketCol
    case _ => false
  }
  override def hashCode(): Int =
    (inner.hashCode() * 31 + spec.hashCode()) * 31 + withBucketCol.hashCode()
}
