package org.apache.spark.sql.graft

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.LakeTable

/** DataSource V2 catalog over a warehouse directory of lake tables
  * (SURVEY §4's "TableCatalog/SupportsRead so built-in SQL resolution
  * can target us"): `SELECT ... FROM lake.db.t`, `SHOW TABLES IN
  * lake.db`, and native `VERSION AS OF` / `TIMESTAMP AS OF` time travel
  * all resolve through Spark's analyzer.
  *
  * Reads delegate to Spark's own ParquetTable pinned to the SNAPSHOT's
  * file list, so pushdown/pruning/vectorized scan are stock; the commit
  * log decides which files exist. `spark.readStream.table` streams the
  * table through the path provider's V1 source ([[LakeCdfReadRule]]
  * rewrites the streaming relation), with or without `readChangeFeed`.
  * SQL writes (INSERT, INSERT OVERWRITE, CTAS, DELETE, UPDATE, MERGE)
  * resolve against these tables and run as [[LakeTable]] calls
  * ([[LakeDmlRule]]), so the tables advertise no DSv2 write capability.
  *
  * Register with:
  *   spark.conf.set("spark.sql.catalog.lake",
  *     "org.apache.spark.sql.graft.LakeCatalog")
  *   spark.conf.set("spark.sql.catalog.lake.warehouse", "/data")
  */
object LakeCatalog {
  private val AT_VERSION = """(.+)@v(\d+)""".r
}

class LakeCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def tablePath(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name())).mkString("/")

  private def spark: SparkSession = SparkSession.active

  private def load(ident: Identifier, asOf: Option[Long],
      asOfTs: Option[Long]): Table = {
    val path = tablePath(ident)
    if (!LakeTable.isLakeTable(path))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    var t = LakeTable.forPath(spark, path)
    asOfTs.foreach(ts => t = t.asOfTimestamp(ts))
    asOf.foreach(v => t = t.asOf(v))
    LakeV2Table(t,
      s"$catalogName.${ident.namespace().mkString(".")}.${ident.name()}")
  }

  /** Plain load, plus Delta's `@v<N>` name suffix (the reference's
    * `loan_by_state_delta@v0`, `02.delta_lake_primer.py:420`):
    * `` SELECT * FROM lake.db.`t@v0` `` time-travels to version 0.
    */
  override def loadTable(ident: Identifier): Table =
    ident.name() match {
      case LakeCatalog.AT_VERSION(base, v) =>
        load(Identifier.of(ident.namespace(), base), Some(v.toLong), None)
      case _ => load(ident, None, None)
    }

  /** `VERSION AS OF v` */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLong), None)

  /** `TIMESTAMP AS OF ts` (micros since epoch per DSv2 contract). */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident, None, Some(timestamp / 1000L))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = Paths.get((warehouse +: namespace).mkString("/"))
    if (!Files.isDirectory(dir)) return Array.empty
    graft.util.Fs.listDir(dir).iterator
      .filter(p => LakeTable.isLakeTable(p.toString))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    LakeTable.isLakeTable(tablePath(ident))

  /** SQL `CREATE TABLE lake.db.t (...) PARTITIONED BY (...)` and the
    * first half of CTAS (the data then arrives as an AppendData on the
    * returned table, which [[LakeDmlRule]] runs as one lake write).
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    var bucketProps = Map.empty[String, String]
    val partitionCols = partitions.flatMap {
      case t: org.apache.spark.sql.connector.expressions.IdentityTransform =>
        Some(t.ref.fieldNames.mkString("."))
      case b: org.apache.spark.sql.connector.expressions.BucketTransform =>
        // CLUSTERED BY (cols) INTO n BUCKETS → hash-bucketed layout
        bucketProps = graft.lake.Bucketing.props(
          b.columns.map(_.fieldNames.mkString(".")).toSeq,
          b.numBuckets.value())
        None
      // hidden partitioning — PARTITIONED BY (YEAR(c) / MONTH(c) /
      // DAY(c) / TRUNCATE(n, c)), the Iceberg transform DDL
      // (03.iceberg_primer.py:124)
      case y: org.apache.spark.sql.connector.expressions.YearsTransform =>
        Some(s"year(${y.ref.fieldNames.mkString(".")})")
      case m: org.apache.spark.sql.connector.expressions.MonthsTransform =>
        Some(s"month(${m.ref.fieldNames.mkString(".")})")
      case d: org.apache.spark.sql.connector.expressions.DaysTransform =>
        Some(s"day(${d.ref.fieldNames.mkString(".")})")
      case other =>
        // SQL DDL like PARTITIONED BY (YEAR(c)) reaches the catalog as a
        // generic ApplyTransform (only lowercase years(c) normalizes to
        // YearsTransform) — match by name
        val args = other.arguments()
        val refs = other.references()
        val fn = other.name().toLowerCase
        if (Seq("year", "years", "month", "months", "day", "days")
            .contains(fn) && refs.length == 1)
          Some(s"${fn.stripSuffix("s")}(${refs.head.fieldNames.mkString(".")})")
        else if (fn == "truncate" && args.length == 2 && refs.length == 1)
          args.collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              s"truncate(${l.value()},${refs.head.fieldNames.mkString(".")})"
          }.orElse(throw new UnsupportedOperationException(
            s"unsupported truncate transform shape: $other"))
        else throw new UnsupportedOperationException(
          "lake tables support identity/year/month/day/truncate " +
            s"partitioning and bucketing, got $other")
    }.toSeq
    val props = properties.asScala.toMap -
      (TableCatalog.PROP_OWNER, TableCatalog.PROP_PROVIDER,
        TableCatalog.PROP_LOCATION, TableCatalog.PROP_EXTERNAL)
    LakeTable.createEmpty(tablePath(ident), schema, partitionCols,
      props ++ bucketProps)
    loadTable(ident)
  }

  // ---- function catalog: the V2 `bucket` function SPJ resolves ---------

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))

  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket") GraftFunctions.BUCKET
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  /** SQL `ALTER TABLE lake.db.t ADD COLUMN c TYPE` / `SET TBLPROPERTIES`. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = LakeTable.forPath(spark, tablePath(ident))
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "lake ALTER TABLE supports top-level columns only")
        t.alterAddColumn(add.fieldNames().head, add.dataType().sql)
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          "lake ALTER TABLE supports top-level columns only")
        t.alterRenameColumn(ren.fieldNames().head, ren.newName())
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "lake ALTER TABLE supports top-level columns only")
        t.alterDropColumn(del.fieldNames().head)
      case set: TableChange.SetProperty =>
        t.setProperties(Map(set.property() -> set.value()))
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val path = Paths.get(tablePath(ident))
    if (!LakeTable.isLakeTable(path.toString)) return false
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p))
        graft.util.Fs.listDir(p).foreach(rm)
      Files.deleteIfExists(p)
    }
    rm(path)
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("rename not supported")

  // ---- namespaces = first-level warehouse directories ------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = Paths.get(warehouse)
    if (!Files.isDirectory(root)) return Array.empty
    graft.util.Fs.listDir(root).iterator
      .filter(p => Files.isDirectory(p) && !LakeTable.isLakeTable(p.toString))
      .map(p => Array(p.getFileName.toString))
      .toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!Files.isDirectory(Paths.get((warehouse +: namespace).mkString("/"))))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace.toSeq)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    Files.createDirectories(Paths.get((warehouse +: namespace).mkString("/")))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace properties not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("drop namespace via filesystem")
}
