package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, ExprId, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{BooleanType, LongType}

import graft.lake.{Bucketing, LakeTable, PartitionTransforms, WriteMode}

/** SQL-statement writes on lake tables (VERDICT.md round-1 #1): a
  * post-hoc resolution rule converts analyzed `DELETE FROM` / `UPDATE` /
  * `MERGE INTO` and the V2 writes (`INSERT INTO`, `INSERT OVERWRITE`,
  * CTAS's data write, `df.writeTo`) on a [[LakeV2Table]] into runnable
  * commands that call the engine's own `graft.lake.LakeTable.delete/
  * update/merge/write`. Same pattern Delta uses publicly (DeltaAnalysis →
  * Delta command nodes); fires BEFORE Spark's row-level-operation
  * rewrites, which would otherwise reject the table for not implementing
  * SupportsRowLevelOperations, and before the write-capability check.
  *
  * Reference scenarios covered: `%sql MERGE INTO / UPDATE / DELETE FROM`
  * (`02.delta_lake_primer.py:215-320`, `03.iceberg_primer.py:183-215`).
  */
class LakeDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  import LakeDmlRule._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    case d: DeleteFromTable if d.table.resolved && d.condition.resolved =>
      LakeRel.unapply(d.table) match {
        case Some(t) => RunLakeDelete(t.lake, unresolve(d.condition, Map.empty))
        case None => d
      }
    case u: UpdateTable if u.table.resolved &&
        u.assignments.forall(_.resolved) && u.condition.forall(_.resolved) =>
      LakeRel.unapply(u.table) match {
        case Some(t) =>
          val set = u.assignments.map(a =>
            assignName(a.key) -> unresolve(a.value, Map.empty)).toMap
          RunLakeUpdate(t.lake,
            u.condition.map(unresolve(_, Map.empty)).getOrElse(lit(true)), set)
        case None => u
      }
    case m: MergeIntoTable if m.targetTable.resolved && m.sourceTable.resolved =>
      LakeRel.unapply(m.targetTable) match {
        case Some(t) => convertMerge(t, m)
        case None => m
      }
    case w: V2WriteCommand if w.resolved =>
      (LakeRel.unapply(w.table), writeMode(w)) match {
        case (Some(t), Some(mode)) => RunLakeWrite(t.lake, w.query, mode)
        case _ => w
      }
  }

  private def writeMode(w: V2WriteCommand): Option[WriteMode] = w match {
    case _: AppendData => Some(WriteMode.Append)
    case o: OverwriteByExpression => Some(o.deleteExpr match {
      case Literal(true, BooleanType) => WriteMode.Overwrite
      case e => WriteMode.OverwriteWhere(unresolve(e, Map.empty))
    })
    case _: OverwritePartitionsDynamic => Some(WriteMode.OverwritePartitions)
    case _ => None
  }

  private def convertMerge(t: LakeV2Table, m: MergeIntoTable): LogicalPlan = {
    // qualify target attrs as `t.*`, source attrs as `s.*` for
    // LakeTable.merge's aliased full-outer join
    val quals: Map[ExprId, String] =
      m.targetTable.output.map(_.exprId -> "t").toMap ++
        m.sourceTable.output.map(_.exprId -> "s").toMap
    def conv(e: Expression): Column = unresolve(e, quals)

    def clause(a: MergeAction): graft.lake.MergeClause = a match {
      case u: UpdateAction =>
        graft.lake.MergeClause.Update(u.condition.map(conv),
          u.assignments.map(x => assignName(x.key) -> conv(x.value)).toMap)
      case u: UpdateStarAction =>
        graft.lake.MergeClause.Update(u.condition.map(conv), Map.empty)
      case d: DeleteAction =>
        graft.lake.MergeClause.Delete(d.condition.map(conv))
      case i: InsertAction =>
        graft.lake.MergeClause.Insert(i.condition.map(conv),
          i.assignments.map(x => assignName(x.key) -> conv(x.value)).toMap)
      case i: InsertStarAction =>
        graft.lake.MergeClause.Insert(i.condition.map(conv), Map.empty)
      case other => throw new UnsupportedOperationException(
        s"lake MERGE: unsupported clause $other")
    }

    RunLakeMerge(t.lake, m.sourceTable, conv(m.mergeCondition),
      m.matchedActions.map(clause),
      m.notMatchedActions.map(clause).map(_.asInstanceOf[graft.lake.MergeClause.Insert]),
      m.notMatchedBySourceActions.map(clause),
      schemaEvolution = m.withSchemaEvolution)
  }
}

object LakeDmlRule {

  /** The lake relation beneath optional aliases. */
  object LakeRel {
    def unapply(plan: LogicalPlan): Option[LakeV2Table] = plan match {
      case SubqueryAlias(_, child) => unapply(child)
      case r: DataSourceV2Relation => r.table match {
        case t: LakeV2Table => Some(t)
        case _ => None
      }
      case _ => None
    }
  }

  /** Resolved attribute refs carry exprIds from the DML plan; the Scala
    * API re-resolves Columns against its own DataFrames, so demote them
    * back to (optionally qualified) names.
    */
  private[graft] def unresolve(e: Expression, quals: Map[ExprId, String]): Column =
    Bridge.column(e.transform {
      case a: AttributeReference => quals.get(a.exprId) match {
        case Some(q) => UnresolvedAttribute(Seq(q, a.name))
        case None => UnresolvedAttribute(Seq(a.name))
      }
    })

  private[graft] def assignName(key: Expression): String = key match {
    case a: AttributeReference => a.name
    case u: UnresolvedAttribute => u.nameParts.last
    case other => throw new UnsupportedOperationException(
      s"lake DML supports top-level column assignments only, got $other")
  }
}

/** SQL reads of tables with live deletion vectors — or files spanning
  * multiple partition specs (partition-spec evolution): the pinned
  * parquet scan cannot apply bitmap filters, and it can only infer ONE
  * directory layout (other generations' elided columns would read as
  * null). Substitute the engine's own read plan (per-generation scans,
  * clean ∪ dv-filtered) aliased back to the relation's exprIds. Write targets are unaffected — V2 write commands
  * hold their table outside the transformed child tree, and DML nodes
  * were already converted by [[LakeDmlRule]] (injected before this).
  */
class LakeDvReadRule(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown {
      case r: DataSourceV2Relation =>
        r.table match {
          case t: LakeV2Table if t.hasDvs || t.hasMixedPartitionSpecs =>
            val read = t.lake.toDF.queryExecution.analyzed
            Project(read.output.zip(r.output).map { case (a, o) =>
              org.apache.spark.sql.catalyst.expressions.Alias(a, o.name)(
                exprId = o.exprId)
            }, read)
          case _ => r
        }
    }
}

/** Change-feed and streaming reads of a [[LakeV2Table]].
  *
  * Batch change-feed reads through reader options (Delta's
  * `spark.read.option("readChangeFeed","true").table("lake.db.t")`, and
  * the path form `spark.read.format(provider)`): swaps the relation for
  * the [[graft.lake.LakeTable.tableChanges]] plan DURING resolution —
  * the plan above is still unresolved at that point, so `_change_type` /
  * `_commit_version` / `_commit_timestamp` resolve against the
  * substituted schema on the analyzer's next fixed-point pass. The SQL
  * `table_changes` TVF shares the same replay. Options:
  * `startingVersion` (default 0) or `startingTimestamp` (epoch millis or
  * `yyyy-mm-dd hh:mm:ss[.f...]`), and an optional `endingVersion`.
  *
  * Streams of a catalog table (`spark.readStream.table(...)`, plain or
  * with `readChangeFeed`) become the path provider's V1 source
  * ([[LakeSource]]), so they read what batch reads; `startingTimestamp`
  * resolves to its version here. A plain stream keeps the relation's
  * output attributes; a change-feed stream's output is the change-feed
  * schema.
  */
class LakeCdfReadRule(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
  import org.apache.spark.sql.execution.datasources.DataSource
  import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation

  private def millis(ts: String): Long =
    ts.toLongOption.getOrElse(java.sql.Timestamp.valueOf(ts).getTime)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown {
      case r: StreamingRelationV2 if r.table.isInstanceOf[LakeV2Table] =>
        val t = r.table.asInstanceOf[LakeV2Table]
        val options = r.extraOptions.asCaseSensitiveMap.asScala.toMap ++
          Option(r.extraOptions.get("startingTimestamp")).map(ts =>
            "startingVersion" -> t.lake.log.versionAtTimestamp(millis(ts)).toString) +
          ("path" -> t.lake.path)
        val source = DataSource(session, classOf[LakeSourceProvider].getName,
          options = options)
        if (Option(r.extraOptions.get("readChangeFeed")).exists(_.toBoolean))
          StreamingRelation(source)
        else StreamingRelation(source, r.sourceName, r.output)

      case r: DataSourceV2Relation
          if r.table.isInstanceOf[LakeV2Table] &&
            Option(r.options.get("readChangeFeed")).exists(_.toBoolean) =>
        val t = r.table.asInstanceOf[LakeV2Table]
        def opt(k: String) = Option(r.options.get(k))
        require(opt("startingVersion").isEmpty || opt("startingTimestamp").isEmpty,
          "readChangeFeed: set startingVersion OR startingTimestamp, not both")
        val changes = opt("startingTimestamp") match {
          case Some(ts) =>
            require(opt("endingVersion").isEmpty,
              "readChangeFeed: endingVersion composes with startingVersion only")
            t.lake.tableChangesFrom(millis(ts))
          case None =>
            t.lake.tableChanges(
              opt("startingVersion").map(_.toLong).getOrElse(0L),
              opt("endingVersion").map(_.toLong))
        }
        changes.queryExecution.analyzed
    }
}

/** An analyzed V2 write as one [[LakeTable.write]]. The query's output
  * already carries the table's column names and types.
  */
case class RunLakeWrite(
    @transient lake: LakeTable,
    @transient query: LogicalPlan,
    mode: WriteMode) extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val df = org.apache.spark.sql.classic.Dataset.ofRows(
      sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], query)
    lake.write(RunLakeWrite.clustered(lake, df), mode)
    Seq.empty
  }
}

object RunLakeWrite {
  /** `df`'s rows clustered by `lake`'s partition layout, so a wide SQL
    * insert or streaming epoch writes one file per partition value
    * instead of one per task and value. A bucketed table's write routes
    * rows by bucket itself; a flat table's rows stay where they are.
    */
  private[graft] def clustered(lake: LakeTable, df: DataFrame): DataFrame = {
    val snap = lake.snapshot
    val pcs = snap.metaData.partitionColumns
    if (pcs.isEmpty || Bucketing.specOf(snap.metaData).isDefined) df
    else df.repartition(PartitionTransforms.layoutColumns(pcs, snap.schema): _*)
  }
}

case class RunLakeDelete(
    @transient lake: LakeTable, cond: Column) extends LeafRunnableCommand {
  override val output: Seq[AttributeReference] =
    Seq(AttributeReference("num_affected_rows", LongType)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    Seq(Row(lake.delete(cond)))
}

case class RunLakeUpdate(
    @transient lake: LakeTable, cond: Column,
    set: Map[String, Column]) extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    lake.update(cond, set)
    Seq.empty
  }
}

case class RunLakeMerge(
    @transient lake: LakeTable,
    @transient sourcePlan: LogicalPlan,
    condition: Column,
    matchedClauses: Seq[graft.lake.MergeClause],
    notMatchedClauses: Seq[graft.lake.MergeClause.Insert],
    notMatchedBySourceClauses: Seq[graft.lake.MergeClause],
    schemaEvolution: Boolean = false) extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val source = org.apache.spark.sql.classic.Dataset.ofRows(
      sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], sourcePlan)
    lake.mergeClauses(source, condition, matchedClauses, notMatchedClauses,
      notMatchedBySourceClauses, schemaEvolution = schemaEvolution)
    Seq.empty
  }
}
