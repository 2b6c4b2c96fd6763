package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String

/** Registers the engine's native expressions as SQL functions so they
  * compose inside plain SQL text (SURVEY §4 extension hook):
  *
  *   SELECT simhash64(hs), dot_product_d(a, b),
  *          from_confluent_avro(value, '<schema json>') ...
  *
  * Usable either per-session via [[GraftExtensions.register]] or as a
  * `spark.sql.extensions` class.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.simhashDesc)
    e.injectFunction(GraftExtensions.dotDesc)
    e.injectFunction(GraftExtensions.avroDesc)
    e.injectTableFunction(GraftExtensions.tableChangesDesc)
    e.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
    e.injectResolutionRule(session => new LakeCdfReadRule(session))
    e.injectPostHocResolutionRule(session => new LakeDmlRule(session))
    // metadata-only aggregates must see the raw relation, so they run
    // before the DV substitution (which they bail to when stats can't
    // prove the answer)
    e.injectPostHocResolutionRule(session => new LakeMetadataAggRule(session))
    e.injectPostHocResolutionRule(session => new LakeDvReadRule(session))
    e.injectOptimizerRule(session => new LakeConstraintPruneRule(session))
    e.injectCheckRule(session => new BucketMismatchGuard(session))
    e.injectColumnar(_ => new ParamLiteral.Columnar)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0", "", "scala_udf")

  private[graft] val simhashDesc =
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(array<long>) - one-pass 64-bit simhash"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head))

  private[graft] val dotDesc =
    (FunctionIdentifier("dot_product_d"),
      info("dot_product_d", "dot_product_d(array<double>, array<double>) - native dot product"),
      (exprs: Seq[Expression]) => DotProductDouble(exprs.head, exprs(1)))

  private[graft] val avroDesc =
    (FunctionIdentifier("from_confluent_avro"),
      info("from_confluent_avro",
        "from_confluent_avro(binary, schemaJson) - Confluent-framed avro to JSON string"),
      (exprs: Seq[Expression]) => {
        val schema = exprs(1) match {
          case Literal(s: UTF8String, _) => s.toString
          case other => throw new IllegalArgumentException(
            s"from_confluent_avro: schema must be a string literal, got $other")
        }
        ConfluentAvroToJson(exprs.head, schema)
      })

  /** `table_changes('lake.db.t' | '/path', startVersion[, endVersion])`
    * — the change data feed as a SQL table-valued function (Delta's CDF
    * surface). Dotted names resolve through the named catalog's
    * warehouse; anything else is a table path.
    */
  private[graft] val tableChangesDesc =
    (FunctionIdentifier("table_changes"),
      info("table_changes",
        "table_changes(table, startVersion[, endVersion]) - row-level change feed"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2 || exprs.size == 3,
          s"table_changes expects (table, startVersion[, endVersion]), got ${exprs.size} args")
        val spark = SparkSession.active
        def str(e: Expression): String = e match {
          case Literal(s: UTF8String, _) => s.toString
          case other => throw new IllegalArgumentException(
            s"table_changes: table must be a string literal, got $other")
        }
        def lng(e: Expression): Long = e match {
          case l: Literal => l.value.asInstanceOf[Number].longValue()
          case other => throw new IllegalArgumentException(
            s"table_changes: version must be an integer literal, got $other")
        }
        val path = resolveTablePath(spark, str(exprs.head))
        graft.lake.LakeTable.forPath(spark, path)
          .tableChanges(lng(exprs(1)), exprs.drop(2).headOption.map(lng))
          .queryExecution.analyzed
      })

  /** A lake-table path from a TVF argument: a literal path wins; a
    * dotted `cat.db.t` resolves against `spark.sql.catalog.cat.warehouse`. */
  private[graft] def resolveTablePath(spark: SparkSession, s: String): String = {
    if (graft.lake.LakeTable.isLakeTable(s)) return s
    val parts = s.split('.')
    if (parts.length >= 2) {
      val wh = spark.conf.getOption(s"spark.sql.catalog.${parts.head}.warehouse")
      wh.map(w => (w +: parts.tail).mkString("/"))
        .filter(graft.lake.LakeTable.isLakeTable)
        .getOrElse(throw new IllegalArgumentException(s"not a lake table: $s"))
    } else throw new IllegalArgumentException(s"not a lake table: $s")
  }

  /** Runtime registration on an existing session — keep in lockstep with
    * the extensions `apply` (scalar functions AND the table_changes TVF;
    * the parser/resolution rules need session construction and only come
    * via `spark.sql.extensions`). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Seq(simhashDesc, dotDesc, avroDesc).foreach { case (ident, inf, builder) =>
      registry.registerFunction(ident, inf, builder)
    }
    val (tvfIdent, tvfInfo, tvfBuilder) = tableChangesDesc
    spark.sessionState.tableFunctionRegistry
      .registerFunction(tvfIdent, tvfInfo, tvfBuilder)
  }
}
