package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive literal whose generated code reads its value from the
  * compiled class's references instead of writing it into the Java
  * source. Spark's codegen cache is keyed by that source, so a serving
  * read that differs from the last one only in its keys, range bounds,
  * dates or change-feed version reuses the compiled class (and the JIT's
  * work on it) instead of compiling a new one.
  *
  * Prints, and equals another, as the [[Literal]] it replaces (so explain
  * output is unchanged, and a NaN equals itself for plan reuse).
  * Not foldable: nothing downstream may inline it back into the source.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  private def literal: Literal = Literal(value, dataType)
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  override def equals(that: Any): Boolean = that match {
    case p: ParamLiteral => literal == p.literal
    case _ => false
  }
  override def hashCode: Int = literal.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "paramLit",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.variable(field, dataType))
  }
}

object ParamLiteral {
  private def primitive(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && primitive(dt) => ParamLiteral(v, dt)
    case other => other
  }

  /** Rewrites the literal operands of comparisons and IN lists in a
    * filter's condition, and bare literal columns of a projection. Scans
    * (and their pushed filters) and logical plans keep their literals, so
    * engine skipping and parquet pushdown see them as before. */
  object Params extends Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case f: FilterExec => f.copy(condition = f.condition.transformUp {
        case c: BinaryComparison => c.withNewChildren(c.children.map(param))
        case in @ In(_, list) => in.copy(list = list.map(param))
      })
      case p: ProjectExec => p.copy(projectList = p.projectList.map {
        case a @ Alias(l: Literal, _) => a.withNewChildren(Seq(param(l))).asInstanceOf[Alias]
        case other => other
      })
    }
  }

  /** Runs [[Params]] before whole-stage codegen collapses the plan, on the
    * plan of every query and on every adaptive stage. */
  class Columnar extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = Params
  }
}
