package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CHECK constraints (Delta's `ALTER TABLE ... ADD CONSTRAINT name
  * CHECK (expr)`): the expression lives in table properties under
  * `graft.constraints.<name>`, so it rides metadata commits,
  * checkpoints, and CONVERT for free, and EVERY write path — Scala
  * appends/DML, SQL INSERT/MERGE, the streaming sink — enforces it at
  * the row level before staging.
  *
  * Standard SQL semantics: a row violates a CHECK only when the
  * expression evaluates to FALSE; NULL (unknown) passes. Enforcement is
  * codegen-friendly: [[enforce]] injects a
  * `when(expr).otherwise(raise_error)` filter into the one write's
  * plan, which every data write goes through.
  */
object Constraints {

  val PREFIX = "graft.constraints."

  def propKey(name: String): String = PREFIX + name

  def of(meta: MetaData): Map[String, String] =
    meta.properties.collect {
      case (k, v) if k.startsWith(PREFIX) => k.stripPrefix(PREFIX) -> v
    }

  /** Constraint expressions parsed for the pruning evaluator
    * ([[Stats.contradictsConstraints]]); unparseable entries are skipped
    * (they then simply don't tighten any bound). Memoized per MetaData —
    * reads and every optimizer fixed-point pass ask repeatedly, and the
    * parse is a pure function of the properties (weak keys let old
    * snapshots' entries collect).
    */
  def parsed(meta: MetaData): Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val cached = parseCache.get(meta)
    if (cached != null) return cached
    val result = of(meta).values.toSeq.flatMap { sql =>
      // CatalystSqlParser yields the actual expression tree (a Column's
      // node is a lazy SQL wrapper the bounds-builder can't inspect)
      try Some(org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(sql))
      catch { case _: Throwable => None }
    }
    parseCache.put(meta, result)
    result
  }

  private val parseCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[MetaData,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression]]())

  /** The write-plan enforcement filter: rows pass through untouched
    * unless a constraint is provably FALSE, which raises with the
    * offending row rendered as JSON. The `where` survives column
    * pruning (a projection-only check could be optimized away).
    */
  def enforce(df: DataFrame, constraints: Map[String, String]): DataFrame =
    constraints.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, sql)) =>
      d.where(
        when(coalesce(expr(sql), lit(true)),
          lit(true))
          .otherwise(raise_error(concat(
            lit(s"""CHECK constraint $name ($sql) violated by row """),
            to_json(struct(d.columns.map(col).toSeq: _*))))))
    }
}
