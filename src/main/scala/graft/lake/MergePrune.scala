package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, ExprId, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions.{approx_count_distinct, col, collect_set, lit, max, min}
import org.apache.spark.sql.types.StructType

/** Candidate-file pruning for MERGE (the Delta merge-scan trick): a merge
  * whose condition contains `t.k = s.k` conjuncts can only touch target
  * files whose per-file min/max for `k` overlap the SOURCE's observed
  * `[min(s.k), max(s.k)]` — one cheap aggregation over the source buys a
  * stats filter that keeps a 100 TB target's untouched files out of both
  * the prefilter join scan and (on the big-log path) the driver's
  * materialized candidate list entirely.
  *
  * Soundness: only TOP-LEVEL AND conjuncts are used (`cond = A ∧ B ⇒ A`
  * holds for every matched row), rows with a NULL key never satisfy an
  * equi-join conjunct, and unrecognized shapes simply contribute no
  * filter. Pruning is therefore never wrong — only less precise.
  */
private[lake] object MergePrune {

  /** Largest approximate source NDV per equi-key that still earns an
    * IN-list filter (see [[sourceRangeFilters]]). */
  private val InListMaxKeys = 64L

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Strip the implicit cast analysis inserts when join-key types differ;
    * [[equiKeys]] then re-checks that the two NATIVE types share an
    * ordering before the pair may drive a range filter. */
  private def uncast(e: Expression): Expression = e match {
    case Cast(child, _, _, _) => uncast(child)
    case other => other
  }

  /** The source aggregates min/max in ITS column's native ordering and
    * the bounds are re-applied against the TARGET column's stats — only
    * sound when the two orderings agree on the shared value domain:
    * identical types, or numeric↔numeric (Spark compares those by
    * value). A string source key joined to a numeric target would
    * aggregate LEXICOGRAPHIC bounds (min "10" > max "9") and embed them
    * as the numeric range [10, 9] — an empty range that prunes files
    * holding true matches, turning updates into duplicate inserts. */
  private def orderCompatible(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean =
    a == b ||
      (a.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
        b.isInstanceOf[org.apache.spark.sql.types.NumericType])

  /** `(targetColumn, sourceColumn)` pairs implied by every matched row,
    * read off the ANALYZED join condition — sides identified by exprId,
    * so no name guessing and no alias conventions. Pairs whose native
    * types do not share an ordering are dropped (prune nothing on them
    * — sound, just less precise). */
  def equiKeys(
      cond: Expression,
      tgtIds: Set[ExprId],
      srcIds: Set[ExprId]): Seq[(String, String)] =
    conjuncts(cond).flatMap {
      case EqualTo(l, r) =>
        (uncast(l), uncast(r)) match {
          case (a: AttributeReference, b: AttributeReference)
              if orderCompatible(a.dataType, b.dataType) =>
            if (tgtIds.contains(a.exprId) && srcIds.contains(b.exprId))
              Some((a.name, b.name))
            else if (srcIds.contains(a.exprId) && tgtIds.contains(b.exprId))
              Some((b.name, a.name))
            else None
          case _ => None
        }
      case _ => None
    }

  /** Target-side pruning filters from the source's equi-key value ranges:
    * ONE aggregation job over the source, `2 × |keys|` collected scalars.
    *
    *  - `Some(filters)` — conjoin with per-file stats (empty = no usable
    *    equi keys, prune nothing);
    *  - `None` — the source proves NO target row can match (empty source
    *    or an all-NULL join key): the caller can skip the scan outright.
    *
    * The condition is analyzed against an EMPTY frame with the target's
    * schema (no target I/O); keys whose type `lit` cannot re-embed
    * (arrays, structs) are skipped.
    */
  def sourceRangeFilters(
      spark: SparkSession,
      source: DataFrame,
      condition: Column,
      tgtSchema: StructType): Option[Seq[Column]] = {
    val emptyTgt = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], tgtSchema)
    val analyzed = emptyTgt.alias("t")
      .join(source.alias("s"), condition, "inner")
      .queryExecution.analyzed
    val keys = analyzed.collectFirst {
      case j: Join if j.condition.isDefined =>
        equiKeys(j.condition.get,
          j.left.output.map(_.exprId).toSet,
          j.right.output.map(_.exprId).toSet)
    }.getOrElse(Seq.empty)
    if (keys.isEmpty) return Some(Seq.empty)
    val aggs = keys.zipWithIndex.flatMap { case ((_, sk), i) =>
      Seq(min(col(sk)).as(s"__lo$i"), max(col(sk)).as(s"__hi$i"),
        approx_count_distinct(col(sk)).as(s"__ndv$i"))
    }
    val row = source.agg(aggs.head, aggs.tail: _*).head()
    val ranges = keys.zipWithIndex.map { case ((tk, _), i) =>
      (tk, row.get(3 * i), row.get(3 * i + 1))
    }
    // a NULL min/max means the source has no non-null value for that key:
    // the equi-join conjunct can hold for no row at all
    if (ranges.exists { case (_, lo, hi) => lo == null || hi == null }) return None
    val rangeFilters = ranges.flatMap { case (tk, lo, hi) =>
      try Some(col(tk) >= lit(lo) && col(tk) <= lit(hi))
      catch { case scala.util.control.NonFatal(_) => None }
    }
    // Point-merge refinement: a key column with FEW distinct source
    // values (a CDC upsert batch of a handful of ids) additionally emits
    // `t.k IN (values…)` — per-file min/max then prunes each value
    // exactly, and on bloom-indexed tables ([[BloomIndex]]) the IN atom
    // is where the per-file filters prove individual keys absent, the
    // whole reason a point MERGE into an unclustered 100 TB table
    // touches only the files that hold its keys. Per-column IN is a
    // superset of the conjunctive tuple set — sound. Gated by the
    // approximate NDV from the SAME aggregation job (deciding costs no
    // extra pass); COLLECTING the values is deliberately a second,
    // NDV-gated pass rather than an unconditional collect_set in the
    // first job — an unbounded collect_set over a high-NDV key is an
    // executor-OOM risk at scale, and the second scan runs only when a
    // small list is guaranteed to pay for itself by pruning the (much
    // larger) target side per value. The collected set is re-checked
    // against 2× the cap so an approximation error cannot ship an
    // unbounded list.
    val smallKeys = keys.zipWithIndex.collect {
      case ((tk, sk), i) if row.getLong(3 * i + 2) <= InListMaxKeys =>
        (tk, sk)
    }
    val inFilters =
      if (smallKeys.isEmpty) Seq.empty
      else {
        val setRow = source.agg(
          collect_set(col(smallKeys.head._2)),
          smallKeys.tail.map(k => collect_set(col(k._2))): _*).head()
        smallKeys.zipWithIndex.flatMap { case ((tk, _), i) =>
          val vs = setRow.getSeq[Any](i)
          if (vs.isEmpty || vs.size > 2 * InListMaxKeys) None
          else try Some(col(tk).isin(vs: _*))
          catch { case scala.util.control.NonFatal(_) => None }
        }
      }
    Some(rangeFilters ++ inFilters)
  }
}
