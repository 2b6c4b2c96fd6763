package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iceberg-style HIDDEN PARTITIONING (the `PARTITIONED BY
  * (YEAR(fecha_ingreso))` of the reference's Iceberg primer,
  * 03.iceberg_primer.py:124): a partition spec entry is either a plain
  * column name (identity — hive layout, column elided from the data
  * files) or a TRANSFORM of a source column. Transform entries lay out
  * under a synthetic `__pt_<fn><arg>_<col>=value` directory; the source
  * column STAYS in the data files (so reads never reconstruct it) and
  * the recorded per-file value yields a source-column range for data
  * skipping even when footer stats are absent.
  *
  * Supported transforms: `year(c)` / `month(c)` / `day(c)` over
  * date/timestamp columns, `truncate(n,c)` over integral (value floored
  * to a multiple of n) and string (n-char prefix) columns.
  */
object PartitionTransforms {

  sealed trait Field { def spec: String }
  /** Plain hive partitioning on `col` (elided from data files). */
  final case class Identity(col: String) extends Field { def spec: String = col }
  /** `fn(col)` / `fn(arg,col)` — hidden partitioning. */
  final case class Transform(fn: String, arg: Option[Int], col: String)
      extends Field {
    def spec: String = arg match {
      case Some(n) => s"$fn($n,$col)"
      case None => s"$fn($col)"
    }
    /** The synthetic partition-directory column name; also the key the
      * file's partitionValues records. Self-describing: `parseDirKey`
      * recovers (fn, arg, col) from it with no spec in hand, so
      * old-generation files keep transform pruning after further spec
      * evolution. */
    def dirName: String = s"${DIR_PREFIX}$fn${arg.getOrElse("")}_$col"
  }

  val DIR_PREFIX = "__pt_"

  private val TransformRe = """(\w+)\s*\(\s*(?:(\d+)\s*,\s*)?([^)]+?)\s*\)""".r
  private val fns = Set("year", "month", "day", "truncate")

  /** Parse a partition-spec entry. Anything that is not `fn(...)` with a
    * recognized fn is an identity column name. */
  def parse(entry: String): Field = entry.trim match {
    case TransformRe(fn, arg, c) if fns.contains(fn.toLowerCase) =>
      Transform(fn.toLowerCase, Option(arg).map(_.toInt), c.trim)
    case other => Identity(other)
  }

  def parseAll(spec: Seq[String]): Seq[Field] = spec.map(parse)

  def transforms(spec: Seq[String]): Seq[Transform] =
    parseAll(spec).collect { case t: Transform => t }

  /** Recover the transform from a file's recorded partition-value key. */
  def parseDirKey(key: String): Option[Transform] =
    if (!key.startsWith(DIR_PREFIX)) None
    else {
      val rest = key.drop(DIR_PREFIX.length)
      val us = rest.indexOf('_')
      if (us <= 0) None
      else {
        val head = rest.take(us) // fn + optional digits, e.g. "truncate4"
        val c = rest.drop(us + 1)
        val fn = head.takeWhile(!_.isDigit)
        val arg = head.drop(fn.length)
        if (!fns.contains(fn) || c.isEmpty) None
        else Some(Transform(fn, if (arg.isEmpty) None else arg.toIntOption, c))
      }
    }

  /** Validate a spec against a schema: sources exist, types fit the
    * transform, no duplicate entries. */
  def validate(spec: Seq[String], schema: StructType): Unit = {
    require(spec.distinct.size == spec.size, "duplicate partition columns")
    parseAll(spec).foreach {
      case Identity(c) =>
        require(schema.fieldNames.contains(c), s"no such column(s): $c")
      case t @ Transform(fn, arg, c) =>
        require(schema.fieldNames.contains(c), s"no such column(s): $c")
        val dt = schema(c).dataType
        fn match {
          case "year" | "month" | "day" =>
            require(dt == DateType || dt == TimestampType || dt == TimestampNTZType,
              s"${t.spec}: $fn needs a date/timestamp column, got $dt")
            require(arg.isEmpty, s"${t.spec}: $fn takes no width argument")
          case "truncate" =>
            require(arg.exists(_ > 0), s"${t.spec}: truncate needs a width > 0")
            require(Seq(StringType, ByteType, ShortType, IntegerType,
              LongType).contains(dt),
              s"${t.spec}: truncate needs a string or integral column, got $dt")
        }
    }
  }

  /** Layout-clustering columns for a spec: identity entries cluster by
    * the column itself, transform entries by the derived value. */
  def layoutColumns(spec: Seq[String], schema: StructType): Seq[Column] =
    parseAll(spec).map {
      case Identity(c) => col(c)
      case t: Transform => column(t, schema(t.col).dataType)
    }

  /** The derived DataFrame column the writer partitions by (the value
    * that becomes the directory name). Deterministic string/int
    * renderings — [[sourceRange]] inverts them for skipping.
    *
    * Year/month/day are pinned to UTC: the date_format/year DSL
    * functions render timestamps in the SESSION timezone, so a non-UTC
    * session would route a row into one month directory while
    * [[sourceRange]] claims the file's rows lie in that month's UTC
    * range — files whose queried rows fall outside the claimed range
    * would get skipped. */
  def column(t: Transform, dt: DataType): Column = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.graft.Bridge
    val attr = Bridge.expr(col(t.col))
    val utc = Some("UTC")
    Bridge.column(t.fn match {
      case "year" => Year(Cast(attr, DateType, utc))
      case "month" => DateFormatClass(attr, Literal("yyyy-MM"), utc)
      case "day" => DateFormatClass(attr, Literal("yyyy-MM-dd"), utc)
      case "truncate" => dt match {
        case StringType => Substring(attr, Literal(1), Literal(t.arg.get))
        case _ =>
          val n = Literal(t.arg.get.toLong)
          Subtract(Cast(attr, LongType), Pmod(Cast(attr, LongType), n))
      }
    })
  }

  /** The SOURCE-column range implied by a file's recorded transform
    * value, in the same comparison space the stats evaluator uses
    * (numbers as BigDecimal — dates in epoch DAYS, timestamps in epoch
    * MICROS — strings lexicographic with an EXCLUSIVE upper prefix
    * bound). Conservative: None when the value cannot be interpreted.
    *
    * Returned as (lo, hi, hiExclusive).
    */
  def sourceRange(t: Transform, value: String, dt: DataType)
      : Option[(Either[BigDecimal, String], Either[BigDecimal, String], Boolean)] = {
    import java.time.LocalDate
    def dateRange(lo: LocalDate, hiExcl: LocalDate) = dt match {
      case DateType => Some((
        scala.Left(BigDecimal(lo.toEpochDay)),
        scala.Left(BigDecimal(hiExcl.toEpochDay - 1)), false))
      case TimestampType | TimestampNTZType => Some((
        scala.Left(BigDecimal(lo.toEpochDay) * 86400000000L),
        scala.Left(BigDecimal(hiExcl.toEpochDay) * 86400000000L), true))
      case _ => None
    }
    try t.fn match {
      case "year" =>
        val y = value.toInt
        dateRange(LocalDate.of(y, 1, 1), LocalDate.of(y + 1, 1, 1))
      case "month" =>
        val Array(y, m) = value.split("-").map(_.toInt)
        dateRange(LocalDate.of(y, m, 1), LocalDate.of(y, m, 1).plusMonths(1))
      case "day" =>
        val d = LocalDate.parse(value)
        dateRange(d, d.plusDays(1))
      case "truncate" => dt match {
        case StringType =>
          // all rows share the prefix: [prefix, prefixSuccessor) — when no
          // successor exists (all U+FFFF) there is no usable upper bound
          prefixSuccessor(value).map(s => (scala.Right(value), scala.Right(s), true))
        case ByteType | ShortType | IntegerType | LongType =>
          val w = BigDecimal(value)
          Some((scala.Left(w), scala.Left(w + t.arg.get - 1), false))
        case _ => None
      }
      case _ => None
    } catch { case _: RuntimeException => None }
  }

  /** Smallest string greater than every string with prefix `p`. */
  private[lake] def prefixSuccessor(p: String): Option[String] = {
    val trimmed = p.reverse.dropWhile(_ == '￿').reverse
    if (trimmed.isEmpty) None
    else Some(trimmed.init + (trimmed.last + 1).toChar)
  }

  /** Split a partition-spec list on TOP-LEVEL commas only, so
    * `truncate(4,name), year(ts)` parses as two entries. */
  def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case ch => cur.append(ch)
    }
    if (cur.nonEmpty) out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }
}
