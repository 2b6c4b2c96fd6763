package graft.lake

import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDate, LocalDateTime}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, Literal, NamedExpression}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParamLiteral
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** DIFFERENTIAL spec for [[ParamLiteral]]: a filter over every primitive
  * type, with the comparison, BETWEEN and IN shapes a serving read
  * takes, returns the rows a Scala model picks, through
  * `LakeTable.read(...)` and through catalog SQL, compiled and
  * interpreted; a second run of a shape with new literals compiles no
  * class (an IN list of more than 10 values excepted: the optimizer makes
  * it an INSET, which the rule leaves as it is); and the executed plan
  * prints its literals as a [[Literal]] would.
  */
class ParamLiteralSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark = TestSpark.session

  /** One column: its type, the values the table holds (a float column
    * holds both zeros: see the pending test at the end), and literals
    * that no row holds (inside the held range, at least 24 of them, so
    * two disjoint 12-value IN lists fit). */
  private case class Typed(name: String, dt: DataType, held: Seq[Any], other: Seq[Any])

  private def days(s: String) = LocalDate.parse(s)
  private def inst(s: String) = Instant.parse(s)
  private def ntz(s: String) = LocalDateTime.parse(s)
  private val steps = -12 to 12

  private val types = Seq(
    Typed("b", BooleanType, Seq(true, false), Seq.empty),
    Typed("y", ByteType, Seq[Byte](Byte.MinValue, -1, 0, 1, 7, Byte.MaxValue),
      steps.map(i => (i * 5 + 2).toByte)),
    Typed("s", ShortType, Seq[Short](Short.MinValue, -300, 0, 5, 300, Short.MaxValue),
      steps.map(i => (i * 2011).toShort)),
    Typed("i", IntegerType, Seq(Int.MinValue, -70000, -1, 0, 42, 70000, Int.MaxValue),
      steps.map(_ * 100003)),
    Typed("l", LongType,
      Seq(Long.MinValue, -5000000000000L, -1L, 0L, 1L, 9000000000000000L, Long.MaxValue),
      steps.map(_ * 1000000007L)),
    Typed("f", FloatType,
      Seq(Float.NegativeInfinity, -2.5f, -0.0f, 0.0f, 1.5f, 3.25f, Float.PositiveInfinity,
        Float.NaN),
      steps.map(_ * 0.75f + 0.125f)),
    Typed("d", DoubleType,
      Seq(Double.NegativeInfinity, -2.5, -0.0, 0.0, 1.5, 3.25, Double.PositiveInfinity,
        Double.NaN),
      steps.map(_ * 1.0e300 + 0.5)),
    Typed("dt", DateType,
      Seq(days("1900-01-01"), days("1969-12-31"), days("1970-01-01"), days("2000-02-29"),
        days("2024-06-30")),
      steps.map(i => days("1960-03-01").plusDays(i * 1999L))),
    Typed("ts", TimestampType,
      Seq(inst("1901-03-04T05:06:07.123456Z"), inst("1969-12-31T23:59:59.999999Z"),
        inst("1970-01-01T00:00:00Z"), inst("2024-02-29T12:00:00.5Z")),
      steps.map(i => inst("1960-03-01T10:20:30.000001Z").plusSeconds(i * 160000007L))),
    Typed("tn", TimestampNTZType,
      Seq(ntz("1901-03-04T05:06:07.123456"), ntz("1969-12-31T23:59:59.999999"),
        ntz("1970-01-01T00:00:00"), ntz("2024-02-29T12:00:00.5")),
      steps.map(i => ntz("1960-03-01T10:20:30.000001").plusSeconds(i * 160000007L))))

  /** SQL order: NaN is the largest value and equals itself; -0.0 = 0.0. */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Float, y: Float) => cmp(x.toDouble, y.toDouble)
    case (x: Double, y: Double) =>
      if (x.isNaN) { if (y.isNaN) 0 else 1 }
      else if (y.isNaN) -1
      else if (x == y) 0
      else if (x < y) -1 else 1
    case (x: Boolean, y: Boolean) => x.compare(y)
    case (x: Byte, y: Byte) => x.compare(y)
    case (x: Short, y: Short) => x.compare(y)
    case (x: Int, y: Int) => x.compare(y)
    case (x: Long, y: Long) => x.compare(y)
    case (x: LocalDate, y: LocalDate) => x.compareTo(y)
    case (x: Instant, y: Instant) => x.compareTo(y)
    case (x: LocalDateTime, y: LocalDateTime) => x.compareTo(y)
  }

  private val nRows = 64
  /** Row `id`'s value of column `t`: cycles through the held values and
    * a null, one cycle length per type. */
  private def cell(t: Typed, id: Int): Any = {
    val k = id % (t.held.size + 1)
    if (k == t.held.size) null else t.held(k)
  }

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("param-lit-wh-").toString
    Files.createDirectories(Paths.get(s"$w/db"))
    val schema = StructType(StructField("id", IntegerType, nullable = false) +:
      types.map(t => StructField(t.name, t.dt)))
    val rows = (0 until nRows).map(id => Row.fromSeq(id +: types.map(cell(_, id))))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
    LakeTable.create(spark, s"$w/db/t", df)
    w
  }

  /** One filter shape over a column, with its literals. */
  private sealed trait Shape {
    def literals: Seq[Any]
    def model(v: Any): Boolean
    def column(c: Column): Column
    def sql(c: String): String
  }
  private case class Cmp(op: String, lit: Any) extends Shape {
    def literals: Seq[Any] = Seq(lit)
    def model(v: Any): Boolean = v != null && {
      val c = cmp(v, lit)
      op match {
        case "=" | "<=>" => c == 0
        case "<" => c < 0
        case "<=" => c <= 0
        case ">" => c > 0
        case ">=" => c >= 0
      }
    }
    def column(c: Column): Column = op match {
      case "=" => c === lit
      case "<=>" => c <=> lit
      case "<" => c < lit
      case "<=" => c <= lit
      case ">" => c > lit
      case ">=" => c >= lit
    }
    def sql(c: String): String = s"$c $op ${sqlLit(lit)}"
  }
  private case class Between(lo: Any, hi: Any) extends Shape {
    def literals: Seq[Any] = Seq(lo, hi)
    def model(v: Any): Boolean = v != null && cmp(v, lo) >= 0 && cmp(v, hi) <= 0
    def column(c: Column): Column = c.between(lo, hi)
    def sql(c: String): String = s"$c BETWEEN ${sqlLit(lo)} AND ${sqlLit(hi)}"
  }
  private case class InList(lits: Seq[Any]) extends Shape {
    def literals: Seq[Any] = lits
    def model(v: Any): Boolean = v != null && lits.exists(cmp(v, _) == 0)
    def column(c: Column): Column = c.isin(lits: _*)
    def sql(c: String): String = s"$c IN (${lits.map(sqlLit).mkString(", ")})"
  }

  private def sqlLit(v: Any): String = Literal.create(v).sql

  /** The filter shapes over a column: each comparison, BETWEEN, and IN
    * lists of 1 to 12 values (the optimizer drops repeated IN values, so
    * a boolean list has at most 2). */
  private def kinds(t: Typed): Seq[String] =
    Seq("=", "<=>", "<", "<=", ">", ">=", "BETWEEN") ++
      (1 to (if (t.dt == BooleanType) 2 else 12)).map(k => s"IN/$k")

  /** A shape of `kind` with literals drawn from `pool`, distinct under
    * [[cmp]] and, as far as the pool allows, none of them in `avoid`. */
  private def draw(kind: String, pool: Seq[Any], rnd: scala.util.Random,
      avoid: Seq[Any] = Nil): Shape = {
    val (fresh, used) = rnd.shuffle(pool).partition(v => !avoid.exists(cmp(_, v) == 0))
    val vals = (fresh ++ used).foldLeft(Vector.empty[Any]) { (acc, v) =>
      if (acc.exists(cmp(_, v) == 0)) acc else acc :+ v
    }
    kind match {
      case "BETWEEN" =>
        val (a, b) = (vals(0), vals(1))
        if (cmp(a, b) <= 0) Between(a, b) else Between(b, a)
      case in if in.startsWith("IN/") => InList(vals.take(in.drop(3).toInt))
      case op => Cmp(op, vals(0))
    }
  }

  /** Literals strictly inside the held range and not NaN: engine
    * skipping keeps the table's one file for every shape over them, so
    * two draws differ only in their literals. */
  private def interior(t: Typed): Seq[Any] = {
    if (t.dt == BooleanType) return t.held
    val ordered = t.held.filterNot(isNaN).sortWith(cmp(_, _) < 0)
    (t.held ++ t.other).filter(v => !isNaN(v) &&
      cmp(ordered.head, v) < 0 && cmp(v, ordered.last) < 0)
  }

  private def isNaN(v: Any): Boolean = v match {
    case f: Float => f.isNaN
    case d: Double => d.isNaN
    case _ => false
  }

  private def expected(t: Typed, s: Shape): Set[Int] =
    (0 until nRows).filter(id => s.model(cell(t, id))).toSet

  private def table = LakeTable.forPath(spark, s"$warehouse/db/t")

  private def viaRead(t: Typed, s: Shape): DataFrame =
    table.read(s.column(col(t.name))).select("id")
  private def viaSql(t: Typed, s: Shape): DataFrame =
    spark.sql(s"SELECT id FROM plit.db.t WHERE ${s.sql(t.name)}")

  private def ids(df: DataFrame): Set[Int] = df.collect().map(_.getInt(0)).toSet

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def unparam(e: Expression): Expression = e.transform {
    case p: ParamLiteral => Literal(p.value, p.dataType)
  }

  private def primitiveLiteral(e: Expression): Boolean = e match {
    case Literal(v, dt) => v != null && (dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    })
    case _ => false
  }

  /** No comparison or IN list in the executed plan's filters keeps a
    * primitive [[Literal]]; each [[ParamLiteral]] prints exactly as the
    * literal it replaced; and (unless the optimizer folded every literal
    * away, as it does `b = true` into `b`) the plan holds one. */
  private def checkPlan(df: DataFrame, label: String, expectParam: Boolean = true): Unit = {
    val plan = df.queryExecution.executedPlan
    val text = plan.toString
    assert(!text.contains("ParamLiteral"), s"$label: $text")
    val nodes: Seq[SparkPlan] = collectWithSubqueries(plan) {
      case f: FilterExec => f
      case p: ProjectExec => p
    }
    def params(n: SparkPlan) = n.expressions.exists(_.exists(_.isInstanceOf[ParamLiteral]))
    if (expectParam) assert(nodes.exists(params), s"$label: no parameterized literal in\n$text")
    nodes.foreach {
      case f: FilterExec =>
        f.condition.foreach {
          case c: BinaryComparison =>
            assert(!c.children.exists(primitiveLiteral), s"$label: $c")
          case In(_, list) => assert(!list.exists(primitiveLiteral), s"$label: $f")
          case _ =>
        }
        assert(f.toString === f.copy(condition = unparam(f.condition)).toString, label)
        assert(f.condition.sql === unparam(f.condition).sql, label)
      case p: ProjectExec =>
        val plain = p.copy(projectList = p.projectList.map(unparam(_).asInstanceOf[NamedExpression]))
        assert(p.toString === plain.toString, label)
    }
  }

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  types.foreach { t =>
    test(s"${t.dt.simpleString}: filters match the model, compiled and interpreted; " +
        "new literals compile nothing") {
      TestSpark.withCatalog("plit", warehouse) {
        val rnd = new scala.util.Random(t.name.hashCode)
        val (pool, inside) = (t.held ++ t.other, interior(t))
        LakeLog.awaitMaintenance()
        kinds(t).foreach { kind =>
          val l = s"${t.name} $kind"
          // the optimizer folds a boolean compared with a literal into the
          // column itself, and makes an IN list of more than 10 values an
          // INSET (for a byte, short, int or date column, a switch over its
          // values in the generated code): neither leaves a literal to
          // parameterize
          val inSet = kind.startsWith("IN/") && kind.drop(3).toInt > 10
          val expectParam = t.dt != BooleanType && !inSet
          def check(s: Shape, df: DataFrame, surface: String): Unit =
            assert(ids(df) === expected(t, s), s"$l $surface $s")
          // any literals: extremes, NaN, ±Infinity and values no file holds
          val any = draw(kind, pool, rnd)
          check(any, viaRead(t, any), "read")
          check(any, viaSql(t, any), "sql")
          // interpreted: no whole-stage codegen and no generated predicates
          // or projections, so ParamLiteral.eval answers
          withConfs("spark.sql.codegen.wholeStage" -> "false",
              "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
            val (r, q) = (viaRead(t, any), viaSql(t, any))
            check(any, r, "read, interpreted")
            check(any, q, "sql, interpreted")
            checkPlan(r, s"$l read, interpreted", expectParam)
          }
          // the same shape twice, the second time with new literals
          val first = draw(kind, inside, rnd)
          val second = draw(kind, inside, rnd, avoid = first.literals)
          check(first, viaRead(t, first), "read")
          check(first, viaSql(t, first), "sql")
          val before = compiles
          val (read2, sql2) = (viaRead(t, second), viaSql(t, second))
          check(second, read2, "read, new literals")
          check(second, sql2, "sql, new literals")
          if (!inSet)
            assert(compiles === before, s"$l: new literals compiled a class ($first → $second)")
          checkPlan(read2, s"$l read", expectParam)
          checkPlan(sql2, s"$l sql", expectParam)
        }
      }
    }
  }

  test("a ParamLiteral equals another as its Literal does (NaN equals NaN)") {
    for ((v, dt) <- Seq[(Any, DataType)](Double.NaN -> DoubleType, Float.NaN -> FloatType,
        7L -> LongType, 3 -> DateType)) {
      assert(ParamLiteral(v, dt) === ParamLiteral(v, dt), dt)
      assert(ParamLiteral(v, dt).hashCode === ParamLiteral(v, dt).hashCode, dt)
      assert(ParamLiteral(v, dt).semanticEquals(ParamLiteral(v, dt)), dt)
    }
    assert(ParamLiteral(3, IntegerType) !== ParamLiteral(3, DateType))
    assert(ParamLiteral(3, IntegerType) !== ParamLiteral(4, IntegerType))
    assert(ParamLiteral(3, IntegerType) !== Literal(3, IntegerType))
  }

  test("tableChanges at two versions compiles nothing new the second time") {
    val path = Files.createTempDirectory("param-lit-cdf-").toString
    val props = Map(Cdc.PROP -> "true")
    def batch(lo: Long) = spark.range(lo, lo + 20).toDF("id")
      .withColumn("v", col("id") * 2).coalesce(1)
    val t = LakeTable.create(spark, path, batch(0), properties = props)
    def feed(): (DataFrame, Long) = {
      t.append(batch(t.snapshot.version * 100))
      LakeLog.awaitMaintenance()
      val v = t.snapshot.version
      (t.tableChanges(v), v)
    }
    def check(feed: DataFrame, v: Long): DataFrame = {
      val df = feed.select("id", "_change_type", "_commit_version")
      val rows = df.collect()
      assert(rows.map(_.getLong(0)).sorted.toSeq === (v * 100 - 100 until v * 100 - 80).toSeq)
      assert(rows.forall(r => r.getString(1) == "insert" && r.getLong(2) == v))
      df
    }
    val (first, v1) = feed()
    check(first, v1)
    val (second, v2) = feed()
    val before = compiles
    val read2 = check(second, v2)
    assert(compiles === before, s"tableChanges($v2) compiled a class after tableChanges($v1)")
    checkPlan(read2, "tableChanges")
    assert(read2.queryExecution.executedPlan.toString.contains(s"$v2 AS _commit_version"))
  }

  // Spark's parquet row-group filter compares a float's zero by its bits,
  // so a file whose only zero is -0.0 is skipped for `= 0.0` (SQL says
  // -0.0 = 0.0). The literal never reaches that filter through this rule;
  // the spec's table holds both zeros so the differential above stays
  // about the rule, and this test stays pending until Spark mends it.
  test("a file whose only zero is -0.0 answers = 0.0 (pending: parquet row-group filter)") {
    val path = Files.createTempDirectory("param-lit-zero-").toString
    import spark.implicits._
    val t = LakeTable.create(spark, path,
      Seq((1, -0.0), (2, 1.5), (3, -0.0)).toDF("id", "d").coalesce(1))
    pendingUntilFixed {
      assert(ids(t.read(col("d") === 0.0).select("id")) === Set(1, 3))
    }
  }
}
