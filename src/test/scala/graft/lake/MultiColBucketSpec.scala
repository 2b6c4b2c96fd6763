package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Multi-column bucket SPJ via the `_bucket` metadata column (NEXT.md
  * r4 #1): Spark's bucket-transform-to-join-key resolution is
  * single-reference, so two-column specs can't engage SPJ through the
  * transform. Including the `_bucket` metadata column in the join (a
  * condition implied by the other equi-keys) flips the reported bucket
  * key to `identity(_bucket)` and the join plans shuffle-free.
  */
class MultiColBucketSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        return a.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.size
    }.size

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("mcb-wh-").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$w/db"))
    val a = (1L to 200L).map(i => (i % 10, i % 7, i * 1.0)).toDF("k1", "k2", "v")
    val b = (1L to 300L).map(i => (i % 10, i % 7, i * 2.0)).toDF("k1", "k2", "w")
    LakeTable.create(spark, s"$w/db/a", a, bucketBy = Seq("k1", "k2"), numBuckets = 4)
    LakeTable.create(spark, s"$w/db/b", b, bucketBy = Seq("k1", "k2"), numBuckets = 4)
    w
  }

  // registered around every test through TestSpark.withCatalog, which
  // unsets its keys afterwards, so no later suite sees the catalog
  override def withFixture(test: NoArgTest) =
    TestSpark.withCatalog("mcb", warehouse)(super.withFixture(test))

  private def withNoBroadcast[T](body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("_bucket metadata column reads the commit-log bucket id") {
    warehouse
    val rows = spark.sql(
      "SELECT k1, k2, _bucket FROM mcb.db.a").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expected = Seq((r.getLong(0), r.getLong(1))).toDF("k1", "k2")
        .select(Bucketing.bucketId(Seq(col("k1"), col("k2")), 4)).head().getInt(0)
      assert(r.getInt(2) === expected,
        s"row $r: _bucket should be murmur3(k1,k2) pmod 4")
    }
  }

  test("_bucket reads the same ids through the row reader as through the columnar one") {
    warehouse
    def read() = spark.sql("SELECT k1, k2, v, _bucket FROM mcb.db.a")
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    val columnar = read()
    val key = "spark.sql.parquet.enableVectorizedReader"
    val prior = spark.conf.getAll.get(key)
    spark.conf.set(key, "false")
    val rows = try read() finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(rows.size === 200)
    assert(rows === columnar)
    assert(rows.map(_._4).distinct.size > 1)
  }

  test("joining on (k1, k2, _bucket) is shuffle-free and correct") {
    warehouse
    withNoBroadcast {
      val spj = spark.sql(
        """SELECT a.k1, a.k2, a.v, b.w FROM mcb.db.a a JOIN mcb.db.b b
          |ON a.k1 = b.k1 AND a.k2 = b.k2 AND a._bucket = b._bucket""".stripMargin)
      val plain = spark.sql(
        """SELECT a.k1, a.k2, a.v, b.w FROM mcb.db.a a JOIN mcb.db.b b
          |ON a.k1 = b.k1 AND a.k2 = b.k2""".stripMargin)
      val spjRows = spj.collect()
      assert(spjRows.length === plain.count())
      assert(shuffles(spj) === 0,
        s"SPJ expected:\n${spj.queryExecution.executedPlan}")
      assert(shuffles(plain) > 0, "plain two-key join still shuffles " +
        "(the transform path stays single-reference)")
    }
  }

  test("aggregation grouped on (k1, k2, _bucket) stays shuffle-free too") {
    warehouse
    withNoBroadcast {
      // group keys covering the partition key → partial agg is final
      val agg = spark.sql(
        """SELECT k1, k2, _bucket, sum(v) AS sv FROM mcb.db.a
          |GROUP BY k1, k2, _bucket""".stripMargin)
      assert(agg.collect().length === 70)
      assert(shuffles(agg) === 0,
        s"expected shuffle-free agg:\n${agg.queryExecution.executedPlan}")
    }
  }

  test("mismatched numBuckets on a _bucket join fails analysis loudly") {
    warehouse
    // same key columns, DIFFERENT bucket count: the _bucket equality is
    // not implied by the key equalities and would silently drop matches
    val c = (1L to 100L).map(i => (i % 10, i % 7, i * 3.0)).toDF("k1", "k2", "u")
    LakeTable.create(spark, s"$warehouse/db/c", c,
      bucketBy = Seq("k1", "k2"), numBuckets = 8)
    val e = intercept[Exception] {
      spark.sql(
        """SELECT a.k1 FROM mcb.db.a a JOIN mcb.db.c c
          |ON a.k1 = c.k1 AND a.k2 = c.k2 AND a._bucket = c._bucket""".stripMargin)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("rebucket")),
      s"expected the bucket-layout guard, got: $e")
    // the same join WITHOUT the _bucket convention is legal (plain shuffle)
    val ok = spark.sql(
      """SELECT a.k1 FROM mcb.db.a a JOIN mcb.db.c c
        |ON a.k1 = c.k1 AND a.k2 = c.k2""".stripMargin)
    assert(ok.count() > 0)
  }

  test("_bucket join missing a bucket-column equality fails loudly") {
    warehouse
    // matching layouts, but the join only keys k1: rows matching on k1
    // alone can hash to different buckets, so `a._bucket = b._bucket`
    // is NOT implied — it would silently drop those matches
    val e = intercept[Exception] {
      spark.sql(
        """SELECT a.k1 FROM mcb.db.a a JOIN mcb.db.b b
          |ON a.k1 = b.k1 AND a._bucket = b._bucket""".stripMargin)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("k2")),
      s"expected the missing-column guard naming k2, got: $e")
    // the full key set passes (covered by the SPJ test above as well)
    val ok = spark.sql(
      """SELECT a.k1 FROM mcb.db.a a JOIN mcb.db.b b
        |ON a.k1 = b.k1 AND a.k2 = b.k2 AND a._bucket = b._bucket""".stripMargin)
    assert(ok.count() > 0)
  }

  test("_bucket join proves implication through renamed key columns") {
    warehouse
    // k1 rides through a rename (new exprId via Alias); the guard traces
    // the alias back to the relation-level id instead of rejecting the
    // legitimate join spuriously (ADVICE r5 #1)
    val renamed = spark.sql(
      """SELECT a.x1, a.k2, a.v, b.w
        |FROM (SELECT k1 AS x1, k2, v, _bucket FROM mcb.db.a) a
        |JOIN mcb.db.b b
        |ON a.x1 = b.k1 AND a.k2 = b.k2 AND a._bucket = b._bucket""".stripMargin)
    val plain = spark.sql(
      """SELECT a.k1, a.k2, a.v, b.w FROM mcb.db.a a JOIN mcb.db.b b
        |ON a.k1 = b.k1 AND a.k2 = b.k2""".stripMargin)
    assert(renamed.count() === plain.count(),
      "renamed-key _bucket join must keep every match")
  }

  test("_bucket join proves implication through null-safe equalities") {
    warehouse
    // <=> pins the key columns equal on every surviving row just like =,
    // so the implication holds; the guard must collect both forms
    val nullSafe = spark.sql(
      """SELECT a.k1 FROM mcb.db.a a JOIN mcb.db.b b
        |ON a.k1 <=> b.k1 AND a.k2 <=> b.k2 AND a._bucket = b._bucket""".stripMargin)
    assert(nullSafe.count() ===
      spark.sql(
        """SELECT a.k1 FROM mcb.db.a a JOIN mcb.db.b b
          |ON a.k1 = b.k1 AND a.k2 = b.k2""".stripMargin).count())
  }

  test("a RENAMED _bucket equality is still layout-checked") {
    warehouse
    // renaming _bucket must not smuggle a mismatched-layout join past
    // the guard — membership is by traced exprId, not attribute name
    val e = intercept[Exception] {
      spark.sql(
        """SELECT a.k1 FROM (SELECT k1, k2, _bucket AS bk FROM mcb.db.a) a
          |JOIN mcb.db.c c
          |ON a.k1 = c.k1 AND a.k2 = c.k2 AND a.bk = c._bucket""".stripMargin)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("rebucket")),
      s"expected the bucket-layout guard through the rename, got: $e")
  }

  test("a DERIVED key equality does not prove bucket implication") {
    warehouse
    // k2 equated only through an expression (k2 + 0): the derived value
    // is not the raw bucket column, so `_bucket = _bucket` stays an
    // unimplied filter and the guard must still reject the join
    val e = intercept[Exception] {
      spark.sql(
        """SELECT a.k1 FROM (SELECT k1, k2 + 0 AS k2d, _bucket FROM mcb.db.a) a
          |JOIN mcb.db.b b
          |ON a.k1 = b.k1 AND a.k2d = b.k2 AND a._bucket = b._bucket""".stripMargin)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("k2")),
      s"expected the missing-column guard naming k2, got: $e")
  }
}
