package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hash-bucketed lake tables ([[Bucketing]]) and storage-partitioned
  * joins: co-bucketed tables must join with NO shuffle on either side.
  */
class BucketingSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("bucket-wh-").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$w/db"))
    w
  }

  // registered around every test through TestSpark.withCatalog, which
  // unsets its keys afterwards, so no later suite sees the catalog
  override def withFixture(test: NoArgTest) =
    TestSpark.withCatalog("blake", warehouse)(super.withFixture(test))

  private def ordersDF = (1L to 200L).map(i =>
    (i, s"cust${i % 40}", i * 1.5)).toDF("order_id", "cust", "amount")

  private def itemsDF = (1L to 600L).map(i =>
    (i % 200 + 1, s"sku${i % 17}", (i % 5 + 1).toInt)).toDF("order_id", "sku", "qty")

  test("create writes one bucket per file; reads round-trip") {
    val path = s"$warehouse/db/orders_b"
    val t = LakeTable.create(spark, path, ordersDF,
      bucketBy = Seq("order_id"), numBuckets = 8)
    val snap = t.snapshot
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(_.bucket.isDefined))
    assert(snap.files.map(_.bucket.get).distinct.sorted === (0 until 8))
    // every file's rows hash to its recorded bucket
    snap.files.foreach { f =>
      val distinctBuckets = spark.read.parquet(s"$path/${f.path}")
        .select(Bucketing.bucketId(Seq(col("order_id")), 8)).distinct()
        .as[Int].collect().toSeq
      assert(distinctBuckets === Seq(f.bucket.get))
    }
    assert(t.toDF.count() === 200)
  }

  test("append and DML rewrites preserve bucket ids") {
    val path = s"$warehouse/db/orders_dml"
    val t = LakeTable.create(spark, path, ordersDF,
      bucketBy = Seq("order_id"), numBuckets = 4)
    t.append(Seq((201L, "cust1", 3.0)).toDF("order_id", "cust", "amount"))
    assert(t.snapshot.files.forall(_.bucket.isDefined))
    // heavy update → rewrite path; files must stay bucketed
    t.update(col("amount") > 0, Map("amount" -> (col("amount") + 1)),
      useDvs = false)
    assert(t.snapshot.files.forall(_.bucket.isDefined))
    assert(t.toDF.count() === 201)
  }

  test("compact preserves bucket ids and bucket purity") {
    val path = s"$warehouse/db/orders_compact"
    val t = LakeTable.create(spark, path, ordersDF,
      bucketBy = Seq("order_id"), numBuckets = 4)
    t.append(ordersDF.where($"order_id" <= 50))
    t.compact(targetFileBytes = 1L << 30)
    val snap = t.snapshot
    assert(snap.files.forall(_.bucket.isDefined))
    // per-bucket bin-packing: each bucket's small files merged into one
    assert(snap.files.groupBy(_.bucket.get).values.forall(_.size === 1),
      s"per-bucket counts: ${snap.files.groupBy(_.bucket.get).view.mapValues(_.size).toMap}")
    snap.files.foreach { f =>
      val distinct = spark.read.parquet(s"$path/${f.path}")
        .select(Bucketing.bucketId(Seq(col("order_id")), 4)).distinct()
        .as[Int].collect().toSeq
      assert(distinct === Seq(f.bucket.get))
    }
    assert(t.toDF.count() === 250)
  }

  test("co-bucketed equi-join plans with no shuffle (SPJ)") {
    warehouse
    LakeTable.create(spark, s"$warehouse/db/orders", ordersDF,
      bucketBy = Seq("order_id"), numBuckets = 8)
    LakeTable.create(spark, s"$warehouse/db/items", itemsDF,
      bucketBy = Seq("order_id"), numBuckets = 8)
    val joined = spark.sql(
      """SELECT o.order_id, o.cust, i.sku, i.qty
        |FROM blake.db.orders o JOIN blake.db.items i
        |ON o.order_id = i.order_id""".stripMargin)
    val expected = ordersDF.as("o").join(itemsDF.as("i"), "order_id").count()
    assert(joined.count() === expected)
    val shuffles = joined.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty,
      s"expected storage-partitioned join without shuffles, plan:\n" +
        joined.queryExecution.executedPlan)
  }

  test("bucketed join result matches exactly") {
    warehouse
    val joined = spark.sql(
      """SELECT o.order_id, count(*) AS n, sum(i.qty) AS q
        |FROM blake.db.orders o JOIN blake.db.items i ON o.order_id = i.order_id
        |GROUP BY o.order_id ORDER BY o.order_id""".stripMargin).collect()
    val oracle = ordersDF.join(itemsDF, "order_id")
      .groupBy("order_id").agg(count(lit(1)).as("n"), sum("qty").as("q"))
      .orderBy("order_id").collect()
    assert(joined.toSeq === oracle.toSeq)
  }

  test("SQL INSERT INTO a bucketed table stamps bucket ids") {
    warehouse
    spark.sql(
      s"""CREATE TABLE blake.db.sql_b (id BIGINT, v DOUBLE)
         |CLUSTERED BY (id) INTO 4 BUCKETS""".stripMargin)
    spark.sql("INSERT INTO blake.db.sql_b VALUES (1, 1.0), (2, 2.0), (9, 9.0)")
    val t = LakeTable.forPath(spark, s"$warehouse/db/sql_b")
    assert(t.snapshot.files.nonEmpty)
    assert(t.snapshot.files.forall(_.bucket.isDefined))
    assert(spark.sql("SELECT sum(v) FROM blake.db.sql_b").as[Double].head() === 12.0)
  }

  test("rebucket migrates an unbucketed table onto the SPJ path") {
    warehouse
    val path = s"$warehouse/db/orders_migrate"
    val t = LakeTable.create(spark, path,
      ordersDF.repartition(4)) // plain table, no buckets
    assert(t.snapshot.files.forall(_.bucket.isEmpty))
    t.rebucket(Seq("order_id"), 8)
    val snap = t.snapshot
    assert(Bucketing.specOf(snap.metaData) ===
      Some(Bucketing.Spec(Seq("order_id"), 8)))
    assert(snap.files.forall(_.bucket.isDefined))
    assert(t.toDF.count() === 200)
    // joins against an existing co-bucketed table now plan shuffle-free
    LakeTable.create(spark, s"$warehouse/db/items_migrate", itemsDF,
      bucketBy = Seq("order_id"), numBuckets = 8)
    val joined = spark.sql(
      """SELECT o.order_id, i.qty FROM blake.db.orders_migrate o
        |JOIN blake.db.items_migrate i ON o.order_id = i.order_id""".stripMargin)
    assert(joined.count() ===
      ordersDF.join(itemsDF, "order_id").count())
    val shuffles = joined.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty, s"rebucketed join still shuffles")
    // the reorg emits no change rows and time travel still works
    assert(t.asOf(0).toDF.count() === 200)
    // resize: double the bucket count in one commit
    t.rebucket(Seq("order_id"), 16)
    assert(t.snapshot.files.map(_.bucket.get).distinct.sorted === (0 until 16))
  }

  test("partitioned+bucketed join on (partition, bucket) keys is shuffle-free") {
    warehouse
    val ordersP = ordersDF.withColumn("region",
      concat(lit("r"), (col("order_id") % 3).cast("string")))
    val itemsP = itemsDF.withColumn("region",
      concat(lit("r"), (col("order_id") % 3).cast("string")))
    LakeTable.create(spark, s"$warehouse/db/orders_pb", ordersP,
      partitionBy = Seq("region"), bucketBy = Seq("order_id"), numBuckets = 4)
    LakeTable.create(spark, s"$warehouse/db/items_pb", itemsP,
      partitionBy = Seq("region"), bucketBy = Seq("order_id"), numBuckets = 4)
    val joined = spark.sql(
      """SELECT o.order_id, o.region, i.sku
        |FROM blake.db.orders_pb o JOIN blake.db.items_pb i
        |ON o.region = i.region AND o.order_id = i.order_id""".stripMargin)
    assert(joined.count() ===
      ordersP.join(itemsP, Seq("region", "order_id")).count())
    val shuffles = joined.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty,
      s"expected partition+bucket SPJ without shuffles, plan:\n" +
        joined.queryExecution.executedPlan)
    // joining on just the bucket column still SPJs: Spark groups the
    // (partition, bucket) splits on the join-key subset
    val bucketOnly = spark.sql(
      """SELECT o.order_id, i.sku
        |FROM blake.db.orders_pb o JOIN blake.db.items_pb i
        |ON o.order_id = i.order_id""".stripMargin)
    assert(bucketOnly.count() === ordersP.join(itemsP, Seq("order_id")).count())
    val shuffles2 = bucketOnly.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles2.isEmpty,
      s"expected subset-key SPJ without shuffles, plan:\n" +
        bucketOnly.queryExecution.executedPlan)
  }

  test("streaming sink writes into a bucketed table (path-based, no catalog)") {
    val src = Files.createTempDirectory("bucket-stream-src-").toString
    val dst = s"$warehouse/db/stream_b"
    val srcT = LakeTable.create(spark, src,
      (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v"))
    LakeTable.create(spark, dst,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        srcT.snapshot.schema),
      bucketBy = Seq("id"), numBuckets = 4)
    val q = spark.readStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", src).load()
      .writeStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", dst)
      .option("checkpointLocation",
        Files.createTempDirectory("bucket-stream-ckpt-").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val t = LakeTable.forPath(spark, dst)
    assert(t.toDF.count() === 20)
    assert(t.snapshot.files.forall(_.bucket.isDefined)) // still bucketed
  }

  test("curve clustering on a bucketed table is rejected, not silent") {
    val path = s"$warehouse/db/curve_guard"
    val t = LakeTable.create(spark, path, ordersDF,
      bucketBy = Seq("order_id"), numBuckets = 2)
    val e = intercept[IllegalArgumentException] { t.zOrderBy("amount") }
    assert(e.getMessage.contains("curve-cluster"))
    intercept[IllegalArgumentException] { t.hilbertBy("amount") }
  }

  test("create mode=overwrite cannot silently change bucketing") {
    val path = s"$warehouse/db/ow_guard"
    LakeTable.create(spark, path, ordersDF)
    intercept[IllegalArgumentException] {
      LakeTable.create(spark, path, ordersDF, mode = "overwrite",
        bucketBy = Seq("order_id"), numBuckets = 4)
    }
  }

  test("bucket columns cannot be renamed or dropped") {
    val path = s"$warehouse/db/guard"
    val t = LakeTable.create(spark, path, ordersDF,
      bucketBy = Seq("order_id"), numBuckets = 2)
    intercept[IllegalArgumentException] {
      t.alterRenameColumn("order_id", "oid")
    }
    intercept[IllegalArgumentException] { t.alterDropColumn("order_id") }
  }
}
