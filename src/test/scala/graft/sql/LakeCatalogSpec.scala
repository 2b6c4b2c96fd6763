package graft.sql

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StageFault
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.lake.LakeTable

/** DSv2 catalog: SQL resolves lake tables natively, including VERSION AS
  * OF / TIMESTAMP AS OF and partition pruning through the catalog scan.
  */
class LakeCatalogSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("lake-wh-").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$w/bronze"))
    val t = LakeTable.create(spark, s"$w/bronze/orders",
      Seq((1L, "CA", 10.0), (2L, "NY", 20.0), (3L, "CA", 30.0))
        .toDF("id", "state", "amount"),
      partitionBy = Seq("state"))
    t.append(Seq((4L, "TX", 40.0)).toDF("id", "state", "amount"))
    w
  }

  // registered around every test through TestSpark.withCatalog, which
  // unsets its keys afterwards, so no later suite sees the catalog
  override def withFixture(test: NoArgTest) =
    TestSpark.withCatalog("lake", warehouse)(super.withFixture(test))

  test("SELECT through the catalog") {
    warehouse
    val n = spark.sql("SELECT count(*) FROM lake.bronze.orders").as[Long].head()
    assert(n === 4)
    val ca = spark.sql(
      "SELECT id FROM lake.bronze.orders WHERE state = 'CA' ORDER BY id")
      .as[Long].collect()
    assert(ca.toSeq === Seq(1L, 3L))
  }

  test("VERSION AS OF time travel through SQL") {
    warehouse
    val v0 = spark.sql(
      "SELECT count(*) FROM lake.bronze.orders VERSION AS OF 0").as[Long].head()
    assert(v0 === 3)
    // Delta's @v suffix (the reference's loan_by_state_delta@v0)
    val atV0 = spark.sql(
      "SELECT count(*) FROM lake.bronze.`orders@v0`").as[Long].head()
    assert(atV0 === 3)
  }

  test("SHOW TABLES lists lake tables") {
    warehouse
    val tables = spark.sql("SHOW TABLES IN lake.bronze")
      .select("tableName").as[String].collect()
    assert(tables.contains("orders"))
  }

  test("catalog scan prunes hive partitions") {
    warehouse
    val df = spark.sql("SELECT id FROM lake.bronze.orders WHERE state = 'NY'")
    // DSv2 BatchScan applies partition filters at the scan (inputFiles
    // reports the unpruned index, so assert on the plan)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") && plan.contains("= NY"))
    assert(df.as[Long].collect().toSeq === Seq(2L))
  }

  test("snapshot isolation: DML after catalog registration is visible") {
    warehouse
    val t = LakeTable.forPath(spark, s"$warehouse/bronze/orders")
    t.delete($"id" === 4L)
    assert(spark.sql("SELECT count(*) FROM lake.bronze.orders").as[Long].head() === 3)
    // and the pre-delete version still reads 4 via time travel
    val vPrev = t.version - 1
    assert(spark.sql(
      s"SELECT count(*) FROM lake.bronze.orders VERSION AS OF $vPrev")
      .as[Long].head() === 4)
  }

  // ---- DSv2 write path (round-2 #1): SQL DDL/INSERT through the commit
  // log ------------------------------------------------------------------

  test("CREATE TABLE + INSERT INTO VALUES through the catalog") {
    warehouse
    spark.sql(
      "CREATE TABLE lake.bronze.loans (id BIGINT, addr_state STRING, amount DOUBLE)")
    spark.sql(
      "INSERT INTO lake.bronze.loans VALUES (1, 'CA', 100.0), (2, 'WA', 200.0)")
    assert(spark.sql("SELECT count(*) FROM lake.bronze.loans").as[Long].head() === 2)
    // the write went through the commit log, not a bare parquet write
    val t = LakeTable.forPath(spark, s"$warehouse/bronze/loans")
    val hist = t.history.select("operation").as[String].collect().toSeq
    assert(hist.contains("APPEND") && hist.contains("CREATE TABLE"))
    assert(t.snapshot.files.forall(_.stats.isDefined)) // footer stats collected
  }

  test("CTAS through the catalog") {
    warehouse
    spark.sql(
      """CREATE TABLE lake.bronze.big_orders AS
        |SELECT id, amount FROM lake.bronze.orders WHERE amount >= 20.0""".stripMargin)
    val rows = spark.sql(
      "SELECT id FROM lake.bronze.big_orders ORDER BY id").as[Long].collect()
    assert(rows.toSeq === Seq(2L, 3L))
  }

  test("partitioned CREATE + INSERT writes hive dirs and prunes") {
    warehouse
    spark.sql(
      """CREATE TABLE lake.bronze.px (id BIGINT, region STRING)
        |PARTITIONED BY (region)""".stripMargin)
    spark.sql("INSERT INTO lake.bronze.px VALUES (1, 'eu'), (2, 'us'), (3, 'eu')")
    val t = LakeTable.forPath(spark, s"$warehouse/bronze/px")
    assert(t.snapshot.files.forall(_.path.contains("region=")))
    assert(t.snapshot.files.forall(f => f.partitionValues.keySet == Set("region")))
    val eu = spark.sql(
      "SELECT id FROM lake.bronze.px WHERE region = 'eu' ORDER BY id").as[Long].collect()
    assert(eu.toSeq === Seq(1L, 3L))
    // INSERT OVERWRITE a single partition (static overwrite)
    spark.sql("INSERT OVERWRITE lake.bronze.px PARTITION (region = 'eu') VALUES (9)")
    val after = spark.sql(
      "SELECT id FROM lake.bronze.px ORDER BY id").as[Long].collect()
    assert(after.toSeq === Seq(2L, 9L))
  }

  test("dynamic partition overwrite replaces only the partitions written") {
    warehouse
    spark.sql(
      """CREATE TABLE lake.bronze.dyn (id BIGINT, region STRING)
        |PARTITIONED BY (region)""".stripMargin)
    spark.sql("INSERT INTO lake.bronze.dyn VALUES (1, 'eu'), (2, 'us'), (3, 'eu'), (4, 'ap')")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql("INSERT OVERWRITE lake.bronze.dyn VALUES (7, 'eu'), (8, 'jp')")
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val rows = spark.sql("SELECT id, region FROM lake.bronze.dyn ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(rows === Seq((2L, "us"), (4L, "ap"), (7L, "eu"), (8L, "jp")))
    val t = LakeTable.forPath(spark, s"$warehouse/bronze/dyn")
    assert(t.snapshot.files.map(_.partitionValues("region")).toSet ===
      Set("us", "ap", "eu", "jp"))
    assert(t.history.select("operation").as[String].collect().head === "OVERWRITE")
  }

  test("writeTo: append and overwritePartitions") {
    warehouse
    spark.sql(
      """CREATE TABLE lake.bronze.wt (id BIGINT, region STRING, amount DOUBLE)
        |PARTITIONED BY (region)""".stripMargin)
    // by name: the frame's column order differs from the table's
    Seq(("eu", 1L, 1.0), ("us", 2L, 2.0), ("eu", 3L, 3.0))
      .toDF("region", "id", "amount").writeTo("lake.bronze.wt").append()
    Seq(("us", 4L, 4.0)).toDF("region", "id", "amount")
      .writeTo("lake.bronze.wt").append()
    assert(spark.table("lake.bronze.wt").count() === 4)
    Seq((9L, "eu", 9.0)).toDF("id", "region", "amount")
      .writeTo("lake.bronze.wt").overwritePartitions()
    val rows = spark.table("lake.bronze.wt").select("id", "region", "amount")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(rows === Seq((2L, "us", 2.0), (4L, "us", 4.0), (9L, "eu", 9.0)))
    val t = LakeTable.forPath(spark, s"$warehouse/bronze/wt")
    assert(t.history.select("operation").as[String].collect().toSeq
      .take(3) === Seq("OVERWRITE", "APPEND", "APPEND"))
  }

  test("CTAS into a partitioned table and into a bloom-indexed table") {
    warehouse
    spark.sql(
      """CREATE TABLE lake.bronze.ctas_p PARTITIONED BY (state) AS
        |SELECT id, amount, state FROM lake.bronze.orders""".stripMargin)
    val p = LakeTable.forPath(spark, s"$warehouse/bronze/ctas_p")
    assert(p.snapshot.metaData.partitionColumns === Seq("state"))
    assert(p.snapshot.files.nonEmpty &&
      p.snapshot.files.forall(_.path.startsWith("state=")))
    assert(spark.sql("SELECT count(*) FROM lake.bronze.ctas_p").as[Long].head() ===
      spark.sql("SELECT count(*) FROM lake.bronze.orders").as[Long].head())

    spark.sql(
      s"""CREATE TABLE lake.bronze.ctas_b
         |TBLPROPERTIES ('${graft.lake.BloomIndex.COLS_PROP}' = 'id') AS
         |SELECT id * 2 AS id, id AS v FROM range(0, 200, 1, 4)""".stripMargin)
    val b = LakeTable.forPath(spark, s"$warehouse/bronze/ctas_b")
    assert(b.snapshot.files.nonEmpty && b.snapshot.files.forall(_.bloomPath.isDefined))
    assert(spark.sql("SELECT * FROM lake.bronze.ctas_b WHERE id = 7").count() === 0)
    assert(spark.sql("SELECT v FROM lake.bronze.ctas_b WHERE id = 8")
      .as[Long].collect().toSeq === Seq(4L))
  }

  test("a Complete-mode stream into the path sink overwrites per epoch") {
    val root = Files.createTempDirectory("lake-complete-").toString
    val src = LakeTable.create(spark, s"$root/src",
      Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k"))
    LakeTable.create(spark, s"$root/dst", Seq.empty[(String, Long)].toDF("k", "n"))
    def start() = spark.readStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", s"$root/src").load()
      .groupBy("k").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", s"$root/dst")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    val dst = LakeTable.forPath(spark, s"$root/dst")
    def counts = dst.toDF.as[(String, Long)].collect().toMap
    val q = start()
    try {
      q.processAllAvailable()
      assert(counts === Map("a" -> 2L, "b" -> 1L))
      src.append(Seq((4L, "b"), (5L, "c")).toDF("id", "k"))
      q.processAllAvailable()
      assert(counts === Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    } finally q.stop()
    val epochs = dst.history.select("operation").as[String].collect()
      .count(_ == "OVERWRITE")
    assert(epochs >= 2)
    assert(dst.snapshot.txns.size === 1)
    // a restart from the checkpoint replays nothing
    val v = dst.version
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(dst.version === v)
    assert(counts === Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
  }

  test("a many-task INSERT writes at most one file per partition value") {
    warehouse
    spark.sql(
      """CREATE TABLE lake.bronze.wide (id BIGINT, bucket STRING)
        |PARTITIONED BY (bucket)""".stripMargin)
    spark.sql(
      """INSERT INTO lake.bronze.wide
        |SELECT id, CAST(id % 3 AS STRING) FROM range(0, 3000, 1, 12)""".stripMargin)
    val t = LakeTable.forPath(spark, s"$warehouse/bronze/wide")
    assert(spark.sql("SELECT count(*) FROM lake.bronze.wide").as[Long].head() === 3000)
    assert(t.snapshot.files.size <= 3,
      s"${t.snapshot.files.size} files: ${t.snapshot.files.map(_.path)}")
  }

  test("a many-task stream epoch into the path sink writes at most one file per partition value") {
    val root = Files.createTempDirectory("lake-sink-wide-").toString
    LakeTable.create(spark, s"$root/src", spark.range(0, 3000).toDF("id"))
    val dst = LakeTable.create(spark, s"$root/dst",
      Seq.empty[(Long, String)].toDF("id", "bucket"), partitionBy = Seq("bucket"))
    val q = spark.readStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", s"$root/src").load()
      .repartition(12)
      .select($"id", ($"id" % 3).cast("string").as("bucket"))
      .writeStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", s"$root/dst")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(dst.toDF.count() === 3000)
    assert(dst.snapshot.files.size <= 3,
      s"${dst.snapshot.files.size} files: ${dst.snapshot.files.map(_.path)}")
  }

  test("a stream epoch whose write task fails after opening its file replays exactly once") {
    val root = Files.createTempDirectory("lake-sink-replay-").toString
    // one source file: the epoch writes in one task
    LakeTable.create(spark, s"$root/src", spark.range(0, 200).coalesce(1).toDF("id"))
    val dst = LakeTable.create(spark, s"$root/dst", Seq.empty[Long].toDF("id"))
    val v = dst.version
    def start() = spark.readStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", s"$root/src").load()
      .where(StageFault.failWriteOnce($"id"))
      .writeStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", s"$root/dst")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    val opened = StageFault.armedWrite(dst.path) {
      val q = start()
      try intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
      finally q.stop()
    }
    assert(opened.nonEmpty, "the failing task had opened no file")
    assert(dst.version === v)
    val q = start()
    try q.processAllAvailable() finally q.stop()
    assert(dst.toDF.as[Long].collect().sorted.toSeq === (0L until 200L))
    assert(!opened.exists(p => java.nio.file.Files.exists(p)))
    val live = dst.snapshot.files.map(_.path).toSet
    val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(dst.path)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => java.nio.file.Paths.get(dst.path).relativize(p).toString).toSet
    assert(onDisk === live)
  }

  test("CREATE TABLE PARTITIONED BY (truncate(4, s)) writes and reads back") {
    warehouse
    spark.sql("CREATE TABLE lake.bronze.trunc (id BIGINT, s STRING) PARTITIONED BY (truncate(4, s))")
    spark.sql("INSERT INTO lake.bronze.trunc VALUES (1, 'alpha'), (2, 'alps'), (3, 'beta'), (4, NULL)")
    val t = LakeTable.forPath(spark, s"$warehouse/bronze/trunc")
    assert(t.snapshot.metaData.partitionColumns === Seq("truncate(4,s)"))
    assert(t.snapshot.files.map(_.partitionValues).distinct.size === 4)
    assert(spark.sql("SELECT id, s FROM lake.bronze.trunc ORDER BY id").as[(Long, String)]
      .collect().toSeq === Seq((1L, "alpha"), (2L, "alps"), (3L, "beta"), (4L, null)))
    assert(spark.sql("SELECT id FROM lake.bronze.trunc WHERE s = 'beta'").as[Long]
      .collect().toSeq === Seq(3L))
  }

  test("a failed INSERT commits nothing and leaves no staging directory") {
    warehouse
    spark.sql("CREATE TABLE lake.bronze.chk (id BIGINT)")
    val t = LakeTable.forPath(spark, s"$warehouse/bronze/chk")
    t.addCheckConstraint("id_pos", "id > 0")
    val v = t.version
    intercept[Exception](spark.sql("INSERT INTO lake.bronze.chk VALUES (1), (-1)"))
    assert(t.version === v)
    val leftovers = new java.io.File(t.path).list()
      .filter(_.startsWith(LakeTable.STAGING_PREFIX))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  test("INSERT OVERWRITE (truncate) through the catalog") {
    warehouse
    spark.sql("CREATE TABLE lake.bronze.ow AS SELECT 1 AS id")
    spark.sql("INSERT OVERWRITE lake.bronze.ow VALUES (7), (8)")
    assert(spark.sql("SELECT sum(id) FROM lake.bronze.ow").as[Long].head() === 15)
    // previous version still time-travels
    assert(spark.sql("SELECT id FROM lake.bronze.ow VERSION AS OF 1")
      .as[Int].collect().toSeq === Seq(1))
  }

  test("SQL DELETE FROM a lake table") {
    warehouse
    spark.sql("CREATE TABLE lake.bronze.dml_d AS SELECT * FROM VALUES (1), (2), (3) t(id)")
    val n = spark.sql("DELETE FROM lake.bronze.dml_d WHERE id >= 2")
      .as[Long].head()
    assert(n === 2)
    assert(spark.sql("SELECT id FROM lake.bronze.dml_d").as[Int].collect().toSeq === Seq(1))
  }

  test("SQL UPDATE a lake table") {
    warehouse
    spark.sql(
      "CREATE TABLE lake.bronze.dml_u AS SELECT * FROM VALUES (1, 10.0D), (2, 20.0D) t(id, amt)")
    spark.sql("UPDATE lake.bronze.dml_u SET amt = amt * 2 WHERE id = 2")
    val rows = spark.sql("SELECT amt FROM lake.bronze.dml_u ORDER BY id")
      .as[Double].collect()
    assert(rows.toSeq === Seq(10.0, 40.0))
  }

  test("SQL MERGE INTO: the reference upsert scenario as literal SQL") {
    warehouse
    // mirrors 02.delta_lake_primer.py:312-320 (loan upserts by id)
    spark.sql(
      """CREATE TABLE lake.bronze.loans_tgt AS
        |SELECT * FROM VALUES (1, 'CA', 100.0D), (2, 'WA', 200.0D) t(id, addr_state, amount)""".stripMargin)
    Seq((2, "WA", 250.0), (3, "TX", 300.0)).toDF("id", "addr_state", "amount")
      .createOrReplaceTempView("loan_updates")
    spark.sql(
      """MERGE INTO lake.bronze.loans_tgt AS t
        |USING loan_updates AS s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql(
      "SELECT id, addr_state, amount FROM lake.bronze.loans_tgt ORDER BY id")
      .as[(Int, String, Double)].collect()
    assert(rows.toSeq === Seq((1, "CA", 100.0), (2, "WA", 250.0), (3, "TX", 300.0)))
    val t = LakeTable.forPath(spark, s"$warehouse/bronze/loans_tgt")
    assert(t.history.select("operation").as[String].collect().contains("MERGE"))
  }

  test("SQL MERGE with explicit assignments and DELETE clause") {
    warehouse
    spark.sql(
      """CREATE TABLE lake.bronze.m2 AS
        |SELECT * FROM VALUES (1, 'a'), (2, 'b') t(id, v)""".stripMargin)
    Seq(2, 99).toDF("id").createOrReplaceTempView("m2_src")
    spark.sql(
      """MERGE INTO lake.bronze.m2 t USING m2_src s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT id FROM lake.bronze.m2").as[Int].collect().toSeq === Seq(1))
  }

  test("ALTER TABLE ADD COLUMN / SET TBLPROPERTIES via SQL") {
    warehouse
    spark.sql("CREATE TABLE lake.bronze.alt AS SELECT 1 AS id")
    spark.sql("ALTER TABLE lake.bronze.alt ADD COLUMN note STRING")
    assert(spark.sql("SELECT note FROM lake.bronze.alt").as[String].head() === null)
    spark.sql("ALTER TABLE lake.bronze.alt SET TBLPROPERTIES ('quality' = 'bronze')")
    val t = LakeTable.forPath(spark, s"$warehouse/bronze/alt")
    assert(t.snapshot.metaData.properties.get("quality").contains("bronze"))
  }

  test("DROP TABLE via SQL") {
    warehouse
    spark.sql("CREATE TABLE lake.bronze.dropme AS SELECT 1 AS id")
    spark.sql("DROP TABLE lake.bronze.dropme")
    assert(!LakeTable.isLakeTable(s"$warehouse/bronze/dropme"))
  }

  test("SQL VACUUM (the reference's literal statement) and OPTIMIZE") {
    warehouse
    spark.sql("CREATE TABLE lake.bronze.vac AS SELECT id, id * 2 AS v FROM range(100)")
    val t = LakeTable.forPath(spark, s"$warehouse/bronze/vac")
    t.overwrite(spark.range(10).selectExpr("id", "id * 3 AS v"))
    // overwritten files are unreferenced → VACUUM RETAIN 0 removes them
    val removed = spark.sql("VACUUM lake.bronze.vac RETAIN 0 HOURS")
      .as[String].collect()
    assert(removed.nonEmpty)
    assert(spark.sql("SELECT count(*) FROM lake.bronze.vac").as[Long].head() === 10)

    spark.sql("CREATE TABLE lake.bronze.opt AS SELECT id, id * 2 AS v FROM range(1000)")
    val opt = LakeTable.forPath(spark, s"$warehouse/bronze/opt")
    opt.append(spark.range(1000, 1200).selectExpr("id", "id * 2 AS v"))
    val before = opt.snapshot.files.size
    val after = spark.sql("OPTIMIZE lake.bronze.opt").as[Long].head()
    assert(after <= before)
    assert(spark.sql("SELECT count(*) FROM lake.bronze.opt").as[Long].head() === 1200)
    // OPTIMIZE ... ZORDER BY clusters and stays readable
    spark.sql("OPTIMIZE lake.bronze.opt ZORDER BY (id, v)")
    assert(opt.history.select("operation").as[String].collect()
      .contains("ZORDER BY"))
    // the parser passthrough keeps ordinary SQL intact
    assert(spark.sql("SELECT 1 + 1").as[Int].head() === 2)
  }

  test("MINHASH INDEX lifecycle via SQL: BUILD / SYNC / COMPACT / REBUILD") {
    val root = Files.createTempDirectory("mh-sql-").toString
    val srcPath = s"$root/src"
    val idxPath = s"$root/idx"
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val t = LakeTable.create(spark, srcPath,
      docs.where($"doc_id" % 10 =!= 0).limit(100),
      properties = Map(graft.lake.Cdc.PROP -> "true"))
    val built = spark.sql(
      s"BUILD MINHASH INDEX ON '$srcPath' AT '$idxPath' USING (text, doc_id)")
      .as[Long].head()
    val post = LakeTable.forPath(spark, s"$idxPath/postings")
    assert(built > 0 && built === post.toDF.count())
    assert(post.snapshot.metaData.properties(
      graft.ops.Dedup.MINHASH_CONF_PROP) === "3,8,4")

    t.append(docs.where($"doc_id" % 10 === 0).limit(10))
    assert(spark.sql(
      s"SYNC MINHASH INDEX AT '$idxPath' USING (text, doc_id)")
      .as[Long].head() === 10L * 8)
    // replay is a no-op through SQL too
    assert(spark.sql(
      s"SYNC MINHASH INDEX AT '$idxPath' USING (text, doc_id)")
      .as[Long].head() === 0L)

    t.delete($"doc_id" % 2 === 0)
    val live = t.toDF.select("doc_id").as[Long].collect().toSet
    val purged = spark.sql(
      s"COMPACT MINHASH INDEX AT '$idxPath' USING (doc_id)").as[Long].head()
    assert(purged > 0)
    assert(post.snapshot.commits.last._2.operation === "PURGE")
    assert(post.toDF.select("id").as[Long].collect().toSet.subsetOf(live))

    // recreate the source: sync refuses; REBUILD recovers with a fresh
    // log under the recorded source path + banding config
    graft.TestFs.rmRf(srcPath)
    val t2 = LakeTable.create(spark, srcPath, docs.limit(5),
      properties = Map(graft.lake.Cdc.PROP -> "true"))
    intercept[IllegalStateException] {
      spark.sql(s"SYNC MINHASH INDEX AT '$idxPath' USING (text, doc_id)")
        .collect()
    }
    val rebuilt = spark.sql(
      s"REBUILD MINHASH INDEX AT '$idxPath' USING (text, doc_id)")
      .as[Long].head()
    assert(rebuilt === post.toDF.count())
    assert(post.snapshot.txns.isEmpty, "rebuild must start a fresh log")
    assert(post.snapshot.metaData.properties(
      graft.ops.Dedup.MINHASH_SOURCE_ID_PROP) === t2.snapshot.metaData.id)
    t2.append(docs.where($"doc_id" % 10 === 6).limit(5))
    assert(spark.sql(
      s"SYNC MINHASH INDEX AT '$idxPath' USING (text, doc_id)")
      .as[Long].head() === 5L * 8)
    // BUILD with an explicit banding config round-trips
    val idx2 = s"$root/idx2"
    spark.sql(s"BUILD MINHASH INDEX ON '$srcPath' AT '$idx2' " +
      "USING (text, doc_id) WITH (3, 16, 2)").collect()
    assert(LakeTable.forPath(spark, s"$idx2/postings").snapshot
      .metaData.properties(graft.ops.Dedup.MINHASH_CONF_PROP) === "3,16,2")

    // wrong WITH arity still matches THIS statement and gets the
    // helpful per-kind error, not the delegate parser's opaque one
    val twoInts = intercept[IllegalArgumentException] {
      spark.sql(s"BUILD MINHASH INDEX ON '$srcPath' AT '$root/idx3' " +
        "USING (text, doc_id) WITH (3, 16)")
    }
    assert(twoInts.getMessage.contains("shingleN, bands, rowsPerBand"))
    val ivfTwo = intercept[IllegalArgumentException] {
      spark.sql(s"BUILD IVF INDEX ON '$srcPath' AT '$root/idx3' " +
        "USING (vec, vec_id) WITH (4, 2)")
    }
    assert(ivfTwo.getMessage.contains("single (nLists)"))
  }

  test("IVF INDEX lifecycle via SQL: BUILD / SYNC / COMPACT / REBUILD") {
    val root = Files.createTempDirectory("ivf-sql-").toString
    val srcPath = s"$root/src"
    val idxPath = s"$root/idx"
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextGaussian() * 3))
    def member(i: Int): Array[Float] =
      centers(i % 4).map(x => (x + rnd.nextGaussian() * 0.3).toFloat)
    val t = LakeTable.create(spark, srcPath,
      (0 until 80).map(i => (i.toLong, member(i))).toDF("vec_id", "embedding"),
      properties = Map(graft.lake.Cdc.PROP -> "true"))

    val built = spark.sql(
      s"BUILD IVF INDEX ON '$srcPath' AT '$idxPath' " +
        "USING (embedding, vec_id) WITH (4)").as[Long].head()
    assert(built === 80L)
    val asg = LakeTable.forPath(spark, s"$idxPath/assignments")
    val cb = LakeTable.forPath(spark, s"$idxPath/codebook")
    // the build records the maintenance triple: path, generation, id col
    assert(cb.snapshot.metaData.properties(
      graft.ops.Similarity.SOURCE_PATH_PROP) === srcPath)
    assert(cb.snapshot.metaData.properties(
      graft.ops.Similarity.SOURCE_ID_COL_PROP) === "vec_id")

    t.append((100 until 110).map(i => (i.toLong, member(i)))
      .toDF("vec_id", "embedding"))
    assert(spark.sql(
      s"SYNC IVF INDEX AT '$idxPath' USING (embedding, vec_id)")
      .as[Long].head() === 10L)
    assert(spark.sql(
      s"SYNC IVF INDEX AT '$idxPath' USING (embedding, vec_id)")
      .as[Long].head() === 0L)

    t.delete($"vec_id" % 2 === 0)
    val live = t.toDF.select("vec_id").as[Long].collect().toSet
    val purged = spark.sql(
      s"COMPACT IVF INDEX AT '$idxPath' USING (vec_id)").as[Long].head()
    assert(purged > 0)
    assert(asg.snapshot.commits.last._2.operation === "PURGE")
    assert(asg.toDF.select("id").as[Long].collect().toSet === live)

    // recreate: sync refuses; REBUILD recovers from the RECORDED source
    // path + list count with fresh logs
    graft.TestFs.rmRf(srcPath)
    val t2 = LakeTable.create(spark, srcPath,
      (0 until 6).map(i => (i.toLong, member(i))).toDF("vec_id", "embedding"),
      properties = Map(graft.lake.Cdc.PROP -> "true"))
    intercept[IllegalStateException] {
      spark.sql(s"SYNC IVF INDEX AT '$idxPath' USING (embedding, vec_id)")
        .collect()
    }
    assert(spark.sql(
      s"REBUILD IVF INDEX AT '$idxPath' USING (embedding, vec_id)")
      .as[Long].head() === 6L)
    assert(asg.snapshot.txns.isEmpty, "rebuild must start a fresh log")
    assert(cb.snapshot.metaData.properties(
      graft.ops.Similarity.SOURCE_ID_PROP) === t2.snapshot.metaData.id)
    t2.append((200 until 203).map(i => (i.toLong, member(i)))
      .toDF("vec_id", "embedding"))
    assert(spark.sql(
      s"SYNC IVF INDEX AT '$idxPath' USING (embedding, vec_id)")
      .as[Long].head() === 3L)
  }

  test("BUILD BLOOM INDEX via SQL") {
    warehouse
    spark.sql("CREATE TABLE lake.bronze.bloomsql AS SELECT id * 2 AS id FROM range(64)")
    val t = LakeTable.forPath(spark, s"$warehouse/bronze/bloomsql")
    t.setProperties(Map(graft.lake.BloomIndex.COLS_PROP -> "id"))
    val n = spark.sql("BUILD BLOOM INDEX ON lake.bronze.bloomsql")
      .as[Long].head()
    assert(n === t.snapshot.files.size.toLong && n > 0)
    assert(t.snapshot.files.forall(_.bloomPath.isDefined))
    // idempotent; FORCE under an unchanged config is a no-op too
    assert(spark.sql("BUILD BLOOM INDEX ON lake.bronze.bloomsql").as[Long].head() === 0L)
    assert(spark.sql("BUILD BLOOM INDEX ON lake.bronze.bloomsql FORCE").as[Long].head() === 0L)
    // the index serves catalog-name reads (absent odd key inside the hull)
    assert(spark.sql("SELECT * FROM lake.bronze.bloomsql WHERE id = 9").count() === 0)
  }

  test("DESCRIBE HISTORY via SQL") {
    warehouse
    spark.sql("CREATE TABLE lake.bronze.hist AS SELECT 1 AS id")
    spark.sql("INSERT INTO lake.bronze.hist VALUES (2)")
    val ops = spark.sql("DESCRIBE HISTORY lake.bronze.hist")
      .select("operation").as[String].collect().toSeq
    assert(ops.contains("APPEND") &&
      (ops.contains("CREATE TABLE") || ops.contains("CREATE")))
    // LIMIT n = the newest n entries only, O(n) commit reads — the
    // big-table shape (a full history is O(retained commits))
    val limited = spark.sql("DESCRIBE HISTORY lake.bronze.hist LIMIT 1")
      .select("version").as[Long].collect().toSeq
    assert(limited === Seq(spark.sql("DESCRIBE HISTORY lake.bronze.hist")
      .select("version").as[Long].collect().max))
    // DESCRIBE TABLE still goes to the stock parser
    assert(spark.sql("DESCRIBE TABLE lake.bronze.hist").count() >= 1)
  }

  test("DESCRIBE DETAIL via SQL") {
    warehouse
    spark.sql("CREATE TABLE lake.bronze.det AS SELECT 1 AS id, 'x' AS s")
    spark.sql("INSERT INTO lake.bronze.det VALUES (2, 'y')")
    val d = spark.sql("DESCRIBE DETAIL lake.bronze.det").collect().head
    // CTAS = CREATE (v0) + data append (v1); the INSERT is v2
    assert(d.getAs[Long]("version") === 2L)
    assert(d.getAs[Long]("numFiles") >= 1L)
    assert(d.getAs[Long]("sizeInBytes") > 0L)
    assert(d.getAs[String]("location").endsWith("bronze/det"))
  }

  test("RESTORE TABLE TO VERSION AS OF via SQL") {
    warehouse
    spark.sql("CREATE TABLE lake.bronze.rest AS SELECT 1 AS id")
    spark.sql("INSERT INTO lake.bronze.rest VALUES (2), (3)")
    assert(spark.sql("SELECT count(*) FROM lake.bronze.rest").as[Long].head() === 3)
    // CTAS = CREATE (v0, empty) + the data append (v1)
    spark.sql("RESTORE TABLE lake.bronze.rest TO VERSION AS OF 1")
    assert(spark.sql("SELECT count(*) FROM lake.bronze.rest").as[Long].head() === 1)
    // the restore itself is a commit; the pre-restore state is reachable
    assert(spark.sql(
      "SELECT count(*) FROM lake.bronze.rest VERSION AS OF 2").as[Long].head() === 3)
  }
}
