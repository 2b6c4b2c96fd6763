package graft.lake

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Footer-based stats must agree with the aggregation-job stats on every
  * supported type, and skipping behavior must be unchanged.
  */
class FooterStatsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  test("footer stats == job stats across types") {
    val dir = Files.createTempDirectory("footer-").toString
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val saved = spark.conf.getAll.get(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try footerMatchesJob(dir)
    finally saved.fold(spark.conf.unset(tsKey))(spark.conf.set(tsKey, _))
  }

  private def footerMatchesJob(dir: String): Unit = {
    val df = spark.range(0, 1000).select(
      $"id",
      ($"id" % 7).cast("int").as("i"),
      ($"id" * 1.5).as("d"),
      concat(lit("s"), lpad($"id".cast("string"), 4, "0")).as("s"),
      to_timestamp(lit("2021-06-01 00:00:00")).plus(
        expr("make_interval(0,0,0,0,0,cast(id as int),0)")).as("ts"),
      to_date(lit("2021-06-01")).as("dt"),
      when($"id" % 10 === 0, null).otherwise($"id").as("nullable"))
      .repartitionByRange(3, $"id")
    df.write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    val schema = spark.read.parquet(dir).schema

    val viaJob = Stats.collect(spark, schema, files)
    val viaFooter = Stats.collectFromFooters(spark, schema, files)

    assert(viaFooter.keySet === viaJob.keySet)
    viaJob.foreach { case (file, job) =>
      val foot = viaFooter(file)
      assert(foot.numRecords === job.numRecords, s"rows differ for $file")
      def same(a: String, b: String): Boolean =
        a == b || (try BigDecimal(a) == BigDecimal(b)
                   catch { case _: NumberFormatException => false })
      job.minValues.foreach { case (c, v) =>
        foot.minValues.get(c).foreach(fv =>
          assert(same(fv, v), s"min($c): footer=$fv job=$v"))
      }
      job.maxValues.foreach { case (c, v) =>
        foot.maxValues.get(c).foreach(fv =>
          assert(same(fv, v), s"max($c): footer=$fv job=$v"))
      }
      job.nullCount.foreach { case (c, v) =>
        foot.nullCount.get(c).foreach(fv => assert(fv === v, s"nulls($c)"))
      }
      // footer stats must cover the columns the job found rangeable
      assert(job.minValues.keySet.subsetOf(foot.minValues.keySet),
        s"footer missing ranges for ${job.minValues.keySet -- foot.minValues.keySet}")
    }
  }

  test("distributed footer collection == driver-loop collection") {
    // above spark.graft.stats.distributedThreshold the footer reads run
    // on executors (the CONVERT-of-a-big-table path); the result must be
    // byte-identical to the sequential driver loop
    val dir = Files.createTempDirectory("footer-dist-").toString
    spark.range(0, 600).select(
      $"id", ($"id" * 2.5).as("d"),
      concat(lit("k"), $"id".cast("string")).as("s"),
      when($"id" % 5 === 0, null).otherwise($"id").as("n"))
      .repartitionByRange(6, $"id")
      .write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    val schema = spark.read.parquet(dir).schema

    val viaDriver = Stats.collectFromFooters(spark, schema, files)
    spark.conf.set("spark.graft.stats.distributedThreshold", "1")
    val viaExec =
      try Stats.collectFromFooters(spark, schema, files)
      finally spark.conf.unset("spark.graft.stats.distributedThreshold")
    assert(viaExec === viaDriver)
    assert(viaExec.nonEmpty && viaExec.head._2.minValues.nonEmpty)
  }

  test("skipping via footer stats prunes like before") {
    val path = Files.createTempDirectory("footer-skip-").toString
    val df = spark.range(0, 400).select($"id", rand(5).as("v"))
      .repartitionByRange(4, $"id")
    val t = LakeTable.create(spark, path, df)
    assert(t.read($"id" < 50).inputFiles.length === 1)
    assert(t.read($"id" < 50).count() === 50)
    assert(t.read($"id" >= 350).count() === 50)
  }

  private def footer(file: String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }
  private def tsType(file: String) = {
    val schema = footer(file).getFileMetaData.getSchema
    schema.getType(schema.getFieldIndex("ts")).asPrimitiveType.getPrimitiveTypeName
  }
  /** Every lake file of `t` has an INT64 `ts` column with footer min/max
    * and `AddFile` stats. */
  private def assertInt64Timestamps(t: LakeTable): Unit =
    t.snapshot.files.foreach { f =>
      val abs = s"${t.path}/${f.path}"
      assert(tsType(abs) === PrimitiveTypeName.INT64, abs)
      val stats = footer(abs).getBlocks.asScala.head.getColumns.asScala
        .find(_.getPath.toDotString == "ts").get.getStatistics
      assert(stats.hasNonNullValue, s"$abs has no ts min/max in its footer")
      assert(f.stats.exists(s => s.minValues.contains("ts") && s.maxValues.contains("ts")))
    }
  private val tsKey = "spark.sql.parquet.outputTimestampType"

  test("lake writes keep the caller's parquet timestamp type; lake files stay INT64") {
    val wh = Files.createTempDirectory("ts-wh-").toString
    spark.conf.set("spark.sql.catalog.tsw", "org.apache.spark.sql.graft.LakeCatalog")
    spark.conf.set("spark.sql.catalog.tsw.warehouse", wh)
    val prior = spark.conf.getAll.get(tsKey)
    spark.conf.set(tsKey, "INT96")
    try {
      val rows = Seq((1L, "2021-06-01 10:00:00"), (2L, "2021-06-02 11:30:00"))
        .toDF("id", "s").select($"id", to_timestamp($"s").as("ts"))
      val t = LakeTable.create(spark, s"$wh/db/t", rows)
      t.append(rows)
      assert(spark.conf.get(tsKey) === "INT96", "a Scala append changed the session")
      spark.sql("INSERT INTO tsw.db.t VALUES (3, TIMESTAMP '2021-06-03 12:00:00')")
      assert(spark.conf.get(tsKey) === "INT96", "a SQL INSERT changed the session")
      assert(spark.sql("SELECT count(*) FROM tsw.db.t").as[Long].head() === 5)

      assert(t.snapshot.files.size >= 3)
      assertInt64Timestamps(t)
      // the caller's own parquet write still takes INT96
      val own = Files.createTempDirectory("ts-own-").toString + "/o"
      rows.coalesce(1).write.parquet(own)
      val part = new java.io.File(own).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      assert(tsType(part) === PrimitiveTypeName.INT96)
    } finally prior.fold(spark.conf.unset(tsKey))(spark.conf.set(tsKey, _))
  }

  test("concurrent lake writes on one session keep lake files INT64 and restore the caller's type") {
    // Scan-shaped appends run non-adaptively, repartitioned ones
    // adaptively, all on the caller's session: several writes overlap
    // on one session conf.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val prior = spark.conf.getAll.get(tsKey)
    spark.conf.set(tsKey, "INT96")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val rows = Seq((1L, "2021-06-01 10:00:00"), (2L, "2021-06-02 11:30:00"))
        .toDF("id", "s").select($"id", to_timestamp($"s").as("ts"))
      val t = LakeTable.create(spark, Files.createTempDirectory("ts-conc-").toString, rows)
      val writes = (0 until 16).map { i =>
        Future {
          if (i % 4 == 0) t.append(rows)
          else t.append(rows.repartition($"id"))
        }
      }
      Await.result(Future.sequence(writes), 5.minutes)
      assert(spark.conf.get(tsKey) === "INT96", "concurrent writes changed the session")
      assert(t.toDF.count() === 34)
      assertInt64Timestamps(t)
    } finally {
      pool.shutdown()
      prior.fold(spark.conf.unset(tsKey))(spark.conf.set(tsKey, _))
    }
  }
}
