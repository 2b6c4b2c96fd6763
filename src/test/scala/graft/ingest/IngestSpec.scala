package graft.ingest

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.lake.LakeTable
import graft.streaming.LakeStreaming

/** End-to-end ingestion flows mirroring the reference's notebooks:
  * incremental JSON landing→bronze with exactly-once re-runs
  * (`02.ingesta_incremental [json].py:145-148` invariant), schema hints,
  * rescue column, archiving, and the Kafka-envelope event path.
  */
class IngestSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def tmp(): Path = Files.createTempDirectory("ingest-")

  private def writeJson(dir: Path, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  private def runWave(ds: IngestDataset): Unit = {
    val engine = new Engine(spark, Seq(ds))
    engine.start()
    engine.awaitAll()
  }

  test("incremental ingest: two waves, re-run is exactly-once") {
    val root = tmp()
    val landing = root.resolve("landing")
    val ds = IngestDataset(
      name = "orders_json",
      sourceDir = landing.toString,
      tableDir = root.resolve("bronze").toString,
      checkpointDir = root.resolve("ckpt").toString,
      loader = LoaderConfig(schemaLocation = root.resolve("schema").toString))

    writeJson(landing, "w1.json", Seq(
      """{"id": 1, "item": "pizza", "qty": 2}""",
      """{"id": 2, "item": "salad", "qty": 1}"""))
    runWave(ds)
    val t = LakeTable.forPath(spark, ds.tableDir)
    assert(t.toDF.count() === 2)

    // second wave adds one file; first file must NOT be re-ingested
    writeJson(landing, "w2.json", Seq("""{"id": 3, "item": "cola", "qty": 6}"""))
    runWave(ds)
    assert(t.toDF.count() === 3)
    assert(t.toDF.select("id").as[Long].collect().sorted === Array(1L, 2L, 3L))

    // idle re-run: nothing new
    runWave(ds)
    assert(t.toDF.count() === 3)

    // lineage metadata present (reference distinct-filename check)
    val files = t.toDF.select("_ingested_filename").distinct().count()
    assert(files === 2)
  }

  test("dataset tableProperties land on the created bronze table") {
    // the config-driven way to get CDC-enabled / auto-compacting bronze
    // tables straight from the engine config — no separate DDL step
    val root = tmp()
    val landing = root.resolve("landing")
    val ds = IngestDataset(
      name = "orders_props",
      sourceDir = landing.toString,
      tableDir = root.resolve("bronze").toString,
      checkpointDir = root.resolve("ckpt").toString,
      loader = LoaderConfig(schemaLocation = root.resolve("schema").toString),
      tableProperties = Map(
        graft.lake.Cdc.PROP -> "true",
        LakeTable.AUTO_COMPACT_PROP -> "true",
        LakeTable.AUTO_COMPACT_MIN_FILES_PROP -> "3"))

    for (w <- 1 to 4) {
      writeJson(landing, s"w$w.json",
        Seq(s"""{"id": $w, "item": "x$w", "qty": $w}"""))
      runWave(ds)
    }
    val t = LakeTable.forPath(spark, ds.tableDir)
    assert(t.toDF.count() === 4)
    val props = t.snapshot.metaData.properties
    assert(props.get(graft.lake.Cdc.PROP).contains("true"))
    // CDC recorded every wave's inserts
    assert(t.tableChanges(0).where($"_change_type" === "insert").count() === 4)
    // auto-compaction fired once the per-epoch files crossed minFiles
    assert(t.history.where(col("operation") === "COMPACT").count() > 0,
      "auto-compaction must trigger from the engine's epoch appends")
    assert(t.snapshot.files.size < 4)
  }

  test("schema hints override inferred types") {
    val root = tmp()
    val landing = root.resolve("landing")
    writeJson(landing, "a.json", Seq("""{"movieId": 5, "rating": 4}"""))
    val loader = new IncrementalLoader(spark, landing.toString,
      LoaderConfig(schemaLocation = root.resolve("schema").toString,
        schemaHints = Some("movieId long, rating double")))
    val s = loader.resolveSchema()
    assert(s("movieId").dataType.typeName === "long")
    assert(s("rating").dataType.typeName === "double")
  }

  test("rescue column captures rows that do not parse") {
    val root = tmp()
    val landing = root.resolve("landing")
    val ds = IngestDataset(
      name = "rescue",
      sourceDir = landing.toString,
      tableDir = root.resolve("bronze").toString,
      checkpointDir = root.resolve("ckpt").toString,
      loader = LoaderConfig(schemaLocation = root.resolve("schema").toString,
        schemaHints = Some("id bigint, qty bigint")))
    writeJson(landing, "a.json", Seq(
      """{"id": 1, "qty": 2}""",
      """{"id": 2, "qty": "NOT_A_NUMBER"}"""))
    runWave(ds)
    val t = LakeTable.forPath(spark, ds.tableDir)
    assert(t.toDF.count() === 2)
    assert(t.toDF.where(col("_rescued_data").isNotNull).count() === 1)
    // the invariant probe the reference runs on silver:
    assert(t.toDF.where(col("_rescued_data").isNotNull &&
      col("id").isNull).count() <= 1)
  }

  test("schema evolution across restarts (addNewColumns)") {
    val root = tmp()
    val landing = root.resolve("landing")
    val ds = IngestDataset(
      name = "evolve",
      sourceDir = landing.toString,
      tableDir = root.resolve("bronze").toString,
      checkpointDir = root.resolve("ckpt").toString,
      loader = LoaderConfig(schemaLocation = root.resolve("schema").toString))
    writeJson(landing, "a.json", Seq("""{"id": 1}"""))
    runWave(ds)
    writeJson(landing, "b.json", Seq("""{"id": 2, "extra": "hello"}"""))
    runWave(ds) // restart picks up the new column
    val t = LakeTable.forPath(spark, ds.tableDir)
    assert(t.toDF.schema.fieldNames.contains("extra"))
    assert(t.toDF.where(col("extra") === "hello").count() === 1)
  }

  test("landing→raw archiving moves processed files") {
    val root = tmp()
    val landing = root.resolve("landing")
    val raw = root.resolve("raw")
    val ds = IngestDataset(
      name = "archive",
      sourceDir = landing.toString,
      tableDir = root.resolve("bronze").toString,
      checkpointDir = root.resolve("ckpt").toString,
      loader = LoaderConfig(schemaLocation = root.resolve("schema").toString),
      archiveDir = Some(raw.toString))
    writeJson(landing, "a.json", Seq("""{"id": 1}"""))
    runWave(ds)
    assert(LakeTable.forPath(spark, ds.tableDir).toDF.count() === 1)
    // cleanSource=archive moves the file (under archiveDir + original
    // path) only after the batch commits; a second wave triggers the
    // cleaner for the first file deterministically.
    writeJson(landing, "b.json", Seq("""{"id": 2}"""))
    runWave(ds)
    def archived(n: String) = {
      val found = new scala.collection.mutable.ArrayBuffer[Path]()
      def walk(d: Path): Unit = if (Files.isDirectory(d))
        Files.list(d).iterator().asScala.foreach { p =>
          if (Files.isDirectory(p)) walk(p)
          else if (p.getFileName.toString == n) found += p
        }
      walk(raw)
      found.nonEmpty
    }
    val deadline = System.currentTimeMillis() + 30000
    while (!archived("a.json") && System.currentTimeMillis() < deadline)
      Thread.sleep(250)
    assert(archived("a.json"), "a.json was not archived to raw")
    assert(!Files.exists(landing.resolve("a.json")))
  }

  test("event envelope: singleplex decode and multiplex routing") {
    val root = tmp()
    val eventsDir = root.resolve("events")
    writeJson(eventsDir, "e.json", Seq(
      """{"key":"u1","value":"{\"order\":1,\"pizzas\":[{\"pizzaName\":\"m\",\"additionalToppings\":[\"x\"]}]}","topic":"pizza","partition":0,"offset":0,"timestamp":"2024-01-01T00:00:00Z"}""",
      """{"key":"u2","value":"{\"order\":2,\"pizzas\":[]}","topic":"pizza","partition":1,"offset":1,"timestamp":"2024-01-01T00:00:01Z"}""",
      """{"key":"u3","value":"{\"click\":true}","topic":"web","partition":0,"offset":2,"timestamp":"2024-01-01T00:00:02Z"}"""))

    // singleplex: one topic decoded against its DDL
    val env = EventIngest.envelopeStream(spark, eventsDir.toString)
    val decoded = EventIngest.decodeSingleplex(
      env.where(col("topic") === "pizza"),
      "order bigint, pizzas array<struct<pizzaName:string, additionalToppings:array<string>>>")
    val q = LakeStreaming.sink(decoded, root.resolve("pizza_bronze").toString,
      "pizza", root.resolve("ckpt1").toString)
    q.awaitTermination()
    val pizza = LakeTable.forPath(spark, root.resolve("pizza_bronze").toString).toDF
    assert(pizza.count() === 2)
    assert(pizza.schema.fieldNames.toSet.contains("_topic"))
    assert(pizza.where(col("order") === 1).select(size(col("pizzas"))).head().getInt(0) === 1)

    // multiplex: all topics, partitioned by _topic
    val env2 = EventIngest.envelopeStream(spark, eventsDir.toString)
    val q2 = LakeStreaming.sink(EventIngest.multiplexBronze(env2),
      root.resolve("multi_bronze").toString, "multi",
      root.resolve("ckpt2").toString, partitionBy = Seq("_topic"))
    q2.awaitTermination()
    val multi = LakeTable.forPath(spark, root.resolve("multi_bronze").toString)
    assert(multi.toDF.count() === 3)
    assert(multi.read(col("_topic") === "web").inputFiles
      .forall(_.contains("_topic=web")))
  }

  test("lake table as stream source feeds a downstream aggregate") {
    val root = tmp()
    val src = root.resolve("src_table").toString
    LakeTable.create(spark, src,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "k", "v"))

    val stream = LakeStreaming.asStream(spark, src)
    val q = LakeStreaming.sink(stream, root.resolve("sink").toString,
      "downstream", root.resolve("ckpt").toString)
    q.awaitTermination()
    assert(LakeTable.forPath(spark, root.resolve("sink").toString).toDF.count() === 2)

    // append upstream → only the new rows flow on the next run
    LakeTable.forPath(spark, src)
      .append(Seq((3L, "c", 30.0)).toDF("id", "k", "v"))
    val q2 = LakeStreaming.sink(LakeStreaming.asStream(spark, src),
      root.resolve("sink").toString, "downstream", root.resolve("ckpt").toString)
    q2.awaitTermination()
    assert(LakeTable.forPath(spark, root.resolve("sink").toString).toDF.count() === 3)
  }

  test("lake table as stream does not re-emit the rows a DELETE rewrote") {
    val root = tmp()
    val src = root.resolve("dml_src").toString
    val t = LakeTable.create(spark, src,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "k", "v").coalesce(1))
    def run(): Unit = LakeStreaming.sink(LakeStreaming.asStream(spark, src),
      root.resolve("dml_sink").toString, "dml", root.resolve("ckpt_dml").toString)
      .awaitTermination()
    run()
    // copy-on-write DELETE: row 2 moves into a new file without row 1
    t.delete(col("id") === 1L, useDvs = false)
    t.append(Seq((3L, "c", 30.0)).toDF("id", "k", "v"))
    run()
    val out = LakeTable.forPath(spark, root.resolve("dml_sink").toString).toDF
    assert(out.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("lake table as stream works for partitioned tables") {
    val root = tmp()
    val src = root.resolve("parted_src").toString
    LakeTable.create(spark,
      src,
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)).toDF("id", "k", "v"),
      partitionBy = Seq("k"))
    val stream = LakeStreaming.asStream(spark, src)
    val q = LakeStreaming.sink(stream, root.resolve("parted_sink").toString,
      "parted", root.resolve("ckpt_parted").toString)
    q.awaitTermination()
    val out = LakeTable.forPath(spark, root.resolve("parted_sink").toString).toDF
    assert(out.count() === 3)
    // partition column survives the stream round-trip
    assert(out.where(col("k") === "a").count() === 2)
  }
}
