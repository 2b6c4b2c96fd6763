package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LakeTableSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("lake-test-").toString

  private def sampleDF = Seq(
    (1L, "AZ", 10.0), (2L, "CA", 20.0), (3L, "CA", 30.0),
    (4L, "NY", 40.0), (5L, "TX", 50.0))
    .toDF("id", "state", "amount")

  test("create + read round-trip") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    assert(t.version === 0)
    assert(t.toDF.count() === 5)
    assert(t.toDF.schema.fieldNames.toSeq === Seq("id", "state", "amount"))
  }

  test("append is transactional and visible") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    t.append(Seq((6L, "WA", 60.0)).toDF("id", "state", "amount"))
    assert(t.version === 1)
    assert(t.toDF.count() === 6)
  }

  test("schema enforcement rejects new columns; mergeSchema evolves") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    val extra = Seq((7L, "OR", 70.0, "x")).toDF("id", "state", "amount", "tag")
    intercept[IllegalArgumentException] { t.append(extra) }
    t.append(extra, mergeSchema = true)
    val df = t.toDF
    assert(df.schema.fieldNames.contains("tag"))
    // old rows read null for the evolved column
    assert(df.where($"id" === 1 && $"tag".isNull).count() === 1)
    assert(df.where($"tag" === "x").count() === 1)
  }

  test("missing columns fill with null on append") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    t.append(Seq((8L, "NV")).toDF("id", "state"))
    assert(t.toDF.where($"id" === 8 && $"amount".isNull).count() === 1)
  }

  test("a lake read appends back into a table whose array elements are declared non-null") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    val rows = Seq(Row(1L, Seq(1.5f, -0.5f)), Row(2L, Seq.empty[Float]), Row(3L, null))
    val t = LakeTable.create(spark, tmpDir(),
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
    // a file scan reads the elements as nullable: ARRAY<FLOAT> → ARRAY<FLOAT NOT NULL>
    assert(t.toDF.schema("v").dataType === ArrayType(FloatType, containsNull = true))
    t.append(t.toDF)
    assert(t.snapshot.schema("v").dataType === ArrayType(FloatType, containsNull = false))
    def sorted(rs: Seq[Row]) = rs.map(r => (r.getLong(0), Option(r.getSeq[Float](1))))
      .sortBy(_._1)
    assert(sorted(t.toDF.collect().toSeq) === sorted(rows ++ rows))
  }

  test("a null where the table declares nested values non-null fails the write") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def frame(schema: StructType, rows: Row*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def withV(dt: DataType) = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("v", dt)))
    def elem(nullable: Boolean) = StructType(Seq(StructField("x", FloatType, nullable)))
    // declared type, a frame row with a null where it declares none, a legal row
    val cases = Seq[(DataType, DataType, Row, Row)](
      (ArrayType(FloatType, containsNull = false), ArrayType(FloatType),
        Row(1L, Seq[java.lang.Float](1f, null)), Row(1L, Seq(1f))),
      (MapType(StringType, FloatType, valueContainsNull = false), MapType(StringType, FloatType),
        Row(1L, Map("a" -> null)), Row(1L, Map("a" -> 1f))),
      (ArrayType(elem(false)), ArrayType(elem(true)),
        Row(1L, Seq(Row(null))), Row(1L, Seq(null, Row(2f)))))
    cases.foreach { case (declared, given, bad, good) =>
      val t = LakeTable.create(spark, tmpDir(), frame(withV(declared), good))
      val err = intercept[Exception](t.append(frame(withV(given), bad)))
      def messages(e: Throwable): Seq[String] =
        if (e == null) Nil else String.valueOf(e.getMessage) +: messages(e.getCause)
      assert(messages(err).exists(_.contains("NULL inside column v")), s"$declared: $err")
      assert(t.version === 0L, declared)
      t.append(frame(withV(given), good))
      assert(t.toDF.count() === 2L, declared)
    }
  }

  test("partitioned table: layout, pruning, partition values") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF, partitionBy = Seq("state"))
    assert(new java.io.File(path, "state=CA").isDirectory)
    val ca = t.read($"state" === "CA")
    assert(ca.count() === 2)
    // pruning: only CA files are read
    assert(ca.inputFiles.forall(_.contains("state=CA")))
    // partition column reconstituted with the right type + order
    assert(t.toDF.schema.fieldNames.toSeq === Seq("id", "state", "amount"))
  }

  test("data skipping prunes files by min/max stats") {
    val path = tmpDir()
    // 4 files with disjoint id ranges
    val df = spark.range(0, 400).select(
      $"id", ($"id" % 4).cast("int").as("bucket"), rand(42).as("v"))
      .repartitionByRange(4, $"id")
    val t = LakeTable.create(spark, path, df)
    val all = t.toDF.inputFiles.length
    val some = t.read($"id" < 50).inputFiles.length
    assert(all === 4)
    assert(some === 1)
    assert(t.read($"id" < 50).count() === 50)
    // skipping must never drop matching rows
    assert(t.read($"id" >= 350).count() === 50)
  }

  test("overwrite replaces content; time travel reads the past") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    t.overwrite(Seq((99L, "ZZ", 0.0)).toDF("id", "state", "amount"))
    assert(t.toDF.count() === 1)
    assert(t.asOf(0).toDF.count() === 5)
    val hist = t.history.collect()
    assert(hist.map(_.getString(2)).toSeq === Seq("OVERWRITE", "CREATE"))
  }

  test("create(mode=overwrite) over an existing table applies requested properties") {
    val path = tmpDir()
    LakeTable.create(spark, path, sampleDF,
      properties = Map("keep.me" -> "yes"))
    // the caller's properties were silently dropped when the path
    // pre-existed — a re-curated corpus lost its change-data-feed flag
    val t = LakeTable.create(spark, path,
      Seq((99L, "ZZ", 0.0)).toDF("id", "state", "amount"),
      mode = "overwrite", properties = Map(Cdc.PROP -> "true"))
    val props = t.snapshot.metaData.properties
    assert(props.get(Cdc.PROP).contains("true"),
      "requested property must apply on the existed-overwrite path")
    assert(props.get("keep.me").contains("yes"),
      "untouched existing properties survive the overwrite")
    // no properties requested → pure overwrite, no extra commit
    val v = t.version
    LakeTable.create(spark, path,
      Seq((1L, "AA", 1.0)).toDF("id", "state", "amount"), mode = "overwrite")
    assert(LakeTable.forPath(spark, path).version === v + 1)
  }

  test("delete removes only matching rows, touches only matching files") {
    val path = tmpDir()
    val df = spark.range(0, 100).select($"id", ($"id" % 10).cast("double").as("v"))
      .repartitionByRange(4, $"id")
    val t = LakeTable.create(spark, path, df)
    val deleted = t.delete($"id" >= 90)
    assert(deleted === 10)
    assert(t.toDF.count() === 90)
    assert(t.toDF.where($"id" >= 90).count() === 0)
    // small fraction of one file → a deletion vector on exactly that
    // file, no rewrite at all
    val last = t.history.collect().head
    assert(last.getString(2) === "DELETE")
    assert(last.getLong(5) === 0) // numRemovedFiles: nothing rewritten
    assert(t.snapshot.files.count(f => f.dvPath.isDefined || f.dvInline.isDefined) === 1)

    // classic copy-on-write path still works when DVs are disabled
    val deleted2 = t.delete($"id" >= 80, useDvs = false)
    assert(deleted2 === 10)
    assert(t.toDF.count() === 80)
    assert(!t.snapshot.files.exists(f => f.dvPath.isDefined || f.dvInline.isDefined)) // rewrite cleared it
  }

  test("update rewrites matching rows") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    t.update($"state" === "CA", Map("amount" -> ($"amount" * 1.10)))
    val ca = t.toDF.where($"state" === "CA").select("amount").as[Double].collect().sorted
    assert(ca === Array(22.0, 33.0))
    // non-matching untouched
    assert(t.toDF.where($"state" === "AZ").select("amount").as[Double].head() === 10.0)
  }

  test("merge upsert: update matched, insert unmatched") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    val source = Seq((2L, "CA", 999.0), (10L, "FL", 100.0)).toDF("id", "state", "amount")
    t.merge(source, expr("t.id = s.id"))
    val out = t.toDF.orderBy("id").collect()
    assert(out.length === 6)
    assert(t.toDF.where($"id" === 2).select("amount").as[Double].head() === 999.0)
    assert(t.toDF.where($"id" === 10).select("state").as[String].head() === "FL")
    // untouched rows intact
    assert(t.toDF.where($"id" === 1).select("amount").as[Double].head() === 10.0)
  }

  test("merge with delete clause") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    val source = Seq((1L, ""), (2L, "")).toDF("id", "x")
    t.merge(source, expr("t.id = s.id"),
      whenMatchedUpdate = None, whenMatchedDelete = true,
      whenNotMatchedInsert = None)
    assert(t.toDF.count() === 3)
    assert(t.toDF.where($"id" <= 2).count() === 0)
  }

  test("merge rejects ambiguous multi-match, naming an offending row") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    val dup = Seq((2L, "CA", 1.0), (2L, "CA", 2.0)).toDF("id", "state", "amount")
    val e = intercept[IllegalArgumentException] {
      t.merge(dup, expr("t.id = s.id"))
    }
    assert(e.getMessage.contains("matched 2 times"),
      s"error should carry the example row: ${e.getMessage}")
  }

  test("idempotent append skips replayed batch") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    val batch = Seq((6L, "WA", 60.0)).toDF("id", "state", "amount")
    assert(t.idempotentAppend(batch, "app1", 0L) === true)
    assert(t.idempotentAppend(batch, "app1", 0L) === false) // replay
    assert(t.idempotentAppend(batch, "app1", 1L) === true)
    assert(t.toDF.count() === 7)
  }

  test("concurrent appends both land (optimistic rebase)") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        val t2 = LakeTable.forPath(spark, path)
        t2.append(Seq((100L + i, s"S$i", i.toDouble)).toDF("id", "state", "amount"))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(t.toDF.count() === 9)
    assert(t.version === 4)
  }

  test("convert adopts an existing parquet dir; partitioned requires spec") {
    val plain = tmpDir()
    sampleDF.write.mode("overwrite").parquet(plain)
    val t = LakeTable.convert(spark, plain)
    assert(t.toDF.count() === 5)

    val parted = tmpDir()
    sampleDF.write.mode("overwrite").partitionBy("state").parquet(parted)
    intercept[IllegalArgumentException] { LakeTable.convert(spark, parted) }
    val t2 = LakeTable.convert(spark, parted, Some("state string"))
    assert(t2.toDF.count() === 5)
    assert(t2.read($"state" === "CA").count() === 2)
  }

  test("vacuum deletes removed files after retention, keeps live ones") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    t.overwrite(Seq((99L, "ZZ", 0.0)).toDF("id", "state", "amount"))
    // within retention: nothing deleted, time travel intact
    assert(t.vacuum(retentionMs = 1000L * 3600).isEmpty)
    assert(t.asOf(0).toDF.count() === 5)
    // zero retention: version-0 files (removed by the overwrite) go away
    val deleted = t.vacuum(retentionMs = 0L)
    assert(deleted.nonEmpty)
    assert(t.toDF.count() === 1) // live data intact
  }

  test("asOfTimestamp resolves to the right version") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    t.append(Seq((6L, "WA", 60.0)).toDF("id", "state", "amount"))
    assert(t.asOfTimestamp(mid).toDF.count() === 5)
    assert(t.asOfTimestamp(System.currentTimeMillis()).toDF.count() === 6)
  }

  test("checkpoint kicks in after many commits") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, Seq((0L, "A", 0.0)).toDF("id", "state", "amount"))
    for (i <- 1 to 12)
      t.append(Seq((i.toLong, "A", i.toDouble)).toDF("id", "state", "amount"))
    assert(t.toDF.count() === 13)
    val ckpts = new java.io.File(path, "_lake_log").list().count(_.contains("checkpoint"))
    assert(ckpts >= 1)
    // snapshot from checkpoint equals snapshot from full replay
    assert(t.asOf(12).toDF.count() === 13)
  }

  test("ALTER TABLE ADD COLUMN + SET TBLPROPERTIES are metadata commits") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    t.alterAddColumn("note", "string")
    assert(t.toDF.schema.fieldNames.contains("note"))
    assert(t.toDF.where($"note".isNotNull).count() === 0)
    t.append(Seq((6L, "WA", 60.0, "hi")).toDF("id", "state", "amount", "note"))
    assert(t.toDF.where($"note" === "hi").count() === 1)
    t.setProperties(Map("delta.columnMapping.mode" -> "name"))
    assert(t.snapshot.metaData.properties("delta.columnMapping.mode") === "name")
    intercept[IllegalArgumentException] { t.alterAddColumn("note", "string") }
  }

  test("compact merges small files into few, content preserved") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    for (i <- 0 until 6)
      t.append(Seq((100L + i, "XX", i.toDouble)).toDF("id", "state", "amount"))
    val before = t.toDF.inputFiles.length
    val rows = t.toDF.count()
    t.compact()
    assert(t.toDF.inputFiles.length < before)
    assert(t.toDF.count() === rows)
    assert(t.history.head().getString(2) === "COMPACT")
  }

  test("compact is selective: at-target files stay untouched metadata") {
    val path = tmpDir()
    // one big file (well over the 16 KB target) + four 1-row stragglers
    val big = spark.range(0, 100000)
      .select($"id", lit("CA").as("state"), ($"id" * 1.5).as("amount"))
    val t = LakeTable.create(spark, path, big.coalesce(1))
    val bigFile = t.snapshot.files match {
      case Seq(only) => only
      case fs => fail(s"expected 1 initial file, got ${fs.size}")
    }
    assert(bigFile.size > 16384)
    for (i <- 0 until 4)
      t.append(Seq((200000L + i, "XX", i.toDouble)).toDF("id", "state", "amount"))
    t.compact(targetFileBytes = 16384)
    val after = t.snapshot.files
    // the big file survives by path (no rewrite); the stragglers merged to 1
    assert(after.exists(_.path === bigFile.path),
      s"big file was rewritten: ${after.map(_.path)}")
    assert(after.size === 2, s"expected big+merged, got ${after.map(_.path)}")
    assert(t.toDF.count() === 100004)
    // nothing left to gain → compact is a no-op (no new commit)
    val v = t.version
    t.compact(targetFileBytes = 16384)
    assert(t.version === v)
  }

  test("compact bin-packs per partition directory") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF, partitionBy = Seq("state"))
    for (i <- 0 until 3)
      t.append(Seq((300L + i, "CA", i.toDouble), (400L + i, "TX", i.toDouble))
        .toDF("id", "state", "amount"))
    t.compact()
    val byPart = t.snapshot.files.groupBy(_.partitionValues("state"))
    // every compacted dir collapses to one file
    assert(byPart("CA").size === 1 && byPart("TX").size === 1,
      s"per-dir counts: ${byPart.view.mapValues(_.size).toMap}")
    assert(t.toDF.count() === 11)
  }

  test("OPTIMIZE WHERE compacts only the matching partitions") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF, partitionBy = Seq("state"))
    for (i <- 0 until 3)
      t.append(Seq((500L + i, "CA", i.toDouble), (600L + i, "TX", i.toDouble))
        .toDF("id", "state", "amount"))
    val txBefore = t.snapshot.files.filter(_.partitionValues("state") == "TX")
    t.compact(where = Some($"state" === "CA"))
    val byPart = t.snapshot.files.groupBy(_.partitionValues("state"))
    assert(byPart("CA").size === 1)
    // TX untouched — same files by path
    assert(byPart("TX").map(_.path).toSet === txBefore.map(_.path).toSet)
    // non-partition predicate is an error, not a full pass
    val e = intercept[IllegalArgumentException] {
      t.compact(where = Some($"amount" > 0))
    }
    assert(e.getMessage.contains("partition columns only"))
    // SQL form through the catalog
    val wh = java.nio.file.Files.createTempDirectory("opt-wh-").toString
    spark.conf.set("spark.sql.catalog.optw", "org.apache.spark.sql.graft.LakeCatalog")
    spark.conf.set("spark.sql.catalog.optw.warehouse", wh)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$wh/db"))
    val t2 = LakeTable.create(spark, s"$wh/db/t", sampleDF,
      partitionBy = Seq("state"))
    for (i <- 0 until 2)
      t2.append(Seq((700L + i, "CA", 1.0), (800L + i, "NY", 1.0))
        .toDF("id", "state", "amount"))
    val nyBefore = t2.snapshot.files.filter(_.partitionValues("state") == "NY")
    spark.sql("OPTIMIZE optw.db.t WHERE state = 'CA'")
    val after = t2.snapshot.files.groupBy(_.partitionValues("state"))
    assert(after("CA").size === 1)
    assert(after("NY").map(_.path).toSet === nyBefore.map(_.path).toSet)
  }

  test("OPTIMIZE WHERE ZORDER BY clusters only the matching partitions") {
    val path = tmpDir()
    // two partitions, 4 scrambled files each: full id range per file
    val df = spark.range(0, 400)
      .select($"id", (when($"id" % 2 === 0, "CA").otherwise("TX")).as("state"),
        rand(7).as("v"))
      .repartition(4)
    val t = LakeTable.create(spark, path, df, partitionBy = Seq("state"))
    val txBefore = t.snapshot.files.filter(_.partitionValues("state") == "TX")
    t.zOrderByWhere($"state" === "CA", "id")
    val after = t.snapshot.files
    // TX untouched; CA clustered → id-predicates prune CA files
    assert(after.filter(_.partitionValues("state") == "TX").map(_.path).toSet ===
      txBefore.map(_.path).toSet)
    val caPruned = t.read($"state" === "CA" && $"id" < 50).inputFiles.length
    assert(caPruned === 1, s"expected 1 CA file after clustering, got $caPruned")
    assert(t.toDF.count() === 400)
    // non-partition WHERE rejected
    intercept[IllegalArgumentException] {
      t.zOrderByWhere($"v" > 0, "id")
    }
  }

  test("optimizeBy makes skipping selective on the clustered column") {
    val path = tmpDir()
    // 4 files each containing the FULL id range → skipping can't prune
    val df = spark.range(0, 400).select($"id", rand(1).as("v")).repartition(4)
    val t = LakeTable.create(spark, path, df)
    assert(t.read($"id" < 50).inputFiles.length === 4) // nothing pruned
    t.optimizeBy("id")
    val after = t.read($"id" < 50).inputFiles.length
    assert(after === 1, s"expected 1 file after clustering, got $after")
    assert(t.toDF.count() === 400)
  }

  test("skipping stays correct under schema evolution (SURVEY hard part c)") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path,
      spark.range(0, 100).select($"id", rand(3).as("v")).repartitionByRange(2, $"id"))
    // evolve: new column only present in newer files
    t.append(spark.range(100, 200)
      .select($"id", rand(4).as("v"), lit("tagged").as("tag"))
      .repartitionByRange(2, $"id"), mergeSchema = true)
    // filters on the evolved column must not drop old files (their rows
    // are all NULL for tag — IsNull matches them!)
    assert(t.read($"tag".isNull).count() === 100)
    assert(t.read($"tag" === "tagged").count() === 100)
    // range filter on id still prunes: 4 files total, id<50 hits 1
    assert(t.read($"id" < 50).inputFiles.length === 1)
    assert(t.read($"id" < 50).count() === 50)
  }

  test("rewrite aborts on concurrent commit; append rebases") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    val t2 = LakeTable.forPath(spark, path)
    // interleave: t reads snapshot, t2 commits, t's delete must abort...
    // simulate by publishing t2's append between t's snapshot and commit:
    // delete() resolves its own snapshot internally, so force the race by
    // pre-writing the next version id
    val snap = t.snapshot
    t2.append(Seq((50L, "ZZ", 1.0)).toDF("id", "state", "amount"))
    // delete re-reads latest snapshot, so it succeeds (no stale read) —
    // the conflict protection is about the SAME version slot:
    val deleted = t.delete($"id" === 50L)
    assert(deleted === 1)
    assert(t.version === snap.version + 2)
  }

  test("derived-column partition transform (YEAR-style, F17/Iceberg)") {
    val path = tmpDir()
    val df = spark.range(0, 100).select(
      $"id",
      to_timestamp(lit("2020-01-01")).plus(expr("make_interval(0,0,0,id*10)")).as("ts"))
      .withColumn("yr", year($"ts"))
    val t = LakeTable.create(spark, path, df, partitionBy = Seq("yr"))
    assert(t.toDF.count() === 100)
    val pruned = t.read($"yr" === 2020)
    assert(pruned.inputFiles.forall(_.contains("yr=2020")))
    assert(pruned.count() === t.toDF.where(year($"ts") === 2020).count())
  }

  test("restore rewinds current state without copying data") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    t.delete($"state" === "CA")
    t.append(Seq((6L, "WA", 60.0)).toDF("id", "state", "amount"))
    assert(t.toDF.count() === 4)
    t.restore(0L)
    assert(t.toDF.count() === 5)
    assert(t.toDF.where($"state" === "CA").count() === 2)
    // both pre- and post-restore states remain time-travelable
    assert(t.asOf(2).toDF.count() === 4)
    assert(t.history.head().getString(2) === "RESTORE")
  }

  test("12-way concurrent appends all land under contention") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF)
    val threads = (0 until 12).map { i =>
      new Thread(() => {
        val t2 = LakeTable.forPath(spark, path)
        t2.append(Seq((200L + i, s"C$i", i.toDouble)).toDF("id", "state", "amount"))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(t.toDF.count() === 17)
    assert(t.version === 12)
    assert(t.toDF.select("id").distinct().count() === 17)
  }

  test("Iceberg metadata tables: partitions/manifests/metadata_log_entries") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, sampleDF, partitionBy = Seq("state"))
    t.append(Seq((6L, "CA", 60.0)).toDF("id", "state", "amount"))

    // .partitions: per-partition file/row counts must agree with .files
    val parts = t.meta("partitions")
      .select("partition", "record_count", "file_count")
      .as[(String, Long, Long)].collect()
      .map { case (p, r, f) => p -> (r, f) }.toMap
    val fromFiles = t.snapshot.files.groupBy(_.partitionValues("state"))
      .map { case (st, fs) =>
        s"state=$st" -> (fs.flatMap(_.stats.map(_.numRecords)).sum, fs.size.toLong)
      }
    assert(parts === fromFiles)
    assert(parts("state=CA")._1 === 3) // 2 created + 1 appended

    // .manifests: one row per commit, add counts match the log
    val manifests = t.meta("manifests")
      .select("added_snapshot_id", "added_data_files_count")
      .as[(Long, Long)].collect().toMap
    assert(manifests.keySet === Set(0L, 1L))
    assert(manifests(1L) === 1L) // the append added one CA file

    // .metadata_log_entries: one row per commit, newest last
    val entries = t.meta("metadata_log_entries")
      .select("latest_snapshot_id").as[Long].collect().toSeq
    assert(entries === Seq(0L, 1L))
  }
}
