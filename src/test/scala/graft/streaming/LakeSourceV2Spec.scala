package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.lake.LakeTable

/** The commit-log stream source (VERDICT r01 #9): exact version-range
  * batches, DML-safe (no re-emission of rewritten rows), startingVersion,
  * by path and by catalog name.
  */
class LakeSourceV2Spec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def readLake(path: String, extra: (String, String)*): DataFrame = {
    var r = spark.readStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", path)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  test("streams appends as exact version batches, across a MERGE silently") {
    val path = Files.createTempDirectory("lake-src-").toString
    val t = LakeTable.create(spark, path, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))

    val q = readLake(path).writeStream
      .format("memory").queryName("lake_src_merge")
      .option("checkpointLocation",
        Files.createTempDirectory("lake-src-ckpt-").toString)
      .start()
    try {
      q.processAllAvailable()
      def seen: Set[(Long, String)] =
        spark.table("lake_src_merge").as[(Long, String)].collect().toSet
      assert(seen === Set((1L, "a"), (2L, "b"))) // initial snapshot (v0)

      t.append(Seq((3L, "c")).toDF("id", "v"))
      q.processAllAvailable()
      assert(seen === Set((1L, "a"), (2L, "b"), (3L, "c")))

      // MERGE rewrites row 1 and inserts row 4: a change commit —
      // skipped, NOT re-emitted (Delta skipChangeCommits semantics)
      t.merge(Seq((1L, "a2"), (4L, "d")).toDF("id", "v"), expr("t.id = s.id"))
      q.processAllAvailable()
      assert(seen === Set((1L, "a"), (2L, "b"), (3L, "c")))

      // the stream keeps tailing appends AFTER the merge
      t.append(Seq((5L, "e")).toDF("id", "v"))
      q.processAllAvailable()
      assert(seen === Set((1L, "a"), (2L, "b"), (3L, "c"), (5L, "e")))
    } finally q.stop()
  }

  test("skipChangeCommits=false fails the stream at a rewrite commit") {
    val path = Files.createTempDirectory("lake-src-strict-").toString
    val t = LakeTable.create(spark, path, Seq((1L, "a")).toDF("id", "v"))
    t.delete($"id" === 1L)
    val q = readLake(path, "skipChangeCommits" -> "false").writeStream
      .format("memory").queryName("lake_src_strict")
      .option("checkpointLocation",
        Files.createTempDirectory("lake-src-ckpt2-").toString)
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("rewrites existing data") ||
      Option(e.getCause).exists(_.getMessage.contains("rewrites existing data")))
  }

  test("strict mode streams past REORG commits (dataChange=false semantics)") {
    // compaction moves rows between files without changing the table:
    // even skipChangeCommits=false must not fail on it — only commits
    // that CHANGE data (DML/overwrite) are strict-mode errors
    val path = Files.createTempDirectory("lake-src-reorg-").toString
    val t = LakeTable.create(spark, path, Seq((1L, "a")).toDF("id", "v"))
    val q = readLake(path, "skipChangeCommits" -> "false").writeStream
      .format("memory").queryName("lake_src_reorg")
      .option("checkpointLocation",
        Files.createTempDirectory("lake-src-ckpt-reorg-").toString)
      .start()
    try {
      q.processAllAvailable() // initial snapshot: (1,a)
      // the REORG lands MID-STREAM so the incremental range planner
      // (not the initial snapshot) has to classify it
      t.append(Seq((2L, "b")).toDF("id", "v"))
      t.compact()
      assert(t.snapshot.files.size === 1, "compaction must have fired")
      t.append(Seq((3L, "c")).toDF("id", "v"))
      q.processAllAvailable()
      val seen = spark.table("lake_src_reorg").as[(Long, String)].collect().toSet
      assert(seen === Set((1L, "a"), (2L, "b"), (3L, "c")),
        "REORG must be invisible, appends across it exactly-once")
    } finally q.stop()
  }

  test("startingVersion skips history before it") {
    val path = Files.createTempDirectory("lake-src-sv-").toString
    val t = LakeTable.create(spark, path, Seq((1L, "a")).toDF("id", "v")) // v0
    t.append(Seq((2L, "b")).toDF("id", "v")) // v1
    t.append(Seq((3L, "c")).toDF("id", "v")) // v2

    val q = readLake(path, "startingVersion" -> "2").writeStream
      .format("memory").queryName("lake_src_sv")
      .option("checkpointLocation",
        Files.createTempDirectory("lake-src-ckpt3-").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("lake_src_sv").as[(Long, String)].collect().toSet ===
        Set((3L, "c")))
    } finally q.stop()
  }

  test("readChangeFeed streams DML deltas including deletes") {
    val path = Files.createTempDirectory("lake-cdf-src-").toString
    val t = LakeTable.create(spark, path,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      properties = Map(graft.lake.Cdc.PROP -> "true"))

    val q = readLake(path, "readChangeFeed" -> "true").writeStream
      .format("memory").queryName("lake_cdf")
      .option("checkpointLocation",
        Files.createTempDirectory("lake-cdf-ckpt-").toString)
      .start()
    try {
      q.processAllAvailable()
      def seen: Set[(Long, String, String, Long)] =
        spark.table("lake_cdf")
          .select("id", "v", graft.lake.Cdc.CHANGE_TYPE, "_commit_version")
          .as[(Long, String, String, Long)].collect().toSet
      // initial snapshot arrives as derived inserts at v0
      assert(seen === Set((1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
        (3L, "c", "insert", 0L)))

      t.delete($"id" === 2L) // v1
      q.processAllAvailable()
      assert(seen.contains((2L, "b", "delete", 1L)))

      t.update($"id" === 3L, Map("v" -> lit("c2"))) // v2
      q.processAllAvailable()
      assert(seen.contains((3L, "c", "update_preimage", 2L)))
      assert(seen.contains((3L, "c2", "update_postimage", 2L)))

      // appends keep flowing as inserts
      t.append(Seq((4L, "d")).toDF("id", "v")) // v3
      q.processAllAvailable()
      assert(seen.contains((4L, "d", "insert", 3L)))
      // and compaction emits nothing
      t.compact()
      q.processAllAvailable()
      assert(seen.size === 7)
    } finally q.stop()
  }

  test("readChangeFeed derives delete+insert across an overwrite") {
    val path = Files.createTempDirectory("lake-cdf-ow-").toString
    val t = LakeTable.create(spark, path, Seq((1L, "a")).toDF("id", "v"),
      properties = Map(graft.lake.Cdc.PROP -> "true"))
    t.overwrite(Seq((2L, "b")).toDF("id", "v")) // v1
    val q = readLake(path, "readChangeFeed" -> "true").writeStream
      .format("memory").queryName("lake_cdf_ow")
      .option("checkpointLocation",
        Files.createTempDirectory("lake-cdf-ckpt2-").toString)
      .start()
    try {
      q.processAllAvailable()
      val seen = spark.table("lake_cdf_ow")
        .select("id", "v", graft.lake.Cdc.CHANGE_TYPE, "_commit_version")
        .as[(Long, String, String, Long)].collect().toSet
      assert(seen === Set(
        (1L, "a", "insert", 0L),        // create
        (1L, "a", "delete", 1L),        // overwrite removes the old row
        (2L, "b", "insert", 1L)))       // ...and inserts the new one
    } finally q.stop()
  }

  test("readChangeFeed fails at DML that recorded no change data") {
    val path = Files.createTempDirectory("lake-cdf-nocdf-").toString
    val t = LakeTable.create(spark, path, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.delete($"id" === 1L) // CDF off: no change data recorded
    val q = readLake(path, "readChangeFeed" -> "true").writeStream
      .format("memory").queryName("lake_cdf_nocdf")
      .option("checkpointLocation",
        Files.createTempDirectory("lake-cdf-ckpt3-").toString)
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def m(t: Throwable): String =
      Option(t).map(x => x.getMessage + Option(x.getCause).map(m).getOrElse("")).getOrElse("")
    assert(m(e).contains("change feed cannot stream past"))
  }

  test("DSv2 streaming SINK: writeStream lands atomic per-epoch commits") {
    val src = Files.createTempDirectory("sink-src-").toString
    val dst = Files.createTempDirectory("sink-dst-").toString + "/t"
    val ckpt = Files.createTempDirectory("sink-ckpt-").toString
    val srcT = LakeTable.create(spark, src, Seq((1L, "a")).toDF("id", "v"))
    LakeTable.create(spark, dst,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        srcT.snapshot.schema))

    def start() = readLake(src).writeStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .start()

    val q = start()
    try {
      q.processAllAvailable()
      val dstT = LakeTable.forPath(spark, dst)
      assert(dstT.toDF.as[(Long, String)].collect().toSet === Set((1L, "a")))
      srcT.append(Seq((2L, "b")).toDF("id", "v"))
      q.processAllAvailable()
      assert(dstT.toDF.count() === 2)
      // every commit is a dsv2 APPEND carrying the epoch txn marker
      val snap = dstT.snapshot
      assert(snap.txns.keys.exists(_.nonEmpty))
      assert(dstT.history.select("operation").as[String].collect()
        .count(_ == "APPEND") >= 2)
    } finally q.stop()

    // restart from the same checkpoint: no duplicate rows (epoch replay
    // hits the SetTxn idempotence guard, version offsets resume exactly)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(LakeTable.forPath(spark, dst).toDF.count() === 2)
    } finally q2.stop()
  }

  test("checkpoint recovery resumes at the exact version offset") {
    val path = Files.createTempDirectory("lake-src-rec-").toString
    val ckpt = Files.createTempDirectory("lake-src-ckpt4-").toString
    val t = LakeTable.create(spark, path, Seq((1L, "a")).toDF("id", "v"))

    // memory sink cannot recover from a checkpoint; foreachBatch can
    val buf = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, String)]()
    def start() = readLake(path).writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.as[(Long, String)].collect().foreach(buf.add)
      }
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    assert(buf.contains((1L, "a")))
    buf.clear()

    t.append(Seq((2L, "b")).toDF("id", "v")) // lands while stream is down

    val q2 = start()
    try {
      q2.processAllAvailable()
      // only the un-consumed version is replayed after recovery
      assert(buf.iterator().hasNext)
      assert(!buf.contains((1L, "a")))
      assert(buf.contains((2L, "b")))
    } finally q2.stop()
  }

  test("spark.readStream.table streams a catalog lake table") {
    val wh = Files.createTempDirectory("lake-rst-wh-").toString
    TestSpark.withCatalog("rst", wh) {
      Files.createDirectories(java.nio.file.Paths.get(s"$wh/db"))
      val t = LakeTable.create(spark, s"$wh/db/s",
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"))

      val q = spark.readStream.table("rst.db.s").writeStream
        .format("memory").queryName("lake_rst")
        .option("checkpointLocation",
          Files.createTempDirectory("lake-rst-ckpt-").toString)
        .start()
      try {
        q.processAllAvailable()
        def seen: Set[(Long, String)] =
          spark.table("lake_rst").as[(Long, String)].collect().toSet
        assert(seen === Set((1L, "a"), (2L, "b")))
        t.append(Seq((3L, "c")).toDF("id", "v"))
        q.processAllAvailable()
        assert(seen === Set((1L, "a"), (2L, "b"), (3L, "c")))
        // DML is a change commit: skipped, not re-emitted
        t.delete($"id" === 1L, useDvs = false)
        t.append(Seq((4L, "d")).toDF("id", "v"))
        q.processAllAvailable()
        assert(seen === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
      } finally q.stop()
      // batch reads through the same catalog still work
      assert(spark.table("rst.db.s").count() === 3)
    }
  }

  test("readStream.table with readChangeFeed streams the CDF") {
    val wh = Files.createTempDirectory("lake-rstcdf-wh-").toString
    TestSpark.withCatalog("rstc", wh) {
      Files.createDirectories(java.nio.file.Paths.get(s"$wh/db"))
      val t = LakeTable.create(spark, s"$wh/db/cdf",
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
        properties = Map(graft.lake.Cdc.PROP -> "true"))
      val q = spark.readStream
        .option("readChangeFeed", "true")
        .table("rstc.db.cdf")
        .writeStream
        .format("memory").queryName("lake_rstcdf")
        .option("checkpointLocation",
          Files.createTempDirectory("lake-rstcdf-ckpt-").toString)
        .start()
      try {
        q.processAllAvailable()
        def seen: Set[(Long, String, String, Long)] =
          spark.table("lake_rstcdf")
            .select("id", "v", graft.lake.Cdc.CHANGE_TYPE, "_commit_version")
            .as[(Long, String, String, Long)].collect().toSet
        assert(seen === Set((1L, "a", "insert", 0L), (2L, "b", "insert", 0L)))
        t.delete($"id" === 1L) // v1
        q.processAllAvailable()
        assert(seen.contains((1L, "a", "delete", 1L)))
      } finally q.stop()
    }
  }

  test("startingVersion option applies to readStream.table") {
    val wh = Files.createTempDirectory("lake-rst2-wh-").toString
    TestSpark.withCatalog("rst2", wh) {
      Files.createDirectories(java.nio.file.Paths.get(s"$wh/db"))
      val t = LakeTable.create(spark, s"$wh/db/s2", Seq((1L, "a")).toDF("id", "v"))
      t.append(Seq((2L, "b")).toDF("id", "v")) // v1
      val q = spark.readStream.option("startingVersion", 1)
        .table("rst2.db.s2").writeStream
        .format("memory").queryName("lake_rst2")
        .option("checkpointLocation",
          Files.createTempDirectory("lake-rst2-ckpt-").toString)
        .start()
      try {
        q.processAllAvailable()
        assert(spark.table("lake_rst2").as[(Long, String)].collect().toSet ===
          Set((2L, "b"))) // v0's rows are before the starting version
      } finally q.stop()
    }
  }

  test("auto-compaction REORGs are invisible to the table stream") {
    // a table with auto-compact ON consumed as a stream: the REORG
    // commits its writes trigger must neither re-emit the compacted
    // rows (duplicates) nor stall the offset tail — the default
    // skipChangeCommits behavior extends to maintenance commits
    val path = Files.createTempDirectory("lake-src-ac-").toString
    val t = LakeTable.create(spark, path, Seq((1L, "a")).toDF("id", "v"),
      properties = Map(
        LakeTable.AUTO_COMPACT_PROP -> "true",
        LakeTable.AUTO_COMPACT_MIN_FILES_PROP -> "3"))
    val q = readLake(path).writeStream
      .format("memory").queryName("lake_src_ac")
      .option("checkpointLocation",
        Files.createTempDirectory("lake-src-ac-ckpt-").toString)
      .start()
    try {
      def seen: Seq[(Long, String)] =
        spark.table("lake_src_ac").as[(Long, String)].collect().toSeq
      q.processAllAvailable()
      assert(seen.toSet === Set((1L, "a")))
      t.append(Seq((2L, "b")).toDF("id", "v"))
      t.append(Seq((3L, "c")).toDF("id", "v")) // 3rd file → auto-compact
      assert(t.snapshot.files.size === 1, "compaction must have fired")
      q.processAllAvailable()
      assert(seen.sorted === Seq((1L, "a"), (2L, "b"), (3L, "c")),
        s"exactly-once across the REORG, got $seen")
      t.append(Seq((4L, "d")).toDF("id", "v"))
      q.processAllAvailable()
      assert(seen.sorted === Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
        "the stream keeps tailing appends after the REORG")
    } finally q.stop()
  }

  test("table and change-feed streams read files of two partition specs as batch does") {
    // v0 unpartitioned files, v2 files under p=K dirs; p sits mid-schema
    val path = Files.createTempDirectory("lake-src-pevo-").toString
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi).select($"id", ($"id" % 3).as("p"), ($"id" * 2).as("v"))
    val t = LakeTable.create(spark, path, rows(0, 30),
      properties = Map(graft.lake.Cdc.PROP -> "true"))
    t.alterPartitionSpec(Seq("p")) // v1
    t.append(rows(30, 60)) // v2
    assert(t.snapshot.files.map(_.partitionValues.keySet).distinct.size === 2)
    def all(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def streamed(df: DataFrame, name: String): Seq[String] = {
      val q = df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation",
          Files.createTempDirectory("lake-src-pevo-ckpt-").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      all(spark.table(name))
    }
    assert(all(t.toDF) === all(rows(0, 60)))
    assert(streamed(readLake(path), "lake_src_pevo") === all(t.toDF))
    assert(streamed(readLake(path, "readChangeFeed" -> "true"), "lake_src_pevo_cdf") ===
      all(t.tableChanges(0)))
  }

  test("a restart from a checkpoint refuses a recreated table generation") {
    // version numbers only mean anything within one table GENERATION:
    // a stream whose checkpoint says "applied through v1" restarted
    // against a table deleted and RECREATED at the same path would
    // silently read the new generation's commits as a continuation
    // (skipping its v0/v1, emitting later versions of unrelated data).
    // Offsets carry the metadata id (Delta's reservoirId guard); the
    // recovery must fail loudly instead.
    val path = Files.createTempDirectory("lake-src-gen-").toString
    val ckpt = Files.createTempDirectory("lake-src-gen-ckpt-").toString
    val t = LakeTable.create(spark, path, Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))

    // memory sink cannot recover from a checkpoint; foreachBatch can
    val buf = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, String)]()
    def start() = readLake(path).writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.as[(Long, String)].collect().foreach(buf.add)
      }
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(buf.contains((1L, "a")) && buf.contains((2L, "b")))
    } finally q1.stop()

    graft.TestFs.rmRf(path)
    val t2 = LakeTable.create(spark, path, Seq((9L, "z")).toDF("id", "v"))
    t2.append(Seq((10L, "y")).toDF("id", "v"))
    t2.append(Seq((11L, "x")).toDF("id", "v")) // new gen is AHEAD of the ckpt

    val q2 = start()
    val e =
      try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      } finally q2.stop()
    assert(!buf.contains((9L, "z")) && !buf.contains((10L, "y")) &&
      !buf.contains((11L, "x")), "no new-generation rows may reach the sink")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(_.contains("deleted and recreated")),
      s"expected the generation guard, got: ${messages(e).mkString(" | ")}")
  }
}
