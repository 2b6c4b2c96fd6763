package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Change data feed: [[Cdc]] recording in DML commits and the
  * [[LakeTable.tableChanges]] replay (Delta CDF semantics).
  */
class CdcSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("cdc-test-").toString

  private def base = Seq(
    (1L, "AZ", 10.0), (2L, "CA", 20.0), (3L, "CA", 30.0),
    (4L, "NY", 40.0), (5L, "TX", 50.0)).toDF("id", "state", "amount")

  /** create (v0) + enable CDF (v1) */
  private def cdfTable(path: String, partitionBy: Seq[String] = Nil): LakeTable = {
    val t = LakeTable.create(spark, path, base, partitionBy = partitionBy)
    t.setProperties(Map(Cdc.PROP -> "true"))
    t
  }

  private def typed(t: LakeTable, v: Long, changeType: String) =
    t.tableChanges(v, Some(v)).where(col(Cdc.CHANGE_TYPE) === changeType)

  test("replaying the whole feed reconstructs the final state (random DML)") {
    // the canonical CDF consumer contract: fold the change rows version
    // by version — per version remove (delete ∪ update_preimage) keys,
    // then upsert (insert ∪ update_postimage) — starting from nothing,
    // and you hold exactly the table's final state. Random interleaving
    // so every recording path (DV delete, rewrite delete, merge clause
    // cascade, append derivation, an overwrite of DV-masked files)
    // participates. The feed streamed with Trigger.AvailableNow, by path
    // and by catalog name, is the batch feed row for row.
    val wh = Files.createTempDirectory("cdc-replay-wh-").toString
    Files.createDirectories(Paths.get(s"$wh/db"))
    TestSpark.withCatalog("cdcr", wh) {
      for (seed <- Seq(31L, 32L)) {
        val rnd = new scala.util.Random(seed)
        val path = s"$wh/db/r$seed"
        val t = cdfTable(path)
        var nextId = 100L
        (1 to 7).foreach { _ =>
          rnd.nextInt(4) match {
            case 0 =>
              val rows = Seq.fill(1 + rnd.nextInt(3)) {
                val id = nextId; nextId += 1
                (id, Seq("AZ", "CA", "TX")(rnd.nextInt(3)), rnd.nextInt(90).toDouble)
              }
              t.append(rows.toDF("id", "state", "amount"))
            case 1 =>
              val m = 2 + rnd.nextInt(5)
              t.delete(pmod(col("id"), lit(m)) === rnd.nextInt(m))
            case 2 =>
              val m = 2 + rnd.nextInt(5)
              t.update(pmod(col("id"), lit(m)) === rnd.nextInt(m),
                Map("amount" -> (col("amount") + 100)))
            case 3 =>
              val src = Seq.fill(2) {
                val id = if (rnd.nextBoolean()) rnd.nextInt(5) + 1L
                  else { nextId += 1; nextId - 1 }
                (id, "MG", rnd.nextInt(70).toDouble)
              }.toDF("id", "state", "amount")
              t.merge(src.dropDuplicates("id"), expr("t.id = s.id"))
          }
        }
        // an overwrite of a table with live deletion vectors: its derived
        // deletes are the rows the vectors do not mask
        val dv = (nextId until nextId + 3).map(id => (id, "DV", id.toDouble))
        nextId += 3
        t.append(dv.toDF("id", "state", "amount").coalesce(1))
        t.delete(col("id") === dv.head._1)
        assert(t.snapshot.files.exists(f => f.dvPath.isDefined || f.dvInline.isDefined),
          s"seed $seed: the overwrite must meet live deletion vectors")
        val live = t.toDF.select("id", "state", "amount").as[(Long, String, Double)].collect()
        t.overwrite((live.toSeq :+ ((nextId, "OW", 1.0))).toDF("id", "state", "amount"))
        nextId += 1
        val replayed = scala.collection.mutable.Map[Long, (String, Double)]()
        val changes = t.tableChanges(0, None)
          .select("_commit_version", Cdc.CHANGE_TYPE, "id", "state", "amount")
          .collect()
          .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
        changes.foreach { case (_, rows) =>
          val (outs, ins) = rows.partition(r =>
            r.getString(1) == Cdc.DELETE || r.getString(1) == Cdc.UPDATE_PRE)
          outs.foreach(r => replayed.remove(r.getLong(2)))
          ins.foreach(r =>
            replayed(r.getLong(2)) = (r.getString(3), r.getDouble(4)))
        }
        val finalState = t.toDF.select("id", "state", "amount").collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
        assert(replayed.toMap === finalState,
          s"seed $seed: replayed feed diverges from the table")
        assert(finalState.nonEmpty, "fixture should retain rows")

        def feedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
          df.select("id", "state", "amount", Cdc.CHANGE_TYPE, "_commit_version",
            "_commit_timestamp").collect().map(_.toString).toSeq.sorted
        def streamed(df: org.apache.spark.sql.DataFrame, name: String): Seq[String] = {
          val q = df.writeStream.format("memory").queryName(name)
            .option("checkpointLocation", tmpDir())
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          try q.awaitTermination() finally q.stop()
          feedRows(spark.table(name))
        }
        val batch = feedRows(t.tableChanges(0))
        assert(streamed(spark.readStream
          .format("org.apache.spark.sql.graft.LakeSourceProvider")
          .option("path", path).option("readChangeFeed", "true").load(),
          s"cdc_replay_path_$seed") === batch, s"seed $seed: path stream")
        assert(streamed(spark.readStream.option("readChangeFeed", "true")
          .table(s"cdcr.db.r$seed"), s"cdc_replay_table_$seed") === batch,
          s"seed $seed: catalog stream")
      }
    }
  }

  test("appends derive insert changes without writing change files") {
    val path = tmpDir()
    val t = cdfTable(path)
    t.append(Seq((6L, "WA", 60.0)).toDF("id", "state", "amount")) // v2
    val ch = t.tableChanges(0)
    assert(ch.where(col(Cdc.CHANGE_TYPE) === Cdc.INSERT).count() === 6)
    assert(ch.count() === 6) // the SET TBLPROPERTIES commit contributes nothing
    assert(ch.where(col("_commit_version") === 2 && col("id") === 6).count() === 1)
    // no change files were written: appends derive from add actions
    assert(!Files.isDirectory(Paths.get(path, Cdc.CDC_DIR)))
  }

  test("DELETE records its matched rows as change data (DV path)") {
    val path = tmpDir()
    val t = cdfTable(path)
    assert(t.delete($"id" <= 2) === 2L) // v2, small fraction → DVs
    assert(t.log.readCommit(2L).flatMap(_.cdc).nonEmpty)
    val del = typed(t, 2L, Cdc.DELETE)
    assert(del.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    assert(t.toDF.count() === 3)
  }

  test("DELETE records change data on the rewrite path too") {
    val path = tmpDir()
    val t = cdfTable(path)
    assert(t.delete($"id" <= 4, useDvs = false) === 4L) // v2, copy-on-write
    val del = typed(t, 2L, Cdc.DELETE)
    assert(del.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("UPDATE records pre/post image pairs") {
    val path = tmpDir()
    val t = cdfTable(path)
    t.update($"state" === "CA", Map("amount" -> ($"amount" * 2))) // v2
    val pre = typed(t, 2L, Cdc.UPDATE_PRE)
    val post = typed(t, 2L, Cdc.UPDATE_POST)
    assert(pre.select("amount").as[Double].collect().sorted.toSeq === Seq(20.0, 30.0))
    assert(post.select("amount").as[Double].collect().sorted.toSeq === Seq(40.0, 60.0))
    // images pair up on the key
    assert(pre.select("id").as[Long].collect().sorted.toSeq ===
      post.select("id").as[Long].collect().sorted.toSeq)
  }

  test("MERGE records insert, update images, and delete per clause") {
    val path = tmpDir()
    val t = cdfTable(path)
    val source = Seq((2L, "CA", -1.0), (4L, "NY", 99.0), (7L, "UT", 70.0))
      .toDF("id", "state", "amount")
    t.mergeClauses(source, col("t.id") === col("s.id"),
      matchedClauses = Seq(
        MergeClause.Delete(Some(col("s.amount") < 0)),
        MergeClause.Update(None, Map.empty)),
      notMatchedClauses = Seq(MergeClause.Insert(None, Map.empty)),
      notMatchedBySourceClauses = Seq.empty) // v2
    assert(typed(t, 2L, Cdc.DELETE).select("id").as[Long].collect().toSeq === Seq(2L))
    assert(typed(t, 2L, Cdc.UPDATE_PRE).select("amount").as[Double].collect().toSeq === Seq(40.0))
    assert(typed(t, 2L, Cdc.UPDATE_POST).select("amount").as[Double].collect().toSeq === Seq(99.0))
    assert(typed(t, 2L, Cdc.INSERT).select("id").as[Long].collect().toSeq === Seq(7L))
    // and the table itself agrees with the change feed
    assert(t.toDF.count() === 5)
    assert(t.toDF.where($"id" === 4).select("amount").as[Double].head() === 99.0)
  }

  test("OVERWRITE derives deletes of the old rows and inserts of the new") {
    val path = tmpDir()
    val t = cdfTable(path)
    t.overwrite(Seq((10L, "HI", 1.0)).toDF("id", "state", "amount")) // v2
    val ch = t.tableChanges(2L)
    assert(ch.where(col(Cdc.CHANGE_TYPE) === Cdc.DELETE).count() === 5)
    assert(ch.where(col(Cdc.CHANGE_TYPE) === Cdc.INSERT)
      .select("id").as[Long].collect().toSeq === Seq(10L))
  }

  test("derived deletes respect deletion vectors of the previous snapshot") {
    val path = tmpDir()
    val t = cdfTable(path)
    t.delete($"id" === 1) // v2: DV masks row 1
    t.overwrite(Seq((10L, "HI", 1.0)).toDF("id", "state", "amount")) // v3
    val del = typed(t, 3L, Cdc.DELETE)
    // id=1 was already deleted at v2; the overwrite only deletes survivors
    assert(del.select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L, 4L, 5L))
  }

  test("COMPACT emits no changes") {
    val path = tmpDir()
    val t = cdfTable(path)
    t.append(Seq((6L, "WA", 60.0)).toDF("id", "state", "amount")) // v2
    t.compact(targetFileBytes = 1L << 30) // v3
    assert(t.tableChanges(3L, Some(3L)).count() === 0)
    assert(t.tableChanges(0).count() === 6) // still just the inserts
  }

  test("DML before CDF enablement has no recorded changes and throws") {
    val path = tmpDir()
    val t = LakeTable.create(spark, path, base)
    t.delete($"id" === 1) // v1, CDF off → no change data
    t.setProperties(Map(Cdc.PROP -> "true")) // v2
    val e = intercept[IllegalStateException] { t.tableChanges(0).count() }
    assert(e.getMessage.contains("change data was not recorded"))
    // but a range past the enablement works
    t.delete($"id" === 2) // v3
    assert(typed(t, 3L, Cdc.DELETE).count() === 1)
  }

  test("SQL table_changes TVF over a path and a catalog name") {
    val path = tmpDir()
    val t = cdfTable(path)
    t.delete($"id" === 3) // v2
    val byPath = spark.sql(
      s"SELECT id, ${Cdc.CHANGE_TYPE}, _commit_version " +
        s"FROM table_changes('$path', 2) ORDER BY id")
    assert(byPath.select("id").as[Long].collect().toSeq === Seq(3L))
    assert(byPath.select(Cdc.CHANGE_TYPE).as[String].head() === Cdc.DELETE)

    // dotted catalog identifier resolves through the warehouse conf
    val wh = Files.createTempDirectory("cdc-wh-").toString
    TestSpark.withCatalog("cdc", wh) {
      Files.createDirectories(Paths.get(s"$wh/db"))
      val t2 = cdfTable(s"$wh/db/t")
      t2.update($"id" === 1, Map("amount" -> lit(0.0))) // v2
      val n = spark.sql(
        s"SELECT count(*) FROM table_changes('cdc.db.t', 2, 2)").as[Long].head()
      assert(n === 2) // pre + post image
    }
  }

  test("DataFrameReader batch readChangeFeed over a version range") {
    // flat change files, and change files under identity partition dirs
    for (partitionBy <- Seq(Nil, Seq("state"))) {
      val path = tmpDir()
      val t = cdfTable(path, partitionBy)
      t.delete($"id" <= 2) // v2
      t.append(Seq((9L, "HI", 9.0)).toDF("id", "state", "amount")) // v3
      val ch = spark.read
        .format("org.apache.spark.sql.graft.LakeSourceProvider")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "2")
        .load()
      assert(ch.where(col(Cdc.CHANGE_TYPE) === Cdc.DELETE)
        .select("id", "state", "amount").as[(Long, String, Double)].collect().sorted.toSeq ===
        Seq((1L, "AZ", 10.0), (2L, "CA", 20.0)), partitionBy)
      assert(ch.where(col(Cdc.CHANGE_TYPE) === Cdc.INSERT)
        .select("id", "state", "amount").as[(Long, String, Double)].collect().toSeq ===
        Seq((9L, "HI", 9.0)), partitionBy)
      // bounded range excludes the append
      val bounded = spark.read
        .format("org.apache.spark.sql.graft.LakeSourceProvider")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "2")
        .option("endingVersion", "2")
        .load()
      assert(bounded.count() === 2)
    }
  }

  test("readChangeFeed through .table() reader options (catalog form)") {
    val wh = Files.createTempDirectory("cdc-tbl-wh-").toString
    TestSpark.withCatalog("cdct", wh) {
      Files.createDirectories(Paths.get(s"$wh/db"))
      val t = cdfTable(s"$wh/db/feed")
      t.delete($"id" <= 2) // v2
      t.append(Seq((9L, "HI", 9.0)).toDF("id", "state", "amount")) // v3
      val ch = spark.read
        .option("readChangeFeed", "true")
        .option("startingVersion", 2)
        .table("cdct.db.feed")
      // the relation schema is the CDF schema, so downstream projections
      // of _change_type resolve
      assert(ch.columns.contains(Cdc.CHANGE_TYPE))
      assert(ch.where(col(Cdc.CHANGE_TYPE) === Cdc.DELETE)
        .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
      assert(ch.where(col(Cdc.CHANGE_TYPE) === Cdc.INSERT)
        .select("id").as[Long].collect().toSeq === Seq(9L))
      // bounded range excludes the append
      val bounded = spark.read
        .option("readChangeFeed", "true")
        .option("startingVersion", 2)
        .option("endingVersion", 2)
        .table("cdct.db.feed")
      assert(bounded.count() === 2)
      // startingTimestamp form: from the table's first commit → everything
      val t0 = t.log.readCommit(0L).flatMap(_.commitInfo).head.timestamp
      val fromTs = spark.read
        .option("readChangeFeed", "true")
        .option("startingTimestamp", t0.toString)
        .table("cdct.db.feed")
      assert(fromTs.where(col(Cdc.CHANGE_TYPE) === Cdc.INSERT).count() === 6)
      // without the option the same name still reads the table itself
      assert(spark.table("cdct.db.feed").count() === 4)
      intercept[IllegalArgumentException] {
        spark.read.option("readChangeFeed", "true")
          .option("startingVersion", 0).option("startingTimestamp", "0")
          .table("cdct.db.feed").collect()
      }
    }
  }

  test("zero-change DML under CDF does not poison the feed") {
    val path = tmpDir()
    val t = cdfTable(path)
    // merge whose only matched clause matches no row: rewrites commit,
    // but the change set is empty → no cdc action, and the feed must
    // treat the version as changeless rather than throw
    t.mergeClauses(
      Seq((1L, "AZ", 10.0)).toDF("id", "state", "amount"),
      col("t.id") === col("s.id"),
      matchedClauses = Seq(MergeClause.Update(
        Some(col("t.amount") > 1e9), Map("amount" -> col("s.amount")))),
      notMatchedClauses = Seq.empty,
      notMatchedBySourceClauses = Seq.empty,
      useDvs = false) // force the rewrite path (adds+removes, no matches)
    val ch = t.tableChanges(0)
    assert(ch.where(col("_commit_version") === t.version).count() === 0)
    assert(ch.count() === 5) // just the create's derived inserts
    assert(t.toDF.count() === 5)
  }

  test("vacuum retains change data on its own clock") {
    // flat change files, and change files under identity partition dirs
    for (partitionBy <- Seq(Nil, Seq("state"))) {
      val path = tmpDir()
      val t = cdfTable(path, partitionBy)
      t.delete($"id" === 1) // writes a change file
      assert(Files.isDirectory(Paths.get(path, Cdc.CDC_DIR)))
      // data retention 0 but CDC retention long: change files survive
      val removed = t.vacuum(retentionMs = 0L, cdcRetentionMs = 1L << 40)
      assert(!removed.exists(_.startsWith(Cdc.CDC_DIR + "/")), partitionBy)
      assert(typed(t, 2L, Cdc.DELETE).select("id", "state").as[(Long, String)]
        .collect().toSeq === Seq((1L, "AZ"))) // feed still replays
      // now age CDC out too: the feed read fails (file gone)
      val removed2 = t.vacuum(retentionMs = 0L, cdcRetentionMs = 0L)
      assert(removed2.exists(_.startsWith(Cdc.CDC_DIR + "/")), partitionBy)
    }
  }

  test("streaming readChangeFeed takes identity partition values from change-file and data dirs") {
    // the partition column sits mid-schema: a scan puts it last
    val path = tmpDir()
    val t = cdfTable(path, Seq("state"))
    t.update($"id" === 3, Map("amount" -> lit(31.0))) // v2
    t.delete($"state" === "NY") // v3
    val cdcs = (2L to 3L).flatMap(v => t.log.readCommit(v).flatMap(_.cdc)).map(_.path)
    assert(cdcs.toSet.map((p: String) => Paths.get(p).getParent.toString) ===
      Set(s"${Cdc.CDC_DIR}/state=CA", s"${Cdc.CDC_DIR}/state=NY"))
    val q = spark.readStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", path)
      .option("readChangeFeed", "true")
      .option("startingVersion", "0")
      .load()
      .writeStream.format("memory").queryName("cdc_identity_stream")
      .option("checkpointLocation", tmpDir())
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("cdc_identity_stream")
        .select("id", "state", "amount", Cdc.CHANGE_TYPE, "_commit_version")
        .as[(Long, String, Double, String, Long)].collect().toSeq.sorted
      // the create's inserts derive from its partitioned data files
      assert(got === (base.as[(Long, String, Double)].collect().toSeq
        .map { case (id, st, amt) => (id, st, amt, Cdc.INSERT, 0L) } ++ Seq(
        (3L, "CA", 30.0, Cdc.UPDATE_PRE, 2L),
        (3L, "CA", 31.0, Cdc.UPDATE_POST, 2L),
        (4L, "NY", 40.0, Cdc.DELETE, 3L))).sorted)
      // the batch replay reads the same rows
      assert(t.tableChanges(0).select("id", "state", "amount", Cdc.CHANGE_TYPE,
        "_commit_version").as[(Long, String, Double, String, Long)].collect().toSeq.sorted === got)
    } finally q.stop()
  }

  test("timestamp-bounded feed and empty-range schema") {
    val path = tmpDir()
    val t = cdfTable(path)
    val t0 = t.log.readCommit(0L).flatMap(_.commitInfo).head.timestamp
    val ch = t.tableChangesFrom(t0)
    assert(ch.columns.takeRight(3).toSeq ===
      Seq(Cdc.CHANGE_TYPE, "_commit_version", "_commit_timestamp"))
    // a version range covering only the property commit is empty but typed
    val empty = t.tableChanges(1L, Some(1L))
    assert(empty.count() === 0)
    assert(empty.columns.contains("id"))
  }
}
