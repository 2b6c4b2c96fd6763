package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Per-file Bloom-filter index ([[BloomIndex]]): build, point-lookup
  * pruning (read + DML + distributed path), probe/build hash parity per
  * supported type, lifecycle under compaction and vacuum, and the
  * soundness invariant — a file holding the key is NEVER skipped.
  *
  * Keys are deliberately UNCLUSTERED (round-robin repartition) so
  * min/max stats alone can never prune — every skip asserted here is the
  * bloom's.
  */
class BloomIndexSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("bloom-test-").toString

  private val bloomProps = Map(
    BloomIndex.COLS_PROP -> "id,name",
    // tight fpp so the deterministic fixtures below prune cleanly
    BloomIndex.FPP_PROP -> "0.001")

  /** 64 rows with EVEN ids spread round-robin over 4 files: every
    * file's id min/max spans ~the whole domain, and absent ODD keys sit
    * INSIDE every range — min/max can never exclude them, so a skip
    * proves the bloom fired (the probe consults the sidecar only when
    * the free range check cannot already exclude). */
  private def unclusteredTable(path: String): LakeTable = {
    val df = (0L until 64L).map(i => (2 * i, s"name_${2 * i}", i % 7))
      .toDF("id", "name", "grp").repartition(4)
    LakeTable.create(spark, path, df, properties = bloomProps)
  }

  test("build: every data file carries a bloomPath and a readable sidecar") {
    val path = tmpDir()
    val t = unclusteredTable(path)
    val files = t.snapshot.files
    assert(files.size > 1)
    assert(files.forall(_.bloomPath.isDefined))
    files.foreach { f =>
      val sc = Paths.get(path).resolve(f.bloomPath.get)
      assert(Files.exists(sc), s"missing sidecar ${f.bloomPath.get}")
      assert(f.bloomPath.get.startsWith(BloomIndex.INDEX_DIR + "/"))
    }
    // the files metadata table exposes per-file index coverage
    val metaRows = t.meta("files").select("path", "bloom_index")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    files.foreach(f => assert(metaRows(f.path) === f.bloomPath))
    // unconfigured tables stay sidecar-free (and show null coverage)
    val plain = LakeTable.create(spark, tmpDir(),
      Seq((1L, "a")).toDF("id", "name"))
    assert(plain.snapshot.files.forall(_.bloomPath.isEmpty))
    assert(plain.meta("files").where(col("bloom_index").isNotNull).count() === 0)
  }

  test("point read: equality on an unclustered key scans only the holding file") {
    val path = tmpDir()
    val t = unclusteredTable(path)
    val total = t.snapshot.files.size
    // soundness across the whole domain: every key's row is found
    for (k <- 0L until 128L by 14L) {
      val rows = t.read($"id" === k).collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(k))
    }
    // effectiveness: the deterministic fixture prunes to fewer files
    // than the table holds (fpp 0.001 over 3 foreign files)
    BloomMetrics.reset()
    val hit = t.read($"id" === 10L)
    assert(hit.count() === 1)
    assert(BloomMetrics.skippedByBloom.get() > 0,
      "bloom proved no file absent — index not consulted?")
    // an absent key INSIDE every file's range: only the bloom can skip
    BloomMetrics.reset()
    assert(t.read($"id" === 9L).count() === 0)
    assert(BloomMetrics.skippedByBloom.get() >= total - 1)
    // string column is indexed too
    assert(t.read($"name" === "name_10").collect().map(_.getLong(0)).toSeq === Seq(10L))
    // IN-list: each value proven absent individually (odd keys inside
    // the hull — range-unprovable, bloom-provable)
    assert(t.read($"id".isin(4L, 22L)).count() === 2)
    val skipped = { BloomMetrics.reset(); t.read($"id".isin(9L, 31L)).count() }
    assert(skipped === 0 && BloomMetrics.skippedByBloom.get() > 0)
  }

  test("DELETE / UPDATE by key prune candidates through the bloom") {
    val path = tmpDir()
    val t = unclusteredTable(path)
    BloomMetrics.reset()
    t.delete($"id" === 26L)
    assert(BloomMetrics.skippedByBloom.get() > 0)
    assert(t.toDF.where($"id" === 26L).count() === 0)
    assert(t.toDF.count() === 63)
    BloomMetrics.reset()
    t.update($"id" === 28L, Map("name" -> lit("updated")))
    assert(BloomMetrics.skippedByBloom.get() > 0)
    assert(t.toDF.where($"id" === 28L).select("name").head().getString(0) === "updated")
    assert(t.toDF.count() === 63)
  }

  test("point MERGE: IN-list refinement + bloom narrow the candidate files") {
    val path = tmpDir()
    val t = unclusteredTable(path)
    val total = t.snapshot.files.size
    val src = Seq((6L, "merged_6", 0), (99999L, "merged_new", 0))
      .toDF("id", "name", "grp")
    BloomMetrics.reset()
    DmlMetrics.lastMergeCandidateFiles.set(-1L)
    t.mergeClauses(src, col("t.id") === col("s.id"),
      Seq(MergeClause.Update(None, Map.empty)),
      Seq(MergeClause.Insert(None, Map.empty)),
      Seq.empty,
      useDvs = false) // small-table DV fast path skips pruning entirely
    assert(t.toDF.where($"id" === 6L).select("name").head().getString(0) === "merged_6")
    assert(t.toDF.where($"id" === 99999L).count() === 1)
    assert(t.toDF.count() === 65)
    val cands = DmlMetrics.lastMergeCandidateFiles.get()
    assert(cands >= 0 && cands < total,
      s"merge touched $cands of $total files — IN-list + bloom pruned nothing")
    assert(BloomMetrics.skippedByBloom.get() > 0)
  }

  test("point MERGE prunes across source/target key type width") {
    // source key Int vs target key Long: the IN-list/range literals
    // arrive Cast-wrapped, and resolveFilter's ConstantFolding must fold
    // them back to plain literals the skipping evaluator accepts —
    // otherwise point-merge pruning silently dies on width mismatches
    val path = tmpDir()
    val t = unclusteredTable(path) // id: LongType
    val total = t.snapshot.files.size
    val src = Seq((6, "merged_6", 0), (99999, "merged_new", 0))
      .toDF("id", "name", "grp") // id: IntegerType
    BloomMetrics.reset()
    DmlMetrics.lastMergeCandidateFiles.set(-1L)
    t.mergeClauses(src, col("t.id") === col("s.id"),
      Seq(MergeClause.Update(None, Map.empty)),
      Seq(MergeClause.Insert(None, Map.empty)),
      Seq.empty,
      useDvs = false)
    assert(t.toDF.where($"id" === 6L).select("name").head().getString(0) === "merged_6")
    assert(t.toDF.where($"id" === 99999L).count() === 1)
    assert(t.toDF.count() === 65)
    val cands = DmlMetrics.lastMergeCandidateFiles.get()
    assert(cands >= 0 && cands < total,
      s"type-width-mismatched merge keys pruned nothing ($cands/$total files)")
  }

  test("big-log path: bloom evaluates inside the distributed candidate scan") {
    val path = tmpDir()
    val t = unclusteredTable(path)
    // force a checkpoint so the distributed resolver can engage
    (1 to 10).foreach(i =>
      t.append(Seq((1000L + i, s"extra_$i", 0)).toDF("id", "name", "grp")))
    spark.conf.set("spark.graft.log.distributedThreshold", "1")
    try {
      BloomMetrics.reset()
      val rows = t.read($"id" === 42L).collect()
      assert(ReadMetrics.lastReadDistributed.get(), "distributed path not engaged")
      assert(rows.map(_.getLong(0)).toSeq === Seq(42L))
      // local[n]: executor threads share the JVM, so their skips land in
      // the same counter
      assert(BloomMetrics.skippedByBloom.get() > 0)
    } finally spark.conf.unset("spark.graft.log.distributedThreshold")
  }

  test("probe/build hash parity across every supported type") {
    val path = tmpDir()
    // TWO rows per file so absent probe values sit INSIDE each column's
    // min/max range — range stats can't exclude them, only the bloom can
    val df = Seq(
      (42L, 7, "str-α", java.sql.Date.valueOf("2024-03-01"),
        java.sql.Timestamp.valueOf("2024-03-01 10:30:00"),
        new java.math.BigDecimal("12.34")),
      (44L, 9, "str-γ", java.sql.Date.valueOf("2024-03-05"),
        java.sql.Timestamp.valueOf("2024-03-05 10:30:00"),
        new java.math.BigDecimal("19.99"))
    ).toDF("l", "i", "s", "d", "ts", "dec").coalesce(1)
    val t = LakeTable.create(spark, path, df,
      properties = Map(BloomIndex.COLS_PROP -> "l,i,s,d,ts,dec",
        BloomIndex.FPP_PROP -> "0.001"))
    // every present value must be found (no false skip — this is the
    // parity proof: probe hash == build hash per type)
    assert(t.read($"l" === 42L).count() === 1)
    assert(t.read($"i" === 7).count() === 1)
    assert(t.read($"s" === "str-α").count() === 1)
    assert(t.read($"d" === java.sql.Date.valueOf("2024-03-01")).count() === 1)
    assert(t.read($"ts" === java.sql.Timestamp.valueOf("2024-03-01 10:30:00")).count() === 1)
    assert(t.read($"dec" === new java.math.BigDecimal("12.34")).count() === 1)
    // cross-type literal: int literal against the long column converts
    // exactly and still hits
    assert(t.read($"l" === 42).count() === 1)
    // absent IN-RANGE values of each type prune (deterministic fixture)
    BloomMetrics.reset()
    assert(t.read($"l" === 43L).count() === 0)
    assert(t.read($"s" === "str-β").count() === 0)
    assert(t.read($"i" === 8).count() === 0)
    assert(t.read($"d" === java.sql.Date.valueOf("2024-03-03")).count() === 0)
    assert(t.read($"dec" === new java.math.BigDecimal("15.00")).count() === 0)
    assert(BloomMetrics.skippedByBloom.get() >= 5)
  }

  test("null semantics: IS NULL and null-safe equality never bloom-skip wrongly") {
    val path = tmpDir()
    val df = Seq((Some(1L), "a"), (None, "b"), (Some(3L), "c"))
      .toDF("id", "name").repartition(1)
    val t = LakeTable.create(spark, path, df, properties = bloomProps)
    assert(t.read($"id".isNull).count() === 1)
    assert(t.read($"id" <=> lit(null)).count() === 1)
    assert(t.read($"id" <=> 3L).count() === 1)
    BloomMetrics.reset()
    assert(t.read($"id" <=> 4L).count() === 0)
    assert(BloomMetrics.skippedByBloom.get() > 0,
      "null-safe equality on a non-null literal should consult the bloom")
  }

  test("compaction rewrites sidecars; vacuum keeps live ones, reaps orphans") {
    val path = tmpDir()
    val t = unclusteredTable(path)
    val oldSidecars = t.snapshot.files.flatMap(_.bloomPath).toSet
    t.compact(targetFileBytes = 1L << 30)
    val newFiles = t.snapshot.files
    assert(newFiles.forall(_.bloomPath.isDefined),
      "compacted files lost their bloom index")
    val newSidecars = newFiles.flatMap(_.bloomPath).toSet
    assert(newSidecars.intersect(oldSidecars).isEmpty)
    // pruning still works on the rewritten layout
    assert(t.read($"id" === 10L).collect().map(_.getLong(0)).toSeq === Seq(10L))
    // vacuum with zero retention reaps the superseded sidecars and
    // keeps every live one
    val deleted = t.vacuum(retentionMs = 0L)
    oldSidecars.foreach(sc =>
      assert(!Files.exists(Paths.get(path).resolve(sc)), s"orphan kept: $sc"))
    newSidecars.foreach(sc =>
      assert(Files.exists(Paths.get(path).resolve(sc)), s"live reaped: $sc"))
    assert(deleted.exists(_.endsWith(BloomIndex.SIDECAR_SUFFIX)))
    // crashed-build tmp files under _index/ are reaped too
    val tmp = Paths.get(path).resolve(
      BloomIndex.INDEX_DIR + "/deadbeef-part-x.parquet.bloom.123.tmp")
    Files.write(tmp, Array[Byte](1, 2, 3))
    val deleted2 = t.vacuum(retentionMs = 0L)
    assert(!Files.exists(tmp))
    assert(deleted2.exists(_.endsWith(".tmp")))
  }

  test("checkpoint round-trips bloomPath; legacy checkpoints read as None") {
    val path = tmpDir()
    val t = unclusteredTable(path)
    (1 to 12).foreach(i =>
      t.append(Seq((2000L + i, s"x$i", 0)).toDF("id", "name", "grp")))
    // fresh handle resolves through the checkpoint; bloomPath survives
    val t2 = LakeTable.forPath(spark, path)
    assert(t2.snapshot.files.count(_.bloomPath.isDefined) >= 4)
    assert(t2.read($"id" === 10L).collect().map(_.getLong(0)).toSeq === Seq(10L))

    // a checkpoint written BEFORE the field existed (old message type):
    // the reader treats the missing column as None instead of crashing
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val legacySchema = MessageTypeParser.parseMessageType(
      """message lake_checkpoint {
        |  optional group add {
        |    required binary path (STRING);
        |    required int64 size;
        |    required int64 modificationTime;
        |  }
        |}""".stripMargin)
    val legacy = Files.createTempDirectory("legacy-ckpt-").resolve("c.parquet")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(legacy.toString))
      .withType(legacySchema)
      .withConf(new org.apache.hadoop.conf.Configuration(false)).build()
    val g = new SimpleGroupFactory(legacySchema).newGroup()
    val ag = g.addGroup("add")
    ag.add("path", "p1.parquet"); ag.add("size", 10L); ag.add("modificationTime", 1L)
    w.write(g); w.close()
    val decoded = Checkpoint.read(legacy)
    assert(decoded.flatMap(_.add).map(_.bloomPath) === Seq(None))
  }

  test("backfill: buildBloomIndex indexes pre-property files; streams stay silent") {
    val path = tmpDir()
    // table created WITHOUT the index property — no sidecars
    val df = (0L until 64L).map(i => (2 * i, s"name_${2 * i}", (i % 7).toInt * 2))
      .toDF("id", "name", "grp").repartition(4)
    val t = LakeTable.create(spark, path, df)
    assert(t.snapshot.files.forall(_.bloomPath.isEmpty))
    intercept[IllegalArgumentException](t.buildBloomIndex())

    t.setProperties(bloomProps)
    val verBefore = t.snapshot.version
    val indexed = t.buildBloomIndex()
    assert(indexed === t.snapshot.files.size && indexed > 1)
    assert(t.snapshot.files.forall(_.bloomPath.isDefined))
    // same data files — the commit was metadata-only
    assert(t.snapshot.version === verBefore + 1)
    // pruning works on the backfilled index; results intact
    BloomMetrics.reset()
    assert(t.read($"id" === 9L).count() === 0)
    assert(BloomMetrics.skippedByBloom.get() > 0)
    assert(t.read($"id" === 10L).collect().map(_.getLong(0)).toSeq === Seq(10L))
    // idempotent: nothing left to index
    assert(t.buildBloomIndex() === 0)
    // force under an UNCHANGED config is a deterministic no-op: sidecar
    // paths digest the configuration, so nothing moves
    assert(t.buildBloomIndex(force = true) === 0)

    // the RECOVERY path: change the indexed column set, then force —
    // every pointer moves to a config-digested new path, and a query on
    // the newly indexed column prunes IN THIS SAME SESSION (the probe
    // cache keys by path, so no stale filter set can be served)
    BloomMetrics.reset()
    assert(t.read($"grp" === 5).count() === 0)
    assert(BloomMetrics.skippedByBloom.get() === 0, "grp not yet indexed")
    t.setProperties(Map(BloomIndex.COLS_PROP -> "id,name,grp"))
    val before = t.snapshot.files.flatMap(_.bloomPath).toSet
    assert(t.buildBloomIndex(force = true) === t.snapshot.files.size)
    val after = t.snapshot.files.flatMap(_.bloomPath).toSet
    assert(after.intersect(before).isEmpty, "config change must move sidecar paths")
    BloomMetrics.reset()
    assert(t.read($"grp" === 5).count() === 0)
    assert(BloomMetrics.skippedByBloom.get() > 0,
      "the rebuilt index must serve the new column without a JVM restart")

    // the backfill commit is REORG-classified: a table stream draining
    // across it sees no rows, and the change feed records nothing
    val sinkRows = spark.readStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider").load(path)
    val ckpt = Files.createTempDirectory("bloom-stream-").toString
    val q = sinkRows.writeStream.format("memory").queryName("bloom_bf_sink")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("bloom_bf_sink").count() === 64,
      "backfill re-adds must not replay as stream inserts")
  }

  test("backfill after RENAME COLUMN reads values by field id, not name-miss nulls") {
    val path = tmpDir()
    val df = (0L until 32L).map(i => (i, s"v$i")).toDF("id", "name").repartition(2)
    val t = LakeTable.create(spark, path, df)
    t.alterRenameColumn("name", "title")
    t.setProperties(Map(BloomIndex.COLS_PROP -> "title",
      BloomIndex.FPP_PROP -> "0.001"))
    assert(t.buildBloomIndex() === t.snapshot.files.size)
    // soundness: values live under the OLD parquet name in every file —
    // a name-based read would have built empty blooms and skipped these
    for (k <- Seq(0L, 17L, 31L))
      assert(t.read($"title" === s"v$k").collect().map(_.getLong(0)).toSeq === Seq(k))
    BloomMetrics.reset()
    assert(t.read($"title" === "nope").count() === 0)
    assert(BloomMetrics.skippedByBloom.get() > 0)
  }

  test("property column names match case-insensitively, sidecar keys canonical") {
    val path = tmpDir()
    val df = (0L until 16L).map(i => (2 * i, s"n$i")).toDF("id", "name").repartition(2)
    val t = LakeTable.create(spark, path, df, properties = Map(
      BloomIndex.COLS_PROP -> "ID, Name, nosuch",
      BloomIndex.FPP_PROP -> "0.001"))
    assert(t.snapshot.files.forall(_.bloomPath.isDefined))
    assert(t.read($"id" === 6L).collect().map(_.getLong(0)).toSeq === Seq(6L))
    BloomMetrics.reset()
    assert(t.read($"id" === 7L).count() === 0)
    assert(BloomMetrics.skippedByBloom.get() > 0,
      "case-differing property spelling must still index the column")
  }

  test("schema guard: renamed/retyped columns never prove absence") {
    val path = tmpDir()
    val t = unclusteredTable(path)
    // simulate a declared-type mismatch by probing with the wrong type:
    // the probe requires sidecar dt == schema dt, so a LongType sidecar
    // consulted for an IntegerType column proves nothing
    val f = t.snapshot.files.head
    val probe = BloomIndex.probe(Paths.get(path).toAbsolutePath.normalize.toString)
    val idField = t.snapshot.schema("id")
    assert(!probe.definitelyAbsent(f, idField.copy(dataType = IntegerType), 99999),
      "type-mismatched probe must not prove absence")
    // field-id mismatch: same name, same type, different parquet field
    // id (rename churn handing an old name to another column) — the
    // sidecar describes a different column and proves nothing
    val otherId = idField.copy(metadata =
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", 9999L).build())
    assert(!probe.definitelyAbsent(f, otherId, 99999L),
      "field-id-mismatched probe must not prove absence")
    // value conversion is exact: a Long literal that cannot be an Int
    // never probes (and never proves)
    assert(BloomIndex.toColumnValue(IntegerType, Long.MaxValue).isEmpty)
    assert(BloomIndex.toColumnValue(IntegerType, 5L) === Some(5))
    // a column name the sidecar never indexed proves nothing
    assert(!probe.definitelyAbsent(f, t.snapshot.schema("grp"), 12345))
  }

  test("rename-reuse guard: a freed name never remaps another column's stats") {
    val path = tmpDir()
    val df = (0L until 32L).map(i => (i, i + 1000L)).toDF("a", "b").repartition(2)
    val t = LakeTable.create(spark, path, df)
    t.alterRenameColumn("a", "x")
    // handing a's old name to b would make old files' name-keyed stats
    // (and bloom sidecars) describe the WRONG column — refused
    val e = intercept[IllegalArgumentException](t.alterRenameColumn("b", "a"))
    assert(e.getMessage.contains("previously belonged to a different column"))
    // renaming BACK (same field id) is sound and allowed
    t.alterRenameColumn("x", "a")
    assert(t.read($"a" === 3L).collect().map(_.getLong(0)).toSeq === Seq(3L))
    // and the registry entry was consumed: a→x again still works
    t.alterRenameColumn("a", "y")
    // DROP also frees the name with the same protection
    t.alterDropColumn("y")
    val e2 = intercept[IllegalArgumentException](t.alterRenameColumn("b", "y"))
    assert(e2.getMessage.contains("previously belonged to a different column"))
  }

  test("freed-name guard covers ADD COLUMN and evolution: stale nullCount never mis-prunes IS NULL") {
    val path = tmpDir()
    // column a is non-null everywhere → every file's stats say nullCount(a)=0
    val t = LakeTable.create(spark, path,
      (0L until 16L).map(i => (i, i * 10)).toDF("id", "a").repartition(2))
    t.alterDropColumn("a")
    // re-adding the name would leave old files' nullCount(a)=0 claiming
    // "no nulls" while every old row reads NULL for the fresh field id —
    // `a IS NULL` would prune everything (silent lost rows) — refused
    val e = intercept[IllegalArgumentException](t.alterAddColumn("a", "long"))
    assert(e.getMessage.contains("name-keyed stats"))
    // the mergeSchema evolution path refuses identically
    val e2 = intercept[IllegalArgumentException](
      t.append((0L until 4L).map(i => (100L + i, i)).toDF("id", "a"),
        mergeSchema = true))
    assert(e2.getMessage.contains("name-keyed stats"))
    // a full OVERWRITE removes every old-era file and clears the
    // registry: the name becomes reusable and IS NULL reads correctly
    t.overwrite((0L until 8L).map(i => i).toDF("id"))
    t.alterAddColumn("a", "long")
    assert(t.toDF.where($"a".isNull).count() === 8)
  }

  test("missing sidecar (vacuumed dangling pointer) degrades to scan, not errors") {
    val path = tmpDir()
    val t = unclusteredTable(path)
    // destroy one referenced sidecar out-of-band
    val victim = t.snapshot.files.head.bloomPath.get
    Files.delete(Paths.get(path).resolve(victim))
    // every key still reads correctly: the missing sidecar proves
    // nothing and the file scans; other files' blooms keep working
    for (k <- 0L until 128L by 26L)
      assert(t.read($"id" === k).collect().map(_.getLong(0)).toSeq === Seq(k))
    assert(t.read($"id" === 9L).count() === 0)
  }

  test("probe order: files excluded by min/max never pay a sidecar read") {
    // CLUSTERED keys: four disjoint-range files — range stats alone
    // exclude foreign files, so the bloom must not even be consulted
    val path = tmpDir()
    val banded = (0 until 4).map(b =>
      (b * 16L until (b + 1) * 16L).map(i => (i, s"n$i")).toDF("id", "name")
        .coalesce(1))
    val t = LakeTable.create(spark, path, banded.head, properties = bloomProps)
    banded.tail.foreach(t.append(_))
    assert(t.snapshot.files.size === 4)
    BloomMetrics.reset()
    assert(t.read($"id" === 5L).collect().map(_.getLong(0)).toSeq === Seq(5L))
    assert(BloomMetrics.skippedByBloom.get() === 0,
      "range-excluded files must not consult the bloom")
  }

  test("byte/short columns prune with ordinary integer literals") {
    // the analyzer widens byte/short columns under comparison; the probe
    // must narrow the Int/Long literal back (range-checked) or these
    // types pay the build cost for zero pruning
    val path = tmpDir()
    val df = Seq((2.toByte, 10.toShort), (8.toByte, 40.toShort))
      .toDF("by", "sh").coalesce(1)
    val t = LakeTable.create(spark, path, df,
      properties = Map(BloomIndex.COLS_PROP -> "by,sh",
        BloomIndex.FPP_PROP -> "0.001"))
    assert(t.read($"by" === 2).count() === 1)
    assert(t.read($"sh" === 40).count() === 1)
    assert(t.read($"sh" === 10L).count() === 1)
    BloomMetrics.reset()
    assert(t.read($"by" === 5).count() === 0) // in [2,8]: bloom, not range
    assert(t.read($"sh" === 25).count() === 0) // in [10,40]
    assert(BloomMetrics.skippedByBloom.get() >= 2,
      "byte/short literals must narrow and probe")
    // out-of-domain literals never probe (and never prove)
    assert(BloomIndex.toColumnValue(ByteType, 300).isEmpty)
    assert(BloomIndex.toColumnValue(ShortType, 70000).isEmpty)
  }

  test("non-deterministic merge source is materialized once (no dup/lost rows)") {
    // a rand-sampled source would be RE-EVALUATED by the pruning
    // aggregation, the prefilter join, and the merge join — pruned
    // candidates could exclude files the final join matches, turning
    // updates into duplicate inserts. The merge materializes such
    // sources once; the invariant below fails without it (flakily) and
    // holds deterministically with it.
    val path = tmpDir()
    val t = unclusteredTable(path) // even ids 0,2,...,126 over 4 files
    val src = spark.range(0, 128)
      .where(rand(/* no seed: genuinely non-deterministic */) < 0.5)
      .selectExpr("id", "'merged' as name", "0 as grp")
    t.mergeClauses(src, col("t.id") === col("s.id"),
      Seq(MergeClause.Update(None, Map.empty)),
      Seq(MergeClause.Insert(None, Map.empty)),
      Seq.empty,
      useDvs = false)
    val out = t.toDF.select("id", "name").as[(Long, String)].collect()
    // every id exactly once: a prune/join disagreement would duplicate
    assert(out.map(_._1).distinct.length === out.length,
      "merge emitted duplicate ids — source re-evaluated across passes")
    assert(out.length >= 64, "updates must never lose target rows")
    // every original even id survives (merged or original)
    val ids = out.map(_._1).toSet
    (0L until 128L by 2L).foreach(k => assert(ids.contains(k)))
  }

  test("task-side sidecars match the read-side build; an oversized file falls back to it") {
    // the write tasks index the table; a copy's force rebuild reads the
    // files back and writes the same sidecar paths (the path digests
    // file and configuration). Same rows hashed, same rows-based sizing:
    // the bytes, and so the geometry and every probe verdict, agree.
    val taskPath = tmpDir()
    val tTask = unclusteredTable(taskPath)
    val readPath = tmpDir()
    Files.walk(Paths.get(taskPath)).forEach { p =>
      val q = Paths.get(readPath).resolve(Paths.get(taskPath).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val tRead = LakeTable.forPath(spark, readPath)
    def sidecars(t: LakeTable) = t.snapshot.files.map(f =>
      f.path -> Files.readAllBytes(Paths.get(t.path).resolve(f.bloomPath.get)).toSeq).toMap
    val before = sidecars(tRead)
    // delete the copied sidecars, so every byte compared below is the rebuild's
    before.keys.foreach(p => Files.delete(Paths.get(readPath).resolve(
      tRead.snapshot.files.find(_.path == p).get.bloomPath.get)))
    assert(tRead.buildBloomIndex(force = true) === 0, "a rebuild under one config moves no pointer")
    val rebuilt = sidecars(tRead)
    assert(rebuilt.keySet === before.keySet)
    assert(rebuilt === sidecars(tTask), "task-side and read-side sidecars differ")
    def heads(t: LakeTable) = t.snapshot.files.flatMap(f => BloomIndex.readSidecarHeaders(
      Paths.get(t.path).resolve(f.bloomPath.get))).flatMap(_.map(c => (c.name, c.words, c.k))).sorted
    assert(heads(tTask) === heads(tRead))
    (0L until 128L).foreach { k =>
      val a = tTask.read($"id" === k).inputFiles.length
      val b = tRead.read($"id" === k).inputFiles.length
      assert(a === b, s"task-side/read-side pruning diverged on id=$k: $a vs $b")
    }
    assert(tTask.read($"id" === 3L).isEmpty)
    assert(tTask.read($"id" === 8L).count() === 1L)

    // one row over the task's hash cap: that file takes the read-side build
    val big = LakeTable.create(spark, tmpDir(),
      spark.range(0, LakeWriteStats.HASH_CAP + 1L).coalesce(1).select(($"id" * 2).as("id")),
      properties = Map(BloomIndex.COLS_PROP -> "id", BloomIndex.FPP_PROP -> "0.001"))
    val Seq(f) = big.snapshot.files
    assert(f.stats.map(_.numRecords) === Some(LakeWriteStats.HASH_CAP + 1L))
    assert(f.bloomPath.exists(p => Files.exists(Paths.get(big.path).resolve(p))))
    BloomMetrics.reset()
    assert(big.read($"id" === 77L).isEmpty)
    assert(BloomMetrics.skippedByBloom.get() > 0L)
    assert(big.read($"id" === 78L).count() === 1L)
  }
}
