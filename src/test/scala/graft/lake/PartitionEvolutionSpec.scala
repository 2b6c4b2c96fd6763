package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Iceberg-style partition-spec evolution: `alterPartitionSpec` is a
  * metadata-only commit — existing files stay in their old layout, new
  * writes use the new one, reads scan each generation separately, and
  * data skipping prunes every file on ITS OWN recorded partition
  * values.
  */
class PartitionEvolutionSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def batch(lo: Long, hi: Long) =
    spark.range(lo, hi).select($"id", ($"id" % 10).as("p"), ($"id" * 2).as("v"))

  test("unpartitioned → partitioned: metadata-only, mixed layouts read + prune") {
    val path = Files.createTempDirectory("pevo-").toString
    val t = LakeTable.create(spark, path, batch(0, 1000))
    val filesBefore = t.toDF.inputFiles.toSet

    t.alterPartitionSpec(Seq("p"))
    // metadata-only: no file was rewritten or removed
    assert(t.toDF.inputFiles.toSet.intersect(filesBefore) === filesBefore)
    assert(t.history.select("operation").head.getString(0) === "SET PARTITION SPEC")

    t.append(batch(1000, 2000)) // new generation: hive p=K dirs
    assert(t.toDF.count() === 2000)
    assert(t.toDF.where($"p" === 3).count() === 200)
    assert(t.toDF.collect().toSet ===
      batch(0, 2000).collect().toSet)

    // pruning: p=3 keeps ALL old-generation files (no recorded p) but
    // only the p=3 file(s) of the new generation
    val all = t.toDF.inputFiles.length
    val pruned = t.read($"p" === 3).inputFiles.length
    assert(pruned < all, s"$pruned vs $all")
    assert(t.read($"p" === 3).count() === 200)
  }

  test("old-generation files keep pruning on the OLD spec after evolution") {
    val path = Files.createTempDirectory("pevo2-").toString
    val t = LakeTable.create(spark, path, batch(0, 1000), partitionBy = Seq("p"))
    val oldGenFiles = t.toDF.inputFiles.length
    t.alterPartitionSpec(Seq.empty) // back to unpartitioned
    t.append(batch(1000, 1100))
    // a p filter still prunes the old hive-partitioned generation via
    // each file's own partitionValues
    val scanned = t.read($"p" === 7).inputFiles.length
    assert(scanned < oldGenFiles,
      s"old generation should prune on p: scanned $scanned of >= $oldGenFiles")
    assert(t.read($"p" === 7).count() === 110)
  }

  test("DML spans generations; time travel sees the pre-evolution spec") {
    val path = Files.createTempDirectory("pevo3-").toString
    val t = LakeTable.create(spark, path, batch(0, 500))
    t.alterPartitionSpec(Seq("p"))
    t.append(batch(500, 1000))

    assert(t.delete($"p" === 4) === 100) // 50 in each generation
    assert(t.toDF.count() === 900)
    assert(t.toDF.where($"p" === 4).count() === 0)

    t.update($"p" === 5, Map("v" -> lit(-1L)))
    assert(t.toDF.where($"v" === -1L).count() === 100)

    // time travel to v0: original spec, original rows
    val v0 = t.asOf(0)
    assert(v0.toDF.count() === 500)
    assert(v0.snapshot.metaData.partitionColumns === Seq.empty)
    assert(t.snapshot.metaData.partitionColumns === Seq("p"))

    // a second evolution: three generations coexist
    t.alterPartitionSpec(Seq.empty)
    t.append(batch(1000, 1100))
    assert(t.toDF.count() === 1000 - 100 + 100)
    assert(t.toDF.where($"p" === 4).count() === 10) // only the newest batch
  }

  test("SQL surface: ALTER TABLE ... SET PARTITION SPEC (p) / NONE") {
    val w = Files.createTempDirectory("pevo-wh-").toString
    TestSpark.withCatalog("pevolake", w) {
      Files.createDirectories(java.nio.file.Paths.get(s"$w/db"))
      val t = LakeTable.create(spark, s"$w/db/pevo_t", batch(0, 100))
      spark.sql("ALTER TABLE pevolake.db.pevo_t SET PARTITION SPEC (p)")
      assert(t.snapshot.metaData.partitionColumns === Seq("p"))
      t.append(batch(100, 200))
      assert(spark.sql("SELECT count(*) FROM pevolake.db.pevo_t WHERE p = 3")
        .head().getLong(0) === 20)
      spark.sql("ALTER TABLE pevolake.db.pevo_t SET PARTITION SPEC NONE")
      assert(t.snapshot.metaData.partitionColumns === Seq.empty)
    }
  }

  test("reorganize rewrites only old-generation files into the current spec") {
    val path = Files.createTempDirectory("pevo5-").toString
    val t = LakeTable.create(spark, path, batch(0, 500)) // gen 0: flat
    t.alterPartitionSpec(Seq("p"))
    t.append(batch(500, 1000)) // gen 1: p= layout
    val newGenFiles = t.snapshot.files
      .filter(_.partitionValues.keySet == Set("p")).map(_.path).toSet
    assert(newGenFiles.nonEmpty)

    assert(t.reorganize() === 500L) // only the flat generation rewrites
    val after = t.snapshot.files
    // one layout remains, current-spec files untouched
    assert(after.forall(_.partitionValues.keySet == Set("p")),
      s"mixed layouts after reorganize: " +
        after.map(f => s"${f.path}=${f.partitionValues.keySet.mkString("+")}")
          .mkString(", "))
    assert(newGenFiles.subsetOf(after.map(_.path).toSet),
      s"current-spec files rewritten by reorganize: missing " +
        (newGenFiles -- after.map(_.path).toSet).mkString(", ") +
        s"; after=${after.map(_.path).mkString(", ")}")
    assert(t.history.select("operation").head.getString(0) === "REORGANIZE")
    // content unchanged; pruning now applies to every file
    assert(t.toDF.collect().toSet === batch(0, 1000).collect().toSet)
    assert(t.read($"p" === 3).inputFiles.length < after.size)
    assert(t.reorganize() === 0L) // idempotent: nothing left to rewrite
  }

  test("reorganize materializes deletion vectors of old-generation files") {
    val path = Files.createTempDirectory("pevo6-").toString
    val t = LakeTable.create(spark, path, batch(0, 200))
    t.delete($"id" < 10L) // small fraction → DV sidecar, no rewrite
    def hasDv(f: AddFile) = f.dvPath.isDefined || f.dvInline.isDefined
    assert(t.snapshot.files.exists(hasDv),
      s"expected a DV sidecar after the small delete, files: " +
        t.snapshot.files.map(f => s"${f.path} dv=${f.dvPath}/${f.dvInline.isDefined}")
          .mkString(", "))
    t.alterPartitionSpec(Seq("p"))
    assert(t.reorganize() === 190L) // live rows only
    assert(!t.snapshot.files.exists(hasDv),
      s"DV survived reorganize on: " +
        t.snapshot.files.filter(hasDv).map(_.path).mkString(", "))
    assert(t.toDF.count() === 190)
    assert(t.toDF.where($"id" < 10L).count() === 0)
  }

  test("SQL surface: OPTIMIZE ... REORGANIZE") {
    val w = Files.createTempDirectory("pevo-wh2-").toString
    TestSpark.withCatalog("pevolake2", w) {
      Files.createDirectories(java.nio.file.Paths.get(s"$w/db"))
      val t = LakeTable.create(spark, s"$w/db/pevo_r", batch(0, 100))
      spark.sql("ALTER TABLE pevolake2.db.pevo_r SET PARTITION SPEC (p)")
      t.append(batch(100, 200))
      val n = spark.sql("OPTIMIZE pevolake2.db.pevo_r REORGANIZE")
        .head().getLong(0)
      assert(n === 100L)
      assert(t.snapshot.files.forall(_.partitionValues.keySet == Set("p")),
        s"mixed layouts after SQL REORGANIZE: " +
          t.snapshot.files
            .map(f => s"${f.path}=${f.partitionValues.keySet.mkString("+")}")
            .mkString(", "))
      assert(spark.sql("SELECT count(*) FROM pevolake2.db.pevo_r").head().getLong(0) === 200)
    }
  }

  test("validation: unknown and duplicate columns are rejected") {
    val path = Files.createTempDirectory("pevo4-").toString
    val t = LakeTable.create(spark, path, batch(0, 10))
    intercept[IllegalArgumentException](t.alterPartitionSpec(Seq("nope")))
    intercept[IllegalArgumentException](t.alterPartitionSpec(Seq("p", "p")))
  }
}
