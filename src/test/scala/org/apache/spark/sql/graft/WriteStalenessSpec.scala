package org.apache.spark.sql.graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.lake.{Action, CommitConflictException, CommitInfo, LakeTable, PinnedCommit}

/** Regression tests for the write staleness rule and the streaming
  * sink's schema-evolution switch:
  *
  *  - every data write commits through `LakeTable.commitWithRetry`. A
  *    blind append that loses the race for its version rebases, but only
  *    while the table's validation state (schema, constraints, layout,
  *    generation) still equals the metadata the write was PLANNED on: the
  *    staged rows were aligned and checked against it. A concurrent ADD
  *    CONSTRAINT / schema evolution aborts the commit; a commit touching
  *    only benign properties rebases through. (A recreated generation:
  *    `CommitGenerationSpec`.)
  *  - `LakeStreaming.sink(mergeSchema = ...)` was accepted and silently
  *    ignored — `idempotentAppend` always evolved the schema. The flag
  *    now reaches the append: `false` fails a batch carrying unknown
  *    columns instead of evolving the table under a sink that promised
  *    not to.
  */
class WriteStalenessSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** An append staged by hand: a copy of one of the table's files. */
  private def staged(t: LakeTable, name: String): Seq[Action] = {
    val f = t.snapshot.files.head
    val rel = s"$name.parquet"
    Files.copy(Paths.get(t.path, f.path), Paths.get(t.path, rel))
    val now = System.currentTimeMillis()
    Seq(Action.of(f.copy(path = rel, modificationTime = now)),
      Action.of(CommitInfo(now, "APPEND", Map.empty)))
  }

  test("a rebase refuses a concurrent metadata change") {
    val path = tmpDir("stale-pub-")
    val t = LakeTable.create(spark, path, Seq((1L, "a")).toDF("id", "v"))
    val planned = t.snapshot

    // metadata commit lands between write planning and commit
    t.alterAddColumn("extra", "INT")

    val versionBefore = t.snapshot.version
    intercept[CommitConflictException] {
      PinnedCommit(t, planned, staged(t, "stale"))
    }
    assert(t.snapshot.version === versionBefore, "nothing may commit")

    // re-planned against the CURRENT metadata the same commit goes through
    PinnedCommit(t, t.snapshot, staged(t, "fresh"))
    assert(t.snapshot.version === versionBefore + 1)
  }

  test("a rebase goes through a property-only commit") {
    val path = tmpDir("stale-benign-")
    val t = LakeTable.create(spark, path, Seq((1L, "a")).toDF("id", "v"))
    val planned = t.snapshot

    // a concurrent commit touching only benign table properties leaves
    // the staged rows valid — staleness compares validationState, not
    // whole-MetaData equality (ADVICE r5: whole-equality permanently
    // failed running streams whose plannedMeta is pinned at query start)
    t.setProperties(Map("owner" -> "data-eng", "comment" -> "benign"))

    val versionBefore = t.snapshot.version
    PinnedCommit(t, planned, staged(t, "benign"))
    assert(t.snapshot.version === versionBefore + 1,
      "the commit must rebase past a props-only commit")

    // but a CONSTRAINT added concurrently still aborts — staged rows
    // were never checked against it
    val planned2 = t.snapshot
    t.addCheckConstraint("idpos", "id > 0")
    intercept[CommitConflictException] {
      PinnedCommit(t, planned2, staged(t, "constraint"))
    }
    assert(!t.snapshot.files.exists(_.path == "constraint.parquet"))
  }

  test("a running stream survives a benign mid-stream property change") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmpDir("stale-benign-stream-")
    val table = s"$root/t"
    LakeTable.create(spark, table, Seq((0L, "seed")).toDF("id", "v"))

    val in = MemoryStream[(Long, String)]
    in.addData((1L, "a"))
    // DSv2 sink: the path whose plannedMeta is pinned at query START —
    // whole-MetaData staleness here permanently failed the stream on
    // any later props-only commit (ADVICE r5)
    val q = in.toDF().toDF("id", "v").writeStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", table)
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // mid-stream: an external props-only commit (e.g. an ownership
      // tag) — the stream's pinned plannedMeta must tolerate it
      LakeTable.forPath(spark, table)
        .setProperties(Map("owner" -> "someone-else"))
      in.addData((2L, "b"))
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"stream must survive a benign property change: ${q.exception}")
      assert(LakeTable.forPath(spark, table).read().count() === 3)
    } finally q.stop()
  }

  test("idempotentAppend(mergeSchema = false) rejects unknown columns") {
    val path = tmpDir("stale-merge-")
    val t = LakeTable.create(spark, path, Seq((1L, "a")).toDF("id", "v"))
    val evolved = Seq((2L, "b", 9)).toDF("id", "v", "extra")
    val e = intercept[IllegalArgumentException] {
      t.idempotentAppend(evolved, "app", 0L, mergeSchema = false)
    }
    assert(e.getMessage.contains("mergeSchema"))
    assert(t.snapshot.schema.fieldNames.toSeq === Seq("id", "v"),
      "the rejected batch must not evolve the table")
    // the default (true) still evolves — the sink's documented behavior
    assert(t.idempotentAppend(evolved, "app", 0L))
    assert(t.snapshot.schema.fieldNames.contains("extra"))
  }

  test("sink(mergeSchema = false) fails the stream on an evolved batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmpDir("stale-sink-")
    val table = s"$root/t"
    // table exists with (id, v); the stream's batches carry (id, v, extra)
    LakeTable.create(spark, table, Seq((0L, "seed")).toDF("id", "v"))

    val in = MemoryStream[(Long, String, Int)]
    in.addData((1L, "a", 1))
    val q = graft.streaming.LakeStreaming.sink(
      in.toDF().toDF("id", "v", "extra"), table,
      queryName = "no-evolve", checkpointLocation = s"$root/ckpt",
      mergeSchema = false)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(30000)
      q.processAllAvailable()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(c => Option(c.getMessage).exists(_.contains("mergeSchema"))))
    assert(LakeTable.forPath(spark, table).snapshot.schema.fieldNames.toSeq
      === Seq("id", "v"))
  }
}
