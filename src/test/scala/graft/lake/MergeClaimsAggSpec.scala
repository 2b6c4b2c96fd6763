package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Unit-pins the fused merge-claims aggregate's buffer algebra — the
  * cross-partition multi-match cases a co-partitioned equi-join rarely
  * produces but a cartesian/theta merge condition can — and its
  * retry safety: partials built by real tasks are keyed by partition
  * id, so a partial the driver receives twice (a re-run map stage)
  * counts once. */
class MergeClaimsAggSpec extends AnyFunSuite {

  private def reduce(b: MergeClaimsBuffer,
      rows: (String, Long, Boolean, Int)*): MergeClaimsBuffer = {
    rows.foreach(r => MergeClaimsAgg.reduce(b, r))
    b
  }

  private def roundTrip(b: MergeClaimsBuffer): Map[String, MergeFileClaims] =
    MergeClaimsAgg.decode(MergeClaimsAgg.finish(b))

  test("claims and single matches: no ambiguity, bitmap carries claimed idx") {
    val b = reduce(MergeClaimsAgg.zero,
      ("f1", 0L, true, 1), // matched, claimed by clause 1
      ("f1", 1L, true, -1), // matched, no clause applied
      ("f1", 2L, false, 0), // by-source claim
      ("", -1L, false, 3)) // source-only row: ignored
    val m = roundTrip(b)
    assert(m.keySet === Set("f1"))
    assert(m("f1").maxMatches <= 1)
    val bm = Dv.deserialize(m("f1").claims)
    assert(bm.contains(0L) && bm.contains(2L) && !bm.contains(1L))
  }

  test("within-buffer multi-match: exact count and offending idx") {
    val b = reduce(MergeClaimsAgg.zero,
      ("f1", 5L, true, 0), ("f1", 5L, true, 0), ("f1", 5L, true, 0))
    val m = roundTrip(b)
    assert(m("f1").maxMatches === 3L)
    assert(m("f1").maxMatchesIdx === 5L)
  }

  test("cross-buffer multi-match: once in each of two partitions") {
    val a = reduce(MergeClaimsAgg.zero, ("f1", 7L, true, -1))
    val b = reduce(MergeClaimsAgg.zero, ("f1", 7L, true, -1))
    val m = roundTrip(MergeClaimsAgg.merge(a, b))
    assert(m("f1").maxMatches === 2L)
    assert(m("f1").maxMatchesIdx === 7L)
  }

  test("cross-buffer exact sums: dup+dup, dup+seen, three-way") {
    val a = reduce(MergeClaimsAgg.zero,
      ("f1", 1L, true, -1), ("f1", 1L, true, -1), // count 2
      ("f1", 2L, true, -1)) // count 1
    val b = reduce(MergeClaimsAgg.zero,
      ("f1", 1L, true, -1), // +1 -> 3
      ("f1", 2L, true, -1), ("f1", 2L, true, -1)) // +2 -> 3
    val c = reduce(MergeClaimsAgg.zero, ("f1", 2L, true, -1)) // -> 4
    val merged = MergeClaimsAgg.merge(MergeClaimsAgg.merge(a, b), c)
    val f = merged.files.get("f1")
    assert(f.countOf(1L) === 3L)
    assert(f.countOf(2L) === 4L)
    val m = roundTrip(merged)
    assert(m("f1").maxMatches === 4L)
  }

  test("buffer survives java serialization (partial aggregation wire)") {
    val a = reduce(MergeClaimsAgg.zero,
      ("f1", 1L, true, 0), ("f1", 1L, true, 0), ("f2", 9L, false, 2))
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(a); oos.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[MergeClaimsBuffer]
    val m = roundTrip(back)
    assert(m("f1").maxMatches === 2L)
    assert(Dv.deserialize(m("f2").claims).contains(9L))
  }

  test("files with neither claims nor dups are dropped from the blob") {
    val b = reduce(MergeClaimsAgg.zero, ("f1", 3L, true, -1))
    assert(roundTrip(b).isEmpty)
  }

  /** One serialized partial per partition, each built by a real task
    * (so keyed by its TaskContext partition id). */
  private def taskPartials(
      perPartition: Seq[Seq[(String, Long, Boolean, Int)]]): Seq[Array[Byte]] =
    TestSpark.session.sparkContext
      .parallelize(perPartition, perPartition.size)
      .map(rows => ClaimsWire.write(
        rows.foldLeft(MergeClaimsAgg.zero)(MergeClaimsAgg.reduce)))
      .collect().toSeq

  test("retry: a duplicated identical partial still reports maxMatches == 1") {
    val Seq(p0, p1) = taskPartials(Seq(
      Seq(("f1", 5L, true, 0), ("f1", 6L, false, 0)),
      Seq(("f1", 7L, true, -1))))
    // partition 0's partial arrives twice, as after a map-stage retry
    val merged = Seq(p0, p1, p0).map(ClaimsWire.read).reduce(MergeClaimsAgg.merge)
    val m = roundTrip(merged)
    assert(m("f1").maxMatches === 1L)
    val bm = Dv.deserialize(m("f1").claims)
    assert(bm.getLongCardinality === 2L && bm.contains(5L) && bm.contains(6L))
  }

  test("retry: a genuine two-source match still counts 2 and the merge throws") {
    val Seq(p0, p1) = taskPartials(Seq(
      Seq(("f1", 7L, true, 0)), Seq(("f1", 7L, true, 0))))
    val merged = Seq(p0, p1, p1).map(ClaimsWire.read).reduce(MergeClaimsAgg.merge)
    val m = roundTrip(merged)
    assert(m("f1").maxMatches === 2L)
    assert(m("f1").maxMatchesIdx === 7L)

    // end to end: two source rows in different partitions hit one row
    val spark = TestSpark.session
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("claims-retry-").toString
    val t = LakeTable.create(spark, path, (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v"))
    val v0 = t.version
    val src = Seq((3L, 30.0), (3L, 31.0), (25L, 1.0)).toDF("id", "v").repartition(2)
    val e = intercept[IllegalArgumentException] {
      t.mergeClauses(src, col("t.id") === col("s.id"),
        Seq(MergeClause.Update(None, Map.empty)),
        Seq(MergeClause.Insert(None, Map.empty)), Seq.empty)
    }
    assert(e.getMessage.contains("matches multiple source rows"))
    assert(t.version === v0)
  }
}

/** Java-serialization round trip of a claims buffer (the partial
  * aggregation wire), usable inside task closures. */
object ClaimsWire {
  def write(b: MergeClaimsBuffer): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(b); oos.close()
    bos.toByteArray
  }
  def read(bytes: Array[Byte]): MergeClaimsBuffer =
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[MergeClaimsBuffer]
}
