package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StageFault
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Connected components over near-dup pair graphs
  * ([[Dedup.components]] / [[Dedup.dedupByPairs]]).
  */
class ComponentsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def comps(pairs: (Long, Long)*): Map[Long, Long] =
    Dedup.components(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  test("chains, stars, and disjoint clusters all collapse to min id") {
    val m = comps(
      (1L, 2L), (2L, 3L), (3L, 4L), // chain
      (10L, 11L), (10L, 12L), (10L, 13L), // star
      (20L, 21L)) // pair
    assert(m === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("long path converges (multi-hop propagation, not one round)") {
    val path = (1L until 15L).map(i => (i, i + 1))
    val m = comps(path: _*)
    assert(m.values.toSet === Set(1L))
    assert(m.keySet === (1L to 15L).toSet)
  }

  test("bridging edge merges two established clusters") {
    val m = comps((1L, 2L), (3L, 4L), (2L, 3L))
    assert(m.values.toSet === Set(1L))
  }

  test("reversed/duplicated edges change nothing") {
    val m = comps((2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L))
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("stage retry under the persisted cut: labels match a fault-free run") {
    // chains of ten plus disjoint pairs, over a repartition whose reading
    // stage carries the fault: the edges cut's job re-runs that stage
    val pairs = (0L until 40L).flatMap(c => (0L until 9L).map(i => (c * 10 + i, c * 10 + i + 1))) ++
      (1000L until 1040L by 2).map(i => (i, i + 1))
    def input(faulty: Boolean) = pairs.toDF("id_a", "id_b").repartition(4).select(
      (if (faulty) when(StageFault.failOnce(col("id_a")), col("id_a")) else col("id_a")).as("id_a"),
      col("id_b"))
    def labels(faulty: Boolean) =
      Dedup.components(input(faulty)).as[(Long, Long)].collect().toSeq.sorted
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    val (clean, faulty, seen) =
      try {
        val clean = labels(faulty = false)
        var faulty = Seq.empty[(Long, Long)]
        val seen = StageFault.armed(spark.sparkContext) { faulty = labels(faulty = true) }
        (clean, faulty, seen)
      } finally spark.conf.unset(coalesce)
    assert(seen.retries >= 1, "no stage was retried")
    assert(faulty === clean)
    assert(clean.size === 440)
    assert(clean.map(_._2).distinct.size === 60)
  }

  test("dedupByPairs keeps one representative per cluster + unmatched rows") {
    val df = (1L to 8L).map(i => (i, s"doc$i")).toDF("id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByPairs(df, "id", pairs)
      .select("id").as[Long].collect().sorted.toSeq
    // clusters {1,2,3}→1 and {5,6}→5; 4,7,8 untouched
    assert(kept === Seq(1L, 4L, 5L, 7L, 8L))
  }

  test("end-to-end: LSH pairs -> components -> dedup of injected dups") {
    val docs = ((1L to 40L).map(i =>
      (i, s"completely unique document number $i with its own words " +
        s"alpha$i beta$i gamma$i delta$i epsilon$i")) ++
      Seq((101L, "the shared near duplicate text body for cluster one"),
        (102L, "the shared near duplicate text body for cluster one!"),
        (103L, "the shared near duplicate text body for cluster one!!")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.5)
    val kept = Dedup.dedupByPairs(docs, "doc_id", pairs)
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(keptIds.contains(101L))
    assert(!keptIds.contains(102L) && !keptIds.contains(103L))
    assert((1L to 40L).forall(keptIds.contains))
  }
}
