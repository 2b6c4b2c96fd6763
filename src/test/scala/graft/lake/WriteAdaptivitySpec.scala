package graft.lake

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graft.SessionProbe
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The one writer chooses AQE per write, on the caller's own session: a
  * scan-shaped write is planned without it, a join-shaped one (a MERGE)
  * with it, and neither touches the session's conf, which the write's
  * tasks see as the caller set it. */
class WriteAdaptivitySpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  test("a scan-shaped append writes without AQE, a MERGE with it, on the caller's session") {
    val aqe = SQLConf.ADAPTIVE_EXECUTION_ENABLED.key
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "lakeWrite") plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // evaluated in the write's tasks: the AQE setting they were sent
    val probe = udf { (id: Long) =>
      WriteAdaptivitySpec.seen.add(SQLConf.get.adaptiveExecutionEnabled)
      id
    }
    /** The executed plans of the writes `body` runs, and what its tasks saw. */
    def writes(body: => Unit): (Seq[SparkPlan], Seq[Boolean]) = {
      plans.clear()
      WriteAdaptivitySpec.seen.clear()
      assert(spark.conf.get(aqe) === "true")
      body
      SessionProbe.drainListenerBus(spark.sparkContext)
      assert(spark.conf.get(aqe) === "true")
      (plans.asScala.toSeq, WriteAdaptivitySpec.seen.asScala.toSeq)
    }
    def adaptive(p: SparkPlan): Boolean = p.exists(_.isInstanceOf[AdaptiveSparkPlanExec])

    spark.listenerManager.register(listener)
    try {
      val t = LakeTable.create(spark, Files.createTempDirectory("write-aqe-").toString,
        spark.range(1, 21, 1, 2).select($"id", ($"id" * 2).as("v")))

      val (appendPlans, appendSeen) = writes(
        t.append(spark.range(21, 31, 1, 2).select(probe($"id").as("id"), ($"id" * 2).as("v"))))
      assert(appendPlans.size === 1)
      assert(!adaptive(appendPlans.head), appendPlans.head)
      assert(appendSeen.size === 10 && appendSeen.forall(identity), appendSeen)

      val src = spark.range(15, 25, 1, 2).select(probe($"id").as("id"), lit(0L).as("v"))
      val (mergePlans, mergeSeen) = writes(t.mergeClauses(src, col("t.id") === col("s.id"),
        matchedClauses = Seq(MergeClause.Update(None, Map("v" -> col("s.v")))),
        notMatchedClauses = Seq(MergeClause.Insert(None, Map.empty)),
        notMatchedBySourceClauses = Seq.empty, dvMaxFraction = 1.0))
      // every matched file takes a DV: the MERGE's one write is its join
      assert(mergePlans.size === 1)
      assert(adaptive(mergePlans.head), mergePlans.head)
      assert(mergeSeen.nonEmpty && mergeSeen.forall(identity), mergeSeen)

      assert(t.toDF.count() === 30)
      assert(t.toDF.where($"id".between(15, 24)).where($"v" =!= 0).isEmpty)
    } finally spark.listenerManager.unregister(listener)
  }
}

object WriteAdaptivitySpec {
  private val seen = new ConcurrentLinkedQueue[Boolean]()
}
