package graft

import org.apache.spark.sql.execution.QueryExecution

/** Plan-quality audit (builder brief: ".explain the plan and iterate
  * until it's the plan you'd want"): prints the formatted physical plan
  * of key catalog queries and greps for the properties a 100 TB plan
  * must have — filter pushdown into the parquet scan, pruned read
  * schemas, broadcast joins on dims, whole-stage codegen coverage.
  * Usage: runMain graft.PlanAudit <sfDir> [queryName...]
  */
object PlanAudit {

  /** The shape facts a 100 TB plan lives or dies by. `files` is the
    * scan's input-file count — for lake reads this IS the post-skipping
    * candidate set, so a skipping regression (a wide IN or box read
    * suddenly scanning the table instead of the key span) fails the
    * round diff as loudly as a lost broadcast. */
  final case class PlanShape(broadcastJoins: Int, sortMergeJoins: Int,
    exchanges: Int, files: Int)

  /** Count the shape of a query's physical plan (pre-AQE): used by the
    * audit printout here and by [[Bench]]'s per-round `plans` JSON so a
    * plan regression (new shuffle, lost broadcast) fails loudly in the
    * round diff, not just as a wall-clock smear.
    */
  def shape(df: org.apache.spark.sql.DataFrame): PlanShape = {
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    PlanShape(
      plan.linesIterator.count(_.contains("BroadcastHashJoin")),
      plan.linesIterator.count(_.contains("SortMergeJoin")),
      // tree lines only ("+- Exchange" / ":- Exchange" / root "Exchange");
      // the detail section prints nodes as "(4) Exchange" and is skipped
      plan.linesIterator.count(l =>
        l.contains("+- Exchange") || l.contains(":- Exchange") ||
          l.trim.startsWith("Exchange")),
      df.inputFiles.length)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_pricing_summary", "q5_revenue_by_nation",
        "q3_shipping_priority", "o1_topk_orders", "w2_running_sum",
        "d1_exact_dedup", "sim1_cosine_topk")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SessionRecipe.session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val pushed = "PushedFilters: \\[[^\\]]+\\]".r
        .findAllIn(plan).toSeq.distinct
      val schemas = "ReadSchema: [^\n]+".r.findAllIn(plan).toSeq
      val s = shape(df)
      println(s"== $name")
      println(s"   broadcastJoins=${s.broadcastJoins} " +
        s"sortMergeJoins=${s.sortMergeJoins} exchanges=${s.exchanges} " +
        s"files=${s.files}")
      pushed.take(4).foreach(p => println(s"   $p"))
      schemas.take(4).foreach(s => println(s"   ${s.take(150)}"))
    }
    spark.stop()
  }
}
