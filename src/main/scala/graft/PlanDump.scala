package graft

import java.nio.file.{Files, Paths}


/** Dump the full `.explain("formatted")` output of catalog queries to
  * files — the optimization rounds' evidence artifacts
  * (`plans/rNN/<query>_{before,after}.txt`). Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> [queryName...]
  * (no names = every catalog query). The session is [[SessionRecipe]]'s,
  * Bench's confs, so the dumped plan is the one the bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionRecipe.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val shape = PlanAudit.shape(df)
        val body = s"== $name ($suffix) sf=$sfDir\n" +
          s"== shape: broadcast=${shape.broadcastJoins} " +
          s"sortMerge=${shape.sortMergeJoins} exchanges=${shape.exchanges} " +
          s"files=${shape.files}\n\n" + plan
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          body.getBytes("UTF-8"))
        println(s"dumped $name")
      } catch { case e: Throwable =>
        println(s"FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
