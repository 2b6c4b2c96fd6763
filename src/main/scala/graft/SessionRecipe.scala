package graft

import org.apache.spark.sql.SparkSession

/** The session recipe of the plan tools ([[PlanAudit]],
  * [[ProfileQuery]]): the same confs as `Bench.buildSession`, so a plan
  * they audit or profile is the plan the bench times.
  * `SessionRecipeSpec` fails when [[confs]] and Bench's `.config` pairs
  * differ.
  */
object SessionRecipe {

  /** Every `.config` pair of the session, for `cpus` local cores. */
  def confs(cpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.extensions" -> "org.apache.spark.sql.graft.GraftExtensions",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.ui.enabled" -> "false",
    "spark.ui.showConsoleProgress" -> "false")

  /** A `local[cpus]` session built from [[confs]]. */
  def session(cpus: String): SparkSession =
    confs(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
}
