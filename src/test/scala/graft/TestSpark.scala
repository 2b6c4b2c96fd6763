package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object TestSpark {
  lazy val session: SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // partitioned+bucketed tables key on (partitions, bucket); joins on
      // just the bucket columns still SPJ by grouping on the subset
      .config("spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse-").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with the lake catalog `name` over `warehouse` registered
    * on the shared session, and unsets both of its keys afterwards, so
    * no later suite sees the catalog. */
  def withCatalog[T](name: String, warehouse: String)(body: => T): T = {
    session.conf.set(s"spark.sql.catalog.$name", "org.apache.spark.sql.graft.LakeCatalog")
    session.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    try body
    finally {
      session.conf.unset(s"spark.sql.catalog.$name")
      session.conf.unset(s"spark.sql.catalog.$name.warehouse")
    }
  }
}

/** Shared filesystem helpers for specs (one copy, not one per suite). */
object TestFs {
  /** Recursive delete, tolerant of concurrently-vanishing entries —
    * the fixture primitive of every delete+recreate-at-the-same-path
    * regression test. */
  def rmRf(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p))
      graft.util.Fs.listDir(p).foreach(rmRf)
    java.nio.file.Files.deleteIfExists(p)
  }

  def rmRf(path: String): Unit = rmRf(java.nio.file.Paths.get(path))
}
