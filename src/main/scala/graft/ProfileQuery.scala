package graft


/** Scratch per-job profiler for catalog queries (not part of the driver
  * contract). For each named query: builds the frame, materializes it
  * through the noop sink, and prints every Spark job's wall time with
  * its call site — attributing a 4-second lifecycle entry to its
  * phases (staging write / bloom build / zOrder / checkpoint / probe).
  * Usage: runMain graft.ProfileQuery <sfDir> <query> [query...]
  * Env: PROF_REPS=n (default 1) repeats each query n times.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionRecipe.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("PROF_CONF").foreach(_.split(';').foreach { kv =>
      val Array(k, v) = kv.split('=')
      spark.conf.set(k, v)
    })
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val props = Option(e.properties)
          val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
            .orElse(e.stageInfos.headOption.map(_.name))
            .getOrElse("?")
          val stages = e.stageInfos.map(s => s"${s.name.takeWhile(_ != ' ')}:${s.numTasks}").mkString(",")
          jobStarts.put(e.jobId, (e.time, s"$desc [$stages]"))
        }
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (t0, desc) = jobStarts.getOrDefault(e.jobId, (e.time, "?"))
          jobStarts.remove(e.jobId)
          println(f"[job] ${e.jobId}%4d ${(e.time - t0) / 1e3}%7.3f s  ${desc.take(110)}")
        }
      })
    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    // warm-up: JVM/lake/codegen init lands here, not in the first query
    try materialize("q1_pricing_summary") catch { case _: Throwable => () }
    try {
      val w = java.nio.file.Files.createTempDirectory("pq-warm-").toString
      val df = spark.range(0, 100).selectExpr("id", "id * 1.0 as v")
      val t = graft.lake.LakeTable.create(spark, s"$w/t", df)
      t.merge(df, org.apache.spark.sql.functions.expr("t.id = s.id"))
      t.compact()
    } catch { case _: Throwable => () }
    val reps = sys.env.get("PROF_REPS").flatMap(_.toIntOption).getOrElse(1)
    names.foreach { name =>
      for (rep <- 1 to reps) {
        System.gc()
        println(s"==== $name rep$rep")
        val t0 = System.nanoTime()
        try materialize(name) catch { case e: Throwable =>
          println(s"FAILED: ${e.getMessage}") }
        // let the async listener bus drain so [job] lines land in-block
        Thread.sleep(200)
        println(f"==== $name rep$rep TOTAL ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
