package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, SessionProbe}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The single-pass MERGE on change-feed tables: new rows and change rows
  * come from one generator over the merge join and ride one staged write,
  * routed to `_change_data/` by a hidden kind column (Delta's `__is_cdc`
  * partition). Checked on every layout against a plain model, for the
  * all-null `_change_type` column routed data files carry, for the job
  * shape (no cached join, no extra jobs), and over a long session.
  */
class MergeSinglePassSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private type Row3 = (Long, String, Double)
  private type Change = (Long, String, Double, String)

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("merge-1p-wh-").toString
    spark.conf.set("spark.sql.catalog.m1p", "org.apache.spark.sql.graft.LakeCatalog")
    spark.conf.set("spark.sql.catalog.m1p.warehouse", wh)
    Files.createDirectories(Paths.get(s"$wh/db"))
    wh
  }

  /** Even ids 2..80 spread over 4 files, so every base file spans the
    * whole key range: an absent odd key can only be skipped by a bloom
    * probe. */
  private val baseRows: Seq[Row3] =
    (1 to 40).map(i => (2L * i, Seq("AZ", "CA", "NY", "TX")(i % 4), i * 10.0))

  /** Matched ids 2..20: odd i raises the amount (update), i = 2, 4 carry
    * op D (delete), the rest lower it (no clause). Ids 90..98 insert. */
  private val srcRows: Seq[(Long, String, Double, String)] =
    (1 to 10).map { i =>
      val id = 2L * i
      if (i % 2 == 1) (id, "UT", i * 10.0 + 5, "U")
      else if (i <= 4) (id, "WA", i * 10.0, "D")
      else (id, "WA", i * 10.0 - 5, "U")
    } ++ (45 to 49).map(i => (2L * i, "NV", i * 1.0, "I"))

  private def source: DataFrame =
    srcRows.toDF("id", "state", "amount", "op").repartition(3)

  /** update-if-cond, delete, insert and a by-source update */
  private def runMerge(t: LakeTable, src: DataFrame, useDvs: Boolean = true): Unit =
    t.mergeClauses(src, col("t.id") === col("s.id"),
      matchedClauses = Seq(
        MergeClause.Update(Some(col("s.amount") > col("t.amount")),
          Map("state" -> col("s.state"), "amount" -> col("s.amount"))),
        MergeClause.Delete(Some(col("s.op") === "D"))),
      notMatchedClauses = Seq(MergeClause.Insert(None, Map.empty)),
      notMatchedBySourceClauses = Seq(MergeClause.Update(
        Some(col("t.state") === "CA"), Map("amount" -> col("t.amount") * 10))),
      useDvs = useDvs)

  /** The same MERGE over plain collections: (final rows, change rows). */
  private lazy val model: (Seq[Row3], Seq[Change]) = {
    val src = srcRows.map(r => r._1 -> r).toMap
    val out = Seq.newBuilder[Row3]
    val changes = Seq.newBuilder[Change]
    def update(old: Row3, now: Row3): Unit = {
      out += now
      changes += ((old._1, old._2, old._3, Cdc.UPDATE_PRE))
      changes += ((now._1, now._2, now._3, Cdc.UPDATE_POST))
    }
    baseRows.foreach { case t @ (id, st, amt) =>
      src.get(id) match {
        case Some((_, sst, samt, op)) =>
          if (samt > amt) update(t, (id, sst, samt))
          else if (op == "D") changes += ((id, st, amt, Cdc.DELETE))
          else out += t
        case None =>
          if (st == "CA") update(t, (id, st, amt * 10)) else out += t
      }
    }
    val targetIds = baseRows.map(_._1).toSet
    srcRows.filterNot(r => targetIds(r._1)).foreach { case (id, st, amt, _) =>
      out += ((id, st, amt))
      changes += ((id, st, amt, Cdc.INSERT))
    }
    (out.result().sorted, changes.result().sorted)
  }

  private def rows(df: DataFrame): Seq[Row3] =
    df.select("id", "state", "amount").as[Row3].collect().toSeq.sorted

  private def changesAt(t: LakeTable, v: Long): Seq[Change] =
    t.tableChanges(v, Some(v)).select("id", "state", "amount", Cdc.CHANGE_TYPE)
      .as[Change].collect().toSeq.sorted

  private def walk(p: Path): Seq[Path] =
    Files.walk(p).iterator().asScala.toSeq

  private val bloomProps =
    Map(BloomIndex.COLS_PROP -> "id", BloomIndex.FPP_PROP -> "0.001")

  private case class Variant(name: String, partitionBy: Seq[String] = Nil,
      bucketBy: Seq[String] = Nil, numBuckets: Int = 0,
      props: Map[String, String] = Map.empty, useDvs: Boolean = true,
      cdf: Boolean = true)

  private def create(v: Variant, path: String): LakeTable =
    LakeTable.create(spark, path,
      baseRows.toDF("id", "state", "amount").repartition(4),
      partitionBy = v.partitionBy,
      properties = v.props ++ (if (v.cdf) Map(Cdc.PROP -> "true") else Map.empty),
      bucketBy = v.bucketBy, numBuckets = v.numBuckets)

  private val variants = Seq(
    Variant("flat"),
    Variant("identity_partitioned", partitionBy = Seq("state")),
    Variant("transform_partitioned", partitionBy = Seq("truncate(32, id)")),
    Variant("bucketed", bucketBy = Seq("id"), numBuckets = 4),
    Variant("bloom_indexed", props = bloomProps),
    Variant("copy_on_write", useDvs = false),
    Variant("control_no_cdf", cdf = false))

  for (v <- variants) {
    val label = v.name match {
      case "bloom_indexed" => "bloom_indexed (sidecars by the classic read-side build)"
      case n => n
    }
    test(s"multi-clause MERGE on $label matches the model") {
      val t = create(v, s"$warehouse/db/${v.name}")
      val before = t.version
      runMerge(t, source, v.useDvs)
      val ver = t.version
      assert(ver === before + 1)
      val (expRows, expChanges) = model

      // final rows, through the API and through SQL; no change row leaks
      assert(rows(t.toDF) === expRows)
      val viaSql = spark.sql(s"SELECT * FROM m1p.db.${v.name}")
      assert(rows(viaSql) === expRows)
      assert(!t.toDF.columns.contains(Cdc.CHANGE_TYPE))
      assert(!viaSql.columns.contains(Cdc.CHANGE_TYPE))

      // change feed and where its files live
      val cdcFiles = t.log.readCommit(ver).flatMap(_.cdc)
      if (v.cdf) {
        assert(changesAt(t, ver) === expChanges)
        assert(cdcFiles.nonEmpty)
        cdcFiles.foreach { c =>
          assert(c.path.startsWith(Cdc.CDC_DIR + "/"), c.path)
          assert(Files.isRegularFile(Paths.get(t.path, c.path)), c.path)
        }
      } else assert(cdcFiles.isEmpty)
      assert(t.snapshot.files.forall(!_.path.startsWith(Cdc.CDC_DIR)))
      assert(!walk(Paths.get(t.path)).exists(_.toString.contains(Cdc.KIND_COL)),
        "a routing directory survived the staging moves")

      if (v.props.contains(BloomIndex.COLS_PROP)) {
        // the routed write is partitioned on the kind column, so the
        // fused build (flat writes only) steps aside and the classic
        // read-side build indexes the commit's AddFiles: data files only
        val files = t.snapshot.files
        assert(files.forall(_.bloomPath.isDefined))
        files.foreach(f =>
          assert(Files.exists(Paths.get(t.path).resolve(f.bloomPath.get))))
        val cdcNames = cdcFiles.map(c => Paths.get(c.path).getFileName.toString)
        val sidecars = walk(Paths.get(t.path, BloomIndex.INDEX_DIR))
          .map(_.getFileName.toString)
        assert(!sidecars.exists(s =>
          cdcNames.exists(n => s.endsWith(s"-$n${BloomIndex.SIDECAR_SUFFIX}"))))
        // probes still prune: an absent odd key inside every file's range
        BloomMetrics.reset()
        assert(t.read($"id" === 33L).count() === 0L)
        assert(BloomMetrics.skippedByBloom.get() > 0L)
        assert(t.read($"id" === 30L).count() === 1L)
      }

      // the ambiguity error still throws and commits nothing
      val dup = Seq((6L, "X", 1.0, "U"), (6L, "Y", 2.0, "U"))
        .toDF("id", "state", "amount", "op").repartition(2)
      val e = intercept[IllegalArgumentException](runMerge(t, dup, v.useDvs))
      assert(e.getMessage.contains("matches multiple source rows"))
      assert(t.version === ver)
      assert(rows(t.toDF) === expRows)
    }
  }

  test("null-column safety: routed data files read like files without _change_type") {
    def fresh(cdf: Boolean): LakeTable = create(Variant("nc", cdf = cdf),
      Files.createTempDirectory("merge-1p-nc-").toString)
    val a = fresh(cdf = true) // routed: merge data files carry _change_type
    val b = fresh(cdf = false) // control: plain data files
    val pre = a.version
    runMerge(a, source)
    runMerge(b, source)
    val merged = a.version
    val (expRows, expChanges) = model

    // the null column is really there (and only there): in the merge's
    // new-row files, not in its survivor rewrites, never non-null
    def newFiles(t: LakeTable): Seq[DataFrame] = {
      val old = t.asOf(pre).snapshot.files.map(_.path).toSet
      t.snapshot.files.map(_.path).filterNot(old)
        .map(p => spark.read.parquet(s"${t.path}/$p"))
    }
    val routed = newFiles(a).filter(_.columns.contains(Cdc.CHANGE_TYPE))
    assert(routed.nonEmpty)
    routed.foreach(f => assert(f.where(col(Cdc.CHANGE_TYPE).isNotNull).isEmpty))
    assert(!newFiles(b).exists(_.columns.contains(Cdc.CHANGE_TYPE)))

    def same(what: String)(f: LakeTable => DataFrame): Unit = {
      val (x, y) = (f(a), f(b))
      assert(x.columns.toSeq === y.columns.toSeq, what)
      assert(x.collect().map(_.toString).sorted.toSeq ===
        y.collect().map(_.toString).sorted.toSeq, what)
    }
    same("read")(_.toDF)
    same("time travel")(_.asOf(pre).toDF)
    same("time travel to the merge")(_.asOf(merged).toDF)
    // stats-skipped point read: min/max prunes the base files (2..80)
    same("point read")(_.read($"id" === 96L))
    assert(a.read($"id" === 96L).inputFiles.length <
      a.snapshot.files.size)

    // streaming change feed sees the merge's change rows unchanged
    val q = spark.readStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", a.path)
      .option("readChangeFeed", "true")
      .load()
      .writeStream.format("memory").queryName("merge_1p_cdf")
      .option("checkpointLocation",
        Files.createTempDirectory("merge-1p-ckpt-").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("merge_1p_cdf")
        .where(col("_commit_version") === merged)
        .select("id", "state", "amount", Cdc.CHANGE_TYPE)
        .as[Change].collect().toSeq.sorted
      assert(streamed === expChanges)
    } finally q.stop()

    // column mapping while routed files are live, then rewrites
    a.alterRenameColumn("amount", "total"); b.alterRenameColumn("amount", "total")
    same("rename")(_.toDF)
    assert(a.toDF.select("total").as[Double].collect().sorted.toSeq ===
      expRows.map(_._3).sorted)
    a.alterDropColumn("state"); b.alterDropColumn("state")
    same("drop column")(_.toDF)
    same("point read after drop")(_.read($"id" === 96L))
    a.compact(); b.compact()
    same("compact")(_.toDF)
    a.zOrderBy("id", "total"); b.zOrderBy("id", "total")
    same("zorder")(_.toDF)
    same("time travel after rewrites")(_.asOf(merged).toDF)
  }

  /** Jobs started under a private job group, and queries whose plans
    * read a cached relation, while `body` runs. */
  private def shape(body: => Unit): (Int, Int) = {
    LakeLog.awaitMaintenance()
    val sc = spark.sparkContext
    val group = s"merge-shape-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val cached = new AtomicInteger()
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.optimizedPlan.exists(_.isInstanceOf[InMemoryRelation]) ||
            qe.executedPlan.toString.contains("InMemoryTableScan"))
          cached.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jl)
    spark.listenerManager.register(ql)
    sc.setJobGroup(group, "merge job shape")
    try body
    finally {
      sc.clearJobGroup()
      SessionProbe.drainListenerBus(sc)
      spark.listenerManager.unregister(ql)
      sc.removeSparkListener(jl)
    }
    (jobs.get(), cached.get())
  }

  test("job shape: a change-feed DV merge caches nothing and adds no jobs") {
    def fresh(v: Variant) =
      create(v, Files.createTempDirectory("merge-1p-shape-").toString)
    val cdf = fresh(Variant("shape"))
    val plain = fresh(Variant("shape", cdf = false))
    val cow = fresh(Variant("shape"))
    runMerge(fresh(Variant("shape")), source) // warm the plan shapes
    val (plainJobs, plainCached) = shape(runMerge(plain, source))
    val (cdfJobs, cdfCached) = shape(runMerge(cdf, source))
    assert(cdfCached === 0, "a change-feed DV merge read a cached relation")
    assert(plainCached === 0)
    assert(cdfJobs <= plainJobs,
      s"change-feed merge ran $cdfJobs jobs, the plain one $plainJobs")
    // the probe sees caches: the copy-on-write merge keeps its cached join
    val (_, cowCached) = shape(runMerge(cow, source, useDvs = false))
    assert(cowCached > 0)
  }

  test("long session: fifty change-feed merges leak no cache, listener or twin") {
    val sc = spark.sparkContext
    val t = LakeTable.create(spark,
      Files.createTempDirectory("merge-1p-long-").toString,
      (1L to 200L).map(i => (i, "s", i * 1.0)).toDF("id", "state", "amount"),
      properties = Map(Cdc.PROP -> "true"))
    def step(i: Int): Unit = {
      val keys = (0 until 10).map(k => (i * 7L + k * 13L) % 260L + 1L)
      runMerge(t, keys.map(k => (k, s"v$i", k + i * 1.0, "U"))
        .toDF("id", "state", "amount", "op"))
      // a join-free staged write goes through the AQE-off twin
      if (i % 10 == 0) t.append(Seq((1000L + i, "a", 1.0)).toDF("id", "state", "amount"))
    }
    def probe(): (Int, Int, Int) = {
      LakeLog.awaitMaintenance()
      SessionProbe.drainListenerBus(sc)
      (sc.getPersistentRDDs.size, SessionProbe.listenerCount(sc), Bridge.twinCount)
    }
    (0 until 2).foreach(step)
    val before = probe()
    (2 until 52).foreach(step)
    val after = probe()
    assert(after._1 <= before._1, s"persisted RDDs grew: $before -> $after")
    assert(after._2 <= before._2, s"listener-bus listeners grew: $before -> $after")
    assert(after._3 <= before._3, s"twin sessions grew: $before -> $after")
    assert(t.toDF.count() === t.tableChanges(0).where(
      col(Cdc.CHANGE_TYPE).isin(Cdc.INSERT, Cdc.UPDATE_POST)).count() -
      t.tableChanges(0).where(col(Cdc.CHANGE_TYPE).isin(Cdc.DELETE, Cdc.UPDATE_PRE)).count())
  }
}
