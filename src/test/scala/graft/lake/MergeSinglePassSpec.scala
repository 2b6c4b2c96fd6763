package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{SessionProbe, StageFault}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Change-feed DML in one pass: MERGE, UPDATE and DELETE build data rows
  * and change rows with one generator and stage them through one writer,
  * routed to `_change_data/` by a hidden kind column (Delta's `__is_cdc`
  * partition). Checked on every layout against a plain model, for the
  * all-null `_change_type` column routed data files carry, for the job
  * shape (no cached relation, no extra jobs), under real stage retries
  * (the write stage's included) and write-task failures, and over a long
  * session.
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

  /** update-if-cond, delete, insert and a by-source update; `gate(alias)`
    * (true) leads the first clause of each group, so every join row
    * evaluates it */
  private def runMerge(t: LakeTable, src: DataFrame, useDvs: Boolean = true,
      gate: String => Column = _ => lit(true)): Unit =
    t.mergeClauses(src, col("t.id") === col("s.id"),
      matchedClauses = Seq(
        MergeClause.Update(Some(gate("t") && col("s.amount") > col("t.amount")),
          Map("state" -> col("s.state"), "amount" -> col("s.amount"))),
        MergeClause.Delete(Some(col("s.op") === "D"))),
      notMatchedClauses = Seq(MergeClause.Insert(Some(gate("s")), Map.empty)),
      notMatchedBySourceClauses = Seq(MergeClause.Update(
        Some(gate("t") && col("t.state") === "CA"), Map("amount" -> col("t.amount") * 10))),
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

  /** The change-feed DML tests' UPDATE (ids up to 20: state UP, amount
    * + 1) and then DELETE (ids above 60, and id 2) over plain collections:
    * the rows after the UPDATE, after the DELETE, and each one's change
    * rows. */
  private val updated: Seq[Row3] = baseRows.map { case r @ (id, _, amt) =>
    if (id <= 20) (id, "UP", amt + 1) else r
  }
  private val updChanges: Seq[Change] =
    baseRows.zip(updated).collect { case ((id, st, amt), (_, nst, namt)) if id <= 20 =>
      Seq((id, st, amt, Cdc.UPDATE_PRE), (id, nst, namt, Cdc.UPDATE_POST))
    }.flatten.sorted
  private val dmlDeleted = (r: Row3) => r._1 > 60 || r._1 == 2
  private val delChanges: Seq[Change] = updated.filter(dmlDeleted)
    .map { case (id, st, amt) => (id, st, amt, Cdc.DELETE) }.sorted
  private val dmlSet = Map("state" -> lit("UP"), "amount" -> (col("amount") + 1))

  private def rows(df: DataFrame): Seq[Row3] =
    df.select("id", "state", "amount").as[Row3].collect().toSeq.sorted

  private def changesAt(t: LakeTable, v: Long): Seq[Change] =
    t.tableChanges(v, Some(v)).select("id", "state", "amount", Cdc.CHANGE_TYPE)
      .as[Change].collect().toSeq.sorted

  private def walk(p: Path): Seq[Path] =
    Files.walk(p).iterator().asScala.toSeq

  /** The table after commit `ver` against the model: rows through the
    * API and SQL, no `_change_type` column visible, the change feed at
    * `ver`, every change file under `_change_data/` and the dirs of the
    * table's identity partition columns, no routing dir left. Returns
    * the commit's change files. */
  private def checkModel(t: LakeTable, name: String, cdf: Boolean, ver: Long,
      expRows: Seq[Row3], expChanges: Seq[Change]): Seq[CdcFile] = {
    assert(rows(t.toDF) === expRows)
    val viaSql = spark.sql(s"SELECT * FROM m1p.db.$name")
    assert(rows(viaSql) === expRows)
    assert(!t.toDF.columns.contains(Cdc.CHANGE_TYPE))
    assert(!viaSql.columns.contains(Cdc.CHANGE_TYPE))
    val cdcFiles = t.log.readCommit(ver).flatMap(_.cdc)
    if (cdf) {
      assert(changesAt(t, ver) === expChanges)
      assert(cdcFiles.nonEmpty)
      val identity = PartitionTransforms.parseAll(t.snapshot.metaData.partitionColumns)
        .collect { case PartitionTransforms.Identity(c) => c }
      cdcFiles.foreach { c =>
        val dirs :+ file = c.path.split('/').toSeq
        assert(dirs.head === Cdc.CDC_DIR, c.path)
        assert(dirs.tail.map(_.takeWhile(_ != '=')) === identity, c.path)
        assert(file.startsWith("cdc-"), c.path)
        assert(Files.isRegularFile(Paths.get(t.path, c.path)), c.path)
      }
    } else assert(cdcFiles.isEmpty)
    assert(t.snapshot.files.forall(!_.path.startsWith(Cdc.CDC_DIR)))
    assert(!walk(Paths.get(t.path)).exists(_.toString.contains(Cdc.KIND_COL)),
      "a routing directory survived the staging moves")
    cdcFiles
  }

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
      case "bloom_indexed" => "bloom_indexed (sidecars from the write tasks)"
      case n => n
    }
    test(s"multi-clause MERGE on $label matches the model") {
      val t = create(v, s"$warehouse/db/${v.name}")
      val before = t.version
      runMerge(t, source, v.useDvs)
      val ver = t.version
      assert(ver === before + 1)
      val (expRows, expChanges) = model
      val cdcFiles = checkModel(t, v.name, v.cdf, ver, expRows, expChanges)

      if (v.props.contains(BloomIndex.COLS_PROP)) {
        // the routed write's tasks index the data files they write, and
        // only those: change files get no sidecar
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

    test(s"change-feed UPDATE and DELETE on ${v.name} match the model") {
      val name = s"${v.name}_dml"
      val t = create(v, s"$warehouse/db/$name")
      // a dvMaxFraction between the lowest and highest share of matched
      // rows per file sends some files to DVs and the rest to rewrites
      val upd = col("id") <= 20
      val shares = t.snapshot.files.map { f =>
        val df = spark.read.parquet(s"${t.path}/${f.path}")
        df.where(upd).count().toDouble / df.count()
      }.filter(x => x > 0 && x < 1).distinct.sorted
      assert(shares.size >= 2, s"per-file match shares $shares")
      val dvMax = (shares.head + shares.last) / 2

      t.update(upd, dmlSet, useDvs = v.useDvs, dvMaxFraction = dvMax)
      val info = t.log.readCommit(t.version).flatMap(_.commitInfo).head
      assert(info.numRemovedFiles > 0, "no rewrite target")
      if (v.useDvs) assert(info.parameters("deletionVectors").toInt > 0, "no DV target")
      checkModel(t, name, v.cdf, t.version, updated.sorted, updChanges)

      // deletes rows of base files and of the UPDATE's routed data files
      t.delete(col("id") > 60 || col("id") === 2, useDvs = v.useDvs, dvMaxFraction = dvMax)
      checkModel(t, name, v.cdf, t.version, updated.filterNot(dmlDeleted).sorted, delChanges)
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

  test("job shape: change-feed DMLs cache nothing and add no jobs") {
    val upd = col("id") <= 20
    val dmls = Seq[(String, LakeTable => Unit)](
      ("DV merge", runMerge(_, source)),
      ("copy-on-write merge", runMerge(_, source, useDvs = false)),
      ("update", _.update(upd, Map("amount" -> (col("amount") + 1)))),
      // the change rows ride the write that carries the claims
      ("delete", _.delete(col("id") > 60)))
    // identity partition dirs hold a column of the change rows too: they
    // ride the same write, under `_change_data/state=<v>/`
    for (layout <- Seq(Nil, Seq("state"))) {
      def fresh(cdf: Boolean) = create(Variant("shape", partitionBy = layout, cdf = cdf),
        Files.createTempDirectory("merge-1p-shape-").toString)
      dmls.foreach { case (_, dml) => dml(fresh(cdf = true)) } // warm the plan shapes
      dmls.foreach { case (name, dml) =>
        val what = s"$name partitioned by $layout"
        val (plainJobs, plainCached) = shape(dml(fresh(cdf = false)))
        val (cdfJobs, cdfCached) = shape(dml(fresh(cdf = true)))
        assert(plainCached === 0, s"a $what read a cached relation")
        assert(cdfCached === 0, s"a change-feed $what read a cached relation")
        assert(cdfJobs <= plainJobs,
          s"change-feed $what ran $cdfJobs jobs, the plain one $plainJobs")
      }
    }
    // the probe sees caches: a merge whose source is cached
    val cachedSource = source.cache()
    try {
      val (_, cached) = shape(runMerge(create(Variant("shape"),
        Files.createTempDirectory("merge-1p-shape-").toString), cachedSource))
      assert(cached > 0)
    } finally cachedSource.unpersist()
  }

  test("job shape: change-feed DML on a bloom-indexed table runs no more jobs than without") {
    // the write tasks build the sidecars: no read-side build job. The
    // index is on a column no DML condition names, so it prunes nothing
    // and the tables differ only in their sidecars.
    val indexed = Map(BloomIndex.COLS_PROP -> "state")
    def fresh(props: Map[String, String]) = create(Variant("shape_bloom", props = props),
      Files.createTempDirectory("merge-1p-shape-bloom-").toString)
    // the copy-on-write DELETE rewrites its survivors: data files to index
    val dmls = Seq[(String, LakeTable => Unit)](
      ("merge", runMerge(_, source)),
      ("delete", _.delete(col("id") > 60, useDvs = false)))
    dmls.foreach { case (_, dml) => dml(fresh(Map.empty)); dml(fresh(indexed)) } // warm the plan shapes
    dmls.foreach { case (name, dml) =>
      val (plain, t) = (fresh(Map.empty), fresh(indexed))
      val (plainJobs, _) = shape(dml(plain))
      val (bloomJobs, _) = shape(dml(t))
      assert(t.snapshot.files.forall(_.bloomPath.isDefined))
      assert(bloomJobs <= plainJobs,
        s"change-feed $name ran $bloomJobs jobs on the bloom table, $plainJobs without")
    }
  }

  /** The files of the commit at `ver`: each committed once, each on disk,
    * with the stats the stats job reads from it and, on a bloom table, a
    * sidecar for every data file and none for a change file; and no
    * parquet file under the table that no commit names. */
  private def checkCommitted(t: LakeTable, ver: Long): Unit = {
    val actions = t.log.readCommit(ver)
    val adds = actions.flatMap(_.add)
    val cdcs = actions.flatMap(_.cdc)
    val paths = adds.map(_.path) ++ cdcs.map(_.path)
    assert(adds.nonEmpty)
    assert(paths.distinct.size === paths.size, s"a file committed twice: $paths")
    paths.foreach(p => assert(Files.isRegularFile(Paths.get(t.path, p)), p))
    val abs = adds.map(a => Paths.get(t.path, a.path).toString)
    val viaJob = Stats.collect(spark, t.snapshot.schema, abs)
    adds.zip(abs).foreach { case (a, p) => assert(a.stats === viaJob.get(p), a.path) }
    val bloom = t.snapshot.metaData.properties.contains(BloomIndex.COLS_PROP)
    adds.foreach(a => assert(a.bloomPath.exists(b =>
      Files.isRegularFile(Paths.get(t.path, b))) === bloom, a.path))
    val sidecars = walk(Paths.get(t.path)).map(_.getFileName.toString)
      .filter(_.endsWith(BloomIndex.SIDECAR_SUFFIX))
    cdcs.map(c => Paths.get(c.path).getFileName.toString).foreach(n =>
      assert(!sidecars.exists(_.endsWith(s"-$n${BloomIndex.SIDECAR_SUFFIX}")), n))
    val named = t.log.listVersions.flatMap(t.log.readCommit)
      .flatMap(a => a.add.map(_.path) ++ a.cdc.map(_.path)).toSet
    val stray = walk(Paths.get(t.path)).filter(_.toString.endsWith(".parquet"))
      .map(p => Paths.get(t.path).relativize(p).toString).filterNot(named)
    assert(stray.isEmpty, s"files no commit names: $stray")
  }

  private val appended: Seq[Row3] = (100L until 160L).map(i => (i, "RA", i * 1.0))

  /** [[appended]] as a frame the optimizer cannot fold on the driver,
    * in `parts` partitions, each id passed through `gate` after them. */
  private def appendedDf(parts: Int, gate: Column => Column): DataFrame =
    spark.range(100L, 160L, 1L, parts).select(
      when(gate(col("id")), col("id")).as("id"), lit("RA").as("state"),
      col("id").cast("double").as("amount"))

  test("stage retry in the write stage: a repartitioned append and a bloom-indexed change-feed merge commit each file once") {
    val bloomFlat = Variant("bloom_retry", props = bloomProps)
    def run(faults: Boolean): (LakeTable, LakeTable) = {
      val a = create(bloomFlat, Files.createTempDirectory("merge-1p-wretry-").toString)
      val m = create(bloomFlat, Files.createTempDirectory("merge-1p-wretry-").toString)
      val df = appendedDf(4, _ => lit(true)).repartition(4).select(
        when(StageFault.failOnce(col("id")), col("id")).as("id"), col("state"), col("amount"))
      val gate = (alias: String) => StageFault.failOnce(col(s"$alias.id"))
      for ((what, body) <- Seq[(String, () => Unit)](
          "append" -> (() => a.append(df)),
          "merge" -> (() => runMerge(m, source, gate = gate)))) {
        LakeLog.awaitMaintenance()
        if (faults) {
          val seen = StageFault.armed(spark.sparkContext)(body())
          assert(seen.retries >= 1, s"no stage of the $what was retried")
          assert(!seen.failedInMapStage, s"the $what failed outside its write stage")
        } else body()
      }
      (a, m)
    }
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    val (clean, faulty) =
      try (run(faults = false), run(faults = true))
      finally spark.conf.unset(coalesce)
    val (expRows, expChanges) = model
    for ((a, m) <- Seq(clean, faulty)) {
      assert(rows(a.toDF) === (baseRows ++ appended).sorted)
      assert(rows(m.toDF) === expRows)
      assert(changesAt(m, m.version) === expChanges)
      checkCommitted(a, a.version)
      checkCommitted(m, m.version)
    }
    def shape(t: LakeTable) = t.log.readCommit(t.version).map(x => (x.add.size, x.cdc.size))
    assert(shape(faulty._1) === shape(clean._1))
    assert(shape(faulty._2) === shape(clean._2))
  }

  test("a write task that fails after opening its file leaves no file behind") {
    val t = create(Variant("fail_open", props = bloomProps),
      Files.createTempDirectory("merge-1p-failopen-").toString)
    val v = t.version
    // one task that writes as it reads: its file is open before the fault
    val opened = StageFault.armedWrite(t.path) {
      intercept[Exception](t.append(appendedDf(1, StageFault.failWriteOnce(_))))
    }
    assert(opened.nonEmpty, "the failing task had opened no file")
    assert(t.version === v)
    val live = t.snapshot.files.map(f => Paths.get(t.path, f.path)).toSet
    assert(!opened.exists(live))
    // the aborted attempt deleted its own file; vacuum has nothing of it left
    assert(!opened.exists(p => Files.exists(p)))
    t.vacuum(0L)
    assert(!opened.exists(p => Files.exists(p)))
    t.append(appendedDf(1, _ => lit(true)))
    assert(rows(t.toDF) === (baseRows ++ appended).sorted)
    checkCommitted(t, t.version)
  }

  for (v <- variants.filter(v =>
      Set("flat", "identity_partitioned", "bucketed", "copy_on_write")(v.name))) {
    test(s"stage retry: a change-feed ${v.name} merge survives a fetch failure") {
      val gate = (alias: String) => StageFault.failOnce(col(s"$alias.id"))
      def run(faults: Boolean): LakeTable = {
        val t = create(v, Files.createTempDirectory("merge-1p-retry-").toString)
        LakeLog.awaitMaintenance()
        if (faults) {
          val seen = StageFault.armed(spark.sparkContext)(runMerge(t, source, v.useDvs, gate))
          assert(seen.retries >= 1, "no stage was retried")
          // the claims ride the stage that failed: a map stage exactly
          // where the bucket exchange sits above the merge join
          assert(seen.failedInMapStage === v.bucketBy.nonEmpty)
        } else runMerge(t, source, v.useDvs, gate)
        t
      }
      // one task per shuffle partition, so a retried stage has tasks
      // that succeeded in attempt 0
      val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
      spark.conf.set(coalesce, "false")
      val (clean, faulty) =
        try (run(faults = false), run(faults = true))
        finally spark.conf.unset(coalesce)
      val (expRows, expChanges) = model
      assert(rows(clean.toDF) === expRows)
      assert(rows(faulty.toDF) === expRows)
      assert(changesAt(clean, clean.version) === expChanges)
      assert(changesAt(faulty, faulty.version) === expChanges)
    }
  }

  for (v <- variants.filter(v => Set("flat", "identity_partitioned", "bucketed")(v.name))) {
    test(s"stage retry: change-feed UPDATE and DELETE on ${v.name} survive a fetch failure") {
      // A DML on a plain predicate reads no shuffle, so a fetch failure
      // has nothing to hit. These select the model's rows through
      // IN-subquery conditions instead: with broadcasts off the subquery
      // plans as a sort-merge join, and the gate wraps the IN, so it runs
      // above the join, in the stage whose rows the claims observe.
      val keys = baseRows.map(_._1).toDF("k")
      def cond(p: Column): Column =
        when(StageFault.failOnce(col("id")), col("id").isin(keys.where(p)))
      def run(faults: Boolean): LakeTable = {
        val t = create(v, Files.createTempDirectory("merge-1p-dml-retry-").toString)
        // the UPDATE's claims sit in a map stage exactly where the bucket
        // exchange sits above the join; DELETE's change write adds none
        def dml(name: String, inMapStage: Boolean)(body: => Unit): Unit = {
          LakeLog.awaitMaintenance()
          if (faults) {
            val seen = StageFault.armed(spark.sparkContext)(body)
            assert(seen.retries >= 1, s"no stage of the $name was retried")
            assert(seen.failedInMapStage === inMapStage, name)
          } else body
        }
        dml("update", inMapStage = v.bucketBy.nonEmpty)(
          t.update(cond(col("k") <= 20), dmlSet))
        dml("delete", inMapStage = false)(
          t.delete(cond(col("k") > 60 || col("k") === 2)))
        t
      }
      val confs = Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      confs.foreach { case (k, x) => spark.conf.set(k, x) }
      val (clean, faulty) =
        try (run(faults = false), run(faults = true))
        finally confs.foreach { case (k, _) => spark.conf.unset(k) }
      for (t <- Seq(clean, faulty)) {
        val ver = t.version
        assert(rows(t.asOf(ver - 1).toDF) === updated.sorted)
        assert(rows(t.toDF) === updated.filterNot(dmlDeleted).sorted)
        assert(changesAt(t, ver - 1) === updChanges)
        assert(changesAt(t, ver) === delChanges)
      }
    }
  }

  test("observed claims complete on a fresh session") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val path = Files.createTempDirectory("merge-1p-fresh-").toString
    create(Variant("fresh"), path)
    // a new session reads (fixing its field-id confs), then appends (a
    // non-adaptive write), before it has observed anything; its DMLs'
    // join-free writes run non-adaptively too
    val s = spark.newSession()
    val t = LakeTable.forPath(s, path)
    assert(t.toDF.count() === baseRows.size)
    t.append(s.createDataFrame(Seq((51L, "AZ", 1.0))).toDF("id", "state", "amount"))
    def bounded(what: String)(body: => Unit): Unit =
      try Await.result(Future(body), 2.minutes)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          fail(s"the $what never finished: its claims observation did not complete")
      }
    bounded("change-feed DELETE")(t.delete(col("id") > 60 || col("id") === 2))
    bounded("change-feed UPDATE")(t.update(col("id") <= 20, dmlSet))
    assert(rows(t.toDF) === (updated.filterNot(dmlDeleted) :+ ((51L, "AZ", 1.0))).sorted)
    val ver = t.version
    assert(changesAt(t, ver - 1) === baseRows.filter(dmlDeleted)
      .map { case (id, st, amt) => (id, st, amt, Cdc.DELETE) }.sorted)
    assert(changesAt(t, ver) === updChanges.filterNot(_._1 == 2))
  }

  test("long session: change-feed merges leak no cache or listener") {
    val sc = spark.sparkContext
    val t = LakeTable.create(spark, s"$warehouse/db/long_session",
      (1L to 200L).map(i => (i, "s", i * 1.0)).toDF("id", "state", "amount"),
      properties = Map(Cdc.PROP -> "true"))
    // SQL INSERTs and path-sink micro-batches write through the same writer
    val src = LakeTable.create(spark, Files.createTempDirectory("merge-1p-long-src-").toString,
      Seq((5000L, "m", 1.0)).toDF("id", "state", "amount"))
    val sink = spark.readStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", src.path).load()
      .writeStream
      .format("org.apache.spark.sql.graft.LakeSourceProvider")
      .option("path", t.path)
      .option("checkpointLocation", Files.createTempDirectory("merge-1p-long-ckpt-").toString)
      .start()
    def step(i: Int): Unit = {
      val keys = (0 until 10).map(k => (i * 7L + k * 13L) % 260L + 1L)
      runMerge(t, keys.map(k => (k, s"v$i", k + i * 1.0, "U"))
        .toDF("id", "state", "amount", "op"))
      // a join-free write runs non-adaptively
      if (i % 10 == 0) t.append(Seq((1000L + i, "a", 1.0)).toDF("id", "state", "amount"))
      if (i % 10 == 3) spark.sql(s"INSERT INTO m1p.db.long_session VALUES (${2000 + i}, 'q', 1.0)")
      if (i % 10 == 7) {
        src.append(Seq((3000L + i, "m", 1.0)).toDF("id", "state", "amount"))
        sink.processAllAvailable()
      }
    }
    def probe(): (Int, Int) = {
      LakeLog.awaitMaintenance()
      SessionProbe.drainListenerBus(sc)
      (sc.getPersistentRDDs.size, SessionProbe.listenerCount(sc))
    }
    val (before, after) =
      try {
        sink.processAllAvailable() // the sink writes only while a step waits for it
        (0 until 10).foreach(step)
        val before = probe()
        (10 until 60).foreach(step)
        (before, probe())
      } finally sink.stop()
    assert(spark.sql("SELECT count(*) FROM m1p.db.long_session WHERE id >= 2000")
      .as[Long].head() === 13L)
    assert(after._1 <= before._1, s"persisted RDDs grew: $before -> $after")
    assert(after._2 <= before._2, s"listener-bus listeners grew: $before -> $after")
    assert(t.toDF.count() === t.tableChanges(0).where(
      col(Cdc.CHANGE_TYPE).isin(Cdc.INSERT, Cdc.UPDATE_POST)).count() -
      t.tableChanges(0).where(col(Cdc.CHANGE_TYPE).isin(Cdc.DELETE, Cdc.UPDATE_PRE)).count())
  }
}
