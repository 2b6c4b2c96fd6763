package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.lake.{Cdc, LakeLog, LakeTable}
import graft.pipeline.CorpusPipeline

/** The benchmark's JVM side: builds a workload's fixtures, runs its op
  * list as a closed loop with one client (this thread) and writes what
  * happened to a JSON file. It calls the engine only through its public
  * entry points, plus `LakeLog.awaitMaintenance()` to keep background
  * work inside the timed region. run.py generates the inputs, computes
  * the metrics and checks every answer against an independent model.
  *
  * Usage: PerfBench <workload> <inputDir> <workDir> <seconds> <trace 0|1> <out.json>
  */
object PerfBench {
  type Op = Map[String, Any]

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  implicit class OpFields(op: Op) {
    def int(k: String): Int = op(k).asInstanceOf[Number].intValue
    def long(k: String): Long = op(k).asInstanceOf[Number].longValue
    def str(k: String): String = op(k).toString
    def longs(k: String): Seq[Long] =
      op(k).asInstanceOf[Seq[Any]].map(_.asInstanceOf[Number].longValue)
  }

  /** What one op did. `rows` are the rows it moved (source rows written,
    * rows returned, docs fed); `answer` is what run.py checks; `probe`
    * is evaluated after the op's interval closes, in traced runs only. */
  final case class Outcome(rows: Long, commits: Boolean,
      answer: Map[String, Any] = Map.empty,
      probe: () => Map[String, Any] = () => Map.empty)

  /** Records the benchmark's own calls into the engine as spans when the
    * run is traced; a no-op wrapper otherwise. */
  final class Spanner(on: Boolean, clock: () => Double) {
    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    def apply[T](layer: String)(body: => T): T =
      if (!on) body
      else {
        val s = clock()
        try body finally spans += Map("layer" -> layer, "start" -> s, "end" -> clock())
      }
    /** Parsing and analysis run when a DataFrame is built, not when it is
      * executed, so the listener never reports them: take them from the
      * DataFrame's own planning tracker. */
    def phasesOf(df: DataFrame): Unit =
      if (on) Tracer.phaseSpans(df.queryExecution).foreach(p =>
        spans += Map("layer" -> p.layer, "start" -> p.start, "end" -> p.end, "phase" -> true))
  }

  /** Materializes `df` through the noop sink (the plan runs in full, no
    * output is kept) and returns row count plus two order-independent
    * checksums computed in the same pass. */
  def serveChecked(df: DataFrame, c1: Column, c2: Column): Map[String, String] = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"), sum(c1).as("c1"), sum(c2).as("c2"))
      .write.mode("overwrite").format("noop").save()
    obs.get.map { case (k, v) => k -> Option(v).map(_.toString).getOrElse("0") }
  }

  /** Checksums over orders-shaped rows; oracle.py's model computes the same. */
  val ordersC1: Column = col("o_orderkey")
  val ordersC2: Column = round(col("o_totalprice") * 100).cast("long") +
    ascii(col("o_orderstatus")).cast("long") * 1000003L + col("o_custkey") * 7L

  def dirBytes(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Map.empty
    val files = Files.walk(p)
    try files.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
    finally files.close()
  }

  abstract class Workload(val spark: SparkSession, val inputs: String) {
    var root: String = _
    /** Builds the fixtures under `dir`. */
    def setup(dir: String): Unit
    /** Table roots whose bytes count toward write and space amplification. */
    def tables: Seq[String]
    def run(op: Op, span: Spanner): Outcome
    /** Untimed, after the loop: final state for run.py's checks. */
    def finalState(): Map[String, Any]
    /** Tables whose latest snapshot the traced run resolves after a commit. */
    def committed(op: Op): Seq[String]
    def input(name: String): DataFrame = spark.read.parquet(s"$inputs/$name")
  }

  /** Write-heavy: MERGE/DELETE/UPDATE/APPEND/compact alternating between a
    * deletion-vector table with a bloom index and a change-feed table. */
  final class CdcUpsert(s: SparkSession, in: String) extends Workload(s, in) {
    def path(t: String) = s"$root/orders_$t"
    def tables = Seq(path("dv"), path("cdf"))
    def setup(dir: String): Unit = {
      root = dir
      val src = input("orders.parquet").repartitionByRange(8, col("o_orderkey"))
      LakeTable.create(spark, path("dv"), src,
        properties = Map("graft.bloom.columns" -> "o_orderkey"))
      LakeTable.create(spark, path("cdf"), src, properties = Map(Cdc.PROP -> "true"))
    }
    def committed(op: Op) = Seq(path(op.str("table")))
    def run(op: Op, span: Spanner): Outcome = {
      val t = span("lake.resolve")(LakeTable.forPath(spark, path(op.str("table"))))
      op.str("cls") match {
        case "merge" =>
          val src = span("source.read")(input(op.str("file")))
          val cond = span("sql.parse")(expr("t.o_orderkey = s.o_orderkey"))
          span("lake.merge")(t.merge(src, cond))
          Outcome(op.long("rows"), commits = true)
        case "delete" =>
          val n = span("lake.delete")(t.delete(col("o_orderkey").isin(op.longs("keys"): _*)))
          Outcome(n, commits = true, Map("deleted" -> n))
        case "update" =>
          val set = Map("o_orderstatus" -> lit(op.str("status")),
            "o_totalprice" -> (col("o_totalprice") + 1.0))
          span("lake.update")(t.update(col("o_orderkey").between(op.long("lo"), op.long("hi")), set))
          Outcome(op.long("hi") - op.long("lo") + 1, commits = true)
        case "append" =>
          val src = span("source.read")(input(op.str("file")))
          span("lake.append")(t.append(src))
          Outcome(op.long("rows"), commits = true)
        case "compact" =>
          span("lake.compact")(t.compact())
          Outcome(0, commits = true)
      }
    }
    def finalState(): Map[String, Any] = {
      val st = Seq("dv", "cdf").map { n =>
        val t = LakeTable.forPath(spark, path(n))
        n -> (serveChecked(t.toDF, ordersC1, ordersC2) + ("version" -> t.version))
      }.toMap
      val cdf = LakeTable.forPath(spark, path("cdf"))
      val feed = cdf.tableChanges(1).groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      st + ("cdf_changes" -> feed)
    }
  }

  /** Read-heavy: point lookups, clustered range scans, SQL analytics,
    * time travel and change-feed reads, with a trickle of appends. */
  final class LakeServe(s: SparkSession, in: String) extends Workload(s, in) {
    def orders = s"$root/db/orders"
    def tables = Seq(orders, s"$root/db/orders_b", s"$root/db/lineitem_b")
    /** Version after append #k; -1 is the version the loop started at. */
    val afterAppend = mutable.Map[Int, Long]()
    def setup(dir: String): Unit = {
      root = dir
      val src = input("orders.parquet")
      val t = LakeTable.create(spark, orders, src.repartition(16),
        properties = Map("graft.bloom.columns" -> "o_orderkey", Cdc.PROP -> "true"))
      t.zOrderBy("o_orderkey")
      t.checkpoint()
      LakeLog.awaitMaintenance()
      LakeTable.create(spark, s"$root/db/orders_b", src,
        bucketBy = Seq("o_orderkey"), numBuckets = 8)
      LakeTable.create(spark, s"$root/db/lineitem_b", input("lineitem.parquet"),
        bucketBy = Seq("l_orderkey"), numBuckets = 8)
      Graft.registerCatalog(spark, "lake", root)
      afterAppend(-1) = t.version
    }
    def committed(op: Op) = if (op("cls") == "append") Seq(orders) else Nil
    private def rangeOf(op: Op): Column =
      col("o_orderkey").between(op.long("lo"), op.long("hi"))
    def run(op: Op, span: Spanner): Outcome = {
      val t = span("lake.resolve")(LakeTable.forPath(spark, orders))
      def read(df: => DataFrame, c1: Column = ordersC1, c2: Column = ordersC2,
          live: => Long = t.snapshot.files.size) = {
        val d = df
        span.phasesOf(d)
        val ans = span("exec.noop")(serveChecked(d, c1, c2))
        Outcome(ans("n").toLong, commits = false, ans,
          () => Map("files_read" -> d.inputFiles.length, "files_live" -> live))
      }
      val out = op.str("cls") match {
        case "lookup" =>
          read(span("scan.prune")(t.read(col("o_orderkey").isin(op.longs("keys"): _*))))
        case "range" =>
          read(span("scan.prune")(t.read(rangeOf(op))))
        case "asof" =>
          val old = span("lake.asof")(t.asOf(afterAppend(op.int("after_append"))))
          read(span("scan.prune")(old.read(rangeOf(op))), live = old.snapshot.files.size)
        case "changes" =>
          read(span("lake.changes")(t.tableChanges(afterAppend(op.int("from_append")))))
        case "q1" =>
          read(span("sql.call")(spark.sql(
            s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
               |FROM lake.db.orders WHERE o_orderdate <= DATE '${op.str("date")}'
               |GROUP BY o_orderstatus, o_orderpriority""".stripMargin)),
            col("n") * (ascii(col("o_orderstatus")) * 100 + ascii(col("o_orderpriority"))),
            col("cents"))
        case "q3" =>
          read(span("sql.call")(spark.sql(
            s"""SELECT o.o_orderkey, sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
               |FROM lake.db.orders_b o JOIN lake.db.lineitem_b l ON l.l_orderkey = o.o_orderkey
               |WHERE o.o_orderdate < DATE '${op.str("date")}'
               |  AND l.l_shipdate > DATE '${op.str("date")}'
               |GROUP BY o.o_orderkey ORDER BY revenue DESC, o.o_orderkey LIMIT 10""".stripMargin)),
            col("o_orderkey"), col("revenue"))
        case "append" =>
          val src = span("source.read")(input(op.str("file")))
          span("lake.append")(t.append(src))
          Outcome(op.long("rows"), commits = true)
      }
      if (op("cls") == "append") {
        val v = LakeTable.forPath(spark, orders).version
        afterAppend(op.int("append_no")) = v
        out.copy(answer = Map("version" -> v))
      } else out
    }
    def finalState(): Map[String, Any] =
      Map("orders" -> serveChecked(LakeTable.forPath(spark, orders).toDF, ordersC1, ordersC2))
  }

  /** Batch pipeline: curate wave 0, then curateIncremental with the fuzzy
    * gate for each later wave. */
  final class CurateWaves(s: SparkSession, in: String) extends Workload(s, in) {
    def curated = s"$root/corpus/curated"
    def tables = Seq(s"$root/corpus")
    def setup(dir: String): Unit = {
      root = dir
      CorpusPipeline.curate(spark, input("wave_000.parquet"), s"$root/corpus",
        fuzzyIndex = true)
    }
    def committed(op: Op) = Seq(curated)
    def run(op: Op, span: Spanner): Outcome = {
      val before = LakeTable.forPath(spark, curated).version
      val docs = span("source.read")(input(op.str("file")))
      val r = span("pipeline.curate_incremental")(
        CorpusPipeline.curateIncremental(spark, docs, s"$root/corpus", fuzzyDedup = true))
      Outcome(op.long("rows"), commits = true, Map("input" -> r.input,
        "after_quality" -> r.afterQuality, "appended" -> r.appended,
        "version_before" -> before))
    }
    def finalState(): Map[String, Any] = {
      val t = LakeTable.forPath(spark, curated)
      val df = t.toDF
      val texts = df.select(col("doc_id"), col("fp"), md5(col("text")).as("h")).collect()
      // curated row count after each version, for the per-wave
      // input = kept + dropped check
      val counts = (0L to t.version).map(v =>
        v.toString -> LakeTable.forPath(spark, curated).asOf(v).toDF.count()).toMap
      Map("doc_ids" -> texts.map(_.getLong(0)).toSeq,
        "distinct_fp" -> texts.map(_.getString(1)).distinct.length,
        "distinct_text" -> texts.map(_.getString(2)).distinct.length,
        "index_bytes" -> dirBytes(s"$root/corpus/mhindex").values.sum,
        "rows_at_version" -> counts)
    }
  }

  /** Runs `ops` against `wl`: the ones flagged `warm` untimed (they still
    * count for correctness), the rest as a closed loop until `seconds`
    * have passed, then drains background maintenance inside the timed
    * region. Returns what run.py needs. */
  def runLoop(spark: SparkSession, wl: Workload, ops: Seq[Op], seconds: Double,
      tracer: Option[Tracer]): Map[String, Any] = {
    val trace = tracer.isDefined
    val baseNano = System.nanoTime()
    val baseEpoch = System.currentTimeMillis().toDouble
    val clock = () => baseEpoch + (System.nanoTime() - baseNano) / 1e6
    val sc = spark.sparkContext
    val records = mutable.ArrayBuffer[Map[String, Any]]()

    def runOp(op: Op, timed: Boolean): Unit = {
      val span = new Spanner(trace, clock)
      val group = s"op-${op("id")}"
      sc.setJobGroup(group, op.str("cls"), interruptOnCancel = false)
      val c0 = Counters.read()
      val s = clock()
      val t0 = System.nanoTime()
      val res = try Right(wl.run(op, span)) catch {
        case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}")
      }
      val lat = (System.nanoTime() - t0) / 1e9
      val e = clock()
      val dc = Counters.read() - c0
      sc.clearJobGroup()
      val rec = mutable.Map[String, Any]("id" -> op("id"), "cls" -> op("cls"),
        "table" -> op.getOrElse("table", ""), "timed" -> timed, "lat_s" -> lat,
        "t0_s" -> (t0 - baseNano) / 1e9)
      res match {
        case Right(o) =>
          rec ++= Seq("rows" -> o.rows, "commits" -> o.commits, "answer" -> o.answer)
        case Left(err) =>
          rec ++= Seq("error" -> err, "rows" -> 0L, "commits" -> false)
      }
      if (trace) {
        // the tail replay the next op would pay, resolved after this op's
        // interval closed; any job it needs is tagged as tracing work
        sc.setJobGroup("trace", "tracing probes", interruptOnCancel = false)
        val snapS = wl.committed(op).map { p =>
          val a = System.nanoTime()
          val v = LakeTable.forPath(spark, p).snapshot.version
          Map("s" -> (System.nanoTime() - a) / 1e9, "version" -> v)
        }
        val probe = res.toOption.map(_.probe()).getOrElse(Map.empty)
        sc.clearJobGroup()
        tracer.foreach(_.drain())
        rec ++= Seq("start" -> s, "end" -> e, "group" -> group, "probe" -> probe,
          "spans" -> span.spans.toSeq, "compiles" -> dc.compiles,
          "compile_ns" -> dc.compileNs, "gc_count" -> dc.gcCount, "gc_ms" -> dc.gcMs,
          "snapshot_s" -> snapS)
      }
      records += rec.toMap
    }

    var i = 0
    val warm = ops.takeWhile(_("warm") == true).size
    val warmStart = System.nanoTime()
    while (i < warm) { runOp(ops(i), timed = false); i += 1 }
    LakeLog.awaitMaintenance()
    val warmS = (System.nanoTime() - warmStart) / 1e9

    val before = wl.tables.flatMap(dirBytes).toMap
    val gc0 = Counters.read()
    val loopStartMs = clock()
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    while (i < ops.size && System.nanoTime() < deadline) { runOp(ops(i), timed = true); i += 1 }
    val maintStart = System.nanoTime()
    LakeLog.awaitMaintenance()
    val loopEnd = System.nanoTime()
    val loopEndMs = clock()
    val gc = Counters.read() - gc0

    val after = wl.tables.flatMap(dirBytes).toMap
    val isNew = (f: String) => !before.contains(f)
    val traceDump = tracer.map(_.dump())
    val f0 = System.nanoTime()
    val finalState = wl.finalState()
    val finalS = (System.nanoTime() - f0) / 1e9
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    Map(
      "warmup_s" -> warmS,
      "loop_s" -> (loopEnd - loopStart) / 1e9,
      "loop_start_s" -> (loopStart - baseNano) / 1e9, "seconds" -> seconds,
      "loop_start_ms" -> loopStartMs, "loop_end_ms" -> loopEndMs,
      "maint_wait_s" -> (loopEnd - maintStart) / 1e9,
      "ops" -> records.toSeq,
      "bytes" -> Map("created" -> after.filter(kv => isNew(kv._1)).values.sum,
        "end_total" -> after.values.sum,
        "log" -> after.filter(_._1.contains(s"/${LakeLog.LOG_DIR}/")).values.sum),
      "log_files_created" -> after.keys.filter(f =>
        isNew(f) && f.contains(s"/${LakeLog.LOG_DIR}/")).toSeq,
      "gc" -> Map("count" -> gc.gcCount, "ms" -> gc.gcMs),
      "heap_mb" -> (rt.totalMemory() - rt.freeMemory()) / 1048576.0,
      "final" -> finalState,
      "final_s" -> finalS,
      "trace" -> traceDump.orNull)
  }

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val Array(workload, inputs, work, secondsArg, traceArg, outPath) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    // the "curate" op (wave 0) is consumed by the curate workload's setup
    val ops: Seq[Op] = mapper.readValue(new File(s"$inputs/ops.json"),
      classOf[Seq[Map[String, Any]]]).filterNot(_("cls") == "curate")

    val spark = Graft.session("perfbench")
    val sessionS = (System.nanoTime() - entry) / 1e9
    val wl: Workload = workload match {
      case "cdc_upsert" => new CdcUpsert(spark, inputs)
      case "lake_serve" => new LakeServe(spark, inputs)
      case "curate_waves" => new CurateWaves(spark, inputs)
    }
    val t0 = System.nanoTime()
    wl.setup(s"$work/tables")
    LakeLog.awaitMaintenance()
    val fixtureS = (System.nanoTime() - t0) / 1e9

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val main = runLoop(spark, wl, ops, seconds, tracer)
    tracer.foreach(_.close())
    val out = main ++ Map(
      "workload" -> workload,
      "setup" -> Map("session_s" -> sessionS, "fixture_s" -> fixtureS,
        "warmup_s" -> main("warmup_s")),
      "main_s" -> (System.nanoTime() - entry) / 1e9)
    mapper.writeValue(new File(outPath), out)
    // The results are written. Halting skips Spark's shutdown (about 3 s of
    // stopping services and deleting scratch files under the work dir,
    // which run.py removes anyway); every thread ends with the process.
    Runtime.getRuntime.halt(0)
  }
}
