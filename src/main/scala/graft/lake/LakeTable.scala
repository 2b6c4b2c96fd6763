package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's ACID table format: a directory of parquet files + the
  * JSON commit log in `_lake_log/` (SURVEY.md §7.2-7.3). Provides the
  * Delta/Iceberg semantics the reference exercises — atomic append/
  * overwrite, snapshot-isolated reads, time travel, DESCRIBE HISTORY,
  * schema enforcement + mergeSchema evolution, hive partitioning with
  * pruning, per-file min/max data skipping, DELETE/UPDATE/MERGE as
  * copy-on-write rewrites, VACUUM — on vanilla Spark.
  *
  * Scale design: data files are written DIRECTLY by executors (staged
  * under the table dir, then renamed — a same-filesystem metadata op);
  * only the single atomic log-link happens on the driver. Reads prune
  * twice before Spark ever lists a file: partition values exactly, then
  * file-level min/max. All rewrites (DML) touch only files that provably
  * contain matches.
  *
  * Reference behaviors mirrored: commit-log JSON shape
  * (`01.parquet_primer.py:199-222`), time travel (`02.delta_lake_primer
  * .py:415-457`), schema enforcement/merge (`:354-362`), MERGE
  * (`:312-320`), partition-spec-required convert (`01.parquet_primer
  * .py:348-369`).
  */
/** One `WHEN ...` clause of a multi-clause MERGE ([[LakeTable.mergeClauses]]).
  * Conditions/assignments use the `t.` / `s.` qualifiers of the merge
  * join; `Update` with an empty map means `UPDATE SET *` by column name.
  */
sealed trait MergeClause { def condition: Option[Column] }
object MergeClause {
  final case class Update(condition: Option[Column],
    assignments: Map[String, Column]) extends MergeClause
  final case class Delete(condition: Option[Column]) extends MergeClause
  final case class Insert(condition: Option[Column],
    assignments: Map[String, Column]) extends MergeClause
}

final class LakeTable private (
    val spark: SparkSession,
    val path: String,
    pinnedVersion: Option[Long]) {

  val log = new LakeLog(path)

  def snapshot: Snapshot = log.snapshot(pinnedVersion)

  def version: Long = snapshot.version

  // ---- reads -----------------------------------------------------------

  /** Full-table DataFrame at this table's (possibly pinned) version. */
  def toDF: DataFrame = read()

  /** Value-level skipping probe for this table ([[BloomIndex]]): proves
    * equality atoms absent via per-file bloom sidecars. Root is
    * absolutized DRIVER-side so executor-evaluated closures (big-log
    * candidate pruning) resolve sidecars CWD-independently. A `def`, so
    * the session kill-switch is honored per operation. */
  private def bloomProbe: BloomProbe =
    // unparseable values fall back to enabled: a kill-switch typo must
    // not crash every read/DML with a Boolean parse error
    if (spark.conf.getOption("spark.graft.bloom.read.enabled")
        .flatMap(v => v.trim.toBooleanOption).getOrElse(true))
      BloomIndex.probe(Paths.get(path).toAbsolutePath.normalize.toString)
    else BloomProbe.none

  /** Read with data skipping: `filters` are evaluated against partition
    * values and per-file min/max stats BEFORE Spark lists any file, then
    * re-applied exactly on the surviving rows.
    *
    * Above `spark.graft.log.distributedThreshold` checkpoint rows
    * (default 100,000) candidate files resolve via a DISTRIBUTED scan of
    * the parquet checkpoint ([[DistributedState]]) — at millions of
    * files the log itself is big data, and a driver-side Seq + filter
    * loop is the wrong shape; only surviving candidates reach the driver.
    */
  def read(filters: Column*): DataFrame =
    distributedRead(filters).getOrElse {
      ReadMetrics.lastReadDistributed.set(false)
      val snap = snapshot
      val pcs = snap.metaData.partitionColumns
      val resolved = filters.map(resolveFilter(_, snap.schema))
      // CHECK constraints hold for every row, so a filter contradicting
      // them is answered empty before any file is listed
      val kept = graft.util.Prof(s"read.prune ${snap.files.size}f $path") {
        if (resolved.nonEmpty && resolved.exists(e =>
          Stats.contradictsConstraints(e,
            Constraints.parsed(snap.metaData), snap.schema))) Nil
        else {
          val probe = bloomProbe
          val norm = resolved.map(Stats.normalize)
          snap.files.filter { f =>
            norm.forall(e => Stats.mightMatchNormalized(f, e, snap.schema, pcs, probe))
          }
        }
      }
      filters.foldLeft(readFiles(snap, kept))(_ where _)
    }

  /** The big-log read path: checkpoint scanned distributed, bounded JSON
    * tail applied on top, stats pruning on executors. None → caller uses
    * the driver-side path (young/small table, pinned version, or no
    * parquet checkpoint yet).
    */
  private def distributedRead(filters: Seq[Column]): Option[DataFrame] =
    distributedResolve(_ => filters).map { case (lite, candidates) =>
      ReadMetrics.lastReadDistributed.set(true)
      filters.foldLeft(readFiles(lite, candidates))(_ where _)
    }

  /** Shared big-log resolution for reads AND DML: a LITE snapshot
    * (version + metadata, NO materialized file list — callers must not
    * touch `.files`) plus the `filters`-pruned candidate files, resolved
    * through the distributed checkpoint scan. None → materialize the
    * snapshot normally.
    *
    * `filtersFor` sees the resolved table schema and runs ONLY when the
    * big-log path engages — merge's source-range derivation spends its
    * aggregation job exclusively on tables big enough to benefit.
    */
  private def distributedResolve(
      filtersFor: StructType => Seq[Column]): Option[(Snapshot, Seq[AddFile])] =
    distributedLiveState().map { case (lite, live) =>
      val resolved = filtersFor(lite.schema).map(resolveFilter(_, lite.schema))
      val candidates: Seq[AddFile] =
        if (resolved.nonEmpty && resolved.exists(e =>
          Stats.contradictsConstraints(e,
            Constraints.parsed(lite.metaData), lite.schema))) Nil
        else DistributedState.pruneDs(live, resolved, lite.schema,
          lite.metaData.partitionColumns, bloomProbe).toSeq
      (lite, candidates)
    }

  /** The raw big-log state behind [[distributedResolve]]: a LITE
    * snapshot (version + metadata, NO materialized file list) plus the
    * LIVE AddFile rows as a distributed Dataset (checkpoint scan with
    * the bounded JSON tail applied). Maintenance planning
    * ([[optimizeIncrementalBy]], scoped clustering) consumes the Dataset
    * directly so its per-file scan runs on executors; reads/DML go
    * through [[distributedResolve]]'s filter pruning. None → caller
    * materializes the snapshot normally (young/small table, pinned
    * version, or no parquet checkpoint yet).
    */
  private def distributedLiveState(): Option[(Snapshot, Dataset[AddFile])] = {
    if (pinnedVersion.isDefined) return None
    val threshold = spark.conf.getOption("spark.graft.log.distributedThreshold")
      .flatMap(_.toLongOption).getOrElse(100000L)
    log.distributedParts match {
      case Some((target, (_, ckptPaths), tailVs))
          if DistributedState.checkpointRows(ckptPaths) >= threshold =>
        // bounded tail (≤ CHECKPOINT_EVERY commits) replayed driver-side:
        // per-path FINAL state decides which checkpoint rows are stale
        val tailActions = tailVs.flatMap(v => log.readCommit(v))
        val finalByPath =
          scala.collection.mutable.LinkedHashMap[String, Option[AddFile]]()
        tailActions.foreach { a =>
          a.add.foreach(f => finalByPath(f.path) = Some(f))
          a.remove.foreach(r => finalByPath(r.path) = None)
        }
        tailActions.flatMap(_.metaData).lastOption
          .orElse(DistributedState.checkpointMeta(spark, ckptPaths))
          .map { meta =>
            val lite = Snapshot(target, meta, Seq.empty, Map.empty, Seq.empty)
            val live = DistributedState.liveFiles(spark,
              DistributedState.checkpointFiles(spark, ckptPaths),
              finalByPath.keySet.toSet,
              finalByPath.values.flatten.toSeq)
            (lite, live)
          }
      case _ => None
    }
  }

  /** DML entry to the big-log path: (lite snapshot, pre-pruned candidate
    * files) when engaged, else the materialized snapshot. DELETE/UPDATE
    * over a million-file table never hold the full file list on the
    * driver — only the condition's candidates.
    */
  private def snapshotForDml(cond: Column): (Snapshot, Option[Seq[AddFile]]) =
    distributedResolve(_ => Seq(cond)) match {
      case Some((lite, candidates)) =>
        DmlMetrics.lastDmlDistributed.set(true)
        (lite, Some(candidates))
      case None =>
        DmlMetrics.lastDmlDistributed.set(false)
        (snapshot, None)
    }

  /** Time travel (`VERSION AS OF`). */
  def asOf(v: Long): LakeTable = {
    log.snapshot(Some(v)) // validates
    new LakeTable(spark, path, Some(v))
  }

  /** Time travel (`TIMESTAMP AS OF`). */
  def asOfTimestamp(tsMillis: Long): LakeTable =
    asOf(log.versionAtTimestamp(tsMillis))

  /** DESCRIBE HISTORY analog (newest first). Reads the FULL retained
    * log — O(retained commits) sequential reads on the driver, bounded
    * only by snapshot expiry. A busy table retaining months of
    * per-second commits makes that millions of reads: use
    * [[history(limit:Int)*]] (`DESCRIBE HISTORY t LIMIT n` in SQL) for
    * the common newest-N ask — O(limit) reads, no directory listing.
    */
  def history: DataFrame = historyRows(
    log.commitHistory.filter(_._1 <= snapshot.version).sortBy(-_._1))

  /** Newest `limit` history entries at O(limit) commit reads: versions
    * are dense from the first retained one, so the newest window is
    * addressable directly — probe downward and stop at the expiry edge.
    * No listing, no full-log read. */
  def history(limit: Int): DataFrame = {
    require(limit > 0, s"history limit must be positive, got $limit")
    val top = snapshot.version
    // ONE atomic read attempt per version — an exists-then-read pair
    // would race a concurrent expiry at the edge it must stop at
    historyRows((top to math.max(0L, top - limit + 1) by -1)
      .iterator
      .map(v => v -> log.tryReadCommit(v))
      .takeWhile(_._2.isDefined)
      .flatMap { case (v, a) => a.get.flatMap(_.commitInfo).map(v -> _) }
      .toSeq)
  }

  private def historyRows(entries: Seq[(Long, CommitInfo)]): DataFrame = {
    import spark.implicits._
    entries.map { case (v, ci) =>
      (v, new java.sql.Timestamp(ci.timestamp), ci.operation,
        ci.parameters.map { case (k, s) => s"$k=$s" }.mkString(";"),
        ci.numAddedFiles, ci.numRemovedFiles, ci.numOutputRows)
    }.toDF("version", "timestamp", "operation", "parameters",
      "numAddedFiles", "numRemovedFiles", "numOutputRows")
  }

  /** DESCRIBE DETAIL analog. */
  def detail: DataFrame = {
    import spark.implicits._
    val s = snapshot
    Seq((path, s.version, s.metaData.id, s.metaData.partitionColumns.mkString(","),
      s.numFiles, s.sizeInBytes, new java.sql.Timestamp(s.metaData.createdTime)))
      .toDF("location", "version", "id", "partitionColumns", "numFiles",
        "sizeInBytes", "createdTime")
  }

  /** Iceberg-style metadata tables (`03.iceberg_primer.py:322-402`):
    * "history" | "snapshots" | "files" | "partitions" | "manifests" |
    * "metadata_log_entries". Everything is derived from the commit log —
    * no data files are opened.
    *
    * Scale note: "manifests" and "metadata_log_entries" enumerate the
    * RETAINED log (O(retained commits) driver reads, bounded by
    * snapshot expiry) — that is their contract, they describe the log
    * itself. The newest-N ask belongs to [[history(limit:Int)*]]
    * (O(limit)); "files"/"partitions" read only the current snapshot.
    */
  def meta(name: String): DataFrame = {
    import spark.implicits._
    name match {
      case "history" | "snapshots" => history
      case "files" =>
        // bloom_index: per-file index coverage ("which files would a
        // backfill touch" is a one-filter query away)
        snapshot.files
          .map(f => (f.path, f.partitionValues.map { case (k, v) => s"$k=$v" }.mkString("/"),
            f.size, f.stats.map(_.numRecords).getOrElse(-1L),
            f.bloomPath.orNull))
          .toDF("path", "partition", "size", "numRecords", "bloom_index")
      case "partitions" =>
        // Iceberg `.partitions`: per-partition record/file counts
        snapshot.files
          .groupBy(_.partitionValues)
          .map { case (pv, fs) =>
            (pv.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/"),
              fs.flatMap(_.stats.map(_.numRecords)).sum,
              fs.size.toLong,
              fs.map(_.size).sum)
          }.toSeq
          .toDF("partition", "record_count", "file_count", "total_size")
      case "manifests" =>
        // our analog of `.manifests`: one row per commit-log file with its
        // add/remove cardinalities
        log.listVersions.map { v =>
          val p = log.logDir.resolve(LakeLog.commitFileName(v))
          val actions = log.readCommit(v)
          (p.toString, Files.size(p), v,
            actions.count(_.add.isDefined).toLong,
            actions.count(_.remove.isDefined).toLong)
        }.toDF("path", "length", "added_snapshot_id",
          "added_data_files_count", "removed_data_files_count")
      case "metadata_log_entries" =>
        // `.metadata_log_entries`: the log's own history, newest last
        log.commitHistory.filter(_._1 <= snapshot.version).sortBy(_._1)
          .map { case (v, ci) =>
          (new java.sql.Timestamp(ci.timestamp),
            log.logDir.resolve(LakeLog.commitFileName(v)).toString, v)
        }.toDF("timestamp", "file", "latest_snapshot_id")
      case other => throw new IllegalArgumentException(s"unknown metadata table: $other")
    }
  }

  /** CHANGE DATA FEED read (Delta's `table_changes`,
    * `02.delta_lake_primer.py` CDF pattern): every row-level change in
    * commits `[startingVersion, endingVersion]`, with `_change_type`
    * (`insert` / `delete` / `update_preimage` / `update_postimage`),
    * `_commit_version`, `_commit_timestamp` columns appended.
    *
    * DML commits (DELETE/UPDATE/MERGE) replay the `_change_data` parquet
    * their commit registered as [[CdcFile]] actions — sized by the
    * changed-row count, never the table. Plain appends / overwrites /
    * restores write no change files; their changes are DERIVED here from
    * add/remove actions (adds read as `insert`, removed files — via the
    * previous snapshot's entries, so deletion vectors still mask — as
    * `delete`). File reorganizations (COMPACT / ZORDER / OPTIMIZE) move
    * rows between files without changing the table and emit nothing.
    *
    * Change files age out with [[vacuum]]'s retention like any
    * unreferenced file — CDF reads older than retention fail, the same
    * tradeoff as time travel. A DML commit made BEFORE
    * `graft.enableChangeDataFeed` was set recorded no change data;
    * asking for a range that covers one throws.
    */
  def tableChanges(startingVersion: Long, endingVersion: Option[Long] = None): DataFrame = {
    val latest = log.latestVersion.getOrElse(
      throw new IllegalStateException(s"not a lake table: $path"))
    val endV = endingVersion.getOrElse(latest)
    require(startingVersion >= 0 && startingVersion <= endV && endV <= latest,
      s"invalid change range [$startingVersion, $endV] (latest committed = $latest)")
    // ONE snapshot resolution at the range start, then a single forward
    // replay of the commit tail — O(range) commit reads, never O(range²)
    var meta: MetaData = null
    val files = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    if (startingVersion > 0) {
      val base = log.snapshot(Some(startingVersion - 1))
      meta = base.metaData
      base.files.foreach(f => files(f.path) = f)
    }
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (v <- startingVersion to endV) {
      val actions = log.readCommit(v)
      actions.flatMap(_.metaData).foreach(m => meta = m)
      changesAt(v, actions, meta, files).foreach(frames += _)
      actions.foreach { a =>
        a.add.foreach(f => files(f.path) = f)
        a.remove.foreach(r => files.remove(r.path))
      }
    }
    if (frames.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        Cdc.readSchema(Snapshot(endV, meta, Seq.empty, Map.empty, Seq.empty).schema))
    } else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** [[tableChanges]] with a timestamp lower bound (Delta's
    * `table_changes(..., startingTimestamp)`). */
  def tableChangesFrom(tsMillis: Long): DataFrame =
    tableChanges(log.versionAtTimestamp(tsMillis))

  /** The change rows of one commit, or None if it changed nothing.
    * `meta` is the table metadata AT `v` (post-commit); `prevFiles` the
    * file state BEFORE it (for derived deletes — entries carry the DVs
    * that still mask already-deleted rows).
    */
  private def changesAt(v: Long, actions: Seq[Action], meta: MetaData,
      prevFiles: collection.Map[String, AddFile]): Option[DataFrame] = {
    val ci = actions.flatMap(_.commitInfo).headOption
    val op = ci.map(_.operation).getOrElse("")
    val ts = ci.map(_.timestamp).getOrElse(0L)
    def snapAt(fs: Seq[AddFile]): Snapshot =
      Snapshot(v, meta, fs, Map.empty, Seq.empty)
    def finish(df: DataFrame): DataFrame =
      df.withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", lit(new java.sql.Timestamp(ts)))
    val cdcFiles = actions.flatMap(_.cdc)
    if (cdcFiles.nonEmpty) {
      LakeTable.enableFieldIdReads(spark)
      Some(finish(spark.read.schema(Cdc.fileSchema(snapAt(Seq.empty).schema))
        .parquet(cdcFiles.map(c => s"$path/${c.path}"): _*)))
    } else if (LakeTable.REORG_OPS.contains(op)) None
    else {
      val adds = actions.flatMap(_.add)
      val removes = actions.flatMap(_.remove)
      if (adds.isEmpty && removes.isEmpty) return None
      if (LakeTable.DML_OPS.contains(op)) {
        // a CDF-enabled DML commit with no cdc actions changed nothing
        // (zero rows matched every clause; the rewrite was a no-op) —
        // only DML from BEFORE enablement is actually unrecoverable
        if (meta.properties.get(Cdc.PROP).exists(_.equalsIgnoreCase("true")))
          return None
        throw new IllegalStateException(
          s"change data was not recorded for version $v of $path " +
            s"($op committed before ${Cdc.PROP}=true)")
      }
      val inserted =
        if (adds.isEmpty) None
        else Some(readFiles(snapAt(adds), adds)
          .withColumn(Cdc.CHANGE_TYPE, lit(Cdc.INSERT)))
      val deletedRows = {
        val removedFiles = removes.flatMap(r => prevFiles.get(r.path))
        if (removedFiles.isEmpty) None
        else Some(readFiles(snapAt(removedFiles), removedFiles)
          .withColumn(Cdc.CHANGE_TYPE, lit(Cdc.DELETE)))
      }
      ((inserted, deletedRows) match {
        case (Some(a), Some(b)) => Some(a.unionByName(b, allowMissingColumns = true))
        case (a, b) => a.orElse(b)
      }).map(finish)
    }
  }

  /** Inline-DV size threshold; tests force sidecars by setting the conf
    * to 0. */
  private def dvInlineMax: Int =
    spark.conf.getOption("spark.graft.dv.inlineMaxBytes")
      .map(_.toInt).getOrElse(Dv.INLINE_MAX_BYTES)

  /** Is the change data feed on for this snapshot's table properties? */
  private def cdfEnabled(snap: Snapshot): Boolean =
    snap.metaData.properties.get(Cdc.PROP).exists(_.equalsIgnoreCase("true"))

  // ---- writes ----------------------------------------------------------

  def append(df: DataFrame, mergeSchema: Boolean = false): Unit =
    write(df, overwrite = false, mergeSchema = mergeSchema, txn = None)

  def overwrite(df: DataFrame, mergeSchema: Boolean = false): Unit =
    write(df, overwrite = true, mergeSchema = mergeSchema, txn = None)

  /** Exactly-once streaming append: a (appId, batchId) already recorded
    * at or above this batchId makes the call a no-op (K6/K7 idempotent
    * foreachBatch sink).
    */
  def idempotentAppend(df: DataFrame, appId: String, batchId: Long,
      mergeSchema: Boolean = true): Boolean = {
    val snap = snapshot
    if (snap.txns.get(appId).exists(_ >= batchId)) false
    else { write(df, overwrite = false, mergeSchema = mergeSchema, txn = Some(SetTxn(appId, batchId))); true }
  }

  private def write(df: DataFrame, overwrite: Boolean, mergeSchema: Boolean,
      txn: Option[SetTxn]): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val snap = snapshot
    val pcs = snap.metaData.partitionColumns
    val (aligned, newSchema) = LakeTable.align(df, snap.schema, pcs, mergeSchema,
      LakeTable.nextFieldId(snap))
    // evolution may not resurrect a freed name while old-era files are
    // live (stale name-keyed stats; see alterAddColumn) — an OVERWRITE
    // removes every old file in the same commit, so it may, and it
    // clears the registry below
    if (!overwrite)
      LakeTable.checkFreedNames(
        newSchema.fieldNames.filterNot(snap.schema.fieldNames.contains),
        snap.metaData.properties)
    val adds = LakeTable.stageFiles(spark, path, aligned, newSchema, pcs,
      Bucketing.specOf(snap.metaData), Constraints.of(snap.metaData),
      snap.metaData.properties)
    val rows = adds.flatMap(_.stats.map(_.numRecords)).sum
    val now = System.currentTimeMillis()
    // a full overwrite leaves no file that could carry stale name-keyed
    // stats: the freed-name registry resets with it
    val clearedProps =
      if (overwrite)
        snap.metaData.properties
          .filterNot(_._1.startsWith(LakeTable.FREED_NAME_PREFIX))
      else snap.metaData.properties
    val metaAction =
      if (newSchema.toDDL != snap.metaData.schemaDdl ||
          clearedProps.size != snap.metaData.properties.size)
        Seq(Action.of(snap.metaData.withSchema(newSchema).copy(
          properties = clearedProps +
            (LakeTable.MAX_COLUMN_ID_PROP ->
              LakeTable.maxFieldId(newSchema).toString))))
      else Seq.empty
    val removes =
      if (overwrite) snap.files.map(f => Action.of(RemoveFile(f.path, now, f.partitionValues)))
      else Seq.empty
    val ci = CommitInfo(now, if (overwrite) "OVERWRITE" else "APPEND",
      Map("mergeSchema" -> mergeSchema.toString),
      numAddedFiles = adds.size.toLong, numRemovedFiles = removes.size.toLong,
      numOutputRows = rows)
    val actions = metaAction ++ removes ++ adds.map(Action.of) ++
      txn.map(Action.of).toSeq :+ Action.of(ci)
    graft.util.Prof(s"write.commit $path") {
      commitWithRetry(snap.version, actions,
        rebaseable = !overwrite && metaAction.isEmpty,
        readMeta = Some(snap.metaData))
    }
    // post-commit maintenance — never fails the (already durable) write
    graft.util.Prof(s"write.autoCompact $path")(maybeAutoCompact())
  }

  /** Optimistic commit. Blind appends rebase onto any concurrent commit;
    * everything else (overwrite, DML rewrite, schema change) aborts on
    * conflict — the caller saw a snapshot that is no longer current.
    *
    * The rebase is NOT fully blind: before replaying the staged actions
    * at the new version it re-validates the two things a concurrent
    * commit can silently invalidate —
    *  - the table's VALIDATION-relevant metadata (generation id, schema,
    *    partition layout, bucketing, constraints —
    *    [[MetaData.validationState]]) must be unchanged from the
    *    caller's PINNED read metadata (`readMeta` — compared in-memory,
    *    NOT re-resolved from the log: a table deleted and recreated at
    *    the same path replaces the log wholesale, so a re-resolved
    *    "snapshot at readVersion" would read the NEW generation on both
    *    sides and the comparison could never catch it): the appended
    *    rows were aligned against the read snapshot's schema and
    *    validated against its constraints; a concurrent ADD CONSTRAINT /
    *    schema evolution / re-partition / recreate makes the staged data
    *    stale → abort with the conflict so the caller re-stages. Benign
    *    property-only commits (tags, CDC toggle, MV lineage) rebase
    *    through;
    *  - a SetTxn in the staged actions must still be NEW (two writers
    *    racing the same `idempotentAppend(appId, batchId)` both pass
    *    the pre-check; the loser's rebase would commit the batch a
    *    second time under the exactly-once contract → the loser
    *    treats the batch as already-committed and returns the winner's
    *    version, a no-op exactly like the pre-check path).
    */
  // private[lake] (not `private`) so the recreate-guard spec can drive
  // the rebase path with a PINNED read metadata, simulating the staging
  // window a recreate can land in
  private[lake] def commitWithRetry(readVersion: Long, actions: Seq[Action],
      rebaseable: Boolean, readMeta: Option[MetaData] = None,
      maxRetries: Int = 20): Long = {
    // a rebase WITHOUT the pinned read metadata would blindly replay
    // staged actions past concurrent schema/constraint/generation
    // changes — the exact bug class the guard exists for, reintroduced
    // by forgetting an optional argument
    require(!rebaseable || readMeta.isDefined,
      "rebaseable commits must pin the read snapshot's metadata")
    var attempt = readVersion + 1
    var tries = 0
    while (true) {
      try {
        log.write(attempt, actions)
        return attempt
      } catch {
        case e: CommitConflictException =>
          tries += 1
          if (!rebaseable || tries > maxRetries) throw e
          val cur = log.snapshot(None)
          if (readMeta.exists(_.validationState !=
              cur.metaData.validationState))
            throw e
          val alreadyCommitted = actions.flatMap(_.txn).exists(t =>
            cur.txns.get(t.appId).exists(_ >= t.batchId))
          if (alreadyCommitted) return cur.version
          attempt = cur.version + 1
      }
    }
    -1L // unreachable
  }

  /** Analyze a user filter against the table schema, yielding a RESOLVED
    * Catalyst expression (typed AttributeReferences + folded literals) the
    * stats evaluator can interpret. Spark 4 Columns carry lazy ColumnNode
    * trees, so skipping must go through analysis.
    */
  private def resolveFilter(
      c: Column,
      schema: StructType): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, ReplaceExpressions}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    // fold computed literals (to_date('…'), date arithmetic) so the stats
    // evaluator sees plain Literals — otherwise date filters never prune;
    // ReplaceExpressions first: to_date and friends are RuntimeReplaceable
    // (not directly evaluable) until rewritten to their runtime form
    val analyzed = empty.where(c).queryExecution.analyzed
    ConstantFolding(ReplaceExpressions(analyzed)).collectFirst {
      case f: Filter => f.condition
    }.getOrElse(Literal(true))
  }

  // ---- DML (copy-on-write rewrites, SURVEY §7.3) -----------------------

  private def coalesceFalse(c: Column): Column = coalesce(c, lit(false))

  private def absPath(f: AddFile): String =
    Paths.get(path, f.path).toAbsolutePath.normalize.toString

  /** Files whose stats say they MIGHT contain rows matching cond, then
    * narrowed to files that actually do (one scan of the candidates).
    */
  private def filesWithMatches(snap: Snapshot, cond: Column): Seq[AddFile] = {
    val pcs = snap.metaData.partitionColumns
    val resolvedCond = resolveFilter(cond, snap.schema)
    val probe = bloomProbe
    val norm = Stats.normalize(resolvedCond)
    val candidates = snap.files.filter(f =>
      Stats.mightMatchNormalized(f, norm, snap.schema, pcs, probe))
    if (candidates.isEmpty) return Seq.empty
    val hit = readFiles(snap, candidates)
      .withColumn("__file", input_file_name())
      .where(cond)
      .select("__file").distinct().collect()
      .map(r => Stats.normalizeFileUri(r.getString(0))).toSet
    candidates.filter(f => hit.contains(absPath(f)))
  }

  private def readFiles(snap: Snapshot, files: Seq[AddFile]): DataFrame =
    readFilesInternal(snap, files, withMeta = false)

  /** Deletion-vector-aware scan. Clean files take the plain vectorized
    * path; DV-backed files read `_metadata.{file_path,row_index}` and
    * drop rows the bitmap marks deleted (one codegen'd O(1) probe per
    * row). `withMeta` keeps the metadata columns (as `__dv_path` /
    * `__dv_idx`) for DELETE's index collection.
    */
  private def readFilesInternal(snap: Snapshot, files: Seq[AddFile],
      withMeta: Boolean): DataFrame = {
    LakeTable.enableFieldIdReads(spark)
    val dataCols = snap.schema.fieldNames.map(col).toSeq
    val metaCols =
      if (withMeta) Seq(col("_metadata.file_path").as("__dv_path"),
        col("_metadata.row_index").as("__dv_idx"))
      else Seq.empty
    def scan(fs: Seq[AddFile]) = spark.read
      .schema(snap.schema)
      .option("basePath", path)
      .parquet(fs.map(f => s"$path/${f.path}"): _*)
    // Partition-spec EVOLUTION: files written under different specs have
    // different elided-column sets and incompatible directory layouts —
    // one mixed scan would trip Spark's partition discovery. Scan each
    // layout GENERATION (distinct elided-column set) separately — the
    // explicit schema fills elided columns from the hive path and
    // in-file columns from the data, so every generation produces the
    // same logical schema — and union.
    def generations(fs: Seq[AddFile]): Seq[Seq[AddFile]] =
      fs.groupBy(_.partitionValues.keySet).values.toSeq
    val (dvF, cleanF) = files.partition(f => f.dvPath.isDefined || f.dvInline.isDefined)
    val clean =
      if (cleanF.isEmpty) None
      else Some(generations(cleanF)
        .map(g => scan(g).select(dataCols ++ metaCols: _*))
        .reduce(_ unionByName _))
    val masked =
      if (dvF.isEmpty) None
      else {
        val lookup = new DvLookup(path,
          dvF.flatMap(f => f.dvPath.map(absPath(f) -> _)).toMap,
          dvF.flatMap(f => f.dvInline.map(s => absPath(f) -> Dv.decode(s))).toMap)
        Some(generations(dvF)
          .map(g => scan(g)
            .where(!org.apache.spark.sql.graft.DvExpressions.rowDeleted(
              col("_metadata.file_path"), col("_metadata.row_index"), lookup))
            .select(dataCols ++ metaCols: _*))
          .reduce(_ unionByName _))
      }
    (clean, masked) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) =>
        val schema = if (withMeta)
          StructType(snap.schema.fields ++ Seq(
            StructField("__dv_path", StringType), StructField("__dv_idx", LongType)))
        else snap.schema
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
  }

  /** Rewrite `touched` files as `replacement` rows in one commit.
    * @return number of rows written
    */
  private def rewrite(snap: Snapshot, touched: Seq[AddFile], replacement: DataFrame,
      op: String, params: Map[String, String],
      extra: Seq[Action] = Seq.empty,
      constraints: Map[String, String] = Map.empty): Long = {
    val pcs = snap.metaData.partitionColumns
    val adds = LakeTable.stageFiles(spark, path, replacement, snap.schema, pcs,
      Bucketing.specOf(snap.metaData), constraints, snap.metaData.properties)
    val now = System.currentTimeMillis()
    val rows = adds.flatMap(_.stats.map(_.numRecords)).sum
    val actions =
      touched.map(f => Action.of(RemoveFile(f.path, now, f.partitionValues))) ++
        adds.map(Action.of) ++ extra :+
        Action.of(CommitInfo(now, op, params,
          numAddedFiles = adds.size.toLong, numRemovedFiles = touched.size.toLong,
          numOutputRows = rows))
    commitWithRetry(snap.version, actions, rebaseable = false)
    rows
  }

  /** DELETE FROM WHERE (L2) with deletion vectors: files where only a
    * small fraction of remaining rows match get a bitmap SIDECAR (one
    * tiny write + a metadata swap — at 100 TB a point delete never
    * rewrites a 1 GB file); files deleted entirely are removed as pure
    * metadata; only heavily-hit files are rewritten. NULL predicate
    * keeps the row (SQL semantics). Returns the number of rows deleted.
    *
    * @param dvMaxFraction rewrite instead of DV when more than this
    *                      fraction of a file's remaining rows match
    */
  def delete(cond: Column, useDvs: Boolean = true,
      dvMaxFraction: Double = 0.5): Long = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val (snap, distCands) = snapshotForDml(cond)
    val pcs = snap.metaData.partitionColumns
    val cls = classifyMatches(snap, cond, useDvs, dvMaxFraction, distCands)
    if (cls.touched.isEmpty) return 0L
    val now = System.currentTimeMillis()
    // change data feed: the matched rows ARE the change set
    val cdcActions: Seq[Action] =
      if (!cdfEnabled(snap)) Seq.empty
      else Cdc.stage(path, readFiles(snap, cls.touched).where(cond)
        .withColumn(Cdc.CHANGE_TYPE, lit(Cdc.DELETE))).map(Action.of)
    val dvAdds = buildDvs(cls, now)

    // heavily-hit files: classic copy-on-write
    val rewriteAdds: Seq[AddFile] =
      if (cls.rewriteTargets.isEmpty) Seq.empty
      else LakeTable.stageFiles(spark, path,
        readFiles(snap, cls.rewriteTargets).where(!coalesceFalse(cond)),
        snap.schema, pcs, Bucketing.specOf(snap.metaData),
        props = snap.metaData.properties)

    val deleted = cls.matchedRows
    val removes = (cls.fullMatch ++ cls.dvTargets ++ cls.rewriteTargets)
      .map(f => Action.of(RemoveFile(f.path, now, f.partitionValues)))
    val adds = (dvAdds ++ rewriteAdds).map(Action.of)
    val actions = removes ++ adds ++ cdcActions :+
      Action.of(CommitInfo(now, "DELETE",
        Map("predicate" -> cond.toString,
          "deletionVectors" -> cls.dvTargets.size.toString,
          "fullFileRemoves" -> cls.fullMatch.size.toString),
        numAddedFiles = rewriteAdds.size.toLong,
        numRemovedFiles = (cls.fullMatch.size + cls.rewriteTargets.size).toLong,
        numOutputRows = deleted))
    commitWithRetry(snap.version, actions, rebaseable = false)
    deleted
  }

  /** Per-file match classification shared by DV-based DML: which files
    * match entirely (pure metadata ops), which get a bitmap, which
    * rewrite. `bitmaps` carries each touched file's matched row indexes —
    * built in the SAME aggregation job as the counts ([[DvAgg]], on
    * executors), so the DV build never re-scans the candidates and the
    * driver receives one blob per file, never the matched rows.
    */
  private case class MatchClassification(
      counts: Map[String, Long],
      bitmaps: Map[String, org.roaringbitmap.longlong.Roaring64Bitmap],
      touched: Seq[AddFile],
      fullMatch: Seq[AddFile],
      dvTargets: Seq[AddFile],
      rewriteTargets: Seq[AddFile]) {
    def matchedRows: Long = touched.map(f => counts(f.path)).sum
  }

  private def classifyMatches(snap: Snapshot, cond: Column,
      useDvs: Boolean, dvMaxFraction: Double,
      candidatesOverride: Option[Seq[AddFile]] = None): MatchClassification = {
    // override = the big-log path already pruned candidates on executors
    // (snap is then a LITE snapshot whose .files must not be touched)
    val candidates = candidatesOverride.getOrElse {
      val resolvedCond = resolveFilter(cond, snap.schema)
      val pcs = snap.metaData.partitionColumns
      val probe = bloomProbe
      val norm = Stats.normalize(resolvedCond)
      snap.files.filter(f =>
        Stats.mightMatchNormalized(f, norm, snap.schema, pcs, probe))
    }
    if (candidates.isEmpty)
      return MatchClassification(Map.empty, Map.empty,
        Seq.empty, Seq.empty, Seq.empty, Seq.empty)
    // ONE job: per-file match counts AND matched-index bitmaps (already
    // excludes rows a previous DV deleted); keyed by table-relative path
    val byAbs: Map[String, String] = candidates.map(f => absPath(f) -> f.path).toMap
    val rows = graft.util.Prof(s"dml.classify ${candidates.size}f $path") {
      readFilesInternal(snap, candidates, withMeta = true)
        .where(cond).groupBy(col("__dv_path"))
        .agg(count(lit(1)).as("__n"),
          (if (useDvs) DvAgg.bitmap(col("__dv_idx"))
           else lit(null).cast("binary")).as("__bm"))
        .collect()
    }
    DmlMetrics.lastIdentityRowsCollected.set(rows.length.toLong)
    val counts: Map[String, Long] = rows
      .flatMap(r => byAbs.get(Stats.normalizeFileUri(r.getString(0)))
        .map(_ -> r.getLong(1))).toMap
    val bitmaps: Map[String, org.roaringbitmap.longlong.Roaring64Bitmap] =
      if (!useDvs) Map.empty
      else rows.flatMap { r =>
        byAbs.get(Stats.normalizeFileUri(r.getString(0)))
          .map(_ -> Dv.deserialize(r.getAs[Array[Byte]](2)))
      }.toMap
    val touched = candidates.filter(f => counts.contains(f.path))
    val (fullMatch, partial) = touched.partition { f =>
      f.stats.exists(st => counts(f.path) == st.numRecords - f.dvCardinality)
    }
    val (dvTargets, rewriteTargets) =
      if (!useDvs) (Seq.empty[AddFile], partial)
      else partial.partition { f =>
        f.stats.exists(st =>
          counts(f.path) <= dvMaxFraction * (st.numRecords - f.dvCardinality))
      }
    MatchClassification(counts, bitmaps, touched, fullMatch, dvTargets,
      rewriteTargets)
  }

  /** Union each target's matched-index bitmap (already computed by
    * [[classifyMatches]]'s single aggregation job — no re-scan) into its
    * live deletion vector and write the new sidecars.
    */
  private def buildDvs(cls: MatchClassification, now: Long): Seq[AddFile] =
    cls.dvTargets.map { f =>
      val bm = Dv.bitmapOf(path, f)
        .getOrElse(new org.roaringbitmap.longlong.Roaring64Bitmap())
      bm.or(cls.bitmaps(f.path))
      Dv.attach(path, f, bm, now, dvInlineMax)
    }

  /** UPDATE SET WHERE (L3) with deletion vectors: a small update DVs the
    * old row versions in place and APPENDS only the updated rows — cost
    * proportional to changed rows, not touched-file bytes. Heavily-hit
    * files fall back to copy-on-write.
    */
  def update(cond: Column, set: Map[String, Column], useDvs: Boolean = true,
      dvMaxFraction: Double = 0.5): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val (snap, distCands) = snapshotForDml(cond)
    val pcs = snap.metaData.partitionColumns
    val bad = set.keys.filterNot(snap.schema.fieldNames.contains)
    require(bad.isEmpty, s"UPDATE SET on unknown column(s): ${bad.mkString(",")}")
    val cls = classifyMatches(snap, cond, useDvs, dvMaxFraction, distCands)
    if (cls.touched.isEmpty) return
    val now = System.currentTimeMillis()

    def applySet(df: DataFrame): DataFrame =
      df.select(snap.schema.fields.map { f =>
        set.get(f.name) match {
          case Some(v) => v.cast(f.dataType).as(f.name)
          case None => col(f.name)
        }
      }.toSeq: _*)

    // every consumer below needs the MATCHED rows (CDC pre/post images,
    // the re-appended post-images): scan the candidates ONCE into the
    // block manager instead of once per consumer
    val dataCols = snap.schema.fieldNames.map(col).toSeq
    val matchedAll = readFilesInternal(snap, cls.touched, withMeta = true)
      .where(coalesceFalse(cond)).cache()
    try {
      // change data feed: matched rows before and after assignment
      val cdcActions: Seq[Action] =
        if (!cdfEnabled(snap)) Seq.empty
        else {
          val matched = matchedAll.select(dataCols: _*)
          Cdc.stage(path,
            matched.withColumn(Cdc.CHANGE_TYPE, lit(Cdc.UPDATE_PRE))
              .unionByName(applySet(matched)
                .withColumn(Cdc.CHANGE_TYPE, lit(Cdc.UPDATE_POST)))).map(Action.of)
        }

      // full-match + DV'd files: their old row versions vanish (remove /
      // bitmap); ONLY the matched rows re-append with assignments applied
      val dvAdds = buildDvs(cls, now)
      val appendTargets = cls.fullMatch ++ cls.dvTargets
      val appendedAdds: Seq[AddFile] =
        if (appendTargets.isEmpty) Seq.empty
        else {
          val fromTargets =
            if (cls.rewriteTargets.isEmpty) matchedAll // touched == targets
            else {
              val keep = appendTargets.map(absPath).toSet
              val inTargets = udf((p: String) =>
                keep.contains(Stats.normalizeFileUri(p)))
              matchedAll.where(inTargets(col("__dv_path")))
            }
          LakeTable.stageFiles(spark, path,
            applySet(fromTargets.select(dataCols: _*)), snap.schema, pcs,
            Bucketing.specOf(snap.metaData), Constraints.of(snap.metaData),
            snap.metaData.properties)
        }

      // heavy files: classic whole-file rewrite with conditional assignment
      val rewriteAdds: Seq[AddFile] =
        if (cls.rewriteTargets.isEmpty) Seq.empty
        else {
          val rewritten = readFiles(snap, cls.rewriteTargets)
            .select(snap.schema.fields.map { f =>
              set.get(f.name) match {
                case Some(v) =>
                  when(coalesceFalse(cond), v.cast(f.dataType))
                    .otherwise(col(f.name)).as(f.name)
                case None => col(f.name)
              }
            }.toSeq: _*)
          LakeTable.stageFiles(spark, path, rewritten, snap.schema, pcs,
            Bucketing.specOf(snap.metaData), Constraints.of(snap.metaData),
            snap.metaData.properties)
        }

      val removes = (cls.fullMatch ++ cls.dvTargets ++ cls.rewriteTargets)
        .map(f => Action.of(RemoveFile(f.path, now, f.partitionValues)))
      val adds = (dvAdds ++ appendedAdds ++ rewriteAdds).map(Action.of)
      val actions = removes ++ adds ++ cdcActions :+
        Action.of(CommitInfo(now, "UPDATE",
          Map("predicate" -> cond.toString, "set" -> set.keys.mkString(","),
            "deletionVectors" -> cls.dvTargets.size.toString),
          numAddedFiles = (appendedAdds.size + rewriteAdds.size).toLong,
          numRemovedFiles = (cls.fullMatch.size + cls.rewriteTargets.size).toLong,
          numOutputRows = cls.matchedRows))
      commitWithRetry(snap.version, actions, rebaseable = false)
    } finally matchedAll.unpersist()
  }

  /** MERGE INTO (L4/J1): copy-on-write upsert, the
    * `MERGE INTO t USING s ON ... WHEN MATCHED ... WHEN NOT MATCHED ...`
    * of `02.delta_lake_primer.py:312-320`.
    *
    * The target is aliased `t` and the source `s`: write the condition
    * and assignment expressions with those qualifiers, e.g.
    * `expr("t.addr_state = s.addr_state")`.
    *
    * @param whenMatchedUpdate Some(assignments) → matched target rows get
    *                          assignments (empty map = `UPDATE SET *` by
    *                          column name); None (with delete=false) →
    *                          matched rows kept as-is
    * @param whenMatchedDelete matched target rows are deleted
    * @param whenNotMatchedInsert Some(assignments) → unmatched source rows
    *                          inserted (empty map = `INSERT *` by name)
    */
  def merge(
      source: DataFrame,
      condition: Column,
      whenMatchedUpdate: Option[Map[String, Column]] = Some(Map.empty),
      whenMatchedDelete: Boolean = false,
      whenNotMatchedInsert: Option[Map[String, Column]] = Some(Map.empty)): Unit = {
    require(!(whenMatchedUpdate.isDefined && whenMatchedDelete),
      "merge: choose update OR delete for matched rows")
    val matched: Seq[MergeClause] =
      if (whenMatchedDelete) Seq(MergeClause.Delete(None))
      else whenMatchedUpdate match {
        case Some(as) => Seq(MergeClause.Update(None, as))
        case None => Seq.empty
      }
    mergeClauses(source, condition, matched,
      whenNotMatchedInsert.map(as => MergeClause.Insert(None, as)).toSeq,
      Seq.empty)
  }

  /** Full multi-clause MERGE: ordered `WHEN MATCHED [AND cond]`,
    * `WHEN NOT MATCHED [AND cond]`, and `WHEN NOT MATCHED BY SOURCE
    * [AND cond]` clause lists with SQL cascade semantics — for each row
    * the FIRST clause whose condition holds applies; no clause → the row
    * is kept (matched / by-source) or dropped (not-matched).
    *
    * Scale design (Delta's DV merge shape): claimed old row versions
    * (updated/deleted) are marked in deletion-vector bitmaps and ONLY the
    * new row versions (updates' post-images + inserts) are appended —
    * merge cost is proportional to changed rows, not touched-file bytes.
    * Per-file fallbacks as in [[delete]]: fully-claimed files become pure
    * metadata removes; files claimed beyond `dvMaxFraction` rewrite.
    * With by-source clauses every target row is a candidate (same as
    * Delta), but untouched rows still stay in place under DVs.
    */
  /** @param propsDelta table properties updated ATOMICALLY with the merge
    *   commit — the exactly-once hook incremental consumers (e.g.
    *   [[IncrementalMv]]) need to record "applied through version v"
    *   in the same transaction as the data change.
    * @param expectProps compare-and-swap precondition: every (key, value)
    *   must hold in the merge's read snapshot or the merge throws
    *   [[StalePreconditionException]] before staging anything. Because
    *   the commit is non-rebaseable from that SAME snapshot, either the
    *   precondition held at the committed version's predecessor (true
    *   CAS) or a concurrent commit aborts this one — there is no window
    *   in between. This is how multi-process incremental consumers
    *   serialize: guard on the applied-through pointer and retry from
    *   the advanced value on either exception.
    */
  def mergeClauses(
      source: DataFrame,
      condition: Column,
      matchedClauses: Seq[MergeClause],
      notMatchedClauses: Seq[MergeClause.Insert],
      notMatchedBySourceClauses: Seq[MergeClause],
      useDvs: Boolean = true,
      dvMaxFraction: Double = 0.5,
      propsDelta: Map[String, String] = Map.empty,
      schemaEvolution: Boolean = false,
      expectProps: Map[String, String] = Map.empty): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    // early expectProps probe: schema evolution below commits metadata
    // BEFORE the merge's own CAS check, so a merge already known stale
    // must bail first. The authoritative check stays at the commit
    // snapshot; see the evolution note below for the remaining window.
    checkExpectProps(snapshot, expectProps)
    // MERGE WITH SCHEMA EVOLUTION: source-only top-level columns evolve
    // the target schema FIRST (a metadata-only ADD COLUMN commit per
    // column — existing files read NULL), then the merge sees the
    // widened schema and star-actions carry the new columns through.
    // NOTE: these are SEPARATE, idempotent metadata commits — not
    // covered by the expectProps CAS. If a concurrent writer advances
    // the guarded property between them and the merge commit, the
    // columns stay added while the merge aborts; a retry re-validates
    // and finds the columns already present (the evolution is a no-op
    // the second time), so the combination converges — but callers
    // needing strict all-or-nothing must not combine schemaEvolution
    // with expectProps.
    if (schemaEvolution) {
      // case-INsensitive match (Spark's default resolution): a source
      // column differing only in case must not become a duplicate that
      // makes every later reference ambiguous
      val existing = snapshot.schema.fieldNames.map(_.toLowerCase).toSet
      // evolve only what the clauses can actually carry: every source-only
      // column under a star action (`UPDATE SET *` / `INSERT *`), or the
      // specific source columns named as assignment targets — a merge
      // whose clauses are all explicit assignments must not widen the
      // target with columns no clause ever writes
      val allClauses = matchedClauses ++ notMatchedClauses ++
        notMatchedBySourceClauses
      val hasStar = allClauses.exists {
        case MergeClause.Update(_, as) => as.isEmpty
        case MergeClause.Insert(_, as) => as.isEmpty
        case _ => false
      }
      val assignedTargets = allClauses.flatMap {
        case MergeClause.Update(_, as) => as.keys
        case MergeClause.Insert(_, as) => as.keys
        case _ => Nil
      }.map(_.toLowerCase).toSet
      source.schema.fields
        .filterNot(f => existing.contains(f.name.toLowerCase))
        .filter(f => hasStar || assignedTargets.contains(f.name.toLowerCase))
        .foreach(f => alterAddColumn(f.name, f.dataType.sql))
    }
    matchedClauses.foreach {
      case _: MergeClause.Insert =>
        throw new IllegalArgumentException("WHEN MATCHED cannot INSERT")
      case _ => ()
    }
    notMatchedBySourceClauses.foreach {
      case _: MergeClause.Insert =>
        throw new IllegalArgumentException("WHEN NOT MATCHED BY SOURCE cannot INSERT")
      case MergeClause.Update(_, as) if as.isEmpty =>
        throw new IllegalArgumentException(
          "WHEN NOT MATCHED BY SOURCE UPDATE needs explicit assignments")
      case _ => ()
    }
    // A NON-DETERMINISTIC source is re-evaluated by every pass below —
    // the pruning aggregations, the prefilter join, the merge join, and
    // the CDC emit could each see DIFFERENT rows, so pruned candidates
    // might exclude files the final join matches (silently lost updates
    // / duplicate inserts). Materialize it once (Delta materializes
    // merge sources for the same reason); the cost is paid only by
    // sources that need it. Detected at BOTH levels: non-deterministic
    // expressions (rand, uuid, monotonically_increasing_id — including
    // inside filters), and plan shapes whose ROW SET is unstable across
    // executions even with deterministic expressions (LIMIT/TAIL
    // without a total order, SAMPLE — a retry can surface a different
    // subset).
    val src = {
      import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Sample, Tail}
      val unstable = source.queryExecution.analyzed.find {
        case _: GlobalLimit | _: LocalLimit | _: Sample | _: Tail => true
        case p => p.expressions.exists(e => !e.deterministic)
      }.isDefined
      // localCheckpoint (NO lineage) is deliberate here, unlike the
      // engine's other eager cuts (Bridge.persistedCut): the frame is
      // non-deterministic, so a lineage-based recompute after executor
      // loss would silently yield DIFFERENT rows mid-merge — failing
      // the merge (caller retries, sees a consistent snapshot) is the
      // correct behavior.
      if (unstable) source.localCheckpoint(eager = true) else source
    }

    // Candidate pruning facts from the source's equi-key ranges
    // ([[MergePrune]]): at most one aggregation job over the source, run
    // lazily and only on paths that can use it. With by-source clauses
    // every target row is a candidate, so no pruning is possible.
    var keyRangeMemo: Option[Option[Seq[Column]]] = None
    def keyRange(schema: StructType): Option[Seq[Column]] = {
      if (keyRangeMemo.isEmpty) keyRangeMemo = Some(
        if (notMatchedBySourceClauses.nonEmpty) Some(Seq.empty)
        else try MergePrune.sourceRangeFilters(spark, src, condition, schema)
        catch { case scala.util.control.NonFatal(_) => Some(Seq.empty) })
      keyRangeMemo.get
    }

    // Big-log path (NEXT r3 #1): resolve merge candidates through the
    // distributed checkpoint scan — the stats filter derived from the
    // source's key range prunes ON EXECUTORS, and only overlapping
    // AddFiles ever reach the driver. A merge into a million-file table
    // holds O(candidate) entries, not O(files).
    val (snap, distCands) = distributedResolve { schema =>
      keyRange(schema) match {
        case None => Seq(lit(false)) // source proves no row can match
        case Some(fs) => fs
      }
    } match {
      case Some((lite, cands)) =>
        DmlMetrics.lastDmlDistributed.set(true)
        (lite, Some(cands))
      case None =>
        DmlMetrics.lastDmlDistributed.set(false)
        (snapshot, None)
    }
    // CAS precondition against the SAME snapshot the commit will be
    // based on — checked before any staging work
    checkExpectProps(snap, expectProps)
    val tgtSchema = snap.schema
    // source columns resolve case-INsensitively against the target
    // schema (Spark's default resolution; star expansion and WITH
    // SCHEMA EVOLUTION both rely on it)
    val srcByLower = src.columns.map(c => c.toLowerCase -> c).toMap

    // 1. candidate target files: matches only — unless by-source clauses
    // make every target row a candidate. Stats-prune via the source key
    // ranges first, then the prefilter join narrows to files with ACTUAL
    // matches (a pure scan optimization — untouched files fall out of
    // the claim map below anyway on the DV path). The join is skipped
    // when the whole table is small in BYTES (file count says nothing
    // about the cost of the wide full-outer join the skip widens to).
    def prefilterTouched(cands: Seq[AddFile]): Seq[AddFile] =
      if (cands.isEmpty) Seq.empty
      else {
        val withFile = readFiles(snap, cands)
          .withColumn("__file", input_file_name()).alias("t")
        val matchedFiles = withFile.join(src.alias("s"), condition, "inner")
          .select(col("t.__file")).distinct().collect()
          .map(r => Stats.normalizeFileUri(r.getString(0))).toSet
        cands.filter(f => matchedFiles.contains(absPath(f)))
      }
    val touched = distCands match {
      case Some(cands) =>
        if (notMatchedBySourceClauses.nonEmpty) cands
        else prefilterTouched(cands)
      case None =>
        if (notMatchedBySourceClauses.nonEmpty) snap.files
        else if (useDvs && snap.sizeInBytes <= (64L << 20)) snap.files
        else keyRange(tgtSchema) match {
          case None => Seq.empty // no row can match; inserts may still land
          case Some(fs) =>
            val resolved = fs.map(resolveFilter(_, tgtSchema))
            val pcs = snap.metaData.partitionColumns
            val probe = bloomProbe
            val norm = resolved.map(Stats.normalize)
            prefilterTouched(snap.files.filter(f =>
              norm.forall(e => Stats.mightMatchNormalized(f, e, tgtSchema, pcs, probe))))
        }
    }
    DmlMetrics.lastMergeCandidateFiles.set(touched.size.toLong)

    // 2. full-outer join of candidate target rows vs source; each target
    // row carries its physical identity (__dv_path, __dv_idx) — the DV
    // path bitmaps exactly these, and multi-match ambiguity is detected
    // on them without generating row ids.
    //
    // DV path: ONE uncached pass. The claims aggregation rides the
    // staging WRITE job as an observed metric (Dataset.observe +
    // [[MergeClaimsAgg]]), so the join is computed exactly once. Partials
    // are keyed by partition id, so a retried map stage cannot
    // double-count, and CollectMetrics is a pushdown barrier, so the
    // filters above it cannot drop rows from the claims. On a change-feed
    // table the same write also carries the change rows ([[mergeRows]]):
    // stageFiles routes them to `_change_data/` by a hidden kind column.
    // Identity-partitioned and bucketed tables, whose layout would strip
    // columns out of change files, write the change rows in a second
    // uncached pass over the join. The copy-on-write path caches the
    // join: its ambiguity probe, rewrite and change rows each read it.
    val cdf = cdfEnabled(snap)
    val tRows = readFilesInternal(snap, touched, withMeta = true)
      .withColumn("__tgt", lit(true))
    val sRows = src.withColumn("__src", lit(true))
    val joinedBase = tRows.alias("t").join(sRows.alias("s"), condition, "full_outer")
    val joined = if (useDvs) joinedBase else joinedBase.cache()
    try {
      // SQL cascade: tag each row with the index of the first clause whose
      // condition holds (-1 = none)
      def actionExpr(clauses: Seq[MergeClause]): Column =
        clauses.zipWithIndex.reverse
          .foldLeft(lit(-1)) { case (acc, (c, i)) =>
            when(coalesceFalse(c.condition.getOrElse(lit(true))), lit(i))
              .otherwise(acc)
          }

      def starAssigns: Map[String, Column] =
        tgtSchema.fieldNames.toSeq.flatMap(f =>
          srcByLower.get(f.toLowerCase).map(c => f -> col(s"s.$c"))).toMap

      // each join row's group (0 matched / 1 by-source / 2 not matched)
      // and the first applicable clause within it
      val isMatched = col("t.__tgt").isNotNull && col("s.__src").isNotNull
      val isTgtOnly = col("t.__tgt").isNotNull && col("s.__src").isNull
      val actionOf = when(isMatched, actionExpr(matchedClauses))
        .when(isTgtOnly, actionExpr(notMatchedBySourceClauses))
        .otherwise(actionExpr(notMatchedClauses))
      def tagged(base: DataFrame): DataFrame = base
        .withColumn("__g", when(isMatched, 0).when(isTgtOnly, 1).otherwise(2))
        .withColumn("__a", actionOf)

      /** A (group, clause) pair that emits a new row version: update →
        * post-image, insert → source projection; clause -1 keeps an
        * unclaimed target row as-is (copy-on-write only). */
      case class Emit(g: Int, i: Int, assigns: Map[String, Column],
          fromSource: Boolean) {
        def fires: Column = col("__g") === g && col("__a") === i
      }
      def emitsOf(g: Int, clauses: Seq[MergeClause]): Seq[Emit] =
        clauses.zipWithIndex.collect {
          case (MergeClause.Update(_, as), i) =>
            Emit(g, i, if (as.isEmpty) starAssigns else as, fromSource = false)
          case (MergeClause.Insert(_, as), i) =>
            Emit(g, i, as, fromSource = true)
        }
      val emits = emitsOf(0, matchedClauses) ++
        emitsOf(1, notMatchedBySourceClauses) ++ emitsOf(2, notMatchedClauses)
      val keptEmits =
        Seq(Emit(0, -1, Map.empty, fromSource = false),
          Emit(1, -1, Map.empty, fromSource = false))

      /** Per target field, ONE CASE chain over the emitting pairs. The
        * per-clause filter+union shape scanned the join once per clause;
        * this reads it once per MERGE — per-commit cost at 100 TB tracks
        * the join, not the clause count. (VERDICT r2 #7) */
      def newFields(es: Seq[Emit]): Seq[Column] =
        tgtSchema.fields.map { f =>
          es.foldRight(lit(null).cast(f.dataType)) { (e, acc) =>
            val v = e.assigns.get(f.name) match {
              case Some(c) => c
              case None =>
                if (e.fromSource)
                  srcByLower.get(f.name.toLowerCase)
                    .map(c => col(s"s.$c")).getOrElse(lit(null))
                else col(s"t.${f.name}")
            }
            when(e.fires, v.cast(f.dataType)).otherwise(acc)
          }.as(f.name)
        }.toSeq

      /** The new row versions of `es`, or None if no pair emits. */
      def newRows(es: Seq[Emit], base: DataFrame): Option[DataFrame] =
        if (es.isEmpty) None
        else Some(tagged(base).where(es.map(_.fires).reduce(_ || _))
          .select(newFields(es): _*))

      /** New row versions AND change rows from ONE generator over the
        * join: per join row up to three structs — the new row version,
        * the old image (`update_preimage` / `delete`) and the new image
        * (`update_postimage` / `insert`) — flattened by `inline`. A union
        * of per-clause filtered branches would re-run the join, and
        * re-apply an observed metric, once per branch. Columns: the table
        * columns, `_change_type` (null on data rows) and the hidden
        * [[Cdc.KIND_COL]] (true on change rows). */
      def mergeRows(base: DataFrame): DataFrame = {
        val names = tgtSchema.fieldNames.toSeq.zipWithIndex
        val flat = tagged(base).select((Seq(
          emits.map(_.fires).reduceOption(_ || _).getOrElse(lit(false)).as("__new"),
          (col("__g") < 2 && col("__a") >= 0).as("__old"),
          (col("__g") === 2).as("__ins")) ++
          newFields(emits).zip(names).map { case (c, (_, i)) => c.as(s"__n$i") } ++
          names.map { case (n, i) => col(s"t.$n").as(s"__o$i") }): _*)
        def image(present: String, prefix: String, changeType: Column,
            isChange: Boolean): Column =
          when(col(present), struct(names.map { case (n, i) => col(s"$prefix$i").as(n) } ++
            Seq(changeType.as(Cdc.CHANGE_TYPE), lit(isChange).as(Cdc.KIND_COL)): _*))
        flat.select(inline(filter(array(
          image("__new", "__n", lit(null).cast(StringType), isChange = false),
          image("__old", "__o",
            when(col("__new"), lit(Cdc.UPDATE_PRE)).otherwise(lit(Cdc.DELETE)),
            isChange = true),
          image("__new", "__n",
            when(col("__ins"), lit(Cdc.INSERT)).otherwise(lit(Cdc.UPDATE_POST)),
            isChange = true)), _.isNotNull)))
      }
      /** Only the change rows of [[mergeRows]], in change-file shape:
        * table columns (with their field ids, as routed change files
        * carry them) plus `_change_type`. */
      def changeRows(base: DataFrame): DataFrame =
        mergeRows(base).where(col(Cdc.KIND_COL)).select(
          tgtSchema.fields.map(f => col(f.name).as(f.name, f.metadata)).toSeq :+
            col(Cdc.CHANGE_TYPE): _*)

      val propsActions: Seq[Action] =
        if (propsDelta.isEmpty) Seq.empty
        else Seq(Action.of(snap.metaData.copy(
          properties = snap.metaData.properties ++ propsDelta)))

      if (!useDvs) {
        // classic copy-on-write over the cached join: a short-circuit
        // ambiguity probe, then rewrite every candidate file (kept rows
        // included, so the rewrite frame always exists)
        if (matchedClauses.nonEmpty) {
          val dupes = joined.where(isMatched)
            .groupBy(col("t.__dv_path"), col("t.__dv_idx"))
            .count().where(col("count") > 1).limit(1).count()
          require(dupes == 0L,
            "merge: a target row matches multiple source rows; make the condition more specific")
        }
        val cdcActions =
          if (cdf) Cdc.stage(path, changeRows(joined)).map(Action.of) else Seq.empty
        rewrite(snap, touched, newRows(emits ++ keptEmits, joined).get, "MERGE",
          Map("condition" -> condition.toString),
          extra = cdcActions ++ propsActions,
          constraints = Constraints.of(snap.metaData))
        return
      }

      // ---- deletion-vector path ----------------------------------------
      // The claim bitmaps are built ON EXECUTORS and the driver receives
      // one (file, bitmap blob, maxMatches) record per affected FILE —
      // never a row per claimed target row. Files staged by an ambiguous
      // merge stay uncommitted (vacuum-reapable orphans, like any failed
      // commit).
      val claimsCol = MergeClaimsAgg.claims(
        coalesce(col("t.__dv_path"), lit("")), coalesce(col("t.__dv_idx"), lit(-1L)),
        isMatched, actionOf).as("__claims")
      val routeChanges = cdf && Bucketing.specOf(snap.metaData).isEmpty &&
        !PartitionTransforms.parseAll(snap.metaData.partitionColumns)
          .exists(_.isInstanceOf[PartitionTransforms.Identity])
      def stage(df: DataFrame, withChanges: Boolean) =
        LakeTable.stageFilesAndChanges(spark, path, df, tgtSchema,
          snap.metaData.partitionColumns, Bucketing.specOf(snap.metaData),
          Constraints.of(snap.metaData), snap.metaData.properties, withChanges)
      val (claimsBlob, appendedAdds, cdcFiles) =
        if (emits.isEmpty && !cdf) {
          // delete-only clauses and no change feed: nothing to write, so
          // the claims take one dedicated uncached aggregation pass
          (joined.agg(claimsCol).head().getAs[Array[Byte]](0),
            Seq.empty[AddFile], Seq.empty[CdcFile])
        } else {
          // the single pass: stage the new rows (and change rows), claims
          // fall out as the observed metric. Every branch below runs a
          // write over `observed`, so the observation always completes;
          // the plan contains the merge join, so stageFiles never rebinds
          // it away from the session the observation listens on.
          val obs = new org.apache.spark.sql.Observation()
          val observed = joined.observe(obs, claimsCol)
          val (adds, cdcs) =
            if (routeChanges) stage(mergeRows(observed), withChanges = true)
            else {
              val adds = newRows(emits, observed)
                .map(stage(_, withChanges = false)._1).getOrElse(Seq.empty)
              (adds, if (!cdf) Seq.empty
                else Cdc.stage(path, changeRows(if (emits.isEmpty) observed else joined)))
            }
          (obs.get("__claims").asInstanceOf[Array[Byte]], adds, cdcs)
        }
      val claimsByPath = MergeClaimsAgg.decode(claimsBlob)
      DmlMetrics.lastIdentityRowsCollected.set(claimsByPath.size.toLong)
      if (matchedClauses.nonEmpty) {
        claimsByPath.find(_._2.maxMatches > 1).foreach { case (p, c) =>
          throw new IllegalArgumentException(
            "merge: a target row matches multiple source rows (e.g. row " +
              s"${c.maxMatchesIdx} of $p " +
              s"matched ${c.maxMatches} times); make the " +
              "condition more specific")
        }
      }

      // claimed old row versions: every matched/by-source row a clause
      // applied to (update → superseded, delete → gone) — already
      // aggregated into per-file bitmaps by the claims pass above
      val byAbs = touched.map(f => absPath(f) -> f.path).toMap
      val claimedByFile: Map[String, org.roaringbitmap.longlong.Roaring64Bitmap] =
        claimsByPath.flatMap { case (p, c) =>
          val bm = Dv.deserialize(c.claims)
          if (bm.isEmpty) None // ambiguity-only file, no clause claimed a row
          else byAbs.get(Stats.normalizeFileUri(p)).map(_ -> bm)
        }.toMap

      val affected = touched.filter(f => claimedByFile.contains(f.path))
      val (fullMatch, partial) = affected.partition { f =>
        f.stats.exists(st =>
          claimedByFile(f.path).getLongCardinality == st.numRecords - f.dvCardinality)
      }
      val (dvTargets, rewriteTargets) = partial.partition { f =>
        f.stats.exists(st =>
          claimedByFile(f.path).getLongCardinality <=
            dvMaxFraction * (st.numRecords - f.dvCardinality))
      }
      val now = System.currentTimeMillis()

      // bitmap union for DV'd files
      val dvAdds = dvTargets.map { f =>
        val bm = Dv.bitmapOf(path, f)
          .getOrElse(new org.roaringbitmap.longlong.Roaring64Bitmap())
        bm.or(claimedByFile(f.path))
        Dv.attach(path, f, bm, now, dvInlineMax)
      }

      // heavily-claimed files rewrite to their surviving rows; the claim
      // bitmaps ship inline with the scan (never persisted)
      val rewriteAdds: Seq[AddFile] =
        if (rewriteTargets.isEmpty) Seq.empty
        else {
          val inline = rewriteTargets.map { f =>
            absPath(f) -> Dv.serialize(claimedByFile(f.path))
          }.toMap
          val lookup = new DvLookup(path, Map.empty, inline)
          val survivors = readFilesInternal(snap, rewriteTargets, withMeta = true)
            .where(!org.apache.spark.sql.graft.DvExpressions.rowDeleted(
              col("__dv_path"), col("__dv_idx"), lookup))
            .select(tgtSchema.fieldNames.map(col).toSeq: _*)
          LakeTable.stageFiles(spark, path, survivors, tgtSchema,
            snap.metaData.partitionColumns, Bucketing.specOf(snap.metaData),
            props = snap.metaData.properties)
        }

      val outputRows = appendedAdds.flatMap(_.stats.map(_.numRecords)).sum
      val removes = (fullMatch ++ dvTargets ++ rewriteTargets)
        .map(f => Action.of(RemoveFile(f.path, now, f.partitionValues)))
      val adds = (dvAdds ++ rewriteAdds ++ appendedAdds).map(Action.of)
      val actions = propsActions ++ removes ++ adds ++ cdcFiles.map(Action.of) :+
        Action.of(CommitInfo(now, "MERGE",
          Map("condition" -> condition.toString,
            "deletionVectors" -> dvTargets.size.toString,
            "fullFileRemoves" -> fullMatch.size.toString),
          numAddedFiles = (rewriteAdds.size + appendedAdds.size).toLong,
          numRemovedFiles = (fullMatch.size + rewriteTargets.size).toLong,
          numOutputRows = outputRows))
      commitWithRetry(snap.version, actions, rebaseable = false)
    } finally {
      if (!useDvs) joined.unpersist()
      // release a materialized non-deterministic source promptly (an
      // exception before this try leaves it to Spark's ContextCleaner,
      // which unpersists the unreferenced checkpoint RDD on GC)
      if (src ne source) src.unpersist(blocking = false)
    }
  }

  /** Re-bucket the table in ONE commit: rewrite every data file into a
    * hash-bucket layout ([[Bucketing]]) and swing the spec — the
    * migration path onto storage-partitioned joins for an existing
    * table, and the resize path when a grown table needs more buckets.
    * A reorg: rows only move between files, so the change data feed
    * emits nothing.
    */
  def rebucket(cols: Seq[String], numBuckets: Int): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    require(cols.nonEmpty && numBuckets > 0,
      "rebucket needs bucket columns and a positive bucket count")
    val snap = snapshot
    val bad = cols.filterNot(snap.schema.fieldNames.contains)
    require(bad.isEmpty, s"no such column(s): ${bad.mkString(",")}")
    val adds = LakeTable.stageFiles(spark, path, readFiles(snap, snap.files),
      snap.schema, snap.metaData.partitionColumns,
      Some(Bucketing.Spec(cols, numBuckets)),
      props = snap.metaData.properties)
    val now = System.currentTimeMillis()
    val newMeta = snap.metaData.copy(properties =
      snap.metaData.properties ++ Bucketing.props(cols, numBuckets))
    val actions = Action.of(newMeta) +:
      (snap.files.map(f => Action.of(RemoveFile(f.path, now, f.partitionValues))) ++
        adds.map(Action.of)) :+
      Action.of(CommitInfo(now, "REBUCKET",
        Map("columns" -> cols.mkString(","),
          "numBuckets" -> numBuckets.toString),
        numAddedFiles = adds.size.toLong,
        numRemovedFiles = snap.files.size.toLong,
        numOutputRows = adds.flatMap(_.stats.map(_.numRecords)).sum))
    commitWithRetry(snap.version, actions, rebaseable = false)
  }

  /** RESTORE TABLE TO VERSION AS OF v (the write-side completion of
    * time travel): one commit that removes the current file set and
    * re-adds version v's — no data is copied, both states stay
    * time-travelable.
    */
  def restore(toVersion: Long): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val cur = snapshot
    val target = log.snapshot(Some(toVersion))
    val now = System.currentTimeMillis()
    val curPaths = cur.files.map(_.path).toSet
    val tgtPaths = target.files.map(_.path).toSet
    val removes = cur.files.filterNot(f => tgtPaths.contains(f.path))
      .map(f => Action.of(RemoveFile(f.path, now, f.partitionValues)))
    val adds = target.files.filterNot(f => curPaths.contains(f.path))
      .map(Action.of)
    // the WHOLE metadata reverts, not just the schema: v's files carry
    // v's physical layout (bucket count, partition spec, field-id map),
    // and restoring them under the current metadata would declare a
    // KeyGroupedPartitioning / constraint set the files don't satisfy —
    // e.g. files bucketed mod 8 under metadata claiming 16 buckets
    // silently mis-route storage-partitioned joins
    val metaAction =
      if (target.metaData != cur.metaData)
        Seq(Action.of(target.metaData))
      else Seq.empty
    val actions = metaAction ++ removes ++ adds :+
      Action.of(CommitInfo(now, "RESTORE", Map("toVersion" -> toVersion.toString),
        numAddedFiles = adds.size.toLong, numRemovedFiles = removes.size.toLong))
    commitWithRetry(cur.version, actions, rebaseable = false)
  }

  // ---- layout optimization (SURVEY §4 "small-file compaction") --------

  /** OPTIMIZE-lite: bin-pack undersized files per (partition directory,
    * bucket) group, committing remove+add in one transaction. Fixes the
    * small-file problem the reference demonstrates with coalesce(1)
    * (`02.delta_lake_primer.py:46-49`) without collapsing parallelism
    * table-wide.
    *
    * Selective, like Delta's OPTIMIZE: a group rewrites only when it has
    * something to gain — at least two undersized files to merge, or a
    * deletion vector to materialize away. Files already at target size
    * are untouched metadata, so at 100 TB a daily compaction pass costs
    * proportional to the day's small-file churn, not the table. On a
    * bucketed table every rewritten row re-routes to its same hash
    * bucket, so the layout (and storage-partitioned joins) survives
    * compaction without rewriting the other buckets.
    */
  /** @param where Delta's `OPTIMIZE ... WHERE`: restrict compaction to
    *   partitions matching a partition-column predicate (exact
    *   driver-side evaluation against partition values — referencing a
    *   non-partition column is an error, not a silent full pass).
    */
  def compact(targetFileBytes: Long = 128L << 20,
      where: Option[Column] = None): Unit =
    compactImpl(targetFileBytes, where, minGroup = 2, dvTrigger = true,
      trigger = "manual")

  /** Force a checkpoint of the CURRENT version without waiting for the
    * every-N commit boundary (Delta's `checkpoint()` maintenance hook).
    * Idempotent per version; also kicks the post-checkpoint index
    * maintenance ([[ConsolidatedKeyIndex.maybeBuildAt]]), so an
    * operator who just CONVERT-adopted, restored, or bulk-reorganized a
    * table can publish its consolidated key index NOW instead of ~N
    * commits later (the same gap [[ConsolidatedKeyIndex]]'s probe-side
    * self-heal closes lazily). */
  def checkpoint(): Unit = {
    require(pinnedVersion.isEmpty, "cannot checkpoint a time-travel handle")
    log.writeCheckpointAt(snapshot.version)
  }

  /** Backfill [[BloomIndex]] sidecars for live files that predate the
    * `graft.bloom.columns` property (new writes index themselves in
    * [[LakeTable.stageFiles]]); `force = true` re-attaches EVERY live
    * file, the recovery path after the indexed column set (or fpp /
    * maxItems) changes — sidecar paths digest the configuration, so the
    * changed config lands at new paths, the old sidecars become
    * vacuum-reapable orphans, and a force call under an UNCHANGED config
    * is a deterministic no-op (returns 0). Data files are untouched —
    * the commit re-adds the same AddFiles with `bloomPath` moved and is
    * classified with the REORG ops, so the change feed and table streams
    * stay silent. Non-rebaseable on purpose: a blind re-add replayed
    * past a concurrent DELETE would resurrect its removed files; on a
    * conflict the loop re-resolves and re-targets. Returns the number of
    * files whose index pointer moved.
    */
  def buildBloomIndex(force: Boolean = false): Int = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    var tries = 0
    while (true) {
      val snap = snapshot
      val pcs = snap.metaData.partitionColumns
      val dataSchema = StructType(snap.schema.filterNot(f => pcs.contains(f.name)))
      require(
        BloomIndex.indexedFields(snap.metaData.properties, dataSchema).nonEmpty,
        s"${BloomIndex.COLS_PROP} names no indexable data column of this table")
      val targets = if (force) snap.files else snap.files.filter(_.bloomPath.isEmpty)
      if (targets.isEmpty) return 0
      val attached = BloomIndex.attach(spark, path, dataSchema, targets,
        snap.metaData.properties)
      // the COMMIT carries only entries whose pointer changed; sidecar
      // paths digest the index CONFIGURATION, so a config change moves
      // every pointer (and the commit records it), a force rebuild under
      // an unchanged config is a bit-identical no-op, and attach
      // preserves the previous bloomPath for files it could not
      // attribute — a non-force call converges instead of re-committing
      // no-ops forever. Returned count = pointers moved.
      val changed = attached.zip(targets)
        .collect { case (u, t) if u.bloomPath != t.bloomPath => u }
      if (changed.isEmpty) return 0
      val now = System.currentTimeMillis()
      val actions = changed.map(Action.of) :+
        Action.of(CommitInfo(now, "BLOOM INDEX",
          Map("indexedFiles" -> changed.size.toString, "force" -> force.toString),
          numAddedFiles = changed.size.toLong))
      try {
        commitWithRetry(snap.version, actions, rebaseable = false)
        return changed.size
      } catch {
        case e: CommitConflictException =>
          tries += 1
          if (tries > 5) throw e
      }
    }
    -1 // unreachable
  }

  /** REORG-style STALE-ROW PURGE for derived index tables (Delta's
    * `REORG TABLE ... APPLY (PURGE)` shape; the reference demonstrates
    * the rewrite-commit maintenance family this extends at
    * `notebooks/01.formatos_ficheros/02.delta_lake_primer.py:441-442` —
    * VACUUM/OPTIMIZE as user-facing statements): rewrite exactly the files
    * holding rows whose `joinCols` match `stale`, dropping those rows;
    * untouched files, the SetTxn state, and the table properties stay
    * byte-identical — an incremental index's exactly-once sync pointer
    * survives the purge by construction. Committed as op `PURGE`, a
    * REORG-class commit: the change feed emits nothing and table
    * streams skip it.
    *
    * CALLER CONTRACT (the REORG trust invariant): the matched rows must
    * be semantically DEAD — rows whose removal no downstream consumer
    * can observe (an index's postings for source ids that no longer
    * exist: probes only ever see them as extra candidates that exact
    * verification already removes). Purging live data under this label
    * corrupts streams exactly as a lying `dataChange = false` does in
    * Delta.
    *
    * Scale shape: ONE distributed pass over the table finds the touched
    * files (per-file stale counts via `input_file_name`), only those
    * files rewrite (kept rows anti-joined against `stale`), and
    * `recluster` re-applies the caller's physical layout to the
    * replacement (range clustering for a key-clustered index; partition
    * columns re-route in stageFiles regardless). DV-masked rows are
    * dropped by the rewrite as a side effect — the same semantics as
    * Delta's PURGE.
    *
    * Concurrency: commits at the resolved snapshot version,
    * non-rebaseable — racing a concurrent sync/append throws
    * [[CommitConflictException]]; recompute and retry (the purge is
    * idempotent maintenance). `expectedVersion` lets a caller that
    * computed `stale` against a pinned snapshot refuse to run on a
    * moved table instead of purging rows a racing sync re-legitimized.
    *
    * @return rows dropped
    */
  def purgeStale(stale: DataFrame, joinCols: Seq[String],
      recluster: Option[DataFrame => DataFrame] = None,
      expectedVersion: Option[Long] = None): Long = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    require(joinCols.nonEmpty, "purgeStale needs at least one join column")
    // Big-log parity with DELETE/UPDATE ([[snapshotForDml]]): above the
    // distributed threshold the live-file inventory comes off the
    // checkpoint's distributed scan (lite snapshot — the driver never
    // replays a 100k+-entry log just to census an index), below it the
    // materialized snapshot serves as before. The census itself has no
    // pruning predicate (stale keys scatter across a key-clustered
    // index), so the candidate set is the live set either way.
    val (snap, allFiles) = distributedResolve(_ => Seq.empty) match {
      case Some((lite, candidates)) =>
        DmlMetrics.lastPurgeDistributed.set(true)
        (lite, candidates)
      case None =>
        DmlMetrics.lastPurgeDistributed.set(false)
        val s = snapshot
        (s, s.files)
    }
    expectedVersion.filter(_ != snap.version).foreach { v =>
      throw new CommitConflictException(
        s"purgeStale expected version $v but found ${snap.version} — " +
          "the table moved since the stale set was computed; recompute")
    }
    val missing = joinCols.filterNot(snap.schema.fieldNames.contains)
    require(missing.isEmpty, s"no such column(s): ${missing.mkString(",")}")
    if (allFiles.isEmpty) return 0L
    // The stale key set is evaluated in TWO jobs (census semi-join,
    // then the anti-join rewrite); a nondeterministic caller frame
    // re-evaluated per job could desync the `dropped` count from the
    // rows actually removed — or worse, remove rows the census never
    // counted. localCheckpoint pins ONE materialization (stale sets are
    // maintenance-sized: deleted ids, never the table) and both jobs
    // read the same bytes. NO lineage on purpose (vs Bridge.persistedCut
    // elsewhere): the caller frame may be non-deterministic, so a
    // recompute after executor loss could desync the two jobs — failing
    // and recomputing the stale set is the correct behavior.
    val staleKeys = stale.select(joinCols.map(col): _*).distinct()
      .localCheckpoint()
    // one pass: which files hold stale rows, and how many each — the
    // collect is bounded by TOUCHED files (churn), never the table
    val staleByFile = readFiles(snap, allFiles)
      .withColumn("__file", input_file_name())
      .join(staleKeys, joinCols, "left_semi")
      .groupBy("__file").count().collect()
      .map(r => Stats.normalizeFileUri(r.getString(0)) -> r.getLong(1))
      .toMap
    if (staleByFile.isEmpty) return 0L
    val touched = allFiles.filter(f => staleByFile.contains(absPath(f)))
    val kept = readFiles(snap, touched)
      .join(staleKeys, joinCols, "left_anti")
    val pcs = snap.metaData.partitionColumns
    val replacement = recluster match {
      case Some(f) => f(kept) // the caller's physical layout wins
      case None if pcs.nonEmpty && Bucketing.specOf(snap.metaData).isEmpty =>
        // one task per touched partition dir — stageFiles routes by the
        // hive layout either way, this just avoids tiny-file fanout
        // (bucketed tables skip it: stageFiles re-routes by bucket, so
        // a pre-shuffle here would be pure waste — compactImpl parity)
        kept.repartition(
          math.max(1, touched.map(_.partitionValues).distinct.size),
          PartitionTransforms.layoutColumns(pcs, snap.schema): _*)
      case None => kept
    }
    val dropped = staleByFile.values.sum
    rewrite(snap, touched, replacement, "PURGE",
      Map("purgedRows" -> dropped.toString,
        "touchedFiles" -> touched.size.toString,
        "skippedFiles" -> (allFiles.size - touched.size).toString,
        "predicate" -> s"semi-join on ${joinCols.mkString(",")}"))
    dropped
  }

  /** Post-write small-file maintenance (Databricks' auto-compaction
    * shape, opt-in): when the table property
    * `graft.autoCompact.enabled` is true, a write whose table now holds
    * `graft.autoCompact.minFiles`-or-more undersized files in some
    * (partition, bucket) group triggers a selective [[compact]] over
    * exactly those groups — streaming micro-batch ingestion stops
    * accumulating thousands of tiny files without an external OPTIMIZE
    * scheduler. Runs AFTER the write's commit and never fails it
    * (compaction is maintenance; the data is already durable): a
    * failure — including losing a commit race to a concurrent writer —
    * logs a warning and leaves the small files for the next trigger.
    *
    * The threshold gates write amplification: every byte in an
    * undersized group is rewritten at most once per minFiles appends,
    * i.e. amortized `1/minFiles` extra writes per append.
    *
    * Caveat (same as Delta's auto compaction): the REORG commit is a
    * non-append change, so tables consumed through the
    * table-as-stream source need `skipChangeCommits` (native source) —
    * or keep auto-compact off and schedule [[compact]] instead.
    */
  def maybeAutoCompact(): Unit = {
    val props = snapshot.metaData.properties
    if (!props.get(LakeTable.AUTO_COMPACT_PROP).exists(_.equalsIgnoreCase("true")))
      return
    val minFiles = math.max(2, props.get(LakeTable.AUTO_COMPACT_MIN_FILES_PROP)
      .flatMap(_.toIntOption).getOrElse(50))
    val target = props.get(LakeTable.AUTO_COMPACT_TARGET_PROP)
      .flatMap(_.toLongOption).getOrElse(128L << 20)
    try compactImpl(target, None, minGroup = minFiles, dvTrigger = false,
      trigger = "auto")
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"auto-compaction of $path skipped: ${e.getMessage}")
    }
  }

  private def compactImpl(targetFileBytes: Long, where: Option[Column],
      minGroup: Int, dvTrigger: Boolean, trigger: String): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val snap = snapshot
    val pcs = snap.metaData.partitionColumns
    val bucketed = Bucketing.specOf(snap.metaData).isDefined
    val scoped = where match {
      case None => snap.files
      case Some(cond) =>
        val e = resolveFilter(cond, snap.schema)
        val refs = e.collect {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name
        }
        val bad = refs.filterNot(pcs.contains)
        require(bad.isEmpty,
          s"OPTIMIZE WHERE supports partition columns only; got ${bad.mkString(",")}")
        snap.files.filter(f => Stats.mightMatch(f, e, snap.schema, pcs))
    }
    def hasDv(f: AddFile) = f.dvPath.isDefined || f.dvInline.isDefined
    val groups = scoped.groupBy(f => (f.partitionValues, f.bucket)).values
      .map { fs =>
        val candidates = fs.filter(f => f.size < targetFileBytes || hasDv(f))
        if (candidates.size >= minGroup || (dvTrigger && candidates.exists(hasDv)))
          candidates
        else Seq.empty
      }.filter(_.nonEmpty).toSeq
    val touched = groups.flatten
    if (touched.isEmpty) return
    val data = readFiles(snap, touched)
    // one merged file per group: partitioned tables cluster by partition
    // columns (one task per dir); bucketed tables are re-routed by
    // stageFiles' own bucket repartition; a flat table packs to
    // ceil(bytes/target) round-robin
    val replacement =
      if (bucketed) data
      else if (pcs.nonEmpty) data.repartition(groups.size,
        PartitionTransforms.layoutColumns(pcs, snap.schema): _*)
      else {
        val bytes = touched.map(_.size).sum
        val n = math.max(1L, bytes / targetFileBytes +
          (if (bytes % targetFileBytes > 0) 1 else 0)).toInt
        data.repartition(n)
      }
    rewrite(snap, touched, replacement, "COMPACT",
      Map("targetFileBytes" -> targetFileBytes.toString,
        "candidateFiles" -> touched.size.toString,
        "skippedFiles" -> (snap.files.size - touched.size).toString,
        "trigger" -> trigger))
  }

  /** Multi-dimensional Z-ORDER clustering: bucket each column by its
    * approxQuantile boundaries (skew-proof), interleave the bucket bits
    * into a morton code, and rewrite range-partitioned + sorted by it.
    * Unlike [[optimizeBy]]'s single-axis sort, per-file min/max ranges
    * stay tight on EVERY clustered column, so skipping prunes on any of
    * them — the OPTIMIZE ZORDER BY of Delta, on vanilla Spark.
    *
    * String columns cluster by xxhash64 (spreads, no range locality);
    * numeric/date/timestamp columns keep range locality.
    */
  def zOrderBy(cols: String*): Unit = clusterByCurve(cols, hilbert = false)

  /** [[zOrderBy]] scoped to partitions matching a partition-column
    * predicate (Delta's `OPTIMIZE ... WHERE ... ZORDER BY`): only the
    * matching partitions' files rewrite — the curve sort is per
    * partition directory anyway (partition values are constant within
    * one), so clustering a subset loses nothing.
    */
  def zOrderByWhere(where: Column, cols: String*): Unit =
    clusterByCurve(cols, hilbert = false, scope = Some(where))

  /** [[hilbertBy]] scoped like [[zOrderByWhere]]. */
  def hilbertByWhere(where: Column, cols: String*): Unit =
    clusterByCurve(cols, hilbert = true, scope = Some(where))

  /** Hilbert-curve clustering: same quantile bucketing as [[zOrderBy]]
    * but the bucket coordinates collapse through the Hilbert curve,
    * which is CONTINUOUS — adjacent codes are grid neighbors, so file
    * min/max ranges stay tighter than Morton's quadrant jumps as the
    * dimension count grows.
    */
  def hilbertBy(cols: String*): Unit = clusterByCurve(cols, hilbert = true)

  /** Resolve a maintenance `WHERE` scope and enforce its contract: the
    * predicate may reference PARTITION columns only (partition values
    * evaluate exactly, so scoping is never lossy; a data-column scope
    * would make "which files rewrite" depend on conservative stats).
    */
  private def requirePartitionScope(cond: Column, schema: StructType,
      pcs: Seq[String]): org.apache.spark.sql.catalyst.expressions.Expression = {
    val e = resolveFilter(cond, schema)
    val refs = e.collect {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        a.name
    }
    val nonPart = refs.filterNot(pcs.contains)
    require(nonPart.isEmpty,
      s"cluster WHERE supports partition columns only; got ${nonPart.mkString(",")}")
    e
  }

  private def clusterByCurve(cols: Seq[String], hilbert: Boolean,
      scope: Option[Column] = None): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    require(cols.nonEmpty, "clustering needs at least one column")
    // scoped clustering on a big-log table resolves its candidates via
    // the distributed checkpoint scan: partition pruning runs on
    // executors and only the matching partitions' files (= the rewrite
    // set itself) reach the driver, never O(table) AddFiles. An
    // UNSCOPED call rewrites the whole table, so its file list is the
    // rewrite set by definition — the driver snapshot is the right shape.
    val distState = if (scope.isDefined) distributedLiveState() else None
    if (scope.isDefined)
      MaintenanceMetrics.lastPlanDistributed.set(distState.isDefined)
    val snap = distState.map(_._1).getOrElse(snapshot)
    if (distState.isEmpty && snap.files.isEmpty) return
    // hash bucketing routes each file to a hash-spread of keys, so a
    // curve sort cannot tighten file min/max ranges afterwards — the
    // rewrite would silently buy nothing (and stageFiles would re-route
    // by bucket anyway). The two layouts are alternatives: pick SPJ
    // (bucketing) or skipping (clustering), or rebucket first.
    require(Bucketing.specOf(snap.metaData).isEmpty,
      "cannot curve-cluster a hash-bucketed table: bucket routing and " +
        "curve layout conflict (drop bucketing via a plain overwrite, " +
        "or keep bucketing and use compact)")
    val bad = cols.filterNot(snap.schema.fieldNames.contains)
    require(bad.isEmpty, s"no such column(s): ${bad.mkString(",")}")
    // partition scope: partition columns only, exact pruning
    val scoped = scope match {
      case None => snap.files
      case Some(cond) =>
        val pcs = snap.metaData.partitionColumns
        val e = requirePartitionScope(cond, snap.schema, pcs)
        distState match {
          case Some((_, live)) =>
            val cands = DistributedState.pruneDs(live, Seq(e), snap.schema,
              pcs).toSeq
            MaintenanceMetrics.lastPlanDriverRows.set(cands.size.toLong)
            cands
          case None =>
            MaintenanceMetrics.lastPlanDriverRows.set(snap.files.size.toLong)
            snap.files.filter(f => Stats.mightMatch(f, e, snap.schema, pcs))
        }
    }
    if (scoped.isEmpty) return
    val data = readFiles(snap, scoped)
    // single axis: the space-filling curve is the identity, so cluster
    // by the RAW column — exact range partitioning at ANY file count
    // (the quantile path quantizes to 2^12 curve codes, which caps the
    // distinct file ranges at 4096: fine for a multi-dim morton grid,
    // degenerate for one column at 100k files), and string keys keep
    // real range locality instead of the curve path's hash spreading
    if (cols.size == 1) {
      val c = col(cols.head)
      val n = math.max(scoped.size, 1)
      rewrite(snap, scoped,
        data.repartitionByRange(n, c).sortWithinPartitions(c),
        if (hilbert) "HILBERT BY" else "ZORDER BY",
        Map("columns" -> cols.head),
        extra = recordClusterBy(snap, cols.head))
      return
    }
    val derived = cols.map { c =>
      snap.schema(c).dataType match {
        case _: StringType => xxhash64(col(c)).cast("double")
        case _ => col(c).cast("double")
      }
    }
    val tagged = data.select(
      (snap.schema.fieldNames.map(col) ++
        derived.zipWithIndex.map { case (d, i) => d.as(s"__zd$i") }).toSeq: _*)
    val bits = math.min(12, 63 / cols.size)
    val nBuckets = 1 << bits
    val probes = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val bounds = tagged.stat.approxQuantile(
      cols.indices.map(i => s"__zd$i").toArray, probes, 0.001)
    val zcols = cols.indices.map(i => col(s"__zd$i"))
    val z =
      if (hilbert) org.apache.spark.sql.graft.ZOrderExpressions.hilbertCode(zcols, bounds)
      else org.apache.spark.sql.graft.ZOrderExpressions.zOrderCode(zcols, bounds)
    val nFiles = math.max(scoped.size, 1)
    val clustered = tagged
      .withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .select(snap.schema.fieldNames.map(col).toSeq: _*)
    // multi-column curve: CLEAR any recorded single-axis clustering
    // column — boundary-time auto-maintenance on it would range-rewrite
    // overlapping-on-that-axis files and shred the curve layout
    val clear =
      if (!snap.metaData.properties.contains(ClusterMaintenance.CLUSTER_BY_PROP))
        Seq.empty[Action]
      else Seq(Action.of(snap.metaData.copy(properties =
        snap.metaData.properties - ClusterMaintenance.CLUSTER_BY_PROP)))
    rewrite(snap, scoped, clustered,
      if (hilbert) "HILBERT BY" else "ZORDER BY",
      Map("columns" -> cols.mkString(",")),
      extra = clear)
  }

  /** Record `column` as the table's clustering column (see
    * [[ClusterMaintenance.CLUSTER_BY_PROP]]) as part of a clustering
    * commit — empty when already recorded. */
  private def recordClusterBy(snap: Snapshot, column: String): Seq[Action] =
    if (snap.metaData.properties
        .get(ClusterMaintenance.CLUSTER_BY_PROP).contains(column)) Seq.empty
    else Seq(Action.of(snap.metaData.copy(properties =
      snap.metaData.properties +
        (ClusterMaintenance.CLUSTER_BY_PROP -> column))))

  /** Sort-cluster the table by `cols` (range partition + in-file sort)
    * so per-file min/max ranges become disjoint and data skipping on
    * those columns prunes aggressively — the Z-ORDER-style layout
    * optimization for the stats-based skipping of §4.
    */
  def optimizeBy(cols: String*): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val snap = snapshot
    if (snap.files.isEmpty) return
    val data = readFiles(snap, snap.files)
      .repartitionByRange(math.max(snap.files.size, 1), cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
    rewrite(snap, snap.files, data, "OPTIMIZE BY",
      Map("columns" -> cols.mkString(",")))
  }

  /** INCREMENTAL clustering maintenance: restore range clustering on
    * `column` by rewriting ONLY the files that break it — at 100 TB a
    * churn wave cannot pay [[zOrderBy]]'s full-table rewrite, and the
    * whole point of clustering as the wide-IN remedy (BASELINE §U) is
    * lost if maintaining it costs the table.
    *
    * The layout model is tiered (LSM-shaped, Delta liquid clustering's
    * ZCube intuition): each partition's files decompose into LAYERS —
    * internally disjoint runs by the column's [min, max] footer stats
    * (greedy patience assignment, driver-side over metadata only; the
    * layer count equals the interval overlap depth, i.e. the worst-case
    * files a point predicate cannot range-exclude). A partition at
    * depth ≤ `maxLayers` is already clustered enough: exact no-op,
    * zero commits. Past the bound, the `maxLayers − 1` HEAVIEST layers
    * (by bytes — the base run stays byte-for-byte untouched) are kept
    * and every other file rewrites range-partitioned into ONE fresh
    * disjoint run, bringing the depth back to ≤ maxLayers. Cost is
    * ∝ the accumulated small layers (recent churn), never the table;
    * an immediate second call is a no-op by construction. Stats-less
    * files (a CONVERT-adopted tail) always rewrite — the rewrite
    * regains their footer stats. Stat strings compare by the column's
    * TYPE (numeric/date/timestamp stats are numeric renderings — a
    * lexical compare would misorder "100" under "99" and shred valid
    * layers).
    *
    * @return number of files rewritten (0 = layout already within depth)
    */
  def optimizeIncrementalBy(column: String, maxLayers: Int = 4): Int = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    require(maxLayers >= 2, "maxLayers must be at least 2")
    // big-log tables plan over the distributed checkpoint scan — the
    // layering runs per partition group ON EXECUTORS over a light
    // (path, size, class, min, max) projection, and only the rewrite
    // selection's AddFiles reach the driver (∝ churn, never the table) —
    // the same move reads, DML, and vacuum make above the threshold
    val dist = distributedLiveState()
    MaintenanceMetrics.lastPlanDistributed.set(dist.isDefined)
    val snap = dist.map(_._1).getOrElse(snapshot)
    if (dist.isEmpty && snap.files.isEmpty) return 0
    require(Bucketing.specOf(snap.metaData).isEmpty,
      "cannot cluster a hash-bucketed table: bucket routing and range " +
        "layout conflict (rebucket or compact instead)")
    require(snap.schema.fieldNames.contains(column), s"no such column: $column")
    // partition columns are elided from data files and carry no footer
    // stats — every file would read as blind and the "maintenance"
    // would rewrite the whole table on every call; the directory
    // layout already clusters them exactly
    require(!snap.metaData.partitionColumns.contains(column),
      s"$column is a partition column: partition directories already " +
        "cluster it exactly — cluster a data column instead")
    val numericLike = snap.schema(column).dataType match {
      case _: org.apache.spark.sql.types.NumericType |
          org.apache.spark.sql.types.DateType |
          org.apache.spark.sql.types.TimestampType => true
      case org.apache.spark.sql.types.StringType => false
      case dt => throw new IllegalArgumentException(
        s"cannot range-cluster by $column: unsupported type $dt")
    }
    import ClusterMaintenance.FileLayerInfo
    // (selected AddFiles, their planner class by path, live file count)
    val (rewriteSet, clsByPath, liveCount): (Seq[AddFile], Map[String, Int], Long) =
      dist match {
        case Some((_, live)) =>
          val nl = numericLike
          val ml = maxLayers
          val cn = column
          val planned: Array[(String, Int)] = live
            .map(f => (ClusterMaintenance.partitionKey(f),
              ClusterMaintenance.classify(f, cn, nl)))(
              Encoders.tuple(Encoders.STRING, Encoders.product[FileLayerInfo]))
            .groupByKey(_._1)(Encoders.STRING)
            .flatMapGroups { (_: String, it: Iterator[(String, FileLayerInfo)]) =>
              ClusterMaintenance
                .rewriteSelection(it.map(_._2).toVector, nl, ml)
                .iterator.map(e => (e.path, e.cls))
            }(Encoders.tuple(Encoders.STRING, Encoders.scalaInt))
            .collect()
          val cls = planned.toMap
          val files: Seq[AddFile] =
            if (planned.isEmpty) Nil
            else {
              val pathSet = cls.keySet
              live.filter((f: AddFile) => pathSet.contains(f.path))
                .collect().toSeq
            }
          MaintenanceMetrics.lastPlanDriverRows.set(files.size.toLong)
          (files, cls, live.count())
        case None =>
          val byPath = snap.files.map(f => f.path -> f).toMap
          // per partition directory: files of different partitions are
          // never co-scanned, so cross-partition overlap is irrelevant
          val selected = snap.files.groupBy(_.partitionValues).valuesIterator
            .flatMap { group =>
              ClusterMaintenance.rewriteSelection(
                group.map(f =>
                  ClusterMaintenance.classify(f, column, numericLike)),
                numericLike, maxLayers)
            }.toSeq
          MaintenanceMetrics.lastPlanDriverRows.set(snap.files.size.toLong)
          (selected.map(e => byPath(e.path)),
            selected.map(e => e.path -> e.cls).toMap,
            snap.files.size.toLong)
      }
    // one RANGED straggler alone cannot improve its own layout (a lone
    // blind file still rewrites: the rewrite regains its footer stats)
    if (rewriteSet.isEmpty ||
        (rewriteSet.size == 1 &&
          clsByPath(rewriteSet.head.path) == ClusterMaintenance.RANGED))
      return 0
    val c = col(column)
    val data = readFiles(snap, rewriteSet)
      .repartitionByRange(rewriteSet.size, c)
      .sortWithinPartitions(c)
    rewrite(snap, rewriteSet, data, "OPTIMIZE BY",
      Map("columns" -> column, "mode" -> "incremental",
        "planning" -> (if (dist.isDefined) "distributed" else "driver"),
        "rewrittenFiles" -> rewriteSet.size.toString,
        "keptFiles" -> (liveCount - rewriteSet.size).toString),
      extra = recordClusterBy(snap, column))
    rewriteSet.size
  }

  // ---- DDL (L10) -------------------------------------------------------

  /** ALTER TABLE ADD COLUMN (`02.delta_lake_primer.py:241-242`,
    * `03.iceberg_primer.py:232-234`): metadata-only commit; existing
    * files read NULL for the new column. The column gets a FRESH parquet
    * field id, so it can never capture DATA from a same-named column
    * dropped earlier — but live files' name-keyed STATS would still
    * mis-prune `IS NULL` on a reused name, so reusing a freed name is
    * refused ([[LakeTable.checkFreedNames]]).
    */
  def alterAddColumn(name: String, ddlType: String): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val snap = snapshot
    require(!snap.schema.fieldNames.contains(name), s"column exists: $name")
    LakeTable.checkFreedNames(Seq(name), snap.metaData.properties)
    val id = LakeTable.nextFieldId(snap)
    val newSchema = StructType(snap.schema.fields :+
      StructField(name, DataType.fromDDL(ddlType),
        metadata = LakeTable.fieldIdMetadata(id)))
    commitSchemaChange(snap, newSchema, "ADD COLUMN",
      Map("column" -> s"$name $ddlType"))
  }

  /** ALTER TABLE RENAME COLUMN — METADATA-ONLY (the column-mapping
    * behavior the reference demos via TBLPROPERTIES,
    * `02.delta_lake_primer.py:238-240`): the field keeps its parquet
    * field id, so readers resolve existing files by id and the data
    * appears under the new name without rewriting a byte.
    *
    * Name-reuse guard: per-file min/max stats (and pre-field-id bloom
    * handling) are keyed by COLUMN NAME at write time, so handing a
    * freed name to a DIFFERENT column (a→x then b→a) would make old
    * files' stats for the previous `a` prune the new `a`'s data —
    * silent lost rows. Every rename/drop records the freed name with
    * its field id in the table properties; renaming TO a freed name is
    * allowed only for the SAME field (a rename back). ADD COLUMN /
    * mergeSchema evolution refuse freed names too — equality and range
    * atoms on a fresh (all-null-in-old-files) field are vacuously safe
    * under stale stats, but a stale `nullCount = 0` would mis-prune
    * `IS NULL` ([[LakeTable.checkFreedNames]]). A full OVERWRITE clears
    * the registry (no old files survive it).
    */
  def alterRenameColumn(oldName: String, newName: String): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val snap = snapshot
    require(snap.schema.fieldNames.contains(oldName), s"no such column: $oldName")
    require(!snap.schema.fieldNames.contains(newName), s"column exists: $newName")
    require(!snap.metaData.partitionColumns.contains(oldName),
      s"cannot rename partition column $oldName (partition values are keyed by name)")
    require(!PartitionTransforms.transforms(snap.metaData.partitionColumns)
        .exists(_.col == oldName),
      s"cannot rename partition-transform source column $oldName")
    require(!Bucketing.specOf(snap.metaData).exists(_.columns.contains(oldName)),
      s"cannot rename bucket column $oldName (file bucket ids are keyed by it)")
    val fid = LakeTable.fieldId(snap.schema(oldName)).getOrElse(-1L)
    val takenKey = LakeTable.FREED_NAME_PREFIX + newName
    snap.metaData.properties.get(takenKey).foreach { prevId =>
      require(fid >= 0 && prevId == fid.toString,
        s"cannot rename $oldName to $newName: that name previously " +
          s"belonged to a different column (field id $prevId) — per-file " +
          "stats in existing files are keyed by name and would mis-prune " +
          "the renamed column; rewrite the table or pick another name")
    }
    val newSchema = StructType(snap.schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    commitSchemaChange(snap, newSchema, "RENAME COLUMN",
      Map("from" -> oldName, "to" -> newName),
      addProps = Map(LakeTable.FREED_NAME_PREFIX + oldName -> fid.toString),
      dropProps = Set(takenKey))
  }

  /** ALTER TABLE DROP COLUMN — metadata-only; the field id is retired
    * (never reused), so re-adding a column with the same name reads NULL
    * from old files instead of resurrecting dropped data.
    */
  def alterDropColumn(name: String): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val snap = snapshot
    require(snap.schema.fieldNames.contains(name), s"no such column: $name")
    require(!snap.metaData.partitionColumns.contains(name),
      s"cannot drop partition column $name")
    require(!PartitionTransforms.transforms(snap.metaData.partitionColumns)
        .exists(_.col == name),
      s"cannot drop partition-transform source column $name")
    require(!Bucketing.specOf(snap.metaData).exists(_.columns.contains(name)),
      s"cannot drop bucket column $name (file bucket ids are keyed by it)")
    require(snap.schema.fields.length > 1, "cannot drop the last column")
    val fid = LakeTable.fieldId(snap.schema(name)).getOrElse(-1L)
    val newSchema = StructType(snap.schema.fields.filterNot(_.name == name))
    // record the freed name: a later RENAME of another column onto it
    // must be refused (stale name-keyed stats; see alterRenameColumn)
    commitSchemaChange(snap, newSchema, "DROP COLUMN", Map("column" -> name),
      addProps = Map(LakeTable.FREED_NAME_PREFIX + name -> fid.toString))
  }

  /** Iceberg-style PARTITION SPEC EVOLUTION — metadata-only (the spec
    * flexibility the reference's Iceberg primer demonstrates): future
    * writes lay out under the new spec; existing files stay exactly
    * where they are and keep their own recorded partition values. Reads
    * scan each layout generation separately and union; data skipping
    * consults each FILE's own partition values, so old-generation files
    * keep pruning on the old spec and new files on the new. Empty
    * `cols` returns the table to unpartitioned writes.
    */
  def alterPartitionSpec(cols: Seq[String]): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val snap = snapshot
    PartitionTransforms.validate(cols, snap.schema)
    val now = System.currentTimeMillis()
    commitWithRetry(snap.version, Seq(
      Action.of(snap.metaData.copy(partitionColumns = cols)),
      Action.of(CommitInfo(now, "SET PARTITION SPEC",
        Map("partitionColumns" -> cols.mkString(","))))),
      rebaseable = false)
  }

  /** Rewrite files whose layout predates the current partition spec into
    * the current one — Iceberg's `rewrite_data_files` migration path.
    * [[alterPartitionSpec]] stays metadata-only (old files keep their
    * layout and reads union per generation); `reorganize` is the
    * optional, incremental route back to ONE layout: each pass rewrites
    * only the old-generation files (current-spec files are untouched
    * metadata), so the cost tracks how much data predates the evolution,
    * not table size. Files carrying deletion vectors materialize them
    * away in the same pass ([[readFiles]] applies the bitmaps). Once no
    * mixed generations remain, SQL reads return to the stock pinned
    * parquet scan. Returns the number of rows rewritten.
    */
  def reorganize(): Long = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val snap = snapshot
    val cur = snap.metaData.partitionColumns
    val old = snap.files.filter(_.partitionValues.keySet != cur.toSet)
    if (old.isEmpty) return 0L
    val data = readFiles(snap, old)
    val bucketed = Bucketing.specOf(snap.metaData).isDefined
    // bucketed: stageFiles re-routes rows by hash bucket itself;
    // partitioned: cluster rows so each new directory gets whole tasks
    val replacement =
      if (bucketed || cur.isEmpty) data
      else data.repartition(
        PartitionTransforms.layoutColumns(cur, snap.schema): _*)
    rewrite(snap, old, replacement, "REORGANIZE",
      Map("rewrittenFiles" -> old.size.toString,
        "partitionColumns" -> cur.mkString(",")))
  }

  private def commitSchemaChange(snap: Snapshot, newSchema: StructType,
      op: String, params: Map[String, String],
      addProps: Map[String, String] = Map.empty,
      dropProps: Set[String] = Set.empty): Unit = {
    val now = System.currentTimeMillis()
    val maxId = math.max(LakeTable.maxFieldId(newSchema),
      snap.metaData.properties.get(LakeTable.MAX_COLUMN_ID_PROP)
        .map(_.toLong).getOrElse(0L))
    commitWithRetry(snap.version, Seq(
      Action.of(snap.metaData.withSchema(newSchema).copy(
        properties = snap.metaData.properties -- dropProps ++ addProps +
          (LakeTable.MAX_COLUMN_ID_PROP -> maxId.toString))),
      Action.of(CommitInfo(now, op, params))),
      rebaseable = false)
  }

  /** CHECK constraints in force ([[Constraints]]). */
  def constraints: Map[String, String] = Constraints.of(snapshot.metaData)

  /** ALTER TABLE ADD CONSTRAINT name CHECK (exprSql): validates the
    * expression against EXISTING rows first (one short-circuit probe),
    * then records it as a metadata commit. Every subsequent write —
    * Scala, SQL, streaming — enforces it per row.
    */
  def addCheckConstraint(name: String, exprSql: String): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad constraint name: $name")
    val snap = snapshot
    require(!snap.metaData.properties.contains(Constraints.propKey(name)),
      s"constraint $name already exists")
    val violating = toDF
      .where(coalesce(expr(exprSql), lit(true)) === false).limit(1).count()
    require(violating == 0L,
      s"cannot add CHECK constraint $name: existing rows violate ($exprSql)")
    val now = System.currentTimeMillis()
    commitWithRetry(snap.version, Seq(
      Action.of(snap.metaData.copy(properties =
        snap.metaData.properties + (Constraints.propKey(name) -> exprSql))),
      Action.of(CommitInfo(now, "ADD CONSTRAINT",
        Map("name" -> name, "expr" -> exprSql)))),
      rebaseable = false)
  }

  /** ALTER TABLE DROP CONSTRAINT name (metadata-only commit). */
  def dropConstraint(name: String): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val snap = snapshot
    require(snap.metaData.properties.contains(Constraints.propKey(name)),
      s"no such constraint: $name")
    val now = System.currentTimeMillis()
    commitWithRetry(snap.version, Seq(
      Action.of(snap.metaData.copy(properties =
        snap.metaData.properties - Constraints.propKey(name))),
      Action.of(CommitInfo(now, "DROP CONSTRAINT", Map("name" -> name)))),
      rebaseable = false)
  }

  /** ALTER TABLE SET TBLPROPERTIES (metadata-only commit). */
  def setProperties(props: Map[String, String]): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val snap = snapshot
    val now = System.currentTimeMillis()
    commitWithRetry(snap.version, Seq(
      Action.of(snap.metaData.copy(properties = snap.metaData.properties ++ props)),
      Action.of(CommitInfo(now, "SET TBLPROPERTIES", props))),
      rebaseable = false)
  }

  /** The shared CAS-precondition guard of [[mergeClauses]]'s
    * `expectProps` and [[compareAndSetProperties]]. */
  private def checkExpectProps(
      snap: Snapshot, expect: Map[String, String]): Unit =
    expect.foreach { case (k, v) =>
      val actual = snap.metaData.properties.get(k)
      if (!actual.contains(v))
        throw new StalePreconditionException(path, k, v, actual)
    }

  /** Compare-and-swap property update: commits `props` only if every
    * (key, value) in `expect` holds in the read snapshot — else throws
    * [[StalePreconditionException]]. The commit is non-rebaseable from
    * that same snapshot, so a concurrent commit landing in between
    * aborts with [[CommitConflictException]] instead of clobbering: the
    * two exceptions together make this a true CAS. The coordination
    * primitive multi-process incremental consumers (e.g.
    * [[IncrementalMv]]'s applied-through pointer) use to advance a
    * pointer without ever moving it backwards.
    */
  def compareAndSetProperties(
      expect: Map[String, String], props: Map[String, String]): Unit = {
    require(pinnedVersion.isEmpty, "cannot write through a time-travel handle")
    val snap = snapshot
    checkExpectProps(snap, expect)
    val now = System.currentTimeMillis()
    commitWithRetry(snap.version, Seq(
      Action.of(snap.metaData.copy(properties = snap.metaData.properties ++ props)),
      Action.of(CommitInfo(now, "SET TBLPROPERTIES", props))),
      rebaseable = false)
  }

  // ---- maintenance -----------------------------------------------------

  /** VACUUM (L7), Delta semantics (`02.delta_lake_primer.py:442`): delete
    * data files that are NOT in the current snapshot and whose log
    * removal (or, for orphans of crashed writes, file mtime) is older
    * than `retentionMs`. Time travel to versions older than the retention
    * window stops working after a vacuum — same documented tradeoff as
    * the reference. Returns deleted relative paths.
    *
    * Scale: above `spark.graft.vacuum.distributedThreshold` estimated
    * on-disk files (live + not-readded tombstones in the retained log —
    * an upper bound; default 100k), the per-FILE work — leaf-dir
    * listing, liveness anti-join, retention evaluation, and the
    * deletes — runs on
    * executors over shared storage; the driver enumerates only
    * DIRECTORIES (O(partitions)) and the staging orphans. At 100 TB a
    * vacuum therefore costs one distributed list + one join, not a
    * driver walk over 1e7 files (VacuumDistributedSpec pins both paths
    * to identical behavior).
    */
  /** @param cdcRetentionMs retention for `_change_data` files; < 0
    *   (default) ties them to `retentionMs`. Decoupling lets a pipeline
    *   keep a long change-feed window while reclaiming data files
    *   aggressively (or vice versa).
    */
  def vacuum(retentionMs: Long = 7L * 24 * 3600 * 1000,
      cdcRetentionMs: Long = -1L): Seq[String] = {
    // same guard as every mutating op: through a time-travel handle the
    // pinned snapshot's file set would be taken as "live", and every
    // file added after the pinned version — the CURRENT table data —
    // would age out by mtime and be deleted
    require(pinnedVersion.isEmpty, "cannot vacuum through a time-travel handle")
    val cdcRetention = if (cdcRetentionMs >= 0) cdcRetentionMs else retentionMs
    val snap = snapshot
    val now = System.currentTimeMillis()
    val live = snap.files.map(_.path).toSet
    val liveDvs = snap.files.flatMap(_.dvPath).toSet
    // bloom sidecars share DV lifecycle: unreferenced ones (rewritten /
    // overwritten data files) age out by mtime
    val liveSidecars = liveDvs ++ snap.files.flatMap(_.bloomPath)
    // removal timestamps from the whole log: a file removed multiple times
    // (re-add then re-remove) keeps its LATEST removal time
    val removedAt = scala.collection.mutable.HashMap[String, Long]()
    for (v <- log.listVersions;
         a <- log.readCommit(v);
         r <- a.remove) {
      removedAt(r.path) = math.max(r.deletionTimestamp, removedAt.getOrElse(r.path, 0L))
    }
    val root = Paths.get(path)
    val deleted = scala.collection.mutable.ArrayBuffer[String]()

    // orphaned staging dirs from crashed writes (their files were never
    // committed — removed wholesale past retention) are handled during
    // the driver-side directory enumeration on BOTH paths below: there
    // are O(crashed writes) of them, never O(table)
    def reapStaging(p: Path): Unit =
      if (now - Files.getLastModifiedTime(p).toMillis >= retentionMs) {
        def rm(d: Path): Unit = {
          graft.util.Fs.listDir(d).foreach { q =>
            if (Files.isDirectory(q)) rm(q)
            else { deleted += root.relativize(q).toString; Files.deleteIfExists(q) }
          }
          Files.deleteIfExists(d)
        }
        rm(p)
      }

    val threshold = spark.conf
      .getOption("spark.graft.vacuum.distributedThreshold")
      .flatMap(_.toLongOption).getOrElse(100000L)
    // gate on an UPPER BOUND of on-disk files, not the live count alone:
    // the dominant vacuum workload is a huge tombstone backlog over a
    // modest live set. live + (removed-and-not-readded) over-counts only
    // by tombstones an earlier vacuum already reclaimed from the
    // still-retained log — an over-estimate merely flips to the
    // distributed path, which stays correct
    val onDiskUpperBound = snap.files.size.toLong +
      removedAt.keysIterator.count(p => !live.contains(p))
    if (onDiskUpperBound < threshold) {
      // small table: one driver-side walk beats launching Spark jobs
      def walk(dir: Path): Unit = {
        if (!Files.isDirectory(dir)) return
        graft.util.Fs.listDir(dir).foreach { p =>
          val name = p.getFileName.toString
          if (Files.isDirectory(p)) {
            if (name.startsWith(LakeTable.STAGING_PREFIX)) reapStaging(p)
            else if (name != LakeLog.LOG_DIR) walk(p)
          } else if (name.endsWith(".parquet")) {
            val rel = root.relativize(p).toString
            if (!live.contains(rel)) {
              val retention =
                if (rel.startsWith(Cdc.CDC_DIR + "/")) cdcRetention
                else retentionMs
              // a candidate that vanished between listing and stat (a
              // racing vacuum) is already reclaimed: report it instead
              // of crashing the pass — same rule as the distributed path
              try {
                val cutoffRef =
                  removedAt.getOrElse(rel, Files.getLastModifiedTime(p).toMillis)
                if (now - cutoffRef >= retention) {
                  Files.deleteIfExists(p)
                  deleted += rel
                }
              } catch {
                case _: java.nio.file.NoSuchFileException => deleted += rel
              }
            }
          } else if (BloomIndex.isSidecarFile(name, root.relativize(p).toString)) {
            // deletion-vector / bloom-index sidecars: superseded
            // (unioned/rewritten) ones age out by mtime like any
            // unreferenced file; `_index/*.tmp` are crashed bloom builds
            // (never referenced, same mtime gate)
            val rel = root.relativize(p).toString
            if (!liveSidecars.contains(rel)) {
              try {
                if (now - Files.getLastModifiedTime(p).toMillis >= retentionMs) {
                  Files.deleteIfExists(p)
                  deleted += rel
                }
              } catch {
                case _: java.nio.file.NoSuchFileException => deleted += rel
              }
            }
          }
        }
      }
      walk(root)
    } else {
      // big table: the per-FILE work — listing leaf dirs, the liveness
      // anti-join, retention evaluation, and the deletes themselves —
      // runs ON EXECUTORS (shared storage, the same assumption every
      // write path makes). The driver only enumerates DIRECTORIES
      // (O(partitions), orders of magnitude fewer than files at 100 TB)
      // and holds the live set it already materialized in the snapshot.
      // Task retries are safe: deleteIfExists is idempotent and only
      // ACTUALLY-deleted paths are reported back.
      import spark.implicits._
      val dirs = scala.collection.mutable.ArrayBuffer[String]()
      def walkDirs(dir: Path): Unit = {
        if (!Files.isDirectory(dir)) return
        // absolutize DRIVER-side: executor tasks resolve these strings,
        // and a table opened via a relative path would otherwise resolve
        // against each executor's own working directory on a real cluster
        dirs += dir.toAbsolutePath.normalize.toString
        graft.util.Fs.listDir(dir).foreach { p =>
          if (Files.isDirectory(p)) {
            val name = p.getFileName.toString
            if (name.startsWith(LakeTable.STAGING_PREFIX)) reapStaging(p)
            else if (name != LakeLog.LOG_DIR) walkDirs(p)
          }
        }
      }
      walkDirs(root)
      val rootStr = root.toAbsolutePath.normalize.toString
      // the listing stage does NOT stat: ~all listed files are live and
      // fall out of the anti-join — paying a per-file mtime round-trip
      // here would double the metadata I/O and make a concurrently
      // vanishing file fail the job. Survivors (non-live only) stat
      // lazily in the final stage, where a missing file is simply an
      // already-reclaimed candidate.
      val listed = spark.createDataset(dirs.toSeq)
        .repartition(math.max(1,
          math.min(dirs.size, spark.sparkContext.defaultParallelism)))
        .flatMap { d =>
          val dp = java.nio.file.Paths.get(d)
          val rp = java.nio.file.Paths.get(rootStr)
          graft.util.Fs.listDir(dp).iterator
            .filter(p => !Files.isDirectory(p))
            .flatMap { p =>
              val name = p.getFileName.toString
              val rel = rp.relativize(p.toAbsolutePath.normalize).toString
              // `is_dv` marks every SIDECAR kind (DV, bloom, crashed
              // bloom tmp): mtime-gated retention, no CDC carve-out
              if (name.endsWith(".parquet")) Some((rel, false))
              else if (graft.lake.BloomIndex.isSidecarFile(name, rel))
                Some((rel, true))
              else None
            }
        }.toDF("rel", "is_dv")
      val liveDf = spark.createDataset((live ++ liveSidecars).toSeq).toDF("rel")
      val removedDf = spark.createDataset(removedAt.toSeq)
        .toDF("rel", "removed_at")
      val cdcPrefix = Cdc.CDC_DIR + "/"
      val distDeleted = listed
        .join(liveDf, Seq("rel"), "left_anti")
        .join(removedDf, Seq("rel"), "left")
        .select(col("rel"), col("is_dv"),
          col("removed_at").cast("long")).as[(String, Boolean, Option[Long])]
        .mapPartitions { it =>
          it.flatMap { case (rel, isDv, removedTs) =>
            val p = java.nio.file.Paths.get(rootStr, rel)
            try {
              val retention =
                if (!isDv && rel.startsWith(cdcPrefix)) cdcRetention
                else retentionMs
              val cutoffRef =
                if (isDv) Files.getLastModifiedTime(p).toMillis
                else removedTs.getOrElse(Files.getLastModifiedTime(p).toMillis)
              if (now - cutoffRef >= retention) {
                // report the CANDIDATE, not deleteIfExists' result —
                // a retried/speculative task would otherwise drop files
                // its failed twin already removed, and the driver walk
                // reports attempted deletes the same way
                Files.deleteIfExists(p)
                Some(rel)
              } else None
            } catch {
              // a listed, non-live candidate that vanished before the
              // stat IS reclaimed — either this task's killed twin or a
              // racing vacuum removed it. Reporting keeps mtime-gated
              // candidates (DVs, orphans) retry-proof too; the one
              // over-claim is a concurrent external vacuum's delete
              // being attributed to this call, which the driver walk
              // resolves identically
              case _: java.nio.file.NoSuchFileException => Some(rel)
            }
          }
        }.collect()
      deleted ++= distDeleted
    }
    deleted.toSeq
  }

  /** Iceberg's `expire_snapshots` / Delta's log retention: truncate the
    * commit log so table HISTORY stops growing with table age — at 100 TB
    * a busy table accretes millions of commit files and the checkpoint
    * alone should carry state. Keeps every version committed within
    * `olderThanMs` AND the newest `retainLast` versions, whichever
    * retains more; a checkpoint is materialized at the horizon BEFORE any
    * deletion, so every retained version still resolves and time-travels.
    * Expired versions stop being readable (time travel / CDC / streaming
    * starts below the horizon raise, naming the earliest retained
    * version). Data files are untouched — that's [[vacuum]]'s job, which
    * stays correct after expiry (it falls back to file mtimes for removal
    * ages once the removing commits are gone). Like VACUUM this is a
    * maintenance op, not a commit. Returns the number of expired commits.
    */
  def expireSnapshots(olderThanMs: Long = 7L * 24 * 3600 * 1000,
      retainLast: Int = 30): Long = {
    require(pinnedVersion.isEmpty, "cannot expire through a time-travel handle")
    require(olderThanMs >= 0, "olderThanMs must be >= 0")
    require(retainLast >= 1, "retainLast must be >= 1")
    val last = log.latestVersion.getOrElse(return 0L)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val first = log.firstAvailableVersion.getOrElse(return 0L)
    // oldest version to KEEP: min of the count floor and the age floor
    val byCount = math.max(last - retainLast + 1, first)
    val byAge = // smallest version committed at/after the cutoff
      try log.versionAtTimestamp(cutoff - 1) + 1
      catch { case _: IllegalArgumentException => first } // all commits newer
    log.expireBefore(math.min(byCount, byAge))
  }
}

object LakeTable {

  /** Commits that reorganize files without changing the table's rows —
    * the change data feed emits nothing for them and table streams skip
    * them. "BLOOM INDEX" moves no rows at all (it re-adds live AddFiles
    * with a sidecar pointer attached).
    *
    * TRUST INVARIANT: the operation name in CommitInfo is authoritative
    * — a commit labelled with one of these ops MUST preserve the table's
    * rows exactly. This is the same contract as Delta's writer-set
    * `dataChange = false` flag: the streaming source and the change feed
    * act on the label alone (RemoveFile carries no row counts, so a
    * cheap structural cross-check cannot exist), and a writer that
    * labels a data-changing commit as REORG corrupts downstream streams
    * exactly as a lying `dataChange` flag does in Delta. All of this
    * engine's writers uphold it; external writers of this log format
    * must too. "PURGE" ([[LakeTable.purgeStale]]) extends the invariant
    * from "rows exactly" to "observable rows exactly": it drops rows its
    * caller declares semantically dead (stale index postings for
    * deleted source ids, DV-masked rows) — Delta's
    * `REORG ... APPLY (PURGE)` makes the same trade under the same
    * dataChange=false label. */
  val REORG_OPS =
    Set("COMPACT", "ZORDER BY", "HILBERT BY", "OPTIMIZE BY", "REBUCKET",
      "BLOOM INDEX", "PURGE")

  /** Commits whose changes can only come from recorded `_change_data`
    * (derived add/remove replay would be wrong: a rewritten file holds
    * both changed and carried-over rows). */
  val DML_OPS = Set("DELETE", "UPDATE", "MERGE")

  /** Staging dirs under the table root use this prefix; vacuum treats
    * orphaned ones (crashed writes) as garbage past retention.
    */
  val STAGING_PREFIX = "_staging-"

  /** Table-property prefix recording names freed by RENAME/DROP COLUMN
    * with the field id that owned them — the name-reuse guard's memory
    * (see [[LakeTable.alterRenameColumn]]). */
  val FREED_NAME_PREFIX = "graft.schema.freedName."

  /** Refuse INTRODUCING a column name that previously belonged to a
    * different (dropped / renamed-away) field while files from that era
    * may still be live: per-file stats are keyed by NAME, so the old
    * column's `nullCount = 0` would prove `newCol IS NULL` empty on
    * files whose rows are ALL null for the new field id — silently lost
    * rows (equality/range atoms are vacuously safe on such files, the
    * null atoms are not). A full OVERWRITE removes every old file and
    * clears the registry, after which the name is reusable. */
  private[lake] def checkFreedNames(
      names: Iterable[String], props: Map[String, String]): Unit =
    names.foreach { n =>
      require(!props.contains(FREED_NAME_PREFIX + n),
        s"cannot add column $n: the name previously belonged to a " +
          "dropped/renamed column and live files still carry its " +
          s"name-keyed stats (a stale nullCount would mis-prune `$n IS " +
          "NULL`); overwrite the table or choose another name")
    }

  /** StructField metadata key Spark's parquet writer/reader use for
    * field-id-based column resolution (the Iceberg mechanism): with ids
    * in play, RENAME/DROP are metadata-only and dropped ids are retired.
    */
  val FIELD_ID_KEY = "parquet.field.id"

  /** Table property tracking the highest field id ever assigned, so a
    * dropped column's id is never reused. */
  val MAX_COLUMN_ID_PROP = "graft.maxColumnId"

  /** Auto-compaction table properties ([[LakeTable.maybeAutoCompact]]). */
  val AUTO_COMPACT_PROP = "graft.autoCompact.enabled"
  val AUTO_COMPACT_MIN_FILES_PROP = "graft.autoCompact.minFiles"
  val AUTO_COMPACT_TARGET_PROP = "graft.autoCompact.targetFileBytes"

  private[lake] def fieldIdMetadata(id: Long): Metadata =
    new MetadataBuilder().putLong(FIELD_ID_KEY, id).build()

  private[lake] def fieldId(f: StructField): Option[Long] =
    if (f.metadata.contains(FIELD_ID_KEY)) Some(f.metadata.getLong(FIELD_ID_KEY))
    else None

  private[lake] def maxFieldId(schema: StructType): Long =
    schema.fields.flatMap(fieldId).maxOption.getOrElse(0L)

  private[lake] def nextFieldId(snap: Snapshot): Long =
    math.max(maxFieldId(snap.schema),
      snap.metaData.properties.get(MAX_COLUMN_ID_PROP)
        .map(_.toLong).getOrElse(0L)) + 1

  /** Assign sequential field ids to fields lacking one. */
  private[lake] def assignFieldIds(schema: StructType): StructType = {
    var next = maxFieldId(schema) + 1
    StructType(schema.fields.map { f =>
      if (fieldId(f).isDefined) f
      else {
        val withId = f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putLong(FIELD_ID_KEY, next).build())
        next += 1
        withId
      }
    })
  }

  /** Field-id reads: resolve parquet columns by id where ids exist
    * (renamed/dropped columns), fall back to names for pre-mapping files.
    * Session-wide, idempotent, no effect on schemas without ids.
    */
  private[lake] def enableFieldIdReads(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
  }

  /** CREATE TABLE without data (the DSv2 catalog's `CREATE TABLE` /
    * CTAS-first-half): version 0 is metadata-only.
    */
  def createEmpty(
      path: String,
      schema: StructType,
      partitionBy: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty): Unit = {
    require(!isLakeTable(path), s"lake table already exists: $path")
    PartitionTransforms.validate(partitionBy, schema)
    Files.createDirectories(Paths.get(path))
    val now = System.currentTimeMillis()
    val withIds = assignFieldIds(schema)
    val meta = MetaData(UUID.randomUUID().toString, withIds.toDDL, partitionBy,
      properties + (MAX_COLUMN_ID_PROP -> maxFieldId(withIds).toString), now,
      schemaJson = Some(withIds.json))
    new LakeLog(path).write(0L, Seq(Action.of(meta),
      Action.of(CommitInfo(now, "CREATE TABLE",
        Map("partitionBy" -> partitionBy.mkString(","))))))
  }

  def isLakeTable(path: String): Boolean = new LakeLog(path).exists

  def forPath(spark: SparkSession, path: String): LakeTable = {
    require(isLakeTable(path), s"not a lake table: $path")
    new LakeTable(spark, path, None)
  }

  /** CREATE TABLE AS SELECT (K4-ish). mode: "error" | "overwrite".
    * `bucketBy`/`numBuckets`: hash-bucketed layout ([[Bucketing]]) —
    * equi-joins between tables co-bucketed on the same columns+count run
    * shuffle-free via storage-partitioned joins.
    */
  def create(
      spark: SparkSession,
      path: String,
      df: DataFrame,
      partitionBy: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      mode: String = "error",
      bucketBy: Seq[String] = Seq.empty,
      numBuckets: Int = 0): LakeTable = {
    val existed = isLakeTable(path)
    if (existed && mode == "error")
      throw new IllegalStateException(s"lake table already exists: $path")
    require(bucketBy.isEmpty == (numBuckets <= 0),
      "bucketBy and numBuckets must be set together")
    if (existed) {
      val t = forPath(spark, path)
      if (bucketBy.nonEmpty) {
        val cur = Bucketing.specOf(t.snapshot.metaData)
        require(cur.contains(Bucketing.Spec(bucketBy, numBuckets)),
          s"existing table at $path has bucketing $cur, not " +
            s"(${bucketBy.mkString(",")} x $numBuckets) — use rebucket to change it")
      }
      t.overwrite(df)
      // the caller asked for these properties on the table it gets back —
      // silently dropping them when the path happened to pre-exist left
      // e.g. a re-curated corpus without its change-data-feed flag (the
      // overwrite itself preserves the OLD properties by design). Only
      // the requested keys are touched; txn state survives as always.
      if (properties.nonEmpty) {
        val cur = t.snapshot.metaData.properties
        val changed = properties.filter { case (k, v) => !cur.get(k).contains(v) }
        if (changed.nonEmpty) t.setProperties(changed)
      }
      return t
    }
    val schema = assignFieldIds(df.schema)
    PartitionTransforms.validate(partitionBy, schema)
    val bad = bucketBy.filterNot(schema.fieldNames.contains)
    require(bad.isEmpty, s"bucket column(s) not in schema: ${bad.mkString(",")}")
    Files.createDirectories(Paths.get(path))
    val now = System.currentTimeMillis()
    val bucketProps =
      if (bucketBy.isEmpty) Map.empty[String, String]
      else Bucketing.props(bucketBy, numBuckets)
    val meta = MetaData(UUID.randomUUID().toString, schema.toDDL, partitionBy,
      properties ++ bucketProps + (MAX_COLUMN_ID_PROP -> maxFieldId(schema).toString),
      now, schemaJson = Some(schema.json))
    val adds = stageFiles(spark, path, df, schema, partitionBy,
      if (bucketBy.isEmpty) None else Some(Bucketing.Spec(bucketBy, numBuckets)),
      props = meta.properties)
    val rows = adds.flatMap(_.stats.map(_.numRecords)).sum
    val actions = Action.of(meta) +: adds.map(Action.of) :+
      Action.of(CommitInfo(now, "CREATE", Map("partitionBy" -> partitionBy.mkString(",")),
        numAddedFiles = adds.size.toLong, numOutputRows = rows))
    new LakeLog(path).write(0L, actions)
    forPath(spark, path)
  }

  /** CONVERT TO DELTA analog (L1): adopt an existing parquet directory
    * in place — synthesize commit 0 listing its files. A hive-partitioned
    * layout REQUIRES `partitionSpec` (DDL like "module10 int"), mirroring
    * the reference's convertToDelta error (`01.parquet_primer.py:348-369`).
    */
  def convert(
      spark: SparkSession,
      path: String,
      partitionSpec: Option[String] = None): LakeTable = {
    require(!isLakeTable(path), s"already a lake table: $path")
    val root = Paths.get(path)
    require(Files.isDirectory(root), s"no such directory: $path")

    val dataFiles = scala.collection.mutable.ArrayBuffer[Path]()
    def walk(dir: Path): Unit =
      graft.util.Fs.listDir(dir).foreach { p =>
        if (Files.isDirectory(p)) walk(p)
        else if (p.getFileName.toString.endsWith(".parquet")) dataFiles += p
      }
    walk(root)
    require(dataFiles.nonEmpty, s"no parquet files under $path")

    val partitioned = dataFiles.exists(p => root.relativize(p).toString.contains("="))
    require(!partitioned || partitionSpec.isDefined,
      s"$path has hive partition directories; convert requires a partition " +
        "spec (e.g. \"module10 int\") — matching the reference's " +
        "convertToDelta behavior")
    val partSchema = partitionSpec
      .map(s => DataType.fromDDL(s).asInstanceOf[StructType])
      .getOrElse(new StructType())

    val reader = spark.read.option("basePath", path)
    val sample = reader.parquet(dataFiles.map(_.toString).toSeq: _*)
    val fullSchema = StructType(
      sample.schema.filterNot(f => partSchema.fieldNames.contains(f.name)) ++ partSchema)

    val adds = dataFiles.map { p =>
      val rel = root.relativize(p).toString
      AddFile(rel, parsePartitionValues(rel), Files.size(p),
        Files.getLastModifiedTime(p).toMillis, None)
    }
    val statsMap = Stats.collectFromFooters(spark,
      StructType(fullSchema.filterNot(f => partSchema.fieldNames.contains(f.name))),
      dataFiles.map(_.toString).toSeq)
    val withStats = adds.map(a =>
      a.copy(stats = statsMap.get(Paths.get(path, a.path).toAbsolutePath.normalize.toString)))

    val now = System.currentTimeMillis()
    val meta = MetaData(UUID.randomUUID().toString, fullSchema.toDDL,
      partSchema.fieldNames.toSeq, Map("converted" -> "true"), now)
    val actions = Action.of(meta) +: withStats.map(Action.of).toSeq :+
      Action.of(CommitInfo(now, "CONVERT", Map.empty,
        numAddedFiles = adds.size.toLong))
    new LakeLog(path).write(0L, actions)
    forPath(spark, path)
  }

  // ---- helpers ---------------------------------------------------------

  private[lake] def parsePartitionValues(relPath: String): Map[String, String] = {
    val segs = relPath.split('/').dropRight(1)
    segs.flatMap { s =>
      val i = s.indexOf('=')
      if (i <= 0) None
      else {
        val k = s.substring(0, i)
        // the EXACT inverse of what the staging writer used (Hive
        // escapePathName): percent-decode only. URLDecoder additionally
        // maps '+' to space — but Hive leaves '+' literal in dir names,
        // so a partition value like "UTC+8" would round-trip to "UTC 8"
        // and the partition-exact compare would skip its files forever.
        val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(s.substring(i + 1))
        Some(k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null else v))
      }
    }.toMap
  }

  /** Schema enforcement / evolution (§1.2): align `df` to the table
    * schema. Missing table columns → null; extra df columns → error
    * unless mergeSchema (then the schema evolves, new cols appended);
    * type mismatches cast when Spark allows, else error.
    */
  private[lake] def align(
      df: DataFrame,
      tableSchema: StructType,
      partitionCols: Seq[String],
      mergeSchema: Boolean,
      nextId: Long = 0L): (DataFrame, StructType) = {
    val tNames = tableSchema.fieldNames.toSet
    val extraRaw = df.schema.fields.filterNot(f => tNames.contains(f.name))
    if (extraRaw.nonEmpty && !mergeSchema)
      throw new IllegalArgumentException(
        s"schema mismatch: new column(s) ${extraRaw.map(_.name).mkString(",")} " +
          "not in table schema (use mergeSchema=true to evolve)")
    // evolved columns get fresh field ids continuing the table's counter
    val extra = extraRaw.zipWithIndex.map { case (f, i) =>
      if (nextId <= 0) f
      else f.copy(metadata = new MetadataBuilder()
        .withMetadata(f.metadata).putLong(FIELD_ID_KEY, nextId + i).build())
    }
    val newSchema = StructType(tableSchema.fields ++ extra)
    val dfNames = df.schema.fieldNames.toSet
    val aligned = df.select(newSchema.fields.map { f =>
      if (dfNames.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    (aligned, newSchema)
  }

  /** Stage `df` as parquet files under the table dir, then move them into
    * their final (partitioned) locations. Executors write the data; the
    * moves are same-filesystem renames. Returns AddFiles with stats.
    */
  private[lake] def stageFiles(
      spark: SparkSession,
      tablePath: String,
      df0: DataFrame,
      schema: StructType,
      partitionCols: Seq[String],
      bucketSpec: Option[Bucketing.Spec] = None,
      constraints: Map[String, String] = Map.empty,
      props: Map[String, String] = Map.empty): Seq[AddFile] =
    stageFilesAndChanges(spark, tablePath, df0, schema, partitionCols,
      bucketSpec, constraints, props, withChanges = false)._1

  /** [[stageFiles]] that can also stage change rows in the SAME write
    * (Delta's `__is_cdc` routing). With `withChanges`, `df0` carries
    * `_change_type` and the hidden [[Cdc.KIND_COL]] besides the table
    * columns; the kind column leads the partitionBy order, files of its
    * `true` partition move to `_change_data/` and return as CdcFiles
    * (zero-row parts dropped, as [[Cdc.stage]] does), the rest return
    * as AddFiles. Data files then carry an all-null `_change_type`,
    * which every scan ignores: each reads with the explicit table
    * schema. Only for layouts whose dirs strip no table column: no
    * identity partitions, no buckets.
    */
  private[lake] def stageFilesAndChanges(
      spark: SparkSession,
      tablePath: String,
      df0: DataFrame,
      schema: StructType,
      partitionCols: Seq[String],
      bucketSpec: Option[Bucketing.Spec],
      constraints: Map[String, String],
      props: Map[String, String],
      withChanges: Boolean): (Seq[AddFile], Seq[CdcFile]) = {
    // CHECK enforcement rides the write plan itself — new-row paths pass
    // the table's constraints; pure reorganizations (compact, rebucket,
    // survivor rewrites) skip the re-validation of already-valid rows
    val df = Constraints.enforce(df0, constraints)
    val stagingName = STAGING_PREFIX + UUID.randomUUID().toString
    val staging = Paths.get(tablePath, stagingName)
    // INT64 micros instead of legacy INT96: footer min/max stats become
    // usable for timestamp skipping (INT96 emits none)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // re-attach the table schema's field metadata (parquet field ids):
    // computed columns in DML rewrites lose it, and files MUST carry ids
    // for rename/drop to stay metadata-only
    val byName = schema.fields.map(f => f.name -> f).toMap
    val df2 = df.select(df.schema.fieldNames.map { n =>
      byName.get(n).filter(_.metadata != Metadata.empty) match {
        case Some(f) => col(n).as(n, f.metadata)
        case None => col(n)
      }
    }.toSeq: _*)
    // hidden partitioning: transform entries materialize their synthetic
    // __pt_ directory column (the source column stays in the data file);
    // identity entries elide as plain hive dirs
    val pFields = PartitionTransforms.parseAll(partitionCols)
    val layoutCols = pFields.map {
      case PartitionTransforms.Identity(c) => c
      case t: PartitionTransforms.Transform => t.dirName
    }
    // (change rows get a null dir value: they all leave for the flat
    // `_change_data/`, one file per write task)
    val df2t = pFields.foldLeft(df2) {
      case (d, t: PartitionTransforms.Transform) =>
        val dir = PartitionTransforms.column(t, schema(t.col).dataType)
        d.withColumn(t.dirName,
          if (withChanges) when(!col(Cdc.KIND_COL), dir) else dir)
      case (d, _) => d
    }
    // bucketed layout: route rows into `__bucket=K/` staging dirs by the
    // canonical bucket hash; each resulting file holds exactly one bucket
    val (df3, writeCols) = bucketSpec match {
      case Some(Bucketing.Spec(bcols, n)) =>
        (df2t.withColumn(Bucketing.BUCKET_DIR_COL,
            Bucketing.bucketId(bcols.map(col), n))
          .repartition(n, col(Bucketing.BUCKET_DIR_COL)),
          layoutCols :+ Bucketing.BUCKET_DIR_COL)
      case None => (df2t, layoutCols)
    }
    require(!withChanges || bucketSpec.isEmpty &&
      pFields.forall(_.isInstanceOf[PartitionTransforms.Transform]),
      "change rows cannot share a write with identity partitions or buckets")
    val routedCols = if (withChanges) Cdc.KIND_COL +: writeCols else writeCols
    // AQE only ever improves exchanges it may re-plan: join/aggregate/
    // window shuffles (skew split, strategy switch) and
    // partition-count-free repartitions (coalescing). A staging plan
    // with none of those — scan/filter/union routed through an explicit
    // repartition, the engine's commonest write — gains nothing, yet
    // AQE still materializes each query stage as its own job with a
    // re-optimize + re-codegen between (measured ~0.15 s per small
    // commit, ~40% of the staged-write cost at bench scale). Disable it
    // for exactly those plans. The thread-local SQLConf override is NOT
    // enough for a write COMMAND (SQLExecution.withNewExecutionId
    // re-propagates the session conf over it before the command plan is
    // prepared — verified on Spark 4.1: the executed plan stayed
    // AdaptiveSparkPlanExec); rebinding the frame to a fresh AQE-off
    // session clone is (Bridge.rebindAdaptiveDisabled, ~3 ms).
    val aqeCanHelp = {
      import org.apache.spark.sql.catalyst.plans.logical._
      val analyzed = df3.queryExecution.analyzed
      analyzed.collectFirst {
        case j: Join => j
        case a: Aggregate => a
        case w: Window => w
        case d: Deduplicate => d
        case s: SetOperation => s
        case s: Sort if s.global => s
        case r: RepartitionByExpression if r.optNumPartitions.isEmpty => r
      }.isDefined ||
        analyzed.exists(_.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression])))
    }
    val dataSchema = StructType(schema.filterNot(f => partitionCols.contains(f.name)))
    // Fused bloom build (r14): when the table is bloom-indexed and the
    // layout is flat (no hive dirs, no bucketing, no maxRecordsPerFile
    // splits — so write-stage partition N produces exactly the
    // part-0000N file), the per-file filters' hashes are collected as
    // an OBSERVED metric of this same write job, and the post-write
    // bloom step writes sidecars with no second read and no job of its
    // own. Oversized tasks overflow their hash buffer and fall back to
    // the classic read-side build per file.
    val bloomFields = BloomIndex.indexedFields(props, dataSchema)
    val fuseBloom = bloomFields.nonEmpty && routedCols.isEmpty &&
      bucketSpec.isEmpty && spark.sessionState.conf.maxRecordsPerFile <= 0 &&
      !spark.conf.getOption("spark.graft.bloom.fused").exists(
        _.trim.equalsIgnoreCase("false"))
    val bloomObs =
      if (fuseBloom) Some(new org.apache.spark.sql.Observation()) else None
    val writeDf0 =
      if (aqeCanHelp) df3
      else org.apache.spark.sql.graft.Bridge.rebindAdaptiveDisabled(df3)
    val writeDf = bloomObs match {
      case Some(o) =>
        val cap = spark.conf.getOption("spark.graft.bloom.fusedMaxHashesPerCol")
          .flatMap(_.toIntOption).filter(_ > 0)
          .getOrElse(FusedBloomAgg.DEFAULT_CAP)
        writeDf0.observe(o, org.apache.spark.sql.graft.FusedBloomHashAgg
          .metric(BloomIndex.fusedHashColumns(bloomFields), cap).as("__bloom"))
      case None => writeDf0
    }
    val writer = writeDf.write.mode("overwrite")
    graft.util.Prof(s"stage.write $tablePath") {
      (if (routedCols.nonEmpty) writer.partitionBy(routedCols: _*) else writer)
        .parquet(staging.toString)
    }

    val root = Paths.get(tablePath)
    val moved = scala.collection.mutable.ArrayBuffer[(String, Path)]()
    val changed = scala.collection.mutable.ArrayBuffer[Path]()
    def walk(dir: Path): Unit =
      graft.util.Fs.listDir(dir).foreach { p =>
        if (Files.isDirectory(p)) walk(p)
        else if (p.getFileName.toString.endsWith(".parquet")) {
          val staged = staging.relativize(p).toString
          if (withChanges && staged.startsWith(s"${Cdc.KIND_COL}=true/")) {
            // `cdc-` names (Delta's) keep them apart from the same job's
            // data parts, which share the task's part-file names
            val dest = root.resolve(Cdc.CDC_DIR)
              .resolve(p.getFileName.toString.replaceFirst("^part-", "cdc-"))
            Files.createDirectories(dest.getParent)
            Files.move(p, dest)
            changed += dest
          } else {
            val rel =
              if (withChanges) staged.substring(staged.indexOf('/') + 1) else staged
            val dest = root.resolve(rel)
            Files.createDirectories(dest.getParent)
            Files.move(p, dest)
            moved += rel -> dest
          }
        }
      }
    walk(staging)
    // clear staging remnants (_SUCCESS etc.)
    def rmdir(dir: Path): Unit = {
      graft.util.Fs.listDir(dir).foreach { p =>
        if (Files.isDirectory(p)) rmdir(p) else Files.deleteIfExists(p)
      }
      Files.deleteIfExists(dir)
    }
    rmdir(staging)

    if (moved.isEmpty && changed.isEmpty) {
      // drain the observation so its listener unregisters
      bloomObs.foreach(o => try o.get catch {
        case scala.util.control.NonFatal(_) => ()
      })
      return (Seq.empty, Seq.empty)
    }
    val statsMap = graft.util.Prof(s"stage.stats ${moved.size + changed.size}f") {
      Stats.collectFromFooters(spark, dataSchema,
        (moved.map(_._2) ++ changed).map(_.toString).toSeq)
    }
    def statsOf(abs: Path) = statsMap.get(abs.toAbsolutePath.normalize.toString)
    val cdcs = changed.flatMap { p =>
      if (statsOf(p).exists(_.numRecords > 0))
        Some(CdcFile(s"${Cdc.CDC_DIR}/${p.getFileName}", Files.size(p)))
      else { Files.deleteIfExists(p); None }
    }.toSeq
    val adds = moved.map { case (rel, abs) =>
      val pv = parsePartitionValues(rel)
      AddFile(rel, pv - Bucketing.BUCKET_DIR_COL, Files.size(abs),
        Files.getLastModifiedTime(abs).toMillis, statsOf(abs),
        bucket = pv.get(Bucketing.BUCKET_DIR_COL).flatMap(_.toIntOption))
    }.toSeq
    // per-file bloom index sidecars (no-op unless graft.bloom.columns);
    // rides AFTER stats so sizing uses exact per-file row counts, and
    // best-effort — a failed index build never fails the data write
    // (the fused build never runs beside change rows: the kind column
    // makes the write partitioned)
    val indexed = if (adds.isEmpty) adds else graft.util.Prof(s"stage.bloom ${adds.size}f") {
      bloomObs match {
        case Some(o) =>
          try BloomIndex.attachFused(spark, tablePath, dataSchema, adds, props,
            o.get("__bloom").asInstanceOf[Array[Byte]])
          catch {
            case scala.util.control.NonFatal(e) =>
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"fused bloom build failed for $tablePath, " +
                  s"falling back to the read-side build: $e")
              BloomIndex.attachBestEffort(spark, tablePath, dataSchema, adds, props)
          }
        case None =>
          BloomIndex.attachBestEffort(spark, tablePath, dataSchema, adds, props)
      }
    }
    (indexed, cdcs)
  }
}
