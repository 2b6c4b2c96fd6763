package graft.lake

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions.{col, input_file_name, when, xxhash64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Value-level absence oracle consulted by the skipping evaluator
  * ([[Stats.mightMatch]]) on equality atoms. `definitelyAbsent` returning
  * true asserts the file provably contains NO row with `name = value`
  * (value non-null) — the one direction a Bloom filter can prove.
  * Serializable: the big-log candidate resolution evaluates it on
  * executors ([[DistributedState.pruneLive]]).
  */
trait BloomProbe extends Serializable {
  /** `field` is the CURRENT schema's resolved field (name, type, and
    * parquet field-id metadata) — the probe matches all three against
    * what the sidecar recorded at build time. */
  def definitelyAbsent(f: AddFile, field: StructField, value: Any): Boolean

  /** Batched probe over a FIXED pre-hashed value list (the IN-list fast
    * path in [[Stats]]): the caller registers the values once per query
    * and then asks per file, so the per-(file, value) cost collapses to
    * a candidate-bitset bit test instead of re-deriving type conversion
    * and hash 10⁸ times. null = batching unsupported here — the caller
    * probes per value via [[definitelyAbsent]] (identical verdicts). */
  private[lake] def batched(field: StructField, hashes: Array[Long],
      hashable: Array[Boolean]): BloomBatch = null
}

/** Query-scoped batched equality probe for one (column, value-list) —
  * see [[BloomProbe.batched]]. */
private[lake] trait BloomBatch {
  /** A per-file lazy view over the registered values — resolved (slot,
    * sections, candidate bitsets) once per file, after which each
    * `absent(i)` is a bit test; null when this FILE cannot be served
    * batched (not covered by a consolidated index, structural gap): the
    * caller falls back to per-value probes for it. Lazy so the caller's
    * window/shortcut logic only pays for the values it actually needs. */
  def fileProbe(f: AddFile): BloomBatchFile
}

private[lake] trait BloomBatchFile {
  /** Value i provably absent from the file this probe was resolved
    * for. Verdicts are bit-identical to `definitelyAbsent` with the
    * same value. */
  def absent(i: Int): Boolean
}

object BloomProbe {
  /** Never proves absence — the zero-cost default for tables without an
    * index and for callers that only need min/max skipping. */
  val none: BloomProbe = new BloomProbe {
    override def definitelyAbsent(f: AddFile, field: StructField, value: Any) = false
  }
}

/** Per-file Bloom-filter index for point-lookup file skipping (Delta's
  * bloom filter index; reference workload: the DELETE/UPDATE/MERGE-by-key
  * DML on `loan_by_state_delta` at
  * `notebooks/01.formatos_ficheros/02.delta_lake_primer.py:213-320`).
  * Min/max stats cannot prune an
  * equality on a high-cardinality UNCLUSTERED key — every file's range
  * spans the domain, so a point DELETE into a 100 TB table scans every
  * file. An opt-in per-file bloom turns that into O(files actually
  * holding the key): each write task builds a filter per (file it
  * wrote, indexed column) from the rows it wrote and stores it as an
  * immutable sidecar under `_index/` ([[LakeWriteStats]]); at prune
  * time equality/IN atoms consult
  * `mightContainLong(xxhash64(value))` and skip files that provably lack
  * the key. False positives only cost an extra scan — never correctness.
  *
  * Scale shape: a task buffers at most [[LakeWriteStats.HASH_CAP]]
  * hashes per column and file; a larger file, and any file whose
  * sidecar write failed, takes the read-side build [[attach]] — one
  * narrow (file, hash…) shuffle over those files only. Sidecars are read
  * lazily, cached JVM-wide, and evaluated on executors on the big-log
  * path, so a million-file table never funnels index bytes through the
  * driver. Sidecars share the data files' lifecycle: compaction/rewrite
  * produces new files with new sidecars, and vacuum reaps sidecars whose
  * data file is gone (mtime-gated, like DV sidecars).
  *
  * Hash parity between build and probe is delegated to ONE source of
  * truth — Catalyst's `XxHash64` expression typed with the COLUMN's data
  * type on both sides (the builds hash `xxhash64(col)`; the probe
  * evaluates `XxHash64(Literal(value, columnType))` after an exact value
  * conversion). A literal that cannot be converted EXACTLY to the column
  * type simply skips bloom pruning (min/max still applies).
  *
  * Table properties:
  *   - `graft.bloom.columns`: comma-separated data columns to index
  *     (names not [yet] in the schema, partition columns, and unsupported
  *     types are ignored — a column added later by schema evolution
  *     starts indexing from the write that sees it).
  *   - `graft.bloom.fpp`: false-positive rate (default 0.03).
  *   - `graft.bloom.maxItems`: cap on a file's expected-item sizing
  *     (default 4,000,000 — ~3.5 MB per column sidecar at 0.03).
  */
object BloomIndex {

  /** Vacuum's sidecar classification, shared by the local-walk and the
    * distributed-listing branches so a new sidecar kind (or a tmp-rule
    * fix) can never be added to one and drift from the other: DV
    * sidecars, bloom sidecars, and crashed bloom-build tmp files all
    * follow the mtime-gated unreferenced-file rule. */
  private[lake] def isSidecarFile(name: String, rel: String): Boolean =
    name.endsWith(".dv") || name.endsWith(SIDECAR_SUFFIX) ||
      (name.endsWith(".tmp") && rel.startsWith(INDEX_DIR + "/"))

  val COLS_PROP = "graft.bloom.columns"
  val FPP_PROP = "graft.bloom.fpp"
  val MAX_ITEMS_PROP = "graft.bloom.maxItems"
  val INDEX_DIR = "_index"
  val SIDECAR_SUFFIX = ".bloom"

  private val MAGIC = 0x47424c4d // "GBLM"
  private val VERSION = 1

  // Encoders for the build job's two stages, hoisted: ExpressionEncoder
  // derivation (reflection + serializer resolution) cost ~10-20 ms per
  // attach() call when constructed inline — pure per-commit driver
  // overhead on small commits.
  private lazy val partialEnc = org.apache.spark.sql.Encoders.tuple(
    org.apache.spark.sql.Encoders.STRING,
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Array[Byte]]]())
  private lazy val pairEnc = org.apache.spark.sql.Encoders.tuple(
    org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.STRING)

  /** Equality-on-these-types is meaningful and XxHash64-stable; float /
    * double equality predicates are a smell, booleans prune nothing. */
  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         DateType | TimestampType => true
    case _: DecimalType => true
    case _ => false
  }

  /** The schema fields an index build should cover: configured, present
    * as DATA columns (partition values prune exactly already), supported
    * type. */
  private[lake] def indexedFields(
      props: Map[String, String], dataSchema: StructType): Seq[StructField] = {
    val wanted = props.getOrElse(COLS_PROP, "").split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq
    // ignore-case match (Spark's default resolution); the sidecar keys
    // on the SCHEMA's canonical spelling, which is also what the probe's
    // resolved attribute names carry
    wanted.flatMap(n => dataSchema.fields.find(_.name.equalsIgnoreCase(n)))
      .distinct
      .filter(f => supported(f.dataType))
  }

  /** Deterministic sidecar location for a data file UNDER A GIVEN index
    * configuration: retries of the build task overwrite the same path
    * (atomic move) with bit-identical content, and same-named part files
    * from different partition dirs cannot collide thanks to the hash
    * prefix. The digest covers the indexed column set (names, types,
    * field ids) and the sizing knobs, so CHANGING the configuration
    * moves every sidecar to a new path — the JVM-wide content cache
    * stays sound without invalidation (a path never serves two
    * different filter sets), a force rebuild after a config change
    * produces pointer changes the commit records, and the superseded
    * sidecars become vacuum-reapable orphans. */
  private[lake] def sidecarPathFor(
      dataRel: String, colMeta: Seq[(String, String, Long)],
      fpp: Double, maxItems: Long): String = {
    val configKey = colMeta.map { case (n, t, id) => s"$n:$t:$id" }
      .mkString(",") + s"|$fpp|$maxItems"
    // full 16-byte digest: a truncated prefix would let two same-named
    // data files collide onto one sidecar path, and the later build's
    // overwrite would make the other file's probe unsoundly prove keys
    // absent — the path must be injective in (file, config)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dataRel|$configKey".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val fileName = dataRel.substring(dataRel.lastIndexOf('/') + 1)
    s"$INDEX_DIR/$digest-$fileName$SIDECAR_SUFFIX"
  }

  /** A table's index configuration as its sidecars record it: the
    * indexed fields, each with its (name, type, parquet field id) — the
    * probe requires all three to match the CURRENT schema, so a sidecar
    * built for a different column that later took this name (rename
    * churn) proves nothing — and the sizing knobs. */
  private[lake] final case class Layout(fields: Seq[StructField], fpp: Double, maxItems: Long) {
    val colMeta: Seq[(String, String, Long)] =
      fields.map(f => (f.name, f.dataType.catalogString, LakeTable.fieldId(f).getOrElse(-1L)))
    def sidecarFor(dataRel: String): String = sidecarPathFor(dataRel, colMeta, fpp, maxItems)
    /** An empty filter for a file of `rows` rows. */
    def filter(rows: Long): BloomFilter =
      BloomFilter.create(math.min(maxItems, math.max(64L, rows)), fpp)
  }

  /** The table's [[Layout]]; None when it indexes no column. */
  private[lake] def layoutOf(props: Map[String, String], dataSchema: StructType): Option[Layout] = {
    val fields = indexedFields(props, dataSchema)
    if (fields.isEmpty) None
    else Some(Layout(fields,
      props.get(FPP_PROP).flatMap(_.toDoubleOption).filter(p => p > 0 && p < 1).getOrElse(0.03),
      props.get(MAX_ITEMS_PROP).flatMap(_.toLongOption).filter(_ > 0).getOrElse(4000000L)))
  }

  /** [[attach]] degraded to a no-op on ANY failure — the WRITE paths'
    * entry point: a data write whose files already landed must never
    * fail because its optional index build did (`bloomPath = None` is
    * always safe; partially written sidecars are vacuum-reapable
    * orphans). [[LakeTable.buildBloomIndex]] calls [[attach]] directly,
    * so an EXPLICIT index build still fails loudly. */
  def attachBestEffort(
      spark: SparkSession,
      tablePath: String,
      dataSchema: StructType,
      adds: Seq[AddFile],
      props: Map[String, String]): Seq[AddFile] =
    try attach(spark, tablePath, dataSchema, adds, props)
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"bloom index build failed for $tablePath (write proceeds " +
            s"unindexed; run buildBloomIndex() to backfill): $e")
        adds
    }

  /** Build sidecars for `adds` by reading them back and return them
    * with `bloomPath` set: the explicit (re)build and the fallback for
    * files whose write task could not index them. No-op (returns `adds`
    * unchanged) when the table doesn't configure an index. One
    * distributed job: project `xxhash64` of each indexed column, group
    * rows by file, build and write each file's filter.
    */
  def attach(
      spark: SparkSession,
      tablePath: String,
      dataSchema: StructType,
      adds: Seq[AddFile],
      props: Map[String, String]): Seq[AddFile] = {
    val layout = layoutOf(props, dataSchema) match {
      case Some(l) if adds.nonEmpty => l
      case _ => return adds
    }
    import layout.{colMeta, fields, fpp, maxItems}
    val root = Paths.get(tablePath).toAbsolutePath.normalize
    val rootStr = root.toString

    val absOf: AddFile => String =
      a => root.resolve(a.path).normalize.toString
    // expected items per file: exact when stats already ran, else a
    // coarse size-derived guess (undersizing only degrades fpp, never
    // correctness)
    val expected: Map[String, Long] = adds.map(a =>
      absOf(a) -> a.stats.map(_.numRecords).getOrElse(math.max(1L, a.size / 128))).toMap
    val sidecarRel: Map[String, String] =
      adds.map(a => absOf(a) -> layout.sidecarFor(a.path)).toMap

    // field-id matching like [[LakeTable.readFiles]]: a backfill over a
    // column-mapped (renamed) table must read values, not name-miss nulls
    LakeTable.enableFieldIdReads(spark)
    val projected = spark.read.schema(dataSchema).parquet(expected.keys.toSeq: _*)
      .select(input_file_name().as("__f") +:
        fields.map(f => when(col(f.name).isNotNull, xxhash64(col(f.name)))
          .as("__h_" + f.name)): _*)
    import org.apache.spark.sql.Row
    // Aggregate BEFORE the shuffle (opt guide §2.3): the naive shape —
    // groupByKey(file) over every projected row — ships (filename, hash…)
    // for EVERY ROW across the exchange; a 100-char staging path per row
    // dwarfs the 8-byte hash it labels. Instead each scan task folds its
    // rows into per-file PARTIAL filters (rows of one file are contiguous
    // in a task unless the file is split), and only the serialized bloom
    // states cross the shuffle — bytes ∝ files, not rows. Partials for a
    // split file merge exactly: sizing derives deterministically from the
    // broadcast (expected, fpp), so every partial of a file is
    // bit-compatible with mergeInPlace.
    val nCols = colMeta.size
    // `expected` rides the stage's task binary (itself a broadcast), so a
    // dedicated sparkContext.broadcast only added two driver round-trips
    // of setup per commit (~10 ms measured) for the same bytes on the
    // wire — capture the maps directly.
    val partials = projected.mapPartitions { (it: Iterator[Row]) =>
      val acc = scala.collection.mutable.LinkedHashMap[String, Array[BloomFilter]]()
      it.foreach { r =>
        val abs = Stats.normalizeFileUri(r.getString(0))
        val blooms = acc.getOrElseUpdate(abs,
          Array.fill(nCols)(layout.filter(expected.getOrElse(abs, 65536L))))
        var i = 0
        while (i < blooms.length) {
          if (!r.isNullAt(i + 1)) blooms(i).putLong(r.getLong(i + 1))
          i += 1
        }
      }
      acc.iterator.map { case (abs, blooms) =>
        abs -> blooms.toSeq.map { b =>
          val bos = new ByteArrayOutputStream()
          b.writeTo(bos)
          bos.toByteArray
        }
      }
    }(partialEnc)
    // Small commits (by ESTIMATED total COLLECTED bytes) merge partials
    // on the DRIVER: one single-stage job instead of shuffle + reduce
    // stage, and the driver's sidecar writes parallelize over the same
    // FJ pool as the footer stats. The executor path stays for big
    // builds — a backfill over TBs must never funnel GBs of filter
    // bytes through the driver. The estimate is per-PARTIAL, not
    // per-final-filter: a file split across k scan tasks collects k
    // bit-compatible partials of the same size (VERDICT r13 #3), so
    // each file's filter bytes are charged its worst-case split count
    // under the session's split size.
    val maxSplit = math.max(1L,
      spark.sessionState.conf.filesMaxPartitionBytes)
    val sizeOf: Map[String, Long] = adds.map(a => absOf(a) -> a.size).toMap
    val estCollectedBytes = expected.map { case (abs, n) =>
      val items = math.min(maxItems, math.max(64L, n))
      val bits = math.ceil(-items * math.log(fpp) / (math.log(2) * math.log(2)))
      val splits = math.max(1L,
        (sizeOf.getOrElse(abs, 0L) + maxSplit - 1) / maxSplit)
      (bits / 8).toLong * nCols * splits
    }.sum
    val driverMax = spark.conf
      .getOption("spark.graft.bloom.driverMergeMaxBytes")
      .flatMap(_.toLongOption).getOrElse(64L << 20)
    val built: Map[String, String] = if (estCollectedBytes <= driverMax) {
      val merged = scala.collection.mutable.LinkedHashMap[String, Array[BloomFilter]]()
      partials.collect().foreach { case (abs, parts) =>
        val bs = parts.map(b => BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(b))).toArray
        merged.get(abs) match {
          case Some(acc) =>
            var i = 0
            while (i < bs.length) { acc(i).mergeInPlace(bs(i)); i += 1 }
          case None => merged(abs) = bs
        }
      }
      val out = new java.util.concurrent.ConcurrentHashMap[String, String]()
      val entries = merged.toSeq.flatMap { case (abs, blooms) =>
        sidecarRel.get(abs).map(rel => (abs, rel, blooms))
      }
      java.util.Arrays.asList(entries: _*).parallelStream().forEach {
        case (abs, rel, blooms) =>
          writeSidecar(Paths.get(rootStr), rel, colMeta, blooms)
          out.put(abs, rel)
      }
      import scala.jdk.CollectionConverters._
      out.asScala.toMap
    } else partials
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroups { (abs: String, it: Iterator[(String, Seq[Array[Byte]])]) =>
        // a group whose normalized URI doesn't match any staged file
        // (URI round-trip divergence on exotic path bytes) degrades to
        // "that file stays unindexed" — it must never fail the WRITE
        // the index rides on
        sidecarRel.get(abs) match {
          case None => Iterator.empty
          case Some(rel) =>
            var blooms: Array[BloomFilter] = null
            it.foreach { case (_, parts) =>
              val bs = parts.map(b => BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(b))).toArray
              if (blooms == null) blooms = bs
              else {
                var i = 0
                while (i < bs.length) { blooms(i).mergeInPlace(bs(i)); i += 1 }
              }
            }
            if (blooms == null) Iterator.empty
            else {
              writeSidecar(Paths.get(rootStr), rel, colMeta, blooms)
              Iterator.single((abs, rel))
            }
        }
      }(pairEnc)
      .collect().toMap

    adds.map { a =>
      built.get(absOf(a)) match {
        case Some(rel) => a.copy(bloomPath = Some(rel))
        case None =>
          // a file with no group in the build job is a ZERO-ROW file
          // (no input_file_name rows): an empty filter is its exact
          // index — every probe proves absence, which is true. Written
          // driver-side (rare); keeps attach total, so a backfill never
          // re-targets the same file forever.
          if (a.stats.exists(_.numRecords == 0L)) {
            val rel = sidecarRel(absOf(a))
            writeSidecar(root, rel, colMeta, Array.fill(colMeta.size)(layout.filter(0L)))
            a.copy(bloomPath = Some(rel))
          } else a // unattributable rows: keep the PREVIOUS index state
      }
    }
  }

  private[lake] def writeSidecar(
      root: Path, rel: String,
      colMeta: Seq[(String, String, Long)], blooms: Array[BloomFilter]): Unit = {
    val dest = root.resolve(rel)
    Files.createDirectories(dest.getParent)
    val tmp = dest.resolveSibling(
      dest.getFileName.toString + "." + UUID.randomUUID().toString + ".tmp")
    val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(tmp)))
    try {
      out.writeInt(MAGIC)
      out.writeInt(VERSION)
      out.writeInt(colMeta.size)
      colMeta.zip(blooms).foreach { case ((name, dtStr, fid), bf) =>
        out.writeUTF(name)
        out.writeUTF(dtStr)
        out.writeLong(fid)
        val bos = new ByteArrayOutputStream()
        bf.writeTo(bos)
        val bytes = bos.toByteArray
        out.writeInt(bytes.length)
        out.write(bytes)
      }
    } finally out.close()
    try Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, dest, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** One column's filter as stored: identity triple + the bloom's own
    * serialized wire content — Spark's stable `BloomFilter` formats:
    * V1 = (int 1, int numHashFunctions, BitArray), V2 = (int 2, int
    * numHashFunctions, int seed, BitArray); BitArray = (int wordCount,
    * big-endian longs). The effective bit size is `words.length * 64` —
    * exactly what `BitArray.bitSize()` reports, including the round-up
    * from the optimal bit count. For V1 `seed` is 0 and unused. */
  private[lake] final case class RawColumnFilter(
      name: String, dtStr: String, fid: Long,
      bfVersion: Int, seed: Int, k: Int, words: Array[Long])

  /** [[RawColumnFilter]] without the payload: identity + geometry only. */
  private[lake] final case class RawColumnHeader(
      name: String, dtStr: String, fid: Long,
      bfVersion: Int, seed: Int, k: Int, words: Int)

  /** Headers only — geometry + identity with the word arrays SKIPPED,
    * not materialized: the consolidated build's slot-assignment pass
    * reads every sidecar's metadata, which must not cost the sidecars'
    * megabytes twice (the transpose pass reads the payload once). */
  private[lake] def readSidecarHeaders(p: Path): Option[Seq[RawColumnHeader]] =
    try {
      val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(p)))
      try {
        if (in.readInt() != MAGIC || in.readInt() != VERSION) None
        else Some((0 until in.readInt()).map { _ =>
          val name = in.readUTF()
          val dtStr = in.readUTF()
          val fid = in.readLong()
          in.readInt() // payload length
          val bfVersion = in.readInt()
          require(bfVersion == 1 || bfVersion == 2,
            s"unknown BloomFilter wire version $bfVersion")
          val k = in.readInt()
          val seed = if (bfVersion == 2) in.readInt() else 0
          val words = in.readInt()
          var toSkip = words.toLong * 8
          while (toSkip > 0) {
            val skipped = in.skip(toSkip)
            if (skipped <= 0) throw new java.io.EOFException(p.toString)
            toSkip -= skipped
          }
          RawColumnHeader(name, dtStr, fid, bfVersion, seed, k, words)
        })
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Parse a sidecar to its raw per-column filters — the consolidated
    * key index's build input ([[ConsolidatedKeyIndex]]): it re-packs the
    * EXACT bits the per-file probes test, so consolidated and sidecar
    * pruning agree bit-for-bit. None on any structural problem — incl.
    * a future BloomFilter wire version whose position arithmetic we
    * cannot replicate (the file simply stays uncovered; its sidecar
    * keeps serving probes). */
  private[lake] def readSidecarRaw(p: Path): Option[Seq[RawColumnFilter]] =
    try {
      val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(p)))
      try {
        if (in.readInt() != MAGIC || in.readInt() != VERSION) None
        else Some((0 until in.readInt()).map { _ =>
          val name = in.readUTF()
          val dtStr = in.readUTF()
          val fid = in.readLong()
          in.readInt() // payload length (implied by the word count below)
          val bfVersion = in.readInt()
          require(bfVersion == 1 || bfVersion == 2,
            s"unknown BloomFilter wire version $bfVersion")
          val k = in.readInt()
          val seed = if (bfVersion == 2) in.readInt() else 0
          val words = Array.fill(in.readInt())(in.readLong())
          RawColumnFilter(name, dtStr, fid, bfVersion, seed, k, words)
        })
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Sidecar → per-column (declared type, field id, filter). Pruning
    * silently degrades to min/max only on any read problem, with the
    * caching policy encoded in the shape: `Some(Left(map))` = durable
    * content or a PERMANENT structural gap (future format version) —
    * cache forever; `Some(Right(()))` = the file is MISSING (vacuumed
    * dangling pointer, or transiently invisible on a
    * non-atomic-rename store) — negative-cache with a short TTL;
    * `None` = transient IO — never cached. */
  private def readSidecar(p: Path)
      : Option[Either[Map[String, (DataType, Long, BloomFilter)], Unit]] =
    try {
      val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(p)))
      try {
        if (in.readInt() != MAGIC || in.readInt() != VERSION) Some(Left(Map.empty))
        else {
          val n = in.readInt()
          Some(Left((0 until n).map { _ =>
            val name = in.readUTF()
            val dt = DataType.fromDDL(in.readUTF())
            val fid = in.readLong()
            val len = in.readInt()
            val bytes = new Array[Byte](len)
            in.readFully(bytes)
            name -> ((dt, fid,
              BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))))
          }.toMap))
        }
      } finally in.close()
    } catch {
      case _: java.nio.file.NoSuchFileException |
           _: java.io.FileNotFoundException => Some(Right(()))
      case scala.util.control.NonFatal(_) => None
    }

  // Sidecars are immutable once published: the path digests the data
  // file AND the index configuration (sidecarPathFor), so a config
  // change writes to a NEW path and a same-path rebuild reproduces
  // bit-identical content — a JVM-wide LRU keyed by absolute path needs
  // no content invalidation. Bounded by retained BYTES, not entries: at
  // default sizing one multi-column entry is several MB, so an
  // entry-count bound would let a big-table point lookup pin hundreds
  // of MB of heap on the driver and every executor. Negative entries
  // (missing file) carry an expiry so a TRANSIENTLY invisible sidecar
  // (non-atomic-move store, eventual consistency) recovers instead of
  // disabling pruning for the JVM's lifetime, while steady-state
  // dangling pointers still stay off the per-probe open() path.
  private final case class CacheEntry(
      cols: Map[String, (DataType, Long, BloomFilter)],
      bytes: Long,
      expiresAt: Long) // Long.MaxValue for positive entries
  /** Mutable for measurement only (BloomFanInBench shrinks it to show
    * sustained thrash — production sidecars are ~1 MB, so a 100k-file
    * table never fits the default 64 MB and every probe is cold). */
  @volatile private[lake] var CACHE_MAX_BYTES = 64L << 20
  private val NEGATIVE_TTL_MS = 60000L
  private var cacheBytes = 0L
  private val cache =
    new java.util.LinkedHashMap[String, CacheEntry](64, 0.75f, true)

  /** Measurement companion to the CACHE_MAX_BYTES override. */
  private[lake] def clearCache(): Unit =
    cache.synchronized { cache.clear(); cacheBytes = 0L }

  private def entryBytes(m: Map[String, (DataType, Long, BloomFilter)]): Long =
    m.valuesIterator.map(_._3.bitSize() / 8).sum + 256

  private def lookup(rootStr: String, rel: String): Map[String, (DataType, Long, BloomFilter)] = {
    val abs = Paths.get(rootStr).resolve(rel).normalize.toString
    cache.synchronized {
      val hit = cache.get(abs)
      if (hit != null && System.currentTimeMillis() < hit.expiresAt) return hit.cols
      if (hit != null) { cache.remove(abs); cacheBytes -= hit.bytes }
    }
    // Disk IO OUTSIDE the lock: a slow store on one miss must not stall
    // every other probe thread in the JVM. Sidecar content per path is
    // immutable (the path digests the inputs), so concurrent misses on
    // the same path load identical bytes and the duplicate put is
    // harmless; misses on DIFFERENT paths now load in parallel.
    readSidecar(Paths.get(abs)) match {
      case Some(Left(cols)) => // durable content (or permanent gap)
        cache.synchronized { put(abs, CacheEntry(cols, entryBytes(cols), Long.MaxValue)) }
        cols
      case Some(Right(())) => // missing file: negative-cache briefly
        cache.synchronized {
          put(abs, CacheEntry(Map.empty, 256,
            System.currentTimeMillis() + NEGATIVE_TTL_MS))
        }
        Map.empty
      case None => Map.empty // transient IO: retry next probe
    }
  }

  private def put(abs: String, e: CacheEntry): Unit = {
    val prev = cache.put(abs, e)
    cacheBytes += e.bytes - (if (prev != null) prev.bytes else 0L)
    val it = cache.entrySet().iterator()
    while (cacheBytes > CACHE_MAX_BYTES && it.hasNext) {
      val eldest = it.next()
      if (eldest.getKey != abs) { cacheBytes -= eldest.getValue.bytes; it.remove() }
    }
  }

  /** Exact conversion of a predicate literal's internal value to the
    * column's type — the hash is type-tagged (XxHash64 of an Int and of
    * the same value as a Long differ), so a lossy or inexact conversion
    * must NOT probe. None = don't prune on this atom. */
  private[lake] def toColumnValue(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (_, null) => None
    case (ByteType, x: Byte) => Some(x)
    case (ByteType, x: Short) => if (x.isValidByte) Some(x.toByte) else None
    case (ByteType, x: Int) => if (x.isValidByte) Some(x.toByte) else None
    case (ByteType, x: Long) => if (x.isValidByte) Some(x.toByte) else None
    case (ShortType, x: Short) => Some(x)
    case (ShortType, x: Byte) => Some(x.toShort)
    case (ShortType, x: Int) => if (x.isValidShort) Some(x.toShort) else None
    case (ShortType, x: Long) => if (x.isValidShort) Some(x.toShort) else None
    case (IntegerType, x: Int) => Some(x)
    case (IntegerType, x: Byte) => Some(x.toInt)
    case (IntegerType, x: Short) => Some(x.toInt)
    case (IntegerType, x: Long) => if (x.isValidInt) Some(x.toInt) else None
    case (LongType, x: Long) => Some(x)
    case (LongType, x: Byte) => Some(x.toLong)
    case (LongType, x: Short) => Some(x.toLong)
    case (LongType, x: Int) => Some(x.toLong)
    case (StringType, u: UTF8String) => Some(u)
    case (StringType, s: String) => Some(UTF8String.fromString(s))
    case (DateType, x: Int) => Some(x)
    case (TimestampType, x: Long) => Some(x)
    // hashing of decimals is driven by the EXPRESSION type's precision
    // path; a value of the column's exact scale (precision ≤ declared)
    // hashes identically to the stored rows
    case (d: DecimalType, x: org.apache.spark.sql.types.Decimal)
        if x.scale == d.scale && x.precision <= d.precision => Some(x)
    case _ => None
  }

  /** The probe-side hash — same expression, same type tag as the build's
    * `xxhash64(col)` projection. The hash depends only on (type, value)
    * but is consulted once per CANDIDATE FILE, so a bounded LRU memo
    * keeps the Catalyst expression construction/eval off the per-file
    * prune loop (driver and executor side); access-ordered eviction, so
    * a >capacity IN-list degrades per-VALUE instead of thrashing the
    * whole memo. */
  private val hashMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(DataType, Any), java.lang.Long](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(DataType, Any), java.lang.Long]): Boolean =
        size > 4096
    })
  private[lake] def probeHash(dt: DataType, columnValue: Any): Long = {
    val key = (dt, columnValue)
    val hit = hashMemo.get(key)
    if (hit != null) hit.longValue()
    else {
      val h = XxHash64(Seq(Literal(columnValue, dt)), 42L).eval(null).asInstanceOf[Long]
      hashMemo.put(key, h)
      h
    }
  }

  def probe(rootStr: String): BloomProbe = FileBloomProbe(rootStr)

  private final case class FileBloomProbe(rootStr: String) extends BloomProbe {
    /** Batched IN-list probing rides the consolidated key index (files
      * it can't serve fall back per value — bit-identical either way). */
    override private[lake] def batched(field: StructField,
        hashes: Array[Long], hashable: Array[Boolean]): BloomBatch =
      ConsolidatedKeyIndex.batched(rootStr, field, hashes, hashable)

    override def definitelyAbsent(
        f: AddFile, field: StructField, value: Any): Boolean =
      f.bloomPath.exists { rel =>
        // the consolidated key index first ([[ConsolidatedKeyIndex]]):
        // bit-identical to the sidecar answer for covered files, and a
        // point probe into a 100k-file table reads k slices instead of
        // opening 100k sidecars. Uncovered files (newer than the index,
        // rewritten, or no index at all) take the per-file path below.
        ConsolidatedKeyIndex.lookup(rootStr, f, field, value) match {
          case Some(consolidatedAbsent) =>
            if (consolidatedAbsent) BloomMetrics.skippedByBloom.incrementAndGet()
            consolidatedAbsent
          case None => lookup(rootStr, rel).get(field.name) match {
            // the sidecar must describe THIS column: same name, same
            // declared type, and — the part the name alone cannot carry —
            // the same parquet field id, so rename churn that hands an old
            // name to a different same-typed column (a→x, b→a) can never
            // make the previous column's filter prove absence of the new
            // one's values
            case Some((sdt, sfid, bf)) if sdt == field.dataType &&
                sfid == LakeTable.fieldId(field).getOrElse(-1L) =>
              toColumnValue(field.dataType, value) match {
                case Some(cv) =>
                  val absent = !bf.mightContainLong(probeHash(field.dataType, cv))
                  if (absent) BloomMetrics.skippedByBloom.incrementAndGet()
                  absent
                case None => false
              }
            case _ => false
          }
        }
      }
  }
}

/** Test observability for bloom pruning. Counted inside the probe, so in
  * local mode (shared JVM) both driver- and executor-side skips land
  * here. */
private[graft] object BloomMetrics {
  val skippedByBloom = new java.util.concurrent.atomic.AtomicLong(0L)
  def reset(): Unit = skippedByBloom.set(0L)
}
