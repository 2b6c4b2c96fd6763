package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-file min/max/nullCount statistics: collected with ONE distributed
  * aggregation over the freshly written files (grouped by
  * input_file_name), evaluated driver-side at file-listing time to skip
  * files a predicate cannot match (SURVEY.md §4 "data skipping").
  *
  * Canonical encodings (see [[FileStats]]): integral → long string,
  * fractional → double string, string → raw, timestamp → micros-long,
  * date → days-long. Booleans/binary/nested carry no stats.
  */
object Stats {

  /** Column types that carry stats. */
  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | TimestampType | DateType => true
    case _: DecimalType => true
    case _ => false
  }

  private def isNumericLike(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Expression rendering a column as its canonical stats string. */
  private def canon(name: String, dt: DataType, agg: String): org.apache.spark.sql.Column = {
    val base = if (agg == "min") min(col(name)) else max(col(name))
    dt match {
      case TimestampType => unix_micros(base).cast("string")
      case DateType => unix_date(base).cast("string") // ANSI forbids date→int cast
      case _ => base.cast("string")
    }
  }

  /** Per-file stats read from the parquet FOOTERS of existing files
    * (CONVERT) — no scan job. Canonical encodings match [[collect]]
    * (numbers via BigDecimal-parseable strings, timestamps as micros,
    * dates as days). Columns whose footer stats are absent/unset are
    * simply omitted (the skipping evaluator treats missing as unknown).
    * Falls back to the aggregation job for any file it cannot read.
    */
  def collectFromFooters(
      spark: SparkSession,
      dataSchema: StructType,
      paths: Seq[String]): Map[String, FileStats] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val byName = dataSchema.fields.map(f => f.name -> f.dataType).toMap
    // CONVERT of a large existing table hands this O(table) paths; above
    // the threshold the footer reads run on EXECUTORS (shared storage,
    // the same assumption as every read path) instead of one sequential
    // driver loop
    val threshold = spark.conf
      .getOption("spark.graft.stats.distributedThreshold")
      .flatMap(_.toLongOption).getOrElse(1000L)
    val ok: Map[String, FileStats] =
      if (paths.size < threshold) {
        // parallel driver reads: one footer open costs ~10 ms on local
        // Hadoop FS (open + checksum sidecar), and a 24-file commit paid
        // ~0.3 s serially — measured as the second-largest phase of every
        // bench lifecycle commit (OPTIMIZATION_r13 §stats). Footer decode
        // is independent per file; the common FJ pool bounds the fan-out.
        if (paths.size > 1) {
          val res = new java.util.concurrent.ConcurrentHashMap[String, FileStats]()
          java.util.Arrays.asList(paths: _*).parallelStream().forEach { p =>
            footerStats(p, byName, conf).foreach { case (k, v) => res.put(k, v) }
          }
          import scala.jdk.CollectionConverters._
          res.asScala.toMap
        } else paths.flatMap(p => footerStats(p, byName, conf)).toMap
      } else {
        import spark.implicits._
        val serConf =
          new graft.util.SerializableHadoopConf(conf)
        spark.createDataset(paths)
          .repartition(math.max(1, math.min(paths.size,
            spark.sparkContext.defaultParallelism)))
          .mapPartitions(it => it.flatMap(p =>
            Stats.footerStats(p, byName, serConf.value)))
          .collect().toMap
      }
    val failed = paths.filterNot(p => ok.contains(normalizeFileUri(p)))
    ok ++ (if (failed.nonEmpty) collect(spark, dataSchema, failed) else Map.empty)
  }

  /** One file's footer -> FileStats; the executor-shippable unit of
    * [[collectFromFooters]] and of the write tasks ([[LakeWriteStats]]). None on any read failure (the caller falls
    * back to the aggregation job for exactly those files). */
  private[lake] def footerStats(
      p: String,
      byName: Map[String, DataType],
      conf: org.apache.hadoop.conf.Configuration): Option[(String, FileStats)] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary

    def canonValue(dt: DataType, v: Any): Option[String] = (dt, v) match {
      case (StringType, b: Binary) => Some(b.toStringUsingUTF8)
      case (TimestampType, l: java.lang.Long) => Some(l.toString) // micros
      case (DateType, i: java.lang.Integer) => Some(i.toString)   // days
      // decimals arrive from the footer as UNSCALED physical values
      // (Int/Long for precision ≤ 18, big-endian bytes otherwise) —
      // re-apply the scale so the persisted stat is the same canonical
      // rendering the aggregation fallback writes ("1.23", not "123");
      // the two paths' stats live side by side in the log forever and
      // must be comparable
      case (d: DecimalType, n: java.lang.Integer) =>
        Some(BigDecimal(BigInt(n.longValue), d.scale).bigDecimal.toPlainString)
      case (d: DecimalType, l: java.lang.Long) =>
        Some(BigDecimal(BigInt(l.longValue), d.scale).bigDecimal.toPlainString)
      case (d: DecimalType, b: Binary) =>
        Some(BigDecimal(BigInt(b.getBytes), d.scale).bigDecimal.toPlainString)
      case (_: DecimalType, _) => None
      case (_, n: Number) if isNumericLike(dt) => Some(n.toString)
      case _ => None
    }

    try {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(p), conf))
      try {
        val footer = reader.getFooter
        val blocks = footer.getBlocks
        var rows = 0L
        val mins = scala.collection.mutable.Map[String, String]()
        val maxs = scala.collection.mutable.Map[String, String]()
        val ncs = scala.collection.mutable.Map[String, Long]()
        val incomplete = scala.collection.mutable.Set[String]()
        val minRaw = scala.collection.mutable.Map[String, Any]()
        val maxRaw = scala.collection.mutable.Map[String, Any]()
        blocks.forEach { block =>
          rows += block.getRowCount
          block.getColumns.forEach { cc =>
            val name = cc.getPath.toDotString
            if (byName.contains(name)) {
              val st = cc.getStatistics
              if (st == null || !st.hasNonNullValue || st.isEmpty) {
                if (st == null || st.getNumNulls != block.getRowCount)
                  incomplete += name // no usable range and rows may be non-null
                if (st != null && st.isNumNullsSet)
                  ncs(name) = ncs.getOrElse(name, 0L) + st.getNumNulls
                else incomplete += name
              } else {
                val dt = byName(name)
                (canonValue(dt, st.genericGetMin), canonValue(dt, st.genericGetMax)) match {
                  case (Some(mi), Some(ma)) =>
                    // strings merge across row groups in CODE-POINT
                    // order (strCmp) — the footer bounds are UTF-8
                    // byte-ordered, and Scala's `<` (UTF-16 code units)
                    // sorts supplementary chars below U+E000..FFFF, so
                    // a block split around the surrogate range would
                    // record a wrong file max and an exact match on
                    // the true max would skip the file (the same
                    // disagreement the evaluator-side strCmp fix
                    // closed, one merge step earlier)
                    def lt(a: String, b: String): Boolean = dt match {
                      case StringType => strCmp(a, b) < 0
                      case _ => BigDecimal(a) < BigDecimal(b)
                    }
                    if (!minRaw.contains(name) || lt(mi, mins(name))) { mins(name) = mi; minRaw(name) = () }
                    if (!maxRaw.contains(name) || lt(maxs(name), ma)) { maxs(name) = ma; maxRaw(name) = () }
                  case _ => incomplete += name
                }
                if (st.isNumNullsSet)
                  ncs(name) = ncs.getOrElse(name, 0L) + st.getNumNulls
                else incomplete += name
              }
            }
          }
        }
        incomplete.foreach { n => mins.remove(n); maxs.remove(n); ncs.remove(n) }
        Some(normalizeFileUri(p) -> FileStats(rows, mins.toMap, maxs.toMap, ncs.toMap))
      } finally reader.close()
    } catch { case _: Throwable => None }
  }

  /** One job over `paths` → per-file FileStats keyed by absolute file path. */
  def collect(
      spark: SparkSession,
      dataSchema: StructType,
      paths: Seq[String]): Map[String, FileStats] = {
    if (paths.isEmpty) return Map.empty
    val statCols = dataSchema.fields.filter(f => supported(f.dataType))
    val aggs =
      Seq(count(lit(1)).as("__nr")) ++
        statCols.flatMap { f =>
          Seq(
            canon(f.name, f.dataType, "min").as(s"__min__${f.name}"),
            canon(f.name, f.dataType, "max").as(s"__max__${f.name}"),
            sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__nc__${f.name}"))
        }
    val rows = spark.read.schema(dataSchema).parquet(paths: _*)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.map { r =>
      val file = r.getString(0)
      val mins = scala.collection.mutable.Map[String, String]()
      val maxs = scala.collection.mutable.Map[String, String]()
      val ncs = scala.collection.mutable.Map[String, Long]()
      statCols.foreach { f =>
        val mi = r.getAs[String](s"__min__${f.name}")
        val ma = r.getAs[String](s"__max__${f.name}")
        if (mi != null) mins(f.name) = mi
        if (ma != null) maxs(f.name) = ma
        ncs(f.name) = r.getAs[Long](s"__nc__${f.name}")
      }
      normalizeFileUri(file) -> FileStats(r.getAs[Long]("__nr"), mins.toMap, maxs.toMap, ncs.toMap)
    }.toMap
  }

  def normalizeFileUri(s: String): String =
    if (s.startsWith("file:")) new java.net.URI(s).getPath else s

  // ---- skipping --------------------------------------------------------

  /** True iff `file` might contain rows satisfying `pred` (conservative:
    * unknown ⇒ true). Partition columns are evaluated exactly against
    * partitionValues; data columns against min/max/nullCount.
    */
  def mightMatch(
      file: AddFile,
      pred: Expression,
      schema: StructType,
      partitionCols: Seq[String],
      probe: BloomProbe = BloomProbe.none): Boolean =
    eval(file, nnf(pred), schema, partitionCols, probe).getOrElse(true)

  /** Normalize once per PREDICATE (negation normal form), then evaluate
    * per file with [[mightMatchNormalized]] — the per-file loops (driver
    * candidate scans, the distributed checkpoint filter) would otherwise
    * rebuild the same rewritten tree O(files) times. */
  def normalize(pred: Expression): Expression = nnf(pred)

  /** [[mightMatch]] for a predicate already passed through
    * [[normalize]]. */
  def mightMatchNormalized(
      file: AddFile,
      normalizedPred: Expression,
      schema: StructType,
      partitionCols: Seq[String],
      probe: BloomProbe = BloomProbe.none): Boolean =
    eval(file, normalizedPred, schema, partitionCols, probe).getOrElse(true)

  /** Negation normal form for the skipping evaluator: NOT is pushed down
    * to the atoms with comparisons flipped. The evaluator's verdicts are
    * "might match" / "provably no match" — negating a MIGHT-match as if
    * it were an ALL-match skips files that do contain qualifying rows
    * (a `delete(col =!= v)` would silently miss rows), so a bare NOT
    * must never reach the atom evaluator.
    *
    * NULL semantics are preserved: a NULL row satisfies neither
    * `NOT(a = v)` nor `a < v OR a > v` (both evaluate to NULL, so the
    * row is unselected either way). EqualNullSafe differs there and is
    * deliberately NOT rewritten — it stays under Not, which the
    * evaluator treats as unknown.
    */
  private def nnf(e: Expression): Expression = e match {
    case Not(inner) => negate(inner)
    case And(l, r) => And(nnf(l), nnf(r))
    case Or(l, r) => Or(nnf(l), nnf(r))
    case other => other
  }

  private def negate(e: Expression): Expression = e match {
    case Not(inner) => nnf(inner)
    case And(l, r) => Or(negate(l), negate(r))
    case Or(l, r) => And(negate(l), negate(r))
    case GreaterThan(l, r) => LessThanOrEqual(l, r)
    case GreaterThanOrEqual(l, r) => LessThan(l, r)
    case LessThan(l, r) => GreaterThanOrEqual(l, r)
    case LessThanOrEqual(l, r) => GreaterThan(l, r)
    case EqualTo(l, r) => Or(LessThan(l, r), GreaterThan(l, r))
    case In(c, list) if list.nonEmpty =>
      list.map(v => Or(LessThan(c, v), GreaterThan(c, v)): Expression)
        .reduceLeft(And)
    case IsNull(c) => IsNotNull(c)
    case IsNotNull(c) => IsNull(c)
    case other => Not(other) // unknown atom: evaluator returns None
  }

  /** Three-valued: Some(false) = provably no row matches. */
  private def eval(
      f: AddFile,
      e: Expression,
      schema: StructType,
      pcs: Seq[String],
      probe: BloomProbe = BloomProbe.none): Option[Boolean] = {

    /** Bloom refinement for equality atoms: true ⇒ the file provably
      * lacks `column = literal` (value-level proof, works even when the
      * column has no min/max stats). Conservative on every gap. Callers
      * consult it only when min/max could NOT already exclude — the
      * range check is free in-memory state, the bloom costs a sidecar
      * read on a cache miss. */
    def bloomAbsent(c: Expression, l: Expression): Boolean =
      (for (n <- colName(c); v <- litVal(l); fld <- fieldOf(schema, n))
        yield probe.definitelyAbsent(f, fld, v)).getOrElse(false)

    /** canonical double for comparison of a literal against stats strings */
    def toCmp(dt: DataType, statsStr: String): Option[BigDecimal] =
      if (isNumericLike(dt))
        try Some(BigDecimal(statsStr)) catch { case _: NumberFormatException => None }
      else None
    def litCmp(dt: DataType, v: Any): Option[BigDecimal] = (dt, v) match {
      case (_, n: Number) => Some(BigDecimal(n.toString))
      // decimal literals prune too: persisted decimal stats are the
      // SCALED canonical rendering on both collection paths (footer
      // values re-scale on read), so the BigDecimal compare is sound
      case (_, d: Decimal) => Some(d.toBigDecimal)
      case _ => None
    }
    /** strings compare lexicographically */
    def strState(name: String): (Option[String], Option[String]) =
      (f.stats.flatMap(_.minValues.get(name)), f.stats.flatMap(_.maxValues.get(name)))

    /** A hidden-partitioning (`__pt_*`) entry whose transform SOURCE is
      * `name` — self-describing from the dir key, so it works for any
      * generation without consulting the current spec. */
    def transformEntry(name: String)
        : Option[(PartitionTransforms.Transform, String)] =
      f.partitionValues.collectFirst(scala.Function.unlift {
        case (k, value) =>
          PartitionTransforms.parseDirKey(k)
            .filter(_.col == name).map(_ -> value)
      })

    /** Source-column range implied by a transform partition value,
      * mapped into cmpRange's (min cmp lit, max cmp lit) contract. The
      * range is OUTER ([lo, hi), hi possibly exclusive): comparisons
      * resolve to ±1/0 only when sound for skipping, else widen. */
    def transformCmp(name: String, dt: DataType, v: Any): Option[(Int, Int)] =
      transformEntry(name).filter(_._2 != null).flatMap { case (tf, value) =>
        PartitionTransforms.sourceRange(tf, value, dt).flatMap {
          case (scala.Left(lo), scala.Left(hi), hiExcl) =>
            litCmp(dt, v).map { lc =>
              val cmi = lo.compare(lc)
              val raw = hi.compare(lc)
              // exclusive hi: rows are < hi, so hi<=lit proves max<lit;
              // otherwise the true max is unknown — claim >0 (no skip)
              (cmi, if (!hiExcl) raw else if (raw <= 0) -1 else 1)
            }
          case (scala.Right(lo), scala.Right(hi), _) =>
            (v match {
              case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
              case s: String => Some(s)
              case _ => None
            }).map { lv =>
              val raw = strCmp(hi, lv)
              (strCmp(lo, lv), if (raw <= 0) -1 else 1)
            }
          case _ => None
        }
      }

    def cmpRange(name: String, dt: DataType, v: Any)
        : Option[(Int /*min cmp lit*/, Int /*max cmp lit*/)] = {
      // THE FILE's own partition values, not the snapshot's current
      // spec: under partition-spec evolution each generation elides a
      // different column set, and a file prunes exactly on the columns
      // IT recorded (old files on the old spec, new on the new — `pcs`
      // alone would miss the former and misread the latter)
      if (f.partitionValues.contains(name)) {
        // exact: partition value is a single point
        f.partitionValues.get(name) match {
          case Some(s) if s != null =>
            (dt, v) match {
              case (StringType, lv: org.apache.spark.unsafe.types.UTF8String) =>
                val c = strCmp(s, lv.toString); Some((c, c))
              case (_, n: Number) =>
                try { val c = BigDecimal(s).compare(BigDecimal(n.toString)); Some((c, c)) }
                catch { case _: NumberFormatException => None }
              case _ => None
            }
          case _ => None
        }
      } else (dt match {
        case StringType =>
          val (mi, ma) = strState(name)
          val lv = v match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.toString
            case s: String => s
            case _ => return transformCmp(name, dt, v)
          }
          for (a <- mi; b <- ma) yield (strCmp(a, lv), strCmp(b, lv))
        case _ =>
          val (mi, ma) = strState(name)
          for {
            a <- mi; b <- ma
            ac <- toCmp(dt, a); bc <- toCmp(dt, b)
            lc <- litCmp(dt, v)
          } yield (ac.compare(lc), bc.compare(lc))
      // footer stats are tighter when present; the transform range is
      // the fallback (stats-capped columns, stats-free files)
      }).orElse(transformCmp(name, dt, v))
    }

    def asStrVal(v: Any): Option[String] = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case s: String => Some(s)
      case _ => None
    }

    /** Might any row of the file start with `p`? Provably-no when the
      * file's max < p, or its min >= the prefix range's exclusive upper
      * bound. Some(true) = can't exclude. */
    def prefixMightMatch(c: Expression, p: String): Option[Boolean] =
      colName(c).flatMap(n => dtOf(schema, n).flatMap {
        case StringType =>
          val lower = cmpRange(n, StringType, p).map { case (_, cma) => cma >= 0 }
          val upper = prefixUpper(p) match {
            case Some(u) =>
              cmpRange(n, StringType, u).map { case (cmi, _) => cmi < 0 }
            case None => Some(true) // all-U+FFFF prefix: no finite bound
          }
          (lower, upper) match { // one side proving FALSE suffices
            case (Some(false), _) | (_, Some(false)) => Some(false)
            case (Some(true), Some(true)) => Some(true)
            case _ => None
          }
        case _ => None
      })

    e match {
      // a constant predicate needs no stats at all (merge's "source proves
      // no match" pruning ships a bare false literal)
      case Literal(true, BooleanType) => Some(true)
      case Literal(v, BooleanType) if v == null || v == false => Some(false)
      case And(l, r) =>
        (eval(f, l, schema, pcs, probe), eval(f, r, schema, pcs, probe)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case Or(l, r) =>
        (eval(f, l, schema, pcs, probe), eval(f, r, schema, pcs, probe)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      // NOT is eliminated by [[nnf]] before evaluation; one surviving a
      // rewrite wraps an unsupported atom → unknown, never a flipped
      // might-match verdict (that skip would be unsound).
      case Not(_) => None

      case EqualTo(l, r) =>
        val byRange =
          (for (n <- colName(l); v <- litVal(r); dt <- dtOf(schema, n); (cmi, cma) <- cmpRange(n, dt, v))
            yield !(cmi > 0 || cma < 0))
            .orElse(for (n <- colName(r); v <- litVal(l); dt <- dtOf(schema, n); (cmi, cma) <- cmpRange(n, dt, v))
              yield !(cmi > 0 || cma < 0))
        // bloom only when the free range check could not exclude
        if (byRange.contains(false)) byRange
        else if (bloomAbsent(l, r) || bloomAbsent(r, l)) Some(false)
        else byRange
      // positive null-safe equality on a NON-null literal selects exactly
      // the `c = v` rows — the bloom proof applies; min/max never handled
      // this atom and still doesn't (litVal yields None on a null
      // literal, so `c <=> null` stays unknown)
      case EqualNullSafe(l, r) =>
        if (bloomAbsent(l, r) || bloomAbsent(r, l)) Some(false) else None
      case GreaterThan(l, r) =>
        (for (n <- colName(l); v <- litVal(r); dt <- dtOf(schema, n); (_, cma) <- cmpRange(n, dt, v))
          yield cma > 0)
          .orElse(for (n <- colName(r); v <- litVal(l); dt <- dtOf(schema, n); (cmi, _) <- cmpRange(n, dt, v))
            yield cmi < 0)
      case GreaterThanOrEqual(l, r) =>
        (for (n <- colName(l); v <- litVal(r); dt <- dtOf(schema, n); (_, cma) <- cmpRange(n, dt, v))
          yield cma >= 0)
          .orElse(for (n <- colName(r); v <- litVal(l); dt <- dtOf(schema, n); (cmi, _) <- cmpRange(n, dt, v))
            yield cmi <= 0)
      case LessThan(l, r) =>
        (for (n <- colName(l); v <- litVal(r); dt <- dtOf(schema, n); (cmi, _) <- cmpRange(n, dt, v))
          yield cmi < 0)
          .orElse(for (n <- colName(r); v <- litVal(l); dt <- dtOf(schema, n); (_, cma) <- cmpRange(n, dt, v))
            yield cma > 0)
      case LessThanOrEqual(l, r) =>
        (for (n <- colName(l); v <- litVal(r); dt <- dtOf(schema, n); (cmi, _) <- cmpRange(n, dt, v))
          yield cmi <= 0)
          .orElse(for (n <- colName(r); v <- litVal(l); dt <- dtOf(schema, n); (_, cma) <- cmpRange(n, dt, v))
            yield cma >= 0)
      case e @ In(c, list) if list.forall(_.isInstanceOf[Literal]) =>
        InFast.verdict(f, e, schema, probe) match {
          case Some(fast) => return fast
          case None => () // not applicable here: the generic path below
        }
        colName(c).flatMap { n =>
          fieldOf(schema, n).flatMap { fld =>
            val dt = fld.dataType
            val verdicts = list.flatMap(l => litVal(l)).map { v =>
              // bloom refines PER VALUE, and only for values the free
              // range check could not already exclude: a value with no
              // stats at all may still be provably absent — the file
              // matches only if SOME value survives both proofs
              val byRange = cmpRange(n, dt, v).map { case (cmi, cma) => !(cmi > 0 || cma < 0) }
              if (byRange.contains(false)) byRange
              else if (probe.definitelyAbsent(f, fld, v)) Some(false)
              else byRange
            }
            if (verdicts.exists(_.isEmpty)) None
            else Some(verdicts.flatten.exists(identity))
          }
        }
      // LIKE 'p%' / startsWith(c, p): matching rows lie in
      // [p, prefixUpper(p)) — skip when max < p or min >= upper. Both
      // Like and StartsWith appear (LikeSimplification may or may not
      // have rewritten by the time a predicate reaches the evaluator).
      case StartsWith(c, p) =>
        (for (v <- litVal(p); s <- asStrVal(v)) yield s)
          .flatMap(prefixMightMatch(c, _))
      case Like(c, p, esc) =>
        (for (v <- litVal(p); s <- asStrVal(v); pre <- likePrefix(s, esc))
          yield pre).flatMap(prefixMightMatch(c, _))

      case IsNull(c) =>
        colName(c).flatMap { n =>
          // per-FILE partition values (spec evolution — see cmpRange)
          if (f.partitionValues.contains(n))
            Some(f.partitionValues.get(n).contains(null))
          else f.stats.flatMap(_.nullCount.get(n)).map(_ > 0)
            // transform layout: the null dir holds ALL null-source rows
            .orElse(transformEntry(n).map(_._2 == null))
        }
      case IsNotNull(c) =>
        colName(c).flatMap { n =>
          if (f.partitionValues.contains(n))
            Some(!f.partitionValues.get(n).contains(null))
          else f.stats.map(s => s.nullCount.getOrElse(n, 0L) < s.numRecords)
            .orElse(transformEntry(n).map(_._2 != null))
        }
      case _ => None // unsupported shape → can't skip
    }
  }

  // compat shim: unresolved attribute in a freshly built Column
  private type UnresolvedAttributeLike =
    org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute

  // ---- shared expression helpers (eval + the constraint paths) ---------

  /** Column behind an attribute / unresolved name / order-preserving
    * numeric widening cast. */
  private def colName(x: Expression): Option[String] = x match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttributeLike => Some(u.nameParts.mkString("."))
    // ONLY exact value-preserving widenings may unwrap: the evaluator
    // compares the literal against the CHILD column's stats, which is
    // sound iff cast(x) == x numerically for every child value. A
    // truncating cast (double→int) or a wrapping one (long→int) is not
    // order-preserving in that sense — cast(f)===3 with child stats
    // [3.5, 3.9] must NOT skip the file (it can hold f=3.7). Long→double
    // is excluded too: above 2^53 it is no longer value-preserving.
    case Cast(child, to, _, _) if child.dataType != null &&
        isExactWidening(child.dataType, to) =>
      colName(child)
    case _ => None
  }

  /** cast(x: from): to satisfies cast(x) == x (as a real number) for
    * EVERY representable x — the condition under which pruning on the
    * child column's stats stays exact. */
  private def isExactWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | FloatType |
        DoubleType) => true
      case (ShortType, IntegerType | LongType | FloatType | DoubleType) =>
        true
      // int→float is NOT exact (float carries 24 mantissa bits)
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }

  private def litVal(x: Expression): Option[Any] = x match {
    case Literal(v, _) => Option(v)
    case e if e.foldable =>
      try Option(e.eval(null)) catch { case _: Throwable => None }
    case _ => None
  }

  private def dtOf(schema: StructType, name: String): Option[DataType] =
    schema.fields.find(_.name == name).map(_.dataType)

  private def fieldOf(schema: StructType, name: String): Option[StructField] =
    schema.fields.find(_.name == name)

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  // ---- constraint-implied pruning --------------------------------------

  /** Numeric sentinel bounds for one-sided constraints: wider than any
    * representable long/double/decimal(38)/timestamp-micros value, so
    * claiming them as the missing side of an interval is conservative
    * (the evaluator needs BOTH bounds to emit a verdict).
    */
  private val NUM_LO = "-1E+512"
  private val NUM_HI = "1E+512"

  /** TABLE-level synthetic stats implied by CHECK constraints: every row
    * of every file satisfies each constraint (validated on ADD, enforced
    * on every write), so constraint bounds are valid min/max for the
    * whole table. Encoding them as a phantom [[AddFile]] lets the SAME
    * three-valued evaluator that skips files prove a query predicate
    * can match no row at all — metadata-only empty-result pruning.
    *
    * Supported constraint atoms (conjuncts after [[nnf]]): comparisons
    * between a column and a foldable literal (either operand order),
    * IN lists, and IS NOT NULL. Anything else simply does not tighten
    * the bounds — never unsound, only less precise. One-sided numeric
    * intervals are completed with sentinel bounds; one-sided string
    * intervals get the true lexicographic minimum "" and stay inert on
    * the missing upper side.
    */
  def constraintStats(
      constraints: Seq[Expression],
      schema: StructType): Option[AddFile] = {
    if (constraints.isEmpty) return None
    val loN = scala.collection.mutable.Map[String, BigDecimal]()
    val hiN = scala.collection.mutable.Map[String, BigDecimal]()
    val loS = scala.collection.mutable.Map[String, String]()
    val hiS = scala.collection.mutable.Map[String, String]()
    val notNull = scala.collection.mutable.Set[String]()

    def asNum(v: Any): Option[BigDecimal] = v match {
      case n: Number => Some(BigDecimal(n.toString))
      case d: Decimal => Some(d.toBigDecimal)
      case _ => None
    }
    def asStr(v: Any): Option[String] = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case s: String => Some(s)
      case _ => None
    }
    def tightenLo(n: String, dt: DataType, v: Any): Unit =
      if (isNumericLike(dt))
        asNum(v).foreach(b => loN(n) = loN.get(n).map(_.max(b)).getOrElse(b))
      else if (dt == StringType)
        asStr(v).foreach(s => loS(n) =
          loS.get(n).map(o => if (strCmp(o, s) >= 0) o else s).getOrElse(s))
    def tightenHi(n: String, dt: DataType, v: Any): Unit =
      if (isNumericLike(dt))
        asNum(v).foreach(b => hiN(n) = hiN.get(n).map(_.min(b)).getOrElse(b))
      else if (dt == StringType)
        asStr(v).foreach(s => hiS(n) =
          hiS.get(n).map(o => if (strCmp(o, s) <= 0) o else s).getOrElse(s))

    // strict bounds: CHECK (x < 3) implies max <= 2 for integral-valued
    // encodings (ints, dates-as-days, timestamps-as-micros) and widens
    // to max <= 3 for fractional types (conservative)
    def atom(e: Expression): Unit = e match {
      case LessThan(l, r) =>
        bound(l, r, hiSide = true, strict = true)
        bound(r, l, hiSide = false, strict = true)
      case LessThanOrEqual(l, r) => bound(l, r, hiSide = true); bound(r, l, hiSide = false)
      case GreaterThan(l, r) =>
        bound(l, r, hiSide = false, strict = true)
        bound(r, l, hiSide = true, strict = true)
      case GreaterThanOrEqual(l, r) => bound(l, r, hiSide = false); bound(r, l, hiSide = true)
      case EqualTo(l, r) =>
        bound(l, r, hiSide = true); bound(l, r, hiSide = false)
        bound(r, l, hiSide = true); bound(r, l, hiSide = false)
      case In(c, list) if list.nonEmpty =>
        for (n <- colName(c); dt <- dtOf(schema, n)) {
          val vs = list.flatMap(litVal)
          if (vs.size == list.size) {
            if (isNumericLike(dt)) {
              val nums = vs.flatMap(asNum)
              if (nums.size == vs.size) {
                tightenLo(n, dt, nums.min.bigDecimal)
                tightenHi(n, dt, nums.max.bigDecimal)
              }
            } else if (dt == StringType) {
              val strs = vs.flatMap(asStr)
              if (strs.size == vs.size) {
                tightenLo(n, dt, strs.min); tightenHi(n, dt, strs.max)
              }
            }
          }
        }
      case IsNotNull(c) => colName(c).foreach(notNull += _)
      // CHECK (c LIKE 'p%') / startswith(c, p): min >= p, max <= upper
      // (outer bound — conservative)
      case StartsWith(c, l) =>
        for (n <- colName(c); dt <- dtOf(schema, n) if dt == StringType;
             v <- litVal(l); p <- asStr(v)) {
          tightenLo(n, dt, p)
          prefixUpper(p).foreach(tightenHi(n, dt, _))
        }
      case Like(c, l, esc) =>
        for (n <- colName(c); dt <- dtOf(schema, n) if dt == StringType;
             v <- litVal(l); s <- asStr(v); p <- likePrefix(s, esc)) {
          tightenLo(n, dt, p)
          prefixUpper(p).foreach(tightenHi(n, dt, _))
        }
      case _ => () // unsupported conjunct: no tightening
    }
    // `bound(col, lit, hiSide=true)` records lit as an upper bound of col
    def integralEncoded(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType => true
      case _ => false
    }
    def bound(c: Expression, l: Expression, hiSide: Boolean,
        strict: Boolean = false): Unit =
      for (n <- colName(c); v <- litVal(l); dt <- dtOf(schema, n)) {
        val adj =
          if (strict && integralEncoded(dt))
            asNum(v).map(b => (if (hiSide) b - 1 else b + 1).bigDecimal)
              .getOrElse(v)
          else v
        if (hiSide) tightenHi(n, dt, adj) else tightenLo(n, dt, adj)
      }

    constraints.map(nnf).flatMap(conjuncts).foreach(atom)

    if (loN.isEmpty && hiN.isEmpty && loS.isEmpty && hiS.isEmpty &&
      notNull.isEmpty) return None

    val mins = scala.collection.mutable.Map[String, String]()
    val maxs = scala.collection.mutable.Map[String, String]()
    (loN.keySet ++ hiN.keySet).foreach { n =>
      mins(n) = loN.get(n).map(_.bigDecimal.toString).getOrElse(NUM_LO)
      maxs(n) = hiN.get(n).map(_.bigDecimal.toString).getOrElse(NUM_HI)
    }
    (loS.keySet ++ hiS.keySet).foreach { n =>
      mins(n) = loS.getOrElse(n, "") // "" = true lexicographic minimum
      hiS.get(n).foreach(maxs(n) = _) // no safe string max sentinel
    }
    Some(AddFile("__constraints__", stats = Some(FileStats(
      numRecords = 1L,
      minValues = mins.toMap,
      maxValues = maxs.toMap,
      nullCount = notNull.map(_ -> 0L).toMap))))
  }

  /** Prefix implied by a LIKE pattern with a single TRAILING '%' and no
    * other wildcard or escape use — the only LIKE shape with a sound
    * lexicographic range. None for anything else. */
  private def likePrefix(pattern: String, escape: Char): Option[String] = {
    if (pattern.isEmpty || pattern.last != '%') return None
    val body = pattern.dropRight(1)
    if (body.exists(ch => ch == '%' || ch == '_' || ch == escape)) None
    else Some(body)
  }

  /** UTF-8 byte-order (== code-point order) string compare. Parquet
    * footer min/max and Spark's own string min/max aggregate in UTF-8
    * BYTE order; Java's `String.compareTo` is UTF-16 code-unit order,
    * which sorts supplementary characters (U+10000+, surrogate-encoded
    * D800–DFFF) BELOW U+E000–U+FFFF. Comparing byte-ordered stats with
    * the code-unit order can prove `min > literal` for a file that
    * CONTAINS the literal — an unsound skip. Every string comparison
    * against stats (and the constraint machinery that feeds synthetic
    * stats) must therefore use THIS order. */
  private[lake] def strCmp(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Exclusive upper bound of the `startsWith(p)` range: increment the
    * last non-U+FFFF char and truncate (every string with prefix `p` is
    * `< bound` under [[strCmp]]; strings without the prefix but between
    * `p` and the bound exist — use only as an OUTER bound). None when p
    * is all U+FFFF, or when the increment site is an unpaired high
    * surrogate (appending a low surrogate to such a p forms a
    * supplementary code point ABOVE the incremented bound in code-point
    * order, so no sound finite bound exists there). */
  private def prefixUpper(p: String): Option[String] = {
    val i = p.lastIndexWhere(_ != Character.MAX_VALUE)
    if (i < 0 || Character.isHighSurrogate(p.charAt(i))) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  /** Canonical value rendering for the constraint value-set check:
    * numeric-likes normalize through BigDecimal (so 3 == 3.0), strings
    * stay raw. None for unsupported shapes.
    */
  private def canonValueString(dt: DataType, v: Any): Option[String] = v match {
    case n: Number if isNumericLike(dt) =>
      Some(BigDecimal(n.toString).bigDecimal.stripTrailingZeros.toPlainString)
    case d: Decimal => Some(d.toBigDecimal.bigDecimal.stripTrailingZeros.toPlainString)
    case u: org.apache.spark.unsafe.types.UTF8String if dt == StringType =>
      Some(u.toString)
    case s: String if dt == StringType => Some(s)
    case _ => None
  }

  /** Per-column ALLOWED VALUE SETS implied by CHECK constraints of the
    * form `c = lit` or `c IN (lits)` (conjuncts only). Interval bounds
    * can't see gaps — `CHECK (c IN ('A','C'))` admits 'B' under min/max
    * reasoning — so the sets catch equality/IN predicates targeting
    * values outside the list.
    */
  def constraintValueSets(
      constraints: Seq[Expression],
      schema: StructType): Map[String, Set[String]] = {
    val out = scala.collection.mutable.Map[String, Set[String]]()
    def record(c: Expression, vs: Seq[Expression]): Unit =
      for (n <- colName(c); dt <- dtOf(schema, n)) {
        val canon = vs.flatMap(litVal).flatMap(canonValueString(dt, _))
        if (canon.size == vs.size) {
          val set = canon.toSet
          out(n) = out.get(n).map(_.intersect(set)).getOrElse(set)
        }
      }
    val atoms = constraints.map(nnf).flatMap(conjuncts)
    atoms.foreach {
      case EqualTo(l, r) if litVal(r).isDefined => record(l, Seq(r))
      case EqualTo(l, r) if litVal(l).isDefined => record(r, Seq(l))
      case In(c, list) if list.nonEmpty => record(c, list)
      case _ => ()
    }
    // second pass: `c <> lit` conjuncts SUBTRACT from an established set
    // (CHECK (c IN (1,2,3)) + CHECK (c <> 2) → {1,3}). nnf renders <> as
    // Or(<lit, >lit), so that's the shape to recognize; without a finite
    // set to subtract from, <> alone implies nothing enumerable.
    atoms.foreach(a => neqColLit(a).foreach { case (c, l) =>
      for (n <- colName(c); dt <- dtOf(schema, n); set <- out.get(n);
           v <- litVal(l); cv <- canonValueString(dt, v))
        out(n) = set - cv
    })
    out.toMap
  }

  /** `(col, lit)` of a post-nnf `col <> lit` — i.e. `Or(LessThan,
    * GreaterThan)` over the same operand pair, either orientation. */
  private def neqColLit(e: Expression): Option[(Expression, Expression)] =
    e match {
      case Or(LessThan(a1, b1), GreaterThan(a2, b2))
          if a1.semanticEquals(a2) && b1.semanticEquals(b2) =>
        if (colName(a1).isDefined && litVal(b1).isDefined) Some((a1, b1))
        else if (litVal(a1).isDefined && colName(b1).isDefined) Some((b1, a1))
        else None
      case _ => None
    }

  /** The conjuncts of `pred` that target one constrained column exclude
    * EVERY allowed value → provably empty. All recognized conjuncts
    * (equality, IN, and one-sided comparisons) apply TOGETHER per
    * column, so a BETWEEN window falling entirely in a GAP of the value
    * list prunes too — which neither interval min/max reasoning nor
    * conjunct-at-a-time set membership can see (`CHECK (c IN (1,9))`
    * admits `c >= 3` and `c <= 5` separately, but no listed value
    * satisfies both). Per-column boolean shapes recurse: `c <> 1`
    * (post-nnf `Or(<,>)`), disjunction windows, and LIKE-'p%' prefixes
    * all exclude. Unrecognized conjuncts and incomparable values simply
    * don't exclude (weaker tests keep more values — never an unsound
    * prune); an OR with an undecidable leg can't exclude.
    */
  private def valueSetContradiction(
      pred: Expression,
      allowed: Map[String, Set[String]],
      schema: StructType): Boolean = {
    if (allowed.isEmpty) return false
    val cs = conjuncts(nnf(pred))

    def contradicts(n: String, dt: DataType, set: Set[String]): Boolean = {
      // canonical-space compare: numerics through BigDecimal, strings
      // lexicographic; None = incomparable (never grounds an exclusion)
      def cmp(a: String, b: String): Option[Int] =
        if (isNumericLike(dt))
          try Some(BigDecimal(a).compare(BigDecimal(b)))
          catch { case _: NumberFormatException => None }
        else Some(strCmp(a, b))
      def canonLit(e: Expression): Option[String] =
        litVal(e).flatMap(canonValueString(dt, _))
      def onCol(e: Expression): Boolean = colName(e).contains(n)
      // unknown comparison → the value MIGHT satisfy the conjunct
      def rel(b: String, f: Int => Boolean): String => Boolean =
        v => cmp(v, b).forall(f)

      /** "Could canonical value v satisfy e?" — None when e says nothing
        * decidable about THIS column. And/Or recurse, so per-column
        * boolean shapes work: `c <> 1` (post-nnf `Or(<1, >1)`), BETWEEN
        * gaps, disjunction windows. An And with one undecidable leg still
        * tests the other (v must pass both); an Or can't exclude unless
        * BOTH legs are decidable. */
      def testOf(e: Expression): Option[String => Boolean] = e match {
        case And(a, b) => (testOf(a), testOf(b)) match {
          case (None, None) => None
          case (x, y) => Some((v: String) => x.forall(_(v)) && y.forall(_(v)))
        }
        case Or(a, b) =>
          for (ta <- testOf(a); tb <- testOf(b))
            yield (v: String) => ta(v) || tb(v)
        case EqualTo(l, r) if onCol(l) => canonLit(r).map(rel(_, _ == 0))
        case EqualTo(l, r) if onCol(r) => canonLit(l).map(rel(_, _ == 0))
        case In(c0, list) if onCol(c0) && list.nonEmpty =>
          val bs = list.flatMap(canonLit)
          if (bs.size != list.size) None
          else Some((v: String) => bs.exists(b => cmp(v, b).forall(_ == 0)))
        case GreaterThan(l, r) if onCol(l) => canonLit(r).map(rel(_, _ > 0))
        case GreaterThan(l, r) if onCol(r) => canonLit(l).map(rel(_, _ < 0))
        case GreaterThanOrEqual(l, r) if onCol(l) => canonLit(r).map(rel(_, _ >= 0))
        case GreaterThanOrEqual(l, r) if onCol(r) => canonLit(l).map(rel(_, _ <= 0))
        case LessThan(l, r) if onCol(l) => canonLit(r).map(rel(_, _ < 0))
        case LessThan(l, r) if onCol(r) => canonLit(l).map(rel(_, _ > 0))
        case LessThanOrEqual(l, r) if onCol(l) => canonLit(r).map(rel(_, _ <= 0))
        case LessThanOrEqual(l, r) if onCol(r) => canonLit(l).map(rel(_, _ >= 0))
        case StartsWith(c0, p0) if onCol(c0) && dt == StringType =>
          canonLit(p0).map(p => (v: String) => v.startsWith(p))
        case Like(c0, p0, esc) if onCol(c0) && dt == StringType =>
          canonLit(p0).flatMap(likePrefix(_, esc))
            .map(p => (v: String) => v.startsWith(p))
        case _ => None
      }
      val tests: Seq[String => Boolean] = cs.flatMap(testOf)
      tests.nonEmpty && set.forall(v => !tests.forall(t => t(v)))
    }

    allowed.exists { case (n, set) =>
      dtOf(schema, n).exists(dt => contradicts(n, dt, set))
    }
  }

  /** True iff `pred` contradicts the table's CHECK constraints — no row
    * that satisfies every constraint can satisfy `pred`, so the scan can
    * be answered empty from metadata alone. Two complementary checks:
    * interval reasoning through the phantom-stats evaluator, and
    * value-set reasoning for IN-list constraints whose gaps intervals
    * cannot see.
    */
  def contradictsConstraints(
      pred: Expression,
      constraints: Seq[Expression],
      schema: StructType): Boolean =
    constraintStats(constraints, schema)
      .exists(f => !mightMatch(f, pred, schema, Nil)) ||
      valueSetContradiction(pred,
        constraintValueSets(constraints, schema), schema)

  /** Compiled fast path for literal IN atoms — the hot shape of the
    * per-file pruning loops (driver candidate scans, MERGE key
    * refinement, the distributed checkpoint filter). The generic
    * evaluator re-extracts every literal, re-parses the file's min/max
    * strings to BigDecimal, and re-derives the bloom probe's typed hash
    * PER (file, value): measured ~1.4 µs/pair — 140 s for a 1000-value
    * IN over 100k files (BASELINE §T). Here the value list compiles
    * ONCE per (expression instance, schema instance) — parsed compare
    * forms, typed bloom hashes — and each file visit costs one stats
    * parse plus a bit test per value against the consolidated index's
    * batched candidate bitsets ([[BloomProbe.batched]]).
    *
    * Verdicts are EXACTLY the generic branch's (same per-value
    * byRange/bloom dataflow, same None/Some aggregation); anything the
    * fast path cannot mirror bit-for-bit — partition or
    * hidden-transform columns, unsupported types, unparseable numeric
    * literals (the generic path's NumberFormatException propagates
    * there too) — declines per (atom) or per (file) and the generic
    * branch runs. Keyed by IDENTITY of (expression, schema): the
    * pruning loops evaluate one normalized tree against one snapshot
    * schema, so state can never leak across different predicates, and
    * executor tasks (which deserialize their own instances) just
    * compile their own entry. */
  private[lake] object InFast {
    private final class Key(val e: Expression, val schema: StructType) {
      override def hashCode: Int =
        System.identityHashCode(e) * 31 + System.identityHashCode(schema)
      override def equals(o: Any): Boolean = o match {
        case k: Key => (k.e eq e) && (k.schema eq schema)
        case _ => false
      }
    }
    private final class State(
        val name: String,
        val dt: DataType,
        val field: StructField,
        val raw: Array[Any],
        val numeric: Boolean,
        val lits: Array[BigDecimal],
        val strs: Array[String],
        val hashes: Array[Long],
        val hashable: Array[Boolean]) {
      /** The batch is bound to the probe INSTANCE the query runs with
        * (stable across one pruning loop); a different probe rebinds. */
      @volatile var batchFor: (BloomProbe, BloomBatch) = null
      /** Original indices of comparable values, sorted by compare form:
        * per file the in-range values form one contiguous WINDOW found
        * by binary search against (min, max) — O(log n) instead of n
        * range compares, and out-of-window values are range-excluded
        * with zero per-value work. */
      val sortedIdx: Array[Int] = {
        val comparable = raw.indices.filter(i =>
          if (numeric) lits(i) != null else strs(i) != null)
        (if (numeric) comparable.sortBy(lits(_))
         else comparable.sortWith((x, y) => strCmp(strs(x), strs(y)) < 0))
          .toArray
      }
      /** Values with NO compare form (litCmp/strCmp-inconvertible):
        * byRange is None for them in every file — bloom-only. */
      val noFormIdx: Array[Int] = raw.indices.filter(i =>
        if (numeric) lits(i) == null else strs(i) == null).toArray
    }
    /** Compile-state cache, SEGMENTED-LRU by generation (the same shape
      * as the slice memo's GenMemo, one tier up — VERDICT r11 #2): gets
      * stay lock-free, a cold hit re-promotes, and overflow drops only
      * the cold generation — a session cycling >64 concurrent IN
      * predicates recompiles each at most once per overflow pass
      * instead of wholesale on every 65th insert. Effective capacity
      * ≤ 2×64 keys; entries are identity-keyed so they die with their
      * expression trees. */
    private val STATES_CAP = 64
    @volatile private var statesHot =
      new java.util.concurrent.ConcurrentHashMap[Key, Option[State]]()
    @volatile private var statesCold =
      new java.util.concurrent.ConcurrentHashMap[Key, Option[State]]()
    /** Compiles performed (spec instrumentation for the LRU). */
    private[lake] val compileCount =
      new java.util.concurrent.atomic.AtomicLong(0L)

    /** Test seam: drop both generations so LRU specs start from a
      * known-empty cache regardless of suite order. */
    private[lake] def clearForTest(): Unit = synchronized {
      statesHot = new java.util.concurrent.ConcurrentHashMap()
      statesCold = new java.util.concurrent.ConcurrentHashMap()
    }

    private def stateFor(key: Key, e: In, schema: StructType): Option[State] = {
      val hot = statesHot.get(key)
      if (hot != null) return hot
      val cold = statesCold.get(key)
      val st =
        if (cold != null) cold
        else {
          // compile OUTSIDE the lock (it walks the whole IN list); a
          // racer compiling the same key concurrently wastes one
          // compile, same as before — but never a cache ENTRY
          val c = compile(e, schema)
          compileCount.incrementAndGet()
          c
        }
      // promote/insert AND maybe-rotate under ONE lock: the lock-free
      // variant could rotate twice back-to-back between a racer's read
      // of the hot handle and its put (dropping a fully populated
      // generation, or losing the put into a just-demoted map) — gets
      // above stay lock-free, only the insert path pays
      synchronized {
        val racer = statesHot.get(key)
        if (racer != null) racer
        else {
          statesHot.put(key, st)
          if (statesHot.size > STATES_CAP) {
            statesCold = statesHot
            statesHot = new java.util.concurrent.ConcurrentHashMap()
          }
          st
        }
      }
    }

    private def compile(e: In, schema: StructType): Option[State] = {
      val n = colName(e.value).getOrElse(return None)
      val fld = fieldOf(schema, n).getOrElse(return None)
      val dt = fld.dataType
      val numeric = isNumericLike(dt)
      if (!numeric && dt != StringType) return None
      val raw = e.list.flatMap(litVal).toArray // null literals drop, as
                                               // in the generic branch
      val lits = new Array[BigDecimal](raw.length)
      val strs = new Array[String](raw.length)
      var i = 0
      while (i < raw.length) {
        if (numeric) raw(i) match {
          case num: Number =>
            // the generic litCmp would throw on NaN/Infinity — decline
            // so the generic path keeps its exact behavior
            try lits(i) = BigDecimal(num.toString)
            catch { case _: NumberFormatException => return None }
          case d: Decimal => lits(i) = d.toBigDecimal
          case _ => () // no compare form: byRange stays None (litCmp None)
        } else raw(i) match {
          case u: org.apache.spark.unsafe.types.UTF8String =>
            strs(i) = u.toString
          case s: String => strs(i) = s
          case _ => () // generic path: transformCmp → None on data cols
        }
        i += 1
      }
      val hashes = new Array[Long](raw.length)
      val hashable = new Array[Boolean](raw.length)
      i = 0
      while (i < raw.length) {
        BloomIndex.toColumnValue(dt, raw(i)) match {
          case Some(cv) =>
            hashes(i) = BloomIndex.probeHash(dt, cv)
            hashable(i) = true
          case None => ()
        }
        i += 1
      }
      Some(new State(n, dt, fld, raw, numeric, lits, strs, hashes, hashable))
    }

    /** Test seam: force every IN atom onto the generic branch so the
      * differential fuzz can compare the two implementations on
      * identical (file, atom) inputs. */
    @volatile private[lake] var disabled = false

    /** Some(verdict) = the atom's tri-state verdict, exactly as the
      * generic branch would compute; None = fast path does not apply to
      * this (atom, file) — run the generic branch. */
    def verdict(f: AddFile, e: In, schema: StructType,
        probe: BloomProbe): Option[Option[Boolean]] = {
      if (disabled) return None
      val st = stateFor(new Key(e, schema), e, schema).getOrElse(return None)
      // every literal was null: no value can select a row — the generic
      // branch's empty-verdict aggregation, decided before any probe
      if (st.raw.isEmpty) return Some(Some(false))
      // partition-valued and hidden-transform columns take the generic
      // path (exact point compare / transform source ranges)
      if (f.partitionValues.nonEmpty && (
          f.partitionValues.contains(st.name) ||
          f.partitionValues.keysIterator.exists(k =>
            PartitionTransforms.parseDirKey(k).exists(_.col == st.name))))
        return None

      // file range state parsed ONCE per (file, atom) — the generic
      // branch re-parses it per value
      var haveNum = false
      var miN: BigDecimal = null
      var maN: BigDecimal = null
      var haveStr = false
      var miS: String = null
      var maS: String = null
      val a = f.stats.flatMap(_.minValues.get(st.name))
      val b = f.stats.flatMap(_.maxValues.get(st.name))
      if (a.isDefined && b.isDefined) {
        if (st.numeric) {
          try {
            miN = BigDecimal(a.get); maN = BigDecimal(b.get); haveNum = true
          } catch { case _: NumberFormatException => () }
        } else { miS = a.get; maS = b.get; haveStr = true }
      }

      val batch = {
        val cur = st.batchFor
        if (cur != null && (cur._1 eq probe)) cur._2
        else {
          val built = probe.batched(st.field, st.hashes, st.hashable)
          st.batchFor = (probe, built)
          built
        }
      }
      val batchFile = if (batch != null) batch.fileProbe(f) else null
      def bloomAbsent(i: Int): Boolean =
        if (batchFile != null) batchFile.absent(i)
        else probe.definitelyAbsent(f, st.field, st.raw(i))

      // form-less values: byRange None in every file — a single one the
      // bloom cannot exclude makes the atom's verdict None (keep), the
      // generic aggregation's exists(_.isEmpty)
      var sawNone = false
      var i = 0
      while (i < st.noFormIdx.length) {
        if (!bloomAbsent(st.noFormIdx(i))) { sawNone = true; i = st.noFormIdx.length }
        else i += 1
      }
      if (sawNone) return Some(None)

      val haveRange = if (st.numeric) haveNum else haveStr
      if (!haveRange) {
        // no stats for the column: every comparable value is byRange
        // None too — bloom-only, shortcut at the first non-exclusion
        var j = 0
        while (j < st.sortedIdx.length) {
          if (!bloomAbsent(st.sortedIdx(j))) return Some(None)
          j += 1
        }
        return Some(Some(false)) // every value bloom-excluded
      }

      // binary-search the in-range window over the sorted compare forms;
      // out-of-window values are range-excluded (Some(false)) for free
      def cmpAt(j: Int, hiSide: Boolean): Int =
        if (st.numeric) {
          val v = st.lits(st.sortedIdx(j))
          if (hiSide) maN.compare(v) else miN.compare(v)
        } else {
          val v = st.strs(st.sortedIdx(j))
          if (hiSide) strCmp(maS, v) else strCmp(miS, v)
        }
      // lo = first j with value >= min (min cmp value <= 0)
      var wa = 0
      var wb = st.sortedIdx.length
      while (wa < wb) {
        val m = (wa + wb) >>> 1
        if (cmpAt(m, hiSide = false) > 0) wa = m + 1 else wb = m
      }
      val lo = wa
      // hi = first j with value > max (max cmp value < 0)
      wa = lo; wb = st.sortedIdx.length
      while (wa < wb) {
        val m = (wa + wb) >>> 1
        if (cmpAt(m, hiSide = true) < 0) wb = m else wa = m + 1
      }
      val hi = wa
      // within the window every verdict is Some(true/false): the first
      // value the bloom cannot exclude decides Some(true)
      var j = lo
      while (j < hi) {
        if (!bloomAbsent(st.sortedIdx(j))) return Some(Some(true))
        j += 1
      }
      Some(Some(false)) // all excluded (by range outside, by bloom inside)
    }
  }
}
