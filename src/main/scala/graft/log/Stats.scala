package graft.log

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when, input_file_name}
import org.apache.spark.unsafe.types.UTF8String

/** Per-file column statistics: canonical string encoding, one-pass collection,
  * and min/max file pruning.
  *
  * The same data-skipping idea the reference gets from Delta's OPTIMIZE/stats
  * (src/delta_utils.py:295-335, benchmarks/delta_performance_benchmark.py:238-343):
  * every `add` action carries min/max/nullCount per column; scans drop files
  * whose [min,max] ranges cannot satisfy the predicate before Spark ever sees
  * the file list. At 100 TB this is the difference between listing 10M files
  * and scanning the 200 that matter.
  */
object Stats {

  private val tsFmt =
    DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  /** Long strings are truncated to keep the log small; the truncation keeps
    * bounds safe: a prefix is <= the original (min), and prefix+￿ is >=
    * any string extending the prefix (max). */
  private val MaxStrLen = 96

  /** timestamp_ntz canonical encoding: the same fixed-width pattern as
    * tsFmt but formatted/parsed as a LOCAL datetime (no zone shift) — the
    * fixed width is what keeps [[compare]]'s byte order correct. */
  private val ntzFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS")

  def isStatsType(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType | _: FloatType |
        _: DoubleType | _: DecimalType | _: StringType | _: BooleanType | _: DateType |
        _: TimestampType | _: TimestampNTZType => true
    case _ => false
  }

  /** Canonical string encoding of an external (Row-level) value. */
  def encode(v: Any, dt: DataType, isMax: Boolean = false): String = v match {
    case null => null
    case ts: java.sql.Timestamp => tsFmt.format(ts.toInstant)
    case ts: Instant => tsFmt.format(ts)
    case ldt: java.time.LocalDateTime => ntzFmt.format(ldt) // timestamp_ntz
    case d: java.sql.Date => d.toLocalDate.toString
    case d: LocalDate => d.toString
    case dec: java.math.BigDecimal => dec.toPlainString
    case s: String =>
      if (s.length <= MaxStrLen) s
      else if (isMax) s.take(MaxStrLen) + "￿"
      else s.take(MaxStrLen)
    case other => other.toString
  }

  /** Canonical encoding of a Catalyst internal literal value. */
  def encodeInternal(v: Any, dt: DataType): String = (v, dt) match {
    case (null, _) => null
    case (u: UTF8String, _) => u.toString
    case (days: Int, DateType) => LocalDate.ofEpochDay(days.toLong).toString
    case (micros: Long, TimestampType) =>
      tsFmt.format(Instant.ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L))
    case (micros: Long, TimestampNTZType) =>
      ntzFmt.format(java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt, ZoneOffset.UTC))
    case (d: Decimal, _) => d.toJavaBigDecimal.toPlainString
    case (other, _) => other.toString
  }

  /** True when a string stat could be a truncated BOUND rather than the
    * exact extreme value (see MaxStrLen above): a min at exactly the
    * truncation length is ambiguous, a max carries the sentinel suffix.
    * Metadata-only aggregates must refuse such bounds. */
  def maybeTruncatedString(s: String): Boolean =
    s != null && s.length >= MaxStrLen

  /** Decode a canonical stat string back to the external JVM value
    * (inverse of [[encode]] for exact, untruncated stats). */
  def decode(s: String, dt: DataType): Any = if (s == null) null else dt match {
    case _: ByteType => s.toByte
    case _: ShortType => s.toShort
    case _: IntegerType => s.toInt
    case _: LongType => s.toLong
    case _: FloatType => s.toFloat
    case _: DoubleType => s.toDouble
    case _: DecimalType => new java.math.BigDecimal(s)
    case _: BooleanType => s.toBoolean
    case _: DateType => java.sql.Date.valueOf(LocalDate.parse(s))
    case _: TimestampType => java.sql.Timestamp.from(Instant.from(tsFmt.parse(s)))
    case _: TimestampNTZType => java.time.LocalDateTime.parse(s, ntzFmt)
    case _ => s
  }

  /** Decode a canonical stat string to the Catalyst-INTERNAL value
    * (UTF8String / epoch days / micros / Decimal), for rules that splice
    * stats into literal plans. */
  def decodeInternal(s: String, dt: DataType): Any = if (s == null) null else dt match {
    case _: StringType => UTF8String.fromString(s)
    case _: DateType => LocalDate.parse(s).toEpochDay.toInt
    case _: TimestampType =>
      val i = Instant.from(tsFmt.parse(s))
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    case _: TimestampNTZType =>
      val ldt = java.time.LocalDateTime.parse(s, ntzFmt)
      ldt.toEpochSecond(ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
    case d: DecimalType => Decimal(new java.math.BigDecimal(s), d.precision, d.scale)
    case _: ByteType => s.toByte
    case _: ShortType => s.toShort
    case _: IntegerType => s.toInt
    case _: LongType => s.toLong
    case _: FloatType => s.toFloat
    case _: DoubleType => s.toDouble
    case _: BooleanType => s.toBoolean
    case _ => null
  }

  /** Non-finite float/double encodings: BigDecimal cannot parse them (the
    * compare path would throw inside the optimizer), parquet writers
    * historically drop or poison NaN bounds, and NaN's SQL ordering
    * (greater than everything) is not what a min over bounds computes —
    * refuse and let the query scan. */
  private def nonFinite(s: String): Boolean =
    s == "NaN" || s == "Infinity" || s == "-Infinity"

  /** Exact canonical (min, max) bounds of `field` over `files`' stats:
    * None when any file lacks the stat, carries a half-null or non-finite
    * bound, omits bounds for rows it does hold (nullCount < numRecords
    * with null min/max — e.g. externally-written parquet whose footer
    * dropped them), or a string bound might be truncated — the log cannot
    * answer exactly and the caller must scan. Some((null, null)) when the
    * column is null in every row (SQL min/max semantics). Deletion-vector
    * exactness is the CALLER's concern: a DV could mask the extreme row. */
  def exactBounds(files: Seq[AddFile], field: StructField): Option[(String, String)] = {
    if (!isStatsType(field.dataType)) return None
    // after a stat-lossy type widening, a file's encodings are exact
    // extremes only if its change-count tag proves they were collected
    // under the current type — otherwise metadata-only min/max must fall
    // back to a scan (see TypeWidening)
    if (files.exists(f => !TypeWidening.statsExact(f, field))) return None
    // zero-row files cannot move a min/max and often carry no column stats
    // at all (an empty writer task) — skipping them is exact, refusing on
    // them is not
    val nonEmpty = files.filter(_.numRecords > 0)
    if (nonEmpty.isEmpty) return Some((null, null))
    val perFile = nonEmpty.map(f =>
      f.stats.get(field.name).orElse(f.stats.collectFirst {
        case (n, cs) if n.equalsIgnoreCase(field.name) => cs
      }).map(cs => (cs, f.numRecords)))
    if (perFile.exists(_.isEmpty)) return None
    val all = perFile.flatten
    // a (null, null) bound is "all rows null" ONLY when nullCount says so;
    // otherwise the writer dropped the bounds and the answer needs a scan
    if (all.exists { case (c, n) =>
        c.min == null && c.max == null && c.nullCount < n }) return None
    val bounded = all.map(_._1).filter(c => c.min != null || c.max != null)
    if (bounded.isEmpty) return Some((null, null))
    if (bounded.exists(c => c.min == null || c.max == null)) return None
    field.dataType match {
      case StringType if bounded.exists(c =>
          maybeTruncatedString(c.min) || maybeTruncatedString(c.max)) => return None
      case _: FloatType | _: DoubleType if bounded.exists(c =>
          nonFinite(c.min) || nonFinite(c.max)) => return None
      case _ =>
    }
    val mn = bounded.map(_.min).reduce((a, b) =>
      if (compare(a, b, field.dataType) <= 0) a else b)
    val mx = bounded.map(_.max).reduce((a, b) =>
      if (compare(a, b, field.dataType) >= 0) a else b)
    Some((mn, mx))
  }

  /** Total order over canonical encodings, keyed by the column's dataType.
    * Date/timestamp ISO encodings are fixed-width ASCII so byte order works.
    * Strings compare in UTF-8 byte order (= code-point order) to match how
    * Parquet footers and Spark min/max ordered them — Java String.compareTo
    * is UTF-16 code-unit order, which disagrees for strings mixing
    * supplementary characters with U+E000..U+FFFF and could mis-prune. */
  def compare(a: String, b: String, dt: DataType): Int = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
      java.lang.Long.compare(a.toLong, b.toLong)
    case _: FloatType | _: DoubleType | _: DecimalType =>
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case _: BooleanType => java.lang.Boolean.compare(a.toBoolean, b.toBoolean)
    case _ => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }

  /** One distributed pass over freshly-written files: per-file row count and
    * per-column min/max/nullCount, grouped by `input_file_name`. Returns
    * (absoluteFilePath -> (numRecords, stats)). */
  def collect(df: DataFrame): Map[String, (Long, Map[String, ColStats])] = {
    val fields = df.schema.fields.toSeq
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("__cnt")) ++ fields.flatMap { f =>
        val base = Seq(sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__n_${f.name}"))
        if (isStatsType(f.dataType))
          base ++ Seq(min(col(f.name)).as(s"__mn_${f.name}"), max(col(f.name)).as(s"__mx_${f.name}"))
        else base
      }
    df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val file = r.getAs[String]("__file")
        val cnt = r.getAs[Long]("__cnt")
        val stats = fields.flatMap { f =>
          val nulls = r.getAs[Long](s"__n_${f.name}")
          if (isStatsType(f.dataType)) {
            val mn = encode(r.getAs[Any](s"__mn_${f.name}"), f.dataType)
            val mx = encode(r.getAs[Any](s"__mx_${f.name}"), f.dataType, isMax = true)
            Some(f.name -> ColStats(mn, mx, nulls))
          } else Some(f.name -> ColStats(null, null, nulls))
        }.toMap
        stripScheme(file) -> (cnt, stats)
      }.toMap
  }

  /** `input_file_name()` yields a URL-encoded `file:` URI (FileScanRDD
    * exposes PartitionedFile's urlEncodedPath); decode exactly once back to
    * the on-disk path. One decode is correct even for hive-escaped dir names
    * — their literal `%` is on-disk data and arrives double-encoded (`%25`).
    * A non-URI-parseable value falls back to a bare scheme strip. */
  def stripScheme(p: String): String =
    if (p.startsWith("file:"))
      try new java.net.URI(p).getPath
      catch { case _: java.net.URISyntaxException =>
        p.stripPrefix("file:").replaceFirst("^/+", "/") }
    else p

  // ----------------------------------------------------- footer-based stats

  /** Per-file stats straight from the Parquet footers — driver-side metadata
    * IO only, no second distributed pass over freshly-written data. This is
    * how a write's stats collection stays O(files) instead of O(rows); at
    * 100 TB the re-read would double every write. Columns whose footer stats
    * are missing/untrustworthy (e.g. INT96 timestamps) are simply omitted —
    * the pruner treats absent stats conservatively.
    *
    * Returns (absolutePath -> (numRecords, colName -> ColStats)). */
  def fromFooters(
      files: Seq[java.nio.file.Path],
      schema: StructType): Map[String, (Long, Map[String, ColStats])] =
    fromFootersWithIds(files, schema)
      .map { case (p, (n, st, _)) => p -> (n, st) }

  /** The Hadoop configuration footer reads open files with, loaded once:
    * a fresh `Configuration` re-parses Hadoop's XML defaults on first use,
    * a cost every write would pay again. Only read after loading. */
  private lazy val footerConf: org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration()
    c.size() // forces the default resources to load now, on one thread
    c
  }

  /** One footer pass returning BOTH the exact stats and the top-level
    * (column name, field id) pairs — import paths that need field-id
    * verification AND stats must not pay two opens per file. */
  def fromFootersWithIds(
      files: Seq[java.nio.file.Path],
      schema: StructType)
      : Map[String, (Long, Map[String, ColStats], Seq[(String, Option[Int])])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = footerConf
    // explicit options: `open(file)` alone builds its own fresh Configuration
    val options = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    val out = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Map[String, ColStats], Seq[(String, Option[Int])])]()
    files.asJava.parallelStream().forEach { p =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf)
      val reader = ParquetFileReader.open(in, options)
      try {
        val fieldIds = reader.getFooter.getFileMetaData.getSchema.getFields
          .asScala.map(t => t.getName -> Option(t.getId).map(_.intValue())).toSeq
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val numRecords = blocks.map(_.getRowCount).sum
        // per top-level column: accumulated (min, max, nullCount, trustworthy)
        val acc = scala.collection.mutable.LinkedHashMap.empty[String, (String, String, Long, Boolean)]
        blocks.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            val parts = c.getPath.toArray
            if (parts.length == 1) {
              val name = parts(0)
              schema.fields.find(_.name == name).foreach { f =>
                val prev = acc.getOrElse(name, (null, null, 0L, true))
                val next = footerColStats(c, f.dataType) match {
                  case None => (null, null, 0L, false) // untrusted -> drop column
                  case Some((mn, mx, nulls)) if prev._4 =>
                    val newMn = merge(prev._1, mn, f.dataType, takeMin = true)
                    val newMx = merge(prev._2, mx, f.dataType, takeMin = false)
                    (newMn, newMx, prev._3 + nulls, true)
                  case _ => prev
                }
                acc(name) = next
              }
            }
          }
        }
        val stats = acc.collect { case (n, (mn, mx, nulls, true)) =>
          n -> ColStats(mn, mx, nulls)
        }.toMap
        out.put(p.toString, (numRecords, stats, fieldIds))
      } finally reader.close()
    }
    out.asScala.toMap
  }

  /** Per file, the parquet footer's top-level columns as (name, field id)
    * pairs — id is None when the writer stamped none. The column-mapping
    * import's honesty gate: by-id reads are only safe when every footer
    * column carries an id that agrees with the mapped schema. */
  def footerFieldIds(
      files: Seq[java.nio.file.Path]): Map[String, Seq[(String, Option[Int])]] =
    fromFootersWithIds(files, StructType(Nil))
      .map { case (p, (_, _, ids)) => p -> ids }

  /** Unit conversion to micros for parquet INT64 timestamp bounds, when the
    * conversion is EXACT: MICROS pass through, MILLIS widen; NANOS would
    * need rounding (floor for min, ceil for max — no longer the true bound
    * of any readable value), so they carry no bounds at all. */
  private def timestampToMicros(
      t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
      : Option[Long => Long] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    t.getUnit match {
      case TimeUnit.MICROS => Some(identity)
      case TimeUnit.MILLIS => Some(v => Math.multiplyExact(v, 1000L))
      case _ => None
    }
  }

  private def merge(a: String, b: String, dt: DataType, takeMin: Boolean): String =
    if (a == null) b else if (b == null) a
    else if ((compare(a, b, dt) <= 0) == takeMin) a else b

  /** Decode one column chunk's statistics into canonical encodings.
    * None = stats untrustworthy for this column (omit entirely);
    * Some((null,null,nulls)) = null count known but no min/max. */
  private def footerColStats(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      dt: DataType): Option[(String, String, Long)] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val st = c.getStatistics
    if (st == null || !st.isNumNullsSet) return None
    val nulls = st.getNumNulls
    if (!st.hasNonNullValue) return Some((null, null, nulls))
    val prim = c.getPrimitiveType
    val tn = prim.getPrimitiveTypeName
    val ann = prim.getLogicalTypeAnnotation
    def bin(b: Any): Array[Byte] = b.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes

    val decoded: Option[(String, String)] = (dt, tn) match {
      case (_: ByteType | _: ShortType | _: IntegerType, PrimitiveTypeName.INT32) =>
        Some((st.genericGetMin.toString, st.genericGetMax.toString))
      case (_: LongType, PrimitiveTypeName.INT64) =>
        Some((st.genericGetMin.toString, st.genericGetMax.toString))
      case (_: FloatType, PrimitiveTypeName.FLOAT) | (_: DoubleType, PrimitiveTypeName.DOUBLE) =>
        Some((st.genericGetMin.toString, st.genericGetMax.toString))
      case (_: BooleanType, PrimitiveTypeName.BOOLEAN) =>
        Some((st.genericGetMin.toString, st.genericGetMax.toString))
      case (_: StringType, PrimitiveTypeName.BINARY) =>
        val mn = new String(bin(st.genericGetMin), java.nio.charset.StandardCharsets.UTF_8)
        val mx = new String(bin(st.genericGetMax), java.nio.charset.StandardCharsets.UTF_8)
        Some((encode(mn, dt).asInstanceOf[String],
          encode(mx, dt, isMax = true).asInstanceOf[String]))
      case (_: DateType, PrimitiveTypeName.INT32) =>
        Some((encodeInternal(st.genericGetMin.asInstanceOf[Int], DateType),
          encodeInternal(st.genericGetMax.asInstanceOf[Int], DateType)))
      case (_: TimestampType, PrimitiveTypeName.INT64) =>
        ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            // NANOS bounds that are not whole microseconds cannot be
            // represented EXACTLY in micros — rounding either direction
            // would violate the exact-bounds contract, so carry none
            timestampToMicros(t).map(f =>
              (encodeInternal(f(st.genericGetMin.asInstanceOf[Long]), TimestampType),
                encodeInternal(f(st.genericGetMax.asInstanceOf[Long]), TimestampType)))
          case _ => None
        }
      case (_: TimestampNTZType, PrimitiveTypeName.INT64) =>
        ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            timestampToMicros(t).map(f => (
              encodeInternal(f(st.genericGetMin.asInstanceOf[Long]), TimestampNTZType),
              encodeInternal(f(st.genericGetMax.asInstanceOf[Long]), TimestampNTZType)))
          case _ => None
        }
      case (d: DecimalType, _) =>
        ann match {
          case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation if a.getScale == d.scale =>
            def dec(v: Any): java.math.BigDecimal = tn match {
              case PrimitiveTypeName.INT32 =>
                java.math.BigDecimal.valueOf(v.asInstanceOf[Int].toLong, a.getScale)
              case PrimitiveTypeName.INT64 =>
                java.math.BigDecimal.valueOf(v.asInstanceOf[Long], a.getScale)
              case PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY | PrimitiveTypeName.BINARY =>
                new java.math.BigDecimal(new java.math.BigInteger(bin(v)), a.getScale)
              case _ => throw new IllegalStateException(s"decimal physical $tn")
            }
            scala.util.Try((dec(st.genericGetMin).toPlainString,
              dec(st.genericGetMax).toPlainString)).toOption
          case _ => None
        }
      case _ => None
    }
    decoded match {
      case Some((mn, mx)) => Some((mn, mx, nulls))
      case None if isStatsType(dt) => Some((null, null, nulls)) // keep null count only
      case None => Some((null, null, nulls))
    }
  }
}

/** Driver-side file skipping: decide from `add.stats` whether a file MIGHT
  * contain rows matching a predicate. Conservative — unknown expression
  * shapes keep the file. */
object Pruner {

  /** Spark 4 removed `Column.expr`; the classic converter recovers the
    * Catalyst expression behind a Column. */
  def exprOf(c: Column): Expression =
    org.apache.spark.sql.graft.ColumnExpr.of(c)

  def prune(
      files: Seq[AddFile],
      filters: Seq[Column],
      schema: StructType,
      bloom: BloomIndex = BloomIndex.disabled): Seq[AddFile] = {
    if (filters.isEmpty) files
    else {
      val exprs = filters.map(c => normalize(exprOf(c)))
      files.filter(f => exprs.forall(e => mightMatch(f, e, schema, bloom)))
    }
  }

  /** A Column built through the public DataFrame API arrives as a tree of
    * `analysis.UnresolvedFunction` nodes named "=", "<", "and", … (the
    * Spark 4 ColumnNode converter defers registry lookup to the analyzer).
    * Rewrite the comparison/boolean shell into concrete Catalyst predicates
    * so the stats matcher can pattern-match; anything unknown is left as-is
    * (treated conservatively). */
  def normalize(e: Expression): Expression = e match {
    case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
      val args = f.arguments.map(normalize)
      (f.nameParts.last.toLowerCase, args) match {
        case ("and", Seq(a, b)) => And(a, b)
        case ("or", Seq(a, b)) => Or(a, b)
        case ("not" | "!", Seq(a)) => Not(a)
        case ("=" | "==" | "equalto", Seq(a, b)) => EqualTo(a, b)
        case ("<", Seq(a, b)) => LessThan(a, b)
        case ("<=", Seq(a, b)) => LessThanOrEqual(a, b)
        case (">", Seq(a, b)) => GreaterThan(a, b)
        case (">=", Seq(a, b)) => GreaterThanOrEqual(a, b)
        case ("isnull", Seq(a)) => IsNull(a)
        case ("isnotnull", Seq(a)) => IsNotNull(a)
        case ("in", a +: rest) if rest.nonEmpty => In(a, rest)
        case ("startswith", Seq(a, b)) => StartsWith(a, b)
        case _ => e
      }
    case other => other.mapChildren(normalize)
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute => Some(u.nameParts.last)
    case Cast(c, _, _, _) => attrName(c) // cast-wrapped attr: use underlying stats conservatively
    case _ => None
  }

  def mightMatch(
      f: AddFile,
      e: Expression,
      schema: StructType,
      bloom: BloomIndex = BloomIndex.disabled): Boolean = {
    def field(n: String): Option[StructField] = schema.fields.find(_.name.equalsIgnoreCase(n))
    // A stat-lossy type widening (float→double, date→timestamp_ntz)
    // leaves OLD files' min/max encodings no longer exact bounds under
    // the current type (see graft.log.TypeWidening) — pruning trusts a
    // file's stats for the column only when its change-count tag proves
    // they were collected under the current type (post-widen writes and
    // OPTIMIZE rewrites carry it, so pruning heals as data rewrites).
    def stats(n: String): Option[(ColStats, DataType)] =
      for {
        fl <- field(n)
        if TypeWidening.statsExact(f, fl)
        s <- f.stats.get(fl.name)
      } yield (s, fl.dataType)
    // Bloom membership for an equality literal: cast the literal to the
    // COLUMN's type (the build side hashed column-typed values) and replay
    // Spark's xxhash64. Any failure to cast/hash keeps the file.
    def bloomMightHave(n: String, v: Any, dt: DataType): Boolean =
      field(n).forall { fl =>
        // blooms hash COLUMN-TYPED values and xxhash64(1: int) ≠
        // xxhash64(1L): a sidecar built under an unseen widening answers a
        // different hash domain — keep the file unless its change-count
        // tag proves the bloom hashed the current type
        !TypeWidening.bloomValid(f, fl) || {
        val casted =
          if (fl.dataType == dt) Some(v)
          else scala.util.Try(Cast(Literal(v, dt), fl.dataType,
            Some("UTC")).eval(null)).toOption
        casted match {
          case Some(cv) if cv != null =>
            val h = new XxHash64(Seq(Literal(cv, fl.dataType))).eval(null)
              .asInstanceOf[Long]
            bloom.mightContain(f, fl.name, h)
          case _ => true
        }
        }
      }
    def nonNullCount(n: String): Option[Long] =
      stats(n).map { case (s, _) => f.numRecords - s.nullCount }
    // [min,max] of file vs literal
    def cmpLit(n: String, v: Any, dt: DataType): Option[(Int, Int)] =
      stats(n).flatMap { case (s, fdt) =>
        if (s.min == null || s.max == null) None
        else {
          val lit = Stats.encodeInternal(v, dt)
          if (lit == null) None
          else if (fdt.getClass != dt.getClass && !(numeric(fdt) && numeric(dt))) None
          else scala.util.Try((Stats.compare(s.min, lit, fdt), Stats.compare(s.max, lit, fdt))).toOption
        }
      }
    def numeric(dt: DataType): Boolean = dt match {
      case _: NumericType => true; case _ => false
    }

    e match {
      case And(l, r) => mightMatch(f, l, schema, bloom) && mightMatch(f, r, schema, bloom)
      case Or(l, r) => mightMatch(f, l, schema, bloom) || mightMatch(f, r, schema, bloom)
      case EqualTo(a, Literal(v, dt)) if attrName(a).isDefined =>
        cmpLit(attrName(a).get, v, dt).forall { case (cMin, cMax) => cMin <= 0 && cMax >= 0 } &&
          bloomMightHave(attrName(a).get, v, dt)
      case EqualTo(Literal(v, dt), a) if attrName(a).isDefined =>
        mightMatch(f, EqualTo(a, Literal(v, dt)), schema, bloom)
      case LessThan(a, Literal(v, dt)) if attrName(a).isDefined =>
        cmpLit(attrName(a).get, v, dt).forall { case (cMin, _) => cMin < 0 }
      case LessThanOrEqual(a, Literal(v, dt)) if attrName(a).isDefined =>
        cmpLit(attrName(a).get, v, dt).forall { case (cMin, _) => cMin <= 0 }
      case GreaterThan(a, Literal(v, dt)) if attrName(a).isDefined =>
        cmpLit(attrName(a).get, v, dt).forall { case (_, cMax) => cMax > 0 }
      case GreaterThanOrEqual(a, Literal(v, dt)) if attrName(a).isDefined =>
        cmpLit(attrName(a).get, v, dt).forall { case (_, cMax) => cMax >= 0 }
      case LessThan(Literal(v, dt), a) if attrName(a).isDefined =>
        mightMatch(f, GreaterThan(a, Literal(v, dt)), schema)
      case LessThanOrEqual(Literal(v, dt), a) if attrName(a).isDefined =>
        mightMatch(f, GreaterThanOrEqual(a, Literal(v, dt)), schema)
      case GreaterThan(Literal(v, dt), a) if attrName(a).isDefined =>
        mightMatch(f, LessThan(a, Literal(v, dt)), schema)
      case GreaterThanOrEqual(Literal(v, dt), a) if attrName(a).isDefined =>
        mightMatch(f, LessThanOrEqual(a, Literal(v, dt)), schema)
      case In(a, vs) if attrName(a).isDefined && vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, dt) =>
          mightMatch(f, EqualTo(a, Literal(v, dt)), schema, bloom)
        }
      case IsNull(a) if attrName(a).isDefined =>
        stats(attrName(a).get).forall { case (s, _) => s.nullCount > 0 }
      case IsNotNull(a) if attrName(a).isDefined =>
        nonNullCount(attrName(a).get).forall(_ > 0)
      case StartsWith(a, Literal(v, StringType)) if attrName(a).isDefined =>
        // only the lower bound is sound: s having prefix p implies s >= p in
        // BOTH UTF-8-byte and UTF-16 orderings, so max < p excludes the
        // file. An upper-bound sentinel like p+'￿' is NOT sound — a
        // supplementary-plane character (4-byte UTF-8, surrogate UTF-16)
        // sorts above it in one ordering and below in the other, and the
        // two orderings disagree between the stats encoding and the JVM.
        val p = v.asInstanceOf[UTF8String].toString
        val lo = cmpLit(attrName(a).get, UTF8String.fromString(p), StringType)
        lo.forall { case (_, cMax) => cMax >= 0 }
      case _ => true
    }
  }
}
