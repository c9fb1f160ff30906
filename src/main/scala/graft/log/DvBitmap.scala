package graft.log

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnExpr, Local}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Deletion-vector bitmap kernel: per-file masked row positions as 64-bit
  * roaring bitmaps (the representation Delta's DV spec uses, reference
  * notebooks/04_acid_operations.py:70-118 exercises the behavior), built
  * map-side (one bitmap per file and task, ORed on the driver) and probed
  * by the masked-read filter. On disk they take Delta's portable form ([[DeltaDv]]); in
  * Spark rows and broadcasts, this object's serialization.
  *
  * Why bitmaps instead of one `(file, idx)` parquet row per masked position:
  * a commit's vector write then costs O(bitmap bytes of the touched files)
  * instead of O(all masked positions ever), and the masked-read filter is a
  * broadcast of per-file bitmaps (KBs-MBs, run-compressed) instead of an
  * anti-join against millions of path-string rows. Both costs stay flat as
  * masks accumulate — the property that makes DV merges cheaper than rewrite
  * merges at any scale.
  */
object DvBitmap {

  /** Positions ≥ this many in a table's live vectors fall back from the
    * broadcast bitmap filter to a distributed anti-join (explode the
    * bitmaps back to rows) — no driver/broadcast memory cliff. Tunable per
    * session via `graft.dv.broadcastMaxMasks` (lower it on memory-tight
    * drivers; raise it when masks are dense runs that compress well). */
  val BroadcastMaxMasksDefault: Long = 32L * 1000 * 1000

  def broadcastMaxMasks(spark: org.apache.spark.sql.SparkSession): Long =
    scala.util.Try(spark.conf.get("graft.dv.broadcastMaxMasks").toLong)
      .getOrElse(BroadcastMaxMasksDefault)

  def serialize(bm: Roaring64Bitmap): Array[Byte] = {
    bm.runOptimize()
    val bos = new ByteArrayOutputStream(math.max(64, bm.serializedSizeInBytes().toInt))
    val dos = new DataOutputStream(bos)
    bm.serialize(dos)
    dos.close()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Roaring64Bitmap = {
    val bm = new Roaring64Bitmap()
    bm.deserialize(new DataInputStream(new ByteArrayInputStream(bytes)))
    bm
  }

  /** Reader-reported `_metadata.file_path` (URL-encoded `file:` URI) → the
    * tx-log's canonical absolute path, as a Catalyst expression with the
    * exact semantics of [[Stats.stripScheme]] (`URI.getPath`): decode
    * %-escapes but NOT `+`, collapse leading slashes, leave non-`file:`
    * schemes untouched. */
  def stripPathCol(c: Column): Column = {
    val noScheme = regexp_replace(c, "^file:", "")
    when(c.startsWith("file:"),
      regexp_replace(url_decode(regexp_replace(noScheme, "\\+", "%2B")), "^/+", "/"))
      .otherwise(c)
  }

  /** What a map-side mask pass returns: per-file masks keyed by canonical
    * path ([[Stats.stripScheme]] of the reader path), and how many rows the
    * pass read and their in-memory bytes, so a write of those rows is
    * sized before it runs. */
  final case class MaskPass(masks: Map[String, Roaring64Bitmap], rows: Long, bytes: Long,
      kept: Option[Seq[InternalRow]] = None)

  /** One task's copies of the rows it read, while they total at most
    * `cap` bytes; past it, none. */
  final class TaskRows(cap: Long) {
    private val rows = mutable.ArrayBuffer.empty[InternalRow]
    private var bytes = 0L
    def add(r: InternalRow, size: Long): Unit = if (bytes <= cap) {
      bytes += size
      if (bytes <= cap) rows += r.copy() else rows.clear()
    }
    def result: Option[Seq[InternalRow]] = if (bytes <= cap) Some(rows.toSeq) else None
  }

  /** Every task's kept rows, when each kept them all and together they
    * fit `cap`. */
  def keptRows(parts: Seq[Option[Seq[InternalRow]]], bytes: Long,
      cap: Long): Option[Seq[InternalRow]] =
    if (cap <= 0 || bytes > cap || parts.exists(_.isEmpty)) None
    else Some(parts.flatMap(_.get))

  /** One task's share of a map-side mask build: each position ORed into
    * its file's bitmap. Input arrives clustered by file, so the last
    * file's bitmap is memoized. */
  final class TaskMasks {
    private val byFile = mutable.HashMap.empty[String, Roaring64Bitmap]
    private var lastFile: UTF8String = _
    private var lastBitmap: Roaring64Bitmap = _

    def add(file: UTF8String, idx: Long): Unit = {
      if (lastFile == null || !lastFile.equals(file)) {
        lastFile = file.clone()
        lastBitmap = byFile.getOrElseUpdate(lastFile.toString, new Roaring64Bitmap())
      }
      lastBitmap.addLong(idx)
    }

    def result: Map[String, Array[Byte]] =
      byFile.iterator.map { case (f, bm) => f -> serialize(bm) }.toMap
  }

  /** The tasks' masks ORed per file on the driver, keyed by canonical path. */
  def orMasks(parts: Iterable[Map[String, Array[Byte]]]): Map[String, Roaring64Bitmap] = {
    val out = mutable.HashMap.empty[String, Roaring64Bitmap]
    for (part <- parts; (f, bytes) <- part) {
      val bm = deserialize(bytes)
      val key = Stats.stripScheme(f)
      out.get(key) match {
        case Some(acc) => acc.or(bm)
        case None => out(key) = bm
      }
    }
    out.toMap
  }

  /** A row's in-memory size (its unsafe form). */
  def rowBytes(r: InternalRow, toUnsafe: => UnsafeProjection): Long = r match {
    case u: UnsafeRow => u.getSizeInBytes.toLong
    case other => toUnsafe(other).getSizeInBytes.toLong
  }

  /** Per-file masks of a position-carrying frame (`__file` reader path,
    * `__idx` row position; a null position masks nothing), built
    * map-side: each task builds one bitmap per file it reads and the
    * driver ORs them. One job, no shuffle. Counts every row and its
    * bytes, and brings the rows themselves back when they total at most
    * `keepBytes`. */
  def collectMasks(rows: DataFrame, keepBytes: Long = 0L): MaskPass = {
    val schema = rows.schema
    val fi = schema.fieldIndex("__file")
    val ii = schema.fieldIndex("__idx")
    val parts = Local.mapPartitions(rows) { it =>
      val masks = new TaskMasks
      val kept = new TaskRows(keepBytes)
      lazy val toUnsafe = UnsafeProjection.create(schema)
      var n, bytes = 0L
      it.foreach { r =>
        val size = rowBytes(r, toUnsafe)
        n += 1
        bytes += size
        if (!r.isNullAt(fi) && !r.isNullAt(ii)) masks.add(r.getUTF8String(fi), r.getLong(ii))
        if (keepBytes > 0) kept.add(r, size)
      }
      (masks.result, n, bytes, kept.result)
    }
    val bytes = parts.map(_._3).sum
    MaskPass(orMasks(parts.map(_._1)), parts.map(_._2).sum, bytes,
      keptRows(parts.map(_._4), bytes, keepBytes))
  }

  def toLongArray(bitmap: Column): Column =
    ColumnExpr.toColumn(BitmapToArray(ColumnExpr.of(bitmap)))

  /** Row-level mask filter: true when (file, idx) is NOT in the broadcast
    * per-file bitmaps. Keys are canonical absolute paths ([[stripPathCol]]);
    * the probe column is the raw reader path — stripping is memoized on the
    * (file-clustered) input so it runs once per file, not once per row. */
  def notMasked(file: Column, idx: Column,
      bitmaps: Broadcast[Map[String, Array[Byte]]], maskedTotal: Long): Column =
    ColumnExpr.toColumn(
      DvNotMasked(ColumnExpr.of(file), ColumnExpr.of(idx), bitmaps, maskedTotal))

  /** Filter a position-carrying frame (`__file` reader path, `__idx` row
    * index) through deletion vectors masking `maskedTotal` rows. Up to
    * [[broadcastMaxMasks]], the per-file `bitmaps` (canonical path ->
    * serialized bitmap) are broadcast and probed by [[notMasked]] — no join
    * and no extra query. Past it, `bitmapRows` (`__path`, `__bitmap`,
    * decoded on executors) explode back to positions and anti-join (fully
    * distributed, no driver memory cliff). */
  def dropMasked(withPos: DataFrame, maskedTotal: Long,
      bitmaps: => Broadcast[Map[String, Array[Byte]]],
      bitmapRows: => DataFrame): DataFrame =
    if (maskedTotal <= broadcastMaxMasks(withPos.sparkSession))
      withPos.filter(notMasked(col("__file"), col("__idx"), bitmaps, maskedTotal))
    else dropPositions(withPos, bitmapRows.select(col("__path"),
      explode(toLongArray(col("__bitmap"))).as("__idx")))

  /** Drop the rows of a position-carrying frame whose (canonical file
    * path, row index) `positions` lists as (`__path`, `__idx`). */
  def dropPositions(withPos: DataFrame, positions: DataFrame): DataFrame =
    withPos.withColumn("__path", stripPathCol(col("__file")))
      .join(positions, Seq("__path", "__idx"), "left_anti")
      .drop("__path")
}

/** Serialized bitmap → sorted `array<long>` of positions (the distributed
  * fallback read path explodes this back into anti-join rows). */
case class BitmapToArray(child: Expression) extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      DvBitmap.deserialize(v.asInstanceOf[Array[Byte]]).toArray)
  override protected def withNewChildInternal(c: Expression): BitmapToArray =
    copy(child = c)
  override def prettyName: String = "dv_bitmap_to_array"
}

/** Codegen'd mask probe: NOT(bitmaps(strip(file)).contains(idx)). The
  * decoded-bitmap cache and the last-file memo are executor-side transients;
  * the memo is a single reference (no torn reads across threads — worst
  * case a redundant map lookup). */
/** `maskedTotal` (the snapshot-known Σ numDeleted of the broadcast
  * bitmaps) rides along so the metadata-only count rule can answer
  * `count(*)` over a masked scan without touching the bitmaps; it is
  * trusted to match `bitmaps` — only [[graft.table]]'s dvMaskJoin
  * constructs this expression. */
case class DvNotMasked(
    file: Expression,
    idx: Expression,
    bitmaps: Broadcast[Map[String, Array[Byte]]],
    maskedTotal: Long)
  extends Expression {

  override def children: Seq[Expression] = Seq(file, idx)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  @transient private lazy val decoded =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Roaring64Bitmap]]()
  @transient private var memo: (UTF8String, Roaring64Bitmap) = _

  def notMasked(f: UTF8String, i: Long): Boolean = {
    val m = memo
    val bm =
      if (m != null && m._1.equals(f)) m._2
      else {
        val key = Stats.stripScheme(f.toString)
        val b = decoded.computeIfAbsent(key,
          _ => bitmaps.value.get(key).map(DvBitmap.deserialize)).orNull
        memo = (f.clone(), b)
        b
      }
    bm == null || !bm.contains(i)
  }

  override def eval(input: InternalRow): Any = {
    val f = file.eval(input)
    if (f == null) true
    else {
      val i = idx.eval(input)
      if (i == null) true
      else notMasked(f.asInstanceOf[UTF8String], i.asInstanceOf[Long])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dvNotMasked", this, classOf[DvNotMasked].getName)
    val f = file.genCode(ctx)
    val i = idx.genCode(ctx)
    ev.copy(code =
      code"""
        ${f.code}
        ${i.code}
        boolean ${ev.value} = true;
        if (!${f.isNull} && !${i.isNull}) {
          ${ev.value} = $self.notMasked(${f.value}, ${i.value});
        }
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(file = newChildren(0), idx = newChildren(1))
  override def prettyName: String = "dv_not_masked"
}
