package graft.log

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnExpr
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Deletion-vector bitmap kernel: per-file masked row positions as 64-bit
  * roaring bitmaps (the representation Delta's DV spec uses, reference
  * notebooks/04_acid_operations.py:70-118 exercises the behavior), built
  * distributively by a typed aggregate and probed by the masked-read
  * filter. On disk they take Delta's portable form ([[DeltaDv]]); in
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

  /** Aggregate long row positions into one serialized bitmap per group. */
  def aggPositions(idx: Column): Column =
    ColumnExpr.toColumn(RoaringPositionsAgg(ColumnExpr.of(idx)).toAggregateExpression())

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

/** `TypedImperativeAggregate` building a [[Roaring64Bitmap]] from row
  * positions. Runs under ObjectHashAggregate with partial (map-side)
  * aggregation: what shuffles is one partial bitmap per (file × map task),
  * not the position rows themselves. */
case class RoaringPositionsAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Roaring64Bitmap]
  with UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Roaring64Bitmap = new Roaring64Bitmap()

  override def update(b: Roaring64Bitmap, row: InternalRow): Roaring64Bitmap = {
    val v = child.eval(row)
    if (v != null) b.addLong(v.asInstanceOf[Long])
    b
  }

  override def merge(b: Roaring64Bitmap, o: Roaring64Bitmap): Roaring64Bitmap = {
    b.or(o); b
  }

  override def eval(b: Roaring64Bitmap): Any = DvBitmap.serialize(b)
  override def serialize(b: Roaring64Bitmap): Array[Byte] = DvBitmap.serialize(b)
  override def deserialize(bytes: Array[Byte]): Roaring64Bitmap = DvBitmap.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): RoaringPositionsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): RoaringPositionsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): RoaringPositionsAgg =
    copy(child = c)
  override def prettyName: String = "dv_bitmap_agg"
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
