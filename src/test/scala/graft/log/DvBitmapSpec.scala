package graft.log

import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.SparkSpec

/** The deletion-vector bitmap kernel in isolation: serialization
  * round-trips, the map-side mask build against a plain collect-based model,
  * the explode path, and the codegen'd mask filter. */
class DvBitmapSpec extends SparkSpec {
  import spark.implicits._

  test("serialize/deserialize round-trips, including >2^31 positions") {
    val bm = new Roaring64Bitmap()
    val positions = Seq(0L, 1L, 7L, 1000000L, Int.MaxValue.toLong + 17L, 1L << 40)
    positions.foreach(bm.addLong)
    val back = DvBitmap.deserialize(DvBitmap.serialize(bm))
    positions.foreach(p => assert(back.contains(p), s"lost position $p"))
    back.getLongCardinality shouldBe positions.size.toLong
    assert(!back.contains(2L))
  }

  test("collectMasks builds per-file bitmaps map-side matching a collect-based model") {
    // every file spread over every task: each task builds its own bitmap
    // per file and the driver ORs them
    val rows = (0 until 10000).map(i => (s"/data/f${i % 7}", i.toLong * 3))
    val df = rows.toDF("__file", "__idx").repartition(8)
    val pass = DvBitmap.collectMasks(df)
    val model = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    pass.rows shouldBe rows.size.toLong
    pass.bytes should be > 0L
    pass.masks.keySet shouldBe model.keySet
    model.foreach { case (f, idxs) =>
      val bm = pass.masks(f)
      bm.getLongCardinality shouldBe idxs.size.toLong
      idxs.foreach(i => assert(bm.contains(i)))
      assert(!bm.contains(1L)) // idx*3 never equals 1
    }
    // reader paths key by their canonical form; a null position masks nothing
    val uri = Seq(("file:///data/f%201", Some(2L)), ("file:/data/f%201", Some(5L)),
      ("/data/g", None)).toDF("__file", "__idx")
    val byUri = DvBitmap.collectMasks(uri)
    byUri.rows shouldBe 3L
    byUri.masks.keySet shouldBe Set("/data/f 1")
    byUri.masks("/data/f 1").toArray.toSeq shouldBe Seq(2L, 5L)
  }

  test("toLongArray explodes a bitmap back sorted and deduped") {
    def ser(idxs: Seq[Long]): Array[Byte] = {
      val bm = new Roaring64Bitmap(); idxs.foreach(bm.addLong); DvBitmap.serialize(bm)
    }
    val arr = Seq(("a", ser(Seq(9L, 1L, 5L, 5L))), ("b", ser(Seq(2L))))
      .toDF("__path", "__bitmap")
      .select(col("__path"), DvBitmap.toLongArray(col("__bitmap")).as("idxs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    arr("a") shouldBe Seq(1L, 5L, 9L)
    arr("b") shouldBe Seq(2L)
  }

  test("notMasked filter drops exactly the masked (file, idx) pairs") {
    def ser(idxs: Seq[Long]): Array[Byte] = {
      val bm = new Roaring64Bitmap(); idxs.foreach(bm.addLong); DvBitmap.serialize(bm)
    }
    val bc = spark.sparkContext.broadcast(Map(
      "/data/f0" -> ser(Seq(1L, 3L)), "/data/f1" -> ser(Seq(0L))))
    val rows = for (f <- 0 to 2; i <- 0L to 4L) yield (s"/data/f$f", i)
    val df = rows.toDF("__file", "__idx")
    val kept = df.filter(DvBitmap.notMasked(col("__file"), col("__idx"), bc, 3L))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    kept should not contain ("/data/f0" -> 1L)
    kept should not contain ("/data/f0" -> 3L)
    kept should not contain ("/data/f1" -> 0L)
    kept.size shouldBe 15 - 3 // f2 is unmasked entirely
  }

  test("stripPathCol mirrors Stats.stripScheme on encoded file: URIs") {
    val cases = Seq(
      "file:/root/plain/part-0.parquet",
      "file:///root/slashes/part-0.parquet",
      "file:/root/t%20dir/k%3D1/part%25x.parquet", // space, '=', '%'
      "file:/root/plus+name/part-0.parquet",       // '+' must stay literal
      "hdfs://nn:8020/other/scheme.parquet",       // untouched
      "/root/already/stripped.parquet")
    val got = cases.toDF("__file")
      .select(DvBitmap.stripPathCol(col("__file")))
      .collect().map(_.getString(0))
    got should contain theSameElementsInOrderAs cases.map(Stats.stripScheme)
  }
}
