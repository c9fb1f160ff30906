package graft.migrate

import java.nio.file.Files

import graft.SparkSpec
import graft.log.{DeltaDv, DvDescriptor}

/** The Delta deletion-vector codec against the PUBLIC specs it implements:
  * ZeroMQ's z85 (spec test vector included), the portable
  * RoaringBitmapArray container, and the CRC-checked `.bin` file layout. */
class DeltaDvSpec extends SparkSpec {

  test("z85 matches the ZeroMQ spec test vector and round-trips") {
    // the spec's canonical vector: 86 4F D2 6F B5 59 F7 5B <-> "HelloWorld"
    val helloWorld = Array(0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B)
      .map(_.toByte)
    DeltaDv.z85Encode(helloWorld) shouldBe "HelloWorld"
    DeltaDv.z85Decode("HelloWorld").toSeq shouldBe helloWorld.toSeq
    // arbitrary round-trips, including bytes >= 0x80
    val rnd = new scala.util.Random(42)
    (0 until 20).foreach { _ =>
      val bytes = Array.fill((1 + rnd.nextInt(8)) * 4)(rnd.nextInt(256).toByte)
      DeltaDv.z85Decode(DeltaDv.z85Encode(bytes)).toSeq shouldBe bytes.toSeq
    }
    intercept[IllegalArgumentException](DeltaDv.z85Encode(Array[Byte](1, 2)))
    intercept[IllegalArgumentException](DeltaDv.z85Decode("abc"))
    intercept[IllegalArgumentException](DeltaDv.z85Decode("abcdé")) // non-alphabet
  }

  test("uuid packing resolves to the spec's file name, prefix preserved") {
    val uuid = java.util.UUID.fromString("0a1b2c3d-1111-2222-3333-444455556666")
    val plain = DeltaDv.packUuid(uuid)
    plain.length shouldBe 20
    DeltaDv.relativeFile(DvDescriptor("u", plain, 1, 10, 1)) shouldBe
      s"deletion_vector_$uuid.bin"
    val prefixed = DeltaDv.packUuid(uuid, prefix = "ab")
    prefixed.length shouldBe 22
    DeltaDv.relativeFile(DvDescriptor("u", prefixed, 1, 10, 1)) shouldBe
      s"ab/deletion_vector_$uuid.bin"
  }

  test("RoaringBitmapArray round-trips: empty, dense, >2^32 positions, " +
    "gap bitmaps; non-portable magic refuses") {
    def roundTrip(positions: Seq[Long]): Unit = {
      val bm = DeltaDv.toRoaring64(DeltaDv.serializeArray(positions))
      bm.getLongCardinality shouldBe positions.distinct.size
      positions.foreach(p => assert(bm.contains(p), s"missing $p"))
    }
    roundTrip(Seq(0L, 1L, 7L))
    roundTrip(0L until 10000L)
    // high-word positions force multiple sub-bitmaps, with index 1 EMPTY
    // (the container still serializes it to keep indexes aligned)
    roundTrip(Seq(3L, (2L << 32) | 5L, (2L << 32) | 9L))
    roundTrip(Seq.empty)
    val bad = DeltaDv.serializeArray(Seq(1L, 2L))
    bad(0) = (bad(0) ^ 1).toByte // flip a magic bit
    intercept[IllegalArgumentException](DeltaDv.toRoaring64(bad))
      .getMessage should include("magic")
  }

  test("spec-shaped .bin files: ranged multi-vector reads verify size and " +
    "CRC; corruption refuses; inline padding recovers the true length") {
    val conf = new org.apache.hadoop.conf.Configuration()
    val root = tmpDir("dv-bin")
    val dataA = DeltaDv.serializeArray(Seq(1L, 3L))
    val dataB = DeltaDv.serializeArray(Seq(0L, 2L, 4L))
    val uuid = java.util.UUID.randomUUID()
    val rel = s"ab/deletion_vector_$uuid.bin"
    val offsets = DeltaDv.writeDvFile(root.resolve(rel), Seq(dataA, dataB))
    offsets.head shouldBe 1 // right after the version byte
    val enc = DeltaDv.packUuid(uuid, prefix = "ab")
    def desc(off: Int, data: Array[Byte], card: Long) =
      DvDescriptor("u", enc, off, data.length, card)
    DeltaDv.readData(root.toString, desc(offsets(0), dataA, 2), conf)
      .toSeq shouldBe dataA.toSeq
    DeltaDv.readData(root.toString, desc(offsets(1), dataB, 3), conf)
      .toSeq shouldBe dataB.toSeq
    // corrupt ONE data byte of vector B: its CRC refuses, A still reads
    val bytes = Files.readAllBytes(root.resolve(rel))
    bytes(offsets(1) + 4 + 2) = (bytes(offsets(1) + 4 + 2) ^ 0x40).toByte
    Files.write(root.resolve(rel), bytes)
    intercept[IllegalArgumentException] {
      DeltaDv.readData(root.toString, desc(offsets(1), dataB, 3), conf)
    }.getMessage should include("CRC")
    DeltaDv.readData(root.toString, desc(offsets(0), dataA, 2), conf)
      .toSeq shouldBe dataA.toSeq
    // a size mismatch between file and descriptor refuses
    intercept[IllegalArgumentException] {
      DeltaDv.readData(root.toString,
        DvDescriptor("u", enc, offsets(0), dataA.length + 1, 2), conf)
    }.getMessage should include("bytes")
    // inline: zero-padded z85, sizeInBytes recovers the exact data
    val inline = DvDescriptor("i", DeltaDv.packInline(dataA), 0, dataA.length, 2)
    DeltaDv.readData(root.toString, inline, conf).toSeq shouldBe dataA.toSeq
    DeltaDv.toRoaring64(DeltaDv.readData(root.toString, inline, conf))
      .getLongCardinality shouldBe 2
    // absolute-path vectors refuse
    intercept[IllegalArgumentException] {
      DeltaDv.readData(root.toString,
        DvDescriptor("p", "/elsewhere/dv.bin", 1, 10, 1), conf)
    }.getMessage should include("storageType")
  }
}
