package graft.log

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Path
import java.util.zip.CRC32

import org.roaringbitmap.RoaringBitmap
import org.roaringbitmap.longlong.Roaring64Bitmap

/** One Delta `add.deletionVector` descriptor, as the public protocol spec
  * defines it: `storageType` is `u` (a `deletion_vector_<uuid>.bin` file
  * under the table root, the uuid z85-packed into `pathOrInlineDv` after an
  * optional random directory prefix), `i` (the serialized bitmap itself
  * z85-packed inline), or `p` (an absolute path — refused on import, like
  * absolute add paths: the bytes do not live under the table root).
  * `offset` locates the vector inside a (possibly shared) `.bin` file;
  * `sizeInBytes` is the serialized bitmap's length; `cardinality` the
  * number of masked positions. */
case class DvDescriptor(
    storageType: String, pathOrInlineDv: String,
    offset: Int, sizeInBytes: Int, cardinality: Long)

/** Codec for deletion vectors in Delta Lake's on-disk form, written to the
  * PUBLIC protocol spec (reference behavior: notebooks/04_acid_operations.py
  * enables DVs via table properties; its DELETEs produce exactly these
  * sidecars). It is the engine's own vector format too — graft's DML writes
  * `.bin` files in this layout ([[DvStore]]), and Delta import copies a
  * Delta table's descriptors as they are:
  *
  *  - z85: ZeroMQ's base-85 (5 ASCII chars per 4 bytes, big-endian group
  *    value, the 85-char alphabet below) — how descriptors pack uuids and
  *    inline bitmaps into JSON-safe strings;
  *  - on-disk `.bin` layout: a 1-byte format version (1), then each vector
  *    as `<4-byte big-endian size><data><4-byte big-endian CRC-32 of
  *    data>` at its descriptor's offset (one file may hold many vectors);
  *  - the data itself: a portable "RoaringBitmapArray" — 4-byte
  *    little-endian magic 1681511377, 8-byte little-endian bitmap count,
  *    then that many standard-serialization 32-bit roaring bitmaps where
  *    bitmap i holds the low 32 bits of the masked positions whose high 32
  *    bits equal i.
  *
  * Decoded vectors become the engine's [[Roaring64Bitmap]] masks
  * ([[DvBitmap]]) — a bitmap-to-bitmap translation, never a row-position
  * explosion. */
object DeltaDv {

  /** Portable RoaringBitmapArray serialization magic (the only format the
    * Delta protocol standardizes). */
  val PortableMagic: Int = 1681511377

  private val Alphabet =
    ("0123456789abcdefghijklmnopqrstuvwxyz" +
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#").toCharArray
  private val Decode85: Array[Byte] = {
    val d = Array.fill[Byte](128)(-1)
    Alphabet.zipWithIndex.foreach { case (c, i) => d(c.toInt) = i.toByte }
    d
  }

  /** z85-encode (input length must be a multiple of 4). */
  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0,
      s"z85 encodes 4-byte groups; got ${bytes.length} bytes")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var k = 0
      while (k < 4) { v = (v << 8) | (bytes(i + k) & 0xFFL); k += 1 }
      var div = 85L * 85 * 85 * 85
      while (div > 0) {
        sb.append(Alphabet(((v / div) % 85).toInt))
        div /= 85
      }
      i += 4
    }
    sb.toString
  }

  /** z85-decode (input length must be a multiple of 5). */
  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0,
      s"z85 decodes 5-char groups; got ${s.length} chars")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var k = 0
      while (k < 5) {
        val c = s.charAt(i + k)
        val d = if (c < 128) Decode85(c.toInt) else -1
        require(d >= 0, s"invalid z85 character '$c' in '$s'")
        v = v * 85 + d
        k += 1
      }
      var k2 = 0
      while (k2 < 4) {
        out(i / 5 * 4 + k2) = ((v >>> (8 * (3 - k2))) & 0xFF).toByte
        k2 += 1
      }
      i += 5
    }
    out
  }

  /** Pack a uuid (+ optional directory prefix) the way a `u` descriptor's
    * `pathOrInlineDv` carries it: `<prefix><20-char z85 of the 16 uuid
    * bytes, most-significant long first>`. */
  def packUuid(uuid: java.util.UUID, prefix: String = ""): String = {
    val bb = ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits)
    bb.putLong(uuid.getLeastSignificantBits)
    prefix + z85Encode(bb.array())
  }

  /** Pack bitmap bytes the way an `i` (inline) descriptor's
    * `pathOrInlineDv` carries them: z85 of the data zero-padded to 4-byte
    * alignment (the descriptor's `sizeInBytes` recovers the true length). */
  def packInline(data: Array[Byte]): String = {
    val aligned =
      if (data.length % 4 == 0) data
      else java.util.Arrays.copyOf(data, data.length + (4 - data.length % 4))
    z85Encode(aligned)
  }

  /** Relative path (under the table root) of a `u` descriptor's vector
    * file: `<prefix>/deletion_vector_<uuid>.bin`. */
  def relativeFile(d: DvDescriptor): String = {
    require(d.storageType == "u", s"not a file-backed descriptor: $d")
    val enc = d.pathOrInlineDv
    require(enc.length >= 20,
      s"pathOrInlineDv '$enc' is too short to carry a z85 uuid")
    val prefix = enc.dropRight(20)
    val bytes = z85Decode(enc.takeRight(20))
    val bb = ByteBuffer.wrap(bytes)
    val uuid = new java.util.UUID(bb.getLong, bb.getLong)
    val name = s"deletion_vector_$uuid.bin"
    if (prefix.isEmpty) name else s"$prefix/$name"
  }

  /** Fetch + verify one descriptor's serialized bitmap bytes. `rootStr` is
    * the table root as a Hadoop-FS-resolvable string — runs on executors
    * (the import decodes vectors distributed), so all file IO goes through
    * the Hadoop FileSystem API (local paths and object stores alike). */
  def readData(rootStr: String,
      d: DvDescriptor,
      conf: org.apache.hadoop.conf.Configuration): Array[Byte] = d.storageType match {
    case "i" =>
      // inline data is zero-padded to the 4-byte z85 alignment; the
      // descriptor's sizeInBytes recovers the true length
      val padded = z85Decode(d.pathOrInlineDv)
      require(padded.length >= d.sizeInBytes &&
        padded.length - d.sizeInBytes < 4,
        s"inline deletion vector decodes to ${padded.length} bytes, " +
          s"descriptor says ${d.sizeInBytes}")
      padded.take(d.sizeInBytes)
    case "u" =>
      val p = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(rootStr), relativeFile(d))
      val fs = p.getFileSystem(conf)
      val in = fs.open(p)
      try {
        val version = in.readByte()
        require(version == 1,
          s"deletion vector file $p has format version $version (only 1 " +
            "is specified)")
        in.seek(d.offset.toLong)
        val size = in.readInt() // big-endian, per the spec
        require(size == d.sizeInBytes,
          s"deletion vector at $p offset ${d.offset} is $size bytes, " +
            s"descriptor says ${d.sizeInBytes}")
        val data = new Array[Byte](size)
        in.readFully(data)
        val stored = in.readInt()
        val crc = new CRC32()
        crc.update(data)
        require((stored & 0xFFFFFFFFL) == crc.getValue,
          s"deletion vector at $p offset ${d.offset} fails its CRC-32 " +
            "check — refusing to apply a corrupt mask")
        data
      } finally in.close()
    case other =>
      throw new IllegalArgumentException(
        s"deletion vector storageType '$other' is not importable " +
          "(absolute-path vectors do not live under the table root)")
  }

  /** Parse a portable RoaringBitmapArray into the engine's 64-bit roaring
    * mask. Refuses non-portable magics loudly (the spec standardizes only
    * the portable format). */
  def toRoaring64(data: Array[Byte]): Roaring64Bitmap = {
    require(data.length >= 12, s"deletion vector data too short: ${data.length}")
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == PortableMagic,
      s"RoaringBitmapArray magic $magic is not the portable format " +
        s"($PortableMagic) — cannot decode")
    val n = bb.getLong
    require(n >= 0 && n <= Int.MaxValue, s"implausible bitmap count $n")
    val out = new Roaring64Bitmap()
    val dis = new DataInputStream(
      new ByteArrayInputStream(data, bb.position(), data.length - bb.position()))
    var i = 0L
    while (i < n) {
      val rb = new RoaringBitmap()
      rb.deserialize(dis)
      val it = rb.getIntIterator
      while (it.hasNext) out.addLong((i << 32) | (it.next() & 0xFFFFFFFFL))
      i += 1
    }
    out
  }

  /** Encode masked positions as a portable RoaringBitmapArray (the inverse
    * of [[toRoaring64]]). */
  def serializeArray(positions: Iterable[Long]): Array[Byte] = {
    val bm = new Roaring64Bitmap()
    positions.foreach { p =>
      require(p >= 0, "positions must be non-negative")
      bm.addLong(p)
    }
    fromRoaring64(bm)
  }

  /** The engine's 64-bit mask as a portable RoaringBitmapArray (positions
    * are row indexes, so never negative). */
  def fromRoaring64(bm: Roaring64Bitmap): Array[Byte] = {
    val subs = scala.collection.mutable.ArrayBuffer.empty[RoaringBitmap]
    val it = bm.getLongIterator
    while (it.hasNext) {
      val p = it.next()
      val hi = (p >>> 32).toInt
      while (subs.size <= hi) subs += new RoaringBitmap()
      subs(hi).add(p.toInt)
    }
    val header = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
    header.putInt(PortableMagic)
    header.putLong(subs.size.toLong)
    val bos = new ByteArrayOutputStream()
    bos.write(header.array())
    val dos = new DataOutputStream(bos)
    subs.foreach { rb => rb.runOptimize(); rb.serialize(dos) }
    dos.flush()
    bos.toByteArray
  }

  /** A spec-shaped `.bin` file holding `datas` back to back (version byte,
    * then `<size BE><data><crc BE>` per vector), and each vector's
    * descriptor offset. */
  def encodeDvFile(datas: Seq[Array[Byte]]): (Array[Byte], Seq[Int]) = {
    val bos = new ByteArrayOutputStream()
    val dos = new DataOutputStream(bos)
    dos.writeByte(1)
    val offsets = datas.map { d =>
      val off = bos.size()
      dos.writeInt(d.length)
      dos.write(d)
      val crc = new CRC32()
      crc.update(d)
      dos.writeInt(crc.getValue.toInt)
      off
    }
    dos.flush()
    (bos.toByteArray, offsets)
  }

  /** Write [[encodeDvFile]]'s bytes to `target`; returns the offsets. */
  def writeDvFile(target: Path, datas: Seq[Array[Byte]]): Seq[Int] = {
    val (bytes, offsets) = encodeDvFile(datas)
    java.nio.file.Files.createDirectories(target.getParent)
    java.nio.file.Files.write(target, bytes)
    offsets
  }
}
