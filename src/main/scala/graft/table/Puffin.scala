package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.nio.{ByteBuffer, ByteOrder}

import scala.jdk.CollectionConverters._

import graft.log.LogStore

/** Iceberg Puffin statistics files, written and read to the PUBLIC Puffin
  * spec (file layout: `Magic Blob₁…Blobₙ Footer`; footer layout:
  * `Magic FooterPayload FooterPayloadSize Flags Magic`, payload a JSON
  * object listing each blob's type/fields/offset/length) — the format
  * Iceberg's `statistics` metadata entries point at. Only the
  * `apache-datasketches-theta-v1` blob type is produced or consumed (the
  * NDV sketch type the Iceberg spec defines); unknown blob types and
  * compressed blobs are skipped on read, never fatal — dropping a
  * statistic is always safe, mis-decoding one is not. */
object Puffin {

  val Magic: Array[Byte] = Array[Byte](0x50, 0x46, 0x41, 0x31) // "PFA1"
  val ThetaBlobType = "apache-datasketches-theta-v1"

  /** One statistics blob: a serialized compact theta sketch for the single
    * field id it covers, plus the `ndv` property Iceberg tooling reads. */
  case class Blob(blobType: String, fields: Seq[Int], snapshotId: Long,
      sequenceNumber: Long, bytes: Array[Byte],
      properties: Map[String, String])

  private val jackson = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  /** Write `blobs` as one Puffin file at `path` (uncompressed payload and
    * blobs — zstd is optional in the spec and omitting it keeps every
    * reader able). Returns (file size, footer size) — both recorded in the
    * Iceberg `statistics` metadata entry. */
  def write(store: LogStore, path: Path, blobs: Seq[Blob],
      createdBy: String): (Long, Long) = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic)
    val metas = blobs.map { b =>
      val offset = out.size().toLong
      out.write(b.bytes)
      Map[String, Any](
        "type" -> b.blobType,
        "fields" -> b.fields,
        "snapshot-id" -> b.snapshotId,
        "sequence-number" -> b.sequenceNumber,
        "offset" -> offset,
        "length" -> b.bytes.length.toLong) ++
        (if (b.properties.isEmpty) Map.empty[String, Any]
         else Map("properties" -> b.properties))
    }
    val payload = jackson.writeValueAsBytes(Map(
      "blobs" -> metas,
      "properties" -> Map("created-by" -> createdBy)))
    val footerStart = out.size()
    out.write(Magic)
    out.write(payload)
    val tail = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    tail.putInt(payload.length)
    tail.putInt(0) // flags: payload uncompressed
    out.write(tail.array())
    out.write(Magic)
    val bytes = out.toByteArray
    require(store.writeAtomic(path, bytes, overwrite = false),
      s"statistics file name collided: $path")
    (bytes.length.toLong, (bytes.length - footerStart).toLong)
  }

  /** Read every decodable blob from the Puffin file at `path`. Blobs of
    * unknown types, compressed blobs, and a compressed footer are SKIPPED
    * (empty result at worst) — statistics are advisory, so partial or
    * absent decode is safe while a wrong decode is not. A structurally
    * torn file (bad magic) refuses loudly. */
  def read(store: LogStore, path: Path): Seq[Blob] = {
    val bytes = store.readBytes(path)
    require(bytes.length >= 20 &&
      bytes.take(4).sameElements(Magic) &&
      bytes.takeRight(4).sameElements(Magic),
      s"$path is not a Puffin file (magic mismatch)")
    val tail = ByteBuffer.wrap(bytes, bytes.length - 12, 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    val payloadSize = tail.getInt()
    val flags = tail.getInt()
    if ((flags & 1) != 0) return Nil // compressed footer: skip, advisory
    val payloadStart = bytes.length - 12 - payloadSize
    require(payloadStart >= 8 && bytes.slice(payloadStart - 4, payloadStart)
        .sameElements(Magic),
      s"$path footer does not start with the Puffin magic")
    val payload = jackson.readTree(new String(
      bytes, payloadStart, payloadSize, StandardCharsets.UTF_8))
    Option(payload.get("blobs")).toSeq.flatMap(_.elements().asScala).flatMap {
      b =>
        val codec = Option(b.get("compression-codec")).map(_.asText())
        if (codec.exists(_.nonEmpty)) None // compressed blob: skip
        else {
          val off = b.get("offset").asLong()
          val len = b.get("length").asLong().toInt
          if (off < 4 || off + len > bytes.length - 12 - payloadSize - 4) None
          else Some(Blob(
            b.get("type").asText(),
            Option(b.get("fields")).toSeq
              .flatMap(_.elements().asScala).map(_.asInt()).toSeq,
            Option(b.get("snapshot-id")).map(_.asLong()).getOrElse(-1L),
            Option(b.get("sequence-number")).map(_.asLong()).getOrElse(-1L),
            java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len),
            Option(b.get("properties")).map(p =>
              p.properties().asScala
                .map(e => e.getKey -> e.getValue.asText()).toMap)
              .getOrElse(Map.empty)))
        }
    }.toSeq
  }

  /** NDV estimate of a serialized compact theta sketch (None when the
    * bytes do not decode — advisory, never fatal). */
  def thetaEstimate(bytes: Array[Byte]): Option[Long] =
    scala.util.Try {
      Math.round(org.apache.datasketches.theta.CompactSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(bytes)).getEstimate)
    }.toOption

  /** Write a table's theta sidecar — `{"analyzedAtVersion": v, "columns":
    * {column: base64 compact sketch}}` — at `root/rel`, the file the
    * `graft.stats.thetaSidecar` property names and the Uniform export
    * publishes as Puffin statistics. */
  def writeThetaSidecar(store: LogStore, root: Path, rel: String,
      analyzedAt: Long, sketches: Seq[(String, Array[Byte])]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("analyzedAtVersion", analyzedAt)
    val cols = node.putObject("columns")
    sketches.foreach { case (c, b) =>
      cols.put(c, java.util.Base64.getEncoder.encodeToString(b)): Unit }
    store.writeAtomic(root.resolve(rel), m.writeValueAsBytes(node), overwrite = true): Unit
  }
}
