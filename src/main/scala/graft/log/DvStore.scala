package graft.log

import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.roaringbitmap.longlong.Roaring64Bitmap

/** The engine's deletion-vector store: one writer and the descriptor
  * readers every vector goes through.
  *
  * A DML commit, a Delta or Iceberg import and a shallow clone all hand
  * [[write]] per-file position bitmaps; it ORs in the files' current
  * masks and writes ONE `.bin` under `dv/` holding every vector of the
  * call, in Delta's layout ([[DeltaDv]]), returning root-relative `u`
  * descriptors. Reads fetch a vector's byte range straight from its
  * `.bin` (or decode its inline bytes) — on the driver for the broadcast
  * mask, on executors for the distributed one — never through a query. */
object DvStore {

  /** The directory (under the table root) vectors are written to; only
    * vectors stored here are ever tombstoned — a Delta table's own `.bin`
    * files, whose descriptors an import copies, are never the engine's to
    * delete. */
  val Dir = "dv"

  /** One vector's mask, read where the caller runs (driver or executor):
    * the inline bytes or the CRC-checked `.bin` range under `root`. A
    * decoded cardinality that disagrees with the descriptor is corruption,
    * refused loudly. */
  def read(root: String, d: DvDescriptor, conf: Configuration): Roaring64Bitmap = {
    val bm = DeltaDv.toRoaring64(DeltaDv.readData(root, d, conf))
    require(bm.getLongCardinality == d.cardinality,
      s"deletion vector ${d.pathOrInlineDv}@${d.offset} decodes to " +
        s"${bm.getLongCardinality} positions but its descriptor says " +
        s"${d.cardinality} — refusing a corrupt mask")
    bm
  }

  /** The distributed read: one row per `(key, descriptor)` — (`__path`
    * the key, `__bitmap` the [[DvBitmap]]-serialized mask) — each range
    * read and decoded on an executor through the Hadoop FileSystem API, so
    * a large mask set never passes through the driver. */
  def decode(spark: SparkSession, root: String,
      vectors: Seq[(String, DvDescriptor)]): DataFrame = {
    import spark.implicits._
    val rows = vectors.map { case (k, d) =>
      (k, d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes, d.cardinality)
    }
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val slices = math.max(1, math.min(rows.size, 32))
    spark.createDataset(rows).repartition(slices).mapPartitions { it =>
      val conf = bc.value.value
      it.map { case (k, st, enc, off, size, card) =>
        (k, DvBitmap.serialize(read(root, DvDescriptor(st, enc, off, size, card), conf)))
      }
    }.toDF("__path", "__bitmap")
  }

  /** The one vector writer. `masks` maps a data file's log path to the
    * positions this change masks in it; `current` maps the same paths to
    * the file's mask before the change (absent: none). Each union is
    * serialized into ONE new `dv/deletion_vector_<uuid>.bin` under `root`,
    * and one `u` [[DeletionVector]] per file points at its range. The file
    * is written before any commit references it: a lost commit leaves an
    * unreferenced file for VACUUM, never a bad log entry. */
  def write(root: Path, masks: Seq[(String, Roaring64Bitmap)],
      current: Map[String, Roaring64Bitmap]): Seq[DeletionVector] = {
    if (masks.isEmpty) return Nil
    val merged = masks.map { case (f, bm) =>
      current.get(f).foreach(bm.or)
      f -> bm
    }
    val datas = merged.map { case (_, bm) => DeltaDv.fromRoaring64(bm) }
    val (bytes, offsets) = DeltaDv.encodeDvFile(datas)
    val packed = DeltaDv.packUuid(java.util.UUID.randomUUID(), prefix = Dir)
    val target = root.resolve(DeltaDv.relativeFile(DvDescriptor("u", packed, 0, 0, 0)))
    Files.createDirectories(target.getParent)
    Files.write(target, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    merged.zip(datas).zip(offsets).map { case (((f, bm), data), off) =>
      DeletionVector.of(f, DvDescriptor("u", packed, off, data.length, bm.getLongCardinality))
    }
  }
}
