package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.log.{Actions, CommitInfo, DvBitmap, Protocol}

/** Where deletion vectors live: descriptor vectors in `.bin` files under
  * `dv/` that carry no absolute path (a moved table keeps its masks, a
  * shallow clone reads the same rows), several vectors sharing one commit's
  * `.bin` (VACUUM keeps it while any vector points into it), and logs
  * written before the descriptor form, whose parquet vectors still read. */
class DvStorageSpec extends SparkSpec {
  import spark.implicits._

  private val dvProps = Map("graft.enableDeletionVectors" -> "true")

  private def table(name: String, files: Int): LakeTable = {
    val df = (0L until 100L).map(i => (i, s"n$i")).toDF("id", "name")
    val t = LakeTable.create(spark, tmpDir(name).resolve("t").toString, df.schema,
      properties = dvProps)
    (0 until files).foreach(k => t.append(df.filter(col("id") % files === k).coalesce(1)))
    t
  }

  private def ids(t: LakeTable, version: Option[Long] = None): Set[Long] =
    t.read(version = version).select("id").as[Long].collect().toSet

  test("a moved table keeps its masks, at the head and at earlier versions") {
    val t = table("dv-move", 1)
    val v = t.delete(col("id") < 10L)
    ids(t).size shouldBe 90
    val moved = tmpDir("dv-move-to").resolve("t")
    Files.move(t.dir, moved)
    val m = LakeTable.forPath(spark, moved.toString)
    m.read().count() shouldBe 90
    ids(m) shouldBe (10L until 100L).toSet
    m.read(version = Some(v)).count() shouldBe 90
    m.read(version = Some(v - 1)).count() shouldBe 100
    // DML on the moved table composes with the carried vector
    m.delete(col("id") >= 95L)
    ids(m) shouldBe (10L until 95L).toSet
  }

  test("a shallow clone reads the masked row set, independent of the source's vectors") {
    val t = table("dv-clone", 2)
    t.delete(col("id") % 10 === 0)
    val c = t.cloneTo(tmpDir("dv-clone-to").resolve("c").toString, shallow = true)
    ids(c) shouldBe ids(t)
    ids(c).size shouldBe 90
    // the source's vector files can go: the clone wrote its own
    t.delete(col("id") === 1L)
    t.vacuum(retainHours = 0.0)
    ids(c).size shouldBe 90
    c.delete(col("id") === 3L)
    ids(c) shouldBe (0L until 100L).filter(i => i % 10 != 0 && i != 3).toSet
  }

  test("one commit's .bin is shared by its vectors and vacuumed after the last one leaves") {
    val t = table("dv-shared", 3)
    t.delete(col("id") < 30L) // one vector on each of the 3 files
    val first = t.snapshot().dvs.values.flatMap(_.storagePath).toSet
    first.size shouldBe 1
    t.snapshot().dvs.size shouldBe 3
    val bin = t.dir.resolve(first.head)
    bin.toString should endWith(".bin")
    def tombstoned(p: String): Boolean = t.log.listVersions()
      .flatMap(t.log.readVersion).exists {
        case r: graft.log.RemoveFile => r.path == p
        case _ => false
      }
    // re-mask ONE file: the other two vectors still point into the .bin
    t.delete(col("id") === 30L)
    tombstoned(first.head) shouldBe false
    t.vacuum(retainHours = 0.0).map(_.toString) should not contain bin.toString
    Files.exists(bin) shouldBe true
    ids(t) shouldBe (31L until 100L).toSet
    // re-mask the other two: no live vector is left in it
    t.delete(col("id") === 31L || col("id") === 32L)
    tombstoned(first.head) shouldBe true
    t.vacuum(retainHours = 0.0) should contain(bin.toString)
    Files.exists(bin) shouldBe false
    ids(t) shouldBe (33L until 100L).toSet
    LakeTable.forPath(spark, t.dir.toString).read().count() shouldBe 67
  }

  /** Masks `pred`'s rows the way the log did before the descriptor form: a
    * parquet directory of (`__path` absolute reader path, `__bitmap`,
    * `__n`) rows under `dv/`, and a commit whose vector actions carry only
    * `forFile`, `dvPath` and `numDeleted`. Returns the directory. */
  private def legacyMask(t: LakeTable, pred: Column): Path = {
    val snap = t.snapshot()
    val rel = s"dv/${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"
    DvBitmap.collectMasks(t.readFilesMaskedPos(snap, snap.files, snap.schema).filter(pred))
      .masks.toSeq.map { case (p, bm) => (p, DvBitmap.serialize(bm), bm.getLongCardinality) }
      .toDF("__path", "__bitmap", "__n")
      .write.parquet(t.dir.resolve(rel).toString)
    val counts = spark.read.parquet(t.dir.resolve(rel).toString).select("__path", "__n")
      .as[(String, Long)].collect().toMap
    val vectors = snap.files.flatMap(f => counts.get(t.absPath(f)).map(n =>
      s"""{"deletionVector":{"forFile":"${f.path}","dvPath":"$rel","numDeleted":$n}}"""))
    val v = snap.version + 1
    val ci = Actions.toJson(CommitInfo(v, System.currentTimeMillis(), "DELETE",
      Map("predicate" -> pred.toString, "deletionVectors" -> "true"),
      Map("numDeletedRows" -> counts.values.sum), snap.version))
    Files.write(t.dir.resolve("_txlog").resolve(f"$v%020d.json"),
      (ci +: vectors).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    t.dir.resolve(rel)
  }

  test("legacy parquet vectors read, time travel, OR into a new .bin, and vacuum after retention") {
    val t0 = table("dv-legacy", 2)
    val legacyDir = legacyMask(t0, col("id") < 20L)
    val t = LakeTable.forPath(spark, t0.dir.toString)
    val legacyV = t.version
    t.snapshot().dvs.values.forall(_.legacy) shouldBe true
    ids(t) shouldBe (20L until 100L).toSet
    ids(t, Some(legacyV - 1)).size shouldBe 100
    // a DV DELETE on the legacy-masked files: the new vectors are
    // descriptors whose masks include the legacy positions
    t.delete(col("id") >= 90L)
    ids(t) shouldBe (20L until 90L).toSet
    val now = t.snapshot().dvs.values
    now.forall(_.descriptor.exists(_.storageType == "u")) shouldBe true
    now.map(_.numDeleted).sum shouldBe 30
    ids(t, Some(legacyV)) shouldBe (20L until 100L).toSet
    LakeTable.forPath(spark, t.dir.toString).read().count() shouldBe 70
    // the superseded parquet directory is tombstoned: kept inside the
    // retention window, removed after it
    def parts: Int =
      if (!Files.isDirectory(legacyDir)) 0
      else {
        val s = Files.list(legacyDir)
        try s.iterator().asScala.count(_.toString.endsWith(".parquet")) finally s.close()
      }
    parts should be > 0
    t.vacuum(retainHours = 1.0).filter(_.startsWith(legacyDir.toString)) shouldBe empty
    parts should be > 0
    t.vacuum(retainHours = 0.0).exists(_.startsWith(legacyDir.toString)) shouldBe true
    parts shouldBe 0
    ids(t) shouldBe (20L until 90L).toSet
  }

  test("legacy parquet vectors keep applying after the table directory moves") {
    val t = table("dv-legacy-move", 2)
    legacyMask(t, col("id") % 10 === 0)
    val moved = tmpDir("dv-legacy-move-to").resolve("t")
    Files.move(t.dir, moved)
    val m = LakeTable.forPath(spark, moved.toString)
    ids(m) shouldBe (0L until 100L).filter(_ % 10 != 0).toSet
    // a DML on the moved table ORs the legacy masks it read
    m.delete(col("id") === 1L)
    ids(LakeTable.forPath(spark, moved.toString)) shouldBe
      (0L until 100L).filter(i => i % 10 != 0 && i != 1).toSet
  }

  test("the first descriptor vector demands its reader feature; DROP FEATURE takes it along") {
    // the reader features of an engine that knows only parquet vectors:
    // the descriptor feature is the one it lacks, so it refuses the table
    val legacyEngine = Set("deletionVectors", "columnMapping", "changeDataFeed",
      "timeTravel", "typeWidening")
    def refusedByLegacyEngine(t: LakeTable): Boolean =
      (LakeTable.forPath(spark, t.dir.toString).snapshot().protocol.readerSet --
        legacyEngine).nonEmpty
    val t = table("dv-feature", 2)
    t.snapshot().protocol.readerSet shouldBe Set("deletionVectors")
    legacyMask(t, col("id") < 5L)
    refusedByLegacyEngine(t) shouldBe false
    t.delete(col("id") === 50L)
    val p = LakeTable.forPath(spark, t.dir.toString).snapshot().protocol
    p.readerSet shouldBe Set("deletionVectors", Protocol.DvDescriptors)
    p.writerSet should contain(Protocol.DvDescriptors)
    refusedByLegacyEngine(t) shouldBe true
    ids(t) shouldBe (5L until 100L).filter(_ != 50L).toSet
    // a shallow clone writes its own descriptor vectors: it declares them
    refusedByLegacyEngine(t.cloneTo(tmpDir("dv-feature-clone").resolve("c").toString)) shouldBe true
    // a MERGE's vectors stamp the feature too
    val m = table("dv-feature-merge", 1)
    m.merge(Seq((7L, "x")).toDF("id", "name"), $"target.id" === $"source.id")
      .whenMatchedUpdateAll().execute()
    refusedByLegacyEngine(m) shouldBe true
    // dropping deletion vectors drops their descriptor form with them
    t.setProperties(Map("graft.enableDeletionVectors" -> "false"))
    t.reorgPurge()
    t.dropFeature("deletionVectors", truncateHistory = true)
    val dropped = LakeTable.forPath(spark, t.dir.toString).snapshot().protocol
    (dropped.readerSet ++ dropped.writerSet) should contain noneOf(
      "deletionVectors", Protocol.DvDescriptors)
    ids(t) shouldBe (5L until 100L).filter(_ != 50L).toSet
  }

  test("a DV+CDF MERGE with a 15,000-row composite-key source broadcasts its matched keys") {
    // 20,000 target rows over (a, b); the source matches 10,000 of them
    // and brings 5,000 new keys. The update fires only on even `a`, so
    // 5,000 matched rows fire no clause: they must neither change nor
    // turn into inserts.
    val target = (0L until 20000L).map(i => (i / 2, i % 2, s"t$i"))
    val t = LakeTable.create(spark, tmpDir("dv-wide-src").resolve("t").toString,
      target.toDF("a", "b", "v").schema,
      properties = dvProps + ("graft.enableChangeDataFeed" -> "true"))
    t.append(target.toDF("a", "b", "v").repartition(4))
    val matched = (0L until 10000L).map(i => (i / 2, i % 2, s"s$i"))
    val fresh = (20000L until 25000L).map(i => (i / 2, i % 2, s"s$i"))
    val v = t.merge((matched ++ fresh).toDF("a", "b", "v"),
      $"target.a" === $"source.a" && $"target.b" === $"source.b")
      .whenMatchedUpdateAll(Some($"source.a" % 2 === 0))
      .whenNotMatchedInsertAll()
      .execute()
    val updated = matched.filter(_._1 % 2 == 0)
    val m = t.history().filter($"version" === v).select("operationMetrics")
      .head().getMap[String, String](0)
    m("numTargetRowsUpdated") shouldBe updated.size.toString
    m("numTargetRowsInserted") shouldBe "5000"
    m("numTargetRowsDeleted") shouldBe "0"
    val expected = (target.map { case (a, b, x) => (a, b) -> x }.toMap ++
      (updated ++ fresh).map { case (a, b, x) => (a, b) -> x }).toSet
    t.read().as[(Long, Long, String)].collect().map { case (a, b, x) => (a, b) -> x }
      .toSet shouldBe expected
    val ch = t.changes(v, Some(v)).select("_change_type", "a", "b", "v")
      .as[(String, Long, Long, String)].collect()
    ch.filter(_._1 == "insert").map(r => (r._2, r._3, r._4)).toSet shouldBe fresh.toSet
    ch.filter(_._1 == "update_postimage").map(r => (r._2, r._3, r._4)).toSet shouldBe
      updated.toSet
    ch.count(_._1 == "update_preimage") shouldBe updated.size
    ch.length shouldBe 5000 + 2 * updated.size
  }
}
