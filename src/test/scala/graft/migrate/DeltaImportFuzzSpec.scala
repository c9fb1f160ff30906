package graft.migrate

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.log.DeltaDv
import graft.table.LakeTable

/** Randomized Delta-log lifecycles vs a plain-Scala model: for ANY
  * add/remove/compact sequence, any import/sync split point, any mix of
  * stats-bearing and stat-less adds, and percent-encoded names, the
  * imported table's live set, row count, and content must equal the
  * model's replay. A divergence here is silent data corruption in a
  * migration tool, so it gets the fuzz treatment. Compactions are Delta
  * OPTIMIZE-shaped: one dataChange=false commit swapping N live files for
  * their concatenation — the sync must treat it as a pure file swap. */
class DeltaImportFuzzSpec extends SparkSpec {

  private val mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }
  private def j(v: Any): String = mapper.writeValueAsString(v)

  private val schema = StructType(Seq(StructField("id", LongType)))

  /** Pool file k holds ids [k*10, k*10+10). Names exercise percent-encoding
    * on odd k (a space in the file name). */
  private def poolName(k: Int): String =
    if (k % 2 == 1) s"part $k.parquet" else s"part$k.parquet"
  private def encoded(name: String): String = name.replace(" ", "%20")

  import spark.implicits._

  private def writeIds(dir: Path, name: String, ids: Seq[Long]): Unit = {
    val staging = Files.createTempDirectory("delta-fuzz-stage")
    ids.toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(staging.resolve("out").toString)
    val part = {
      val s = Files.list(staging.resolve("out"))
      try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.createDirectories(dir)
    Files.move(part, dir.resolve(name))
    graft.log.TxLog.deleteRecursively(staging)
  }

  private def addLine(dir: Path, name: String, ids: Seq[Long],
      withStats: Boolean, dataChange: Boolean = true,
      maskedPositions: Set[Long] = Set.empty): String = {
    val stats =
      if (!withStats) Map.empty[String, Any]
      else Map("stats" -> j(Map(
        "numRecords" -> ids.size,
        "minValues" -> Map("id" -> ids.min),
        "maxValues" -> Map("id" -> ids.max),
        "nullCount" -> Map("id" -> 0))))
    // real inline (z85-packed portable roaring) descriptors — the sync
    // decodes whichever survive to the range's final disposition
    val dv =
      if (maskedPositions.isEmpty) Map.empty[String, Any]
      else {
        val data = DeltaDv.serializeArray(maskedPositions.toSeq)
        Map("deletionVector" -> Map(
          "storageType" -> "i",
          "pathOrInlineDv" -> DeltaDv.packInline(data),
          "sizeInBytes" -> data.length,
          "cardinality" -> maskedPositions.size))
      }
    j(Map("add" -> (Map(
      "path" -> encoded(name),
      "partitionValues" -> Map.empty,
      "size" -> Files.size(dir.resolve(name)),
      "modificationTime" -> 1700000000000L,
      "dataChange" -> dataChange) ++ stats ++ dv)))
  }

  private def removeLine(name: String, dataChange: Boolean = true): String =
    j(Map("remove" -> Map(
      "path" -> encoded(name), "deletionTimestamp" -> 1700000001000L,
      "dataChange" -> dataChange)))

  test("randomized add/remove/compact logs with arbitrary sync split points " +
    "match the model's live set exactly") {
    val rnd = new scala.util.Random(20260816L)
    (0 until 4).foreach { trial =>
      val dir = tmpDir(s"delta-fuzz-$trial").resolve("t")
      val contents = mutable.Map.empty[String, Seq[Long]]
      (0 until 10).foreach { k =>
        val ids = (k * 10L until k * 10L + 10).toSeq
        contents(poolName(k)) = ids
        writeIds(dir, poolName(k), ids)
      }
      val pool = (0 until 10).map(poolName)
      val live = mutable.LinkedHashSet.empty[String]
      val masked = mutable.Map.empty[String, Set[Long]] // row positions
      def liveIds(name: String): Seq[Long] = {
        val m = masked.getOrElse(name, Set.empty)
        contents(name).zipWithIndex.collect {
          case (id, i) if !m.contains(i.toLong) => id }
      }
      var compactSeq = 0
      // r13: the source may EVOLVE its schema mid-stream — added nullable
      // columns are followable (name-bound mirror); the model tracks the
      // expected width and old files read the new columns as null
      var extraCols = 0
      val tableId = java.util.UUID.randomUUID().toString
      def metaLine(): String = {
        val fields = schema.fields ++
          (1 to extraCols).map(i => StructField(s"x$i", LongType))
        j(Map("metaData" -> Map(
          "id" -> tableId,
          "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
          "schemaString" -> StructType(fields).json,
          "partitionColumns" -> Nil, "configuration" -> Map.empty,
          "createdTime" -> 1700000000000L)))
      }
      def randomCommit(): Seq[String] = {
        val n = 1 + rnd.nextInt(3)
        (0 until n).flatMap { _ =>
          val roll = rnd.nextInt(11)
          if (roll < 2 && live.nonEmpty) { // remove
            val name = live.toSeq(rnd.nextInt(live.size))
            live.remove(name)
            masked.remove(name)
            Seq(removeLine(name))
          } else if (roll < 3 && live.size >= 2) { // OPTIMIZE-shaped compact
            val picks = rnd.shuffle(live.toSeq).take(2)
            compactSeq += 1
            val name = s"compact-$trial-$compactSeq.parquet"
            val ids = picks.flatMap(liveIds) // OPTIMIZE drops masked rows
            writeIds(dir, name, ids)
            contents(name) = ids
            picks.foreach { p => live.remove(p); masked.remove(p) }
            live.add(name)
            picks.map(p => removeLine(p, dataChange = false)) :+
              addLine(dir, name, ids, withStats = rnd.nextBoolean(),
                dataChange = false)
          } else if (roll < 5 && live.nonEmpty) { // DELETE: mask via a DV
            val name = live.toSeq(rnd.nextInt(live.size))
            val positions = (0 until contents(name).size)
              .filter(_ => rnd.nextBoolean()).map(_.toLong).toSet
            if (positions.isEmpty || positions.size == contents(name).size)
              Nil // a no-op or full delete would be a remove, not a DV
            else {
              masked(name) = positions // vectors are cumulative-complete
              Seq(addLine(dir, name, contents(name),
                withStats = rnd.nextBoolean(), maskedPositions = positions))
            }
          } else if (roll < 6 && masked.nonEmpty &&
              masked.keys.exists(live.contains)) { // PURGE: re-add, no DV
            val name = masked.keys.filter(live.contains).toSeq.head
            masked.remove(name)
            Seq(addLine(dir, name, contents(name), withStats = rnd.nextBoolean()))
          } else if (roll == 10) { // ADD COLUMN (nullable): followable
            extraCols += 1
            Seq(metaLine())
          } else { // add (or re-add) a pool file — clears any stale mask
            val name = pool(rnd.nextInt(pool.size))
            live.add(name)
            masked.remove(name)
            Seq(addLine(dir, name, contents(name), withStats = rnd.nextBoolean()))
          }
        }
      }
      val logDir = dir.resolve("_delta_log")
      Files.createDirectories(logDir)
      def commit(v: Long, lines: Seq[String]): Unit =
        Files.write(logDir.resolve(f"$v%020d.json"),
          lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)): Unit
      val total = 4 + rnd.nextInt(5) // commits v0..total-1
      commit(0, Seq(
        j(Map("protocol" -> Map("minReaderVersion" -> 1, "minWriterVersion" -> 2))),
        metaLine()) ++ randomCommit())
      val split = 1 + rnd.nextInt(total) // commits < split exist at import
      (1 until split).foreach(v => commit(v.toLong, randomCommit()))
      val liveAtImport = live.toSet
      val maskedAtImport = masked.toMap
      val colsAtImport = extraCols

      LakeTable.convert(spark, dir.toString)
      def check(expected: Set[String], masks: Map[String, Set[Long]],
          stage: String, wantCols: Int = -1): Unit = {
        def expectedLive(name: String): Seq[Long] = {
          val m = masks.getOrElse(name, Set.empty)
          contents(name).zipWithIndex.collect {
            case (id, i) if !m.contains(i.toLong) => id }
        }
        val snap = LakeTable.forPath(spark, dir.toString).snapshot()
        withClue(s"trial=$trial stage=$stage expected=$expected masks=$masks: ") {
          if (wantCols >= 0)
            snap.schema.fieldNames.toSeq shouldBe
              ("id" +: (1 to wantCols).map("x" + _))
          snap.files.map(_.path).toSet shouldBe expected
          // numRecords stays PHYSICAL; masks ride DeletionVector actions
          snap.files.map(_.numRecords).sum shouldBe
            expected.toSeq.map(contents(_).size.toLong).sum
          snap.dvs.values.map(_.numDeleted).sum shouldBe
            expected.toSeq.map(n => masks.getOrElse(n, Set.empty).size.toLong).sum
          val got = LakeTable.forPath(spark, dir.toString).read()
            .agg(coalesce(sum("id"), lit(0L))).head().getLong(0)
          got shouldBe expected.toSeq.flatMap(expectedLive).sum
        }
      }
      check(liveAtImport, maskedAtImport, "import", wantCols = colsAtImport)
      // the source keeps writing: the rest of the commits land, then sync
      (split until total).foreach(v => commit(v.toLong, randomCommit()))
      DeltaImport.sync(spark, dir.toString)
      check(live.toSet, masked.toMap, "sync", wantCols = extraCols)
      // replayed sync is a no-op
      val v0 = LakeTable.forPath(spark, dir.toString).version
      DeltaImport.sync(spark, dir.toString) shouldBe v0
      check(live.toSet, masked.toMap, "re-sync")
    }
  }

  test("randomized followable-rewrite lifecycles on a partitioned source — " +
    "adds, removes, DV growth and purge, destination OPTIMIZE, syncs at " +
    "random points — match the model's surviving rows") {
    val rnd = new scala.util.Random(20261019L)
    val pSchema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType)))
    (0 until 3).foreach { trial =>
      val dir = tmpDir(s"delta-rwfuzz-$trial").resolve("src")
      // pool file k holds ids [k*10, k*10+10) in partition p = k % 3
      val pool = (0 until 9).map(k => s"part$k.parquet")
      def partOf(name: String): String =
        Seq("a", "b", "c")(name.stripPrefix("part").stripSuffix(".parquet").toInt % 3)
      def idsOf(name: String): Seq[Long] = {
        val k = name.stripPrefix("part").stripSuffix(".parquet").toLong
        (k * 10 until k * 10 + 10)
      }
      pool.foreach(n => writeIds(dir, n, idsOf(n)))
      def add(name: String, masked: Set[Long]): String = {
        val dv =
          if (masked.isEmpty) Map.empty[String, Any]
          else {
            val data = DeltaDv.serializeArray(masked.toSeq.sorted)
            Map("deletionVector" -> Map("storageType" -> "i",
              "pathOrInlineDv" -> DeltaDv.packInline(data),
              "sizeInBytes" -> data.length, "cardinality" -> masked.size))
          }
        j(Map("add" -> (Map("path" -> name,
          "partitionValues" -> Map("p" -> partOf(name)),
          "size" -> Files.size(dir.resolve(name)),
          "modificationTime" -> 1700000000000L, "dataChange" -> true) ++ dv)))
      }
      // model: live files and their masked row positions
      val live = mutable.LinkedHashSet.empty[String]
      val masked = mutable.Map.empty[String, Set[Long]]
      def randomCommit(): Seq[String] =
        (0 until 1 + rnd.nextInt(3)).flatMap { _ =>
          val roll = rnd.nextInt(10)
          if (roll < 2 && live.size > 1) { // remove
            val name = live.toSeq(rnd.nextInt(live.size))
            live.remove(name); masked.remove(name)
            Seq(removeLine(name))
          } else if (roll < 5 && live.nonEmpty) { // DV growth (cumulative)
            val name = live.toSeq(rnd.nextInt(live.size))
            val grown = masked.getOrElse(name, Set.empty) ++
              (0L until 10L).filter(_ => rnd.nextInt(4) == 0)
            if (grown.size >= 10 || grown == masked.getOrElse(name, Set.empty)) Nil
            else { masked(name) = grown; Seq(add(name, grown)) }
          } else if (roll < 6 && masked.keys.exists(live.contains)) { // purge
            val name = masked.keys.filter(live.contains).toSeq.sorted.head
            masked.remove(name)
            Seq(add(name, Set.empty))
          } else { // add a pool file not yet live
            pool.filterNot(live.contains) match {
              case Seq() => Nil
              case free =>
                val name = free(rnd.nextInt(free.size))
                live.add(name)
                Seq(add(name, Set.empty))
            }
          }
        }
      val logDir = dir.resolve("_delta_log")
      Files.createDirectories(logDir)
      var version = -1L
      def commit(lines: Seq[String]): Unit = {
        version += 1
        Files.write(logDir.resolve(f"$version%020d.json"),
          lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)): Unit
      }
      commit(Seq(
        j(Map("protocol" -> Map("minReaderVersion" -> 1, "minWriterVersion" -> 2))),
        j(Map("metaData" -> Map(
          "id" -> java.util.UUID.randomUUID().toString,
          "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
          "schemaString" -> pSchema.json,
          "partitionColumns" -> Seq("p"), "configuration" -> Map.empty,
          "createdTime" -> 1700000000000L)))) ++ randomCommit())
      (0 until rnd.nextInt(3)).foreach(_ => commit(randomCommit()))
      def expected(): Seq[(Long, String)] = live.toSeq.flatMap { n =>
        idsOf(n).zipWithIndex.collect {
          case (id, pos) if !masked.getOrElse(n, Set.empty).contains(pos.toLong) =>
            (id, partOf(n))
        }
      }.sorted
      val dest = tmpDir(s"delta-rwfuzz-$trial").resolve("dest").toString
      def check(stage: String): Unit =
        withClue(s"trial=$trial stage=$stage live=$live masked=$masked: ") {
          LakeTable.forPath(spark, dest).read().select("id", "p")
            .as[(Long, String)].collect().sorted.toSeq shouldBe expected()
        }
      DeltaImport.convertRewrite(spark, dir.toString, dest, follow = true)
      check("import")
      (0 until 3).foreach { round =>
        (0 until 1 + rnd.nextInt(2)).foreach(_ => commit(randomCommit()))
        if (rnd.nextBoolean())
          LakeTable.forPath(spark, dest).optimizeCompact(): Unit
        DeltaImport.syncRewrite(spark, dir.toString, dest)
        check(s"sync-$round")
      }
      val v = LakeTable.forPath(spark, dest).version
      DeltaImport.syncRewrite(spark, dir.toString, dest) shouldBe v
      check("re-sync")
    }
  }
}
