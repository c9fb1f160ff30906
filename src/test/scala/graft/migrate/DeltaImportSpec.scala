package graft.migrate

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.log.DeltaDv
import graft.table.LakeTable

/** Importing a Delta Lake `_delta_log` in place (fixtures are hand-crafted
  * to the public Delta protocol spec — the Delta library itself is not on
  * the classpath, deliberately). */
class DeltaImportSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }
  private def json(v: Any): String = mapper.writeValueAsString(v)

  /** Write `df` as ONE parquet file named `name` under `dir`. */
  private def dataFile(dir: Path, name: String, df: DataFrame): Unit = {
    val staging = Files.createTempDirectory("delta-import-stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging.resolve("out").toString)
    val part = {
      val s = Files.list(staging.resolve("out"))
      try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.createDirectories(dir)
    Files.move(part, dir.resolve(name))
    graft.log.TxLog.deleteRecursively(staging)
  }

  private def writeCommit(logDir: Path, v: Long, lines: Seq[String]): Unit = {
    Files.createDirectories(logDir)
    Files.write(logDir.resolve(f"$v%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)): Unit
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  private def metaLine(pcols: Seq[String] = Nil,
      conf: Map[String, String] = Map.empty) = json(Map("metaData" -> Map(
    "id" -> "11111111-2222-3333-4444-555555555555",
    "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
    "schemaString" -> schema.json,
    "partitionColumns" -> pcols,
    "configuration" -> conf,
    "createdTime" -> 1700000000000L)))

  private def protoLine(reader: Int = 1, features: Seq[String] = null) =
    json(Map("protocol" -> (Map(
      "minReaderVersion" -> reader, "minWriterVersion" -> 2) ++
      Option(features).map("readerFeatures" -> _).toMap)))

  private def addLine(dir: Path, name: String, lo: Long, hi: Long,
      stats: Boolean = true, dv: Map[String, Any] = null,
      pv: Map[String, String] = Map.empty) = {
    val statsJson = json(Map(
      "numRecords" -> (hi - lo + 1),
      "minValues" -> Map("id" -> lo, "name" -> s"n$lo"),
      "maxValues" -> Map("id" -> hi, "name" -> s"n$hi"),
      "nullCount" -> Map("id" -> 0, "name" -> 0)))
    json(Map("add" -> (Map(
      "path" -> name,
      "partitionValues" -> pv,
      "size" -> (if (dir == null) 1000L else Files.size(dir.resolve(name))),
      "modificationTime" -> 1700000001000L,
      "dataChange" -> true) ++
      (if (stats) Map("stats" -> statsJson) else Map.empty) ++
      Option(dv).map("deletionVector" -> _).toMap)))
  }

  /** A spec-shaped TRANSIENT descriptor (valid encoding, no backing file)
    * for lifecycle cases where the vector nets out before any decode. */
  private def fakeDv: Map[String, Any] = Map(
    "storageType" -> "u",
    "pathOrInlineDv" -> DeltaDv.packUuid(java.util.UUID.randomUUID()),
    "offset" -> 1, "sizeInBytes" -> 36, "cardinality" -> 2)

  /** Write a real `u`-storage vector file under `dir` masking `positions`,
    * returning its descriptor map. */
  private def realDv(dir: Path, positions: Seq[Long],
      prefix: String = ""): Map[String, Any] = {
    val data = DeltaDv.serializeArray(positions)
    val uuid = java.util.UUID.randomUUID()
    val rel = (if (prefix.isEmpty) "" else s"$prefix/") +
      s"deletion_vector_$uuid.bin"
    val offsets = DeltaDv.writeDvFile(dir.resolve(rel), Seq(data))
    Map("storageType" -> "u",
      "pathOrInlineDv" -> DeltaDv.packUuid(uuid, prefix),
      "offset" -> offsets.head, "sizeInBytes" -> data.length,
      "cardinality" -> positions.size)
  }

  private def inlineDv(positions: Seq[Long]): Map[String, Any] = {
    val data = DeltaDv.serializeArray(positions)
    Map("storageType" -> "i",
      "pathOrInlineDv" -> DeltaDv.packInline(data),
      "sizeInBytes" -> data.length, "cardinality" -> positions.size)
  }

  private def removeLine(name: String) = json(Map("remove" -> Map(
    "path" -> name, "deletionTimestamp" -> 1700000002000L, "dataChange" -> true)))

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi + 1).select(col("id"), concat(lit("n"), col("id")).as("name"))

  test("imports a JSON-only Delta log: live file set, schema, properties, " +
    "stats; graft DML works on the imported table") {
    val dir = tmpDir("delta-basic").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    dataFile(dir, "f1.parquet", rows(5, 9))
    dataFile(dir, "f2.parquet", rows(10, 14))
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(), metaLine(conf = Map(
      "delta.deletedFileRetentionDuration" -> "interval 2 days")),
      addLine(dir, "f0.parquet", 0, 4), addLine(dir, "f1.parquet", 5, 9)))
    writeCommit(log, 1, Seq(
      addLine(dir, "f2.parquet", 10, 14), removeLine("f1.parquet")))

    val t = LakeTable.convert(spark, dir.toString) // auto-detects _delta_log
    t.read().count() shouldBe 10
    t.read().agg(sum("id")).head().getLong(0) shouldBe (0 to 4).sum + (10 to 14).sum
    t.snapshot().files.map(_.path).toSet shouldBe Set("f0.parquet", "f2.parquet")
    // delta.* properties carried over through prefix normalization
    t.properties.keys.exists(_.contains("deletedFileRetentionDuration")) shouldBe true
    // numeric bounds imported EXACTLY -> metadata-only min/max answers
    t.statsMinMax("id") shouldBe Some((0L, 14L))
    // string bounds are dropped (Delta truncation is not exactness-safe)
    t.statsMinMax("name") shouldBe None
    // history records the import
    val h = t.history(Some(1)).collect()(0)
    h.getString(3) shouldBe "CONVERT"
    h.getMap[String, String](4)("sourceFormat") shouldBe "delta"
    h.getMap[String, String](4)("sourceVersion") shouldBe "1"
    // the imported table is a full graft table: DML works
    t.delete(col("id") === 0L)
    t.read().count() shouldBe 9
    // idempotent: converting again returns the existing graft table
    LakeTable.convert(spark, dir.toString).version shouldBe t.version
  }

  test("replays a classic parquet checkpoint plus the JSON tail (pre-" +
    "checkpoint commits deleted, as Delta log retention leaves them)") {
    val dir = tmpDir("delta-cp").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    dataFile(dir, "f1.parquet", rows(5, 9))
    dataFile(dir, "f2.parquet", rows(10, 14))
    val log = dir.resolve("_delta_log")
    // checkpoint at v5 carrying protocol + metaData + adds f0, f1
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType)))
    val metaType = StructType(Seq(
      StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))
    val cpSchema = StructType(Seq(
      StructField("add", addType), StructField("metaData", metaType),
      StructField("protocol", protoType)))
    def addRow(name: String, lo: Long, hi: Long) = Row(
      Row(name, Map.empty[String, String], Files.size(dir.resolve(name)),
        1700000001000L, true,
        json(Map("numRecords" -> (hi - lo + 1),
          "minValues" -> Map("id" -> lo), "maxValues" -> Map("id" -> hi),
          "nullCount" -> Map("id" -> 0, "name" -> 0)))),
      null, null)
    val cpRows = Seq(
      Row(null, Row("11111111-2222-3333-4444-555555555555", schema.json,
        Seq.empty[String], Map.empty[String, String]), null),
      Row(null, null, Row(1, 2)),
      addRow("f0.parquet", 0, 4), addRow("f1.parquet", 5, 9))
    val staging = Files.createTempDirectory("delta-cp-stage")
    spark.createDataFrame(cpRows.asJava, cpSchema).coalesce(1)
      .write.mode("overwrite").parquet(staging.resolve("out").toString)
    val part = {
      val s = Files.list(staging.resolve("out"))
      try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.createDirectories(log)
    Files.move(part, log.resolve(f"${5L}%020d.checkpoint.parquet"))
    graft.log.TxLog.deleteRecursively(staging)
    Files.write(log.resolve("_last_checkpoint"),
      """{"version":5,"size":4}""".getBytes(StandardCharsets.UTF_8))
    // the JSON tail: v6 swaps f1 for f2 (v0..v5 json deliberately absent)
    writeCommit(log, 6, Seq(
      addLine(dir, "f2.parquet", 10, 14), removeLine("f1.parquet")))

    val t = DeltaImport.convert(spark, dir.toString)
    t.read().count() shouldBe 10
    t.snapshot().files.map(_.path).toSet shouldBe Set("f0.parquet", "f2.parquet")
    t.statsMinMax("id") shouldBe Some((0L, 14L))
    val h = t.history(Some(1)).collect()(0)
    h.getMap[String, String](4)("sourceVersion") shouldBe "6"
  }

  test("refuses what it cannot faithfully import: partitioned tables, live " +
    "DVs, column mapping, unknown reader features, broken chains") {
    def fresh(tag: String, commit0: Seq[String], moreCommits: Seq[Seq[String]] = Nil): Path = {
      val dir = tmpDir(s"delta-refuse-$tag").resolve("t")
      dataFile(dir, "f0.parquet", rows(0, 4))
      writeCommit(dir.resolve("_delta_log"), 0, commit0)
      moreCommits.zipWithIndex.foreach { case (c, i) =>
        writeCommit(dir.resolve("_delta_log"), i + 1L, c)
      }
      dir
    }
    // partitioned
    val part = fresh("part", Seq(protoLine(),
      metaLine(pcols = Seq("name")), addLine(null, "f0.parquet", 0, 4, stats = false)))
    intercept[IllegalArgumentException] {
      DeltaImport.convert(spark, part.toString)
    }.getMessage should include("PARTITIONED")
    // absolute-path ('p') deletion vector: bytes outside the table root
    val dv = fresh("dv", Seq(protoLine(reader = 3,
      features = Seq("deletionVectors")), metaLine()))
    writeCommit(dv.resolve("_delta_log"), 1,
      Seq(addLine(dv, "f0.parquet", 0, 4, dv = Map(
        "storageType" -> "p", "pathOrInlineDv" -> "/elsewhere/dv.bin",
        "offset" -> 1, "sizeInBytes" -> 36, "cardinality" -> 2))))
    intercept[IllegalArgumentException] {
      DeltaImport.convert(spark, dv.toString)
    }.getMessage should include("storageType")
    // column mapping declared but the schema carries no mapping ids —
    // a malformed log this importer cannot translate
    val cm = fresh("cm", Seq(protoLine(reader = 2),
      metaLine(conf = Map("delta.columnMapping.mode" -> "name")),
      addLine(null, "f0.parquet", 0, 4, stats = false)))
    intercept[IllegalArgumentException] {
      DeltaImport.convert(spark, cm.toString)
    }.getMessage should include("columnMapping.id")
    // an unknown mapping mode refuses by name
    val cm2 = fresh("cm2", Seq(protoLine(reader = 2),
      metaLine(conf = Map("delta.columnMapping.mode" -> "future")),
      addLine(null, "f0.parquet", 0, 4, stats = false)))
    intercept[IllegalArgumentException] {
      DeltaImport.convert(spark, cm2.toString)
    }.getMessage should include("unknown column mapping mode")
    // unknown reader feature
    val feat = fresh("feat", Seq(protoLine(reader = 3,
      features = Seq("futureMagic")), metaLine(),
      addLine(null, "f0.parquet", 0, 4, stats = false)))
    intercept[IllegalArgumentException] {
      DeltaImport.convert(spark, feat.toString)
    }.getMessage should include("futureMagic")
    // broken chain: no checkpoint and the log starts at v3
    val gap = tmpDir("delta-refuse-gap").resolve("t")
    dataFile(gap, "f0.parquet", rows(0, 4))
    writeCommit(gap.resolve("_delta_log"), 3, Seq(protoLine(), metaLine(),
      addLine(gap, "f0.parquet", 0, 4)))
    intercept[IllegalArgumentException] {
      DeltaImport.convert(spark, gap.toString)
    }.getMessage should include("broken Delta log chain")
  }

  test("incremental sync: new Delta commits apply as one net graft commit, " +
    "idempotently; schema changes and log gaps refuse") {
    val dir = tmpDir("delta-sync").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    dataFile(dir, "f1.parquet", rows(5, 9))
    dataFile(dir, "f2.parquet", rows(10, 14))
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(), metaLine(),
      addLine(dir, "f0.parquet", 0, 4), addLine(dir, "f1.parquet", 5, 9)))
    writeCommit(log, 1, Seq(
      addLine(dir, "f2.parquet", 10, 14), removeLine("f1.parquet")))
    val t = LakeTable.convert(spark, dir.toString)
    t.properties(DeltaImport.SourceVersionKey) shouldBe "1"
    val v0 = t.version
    // nothing new: sync is a no-op
    DeltaImport.sync(spark, dir.toString) shouldBe v0
    // the Delta side keeps writing: v2 adds f3 + drops f0, v3 adds-and-
    // removes f4 within the range (must never materialize)
    dataFile(dir, "f3.parquet", rows(15, 19))
    dataFile(dir, "f4.parquet", rows(20, 24))
    writeCommit(log, 2, Seq(
      addLine(dir, "f3.parquet", 15, 19), removeLine("f0.parquet")))
    writeCommit(log, 3, Seq(addLine(dir, "f4.parquet", 20, 24)))
    writeCommit(log, 4, Seq(removeLine("f4.parquet")))
    DeltaImport.sync(spark, dir.toString)
    val t2 = LakeTable.forPath(spark, dir.toString)
    t2.snapshot().files.map(_.path).toSet shouldBe Set("f2.parquet", "f3.parquet")
    t2.read().agg(sum("id")).head().getLong(0) shouldBe (10L to 19L).sum
    t2.properties(DeltaImport.SourceVersionKey) shouldBe "4"
    val synced = t2.version
    // re-run: no-op (the consumed-version property gates it)
    DeltaImport.sync(spark, dir.toString) shouldBe synced
    // a TRANSIENT deletion vector inside the range (masked at v5, purged
    // by a rewrite at v6) nets out — it is never even DECODED (the fake
    // descriptor has no backing file, so a decode attempt would throw)
    dataFile(dir, "f5.parquet", rows(25, 29))
    writeCommit(log, 5, Seq(addLine(dir, "f4.parquet", 20, 24, dv = fakeDv)))
    writeCommit(log, 6, Seq(removeLine("f4.parquet"),
      addLine(dir, "f5.parquet", 25, 29)))
    DeltaImport.sync(spark, dir.toString)
    LakeTable.forPath(spark, dir.toString).snapshot().files.map(_.path).toSet shouldBe
      Set("f2.parquet", "f3.parquet", "f5.parquet")
    // a LIVE vector at the end of the range IMPORTS as a graft mask
    writeCommit(log, 7,
      Seq(addLine(dir, "f4.parquet", 20, 24, dv = realDv(dir, Seq(0L, 2L)))))
    DeltaImport.sync(spark, dir.toString)
    // f4 holds ids 20..24; positions {0,2} mask ids {20,22}
    LakeTable.forPath(spark, dir.toString).read()
      .agg(sum("id")).head().getLong(0) shouldBe
      ((10L to 19L).sum + (25L to 29L).sum + 21L + 23L + 24L)
    writeCommit(log, 8, Seq(removeLine("f4.parquet")))
    DeltaImport.sync(spark, dir.toString) // the remove drops mask + file
    // a mid-stream schema change refuses (cut-over moment, not a sync)
    val otherSchema = StructType(Seq(StructField("id", LongType)))
    writeCommit(log, 9, Seq(json(Map("metaData" -> Map(
      "id" -> "11111111-2222-3333-4444-555555555555",
      "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
      "schemaString" -> otherSchema.json,
      "partitionColumns" -> Nil, "configuration" -> Map.empty,
      "createdTime" -> 1700000000000L)))))
    intercept[IllegalArgumentException] {
      DeltaImport.sync(spark, dir.toString)
    }.getMessage should include("schema")
    // a same-schema REPLACE that introduces partitioning refuses too
    Files.delete(log.resolve(f"${9L}%020d.json"))
    writeCommit(log, 9, Seq(metaLine(pcols = Seq("name"))))
    intercept[IllegalArgumentException] {
      DeltaImport.sync(spark, dir.toString)
    }.getMessage should include("repartitions")
    // a gap in the chain with NO covering checkpoint is unreconstructable
    Files.delete(log.resolve(f"${9L}%020d.json"))
    writeCommit(log, 11, Seq(addLine(dir, "f4.parquet", 20, 24)))
    intercept[IllegalArgumentException] {
      DeltaImport.sync(spark, dir.toString)
    }.getMessage should include("re-import")
    // a _last_checkpoint naming a MISSING checkpoint file refuses loudly
    // (the snapshot-diff fallback needs the checkpoint to actually exist)
    (2L to 11L).foreach(v =>
      Files.deleteIfExists(log.resolve(f"$v%020d.json")): Unit)
    Files.write(log.resolve("_last_checkpoint"),
      """{"version":9,"size":1}""".getBytes(StandardCharsets.UTF_8))
    intercept[IllegalArgumentException] {
      DeltaImport.sync(spark, dir.toString)
    }.getMessage should include("cannot reconstruct")
  }

  test("sync survives a cleaned JSON tail via snapshot diff: the source " +
    "checkpointed past us — net add/remove applies, masks rebuild (a " +
    "vanished mask CLEARS, a new one lands), one commit") {
    val dir = tmpDir("delta-diffsync").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    dataFile(dir, "f1.parquet", rows(5, 9))
    dataFile(dir, "f2.parquet", rows(10, 14))
    dataFile(dir, "f3.parquet", rows(15, 19))
    val log = dir.resolve("_delta_log")
    // import at v1: f0 live, f1 live WITH a mask on position 0 (id 5)
    writeCommit(log, 0, Seq(protoLine(reader = 3,
      features = Seq("deletionVectors")), metaLine(),
      addLine(dir, "f0.parquet", 0, 4)))
    writeCommit(log, 1,
      Seq(addLine(dir, "f1.parquet", 5, 9, dv = inlineDv(Seq(0L)))))
    val t = LakeTable.convert(spark, dir.toString)
    t.read().agg(sum("id")).head().getLong(0) shouldBe ((0L to 9L).sum - 5L)
    // the source moves on and CHECKPOINTS at v4, then cleans the tail:
    // the live state there is f1 (mask PURGED), f2, f3 (mask on pos 1)
    val dvType = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", dvType)))
    val metaType = StructType(Seq(
      StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val cpSchema = StructType(Seq(
      StructField("add", addType), StructField("metaData", metaType),
      StructField("protocol", protoType)))
    def statsJson(lo: Long, hi: Long) = json(Map(
      "numRecords" -> (hi - lo + 1), "minValues" -> Map("id" -> lo),
      "maxValues" -> Map("id" -> hi), "nullCount" -> Map("id" -> 0, "name" -> 0)))
    def addRow(name: String, lo: Long, hi: Long, dv: Row = null) = Row(
      Row(name, Map.empty[String, String], Files.size(dir.resolve(name)),
        1700000001000L, true, statsJson(lo, hi), dv), null, null)
    val f3Dv = {
      val m = inlineDv(Seq(1L)) // masks id 16
      Row(m("storageType"), m("pathOrInlineDv"), null,
        m("sizeInBytes"), m("cardinality").asInstanceOf[Int].toLong)
    }
    val cpRows = Seq(
      Row(null, Row("11111111-2222-3333-4444-555555555555", schema.json,
        Seq.empty[String], Map.empty[String, String]), null),
      Row(null, null, Row(3, 7, Seq("deletionVectors"), Seq("deletionVectors"))),
      addRow("f1.parquet", 5, 9), // mask gone: purged on the source
      addRow("f2.parquet", 10, 14),
      addRow("f3.parquet", 15, 19, f3Dv))
    val staging = Files.createTempDirectory("delta-diffsync-cp")
    spark.createDataFrame(cpRows.asJava, cpSchema).coalesce(1)
      .write.mode("overwrite").parquet(staging.resolve("out").toString)
    val part = {
      val s = Files.list(staging.resolve("out"))
      try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.move(part, log.resolve(f"${4L}%020d.checkpoint.parquet"))
    graft.log.TxLog.deleteRecursively(staging)
    Files.write(log.resolve("_last_checkpoint"),
      """{"version":4,"size":5}""".getBytes(StandardCharsets.UTF_8))
    (0L to 1L).foreach(v => Files.delete(log.resolve(f"$v%020d.json")))

    DeltaImport.sync(spark, dir.toString)
    val t2 = LakeTable.forPath(spark, dir.toString)
    t2.snapshot().files.map(_.path).toSet shouldBe
      Set("f1.parquet", "f2.parquet", "f3.parquet")
    // f1's mask CLEARED (5 back), f3's mask applied (16 gone)
    t2.read().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      ((5L to 15L) ++ (17L to 19L))
    t2.properties(DeltaImport.SourceVersionKey) shouldBe "4"
    val h = t2.history(Some(1)).collect()(0)
    h.getString(3) shouldBe "DELTA SYNC"
    h.getMap[String, String](4)("mode") shouldBe "snapshot-diff"
    // replay: no-op
    val v = t2.version
    DeltaImport.sync(spark, dir.toString) shouldBe v
  }

  test("replays a v2 (UUID-named) parquet checkpoint manifest with " +
    "_sidecars action files, plus the JSON tail") {
    val dir = tmpDir("delta-v2cp").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    dataFile(dir, "f1.parquet", rows(5, 9))
    dataFile(dir, "f2.parquet", rows(10, 14))
    val log = dir.resolve("_delta_log")
    Files.createDirectories(log.resolve("_sidecars"))
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType)))
    val metaType = StructType(Seq(
      StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val sidecarType = StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))
    val cpMetaType = StructType(Seq(
      StructField("version", LongType),
      StructField("tags", MapType(StringType, StringType))))
    def writeOneParquet(target: Path, schema: StructType,
        rowSeq: Seq[Row]): Unit = {
      val staging = Files.createTempDirectory("v2cp-stage")
      spark.createDataFrame(rowSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(staging.resolve("out").toString)
      val part = {
        val s = Files.list(staging.resolve("out"))
        try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        finally s.close()
      }
      Files.move(part, target)
      graft.log.TxLog.deleteRecursively(staging)
    }
    def statsJson(lo: Long, hi: Long) = json(Map(
      "numRecords" -> (hi - lo + 1), "minValues" -> Map("id" -> lo),
      "maxValues" -> Map("id" -> hi), "nullCount" -> Map("id" -> 0, "name" -> 0)))
    // two sidecar files, one live add each
    val sidecarSchema = StructType(Seq(StructField("add", addType)))
    writeOneParquet(log.resolve("_sidecars/s1.parquet"), sidecarSchema, Seq(
      Row(Row("f0.parquet", Map.empty[String, String],
        Files.size(dir.resolve("f0.parquet")), 1700000001000L, true,
        statsJson(0, 4)))))
    writeOneParquet(log.resolve("_sidecars/s2.parquet"), sidecarSchema, Seq(
      Row(Row("f1.parquet", Map.empty[String, String],
        Files.size(dir.resolve("f1.parquet")), 1700000001000L, true,
        statsJson(5, 9)))))
    // the UUID-named v2 manifest: checkpointMetadata + protocol +
    // metaData + the sidecar references
    val manifestSchema = StructType(Seq(
      StructField("checkpointMetadata", cpMetaType),
      StructField("metaData", metaType), StructField("protocol", protoType),
      StructField("sidecar", sidecarType)))
    writeOneParquet(
      log.resolve(f"${5L}%020d.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.parquet"),
      manifestSchema, Seq(
        Row(Row(5L, Map.empty[String, String]), null, null, null),
        Row(null, Row("66666666-2222-3333-4444-555555555555", schema.json,
          Seq.empty[String], Map.empty[String, String]), null, null),
        Row(null, null, Row(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint")), null),
        Row(null, null, null, Row("s1.parquet", 100L, 1700000001000L)),
        Row(null, null, null, Row("s2.parquet", 100L, 1700000001000L))))
    Files.write(log.resolve("_last_checkpoint"),
      """{"version":5,"size":5}""".getBytes(StandardCharsets.UTF_8))
    // the JSON tail: v6 swaps f1 for f2
    writeCommit(log, 6, Seq(
      addLine(dir, "f2.parquet", 10, 14), removeLine("f1.parquet")))

    val t = DeltaImport.convert(spark, dir.toString)
    t.snapshot().files.map(_.path).toSet shouldBe Set("f0.parquet", "f2.parquet")
    t.read().count() shouldBe 10
    t.statsMinMax("id") shouldBe Some((0L, 14L))
    val h = t.history(Some(1)).collect()(0)
    h.getMap[String, String](4)("sourceVersion") shouldBe "6"
  }

  test("replays a v2 JSON checkpoint manifest (inline adds, no sidecars)") {
    val dir = tmpDir("delta-v2cp-json").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    dataFile(dir, "f1.parquet", rows(5, 9))
    val log = dir.resolve("_delta_log")
    Files.createDirectories(log)
    val manifest = Seq(
      json(Map("checkpointMetadata" -> Map("version" -> 3))),
      protoLine(reader = 3, features = Seq("v2Checkpoint")),
      metaLine(),
      addLine(dir, "f0.parquet", 0, 4))
    Files.write(
      log.resolve(f"${3L}%020d.checkpoint.13b6b576-a74b-4f5e-8e1f-3f2a39a9d001.json"),
      manifest.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.write(log.resolve("_last_checkpoint"),
      """{"version":3,"size":4}""".getBytes(StandardCharsets.UTF_8))
    writeCommit(log, 4, Seq(addLine(dir, "f1.parquet", 5, 9)))
    val t = DeltaImport.convert(spark, dir.toString)
    t.snapshot().files.map(_.path).toSet shouldBe Set("f0.parquet", "f1.parquet")
    t.read().agg(sum("id")).head().getLong(0) shouldBe (0L to 9L).sum
  }

  test("imports live deletion vectors: a shared prefixed .bin at offsets + " +
    "an inline vector; masked rows never surface; graft DML composes") {
    val dir = tmpDir("delta-dv-import").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    dataFile(dir, "f1.parquet", rows(5, 9))
    dataFile(dir, "f2.parquet", rows(10, 14))
    // ONE .bin under a random-prefix dir holds BOTH f0's and f1's vectors
    // at different offsets (the spec's sharing layout)
    val dataA = DeltaDv.serializeArray(Seq(1L, 3L)) // f0: mask ids 1, 3
    val dataB = DeltaDv.serializeArray(Seq(0L))     // f1: mask id 5
    val uuid = java.util.UUID.randomUUID()
    val offsets = DeltaDv.writeDvFile(
      dir.resolve(s"xy/deletion_vector_$uuid.bin"), Seq(dataA, dataB))
    def uDesc(off: Int, data: Array[Byte], card: Long) = Map(
      "storageType" -> "u",
      "pathOrInlineDv" -> DeltaDv.packUuid(uuid, prefix = "xy"),
      "offset" -> off, "sizeInBytes" -> data.length, "cardinality" -> card)
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(reader = 3,
      features = Seq("deletionVectors")), metaLine(),
      addLine(dir, "f0.parquet", 0, 4, dv = uDesc(offsets(0), dataA, 2)),
      addLine(dir, "f1.parquet", 5, 9, dv = uDesc(offsets(1), dataB, 1)),
      addLine(dir, "f2.parquet", 10, 14, dv = inlineDv(Seq(2L, 4L))))) // ids 12, 14
    val t = LakeTable.convert(spark, dir.toString)
    t.read().count() shouldBe 10
    t.read().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(0L, 2L, 4L, 6L, 7L, 8L, 9L, 10L, 11L, 13L)
    // physical counts stay in the log; masks ride DeletionVector actions
    t.snapshot().files.map(_.numRecords).sum shouldBe 15
    t.snapshot().dvs.values.map(_.numDeleted).sum shouldBe 5
    t.snapshot().protocol.writerSet should contain("deletionVectors")
    // graft DML composes on top of the imported masks (its DV merge must
    // OR into the transcoded bitmaps, not clobber them)
    t.delete(col("id") % 2 === 0L)
    t.read().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(7L, 9L, 11L, 13L)
  }

  test("sync carries DV churn: a new mask on a live file lands; a purge " +
    "(re-add without descriptor) clears it") {
    val dir = tmpDir("delta-dv-churn").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(), metaLine(),
      addLine(dir, "f0.parquet", 0, 4)))
    val t = LakeTable.convert(spark, dir.toString)
    t.read().count() shouldBe 5
    // Delta-side DELETE writes a same-path re-add WITH a vector
    writeCommit(log, 1,
      Seq(addLine(dir, "f0.parquet", 0, 4, dv = realDv(dir, Seq(1L, 2L)))))
    DeltaImport.sync(spark, dir.toString)
    LakeTable.forPath(spark, dir.toString).read()
      .select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(0L, 3L, 4L)
    // Delta-side purge re-adds the path WITHOUT a descriptor: the graft
    // mask must CLEAR (not linger from the previous sync)
    writeCommit(log, 2, Seq(addLine(dir, "f0.parquet", 0, 4)))
    DeltaImport.sync(spark, dir.toString)
    val t2 = LakeTable.forPath(spark, dir.toString)
    t2.read().count() shouldBe 5
    t2.snapshot().dvs shouldBe empty
  }

  test("sync refuses a tail commit carrying an absolute-path ('p') " +
    "deletion vector: the mirror keeps its version and rows") {
    val dir = tmpDir("delta-dv-sync-p").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(), metaLine(),
      addLine(dir, "f0.parquet", 0, 4)))
    val v0 = LakeTable.convert(spark, dir.toString).version
    writeCommit(log, 1, Seq(addLine(dir, "f0.parquet", 0, 4, dv = Map(
      "storageType" -> "p", "pathOrInlineDv" -> "/elsewhere/dv.bin",
      "offset" -> 1, "sizeInBytes" -> 36, "cardinality" -> 2))))
    intercept[IllegalArgumentException] {
      DeltaImport.sync(spark, dir.toString)
    }.getMessage should include("storageType")
    val t = LakeTable.forPath(spark, dir.toString)
    t.version shouldBe v0
    t.snapshot().dvs shouldBe empty
    t.read().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (0L to 4L)
  }

  test("partitioned rewrite-import applies live deletion vectors: masked " +
    "rows never materialize in the destination") {
    val src = tmpDir("delta-dv-rewrite").resolve("src")
    dataFile(src, "f0.parquet", spark.range(0, 5).toDF("id"))
    dataFile(src, "f1.parquet", spark.range(5, 10).toDF("id"))
    val pSchema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType)))
    writeCommit(src.resolve("_delta_log"), 0, Seq(protoLine(),
      json(Map("metaData" -> Map(
        "id" -> "33333333-0000-1111-2222-333344445555",
        "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
        "schemaString" -> pSchema.json,
        "partitionColumns" -> Seq("p"), "configuration" -> Map.empty,
        "createdTime" -> 1700000000000L))),
      addLine(null, "f0.parquet", 0, 4, stats = false,
        dv = realDv(src, Seq(0L, 4L)), pv = Map("p" -> "a")),
      addLine(null, "f1.parquet", 5, 9, stats = false,
        dv = inlineDv(Seq(2L)), pv = Map("p" -> "b"))))
    val dest = tmpDir("delta-dv-rewrite").resolve("dest").toString
    val t = DeltaImport.convertRewrite(spark, src.toString, dest)
    // f0 masks positions {0,4} = ids {0,4}; f1 masks position 2 = id 7
    t.read().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(1L, 2L, 3L, 5L, 6L, 8L, 9L)
    t.read().groupBy("p").agg(count(lit(1)).as("n")).orderBy("p")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("a", 3L), ("b", 4L))
  }

  test("imports a column-mapped (name-mode) Delta table: physical parquet " +
    "names resolve by field id, stats translate from physical keys, sync " +
    "keeps working, and the result is a real mapped graft table") {
    val dir = tmpDir("delta-mapped").resolve("t")
    // data files carry PHYSICAL column names + parquet field ids (what a
    // name-mode Delta writer produces)
    def fieldId(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    def physRows(lo: Long, hi: Long): DataFrame =
      rows(lo, hi).select(
        col("id").as("col-aaa111", fieldId(1)),
        col("name").as("col-bbb222", fieldId(2)))
    dataFile(dir, "f0.parquet", physRows(0, 4))
    dataFile(dir, "f1.parquet", physRows(5, 9))
    // the LOGICAL schema with the spec's mapping metadata
    def mapMeta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val mappedSchema = StructType(Seq(
      StructField("id", LongType, nullable = true, mapMeta(1, "col-aaa111")),
      StructField("name", StringType, nullable = true, mapMeta(2, "col-bbb222"))))
    val conf = Map("delta.columnMapping.mode" -> "name",
      "delta.columnMapping.maxColumnId" -> "2")
    val log = dir.resolve("_delta_log")
    // f0's stats keyed by PHYSICAL names (as a mapped Delta writer emits);
    // f1 stat-less to exercise the physical-schema footer fallback
    val physStats = json(Map("numRecords" -> 5,
      "minValues" -> Map("col-aaa111" -> 0),
      "maxValues" -> Map("col-aaa111" -> 4),
      "nullCount" -> Map("col-aaa111" -> 0, "col-bbb222" -> 0)))
    writeCommit(log, 0, Seq(protoLine(reader = 2),
      json(Map("metaData" -> Map(
        "id" -> "44444444-0000-1111-2222-333344445555",
        "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
        "schemaString" -> mappedSchema.json,
        "partitionColumns" -> Nil, "configuration" -> conf,
        "createdTime" -> 1700000000000L))),
      json(Map("add" -> Map("path" -> "f0.parquet",
        "partitionValues" -> Map.empty,
        "size" -> Files.size(dir.resolve("f0.parquet")),
        "modificationTime" -> 1700000001000L, "dataChange" -> true,
        "stats" -> physStats))),
      json(Map("add" -> Map("path" -> "f1.parquet",
        "partitionValues" -> Map.empty,
        "size" -> Files.size(dir.resolve("f1.parquet")),
        "modificationTime" -> 1700000001000L, "dataChange" -> true)))))
    val t = LakeTable.convert(spark, dir.toString)
    // LOGICAL names read; physical columns resolved by field id
    t.read().columns.toSeq shouldBe Seq("id", "name")
    t.read().agg(sum("id")).head().getLong(0) shouldBe (0L to 9L).sum
    // stats translated from physical keys (log + footer fallback alike)
    t.statsMinMax("id") shouldBe Some((0L, 9L))
    // the import IS a mapped graft table: RENAME COLUMN is metadata-only
    graft.log.ColumnIds.mapped(t.snapshot().schema) shouldBe true
    // sync keeps working: a new physical-named file lands with
    // physically-keyed stats
    dataFile(dir, "f2.parquet", physRows(10, 14))
    writeCommit(log, 1, Seq(
      json(Map("add" -> Map("path" -> "f2.parquet",
        "partitionValues" -> Map.empty,
        "size" -> Files.size(dir.resolve("f2.parquet")),
        "modificationTime" -> 1700000002000L, "dataChange" -> true,
        "stats" -> json(Map("numRecords" -> 5,
          "minValues" -> Map("col-aaa111" -> 10),
          "maxValues" -> Map("col-aaa111" -> 14),
          "nullCount" -> Map("col-aaa111" -> 0, "col-bbb222" -> 0))))))))
    DeltaImport.sync(spark, dir.toString)
    val t2 = LakeTable.forPath(spark, dir.toString)
    t2.read().agg(sum("id")).head().getLong(0) shouldBe (0L to 14L).sum
    t2.statsMinMax("id") shouldBe Some((0L, 14L))
    // graft DML works on the mapped import (cut-over)
    t2.delete(col("id") % 5 === 0L)
    t2.read().count() shouldBe 12
  }

  test("column-mapped import refuses id-less data files (the name-mode " +
    "upgrade hazard); the partitioned rewrite-import is the remedy") {
    // files written with PHYSICAL names but NO field ids — a table
    // upgraded into name mode keeps its old files like this
    val src = tmpDir("delta-mapped-idless").resolve("src")
    dataFile(src, "f0.parquet", spark.range(0, 5).toDF("col-xyz"))
    def mapMeta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val conf = Map("delta.columnMapping.mode" -> "name",
      "delta.columnMapping.maxColumnId" -> "2")
    def commit0(schema: StructType, pcols: Seq[String],
        pv: Map[String, String]) = Seq(protoLine(reader = 2),
      json(Map("metaData" -> Map(
        "id" -> "55555555-0000-1111-2222-333344445555",
        "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
        "schemaString" -> schema.json,
        "partitionColumns" -> pcols, "configuration" -> conf,
        "createdTime" -> 1700000000000L))),
      json(Map("add" -> Map("path" -> "f0.parquet",
        "partitionValues" -> pv,
        "size" -> Files.size(src.resolve("f0.parquet")),
        "modificationTime" -> 1700000001000L, "dataChange" -> true))))
    // unpartitioned: the zero-copy convert refuses at the footer gate —
    // and the rewrite IS the remedy it names, partitioned or not
    val flat = StructType(Seq(
      StructField("id", LongType, nullable = true, mapMeta(1, "col-xyz"))))
    writeCommit(src.resolve("_delta_log"), 0, commit0(flat, Nil, Map.empty))
    intercept[IllegalArgumentException] {
      DeltaImport.convert(spark, src.toString)
    }.getMessage should include("field id")
    val flatDest = tmpDir("delta-mapped-idless").resolve("flat-dest").toString
    val flatT = DeltaImport.convertRewrite(spark, src.toString, flatDest)
    flatT.read().columns.toSeq shouldBe Seq("id")
    flatT.read().agg(sum("id")).head().getLong(0) shouldBe 10L
    // partitioned + id-less: convertRewrite resolves by PHYSICAL NAME
    val src2 = tmpDir("delta-mapped-idless").resolve("src2")
    dataFile(src2, "f0.parquet", spark.range(0, 5).toDF("col-xyz"))
    val part = StructType(Seq(
      StructField("id", LongType, nullable = true, mapMeta(1, "col-xyz")),
      StructField("p", StringType, nullable = true, mapMeta(2, "col-ppp"))))
    writeCommit(src2.resolve("_delta_log"), 0,
      commit0(part, Seq("p"), Map("col-ppp" -> "a")))
    val dest = tmpDir("delta-mapped-idless").resolve("dest").toString
    val t = DeltaImport.convertRewrite(spark, src2.toString, dest)
    t.read().columns.toSeq shouldBe Seq("id", "p")
    t.read().agg(sum("id")).head().getLong(0) shouldBe 10L
    t.read().select("p").distinct().collect().map(_.getString(0)).toSeq shouldBe Seq("a")
  }

  test("the Delta log replay runs through the LogStore seam: an " +
    "InMemoryLogStore-hosted _delta_log imports and syncs with zero " +
    "local-FS log IO (data parquet stays data-plane)") {
    val prev = graft.log.LogStore.default
    val mem = new graft.log.InMemoryLogStore
    graft.log.LogStore.default = mem
    try {
      val dir = tmpDir("delta-mem").resolve("t")
      dataFile(dir, "f0.parquet", rows(0, 4)) // data files: real FS
      dataFile(dir, "f1.parquet", rows(5, 9))
      val log = dir.resolve("_delta_log")
      def memCommit(v: Long, lines: Seq[String]): Unit =
        mem.writeAtomic(log.resolve(f"$v%020d.json"),
          lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
          overwrite = false): Unit
      memCommit(0, Seq(protoLine(), metaLine(),
        addLine(dir, "f0.parquet", 0, 4)))
      // auto-detection, replay, and the graft commit all ride the store
      val t = LakeTable.convert(spark, dir.toString)
      t.read().count() shouldBe 5
      Files.exists(log) shouldBe false // the log never touched local FS
      Files.exists(dir.resolve("_txlog")) shouldBe false
      memCommit(1, Seq(addLine(dir, "f1.parquet", 5, 9)))
      DeltaImport.sync(spark, dir.toString)
      LakeTable.forPath(spark, dir.toString).read().count() shouldBe 10
    } finally graft.log.LogStore.default = prev
  }

  test("sync refuses after graft-side writes diverge (cut-over guard), but " +
    "file-set-neutral graft ops do not block it") {
    val dir = tmpDir("delta-diverge").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    dataFile(dir, "f1.parquet", rows(5, 9))
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(), metaLine(),
      addLine(dir, "f0.parquet", 0, 4)))
    val t = LakeTable.convert(spark, dir.toString)
    // neutral graft ops (properties, vacuum, constraints, column defaults)
    // do not end the mirror — none can change the live data-file set
    t.setProperties(Map("graft.custom.note" -> "mirroring"))
    t.vacuum(retainHours = 1000.0)
    t.addConstraint("nonneg", "id >= 0")
    t.setColumnDefault("name", Some("'x'"))
    writeCommit(log, 1, Seq(addLine(dir, "f1.parquet", 5, 9)))
    // a LIVE constraint blocks a file-ADDING sync (foreign files import
    // zero-copy — the constraint could never be validated), with a message
    // naming the remedy; dropping it reopens the mirror
    intercept[IllegalArgumentException] {
      DeltaImport.sync(spark, dir.toString)
    }.getMessage should include("CHECK constraint")
    t.dropConstraint("nonneg")
    DeltaImport.sync(spark, dir.toString)
    LakeTable.forPath(spark, dir.toString).read().count() shouldBe 10
    // graft-side DML is the cut-over: a later sync refuses LOUDLY instead
    // of silently re-landing rows the local write already rewrote
    val t2 = LakeTable.forPath(spark, dir.toString)
    t2.delete(col("id") === 0L)
    writeCommit(log, 2, Seq(removeLine("f0.parquet")))
    val err = intercept[IllegalArgumentException] {
      DeltaImport.sync(spark, dir.toString)
    }.getMessage
    err should include("cut-over")
    err should include("DELETE")
  }

  test("sync on a mapped import refuses an id-less synced file — the same " +
    "footer gate convert applies (silent NULL reads are the alternative)") {
    val dir = tmpDir("delta-mapped-sync-idless").resolve("t")
    def fieldId(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    dataFile(dir, "f0.parquet", rows(0, 4).select(
      col("id").as("col-aaa", fieldId(1)), col("name").as("col-bbb", fieldId(2))))
    def mapMeta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val mappedSchema = StructType(Seq(
      StructField("id", LongType, nullable = true, mapMeta(1, "col-aaa")),
      StructField("name", StringType, nullable = true, mapMeta(2, "col-bbb"))))
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(reader = 2),
      json(Map("metaData" -> Map(
        "id" -> "66666666-0000-1111-2222-333344445555",
        "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
        "schemaString" -> mappedSchema.json,
        "partitionColumns" -> Nil,
        "configuration" -> Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> "2"),
        "createdTime" -> 1700000000000L))),
      json(Map("add" -> Map("path" -> "f0.parquet",
        "partitionValues" -> Map.empty,
        "size" -> Files.size(dir.resolve("f0.parquet")),
        "modificationTime" -> 1700000001000L, "dataChange" -> true)))))
    LakeTable.convert(spark, dir.toString)
    // the source appends a file with physical names but NO field ids (an
    // upgraded-into-name-mode writer shape): sync must refuse, not import
    // a file whose by-id reads would silently return NULL
    dataFile(dir, "f1.parquet",
      rows(5, 9).select(col("id").as("col-aaa"), col("name").as("col-bbb")))
    writeCommit(log, 1, Seq(json(Map("add" -> Map("path" -> "f1.parquet",
      "partitionValues" -> Map.empty,
      "size" -> Files.size(dir.resolve("f1.parquet")),
      "modificationTime" -> 1700000002000L, "dataChange" -> true)))))
    intercept[IllegalArgumentException] {
      DeltaImport.sync(spark, dir.toString)
    }.getMessage should include("no parquet field id")
    // the refusal left the table untouched and still in sync with v0
    LakeTable.forPath(spark, dir.toString).read().count() shouldBe 5
  }

  test("snapshotDiffSync no-ops (returns the current version) when the " +
    "replayed state resolves at-or-behind the consumed version — the " +
    "_last_checkpoint pointer and the listing can race") {
    val dir = tmpDir("delta-diff-race").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(), metaLine(),
      addLine(dir, "f0.parquet", 0, 4)))
    val t = LakeTable.convert(spark, dir.toString) // consumed = 0
    val v = t.version
    // a raced fallback entry: the replay resolves to sourceVersion 0,
    // not past the consumed 0 — nothing to sync is a no-op, not an error
    DeltaImport.snapshotDiffSync(spark, t,
      dir.toAbsolutePath.normalize, 0L,
      Set("CONVERT", "DELTA SYNC")) shouldBe v
    LakeTable.forPath(spark, dir.toString).version shouldBe v
  }

  test("sync FOLLOWS a mapped source's rename and added nullable column " +
    "(by field id); a type change refuses (r13)") {
    val dir = tmpDir("delta-sync-evolve").resolve("t")
    def fieldId(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    dataFile(dir, "f0.parquet", rows(0, 4).select(
      col("id").as("col-aaa", fieldId(1)), col("name").as("col-bbb", fieldId(2))))
    def mapMeta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    def metaOf(fields: Seq[StructField], maxId: Int) = json(Map("metaData" -> Map(
      "id" -> "77777777-0000-1111-2222-333344445555",
      "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
      "schemaString" -> StructType(fields).json,
      "partitionColumns" -> Nil,
      "configuration" -> Map("delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> maxId.toString),
      "createdTime" -> 1700000000000L)))
    val f0 = Seq(
      StructField("id", LongType, nullable = true, mapMeta(1, "col-aaa")),
      StructField("name", StringType, nullable = true, mapMeta(2, "col-bbb")))
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(reader = 2), metaOf(f0, 2),
      json(Map("add" -> Map("path" -> "f0.parquet",
        "partitionValues" -> Map.empty,
        "size" -> Files.size(dir.resolve("f0.parquet")),
        "modificationTime" -> 1700000001000L, "dataChange" -> true)))))
    LakeTable.convert(spark, dir.toString)
    // v1: rename id -> ident (same id/physical), ADD nullable 'note'
    // (id 3), and a new file carrying all three physical columns
    dataFile(dir, "f1.parquet", rows(5, 9).select(
      col("id").as("col-aaa", fieldId(1)), col("name").as("col-bbb", fieldId(2)),
      concat(lit("x"), col("id")).as("col-ccc", fieldId(3))))
    val f1 = Seq(
      StructField("ident", LongType, nullable = true, mapMeta(1, "col-aaa")),
      StructField("name", StringType, nullable = true, mapMeta(2, "col-bbb")),
      StructField("note", StringType, nullable = true, mapMeta(3, "col-ccc")))
    writeCommit(log, 1, Seq(metaOf(f1, 3),
      json(Map("add" -> Map("path" -> "f1.parquet",
        "partitionValues" -> Map.empty,
        "size" -> Files.size(dir.resolve("f1.parquet")),
        "modificationTime" -> 1700000002000L, "dataChange" -> true)))))
    DeltaImport.sync(spark, dir.toString)
    val t = LakeTable.forPath(spark, dir.toString)
    t.snapshot().schema.fieldNames.toSeq shouldBe Seq("ident", "name", "note")
    t.read().agg(sum("ident")).head().getLong(0) shouldBe (0L to 9L).sum
    // old file's note reads null; the new file carries values
    t.read().filter(col("note").isNull).count() shouldBe 5
    t.read().filter(col("note") === "x7").count() shouldBe 1
    // the id high-water mark rose with the added column
    t.properties(graft.log.ColumnIds.MaxIdKey).toLong should be >= 3L
    // v2: the source REUSES the renamed-away name 'id' for a NEW column
    // (id 4). Followable — but old files' per-file stats are still keyed
    // 'id' and describe the ORIGINAL column (now 'ident'), so the
    // successor carries the name-reuse marker and exact metadata-only
    // answers refuse instead of reporting the wrong column's bounds.
    val f2 = f1 :+
      StructField("id", StringType, nullable = true, mapMeta(4, "col-ddd"))
    writeCommit(log, 2, Seq(metaOf(f2, 4)))
    DeltaImport.sync(spark, dir.toString)
    val tR = LakeTable.forPath(spark, dir.toString)
    tR.snapshot().schema.fieldNames.toSeq shouldBe
      Seq("ident", "name", "note", "id")
    graft.log.TypeWidening.nameReused(
      tR.snapshot().schema.fields.last) shouldBe true
    tR.statsMinMax("id") shouldBe None // NOT the original column's (0, 9)
    // v3: a TYPE change refuses as cut-over
    val f3 = f2.updated(0,
      StructField("ident", StringType, nullable = true, mapMeta(1, "col-aaa")))
    writeCommit(log, 3, Seq(metaOf(f3, 4)))
    intercept[IllegalArgumentException] {
      DeltaImport.sync(spark, dir.toString)
    }.getMessage should include("cut-over")
  }

  test("sync FOLLOWS a source type WIDENING (int -> long) metadata-only, " +
    "stamping the typeWidening feature in the same commit (r13)") {
    val dir = tmpDir("delta-sync-widen").resolve("t")
    def fieldId(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    def mapMeta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    dataFile(dir, "f0.parquet", rows(0, 4).select(
      col("id").as("col-aaa", fieldId(1)),
      col("id").cast("int").as("col-bbb", fieldId(2))))
    def metaOf(vType: DataType) = json(Map("metaData" -> Map(
      "id" -> "88888888-0000-1111-2222-333344445555",
      "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
      "schemaString" -> StructType(Seq(
        StructField("id", LongType, nullable = true, mapMeta(1, "col-aaa")),
        StructField("v", vType, nullable = true, mapMeta(2, "col-bbb")))).json,
      "partitionColumns" -> Nil,
      "configuration" -> Map("delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> "2"),
      "createdTime" -> 1700000000000L)))
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(reader = 2), metaOf(IntegerType),
      json(Map("add" -> Map("path" -> "f0.parquet",
        "partitionValues" -> Map.empty,
        "size" -> Files.size(dir.resolve("f0.parquet")),
        "modificationTime" -> 1700000001000L, "dataChange" -> true)))))
    LakeTable.convert(spark, dir.toString)
    // v1: the source widens v to BIGINT and appends a long-typed file
    dataFile(dir, "f1.parquet", rows(5, 9).select(
      col("id").as("col-aaa", fieldId(1)),
      (col("id") * 1000000000L).as("col-bbb", fieldId(2))))
    writeCommit(log, 1, Seq(metaOf(LongType),
      json(Map("add" -> Map("path" -> "f1.parquet",
        "partitionValues" -> Map.empty,
        "size" -> Files.size(dir.resolve("f1.parquet")),
        "modificationTime" -> 1700000002000L, "dataChange" -> true)))))
    DeltaImport.sync(spark, dir.toString)
    val t = LakeTable.forPath(spark, dir.toString)
    t.snapshot().schema("v").dataType shouldBe LongType
    // old int files upcast at scan time; values intact
    t.read().agg(sum("v")).head().getLong(0) shouldBe
      (0L to 4L).sum + (5L to 9L).map(_ * 1000000000L).sum
    // the change is RECORDED (stat/bloom honesty) and the feature stamped
    graft.log.TypeWidening.hasChanges(t.snapshot().schema("v")) shouldBe true
    t.snapshot().protocol.writerSet should contain("typeWidening")
    // int -> long stats stay exact: metadata-only min/max still answers
    t.statsMinMax("v") shouldBe Some((0L, 9000000000L))
    // anything OUTSIDE the widening matrix still refuses (long -> int)
    writeCommit(log, 2, Seq(metaOf(IntegerType)))
    intercept[IllegalArgumentException] {
      DeltaImport.sync(spark, dir.toString)
    }.getMessage should include("cut-over")
  }

  test("a widen-carrying sync range tags files written AFTER the widen " +
    "(per-file stat eras, r14); a later range whose only schema delta is " +
    "the typeChanges version stamp is NOT an evolution") {
    val dir = tmpDir("delta-sync-era").resolve("t")
    val log = dir.resolve("_delta_log")
    // the source's post-widen schema carries delta.typeChanges with the
    // DELTA commit version — the mirror records GRAFT's version, so later
    // syncs must compare modulo the version stamp (r13 ADVICE)
    def vMeta(dt: DataType, changes: Boolean,
        conf: Map[String, String] = Map.empty) = {
      val md =
        if (!changes) Metadata.empty
        else new MetadataBuilder().putMetadataArray("delta.typeChanges",
          Array(new MetadataBuilder().putString("fromType", "float")
            .putString("toType", "double").putLong("tableVersion", 2L)
            .build())).build()
      json(Map("metaData" -> Map(
        "id" -> "99999999-0000-1111-2222-333344445555",
        "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
        "schemaString" -> StructType(Seq(
          StructField("id", LongType),
          StructField("v", dt, nullable = true, md))).json,
        "partitionColumns" -> Nil,
        "configuration" -> conf,
        "createdTime" -> 1700000000000L)))
    }
    def vFile(name: String, lo: Long, hi: Long, wide: Boolean): Unit =
      dataFile(dir, name, spark.range(lo, hi + 1).select(col("id"),
        col("id").cast(if (wide) "double" else "float").as("v")))
    def vAdd(name: String) = json(Map("add" -> Map(
      "path" -> name, "partitionValues" -> Map.empty,
      "size" -> Files.size(dir.resolve(name)),
      "modificationTime" -> 1700000001000L, "dataChange" -> true)))
    vFile("f0.parquet", 0, 4, wide = false)
    writeCommit(log, 0, Seq(protoLine(),
      vMeta(FloatType, changes = false), vAdd("f0.parquet")))
    LakeTable.convert(spark, dir.toString)
    // ONE sync range carrying the widening mid-range: f1 written BEFORE
    // the widen (float era), f2 AFTER it (double era)
    vFile("f1.parquet", 5, 9, wide = false)
    vFile("f2.parquet", 10, 14, wide = true)
    writeCommit(log, 1, Seq(vAdd("f1.parquet")))
    writeCommit(log, 2, Seq(vMeta(DoubleType, changes = true),
      vAdd("f2.parquet")))
    DeltaImport.sync(spark, dir.toString)
    val t = LakeTable.forPath(spark, dir.toString)
    t.snapshot().schema("v").dataType shouldBe DoubleType
    def tagOf(name: String) =
      t.snapshot().files.find(_.path == name).get.tag("tc:v")
    // the post-widen file heals ON ARRIVAL (the r13 behavior skipped tags
    // for the whole range); the pre-widen file stays conservatively
    // untagged — its float stats are not exact double bounds
    tagOf("f2.parquet") shouldBe Some("1")
    tagOf("f1.parquet") shouldBe None
    tagOf("f0.parquet") shouldBe None
    // a later range whose metaData repeats the SAME schema (the source's
    // delta.typeChanges still stamped with Delta's version) plus a pure
    // property change is NOT an evolution: its files tag on arrival
    vFile("f3.parquet", 15, 19, wide = true)
    writeCommit(log, 3, Seq(vMeta(DoubleType, changes = true,
      conf = Map("delta.logRetentionDuration" -> "interval 60 days")),
      vAdd("f3.parquet")))
    DeltaImport.sync(spark, dir.toString)
    val t2 = LakeTable.forPath(spark, dir.toString)
    t2.snapshot().files.find(_.path == "f3.parquet").get
      .tag("tc:v") shouldBe Some("1")
    // values read correctly across both eras
    t2.read().agg(sum("v")).head().getDouble(0) shouldBe (0L to 19L).sum.toDouble
  }

  test("name-bound sync follows an ADDED nullable column; a rename " +
    "(indistinguishable from a drop) refuses (r13)") {
    val dir = tmpDir("delta-sync-evolve-name").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(), metaLine(),
      addLine(dir, "f0.parquet", 0, 4)))
    LakeTable.convert(spark, dir.toString)
    // v1 adds nullable 'extra' + a file carrying it
    val wider = StructType(schema.fields :+ StructField("extra", LongType))
    dataFile(dir, "f1.parquet",
      rows(5, 9).withColumn("extra", col("id") * 2))
    writeCommit(log, 1, Seq(
      json(Map("metaData" -> Map(
        "id" -> "11111111-2222-3333-4444-555555555555",
        "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
        "schemaString" -> wider.json,
        "partitionColumns" -> Nil, "configuration" -> Map.empty,
        "createdTime" -> 1700000000000L))),
      json(Map("add" -> Map("path" -> "f1.parquet",
        "partitionValues" -> Map.empty,
        "size" -> Files.size(dir.resolve("f1.parquet")),
        "modificationTime" -> 1700000002000L, "dataChange" -> true)))))
    DeltaImport.sync(spark, dir.toString)
    val t = LakeTable.forPath(spark, dir.toString)
    t.snapshot().schema.fieldNames.toSeq shouldBe Seq("id", "name", "extra")
    t.read().filter(col("extra").isNull).count() shouldBe 5
    t.read().agg(sum("extra")).head().getLong(0) shouldBe (5L to 9L).map(_ * 2).sum
    // v2 renames 'name' -> 'label': without ids this presents as a
    // disappeared column — refuse
    val renamed = StructType(Seq(StructField("id", LongType),
      StructField("label", StringType), StructField("extra", LongType)))
    writeCommit(log, 2, Seq(
      json(Map("metaData" -> Map(
        "id" -> "11111111-2222-3333-4444-555555555555",
        "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
        "schemaString" -> renamed.json,
        "partitionColumns" -> Nil, "configuration" -> Map.empty,
        "createdTime" -> 1700000000000L)))))
    intercept[IllegalArgumentException] {
      DeltaImport.sync(spark, dir.toString)
    }.getMessage should include("cut-over")
  }

  test("CDF follows a mirror (r13): CONVERT synthesizes its live set as " +
    "inserts, and a sync's net add/remove emits insert/delete change rows") {
    val dir = tmpDir("delta-cdf-mirror").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    dataFile(dir, "f1.parquet", rows(5, 9))
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(), metaLine(),
      addLine(dir, "f0.parquet", 0, 4)))
    val t = LakeTable.convert(spark, dir.toString)
    // the CONVERT commit reads as the initial inserts
    t.changes(0).filter(col("_change_type") === "insert")
      .select("id").as[Long].collect().sorted.toSeq shouldBe (0L to 4L)
    // the source swaps f0 for f1; the sync commit carries net add+remove
    writeCommit(log, 1, Seq(addLine(dir, "f1.parquet", 5, 9),
      removeLine("f0.parquet")))
    DeltaImport.sync(spark, dir.toString)
    val t2 = LakeTable.forPath(spark, dir.toString)
    val ch = t2.changes(t2.version, Some(t2.version))
    ch.filter(col("_change_type") === "insert")
      .select("id").as[Long].collect().sorted.toSeq shouldBe (5L to 9L)
    ch.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted.toSeq shouldBe (0L to 4L)
  }

  test("sync propagates Delta-side configuration changes, stamping implied " +
    "table features in the same commit") {
    val dir = tmpDir("delta-props").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    dataFile(dir, "f1.parquet", rows(5, 9))
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(), metaLine(),
      addLine(dir, "f0.parquet", 0, 4)))
    val t = LakeTable.convert(spark, dir.toString)
    t.properties.get("graft.enableChangeDataFeed") shouldBe None
    // the Delta side enables CDF (a full metaData with new configuration)
    writeCommit(log, 1, Seq(
      metaLine(conf = Map("delta.enableChangeDataFeed" -> "true",
        "delta.deletedFileRetentionDuration" -> "interval 7 days")),
      addLine(dir, "f1.parquet", 5, 9)))
    DeltaImport.sync(spark, dir.toString)
    val t2 = LakeTable.forPath(spark, dir.toString)
    t2.properties.get("graft.enableChangeDataFeed") shouldBe Some("true")
    t2.properties.get("graft.deletedFileRetentionDuration") shouldBe
      Some("interval 7 days")
    // property-implies-feature rode the SAME commit
    t2.snapshot().protocol.writerSet should contain("changeDataFeed")
    t2.read().count() shouldBe 10
  }

  test("a Delta-side OPTIMIZE (dataChange=false file swap) syncs as a pure " +
    "metadata swap — no data re-materialization") {
    val dir = tmpDir("delta-optimize").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    dataFile(dir, "f1.parquet", rows(5, 9))
    val log = dir.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(), metaLine(),
      addLine(dir, "f0.parquet", 0, 4), addLine(dir, "f1.parquet", 5, 9)))
    val t = LakeTable.convert(spark, dir.toString)
    // the Delta side compacts: one dataChange=false commit swaps f0+f1 for
    // fc (their concatenation) — plus an ordinary append in the same range
    dataFile(dir, "fc.parquet", rows(0, 9))
    dataFile(dir, "f2.parquet", rows(10, 14))
    writeCommit(log, 1, Seq(
      json(Map("add" -> Map("path" -> "fc.parquet",
        "partitionValues" -> Map.empty,
        "size" -> Files.size(dir.resolve("fc.parquet")),
        "modificationTime" -> 1700000003000L, "dataChange" -> false,
        "stats" -> json(Map("numRecords" -> 10,
          "minValues" -> Map("id" -> 0), "maxValues" -> Map("id" -> 9),
          "nullCount" -> Map("id" -> 0, "name" -> 0)))))),
      json(Map("remove" -> Map("path" -> "f0.parquet",
        "deletionTimestamp" -> 1700000003000L, "dataChange" -> false))),
      json(Map("remove" -> Map("path" -> "f1.parquet",
        "deletionTimestamp" -> 1700000003000L, "dataChange" -> false)))))
    writeCommit(log, 2, Seq(addLine(dir, "f2.parquet", 10, 14)))
    DeltaImport.sync(spark, dir.toString)
    val t2 = LakeTable.forPath(spark, dir.toString)
    t2.snapshot().files.map(_.path).toSet shouldBe Set("fc.parquet", "f2.parquet")
    t2.read().agg(sum("id")).head().getLong(0) shouldBe (0L to 14L).sum
    // pure swap: the synced adds are the Delta files IN PLACE (no graft
    // data write), stats carried from the log (no footer re-read needed)
    t2.snapshot().files.find(_.path == "fc.parquet").get.numRecords shouldBe 10
    val h = t2.history(Some(1)).collect()(0)
    h.getString(3) shouldBe "DELTA SYNC"
    h.getMap[String, String](5)("numAddedFiles") shouldBe "2"
    h.getMap[String, String](5)("numRemovedFiles") shouldBe "2"
  }

  test("partitioned Delta tables rewrite-import: partition values re-inject " +
    "from the log into a natively partitioned graft table") {
    val src = tmpDir("delta-rewrite").resolve("src")
    // data files carry ONLY the data column (Delta never stores partition
    // columns in the files — they live in the log), so a correct import
    // must re-inject them from partitionValues
    dataFile(src, "f0.parquet", spark.range(0, 5).toDF("id"))
    dataFile(src, "f1.parquet", spark.range(5, 10).toDF("id"))
    dataFile(src, "f2.parquet", spark.range(10, 15).toDF("id"))
    val pSchema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType)))
    val log = src.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(),
      json(Map("metaData" -> Map(
        "id" -> "22222222-0000-1111-2222-333344445555",
        "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
        "schemaString" -> pSchema.json,
        "partitionColumns" -> Seq("p"), "configuration" -> Map.empty,
        "createdTime" -> 1700000000000L))),
      addLine(src, "f0.parquet", 0, 4, stats = false, pv = Map("p" -> "a")),
      addLine(src, "f1.parquet", 5, 9, stats = false, pv = Map("p" -> "b"))))
    writeCommit(log, 1, Seq(
      addLine(src, "f2.parquet", 10, 14, stats = false, pv = Map("p" -> "b")),
      removeLine("f1.parquet")))
    // in-place convert refuses and names the remedy
    val err = intercept[IllegalArgumentException] {
      DeltaImport.convert(spark, src.toString)
    }.getMessage
    err should include("PARTITIONED")
    err should include("convertRewrite")
    val dest = tmpDir("delta-rewrite").resolve("dest").toString
    val t = DeltaImport.convertRewrite(spark, src.toString, dest)
    t.snapshot().metadata.partitionColumns shouldBe Seq("p")
    t.read().count() shouldBe 10
    // partition values are the LOG's, per file
    t.read().groupBy("p").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .orderBy("p").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq shouldBe Seq(("a", 5L, 10L), ("b", 5L, 60L))
    // the destination is a real partitioned graft table: pruning works
    val full = t.snapshot().numFiles
    t.read(Seq(col("p") === "a")).inputFiles.length should be < full
  }

  test("absolute add paths refuse: the data does not live under the table " +
    "root and must not resolve to wrong local files") {
    val dir = tmpDir("delta-abs").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    writeCommit(dir.resolve("_delta_log"), 0, Seq(protoLine(), metaLine(),
      json(Map("add" -> Map(
        "path" -> "s3://bucket/other/f.parquet",
        "partitionValues" -> Map.empty, "size" -> 1000L,
        "modificationTime" -> 1700000000000L, "dataChange" -> true)))))
    intercept[IllegalArgumentException] {
      DeltaImport.convert(spark, dir.toString)
    }.getMessage should include("absolute")
  }

  test("files without stats fall back to footer-derived stats (exact " +
    "bounds, correct record counts)") {
    val dir = tmpDir("delta-nostats").resolve("t")
    dataFile(dir, "f0.parquet", rows(0, 4))
    dataFile(dir, "f1.parquet", rows(5, 9))
    writeCommit(dir.resolve("_delta_log"), 0, Seq(protoLine(), metaLine(),
      addLine(dir, "f0.parquet", 0, 4, stats = false),
      addLine(dir, "f1.parquet", 5, 9, stats = false)))
    val t = DeltaImport.convert(spark, dir.toString)
    t.read().count() shouldBe 10
    t.snapshot().files.map(_.numRecords).sum shouldBe 10
    // footer stats are exact for longs -> metadata min/max answers
    t.statsMinMax("id") shouldBe Some((0L, 9L))
  }

  test("followable rewrite: syncRewrite follows adds, removes, DV growth " +
    "and DV purge on a partitioned source; replay no-ops; in-place sync, " +
    "local DML, one-shot destinations, and schema changes refuse") {
    val src = tmpDir("delta-rwsync").resolve("src")
    val pSchema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType)))
    def pMeta(schemaJson: String = pSchema.json) = json(Map("metaData" -> Map(
      "id" -> "44444444-0000-1111-2222-333344445555",
      "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
      "schemaString" -> schemaJson,
      "partitionColumns" -> Seq("p"), "configuration" -> Map.empty,
      "createdTime" -> 1700000000000L)))
    dataFile(src, "f0.parquet", spark.range(0, 5).toDF("id"))
    dataFile(src, "f1.parquet", spark.range(5, 10).toDF("id"))
    val log = src.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(), pMeta(),
      addLine(null, "f0.parquet", 0, 4, stats = false, pv = Map("p" -> "a")),
      addLine(null, "f1.parquet", 5, 9, stats = false, pv = Map("p" -> "b"))))
    val dest = tmpDir("delta-rwsync").resolve("dest").toString
    val t = DeltaImport.convertRewrite(spark, src.toString, dest, follow = true)
    t.read().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (0L to 9L)
    // lineage rides the rows: log-relative file + PHYSICAL row position
    t.read().filter(col("_src_file") === "f0.parquet").count() shouldBe 5
    t.read().filter(col("_src_file") === "f1.parquet" && col("_src_pos") === 2)
      .select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(7L)

    // the source advances: f1 removed, f2 (p=c) added, and a Delta DELETE
    // re-adds f0 with a deletion vector masking positions {1, 2}
    dataFile(src, "f2.parquet", spark.range(10, 15).toDF("id"))
    writeCommit(log, 1, Seq(removeLine("f1.parquet"),
      addLine(null, "f2.parquet", 10, 14, stats = false, pv = Map("p" -> "c")),
      addLine(null, "f0.parquet", 0, 4, stats = false,
        dv = realDv(src, Seq(1L, 2L)), pv = Map("p" -> "a"))))
    val v1 = DeltaImport.syncRewrite(spark, src.toString, dest)
    val t2 = LakeTable.forPath(spark, dest)
    t2.read().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(0L, 3L, 4L, 10L, 11L, 12L, 13L, 14L)
    // partition values survived the churn; lineage still points at f0
    t2.read().filter(col("p") === "a")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(0L, 3L, 4L)
    t2.read().filter(col("_src_file") === "f0.parquet")
      .select("_src_pos").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(0L, 3L, 4L)
    // replay: no-op
    DeltaImport.syncRewrite(spark, src.toString, dest) shouldBe v1
    t2.read().count() shouldBe 8

    // a Delta-side purge re-adds f0 WITHOUT a descriptor: the masked rows
    // RETURN (remove + re-add under the current vector state)
    writeCommit(log, 2, Seq(
      addLine(null, "f0.parquet", 0, 4, stats = false, pv = Map("p" -> "a"))))
    DeltaImport.syncRewrite(spark, src.toString, dest)
    LakeTable.forPath(spark, dest).read()
      .select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L, 14L)

    // the in-place sync names the right tool for a rewrite destination
    intercept[IllegalArgumentException] {
      DeltaImport.sync(spark, dest)
    }.getMessage should include("syncRewrite")
    // a one-shot destination carries no lineage
    val oneShot = tmpDir("delta-rwsync").resolve("oneshot").toString
    DeltaImport.convertRewrite(spark, src.toString, oneShot)
    intercept[IllegalArgumentException] {
      DeltaImport.syncRewrite(spark, src.toString, oneShot)
    }.getMessage should include("follow = true")
    // a source schema change is the cut-over moment for a rewrite dest
    val wideSchema = StructType(pSchema.fields :+ StructField("extra", StringType))
    writeCommit(log, 3, Seq(pMeta(wideSchema.json)))
    intercept[IllegalArgumentException] {
      DeltaImport.syncRewrite(spark, src.toString, dest)
    }.getMessage should include("schema changed")
    // roll the source back to the followable shape; local DML then refuses
    writeCommit(log, 4, Seq(pMeta()))
    LakeTable.forPath(spark, dest).delete(col("id") === 0L)
    intercept[IllegalArgumentException] {
      DeltaImport.syncRewrite(spark, src.toString, dest)
    }.getMessage should include("cut-over")
  }

  test("followable rewrite survives a destination OPTIMIZE between syncs: " +
    "lineage rides compaction, and the next sync still prunes by it") {
    val src = tmpDir("delta-rwsync-opt").resolve("src")
    val pSchema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType)))
    dataFile(src, "f0.parquet", spark.range(0, 5).toDF("id"))
    dataFile(src, "f1.parquet", spark.range(5, 10).toDF("id"))
    val log = src.resolve("_delta_log")
    writeCommit(log, 0, Seq(protoLine(), json(Map("metaData" -> Map(
      "id" -> "55555555-0000-1111-2222-333344445555",
      "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
      "schemaString" -> pSchema.json,
      "partitionColumns" -> Seq("p"), "configuration" -> Map.empty,
      "createdTime" -> 1700000000000L))),
      addLine(null, "f0.parquet", 0, 4, stats = false, pv = Map("p" -> "a")),
      addLine(null, "f1.parquet", 5, 9, stats = false, pv = Map("p" -> "a"))))
    val dest = tmpDir("delta-rwsync-opt").resolve("dest").toString
    DeltaImport.convertRewrite(spark, src.toString, dest, follow = true)
    LakeTable.forPath(spark, dest).optimizeCompact(): Unit
    // the source then drops f1 — the post-compaction merge must still
    // remove exactly f1's rows by the lineage COLUMN
    writeCommit(log, 1, Seq(removeLine("f1.parquet")))
    DeltaImport.syncRewrite(spark, src.toString, dest)
    LakeTable.forPath(spark, dest).read()
      .select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (0L to 4L)
  }
}
