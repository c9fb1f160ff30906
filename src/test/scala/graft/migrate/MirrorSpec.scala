package graft.migrate

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.log.{DeltaDv, LocalLogStore, LogStore}
import graft.table.LakeTable

/** The shared mirror core ([[Mirror]]) seen from both formats: the
  * followable-rewrite sync survives a crash before ANY of its log writes
  * or deletes and converges when re-run, old-shape ledgers still sync,
  * the Iceberg sequence attach and a Delta rewrite's masked read and
  * partition-tuple attach give the same rows on both sides of their
  * broadcast thresholds, and the
  * in-place sync's footer binding gate refuses files its mirror cannot
  * bind. Fixtures are hand-written to the public Delta and Iceberg specs. */
class MirrorSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }
  private def json(v: Any): String = mapper.writeValueAsString(v)

  /** Write `df` as ONE parquet file at `target`. */
  private def writeOne(target: Path, df: DataFrame): Unit = {
    val staging = Files.createTempDirectory("mirror-stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging.resolve("out").toString)
    val part = {
      val s = Files.list(staging.resolve("out"))
      try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.createDirectories(target.getParent)
    Files.move(part, target)
    graft.log.TxLog.deleteRecursively(staging)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally s.close()
  }

  private class Crash extends RuntimeException("simulated crash")

  /** The local store, counting log writes and deletes. With `crashAt`
    * = k > 0 it dies before the k-th: that call and every later one (reads
    * too) throw, as if the process stopped there. */
  private class CrashingStore(crashAt: Int) extends LogStore {
    val mutations = new AtomicInteger()
    @volatile private var dead = false
    private def live[A](f: => A): A = { if (dead) throw new Crash; f }
    private def mutate[A](f: => A): A = live {
      if (mutations.incrementAndGet() == crashAt) { dead = true; throw new Crash }
      f
    }
    def listFileNames(d: Path): Seq[String] = live(LocalLogStore.listFileNames(d))
    override def listFileNamesAfter(d: Path, after: String): Seq[String] =
      live(LocalLogStore.listFileNamesAfter(d, after))
    def read(p: Path): Seq[String] = live(LocalLogStore.read(p))
    override def readBytes(p: Path): Array[Byte] = live(LocalLogStore.readBytes(p))
    def writeAtomic(p: Path, b: Array[Byte], ow: Boolean): Boolean =
      mutate(LocalLogStore.writeAtomic(p, b, ow))
    def delete(p: Path): Boolean = mutate(LocalLogStore.delete(p))
    override def modifiedMillis(p: Path): Option[Long] =
      live(LocalLogStore.modifiedMillis(p))
  }

  private def withStore[A](store: LogStore)(f: => A): A = {
    val prev = LogStore.default
    LogStore.default = store
    try f finally LogStore.default = prev
  }

  private def ids(dest: String): Seq[Long] =
    LakeTable.forPath(spark, dest).read().select("id").as[Long].collect().sorted.toSeq

  private def ledgers(dest: String): Seq[String] =
    LocalLogStore.listFileNames(java.nio.file.Paths.get(dest, Mirror.LedgerDir))
      .filter(_.startsWith("ledger-")).sorted

  /** Crash `sync` (a followable-rewrite sync into its argument) before
    * each of its log writes and deletes in turn, on copies of the
    * destination `base`; after each crash a plain re-run must reach the
    * uninterrupted twin's rows and consumed-source properties, with at
    * most two ledgers left. Returns the number of crash points. */
  private def crashEveryStep(base: Path, consumedKeys: Seq[String])(
      sync: String => Long): Int = {
    val work = base.getParent
    def fresh(name: String): String = {
      val d = work.resolve(name)
      copyTree(base, d)
      d.toString
    }
    def consumed(dest: String): Seq[Option[String]] = {
      val props = LakeTable.forPath(spark, dest).properties
      consumedKeys.map(props.get)
    }
    val twin = fresh("twin")
    val counter = new CrashingStore(0)
    withStore(counter)(sync(twin))
    val n = counter.mutations.get()
    val want = ids(twin)
    ledgers(twin).size should be <= 2
    (1 to n).foreach { k =>
      val dest = fresh(s"crash-$k")
      val crashed = scala.util.Try(withStore(new CrashingStore(k))(sync(dest)))
      withClue(s"crash before mutation $k of $n: ") {
        crashed.isFailure shouldBe true
        sync(dest)
        ids(dest) shouldBe want
        consumed(dest) shouldBe consumed(twin)
        ledgers(dest).size should be <= 2
        // the re-run converged: one more sync is a no-op
        val v = LakeTable.forPath(spark, dest).version
        sync(dest) shouldBe v
      }
    }
    n
  }

  // ------------------------------------------------------------ Delta

  private val deltaSchema = StructType(Seq(
    StructField("id", LongType), StructField("p", StringType)))

  private def deltaCommit(log: Path, v: Long, lines: Seq[String]): Unit = {
    Files.createDirectories(log)
    Files.write(log.resolve(f"$v%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)): Unit
  }

  private def deltaMeta: String = json(Map("metaData" -> Map(
    "id" -> "66666666-0000-1111-2222-333344445555",
    "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
    "schemaString" -> deltaSchema.json,
    "partitionColumns" -> Seq("p"), "configuration" -> Map.empty,
    "createdTime" -> 1700000000000L)))

  private def deltaProto: String =
    json(Map("protocol" -> Map("minReaderVersion" -> 1, "minWriterVersion" -> 2)))

  private def deltaAdd(src: Path, name: String, p: String,
      masked: Seq[Long] = Nil): String = {
    val dv =
      if (masked.isEmpty) Map.empty[String, Any]
      else {
        val data = DeltaDv.serializeArray(masked)
        Map("deletionVector" -> Map("storageType" -> "i",
          "pathOrInlineDv" -> DeltaDv.packInline(data),
          "sizeInBytes" -> data.length, "cardinality" -> masked.size))
      }
    json(Map("add" -> (Map("path" -> name, "partitionValues" -> Map("p" -> p),
      "size" -> Files.size(src.resolve(name)),
      "modificationTime" -> 1700000001000L, "dataChange" -> true) ++ dv)))
  }

  private def deltaRemove(name: String): String = json(Map("remove" -> Map(
    "path" -> name, "deletionTimestamp" -> 1700000002000L, "dataChange" -> true)))

  private def idFile(target: Path, lo: Long, hi: Long): Unit =
    writeOne(target, spark.range(lo, hi + 1).toDF("id"))

  test("Delta followable-rewrite sync: a crash before any log write or " +
    "delete converges on re-run to the uninterrupted twin") {
    val work = tmpDir("mirror-crash-delta")
    val src = work.resolve("src")
    val log = src.resolve("_delta_log")
    (0 until 4).foreach(k => idFile(src.resolve(s"f$k.parquet"), k * 10L, k * 10L + 9))
    deltaCommit(log, 0, Seq(deltaProto, deltaMeta,
      deltaAdd(src, "f0.parquet", "a"), deltaAdd(src, "f1.parquet", "b")))
    val base = work.resolve("base")
    DeltaImport.convertRewrite(spark, src.toString, base.toString, follow = true)
    // a checkpoint every other commit puts checkpoint writes among the
    // crash points
    LakeTable.forPath(spark, base.toString)
      .setProperties(Map("graft.checkpointInterval" -> "2")): Unit
    // one clean sync first, so the destination holds two ledgers and the
    // crashed sync has one to prune
    deltaCommit(log, 1, Seq(deltaAdd(src, "f2.parquet", "c"),
      deltaAdd(src, "f0.parquet", "a", masked = Seq(1L))))
    DeltaImport.syncRewrite(spark, src.toString, base.toString)
    ledgers(base.toString).size shouldBe 2
    // the crashed sync: a removal, a new file, and DV growth
    deltaCommit(log, 2, Seq(deltaRemove("f1.parquet"),
      deltaAdd(src, "f3.parquet", "a"),
      deltaAdd(src, "f0.parquet", "a", masked = Seq(1L, 2L, 3L))))
    val n = crashEveryStep(base, Seq(DeltaImport.SourceVersionKey)) { dest =>
      DeltaImport.syncRewrite(spark, src.toString, dest)
    }
    n should be >= 4
    ids(work.resolve("twin").toString) shouldBe
      (Seq(0L) ++ (4L to 9L) ++ (20L to 39L))
  }

  // ---------------------------------------------------------- Iceberg

  private val listSchema = new org.apache.avro.Schema.Parser().parse("""{
    "type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string"},
      {"name":"manifest_length","type":"long"},
      {"name":"partition_spec_id","type":"int"},
      {"name":"content","type":"int"},
      {"name":"sequence_number","type":"long"},
      {"name":"min_sequence_number","type":"long"},
      {"name":"added_snapshot_id","type":"long"}]}""")
  private val entrySchema = new org.apache.avro.Schema.Parser().parse("""{
    "type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int"},
      {"name":"sequence_number","type":["null","long"],"default":null},
      {"name":"data_file","type":{
        "type":"record","name":"r2","fields":[
          {"name":"content","type":"int"},
          {"name":"file_path","type":"string"},
          {"name":"file_format","type":"string"},
          {"name":"partition","type":{
            "type":"record","name":"r102","fields":[]}},
          {"name":"record_count","type":"long"},
          {"name":"file_size_in_bytes","type":"long"},
          {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}]}}]}""")

  private def writeAvro(target: Path, schema: org.apache.avro.Schema,
      rows: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, target.toFile)
    try rows.foreach(w.append) finally w.close()
  }

  private def fid(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()

  /** An unpartitioned Iceberg v2 table at `dir`, one `id` column (field
    * id 1). Each [[publish]] writes the next snapshot from the live data
    * files (name -> (row count, data sequence)), position-delete files and
    * equality-delete files (name -> sequence) under `metadata/`. */
  private class IcebergSource(val dir: Path) {
    private val metaDir = dir.resolve("metadata")
    Files.createDirectories(metaDir)
    private var version = 0L

    def dataFile(name: String, ids: Seq[Long]): Unit =
      writeOne(dir.resolve(name), ids.toDF("id0").select(col("id0").as("id", fid(1))))
    def posDeleteFile(name: String, target: String, positions: Seq[Long]): Unit =
      writeOne(metaDir.resolve(name),
        positions.map(p => (dir.resolve(target).toString, p)).toDF("file_path", "pos"))
    def eqDeleteFile(name: String, keys: Seq[Long]): Unit =
      writeOne(metaDir.resolve(name), keys.toDF("id0").select(col("id0").as("id", fid(1))))

    def publish(seq: Long, data: Seq[(String, Long, Long)],
        posDeletes: Seq[String] = Nil, eqDeletes: Seq[(String, Long)] = Nil): Unit = {
      version += 1
      def manifest(i: Int, content: Int, path: Path, count: Long,
          entrySeq: Long, eqIds: Seq[Int]): (Path, Int, Long) = {
        val dfs = entrySchema.getField("data_file").schema()
        val d = new GenericData.Record(dfs)
        d.put("content", content)
        d.put("file_path", path.toString)
        d.put("file_format", "PARQUET")
        d.put("partition", new GenericData.Record(dfs.getField("partition").schema()))
        d.put("record_count", count)
        d.put("file_size_in_bytes", Files.size(path))
        if (eqIds.nonEmpty) d.put("equality_ids", eqIds.map(Integer.valueOf).asJava)
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("sequence_number", java.lang.Long.valueOf(entrySeq))
        e.put("data_file", d)
        val m = metaDir.resolve(s"m-$version-$i.avro")
        writeAvro(m, entrySchema, Seq(e))
        (m, if (content == 0) 0 else 1, entrySeq)
      }
      val manifests = data.zipWithIndex.map { case ((n, count, s), i) =>
        manifest(i, 0, dir.resolve(n), count, s, Nil)
      } ++ posDeletes.zipWithIndex.map { case (n, i) =>
        manifest(100 + i, 1, metaDir.resolve(n), 1L, seq, Nil)
      } ++ eqDeletes.zipWithIndex.map { case ((n, s), i) =>
        manifest(200 + i, 2, metaDir.resolve(n), 1L, s, Seq(1))
      }
      val listPath = metaDir.resolve(s"snap-$version.avro")
      writeAvro(listPath, listSchema, manifests.map { case (p, content, s) =>
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", p.toString)
        r.put("manifest_length", Files.size(p))
        r.put("partition_spec_id", 0)
        r.put("content", content)
        r.put("sequence_number", s)
        r.put("min_sequence_number", s)
        r.put("added_snapshot_id", 1000 + version)
        r
      })
      Files.write(metaDir.resolve(s"v$version.metadata.json"), json(Map(
        "format-version" -> 2, "table-uuid" -> "mirror-spec",
        "location" -> dir.toString,
        "last-sequence-number" -> seq, "last-updated-ms" -> 1700000000000L,
        "last-column-id" -> 1, "current-schema-id" -> 0,
        "schemas" -> Seq(Map("type" -> "struct", "schema-id" -> 0,
          "fields" -> Seq(Map("id" -> 1, "name" -> "id",
            "required" -> false, "type" -> "long")))),
        "default-spec-id" -> 0,
        "partition-specs" -> Seq(Map("spec-id" -> 0, "fields" -> Nil)),
        "last-partition-id" -> 999, "default-sort-order-id" -> 0,
        "sort-orders" -> Seq(Map("order-id" -> 0, "fields" -> Nil)),
        "properties" -> Map.empty, "current-snapshot-id" -> (1000 + version),
        "snapshots" -> Seq(Map(
          "snapshot-id" -> (1000 + version), "timestamp-ms" -> 1700000000000L,
          "sequence-number" -> seq, "schema-id" -> 0,
          "summary" -> Map.empty, "manifest-list" -> listPath.toString)),
        "snapshot-log" -> Nil, "metadata-log" -> Nil))
        .getBytes(StandardCharsets.UTF_8))
      Files.write(metaDir.resolve("version-hint.text"),
        version.toString.getBytes(StandardCharsets.UTF_8)): Unit
    }
  }

  test("Iceberg followable-rewrite sync: a crash before any log write or " +
    "delete converges on re-run to the uninterrupted twin") {
    val work = tmpDir("mirror-crash-iceberg")
    val src = new IcebergSource(work.resolve("src"))
    (0 until 4).foreach(k => src.dataFile(s"f$k.parquet", k * 10L until k * 10L + 10))
    src.publish(1, Seq(("f0.parquet", 10, 1), ("f1.parquet", 10, 1)))
    val base = work.resolve("base")
    IcebergImport.convertRewrite(spark, src.dir.toString, base.toString, follow = true)
    LakeTable.forPath(spark, base.toString)
      .setProperties(Map("graft.checkpointInterval" -> "2")): Unit
    src.posDeleteFile("pd1.parquet", "f0.parquet", Seq(1L))
    src.publish(2, Seq(("f0.parquet", 10, 1), ("f1.parquet", 10, 1),
      ("f2.parquet", 10, 2)), posDeletes = Seq("pd1.parquet"))
    IcebergImport.syncRewrite(spark, src.dir.toString, base.toString)
    ledgers(base.toString).size shouldBe 2
    // the crashed sync: f1 removed, f3 added, a new position delete on
    // f0, and an equality delete of keys 21 and 31 (sequence 3: it deletes
    // f2's 21, not f3's 31, which is written at sequence 3 too)
    src.posDeleteFile("pd2.parquet", "f0.parquet", Seq(2L))
    src.eqDeleteFile("eq3.parquet", Seq(21L, 31L))
    src.publish(3, Seq(("f0.parquet", 10, 1), ("f2.parquet", 10, 2),
      ("f3.parquet", 10, 3)), posDeletes = Seq("pd1.parquet", "pd2.parquet"),
      eqDeletes = Seq("eq3.parquet" -> 3L))
    val n = crashEveryStep(base,
      Seq(IcebergImport.SourceSeqKey, IcebergImport.SourceMetaVersionKey)) { dest =>
      IcebergImport.syncRewrite(spark, src.dir.toString, dest)
    }
    n should be >= 5
    ids(work.resolve("twin").toString) shouldBe
      (Seq(0L) ++ (3L to 9L) ++ (20L to 39L).filterNot(_ == 21L))
  }

  // ------------------------------------------------------------ ledger

  test("ledgers written in each format's earlier JSON shape still sync") {
    // Delta: {"dataFiles": {path: DV signature}} as ledger-<version>.json
    val dWork = tmpDir("mirror-ledger-delta")
    val dSrc = dWork.resolve("src")
    val dLog = dSrc.resolve("_delta_log")
    (0 until 2).foreach(k => idFile(dSrc.resolve(s"f$k.parquet"), k * 10L, k * 10L + 9))
    deltaCommit(dLog, 0, Seq(deltaProto, deltaMeta,
      deltaAdd(dSrc, "f0.parquet", "a"), deltaAdd(dSrc, "f1.parquet", "b")))
    val dDest = dWork.resolve("dest")
    DeltaImport.convertRewrite(spark, dSrc.toString, dDest.toString, follow = true)
    Files.write(dDest.resolve(Mirror.LedgerDir).resolve("ledger-0.json"),
      """{"dataFiles":{"f0.parquet":"","f1.parquet":""}}"""
        .getBytes(StandardCharsets.UTF_8))
    Mirror.readLedger(dDest, 0L) shouldBe Some(Mirror.Ledger(
      Map("f0.parquet" -> "", "f1.parquet" -> "")))
    deltaCommit(dLog, 1, Seq(deltaRemove("f1.parquet")))
    DeltaImport.syncRewrite(spark, dSrc.toString, dDest.toString)
    ids(dDest.toString) shouldBe (0L to 9L)

    // Iceberg: arrays of data / position-delete / equality-delete files as
    // ledger-<sequence>-<metadata version>.json
    val iWork = tmpDir("mirror-ledger-iceberg")
    val src = new IcebergSource(iWork.resolve("src"))
    (0 until 2).foreach(k => src.dataFile(s"f$k.parquet", k * 10L until k * 10L + 10))
    src.publish(1, Seq(("f0.parquet", 10, 1), ("f1.parquet", 10, 1)))
    val iDest = iWork.resolve("dest")
    IcebergImport.convertRewrite(spark, src.dir.toString, iDest.toString, follow = true)
    val ledgerDir = iDest.resolve(Mirror.LedgerDir)
    LocalLogStore.listFileNames(ledgerDir).foreach(n => Files.delete(ledgerDir.resolve(n)))
    Files.write(ledgerDir.resolve("ledger-1-1.json"),
      """{"dataFiles":["f0.parquet","f1.parquet"],"posDeleteFiles":[],"eqDeleteFiles":[]}"""
        .getBytes(StandardCharsets.UTF_8))
    Mirror.readLedger(iDest, 1L) shouldBe Some(Mirror.Ledger(
      Map("f0.parquet" -> "", "f1.parquet" -> "")))
    src.eqDeleteFile("eq2.parquet", Seq(3L, 13L))
    src.publish(2, Seq(("f1.parquet", 10, 1)), eqDeletes = Seq("eq2.parquet" -> 2L))
    IcebergImport.syncRewrite(spark, src.dir.toString, iDest.toString)
    ids(iDest.toString) shouldBe (10L to 19L).filterNot(_ == 13L)
  }

  // --------------------------------------------- broadcast threshold

  test("graft.iceberg.broadcastFileMetaMax: the shuffle-join side (0) of " +
    "the sequence attach reads the same rows as the broadcast default") {
    val work = tmpDir("mirror-filemeta")
    val src = new IcebergSource(work.resolve("src"))
    (0 until 3).foreach(k => src.dataFile(s"f$k.parquet", k * 10L until k * 10L + 10))
    src.eqDeleteFile("eq.parquet", Seq(1L, 12L, 25L))
    // the delete (sequence 2) applies to f0 and f1 (sequence 1), not f2 (3)
    src.publish(3, Seq(("f0.parquet", 10, 1), ("f1.parquet", 10, 1),
      ("f2.parquet", 10, 3)), eqDeletes = Seq("eq.parquet" -> 2L))
    val want = (0L to 29L).filterNot(Set(1L, 12L))
    def rewrite(name: String): Seq[Long] = {
      val dest = work.resolve(name).toString
      IcebergImport.convertRewrite(spark, src.dir.toString, dest)
      ids(dest)
    }
    rewrite("broadcast") shouldBe want
    // Spark's own size-based broadcast would otherwise pick the small
    // per-file side anyway, hiding the shuffle join
    val key = "graft.iceberg.broadcastFileMetaMax"
    val auto = "spark.sql.autoBroadcastJoinThreshold"
    val autoBefore = spark.conf.getOption(auto)
    spark.conf.set(key, "0")
    spark.conf.set(auto, "-1")
    try rewrite("shuffle") shouldBe want
    finally {
      spark.conf.unset(key)
      autoBefore.fold(spark.conf.unset(auto))(spark.conf.set(auto, _))
    }
  }

  // ------------------------------------------- foreign-file binding gate

  test("Iceberg in-place sync refuses a new id-less file into a by-id " +
    "mirror, and a non-schema footer column into a name-bound mirror") {
    // by id: the imported files carry field ids, the synced one does not
    val byId = new IcebergSource(tmpDir("mirror-bind-id").resolve("t"))
    byId.dataFile("f0.parquet", 0L until 10L)
    byId.publish(1, Seq(("f0.parquet", 10, 1)))
    IcebergImport.convert(spark, byId.dir.toString)
    writeOne(byId.dir.resolve("f1.parquet"), (10L until 20L).toDF("id"))
    byId.publish(2, Seq(("f0.parquet", 10, 1), ("f1.parquet", 10, 2)))
    intercept[IllegalArgumentException] {
      IcebergImport.sync(spark, byId.dir.toString)
    }.getMessage should include("field id")
    ids(byId.dir.toString) shouldBe (0L until 10L)

    // by name: no file carries ids, and the synced one adds a column the
    // schema does not name
    val byName = new IcebergSource(tmpDir("mirror-bind-name").resolve("t"))
    writeOne(byName.dir.resolve("f0.parquet"), (0L until 10L).toDF("id"))
    byName.publish(1, Seq(("f0.parquet", 10, 1)))
    IcebergImport.convert(spark, byName.dir.toString)
    writeOne(byName.dir.resolve("f1.parquet"),
      (10L until 20L).map(i => (i, s"x$i")).toDF("id", "stray"))
    byName.publish(2, Seq(("f0.parquet", 10, 1), ("f1.parquet", 10, 2)))
    intercept[IllegalArgumentException] {
      IcebergImport.sync(spark, byName.dir.toString)
    }.getMessage should include("not a schema column")
    ids(byName.dir.toString) shouldBe (0L until 10L)
  }

  // ------------------------------------------------- rewrite mask tiers

  test("graft.dv.broadcastMaxMasks and graft.iceberg.broadcastFileMetaMax: " +
    "a partitioned Delta rewrite over live deletion vectors reads the same " +
    "rows on the executor-decode side (0) of the masks, and on the " +
    "shuffle-join side (0) of the partition tuples, as under the defaults") {
    val work = tmpDir("mirror-dvtier")
    val src = work.resolve("src")
    (0 until 3).foreach(k => idFile(src.resolve(s"f$k.parquet"), k * 10L, k * 10L + 9))
    deltaCommit(src.resolve("_delta_log"), 0, Seq(deltaProto, deltaMeta,
      deltaAdd(src, "f0.parquet", "a", masked = Seq(1L, 4L)),
      deltaAdd(src, "f1.parquet", "b"),
      deltaAdd(src, "f2.parquet", "a", masked = Seq(0L, 9L))))
    val want = (0L to 29L).filterNot(Set(1L, 4L, 20L, 29L))
    def rewrite(name: String): Seq[(Long, String)] = {
      val dest = work.resolve(name).toString
      DeltaImport.convertRewrite(spark, src.toString, dest)
      LakeTable.forPath(spark, dest).read().select("id", "p").as[(Long, String)]
        .collect().sorted.toSeq
    }
    val broadcast = rewrite("broadcast")
    broadcast.map(_._1) shouldBe want
    broadcast.filter(_._2 == "b").map(_._1) shouldBe (10L to 19L)
    val key = "graft.dv.broadcastMaxMasks"
    spark.conf.set(key, "0")
    try rewrite("decoded") shouldBe broadcast
    finally spark.conf.unset(key)
    // Spark's own size-based broadcast would otherwise pick the small
    // tuple side anyway, hiding the shuffle join
    val metaKey = "graft.iceberg.broadcastFileMetaMax"
    val auto = "spark.sql.autoBroadcastJoinThreshold"
    val autoBefore = spark.conf.getOption(auto)
    spark.conf.set(metaKey, "0")
    spark.conf.set(auto, "-1")
    try rewrite("shuffled") shouldBe broadcast
    finally {
      spark.conf.unset(metaKey)
      autoBefore.fold(spark.conf.unset(auto))(spark.conf.set(auto, _))
    }
  }
}
