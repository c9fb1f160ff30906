package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec
import graft.table.LakeTable

class GraftStreamSourceSpec extends SparkSpec {
  import spark.implicits._

  // single-file batches keep re-emission counts deterministic
  private def df(ids: Range) =
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1)

  test("initial snapshot, then per-commit appends; OPTIMIZE never re-emits") {
    val dir = tmpDir("gss-app").resolve("t").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 10))
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("gss1").outputMode("append").start()
    q.processAllAvailable()
    spark.table("gss1").count() shouldBe 10
    t.append(df(10 until 25))
    q.processAllAvailable()
    spark.table("gss1").count() shouldBe 25
    t.optimizeCompact()
    q.processAllAvailable()
    spark.table("gss1").count() shouldBe 25 // compaction is not new data
    t.append(df(25 until 30))
    q.processAllAvailable()
    spark.table("gss1").count() shouldBe 30
    spark.table("gss1").select("id").as[Long].collect().sorted shouldBe
      (0L until 30L).toArray
    q.stop()
  }

  test("startingVersion serves appends only, from that version on") {
    val dir = tmpDir("gss-sv").resolve("t").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 10)) // v0 create, v1 append
    t.append(df(10 until 15))                                // v2
    val q = spark.readStream.format("graft")
      .option("startingVersion", "2").load(dir)
      .writeStream.format("memory").queryName("gss2").outputMode("append").start()
    q.processAllAvailable()
    spark.table("gss2").select("id").as[Long].collect().sorted shouldBe
      (10L until 15L).toArray
    t.append(df(15 until 18))
    q.processAllAvailable()
    spark.table("gss2").count() shouldBe 8
    q.stop()
  }

  test("startingTimestamp resolves to the first commit at or after it (epoch millis form)") {
    val dir = tmpDir("gss-sts").resolve("t").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 10)) // v0 create, v1 append
    val t1 = t.log.snapshot().commits.last.timestamp
    t.clockMillis = () => t1 + 10000L
    t.append(df(10 until 15)) // v2 @ t1+10000
    // a probe strictly between v1 and v2 must start the stream at v2
    val q = spark.readStream.format("graft")
      .option("startingTimestamp", (t1 + 1).toString).load(dir)
      .writeStream.format("memory").queryName("gsssts").outputMode("append").start()
    q.processAllAvailable()
    spark.table("gsssts").select("id").as[Long].collect().sorted shouldBe
      (10L until 15L).toArray
    q.stop()
  }

  test("startingTimestamp accepts date-only strings and refuses future timestamps") {
    val dir = tmpDir("gss-sts2").resolve("t").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 5))
    // date-only form (Delta accepts '2020-01-01'): far in the past → serves
    // the table's full history like startingVersion=0
    val q = spark.readStream.format("graft")
      .option("startingTimestamp", "2020-01-01").load(dir)
      .writeStream.format("memory").queryName("gsssts2").outputMode("append").start()
    q.processAllAvailable()
    spark.table("gsssts2").count() shouldBe 5
    q.stop()
    // a timestamp beyond the latest commit fails loudly (a typo'd
    // far-future probe must not silently yield an empty stream)
    val latest = t.log.snapshot().commits.map(_.timestamp).max
    val e = intercept[Exception] {
      spark.readStream.format("graft")
        .option("startingTimestamp", (latest + 3600000L).toString).load(dir)
        .writeStream.format("memory").queryName("gsssts3").outputMode("append").start()
        .processAllAvailable()
    }
    (e.getMessage + Option(e.getCause).map(_.getMessage).mkString) should
      include("after the table's latest commit")
  }

  test("data-changing commit fails the stream without ignoreChanges") {
    val dir = tmpDir("gss-fail").resolve("t").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 10))
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("gss3").outputMode("append").start()
    q.processAllAvailable()
    t.delete(col("id") < 2) // rewrite: remove + add
    val e = intercept[StreamingQueryException] { q.processAllAvailable() }
    e.getCause.getMessage should include("ignoreChanges")
  }

  test("ignoreChanges re-emits the rewritten file; ignoreDeletes skips remove-only") {
    val dir = tmpDir("gss-ign").resolve("t").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 10))
    val q = spark.readStream.format("graft")
      .option("ignoreChanges", "true").option("ignoreDeletes", "true").load(dir)
      .writeStream.format("memory").queryName("gss4").outputMode("append").start()
    q.processAllAvailable()
    spark.table("gss4").count() shouldBe 10
    t.delete(col("id") < 2) // single file: rewritten with the 8 survivors
    q.processAllAvailable()
    spark.table("gss4").count() shouldBe 18 // 10 + 8 re-emitted (downstream dedups)
    t.delete(col("id") >= 0) // everything goes: remove-only commit
    q.processAllAvailable()
    spark.table("gss4").count() shouldBe 18 // skipped by ignoreDeletes
    q.stop()
  }

  test("readChangeFeed streams row-level changes; default is from-now-on") {
    val dir = tmpDir("gss-cdf").resolve("t").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 3))           // v0, v1
    t.setProperties(Map("graft.enableChangeDataFeed" -> "true"))      // v2
    t.update(col("id") === 1L, Map("v" -> lit("upd")))                // v3: pre+post
    // history from v3 on (v1's append synthesizes inserts; v3 has sidecars)
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "3").load(dir)
      .writeStream.format("memory").queryName("gcdf1").outputMode("append").start()
    q.processAllAvailable()
    spark.table("gcdf1").select("_change_type").as[String].collect().sorted shouldBe
      Array("update_postimage", "update_preimage")
    t.delete(col("id") === 0L)                                        // v4
    q.processAllAvailable()
    val got = spark.table("gcdf1")
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    got should contain((0L, "delete", 4L))
    got.size shouldBe 3
    q.stop()
    // default (no startingVersion): only changes AFTER stream start
    val q2 = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.format("memory").queryName("gcdf2").outputMode("append").start()
    q2.processAllAvailable()
    spark.table("gcdf2").count() shouldBe 0
    t.update(col("id") === 2L, Map("v" -> lit("upd2")))
    q2.processAllAvailable()
    spark.table("gcdf2").select("_change_type").as[String].collect().sorted shouldBe
      Array("update_postimage", "update_preimage")
    q2.stop()
  }

  test("readChangeFeed on a row-tracked table streams _row_id") {
    val dir = tmpDir("gss-cdfrid").resolve("t").toString
    val t = LakeTable.create(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))),
      properties = Map(
        "graft.enableChangeDataFeed" -> "true",
        "graft.enableRowTracking" -> "true"))
    t.append(df(0 until 3)) // v1: one sorted file -> row i has id i
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(dir)
      .writeStream.format("memory").queryName("gcdfrid").outputMode("append").start()
    q.processAllAvailable()
    spark.table("gcdfrid").select("_row_id", "id")
      .as[(Long, Long)].collect().sorted shouldBe Array((0L, 0L), (1L, 1L), (2L, 2L))
    t.update(col("id") === 1L, Map("v" -> lit("upd"))) // sidecar with ids
    q.processAllAvailable()
    spark.table("gcdfrid")
      .filter(col("_change_type").startsWith("update"))
      .select("_row_id").as[Long].collect() shouldBe Array(1L, 1L)
    q.stop()
  }

  test("readChangeFeed with maxFilesPerTrigger drains history in version-bounded batches") {
    val dir = tmpDir("gss-cdfcap").resolve("t").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 4))           // v0, v1
    t.setProperties(Map("graft.enableChangeDataFeed" -> "true"))      // v2
    t.update(col("id") === 0L, Map("v" -> lit("u0")))                 // v3
    t.update(col("id") === 1L, Map("v" -> lit("u1")))                 // v4
    t.delete(col("id") === 2L)                                        // v5
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "3")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("gcdfcap").outputMode("append").start()
    q.processAllAvailable()
    val rows = spark.table("gcdfcap").select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    rows shouldBe Set(
      (0L, "update_preimage", 3L), (0L, "update_postimage", 3L),
      (1L, "update_preimage", 4L), (1L, "update_postimage", 4L),
      (2L, "delete", 5L))
    // version-granularity caps: each DML version exceeds 1 file, so every
    // batch carries exactly one commit (admit-at-least-one rule)
    q.recentProgress.map(_.numInputRows).count(_ > 0) should be >= 3
    // live appends keep flowing under the cap
    t.update(col("id") === 3L, Map("v" -> lit("u3")))                 // v6
    q.processAllAvailable()
    spark.table("gcdfcap").count() shouldBe 7
    q.stop()
  }

  test("restart resumes from the checkpointed version offset") {
    val base = tmpDir("gss-ckpt")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ck").toString
    val out = base.resolve("out").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 5))
    def start() = spark.readStream.format("graft").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    spark.read.parquet(out).count() shouldBe 5
    t.append(df(5 until 9))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    // exactly the new commit arrives after restart — no snapshot replay
    spark.read.parquet(out).select("id").as[Long].collect().sorted shouldBe
      (0L until 9L).toArray
  }

  test("mid-run type widening fails the stream loudly; a restart serves the widened schema") {
    val base = tmpDir("gss-widen")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ck").toString
    val out = base.resolve("out").toString
    val t = LakeTable.create(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.IntegerType))),
      properties = Map("graft.enableTypeWidening" -> "true"))
    t.append(Seq((1L, 10)).toDF("k", "v"))
    def start() = spark.readStream.format("graft").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    q1.processAllAvailable()
    // widen MID-RUN, then land a value only the wide type can hold: the
    // run-pinned INT schema cannot narrow the new LONG file — the running
    // query must fail loudly, never truncate (Delta's restart contract)
    t.widenColumn("v", org.apache.spark.sql.types.LongType)
    t.append(Seq((2L, Int.MaxValue.toLong + 5L)).toDF("k", "v"))
    an[Exception] should be thrownBy { q1.processAllAvailable() }
    q1.stop()
    val q2 = start() // fresh source: schema re-resolves to the WIDENED one
    q2.processAllAvailable(); q2.stop()
    // the restart served the failed batch under BIGINT; the sink dir now
    // mixes INT and BIGINT files — exactly what the widening read handles
    spark.read.schema("k BIGINT, v BIGINT").parquet(out)
      .select("v").as[Long]
      .collect().sorted shouldBe Array(10L, Int.MaxValue.toLong + 5L)
  }

  test("maxFilesPerTrigger bounds every micro-batch; rows arrive exactly once") {
    val dir = tmpDir("gss-rate").resolve("t").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 5))
    (1 to 4).foreach(k => t.append(df(k * 5 until (k + 1) * 5))) // 5 files x 5 rows
    val q = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "2").load(dir)
      .writeStream.format("memory").queryName("gssRate").outputMode("append").start()
    q.processAllAvailable()
    spark.table("gssRate").select("id").as[Long].collect().sorted shouldBe
      (0L until 25L).toArray
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    all(sizes) should be <= 10L // 2 files x 5 rows per batch
    sizes.length should be >= 3 // 5 snapshot files / 2 per batch
    // appends keep flowing under the same cap
    t.append(df(25 until 30))
    q.processAllAvailable()
    spark.table("gssRate").count() shouldBe 30
    q.stop()
  }

  test("Trigger.AvailableNow drains the backlog in capped batches, then stops") {
    val dir = tmpDir("gss-anow").resolve("t").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 5))
    (1 to 4).foreach(k => t.append(df(k * 5 until (k + 1) * 5))) // 5 files x 5 rows
    val ck = tmpDir("gss-anow-ck").toString
    val out = tmpDir("gss-anow-out").toString
    def run(): Seq[Long] = {
      val q = spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "2").load(dir)
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", ck).option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // AvailableNow terminates on its own once the pinned backlog drains
      assert(q.awaitTermination(120000), "AvailableNow query did not stop")
      q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    }
    val sizes = run()
    spark.read.parquet(out).select("id").as[Long].collect().sorted shouldBe
      (0L until 25L).toArray
    // the backlog arrived in capped chunks, not one monster batch
    all(sizes) should be <= 10L // 2 files x 5 rows per batch
    sizes.length should be >= 3 // 5 snapshot files / 2 per batch
    // second AvailableNow run with no new data: nothing re-served
    run()
    spark.read.parquet(out).count() shouldBe 25
    // appends between runs are drained by the next run, still exactly once
    t.append(df(25 until 30))
    t.append(df(30 until 35))
    run()
    spark.read.parquet(out).select("id").as[Long].collect().sorted shouldBe
      (0L until 35L).toArray
  }

  test("maxBytesPerTrigger admits at least one file per batch") {
    val dir = tmpDir("gss-bytes").resolve("t").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 5))
    (1 to 2).foreach(k => t.append(df(k * 5 until (k + 1) * 5))) // 3 files
    val q = spark.readStream.format("graft")
      .option("maxBytesPerTrigger", "1").load(dir) // every file exceeds 1 byte
      .writeStream.format("memory").queryName("gssBytes").outputMode("append").start()
    q.processAllAvailable()
    spark.table("gssBytes").count() shouldBe 15
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    all(sizes) shouldBe 5L // exactly one 5-row file per batch
    sizes.length shouldBe 3
    q.stop()
  }

  test("capped stream restart: pinned snapshot, no replay, no loss") {
    val base = tmpDir("gss-rate-ckpt")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ck").toString
    val out = base.resolve("out").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 5))
    (1 to 4).foreach(k => t.append(df(k * 5 until (k + 1) * 5))) // 5 files
    def start(trigger: org.apache.spark.sql.streaming.Trigger) =
      spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "2").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).trigger(trigger)
        .outputMode("append").start()
    // one capped batch, then stop mid-snapshot
    val q1 = start(org.apache.spark.sql.streaming.Trigger.Once())
    q1.awaitTermination()
    spark.read.parquet(out).count() shouldBe 10 // 2 of 5 snapshot files
    // restart finishes the pinned snapshot — nothing replayed, nothing
    // lost, and catch-up batches are STILL capped (the source recovers
    // the committed position from the checkpoint's own offsets log)
    val q2 = start(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    q2.processAllAvailable()
    val sizes = q2.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    all(sizes) should be <= 10L // 2 files x 5 rows per batch, post-restart too
    q2.stop()
    spark.read.parquet(out).select("id").as[Long].collect().sorted shouldBe
      (0L until 25L).toArray
  }

  test("legacy uncapped checkpoint resumes under newly-enabled caps") {
    val base = tmpDir("gss-legacy")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ck").toString
    val out = base.resolve("out").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 5))
    def start(caps: Boolean) = {
      val r = spark.readStream.format("graft")
      (if (caps) r.option("maxFilesPerTrigger", "1") else r).load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    }
    val q1 = start(caps = false)
    q1.processAllAvailable(); q1.stop() // legacy LongOffset checkpoint
    t.append(df(5 until 10))
    t.append(df(10 until 15))
    val q2 = start(caps = true)
    q2.processAllAvailable()
    spark.read.parquet(out).select("id").as[Long].collect().sorted shouldBe
      (0L until 15L).toArray
    // new appends now arrive one file per batch
    t.append(df(15 until 20))
    t.append(df(20 until 25))
    q2.processAllAvailable(); q2.stop()
    spark.read.parquet(out).select("id").as[Long].collect().sorted shouldBe
      (0L until 25L).toArray
  }

  test("randomized caps partition the file sequence exactly once (3 seeds)") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 101)
      val dir = tmpDir(s"gss-prop$seed").resolve("t").toString
      // random history: create + appends of random row counts (1 file each)
      var next = 0
      def batch(): org.apache.spark.sql.DataFrame = {
        val n = 1 + rnd.nextInt(7)
        val d = df(next until next + n); next += n; d
      }
      val t = LakeTable.createFrom(spark, dir, batch())
      (1 to 2 + rnd.nextInt(4)).foreach(_ => t.append(batch()))
      val maxF = 1 + rnd.nextInt(3)
      val q = spark.readStream.format("graft")
        .option("maxFilesPerTrigger", maxF.toString).load(dir)
        .writeStream.format("memory").queryName(s"gssProp$seed")
        .outputMode("append").start()
      q.processAllAvailable()
      // appends mid-stream keep the contract
      (1 to 2).foreach(_ => t.append(batch()))
      q.processAllAvailable()
      val got = spark.table(s"gssProp$seed").select("id").as[Long].collect().sorted
      got shouldBe (0L until next.toLong).toArray // exactly once, no loss
      val rowsPerBatch = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      all(rowsPerBatch.toSeq) should be <= (maxF * 7).toLong // cap honored
      q.stop()
    }
  }

  test("mid-run additive evolution keeps serving the run's schema; restart widens") {
    val base = tmpDir("gss-evo")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ck").toString
    val out = base.resolve("out").toString
    val t = LakeTable.createFrom(spark, dir, df(0 until 4))
    def start() = spark.readStream.format("graft").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    q1.processAllAvailable()
    // MID-RUN evolution: the running stream keeps its (id, v) schema,
    // projecting the widened files down by name
    t.append(Seq((100L, "v100", 7)).toDF("id", "v", "extra").coalesce(1),
      mergeSchema = true)
    q1.processAllAvailable(); q1.stop()
    spark.read.parquet(out).columns.sorted shouldBe Array("id", "v")
    spark.read.parquet(out).count() shouldBe 5
    // RESTART picks up the evolved schema (Delta's documented behavior)
    t.append(Seq((101L, "v101", 8)).toDF("id", "v", "extra").coalesce(1))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val widened = spark.read.option("mergeSchema", "true").parquet(out)
    widened.columns.sorted shouldBe Array("extra", "id", "v")
    widened.filter(col("id") === 101L).select("extra").as[Int].collect() shouldBe Array(8)
  }

  // ---- minimal hand-written Delta source for the mirror-follow cases ----
  private val deltaMapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  private def dj(v: Any): String = deltaMapper.writeValueAsString(v)
  private def deltaDataFile(dir: java.nio.file.Path, name: String,
      d: org.apache.spark.sql.DataFrame): Unit = {
    import scala.jdk.CollectionConverters._
    val staging = java.nio.file.Files.createTempDirectory("gss-mirror-stage")
    d.coalesce(1).write.mode("overwrite").parquet(staging.resolve("out").toString)
    val part = {
      val st = java.nio.file.Files.list(staging.resolve("out"))
      try st.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally st.close()
    }
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.move(part, dir.resolve(name))
    graft.log.TxLog.deleteRecursively(staging)
  }
  private def deltaCommit(dir: java.nio.file.Path, v: Long,
      lines: Seq[String]): Unit = {
    val log = dir.resolve("_delta_log")
    java.nio.file.Files.createDirectories(log)
    java.nio.file.Files.write(log.resolve(f"$v%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(
        java.nio.charset.StandardCharsets.UTF_8)): Unit
  }
  private def deltaMeta(schemaJson: String, pcols: Seq[String] = Nil) =
    dj(Map("metaData" -> Map(
      "id" -> "aaaa1111-2222-3333-4444-555555555555",
      "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
      "schemaString" -> schemaJson, "partitionColumns" -> pcols,
      "configuration" -> Map.empty, "createdTime" -> 1700000000000L)))
  private def deltaProto(reader: Int = 1, features: Seq[String] = null) =
    dj(Map("protocol" -> (Map(
      "minReaderVersion" -> reader, "minWriterVersion" -> 2) ++
      Option(features).map(f =>
        Map("readerFeatures" -> f, "writerFeatures" -> f))
        .getOrElse(Map.empty))))
  private def deltaAdd(dir: java.nio.file.Path, name: String,
      pv: Map[String, String] = Map.empty, dv: Map[String, Any] = null) =
    dj(Map("add" -> (Map(
      "path" -> name, "partitionValues" -> pv,
      "size" -> java.nio.file.Files.size(dir.resolve(name)),
      "modificationTime" -> 1700000001000L, "dataChange" -> true) ++
      Option(dv).map("deletionVector" -> _).toMap)))
  private def deltaRemove(name: String) = dj(Map("remove" -> Map(
    "path" -> name, "deletionTimestamp" -> 1700000002000L,
    "dataChange" -> true)))

  test("followMirror streams a synced IN-PLACE mirror on a cadence: sync " +
    "adds arrive exactly once, source-side removes and mask rebuilds do " +
    "not retract or fail the stream; local DML still fails") {
    val src = tmpDir("gss-mirror").resolve("t")
    deltaDataFile(src, "f0.parquet", df(0 until 10))
    deltaDataFile(src, "f1.parquet", df(10 until 20))
    deltaCommit(src, 0, Seq(deltaProto(3, Seq("deletionVectors")),
      deltaMeta(df(0 until 1).schema.json),
      deltaAdd(src, "f0.parquet"), deltaAdd(src, "f1.parquet")))
    LakeTable.convert(spark, src.toString)
    val q = spark.readStream.format("graft")
      .option("followMirror", "true").load(src.toString)
      .writeStream.format("memory").queryName("gssMirror")
      .outputMode("append").start()
    q.processAllAvailable()
    spark.table("gssMirror").count() shouldBe 20
    // the source swaps f1 for f2 — the DELTA SYNC commit carries add +
    // remove; followMirror emits the net-NEW file only, never retracts
    deltaDataFile(src, "f2.parquet", df(20 until 25))
    deltaCommit(src, 1, Seq(deltaRemove("f1.parquet"),
      deltaAdd(src, "f2.parquet")))
    graft.migrate.DeltaImport.sync(spark, src.toString)
    q.processAllAvailable()
    spark.table("gssMirror").count() shouldBe 25
    spark.table("gssMirror").select("id").as[Long].collect().sorted shouldBe
      (0L until 25L).toArray
    // a Delta DELETE re-adds f0 with a vector: the sync rebuilds graft
    // masks (a DV-only data change) — followMirror skips it, no retraction
    val dvData = graft.log.DeltaDv.serializeArray(Seq(0L))
    deltaCommit(src, 2, Seq(deltaAdd(src, "f0.parquet", dv = Map(
      "storageType" -> "i",
      "pathOrInlineDv" -> graft.log.DeltaDv.packInline(dvData),
      "sizeInBytes" -> dvData.length, "cardinality" -> 1))))
    graft.migrate.DeltaImport.sync(spark, src.toString)
    q.processAllAvailable()
    spark.table("gssMirror").count() shouldBe 25
    // a sync can add a file AND its mask in ONE commit (the source wrote
    // then deleted between sync cadences): the emitted appends must serve
    // MASKED — a raw read would stream rows never live in the mirror
    deltaDataFile(src, "f3.parquet", df(25 until 30))
    deltaCommit(src, 3, Seq(deltaAdd(src, "f3.parquet")))
    val dv3 = graft.log.DeltaDv.serializeArray(Seq(0L, 1L))
    deltaCommit(src, 4, Seq(deltaAdd(src, "f3.parquet", dv = Map(
      "storageType" -> "i",
      "pathOrInlineDv" -> graft.log.DeltaDv.packInline(dv3),
      "sizeInBytes" -> dv3.length, "cardinality" -> 2))))
    graft.migrate.DeltaImport.sync(spark, src.toString)
    q.processAllAvailable()
    // f3 contributed only its unmasked rows (positions 2..4 = ids 27-29)
    spark.table("gssMirror").select("id").as[Long].collect().sorted shouldBe
      ((0L until 25L) ++ Seq(27L, 28L, 29L)).toArray
    // remove f3, then a PURE re-add (a Delta RESTORE shape): the re-add
    // lands as a pure-append sync commit, which must ALSO be suppressed —
    // its rows were already delivered and never retracted
    deltaCommit(src, 5, Seq(deltaRemove("f3.parquet")))
    graft.migrate.DeltaImport.sync(spark, src.toString)
    q.processAllAvailable()
    deltaCommit(src, 6, Seq(deltaAdd(src, "f3.parquet")))
    graft.migrate.DeltaImport.sync(spark, src.toString)
    q.processAllAvailable()
    spark.table("gssMirror").count() shouldBe 28 // no duplicates
    q.stop()
    // followMirror does NOT blanket-accept local DML: a graft-side DELETE
    // (cut-over) still fails the stream
    val q2 = spark.readStream.format("graft")
      .option("followMirror", "true").load(src.toString)
      .writeStream.format("memory").queryName("gssMirror2")
      .outputMode("append").start()
    q2.processAllAvailable()
    LakeTable.forPath(spark, src.toString).delete(col("id") === 3L)
    val e = intercept[StreamingQueryException] { q2.processAllAvailable() }
    e.getCause.getMessage should include("followMirror")
  }

  test("followMirror streams a followable REWRITE destination: the " +
    "rewrite-sync's lineage merges emit nothing, its appends stream") {
    val src = tmpDir("gss-rwmirror").resolve("src")
    val pSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.StringType)))
    deltaDataFile(src, "f0.parquet", spark.range(0, 5).toDF("id"))
    deltaDataFile(src, "f1.parquet", spark.range(5, 10).toDF("id"))
    deltaCommit(src, 0, Seq(deltaProto(),
      deltaMeta(pSchema.json, pcols = Seq("p")),
      deltaAdd(src, "f0.parquet", pv = Map("p" -> "a")),
      deltaAdd(src, "f1.parquet", pv = Map("p" -> "b"))))
    val dest = tmpDir("gss-rwmirror").resolve("dest").toString
    graft.migrate.DeltaImport.convertRewrite(spark, src.toString, dest,
      follow = true)
    val q = spark.readStream.format("graft")
      .option("followMirror", "true").load(dest)
      .writeStream.format("memory").queryName("gssRw")
      .outputMode("append").start()
    q.processAllAvailable()
    spark.table("gssRw").count() shouldBe 10
    // source drops f1 and adds f2: syncRewrite = one lineage merge-DELETE
    // (emits nothing) + one pure append (streams)
    deltaDataFile(src, "f2.parquet", spark.range(10, 15).toDF("id"))
    deltaCommit(src, 1, Seq(deltaRemove("f1.parquet"),
      deltaAdd(src, "f2.parquet", pv = Map("p" -> "c"))))
    graft.migrate.DeltaImport.syncRewrite(spark, src.toString, dest)
    q.processAllAvailable()
    spark.table("gssRw").count() shouldBe 15
    spark.table("gssRw").select("id").as[Long].collect().sorted shouldBe
      (0L until 15L).toArray
    q.stop()
  }

  test("followMirror emission ledger stays O(live + retention window) " +
    "under churn: committed horizons fold, expired tombstones drop, " +
    "rows still arrive exactly once") {
    val src = tmpDir("gss-ledger").resolve("t")
    deltaDataFile(src, "f0.parquet", df(0 until 5))
    deltaCommit(src, 0, Seq(deltaProto(),
      deltaMeta(df(0 until 1).schema.json), deltaAdd(src, "f0.parquet")))
    LakeTable.convert(spark, src.toString)
    // retention 0: removals expire immediately once their horizon commits
    val q = spark.readStream.format("graft")
      .option("followMirror", "true")
      .option("mirrorTombstoneRetention", "0").load(src.toString)
      .writeStream.format("memory").queryName("gssLedger")
      .outputMode("append").start()
    q.processAllAvailable()
    spark.table("gssLedger").count() shouldBe 5 // initial snapshot
    val source = q
      .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.logicalPlan.collect {
        case org.apache.spark.sql.execution.streaming.runtime
          .StreamingExecutionRelation(s: GraftStreamSource, _, _) => s
      }.head
    // churn: every sync swaps the previous file for a new one — the shape
    // whose r14 ledger grew by one path per sync, forever
    (1 to 6).foreach { i =>
      deltaDataFile(src, s"f$i.parquet", df(i * 10 until i * 10 + 5))
      deltaCommit(src, i, Seq(deltaRemove(s"f${i - 1}.parquet"),
        deltaAdd(src, s"f$i.parquet")))
      graft.migrate.DeltaImport.sync(spark, src.toString)
      q.processAllAvailable()
      // each new file's rows exactly once, nothing re-emitted
      spark.table("gssLedger").count() shouldBe 5L * (i + 1)
    }
    // bounded: live set (1 path) + entries past the last committed horizon
    // (≤ 1 version) + expired-empty tombstones — NOT the 7 paths ever
    // emitted that the unbounded r14 ledger would hold here
    source.mirrorStateSize should be <= 3
    // the documented retention boundary (the price of boundedness, the
    // same class as Delta's vacuum-retention vs RESTORE): a re-add of a
    // path removed LONGER ago than the retention re-emits its rows.
    // Within-retention suppression (default 7 days) is covered by the
    // "followMirror streams a synced IN-PLACE mirror" test above.
    deltaCommit(src, 7, Seq(deltaAdd(src, "f0.parquet")))
    graft.migrate.DeltaImport.sync(spark, src.toString)
    q.processAllAvailable()
    spark.table("gssLedger").count() shouldBe 40
    q.stop()
  }
}
