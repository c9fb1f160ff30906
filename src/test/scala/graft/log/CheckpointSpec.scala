package graft.log

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.table.LakeTable

class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  test("checkpoints are written every 10 commits and snapshots match full replay") {
    val t = LakeTable.create(spark, tmpDir("ckpt").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema)
    (1 to 23).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    t.log.listCheckpoints() shouldBe Seq(10L, 20L)

    // checkpointed resolution equals a replay with checkpoints removed
    val withCkpt = t.snapshot()
    t.log.listCheckpoints().foreach(v =>
      Files.delete(t.log.logDir.resolve(f"$v%020d.checkpoint.json")))
    val fullReplay = t.snapshot()
    withCkpt.version shouldBe 23
    // (fresh view after deletion; both must agree on everything)
    fullReplay.files.map(_.path).sorted shouldBe withCkpt.files.map(_.path).sorted
    fullReplay.commits.map(_.version) shouldBe withCkpt.commits.map(_.version)
    fullReplay.metadata shouldBe withCkpt.metadata
  }

  test("graft.checkpointInterval overrides the default cadence") {
    val t = LakeTable.create(spark, tmpDir("ckpt-iv").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema,
      properties = Map("graft.checkpointInterval" -> "4"))
    (1 to 9).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    t.log.listCheckpoints() shouldBe Seq(4L, 8L)
  }

  test("history, time travel, and CDF are unaffected by checkpoints") {
    val t = LakeTable.create(spark, tmpDir("ckpt2").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema,
      properties = Map("graft.enableChangeDataFeed" -> "true"))
    (1 to 12).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    t.delete(col("k") <= 2L)
    t.log.listCheckpoints() should not be empty

    // full commit history survives (checkpoint carries prior CommitInfos)
    t.history().count() shouldBe 14 // v0 create + 12 appends + delete
    // time travel BELOW the checkpoint still replays exactly
    t.versionAsOf(5).count() shouldBe 5
    // CDF across the checkpoint boundary yields all changes
    val ch = t.changes(1L)
    ch.filter(col("_change_type") === "insert").count() shouldBe 12
    ch.filter(col("_change_type") === "delete").count() shouldBe 2
    t.read().count() shouldBe 10
  }

  test("a corrupt checkpoint falls back to an older one, then to full replay") {
    val t = LakeTable.create(spark, tmpDir("ckpt-corrupt").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema)
    (1 to 23).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    t.log.listCheckpoints() shouldBe Seq(10L, 20L)
    val reference = t.snapshot()
    // torn newest checkpoint (truncated copy / bit rot): resolution must
    // fall back to checkpoint 10 + log tail, not fail and not mis-apply
    val cp20 = t.log.logDir.resolve(f"${20L}%020d.checkpoint.json")
    val bytes = Files.readAllBytes(cp20)
    Files.write(cp20, bytes.take(bytes.length / 2))
    val viaOlder = LakeTable.forPath(spark, t.dir.toString).snapshot()
    viaOlder.version shouldBe reference.version
    viaOlder.files.map(_.path).sorted shouldBe reference.files.map(_.path).sorted
    viaOlder.commits.map(_.version) shouldBe reference.commits.map(_.version)
    // truncation exactly at a LINE boundary: every surviving line parses,
    // but the CheckpointMeta header's count disagrees — must be rejected
    // (without the header this cut would silently drop live files)
    val lines = new String(bytes, "UTF-8").split("\n").toSeq
    lines.head should include("checkpointMeta")
    Files.write(cp20, lines.dropRight(3).mkString("", "\n", "\n").getBytes("UTF-8"))
    val viaOlder2 = LakeTable.forPath(spark, t.dir.toString).snapshot()
    viaOlder2.files.map(_.path).sorted shouldBe reference.files.map(_.path).sorted
    // both checkpoints torn: full replay from v0 still resolves exactly
    val cp10 = t.log.logDir.resolve(f"${10L}%020d.checkpoint.json")
    Files.write(cp10, "not json\n".getBytes)
    val viaReplay = LakeTable.forPath(spark, t.dir.toString).snapshot()
    viaReplay.version shouldBe reference.version
    viaReplay.files.map(_.path).sorted shouldBe reference.files.map(_.path).sorted
    viaReplay.metadata shouldBe reference.metadata
  }

  test("multi-part checkpoints: written above partSize, read back, invisible when partial") {
    val t = LakeTable.create(spark, tmpDir("ckpt-mp").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema,
      properties = Map(
        "graft.checkpointInterval" -> "5",
        "graft.checkpoint.partSize" -> "7"))
    (1 to 12).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    t.log.listCheckpoints() shouldBe Seq(5L, 10L)
    // the v10 checkpoint carries > 7 actions (protocol + metadata + domains
    // + 11 commit infos + 10 files): it must be multi-part, no single file
    import scala.jdk.CollectionConverters._
    def logNames() = {
      val s = Files.list(t.log.logDir)
      try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    }
    val v10parts = logNames().filter(_.startsWith(f"${10L}%020d.checkpoint."))
    v10parts should not be empty
    v10parts.foreach(_ should fullyMatch regex raw"\d{20}\.checkpoint\.\d{10}\.\d{10}\.json")
    v10parts.size should be > 1
    // a fresh replay resolves THROUGH the multi-part base exactly
    val reference = t.snapshot()
    val viaParts = LakeTable.forPath(spark, t.dir.toString).snapshot()
    viaParts.version shouldBe reference.version
    viaParts.files.map(_.path).sorted shouldBe reference.files.map(_.path).sorted
    viaParts.commits.map(_.version) shouldBe reference.commits.map(_.version)
    viaParts.metadata shouldBe reference.metadata
    // delete ONE part: the checkpoint must become INVISIBLE (fall back to
    // v5 + tail), never a half-applied base
    Files.delete(t.log.logDir.resolve(v10parts.sorted.head))
    val t2 = LakeTable.forPath(spark, t.dir.toString)
    t2.log.listCheckpoints() shouldBe Seq(5L)
    val viaFallback = t2.snapshot()
    viaFallback.files.map(_.path).sorted shouldBe reference.files.map(_.path).sorted
    viaFallback.commits.map(_.version) shouldBe reference.commits.map(_.version)
    // a torn PART (cut at a line boundary: parses, count disagrees) on the
    // v5 checkpoint... v5 is single-layout here only if small; instead tear
    // a freshly rewritten multi-part at v10 and assert fallback again
    t2.log.writeCheckpoint(10L)
    val rewritten = logNames().filter(_.startsWith(f"${10L}%020d.checkpoint."))
    rewritten.size should be > 1
    val victim = t.log.logDir.resolve(rewritten.sorted.last)
    val lines = new String(Files.readAllBytes(victim), "UTF-8").split("\n").toSeq
    Files.write(victim, lines.dropRight(2).mkString("", "\n", "\n").getBytes("UTF-8"))
    val viaTorn = LakeTable.forPath(spark, t.dir.toString).snapshot()
    viaTorn.files.map(_.path).sorted shouldBe reference.files.map(_.path).sorted
  }

  test("TRUNCATE HISTORY sweeps below a multi-part boundary checkpoint") {
    val t = LakeTable.create(spark, tmpDir("ckpt-mp-tr").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema,
      properties = Map(
        "graft.checkpoint.partSize" -> "5",
        "graft.enableDeletionVectors" -> "true"))
    (1 to 8).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    t.delete(col("k") === 3L)
    t.setProperties(Map("graft.enableDeletionVectors" -> "false"))
    t.reorgPurge()
    val before = t.read().orderBy("k").as[(Long, String)].collect()
    val historyBefore = t.history().count()
    t.dropFeature("deletionVectors", truncateHistory = true)
    val t2 = LakeTable.forPath(spark, t.dir.toString)
    // the boundary checkpoint is multi-part and the earliest version file
    // is the boundary itself
    t2.log.listVersions().head should be > 0L
    t2.read().orderBy("k").as[(Long, String)].collect() shouldBe before
    t2.history().count() shouldBe historyBefore + 1
    // and the table keeps working past the boundary
    t2.append(Seq((99L, "z")).toDF("k", "v"))
    t2.read().count() shouldBe before.length + 1
  }

  test("_last_checkpoint pointer: fast-path resolution, defect falls back, below-pointer time travel intact") {
    val t = LakeTable.create(spark, tmpDir("ckpt-lcp").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema)
    (1 to 23).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    // the pointer names the newest checkpoint
    t.log.lastCheckpoint() shouldBe Some(20L)
    val reference = t.snapshot()
    // fresh replay resolves through the pointer (same answer)
    val viaPointer = LakeTable.forPath(spark, t.dir.toString).snapshot()
    viaPointer.version shouldBe 23L
    viaPointer.files.map(_.path).sorted shouldBe reference.files.map(_.path).sorted
    viaPointer.commits.map(_.version) shouldBe reference.commits.map(_.version)
    // time travel BELOW the pointer still replays exactly (scan path)
    t.versionAsOf(5).count() shouldBe 5
    // a missing target version still errors loudly despite the pointer
    an[IllegalArgumentException] should be thrownBy t.log.snapshot(Some(99L))
    // a CORRUPT pointer degrades to the listing scan, never a wrong answer
    Files.write(t.log.logDir.resolve("_last_checkpoint"), "garbage".getBytes)
    val viaScan = LakeTable.forPath(spark, t.dir.toString)
    viaScan.version shouldBe 23L
    viaScan.snapshot().files.map(_.path).sorted shouldBe
      reference.files.map(_.path).sorted
    // a FUTURE-DATED pointer (names a checkpoint that does not exist)
    // likewise falls back, for both latestVersion and snapshot
    Files.write(t.log.logDir.resolve("_last_checkpoint"),
      """{"version":999}""".getBytes)
    val viaBogus = LakeTable.forPath(spark, t.dir.toString)
    viaBogus.version shouldBe 23L
    viaBogus.read().count() shouldBe 23L
    // a STALE pointer (older checkpoint) is just a longer tail — correct
    Files.write(t.log.logDir.resolve("_last_checkpoint"),
      """{"version":10}""".getBytes)
    val viaStale = LakeTable.forPath(spark, t.dir.toString)
    viaStale.version shouldBe 23L
    viaStale.snapshot().commits.map(_.version) shouldBe
      reference.commits.map(_.version)
  }

  test("v2 checkpoints: content-addressed sidecars, reuse across checkpoints, defect fallback") {
    import scala.jdk.CollectionConverters._
    val t = LakeTable.create(spark, tmpDir("ckpt-v2").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema,
      properties = Map(
        "graft.checkpointInterval" -> "5",
        "graft.checkpoint.v2" -> "true",
        "graft.checkpoint.v2.buckets" -> "4"))
    (1 to 12).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    t.log.listCheckpoints() shouldBe Seq(5L, 10L)
    val scDir = t.log.logDir.resolve("_sidecars")
    def sidecarsOnDisk(): Set[String] = {
      val s = Files.list(scDir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    def refsOf(cp: Long): Seq[String] =
      Files.readAllLines(t.log.logDir.resolve(f"$cp%020d.checkpoint.json")).asScala
        .filter(_.nonEmpty).map(Actions.fromJson)
        .collect { case s: Sidecar => s.path }.toSeq
    // the manifest references content-addressed sidecars that exist on disk
    val refs10 = refsOf(10L)
    refs10 should not be empty
    refs10.foreach(_ should fullyMatch regex raw"[0-9a-f]{32}\.json")
    refs10.toSet.subsetOf(sidecarsOnDisk()) shouldBe true
    // REUSE: the two appends since v10 churn AT MOST two buckets — a
    // re-checkpoint shares every unchurned bucket's sidecar (paths are
    // uuid-random, so the two new files may land in one or two buckets)
    t.log.writeCheckpoint(12L)
    val refs12 = refsOf(12L)
    refs12.toSet.intersect(refs10.toSet).size should be >= refs10.size - 2
    // and a BYTE-IDENTICAL state re-checkpoints with zero new sidecars
    val before = sidecarsOnDisk()
    t.log.writeCheckpoint(12L)
    sidecarsOnDisk() shouldBe before
    // fresh replay resolves through the v2 manifest exactly
    val reference = t.snapshot()
    val viaV2 = LakeTable.forPath(spark, t.dir.toString).snapshot()
    viaV2.files.map(_.path).sorted shouldBe reference.files.map(_.path).sorted
    viaV2.commits.map(_.version) shouldBe reference.commits.map(_.version)
    viaV2.metadata shouldBe reference.metadata
    // a corrupt sidecar invalidates the checkpoint; resolution falls back
    // (older checkpoint / full replay), never a half-applied base
    refs12.foreach(n => Files.write(scDir.resolve(n), "garbage".getBytes))
    val viaFallback = LakeTable.forPath(spark, t.dir.toString).snapshot()
    viaFallback.files.map(_.path).sorted shouldBe reference.files.map(_.path).sorted
    viaFallback.version shouldBe reference.version
  }

  test("TRUNCATE HISTORY over v2 checkpoints keeps referenced sidecars, sweeps orphans") {
    import scala.jdk.CollectionConverters._
    val t = LakeTable.create(spark, tmpDir("ckpt-v2-tr").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema,
      properties = Map(
        "graft.checkpoint.v2" -> "true",
        "graft.checkpoint.v2.buckets" -> "4",
        "graft.enableDeletionVectors" -> "true"))
    (1 to 8).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    t.delete(col("k") === 3L) // a DV rides in its file's bucket
    t.setProperties(Map("graft.enableDeletionVectors" -> "false"))
    t.reorgPurge()
    val before = t.read().orderBy("k").as[(Long, String)].collect()
    // age every pre-existing sidecar past the GC grace window: the sweep
    // treats younger orphans as a concurrent checkpointer's in-flight
    // publish and leaves them (graced-orphan case pinned separately below)
    val scDir0 = t.log.logDir.resolve("_sidecars")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * graft.log.TxLog.sidecarSweepGraceMs)
    Files.list(scDir0).iterator().asScala.foreach(p =>
      Files.setLastModifiedTime(p, old): Unit)
    t.dropFeature("deletionVectors", truncateHistory = true)
    val t2 = LakeTable.forPath(spark, t.dir.toString)
    t2.read().orderBy("k").as[(Long, String)].collect() shouldBe before
    // on-disk sidecars == exactly the surviving manifest's references
    val scDir = t2.log.logDir.resolve("_sidecars")
    val onDisk = {
      val s = Files.list(scDir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    val boundary = t2.log.listCheckpoints().max
    val referenced =
      Files.readAllLines(t2.log.logDir.resolve(f"$boundary%020d.checkpoint.json"))
        .asScala.filter(_.nonEmpty).map(Actions.fromJson)
        .collect { case s: Sidecar => s.path }.toSet
    onDisk shouldBe referenced
    // the table keeps working past the boundary
    t2.append(Seq((99L, "z")).toDF("k", "v"))
    t2.read().count() shouldBe before.length + 1
  }

  test("sidecar GC grace window: fresh orphans survive (in-flight concurrent " +
    "checkpointer), aged orphans sweep") {
    val t = LakeTable.create(spark, tmpDir("ckpt-v2-grace").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema,
      properties = Map("graft.checkpoint.v2" -> "true",
        "graft.checkpoint.v2.buckets" -> "4"))
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    val scDir = t.log.logDir.resolve("_sidecars")
    Files.createDirectories(scDir)
    // a concurrent checkpointer publishes sidecars BEFORE its manifest:
    // model its in-flight object as a fresh unreferenced sidecar
    val fresh = scDir.resolve("zz-inflight-concurrent.json")
    Files.writeString(fresh, "")
    // and a genuinely orphaned one from a long-dead writer
    val stale = scDir.resolve("zz-orphan-crashed.json")
    Files.writeString(stale, "")
    Files.setLastModifiedTime(stale, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * graft.log.TxLog.sidecarSweepGraceMs))
    t.log.truncateBefore(t.log.listVersions().max)
    Files.exists(fresh) shouldBe true  // grace-window protected
    Files.exists(stale) shouldBe false // reclaimed
  }

  /** Interposing store for request accounting (same pattern as
    * LogStoreSpec): compactions exist purely to cut tail GETs, so the
    * test pins the read count, not just the answer. */
  private class CountingStore extends LogStore {
    val lists = new java.util.concurrent.atomic.AtomicInteger
    val reads = new java.util.concurrent.atomic.AtomicInteger
    def listFileNames(dir: java.nio.file.Path): Seq[String] =
      { lists.incrementAndGet(); LocalLogStore.listFileNames(dir) }
    override def listFileNamesAfter(dir: java.nio.file.Path,
        startAfter: String): Seq[String] =
      { lists.incrementAndGet(); LocalLogStore.listFileNamesAfter(dir, startAfter) }
    def read(path: java.nio.file.Path): Seq[String] =
      { reads.incrementAndGet(); LocalLogStore.read(path) }
    def writeAtomic(path: java.nio.file.Path, body: Array[Byte],
        overwrite: Boolean): Boolean =
      LocalLogStore.writeAtomic(path, body, overwrite)
    def delete(path: java.nio.file.Path): Boolean = LocalLogStore.delete(path)
    override def modifiedMillis(path: java.nio.file.Path): Option[Long] =
      LocalLogStore.modifiedMillis(path)
  }

  test("minor log compactions: written at cadence, one GET replaces the " +
    "compacted tail span, torn file falls back per-commit") {
    import scala.jdk.CollectionConverters._
    val t = LakeTable.create(spark, tmpDir("ckpt-compact").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema,
      properties = Map(
        "graft.checkpointInterval" -> "20",
        "graft.log.compactionInterval" -> "5"))
    (1 to 27).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    // cadence: every 5th commit compacts the 5 commits ending there
    def logNames() = {
      val s = Files.list(t.log.logDir)
      try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    }
    val compacted = logNames().filter(_.endsWith(".compacted.json")).sorted
    compacted shouldBe Seq(1L -> 5L, 6L -> 10L, 11L -> 15L, 16L -> 20L, 21L -> 25L)
      .map { case (s, e) => f"$s%020d.$e%020d.compacted.json" }
    val reference = t.snapshot()
    // pointer fast path with the range: _last_checkpoint GET + checkpoint
    // GET + compacted [21,25] GET + v26 + v27 = 5 reads, ONE tail LIST
    // (without the compaction the tail alone is 7 per-commit reads)
    val counting = new CountingStore
    val viaRange = new TxLog(t.dir, counting).snapshot()
    counting.reads.get() shouldBe 5
    counting.lists.get() shouldBe 1
    viaRange.version shouldBe reference.version
    viaRange.files.map(_.path).sorted shouldBe reference.files.map(_.path).sorted
    viaRange.commits.map(_.version) shouldBe reference.commits.map(_.version)
    viaRange.metadata shouldBe reference.metadata
    // time travel INTO a compacted span (upTo=23 < range end 25): the
    // range is unusable, per-commit replay still answers exactly
    t.log.snapshot(Some(23L)).commits.map(_.version) shouldBe (0L to 23L)
    // torn compacted file (cut at a line boundary: parses, count header
    // disagrees) — resolution falls back to the per-commit files
    val victim = t.log.logDir.resolve(f"${21L}%020d.${25L}%020d.compacted.json")
    val lines = new String(Files.readAllBytes(victim), "UTF-8").split("\n").toSeq
    lines.head should include("checkpointMeta")
    Files.write(victim, lines.dropRight(2).mkString("", "\n", "\n").getBytes("UTF-8"))
    val viaFallback = LakeTable.forPath(spark, t.dir.toString).snapshot()
    viaFallback.files.map(_.path).sorted shouldBe reference.files.map(_.path).sorted
    viaFallback.commits.map(_.version) shouldBe reference.commits.map(_.version)
  }

  test("minor log compactions serve the scan path (no checkpoint yet) and " +
    "TRUNCATE HISTORY sweeps ranges starting below the boundary") {
    import scala.jdk.CollectionConverters._
    val t = LakeTable.create(spark, tmpDir("ckpt-compact2").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema,
      properties = Map(
        "graft.checkpointInterval" -> "1000",
        "graft.log.compactionInterval" -> "5"))
    (1 to 12).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    val reference = t.snapshot()
    // no checkpoint exists: the scan path replays v0 + [1,5] + [6,10] +
    // v11 + v12 = 5 reads (+1 failed _last_checkpoint probe), one LIST —
    // versus 13 per-commit reads without the ranges
    val counting = new CountingStore
    val viaRanges = new TxLog(t.dir, counting).snapshot()
    counting.reads.get() shouldBe 6
    viaRanges.files.map(_.path).sorted shouldBe reference.files.map(_.path).sorted
    viaRanges.commits.map(_.version) shouldBe reference.commits.map(_.version)
    // truncate at 11: both fully-below ranges sweep; the boundary
    // checkpoint + tail still resolve exactly
    t.log.truncateBefore(11L)
    val t2 = LakeTable.forPath(spark, t.dir.toString)
    val names = {
      val s = Files.list(t2.log.logDir)
      try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    }
    names.filter(_.endsWith(".compacted.json")) shouldBe empty
    t2.read().count() shouldBe 12
    t2.snapshot().commits.map(_.version) shouldBe reference.commits.map(_.version)
  }

  test("post-truncate compaction cadence clamps to the oldest surviving " +
    "version; a cadence property takes effect in its own commit") {
    import scala.jdk.CollectionConverters._
    val t = LakeTable.create(spark, tmpDir("ckpt-compact3").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema,
      properties = Map(
        "graft.checkpointInterval" -> "1000",
        "graft.log.compactionInterval" -> "5"))
    (1 to 12).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    // truncate mid-window: the next cadence hit's natural range [11,15]
    // starts below the boundary (v11's file is gone) — before the clamp
    // the write silently no-op'd every Nth commit until the window
    // cleared the boundary
    t.log.truncateBefore(12L)
    (13 to 15).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    def logNames() = {
      val s = Files.list(t.log.logDir)
      try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    }
    logNames() should contain(f"${12L}%020d.${15L}%020d.compacted.json")
    // the clamped range serves resolution exactly
    val t2 = LakeTable.forPath(spark, t.dir.toString)
    t2.read().count() shouldBe 15
    t2.snapshot().commits.map(_.version).max shouldBe 15L
    // cadence property set via TBLPROPERTIES compacts from ITS OWN commit
    // (the interval used to come from the pre-commit snapshot, so the
    // setting commit itself never participated)
    val u = LakeTable.create(spark, tmpDir("ckpt-compact4").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema,
      properties = Map("graft.checkpointInterval" -> "1000"))
    (1 to 3).foreach(i => u.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    u.setProperties(Map("graft.log.compactionInterval" -> "4")) // v4: 4 % 4 == 0
    val names = {
      val s = Files.list(u.log.logDir)
      try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    }
    names should contain(f"${1L}%020d.${4L}%020d.compacted.json")
  }

  test("snapshot resolution cost is bounded by the checkpoint interval") {
    val t = LakeTable.create(spark, tmpDir("ckpt3").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema)
    (1 to 31).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    // resolving the latest snapshot must not read version files <= 30
    // (observable: delete the tail-excluded version files' content readability
    // is hard to assert directly; instead assert the chosen base)
    t.log.listCheckpoints().max shouldBe 30L
    val snap = t.snapshot()
    snap.version shouldBe 31
    snap.numRecords shouldBe 31
  }

  /** Runs `f` with every table's log in `store` (data files stay on disk). */
  private def withLogStore[A](store: LogStore)(f: => A): A = {
    val prev = LogStore.default
    LogStore.default = store
    try f finally LogStore.default = prev
  }

  test("checkpoint size tracks the live state, not the commit count") {
    val store = new InMemoryLogStore
    withLogStore(store) {
      val t = LakeTable.create(spark, tmpDir("ckpt-size").resolve("t").toString,
        Seq((1L, "x")).toDF("k", "v").schema)
      t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
      t.append(Seq((2L, "b")).toDF("k", "v").coalesce(1))
      (3 to 300).foreach(i => t.setProperties(Map("probe.commit" -> i.toString)))
      def bytesAt(v: Long): Int =
        store.readBytes(t.log.logDir.resolve(f"$v%020d.checkpoint.json")).length
      t.snapshot().numFiles shouldBe 2
      bytesAt(300L).toDouble should be <= 1.2 * bytesAt(20L)
    }
  }

  /** Store whose checkpoint and compaction writes throw while `failing`. */
  private class FailingMaintenance(inner: LogStore) extends LogStore {
    @volatile var failing = true
    def listFileNames(dir: java.nio.file.Path): Seq[String] = inner.listFileNames(dir)
    override def listFileNamesAfter(dir: java.nio.file.Path, startAfter: String): Seq[String] =
      inner.listFileNamesAfter(dir, startAfter)
    def read(path: java.nio.file.Path): Seq[String] = inner.read(path)
    def writeAtomic(path: java.nio.file.Path, body: Array[Byte], overwrite: Boolean): Boolean = {
      val n = path.getFileName.toString
      if (failing && (n.contains(".checkpoint.") || n.contains(".compacted.")))
        throw new java.io.IOException(s"injected write failure: $n")
      inner.writeAtomic(path, body, overwrite)
    }
    def delete(path: java.nio.file.Path): Boolean = inner.delete(path)
  }

  test("post-commit checkpoint and compaction failures are counted; the commit stands") {
    val store = new FailingMaintenance(new InMemoryLogStore)
    withLogStore(store) {
      val t = LakeTable.create(spark, tmpDir("ckpt-fail").resolve("t").toString,
        Seq((1L, "x")).toDF("k", "v").schema,
        properties = Map("graft.checkpointInterval" -> "3",
          "graft.log.compactionInterval" -> "3"))
      val before = LakeTable.bestEffortFailures.get()
      (1 to 3).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
      t.version shouldBe 3L
      // one failed checkpoint and one failed compaction, both at v3
      LakeTable.bestEffortFailures.get() - before shouldBe 2L
      t.log.listCheckpoints() shouldBe empty
      t.read().count() shouldBe 3L
      LakeTable.forPath(spark, t.dir.toString).read().count() shouldBe 3L
      // the next cadence point writes normally
      store.failing = false
      (4 to 6).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
      LakeTable.bestEffortFailures.get() - before shouldBe 2L
      t.log.listCheckpoints() shouldBe Seq(6L)
      store.listFileNames(t.log.logDir) should contain(f"${4L}%020d.${6L}%020d.compacted.json")
      LakeTable.forPath(spark, t.dir.toString).read().count() shouldBe 6L
    }
  }

  /** A checkpoint in the layout written before commit history left
    * checkpoints: the state plus every `CommitInfo` up to `v`, under a
    * matching count header. */
  private def writeHistoryCheckpoint(log: TxLog, v: Long, pointer: Boolean): Unit = {
    val s = log.snapshot(Some(v))
    val actions: Seq[Action] = Seq(s.protocol, s.metadata) ++
      s.domains.toSeq.sortBy(_._1).map { case (d, c) => DomainMetadata(d, c) } ++
      (0L to v).flatMap(x => log.readVersion(x).collect { case c: CommitInfo => c }) ++
      s.files ++ s.dvs.values
    Files.write(log.logDir.resolve(f"$v%020d.checkpoint.json"),
      (CheckpointMeta(actions.size.toLong) +: actions).map(Actions.toJson)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    if (pointer)
      Files.write(log.logDir.resolve("_last_checkpoint"), s"""{"version":$v}""".getBytes)
  }

  test("checkpoints carrying CommitInfo lines (the older layout) still resolve") {
    for (pointer <- Seq(true, false)) withClue(s"pointer=$pointer: ") {
      val t = LakeTable.create(spark, tmpDir("ckpt-legacy").resolve("t").toString,
        Seq((1L, "x")).toDF("k", "v").schema,
        properties = Map("graft.checkpointInterval" -> "1000",
          "graft.enableDeletionVectors" -> "true"))
      (1 to 3).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
      t.appendStream(Seq((10L, "s0")).toDF("k", "v"), "legacy-app", 0L)
      t.appendStream(Seq((11L, "s1")).toDF("k", "v"), "legacy-app", 1L)
      t.delete(col("k") === 2L)
      val cp = t.version
      t.append(Seq((4L, "v4")).toDF("k", "v").coalesce(1))
      // the reference: a plain replay of the commit files (no checkpoint yet)
      val reference = new TxLog(t.dir).snapshot()
      val historyRows = t.history().collect().toSeq
      val midTs = t.log.readVersion(cp - 1).collectFirst { case c: CommitInfo => c.timestamp }.get
      writeHistoryCheckpoint(t.log, cp, pointer)
      def checkAll(clue: String): Unit = withClue(clue) {
        val u = LakeTable.forPath(spark, t.dir.toString)
        val s = u.snapshot()
        s.files.map(_.path).sorted shouldBe reference.files.map(_.path).sorted
        s.dvs shouldBe reference.dvs
        s.txns shouldBe Map("legacy-app" -> 1L)
        s.commitTimestamp shouldBe reference.commitTimestamp
        u.history().collect().toSeq shouldBe historyRows
        u.log.versionAt(midTs) shouldBe cp - 1
        // a replayed epoch is a no-op
        val v0 = u.version
        u.appendStream(Seq((11L, "s1")).toDF("k", "v"), "legacy-app", 1L) shouldBe v0
        u.version shouldBe v0
        u.read().count() shouldBe 5L
      }
      checkAll("via the checkpoint: ")
      // the older TRUNCATE HISTORY: commit files below the checkpoint gone,
      // their records only in the checkpoint's CommitInfo lines
      (0L until cp).foreach(x => Files.delete(t.log.logDir.resolve(f"$x%020d.json")))
      checkAll("after the older truncation: ")
      // a truncation now archives those records into the history sidecar
      t.log.truncateBefore(cp + 1)
      LakeTable.forPath(spark, t.dir.toString).history().collect().toSeq shouldBe historyRows
    }
  }

  /** The state a replay of the commit files alone yields at `v`. */
  private def replayed(log: TxLog, v: Long): Snapshot = {
    val r = new Replay(log)
    (0L to v).foreach(x => log.readVersion(x).foreach(r.add))
    r.result(v)
  }

  test("txns, the COPY INTO ledger and the commit timestamp equal a per-commit " +
    "replay on every resolution path") {
    import scala.jdk.CollectionConverters._
    /** 14 commits mixing plain appends, two idempotent writers and COPY INTO. */
    def build(name: String, props: Map[String, String]): LakeTable = {
      val root = tmpDir(name)
      val t = LakeTable.create(spark, root.resolve("t").toString,
        Seq((1L, "x")).toDF("k", "v").schema, properties = props)
      val src = root.resolve("src")
      (1 to 14).foreach { i =>
        val df = Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
        i % 3 match {
          case 0 => t.appendStream(df, s"app-${i % 2}", i.toLong)
          case 1 =>
            df.write.parquet(src.resolve(f"b$i%02d").toString)
            t.copyInto(src.toString + "/*")
          case _ => t.append(df)
        }
      }
      t
    }
    def logNames(t: LakeTable): List[String] = {
      val s = Files.list(t.log.logDir)
      try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    }
    def check(t: LakeTable, clue: String, at: Seq[Long] = Seq(14L, 9L)): Unit =
      at.foreach { v =>
        withClue(s"$clue v$v: ") {
          val s = new TxLog(t.dir).snapshot(Some(v))
          val ref = replayed(t.log, v)
          ref.txns should not be empty
          ref.copied should not be empty
          s.txns shouldBe ref.txns
          s.copied shouldBe ref.copied
          s.commitTimestamp shouldBe ref.commitTimestamp
          s.files.map(_.path).sorted shouldBe ref.files.map(_.path).sorted
        }
      }
    // single checkpoints at 4, 8, 12, through the pointer
    val t = build("ckpt-state", Map("graft.checkpointInterval" -> "4"))
    t.log.lastCheckpoint() shouldBe Some(12L)
    check(t, "pointer")
    // a stale pointer: the v4 checkpoint plus a longer tail
    Files.write(t.log.logDir.resolve("_last_checkpoint"), """{"version":4}""".getBytes)
    check(t, "stale pointer")
    // a corrupt newest checkpoint: the scan path falls back to v8
    Files.write(t.log.logDir.resolve("_last_checkpoint"), """{"version":12}""".getBytes)
    val v12 = t.log.logDir.resolve(f"${12L}%020d.checkpoint.json")
    Files.write(v12, Files.readAllLines(v12).asScala.take(3).mkString("", "\n", "\n").getBytes)
    check(t, "corrupt checkpoint")
    // the older layout: CommitInfo lines in place of txn and copied actions
    writeHistoryCheckpoint(t.log, 12L, pointer = true)
    check(t, "older layout")
    // multi-part
    val mp = build("ckpt-state-mp", Map("graft.checkpointInterval" -> "4",
      "graft.checkpoint.partSize" -> "3"))
    logNames(mp).count(_.startsWith(f"${12L}%020d.checkpoint.")) should be > 1
    check(mp, "multi-part")
    // v2 manifest with sidecars
    val v2 = build("ckpt-state-v2", Map("graft.checkpointInterval" -> "4",
      "graft.checkpoint.v2" -> "true"))
    v2.log.listCheckpoints() shouldBe Seq(4L, 8L, 12L)
    check(v2, "v2")
    // compacted ranges, no checkpoint
    val cr = build("ckpt-state-range", Map("graft.checkpointInterval" -> "1000",
      "graft.log.compactionInterval" -> "4"))
    cr.log.listCheckpoints() shouldBe empty
    logNames(cr).count(_.endsWith(".compacted.json")) should be > 1
    check(cr, "compacted range")
  }

  test("a timestamp lookup whose probes meet out-of-order timestamps scans the history") {
    val log = new TxLog(java.nio.file.Paths.get("/ict/out-of-order/t"), new InMemoryLogStore)
    val meta = Metadata("t", null, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType))).json,
      Nil, Map.empty, 0L)
    // v2 was stamped by a writer whose clock ran far ahead
    val stamps = Seq(100L, 200L, 1000L, 400L, 500L, 600L, 700L, 800L, 900L)
    stamps.zipWithIndex.foreach { case (ts, v) =>
      log.tryCommit(v.toLong, (if (v == 0) Seq(meta) else Nil) :+
        CommitInfo(v.toLong, ts, "WRITE", Map.empty, Map.empty, v - 1L)) shouldBe true
    }
    // the search probes v4, v1, then v2 above v4's timestamp: it scans and
    // answers as the linear lookups do, the last version at or before and
    // the first version at or after (the search alone would answer v1)
    log.versionAt(450L) shouldBe 3L
    log.versionAtOrAfter(450L) shouldBe 2L
  }

  test("VACUUM keeps a file tombstoned inside the window after TRUNCATE HISTORY dropped its add") {
    val t = LakeTable.create(spark, tmpDir("ckpt-vac").resolve("t").toString,
      Seq((1L, "x")).toDF("k", "v").schema)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    t.append(Seq((3L, "c")).toDF("k", "v").coalesce(1))
    t.log.truncateBefore(2L) // the first file's add now lives only in the checkpoint
    val aged = System.currentTimeMillis() + 10L * 3600 * 1000
    t.clockMillis = () => aged
    t.delete(col("k") === 1L) // rewrites the first file: a fresh tombstone
    t.vacuum(retainHours = 5.0)
    t.restoreToVersion(2L)
    t.read().count() shouldBe 3L
  }
}
