package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.SparkSpec
import graft.log.TxLog

class LakeTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String, partitionBy: Seq[String] = Nil,
      props: Map[String, String] = Map.empty): LakeTable = {
    val dir = tmpDir(prefix).resolve("t").toString
    LakeTable.create(spark, dir,
      StructType(Seq(
        StructField("id", LongType),
        StructField("name", StringType),
        StructField("amount", DoubleType),
        StructField("day", StringType))),
      partitionColumns = partitionBy, properties = props)
  }

  private def rows(ids: Range, day: String = "d1"): org.apache.spark.sql.DataFrame =
    ids.map(i => (i.toLong, s"name$i", i * 1.5, day)).toDF("id", "name", "amount", "day")

  test("create + append + read round-trip") {
    val t = freshTable("lt-basic")
    t.append(rows(0 until 100))
    t.read().count() shouldBe 100
    t.read().agg(sum("id")).as[Long].head() shouldBe (0 until 100).sum
    t.version shouldBe 1
  }

  test("append accumulates; overwrite replaces") {
    val t = freshTable("lt-ow")
    t.append(rows(0 until 50))
    t.append(rows(50 until 80))
    t.read().count() shouldBe 80
    t.overwrite(rows(0 until 10))
    t.read().count() shouldBe 10
  }

  test("time travel by version and by timestamp") {
    val t = freshTable("lt-tt")
    t.append(rows(0 until 10))
    val tsAfterV1 = System.currentTimeMillis()
    Thread.sleep(5)
    t.append(rows(10 until 30))
    t.versionAsOf(1).count() shouldBe 10
    t.versionAsOf(2).count() shouldBe 30
    t.timestampAsOf(tsAfterV1).count() shouldBe 10
    // snapshot isolation: an old DataFrame handle still reads old files
    val old = t.versionAsOf(1)
    t.delete(lit(true))
    old.count() shouldBe 10
  }

  test("partitioned write records partitionValues and prunes files") {
    val t = freshTable("lt-part", partitionBy = Seq("day"))
    t.append(rows(0 until 10, "d1").union(rows(10 until 30, "d2")))
    val snap = t.snapshot()
    snap.files.forall(_.partitionValues.contains("day")) shouldBe true
    val d1Files = snap.files.filter(_.partitionValues("day") == "d1")
    d1Files.map(_.numRecords).sum shouldBe 10
    // partition columns survive the round-trip (kept in data files)
    t.read(Seq(col("day") === "d1")).count() shouldBe 10
    t.read(Seq(col("day") === "d1")).select("day").distinct().as[String].collect() shouldBe Array("d1")
  }

  test("stats-based file pruning skips files by min/max") {
    val t = freshTable("lt-prune")
    // one file per small local append: ids 0..49, 50..99, 1000..1099
    t.append(rows(0 until 50))
    t.append(rows(50 until 100))
    t.append(rows(1000 until 1100))
    val snap = t.snapshot()
    val pruned = graft.log.Pruner.prune(snap.files, Seq(col("id") >= 1000), snap.schema)
    pruned.map(_.numRecords).sum shouldBe 100
    t.read(Seq(col("id") >= 1000)).count() shouldBe 100
    // string stats: skips files whose lexicographic [min,max] excludes the value
    val p2 = graft.log.Pruner.prune(snap.files, Seq(col("name") === "name1050"), snap.schema)
    p2.size should be < snap.files.size
    t.read(Seq(col("name") === "name1050")).count() shouldBe 1
  }

  test("replaceWhere overwrites only matching partitions") {
    val t = freshTable("lt-rw", partitionBy = Seq("day"))
    t.append(rows(0 until 10, "d1").union(rows(10 until 30, "d2")))
    t.overwriteWhere(col("day") === "d2", rows(100 until 105, "d2"))
    t.read().count() shouldBe 15
    t.read(Seq(col("day") === "d1")).count() shouldBe 10
    // violating rows rejected
    an[IllegalArgumentException] should be thrownBy
      t.overwriteWhere(col("day") === "d1", rows(0 until 5, "d9"))
    // non-partition predicate rejected
    an[IllegalArgumentException] should be thrownBy
      t.overwriteWhere(col("id") === 1, rows(0 until 1))
    // NULL partition value: predicate evaluates to NULL, which is a
    // violation too (the row would land outside the replaced partitions)
    an[IllegalArgumentException] should be thrownBy
      t.overwriteWhere(col("day") === "d2",
        rows(100 until 101, "d2").union(Seq((999L, "n", 1.0, null.asInstanceOf[String]))
          .toDF("id", "name", "amount", "day")))
  }

  test("update rewrites only touched files") {
    val t = freshTable("lt-upd")
    t.append(rows(0 until 100))
    t.append(rows(1000 until 1100))
    val before = t.snapshot().files.map(_.path).toSet
    t.update(col("id") === 5, Map("amount" -> lit(99.0), "name" -> lit("five")))
    val after = t.snapshot().files.map(_.path).toSet
    // the 1000..1100 file survived untouched
    after.intersect(before).nonEmpty shouldBe true
    val r = t.read(Seq(col("id") === 5)).select("name", "amount").head()
    r shouldBe Row("five", 99.0)
    t.read().count() shouldBe 200
  }

  test("delete keeps null-predicate rows (SQL semantics)") {
    val t = freshTable("lt-del")
    t.append(Seq((1L, null.asInstanceOf[String], 1.0, "d1"),
      (2L, "x", 2.0, "d1"), (3L, "y", 3.0, "d1")).toDF("id", "name", "amount", "day"))
    t.delete(col("name") === "x")
    t.read().select("id").as[Long].collect().sorted shouldBe Array(1L, 3L)
  }

  test("history and detail expose commit metadata and metrics") {
    val t = freshTable("lt-hist")
    t.append(rows(0 until 10))
    t.delete(col("id") === 1)
    val h = t.history()
    h.count() shouldBe 3
    val ops = h.orderBy("version").select("operation").as[String].collect()
    ops shouldBe Array("CREATE TABLE", "WRITE", "DELETE")
    val delMetrics = h.filter(col("operation") === "DELETE")
      .select("operationMetrics").as[Map[String, String]].head()
    delMetrics("numDeletedRows") shouldBe "1"
    val d = t.detail()
    d.select("numFiles").as[Long].head() shouldBe t.snapshot().numFiles.toLong
    d.select("format").as[String].head() shouldBe "graft"
    // this delete was a rewrite (DVs off): no vectors reported
    d.select("numDeletionVectors").as[Long].head() shouldBe 0L
    d.select("numDeletedRows").as[Long].head() shouldBe 0L
  }

  test("detail reports deletion-vector counts on masked tables") {
    val t = LakeTable.create(spark, tmpDir("lt-dvdetail").resolve("t").toString,
      rows(0 until 10).schema,
      properties = Map("graft.enableDeletionVectors" -> "true"))
    t.append(rows(0 until 10))
    t.delete(col("id") < 3)
    val d = t.detail()
    d.select("numDeletionVectors").as[Long].head() should be >= 1L
    d.select("numDeletedRows").as[Long].head() shouldBe 3L
  }

  test("history carries userName and isBlindAppend per commit") {
    val t = freshTable("lt-ident")
    t.append(rows(0 until 10))
    t.overwrite(rows(0 until 5))
    t.delete(col("id") === 1)
    val h = t.history().orderBy("version")
      .select("operation", "userName", "isBlindAppend")
      .as[(String, String, Boolean)].collect()
    val me = sys.props.getOrElse("user.name", "unknown")
    h.map(_._2).toSet shouldBe Set(me)
    // only the plain append is a blind append: create/overwrite/DML all
    // either remove files or depend on prior table state
    h.map(r => r._1 -> r._3).toSeq shouldBe Seq(
      "CREATE TABLE" -> false, "WRITE" -> true, "WRITE" -> false,
      "DELETE" -> false)
  }

  test("restore rolls the table back to an old version") {
    val t = freshTable("lt-restore")
    t.append(rows(0 until 10))
    t.append(rows(10 until 20))
    t.delete(col("id") < 5)
    t.read().count() shouldBe 15
    t.restoreToVersion(2)
    t.read().count() shouldBe 20
    t.read().agg(min("id")).as[Long].head() shouldBe 0
  }

  test("schema evolution: mergeSchema append and addColumns") {
    val t = freshTable("lt-evolve")
    t.append(rows(0 until 5))
    val extended = rows(5 until 10).withColumn("extra", lit("e"))
    an[IllegalArgumentException] should be thrownBy t.append(extended)
    t.append(extended, mergeSchema = true)
    t.schema.fieldNames should contain("extra")
    // old files read as null for the new column
    val nulls = t.read().filter(col("extra").isNull).count()
    nulls shouldBe 5
    t.addColumns(Seq(StructField("flag", BooleanType)))
    t.schema.fieldNames should contain("flag")
  }

  test("properties CRUD") {
    val t = freshTable("lt-props")
    t.setProperties(Map("graft.enableChangeDataFeed" -> "true", "k" -> "v"))
    t.properties("k") shouldBe "v"
    t.unsetProperties(Seq("k"))
    t.properties.get("k") shouldBe None
  }

  test("clone shallow and deep") {
    val t = freshTable("lt-clone")
    t.append(rows(0 until 20))
    val shallow = t.cloneTo(tmpDir("lt-clone-s").resolve("s").toString, shallow = true)
    shallow.read().count() shouldBe 20
    val deep = t.cloneTo(tmpDir("lt-clone-d").resolve("d").toString, shallow = false)
    deep.read().count() shouldBe 20
    // deep clone survives source vacuum after source delete-all
    t.overwrite(rows(0 until 1))
    t.vacuum(retainHours = 0.0)
    deep.read().count() shouldBe 20
  }

  test("clone VERSION AS OF pins a historical snapshot under a new name") {
    val t = freshTable("lt-clone-v")
    t.append(rows(0 until 20)) // v1
    val v1 = t.version
    t.append(rows(20 until 50)) // v2
    val pinned = t.cloneTo(tmpDir("lt-clone-v1").resolve("p").toString,
      shallow = true, versionAsOf = Some(v1))
    pinned.read().count() shouldBe 20
    pinned.version shouldBe 0 // fresh single-commit log
    // the clone is independent: source keeps evolving, pin stays put
    t.append(rows(50 until 60))
    pinned.read().count() shouldBe 20
    t.read().count() shouldBe 60
    // SQL form
    val dst = tmpDir("lt-clone-sql").resolve("q").toString
    GraftSql(spark).run(
      s"CREATE TABLE '$dst' SHALLOW CLONE '${t.dir}' VERSION AS OF $v1")
    LakeTable.forPath(spark, dst).read().count() shouldBe 20
  }

  test("vacuum deletion runs from a bounded parallel pool above 32 paths") {
    val t = freshTable("lt-vac-par")
    // the pool path engages above 32 doomed paths (a retention sweep on a
    // big table dooms millions; one serial driver thread would take hours)
    val many = tmpDir("lt-vac-par-files")
    val paths = (0 until 100).map { i =>
      val p = many.resolve(s"f$i.parquet")
      java.nio.file.Files.write(p, Array[Byte](1, 2, 3))
      p.toString
    }
    t.parallelDelete(paths) shouldBe 32
    paths.foreach(p => java.nio.file.Files.exists(
      java.nio.file.Paths.get(p)) shouldBe false)
    // small sweeps stay inline — no pool churn for a handful of files
    val few = (0 until 3).map { i =>
      val p = many.resolve(s"g$i.parquet")
      java.nio.file.Files.write(p, Array[Byte](1))
      p.toString
    }
    t.parallelDelete(few) shouldBe 1
    few.foreach(p => java.nio.file.Files.exists(
      java.nio.file.Paths.get(p)) shouldBe false)
    // end-to-end: a >32-file sweep through vacuum() itself deletes all and
    // records the same commit metrics as before (numDeletedFiles intact)
    t.append(rows(0 until 2000).repartition(40))
    t.overwrite(rows(0 until 1))
    val doomed = t.vacuum(retainHours = 0.0, dryRun = true)
    doomed.size should be > 32
    t.vacuum(retainHours = 0.0).size shouldBe doomed.size
    doomed.foreach(p => java.nio.file.Files.exists(
      java.nio.file.Paths.get(p)) shouldBe false)
    t.read().count() shouldBe 1
    val ci = t.history(Some(1)).collect()(0)
    ci.getString(3) shouldBe "VACUUM"
    ci.getMap[String, String](4)("numDeletedFiles") shouldBe doomed.size.toString
  }

  test("vacuum removes tombstoned files after the horizon, never live ones") {
    val t = freshTable("lt-vac")
    t.append(rows(0 until 50))
    t.overwrite(rows(50 until 60))
    val doomed = t.vacuum(retainHours = 0.0, dryRun = true)
    doomed should not be empty
    t.read().count() shouldBe 10 // dry run deleted nothing
    t.vacuum(retainHours = 0.0)
    t.read().count() shouldBe 10
    // retained horizon: fresh tombstones survive a 7-day retention vacuum
    t.overwrite(rows(0 until 5))
    t.vacuum() shouldBe empty
    // the table property (delta.-prefix spelling normalized at set time)
    // supplies the default retention when the caller names none
    t.setProperties(Map("delta.deletedFileRetentionDuration" -> "interval 0 hours"))
    t.vacuum(dryRun = true) should not be empty
    // an unparsable value falls back to the SAFE 7-day default, never zero
    t.setProperties(Map("graft.deletedFileRetentionDuration" -> "bogus"))
    t.vacuum(dryRun = true) shouldBe empty
  }

  test("VACUUM LITE deletes log-tombstoned files without a listing; orphans stay") {
    val t = freshTable("lt-vaclite")
    t.append(rows(0 until 50))
    t.overwrite(rows(50 until 60)) // tombstones the first generation
    // an orphan a crashed writer staged but never committed: in no log
    // entry, so LITE must not see it (full vacuum collects it)
    val orphan = t.dir.resolve("data/orphan-never-committed.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    val doomed = t.vacuum(retainHours = 0.0, dryRun = true, lite = true)
    doomed should not be empty
    doomed should not contain orphan.toString
    GraftSql(spark).run(s"VACUUM '${t.dir}' LITE RETAIN 0 HOURS")
    t.read().count() shouldBe 10
    java.nio.file.Files.exists(orphan) shouldBe true
    // nothing tombstoned remains for a full pass except the orphan
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600_000L)
    java.nio.file.Files.setLastModifiedTime(orphan, old)
    t.vacuum(retainHours = 0.0) should contain only orphan.toString
  }

  test("VACUUM USING INVENTORY: caller-supplied listing replaces the storage walk") {
    import spark.implicits._
    val t = freshTable("lt-vacinv")
    t.append(rows(0 until 50))
    t.overwrite(rows(50 until 60)) // tombstones the first generation
    val orphan = t.dir.resolve("data/orphan-from-crashed-writer.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    val oldMs = System.currentTimeMillis() - 3600_000L
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(oldMs))
    // a COMPLETE inventory (every physical file + mtimes, the S3 Inventory
    // shape) must propose exactly what the storage walk proposes
    def walk(): Seq[(String, Long)] = {
      val s = java.nio.file.Files.walk(t.dir.resolve("data"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
          .map(p => p.toString ->
            java.nio.file.Files.getLastModifiedTime(p).toMillis).toList
      } finally s.close()
    }
    val full = t.vacuum(retainHours = 0.0, dryRun = true).toSet
    val inv = walk().toDF("path", "modificationTime")
    t.vacuum(retainHours = 0.0, dryRun = true,
      inventory = Some(inv)).toSet shouldBe full
    full should contain(orphan.toString)
    // an INCOMPLETE inventory is blind to what it omits (the documented
    // trade): without the orphan's row, the orphan is never proposed
    val partial = walk().filterNot(_._1 == orphan.toString)
      .toDF("path", "modificationTime")
    val viaPartial = t.vacuum(retainHours = 0.0, dryRun = true,
      inventory = Some(partial)).toSet
    viaPartial shouldBe full - orphan.toString
    // rows OUTSIDE the table's subtrees are ignored (one bucket-wide
    // inventory feeds every table), and an inside-the-window row for a
    // file that is already gone proposes nothing
    val noisy = (walk() ++ Seq(
      ("/somewhere/else/file.parquet", 0L),
      (t.dir.resolve("data/already-gone.parquet").toString,
        System.currentTimeMillis() + 3600_000L))) // inside any window
      .toDF("path", "modificationTime")
    t.vacuum(retainHours = 0.0, dryRun = true,
      inventory = Some(noisy)).toSet shouldBe full
    // NON-CANONICAL spellings ('./'-segments, doubled separators) normalize
    // BEFORE classification: a LIVE file spelled 'data//x.parquet' must
    // never miss the live-set membership test and classify as an orphan —
    // that would be irreversible data loss from a plausibly-shaped
    // inventory. Proposed paths come back canonical.
    val liveOne = walk().map(_._1).filterNot(full.contains).head
    val sneaky = (walk().map { case (p, m) =>
      (p.replaceFirst("/data/", "/data/./"), m) } ++ Seq(
      (liveOne.replaceFirst("/data/", "/data//"), oldMs)))
      .toDF("path", "modificationTime")
    t.vacuum(retainHours = 0.0, dryRun = true,
      inventory = Some(sneaky)).toSet shouldBe full
    // SQL surface: USING INVENTORY (<query>) composes with RETAIN/DRY RUN
    inv.createOrReplaceTempView("vac_inv")
    val viaSql = GraftSql(spark).run(
      s"VACUUM '${t.dir}' USING INVENTORY (SELECT path, modificationTime " +
        "FROM vac_inv) RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0)).toSet
    viaSql shouldBe full
    // LITE + inventory refuses (LITE never lists; the inventory replaces
    // FULL's listing — composing them would silently ignore it)
    an[IllegalArgumentException] should be thrownBy
      t.vacuum(retainHours = 0.0, dryRun = true, lite = true, inventory = Some(inv))
    // the real (non-dry) inventory vacuum deletes and the table survives
    t.vacuum(retainHours = 0.0, inventory = Some(inv))
    t.read().count() shouldBe 10
    java.nio.file.Files.exists(orphan) shouldBe false
  }

  test("re-added then recently re-removed file survives vacuum (latest tombstone wins)") {
    val t = freshTable("lt-vac-readd")
    t.append(rows(0 until 10)) // v1
    val v1Names = t.log.snapshot().files
      .map(f => java.nio.file.Paths.get(f.path).getFileName.toString)
    // v2's tombstone is BACK-DATED two days — far past a 1h horizon
    t.clockMillis = () => System.currentTimeMillis() - 48 * 3600_000L
    t.overwrite(rows(10 until 15)) // v2: ancient tombstone for v1's file
    t.clockMillis = () => System.currentTimeMillis()
    t.restoreToVersion(1) // v3: re-adds v1's file
    t.overwrite(rows(20 until 25)) // v4: re-removes it, tombstone = now
    // a 1h-retention vacuum must keep the file: its LATEST tombstone is
    // fresh even though an ancient one exists for the same path, and time
    // travel to v3 still needs the bytes
    for (lite <- Seq(true, false)) {
      val doomed = t.vacuum(retainHours = 1.0, dryRun = true, lite = lite)
      withClue(s"lite=$lite: ") {
        doomed.map(p => java.nio.file.Paths.get(p).getFileName.toString) should
          contain noElementsOf v1Names
      }
    }
    t.versionAsOf(3).count() shouldBe 10
  }

  test("concurrent appends both land (optimistic retry)") {
    val t = freshTable("lt-conc")
    val threads = (0 until 4).map { i =>
      new Thread(() => t.append(rows(i * 10 until i * 10 + 10)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    t.read().count() shouldBe 40
    t.version shouldBe 4
  }

  test("empty dataframe append is a no-op data-wise") {
    val t = freshTable("lt-empty")
    t.append(rows(0 until 0))
    t.read().count() shouldBe 0
  }

  test("ANALYZE computes and persists table statistics (M16)") {
    val t = freshTable("lt-analyze")
    t.append(rows(0 until 20))
    val stats = t.analyze()
    stats("stats.numRows") shouldBe "20"
    // properties survive in the log and the commit is recorded
    t.properties("stats.numRows") shouldBe "20"
    t.properties.keys.count(_.endsWith(".nullCount")) should be > 0
    t.history(Some(1)).select("operation").collect().head.getString(0) shouldBe "ANALYZE"
  }
}
