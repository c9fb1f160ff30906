package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class CdfSpec extends SparkSpec {
  import spark.implicits._

  private def cdfTable(prefix: String): LakeTable = {
    val t = LakeTable.create(spark, tmpDir(prefix).resolve("t").toString,
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      properties = Map("graft.enableChangeDataFeed" -> "true"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    t
  }

  test("reading the head commit's change feed replays no log") {
    // records every log object read: the head's own commit file is the
    // only one a head read needs, the snapshots coming from the cache
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val store = new graft.log.LogStore {
      import graft.log.LocalLogStore
      def listFileNames(dir: java.nio.file.Path): Seq[String] = LocalLogStore.listFileNames(dir)
      def read(path: java.nio.file.Path): Seq[String] = {
        reads.add(path.getFileName.toString)
        LocalLogStore.read(path)
      }
      def writeAtomic(path: java.nio.file.Path, body: Array[Byte], overwrite: Boolean): Boolean =
        LocalLogStore.writeAtomic(path, body, overwrite)
      def delete(path: java.nio.file.Path): Boolean = LocalLogStore.delete(path)
      override def modifiedMillis(path: java.nio.file.Path): Option[Long] =
        LocalLogStore.modifiedMillis(path)
    }
    val prev = graft.log.LogStore.default
    graft.log.LogStore.default = store
    try {
      val t = LakeTable.create(spark, tmpDir("cdf-head").resolve("t").toString,
        StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
        properties = Map("graft.enableChangeDataFeed" -> "true",
          "graft.enableDeletionVectors" -> "true"))
      // past a checkpoint, so a replay would read it
      (0L until 12L).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
      def headRead(): (Set[(String, Long)], Seq[String]) = {
        val v = t.version
        reads.clear()
        val rows = t.changes(v, Some(v)).select("_change_type", "k").as[(String, Long)]
          .collect().toSet
        // the latest-version pointer is read, never a checkpoint or another commit
        (rows, reads.toArray.toSeq.map(_.toString).filterNot(_ == "_last_checkpoint"))
      }
      def commitFile(v: Long) = f"$v%020d.json"
      t.append(Seq((100L, "x")).toDF("k", "v"))
      headRead() shouldBe ((Set(("insert", 100L)), Seq(commitFile(t.version))))
      t.delete(col("k") === 3L)
      headRead() shouldBe ((Set(("delete", 3L)), Seq(commitFile(t.version))))
      t.update(col("k") === 4L, Map("v" -> lit("u")))
      headRead() shouldBe ((Set(("update_preimage", 4L), ("update_postimage", 4L)),
        Seq(commitFile(t.version))))
    } finally graft.log.LogStore.default = prev
  }

  test("appends synthesize inserts; update/delete emit pre/post images (S10)") {
    val t = cdfTable("cdf-basic")
    t.update(col("k") === 2, Map("v" -> lit("B")))
    t.delete(col("k") === 3)
    val ch = t.changes(1)
    val byType = ch.groupBy("_change_type").count().as[(String, Long)].collect().toMap
    byType("insert") shouldBe 3
    byType("update_preimage") shouldBe 1
    byType("update_postimage") shouldBe 1
    byType("delete") shouldBe 1
    // pre/post carry old and new values
    ch.filter(col("_change_type") === "update_preimage").select("v").as[String].head() shouldBe "b"
    ch.filter(col("_change_type") === "update_postimage").select("v").as[String].head() shouldBe "B"
    // version range restriction works
    t.changes(2, Some(2)).select("_change_type").distinct().as[String].collect() shouldBe
      Array("update_preimage", "update_postimage").sorted
  }

  test("merge emits insert/update/delete changes") {
    val t = cdfTable("cdf-merge")
    val src = Seq((2L, "B2"), (9L, "i")).toDF("k", "v")
    t.merge(src, col("target.k") === col("source.k"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    val ch = t.changes(2, Some(2))
    val byType = ch.groupBy("_change_type").count().as[(String, Long)].collect().toMap
    byType("update_preimage") shouldBe 1
    byType("update_postimage") shouldBe 1
    byType("insert") shouldBe 1
    ch.filter(col("_change_type") === "insert").select("k").as[Long].head() shouldBe 9L
  }

  test("CDF range spanning ADD COLUMNS reads under the range-end schema, old rows null-padded") {
    // Delta parity for additive evolution: a batch CDF read over a range
    // that crosses an ALTER TABLE ADD COLUMNS boundary presents every
    // change under the schema AS OF the range END — pre-evolution rows
    // carry NULL for the later columns (their files simply lack the field)
    val t = cdfTable("cdf-evolve")
    t.addColumns(StructType(Seq(StructField("extra", StringType)))) // v2
    t.append(Seq((10L, "x", "e1"), (11L, "y", "e2")).toDF("k", "v", "extra")) // v3
    t.update(col("k") === 1, Map("extra" -> lit("back-filled"))) // v4

    val ch = t.changes(1) // spans the evolution boundary
    ch.schema.fieldNames.take(3) shouldBe Array("k", "v", "extra")
    // the pre-evolution inserts surface with extra = NULL
    val early = ch.filter(col("_commit_version") === 1)
    early.count() shouldBe 3
    early.filter(col("extra").isNull).count() shouldBe 3
    // post-evolution rows carry their values
    ch.filter(col("_commit_version") === 3).select("extra").as[String]
      .collect().sorted shouldBe Array("e1", "e2")
    ch.filter(col("_change_type") === "update_postimage")
      .select("extra").as[String].head() shouldBe "back-filled"
    // a range ENDING before the evolution still reads the old 2-column shape
    val pre = t.changes(1, Some(1))
    pre.schema.fieldNames should not contain "extra"
    pre.count() shouldBe 3
  }

  test("CDF range spanning RENAME COLUMN resolves old files by field id") {
    // Column-mapping parity: natively-created tables stamp parquet field
    // ids, so RENAME is metadata-only. A CDF range crossing the rename must
    // present pre-rename changes under the range-end NAME while reading
    // their old files' values through the unchanged field ID.
    val t = cdfTable("cdf-rename")
    t.renameColumn("v", "w") // v2, metadata-only
    t.update(col("k") === 2, Map("w" -> lit("B"))) // v3
    t.append(Seq((4L, "d")).toDF("k", "w")) // v4

    val ch = t.changes(1) // spans the rename boundary
    ch.schema.fieldNames.take(2) shouldBe Array("k", "w")
    ch.schema.fieldNames should not contain "v"
    // the pre-rename inserts surface their ORIGINAL values under the new name
    ch.filter(col("_commit_version") === 1).select("w").as[String]
      .collect().sorted shouldBe Array("a", "b", "c")
    // post-rename changes read normally
    ch.filter(col("_change_type") === "update_preimage")
      .select("w").as[String].head() shouldBe "b"
    ch.filter(col("_change_type") === "update_postimage")
      .select("w").as[String].head() shouldBe "B"
    ch.filter(col("_commit_version") === 4).select("w").as[String]
      .head() shouldBe "d"
    // a range ENDING before the rename still reads the old name
    val pre = t.changes(1, Some(1))
    pre.schema.fieldNames should contain("v")
    pre.schema.fieldNames should not contain "w"
    pre.select("v").as[String].collect().sorted shouldBe Array("a", "b", "c")
  }

  test("CDF sidecar written BEFORE a rename remaps to the range-end name by field id") {
    // the sidecar is a name-addressed parquet under the schema of ITS OWN
    // commit; a later metadata-only RENAME must not turn its column into
    // NULL when the range ends after the rename
    val t = cdfTable("cdf-side-rename")
    t.update(col("k") === 2, Map("v" -> lit("B"))) // v2: sidecar written as "v"
    t.renameColumn("v", "w") // v3, metadata-only
    val ch = t.changes(0)
    ch.schema.fieldNames should contain("w")
    ch.filter(col("_change_type") === "update_preimage")
      .select("w").as[String].head() shouldBe "b"
    ch.filter(col("_change_type") === "update_postimage")
      .select("w").as[String].head() shouldBe "B"
    // no NULLs leaked into the remapped sidecar rows
    ch.filter(col("_commit_version") === 2 && col("w").isNull).count() shouldBe 0
  }

  test("CDF sidecar before a DROP+re-ADD of the same name reads NULL (new field id)") {
    val t = cdfTable("cdf-side-dropadd")
    t.update(col("k") === 2, Map("v" -> lit("B"))) // v2: sidecar carries old "v"
    t.dropColumn("v") // v3
    t.addColumns(StructType(Seq(StructField("v", StringType)))) // v4: NEW id
    val ch = t.changes(0)
    // the re-added "v" is a different column: pre-drop sidecar rows read NULL
    ch.filter(col("_commit_version") === 2).count() shouldBe 2
    ch.filter(col("_commit_version") === 2 && col("v").isNotNull).count() shouldBe 0
    // keys still resolve (id unchanged)
    ch.filter(col("_change_type") === "update_preimage").select("k").as[Long].head() shouldBe 2L
  }

  test("CDF across overwriteSchema: compatible positional swap projects, type change refuses") {
    // overwriteSchema restamps ids POSITIONALLY (1..n). Columns that keep
    // their position and type keep their id — old files project cleanly;
    // a same-id TYPE change would alias old bytes under the new column,
    // so it must refuse loudly instead of emitting garbage.
    val t = cdfTable("cdf-owschema")
    t.overwrite(Seq((10L, "x", 7L)).toDF("k", "v", "extra"), overwriteSchema = true) // v2
    val ch = t.changes(0)
    ch.schema.fieldNames.take(3) shouldBe Array("k", "v", "extra")
    // pre-swap rows surface with extra = NULL; their k/v values resolve
    val early = ch.filter(col("_commit_version") === 1)
    early.count() shouldBe 3
    early.filter(col("extra").isNotNull).count() shouldBe 0
    early.select("v").as[String].collect().sorted shouldBe Array("a", "b", "c")
    // the overwrite itself emits deletes (old rows) + inserts (new rows)
    val ow = ch.filter(col("_commit_version") === 2)
    ow.filter(col("_change_type") === "delete").count() shouldBe 3
    ow.filter(col("_change_type") === "insert").count() shouldBe 1

    val t2 = cdfTable("cdf-owschema-bad")
    t2.overwrite(Seq((10L, 99L)).toDF("k", "v"), overwriteSchema = true) // v column: string -> long
    val e = intercept[IllegalStateException] { t2.changes(0).collect() }
    e.getMessage should include("changed type")
    // the boundary version's own DELETES (pre-swap rows) are equally
    // unrepresentable — the range must start AFTER the swap
    intercept[IllegalStateException] { t2.changes(2).collect() }
    t2.append(Seq((11L, 100L)).toDF("k", "v")) // v3
    t2.changes(3).count() shouldBe 1
  }

  test("replaying CDF from v0 reconstructs the snapshot") {
    val t = cdfTable("cdf-replay")
    t.update(col("k") === 1, Map("v" -> lit("A")))
    t.delete(col("k") === 2)
    t.append(Seq((4L, "d")).toDF("k", "v"))
    val ch = t.changes(0).filter(
      col("_change_type").isin("insert", "update_postimage", "update_preimage", "delete"))
    // net state: inserts + postimages - (preimages + deletes)
    val plus = ch.filter(col("_change_type").isin("insert", "update_postimage")).select("k", "v")
    val minus = ch.filter(col("_change_type").isin("update_preimage", "delete")).select("k", "v")
    val net = plus.exceptAll(minus).orderBy("k").as[(Long, String)].collect()
    val actual = t.read().orderBy("k").as[(Long, String)].collect()
    net shouldBe actual
  }

  test("optimize emits no CDF rows; changes carry commit metadata") {
    val t = cdfTable("cdf-opt")
    t.append(Seq((10L, "x")).toDF("k", "v"))
    val vOpt = t.optimizeCompact()
    vOpt shouldBe 3
    val ch = t.changes(3, Some(3))
    ch.count() shouldBe 0
    val all = t.changes(0)
    all.columns should contain allOf ("_change_type", "_commit_version", "_commit_timestamp")
    all.filter(col("_commit_version") === 3).count() shouldBe 0
  }

  test("RESTORE across DV state synthesizes mask deltas (resurrections + re-masks)") {
    // found by the lifecycle fuzz (seed 23, DV mode): a RESTORE that only
    // moves deletion-vector pointers — or re-adds a file together with its
    // mask — used to synthesize either nothing or UNMASKED inserts
    val dir = tmpDir("cdf-dvrestore").resolve("t").toString
    val t = LakeTable.create(spark, dir,
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      properties = Map(
        "graft.enableChangeDataFeed" -> "true",
        "graft.enableDeletionVectors" -> "true"))
    // v1: several files (a local three-row append would land as one), so
    // the OPTIMIZE below has files to compact
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").repartition(3))
    t.delete(col("k") === 2) // v2: DV mask, sidecar delete
    // v3: RESTORE to v1 — the file survives, only its mask reverts; row 2
    // is resurrected and MUST synthesize as an insert
    t.restoreToVersion(1)
    val resurrect = t.changes(3, Some(3))
    resurrect.select("k", "_change_type").as[(Long, String)].collect() shouldBe
      Array((2L, "insert"))
    // v4: RESTORE back to v2 — same file, mask re-established; row 2 is
    // re-masked and MUST synthesize as a delete
    t.restoreToVersion(2)
    val remask = t.changes(4, Some(4))
    remask.select("k", "_change_type").as[(Long, String)].collect() shouldBe
      Array((2L, "delete"))
    // replay of the whole feed still lands on the live state
    val ch = t.changes(0)
    val plus = ch.filter(col("_change_type").isin("insert", "update_postimage"))
      .select("k", "v")
    val minus = ch.filter(col("_change_type").isin("update_preimage", "delete"))
      .select("k", "v")
    plus.exceptAll(minus).as[(Long, String)].collect().sorted shouldBe
      t.read().as[(Long, String)].collect().sorted
    // re-added file + mask in ONE commit: optimize rewrites (drops masks),
    // then restore to the masked version re-adds the ORIGINAL file along
    // with its mask — the masked row must not resurface as an insert
    t.optimizeCompact() // v5: fresh file, no masks
    t.restoreToVersion(2) // v6: re-adds original file WITH its v2 mask
    val readd = t.changes(6, Some(6))
    readd.filter(col("_change_type") === "insert")
      .select("k").as[Long].collect().sorted shouldBe Array(1L, 3L)
  }

  test("row-tracked tables surface _row_id in the change feed") {
    val t = LakeTable.create(spark, tmpDir("cdf-rowid").resolve("t").toString,
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      properties = Map(
        "graft.enableChangeDataFeed" -> "true",
        "graft.enableRowTracking" -> "true",
        "graft.enableDeletionVectors" -> "true"))
    // one sorted file → row k carries id k-1, arithmetically checkable
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k")) // v1: synthesized inserts
    t.update(col("k") === 2, Map("v" -> lit("B"))) // v2: DV sidecar pre/post
    t.delete(col("k") === 3) // v3: DV sidecar delete
    t.restoreToVersion(2) // v4: DV-delta resurrection of k=3
    val ch = t.changes(0)
    ch.columns should contain("_row_id")
    val rows = ch.select("_row_id", "k", "v", "_change_type", "_commit_version")
      .as[(Long, Long, String, String, Long)].collect().sortBy(r => (r._5, r._4, r._2))
    rows shouldBe Array(
      (0L, 1L, "a", "insert", 1L), (1L, 2L, "b", "insert", 1L),
      (2L, 3L, "c", "insert", 1L), (3L, 4L, "d", "insert", 1L),
      (1L, 2L, "B", "update_postimage", 2L), (1L, 2L, "b", "update_preimage", 2L),
      (2L, 3L, "c", "delete", 3L),
      (2L, 3L, "c", "insert", 4L)).sortBy(r => (r._5, r._4, r._2))
    // rewrite-mode DML records ids too
    val t2 = LakeTable.create(spark, tmpDir("cdf-rowid-rw").resolve("t").toString,
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      properties = Map(
        "graft.enableChangeDataFeed" -> "true",
        "graft.enableRowTracking" -> "true"))
    t2.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k"))
    t2.update(col("k") === 1, Map("v" -> lit("A")))
    t2.delete(col("k") === 2)
    t2.changes(2).filter(col("_change_type") =!= "insert")
      .select("_row_id", "_change_type").as[(Long, String)].collect().sorted shouldBe
      Array((0L, "update_postimage"), (0L, "update_preimage"), (1L, "delete")).sorted
    // MERGE: pre-existing rows carry ids; fresh inserts are null in the
    // FEED (their id is assigned at commit) and resolve at the table
    val src = Seq((1L, "A2"), (9L, "i")).toDF("k", "v")
    t2.merge(src, col("target.k") === col("source.k"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val mch = t2.changes(t2.version, Some(t2.version))
    mch.filter(col("_change_type") === "update_postimage")
      .select("_row_id").as[Long].collect() shouldBe Array(0L)
    mch.filter(col("_change_type") === "insert")
      .select("_row_id").as[java.lang.Long].collect() shouldBe Array(null)
    t2.withRowIds().filter(col("k") === 9).select("_row_id")
      .as[Long].head() should be >= 2L
  }

  test("timestamp-bounded CDF read") {
    val t = cdfTable("cdf-ts")
    val afterV1 = t.snapshot().commits.last.timestamp
    t.append(Seq((5L, "e")).toDF("k", "v"))
    val ch = t.changesBetweenTimestamps(afterV1 + 1)
    ch.select("k").as[Long].collect() shouldBe Array(5L)
  }
}
