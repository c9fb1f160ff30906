package graft.table

import org.apache.spark.sql.functions._
import scala.util.Random

import graft.SparkSpec

/** The seeded whole-table lifecycle generator: random interleavings of
  * append / UPDATE / DELETE / OPTIMIZE / Z-ORDER / RESTORE / reopen and
  * more, checked row-for-row against an in-memory model after every step
  * (see [[LifecycleFuzzSpec]]). Specs that need the same histories mix it
  * in and observe each step through `afterStep`. */
trait LifecycleFuzz extends SparkSpec {
  import spark.implicits._

  /** One seeded lifecycle run. `extraProps` add to the table's creation
    * properties. `afterStep` runs after each step's model check with the
    * current table and the step number. When it truncates history it
    * returns the boundary: later RESTORE and CLONE targets stay at or
    * above it, and the CDF replay starts after it (the boundary commit's
    * own changes need the state before it). */
  protected def runFuzz(seed: Int, dv: Boolean,
      extraProps: Map[String, String] = Map.empty,
      afterStep: (LakeTable, Int) => Option[Long] = (_, _) => None): Unit = {
    val rnd = new Random(seed)
    val dir = tmpDir(s"lifefuzz-$seed-$dv").resolve("t").toString
    var model: Map[Long, Long] = Map.empty // id -> v
    var nextId = 0L
    def mk(n: Int): Seq[(Long, Long)] = (0 until n).map { _ =>
      val id = nextId; nextId += 1
      (id, rnd.nextInt(1000).toLong)
    }
    // "n" starts NARROW (int) and may widen to long mid-history (case 14);
    // every row carries n = id % 1000, so a mis-upcast of pre-widen bytes
    // is visible at every step
    var table = LakeTable.create(spark, dir,
      Seq((0L, 0L, 0)).toDF("id", "v", "n").schema,
      properties = Map(
        "graft.checkpointInterval" -> "3",
        // the ENTIRE randomized lifecycle (replays, restores, clones,
        // truncates) runs over a non-default checkpoint layout — MULTI-PART
        // in rewrite mode, V2 content-addressed sidecars in DV mode (DVs
        // ride their file's bucket, so the DV mode exercises that too)
        "graft.checkpoint.partSize" -> "10",
        "graft.checkpoint.v2" -> dv.toString,
        "graft.checkpoint.v2.buckets" -> "4",
        "graft.enableChangeDataFeed" -> "true",
        "graft.enableRowTracking" -> "true",
        "graft.enableTypeWidening" -> "true",
        "graft.enableDeletionVectors" -> dv.toString) ++ extraProps)
    // model state AS OF each committed version (v0 = empty)
    val history = scala.collection.mutable.Map[Long, Map[Long, Long]](
      table.version -> model)

    def record(): Unit = history(table.version) = model
    // row-tracking invariants ride every step: ids stay UNIQUE under any
    // composition, and the high-water mark never regresses (regression =
    // a future allocation could reuse a burned id)
    var lastHwm = -1L
    // a mid-history VACUUM(0) reclaims every tombstone: versions before it
    // are no longer restorable/clonable/CDF-replayable BY CONTRACT
    var vacuumFloor = 0L
    var truncatedBefore = 0L // the oldest version afterStep's truncation kept
    def rowPairs(): Map[Long, (Long, Long)] =
      table.withRowIds().select("_row_id", "id", "v").as[(Long, Long, Long)]
        .collect().map { case (r, i, x) => r -> ((i, x)) }.toMap
    def check(clue: String): Unit = {
      // core-column integrity; evolved extras are checked in the evolution op
      val got = table.read().select("id", "v").as[(Long, Long)].collect().toMap
      withClue(s"seed=$seed dv=$dv $clue: ") { got shouldBe model }
      // the widenable column: whatever its current width (int, or long
      // after case 14 — or absent after a schema swap), every non-null
      // value must still equal id % 1000 — a wrong upcast of pre-widen
      // bytes through any path (scan, DML rewrite, OPTIMIZE, CDF sidecar,
      // restore, clone) garbles this immediately
      if (table.schema.fieldNames.contains("n"))
        withClue(s"seed=$seed dv=$dv $clue widened-column integrity: ") {
          table.read().filter(col("n").isNotNull &&
            col("n").cast("long") =!= col("id") % 1000).count() shouldBe 0
        }
      val ids = table.withRowIds().select("_row_id").as[Long].collect()
      val hwm = RowTracking.highWaterMark(table.log.snapshot())
      withClue(s"seed=$seed dv=$dv $clue row-tracking: ") {
        ids.length shouldBe model.size
        ids.toSet.size shouldBe ids.length // never a collision
        if (ids.nonEmpty) ids.max should be <= hwm
        hwm should be >= lastHwm
      }
      lastHwm = hwm
    }
    // writes always carry the CURRENT schema (evolved extras as NULLs) —
    // the production writer shape after an ALTER TABLE
    def df(rows: Seq[(Long, Long)]): org.apache.spark.sql.DataFrame = {
      var d = rows.toDF("id", "v")
      table.schema.fields.filterNot(f => Set("id", "v")(f.name)).foreach { f =>
        d = d.withColumn(f.name,
          if (f.name == "n") (col("id") % 1000).cast(f.dataType)
          else lit(null).cast(f.dataType))
      }
      d
    }

    for (step <- 0 until 18) {
      val opKind = rnd.nextInt(16)
      if (sys.env.contains("FUZZ_DEBUG"))
        println(s"FUZZDBG seed=$seed dv=$dv step=$step op=$opKind version=${table.version}")
      opKind match {
        case 0 | 1 => // append
          val rows = mk(rnd.nextInt(40) + 1)
          table.append(df(rows))
          model ++= rows
        case 2 => // predicate update — row ids survive in BOTH modes (the
          // rewrite materializes them; the DV path masks + re-appends them)
          val (k, r, d) = (rnd.nextInt(5) + 2, rnd.nextInt(3), rnd.nextInt(50) + 1)
          val beforeIds = rowPairs().map { case (rid, (id, _)) => rid -> id }
          table.update(col("id") % k === r, Map("v" -> (col("v") + d)))
          model = model.map { case (id, v) =>
            id -> (if (id % k == r) v + d else v)
          }
          withClue(s"seed=$seed dv=$dv update moved a row id: ") {
            rowPairs().map { case (rid, (id, _)) => rid -> id } shouldBe beforeIds
          }
        case 3 => // predicate delete — survivors keep ids in BOTH modes
          val (k, r) = (rnd.nextInt(6) + 3, rnd.nextInt(3))
          val before = rowPairs()
          table.delete(col("id") % k === r)
          model = model.filter { case (id, _) => id % k != r }
          rowPairs().foreach { case (rid, row) =>
            withClue(s"seed=$seed dv=$dv delete moved a survivor's row id: ") {
              before(rid) shouldBe row
            }
          }
        case 4 => // compaction: data-identical, row ids must not move
          val before = rowPairs()
          table.optimizeCompact(targetFileSize = 32 * 1024): Unit
          withClue(s"seed=$seed compaction disturbed row ids: ") {
            rowPairs() shouldBe before
          }
        case 5 => // clustering rewrite: data-identical, row ids must not move
          val before = rowPairs()
          table.optimizeZOrder(Seq("id", "v"), targetFileSize = 32 * 1024): Unit
          withClue(s"seed=$seed zorder disturbed row ids: ") {
            rowPairs() shouldBe before
          }
        case 6 => // restore to a random earlier (still-restorable) version
          val versions = history.keys.toSeq.filter(_ >= vacuumFloor).sorted
          val target = versions(rnd.nextInt(versions.size))
          table.restoreToVersion(target)
          model = history(target)
        case 7 => // reopen: full log/checkpoint replay, fresh caches
          table = LakeTable.forPath(spark, dir)
        case 8 => // full overwrite: tombstones everything live
          val rows = mk(rnd.nextInt(25) + 1)
          table.overwrite(df(rows))
          model = rows.toMap
        case 9 => // idempotent append: the replayed twin must be a no-op
          val rows = mk(rnd.nextInt(20) + 1)
          val ver = step.toLong
          table.appendStream(df(rows), "fuzz-app", ver)
          table.appendStream(df(rows), "fuzz-app", ver) // replay
          model ++= rows
        case 10 => // schema evolution: metadata-only ADD COLUMNS; old rows
          // must read the new column as NULL (and RESTORE may later revert
          // the schema wholesale — the core columns must survive both)
          val cName = s"c$step" // step-unique: re-adding after a restore is new
          table.addColumns(Seq(
            org.apache.spark.sql.types.StructField(cName,
              org.apache.spark.sql.types.StringType)))
          table.read().filter(col(cName).isNotNull).count() shouldBe 0
        case 11 => // clone leg: head or VERSION AS OF, shallow or deep — the
          // clone must reproduce exactly the state the source had then
          val versions = history.keys.toSeq.filter(_ >= vacuumFloor).sorted
          val target =
            if (rnd.nextBoolean()) Some(versions(rnd.nextInt(versions.size)))
            else None
          val side = tmpDir(s"lifefuzz-clone-$seed-$dv-$step").resolve("c").toString
          val cl = table.cloneTo(side, shallow = rnd.nextBoolean(), versionAsOf = target)
          val expect = target.map(history).getOrElse(model)
          withClue(s"seed=$seed dv=$dv clone@$target step $step: ") {
            cl.read().select("id", "v").as[(Long, Long)].collect().toMap shouldBe expect
          }
        case 13 => // MERGE upsert: update a key-deterministic slice of the
          // live rows, insert fresh ids — every pre-existing row must keep
          // its row id through whichever merge path fires
          val (k, r, d) = (rnd.nextInt(4) + 2, rnd.nextInt(2), rnd.nextInt(40) + 1L)
          val hit = model.keys.filter(id => id % k == r).toSeq.sorted
          val fresh = mk(rnd.nextInt(10) + 1)
          val srcRows = hit.map(id => (id, model(id) + d)) ++ fresh
          if (srcRows.nonEmpty) {
            val beforeIds = rowPairs().map { case (rid, (id, _)) => rid -> id }
            table.merge(df(srcRows), col("target.id") === col("source.id"))
              .whenMatchedUpdateAll()
              .whenNotMatchedInsertAll()
              .execute()
            model = model ++ srcRows.toMap
            val afterIds = rowPairs().map { case (rid, (id, _)) => rid -> id }
            withClue(s"seed=$seed dv=$dv merge moved a pre-existing row id: ") {
              beforeIds.foreach { case (rid, id) => afterIds(rid) shouldBe id }
            }
          }
        case 15 => // mid-history VACUUM(0): every tombstone reclaimed NOW.
          // The live state must be untouched, and every later restore/
          // clone/CDF-replay target must respect the floor — this is the
          // composition that catches a vacuum victim something still needs
          table.vacuum(retainHours = 0.0)
          vacuumFloor = table.version // includes the VACUUM commit itself
        case 14 => // type widening: metadata-only INT→BIGINT on the carried
          // column — bytes never move, every later op reads mixed-width
          // generations; a RESTORE may revert the schema to INT (dropping
          // the post-widen files with it), after which this can fire again
          table.schema.fields.find(_.name == "n")
            .filter(_.dataType == org.apache.spark.sql.types.IntegerType) match {
            case Some(_) =>
              table.widenColumn("n", org.apache.spark.sql.types.LongType): Unit
            case None => // already wide or swapped away — append instead
              val rows = mk(rnd.nextInt(10) + 1)
              table.append(df(rows))
              model ++= rows
          }
        case 12 => // schema-SWAP overwrite (overwriteSchema: metadata replaced
          // wholesale, like REPLACE TABLE) — a later RESTORE crossing this
          // boundary must revert schema AND content together
          val rows = mk(rnd.nextInt(20) + 1)
          table.overwrite(
            rows.toDF("id", "v").withColumn(s"w$step", col("id") * 2),
            overwriteSchema = true)
          model = rows.toMap
      }
      record()
      check(s"step $step")
      afterStep(table, step).foreach { b =>
        truncatedBefore = b
        vacuumFloor = math.max(vacuumFloor, b)
      }
    }
    // CDF replay leg: roll the change feed forward over the randomized
    // history (synthesized adds/removes, DML sidecars, restores, schema
    // evolution — the id-remap discipline under COMPOSITION) and land on
    // the live state exactly. A schema-swap boundary whose positional ids
    // collide at different types refuses loudly; the walk then starts the
    // range after the refused version, seeding from the model history.
    locally {
      // replay can only start at the vacuum floor: synthesized reads for
      // earlier versions need file bytes a mid-history VACUUM(0) reclaimed
      var start = if (truncatedBefore > 0) math.max(vacuumFloor, truncatedBefore + 1)
        else vacuumFloor
      var ch: org.apache.spark.sql.DataFrame = null
      while (ch == null && start <= table.version) {
        try ch = table.changes(start)
        catch { case _: IllegalStateException => start += 1 }
      }
      // ch == null only when the FINAL commit is itself a refused swap
      // boundary (no representable non-empty range remains) — legal skip
      info(s"seed=$seed dv=$dv: cdf replay ${if (ch == null) "SKIPPED (terminal swap)" else s"from v$start"}")
      if (ch != null) withClue(s"seed=$seed dv=$dv cdf replay from $start: ") {
        val base =
          if (start == 0) Seq.empty[(Long, Long)].toDF("id", "v")
          else history(start - 1).toSeq.toDF("id", "v")
        val plus = ch.filter(col("_change_type").isin("insert", "update_postimage"))
          .select("id", "v")
        val minus = ch.filter(col("_change_type").isin("update_preimage", "delete"))
          .select("id", "v")
        val net = base.unionByName(plus).exceptAll(minus)
          .as[(Long, Long)].collect().toSeq.sorted
        net shouldBe model.toSeq.sorted
      }
    }
    // retention-WINDOW epilogue (the production vacuum mode): age the
    // whole randomized history 10h via the commit-clock seam, delete a
    // fresh slice (tombstones stamped at the aged clock), then VACUUM
    // RETAIN 5 HOURS — every pre-aging tombstone is reclaimable, the
    // fresh delete's files sit INSIDE the window and must survive, so the
    // pre-delete version stays fully restorable afterwards
    locally {
      val aged = System.currentTimeMillis() + 10L * 3600 * 1000
      table.clockMillis = () => aged
      val vPre = table.version
      val victims = model.keys.toSeq.sorted.take(3)
      if (victims.nonEmpty) {
        table.delete(col("id").isin(victims: _*))
        history(table.version) = model -- victims
        table.vacuum(retainHours = 5.0)
        vacuumFloor = vPre // older targets may reference reclaimed bytes
        table.restoreToVersion(vPre) // inside the window: must resolve
        history(table.version) = model
        check("after retention-window vacuum + restore")
      }
    }
    // a zero-retention vacuum reclaims history but must not touch the live
    // snapshot (restore targets are gone afterwards, by contract). LITE
    // (log-tombstones only) must propose a SUBSET of FULL's candidates on
    // any history — it can only miss orphans, never invent a victim
    val liteDoomed = table.vacuum(retainHours = 0.0, dryRun = true, lite = true).toSet
    val fullDoomed = table.vacuum(retainHours = 0.0, dryRun = true).toSet
    withClue(s"seed=$seed dv=$dv LITE proposed a non-FULL victim: ") {
      liteDoomed.diff(fullDoomed) shouldBe empty
    }
    table.vacuum(retainHours = 0.0)
    check("after vacuum")
    if (dv) {
      table.reorgPurge(): Unit
      check("after reorg")
      // feature-removal epilogue: after the purge the DV feature can leave
      // the protocol entirely (TRUNCATE HISTORY sweeps the randomized
      // history's DV actions behind a verified checkpoint) — the live
      // state, row ids, and subsequent writes must all survive, and
      // re-adopting the feature afterwards must work
      table.setProperties(Map("graft.enableDeletionVectors" -> "false"))
      table.dropFeature("deletionVectors", truncateHistory = true)
      table = LakeTable.forPath(spark, dir) // fresh checkpoint-based replay
      table.log.snapshot().protocol.writerSet should not contain "deletionVectors"
      check("after drop feature + truncate")
      val rows = mk(5)
      table.append(df(rows))
      model ++= rows
      table.setProperties(Map("graft.enableDeletionVectors" -> "true"))
      table.delete(col("id") % 1000 === -1) // no-op DML under re-adopted DVs
      check("after feature re-adoption")
    } else check("after (no-op) reorg")
    // typeWidening feature-removal epilogue: whatever widen history the
    // randomized run applied (case 14 may have fired, been reverted by a
    // RESTORE, or never fired), TRUNCATE HISTORY must take the feature out —
    // stale-typed files rewrite (preserving row ids), the change records
    // leave the schema with the protocol, and the live state survives a
    // fresh checkpoint-based replay
    table.setProperties(Map("graft.enableTypeWidening" -> "false"))
    val preDrop = rowPairs()
    table.dropFeature("typeWidening", truncateHistory = true)
    table = LakeTable.forPath(spark, dir)
    table.log.snapshot().protocol.writerSet should not contain "typeWidening"
    table.log.snapshot().schema.fields.foreach { f =>
      withClue(s"seed=$seed dv=$dv ${f.name} kept widen records past the drop: ") {
        graft.log.TypeWidening.hasChanges(f) shouldBe false
      }
    }
    withClue(s"seed=$seed dv=$dv widen-drop rewrite moved a row id: ") {
      rowPairs() shouldBe preDrop
    }
    check("after typeWidening drop + truncate")
    // uniform-export epilogue: whatever history the randomized run left
    // behind (optimizes, restores, vacuums, DV churn), the Iceberg
    // hand-walk must see exactly the live file set, and the exported
    // data minus the exported position deletes must equal the masked read
    table.generateIcebergMetadata()
    withClue(s"seed=$seed dv=$dv export spec-invariant audit: ") {
      Uniform.validateExport(table.dir) shouldBe empty
    }
    val (_, entries) = Uniform.readExport(table.dir)
    withClue(s"seed=$seed dv=$dv exported file set diverged: ") {
      entries.filter(_("content") == 0)
        .map(_("file_path").asInstanceOf[String]).toSet shouldBe
        table.snapshot().files.map(f => table.dir.resolve(f.path).toString).toSet
    }
    val dataPaths = entries.filter(_("content") == 0)
      .map(_("file_path").asInstanceOf[String])
    val exportedVisible = if (dataPaths.isEmpty) Array.empty[Long] else {
      val data = spark.read.parquet(dataPaths: _*)
        .select(col("id"),
          graft.log.DvBitmap.stripPathCol(col("_metadata.file_path")).as("__f"),
          col("_metadata.row_index").as("__i"))
      val dels = entries.filter(_("content") == 1)
        .map(_("file_path").asInstanceOf[String])
      val applied =
        if (dels.isEmpty) data
        else {
          val d = spark.read.parquet(dels: _*)
          data.join(d, data("__f") === d("file_path") && data("__i") === d("pos"),
            "left_anti")
        }
      applied.select("id").as[Long].collect().sorted
    }
    withClue(s"seed=$seed dv=$dv export+deletes diverged from masked read: ") {
      exportedVisible shouldBe table.read().select("id").as[Long].collect().sorted
    }
  }
}
