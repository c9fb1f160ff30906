package graft.table

import java.nio.file.Files
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.{DataFrame, Row}
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.log._

/** Change Data Feed over the transaction log (S10,
  * src/delta_utils.py:387-416; notebooks/05_time_travel_demo.py:163-192).
  *
  * DML commits (UPDATE/DELETE/MERGE) write sidecar Parquet files under
  * `cdf/<uuid>/` carrying the row-level changes with `_change_type` ∈
  * {insert, update_preimage, update_postimage, delete}; append/overwrite/
  * restore commits need no sidecars — their changes are synthesized from the
  * commit's add/remove actions (added files read as inserts, removed files as
  * deletes). OPTIMIZE and other data-identical operations emit nothing.
  */
trait CdfSupport { self: LakeTable =>

  /** Ops whose add/remove actions change table contents (synthesizable).
    * CONVERT and the continuous-migration syncs are here (r13): a mirror
    * table's net add/remove/DV-delta commits synthesize like any append —
    * so a `readChangeFeed` consumer can follow a Delta/Iceberg mirror
    * instead of stopping at batch reads. */
  private val dataChangeOps = Set("WRITE", "RESTORE", "CREATE TABLE", "CLONE",
    "STREAMING UPDATE", "CONVERT", "DELTA SYNC", "ICEBERG SYNC")
  /** Ops that rearrange bytes or metadata without changing rows. Schema
    * evolution (ADD/RENAME/DROP COLUMN) is here too: a CDF range crossing
    * one presents every change under the range-end schema — old files
    * resolve their columns by column-mapping field id, and sidecars written
    * before the change are remapped onto the range-end schema by the same
    * ids ([[remapSidecar]]) — so the boundary needs no sidecar (REPLACE
    * TABLE, which may swap the schema wholesale with fresh ids, still
    * errors below). */
  private val dataNeutralOps = Set("OPTIMIZE", "VACUUM", "SET TBLPROPERTIES",
    "UNSET TBLPROPERTIES", "ADD COLUMNS", "RENAME COLUMN", "DROP COLUMN",
    "ALTER COLUMN DEFAULT", "ADD GENERATED COLUMN", "ADD IDENTITY COLUMN",
    "ADD CONSTRAINT", "DROP CONSTRAINT", "ANALYZE", "UPGRADE PROTOCOL",
    "ADD FEATURE", "DROP FEATURE",
    // type widening is metadata-only; earlier sidecars/files present under
    // the range end via the same upcast the live scan performs
    "ALTER COLUMN TYPE")

  /** Write a CDF sidecar parquet for the in-flight commit; returns the
    * actions to attach. `df` = table-schema columns + `_change_type`. */
  private[table] def writeCdfSidecar(df: DataFrame): Seq[Action] = {
    val rel = s"cdf/${UUID.randomUUID().toString.replace("-", "").take(12)}"
    val abs = dir.resolve(rel)
    // sidecars are internal, name-addressed files: strip column-mapping
    // field ids so their read schema never mixes id and no-id resolution
    val stripped = ColumnIds.strip(df.schema)
    df.select(stripped.fields.toIndexedSeq.map(f =>
      col(f.name).as(f.name, f.metadata)): _*)
      .write.mode("errorifexists").parquet(abs.toString)
    listParquet(abs).map { p =>
      CdfFile(dir.relativize(p).toString, -1L)
    }
  }

  /** Row-level changes in [startingVersion, endingVersion] with
    * `_change_type`, `_commit_version`, `_commit_timestamp` columns. */
  def changes(startingVersion: Long, endingVersion: Option[Long] = None): DataFrame = {
    val latest = version
    val end = endingVersion.getOrElse(latest)
    require(startingVersion >= 0 && end <= latest && startingVersion <= end,
      s"invalid CDF range [$startingVersion,$end] for table at version $latest")
    val earliest = log.listVersions().head
    require(startingVersion >= earliest,
      s"history before version $earliest was truncated " +
        "(DROP FEATURE ... TRUNCATE HISTORY) — start the range at or after it")
    // the schema AS OF the range's END, not the head: a range ending
    // before a later REPLACE TABLE must read its files under the schema
    // (and column-mapping field ids) that wrote them — the head schema's
    // restamped ids would silently resolve old files' columns wrongly
    val schema = snapshot(Some(end)).schema
    val perVersion: Seq[DataFrame] = (startingVersion to end).flatMap { v =>
      versionChanges(v, schema)
    }
    if (perVersion.isEmpty) emptyCdf(schema)
    else {
      val out = perVersion.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
      if (!cdfRowIds) out
      else {
        // canonical shape: the column present (null where unresolvable —
        // e.g. pre-tracking sidecars) and in the declared cdfSchema order
        val withId =
          if (out.columns.contains(Cdf.RowIdCol)) out
          else out.withColumn(Cdf.RowIdCol, lit(null).cast(LongType))
        withId.select(cdfSchema(schema).fieldNames.toIndexedSeq.map(col): _*)
      }
    }
  }

  def changesBetweenTimestamps(startMillis: Long, endMillis: Option[Long] = None): DataFrame = {
    val start = log.versionAtOrAfter(startMillis)
    val end = endMillis.map(m => log.versionAt(m))
    if (start > end.getOrElse(version)) emptyCdf(snapshot().schema)
    else changes(start, end)
  }

  private def emptyCdf(schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), cdfSchema(schema))

  /** CDF read schema (table columns + change metadata) and an empty frame
    * of it — the streaming CDF source's fixed shape. */
  private[graft] def cdfReadSchema: StructType = cdfSchema(snapshot().schema)
  private[graft] def emptyCdfFrame: DataFrame = emptyCdf(snapshot().schema)

  private def cdfSchema(schema: StructType): StructType =
    StructType(schema.fields ++
      (if (cdfRowIds) Seq(StructField(Cdf.RowIdCol, LongType)) else Nil) ++ Seq(
      StructField("_change_type", StringType),
      StructField("_commit_version", LongType),
      StructField("_commit_timestamp", TimestampType)))

  /** Row ids in the change feed (row tracking × CDF): when the table
    * tracks rows, every change row carries `_row_id` where the id is
    * resolvable — synthesized inserts/deletes/DV-deltas resolve through
    * the same broadcast base map as `withRowIds`, and DML sidecars record
    * the id at write time for pre/post/delete images. MERGE-insert change
    * rows are null (a fresh row's id is assigned at COMMIT, after the
    * sidecar is staged — read it from the table). Sidecars written before
    * tracking was enabled read the column as null (parquet
    * missing-column semantics). */
  private def cdfRowIds: Boolean = rowTrackingOn(snapshot().metadata.properties)

  /** Project a frame read under its write-time schema onto the range-end
    * schema. Mapped tables match columns by field id: renamed columns
    * project, columns added after the write read NULL, columns dropped
    * after it disappear, and a SAME-ID TYPE CHANGE refuses loudly (the
    * wholesale positional restamp of overwriteSchema can land an old
    * column's bytes under a new column's id — resolving that silently
    * would emit garbage). Unmapped tables cannot have renames or drops
    * (both require column mapping), so only later ADD COLUMNS can differ —
    * NULL-filled by name; anything else refuses. `extra` columns (e.g.
    * `_change_type`) pass through untouched. */
  private def remapToEnd(df: DataFrame, writeSchema: StructType,
      endSchema: StructType, v: Long, extra: Seq[String] = Nil): DataFrame = {
    // ids INCLUDED in the fast-path equality: a DROP+re-ADD of the same name
    // strips to an identical schema but is a different column (new id)
    if (writeSchema == endSchema) return df
    def refuse(why: String): Nothing = throw new IllegalStateException(
      s"CDF changes at version $v cannot be presented under the range-end schema ($why) — " +
        s"read changes starting from version ${v + 1} (or end before $v)")
    val cols: Seq[org.apache.spark.sql.Column] =
      if (ColumnIds.mapped(writeSchema) && ColumnIds.mapped(endSchema)) {
        val byId = writeSchema.fields.flatMap(f => ColumnIds.idOf(f).map(_ -> f)).toMap
        endSchema.fields.toIndexedSeq.map { f =>
          byId.get(ColumnIds.idOf(f).get) match {
            case Some(old) if old.dataType == f.dataType => col(old.name).as(f.name, f.metadata)
            // a type WIDENING between the write and the range end is safe
            // to present: the upcast is exactly what the live scan does
            case Some(old) if graft.log.TypeWidening.isWidening(old.dataType, f.dataType) =>
              col(old.name).cast(f.dataType).as(f.name, f.metadata)
            case Some(old) => refuse(s"column ${f.name} changed type ${old.dataType} -> ${f.dataType}")
            case None => lit(null).cast(f.dataType).as(f.name, f.metadata)
          }
        }
      } else {
        val writeByName = writeSchema.fields.map(f => f.name -> f).toMap
        if (!writeSchema.fields.forall(f => endSchema.fieldNames.contains(f.name)))
          refuse("a column present at the write-time schema is absent at the range end " +
            "and the table has no column-mapping ids to resolve it by")
        endSchema.fields.toIndexedSeq.map { f =>
          writeByName.get(f.name) match {
            case Some(old) if old.dataType == f.dataType => col(f.name)
            case Some(old) if graft.log.TypeWidening.isWidening(old.dataType, f.dataType) =>
              col(f.name).cast(f.dataType)
            case Some(old) => refuse(s"column ${f.name} changed type ${old.dataType} -> ${f.dataType}")
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }
      }
    df.select((cols ++ extra.map(col)): _*)
  }

  private def versionChanges(v: Long, schema: StructType): Option[DataFrame] = {
    val actions = log.readVersion(v)
    val ci = actions.collectFirst { case c: CommitInfo => c }
    val op = ci.map(_.operation).getOrElse("WRITE")
    if (dataNeutralOps.contains(op)) return None
    val ts = new java.sql.Timestamp(ci.map(_.timestamp).getOrElse(0L))
    def meta(df: DataFrame): DataFrame = df
      .withColumn("_commit_version", lit(v))
      .withColumn("_commit_timestamp", lit(ts))

    val sidecars = actions.collect { case c: CdfFile => c }
    if (sidecars.nonEmpty) {
      val paths = sidecars.map(c => dir.resolve(c.path).toString)
      // sidecars are name-addressed under the schema of THEIR OWN commit —
      // read them under that schema, then remap onto the range-end schema by
      // column-mapping field id, so a RENAME between the sidecar's version
      // and the range end becomes a projection instead of a silent NULL
      // (and a DROP+re-ADD of the same name correctly reads NULL: new id)
      val writeSchema = snapshot(Some(v)).schema
      // request _row_id on row-tracked tables: DML sidecars written after
      // tracking record it; older ones read it as null
      val sideExtra =
        if (cdfRowIds) Seq(StructField("_change_type", StringType),
          StructField(Cdf.RowIdCol, LongType))
        else Seq(StructField("_change_type", StringType))
      val side = spark.read
        .schema(StructType(ColumnIds.strip(writeSchema).fields ++ sideExtra))
        .parquet(paths: _*)
      return Some(meta(remapToEnd(side, writeSchema, schema, v,
        extra = sideExtra.map(_.name))))
    }
    if (op == "REPLACE TABLE")
      // the schema may have been swapped wholesale; pre-replace rows are not
      // expressible in the post-replace schema (Delta errors on CDF ranges
      // crossing an incompatible schema change for the same reason)
      throw new IllegalStateException(
        s"CDF range crosses a REPLACE TABLE at version $v — " +
          s"read changes starting from version ${v + 1} (or end before $v)")
    if (!dataChangeOps.contains(op))
      throw new IllegalStateException(
        s"version $v is a $op commit without CDF sidecars — " +
          "enable table property graft.enableChangeDataFeed before DML to read its changes")
    // synthesized changes go through the same write-time-schema + id-remap
    // discipline as sidecars: added files read under THIS commit's schema,
    // removed files under the PREVIOUS version's, then both remap onto the
    // range-end schema by field id — so a wholesale positional restamp
    // (overwriteSchema) can never silently alias an old column's bytes
    // under a new same-id column (type changes refuse loudly instead)
    val adds = actions.collect { case a: AddFile => a }
    val removes = actions.collect { case r: RemoveFile => r }
    // through the table's cache: the head version resolves with no replay
    val snapAtV = snapshot(Some(v))
    lazy val snapBefore = snapshot(Some(v - 1)) // only touched when v >= 1
    // resolvable-id read for a synthesized leg: masked rows of `files`
    // under `snap`, with `_row_id` resolved via the broadcast base map
    // when the table tracks rows and every file has a base (else the
    // plain masked read — the union null-fills the column)
    def maskedWithIds(snap: Snapshot, files: Seq[AddFile]): DataFrame =
      if (cdfRowIds && files.forall(_.baseRowId != null))
        posWithRowIds(snap, files)
          .drop("__file", "__idx", RowTracking.MatRcv)
          .withColumnRenamed(RowTracking.MatRowId, Cdf.RowIdCol)
      else readFilesMasked(snap, files, snap.schema)
    def idExtra(df: DataFrame): Seq[String] =
      if (df.columns.contains(Cdf.RowIdCol)) Seq(Cdf.RowIdCol) else Nil
    val inserts =
      if (adds.isEmpty) None
      else {
        // read added files under the DV state AT v, not raw: a RESTORE that
        // re-adds a file may re-establish its deletion-vector mask in the
        // SAME commit — the masked rows were never resurrected, so they
        // must not synthesize as inserts (for plain appends/overwrites the
        // at-v snapshot carries no mask for fresh files and this is the
        // identity)
        val df = maskedWithIds(snapAtV, adds)
        Some(remapToEnd(df, snapAtV.schema, schema, v, extra = idExtra(df))
          .withColumn("_change_type", lit("insert")))
      }
    val deletes =
      if (removes.isEmpty) None
      else {
        val removedPaths = removes.map(_.path).toSet
        val removedAdds = snapBefore.files.filter(f => removedPaths.contains(f.path))
        val df = maskedWithIds(snapBefore, removedAdds)
        Some(remapToEnd(df, snapBefore.schema, schema, v, extra = idExtra(df))
          .withColumn("_change_type", lit("delete")))
      }
    // DV-delta synthesis: a RESTORE can change ONLY a surviving file's
    // deletion-vector pointer — no add/remove for the file, yet rows were
    // resurrected (mask reverted) or re-masked. Diff the mask membership
    // across the commit: newly-masked rows are deletes, unmasked rows are
    // inserts. (DML mask changes never reach here — they carry sidecars.)
    // A pointer changes only through the commit's own vector actions.
    val addPaths = adds.map(_.path).toSet
    val vectorFiles = actions.collect { case d: DeletionVector => d.forFile }.toSet
    val dvPointerChanged =
      if (v == 0 || vectorFiles.isEmpty) Nil
      else snapAtV.files.filter { f =>
        !addPaths.contains(f.path) && vectorFiles.contains(f.path) &&
          snapBefore.dvs.get(f.path) != snapAtV.dvs.get(f.path)
      }
    // pointer churn is NOT content churn: mirror syncs rewrite a file's
    // vector every sync even when membership is unchanged — compare the
    // masks (read on the driver, no query) and only data-scan files whose
    // mask content actually moved (unequal bytes for equal content merely
    // falls through to the empty membership diff — still correct)
    val before = dvBitmaps(dvPointerChanged.flatMap(f => snapBefore.dvs.get(f.path)))
    val after = dvBitmaps(dvPointerChanged.flatMap(f => snapAtV.dvs.get(f.path)))
    val dvChanged = dvPointerChanged.filter { f =>
      val fp = absPathStr(f.path)
      !java.util.Arrays.equals(
        before.get(fp).map(DvBitmap.serialize).getOrElse(Array.empty[Byte]),
        after.get(fp).map(DvBitmap.serialize).getOrElse(Array.empty[Byte]))
    }
    val dvDelta =
      if (dvChanged.isEmpty) None
      else {
        def maskedBy(masks: Map[String, Roaring64Bitmap]): org.apache.spark.sql.Column =
          if (masks.isEmpty) lit(false)
          else !DvBitmap.notMasked(col("__file"), col("__idx"),
            spark.sparkContext.broadcast(masks.map { case (p, bm) =>
              p -> DvBitmap.serialize(bm) }),
            masks.values.map(_.getLongCardinality).sum)
        val resolveIds = cdfRowIds && dvChanged.forall(_.baseRowId != null)
        val readSchema =
          if (resolveIds)
            StructType(snapAtV.schema.fields ++ Seq(
              StructField(RowTracking.MatRowId, LongType),
              StructField(RowTracking.MatRcv, LongType)))
          else snapAtV.schema
        val pos0 = readFiles(dvChanged, readSchema)
          .withColumn("__file", col("_metadata.file_path"))
          .withColumn("__idx", col("_metadata.row_index"))
        // ids resolve UNMASKED here on purpose: the delete side IS the
        // newly-masked rows
        val pos =
          if (resolveIds) resolveIdCols(pos0, dvChanged)
            .drop(RowTracking.MatRcv)
            .withColumnRenamed(RowTracking.MatRowId, Cdf.RowIdCol)
          else pos0
        val extra = if (resolveIds) Seq(Cdf.RowIdCol) else Nil
        val changedPaths = dvChanged.map(f => absPathStr(f.path)).toSet
        val mBefore = maskedBy(before.filter(e => changedPaths.contains(e._1)))
        val mAfter = maskedBy(after.filter(e => changedPaths.contains(e._1)))
        val masked = pos.filter(mAfter && !mBefore).drop("__file", "__idx")
        val resurrected = pos.filter(mBefore && !mAfter).drop("__file", "__idx")
        Some(remapToEnd(masked, snapAtV.schema, schema, v, extra = extra)
          .withColumn("_change_type", lit("delete"))
          .unionByName(remapToEnd(resurrected, snapAtV.schema, schema, v, extra = extra)
            .withColumn("_change_type", lit("insert"))))
      }
    Seq(inserts, deletes, dvDelta).flatten
      .reduceOption(_.unionByName(_)).map(meta)
  }
}

private[table] object Cdf {
  /** Row-id column surfaced in the change feed on row-tracked tables. */
  val RowIdCol = "_row_id"
}
