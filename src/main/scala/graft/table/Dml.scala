package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.storage.StorageLevel
import org.roaringbitmap.longlong.Roaring64Bitmap

import org.apache.spark.sql.graft.Local

import graft.log._

/** Row-level DML over the graft table format: UPDATE, DELETE, MERGE.
  *
  * All three follow Delta's two-phase shape (SURVEY §3.2): (1) find the files
  * that actually contain affected rows (stats-pruned scan + inner probe),
  * (2) rewrite ONLY those files, commit remove+add atomically. Untouched
  * files — at 100 TB, the overwhelming majority — are never read or written.
  */
trait DmlSupport { self: LakeTable =>

  private def cdfEnabled: Boolean =
    properties.get("graft.enableChangeDataFeed").contains("true")

  private def dvEnabled: Boolean =
    properties.get("graft.enableDeletionVectors").contains("true")

  /** UPDATE t SET ... WHERE cond (M4, notebooks/04_acid_operations.py:129-139).
    * With deletion vectors enabled, matched rows are masked and ONLY their
    * updated versions are appended — a 0.1% update writes 0.1% of the data,
    * not every touched file. */
  def update(cond: Column, rawSet: Map[String, Column]): Long = {
    val snap = snapshot()
    val unknown = rawSet.keys.filterNot(k => snap.schema.fieldNames.exists(_.equalsIgnoreCase(k)))
    require(unknown.isEmpty, s"SET references unknown columns: ${unknown.mkString(",")}")
    val idents = identityColumns.map(_._1.toLowerCase).toSet
    require(!rawSet.keys.exists(k => idents.contains(k.toLowerCase)),
      "columns GENERATED ALWAYS AS IDENTITY cannot be updated")
    // Delta parity: a generated column whose rule reads an updated base
    // column, and which the statement does not SET explicitly, is
    // RECOMPUTED (leaving it stale would fail the write-time identity
    // check; explicit SETs stay caller-owned and validated as before).
    val set = recomputeGenerated(rawSet)
    if (dvEnabled) return updateWithDv(snap, cond, set)
    val touched = filesContaining(snap, cond, masking = false)
    if (touched.isEmpty) return snap.version
    val touchedDf = readFilesMasked(snap, touched, snap.schema)
    val matchPred = coalesce(cond, lit(false))
    // row tracking: the rewrite reads resolved ids and writes them back as
    // materialized columns — unmodified rows keep id AND commit version,
    // updated rows keep id with a bumped version (null materialized value
    // falls back to the new file's defaultRowCommitVersion = this commit)
    val rt = rowsTracked(snap, touched)
    val rewriteSrc =
      if (rt) posWithRowIds(snap, touched).drop("__file", "__idx") else touchedDf
    // numUpdatedRows rides the rewrite job itself — no dedicated counting
    // pass over the touched files; a foreachBatch thread recounts narrowly
    val counts = new WriteCounts(rewriteSrc, cache = false,
      Seq("updated" -> sum(when(matchPred, 1L).otherwise(0L))))(
      _ => Map("updated" -> touchedDf.filter(matchPred).count()))
    val rtExtra: Seq[Column] = if (!rt) Nil else Seq(
      col(RowTracking.MatRowId),
      when(matchPred, lit(null).cast(LongType))
        .otherwise(col(RowTracking.MatRcv)).as(RowTracking.MatRcv))
    val rewritten = counts.rows.select(snap.schema.fieldNames.toIndexedSeq.map { c =>
      val newVal = set.collectFirst { case (k, v) if k.equalsIgnoreCase(c) => v }
      newVal match {
        case Some(v) => when(matchPred, v.cast(snap.schema(c).dataType))
          .otherwise(col(c)).as(c, snap.schema(c).metadata)
        case None => col(c)
      }
    } ++ rtExtra: _*)
    val sidecars = dmlSidecar(snap, rewriteSrc.filter(matchPred), rt, Some(set))
    val adds = stageWrite(rewritten, snap.metadata.partitionColumns)
    commitRewrite(snap, "UPDATE", Map("predicate" -> cond.toString), touched, adds,
      sidecars, Map("numUpdatedRows" -> counts("updated")))
  }

  /** Generated-column recompute shared by UPDATE and MERGE's update/insert
    * clauses (Delta parity). A generated column the assignment map does not
    * SET explicitly, whose rule reads a column the map DOES assign, gets its
    * rule re-evaluated with the assignments substituted in — the recompute
    * sees post-update base values while still evaluating over the original
    * row (one projection, no second pass). Rows that predate the rule (NULL
    * generated value) CONVERGE to it when their base is updated — the NULL
    * exemption covers rows the DML never touches, not rows being rewritten
    * while the rule is live.
    *
    * `qualifier`: how the rule's remaining (un-assigned) base references
    * resolve — None reads the bare pre-image row (UPDATE), Some("target")
    * qualifies them against MERGE's joined target/source frame (a bare name
    * would be ambiguous when the source carries the same column).
    * `insertMode`: INSERT clauses have no pre-image — every generated column
    * missing from the VALUES map is computed, and rule references the map
    * does not assign resolve via `defaultFor`: the column's declared
    * CURRENT_DEFAULT when one exists (the value `insertMissing` writes into
    * the row — computing the rule over NULL there would stamp a generated
    * value inconsistent with the row actually written), else NULL. */
  private[table] def recomputeGenerated(
      rawSet: Map[String, Column],
      qualifier: Option[String] = None,
      insertMode: Boolean = false,
      defaultFor: String => Option[Column] = _ => None): Map[String, Column] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Expression
    val setKeys = rawSet.keys.map(_.toLowerCase).toSet
    rawSet ++ generatedColumns.flatMap { case (g, rule) =>
      val ruleExpr = Pruner.exprOf(org.apache.spark.sql.functions.expr(rule))
      val touchesBase =
        insertMode || refNames(ruleExpr).exists(r => setKeys.contains(r.toLowerCase))
      if (setKeys.contains(g.toLowerCase) || !touchesBase) None
      else {
        // transformUp: a replacement that itself references the base column
        // (SET n = n + 5) must not be re-entered by the rule
        val substituted = ruleExpr.transformUp {
          case u: UnresolvedAttribute if u.nameParts.length == 1 =>
            rawSet.collectFirst {
              case (k, v) if k.equalsIgnoreCase(u.name) => Pruner.exprOf(v)
            }.getOrElse {
              if (insertMode)
                Pruner.exprOf(defaultFor(u.name).getOrElse(lit(null)))
              else qualifier.fold(u: Expression)(q =>
                UnresolvedAttribute(Seq(q, u.name)))
            }
        }
        Some(g -> org.apache.spark.sql.graft.ColumnExpr.toColumn(substituted))
      }
    }
  }

  /** DELETE FROM t WHERE cond (M5, notebooks/04_acid_operations.py:171-175).
    * Rows where the predicate is NULL are kept (SQL semantics). With
    * deletion vectors enabled, matching rows are masked instead of
    * rewriting the touched files — at 100 TB a 0.1% delete writes a few KB
    * of row indexes instead of re-encoding every touched file. */
  def delete(cond: Column): Long = {
    val snap = snapshot()
    if (dvEnabled) return deleteWithDv(snap, cond)
    val touched = filesContaining(snap, cond, masking = false)
    if (touched.isEmpty) return snap.version
    val touchedDf = readFilesMasked(snap, touched, snap.schema)
    val matchPred = coalesce(cond, lit(false))
    // row tracking: survivors pass their resolved id AND commit version
    // straight through as materialized columns — a delete never changes
    // the rows it keeps
    val rt = rowsTracked(snap, touched)
    val rewriteSrc =
      if (rt) posWithRowIds(snap, touched).drop("__file", "__idx")
      else touchedDf
    val rewritten = rewriteSrc.filter(!matchPred)
    val sidecars = dmlSidecar(snap, rewriteSrc.filter(matchPred), rt, None)
    val adds = stageWrite(rewritten, snap.metadata.partitionColumns)
    // deleted-row count falls out of the file metadata — no extra job
    // (touched files' live counts = base counts minus their DV masks)
    val liveTouched = touched.map(f =>
      f.numRecords - snap.dvs.get(f.path).map(_.numDeleted).getOrElse(0L)).sum
    val numDeleted = liveTouched - adds.map(_.numRecords).sum
    commitRewrite(snap, "DELETE", Map("predicate" -> cond.toString), touched, adds,
      sidecars, Map("numDeletedRows" -> numDeleted))
  }

  /** Deletion-vector DELETE: no data files are read-modified-written; the
    * commit adds one DV parquet (this delete's masked positions unioned
    * with the touched files' existing vectors) plus per-file
    * DeletionVector actions. */
  private def deleteWithDv(snap: Snapshot, cond: Column): Long = {
    val touched = filesContaining(snap, cond, masking = true)
    if (touched.isEmpty) return snap.version
    // row tracking: resolve ids alongside the positions so the CDF
    // sidecar records which rows the mask deleted
    val rt = rowsTracked(snap, touched)
    // with the change feed on, the matched rows are read once: the mask
    // pass brings them to the driver or materializes them, and the
    // sidecar write reads them back
    val matched = dmlRows(snap, touched, snap.schema, rt, positions = true)
      .filter(coalesce(cond, lit(false)))
    Dml.withMatched(matched, touched, cdfEnabled) { (pass, rows) =>
      val sidecars = if (pass.rows == 0) Nil else dmlSidecar(snap, rows(), rt, None, Some(pass.bytes))
      commitMasks(snap, "DELETE", Map("predicate" -> cond.toString),
        touched, pass.masks, Nil, sidecars,
        newlyMasked => Map("numDeletedRows" -> newlyMasked))
    }
  }

  /** Deletion-vector UPDATE: matched rows are masked and only their updated
    * versions are appended as new files. */
  private def updateWithDv(snap: Snapshot, cond: Column, set: Map[String, Column]): Long = {
    val touched = filesContaining(snap, cond, masking = true)
    if (touched.isEmpty) return snap.version
    // row tracking: the masked originals' resolved ids ride into the
    // appended post-image file as a materialized column, so an updated row
    // KEEPS its id across the mask+append; the commit version is left to
    // the new file's default (= this commit), which is the bump Delta makes
    val rt = rowsTracked(snap, touched)
    // the matched rows are read once: the mask pass brings them to the
    // driver or materializes them, and both writes read them back, each
    // packed into one file when the pass measured them small
    val matched = dmlRows(snap, touched, snap.schema, rt, positions = true)
      .filter(coalesce(cond, lit(false)))
    Dml.withMatched(matched, touched, reuse = true) { (pass, rows) =>
      if (pass.rows == 0) snap.version
      else {
        val hit = rows().drop("__file", "__idx")
        val sidecars = dmlSidecar(snap, hit, rt, Some(set), Some(pass.bytes))
        val rtExtra: Seq[Column] = if (rt) Seq(col(RowTracking.MatRowId)) else Nil
        val adds = stageWrite(packSmall(hit.select(Dml.setExprs(snap.schema, set) ++ rtExtra: _*),
          pass.bytes), snap.metadata.partitionColumns)
        commitMasks(snap, "UPDATE", Map("predicate" -> cond.toString),
          touched, pass.masks, adds, sidecars,
          _ => Map("numUpdatedRows" -> adds.map(_.numRecords).sum))
      }
    }
  }

  /** `files` as DML reads them under `schema`: deletion-vector masks
    * applied, resolved row ids as materialized columns when `rt`, and the
    * reader positions `__file`/`__idx` kept when `positions` (a
    * deletion-vector write masks by them). */
  private[table] def dmlRows(snap: Snapshot, files: Seq[AddFile], schema: StructType,
      rt: Boolean, positions: Boolean): DataFrame =
    if (rt) {
      val p = posWithRowIds(snap, files, schema)
      if (positions) p else p.drop("__file", "__idx")
    }
    else if (positions) readFilesMaskedPos(snap, files, schema)
    else readFilesMasked(snap, files, schema)

  /** The change-feed sidecar of an UPDATE (`set` given: pre and post images
    * of the `hit` rows) or a DELETE (their delete images); Nil when the
    * feed is off. With `hitBytes`, the `hit` rows' in-memory size, images
    * that fit one file land as one. Row tracking: every image carries the
    * row's resolved id — the post image the SAME id (an update never moves
    * a row's id). */
  private def dmlSidecar(snap: Snapshot, hit: DataFrame, rt: Boolean,
      set: Option[Map[String, Column]], hitBytes: Option[Long] = None): Seq[Action] =
    if (!cdfEnabled) Nil
    else {
      val idCol: Seq[Column] =
        if (rt) Seq(col(RowTracking.MatRowId).as(Cdf.RowIdCol)) else Nil
      val before = snap.schema.fieldNames.toIndexedSeq.map(col) ++ idCol
      val images = set match {
        case None => Dml.cdfImage(hit, before, "delete")
        case Some(s) => Dml.cdfImage(hit, before, "update_preimage").unionByName(
          Dml.cdfImage(hit, Dml.setExprs(snap.schema, s) ++ idCol, "update_postimage"))
      }
      writeCdfSidecar(hitBytes.fold(images)(b => packSmall(images, b * (if (set.isEmpty) 1 else 2))))
    }

  /** Shared deletion-vector commit: this change's masked positions
    * (`matched` must carry __file/__idx) built map-side into per-file
    * bitmaps ([[DvBitmap.collectMasks]]) and committed through
    * [[commitMasks]]. */
  private[table] def maskAndCommit(
      snap: Snapshot, op: String, params: Map[String, String],
      touched: Seq[AddFile], matched: DataFrame, adds: Seq[AddFile],
      sidecars: Seq[Action], metrics: Long => Map[String, Long]): Long =
    commitMasks(snap, op, params, touched, DvBitmap.collectMasks(matched).masks,
      adds, sidecars, metrics)

  /** Commit per-file masks (`masks`: canonical absolute path → positions
    * this change masks) on `touched`: the masked files' current vectors
    * are read on the driver and ORed in by [[DvStore.write]], which writes
    * ONE `.bin` for the commit; the commit runs the DV conflict checks.
    * `metrics` receives the count of newly masked rows. */
  private[table] def commitMasks(
      snap: Snapshot, op: String, params: Map[String, String],
      touched: Seq[AddFile], masks: Map[String, Roaring64Bitmap], adds: Seq[AddFile],
      sidecars: Seq[Action], metrics: Long => Map[String, Long]): Long = {
    val hit = touched.flatMap(f => masks.get(absPath(f)).map(f.path -> _))
    // nothing masked AND nothing appended -> the table state is unchanged
    if (hit.isEmpty && adds.isEmpty) return snap.version
    val oldDvs = hit.flatMap { case (p, _) => snap.dvs.get(p) }
    val current = dvBitmaps(oldDvs)
    val newActions = DvStore.write(dir, hit,
      oldDvs.flatMap(d => current.get(absPathStr(d.forFile)).map(d.forFile -> _)).toMap)
    val newlyMasked = newActions.map(_.numDeleted).sum - oldDvs.map(_.numDeleted).sum
    val newKeys = newActions.map(_.forFile).toSet
    val committed = commitWithRetry(op, params + ("deletionVectors" -> "true"), snap,
      metrics(newlyMasked)) { s =>
      // the new vectors were computed on top of snap's vectors
      checkCommit(op, params, snap, s, newKeys)
      val now = clockMillis()
      newActions ++ adds ++ sidecars ++
        dvTombstones(s, newKeys, (s.dvs -- newKeys).values ++ newActions, now)
    }
    maybeAutoPurge()
    committed
  }

  /** Opt-in DV compaction valve (`graft.autoOptimize.purgeDvFraction`):
    * after a DV commit, rewrite files whose masked fraction reached the
    * configured threshold. Best-effort, like auto-compaction — a lost
    * commit race never fails the DML that triggered it. */
  private def maybeAutoPurge(): Unit =
    properties.get("graft.autoOptimize.purgeDvFraction")
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
      .foreach(th => scala.util.Try(reorgPurge(th)): Unit)

  /** MERGE INTO builder (M1-M3, src/data_processor.py:233-280). The condition
    * references the two sides as `target.<col>` / `source.<col>`. */
  def merge(source: DataFrame, condition: Column): MergeBuilder =
    new MergeBuilder(this, source, condition)

  /** Files whose rows might — then verifiably do — match `cond`. The
    * verification probe is skipped where it costs more than it saves: at
    * <=2 candidates (rewriting a file the probe might have excluded is
    * cheaper), and for a `masking` (deletion-vector) write whose candidates
    * fit [[Dml.DvProbeBytes]]. */
  private[table] def filesContaining(snap: Snapshot, cond: Column,
      masking: Boolean): Seq[AddFile] = {
    val candidates = Pruner.prune(partitionPrune(snap, snap.files, Seq(cond)),
      Seq(cond), snap.schema, bloomIndex)
    if (candidates.size <= 2 ||
        (masking && candidates.map(_.size).sum <= Dml.DvProbeBytes)) return candidates
    val withFile = readFilesWithFile(snap, candidates, snap.schema)
    val hit = withFile.filter(coalesce(cond, lit(false)))
      .select("__file").distinct().collect().map(r => Stats.stripScheme(r.getString(0))).toSet
    candidates.filter(f => hit.contains(absPath(f)))
  }

  /** Commit a rewrite: remove `touched`, add `adds`; verifies on a lost race
    * that no concurrent commit rewrote the same files. */
  private[table] def commitRewrite(
      snap: Snapshot,
      op: String,
      params: Map[String, String],
      touched: Seq[AddFile],
      adds: Seq[AddFile],
      extra: Seq[Action],
      metrics: Map[String, Long]): Long = {
    val touchedPaths = touched.map(_.path).toSet
    commitWithRetry(op, params, snap, metrics) { s =>
      checkCommit(op, params, snap, s, touchedPaths)
      val now = clockMillis()
      touched.map(f => RemoveFile(f.path, now)) ++ adds ++ extra ++
        dvTombstones(s, touchedPaths, (s.dvs -- touchedPaths).values, now)
    }
  }

  /** The checks a DML commit attempt makes against the fresh snapshot `s`
    * (inside the retry loop, so a lost race re-checks). Idempotent replay
    * (streaming foreachBatch merge): the same (txnAppId, txnVersion)
    * already committed -> no-op, like appendStream. Conflicts: the change
    * was derived under snap's schema, partitioning and deletion-vector
    * masks, so a commit since `snap` that changed the metadata, or removed
    * or re-masked any of `paths`, would make it silently inconsistent. */
  private def checkCommit(op: String, params: Map[String, String],
      snap: Snapshot, s: Snapshot, paths: Set[String]): Unit = {
    params.get("txnAppId").foreach { app =>
      if (lastTxnVersion(s, app).exists(_ >= params("txnVersion").toLong))
        throw new LakeTable.EpochAlreadyCommitted
    }
    if (s.version != snap.version) {
      if (s.metadata.schemaJson != snap.metadata.schemaJson ||
          s.metadata.partitionColumns != snap.metadata.partitionColumns)
        throw new java.util.ConcurrentModificationException(
          s"$op conflicts with a concurrent metadata change")
      val live = s.files.map(_.path).toSet
      if (!paths.subsetOf(live))
        throw new java.util.ConcurrentModificationException(
          s"$op conflicts with a concurrent commit that rewrote ${paths.diff(live).size} file(s)")
      paths.foreach { p =>
        if (s.dvs.get(p) != snap.dvs.get(p))
          throw new java.util.ConcurrentModificationException(
            s"$op conflicts with a concurrent deletion-vector change")
      }
    }
  }
}

/** Column builders every DML path shares. */
private[table] object Dml {

  /** Deletion-vector DML skips its verification probe while its
    * candidate files total at most this many bytes: its masking job reads
    * an unprobed candidate once and rewrites nothing, so the probe pays
    * only once the wide scan it saves outweighs its own narrow scan and
    * query. Measured (16 files whose key ranges all overlap, 8 columns,
    * local[4], DV and CDF on): skipping was faster at 305 MB of
    * candidates (MERGE 1.43 s against 1.70 s), probing at 610 MB (MERGE
    * 1.89 s against 2.51 s); UPDATE and DELETE moved less, the same way.
    * More cores shift the crossover up. */
  val DvProbeBytes: Long = 256L * 1024 * 1024

  /** Matched rows a deletion-vector DML brings to the driver at most, in
    * in-memory bytes: its writes then read a local relation, with no
    * cache to build and no second scan. A bound on driver memory, not a
    * measured crossover: no benchmark workload reaches the persisted side. */
  val DriverRowsBytes: Long = 32L * 1024 * 1024

  /** Whether the rows of `touched` may fit [[DriverRowsBytes]]: their
    * parquet bytes, at up to 8× that in memory (an assumed ratio, not a
    * measured one), do. Such files are at most 4 MB of parquet, so past a
    * driver overflow they are cheap to read again. */
  def fitsDriver(touched: Seq[AddFile]): Boolean =
    touched.map(_.size).sum * 8 <= DriverRowsBytes

  /** Run the map-side mask pass over `matched` (`__file`, `__idx` and the
    * rows a DML writes), then `body` with its result and, when `reuse`,
    * the matched rows to read again. When the touched files look small
    * ([[fitsDriver]]) that is the rows the pass brought back to the
    * driver, or `matched` itself, read again, when they overflowed
    * [[DriverRowsBytes]]; otherwise `matched` is persisted and
    * materialized by the pass. */
  def withMatched[A](matched: DataFrame, touched: Seq[AddFile], reuse: Boolean)(
      body: (DvBitmap.MaskPass, () => DataFrame) => A): A = {
    val viaDriver = reuse && fitsDriver(touched)
    if (reuse && !viaDriver) matched.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val pass = DvBitmap.collectMasks(matched, if (viaDriver) DriverRowsBytes else 0L)
      lazy val again = pass.kept.fold(matched)(rows =>
        Local.frame(matched.sparkSession, Local.output(matched), rows))
      body(pass, () => again)
    } finally if (reuse && !viaDriver) matched.unpersist(): Unit
  }

  /** `when(p1, v1).when(p2, v2)...otherwise(otherwise)` over `arms` in
    * order (first true predicate wins); `otherwise` alone when empty. */
  def firstOf(arms: Seq[(Column, Column)], otherwise: Column): Column =
    if (arms.isEmpty) otherwise
    else arms.tail.foldLeft(when(arms.head._1, arms.head._2)) {
      case (c, (p, v)) => c.when(p, v)
    }.otherwise(otherwise)

  /** An UPDATE's post image: every `schema` column, SET ones replaced. */
  def setExprs(schema: StructType, set: Map[String, Column]): Seq[Column] =
    schema.fieldNames.toIndexedSeq.map { c =>
      set.collectFirst { case (k, v) if k.equalsIgnoreCase(c) =>
        v.cast(schema(c).dataType).as(c, schema(c).metadata) }
        .getOrElse(col(c).as(c, schema(c).metadata))
    }

  /** One change-feed image: `rows` projected to `cols`, tagged `changeType`. */
  def cdfImage(rows: DataFrame, cols: Seq[Column], changeType: String): DataFrame =
    rows.select(cols: _*).withColumn("_change_type", lit(changeType))

  /** The Catalyst ordering of `dt`: Spark's own comparison, so NaN equals
    * NaN, -0.0 equals 0.0 and struct fields compare null-equal, as in
    * grouping, `min` and `max`. */
  private def ordering(dt: DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)

  /** The key columns `keys` (source column names, case-insensitive) as
    * (position, type) in the local relation `l`. */
  private def keyFields(l: LocalRelation, keys: Seq[String]): Seq[(Int, DataType)] =
    keys.map { k =>
      val hits = l.output.zipWithIndex.filter(_._1.name.equalsIgnoreCase(k))
      require(hits.size == 1, s"source key column $k resolves to ${hits.size} columns")
      (hits.head._2, hits.head._1.dataType)
    }

  /** MERGE phase 0 over a local source, on the driver: the row count, per
    * key column the (min, max) literals over its non-null values (absent
    * when it has none), and — when `checkDistinct` — whether the key tuples
    * are distinct with `count(DISTINCT …)` semantics: one key column counts
    * no nulls (so a null key is a duplicate), several count their struct,
    * whose null fields compare equal. */
  def localPhase0(l: LocalRelation, keys: Seq[String], checkDistinct: Boolean)
      : (Long, Map[String, (Column, Column)], Boolean) = {
    val fields = keyFields(l, keys)
    val bounds = keys.zip(fields).flatMap { case (k, (i, dt)) =>
      val vals = l.data.iterator.map(_.get(i, dt)).filter(_ != null).toSeq
      if (vals.isEmpty) None
      else {
        def literal(v: Any) = org.apache.spark.sql.graft.ColumnExpr.toColumn(
          Literal(InternalRow.copyValue(v), dt))
        Some(k -> (literal(vals.min(ordering(dt))), literal(vals.max(ordering(dt)))))
      }
    }.toMap
    def noDupes(vs: Seq[Any], ord: Ordering[Any]): Boolean = {
      val sorted = vs.sorted(ord)
      sorted.iterator.zip(sorted.iterator.drop(1)).forall { case (a, b) => ord.compare(a, b) != 0 }
    }
    val distinct = checkDistinct && (fields match {
      case Seq((i, dt)) =>
        val vs = l.data.map(_.get(i, dt))
        !vs.contains(null) && noDupes(vs, ordering(dt))
      case _ => noDupes(l.data.map(keyOf(fields)), ordering(keyType(fields)))
    })
    (l.data.size.toLong, bounds, distinct)
  }

  private def keyType(fields: Seq[(Int, DataType)]): StructType =
    StructType(fields.zipWithIndex.map { case ((_, dt), j) => StructField(s"_$j", dt) })

  private def keyOf(fields: Seq[(Int, DataType)])(r: InternalRow): InternalRow =
    InternalRow.fromSeq(fields.map { case (i, dt) => r.get(i, dt) })

  /** What the deletion-vector MERGE's first action returns: the per-file
    * masks of the rows an update or delete clause fires on, the two counts,
    * those rows' in-memory bytes, the distinct matched source keys (struct
    * rows) when asked for, and the changed rows themselves as a local frame
    * when they were brought back. */
  final case class MatchedPass(masks: Map[String, Roaring64Bitmap], updated: Long,
      deleted: Long, changedBytes: Long, keys: Seq[InternalRow], changed: Option[DataFrame])

  /** The first action over the matched pairs (`target.__file`,
    * `target.__idx`, `__action`; `key` appended as `__k` when given),
    * built map-side: each task returns one bitmap per file, its clause
    * counts and bytes, its matched keys, and its changed rows while they
    * total at most `keepBytes`. One job, no shuffle. */
  def matchedPass(pairs: DataFrame, updateTags: Seq[String], deleteTags: Seq[String],
      key: Option[Column], keepBytes: Long): MatchedPass = {
    val frame = pairs.select(col("*") +: key.map(_.as("__k")).toSeq: _*)
    val output = Local.output(frame)
    def at(name: String, qualifier: Option[String]): Int = output.indexWhere(a =>
      a.name == name && qualifier.forall(q => a.qualifier.lastOption.contains(q)))
    val (fi, ii, ai, ki) =
      (at("__file", Some("target")), at("__idx", Some("target")), at("__action", None),
        output.size - 1)
    val schema = frame.schema
    val keyWidth = key.map(_ => schema(ki).dataType.asInstanceOf[StructType].size)
    val (upd, del) = (updateTags.toSet, deleteTags.toSet)
    val parts = Local.mapPartitions(frame) { it =>
      val masks = new DvBitmap.TaskMasks
      val kept = new DvBitmap.TaskRows(keepBytes)
      lazy val toUnsafe = UnsafeProjection.create(schema)
      val keys = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var u, d, bytes = 0L
      it.foreach { r =>
        val tag = r.getUTF8String(ai).toString
        if (upd(tag) || del(tag)) {
          val size = DvBitmap.rowBytes(r, toUnsafe)
          masks.add(r.getUTF8String(fi), r.getLong(ii))
          bytes += size
          if (keepBytes > 0) kept.add(r, size)
          if (upd(tag)) u += 1 else d += 1
        }
        keyWidth.foreach(w => keys += r.getStruct(ki, w).copy())
      }
      (masks.result, u, d, bytes, keys.toSeq, kept.result)
    }
    val keys = key.toSeq.flatMap { _ =>
      val ord = ordering(schema(ki).dataType)
      parts.flatMap(_._5).sorted(ord).foldLeft(List.empty[InternalRow]) {
        case (h :: t, k) if ord.compare(h, k) == 0 => h :: t
        case (acc, k) => k :: acc
      }
    }
    val changedBytes = parts.map(_._4).sum
    MatchedPass(DvBitmap.orMasks(parts.map(_._1)), parts.map(_._2).sum, parts.map(_._3).sum,
      changedBytes, keys,
      DvBitmap.keptRows(parts.map(_._6), changedBytes, keepBytes)
        .map(Local.frame(pairs.sparkSession, output, _)))
  }

  /** The rows of the local source `l` whose key tuple (`keys`, as in
    * [[localPhase0]]) is not among `matched` (struct rows of the same
    * fields). A key with a null field matches nothing, as in the join. */
  def unmatchedRows(l: LocalRelation, keys: Seq[String],
      matched: Seq[InternalRow]): Seq[InternalRow] = {
    val fields = keyFields(l, keys)
    val set = scala.collection.immutable.TreeSet.from(matched)(
      ordering(keyType(fields)).asInstanceOf[Ordering[InternalRow]])
    l.data.filterNot(r => set.contains(keyOf(fields)(r)))
  }
}

/** Named row counts of a DML write that ride the write job itself: the
  * `metrics` aggregates are observed on `frame` (a CollectMetrics node), so
  * the job that consumes [[rows]] also yields them — no counting pass. On a
  * foreachBatch thread the observation never completes (see
  * LakeTable.onStreamExecutionThread); there `recount` computes the same
  * counts with one narrow job after the write, over `frame` persisted once
  * when `cache` is set, so it reads the cache instead of re-running the
  * frame's scan and join. [[release]] drops that cache. */
private[table] final class WriteCounts(
    frame: DataFrame, cache: Boolean, metrics: Seq[(String, Column)])(
    recount: DataFrame => Map[String, Long]) {
  private val observable = !LakeTable.onStreamExecutionThread
  private val obs = Observation()
  private val cached =
    if (observable || !cache) None else Some(frame.persist(StorageLevel.MEMORY_AND_DISK))

  /** The frame to build the write on. */
  val rows: DataFrame =
    if (!observable) cached.getOrElse(frame)
    else frame.observe(obs, metrics.head._2.as(metrics.head._1),
      metrics.tail.map { case (n, m) => m.as(n) }: _*)

  private lazy val recounted = recount(rows)

  /** A count, once the write has run (sum over an empty plan is null -> 0). */
  def apply(name: String): Long =
    if (observable) obs.get.get(name) match {
      case Some(l: java.lang.Long) => l.longValue()
      case _ => 0L
    }
    else recounted.getOrElse(name, 0L)

  def release(): Unit = cached.foreach(_.unpersist(): Unit)
}

private[table] object WriteCounts {

  /** Per-name row counts of an `__action`-tagged frame: each name counts
    * the rows carrying any of its tags (one narrow group-by job). */
  def countTags(tagged: DataFrame, named: Seq[(String, Seq[String])]): Map[String, Long] = {
    val byTag = tagged.select(col("__action")).groupBy("__action").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    named.map { case (n, tags) => n -> tags.map(t => byTag.getOrElse(t, 0L)).sum }.toMap
  }

  /** [[WriteCounts]] of the `__action` tags in `named`, persisted for the
    * stream-thread recount. */
  def byTag(tagged: DataFrame, named: (String, Seq[String])*): WriteCounts =
    new WriteCounts(tagged, cache = true, named.map { case (n, tags) =>
      n -> (if (tags.isEmpty) sum(lit(0L))
        else sum(when(col("__action").isin(tags: _*), 1L).otherwise(0L)))
    })(countTags(_, named))
}

/** Fluent MERGE spec, mirroring Delta's builder
  * (whenMatchedUpdate/whenMatchedDelete/whenNotMatchedInsert; clause order is
  * evaluation order, first matching clause wins). `dvProbeBytes` is the
  * deletion-vector path's probe budget, [[Dml.DvProbeBytes]]; a spec lowers
  * it to run that probe over a small table. */
class MergeBuilder private[table] (
    table: LakeTable,
    source: DataFrame,
    condition: Column,
    dvProbeBytes: Long = Dml.DvProbeBytes) {

  private sealed trait Clause { def cond: Option[Column] }
  // an update or delete of an existing target row, matched or not
  private sealed trait UpdateClause extends Clause { def set: Map[String, Column] }
  private sealed trait DeleteClause extends Clause
  private case class MatchedUpdate(cond: Option[Column], set: Map[String, Column]) extends UpdateClause
  private case class MatchedUpdateAll(cond: Option[Column]) extends Clause
  private case class MatchedDelete(cond: Option[Column]) extends DeleteClause
  private case class NotMatchedInsert(cond: Option[Column], values: Map[String, Column]) extends Clause
  private case class NotMatchedInsertAll(cond: Option[Column]) extends Clause
  private case class NotMatchedBySourceUpdate(cond: Option[Column], set: Map[String, Column])
    extends UpdateClause
  private case class NotMatchedBySourceDelete(cond: Option[Column]) extends DeleteClause

  private var rawMatchedClauses = Vector.empty[Clause]
  private var rawNotMatchedClauses = Vector.empty[Clause]
  private var notMatchedBySourceClauses = Vector.empty[Clause]
  private var schemaEvolution = false
  private var txn: Option[(String, Long)] = None

  private def sourceCols: Seq[String] = source.columns.toSeq

  def whenMatchedUpdate(set: Map[String, Column], condition: Option[Column] = None): MergeBuilder = {
    rawMatchedClauses :+= MatchedUpdate(condition, set); this
  }

  def whenMatchedUpdateAll(condition: Option[Column] = None): MergeBuilder = {
    rawMatchedClauses :+= MatchedUpdateAll(condition); this
  }

  def whenMatchedDelete(condition: Option[Column] = None): MergeBuilder = {
    rawMatchedClauses :+= MatchedDelete(condition); this
  }

  def whenNotMatchedInsert(values: Map[String, Column], condition: Option[Column] = None): MergeBuilder = {
    rawNotMatchedClauses :+= NotMatchedInsert(condition, values); this
  }

  def whenNotMatchedInsertAll(condition: Option[Column] = None): MergeBuilder = {
    rawNotMatchedClauses :+= NotMatchedInsertAll(condition); this
  }

  /** Idempotent merge under replay (the streaming foreachBatch upsert
    * pattern): the commit records (txnAppId, txnVersion) exactly like
    * [[LakeTable.appendStream]], and a merge whose version is <= the last
    * recorded one for the same app id is a no-op — re-checked against the
    * fresh snapshot inside the commit-retry loop, so a lost CAS race with a
    * replayed twin cannot double-apply the batch. */
  def withTxn(appId: String, version: Long): MergeBuilder = {
    txn = Some((appId, version)); this
  }

  private def txnParams: Map[String, String] =
    txn.map { case (a, v) => Map("txnAppId" -> a, "txnVersion" -> v.toString) }
      .getOrElse(Map.empty)

  /** Delta's schema auto-merge: source columns missing from the target are
    * added (nullable) in the merge commit, and the *All clauses pick them
    * up. Rows from files written before the evolution read them as NULL. */
  def withSchemaEvolution(): MergeBuilder = { schemaEvolution = true; this }

  /** Update target rows that have NO source match (Delta's WHEN NOT MATCHED
    * BY SOURCE). `set` expressions may reference target columns only —
    * there is no source row on this branch. */
  def whenNotMatchedBySourceUpdate(set: Map[String, Column], condition: Option[Column] = None): MergeBuilder = {
    notMatchedBySourceClauses :+= NotMatchedBySourceUpdate(condition, set); this
  }

  /** Delete target rows that have NO source match (the "sync deletes"
    * half of a full-sync merge). */
  def whenNotMatchedBySourceDelete(condition: Option[Column] = None): MergeBuilder = {
    notMatchedBySourceClauses :+= NotMatchedBySourceDelete(condition); this
  }

  /** Equi-join key pairs (targetCol, sourceCol) extracted from the merge
    * condition's AND-conjunction — the inputs to phase-0 file pruning. */
  private def equiKeyPairs: Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
    def attr(e: Expression): Option[(String, String)] = e match {
      case u: UnresolvedAttribute if u.nameParts.length == 2 =>
        Some((u.nameParts.head.toLowerCase, u.nameParts.last))
      case _ => None
    }
    def walk(e: Expression): Seq[(String, String)] = e match {
      case And(l, r) => walk(l) ++ walk(r)
      case EqualTo(a, b) => (attr(a), attr(b)) match {
        case (Some(("target", t)), Some(("source", s))) => Seq((t, s))
        case (Some(("source", s)), Some(("target", t))) => Seq((t, s))
        case _ => Nil
      }
      case _ => Nil
    }
    walk(Pruner.normalize(Pruner.exprOf(condition)))
  }

  /** True iff the merge condition is EXACTLY a conjunction of target-source
    * equi pairs — then "multiple sources match one target row" can only
    * happen when the source has duplicate key tuples, so a distinct-key
    * source needs no join-side ambiguity guard at all. */
  private def pureEquiCondition(pairs: Seq[(String, String)]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    pairs.nonEmpty &&
      conjuncts(Pruner.normalize(Pruner.exprOf(condition))).size == pairs.size
  }

  private def ambiguousMatch(): Nothing =
    throw new IllegalStateException(
      "MERGE failed: multiple source rows matched the same target row " +
        "(same semantics as Delta's DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW_IN_MERGE)")

  // opt-in phase timing for local profiling: -Dgraft.merge.timing=1
  private val timingOn = sys.props.get("graft.merge.timing").contains("1")
  private var lastMark = System.nanoTime()
  private def mark(label: String): Unit = if (timingOn) {
    val now = System.nanoTime()
    System.err.println(f"[merge-timing] $label%-28s ${(now - lastMark) / 1e9}%7.2f s")
    lastMark = now
  }

  /** The small-rewrite gate's budget: touched bytes plus the materialized
    * source's size estimate must fit half a 128 MB target file. */
  private val SmallRewriteBytes = 64L * 1024 * 1024

  /** Up to this many distinct matched source keys, the insert side
    * anti-joins against their broadcast (the same sizing rule as the DV
    * mask broadcast: a known row count under 4M builds a safe
    * executor-side map); past it, against the touched files' keys. */
  private val BroadcastKeysMax = 4000000L

  /** Run the two-phase merge. Returns the committed version. */
  def execute(): Long =
    try executeImpl()
    catch {
      // replayed (txnAppId, txnVersion) epoch detected inside the commit
      // retry loop: the work is already in the table
      case _: LakeTable.EpochAlreadyCommitted => table.snapshot().version
    }

  private def executeImpl(): Long = {
    val spark = table.spark
    val snap = table.snapshot()
    txn match {
      case Some((app, v)) if table.lastTxnVersion(snap, app).exists(_ >= v) =>
        return snap.version // replayed epoch: skip before staging any work
      case _ =>
    }
    lastMark = System.nanoTime()
    val cdfOn = table.properties.get("graft.enableChangeDataFeed").contains("true")
    val dvOn = table.properties.get("graft.enableDeletionVectors").contains("true")

    // Schema evolution: source-only columns join the target schema
    // (nullable) for this merge's commit; pre-evolution files read them as
    // NULL via the enforced read schema — no rewrite of untouched data.
    val newCols: Seq[StructField] = {
      val added =
        if (!schemaEvolution) Seq.empty
        else source.schema.fields.toSeq
          .filter(f => !snap.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          .map(f => f.copy(nullable = true,
            metadata = graft.log.ColumnIds.strip(StructType(Seq(f))).fields.head.metadata))
      // on a mapped table the evolved columns get fresh field ids
      graft.log.ColumnIds.stampNew(snap.metadata.properties, snap.schema, added)._1
    }
    val schema = StructType(snap.schema.fields ++ newCols)
    val evolution: Seq[graft.log.Action] = table.evolveMeta(snap, schema)
    // Delta parity: an insert clause that omits a column falls back to the
    // column's declared DEFAULT (CURRENT_DEFAULT metadata), else NULL
    def insertMissing(c: String, dt: DataType): Column = {
      val md = schema(c).metadata
      if (md.contains("CURRENT_DEFAULT"))
        org.apache.spark.sql.functions.expr(md.getString("CURRENT_DEFAULT")).cast(dt)
      else lit(null).cast(dt)
    }

    // *All clauses resolve against the EFFECTIVE schema (incl. evolved
    // columns), which is only known here.
    val allSet = () => schema.fieldNames.filter(sourceCols.contains)
      .map(c => c -> col(s"source.$c")).toMap
    // Delta parity: update clauses RECOMPUTE generated columns whose base
    // the clause assigns (same substitution as UPDATE — a stale value would
    // fail the write-time identity check); insert clauses COMPUTE generated
    // columns missing from the VALUES map over the inserted values.
    val matchedClauses: Vector[Clause] = rawMatchedClauses.map {
      case MatchedUpdateAll(cond) => MatchedUpdate(cond, allSet())
      case other => other
    }.map {
      case MatchedUpdate(cond, set) =>
        MatchedUpdate(cond, table.recomputeGenerated(set, qualifier = Some("target")))
      case other => other
    }
    val notMatchedClauses: Vector[NotMatchedInsert] = rawNotMatchedClauses.map {
      case NotMatchedInsertAll(cond) => NotMatchedInsert(cond, allSet())
      case i: NotMatchedInsert => i
      case other => throw new IllegalStateException(s"unexpected clause $other")
    }.map { case NotMatchedInsert(cond, values) =>
      NotMatchedInsert(cond, table.recomputeGenerated(values, insertMode = true,
        // base columns the VALUES map omits are written by insertMissing
        // with their CURRENT_DEFAULT — the rule must see that same value
        defaultFor = n => schema.fields
          .find(f => f.name.equalsIgnoreCase(n) &&
            f.metadata.contains("CURRENT_DEFAULT"))
          .map(f => org.apache.spark.sql.functions
            .expr(f.metadata.getString("CURRENT_DEFAULT")).cast(f.dataType))))
    }
    val nmbsClauses: Vector[Clause] = notMatchedBySourceClauses.map {
      case NotMatchedBySourceUpdate(cond, set) =>
        NotMatchedBySourceUpdate(cond,
          table.recomputeGenerated(set, qualifier = Some("target")))
      case other => other
    }
    val nmbsOn = nmbsClauses.nonEmpty

    // The clause compiler. Each clause has an `__action` tag — m<i> matched,
    // i<j> insert, u<k>/x<k> not-matched-by-source update/delete — and every
    // path tags rows with the first firing clause, then projects each
    // output column from the tag. NMBS tags fold into the update/delete
    // vectors so the keep-filter, DV masking, CDF sidecars, and metrics all
    // compose without special cases (an NMBS update IS an update of an
    // existing target row).
    val matchedTagged = matchedClauses.zipWithIndex.map { case (cl, i) => s"m$i" -> cl }
    val insertTagged = notMatchedClauses.zipWithIndex.map { case (cl, j) => s"i$j" -> cl }
    val nmbsTagged = nmbsClauses.zipWithIndex.map {
      case (cl: NotMatchedBySourceUpdate, k) => s"u$k" -> cl
      case (cl, k) => s"x$k" -> cl
    }
    val updateTags = (matchedTagged ++ nmbsTagged).collect { case (t, _: UpdateClause) => t }
    val deleteTags = (matchedTagged ++ nmbsTagged).collect { case (t, _: DeleteClause) => t }
    val insertTags = insertTagged.map(_._1)
    val nmbsUpdateTags = nmbsTagged.collect { case (t, _: NotMatchedBySourceUpdate) => t }
    val nmbsDeleteTags = nmbsTagged.collect { case (t, _: NotMatchedBySourceDelete) => t }

    /** `__action`: the tag of the first clause (in `arms` order) whose arm
      * guard and own condition hold, else `tail`. */
    def actionCol(tail: Column)(arms: (Option[Column], Seq[(String, Clause)])*): Column =
      Dml.firstOf(for ((guard, tagged) <- arms; (tag, cl) <- tagged) yield {
        val p = coalesce(cl.cond.getOrElse(lit(true)), lit(false))
        guard.fold(p)(_ && p) -> lit(tag)
      }, tail)

    /** Output column `c`: the value the row's firing clause among `tagged`
      * writes, else `base(c)` (delete clauses write nothing: their rows are
      * filtered out). */
    def outCol(tagged: Seq[(String, Clause)], base: String => Column)(c: String): Column = {
      val dt = schema(c).dataType
      def assigned(m: Map[String, Column]) =
        m.collectFirst { case (k, e) if k.equalsIgnoreCase(c) => e }
      Dml.firstOf(tagged.flatMap {
        case (t, u: UpdateClause) =>
          Some(t -> assigned(u.set).getOrElse(col(s"target.$c")).cast(dt))
        case (t, NotMatchedInsert(_, values)) =>
          Some(t -> assigned(values).map(_.cast(dt)).getOrElse(insertMissing(c, dt)))
        case _ => None
      }.map { case (t, v) => (col("__action") === t) -> v }, base(c)).as(c, schema(c).metadata)
    }
    val targetOf: String => Column = c => col(s"target.$c")
    val nullOf: String => Column = c => lit(null).cast(schema(c).dataType)
    // an insert side's tagged source rows -> table rows
    def insertRows(tagged: DataFrame): DataFrame =
      tagged.filter(col("__action") =!= "drop")
        .select(schema.fieldNames.toIndexedSeq.map(outCol(insertTagged, nullOf)): _*)
    // materialized-id passthrough (row tracking) of a copy-on-write
    // rewrite: updates/copies keep their id, copies alone keep the commit
    // version, inserts stay null
    def rtCarry(rt: Boolean): Seq[Column] = if (!rt) Nil else Seq(
      col(s"target.${RowTracking.MatRowId}").as(RowTracking.MatRowId),
      when(col("__action") === "copy", col(s"target.${RowTracking.MatRcv}"))
        .otherwise(lit(null).cast(LongType))
        .as(RowTracking.MatRcv))
    // a deletion-vector changed set: the output row, its reader position
    // (for the mask), its tag, and its resolved id under row tracking
    def changedCols(out: String => Column, rt: Boolean): Seq[Column] =
      schema.fieldNames.toIndexedSeq.map(out) ++ Seq(
        col("target.__file").as("__file"), col("target.__idx").as("__idx"),
        col("__action")) ++
        (if (rt) Seq(col(s"target.${RowTracking.MatRowId}")
          .as(RowTracking.MatRowId)) else Nil)
    // ... and the table rows it writes
    def changedRows(changed: DataFrame, rt: Boolean): DataFrame =
      changed.select(schema.fieldNames.toIndexedSeq.map(c =>
        col(c).as(c, schema(c).metadata)) ++
        (if (rt) Seq(col(RowTracking.MatRowId)) else Nil): _*)

    val params = Map("predicate" -> condition.toString,
      "matchedClauses" -> matchedClauses.size.toString,
      "notMatchedClauses" -> notMatchedClauses.size.toString) ++
      (if (nmbsOn) Map("notMatchedBySourceClauses" -> nmbsClauses.size.toString)
      else Map.empty) ++ txnParams

    // Materialize the source once: it is referenced by phase-0 bounds, the
    // phase-1 probe, and the phase-2 join — and must not change between them.
    // A source whose optimized plan is a local relation already is: its
    // rows sit on the driver, phase 0 reads them there, and nothing is
    // persisted.
    val local = Local.relation(source)
    val src = local.fold(source.persist(StorageLevel.MEMORY_AND_DISK))(Local.frame(spark, _))
    // The phase-2 full-outer join cannot use a broadcast hash join, and a
    // sort-merge join pays a full sort of the (large) target side that a
    // shuffled hash join skips — the source side always fits a build map
    // (it is the small side by construction; AQE still rewrites skew).
    // Measured 2.8x faster on the 5M-row rewrite. Scoped to this merge.
    val prevPreferSmj = spark.conf.getOption("spark.sql.join.preferSortMergeJoin")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    // Probe by-product: when some source rows found no match, the (lazy)
    // plan for their DISTINCT matched keys — the insert side then anti-joins
    // against its broadcast (one extra narrow scan) instead of shuffling the
    // touched files' keys.
    var matchedKeys: Option[DataFrame] = None
    try {

    // Phase 0: the source's row count (numSourceRows metric), the equi-key
    // min/max bounds for file pruning (the Delta "merge touches only the
    // key-overlapping slice" behavior — at scale this is what keeps a
    // 1%-overlap merge from scanning the table), and whether its key tuples
    // are distinct (the ambiguity guard). A local source is read on the
    // driver ([[Dml.localPhase0]]); any other in ONE fused pass over the
    // persisted source — one small job instead of three.
    val pairs = equiKeyPairs
    val pureEqui = pureEquiCondition(pairs)
    val (numSourceRows, bounds, srcKeysDistinct): (Long, Map[String, (Column, Column)], Boolean) =
      local.flatMap(l => scala.util.Try(Dml.localPhase0(l, pairs.map(_._2), pureEqui)).toOption)
        .getOrElse(scala.util.Try {
          val aggs = Seq(count(lit(1)).as("__cnt")) ++
            pairs.flatMap { case (_, s) =>
              Seq(min(col(s)).as(s"__lo_$s"), max(col(s)).as(s"__hi_$s")) } ++
            (if (pureEqui)
              // bare column beats a 1-field struct in the distinct agg's Expand
              Seq(count_distinct(
                if (pairs.size == 1) col(pairs.head._2)
                else struct(pairs.map(p => col(p._2)): _*)).as("__dk"))
            else Nil)
          val row = src.agg(aggs.head, aggs.tail: _*).collect().head
          val cnt = row.getAs[Long]("__cnt")
          val lohi = pairs.flatMap { case (_, s) =>
            val lo = row.getAs[Any](s"__lo_$s"); val hi = row.getAs[Any](s"__hi_$s")
            if (lo == null || hi == null) None else Some(s -> (lit(lo), lit(hi)))
          }.toMap
          (cnt, lohi, pureEqui && row.getAs[Long]("__dk") == cnt)
        }.getOrElse((src.count(), Map.empty[String, (Column, Column)], false)))
    val candidates: Seq[AddFile] =
      if (pairs.isEmpty || snap.files.size < 8) snap.files
      else {
        val preds = pairs.flatMap { case (t, s) =>
          bounds.get(s).map { case (lo, hi) => col(t) >= lo && col(t) <= hi }
        }
        if (preds.isEmpty) snap.files
        else scala.util.Try(Pruner.prune(table.partitionPrune(snap, snap.files, preds), preds,
          schema, table.bloomIndex)).getOrElse(snap.files)
      }
    mark("phase0 source agg")
    def mergeMetrics(updated: Long, deleted: Long, inserted: Long, copied: Long) =
      Map("numTargetRowsUpdated" -> updated, "numTargetRowsDeleted" -> deleted,
        "numTargetRowsInserted" -> inserted, "numTargetRowsCopied" -> copied,
        "numSourceRows" -> numSourceRows)
    // the source-side key of the equi pairs, and the target's key columns
    def srcKey: Column = if (pairs.size == 1) col(s"source.${pairs.head._2}")
      else struct(pairs.map(p => col(s"source.${p._2}")): _*)
    def keySchema: StructType = StructType(pairs.map(_._1).distinct.map(c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)).get))

    // WHEN NOT MATCHED BY SOURCE widens the touched set beyond the
    // key-overlap slice: unmatched target rows can live in ANY file, so
    // only the clause conditions themselves can prune (Delta behaves the
    // same — an unconditional NMBS clause scans the whole table).
    val nmbsCandidates: Seq[AddFile] =
      if (!nmbsOn) Nil
      else {
        val conds = nmbsClauses.map(_.cond)
        if (conds.forall(_.isDefined)) {
          val anyCond = conds.flatten.reduce(_ || _)
          Pruner.prune(table.partitionPrune(snap, snap.files, Seq(anyCond)),
            Seq(anyCond), schema, table.bloomIndex)
        } else snap.files
      }

    // Insert-only merge (no matched clauses): target files are never
    // rewritten — anti-join the source against the candidate slice and
    // append the surviving rows as new files (Delta's insert-only-merge
    // fast path; also the only correct semantics when one target row
    // matches several source rows).
    if (matchedClauses.isEmpty && !nmbsOn) {
      // shuffle_hash: the target side must never be auto-broadcast (see the
      // phase-2 anti-join note below — same driver-broadcast hazard)
      val tgt = table.readFilesMasked(snap, candidates, schema)
        .hint("shuffle_hash").alias("target")
      val unmatchedSrc = src.alias("source").join(tgt, condition, "left_anti")
        .alias("source")
      val inserts = insertRows(
        unmatchedSrc.withColumn("__action", actionCol(lit("drop"))(None -> insertTagged)))
      val adds = table.stageWrite(inserts, snap.metadata.partitionColumns)
      val numInserted = adds.map(_.numRecords).sum
      val sidecars = if (cdfOn && adds.nonEmpty)
        table.writeCdfSidecar(table.readFiles(adds.map(f =>
          f.copy(path = table.absPath(f))), schema)
          .withColumn("_change_type", lit("insert")))
      else Nil
      return table.commitRewrite(snap, "MERGE", params, Nil, adds, evolution ++ sidecars,
        mergeMetrics(0L, 0L, numInserted, 0L))
    }

    // Phase 1: which candidate files actually contain matched rows, FUSED
    // with the ambiguous-match guard — the same broadcast inner join yields
    // the touched-file set, the matched-pair count, and the distinct
    // matched-target-row count in one job (a target row matched by >1
    // source row makes pairs exceed distinct rows). When the phase-0 source
    // pass already proved ambiguity impossible (pure equi-condition with
    // distinct source keys), the probe collects only the file set — the
    // distinct agg's Expand over every matched pair is the expensive part.
    // With <=2 candidates the probe costs more than rewriting everything;
    // the guard (when still needed) then falls back to a narrow aggregation
    // over the phase-2 join.
    var guardChecked = srcKeysDistinct
    // Set by the distinct-keys probe: how many source rows found a match.
    // When it equals numSourceRows, NO source row is an insert and the
    // phase-2 anti-join (a full scan of the touched files' keys) is skipped.
    var matchedSourceRows: Option[Long] = None
    // (Past the 2-candidate floor a copy-on-write merge always probes: a
    // "dense merge" heuristic that skips it was tried and dropped — when a
    // large distinct-key source mostly MISSES the table (an id-list
    // delete), the skipped probe turns into a full rewrite of every
    // candidate file as unchanged copies, an asymmetric loss for a
    // narrow-scan saving.)
    // the deletion-vector fast path (below): its own first action yields
    // the matched source keys, so its probe collects only the file set
    val dvFast = srcKeysDistinct && pureEqui && dvOn && !nmbsOn && matchedClauses.nonEmpty
    val matchTouched: Seq[AddFile] =
      // like a masking UPDATE/DELETE, the deletion-vector path reads an
      // unprobed candidate only in its own join and rewrites nothing
      if (candidates.size <= 2 ||
          (dvFast && candidates.map(_.size).sum <= dvProbeBytes)) candidates
      else {
        val touchedPaths: Set[String] =
          if (srcKeysDistinct) {
            // Key-only probe scan (the pure-equi condition references
            // nothing else). When insert clauses exist, the same probe job
            // also counts the DISTINCT matched source keys (distinct because
            // a source row can match several duplicate-key target rows): if
            // every source row matched, phase 2 skips its anti-join — a full
            // scan of the touched files' keys — entirely.
            val probeT = table.readFilesWithFile(snap, candidates, keySchema)
              .alias("target")
            val joinedProbe = probeT.join(src.alias("source"), condition, "inner")
            if (rawNotMatchedClauses.isEmpty || dvFast) {
              val row = joinedProbe
                .agg(collect_set(col("__file")).as("files")).collect().head
              row.getAs[Seq[String]]("files").map(Stats.stripScheme).toSet
            } else {
              val row = joinedProbe.agg(collect_set(col("__file")).as("files"),
                count_distinct(srcKey).as("msr")).collect().head
              val msr = row.getAs[Long]("msr")
              matchedSourceRows = Some(msr)
              if (msr < numSourceRows && msr <= BroadcastKeysMax)
                matchedKeys = Some(joinedProbe.select(srcKey.as("__k")).distinct())
              row.getAs[Seq[String]]("files").map(Stats.stripScheme).toSet
            }
          } else {
            val probeTarget = table.readFilesWithFile(snap, candidates, schema)
              .withColumn("__prid", monotonically_increasing_id()).alias("target")
            val probe = probeTarget.join(src.alias("source"), condition, "inner")
              .select(col("target.__file").as("__f"), col("target.__prid").as("__p"))
              .agg(collect_set(col("__f")).as("files"),
                count(lit(1)).as("tocc"), count_distinct(col("__p")).as("trids"))
              .collect().head
            if (matchedClauses.nonEmpty &&
                probe.getAs[Long]("tocc") > probe.getAs[Long]("trids"))
              ambiguousMatch()
            guardChecked = true
            probe.getAs[Seq[String]]("files").map(Stats.stripScheme).toSet
          }
        snap.files.filter(f => touchedPaths.contains(table.absPath(f)))
      }
    mark("phase1 probe")
    val touched: Seq[AddFile] =
      if (!nmbsOn) matchTouched
      else {
        val seen = matchTouched.map(_.path).toSet
        matchTouched ++ nmbsCandidates.filterNot(f => seen.contains(f.path))
      }

    // r15 small-rewrite gate (verdict task 1): when the rewrite provably
    // fits half a target file (touched bytes + the materialized source's
    // estimate), the phase-2 write runs under size-driven AQE coalescing
    // ([[LakeTable.withSmallWriteSizing]]) so its shuffles stop emitting
    // one sub-MB file per core (33 files per 20 MB merge measured at
    // local[32]). Large rewrites — the 10M-row strain shape — keep their
    // parallel encode: the gate stays false.
    val smallRewrite: Boolean = {
      val touchedBytes = touched.map(_.size).sum
      val srcBytes = scala.util.Try(
        src.queryExecution.optimizedPlan.stats.sizeInBytes)
        .toOption.filter(_ >= 0)
        .map(b => if (b > BigInt(Long.MaxValue)) Long.MaxValue else b.toLong)
        .getOrElse(Long.MaxValue)
      val small = touchedBytes <= SmallRewriteBytes - srcBytes
      if (timingOn) System.err.println(
        s"[merge-timing] gate touchedBytes=$touchedBytes srcBytes=$srcBytes small=$small")
      small
    }

    // Insert side of the decomposed merge: source LEFT ANTI touched-target
    // keys, projected to the table schema, insert count observed on the
    // write job. The anti side needs only the target key columns: a source
    // row matching any touched-file row is by definition not an insert, and
    // rows in unprobed files cannot match (their key ranges were pruned
    // against the source bounds in phase 0). shuffle_hash pins the plan to
    // a shuffled hash join: the target keys are the build side and at scale
    // they must never be driver-broadcast (auto-broadcast picked them
    // whenever the narrow key scan's estimate fell under the threshold — a
    // 10M-key HashedRelation built on the driver per merge).
    def insertSide(): DataFrame = {
      val anti = matchedKeys match {
        case Some(mk) =>
          // The distinct matched source keys are known small (from the
          // probe, or collected by the DV path's first action): anti-join
          // against their broadcast — the touched files' keys are never
          // scanned a second time. A null source key compares null and is
          // kept, i.e. inserted — identical to the equi anti-join below.
          src.alias("source").join(broadcast(mk), srcKey === col("__k"), "left_anti")
            .alias("source")
        case None =>
          val tgtKeys = table.readFilesMasked(snap, touched, keySchema)
            .hint("shuffle_hash")
            .alias("target")
          src.alias("source").join(tgtKeys, condition, "left_anti")
            .alias("source")
      }
      anti.withColumn("__action", actionCol(lit("drop"))(None -> insertTagged))
    }
    def fastInsertSide(): (DataFrame, () => Long) = {
      // foreachBatch thread: the tagged anti-join is persisted once — the
      // write materializes it, the recount reads the cache instead of
      // re-scanning the touched keys + re-joining
      val counts = new WriteCounts(insertSide(),
        cache = true, Seq("inserted" -> sum(when(col("__action") =!= "drop", 1L).otherwise(0L))))(
        tagged => Map("inserted" -> tagged.filter(col("__action") =!= "drop").count()))
      // Invoked exactly once per merge — both call sites read it into the
      // commit metrics — so the release here never leaks the cache entry.
      (insertRows(counts.rows), () => try counts("inserted") finally counts.release())
    }
    // `rows` plus the insert side, unless no insert clause exists or the
    // probe proved every source row matched. Inserts carry no materialized
    // ids (allowMissingColumns fills null) — they resolve to the staged
    // file's fresh base range.
    def withInserts(rows: DataFrame): (DataFrame, () => Long) =
      if (notMatchedClauses.isEmpty || matchedSourceRows.contains(numSourceRows)) (rows, () => 0L)
      else {
        val (inserts, numInserted) = fastInsertSide()
        (rows.unionByName(inserts, allowMissingColumns = true), numInserted)
      }

    // Phase 2 fast path (low-shuffle merge): when the source keys are
    // provably distinct under a pure equi-condition, the full-outer join
    // decomposes into
    //   (a) touched-target LEFT OUTER source  -> updates / deletes / copies
    //   (b) source LEFT ANTI touched-keys     -> inserts
    // (a) broadcasts the (small) source build side, so the wide target rows
    // are scanned and rewritten IN PLACE — never shuffled. (b) shuffles only
    // the join keys. The full-outer plan shuffles every touched row full-
    // width through an exchange, which at the 10M-row strain shape doubled
    // merge wall time and its variance. Delta's photon merge does the same
    // decomposition ("low-shuffle merge").
    if (srcKeysDistinct && pureEqui && !cdfOn && !dvOn && !nmbsOn && matchedClauses.nonEmpty) {
      if (touched.isEmpty) {
        // Empty key-overlap slice (e.g. first CDC batch into an empty
        // table): no target row can match, the merge is pure insert. Short-
        // circuit — the left-outer leg over ZERO files collapses to an
        // empty relation during optimization and takes its CollectMetrics
        // node with it, so Observation.get would never return.
        val (inserts, numInserted: (() => Long)) =
          if (notMatchedClauses.isEmpty) (None, () => 0L)
          else { val (k, i) = fastInsertSide(); (Some(k), i) }
        val adds = inserts.map(r => table.stageWrite(r, snap.metadata.partitionColumns))
          .getOrElse(Nil)
        mark("phase2 insert-only write")
        val v = table.commitRewrite(snap, "MERGE", params, Nil, adds, evolution,
          mergeMetrics(0L, 0L, numInserted(), 0L))
        mark("commit")
        return v
      }
      // row tracking: target rows carry resolved ids through the join and
      // back out as materialized columns — updates/copies keep their id
      // (copies keep the commit version too); inserts land with null
      // materialized values and resolve to the new file's fresh range
      val rt = table.rowsTracked(snap, touched)
      val tgtF = table.dmlRows(snap, touched, schema, rt, positions = false).alias("target")
      val srcF = src.withColumn("__src", lit(true)).alias("source")
      val lo = tgtF.join(srcF, condition, "left_outer")
      // foreachBatch thread: the tagged join is persisted ONCE — the write
      // job materializes it and the metrics recount becomes a cache-local
      // aggregate instead of re-running the whole probe scan + join a
      // second time (r15: the second pass cost ~0.4 s per streaming
      // micro-batch merge at the q60 shape). Bounded by the touched slice +
      // batch, same class as the DV changed-set persist.
      val counts = WriteCounts.byTag(
        lo.withColumn("__action",
          actionCol(lit("copy"))(Some(col("source.__src").isNotNull) -> matchedTagged)),
        "updated" -> updateTags, "deleted" -> deleteTags, "copied" -> Seq("copy"))
      val keptA = counts.rows
        .filter(!col("__action").isin(deleteTags: _*))
        .select(schema.fieldNames.toIndexedSeq.map(outCol(matchedTagged, targetOf)) ++
          rtCarry(rt): _*)
      val (rewritten, numInserted) = withInserts(keptA)
      if (timingOn) System.err.println(rewritten.queryExecution.executedPlan.toString
        .linesIterator.filter(l => l.contains("Join") || l.contains("Exchange") ||
          l.contains("Broadcast")).mkString("[merge-plan]\n", "\n", ""))
      // small rewrites ride a REBALANCE shuffle (the one node AQE sizes by
      // bytes even ahead of a v1 write — plain join-output shuffles are
      // never coalesced there) so the write lands ~1 packed file instead
      // of one sub-MB file per core; the shuffle moves ≤ the gate's 64 MB
      val shaped = if (smallRewrite) rewritten.hint("rebalance") else rewritten
      val adds = table.withSmallWriteSizing(smallRewrite)(
        table.stageWrite(shaped, snap.metadata.partitionColumns))
      mark("phase2 low-shuffle write")
      try {
        val v = table.commitRewrite(snap, "MERGE", params, touched, adds, evolution,
          mergeMetrics(counts("updated"), counts("deleted"), numInserted(), counts("copied")))
        mark("commit")
        return v
      } finally counts.release()
    }

    // Deletion-vector fast path: same preconditions, but matched rows are
    // MASKED, not rewritten — so the left-outer join above degrades to an
    // INNER join (copies are simply left alone) and nothing full-width is
    // ever shuffled OR copied. The matched pairs are read once: the first
    // action over them ([[Dml.matchedPass]], map-side) brings the changed
    // rows to the driver for a local source over small touched files, and
    // materializes the persisted pairs otherwise. It also yields the
    // per-file mask bitmaps, the clause counts, the changed rows' bytes and
    // the matched source keys together (every matched key, also of rows no
    // clause fires on — a matched row never becomes an insert) whenever
    // the source's row count bounds them under BroadcastKeysMax. The
    // inserts are the source rows whose keys it did not return: for a
    // local source they are built once on the driver and shared by the
    // data write and the change feed; otherwise both anti-join the source
    // against the broadcast keys. The data write (updated rows + inserts)
    // and the change feed's pre, post and delete images read the changed
    // rows back, each as one file when the measured bytes fit one. The masks commit
    // through [[DmlSupport.commitMasks]].
    if (dvFast) {
      // row tracking: an updated row's resolved id rides into the appended
      // post-image file (the mask+append analogue of the DV UPDATE path);
      // the commit version is left to the new file's default (= this commit)
      val rt = table.rowsTracked(snap, touched)
      val tgtF = table.dmlRows(snap, touched, schema, rt, positions = true).alias("target")
      val matches = tgtF.join(src.alias("source"), condition, "inner")
        .withColumn("__action", actionCol(lit("copy"))(Some(lit(true)) -> matchedTagged))
      // a local source over small touched files brings the changed rows to
      // the driver; otherwise the pairs are persisted for the writes
      val viaDriver = local.isDefined && Dml.fitsDriver(touched)
      if (!viaDriver) matches.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val withKeys = notMatchedClauses.nonEmpty && numSourceRows <= BroadcastKeysMax
        val first = Dml.matchedPass(matches, updateTags, deleteTags,
          if (withKeys) Some(struct(pairs.map(p => col(s"source.${p._2}")): _*)) else None,
          if (viaDriver) Dml.DriverRowsBytes else 0L)
        // past a driver overflow, the small touched files are read again
        val changed = first.changed.getOrElse(matches)
        val noInserts = notMatchedClauses.isEmpty ||
          (withKeys && first.keys.size.toLong == numSourceRows)
        // the local insert side: tagged and projected over the unmatched
        // rows, folded to a local relation by the optimizer
        val localInserts: Option[(DataFrame, LocalRelation)] =
          if (noInserts || !withKeys) None
          else local.flatMap { l =>
            val ins = insertRows(Local.frame(spark, l.output,
              Dml.unmatchedRows(l, pairs.map(_._2), first.keys)).alias("source")
              .withColumn("__action", actionCol(lit("drop"))(None -> insertTagged)))
            Local.relation(ins).map(r => Local.frame(spark, r) -> r)
          }
        if (withKeys && !noInserts && localInserts.isEmpty) {
          // the keys as `srcKey` compares them: a bare value for one pair
          val dt = src.alias("source").select(srcKey.as("__k")).schema.head.dataType
          matchedKeys = Some(Local.frame(spark, Seq(AttributeReference("__k", dt)()),
            first.keys.map(k => if (pairs.size == 1) InternalRow(k.get(0, dt)) else InternalRow(k))))
        }
        val firing = (tags: Seq[String]) => changed.filter(col("__action").isin(tags: _*))
        val out = outCol(matchedTagged, targetOf) _
        val updatedRows = changedRows(firing(updateTags).select(changedCols(out, rt): _*), rt)
        // the inserts' write, their count, and their bytes (None: unknown)
        val (inserts, numInserted, insertBytes): (Option[DataFrame], () => Long, Option[Long]) =
          if (noInserts) (None, () => 0L, Some(0L))
          else localInserts match {
            case Some((ins, l)) => (Some(ins), () => l.data.size.toLong, Some(Local.bytes(l)))
            case None =>
              val (ins, n) = fastInsertSide()
              (Some(ins), n, None)
          }
        def packed(df: DataFrame, pairBytes: Long): DataFrame =
          insertBytes.fold(df)(b => table.packSmall(df, pairBytes + b))
        val adds = table.stageWrite(packed(inserts.fold(updatedRows)(i =>
          updatedRows.unionByName(i, allowMissingColumns = true)), first.changedBytes),
          snap.metadata.partitionColumns)
        mark("phase2 dv low-shuffle write")
        val sidecars = if (!cdfOn) Nil else {
          val tgtId: Seq[Column] = if (!rt) Nil else Seq(
            col(s"target.${RowTracking.MatRowId}").as(Cdf.RowIdCol))
          val before = schema.fieldNames.toIndexedSeq.map(c => col(s"target.$c").as(c))
          val after = schema.fieldNames.toIndexedSeq.map(out)
          val images = Dml.cdfImage(firing(updateTags), before ++ tgtId, "update_preimage")
            .unionByName(Dml.cdfImage(firing(updateTags), after ++ tgtId, "update_postimage"))
            .unionByName(Dml.cdfImage(firing(deleteTags), before ++ tgtId, "delete"))
          val insertImage = if (noInserts) None else Some(Dml.cdfImage(
            localInserts.map(_._1).getOrElse(insertRows(insertSide())),
            schema.fieldNames.toIndexedSeq.map(col) ++
              (if (rt) Seq(lit(null).cast(LongType).as(Cdf.RowIdCol)) else Nil),
            "insert"))
          table.writeCdfSidecar(packed(insertImage.fold(images)(images.unionByName(_)),
            2 * first.changedBytes))
        }
        val v = table.commitMasks(snap, "MERGE", params, touched, first.masks, adds,
          evolution ++ sidecars,
          _ => mergeMetrics(first.updated, first.deleted, numInserted(), 0L))
        mark("commit")
        return v
      } finally if (!viaDriver) matches.unpersist(): Unit
    }

    // Phase 2: full-outer join of source vs touched rows; untouched files
    // are left alone entirely.
    // The join is evaluated twice (guard/metrics, then the rewrite) instead
    // of persisted: the guard projection only references the action tag and
    // target rid, so Catalyst prunes its evaluation down to the key columns
    // — far cheaper than materializing the full-width join, locally and at
    // scale. The source side is persisted above, so both evaluations see
    // identical source rows; the target side is immutable parquet.
    // Under deletion vectors, target rows keep their reader positions
    // (__file/__idx): matched rows are masked rather than rewritten, and
    // only updated + inserted rows are written — merge write volume becomes
    // proportional to CHANGED rows, not to the touched files' size.
    // row tracking: resolved ids ride the full-outer join as target-side
    // columns; they are null on insert (source-only) rows, which is
    // exactly the "resolve to the new file's fresh range" representation
    val rtG = table.rowsTracked(snap, touched)
    val tgtT = table.dmlRows(snap, touched, schema, rtG, positions = dvOn)
      .withColumn("__rid", monotonically_increasing_id())
      .withColumn("__tgt", lit(true)).alias("target")
    val srcT = src.withColumn("__src", lit(true)).alias("source")
    val joinedRaw = tgtT.join(srcT, condition, "full_outer")
    // With CDF on, the join feeds four sidecar selections plus guard and
    // rewrite — persist it. Without CDF, the guard's projection prunes to
    // the key columns, so re-evaluating beats materializing the full width.
    val joined =
      if (cdfOn) joinedRaw.persist(StorageLevel.MEMORY_AND_DISK) else joinedRaw
    var dvChangedRef: Option[DataFrame] = None
    var countsRef: Option[WriteCounts] = None
    try {
      val matched = col("target.__tgt").isNotNull && col("source.__src").isNotNull
      val srcOnly = col("target.__tgt").isNull
      val tgtOnly = col("target.__tgt").isNotNull && col("source.__src").isNull

      // (duplicate-source-match guard is fused into the rollup metrics job
      // below — one shuffle instead of two)

      // Which clause fires per row: "m<i>" / "i<j>" / "u<k>" / "x<k>" /
      // "copy" / "drop".
      val acted = joined.withColumn("__action",
        actionCol(when(srcOnly, lit("drop")).otherwise(lit("copy")))(
          Some(matched) -> matchedTagged, Some(srcOnly) -> insertTagged,
          Some(tgtOnly) -> nmbsTagged))
      val out = outCol(matchedTagged ++ insertTagged ++ nmbsTagged, targetOf) _

      // Guard fallback for the small-table path where the fused probe was
      // skipped: one narrow aggregation (column-pruned to the join keys).
      // Skipped entirely when the condition is a pure equi-conjunction and
      // the source keys are distinct — ambiguity is then impossible, which
      // the phase-0 source pass already established for free.
      if (!guardChecked && !srcKeysDistinct && matchedClauses.nonEmpty) {
        val r = joined
          .select(matched.as("__m"), col("target.__rid").as("__trid"))
          .filter(col("__m"))
          .agg(count(lit(1)).as("tocc"), count_distinct(col("__trid")).as("trids"))
          .collect().head
        if (r.getAs[Long]("tocc") > r.getAs[Long]("trids")) ambiguousMatch()
      }

      // Per-action metrics ride the rewrite job itself (a CollectMetrics
      // node ahead of the keep-filter) — no separate metrics aggregation
      // pass over the join. On a foreachBatch thread the tagged full-outer
      // join is persisted once so the recount is cache-local instead of a
      // second join pass; released right after the metrics are read
      // (before the commit).
      val counts = WriteCounts.byTag(acted,
        "updated" -> updateTags, "deleted" -> deleteTags, "inserted" -> insertTags,
        "copied" -> Seq("copy"), "nmbsUpdated" -> nmbsUpdateTags,
        "nmbsDeleted" -> nmbsDeleteTags)
      countsRef = Some(counts)

      // DV mode keeps only the rows that change (updates + inserts); the
      // rewrite mode keeps everything except dropped/deleted rows (copies
      // included, since their file is being replaced wholesale).
      // In DV mode the changed set (updates + deletes + inserts) is small by
      // construction — persist it ONCE so the data write and the mask-row
      // extraction don't each re-evaluate the full-outer join over the
      // touched files (a third full-table pass measured at ~40% of DV-merge
      // wall time at the 10M-row strain shape).
      val keepPred =
        if (dvOn) col("__action").isin((updateTags ++ insertTags): _*)
        else !col("__action").isin(("drop" +: deleteTags): _*)
      val dvChanged =
        if (!dvOn) None
        else Some(counts.rows
          .filter(col("__action").isin((updateTags ++ deleteTags ++ insertTags): _*))
          .select(changedCols(out, rtG): _*)
          .persist(StorageLevel.MEMORY_AND_DISK))
      dvChangedRef = dvChanged
      val rewritten = dvChanged match {
        case Some(ch) => changedRows(ch.filter(keepPred), rtG)
        case None => counts.rows.filter(keepPred)
          .select(schema.fieldNames.toIndexedSeq.map(out) ++ rtCarry(rtG): _*)
      }

      val sidecars = if (!cdfOn) Nil else {
        // row tracking: pre/post/delete images carry the TARGET row's
        // resolved id (updates keep ids); insert images are null — a fresh
        // row's id is assigned at commit, after this sidecar is staged
        val tgtId: Seq[Column] = if (!rtG) Nil else Seq(
          col(s"target.${RowTracking.MatRowId}").as(Cdf.RowIdCol))
        val nullId: Seq[Column] = if (!rtG) Nil else Seq(
          lit(null).cast(LongType).as(Cdf.RowIdCol))
        def firing(tags: Seq[String]) = acted.filter(col("__action").isin(tags: _*))
        val before = schema.fieldNames.toIndexedSeq.map(c => col(s"target.$c").as(c))
        val after = schema.fieldNames.toIndexedSeq.map(out)
        table.writeCdfSidecar(
          Dml.cdfImage(firing(updateTags), before ++ tgtId, "update_preimage")
            .unionByName(Dml.cdfImage(firing(updateTags), after ++ tgtId, "update_postimage"))
            .unionByName(Dml.cdfImage(firing(deleteTags), before ++ tgtId, "delete"))
            .unionByName(Dml.cdfImage(firing(insertTags), after ++ nullId, "insert")))
      }

      // same REBALANCE shaping as the low-shuffle path: small rewrites pack
      // into ~one file instead of one per core (see the gate above)
      val shapedG = if (smallRewrite) rewritten.hint("rebalance") else rewritten
      val adds = table.withSmallWriteSizing(smallRewrite)(
        table.stageWrite(shapedG, snap.metadata.partitionColumns))
      val metrics = mergeMetrics(counts("updated"), counts("deleted"), counts("inserted"),
        if (dvOn) 0L else counts("copied")) ++
        (if (nmbsOn) Map(
          "numTargetRowsNotMatchedBySourceUpdated" -> counts("nmbsUpdated"),
          "numTargetRowsNotMatchedBySourceDeleted" -> counts("nmbsDeleted"))
        else Map.empty)
      if (dvOn) {
        // matched (updated or deleted) target rows join their files' vectors
        // — read from the persisted changed set, not the join
        val maskedRows = dvChanged.get
          .filter(col("__action").isin((updateTags ++ deleteTags): _*))
          .select(col("__file"), col("__idx"))
        table.maskAndCommit(snap, "MERGE", params, touched, maskedRows, adds,
          evolution ++ sidecars, _ => metrics)
      } else {
        table.commitRewrite(snap, "MERGE", params, touched, adds,
          evolution ++ sidecars, metrics)
      }
    } finally {
      countsRef.foreach(_.release())
      if (cdfOn) joined.unpersist(): Unit
      dvChangedRef.foreach(_.unpersist(): Unit)
    }
    } finally {
      if (local.isEmpty) src.unpersist()
      prevPreferSmj match {
        case Some(v) => spark.conf.set("spark.sql.join.preferSortMergeJoin", v)
        case None => spark.conf.unset("spark.sql.join.preferSortMergeJoin")
      }
    }
  }
}
