package graft.migrate

import java.nio.charset.StandardCharsets
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.log.{AddFile, ColStats, DeletionVector, DvBitmap, DvDescriptor, DvStore}
import graft.table.LakeTable

/** Zero-copy import of a Delta Lake table (the inverse of the reference's
  * migration direction — `CONVERT` pointed at a directory with a
  * `_delta_log` replays the DELTA log instead of listing parquet files).
  *
  * The public Delta protocol spec defines the log as newline-delimited JSON
  * actions under `_delta_log/<20-digit-version>.json` plus parquet
  * checkpoints (`<v>.checkpoint.parquet`, classic single or multi-part)
  * named by `_last_checkpoint`. This importer reconstructs the LIVE
  * snapshot — latest metaData/protocol, the add set minus removes — and
  * materializes it as graft's own initial commit in `_txlog/`, sharing
  * every data file in place. A 100 TB Delta table imports in
  * driver-metadata time: one checkpoint read (a Spark job over metadata
  * parquet) plus the JSON tail.
  *
  * Honest scope — refuse rather than silently mis-read:
  *  - PARTITIONED tables: Delta stores partition values only in the log
  *    and directory names, never in the data files; graft's read model
  *    keeps partition columns as real data columns. The zero-copy import
  *    would produce rows with missing columns → refuse, pointing at
  *    [[convertRewrite]] (one scan + broadcast tuple join, O(data) once).
  *  - LIVE deletion vectors IMPORT: descriptors parse per the public spec
  *    ([[graft.log.DeltaDv]] — z85 packing, CRC-checked `.bin` ranged
  *    reads, the portable RoaringBitmapArray container), which is the
  *    engine's own vector form, so they are copied as they are.
  *    Absolute-path (`p`) vectors refuse like absolute add paths.
  *  - Column mapping `id`/`name` modes IMPORT: `delta.columnMapping.id`
  *    translates to the `parquet.field.id` resolution graft's own mapped
  *    tables use ([[graft.log.ColumnIds]]), after a footer gate proves
  *    every live file actually carries agreeing ids (an id-less file —
  *    possible in upgraded `name`-mode tables — refuses toward
  *    [[convertRewrite]], which resolves by physical NAME instead).
  *    Stats and partition values translate from their physical-name keys.
  *  - Reader features beyond what this engine honors (unknown future
  *    features) → refuse loudly, exactly like the engine's own
  *    forward-compat gate. `v2Checkpoint` IS honored: UUID-named json or
  *    parquet manifests, classic-named v2 manifests, and
  *    `_delta_log/_sidecars/` action files all replay.
  *
  * Stats carry over only where Delta's JSON encoding is EXACT:
  * integer/long/float/double/decimal/boolean/date bounds convert to the
  * canonical encodings (numbers parse as BigDecimal so decimals never
  * round through a double); string and timestamp bounds are DROPPED —
  * Delta truncates long strings and rounds timestamp maxima up to the
  * millisecond, both directions safe for skipping but wrong for graft's
  * metadata-only EXACT min/max answers, and a bound that cannot be
  * trusted exactly is a bound this engine must not import. Null counts
  * always carry over; files with no stats at all fall back to one
  * driver-side footer read (the CONVERT path's machinery). Pruning on
  * the dropped columns heals as files rewrite under graft.
  */
object DeltaImport {

  private val mapper = new ObjectMapper()
    .configure(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)

  /** Reader features this engine can honor on import (the live-DV and
    * column-mapping-mode gates below are the real guards; the feature
    * names alone do not make a table unreadable). */
  private val SupportedReaderFeatures =
    Set("timestampNtz", "columnMapping", "deletionVectors", "v2Checkpoint",
      // honored since r13: the per-field delta.typeChanges record
      // translates onto graft.typeChanges (translateTypeChanges), so the
      // engine upcasts old files and keeps stat/bloom honesty
      "typeWidening")

  /** Table property recording the highest Delta version the import/sync
    * has consumed. */
  val SourceVersionKey = "graft.delta.sourceVersion"

  /** Followable-rewrite destination properties ([[convertRewrite]] with
    * `follow = true`; see [[Rewrite]]). */
  val RewriteFollowKey = "graft.delta.rewriteFollow"
  val RewriteSourceKey = "graft.delta.rewriteSource"

  /** The Delta log reads ride the engine's [[graft.log.LogStore]] seam
    * (swap [[graft.log.LogStore.default]] to route ALL import IO through
    * an object store); data parquet, checkpoint parquet, and DV sidecars
    * are data-plane reads through Spark/Hadoop FS, object-store capable
    * by construction. */
  private def store: graft.log.LogStore = graft.log.LogStore.default

  def isDeltaTable(dir: String): Boolean =
    store.listFileNames(Paths.get(dir, "_delta_log")).nonEmpty

  /** Incremental catch-up after [[convert]]: apply the Delta commits that
    * landed in `_delta_log` SINCE the last consumed version as ONE graft
    * commit (net adds/removes across the range — a file added and removed
    * within it never materializes), advancing [[SourceVersionKey]] in the
    * same commit so the operation is atomic and a re-run is a no-op. The
    * continuous-migration shape: convert once, sync on a cadence, cut over
    * when ready. Per-commit cost is O(new JSON lines) driver work.
    *
    * Same honesty gates as the import, plus: a mid-stream `metaData`
    * whose schema differs from the table's FOLLOWS when [[Evolution]]
    * allows it (mapped: renames + added nullable columns by field id;
    * name-bound: added nullable columns only) and refuses everything else
    * as the cut-over moment. A gap in the JSON
    * chain (the Delta side checkpointed and CLEANED past us) falls back to
    * [[snapshotDiffSync]] when a checkpoint covers it — O(checkpoint rows)
    * for that one sync instead of a re-import — and refuses only when the
    * intervening state is genuinely unreconstructable. Returns the new
    * graft version (the current one when there was nothing to sync). */
  def sync(spark: SparkSession, dir: String): Long = {
    val (t, from) = Mirror.mirrorAt(spark, dir, Follow)
    val root = Paths.get(dir).toAbsolutePath.normalize
    val logDir = root.resolve("_delta_log")
    val newer = commitVersions(store.listFileNames(logDir)).filter(_ > from)
    // "nothing newer" is only "up to date" when the CHECKPOINT agrees: a
    // source that checkpointed past `from` and cleaned the JSON tail has
    // advanced invisibly, and reporting freshness would be silently stale
    val checkpointVersion = lastCheckpoint(logDir).map(_._1)
    val chainIntact = newer.nonEmpty && newer.head == from + 1 &&
      newer.zip(newer.tail).forall { case (a, b) => b == a + 1 }
    if (!chainIntact) {
      // the source checkpointed and cleaned the JSON tail past us. With a
      // checkpoint AHEAD of the consumed version the state is still fully
      // reconstructable — fall back to a SNAPSHOT DIFF (the Iceberg sync's
      // shape): replay the full current state and apply the net difference.
      // Cost degrades from O(new JSON lines) to O(checkpoint rows) for
      // this one sync — still zero data IO.
      // (a checkpoint at or below `from` cannot cover the missing
      // commits, so cv > from is exactly the reconstructable case)
      if (checkpointVersion.exists(_ > from))
        return snapshotDiffSync(spark, t, root, from, Mirror.syncOps("Delta"))
      if (newer.isEmpty) return t.version // genuinely up to date
      throw new IllegalArgumentException(
        s"Delta log advanced past the retained JSON tail (have $newer " +
          s"after consumed $from) and no checkpoint covers the gap — " +
          "the intervening state is unreconstructable; re-import")
    }

    val snap0 = t.snapshot()
    val schema = snap0.schema
    // a column-mapped import keeps resolving by field id; the physical
    // names (kept in the schema metadata by translateMapping) key the
    // incoming commits' stats
    val mapped = graft.log.ColumnIds.mapped(schema)
    // FINAL disposition per path — last action wins, exactly like the log
    // replay itself. (Pairwise netting is wrong: remove -> add -> remove of
    // one path must still REMOVE the pre-existing live file, but netting
    // the second remove against the in-range add silently dropped it —
    // caught by DeltaImportFuzzSpec.)
    val state = mutable.LinkedHashMap.empty[String, Option[AddInfo]]
    // Delta-side configuration changes propagate: the LAST in-range
    // metaData's configuration merges into the sync commit's properties
    // (adds and updates; a Delta-side UNSET does not remove the graft key —
    // provenance of non-delta-prefixed keys is unknowable, so removals are
    // a manual unsetProperties after cut-over)
    var syncedConf: Option[Map[String, String]] = None
    // r13: SOURCE-side schema evolution follows when [[Evolution]] allows
    // it (mapped: renames + added nullable columns; name-bound: adds
    // only). Each in-range metaData must be followable from the PREVIOUS
    // effective schema; the LAST one becomes the sync commit's schema.
    var effSchema: StructType = schema
    // stat ERA per add (r13 verdict task 4): `era` bumps on every REAL
    // in-range schema change, and each add records the era it was written
    // under, so a range that carries a widening no longer skips heal tags
    // on ALL its files — files written AFTER the change (the common
    // cadence shape: widen at v, keep writing v+1..v+k) tag on arrival
    // and answer exact bounds immediately. metaData is applied FIRST
    // within each version regardless of line order: a commit's adds
    // conform to its own metaData (the transaction that changed the
    // schema wrote them), so their era is the post-change schema even if
    // the writer serialized the add lines first.
    var era = 0
    newer.foreach { v =>
      val nodes = jsonActions(logDir.resolve(f"$v%020d.json"))
      nodes.filter(_.has("metaData")).foreach { n =>
          val m = n.get("metaData")
          val (incoming, evolved) = incomingSchema(effSchema, mapped,
            structOf(m.get("schemaString").asText()), s"Delta commit $v")
          if (evolved) {
            effSchema = incoming
            era += 1
          }
          // a same-schema REPLACE that introduces partitioning would make
          // the new adds' values live only in the log — the import-time
          // refusal, re-checked mid-stream
          val pcols = strings(m, "partitionColumns")
          require(pcols.isEmpty,
            s"Delta commit $v repartitions the table " +
              s"(${pcols.mkString(", ")}) — not syncable in place; " +
              "re-import with convertRewrite")
          syncedConf = Some(confOf(m))
      }
      nodes.foreach { n =>
        if (n.has("protocol")) {
          val unknown = strings(n.get("protocol"), "readerFeatures").toSet --
            SupportedReaderFeatures
          require(unknown.isEmpty, s"Delta commit $v enables reader " +
            s"feature(s) ${unknown.toSeq.sorted.mkString(", ")} this " +
            "importer does not honor")
        }
        // DV descriptors net like everything else: a mask written at v
        // and purged at v+k inside the range never decodes — only the
        // FINAL disposition's masks materialize as graft vectors
        if (n.has("add"))
          state.update(decodePath(n.get("add").get("path").asText()),
            Some(addInfoOf(n.get("add"), era))): Unit
        if (n.has("remove"))
          state.update(decodePath(n.get("remove").get("path").asText()), None): Unit
      }
    }
    val removes = state.collect { case (p, None) => p }.toSeq
    // the range's net adds: the footer gate and stats bind against the
    // EFFECTIVE (possibly evolved) schema — new files written after an
    // in-range ADD COLUMN carry it
    val range = new DeltaFiles(root, state.collect { case (p, Some(i)) => p -> i })
    val conf = syncedConf.getOrElse(Map.empty[String, String])
    val evolvedSync = effSchema != schema
    // stat-era heal tags (r13 verdict task 4 — replacing the conservative
    // whole-range skip): each add resolved its ERA against the in-range
    // schema changes, so files written AT OR AFTER the range's LAST change
    // were written by the source under the FINAL types — they tag and
    // answer exact bounds on arrival, even in a range that carries the
    // widening itself. Pre-change adds stay untagged (conservative: their
    // stats were collected under the old types).
    val syncTags = Mirror.syncTags(snap0, effSchema, evolvedSync, mapped)
    val (lastEraAdds, priorEraAdds) = range.adds.keys.toSeq.partition(range.adds(_).era == era)
    def bind(paths: Seq[String], tags: Map[String, String]) =
      Mirror.liveAdds(spark, range, paths, effSchema, Some(mapped), tags)._2
    // the FINAL disposition's live descriptors become graft vectors; a final
    // re-add WITHOUT a descriptor is a Delta-side purge — it must CLEAR
    // any graft vector the path carried
    Mirror.NetSync("Delta",
      Map("fromVersion" -> from.toString, "toVersion" -> newer.max.toString),
      consumed = Map(SourceVersionKey -> newer.max.toString),
      // a racing sync already consumed past `from`
      alreadyConsumed = _.get(SourceVersionKey).exists(_.toLong > from),
      bind(lastEraAdds, syncTags) ++ bind(priorEraAdds, Map.empty), range.masks(spark),
      clearable = range.adds.collect { case (p, i) if i.dv.isEmpty => p }.toSet,
      removes, effSchema, evolvedSync, mapped,
      maxIdFloor = if (mapped && evolvedSync) Some(maxColumnIdOf(conf)) else None,
      sourceProps = LakeTable.normalizeProps(conf))
      .commit(t, snap0)
  }

  /** A metaData schema as the mirror reads it — a mapped source's
    * Delta-form schema translated by field id when the mirror is mapped
    * too — and whether it EVOLVES `base`, refusing what [[Evolution]]
    * cannot follow. Compared MODULO typeChanges versions: a followed
    * widening records graft's commit version on the mirror while the
    * source's delta.typeChanges carries the Delta version, so an
    * UNCHANGED schema in a later metaData line (even a pure property
    * change) must not classify as an evolution — that misclassification
    * skipped the heal tags on every range with any metaData, and
    * stat/bloom trust healed slower than documented whenever the source
    * emitted periodic metaData. */
  private def incomingSchema(base: StructType, mapped: Boolean,
      deltaSchema: StructType, where: String): (StructType, Boolean) = {
    val sourceMapped = deltaSchema.fields.nonEmpty &&
      deltaSchema.fields.forall(_.metadata.contains(MappingIdKey))
    val incoming = translateTypeChanges(
      if (mapped && sourceMapped) translateMapping(deltaSchema)
      else deltaSchema)
    val evolved = graft.log.TypeWidening.ignoringChangeVersions(incoming) !=
      graft.log.TypeWidening.ignoringChangeVersions(base)
    if (evolved) {
      // a binding-mode flip is never followable: a name-bound mirror
      // cannot see a mapped source's renames (new files' PHYSICAL columns
      // would silently read null), and a mapped mirror cannot follow a
      // source that dropped its ids
      require(mapped == sourceMapped,
        s"$where changes the schema AND the column-mapping mode differs " +
          "between source and mirror — re-import")
      Evolution.requireFollowable(base, incoming, mapped, "Delta")
    }
    (incoming, evolved)
  }

  /** Snapshot-diff fallback for [[sync]] when the source checkpointed and
    * CLEANED the JSON tail past the consumed version: the incremental
    * replay is impossible, but the checkpoint still reconstructs the full
    * current state, so the shared [[Mirror.snapshotSync]] applies the net
    * difference as one commit — O(checkpoint rows) for this one sync, the
    * price of the lost tail, and the full mask state rebuilds. A replay
    * racing `_last_checkpoint` that resolves at or behind the consumed
    * version is a no-op (ADVICE r12). An evolved tail cannot resolve
    * per-file stat eras from a checkpoint, so its files stay untagged
    * unless every one is stat-less (its footer stats read under the
    * current types).
    * `syncOps` is unused: the core derives the same set from the format. */
  private[migrate] def snapshotDiffSync(spark: SparkSession, t: LakeTable, root: Path,
      from: Long, syncOps: Set[String]): Long = {
    val st = replay(spark, root)
    Mirror.snapshotSync(spark, t, st, Map("fromVersion" -> from.toString,
      "toVersion" -> st.sourceVersion.toString, "mode" -> "snapshot-diff"))
  }

  /** One live add's replayed attributes. `era` counts the REAL in-range
    * schema changes seen before this add was (last) written — [[sync]]'s
    * per-file stat-era resolution (adds at the final era tag for heal;
    * earlier eras stay conservatively untagged). */
  private case class AddInfo(size: Long, mtime: Long, statsJson: Option[String],
      dv: Option[DvDescriptor], partitionValues: Map[String, String],
      era: Int = 0)

  /** A set of live Delta adds under `root`, by final disposition: a
    * replayed snapshot's, or one sync range's net adds. Only spec-shaped
    * deletion vectors may ride them: an absolute-path ('p') vector does not
    * live under the table root, so it refuses like an absolute add path —
    * here, where every import and sync builds its live set. Log stats are
    * trusted where exact; stat-less files and a mapped binding's gate read
    * footers. */
  private class DeltaFiles(val root: Path, val adds: mutable.LinkedHashMap[String, AddInfo])
      extends Mirror.FileSource {
    adds.foreach { case (p, i) => i.dv.foreach(d =>
      require(d.storageType == "u" || d.storageType == "i",
        s"deletion vector for $p under $root has storageType " +
          s"'${d.storageType}' — only file-relative ('u') and inline ('i') " +
          "vectors live under the table root and can import")) }
    override def physicalOf(schema: StructType): Map[String, String] =
      if (graft.log.ColumnIds.mapped(schema)) physicalNamesOf(schema) else Map.empty
    override def needsFooter(path: String): Boolean = adds(path).statsJson.isEmpty
    /** Exact-only log stats, else the footer's, else a counted read. */
    def addFiles(spark: SparkSession, paths: Seq[String], schema: StructType,
        footers: Map[String, (Long, Map[String, ColStats])],
        tags: Map[String, String]): Seq[AddFile] = {
      val phys = physicalOf(schema)
      paths.map { path =>
        val info = adds(path)
        val (numRecords, colStats) = info.statsJson
          .map(parseDeltaStats(_, schema, phys)).filter(_._1 >= 0)
          .orElse(footers.get(path))
          .getOrElse((spark.read.parquet(root.resolve(path).toString).count(),
            Map.empty[String, ColStats]))
        AddFile(path = path, partitionValues = Map.empty, size = info.size,
          numRecords = numRecords, stats = colStats,
          modificationTime = info.mtime,
          tags = if (tags.isEmpty) null else tags)
      }
    }
    /** The convert is in place, so a `u` descriptor's `.bin` is under the
      * table root and an `i` one carries its bytes: each descriptor is
      * copied as it is — no vector is read or written at import, and a
      * later read fetches it exactly as a Delta reader would. */
    def masks(spark: SparkSession): Seq[DeletionVector] =
      adds.toSeq.collect { case (p, i) if i.dv.isDefined => DeletionVector.of(p, i.dv.get) }
  }

  /** A replayed Delta source: its live adds at `sourceVersion` and the
    * latest metaData. */
  private class DeltaSnapshot(root: Path, adds: mutable.LinkedHashMap[String, AddInfo],
      val sourceVersion: Long, val tableId: String, schemaString: String,
      configuration: Map[String, String], val partitionColumns: Seq[String])
      extends DeltaFiles(root, adds) with Mirror.ForeignSnapshot {
    def keys: Mirror.FollowKeys = Follow
    private def mapped = configuration.getOrElse("delta.columnMapping.mode", "none") != "none"
    /** id/name column mapping both translate to graft's by-field-id
      * resolution; delta.typeChanges translates onto graft's record. */
    lazy val schema: StructType = translateTypeChanges(
      if (mapped) translateMapping(structOf(schemaString)) else structOf(schemaString))
    def files: Seq[String] = adds.keys.toSeq
    /** The followable state: the live set keyed by each file's deletion
      * vector signature, at the source version. */
    lazy val point: Mirror.SourcePoint = Mirror.SourcePoint(Seq(sourceVersion),
      Map(SourceVersionKey -> sourceVersion.toString))(
      Mirror.Ledger(adds.view.mapValues(i => dvSignature(i.dv)).toMap))
    /** delta.* properties carry over under the engine's own delta-prefix
      * normalization (appendOnly, retention windows, …). */
    def properties: Map[String, String] = LakeTable.normalizeProps(configuration)
    def maxColumnId: Long = maxColumnIdOf(configuration)

    /** Partition values live only in the log and directory names, never in
      * the data files, and graft's read model keeps partition columns as
      * real data columns — a zero-copy import would read them missing. */
    def gateInPlace(): Unit = require(partitionColumns.isEmpty,
      s"$root is a PARTITIONED Delta table (partition columns " +
        s"${partitionColumns.mkString(", ")} live only in the log, not " +
        "the data files) — import with convertRewrite instead")
    def incoming(base: StructType, mapped: Boolean): (StructType, Boolean) =
      incomingSchema(base, mapped, structOf(schemaString),
        "the Delta source's cleaned tail")

    // The rewrite layout. Column-mapped sources rewrite fine: the scan
    // resolves the files' PHYSICAL column names (no field ids required —
    // the remedy for id-less name-mode files) and the projection restores
    // logical names. The destination is a fresh native table, NOT mapped
    // to the source: it drops the source's mapping config, and is written
    // under the CURRENT types, so neither physical names, ids nor the
    // type-change history carry over (fresh ids stamp at creation; new
    // stats are exact by construction).
    lazy val rewriteProps: Map[String, String] = LakeTable.normalizeProps(
      configuration.view.filterKeys(!_.startsWith("delta.columnMapping.")).toMap)
    lazy val rewriteSchema: StructType = graft.log.ColumnIds.strip(
      StructType(schema.fields.map(f => f.copy(metadata = new MetadataBuilder()
        .withMetadata(f.metadata).remove(MappingPhysKey)
        .remove(graft.log.TypeWidening.ChangesKey).build()))))
    private lazy val physOfSchema = physicalOf(schema)
    def physName(logical: String): String = physOfSchema.getOrElse(logical, logical)
  }

  private def maxColumnIdOf(conf: Map[String, String]): Long =
    conf.get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L)

  /** Import `<dir>`'s Delta log as a graft table IN PLACE (idempotent: an
    * already-imported directory returns the existing graft table). */
  def convert(spark: SparkSession, dir: String): LakeTable =
    Mirror.convert(spark, dir, replay(spark, _))(st =>
      Some(graft.log.ColumnIds.mapped(st.schema)))

  /** Rewrite-import of a Delta table (partitioned, or any table the
    * zero-copy convert refuses for data-layout reasons) into a NEW graft table at
    * `destDir`: partition values live only in the Delta log (and directory
    * names), never in the data files, so a zero-copy import cannot work —
    * instead ONE scan reads every live file, a BROADCAST join attaches each
    * file's partition tuple from the log (`_metadata.file_path` keyed — no
    * shuffle of the data, no per-partition scan fan-out), values cast to
    * the schema's declared types, and the result writes as a native graft
    * table partitioned by the same columns. O(data) once — the migration
    * rewrite the in-place refusal points at. The same honesty gates apply
    * (DVs, column mapping, reader features).
    *
    * With `follow = true` the destination is built to be SYNCABLE by
    * [[syncRewrite]] — the convert/sync/cut-over story for partitioned
    * Delta sources ([[Mirror.convertRewrite]]): rows carry the log-relative
    * file and their PHYSICAL position in it, before any deletion-vector
    * filtering (DV growth deletes by it later); the ledger keys each file
    * by its DV signature. */
  def convertRewrite(spark: SparkSession, srcDir: String, destDir: String): LakeTable =
    convertRewrite(spark, srcDir, destDir, follow = false)

  def convertRewrite(spark: SparkSession, srcDir: String, destDir: String,
      follow: Boolean): LakeTable = {
    // absolutized + normalized: the join key below must match the path
    // strings Spark reports for the planned files, and a relative or
    // non-normalized srcDir would build keys NOTHING matches
    val root = Paths.get(srcDir).toAbsolutePath.normalize
    // works for UNPARTITIONED sources too: the zero-copy convert is the
    // better path there, but id-less name-mode files refuse it (footer
    // gate) and this rewrite is their only remedy — the partition-tuple
    // join simply stands down
    val st = replay(spark, root)
    Mirror.convertRewrite(spark, st, destDir, follow, st.rewriteSchema,
      st.partitionColumns, st.rewriteProps)(rewriteRows(spark, st, _, follow))
  }

  /** Incremental catch-up for a FOLLOWABLE rewrite destination
    * ([[convertRewrite]] with `follow = true`) — the continuous-migration
    * shape for the partitioned Delta sources the in-place [[sync]]
    * refuses, on the shared skeleton ([[Mirror.syncRewrite]]): source
    * files REMOVED since the last sync leave by a lineage-keyed
    * merge-DELETE; files whose DELETION VECTOR changed leave the same way
    * and rewrite-append under the CURRENT vector; NEW files rewrite-append
    * with their log partition tuples re-injected, advancing the consumed
    * version in the SAME commit.
    *
    * Schema, partition-layout, and configuration evolutions stay CUT-OVER
    * refusals for a rewrite destination (unlike the in-place sync, which
    * follows some): its layout was derived from the import-time metadata.
    * Unlike the in-place sync (one net commit), a catch-up is up to two
    * destination commits. Returns the destination's version. */
  def syncRewrite(spark: SparkSession, srcDir: String, destDir: String): Long =
    Mirror.syncRewrite(spark, srcDir, destDir, Follow, replay(spark, _)) { (dest, st, _) =>
      require(st.partitionColumns == dest.snapshot().metadata.partitionColumns,
        s"the Delta source's partition columns changed " +
          s"(${st.partitionColumns.mkString(", ")}) — a rewrite destination " +
          "cannot follow a re-layout; re-import")
      Mirror.requireSameColumns(dest, Follow, st.rewriteSchema)
      new Mirror.RewriteSteps {
        def rows(d: Mirror.LedgerDiff) = rewriteRows(spark, st, d.back, follow = true)
      }
    }

  private val Follow = Mirror.FollowKeys("Delta", RewriteFollowKey,
    RewriteSourceKey, SourceVersionKey, Seq(Mirror.SrcFileCol, Mirror.SrcPosCol))

  /** The rewrite read over `subset` of the live files: scan by PHYSICAL
    * names ([[Mirror.scanFiles]] guards exactly that subset), drop
    * DV-masked rows ([[DvBitmap.dropMasked]], the engine's own two-tier
    * masked read), re-inject partition tuples from the log
    * ([[Mirror.attachPerFile]]), project to logical names — plus, when
    * `follow`, the lineage columns captured BEFORE the DV filter (the
    * physical row index is what later DV growth deletes by) and the
    * lineage-clustered shuffle. */
  private def rewriteRows(spark: SparkSession, st: DeltaSnapshot,
      subset: Seq[String], follow: Boolean): DataFrame = {
    val root = st.root
    val pcols = st.partitionColumns
    def abs(p: String) = root.resolve(p).toString
    def isPart(f: StructField) = pcols.exists(_.equalsIgnoreCase(f.name))
    // the scan asks for the files' PHYSICAL column names with NO field-id
    // metadata (by-name resolution — works on id-less files too)
    val readSchema = StructType(st.rewriteSchema.fields.filterNot(isPart).map(f =>
      StructField(st.physName(f.name), f.dataType, f.nullable)))
    // the guard matters doubly here: an inner join silently dropping
    // unmatched rows would be total data loss
    val raw0 = Mirror.scanFiles(spark, readSchema, subset.map(abs),
      "the Delta log's live set")
    val vectors = subset.flatMap(p => st.adds(p).dv.map(abs(p) -> _))
    val raw =
      if (vectors.isEmpty && !follow) raw0
      else raw0.withColumn("__idx", col("_metadata.row_index"))
    val unmasked =
      if (vectors.isEmpty) raw
      else DvBitmap.dropMasked(raw, vectors.map(_._2.cardinality).sum,
        spark.sparkContext.broadcast(vectors.map { case (p, d) =>
          p -> DvBitmap.serialize(DvStore.read(root.toString, d,
            spark.sparkContext.hadoopConfiguration)) }.toMap),
        DvStore.decode(spark, root.toString, vectors))
    // file -> partition tuple (log-authoritative, layout-independent;
    // mapped logs key partition values by PHYSICAL name)
    val joined =
      if (pcols.isEmpty) unmasked
      else Mirror.attachPerFile(spark, unmasked,
        pcols.map(c => StructField(s"__pv_$c", StringType)),
        subset.map(p => abs(p) -> pcols.map(c =>
          st.adds(p).partitionValues.getOrElse(st.physName(c), null))))
    val typed = joined
      .select(st.rewriteSchema.fields.toSeq.map { f =>
        if (isPart(f)) col(s"__pv_${f.name}").cast(f.dataType).as(f.name)
        else col(st.physName(f.name)).as(f.name) // physical -> logical
      } ++ (if (follow) Mirror.lineageCols(root, Follow) else Nil): _*)
    if (!follow) typed else Mirror.clusterByLineage(typed, pcols.map(col))
  }

  /** A deletion vector's identity for ledger diffing: any change in the
    * descriptor (growth, restore-shrink, or relocation) re-imports the
    * file. */
  private def dvSignature(dv: Option[DvDescriptor]): String =
    dv.map(d => s"${d.storageType}|${d.pathOrInlineDv}|${d.offset}|" +
      s"${d.sizeInBytes}|${d.cardinality}").getOrElse("")

  private val MappingIdKey = "delta.columnMapping.id"
  private val MappingPhysKey = "delta.columnMapping.physicalName"

  /** Translate a column-mapped Delta schema into the engine's native
    * by-field-id form: logical names keep, each `delta.columnMapping.id`
    * becomes the `parquet.field.id` graft's own mapped tables resolve by
    * ([[graft.log.ColumnIds]]), and `delta.columnMapping.*` metadata
    * strips (recursively — nested struct fields carry ids too); the
    * physical names stay in the field metadata ([[physicalNamesOf]]: the
    * log keys stats and partition values by them). Works for both `id` and `name` modes: resolution is by id either way, and
    * the footer gate ([[Mirror.bindFooters]]) proves the files support it. */
  private[migrate] def translateMapping(deltaSchema: StructType): StructType = {
    // the id key strips (replaced by parquet.field.id); physicalName KEEPS
    // riding the graft schema — [[sync]] recovers the logical->physical
    // map from it when later Delta commits arrive with physically-keyed
    // stats and partition values
    def strip(m: org.apache.spark.sql.types.Metadata) = {
      val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(m)
      mb.remove(MappingIdKey).build()
    }
    def walkType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(walkField))
      case a: ArrayType => a.copy(elementType = walkType(a.elementType))
      case m: MapType => m.copy(keyType = walkType(m.keyType),
        valueType = walkType(m.valueType))
      case other => other
    }
    def walkField(f: StructField): StructField = {
      require(f.metadata.contains(MappingIdKey),
        s"column-mapped schema field '${f.name}' carries no " +
          s"$MappingIdKey — cannot translate")
      val id = f.metadata.getLong(MappingIdKey)
      graft.log.ColumnIds.withId(
        f.copy(dataType = walkType(f.dataType), metadata = strip(f.metadata)), id)
    }
    StructType(deltaSchema.fields.map(walkField))
  }

  /** logical -> physical top-level name map from MappingPhysKey field
    * metadata (identity for fields without it) — shared by import-time
    * translation, the sync's stats/footer binding, and the evolved-schema
    * rebinding, so the three can never silently diverge. */
  private def physicalNamesOf(schema: StructType): Map[String, String] =
    schema.fields.map(f => f.name ->
      (if (f.metadata.contains(MappingPhysKey))
        f.metadata.getString(MappingPhysKey) else f.name)).toMap

  private val DeltaChangesKey = "delta.typeChanges"

  /** Delta's per-field type-widening record translates onto graft's
    * (`graft.typeChanges`) so stat/bloom honesty survives the import: a
    * source that widened float→double BEFORE the import has files whose
    * float-encoded stats are NOT exact double bounds — without the
    * record, metadata-only min/max would trust them. Type-name spellings
    * map from Delta's schema-serialization names to the DDL forms
    * graft's change parser reads (an unmapped spelling would silently
    * drop the entry — and with it the distrust). */
  private[migrate] def translateTypeChanges(schema: StructType): StructType = {
    def ddlOf(t: String): String = t match {
      case "long" => "BIGINT"
      case "integer" => "INT"
      case "short" => "SMALLINT"
      case "byte" => "TINYINT"
      case "timestampNtz" => "TIMESTAMP_NTZ"
      case other => other // float/double/date/decimal(p,s) parse as-is
    }
    StructType(schema.fields.map { f =>
      if (!f.metadata.contains(DeltaChangesKey)) f
      else {
        val translated = f.metadata.getMetadataArray(DeltaChangesKey).map { e =>
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .putString("fromType", ddlOf(e.getString("fromType")))
            .putString("toType", ddlOf(e.getString("toType")))
          (if (e.contains("tableVersion"))
            mb.putLong("tableVersion", e.getLong("tableVersion")) else mb)
            .build()
        }
        val prior =
          if (f.metadata.contains(graft.log.TypeWidening.ChangesKey))
            f.metadata.getMetadataArray(graft.log.TypeWidening.ChangesKey)
          else Array.empty[org.apache.spark.sql.types.Metadata]
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(DeltaChangesKey)
          .putMetadataArray(graft.log.TypeWidening.ChangesKey,
            prior ++ translated)
          .build())
      }
    })
  }

  /** Replay `<root>`'s Delta log (checkpoint base + JSON tail) into the
    * live table state, through the honesty gates every import shares:
    * a specified column-mapping mode, spec-shaped deletion vectors, and
    * reader features this engine honors. */
  private def replay(spark: SparkSession, root: Path): DeltaSnapshot = {
    val logDir = root.resolve("_delta_log")

    // ---- log layout: checkpoint base + JSON tail ----
    val entries = store.listFileNames(logDir)
    require(entries.nonEmpty, s"no _delta_log under $root")
    val jsonVersions = commitVersions(entries)
    val checkpoint = lastCheckpoint(logDir)
    val cpVersion = checkpoint.map(_._1)
    val tail = jsonVersions.filter(v => cpVersion.forall(v > _))
    // replay needs an unbroken chain: from v0 without a checkpoint, from
    // checkpoint+1 with one (Delta's own log-retention cleanup deletes
    // pre-checkpoint JSON, which is fine — the checkpoint carries them)
    val expectedStart = cpVersion.map(_ + 1).getOrElse(0L)
    require(tail.isEmpty || (tail.head == expectedStart &&
      tail.zip(tail.tail).forall { case (a, b) => b == a + 1 }),
      s"broken Delta log chain under $logDir: have versions $tail, " +
        s"expected contiguous from $expectedStart " +
        "(missing commits cannot be replayed)")
    require(cpVersion.nonEmpty || jsonVersions.headOption.contains(0L),
      s"Delta log under $logDir has no checkpoint and does not start at " +
        "version 0 — the table state cannot be reconstructed")
    val sourceVersion = (cpVersion.toList ++ tail).max

    // ---- state replay ----
    var schemaString: String = null
    var configuration: Map[String, String] = Map.empty
    var partitionColumns: Seq[String] = Nil
    var tableId: String = java.util.UUID.randomUUID().toString
    var minReader = 1
    var readerFeatures = Set.empty[String]
    val adds = mutable.LinkedHashMap.empty[String, AddInfo]

    def applyMeta(id: String, schema: String, pcols: Seq[String],
        conf: Map[String, String]): Unit = {
      tableId = id; schemaString = schema
      partitionColumns = pcols; configuration = conf
    }

    // one JSON action, shared by the commit tail and v2 JSON manifests
    def applyNode(n: JsonNode): Unit = {
      if (n.has("metaData")) {
        val m = n.get("metaData")
        applyMeta(m.get("id").asText(), m.get("schemaString").asText(),
          strings(m, "partitionColumns"), confOf(m))
      }
      if (n.has("protocol")) {
        minReader = n.get("protocol").get("minReaderVersion").asInt()
        readerFeatures = strings(n.get("protocol"), "readerFeatures").toSet
      }
      if (n.has("add"))
        adds.update(decodePath(n.get("add").get("path").asText()),
          addInfoOf(n.get("add"))): Unit
    }

    // Applies `nodes`; returns the sidecar file names a v2 manifest among
    // them references.
    def applyAll(nodes: Iterator[JsonNode]): Seq[String] = nodes.flatMap { n =>
      applyNode(n)
      Option(n.get("sidecar")).map(_.get("path").asText())
    }.toSeq

    // One parquet action batch — classic checkpoint part(s), a v2
    // manifest, or v2 sidecar files — applied in ONE pass (per-action
    // selects would rescan the potentially multi-million-row metadata
    // parquet per kind). Returns the sidecar file names a v2 manifest
    // references; sidecar files themselves must not nest further.
    def readActionsParquet(paths: Seq[String], sidecarsAllowed: Boolean): Seq[String] = {
      val cp = spark.read.parquet(paths: _*)
      val cols = cp.columns.toSet
      require(sidecarsAllowed || !cols.contains("sidecar"),
        s"a checkpoint sidecar under $logDir references further sidecars " +
          "— malformed (the spec allows one level)")
      val want = Seq("metaData", "protocol", "add", "sidecar").filter(cols.contains)
      // toLocalIterator, not collect: a 10M-file source checkpoint is GBs
      // of Row objects — stream it one partition at a time so the driver
      // holds only the compact AddInfo state it is building, never the
      // full raw action set. Fields are read off the Rows directly: a JSON
      // round-trip per action would double the driver's work per add.
      // Checkpoint removes are expired-tombstone bookkeeping — the live
      // add set is complete without them.
      // the fields each action struct carries, resolved once per batch
      val has = want.map(w => w -> cp.schema(w).dataType.asInstanceOf[StructType]
        .fieldNames.toSet).toMap
      val sidecars = mutable.Buffer.empty[String]
      cp.select(want.map(col): _*).toLocalIterator().asScala.foreach { r =>
        want.indices.filterNot(r.isNullAt).foreach { i =>
          val a = r.getStruct(i)
          def opt[T](f: String): Option[T] =
            if (has(want(i))(f)) Option(a.getAs[T](f)) else None
          def strMap(f: String) = opt[scala.collection.Map[String, String]](f)
            .map(_.toMap).getOrElse(Map.empty[String, String])
          want(i) match {
            case "metaData" =>
              applyMeta(a.getAs[String]("id"), a.getAs[String]("schemaString"),
                a.getAs[scala.collection.Seq[String]]("partitionColumns").toSeq,
                strMap("configuration"))
            case "protocol" =>
              minReader = a.getAs[Int]("minReaderVersion")
              readerFeatures = opt[scala.collection.Seq[String]]("readerFeatures")
                .map(_.toSet).getOrElse(Set.empty)
            case "add" =>
              adds.update(decodePath(a.getAs[String]("path")),
                AddInfo(a.getAs[Long]("size"), a.getAs[Long]("modificationTime"),
                  opt[String]("stats"), opt[Row]("deletionVector").map(d => DvDescriptor(
                    d.getAs[String]("storageType"), d.getAs[String]("pathOrInlineDv"),
                    Option(d.getAs[Number]("offset")).map(_.intValue()).getOrElse(0),
                    d.getAs[Number]("sizeInBytes").intValue(),
                    d.getAs[Number]("cardinality").longValue())),
                  strMap("partitionValues"))): Unit
            case _ => sidecars += a.getAs[String]("path") // a v2 manifest's sidecar
          }
        }
      }
      sidecars.toSeq
    }

    // checkpoint base: classic parquet (single or multi-part), a v2
    // UUID-named manifest (json or parquet), or a classic-named v2 (the
    // spec's compat shape) — all resolve from the directory listing, so a
    // v2 pointer never hits a misleading missing-classic-file error
    checkpoint.foreach { case (v, parts) =>
      val singleName = f"$v%020d.checkpoint.parquet"
      val multiNames =
        (1 to parts).map(i => f"$v%020d.checkpoint.$i%010d.$parts%010d.parquet")
      val v2Re = (f"$v%020d" + raw"\.checkpoint\.[A-Za-z0-9-]+\.(json|parquet)").r
      val v2Names = entries.filter(n => v2Re.pattern.matcher(n).matches()).sorted
      val chosen: Seq[String] =
        if (entries.contains(singleName)) Seq(singleName)
        else if (parts > 1 && multiNames.forall(entries.contains)) multiNames
        else v2Names.lastOption.toSeq // any complete manifest works; pin one
      require(chosen.nonEmpty,
        s"_last_checkpoint names version $v but no classic or v2 " +
          s"checkpoint file exists under $logDir — cannot reconstruct state")
      val sidecarRefs =
        // a v2 JSON manifest: newline-delimited actions
        if (chosen.head.endsWith(".json")) applyAll(jsonActions(logDir.resolve(chosen.head)).iterator)
        else readActionsParquet(chosen.map(logDir.resolve(_).toString), sidecarsAllowed = true)
      if (sidecarRefs.nonEmpty) {
        val paths = sidecarRefs.map { p =>
          // the spec writes plain UUID file names under _delta_log/_sidecars
          require(!p.contains("/") && !p.contains(":"),
            s"checkpoint sidecar path '$p' is not a plain file name under " +
              "_delta_log/_sidecars — cannot resolve safely")
          logDir.resolve("_sidecars").resolve(p).toString
        }
        readActionsParquet(paths, sidecarsAllowed = false): Unit
      }
    }

    // JSON tail, in order
    tail.foreach { v =>
      jsonActions(logDir.resolve(f"$v%020d.json")).foreach { n =>
        applyNode(n)
        if (n.has("remove")) adds.remove(decodePath(n.get("remove").get("path").asText()))
      }
    }
    require(schemaString != null, s"no metaData action found under $logDir")
    val mappingMode = configuration.getOrElse("delta.columnMapping.mode", "none")
    require(Set("none", "id", "name").contains(mappingMode),
      s"$root uses unknown column mapping mode '$mappingMode' — only " +
        "none/id/name are specified")
    val unknown = readerFeatures -- SupportedReaderFeatures
    require(minReader <= 3 && unknown.isEmpty,
      s"$root requires Delta reader version $minReader with feature(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")} this importer does not honor")
    new DeltaSnapshot(root, adds, sourceVersion, tableId, schemaString,
      configuration, partitionColumns)
  }

  /** The commit versions among `_delta_log` entry names, ascending. */
  private def commitVersions(entries: Seq[String]): Seq[Long] = {
    val jsonRe = raw"(\d{20})\.json".r
    entries.collect { case jsonRe(v) => v.toLong }.sorted
  }

  /** `_last_checkpoint`'s (version, parts), when readable. */
  private def lastCheckpoint(logDir: Path): Option[(Long, Int)] =
    scala.util.Try {
      val n = mapper.readTree(new String(store.readBytes(
        logDir.resolve("_last_checkpoint")), StandardCharsets.UTF_8))
      (n.get("version").asLong(),
        Option(n.get("parts")).map(_.asInt()).getOrElse(1))
    }.toOption

  /** The actions of one newline-delimited JSON log file. */
  private def jsonActions(p: Path): Seq[JsonNode] =
    new String(store.readBytes(p), StandardCharsets.UTF_8)
      .split("\n").filter(_.trim.nonEmpty).map(mapper.readTree).toSeq

  private def structOf(schemaString: String): StructType =
    DataType.fromJson(schemaString).asInstanceOf[StructType]

  /** A JSON string array field (absent: empty). */
  private def strings(n: JsonNode, field: String): Seq[String] =
    Option(n.get(field)).filterNot(_.isNull)
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)

  /** A metaData action's configuration map. */
  private def confOf(m: JsonNode): Map[String, String] =
    Option(m.get("configuration")).map(c => c.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)

  /** One JSON add action's attributes. */
  private def addInfoOf(a: JsonNode, era: Int = 0): AddInfo =
    AddInfo(a.get("size").asLong(), a.get("modificationTime").asLong(),
      Option(a.get("stats")).filterNot(_.isNull).map(_.asText()), dvOf(a),
      Option(a.get("partitionValues")).map(pvn =>
        pvn.properties().asScala.map(e => e.getKey ->
          (if (e.getValue.isNull) null else e.getValue.asText())).toMap)
        .getOrElse(Map.empty), era)

  /** Parse an add action's `deletionVector` descriptor, if present. */
  private def dvOf(add: JsonNode): Option[DvDescriptor] =
    Option(add.get("deletionVector")).filterNot(_.isNull).map { d =>
      DvDescriptor(
        d.get("storageType").asText(),
        d.get("pathOrInlineDv").asText(),
        Option(d.get("offset")).filterNot(_.isNull).map(_.asInt()).getOrElse(0),
        d.get("sizeInBytes").asInt(),
        d.get("cardinality").asLong())
    }

  /** Delta add.path is a percent-encoded relative URI. Absolute or
    * scheme-ful paths (shallow clones, external locations) REFUSE: silently
    * stripping the scheme/authority would resolve to a wrong local path —
    * a FileNotFound at best, someone else's bytes at worst. */
  private def decodePath(p: String): String = {
    val uri = scala.util.Try(new java.net.URI(p)).toOption
    val decoded = uri.flatMap(u => Option(u.getPath)).filter(_.nonEmpty)
      .getOrElse(p)
    require(uri.forall(_.getScheme == null) && !decoded.startsWith("/"),
      s"Delta add path '$p' is absolute (a shallow clone or external " +
        "location) — its data does not live under this table root and " +
        "cannot import in place")
    decoded
  }

  /** Parse Delta's per-file stats JSON into (numRecords, canonical
    * ColStats), importing bounds only for types whose Delta encoding is
    * exact (see the scaladoc above). Returns numRecords = -1 when the
    * JSON carries none (caller falls back to footers). */
  private[migrate] def parseDeltaStats(
      statsJson: String, schema: StructType,
      physicalOf: Map[String, String] = Map.empty): (Long, Map[String, ColStats]) = {
    val n = mapper.readTree(statsJson)
    val numRecords =
      if (n.hasNonNull("numRecords")) n.get("numRecords").asLong() else -1L
    def boundsOf(section: String): Map[String, JsonNode] =
      Option(n.get(section)).map(s => s.properties().asScala
        .map(e => e.getKey -> e.getValue).toMap).getOrElse(Map.empty)
    val mins = boundsOf("minValues")
    val maxs = boundsOf("maxValues")
    val nullsNode = boundsOf("nullCount")
    def exact(dt: DataType, v: JsonNode): Option[String] = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: DecimalType =>
        // USE_BIG_DECIMAL_FOR_FLOATS: decimalValue is the exact literal
        Some(if (v.isNumber) v.decimalValue().toPlainString else v.asText())
      case _: BooleanType => Some(v.asBoolean().toString)
      case _: DateType => Some(v.asText()) // ISO date, identical encoding
      case _ => None // string (truncation), timestamp/ntz (ms rounding)
    }
    val stats = schema.fields.flatMap { f =>
      // a mapped log keys its stats by PHYSICAL name; graft by logical
      val key = physicalOf.getOrElse(f.name, f.name)
      val nc = nullsNode.get(key).filter(_.isNumber).map(_.asLong())
      val mn = mins.get(key).filter(v => !v.isNull && !v.isContainerNode)
        .flatMap(v => exact(f.dataType, v))
      val mx = maxs.get(key).filter(v => !v.isNull && !v.isContainerNode)
        .flatMap(v => exact(f.dataType, v))
      // a half-bound would trip exactBounds' refusal for the whole table;
      // import bounds only in (min, max) pairs
      val (bmn, bmx) = (mn, mx) match {
        case (Some(a), Some(b)) => (a, b)
        case _ => (null, null)
      }
      nc.map(c => f.name -> ColStats(bmn, bmx, c))
    }.toMap
    (numRecords, stats)
  }
}
