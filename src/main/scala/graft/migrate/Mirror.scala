package graft.migrate

import java.nio.charset.StandardCharsets
import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr}
import org.apache.spark.sql.types._

import graft.log.{AddFile, ColStats, ColumnIds, CommitInfo, DeletionVector, Protocol,
  Snapshot, Stats, TxLog}
import graft.table.LakeTable

/** The foreign-snapshot core every mirror shares, Delta and Iceberg alike.
  * Each format replays its own log or metadata into one [[ForeignSnapshot]]
  * — live files, masks, schema with field ids, the consumed source point
  * and the source properties — and keeps only what is its own: log and
  * metadata parsing, Delta's incremental JSON-tail sync with stat eras,
  * Iceberg's transforms, sequence/scope attach and equality deletes. This
  * object does the rest once: the zero-copy CONVERT ([[convert]]), the
  * snapshot-diff sync ([[snapshotSync]]) and its commit ([[NetSync]]), the
  * footer field-id binding gate ([[bindFooters]]), the per-file column
  * attach ([[attachPerFile]]) and the followable rewrite
  * ([[convertRewrite]], [[syncRewrite]]). */
private[graft] object Mirror {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Metadata IO rides the engine's store seam, like the formats' replays. */
  private def store: graft.log.LogStore = graft.log.LogStore.default

  // ---------------------------------------------------- cut-over guards

  /** Graft operations that cannot change the live data-file set AND leave
    * the table still able to mirror its source. Audited against every
    * commit operation string LakeTable/Dml/Maintain emit (ADVICE r12: the
    * original list refused constraint/default/feature commits that were
    * actually safe, permanently breaking the mirror for no reason).
    * Deliberately ABSENT: schema-shape ops (ADD/RENAME/DROP COLUMN,
    * ALTER COLUMN TYPE, generated/identity columns) — they are metadata-
    * only too, but a locally-evolved mirror can no longer follow the
    * source (and must never be mistaken for SOURCE-side evolution), so
    * divergence is the honest refusal; REORG/OPTIMIZE change the file set
    * outright, and DROP FEATURE shares one operation name between its
    * metadata-only form and the TRUNCATE HISTORY form that can REWRITE
    * stale-typed files (typeWidening), so it stays out too. */
  val FileSetNeutralOps: Set[String] = Set(
    "CONVERT", "DELTA SYNC", "ICEBERG SYNC", "VACUUM", "ANALYZE", "GENERATE",
    "SET TBLPROPERTIES", "UNSET TBLPROPERTIES", "UPGRADE PROTOCOL",
    "ADD FEATURE", "ADD CONSTRAINT", "DROP CONSTRAINT",
    "ALTER COLUMN DEFAULT")

  /** The in-place mirrors' cut-over guard: a mirror table must not have
    * taken graft-side writes that could change the live file set since its
    * last sync point (`syncOps`) — a source-side remove of a locally
    * rewritten path would be dropped by the live-set filter while the
    * source-side replacement add still landed, silently duplicating rows.
    * Local DML is the cut-over moment. Called at sync entry for a fast loud
    * failure AND inside the commit CAS closure — the retry loop re-resolves
    * the snapshot, so a local write landing in between refuses instead of
    * duplicating (TOCTOU). Reads the history of `s`'s table backwards
    * from `s.version`, only as far as that last sync point. */
  def requireNotDiverged(log: TxLog, s: Snapshot, syncOps: Set[String],
      kind: String): Unit =
    refuseDiverged(log.historyBackFrom(s.version)
      .takeWhile(c => !syncOps.contains(c.operation))
      .filterNot(c => FileSetNeutralOps(c.operation)).toSeq.reverse,
      s"the table since the last $kind sync")

  private def refuseDiverged(diverging: Seq[CommitInfo], what: String): Unit =
    require(diverging.isEmpty,
      s"graft-side commit(s) ${diverging.map(c =>
        s"v${c.version} ${c.operation}").mkString(", ")} changed $what — " +
        "local writes are the cut-over moment; the table can no longer " +
        "mirror its source (re-import into a fresh directory to keep syncing)")

  /** The operations that mark a `kind` mirror's sync points. */
  def syncOps(kind: String): Set[String] = Set("CONVERT", s"${kind.toUpperCase} SYNC")

  /** The in-place mirror at `dir` and the source ordinal it has consumed,
    * past the entry-time divergence guard. A rewrite destination also
    * carries the consumed-state keys but is NOT an in-place mirror (its
    * source lives elsewhere and its rows are rewritten) — without this
    * gate the failure would be a confusing missing-log error. */
  def mirrorAt(spark: SparkSession, dir: String, keys: FollowKeys): (LakeTable, Long) = {
    val t = LakeTable.forPath(spark, dir)
    require(!t.properties.get(keys.follow).contains("true"),
      s"$dir is a followable REWRITE destination — sync it with " +
        s"${keys.kind}Import.syncRewrite(spark, sourceDir, destDir)")
    val consumed = t.properties.get(keys.consumed).map(_.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"$dir was not imported from ${keys.kind} (no ${keys.consumed} property)"))
    requireNotDiverged(t.log, t.snapshot(), syncOps(keys.kind), keys.kind)
    (t, consumed)
  }

  /** CHECK constraints cannot be enforced on FOREIGN files: graft
    * validates constraints inside its own write jobs, but a sync imports
    * the source's files zero-copy — a violating foreign row would land
    * silently, breaking addConstraint's readers-never-see-bad-rows
    * guarantee (ADD CONSTRAINT itself is file-set-neutral and keeps the
    * mirror open; it is the next file-ADDING sync that must refuse).
    * Removal-only and metadata-only syncs stay safe. Called inside the
    * commit CAS closure — a constraint landing mid-sync refuses too. */
  def requireNoConstraintsForAdds(properties: Map[String, String],
      newFiles: Long, kind: String): Unit =
    if (newFiles > 0) {
      val cs = properties.keys.filter(_.startsWith("graft.constraints."))
        .toSeq.sorted
      require(cs.isEmpty,
        s"this mirror declares CHECK constraint(s) ${cs.map(
          _.stripPrefix("graft.constraints.")).mkString(", ")} which " +
          s"cannot be validated on files a $kind sync imports " +
          "zero-copy — drop the constraint(s) or cut over")
    }

  /** Local DML on a rewrite destination is the cut-over moment, exactly
    * like the in-place mirrors — but unlike them, ROW-PRESERVING file
    * reorganizations (OPTIMIZE/ZORDER/REORG) are fine: the syncs key on
    * lineage COLUMNS, which compaction carries through. Allowed commits:
    * the import/sync's own (txn app id marker), CREATE TABLE, the
    * file-set-neutral housekeeping set, and OPTIMIZE/REORG.
    *
    * Every sync ran this guard before its first commit, so the history up
    * to the syncs before the one that produced `consumed` (the source
    * ordinal the destination has consumed) is already checked: the read
    * goes backwards from the head and stops at the newest sync step marked
    * with an older ordinal. */
  def requireRewriteNotDiverged(dest: LakeTable, consumed: Long): Unit = {
    val rowPreserving = Set("OPTIMIZE", "REORG")
    def olderStep(c: CommitInfo): Boolean =
      c.operationParameters.get("txnAppId").exists(_.startsWith(AppIdPrefix)) &&
        c.operationParameters.get("txnVersion").exists(_.toLongOption.exists(_ < consumed))
    refuseDiverged(dest.log.historyBackFrom(dest.snapshot().version)
      .takeWhile(c => !olderStep(c)).filterNot { c =>
      c.operation == "CREATE TABLE" ||
        FileSetNeutralOps(c.operation) ||
        rowPreserving(c.operation) ||
        c.operationParameters.get("txnAppId").exists(_.startsWith(AppIdPrefix))
    }.toSeq.reverse, "this rewrite destination's rows")
  }

  // ------------------------------------------------ zero-copy commits

  /** Stat-heal tags for files whose stats were collected under `schema`'s
    * CURRENT types: one tag per column with a type-change or name-reuse
    * record, so metadata-only min/max and bloom trust the file again. */
  def healTags(schema: StructType): Map[String, String] = schema.fields
    .filter(f => graft.log.TypeWidening.hasChanges(f) ||
      graft.log.TypeWidening.nameReused(f))
    .map(f => graft.log.TypeWidening.tagKey(f) ->
      graft.log.TypeWidening.changeCount(f).toString).toMap

  /** Heal tags against the MERGED mirror schema (it carries the name-reuse
    * markers and graft's change history); the divergence guard refuses any
    * concurrent local commit, so this entry-time merge matches the
    * commit closure's. */
  def syncTags(snap: Snapshot, incoming: StructType, evolved: Boolean,
      mapped: Boolean): Map[String, String] =
    healTags(
      if (!evolved) snap.schema
      else Evolution.mergedSchema(snap.schema, incoming, mapped,
        snap.metadata.properties, snap.version + 1)._1)

  /** The field-id high-water mark a mapped mirror records, never below
    * the source's (`floor`), the table's current mark (in `props`), or
    * `schema`'s ids: graft-side ADD COLUMN after cut-over must never reuse
    * a source id. None: the mirror does not resolve by id. */
  def maxIdProp(floor: Option[Long], props: Map[String, String],
      schema: StructType): Map[String, String] = floor.map { f =>
    graft.log.ColumnIds.MaxIdKey -> Seq(f,
      props.get(graft.log.ColumnIds.MaxIdKey).map(_.toLong).getOrElse(0L),
      graft.log.ColumnIds.maxId(Map.empty, schema)).max.toString
  }.toMap

  /** Property-implies-feature, exactly as setProperties stamps it: an
    * imported or synced delta.enableChangeDataFeed / enableDeletionVectors
    * / … lands with its table feature in the same commit — and imported
    * masks stamp deletionVectors even without the property (a source can
    * carry vectors after the property was unset). */
  private def protocolFor(base: Protocol, props: Map[String, String],
      hasDvs: Boolean): Protocol =
    Protocol.merge(Protocol.merge(base, LakeTable.impliedFeatures(props)),
      if (!hasDvs) base else Protocol(1, 1, null, Seq("deletionVectors")))

  /** One in-place sync as ONE net-diff commit: `adds` land zero-copy,
    * still-live `removes` leave, `dvs` land, and every graft mask on a
    * `clearable` path that `dvs` does not replace clears. The `consumed`
    * properties advance in the same commit, so the sync is atomic and a
    * re-run stands down. A followable schema change applies onto the
    * CURRENT schema (by field id when `mapped`), so local field metadata a
    * file-set-neutral commit stamped meanwhile (a column DEFAULT) survives;
    * `maxIdFloor` is the source's id high-water mark ([[maxIdProp]]). */
  case class NetSync(kind: String, params: Map[String, String], consumed: Map[String, String],
      alreadyConsumed: Map[String, String] => Boolean,
      adds: Seq[AddFile], dvs: Seq[DeletionVector],
      clearable: String => Boolean, removes: Seq[String],
      incoming: StructType, evolved: Boolean, mapped: Boolean,
      maxIdFloor: Option[Long], sourceProps: Map[String, String] = Map.empty) {

    def commit(t: LakeTable, snap0: Snapshot): Long = {
      val now = System.currentTimeMillis()
      val maskedNow = dvs.map(_.forFile).toSet
      try {
        t.commitWithRetry(s"${kind.toUpperCase} SYNC", params, snap0,
          Map("numAddedFiles" -> adds.size.toLong,
            "numRemovedFiles" -> removes.size.toLong)) { s =>
          // a racing sync already consumed this state: stand down, no-op
          if (alreadyConsumed(s.metadata.properties))
            throw new LakeTable.EpochAlreadyCommitted
          // TOCTOU closure re-check: a local write that landed after the
          // entry guard makes this retry refuse instead of duplicating rows
          requireNotDiverged(t.log, s, syncOps(kind), kind)
          requireNoConstraintsForAdds(s.metadata.properties, adds.size.toLong, kind)
          val live = s.files.map(_.path).toSet
          val clears = s.dvs.keys.filterNot(maskedNow).filter(clearable)
            .map(DeletionVector.clear).toSeq
          val (mergedJson, retireProp) =
            if (!evolved) (s.metadata.schemaJson, Map.empty[String, String])
            else {
              val (m, rp) = Evolution.mergedSchema(s.schema, incoming, mapped,
                s.metadata.properties, s.version + 1)
              (m.json, rp)
            }
          val meta = s.metadata.copy(schemaJson = mergedJson,
            properties = s.metadata.properties ++ sourceProps ++
              maxIdProp(maxIdFloor, s.metadata.properties, incoming) ++
              retireProp ++ consumed)
          val proto = protocolFor(s.protocol, meta.properties, dvs.nonEmpty)
          (if (proto == s.protocol) Seq(meta) else Seq(proto, meta)) ++
            adds ++ dvs ++ clears ++
            removes.filter(live.contains).map(p => graft.log.RemoveFile(p, now))
        }
      } catch { case _: LakeTable.EpochAlreadyCommitted => () }
      t.version
    }
  }

  // ------------------------------------------------ foreign snapshot core

  /** The files a binding reads, and how each becomes an AddFile: what
    * [[liveAdds]] needs of a replayed source. */
  trait FileSource {
    /** The source table root, absolute and normalized. */
    def root: Path
    /** logical -> physical top-level names, when the source pins physical
      * names to field ids (empty otherwise). */
    def physicalOf(schema: StructType): Map[String, String] = Map.empty
    /** Whether `path`'s stats come from its footer, read under the
      * binding schema's current types: its footer is read even when the
      * binding is unchecked. */
    def needsFooter(path: String): Boolean = true
    /** `paths` as AddFiles under `schema`, given each read footer's
      * (record count, exact stats keyed by schema name) by path. */
    def addFiles(spark: SparkSession, paths: Seq[String], schema: StructType,
        footers: Map[String, (Long, Map[String, ColStats])],
        tags: Map[String, String]): Seq[AddFile]
  }

  /** One format's replayed source state: what the shared import, sync and
    * rewrite consume. The abstract members past `maxColumnId` are the
    * per-format hooks. */
  trait ForeignSnapshot extends FileSource {
    def keys: FollowKeys
    def tableId: String
    /** The source schema, top-level field ids where the source has them. */
    def schema: StructType
    def partitionColumns: Seq[String]
    /** The live data files, root-relative, in log order. */
    def files: Seq[String]
    def point: SourcePoint
    /** The source's properties, graft-normalized. */
    def properties: Map[String, String]
    /** The source's column-id high-water mark. */
    def maxColumnId: Long

    /** Refusals of a zero-copy import or sync: what only a rewrite can
      * honor. */
    def gateInPlace(): Unit
    /** The source schema as a mirror bound by id (`mapped`) or by name
      * reads it, and whether it evolves `base`; refuses what [[Evolution]]
      * cannot follow. */
    def incoming(base: StructType, mapped: Boolean): (StructType, Boolean)
    /** The live masks as graft vectors (may write them under `root`). */
    def masks(spark: SparkSession): Seq[DeletionVector]
    /** Extra properties of the zero-copy import (may write sidecars). */
    def importProps(): Map[String, String] = Map.empty
    /** The properties an in-place sync carries onto the mirror. */
    def syncProps: Map[String, String] = properties
  }

  /** The footer binding gate. By id, every footer column must carry a
    * field id; where physical names are `pinned` to ids (Delta's column
    * mapping), a pinned name must carry its own id and no other column may
    * reuse a pinned one. By name, every footer column must name a column
    * in `names`: a by-name read would misread a renamed one. `byId` None:
    * by id exactly when every column of every file carries an id. Returns
    * whether the files bind by id. */
  def bindFooters(footers: Seq[(String, Seq[(String, Option[Int])])],
      names: Set[String], pinned: Map[String, Long], byId: Option[Boolean]): Boolean = {
    val ids = byId.getOrElse(
      footers.nonEmpty && footers.forall(_._2.forall(_._2.isDefined)))
    footers.foreach { case (p, cols) => cols.foreach { case (name, id) =>
      if (!ids) require(names(name),
        s"file $p column '$name' is not a schema column and the files " +
          "carry no usable field ids — name-mapping this importer cannot " +
          "resolve; rewrite the table on the source side")
      else {
        require(id.isDefined,
          s"file $p column '$name' carries no parquet field id — by-id " +
            "resolution would be undefined; rewrite the file (or import " +
            "with convertRewrite)")
        pinned.get(name) match {
          case Some(want) => require(id.get.toLong == want,
            s"file $p column '$name' has field id ${id.get}, the mapped " +
              s"schema says $want — refusing a mis-binding read")
          case None => require(!pinned.values.exists(_ == id.get.toLong),
            s"file $p column '$name' (not in the live schema) reuses " +
              s"live field id ${id.get} — by-id reads would bind its bytes")
        }
      }
    } }
    ids
  }

  /** `paths` of `src` as AddFiles under `schema`: ONE parallel footer pass,
    * then [[bindFooters]], then each file's AddFile. The pass reads every
    * file when the binding is checked, else those
    * [[FileSource.needsFooter]] names; a by-name binding is checked when
    * every footer is read anyway. Footer stats key by logical name; under
    * by-id reads a footer column whose name a schema column with ANOTHER
    * id now carries (a renamed-away name reused) drops, since by-id reads
    * do not return its bytes. Returns whether the files bind by id. */
  def liveAdds(spark: SparkSession, src: FileSource, paths: Seq[String],
      schema: StructType, byId: Option[Boolean],
      tags: Map[String, String]): (Boolean, Seq[AddFile]) = {
    val phys = src.physicalOf(schema)
    def physName(n: String) = phys.getOrElse(n, n)
    val checked = !byId.contains(false) || paths.forall(src.needsFooter)
    val read = paths.filter(p => checked || src.needsFooter(p))
    val footers = Stats.fromFootersWithIds(read.map(src.root.resolve),
      StructType(schema.fields.map(f => f.copy(name = physName(f.name)))))
    def footerOf(p: String) = footers(src.root.resolve(p).toString)
    val ids = checked && bindFooters(read.map(p => p -> footerOf(p)._3),
      schema.fieldNames.toSet,
      schema.fields.flatMap(f => phys.get(f.name).map(_ -> ColumnIds.idOf(f).get)).toMap,
      byId)
    val idOf = schema.fields.flatMap(f => ColumnIds.idOf(f).map(f.name -> _)).toMap
    val logical = schema.fields.map(f => physName(f.name) -> f.name).toMap
    (ids, src.addFiles(spark, paths, schema, read.map { p =>
      val (n, stats, fids) = footerOf(p)
      val stale = fids.collect { case (c, Some(i)) if ids &&
        idOf.get(logical.getOrElse(c, c)).exists(_ != i.toLong) => c }.toSet
      p -> (n, stats.collect { case (c, s) if !stale(c) => logical.getOrElse(c, c) -> s })
    }.toMap, tags))
  }

  /** The zero-copy import of the foreign table at `dir`, in place and
    * idempotent (an imported directory returns its graft table): replay,
    * gate, bind the live files, and commit them with their masks as ONE
    * graft commit at version 0, sharing every data file in place. Masks
    * are written before it — a lost CAS leaves an orphan vector file,
    * never a bad commit — and a lost race with a concurrent import returns
    * theirs. A mapped import records the source's id high-water mark
    * so graft-side ADD COLUMN never reuses a source id; a pre-widened
    * source keeps type widening enabled, so the feature stamps even when
    * the source unset the property after applying its changes. The
    * format's `binding` says how the live files bind to the replayed
    * schema: by id, by name, or (None) as their footers say. */
  def convert(spark: SparkSession, dir: String, replay: Path => ForeignSnapshot)(
      binding: ForeignSnapshot => Option[Boolean]): LakeTable = {
    if (TxLog.isTable(dir)) return LakeTable.forPath(spark, dir)
    val st = replay(absolute(dir))
    st.gateInPlace()
    val (byId, adds) = liveAdds(spark, st, st.files, st.schema, binding(st), Map.empty)
    val schema = if (byId) st.schema else ColumnIds.strip(st.schema)
    val widen =
      if (!schema.fields.exists(graft.log.TypeWidening.hasChanges)) Map.empty
      else Map("graft.enableTypeWidening" -> "true")
    val dvs = st.masks(spark)
    val now = System.currentTimeMillis()
    val meta = graft.log.Metadata(st.tableId, st.root.getFileName.toString,
      schema.json, st.partitionColumns, st.properties ++ st.importProps() ++
        maxIdProp(if (byId) Some(st.maxColumnId) else None, Map.empty, schema) ++
        widen ++ st.point.advance, now)
    val ci = CommitInfo(0L, now, "CONVERT",
      Map("numFiles" -> adds.size.toString,
        "sourceFormat" -> st.keys.kind.toLowerCase,
        "numDeletionVectors" -> dvs.size.toString,
        // the source's version is the point key's last part
        "sourceVersion" -> st.point.key.last.toString), Map.empty, -1L,
      LakeTable.currentUser, false, java.util.UUID.randomUUID().toString)
    val proto = Protocol.withDvDescriptors(
      protocolFor(Protocol.Current, meta.properties, dvs.nonEmpty), dvs)
    new TxLog(st.root).tryCommit(0L, ci +: proto +: meta +: (adds ++ dvs)): Unit
    LakeTable.forPath(spark, dir)
  }

  /** Sync the in-place mirror `t` to the replayed `st` as ONE [[NetSync]]
    * commit (a consumed state is a no-op): files the mirror lacks bind
    * under the mirror's binding and add zero-copy, vanished files leave,
    * and the full current mask state replaces the mirror's (masks that
    * vanished clear; removed files drop theirs). A followable schema
    * change applies; a re-layout, or a type change of a partition column
    * (its values are strings re-parsed under the current type), is the
    * cut-over moment. After an evolution, new files tag for stat heal
    * only when every one takes its stats from its footer: other stats
    * were collected under types older than the mirror's. */
  def snapshotSync(spark: SparkSession, t: LakeTable, st: ForeignSnapshot,
      params: Map[String, String]): Long = {
    if (st.point.consumedBy(t.properties)) return t.version
    st.gateInPlace()
    val snap0 = t.snapshot()
    val pcols = snap0.metadata.partitionColumns
    val mapped = ColumnIds.mapped(snap0.schema)
    val (incoming, evolved) = st.incoming(snap0.schema, mapped)
    require(st.partitionColumns == pcols,
      s"the ${st.keys.kind} source's partition spec changed " +
        s"(${st.partitionColumns.mkString(", ")}) — not syncable in place; re-import")
    if (evolved) pcols.foreach { c =>
      require(incoming(c).dataType == snap0.schema(c).dataType,
        s"partition column '$c' changed type — not syncable in place; re-import")
    }
    val mirrored = snap0.files.map(_.path).toSet
    val fresh = st.files.filterNot(mirrored)
    val tags =
      if (evolved && !fresh.forall(st.needsFooter)) Map.empty[String, String]
      else syncTags(snap0, incoming, evolved, mapped)
    val (_, adds) = liveAdds(spark, st, fresh, incoming, Some(mapped), tags)
    NetSync(st.keys.kind, params, st.point.advance,
      st.point.consumedBy, adds, st.masks(spark), st.files.toSet,
      (mirrored -- st.files).toSeq, incoming, evolved, mapped,
      if (mapped) Some(st.maxColumnId) else None, st.syncProps).commit(t, snap0)
  }

  /** One (path, columns) row per file above this many files shuffle-joins
    * instead of broadcasting (a multi-GB broadcast at 10M files) — the
    * same two-tier discipline as the DV mask reads. Despite its name the
    * option governs every [[attachPerFile]]: Delta's partition tuples as
    * well as Iceberg's sequence/scope and equality-delete file metadata. */
  private def broadcastFileMetaMax(spark: SparkSession): Long =
    scala.util.Try(spark.conf.get("graft.iceberg.broadcastFileMetaMax").toLong)
      .getOrElse(1000000L)

  /** Attach per-file columns `cols` to a [[scanFiles]] scan, from one row
    * per scanned file (absolute path, values) joined on `__file` —
    * broadcast up to `graft.iceberg.broadcastFileMetaMax` files, a plain
    * shuffle join above. Only the scanned files' rows: an incremental
    * window pays O(window), not O(live files). */
  def attachPerFile(spark: SparkSession, scan: DataFrame, cols: Seq[StructField],
      rows: Seq[(String, Seq[Any])]): DataFrame = {
    val meta = spark.createDataFrame(
      rows.map { case (f, vs) => Row.fromSeq(f +: vs) }.asJava,
      StructType(StructField("__mfile", StringType) +: cols))
    val side = if (rows.size <= broadcastFileMetaMax(spark)) broadcast(meta) else meta
    scan.join(side, scan("__file") === meta("__mfile")).drop("__mfile")
  }

  // ------------------------------------------------ followable rewrite

  /** Lineage columns a followable rewrite adds to every row: the source
    * data file (source-root-relative), the row's physical position in it,
    * and — Iceberg only — its data SEQUENCE number (what later equality
    * deletes gate on; Delta has no sequence axis). The syncs key
    * source-side removes and row-level deletes on these. Ordinary
    * columns: they survive OPTIMIZE/ZORDER compaction. */
  val SrcFileCol = "_src_file"
  val SrcPosCol = "_src_pos"
  val SrcSeqCol = "_src_seq"

  /** Transaction-ledger app ids marking the syncs' own commits — both the
    * replay-idempotency key (txnVersion = the target source ordinal) and
    * how the divergence guard tells sync commits from local DML. */
  val AppendAppId = "graft-rwsync-append"
  val RemoveAppId = "graft-rwsync-rm"
  val PosDelAppId = "graft-rwsync-pd"
  val EqDelAppId = "graft-rwsync-eq"
  val AppIdPrefix = "graft-rwsync"

  /** The ledger-snapshot directory under a followable destination. */
  val LedgerDir = "_graft_import"

  /** A format's followable-rewrite destination property keys and the
    * lineage columns its rows carry. */
  case class FollowKeys(kind: String, follow: String, source: String,
      consumed: String, lineage: Seq[String])

  /** One replayed source state: its ledger, the ledger's name key (led by
    * the source ordinal every sync step's transaction marker carries), and
    * the consumed-state properties that record it. The ledger builds on
    * first use: only a followable rewrite reads it, and an in-place import
    * or sync of a 10M-file source would otherwise build a 10M-entry map for
    * nothing. */
  case class SourcePoint(key: Seq[Long], advance: Map[String, String])(
      ledgerOf: => Ledger) {
    lazy val ledger: Ledger = ledgerOf
    def target: Long = key.head
    /** Whether a table with `props` has consumed this point: every
      * consumed-state key at or past it. */
    def consumedBy(props: Map[String, String]): Boolean =
      advance.forall { case (k, v) => props.get(k).exists(_.toLong >= v.toLong) }
  }

  /** A source's live set: data files (root-relative) with a change
    * signature (Delta: the deletion vector; else ""), and the delete
    * files already applied (Iceberg; canonical absolute paths). */
  case class Ledger(dataFiles: Map[String, String],
      posDeleteFiles: Seq[String] = Nil, eqDeleteFiles: Seq[String] = Nil)

  /** What changed between the consumed ledger and the current one. Files
    * whose signature changed leave and come back whole: remove + re-add
    * needs no old bitmap (it covers DV growth, a RESTORE that shrank one,
    * and a vacuumed-away sidecar) at O(changed file) cost. */
  case class LedgerDiff(prev: Ledger, cur: Ledger) {
    val removed: Seq[String] =
      prev.dataFiles.keys.filterNot(cur.dataFiles.contains).toSeq.sorted
    val changed: Seq[String] = cur.dataFiles.collect {
      case (p, s) if prev.dataFiles.get(p).exists(_ != s) => p }.toSeq.sorted
    val added: Seq[String] =
      cur.dataFiles.keys.filterNot(prev.dataFiles.contains).toSeq.sorted
    /** Source files whose destination rows leave by lineage. */
    def gone: Seq[String] = removed ++ changed
    /** Source files whose rows rewrite-append. */
    def back: Seq[String] = changed ++ added
    val newPosDeletes: Seq[String] =
      cur.posDeleteFiles.filterNot(prev.posDeleteFiles.toSet)
    val newEqDeletes: Set[String] =
      cur.eqDeleteFiles.toSet -- prev.eqDeleteFiles
  }

  /** The format's part of one followable-rewrite sync. */
  trait RewriteSteps {
    /** Refusals that need the diff; they run before any mutation. */
    def check(d: LedgerDiff): Unit = ()
    /** Row-level deletes beyond whole-file removal, after the lineage
      * DELETE (Iceberg's position and equality deletes). */
    def deleteRows(dest: LakeTable, d: LedgerDiff): Unit = ()
    /** The rewritten rows of `d.back`, with lineage. */
    def rows(d: LedgerDiff): DataFrame
  }

  private def absolute(dir: String): Path = Paths.get(dir).toAbsolutePath.normalize

  /** The rewrite-import skeleton: create the destination at `destDir` and
    * append the `rows` of the source's live files (none: an empty table,
    * its schema and layout fully known). Creation refuses an existing
    * destination, so a retried migration fails LOUDLY instead of
    * appending the whole dataset a second time.
    *
    * With `follow` the destination is built to be SYNCABLE by
    * [[syncRewrite]]: every row carries its source LINEAGE as ordinary
    * columns ([[SrcFileCol]] and kin — what later source-side removes and
    * row-level deletes key on; a source column colliding with one
    * refuses), the consumed source state records in the
    * table properties, and the ledger of the imported point writes BEFORE
    * the data commit — a crash in between leaves a stray ledger file
    * (harmless: reads key on the CONSUMED property) but never a synced
    * table without its ledger. The storage cost (a dictionary-encoded path
    * plus a delta-encoded long or two per row) is the price of
    * followability; a one-shot migration should keep `follow = false`. */
  def convertRewrite(spark: SparkSession, st: ForeignSnapshot, destDir: String,
      follow: Boolean, base: StructType, partitionColumns: Seq[String],
      properties: Map[String, String])(rows: Seq[String] => DataFrame): LakeTable = {
    val keys = st.keys
    if (follow) keys.lineage.foreach { n =>
      require(!base.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"source column '$n' collides with the lineage column a " +
          "followable rewrite adds — import with follow = false, or " +
          "rename the source column")
    }
    val schema = if (!follow) base else StructType(base.fields ++ keys.lineage.map(n =>
      StructField(n, if (n == SrcFileCol) StringType else LongType)))
    val followProps = if (!follow) Map.empty[String, String]
      else Map(keys.follow -> "true", keys.source -> st.root.toString) ++ st.point.advance
    val typed = if (st.files.isEmpty) None else Some(rows(st.files))
    if (follow) writeLedger(absolute(destDir), st.point)
    val dest = LakeTable.create(spark, destDir, schema,
      partitionColumns = partitionColumns,
      properties = properties ++ followProps, ifNotExists = false)
    typed.foreach { df =>
      if (follow) dest.appendWithProps(df, _ => Map.empty,
        Some(AppendAppId), Some(st.point.target)): Unit
      else dest.append(df): Unit
    }
    dest
  }

  /** The followable-rewrite sync skeleton. `replay` reads the source (a
    * consumed point is a no-op) and `plan` runs the format's checks. The consumed
    * ledger diffs against the current one, whose ledger writes before any
    * mutation; removed and signature-changed source files leave by a
    * lineage-keyed merge-DELETE (file stats on the lineage column prune
    * the touched destination files); the format's row-level deletes
    * apply; new and signature-changed files rewrite-append, advancing the
    * consumed state in the SAME commit; older ledgers prune.
    *
    * Every step is idempotent — each commit rides the transaction ledger
    * keyed by the target source ordinal, the ledger snapshot is name-keyed
    * by it — so a crash anywhere replays to the same state and a repeated
    * sync no-ops. Each commit is individually consistent, but a reader
    * BETWEEN them can observe a mid-sync state (e.g. a compacted file's
    * rows removed before their re-append lands); time-travel to the
    * pre-sync version if a read must straddle a sync. The destination may
    * be OPTIMIZE/ZORDER-compacted freely between syncs (lineage rides the
    * rows), while local DML stays the cut-over moment. */
  def syncRewrite[S <: ForeignSnapshot](spark: SparkSession, srcDir: String,
      destDir: String, keys: FollowKeys, replay: Path => S)(
      plan: (LakeTable, S, Long) => RewriteSteps): Long = {
    val dest = LakeTable.forPath(spark, destDir)
    val root = absolute(srcDir)
    val destRoot = absolute(destDir)
    val props0 = dest.properties
    require(props0.get(keys.follow).contains("true"),
      s"$destDir was not rewrite-imported with follow = true — a one-shot " +
        "rewrite destination carries no source lineage to sync by; " +
        "re-import with convertRewrite(spark, src, dest, follow = true)")
    require(props0.get(keys.source).contains(root.toString),
      s"$destDir mirrors ${props0.getOrElse(keys.source, "<unset>")}, " +
        s"not $srcDir")
    val consumed = props0(keys.consumed).toLong
    requireRewriteNotDiverged(dest, consumed)
    val st = replay(root)
    if (st.point.consumedBy(props0)) {
      // up to date; a sync that crashed after its last commit finishes
      // its ledger pruning here
      pruneLedgers(destRoot, consumed)
      return dest.version
    }
    val steps = plan(dest, st, consumed)
    // every lineage column the steps rely on must exist — a destination
    // built by an OLDER convertRewrite (before the sequence lineage
    // landed) refuses up front, not mid-sync after merges committed
    keys.lineage.foreach { c =>
      require(dest.snapshot().schema.fieldNames.contains(c),
        s"$destDir carries no '$c' lineage column — it was rewritten by " +
          "an older engine version; re-import with convertRewrite(spark, " +
          "src, dest, follow = true) to keep syncing")
    }
    val prev = readLedger(destRoot, consumed).getOrElse(
      throw new IllegalStateException(
        s"$destDir carries no ledger snapshot for consumed ${keys.kind} " +
          s"point $consumed under ${destRoot.resolve(LedgerDir)} — the " +
          "followable-rewrite state is damaged; re-import"))
    val pt = st.point
    val d = LedgerDiff(prev, pt.ledger)
    steps.check(d)
    writeLedger(destRoot, pt)
    if (d.gone.nonEmpty) {
      import spark.implicits._
      deleteMatching(dest, d.gone.toDF("rm_file"),
        expr(s"target.`$SrcFileCol` = source.rm_file"), RemoveAppId, pt.target)
    }
    steps.deleteRows(dest, d)
    if (d.back.nonEmpty)
      dest.appendWithProps(steps.rows(d), _ => pt.advance,
        Some(AppendAppId), Some(pt.target)): Unit
    else dest.setProperties(pt.advance): Unit
    pruneLedgers(destRoot, consumed)
    dest.version
  }

  /** Merge-DELETE the destination rows `source` matches `on`, as sync step
    * `appId` of source ordinal `version` on the transaction ledger (a
    * replay of a committed step no-ops). */
  def deleteMatching(dest: LakeTable, source: DataFrame, on: Column,
      appId: String, version: Long): Unit =
    dest.merge(source, on).whenMatchedDelete().withTxn(appId, version).execute(): Unit

  /** A rewrite destination follows no schema change: its columns other
    * than lineage and `derived` (generated layout columns) must still be
    * the source's `expected` columns, by name and type. */
  def requireSameColumns(dest: LakeTable, keys: FollowKeys,
      expected: StructType, derived: Seq[String] = Nil): Unit = {
    val have = dest.snapshot().schema.fields
      .filterNot(f => keys.lineage.contains(f.name) ||
        derived.exists(_.equalsIgnoreCase(f.name)))
      .map(f => (f.name, f.dataType)).toSeq
    require(have == expected.fields.map(f => (f.name, f.dataType)).toSeq,
      s"the ${keys.kind} source's schema changed — this evolution is a " +
        "cut-over moment for a rewrite destination; re-import")
  }

  /** One scan over `paths` (absolute data files) with the reader's path
    * as `__file` — and a loud pre-write guard (driver-only, no Spark job):
    * every file the scan plans must be a logged live file and vice versa.
    * Silent divergence here would be data loss, the exact mis-read the
    * import gates exist to prevent. */
  def scanFiles(spark: SparkSession, schema: StructType, paths: Seq[String],
      liveSet: String): DataFrame = {
    val scan = spark.read.schema(schema).parquet(paths: _*)
      .withColumn("__file",
        graft.log.DvBitmap.stripPathCol(col("_metadata.file_path")))
    val planned = scan.inputFiles.map(Stats.stripScheme).toSet
    val logged = paths.map(Stats.stripScheme).toSet
    require(planned == logged,
      s"planned scan files diverge from $liveSet " +
        s"(only-planned: ${(planned -- logged).take(3)}, " +
        s"only-logged: ${(logged -- planned).take(3)}) — refusing to " +
        "write a silently incomplete import")
    scan
  }

  /** The lineage columns of `keys` over a [[scanFiles]] scan under `root`
    * that carries `__idx` (physical row index, captured BEFORE any delete
    * filtering — later deletes key on it) and, for the sequence column,
    * `__seq`. */
  def lineageCols(root: Path, keys: FollowKeys): Seq[Column] = {
    val rootPrefixLen = root.toString.length + 2 // 1-based, past the '/'
    keys.lineage.map {
      case SrcFileCol => expr(s"substring(__file, $rootPrefixLen)").as(SrcFileCol)
      case SrcPosCol => col("__idx").as(SrcPosCol)
      case other => col("__seq").as(other)
    }
  }

  /** Shuffle by (destination partition keys, SOURCE FILE) so destination
    * files are lineage-CLUSTERED: each shuffle task holds whole source
    * files (hash collisions can co-locate a FEW sources per task —
    * collisions shrink as files/shuffle-partitions — and the
    * within-partition sort keeps each source's rows contiguous). A removal
    * merge therefore rewrites only the files that carry the removed
    * source, not the table (a partition-key-only shuffle mixes EVERY
    * source into every file and rewrites everything); the file-count cost
    * is bounded by the source's own file-per-partition overlap, ~1 for
    * partition-aligned sources. */
  def clusterByLineage(df: DataFrame, partitionKeys: Seq[Column]): DataFrame = {
    val keys = partitionKeys :+ col(SrcFileCol)
    df.repartition(keys: _*).sortWithinPartitions(keys: _*)
  }

  // ---- the ledger: one JSON snapshot of the source per consumed point ----

  private val LedgerRe = raw"ledger-(\d+)(?:-(\d+))?\.json".r

  /** `_graft_import/ledger-<key>.json` under the destination (Delta keys by
    * version, Iceberg by `<sequence>-<metadata version>`): the data files
    * as an object (path -> signature) plus the delete-file arrays. Derived
    * from one replayed state, so a crash-replay rewrites identical
    * content. */
  def writeLedger(destRoot: Path, pt: SourcePoint): Unit = {
    val node = mapper.createObjectNode()
    val files = node.putObject("dataFiles")
    pt.ledger.dataFiles.toSeq.sortBy(_._1).foreach { case (p, s) =>
      files.put(p, s): Unit }
    def arr(name: String, vs: Seq[String]): Unit = {
      val a = node.putArray(name)
      vs.distinct.sorted.foreach(a.add(_): Unit)
    }
    arr("posDeleteFiles", pt.ledger.posDeleteFiles)
    arr("eqDeleteFiles", pt.ledger.eqDeleteFiles)
    store.writeAtomic(
      destRoot.resolve(LedgerDir).resolve(s"ledger-${pt.key.mkString("-")}.json"),
      mapper.writeValueAsBytes(node), overwrite = true): Unit
  }

  /** The ledger for consumed ordinal `consumed` (for a two-part key, the
    * highest second part: metadata-only Iceberg advances reuse the
    * sequence). Also reads the older per-format shapes: a `dataFiles`
    * ARRAY (no signatures) and absent delete-file arrays. */
  def readLedger(destRoot: Path, consumed: Long): Option[Ledger] = {
    val dir = destRoot.resolve(LedgerDir)
    store.listFileNames(dir).collect {
      case n @ LedgerRe(a, b) if a.toLong == consumed =>
        (Option(b).map(_.toLong).getOrElse(-1L), n)
    }.sorted.lastOption.map { case (_, n) =>
      val j = mapper.readTree(
        new String(store.readBytes(dir.resolve(n)), StandardCharsets.UTF_8))
      def strings(field: String): Seq[String] =
        Option(j.get(field)).map(_.elements().asScala.map(_.asText()).toSeq)
          .getOrElse(Nil)
      val data = j.get("dataFiles")
      Ledger(
        if (data.isArray) strings("dataFiles").map(_ -> "").toMap
        else data.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap,
        strings("posDeleteFiles"), strings("eqDeleteFiles"))
    }
  }

  /** Drop ledger snapshots STRICTLY OLDER than `keepFrom`, the previous
    * consumed point (current and previous stay — the previous one covers
    * a sync that crashed between ledger write and commit). Best-effort: a
    * surviving stale file is dead weight, never wrong. */
  def pruneLedgers(destRoot: Path, keepFrom: Long): Unit = {
    val dir = destRoot.resolve(LedgerDir)
    store.listFileNames(dir).foreach {
      case n @ LedgerRe(a, _) if a.toLong < keepFrom =>
        scala.util.Try(store.delete(dir.resolve(n))): Unit
      case _ => ()
    }
  }
}
