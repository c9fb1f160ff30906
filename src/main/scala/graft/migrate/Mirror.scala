package graft.migrate

import java.nio.charset.StandardCharsets
import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

import graft.log.{AddFile, CommitInfo, DeletionVector, Protocol, Snapshot, Stats, TxLog}
import graft.table.LakeTable

/** The commit protocol every foreign-table mirror shares, Delta and Iceberg
  * alike: each format replays its own log or metadata into a live set, and
  * this object turns that into graft commits — the zero-copy CONVERT
  * ([[convertCommit]]), the in-place net-diff sync ([[NetSync]]), and the
  * followable rewrite ([[convertRewrite]], [[syncRewrite]]). */
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
    * duplicating (TOCTOU). */
  def requireNotDiverged(commits: Seq[CommitInfo], syncOps: Set[String],
      kind: String): Unit = {
    val syncPoint = commits.filter(c => syncOps.contains(c.operation))
      .map(_.version).maxOption.getOrElse(-1L)
    val diverging = commits.filter(_.version > syncPoint)
      .filterNot(c => FileSetNeutralOps(c.operation))
    require(diverging.isEmpty,
      s"graft-side commit(s) ${diverging.map(c =>
        s"v${c.version} ${c.operation}").mkString(", ")} changed the " +
        s"table since the last $kind sync — local writes are the " +
        "cut-over moment; this table can no longer mirror the source " +
        "(re-import into a fresh directory to keep syncing)")
  }

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
    requireNotDiverged(t.snapshot().commits, syncOps(keys.kind), keys.kind)
    (t, consumed)
  }

  /** The `live` entries `snap` lacks, and the paths `live` dropped. */
  def netDiff[A](snap: Snapshot, live: Seq[(String, A)]): (Seq[(String, A)], Seq[String]) = {
    val mirrored = snap.files.map(_.path).toSet
    (live.filterNot(e => mirrored(e._1)), (mirrored -- live.map(_._1)).toSeq)
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
    * file-set-neutral housekeeping set, and OPTIMIZE/REORG. */
  def requireRewriteNotDiverged(dest: LakeTable): Unit = {
    val rowPreserving = Set("OPTIMIZE", "REORG")
    val diverging = dest.snapshot().commits.filterNot { c =>
      c.operation == "CREATE TABLE" ||
        FileSetNeutralOps(c.operation) ||
        rowPreserving(c.operation) ||
        c.operationParameters.get("txnAppId").exists(_.startsWith(AppIdPrefix))
    }
    require(diverging.isEmpty,
      s"graft-side commit(s) ${diverging.map(c =>
        s"v${c.version} ${c.operation}").mkString(", ")} changed this " +
        "rewrite destination's rows — local DML is the cut-over moment; " +
        "the table can no longer mirror its source (re-import into a " +
        "fresh directory to keep syncing)")
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

  /** The zero-copy import: ONE graft commit at version 0 materializing the
    * source's live snapshot under `root`, sharing every data file in
    * place. Masks were written before it — a lost CAS leaves an orphan
    * vector file, never a bad commit — and a lost race with a concurrent
    * import returns theirs. */
  def convertCommit(spark: SparkSession, dir: String, root: Path,
      tableId: String, schema: StructType, partitionColumns: Seq[String],
      properties: Map[String, String], sourceFormat: String,
      sourceVersion: Long, adds: Seq[AddFile],
      dvs: Seq[DeletionVector]): LakeTable = {
    val now = System.currentTimeMillis()
    val meta = graft.log.Metadata(tableId, root.getFileName.toString,
      schema.json, partitionColumns, properties, now)
    val ci = CommitInfo(0L, now, "CONVERT",
      Map("numFiles" -> adds.size.toString,
        "sourceFormat" -> sourceFormat,
        "numDeletionVectors" -> dvs.size.toString,
        "sourceVersion" -> sourceVersion.toString), Map.empty, -1L,
      LakeTable.currentUser, false, java.util.UUID.randomUUID().toString)
    val proto = Protocol.withDvDescriptors(
      protocolFor(Protocol.Current, meta.properties, dvs.nonEmpty), dvs)
    new TxLog(root).tryCommit(0L, ci +: proto +: meta +: (adds ++ dvs)): Unit
    LakeTable.forPath(spark, dir)
  }

  /** One in-place sync as ONE net-diff commit: `adds` land zero-copy,
    * still-live `removes` leave, `dvs` land, and every graft mask on a
    * `clearable` path that `dvs` does not replace clears. The `consumed`
    * properties advance in the same commit, so the sync is atomic and a
    * re-run stands down. A followable schema change applies onto the
    * CURRENT schema (by field id when `mapped`), so local field metadata a
    * file-set-neutral commit stamped meanwhile (a column DEFAULT) survives;
    * `maxIdFloor` is the source's id high-water mark ([[maxIdProp]]). */
  case class NetSync(kind: String, syncOps: Set[String],
      params: Map[String, String], consumed: Map[String, String],
      alreadyConsumed: Map[String, String] => Boolean,
      adds: Seq[AddFile], dvs: Seq[DeletionVector],
      clearable: String => Boolean, removes: Seq[String],
      incoming: StructType, evolved: Boolean, mapped: Boolean,
      maxIdFloor: Option[Long], sourceProps: Map[String, String] = Map.empty) {

    def op: String = s"${kind.toUpperCase} SYNC"

    def commit(t: LakeTable, snap0: Snapshot): Long = {
      val now = System.currentTimeMillis()
      val maskedNow = dvs.map(_.forFile).toSet
      try {
        t.commitWithRetry(op, params, snap0,
          Map("numAddedFiles" -> adds.size.toLong,
            "numRemovedFiles" -> removes.size.toLong)) { s =>
          // a racing sync already consumed this state: stand down, no-op
          if (alreadyConsumed(s.metadata.properties))
            throw new LakeTable.EpochAlreadyCommitted
          // TOCTOU closure re-check: a local write that landed after the
          // entry guard makes this retry refuse instead of duplicating rows
          requireNotDiverged(s.commits, syncOps, kind)
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
    * the consumed-state properties that record it. */
  case class SourcePoint(key: Seq[Long], ledger: Ledger,
      advance: Map[String, String]) {
    def target: Long = key.head
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
    def point: SourcePoint
    /** Refusals that need the diff; they run before any mutation. */
    def check(d: LedgerDiff): Unit = ()
    /** Row-level deletes beyond whole-file removal, after the lineage
      * DELETE (Iceberg's position and equality deletes). */
    def deleteRows(dest: LakeTable, d: LedgerDiff): Unit = ()
    /** The rewritten rows of `d.back`, with lineage. */
    def rows(d: LedgerDiff): DataFrame
  }

  private def absolute(dir: String): Path = Paths.get(dir).toAbsolutePath.normalize

  /** `base` plus the format's lineage columns, refusing a source column
    * that collides with one. */
  def withLineage(base: StructType, keys: FollowKeys): StructType = {
    keys.lineage.foreach { n =>
      require(!base.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"source column '$n' collides with the lineage column a " +
          "followable rewrite adds — import with follow = false, or " +
          "rename the source column")
    }
    StructType(base.fields ++ keys.lineage.map(n =>
      StructField(n, if (n == SrcFileCol) StringType else LongType)))
  }

  /** The rewrite-import skeleton: create the destination at `destDir` and
    * append `rows` (None: the source has no live files — an empty table,
    * its schema and layout fully known). Creation refuses an existing
    * destination, so a retried migration fails LOUDLY instead of
    * appending the whole dataset a second time.
    *
    * With `follow` the destination is built to be SYNCABLE by
    * [[syncRewrite]]: every row carries its source LINEAGE as ordinary
    * columns ([[SrcFileCol]] and kin — what later source-side removes and
    * row-level deletes key on), the consumed source state records in the
    * table properties, and the ledger of the imported point writes BEFORE
    * the data commit — a crash in between leaves a stray ledger file
    * (harmless: reads key on the CONSUMED property) but never a synced
    * table without its ledger. The storage cost (a dictionary-encoded path
    * plus a delta-encoded long or two per row) is the price of
    * followability; a one-shot migration should keep `follow = false`. */
  def convertRewrite(spark: SparkSession, srcRoot: Path, destDir: String,
      keys: FollowKeys, follow: Option[SourcePoint], base: StructType,
      partitionColumns: Seq[String], properties: Map[String, String],
      rows: => Option[DataFrame]): LakeTable = {
    val schema = if (follow.isEmpty) base else withLineage(base, keys)
    val followProps = follow.map(pt => Map(keys.follow -> "true",
      keys.source -> srcRoot.toString) ++ pt.advance).getOrElse(Map.empty)
    val typed = rows
    follow.foreach(writeLedger(absolute(destDir), _))
    val dest = LakeTable.create(spark, destDir, schema,
      partitionColumns = partitionColumns,
      properties = properties ++ followProps, ifNotExists = false)
    typed.foreach { df =>
      follow match {
        case Some(pt) => dest.appendWithProps(df, _ => Map.empty,
          Some(AppendAppId), Some(pt.target)): Unit
        case None => dest.append(df): Unit
      }
    }
    dest
  }

  /** The followable-rewrite sync skeleton. `plan` replays the source and
    * runs the format's checks (None: already consumed). The consumed
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
  def syncRewrite(spark: SparkSession, srcDir: String, destDir: String,
      keys: FollowKeys)(plan: (LakeTable, Path, Long) => Option[RewriteSteps]): Long = {
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
    requireRewriteNotDiverged(dest)
    val steps = plan(dest, root, consumed).getOrElse {
      // up to date; a sync that crashed after its last commit finishes
      // its ledger pruning here
      pruneLedgers(destRoot, consumed)
      return dest.version
    }
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
    val pt = steps.point
    val d = LedgerDiff(prev, pt.ledger)
    steps.check(d)
    writeLedger(destRoot, pt)
    if (d.gone.nonEmpty) {
      import spark.implicits._
      dest.merge(d.gone.toDF("rm_file"),
        expr(s"target.`$SrcFileCol` = source.rm_file"))
        .whenMatchedDelete()
        .withTxn(RemoveAppId, pt.target)
        .execute(): Unit
    }
    steps.deleteRows(dest, d)
    if (d.back.nonEmpty)
      dest.appendWithProps(steps.rows(d), _ => pt.advance,
        Some(AppendAppId), Some(pt.target)): Unit
    else dest.setProperties(pt.advance): Unit
    pruneLedgers(destRoot, consumed)
    dest.version
  }

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
