package graft.streaming

import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.log.{AddFile, CommitInfo, DeletionVector, RemoveFile}
import graft.table.LakeTable

/** Structured-Streaming source over a graft table — the `spark.readStream
  * .format("delta")` analogue (reference src/streaming_utils.py streams
  * INTO tables; Delta users equally stream FROM them):
  *
  * {{{
  * spark.readStream.format("graft").load(path)            // snapshot + appends
  *   .option("startingVersion", 3)                        // appends from v3 on
  *   .option("startingTimestamp", "2026-01-01 00:00:00")  // first commit at/after
  *   .option("ignoreChanges", "true")                     // tolerate rewrites
  *   .option("ignoreDeletes", "true")                     // skip delete-only commits
  *   .option("followMirror", "true")                      // stream a synced mirror
  * }}}
  *
  * Offsets are table VERSIONS (one long per micro-batch checkpoint): the
  * first batch serves the full snapshot at the stream-start version, every
  * later batch reads exactly the files ADDED by versions `(last, end]` —
  * incremental work is proportional to new data, never to table size, and
  * restart-safe because version ranges are deterministic against the
  * immutable log. Commit classification mirrors Delta's source contract:
  * OPTIMIZE commits are pure rewrites and always skipped; UPDATE / DELETE /
  * MERGE / overwrite commits fail the stream unless `ignoreChanges` accepts
  * re-emitting the rewritten files' rows (downstream dedups by key) or, for
  * remove-only commits, `ignoreDeletes` skips them.
  *
  * The stream serves the stream-start schema; additive evolution upstream
  * keeps working (new columns are simply not selected), dropping a served
  * column fails the stream — same behavior Delta documents.
  */
class GraftStreamSource(
    spark: SparkSession,
    table: LakeTable,
    options: Map[String, String],
    metadataPath: String = "") extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow
    with org.apache.spark.internal.Logging {

  // startingTimestamp mirrors Delta's stream option: the FIRST commit at
  // or after the timestamp (same rule as the batch CDF reader), resolved
  // once at stream start against the monotone in-commit timestamps, then
  // behaves exactly like startingVersion. Accepts epoch millis, full
  // timestamps, and date-only strings ('2026-01-01'), like Delta.
  private val startingVersion: Option[Long] =
    options.get("startingVersion").map(_.toLong).orElse(
      options.get("startingTimestamp").map { ts =>
        val ms = scala.util.Try(ts.toLong).toOption
          .orElse(scala.util.Try(java.sql.Timestamp.valueOf(ts).getTime).toOption)
          .getOrElse(java.sql.Date.valueOf(ts).getTime)
        val latest = table.snapshot().commitTimestamp
        // a timestamp beyond the newest commit is almost always a typo —
        // fail loudly (Delta raises here too) instead of silently serving
        // an empty future-appends-only stream
        require(ms <= latest,
          s"startingTimestamp '$ts' is after the table's latest commit " +
            s"(${new java.sql.Timestamp(latest)}); to stream only future " +
            "changes use startingVersion=<latest version + 1>")
        table.log.versionAtOrAfter(ms)
      })
  private val ignoreChanges = options.get("ignoreChanges").contains("true")
  private val ignoreDeletes = options.get("ignoreDeletes").contains("true")

  /** followMirror=true streams a SYNCED MIRROR (r14 — the convert-once/
    * sync-on-a-cadence story ending at a RUNNING consumer): sync commits
    * are accepted as the append stream they logically are. An in-place
    * sync's adds are exactly the source files absent from the graft live
    * set (net-difference semantics), so emitting them is exactly-once;
    * source-side REMOVES and deletion-vector rebuilds do NOT retract —
    * the consumer sees the mirror's insert stream, the documented trade
    * (use the CDF stream, readChangeFeed=true, for deletes as rows).
    * Rewrite-sync merge commits (lineage-keyed deletes on a followable
    * rewrite destination) emit nothing; its appends are pure appends.
    * Non-sync data-changing commits still fail without ignoreChanges —
    * followMirror does not blanket-accept local DML. */
  private val followMirror = options.get("followMirror").contains("true")
  private val MirrorSyncOps = Set("CONVERT", "DELTA SYNC", "ICEBERG SYNC")
  // followMirror bookkeeping: paths emitted per version by THIS instance,
  // so a remove-then-re-add across syncs inside one run never re-emits.
  // Keyed by version: a replayed batch recomputes its own emission from
  // strictly-earlier entries, never suppressed by its first run. The
  // cumulative cache makes emittedBefore O(delta) amortized; the seed is
  // the live set inherited by the first processed version.
  private val mirrorEmitted =
    scala.collection.mutable.TreeMap.empty[Long, Set[String]]
  private var mirrorSeed: Option[Set[String]] = None
  private var mirrorCache: Set[String] = Set.empty
  private var mirrorCacheV: Long = Long.MinValue
  // removal timestamps for paths this stream has passed, kept for the
  // tombstone retention so the commit-horizon fold (see [[commit]]) can
  // keep recently-removed emitted paths suppressed while dropping old ones
  private val mirrorTombstones = scala.collection.mutable.HashMap.empty[String, Long]
  private val mirrorTombstoneRetentionMs: Long =
    options.get("mirrorTombstoneRetention").map(_.toLong)
      .getOrElse(7L * 24 * 60 * 60 * 1000)

  /** readChangeFeed=true streams row-level CHANGES instead of table rows
    * (Delta's streaming CDF): each batch is `changes((last, end])` with
    * `_change_type` / `_commit_version` / `_commit_timestamp`. Without
    * `startingVersion`, the stream serves changes committed AFTER stream
    * start ("from now on"); with it, history from that version. DML
    * versions written without the CDF table property fail the batch with
    * the same message the batch CDF reader gives. */
  private val readChangeFeed = options.get("readChangeFeed").contains("true")

  /** Admission control (Delta's maxFilesPerTrigger/maxBytesPerTrigger):
    * with either cap set, offsets become (version, fileIndex) positions so
    * one micro-batch serves at most the cap — the initial snapshot of a
    * 100 TB table arrives as many bounded batches instead of one monster
    * batch. Without caps, offsets stay plain versions (legacy format;
    * existing checkpoints keep working, and a capped restart understands
    * a legacy checkpoint). Byte caps admit at least one file per batch so
    * a single oversized file cannot stall the stream. */
  private val maxFilesPerTrigger: Option[Int] =
    options.get("maxFilesPerTrigger").map(_.toInt)
  private val maxBytesPerTrigger: Option[Long] =
    options.get("maxBytesPerTrigger").map(_.toLong)
  maxFilesPerTrigger.foreach(v =>
    require(v > 0, s"maxFilesPerTrigger must be positive, got $v"))
  maxBytesPerTrigger.foreach(v =>
    require(v > 0, s"maxBytesPerTrigger must be positive, got $v"))
  private val rateLimited = maxFilesPerTrigger.nonEmpty || maxBytesPerTrigger.nonEmpty

  /** Schema is fixed per RUN (snapshot at source creation): mid-run
    * additive evolution keeps serving these columns (getBatch conforms by
    * name; pre-evolution files read missing columns as NULL), and a
    * RESTART picks up the table's evolved schema — Delta's documented
    * restart behavior. The V1 contract computes the plan schema via
    * `sourceSchema` outside the metadata path, so cross-run pinning is
    * not expressible here; per-run consistency is what the engine
    * asserts and what sinks rely on. */
  override val schema: StructType =
    if (readChangeFeed) table.cdfReadSchema else table.snapshot().schema

  private def toLong(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  // ------------------------------------------------ rate-limited positions

  /** A position in the stream's deterministic file sequence: the snapshot
    * unit (files of snapshot(snapVersion), path-sorted) when
    * `version == snapVersion`, else the adds of `version` in log order;
    * `index` files of the current unit are already served. `snapVersion`
    * is -1 for startingVersion streams (no snapshot unit). */
  private case class Pos(version: Long, index: Int, snapVersion: Long) {
    def json: String =
      s"""{"version":$version,"index":$index,"snapVersion":$snapVersion}"""
  }

  private val posRe =
    """\{"version":(-?\d+),"index":(\d+),"snapVersion":(-?\d+)\}""".r

  /** Parse either offset format; a legacy long offset means "version v
    * fully served (snapshot included)". */
  private def toPos(o: Offset): Pos = o.json.trim match {
    case posRe(v, i, sv) => Pos(v.toLong, i.toInt, sv.toLong)
    case s => Pos(s.toLong + 1, 0, -1L)
  }

  /** The snapshot unit is immutable per version — memoize it so the
    * per-trigger capped walk doesn't replay the log every getOffset while
    * a large snapshot is being served in chunks. */
  @volatile private var snapUnitCache: (Long, Seq[AddFile]) = (-1L, Nil)

  private def unitFiles(pos: Pos): Seq[AddFile] =
    if (pos.version == pos.snapVersion) {
      if (snapUnitCache._1 != pos.snapVersion)
        snapUnitCache =
          (pos.snapVersion, table.snapshot(Some(pos.snapVersion)).files.sortBy(_.path))
      snapUnitCache._2
    } else addsFor(pos.version)

  /** Walk forward from `from`, admitting whole files until a cap (or the
    * log end) is hit; exhausted units normalize to (version+1, 0) so a
    * position is always within its unit's bounds. */
  private def capped(from: Pos, maxVersion: Long = Long.MaxValue): Pos = {
    val latest = math.min(table.version, maxVersion)
    val maxF = maxFilesPerTrigger.getOrElse(Int.MaxValue)
    val maxB = maxBytesPerTrigger.getOrElse(Long.MaxValue)
    var (v, i) = (from.version, from.index)
    var files = 0
    var bytes = 0L
    var full = false
    while (v <= latest && !full) {
      val unit = unitFiles(Pos(v, i, from.snapVersion))
      while (i < unit.size && !full) {
        val f = unit(i)
        if (files > 0 && (files + 1 > maxF || bytes + f.size > maxB)) full = true
        else { files += 1; bytes += f.size; i += 1 }
      }
      if (!full && i >= unit.size) { v += 1; i = 0 }
    }
    Pos(v, i, from.snapVersion)
  }

  /** Last position handed to Spark (WAL-logged by the engine). After a
    * restart whose final batch committed, the V1 API gives the source no
    * start position at getOffset time — [[walEnd]] recovers it from the
    * checkpoint's own offsets log so catch-up batches stay capped; only
    * if the WAL is unreadable does the first batch fall back to serving
    * the whole backlog (it must never regress behind the unknown
    * committed position). */
  private var lastEnd: Option[Pos] = None

  /** Checkpoint IO goes through the Hadoop FileSystem of the metadata
    * path, so non-local checkpoint schemes (hdfs://, s3a://) resolve to
    * the real store — a locally-resolved marker would silently report
    * hasRunBefore=false after restart and re-pin a fresh snapshot
    * (duplicate delivery). `metadataPath` is `<ck>/sources/<srcIdx>`. */
  private def metaFsPath: Option[(org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path)] =
    if (metadataPath.isEmpty) None
    else {
      val p = new org.apache.hadoop.fs.Path(metadataPath)
      Some(p.getFileSystem(spark.sessionState.newHadoopConf()) -> p)
    }

  private def markerOf(m: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(m, "graft-stream-start")
  private def offsetsDirOf(m: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(m.getParent.getParent, "offsets")

  /** Newest WAL-logged end offset for THIS source, read from the
    * checkpoint's offsets log (format: "v1", metadata json, then one
    * offset line per source — the source index is this metadata dir's
    * name). An uncommitted newest entry is equally safe to resume from:
    * the engine re-runs that exact batch via getBatch, which re-syncs
    * `lastEnd` before this is ever consulted. The "v1" header is validated
    * so a future engine format change fails the Try (and the caller warns)
    * instead of mis-parsing. */
  private def walEnd(): Option[Pos] = metaFsPath.flatMap { case (fs, m) =>
    scala.util.Try {
      val dir = offsetsDirOf(m)
      val ids = fs.listStatus(dir).map(_.getPath.getName)
        .flatMap(n => scala.util.Try(n.toLong).toOption)
      val in = fs.open(new org.apache.hadoop.fs.Path(dir, ids.max.toString))
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      require(lines.headOption.exists(_.trim == "v1"),
        s"unexpected offsets log header: ${lines.headOption.getOrElse("<empty>")}")
      val srcIdx = scala.util.Try(m.getName.toInt).getOrElse(0)
      val off = lines(2 + srcIdx).trim
      require(off != "-")
      toPos(SerializedOffset(off))
    }.toOption
  }

  /** True when this checkpoint has offsets from a previous run — the
    * engine knows a committed position this source object does not. */
  private def hasRunBefore: Boolean = metaFsPath.exists { case (fs, m) =>
    def exists(p: org.apache.hadoop.fs.Path) =
      scala.util.Try(fs.exists(p)).getOrElse(false)
    def nonEmptyDir(p: org.apache.hadoop.fs.Path) =
      scala.util.Try(fs.listStatus(p).nonEmpty).getOrElse(false)
    exists(markerOf(m)) || nonEmptyDir(offsetsDirOf(m))
  }

  /** A torn/corrupt marker (crash mid-write) parses to None — treated as
    * "unknown snapshot version", never a stream-killing exception. */
  private def readMarker(): Option[Long] = metaFsPath.flatMap { case (fs, m) =>
    scala.util.Try {
      val in = fs.open(markerOf(m))
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      s.trim.toLong
    }.toOption
  }

  /** First-wins marker write: temp file + rename (atomic on HDFS/local —
    * the same primitive the engine's own WAL relies on), so no crash can
    * leave a half-written marker behind. */
  private def writeMarker(v: Long): Unit = metaFsPath.foreach { case (fs, m) =>
    val p = markerOf(m)
    if (!fs.exists(p)) {
      fs.mkdirs(m)
      val tmp = new org.apache.hadoop.fs.Path(
        m, s".marker-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = fs.create(tmp, false)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, p)) fs.delete(tmp, false): Unit
    }
  }

  private def rateLimitedOffset(): Option[Offset] = {
    val end = lastEnd match {
      case Some(last) => capped(last)
      case None if hasRunBefore =>
        // committed restart: recover the engine's position from its own
        // offsets log and keep capping; if the WAL is unreadable, offer
        // everything (getBatch still receives the true committed start)
        walEnd() match {
          case Some(committed) => capped(committed)
          case None =>
            logWarning("graft stream source: checkpoint has prior offsets " +
              "but the engine WAL could not be parsed — serving the " +
              "remaining backlog as one uncapped catch-up batch")
            Pos(table.version + 1, 0, readMarker().getOrElse(-1L))
        }
      case None =>
        val start = startingVersion match {
          case Some(sv) => Pos(sv, 0, -1L)
          case None => val v0 = table.version; Pos(v0, 0, v0)
        }
        writeMarker(start.snapVersion)
        capped(start)
    }
    lastEnd = Some(end)
    Some(new Offset { override def json: String = end.json })
  }

  // The V1 entry point (kept for direct use); the engine itself drives the
  // SupportsAdmissionControl path below, which also rate-limits CDF streams
  // at version granularity.
  override def getOffset: Option[Offset] =
    if (rateLimited && !readChangeFeed) rateLimitedOffset()
    else Some(LongOffset(table.version))

  // ------------------------- admission control + Trigger.AvailableNow
  //
  // Implementing SupportsAdmissionControl moves the engine onto
  // latestOffset(start, limit) — unlike V1 getOffset it HANDS us the last
  // WAL-logged position, so restarts stay capped without the offsets-log
  // fallback — and SupportsTriggerAvailableNow makes Trigger.AvailableNow
  // drain the backlog in capped chunks and then stop (the FileStreamSource
  // pattern; a plain V1 source under the engine's generic wrapper would
  // stop after the FIRST capped chunk, stranding the rest of the backlog).

  /** Versions beyond this pin are not served — set once per
    * Trigger.AvailableNow run at query start. */
  @volatile private var availableNowCap: Long = Long.MaxValue

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = table.version
  }

  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case (Some(f), Some(b)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
      case _ => ReadLimit.allAvailable()
    }

  override def initialOffset(): OffsetV2 = LongOffset(-1L)

  override def deserializeOffset(json: String): OffsetV2 = SerializedOffset(json)

  override def commit(end: OffsetV2): Unit = ()

  /** CDF admission control operates at VERSION granularity (a change
    * batch is a set of whole commits): admit versions until their
    * change-carrying file count / add-file bytes exceed the caps, always
    * at least one version. `from` = newest version already served. */
  private def cdfCappedEnd(from: Long): Long = {
    val latest = math.min(table.version, availableNowCap)
    if (!rateLimited) return latest
    val maxF = maxFilesPerTrigger.getOrElse(Int.MaxValue)
    val maxB = maxBytesPerTrigger.getOrElse(Long.MaxValue)
    var v = from
    var files = 0
    var bytes = 0L
    while (v < latest) {
      val actions = table.log.readVersion(v + 1)
      val fCount = actions.count(a =>
        a.isInstanceOf[AddFile] || a.isInstanceOf[graft.log.CdfFile])
      val bCount = actions.collect { case a: AddFile => a.size }.sum
      if (files > 0 && (files + fCount > maxF || bytes + bCount > maxB)) return v
      files += fCount; bytes += bCount; v += 1
    }
    v
  }

  /** `startOffset` is the engine's last end (null on a fresh stream). The
    * caps here are the source's own options — the passed limit restates
    * [[getDefaultReadLimit]]. */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 =
    if (readChangeFeed) {
      val from = Option(startOffset).map(o => toLong(SerializedOffset(o.json)))
        .getOrElse(startingVersion.map(_ - 1L)
          .getOrElse(math.min(table.version, availableNowCap)))
      LongOffset(cdfCappedEnd(from))
    } else if (!rateLimited) LongOffset(math.min(table.version, availableNowCap))
    else {
      val from = Option(startOffset) match {
        case Some(o) => toPos(SerializedOffset(o.json))
        case None => startingVersion match {
          case Some(sv) => Pos(sv, 0, -1L)
          case None =>
            // first trigger pins the snapshot; a crash before the first WAL
            // entry re-reads the marker instead of re-pinning
            val v0 = readMarker().getOrElse {
              val v = table.version; writeMarker(v); v
            }
            Pos(v0, 0, v0)
        }
      }
      val end = capped(from, availableNowCap)
      lastEnd = Some(end) // keep the V1 cursor coherent for getBatch
      new Offset { override def json: String = end.json }
    }

  /** Paths this followMirror stream has delivered STRICTLY before `v`:
    * the per-version emission ledger folded through an incremental cache
    * (O(delta) amortized — a flatten per call would go quadratic with
    * stream age), seeded once with the live set the stream's FIRST
    * processed version inherited (the initial snapshot is served outside
    * [[addsFor]], so its paths would otherwise be unknown here). A batch
    * REPLAYED below the cache point recomputes from the ledger exactly.
    * Memory is O(paths ever emitted) — the same class as the table's own
    * driver-side file list. */
  private def emittedBefore(v: Long): Set[String] = {
    if (mirrorEmitted.isEmpty && mirrorSeed.isEmpty) {
      mirrorSeed = Some(
        if (v == 0) Set.empty[String] // CONVERT itself: everything is new
        else table.snapshot(Some(v - 1)).files.map(_.path).toSet)
      mirrorCache = mirrorSeed.get
    }
    if (v >= mirrorCacheV) {
      mirrorEmitted.range(mirrorCacheV, v).valuesIterator
        .foreach(s => mirrorCache ++= s)
      mirrorCacheV = v
      mirrorCache
    } else // replayed batch below the cache point: exact recomputation
      mirrorSeed.getOrElse(Set.empty) ++
        mirrorEmitted.rangeUntil(v).valuesIterator.flatten
  }

  /** AddFiles a streaming reader must emit for ONE committed version. */
  private def addsFor(v: Long): Seq[AddFile] = {
    val actions = table.log.readVersion(v)
    val ci = actions.collectFirst { case c: CommitInfo => c }
    val op = ci.map(_.operation).getOrElse("")
    val adds = actions.collect { case a: AddFile => a }
    // dv/* tombstones ride every DV commit; the DeletionVector actions are
    // the real data-change signal
    val dataRemoves = actions.collect {
      case r: RemoveFile if !r.path.startsWith("dv/") => r }
    val dvChanged = actions.exists(_.isInstanceOf[DeletionVector])
    val out: Seq[AddFile] =
      if (op == "OPTIMIZE") Nil // dataChange=false: same rows, new files
      else if (dataRemoves.isEmpty && !dvChanged) adds // pure append / meta
      else if (followMirror && MirrorSyncOps(op)) adds // filtered below
      else if (followMirror && ci.exists(_.operationParameters
          .get("txnAppId")
          .exists(_.startsWith(graft.migrate.Mirror.AppIdPrefix)))) Nil
        // a rewrite-sync MERGE only deletes rows (its re-adds are
        // rewritten files whose rows already streamed — emitting them
        // would duplicate); the rewrite-sync APPEND is a pure append
      else if (ignoreChanges) adds
      else if (adds.isEmpty && ignoreDeletes) Nil
      else throw new IllegalStateException(
        s"streaming source saw a data-changing $op commit at version $v; " +
          "set ignoreChanges=true to re-emit rewritten rows, " +
          "ignoreDeletes=true for remove-only commits, or — on an " +
          "imported mirror synced on a cadence — followMirror=true to " +
          "stream the mirror's append stream (source-side deletes do not " +
          "retract)")
    if (!followMirror) out
    else {
      // net-NEW paths only, on EVERY emitting branch (a pure-append
      // commit can also re-add a removed path — a Delta RESTORE): a sync
      // may RE-ADD a path it already served (a Delta-side DELETE
      // refreshes the same file's descriptor and stats) and emitting a
      // re-add would duplicate rows the stream already delivered and
      // never retracted. Keyed by version so a REPLAYED batch recomputes
      // the same emission. Residual boundary, documented: after a
      // RESTART, a path removed before the checkpoint and re-added after
      // it re-emits — use the CDF stream when the source restores.
      val emitted = emittedBefore(v)
      val fresh = out.filterNot(a => emitted(a.path))
      mirrorEmitted(v) = fresh.map(_.path).toSet
      // record removal times for the commit-horizon fold's tombstone
      // retention (idempotent under batch replay — same paths, same times)
      val rmTs = ci.map(_.timestamp).getOrElse(System.currentTimeMillis())
      dataRemoves.foreach(r => mirrorTombstones(r.path) =
        if (r.deletionTimestamp > 0) r.deletionTimestamp else rmTs)
      fresh
    }
  }

  private def appendsBetween(from: Long, to: Long): DataFrame = {
    val files = (from to to).flatMap(addsFor)
    // a mirror-sync commit can add a file AND its imported mask in the
    // same commit (Iceberg position deletes land as graft vectors with
    // the zero-copy add): under followMirror the appends serve MASKED at
    // the range's end snapshot — a raw read would stream rows that were
    // never live in the mirror. Masks arriving AFTER this batch never
    // retract, by the followMirror contract.
    if (followMirror) table.readFilesMasked(table.snapshot(Some(to)),
      files, schema)
    else table.readFilesAs(files, schema)
  }

  /** Changes in [from, endV] as CDF rows; empty frame on an empty range. */
  private def changesBetween(from: Long, endV: Long): DataFrame =
    if (from > endV) table.emptyCdfFrame
    else table.changes(from, Some(endV))

  /** Files in positions [st, end): snapshot-unit files (served masked, the
    * snapshot's DVs apply) separated from appended-version files (served
    * as written, matching the uncapped contract). */
  private def filesBetween(st: Pos, end: Pos): (Seq[AddFile], Seq[AddFile]) = {
    val snapBuf = Seq.newBuilder[AddFile]
    val addBuf = Seq.newBuilder[AddFile]
    var v = st.version
    var i = st.index
    while (v < end.version || (v == end.version && i < end.index)) {
      val unit = unitFiles(Pos(v, i, end.snapVersion))
      val hi = if (v == end.version) math.min(end.index, unit.size) else unit.size
      val chunk = unit.slice(i, hi)
      if (v == end.snapVersion) snapBuf ++= chunk else addBuf ++= chunk
      v += 1
      i = 0
    }
    (snapBuf.result(), addBuf.result())
  }

  private def positionalBatch(start: Option[Offset], endP: Pos): DataFrame = {
    val stP = start.map(toPos).getOrElse(
      if (endP.snapVersion >= 0) Pos(endP.snapVersion, 0, endP.snapVersion)
      else Pos(startingVersion.getOrElse(endP.version), 0, -1L))
    val (snapChunk, addChunk) = filesBetween(stP, endP)
    // under followMirror the appended files serve MASKED too (a sync
    // commit can add a file with its imported mask; see appendsBetween).
    // Mask version: the newest committed version this batch range covers
    // (end.index > 0 means end.version itself contributed files and is
    // committed) — deterministic, so a replayed batch serves identically.
    val added =
      if (followMirror && addChunk.nonEmpty)
        table.readFilesMasked(
          table.snapshot(Some(math.max(
            if (endP.index > 0) endP.version else endP.version - 1,
            endP.snapVersion))),
          addChunk, schema)
      else table.readFilesAs(addChunk, schema)
    if (snapChunk.isEmpty) added
    else table.readFilesMasked(
      table.snapshot(Some(endP.snapVersion)), snapChunk, schema)
      .unionByName(added)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val batch = if (end.json.trim.startsWith("{")) {
      val endP = toPos(end)
      lastEnd = Some(endP) // WAL recovery path: re-sync the capped cursor
      positionalBatch(start, endP)
    } else if (start.exists(_.json.trim.startsWith("{"))) {
      // caps removed on a capped checkpoint: finish from the positional
      // start through endV as one positional batch
      val stP = toPos(start.get)
      positionalBatch(start, Pos(toLong(end) + 1, 0, stP.snapVersion))
    } else {
      val endV = toLong(end)
      (start.map(toLong), readChangeFeed) match {
        case (Some(s), true) => changesBetween(s + 1, endV)
        case (None, true) => changesBetween(startingVersion.getOrElse(endV + 1), endV)
        case (Some(s), false) => appendsBetween(s + 1, endV)
        case (None, false) => startingVersion match {
          case Some(sv) => appendsBetween(sv, endV)
          case None => table.read(version = Some(endV)) // initial snapshot
        }
      }
    }
    val conformed = batch.select(schema.fieldNames.toIndexedSeq
      .map(org.apache.spark.sql.functions.col): _*)
    org.apache.spark.sql.graft.StreamingDf.asStreaming(spark, conformed)
  }

  /** Checkpoint horizon hook — bounds the followMirror emission ledger
    * (r15; the r14 ledger was O(paths ever emitted) driver memory, growing
    * without limit on a year-long mirror stream over a churning table).
    * Once the engine commits `end`, no batch at or below it can ever
    * replay, so the per-version entries at or below the horizon collapse
    * into one baseline set: the table's LIVE set at the horizon (re-adds
    * of any live path must stay suppressed — descriptor refreshes) plus
    * the recently-REMOVED emitted paths still inside the tombstone
    * retention (remove-then-re-add across syncs stays suppressed within
    * it — the property the mirror contract tests). A re-add of a path
    * removed longer ago than the retention re-emits: the same boundary
    * class as Delta's vacuum-retention-vs-RESTORE, and the price of
    * bounded memory — O(live + removals within the retention window +
    * versions past the horizon) instead of O(paths ever emitted).
    * Retention: `mirrorTombstoneRetention` stream option (ms), default
    * 7 days. */
  override def commit(end: Offset): Unit =
    if (followMirror && (mirrorEmitted.nonEmpty || mirrorSeed.nonEmpty)) {
      // toPos(end).version may be only PARTIALLY served (capped offsets);
      // versions strictly below it are fully committed
      val horizon = toPos(end).version - 1
      val cutoff = System.currentTimeMillis() - mirrorTombstoneRetentionMs
      mirrorTombstones.filterInPlace((_, ts) => ts >= cutoff)
      if (horizon >= 0 && mirrorEmitted.rangeTo(horizon).nonEmpty) {
        // best-effort: an unresolvable old version (log checkpoint-
        // compacted past it) skips the fold — the ledger just prunes at
        // the next commit whose horizon still resolves
        scala.util.Try(table.snapshot(Some(horizon)).files.map(_.path).toSet)
          .foreach { live =>
            val folded = mirrorSeed.getOrElse(Set.empty) ++
              mirrorEmitted.rangeTo(horizon).valuesIterator.flatten
            val seed = live ++ (folded & mirrorTombstones.keySet)
            mirrorSeed = Some(seed)
            mirrorEmitted.rangeTo(horizon).keys.toList
              .foreach(mirrorEmitted.remove)
            mirrorCache = seed
            mirrorCacheV = horizon + 1 // cache == emissions strictly before this
          }
      }
    }
  override def stop(): Unit = ()

  /** Ledger footprint (paths held), exposed for the boundedness spec. */
  private[streaming] def mirrorStateSize: Int =
    mirrorSeed.map(_.size).getOrElse(0) +
      mirrorEmitted.valuesIterator.map(_.size).sum + mirrorTombstones.size
  override def toString: String = s"GraftStreamSource[${table.dir}]"
}
