package graft.log

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types.{DataType, StructType}

/** Snapshot of a table at one version: its STATE only — last protocol and
  * metadata, live files and deletion vectors (keyed by the data file's
  * relative path), domains, each idempotent writer's last committed
  * version (`txns`, Delta's SetTransaction), the source paths COPY INTO
  * has loaded (`copied`) and the newest commit's in-commit timestamp.
  * Commit history is not state: it stays in the commit files, and
  * readers open only the range they need through [[TxLog.history]]. */
case class Snapshot(
    version: Long,
    metadata: Metadata,
    files: Seq[AddFile],
    dvs: Map[String, DeletionVector] = Map.empty,
    protocol: Protocol = Protocol.Current,
    domains: Map[String, String] = Map.empty,
    txns: Map[String, Long] = Map.empty,
    copied: Set[String] = Set.empty,
    commitTimestamp: Long = 0L)(@transient private val log: TxLog) {
  def schema: StructType = DataType.fromJson(metadata.schemaJson).asInstanceOf[StructType]
  def numFiles: Int = files.size
  def sizeInBytes: Long = files.map(_.size).sum
  def numRecords: Long = files.map(_.numRecords).sum - dvs.values.map(_.numDeleted).sum
  /** The whole commit history up to this version, read from the commit
    * files on first use — O(history). For specs and whole-history tools;
    * engine paths read the range they need through [[TxLog.history]]. */
  @transient lazy val commits: Seq[CommitInfo] = log.history(0L, version)
}

/** The one fold from log actions to table state. Checkpoint bases,
  * commit tails and a writer's own post-commit state all apply their
  * actions through it, so every resolution path yields the same
  * [[Snapshot]]. A checkpoint written before history left them still
  * carries `CommitInfo` lines; they fold into `txns`, `copied` and the
  * commit timestamp exactly as a commit's own record does. */
private[log] final class Replay(log: TxLog) {
  private var meta: Metadata = null
  // pre-protocol tables (no action anywhere in the log) read as (1, 1)
  private var proto: Protocol = Protocol(1, 1)
  private val live = mutable.LinkedHashMap.empty[String, AddFile]
  private val dvs = mutable.LinkedHashMap.empty[String, DeletionVector]
  private val domains = mutable.LinkedHashMap.empty[String, String]
  private val txns = mutable.HashMap.empty[String, Long]
  // immutable: a fold from a base shares its set instead of copying it
  private var copied = Set.empty[String]
  private var commitTs = 0L

  def this(log: TxLog, base: Snapshot) = {
    this(log)
    meta = base.metadata
    proto = base.protocol
    base.files.foreach(f => live(f.path) = f)
    dvs ++= base.dvs
    domains ++= base.domains
    txns ++= base.txns
    copied = base.copied
    commitTs = base.commitTimestamp
  }

  private def txn(appId: String, v: Long): Unit =
    if (txns.get(appId).forall(_ < v)) txns(appId) = v

  def add(a: Action): Unit = a match {
    case m: Metadata       => meta = m
    case f: AddFile        => live(f.path) = f
    case r: RemoveFile     => live.remove(r.path); dvs.remove(r.path): Unit
    case c: CommitInfo     =>
      commitTs = c.timestamp
      for (app <- c.operationParameters.get("txnAppId");
           v <- c.operationParameters.get("txnVersion")
             .flatMap(x => scala.util.Try(x.toLong).toOption)) txn(app, v)
      if (c.operation == "COPY INTO")
        c.operationParameters.get("copiedFiles")
          .foreach(fs => copied ++= fs.split('\n').iterator.filter(_.nonEmpty))
    case t: SetTransaction => txn(t.appId, t.version)
    case c: CopiedFiles    => copied ++= c.paths
    case d: DeletionVector =>
      if (d.clears) dvs.remove(d.forFile): Unit else dvs(d.forFile) = d
    case p: Protocol       => proto = p
    case d: DomainMetadata =>
      if (d.removed) domains.remove(d.domain): Unit else domains(d.domain) = d.config
    case h: CheckpointMeta => Option(h.commitTimestamp).foreach(t => commitTs = t)
    case _: CdfFile        => // only consumed by cdf scans
    case _: Sidecar        => // inlined by readCheckpoint, never applied
  }

  /** The state at `version`, past the reader's forward-compat gate. */
  def result(version: Long): Snapshot = {
    require(meta != null, s"no metadata action found in ${log.tableDir}")
    // refuse to interpret a table whose log demands reader features this
    // engine does not implement
    if (proto.minReaderVersion > Protocol.SupportedReader)
      throw new IllegalStateException(
        s"table ${log.tableDir} requires minReaderVersion=${proto.minReaderVersion} " +
          s"but this engine supports ${Protocol.SupportedReader} — upgrade the library")
    val unknownReader = proto.readerSet -- Protocol.SupportedReaderFeatures
    if (unknownReader.nonEmpty)
      throw new IllegalStateException(
        s"table ${log.tableDir} requires reader feature(s) ${unknownReader.toSeq.sorted.mkString(", ")} " +
          "this engine does not implement — upgrade the library")
    Snapshot(version, meta, live.values.toSeq, dvs.toMap, proto, domains.toMap,
      txns.toMap, copied, commitTs)(log)
  }
}

/** The transaction log: ordered JSON commit files under `<table>/_txlog/`.
  *
  * Commit protocol (optimistic concurrency, reference demonstrates the
  * requirement at notebooks/04_acid_operations.py:430-460): the version-N
  * file is claimed by an atomic put-if-absent — [[LogStore.writeAtomic]]
  * with overwrite=false fails if another writer claimed N first; the
  * caller then re-resolves the snapshot and retries. The storage primitive
  * is pluggable ([[LogStore]]): the default [[LocalLogStore]] uses a
  * hard-link CAS (POSIX/HDFS); an S3 store implements the same contract
  * with a conditional PUT. The protocol above the seam is unchanged. */
class TxLog(val tableDir: Path, val store: LogStore = LogStore.default) {
  val logDir: Path = tableDir.resolve("_txlog")

  private def versionFile(v: Long): Path = logDir.resolve(f"$v%020d.json")

  def listVersions(): Seq[Long] =
    store.listFileNames(logDir)
      .filter(n => n.endsWith(".json") && !n.endsWith(".checkpoint.json"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".json").toLong).toOption)
      .sorted

  /** One tail listing serves both the commit versions and the compacted
    * ranges after `v` — the pointer fast path stays at a single LIST. */
  private def tailNamesAfter(v: Long): Seq[String] =
    store.listFileNamesAfter(logDir, f"$v%020d.json")

  private def versionsIn(names: Seq[String]): Seq[Long] =
    names
      .filter(n => n.endsWith(".json") && !n.contains(".checkpoint.") &&
        !n.contains(".compacted."))
      .flatMap(n => scala.util.Try(n.stripSuffix(".json").toLong).toOption)
      .sorted

  /** Commit versions strictly after `v` — the pointer-bounded tail. */
  private def versionsAfter(v: Long): Seq[Long] =
    versionsIn(tailNamesAfter(v))

  def latestVersion(): Option[Long] = {
    // _last_checkpoint-bounded: list only the tail. The pointer is trusted
    // only when the tail is non-empty or the pointed version's file reads
    // back — a corrupt/future-dated pointer degrades to the full listing,
    // never to a phantom version.
    val fast = lastCheckpoint().flatMap { cp =>
      val tail = versionsAfter(cp)
      if (tail.nonEmpty) Some(tail.last)
      else if (scala.util.Try(readVersion(cp)).isSuccess) Some(cp)
      else None
    }
    fast.orElse(listVersions().lastOption)
  }

  def readVersion(v: Long): Seq[Action] =
    store.read(versionFile(v)).filter(_.nonEmpty).map(Actions.fromJson)

  /** Attempt to commit `actions` as version `v`. False if v already taken. */
  def tryCommit(v: Long, actions: Seq[Action]): Boolean = {
    val body = actions.map(Actions.toJson).mkString("", "\n", "\n")
    store.writeAtomic(versionFile(v), body.getBytes(StandardCharsets.UTF_8),
      overwrite = false)
  }

  /** [[tryCommit]] with ambiguous-outcome recovery, for retry loops.
    *
    * On a real object store the CAS's negative outcomes are not trustworthy:
    * a conditional PUT can land and then time out on the response, or the
    * SDK's internal retry can observe the first attempt's own object and
    * report 412 — in both cases the write SUCCEEDED while the caller sees
    * an exception or `false`. A retry loop that believes the lie would
    * re-resolve and commit the SAME actions again at the next version
    * (double-applying DML). So: serialize once, attempt the CAS with store
    * exceptions contained, and on any negative outcome re-read version `v`
    * — if what landed is OUR commit (matched by CommitInfo.commitId when
    * present, else by full action equality), report the win.
    *
    * Returns true iff version `v` now holds `actions` — regardless of what
    * the store call claimed. Transient pre-landing store failures
    * (exception + nothing landed) return false and surface as one more
    * retry round, which also makes commits resilient to store blips. */
  def tryCommitRecovering(v: Long, actions: Seq[Action]): Boolean = {
    val body = actions.map(Actions.toJson).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8)
    val claimed =
      try store.writeAtomic(versionFile(v), body, overwrite = false)
      catch { case scala.util.control.NonFatal(_) => false }
    claimed || ownCommit(v, actions)
  }

  /** Does version `v` exist and hold exactly `actions`? */
  private def ownCommit(v: Long, actions: Seq[Action]): Boolean =
    scala.util.Try(readVersion(v)).toOption.exists { landed =>
      val landedId = landed.collectFirst { case c: CommitInfo => c.commitId }.flatMap(Option(_))
      val ourId = actions.collectFirst { case c: CommitInfo => c.commitId }.flatMap(Option(_))
      (landedId, ourId) match {
        case (Some(a), Some(b)) => a == b
        case _ => landed == actions
      }
    }

  /** Commit with retry: re-resolves the next version until the CAS wins.
    * `actions` is re-generated per attempt from the latest snapshot so the
    * caller can detect logical conflicts (it may throw to abort).
    *
    * Losers back off with randomized exponential delay before re-listing.
    * Without it, stores where the CAS itself is near-instant (the in-memory
    * object store, S3 conditional PUT) keep all contending writers in
    * lockstep: every round they re-list together, collide on the same
    * version, and the same unlucky thread can lose indefinitely. On the
    * local filesystem IO latency jitters writers apart by accident; the
    * backoff makes that de-synchronization deliberate and portable. Every
    * CAS round still has exactly one winner, so system-wide progress is
    * guaranteed and per-writer attempts are bounded by the total number of
    * competing commits — the cap is a runaway backstop, not a fairness
    * mechanism. */
  def commit(buildActions: Long => Seq[Action], maxAttempts: Int = 10000): Long = {
    var attempt = 0
    // versions we CAS'd at whose outcome is still unknown: the PUT can land
    // while BOTH the CAS response and the recovery read of that version fail
    // — proceeding as if it lost would re-commit the same logical actions at
    // the next version (double-applied DML). Each entry carries THAT
    // attempt's commitId (not a once-captured global): a caller whose
    // builder mints a fresh id per invocation still gets its
    // ambiguously-landed attempt recognized as its own instead of
    // double-applied. Each version stays queued until a successful read
    // rules it ours (return) or theirs (drop), or the listing proves
    // nothing landed there (drop — [[LogStore.listFileNames]] is
    // contractually complete, and writeAtomic's outcome is settled once
    // the call returns).
    val unresolved = scala.collection.mutable.Queue.empty[(Long, String)]
    while (attempt < maxAttempts) {
      var blocked = false
      while (unresolved.nonEmpty && !blocked) {
        val (v, attemptId) = unresolved.head
        scala.util.Try(readVersion(v)) match {
          case scala.util.Success(landed) =>
            val id = landed.collectFirst { case c: CommitInfo => c.commitId }.flatMap(Option(_))
            if (id.contains(attemptId)) return v // our earlier "failed" CAS actually landed
            unresolved.dequeue(): Unit // definitively another writer's commit
          case scala.util.Failure(_) =>
            if (listVersions().contains(v)) blocked = true // landed but unreadable: wait
            else unresolved.dequeue(): Unit // nothing landed at v
        }
      }
      if (!blocked) {
        val next = latestVersion().map(_ + 1).getOrElse(0L)
        val actions = buildActions(next)
        val attemptId =
          actions.collectFirst { case c: CommitInfo => c.commitId }.flatMap(Option(_)).orNull
        if (tryCommitRecovering(next, actions)) return next
        if (attemptId != null) unresolved.enqueue((next, attemptId))
      }
      attempt += 1
      val capMs = math.min(64L, 1L << math.min(attempt, 6))
      val sleepMs = java.util.concurrent.ThreadLocalRandom.current().nextLong(capMs + 1)
      if (sleepMs > 0) Thread.sleep(sleepMs)
    }
    throw new IllegalStateException(
      s"commit failed after $maxAttempts attempts (concurrent writers) on $tableDir")
  }

  // ------------------------------------------------------------ checkpoints

  /** Checkpoint = the table STATE at one version, as in Delta: protocol,
    * metadata, domains, one `txn` per idempotent writer, live files and
    * live vectors — O(live), whatever the commit count. `snapshot()`
    * replays from the newest eligible checkpoint plus the log tail instead
    * of from v0 — without this, planning cost grows linearly with table
    * history (the same reason Delta checkpoints every 10 commits). Commit
    * history, time travel and CDF read the per-version files, which only
    * TRUNCATE HISTORY deletes. The count header carries the checkpointed
    * commit's timestamp.
    *
    * Two layouts, chosen at write time by action count:
    *  - single NDJSON file `<v>.checkpoint.json` (the default);
    *  - MULTI-PART `<v>.checkpoint.<part>.<of>.json` (Delta's multi-part
    *    checkpoint discipline) once the action count exceeds the
    *    `graft.checkpoint.partSize` table property — at 100 TB a table's
    *    live-file set runs to millions of AddFiles and one monolithic
    *    checkpoint becomes both the write-amplification and the
    *    single-object-size bottleneck (S3 caps single PUTs at 5 GB).
    * A multi-part checkpoint EXISTS only when every part 0..of-1 is
    * present for one consistent `of` (the filename carries both), so a
    * crash mid-write leaves an invisible partial set, never a readable
    * half-checkpoint; each part carries its own count header. Parts are
    * idempotent (deterministic content + overwrite publish), safe under
    * concurrent checkpointers. */
  private def checkpointFile(v: Long): Path = logDir.resolve(f"$v%020d.checkpoint.json")
  private def checkpointPartFile(v: Long, part: Int, of: Int): Path =
    logDir.resolve(f"$v%020d.checkpoint.$part%010d.$of%010d.json")
  private val PartName = raw"(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.json".r

  /** Versions with a COMPLETE checkpoint: a single file, or a full part
    * set for one consistent part count. */
  def listCheckpoints(): Seq[Long] =
    (singleCheckpoints() ++ completeMultiparts().keys).distinct.sorted

  private def singleCheckpoints(): Seq[Long] =
    store.listFileNames(logDir)
      .filter(_.endsWith(".checkpoint.json"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".checkpoint.json").toLong).toOption)

  /** version -> smallest complete part count (a re-checkpoint under a
    * changed partSize can leave two complete sets; both hold identical
    * content, the choice is just determinism). */
  private def completeMultiparts(): Map[Long, Int] =
    store.listFileNames(logDir)
      .collect { case PartName(v, p, of) => (v.toLong, p.toInt, of.toInt) }
      .groupBy(t => (t._1, t._3))
      .collect { case ((v, of), ps) if ps.map(_._2).toSet == (0 until of).toSet =>
        (v, of)
      }
      .groupBy(_._1).map { case (v, sets) => v -> sets.map(_._2).min }

  /** The complete part set for `cp`'s multi-part checkpoint, discovered
    * with a TAIL listing bounded to the checkpoint's own name range — the
    * fast path stays free of full-history LISTs. */
  private def multipartFiles(cp: Long): Option[Seq[Path]] = {
    val stem = f"$cp%020d.checkpoint."
    val names = store.listFileNamesAfter(logDir, stem).filter(_.startsWith(stem))
    val complete = names
      .collect { case PartName(v, p, of) if v.toLong == cp => (p.toInt, of.toInt) }
      .groupBy(_._2)
      .collect { case (of, ps) if ps.map(_._1).toSet == (0 until of).toSet => of }
    complete.toSeq.sorted.headOption
      .map(of => (0 until of).map(p => checkpointPartFile(cp, p, of)))
  }

  /** Read + validate checkpoint `cp` (all layouts): every line parses and
    * every count header matches, else throw (callers fall back). The
    * headers stay in the result — they carry the commit timestamp. The
    * single-file layout is one GET with no listing at all. */
  private[log] def readCheckpoint(cp: Long): Seq[Action] = {
    def readAll(files: Seq[Path]): Seq[Action] = files.flatMap { f =>
      val as = store.read(f).filter(_.nonEmpty).map(Actions.fromJson)
      as.headOption match {
        case Some(CheckpointMeta(n, _)) =>
          require(as.size - 1 == n,
            s"checkpoint $cp (${f.getFileName}) is incomplete: ${as.size - 1} of $n actions")
          as
        case _ if files.size == 1 => as // header-less legacy single-file
        case _ => throw new IllegalStateException(
          s"checkpoint $cp part ${f.getFileName} has no self-validation header")
      }
    }
    val raw = scala.util.Try(readAll(Seq(checkpointFile(cp)))).getOrElse {
      multipartFiles(cp) match {
        case Some(fs) => readAll(fs)
        case None => throw new IllegalStateException(
          s"no complete checkpoint at version $cp in $tableDir")
      }
    }
    // v2 manifests carry Sidecar refs: inline each sidecar's actions,
    // validating its own count header AND the manifest's recorded count —
    // any defect throws and the caller falls back (older checkpoint, then
    // full replay), same contract as every other checkpoint defect
    raw.flatMap {
      case s: Sidecar =>
        val lines = store.read(sidecarDir.resolve(s.path))
          .filter(_.nonEmpty).map(Actions.fromJson)
        lines.headOption match {
          case Some(CheckpointMeta(n, _)) =>
            require(lines.size - 1 == n && n == s.numActions,
              s"checkpoint $cp sidecar ${s.path} incomplete: " +
                s"${lines.size - 1} of $n (manifest says ${s.numActions})")
            lines.tail
          case _ => throw new IllegalStateException(
            s"checkpoint $cp sidecar ${s.path} has no self-validation header")
        }
      case a => Seq(a)
    }
  }

  /** Write the checkpoint for `v` from a full replay of the log. */
  def writeCheckpoint(v: Long): Unit = writeCheckpoint(snapshot(Some(v)))

  /** Write the checkpoint of `snap`'s state at `snap.version` (idempotent —
    * content is deterministic, so overwrite-mode publish is safe under
    * concurrent checkpointers). A writer passes the state it just
    * committed, so the post-commit checkpoint costs no log replay. */
  def writeCheckpoint(snap: Snapshot): Unit = {
    val v = snap.version
    val tableState: Seq[Action] =
      Seq(snap.protocol, snap.metadata) ++
        snap.domains.toSeq.sortBy(_._1).map { case (d, c) => DomainMetadata(d, c) } ++
        snap.txns.toSeq.sortBy(_._1).map { case (a, x) => SetTransaction(a, x) } ++
        Option.when(snap.copied.nonEmpty)(CopiedFiles(snap.copied.toSeq.sorted))
    val actions: Seq[Action] = tableState ++ snap.files ++ snap.dvs.values
    val partSize = Option(snap.metadata.properties)
      .flatMap(_.get("graft.checkpoint.partSize"))
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ > 0)
      .getOrElse(Int.MaxValue)
    // self-validation header first: reads reject any checkpoint whose line
    // count disagrees (a prefix cut at a line boundary parses cleanly but
    // is incomplete — the count is what catches it). Sidecars omit the
    // timestamp: their names hash their content, which must not change
    // with every commit.
    def body(as: Seq[Action], ts: java.lang.Long): Array[Byte] =
      (CheckpointMeta(as.size.toLong, ts) +: as)
        .map(Actions.toJson).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8)
    val ts: java.lang.Long = snap.commitTimestamp
    val v2 = Option(snap.metadata.properties)
      .exists(_.get("graft.checkpoint.v2").contains("true"))
    if (v2) {
      // V2 INCREMENTAL layout: per-file actions live in content-addressed
      // sidecar buckets; unchanged buckets hash to the same name and the
      // put-if-absent write no-ops — checkpoint write amplification is
      // O(churned buckets), not O(live files). Bucket membership
      // is hash(path) % B with a FIXED per-table B (stable buckets are
      // what make reuse possible; size B to the table via the property).
      val buckets = Option(snap.metadata.properties)
        .flatMap(_.get("graft.checkpoint.v2.buckets"))
        .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ > 0)
        .getOrElse(64)
      def bucketOf(path: String): Int =
        math.floorMod(scala.util.hashing.MurmurHash3.stringHash(path), buckets)
      // a DV rides in its data file's bucket, ordered right after it
      val fileActs: Seq[(Int, String, Action)] =
        snap.files.map(f => (bucketOf(f.path), f.path + "#a", f: Action)) ++
          snap.dvs.values.map(d => (bucketOf(d.forFile), d.forFile + "#d", d: Action))
      val refs = fileActs.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, as) =>
        val acts = as.sortBy(_._2).map(_._3)
        val bytes = body(acts, null)
        val name = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString + ".json"
        store.writeAtomic(sidecarDir.resolve(name), bytes, overwrite = false): Unit
        Sidecar(name, acts.size.toLong)
      }
      store.writeAtomic(checkpointFile(v), body(tableState ++ refs, ts),
        overwrite = true): Unit
    } else if (actions.size <= partSize)
      store.writeAtomic(checkpointFile(v), body(actions, ts), overwrite = true): Unit
    else {
      val parts = actions.grouped(partSize).toSeq
      parts.zipWithIndex.foreach { case (p, i) =>
        store.writeAtomic(checkpointPartFile(v, i, parts.size), body(p, ts),
          overwrite = true): Unit
      }
    }
    // pointer LAST: _last_checkpoint only ever names a fully-written
    // checkpoint. Best effort — a lost/stale/corrupt pointer degrades to
    // the listing-scan path, never to a wrong answer.
    scala.util.Try(store.writeAtomic(lastCheckpointPath,
      s"""{"version":$v}""".getBytes(StandardCharsets.UTF_8),
      overwrite = true)): Unit
  }

  private val sidecarDir: Path = logDir.resolve("_sidecars")

  /** `_last_checkpoint` (Delta's pointer file): names the newest
    * checkpoint so latest-snapshot resolution is one GET + a start-after
    * TAIL listing instead of two full-history directory scans — at
    * millions of commits the full listing is thousands of paginated LIST
    * requests per resolution, the dominant metadata cost. Strictly an
    * optimization: any defect (missing, stale, corrupt, pointing at a
    * deleted or torn checkpoint) falls back to the scan path. */
  private val lastCheckpointPath: Path = logDir.resolve("_last_checkpoint")

  private[log] def lastCheckpoint(): Option[Long] =
    scala.util.Try {
      val text = store.read(lastCheckpointPath).mkString
      """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong)
    }.toOption.flatten

  // ------------------------------------------------------- log compaction

  /** Minor log compaction (Delta 3.x's `<start>.<end>.compacted.json`):
    * the concatenated actions of commits `s..e`, in commit order, behind
    * ONE object. Between checkpoint cadences a reader tails per-commit
    * JSON files one GET each — at commit rates above the checkpoint
    * interval that tail dominates snapshot-resolution cost (the same
    * 100-TB metadata argument as `_last_checkpoint`); a compacted range
    * replaces N tail GETs with one. Strictly an optimization: the
    * per-commit files remain the source of truth (time travel, CDF, and
    * any defect fall back to them), and the content is deterministic, so
    * the overwrite-mode publish is idempotent and safe under concurrent
    * compactors. */
  private def compactedFile(s: Long, e: Long): Path =
    logDir.resolve(f"$s%020d.$e%020d.compacted.json")
  private val CompactedName = raw"(\d{20})\.(\d{20})\.compacted\.json".r

  /** Write the compacted range `[s, e]` (both inclusive). Throws if any
    * commit in the range is unreadable — a compaction must never publish
    * a hole it would later replay as "nothing happened". */
  def writeCompacted(s: Long, e: Long): Unit = {
    require(s >= 0 && s <= e, s"bad compaction range [$s, $e]")
    val actions = (s to e).flatMap(readVersion)
    val body = (CheckpointMeta(actions.size.toLong) +: actions)
      .map(Actions.toJson).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8)
    store.writeAtomic(compactedFile(s, e), body, overwrite = true): Unit
  }

  /** [[writeCompacted]] with the start clamped to the oldest SURVIVING
    * version — the post-TRUNCATE-HISTORY shape: the natural cadence range
    * `[v-n+1, v]` can start below the truncation boundary, where the
    * per-commit files no longer exist and the plain write throws. Clamping
    * keeps the cadence productive immediately after a truncate instead of
    * silently skipping every Nth commit until the window clears the
    * boundary. Degenerate results (≤ 1 surviving commit in range, or no
    * clamp needed — the plain write already failed for another reason)
    * skip: one range GET replacing one per-commit GET buys nothing. True
    * iff the clamped range was written. */
  def writeCompactedClamped(s: Long, e: Long): Boolean = {
    val oldest = listVersions().minOption
    val start = oldest.map(m => math.max(s, m)).getOrElse(s)
    val clamps = start > s && start < e
    if (clamps) writeCompacted(start, e)
    clamps
  }

  /** Read + validate the compacted range `[s, e]`: the count header must
    * match (a prefix cut at a line boundary parses cleanly but is
    * incomplete), else throw — callers fall back to per-commit replay. */
  private[log] def readCompacted(s: Long, e: Long): Seq[Action] = {
    val lines = store.read(compactedFile(s, e)).filter(_.nonEmpty)
      .map(Actions.fromJson)
    lines.headOption match {
      case Some(CheckpointMeta(n, _)) =>
        require(lines.size - 1 == n,
          s"compacted range [$s, $e] incomplete: ${lines.size - 1} of $n actions")
        lines.tail
      case _ => throw new IllegalStateException(
        s"compacted range [$s, $e] has no self-validation header")
    }
  }

  /** start -> candidate end versions (longest first), from one listing. */
  private def compactedRangesIn(names: Seq[String]): Map[Long, Seq[Long]] =
    names.collect { case CompactedName(s, e) => (s.toLong, e.toLong) }
      .groupBy(_._1)
      .map { case (s, rs) => s -> rs.map(_._2).distinct.sorted.reverse }

  /** TRUNCATE HISTORY (DROP FEATURE's boundary sweep): archive the commit
    * records below `v` into a history sidecar, checkpoint the state AT
    * `v`, verify both read back complete, then delete every per-version
    * and checkpoint file strictly below `v`. The boundary version's own
    * file stays (the log is never empty). HEAD reads resolve from the
    * checkpoint, and DESCRIBE HISTORY is unaffected: the history reader
    * opens the sidecar for the versions whose files are gone. What is
    * lost, BY CONTRACT, is time travel and CDF below the boundary (they
    * refuse with a clean missing-version error). Deletion happens only
    * AFTER the sidecar and the checkpoint validate, so a crash mid-sweep
    * leaves a table that still resolves and still shows its history. */
  def truncateBefore(v: Long): Unit = {
    val versions = listVersions()
    require(versions.contains(v), s"version $v does not exist in $tableDir")
    val archived = history(0L, v - 1)
    if (archived.nonEmpty) {
      store.writeAtomic(historyFile(v),
        (CheckpointMeta(archived.size.toLong) +: archived)
          .map(Actions.toJson).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8), overwrite = true): Unit
      require(readArchive(v).size == archived.size,
        s"refusing to truncate: history sidecar $v read back short")
    }
    writeCheckpoint(v)
    // same validation a reader applies (all layouts: line parse + count
    // headers + part completeness) — never delete on a bad checkpoint
    require(readCheckpoint(v).nonEmpty,
      s"refusing to truncate: checkpoint $v read back empty")
    versions.filter(_ < v).foreach(x => store.delete(versionFile(x)))
    // sweep BOTH checkpoint layouts below the boundary, including partial
    // part sets a crashed writer may have left
    store.listFileNames(logDir).foreach { n =>
      val below = n match {
        case PartName(cv, _, _) => cv.toLong < v
        // a compacted range STARTING below the boundary can never sit in a
        // surviving tail again (its start version's file is gone) — sweep,
        // straddling or not
        case CompactedName(cs, _) => cs.toLong < v
        case _ if n.endsWith(".checkpoint.json") =>
          scala.util.Try(n.stripSuffix(".checkpoint.json").toLong)
            .toOption.exists(_ < v)
        case _ => false
      }
      if (below) store.delete(logDir.resolve(n)): Unit
    }
    // the new history sidecar subsumes every older one
    store.listFileNames(historyDir).foreach {
      case n @ HistoryName(b) if b.toLong < v => store.delete(historyDir.resolve(n)): Unit
      case _ =>
    }
    // v2 sidecar sweep: keep every sidecar some SURVIVING checkpoint
    // manifest still references (content-addressing shares sidecars across
    // checkpoints, so retention is reference-driven) — but only GC an
    // unreferenced sidecar once it is OLDER than the grace window. A
    // concurrent v2 checkpointer publishes sidecars BEFORE its manifest;
    // sweeping its seconds-old in-flight sidecars would permanently tear
    // the checkpoint it is about to publish (degrading every subsequent
    // read to a full log scan until the next checkpoint). Unknown age
    // (store cannot say) counts as too recent — skip, never delete; an
    // orphan sidecar is derived data, so the worst cost of a conservative
    // skip is a lingering object until a later truncate.
    val sidecars = store.listFileNames(sidecarDir)
    if (sidecars.nonEmpty) {
      val referenced = listCheckpoints().filter(_ >= v).flatMap { cp =>
        scala.util.Try(store.read(checkpointFile(cp)).filter(_.nonEmpty)
          .map(Actions.fromJson).collect { case s: Sidecar => s.path })
          .getOrElse(Nil)
      }.toSet
      val now = System.currentTimeMillis()
      sidecars.filterNot(referenced)
        .filter(n => store.modifiedMillis(sidecarDir.resolve(n))
          .exists(now - _ > TxLog.sidecarSweepGraceMs))
        .foreach(n => store.delete(sidecarDir.resolve(n)): Unit)
    }
  }

  /** Replay actions up to and including `version` (None = latest), starting
    * from the newest checkpoint at or below the target when one exists. */
  def snapshot(version: Option[Long] = None): Snapshot = {
    // Fast path through _last_checkpoint: one pointer GET, one checkpoint
    // read, one start-after TAIL listing — O(tail) instead of O(history)
    // metadata requests. Serves the latest snapshot and any target at or
    // above the pointed checkpoint (the hot cases — planners resolve
    // HEAD); time travel below the pointer and any pointer defect
    // (missing, stale, corrupt, torn checkpoint, absent target version)
    // take the full scan path below, which is also what produces the
    // loud does-not-exist error for a genuinely missing version.
    val viaPointer: Option[(Option[(Long, Seq[Action])], Seq[Long], Long,
        Map[Long, Seq[Long]])] =
      lastCheckpoint().filter(cp => version.forall(_ >= cp)).flatMap { cp =>
        scala.util.Try(readCheckpoint(cp)).toOption.flatMap { as =>
          val names = tailNamesAfter(cp)
          val tail = versionsIn(names)
          version match {
            case Some(t) if t != cp && !tail.contains(t) => None
            case _ =>
              Some((Some(cp -> as), tail,
                version.getOrElse(tail.lastOption.getOrElse(cp)),
                compactedRangesIn(names)))
          }
        }
      }
    val (pointerBase, pointerTail, upTo, ranges) = viaPointer.getOrElse {
      val names = store.listFileNames(logDir)
      val versions = versionsIn(names)
      require(versions.nonEmpty, s"not a graft table (empty log): $tableDir")
      val target = version.getOrElse(versions.last)
      require(versions.contains(target), s"version $target does not exist in $tableDir (have ${versions.headOption}..${versions.lastOption})")
      (None, versions, target, compactedRangesIn(names))
    }
    // Checkpoints are an optimization, never a correctness dependency: an
    // unreadable or corrupt checkpoint (truncated external copy, bit rot)
    // falls back to the next older one, and finally to full log replay —
    // the per-version files are the source of truth and are never deleted.
    // A checkpoint is applied only if EVERY line parses AND its
    // CheckpointMeta header's action count matches (a prefix cut exactly at
    // a line boundary parses cleanly but is incomplete; header-less
    // checkpoints from older versions are accepted as-is).
    val base: Option[(Long, Seq[Action])] = pointerBase.orElse {
      listCheckpoints().filter(_ <= upTo).reverseIterator
        .map(cp => cp -> scala.util.Try(readCheckpoint(cp)))
        .collectFirst { case (cp, scala.util.Success(as)) => (cp, as) }
    }
    val state = new Replay(this)
    base.foreach { case (_, actions) => actions.foreach(state.add) }
    // Tail replay PREFERS a compacted range whose whole span fits inside
    // the pending tail — one GET replaces (end - start + 1) per-commit
    // reads. Any defect (torn file, count mismatch) falls back to the
    // per-commit files for that range; commit versions are contiguous, so
    // range content and per-commit replay are action-for-action identical.
    val tailVs = pointerTail
      .filter(v => v > base.map(_._1).getOrElse(-1L) && v <= upTo)
    var ti = 0
    while (ti < tailVs.length) {
      val v = tailVs(ti)
      val viaRange =
        if (ranges.isEmpty) None
        else ranges.getOrElse(v, Nil).find(_ <= upTo).flatMap { e =>
          scala.util.Try((e, readCompacted(v, e))).toOption
        }
      viaRange match {
        case Some((e, as)) =>
          as.foreach(state.add)
          while (ti < tailVs.length && tailVs(ti) <= e) ti += 1
        case None =>
          readVersion(v).foreach(state.add)
          ti += 1
      }
    }
    state.result(upTo)
  }

  /** `base` plus the `actions` a writer just landed as version
    * `base.version + 1` — the post-commit state, with no log read. The
    * actions pass through their JSON form first, so the state holds what
    * any reader of the log parses (absent maps read back empty), not the
    * writer's in-memory objects. */
  def applied(base: Snapshot, actions: Seq[Action]): Snapshot = {
    val state = new Replay(this, base)
    actions.foreach(a => state.add(Actions.fromJson(Actions.toJson(a))))
    state.result(base.version + 1)
  }

  // ------------------------------------------------------ commit history

  /** Commit history is not snapshot state. Each commit's record stays in
    * its own commit file; TRUNCATE HISTORY first archives the records it
    * is about to delete into ONE history sidecar,
    * `_history/<boundary>.history.json` (count header + the `CommitInfo`s
    * below the boundary), which only this reader opens. Tables whose
    * history was truncated before the sidecar existed kept it as
    * `CommitInfo` lines in their checkpoints; the reader falls back to the
    * oldest such checkpoint. Every read opens only the versions asked for:
    * the commit file first, the archive only when that file is gone. */
  private val historyDir: Path = logDir.resolve("_history")
  private def historyFile(boundary: Long): Path =
    historyDir.resolve(f"$boundary%020d.history.json")
  private val HistoryName = raw"(\d{20})\.history\.json".r

  /** The validated records of the history sidecar at `boundary`. */
  private def readArchive(boundary: Long): Seq[CommitInfo] = {
    val lines = store.read(historyFile(boundary)).filter(_.nonEmpty).map(Actions.fromJson)
    lines.headOption match {
      case Some(CheckpointMeta(n, _)) =>
        require(lines.size - 1 == n,
          s"history sidecar $boundary incomplete: ${lines.size - 1} of $n records")
        lines.tail.collect { case c: CommitInfo => c }
      case _ => throw new IllegalStateException(
        s"history sidecar $boundary has no self-validation header")
    }
  }

  /** One history read: memoizes the archive and the legacy fallback it
    * may need, so a range over truncated versions lists and reads them
    * once. */
  private final class HistoryReader {
    private var archived: Option[(Long, Map[Long, CommitInfo])] = None
    private def archive: (Long, Map[Long, CommitInfo]) = archived.getOrElse {
      val boundaries = store.listFileNames(historyDir)
        .collect { case HistoryName(b) => b.toLong }.sorted.reverse
      val a = boundaries.iterator
        .map(b => scala.util.Try(b -> readArchive(b).map(c => c.version -> c).toMap))
        .collectFirst { case scala.util.Success(x) => x }
        .getOrElse((0L, Map.empty[Long, CommitInfo]))
      archived = Some(a)
      a
    }
    // the oldest readable checkpoint: an older TRUNCATE HISTORY's boundary
    private lazy val legacy: Map[Long, CommitInfo] =
      listCheckpoints().iterator
        .map(cp => scala.util.Try(readCheckpoint(cp).collect { case c: CommitInfo => c }))
        .collectFirst { case scala.util.Success(cs) => cs }
        .getOrElse(Nil).map(c => c.version -> c).toMap

    def at(v: Long): Option[CommitInfo] = archived match {
      case Some((b, cs)) if v < b => cs.get(v)
      case _ => scala.util.Try(readVersion(v)) match {
        case scala.util.Success(as) => as.collectFirst { case c: CommitInfo => c }
        case scala.util.Failure(_) => archive._2.get(v).orElse(legacy.get(v))
      }
    }
  }

  /** Commit records of versions `from` to `to` (both inclusive), oldest
    * first — one commit-file read per version in the range. */
  def history(from: Long, to: Long): Seq[CommitInfo] = {
    val r = new HistoryReader
    (math.max(0L, from) to to).flatMap(r.at)
  }

  /** Commit records from version `to` down to 0, newest first, read one
    * commit file at a time as the caller consumes them — for guards that
    * stop at the first record they recognize. */
  def historyBackFrom(to: Long): Iterator[CommitInfo] = {
    val r = new HistoryReader
    Iterator.iterate(to)(_ - 1).takeWhile(_ >= 0).flatMap(r.at)
  }

  /** The commit record of version `v`, if any. */
  def commitInfo(v: Long): Option[CommitInfo] = new HistoryReader().at(v)

  /** The last version whose commit satisfies `p`, a predicate that holds
    * on a prefix of the history. In-commit timestamps are strictly
    * monotone (made so at commit time), so timestamp predicates qualify
    * and this is a binary search opening O(log versions) commit files.
    * The search checks the order of what it reads: each probe's timestamp
    * must lie strictly between those of the probes next to it below and
    * above. A probe that breaks the order or has no record (a log written
    * before timestamps were clamped, or by a writer that ignores the
    * clamp) ends the search with Left(the whole history), for the caller
    * to scan as a lookup that assumes no order. Breaks the probes do not
    * meet go undetected: lookups rely on monotone timestamps. */
  private def lastWhere(p: CommitInfo => Boolean): Either[Seq[CommitInfo], Option[Long]] = {
    val latest = latestVersion().getOrElse(
      throw new IllegalArgumentException(s"not a graft table (empty log): $tableDir"))
    val r = new HistoryReader
    var (lo, hi, found) = (0L, latest, -1L)
    // timestamps of the probes at lo - 1 and hi + 1
    var (loTs, hiTs) = (Long.MinValue, Long.MaxValue)
    while (lo <= hi) {
      val mid = lo + (hi - lo) / 2
      r.at(mid) match {
        case Some(c) if c.timestamp > loTs && c.timestamp < hiTs =>
          if (p(c)) { found = mid; lo = mid + 1; loTs = c.timestamp }
          else { hi = mid - 1; hiTs = c.timestamp }
        case _ => return Left(history(0L, latest))
      }
    }
    Right(Option.when(found >= 0)(found))
  }

  /** Latest version whose commit timestamp <= ts (time travel by timestamp,
    * reference: notebooks/04_acid_operations.py:217-219). */
  def versionAt(tsMillis: Long): Long = {
    val v = lastWhere(_.timestamp <= tsMillis).left
      .map(_.filter(_.timestamp <= tsMillis).map(_.version).maxOption).merge
    require(v.nonEmpty, s"no version at or before timestamp $tsMillis")
    v.get
  }

  /** First version whose commit timestamp >= ts (the CDF and stream
    * `startingTimestamp` rule); the latest version + 1 when every commit
    * is older. */
  def versionAtOrAfter(tsMillis: Long): Long =
    lastWhere(_.timestamp < tsMillis) match {
      case Right(v) => v.map(_ + 1).getOrElse(0L)
      case Left(all) => all.filter(_.timestamp >= tsMillis).map(_.version).minOption
        .getOrElse(all.lastOption.fold(0L)(_.version + 1))
    }

  /** All CDF sidecar actions for one version. */
  def cdfFiles(v: Long): Seq[CdfFile] =
    readVersion(v).collect { case c: CdfFile => c }

  /** Add/remove/commitInfo for one version (for CDF synthesis). */
  def changesAt(v: Long): (Seq[AddFile], Seq[RemoveFile], Option[CommitInfo]) = {
    val as = readVersion(v)
    (as.collect { case a: AddFile => a },
      as.collect { case r: RemoveFile => r },
      as.collectFirst { case c: CommitInfo => c })
  }
}

object TxLog {
  def apply(tableDir: String): TxLog = new TxLog(Paths.get(tableDir))
  /** Grace window for TRUNCATE HISTORY's orphan-sidecar GC: an
    * unreferenced sidecar younger than this may be a concurrent
    * checkpointer's in-flight publish (sidecars land before their
    * manifest) and is left alone. One hour — the same crashed-run/racing-
    * run threshold as the symlink-manifest sweep in Maintain. */
  val sidecarSweepGraceMs: Long = 60L * 60 * 1000
  /** Does a table's log exist HERE — asked through the configured
    * [[LogStore]], not the filesystem: with a virtualized log (in-memory,
    * S3) there is no `_txlog` directory on disk to probe. */
  def isTable(tableDir: String): Boolean =
    scala.util.Try(new TxLog(Paths.get(tableDir)).listVersions().nonEmpty)
      .getOrElse(false)

  /** Best-effort recursive delete (shared by DROP TABLE/NAMESPACE, staged
    * rollback, cache invalidation, bench scratch reclaim). Never throws —
    * callers treat a partial delete like any other orphaned scratch. */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    scala.util.Try {
      val walk = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverseIterator.foreach(Files.delete(_))
      } finally walk.close()
    }: Unit
}
