package graft.log

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Transaction-log actions for the graft table format.
  *
  * The format is "a transaction log over Parquet": each table version is one
  * JSON file of newline-delimited actions under `<table>/_txlog/`, and data
  * lives in immutable Parquet files referenced by `add` actions. This is our
  * own implementation of the ideas in the public Delta Lake protocol spec
  * (reference repo relies on the Delta library, which is unavailable here —
  * see SURVEY.md §7.1); reference usage: src/delta_utils.py,
  * notebooks/04_acid_operations.py.
  *
  * Per-column file statistics ride on every `add` so scans can skip files
  * (min/max pruning — the same mechanism the reference leans on via
  * OPTIMIZE ZORDER, src/delta_utils.py:295-335).
  */
sealed trait Action

/** Column stats are string-encoded; the table schema's dataType drives
  * decode + ordering at prune time (see Stats.scala). */
case class ColStats(min: String, max: String, nullCount: Long)

/** `bloom`: column name → relative path of the per-file bloom sidecar
  * under `_bloom/` (see [[BloomFilter]]); null/absent when the table has no
  * bloom-indexed columns (and for files written by older versions).
  * `tags`: free-form provenance (Delta's AddFile.tags shape) — today the
  * single `clusteredBy = "<curve>:<cols>"` tag written by OPTIMIZE
  * ZORDER/CLUSTER BY and clustered ingest, which lets a later OPTIMIZE
  * skip files already in curve order for the same column set (incremental
  * clustering). Null/absent on files from older versions and plain writes. */
/** `baseRowId`/`defaultRowCommitVersion` (row tracking, the Delta feature
  * of the same name): the file's rows carry stable ids `baseRowId + i`
  * (i = physical row index) unless the file MATERIALIZES ids in its own
  * columns (rewrites preserve ids that way — see
  * [[graft.table.RowTrackingSupport]]); `defaultRowCommitVersion` is the
  * commit that produced the file, the default "row last changed at"
  * version for rows without a materialized one. Null on files written
  * before row tracking was enabled (the enable commit backfills by
  * re-emitting them — metadata-only, no data rewrite). */
case class AddFile(
    path: String, // relative to table root
    partitionValues: Map[String, String],
    size: Long,
    numRecords: Long,
    stats: Map[String, ColStats],
    modificationTime: Long,
    bloom: Map[String, String] = null,
    tags: Map[String, String] = null,
    baseRowId: java.lang.Long = null,
    defaultRowCommitVersion: java.lang.Long = null) extends Action {
  def tag(key: String): Option[String] = Option(tags).flatMap(_.get(key))
}

case class RemoveFile(path: String, deletionTimestamp: Long) extends Action

case class Metadata(
    id: String,
    name: String,
    schemaJson: String,
    partitionColumns: Seq[String],
    properties: Map[String, String],
    createdTime: Long) extends Action

/** `userName`/`isBlindAppend` mirror Delta's DESCRIBE HISTORY identity
  * columns (the reference surfaces the full history frame,
  * src/delta_utils.py:168-174). Defaults keep pre-existing log files
  * readable: missing JSON fields deserialize to null.
  *
  * `commitId`: a writer-unique id for THIS logical commit (same value
  * across CAS retries of it). It is what makes an ambiguous CAS outcome
  * recoverable: an object store's conditional PUT can land and then report
  * failure (response timeout; SDK-internal retry observing its own first
  * attempt as a 412) — the writer re-reads the version file and recognizes
  * its own commit by this id instead of double-committing the same actions
  * at the next version. Delta's S3 LogStores carry a txn id for the same
  * reason. Null on commits from older log versions and bare tryCommit
  * callers (creation commits), which never retry and need no recovery. */
case class CommitInfo(
    version: Long,
    timestamp: Long,
    operation: String,
    operationParameters: Map[String, String],
    operationMetrics: Map[String, Long],
    readVersion: Long,
    userName: String = null,
    isBlindAppend: java.lang.Boolean = null,
    commitId: String = null) extends Action

/** CDF sidecar parquet file (relative path) carrying the commit's row-level
  * changes with a `_change_type` column; written by UPDATE/DELETE/MERGE.
  * Commits without sidecars synthesize CDF rows from add/remove actions. */
case class CdfFile(path: String, numRecords: Long) extends Action

/** Deletion vector for one data file, in Delta's descriptor form:
  * `storageType` `u` (the vector sits at `offset` in a `.bin` file whose
  * root-relative path `pathOrInlineDv` packs, see [[DeltaDv.relativeFile]])
  * or `i` (`pathOrInlineDv` is the z85-packed vector itself);
  * `sizeInBytes` is the serialized vector's length and `numDeleted` its
  * cardinality. A reader fetches the vector per data file — no query, and
  * no absolute path anywhere, so a moved table keeps its masks.
  *
  * `dvPath` is the legacy form (null on descriptor vectors): a parquet
  * directory of per-file bitmaps keyed by absolute reader path, still read
  * for logs written before the descriptor form, never written.
  *
  * The LAST DeletionVector for a `forFile` wins (vectors are cumulative — a
  * new one carries all masked positions); one with neither a descriptor
  * nor a `dvPath` clears the vector. A RemoveFile for `forFile` also drops
  * it. DELETE marks rows instead of rewriting files — at 100 TB the
  * difference between a few KB of masks and rewriting every touched file. */
case class DeletionVector(
    forFile: String,
    dvPath: String,
    numDeleted: Long,
    storageType: String,
    pathOrInlineDv: String,
    offset: Int,
    sizeInBytes: Int) extends Action {

  def legacy: Boolean = storageType == null && dvPath != null && dvPath.nonEmpty
  def clears: Boolean = storageType == null && !legacy

  def descriptor: Option[DvDescriptor] = Option(storageType).map(st =>
    DvDescriptor(st, pathOrInlineDv, offset, sizeInBytes, numDeleted))

  /** Where the vector's bytes live, relative to the table root: the `.bin`
    * of a `u` descriptor, the legacy parquet directory; None inline. */
  def storagePath: Option[String] =
    if (legacy) Some(dvPath)
    else descriptor.filter(_.storageType == "u").map(DeltaDv.relativeFile)
}

object DeletionVector {
  def of(forFile: String, d: DvDescriptor): DeletionVector =
    DeletionVector(forFile, null, d.cardinality, d.storageType, d.pathOrInlineDv,
      d.offset, d.sizeInBytes)

  /** The action that drops `forFile`'s vector. */
  def clear(forFile: String): DeletionVector =
    DeletionVector(forFile, null, 0L, null, null, 0, 0)
}

/** Forward-compatibility gate (the Delta protocol action): a reader must
  * support `minReaderVersion` to resolve snapshots, a writer must support
  * `minWriterVersion` to commit — an engine that doesn't fails LOUDLY
  * instead of silently mis-reading a table written with features it does
  * not understand. Tables created before this action existed default to
  * (1, 1). [[Protocol.SupportedReader]]/[[Protocol.SupportedWriter]] are
  * what THIS library implements; `upgradeProtocol` raises a table's
  * requirement once a future feature depends on it.
  *
  * `readerFeatures`/`writerFeatures` are the table-features refinement
  * (Delta protocol v3/v7): instead of a monolithic version bump, a table
  * names the EXACT capabilities it depends on, and an engine refuses only
  * features it genuinely lacks. Null (absent on the wire) on tables from
  * older versions — identical wire format, so old logs read unchanged. */
case class Protocol(
    minReaderVersion: Int,
    minWriterVersion: Int,
    readerFeatures: Seq[String] = null,
    writerFeatures: Seq[String] = null) extends Action {
  def readerSet: Set[String] = Option(readerFeatures).map(_.toSet).getOrElse(Set.empty)
  def writerSet: Set[String] = Option(writerFeatures).map(_.toSet).getOrElse(Set.empty)
}

object Protocol {
  val SupportedReader = 1
  val SupportedWriter = 1
  val Current: Protocol = Protocol(SupportedReader, SupportedWriter)

  /** Deletion vectors in Delta's descriptor form ([[DeletionVector]]: a
    * `.bin` range or inline bytes, no `dvPath`). An engine that knows only
    * the legacy parquet vectors reads a descriptor vector as a clear and
    * returns every masked row, so a table's first descriptor vector stamps
    * this feature and such an engine refuses the table by name. */
  val DvDescriptors = "deletionVectorDescriptors"

  /** Capabilities this engine actually implements, by name (the Delta
    * feature-name vocabulary where one exists). A table may demand any
    * subset; anything outside these sets refuses loudly. */
  val SupportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "changeDataFeed", "timeTravel",
      "typeWidening", DvDescriptors)
  val SupportedWriterFeatures: Set[String] =
    SupportedReaderFeatures ++ Set("generatedColumns", "identityColumns",
      "checkConstraints", "defaultColumns", "clustering", "bloomFilters",
      "rowTracking", "domainMetadata", "inCommitTimestamp")

  /** `p`, demanding [[DvDescriptors]] of readers and writers when
    * `actions` carry a descriptor vector it does not declare yet. */
  def withDvDescriptors(p: Protocol, actions: Seq[Action]): Protocol =
    if (p.readerSet(DvDescriptors) ||
        !actions.exists { case d: DeletionVector => d.descriptor.isDefined; case _ => false }) p
    else merge(p, Protocol(p.minReaderVersion, p.minWriterVersion,
      Seq(DvDescriptors), Seq(DvDescriptors)))

  /** Merge two protocols: max versions, union of named features (the CLONE
    * / upgrade composition rule — capabilities only ever accumulate). */
  def merge(a: Protocol, b: Protocol): Protocol = {
    def union(x: Seq[String], y: Seq[String]): Seq[String] = {
      val u = (Option(x).getOrElse(Nil) ++ Option(y).getOrElse(Nil)).distinct.sorted
      if (u.isEmpty) null else u
    }
    Protocol(
      math.max(a.minReaderVersion, b.minReaderVersion),
      math.max(a.minWriterVersion, b.minWriterVersion),
      union(a.readerFeatures, b.readerFeatures),
      union(a.writerFeatures, b.writerFeatures))
  }
}

/** Named per-domain table state outside the schema/properties (the Delta
  * protocol's domainMetadata action): `domain` → an opaque `config` JSON
  * string, replaced wholesale by the latest action for the domain;
  * `removed = true` deletes it. Today's single producer is row tracking,
  * whose `graft.rowTracking` domain persists the row-id high-water mark —
  * it must survive REMOVEs of the files that consumed the ids (ids are
  * never reused), which is exactly why it cannot be derived from the live
  * file list and needs commit-level state of its own. */
case class DomainMetadata(
    domain: String,
    config: String,
    removed: Boolean = false) extends Action

/** Checkpoint self-validation header (always the checkpoint's FIRST line):
  * `numActions` = how many action lines follow. A checkpoint prefix cut
  * exactly at a line boundary parses line-by-line yet silently misses
  * state; the count makes completeness checkable without a self-describing
  * container format (Delta gets the same property from parquet footers).
  * Never appears in per-version commit files.
  *
  * `commitTimestamp` (checkpoint headers only): the in-commit timestamp of
  * the checkpointed version's commit, so a reader resolving a snapshot
  * with an empty tail still knows the newest commit's time without
  * opening the commit history. Null on sidecar and compacted-range
  * headers and on checkpoints written before history left them. */
case class CheckpointMeta(numActions: Long, commitTimestamp: java.lang.Long = null)
  extends Action

/** Idempotent-writer record (Delta's SetTransaction): the highest
  * `version` a writer `appId` has committed. Checkpoints carry one per
  * writer, folded from the commits' `txnAppId`/`txnVersion` parameters,
  * so exactly-once replay checks never need the commit history. */
case class SetTransaction(appId: String, version: Long) extends Action

/** COPY INTO's loaded-file ledger: every source path a COPY INTO commit
  * loaded (its `copiedFiles` parameter). Checkpoints carry the whole set
  * in one such action, so the at-most-once check never needs the commit
  * history. Only ever appears in checkpoints, never in commits. */
case class CopiedFiles(paths: Seq[String]) extends Action

/** V2-checkpoint sidecar reference (Delta's v2Checkpoint sidecar idea):
  * the manifest checkpoint carries table-level state plus `sidecar` refs,
  * and the per-file actions (AddFile + DeletionVector) live in
  * CONTENT-ADDRESSED files under `_txlog/_sidecars/` — a bucket whose
  * content did not change between checkpoints hashes to the SAME name and
  * is reused via put-if-absent instead of rewritten, so checkpoint write
  * amplification is O(churned buckets), not O(live files). At
  * 100 TB (millions of AddFiles, checkpoint every 10 commits) that is the
  * difference between rewriting ~500 MB of metadata per cadence and a few
  * bucket files. `numActions` double-checks the sidecar's own header.
  * Only ever appears inside checkpoint manifests, never in commits. */
case class Sidecar(path: String, numActions: Long) extends Action

/** Envelope for one NDJSON line. Exactly one field is set. */
private[log] case class ActionEnvelope(
    add: AddFile = null,
    remove: RemoveFile = null,
    metaData: Metadata = null,
    commitInfo: CommitInfo = null,
    cdf: CdfFile = null,
    deletionVector: DeletionVector = null,
    protocol: Protocol = null,
    checkpointMeta: CheckpointMeta = null,
    domainMetadata: DomainMetadata = null,
    sidecar: Sidecar = null,
    txn: SetTransaction = null,
    copied: CopiedFiles = null)

object Actions {
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    // numbers inside Map[String, Long] would otherwise deserialize as
    // Integer (erasure) and crash on unbox
    m.configure(DeserializationFeature.USE_LONG_FOR_INTS, true)
    m.setSerializationInclusion(JsonInclude.Include.NON_NULL)
    m
  }

  def toJson(a: Action): String = a match {
    case x: AddFile    => mapper.writeValueAsString(ActionEnvelope(add = x))
    case x: RemoveFile => mapper.writeValueAsString(ActionEnvelope(remove = x))
    case x: Metadata   => mapper.writeValueAsString(ActionEnvelope(metaData = x))
    case x: CommitInfo => mapper.writeValueAsString(ActionEnvelope(commitInfo = x))
    case x: CdfFile    => mapper.writeValueAsString(ActionEnvelope(cdf = x))
    case x: DeletionVector => mapper.writeValueAsString(ActionEnvelope(deletionVector = x))
    case x: Protocol   => mapper.writeValueAsString(ActionEnvelope(protocol = x))
    case x: CheckpointMeta => mapper.writeValueAsString(ActionEnvelope(checkpointMeta = x))
    case x: DomainMetadata => mapper.writeValueAsString(ActionEnvelope(domainMetadata = x))
    case x: Sidecar        => mapper.writeValueAsString(ActionEnvelope(sidecar = x))
    case x: SetTransaction => mapper.writeValueAsString(ActionEnvelope(txn = x))
    case x: CopiedFiles    => mapper.writeValueAsString(ActionEnvelope(copied = x))
  }

  def fromJson(line: String): Action = {
    val e = mapper.readValue(line, classOf[ActionEnvelope])
    if (e.add != null) e.add
    else if (e.remove != null) e.remove
    else if (e.metaData != null) e.metaData
    else if (e.commitInfo != null) e.commitInfo
    else if (e.cdf != null) e.cdf
    else if (e.deletionVector != null) e.deletionVector
    else if (e.protocol != null) {
      // canonicalize: the scala module deserializes ABSENT list fields as
      // empty — normalize to null so parsed protocols compare equal to
      // constructed ones (null IS the no-features representation)
      val p = e.protocol
      p.copy(
        readerFeatures =
          if (p.readerFeatures == null || p.readerFeatures.isEmpty) null else p.readerFeatures,
        writerFeatures =
          if (p.writerFeatures == null || p.writerFeatures.isEmpty) null else p.writerFeatures)
    }
    else if (e.checkpointMeta != null) e.checkpointMeta
    else if (e.domainMetadata != null) e.domainMetadata
    else if (e.sidecar != null) e.sidecar
    else if (e.txn != null) e.txn
    else if (e.copied != null) e.copied
    else throw new IllegalArgumentException(s"unrecognized action: $line")
  }
}
