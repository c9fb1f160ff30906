package graft.table

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.Local
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.log._

/** A versioned, ACID, Parquet-backed table — the graft table format.
  *
  * This is our Spark-native stand-in for the Delta Lake surface the reference
  * uses everywhere (src/delta_utils.py, notebooks/04_acid_operations.py): an
  * ordered transaction log of JSON actions ([[graft.log.TxLog]]) over immutable
  * Parquet data files, giving snapshot isolation, time travel, CDF, DML
  * (MERGE/UPDATE/DELETE), RESTORE, OPTIMIZE/Z-ORDER, VACUUM and CLONE.
  *
  * Scale design notes:
  *  - Data files keep ALL columns (including partition columns); hive-style
  *    `__p_<col>=<val>/` directories exist only for file organization and for
  *    the log's `partitionValues`. Scans therefore pass explicit leaf files to
  *    `spark.read.parquet` with an enforced schema — no partition discovery,
  *    no directory listing on the read path.
  *  - File skipping happens driver-side before Spark sees the file list:
  *    partition-value filtering + per-file min/max stats ([[graft.log.Pruner]]).
  *  - Residual predicates still reach the Parquet reader (row-group pruning +
  *    predicate pushdown — visible as PushedFilters in `.explain`).
  */
class LakeTable private[table] (
    val spark: SparkSession,
    val dir: Path) extends DmlSupport with MaintenanceSupport with CdfSupport
    with RowTrackingSupport with UniformSupport {

  val log = new TxLog(dir)

  // metadata-only count(*) over this session's graft scans (idempotent)
  MetadataOnlyCount.register(spark)

  /** Snapshots are immutable per version, so resolution caches them: the
    * newest snapshot this instance has seen, and in a second slot the last
    * older (time-travel) one. A commit made through this instance installs
    * its own post-commit state with no log read at all; another writer
    * advancing the table is picked up by the listing on the next call and
    * resolved by [[TxLog.snapshot]] from the newest checkpoint. */
  @volatile private var headSnap: Snapshot = null
  @volatile private var travelSnap: Snapshot = null

  def name: String = snapshot().metadata.name
  def version: Long = log.latestVersion().getOrElse(-1L)
  def snapshot(v: Option[Long] = None): Snapshot = {
    val target = v.getOrElse(log.latestVersion().getOrElse(
      throw new IllegalStateException(s"not a graft table (empty log): $dir")))
    val head = headSnap
    val travel = travelSnap
    if (head != null && head.version == target) head
    else if (travel != null && travel.version == target) travel
    else if (head == null || head.version < target) {
      val s = log.snapshot(Some(target))
      installHead(s)
      s
    } else {
      val s = log.snapshot(Some(target))
      travelSnap = s
      s
    }
  }
  private def installHead(s: Snapshot): Unit = synchronized {
    if (headSnap == null || headSnap.version < s.version) headSnap = s
  }
  def schema: StructType = snapshot().schema
  def partitionColumns: Seq[String] = snapshot().metadata.partitionColumns
  def properties: Map[String, String] = snapshot().metadata.properties

  // ---------------------------------------------------------------- reads

  /** Bloom sidecar reader for this table (lazily loads + caches bitsets;
    * a no-op unless files carry bloom refs — see [[graft.log.BloomFilter]]). */
  private[table] lazy val bloomIndex: BloomIndex = BloomIndex.forTable(dir)

  /** Current-version DataFrame (SURVEY §2.1 S7/S8). `filters` enable
    * driver-side file skipping; they are re-applied as residual predicates.
    * Deletion-vector masks (if any) are applied transparently. */
  def read(filters: Seq[Column] = Nil, version: Option[Long] = None): DataFrame = {
    val snap = snapshot(version)
    val pruned = Pruner.prune(partitionPrune(snap, snap.files, filters), filters,
      snap.schema, bloomIndex)
    filters.foldLeft(readFilesMasked(snap, pruned, snap.schema))(_ filter _)
  }

  /** Catalyst-integrated scan: predicates applied LATER on the returned
    * DataFrame (`.filter`, SQL WHERE over a temp view) reach
    * [[GraftFileIndex.listFiles]] at planning time and skip files via the
    * log's footer stats — no explicit `read(filters)` needed. Deletion
    * vectors compose: the mask anti-join sits ABOVE the relation, filters
    * still push through it into the scan. */
  def scan(version: Option[Long] = None): DataFrame = {
    val snap = snapshot(version)
    if (snap.files.isEmpty) return read(Nil, version)
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val index = new GraftFileIndex(dir, snap.files, snap.schema, absPath, bloomIndex)
    val base = org.apache.spark.sql.graft.Relations.parquetRelation(spark, index, snap.schema)
    val dvs = snap.dvs.values.toSeq
    if (dvs.isEmpty) return base
    // same mask join as readFilesMaskedPos, over the pruning relation;
    // file stats include masked rows, so pruning stays conservative-safe
    dvMaskJoin(base
      .withColumn("__file", col("_metadata.file_path"))
      .withColumn("__idx", col("_metadata.row_index")), dvs)
      .drop("__file", "__idx")
  }

  def toDf: DataFrame = scan()

  /** Register the current snapshot as a temp view so pipelines can be driven
    * through `spark.sql(...)` (W9 — the reference drives its maintenance and
    * silver re-inserts through SQL over temp views, e.g.
    * notebooks/02_silver_transformation.py:123-130). The view captures THIS
    * snapshot's file list; re-register after writes to see new data. */
  def createOrReplaceTempView(name: String): Unit =
    toDf.createOrReplaceTempView(name)

  /** Time travel by version (S8, notebooks/04_acid_operations.py:208-210). */
  def versionAsOf(v: Long): DataFrame = read(version = Some(v))

  /** Time travel by timestamp (S9, notebooks/04_acid_operations.py:217-219). */
  def timestampAsOf(tsMillis: Long): DataFrame = read(version = Some(log.versionAt(tsMillis)))
  def timestampAsOf(ts: java.sql.Timestamp): DataFrame = timestampAsOf(ts.getTime)

  private[table] def absPath(f: AddFile): String =
    if (f.path.startsWith("/")) f.path else dir.resolve(f.path).toString

  /** Raw read of specific log files under an enforced schema (streaming
    * source's per-version batches). */
  private[graft] def readFilesAs(files: Seq[AddFile], schema: StructType): DataFrame =
    readFiles(files, schema)

  private[table] def readFiles(files: Seq[AddFile], schema: StructType): DataFrame = {
    // column-mapping reads resolve by parquet field id (no-op for schemas
    // without ids); set here so the table works on any session
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    if (files.isEmpty) spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else spark.read.schema(schema).parquet(files.map(absPath): _*)
  }

  // ------------------------------------------------- deletion-vector reads

  /** Base read of `files` plus reader-position columns `__file`
    * (_metadata.file_path — URL-encoded file: URI) and `__idx`
    * (_metadata.row_index), with each file's deletion-vector rows
    * anti-joined out. The DV parquet stores exactly these two columns as
    * the reader reported them at DV-write time, so the match is
    * self-consistent by construction. */
  private[table] def readFilesMaskedPos(
      snap: Snapshot, files: Seq[AddFile], schema: StructType): DataFrame = {
    val base = readFiles(files, schema)
    if (files.isEmpty)
      return base.withColumn("__file", lit(null).cast(StringType))
        .withColumn("__idx", lit(null).cast(LongType))
    val withPos = base
      .withColumn("__file", col("_metadata.file_path"))
      .withColumn("__idx", col("_metadata.row_index"))
    val dvs = files.flatMap(f => snap.dvs.get(f.path))
    if (dvs.isEmpty) withPos else dvMaskJoin(withPos, dvs)
  }

  /** Absolute form of a log-relative path (a shallow clone's data paths
    * are already absolute). */
  private[table] def absPathStr(p: String): String =
    if (p.startsWith("/")) p else dir.resolve(p).toString

  /** Legacy vectors (parquet directories written before the descriptor
    * form) as rows — (`__path` canonical absolute path, `__bitmap`
    * serialized roaring bitmap) — for their CURRENT state. Their rows are
    * keyed by the absolute path the file had when the vector was written:
    * a row belongs to a vector's file when it names that file's
    * root-relative path, wherever the table lived then, and is re-keyed to
    * where it lives now. A dv dir may also hold rows for files whose
    * pointer has since moved to a newer dir; reading each dir for the
    * files that still reference it drops those stale rows. */
  private def legacyBitmapDf(dvs: Seq[DeletionVector]): DataFrame =
    dvs.groupBy(_.dvPath).toSeq.map { case (rel, ds) =>
      val now = Dml.firstOf(ds.map { d =>
        val was =
          if (d.forFile.startsWith("/")) col("__path") === d.forFile
          else col("__path").endsWith("/" + d.forFile)
        was -> lit(absPathStr(d.forFile))
      }, lit(null).cast(StringType))
      spark.read.parquet(absPathStr(rel))
        .select(now.as("__path"), col("__bitmap"))
        .filter(col("__path").isNotNull)
    }.reduce(_.unionByName(_))

  /** The masks of `dvs`, keyed by canonical absolute data-file path, read
    * on the driver: descriptor vectors straight from their inline bytes or
    * `.bin` range (no Spark job); legacy vectors through one parquet read. */
  private[table] def dvBitmaps(dvs: Seq[DeletionVector]): Map[String, Roaring64Bitmap] = {
    val (legacy, described) = dvs.partition(_.legacy)
    val conf = spark.sparkContext.hadoopConfiguration
    described.map(d =>
      absPathStr(d.forFile) -> DvStore.read(dir.toString, d.descriptor.get, conf)).toMap ++
      (if (legacy.isEmpty) Nil
      else legacyBitmapDf(legacy).collect().map(r =>
        r.getString(0) -> DvBitmap.deserialize(r.getAs[Array[Byte]](1))))
  }

  /** The same masks as rows (`__path`, `__bitmap`), decoded on executors —
    * for mask sets too large to pass through the driver. */
  private[table] def dvBitmapDf(dvs: Seq[DeletionVector]): DataFrame = {
    val (legacy, described) = dvs.partition(_.legacy)
    val decoded = DvStore.decode(spark, dir.toString,
      described.map(d => absPathStr(d.forFile) -> d.descriptor.get))
    if (legacy.isEmpty) decoded else decoded.unionByName(legacyBitmapDf(legacy))
  }

  // per-file bitmaps broadcast for the mask filter, memoized across reads of
  // the same DV state (a commit changes the state → new cache entry); old
  // entries are unpersisted (never destroyed — cached plans may still hold
  // the reference and can re-fetch from the driver)
  @transient private lazy val dvBroadcastCache =
    new java.util.concurrent.ConcurrentHashMap[
      Set[DeletionVector], org.apache.spark.broadcast.Broadcast[Map[String, Array[Byte]]]]()

  /** Filter a position-carrying frame (`__file`, `__idx`) through the given
    * deletion vectors ([[DvBitmap.dropMasked]]), the broadcast side served
    * from this table's cache. */
  private def dvMaskJoin(withPos: DataFrame, dvs: Seq[DeletionVector]): DataFrame =
    DvBitmap.dropMasked(withPos, dvs.map(_.numDeleted).sum,
      dvBroadcastCache.computeIfAbsent(dvs.toSet, _ => {
        if (dvBroadcastCache.size >= 8) {
          val it = dvBroadcastCache.entrySet().iterator()
          while (it.hasNext) { it.next().getValue.unpersist(false); it.remove() }
        }
        spark.sparkContext.broadcast(
          dvBitmaps(dvs).map { case (p, bm) => p -> DvBitmap.serialize(bm) })
      }),
      dvBitmapDf(dvs))

  /** Masked read with the table schema only (the hot read path). */
  private[graft] def readFilesMasked(
      snap: Snapshot, files: Seq[AddFile], schema: StructType): DataFrame =
    if (files.forall(f => !snap.dvs.contains(f.path))) readFiles(files, schema)
    else readFilesMaskedPos(snap, files, schema).drop("__file", "__idx")

  /** Masked read keeping a `__file` reader-path column (probe phases). */
  private[table] def readFilesWithFile(
      snap: Snapshot, files: Seq[AddFile], schema: StructType): DataFrame =
    if (files.forall(f => !snap.dvs.contains(f.path)))
      readFiles(files, schema).withColumn("__file", input_file_name())
    else readFilesMaskedPos(snap, files, schema).drop("__idx")

  /** Tombstones for the vector files (`.bin` files, legacy directories)
    * under `dv/` that `removedPaths`' vectors lived in and that none of
    * `future` — the vectors of the table's next state — still points into:
    * one `.bin` holds a whole commit's vectors, so it lives on while any
    * of them does. */
  private[table] def dvTombstones(
      s: Snapshot, removedPaths: Set[String], future: Iterable[DeletionVector],
      now: Long): Seq[RemoveFile] = {
    val dropped = removedPaths.flatMap(p => s.dvs.get(p)).flatMap(_.storagePath)
      .filter(_.startsWith(DvStore.Dir + "/"))
    dropped.diff(future.flatMap(_.storagePath).toSet).toSeq.map(p => RemoveFile(p, now))
  }

  /** Conservative file-level filtering on partition columns, evaluated
    * locally on the driver (no Spark job — read-path planning must stay
    * metadata-only): each file's partition values become min=max pseudo-stats
    * and the shared [[Pruner]] decides. Conservative is safe here because the
    * residual filter re-applies the predicate; the exact (job-based)
    * [[partitionValuesMatching]] remains for replaceWhere, where matching
    * decides file REMOVAL. */
  private[table] def partitionPrune(snap: Snapshot, files: Seq[AddFile],
      filters: Seq[Column]): Seq[AddFile] = {
    val pcols = snap.metadata.partitionColumns
    if (pcols.isEmpty || files.isEmpty || filters.isEmpty) return files
    val pset = pcols.toSet
    val applicable = filters.filter { c =>
      val ns = refNames(Pruner.exprOf(c)); ns.nonEmpty && ns.subsetOf(pset)
    }
    if (applicable.isEmpty) return files
    // canonicalize the raw path-string values through a cast to the column
    // type so they compare correctly against Stats encodings
    def canonical(c: String, v: String): Option[String] = {
      val dt = snap.schema.fields.find(_.name == c).map(_.dataType).getOrElse(StringType)
      scala.util.Try {
        val internal = Cast(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(v),
          StringType), dt, Some("UTC")).eval(null)
        if (internal == null) null else Stats.encodeInternal(internal, dt)
      }.toOption
    }
    files.filter { f =>
      val pstats = pcols.flatMap { c =>
        f.partitionValues.get(c).flatMap {
          case null => Some(c -> ColStats(null, null, 1L))
          case v    => canonical(c, v).map {
            case null => c -> ColStats(null, null, 1L)
            case cv   => c -> ColStats(cv, cv, 0L)
          }
        }
      }.toMap
      val pseudo = f.copy(stats = pstats, numRecords = 1L)
      Pruner.prune(Seq(pseudo), applicable, snap.schema).nonEmpty
    }
  }

  private[table] def refNames(e: Expression): Set[String] = {
    val acc = scala.collection.mutable.Set.empty[String]
    e.foreach {
      case a: AttributeReference => acc += a.name
      case u: UnresolvedAttribute => acc += u.nameParts.last
      case _ =>
    }
    acc.toSet
  }

  /** Paths of `files` whose partitionValues satisfy all `preds` — EXACT
    * (runs a tiny local-DataFrame Spark job; used where matching decides
    * file removal, i.e. replaceWhere). */
  private[table] def partitionValuesMatching(
      files: Seq[AddFile], preds: Seq[Column], schema: StructType): Set[String] = {
    val pcols = partitionColumns
    val rows = files.map(f => Row.fromSeq(f.path +: pcols.map(c => f.partitionValues.getOrElse(c, null))))
    val rawSchema = StructType(StructField("__path", StringType) +:
      pcols.map(c => StructField(c, StringType)))
    val pdf = spark.createDataFrame(rows.asJava, rawSchema)
    val typed = pcols.foldLeft(pdf) { (d, c) =>
      val dt = schema.fields.find(_.name == c).map(_.dataType).getOrElse(StringType)
      d.withColumn(c, col(c).cast(dt))
    }
    preds.foldLeft(typed)(_ filter _).select("__path").collect().map(_.getString(0)).toSet
  }

  // ---------------------------------------------------------------- writes

  /** Append (W1). `mergeSchema` evolves the table schema by unioning new
    * columns (src/delta_utils.py:136-139). */
  def append(df: DataFrame, mergeSchema: Boolean = false): Long = {
    var attempts = 0
    while (true) {
      val snap = snapshot()
      val target = if (mergeSchema) mergedSchema(snap.schema, df.schema) else snap.schema
      // identity allocation: base values come from the snapshot's
      // high-water marks; the bump after the write is derived from the
      // footer stats stageWrite already collects — no extra job
      val idCols = identityColumns.filter { case (n, _, _) =>
        !df.columns.exists(_.equalsIgnoreCase(n)) }
      val idBase = idCols.map { case (n, st, _) => n -> identityNext(snap, n, st) }.toMap
      val adds = stageIngestWrite(
        align(df, target, strict = !mergeSchema, identityBase = idBase),
        snap.metadata.partitionColumns)
      val idBumps: Map[String, String] = idCols.flatMap { case (n, st, step) =>
        // ColStats encodings are canonical strings; LongType is plain digits
        val bounds = adds.flatMap(_.stats.get(n))
          .flatMap(s => Seq(Option(s.min), Option(s.max)).flatten).map(_.toLong)
        if (bounds.isEmpty) None
        else {
          // negative step allocates downward: the new base continues past
          // the furthest value in step's direction
          val furthest = if (step > 0) bounds.max else bounds.min
          Some(s"graft.identity.$n.next" -> (furthest + step).toString)
        }
      }.toMap
      try {
        val v = commitWithRetry("WRITE", Map("mode" -> "Append"), snap) { s =>
          // a concurrent append that consumed the same identity range would
          // make our staged ids collide — restage from the fresh high-water
          idCols.foreach { case (n, st, _) =>
            if (identityNext(s, n, st) != idBase(n)) throw new LakeTable.StaleStagedIds
          }
          // Re-derive the target schema against the snapshot we are actually
          // committing on: a racing commit may have evolved the schema (ADD
          // COLUMNS, another mergeSchema append) and must not be clobbered by
          // a Metadata action computed from the stale snapshot. The staged
          // files stay valid either way — a column they lack reads as null
          // under the enforced schema — UNLESS the race reassigned a new
          // column's field id, in which case the files are re-staged (a
          // mismatched id would silently remap bytes). A strict append
          // aborts instead (Delta's metadata-conflict rule).
          val tgt =
            if (mergeSchema) mergedSchema(s.schema, df.schema)
            else if (s.schema != target)
              throw new java.util.ConcurrentModificationException(
                s"append conflicts with a concurrent schema change on $dir")
            else target
          if (mergeSchema && ColumnIds.mapped(s.schema) &&
              !ColumnIds.consistent(target, tgt))
            throw new LakeTable.StaleStagedIds
          val meta = evolveMeta(s, tgt) match {
            case Seq(m: graft.log.Metadata) if idBumps.nonEmpty =>
              Seq(m.copy(properties = m.properties ++ idBumps))
            case Nil if idBumps.nonEmpty =>
              Seq(s.metadata.copy(properties = s.metadata.properties ++ idBumps))
            case other => other
          }
          meta ++ adds
        }
        maybeAutoCompact()
        return v
      } catch {
        // staged files are unreferenced; VACUUM collects them
        case _: LakeTable.StaleStagedIds if attempts < 5 => attempts += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Append + table-property update in ONE atomic commit — the shape for a
    * persisted-index batch append, where the data (postings) and the
    * aggregate metadata it implies (corpus stats) must never be observable
    * separately: a reader either sees neither or both, and a crash between
    * them is impossible by construction.
    *
    * The property map is RECOMPUTED from the fresh snapshot inside the CAS
    * retry loop, so a read-modify-write delta (`counter -> old + n`)
    * survives a lost race with a concurrent appender instead of clobbering
    * its update (the classic lost-update CAS alone does not prevent).
    *
    * Optional (txnAppId, txnVersion) rides the same idempotency ledger as
    * [[appendStream]]: a replayed (app, version) no-ops entirely — the data
    * is never double-appended and the properties never double-advance. The
    * ledger check re-runs against the fresh snapshot inside the retry loop,
    * so a lost CAS race with the replayed twin cannot double-commit.
    *
    * Identity columns are not allocated here (an index table has none);
    * schema evolution is strict. */
  def appendWithProps(
      df: DataFrame,
      props: Snapshot => Map[String, String],
      txnAppId: Option[String] = None,
      txnVersion: Option[Long] = None): Long = {
    require(identityColumns.isEmpty,
      s"appendWithProps does not allocate identity columns (table $dir has some)")
    def replayed(s: Snapshot): Boolean = (txnAppId, txnVersion) match {
      case (Some(a), Some(v)) => lastTxnVersion(s, a).exists(_ >= v)
      case _ => false
    }
    val snap = snapshot()
    if (replayed(snap)) return snap.version
    val target = snap.schema
    val adds = stageIngestWrite(align(df, target, strict = true),
      snap.metadata.partitionColumns)
    val params = Map("mode" -> "Append") ++
      txnAppId.map("txnAppId" -> _) ++ txnVersion.map(v => "txnVersion" -> v.toString)
    try {
      commitWithRetry("WRITE", params, snap) { s =>
        if (replayed(s)) throw new LakeTable.EpochAlreadyCommitted
        if (s.schema != target)
          throw new java.util.ConcurrentModificationException(
            s"append conflicts with a concurrent schema change on $dir")
        val normalized = LakeTable.normalizeProps(props(s))
        val meta = s.metadata.copy(properties = s.metadata.properties ++ normalized)
        val proto = graft.log.Protocol.merge(s.protocol,
          LakeTable.impliedFeatures(meta.properties))
        (if (proto == s.protocol) Seq(meta) else Seq(proto, meta)) ++ adds
      }
    } catch {
      case _: LakeTable.EpochAlreadyCommitted => snapshot().version
    }
  }

  /** Idempotent batch file loading — Delta's COPY INTO. Every source file
    * is loaded AT MOST ONCE across invocations: re-running after new files
    * land appends only those; a full re-run is a no-op. File identity is
    * the path (a rewritten file under the same name is NOT reloaded,
    * matching Delta's default). The loaded-file ledger rides the COPY INTO
    * commits' operationParameters and folds into the snapshot
    * (`Snapshot.copied`, carried by checkpoints) — the table itself is the
    * only state, and the ledger grows with files LOADED, not files listed.
    * Directories expand one level; pass a `*` glob under the root for
    * nested layouts. Listing is a driver metadata op.
    *
    * `force` ignores the ledger and reloads everything listed (Delta's
    * COPY_OPTIONS force) — the escape hatch when the ledger outlives the
    * data it tracked, e.g. after a RESTORE to a pre-load version (RESTORE
    * rewinds the file set but the replayed log still contains the COPY
    * INTO commits). */
  def copyInto(
      sourcePath: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      force: Boolean = false): Long = {
    val snap0 = snapshot()
    val hpath = new org.apache.hadoop.fs.Path(sourcePath)
    val fs = hpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val globbed = Option(fs.globStatus(hpath)).map(_.toSeq).getOrElse(Nil)
    val listed = globbed.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filterNot(_.isDirectory)
        else Seq(st)
      }
      .map(_.getPath.toUri.getPath)
      .filterNot { p =>
        val n = p.substring(p.lastIndexOf('/') + 1)
        n.startsWith("_") || n.startsWith(".")
      }
      .sorted
    val fresh = if (force) listed else listed.filterNot(snap0.copied)
    if (fresh.isEmpty) return snap0.version
    // parquet/orc are self-describing (align casts onto the table schema);
    // csv/json read under the enforced schema
    val df = format.toLowerCase match {
      case "parquet" => spark.read.options(options).parquet(fresh: _*)
      case "orc"     => spark.read.options(options).orc(fresh: _*)
      case "json"    => spark.read.options(options).schema(snap0.schema).json(fresh: _*)
      case "csv"     => spark.read.option("header", "true").options(options)
        .schema(snap0.schema).csv(fresh: _*)
      case f => throw new IllegalArgumentException(s"unsupported COPY INTO format: $f")
    }
    val adds = stageIngestWrite(align(df, snap0.schema, strict = true),
      snap0.metadata.partitionColumns)
    commitWithRetry("COPY INTO",
      Map("source" -> sourcePath, "format" -> format,
        "copiedFiles" -> fresh.mkString("\n")), snap0,
      Map("numSourceFiles" -> fresh.size.toLong)) { s =>
      if (s.version != snap0.version) {
        if (s.schema != snap0.schema)
          throw new java.util.ConcurrentModificationException(
            "COPY INTO conflicts with a concurrent schema change")
        // the ledger re-check against the FRESH snapshot keeps at-most-once
        // under a lost CAS race with a concurrent COPY INTO of the same files
        if (!force && fresh.exists(s.copied))
          throw new java.util.ConcurrentModificationException(
            "COPY INTO conflicts with a concurrent load of the same files")
      }
      adds
    }
  }

  /** Idempotent streaming append: exactly-once under foreachBatch replay
    * (W7 sink side, §2.11 — notebooks/01_bronze_ingestion.py:223-229). The
    * commit records (txnAppId, txnVersion); a replayed epoch whose version
    * is <= the last recorded one for the same app is a no-op. The check is
    * re-run inside the commit-retry loop against the fresh snapshot, so a
    * lost CAS race with the replayed twin cannot double-commit. */
  def appendStream(df: DataFrame, txnAppId: String, txnVersion: Long,
      mergeSchema: Boolean = false): Long = {
    var attempts = 0
    while (true) {
      val snap = snapshot()
      if (lastTxnVersion(snap, txnAppId).exists(_ >= txnVersion)) return snap.version
      val target = if (mergeSchema) mergedSchema(snap.schema, df.schema) else snap.schema
      val adds = stageIngestWrite(align(df, target, strict = !mergeSchema),
        snap.metadata.partitionColumns)
      try {
        val v = commitWithRetry("STREAMING UPDATE",
          Map("outputMode" -> "Append", "txnAppId" -> txnAppId,
            "txnVersion" -> txnVersion.toString), snap) { s =>
          if (lastTxnVersion(s, txnAppId).exists(_ >= txnVersion))
            throw new LakeTable.EpochAlreadyCommitted
          // same retry-safe schema handling as append()
          val tgt =
            if (mergeSchema) mergedSchema(s.schema, df.schema)
            else if (s.schema != target)
              throw new java.util.ConcurrentModificationException(
                s"stream append conflicts with a concurrent schema change on $dir")
            else target
          if (mergeSchema && ColumnIds.mapped(s.schema) &&
              !ColumnIds.consistent(target, tgt))
            throw new LakeTable.StaleStagedIds
          evolveMeta(s, tgt) ++ adds
        }
        maybeAutoCompact()
        return v
      } catch {
        // staged files are unreferenced; VACUUM collects them
        case _: LakeTable.EpochAlreadyCommitted => return snapshot().version
        case _: LakeTable.StaleStagedIds if attempts < 5 => attempts += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Idempotent streaming overwrite — the Complete-output-mode sink leg:
    * the same (txnAppId, txnVersion) ledger as [[appendStream]] wrapped
    * around a full overwrite commit, so a replayed epoch neither
    * double-writes nor rolls the table back to an older aggregate. */
  def overwriteStream(df: DataFrame, txnAppId: String, txnVersion: Long): Long = {
    val snap = snapshot()
    if (lastTxnVersion(snap, txnAppId).exists(_ >= txnVersion)) return snap.version
    val target = snap.schema
    val adds = stageIngestWrite(align(df, target, strict = true),
      snap.metadata.partitionColumns)
    try {
      commitWithRetry("STREAMING UPDATE",
        Map("mode" -> "Overwrite", "outputMode" -> "Complete",
          "txnAppId" -> txnAppId, "txnVersion" -> txnVersion.toString), snap) { s =>
        if (lastTxnVersion(s, txnAppId).exists(_ >= txnVersion))
          throw new LakeTable.EpochAlreadyCommitted
        if (s.schema != target)
          throw new java.util.ConcurrentModificationException(
            s"stream overwrite conflicts with a concurrent schema change on $dir")
        val now = clockMillis()
        s.files.map(f => RemoveFile(f.path, now)) ++ adds ++
          dvTombstones(s, s.files.map(_.path).toSet, Nil, now)
      }
    } catch {
      case _: LakeTable.EpochAlreadyCommitted => snapshot().version
    }
  }

  /** Highest txnVersion committed for `txnAppId` (None if never seen). */
  def lastTxnVersion(snap: Snapshot, txnAppId: String): Option[Long] =
    snap.txns.get(txnAppId)

  /** Full overwrite (W2); `overwriteSchema` replaces the schema wholesale
    * (migration/migrate_from_rdbms.py:104-108). */
  def overwrite(df: DataFrame, overwriteSchema: Boolean = false): Long = {
    val snap = snapshot()
    // overwriteSchema replaces wholesale; on a mapped table the new schema
    // is restamped with fresh ids BEFORE staging so the staged files carry
    // them (all old files are removed in the same commit)
    val target =
      if (!overwriteSchema) snap.schema
      else if (ColumnIds.mapped(snap.schema)) ColumnIds.stampAll(df.schema)
      else df.schema
    val adds = stageIngestWrite(align(df, target, strict = !overwriteSchema),
      snap.metadata.partitionColumns)
    commitWithRetry("WRITE", Map("mode" -> "Overwrite"), snap) { s =>
      // overwriteSchema intentionally replaces whatever schema is current;
      // a plain overwrite aborts if the schema moved under it (the staged
      // files were aligned to the stale schema).
      if (!overwriteSchema && s.schema != target)
        throw new java.util.ConcurrentModificationException(
          s"overwrite conflicts with a concurrent schema change on $dir")
      val now = clockMillis()
      evolveMeta(s, target) ++ s.files.map(f => RemoveFile(f.path, now)) ++ adds ++
        dvTombstones(s, s.files.map(_.path).toSet, Nil, now)
    }
  }

  /** CREATE OR REPLACE TABLE semantics as ONE commit (Delta parity):
    * wholesale new schema / partitioning / properties, every live file
    * removed, the optional new data staged beforehand and added in the same
    * commit — so the replace is atomic and prior versions stay
    * time-travelable (unlike a DROP + CREATE, which erases history).
    * Constraints/generated-column rules are taken from the NEW properties;
    * the old table's rules die with it. */
  def replaceTable(
      newSchema: StructType,
      newPartitionColumns: Seq[String],
      newProperties: Map[String, String],
      data: Option[DataFrame] = None): Long = {
    val bad = newPartitionColumns.filterNot(newSchema.fieldNames.contains)
    require(bad.isEmpty, s"partition columns not in schema: ${bad.mkString(",")}")
    val stamped = ColumnIds.stampAll(newSchema)
    val props = LakeTable.normalizeProps(newProperties) +
      (ColumnIds.MaxIdKey -> stamped.fields.length.toString)
    val snap = snapshot()
    // align to the STAMPED schema (not via `align`, whose generated/identity
    // rules read the OLD table's properties): the aliases carry the fresh
    // field-id metadata, so the staged parquet matches the committed
    // column-mapped schema — without this, post-replace reads that resolve
    // by field id find none in the files
    val adds = data.map { df =>
      val cols = stamped.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name, f.metadata))
      stageWrite(df.select(cols: _*), newPartitionColumns,
        constraintsOverride = Some(LakeTable.constraintsFrom(props, stamped)))
    }.getOrElse(Nil)
    commitWithRetry("REPLACE TABLE",
      Map("partitionBy" -> newPartitionColumns.mkString(",")), snap) { s =>
      val now = clockMillis()
      Seq(s.metadata.copy(schemaJson = stamped.json,
        partitionColumns = newPartitionColumns, properties = props)) ++
        s.files.map(f => RemoveFile(f.path, now)) ++ adds ++
        dvTombstones(s, s.files.map(_.path).toSet, Nil, now)
    }
  }

  /** Partition-scoped overwrite — Delta's `replaceWhere`
    * (notebooks/03_gold_aggregation.py:82-86). The predicate must be on
    * partition columns; incoming rows must all satisfy it. */
  def overwriteWhere(pred: Column, df: DataFrame): Long = {
    val snap = snapshot()
    val refs = refNames(Pruner.exprOf(pred))
    require(refs.nonEmpty && refs.subsetOf(snap.metadata.partitionColumns.toSet),
      s"replaceWhere predicate must reference only partition columns ${snap.metadata.partitionColumns}; got $refs")
    // NULL predicate results are violations too (NOT NULL is NULL and would
    // otherwise slip through the filter while landing outside the replaced
    // partitions).
    require(df.filter(!coalesce(pred, lit(false))).isEmpty,
      s"rows in the incoming DataFrame violate the replaceWhere predicate: $pred")
    val adds = stageIngestWrite(align(df, snap.schema, strict = true),
      snap.metadata.partitionColumns)
    commitWithRetry("WRITE", Map("mode" -> "Overwrite", "replaceWhere" -> pred.toString), snap) { s =>
      val now = clockMillis()
      val doomed = partitionValuesMatching(s.files, Seq(pred), s.schema)
      s.files.filter(f => doomed.contains(f.path)).map(f => RemoveFile(f.path, now)) ++ adds ++
        dvTombstones(s, doomed, (s.dvs -- doomed).values, now)
    }
  }

  /** Dynamic partition overwrite — Spark's
    * `partitionOverwriteMode=dynamic` / `DataFrameWriterV2
    * .overwritePartitions()` / `INSERT OVERWRITE` semantics: replace
    * exactly the partitions present in the incoming frame, leave every
    * other partition untouched. The replaced set is derived from the
    * staged files' hive dirs (no second scan of the input); an
    * unpartitioned table degrades to a full overwrite, matching Spark. */
  def overwriteDynamic(df: DataFrame): Long = {
    val snap = snapshot()
    val pcols = snap.metadata.partitionColumns
    if (pcols.isEmpty) return overwrite(df)
    val adds = stageIngestWrite(align(df, snap.schema, strict = true), pcols)
    val touched: Set[Map[String, String]] = adds.map(_.partitionValues).toSet
    commitWithRetry("WRITE",
      Map("mode" -> "Overwrite", "partitionOverwriteMode" -> "dynamic"), snap) { s =>
      if (s.schema != snap.schema)
        throw new java.util.ConcurrentModificationException(
          s"dynamic overwrite conflicts with a concurrent schema change on $dir")
      val now = clockMillis()
      val doomed = s.files.filter(f => touched.contains(f.partitionValues))
        .map(_.path).toSet
      s.files.filter(f => doomed.contains(f.path)).map(f => RemoveFile(f.path, now)) ++
        adds ++
        dvTombstones(s, doomed, (s.dvs -- doomed).values, now)
    }
  }

  /** Optimized-write (`delta.autoOptimize.optimizeWrite`,
    * src/delta_utils.py:52-55): shuffle the incoming data by the partition
    * columns (or round-robin when unpartitioned) ahead of the write so AQE's
    * partition coalescing merges undersized shuffle partitions toward the
    * advisory size — fewer, larger files, the Spark-native equivalent of
    * Delta's optimizeWrite rebalance. Applied only on the append/overwrite
    * ingest paths: DML/maintenance rewrites shape their own output (z-order
    * would lose its in-partition sort under an extra exchange). */
  private def propTrue(key: String): Boolean = {
    val p = properties
    p.get(s"graft.$key").orElse(p.get(s"delta.$key")).contains("true")
  }
  /** Declared clustering columns (`graft.clusterBy = c1,c2`) present in
    * `df` — Delta liquid-clustering-lite: ingest writes are z-clustered so
    * range/point predicates prune freshly-written files without waiting
    * for an OPTIMIZE ZORDER pass. */
  private def clusterColumns(df: DataFrame): Seq[String] =
    properties.get("graft.clusterBy")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      .filter(c => df.columns.exists(_.equalsIgnoreCase(c)))

  /** Target output file size (`graft.targetFileSize` / `delta.targetFileSize`,
    * default 128 MB) — drives AQE's advisory partition size on the shaped
    * ingest paths. */
  private def targetFileSize: Long =
    properties.get("graft.targetFileSize")
      .orElse(properties.get("delta.targetFileSize"))
      .flatMap(s => scala.util.Try(s.toLong).toOption).filter(_ > 0)
      .getOrElse(128L * 1024 * 1024)

  /** `df` written by one task through `coalesce(1)` — no shuffle — when
    * `bytes`, a bound on its input's size, fits the target file size: a
    * small write lands as one file (one per partition directory). */
  private[table] def packSmall(df: DataFrame, bytes: Long): DataFrame =
    if (bytes <= targetFileSize) df.coalesce(1) else df

  private[table] def stageIngestWrite(df: DataFrame, pcols: Seq[String]): Seq[AddFile] = {
    val ccols = clusterColumns(df)
    // a local input (its rows on the driver, their exact size known) that
    // fits one file is written as one, by one task
    if (ccols.isEmpty) Local.relation(df).filter(Local.bytes(_) <= targetFileSize) match {
      case Some(l) => return stageWrite(Local.frame(spark, l).coalesce(1), pcols)
      case None =>
    }
    if (ccols.isEmpty && !propTrue("autoOptimize.optimizeWrite"))
      return stageWrite(df, pcols)
    val shaped =
      if (ccols.nonEmpty) {
        // clustered ingest: range-partition the batch on its interleaved
        // z-value (one extra bounds agg over the batch) and sort within
        // partitions, so every written file covers a tight z-range — the
        // same layout OPTIMIZE ZORDER produces, paid incrementally at
        // write time. No explicit partition count: AQE sizes the range
        // shuffle to the advisory target below.
        val z = ZOrder.zvalue(df,
          ccols.map(c => col(c) -> df.schema(df.schema.fieldIndex(
            df.columns.find(_.equalsIgnoreCase(c)).get)).dataType))
        df.withColumn("__z", z)
          .repartitionByRange((pcols.map(col) :+ col("__z")): _*)
          .sortWithinPartitions((pcols :+ "__z").map(col): _*)
          .drop("__z")
      }
      // REBALANCE is the one shuffle AQE may both coalesce AND split by
      // size (an explicit repartition(n) is user-mandated and never
      // coalesced); keyed by the partition columns so each output task
      // writes few dirs
      else if (pcols.nonEmpty) df.hint("rebalance", pcols: _*)
      else df.hint("rebalance")
    // the size target must actually drive the shuffle: parallelismFirst
    // (the default) stops coalescing at the core count, which re-fragments
    // small writes instead of packing them
    val c = spark.conf
    val keys = Seq("spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      // the 1MB default floor would override a smaller file-size target
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prev = keys.map(k => k -> c.getOption(k))
    c.set(keys(0), "false")
    c.set(keys(1), targetFileSize.toString)
    c.set(keys(2), math.max(1L, targetFileSize / 2).toString)
    try {
      val adds = stageWrite(shaped, pcols)
      // clustered-ingest outputs carry the same provenance tag OPTIMIZE
      // ZORDER writes, so a later incremental OPTIMIZE skips them
      if (ccols.isEmpty) adds
      else {
        val tag = clusterTag("zorder", ccols)
        adds.map(a => a.copy(tags =
          Option(a.tags).getOrElse(Map.empty) + ("clusteredBy" -> tag)))
      }
    } finally prev.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  /** Size-driven AQE coalescing scoped around one small write (r15 —
    * verdict task 1, decouple write fanout from compute parallelism): when
    * a DML rewrite is provably SMALL (`enable` is gated on the touched +
    * source bytes by the caller), every AQE shuffle in the write job
    * coalesces toward the file-size target instead of stopping at the core
    * count, so a 20 MB merge stops littering one sub-MB file per shuffle
    * partition (measured: 33 files per q60-shape merge at local[32] — the
    * next merge's probe and every later read paid the per-file open/footer
    * cost). Large rewrites keep the parallel encode untouched — the gate,
    * not this helper, decides. Joins and upstream compute stay parallel;
    * only post-shuffle partition counts change. */
  private[table] def withSmallWriteSizing[A](enable: Boolean)(f: => A): A = {
    if (!enable) return f
    val c = spark.conf
    val keys = Seq("spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prev = keys.map(k => k -> c.getOption(k))
    c.set(keys(0), "false")
    c.set(keys(1), targetFileSize.toString)
    c.set(keys(2), math.max(1L, targetFileSize / 2).toString)
    try f
    finally prev.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  /** Auto-compaction (`delta.autoOptimize.autoCompact`): after an append
    * commit, bin-pack small files once they accumulate past
    * `graft.autoCompact.minNumFiles` (default 50, Delta's own trigger).
    * Best-effort — a compaction failure (e.g. losing a commit race) never
    * fails the write that triggered it; the files stay and the next write
    * retries. */
  private def maybeAutoCompact(): Unit =
    if (propTrue("autoOptimize.autoCompact")) scala.util.Try {
      val target = 128L * 1024 * 1024
      val minN = properties.get("graft.autoCompact.minNumFiles")
        .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(50)
      if (snapshot().files.count(_.size < target / 2) >= minN)
        optimizeCompact(target): Unit
    }: Unit

  /** Write `df` as new Parquet files under `data/<uuid>/` and return the
    * AddFile actions (stats collected in one distributed pass). Files are
    * never moved after the write — the log is the source of truth. */
  private[table] def stageWrite(
      df: DataFrame, partitionCols: Seq[String],
      constraintsOverride: Option[Seq[(String, Column)]] = None): Seq[AddFile] = {
    val commitId = UUID.randomUUID().toString.replace("-", "").take(12)
    val relDir = s"data/$commitId"
    val absDir = dir.resolve(relDir)
    val pcols = partitionCols.map(c => s"__p_$c")
    // INT96 (the default) carries no usable footer min/max; micros does
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    // CHECK constraints ride the write job as observed metrics — no second
    // pass over the data. Violations surface after the files are staged but
    // BEFORE the commit, so the table state never includes them (staged
    // orphans are invisible to readers and vacuumable).
    val constraints = constraintsOverride.getOrElse(checkConstraints)
    // On a foreachBatch thread the observation can never complete (see
    // LakeTable.onStreamExecutionThread): validate constraints with a
    // dedicated pre-pass there instead of riding the write job.
    val observable = !LakeTable.onStreamExecutionThread
    def constraintAggs = constraints.map { case (name, pred) =>
      sum(when(!coalesce(pred, lit(false)), 1L).otherwise(0L)).as(name)
    }
    def violations(row: String => Option[Any]): Unit =
      constraints.foreach { case (name, _) =>
        val bad = row(name) match {
          case Some(l: java.lang.Long) => l.longValue(); case _ => 0L
        }
        if (bad > 0) {
          val what =
            if (name.startsWith("__gen_"))
              s"generated column ${name.stripPrefix("__gen_")} " +
                s"(${properties.getOrElse(s"graft.generated.${name.stripPrefix("__gen_")}", "replacement rule")}) supplied with a non-matching value"
            else s"CHECK constraint $name (${properties.getOrElse(s"graft.constraints.$name", "replacement rule")}) violated"
          throw new IllegalArgumentException(s"$what: $bad row(s)")
        }
      }
    if (!observable && constraints.nonEmpty) {
      val aggs = constraintAggs
      val row = df.agg(aggs.head, aggs.tail: _*).collect().head
      violations(n => Option(row.getAs[Any](n)))
    }
    val obs = if (constraints.isEmpty || !observable) None
      else Some(org.apache.spark.sql.Observation())
    val checked = obs match {
      case None => df
      case Some(o) =>
        val aggs = constraintAggs
        df.observe(o, aggs.head, aggs.tail: _*)
    }
    val toWrite = partitionCols.foldLeft(checked)((d, c) => d.withColumn(s"__p_$c", col(c)))
    val w = toWrite.write.mode("errorifexists")
    (if (pcols.nonEmpty) w.partitionBy(pcols: _*) else w).parquet(absDir.toString)
    obs.foreach { o =>
      val row = o.get
      violations(row.get)
    }

    val files = listParquet(absDir)
    if (files.isEmpty) return Nil
    // stats come from the parquet footers (driver-side metadata IO); the
    // distributed re-read is only a safety net
    val stats =
      try Stats.fromFooters(files, df.schema)
      catch { case scala.util.control.NonFatal(_) =>
        Stats.collect(spark.read.parquet(absDir.toString).drop(pcols: _*))
      }
    val blooms = buildBloomSidecars(absDir, commitId, stats, df.schema)
    // Per-column change-count tags let pruning HEAL after a type widening:
    // this write's stats/blooms were computed from values of df.schema's
    // types, so a widened column's stats are exact under the CURRENT type
    // exactly when the two types are EQUAL — the type-equality guard also
    // makes the tag race-free (a widen landing after the caller resolved
    // its schema leaves df at the old type → no tag → conservative).
    // Pruning trusts a file's stats/bloom for the column iff the counts
    // match (TypeWidening.statsExact/bloomValid). Tables that never widen
    // get no tags — their wire format is unchanged.
    val tcTags = scala.util.Try(snapshot().schema).toOption.toSeq
      .flatMap(_.fields.toSeq)
      .filter(sf => graft.log.TypeWidening.hasChanges(sf) ||
        graft.log.TypeWidening.nameReused(sf))
      .flatMap { sf =>
        df.schema.fields.find(_.name.equalsIgnoreCase(sf.name))
          .filter(_.dataType == sf.dataType)
          .map(_ => graft.log.TypeWidening.tagKey(sf) ->
            graft.log.TypeWidening.changeCount(sf).toString)
      }.toMap
    files.map { p =>
      val rel = dir.relativize(p).toString
      val (cnt, st) = stats.getOrElse(p.toString, (0L, Map.empty[String, ColStats]))
      AddFile(
        path = rel,
        partitionValues = parsePartitionValues(rel),
        size = Files.size(p),
        numRecords = cnt,
        stats = st,
        modificationTime = Files.getLastModifiedTime(p).toMillis,
        bloom = blooms.get(p.toString).orNull,
        tags = if (tcTags.isEmpty) null else tcTags)
    }
  }

  /** Opt-in per-file bloom filters (`graft.bloomFilter.columns` +
    * `graft.bloomFilter.fpp`, default 0.01): one extra distributed pass
    * over the freshly written files computes each row's `xxhash64` per
    * indexed column and packs one bitset per (file, column) — built inside
    * `mapGroups` per file, never a driver-side row set. Sidecars land
    * under `_bloom/<commitId>/` and ride the AddFile action; the cost is
    * one re-read of the NEW files only (opt-in, exactly like Databricks'
    * bloom filter index), and equality/IN predicates on the indexed
    * columns then prune files min/max stats never could — a
    * high-cardinality key written in arrival order spans the full key
    * range in every file. Returns absoluteDataFilePath -> (col -> relPath). */
  private def buildBloomSidecars(
      absDir: Path,
      commitId: String,
      stats: Map[String, (Long, Map[String, ColStats])],
      schema: StructType): Map[String, Map[String, String]] = {
    val cols = properties.get("graft.bloomFilter.columns").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .flatMap(c => schema.fields.find(_.name.equalsIgnoreCase(c))).map(_.name)
    if (cols.isEmpty) return Map.empty
    val maxRows = stats.values.map(_._1).maxOption.getOrElse(0L)
    if (maxRows == 0L) return Map.empty
    val fpp = properties.get("graft.bloomFilter.fpp")
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
      .filter(p => p > 0 && p < 1).getOrElse(0.01)
    val (m, k) = BloomFilter.sizing(maxRows, fpp)
    val relDir = s"_bloom/$commitId"
    Files.createDirectories(dir.resolve(relDir))
    import spark.implicits._
    val src = spark.read.parquet(absDir.toString)
    val out = scala.collection.mutable.Map.empty[String, Map[String, String]]
    cols.foreach { c =>
      val perFile: Array[(String, Array[Byte])] = src
        .where(col(c).isNotNull)
        .select(input_file_name().as("__f"), xxhash64(col(c)).as("__h"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapGroups { (file, rows) =>
          val words = new Array[Long]((m / 64).toInt)
          rows.foreach { case (_, h) =>
            BloomFilter.positions(h, m, k).foreach { pos =>
              words((pos / 64).toInt) |= (1L << (pos % 64).toInt)
            }
          }
          (file, BloomFilter.serialize(k, m, words))
        }.collect()
      perFile.foreach { case (fileUri, bytes) =>
        val abs = Stats.stripScheme(fileUri)
        val rel = s"$relDir/${Paths.get(abs).getFileName}.$c.bloom"
        Files.write(dir.resolve(rel), bytes)
        out(abs) = out.getOrElse(abs, Map.empty) + (c -> rel)
      }
    }
    out.toMap
  }

  private[table] def listParquet(root: Path): Seq[Path] = listEnding(root, ".parquet")

  /** Vector files: `.bin` files and (legacy) parquet parts. */
  private[table] def listDvFiles(root: Path): Seq[Path] = listEnding(root, ".parquet", ".bin")

  private def listEnding(root: Path, suffixes: String*): Seq[Path] = {
    if (!Files.isDirectory(root)) return Nil
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p =>
      suffixes.exists(p.toString.endsWith) && Files.isRegularFile(p)).toSeq
    finally s.close()
  }

  /** Parse `__p_<col>=<val>` segments out of a relative file path. */
  private[table] def parsePartitionValues(rel: String): Map[String, String] =
    rel.split('/').iterator.filter(_.startsWith("__p_")).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i < 0) None
      else {
        val c = seg.substring(4, i)
        val v = unescapePath(seg.substring(i + 1))
        Some(c -> (if (v == "__HIVE_DEFAULT_PARTITION__") null else v))
      }
    }.toMap

  private def unescapePath(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val code =
        if (c == '%' && i + 3 <= s.length)
          scala.util.Try(Integer.parseInt(s.substring(i + 1, i + 3), 16)).toOption
        else None
      code match {
        case Some(x) => sb.append(x.toChar); i += 3
        case None    => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  /** Project/cast `df` onto `target`. Extra columns error when strict;
    * missing columns become nulls. */
  private[table] def align(df: DataFrame, target: StructType, strict: Boolean,
      identityBase: Map[String, Long] = Map.empty): DataFrame = {
    val extra = df.columns.filterNot(c => target.fieldNames.exists(_.equalsIgnoreCase(c)))
    if (strict && extra.nonEmpty)
      throw new IllegalArgumentException(
        s"columns ${extra.mkString(",")} not in table schema (use mergeSchema/overwriteSchema)")
    val gen = generatedColumns.toMap
    val ident = identityColumns.map { case (n, _, step) => n -> step }.toMap
    // aliases carry the target field metadata so column-mapping field ids
    // reach the parquet writer on every write path
    val cols = target.fields.map { f =>
      if (df.columns.exists(_.equalsIgnoreCase(f.name))) {
        if (ident.contains(f.name))
          throw new IllegalArgumentException(
            s"${f.name} is GENERATED ALWAYS AS IDENTITY — values cannot be supplied")
        col(f.name).cast(f.dataType).as(f.name, f.metadata)
      } else if (identityBase.contains(f.name))
        // identity allocation: unique (gap-friendly, like Delta's) values
        // base + monotonic*step; monotonically_increasing_id is unique per
        // row across partitions, no shuffle and no extra job
        (lit(identityBase(f.name)) +
          monotonically_increasing_id() * lit(ident(f.name)))
          .cast(f.dataType).as(f.name, f.metadata)
      else if (ident.contains(f.name))
        throw new IllegalArgumentException(
          s"identity column ${f.name} is only allocated on append(); " +
            "supply no value and use append, or drop the identity rule")
      else gen.get(f.name) match {
        // GENERATED ALWAYS AS: a missing generated column is computed from
        // its expression (the common case — writers omit it); a provided
        // one is validated by the implicit CHECK constraint in stageWrite
        case Some(e) =>
          org.apache.spark.sql.functions.expr(e).cast(f.dataType).as(f.name, f.metadata)
        case None =>
          // column DEFAULT (Spark's CURRENT_DEFAULT metadata, stamped by
          // CREATE TABLE ... DEFAULT / ALTER COLUMN SET DEFAULT): a writer
          // that omits the column gets the declared default, not NULL
          if (f.metadata.contains("CURRENT_DEFAULT"))
            org.apache.spark.sql.functions.expr(f.metadata.getString("CURRENT_DEFAULT"))
              .cast(f.dataType).as(f.name, f.metadata)
          else lit(null).cast(f.dataType).as(f.name, f.metadata)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Declared generated columns as (name, generation expression). */
  private[table] def generatedColumns: Seq[(String, String)] =
    properties.toSeq.collect {
      case (k, v) if k.startsWith("graft.generated.") =>
        k.stripPrefix("graft.generated.") -> v
    }.sortBy(_._1)

  /** Declared identity columns as (name, start, step) from
    * `graft.identity.<col> = start,step`. */
  private[table] def identityColumns: Seq[(String, Long, Long)] =
    properties.toSeq.collect {
      case (k, v) if k.startsWith("graft.identity.") && !k.endsWith(".next") =>
        val Array(start, step) = v.split(',').map(_.trim.toLong)
        (k.stripPrefix("graft.identity."), start, step)
    }.sortBy(_._1)

  /** Next allocation base for identity column `c` under snapshot `s`. */
  private def identityNext(s: Snapshot, c: String, start: Long): Long =
    s.metadata.properties.get(s"graft.identity.$c.next").map(_.toLong).getOrElse(start)

  private[table] def mergedSchema(existing: StructType, incoming: StructType): StructType = {
    val merged = existing.fields.toBuffer
    val added = scala.collection.mutable.Buffer.empty[StructField]
    incoming.fields.foreach { f =>
      merged.indexWhere(_.name.equalsIgnoreCase(f.name)) match {
        case -1 => added += f
        case i =>
          val e = merged(i)
          if (e.dataType != f.dataType && !Cast.canUpCast(f.dataType, e.dataType))
            throw new IllegalArgumentException(
              s"schema merge conflict on ${f.name}: table ${e.dataType} vs incoming ${f.dataType}")
      }
    }
    // on a mapped table new fields get fresh ids (never reusing dropped ones)
    val (stamped, _) = ColumnIds.stampNew(properties, existing, added.toSeq)
    StructType(merged.toSeq ++ stamped)
  }

  /** Metadata action for a schema evolution: bumps the column-mapping
    * high-water mark alongside the schema so dropped ids stay retired. */
  private[table] def evolveMeta(s: Snapshot, tgt: StructType): Seq[Action] =
    if (tgt == s.schema) Nil
    else {
      // a NEW column resurrecting a RETIRED name (dropped or renamed-away
      // under a different id) carries the name-reuse marker: per-file
      // stats in the log stay keyed by the old logical name forever, and
      // the old column's stats resolving for the new one would answer
      // exact metadata-only queries WRONG. The marker makes stats/bloom
      // pruning distrust untagged (= pre-reuse) files; trust heals as
      // data rewrites (TypeWidening.NameReusedKey). Central here so every
      // add path — ADD COLUMNS, mergeSchema appends, overwrite evolution
      // — passes through.
      val retired = ColumnIds.retiredNames(s.metadata.properties)
      val existing = s.schema.fieldNames.toSet
      val tgt2 = StructType(tgt.fields.map { f =>
        if (existing.contains(f.name)) f
        else retired.get(f.name) match {
          case Some(origId) if !ColumnIds.idOf(f).contains(origId) =>
            graft.log.TypeWidening.markNameReused(f, origId)
          case _ => f
        }
      })
      val props =
        if (!ColumnIds.mapped(s.schema)) s.metadata.properties
        else s.metadata.properties +
          (ColumnIds.MaxIdKey ->
            ColumnIds.maxId(s.metadata.properties, tgt2).toString)
      Seq(s.metadata.copy(schemaJson = tgt2.json, properties = props))
    }

  // ------------------------------------------------------------- commits

  /** Compute actions from a snapshot and commit at snapshot.version+1; on a
    * lost race, re-resolve the snapshot and recompute (optimistic
    * concurrency, notebooks/04_acid_operations.py:430-460). */
  private[graft] def commitWithRetry(
      op: String,
      params: Map[String, String],
      initial: Snapshot,
      metrics: Map[String, Long] = Map.empty)(build: Snapshot => Seq[Action]): Long = {
    var snap = initial
    // one id per LOGICAL commit, stable across CAS retries: the marker that
    // lets tryCommitRecovering recognize an ambiguously-landed write as ours
    val commitId = UUID.randomUUID().toString
    var attempts = 0
    while (true) {
      // writer-side forward-compat gate (the read-side twin lives in
      // TxLog.snapshot): never commit into a table whose log demands writer
      // features this engine does not implement. Re-checked on every
      // attempt — a rival writer may raise minWriterVersion while we are
      // losing the CAS race, and the re-resolved snapshot must be re-gated.
      if (snap.protocol.minWriterVersion > graft.log.Protocol.SupportedWriter)
        throw new IllegalStateException(
          s"table $dir requires minWriterVersion=${snap.protocol.minWriterVersion} " +
            s"but this engine supports ${graft.log.Protocol.SupportedWriter} — upgrade the library")
      val unknownWriter =
        snap.protocol.writerSet -- graft.log.Protocol.SupportedWriterFeatures
      if (unknownWriter.nonEmpty)
        throw new IllegalStateException(
          s"table $dir requires writer feature(s) ${unknownWriter.toSeq.sorted.mkString(", ")} " +
            "this engine does not implement — upgrade the library")
      val built = build(snap)
      // Row tracking rides every commit through this one choke point:
      // fresh AddFiles get id ranges from the persisted high-water mark,
      // preserved ones (RESTORE/CLONE re-adds) only advance it, and
      // the first enabled commit backfills pre-tracking files by
      // re-emitting their AddFile actions (metadata-only). Runs per CAS
      // attempt, so a lost race re-assigns against the fresh snapshot.
      val rtProps = built.collectFirst { case m: graft.log.Metadata => m.properties }
        .getOrElse(snap.metadata.properties)
      val assigned =
        if (rowTrackingOn(rtProps)) RowTracking.assign(snap, built, snap.version + 1)
        else built
      // the first descriptor-form vector stamps its reader feature (see
      // Protocol.DvDescriptors) in the same commit
      val declared = assigned.collectFirst { case p: graft.log.Protocol => p }
        .getOrElse(snap.protocol)
      val proto = graft.log.Protocol.withDvDescriptors(declared, assigned)
      val actions =
        if (proto == declared) assigned
        else proto +: assigned.filterNot(_.isInstanceOf[graft.log.Protocol])
      val adds = actions.collect { case a: AddFile => a }
      val removes = actions.collect { case r: RemoveFile => r }
      val autoMetrics = Map(
        "numAddedFiles" -> adds.size.toLong,
        "numRemovedFiles" -> removes.size.toLong,
        "numAddedBytes" -> adds.map(_.size).sum,
        "numOutputRows" -> adds.map(_.numRecords).sum)
      val v = snap.version + 1
      // Blind append per Delta's history semantics: the commit only adds
      // data and never read the table (appends, streaming appends) — so it
      // can never conflict on content. Overwrites/DML read state first —
      // and so does any commit carrying a Metadata action (schema
      // evolution, identity bumps, appendWithProps' read-modify-write
      // property deltas): those are snapshot-dependent by construction
      // and must not be classified as blind.
      val blind = adds.nonEmpty && removes.isEmpty &&
        !actions.exists(_.isInstanceOf[graft.log.DeletionVector]) &&
        !actions.exists(_.isInstanceOf[graft.log.Metadata]) &&
        ((op == "WRITE" && params.get("mode").contains("Append")) ||
          op == "STREAMING UPDATE")
      val ci = CommitInfo(v, nextTimestamp(snap), op, params, autoMetrics ++ metrics,
        snap.version, LakeTable.currentUser, blind, commitId)
      if (log.tryCommitRecovering(v, ci +: actions)) {
        // the state this commit produced: the snapshot it was built on plus
        // exactly what landed — the next resolution and the checkpoint
        // below need no replay
        val landed = scala.util.Try(log.applied(snap, ci +: actions)).toOption
        landed.foreach(installHead)
        // checkpoint every Nth commit (graft.checkpointInterval, Delta's
        // delta.checkpointInterval; default 10) so snapshot resolution
        // stays O(interval) regardless of table history (best effort —
        // replay still works; a failure is logged and counted)
        // cadence properties come from rtProps — THIS commit's metadata when
        // it carries one — so SET TBLPROPERTIES of an interval takes effect
        // from its own commit, not the one after
        val interval = rtProps
          .get("graft.checkpointInterval")
          .orElse(rtProps.get("delta.checkpointInterval"))
          .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ > 0)
          .getOrElse(10)
        if (v > 0 && v % interval == 0)
          try landed.fold(log.writeCheckpoint(v))(log.writeCheckpoint)
          catch { case scala.util.control.NonFatal(e) =>
            LakeTable.bestEffortFailed(dir, v, "checkpoint", e) }
        // minor log compaction (Delta 3.x `<s>.<e>.compacted.json`): at
        // commit rates above the checkpoint cadence the per-commit tail
        // dominates resolution cost; every Nth commit the last N commits
        // compact behind one GET (graft.log.compactionInterval, also
        // delta.logCompaction.interval; 0/absent = off). Best effort —
        // per-commit files stay the source of truth; a failure is logged
        // and counted.
        val compactEvery = rtProps
          .get("graft.log.compactionInterval")
          .orElse(rtProps.get("delta.logCompaction.interval"))
          .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ > 1)
        if (compactEvery.exists(n => v >= n && v % n == 0)) {
          val s0 = v - compactEvery.get + 1
          try log.writeCompacted(s0, v)
          catch { case scala.util.control.NonFatal(e) =>
            // after TRUNCATE HISTORY the natural range can start below the
            // boundary (its per-commit files are gone): retry clamped to
            // the oldest surviving version instead of silently skipping
            // every cadence hit until the window clears the boundary
            try {
              if (!log.writeCompactedClamped(s0, v))
                LakeTable.bestEffortFailed(dir, v, "log compaction", e)
            } catch { case scala.util.control.NonFatal(e2) =>
              LakeTable.bestEffortFailed(dir, v, "log compaction", e2) }
          }
        }
        // UniForm auto-export: refresh the Iceberg view when the committed
        // properties enable it (never from a GENERATE commit — the manual
        // export path writes its own history record and must not recurse)
        if (op != "GENERATE") maybeAutoExportIceberg(rtProps)
        return v
      }
      attempts += 1
      if (attempts >= 1000)
        throw new java.util.ConcurrentModificationException(
          s"lost commit race $attempts times on $dir")
      // Jittered exponential backoff before re-resolving (same rationale as
      // TxLog.commit): on fast-CAS stores contending writers otherwise
      // re-collide in lockstep and the same loser can starve.
      val capMs = math.min(64L, 1L << math.min(attempts, 6))
      val sleepMs = java.util.concurrent.ThreadLocalRandom.current().nextLong(capMs + 1)
      if (sleepMs > 0) Thread.sleep(sleepMs)
      snap = snapshot()
    }
    -1L // unreachable
  }

  /** Clock for commit timestamps — injectable so tests and oracle gates
    * can prove the monotonic clamp deterministically (and so a skewed
    * host clock is observable in tests rather than theoretical). */
  private[graft] var clockMillis: () => Long = () => System.currentTimeMillis()

  /** In-commit timestamps (Delta's `inCommitTimestamp` writer feature —
    * inherent here, not opt-in): every commit's timestamp is stored IN
    * the CommitInfo action and clamped to `last + 1`, so the sequence is
    * strictly monotonic no matter how writers' wall clocks skew. Delta
    * needs the opt-in because its default timestamp is the commit FILE's
    * modification time (rewritten by copies, skewed across writers);
    * this log never used file mtime, so timestamp time travel, RESTORE
    * TIMESTAMP, and CDF ranges always binary-search a monotone sequence. */
  private[table] def nextTimestamp(snap: Snapshot): Long = {
    math.max(clockMillis(), snap.commitTimestamp + 1)
  }

  // ------------------------------------------------- metadata operations

  /** ALTER COLUMN ... SET/DROP DEFAULT (Delta's allowColumnDefaults): the
    * CURRENT_DEFAULT applies to FUTURE writers that omit the column —
    * existing rows are untouched. (ADD COLUMN with a default is rejected,
    * as in Delta: it would imply a backfill of already-written rows.)
    * The default must be a constant-foldable expression. */
  def setColumnDefault(name: String, default: Option[String]): Long = {
    default.foreach { d =>
      val e = Pruner.exprOf(org.apache.spark.sql.functions.expr(d))
      require(e.foldable, s"DEFAULT must be a constant expression, got: $d")
    }
    commitWithRetry("ALTER COLUMN DEFAULT",
      Map("column" -> name, "default" -> default.getOrElse("")), snapshot()) { s =>
      val f = s.schema.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"no such column: $name (have ${s.schema.fieldNames.mkString(",")})"))
      val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
      default match {
        case Some(d) =>
          mb.putString("CURRENT_DEFAULT", d): Unit
          // EXISTS_DEFAULT only when the column was born with the default
          // (CREATE TABLE); setting it later would misstate old rows
        case None => mb.remove("CURRENT_DEFAULT"): Unit
      }
      val newSchema = org.apache.spark.sql.types.StructType(s.schema.fields.map(x =>
        if (x.name.equalsIgnoreCase(name)) f.copy(metadata = mb.build()) else x))
      Seq(s.metadata.copy(schemaJson = newSchema.json))
    }
  }

  /** Raise the table's protocol requirement (Delta's upgradeTableProtocol):
    * one commit carrying the new Protocol action. Only upward — lowering a
    * requirement cannot un-write the features that demanded it. Raising
    * past what THIS engine supports is allowed (Delta permits it too) but
    * locks this engine out of the table on the next read/write. */
  def upgradeProtocol(minReaderVersion: Int, minWriterVersion: Int): Long = {
    val snap = snapshot()
    val cur = snap.protocol
    require(minReaderVersion >= cur.minReaderVersion &&
        minWriterVersion >= cur.minWriterVersion,
      s"protocol can only be upgraded: table is at (${cur.minReaderVersion}, " +
        s"${cur.minWriterVersion}), requested ($minReaderVersion, $minWriterVersion)")
    commitWithRetry("UPGRADE PROTOCOL",
      Map("minReaderVersion" -> minReaderVersion.toString,
        "minWriterVersion" -> minWriterVersion.toString), snap) { s =>
      // existing named features ride along — an upgrade never sheds them
      Seq(graft.log.Protocol.merge(s.protocol,
        graft.log.Protocol(minReaderVersion, minWriterVersion)))
    }
  }

  /** Add named table features (the Delta v3/v7 table-features model): the
    * table's protocol then demands those EXACT capabilities instead of a
    * monolithic version bump, and engines refuse only what they genuinely
    * lack. Features accumulate — there is no removal, matching Delta
    * (dropping a feature cannot un-write the data that used it). Adding a
    * feature this engine itself does not implement is allowed (as in
    * Delta) but locks this engine out on the next read/write. */
  def addTableFeature(name: String, readerAlso: Boolean = false): Long = {
    require(name.nonEmpty && name.matches("[A-Za-z][A-Za-z0-9_-]*"),
      s"bad feature name: $name")
    commitWithRetry("ADD FEATURE",
      Map("feature" -> name, "reader" -> readerAlso.toString), snapshot()) { s =>
      Seq(graft.log.Protocol.merge(s.protocol,
        graft.log.Protocol(s.protocol.minReaderVersion, s.protocol.minWriterVersion,
          readerFeatures = if (readerAlso) Seq(name) else null,
          writerFeatures = Seq(name))))
    }
  }

  /** DROP FEATURE (Delta 3.4's feature removal): the inverse of feature
    * adoption — remove a named capability from the table's protocol once
    * NOTHING depends on it anymore, so engines without the capability can
    * read/write the table again. Each droppable feature names its own
    * no-traces precondition (below); features whose traces ARE the data
    * contract (rowTracking, columnMapping, domainMetadata) refuse.
    *
    * `truncateHistory` = Delta's TRUNCATE HISTORY: deletionVectors can be
    * absent from the LIVE state (REORG APPLY (PURGE)) while historical
    * commits still carry DV actions an old reader would choke on — the
    * sweep checkpoints the post-drop state and deletes all older
    * per-version files. DESCRIBE HISTORY survives (the checkpoint carries
    * the commit infos); time travel and CDF below the boundary refuse
    * with a clean missing-version error, by contract. */
  def dropFeature(name: String, truncateHistory: Boolean = false): Long = {
    // The no-traces preconditions run TWICE: here, against the current
    // snapshot, for a fast loud failure before any rewrite work — and again
    // inside the commit closure against the snapshot each CAS attempt
    // actually lands on. Without the second run, a concurrent DV DELETE /
    // ADD CONSTRAINT / widen landing between the check and the winning
    // commit would yield a table whose protocol no longer declares the
    // feature while live traces remain — an external engine trusting the
    // protocol would silently skip DV masks or trust stale-typed stats.
    def validate(snap: graft.log.Snapshot): Unit = {
      val p = snap.protocol
      require(p.writerSet.contains(name) || p.readerSet.contains(name),
        s"feature $name is not present on this table " +
          s"(has: ${(p.readerSet ++ p.writerSet).toSeq.sorted.mkString(", ")})")
      def propOff(key: String): Unit =
        require(!snap.metadata.properties.get(key).contains("true"),
          s"disable the feature first: ALTER TABLE ... SET TBLPROPERTIES ('$key' = 'false')")
      name match {
        case "checkConstraints" =>
          require(!snap.metadata.properties.keys.exists(_.startsWith("graft.constraints.")),
            "constraints still defined — DROP CONSTRAINT each first")
        case "inCommitTimestamp" =>
          propOff("graft.enableInCommitTimestamps")
        case "typeWidening" =>
          propOff("graft.enableTypeWidening")
          val widened = snap.schema.fields.filter(graft.log.TypeWidening.hasChanges)
          if (widened.nonEmpty)
            // applied changes: old files need the widened read forever —
            // droppable only by REWRITING stale-typed files to the current
            // types and sweeping the pre-widen schema history (what Delta's
            // drop performs); files whose change-count tags already prove a
            // current-type write are left in place
            require(truncateHistory,
              s"columns ${widened.map(_.name).mkString(", ")} carry applied " +
                "type changes — use DROP FEATURE typeWidening TRUNCATE HISTORY " +
                "(rewrites files written under the old types, then sweeps the " +
                "old schema history)")
        case "deletionVectors" =>
          propOff("graft.enableDeletionVectors")
          require(snap.dvs.isEmpty,
            "live deletion vectors present — run REORG TABLE ... APPLY (PURGE) first")
          require(truncateHistory,
            "historical commits still carry deletion-vector actions — use " +
              "DROP FEATURE deletionVectors TRUNCATE HISTORY")
        case "bloomFilters" =>
          require(snap.files.forall(_.bloom == null),
            "files still carry bloom sidecar references — rewrite (OPTIMIZE FULL) first")
        case other => throw new UnsupportedOperationException(
          s"feature $other cannot be dropped (its traces are part of the data contract)")
      }
    }
    validate(snapshot())
    // typeWidening with applied changes: rewrite every live file whose
    // change-count tags do not prove a current-type write, so after the
    // drop NO file needs the widening conversion
    if (name == "typeWidening") {
      val cur = snapshot()
      val widened = cur.schema.fields.filter(graft.log.TypeWidening.hasChanges)
      val stale = cur.files.filter(f =>
        widened.exists(sf => !graft.log.TypeWidening.bloomValid(f, sf)))
      if (stale.nonEmpty) {
        val adds = stageWrite(rewriteRead(cur, stale), cur.metadata.partitionColumns)
        commitRewrite(cur, "REORG",
          Map("purpose" -> "dropFeature:typeWidening",
            "numRewrittenFiles" -> stale.size.toString),
          stale, adds, Nil, Map(
            "numFilesRemoved" -> stale.size.toLong,
            "numFilesAdded" -> adds.size.toLong)): Unit
      }
    }
    val v = commitWithRetry("DROP FEATURE",
      Map("feature" -> name, "truncateHistory" -> truncateHistory.toString),
      snapshot()) { s =>
      validate(s) // re-validate on the snapshot this attempt lands on
      // typeWidening: the records are about to be cleared, so the landing
      // snapshot must carry NO stale-typed file — a concurrent widen (or a
      // write racing the REORG above) would otherwise leave files whose
      // stat/bloom artifacts silently lose their conservative guards
      if (name == "typeWidening") {
        val widened = s.schema.fields.filter(graft.log.TypeWidening.hasChanges)
        val stillStale = s.files.filter(f =>
          widened.exists(sf => !graft.log.TypeWidening.bloomValid(f, sf)))
        require(stillStale.isEmpty,
          s"${stillStale.size} file(s) still carry pre-widen artifacts " +
            "(a concurrent type change landed?) — re-run DROP FEATURE " +
            "typeWidening TRUNCATE HISTORY")
      }
      val sp = s.protocol
      // deletion vectors leave with their descriptor form
      val gone =
        if (name == "deletionVectors") Set(name, graft.log.Protocol.DvDescriptors)
        else Set(name)
      def minus(fs: Seq[String]): Seq[String] = Option(fs) match {
        case Some(xs) =>
          val left = xs.filterNot(gone); if (left.isEmpty) null else left
        case None => null
      }
      val proto = graft.log.Protocol(sp.minReaderVersion, sp.minWriterVersion,
        minus(sp.readerFeatures), minus(sp.writerFeatures))
      // typeWidening: the change records leave WITH the feature — every
      // live file now carries the current types, so the conversion (and
      // the pruning guards keyed off the records) are no longer needed
      if (name == "typeWidening" &&
          s.schema.fields.exists(graft.log.TypeWidening.hasChanges)) {
        val cleared = s.schema.fields.map { f =>
          if (!graft.log.TypeWidening.hasChanges(f)) f
          else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .remove(graft.log.TypeWidening.ChangesKey).build())
        }
        Seq(proto, s.metadata.copy(schemaJson = StructType(cleared).json))
      } else Seq(proto)
    }
    if (truncateHistory) log.truncateBefore(v)
    v
  }

  /** DESCRIBE HISTORY (M14, src/delta_utils.py:168-174). `userName` /
    * `isBlindAppend` follow Delta's history column names; commits written
    * by older versions of this library surface them as null. */
  def history(limit: Option[Int] = None): DataFrame = {
    // with a limit, open only the newest `limit` commit files
    val latest = snapshot().version
    val commits = log.history(limit.fold(0L)(latest - _ + 1), latest).reverse
    val rows = commits.map(c => Row(c.version, new java.sql.Timestamp(c.timestamp),
      c.userName, c.operation,
      c.operationParameters, c.operationMetrics.map { case (k, v) => k -> v.toString },
      c.readVersion, c.isBlindAppend, c.commitId))
    val schema = StructType(Seq(
      StructField("version", LongType),
      StructField("timestamp", TimestampType),
      StructField("userName", StringType),
      StructField("operation", StringType),
      StructField("operationParameters", MapType(StringType, StringType)),
      StructField("operationMetrics", MapType(StringType, StringType)),
      StructField("readVersion", LongType),
      StructField("isBlindAppend", BooleanType),
      // the writer-unique LOGICAL commit id (stable across CAS retries) —
      // surfacing it makes ambiguous-CAS recovery observable: a retried
      // commit appears ONCE here, under one id
      StructField("commitId", StringType)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** DESCRIBE HISTORY ... AS JSON: one JSON object per commit (newest
    * first), each the JSON encoding of the corresponding [[history]] row —
    * the machine-readable surface for operational tooling. */
  def historyJson(limit: Option[Int] = None): DataFrame =
    history(limit).toJSON.toDF("json")

  /** DESCRIBE DETAIL (M15, src/delta_utils.py:265-277).
    * `clusteredBy` surfaces the per-file `clusteredBy` provenance tags as
    * `"<curve>:<cols>" -> live-file count` — the operator-visible
    * incremental-clustering state (files a matching OPTIMIZE would skip;
    * untagged files = numFiles - sum of the counts are the rewrite
    * candidates). */
  def detail(): DataFrame = {
    val snap = snapshot()
    val clusteredBy: Map[String, Long] = snap.files
      .flatMap(_.tag("clusteredBy"))
      .groupBy(identity).map { case (t, fs) => t -> fs.size.toLong }
    val rows = Seq(Row("graft", snap.metadata.id, snap.metadata.name, dir.toString,
      new java.sql.Timestamp(snap.metadata.createdTime),
      new java.sql.Timestamp(snap.commitTimestamp),
      snap.metadata.partitionColumns, snap.numFiles.toLong, snap.sizeInBytes,
      snap.metadata.properties,
      snap.dvs.size.toLong, snap.dvs.values.map(_.numDeleted).sum,
      snap.protocol.minReaderVersion, snap.protocol.minWriterVersion,
      clusteredBy,
      snap.protocol.readerSet.toSeq.sorted, snap.protocol.writerSet.toSeq.sorted))
    val schema = StructType(Seq(
      StructField("format", StringType), StructField("id", StringType),
      StructField("name", StringType), StructField("location", StringType),
      StructField("createdAt", TimestampType), StructField("lastModified", TimestampType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("numFiles", LongType), StructField("sizeInBytes", LongType),
      StructField("properties", MapType(StringType, StringType)),
      StructField("numDeletionVectors", LongType),
      StructField("numDeletedRows", LongType),
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("clusteredBy", MapType(StringType, LongType)),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** SHOW PARTITIONS — answered from the transaction log alone: one row
    * per live logical partition with its file count, live row count
    * (deletion-vector masks subtracted) and bytes. O(#live files) driver
    * arithmetic, zero Spark jobs, zero data bytes read — at 100 TB this is
    * the difference between instant and a full listing. Refuses on an
    * unpartitioned table (Spark/Delta semantics). */
  def showPartitions(): DataFrame = {
    val snap = snapshot()
    val pcols = snap.metadata.partitionColumns
    require(pcols.nonEmpty,
      s"SHOW PARTITIONS is not allowed on a table that is not partitioned: $dir")
    val rows = snap.files.groupBy(_.partitionValues).toSeq
      .sortBy { case (pv, _) => pcols.map(c => pv.getOrElse(c, "")).mkString("\u0000") }
      .map { case (pv, fs) =>
        Row.fromSeq(pcols.map(c => pv.getOrElse(c, null)) ++ Seq(
          fs.size.toLong,
          fs.map(f => f.numRecords -
            snap.dvs.get(f.path).map(_.numDeleted).getOrElse(0L)).sum,
          fs.map(_.size).sum))
      }
    val schema = StructType(pcols.map(c => StructField(c, StringType)) ++ Seq(
      StructField("numFiles", LongType), StructField("numRecords", LongType),
      StructField("sizeInBytes", LongType)))
    spark.createDataFrame(rows.asJava, schema)
  }

  // ----------------------------------------------- metadata-only aggregates

  /** Metadata-only row count (Delta's metadata-only-query optimization):
    * exact at any scale from the tx-log alone — per-file `numRecords`
    * minus deletion-vector cardinalities. O(#live files) driver
    * arithmetic; zero Spark jobs, zero data bytes read. At 100 TB this
    * answers `count(*)` in milliseconds instead of a full scan. */
  def rowCount(): Long = snapshot().numRecords

  /** Metadata-only min/max for `column`, answered from per-file stats
    * only when provably exact: every live file must carry the stat, no
    * deletion vector may mask the table (a DV could hide the extreme
    * row), and string bounds must be untruncated. All-null columns
    * return Some((null, null)) matching SQL min/max semantics. None
    * means the log cannot answer exactly — fall back to a scan. */
  def statsMinMax(column: String): Option[(Any, Any)] = {
    val snap = snapshot()
    if (snap.dvs.nonEmpty) return None
    snap.schema.fields.find(_.name.equalsIgnoreCase(column)).flatMap(f =>
      Stats.exactBounds(snap.files, f).map { case (mn, mx) =>
        (Stats.decode(mn, f.dataType), Stats.decode(mx, f.dataType))
      })
  }

  /** ALTER TABLE SET TBLPROPERTIES (M12, src/delta_utils.py:149-166). */
  def setProperties(props: Map[String, String]): Long = {
    val normalized = LakeTable.normalizeProps(props)
    commitWithRetry("SET TBLPROPERTIES", normalized, snapshot()) { s =>
      val meta = s.metadata.copy(properties = s.metadata.properties ++ normalized)
      // a property that turns a feature on stamps the matching table
      // feature in the same commit (Delta's behavior)
      val proto = graft.log.Protocol.merge(s.protocol,
        LakeTable.impliedFeatures(meta.properties))
      if (proto == s.protocol) Seq(meta) else Seq(proto, meta)
    }
  }

  def unsetProperties(keys: Seq[String]): Long = {
    val normalized = keys.map(LakeTable.normalizeKey)
    commitWithRetry("UNSET TBLPROPERTIES",
      Map("keys" -> normalized.mkString(",")), snapshot()) { s =>
      Seq(s.metadata.copy(properties = s.metadata.properties -- normalized))
    }
  }

  // ------------------------------------------------------- CHECK constraints

  /** ALTER TABLE ADD CONSTRAINT name CHECK (expr) — Delta-parity table
    * constraint, stored as a `graft.constraints.<name>` property and
    * enforced on EVERY subsequent write (append, overwrite, DML rewrite,
    * streaming) as an observed metric riding the write job: a violating
    * batch fails before its commit, so readers never see bad rows. Like
    * Delta, a NULL constraint result counts as a violation. Existing rows
    * are validated once, up front (one pruned scan). */
  def addConstraint(name: String, expr: String): Long = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid constraint name: $name")
    val pred = org.apache.spark.sql.functions.expr(expr)
    // current rows must already satisfy the constraint (Delta semantics)
    val existingBad = read().filter(!coalesce(pred, lit(false))).limit(1).count()
    require(existingBad == 0L,
      s"cannot add CHECK constraint $name ($expr): existing rows violate it")
    setPropsAs("ADD CONSTRAINT", Map(s"graft.constraints.$name" -> expr))
  }

  /** ALTER TABLE DROP CONSTRAINT name. */
  def dropConstraint(name: String): Long =
    commitWithRetry("DROP CONSTRAINT", Map("name" -> name), snapshot()) { s =>
      Seq(s.metadata.copy(properties = s.metadata.properties - s"graft.constraints.$name"))
    }

  /** Declared constraints as (name, predicate) pairs. Generated columns
    * contribute an implicit null-safe-equality check, so a writer that
    * SUPPLIES a generated column with the wrong value fails like a
    * constraint violation (Delta's generated-column enforcement). */
  private[table] def checkConstraints: Seq[(String, Column)] =
    LakeTable.constraintsFrom(properties, schema)

  private def setPropsAs(op: String, props: Map[String, String]): Long =
    commitWithRetry(op, props, snapshot()) { s =>
      val meta = s.metadata.copy(properties = s.metadata.properties ++ props)
      val proto = graft.log.Protocol.merge(s.protocol,
        LakeTable.impliedFeatures(meta.properties))
      if (proto == s.protocol) Seq(meta) else Seq(proto, meta)
    }

  /** ALTER TABLE ADD COLUMN <name> <type> GENERATED ALWAYS AS (<expr>) —
    * the column and its generation rule land in ONE commit, so no write can
    * observe the column without the rule. Existing rows read it as NULL
    * (the table was created before the rule); subsequent writes compute it
    * when omitted and validate it when supplied. DML that makes a supplied
    * value inconsistent fails the implicit check rather than going stale. */
  def addGeneratedColumn(name: String, dataType: DataType, expr: String): Long =
    commitWithRetry("ADD GENERATED COLUMN",
      Map("column" -> name, "expr" -> expr), snapshot()) { s =>
      require(!s.schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column already exists: $name")
      val (stamped0, maxId) =
        ColumnIds.stampNew(s.metadata.properties, s.schema, Seq(StructField(name, dataType)))
      // a retired (dropped/renamed-away) name returns with the reuse
      // marker so older files' stale stats never resolve for it
      val stamped = ColumnIds.retiredNames(s.metadata.properties).get(name)
        .fold(stamped0)(origId =>
          stamped0.map(graft.log.TypeWidening.markNameReused(_, origId)))
      val props = s.metadata.properties + (s"graft.generated.$name" -> expr) ++
        (if (ColumnIds.mapped(s.schema)) Map(ColumnIds.MaxIdKey -> maxId.toString)
        else Map.empty)
      Seq(s.metadata.copy(
        schemaJson = StructType(s.schema.fields ++ stamped).json,
        properties = props))
    }

  /** ALTER TABLE ADD COLUMN <name> BIGINT GENERATED ALWAYS AS IDENTITY
    * (START WITH <start> INCREMENT BY <step>). Values are allocated on
    * append() when the writer omits the column (supplying one errors, like
    * Delta's ALWAYS); allocation is gap-friendly (unique, monotone blocks
    * via monotonically_increasing_id — same contract as Delta identity).
    * Rows written before the rule read NULL. */
  def addIdentityColumn(name: String, start: Long = 1L, step: Long = 1L): Long = {
    require(step != 0L, "identity step must be non-zero")
    commitWithRetry("ADD IDENTITY COLUMN",
      Map("column" -> name, "start" -> start.toString, "step" -> step.toString),
      snapshot()) { s =>
      require(!s.schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column already exists: $name")
      val (stamped0, maxId) =
        ColumnIds.stampNew(s.metadata.properties, s.schema, Seq(StructField(name, LongType)))
      val stamped = ColumnIds.retiredNames(s.metadata.properties).get(name)
        .fold(stamped0)(origId =>
          stamped0.map(graft.log.TypeWidening.markNameReused(_, origId)))
      val props = s.metadata.properties + (s"graft.identity.$name" -> s"$start,$step") ++
        (if (ColumnIds.mapped(s.schema)) Map(ColumnIds.MaxIdKey -> maxId.toString)
        else Map.empty)
      Seq(s.metadata.copy(
        schemaJson = StructType(s.schema.fields ++ stamped).json,
        properties = props))
    }
  }

  /** ALTER TABLE ADD COLUMNS (M13, notebooks/04_acid_operations.py:289-295). */
  def addColumns(cols: Seq[StructField]): Long =
    commitWithRetry("ADD COLUMNS", Map("columns" -> cols.map(_.name).mkString(",")), snapshot()) { s =>
      val dup = cols.map(_.name).filter(n => s.schema.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(dup.isEmpty, s"columns already exist: ${dup.mkString(",")}")
      val (stamped, _) = ColumnIds.stampNew(s.metadata.properties, s.schema, cols)
      evolveMeta(s, StructType(s.schema.fields ++ stamped))
    }

  /** ALTER TABLE RENAME COLUMN — metadata-only on a mapped table: the
    * parquet field id is the column's identity, so files never change.
    * Blocked while a constraint/generated rule references the old name. */
  def renameColumn(oldName: String, newName: String): Long =
    commitWithRetry("RENAME COLUMN", Map("from" -> oldName, "to" -> newName),
      snapshot()) { s =>
      require(ColumnIds.mapped(s.schema),
        "RENAME COLUMN requires column mapping (tables created by this library have it)")
      require(s.schema.fieldNames.exists(_.equalsIgnoreCase(oldName)),
        s"no such column: $oldName")
      require(!s.schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
        s"column already exists: $newName")
      val refs = s.metadata.properties.filter { case (k, v) =>
        (k.startsWith("graft.constraints.") || k.startsWith("graft.generated.")) &&
          v.toLowerCase.contains(oldName.toLowerCase)
      }
      require(refs.isEmpty,
        s"cannot rename $oldName: referenced by ${refs.keys.mkString(", ")}")
      // per-file stats stay keyed by the OLD name forever (AddFiles are
      // immutable): record it as RETIRED so no later column can reuse it
      // and resolve those stale stats. Renaming BACK to a retired name is
      // allowed only for the SAME field id (the revert, which un-retires)
      val fid = ColumnIds.idOf(
        s.schema.fields.find(_.name.equalsIgnoreCase(oldName)).get).get
      val retired0 = ColumnIds.retiredNames(s.metadata.properties)
      retired0.get(newName).foreach { origId =>
        require(origId == fid,
          s"column name '$newName' was renamed away from field id " +
            s"$origId — existing files' stats are keyed by it; pick " +
            "another name")
      }
      val retired = (retired0 - newName) + (oldName -> fid)
      val fields = s.schema.fields.map(f =>
        if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName) else f)
      val pcols = s.metadata.partitionColumns.map(c =>
        if (c.equalsIgnoreCase(oldName)) newName else c)
      val genKey = s"graft.generated.$oldName"
      val props = (s.metadata.properties.get(genKey) match {
        case Some(e) => s.metadata.properties - genKey + (s"graft.generated.$newName" -> e)
        case None => s.metadata.properties
      }) + (ColumnIds.RetiredNamesKey -> ColumnIds.serializeRetired(retired))
      Seq(s.metadata.copy(schemaJson = StructType(fields).json,
        partitionColumns = pcols, properties = props))
    }

  /** ALTER TABLE ALTER COLUMN ... TYPE — type widening (Delta's
    * `typeWidening` feature): METADATA-ONLY commit growing a column to a
    * strictly-wider type from [[graft.log.TypeWidening]]'s matrix; bytes
    * never move, readers upcast old files at scan time (Spark 4's parquet
    * reader handles every conversion in the matrix on both reader paths).
    * The change is recorded in the field's metadata so stats/bloom pruning
    * stay honest about artifacts built under the old type (see
    * [[graft.log.TypeWidening]]). Gated on `graft.enableTypeWidening`
    * (accepting the delta.-prefixed spelling), which stamps the
    * typeWidening reader+writer features — a reader that would NOT upcast
    * old files must refuse by name rather than crash on the scan.
    *
    * Refused on partition columns (partition values are stored as strings
    * and re-parsed under the CURRENT type — the integer family would
    * survive that, but date→timestamp_ntz would not, and the directory
    * layout is the column's on-disk identity), on identity columns (the
    * generator produces longs), and on columns referenced by a constraint
    * or generated-column expression (widening can change the expression's
    * result type out from under the recorded rule). */
  def widenColumn(name: String, to: org.apache.spark.sql.types.DataType): Long =
    commitWithRetry("ALTER COLUMN TYPE", Map("column" -> name, "type" -> to.sql),
      snapshot()) { s =>
      require(s.metadata.properties.get("graft.enableTypeWidening").contains("true"),
        "type widening is disabled — SET TBLPROPERTIES " +
          "('delta.enableTypeWidening' = 'true') first")
      val f = s.schema.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"no such column: $name (have ${s.schema.fieldNames.mkString(",")})"))
      require(f.dataType != to, s"column $name is already ${to.sql}")
      require(graft.log.TypeWidening.isWidening(f.dataType, to),
        s"unsupported type change for $name: ${f.dataType.sql} -> ${to.sql} " +
          "(only widening conversions are allowed)")
      require(!s.metadata.partitionColumns.exists(_.equalsIgnoreCase(name)),
        s"cannot change the type of partition column $name")
      require(!s.metadata.properties.contains(s"graft.identity.${f.name}"),
        s"cannot change the type of identity column $name")
      require(!s.metadata.properties.contains(s"graft.generated.${f.name}"),
        s"cannot change the type of generated column $name " +
          "(its type is the generation expression's)")
      val refs = s.metadata.properties.filter { case (k, v) =>
        (k.startsWith("graft.constraints.") || k.startsWith("graft.generated.")) &&
          v.toLowerCase.contains(name.toLowerCase)
      }
      require(refs.isEmpty,
        s"cannot change the type of $name: referenced by ${refs.keys.mkString(", ")}")
      val widened = f.copy(dataType = to,
        metadata = graft.log.TypeWidening.recordChange(f, to, s.version + 1))
      val fields = s.schema.fields.map(x =>
        if (x.name.equalsIgnoreCase(name)) widened else x)
      Seq(s.metadata.copy(schemaJson = StructType(fields).json))
    }

  /** ALTER TABLE DROP COLUMN — metadata-only on a mapped table; the id is
    * retired (never reused) so old files' bytes can never resurface under
    * a future column. */
  def dropColumn(name: String): Long =
    commitWithRetry("DROP COLUMN", Map("column" -> name), snapshot()) { s =>
      require(ColumnIds.mapped(s.schema),
        "DROP COLUMN requires column mapping (tables created by this library have it)")
      require(s.schema.fieldNames.exists(_.equalsIgnoreCase(name)), s"no such column: $name")
      require(s.schema.fields.length > 1, "cannot drop the only column")
      require(!s.metadata.partitionColumns.exists(_.equalsIgnoreCase(name)),
        s"cannot drop partition column $name")
      val refs = s.metadata.properties.filter { case (k, v) =>
        (k.startsWith("graft.constraints.") ||
          (k.startsWith("graft.generated.") && !k.equalsIgnoreCase(s"graft.generated.$name"))) &&
          v.toLowerCase.contains(name.toLowerCase)
      }
      require(refs.isEmpty,
        s"cannot drop $name: referenced by ${refs.keys.mkString(", ")}")
      val fields = s.schema.fields.filterNot(_.name.equalsIgnoreCase(name))
      // the dropped NAME retires alongside its id: per-file stats stay
      // keyed by it, and a same-named successor must distrust them
      // (evolveMeta stamps TypeWidening.NameReusedKey on reuse)
      val dropped = s.schema.fields.find(_.name.equalsIgnoreCase(name)).get
      val retired = ColumnIds.retiredNames(s.metadata.properties) +
        (dropped.name -> ColumnIds.idOf(dropped).get)
      // keep the high-water mark so the dropped id stays retired
      val props = (s.metadata.properties - s"graft.generated.$name") +
        (ColumnIds.MaxIdKey -> ColumnIds.maxId(s.metadata.properties, s.schema).toString) +
        (ColumnIds.RetiredNamesKey -> ColumnIds.serializeRetired(retired))
      Seq(s.metadata.copy(schemaJson = StructType(fields).json, properties = props))
    }

  /** ANALYZE TABLE COMPUTE STATISTICS (M16, src/data_processor.py:229): one
    * distributed pass over the table computing row count plus per-column
    * null counts and distinct-count estimates, persisted as `stats.*` table
    * properties in an ANALYZE commit. */
  def analyze(forColumns: Seq[String] = Nil): Map[String, String] = {
    val snap = snapshot()
    val cols =
      if (forColumns.nonEmpty) forColumns
      else snap.schema.fields.filter(f => Stats.isStatsType(f.dataType)).map(_.name).toSeq
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap(c => Seq(
      approx_count_distinct(col(c)).as(s"__d_$c"),
      count(when(col(c).isNull, 1)).as(s"__n_$c")))
    val row = read().agg(aggs.head, aggs.tail: _*).collect().head
    val props = Map("stats.numRows" -> row.getAs[Long]("__rows").toString) ++
      cols.flatMap(c => Seq(
        s"stats.$c.distinctCount" -> row.getAs[Long](s"__d_$c").toString,
        s"stats.$c.nullCount" -> row.getAs[Long](s"__n_$c").toString))
    commitWithRetry("ANALYZE", Map("columns" -> cols.mkString(",")), snap) { s =>
      Seq(s.metadata.copy(properties = s.metadata.properties ++ props))
    }
    props
  }

  /** ANALYZE with REAL theta sketches (r14 — the NDV artifact the UniForm
    * export can publish): one distributed pass over the table builds an
    * [[https://datasketches.apache.org/ Apache DataSketches]] theta sketch
    * per column (exactly the `apache-datasketches-theta-v1` payload the
    * Iceberg Puffin spec defines) alongside the row/null counts, persists
    * the serialized compact sketches as a `_stats/theta-<v>.json` sidecar
    * (base64 — a few KB per column), and records `stats.*` properties from
    * the SKETCH estimates plus `graft.stats.thetaSidecar` pointing at the
    * sidecar in one ANALYZE commit. [[Uniform]] export then emits a
    * spec-compliant Puffin statistics file from the stored sketches —
    * metadata-only at export time; the O(data) pass is paid here, where
    * the user asked for it. Skipped columns: non-stats types. */
  def analyzeSketches(forColumns: Seq[String] = Nil): Map[String, String] = {
    val snap = snapshot()
    val cols =
      if (forColumns.nonEmpty) forColumns
      else snap.schema.fields.filter(f => Stats.isStatsType(f.dataType)).map(_.name).toSeq
    require(cols.nonEmpty, "no sketchable columns")
    val nCols = cols.size
    import spark.implicits._
    val parts: Array[(Long, Seq[Long], Seq[Array[Byte]])] =
      read().select(cols.map(col): _*).mapPartitions { it =>
        val sketches = Array.fill(nCols)(
          org.apache.datasketches.theta.UpdateSketch.builder().build())
        val nulls = Array.fill(nCols)(0L)
        var rows = 0L
        it.foreach { r =>
          rows += 1
          var i = 0
          while (i < nCols) {
            if (r.isNullAt(i)) nulls(i) += 1
            else LakeTable.updateTheta(sketches(i), r.get(i))
            i += 1
          }
        }
        Iterator.single((rows, nulls.toSeq,
          sketches.map(_.compact.toByteArray).toSeq))
      }.collect()
    val unions = Array.fill(nCols)(
      org.apache.datasketches.theta.SetOperation.builder().buildUnion())
    var rows = 0L
    val nulls = Array.fill(nCols)(0L)
    parts.foreach { case (r, ns, sks) =>
      rows += r
      var i = 0
      while (i < nCols) {
        nulls(i) += ns(i)
        unions(i).union(org.apache.datasketches.theta.CompactSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(sks(i))))
        i += 1
      }
    }
    val merged = unions.map(_.getResult)
    val sidecarRel = s"_stats/theta-${snap.version}.json"
    Puffin.writeThetaSidecar(log.store, dir, sidecarRel, snap.version,
      cols.zip(merged.map(_.toByteArray)))
    val props = Map(
      "stats.numRows" -> rows.toString,
      "graft.stats.thetaSidecar" -> sidecarRel) ++
      cols.zipWithIndex.flatMap { case (c, i) => Seq(
        s"stats.$c.distinctCount" ->
          Math.round(merged(i).getEstimate).toString,
        s"stats.$c.nullCount" -> nulls(i).toString) }
    commitWithRetry("ANALYZE",
      Map("columns" -> cols.mkString(","), "sketches" -> "theta"), snap) { s =>
      Seq(s.metadata.copy(properties = s.metadata.properties ++ props))
    }
    props
  }

  /** RESTORE TABLE TO VERSION AS OF (M7, src/delta_utils.py:176-197): new
    * commit whose live file set equals the snapshot at `v`. */
  def restoreToVersion(v: Long): Long = {
    val old = log.snapshot(Some(v))
    commitWithRetry("RESTORE", Map("version" -> v.toString), snapshot()) { s =>
      val now = clockMillis()
      val oldPaths = old.files.map(_.path).toSet
      val curPaths = s.files.map(_.path).toSet
      val removed = s.files.filterNot(f => oldPaths.contains(f.path)).map(_.path).toSet
      // deletion-vector state is part of the restored snapshot: re-emit the
      // old vectors and explicitly clear vectors acquired since on files
      // that survive into the restored state
      val dvClears = s.dvs.keySet.intersect(oldPaths).diff(old.dvs.keySet)
        .toSeq.map(DeletionVector.clear)
      // metadata restores WHOLESALE, properties included (Delta re-applies
      // the old Metadata action): after a REPLACE TABLE swapped the
      // properties, keeping the new ones would desync the column-mapping
      // max-id counter from the restored schema's field ids — a later ADD
      // COLUMN could then re-issue an id the old schema already uses
      Seq(s.metadata.copy(schemaJson = old.metadata.schemaJson,
        partitionColumns = old.metadata.partitionColumns,
        properties = old.metadata.properties)) ++
        removed.toSeq.map(p => RemoveFile(p, now)) ++
        old.files.filterNot(f => curPaths.contains(f.path)) ++
        old.dvs.values ++ dvClears ++
        dvTombstones(s, removed ++ dvClears.map(_.forFile), old.dvs.values, now)
    }
  }

  def restoreToTimestamp(tsMillis: Long): Long = restoreToVersion(log.versionAt(tsMillis))

  /** VACUUM (M10, src/delta_utils.py:337-370): delete files tombstoned before
    * the horizon plus orphaned (never-committed) files; never touches the
    * current snapshot. Returns the affected paths (always, mirroring DRY RUN).
    *
    * `lite` = Delta's VACUUM LITE: candidates come from the transaction
    * log's RemoveFile tombstones ONLY — no storage listing. At 100 TB the
    * full mode's recursive listing of millions of data files is the
    * dominant cost (and on object stores, the dominant request bill); the
    * log replay is O(#versions) of small JSON instead. The trade is that
    * LITE cannot see ORPHANS (files a crashed writer staged but never
    * committed — they are in no log entry), so an occasional full vacuum
    * still collects those.
    *
    * Both modes key tombstones by the LATEST deletionTimestamp per path:
    * a file removed long ago, re-added by RESTORE, and removed again
    * within the retention window must survive — time travel inside the
    * window still resolves it. */
  def vacuum(retainHours: Double = -1.0, dryRun: Boolean = false,
      lite: Boolean = false,
      inventory: Option[DataFrame] = None): Seq[String] = {
    // LITE never lists storage at all (log tombstones only) — an inventory
    // would be silently ignored; refuse instead of letting the caller
    // believe it narrowed anything
    require(!(lite && inventory.isDefined),
      "VACUUM LITE does not take USING INVENTORY (LITE reads only the " +
        "transaction log's tombstones; the inventory replaces FULL's listing)")
    // negative = caller did not specify: resolve the default from the
    // table property graft.deletedFileRetentionDuration (Delta's
    // delta.deletedFileRetentionDuration, accepted via prefix
    // normalization; "interval <n> hours|days|minutes"), else 168 h —
    // Delta's 7-day default.
    val effectiveHours =
      if (retainHours >= 0) retainHours
      else properties.get("graft.deletedFileRetentionDuration")
        .flatMap(LakeTable.parseRetentionHours)
        .getOrElse(168.0)
    val horizon = clockMillis() - (effectiveHours * 3600 * 1000).toLong
    val snap = snapshot()
    // vectors live in `.bin` files or (legacy) directories — membership
    // is prefix-based
    def underAny(p: String, prefixes: Set[String]): Boolean =
      prefixes.exists(pre => p == pre || p.startsWith(pre + "/"))
    val live = snap.files.map(f => absPath(f)).toSet
    val liveDv = snap.dvs.values.flatMap(_.storagePath).map(absPathStr).toSet
    // one pass over the log history serves all classifications
    val history = log.listVersions().flatMap(v => log.readVersion(v))
    // LATEST tombstone per path decides: an old remove superseded by a
    // re-add + recent re-remove keeps the file inside the window
    val latestRemove = history.collect { case r: RemoveFile =>
      absPath(AddFile(r.path, Map.empty, 0, 0, Map.empty, 0)) -> r.deletionTimestamp
    }.groupBy(_._1).map { case (p, ts) => p -> ts.map(_._2).max }
    // a tombstoned file is the table's even when TRUNCATE HISTORY deleted
    // the commit that added it: its tombstone's age decides, never its mtime
    val referenced = history.collect {
      case a: AddFile => absPath(a)
      case c: CdfFile => dir.resolve(c.path).toString
    }.toSet ++ latestRemove.keySet
    val referencedDv = history.collect {
      case d: DeletionVector => d.storagePath.map(absPathStr)
    }.flatten.toSet
    val tombstoned = latestRemove.collect {
      // <= so retainHours=0 ("retain nothing") catches a same-millisecond tombstone
      case (p, ts) if ts <= horizon => p
    }.toSet
    val doomed =
      if (lite)
        // a tombstone may name a deletion-vector DIRECTORY — expand it to
        // its parquet files (matching the full mode's file-level answers);
        // listing only DOOMED directories keeps the cost proportional to
        // what gets deleted, never to the table
        tombstoned.toSeq.sorted
          .filter(p => !live.contains(p) && !underAny(p, liveDv))
          .flatMap { p =>
            val path = Paths.get(p)
            if (Files.isDirectory(path))
              listParquet(path).map(_.toString)
                .filterNot(q => live.contains(q) || underAny(q, liveDv))
            else if (Files.exists(path)) Seq(p)
            else Nil
          }
      else inventory match {
        // USING INVENTORY (Delta 3.3): the caller supplies the file listing
        // (an S3 Inventory report, a storage-team manifest) instead of this
        // engine walking the tree — at 100 TB the recursive listing of
        // millions of objects is the dominant cost and the request bill;
        // the inventory also carries each file's modificationTime, so the
        // orphan-age clause needs zero stat calls. Schema: `path`
        // (absolute, or relative to the table root) and optionally
        // `modificationTime` (epoch millis). Rows outside the table's
        // data/cdf/dv subtrees are ignored — feeding one bucket-wide
        // inventory to every table's vacuum is the intended usage.
        //
        // Classification runs DISTRIBUTED: a bucket-wide inventory has
        // millions of rows and must never be collected to the driver —
        // the O(#files)/O(log) classification sets ride to executors in
        // the task closure and only the DOOMED list (bounded by actual
        // deletions) comes back. Deletion then runs from that
        // MATERIALIZED list via a bounded driver thread pool
        // (parallelDelete): collecting first keeps classification
        // strictly before deletion (a distributed delete over the lazy
        // frame would re-evaluate it post-deletion on cache eviction),
        // and the pool keeps a millions-of-objects sweep at minutes, not
        // serial-driver hours.
        case Some(inv) =>
          val hasMtime = inv.columns.contains("modificationTime")
          // Without inventory mtimes the orphan-age clause stats files
          // with java.nio ON EXECUTORS — only valid where executors share
          // the driver's filesystem view. On a real cluster every stat
          // would silently resolve to MaxValue (never doomed), so refuse
          // loudly instead of reporting a successful no-op VACUUM.
          if (!hasMtime && !inv.sparkSession.sparkContext.isLocal)
            throw new IllegalArgumentException(
              "VACUUM USING INVENTORY on a cluster requires a " +
                "modificationTime column in the inventory (executors " +
                "cannot stat table storage through the local filesystem)")
          val dirStr = dir.toString
          val subtrees = Seq("data", "cdf", "dv").map(s => dirStr + "/" + s + "/")
          val (liveC, liveDvC, tombC, refC, refDvC, horizonC) =
            (live, liveDv, tombstoned, referenced, referencedDv, horizon)
          // Normalize BEFORE every membership check: an inventory path
          // spelled 'data//x.parquet' or with './'-segments passes a raw
          // prefix test yet misses the live/referenced string sets — a
          // LIVE file would classify as an orphan and be deleted. Rows
          // that do not normalize to a location under the table root are
          // ignored.
          def canon(rawPath: String): String = scala.util.Try(
            Paths.get(if (rawPath.startsWith("/")) rawPath
                      else dirStr + "/" + rawPath).normalize().toString)
            .getOrElse("")
          val doomedUdf = org.apache.spark.sql.functions.udf {
            (rawPath: String, mtime: java.lang.Long) =>
              if (rawPath == null) false
              else {
                val p = canon(rawPath)
                def under(prefixes: Set[String]): Boolean =
                  prefixes.exists(pre => p == pre || p.startsWith(pre + "/"))
                p.nonEmpty && subtrees.exists(p.startsWith) &&
                  !liveC.contains(p) && !under(liveDvC) && (
                    tombC.contains(p) || under(tombC) ||
                    (!refC.contains(p) && !under(refDvC) &&
                      // a stale inventory row whose file is already gone
                      // stats as MaxValue — never doomed
                      Option(mtime).map(_.toLong).getOrElse(scala.util.Try(
                        Files.getLastModifiedTime(Paths.get(p)).toMillis)
                        .getOrElse(Long.MaxValue)) < horizonC))
              }
          }
          val mtimeCol =
            if (hasMtime) col("modificationTime").cast("long")
            else lit(null).cast("long")
          inv.filter(doomedUdf(col("path"), mtimeCol))
            .select(col("path")).collect()
            .map(r => canon(r.getString(0))).toSeq
        case None =>
          val physical =
            (listParquet(dir.resolve("data")) ++ listParquet(dir.resolve("cdf")) ++
              listDvFiles(dir.resolve("dv"))).map(_.toString)
          physical.filter { p =>
            !live.contains(p) && !underAny(p, liveDv) && (
              tombstoned.contains(p) || underAny(p, tombstoned) ||
              (!referenced.contains(p) && !underAny(p, referencedDv) &&
                Files.getLastModifiedTime(Paths.get(p)).toMillis < horizon))
          }
      }
    if (!dryRun) {
      parallelDelete(doomed)
      commitWithRetry("VACUUM", Map("retainHours" -> effectiveHours.toString,
        "mode" -> (if (lite) "LITE" else "FULL"),
        "usingInventory" -> inventory.isDefined.toString,
        "numDeletedFiles" -> doomed.size.toString), snapshot())(_ => Nil)
    }
    doomed
  }

  /** Storage deletes from the MATERIALIZED doomed list, issued from a
    * bounded driver thread pool instead of one serial loop: a retention
    * sweep on a 100 TB table dooms millions of objects, and object-store
    * deletes are ~50 ms round trips — one driver thread is hours, 32-wide
    * is minutes. Classification stays strictly BEFORE deletion (the list
    * is already collected — the r10 fix), so nothing can re-evaluate the
    * doomed set mid-delete. Driver-side by design: deletes go through the
    * same filesystem view the transaction log writes through, with no
    * executor-storage-visibility assumption (the same reason the log's own
    * IO is driver-issued). Small sweeps (≤ 32 paths) stay inline — a pool
    * would cost more than it saves. Returns the pool width used (pinned in
    * LakeTableSpec). */
  private[table] def parallelDelete(paths: Seq[String]): Int = {
    val width = if (paths.size <= 32) 1 else 32
    if (width == 1) {
      paths.foreach(p => Files.deleteIfExists(Paths.get(p)))
      return 1
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(width)
    try {
      val chunk = (paths.size + width - 1) / width
      val futures = paths.grouped(chunk).map { part =>
        pool.submit(new Runnable {
          def run(): Unit = part.foreach(p => Files.deleteIfExists(Paths.get(p)))
        })
      }.toSeq
      try futures.foreach(_.get())
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    } finally { pool.shutdown(): Unit }
    width
  }

  /** CLONE (M11, src/delta_utils.py:79-105). Shallow = new log referencing
    * the source's files by absolute path; deep = full file copy.
    * `versionAsOf` clones the table AS OF that version (time-travel clone —
    * the reproducible-training-snapshot pattern: pin a corpus state under a
    * new name without copying data in the shallow case). */
  def cloneTo(targetDir: String, shallow: Boolean = true,
      versionAsOf: Option[Long] = None): LakeTable = {
    val snap = log.snapshot(versionAsOf)
    val tgt = Paths.get(targetDir)
    require(!TxLog.isTable(targetDir), s"clone target already a table: $targetDir")
    Files.createDirectories(tgt)
    // deep clone of a table with deletion vectors materializes the masked
    // data into fresh files (raw byte-copy would resurrect deleted rows)
    if (!shallow && snap.dvs.nonEmpty) {
      val t = LakeTable.create(spark, targetDir, snap.schema,
        snap.metadata.partitionColumns, snap.metadata.properties, ifNotExists = false)
      t.append(readFilesMasked(snap, snap.files, snap.schema))
      return t
    }
    // bloom sidecars are not cloned (their paths are source-relative);
    // dropping the refs keeps the clone's reads conservative-correct
    val adds: Seq[AddFile] =
      if (shallow) snap.files.map(f => f.copy(path = absPath(f), bloom = null))
      else snap.files.map { f =>
        val srcP = Paths.get(absPath(f))
        val rel = s"data/cloned/${f.path.replace('/', '_')}"
        val dstP = tgt.resolve(rel)
        Files.createDirectories(dstP.getParent)
        Files.copy(srcP, dstP)
        f.copy(path = rel, bloom = null)
      }
    // shallow clone: the masks are read here and written into the clone's
    // own dv/, keyed by the source files' absolute paths — the clone never
    // points into the source's vector files, whose VACUUM it cannot see
    val dvActions: Seq[Action] =
      if (!shallow || snap.dvs.isEmpty) Nil
      else {
        val masks = dvBitmaps(snap.dvs.values.toSeq)
        DvStore.write(tgt.toAbsolutePath, snap.dvs.keys.toSeq.map(f =>
          absPathStr(f) -> masks(absPathStr(f))), Map.empty)
      }
    val now = System.currentTimeMillis()
    val meta = snap.metadata.copy(id = UUID.randomUUID().toString, createdTime = now)
    val ci = CommitInfo(0L, now, "CLONE",
      Map("source" -> dir.toString, "isShallow" -> shallow.toString) ++
        versionAsOf.map(v => "sourceVersion" -> v.toString),
      Map("numCopiedFiles" -> (if (shallow) 0L else adds.size.toLong)), -1L,
      LakeTable.currentUser, false, UUID.randomUUID().toString)
    // Preserve the source snapshot's protocol (merged with this engine's
    // current: max versions, union of named features) — cloning a
    // protocol-upgraded table must not downgrade its gate, same as Delta.
    val cloneProto = graft.log.Protocol.withDvDescriptors(
      graft.log.Protocol.merge(snap.protocol, graft.log.Protocol.Current), dvActions)
    // domain state rides along (the row-id high-water mark in particular:
    // cloned AddFiles keep their baseRowIds, so the clone must inherit the
    // mark that makes future allocations collision-free)
    val domainActions: Seq[Action] =
      snap.domains.toSeq.sortBy(_._1).map { case (d, c) => DomainMetadata(d, c) }
    val tlog = new TxLog(tgt)
    require(tlog.tryCommit(0L,
      (ci +: cloneProto +: meta +: adds) ++ domainActions ++ dvActions),
      s"concurrent clone into $targetDir")
    new LakeTable(spark, tgt)
  }
}

object LakeTable {

  /** Feed one non-null Spark value into a theta sketch with a
    * deterministic type-stable encoding (NDV only needs an injective
    * mapping per type; these are the natural ones). */
  private[table] def updateTheta(
      s: org.apache.datasketches.theta.UpdateSketch, v: Any): Unit = (v match {
    case l: java.lang.Long => s.update(l.longValue())
    case i: java.lang.Integer => s.update(i.longValue())
    case sh: java.lang.Short => s.update(sh.longValue())
    case by: java.lang.Byte => s.update(by.longValue())
    case d: java.lang.Double => s.update(d.doubleValue())
    case f: java.lang.Float => s.update(f.doubleValue())
    case str: String => s.update(str)
    case dec: java.math.BigDecimal =>
      s.update(dec.stripTrailingZeros.toPlainString)
    case dt: java.sql.Date => s.update(dt.toLocalDate.toEpochDay)
    case ld: java.time.LocalDate => s.update(ld.toEpochDay)
    case ts: java.sql.Timestamp =>
      s.update(ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L)
    case inst: java.time.Instant =>
      s.update(java.time.temporal.ChronoUnit.MICROS.between(
        java.time.Instant.EPOCH, inst))
    case b: java.lang.Boolean => s.update(if (b) 1L else 0L)
    case bytes: Array[Byte] => s.update(bytes)
    case other => s.update(String.valueOf(other))
  }): Unit

  /** Post-commit maintenance (checkpoint, log compaction) that failed after
    * its commit landed. The commit stands and reads stay correct — the
    * per-commit files are the source of truth — so the failure is not
    * raised; it is logged at WARN and counted here. */
  private[graft] val bestEffortFailures = new java.util.concurrent.atomic.AtomicLong

  private lazy val warnLog = org.slf4j.LoggerFactory.getLogger(classOf[LakeTable])

  private[table] def bestEffortFailed(dir: Path, v: Long, what: String, e: Throwable): Unit = {
    bestEffortFailures.incrementAndGet(): Unit
    warnLog.warn(s"post-commit $what of table $dir at version $v failed " +
      s"(the commit landed; reads fall back to the log): $e")
  }

  /** Committing identity for CommitInfo.userName (no auth layer locally —
    * the JVM user is the honest equivalent of the reference's cluster user). */
  private[graft] def currentUser: String =
    sys.props.getOrElse("user.name", "unknown")

  /** Protocol demanded by feature-requiring properties (Delta stamps its
    * protocol the same way when delta.enableDeletionVectors etc. are set):
    * a table that turns a feature on declares it, so engines that lack the
    * capability refuse BY NAME instead of silently mis-reading masked rows
    * or ignoring constraints. Deletion vectors gate READERS too (a mask-
    * blind reader would resurrect deleted rows); the rest are writer-side
    * disciplines. Expects normalized (graft.-prefixed) property keys. */
  private[graft] def impliedFeatures(props: Map[String, String]): graft.log.Protocol = {
    val dv = props.get("graft.enableDeletionVectors").contains("true")
    val writer = Seq(
      if (dv) Some("deletionVectors") else None,
      if (props.get("graft.enableChangeDataFeed").contains("true"))
        Some("changeDataFeed") else None,
      if (props.keys.exists(_.startsWith("graft.constraints.")))
        Some("checkConstraints") else None,
      if (props.keys.exists(_.startsWith("graft.generated.")))
        Some("generatedColumns") else None,
      if (props.keys.exists(_.startsWith("graft.identity.")))
        Some("identityColumns") else None,
      // row tracking persists its id high-water mark in domain metadata,
      // so enabling it demands BOTH writer features (Delta's dependency)
      if (props.get("graft.enableRowTracking").contains("true"))
        Some("rowTracking") else None,
      if (props.get("graft.enableRowTracking").contains("true"))
        Some("domainMetadata") else None,
      // type widening gates READERS too: a reader that would not upcast
      // old files under the widened schema must refuse by name instead of
      // crashing (or worse, miscasting) on the scan
      if (props.get("graft.enableTypeWidening").contains("true"))
        Some("typeWidening") else None,
      // declarable for Delta parity; this engine's commits ALWAYS carry
      // monotonic in-commit timestamps (see nextTimestamp) — the stamp
      // demands the same discipline of other writers
      if (props.get("graft.enableInCommitTimestamps").contains("true"))
        Some("inCommitTimestamp") else None).flatten
    val reader = Seq(
      if (dv) Some("deletionVectors") else None,
      if (props.get("graft.enableTypeWidening").contains("true"))
        Some("typeWidening") else None).flatten
    graft.log.Protocol(
      graft.log.Protocol.SupportedReader, graft.log.Protocol.SupportedWriter,
      readerFeatures = if (reader.isEmpty) null else reader,
      writerFeatures = if (writer.isEmpty) null else writer)
  }

  /** Parse Delta's retention-interval property value ("interval 7 days",
    * "interval 12 hours", "interval 30 minutes") to hours. None on any
    * other shape — an unparsable retention must fall back to the safe
    * default, never to zero. */
  private[table] def parseRetentionHours(v: String): Option[Double] =
    """(?i)\s*interval\s+(\d+(?:\.\d+)?)\s+(hour|day|minute)s?\s*""".r
      .findFirstMatchIn(v).map { m =>
        val n = m.group(1).toDouble
        m.group(2).toLowerCase match {
          case "day" => n * 24.0
          case "hour" => n
          case "minute" => n / 60.0
        }
      }

  /** Migration parity: the reference sets `delta.`-prefixed table
    * properties (delta.enableChangeDataFeed, delta.autoOptimize.*, …,
    * src/delta_utils.py:52-55). Those spellings are accepted verbatim and
    * normalized to the engine's `graft.` prefix at ingestion (CREATE TABLE
    * / SET TBLPROPERTIES), so reference DDL runs unchanged;
    * SHOW TBLPROPERTIES reports the normalized names. */
  private[graft] def normalizeKey(k: String): String =
    if (k.startsWith("delta.")) "graft." + k.stripPrefix("delta.") else k

  private[graft] def normalizeProps(props: Map[String, String]): Map[String, String] =
    props.map { case (k, v) => normalizeKey(k) -> v }

  private[graft] class EpochAlreadyCommitted extends RuntimeException

  /** True on a Structured Streaming microbatch thread (foreachBatch).
    * QueryExecutionListener events — which complete `Observation` promises —
    * are not delivered for actions run on that thread, so `Observation.get`
    * would block forever. DML metric collection switches to explicit narrow
    * recount jobs there instead. */
  private[table] def onStreamExecutionThread: Boolean =
    Thread.currentThread().getName.startsWith("stream execution thread")
  private[table] class StaleStagedIds extends RuntimeException

  /** CREATE TABLE [IF NOT EXISTS] (W4, src/delta_utils.py:27-77). */
  def create(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      partitionColumns: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty,
      name: String = "",
      ifNotExists: Boolean = true): LakeTable = {
    val p = Paths.get(localPath(dir))
    if (TxLog.isTable(localPath(dir))) {
      if (ifNotExists) return new LakeTable(spark, p)
      throw new IllegalStateException(s"table already exists: $dir")
    }
    val bad = partitionColumns.filterNot(schema.fieldNames.contains)
    require(bad.isEmpty, s"partition columns not in schema: ${bad.mkString(",")}")
    Files.createDirectories(p)
    val now = System.currentTimeMillis()
    // column mapping from day one: every new table's columns carry stable
    // parquet field ids, making RENAME/DROP COLUMN metadata-only later
    val stamped = ColumnIds.stampAll(schema)
    val meta = graft.log.Metadata(UUID.randomUUID().toString,
      if (name.nonEmpty) name else p.getFileName.toString,
      stamped.json, partitionColumns,
      LakeTable.normalizeProps(properties) +
        (ColumnIds.MaxIdKey -> stamped.fields.length.toString), now)
    val ci = CommitInfo(0L, now, "CREATE TABLE",
      Map("partitionBy" -> partitionColumns.mkString(",")), Map.empty, -1L,
      LakeTable.currentUser, false, UUID.randomUUID().toString)
    val tlog = new TxLog(p)
    // feature-requiring CREATE properties stamp matching table features in v0
    val proto = graft.log.Protocol.merge(graft.log.Protocol.Current,
      impliedFeatures(meta.properties))
    if (!tlog.tryCommit(0L, Seq(ci, proto, meta)) && !ifNotExists)
      throw new IllegalStateException(s"concurrent create on $dir")
    new LakeTable(spark, p)
  }

  /** Create a table from an initial DataFrame (CTAS). */
  def createFrom(
      spark: SparkSession,
      dir: String,
      df: DataFrame,
      partitionColumns: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): LakeTable = {
    val t = create(spark, dir, df.schema, partitionColumns, properties, ifNotExists = false)
    t.append(df)
    t
  }

  /** CHECK constraints + generated-column identity rules derived from a
    * property map and schema — instance reads use the live table's pair,
    * `replaceTable` evaluates the NEW table's rules against staged data. */
  private[table] def constraintsFrom(
      properties: Map[String, String],
      schema: StructType): Seq[(String, Column)] =
    (properties.toSeq.collect {
      case (k, v) if k.startsWith("graft.constraints.") =>
        k.stripPrefix("graft.constraints.") -> org.apache.spark.sql.functions.expr(v)
    } ++ properties.toSeq.collect {
      case (k, v) if k.startsWith("graft.generated.") =>
        k.stripPrefix("graft.generated.") -> v
    }.map { case (name, e) =>
      val dt = schema(name).dataType
      // NULL is exempt: rows written before the rule existed carry NULL and
      // must keep flowing through DML rewrites
      s"__gen_$name" ->
        (col(name).isNull || (col(name) <=> org.apache.spark.sql.functions.expr(e).cast(dt)))
    }).sortBy(_._1)

  /** Catalog commands hand locations around as `file:` URIs while the
    * native API passes plain paths; accept both. */
  private[graft] def localPath(dir: String): String =
    if (dir.startsWith("file:")) Paths.get(java.net.URI.create(dir)).toString
    else dir

  def forPath(spark: SparkSession, dir: String): LakeTable = {
    val d = localPath(dir)
    require(TxLog.isTable(d), s"not a graft table: $d")
    new LakeTable(spark, Paths.get(d))
  }

  def isTable(dir: String): Boolean = TxLog.isTable(localPath(dir))

  /** CONVERT TO DELTA analogue (the zero-copy migration op): register an
    * existing plain-parquet directory as a graft table IN PLACE. No data is
    * read beyond the parquet footers and nothing is rewritten — the initial
    * commit lists the existing files with footer-derived stats, so a 100 TB
    * directory converts in driver-metadata time. Idempotent on an
    * already-converted directory.
    *
    * Hive-style `col=value` layouts are rejected: their files do not carry
    * the partition columns, and graft's read path (and its
    * partition-columns-are-data-columns pruning model) requires them in the
    * data. Use the rewriting migrators (`graft.migrate.Migrate`) for those
    * sources. */
  def convert(spark: SparkSession, dir: String): LakeTable = {
    if (TxLog.isTable(dir)) return forPath(spark, dir)
    // a directory carrying a _delta_log is a Delta Lake table: replay ITS
    // log (exact live file set, schema, properties) instead of listing
    // parquet — plain listing would double-count tombstoned files and
    // sweep up checkpoint parquets
    if (graft.migrate.DeltaImport.isDeltaTable(dir))
      return graft.migrate.DeltaImport.convert(spark, dir)
    // likewise a metadata/v<N>.metadata.json directory is an Iceberg
    // table: replay its manifests (live files, position deletes, schema)
    if (graft.migrate.IcebergImport.isIcebergTable(dir))
      return graft.migrate.IcebergImport.convert(spark, dir)
    val p = Paths.get(dir)
    require(Files.isDirectory(p), s"not a directory: $dir")
    val probe = new LakeTable(spark, p)
    val files = probe.listParquet(p)
    require(files.nonEmpty, s"no parquet files under $dir")
    val hivePartitioned = files.exists(f =>
      p.relativize(f).toString.split('/').exists(seg =>
        seg.contains("=") && !seg.endsWith(".parquet")))
    require(!hivePartitioned,
      s"$dir is hive-partitioned (col=value directories); partition values " +
        "are not in the data files — migrate with a rewrite instead")
    // schema from footers (spark's parquet inference is metadata-only).
    // NO field-id stamping: the pre-existing files carry no parquet field
    // ids, and an id-bearing read schema over id-less files would not
    // resolve — converted tables stay name-mapped (as Delta's CONVERT
    // does; column mapping remains available to natively-created tables).
    val schema = spark.read.parquet(dir).schema
    val now = System.currentTimeMillis()
    val meta = graft.log.Metadata(UUID.randomUUID().toString,
      p.getFileName.toString, schema.json, Nil, Map.empty, now)
    val stats = Stats.fromFooters(files, schema)
    val adds = files.map { f =>
      val (cnt, st) = stats.getOrElse(f.toString, (0L, Map.empty[String, ColStats]))
      AddFile(
        path = p.relativize(f).toString,
        partitionValues = Map.empty,
        size = Files.size(f),
        numRecords = cnt,
        stats = st,
        modificationTime = Files.getLastModifiedTime(f).toMillis)
    }
    val ci = CommitInfo(0L, now, "CONVERT",
      Map("numFiles" -> adds.size.toString), Map.empty, -1L,
      LakeTable.currentUser, false, UUID.randomUUID().toString)
    val tlog = new TxLog(p)
    if (!tlog.tryCommit(0L, (ci +: graft.log.Protocol.Current +: meta +: adds)))
      return forPath(spark, dir) // lost a concurrent-convert race: theirs won
    new LakeTable(spark, p)
  }
}
