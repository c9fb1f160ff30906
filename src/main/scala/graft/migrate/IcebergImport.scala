package graft.migrate

import java.nio.charset.StandardCharsets
import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.avro.generic.GenericRecord
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._

import graft.log.{AddFile, ColStats, ColumnIds, DeletionVector, DvBitmap, Stats}
import graft.table.LakeTable

/** Zero-copy import of an Apache Iceberg table (HadoopTables layout —
  * `metadata/v<N>.metadata.json` + Avro manifest lists/manifests): the
  * remaining interop quadrant. [[graft.table.Uniform]] exports TO Iceberg;
  * this replays Iceberg metadata INTO a graft table in place, sharing every
  * data file — so an exported table round-trips, and a foreign Iceberg
  * table migrates without a rewrite. [[sync]] then follows the source's
  * NEW snapshots until cut-over, exactly like [[DeltaImport.sync]].
  *
  * Replayed state (Iceberg table spec, format versions 1 and 2): the
  * current metadata file (version-hint.text, else the highest
  * `v<N>.metadata.json`), its current snapshot's manifest list, each DATA
  * manifest's live entries (status != DELETED), and each DELETE manifest's
  * position-delete files — which transcode into the engine's own
  * deletion-vector masks (one Spark read of (file_path, pos) rows,
  * aggregated into per-file roaring bitmaps, never a driver-side position
  * explosion). v1's legacy metadata keys and missing Avro fields read as
  * their spec defaults (see [[replay]]).
  *
  * Honest zero-copy scope — refuse rather than silently mis-read, with
  * [[convertRewrite]] as the named remedy where a rewrite CAN honor the
  * semantics:
  *  - identity partition transforms only, on types whose Avro partition
  *    encoding has a faithful string form (string/int/long/date — the set
  *    the exporter writes); identity-partitioned Iceberg data files
  *    CONTAIN their partition columns, so zero-copy stays faithful
  *    (unlike Delta), and the tuples import keyed by the SPEC FIELD name
  *    (a foreign spec may name the field differently from the column);
  *    derived transforms (days/bucket/truncate/…) → convertRewrite;
  *  - equality deletes refuse in place (row-predicate deletes cannot
  *    transcode to position masks without a scan) → convertRewrite
  *    applies them as sequence-gated, partition-scoped anti-joins;
  *    DANGLING position deletes (targets compacted away without a delete
  *    rewrite — spec-valid) are ignored, exactly as Iceberg readers do;
  *  - data files outside the table root refuse, like the Delta importer's
  *    absolute-path rule;
  *  - column binding: Iceberg field ids are never reused, so they are
  *    AUTHORITATIVE regardless of footer names — by-id resolution is safe
  *    precisely when every live footer column carries an id (renames
  *    survive: old files keep the old NAME, the id binds them); id-less
  *    files fall back to BY NAME, refusing unknown footer columns.
  *
  * Stats: record counts come from the manifests and are CROSS-CHECKED
  * against the parquet footers; min/max bounds are re-derived from footers
  * (exact by construction) rather than trusted from manifests — the
  * Iceberg spec allows truncated (loose) bounds, which are safe for
  * skipping but would poison graft's metadata-only EXACT min/max answers.
  * ONE parallel footer pass (stats + field ids together) buys exactness
  * forever. */
object IcebergImport {

  private val plain = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Table properties recording the consumed source state: the source's
    * last-sequence-number (monotonic — the sync ordering key) and the
    * metadata version it was read from. */
  val SourceSeqKey = "graft.iceberg.sourceSequence"
  val SourceMetaVersionKey = "graft.iceberg.sourceMetadataVersion"

  /** Metadata IO rides [[graft.log.LogStore.default]] (the engine's store
    * seam); data/delete parquet and footer reads are data-plane Spark /
    * Hadoop-FS IO, object-store capable by construction. */
  private def store: graft.log.LogStore = graft.log.LogStore.default

  def isIcebergTable(dir: String): Boolean =
    store.listFileNames(Paths.get(dir, "metadata")).exists(n =>
      n == "version-hint.text" || n.matches(raw"v\d+\.metadata\.json"))

  /** One partition-spec field: the spec FIELD name (which keys the
    * manifest partition tuple), the source column, and the transform. */
  private[migrate] case class PartField(
      specName: String, column: String, transform: String)

  /** One equality-delete file: absolute (scheme-stripped) path, its data
    * sequence number (equality deletes apply to data files with a STRICTLY
    * smaller sequence), the equality field ids it matches on, the manifest's
    * partition spec id, and the entry's partition tuple (spec field name →
    * string value, sorted; null values kept as null) — the spec scopes a
    * partitioned-spec delete to its own partition, while an unpartitioned-
    * spec delete applies table-wide. */
  private[migrate] case class EqDelete(
      path: String, seq: Long, equalityIds: Seq[Int],
      specId: Long, tuple: Seq[(String, String)])

  /** The replayed current state of an Iceberg table's metadata under
    * `root` (see the object doc for its binding and stats). */
  private[migrate] case class IcebergState(
      root: Path,
      metaVersion: Long,
      meta: java.util.Map[String, Object],
      lastSeq: Long,
      formatVersion: Long,
      schemaWithIds: StructType,
      partFields: Seq[PartField],
      live: Seq[(String, GenericRecord)], // (relative path, data_file record)
      liveSeq: Map[String, Long], // relative path -> data sequence number
      liveScope: Map[String, (Long, Seq[(String, String)])], // path -> (spec id, tuple)
      specFields: Map[Long, Seq[PartField]], // spec id -> its fields (ALL specs)
      deletePaths: Seq[String], // position-delete parquet (manifest form)
      eqDeletes: Seq[EqDelete]) extends Mirror.ForeignSnapshot {
    lazy val fieldById: Map[Int, StructField] = schemaWithIds.fields
      .flatMap(f => ColumnIds.idOf(f).map(_.toInt -> f)).toMap

    def keys: Mirror.FollowKeys = Follow
    def tableId: String = Option(meta.get("table-uuid")).map(_.toString)
      .getOrElse(java.util.UUID.randomUUID().toString)
    def schema: StructType = schemaWithIds
    lazy val partitionColumns: Seq[String] = partFields.map(_.column)
    def files: Seq[String] = live.map(_._1)
    /** The followable state, keyed by `<sequence>-<metadata version>`: live
      * data files relative to the source root, position/equality delete
      * files canonical-absolute. The next sync diffs against the ledger
      * named by its CONSUMED keys to enumerate removed data files and
      * newly-arrived delete files in O(churn). Consumed is judged on BOTH
      * keys: the sequence number (data commits) and the metadata version
      * (metadata-only commits — a rename writes new metadata WITHOUT a new
      * snapshot, and a v1→v2 upgrade RESTARTS the sequence axis). */
    lazy val point: Mirror.SourcePoint = Mirror.SourcePoint(Seq(lastSeq, metaVersion),
      Map(SourceSeqKey -> lastSeq.toString,
        SourceMetaVersionKey -> metaVersion.toString))(
      Mirror.Ledger(files.map(_ -> "").toMap,
        deletePaths.map(Stats.stripScheme), eqDeletes.map(_.path)))
    def properties: Map[String, String] = LakeTable.normalizeProps(
      Option(meta.get("properties")).map(_.asInstanceOf[java.util.Map[String, Object]]
        .asScala.map { case (k, v) => k -> String.valueOf(v) }.toMap).getOrElse(Map.empty))
    /** Iceberg properties rarely map onto graft semantics: a sync does not
      * carry them (set them locally if needed). */
    override def syncProps: Map[String, String] = Map.empty
    def maxColumnId: Long = Option(meta.get("last-column-id")).map(num).getOrElse(0L)

    /** Partition transforms, equality deletes, and partition-value string
      * fidelity: everything [[convertRewrite]] CAN handle but an in-place
      * import cannot. */
    def gateInPlace(): Unit = {
      partFields.foreach { pf =>
        require(pf.transform == "identity",
          s"partition transform '${pf.transform}' is not identity — derived " +
            "partition values cannot import as layout columns; import with " +
            "convertRewrite (one scan, rewritten into graft layout)")
      }
      require(eqDeletes.isEmpty,
        s"$root carries EQUALITY deletes — predicate deletes cannot " +
          "transcode to position masks; import with convertRewrite (they " +
          "apply as an anti-join during the rewrite)")
      // graft's partition values are strings cast back to the column type;
      // only types with a faithful string round-trip from the Avro encoding
      // import (the same set the exporter writes)
      partitionColumns.foreach { c =>
        val dt = schemaWithIds(c).dataType
        require(stringFaithful(dt), s"identity partition column '$c' has type $dt — its Avro " +
          "partition encoding has no faithful string form in this importer")
      }
    }
    /** SOURCE-side renames (by id) and added nullable columns follow;
      * drops, type changes, required adds, and renames on a name-bound
      * import stay cut-over refusals (see [[Evolution]]). */
    def incoming(base: StructType, mapped: Boolean): (StructType, Boolean) = {
      val in = if (mapped) schemaWithIds else ColumnIds.strip(schemaWithIds)
      if (in != base) Evolution.requireFollowable(base, in, mapped, "Iceberg")
      (in, in != base)
    }
    private lazy val byPath = live.toMap
    /** The manifest count cross-checked against the footer, footer-exact
      * stats, and the identity partition tuple decoded by the SPEC field
      * name into graft's string encoding. */
    def addFiles(spark: SparkSession, paths: Seq[String], schema: StructType,
        footers: Map[String, (Long, Map[String, ColStats])],
        tags: Map[String, String]): Seq[AddFile] = {
      val now = System.currentTimeMillis()
      paths.map { path =>
        val df = byPath(path)
        val (footerCount, colStats) = footers(path)
        val manifestCount = df.get("record_count").asInstanceOf[Long]
        require(manifestCount == footerCount,
          s"manifest says $manifestCount records for $path, the footer says " +
            s"$footerCount — refusing inconsistent metadata")
        val part = df.get("partition").asInstanceOf[GenericRecord]
        val pv = partFields.map { pf =>
          val v = part.get(pf.specName) // keyed by the SPEC field name
          pf.column -> (if (v == null) null else schema(pf.column).dataType match {
            case DateType => java.time.LocalDate
              .ofEpochDay(v.asInstanceOf[java.lang.Number].longValue()).toString
            case _ => v.toString
          })
        }.toMap
        AddFile(path = path, partitionValues = pv,
          size = df.get("file_size_in_bytes").asInstanceOf[Long],
          numRecords = manifestCount, stats = colStats,
          modificationTime = now,
          tags = if (tags.isEmpty) null else tags)
      }
    }
    /** The current position deletes (snapshot-global) decode into per-file
      * masks — built map-side, one bitmap per file and task — written as ONE
      * `.bin` under `root` by the engine's vector writer. DANGLING rows
      * drop via a broadcast semi-join against the live set — never phantom
      * vectors, never fatal. */
    def masks(spark: SparkSession): Seq[DeletionVector] = if (deletePaths.isEmpty) Nil else {
      import spark.implicits._
      val masked = DvBitmap.collectMasks(posDeleteRows(spark, deletePaths)
        .join(broadcast(files.map(p => root.resolve(p).toString).toDF("__path")),
          Seq("__path"), "left_semi")
        .select(col("__path").as("__file"), col("__idx"))).masks
      graft.log.DvStore.write(root,
        files.flatMap(p => masked.get(root.resolve(p).toString).map(p -> _)), Map.empty)
    }
    override def importProps(): Map[String, String] = sortAndStatsProps(this, root)
  }

  /** Partition types whose Avro partition encoding has a faithful string
    * form (the set the exporter writes). */
  private def stringFaithful(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType |
         DateType => true
    case _ => false
  }

  /** Import `<dir>`'s Iceberg metadata as a graft table IN PLACE
    * (idempotent: an already-imported directory returns the existing graft
    * table): ONE parallel footer pass binds the columns and derives exact
    * stats, and the position deletes become graft deletion vectors. */
  def convert(spark: SparkSession, dir: String): LakeTable =
    Mirror.convert(spark, dir, replay)(_ => None)

  /** Incremental catch-up after [[convert]]: when the source's
    * last-sequence-number advanced, apply the NET difference between its
    * current snapshot and the graft live set as ONE graft commit
    * ([[Mirror.snapshotSync]]) — new files add zero-copy (footer-verified
    * binding + exact stats, O(new files) only), vanished files remove, and
    * the deletion-vector state REBUILDS from the current position deletes
    * (cost O(current masked positions) per sync). The consumed sequence
    * advances in the same commit, so a replay or racing sync no-ops. The
    * continuous-migration shape: convert once, sync on a cadence, cut over
    * when ready.
    *
    * Refusals mirror the Delta sync: graft-side commits that could have
    * changed the live file set (the cut-over guard, re-checked inside the
    * commit CAS), a non-followable schema change or a partition-spec
    * change on the source (the cut-over moment, not a silent sync step).
    * Source table properties do NOT propagate. Returns the graft version. */
  def sync(spark: SparkSession, dir: String): Long = {
    val (t, consumed) = Mirror.mirrorAt(spark, dir, Follow)
    val st = replay(Paths.get(dir).toAbsolutePath.normalize)
    Mirror.snapshotSync(spark, t, st, Map("fromSequence" -> consumed.toString,
      "toSequence" -> st.lastSeq.toString, "sourceVersion" -> st.metaVersion.toString))
  }

  // ------------------------------------------------------ rewrite import

  /** Parsed partition transform: name plus the bucket/truncate argument. */
  private def parseTransform(t: String): (String, Int) = t match {
    case b if b.startsWith("bucket[") =>
      ("bucket", raw"bucket\[(\d+)\]".r.findFirstMatchIn(b).map(_.group(1).toInt)
        .getOrElse(throw new IllegalArgumentException(s"bad transform '$t'")))
    case w if w.startsWith("truncate[") =>
      ("truncate", raw"truncate\[(\d+)\]".r.findFirstMatchIn(w).map(_.group(1).toInt)
        .getOrElse(throw new IllegalArgumentException(s"bad transform '$t'")))
    case other => (other, 0)
  }

  /** Destination layout for one spec field under the rewrite: either the
    * source column itself (identity on a string-faithful type) or a graft
    * GENERATED column mirroring the transform — None when the dimension
    * cannot carry over (void, unknown future transforms, identity on
    * types without a faithful partition-string form, truncate on types
    * beyond string/int/long). Dropping a layout dimension never drops
    * DATA — the source column is always present in the rewritten rows;
    * OPTIMIZE ZORDER can re-cluster the dimension later. */
  private def destPartOf(pf: PartField, src: StructField)
      : Option[(StructField, Option[String])] = {
    val c = s"`${src.name}`"
    def gen(dt: DataType, expr: String): Option[(StructField, Option[String])] =
      Some((StructField(pf.specName, dt), Some(expr)))
    parseTransform(pf.transform) match {
      case ("identity", _) if stringFaithful(src.dataType) => Some((src, None))
      case ("identity", _) => None
      case ("void", _) => None
      case ("year" | "years", _) => gen(IntegerType, s"year($c)")
      case ("month" | "months", _) =>
        gen(StringType, s"date_format($c, 'yyyy-MM')")
      case ("day" | "days", _) => gen(DateType, s"CAST($c AS DATE)")
      case ("hour" | "hours", _) =>
        gen(StringType, s"date_format($c, 'yyyy-MM-dd-HH')")
      case ("bucket", n) =>
        // graft's own hash layout, NOT Iceberg's murmur bucket function —
        // the destination is a fresh native table; only the bucket COUNT
        // and the clustering-by-this-column intent carry over
        gen(IntegerType, s"pmod(hash($c), $n)")
      case ("truncate", w) => src.dataType match {
        case StringType => gen(StringType, s"substring($c, 1, $w)")
        case LongType => gen(LongType, s"$c - ((($c % $w) + $w) % $w)")
        case IntegerType =>
          gen(IntegerType, s"CAST($c - ((($c % $w) + $w) % $w) AS INT)")
        case _ => None
      }
      case _ => None // unknown future transform: data is complete either way
    }
  }

  /** Rewrite-import of an Iceberg table into a NEW graft table at
    * `destDir` — the remedy for everything the zero-copy [[convert]]
    * refuses for data-layout reasons: non-identity partition transforms
    * (`days`/`bucket`/`truncate`/… — the most common real-world Iceberg
    * layouts), equality deletes, and identity partitions on types without
    * a faithful string form. ONE scan reads every live data file (Iceberg
    * data files always CONTAIN their partition source columns — unlike
    * Delta, no tuple re-injection is needed); position deletes drop via a
    * (file, position) anti-join; equality deletes drop via per-key-set
    * anti-joins under the spec's sequence rule (a delete applies only to
    * data files with a STRICTLY smaller data sequence number), delete-file
    * key columns resolved by field id against each delete file's footer.
    * The destination mirrors the source's layout: identity partitions
    * carry over as real partition columns, derived transforms become graft
    * GENERATED partition columns (`days(ts)` -> `CAST(ts AS DATE)`, …) so
    * partition pruning survives the migration. O(data) once — the
    * migration rewrite the in-place refusals point at.
    *
    * With `follow = true` the destination is built to be SYNCABLE by
    * [[syncRewrite]] (r13 verdict task 1 — the convert/sync/cut-over
    * story for transform-partitioned layouts; see [[Mirror.convertRewrite]]):
    * rows carry [[SrcFileCol]], [[SrcPosCol]] and their data sequence. */
  def convertRewrite(spark: SparkSession, srcDir: String, destDir: String): LakeTable =
    convertRewrite(spark, srcDir, destDir, follow = false)

  def convertRewrite(spark: SparkSession, srcDir: String, destDir: String,
      follow: Boolean): LakeTable = {
    val root = Paths.get(srcDir).toAbsolutePath.normalize
    val st = replay(root)
    val lay = layoutOf(st)
    Mirror.convertRewrite(spark, st, destDir, follow, lay.destSchemaBase,
      lay.destPcols, st.properties ++ lay.genProps ++
        (if (follow) Map(RewriteSpecKey -> specSignature(st.partFields))
        else Map.empty))(
      rewriteRows(spark, st, _, lay, follow, st.eqDeletes, st.deletePaths))
  }

  /** Incremental catch-up for a FOLLOWABLE rewrite destination
    * ([[convertRewrite]] with `follow = true`) — the continuous-migration
    * shape for exactly the sources the in-place [[sync]] refuses
    * (days/bucket/truncate layouts, equality-delete streams):
    *
    *  1. source files REMOVED since the last sync (compaction,
    *     copy-on-write deletes) become the shared lineage-keyed
    *     merge-DELETE ([[Mirror.syncRewrite]]);
    *  2. NEW position-delete files targeting already-imported rows apply
    *     as a (`_src_file`, `_src_pos`) merge-DELETE;
    *  3. NEW equality-delete files apply to already-imported rows as
    *     key-equality merge-DELETEs, sequence-gated against each row's
    *     [[Mirror.SrcSeqCol]] lineage (a newly-arrived delete file can
    *     carry an OLD explicit sequence — delete-file compaction — and
    *     must not touch rows whose data postdates it); only table-wide or
    *     implied-by-key scopes apply (a real partition scope against old
    *     data refuses: its tuple does not map onto the rewritten layout);
    *  4. NEW data files rewrite-append through the same batch machinery
    *     as the import (position deletes, sequence-gated and
    *     partition-scoped equality deletes within the batch, generated
    *     partition keys recomputed), advancing the consumed source state
    *     in the SAME commit.
    *
    * Unlike the in-place [[sync]] (one net commit), a catch-up is up to
    * four destination commits ([[Mirror.syncRewrite]] on idempotency and
    * mid-sync reads); cost is O(churn) + one merge probe per step.
    * Returns the destination's version. */
  def syncRewrite(spark: SparkSession, srcDir: String, destDir: String): Long =
    Mirror.syncRewrite(spark, srcDir, destDir, Follow, replay) { (dest, st, consumed) =>
      // schema and partition-spec changes stay cut-over refusals for a
      // rewrite destination (its generated layout and lineage plumbing
      // were derived from the import-time spec)
      val lay = layoutOf(st)
      require(dest.properties.get(RewriteSpecKey)
          .contains(specSignature(st.partFields)),
        s"the Iceberg source's partition spec changed — a rewrite " +
          "destination cannot follow a re-layout; re-import")
      Mirror.requireSameColumns(dest, Follow, lay.dataSchema,
        lay.genFields.map(_.name))
      new RewriteSteps(spark, st, lay, consumed)
    }

  /** Iceberg's part of a followable-rewrite sync: the row-level delete
    * steps and the append window. New data is judged by PATH, not
    * sequence number: a source-side compaction (RewriteDataFiles) writes
    * NEW paths whose entries carry their OLD data sequence numbers (spec:
    * EXISTING entries keep explicit seqs) — a seq > consumed filter would
    * classify them as neither removed-survivors nor new and silently LOSE
    * their rows. */
  private class RewriteSteps(spark: SparkSession, st: IcebergState,
      lay: RewriteLayout, consumed: Long) extends Mirror.RewriteSteps {
    import org.apache.spark.sql.functions.expr
    private def newEqDel(d: Mirror.LedgerDiff): Seq[EqDelete] =
      st.eqDeletes.filter(e => d.newEqDeletes(e.path))

    // eq deletes against ALREADY-IMPORTED data must be table-wide or
    // implied-by-key ([[eqScopeOf]] None): a real partition scope keys on
    // the SOURCE spec tuple, which does not exist on the rewritten rows
    override def check(d: Mirror.LedgerDiff): Unit = newEqDel(d).foreach { e =>
      require(eqScopeOf(st, e).isEmpty,
        s"equality-delete file ${e.path} carries a partition scope that " +
          "cannot be applied to already-imported rows (the source tuple " +
          "does not exist on the rewritten layout) — rewrite the deletes " +
          "table-wide on the Iceberg side, or re-import")
    }

    override def deleteRows(dest: LakeTable, d: Mirror.LedgerDiff): Unit = {
      // new position deletes on already-imported rows
      if (d.newPosDeletes.nonEmpty) {
        val rootPrefixLen = st.root.toString.length + 2 // 1-based, past the '/'
        val pd = posDeleteRows(spark, d.newPosDeletes).select(
          expr(s"substring(__path, $rootPrefixLen)").as("pd_file"),
          col("__idx").as("pd_pos")).distinct()
        Mirror.deleteMatching(dest, pd, expr(s"target.`$SrcFileCol` = source.pd_file AND " +
          s"target.`$SrcPosCol` = source.pd_pos"), Mirror.PosDelAppId, st.lastSeq)
      }
      // new equality deletes on already-imported rows: one merge per
      // distinct key set (grouped reads, like the batch path), SEQUENCE-
      // GATED against each destination row's [[Mirror.SrcSeqCol]] lineage
      // — a newly-arrived delete file can carry an OLD explicit sequence
      // (delete-file compaction writes new paths keeping old sequences,
      // the same EXISTING-entry shape data files have), and an ungated
      // merge would delete rows whose data POSTDATES the delete
      resolveEqDeletes(st, newEqDel(d)).zipWithIndex.foreach {
        case ((srcNames, keyFields, group), i) =>
          val keys = eqDeleteRows(spark, st, srcNames, keyFields, group)
            .groupBy(keyFields.map(f => col(s"`__eq_${f.name}`")): _*)
            .agg(org.apache.spark.sql.functions.max("__dseq").as("eq_dseq"))
          // one txn slot per key-set group: group order is deterministic
          // (sorted), so a replay resumes exactly where it crashed
          Mirror.deleteMatching(dest, keys, (keyFields.map(f =>
              expr(s"target.`${f.name}` <=> source.`__eq_${f.name}`")) :+
              expr(s"target.`${Mirror.SrcSeqCol}` < source.eq_dseq")).reduce(_ && _),
            s"${Mirror.EqDelAppId}:$i", st.lastSeq)
      }
    }

    def rows(d: Mirror.LedgerDiff): DataFrame = {
      // ALL live eq-deletes, not just the new ones: a compaction-born file
      // keeps its OLD data sequence, so an old delete with a higher seq
      // still applies to it — the per-file sequence gate inside the
      // rewrite makes old deletes a no-op on genuinely new files
      // Position deletes filtered to the NEW files' possible referents:
      // an old delete file cannot reference a PATH that did not exist
      // when it was written, so for genuinely-new files (seq > consumed)
      // only the window's new delete files can match — O(new deletes) IO
      // per sync. A window carrying OLD-sequence files (compaction-born
      // paths, or a RESTORED path an old live delete still targets) reads
      // the full live delete set instead: the compacted-path reads are
      // wasted (anti-join matches nothing) but a restored path's old
      // deletes MUST re-apply — correctness over IO (review r14)
      val windowPosDel =
        if (d.back.exists(st.liveSeq(_) <= consumed)) st.deletePaths
        else d.newPosDeletes
      rewriteRows(spark, st, d.back, lay, follow = true,
        st.eqDeletes, windowPosDel)
    }
  }

  /** The destination layout derived from the source's partition spec. */
  private case class RewriteLayout(
      resolvedParts: Seq[(StructField, Option[String])],
      dataSchema: StructType) {
    def genFields: Seq[StructField] = resolvedParts.collect { case (f, Some(_)) => f }
    def genProps: Map[String, String] = resolvedParts.collect {
      case (f, Some(e)) => s"graft.generated.${f.name}" -> e }.toMap
    def destPcols: Seq[String] = resolvedParts.map(_._1.name)
    def destSchemaBase: StructType = StructType(dataSchema.fields ++ genFields)
  }

  private def layoutOf(st: IcebergState): RewriteLayout = {
    val fieldOf = st.schemaWithIds.fields.map(f => f.name -> f).toMap
    val destParts: Seq[(StructField, Option[String])] = st.partFields.flatMap {
      pf => destPartOf(pf, fieldOf(pf.column)) }
    // a generated column name colliding with a schema column gets `_p`
    val taken = scala.collection.mutable.Set(
      st.schemaWithIds.fieldNames.map(_.toLowerCase).toIndexedSeq: _*)
    val resolvedParts: Seq[(StructField, Option[String])] = destParts.map {
      case (f, None) => (f, None) // identity: the schema column itself
      case (f, expr) =>
        var n = f.name
        while (taken.contains(n.toLowerCase)) n = n + "_p"
        taken += n.toLowerCase
        (f.copy(name = n), expr)
    }
    RewriteLayout(resolvedParts, ColumnIds.strip(st.schemaWithIds))
  }

  /** The shared rewrite read: scan `subset` of the live files (binding
    * gate + planned-vs-logged guard on exactly that subset), drop
    * position-deleted rows, apply `eqDeletes` sequence-gated and
    * partition-scoped, project the data columns (plus lineage when
    * `follow`), and repartition by the destination partition keys —
    * without the shuffle a days() layout explodes into #tasks × #days
    * tiny files (measured 51 s / ~76k files vs ~3 s with it; at 100 TB
    * the no-shuffle shape is the scale killer). Follow mode shuffles by
    * (partition keys, [[SrcFileCol]]) so destination files are
    * lineage-CLUSTERED (whole source files per task, modulo hash
    * collisions) — that is what lets the sync's removal merges rewrite
    * only the touched files' descendants instead of the table. */
  private def rewriteRows(spark: SparkSession, st: IcebergState,
      subset: Seq[String], lay: RewriteLayout,
      follow: Boolean, eqDeletes: Seq[EqDelete], posDeletes: Seq[String]): DataFrame = {
    val root = st.root
    def abs(p: String) = root.resolve(p).toString
    // ---- binding: by field id when every subset footer carries ids ----
    val footerIds = Stats.footerFieldIds(subset.map(root.resolve))
    val allIds = Mirror.bindFooters(subset.map(p => p -> footerIds(abs(p))),
      st.schemaWithIds.fieldNames.toSet, Map.empty, None)
    val readSchema = if (allIds) st.schemaWithIds else lay.dataSchema
    // by-id resolution must hold on ANY session (the refusal message sends
    // users here directly): without this conf Spark resolves by NAME and a
    // renamed column's old files would silently read all-NULL — the same
    // guard LakeTable.readFiles carries
    if (allIds)
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val raw = Mirror.scanFiles(spark, readSchema, subset.map(abs),
      "the manifests' live set")

    // ---- position deletes: (file, position) anti-join ----
    var cur =
      if (posDeletes.isEmpty && eqDeletes.isEmpty && !follow) raw
      else raw.withColumn("__idx", col("_metadata.row_index"))
    if (posDeletes.nonEmpty)
      cur = DvBitmap.dropPositions(cur, posDeleteRows(spark, posDeletes))
    // ---- per-file (data sequence, partition-scope key) ride the rows:
    // the eq-delete gate needs them, and follow mode persists the sequence
    // as lineage — only the SCANNED subset's files, so an incremental
    // sync's window pays O(window) ----
    if (follow || eqDeletes.nonEmpty)
      cur = Mirror.attachPerFile(spark, cur,
        Seq(StructField("__seq", LongType), StructField("__pscope", StringType)),
        subset.map { p =>
          val (specId, tuple) = st.liveScope(p)
          abs(p) -> Seq(st.liveSeq(p), scopeKey(specId, tuple))
        })
    // ---- equality deletes (see [[applyEqualityDeletes]]) ----
    if (eqDeletes.nonEmpty)
      cur = applyEqualityDeletes(spark, st, cur, eqDeletes)

    // ---- project + repartition by the destination partition keys ----
    val typed = cur.select(lay.dataSchema.fieldNames.toIndexedSeq.map(col) ++
      (if (follow) Mirror.lineageCols(root, Follow) else Nil): _*)
    val partExprs = lay.resolvedParts.map {
      case (f, None) => col(f.name)
      case (_, Some(e)) => org.apache.spark.sql.functions.expr(e)
    }
    if (follow) Mirror.clusterByLineage(typed, partExprs)
    else if (partExprs.isEmpty) typed
    else typed.repartition(partExprs: _*)
  }

  /** One canonical scope key per (spec id, partition tuple): partition
    * identity across manifests of the same spec (sorted fields, nulls
    * marked). */
  private def scopeKey(specId: Long, tuple: Seq[(String, String)]): String =
    specId + "|" + tuple.map { case (k, v) =>
      k + "=" + (if (v == null) "\u0000" else v) }.mkString(",")

  /** Apply `st`'s equality deletes to `cur` (a live-file scan carrying
    * `__file`) under the spec's sequence rule — a delete applies only to
    * data files with a STRICTLY smaller data sequence number — and
    * partition scoping. Shaped for real CDC delete-file counts:
    *
    *  - ONE parallel footer pass resolves every delete file's key columns
    *    (by field id — delete files written before a rename keep the old
    *    name, the id binds them — by name only when id-less);
    *  - delete files group by (key ids, resolved column names) and each
    *    group reads in ONE `spark.read.parquet(paths*)` ([[eqDeleteRows]];
    *    no N-leg unions);
    *  - the data sequence number and scope ride the delete ROWS as data
    *    (a tiny per-file map joins on `_metadata.file_path`), so one
    *    anti-join per distinct key set applies every sequence and every
    *    partition at once;
    *  - the per-live-file (sequence, scope) attach is
    *    [[Mirror.attachPerFile]]'s two-tier join;
    *  - each delete file's partition scope resolves by [[eqScopeOf]]. */
  private def applyEqualityDeletes(spark: SparkSession, st: IcebergState,
      cur0: DataFrame, eqDeletes: Seq[EqDelete]): DataFrame = {
    var cur = cur0 // carries __seq and __pscope (attachPerFile)
    resolveEqDeletes(st, eqDeletes).foreach { case (srcNames, keyFields, group) =>
      val delDf = eqDeleteRows(spark, st, srcNames, keyFields, group)
      val cond = keyFields.map(f =>
        cur(f.name) <=> delDf(s"__eq_${f.name}")).reduce(_ && _) &&
        cur("__seq") < delDf("__dseq") &&
        (delDf("__dscope").isNull || cur("__pscope") === delDf("__dscope"))
      cur = cur.join(delDf, cond, "left_anti")
    }
    cur
  }

  /** The rows of one resolved equality-delete group: each key column as
    * `__eq_<column>`, plus the delete FILE's sequence (`__dseq`) and scope
    * (`__dscope`, null when table-wide) attached as DATA
    * ([[Mirror.attachPerFile]]). The read schema is explicit and target-typed: by-name
    * resolution of exactly the resolved key columns (group membership
    * guarantees presence), loud on an unconvertible physical type — a
    * silent cast-to-null would KEEP rows the delete intended to remove. */
  private def eqDeleteRows(spark: SparkSession, st: IcebergState,
      srcNames: Seq[String], keyFields: Seq[StructField],
      group: Seq[EqDelete]): DataFrame = {
    val readSchema = StructType(srcNames.zip(keyFields).map {
      case (n, f) => StructField(n, f.dataType) })
    Mirror.attachPerFile(spark,
      spark.read.schema(readSchema).parquet(group.map(_.path).distinct.sorted: _*)
        .select(srcNames.zip(keyFields).map { case (n, f) =>
          col(s"`$n`").as(s"__eq_${f.name}") } :+
          DvBitmap.stripPathCol(col("_metadata.file_path")).as("__file"): _*),
      Seq(StructField("__dseq", LongType), StructField("__dscope", StringType)),
      group.map(d => Paths.get(d.path).toString -> Seq(d.seq, eqScopeOf(st, d).orNull)))
      .drop("__file")
  }

  /** Scope resolution for one equality-delete file (r13 verdict task 8):
    * None = applies table-wide, Some(key) = only data files sharing the
    * delete's partition.
    *  - unpartitioned delete spec → table-wide;
    *  - every scoped dimension's SOURCE column is part of the delete's
    *    equality key → the scope is IMPLIED by key equality (partition
    *    values are deterministic transforms of key columns, so a row
    *    matching the key necessarily lives in the delete's partition) —
    *    safe to apply table-wide; this covers the standard Flink upsert
    *    shape (table partitioned by a transform of the primary key,
    *    deletes scoped per partition);
    *  - otherwise the scope tuple only matches data files of the SAME
    *    spec: if any live file was written under a DIFFERENT spec id,
    *    tuples are not comparable across spec generations → REFUSE
    *    loudly. (Before r14 such a delete silently never matched — a
    *    silent-KEEP of rows the delete intended to remove.) */
  private def eqScopeOf(st: IcebergState, d: EqDelete): Option[String] =
    if (st.specFields.get(d.specId).forall(_.isEmpty)) None
    else {
      val dims = st.specFields(d.specId).map(_.column)
      val keyCols = d.equalityIds.flatMap(i => st.fieldById.get(i)).map(_.name)
      if (dims.forall(keyCols.contains)) None // implied by key equality
      else {
        val alien = st.live.collectFirst {
          case (p, _) if st.liveScope(p)._1 != d.specId => p }
        require(alien.isEmpty,
          s"equality-delete file ${d.path} is scoped to partition-spec " +
            s"${d.specId}, but live data file ${alien.getOrElse("")} was " +
            "written under a different spec — partition tuples are not " +
            "comparable across spec generations; import with the deletes " +
            "rewritten (or dropped into an unpartitioned spec) on the " +
            "Iceberg side")
        Some(scopeKey(d.specId, d.tuple))
      }
    }

  /** ONE parallel footer pass over `eqDeletes`, resolving each file's key
    * columns (by field id — delete files written before a rename keep the
    * old name, the id binds them — by name only when id-less) and grouping
    * by (key-id set, resolved column names) so each group can read in ONE
    * `spark.read.parquet(paths*)`. Deterministically ordered. */
  private[migrate] def resolveEqDeletes(st: IcebergState, eqDeletes: Seq[EqDelete])
      : Seq[(Seq[String], Seq[StructField], Seq[EqDelete])] = {
    if (eqDeletes.isEmpty) return Nil
    val delFooters = Stats.footerFieldIds(
      eqDeletes.map(d => Paths.get(d.path)).distinct)
    val resolved: Seq[(EqDelete, Seq[String], Seq[StructField])] =
      eqDeletes.map { d =>
        val footer = delFooters(Paths.get(d.path).toString)
        val byId = footer.collect { case (n, Some(i)) => i -> n }.toMap
        val ids = d.equalityIds.sorted
        val keyFields = ids.map(i => st.fieldById.getOrElse(i,
          throw new IllegalArgumentException(
            s"equality delete references field id $i, which is not a " +
              "top-level schema column")))
        val srcNames = ids.zip(keyFields).map { case (i, f) =>
          byId.getOrElse(i, {
            require(footer.exists(_._1 == f.name),
              s"equality-delete file ${d.path} carries neither field " +
                s"id $i nor a column named '${f.name}'")
            f.name
          })
        }
        (d, srcNames, keyFields)
      }
    resolved.groupBy { case (d, srcNames, _) =>
      (d.equalityIds.sorted, srcNames) }.toSeq
      .sortBy { case ((ids, names), _) =>
        (ids.mkString(","), names.mkString(",")) }
      .map { case ((_, srcNames), group) =>
        (srcNames, group.head._3, group.map(_._1).sortBy(_.path))
      }
  }

  // ---------------------------------------------- followable rewrite state

  /** Lineage columns a followable rewrite adds to every row (shared with
    * the Delta rewrite — see [[Mirror]]): the source data file
    * (root-relative) and the row's position in it — what [[syncRewrite]]
    * keys source-side removes and row-level deletes on. */
  val SrcFileCol: String = Mirror.SrcFileCol
  val SrcPosCol: String = Mirror.SrcPosCol

  /** Followable-rewrite destination properties. */
  val RewriteFollowKey = "graft.iceberg.rewriteFollow"
  val RewriteSourceKey = "graft.iceberg.rewriteSource"
  val RewriteSpecKey = "graft.iceberg.rewriteSpec"

  private val Follow = Mirror.FollowKeys("Iceberg", RewriteFollowKey,
    RewriteSourceKey, SourceSeqKey, Seq(SrcFileCol, SrcPosCol, Mirror.SrcSeqCol))

  /** The canonical signature of a partition spec (field name, source
    * column, transform — order-sensitive): [[syncRewrite]] refuses when
    * the source's spec no longer matches the one the destination layout
    * was derived from. */
  private def specSignature(partFields: Seq[PartField]): String =
    partFields.map(pf => s"${pf.specName}:${pf.column}:${pf.transform}")
      .mkString(";")

  // ------------------------------------------------------------ replay

  /** Replay `<root>`'s current Iceberg metadata into its live state.
    * Format versions 1 AND 2 replay: v1 predates sequence numbers, delete
    * manifests, and the `content` fields — absent fields default to their
    * spec-defined v1 readings (content 0, sequence 0) via Avro's
    * null-on-missing-field named access, and v1's legacy single `schema` /
    * `partition-spec` metadata keys resolve when the modern lists are
    * absent. A v1 table's sync ordering key is its metadata version
    * (monotonic per commit), since `last-sequence-number` does not exist
    * before v2. */
  private[migrate] def replay(root: Path): IcebergState = {
    val metaDir = root.resolve("metadata")
    val (metaVersion, meta) = resolveMetadata(metaDir)
    val formatVersion = num(meta.get("format-version"))
    require(formatVersion == 1 || formatVersion == 2,
      s"$root is an Iceberg format-version $formatVersion table — this " +
        "importer replays versions 1 and 2")

    // ---- schema (current-schema-id; v1 fallback: the legacy `schema`) ----
    val schemaNode = Option(meta.get("schemas")) match {
      case Some(schemas) =>
        val schemaId = num(meta.get("current-schema-id"))
        maps(schemas).find(s => num(s.get("schema-id")) == schemaId)
          .getOrElse(throw new IllegalArgumentException(
            s"current-schema-id $schemaId not present in schemas"))
      case None => Option(meta.get("schema"))
        .map(_.asInstanceOf[java.util.Map[String, Object]])
        .getOrElse(throw new IllegalArgumentException(
          s"$root metadata carries neither `schemas` nor the v1 `schema`"))
    }
    val schemaWithIds = structOf(schemaNode, topLevelIds = true)

    // ---- partition specs (default for layout; ALL for delete scoping;
    // v1 fallback: the flat legacy partition-spec, implicitly id 0) ----
    val allSpecs: Map[Long, Seq[java.util.Map[String, Object]]] =
      Option(meta.get("partition-specs")) match {
        case Some(specs) =>
          maps(specs).map(s => num(s.get("spec-id")) -> maps(s.get("fields"))).toMap
        case None => Map(0L -> maps(meta.get("partition-spec")))
      }
    val defaultSpecId =
      Option(meta.get("default-spec-id")).map(num).getOrElse(0L)
    val spec: Seq[java.util.Map[String, Object]] =
      allSpecs.getOrElse(defaultSpecId,
        throw new IllegalArgumentException(
          s"default-spec-id $defaultSpecId not present in partition-specs"))
    val idToName = schemaWithIds.fields.map(f =>
      ColumnIds.idOf(f).get -> f.name).toMap
    // the manifest partition record's Avro fields are named by the SPEC
    // field, which a foreign writer may name differently from the column
    def partFieldsOf(fields: Seq[java.util.Map[String, Object]]): Seq[PartField] =
      fields.map { f =>
        val column = idToName.getOrElse(num(f.get("source-id")),
          throw new IllegalArgumentException(
            s"partition source-id ${f.get("source-id")} is not a " +
              "top-level schema column"))
        PartField(f.get("name").toString, column, f.get("transform").toString)
      }
    val partFields: Seq[PartField] = partFieldsOf(spec)

    // ---- current snapshot -> manifests -> live files + deletes ----
    val currentSnap = Option(meta.get("current-snapshot-id"))
      .map(num).filter(_ != -1L)
    // fields a writer's avro schema does not carry read as their spec
    // defaults — exactly the v1/v2 evolution seam (`content`, sequence
    // numbers). GenericData.Record.get(name) THROWS on an unknown field,
    // so presence is checked against the record's own schema first.
    def getOpt(r: GenericRecord, field: String): Option[Object] =
      Option(r.getSchema.getField(field)).flatMap(f => Option(r.get(f.pos())))
    def intOr(r: GenericRecord, field: String, dflt: Int): Int =
      getOpt(r, field).map(_.asInstanceOf[Number].intValue()).getOrElse(dflt)
    def longOr(r: GenericRecord, field: String, dflt: Long): Long =
      getOpt(r, field).map(_.asInstanceOf[Number].longValue()).getOrElse(dflt)
    // the entry's partition tuple as written (its OWN avro record fields,
    // sorted by name; nulls kept) — the partition identity delete scoping
    // compares, independent of the default spec's field names
    def tupleOf(df: GenericRecord): Seq[(String, String)] = {
      val part = df.get("partition").asInstanceOf[GenericRecord]
      part.getSchema.getFields.asScala.map { fld =>
        fld.name() -> Option(part.get(fld.pos())).map(String.valueOf).orNull
      }.toSeq.sortBy(_._1)
    }
    val data = scala.collection.mutable.ListBuffer
      .empty[(GenericRecord, Long, Long, Seq[(String, String)])]
    val posDeletes = scala.collection.mutable.ListBuffer.empty[String]
    val eqDeletes = scala.collection.mutable.ListBuffer.empty[EqDelete]
    currentSnap.foreach { snapId =>
      val snap = maps(meta.get("snapshots"))
        .find(s => num(s.get("snapshot-id")) == snapId)
        .getOrElse(throw new IllegalArgumentException(
          s"current-snapshot-id $snapId not present in snapshots"))
      val manifests = avroRecords(
        Paths.get(Stats.stripScheme(snap.get("manifest-list").toString)))
      manifests.foreach { m =>
        val content = intOr(m, "content", 0)
        val manifestSeq = longOr(m, "sequence_number", 0L)
        val manifestSpecId = longOr(m, "partition_spec_id", 0L)
        avroRecords(Paths.get(
          Stats.stripScheme(m.get("manifest_path").toString))).foreach { e =>
          val status = e.get("status").asInstanceOf[Int]
          if (status != 2) { // 2 = DELETED
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            val fileContent = intOr(df, "content", 0)
            // v2 sequence inheritance: an ADDED entry with a null sequence
            // inherits the manifest's; EXISTING entries carry it explicitly
            // (v1 predates sequences entirely -> 0)
            val seq = getOpt(e, "sequence_number")
              .map(_.asInstanceOf[Number].longValue())
              .getOrElse(if (status == 1) manifestSeq else 0L)
            (content, fileContent) match {
              case (0, 0) => data += ((df, seq, manifestSpecId, tupleOf(df)))
              case (1, 1) => posDeletes += df.get("file_path").toString
              case (1, 2) =>
                val ids = getOpt(df, "equality_ids")
                  .map(_.asInstanceOf[java.util.List[_]].asScala
                    .map(_.asInstanceOf[Number].intValue()).toSeq)
                  .getOrElse(Nil)
                require(ids.nonEmpty,
                  s"equality-delete file ${df.get("file_path")} carries no " +
                    "equality_ids — malformed")
                eqDeletes += EqDelete(
                  Stats.stripScheme(df.get("file_path").toString), seq, ids,
                  manifestSpecId, tupleOf(df))
              case other => throw new IllegalArgumentException(
                s"manifest/file content mismatch $other in " +
                  s"${m.get("manifest_path")}")
            }
          }
        }
      }
    }

    // ---- paths relativize against the root (refuse external) ----
    def relativize(p: String): String = {
      val abs = Paths.get(Stats.stripScheme(p)).toAbsolutePath.normalize
      require(abs.startsWith(root),
        s"Iceberg data file $p does not live under the table root $root " +
          "— cannot import in place")
      root.relativize(abs).toString
    }
    val live: Seq[(String, GenericRecord)] = data.toList.map {
      case (df, _, _, _) =>
        val fmt = df.get("file_format").toString
        require(fmt.equalsIgnoreCase("parquet"),
          s"data file format '$fmt' is not parquet — cannot import")
        relativize(df.get("file_path").toString) -> df
    }
    val liveSeq: Map[String, Long] = live.map(_._1)
      .zip(data.toList.map(_._2)).toMap
    val liveScope: Map[String, (Long, Seq[(String, String)])] = live.map(_._1)
      .zip(data.toList.map(d => (d._3, d._4))).toMap
    require(live.map(_._1).distinct.size == live.size,
      s"duplicate live data-file paths in $root's manifests — malformed")
    IcebergState(root, metaVersion, meta,
      Option(meta.get("last-sequence-number")).map(num)
        .getOrElse(if (formatVersion == 1) metaVersion else 0L),
      formatVersion, schemaWithIds, partFields, live, liveSeq, liveScope,
      allSpecs.view.mapValues(partFieldsOf).toMap,
      posDeletes.toList, eqDeletes.toList)
  }

  /** Position-delete files as (`__path` canonical data-file path, `__idx`
    * row position) rows; file_path values canonicalize like data paths
    * (scheme-ful URIs). */
  private def posDeleteRows(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.parquet(paths.map(Stats.stripScheme): _*).select(
      DvBitmap.stripPathCol(col("file_path").cast(StringType)).as("__path"),
      col("pos").cast(LongType).as("__idx"))

  // ------------------------------------------------------------ helpers

  private def num(o: Object): Long = o.asInstanceOf[java.lang.Number].longValue()

  /** A metadata JSON array of objects (absent: empty). */
  private def maps(o: Object): Seq[java.util.Map[String, Object]] =
    Option(o).map(_.asInstanceOf[java.util.List[java.util.Map[String, Object]]]
      .asScala.toSeq).getOrElse(Nil)

  /** Sort-order + Puffin-statistics translation for the zero-copy import
    * (r14): the source's DEFAULT sort order — when every field is an
    * identity transform over a top-level column — becomes graft's declared
    * clustering (`graft.clusterBy`: the same "how writers should order
    * data" intent, so future graft ingest clusters by it); any other
    * shape, and the unknown-transform future, DROPS (sort orders are
    * advisory). The CURRENT snapshot's Puffin statistics decode into
    * `stats.<col>.distinctCount` properties (theta blobs only; unknown
    * blob types, compressed payloads, and unreadable files drop — a
    * MISSING statistic is always safe, a mis-decoded one is not). The
    * sketch BYTES carry too, re-written as graft's own `_stats` sidecar,
    * so a UniForm RE-export of the mirror publishes the statistics
    * onward without a fresh [[graft.table.LakeTable.analyzeSketches]]
    * pass — full import → mirror → export symmetry. */
  private def sortAndStatsProps(st: IcebergState, root: Path): Map[String, String] = {
    def nameOf(id: Int): Option[String] = st.fieldById.get(id).map(_.name)
    val cluster: Map[String, String] = scala.util.Try {
      val defId = Option(st.meta.get("default-sort-order-id"))
        .map(num).getOrElse(0L)
      val fields = maps(st.meta.get("sort-orders"))
        .find(o => num(o.get("order-id")) == defId)
        .map(o => maps(o.get("fields"))).getOrElse(Nil)
      val cols = fields.map(f =>
        if (String.valueOf(f.get("transform")) == "identity")
          nameOf(num(f.get("source-id")).toInt)
        else None)
      if (cols.nonEmpty && cols.forall(_.isDefined))
        Map("graft.clusterBy" -> cols.map(_.get).mkString(","))
      else Map.empty[String, String]
    }.getOrElse(Map.empty)
    val ndv: Map[String, String] = scala.util.Try {
      val current = Option(st.meta.get("current-snapshot-id"))
        .map(num).getOrElse(-1L)
      val sketches: Seq[(String, Array[Byte], Long)] =
        maps(st.meta.get("statistics"))
          .filter(e => num(e.get("snapshot-id")) == current)
          .flatMap { e =>
            val p = Paths.get(
              Stats.stripScheme(String.valueOf(e.get("statistics-path"))))
            scala.util.Try(graft.table.Puffin.read(store, p)).getOrElse(Nil)
              .flatMap { b =>
                if (b.blobType != graft.table.Puffin.ThetaBlobType ||
                  b.fields.size != 1) Nil
                else for {
                  name <- nameOf(b.fields.head).toSeq
                  est <- graft.table.Puffin.thetaEstimate(b.bytes).toSeq
                } yield (name, b.bytes, est)
              }
          }
      if (sketches.isEmpty) Map.empty[String, String]
      else {
        val rel = s"_stats/theta-imported-$current.json"
        graft.table.Puffin.writeThetaSidecar(store, root, rel, -1L,
          sketches.map { case (n, bytes, _) => n -> bytes })
        sketches.map { case (n, _, est) =>
          s"stats.$n.distinctCount" -> est.toString }.toMap +
          ("graft.stats.thetaSidecar" -> rel)
      }
    }.getOrElse(Map.empty)
    cluster ++ ndv
  }

  private def avroRecords(p: Path): Seq[GenericRecord] =
    graft.table.Uniform.avroRecords(p, store)

  /** Current metadata: `version-hint.text` names it; else the highest
    * `v<N>.metadata.json` present. */
  private def resolveMetadata(metaDir: Path): (Long, java.util.Map[String, Object]) = {
    val names = store.listFileNames(metaDir)
    require(names.nonEmpty, s"no metadata/ under ${metaDir.getParent}")
    val hinted = scala.util.Try(new String(store.readBytes(
      metaDir.resolve("version-hint.text")), StandardCharsets.UTF_8).trim.toLong)
      .toOption
    val re = raw"v(\d+)\.metadata\.json".r
    val v = hinted.orElse {
      names.flatMap {
        case re(n) => Some(n.toLong); case _ => None
      }.maxOption
    }.getOrElse(throw new IllegalArgumentException(
      s"no v<N>.metadata.json under $metaDir"))
    (v, plain.readValue(
      new String(store.readBytes(metaDir.resolve(s"v$v.metadata.json")),
        StandardCharsets.UTF_8),
      classOf[java.util.Map[String, Object]]))
  }

  /** Spark type for an Iceberg type node (primitive string or nested
    * object) — the inverse of [[graft.table.Uniform.icebergType]]. */
  private[migrate] def sparkType(t: Object): DataType = t match {
    case s: String => s match {
      case "long" => LongType
      case "int" => IntegerType
      case "string" => StringType
      case "double" => DoubleType
      case "float" => FloatType
      case "boolean" => BooleanType
      case "date" => DateType
      case "timestamptz" => TimestampType
      case "timestamp" => TimestampNTZType
      case "binary" => BinaryType
      case dec if dec.startsWith("decimal(") =>
        val m = raw"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)".r
          .findFirstMatchIn(dec).getOrElse(
            throw new IllegalArgumentException(s"bad decimal type '$dec'"))
        DecimalType(m.group(1).toInt, m.group(2).toInt)
      case other => throw new IllegalArgumentException(
        s"Iceberg type '$other' has no Spark mapping in this importer")
    }
    case m: java.util.Map[_, _] =>
      val tm = m.asInstanceOf[java.util.Map[String, Object]]
      tm.get("type").toString match {
        case "struct" => structOf(tm, topLevelIds = false)
        case "list" => ArrayType(sparkType(tm.get("element")),
          containsNull = !tm.get("element-required").asInstanceOf[Boolean])
        case "map" => MapType(sparkType(tm.get("key")),
          sparkType(tm.get("value")),
          valueContainsNull = !tm.get("value-required").asInstanceOf[Boolean])
        case other => throw new IllegalArgumentException(
          s"Iceberg nested type '$other' has no Spark mapping")
      }
    case other => throw new IllegalArgumentException(
      s"unparseable Iceberg type node: $other")
  }

  /** StructType for an Iceberg struct node. Top-level fields carry their
    * Iceberg ids as parquet field ids (the binding decision strips them
    * later if the files cannot support by-id reads). */
  private def structOf(node: java.util.Map[String, Object],
      topLevelIds: Boolean): StructType =
    StructType(maps(node.get("fields"))
      .map { f =>
        val base = StructField(f.get("name").toString,
          sparkType(f.get("type")),
          nullable = !f.get("required").asInstanceOf[Boolean])
        if (topLevelIds) ColumnIds.withId(base, num(f.get("id"))) else base
      }.toSeq)
}
