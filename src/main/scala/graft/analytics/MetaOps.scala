package graft.analytics

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.table.LakeTable

/** Driver-contract queries for the metadata/maintenance surface (SURVEY §2.9
  * M7/M10-M16): history, detail, vacuum, clone, and schema evolution, each
  * with a deterministic DuckDB oracle (VALUES literals for pure-metadata
  * results, source-table reconstructions for data results).
  */
object MetaOps {

  private def scratch(name: String): String =
    Files.createTempDirectory(s"graft-$name").resolve("t").toString

  /** M14: a fixed op sequence, then DESCRIBE HISTORY's deterministic columns. */
  def describeHistory(spark: SparkSession, sfDir: String): DataFrame = {
    val t = LakeTable.createFrom(spark, scratch("hist"), Tables.orders(spark, sfDir))
    t.update(col("o_orderstatus") === "O", Map("o_totalprice" -> (col("o_totalprice") * 1.0)))
    t.delete(col("o_orderkey") % 7 === 0)
    t.restoreToVersion(1)
    t.history().select(col("version"), col("operation"), col("readVersion"),
        col("isBlindAppend"))
      .orderBy("version")
  }

  /** M15: DESCRIBE DETAIL's deterministic columns for a partitioned table. */
  def describeDetail(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val t = LakeTable.create(spark, scratch("detail"), orders.schema,
      partitionColumns = Seq("o_orderstatus"))
    t.append(orders)
    t.detail().select(col("format"), col("name"),
      to_json(col("partitionColumns")).as("partition_columns"))
  }

  /** M10: overwrite then VACUUM(0) — tombstoned files are physically gone,
    * live data still reads back exactly. */
  def vacuumKeepsLiveData(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val t = LakeTable.createFrom(spark, scratch("vacuum"), orders)
    t.overwrite(orders.filter(col("o_orderstatus") === "F"))
    t.vacuum(retainHours = 0.0)
    t.read()
  }

  /** M11: deep CLONE reads back the source's exact content. */
  def deepClone(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir).filter(col("o_orderkey") % 3 === 0)
    val t = LakeTable.createFrom(spark, scratch("clonesrc"), orders)
    t.cloneTo(scratch("clonedst"), shallow = false).read()
  }

  /** §1.3 schema evolution: append with mergeSchema adds a column; earlier
    * rows read back with nulls in the new column. */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val half1 = orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val half2 = orders.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        upper(col("o_orderpriority")).as("priority_uc"))
    val t = LakeTable.createFrom(spark, scratch("evolve"), half1)
    t.append(half2, mergeSchema = true)
    t.read()
  }

  /** CONVERT-in-place (zero-copy migration): copy the source parquet file
    * into a scratch dir (standing in for "data already in the lake"),
    * convert WITHOUT rewriting, append one marker row through the now-ACID
    * table, and read back. */
  def convertInPlace(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Files.createTempDirectory("graft-convert").resolve("t")
    Files.createDirectories(dir)
    Files.copy(java.nio.file.Paths.get(s"$sfDir/orders.parquet"),
      dir.resolve("part-000.parquet"))
    val t = LakeTable.convert(spark, dir.toString)
    t.delete(col("o_orderkey") % 5 === 0)
    t.read()
  }

  /** Delta-log import gate (q110): hand-craft a real Delta `_delta_log`
    * (per the public protocol spec — newline-delimited JSON actions) over
    * three parquet slices of orders, with the log REMOVING the middle
    * slice; `LakeTable.convert` auto-detects the log and replays the LIVE
    * set in place (zero copy), footer-deriving stats for the stat-less
    * adds. Graft DML then runs on the imported table — proving the import
    * yields a full ACID table, not a read-only view. The oracle replays
    * the live subset minus the same delete. */
  /** Shared fixture machinery for the Delta-import gates (q110/q111):
    * slice writers and spec-shaped `_delta_log` JSON action lines. */
  private object DeltaFixture {
    private val m = {
      val x = new com.fasterxml.jackson.databind.ObjectMapper()
      x.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      x
    }
    private def j(v: Any): String = m.writeValueAsString(v)
    /** Write `df` as ONE parquet file `name` under `dir`. */
    def writeOne(dir: java.nio.file.Path, df: DataFrame, name: String): Unit = {
      val staging = Files.createTempDirectory("graft-delta-slice")
      df.coalesce(1)
        .write.mode("overwrite").parquet(staging.resolve("out").toString)
      val part = {
        val s = Files.list(staging.resolve("out"))
        try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get }
        finally s.close()
      }
      Files.move(part, dir.resolve(name))
      graft.log.TxLog.deleteRecursively(staging): Unit
    }
    /** Write `src WHERE key % mod = k` as ONE parquet file `name`. */
    def writeSlice(dir: java.nio.file.Path, src: DataFrame,
        name: String, mod: Int, k: Int): Unit =
      writeOne(dir, src.filter(col("o_orderkey") % mod === k), name)
    def add(dir: java.nio.file.Path, name: String,
        pv: Map[String, String] = Map.empty,
        dv: Map[String, Any] = null): String = j(Map("add" -> (Map(
      "path" -> name, "partitionValues" -> pv,
      "size" -> Files.size(dir.resolve(name)),
      "modificationTime" -> 1700000000000L, "dataChange" -> true) ++
      Option(dv).map("deletionVector" -> _).toMap)))
    def remove(name: String): String = j(Map("remove" -> Map("path" -> name,
      "deletionTimestamp" -> 1700000001000L, "dataChange" -> true)))
    def protocol: String =
      j(Map("protocol" -> Map("minReaderVersion" -> 1, "minWriterVersion" -> 2)))
    def protocolV(reader: Int, writer: Int): String = j(Map("protocol" ->
      Map("minReaderVersion" -> reader, "minWriterVersion" -> writer)))
    def protocolDv: String = j(Map("protocol" -> Map(
      "minReaderVersion" -> 3, "minWriterVersion" -> 7,
      "readerFeatures" -> Seq("deletionVectors"),
      "writerFeatures" -> Seq("deletionVectors"))))
    def metaData(id: String, schemaJson: String,
        pcols: Seq[String] = Nil,
        conf: Map[String, String] = Map.empty): String = j(Map("metaData" -> Map(
      "id" -> id,
      "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
      "schemaString" -> schemaJson,
      "partitionColumns" -> pcols, "configuration" -> conf,
      "createdTime" -> 1700000000000L)))
    def commit(dir: java.nio.file.Path, v: Long, lines: Seq[String]): Unit = {
      val logDir = dir.resolve("_delta_log")
      Files.createDirectories(logDir)
      Files.write(logDir.resolve(f"$v%020d.json"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8")): Unit
    }
  }

  def convertFromDelta(spark: SparkSession, sfDir: String): DataFrame = {
    import DeltaFixture._
    val orders = Tables.orders(spark, sfDir)
    val dir = Files.createTempDirectory("graft-delta-import").resolve("t")
    Files.createDirectories(dir)
    graft.core.Setup.overlap(spark)((0 to 2).map(k =>
      () => writeSlice(dir, orders, s"f$k.parquet", 3, k)): _*)
    commit(dir, 0, Seq(protocol,
      metaData("0a1b2c3d-0000-1111-2222-333344445555", orders.schema.json),
      add(dir, "f0.parquet"), add(dir, "f1.parquet")))
    commit(dir, 1, Seq(add(dir, "f2.parquet"), remove("f1.parquet")))
    val t = LakeTable.convert(spark, dir.toString) // auto-detects _delta_log
    t.delete(col("o_orderkey") % 7 === 0)
    t.read()
  }

  /** Delta deletion-vector import gate (q113): a Delta log whose live adds
    * carry LIVE deletion vectors in both spec storage layouts — a
    * file-backed `u` vector (z85-packed uuid under a random-prefix dir,
    * CRC-checked ranged read) masking `o_orderkey % 11 = 0` on the even
    * slice, and an inline `i` vector (z85-packed portable roaring) masking
    * `% 13 = 0` on the odd slice. `convert` transcodes them bitmap-to-
    * bitmap into graft masks (no purge needed), then graft DML deletes
    * `% 7 = 0` ON TOP — proving imported masks and the engine's own DV
    * merge compose. Masked row positions are derived from the written
    * files themselves (`_metadata.row_index` under the same predicate the
    * oracle uses), so the gate is deterministic. */
  def convertDeltaDv(spark: SparkSession, sfDir: String): DataFrame = {
    import DeltaFixture._
    val orders = Tables.orders(spark, sfDir)
    val dir = Files.createTempDirectory("graft-delta-dv").resolve("t")
    Files.createDirectories(dir)
    graft.core.Setup.overlap(spark)(
      () => writeSlice(dir, orders, "f0.parquet", 2, 0),
      () => writeSlice(dir, orders, "f1.parquet", 2, 1))
    def positions(name: String, mod: Int): Seq[Long] =
      spark.read.parquet(dir.resolve(name).toString)
        .withColumn("__idx", col("_metadata.row_index"))
        .filter(col("o_orderkey") % mod === 0)
        .select("__idx").collect().map(_.getLong(0)).toSeq
    val p0 = positions("f0.parquet", 11)
    val p1 = positions("f1.parquet", 13)
    val d0 = graft.log.DeltaDv.serializeArray(p0)
    val uuid = java.util.UUID.fromString("9f8e7d6c-5b4a-3920-1807-f6e5d4c3b2a1")
    val offs = graft.log.DeltaDv.writeDvFile(
      dir.resolve(s"ab/deletion_vector_$uuid.bin"), Seq(d0))
    val d1 = graft.log.DeltaDv.serializeArray(p1)
    commit(dir, 0, Seq(protocolDv,
      metaData("0a1b2c3d-0000-1111-2222-333344448888", orders.schema.json),
      add(dir, "f0.parquet", dv = Map(
        "storageType" -> "u",
        "pathOrInlineDv" -> graft.log.DeltaDv.packUuid(uuid, "ab"),
        "offset" -> offs.head, "sizeInBytes" -> d0.length,
        "cardinality" -> p0.size)),
      add(dir, "f1.parquet", dv = Map(
        "storageType" -> "i",
        "pathOrInlineDv" -> graft.log.DeltaDv.packInline(d1),
        "sizeInBytes" -> d1.length, "cardinality" -> p1.size))))
    val t = LakeTable.convert(spark, dir.toString)
    t.delete(col("o_orderkey") % 7 === 0)
    t.read()
  }

  /** Delta column-mapping import gate (q114): a `name`-mode Delta table —
    * every data file carries PHYSICAL column names (`col-1`…`col-9`) with
    * parquet field ids, the log's schema carries the logical names plus
    * `delta.columnMapping.{id,physicalName}` metadata. `convert`
    * translates the mapping onto graft's own by-field-id resolution
    * ([[graft.log.ColumnIds]]) after verifying every live footer actually
    * carries agreeing ids, then graft DML runs on the imported table. The
    * oracle replays with logical names — a pass proves physical columns
    * bound to the right logical ones. */
  def convertDeltaMapped(spark: SparkSession, sfDir: String): DataFrame = {
    import DeltaFixture._
    import org.apache.spark.sql.types.{MetadataBuilder, StructType}
    val orders = Tables.orders(spark, sfDir)
    val dir = Files.createTempDirectory("graft-delta-mapped").resolve("t")
    Files.createDirectories(dir)
    val fields = orders.schema.fields
    def phys(i: Int) = s"col-${i + 1}"
    def fid(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val physSelect = fields.zipWithIndex.map { case (f, i) =>
      col(f.name).as(phys(i), fid(i + 1L)) }.toIndexedSeq
    graft.core.Setup.overlap(spark)(
      () => writeOne(dir, orders.filter(col("o_orderkey") % 2 === 0)
        .select(physSelect: _*), "f0.parquet"),
      () => writeOne(dir, orders.filter(col("o_orderkey") % 2 === 1)
        .select(physSelect: _*), "f1.parquet"))
    val mappedSchema = StructType(fields.zipWithIndex.map { case (f, i) =>
      f.copy(metadata = new MetadataBuilder()
        .putLong("delta.columnMapping.id", i + 1L)
        .putString("delta.columnMapping.physicalName", phys(i)).build())
    })
    commit(dir, 0, Seq(protocolV(2, 5),
      metaData("0a1b2c3d-0000-1111-2222-333344449999", mappedSchema.json,
        conf = Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> fields.length.toString)),
      add(dir, "f0.parquet"), add(dir, "f1.parquet")))
    val t = LakeTable.convert(spark, dir.toString)
    t.delete(col("o_orderkey") % 9 === 0)
    t.read()
  }

  /** Iceberg import round-trip gate (q115): a graft table with deletion
    * vectors exports its Iceberg view ([[graft.table.Uniform]] — real Avro
    * manifests, position-delete parquet), the graft log is then DELETED
    * (what remains is a pure Iceberg HadoopTables layout), and
    * `LakeTable.convert` auto-detects `metadata/` and replays it back into
    * a graft table: live files zero-copy, position deletes transcoded into
    * graft masks, stats re-derived exactly from footers. Graft DML then
    * runs on the re-import. Export and import are independent codebases
    * over the PUBLIC Iceberg spec, so a hash-match here proves both. */
  def convertIceberg(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val dir = Files.createTempDirectory("graft-iceberg-import").resolve("t")
    val t = LakeTable.createFrom(spark, dir.toString, orders,
      properties = Map("graft.enableDeletionVectors" -> "true"))
    t.delete(col("o_orderkey") % 6 === 0) // masked via DVs, not rewritten
    t.generateIcebergMetadata()
    // sever the graft identity: a pure Iceberg table remains
    graft.log.TxLog.deleteRecursively(dir.resolve("_txlog"))
    val t2 = LakeTable.convert(spark, dir.toString)
    t2.delete(col("o_orderkey") % 11 === 3) // graft DML composes on import
    t2.read()
  }

  /** Hand-written Iceberg snapshot advancement — the stand-in for a
    * FOREIGN writer committing to the table after graft imported it.
    * Avro schemas are authored here (minimal spec shapes), independent of
    * graft's own exporter, so the sync is tested against the public spec
    * rather than against the engine's own output. */
  private object IcebergFixture {
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    private val listSchema = new org.apache.avro.Schema.Parser().parse("""{
      "type":"record","name":"manifest_file","fields":[
        {"name":"manifest_path","type":"string"},
        {"name":"manifest_length","type":"long"},
        {"name":"partition_spec_id","type":"int"},
        {"name":"content","type":"int"},
        {"name":"sequence_number","type":"long"},
        {"name":"min_sequence_number","type":"long"},
        {"name":"added_snapshot_id","type":"long"}]}""")
    private val entrySchema = new org.apache.avro.Schema.Parser().parse("""{
      "type":"record","name":"manifest_entry","fields":[
        {"name":"status","type":"int"},
        {"name":"data_file","type":{
          "type":"record","name":"r2","fields":[
            {"name":"content","type":"int"},
            {"name":"file_path","type":"string"},
            {"name":"file_format","type":"string"},
            {"name":"partition","type":{
              "type":"record","name":"r102","fields":[]}},
            {"name":"record_count","type":"long"},
            {"name":"file_size_in_bytes","type":"long"}]}}]}""")
    private def writeAvro(target: java.nio.file.Path,
        schema: org.apache.avro.Schema, rows: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, target.toFile)
      try rows.foreach(w.append) finally w.close()
    }
    /** Append ONE new snapshot adding `name` (already on disk under
      * `dir`): new manifest, new manifest list carrying every prior
      * manifest forward, new v<N+1>.metadata.json, hint swap. */
    def advance(dir: java.nio.file.Path, name: String, rows: Long): Unit = {
      val metaDir = dir.resolve("metadata")
      val plain = new com.fasterxml.jackson.databind.ObjectMapper()
      val hint = new String(Files.readAllBytes(
        metaDir.resolve("version-hint.text"))).trim.toLong
      val meta = plain.readValue(
        Files.readAllBytes(metaDir.resolve(s"v$hint.metadata.json")),
        classOf[java.util.Map[String, Object]])
      def num(o: Object) = o.asInstanceOf[java.lang.Number].longValue()
      import scala.jdk.CollectionConverters._
      val snaps = meta.get("snapshots")
        .asInstanceOf[java.util.List[java.util.Map[String, Object]]]
      val current = num(meta.get("current-snapshot-id"))
      val prevListPath = java.nio.file.Paths.get(graft.log.Stats.stripScheme(
        snaps.asScala.find(s => num(s.get("snapshot-id")) == current).get
          .get("manifest-list").toString))
      val prevRows = graft.table.Uniform.avroRecords(prevListPath)
      val seq = num(meta.get("last-sequence-number")) + 1
      // new manifest: one added data file, unpartitioned
      val mPath = metaDir.resolve(s"fx-m-$seq.avro")
      val dfs = entrySchema.getField("data_file").schema()
      val df = new GenericData.Record(dfs)
      df.put("content", 0)
      df.put("file_path", dir.resolve(name).toString)
      df.put("file_format", "PARQUET")
      df.put("partition",
        new GenericData.Record(dfs.getField("partition").schema()))
      df.put("record_count", rows)
      df.put("file_size_in_bytes", Files.size(dir.resolve(name)))
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("data_file", df)
      writeAvro(mPath, entrySchema, Seq(e))
      // new manifest list: every prior manifest forward + the new one
      val listPath = metaDir.resolve(s"fx-snap-$seq.avro")
      def listRow(path: String, content: Int): GenericRecord = {
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", path)
        r.put("manifest_length",
          Files.size(java.nio.file.Paths.get(graft.log.Stats.stripScheme(path))))
        r.put("partition_spec_id", 0)
        r.put("content", content)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", seq)
        r.put("added_snapshot_id", current + 1)
        r
      }
      writeAvro(listPath, listSchema,
        prevRows.map(m => listRow(m.get("manifest_path").toString,
          m.get("content").asInstanceOf[Int])) :+
          listRow(mPath.toString, 0))
      // new metadata json: sequence + snapshot advance, all else carried
      val newSnap = new java.util.HashMap[String, Object]()
      newSnap.put("snapshot-id", java.lang.Long.valueOf(current + 1))
      newSnap.put("timestamp-ms", java.lang.Long.valueOf(1700000009000L))
      newSnap.put("sequence-number", java.lang.Long.valueOf(seq))
      newSnap.put("schema-id", meta.get("current-schema-id"))
      newSnap.put("summary", new java.util.HashMap[String, Object]())
      newSnap.put("manifest-list", listPath.toString)
      snaps.add(newSnap)
      meta.put("last-sequence-number", java.lang.Long.valueOf(seq))
      meta.put("current-snapshot-id", java.lang.Long.valueOf(current + 1))
      Files.write(metaDir.resolve(s"v${hint + 1}.metadata.json"),
        plain.writeValueAsBytes(meta))
      Files.write(metaDir.resolve("version-hint.text"),
        (hint + 1).toString.getBytes("UTF-8")): Unit
    }
    /** A foreign writer's RENAME commit: a new metadata version whose
      * schema renames `from` -> `to` (same field id). Spec-faithfully,
      * the SEQUENCE does NOT advance — renames write metadata without a
      * new snapshot; the sync must key on the metadata version (r13). */
    def renameColumn(dir: java.nio.file.Path, from: String, to: String): Unit = {
      val metaDir = dir.resolve("metadata")
      val plain = new com.fasterxml.jackson.databind.ObjectMapper()
      val hint = new String(Files.readAllBytes(
        metaDir.resolve("version-hint.text"))).trim.toLong
      val meta = plain.readValue(
        Files.readAllBytes(metaDir.resolve(s"v$hint.metadata.json")),
        classOf[java.util.Map[String, Object]])
      import scala.jdk.CollectionConverters._
      meta.get("schemas")
        .asInstanceOf[java.util.List[java.util.Map[String, Object]]].asScala
        .foreach { s =>
          s.get("fields")
            .asInstanceOf[java.util.List[java.util.Map[String, Object]]].asScala
            .foreach { f =>
              if (f.get("name").toString == from) f.put("name", to): Unit
            }
        }
      Files.write(metaDir.resolve(s"v${hint + 1}.metadata.json"),
        plain.writeValueAsBytes(meta))
      Files.write(metaDir.resolve("version-hint.text"),
        (hint + 1).toString.getBytes("UTF-8")): Unit
    }
  }

  /** Iceberg continuous-migration gate (q116): the [[convertIceberg]]
    * round-trip shape — DV-masked even half exported, log severed,
    * imported — then the SOURCE keeps writing: a hand-crafted foreign
    * snapshot (spec-faithful Avro + metadata JSON, independent of the
    * exporter) appends the odd half, and [[graft.migrate.IcebergImport
    * .sync]] applies the net difference as one graft commit; a second
    * sync no-ops. Oracle: everything but the DV-masked `%6 = 0` keys. */
  def icebergSync(spark: SparkSession, sfDir: String): DataFrame = {
    import DeltaFixture.writeOne
    val orders = Tables.orders(spark, sfDir)
    val dir = Files.createTempDirectory("graft-iceberg-sync").resolve("t")
    val t = LakeTable.createFrom(spark, dir.toString,
      orders.filter(col("o_orderkey") % 2 === 0),
      properties = Map("graft.enableDeletionVectors" -> "true"))
    t.delete(col("o_orderkey") % 6 === 0) // %6=0 keys are all even
    t.generateIcebergMetadata()
    graft.log.TxLog.deleteRecursively(dir.resolve("_txlog"))
    LakeTable.convert(spark, dir.toString)
    // the foreign source appends the odd half — its file must carry field
    // ids agreeing with the schema (the sync's by-id binding gate)
    val fields = orders.schema.fields
    def fid(id: Long) = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val odd = orders.filter(col("o_orderkey") % 2 === 1)
      .select(fields.zipWithIndex.map { case (f, i) =>
        col(f.name).as(f.name, fid(i + 1L)) }.toIndexedSeq: _*)
    writeOne(dir, odd, "f-odd.parquet")
    IcebergFixture.advance(dir, "f-odd.parquet",
      IcebergForeign.rows(dir.resolve("f-odd.parquet")))
    graft.migrate.IcebergImport.sync(spark, dir.toString)
    graft.migrate.IcebergImport.sync(spark, dir.toString) // replay: no-op
    // the foreign writer RENAMES a non-partition column (r13): by-id
    // binding makes the rename followable — sync applies it as metadata
    IcebergFixture.renameColumn(dir, "o_orderpriority", "o_priority2")
    graft.migrate.IcebergImport.sync(spark, dir.toString)
    LakeTable.forPath(spark, dir.toString).read()
  }

  /** Hand-written FOREIGN Iceberg table builder for the rewrite-import
    * gates (q117/q118): spec-faithful Avro manifests + metadata JSON with
    * arbitrary partition transforms, per-manifest sequence numbers, and
    * equality-delete entries — shapes the engine's own exporter never
    * produces, so the gates test against the public spec. */
  private object IcebergForeign {
    import org.apache.avro.generic.{GenericData, GenericRecord}
    private val m = {
      val x = new com.fasterxml.jackson.databind.ObjectMapper()
      x.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      x
    }
    private def j(v: Any): String = m.writeValueAsString(v)
    val listSchema = new org.apache.avro.Schema.Parser().parse("""{
      "type":"record","name":"manifest_file","fields":[
        {"name":"manifest_path","type":"string"},
        {"name":"manifest_length","type":"long"},
        {"name":"partition_spec_id","type":"int"},
        {"name":"content","type":"int"},
        {"name":"sequence_number","type":"long"},
        {"name":"min_sequence_number","type":"long"},
        {"name":"added_snapshot_id","type":"long"}]}""")
    val entrySchema = new org.apache.avro.Schema.Parser().parse("""{
      "type":"record","name":"manifest_entry","fields":[
        {"name":"status","type":"int"},
        {"name":"data_file","type":{
          "type":"record","name":"r2","fields":[
            {"name":"content","type":"int"},
            {"name":"file_path","type":"string"},
            {"name":"file_format","type":"string"},
            {"name":"partition","type":{
              "type":"record","name":"r102","fields":[
                {"name":"p","type":["null","int"],"default":null}]}},
            {"name":"record_count","type":"long"},
            {"name":"file_size_in_bytes","type":"long"},
            {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}]}}]}""")
    def writeAvro(target: java.nio.file.Path,
        schema: org.apache.avro.Schema, rows: Seq[GenericRecord]): Unit = {
      import org.apache.avro.file.DataFileWriter
      import org.apache.avro.generic.GenericDatumWriter
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, target.toFile)
      try rows.foreach(w.append) finally w.close()
    }
    def entry(content: Int, path: java.nio.file.Path, count: Long,
        eqIds: Seq[Int] = Nil): GenericRecord = {
      import scala.jdk.CollectionConverters._
      val dfs = entrySchema.getField("data_file").schema()
      val d = new GenericData.Record(dfs)
      d.put("content", content)
      d.put("file_path", path.toString)
      d.put("file_format", "PARQUET")
      d.put("partition",
        new GenericData.Record(dfs.getField("partition").schema()))
      d.put("record_count", count)
      d.put("file_size_in_bytes", Files.size(path))
      if (eqIds.nonEmpty)
        d.put("equality_ids", eqIds.map(Integer.valueOf).asJava)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("data_file", d)
      e
    }
    /** One manifest file holding `entries`; returns its path. */
    def manifest(metaDir: java.nio.file.Path, name: String,
        entries: Seq[GenericRecord]): java.nio.file.Path = {
      val p = metaDir.resolve(name)
      writeAvro(p, entrySchema, entries)
      p
    }
    /** Publish metadata version `version` whose snapshot lists `manifests`
      * as (path, content, sequence, partition-spec id) — one foreign
      * writer commit. Spec 0 is the partitioned layout spec; spec 1 is the
      * UNPARTITIONED spec (the shape a global equality delete rides). */
    def publish(dir: java.nio.file.Path,
        fields: Seq[(Int, String, String)], // (id, name, iceberg type)
        specField: (String, String, Int), // (name, transform, source-id)
        manifests: Seq[(java.nio.file.Path, Int, Long, Int)],
        lastSeq: Long, version: Long = 1L): Unit = {
      val metaDir = dir.resolve("metadata")
      Files.createDirectories(metaDir)
      val listPath = metaDir.resolve(s"snap-${41 + version}.avro")
      writeAvro(listPath, listSchema, manifests.map {
        case (p, content, seq, specId) =>
          val r = new GenericData.Record(listSchema)
          r.put("manifest_path", p.toString)
          r.put("manifest_length", Files.size(p))
          r.put("partition_spec_id", specId)
          r.put("content", content)
          r.put("sequence_number", seq)
          r.put("min_sequence_number", seq)
          r.put("added_snapshot_id", 41L + version)
          r
      })
      Files.write(metaDir.resolve(s"v$version.metadata.json"), j(Map(
        "format-version" -> 2,
        "table-uuid" -> java.util.UUID.randomUUID().toString,
        "location" -> dir.toString,
        "last-sequence-number" -> lastSeq,
        "last-updated-ms" -> 1700000000000L,
        "last-column-id" -> fields.map(_._1).max,
        "current-schema-id" -> 0,
        "schemas" -> Seq(Map("type" -> "struct", "schema-id" -> 0,
          "fields" -> fields.map { case (id, n, t) =>
            Map("id" -> id, "name" -> n, "required" -> false, "type" -> t) })),
        "default-spec-id" -> 0,
        "partition-specs" -> Seq(
          Map("spec-id" -> 0, "fields" -> Seq(Map(
            "name" -> specField._1, "transform" -> specField._2,
            "source-id" -> specField._3, "field-id" -> 1000))),
          Map("spec-id" -> 1, "fields" -> Nil)),
        "last-partition-id" -> 1000, "default-sort-order-id" -> 0,
        "sort-orders" -> Seq(Map("order-id" -> 0, "fields" -> Nil)),
        "properties" -> Map.empty,
        "current-snapshot-id" -> (41 + version),
        "snapshots" -> Seq(Map(
          "snapshot-id" -> (41 + version), "timestamp-ms" -> 1700000000000L,
          "sequence-number" -> lastSeq, "schema-id" -> 0,
          "summary" -> Map("operation" -> "overwrite"),
          "manifest-list" -> listPath.toString)),
        "snapshot-log" -> Nil, "metadata-log" -> Nil))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.write(metaDir.resolve("version-hint.text"),
        version.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    }
    /** Orders columns as (id, name, iceberg type), ids 1..6. The testdata
      * o_orderdate is naive micros (reads as NTZ) — Iceberg `timestamp`,
      * not `timestamptz`. */
    val ordersFields: Seq[(Int, String, String)] = Seq(
      (1, "o_orderkey", "long"), (2, "o_custkey", "long"),
      (3, "o_orderstatus", "string"), (4, "o_totalprice", "double"),
      (5, "o_orderdate", "timestamp"), (6, "o_orderpriority", "string"))
    /** Row count of a just-written parquet file, from its footer — the
      * manifests need the exact record_count, and a driver-side footer
      * read is ~ms vs a full Spark count() job per slice (r14: q119 spent
      * ~0.6 s in four such counts; the footer count is the same number by
      * construction — it counts the file the manifest entry describes). */
    def rows(p: java.nio.file.Path): Long =
      graft.log.Stats.fromFooters(Seq(p),
        org.apache.spark.sql.types.StructType(Nil))(p.toString)._1
    /** Stamp parquet field ids 1..N onto `df`'s columns. */
    def withIds(df: DataFrame): DataFrame = {
      def fid(id: Long) = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", id).build()
      df.select(df.schema.fields.zipWithIndex.map { case (f, i) =>
        col(f.name).as(f.name, fid(i + 1L)) }.toIndexedSeq: _*)
    }
  }

  /** Iceberg rewrite-import gate (q117): a FOREIGN `days(o_orderdate)`-
    * partitioned table — the most common real-world Iceberg layout, which
    * the zero-copy import refuses (derived partition values cannot import
    * as layout columns) — rewrites into a native graft table in one scan,
    * with the layout carried over as a GENERATED `CAST(o_orderdate AS
    * DATE)` partition column, so day-pruning survives the migration. The
    * manifests reference only the %3∈{0,2} slices; a third on-disk file
    * outside the manifests must not leak in. */
  def icebergRewriteDays(spark: SparkSession, sfDir: String): DataFrame = {
    import DeltaFixture.writeOne
    import IcebergForeign._
    // month-floored order dates: the days() layout semantics are identical
    // but the gate writes ~84 day-partitions instead of ~2400 (the
    // partition COUNT is a fixture choice, not what the gate proves)
    val orders = Tables.orders(spark, sfDir)
      .withColumn("o_orderdate", date_trunc("month", col("o_orderdate")))
    val dir = Files.createTempDirectory("graft-iceberg-rewrite").resolve("t")
    Files.createDirectories(dir)
    def slice(k: Int) = orders.filter(col("o_orderkey") % 3 === k)
    graft.core.Setup.overlap(spark)((0 to 2).map(k =>
      () => writeOne(dir, withIds(slice(k)), s"f$k.parquet")): _*)
    val metaDir = dir.resolve("metadata")
    Files.createDirectories(metaDir)
    val mData = manifest(metaDir, "m-data.avro", Seq(
      entry(0, dir.resolve("f0.parquet"), rows(dir.resolve("f0.parquet"))),
      entry(0, dir.resolve("f2.parquet"), rows(dir.resolve("f2.parquet")))))
    publish(dir, ordersFields, ("od_day", "days", 5),
      Seq((mData, 0, 1L, 0)), lastSeq = 1L)
    val dest = Files.createTempDirectory("graft-iceberg-rewrite-dest")
      .resolve("t").toString
    graft.migrate.IcebergImport.convertRewrite(spark, dir.toString, dest)
      .read()
  }

  /** Iceberg equality-delete gate (q118): a `bucket(o_custkey)`-layout
    * foreign table where a Flink-CDC-shaped EQUALITY delete (keys, not
    * positions) at sequence 2 deletes every `%7 = 0` order key — which
    * must hit the even slice (sequence 1, strictly smaller) but NOT the
    * odd slice (sequence 3, written after the delete). The zero-copy
    * import refuses equality deletes; the rewrite applies them as a
    * sequence-gated anti-join. The generated bucket column is graft's own
    * hash layout (asserted in specs), dropped here so the oracle compares
    * pure data. */
  def icebergEqualityDelete(spark: SparkSession, sfDir: String): DataFrame = {
    import DeltaFixture.writeOne
    import IcebergForeign._
    val orders = Tables.orders(spark, sfDir)
    val dir = Files.createTempDirectory("graft-iceberg-eqdel").resolve("t")
    Files.createDirectories(dir)
    val even = orders.filter(col("o_orderkey") % 2 === 0)
    val odd = orders.filter(col("o_orderkey") % 2 === 1)
    val metaDir = dir.resolve("metadata")
    Files.createDirectories(metaDir)
    graft.core.Setup.overlap(spark)(
      () => writeOne(dir, withIds(even), "f-even.parquet"),
      () => writeOne(dir, withIds(odd), "f-odd.parquet"),
      // the equality-delete file: o_orderkey values (field id 1) to delete
      () => writeOne(metaDir, withIds(
        orders.filter(col("o_orderkey") % 7 === 0).select("o_orderkey")),
        "del-eq.parquet"))
    val mEven = manifest(metaDir, "m-even.avro",
      Seq(entry(0, dir.resolve("f-even.parquet"),
        rows(dir.resolve("f-even.parquet")))))
    val mOdd = manifest(metaDir, "m-odd.avro",
      Seq(entry(0, dir.resolve("f-odd.parquet"),
        rows(dir.resolve("f-odd.parquet")))))
    val mEq = manifest(metaDir, "m-eq.avro",
      Seq(entry(2, metaDir.resolve("del-eq.parquet"),
        rows(metaDir.resolve("del-eq.parquet")), eqIds = Seq(1))))
    // the equality delete rides the UNPARTITIONED spec (id 1): table-wide
    // scope, the real Flink-CDC global-delete shape
    publish(dir, ordersFields, ("ck_bucket", "bucket[8]", 2),
      Seq((mEven, 0, 1L, 0), (mEq, 1, 2L, 1), (mOdd, 0, 3L, 0)), lastSeq = 3L)
    val dest = Files.createTempDirectory("graft-iceberg-eqdel-dest")
      .resolve("t").toString
    graft.migrate.IcebergImport.convertRewrite(spark, dir.toString, dest)
      .read().drop("ck_bucket")
  }

  /** Iceberg rewrite-SYNC gate (q119): the convert-once/sync-on-a-cadence
    * story for exactly the layouts the in-place sync refuses. A foreign
    * `days(o_orderdate)` table (two even-key files) rewrite-imports with
    * `follow = true` — every row carrying source-file lineage — then the
    * foreign writer advances: one imported file vanishes (copy-on-write
    * delete), an equality delete at sequence 2 drops the `%5 = 0` keys,
    * and the odd slice appends at sequence 3. [[IcebergImport.syncRewrite]]
    * catches up: the vanished file's rows leave by lineage, the delete
    * hits only already-imported data (sequence 1 < 2 — the appended odd
    * slice at 3 keeps its `%5` keys), and the new file rewrite-appends
    * with the generated day keys recomputed. A second sync replays as a
    * no-op inside the gate. Lineage and the generated column drop from
    * the result so the oracle compares pure data. */
  def icebergRewriteSync(spark: SparkSession, sfDir: String): DataFrame = {
    import DeltaFixture.writeOne
    import IcebergForeign._
    val orders = Tables.orders(spark, sfDir)
      .withColumn("o_orderdate", date_trunc("year", col("o_orderdate")))
    val dir = Files.createTempDirectory("graft-iceberg-rwsync").resolve("t")
    Files.createDirectories(dir)
    val evenA = orders.filter(col("o_orderkey") % 4 === 0)
    val evenB = orders.filter(col("o_orderkey") % 4 === 2)
    val odd = orders.filter(col("o_orderkey") % 2 === 1)
    graft.core.Setup.overlap(spark)(
      () => writeOne(dir, withIds(evenA), "f-even-a.parquet"),
      () => writeOne(dir, withIds(evenB), "f-even-b.parquet"))
    val metaDir = dir.resolve("metadata")
    Files.createDirectories(metaDir)
    val mA = manifest(metaDir, "m-even-a.avro",
      Seq(entry(0, dir.resolve("f-even-a.parquet"),
        rows(dir.resolve("f-even-a.parquet")))))
    val mB = manifest(metaDir, "m-even-b.avro",
      Seq(entry(0, dir.resolve("f-even-b.parquet"),
        rows(dir.resolve("f-even-b.parquet")))))
    publish(dir, ordersFields, ("od_day", "days", 5),
      Seq((mA, 0, 1L, 0), (mB, 0, 1L, 0)), lastSeq = 1L)
    val dest = Files.createTempDirectory("graft-iceberg-rwsync-dest")
      .resolve("t").toString
    graft.migrate.IcebergImport.convertRewrite(spark, dir.toString, dest,
      follow = true)
    // the foreign writer advances: f-even-b vanishes, the %5 equality
    // delete lands at seq 2 (unpartitioned spec — table-wide), the odd
    // slice appends at seq 3
    val delKeys = orders.filter(col("o_orderkey") % 5 === 0)
      .select("o_orderkey")
    graft.core.Setup.overlap(spark)(
      () => writeOne(dir, withIds(odd), "f-odd.parquet"),
      () => writeOne(metaDir, withIds(delKeys), "del-eq.parquet"))
    val mOdd = manifest(metaDir, "m-odd.avro",
      Seq(entry(0, dir.resolve("f-odd.parquet"),
        rows(dir.resolve("f-odd.parquet")))))
    val mEq = manifest(metaDir, "m-eq.avro",
      Seq(entry(2, metaDir.resolve("del-eq.parquet"),
        rows(metaDir.resolve("del-eq.parquet")), eqIds = Seq(1))))
    publish(dir, ordersFields, ("od_day", "days", 5),
      Seq((mA, 0, 1L, 0), (mEq, 1, 2L, 1), (mOdd, 0, 3L, 0)),
      lastSeq = 3L, version = 2L)
    graft.migrate.IcebergImport.syncRewrite(spark, dir.toString, dest)
    graft.migrate.IcebergImport.syncRewrite(spark, dir.toString, dest) // no-op
    LakeTable.forPath(spark, dest).read()
      .drop("od_day", "_src_file", "_src_pos", "_src_seq")
  }

  /** Mirror-streaming gate (q121): the convert/sync story ending at a
    * RUNNING streaming consumer (r13 verdict task 6). A Delta source
    * converts in place, a `followMirror` graft stream drains its snapshot
    * into a downstream graft table, the source then swaps a file (remove +
    * add — the commit shape that fails a plain stream), [[DeltaImport
    * .sync]] catches up, and the SAME checkpointed stream drains again:
    * the sync's net-new file arrives exactly once, the removed file's
    * already-delivered rows stay (append-stream semantics — no
    * retraction), nothing re-emits. Result: slices {0,1} from the initial
    * snapshot plus slice {2} from the sync. */
  def streamMirror(spark: SparkSession, sfDir: String): DataFrame = {
    import DeltaFixture._
    val orders = Tables.orders(spark, sfDir)
    val src = Files.createTempDirectory("graft-q121").resolve("t")
    Files.createDirectories(src)
    graft.core.Setup.overlap(spark)((0 to 2).map(k =>
      () => writeSlice(src, orders, s"f$k.parquet", 6, k)): _*)
    commit(src, 0, Seq(protocol,
      metaData("0a1b2c3d-0000-1111-2222-33334444aaaa", orders.schema.json),
      add(src, "f0.parquet"), add(src, "f1.parquet")))
    LakeTable.convert(spark, src.toString)
    val out = Files.createTempDirectory("graft-q121-out").resolve("t").toString
    val ckpt = Files.createTempDirectory("graft-q121-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("followMirror", "true").load(src.toString)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out)
      q.awaitTermination()
    }
    drain() // initial snapshot: slices {0, 1}
    // the source swaps f1 for f2 — a remove + add sync commit
    commit(src, 1, Seq(add(src, "f2.parquet"), remove("f1.parquet")))
    graft.migrate.DeltaImport.sync(spark, src.toString)
    drain() // the sync's net-new file arrives; no retraction, no re-emit
    LakeTable.forPath(spark, out).read()
  }

  /** Delta continuous-migration gate (q111): import at Delta v1, then the
    * source keeps writing (v2 swaps a slice), and [[DeltaImport.sync]]
    * catches up as one net graft commit — convert once, sync on a cadence,
    * cut over when ready. A second sync replays as a no-op inside the
    * gate itself. Live set after sync: %6 slices {2,3,4}. */
  def deltaSync(spark: SparkSession, sfDir: String): DataFrame = {
    import DeltaFixture._
    val orders = Tables.orders(spark, sfDir)
    val dir = Files.createTempDirectory("graft-delta-sync").resolve("t")
    Files.createDirectories(dir)
    graft.core.Setup.overlap(spark)((0 to 4).map(k =>
      () => writeSlice(dir, orders, s"f$k.parquet", 6, k)): _*)
    commit(dir, 0, Seq(protocol,
      metaData("0a1b2c3d-0000-1111-2222-333344446666", orders.schema.json),
      add(dir, "f0.parquet"), add(dir, "f1.parquet"), add(dir, "f2.parquet")))
    commit(dir, 1, Seq(add(dir, "f3.parquet"), remove("f1.parquet")))
    LakeTable.convert(spark, dir.toString) // consumes v0..v1
    // the source keeps writing: v2 swaps f0 for f4
    commit(dir, 2, Seq(add(dir, "f4.parquet"), remove("f0.parquet")))
    graft.migrate.DeltaImport.sync(spark, dir.toString)
    graft.migrate.DeltaImport.sync(spark, dir.toString) // replay: no-op
    LakeTable.forPath(spark, dir.toString).read()
  }

  /** Partitioned-Delta rewrite-import gate (q112): a status-PARTITIONED
    * Delta source whose data files carry no partition column (the Delta
    * layout — values live only in the log); the in-place convert refuses
    * it, and [[graft.migrate.DeltaImport.convertRewrite]] re-injects the
    * values from the log in one scan + broadcast file→tuple join, writing
    * a natively partitioned graft table. The oracle replays the live
    * slices — a pass proves the values round-tripped exactly. */
  def deltaRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    import DeltaFixture._
    val orders = Tables.orders(spark, sfDir)
    val src = Files.createTempDirectory("graft-delta-rewrite").resolve("src")
    Files.createDirectories(src)
    def writeStatus(name: String, status: String): Unit = writeOne(src,
      orders.filter(col("o_orderstatus") === status).drop("o_orderstatus"), name)
    graft.core.Setup.overlap(spark)(
      () => writeStatus("fO.parquet", "O"),
      () => writeStatus("fF.parquet", "F"),
      () => writeStatus("fP.parquet", "P"))
    commit(src, 0, Seq(protocol,
      metaData("0a1b2c3d-0000-1111-2222-333344447777", orders.schema.json,
        pcols = Seq("o_orderstatus")),
      add(src, "fO.parquet", Map("o_orderstatus" -> "O")),
      add(src, "fF.parquet", Map("o_orderstatus" -> "F"))))
    commit(src, 1, Seq(
      add(src, "fP.parquet", Map("o_orderstatus" -> "P")),
      remove("fF.parquet")))
    val dest = Files.createTempDirectory("graft-delta-rewrite-dest")
      .resolve("t").toString
    graft.migrate.DeltaImport.convertRewrite(spark, src.toString, dest).read()
  }

  /** Partitioned-Delta rewrite-SYNC gate (q120): the convert/sync/cut-over
    * story for the partitioned Delta sources the in-place sync refuses.
    * A status-partitioned source rewrite-imports with `follow = true`
    * (row lineage; partition values re-injected from the log), then the
    * source advances: the F partition's file is removed, a P file is
    * added, and a Delta DELETE re-adds the O file with a deletion vector
    * masking its `%11 = 0` keys. [[DeltaImport.syncRewrite]] catches up —
    * removed rows leave by lineage, the DV-changed file re-imports under
    * its current vector — and a second sync replays as a no-op. Lineage
    * drops from the result so the oracle compares pure data. */
  def deltaRewriteSync(spark: SparkSession, sfDir: String): DataFrame = {
    import DeltaFixture._
    val orders = Tables.orders(spark, sfDir)
    val src = Files.createTempDirectory("graft-delta-rwsync").resolve("src")
    Files.createDirectories(src)
    def writeStatus(name: String, status: String): Unit = writeOne(src,
      orders.filter(col("o_orderstatus") === status).drop("o_orderstatus"), name)
    graft.core.Setup.overlap(spark)(
      () => writeStatus("fO.parquet", "O"),
      () => writeStatus("fF.parquet", "F"))
    commit(src, 0, Seq(protocolDv,
      metaData("0a1b2c3d-0000-1111-2222-333344449999", orders.schema.json,
        pcols = Seq("o_orderstatus")),
      add(src, "fO.parquet", Map("o_orderstatus" -> "O")),
      add(src, "fF.parquet", Map("o_orderstatus" -> "F"))))
    val dest = Files.createTempDirectory("graft-delta-rwsync-dest")
      .resolve("t").toString
    graft.migrate.DeltaImport.convertRewrite(spark, src.toString, dest,
      follow = true)
    // the source advances: F's file removed, P added, and a Delta DELETE
    // re-adds fO with a vector masking the %11 keys (positions resolved
    // against the file's physical row order)
    writeStatus("fP.parquet", "P")
    val maskPos = spark.read.parquet(src.resolve("fO.parquet").toString)
      .withColumn("__idx", col("_metadata.row_index"))
      .filter(col("o_orderkey") % 11 === 0)
      .select("__idx").collect().map(_.getLong(0)).toSeq
    val dvData = graft.log.DeltaDv.serializeArray(maskPos)
    commit(src, 1, Seq(
      add(src, "fP.parquet", Map("o_orderstatus" -> "P")),
      remove("fF.parquet"),
      add(src, "fO.parquet", Map("o_orderstatus" -> "O"), dv = Map(
        "storageType" -> "i",
        "pathOrInlineDv" -> graft.log.DeltaDv.packInline(dvData),
        "sizeInBytes" -> dvData.length, "cardinality" -> maskPos.size))))
    graft.migrate.DeltaImport.syncRewrite(spark, src.toString, dest)
    graft.migrate.DeltaImport.syncRewrite(spark, src.toString, dest) // no-op
    LakeTable.forPath(spark, dest).read().drop("_src_file", "_src_pos")
  }

  /** COPY INTO idempotence: two incremental loads plus a full re-run
    * (no-op); a double-load of the first batch would duplicate the even
    * keys and fail the row/hash gate. */
  def copyIntoIdempotent(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val src = Files.createTempDirectory("graft-copy-src").toString
    orders.filter(col("o_orderkey") % 2 === 0).write.parquet(s"$src/batch1")
    val t = LakeTable.create(spark, scratch("copyinto"), orders.schema)
    t.copyInto(s"$src/*")
    orders.filter(col("o_orderkey") % 2 =!= 0).write.parquet(s"$src/batch2")
    t.copyInto(s"$src/*") // batch1's files are in the ledger: only batch2 loads
    t.copyInto(s"$src/*") // full re-run: no-op
    t.read()
  }

  /** Session-catalog round trip through pure SQL — the reference's primary
    * UX (3-level `saveAsTable`/`spark.table`,
    * notebooks/01_bronze_ingestion.py:176-182, migrate_from_hdfs.py:53-54):
    * register the V2 catalog, CTAS half the orders table, INSERT INTO the
    * other half, read the result back through `spark.table`. */
  def catalogSql(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = Files.createTempDirectory("graft-cat-wh").toString
    spark.conf.set("spark.sql.catalog.gq67", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gq67.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gq67.bronze")
    // catalog instances are cached per session — a rerun may resolve an
    // older warehouse, so recreate the table rather than assume absence
    spark.sql("DROP TABLE IF EXISTS gq67.bronze.orders")
    Tables.orders(spark, sfDir).createOrReplaceTempView("q67_src")
    spark.sql("""CREATE TABLE gq67.bronze.orders USING graft AS
      SELECT * FROM q67_src WHERE o_orderkey % 2 = 0""")
    spark.sql("""INSERT INTO gq67.bronze.orders
      SELECT * FROM q67_src WHERE o_orderkey % 2 <> 0""")
    spark.table("gq67.bronze.orders")
  }

  /** Native SQL MERGE on a catalog table (q74): the full clause surface —
    * conditional matched update, matched delete, insert-star, and
    * not-matched-by-source delete — through PLAIN `spark.sql` with user
    * aliases; `GraftDmlRule` (installed by the session extension) converts
    * the analyzed plan into the engine's two-phase merge. Distinct
    * transformation from q59 so both SQL routes stay independently gated. */
  def nativeSqlMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = Files.createTempDirectory("graft-q74-wh").toString
    spark.conf.set("spark.sql.catalog.gq74", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gq74.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gq74.silver")
    spark.sql("DROP TABLE IF EXISTS gq74.silver.orders")
    Tables.orders(spark, sfDir).createOrReplaceTempView("q74_orders")
    spark.sql("""CREATE TABLE gq74.silver.orders USING graft AS
      SELECT * FROM q74_orders WHERE o_orderkey % 3 <> 0""")
    spark.sql("""CREATE OR REPLACE TEMP VIEW q74_src AS
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice + 500.0 AS o_totalprice, o_orderdate, o_orderpriority
      FROM q74_orders WHERE o_orderkey % 2 = 0""")
    spark.sql("""MERGE INTO gq74.silver.orders AS t USING q74_src AS s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.o_orderstatus = 'F' THEN
        UPDATE SET o_totalprice = s.o_totalprice, o_orderpriority = '2-HIGH'
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.o_totalprice < 100000.0 THEN DELETE""")
    spark.table("gq74.silver.orders")
  }

  /** Streaming write through the session catalog — the reference's exact
    * spelling `.writeStream.format(...).toTable(name)`
    * (src/data_processor.py:191-197, notebooks/01_bronze_ingestion.py:223-229):
    * a graft source table is drained into a catalog table with
    * Trigger.AvailableNow twice (snapshot, then an appended commit), same
    * checkpoint — auto-create on first run, exactly-once across runs via
    * the (queryId, epoch) ledger, V1-fallback sink under the V2 table. */
  def streamToTable(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = Files.createTempDirectory("graft-q72-wh").toString
    spark.conf.set("spark.sql.catalog.gq72", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gq72.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gq72.silver")
    spark.sql("DROP TABLE IF EXISTS gq72.silver.orders")
    val orders = Tables.orders(spark, sfDir)
    val srcDir = scratch("q72src")
    val src = LakeTable.createFrom(spark, srcDir,
      orders.filter(col("o_orderkey") % 2 === 0))
    val ckpt = scratch("q72ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(srcDir)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("gq72.silver.orders")
      q.awaitTermination()
    }
    drain()
    src.append(orders.filter(col("o_orderkey") % 2 =!= 0))
    drain()
    spark.table("gq72.silver.orders")
  }

  /** Streaming dedup-at-ingest (q79): a pre-ingested corpus contributes
    * ONLY its fingerprint index; four id-range document files then stream
    * in (maxFilesPerTrigger = 1 → four sequential micro-batches, arrival
    * = id order since FileStreamSource drains oldest-mtime first and the
    * ranges are written in id order), each batch dropping docs whose text
    * the index already holds and appending survivors + their fingerprints
    * for the NEXT batch to see. Under ordered arrival first-arrival-wins
    * equals lowest-id-wins, so the final corpus table is exactly the
    * one-shot incrementalExact result — which the oracle replays. */
  def streamDedupIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.StreamIngest
    val docs = Tables.documents(spark, sfDir)
    val pre = docs.filter(col("doc_id") % 10 < 5)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val corpus = LakeTable.create(spark, scratch("q79corpus"), docs.schema)
    val srcDir = Files.createTempDirectory("graft-q79-src").toString
    // The fingerprint-index build and the arrival-range fixture writes are
    // independent jobs (disjoint outputs, both pure functions of the input
    // scan) — overlap them (§2.6). The RANGE writes keep their internal
    // sequence inside one thunk: arrival order is an ordering contract
    // (explicit mtime stamps, oldest-first drain).
    var index: LakeTable = null
    graft.core.Setup.overlap(spark)(
      () => { index = LakeTable.createFrom(spark, scratch("q79index"),
        graft.dedup.Dedup.fingerprints(pre)) },
      () => {
        val maxId = batch.agg(max("doc_id")).head.getLong(0)
        val step = maxId / 4 + 1
        // Arrival order must be id order: FileStreamSource drains oldest-mtime
        // first, and two range files landing in the same filesystem timestamp
        // tick could reorder arrival (breaking first-arrival-wins ==
        // lowest-id-wins). Stamp each range's files with explicitly increasing
        // mtimes instead of relying on sequential-write separation.
        val seen = scala.collection.mutable.Set.empty[java.nio.file.Path]
        val mtimeBase = System.currentTimeMillis() - 60000L
        (0 until 4).foreach { i =>
          batch.filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)
            .coalesce(1).write.mode("append").parquet(srcDir)
          val ls = Files.list(java.nio.file.Paths.get(srcDir))
          try {
            import scala.jdk.CollectionConverters._
            ls.iterator().asScala
              .filter(p => p.getFileName.toString.endsWith(".parquet") && seen.add(p))
              .foreach(p => Files.setLastModifiedTime(p,
                java.nio.file.attribute.FileTime.fromMillis(mtimeBase + i * 1000L)))
          } finally ls.close()
        }
      })
    val cfg = StreamIngest.StreamConfig(format = "parquet",
      maxFilesPerTrigger = 1,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val q = StreamIngest.startDedupIngest(
      StreamIngest.fileSource(spark, srcDir, docs.schema, cfg),
      corpus, index, scratch("q79ckpt"), config = cfg)
    try require(q.awaitTermination(300000), "stream did not drain")
    finally if (q.isActive) q.stop()
    corpus.read().orderBy("doc_id")
  }

  /** Streamed-corpus BM25 retrieval gate (q109): the steady-state lexical
    * search pipeline end-to-end — a seed corpus builds the persisted BM25
    * index, the rest of the corpus STREAMS in through
    * [[graft.streaming.StreamIngest.startBm25Ingest]] (multiple epochs,
    * each one atomic postings+stats commit under the (txnAppId, epochId)
    * ledger), and search probes the index. The oracle replays Okapi over
    * the logical union corpus — identical to q103's direct scan, so a pass
    * proves the streamed index IS the corpus: no lost batch, no double
    * stats, no torn postings anywhere in the lifecycle. */
  def streamBm25Ingest(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.StreamIngest
    val docs = Tables.documents(spark, sfDir)
    val seed = docs.filter(col("doc_id") % 50 =!= 0 && col("doc_id") % 5 === 0)
    val streamed = docs.filter(col("doc_id") % 50 =!= 0 && col("doc_id") % 5 =!= 0)
    val srcDir = Files.createTempDirectory("graft-q109-src").toString
    // Corpus seed table, seed index build and the streamed-batch fixture
    // writes are independent jobs (disjoint outputs, all pure functions of
    // the input scan) — overlap them (§2.6). The three same-dir appends
    // keep their internal sequence inside one thunk (concurrent appends to
    // one parquet dir race on the output committer); batch ARRIVAL order is
    // semantically free — the index is an order-independent union and the
    // (txnAppId, epochId) ledger keys on epoch, not content.
    var corpus: LakeTable = null
    var index: LakeTable = null
    graft.core.Setup.overlap(spark)(
      () => { corpus = LakeTable.createFrom(spark, scratch("q109corpus"), seed) },
      () => { index = graft.text.TextAnalysis.buildBm25Index(
        spark, scratch("q109index"), seed, buckets = 16) },
      () => (0 until 3).foreach { i =>
        streamed.filter(col("doc_id") % 3 === i)
          .coalesce(1).write.mode("append").parquet(srcDir)
      })
    val cfg = StreamIngest.StreamConfig(format = "parquet",
      maxFilesPerTrigger = 1,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val q = StreamIngest.startBm25Ingest(
      StreamIngest.fileSource(spark, srcDir, docs.schema, cfg),
      corpus, index, scratch("q109ckpt"), config = cfg)
    try require(q.awaitTermination(300000), "stream did not drain")
    finally if (q.isActive) q.stop()
    graft.text.TextAnalysis.bm25SearchIndex(index,
      docs.filter(col("doc_id") % 50 === 0), k = 5)
  }

  val oracles: Map[String, String] = Map(
    // the streamed index must answer EXACTLY like q103's direct scan over
    // the same logical corpus (seed ∪ streamed batches = doc_id % 50 <> 0)
    "q109_stream_bm25" -> {
      val toks = DataOps.toks
      s"""WITH c AS (SELECT doc_id, $toks AS tk FROM documents WHERE doc_id % 50 <> 0),
         qdocs AS (SELECT doc_id AS query_id, list_distinct($toks) AS qt
           FROM documents WHERE doc_id % 50 = 0),
         dt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
           SELECT doc_id, unnest(tk) AS term FROM c) GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS len FROM c),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(len(tk)) AS BIGINT) AS total FROM c),
         dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1),
         qe AS (SELECT query_id, unnest(qt) AS term FROM qdocs),
         ms AS (SELECT qe.query_id, dt.doc_id,
             CAST(FLOOR(
               ln((st.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1) *
               ((dt.tf * (1.2 + 1)) /
                (dt.tf + 1.2 * (0.25 + 0.75 * dl.len / (CAST(st.total AS DOUBLE) / st.n))))
               * 1000000 + 0.5) AS BIGINT) AS micro
           FROM qe JOIN dt USING (term) JOIN dfr USING (term)
           JOIN dl ON dl.doc_id = dt.doc_id CROSS JOIN st),
         sc AS (SELECT query_id, doc_id,
             ROUND(SUM(micro) / 1000000.0, 6) AS score FROM ms GROUP BY 1, 2),
         rk AS (SELECT *, CAST(ROW_NUMBER() OVER
             (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
           FROM sc)
         SELECT query_id, doc_id, score, rank FROM rk WHERE rank <= 5"""
    },
    "q79_stream_dedup_ingest" ->
      """WITH batch AS (SELECT * FROM documents WHERE doc_id % 3 = 0)
         SELECT doc_id, text, lang, source, n_chars FROM batch b
         WHERE NOT EXISTS (SELECT 1 FROM documents c
             WHERE c.doc_id % 10 < 5 AND c.text = b.text)
           AND b.doc_id = (SELECT min(d.doc_id) FROM batch d WHERE d.text = b.text)
         ORDER BY doc_id""",
    "q74_native_sql_merge" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 500.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate,
           CASE WHEN o_orderkey % 3 <> 0 AND o_orderkey % 2 = 0
                     AND o_orderstatus = 'F' THEN '2-HIGH'
                ELSE o_orderpriority END AS o_orderpriority
         FROM orders
         WHERE (o_orderkey % 3 <> 0 AND o_orderkey % 2 = 0 AND o_orderstatus = 'F')
            OR (o_orderkey % 3 = 0 AND o_orderkey % 2 = 0)
            OR (o_orderkey % 3 <> 0 AND o_orderkey % 2 <> 0
                AND o_totalprice >= 100000.0)""",
    "q72_stream_to_table" ->
      "SELECT * FROM orders",
    "q67_catalog_sql" ->
      "SELECT * FROM orders",
    "q62_copy_into" ->
      "SELECT * FROM orders",
    "q49_convert" ->
      "SELECT * FROM orders WHERE o_orderkey % 5 <> 0",
    // live set = slices 0 and 2 (the log removed slice 1), then the DELETE
    "q110_convert_delta" ->
      "SELECT * FROM orders WHERE o_orderkey % 3 <> 1 AND o_orderkey % 7 <> 0",
    // after the synced v2 swap the live %6 slices are {2, 3, 4}
    "q111_delta_sync" ->
      "SELECT * FROM orders WHERE o_orderkey % 6 IN (2, 3, 4)",
    // live partitions after the remove: statuses O and P (F dropped)
    "q112_delta_rewrite" ->
      "SELECT * FROM orders WHERE o_orderstatus IN ('O', 'P')",
    // imported DVs mask %11 on the even slice and %13 on the odd slice;
    // graft DML then deletes %7 on top
    "q113_delta_dv" ->
      """SELECT * FROM orders
         WHERE NOT (o_orderkey % 2 = 0 AND o_orderkey % 11 = 0)
           AND NOT (o_orderkey % 2 = 1 AND o_orderkey % 13 = 0)
           AND o_orderkey % 7 <> 0""",
    // physical col-N columns bind to logical names by field id; graft DML
    // then deletes %9
    "q114_delta_mapped" ->
      "SELECT * FROM orders WHERE o_orderkey % 9 <> 0",
    // DV-masked %6 rows survive the Iceberg round trip as position
    // deletes -> re-imported masks; graft DML then deletes %11=3 on top
    "q115_iceberg_import" ->
      """SELECT * FROM orders
         WHERE o_orderkey % 6 <> 0 AND o_orderkey % 11 <> 3""",
    // even half imported with %6=0 masked (all such keys are even), the
    // foreign source appends the odd half and sync catches up, then a
    // foreign RENAME of o_orderpriority follows by field id (r13)
    "q116_iceberg_sync" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority AS o_priority2
         FROM orders WHERE o_orderkey % 6 <> 0""",
    // manifests reference only the %3 in {0,2} slices; the days layout
    // becomes a generated CAST(o_orderdate AS DATE) partition column
    // (fixture floors dates to months to keep the partition count sane)
    "q117_iceberg_rewrite" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         DATE_TRUNC('month', o_orderdate) AS o_orderdate, o_orderpriority,
         CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS od_day
         FROM orders WHERE o_orderkey % 3 <> 1""",
    // the seq-2 equality delete (%7=0 keys) hits the seq-1 even slice but
    // NOT the seq-3 odd slice (strictly-smaller sequence rule)
    "q118_iceberg_eqdelete" ->
      """SELECT * FROM orders
         WHERE NOT (o_orderkey % 2 = 0 AND o_orderkey % 7 = 0)""",
    // after the rewrite-sync: the %4=0 file keeps its non-%5 keys (the
    // seq-2 delete hits imported seq-1 data), the %4=2 file's rows left
    // with it, and the seq-3 odd slice arrived intact (%5 keys included —
    // strictly-smaller sequence rule). Dates floor to YEARS: the fixture
    // files span every partition (a shape a real partition-bound Iceberg
    // writer never produces), so the partition count is a fixture cost
    // knob, not what the gate proves — the q117 precedent
    "q119_iceberg_rewrite_sync" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         DATE_TRUNC('year', o_orderdate) AS o_orderdate, o_orderpriority
         FROM orders
         WHERE (o_orderkey % 4 = 0 AND o_orderkey % 5 <> 0)
            OR o_orderkey % 2 = 1""",
    // after the rewrite-sync: O keeps its non-%11 keys (the DV re-add
    // re-imported the file under its current vector), F's rows left with
    // its file, P arrived whole
    "q120_delta_rewrite_sync" ->
      """SELECT * FROM orders
         WHERE (o_orderstatus = 'O' AND o_orderkey % 11 <> 0)
            OR o_orderstatus = 'P'""",
    // the followMirror stream delivered slices {0,1} (initial snapshot)
    // + {2} (the sync's net-new file); the removed file's rows stay
    // (append-stream semantics, no retraction), nothing re-emitted
    "q121_stream_mirror" ->
      "SELECT * FROM orders WHERE o_orderkey % 6 IN (0, 1, 2)",
    "q34_describe_history" ->
      """SELECT * FROM (VALUES
           (CAST(0 AS BIGINT), 'CREATE TABLE', CAST(-1 AS BIGINT), false),
           (1, 'WRITE', 0, true), (2, 'UPDATE', 1, false),
           (3, 'DELETE', 2, false), (4, 'RESTORE', 3, false))
         AS t(version, operation, "readVersion", "isBlindAppend")""",
    "q35_describe_detail" ->
      """SELECT 'graft' AS format, 't' AS name, '["o_orderstatus"]' AS partition_columns""",
    "q36_vacuum" ->
      "SELECT * FROM orders WHERE o_orderstatus = 'F'",
    "q37_deep_clone" ->
      "SELECT * FROM orders WHERE o_orderkey % 3 = 0",
    "q38_schema_evolution" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE upper(o_orderpriority) END AS priority_uc
         FROM orders""")
}
