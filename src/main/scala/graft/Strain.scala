package graft
import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.table.LakeTable

/** Scale strain harness: the BENCH ops shapes at an arbitrary row count
  * (STRAIN_ROWS, default 5M; the round-6 evidence run uses 100M = 10× the
  * bench strain) — write, full-scan agg, rewrite-mode MERGE, DV MERGE,
  * REORG APPLY (PURGE). The point is not the absolute numbers but their
  * SHAPE vs the 10M run: linear wall growth, flat per-row cost, a driver
  * whose file lists grow with #files only, and no OOM at 10× — the local
  * stand-in for the 1000-executor claim. */
object Strain {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(32, "strain")
    spark.sparkContext.setLogLevel("ERROR")
    def timed[A](label: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[strain] $label%-28s ${s}%8.2f s"); (a, s)
    }
    val n = sys.env.getOrElse("STRAIN_ROWS", "5000000").toLong
    val gen = spark.range(n)
      .withColumn("user_id", concat(lit("user_"), col("id") % 100000))
      .withColumn("amount", (col("id") % 1000).cast("decimal(18,2)"))
      .withColumn("day", date_add(lit(java.sql.Date.valueOf("2024-01-01")), (col("id") % 30).cast("int")))
    val dir = Files.createTempDirectory("strain").resolve("t").toString
    // row tracking ON: the write path pays the id-assignment arithmetic
    // (driver-side, O(#files)) and the resolution leg below proves the
    // broadcast-map claim at strain scale
    val t = LakeTable.create(spark, dir, gen.schema,
      properties = Map("graft.enableRowTracking" -> "true"))
    val (_, wSec) = timed(s"write $n rows")(t.append(gen))
    println(f"[strain] write_rows_per_sec=${n / wSec}%.0f files=${t.snapshot().numFiles}")
    timed("full read agg")(t.read().agg(sum("amount")).collect())
    // row-id resolution at scale: ids resolve via ONE broadcast of the
    // per-file base map (O(#files) driver bytes) — the scan itself never
    // shuffles; distinct-count forces every id to materialize
    val (rids, ridSec) = timed(s"withRowIds distinct over $n")(
      t.withRowIds().agg(countDistinct("_row_id")).collect()(0).getLong(0))
    require(rids == n, s"row-id resolution lost rows: $rids of $n")
    println(f"[strain] rowid_resolve_rows_per_sec=${n / ridSec}%.0f")

    def src(tag: String) = spark.range(0, n, 10)
      .withColumn("user_id", concat(lit(tag), col("id")))
      .withColumn("amount", lit(java.math.BigDecimal.valueOf(1)).cast("decimal(18,2)"))
      .withColumn("day", lit(java.sql.Date.valueOf("2024-02-01")))
    val (_, mSec) = timed(s"merge ${n / 10} upserts (rewrite)")(
      t.merge(src("u_"), col("target.id") === col("source.id"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())
    println(f"[strain] merge_rows_per_sec=${n / 10 / mSec}%.0f")

    t.setProperties(Map("graft.enableDeletionVectors" -> "true"))
    val (_, dvSec) = timed(s"merge ${n / 10} upserts (DV)")(
      t.merge(src("v_"), col("target.id") === col("source.id"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())
    println(f"[strain] dv_merge_rows_per_sec=${n / 10 / dvSec}%.0f")
    val snapDv = t.snapshot()
    // vectors from one commit share a `.bin` — size each file once
    val dvBytes = snapDv.dvs.values.flatMap(_.storagePath).toSet.toSeq.map { rel: String =>
      val p = java.nio.file.Paths.get(dir, rel)
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      } finally s.close()
    }.sum
    println(s"[strain] dv_masked_files=${snapDv.dvs.size} dv_bytes=$dvBytes")

    timed("delete 1% (DV)")(t.delete(col("id") % 100 === 7))
    val (_, reorgSec) = timed("reorg purge")(t.reorgPurge())
    println(f"[strain] reorg_sec=${reorgSec}%.2f vectors_after=${t.snapshot().dvs.size}")
    println(s"[strain] files=${t.snapshot().numFiles} rows=${t.read().count()}")
    timed("zorder (incremental)")(t.optimizeZOrder(Seq("user_id", "day")))
    timed("point query after zorder")(t.read(Seq(col("user_id") === "user_777")).count())
    // UniForm export at METADATA scale: file count is the export's only
    // cost axis (manifest rows, no Spark job), so strain it directly with
    // a many-small-files table — the 100 TB shape is millions of files,
    // and the claim that must hold is first export O(live files), every
    // re-export O(churn) via manifest reuse
    val mfiles = sys.env.getOrElse("STRAIN_EXPORT_FILES", "20000").toInt
    val dir2 = Files.createTempDirectory("strain-export").resolve("t").toString
    val gen2 = spark.range(mfiles.toLong)
      .withColumn("payload", concat(lit("row_"), col("id")))
    val t2 = LakeTable.create(spark, dir2, gen2.schema,
      properties = Map("graft.uniform.manifestMaxEntries" -> "100000"))
    timed(s"write $mfiles one-row files")(t2.append(gen2.repartition(mfiles)))
    val (_, expSec) = timed(s"uniform export ($mfiles files)")(
      t2.generateIcebergMetadata(recordCommit = false))
    t2.append(spark.range(mfiles.toLong, mfiles + 1L)
      .withColumn("payload", lit("tail")).coalesce(1))
    val (_, expIncrSec) = timed("uniform re-export after 1-file append")(
      t2.generateIcebergMetadata(recordCommit = false))
    println(f"[strain] uniform_export_sec=$expSec%.2f " +
      f"uniform_incr_export_sec=$expIncrSec%.2f files=$mfiles")

    // ---- import strain: the inverse direction at the same file count ----
    // The 100-TB import claims to measure: a Delta log replay is driver-
    // metadata time (stats embedded, zero data/footer IO), DV transcode is
    // a distributed pass over descriptors, and an Iceberg import pays one
    // parallel footer pass (stats + field ids in the same open).
    val liveFiles = t2.snapshot().files
      .map(f => java.nio.file.Paths.get(dir2).resolve(f.path))
    // Hand-write spec-shaped Delta logs over HARDLINKS of the same parquet
    // (stats embedded per add, the real Delta writer shape; the stat
    // values are placeholders — this measures replay cost, not pruning)
    def deltaFixture(tag: String, withDvs: Boolean): String = {
      val root = Files.createTempDirectory(s"strain-delta-$tag").resolve("t")
      Files.createDirectories(root)
      val logDir = root.resolve("_delta_log")
      Files.createDirectories(logDir)
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      def j(v: Any) = m.writeValueAsString(v)
      val sb = new StringBuilder
      sb.append(j(Map("protocol" -> Map(
        "minReaderVersion" -> (if (withDvs) 3 else 1),
        "minWriterVersion" -> 2)))).append('\n')
      sb.append(j(Map("metaData" -> Map(
        "id" -> java.util.UUID.randomUUID().toString,
        "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
        "schemaString" -> gen2.schema.json,
        "partitionColumns" -> Nil, "configuration" -> Map.empty,
        "createdTime" -> 0L)))).append('\n')
      liveFiles.zipWithIndex.foreach { case (srcFile, i) =>
        val name = f"f$i%06d.parquet"
        Files.createLink(root.resolve(name), srcFile)
        val dv =
          if (withDvs && i % 2 == 0) {
            val data = graft.log.DeltaDv.serializeArray(Seq(0L))
            Map("deletionVector" -> Map("storageType" -> "i",
              "pathOrInlineDv" -> graft.log.DeltaDv.packInline(data),
              "sizeInBytes" -> data.length, "cardinality" -> 1))
          } else Map.empty
        sb.append(j(Map("add" -> (Map(
          "path" -> name, "partitionValues" -> Map.empty,
          "size" -> Files.size(srcFile), "modificationTime" -> 0L,
          "dataChange" -> true,
          "stats" -> j(Map("numRecords" -> 1,
            "minValues" -> Map("id" -> i), "maxValues" -> Map("id" -> i),
            "nullCount" -> Map("id" -> 0, "payload" -> 0)))) ++ dv))))
          .append('\n')
      }
      Files.write(logDir.resolve(f"${0L}%020d.json"),
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      root.toString
    }
    val d3 = deltaFixture("plain", withDvs = false)
    val (_, dImpSec) = timed(s"delta import ($mfiles adds, stats embedded)")(
      graft.migrate.DeltaImport.convert(spark, d3))
    val d4 = deltaFixture("dv", withDvs = true)
    val (_, dImpDvSec) = timed(s"delta import + ${mfiles / 2} inline DVs")(
      graft.migrate.DeltaImport.convert(spark, d4))
    println(f"[strain] delta_import_sec=$dImpSec%.2f " +
      f"delta_import_dv_sec=$dImpDvSec%.2f files=$mfiles dv_files=${mfiles / 2}")
    // Iceberg re-import of the 20k-file export (sever the graft log; what
    // remains is the pure HadoopTables layout the exporter just wrote)
    graft.log.TxLog.deleteRecursively(
      java.nio.file.Paths.get(dir2).resolve("_txlog"))
    val (_, iImpSec) = timed(s"iceberg import ($mfiles files + footer pass)")(
      graft.migrate.IcebergImport.convert(spark, dir2))
    println(f"[strain] iceberg_import_sec=$iImpSec%.2f files=${mfiles + 1}")
    graft.log.TxLog.deleteRecursively(java.nio.file.Paths.get(d3).getParent)
    graft.log.TxLog.deleteRecursively(java.nio.file.Paths.get(d4).getParent)
    graft.log.TxLog.deleteRecursively(java.nio.file.Paths.get(dir2).getParent)

    // ---- checkpoint-shaped import strain (r13): a parquet CHECKPOINT with
    // mfiles add rows replays via toLocalIterator — the driver holds the
    // compact replay state, never the raw Row set — and the snapshot-diff
    // sync (cleaned JSON tail) nets a second churned checkpoint against
    // the live set. Stats embedded; pure metadata time, zero data IO.
    val cpRoot = Files.createTempDirectory("strain-cp").resolve("t")
    val cpLog = cpRoot.resolve("_delta_log")
    Files.createDirectories(cpLog)
    val metaT = "struct<id:string,schemaString:string," +
      "partitionColumns:array<string>,configuration:map<string,string>>"
    val protoT = "struct<minReaderVersion:int>"
    val addT = "struct<path:string,partitionValues:map<string,string>," +
      "size:bigint,modificationTime:bigint,dataChange:boolean,stats:string>"
    val cpSchemaJson = gen2.schema.json
    def writeCheckpoint(version: Long, names: org.apache.spark.sql.DataFrame): Unit = {
      val emptyMap = map_from_arrays(
        array().cast("array<string>"), array().cast("array<string>"))
      val adds = names.select(
        lit(null).cast(metaT).as("metaData"),
        lit(null).cast(protoT).as("protocol"),
        struct(col("name").as("path"), emptyMap.as("partitionValues"),
          lit(100L).as("size"), lit(0L).as("modificationTime"),
          lit(true).as("dataChange"),
          lit("""{"numRecords":1,"minValues":{},"maxValues":{},"nullCount":{}}""")
            .as("stats")).cast(addT).as("add"))
      val head = spark.range(1).select(
        struct(lit("cp-strain-0000").as("id"),
          lit(cpSchemaJson).as("schemaString"),
          array().cast("array<string>").as("partitionColumns"),
          emptyMap.as("configuration")).cast(metaT).as("metaData"),
        struct(lit(1).as("minReaderVersion")).cast(protoT).as("protocol"),
        lit(null).cast(addT).as("add"))
      val staging = Files.createTempDirectory("strain-cp-stage")
      head.unionByName(adds).coalesce(1)
        .write.mode("overwrite").parquet(staging.resolve("out").toString)
      val part = {
        val s = Files.list(staging.resolve("out"))
        try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get }
        finally s.close()
      }
      Files.move(part, cpLog.resolve(f"$version%020d.checkpoint.parquet"))
      graft.log.TxLog.deleteRecursively(staging)
      Files.write(cpLog.resolve("_last_checkpoint"),
        s"""{"version":$version}""".getBytes(
          java.nio.charset.StandardCharsets.UTF_8)): Unit
    }
    def cpNames(drop: Boolean) = {
      val base = spark.range(mfiles.toLong)
        .select(concat(lit("f"), lpad(col("id").cast("string"), 6, "0"),
          lit(".parquet")).as("name"), col("id"))
      if (!drop) base.select("name")
      else base.filter(col("id") % 10 =!= 0).select("name")
        .unionByName(spark.range(mfiles.toLong / 10)
          .select(concat(lit("g"), col("id").cast("string"),
            lit(".parquet")).as("name")))
    }
    writeCheckpoint(1L, cpNames(drop = false))
    val (_, cpImpSec) = timed(s"delta import via $mfiles-add checkpoint")(
      graft.migrate.DeltaImport.convert(spark, cpRoot.toString))
    // the source checkpoints again (10% churn) and CLEANS the json tail:
    // the sync falls back to the snapshot diff over the new checkpoint
    writeCheckpoint(2L, cpNames(drop = true))
    val (_, cpDiffSec) = timed("snapshot-diff sync over churned checkpoint")(
      graft.migrate.DeltaImport.sync(spark, cpRoot.toString))
    val cpT = LakeTable.forPath(spark, cpRoot.toString)
    // assert the churn actually LANDED (a silently no-op diff sync would
    // leave the same file count — check membership, not arithmetic)
    val cpLive = cpT.snapshot().files.map(_.path).toSet
    require(!cpLive.contains("f000000.parquet") && !cpLive.contains("f000010.parquet"),
      "checkpoint diff sync failed to remove churned files")
    require(cpLive.contains("g0.parquet") &&
      cpLive.contains(s"g${mfiles / 10 - 1}.parquet"),
      "checkpoint diff sync failed to add churned files")
    require(cpLive.size == mfiles - mfiles / 10 + mfiles / 10,
      s"checkpoint diff sync produced ${cpLive.size} files")
    println(f"[strain] checkpoint_import_sec=$cpImpSec%.2f " +
      f"checkpoint_diff_sync_sec=$cpDiffSec%.2f adds=$mfiles " +
      f"churn=${2 * (mfiles / 10)}")
    graft.log.TxLog.deleteRecursively(cpRoot.getParent)

    // ---- equality-delete import strain (r14): the Flink-CDC shape — a
    // THOUSAND equality-delete files against a handful of data files.
    // Delete files resolve in ONE parallel footer pass, group by key set,
    // and each group reads in ONE multi-path scan; the sequence and scope
    // ride the delete rows as data, so the whole key set applies as ONE
    // anti-join. Per-file plan legs (1k-leg union) or a sequential
    // driver footer loop would blow this leg up by orders of magnitude.
    {
      val eqRoot = Files.createTempDirectory("strain-eqdel").resolve("t")
      val eqMeta = eqRoot.resolve("metadata")
      Files.createDirectories(eqMeta)
      val jm = new com.fasterxml.jackson.databind.ObjectMapper()
      jm.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      def j(v: Any) = jm.writeValueAsString(v)
      def fidMeta(id: Long) = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", id).build()
      def oneParquet(df: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
        val staging = Files.createTempDirectory("strain-eqdel-stage")
        df.coalesce(1).write.mode("overwrite")
          .parquet(staging.resolve("out").toString)
        val s = Files.list(staging.resolve("out"))
        val part =
          try { import scala.jdk.CollectionConverters._
            s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get }
          finally s.close()
        val target = staging.resolve("one.parquet")
        Files.move(part, target)
        target
      }
      val rowsPerFile = 50000L
      val dataSrc = oneParquet(spark.range(rowsPerFile)
        .select(col("id").as("id", fidMeta(1))))
      val nData = 4
      (0 until nData).foreach(i =>
        Files.createLink(eqRoot.resolve(s"f$i.parquet"), dataSrc))
      // every delete file lists the id % 17 == 0 keys (hardlinked — the
      // cost under measurement is per-FILE footer/plan handling)
      val delSrc = oneParquet(spark.range(rowsPerFile)
        .filter(col("id") % 17 === 0).select(col("id").as("id", fidMeta(1))))
      val nDel = sys.env.getOrElse("STRAIN_EQDEL_FILES", "1000").toInt
      (0 until nDel).foreach(i =>
        Files.createLink(eqMeta.resolve(s"eq$i.parquet"), delSrc))
      val avroEntry = new org.apache.avro.Schema.Parser().parse("""{
        "type":"record","name":"manifest_entry","fields":[
          {"name":"status","type":"int"},
          {"name":"sequence_number","type":["null","long"],"default":null},
          {"name":"data_file","type":{
            "type":"record","name":"r2","fields":[
              {"name":"content","type":"int"},
              {"name":"file_path","type":"string"},
              {"name":"file_format","type":"string"},
              {"name":"partition","type":{
                "type":"record","name":"r102","fields":[]}},
              {"name":"record_count","type":"long"},
              {"name":"file_size_in_bytes","type":"long"},
              {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}]}}]}""")
      val avroList = new org.apache.avro.Schema.Parser().parse("""{
        "type":"record","name":"manifest_file","fields":[
          {"name":"manifest_path","type":"string"},
          {"name":"manifest_length","type":"long"},
          {"name":"partition_spec_id","type":"int"},
          {"name":"content","type":"int"},
          {"name":"sequence_number","type":"long"},
          {"name":"min_sequence_number","type":"long"},
          {"name":"added_snapshot_id","type":"long"}]}""")
      def mkEntry(content: Int, p: java.nio.file.Path, count: Long,
          eqIds: Seq[Int], eseq: Long): org.apache.avro.generic.GenericRecord = {
        import scala.jdk.CollectionConverters._
        val dfs = avroEntry.getField("data_file").schema()
        val d = new org.apache.avro.generic.GenericData.Record(dfs)
        d.put("content", content)
        d.put("file_path", p.toString)
        d.put("file_format", "PARQUET")
        d.put("partition", new org.apache.avro.generic.GenericData.Record(
          dfs.getField("partition").schema()))
        d.put("record_count", count)
        d.put("file_size_in_bytes", Files.size(p))
        if (eqIds.nonEmpty)
          d.put("equality_ids", eqIds.map(Integer.valueOf).asJava)
        val e = new org.apache.avro.generic.GenericData.Record(avroEntry)
        e.put("status", 1)
        e.put("sequence_number", java.lang.Long.valueOf(eseq))
        e.put("data_file", d)
        e
      }
      def writeAvroFile(target: java.nio.file.Path,
          rows: Seq[org.apache.avro.generic.GenericRecord]): Unit = {
        val w = new org.apache.avro.file.DataFileWriter[
          org.apache.avro.generic.GenericRecord](
          new org.apache.avro.generic.GenericDatumWriter[
            org.apache.avro.generic.GenericRecord](avroEntry))
        w.create(avroEntry, target.toFile)
        try rows.foreach(r => w.append(r): Unit) finally w.close()
      }
      val mData = eqMeta.resolve("m-data.avro")
      writeAvroFile(mData, (0 until nData).map(i =>
        mkEntry(0, eqRoot.resolve(s"f$i.parquet"), rowsPerFile, Nil, 1L)))
      val mDel = eqMeta.resolve("m-del.avro")
      writeAvroFile(mDel, (0 until nDel).map(i =>
        mkEntry(2, eqMeta.resolve(s"eq$i.parquet"), 1L, Seq(1),
          2L + i % 5)))
      val listPath = eqMeta.resolve("snap-1.avro")
      def listRow(p: java.nio.file.Path, content: Int, seq: Long,
          minSeq: Long) = {
        val r = new org.apache.avro.generic.GenericData.Record(avroList)
        r.put("manifest_path", p.toString)
        r.put("manifest_length", Files.size(p))
        r.put("partition_spec_id", 0)
        r.put("content", content)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", minSeq)
        r.put("added_snapshot_id", 1001L)
        r
      }
      val lw = new org.apache.avro.file.DataFileWriter[
        org.apache.avro.generic.GenericRecord](
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](avroList))
      lw.create(avroList, listPath.toFile)
      try { lw.append(listRow(mData, 0, 1L, 1L)): Unit
        lw.append(listRow(mDel, 1, 6L, 2L)): Unit } finally lw.close()
      Files.write(eqMeta.resolve("v1.metadata.json"), j(Map(
        "format-version" -> 2, "table-uuid" -> "strain-eqdel-0000",
        "location" -> eqRoot.toString,
        "last-sequence-number" -> 6, "last-updated-ms" -> 1700000000000L,
        "last-column-id" -> 1, "current-schema-id" -> 0,
        "schemas" -> Seq(Map("type" -> "struct", "schema-id" -> 0,
          "fields" -> Seq(Map("id" -> 1, "name" -> "id",
            "required" -> false, "type" -> "long")))),
        "default-spec-id" -> 0,
        "partition-specs" -> Seq(Map("spec-id" -> 0, "fields" -> Nil)),
        "last-partition-id" -> 999, "default-sort-order-id" -> 0,
        "sort-orders" -> Seq(Map("order-id" -> 0, "fields" -> Nil)),
        "properties" -> Map.empty, "current-snapshot-id" -> 1001,
        "snapshots" -> Seq(Map(
          "snapshot-id" -> 1001, "timestamp-ms" -> 1700000000000L,
          "sequence-number" -> 6, "schema-id" -> 0,
          "summary" -> Map.empty, "manifest-list" -> listPath.toString)),
        "snapshot-log" -> Nil, "metadata-log" -> Nil))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.write(eqMeta.resolve("version-hint.text"),
        "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val eqDest = Files.createTempDirectory("strain-eqdel-dest")
        .resolve("t").toString
      val (eqT, eqSec) = timed(s"iceberg rewrite ($nDel eq-delete files)")(
        graft.migrate.IcebergImport.convertRewrite(
          spark, eqRoot.toString, eqDest))
      val deletedKeys = (rowsPerFile + 16) / 17
      val expect = nData * (rowsPerFile - deletedKeys)
      val gotRows = eqT.read().count()
      require(gotRows == expect,
        s"eq-delete strain returned $gotRows rows, expected $expect")
      println(f"[strain] eqdelete_import_sec=$eqSec%.2f " +
        f"delete_files=$nDel data_rows=${nData * rowsPerFile}")
      graft.log.TxLog.deleteRecursively(eqRoot.getParent)
      graft.log.TxLog.deleteRecursively(
        java.nio.file.Paths.get(eqDest).getParent)
    }
    spark.stop()
    graft.log.TxLog.deleteRecursively(java.nio.file.Paths.get(dir).getParent)
  }
}
