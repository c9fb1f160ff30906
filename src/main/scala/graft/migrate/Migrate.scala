package graft.migrate

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.BatchIngest
import graft.quality.Quality
import graft.table.LakeTable

/** Migration orchestration: legacy source → graft table → validation
  * (SURVEY §2 "migrate/": migration/migrate_from_rdbms.py,
  * migrate_from_hdfs.py, migrate_from_s3.py).
  *
  * Everything engine-like is delegated: sources come from [[BatchIngest]]
  * readers (JDBC parallel scans, format readers), writes go through
  * [[LakeTable]], validation through [[Quality.migrationValidation]]. The
  * migrators add the orchestration the reference wraps around those parts —
  * multi-path consolidation, incremental watermarks, transform hooks, and a
  * migration report.
  */
object Migrate {

  /** Outcome of one migration run (reference's result dicts, e.g.
    * migration/migrate_from_rdbms.py:115-128). */
  case class MigrationResult(
      sourceRows: Long,
      targetRows: Long,
      tableVersion: Long,
      validationPassed: Boolean)

  /** Full-table migration: source DataFrame → table (overwrite), then
    * count/schema validation (migrate_from_rdbms.py:98-128). `transform` is
    * the user-supplied DataFrame→DataFrame hook (P9). */
  def fullTable(
      source: DataFrame,
      table: LakeTable,
      transform: DataFrame => DataFrame = identity,
      addMetadata: Boolean = true): MigrationResult = {
    val shaped0 = transform(source)
    val shaped = if (addMetadata) BatchIngest.withIngestionMetadata(shaped0) else shaped0
    val v = table.overwrite(BatchIngest.repartitionForWrite(shaped), overwriteSchema = true)
    report(shaped0, table, v)
  }

  /** Incremental migration: only rows past the watermark are appended
    * (migrate_from_rdbms.py:130-200). The caller persists the returned new
    * watermark (max of `watermarkCol` in this batch).
    *
    * Single source pass: the batch count and the new watermark ride the
    * append job as `Observation` metrics instead of separate `count()` /
    * `max().collect()` scans (at a 100 TB batch those were 2 extra full
    * reads), and validation compares the commit's own `numOutputRows`
    * metric plus the tx-log row stats — no post-write table scans.
    * `recount` restores the reference's physical before/after counts
    * (migrate_from_rdbms.py:178-189) when an end-to-end recount is wanted. */
  def incremental(
      source: DataFrame,
      table: LakeTable,
      watermarkCol: String,
      lastWatermark: Option[String],
      transform: DataFrame => DataFrame = identity,
      recount: Boolean = false): (MigrationResult, Option[String]) = {
    val fresh = lastWatermark match {
      case Some(w) => source.filter(col(watermarkCol) > lit(w))
      case None    => source
    }
    val shaped = transform(fresh)
    val before = if (recount) Some(table.read().count()) else None
    val obs = org.apache.spark.sql.Observation()
    val observed = shaped.observe(obs,
      count(lit(1)).as("batch_rows"),
      max(col(watermarkCol)).cast("string").as("max_wm"))
    val v = table.append(BatchIngest.withIngestionMetadata(observed), mergeSchema = true)
    val metrics = obs.get
    val batchRows = metrics("batch_rows").asInstanceOf[Long]
    val newWatermark = Option(metrics("max_wm")).map(_.toString).orElse(lastWatermark)
    val snap = table.snapshot()
    val written = table.log.commitInfo(v)
      .flatMap(_.operationMetrics.get("numOutputRows")).getOrElse(-1L)
    val after = before match {
      case Some(_) => table.read().count()
      case None    => snap.files.map(_.numRecords).sum
    }
    val ok = before.map(b => after - b == batchRows).getOrElse(written == batchRows)
    (MigrationResult(batchRows, after, v, ok), newWatermark)
  }

  /** Multi-path consolidation (U1, migrate_from_s3.py:268-306): read every
    * path with one format, align columns by name, union, land once. */
  def consolidatePaths(
      spark: SparkSession,
      fmt: String,
      paths: Seq[String],
      table: LakeTable,
      c: BatchIngest.ReadConfig = BatchIngest.ReadConfig(),
      transform: DataFrame => DataFrame = identity): MigrationResult = {
    require(paths.nonEmpty, "no paths to consolidate")
    val dfs = paths.map(p => BatchIngest.format(spark, fmt, p, c))
    val unioned = dfs.reduce(_.unionByName(_, allowMissingColumns = true))
    fullTable(unioned, table, transform)
  }

  /** Catalog-table migration (migrate_from_hdfs.py:40-75): `spark.table`
    * source (S7) → table. */
  def fromCatalogTable(
      spark: SparkSession,
      sourceTable: String,
      table: LakeTable,
      transform: DataFrame => DataFrame = identity): MigrationResult =
    fullTable(spark.table(sourceTable), table, transform)

  private def report(source: DataFrame, table: LakeTable, v: Long): MigrationResult = {
    val validation = Quality.migrationValidation(source, table.read()).collect().head
    MigrationResult(
      sourceRows = validation.getAs[Long]("source_rows"),
      targetRows = validation.getAs[Long]("target_rows"),
      tableVersion = v,
      validationPassed = validation.getAs[Boolean]("counts_match"))
  }
}
