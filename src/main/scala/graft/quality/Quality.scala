package graft.quality

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.ingest.SchemaUtils
import graft.table.LakeTable

/** Data-quality and migration validators (SURVEY §2.13 Q1-Q6; reference:
  * src/data_processor.py:340-405, migration/migrate_from_rdbms.py:263-327,
  * notebooks/01_bronze_ingestion.py:293-329, notebooks/05_time_travel_demo.py:381-424).
  *
  * Scale design: every validator is a constant number of full-scan
  * aggregations (usually one) — null counts for all columns come from a
  * single pass (A9), never a per-column job loop.
  */
object Quality {

  /** Quality-filter cascade with FIRST-FAIL attrition attribution — the
    * curation-funnel report every large-scale filtering pipeline needs: for
    * each stage, how many documents died THERE (not at a later stage they
    * never reached) and how many survive past it. One codegen'd projection
    * computes the first-failed-stage index per row, one partial-agged
    * shuffle counts the n+1 buckets, and the n-row report is assembled
    * driver-side from that bounded aggregate — cost is a single scan
    * regardless of stage count, never a filter-count pass per stage. NULL
    * predicate results fail their stage (a doc that can't prove quality
    * doesn't pass), mirroring SQL WHERE semantics on the survivor set. */
  def cascadeReport(df: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "cascadeReport needs at least one stage")
    val firstFail = stages.zipWithIndex.foldRight(lit(stages.size)) {
      case (((_, pred), i), later) =>
        when(!coalesce(pred, lit(false)), lit(i)).otherwise(later)
    }
    val counts = df.select(firstFail.as("__fail"))
      .groupBy("__fail").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val spark = df.sparkSession
    import spark.implicits._
    val rows = stages.zipWithIndex.map { case ((name, _), i) =>
      val failedHere = counts.getOrElse(i, 0L)
      val survivingAfter = total - (0 to i).map(counts.getOrElse(_, 0L)).sum
      (i, name, failedHere, survivingAfter)
    }
    rows.toDF("stage_id", "stage", "failed", "surviving")
  }

  /** The cascade's survivor set: rows passing EVERY stage (same NULL-fails
    * semantics as [[cascadeReport]]); `surviving` of the last report row
    * equals this frame's count. */
  def cascadeFilter(df: DataFrame, stages: Seq[(String, Column)]): DataFrame =
    stages.map { case (_, p) => coalesce(p, lit(false)) }
      .reduceOption(_ && _).map(df.filter).getOrElse(df)

  /** Q1: completeness — null count and % per required column, ONE pass. */
  def completeness(df: DataFrame, requiredCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("__total") +:
      requiredCols.map(c => count(when(col(c).isNull, 1)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val total = col("__total").cast("double")
    val perCol = requiredCols.map(c => struct(
      lit(c).as("column"),
      col(c).as("null_count"),
      round(col(c) / total * 100.0, 4).as("null_pct")))
    row.select(explode(array(perCol: _*)).as("r"), col("__total").as("total_rows"))
      .select(col("r.column"), col("r.null_count"), col("r.null_pct"), col("total_rows"))
  }

  /** Q2: uniqueness on a key set — total vs distinct vs duplicate count. */
  def uniqueness(df: DataFrame, keys: Seq[String]): DataFrame =
    df.agg(
      count(lit(1)).as("total_rows"),
      count_distinct(struct(keys.map(col): _*)).as("distinct_keys"))
      .withColumn("duplicate_rows", col("total_rows") - col("distinct_keys"))
      .withColumn("is_unique", col("duplicate_rows") === 0)

  /** Q3: numeric range validation — rows outside [min, max] per column.
    * `ranges` = col → (min, max). One pass for all columns. */
  def rangeValidation(df: DataFrame, ranges: Map[String, (Double, Double)]): DataFrame = {
    val checks = ranges.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
      sum(when(col(c) < lo || col(c) > hi, 1).otherwise(0)).as(c)
    }
    val row = df.agg(checks.head, checks.tail: _*)
    val perCol = ranges.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => struct(
      lit(c).as("column"), lit(lo).as("min_allowed"), lit(hi).as("max_allowed"),
      col(c).cast("long").as("out_of_range_rows"))
    }
    row.select(explode(array(perCol: _*)).as("r")).select("r.*")
  }

  /** Q5: duplicate-ID check — keys occurring more than once, with counts. */
  def duplicateIds(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") > 1)

  /** Q4: migration validation — row counts match and schemas align
    * (metadata columns excluded), mirroring validate_migration. Returns a
    * single-row report. */
  def migrationValidation(
      source: DataFrame,
      target: DataFrame,
      excludeCols: Set[String] = Set("_ingestion_timestamp", "_ingestion_date",
        "_source_file", "_record_hash")): DataFrame = {
    val spark = source.sparkSession
    val srcCount = source.count()
    val tgtCount = target.count()
    val (onlySrc, onlyTgt) = SchemaUtils.columnSetDiff(source, target, excludeCols)
    import spark.implicits._
    Seq((srcCount, tgtCount, srcCount == tgtCount,
      onlySrc.toSeq.sorted, onlyTgt.toSeq.sorted, onlySrc.isEmpty && onlyTgt.isEmpty))
      .toDF("source_rows", "target_rows", "counts_match",
        "columns_only_in_source", "columns_only_in_target", "schemas_match")
      .withColumn("validation_passed", col("counts_match") && col("schemas_match"))
  }

  /** Q6: quality-over-versions — per-version row/dup/null profile via time
    * travel (notebooks/05_time_travel_demo.py:381-424). One row per version. */
  def qualityOverVersions(
      table: LakeTable,
      keys: Seq[String],
      requiredCols: Seq[String],
      versions: Seq[Long] = Nil): DataFrame = {
    val vs = if (versions.nonEmpty) versions
      else table.log.listVersions()
    val rows = vs.map { v =>
      val df = table.versionAsOf(v)
      val aggs = Seq(
        count(lit(1)).as("rows"),
        count_distinct(struct(keys.map(col): _*)).as("distinct_keys")) ++
        requiredCols.map(c => count(when(col(c).isNull, 1)).as(s"nulls_$c"))
      df.agg(aggs.head, aggs.tail: _*).withColumn("version", lit(v))
    }
    rows.reduce(_ unionByName _)
      .withColumn("duplicate_rows", col("rows") - col("distinct_keys"))
      .select("version", "rows", "distinct_keys", "duplicate_rows")
  }

  /** Composite quality report used as a verification query: completeness of
    * `requiredCols` + per-key uniqueness, one row per column plus one
    * `__uniqueness__` row. */
  def report(df: DataFrame, keys: Seq[String], requiredCols: Seq[String]): DataFrame = {
    val comp = completeness(df, requiredCols)
      .select(col("column"), col("null_count").cast("long").as("metric_value"),
        col("total_rows").cast("long"))
    val uniq = uniqueness(df, keys)
      .select(lit("__duplicate_keys__").as("column"),
        col("duplicate_rows").cast("long").as("metric_value"),
        col("total_rows").cast("long"))
    comp.unionByName(uniq)
  }
}
