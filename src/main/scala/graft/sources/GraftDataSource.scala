package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SQLContext}

import graft.table.LakeTable

/** Standard Spark DataSource registration for the graft table format —
  * the idiomatic spelling reference users already know from
  * `spark.read.format("delta")` (e.g. src/delta_utils.py:88-95):
  *
  * {{{
  * spark.read.format("graft").load(path)                       // current version
  * spark.read.format("graft").option("versionAsOf", 3).load(p) // time travel
  * df.write.format("graft").mode("append").save(path)          // append / create
  * df.write.format("graft").option("partitionBy", "day").mode("overwrite").save(p)
  * CREATE TEMPORARY VIEW v USING graft OPTIONS (path '...')    // SQL surface
  * }}}
  *
  * Registered via META-INF/services, so `format("graft")` resolves with no
  * session extension. The relation delegates scans to [[LakeTable.read]],
  * which is where stats/partition/bloom file pruning and deletion-vector
  * masking live — pushed filters reach the tx-log pruner BEFORE any file is
  * opened, so a selective filter reads the same few files it would through
  * the native API, then Spark re-applies every filter as a residual (the
  * relation never claims a filter as fully handled; claiming requires
  * row-exact semantics, pruning only needs file-exact).
  */
class DefaultSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("format(\"graft\") requires a path"))

  // ------------------------------------------------- streaming read surface
  // spark.readStream.format("graft").load(path) — version-offset source
  // serving the initial snapshot then per-commit appends (see
  // [[graft.streaming.GraftStreamSource]] for the commit classification).

  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse {
      val table = LakeTable.forPath(sqlContext.sparkSession, pathOf(parameters))
      // readChangeFeed streams CDF rows, so the relation's shape is the CDF
      // shape (table columns + _change_type/_commit_version/_commit_timestamp)
      if (parameters.get("readChangeFeed").contains("true")) table.cdfReadSchema
      else table.snapshot().schema
    })

  override def createSource(
      sqlContext: SQLContext, metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    new graft.streaming.GraftStreamSource(spark,
      LakeTable.forPath(spark, pathOf(parameters)), parameters, metadataPath)
  }

  // ------------------------------------------------ streaming write surface
  // df.writeStream.format("graft").start(path), and — through
  // [[GraftV2Table]]'s V1 fallback — df.writeStream.toTable("g.ns.t").
  override def createSink(
      sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val pcols = parameters.get("partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(partitionColumns)
    new graft.streaming.GraftStreamSink(sqlContext.sparkSession,
      pathOf(parameters), pcols, outputMode, parameters)
  }

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val table = LakeTable.forPath(spark, pathOf(parameters))
    // batch CDF read — Delta's option spelling
    // (spark.read.format("delta").option("readChangeFeed", "true")
    //  .option("startingVersion", N).load(path)); ending bound optional
    if (parameters.get("readChangeFeed").contains("true")) {
      def atTs(key: String): Option[Long] = parameters.get(key)
        .map(ts => java.sql.Timestamp.valueOf(ts).getTime)
      val endV = parameters.get("endingVersion").map(_.toLong)
        .orElse(atTs("endingTimestamp").map(table.log.versionAt))
      val startV = parameters.get("startingVersion").map(_.toLong).orElse {
        // first commit at-or-after the starting timestamp (Delta semantics)
        atTs("startingTimestamp").map(table.log.versionAtOrAfter)
      }.getOrElse(0L)
      return new GraftCdfRelation(sqlContext, table, startV, endV)
    }
    val version = parameters.get("versionAsOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf").map(ts =>
        table.log.versionAt(java.sql.Timestamp.valueOf(ts).getTime)))
    new GraftRelation(sqlContext, table, version)
  }

  /** Batch writes: the four SaveModes over create/append/overwrite.
    * `partitionBy` arrives as an option (comma-separated) because the V1
    * write path does not forward `DataFrameWriter.partitionBy` to
    * CreatableRelationProvider; it only applies on table creation —
    * existing tables keep their layout (same as the native API). */
  override def createRelation(
      sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val partitionCols = parameters.get("partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val mergeSchema = parameters.get("mergeSchema").contains("true")
    val overwriteSchema = parameters.get("overwriteSchema").contains("true")
    // Delta's idempotent-write options: a (txnAppId, txnVersion) pair rides
    // the commit; a replayed write whose version is <= the last recorded
    // one for the app is a no-op — restart-safe batch jobs without a
    // streaming checkpoint
    val txn: Option[(String, Long)] =
      (parameters.get("txnAppId"), parameters.get("txnVersion")) match {
        case (Some(a), Some(v)) => Some((a, v.toLong))
        case (None, None) => None
        case _ => throw new IllegalArgumentException(
          "txnAppId and txnVersion must be set together")
      }
    val exists = LakeTable.isTable(path)
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already exists: $path")
      case SaveMode.Ignore if exists => ()
      case _ if !exists =>
        LakeTable.createFrom(spark, path, data, partitionCols): Unit
      case SaveMode.Append =>
        val t = LakeTable.forPath(spark, path)
        txn match {
          case Some((a, v)) => t.appendStream(data, a, v, mergeSchema): Unit
          case None => t.append(data, mergeSchema): Unit
        }
      case SaveMode.Overwrite
          if parameters.get("partitionOverwriteMode").exists(_.equalsIgnoreCase("dynamic")) =>
        // Delta's dynamic-partition-overwrite spelling: replace only the
        // partitions present in the incoming frame
        require(txn.isEmpty, "txnAppId is not supported with dynamic partition overwrite")
        LakeTable.forPath(spark, path).overwriteDynamic(data): Unit
      case SaveMode.Overwrite if parameters.contains("replaceWhere") =>
        require(txn.isEmpty, "txnAppId is not supported with replaceWhere")
        LakeTable.forPath(spark, path)
          .overwriteWhere(expr(parameters("replaceWhere")), data): Unit
      case SaveMode.Overwrite =>
        val t = LakeTable.forPath(spark, path)
        txn match {
          case Some((a, v)) => t.overwriteStream(data, a, v): Unit
          case None => t.overwrite(data, overwriteSchema): Unit
        }
      case other =>
        throw new IllegalStateException(s"unreachable save mode: $other")
    }
    new GraftRelation(sqlContext, LakeTable.forPath(spark, path), None)
  }
}

/** V1 relation over a graft snapshot. Filter pushdown goes to the tx-log
  * pruner (file skipping); rows come back through the table's own read
  * path, so deletion vectors, column mapping, and schema enforcement all
  * behave identically to the native API. */
private[sources] class GraftRelation(
    override val sqlContext: SQLContext,
    table: LakeTable,
    version: Option[Long]) extends BaseRelation with PrunedFilteredScan {

  override def schema: StructType = table.snapshot(version).schema

  /** Accurate plan-time size from the tx-log (live data bytes): without
    * this, BaseRelation reports `defaultSizeInBytes` (effectively ∞) and a
    * small graft dimension joined through `format("graft")` NEVER
    * auto-broadcasts — at scale that turns a broadcast join into a full
    * shuffle of the fact side. Same source Delta's relation reports. */
  override def sizeInBytes: Long = table.snapshot(version).files.map(_.size).sum

  // every filter is also re-applied by Spark above the scan (the default
  // unhandledFilters contract) — pushdown here is purely for file skipping
  override def buildScan(
      requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val preds = filters.flatMap(FilterColumns.toColumn).toSeq
    val df = table.read(preds, version)
    val projected =
      if (requiredColumns.isEmpty) df.select()
      else df.select(requiredColumns.toIndexedSeq.map(col): _*)
    projected.rdd
  }

}

/** Batch change-data-feed relation: serves
  * `table_changes`-shaped rows (table columns + _change_type /
  * _commit_version / _commit_timestamp) for the requested version window —
  * the batch leg of S10 next to the streaming CDF source. An empty or
  * out-of-range window yields an empty frame (Delta's behavior for a
  * starting bound past the head), never an error. */
private[sources] class GraftCdfRelation(
    override val sqlContext: SQLContext,
    table: LakeTable,
    startingVersion: Long,
    endingVersion: Option[Long]) extends BaseRelation with TableScan {

  override def schema: StructType = table.cdfReadSchema

  override def buildScan(): RDD[Row] = {
    // clamp the ending bound to the table head (Delta's behavior for an
    // ending bound past the newest commit)
    val end = endingVersion.map(_ min table.version).getOrElse(table.version)
    val df =
      if (startingVersion > end) table.emptyCdfFrame
      else table.changes(startingVersion, Some(end))
    df.rdd
  }
}

/** sources.Filter → Column, for the subset the pruner understands;
  * compound filters translate only if every leg does (a half-translated
  * OR would skip files it must keep). Shared by the V1 relation and the
  * catalog's V2→V1 scan bridge. */
private[sources] object FilterColumns {
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === v)
    case EqualNullSafe(a, v) => Some(col(a) <=> v)
    case GreaterThan(a, v) => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v) => Some(col(a) < v)
    case LessThanOrEqual(a, v) => Some(col(a) <= v)
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => (toColumn(l), toColumn(r)) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (one, other) => one.orElse(other) // AND legs prune independently
    }
    case Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }

  /** EXACT Filter → Column, for semantics-bearing uses (DELETE WHERE): a
    * filter translates only if EVERY node does — the pruning translation
    * above weakens untranslatable AND legs, which would widen a delete. */
  def toColumnExact(f: Filter): Option[Column] = f match {
    case And(l, r) => for (a <- toColumnExact(l); b <- toColumnExact(r)) yield a && b
    case Or(l, r) => for (a <- toColumnExact(l); b <- toColumnExact(r)) yield a || b
    case Not(c) => toColumnExact(c).map(!_)
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case leaf => toColumn(leaf) // leaf translations are exact
  }
}
