package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions}

import graft.analytics.Gold
import graft.core.Sessions
import graft.migrate.Migrate
import graft.streaming.{ChangeFeed, StreamIngest}
import graft.table.LakeTable
import graft.transform.{Scd2, Silver}

/** Spark job and task totals. Read around each call in traced runs: with one
  * client, every job that starts inside a call's wall-clock window is the
  * call's own. */
class JobCounters extends SparkListener {
  val jobs, tasks, taskMs, jobWallMs, inputBytes, shuffleBytes, outputBytes = new AtomicLong
  private val started = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); started.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach(s => jobWallMs.addAndGet(e.time - s))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    taskMs.addAndGet(e.taskInfo.duration)
    Option(e.taskMetrics).foreach { m =>
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
  def values: Seq[(String, Long)] = Seq("jobs" -> jobs, "tasks" -> tasks, "task_ms" -> taskMs,
    "job_wall_ms" -> jobWallMs, "input_bytes" -> inputBytes,
    "shuffle_bytes" -> shuffleBytes, "output_bytes" -> outputBytes).map { case (k, v) => k -> v.get }
}

/** CPU time of the JVM's Java threads: the driver, Spark's executor task
  * threads and the streaming threads. JIT compiler and GC threads are not
  * Java threads and are left out, and so is the time a thread waits to be
  * scheduled, which wall time counts. A sampler reads every live thread
  * every 100 ms, so a thread that ends keeps what it used up to its last
  * sample. */
class ThreadCpu extends Thread("perfbench-cpu-sampler") {
  private val mx = ManagementFactory.getThreadMXBean
  private val last = mutable.Map[Long, Long]()
  private var base = Map.empty[Long, Long]
  @volatile private var running = true
  setDaemon(true)

  private def sample(): Unit = synchronized {
    mx.getAllThreadIds.foreach { id =>
      if (id != getId) { val c = mx.getThreadCpuTime(id); if (c > 0) last(id) = c }
    }
  }
  /** Start counting from now; before the first mark, from thread start. */
  def mark(): Unit = { sample(); synchronized { base = last.toMap } }
  def ms: Double = {
    sample()
    synchronized { last.map { case (id, c) => c - base.getOrElse(id, 0L) }.sum / 1e6 }
  }
  def finish(): Unit = { running = false; join() }
  override def run(): Unit = while (running) { sample(); Thread.sleep(100) }
}

/** One record per timed call, written as JSON lines for the Python side to
  * reduce into metrics. `cls` is txn (a committing call), read, unit (one
  * loop unit: an arrival batch or a client request) or step. */
class Recorder(val spark: SparkSession, val trace: Boolean, out: Path) {
  private val mapper = new ObjectMapper()
  private val counters = new JobCounters
  val records = mutable.ArrayBuffer[java.util.LinkedHashMap[String, Any]]()
  if (trace) spark.sparkContext.addSparkListener(counters)
  private var phaseStart = System.nanoTime()
  var last: java.util.LinkedHashMap[String, Any] = _

  def startPhase(): Unit = phaseStart = System.nanoTime()
  def sincePhaseMs: Double = (System.nanoTime() - phaseStart) / 1e6

  def call[A](cls: String, kind: String, fields: (String, Any)*)(f: => A): A = {
    val before = if (trace) { drain(); counters.values } else Nil
    val t0 = System.nanoTime()
    val r = f
    val ms = (System.nanoTime() - t0) / 1e6
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("cls", cls); m.put("kind", kind); m.put("ms", ms)
    fields.foreach { case (k, v) => m.put(k, v) }
    if (trace) {
      drain()
      counters.values.zip(before).foreach { case ((k, a), (_, b)) => m.put(k, a - b) }
    }
    last = m
    records += m
    r
  }

  /** Let the listener bus deliver every event of the jobs that have ended. */
  private def drain(): Unit = org.apache.spark.perfbenchaccess.Bus.drain(spark.sparkContext)

  def write(summary: Map[String, Any]): Unit = {
    val w = Files.newBufferedWriter(out.resolve("ops.jsonl"))
    try records.foreach { m => w.write(mapper.writeValueAsString(m)); w.write("\n") }
    finally w.close()
    Files.write(out.resolve("summary.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(toJava(summary)))
  }

  def json(v: Any): String = mapper.writeValueAsString(toJava(v))

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }; j
    case s: Seq[_] => s.map(toJava).asJava
    case o => o
  }
}

/** Files under the table directories. Files are never rewritten in place, so
  * the union of every listing taken before a file can be deleted (VACUUM) and
  * at the end is every byte written. */
class DiskLedger(dirs: => Seq[Path]) {
  private val seen = mutable.Map[String, Long]()
  private var baseline = Set.empty[String]

  def listing(): Map[String, Long] = dirs.filter(Files.exists(_)).flatMap { d =>
    val s = Files.walk(d)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toList
    finally s.close()
  }.toMap

  def observe(): Map[String, Long] = { val l = listing(); seen ++= l; l }
  def markBaseline(): Unit = baseline = observe().keySet
  def writtenBytes: Long = seen.collect { case (p, s) if !baseline(p) => s }.sum
  def written(pred: String => Boolean): Seq[Long] =
    seen.collect { case (p, s) if !baseline(p) && pred(p) => s }.toSeq
}

abstract class Workload(val spark: SparkSession, val rec: Recorder, val man: JsonNode,
    val dir: Path, val out: Path) {
  import spark.implicits._

  val tables = mutable.ArrayBuffer[LakeTable]()
  lazy val ledger = new DiskLedger(tables.map(_.dir).toSeq)
  var inputBytes = 0L

  def str(k: String): String = man.get(k).asText()
  def size(p: String): Long = Files.size(Paths.get(p))
  def path(name: String): String = dir.resolve(name).toString

  def setup(): Unit
  /** One round of the workload's fixed operation mix. False when the inputs
    * are used up. */
  def round(): Boolean
  def finish(): Map[String, Any]

  /** A committing call. In traced runs also a fresh snapshot resolution of
    * each table it committed to, and the commits' history metrics. */
  def txn[A](kind: String, t: LakeTable, fields: (String, Any)*)(f: => A): A =
    txnAll(kind, Seq(t), fields: _*)(f)

  def txnAll[A](kind: String, ts: Seq[LakeTable], fields: (String, Any)*)(f: => A): A = {
    val v0 = ts.map(_.version)
    val r = rec.call("txn", kind, fields: _*)(f)
    val m = rec.last
    if (rec.trace) {
      val v1 = ts.map(_.version)
      m.put("commits", v1.sum - v0.sum)
      val metrics = mutable.Map[String, Long]().withDefaultValue(0L)
      var snapMs = 0.0
      ts.zip(v0.zip(v1)).filter { case (_, (a, b)) => b > a }.foreach { case (t, (a, b)) =>
        val s0 = System.nanoTime()
        LakeTable.forPath(spark, t.dir.toString).snapshot()
        snapMs += (System.nanoTime() - s0) / 1e6
        t.history(Some((b - a).toInt)).filter($"version" > a).select("operationMetrics")
          .collect().flatMap(_.getMap[String, String](0).toSeq)
          .foreach { case (k, v) => metrics(k) += scala.util.Try(v.toLong).getOrElse(0L) }
      }
      m.put("snapshot_ms", snapMs)
      metrics.foreach { case (k, v) => m.put("h_" + k, v) }
    }
    r
  }

  /** A read call, up to a collected result; traced runs add files scanned
    * and the live file count of the version read. */
  def read(kind: String, t: LakeTable, version: Option[Long] = None)(df: => DataFrame): Array[Row] = {
    var frame: DataFrame = null
    val rows = rec.call("read", kind) { frame = df; frame.collect() }
    rec.last.put("scan_rows", rows.length)
    if (rec.trace) {
      rec.last.put("files_scanned", frame.inputFiles.length)
      rec.last.put("live_files", t.snapshot(version).files.size)
    }
    rows
  }

  /** Byte and log accounting over the workload's tables, for write_amp,
    * space_amp and the log layer. */
  def diskSummary(): Map[String, Any] = {
    val now = ledger.observe()
    val snaps = tables.map(_.snapshot())
    Map(
      "bytes_written" -> ledger.writtenBytes,
      "bytes_on_disk" -> now.values.sum,
      "live_bytes" -> snaps.map(_.files.map(_.size).sum).sum,
      "input_bytes" -> inputBytes,
      "checkpoints" -> ledger.written(_.contains(".checkpoint.")).size,
      "checkpoint_bytes" -> ledger.written(_.contains(".checkpoint.")).sum,
      "log_bytes" -> ledger.written(p => p.contains("/_txlog/")).sum,
      "live_files" -> snaps.map(_.files.size).sum,
      "dv_count" -> snaps.map(_.dvs.size).sum)
  }

  def dump(df: DataFrame, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
}

/** Bronze → silver → gold. Each loop unit is one arrival batch: events land
  * as a file the stream ingests into bronze, go to silver by a change-feed
  * MERGE and to gold by a refresh of the dates they touch; customer changes
  * go to the SCD2 dimension; an orders slice lands in a legacy source that
  * an incremental migration takes past its watermark. The batch ends when
  * its gold rows are read back, after silver is compacted and vacuumed. A
  * round is one batch. */
class MedallionStream(spark: SparkSession, rec: Recorder, man: JsonNode, dir: Path, out: Path)
    extends Workload(spark, rec, man, dir, out) {
  import spark.implicits._

  val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("arrival_seq", LongType)))
  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType),
    StructField("arrival_seq", LongType)))
  val tracked = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  val ingestCols = Seq("_ingestion_timestamp", "_ingestion_date", "_source_file", "_record_hash")
  val cdfCols = Seq("_change_type", "_commit_version", "_commit_timestamp")
  val cdf = Map("graft.enableChangeDataFeed" -> "true")

  var bronzeEv, bronzeOrd, silverEv, dim, goldUser: LakeTable = _
  var query: StreamingQuery = _
  var feed: ChangeFeed = _
  var batch = 0
  var ordersWatermark: Option[String] = None
  var ordersMigrated = 0L
  val batches: Seq[JsonNode] = man.get("batches").elements().asScala.toSeq

  /** Latest row per key by arrival_seq, then the silver cleansing. */
  def latest(df: DataFrame, key: String): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(key).orderBy($"arrival_seq".desc)))
      .filter($"__rn" === 1).drop("__rn")
  def cleanEv(df: DataFrame): DataFrame = Silver.cleanEvents(latest(df, "event_id"))
  def empty(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  def goldUserFor(filters: Seq[Column]): DataFrame =
    Gold.dailyUserActivity(silverEv.read(filters))

  def setup(): Unit = {
    val customer = spark.read.parquet(str("customer")).withColumn("change_seq", lit(0L))
    dim = Scd2.initialize(spark, path("dim_customer"), customer, tracked, new Timestamp(0L))
    bronzeEv = LakeTable.create(spark, path("bronze_events"), eventsSchema, properties = cdf)
    bronzeOrd = LakeTable.create(spark, path("bronze_orders"), ordersSchema, properties = cdf)
    silverEv = LakeTable.create(spark, path("silver_events"), cleanEv(empty(eventsSchema)).schema,
      Seq("event_date"))
    goldUser = LakeTable.create(spark, path("gold_user_activity"),
      goldUserFor(Nil).schema, Seq("event_date"))
    tables ++= Seq(bronzeEv, bronzeOrd, silverEv, dim, goldUser)
    Files.createDirectories(dir.resolve("landing/events"))
    Files.createDirectories(dir.resolve("legacy/orders"))
    query = StreamIngest.ingest(spark, path("landing/events"), eventsSchema, bronzeEv,
      path("chk/events"), StreamIngest.StreamConfig(format = "parquet"))
    feed = new ChangeFeed(bronzeEv, path("feed/bronze_events.version"))
    // batch 0 is the initial history: it builds the tables through the same
    // path the timed batches take, which also warms the JVM up
    runBatch(maintain = false)
  }

  /** Copy a generated file into a watched directory, atomically. */
  def land(file: String, target: Path): Long = {
    val tmp = target.resolveSibling("." + target.getFileName + ".tmp")
    Files.copy(Paths.get(file), tmp)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    Files.size(target)
  }

  def streamProgress(): Unit =
    query.recentProgress.filter(_.numInputRows > 0).lastOption.foreach { p =>
      val d = p.durationMs.asScala
      rec.records += new java.util.LinkedHashMap[String, Any](Map[String, Any](
        "cls" -> "step", "kind" -> "trigger",
        "ms" -> d.get("triggerExecution").map(_.toDouble).getOrElse(0.0),
        "add_batch_ms" -> d.get("addBatch").map(_.toDouble).getOrElse(0.0),
        "rows" -> p.numInputRows).asJava)
    }

  def round(): Boolean = {
    if (batch >= batches.size) return false
    runBatch(maintain = true)
    true
  }

  def runBatch(maintain: Boolean): Unit = {
    val b = batches(batch)
    val evRows = b.get("events_rows").asLong()
    val ordRows = b.get("orders_rows").asLong()
    val dates = b.get("dates").elements().asScala.map(d => java.sql.Date.valueOf(d.asText())).toSeq
    rec.call("unit", "batch") {
      inputBytes += land(b.get("events").asText(), dir.resolve(f"landing/events/b$batch%04d.parquet"))
      txn("ingest", bronzeEv, "rows" -> evRows) { query.processAllAvailable() }
      if (rec.trace) streamProgress()
      inputBytes += land(b.get("orders").asText(), dir.resolve(f"legacy/orders/b$batch%04d.parquet"))
      val (res, wm) = txn("slice", bronzeOrd, "rows" -> ordRows) {
        Migrate.incremental(spark.read.schema(ordersSchema).parquet(path("legacy/orders")),
          bronzeOrd, "arrival_seq", ordersWatermark)
      }
      ordersWatermark = wm
      ordersMigrated += ordRows
      val counted = read("validate", bronzeOrd)(bronzeOrd.read().select(count(lit(1)))).head.getLong(0)
      require(res.validationPassed && res.sourceRows == ordRows && counted == ordersMigrated,
        s"migration slice $batch: $res, table rows $counted, expected $ordersMigrated")
      rec.call("step", "silver") {
        feed.processOnce { changes =>
          val src = cleanEv(changes.filter($"_change_type" === "insert").drop(cdfCols: _*))
          txn("merge", silverEv, "source_rows" -> evRows) {
            silverEv.merge(src, $"target.event_id" === $"source.event_id")
              .whenMatchedUpdateAll(Some($"source.arrival_seq" > $"target.arrival_seq"))
              .whenNotMatchedInsertAll()
              .execute()
          }
        }
      }
      if (b.has("customers")) {
        inputBytes += size(b.get("customers").asText())
        val changes = spark.read.parquet(b.get("customers").asText())
        val ts = new Timestamp(1000L * batch)
        txn("scd2", dim, "source_rows" -> b.get("customers_rows").asLong()) {
          Scd2.upsert(dim, changes, Seq("c_custkey"), tracked, ts, Seq($"change_seq"))
        }
        if (rec.trace) rec.last.put("rows_closed",
          dim.read(Seq($"effective_end" === lit(ts))).count())
      }
      // gold: recompute the dates this batch touched
      val byDate = Seq($"event_date".isin(dates: _*))
      rec.call("step", "gold") {
        txn("overwrite", goldUser) { goldUser.overwriteDynamic(goldUserFor(byDate)) }
      }
      if (maintain) {
        ledger.observe()
        txn("optimize", silverEv) { silverEv.optimizeCompact(targetFileSize = 8L << 20) }
        val deleted = txn("vacuum", silverEv) { silverEv.vacuum(retainHours = 0.0) }
        rec.last.put("files_deleted", deleted.size)
      }
      read("gold_read", goldUser)(goldUser.read(byDate))
    }
    rec.last.put("queryable", evRows + ordRows)
    batch += 1
  }

  def finish(): Map[String, Any] = {
    query.stop()
    val s = diskSummary()
    dump(bronzeEv.read(), "bronze_events")
    dump(bronzeOrd.read().drop(ingestCols: _*), "bronze_orders")
    dump(silverEv.read(), "silver_events")
    dump(goldUser.read(), "gold_user_activity")
    dump(dim.read(), "dim_customer")
    s + ("batches_landed" -> batch)
  }
}

/** A single closed-loop client against a keyed table with deletion vectors
  * and the change feed on, replaying the generated script in whole rounds. */
class TableService(spark: SparkSession, rec: Recorder, man: JsonNode, dir: Path, out: Path)
    extends Workload(spark, rec, man, dir, out) {
  import spark.implicits._

  val mapper = new ObjectMapper()
  lazy val script: Array[JsonNode] = Files.readAllLines(Paths.get(str("script"))).asScala
    .map(l => mapper.readTree(l)).toArray
  val roundOps: Int = man.get("round_ops").asInt()
  val epochDay = java.time.LocalDate.of(1995, 1, 1)
  var t: LakeTable = _
  var startVersion = 0L
  var next = 0
  val results = mutable.ArrayBuffer[String]()
  val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  def rowsOf(op: JsonNode): DataFrame = {
    val rows = op.get("rows").elements().asScala.map { r =>
      Row(r.get("o_orderkey").asLong(), r.get("o_custkey").asLong(),
        r.get("o_orderstatus").asText(), r.get("o_totalprice").asDouble(),
        Timestamp.valueOf(epochDay.plusDays(r.get("o_orderdate").asLong()).atStartOfDay()),
        r.get("o_orderpriority").asText())
    }.toList
    spark.createDataFrame(rows.asJava, schema)
  }

  /** count, key sum, price-cent sum and a key-weighted cent checksum: any
    * dropped, duplicated or stale row moves at least one of them. */
  def checksum(df: DataFrame): DataFrame = {
    val cents = functions.round($"o_totalprice" * 100).cast(LongType)
    df.agg(count(lit(1)), sum($"o_orderkey"), sum(cents),
      sum(($"o_orderkey" % 1000) * (cents % 1000)))
  }

  def setup(): Unit = {
    val init = spark.read.parquet(str("init"))
      .select(schema.fieldNames.toIndexedSeq.map(col): _*)
    t = LakeTable.create(spark, path("orders"), schema, properties = Map(
      "graft.enableDeletionVectors" -> "true", "graft.enableChangeDataFeed" -> "true"))
    t.append(init.repartitionByRange(8, $"o_orderkey"))
    tables += t
    // warm-up: one request of each kind against a small scratch table, so
    // the timed rounds start on the untouched fixture
    val warm = LakeTable.create(spark, path("warmup"), schema, properties = t.properties)
    warm.append(init.limit(2000))
    val saved = t
    t = warm
    script.take(roundOps).groupBy(_.get("op").asText()).values.map(_.head)
      .foreach(op => run(op, record = false))
    t = saved
    // a long-lived table's commit history: cheap metadata-only commits, so
    // the timed rounds commit and resolve snapshots past hundreds of
    // versions and several checkpoints
    (1 to man.get("history_commits").asInt())
      .foreach(i => t.setProperties(Map("perfbench.history" -> i.toString)))
    results.clear()
    startVersion = t.version
  }

  def round(): Boolean = {
    if (next + roundOps > script.length) return false
    script.slice(next, next + roundOps).foreach(op => run(op, record = true))
    next += roundOps
    true
  }

  def log(m: Map[String, Any]): Unit = results += rec.json(m)

  def run(op: JsonNode, record: Boolean): Unit = {
    val kind = op.get("op").asText()
    var rowsIn = 0L
    rec.call("unit", "request", "op" -> kind) {
      kind match {
        case "point_read" =>
          val k = op.get("key").asLong()
          val rows = read("read", t)(t.read(Seq($"o_orderkey" === k)))
          log(Map("op" -> kind, "key" -> k, "version" -> t.version,
            "rows" -> rows.map(r => Seq(r.getLong(0), r.getDouble(3), r.getString(2))).toSeq))
        case "time_travel" =>
          val v = math.max(startVersion, t.version - op.get("back").asLong())
          val r = read("time_travel", t, Some(v))(checksum(t.read(version = Some(v)))).head
          rec.last.put("scan_rows", r.getLong(0))
          log(Map("op" -> kind, "version" -> v, "checksum" -> (0 until 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))))
        case "cdf" =>
          val v = t.version
          val rows = read("cdf", t)(t.changes(v, Some(v)))
          log(Map("op" -> kind, "version" -> v, "rows" -> rows.map(r => Seq(
            r.getAs[String]("_change_type"), r.getAs[Long]("o_orderkey"),
            r.getAs[Double]("o_totalprice"), r.getAs[String]("o_orderstatus"))).toSeq))
        case "append" =>
          val df = rowsOf(op)
          rowsIn = op.get("rows").size()
          val v = txn("append", t, "rows" -> rowsIn) { t.append(df) }
          log(Map("op" -> kind, "version" -> v))
        case "merge" =>
          val df = rowsOf(op)
          rowsIn = op.get("rows").size()
          val v = txn("merge", t, "source_rows" -> rowsIn) {
            t.merge(df, $"target.o_orderkey" === $"source.o_orderkey")
              .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
          }
          log(Map("op" -> kind, "version" -> v))
        case "update" =>
          rowsIn = 1
          val v = txn("update", t) {
            t.update($"o_orderkey" === op.get("key").asLong(), Map(
              "o_totalprice" -> lit(op.get("price").asDouble()),
              "o_orderstatus" -> lit(op.get("status").asText())))
          }
          log(Map("op" -> kind, "version" -> v))
        case "delete" =>
          rowsIn = 1
          val v = txn("delete", t) { t.delete($"o_orderkey" === op.get("key").asLong()) }
          log(Map("op" -> kind, "version" -> v))
        case "optimize" =>
          val v = txn("optimize", t) { t.optimizeCompact(targetFileSize = 1L << 20) }
          log(Map("op" -> kind, "version" -> v))
      }
    }
    rec.last.put("queryable", rowsIn)
    if (record && op.has("rows")) inputBytes += op.get("rows").toString.length
    if (!record) rec.records.clear()
  }

  def finish(): Map[String, Any] = {
    val s = diskSummary()
    Files.write(out.resolve("results.jsonl"), results.mkString("", "\n", "\n").getBytes)
    dump(t.read(), "final")
    s + ("ops_done" -> next, "start_version" -> startVersion)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, scratch, seconds, trace, slots) = args
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpu = new ThreadCpu
    cpu.start()
    val dir = Paths.get(scratch).toAbsolutePath
    val out = Files.createDirectories(dir.resolve("out"))
    val man = new ObjectMapper().readTree(dir.resolve("inputs/manifest.json").toFile)
    val s0 = System.nanoTime()
    val spark = Sessions.builder("perfbench", Sessions.Local(slots.toInt))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - s0) / 1e6
    val rec = new Recorder(spark, trace == "1", out)
    val tables = dir.resolve("tables")
    val w: Workload = workload match {
      case "medallion_stream" => new MedallionStream(spark, rec, man, tables, out)
      case "table_service" => new TableService(spark, rec, man, tables, out)
    }
    w.setup()
    rec.records.clear()
    w.ledger.markBaseline()
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    pools.foreach(_.resetPeakUsage())
    val gc0 = gcs.map(g => (g.getCollectionCount, g.getCollectionTime))
    val setupMs = (System.currentTimeMillis() - jvmStart).toDouble
    val setupCpuMs = cpu.ms
    cpu.mark()
    rec.startPhase()
    val budgetMs = seconds.toDouble * 1000
    var rounds = 0
    while (rec.sincePhaseMs < budgetMs && w.round()) rounds += 1
    val timedMs = rec.sincePhaseMs
    val timedCpuMs = cpu.ms
    cpu.finish()
    val gc1 = gcs.map(g => (g.getCollectionCount, g.getCollectionTime))
    val heapPeak = pools.map(_.getPeakUsage.getUsed).sum
    System.gc()
    val heapLive = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val summary = w.finish() ++ Map(
      "workload" -> workload, "trace" -> (trace == "1"), "rounds" -> rounds,
      "setup_ms" -> setupMs, "session_ms" -> sessionMs, "timed_ms" -> timedMs,
      "setup_cpu_ms" -> setupCpuMs, "timed_cpu_ms" -> timedCpuMs,
      "gc_count" -> gc1.zip(gc0).map { case (a, b) => a._1 - b._1 }.sum,
      "gc_ms" -> gc1.zip(gc0).map { case (a, b) => a._2 - b._2 }.sum,
      "heap_peak_bytes" -> heapPeak, "heap_live_bytes" -> heapLive)
    rec.write(summary)
    spark.stop()
  }
}
