package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.log.Pruner
import graft.table.LakeTable

/** Benchmark main: mirrors the reference's benchmark suite
  * (benchmarks/delta_performance_benchmark.py — write / read / merge /
  * time-travel / zorder / pruning / optimize, see BASELINE.md) over the
  * graft table format at the driver-provided scale factor, plus per-query
  * timings for every SparkEntry query. Emits ONE JSON line.
  */
object Bench {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def scratch(name: String): String =
    Files.createTempDirectory(s"bench-$name").resolve("t").toString

  /** Queries whose steady-state cost is legitimately high (streaming
    * lifecycles: fixed per-epoch StreamingQuery startup × several epochs)
    * — exempt from the absolute-anomaly trigger below. Keyed by the qNN
    * prefix; extend when a new legitimately-heavy gate lands. */
  private[graft] val KnownHeavyPrefixes = Set("q60", "q72", "q79", "q109")

  /** Which queries deserve an isolated re-measurement — the contention
    * self-healing trigger, pure for testability. Three independent flags:
    *  - EXTERNAL load at start (loadavg > ncpu/4 before this run did any
    *    work): the whole run is suspect; re-measure the `topN` most
    *    expensive queries (they dominate the total and the adjudication);
    *  - PER-QUERY warm-rep spread (max/min > `spreadX` across the reps
    *    that produced the billed value, on a query billing > `minSec`):
    *    something stole time mid-measurement for THAT query, whatever the
    *    ambient load said;
    *  - ABSOLUTE anomaly (billed > `anomalousSec` on a query outside
    *    [[KnownHeavyPrefixes]]): no sf0.1 gate legitimately costs this
    *    much warm — the r11 artifact billed q64 at 22 s (quiet envelope
    *    2.1–2.4) under contention that neither other flag would have
    *    caught (load was low at start, and a heavy query's single warm
    *    rep carries no spread).
    * Returned anomaly-first (then spread, then load top-costs),
    * deduplicated, capped at `topN + 3` so a pathologically noisy run
    * cannot double the bench's wall time. */
  private[graft] def remeasureTargets(
      results: Seq[(String, Double)],
      warmReps: Map[String, Seq[Double]],
      loadAtStart: Double,
      ncpu: Int,
      topN: Int = 5,
      spreadX: Double = 3.0,
      minSec: Double = 1.0,
      anomalousSec: Double = 8.0): Seq[String] = {
    val byCost = results.sortBy(-_._2)
    val loadFlagged: Seq[String] =
      if (loadAtStart > ncpu / 4.0) byCost.take(topN).map(_._1) else Nil
    val spreadFlagged: Seq[String] = byCost.collect {
      case (name, billed) if billed > minSec &&
        warmReps.get(name).exists(r =>
          r.size >= 2 && r.min > 0 && r.max / r.min > spreadX) => name
    }
    val anomalyFlagged: Seq[String] = byCost.collect {
      case (name, billed) if billed > anomalousSec &&
        !KnownHeavyPrefixes.contains(name.split('_').head) => name
    }
    // anomalies FIRST: they are the queries whose billed values most need
    // adjudication, and must never be evicted by the cap when the load
    // flag fills the slots with (possibly legitimately heavy) top-costs
    (anomalyFlagged ++ spreadFlagged ++ loadFlagged).distinct.take(topN + 3)
  }

  /** Per-query envelope check (r13 — closing the two blind spots the r12
    * artifact exposed): a COMMITTED quiet-run baseline makes every query
    * self-adjudicating, including streaming lifecycles (exempt from the
    * absolute trigger above) and the 2–6 s band invisible to the 8 s
    * threshold (the r12 q28 shape: billed 5.9 s against a ~2.7 s quiet
    * envelope, adjudicated by hand a round later). A query flags when
    * billed > `factor` × its baseline AND above `minSec` (sub-second
    * jitter never flags). Queries absent from the baseline — new gates —
    * pass; they enter the baseline at the next quiet pin. */
  private[graft] def envelopeTargets(
      results: Seq[(String, Double)],
      baseline: Map[String, Double],
      factor: Double = 1.3,
      minSec: Double = 0.3): Seq[String] =
    // r15 (verdict task 8): factor 2.0 -> 1.3 and minSec 1.0 -> 0.3 — ten
    // of r14's ten "regressions" were contention but only the one above
    // the old threshold self-adjudicated; q15-sized movers (0.8 -> 1.1 s)
    // now flag too. Worst billed/envelope ratio first, so the combined
    // suspects cap keeps the most anomalous entries.
    results.collect { case (name, billed)
      if billed > minSec && baseline.get(name).exists(b =>
        b > 0 && billed / b > factor) =>
        (name, billed / baseline(name)) }
      .sortBy(-_._2).map(_._1)

  /** The BENCH_DETAIL remeasure fields: isolated re-measurements keyed
    * like `queries` plus the 1-minute loadavg recorded at each entry's OWN
    * measurement time (r13 verdict task 7 — the remeasure previously ran
    * in the same contended end-of-run window it was adjudicating, so its
    * numbers could not self-adjudicate; with per-entry load in the
    * artifact, a 13.2 s-at-load-14 reading is visibly contention). Empty
    * when nothing was flagged. */
  private[graft] def remeasuredDetailField(
      remeasured: Seq[(String, Double, Double)],
      jnum: Double => String): String =
    if (remeasured.isEmpty) ""
    else {
      val vs = remeasured.map { case (k, v, _) => s""""$k":${jnum(v)}""" }
        .mkString("{", ",", "}")
      val ls = remeasured.map { case (k, _, l) => s""""$k":${jnum(l)}""" }
        .mkString("{", ",", "}")
      s""","remeasured":$vs,"remeasured_load":$ls"""
    }

  /** One query's billed value from its timed reps (None = the rep
    * failed): the median of the warm reps that SUCCEEDED (a heavyweight
    * query has one warm rep, a cheap one three), else a successful first
    * rep. None when every rep failed — a failed query is not a timing, so
    * it is not billed at all. */
  private[graft] def billedValue(first: Option[Double],
      warm: Seq[Option[Double]]): Option[Double] = {
    val ok = warm.flatten.sorted
    if (ok.nonEmpty) Some(ok((ok.size - 1) / 2)) else first
  }

  /** The BENCH_DETAIL `failed` field: one entry per failed rep — query
    * name, the phase it failed in (`bench` or `remeasure`) and the error
    * message. Empty when nothing failed. */
  private[graft] def failedDetailField(failed: Seq[(String, String, String)]): String =
    if (failed.isEmpty) ""
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      failed.map { case (name, phase, msg) =>
        s"""{"query":${m.writeValueAsString(name)},"phase":"$phase",""" +
          s""""message":${m.writeValueAsString(msg)}}"""
      }.mkString(""","failed":[""", ",", "]")
    }

  /** The committed quiet-run baseline (`bench_envelope.json`, flat
    * name→seconds; path overridable via SPARK_GRAFT_ENVELOPE). Empty when
    * absent or unparseable — the envelope trigger simply stands down. */
  private[graft] def loadEnvelope(): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_ENVELOPE", "bench_envelope.json"))
      if (!java.nio.file.Files.isRegularFile(p)) Map.empty
      else {
        val body = java.nio.file.Files.readString(p)
        val kv = """"([A-Za-z0-9_]+)"\s*:\s*(-?[0-9.]+)""".r
        kv.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Section isolation, not a speedup: flush the PREVIOUS section's dirty
    * pages and retire its garbage before starting a timed section, so a
    * measurement isn't billed for its predecessor's deferred writeback/GC.
    * (r03: the 10M-row merge ran at 13.7s mid-bench vs 4.5s steady-state in
    * isolation — the delta was writeback interference from the write strain,
    * not merge work.) Each section still pays for all IO it issues itself. */
  private def quiesce(): Unit = {
    try { new ProcessBuilder("sync").start().waitFor(): Unit }
    catch { case scala.util.control.NonFatal(_) => }
    System.gc()
  }

  /** Run-private scratch root: redirect java.io.tmpdir to a fresh directory
    * before ANY temp-file API call (java.nio's TempFileHelper caches the
    * property at first use), so every scratch dir this process creates —
    * query scratch tables, CTAS warehouses, stream checkpoints, Spark's own
    * local dirs, the q68 index cache — lands under one root this run owns.
    * Reclaim then deletes exactly what this run created and nothing else; a
    * concurrent graft process keeps its own root untouched (the r5 mtime
    * heuristic had that inverted: it spared idle pre-existing dirs but
    * deleted a concurrent process's LIVE scratch).
    * No temp-file API may run before this: build the path by hand. */
  private def claimRunTmpdir(): java.nio.file.Path = {
    val base = System.getProperty("java.io.tmpdir", "/tmp")
    val d = java.nio.file.Paths.get(base,
      s"graft-bench-run-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    java.nio.file.Files.createDirectories(d)
    System.setProperty("java.io.tmpdir", d.toString)
    d
  }

  /** Host-contention snapshot: 1-minute loadavg (from /proc/loadavg) and
    * the machine's running-process count, recorded at bench start AND end
    * and emitted in the result JSON. Rationale: the r10 driver run billed
    * untouched queries 2–7× their r9 times while every plan-shape metric
    * stayed bit-identical — pure host contention — and the only evidence
    * was circumstantial. With load in the JSON, a contended run flags
    * itself. Best-effort: absent /proc (non-Linux) emits null load and a
    * -1 process count. */
  private def hostLoad(): (Double, Long) = {
    val load =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => Double.NaN }
    val procs =
      try {
        val s = Files.list(java.nio.file.Paths.get("/proc"))
        try s.iterator().asScala
          .count(p => p.getFileName.toString.forall(_.isDigit)).toLong
        finally s.close()
      } catch { case scala.util.control.NonFatal(_) => -1L }
    (load, procs)
  }

  def main(args: Array[String]): Unit = {
    val runTmp = claimRunTmpdir()
    val loadStart = hostLoad()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // child mode (SPARK_GRAFT_OPS_CHILD=1): this JVM was forked by a parent
    // Bench run purely to measure the ops sections against a fresh JVM —
    // skip the query section, never fork again
    val opsChild = sys.env.get("SPARK_GRAFT_OPS_CHILD").contains("1")
    val spark = graft.core.Sessions.local(cpus.toInt, "graft-bench")
    spark.sparkContext.setLogLevel("ERROR")

    // warmup: load classes/codegen against the smallest SF, including the
    // DML plan shapes (merge/update/delete JIT costs ~3s on first touch,
    // which would otherwise be billed to the first timed merge)
    try {
      // the ops-only child JVM needs just the tables ops touch (lineitem,
      // orders) plus the DML plan shapes below — the full-query warmup
      // would bill it ~25s of wall the driver's bench budget pays for
      if (!opsChild) SparkEntry.entry(spark).count()
      // prime the page cache for every bench-SF table: otherwise the
      // alphabetically-first query touching each file pays its cold read
      // (q18 billed 3.07s in r03 vs 0.77s warm — pure first-touch, the
      // plan was unchanged) and median-of-3 doesn't absorb it when the
      // whole disk is cold
      val warmTables =
        if (opsChild) Seq("lineitem", "orders")
        else Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
          "region", "documents", "embeddings")
      warmTables.foreach { t =>
        graft.core.Tables(spark, sfDir, t).count(): Unit
      }
      if (!opsChild) graft.core.Tables.events(spark, sfDir).count()
      val wgen = spark.range(20000)
        .withColumn("k", col("id") % 1000)
        .withColumn("v", (col("id") % 97).cast("decimal(18,2)"))
      val wsrc = spark.range(0, 20000, 10)
        .withColumn("k", col("id") % 1000)
        .withColumn("v", lit(java.math.BigDecimal.ONE).cast("decimal(18,2)"))
      val w1 = LakeTable.createFrom(spark, scratch("warm"), wgen)
      (1 to 2).foreach { _ =>
        w1.merge(wsrc, col("target.id") === col("source.id"))
          .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      }
      w1.update(col("id") === 1L, Map("v" -> lit(java.math.BigDecimal.TEN)))
      w1.delete(col("id") === 2L)
    } catch { case scala.util.control.NonFatal(_) => }
    quiesce()

    // ---- per-query timings (full materialization via noop sink) ----
    // Timed FIRST, right after warmup: r02 ran these after the 10M-row
    // strain section and every query paid for the resulting heap churn /
    // old-gen garbage (q2 went 1.1s -> 24.4s with zero plan change).
    // median of 3 runs: the first run pays first-touch costs (codegen,
    // file-footer reads, page cache) that r01 mistook for plan cost, and
    // run-to-run IO noise on this machine is ±15%.
    // SPARK_GRAFT_ONLY=q2,q28 (prefix match) and SPARK_GRAFT_SKIP_OPS=1 are
    // local-iteration escape hatches; the driver sets neither.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val benchQueries = if (opsChild) Map.empty[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]
    else SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.exists(p => n == p || n.startsWith(p + "_")))
    }
    // per-query rep history (billed value + every warm rep) — the
    // self-healing pass below re-measures queries whose own reps flag
    // noise, so a contended run carries its adjudication data with it
    val repHistory = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val queryFns = benchQueries
    // every failed rep, as (query, phase, message): recorded on
    // BENCH_DETAIL and never billed as a timing
    val failed = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    def attempt(name: String, phase: String)(
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val (ok, sec) = timed {
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $phase $name failed: ${e.getMessage}")
          failed += ((name, phase, String.valueOf(e.getMessage)))
          false
        }
      }
      if (ok) Some(sec) else None
    }
    val results = benchQueries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      def rep(): Option[Double] = attempt(name, "bench")(fn)
      // rep budget adapts to the query's own cost: heavyweight queries
      // (first rep > 2.5s) run twice and report the warm second run —
      // their cost is fixed work (stream lifecycles, clustered rewrites,
      // KMeans) that noise barely moves. Cheap queries report the WARM
      // median: the first rep is discarded as warmup and the median of
      // three subsequent reps is reported. Round-8 methodology change,
      // after two consecutive rounds of driver-bench movements pinned as
      // first-touch noise on identical code (q64 r5, q3 r7, q54/q62/q63 +
      // write/dv_merge ops r8): a stage breakdown of q54 showed its
      // setup-heavy append converging 3.00 -> 1.03 -> 0.65s across warm
      // reps in one JVM — the OLD median-of-3-including-cold mostly
      // measured JIT/shuffle-service/page-cache warmup, not plan cost.
      val first = rep()
      val warmReps =
        if (first.exists(_ > 2.5)) Seq(rep()) // the warm second run
        else Seq(rep(), rep(), rep())
      repHistory(name) = warmReps.flatten
      // queries that persist() intermediates rely on the ContextCleaner to
      // drop the blocks once the frames are GC'd; under a 60-query run the
      // stale blocks outlive their query, fill storage memory, and evict
      // the NEXT query's hot blocks mid-run (observed: q23 3.3s alone vs
      // 11s mid-bench). Clear the cache between queries so each is timed
      // against its own working set, like a fresh session would be.
      spark.catalog.clearCache()
      Bench.billedValue(first, warmReps).map(name -> _)
    }

    // ---- contention self-healing (r11 verdict task 7) ----
    // When the run flags itself as contended — external load at start, or
    // a query's own warm reps spreading >3× — the suspects re-measure
    // ISOLATED (sequentially, everything else done) and the result rides
    // the JSON as a `remeasured` map alongside the billed `queries`, so
    // the adjudication r10/r11 did by hand ships in the artifact itself.
    // The billed values stay untouched (driver comparability).
    // contention flags + committed-envelope flags (streaming and the sub-8s
    // band self-adjudicate too); combined cap bounds the re-measure cost
    // cap 12 -> 24 (r15): the widened 1.3x envelope trigger can flag a
    // dozen-plus sub-second movers on a contended run; each remeasure is a
    // best-of-2 warm rep of a mostly-small query, so the worst-case added
    // wall is bounded and the adjudication data rides the artifact
    val suspects = (Bench.remeasureTargets(
      results, repHistory.toMap, loadStart._1,
      Runtime.getRuntime.availableProcessors()) ++
      Bench.envelopeTargets(results, Bench.loadEnvelope()))
      .distinct.take(24)
    // quiesce BEFORE the isolated reps (r13 verdict task 7): the remeasure
    // ran in the same contended end-of-run window it was adjudicating, so a
    // 13.2 s-at-load-14 number was indistinguishable from a regression.
    // Flushing the run's writeback debt first, and recording the load at
    // each entry's own measurement time, makes the remeasure
    // self-adjudicating in-artifact.
    if (!opsChild && suspects.nonEmpty) quiesce()
    val remeasured: Seq[(String, Double, Double)] =
      if (opsChild) Nil
      else suspects.flatMap { name =>
        queryFns.get(name).flatMap { fn =>
          val loadNow = hostLoad()._1
          // best-of-2, warm, isolated, over the reps that succeeded
          val reps = Seq(attempt(name, "remeasure")(fn),
            attempt(name, "remeasure")(fn)).flatten
          spark.catalog.clearCache()
          reps.minOption.map(v => (name, v, loadNow))
        }
      }

    // The query section leaves GBs of scratch tables / checkpoints / CTAS
    // warehouses in the run tmpdir (75 queries × 3 reps); their dirty
    // pages and writeback debt bill the strain sections that follow
    // (observed: 10M-row merge 6.7s against a clean tmpdir vs 12.5s after
    // a full query pass — same code, same data). Reclaim everything the
    // queries created, then sync, so the ops below are measured against
    // the machine state a fresh run would see. Everything under runTmp is
    // this run's property; the only survivors are Spark's own LIVE local
    // dirs (block manager / shuffle scratch of the still-running session).
    if (!opsChild) {
      val doomed = java.nio.file.Files.list(runTmp)
      try doomed.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          !n.startsWith("spark-") && !n.startsWith("blockmgr-")
        }
        .foreach(graft.log.TxLog.deleteRecursively)
      finally doomed.close()
      quiesce()
    }

    // ---- table-format ops (BASELINE.md operation set) ----
    val skipOps = sys.env.get("SPARK_GRAFT_SKIP_OPS").contains("1")
    val ops: scala.collection.Map[String, Double] =
      if (skipOps) Map.empty[String, Double]
      else if (opsChild) runOpsInline(spark, sfDir)
      else forkOps().getOrElse {
        System.err.println("[bench] ops fork failed; measuring ops in this JVM")
        runOpsInline(spark, sfDir)
      }

    emitResult(results, ops, sfDir, spark, runTmp, loadStart, hostLoad(),
      remeasured, failed.toSeq)
  }

  /** The BASELINE.md ops sections, measured in THIS JVM. Called directly in
    * the forked child (fresh JVM = the steady state a real job sees) and as
    * the fallback when the fork fails. Measured r6 on identical code: write
    * strain 12.7M rows/s in a fresh JVM vs 8.0M after the 75-query section,
    * merge 328K vs 149K — the query section's old-gen garbage, JIT/code-cache
    * churn and page-cache pollution billed the ops even after reclaim+GC,
    * which is why the ops now get their own process. */
  private def runOpsInline(
      spark: SparkSession, sfDir: String): scala.collection.Map[String, Double] = {
    val ops = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val li = Tables.lineitem(spark, sfDir)
    val liRows = li.count().toDouble

    // sf0.1-scale latency variants (small_*): fixed per-op overhead at a
    // scale where the data is almost free — the headline throughput numbers
    // are measured below at BASELINE.md's own 10M-row shape.
    val gen = spark.range(liRows.toLong)
      .withColumn("user_id", concat(lit("user_"), col("id") % 10000))
      .withColumn("amount", (col("id") % 1000).cast("decimal(18,2)"))
      .withColumn("category", concat(lit("cat_"), col("id") % 50))
      .withColumn("event_date", date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") % 30).cast("int")))
    val wt = LakeTable.create(spark, scratch("write"), gen.schema)
    val (_, writeSec) = timed(wt.append(gen))
    ops += "small_write_rows_per_sec" -> liRows / writeSec
    ops += "small_write_sec" -> writeSec

    val (_, readSec) = timed(wt.read().count())
    ops += "small_read_rows_per_sec" -> liRows / readSec
    val (_, readAggSec) = timed(wt.read().agg(sum("amount")).collect())
    ops += "small_read_agg_rows_per_sec" -> liRows / readAggSec

    // small merge: 10% upsert into a 150K-row table — dominated by the
    // merge's fixed job structure (source pass, probe, rewrite, commit)
    val orders = Tables.orders(spark, sfDir)
    val mt = LakeTable.createFrom(spark, scratch("merge"), orders)
    val src = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 1.1)
    val srcRows = src.count().toDouble
    val (_, mergeSec) = timed {
      mt.merge(src, col("target.o_orderkey") === col("source.o_orderkey"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    }
    ops += "small_merge_rows_per_sec" -> srcRows / mergeSec
    ops += "small_merge_sec" -> mergeSec

    val (sttRows, sttSec) = timed(mt.versionAsOf(1).count())
    ops += "small_timetravel_rows_per_sec" -> sttRows.toDouble / sttSec

    // A/B speedups are measured INTERLEAVED (A B A B ...) with medians, so
    // machine-load drift between the two measurement windows cancels out —
    // sequential best-of-3 blocks still flipped sign under load
    def abSpeedupPct(a: => Unit, b: => Unit, reps: Int = 7): Double = {
      val pairs = (1 to reps).map(_ => (timed(a)._2, timed(b)._2))
      def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      val (ma, mb) = (median(pairs.map(_._1)), median(pairs.map(_._2)))
      100.0 * (ma - mb) / ma
    }

    // zorder: point-lookup on a compacted-but-unordered table vs the same
    // data z-ordered, at the SAME ~16MB file granularity. r02 compared the
    // freshly-written 32-small-file state against the 3-file zordered state,
    // which measured the loss of task parallelism (32 -> 3 scan tasks on an
    // idle 32-thread executor), not data skipping — and went negative.
    // Plain compaction is the honest counterfactual: identical file count,
    // identical bytes, the only difference is clustering -> file skipping.
    // 16x lineitem (9.6M rows, ~180MB) so the probe is IO-bound rather than
    // fixed-overhead-bound: at 4x the pruned scan finished inside the ±30ms
    // noise floor and the measured speedup swung between +21% and -3%.
    val li4 = li.union(li).union(li).union(li)
    val liBig = li4.union(li4).union(li4).union(li4)
    val probe = col("l_partkey") === 100
    val ztPlain = LakeTable.createFrom(spark, scratch("zplain"), liBig)
    ztPlain.optimizeCompact(targetFileSize = 16L * 1024 * 1024)
    val ztZ = LakeTable.createFrom(spark, scratch("zorder"), liBig)
    val (_, zorderSec) =
      timed(ztZ.optimizeZOrder(Seq("l_partkey"), targetFileSize = 16L * 1024 * 1024))
    ops += "zorder_sec" -> zorderSec
    def zProbe(t: LakeTable): Unit =
      t.read(Seq(probe)).agg(sum(col("l_extendedprice")), sum(col("l_quantity")))
        .collect(): Unit
    ops += "zorder_query_speedup_pct" -> abSpeedupPct(zProbe(ztPlain), zProbe(ztZ))
    val snap = ztZ.snapshot()
    val kept = Pruner.prune(snap.files, Seq(probe), snap.schema)
    ops += "zorder_files_skipped_pct" ->
      100.0 * (snap.numFiles - kept.size).toDouble / math.max(snap.numFiles, 1)

    // hilbert vs zorder at TWO clustering dimensions — same data, same file
    // granularity, same probes; the curve is the only difference. A ~10%
    // range probe per dimension, reported as files-skipped % averaged over
    // both dims (the single-column zorder above stays the BASELINE metric).
    val probes2 = Seq(col("l_partkey") <= 2000, col("l_suppkey") <= 100)
    val ztZ2 = LakeTable.createFrom(spark, scratch("z2"), liBig)
    ztZ2.optimizeZOrder(Seq("l_partkey", "l_suppkey"), targetFileSize = 16L * 1024 * 1024)
    val ztH2 = LakeTable.createFrom(spark, scratch("h2"), liBig)
    val (_, hilbertSec) = timed(
      ztH2.optimizeHilbert(Seq("l_partkey", "l_suppkey"), targetFileSize = 16L * 1024 * 1024))
    ops += "hilbert_sec" -> hilbertSec
    def skippedPct2(t: LakeTable): Double = {
      val s = t.snapshot()
      probes2.map(p => 100.0 * (s.numFiles -
        Pruner.prune(s.files, Seq(p), s.schema).size) / math.max(s.numFiles, 1))
        .sum / probes2.size
    }
    ops += "zorder2d_files_skipped_pct" -> skippedPct2(ztZ2)
    ops += "hilbert2d_files_skipped_pct" -> skippedPct2(ztH2)

    // partition pruning: partitioned table, one-partition aggregate vs full
    // aggregate (a sum forces real column IO on both sides — a bare count()
    // is answered from parquet metadata and would make the full scan free)
    // lineitem (the largest table) gives the timing signal enough work to
    // clear the ±30ms noise floor that made the orders-based probe flip sign
    val pt = LakeTable.create(spark, scratch("part"), li.schema,
      partitionColumns = Seq("l_returnflag"))
    pt.append(liBig)
    val pAgg = Seq(sum(col("l_extendedprice")).as("s1"), sum(col("l_quantity")).as("s2"),
      avg(col("l_discount")).as("s3"))
    ops += "partition_pruning_speedup_pct" -> abSpeedupPct(
      pt.read().agg(pAgg.head, pAgg.tail: _*).collect(): Unit,
      pt.read(Seq(col("l_returnflag") === "R")).agg(pAgg.head, pAgg.tail: _*).collect(): Unit)
    val pSnap = pt.snapshot()
    val pKept = pt.read(Seq(col("l_returnflag") === "R"))
    ops += "partition_files_scanned_pct" -> 100.0 *
      pKept.inputFiles.length.toDouble / math.max(pSnap.numFiles, 1)

    // optimize: compaction of a fragmented table (8 small appends)
    val ot = LakeTable.create(spark, scratch("opt"), orders.schema)
    (0 until 8).foreach(i => ot.append(orders.filter(col("o_orderkey") % 8 === i)))
    val filesBefore = ot.snapshot().numFiles
    val (_, optSec) = timed(ot.optimizeCompact())
    val filesAfter = ot.snapshot().numFiles
    ops += "optimize_file_reduction_pct" ->
      100.0 * (filesBefore - filesAfter).toDouble / math.max(filesBefore, 1)
    ops += "optimize_sec" -> optSec

    // ---- headline ops at BASELINE.md's own shape (10M rows) ----
    // The baseline's config column is explicit: write = 10M generated rows,
    // read = full scan of the 10M-row table, merge = 1M updates into 10M,
    // time travel over history. These are the comparable numbers; the
    // small_* variants above track fixed overhead at sf0.1. Run LAST so the
    // 10M-row churn can't pollute the other measurements (the r02 lesson).
    val strainN = 10000000L
    val sgen = spark.range(strainN)
      .withColumn("user_id", concat(lit("user_"), col("id") % 100000))
      .withColumn("amount", (col("id") % 1000).cast("decimal(18,2)"))
      .withColumn("day", date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") % 30).cast("int")))
    val st = LakeTable.create(spark, scratch("strain"), sgen.schema)
    // generation inside the timed write, exactly like the reference
    // (benchmarks/delta_performance_benchmark.py:53-60). Median of 3 —
    // disk writeback left over from whatever ran before the bench swung
    // single-shot write timings 6x run-to-run; runs 2-3 write throwaway
    // tables so st keeps exactly one append (timetravel below relies on
    // version 1 being the full 10M rows)
    quiesce()
    val sWriteSec = (
      timed(st.append(sgen))._2 +: (2 to 3).map { i =>
        quiesce()
        timed(LakeTable.create(spark, scratch(s"strainw$i"), sgen.schema)
          .append(sgen))._2
      }
    ).sorted.apply(1)
    ops += "write_rows_per_sec" -> strainN.toDouble / sWriteSec
    ops += "write_sec" -> sWriteSec

    // full-scan read (BASELINE: 2M rows/sec on 10M rows); count() mirrors
    // the reference's read benchmark, the agg variant forces real column IO
    quiesce()
    val sReadSec = (1 to 3).map(_ => timed(st.read().count())._2).sorted.apply(1)
    ops += "read_rows_per_sec" -> strainN.toDouble / sReadSec
    ops += "read_sec" -> sReadSec
    val (_, sReadAggSec) = timed(st.read().agg(sum("amount")).collect())
    ops += "read_agg_rows_per_sec" -> strainN.toDouble / sReadAggSec

    // metadata-only count(*): the Catalyst rule answers from the tx-log
    // (zero jobs); reported next to the scan count for the speedup story
    val (mcnt, metaCountSec) = timed(
      st.toDf.agg(count(lit(1))).collect()(0).getLong(0))
    assert(mcnt == strainN, s"metadata count mismatch: $mcnt")
    ops += "metadata_count_sec" -> metaCountSec
    ops += "metadata_count_speedup_x" -> sReadSec / math.max(metaCountSec, 1e-9)

    // MERGE (BASELINE: 100K rows/sec, 1M updates into 10M rows). Median of
    // 3 identical-shape runs (distinct key sets, all matching): single-shot
    // DML timings swung 2x run-to-run on this machine's disk writeback.
    val sMergeSec = (0 until 3).map { i =>
      quiesce()
      val ssrc = spark.range(i, strainN, 10)
        .withColumn("user_id", concat(lit("u_"), col("id")))
        .withColumn("amount", lit(java.math.BigDecimal.valueOf(1)).cast("decimal(18,2)"))
        .withColumn("day", lit(java.sql.Date.valueOf("2024-02-01")))
      timed {
        st.merge(ssrc, col("target.id") === col("source.id"))
          .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      }._2
    }.sorted.apply(1)
    ops += "merge_rows_per_sec" -> (strainN / 10).toDouble / sMergeSec
    ops += "merge_sec" -> sMergeSec
    def lastAddedMb: Double =
      st.history(Some(1)).select("operationMetrics").collect().head
        .getMap[String, String](0).get("numAddedBytes").map(_.toDouble / 1e6).getOrElse(0.0)
    ops += "merge_mb_written" -> lastAddedMb

    // time travel (BASELINE: 1M rows/sec): the pre-merge 10M-row snapshot
    quiesce()
    val ttRuns = (1 to 3).map(_ => timed(st.versionAsOf(1).count()))
    val (ttRows, ttSec) = (ttRuns.head._1, ttRuns.map(_._2).sorted.apply(1))
    ops += "timetravel_rows_per_sec" -> ttRows.toDouble / ttSec
    ops += "timetravel_sec" -> ttSec

    // DELETE evidence at the same scale: rewrite-mode vs deletion-vector
    // mode removing 1% of rows each — the DV path writes row masks instead
    // of re-encoding every touched file
    // wall time converges on page-cache-backed local disk; the structural
    // difference is bytes written, which is what survives a 1000x scale-up
    // median of 3 (disjoint 1% slices -> same work each run)
    val delRewriteSec = Seq(7, 27, 47)
      .map { k => quiesce(); timed(st.delete(col("id") % 100 === k))._2 }
      .sorted.apply(1)
    ops += "delete_rewrite_sec" -> delRewriteSec
    ops += "delete_rewrite_mb_written" -> lastAddedMb
    st.setProperties(Map("graft.enableDeletionVectors" -> "true"))
    val delDvSec = Seq(8, 28, 48)
      .map { k => quiesce(); timed(st.delete(col("id") % 100 === k))._2 }
      .sorted.apply(1)
    ops += "delete_dv_sec" -> delDvSec

    // DV-mode merge: matched rows are masked, only changed rows written.
    // Median of 5 (the classic merge above keeps 3 — its 90MB writes make
    // extra runs expensive and its median was stable): observed DV-merge
    // medians-of-3 still swung 3.8s..9.7s run-to-run purely on disk
    // writeback + page-cache state, and this metric carries a contract
    // (≥100K rows/s), so it gets the extra samples
    val dvMergeSec = (3 until 8).map { i =>
      quiesce()
      val ssrc2 = spark.range(i, strainN, 10)
        .withColumn("user_id", concat(lit("v_"), col("id")))
        .withColumn("amount", lit(java.math.BigDecimal.valueOf(2)).cast("decimal(18,2)"))
        .withColumn("day", lit(java.sql.Date.valueOf("2024-03-01")))
      timed {
        st.merge(ssrc2, col("target.id") === col("source.id"))
          .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      }._2
    }.sorted.apply(2)
    ops += "dv_merge_rows_per_sec" -> (strainN / 10).toDouble / dvMergeSec
    ops += "dv_merge_sec" -> dvMergeSec
    // data bytes only (update+insert rows); the row masks are counted in
    // delete_dv_mb_written below, which sizes every live vector file
    ops += "dv_merge_mb_written" -> lastAddedMb
    ops += "delete_dv_mb_written" -> {
      val dvDirs = st.snapshot().dvs.values.flatMap(_.storagePath).toSet
      dvDirs.toSeq.map { rel =>
        val p = java.nio.file.Paths.get(st.dir.toString, rel)
        val s = java.nio.file.Files.walk(p)
        try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
        finally s.close()
      }.sum.toDouble / 1e6
    }

    // REORG APPLY (PURGE): materialize the accumulated masks (6 deletes +
    // 3 merges stacked above) back into clean files — the maintenance
    // valve that bounds per-file mask growth. Timed once; leaves st with
    // zero vectors, which later sections don't depend on.
    quiesce()
    val maskedFiles = st.snapshot().dvs.size
    val (_, reorgSec) = timed(st.reorgPurge())
    assert(st.snapshot().dvs.isEmpty, "REORG left vectors behind")
    ops += "reorg_purge_sec" -> reorgSec
    ops += "reorg_purge_files" -> maskedFiles.toDouble

    // UniForm Iceberg export at the strain table's file count: the FIRST
    // export pays O(live files) manifest rows (the checkpoint cost class);
    // the re-export after one small append must be O(churn) — the prior
    // manifest is reused verbatim and only the new files write — which is
    // what makes per-commit auto-export viable. reuse_pct is file-weighted:
    // live files carried by reused manifests / all live files.
    quiesce()
    val exportFiles = st.snapshot().numFiles
    val (_, uniformSec) = timed(st.generateIcebergMetadata(recordCommit = false))
    st.append(spark.range(strainN, strainN + 1000)
      .withColumn("user_id", concat(lit("x_"), col("id")))
      .withColumn("amount", lit(java.math.BigDecimal.valueOf(3)).cast("decimal(18,2)"))
      .withColumn("day", lit(java.sql.Date.valueOf("2024-04-01"))))
    val (_, uniformIncrSec) = timed(st.generateIcebergMetadata(recordCommit = false))
    ops += "uniform_export_sec" -> uniformSec
    ops += "uniform_export_files" -> exportFiles.toDouble
    ops += "uniform_incr_export_sec" -> uniformIncrSec
    ops += "uniform_manifest_reuse_pct" -> {
      val metaDir = st.dir.resolve("metadata")
      val meta = graft.table.Uniform.priorMetadata(metaDir).get
      val currentSnap = meta.get("current-snapshot-id")
        .asInstanceOf[java.lang.Number].longValue()
      val rows = graft.table.Uniform.currentManifestList(metaDir)
        .filter(_.get("content").asInstanceOf[Int] == 0)
      val files = rows.map(_.get("added_data_files_count").asInstanceOf[Int].toLong)
      val reused = rows.zip(files).collect {
        case (r, f) if r.get("added_snapshot_id").asInstanceOf[Long] != currentSnap => f
      }
      if (files.sum == 0) 0.0 else reused.sum.toDouble * 100.0 / files.sum
    }

    // ---- skew strain: the same job shapes, uniform keys vs 50% of all
    // rows on ONE hot key — proves the mitigation story empirically:
    //  * aggregation & exact dedup: partial (map-side) aggregation absorbs
    //    the hot key before the shuffle, so no salting is needed
    //  * shuffle join: AQE's skew-join split carves the hot partition into
    //    task-sized slices (split thresholds scaled to this local data
    //    size; the 256MB defaults play the same role at cluster scale)
    quiesce()
    def skewFact(skewed: Boolean) = {
      // the hot key is a real dim key so uniform/skewed joins emit the
      // same number of output rows and stay comparable
      val uid =
        if (skewed) when(col("id") % 2 === 0, lit("user_0"))
          .otherwise(concat(lit("user_"), col("id") % 100000))
        else concat(lit("user_"), col("id") % 100000)
      spark.range(strainN)
        .withColumn("user_id", uid)
        .withColumn("amount", (col("id") % 1000).cast("decimal(18,2)"))
    }
    def noopSink(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // Each skew shape runs as three INTERLEAVED (uniform, skewed) rounds
    // and the reported ratio is the median of per-round ratios: separate
    // uniform/skewed blocks let host-load drift between the blocks flip
    // the ratio direction run-to-run (observed 0.48x..2.7x on the same
    // code); same-round pairs see the same environment.
    def medOf(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def skewPair(mk: Boolean => org.apache.spark.sql.DataFrame): (Double, Double, Double) = {
      // untimed warmup of BOTH plan shapes: round 1's uniform leg otherwise
      // pays codegen/JIT and biases its ratio low; a GC pause mid-leg
      // biases it high (observed 0.68x..4.4x on identical code) — warm
      // plans + a quiesce per round keep the legs comparable
      noopSink(mk(false)); noopSink(mk(true))
      // 5 rounds: medians-of-3 still flipped 0.60x..1.52x run-to-run on
      // identical code under host-load drift; the ratio carries a contract
      // (≤1.5x for agg) so it gets the extra samples
      val rounds = (1 to 5).map { _ =>
        quiesce()
        val u = timed(noopSink(mk(false)))._2
        val s = timed(noopSink(mk(true)))._2
        (u, s)
      }
      (medOf(rounds.map(_._1)), medOf(rounds.map(_._2)),
        medOf(rounds.map(r => r._2 / r._1)))
    }
    val (aggUniformSec, skewAggSec, skewAggX) = skewPair(sk =>
      skewFact(sk).groupBy("user_id")
        .agg(sum("amount").as("amt"), count(lit(1)).as("n")))
    ops += "agg_uniform_sec" -> aggUniformSec
    ops += "skew_agg_sec" -> skewAggSec
    val (dedupUniformSec, skewDedupSec, skewDedupX) = skewPair(sk =>
      skewFact(sk).dropDuplicates("user_id"))
    ops += "dedup_uniform_sec" -> dedupUniformSec
    ops += "skew_dedup_sec" -> skewDedupSec
    // join: dim modeled as too large to broadcast (the 100 TB design point
    // where skew actually bites); restore the session confs afterwards
    val skewDim = spark.range(100000)
      .withColumn("user_id", concat(lit("user_"), col("id")))
      .withColumn("segment", (col("id") % 17).cast("int"))
      .drop("id")
    val savedConfs = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes").map(k =>
      k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // 4m slices the ~180MB hot partition into ~45 reader-slices — enough
    // parallelism that the skewed run tracks the uniform one (measured
    // 1.1-1.5x vs 2.3x at 16m); the 256MB defaults play the same role at
    // cluster scale against multi-GB hot partitions
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    val (joinUniformSec, skewJoinSec, skewJoinX) = skewPair(sk =>
      skewFact(sk).join(skewDim, "user_id").groupBy("segment").agg(sum("amount")))
    savedConfs.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    ops += "join_uniform_sec" -> joinUniformSec
    ops += "skew_join_sec" -> skewJoinSec
    // headline carries the ratios (skew cost relative to uniform; <= 2.0
    // is the contract) — raw seconds stay on BENCH_DETAIL
    ops += "skew_agg_x" -> skewAggX
    ops += "skew_dedup_x" -> skewDedupX
    ops += "skew_join_x" -> skewJoinX
    ops
  }

  /** Fork a fresh JVM (same args/classpath, SPARK_GRAFT_OPS_CHILD=1) to run
    * the ops sections, and parse its BENCH_DETAIL ops object. Returns None on
    * any failure so the caller can fall back to in-JVM measurement. */
  private def forkOps(): Option[scala.collection.Map[String, Double]] = {
    try {
      val javaBin = java.nio.file.Paths.get(
        System.getProperty("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_GRAFT_OPS_CHILD", "1")
      pb.environment().remove("SPARK_GRAFT_ONLY")
      pb.environment().remove("SPARK_GRAFT_SKIP_OPS")
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      // drain stdout on a thread so a filled pipe can't deadlock waitFor
      val outBuf = new java.io.ByteArrayOutputStream()
      val drainer = new Thread(() =>
        try p.getInputStream.transferTo(outBuf): Unit
        catch { case scala.util.control.NonFatal(_) => })
      drainer.setDaemon(true)
      drainer.start()
      val done = p.waitFor(540, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { p.destroyForcibly(): Unit; return None }
      drainer.join(5000)
      if (p.exitValue() != 0) return None
      val out = outBuf.toString("UTF-8")
      out.linesIterator.find(_.startsWith("BENCH_DETAIL")).flatMap { line =>
        val opsStr = line.split("\"ops\":", 2).lift(1).getOrElse("")
        val cut = opsStr.indexOf("},\"sf\"")
        val body = if (cut >= 0) opsStr.substring(0, cut + 1) else opsStr
        val kv = """"([A-Za-z0-9_]+)":(-?[0-9.]+|null)""".r
        val pairs = kv.findAllMatchIn(body).collect {
          case m if m.group(2) != "null" => m.group(1) -> m.group(2).toDouble
        }.toSeq
        if (pairs.isEmpty) None
        else Some(scala.collection.mutable.LinkedHashMap(pairs: _*))
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] ops fork error: ${e.getMessage}"); None }
  }

  private def emitResult(
      results: Seq[(String, Double)],
      ops: scala.collection.Map[String, Double],
      sfDir: String,
      spark: SparkSession,
      runTmp: java.nio.file.Path,
      loadStart: (Double, Long),
      loadEnd: (Double, Long),
      remeasured: Seq[(String, Double, Double)],
      failed: Seq[(String, String, String)]): Unit = {

    // Locale.ROOT everywhere: a non-English default locale would format
    // decimal commas ("52,19") and break the machine-parsed JSON
    def jnum(v: Double): String =
      if (v.isNaN || v.isInfinite) "null"
      else String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    // compact per-field formats: the driver captures only the TAIL of stdout
    // (~2000 chars), so the final JSON line must fit entirely inside that
    // window or the line start gets clipped and the parse fails (the r01/r02
    // "parsed": null). Full-precision detail goes on its own prefixed line.
    def jshort(v: Double, fmt: String): String =
      if (v.isNaN || v.isInfinite) "null"
      else String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    val qs = results.map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString("{", ",", "}")
    val opsJson = ops.map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val sfShort = sfDir.split('/').last
    // stop BEFORE printing: SparkSession shutdown can emit WARN lines, and
    // anything printed after the final JSON eats into the 2000-char window
    try spark.stop() catch { case scala.util.control.NonFatal(_) => }
    // the run tmpdir is entirely this run's scratch; leave the machine clean
    try graft.log.TxLog.deleteRecursively(runTmp)
    catch { case scala.util.control.NonFatal(_) => }
    // contention self-flagging (see hostLoad): loadavg + process count at
    // start/end ride both lines; a run billed at 2× with load >> ncpu is
    // machine noise, not a regression, without needing a re-run to prove it
    val loadJson = {
      def p(l: (Double, Long)) = s"""[${jnum(l._1)},${l._2}]"""
      s""""load":{"start":${p(loadStart)},"end":${p(loadEnd)},"ncpu":${Runtime.getRuntime.availableProcessors()}}"""
    }
    // self-healed values (empty when nothing flagged): the isolated
    // re-measurements of suspect queries, keyed like `queries`, plus the
    // loadavg at each entry's own measurement time ([[remeasuredDetailField]])
    val remeasuredField = Bench.remeasuredDetailField(remeasured, jnum)
    // same sf spelling on both lines (full path kept as sf_dir for humans)
    println(s"""BENCH_DETAIL {"queries":$qs,"ops":$opsJson,"sf":"$sfShort","sf_dir":"$sfDir",$loadJson$remeasuredField${Bench.failedDetailField(failed)}}""")
    // final line: every query plus the BASELINE.md-comparable ops, sized to
    // fit the tail window with ~200 chars to spare for the sbt epilogue
    val headline = Seq(
      "write_rows_per_sec" -> "%.0f", "read_rows_per_sec" -> "%.0f",
      "merge_rows_per_sec" -> "%.0f",
      "merge_sec" -> "%.2f", "merge_mb_written" -> "%.1f",
      "dv_merge_rows_per_sec" -> "%.0f", "dv_merge_mb_written" -> "%.1f",
      "timetravel_rows_per_sec" -> "%.0f",
      "zorder_query_speedup_pct" -> "%.1f", "zorder_files_skipped_pct" -> "%.1f",
      "zorder2d_files_skipped_pct" -> "%.1f", "hilbert2d_files_skipped_pct" -> "%.1f",
      "partition_pruning_speedup_pct" -> "%.1f", "partition_files_scanned_pct" -> "%.1f",
      "optimize_file_reduction_pct" -> "%.1f",
      "delete_rewrite_mb_written" -> "%.1f", "delete_dv_mb_written" -> "%.1f",
      "reorg_purge_sec" -> "%.2f",
      "uniform_export_sec" -> "%.2f", "uniform_incr_export_sec" -> "%.2f",
      "uniform_manifest_reuse_pct" -> "%.1f",
      "skew_agg_x" -> "%.2f", "skew_dedup_x" -> "%.2f", "skew_join_x" -> "%.2f",
    ).collect { case (k, fmt) if ops.contains(k) => s""""$k":${jshort(ops(k), fmt)}""" }
      .mkString("{", ",", "}")
    // the BASELINE.md-essential subset, used when the full headline plus
    // all queries no longer fits the tail window — per-query timings are
    // the rarer signal, so they get priority over secondary ops (which
    // stay on BENCH_DETAIL either way)
    val essentialHeadline = Seq(
      "write_rows_per_sec" -> "%.0f", "read_rows_per_sec" -> "%.0f",
      "merge_rows_per_sec" -> "%.0f", "dv_merge_rows_per_sec" -> "%.0f",
      "timetravel_rows_per_sec" -> "%.0f",
      "zorder_query_speedup_pct" -> "%.1f",
      "optimize_file_reduction_pct" -> "%.1f",
      "skew_agg_x" -> "%.2f", "skew_dedup_x" -> "%.2f", "skew_join_x" -> "%.2f",
    ).collect { case (k, fmt) if ops.contains(k) => s""""$k":${jshort(ops(k), fmt)}""" }
      .mkString("{", ",", "}")
    // the final line keys queries by their qNN prefix (unique; full names
    // are on BENCH_DETAIL): at 60+ queries the full names alone overflow
    // the ~2000-char tail window and the line degraded to ops-only
    def finalLine(qfmt: String, opsJsonStr: String,
        withLoad: Boolean = true, withRem: Boolean = true): String = {
      val qsShort = results.map { case (k, v) =>
        s""""${k.split('_').head}":${jshort(v, qfmt)}""" }
        .mkString("{", ",", "}")
      val remShort =
        if (remeasured.isEmpty || !withRem) ""
        else remeasured.map { case (k, v, _) =>
          s""""${k.split('_').head}":${jshort(v, qfmt)}""" }
          .mkString(""","remeasured":{""", ",", "}") +
          remeasured.map { case (k, _, l) =>
            s""""${k.split('_').head}":${jshort(l, "%.1f")}""" }
            .mkString(""","remeasured_load":{""", ",", "}")
      val loadField = if (withLoad) s",$loadJson" else ""
      s"""{"metric":"total","value":${jshort(total, "%.2f")},"unit":"sec","queries":$qsShort,"ops":$opsJsonStr,"sf":"$sfShort"$loadField$remShort}"""
    }
    // degrade in steps, keeping per-query timings as long as possible:
    // full precision -> coarse queries -> drop load (it stays on
    // BENCH_DETAIL) -> essential ops -> ops only. Budget 1850: the driver
    // captures ~2000 tail chars and the sbt epilogue is ~70 (r14 — at 121
    // queries the old 1750 budget overflowed even the essential variant
    // and the driver would have received an ops-only line with no
    // per-query timings at all).
    // last-resort fallback: essential ops only, no load (both stay on
    // BENCH_DETAIL) — the full headline + load could itself overflow the
    // tail window and clip the line start, defeating the parse it saves
    val opsOnlyLine =
      s"""{"metric":"total","value":${jshort(total, "%.2f")},"unit":"sec","queries":{},"ops":$essentialHeadline,"sf":"$sfShort"}"""
    val line = Seq(finalLine("%.2f", headline), finalLine("%.1f", headline),
        finalLine("%.1f", headline, withLoad = false),
        finalLine("%.1f", essentialHeadline, withLoad = false),
        finalLine("%.1f", essentialHeadline, withLoad = false, withRem = false))
      .find(_.length <= 1850)
      .getOrElse {
        System.err.println("[bench] even the essential final line overflows " +
          "1850 chars: emitting ops only; per-query timings are on BENCH_DETAIL")
        opsOnlyLine
      }
    println(line)
    System.out.flush()
  }
}
