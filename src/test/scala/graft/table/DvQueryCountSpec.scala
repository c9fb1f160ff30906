package graft.table

import org.apache.spark.graft.SqlExecutions
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** How many queries, jobs and tasks each deletion-vector call sends to
  * Spark, on a table with deletion vectors AND the change feed on: a vector
  * is written from the bitmaps the DML's own job builds map-side, and read
  * straight from its `.bin` on the driver, so neither costs a query of its
  * own; a local MERGE source is read on the driver; small writes land as
  * one file. The bounds pin those counts; each call's rows, metrics and
  * change rows are checked alongside, so a count cannot be bought with a
  * wrong answer. */
class DvQueryCountSpec extends SparkSpec {
  import spark.implicits._

  test("DV+CDF DML and masked reads: root SQL executions per call") {
    // even keys 0..3998 in 8 range-clustered files: odd source keys insert
    val df = (0L until 2000L).map(i => (2 * i, s"v$i", i.toDouble)).toDF("k", "v", "p")
    val t = LakeTable.create(spark, tmpDir("dv-qcount").resolve("t").toString, df.schema,
      properties = Map("graft.enableDeletionVectors" -> "true",
        "graft.enableChangeDataFeed" -> "true"))
    t.append(df.repartitionByRange(8, $"k"))
    t.snapshot().files.size shouldBe 8
    val counter = new SqlExecutions(spark)
    // a call's result with its root executions; its jobs and tasks go to `last`
    var last = SqlExecutions.Counts(Nil, Nil, 0)
    def executions[T](body: => T): (T, Int) = {
      val (r, c) = counter.measure(body)
      last = c
      (r, c.executions.size)
    }
    def added(v: Long): (Int, Int) = {
      val as = t.log.readVersion(v)
      (as.count(_.isInstanceOf[graft.log.AddFile]), as.count(_.isInstanceOf[graft.log.CdfFile]))
    }
    def upsert(keys: Seq[Long]): Long =
      t.merge(keys.map(k => (k, s"m$k", -1.0)).toDF("k", "v", "p"),
        $"target.k" === $"source.k")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    def metrics(v: Long): Map[String, String] =
      t.history().filter($"version" === v).select("operationMetrics")
        .head().getMap[String, String](0).toMap
    def changes(v: Long): Set[(String, Long, String)] =
      t.changes(v, Some(v)).select("_change_type", "k", "v")
        .as[(String, Long, String)].collect().toSet

    // a 5-row source inside one file: <= 2 candidates, no probe
    val (m1, m1Runs) = executions(upsert(Seq(20L, 21L, 22L, 23L, 24L)))
    metrics(m1).filter(_._1.startsWith("numTarget")) shouldBe Map(
      "numTargetRowsUpdated" -> "3", "numTargetRowsDeleted" -> "0",
      "numTargetRowsInserted" -> "2", "numTargetRowsCopied" -> "0")
    changes(m1) shouldBe
      Seq(20L, 22L, 24L).flatMap(k => Seq(("update_preimage", k, s"v${k / 2}"),
        ("update_postimage", k, s"m$k"))).toSet ++
        Seq(21L, 23L).map(k => ("insert", k, s"m$k"))
    info(s"MERGE, <= 2 candidate files: $m1Runs root executions, $last")
    m1Runs should be <= 3
    last.jobs should be <= 4
    // one data file (3 updated rows + 2 inserts) and one change-feed file
    added(m1) shouldBe ((1, 1))

    // a 5-row source spanning every file: the candidates fit the
    // deletion-vector probe budget, so the inner join reads them without a probe
    val (m2, m2Runs) = executions(upsert(Seq(100L, 101L, 1500L, 1501L, 3001L)))
    metrics(m2)("numTargetRowsUpdated") shouldBe "2"
    metrics(m2)("numTargetRowsInserted") shouldBe "3"
    changes(m2).count(_._1 == "insert") shouldBe 3
    info(s"MERGE, every file a candidate: $m2Runs root executions, $last")
    m2Runs should be <= 3
    last.jobs should be <= 4
    added(m2) shouldBe ((1, 1))

    // the same spread past the probe budget (lowered to 0 here, so the
    // probe runs on this small table): the probe adds one query
    val (m3, m3Runs) = executions(
      new MergeBuilder(t, Seq(200L, 201L, 1700L, 3201L, 3400L).map(k => (k, s"m$k", -1.0))
        .toDF("k", "v", "p"), $"target.k" === $"source.k", dvProbeBytes = 0L)
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())
    metrics(m3).filter(_._1.startsWith("numTarget")) shouldBe Map(
      "numTargetRowsUpdated" -> "3", "numTargetRowsDeleted" -> "0",
      "numTargetRowsInserted" -> "2", "numTargetRowsCopied" -> "0")
    changes(m3) shouldBe
      Seq(200L, 1700L, 3400L).flatMap(k => Seq(("update_preimage", k, s"v${k / 2}"),
        ("update_postimage", k, s"m$k"))).toSet ++
        Seq(201L, 3201L).map(k => ("insert", k, s"m$k"))
    info(s"MERGE, probe runs: $m3Runs root executions, $last")
    m3Runs should be <= 4

    val (u, uRuns) = executions(t.update($"k" === 40L, Map("v" -> lit("u"))))
    metrics(u)("numUpdatedRows") shouldBe "1"
    changes(u) shouldBe Set(("update_preimage", 40L, "v20"), ("update_postimage", 40L, "u"))
    info(s"UPDATE: $uRuns root executions, $last")
    uRuns should be <= 3
    last.jobs should be <= 3

    val (d, dRuns) = executions(t.delete($"k" === 42L))
    metrics(d)("numDeletedRows") shouldBe "1"
    changes(d) shouldBe Set(("delete", 42L, "v21"))
    info(s"DELETE: $dRuns root executions, $last")
    dRuns should be <= 2
    last.jobs should be <= 2

    // masked point reads: the first after a DML misses the mask cache
    def pointRead(k: Long): Array[Row] = t.read(Seq($"k" === k)).collect()
    val (miss, missRuns) = executions(pointRead(20L))
    miss.map(_.getString(1)).toSeq shouldBe Seq("m20")
    info(s"masked point read, cache miss: $missRuns root executions")
    missRuns shouldBe 1
    val (hit, hitRuns) = executions(pointRead(42L))
    hit shouldBe empty
    info(s"masked point read, cache hit: $hitRuns root executions")
    hitRuns shouldBe 1
    t.read().count() shouldBe 2000L + 2 + 3 + 2 - 1

    // a 20-row local append: one job, one task, one file
    val (a, aRuns) = executions(t.append(
      (0L until 20L).map(i => (10001L + 2 * i, s"a$i", 0.5)).toDF("k", "v", "p")))
    info(s"append, 20 local rows: $aRuns root executions, $last")
    (last.jobs, last.tasks) shouldBe ((1, 1))
    added(a) shouldBe ((1, 0))
    t.read().count() shouldBe 2000L + 2 + 3 + 2 - 1 + 20
  }

  test("DV+CDF UPDATE and MERGE past the driver row cap read the small touched files again") {
    // 40 rows of 1 MB strings that compress well: the file is small enough
    // for the driver path (fitsDriver), but its matched rows overflow
    // Dml.DriverRowsBytes, so the writes read the touched file again
    val mb = 1 << 20
    val df = spark.range(40).select($"id".as("k"),
      concat($"id".cast("string"), repeat(lit("a"), mb)).as("s"), lit(0.0).as("p"))
    val t = LakeTable.create(spark, tmpDir("dv-overflow").resolve("t").toString, df.schema,
      properties = Map("graft.enableDeletionVectors" -> "true",
        "graft.enableChangeDataFeed" -> "true"))
    t.append(df.coalesce(1))
    spark.catalog.clearCache()
    Dml.fitsDriver(t.snapshot().files) shouldBe true
    40L * mb should be > Dml.DriverRowsBytes
    def metrics(v: Long): Map[String, String] =
      t.history().filter($"version" === v).select("operationMetrics")
        .head().getMap[String, String](0).toMap
    def changes(v: Long): Map[String, (Long, Double)] =
      t.changes(v, Some(v)).groupBy("_change_type").agg(count(lit(1)), sum("p"))
        .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def table(): (Long, Long, Double, Long) =
      t.read().agg(count(lit(1)), sum("k"), sum("p"), sum(org.apache.spark.sql.functions.length($"s")))
        .as[(Long, Long, Double, Long)].head()
    val width = (0 until 40).map(k => k.toString.length + mb).sum.toLong

    val u = t.update($"k" < 40L, Map("p" -> lit(1.0)))
    metrics(u)("numUpdatedRows") shouldBe "40"
    changes(u) shouldBe Map("update_preimage" -> ((40L, 0.0)), "update_postimage" -> ((40L, 40.0)))
    table() shouldBe ((40L, 780L, 40.0, width))
    spark.sharedState.cacheManager.isEmpty shouldBe true

    val m = t.merge(((0L until 40L) ++ Seq(100L, 101L)).map(k => (k, "new", 2.0))
        .toDF("k", "s", "p"), $"target.k" === $"source.k")
      .whenMatchedUpdate(Map("p" -> $"source.p")).whenNotMatchedInsertAll().execute()
    metrics(m).filter(_._1.startsWith("numTarget")) shouldBe Map(
      "numTargetRowsUpdated" -> "40", "numTargetRowsDeleted" -> "0",
      "numTargetRowsInserted" -> "2", "numTargetRowsCopied" -> "0")
    changes(m) shouldBe Map("update_preimage" -> ((40L, 40.0)),
      "update_postimage" -> ((40L, 80.0)), "insert" -> ((2L, 4.0)))
    table() shouldBe ((42L, 981L, 84.0, width + 6))
    spark.sharedState.cacheManager.isEmpty shouldBe true
  }

  test("a deletion-vector DELETE without the change feed leaves no persisted frame") {
    val t = LakeTable.createFrom(spark, tmpDir("dv-nocdf").resolve("t").toString,
      (0L until 20L).map(i => (i, s"v$i")).toDF("k", "v"),
      properties = Map("graft.enableDeletionVectors" -> "true"))
    spark.catalog.clearCache()
    t.delete($"k" < 5L)
    t.read().count() shouldBe 15L
    spark.sharedState.cacheManager.isEmpty shouldBe true
  }
}
