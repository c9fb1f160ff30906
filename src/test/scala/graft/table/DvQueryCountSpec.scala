package graft.table

import org.apache.spark.graft.SqlExecutions
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** How many queries each deletion-vector call sends to Spark, on a table
  * with deletion vectors AND the change feed on: a vector is written from
  * the bitmaps the DML's own job collects, and read straight from its
  * `.bin` on the driver, so neither costs a query of its own. The bounds
  * pin those counts; each call's rows, metrics and change rows are checked
  * alongside, so a count cannot be bought with a wrong answer. */
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
    def executions[T](body: => T): (T, Int) = {
      val (r, started) = counter.during(body)
      (r, started.size)
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
    info(s"MERGE, <= 2 candidate files: $m1Runs root executions")
    m1Runs should be <= 4

    // a 5-row source spanning every file: the candidates fit the
    // deletion-vector probe budget, so the inner join reads them without a probe
    val (m2, m2Runs) = executions(upsert(Seq(100L, 101L, 1500L, 1501L, 3001L)))
    metrics(m2)("numTargetRowsUpdated") shouldBe "2"
    metrics(m2)("numTargetRowsInserted") shouldBe "3"
    changes(m2).count(_._1 == "insert") shouldBe 3
    info(s"MERGE, every file a candidate: $m2Runs root executions")
    m2Runs should be <= 4

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
    info(s"MERGE, probe runs: $m3Runs root executions")
    m3Runs should be <= 5

    val (u, uRuns) = executions(t.update($"k" === 40L, Map("v" -> lit("u"))))
    metrics(u)("numUpdatedRows") shouldBe "1"
    changes(u) shouldBe Set(("update_preimage", 40L, "v20"), ("update_postimage", 40L, "u"))
    info(s"UPDATE: $uRuns root executions")
    uRuns should be <= 3

    val (d, dRuns) = executions(t.delete($"k" === 42L))
    metrics(d)("numDeletedRows") shouldBe "1"
    changes(d) shouldBe Set(("delete", 42L, "v21"))
    info(s"DELETE: $dRuns root executions")
    dRuns should be <= 2

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
  }
}
