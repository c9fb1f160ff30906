package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def target(prefix: String, props: Map[String, String] = Map.empty): LakeTable = {
    val t = LakeTable.create(spark, tmpDir(prefix).resolve("t").toString,
      StructType(Seq(
        StructField("k", LongType),
        StructField("v", StringType),
        StructField("n", LongType))),
      properties = props)
    t.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "v", "n"))
    t
  }

  test("merge upsert-all: update matched, insert unmatched (M1)") {
    val t = target("mg-upsert")
    val src = Seq((2L, "B", 200L), (4L, "D", 400L)).toDF("k", "v", "n")
    t.merge(src, col("target.k") === col("source.k"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    val out = t.read().orderBy("k").as[(Long, String, Long)].collect()
    out shouldBe Array((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L), (4L, "D", 400L))
    val metrics = t.history(Some(1)).select("operationMetrics")
      .as[Map[String, String]].head()
    metrics("numTargetRowsUpdated") shouldBe "1"
    metrics("numTargetRowsInserted") shouldBe "1"
  }

  test("merge conditional update with SET map (M2)") {
    val t = target("mg-cond")
    val src = Seq((1L, "a", 999L), (2L, "b", 20L)).toDF("k", "v", "n")
    // only update when the source n differs
    t.merge(src, col("target.k") === col("source.k"))
      .whenMatchedUpdate(
        set = Map("n" -> col("source.n"), "v" -> upper(col("target.v"))),
        condition = Some(col("target.n") =!= col("source.n")))
      .execute()
    val out = t.read().orderBy("k").as[(Long, String, Long)].collect()
    out shouldBe Array((1L, "A", 999L), (2L, "b", 20L), (3L, "c", 30L))
  }

  test("merge insert with explicit VALUES and condition (M3)") {
    val t = target("mg-ins")
    val src = Seq((4L, "d", 40L), (5L, "e", 50L)).toDF("k", "v", "n")
    t.merge(src, col("target.k") === col("source.k"))
      .whenNotMatchedInsert(
        values = Map("k" -> col("source.k"), "v" -> lit("inserted"), "n" -> lit(0L)),
        condition = Some(col("source.n") > 40))
      .execute()
    val out = t.read().orderBy("k").as[(Long, String, Long)].collect()
    out shouldBe Array((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (5L, "inserted", 0L))
  }

  test("merge whenMatchedDelete") {
    val t = target("mg-del")
    val src = Seq((1L, "x", 0L), (3L, "y", 0L)).toDF("k", "v", "n")
    t.merge(src, col("target.k") === col("source.k"))
      .whenMatchedDelete()
      .execute()
    t.read().select("k").as[Long].collect().sorted shouldBe Array(2L)
  }

  test("clause order: first matching clause wins") {
    val t = target("mg-order")
    val src = Seq((1L, "z", 100L)).toDF("k", "v", "n")
    t.merge(src, col("target.k") === col("source.k"))
      .whenMatchedUpdate(Map("v" -> lit("first")), Some(col("source.n") === 100))
      .whenMatchedDelete()
      .execute()
    t.read().filter(col("k") === 1).select("v").as[String].head() shouldBe "first"
  }

  test("duplicate source matches error like Delta") {
    val t = target("mg-dup")
    val src = Seq((2L, "B1", 1L), (2L, "B2", 2L)).toDF("k", "v", "n")
    an[IllegalStateException] should be thrownBy {
      t.merge(src, col("target.k") === col("source.k"))
        .whenMatchedUpdateAll()
        .execute()
    }
  }

  test("duplicate source keys that match NO target row do not error") {
    val t = target("mg-dup-unmatched")
    // dup keys in the source, but neither matches a target row: Delta
    // inserts both (ambiguity only exists for matched rows)
    val src = Seq((9L, "N1", 1L), (9L, "N2", 2L)).toDF("k", "v", "n")
    t.merge(src, col("target.k") === col("source.k"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    t.read().filter(col("k") === 9L).count() shouldBe 2
  }

  test("insert-only merge: no rewrite, multi-matched target rows stay intact") {
    val t = target("mg-insonly")
    val filesBefore = t.snapshot().files.map(_.path).toSet
    // two source rows match the same target key; one is genuinely new
    val src = Seq((2L, "X1", 1L), (2L, "X2", 2L), (9L, "new", 90L)).toDF("k", "v", "n")
    t.merge(src, col("target.k") === col("source.k"))
      .whenNotMatchedInsertAll()
      .execute()
    val out = t.read().orderBy("k").as[(Long, String, Long)].collect()
    out shouldBe Array((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (9L, "new", 90L))
    // append-only commit: every pre-existing file is still live
    filesBefore.subsetOf(t.snapshot().files.map(_.path).toSet) shouldBe true
    val metrics = t.history(Some(1)).select("operationMetrics")
      .as[Map[String, String]].head()
    metrics("numTargetRowsInserted") shouldBe "1"
    metrics("numTargetRowsCopied") shouldBe "0"
  }

  test("insert-only merge with CDF emits insert changes only") {
    val t = target("mg-insonly-cdf", Map("graft.enableChangeDataFeed" -> "true"))
    val v0 = t.version
    val src = Seq((3L, "dup", 0L), (7L, "seven", 70L)).toDF("k", "v", "n")
    t.merge(src, col("target.k") === col("source.k"))
      .whenNotMatchedInsertAll()
      .execute()
    val ch = t.changes(v0 + 1).collect()
    ch.map(_.getAs[String]("_change_type")).toSet shouldBe Set("insert")
    ch.map(_.getAs[Long]("k")).toSet shouldBe Set(7L)
  }

  test("merge touches only files containing matches") {
    val t = target("mg-touch")
    // two more files with far-away keys: past the two-candidate floor
    // (below it, rewriting every candidate is cheaper than probing), so
    // the probe runs (a small local append lands as one file)
    t.append(Seq((1000L, "far", 1L)).toDF("k", "v", "n"))
    t.append(Seq((2000L, "far2", 2L)).toDF("k", "v", "n"))
    val before = t.snapshot().files.map(_.path).toSet
    val src = Seq((1L, "A", 1L)).toDF("k", "v", "n")
    t.merge(src, col("target.k") === col("source.k")).whenMatchedUpdateAll().execute()
    val after = t.snapshot().files.map(_.path).toSet
    after.intersect(before).nonEmpty shouldBe true // far files untouched
    t.read().count() shouldBe 5
  }

  test("whenNotMatchedBySourceDelete: full-sync removes target rows absent from source") {
    val t = target("mg-nmbs-del")
    val src = Seq((2L, "B", 200L), (4L, "D", 400L)).toDF("k", "v", "n")
    t.merge(src, col("target.k") === col("source.k"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .whenNotMatchedBySourceDelete()
      .execute()
    val out = t.read().orderBy("k").as[(Long, String, Long)].collect()
    out shouldBe Array((2L, "B", 200L), (4L, "D", 400L))
    val metrics = t.history(Some(1)).select("operationMetrics")
      .as[Map[String, String]].head()
    metrics("numTargetRowsUpdated") shouldBe "1"
    metrics("numTargetRowsInserted") shouldBe "1"
    metrics("numTargetRowsDeleted") shouldBe "2"
    metrics("numTargetRowsNotMatchedBySourceDeleted") shouldBe "2"
  }

  test("whenNotMatchedBySourceUpdate with condition: only qualifying unmatched rows change") {
    val t = target("mg-nmbs-upd")
    val src = Seq((2L, "B", 200L)).toDF("k", "v", "n")
    t.merge(src, col("target.k") === col("source.k"))
      .whenMatchedUpdateAll()
      .whenNotMatchedBySourceUpdate(
        Map("v" -> lit("stale")), condition = Some(col("target.n") >= 30))
      .execute()
    val out = t.read().orderBy("k").as[(Long, String, Long)].collect()
    // k=1 unmatched but n=10 < 30 -> untouched copy; k=3 unmatched, n=30 -> stale
    out shouldBe Array((1L, "a", 10L), (2L, "B", 200L), (3L, "stale", 30L))
    val metrics = t.history(Some(1)).select("operationMetrics")
      .as[Map[String, String]].head()
    metrics("numTargetRowsNotMatchedBySourceUpdated") shouldBe "1"
    metrics("numTargetRowsUpdated") shouldBe "2" // 1 matched + 1 NMBS
  }

  test("NMBS under deletion vectors masks unmatched rows instead of rewriting") {
    val t = target("mg-nmbs-dv", Map("graft.enableDeletionVectors" -> "true"))
    val filesBefore = t.snapshot().files.map(_.path).toSet
    val src = Seq((1L, "A", 100L)).toDF("k", "v", "n")
    t.merge(src, col("target.k") === col("source.k"))
      .whenMatchedUpdateAll()
      .whenNotMatchedBySourceDelete()
      .execute()
    // no data file rewritten: old versions masked, only the update appended
    filesBefore.subsetOf(t.snapshot().files.map(_.path).toSet) shouldBe true
    t.snapshot().dvs should not be empty
    val out = t.read().orderBy("k").as[(Long, String, Long)].collect()
    out shouldBe Array((1L, "A", 100L))
  }

  test("withSchemaEvolution: new source columns land nullable; old rows read NULL") {
    val t = target("mg-evolve")
    val src = Seq((2L, "B", 200L, "eu"), (4L, "D", 400L, "us"))
      .toDF("k", "v", "n", "region")
    t.merge(src, col("target.k") === col("source.k"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .withSchemaEvolution()
      .execute()
    t.schema.fieldNames.toSeq should contain("region")
    t.schema("region").nullable shouldBe true
    val out = t.read().orderBy("k").as[(Long, String, Long, String)].collect()
    out shouldBe Array(
      (1L, "a", 10L, null), (2L, "B", 200L, "eu"),
      (3L, "c", 30L, null), (4L, "D", 400L, "us"))
  }

  test("without withSchemaEvolution, extra source columns are ignored") {
    val t = target("mg-noevolve")
    val src = Seq((2L, "B", 200L, "eu")).toDF("k", "v", "n", "region")
    t.merge(src, col("target.k") === col("source.k"))
      .whenMatchedUpdateAll().execute()
    t.schema.fieldNames.toSeq should not contain "region"
    t.read().filter(col("k") === 2L).select("v").as[String].head() shouldBe "B"
  }

  test("schema evolution composes with deletion vectors") {
    val t = target("mg-evolve-dv", Map("graft.enableDeletionVectors" -> "true"))
    val filesBefore = t.snapshot().files.map(_.path).toSet
    val src = Seq((1L, "A", 100L, 9.5)).toDF("k", "v", "n", "score")
    t.merge(src, col("target.k") === col("source.k"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withSchemaEvolution()
      .execute()
    filesBefore.subsetOf(t.snapshot().files.map(_.path).toSet) shouldBe true
    t.schema.fieldNames.toSeq should contain("score")
    val got = t.read().orderBy("k").select("k", "score").as[(Long, Option[Double])].collect()
    got shouldBe Array((1L, Some(9.5)), (2L, None), (3L, None))
  }

  test("NMBS with CDF emits deletes for dropped rows") {
    val t = target("mg-nmbs-cdf", Map("graft.enableChangeDataFeed" -> "true"))
    val v0 = t.version
    val src = Seq((1L, "A", 100L)).toDF("k", "v", "n")
    t.merge(src, col("target.k") === col("source.k"))
      .whenMatchedUpdateAll()
      .whenNotMatchedBySourceDelete()
      .execute()
    val ch = t.changes(v0 + 1).collect()
    ch.filter(_.getAs[String]("_change_type") == "delete")
      .map(_.getAs[Long]("k")).toSet shouldBe Set(2L, 3L)
  }
}
