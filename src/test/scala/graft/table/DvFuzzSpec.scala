package graft.table

import org.apache.spark.sql.functions._
import scala.util.Random

import graft.SparkSpec

/** Model-based fuzz of deletion-vector ACCUMULATION: long random sequences
  * of DV deletes/updates/merges interleaved with OPTIMIZE and REORG PURGE,
  * checked row-for-row against an in-memory model after every step — the
  * guard for the incremental bitmap OR-merge and the per-dir stale-row
  * filtering in maskAndCommit, which only show their bugs once several
  * vectors stack on the same files. Periodic reopen forces full log
  * replay. */
class DvFuzzSpec extends SparkSpec {
  import spark.implicits._

  test("randomized DV op sequences match an in-memory model (3 seeds)") {
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new Random(seed)
      val dir = tmpDir(s"dvfuzz$seed").resolve("t").toString
      var model: Map[Long, Long] = (0L until 500L).map(i => i -> i).toMap
      val df0 = model.toSeq.toDF("id", "v")
      var table = LakeTable.create(spark, dir, df0.schema,
        properties = Map("graft.enableDeletionVectors" -> "true"))
      (0 until 5).foreach(k =>
        table.append(df0.filter(col("id") % 5 === k).coalesce(1)))
      for (step <- 0 until 12) {
        rnd.nextInt(6) match {
          case 0 | 1 => // DV delete (weighted: stacking masks is the point)
            val m = rnd.nextInt(7) + 2; val r = rnd.nextInt(m)
            table.delete(col("id") % m === r && col("id") < 400L)
            model = model.filter { case (id, _) => !(id % m == r && id < 400L) }
          case 2 => // DV update: mask + append changed rows
            val m = rnd.nextInt(7) + 2; val r = rnd.nextInt(m)
            table.update(col("id") % m === r, Map("v" -> (col("v") + 1000L)))
            model = model.map { case (id, v) =>
              id -> (if (id % m == r) v + 1000L else v) }
          case 3 => // merge upsert over a random key range
            val lo = rnd.nextInt(600).toLong; val hi = lo + rnd.nextInt(100)
            val src = (lo until hi).map(i => (i, i * 2)).toDF("id", "v")
            if (lo < hi) {
              table.merge(src, col("target.id") === col("source.id"))
                .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
              model = model ++ (lo until hi).map(i => i -> i * 2)
            }
          case 4 => table.optimizeCompact(): Unit
          case 5 => table.reorgPurge(): Unit
        }
        if (step % 4 == 3) table = LakeTable.forPath(spark, dir) // log replay
        withClue(s"seed $seed step $step: ") {
          table.read().as[(Long, Long)].collect().toMap shouldBe model
        }
      }
    }
  }

  test("stale DV commit conflicts with a concurrent vector change on the same files") {
    val df = (0L until 100L).map(i => (i, i)).toDF("id", "v")
    val t = LakeTable.create(spark, tmpDir("dv-race").resolve("t").toString,
      df.schema, properties = Map("graft.enableDeletionVectors" -> "true"))
    t.append(df.coalesce(1))
    val snap = t.snapshot()
    val matched = t.readFilesMaskedPos(snap, snap.files, snap.schema)
      .filter(col("id") < 10L)
    t.delete(col("id") < 5L) // lands a vector on the same file
    // masks computed under snap's (empty) vectors must not clobber it
    an[java.util.ConcurrentModificationException] should be thrownBy {
      t.maskAndCommit(snap, "DELETE", Map("predicate" -> "race-test"),
        snap.files, matched, Nil, Nil, n => Map("numDeletedRows" -> n))
    }
    t.read().count() shouldBe 95
  }

  test("stale DV commit conflicts with a concurrent partition-column change") {
    val df = (0L until 100L).map(i => (i, i % 4)).toDF("id", "v")
    val t = LakeTable.create(spark, tmpDir("dv-pcol-race").resolve("t").toString,
      df.schema, properties = Map("graft.enableDeletionVectors" -> "true"))
    t.append(df.coalesce(1))
    val snap = t.snapshot()
    val matched = t.readFilesMaskedPos(snap, snap.files, snap.schema)
      .filter(col("id") < 10L)
    // same schema and live files, new partitioning: the masks were planned
    // under the old layout, as copy-on-write rewrites are
    t.commitWithRetry("SET PARTITIONING", Map.empty, t.snapshot()) { s =>
      Seq(s.metadata.copy(partitionColumns = Seq("v")))
    }
    an[java.util.ConcurrentModificationException] should be thrownBy {
      t.maskAndCommit(snap, "DELETE", Map("predicate" -> "race-test"),
        snap.files, matched, Nil, Nil, n => Map("numDeletedRows" -> n))
    }
    t.snapshot().dvs shouldBe empty
  }
}
