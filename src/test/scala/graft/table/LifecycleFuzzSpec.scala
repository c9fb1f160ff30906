package graft.table

import org.apache.spark.sql.functions._
import scala.util.Random

/** Whole-table lifecycle fuzz: random interleavings of append / UPDATE /
  * DELETE / OPTIMIZE / Z-ORDER / RESTORE / reopen, checked row-for-row
  * against an in-memory model after every step, with a per-version model
  * history so RESTORE is verified against the exact state the table had at
  * that version. Runs in both rewrite and deletion-vector modes, with a
  * small checkpoint interval so restores and replays cross checkpoint
  * boundaries. A closing VACUUM(0) must not disturb the live state. The
  * single-op fuzzes (MergeFuzz, DvFuzz, OverwriteFuzz, NativeDmlFuzz)
  * guard each operator's semantics; this one guards their COMPOSITION —
  * log replay, snapshot caching, tombstones and DV masks interacting
  * across an arbitrary history. */
class LifecycleFuzzSpec extends LifecycleFuzz {
  import spark.implicits._

  test("random lifecycle interleavings match the per-version model (rewrite mode)") {
    Seq(11, 23, 31).foreach(runFuzz(_, dv = false))
  }

  test("random lifecycle interleavings match the per-version model (DV mode)") {
    Seq(11, 23, 31).foreach(runFuzz(_, dv = true))
  }

  // ------------------------------------------------- multi-writer fuzz

  /** The committed-effect ledger: one entry per version a writer KNOWS it
    * committed; replaying the ledger in version order must reproduce the
    * final table exactly — the serializability check for contended DML +
    * OPTIMIZE + RESTORE interleavings (lost updates, double-applies, or a
    * non-serial-equivalent admission all fail the replay). */
  private sealed trait Eff
  private case class Add(rows: Map[Long, Long]) extends Eff
  private case class Upd(w: Long, d: Long) extends Eff
  private case class Del(w: Long, k: Long, r: Long) extends Eff
  private case class Restore(target: Long) extends Eff

  private def runConcurrent(storeName: String, store: graft.log.LogStore): Unit = {
    val prev = graft.log.LogStore.default
    graft.log.LogStore.default = store
    try {
      val dir = tmpDir(s"concfuzz-$storeName").resolve("t").toString
      // row tracking ON: contended CAS retries must re-assign id ranges
      // against the fresh snapshot — overlapping allocations from racing
      // writers would surface as duplicate row ids below. V2 checkpoints
      // ON: racing checkpointers of the same state write content-addressed
      // sidecars whose put-if-absent publishes dedup by construction
      val t0 = LakeTable.create(spark, dir, Seq((0L, 0L)).toDF("id", "v").schema,
        properties = Map(
          "graft.enableRowTracking" -> "true",
          "graft.checkpointInterval" -> "5",
          "graft.checkpoint.v2" -> "true",
          "graft.checkpoint.v2.buckets" -> "4"))
      t0.append((0L until 90L).map(i => (i, 0L)).toDF("id", "v")) // v1 seed
      val ledger = new java.util.concurrent.ConcurrentHashMap[Long, Eff]()
      ledger.put(1L, Add((0L until 90L).map(i => i -> 0L).toMap))
      val hardErrs = new java.util.concurrent.atomic.AtomicReference[Throwable]
      // UPDATE/DELETE that match nothing return the CURRENT version without
      // committing — record an effect only when the commit at `ver` is
      // verifiably OURS (right op + our exact predicate string); putIfAbsent
      // keeps the first owner when an identical no-op repeats the slot
      def recordDml(t: LakeTable, ver: Long, op: String,
          pred: String, eff: Eff): Unit = {
        val ci = t.log.readVersion(ver)
          .collectFirst { case c: graft.log.CommitInfo => c }
        if (ci.exists(c => c.operation == op &&
            c.operationParameters.get("predicate").contains(pred)))
          ledger.putIfAbsent(ver, eff): Unit
      }
      // each writer owns seed ids with id % 3 == w; appended ids are
      // writer-unique — all predicates are key-deterministic so the serial
      // replay can re-evaluate them on the model
      val threads = (0 until 3).map { w =>
        new Thread(() => {
          val rnd = new Random(7000 + w)
          val t = LakeTable.forPath(spark, dir)
          (0 until 6).foreach { i =>
            try {
              rnd.nextInt(5) match {
                case 0 | 4 =>
                  val rows = (0 until 8).map(j =>
                    (1000L + w * 1000 + i * 10 + j, rnd.nextInt(100).toLong)).toMap
                  val ver = t.append(rows.toSeq.toDF("id", "v"))
                  ledger.put(ver, Add(rows)): Unit
                case 1 =>
                  val d = rnd.nextInt(20) + 1L
                  val cond = col("id") % 3 === w && col("id") < 90
                  val ver = t.update(cond, Map("v" -> (col("v") + d)))
                  recordDml(t, ver, "UPDATE", cond.toString, Upd(w, d))
                case 2 =>
                  val k = rnd.nextInt(4) + 2L
                  val r = rnd.nextInt(k.toInt).toLong
                  // floor(): Spark's / on longs is DOUBLE division; the
                  // model replays this as integer id/3 (non-negative ids)
                  val cond = col("id") % 3 === w && col("id") < 90 &&
                    floor(col("id") / 3) % k === r
                  val ver = t.delete(cond)
                  recordDml(t, ver, "DELETE", cond.toString, Del(w, k, r))
                case 3 =>
                  if (w == 0 && i == 3) {
                    // one restore mid-contention: content reverts wholesale,
                    // INCLUDING concurrent appends that landed before it
                    val target = 1L + rnd.nextInt(t.version.toInt)
                    val ver = t.restoreToVersion(target)
                    ledger.put(ver, Restore(target)): Unit
                  } else t.optimizeCompact(targetFileSize = 32 * 1024): Unit
              }
            } catch {
              case e: Throwable =>
                // genuine conflict aborts are LEGAL (the op did not commit —
                // nothing enters the ledger); anything non-conflict is a bug
                val m = String.valueOf(e.getMessage)
                if (!m.contains("conflict") && !m.contains("concurrent"))
                  hardErrs.compareAndSet(null, e): Unit
            }
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      if (hardErrs.get() != null) throw hardErrs.get()
      val table = LakeTable.forPath(spark, dir)
      // gapless versions, then serial replay of the ledger
      val versions = table.log.listVersions()
      versions shouldBe (0L to versions.last)
      var model: Map[Long, Long] = Map.empty
      val states = scala.collection.mutable.Map[Long, Map[Long, Long]](0L -> model)
      (1L to versions.last).foreach { v =>
        ledger.get(v) match {
          case Add(rows) => model ++= rows
          case Upd(w, d) => model = model.map { case (id, x) =>
            id -> (if (id < 90 && id % 3 == w) x + d else x) }
          case Del(w, k, r) => model = model.filter { case (id, _) =>
            !(id < 90 && id % 3 == w && (id / 3) % k == r) }
          case Restore(target) => model = states(target)
          case null => // optimize / unrecorded data-identical commit
        }
        states(v) = model
      }
      val trace = (0L to versions.last).map { v =>
        val ci = table.log.readVersion(v)
          .collectFirst { case c: graft.log.CommitInfo => c }
        s"v$v: ${ci.map(c => c.operation + " " + c.operationParameters).getOrElse("?")}" +
          s" | ledger=${Option(ledger.get(v)).getOrElse("-")}"
      }.mkString("\n")
      withClue(s"store=$storeName serial replay of ${ledger.size} committed ops:\n$trace\n") {
        table.read().select("id", "v").as[(Long, Long)].collect().toMap shouldBe model
      }
      // contended row-id allocation: three racing writers (appends, DML
      // rewrites, compactions, a restore) must never hand out overlapping
      // ranges — every live row id is unique at the end
      val rids = table.withRowIds().select("_row_id").as[Long].collect()
      withClue(s"store=$storeName contended row-id allocation: ") {
        rids.length shouldBe model.size
        rids.toSet.size shouldBe rids.length
      }
    } finally graft.log.LogStore.default = prev
  }

  test("concurrent lifecycle fuzz: committed history replays serially to the final state, on all three stores") {
    runConcurrent("local", graft.log.LocalLogStore)
    runConcurrent("mem", new graft.log.InMemoryLogStore)
    runConcurrent("s3", new graft.log.S3LogStore(new graft.log.S3ClientFake))
  }
}
