package graft.table

import java.nio.file.Path

import org.apache.spark.sql.Row

import graft.log.{LogStore, Snapshot, TxLog}

/** Differential spec for the incremental snapshot cache: over the seeded
  * lifecycle histories of [[LifecycleFuzz]], after every step the
  * snapshot a `LakeTable` holds (its own post-commit state), that of a
  * second instance that only reads, and the checkpoint-based resolution
  * must all equal a replay of the commit files alone. DESCRIBE HISTORY
  * must list every version exactly once and never change what it showed
  * before — TRUNCATE HISTORY included — and a replayed idempotent epoch
  * must stay a no-op across checkpoints and truncations. */
class IncrementalSnapshotSpec extends LifecycleFuzz {

  /** Store view holding only the commit files — plus, once history was
    * truncated, the boundary's checkpoint, without which the versions
    * below it cannot be replayed at all. Resolution through it is the
    * per-commit reference replay. */
  private class CommitsOnly(inner: LogStore) extends LogStore {
    private def visible(names: Seq[String]): Seq[String] = {
      val oldest = names
        .filter(n => n.endsWith(".json") && !n.contains(".checkpoint.") &&
          !n.contains(".compacted."))
        .flatMap(_.stripSuffix(".json").toLongOption).minOption.getOrElse(0L)
      names.filter(n => n != "_last_checkpoint" && !n.contains(".compacted.") &&
        (!n.contains(".checkpoint.") || (oldest > 0 && n.startsWith(f"$oldest%020d."))))
    }
    def listFileNames(dir: Path): Seq[String] = visible(inner.listFileNames(dir))
    override def listFileNamesAfter(dir: Path, startAfter: String): Seq[String] =
      listFileNames(dir).filter(_ > startAfter)
    def read(path: Path): Seq[String] = {
      val n = path.getFileName.toString
      require(path.getParent.getFileName.toString != "_txlog" ||
        visible(inner.listFileNames(path.getParent)).contains(n), s"hidden: $n")
      inner.read(path)
    }
    def writeAtomic(path: Path, body: Array[Byte], overwrite: Boolean): Boolean =
      throw new UnsupportedOperationException("read-only reference view")
    def delete(path: Path): Boolean =
      throw new UnsupportedOperationException("read-only reference view")
  }

  private def sameState(a: Snapshot, b: Snapshot, clue: String): Unit = withClue(clue) {
    a.version shouldBe b.version
    a.files.sortBy(_.path) shouldBe b.files.sortBy(_.path)
    a.dvs shouldBe b.dvs
    a.metadata shouldBe b.metadata
    a.protocol shouldBe b.protocol
    a.domains shouldBe b.domains
    a.txns shouldBe b.txns
    a.copied shouldBe b.copied
    a.commitTimestamp shouldBe b.commitTimestamp
  }

  /** The per-step differential check; truncates history every sixth step
    * and returns the new floor. */
  private def differential(seed: Int, dv: Boolean): (LakeTable, Int) => Option[Long] = {
    var follower: LakeTable = null
    var shown: Seq[Row] = Nil
    (table, step) => {
      val clue = s"seed=$seed dv=$dv step=$step"
      val reference = new TxLog(table.dir, new CommitsOnly(LogStore.default)).snapshot()
      sameState(table.snapshot(), reference, s"$clue own cache: ")
      sameState(table.log.snapshot(), reference, s"$clue checkpoint replay: ")
      // a second instance that only reads, behind the first one's commits
      if (follower == null) follower = LakeTable.forPath(spark, table.dir.toString)
      sameState(follower.snapshot(), reference, s"$clue follower: ")
      def history(): Seq[Row] = table.history().collect().toSeq
      val now = history()
      withClue(s"$clue history: ") {
        now.map(_.getLong(0)) shouldBe (table.version to 0L by -1L)
        now.takeRight(shown.size) shouldBe shown
        table.snapshot().commits.map(_.version) shouldBe (0L to table.version)
      }
      shown = now
      val floor =
        if (step % 6 != 5) None
        else {
          val v = table.version
          table.log.truncateBefore(v)
          withClue(s"$clue history across truncation: ") { history() shouldBe now }
          sameState(LakeTable.forPath(spark, table.dir.toString).snapshot(), reference,
            s"$clue after truncation: ")
          Some(v)
        }
      // a replayed epoch is a no-op, across checkpoints and truncations
      reference.txns.get("fuzz-app").foreach { epoch =>
        val v0 = table.version
        withClue(s"$clue epoch $epoch replay: ") {
          table.appendStream(spark.emptyDataFrame, "fuzz-app", epoch) shouldBe v0
          LakeTable.forPath(spark, table.dir.toString)
            .appendStream(spark.emptyDataFrame, "fuzz-app", epoch) shouldBe v0
          table.version shouldBe v0
        }
      }
      floor
    }
  }

  test("incremental snapshots equal a per-commit replay (rewrite mode, log compaction on)") {
    runFuzz(41, dv = false, Map("graft.log.compactionInterval" -> "4"),
      differential(41, dv = false))
  }

  test("incremental snapshots equal a per-commit replay (DV mode)") {
    runFuzz(43, dv = true, afterStep = differential(43, dv = true))
  }
}
