package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Differential MERGE fuzz: random targets/sources/clause sets run through
  * the engine and compared row-for-row against a plain-Scala model of
  * Delta's semantics (first matching clause wins; unmatched target rows
  * copy; unmatched source rows insert through the first passing insert
  * clause or drop). Seeds are chosen to exercise every execution path:
  * the low-shuffle fast path (distinct source keys, pure equi condition),
  * the general full-outer path (clause conditions force nothing — the
  * fast path handles them — so a duplicate TARGET key set is used), and
  * the deletion-vector path (same semantics, masked writes). */
object MergeFuzzSpec {
  case class R(k: Long, v: Long, s: String)
}

class MergeFuzzSpec extends SparkSpec {
  import spark.implicits._
  import MergeFuzzSpec.R

  /** The reference model. Clause conditions are (targetRow, sourceRow) =>
    * Boolean; update produces the new row. `moreInserts` are further insert
    * clauses tried after the first (each a condition and the row it
    * writes); `nmbs` are WHEN NOT MATCHED BY SOURCE clauses on the target
    * row ("update" writes `nmbsUpdateOf`, "delete" drops it). */
  private case class Clauses(
      matched: Seq[(String, (R, R) => Boolean)], // "update" | "delete"
      insertCond: Option[R => Boolean],
      hasInsert: Boolean,
      moreInserts: Seq[(R => Boolean, R => R)] = Nil,
      nmbs: Seq[(String, R => Boolean)] = Nil)

  private def updateOf(t: R, s: R): R = R(t.k, s.v + 1000, s.s)
  private def nmbsUpdateOf(t: R): R = R(t.k, t.v + 500, t.s)

  /** What one MERGE does under the model: the table's rows afterwards, the
    * commit's row counts, and the change-feed rows of the merge version. */
  private case class Outcome(
      rows: Seq[R], updated: Long, deleted: Long, inserted: Long,
      changes: Seq[(String, R)])

  private def model(target: Seq[R], source: Seq[R], c: Clauses): Outcome = {
    val byKey = source.groupBy(_.k)
    val out = Seq.newBuilder[R]
    val changes = Seq.newBuilder[(String, R)]
    var updated, deleted, inserted = 0L
    def update(t: R, post: R): Unit = {
      out += post; updated += 1
      changes += ("update_preimage" -> t) += ("update_postimage" -> post)
    }
    def delete(t: R): Unit = { deleted += 1; changes += ("delete" -> t) }
    target.foreach { t =>
      byKey.get(t.k).map(_.head) match {
        case Some(s) =>
          c.matched.find { case (_, cond) => cond(t, s) } match {
            case Some(("update", _)) => update(t, updateOf(t, s))
            case Some(("delete", _)) => delete(t)
            case _ => out += t // matched but no clause fired -> copy
          }
        case None =>
          c.nmbs.find { case (_, cond) => cond(t) } match {
            case Some(("update", _)) => update(t, nmbsUpdateOf(t))
            case Some(("delete", _)) => delete(t)
            case _ => out += t
          }
      }
    }
    if (c.hasInsert) {
      val tks = target.map(_.k).toSet
      val clauses = (c.insertCond.getOrElse((_: R) => true), (s: R) => s) +: c.moreInserts
      source.filterNot(s => tks.contains(s.k)).foreach { s =>
        clauses.find(_._1(s)).foreach { case (_, row) =>
          out += row(s); inserted += 1; changes += ("insert" -> row(s))
        }
      }
    }
    Outcome(out.result(), updated, deleted, inserted, changes.result())
  }

  /** Runs the merge on a fresh table once per storage mode: copy-on-write
    * and deletion vectors (`dv` first), each with the change feed off and
    * on — together these reach every MERGE execution path. Checks the
    * rows, the commit's row counts and, with the change feed on, the merge
    * version's change rows against the model. */
  private def run(
      target: Seq[R], source: Seq[R], dv: Boolean,
      build: MergeBuilder => MergeBuilder, c: Clauses): Unit =
    for (dvOn <- Seq(dv, !dv); cdfOn <- Seq(false, true))
      withClue(s"dv=$dvOn cdf=$cdfOn: ") {
        runOnce(target, source, dvOn, cdfOn, build, c)
      }

  private def runOnce(
      target: Seq[R], source: Seq[R], dv: Boolean, cdf: Boolean,
      build: MergeBuilder => MergeBuilder, c: Clauses): Unit = {
    val props =
      (if (dv) Map("graft.enableDeletionVectors" -> "true") else Map.empty[String, String]) ++
        (if (cdf) Map("graft.enableChangeDataFeed" -> "true") else Map.empty[String, String])
    val t = LakeTable.createFrom(spark,
      tmpDir("mfz").resolve("t").toString, target.toDF(), properties = props)
    val before = t.version
    val v = build(t.merge(source.toDF().alias("source"),
      col("target.k") === col("source.k"))).execute()
    val want = model(target, source, c)
    val got = t.read().as[R].collect().sortBy(r => (r.k, r.v, r.s))
    got shouldBe want.rows.sortBy(r => (r.k, r.v, r.s))
    // a merge that changes nothing may leave the table at its old version
    val counts =
      if (v == before) Map.empty[String, String]
      else t.history(Some(1)).select("operationMetrics")
        .as[Map[String, String]].head()
    def count(k: String): Long = counts.get(k).map(_.toLong).getOrElse(0L)
    (count("numTargetRowsUpdated"), count("numTargetRowsDeleted"),
      count("numTargetRowsInserted")) shouldBe
      ((want.updated, want.deleted, want.inserted))
    if (cdf) {
      val changes =
        if (v == before) Seq.empty
        else t.changes(v, Some(v)).select("_change_type", "k", "v", "s")
          .as[(String, Long, Long, String)].collect().toSeq
          .map { case (ct, k, vv, s) => ct -> R(k, vv, s) }
      def key(ch: (String, R)) = (ch._1, ch._2.k, ch._2.v, ch._2.s)
      changes.sortBy(key) shouldBe want.changes.sortBy(key)
    }
  }

  private def rows(rnd: scala.util.Random, n: Int, keyRange: Int): Seq[R] =
    Seq.fill(n)(R(rnd.nextInt(keyRange).toLong, rnd.nextInt(100).toLong,
      s"s${rnd.nextInt(5)}"))

  private def distinctKeys(rs: Seq[R]): Seq[R] =
    rs.groupBy(_.k).values.map(_.head).toSeq

  test("fast path: updateAll+insertAll, distinct source keys") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val target = distinctKeys(rows(rnd, 40, 60))
      val source = distinctKeys(rows(rnd, 30, 90))
      run(target, source, dv = false,
        b => b.whenMatchedUpdate(Map("v" -> (col("source.v") + 1000),
            "s" -> col("source.s")))
          .whenNotMatchedInsertAll(),
        Clauses(Seq("update" -> ((_, _) => true)), None, hasInsert = true))
    }
  }

  test("conditional clauses: update-if-even, delete-if-big, guarded insert") {
    for (seed <- 5 to 8) {
      val rnd = new scala.util.Random(seed)
      val target = distinctKeys(rows(rnd, 50, 70))
      val source = distinctKeys(rows(rnd, 40, 100))
      run(target, source, dv = false,
        b => b
          .whenMatchedUpdate(Map("v" -> (col("source.v") + 1000),
            "s" -> col("source.s")), condition = Some(col("target.v") % 2 === 0))
          .whenMatchedDelete(condition = Some(col("source.v") > 50))
          .whenNotMatchedInsert(
            Map("k" -> col("source.k"), "v" -> col("source.v"), "s" -> col("source.s")),
            condition = Some(col("source.v") < 80)),
        Clauses(
          Seq("update" -> ((t: R, _: R) => t.v % 2 == 0),
            "delete" -> ((_: R, s: R) => s.v > 50)),
          Some((s: R) => s.v < 80), hasInsert = true))
    }
  }

  test("duplicate target keys all update from the one matching source row") {
    for (seed <- 9 to 11) {
      val rnd = new scala.util.Random(seed)
      val target = rows(rnd, 50, 25) // duplicate target keys guaranteed
      val source = distinctKeys(rows(rnd, 20, 40))
      run(target, source, dv = false,
        b => b.whenMatchedUpdate(Map("v" -> (col("source.v") + 1000),
            "s" -> col("source.s")))
          .whenNotMatchedInsertAll(),
        Clauses(Seq("update" -> ((_, _) => true)), None, hasInsert = true))
    }
  }

  test("general full-outer path: duplicate source keys on unmatched keys insert twice") {
    for (seed <- 15 to 17) {
      val rnd = new scala.util.Random(seed)
      val target = distinctKeys(rows(rnd, 30, 40))
      // distinct keys in the target's range, plus a duplicated pair far
      // outside it: srcKeysDistinct=false disables the fast path, but no
      // target row is matched twice, so the merge proceeds and inserts BOTH
      // duplicate rows (Delta semantics)
      val dupK = 1000L + rnd.nextInt(10)
      val source = distinctKeys(rows(rnd, 25, 40)) ++
        Seq(R(dupK, 1, "d1"), R(dupK, 2, "d2"))
      run(target, source, dv = false,
        b => b.whenMatchedUpdate(Map("v" -> (col("source.v") + 1000),
            "s" -> col("source.s")))
          .whenNotMatchedInsertAll(),
        Clauses(Seq("update" -> ((_, _) => true)), None, hasInsert = true))
    }
  }

  test("deletion-vector path matches the same model") {
    for (seed <- 12 to 14) {
      val rnd = new scala.util.Random(seed)
      val target = distinctKeys(rows(rnd, 40, 60))
      val source = distinctKeys(rows(rnd, 30, 90))
      run(target, source, dv = true,
        b => b
          .whenMatchedUpdate(Map("v" -> (col("source.v") + 1000),
            "s" -> col("source.s")), condition = Some(col("target.v") % 2 === 0))
          .whenMatchedDelete(condition = Some(col("source.v") > 50))
          .whenNotMatchedInsertAll(),
        Clauses(
          Seq("update" -> ((t: R, _: R) => t.v % 2 == 0),
            "delete" -> ((_: R, s: R) => s.v > 50)),
          None, hasInsert = true))
    }
  }

  test("insert-only clause set: the first passing insert clause writes the row") {
    for (seed <- 18 to 20) {
      val rnd = new scala.util.Random(seed)
      val target = distinctKeys(rows(rnd, 40, 60))
      val source = distinctKeys(rows(rnd, 30, 90))
      run(target, source, dv = false,
        b => b
          .whenNotMatchedInsertAll(condition = Some(col("source.v") < 40))
          .whenNotMatchedInsert(
            Map("k" -> col("source.k"), "v" -> (col("source.v") + 2000),
              "s" -> col("source.s")),
            condition = Some(col("source.v") >= 60)),
        Clauses(Nil, Some((s: R) => s.v < 40), hasInsert = true,
          moreInserts = Seq(((s: R) => s.v >= 60, (s: R) => s.copy(v = s.v + 2000)))))
    }
  }

  test("whenNotMatchedBySource clause set: conditional update and delete of unmatched rows") {
    for (seed <- 21 to 23) {
      val rnd = new scala.util.Random(seed)
      val target = distinctKeys(rows(rnd, 40, 60))
      val source = distinctKeys(rows(rnd, 30, 90))
      run(target, source, dv = false,
        b => b
          .whenMatchedUpdate(Map("v" -> (col("source.v") + 1000),
            "s" -> col("source.s")))
          .whenNotMatchedInsertAll()
          .whenNotMatchedBySourceUpdate(Map("v" -> (col("target.v") + 500)),
            condition = Some(col("target.v") < 30))
          .whenNotMatchedBySourceDelete(condition = Some(col("target.v") > 70)),
        Clauses(Seq("update" -> ((_, _) => true)), None, hasInsert = true,
          nmbs = Seq("update" -> ((t: R) => t.v < 30), "delete" -> ((t: R) => t.v > 70))))
    }
  }

  test("empty target: every source row inserts") {
    for (seed <- 24 to 25) {
      val rnd = new scala.util.Random(seed)
      val source = distinctKeys(rows(rnd, 30, 90))
      run(Seq.empty, source, dv = false,
        b => b.whenMatchedUpdate(Map("v" -> (col("source.v") + 1000),
            "s" -> col("source.s")))
          .whenMatchedDelete()
          .whenNotMatchedInsertAll(),
        Clauses(Seq("update" -> ((_, _) => true)), None, hasInsert = true))
    }
  }

  test("duplicate source keys matching one target row throw (ambiguity guard)") {
    val target = Seq(R(1, 10, "a"), R(2, 20, "b"))
    val source = Seq(R(1, 1, "x"), R(1, 2, "y")) // both match target k=1
    val t = LakeTable.createFrom(spark, tmpDir("mfzdup").resolve("t").toString,
      target.toDF())
    an[IllegalStateException] should be thrownBy {
      t.merge(source.toDF().alias("source"), col("target.k") === col("source.k"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    }
  }
}
