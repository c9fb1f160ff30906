package graft.table

import org.apache.spark.sql.DataFrame
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
  /** A row keyed by (`k`, `k2`), where `k` may be null. */
  case class N(k: Option[Long], k2: Long, v: Long)
}

class MergeFuzzSpec extends SparkSpec {
  import spark.implicits._
  import MergeFuzzSpec.{N, R}

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
    * on — together these reach every MERGE execution path — and each with
    * the source as a local relation (read on the driver) and as a parquet
    * round-trip (a non-local plan). Checks the rows, the commit's row
    * counts and, with the change feed on, the merge version's change rows
    * against the model, so both source forms give the same answer. */
  private def run(
      target: Seq[R], source: Seq[R], dv: Boolean,
      build: MergeBuilder => MergeBuilder, c: Clauses): Unit =
    for (dvOn <- Seq(dv, !dv); cdfOn <- Seq(false, true); local <- Seq(true, false))
      withClue(s"dv=$dvOn cdf=$cdfOn local=$local: ") {
        runOnce(target, source, dvOn, cdfOn, local, build, c)
      }

  /** `df` as the MERGE sees it: the local relation itself, or the same
    * rows read back from parquet (a plan the driver cannot read). */
  private def sourceOf(df: DataFrame, local: Boolean): DataFrame = {
    val out = if (local) df else {
      val p = tmpDir("mfz-src").resolve("s").toString
      df.write.parquet(p)
      spark.read.parquet(p)
    }
    org.apache.spark.sql.graft.Local.relation(out).isDefined shouldBe local
    out
  }

  private def runOnce(
      target: Seq[R], source: Seq[R], dv: Boolean, cdf: Boolean, local: Boolean,
      build: MergeBuilder => MergeBuilder, c: Clauses): Unit = {
    val props =
      (if (dv) Map("graft.enableDeletionVectors" -> "true") else Map.empty[String, String]) ++
        (if (cdf) Map("graft.enableChangeDataFeed" -> "true") else Map.empty[String, String])
    val t = LakeTable.createFrom(spark,
      tmpDir("mfz").resolve("t").toString, target.toDF(), properties = props)
    val before = t.version
    val v = build(t.merge(sourceOf(source.toDF(), local).alias("source"),
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

  /** updateAll + insertAll over `N` rows keyed by `k` alone or by
    * (`k`, `k2`), against the model (a key with a null field matches
    * nothing, so its source row inserts), in every storage mode and both
    * source forms. */
  private def runNullable(target: Seq[N], source: Seq[N], twoKeys: Boolean): Unit = {
    def key(r: N) = if (twoKeys) (r.k, r.k2) else (r.k, 0L)
    def matches(t: N, s: N) = t.k.isDefined && s.k.isDefined && key(t) == key(s)
    val updated = target.map(t => source.find(matches(t, _)).fold(t)(s => s.copy(v = s.v + 1000)))
    val inserts = source.filterNot(s => target.exists(matches(_, s)))
    val want = updated ++ inserts
    val nUpdated = target.count(t => source.exists(matches(t, _)))
    val cond = col("target.k") === col("source.k") &&
      (if (twoKeys) col("target.k2") === col("source.k2") else lit(true))
    for (dv <- Seq(false, true); cdf <- Seq(false, true); local <- Seq(true, false))
      withClue(s"twoKeys=$twoKeys dv=$dv cdf=$cdf local=$local: ") {
        val props = Map("graft.enableDeletionVectors" -> dv.toString,
          "graft.enableChangeDataFeed" -> cdf.toString)
        val t = LakeTable.createFrom(spark, tmpDir("mfz-null").resolve("t").toString,
          target.toDF(), properties = props)
        val v = t.merge(sourceOf(source.toDF(), local).alias("source"),
          if (twoKeys) cond else col("target.k") === col("source.k"))
          .whenMatchedUpdate(Map("v" -> (col("source.v") + 1000)))
          .whenNotMatchedInsertAll().execute()
        def sorted(rs: Seq[N]) = rs.sortBy(r => (r.k.getOrElse(-1L), r.k2, r.v))
        sorted(t.read().as[N].collect().toSeq) shouldBe sorted(want)
        val m = t.history(Some(1)).select("operationMetrics").as[Map[String, String]].head()
        (m("numTargetRowsUpdated").toLong, m("numTargetRowsInserted").toLong) shouldBe
          ((nUpdated.toLong, inserts.size.toLong))
        if (cdf) {
          val got = t.changes(v, Some(v)).select("_change_type", "k", "k2", "v")
            .as[(String, Option[Long], Long, Long)].collect().toSeq
          val wantCh = target.flatMap(tr => source.find(matches(tr, _)).toSeq.flatMap(s =>
            Seq(("update_preimage", tr.k, tr.k2, tr.v),
              ("update_postimage", tr.k, tr.k2, s.v + 1000)))) ++
            inserts.map(s => ("insert", s.k, s.k2, s.v))
          def ord(x: (String, Option[Long], Long, Long)) = (x._1, x._2.getOrElse(-1L), x._3, x._4)
          got.sortBy(ord) shouldBe wantCh.sortBy(ord)
        }
      }
  }

  test("null source keys and a two-column key: local and non-local sources agree") {
    val target = (0L until 12L).map(i => N(Some(i), i % 3, i)) :+ N(None, 1L, 99L)
    // one key column, one null source key: count(DISTINCT k) counts no
    // null, so the keys are not distinct (general path); the null row inserts
    runNullable(target, Seq(N(Some(2L), 2L, 1L), N(Some(20L), 0L, 2L), N(None, 1L, 3L)),
      twoKeys = false)
    // two null source keys: both insert
    runNullable(target, Seq(N(Some(4L), 1L, 1L), N(None, 1L, 2L), N(None, 2L, 3L)),
      twoKeys = false)
    // two columns with null fields: (null, 1) twice is one distinct struct
    // (general path), (null, 1) and (null, 2) are two (fast path); either
    // way a null field matches nothing and its row inserts
    runNullable(target, Seq(N(Some(5L), 2L, 1L), N(None, 1L, 2L), N(None, 1L, 3L),
      N(Some(6L), 1L, 4L)), twoKeys = true)
    runNullable(target, Seq(N(Some(5L), 2L, 1L), N(None, 1L, 2L), N(None, 2L, 3L),
      N(Some(6L), 0L, 4L), N(Some(7L), 0L, 5L)), twoKeys = true)
  }

  test("driver-side phase 0 matches the count(DISTINCT ...) aggregate") {
    import org.apache.spark.sql.graft.Local
    def check(df: DataFrame, keys: Seq[String]): Unit = withClue(s"$keys ${df.collect().toSeq}: ") {
      val l = Local.relation(df).get
      val (n, bounds, distinct) = Dml.localPhase0(l, keys, checkDistinct = true)
      val dk = count_distinct(if (keys.size == 1) col(keys.head) else struct(keys.map(col): _*))
      val aggs = Seq(count(lit(1)), dk) ++ keys.flatMap(k => Seq(min(col(k)), max(col(k))))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      n shouldBe row.getLong(0)
      distinct shouldBe (row.getLong(1) == row.getLong(0))
      keys.zipWithIndex.foreach { case (k, j) =>
        val (lo, hi) = (row.get(2 + 2 * j), row.get(3 + 2 * j))
        bounds.get(k).map { case (a, b) =>
          df.select(a, b).head().toSeq.map(String.valueOf) } shouldBe
          (if (lo == null) None else Some(Seq(lo, hi).map(String.valueOf)))
      }
    }
    val nk = Seq(N(Some(1L), 1L, 0L), N(None, 1L, 0L), N(Some(3L), 2L, 0L)).toDF()
    check(nk, Seq("k"))
    check(nk, Seq("k", "k2"))
    check(Seq(N(None, 1L, 0L), N(None, 1L, 1L)).toDF(), Seq("k", "k2"))
    check(Seq(N(None, 1L, 0L), N(None, 2L, 1L)).toDF(), Seq("k", "k2"))
    check(Seq(N(Some(1L), 1L, 0L), N(Some(1L), 2L, 1L)).toDF(), Seq("K"))
    check(Seq(N(None, 1L, 0L)).toDF(), Seq("k"))
    // doubles: -0.0 and 0.0 group together, as do NaNs
    check(Seq(0.0, -0.0, 1.5).toDF("d"), Seq("d"))
    check(Seq(Double.NaN, Double.NaN, 2.0).toDF("d"), Seq("d"))
    check(Seq(Double.NaN, -1.0).toDF("d"), Seq("d"))
    check(Seq("b", "a", "c").toDF("s"), Seq("s"))
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
