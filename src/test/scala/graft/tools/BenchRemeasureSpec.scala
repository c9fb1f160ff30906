package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The bench's contention self-healing trigger (pure function — the
  * contrived contended-run cases the r11 verdict asked for). */
class BenchRemeasureSpec extends AnyFunSuite with Matchers {

  private val quiet = Seq(
    "q1_agg" -> 0.5, "q17_scd2" -> 1.7, "q24_minhash" -> 2.8,
    "q60_stream" -> 9.5, "q64_perplexity" -> 2.3, "q103_bm25" -> 4.3)
  private val noSpread = quiet.map { case (n, v) => n -> Seq(v, v, v) }.toMap

  test("a quiet run flags nothing") {
    graft.Bench.remeasureTargets(quiet, noSpread,
      loadAtStart = 1.5, ncpu = 32) shouldBe empty
  }

  test("external load at start flags the topN most expensive queries") {
    val flagged = graft.Bench.remeasureTargets(quiet, noSpread,
      loadAtStart = 20.0, ncpu = 32, topN = 3)
    flagged shouldBe Seq("q60_stream", "q103_bm25", "q24_minhash")
  }

  test("a >3x warm-rep spread flags that query alone (cheap queries with " +
    "sub-second billing stay exempt)") {
    val reps = noSpread +
      ("q24_minhash" -> Seq(2.1, 9.0, 2.8)) + // stolen mid-measurement
      ("q1_agg" -> Seq(0.1, 0.5, 0.9)) // spread but billed < minSec
    graft.Bench.remeasureTargets(quiet, reps,
      loadAtStart = 1.5, ncpu = 32) shouldBe Seq("q24_minhash")
  }

  test("the r11 shape: a known-cheap query billed anomalously high flags " +
    "even with low start load and no rep spread; known heavies are exempt") {
    // q64 billed 22.0 s (quiet envelope 2.1-2.4) while load START was 1.55
    // and its single warm rep carried no spread — exactly what the r11
    // driver artifact produced
    val contended = quiet.map {
      case ("q64_perplexity", _) => "q64_perplexity" -> 22.0
      case other => other
    }
    val reps = noSpread + ("q64_perplexity" -> Seq(22.0))
    graft.Bench.remeasureTargets(contended, reps,
      loadAtStart = 1.55, ncpu = 32) shouldBe Seq("q64_perplexity")
    // q60 at 9.5 s is a streaming lifecycle (KnownHeavyPrefixes): exempt
    graft.Bench.KnownHeavyPrefixes should contain("q60")
  }

  test("flags deduplicate and cap at topN + 3") {
    val many = (1 to 20).map(i => s"q$i" + "_x" -> (30.0 + i))
    val reps = many.map { case (n, v) => n -> Seq(v, v / 4, v) }.toMap
    val flagged = graft.Bench.remeasureTargets(many, reps,
      loadAtStart = 30.0, ncpu = 32, topN = 5)
    flagged.size shouldBe 8
    flagged.distinct.size shouldBe 8
  }

  test("envelope: the r12 q28 shape — a 2x mover below the 8 s absolute " +
    "threshold flags against its committed quiet baseline") {
    val baseline = Map("q28_embedding_neardup" -> 2.7, "q109_stream_bm25" -> 7.3)
    // billed 5.9 s: below the 8 s absolute trigger, no spread, quiet load —
    // only the envelope can catch it (r12's artifact needed a manual pin)
    graft.Bench.envelopeTargets(
      Seq("q28_embedding_neardup" -> 5.9, "q109_stream_bm25" -> 7.4),
      baseline) shouldBe Seq("q28_embedding_neardup")
  }

  test("envelope: streaming queries self-adjudicate too (exempt from the " +
    "absolute trigger, covered by the baseline); new gates without a " +
    "baseline never flag") {
    val baseline = Map("q109_stream_bm25" -> 7.3)
    // a contended streaming lifecycle billed 3x its quiet envelope flags
    // even though KnownHeavyPrefixes exempts it from the absolute trigger
    graft.Bench.envelopeTargets(
      Seq("q109_stream_bm25" -> 25.0, "q119_new_gate" -> 9.0),
      baseline) shouldBe Seq("q109_stream_bm25")
    // quiet run: nothing flags
    graft.Bench.envelopeTargets(
      Seq("q109_stream_bm25" -> 7.1), baseline) shouldBe empty
    // r15 (verdict task 8): the widened 1.3x trigger catches the q15-sized
    // movers (0.8 -> 1.1 s) that r14 billed as regressions unadjudicated...
    graft.Bench.envelopeTargets(
      Seq("q15_replace_where" -> 1.1), Map("q15_replace_where" -> 0.8)) shouldBe
      Seq("q15_replace_where")
    // ...while sub-0.3 s jitter still never flags even at a large ratio
    graft.Bench.envelopeTargets(
      Seq("q20_clean" -> 0.25), Map("q20_clean" -> 0.1)) shouldBe empty
    // flagged set is ordered worst billed/envelope ratio first, so the
    // suspects cap keeps the most anomalous entries
    graft.Bench.envelopeTargets(
      Seq("q15_replace_where" -> 1.2, "q109_stream_bm25" -> 25.0),
      baseline + ("q15_replace_where" -> 0.8)) shouldBe
      Seq("q109_stream_bm25", "q15_replace_where")
  }

  test("an anomaly outside the cost top-N survives the cap (anomalies " +
    "order first, never evicted by load-flagged heavies)") {
    // ten known-heavy streaming-style costs dominate, plus one anomalous
    // cheap query billed at 15 s that is NOT in the cost top-5
    val results = (1 to 10).map(i => s"q60_stream$i" -> (20.0 + i)) :+
      ("q64_perplexity" -> 15.0)
    val reps = results.map { case (n, v) => n -> Seq(v) }.toMap
    val flagged = graft.Bench.remeasureTargets(results, reps,
      loadAtStart = 30.0, ncpu = 32, topN = 5)
    flagged.head shouldBe "q64_perplexity"
  }

  test("the remeasure artifact carries the load recorded at each entry's " +
    "own measurement time (r13 task 7: self-adjudicating remeasures)") {
    def jnum(v: Double) =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    // q79 remeasured at 13.2 s while the host load was 13.75: with the
    // per-entry load in the artifact, this reading adjudicates itself as
    // contention instead of demanding a next-round pin
    val field = graft.Bench.remeasuredDetailField(
      Seq(("q79_stream_dedup_ingest", 13.2, 13.75), ("q28_nd", 2.7, 1.2)),
      jnum)
    field should include(""""remeasured":{"q79_stream_dedup_ingest":13.2000""")
    field should include(
      """"remeasured_load":{"q79_stream_dedup_ingest":13.7500,"q28_nd":1.2000}""")
    // nothing flagged -> no fields at all (the JSON stays minimal)
    graft.Bench.remeasuredDetailField(Nil, jnum) shouldBe ""
  }

  test("failed reps are never billed: the billed value and the remeasure " +
    "use successful reps only, and BENCH_DETAIL lists each failure") {
    // a cheap query: median of the warm reps that succeeded
    graft.Bench.billedValue(Some(0.9), Seq(Some(0.5), Some(0.7), Some(0.6))) shouldBe
      Some(0.6)
    graft.Bench.billedValue(Some(0.9), Seq(Some(0.5), None, Some(0.7))) shouldBe
      Some(0.5)
    // a heavy query whose warm rep failed bills its successful first rep
    graft.Bench.billedValue(Some(3.0), Seq(None)) shouldBe Some(3.0)
    // a query that failed every rep is not billed at all
    graft.Bench.billedValue(None, Seq(None, None, None)) shouldBe None
    val field = graft.Bench.failedDetailField(Seq(
      ("q7_merge", "bench", "boom \"quoted\"\nsecond line"),
      ("q7_merge", "remeasure", null)))
    field shouldBe ",\"failed\":[" +
      "{\"query\":\"q7_merge\",\"phase\":\"bench\"," +
      "\"message\":\"boom \\\"quoted\\\"\\nsecond line\"}," +
      "{\"query\":\"q7_merge\",\"phase\":\"remeasure\",\"message\":null}]"
    graft.Bench.failedDetailField(Nil) shouldBe ""
  }
}
