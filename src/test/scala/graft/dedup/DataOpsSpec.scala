package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.text.TextAnalysis

class DataOpsSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep dark forest to find some food for the winter"

  private lazy val docs = Seq(
    (1L, base, "en", "s1"),
    (2L, base, "en", "s1"), // exact dup of 1
    (3L, base.replace("jumps", "leaps"), "en", "s1"), // near dup of 1
    (4L, "el perro de la casa y los gatos", "es", "s2"),
    (5L, "completely different content about spark engines", "en", "s2"),
    (6L, "", "en", "s2")
  ).toDF("doc_id", "text", "lang", "source")

  test("exact dedup keeps lowest doc_id per identical text") {
    val out = Dedup.exact(docs)
    out.count() shouldBe 5
    out.filter(col("text").startsWith("the quick brown fox jumps"))
      .select("doc_id").as[Long].collect() shouldBe Array(1L)
  }

  test("incremental exact dedup: corpus hits drop, within-batch dups keep lowest id") {
    val corpus = Seq(
      (10L, "already ingested alpha"),
      (11L, "already ingested beta")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "already ingested alpha"),   // exact dup of corpus -> dropped
      (21L, "fresh gamma"),
      (22L, "fresh gamma"),              // within-batch dup -> 21 survives
      (23L, "fresh delta")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, Dedup.fingerprints(corpus))
    out.columns.toSeq shouldBe Seq("doc_id", "text")
    out.select("doc_id").as[Long].collect().sorted shouldBe Array(21L, 23L)
    // idempotent second pass: append survivors' fingerprints, re-run batch
    val fps2 = Dedup.fingerprints(corpus).unionByName(Dedup.fingerprints(out))
    Dedup.incrementalExact(batch, fps2).count() shouldBe 0
  }

  test("incremental near-dedup: corpus near-dups drop, fresh and distant docs survive") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog in the warm morning sun"),
      (11L, "completely unrelated corpus text about distributed query engines and storage")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // near-dup of corpus 10 (one word changed) -> dropped
      (20L, "the quick brown fox jumps over the lazy cat in the warm morning sun"),
      // fresh doc -> survives
      (21L, "a totally new document with entirely novel content and vocabulary"),
      // near-dup of 21 (one word changed), higher id -> dropped (pairwise rule)
      (22L, "a totally new document with entirely novel content and words"),
      // shares no shingles with anything -> survives
      (23L, "zebra xylophone quartz vortex jigsaw")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(batch, Dedup.shingleIndex(corpus),
      minJaccard = 0.5)
    out.select("doc_id").as[Long].collect().sorted shouldBe Array(21L, 23L)
    // idempotent second pass: append survivors' index rows, re-run the batch
    // under fresh ids -> every doc now matches the index (20 fuzzily vs
    // corpus 10; 21/23 exactly vs themselves; 22 fuzzily vs indexed 21)
    val idx2 = Dedup.shingleIndex(corpus).unionByName(Dedup.shingleIndex(out))
    Dedup.incrementalNearDup(
      batch.withColumn("doc_id", col("doc_id") + 100), idx2, minJaccard = 0.5)
      .count() shouldBe 0
  }

  test("repetition signals: hand-computed fractions and flags") {
    val d = Seq(
      (1L, "a a a a"),          // 4 tokens, 1 distinct; bigrams: "a a" x3
      (2L, "x y x y x"),        // 5 tokens, 2 distinct; bigrams: "x y" x2, "y x" x2
      (3L, "p q r s"),          // all distinct, all bigrams distinct
      (4L, "solo"),             // 1 token, no bigrams
      (5L, "")                  // empty
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(d).orderBy("doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getBoolean(6))).toMap
    out(1L) shouldBe ((4, 0.75, 3L, 0.666667, 1.0, true))
    out(2L) shouldBe ((5, 0.6, 2L, 0.5, 0.5, true))
    out(3L) shouldBe ((4, 0.0, 1L, 0.0, 0.333333, true)) // 1/3 > 0.1
    out(4L) shouldBe ((1, 0.0, 0L, 0.0, 0.0, false))
    out(5L) shouldBe ((0, 0.0, 0L, 0.0, 0.0, false))
  }

  test("bigram stats: head counts, diversity, deterministic top continuation") {
    val d = Seq(
      (1L, "to be or not to be"),
      (2L, "to go")
    ).toDF("doc_id", "text")
    // bigrams: (to,be) x2, (be,or), (or,not), (not,to), (to,go)
    val rows = TextAnalysis.bigramStats(d).orderBy("head")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    rows shouldBe Array(
      ("be", 1L, 1L, "or", 1L),
      ("not", 1L, 1L, "to", 1L),
      ("or", 1L, 1L, "not", 1L),
      ("to", 3L, 2L, "be", 2L))
  }

  test("bigram stats: lexicographic tie-break on equal counts") {
    val d = Seq((1L, "k b k a k b k a")).toDF("doc_id", "text")
    // head k: (k,b) x2, (k,a) x2 -> tie broken to "a"
    val r = TextAnalysis.bigramStats(d).filter(col("head") === "k").collect().head
    (r.getString(3), r.getLong(4)) shouldBe (("a", 2L))
  }

  test("dedupSegments cuts repeated spans, keeps the first occurrence") {
    val d = Seq(
      (1L, "a b c d e f"),        // ["a b c", "d e f"] — both first occurrences
      (2L, "a b c x y"),          // "a b c" repeats doc 1 -> cut; "x y" kept
      (3L, ""),                   // no tokens -> no segments
      (4L, "p q r p q r")         // within-doc repeat -> second cut
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSegments(d, window = 3).orderBy("doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    out(1L) shouldBe (("a b c d e f", 2L, 0L))
    out(2L) shouldBe (("x y", 2L, 1L))
    out(3L) shouldBe (("", 0L, 0L))
    out(4L) shouldBe (("p q r", 2L, 1L))
  }

  test("perplexity: add-one bigram LM, integer-exact scaled NLL") {
    val d = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "z"))
      .toDF("doc_id", "text")
    // counts: (a,b)=2, (a,c)=1; head a total=3; V={a,b,c,z}=4
    def lp(p: Double): Long =
      BigDecimal(math.log(p) * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val pb = lp(3.0 / 7.0) // P(b|a) = (2+1)/(3+4)
    val pcx = lp(2.0 / 7.0) // P(c|a) = (1+1)/(3+4)
    val out = TextAnalysis.perplexity(d).orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    out(1L) shouldBe ((1L, -pb, Some(math.rint(math.exp(-pb / 1e9) * 1e4) / 1e4)))
    out(2L) shouldBe out(1L)
    out(3L) shouldBe ((1L, -pcx, Some(math.rint(math.exp(-pcx / 1e9) * 1e4) / 1e4)))
    out(4L) shouldBe ((0L, 0L, None)) // single token: no bigrams, null ppl
  }

  /** Random graphs against a plain-Scala union-find oracle. */
  private def ccMatchesUnionFind(): Unit = {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val nodes = 30 + rnd.nextInt(40)
      val edges = (1 to nodes).map(_ =>
        (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
      // plain-Scala union-find with path compression as the oracle
      val parent = Array.tabulate(nodes)(identity)
      def find(x: Int): Int = {
        if (parent(x) != x) parent(x) = find(parent(x)); parent(x)
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> find(id.toInt).toLong).toMap
      // union-find roots are not necessarily the component min; normalize
      val minOfRoot = expected.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
      val want = expected.map { case (id, r) => id -> minOfRoot(r) }

      val got = Dedup.connectedComponents(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      withClue(s"trial $trial (n=$nodes): ") {
        // self-loop-only nodes are singletons the operator may omit
        val selfOnly = want.keySet.filter(id =>
          edges.filter(e => e._1 == id || e._2 == id).forall(e => e._1 == e._2))
        got shouldBe (want -- selfOnly)
      }
    }
  }

  test("connected components match a union-find oracle on random graphs") {
    ccMatchesUnionFind()
  }

  test("distributed connected components match the union-find oracle (localMaxEdges=0)") {
    // every test graph is under the driver union-find threshold; 0 forces
    // the distributed star-contraction loop on the same graphs
    val key = "spark.graft.cc.localMaxEdges"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try ccMatchesUnionFind()
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("nearDupGroups assigns one canonical doc per cluster, singletons kept") {
    // 0.5: catches the one-word-swap near dup (J ~ 0.78), not unrelated docs
    val pairs = Dedup.shingleJaccardLsh(docs, minJaccard = 0.5)
    val groups = Dedup.nearDupGroups(docs, pairs)
    groups.count() shouldBe 6
    // docs 1,2,3 are one near-dup cluster with 1 canonical
    groups.filter(col("doc_id").isin(1L, 2L, 3L))
      .select("group_id").as[Long].collect().toSet shouldBe Set(1L)
    groups.filter(col("is_canonical")).select("doc_id").as[Long]
      .collect().sorted shouldBe Array(1L, 4L, 5L, 6L)
    // the deduplicated corpus = canonical rows only
    groups.filter(col("is_canonical")).count() shouldBe 4
  }

  test("minhash LSH surfaces exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs, minEstJaccard = 0.3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    pairs should contain((1L, 2L))
    pairs should contain((1L, 3L))
    pairs should not contain ((4L, 5L))
    // exact dups have estimated jaccard 1.0
    Dedup.minhashLshPairs(docs, minEstJaccard = 0.3)
      .filter(col("a") === 1 && col("b") === 2)
      .select("est_jaccard").as[Double].head() shouldBe 1.0
  }

  test("simhash: identical texts equal, near-dups within small hamming distance") {
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sh(1L) shouldBe sh(2L)
    val hamming = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    hamming should be <= 16
    val far = java.lang.Long.bitCount(sh(1L) ^ sh(5L))
    far should be > hamming
  }

  test("ngram jaccard pairs are exact and blocked") {
    val pairs = Dedup.ngramJaccardPairs(docs, blockCol = "source", minJaccard = 0.5)
      .as[(Long, Long, Double)].collect()
    val p12 = pairs.find(p => p._1 == 1 && p._2 == 2).get
    p12._3 shouldBe 1.0
    val p13 = pairs.find(p => p._1 == 1 && p._2 == 3).get
    p13._3 shouldBe (22.0 / 24.0 +- 1e-4) // one word of 23 distinct differs
    // cross-source pair (1,4) never considered
    pairs.exists(p => p._1 == 1 && p._2 == 4) shouldBe false
  }

  test("text analysis: tokens, language id, quality, fingerprint") {
    val out = TextAnalysis.analyze(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    out(1L).getAs[Int]("token_count") shouldBe base.split(" ").length
    out(6L).getAs[Int]("token_count") shouldBe 0
    out(1L).getAs[String]("predicted_lang") shouldBe "en"
    out(4L).getAs[String]("predicted_lang") shouldBe "es"
    out(6L).getAs[String]("predicted_lang") shouldBe "und"
    out(1L).getAs[Double]("quality_score") should (be >= 0.0 and be <= 1.0)
    // fingerprint is order-insensitive on the token set
    val shuffled = Seq((9L, base.split(" ").reverse.mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    TextAnalysis.analyze(shuffled).select("fingerprint").as[String].head() shouldBe
      out(1L).getAs[String]("fingerprint")
  }

  test("rolling fingerprint is order-sensitive; bpe estimate scales with word length") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha"),   // same tokens, different order
      (3L, "alpha beta gamma"),   // identical to 1
      (4L, "internationalization"), // 20 chars -> 5 bpe pieces
      (5L, "hi there!"),          // "hi"=1 + "there!"=2 pieces + 1 punct = 4
      (6L, "")
    ).toDF("id", "text")
    val out = df.select(col("id"),
      TextAnalysis.rollingFingerprint(col("text")).as("rf"),
      TextAnalysis.bpeTokenCount(col("text")).as("bpe"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    out(1L)._1 shouldBe out(3L)._1
    out(1L)._1 should not be out(2L)._1
    out(4L)._2 shouldBe 5L
    out(5L)._2 shouldBe 4L
    out(6L)._2 shouldBe 0L
  }

  test("ANN brute-force: self excluded, k respected, nearest first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(-1.0f, 0.0f, 0.0f), 1),
      (4L, Array(0.95f, 0.05f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.cosineTopK(emb, emb.filter(col("vec_id") === 0), k = 2)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect()
    out.length shouldBe 2
    out(0)._3 shouldBe 4L // closest
    out(1)._3 shouldBe 1L
    out.map(_._3) should not contain 0L
  }

  test("ANN IVF: same-cell candidates only, huge reduction in comparisons") {
    val emb = Tables(spark, sf("0.001"), "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.cosineTopK(emb, queries, k = 3)
    val ivf = Similarity.ivfTopK(emb, queries, k = 3, bits = 4)
    ivf.count() should be <= brute.count()
    ivf.count() should be > 0L
    // IVF is a subset search: per query its best cosine can never beat the
    // brute-force best
    val b1 = brute.filter(col("rank") === 1).select("query_id", "cosine")
      .as[(Long, Double)].collect().toMap
    val i1 = ivf.filter(col("rank") === 1).select("query_id", "cosine")
      .as[(Long, Double)].collect().toMap
    i1.foreach { case (q, c) => c should be <= (b1(q) + 1e-9) }
  }

  test("normalized exact dedup collapses case/punct/whitespace variants, keeps original text") {
    val variants = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),   // same after normalization -> dropped
      (3L, "HELLO WORLD."),    // same -> dropped
      (4L, "hello worlds")     // different -> kept
    ).toDF("doc_id", "text")
    val out = Dedup.exactNormalized(variants).orderBy("doc_id")
      .as[(Long, String)].collect()
    out shouldBe Array((1L, "Hello, World!"), (4L, "hello worlds"))
  }

  test("incremental dedup probes ONLY the persisted index — corpus files never scanned") {
    // the 100TB property q55/q61 exist for: once the fingerprint/shingle/band
    // indexes are persisted, a batch dedup's plan must read index files and
    // batch files ONLY — pinned here via inputFiles on the executed plans
    val tmp = java.nio.file.Files.createTempDirectory("incidx")
    val corpusDir = tmp.resolve("corpus_docs").toString
    val batchDir = tmp.resolve("batch_docs").toString
    val fpDir = tmp.resolve("fp_index").toString
    val shDir = tmp.resolve("sh_index").toString
    val bandDir = tmp.resolve("band_index").toString
    docs.filter(col("doc_id") <= 4).write.parquet(corpusDir)
    docs.filter(col("doc_id") > 4).write.parquet(batchDir)
    val corpus = spark.read.parquet(corpusDir)
    Dedup.fingerprints(corpus).write.parquet(fpDir)
    val index = Dedup.shingleIndex(corpus)
    index.write.parquet(shDir)
    Dedup.bandIndex(index).write.parquet(bandDir)
    val batch = spark.read.parquet(batchDir)

    val exact = Dedup.incrementalExact(batch, spark.read.parquet(fpDir))
    exact.count() shouldBe 2 // ids 5,6 both novel text
    val exactInputs = exact.inputFiles
    exactInputs.foreach(f => f should not include "corpus_docs")
    exactInputs.exists(_.contains("fp_index")) shouldBe true

    val near = Dedup.incrementalNearDup(batch, spark.read.parquet(shDir),
      corpusBands = Some(spark.read.parquet(bandDir)))
    near.count() should be >= 1L
    val nearInputs = near.inputFiles
    nearInputs.foreach(f => f should not include "corpus_docs")
    nearInputs.exists(_.contains("sh_index")) shouldBe true
    nearInputs.exists(_.contains("band_index")) shouldBe true
  }

  test("multimodal: real PNG/WAV/MJPEG-AVI codecs round-trip") {
    val media = Multimodal.synthesize(docs)
    media.count() shouldBe 6
    val byId = media.collect().map(r => r.getAs[Long]("media_id") -> r).toMap

    // image leg (doc_id % 3 == 0): REAL PNG bytes, header-parsed meta
    val img = byId(3L)
    img.getAs[String]("kind") shouldBe "image"
    val imeta = img.getStruct(img.fieldIndex("meta"))
    imeta.getAs[String]("mime") shouldBe "image/png"
    imeta.getAs[Int]("width") shouldBe 16
    imeta.getAs[Int]("height") shouldBe 16
    // PNG magic bytes prove a real encoder ran
    val png = img.getAs[Array[Byte]]("content")
    (png(1), png(2), png(3)) shouldBe (('P'.toByte, 'N'.toByte, 'G'.toByte))

    // audio leg (doc_id % 3 == 1): REAL WAV bytes ("RIFF"), parsed duration
    val wav = byId(1L)
    wav.getAs[String]("kind") shouldBe "audio"
    val ameta = wav.getStruct(wav.fieldIndex("meta"))
    ameta.getAs[String]("mime") shouldBe "audio/wav"
    ameta.getAs[Long]("durationMs") shouldBe 375L
    new String(wav.getAs[Array[Byte]]("content").take(4), "US-ASCII") shouldBe "RIFF"

    // decode -> features: image = per-quadrant channel means (exact), audio
    // = per-window RMS (exact) — the values PROVE the decoder read the
    // pixels/samples the encoder wrote
    val feats = Multimodal.extractFeatures(media, dim = 12)
      .collect().map(f => f.media_id -> f).toMap
    for (q <- 0 until 4; ch <- 0 until 3) {
      val expected = (Seq(7L, 11L, 19L)(ch) * 3L + Seq(13L, 17L, 23L)(ch) * q) % 256
      feats(3L).feature(q * 3 + ch) shouldBe (expected / 256.0).toFloat
    }
    for (w <- 0 until 12)
      feats(1L).feature(w) shouldBe
        (math.abs((1L * 37 + w * 101) % 30000 - 15000) / 32768.0).toFloat
    // video leg (doc_id % 3 == 2): REAL RIFF/AVI bytes, header-parsed meta
    val avi = byId(2L)
    avi.getAs[String]("kind") shouldBe "video"
    val vmeta = avi.getStruct(avi.fieldIndex("meta"))
    vmeta.getAs[String]("mime") shouldBe "video/avi"
    vmeta.getAs[Int]("width") shouldBe 16
    vmeta.getAs[Long]("durationMs") shouldBe 500L
    val aviBytes = avi.getAs[Array[Byte]]("content")
    new String(aviBytes.take(4), "US-ASCII") shouldBe "RIFF"
    new String(aviBytes.slice(8, 12), "US-ASCII") shouldBe "AVI "
    // the container walk yields 4 standalone JPEGs the JDK codec decodes
    val vFrames = Multimodal.Codecs.aviFrames(aviBytes)
    vFrames.size shouldBe 4
    vFrames.foreach { j =>
      (j(0) & 0xff, j(1) & 0xff) shouldBe ((0xff, 0xd8)) // JPEG SOI
      Multimodal.Codecs.decodeImage(j).get.getWidth shouldBe 16
    }
    // per-frame aHash matches the arithmetic model (DCT-aligned quadrants:
    // bit(q) = gray(q) >= 128, rows 0-3 from q0/q1, rows 4-7 from q2/q3)
    val grays = Array(40, 90, 160, 220)
    for (f <- 0 until 4) {
      def bit(q: Int): Boolean = grays(((2 + f + q) % 4)) >= 128
      def rowByte(a: Boolean, b: Boolean): Long =
        (if (a) 0xf0L else 0L) | (if (b) 0x0fL else 0L)
      val expected = (0 until 8).foldLeft(0L)((acc, row) =>
        (acc << 8) | (if (row < 4) rowByte(bit(0), bit(1)) else rowByte(bit(2), bit(3))))
      Multimodal.Codecs.aHash(vFrames(f)) shouldBe Some(expected)
    }
    // video features are the leading aHash bits as 0/1 floats (exact)
    feats(2L).feature.length shouldBe 12
    feats(2L).feature.foreach(v => Set(0f, 1f) should contain(v))
    feats(2L).featureNorm should be >= 0.0

    // thumbnails: image rows re-decode as a REAL 4x4 PNG whose top-left
    // pixel is quadrant 0's exact color (block-mean of a uniform block)
    val thumbs = Multimodal.thumbnailInfo(media, maxBytes = 10)
      .collect().map(t => t.media_id -> t).toMap
    thumbs(3L).thumb_w shouldBe Some(4)
    thumbs(3L).thumb_h shouldBe Some(4)
    val timg = Multimodal.Codecs.decodeImage(
      Multimodal.resizeAll(media, maxBytes = 10).collect()
        .find(_.media_id == 3L).get.content).get
    (timg.getRGB(0, 0) & 0xffffff) shouldBe
      ((((7 * 3) % 256) << 16) | (((11 * 3) % 256) << 8) | ((19 * 3) % 256))
    // non-image rows fall back to the byte-prefix stand-in
    thumbs(2L).thumb_w shouldBe None
    thumbs(2L).thumb_len should be <= 10

    val frames = Multimodal.sampleVideoFrames(media, framesPerVideo = 3)
    frames.collect().foreach(_.frame.length should be > 0)
  }

  test("dupStats: per-source raw/normalized distinct counts and dup rate") {
    // s1: docs 1,2 identical raw; doc 3 differs raw AND normalized
    // s2: docs 4,5,6 all distinct raw; "el perro..." vs "El Perro..." would
    //     collapse normalized — build that case explicitly
    val d = Seq(
      (1L, "same text", "s1"), (2L, "same text", "s1"), (3L, "other", "s1"),
      (4L, "El Perro!", "s2"), (5L, "el perro", "s2"), (6L, "gato", "s2")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dupStats(d).orderBy("source")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    out shouldBe Seq(
      ("s1", 3L, 2L, 2L, 0.333333), // 1 - 2/3
      ("s2", 3L, 3L, 2L, 0.333333)) // normalization collapses 4 and 5
  }

  test("aHash: re-encode stable, resize-robust, content-sensitive, arithmetic-exact") {
    import graft.multimodal.Multimodal.Codecs
    def img(px: (Int, Int) => Int, w: Int = 32, h: Int = 32) = {
      val b = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) b.setRGB(x, y, px(x, y))
      b
    }
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val gradient = Codecs.encodePng(img((x, _) => gray((x * 8) % 256)))
    val hA = Codecs.aHash(gradient).get
    // a fresh encode of the same pixels hashes identically
    Codecs.aHash(Codecs.encodePng(img((x, _) => gray((x * 8) % 256)))).get shouldBe hA
    // a 2x downscale keeps the hash within a small Hamming distance
    val hSmall = Codecs.aHash(Codecs.resizeImage(gradient, 16, 16).get).get
    java.lang.Long.bitCount(hA ^ hSmall) should be <= 8
    // genuinely different content lands far away
    val checker = Codecs.encodePng(
      img((x, y) => if (((x / 8) + (y / 8)) % 2 == 0) 0xffffff else 0))
    java.lang.Long.bitCount(hA ^ Codecs.aHash(checker).get) should be >= 16
    Codecs.aHash("not an image".getBytes) shouldBe None
    // distributed stage over the synthetic media: doc 3's hash equals the
    // pure doc_id arithmetic (quadrant grays 37/54/72/90, mean 63 -> only
    // the bottom quadrants set -> 0x00000000FFFFFFFF)
    val hashes = Multimodal.imageAHashes(
      Multimodal.synthesize(docs).filter(col("kind") === "image"))
      .collect().map(h => h.media_id -> h.ahash).toMap
    hashes.keySet shouldBe Set(3L, 6L)
    hashes(3L) shouldBe 0xFFFFFFFFL
  }

  test("audioHash: integer-exact energy fingerprint from the real WAV decode") {
    import graft.multimodal.Multimodal
    import graft.multimodal.Multimodal.Codecs
    // 4 windows of 100 samples: amplitudes 100, 200, 300, 400 — bits set
    // where amp^2 * 4 >= sum of squares (300000): windows 2 and 3
    val samples = Array.tabulate[Short](400)(i => ((i / 100 + 1) * 100).toShort)
    val wav = Codecs.encodeWavPcm16(samples, 8000f)
    Codecs.audioHash(wav, windows = 4).get shouldBe 0x3L // 0b0011
    // fingerprint is a pure function of content: re-encode stable
    Codecs.audioHash(Codecs.encodeWavPcm16(samples, 8000f), windows = 4)
      .get shouldBe 0x3L
    Codecs.audioHash("not audio".getBytes) shouldBe None
    // distributed stage over synthetic media: doc 1's fingerprint matches
    // the pure doc_id arithmetic (amp_w = (37 + 101w) % 30000 - 15000)
    val amps = (0 until 12).map(w => (1L * 37 + w * 101) % 30000 - 15000)
    val tot = amps.map(a => a * a).sum
    val expected = (0 until 12).map(w =>
      if (amps(w) * amps(w) * 12 >= tot) 1L << (11 - w) else 0L).sum
    val hashes = Multimodal.audioHashes(
      Multimodal.synthesize(docs).filter(col("kind") === "audio"), windows = 12)
      .collect().map(h => h.media_id -> h.ahash).toMap
    hashes.keySet shouldBe Set(1L, 4L)
    hashes(1L) shouldBe expected
  }

  test("imageNearDupPairs: banded LSH finds every pair within the Hamming bound") {
    import graft.multimodal.Multimodal
    val h1 = 0x123456789abcdef0L
    val h2 = h1 ^ 0x0b01L // 4 bits flipped across 2 bands
    val h3 = h1 ^ 0x0101010101010101L // 8 bits, one per band: outside the bound
    val h4 = h1 // exact dup
    val hashes = Seq((1L, h1), (2L, h2), (3L, h3), (4L, h4))
      .toDF("media_id", "ahash")
    val pairs = Multimodal.imageNearDupPairs(hashes)
      .orderBy("a", "b").as[(Long, Long, Int)].collect().toSeq
    // (1,2) d=4 and (2,4) d=4 found via shared bands; (1,4) d=0; nothing
    // involving 3 (d=8 from 1/4, d=10 or so from 2)
    pairs shouldBe Seq((1L, 2L, 4), (1L, 4L, 0), (2L, 4L, 4))
    // the bound is enforced as an argument contract past the recall limit
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDupPairs(hashes, maxHamming = 8)
    }
  }

  test("imageNearDupPairs matches brute force on clustered random hashes") {
    import graft.multimodal.Multimodal
    val rnd = new scala.util.Random(7L)
    // clustered population: 10 random bases, 6 variants each with 0..10
    // random bit flips — plenty of pairs inside and outside the bound
    val hashes = (0 until 10).flatMap { c =>
      val base = rnd.nextLong()
      (0 until 6).map { v =>
        var x = base
        (0 until rnd.nextInt(11)).foreach(_ => x ^= 1L << rnd.nextInt(64))
        ((c * 10 + v).toLong, x)
      }
    }
    val expected = (for {
      (a, ha) <- hashes; (b, hb) <- hashes
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 7
    } yield (a, b, java.lang.Long.bitCount(ha ^ hb))).toSet
    val got = Multimodal.imageNearDupPairs(hashes.toDF("media_id", "ahash"))
      .as[(Long, Long, Int)].collect().toSet
    got shouldBe expected
    expected should not be empty // the fixture actually exercises the path
  }

  private object Tables {
    def apply(s: org.apache.spark.sql.SparkSession, dir: String, name: String) =
      s.read.parquet(s"$dir/$name.parquet")
  }
}
