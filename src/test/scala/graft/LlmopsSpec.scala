package graft

import org.apache.spark.sql.functions._

import graft.functions.MinHashBands
import graft.llmops.{Dedup, Multimodal, Similarity, TextAnalysis}

class LlmopsSpec extends SparkSpec {
  import spark.implicits._

  test("native MinHashBands is bit-identical to the composable HOF form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val native = docs.select(col("doc_id"),
      MinHashBands.minhashBands(col("text"), 8, 16, 4).as("bands"))
    val hof = docs.select(col("doc_id"),
      Dedup.lshBands(Dedup.minhashSignature(
        Dedup.shingleBaseHashes(Dedup.shingles(col("text"), 8)), 16), 4, 4).as("bands"))
    assert(native.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(native).count() === 0)
  }

  test("minhash candidate pairs include exact duplicates with all bands shared") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different content with other words entirely")).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text").collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getLong(2) == 4L))
    assert(!pairs.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("jaccard: identical=1, disjoint=0") {
    val df = Seq(("abcabc", "abcabc", "xyzxyz")).toDF("a", "b", "c")
    val r = df.select(
      Dedup.jaccard(Dedup.shingles(col("a"), 3), Dedup.shingles(col("b"), 3)).as("same"),
      Dedup.jaccard(Dedup.shingles(col("a"), 3), Dedup.shingles(col("c"), 3)).as("diff")
    ).collect().head
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 0.0)
  }

  test("simhash: identical texts collide, hamming distance small for near-dups") {
    val df = Seq(
      ("a", "alpha beta gamma delta epsilon zeta eta theta"),
      ("b", "alpha beta gamma delta epsilon zeta eta theta"),
      ("c", "alpha beta gamma delta epsilon zeta eta iota")
    ).toDF("id", "text")
    val h = df.select(col("id"), Dedup.simhash64(TextAnalysis.tokens(col("text"))).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(h("a") === h("b"))
    val dist = df.sparkSession.range(1).select(
      Dedup.hammingDistance(lit(h("a")), lit(h("c")))).collect().head.getInt(0)
    assert(dist > 0 && dist <= 16, s"hamming=$dist")
  }

  test("native SimHash64 is bit-identical to the composable HOF form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val native = docs.select(col("doc_id"),
      graft.functions.SimHash64.simhash64(TextAnalysis.tokens(col("text"))).as("h"))
    val hof = docs.select(col("doc_id"),
      Dedup.simhash64(TextAnalysis.tokens(col("text"))).as("h"))
    assert(native.exceptAll(hof).count() === 0)
  }

  test("banded simhash pairs == brute-force pairs (pigeonhole exactness)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(120)
    val banded = Dedup.simhashNearDupPairs(docs, "doc_id", TextAnalysis.tokens(col("text")))
    val h = docs.select(col("doc_id"), Dedup.simhash64(TextAnalysis.tokens(col("text"))).as("sh"))
    val brute = h.as("a").join(h.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        Dedup.hammingDistance(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("hamming") <= 5) // banding default: maxHamming 5 < 6 blocks
    assert(banded.exceptAll(brute).count() === 0)
    assert(brute.exceptAll(banded).count() === 0)
    assert(brute.count() > 0)
  }

  test("banded 120-bit simhash pairs == brute-force pairs (pigeonhole exactness)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(120)
    val toks = TextAnalysis.tokens(col("text"))
    val banded = Dedup.simhashNearDupPairs120(docs, "doc_id", toks)
    val h = docs.select(col("doc_id"), graft.functions.SimHash120.simhash120(toks).as("sh"))
    val brute = h.as("a").join(h.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        Dedup.hammingDistance120(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("hamming") <= 5)
    assert(banded.exceptAll(brute).count() === 0)
    assert(brute.exceptAll(banded).count() === 0)
    assert(brute.count() > 0)
  }

  test("120-bit blocks bound bucket populations where 60-bit blocks saturate") {
    // The scale argument for the wide fingerprint: a 60-bit fingerprint in
    // 6 pigeonhole blocks has only 2^10 = 1024 values per block, so on a
    // corpus of UNRELATED docs bucket populations grow as n/1024 and
    // within-bucket candidate pairs quadratically — an accidental
    // all-pairs join at corpus scale. 20-bit blocks (2^20 values) keep
    // unrelated docs apart. Deterministic corpus: 3000 docs of 30 random
    // tokens each from a 50k vocabulary (seed 42) — no true near-dups.
    val rnd = new scala.util.Random(42)
    val docs = (0 until 3000).map { i =>
      (i.toLong, (0 until 30).map(_ => s"tok${rnd.nextInt(50000)}").mkString(" "))
    }.toDF("doc_id", "text")
    val toks = TextAnalysis.tokens(col("text"))
    def candidatePairs(blocked: org.apache.spark.sql.DataFrame): Long =
      blocked.groupBy("block_idx", "block_val").count()
        .agg(sum((col("count") * (col("count") - 1) / 2).cast("long")))
        .collect().head.getLong(0)
    val bits = 10
    val narrow = docs
      .select(col("doc_id"), graft.functions.SimHash64.simhash64(toks).as("sh"))
      .select(col("doc_id"),
        posexplode(array((0 until 6).map { b =>
          shiftrightunsigned(col("sh"), b * bits).bitwiseAND((1L << bits) - 1)
        }: _*)).as(Seq("block_idx", "block_val")))
    val wide = Dedup.simhash120Blocked(docs, "doc_id", toks, 6)
    val narrowCand = candidatePairs(narrow)
    val wideCand = candidatePairs(wide)
    // expected: narrow ~ 6 * C(3000,2)/2^10 ≈ 26k, wide ≈ 26
    assert(narrowCand > 5000L, s"narrow banding should saturate, got $narrowCand")
    assert(wideCand < 500L, s"wide banding should stay sparse, got $wideCand")
    assert(wideCand * 20 < narrowCand,
      s"expected >=20x candidate reduction, got narrow=$narrowCand wide=$wideCand")
    // and exactness is preserved on this corpus too (no true near-dups)
    assert(Dedup.simhashNearDupPairs120(docs, "doc_id", toks).count() === 0)
  }

  test("hash sampling: split is disjoint+exhaustive, append-stable, near target rate") {
    import graft.llmops.Sampling
    val df = (0 until 4000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
    val (train, test) = Sampling.trainTestSplit(df, "id", 0.2)
    val nTrain = train.count()
    val nTest = test.count()
    assert(nTrain + nTest === 4000)
    assert(train.join(test, Seq("id"), "left_semi").count() === 0)
    assert(math.abs(nTest / 4000.0 - 0.2) < 0.03, s"test rate ${nTest / 4000.0}")
    // append stability: the same ids keep their assignment in a larger table
    val bigger = (0 until 8000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
    val (_, biggerTest) = Sampling.trainTestSplit(bigger, "id", 0.2)
    val originalTestIds = test.select("id").collect().map(_.getLong(0)).toSet
    val biggerTestIds = biggerTest.filter(col("id") < 4000)
      .collect().map(_.getLong(0)).toSet
    assert(biggerTestIds === originalTestIds, "growing the table must not reshuffle the split")
    // stratified: per-stratum rates land near their targets
    val strat = Seq.tabulate(3000)(i => (i.toLong, if (i % 2 == 0) "big" else "rare"))
      .toDF("id", "stratum")
    val kept = Sampling.stratifiedSample(strat, "stratum", "id", Map("big" -> 0.1))
      .groupBy("stratum").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("rare") === 1500, "default 1.0 keeps the rare stratum whole")
    assert(math.abs(kept("big") / 1500.0 - 0.1) < 0.05, s"big stratum kept ${kept("big")}")
    // null ids route deterministically to exactly one split, never vanish
    val withNull = Seq((Some(1L), "a"), (None, "b"), (Some(3L), "c"))
      .toDF("id", "v")
    val (tr2, te2) = Sampling.trainTestSplit(withNull, "id", 0.5)
    assert(tr2.count() + te2.count() === 3, "null-id row must land in one split")
  }

  test("sequence packing: bins contiguous, bounded by budget + max doc, nothing dropped") {
    import graft.llmops.Packing
    val rnd = new scala.util.Random(11)
    val docs = (0 until 2000).map(i => (i.toLong, rnd.nextInt(200) + 1)).toDF("id", "ntok")
    val budget = 512L
    val packed = Packing.packSequences(docs, col("ntok"), budget,
      shardCol = pmod(col("id"), lit(4)), orderCols = Seq(col("id"))).cache()
    assert(packed.count() === 2000) // nothing dropped
    val maxDoc = 200L
    val bins = packed.groupBy(col("shard"), col("bin"))
      .agg(sum(col("tokens")).as("t"), min(col("id")).as("lo"), max(col("id")).as("hi"),
        count(lit(1)).as("n"))
      .collect()
    // streaming-packing bound: total <= budget + one straddling doc
    bins.foreach { r =>
      assert(r.getAs[Long]("t") <= budget + maxDoc,
        s"bin ${r.getAs[Long]("bin")} overflows: ${r.getAs[Long]("t")}")
    }
    // bins are contiguous runs of the shard order: id ranges never interleave
    bins.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("bin"))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getAs[Long]("hi") < b.getAs[Long]("lo"))
        case _ => ()
      }
    }
    packed.unpersist()
  }

  test("cosineTopK finds the aligned vector first") {
    val df = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(-1.0f, 0.0f)))
      .toDF("id", "vec")
    val out = Similarity.cosineTopK(df, "id", "vec", Seq(1.0, 0.0), 2).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out.head.getDouble(1) === 1.0)
  }

  test("ShingleHashesSorted: sorted distinct output, code-point windows, short-text empty") {
    import graft.functions.{ShingleHashesSorted, SortedIntersectCount}
    val df = Seq(
      ("aaaaaaaaaa", 1L),       // 10 a's, k=8 -> 3 windows, all identical -> 1 distinct hash
      ("ab", 2L),               // shorter than k -> empty
      ("😀bcdefgh😀", 3L)) // surrogate pairs count as ONE code point
      .toDF("text", "id")
    val out = df.select($"id", ShingleHashesSorted.shingleHashesSorted($"text", 8).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L).length === 1)
    assert(out(2L).isEmpty)
    // 9 code points -> 2 windows of 8 -> 2 distinct hashes, ascending
    assert(out(3L).length === 2 && out(3L) === out(3L).sorted)
    // merge-count agrees with set intersection on shared windows
    val pair = df.filter($"id" === 1L).select(
      SortedIntersectCount.sortedIntersectCount(
        ShingleHashesSorted.shingleHashesSorted($"text", 8),
        ShingleHashesSorted.shingleHashesSorted(lit("aaaaaaaa"), 8)).as("n"))
      .collect().head.getLong(0)
    assert(pair === 1L) // the all-a shingle is shared
  }

  test("DotProduct rejects non-double arrays at analysis and mismatched dims at runtime") {
    import graft.functions.DotProduct
    val floats = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      floats.select(DotProduct.dotProduct($"a", $"b")).collect()
    }
    val ragged = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
    val e = intercept[Exception] {
      ragged.select(DotProduct.dotProduct($"a", $"b")).collect()
    }
    assert(e.getMessage != null)
  }

  test("embeddingNearDupPairs finds exactly the above-threshold pairs, once each") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)),   // aligned with 2
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(-1.0f, 0.0f)),  // anti-aligned with both
      (4L, Seq(0.0f, 1.0f)))   // orthogonal to 1
      .toDF("id", "vec")
    val out = Dedup.embeddingNearDupPairs(df, "id", "vec", minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L))) // one direction only, nothing else passes 0.9
  }

  test("lshBucketedNeighbors buckets identical vectors together") {
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f, 4.0f)), (2L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (3L, Seq(-1.0f, -2.0f, -3.0f, -4.0f))).toDF("id", "vec")
    val out = Similarity.lshBucketedNeighbors(df, "id", "vec", dim = 4).collect()
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getDouble(3) == 1.0))
    // opposite vector lands in the complementary bucket -> never a candidate
    assert(!out.exists(r => r.getLong(1) == 3L))
  }

  test("text analysis: tokens, quality, langid, fingerprint are deterministic") {
    val df = Seq("the cat sat on the mat with a hat").toDF("text")
    val r = df.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.stopwordRatio(col("text"), Seq("the", "a", "on", "with")).as("sw"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.langIdHeuristic(col("text"),
        Map("en" -> Seq("the", "a"), "de" -> Seq("der", "die"))).as("lang"),
      TextAnalysis.fingerprint(col("text")).as("fp")).collect().head
    assert(r.getAs[Int]("n") === 9)
    assert(math.abs(r.getAs[Double]("sw") - 5.0 / 9.0) < 1e-12) // the,on,the,with,a
    assert(r.getAs[Double]("q") > 0 && r.getAs[Double]("q") <= 1.0)
    assert(r.getAs[String]("lang") === "en")
    assert(r.getAs[String]("fp").length === 32)
  }

  test("native ShingleFingerprint == HOF fingerprint, incl. short-text guard") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
      .select(col("text"))
      .union(Seq("ab", "exactly8", "niner, 9!").toDF("text"))
    val native = docs.select(graft.functions.ShingleFingerprint.fingerprint(col("text")).as("f"))
    val hof = docs.select(TextAnalysis.fingerprint(col("text")).as("f"))
    assert(native.exceptAll(hof).count() === 0)
  }

  test("groupCentroids: element-wise means per group, dims in order") {
    val df = Seq(
      ("a", Seq(1.0f, 3.0f)), ("a", Seq(3.0f, 5.0f)), ("b", Seq(7.0f, 9.0f))
    ).toDF("g", "vec")
    val out = Similarity.groupCentroids(df, "g", "vec")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Double](2))).toSeq
      .sortBy(_._1)
    assert(out === Seq(("a", 2L, Seq(2.0, 4.0)), ("b", 1L, Seq(7.0, 9.0))))
  }

  test("native expressions are SQL-callable (registry + GraftExtensions wiring)") {
    // the spec session is a GraftSession: the extensions registered every
    // function below (bounded_top_k is a bare AggregateFunction, which the
    // analyzer wraps in an AggregateExpression)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(5)
      .createOrReplaceTempView("ext_docs")
    val out = spark.sql("""
      SELECT doc_id, minhash_bands(text) AS bands, simhash64(split(text, ' ')) AS sh,
             simhash120(split(text, ' ')) AS sh120, shingle_fingerprint(text) AS fp
      FROM ext_docs""").collect()
    assert(out.length === 5)
    assert(out.forall(r => r.getAs[Seq[String]]("bands").length === 4))
    assert(out.forall(_.getAs[String]("fp").length === 32))
    assert(out.forall(r => r.getAs[Seq[Long]]("sh120").length === 2))
    val top = spark.sql(
      "SELECT bounded_top_k(CAST(doc_id AS DOUBLE), doc_id, 3) AS nn FROM ext_docs")
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(top.length === 3)
  }

  test("multimodal: resize fits images into maxDim, preserves aspect, skips non-images") {
    val media = Multimodal.syntheticMedia(spark, 9)
    val resized = Multimodal.resizeImages(media, maxDim = 32).collect()
    val images = resized.filter(_.kind == "image")
    assert(images.nonEmpty)
    assert(images.forall(r => r.width.get <= 32 && r.height.get <= 32))
    assert(images.forall(r => new String(r.bytes, "UTF-8").contains("|resized:")))
    // non-images untouched
    val origAudio = media.collect().filter(_.kind == "audio").map(r => new String(r.bytes, "UTF-8")).toSet
    assert(resized.filter(_.kind == "audio").map(r => new String(r.bytes, "UTF-8")).toSet === origAudio)
  }

  test("multimodal: feature extraction plumbing is deterministic; frame plan expands") {
    val media = Multimodal.syntheticMedia(spark, 9)
    val feats = Multimodal.extractFeatures(Multimodal.bucketByContent(media, 3), dim = 8).collect()
    assert(feats.length === 9)
    assert(feats.forall(_.feature.length === 8))
    val again = Multimodal.extractFeatures(media, dim = 8).collect()
    assert(feats.sortBy(_.media_id).zip(again.sortBy(_.media_id))
      .forall { case (a, b) => a.feature.sameElements(b.feature) })
    val frames = Multimodal.frameSamplePlan(media.toDF(), 500L)
    assert(frames.count() > 0)
    assert(frames.groupBy("media_id").count().filter(col("count") < 2).count() === 0)
  }

  test("multimodal: REAL PNG decode through javax.imageio (capability-gated)") {
    // a genuine PNG fixture: 32x32, left half black, right half white,
    // encoded by the same in-JVM codec the decode path uses
    val img = new java.awt.image.BufferedImage(32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32)
      img.setRGB(x, y, if (x < 16) 0x000000 else 0xffffff)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray

    assert(Multimodal.canDecodeImage(png))
    assert(!Multimodal.canDecodeImage("not an image".getBytes("UTF-8")))

    // 2x2 grid over dim=4: cells 0/2 are the black half (luminance -1),
    // cells 1/3 the white half (+1) — features reflect PIXELS, not hashes
    val feat = Multimodal.decodeImage(png, dim = 4).get
    assert(feat(0) === -1.0 && feat(2) === -1.0)
    assert(feat(1) === 1.0 && feat(3) === 1.0)

    // and through the distributed seam: an image row with a real payload
    // decodes via the codec (pixel features), while an unreadable image
    // payload falls back to the deterministic stub — same shape
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRecord(1L, "image", png, Some(32), Some(32), None, None),
      Multimodal.MediaRecord(2L, "image", "junk".getBytes("UTF-8"), None, None, None, None))
    val feats = Multimodal.extractFeatures(rows.toDS(), dim = 4)
      .collect().sortBy(_.media_id)
    assert(feats(0).feature.toSeq === feat.toSeq)
    assert(feats(1).feature.toSeq === Multimodal.decodeStub("junk".getBytes("UTF-8"), 4).toSeq)
  }

  test("decodeAudio reads a real WAV through javax.sound.sampled: segment RMS reflects SAMPLES") {
    // 16-bit mono PCM fixture encoded by the same in-JVM codec the decode
    // path uses: first half silence, second half a full-scale square wave
    // (|sample| = 0.5 everywhere in the half → segment rms exactly 0.5)
    val rate = 8000f
    val n = 8000
    val samples = Array.tabulate[Short](n) { i =>
      if (i < n / 2) 0
      else if ((i / 8) % 2 == 0) 16384 else -16384
    }
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED, rate, 16, 1, 2, rate, false)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray

    assert(Multimodal.canDecodeAudio(wav))
    assert(!Multimodal.canDecodeAudio("not audio".getBytes("UTF-8")))
    assert(Multimodal.sniffFormat(org.apache.spark.sql.functions.lit(wav)) != null) // header agrees

    // dim=4: segments 0-1 are silence (rms 0 → feature -1), segments 2-3
    // the square wave (rms 0.5 → feature 0) — features reflect SAMPLES
    val feat = Multimodal.decodeAudio(wav, dim = 4).get
    assert(feat(0) === -1.0 && feat(1) === -1.0)
    assert(math.abs(feat(2)) < 1e-6 && math.abs(feat(3)) < 1e-6)

    // and through the distributed seam: a real WAV audio row decodes via
    // the codec, an unreadable audio payload falls back to the stub
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRecord(1L, "audio", wav, None, None, Some(8000), None),
      Multimodal.MediaRecord(2L, "audio", "junk".getBytes("UTF-8"), None, None, None, None))
    val feats = Multimodal.extractFeatures(rows.toDS(), dim = 4)
      .collect().sortBy(_.media_id)
    assert(feats(0).feature.toSeq === feat.toSeq)
    assert(feats(1).feature.toSeq === Multimodal.decodeStub("junk".getBytes("UTF-8"), 4).toSeq)
  }

  test("Pii: counts find every class, redaction replaces all occurrences and is idempotent") {
    import spark.implicits._
    import graft.llmops.Pii
    val df = Seq(
      ("mail a@b.io and c.d+x@e-f.org, call 555-123-4567 or 555-000-1111, host 10.0.0.1", 1),
      ("no pii at all here", 2),
      ("edge: 1.2.3.4 ends the line, a@b.co starts 999-999-9999", 3),
      ("pay 4111-1111-1111-1111 now", 4), // card only: phone (3-3-4) must NOT fire inside it
      // overlap: phone ends on the digit group the card starts with —
      // counts see BOTH on the original text; card-first redaction takes
      // the 16-digit span, the phone residue stays (object-doc contract)
      ("call 555-123-4567-1111-1111-1111", 5)
    ).toDF("text", "k")
    val cols = Seq(col("k")) ++ Pii.signals(col("text")) :+ Pii.redact(col("text")).as("red")
    val out = df.select(cols: _*).collect()
      .map(r => r.getInt(0) -> r).toMap
    def n(k: Int, cls: String): Int = out(k).getAs[Int](s"n_$cls")
    assert(n(1, "email") === 2 && n(1, "phone") === 2 && n(1, "ip") === 1 && n(1, "card") === 0)
    assert(Seq("email", "phone", "ip", "card", "intl", "ipv6").forall(n(2, _) === 0))
    assert(n(3, "email") === 1 && n(3, "phone") === 1 && n(3, "ip") === 1 && n(3, "card") === 0)
    assert(n(4, "email") === 0 && n(4, "phone") === 0 && n(4, "ip") === 0 && n(4, "card") === 1)
    assert(n(5, "phone") === 1 && n(5, "card") === 1) // both classes counted
    val red1 = out(1).getAs[String]("red")
    assert(red1 === "mail <EMAIL> and <EMAIL>, call <PHONE> or <PHONE>, host <IP>")
    assert(out(2).getAs[String]("red") === "no pii at all here")
    assert(out(4).getAs[String]("red") === "pay <CARD> now")
    assert(out(5).getAs[String]("red") === "call 555-123-<CARD>") // card wins the shared group
    // idempotence: placeholders match no pattern
    val again = df.select(Pii.redact(Pii.redact(col("text"))).as("r2"), Pii.redact(col("text")).as("r1"))
    assert(again.filter(col("r1") =!= col("r2")).count() === 0)

    // SQL surface: pii_redact as GraftExtensions registers it
    df.createOrReplaceTempView("pii_docs")
    val viaSql = spark.sql("SELECT k, pii_redact(text) AS red FROM pii_docs")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(viaSql(1) === red1)
    assert(viaSql(4) === "pay <CARD> now")            // card layer exercised via SQL
    assert(viaSql(5) === "call 555-123-<CARD>")       // and the overlap order too
  }

  test("header sniffing reads real PNG/GIF/WAV layouts, no codec involved") {
    def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++ Array[Byte](8, 6, 0, 0, 0)
    val gif = "GIF89a".getBytes ++ le16(320) ++ le16(200) ++ Array[Byte](0, 0, 0)
    val wav = "RIFF".getBytes ++ le32(36) ++ "WAVE".getBytes ++ "fmt ".getBytes ++
      le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++ le32(176400) ++ le16(4) ++ le16(16)
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte) ++ le16(16)
    val junk = "not an image".getBytes

    val df = Seq(("png", png), ("gif", gif), ("wav", wav), ("jpeg", jpeg), ("junk", junk))
      .toDF("name", "bytes")
      .select(col("name"),
        Multimodal.sniffFormat(col("bytes")).as("fmt"),
        Multimodal.imageDims(col("bytes")).as("dims"),
        Multimodal.wavSampleRate(col("bytes")).as("rate"))
    val out = df.collect().map(r => r.getString(0) -> r).toMap
    assert(out("png").getString(1) === "png")
    assert(out("png").getStruct(2).getInt(0) === 640)
    assert(out("png").getStruct(2).getInt(1) === 480)
    assert(out("gif").getString(1) === "gif")
    assert(out("gif").getStruct(2).getInt(0) === 320)
    assert(out("gif").getStruct(2).getInt(1) === 200)
    assert(out("wav").getString(1) === "wav")
    assert(out("wav").getLong(3) === 44100L)
    assert(out("jpeg").getString(1) === "jpeg")
    assert(out("jpeg").isNullAt(2))            // SOF scan is out of expression scope
    assert(out("junk").getString(1) === "unknown")
    assert(out("junk").isNullAt(2) && out("junk").isNullAt(3))
  }

  test("WordNgramsStream generator equals explode(word_ngrams) on the harness corpus") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaArray = docs.select(explode(TextAnalysis.wordNgrams(col("text"), 3)).as("gram"))
      .groupBy("gram").count()
    val viaGen = docs.select(graft.functions.WordNgramsStream.wordNgramsStream(col("text"), 3))
      .groupBy("gram").count()
    assert(viaArray.exceptAll(viaGen).count() === 0)
    assert(viaGen.exceptAll(viaArray).count() === 0)
    // null and short texts yield no rows
    import spark.implicits._
    val edge = Seq((1L, null: String), (2L, "a b")).toDF("id", "text")
    assert(edge.select(graft.functions.WordNgramsStream.wordNgramsStream(col("text"), 3))
      .count() === 0)
  }

  test("jpegDims walks the marker stream to SOF (APP0/comment segments skipped)") {
    def be16(v: Int) = Array[Byte]((v >>> 8).toByte, v.toByte)
    val app0 = Array[Byte](0xff.toByte, 0xe0.toByte) ++ be16(16) ++
      "JFIF".getBytes ++ Array.fill[Byte](10)(0)
    val comment = Array[Byte](0xff.toByte, 0xfe.toByte) ++ be16(8) ++ "graft!".getBytes
    val dht = Array[Byte](0xff.toByte, 0xc4.toByte) ++ be16(4) ++ Array[Byte](0, 0)
    val sof0 = Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(17) ++
      Array[Byte](8) ++ be16(1080) ++ be16(1920) ++ Array.fill[Byte](10)(0)
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte) ++ app0 ++ comment ++ dht ++ sof0
    assert(graft.llmops.Multimodal.jpegDims(jpeg) === Some((1920, 1080)))
    assert(graft.llmops.Multimodal.dimsOf(jpeg) === Some((1920, 1080)))
    // progressive marker SOF2 is also a frame header
    val sof2 = sof0.clone(); sof2(1) = 0xc2.toByte
    val prog = Array[Byte](0xff.toByte, 0xd8.toByte) ++ app0 ++ sof2
    assert(graft.llmops.Multimodal.jpegDims(prog) === Some((1920, 1080)))
    // DHT (0xc4) must NOT terminate the walk as a frame header
    assert(graft.llmops.Multimodal.jpegDims(
      Array[Byte](0xff.toByte, 0xd8.toByte) ++ dht) === None)
    // truncated and non-JPEG payloads
    assert(graft.llmops.Multimodal.jpegDims("nope".getBytes) === None)
    assert(graft.llmops.Multimodal.jpegDims(Array[Byte](0xff.toByte, 0xd8.toByte)) === None)
    // PNG/GIF route through dimsOf's fixed offsets
    def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++ Array[Byte](8, 6, 0, 0, 0)
    assert(graft.llmops.Multimodal.dimsOf(png) === Some((640, 480)))
  }

  test("containmentVerifiedPairs: prefix excerpt scores containment 1.0 with jaccard < 1") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while many other animals wander slowly across wide open fields"
    val docs = Seq(
      (1L, base),
      (2L, base + " tail"),   // 1 is a prefix excerpt of 2: containment 1.0
      (3L, "completely unrelated content with entirely different words everywhere")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentVerifiedPairs(docs, "doc_id", "text", minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.contains((1L, 2L)), s"excerpt pair missing: ${out.keySet}")
    val (c, j) = out((1L, 2L))
    assert(c === 1.0, s"containment $c")       // every shingle of 1 is in 2
    assert(j < 1.0 && j > 0.8, s"jaccard $j")  // symmetric score strictly lower
    assert(!out.keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("gopherFilter: each rule sets its own reason bit; clean text keeps") {
    import spark.implicits._
    val sw = Seq("the", "a", "and", "of", "to")
    val clean = "the quick brown fox jumps over a lazy dog while many other animals " +
      "of various kinds wander slowly across wide open grassy fields during warm afternoons"
    val docs = Seq(
      (1L, clean),                                    // passes everything
      (2L, "the of and to a"),                        // 5 tokens < 20 -> bit 1 (stop ratio high, mean ok)
      (3L, ("superlongtokenword " * 25).trim),        // mean word len 18 -> bit 2 (+ no stopwords -> 4)
      (4L, ("the cat " * 30).trim),                   // dup bigrams ~1.0 -> bit 8
      (5L, ("!!! ??? ;;; " * 10 + "the end of it and a to " * 3).trim) // punct ratio -> bit 16
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(docs, "doc_id", "text", sw)
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) === ((0, 1)), s"clean doc flagged: ${out(1L)}")
    assert((out(2L)._1 & 1) === 1 && out(2L)._2 === 0)
    assert((out(3L)._1 & 2) === 2 && (out(3L)._1 & 4) === 4)
    assert((out(4L)._1 & 8) === 8)
    assert((out(5L)._1 & 16) === 16)
  }

  test("bloomGatedNewDocs: result EQUALS the plain exact anti-join; gate has no false negatives") {
    import spark.implicits._
    // history: 50 docs; increment: 30 overlapping (true dups) + 40 new
    val hist = (0 until 50).map(i => (i.toLong, s"history document number $i"))
      .toDF("doc_id", "text")
    val inc = ((20 until 50).map(i => (1000L + i, s"history document number $i")) ++
      (0 until 40).map(i => (2000L + i, s"fresh increment doc $i")))
      .toDF("doc_id", "text")
    val gated = graft.llmops.Dedup.bloomGatedNewDocs(inc, hist, "text", expectedItems = 50L)
    val exact = inc.join(
      hist.select(graft.llmops.Dedup.contentHash(col("text")).as("__ch")).distinct(),
      graft.llmops.Dedup.contentHash(col("text")) === col("__ch"), "left_anti")
    val gatedIds = gated.select("doc_id").as[Long].collect().sorted
    assert(gatedIds === exact.select("doc_id").as[Long].collect().sorted)
    assert(gatedIds.length === 40)                 // exactly the fresh docs
    assert(gatedIds.forall(_ >= 2000L))            // no true dup survived (no false negatives)
    assert(gated.columns === inc.columns)          // increment schema preserved
  }

  test("bloomGatedNewDocs sizing guard fails loudly naming the remedy") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.llmops.Dedup.bloomGatedNewDocs(df, df, "text",
        expectedItems = 100000000000L, fpp = 0.01, maxFilterBytes = 1L << 20)
    }
    assert(e.getMessage.contains("Shard the gate"))
    assert(e.getMessage.contains("maxFilterBytes"))
    // and the byte formula matches the classic optimal-bits expression
    val b = graft.llmops.Dedup.bloomBytes(1000000L, 0.01)
    assert(b > 1100000L && b < 1300000L)           // ~9.6 bits/item at 1%
  }
}
