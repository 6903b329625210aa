package graft

import org.apache.spark.sql.functions._

import graft.llmops.{Dedup, Similarity}

/** Pins the approximation QUALITY of the ANN scale paths against their
  * exact oracle-verified twins (the rows-only correctness check proves
  * only shape): IVF probe search vs brute-force cosineTopK, and banded
  * SRP-LSH pairs vs the exact O(n^2) near-dup scan. All hashing is
  * deterministic (no RNG state); thresholds carry margin only for
  * double-accumulation-order wobble in the centroid means.
  */
class AnnRecallSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
  private val dim = 64

  test("IVF recall@10 vs exact top-k over fixed queries") {
    val (cent, assigned) = Similarity.ivfIndex(emb, "vec_id", "embedding", dim, nCells = 16)
    assigned.cache(); assigned.count()
    val recalls = Seq(1L, 5L, 11L, 23L, 42L).map { qid =>
      val q = emb.filter(col("vec_id") === qid)
        .select(Similarity.asDouble(col("embedding"))).head.getSeq[Double](0)
      val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      val approx = Similarity.ivfTopK(cent, assigned, q, nProbe = 8, k = 10)
        .collect().map(_.getLong(0)).toSet
      (exact & approx).size / 10.0
    }
    assigned.unpersist()
    // measured on this corpus: 0.6 / 0.7 / 0.9 / 0.7 / 0.8 at nProbe=8 of
    // 16 cells (uniform synthetic embeddings are IVF's worst case — real
    // corpora cluster); margins below absorb centroid-mean float wobble
    assert(recalls.min >= 0.5, s"per-query recall@10 too low: $recalls")
    assert(recalls.sum / recalls.size >= 0.65, s"mean recall@10 too low: $recalls")
  }

  test("BoundedTopK == window-rank top-k (partials, merges, ties, serialization)") {
    import graft.functions.BoundedTopK
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // many partitions force the partial/merge (and serialize) path; tied
    // scores force the id tie-break
    val rnd = new scala.util.Random(3)
    val rows = (0 until 5000).map(i =>
      (i % 7L, math.floor(rnd.nextDouble() * 20) / 20.0, i.toLong))
    val df = rows.toDF("g", "s", "id").repartition(16)
    val agg = df.groupBy(col("g"))
      .agg(BoundedTopK.topK(col("s"), col("id"), 5).as("nn"))
      .select(col("g"), explode(col("nn")).as("e"))
      .select(col("g"), col("e.id").as("id"), col("e.score").as("s"))
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("id"))
    val win = df.select(col("g"), col("id"), col("s"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 5).drop("rn")
    assert(agg.exceptAll(win).count() === 0)
    assert(win.exceptAll(agg).count() === 0)
    assert(agg.count() === 35)
    // rank order inside the array is score DESC, id ASC
    val arr = df.groupBy(col("g")).agg(BoundedTopK.topK(col("s"), col("id"), 5).as("nn"))
      .filter(col("g") === 0L).head.getSeq[org.apache.spark.sql.Row](1)
    val pairs = arr.map(r => (r.getDouble(0), r.getLong(1)))
    assert(pairs === pairs.sortBy { case (s, id) => (-s, id) })
  }

  test("cosineTopKBatch matches per-query brute-force cosineTopK") {
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))
    val batch = Similarity.cosineTopKBatch(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 10, excludeSelfId = true)
    (0L until 3L).foreach { qid =>
      val q = emb.filter(col("vec_id") === qid)
        .select(Similarity.asDouble(col("embedding"))).head.getSeq[Double](0)
      val single = Similarity.cosineTopK(
          emb.filter(col("vec_id") =!= qid), "vec_id", "embedding", q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = batch.filter(col("qid") === qid)
        .select(col("id"), col("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(fromBatch.toSet === single.toSet, s"qid=$qid")
    }
  }

  test("ivfTopKBatch recall vs the exact batch over the same query set") {
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))
    val exact = Similarity.cosineTopKBatch(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, excludeSelfId = true)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val (cent, assigned) = Similarity.ivfIndex(emb, "vec_id", "embedding", dim, nCells = 16)
    val approx = Similarity.ivfTopKBatch(cent, assigned, queries, "qid", "qv",
        nProbe = 8, k = 10, excludeSelfId = true)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recalls = exact.keys.toSeq.sorted.map { q =>
      (exact(q) & approx.getOrElse(q, Set.empty)).size / 10.0
    }
    assert(recalls.min >= 0.5, s"per-query batch IVF recall too low: $recalls")
    assert(recalls.sum / recalls.size >= 0.65, s"mean batch IVF recall too low: $recalls")
  }

  test("banded SRP-LSH recall of the exact near-dup pairs") {
    val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", minCosine = 0.4)
      .select(col("id_a"), col("id_b")).cache()
    val nTrue = exact.count()
    assert(nTrue > 0)
    // the q41 configuration: 4 planes x 8 tables; per-plane agreement for
    // cosine 0.4 is p = 1 - acos(0.4)/pi ~ 0.63, so expected recall is
    // 1 - (1 - p^4)^8 ~ 0.75 (measured 0.763 on this corpus)
    val lsh = Similarity.lshBandedNeighbors(emb, "vec_id", "embedding", dim,
      planesPerTable = 4, numTables = 8, minScore = 0.4)
      .select(col("id_a"), col("id_b"))
    val hit = exact.join(lsh, Seq("id_a", "id_b"), "left_semi").count()
    exact.unpersist()
    assert(hit.toDouble / nTrue >= 0.7,
      s"banded LSH recall ${hit.toDouble / nTrue} below 0.7 ($hit of $nTrue)")
    // and the single-table high-precision form is a strict subset of the
    // exact pair set (no false positives by construction: exact rescore)
    val single = Similarity.lshBucketedNeighbors(emb, "vec_id", "embedding", dim,
      numPlanes = 8, minScore = 0.4).select(col("id_a"), col("id_b"))
    assert(single.exceptAll(
      Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", minCosine = 0.4)
        .select(col("id_a"), col("id_b"))).count() === 0)
  }

  test("PQ: codes are dense per subspace; ADC rerank recovers the exact top-10") {
    val (codebook, codes) = Similarity.pqIndex(
      emb, "vec_id", "embedding", dim, m = 16, ksub = 16, lloydIters = 2)
    // shape contract: m codes per row, each within its subspace's dense range
    assert(codebook.centroids.length === 16)
    val sizes = codebook.centroids.map(_.length)
    assert(sizes.forall(s => s >= 1 && s <= 16), s"sizes: ${sizes.toSeq}")
    import spark.implicits._
    val codeRows = codes.select(col("codes")).as[Seq[Int]].collect()
    assert(codeRows.forall(_.length === 16))
    assert(codeRows.forall(_.zipWithIndex.forall { case (c, j) => c >= 0 && c < sizes(j) }),
      "a code escaped its subspace's dense range")
    // quality: the q112 construction — ADC shortlist 200 + exact re-rank,
    // measured 1.0 recall at both SFs when q112 landed; 0.8 here absorbs
    // centroid-mean accumulation-order wobble
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))
    val pq = Similarity.pqRerankTopKBatch(codebook, codes, emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 10, shortlist = 200, excludeSelfId = true)
      .select(col("qid"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosineTopKBatch(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 10, excludeSelfId = true)
      .select(col("qid"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size === 50)
    val recall = (exact & pq).size / 50.0
    assert(recall >= 0.8, s"PQ rerank recall@10 $recall below 0.8")
    // raw ADC (no re-rank) must at least beat random — the compression
    // is doing SOME work even before the re-rank repairs the boundary
    val raw = Similarity.pqTopKBatch(codebook, codes, queries, "qid", "qv",
      k = 10, excludeSelfId = true)
      .select(col("qid"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact & raw).size >= 10, s"raw ADC recall collapsed: ${(exact & raw).size}/50")
  }

  test("IVF-PQ residual: full-probe + full-shortlist degenerates to EXACT top-k") {
    // nProbe = nCells and shortlist >= corpus means no candidate is ever
    // pruned, and the re-rank is exact cosine — the composite must equal
    // brute force EXACTLY (no threshold, no wobble allowance): this pins
    // the residual arithmetic, the cell routing, and the re-rank join
    // all at once. The pruned-regime quality is q140's measured verdict.
    val n = emb.count().toInt
    val (cents, cb, codes) = Similarity.ivfPqIndex(
      emb, "vec_id", "embedding", dim, nCells = 16, m = 16, ksub = 16,
      lloydIters = 1, pqIters = 2)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))
    val approx = Similarity.ivfPqRerankTopKBatch(cents, cb, codes,
      emb, "vec_id", "embedding", queries, "qid", "qv",
      k = 10, shortlist = n, nProbe = 16, excludeSelfId = true)
      .select(col("qid"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosineTopKBatch(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 10, excludeSelfId = true)
      .select(col("qid"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx === exact, "full-probe IVF-PQ must recover exact top-k identically")
    // codes carry the cell for query-side pruning, and every corpus row
    // is coded exactly once
    assert(codes.columns.toSet === Set("id", "codes", "cell"))
    assert(codes.count() === n.toLong)
    assert(codes.select(col("id")).distinct().count() === n.toLong)
  }
}
