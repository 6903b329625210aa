package graft.tools

import org.apache.spark.sql.functions._

/** Decade probe for the r10 corpus operators (q127/q128/q130) plus the
  * semantic-dedup SCALE-PATH comparison: the registered q129 is the
  * oracle baseline over exact all-pairs cosine (quadratic BY
  * CONSTRUCTION — it exists to verify the assignment logic), so the
  * decade claim for semantic dedup is carried by the LSH-fed twin:
  * `semanticDedupAssignments` over SRP-banded candidate pairs, the
  * pair source `Dedup.semanticDedupAssignments`'s doc names for
  * corpus scale. This probe measures:
  *   - q127/q128/q130 at sf0.1 and the GenScale sf1 slice (min-of-2,
  *     warmed cache) → {t1_r10, t10, exp10} fragment for
  *     tools/merge_scaling.py;
  *   - q129_lsh_twin at both scales (same protocol, same fragment);
  *   - the exact-baseline q129 ONCE at each scale (1 iter at sf1 — the
  *     point is to MEASURE the quadratic blow-up the scale path
  *     avoids, not to pretend it scales);
  *   - an agreement line at sf0.1: edge recall of the LSH pair source
  *     vs exact, and the fraction of identical keep/drop assignments —
  *     the twin's fidelity, measured.
  */
object ProbeScalingCorpus {
  def main(args: Array[String]): Unit = {
    val sf1Dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val outPath = args.lift(1).getOrElse("/tmp/scaling_corpus.json")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100000).selectExpr("sum(id)").collect()

    def lshTwin(dir: String) = {
      val emb = graft.Tables.load(spark, dir, "embeddings")
      // the designed corpus-scale sizing: planes grow with log2(n) so
      // expected bucket population stays <= sqrt(n); tables from the
      // recall target at the similarity threshold
      val n = emb.count()
      val pairs = graft.llmops.Similarity.lshAutoSizedNeighbors(
          emb, "vec_id", "embedding", 64, n,
          simThreshold = 0.4, recallTarget = 0.75, minScore = 0.4)
        .select(col("id_a"), col("id_b")).distinct()
      graft.llmops.Dedup.semanticDedupAssignments(emb, "vec_id", pairs)
    }

    val names = Seq("q127_bm25", "q128_doc_chunks", "q130_bpe_pairs")
    val dirs = Seq("/root/testdata/sf0.1", sf1Dir)
    val times = scala.collection.mutable.Map[(String, String), Double]()
    for (dir <- dirs) {
      spark.catalog.clearCache()
      Seq("documents", "embeddings").foreach { t =>
        val df = spark.read.parquet(s"$dir/$t.parquet")
        df.cache(); df.count()
      }
      for (n <- names) {
        val t = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(n)(spark, dir).collect()
          (System.nanoTime() - t0) / 1e9
        }.min
        times((dir, n)) = t
        println(f"[corpus10] $dir $n $t%.3f")
      }
      val tTwin = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        lshTwin(dir).agg(count(lit(1)), sum(when(col("kept"), 1L))).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      times((dir, "q129_lsh_twin")) = tTwin
      println(f"[corpus10] $dir q129_lsh_twin $tTwin%.3f")
      // exact baseline: once, reported but NOT merged as a scaling row
      val t0 = System.nanoTime()
      graft.SparkEntry.queries("q129_semantic_dedup")(spark, dir).collect()
      println(f"[corpus10] $dir q129_exact_once ${(System.nanoTime() - t0) / 1e9}%.3f")
    }

    // fidelity of the twin at sf0.1: pair recall + assignment agreement
    val dir01 = dirs.head
    spark.catalog.clearCache()
    val emb = graft.Tables.load(spark, dir01, "embeddings").cache()
    emb.count()
    val exactPairs = graft.llmops.Dedup.embeddingNearDupPairs(
      emb, "vec_id", "embedding", 0.4).select(col("id_a"), col("id_b"))
    val lshPairs = graft.llmops.Similarity.lshAutoSizedNeighbors(
        emb, "vec_id", "embedding", 64, emb.count(),
        simThreshold = 0.4, recallTarget = 0.75, minScore = 0.4)
      .select(col("id_a"), col("id_b")).distinct()
    val nExact = exactPairs.count()
    val nHit = exactPairs.intersect(lshPairs).count()
    val exact = graft.llmops.Dedup.semanticDedupAssignments(
      emb, "vec_id", graft.llmops.Dedup.embeddingNearDupPairs(
        emb, "vec_id", "embedding", 0.4))
    val twin = lshTwin(dir01)
    val agree = exact.select(col("vec_id"), col("kept").as("k1"))
      .join(twin.select(col("vec_id"), col("kept").as("k2")), "vec_id")
      .agg(count(lit(1)).as("n"), sum(when(col("k1") === col("k2"), 1L).otherwise(0L)).as("same"))
      .collect()(0)
    println(f"[corpus10] sf0.1 pair_recall=${nHit.toDouble / nExact}%.4f " +
      s"(${nHit}/${nExact}) kept_agreement=${agree.getLong(1)}/${agree.getLong(0)}")

    def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val rows = (names :+ "q129_lsh_twin").map { n =>
      val a = times((dirs(0), n)); val b = times((dirs(1), n))
      s""""$n":{"t1_r10":${f3(a)},"t10":${f3(b)},"exp10":${f3(math.log10(b / a))}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      rows.mkString("{\"queries\":{", ",", "}}").getBytes("UTF-8"))
    println(s"[corpus10] wrote $outPath")
    spark.stop()
  }
}
