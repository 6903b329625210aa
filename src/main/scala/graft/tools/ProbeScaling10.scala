package graft.tools

/** r10 scale-decade probe (r9 verdict item 3): run the top-10 most
  * expensive queries at sf0.1 and at the GenScale sf1 slice (10× the
  * engine-native tables, TPC-H symlinked), and emit per-query
  * `{t1_r10, t10, exp10}` where `exp10 = log10(t10 / t1_r10)` — both
  * endpoints measured in THIS run/binary so the exponent is
  * apples-to-apples (the r9 `t1` column in scaling.json came from the
  * r9 binary). A merge step (tools/merge_scaling.py) folds the fragment
  * into docs/bench/scaling.json.
  *
  * Protocol: warmed table cache per dir, min of 2 iterations, fixed
  * order, idle box — the Bench/ProbeScaling discipline. q62/q51 read
  * only TPC-H tables and are expected FLAT (exp10 ≈ 0) by construction;
  * they stay in the set because the verdict named them, and a flat
  * reading documents exactly that.
  */
object ProbeScaling10 {
  val top: Seq[String] = Seq(
    "q100_curation_extended", "q121_curation_v2", "q72_dedup_groups",
    "q112_pq_knn", "q113_source_overlap", "q37_jaccard_near_dups",
    "q22_near_dup_pairs", "q123_containment_pairs", "q62_tx_roundtrip",
    "q51_ingest_trades")

  def main(args: Array[String]): Unit = {
    val sf1Dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val outPath = args.lift(1).getOrElse("/tmp/scaling_sf1.json")
    // optional explicit query list (args 2..): later-round additions
    // reuse the same protocol/merge without editing `top`
    val picks = if (args.length > 2) args.drop(2).toSeq else top
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100000).selectExpr("sum(id)").collect()
    val dirs = Seq("/root/testdata/sf0.1", sf1Dir)
    val times = scala.collection.mutable.Map[(String, String), Double]()
    for (dir <- dirs) {
      spark.catalog.clearCache()
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        val df = spark.read.parquet(s"$dir/$t.parquet")
        df.cache(); df.count()
      }
      for (n <- picks) {
        val t = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(n)(spark, dir).collect()
          (System.nanoTime() - t0) / 1e9
        }.min
        times((dir, n)) = t
        println(f"[scaling10] $dir $n $t%.3f")
      }
    }
    def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val rows = picks.map { n =>
      val a = times((dirs(0), n)); val b = times((dirs(1), n))
      s""""$n":{"t1_r10":${f3(a)},"t10":${f3(b)},"exp10":${f3(math.log10(b / a))}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      rows.mkString("{\"queries\":{", ",", "}}").getBytes("UTF-8"))
    val flagged = picks.filter(n => math.log10(
      times((dirs(1), n)) / times((dirs(0), n))) > 1.1)
    println(s"[scaling10] exp10 > 1.1: " +
      (if (flagged.isEmpty) "NONE" else flagged.mkString(", ")))
    spark.stop()
  }
}
