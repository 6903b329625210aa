package graft.tools

/** Scaling-curve probe: run every SparkEntry query at sf0.001 / sf0.01 /
  * sf0.1 (100x of data end to end) and fit the per-query scaling
  * exponent over the top decade, `e = log10(t(sf0.1) / t(sf0.01))`.
  * e ~ 0 means fixed overhead dominates (sub-second queries), e ~ 1 is
  * linear, e > ~1.3 on a non-trivial runtime is the super-linear smell
  * the 100 TB design review looks for. Writes
  * `docs/bench/scaling.json`; queries below `minSec` at sf0.1 are
  * reported but not graded (noise floor).
  *
  * Protocol: warmed table cache per SF, min of 2 iterations, sorted
  * order — the Bench discipline. Run on an idle box.
  */
object ProbeScaling {
  def main(args: Array[String]): Unit = {
    val minSec = 0.5
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val sfs = Seq("sf0.001", "sf0.01", "sf0.1")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val times = scala.collection.mutable.Map[(String, String), Double]()
    for (sf <- sfs) {
      val dir = s"/root/testdata/$sf"
      spark.catalog.clearCache()
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        val df = spark.read.parquet(s"$dir/$t.parquet")
        df.cache(); df.count()
      }
      for (n <- names) {
        val t = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(n)(spark, dir).collect()
          (System.nanoTime() - t0) / 1e9
        }.min
        times((sf, n)) = t
        println(f"[scaling] $sf $n $t%.3f")
      }
    }
    def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val rows = names.map { n =>
      val (a, b, c) = (times(("sf0.001", n)), times(("sf0.01", n)), times(("sf0.1", n)))
      val e = math.log10(c / b)
      val graded = c >= minSec
      s""""$n":{"t001":${f3(a)},"t01":${f3(b)},"t1":${f3(c)},"exp":${f3(e)},"graded":$graded}"""
    }
    val out = rows.mkString("{\"minSec\":" + minSec + ",\"queries\":{", ",", "}}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("docs/bench/scaling.json"), out.getBytes("UTF-8"))
    val flagged = names.filter { n =>
      times(("sf0.1", n)) >= minSec &&
        math.log10(times(("sf0.1", n)) / times(("sf0.01", n))) > 1.3
    }
    println(s"[scaling] graded super-linear (exp > 1.3 at >= ${minSec}s): " +
      (if (flagged.isEmpty) "NONE" else flagged.mkString(", ")))
    spark.stop()
  }
}
