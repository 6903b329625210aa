package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (`tools/check.py`). A query that
  * throws is named with its error in `verify_failed.json` (a JSON list,
  * empty when every query dumped) and in one summary line on stdout. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = graft.Bench.cpusFromEnv()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dev-only subset filter (unset in the driver): SPARK_GRAFT_ONLY=q154_cusum_events,q151_rolling_median
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.view.filterKeys(names).toMap)
    val failed = dump(spark, sfDir, outDir, selected.toSeq)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[verify] ${selected.size} queries: ${selected.size - failed.size} dumped, " +
      s"${failed.size} failed" +
      (if (failed.isEmpty) "" else s" (${failed.map(_._1).mkString(",")})"))
    spark.stop()
  }

  /** Dump every query's result under `outDir/<name>` and write
    * `outDir/verify_failed.json`. Returns (name, error) of each query
    * that threw, in the order run. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.flatMap { case (name, fn) =>
      // release each query's localCheckpoint pins after its dump (r19
      // item 5): a 255-query session otherwise accumulates every pin's
      // blocks until the lazy ContextCleaner gets to them
      val pinned = graft.util.Pins.snapshot(spark)
      val error =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e.toString)
        }
      val leaked =
        try { graft.util.Pins.releaseNewerThan(spark, pinned); None }
        catch { case e: IllegalStateException =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e.toString)
        }
      error.orElse(leaked)
    }
    Files.writeString(Paths.get(s"$outDir/verify_failed.json"), failed.map { case (n, e) =>
      s"""{"name": ${q(n)}, "error": ${q(e)}}"""
    }.mkString("[", ",\n", "]\n"))
    failed
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in hand-written SQL would otherwise make the
  // compare's json.load fail and silently zero the correctness check.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
