package graft.tools

import org.apache.spark.sql.SparkSession

/** Targeted Verify: dump ONLY the named queries (plus oracle_sql.json) so
  * a single fix can be oracle-checked in seconds instead of re-running
  * the whole suite. Usage:
  *   runMain graft.tools.DumpOne <sfDir> <outDir> <queryName>...
  * then: python3 tools/check.py <sfDir> <outDir>
  */
object DumpOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2)
    val cpus = graft.Bench.cpusFromEnv()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[dumpone] wrote $name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.SparkEntry.oracleSql
      .filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
