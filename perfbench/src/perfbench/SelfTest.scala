package perfbench

/** Checks of the harness itself that need no Spark session; exit code 0
  * when all pass. Run through `perfbench/test_perfbench.py`.
  */
object SelfTest {
  def run(): Int = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(name: String)(cond: Boolean): Unit = {
      println(s"[selftest] ${if (cond) "ok  " else "FAIL"} $name")
      if (!cond) failures += name
    }

    // a throwing operation is counted as failed and never timed
    val log = new OpLog
    val ok = log.run("write")(Thread.sleep(5))
    val bad = log.run("write") { Thread.sleep(20); throw new RuntimeException("boom") }
    check("throwing op returns None")(ok.isDefined && bad.isEmpty)
    check("throwing op counts as attempted and failed")(log.attempted == 2 && log.failed == 1)
    check("throwing op leaves no latency sample")(log.latencies("write").size == 1)
    check("failure is recorded by name")(log.errors.exists(_.contains("boom")))

    // quantiles interpolate between ranks
    check("median of 1..4")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("p90 of 0..10")(math.abs(Stats.quantile((0 to 10).map(_.toDouble), 0.9) - 9.0) < 1e-12)

    // the bar id matches the ingest path's sha256("ticker|yyyy-MM-dd HH:mm:ss")
    check("bar id")(Gen.barId("TK000", Gen.BaseEpochS) ==
      java.security.MessageDigest.getInstance("SHA-256")
        .digest("TK000|2024-01-02 10:00:00".getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString)

    if (failures.isEmpty) 0 else 1
  }
}
