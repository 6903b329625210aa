package graft

import org.apache.spark.sql.functions._

import graft.analytics.Skew
import graft.analytics.Skew.SaltedAgg

class SkewSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ev = Tables.events(spark, "/root/testdata/sf0.001")

  test("saltedAggregate == plain aggregate (sum/count/min/max)") {
    val salted = Skew.saltedAggregate(ev, Seq(col("event_type")), 8, Seq(
      SaltedAgg.sumOf(col("value"), "total"),
      SaltedAgg.countAll("n"),
      SaltedAgg.minOf(col("value"), "lo"),
      SaltedAgg.maxOf(col("value"), "hi")))
      .select(col("event_type"), round(col("total"), 4).as("total"), col("n"), col("lo"), col("hi"))
    val plain = ev.groupBy(col("event_type"))
      .agg(round(sum(col("value")), 4).as("total"), count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("saltedJoin == plain join") {
    val dim = Seq(("click", 1), ("view", 2), ("purchase", 3), ("signup", 4), ("error", 5))
      .toDF("event_type", "type_code")
    val salted = Skew.saltedJoin(ev.select("event_id", "event_type"), dim, "event_type", 4)
      .select(col("event_id"), col("type_code"))
    val plain = ev.select("event_id", "event_type").join(dim, "event_type")
      .select(col("event_id"), col("type_code"))
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("AQE skew join: a hyper-hot key is split into multiple tasks at runtime") {
    // 95%-one-key left side joined to a non-broadcastable right side; with
    // the thresholds forced low, AQE must mark the sort-merge join skewed
    // and split the hot partition instead of serializing it in one task.
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(200000)
        .select(when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
          col("id").as("payload"))
      val right = spark.range(50000).select(col("id").as("k"), (col("id") * 2).as("rv"))
      val joined = left.join(right, "k")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not mark the skewed join:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // parquet-backed fact side (the injected filter targets scans) and a
      // selectively-filtered creation side
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val fact = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val dim = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter") || plan.contains("might_contain"),
        s"runtime bloom filter not injected:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }

  test("splitHotKeys partitions rows exactly") {
    val (hot, rest) = Skew.splitHotKeys(ev, "event_type", Seq("view", "click"))
    assert(hot.count() + rest.count() === ev.count())
    assert(hot.select("event_type").distinct().collect().map(_.getString(0)).toSet === Set("view", "click"))
  }

  test("time-bucketed as-of join == plain as-of join on a 90%-one-key dataset") {
    import graft.analytics.TimeSeries
    val rnd = new scala.util.Random(7)
    // 90% of rows on one hot key — the case where key-clustered as-of
    // serializes a single task
    def mkKey() = if (rnd.nextInt(10) < 9) "HOT" else s"k${rnd.nextInt(20)}"
    val leftRows = (0 until 20000).map(i => (i.toLong, mkKey(), rnd.nextInt(100000).toDouble))
    val rightRows = (0 until 8000).map(i => (mkKey(), rnd.nextInt(100000).toDouble, i.toDouble))
    val left = leftRows.toDF("id", "sym", "ts").repartition(8)
    val right = rightRows.toDF("sym", "ts", "px").repartition(8)

    val plain = TimeSeries.asOfJoin(left, right, "sym", "ts", "ts", Seq("px"))
    val bucketed = TimeSeries.asOfJoinTimeBucketed(
      left, right, "sym", "ts", "ts", Seq("px"), bucketWidthSec = 5000.0)
    assert(bucketed.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(bucketed).count() === 0)
    assert(plain.count() === 20000)

    // the scale argument: clustering on (key, bucket) caps any one task's
    // share of the hot key at roughly one bucket's worth of rows
    val hotTotal = left.filter(col("sym") === "HOT").count()
    val maxGroup = left
      .groupBy(col("sym"), floor(col("ts") / 5000.0).cast("long").as("tb"))
      .count().agg(max("count")).collect().head.getLong(0)
    assert(maxGroup < hotTotal / 10,
      s"expected (key,bucket) groups to split the hot key, max=$maxGroup hot=$hotTotal")
    // and the final merge really is keyed on the composite struct
    val planStr = bucketed.queryExecution.executedPlan.toString
    assert(planStr.contains("MergeAsOfJoin"), "expected the custom merge operator")
    assert(planStr.contains("hashpartitioning(__kb"),
      "expected the exchange to partition on struct(key, bucket)")
  }

  test("time-bucketed as-of: carry crosses empty buckets, empty right side is all-null") {
    import graft.analytics.TimeSeries
    val left = Seq((1L, "A", 10.0), (2L, "A", 95000.0), (3L, "B", 50.0))
      .toDF("id", "sym", "ts")
    // A's only quote is at ts=5: buckets between 5 and 95000 are all empty,
    // so the carry must propagate across many empty buckets; B has no quotes
    val right = Seq(("A", 5.0, 1.25)).toDF("sym", "ts", "px")
    val out = TimeSeries.asOfJoinTimeBucketed(
        left, right, "sym", "ts", "ts", Seq("px"), bucketWidthSec = 100.0)
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out(1L) === Some(1.25))
    assert(out(2L) === Some(1.25))
    assert(out(3L) === None)
  }
}
