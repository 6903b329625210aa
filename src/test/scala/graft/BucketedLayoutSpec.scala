package graft

import org.apache.spark.sql.functions._

import graft.sources.BucketedLayout

class BucketedLayoutSpec extends SparkSpec {

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }

  test("co-bucketed fact-fact join runs with zero shuffles and zero sorts") {
    val dir = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_quantity"))
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    BucketedLayout.writeBucketed(li, "li_bucketed", 8, Seq("l_orderkey"))
    BucketedLayout.writeBucketed(ord, "ord_bucketed", 8, Seq("o_orderkey"))
    try {
      // scan-reported within-bucket ordering is opt-in since Spark 3.0
      // (sound here: writeBucketed guarantees one file per bucket);
      // disable broadcast so the join would otherwise be a shuffled SMJ
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_extendedprice")).as("rev"), max(col("o_totalprice")).as("tp"))
      val plan = finalPlan(joined)
      assert(!plan.contains("Exchange"), s"expected no exchanges:\n$plan")
      assert(!plan.contains("Sort "), s"expected scan-reported ordering to elide sorts:\n$plan")
      // same join over the raw (unbucketed) parquet must shuffle
      val unbucketed = finalPlan(
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(sum(col("l_extendedprice")).as("rev")))
      assert(unbucketed.contains("Exchange"), s"control plan should shuffle:\n$unbucketed")
    } finally {
      // unset in finally — a mid-test failure must not leak session confs
      // into other suites sharing this getOrCreate session
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("keyed aggregation over a bucketed table skips its exchange") {
    val dir = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    BucketedLayout.writeBucketed(li, "li_agg_bucketed", 8, Seq("l_orderkey"))
    try {
      val agg = spark.table("li_agg_bucketed")
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
      val plan = finalPlan(agg)
      assert(!plan.contains("Exchange"), s"expected no exchanges:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_agg_bucketed")
    }
  }

  test("date-partitioned layout prunes partitions at planning time") {
    val dir = "/root/testdata/sf0.001"
    val path = "/tmp/graft_part_orders"
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("order_year", year(col("o_orderdate")))
      .select(col("o_orderkey"), col("o_totalprice"), col("order_year"))
    BucketedLayout.writePartitioned(ord, path, Seq("order_year"))
    val q = spark.read.parquet(path).filter(col("order_year") === 1995)
    val expect = ord.filter(col("order_year") === 1995).count()
    assert(q.count() === expect && expect > 0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(order_year") &&
      plan.contains("(order_year") && plan.contains("= 1995)"),
      s"expected partition pruning in scan:\n$plan")
    // one file per partition: no small-files explosion from the write
    val years = new java.io.File(path).listFiles().filter(_.getName.startsWith("order_year="))
    assert(years.nonEmpty)
    years.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${d.getName} has ${files.length} files")
    }
  }

  test("q63's range predicate prunes the date-partitioned events scan") {
    val dir = "/root/testdata/sf0.001"
    val path = java.nio.file.Files.createTempDirectory("graft_part_events").toString
    val ev = Tables.events(spark, dir)
      .withColumn("event_date", date_add(lit("1970-01-01").cast("date"),
        expr("unix_micros(ts) div 86400000000").cast("int")))
    BucketedLayout.writePartitioned(ev, path, Seq("event_date"))
    val q = spark.read.parquet(path)
      .filter(col("event_date").between(lit("2024-01-08"), lit("2024-01-14")))
      .groupBy(col("event_date"), col("event_type")).count()
    val plan = q.queryExecution.executedPlan.toString
    // the date range must reach the scan as PartitionFilters (planning-time
    // directory pruning), not as a post-scan data filter
    assert(plan.contains("PartitionFilters: [isnotnull(event_date") &&
      plan.contains(">= 2024-01-08") && plan.contains("<= 2024-01-14"),
      s"expected the date range in PartitionFilters:\n$plan")
    assert(plan.contains("DataFilters: []"),
      s"the range must prune directories, not filter rows post-scan:\n$plan")
    assert(q.count() > 0)
    assert(q.select("event_date").distinct().count() === 7)
  }

  test("equality filter on the bucket key prunes to one bucket") {
    val dir = "/root/testdata/sf0.001"
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    BucketedLayout.writeBucketed(ord, "ord_prune_bucketed", 8, Seq("o_orderkey"))
    try {
      // DisableUnnecessaryBucketedScan values only distribution reuse, not
      // pruning — keep the bucketed scan on for a point lookup
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val q = spark.table("ord_prune_bucketed").filter(col("o_orderkey") === 42L)
      val expect = ord.filter(col("o_orderkey") === 42L).count()
      assert(q.count() === expect)
      val scanned = q.queryExecution.executedPlan.toString
      assert(scanned.contains("SelectedBucketsCount: 1 out of 8"),
        s"expected bucket pruning:\n$scanned")
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS ord_prune_bucketed")
    }
  }
}
