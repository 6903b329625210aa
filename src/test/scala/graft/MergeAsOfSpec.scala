package graft

import org.apache.spark.sql.functions._

import graft.plans.MergeAsOf

class MergeAsOfSpec extends SparkSpec {

  test("basic backward inclusive match with left-outer nulls") {
    import spark.implicits._
    val trades = Seq(("A", 10L, 1.0), ("A", 20L, 2.0), ("B", 5L, 3.0), ("C", 7L, 4.0))
      .toDF("sym", "ts", "px")
    val quotes = Seq(("A", 10L, 100.0), ("A", 15L, 110.0), ("B", 9L, 120.0))
      .toDF("sym", "ts", "bid")
    val out = MergeAsOf.join(trades, quotes, "sym", "ts", "ts")
      .select($"sym", $"ts", $"px", $"r_bid")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSet
    assert(out === Set(
      ("A", 10L, 1.0, 100.0), // inclusive: equal ts matches
      ("A", 20L, 2.0, 110.0), // most recent at-or-before
      ("B", 5L, 3.0, null),   // quote is in the future -> no match
      ("C", 7L, 4.0, null)))  // key absent on right -> no match
  }

  test("null keys match nothing (SQL equi-join semantics)") {
    import spark.implicits._
    val l = Seq((Option("A"), 10L), (Option.empty[String], 10L)).toDF("k", "ts")
    val r = Seq((Option("A"), 5L, 1.0), (Option.empty[String], 5L, 2.0)).toDF("k", "ts", "v")
    val out = MergeAsOf.join(l, r, "k", "ts", "ts")
      .select($"k", $"r_v").collect()
      .map(row => (if (row.isNullAt(0)) null else row.getString(0),
        if (row.isNullAt(1)) null else row.getDouble(1))).toSet
    assert(out === Set(("A", 1.0), (null, null))) // null-key left row matches no right row
  }

  test("empty right side yields all-null right columns") {
    import spark.implicits._
    val l = Seq(("A", 1L)).toDF("k", "ts")
    val r = Seq.empty[(String, Long, Double)].toDF("k", "ts", "v")
    val out = MergeAsOf.join(l, r, "k", "ts", "ts").collect()
    assert(out.length === 1 && out.head.isNullAt(3))
  }

  test("duplicate right timestamps resolve to the max payload tuple (window-baseline tie-break)") {
    import spark.implicits._
    val l = Seq(("A", 10L)).toDF("k", "ts")
    val r = Seq(("A", 10L, 1.0), ("A", 10L, 9.0), ("A", 10L, 5.0)).toDF("k", "ts", "v")
    val out = MergeAsOf.join(l, r, "k", "ts", "ts").select($"r_v").collect()
    assert(out.map(_.getDouble(0)).toSeq === Seq(9.0))
  }

  test("matches the union+window asOfJoin baseline on events at sf0.001") {
    val ev = SparkEntry.queries("q19_asof_join")(spark, "/root/testdata/sf0.001")
    // same query re-expressed through the custom operator
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), round(col("value"), 4).as("value"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("ts").as("view_ts"), round(col("value"), 4).as("view_value"))
    val merged = MergeAsOf.join(purchases, views, "user_id", "ts", "ts")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("r_view_ts").as("view_ts"), col("r_view_value").as("view_value"))
    val a = ev.collect().map(_.toString).sorted
    val b = merged.collect().map(_.toString).sorted
    assert(a.length === b.length && a.sameElements(b),
      s"baseline=${a.length} rows, merge=${b.length} rows; first diff: " +
        a.zip(b).find { case (x, y) => x != y }.map(_.toString).getOrElse("none"))
  }

  test("co-bucketed bucket-sorted inputs make the as-of join exchange-free") {
    import spark.implicits._
    val trades = Seq(("A", 10L, 1.0), ("A", 20L, 2.0), ("B", 5L, 3.0))
      .toDF("sym", "ts", "px")
    val quotes = Seq(("A", 10L, 100.0), ("A", 15L, 110.0), ("B", 9L, 120.0))
      .toDF("sym", "ts", "bid")
    graft.sources.BucketedLayout.writeBucketed(trades, "asof_trades", 4, Seq("sym"), Seq("sym", "ts"))
    graft.sources.BucketedLayout.writeBucketed(quotes, "asof_quotes", 4, Seq("sym"), Seq("sym", "ts"))
    try {
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val out = plans.MergeAsOf.join(
        spark.table("asof_trades"), spark.table("asof_quotes"), "sym", "ts", "ts")
      val rows = out.select($"sym", $"ts", $"r_bid").collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getDouble(2))).toSet
      assert(rows === Set(("A", 10L, 100.0), ("A", 20L, 110.0), ("B", 5L, null)))
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed inputs should satisfy the join's distribution:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS asof_trades")
      spark.sql("DROP TABLE IF EXISTS asof_quotes")
    }
  }

  test("plan contains MergeAsOfJoinExec with exchanges and sorts inserted by EnsureRequirements") {
    import spark.implicits._
    val l = Seq(("A", 1L)).toDF("k", "ts")
    val r = Seq(("A", 1L, 2.0)).toDF("k", "ts", "v")
    val plan = MergeAsOf.join(l, r, "k", "ts", "ts").queryExecution.executedPlan.toString
    assert(plan.contains("MergeAsOfJoin"), plan)
    assert(plan.contains("Sort"), plan)
  }
}
