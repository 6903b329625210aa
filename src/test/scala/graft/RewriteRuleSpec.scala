package graft

import org.apache.spark.sql.functions._

import graft.ingest.Ingest

class RewriteRuleSpec extends SparkSpec {

  // the rule is injected by GraftExtensions; the conf switches it on
  private def withRule[T](f: => T): T = {
    spark.conf.set("spark.graft.rewriteTopOne", "true")
    try f
    finally spark.conf.set("spark.graft.rewriteTopOne", "false")
  }

  private lazy val ev = Tables.events(spark, "/root/testdata/sf0.001")
    .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  test("rank=1 window rewrites to aggregate with identical results (asc)") {
    val query = Ingest.dedupFirstBy(Seq("user_id", "event_type"), "event_id")(ev)
    val baseline = query.collect().toSet
    withRule {
      val optimized = Ingest.dedupFirstBy(Seq("user_id", "event_type"), "event_id")(ev)
      val planStr = optimized.queryExecution.optimizedPlan.toString
      // the Window node must be gone (WindowGroupLimit may stay - it is a
      // beneficial per-partition rank combiner feeding the aggregate)
      assert(!planStr.contains("windowspecdefinition"), s"window survived:\n$planStr")
      assert(planStr.contains("min_by"), planStr)
      assert(optimized.collect().toSet === baseline)
    }
  }

  test("rank=1 desc rewrites to max_by with identical results") {
    import org.apache.spark.sql.expressions.Window
    def latest = ev.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("event_id").desc_nulls_last)))
      .filter(col("rn") === 1)
    val baseline = latest.collect().toSet
    withRule {
      val planStr = latest.queryExecution.optimizedPlan.toString
      assert(!planStr.contains("windowspecdefinition"), planStr)
      assert(planStr.contains("max_by"), planStr)
      assert(latest.collect().toSet === baseline)
    }
  }

  test("rank<=3 and mixed-direction windows are NOT rewritten") {
    import org.apache.spark.sql.expressions.Window
    withRule {
      val top3 = ev.withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("event_id"))))
        .filter(col("rn") <= 3)
      assert(top3.queryExecution.optimizedPlan.toString.contains("windowspecdefinition"))
      val mixed = ev.withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("event_id").desc, col("value"))))
        .filter(col("rn") === 1)
      assert(mixed.queryExecution.optimizedPlan.toString.contains("windowspecdefinition"))
    }
  }
}
