package graft

import graft.audit.QueryAudit
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Negative controls for the audit harness behind the plan-lint sweep:
  * synthetic frames whose facts are known by construction, so a lint
  * that silently reads zero (a lost listener, a drain that returns
  * early, events credited to the wrong query) fails here.
  */
class QueryAuditSpec extends SparkSpec {

  private def withAudit[A](f: QueryAudit => A): A = {
    val audit = new QueryAudit(spark)
    try f(audit) finally audit.close()
  }

  test("an unallowlisted partition-less window over a raw range is reported under its query") {
    import spark.implicits._
    val r = withAudit(_.run("q_synthetic_window") {
      // the filter keeps the window alive under the audit's count(); a
      // running sum (not a rank) so no limit is inferred beneath it
      spark.range(1000).withColumn("run", sum(col("id")).over(Window.orderBy(col("id"))))
        .filter(col("run") > 10)
    })
    assert(r.windows.nonEmpty, "the executed plan's partition-less window was not seen")
    assert(PlanLints.windowViolations(Seq(r)).map(_._1) === r.windows.map(_ => "q_synthetic_window"))
    // a range is a reduced leaf, so the returned-frame rule stays quiet …
    assert(r.unreducedWindows.isEmpty)
    // … while the same window over an RDD-backed (unreduced) frame trips it
    val raw = withAudit(_.run("q_synthetic_raw") {
      spark.sparkContext.parallelize(1 to 1000, 4).toDF("id")
        .withColumn("run", sum(col("id")).over(Window.orderBy(col("id"))))
        .filter(col("run") > 10)
    })
    assert(PlanLints.unreducedViolations(Seq(raw)) === Seq("q_synthetic_raw"))
  }

  test("shuffles are summed exactly over every execution a query triggers") {
    val r = withAudit(_.run("q_synthetic_shuffles") {
      // eager action: one hash exchange
      spark.range(100).repartition(3, col("id")).collect()
      // returned frame: hash repartition + group-by exchange, and the
      // audit's count() adds the single-partition exchange on top;
      // the broadcast join contributes no shuffle
      val small = spark.range(7).withColumnRenamed("id", "k")
      spark.range(1000).repartition(3, col("id"))
        .groupBy((col("id") % 7).as("k")).count()
        .join(broadcast(small), "k")
    })
    assert(r.executions === 2)
    assert(r.shuffles === 4)
    assert(r.jobs.nonEmpty && r.jobSumS >= 0.0)
  }

  test("back-to-back queries with no pause get exactly their own executions and jobs") {
    // four alternating pairs: a lost or late event shows up as a wrong
    // count or as a job id credited to the neighbouring query
    val records = withAudit { audit =>
      (1 to 4).flatMap { i =>
        Seq(
          audit.run(s"q_first_$i") {
            (1 to 5).foreach(k => spark.range(50 * k).repartition(2, col("id")).collect())
            spark.range(10).toDF()
          },
          audit.run(s"q_second_$i")(spark.range(20).repartition(2, col("id")).toDF()))
      }
    }
    records.grouped(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      assert((a.name, a.executions, a.shuffles) === ((s"q_first_${i + 1}", 6, 6)))
      assert((b.name, b.executions, b.shuffles) === ((s"q_second_${i + 1}", 1, 2)))
    }
    records.sliding(2).foreach { case Seq(a, b) =>
      assert(a.jobs.nonEmpty && a.jobs.map(_.id).max < b.jobs.map(_.id).min,
        s"${a.name} and ${b.name} share or interleave jobs")
    }
  }

  test("AQE stage jobs are named by their root SQL execution, not the thread-pool frame") {
    // adaptive execution submits each shuffle stage from a thread pool,
    // whose stack holds no engine frame; the job must take its name
    // from the SQL execution that scheduled it
    val r = withAudit(_.run("q_synthetic_aqe") {
      spark.range(2000).repartition(4, col("id"))
        .groupBy((col("id") % 5).as("k")).count().collect()
      spark.range(10).toDF()
    })
    val sites = r.jobs.map(_.callSite)
    assert(r.jobs.size >= 3, sites.mkString("; "))
    assert(sites.forall(_.contains("graft.")), sites.mkString("; "))
    assert(sites.count(_.contains("QueryAuditSpec")) >= 2,
      s"the eager action's stage jobs are not named by it: ${sites.mkString("; ")}")
  }
}
