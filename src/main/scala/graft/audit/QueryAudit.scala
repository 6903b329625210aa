package graft.audit

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.BusDrain
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query audit harness: runs a query ONCE (build, then `count()`)
  * under one QueryExecutionListener and one SparkListener, and records
  * what the plan lints and the job-level profiling need from that one
  * run:
  *   - executions and their SHUFFLE exchanges, summed over every
  *     execution the query triggers (eager verdict builders and
  *     checkpoints included), counted from the final adaptive plan;
  *   - every partition-less Window node in every executed optimized plan;
  *   - the returned frame's partition-less windows over unreduced frames;
  *   - the Spark jobs, their summed time and the driver gap
  *     (wall − job time: planning, log I/O, collects, round trips).
  *
  * Attribution is deterministic: an action posts its SQL execution-end
  * and job-end events before it returns, so draining the listener bus
  * ([[BusDrain]]) after the query's last action delivers every callback
  * before the next query starts. No sleep, no quiescence polling.
  *
  * One instance per session; close it to unregister the listeners.
  */
final class QueryAudit(spark: SparkSession) extends AutoCloseable {
  import QueryAudit._

  private final class Acc {
    val executions = new AtomicInteger(0)
    val shuffles = new AtomicInteger(0)
    val windows = new ConcurrentLinkedQueue[String]()
    val started = TrieMap.empty[Int, Started]
    val ended = TrieMap.empty[Int, Long]
    /** SQL execution id → its call site. */
    val sql = TrieMap.empty[Long, String]
  }

  /** The running query's accumulator; null between runs, so stray events
    * (a stream left running by an earlier query) are dropped, never
    * attributed. */
  @volatile private var acc: Acc = null

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val a = acc
      if (a != null) {
        a.executions.incrementAndGet()
        a.shuffles.addAndGet(countShuffles(qe))
        partitionlessWindows(qe.optimizedPlan).foreach(a.windows.add)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val a = acc
      if (a != null) {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        a.started.put(e.jobId, Started(e.time, stageSite(e), shortSite(e),
          prop("spark.job.description").getOrElse(""), e.stageInfos.map(_.numTasks).sum,
          prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
            .map(_.toLong)))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val a = acc
        if (a != null) a.sql.put(s.executionId, engineFrame(s.details).getOrElse(s.description))
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val a = acc
      if (a != null) a.ended.put(e.jobId, e.time)
    }
  }

  spark.listenerManager.register(execListener)
  spark.sparkContext.addSparkListener(jobListener)

  /** Build the query, `count()` it once and return its audit record.
    * The wall time covers build + count; a throwing query propagates. */
  def run(name: String)(query: => DataFrame): Record = {
    val sc = spark.sparkContext
    BusDrain.drain(sc) // earlier work's events are not this query's
    val a = new Acc
    acc = a
    val t0 = System.nanoTime()
    val (df, wallNs) =
      try { val d = query; d.count(); (d, System.nanoTime() - t0) }
      finally { BusDrain.drain(sc); acc = null }
    // a job whose stages carry no engine frame (AQE stage and broadcast
    // jobs run from a thread pool) is named by its root SQL execution
    val jobs = a.started.toSeq.flatMap { case (id, s) =>
      a.ended.get(id).map(end => Job(id,
        s.stageSite.orElse(s.execution.flatMap(a.sql.get)).getOrElse(s.shortSite),
        s.description, s.tasks, (end - s.time) / 1e3))
    }.sortBy(j => (-j.seconds, j.id))
    Record(name, wallNs / 1e9, a.executions.get, a.shuffles.get,
      a.windows.asScala.toSeq.distinct, unreducedWindows(df.queryExecution.optimizedPlan),
      jobs)
  }

  def close(): Unit = {
    spark.listenerManager.unregister(execListener)
    spark.sparkContext.removeSparkListener(jobListener)
  }
}

object QueryAudit {

  private final case class Started(time: Long, stageSite: Option[String],
      shortSite: String, description: String, tasks: Int, execution: Option[Long])

  /** One Spark job of an audited query. */
  final case class Job(id: Int, callSite: String, description: String,
      tasks: Int, seconds: Double)

  /** One audited query.
    *
    * @param windows          distinct expression lists of the partition-less
    *                         Window nodes in any executed optimized plan
    * @param unreducedWindows the returned frame's partition-less windows
    *                         with an unreduced path beneath them
    */
  final case class Record(name: String, wallS: Double, executions: Int,
      shuffles: Int, windows: Seq[String], unreducedWindows: Seq[String],
      jobs: Seq[Job]) {
    def jobSumS: Double = jobs.map(_.seconds).sum
    def driverGapS: Double = wallS - jobSumS
  }

  /** SHUFFLE exchanges in the final (adaptive) executed plan. Broadcast
    * exchanges are deliberately not counted: they are the cheap shape
    * the exchange budgets want plans to prefer. */
  def countShuffles(qe: QueryExecution): Int = {
    val plan = qe.executedPlan.toString.split("== Initial Plan ==").head
    plan.linesIterator.count { l =>
      val t = l.dropWhile(c => !c.isLetter)
      t.startsWith("Exchange hashpartitioning") ||
        t.startsWith("Exchange rangepartitioning") ||
        t.startsWith("Exchange SinglePartition")
    }
  }

  /** True when every root-to-leaf path under `p` crosses a reducing
    * node (Aggregate, limit, local/one-row relation or range), so a
    * single-partition sort above it only ever sees a collapsed frame.
    * A join of a reduced frame with a raw scan is NOT reduced. */
  def reduced(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: GlobalLimit | _: LocalLimit | _: LocalRelation |
        _: OneRowRelation | _: Range => true
    case other => other.children.nonEmpty && other.children.forall(reduced)
  }

  /** Expression lists of every partition-less Window, subqueries included. */
  def partitionlessWindows(plan: LogicalPlan): Seq[String] =
    plan.collectWithSubqueries {
      case w: Window if w.partitionSpec.isEmpty => signature(w)
    }

  /** Partition-less windows whose child is not [[reduced]]. */
  def unreducedWindows(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case w: Window if w.partitionSpec.isEmpty && !reduced(w.child) => signature(w)
    }.distinct

  private def signature(w: Window): String = w.windowExpressions.map(_.name).mkString(",")

  /** The first engine frame of a call stack. */
  private def engineFrame(stack: String): Option[String] =
    stack.split('\n').find(_.contains("graft.")).map(_.trim)

  /** The first engine frame in the stage call stack names a job far
    * better than the thread-pool call site Spark records for AQE and
    * broadcast subjobs; those have none, and are named by their SQL
    * execution instead. */
  private def stageSite(e: SparkListenerJobStart): Option[String] =
    e.stageInfos.lastOption.flatMap(si => engineFrame(si.details))

  private def shortSite(e: SparkListenerJobStart): String =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("callSite.short"))).filter(_.nonEmpty)
      .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
      .getOrElse("?")

  /** Audit registered queries and print, per query, the shuffle count,
    * the partition-less windows (flagging unreduced ones) and the job
    * table with its driver gap.
    *
    * Usage: `runMain graft.audit.QueryAudit <sfDir> [--warmups=N] [query…]`.
    * No query names means every registered query. Warm-up runs
    * (default 0) are not audited.
    */
  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.toSeq.partition(_.startsWith("--"))
    require(rest.nonEmpty, "usage: QueryAudit <sfDir> [--warmups=N] [query…]")
    val sfDir = rest.head
    val warmups = flags.collectFirst {
      case f if f.startsWith("--warmups=") => f.stripPrefix("--warmups=").toInt
    }.getOrElse(0)
    val registered = graft.SparkEntry.queries
    val names = if (rest.tail.isEmpty) registered.keys.toSeq.sorted else rest.tail
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val audit = new QueryAudit(spark)
    try names.foreach { name =>
      val fn = registered(name)
      (0 until warmups).foreach(_ => fn(spark, sfDir).count())
      val r = audit.run(name)(fn(spark, sfDir))
      println(f"== $name wall=${r.wallS}%.2fs executions=${r.executions} " +
        f"shuffles=${r.shuffles} jobs=${r.jobs.size} jobSum=${r.jobSumS}%.2fs " +
        f"driverGap=${r.driverGapS}%.2fs")
      r.windows.foreach(w => println(s"  [window] partition-less: $w"))
      r.unreducedWindows.foreach(w =>
        println(s"  [VIOLATION] partition-less Window over an unreduced frame: $w"))
      r.jobs.take(40).foreach { j =>
        println(f"  ${j.seconds}%7.3fs tasks=${j.tasks}%4d  ${j.callSite}  ${j.description.take(80)}")
      }
      println("  -- by call site --")
      r.jobs.groupBy(_.callSite).toSeq
        .map { case (site, js) => (site, js.size, js.map(_.seconds).sum) }
        .sortBy(-_._3).take(25)
        .foreach { case (site, n, s) => println(f"  $s%7.3fs n=$n%4d  $site") }
    } finally {
      audit.close()
      spark.stop()
    }
  }
}
