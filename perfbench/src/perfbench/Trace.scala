package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One span around a call the benchmark makes into a layer. Times are
  * wall-clock milliseconds so they line up with Spark's event times.
  */
final case class Span(id: Int, name: String, req: String, parent: Int,
    startMs: Double, endMs: Double, ok: Boolean) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder; disabled it only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = nowMs
      var ok = false
      try { val r = body; ok = true; r }
      finally {
        stack.set(stack.get.tail)
        val t1 = math.max(nowMs, t0)
        synchronized { spans += Span(id, name, req, parent, t0, t1, ok) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Durations in seconds of the successful spans called `name`. */
  def seconds(name: String): Seq[Double] = all.filter(s => s.ok && s.name == name).map(_.seconds)

  def write(file: Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb.append(f"""{"id":${s.id},"name":"${s.name}","req":"${s.req}","parent":${s.parent},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"ok":${s.ok}}""").append('\n')
    }
    Files.createDirectories(file.getParent)
    Files.write(file, sb.toString.getBytes(UTF_8))
  }
}

/** Spark runtime counters from the public listener bus (traced pass only). */
final class ExecListener extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, desc: String, stages: Seq[Int])
  final case class Task(stage: Int, durMs: Long, schedMs: Long, shufR: Long, shufW: Long,
      spill: Long, gcMs: Long, peak: Long, recordsRead: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, desc.getOrElse(""), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val dur = info.finishTime - info.launchTime
      val getting = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val sched = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - getting)
      tasks += Task(e.stageId, dur, sched, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.jvmGCTime, m.peakExecutionMemory, m.inputMetrics.recordsRead)
    }
  }

  /** Completed jobs that started inside [t0, t1] (wall-clock ms). */
  def jobsIn(t0: Double, t1: Double): Seq[Job] = synchronized {
    jobs.values.filter(j => j.end >= 0 && j.start >= t0 && j.start <= t1).toSeq
  }

  def tasksOf(js: Seq[Job]): Seq[Task] = synchronized {
    val st = js.flatMap(_.stages).toSet
    tasks.filter(t => st.contains(t.stage)).toSeq
  }

  /** Seconds covered by the union of the jobs' [start, end] intervals. */
  def busySeconds(js: Seq[Job]): Double = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    js.map(j => (j.start, j.end)).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1000.0
  }

  /** `exec.*` per timed operation over the operations' windows.
    * `ops`: (start ms, end ms) of each timed operation.
    */
  def summary(ops: Seq[(Double, Double)]): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    val perOp = ops.map { case (a, b) => jobsIn(a, b) }
    val js = perOp.flatten.distinct
    val ts = tasksOf(js)
    val gap = ops.zip(perOp).map { case ((a, b), j) =>
      math.max(0.0, (b - a) / 1000.0 - busySeconds(j)) }.sum
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { g =>
      val d = g.map(_.durMs.toDouble)
      d.max / math.max(Stats.median(d), 1.0)
    }
    Map(
      "exec.jobs" -> js.size / n,
      "exec.tasks" -> ts.size / n,
      "exec.job_s" -> js.map(j => (j.end - j.start) / 1000.0).sum / n,
      "exec.driver_gap_s" -> gap / n,
      "exec.scheduler_delay_s" -> ts.map(_.schedMs).sum / 1000.0 / n,
      "exec.shuffle_read_bytes" -> ts.map(_.shufR).sum / n,
      "exec.shuffle_write_bytes" -> ts.map(_.shufW).sum / n,
      "exec.spill_bytes" -> ts.map(_.spill).sum / n,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1000.0 / n,
      "exec.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.quantile(skews, 0.9)),
      "exec.peak_exec_memory_bytes" -> (if (ts.isEmpty) 0.0 else ts.map(_.peak).max.toDouble))
  }

  def recordsRead(js: Seq[Job]): Long = tasksOf(js).map(_.recordsRead).sum
}

/** Streaming progress events from the public query-listener bus. */
final class ProgressListener extends StreamingQueryListener {
  private val events = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { events += e.progress }
  def progress: Seq[StreamingQueryProgress] = synchronized(events.toSeq)
}

/** Listeners of one traced pass, attached on construction. */
final class Tracing(spark: SparkSession) {
  val exec = new ExecListener
  val progress = new ProgressListener
  spark.sparkContext.addSparkListener(exec)
  spark.streams.addListener(progress)

  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(exec)
    spark.streams.removeListener(progress)
  }
}

object Progress {
  def durations(p: StreamingQueryProgress): Map[String, Long] =
    p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap

  /** Wall-clock ms at which the epoch's trigger finished. */
  def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + durations(p).getOrElse("triggerExecution", 0L)
}
