package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.sources.TxParquetTable
import graft.streaming.Pipelines

/** `ingest`: open-loop wire ingest. A generator thread renames pre-built
  * JSON-lines files into a landing directory on a fixed schedule,
  * whatever the sink's speed; `spark.readStream.text` feeds
  * `Pipelines.endToEndIngestSink` under a processing-time trigger. A
  * row's freshness runs from the time its file was DUE to the end of the
  * epoch that committed it, so it includes the wait for the trigger and
  * for any epoch still running. The trigger grid makes every epoch take
  * the same amount of wire (rate x interval) and the measured files span
  * whole trigger periods, so the wait part of freshness has the same
  * distribution in every run and the run-to-run spread is the epochs'
  * own. After the stream drains, the benchmark reads the lanes back (the
  * analysts' view of the freshly ingested tables) and checks every count
  * against the generator's plan.
  */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import ctx._


  private val Declared = Seq("Datetime", "Open", "High", "Low", "Close", "Adj Close",
    "Volume", "Dividends", "Stock Splits", "ticker")
  private val LaneNames = Seq("quarantine", "dlq", "late", "dup", "ingested")
  private val Appends = Seq("quarantine", "dlq", "late", "dup", "ingested", "ids_registry")

  private val intervalMs = params.long("file_interval_ms")
  private val triggerMs = params.long("trigger_interval_ms")
  private val (nWarm, nMeasured) = IngestWorkload.fileCounts(params, seconds)
  private val inputs = Gen.ingest(params, seed, nWarm, nMeasured)
  private val offeredBytes =
    (inputs.priming +: inputs.files).flatMap(_.lines).map(_.length + 1L).sum
  private var started: Option[(StreamingQuery, Path)] = None
  private var dirs = 0

  private def fileName(i: Int) = f"f$i%06d.json"

  /** Start the sink on the priming file and wait for its first committed
    * epoch; returns the seconds from start to that commit.
    */
  private def startSink(): (StreamingQuery, Path, Double) = {
    dirs += 1
    val dir = Work.fresh(work.resolve(s"ingest-$dirs"))
    val stage = Files.createDirectories(dir.resolve("stage"))
    val landing = Files.createDirectories(dir.resolve("landing"))
    Work.writeLines(stage.resolve("priming.json"), inputs.priming.lines)
    val t0 = System.nanoTime()
    Files.move(stage.resolve("priming.json"), landing.resolve("priming.json"),
      StandardCopyOption.ATOMIC_MOVE)
    val q = Pipelines.endToEndIngestSink(
        spark.readStream.text(landing.toString).toDF("value"), Declared,
        dir.resolve("out").toString, dir.resolve("ckpt").toString,
        params.long("watermark_delay_ms"))
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start()
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!q.recentProgress.exists(_.numInputRows > 0)) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, "ingest sink: no first epoch within 120 s")
      Thread.sleep(5)
    }
    (q, dir, Work.since(t0))
  }

  def setup(): Double = {
    val (q, dir, s) = startSink()
    started = Some((q, dir))
    s
  }

  def pass(tracer: Tracer, tracing: Option[Tracing]): PassResult = {
    val (q, dir) = started.getOrElse { val (q, d, _) = startSink(); (q, d) }
    started = None
    val stage = dir.resolve("stage")
    val landing = dir.resolve("landing")
    val out = dir.resolve("out")
    val n = inputs.files.size
    inputs.files.zipWithIndex.foreach { case (f, i) => Work.writeLines(stage.resolve(fileName(i)), f.lines) }
    // the measured files start on a trigger instant (Spark fires
    // processing-time triggers at multiples of the interval); the warm-up
    // files land in the period before it; every file is due half a file
    // interval off the grid, so no file races a trigger
    val g0 = ((System.currentTimeMillis() + nWarm * intervalMs + 500) / triggerMs + 1) * triggerMs
    val due = Array.tabulate(n)(i => g0 + (i - nWarm) * intervalMs + intervalMs / 2)
    val sent = new Array[Long](n)
    val gen = new Thread(() => {
      var i = 0
      while (i < n) {
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(stage.resolve(fileName(i)), landing.resolve(fileName(i)),
          StandardCopyOption.ATOMIC_MOVE)
        sent(i) = System.currentTimeMillis()
        i += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)

    val seen = mutable.TreeMap.empty[Long, StreamingQueryProgress]
    def poll(): Unit = q.recentProgress.foreach(p => if (p.numInputRows > 0) seen(p.batchId) = p)
    val checks = mutable.ArrayBuffer.empty[String]
    gen.start()
    var streamOk = true
    try {
      while (gen.isAlive) { poll(); q.exception.foreach(e => throw e); Thread.sleep(50) }
      q.processAllAvailable()
      poll()
    } catch {
      case scala.util.control.NonFatal(e) =>
        streamOk = false
        checks += s"ingest stream failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
    } finally {
      gen.join()
      q.stop()
    }

    // epoch -> files: each epoch takes every file landed since the last
    // one, in landing order, so cumulative input rows fall on file
    // boundaries (file -1 is the priming file)
    val rowsOf = (inputs.priming +: inputs.files).map(_.lines.size.toLong)
    val epochOfFile = Array.fill(n)(-1L)
    val filesOfEpoch = mutable.LinkedHashMap.empty[Long, Seq[Int]]
    var next = 0 // index into rowsOf
    seen.values.foreach { p =>
      var left = p.numInputRows
      val fs = mutable.ArrayBuffer.empty[Int]
      while (left > 0 && next < rowsOf.size) { left -= rowsOf(next); fs += next - 1; next += 1 }
      if (left != 0) checks += s"epoch ${p.batchId} does not end on a file boundary"
      fs.filter(_ >= 0).foreach(i => epochOfFile(i) = p.batchId)
      filesOfEpoch(p.batchId) = fs.toSeq
    }
    if (streamOk && next != rowsOf.size)
      checks += s"only ${next} of ${rowsOf.size} wire files were committed"

    val measured = (nWarm until n).filter(i => epochOfFile(i) >= 0)
    val fresh = measured.map(i => (Progress.endMs(seen(epochOfFile(i))) - due(i)) / 1000.0)
    val mEpochs = seen.values.filter(p => filesOfEpoch(p.batchId).exists(_ >= nWarm)).toSeq
    val trig = mEpochs.map(p => Progress.durations(p).getOrElse("triggerExecution", 0L) / 1000.0)
    val log = new OpLog
    mEpochs.foreach(_ => log.attempted += 1)
    if (!streamOk) { log.attempted += 1; log.failed += 1 }

    // the output check reads every lane once; then the analysts' query,
    // an aggregate over the freshly ingested lane, runs read_rounds times
    val expected = (inputs.priming +: inputs.files).map(_.lanes).reduce(_ + _)
    val got = mutable.Map.empty[String, Long]
    def read(lane: String, req: String): org.apache.spark.sql.Row =
      tracer.span("sources.snapshot", req) {
        val snap = TxParquetTable.snapshot(spark, out.resolve(lane).toString)
        (if (lane == "ingested") snap.agg(count(lit(1)), countDistinct(col("id")), sum(col("volume")))
         else snap.agg(count(lit(1)))).collect()(0)
      }
    def uniqueIds(r: org.apache.spark.sql.Row): Unit =
      if (r.getLong(0) != r.getLong(1))
        checks += s"ingested ids are not unique (${r.getLong(0)} rows, ${r.getLong(1)} ids)"
    LaneNames.foreach { lane =>
      log.run("check")(read(lane, s"check-$lane")).foreach { r =>
        got(lane) = r.getLong(0)
        if (lane == "ingested") uniqueIds(r)
      }
    }
    (0 until params.int("read_rounds")).foreach { i =>
      log.run("read")(read("ingested", s"read-$i")).foreach(uniqueIds)
    }
    LaneNames.foreach { lane =>
      val want = expected.toMap(lane)
      if (!got.get(lane).contains(want)) checks += s"lane $lane holds ${got.get(lane)} rows, expected $want"
    }
    if (got.values.sum != expected.total) checks += s"lanes sum to ${got.values.sum}, offered ${expected.total}"

    println(s"[perfbench] epochs (id rows trigger_ms): " + mEpochs.map(p =>
      s"${p.batchId}:${p.numInputRows}:${Progress.durations(p).getOrElse("triggerExecution", 0L)}").mkString(" "))
    val busy = trig.sum
    val e2e = Map(
      "throughput_per_s" -> (if (busy > 0) mEpochs.map(_.numInputRows).sum / busy else 0.0),
      "commit_p50_s" -> quantileOr0(fresh, 0.5),
      "commit_p90_s" -> quantileOr0(fresh, 0.9),
      "query_p50_s" -> quantileOr0(log.latencies("read"), 0.5),
      "query_p90_s" -> quantileOr0(log.latencies("read"), 0.9),
      "recall" -> (if (expected.dup == 0) 1.0 else math.min(got.getOrElse("dup", 0L), expected.dup).toDouble / expected.dup))

    val layers = tracing.map { t =>
      t.drain()
      layerMetrics(t, tracer, q, dir, mEpochs, filesOfEpoch, trig, due, sent, got.toMap, checks)
    }.getOrElse(Map.empty)
    Work.deleteRecursively(dir.toFile)
    PassResult(e2e, layers, log.attempted, log.failed, checks.toSeq ++ log.errors)
  }

  private def quantileOr0(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else Stats.quantile(xs, q)

  private def layerMetrics(t: Tracing, tracer: Tracer, q: StreamingQuery, dir: Path,
      mEpochs: Seq[StreamingQueryProgress], filesOfEpoch: collection.Map[Long, Seq[Int]],
      trig: Seq[Double], due: Array[Long], sent: Array[Long], lanes: Map[String, Long],
      checks: mutable.ArrayBuffer[String]): Map[String, Double] = {
    val ids = mEpochs.map(_.batchId).toSet
    val prog = t.progress.progress.filter(p => p.id == q.id && ids.contains(p.batchId) && p.numInputRows > 0)
    def phaseMedian(k: String) = Stats.medianOr0(prog.map(p => Progress.durations(p).getOrElse(k, 0L) / 1000.0))
    val five = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
    // the sink labels its jobs "e2e epoch=<id> <phase>"
    val labelled = t.exec.jobsIn(0, Double.MaxValue).flatMap { j =>
      val m = "^e2e epoch=(\\d+) (.+)$".r.findFirstMatchIn(j.desc)
      m.map(mm => (mm.group(1).toLong, mm.group(2).replace(' ', '_'), j))
    }.filter { case (e, _, _) => ids.contains(e) }
    val byEpoch = labelled.groupBy(_._1)
    val phases = Seq("quarantine", "dlq", "late", "registry_probe", "dup", "ingested",
      "ids_registry", "bloom_merge", "wm_advance")
    def phaseS(e: Long, ph: String): Double =
      byEpoch.getOrElse(e, Seq.empty).filter(_._2 == ph).map { case (_, _, j) => (j.end - j.start) / 1000.0 }.sum
    val jobS = ids.toSeq.map(e => e -> byEpoch.getOrElse(e, Seq.empty).map { case (_, _, j) => (j.end - j.start) / 1000.0 }.sum).toMap
    val gaps = prog.map(p => Progress.durations(p).getOrElse("addBatch", 0L) / 1000.0 - jobS.getOrElse(p.batchId, 0.0))
    val coverage = prog.map { p =>
      val d = Progress.durations(p)
      five.map(d.getOrElse(_, 0L)).sum.toDouble / math.max(d.getOrElse("triggerExecution", 0L), 1L)
    }

    // parse + gate of the whole wire, as a batch job over the landed files
    val landing = dir.resolve("landing").toString
    val gate = tracer.span("ingest.parse_gate", "wire") {
      val gated = graft.ingest.Ingest.shapeGate(spark.read.text(landing).toDF("value"), Declared)
      val routed = graft.ingest.Ingest.barsWithDeadLetter(gated.filter(col("shape_lane") === "shape_ok").select("value"))
      (gated.filter(col("shape_lane") =!= "shape_ok").count(),
        routed.filter(col("dead_reason").isNotNull).count())
    }
    if (gate._1 != lanes.getOrElse("quarantine", -1L) || gate._2 != lanes.getOrElse("dlq", -1L))
      checks += s"batch parse gate of the wire disagrees with the sink's lanes: $gate"

    val out = dir.resolve("out")
    val tables = LaneNames :+ "ids"
    val versions = tables.map(l => TxParquetTable.latestVersion(out.resolve(l).toString) + 1)
    val files = tables.map(l => math.max(TxParquetTable.liveFileCount(out.resolve(l).toString), 0))
    val written = tables.map(l => Work.bytesUnder(out.resolve(l).resolve("data").toFile)).sum
    val allEpochs = versions.head.toDouble

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("streaming.latest_offset_s") = phaseMedian("latestOffset")
    m("streaming.query_planning_s") = phaseMedian("queryPlanning")
    m("streaming.add_batch_s") = phaseMedian("addBatch")
    m("streaming.wal_commit_s") = phaseMedian("walCommit")
    m("streaming.commit_offsets_s") = phaseMedian("commitOffsets")
    m("streaming.duration_coverage") = Stats.medianOr0(coverage)
    m("streaming.epochs") = prog.size
    m("streaming.rows_per_epoch_p50") = Stats.medianOr0(prog.map(_.numInputRows.toDouble))
    m("streaming.busy_frac") = trig.sum / math.max(trig.size * triggerMs / 1000.0, 1e-9)
    m("streaming.backlog_files_max") =
      if (mEpochs.isEmpty) 0.0 else mEpochs.map(p => filesOfEpoch(p.batchId).size).max
    m("generator.late_s_max") = due.indices.map(i => (sent(i) - due(i)) / 1000.0).max
    phases.foreach(ph => m(s"streaming.phase_s.$ph") = Stats.medianOr0(ids.toSeq.map(phaseS(_, ph))))
    m("streaming.driver_gap_s") = Stats.medianOr0(gaps)
    m("streaming.jobs_per_epoch") = Stats.medianOr0(ids.toSeq.map(e => byEpoch.getOrElse(e, Seq.empty).size.toDouble))
    LaneNames.foreach(l => m(s"ingest.lane_rows.$l") = lanes.getOrElse(l, 0L).toDouble)
    m("ingest.parse_gate_s") = Stats.medianOr0(tracer.seconds("ingest.parse_gate"))
    m("sources.append_s") = Stats.medianOr0(ids.toSeq.map(e => Appends.map(phaseS(e, _)).sum))
    m("sources.snapshot_s") = Stats.medianOr0(tracer.seconds("sources.snapshot"))
    m("sources.live_files_max") = files.max
    m("sources.files_per_epoch") = files.sum / math.max(allEpochs, 1.0)
    m("sources.log_versions") = versions.sum
    m("sources.write_amp") = written.toDouble / offeredBytes
    val windows = mEpochs.map(p => (java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      Progress.endMs(p).toDouble))
    m ++= t.exec.summary(windows)
    m.toMap
  }
}

object IngestWorkload {
  /** Warm-up and measured wire files of a run of `seconds`. */
  def fileCounts(p: Params, seconds: Int): (Int, Int) = {
    val interval = p.long("file_interval_ms")
    (math.ceil(p.double("warmup_s") * 1000 / interval).toInt, math.ceil(seconds * 1000.0 / interval).toInt)
  }
}
