package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.{Indicators, Risk}
import graft.ingest.Ingest
import graft.plans.MergeAsOf
import graft.sources.{MaterializedView, TxParquetTable}

/** `lakehouse`: one closed-loop client on a bar table and a trade table
  * built with TxParquetTable, running a fixed number of cycles of a
  * maintenance batch and a dashboard refresh. Writes: corrected bars
  * parsed through the shape gate and dead-letter parse, then upserted;
  * trade appends; keyed deletes; a materialized-view refresh over the
  * append-only trade table; compaction clustered by ticker. Reads: a
  * snapshot aggregate, the indicators, the risk summary and the as-of join
  * of trades to bars. Every read's row count and the final table content
  * are checked against the benchmark's in-memory model. There is no
  * warm-up cycle: the set-up load warms the parse and append path, and
  * the measured cycle includes each other operation's first-use cost, as
  * a batch job started per run would pay it.
  */
final class LakehouseWorkload(ctx: Ctx) extends Workload {
  import ctx._


  private val Declared = Seq("Datetime", "Open", "High", "Low", "Close", "Adj Close",
    "Volume", "Dividends", "Stock Splits", "ticker")
  private val TradeSchema = StructType(Seq(StructField("ticker", StringType),
    StructField("datetime", TimestampType), StructField("price", DoubleType),
    StructField("qty", LongType)))
  private val inputs = Gen.lakeInitial(params, seed, params.int("bars_per_ticker"), params.int("trades"))
  private var loads = 0
  private var prepared: Option[Path] = None

  private def parseBars(wire: DataFrame): DataFrame = {
    val gated = Ingest.shapeGate(wire, Declared)
    Ingest.barsWithDeadLetter(gated.filter(col("shape_lane") === "shape_ok").select("value"))
      .filter(col("dead_reason").isNull).drop("raw", "dead_reason")
  }

  private def lines(xs: Seq[String]): DataFrame = spark.createDataset(xs)(Encoders.STRING).toDF("value")

  /** The initial table load into fresh tables, from generated files: bars
    * through the wire parse, trades as JSON; returns the tables' directory
    * and the load's seconds.
    */
  private def load(): (Path, Double) = {
    loads += 1
    val dir = Work.fresh(work.resolve(s"lake-$loads"))
    Work.writeLines(dir.resolve("in/bars.json"), inputs.bars.map(_.json))
    Work.writeLines(dir.resolve("in/trades.json"), inputs.trades.map(_.json))
    val t0 = System.nanoTime()
    TxParquetTable.append(parseBars(spark.read.text(dir.resolve("in/bars.json").toString).toDF("value")),
      dir.resolve("bars").toString)
    TxParquetTable.append(spark.read.schema(TradeSchema).json(dir.resolve("in/trades.json").toString),
      dir.resolve("trades").toString)
    (dir, Work.since(t0))
  }

  def setup(): Double = {
    val (dir, s) = load()
    prepared = Some(dir)
    s
  }

  def pass(tracer: Tracer, tracing: Option[Tracing]): PassResult = {
    // a later pass of a traced run loads its own tables, untimed
    val dir = prepared.getOrElse(load()._1)
    prepared = None
    val bars = dir.resolve("bars").toString
    val trades = dir.resolve("trades").toString
    val mv = dir.resolve("mv").toString
    val model = new LakeModel(inputs)
    val ops = new LakeOps(params, seed, model)
    val log = new OpLog
    val checks = mutable.ArrayBuffer.empty[String]
    val windows = mutable.ArrayBuffer.empty[(Double, Double, Boolean)] // (start ms, end ms, read)
    var results = 0L // logical result rows of the reads
    var liveMax = 0
    var accepted = 0L
    val bytesBefore = Seq(bars, trades, mv).map(t => Work.bytesUnder(new java.io.File(t, "data"))).sum
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) checks += s"$what: got $got, model says $want"

    def execute(op: LakeOp, req: String): Unit = op match {
      case Upsert(ls, good) =>
        val parsed = tracer.span("ingest.parse_gate", req) { parseBars(lines(ls)).localCheckpoint() }
        tracer.span("sources.upsert", req) { TxParquetTable.upsert(parsed, bars, "id") }
        accepted += good.map(_.json.length + 1L).sum
      case Delete(keys) =>
        val ids = spark.createDataset(keys.map { case (t, e) => Gen.barId(t, e) })(Encoders.STRING).toDF("id")
        tracer.span("sources.delete", req) { TxParquetTable.delete(ids, bars, "id") }
      case AppendTrades(ts) =>
        val df = spark.read.schema(TradeSchema).json(spark.createDataset(ts.map(_.json))(Encoders.STRING))
        tracer.span("sources.append", req) { TxParquetTable.append(df, trades) }
        accepted += ts.map(_.json.length + 1L).sum
      case Simple("compact", _) =>
        tracer.span("sources.compact", req) {
          TxParquetTable.compact(spark, bars, "id", clusterBy = Some("ticker"))
        }
      case Simple("mv_refresh", _) =>
        tracer.span("sources.mv_refresh", req) {
          MaterializedView.maintainAggView(spark, trades, mv, dir.resolve("mv_ckpt").toString,
            Seq("ticker"), "qty")
        }
      case Simple("snapshot", _) =>
        val r = tracer.span("sources.snapshot", req) {
          TxParquetTable.snapshot(spark, bars).agg(count(lit(1)), sum(col("volume"))).collect()(0)
        }
        expect(s"$req snapshot rows", r.getLong(0), model.bars.size)
        expect(s"$req snapshot volume", r.getLong(1), model.volumeSum)
        results += r.getLong(0)
      case Simple("indicators", _) =>
        val r = tracer.span("analytics.indicators", req) {
          val snap = TxParquetTable.snapshot(spark, bars)
          val keys = (Seq("ticker"), Seq("datetime"))
          val a = Indicators.atr(snap, "high", "low", "close", "atr", keys._1, keys._2, 14)
          val b = Indicators.bollinger(a, "close", keys._1, keys._2, 20)
          Indicators.rsi(b, "close", "rsi", keys._1, keys._2, 14)
            .agg(count(lit(1)), sum(col("atr")), sum(col("mid")), sum(col("rsi"))).collect()(0)
        }
        expect(s"$req indicator rows", r.getLong(0), model.bars.size)
        results += r.getLong(0)
      case Simple("risk", _) =>
        val r = tracer.span("analytics.risk", req) {
          Risk.performanceSummary(TxParquetTable.snapshot(spark, bars).select(col("ticker"), col("datetime"), col("close").cast("double").as("close")),
              "close", Seq("ticker"), Seq("datetime"))
            .agg(count(lit(1)), sum(col("n_periods"))).collect()(0)
        }
        expect(s"$req risk rows", r.getLong(0), model.tickersWithBars)
        expect(s"$req risk periods", r.getLong(1), model.bars.size)
        results += r.getLong(0)
      case Simple("asof", _) =>
        val r = tracer.span("plans.merge_asof", req) {
          MergeAsOf.join(TxParquetTable.snapshot(spark, trades),
              TxParquetTable.snapshot(spark, bars).select("ticker", "datetime", "close"),
              "ticker", "datetime", "datetime")
            .agg(count(lit(1)), count(col("r_close"))).collect()(0)
        }
        expect(s"$req as-of rows", r.getLong(0), model.tradeCount)
        results += r.getLong(0)
      case other => throw new IllegalStateException(s"unknown op ${other.kind}")
    }

    // a fixed number of whole cycles, so the measured work does not depend
    // on the program's speed; a cycle's writes are one maintenance batch
    // and its reads one dashboard refresh, and each batch's summed latency
    // is one commit or query sample (sums of several operations vary less
    // than any single operation does)
    val t0 = System.nanoTime()
    val batches = mutable.Map("write" -> 0.0, "read" -> 0.0)
    var i = 0
    while (i < params.int("cycles") * ops.cycle.size) {
      val op = ops.next(i)
      val req = s"op$i-${op.kind}"
      val cls = if (op.isWrite) "write" else "read"
      val s = tracer.nowMs
      val ok = log.run(cls)(execute(op, req))
      windows += ((s, tracer.nowMs, !op.isWrite))
      if (ok.isDefined) model.apply(op)
      ok.foreach(_ => batches(cls) += log.latencies(cls).last)
      if ((i + 1) % ops.cycle.size == 0) {
        batches.foreach { case (c, v) => log.record(s"$c-batch", v) }
        batches.keys.foreach(batches(_) = 0.0)
      }
      if (tracing.isDefined && op.isWrite) liveMax = math.max(liveMax, TxParquetTable.liveFileCount(bars))
      i += 1
    }
    val wall = Work.since(t0)

    // final content: every row of the bar table against the model
    val rows = TxParquetTable.snapshot(spark, bars).select("id", "close", "volume").collect()
    val matched = rows.count { r =>
      model.bars.get(r.getString(0)).exists(b => b.close == r.getFloat(1).toDouble && b.volume == r.getInt(2))
    }
    expect("final bar rows", rows.length, model.bars.size)
    expect("final bar rows matching the model", matched, model.bars.size)
    if (TxParquetTable.latestVersion(mv) >= 0) {
      val view = TxParquetTable.snapshot(spark, mv).select("ticker", "n", "sum_v").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      if (view != model.refreshed) checks += "materialized view differs from the model's trades at its last refresh"
    }

    val e2e = Map(
      "throughput_per_s" -> (log.attempted - log.failed) / wall,
      "commit_p50_s" -> q(log.latencies("write-batch"), 0.5),
      "commit_p90_s" -> q(log.latencies("write-batch"), 0.9),
      "query_p50_s" -> q(log.latencies("read-batch"), 0.5),
      "query_p90_s" -> q(log.latencies("read-batch"), 0.9),
      "recall" -> matched.toDouble / math.max(model.bars.size, 1))
    val layers = tracing.map { t =>
      t.drain()
      val m = mutable.LinkedHashMap.empty[String, Double]
      Seq("append", "upsert", "delete", "compact", "snapshot", "mv_refresh").foreach { k =>
        m(s"sources.${k}_s") = Stats.medianOr0(tracer.seconds(s"sources.$k"))
      }
      m("sources.live_files_max") = liveMax
      m("sources.log_versions") = Seq(bars, trades, mv).map(TxParquetTable.latestVersion(_) + 1).sum
      val written = Seq(bars, trades, mv).map(t => Work.bytesUnder(new java.io.File(t, "data"))).sum - bytesBefore
      m("sources.write_amp") = written.toDouble / math.max(accepted, 1L)
      m("ingest.parse_gate_s") = Stats.medianOr0(tracer.seconds("ingest.parse_gate"))
      m("analytics.indicators_s") = Stats.medianOr0(tracer.seconds("analytics.indicators"))
      m("analytics.risk_s") = Stats.medianOr0(tracer.seconds("analytics.risk"))
      m("plans.merge_asof_s") = Stats.medianOr0(tracer.seconds("plans.merge_asof"))
      val readJobs = windows.filter(_._3).flatMap { case (a, b, _) => t.exec.jobsIn(a, b) }.toSeq
      m("exec.rows_read_per_result") = t.exec.recordsRead(readJobs).toDouble / math.max(results, 1L)
      m ++= t.exec.summary(windows.map { case (a, b, _) => (a, b) }.toSeq)
      m.toMap
    }.getOrElse(Map.empty)
    Work.deleteRecursively(dir.toFile)
    PassResult(e2e, layers, log.attempted, log.failed, checks.toSeq ++ log.errors)
  }

  private def q(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) 0.0 else Stats.quantile(xs, p)
}
