package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload needs from the harness. `work` is a working directory
  * inside the checkout; everything the workload writes goes under it.
  */
final case class Ctx(spark: SparkSession, params: Params, seed: Long, seconds: Int, work: Path)

trait Workload {
  /** The program's one-time setup, done once and cold; its seconds. The
    * first pass runs on what it set up.
    */
  def setup(): Double

  /** One measured pass; with `tracing` set it also returns the per-layer
    * metrics.
    */
  def pass(tracer: Tracer, tracing: Option[Tracing]): PassResult
}

/** Benchmark driver. Modes:
  *
  *   run  --workload W --seed N --seconds S --trace 0|1 --work DIR --params FILE
  *   gen  --workload W --seed N --seconds S --out DIR --params FILE
  *   selftest
  *
  * `run` prints human-readable lines, then one line
  * `PERFBENCH_RESULT {json}` with the verdict and the metric values;
  * `perfbench/run.py` attaches the units from BENCHMARK.json.
  */
object Main {
  val Workloads = Seq("ingest", "lakehouse", "curate")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    mode match {
      case "run" => sys.exit(run(opts))
      case "gen" => gen(opts); sys.exit(0)
      case "selftest" => sys.exit(SelfTest.run())
      case _ =>
        System.err.println("usage: Main run|gen|selftest --workload W --seed N --seconds S ...")
        sys.exit(2)
    }
  }

  private def workloadOf(name: String, ctx: Ctx): Workload = name match {
    case "ingest" => new IngestWorkload(ctx)
    case "lakehouse" => new LakehouseWorkload(ctx)
    case "curate" => new CurateWorkload(ctx)
  }

  /** Write the workload's generated inputs under --out (no Spark). */
  def gen(o: Map[String, String]): Unit = {
    val w = o("workload")
    val p = Params.load(Paths.get(o("params")), w)
    val seed = o("seed").toLong
    val out = Work.fresh(Paths.get(o("out")))
    w match {
      case "ingest" =>
        val (warm, measured) = IngestWorkload.fileCounts(p, o("seconds").toInt)
        val in = Gen.ingest(p, seed, warm, measured)
        Work.writeLines(out.resolve("priming.json"), in.priming.lines)
        in.files.zipWithIndex.foreach { case (f, i) => Work.writeLines(out.resolve(f"f$i%06d.json"), f.lines) }
      case "lakehouse" =>
        val in = Gen.lakeInitial(p, seed, p.int("bars_per_ticker"), p.int("trades"))
        Work.writeLines(out.resolve("bars.json"), in.bars.map(_.json))
        Work.writeLines(out.resolve("trades.json"), in.trades.map(_.json))
        val model = new LakeModel(in)
        val ops = new LakeOps(p, seed, model)
        Work.writeLines(out.resolve("ops.txt"), (0 until 40).map { i =>
          val op = ops.next(i); model.apply(op); op.describe })
      case "curate" =>
        val in = Gen.curate(p, seed, p.int("docs"))
        Work.writeLines(out.resolve("docs.json"), in.docs.map(_.json))
        Work.writeLines(out.resolve("queries.json"), in.queries.map(_.json))
    }
  }

  private def run(o: Map[String, String]): Int = {
    val name = o("workload")
    require(Workloads.contains(name), s"unknown workload $name")
    val trace = o.getOrElse("trace", "0") == "1"
    val work = Work.fresh(Paths.get(o("work")))
    val params = Params.load(Paths.get(o("params")), name)
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores)
    val sessionS = Work.since(t0)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val ctx = Ctx(spark, params, o("seed").toLong, o("seconds").toInt, work)
      val w = workloadOf(name, ctx)
      println(f"[perfbench] t=${Work.since(t0)}%.1fs inputs generated")
      val setupS = sessionS + w.setup()
      println(f"[perfbench] $name seed=${ctx.seed} session=${sessionS}%.3fs setup=${setupS - sessionS}%.3fs")
      println(f"[perfbench] t=${Work.since(t0)}%.1fs set up")
      val (result, values) =
        if (!trace) {
          val plain = w.pass(new Tracer(false), None)
          println(f"[perfbench] t=${Work.since(t0)}%.1fs measured")
          (plain, plain.e2e ++ Map("setup_s" -> setupS, "ok_rate" -> okRate(plain)))
        } else {
          // the traced pass takes the place an end-to-end run measures, the
          // first after set-up, so its layer figures explain those figures;
          // the untraced pass after it runs warmer, so the overhead it
          // yields over-states the tracing cost by that warming
          val tracing = new Tracing(spark)
          val tracer = new Tracer(true)
          val traced = try w.pass(tracer, Some(tracing)) finally tracing.detach()
          tracer.write(work.getParent.resolve("traces").resolve(s"$name-seed${ctx.seed}.jsonl"))
          println(f"[perfbench] t=${Work.since(t0)}%.1fs measured")
          val untraced = w.pass(new Tracer(false), None)
          val overhead = untraced.e2e.keys.map(k => s"trace_overhead.$k" -> (traced.e2e(k) - untraced.e2e(k)))
          val merged = traced.copy(attempted = traced.attempted + untraced.attempted,
            failed = traced.failed + untraced.failed, checks = traced.checks ++ untraced.checks)
          (merged, traced.layers ++ overhead)
        }
      println(f"[perfbench] t=${Work.since(t0)}%.1fs done")
      result.checks.foreach(c => println(s"[perfbench] CHECK FAILED: $c"))
      values.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"[perfbench] $k%-40s $v%.6f") }
      println("PERFBENCH_RESULT " + resultJson(result.checks.isEmpty, result.attempted, result.failed, values))
      if (result.checks.isEmpty) 0 else 1
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        3
    } finally {
      spark.stop()
      Work.deleteRecursively(work.toFile)
    }
  }

  private def okRate(r: PassResult): Double =
    if (r.attempted == 0) 0.0 else (r.attempted - r.failed).toDouble / r.attempted

  private def resultJson(correct: Boolean, attempted: Long, failed: Long, values: Map[String, Double]): String = {
    val vs = values.toSeq.sortBy(_._1).map { case (k, v) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      "\"" + k + "\":" + num
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"values":{${vs.mkString(",")}}}"""
  }
}
