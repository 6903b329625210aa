package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llmops.{AnnIndex, Components, Dedup}

/** `curate`: a closed loop running one batch curation job a fixed number
  * of times over a generated corpus: exact dedup on the content hash,
  * MinHash candidate pairs, Jaccard verification, connected components,
  * keep-best per component, an IVF index fit over the keepers, then a bulk
  * ANN serve of a query set. The job's wall time runs through the index fit; the serve
  * is timed on its own. Both recalls are computed by the benchmark's own
  * code from what it planted. There is no warm-up job: a job includes the
  * first-use cost of its plans, as a curation batch started per run pays
  * it.
  */
final class CurateWorkload(ctx: Ctx) extends Workload {
  import ctx._


  private val inputs = Gen.curate(params, seed, params.int("docs"))
  private val dim = params.int("dim")
  private val DocSchema = StructType(Seq(StructField("id", LongType), StructField("text", StringType),
    StructField("quality", DoubleType), StructField("emb", ArrayType(DoubleType))))
  private val QuerySchema = StructType(Seq(StructField("qid", LongType), StructField("qv", ArrayType(DoubleType))))
  private var corpus: (DataFrame, DataFrame) = _
  private var jobs = 0

  /** The corpus read: docs and queries from their files, pinned; every
    * pass of the run reuses it.
    */
  def setup(): Double = {
    val dir = Work.fresh(work.resolve("curate-in"))
    Work.writeLines(dir.resolve("docs.json"), inputs.docs.map(_.json))
    Work.writeLines(dir.resolve("queries.json"), inputs.queries.map(_.json))
    val t0 = System.nanoTime()
    val docs = spark.read.schema(DocSchema).json(dir.resolve("docs.json").toString).localCheckpoint()
    val queries = spark.read.schema(QuerySchema).json(dir.resolve("queries.json").toString).localCheckpoint()
    corpus = (docs, queries)
    Work.since(t0)
  }

  private final case class JobOut(exactRemoved: Long, candidates: Long, verified: Long,
      labels: Map[Long, Long], keepers: Array[Long], index: String)

  private def job(docs: DataFrame, tracer: Tracer, req: String): JobOut = {
    jobs += 1
    val index = work.resolve(s"ivf-$jobs").toString
    val deduped = tracer.span("llmops.exact_dedup", req) {
      val w = Window.partitionBy(col("h")).orderBy(col("id"))
      docs.withColumn("h", Dedup.contentHash(col("text")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("h", "rn")
        .localCheckpoint()
    }
    val nDocs = docs.count()
    val nDeduped = deduped.count()
    val candidates = tracer.span("llmops.minhash_pairs", req) {
      Dedup.minhashCandidatePairs(deduped, "id", "text").count()
    }
    val verified = tracer.span("llmops.jaccard_verify", req) {
      Dedup.jaccardVerifiedPairs(deduped, "id", "text").select("doc_a", "doc_b").localCheckpoint()
    }
    val nVerified = verified.count()
    val labels = tracer.span("llmops.components", req) {
      Components.connectedComponents(verified, "doc_a", "doc_b").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val keepers = tracer.span("llmops.keep_best", req) {
      Components.keepBestPerComponent(deduped, verified, "id", "doc_a", "doc_b", col("quality"))
        .filter(col("kept")).select("id", "emb").localCheckpoint()
    }
    tracer.span("llmops.ann_fit", req) {
      AnnIndex.fitIvfIndex(keepers, "id", "emb", dim, params.int("n_cells"), index)
    }
    JobOut(nDocs - nDeduped, candidates, nVerified, labels,
      keepers.select("id").collect().map(_.getLong(0)), index)
  }

  private def serve(out: JobOut, queries: DataFrame, tracer: Tracer, req: String): Array[(Long, Long)] =
    tracer.span("llmops.ann_serve", req) {
      AnnIndex.queryIvfIndexBulk(spark, out.index, queries, "qid", "qv", params.int("n_probe"), 10)
        .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
    }

  def pass(tracer: Tracer, tracing: Option[Tracing]): PassResult = {
    val (docs, queries) = corpus
    val log = new OpLog
    val checks = mutable.ArrayBuffer.empty[String]
    val windows = mutable.ArrayBuffer.empty[(Double, Double)]
    val outs = mutable.ArrayBuffer.empty[(JobOut, Array[(Long, Long)])]
    // a fixed number of jobs, so the measured work does not depend on the
    // program's speed
    (0 until params.int("jobs")).foreach { j =>
      val req = s"job$j"
      val s = tracer.nowMs
      log.run("job")(job(docs, tracer, req)).foreach { out =>
        val served = (0 until params.int("serve_rounds")).flatMap { k =>
          log.run("serve")(serve(out, queries, tracer, s"$req-serve$k")) }
        served.headOption.foreach(s => outs += ((out, s)))
      }
      windows += ((s, tracer.nowMs))
    }

    // quality, by the benchmark's own code
    val planted = inputs.nearPairs
    val docVec = inputs.docs.map(d => d.id -> d.emb).toMap
    val sample = inputs.queries.take(params.int("recall_queries"))
    val recalls = outs.map { case (out, served) =>
      if (out.exactRemoved != inputs.exactDups)
        checks += s"exact dedup removed ${out.exactRemoved} docs, planted ${inputs.exactDups}"
      val found = planted.count { case (a, b) =>
        out.labels.get(a).exists(l => out.labels.get(b).contains(l)) }
      val got = served.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      val truth = sample.map(q => q.qid -> bruteTop10(q.qv, out.keepers, docVec))
      val hits = truth.map { case (q, ids) => (ids & got.getOrElse(q, Set.empty)).size }.sum
      (found.toDouble / math.max(planted.size, 1), hits.toDouble / (10.0 * sample.size),
        (found + hits).toDouble / (planted.size + 10.0 * sample.size))
    }
    if (outs.isEmpty) checks += "no curation job completed"

    val jobS = log.latencies("job")
    val e2e = Map(
      "throughput_per_s" -> (if (jobS.isEmpty) 0.0 else inputs.docs.size / Stats.median(jobS)),
      "commit_p50_s" -> q(jobS, 0.5),
      "commit_p90_s" -> q(jobS, 0.9),
      "query_p50_s" -> q(log.latencies("serve"), 0.5),
      "query_p90_s" -> q(log.latencies("serve"), 0.9),
      "recall" -> Stats.medianOr0(recalls.map(_._3)))
    val layers = tracing.map { t =>
      t.drain()
      val m = mutable.LinkedHashMap.empty[String, Double]
      def med(span: String) = Stats.medianOr0(tracer.seconds(span))
      m("llmops.exact_dedup_s") = med("llmops.exact_dedup")
      m("llmops.minhash_pairs_s") = med("llmops.minhash_pairs")
      m("llmops.jaccard_verify_s") = med("llmops.jaccard_verify")
      m("llmops.candidate_pairs") = Stats.medianOr0(outs.map(_._1.candidates.toDouble))
      m("llmops.verified_pairs") = Stats.medianOr0(outs.map(_._1.verified.toDouble))
      m("llmops.pair_precision") =
        Stats.medianOr0(outs.map(o => o._1.verified.toDouble / math.max(o._1.candidates, 1L)))
      m("llmops.components_s") = med("llmops.components")
      val cc = tracer.all.filter(s => s.ok && s.name == "llmops.components")
      m("llmops.components_jobs") = Stats.medianOr0(cc.map(s => t.exec.jobsIn(s.startMs, s.endMs).size.toDouble))
      m("llmops.keep_best_s") = med("llmops.keep_best")
      m("llmops.ann_fit_s") = med("llmops.ann_fit")
      m("llmops.ann_serve_s") = med("llmops.ann_serve")
      m("llmops.ann_queries_per_s") =
        if (log.latencies("serve").isEmpty) 0.0 else inputs.queries.size / Stats.median(log.latencies("serve"))
      m("llmops.dup_recall") = Stats.medianOr0(recalls.map(_._1))
      m("llmops.ann_recall_at_10") = Stats.medianOr0(recalls.map(_._2))
      m ++= t.exec.summary(windows.toSeq)
      m.toMap
    }.getOrElse(Map.empty)
    PassResult(e2e, layers, log.attempted, log.failed, checks.toSeq ++ log.errors)
  }

  private def q(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) 0.0 else Stats.quantile(xs, p)

  /** Exact cosine top-10 over the keepers, on the driver. */
  private def bruteTop10(qv: Array[Double], keepers: Array[Long], vec: Map[Long, Array[Double]]): Set[Long] = {
    val qn = math.sqrt(qv.map(x => x * x).sum)
    keepers.map { id =>
      val v = vec(id)
      var dot = 0.0; var vn = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * qv(i); vn += v(i) * v(i); i += 1 }
      (dot / (math.sqrt(vn) * qn), id)
    }.sortBy { case (s, id) => (-s, id) }.take(10).map(_._2).toSet
  }
}
