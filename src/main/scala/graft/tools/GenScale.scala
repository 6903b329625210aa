package graft.tools

import org.apache.spark.sql.functions._

/** r10 scale-decade generator (r9 verdict item 3): build a FACTOR× slice
  * of the three engine-native tables (`events`, `documents`,
  * `embeddings`) from sf0.1, leaving the TPC-H tables symlinked at
  * sf0.1 (per the verdict: the decade extension targets the
  * llmops/analytics surface). Output is ephemeral (/tmp) — regenerate
  * with this tool; ProbeScaling10 consumes it.
  *
  * Replication is STRUCTURE-PRESERVING, not row-copying — each replica
  * r ∈ [0, factor) is keyed away from the others so per-key work scales
  * linearly instead of quadratically:
  *
  *   - events: event_id/user_id offset per replica (10× users, per-user
  *     series length UNCHANGED — window/sessionization state per key is
  *     constant), ts/event_type/value/props untouched so calendar
  *     windows get 10× density, the aggregation scale axis.
  *   - documents: doc_id offset; text passed through a PER-REPLICA
  *     substitution cipher (`translate` over a seeded full-alphabet
  *     permutation; r=0 is identity) — length-preserving and
  *     bijective, so WITHIN-replica shingle/minhash/simhash similarity
  *     structure is preserved (near-dup pairs, dup groups, containment
  *     pairs scale ≈×factor) while CROSS-replica character shingles
  *     all differ (Jaccard ≈ 0). Earlier forms, both rejected: a
  *     per-word `x<r>` suffix leaves within-word 8-char shingles
  *     intact (cross-replica Jaccard ~0.3+, LSH candidates 59× at
  *     factor 10 — a quadratic-ish blow-up no real 10× corpus has);
  *     a Caesar ROTATION caps the factor at 26 because replica r and
  *     r+26 would share a cipher (exact cross-replica dups) — the
  *     seeded-permutation space (26!) lifts that cap to the ×100
  *     decade the r12 verdict asks for (item 6).
  *   - embeddings: vec_id offset; dimensions circularly rotated by r
  *     (norms and within-replica pairwise dots exactly preserved;
  *     cross-replica dots decorrelate), labels untouched.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // permutation ciphers are seeded per replica (26! >> any factor),
    // so the old rotation-wrap cap at 26 is gone; 200 bounds the when-
    // chain the cipher column compiles to (and this box's disk)
    require(factor >= 1 && factor <= 200,
      s"factor must be in [1, 200], got $factor")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    val out = java.nio.file.Paths.get(outDir)
    if (java.nio.file.Files.exists(out)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(out)
      try walk.iterator().asScala.toSeq.reverse.foreach(p =>
        java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    java.nio.file.Files.createDirectories(out)

    // validate the embedding-dim-dependent cap BEFORE writing any table
    // (r13 advice: the `factor <= 2*dim` require used to fire only at
    // the embeddings stage, after events/documents replicas were
    // already written — leaving a partially scaled output directory)
    val embDim = graft.Tables.load(spark, srcDir, "embeddings")
      .select(size(col("embedding"))).first().getInt(0)
    require(factor <= 2 * embDim,
      s"embeddings support at most ${2 * embDim} distinct replicas " +
        s"(rotation x sign at dim=$embDim), got factor=$factor — " +
        "nothing written")

    // TPC-H tables stay at sf0.1 — symlink the single-file parquets
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      java.nio.file.Files.createSymbolicLink(
        out.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(s"$srcDir/$t.parquet"))
    }

    def withReplica(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("r", explode(array((0 until factor).map(lit(_)): _*)))

    val ev = graft.Tables.load(spark, srcDir, "events")
    val Array(maxE, maxU) = ev.agg(max(col("event_id")), max(col("user_id")))
      .collect()(0).toSeq.map(_.asInstanceOf[Long] + 1L).toArray
    withReplica(ev).select(
        (col("event_id") + col("r") * lit(maxE)).as("event_id"), col("ts"),
        (col("user_id") + col("r") * lit(maxU)).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.parquet(s"$outDir/events.parquet")

    val docs = graft.Tables.load(spark, srcDir, "documents")
    val maxD = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1L
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    // deterministic per-replica permutation of the alphabet: seeded
    // Fisher–Yates, distinct seed per replica (collision odds across
    // 200 replicas of a 26!-space are nil)
    def perm(r: Int): String =
      new scala.util.Random(9176L + r).shuffle(lower.toSeq).mkString
    val ciphered = (1 until factor).foldLeft(
        when(col("r") === 0, col("text"))) { (acc, r) =>
      val p = perm(r)
      acc.when(col("r") === r,
        translate(col("text"), lower + upper, p + p.toUpperCase))
    }.otherwise(col("text"))
    withReplica(docs).select(
        (col("doc_id") + col("r") * lit(maxD)).as("doc_id"),
        ciphered.as("text"),
        col("lang"), col("source"), col("n_chars")) // cipher is length-preserving
      .repartition(32)
      .write.parquet(s"$outDir/documents.parquet")

    val emb = graft.Tables.load(spark, srcDir, "embeddings")
    val maxV = emb.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1L
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    // circular rotation by r mod dim, sign-flipped on the second wrap:
    // 2*dim distinct norm-preserving transforms (a rotation past dim
    // would repeat, making cross-replica exact duplicates — the exact
    // blow-up the per-replica transform exists to avoid)
    require(factor <= 2 * dim,
      s"embeddings support at most ${2 * dim} distinct replicas " +
        s"(rotation x sign at dim=$dim), got factor=$factor")
    val rot = pmod(col("r"), lit(dim))
    val sign = when(pmod(floor(col("r") / lit(dim)).cast("int"), lit(2)) === 1,
      lit(-1.0f)).otherwise(lit(1.0f))
    val rotated = when(rot === 0, col("embedding")).otherwise(
      concat(slice(col("embedding"), rot + 1, lit(dim) - rot),
        slice(col("embedding"), lit(1), rot)))
    withReplica(emb).select(
        (col("vec_id") + col("r") * lit(maxV)).as("vec_id"),
        when(col("r") < lit(dim), rotated)
          .otherwise(transform(rotated, v => v * sign)).as("embedding"),
        col("label"))
      .repartition(32)
      .write.parquet(s"$outDir/embeddings.parquet")

    for (t <- Seq("events", "documents", "embeddings")) {
      val n = spark.read.parquet(s"$outDir/$t.parquet").count()
      println(s"[genscale] $t: $n rows")
    }
    spark.stop()
  }
}
