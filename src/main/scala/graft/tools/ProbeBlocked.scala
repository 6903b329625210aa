package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X74/X78 evidence probe → `docs/bench/blocked_regime.json` (r12
  * verdict items 1–3): the blocked pair screen vs the full cross,
  * measured in the regime the operator exists for.
  *
  * Four claims, each measured machine-readably:
  *
  *   1. **Wall/candidates at the uncapped 1000-key universe** (sf0.1's
  *      suppliers; q208's oracle anchor deliberately caps at 100 keys):
  *      full cointegration + Dickey–Fuller screens vs the SRP-blocked
  *      forms at bits = 3/5/6 × tables = 1/3.
  *   2. **Top-k RECALL, honestly**: the fraction of the FULL DF
  *      screen's top-k pairs by |df_tstat| (k = 20/50) that survive
  *      blocking — a pair survives iff both keys share a block in some
  *      table, so recall is computed exactly from the block
  *      assignment. On the LINEITEM universe this measured ≈ the
  *      random-collision baseline 1 − (1 − 2⁻ᵇ)ᴸ (r13 finding: that
  *      universe has NO co-movement structure — its top-|t| pairs are
  *      noise pairs with weak return correlation, which sign-agreement
  *      blocking rightly does not favor). The artifact reports both
  *      the measured recall and the baseline, per config.
  *   3. **Recall where the survival claim is meaningful**: a PLANTED
  *      factor universe (1000 keys in 100 groups; close = common group
  *      random walk + small idiosyncratic noise, within-group return
  *      ρ ≈ 0.93) where the full screen's top pairs ARE co-moving.
  *      Single-table recall ≈ pᵇ (the measured falsifier of the bare
  *      geometry claim); OR-amplified tables = 3 recovers
  *      1 − (1 − pᵇ)ᴸ. GATED ≥ 0.8 at (bits = 3, tables = 3) — the
  *      probe refuses to write an artifact that fails the gate (the
  *      q133/q166 pattern).
  *   4. **The 10⁴-key regime**: a synthesized 10,000-key × 84-month
  *      close frame where the full cross (~50M pairs × 84 months ≈
  *      4.2e9 joined rows) is the design-out; blockedPairSource +
  *      dickeyFullerScreen run at bits = 8/10 with wall, candidate
  *      count, and shuffle-write bytes (peak stage + total) recorded —
  *      candidates must track 2^bits down.
  *   5. **Recall at the 10⁴-key regime against PLANTED truth** (r13
  *      item 2): the iid universe above can measure wall/candidates but
  *      has no meaningful recall, and the full screen that would define
  *      top-k truth is exactly what cannot run there — so truth is
  *      PLANTED instead (the q213 move at 100×): 1,000 groups × 10
  *      keys, the universe-2 construction, ground truth = the 45,000
  *      same-group pairs, recall = the fraction whose keys share a
  *      block in any table (exact, from the block assignment alone).
  *      Single-table recall ≈ pᵇ collapses at these bit widths — the
  *      falsifier at scale — and the artifact GATES ≥ 0.8 at the
  *      recommended 10k-key operating point (bits = 8, tables = 5).
  *
  * Usage: runMain graft.tools.ProbeBlocked [sfDir] [iters]
  */
object ProbeBlocked {

  /** Accumulates shuffle-write bytes per completed stage. */
  private final class ShuffleAccum extends SparkListener {
    @volatile var total = 0L
    @volatile var peakStage = 0L
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val w = s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      total += w
      peakStage = math.max(peakStage, w)
    }
    def reset(): Unit = { total = 0L; peakStage = 0L }
  }

  private def f3(v: Double) =
    java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** One (bits, tables) measurement over a close frame: candidates,
    * blocked-screen walls, recall@20/@50 against `topK`.
    */
  private final case class BlockedRow(
      bits: Int, tables: Int, candidates: Long,
      cointWall: Double, dfWall: Double, dfRows: Long,
      r20: Double, r50: Double) {
    def baseline: Double = 1.0 - math.pow(1.0 - math.pow(2.0, -bits), tables)
    def json(fullCointWall: Double): String =
      s"""{"bits":$bits,"tables":$tables,"candidates":$candidates,"coint_wall_sec":${f3(cointWall)},"df_wall_sec":${f3(dfWall)},"df_rows":$dfRows,"recall_at_20":${f3(r20)},"recall_at_50":${f3(r50)},"random_baseline":${f3(baseline)},"coint_speedup_vs_full":${f3(fullCointWall / cointWall)}}"""
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(2)
    val cores = graft.GraftSession.cpusFromEnv()
    val spark = graft.GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100000).selectExpr("sum(id)").collect()
    val shuffle = new ShuffleAccum
    spark.sparkContext.addSparkListener(shuffle)

    def time(mk: => DataFrame): (Long, Double) = {
      var rows = 0L
      val t = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        rows = mk.count()
        (System.nanoTime() - t0) / 1e9
      }.min
      (rows, t)
    }

    /** Measure one universe: full screens + the (bits × tables) grid. */
    def measure(d: DataFrame, key: String, tm: String,
        grid: Seq[(Int, Int)], label: String): (Long, Double, Long, Double, Seq[BlockedRow]) = {
      val (fullRows, fullWall) = time {
        graft.analytics.Pairs.cointegrationScreen(d, key, tm, "close")
      }
      val fullDfScreen = graft.analytics.Pairs.dickeyFullerScreen(d, key, tm, "close")
      val (fullDfRows, fullDfWall) = time(fullDfScreen)
      println(f"[$label] full coint=$fullWall%.2f s df=$fullDfWall%.2f s rows=$fullRows")
      val topK = fullDfScreen.filter(col("df_tstat").isNotNull)
        .orderBy(abs(col("df_tstat")).desc, col("k1"), col("k2"))
        .limit(50)
        .select(col("k1").cast("long"), col("k2").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val rows = grid.map { case (bits, tables) =>
        val blocks = graft.analytics.Pairs
          .blockedPairSource(d, key, tm, "close", bits, tables)
          .localCheckpoint(true)
        // per-key block sets: (table, block) memberships
        val blk: Map[Long, Set[(Int, Int)]] =
          (if (tables == 1) blocks.select(col(blocks.columns.head).cast("long"),
              lit(0), col("pair_block"))
           else blocks.select(col(blocks.columns.head).cast("long"),
              col("pair_table"), col("pair_block")))
            .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2))))
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        def survives(a: Long, b: Long): Boolean = blk(a).intersect(blk(b)).nonEmpty
        val candidates = {
          val byBucket = blk.toSeq.flatMap { case (k, s) => s.map(_ -> k) }
            .groupBy(_._1).view.mapValues(_.map(_._2))
          byBucket.values.flatMap(ks =>
            for (i <- ks.indices; j <- (i + 1) until ks.length)
              yield (math.min(ks(i), ks(j)), math.max(ks(i), ks(j))))
            .toSet.size.toLong
        }
        def recallAt(k: Int): Double =
          topK.take(k).count { case (a, b) => survives(a, b) }.toDouble / k
        val (_, cWall) = time {
          graft.analytics.Pairs.cointegrationScreen(d, key, tm, "close", Some(blocks))
        }
        val (dfRows, dfWall) = time {
          graft.analytics.Pairs.dickeyFullerScreen(d, key, tm, "close", Some(blocks))
        }
        val row = BlockedRow(bits, tables, candidates, cWall, dfWall, dfRows,
          recallAt(20), recallAt(50))
        println(f"[$label] bits=$bits L=$tables cand=$candidates coint=$cWall%.2f s " +
          f"df=$dfWall%.2f s recall@20=${row.r20}%.2f (baseline ${row.baseline}%.2f)")
        row
      }
      (fullRows, fullWall, fullDfRows, fullDfWall, rows)
    }

    def mdU(s: Column): Column =
      conv(substring(md5(s), 1, 15), 16, 10)
        .cast("long").cast("double") / lit(1152921504606846976.0d)

    // ---- universe 1: the uncapped sf0.1 supplier set (NO planted
    // structure — recall here measures the random-collision floor) ----
    val dLine = graft.Tables.load(spark, dir, "lineitem")
      .withColumn("month", date_format(col("l_shipdate"), "yyyy-MM"))
      .groupBy(col("l_suppkey"), col("month"))
      .agg(max(col("l_extendedprice")).as("close"))
      .localCheckpoint(true)
    val nKeys = dLine.select("l_suppkey").distinct().count()
    val fullPairs = nKeys * (nKeys - 1) / 2
    println(s"[blocked] lineitem keys=$nKeys full_pairs=$fullPairs")
    val grid1 = Seq((3, 1), (3, 3), (5, 1), (5, 3), (6, 1))
    val (lRows, lWall, lDfRows, lDfWall, lineRows) =
      measure(dLine, "l_suppkey", "month", grid1, "lineitem")

    // ---- universe 2: planted factor structure, 1000 keys -------------
    // 100 groups of 10; close = 100 + group random walk (±0.5 steps) +
    // iid idiosyncratic level noise (±0.1) — exact micro-unit integer
    // quantization, so the construction is deterministic. Within-group
    // return correlation ≈ 0.93: the top-|t| pairs of the full DF
    // screen are the within-group pairs, i.e. the pairs the survival
    // claim is ABOUT.
    val nP = 1000L; val monthsP = 84
    val base = spark.range(nP * monthsP)
      .withColumn("key", col("id") % nP)
      .withColumn("__m", floor(col("id") / nP).cast("int"))
      .withColumn("grp", col("key") % 100)
    val incMicro = floor((mdU(concat_ws(":", lit("f"), col("grp"), col("__m"))) - lit(0.5))
      * lit(1000000.0) + lit(0.5)).cast("long")
    val idioMicro = floor((mdU(concat_ws(":", lit("e"), col("key"), col("__m"))) - lit(0.5))
      * lit(200000.0) + lit(0.5)).cast("long")
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("__m"))
    val dPlanted = base
      .withColumn("__fac", sum(incMicro).over(wCum))
      .withColumn("close",
        lit(100.0) + (col("__fac") + idioMicro).cast("double") / lit(1000000.0))
      .select(col("key"), col("__m").as("month"), col("close"))
      .localCheckpoint(true)
    val grid2 = Seq((3, 1), (3, 3), (5, 1), (5, 3))
    val (pRows, pWall, pDfRows, pDfWall, plantedRows) =
      measure(dPlanted, "key", "month", grid2, "planted")

    // the gate (r12 item 1): on the universe with real co-movement the
    // OR-amplified screen must retain >= 0.8 of the full screen's
    // top-20 — refuse to write a failing artifact (q133/q166 contract)
    val gate = plantedRows.find(r => r.bits == 3 && r.tables == 3).get.r20
    require(gate >= 0.8,
      f"planted-universe recall@20 at bits=3, tables=3 is $gate%.2f < 0.80 — " +
        "the OR-amplified survival claim does not hold; do not ship the artifact")

    // ---- universe 3: the 10^4-key regime (r12 item 2) ----------------
    // 10,000 keys x 84 months, close = 50 + 100*md5_uniform(key:month)
    // (iid returns -> evenly-filled blocks, the honest shape test for
    // the candidate arithmetic); the FULL cross at this size (~50M
    // pairs x 84 months = 4.2e9 joined rows) is the workload the
    // blocked form designs out
    val n10k = 10000L
    val months10k = 84
    val d10k = spark.range(n10k * months10k)
      .withColumn("key", col("id") % n10k)
      .withColumn("__m", floor(col("id") / n10k).cast("int"))
      .withColumn("month",
        format_string("%04d-%02d",
          lit(1992) + floor(col("__m") / 12).cast("int"),
          col("__m") % 12 + 1))
      .withColumn("close",
        lit(50.0) + lit(100.0) * mdU(concat_ws(":", col("key"), col("month"))))
      .select("key", "month", "close")
      .localCheckpoint(true)
    val fullPairs10k = n10k * (n10k - 1) / 2
    val blocked10k = Seq((8, 1), (10, 1), (10, 3)).map { case (bits, tables) =>
      val blocks = graft.analytics.Pairs
        .blockedPairSource(d10k, "key", "month", "close", bits, tables)
        .localCheckpoint(true)
      val candidates = if (tables == 1)
        blocks.groupBy("pair_block").count()
          .agg(sum(col("count") * (col("count") - 1)))
          .collect()(0).getLong(0) / 2
      else {
        val l = blocks.select(col("key").as("k1"), col("pair_table"), col("pair_block"))
        val r = blocks.select(col("key").as("k2"), col("pair_table"), col("pair_block"))
        l.join(r, Seq("pair_table", "pair_block"))
          .filter(col("k1") < col("k2")).select("k1", "k2").distinct().count()
      }
      shuffle.reset()
      val (dfRows, dfWall) = time {
        graft.analytics.Pairs.dickeyFullerScreen(
          d10k, "key", "month", "close", Some(blocks))
      }
      val peakMb = shuffle.peakStage / 1e6
      val totalMb = shuffle.total / 1e6
      println(f"[blocked10k] bits=$bits L=$tables cand=$candidates rows=$dfRows " +
        f"df=$dfWall%.2f s shuffle_peak=$peakMb%.1f MB shuffle_total=$totalMb%.1f MB")
      s"""{"bits":$bits,"tables":$tables,"candidates":$candidates,"df_rows":$dfRows,"df_wall_sec":${f3(dfWall)},"shuffle_write_peak_stage_mb":${f3(peakMb)},"shuffle_write_total_mb":${f3(totalMb)}}"""
    }

    // ---- universe 4: planted structure at the 10^4-key regime (r13
    // item 2) — the universe-2 construction at 10x the keys: 1,000
    // groups x 10 keys, ground truth = the 45,000 same-group pairs.
    // Recall is computed from the block assignment alone (survival is
    // exact block-id equality), so no full screen is needed — exactly
    // why planting is the only honest way to measure recall here.
    val nK4 = 10000L; val months4 = 84; val nG4 = 1000L
    val base4 = spark.range(nK4 * months4)
      .withColumn("key", col("id") % nK4)
      .withColumn("__m", floor(col("id") / nK4).cast("int"))
      .withColumn("grp", col("key") % nG4)
    val inc4 = floor((mdU(concat_ws(":", lit("f10"), col("grp"), col("__m"))) - lit(0.5))
      * lit(1000000.0) + lit(0.5)).cast("long")
    val idio4 = floor((mdU(concat_ws(":", lit("e10"), col("key"), col("__m"))) - lit(0.5))
      * lit(200000.0) + lit(0.5)).cast("long")
    val d4 = base4
      .withColumn("__fac", sum(inc4).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("key")).orderBy(col("__m"))))
      .withColumn("close",
        lit(100.0) + (col("__fac") + idio4).cast("double") / lit(1000000.0))
      .select(col("key"), col("__m").as("month"), col("close"))
      .localCheckpoint(true)
    val truthPairs4 = nG4 * (10L * 9L / 2L)
    val planted10k = Seq((8, 1), (8, 5), (10, 5)).map { case (bits, tables) =>
      val blocks = graft.analytics.Pairs
        .blockedPairSource(d4, "key", "month", "close", bits, tables)
        .localCheckpoint(true)
      val blk: Map[Long, Set[(Int, Int)]] =
        (if (tables == 1) blocks.select(col("key").cast("long"),
            lit(0), col("pair_block"))
         else blocks.select(col("key").cast("long"),
            col("pair_table"), col("pair_block")))
          .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2))))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var hits = 0L
      (0L until nG4).foreach { g =>
        val ks = (0 until 10).map(i => g + i * nG4)
        for (i <- ks.indices; j <- (i + 1) until ks.length)
          if (blk(ks(i)).intersect(blk(ks(j))).nonEmpty) hits += 1
      }
      val recall = hits.toDouble / truthPairs4
      val candidates = if (tables == 1)
        blocks.groupBy("pair_block").count()
          .agg(sum(col("count") * (col("count") - 1)))
          .collect()(0).getLong(0) / 2
      else {
        val l = blocks.select(col("key").as("k1"), col("pair_table"), col("pair_block"))
        val r = blocks.select(col("key").as("k2"), col("pair_table"), col("pair_block"))
        l.join(r, Seq("pair_table", "pair_block"))
          .filter(col("k1") < col("k2")).select("k1", "k2").distinct().count()
      }
      shuffle.reset()
      val (dfRows, dfWall) = time {
        graft.analytics.Pairs.dickeyFullerScreen(
          d4, "key", "month", "close", Some(blocks))
      }
      val peakMb = shuffle.peakStage / 1e6
      val totalMb = shuffle.total / 1e6
      println(f"[planted10k] bits=$bits L=$tables cand=$candidates recall=$recall%.3f " +
        f"rows=$dfRows df=$dfWall%.2f s shuffle_peak=$peakMb%.1f MB")
      (bits, tables, recall,
        s"""{"bits":$bits,"tables":$tables,"candidates":$candidates,"recall_planted":${f3(recall)},"truth_pairs":$truthPairs4,"df_rows":$dfRows,"df_wall_sec":${f3(dfWall)},"shuffle_write_peak_stage_mb":${f3(peakMb)},"shuffle_write_total_mb":${f3(totalMb)}}""")
    }
    // the 10k-regime gate (r13 item 2): the recommended operating point
    // must retain >= 0.8 of the planted pairs — refuse a failing artifact
    val gate10k = planted10k.find(r => r._1 == 8 && r._2 == 5).get._3
    require(gate10k >= 0.8,
      f"planted 10k-key recall at bits=8, tables=5 is $gate10k%.3f < 0.80 — " +
        "the recommended operating point does not hold; do not ship the artifact")

    val json =
      s"""{"protocol":"min of $iters iters, local[$cores], shuffle.partitions=$cores, close frames localCheckpoint'd (the Bench discipline)","universe_lineitem_1000":{"source":"$dir lineitem, per-supplier monthly max(l_extendedprice) — NO co-movement structure","keys":$nKeys,"full_pairs":$fullPairs,"full_coint":{"rows":$lRows,"wall_sec":${f3(lWall)}},"full_df":{"rows":$lDfRows,"wall_sec":${f3(lDfWall)}},"topk_rank":"abs(df_tstat) desc over the full Dickey-Fuller screen","blocked":${lineRows.map(_.json(lWall)).mkString("[", ",", "]")},"finding":"recall tracks the random-collision baseline 1-(1-2^-b)^L because this universe's top-|t| pairs are NOISE pairs with weak return correlation - sign-agreement blocking rightly does not favor them; the survival claim is only meaningful where co-movement exists (see universe_planted_1000)"},"universe_planted_1000":{"source":"synthesized: 100 groups x 10 keys, close = 100 + group random walk(+-0.5 micro-exact steps) + iid idio noise(+-0.1); within-group return rho ~= 0.93","keys":$nP,"full_pairs":${nP * (nP - 1) / 2},"full_coint":{"rows":$pRows,"wall_sec":${f3(pWall)}},"full_df":{"rows":$pDfRows,"wall_sec":${f3(pDfWall)}},"blocked":${plantedRows.map(_.json(pWall)).mkString("[", ",", "]")},"recall_gate":{"bits":3,"tables":3,"k":20,"min":0.8,"measured":${f3(gate)},"pass":true},"finding":"single-table recall ~= p^bits (p = 1 - theta/pi) - low even for strongly co-moving pairs, the r13 measurement that falsified the bare geometry claim; OR-amplified tables=3 recovers 1-(1-p^b)^L at ~3x the candidates (q213 oracle-checks the same construction at 100 keys)"},"universe_10000":{"source":"synthesized 10,000 keys x $months10k months, close = 50 + 100*md5_uniform(key:month)","keys":$n10k,"full_pairs":$fullPairs10k,"full_cross_run":false,"reason":"50M pairs x 84 months ~ 4.2e9 joined rows before the first aggregate - the regime blockedPairSource exists for; the blocked form is the only one run","blocked":${blocked10k.mkString("[", ",", "]")}},"universe_10000_planted":{"source":"synthesized: 1,000 groups x 10 keys (the universe_planted_1000 construction at 10x keys); ground truth = the planted same-group pairs, so recall needs NO full screen - exactly why planting is the only honest recall measurement in this regime (r13 item 2)","keys":$nK4,"truth_pairs":$truthPairs4,"full_cross_run":false,"blocked":${planted10k.map(_._4).mkString("[", ",", "]")},"recall_gate":{"bits":8,"tables":5,"min":0.8,"measured":${f3(gate10k)},"pass":true},"finding":"single-table recall collapses as p^bits at the bit widths the 10k regime needs for candidate control; OR-amplification buys it back as 1-(1-p^b)^L - the recommended 10k operating point is (bits 8, tables 5)"},"note":"recall@k = fraction of the FULL DF screen's top-k |t| pairs whose keys share an SRP block in ANY table (survival is exact block-id equality, so recall is computed from the block assignment itself); recall_planted = same survival test over the planted same-group pairs. candidates = distinct within-block pairs across tables. Generated by graft.tools.ProbeBlocked."}"""
    val out = java.nio.file.Paths.get("docs/bench/blocked_regime.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
