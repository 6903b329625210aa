package graft

import org.apache.spark.sql.functions._

import graft.llmops.Components

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def assignments(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain collapses to one component labeled by its min id") {
    // 5-4, 4-3, 3-2, 2-1: diameter 4 forces several propagation rounds
    val m = assignments(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)))
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("disjoint clusters keep distinct labels; duplicate and self edges tolerated") {
    val m = assignments(Seq((1L, 2L), (2L, 1L), (1L, 1L), (10L, 11L), (11L, 12L)))
    assert(m === Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("empty and all-null edge lists yield no components (observed edge count 0)") {
    assert(assignments(Seq.empty) === Map.empty)
    val nulls = Seq[(java.lang.Long, java.lang.Long)]((1L, null), (null, 2L)).toDF("a", "b")
    assert(Components.connectedComponents(nulls, "a", "b").count() === 0)
  }

  test("random graphs match brute-force transitive closure") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 40
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // brute force: repeated relabel over an adjacency map
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      var lab = adj.keys.map(k => k -> k).toMap
      var changed = true
      while (changed) {
        changed = false
        for (k <- adj.keys) {
          val m = (adj(k).map(lab) + lab(k)).min
          if (m != lab(k)) { lab += k -> m; changed = true }
        }
      }
      assert(assignments(edges) === lab)
    }
  }

  test("alternating (large-star/small-star) agrees with min-propagation on random graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 50
      val edges = Seq.fill(35)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val df = edges.toDF("a", "b")
      val prop = Components.connectedComponents(df, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val alt = Components.connectedComponentsAlternating(df, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(alt === prop)
    }
  }

  test("alternating collapses a long chain (diameter >> rounds)") {
    val chain = (1L until 40L).map(i => (i, i + 1))
    val m = Components.connectedComponentsAlternating(chain.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size === 40 && m.values.forall(_ == 1L))
  }

  test("propagation FAILS LOUDLY when the round budget is below the diameter") {
    // a 40-node chain needs ~39 propagation hops; maxIters = 3 must throw,
    // never return silently-truncated labels
    val chain = (1L until 40L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] {
      Components.connectedComponents(chain.toDF("a", "b"), "a", "b", maxIters = 3)
        .collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // and with an adequate budget the same graph converges to one label
    val ok = Components.connectedComponents(chain.toDF("a", "b"), "a", "b", maxIters = 45)
      .collect().map(r => r.getLong(1)).toSet
    assert(ok === Set(1L))
  }

  test("fixpoint loops scope the shuffle width to the graph and restore the session setting (r19)") {
    // the rounds of a propagation loop run at a width derived from the
    // measured edge count (a 10^4-edge graph must not pay 32 tasks of
    // scheduling per stage per SEQUENTIAL round); the session conf must
    // come back exactly — including when the loop exits by THROWING
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(assignments(Seq((1L, 2L), (2L, 3L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(spark.conf.get(key) === before, "width not restored after success")
    val chain = (1L until 40L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      Components.connectedComponents(chain.toDF("a", "b"), "a", "b",
        maxIters = 1).collect()
    }
    assert(spark.conf.get(key) === before, "width not restored after a throw")
    intercept[IllegalStateException] {
      Components.connectedComponentsAlternating(chain.toDF("a", "b"), "a", "b",
        maxIters = 1).collect()
    }
    assert(spark.conf.get(key) === before,
      "width not restored after an alternating-loop throw")
  }

  test("alternating convergence probe costs ONE job per round (checksum, not count+except)") {
    // warm codegen/exchange paths so the counted run has no one-off jobs
    Components.connectedComponentsAlternating(
      Seq((1L, 2L)).toDF("a", "b"), "a", "b").collect()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // AQE submits one job per query STAGE and each broadcast build is its
    // own job, burying the action count this test pins; with both off,
    // jobs == actions exactly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(listener)
    try {
      val chain = (1L until 40L).map(i => (i, i + 1))
      Components.connectedComponentsAlternating(chain.toDF("a", "b"), "a", "b").collect()
      // job-start events are synchronous with submission; give the async
      // listener bus a beat to drain
      Thread.sleep(300)
      // fixed overhead: nodes checkpoint, initial edge checkpoint, initial
      // fingerprint, final assignment collect = 4 actions. Per round:
      // exactly ONE fingerprint action (the lazy localCheckpoint rides on
      // it). A 39-chain settles in <= 7 alternating rounds (log-rounds
      // collapse plus the fixpoint-confirming round), so <= 11 actions;
      // the r5 count()+except() probe cost 3 actions/round and would blow
      // this budget at ~2x the jobs.
      val rounds = 7
      assert(jobs.get <= 4 + rounds,
        s"${jobs.get} jobs for a <=$rounds-round run — convergence probe regressed?")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("superseded per-round checkpoint blocks are released, not left to GC") {
    // r6 lesson: rounds× leftover localCheckpoint blocks squeeze whatever
    // runs next in a shared JVM (bench saw q73-q76 inflate after q72).
    // A 12-chain needs ~11 propagation rounds; residue must stay O(1)
    // frames (final labels + the caller-visible result), not O(rounds).
    // Delta-based counting is safe here: suites run sequentially in the
    // forked test JVM (testForkedParallel off), so no other suite adds
    // blocks between the reads, and async cleaner removals only shrink
    // the delta.
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (1L until 13L).map(i => (i, i + 1))
    val labels = Components.connectedComponents(chain.toDF("a", "b"), "a", "b")
    labels.collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"${after - before} persistent RDDs left behind by an ~11-round run " +
        "— per-round checkpoint release regressed?")

    val before2 = spark.sparkContext.getPersistentRDDs.size
    Components.connectedComponentsAlternating(
      chain.toDF("a", "b"), "a", "b").collect()
    val after2 = spark.sparkContext.getPersistentRDDs.size
    // alternating keeps the nodes frame + final edge set for the result
    assert(after2 - before2 <= 2,
      s"${after2 - before2} persistent RDDs left behind by alternating CC")
  }

  test("exactConvergence opt-in returns identical components") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(30)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val df = edges.toDF("a", "b")
    val fp = Components.connectedComponentsAlternating(df, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Components.connectedComponentsAlternating(
      df, "a", "b", exactConvergence = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact === fp)
  }

  test("dedupByComponents keeps exactly the component minima") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 99L).toDF("doc_id")
    // components {1,2,3} (chain) and {4,5}; 99 untouched by any pair
    val pairs = Seq((1L, 3L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val kept = Components.dedupByComponents(docs, pairs, "doc_id", "doc_a", "doc_b")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept === Set(1L, 4L, 99L))
  }

  test("componentGroups: members carry the cluster min, singletons their own id") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 99L).toDF("doc_id")
    val pairs = Seq((1L, 3L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val g = Components.componentGroups(docs, pairs, "doc_id", "doc_a", "doc_b")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("grp")).toMap
    assert(g === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 99L -> 99L))
  }

  test("keepBestPerComponent: highest score wins, score tie falls to min id, singletons kept") {
    // cluster {1,2,3}: scores 0.5 / 0.9 / 0.9 -> tie between 2 and 3 -> 2
    // cluster {4,5}:   0.1 / 0.7 -> 5;  singleton 99 always kept
    val docs = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.1), (5L, 0.7), (99L, 0.0))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 3L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val out = Components.keepBestPerComponent(
        docs, pairs, "doc_id", "doc_a", "doc_b", col("score"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("grp"), r.getAs[Boolean]("kept")))).toMap
    assert(out === Map(
      1L -> ((1L, false)), 2L -> ((1L, true)), 3L -> ((1L, false)),
      4L -> ((4L, false)), 5L -> ((4L, true)), 99L -> ((99L, true))))
    // exactly one keeper per cluster, no rows lost
    assert(out.size === 6 && out.values.count(_._2) === 3)
  }

  test("keepBestPerComponentAggregated == window form on random graphs (incl. null scores)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 30
      val docs = (0L until n).map(i =>
          (i, if (rnd.nextInt(5) == 0) null.asInstanceOf[java.lang.Double]
              else java.lang.Double.valueOf(rnd.nextInt(4) * 0.25))) // ties + nulls
        .toDF("doc_id", "score")
      val pairs = Seq.fill(15)((rnd.nextInt(n.toInt).toLong, rnd.nextInt(n.toInt).toLong))
        .toDF("doc_a", "doc_b")
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), col("grp"), col("kept"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val w = norm(Components.keepBestPerComponent(
        docs, pairs, "doc_id", "doc_a", "doc_b", col("score")))
      val a = norm(Components.keepBestPerComponentAggregated(
        docs, pairs, "doc_id", "doc_a", "doc_b", col("score")))
      assert(w === a, s"trial=$trial window and aggregated forms disagree")
      // exactly one keeper per cluster in both
      assert(w.groupBy(_._2).forall(_._2.count(_._3) == 1), s"trial=$trial")
    }
  }

  test("aggregated form edge parity: -Infinity beats null; decimal precision beyond double") {
    // a real -Inf score must beat null under BOTH forms (window desc =
    // NULLS LAST; aggregated = the leading not-null flag)
    val docs = Seq(
      (1L, Some(Double.NegativeInfinity)), (2L, None: Option[Double]))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    def keeper(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("kept")).select(col("doc_id")).as[Long].collect().head
    assert(keeper(Components.keepBestPerComponent(
      docs, pairs, "doc_id", "doc_a", "doc_b", col("score"))) === 1L)
    assert(keeper(Components.keepBestPerComponentAggregated(
      docs, pairs, "doc_id", "doc_a", "doc_b", col("score"))) === 1L)

    // decimal scores that differ only beyond double precision: the
    // native-type ordering must pick the true max (doc 2), which a
    // double cast would collapse into a min-id tie-break (doc 1)
    val dec = Seq((1L, BigDecimal("1.000000000000000001")),
        (2L, BigDecimal("1.000000000000000002")))
      .toDF("doc_id", "score")
      .select(col("doc_id"), col("score").cast("decimal(38,18)").as("score"))
    assert(keeper(Components.keepBestPerComponent(
      dec, pairs, "doc_id", "doc_a", "doc_b", col("score"))) === 2L)
    assert(keeper(Components.keepBestPerComponentAggregated(
      dec, pairs, "doc_id", "doc_a", "doc_b", col("score"))) === 2L)

    // non-numeric ids refuse loudly in BOTH forms: the CC layer's
    // decimal convergence checksum would null out on string labels and
    // declare a false fixpoint on any diameter-2+ graph
    val sdocs = Seq(("a", 0.1), ("b", 0.1)).toDF("doc_id", "score")
    val spairs = Seq(("a", "b")).toDF("doc_a", "doc_b")
    val exW = intercept[IllegalArgumentException] {
      Components.keepBestPerComponent(
        sdocs, spairs, "doc_id", "doc_a", "doc_b", col("score")).collect()
    }
    assert(exW.getMessage.contains("numeric node ids"))
    val exA = intercept[IllegalArgumentException] {
      Components.keepBestPerComponentAggregated(
        sdocs, spairs, "doc_id", "doc_a", "doc_b", col("score")).collect()
    }
    assert(exA.getMessage.contains("numeric"))
  }
}
