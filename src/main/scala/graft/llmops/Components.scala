package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list — the
  * stage that turns near-duplicate candidate PAIRS (q22/q40's output)
  * into duplicate GROUPS so a curation pipeline can keep exactly one
  * representative per cluster. Pair-based dropping ("remove doc_b of
  * every pair") over-deletes on chains (a-c, b-c drops b although b
  * duplicates nothing kept); component-based dedup keeps one doc per
  * transitive cluster.
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labeled with itself; each round a node's label becomes the min of
  * its own and its neighbors' labels; at fixpoint every node carries
  * the min node id of its component. Each round is one shuffle-join
  * (labels ⋈ edges on the source endpoint) plus one min-aggregate —
  * no driver-side graph state, so it scales to edge lists that dwarf
  * executor memory.
  *
  * Scale notes for the 100 TB mandate:
  *   - rounds needed = graph diameter. Near-dup clusters are small and
  *     dense (shingle overlap is transitive-ish), so diameter is tiny;
  *     the default `maxIters` is a safety rail, not a budget.
  *   - label state is truncated with `localCheckpoint` each round —
  *     without it the join lineage doubles per iteration and Catalyst
  *     re-plans the whole history (classic iterative-Spark trap).
  *   - convergence is detected by the label-sum invariant: labels only
  *     ever decrease, so an unchanged sum(label) means a fixpoint — a
  *     one-scalar aggregate instead of a changed-rows anti-join.
  *   - for adversarial graphs with long chains / huge components, the
  *     published upgrade path is the large-star/small-star algorithm
  *     (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *     SoCC 2014), which converges in O(log n) rounds with the same
  *     join+min building blocks. Not needed for dedup-shaped graphs.
  */
object Components {

  /** Component assignment for every node of the (undirected) edge list:
    * (id, component) where `component` is the minimum node id reachable
    * from `id`. Isolated nodes never appear in `edges` and so are their
    * own implicit singleton components — callers wanting them listed
    * can union the node universe in.
    *
    * @param edges one row per undirected edge; self-loops and duplicate
    *              edges are tolerated (they cannot change the fixpoint)
    */
  def connectedComponents(
      edges: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 25): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val (bi, biRows) = bidirectional(edges, aCol, bCol)
    propagateToFixpoint(bi, biRows, maxIters,
      "connectedComponents",
      "(graph diameter exceeds the budget); raise maxIters or use " +
        "connectedComponentsAlternating") { (bi, labels) =>
      val msgs = bi.join(labels, bi("src") === labels("id"))
        .select(bi("dst").as("id"), labels("label"))
      (labels.select(col("id"), col("label")).union(msgs)
        .groupBy(col("id")).agg(min(col("label")).as("label")), Nil)
    }
  }

  /** Shared fixpoint driver for the label-propagation variants: init
    * folds round 0 into one aggregate (label = min(id, neighbors)); each
    * round's `step` builds the next label frame (plus any intermediates
    * it lazily checkpointed) which is lazy-checkpointed here and
    * materialized by the one checkSum convergence action per round — one
    * job per round total. The previous round's label blocks (and the
    * step's intermediates) are superseded the moment `next`
    * materializes and are released immediately: checkpoint residue
    * stays at one label table, not rounds× of them. (Residue is not
    * free — in a shared JVM the leftover blocks squeeze memory for
    * whatever runs next; r6 saw q73–q76, the queries right after this
    * operator, inflate together.) Exhausting the round budget without
    * the fixpoint would silently return min-of-k-hop labels — fail
    * loudly instead.
    */
  private def propagateToFixpoint(
      bi: DataFrame, biRows: Long, maxIters: Int, variant: String, remedy: String)(
      step: (DataFrame, DataFrame) => (DataFrame, Seq[DataFrame])): DataFrame =
      withLoopShuffleWidth(bi.sparkSession, biRows) {
    var labels = bi.select(col("src").as("id"), col("dst"))
      .groupBy(col("id"))
      .agg(least(col("id"), min(col("dst"))).as("label"))
      .localCheckpoint(false)
    var prevSum = checkSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val (stepped, intermediates) = step(bi, labels)
      val next = stepped.localCheckpoint(false)
      val sum = checkSum(next)
      converged = sum == prevSum
      releaseCheckpoint(labels)
      intermediates.foreach(releaseCheckpoint)
      prevSum = sum
      labels = next
      iter += 1
    }
    releaseCheckpoint(bi)
    if (!converged)
      throw new IllegalStateException(
        s"$variant did not converge in $maxIters rounds $remedy")
    labels
  }   // labels is checkpointed: consumers read blocks, never re-plan
      // under the loop width this scope restores on exit

  /** Both propagation variants' shared edge prep: null-filtered edges,
    * materialized ONCE, then mirrored into the bidirectional frame the
    * rounds re-read. Returns that frame with its row count, taken by an
    * [[org.apache.spark.sql.Observation]] on the first checkpoint's own
    * job (the mirror holds exactly twice the forward rows), so sizing
    * the loop costs no counting action.
    *
    * Two lineage cuts, deliberately: the first checkpoint executes the
    * caller's edge-producing plan exactly once (the union below would
    * otherwise run it once per branch — an all-pairs cosine join or an
    * LSH banding pipeline, twice); the second pins the mirrored frame
    * the rounds actually join against. Measured (r10, q129's embedding
    * pair graph, 16 propagation rounds): feeding the rounds a deep-
    * lineage frame costs ~0.4 s/round vs ~0.15 s/round for a
    * shallow-lineage one — per-round job overhead tracks the ORIGINAL
    * plan depth even though the checkpoint serves all reads, so cutting
    * before the loop pays for itself within two rounds. The producer
    * blocks are released as soon as the mirror is live.
    */
  private def bidirectional(
      edges: DataFrame, aCol: String, bCol: String): (DataFrame, Long) = {
    // numeric node ids are a hard requirement of BOTH propagation
    // variants, not a style choice: the convergence probes sum labels
    // as decimal ([[checkSum]]/[[edgeFingerprint]]), and a non-numeric
    // label casts to null there — the sums read null == null from
    // round one and the loop would declare a FALSE fixpoint silently,
    // returning min-of-1-hop labels on any graph with diameter > 1.
    Seq(aCol, bCol).foreach { c =>
      require(edges.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"connected components requires numeric node ids: column '$c' is " +
          edges.schema(c).dataType.catalogString +
          " — a non-numeric label nulls the decimal convergence checksum and the " +
          "fixpoint loop would terminate early with wrong labels; map ids to longs first")
    }
    val fwdRows = Observation()
    val fwd = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .observe(fwdRows, count(lit(1)).as("n"))
      .localCheckpoint()
    val bi = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    releaseCheckpoint(fwd)
    (bi, 2L * fwdRows.get("n").asInstanceOf[Long])
  }

  /** Target rows per shuffle partition inside a fixpoint ROUND (r19,
    * guide §2.2): label/edge frames are a few long columns, so ~2M rows
    * is tens of MB — comfortably one task. */
  private val RowsPerLoopPartition = 2L << 20

  /** Run `body` with spark.sql.shuffle.partitions scoped DOWN to what
    * the fixpoint's edge set actually needs, restoring the session
    * setting afterwards (r19, guide §2.2 fewer-larger partitions +
    * §1.2 per-round fixed cost). Every round of a propagation loop is a
    * join + aggregate over the edge/label frames — at the session-wide
    * width (sized for corpus scans) a 10⁴-node near-dup graph pays 32+
    * tasks of scheduling per stage per round, and the rounds are
    * SEQUENTIAL, so the width multiplies straight into wall time
    * (measured via tools/Probe: q129 8.1 s at width 32 → 4.2 s at 1;
    * q72 4.1 → 2.9). Width derives from the edge count the caller
    * already holds — at corpus scale it saturates back to the session
    * setting, so this is a no-op exactly where wide shuffles are right. The conf mutation
    * is session-scoped and restored in finally; fixpoint loops run on
    * one driver thread between actions, the engine's sequential-query
    * discipline (Bench/Verify) keeps no concurrent planner on the
    * session, and a non-numeric width (e.g. under an exotic conf)
    * falls through to a plain run.
    */
  private def withLoopShuffleWidth[A](spark: SparkSession, edgeRows: Long)(body: => A): A =
    graft.util.Partitioning.withShuffleWidth(spark, edgeRows, RowsPerLoopPartition)(body)

  /** Drop the block-manager blocks behind a `localCheckpoint`ed frame
    * that a later round has superseded. A checkpointed Dataset's plan is
    * a [[LogicalRDD]] over the block-backed RDD — unpersisting that RDD
    * is the only way to free the blocks before GC gets to them (the
    * Dataset-level `unpersist` talks to the cache manager, which never
    * knew about checkpoint blocks). No-op on non-checkpointed frames.
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** One-scalar convergence probe: sum of labels (exact decimal — label
    * ids can be any long, so a double sum could hide a change in
    * rounding). Labels are monotone non-increasing under min-propagation,
    * so equal consecutive sums imply a fixpoint.
    */
  private def checkSum(labels: DataFrame): java.math.BigDecimal =
    labels.agg(sum(col("label").cast("decimal(38,0)")).as("s"))
      .head().getDecimal(0)

  /** One-action edge-set fingerprint for the alternating variant's
    * convergence probe: (count, Σ xxhash64(p, c)) in exact decimal (a
    * sum of up to 10¹² signed 64-bit hashes fits decimal(38,0) with 7
    * digits to spare). Unlike min-propagation's label sum there is no
    * monotone scalar over a mutating edge SET, so set equality is what
    * must be detected — the hash sum is order-independent and one
    * aggregate, vs the two full-set actions of count+except.
    */
  private def edgeFingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
    val r = e.agg(count(lit(1)).as("n"),
      sum(xxhash64(col("p"), col("c")).cast("decimal(38,0)")).as("h")).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Log-rounds connected components: the alternating large-star /
    * small-star algorithm (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014). Same (id, component) output as
    * [[connectedComponents]], but converges in O(log^2 n) rounds
    * regardless of graph diameter — the variant to reach for when
    * components may be deep chains rather than dense near-dup clusters.
    *
    * Each round is two star operations, each a groupBy-min plus an
    * equi-join on the node id — the same shuffle building blocks as
    * min-propagation, just a rewiring of the edge set instead of a label
    * table:
    *   - large-star(u): every neighbor v > u re-attaches to
    *     m = min(neighborhood(u) + u) — strictly shrinks long tails;
    *   - small-star(u): every neighbor v < u and u itself attach to
    *     m = min of u's smaller neighborhood — flattens toward stars.
    * At fixpoint the edge set IS the component assignment: every edge is
    * (component-min, member). Convergence is probed by a ONE-ACTION
    * (count, Σ xxhash64(p,c)) fingerprint compared against the previous
    * round's — the r5 probe's `count() + except().isEmpty` was two extra
    * full-edge-set actions per round, exactly the cost this variant
    * exists to avoid at adversarial scale. Equal fingerprints on unequal
    * sets require a hash-sum collision (~2⁻⁶⁴ per round, non-adversarial
    * inputs — edge ids, not attacker-chosen hashes); the exact-compare
    * form this replaced is one `git log -S except` away if a caller ever
    * needs certainty over cost.
    */
  /** @param exactConvergence when true, convergence additionally verifies
    *        set equality with a `count + except` probe (two extra full-set
    *        actions on the FINAL round only) — for callers who need
    *        certainty over the ~2⁻⁶⁴/round fingerprint-collision risk
    */
  def connectedComponentsAlternating(
      edges: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 30, exactConvergence: Boolean = false): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val raw = edges.select(col(aCol).as("x"), col(bCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    // every node ever seen (incl. self-loop-only nodes): own their label
    val nodes = raw.select(col("x").as("id"))
      .union(raw.select(col("y").as("id"))).distinct().localCheckpoint()
    var e = raw.filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("p"), greatest(col("x"), col("y")).as("c"))
      .distinct().localCheckpoint()
    var iter = 0
    var prevFp = edgeFingerprint(e)
    var converged = prevFp._1 == 0L
    // prevFp._1 IS the edge count — no extra action (ComponentsSpec pins
    // this loop's job budget)
    withLoopShuffleWidth(e.sparkSession, prevFp._1) { while (iter < maxIters && !converged) {
      // ---- large-star ----
      val bi = e.select(col("p").as("x"), col("c").as("y"))
        .union(e.select(col("c").as("x"), col("p").as("y")))
      val mins = bi.groupBy(col("x")).agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      val afterLarge = bi.filter(col("y") > col("x"))
        .join(mins, "x")
        .select(col("m").as("p"), col("y").as("c"))
        .filter(col("p") =!= col("c")).distinct()
      // ---- small-star ----
      val bi2 = afterLarge.select(col("p").as("x"), col("c").as("y"))
        .union(afterLarge.select(col("c").as("x"), col("p").as("y")))
      val smaller = bi2.filter(col("y") < col("x"))
      val mins2 = smaller.groupBy(col("x")).agg(min(col("y")).as("m"))
      val next = smaller.join(mins2, "x")
        .filter(col("y") =!= col("m")).select(col("m").as("p"), col("y").as("c"))
        .union(mins2.select(col("m").as("p"), col("x").as("c")))
        .distinct().localCheckpoint(false)
      // lazy checkpoint materialized by the fingerprint action — one job
      // per round total, same discipline as connectedComponents
      val fp = edgeFingerprint(next)
      converged = fp == prevFp &&
        // opt-in exact probe: only ever runs on the candidate-final round,
        // so its two full-set actions are paid once, not per round
        (!exactConvergence ||
          (e.except(next).isEmpty && next.except(e).isEmpty))
      prevFp = fp
      releaseCheckpoint(e) // superseded once next is live (probes above ran)
      e = next
      iter += 1
    } }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsAlternating did not converge in $maxIters rounds; raise maxIters")
    nodes.join(e.select(col("c").as("id"), col("p").as("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Min-label propagation WITH per-round pointer jumping: after the
    * neighbor-propagation step each node also follows its current label
    * one hop (label := label-of-label), so chain depth HALVES per round
    * on top of the one-hop advance — convergence in O(log diameter)
    * rounds instead of O(diameter), at ~1.5x the per-round shuffle (one
    * extra equi-join on the label table). Same (id, component) fixpoint
    * as [[connectedComponents]]: both steps are monotone non-increasing
    * toward min-reachable-id, and convergence is the same exact-decimal
    * label-sum probe over a full (propagate + jump) round.
    *
    * When to prefer which: at corpus scale with dense near-dup clusters
    * (shallow diameter) plain min-propagation does fewer joins per
    * round; on chainy graphs — embedding-similarity threads, long
    * citation chains — the round count dominates and this variant wins
    * (measured on q129's embedding pair graph, 16 min-prop rounds:
    * composed query 8.7→5.6 s together with the [[bidirectional]]
    * lineage cut; parity on the shallow q72 minhash graph;
    * docs/BENCH_NOTES.md r10).
    */
  def connectedComponentsJumping(
      edges: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 25): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val (bi, biRows) = bidirectional(edges, aCol, bCol)
    propagateToFixpoint(bi, biRows, maxIters,
      "connectedComponentsJumping", "; raise maxIters") { (bi, labels) =>
      val msgs = bi.join(labels, bi("src") === labels("id"))
        .select(bi("dst").as("id"), labels("label"))
      // lazy-checkpointed so the two consumers below (join left side +
      // label lookup table) compute the propagation shuffle ONCE — the
      // persisted blocks serve the second branch within the same job
      val prop = labels.select(col("id"), col("label")).union(msgs)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(false)
      val lut = prop.select(col("id").as("__jid"), col("label").as("__jlabel"))
      (prop.join(lut, prop("label") === col("__jid"), "left")
        .select(prop("id"),
          least(prop("label"), coalesce(col("__jlabel"), prop("label"))).as("label")),
        Seq(prop))
    }
  }

  /** Component-based near-duplicate removal: keep, per transitive
    * duplicate cluster, only the row whose `idCol` equals the component
    * minimum; rows not in any pair pass through untouched (left-anti
    * against the non-representative member list, so the corpus side is
    * scanned once and never shuffled on text).
    */
  def dedupByComponents(
      docs: DataFrame, pairs: DataFrame,
      idCol: String, aCol: String, bCol: String): DataFrame = {
    val drop = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Every doc with its duplicate-cluster id: docs in some candidate
    * pair carry their component's min doc id, docs in no pair are their
    * own singleton group (`grp = idCol`). The seam the group-level
    * curation ops build on ([[keepBestPerComponent]], group-aware
    * splits): one CC fixpoint over the pair graph (tiny next to the
    * corpus) plus a single broadcast-or-shuffle join back — the corpus
    * itself is scanned once and never re-shuffled on text.
    */
  def componentGroups(
      docs: DataFrame, pairs: DataFrame,
      idCol: String, aCol: String, bCol: String): DataFrame = {
    require(!docs.columns.contains("grp"),
      "docs already has a 'grp' column — componentGroups would silently shadow it")
    val comp = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("label").as("grp"))
    docs.join(comp, Seq(idCol), "left")
      .withColumn("grp", coalesce(col("grp"), col(idCol)))
  }

  /** Quality-canonical near-dup selection: within each duplicate
    * cluster keep the single best row by `score` (ties broken by
    * `idCol` ascending, so the pick is total and engine-portable),
    * rather than [[dedupByComponents]]'s min-id representative — the
    * RefinedWeb-style "keep the highest-quality copy" curation rule.
    * Returns every input row plus `grp` and a boolean `kept`, so the
    * caller can audit the drops (or filter `kept` for the survivors).
    *
    * Scale shape: the rank window partitions by `grp` — duplicate
    * clusters hash-partition freely, no global sort, ONE shuffle of
    * the universe. MEASURED (local[32]; BENCH_NOTES "r10:
    * canonical-selection window vs argmax-aggregate"): the window
    * wins BOTH probed regimes — many small clusters AND a star cluster
    * holding half a 4M/32M universe (24.0 vs 41.4 s and 39.8 vs
    * 50.3 s at 32M) — because the aggregated variant's keeper
    * join-back re-shuffles the whole universe, while a giant cluster's
    * single-task sort stays cheap until it spills. Reach for
    * [[keepBestPerComponentAggregated]] only when one cluster's rows
    * exceed task memory (the sort-spill regime a boilerplate-dominated
    * corpus can hit); both forms are property-pinned output-identical.
    */
  def keepBestPerComponent(
      docs: DataFrame, pairs: DataFrame,
      idCol: String, aCol: String, bCol: String,
      score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!docs.columns.contains("kept"),
      "docs already has a 'kept' column — keepBestPerComponent would silently shadow it")
    val w = Window.partitionBy(col("grp")).orderBy(score.desc, col(idCol))
    componentGroups(docs, pairs, idCol, aCol, bCol)
      .withColumn("kept", row_number().over(w) === 1)
  }

  /** Sort-spill-regime form of [[keepBestPerComponent]]: an ARGMAX
    * AGGREGATE — `max_by(id, struct(score, -id))` gets a map-side
    * partial, so even a giant cluster collapses to one row per
    * partition BEFORE the shuffle, where the window form sorts the
    * whole cluster through a single task. The keeper table (one row
    * per cluster) joins back on `grp` — a SECOND full-universe
    * shuffle, which is why the window form measures faster everywhere
    * the giant cluster's sort still fits in task memory (see the
    * default's doc); this variant exists for the regime where it does
    * not.
    *
    * Ordering parity with the window form, exactly (the equivalence is
    * spec-pinned): the argmax key is `struct(score IS NOT NULL, score,
    * -id)` — the leading flag reproduces `desc` NULLS LAST (a real
    * score, including -Infinity, always beats null; an all-null
    * cluster falls to the id tie-break), the score rides in its NATIVE
    * type (no double cast — a decimal that differs only beyond double
    * precision must still win), and `-id` maximizes to the minimum id.
    * Numeric ids are required here for the negation — and at the CC
    * layer for everyone (see [[bidirectional]]'s guard).
    */
  def keepBestPerComponentAggregated(
      docs: DataFrame, pairs: DataFrame,
      idCol: String, aCol: String, bCol: String,
      score: Column): DataFrame = {
    require(!docs.columns.contains("kept"),
      "docs already has a 'kept' column — keepBestPerComponentAggregated would silently shadow it")
    require(docs.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"keepBestPerComponentAggregated requires a numeric $idCol for its -id argmax " +
        "tie-break (got " + docs.schema(idCol).dataType.catalogString +
        "); use keepBestPerComponent, whose window tie-break orders any orderable id")
    val g = componentGroups(docs, pairs, idCol, aCol, bCol)
    val ord = struct(
      score.isNotNull.cast("int").as("nn"),
      score.as("s"),
      (-col(idCol)).as("nid"))
    val keepers = g.groupBy(col("grp"))
      .agg(max_by(col(idCol), ord).as("__keep_id"))
    g.join(keepers, Seq("grp"))
      .withColumn("kept", col(idCol) === col("__keep_id"))
      .drop("__keep_id")
  }
}
