package graft.tools

import java.io.PrintWriter

/** Dev tool: regenerate docs/PLANS.md — formatted physical plans for the
  * flagship queries, the reviewable evidence behind docs/DESIGN.md's
  * plan-shape claims (PlanShapeSpec asserts the load-bearing ones).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    // four cores, as the committed plans were dumped
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val picks = Seq(
      "q02_filter_project" -> "pushdown + pruning: predicate and 7-of-16-column schema reach the scan",
      "q01_pricing_summary" -> "aggregation: partial+final hash agg, one exchange, whole-stage codegen",
      "q04_dim_broadcast_join" -> "dimension join: broadcast, no fact-side shuffle",
      "q16_sort_limit" -> "global top-k: TakeOrderedAndProject, no total sort",
      "q17_candles_5m" -> "candle re-agg: single keyed exchange, min_by/max_by OHLC",
      "q19_asof_join" -> "as-of join, window form: one shuffle per side + keyed window",
      "q59_asof_merge" -> "as-of join, custom MergeAsOfJoinExec: exchanges+sorts from EnsureRequirements",
      "q22_near_dup_pairs" -> "MinHash+LSH: native signature scan, banded self-join",
      "q24_knn_cosine" -> "exact knn: native dot product inside codegen + TakeOrderedAndProject",
      "q61_salted_agg" -> "skew: two-phase salted aggregation",
      "q40_simhash_pairs" -> "SimHash 120-bit: native fingerprint scan, 20-bit-block banded self-join",
      "q41_lsh_neighbors" -> "banded SRP-LSH + in-plan recall/precision verdict: LSH candidates (L small keys per vector, dedup after map-side rescore) full-outer-joined once against the exact pair set, one aggregate computes recall+precision (the earlier semi/anti triple re-executed both subplans)",
      "q64_asof_bucketed" -> "skew-safe as-of: exchanges keyed on struct(key, time-bucket)",
      "q71_repetition_stats" -> "Gopher repetition: native per-row gram count, map-only plan",
      "q73_tfidf_terms" -> "TF-IDF: explode + (doc,term) partial agg, df window by term, broadcast corpus size",
      "q70_decontaminate" -> "decontamination: distinct-gram build + broadcast hash join, corpus never shuffled",
      "q83_ewma" -> "EWMA: ten lag terms in ONE Window node over one series shuffle",
      "q07_topn_per_group" -> "top-n per group: partial WindowGroupLimit truncates to k rows below the exchange",
      "q82_quantized_knn" -> "quantized ANN: native int8 codes in codegen, bounded top-k partial, broadcast queries",
      "q80_boilerplate" -> "boilerplate: 60-bit hashed gram shuffle, broadcast score-back join",
      "q90_scd2_history" -> "SCD2: two window stages share one (key,time) sort",
      "q92_surprisal" -> "surprisal: vocab probed by ONE driver-side aggregate (guard + total literal), broadcast frequency join; self-computed form keeps lineage intact (r7) — precomputed-vocab overload for single-scan reuse",
      "q97_heavy_hitters" -> "heavy hitters: MG candidates + broadcast recount, no vocabulary shuffle",
      "q98_gram_histogram" -> "custom Generator: streaming gram expansion under the count aggregate",
      "q100_curation_extended" -> "capstone v1: gate -> exact dedup -> LSH drop -> decontaminate -> mixture; every stage the verified construction",
      "q121_curation_v2" -> "capstone v2: gopher gate -> bloom-gated dedup -> decontaminate -> mixture; per-stage frames re-execute by design (materialize under caller lifecycle at corpus scale)",
      "q109_bloom_gated_dedup" -> "bloom gate: NOT-probe branch bypasses the join entirely; probe-pass branch alone feeds the digest anti-join",
      "q112_pq_knn" -> "product quantization: ADC table-lookup scoring over codes in codegen, bounded top-k shortlist, id-pruned exact re-rank join",
      "q124_pii_redaction" -> "PII scrub: detection counts + 4-class redaction in ONE map-only codegen projection over the scan — no shuffle, no UDF",
      "q127_bm25" -> "BM25: array-domain term filter inside the lazy-checkpointed (id, dl, matched) projection (ONE corpus scan serves both consumers — no FileScan in the final plan), df window on the aggregated frame, broadcast stats, long-micros totals, TakeOrderedAndProject top-k",
      "q128_doc_chunks" -> "sliding chunking: sequence -> slice -> posexplode, map-only — zero exchanges at any scale",
      "q129_semantic_dedup" -> "semantic dedup: exact-cosine pair graph (oracle baseline) -> jumping CC (log-diameter rounds over the double-checkpointed edge mirror) -> one left join of the id universe",
      "q130_bpe_pairs" -> "BPE pairs: corpus collapses to the word frame FIRST, pair explode over the vocabulary only, TakeOrderedAndProject",
      "q131_quality_logistic" -> "logistic quality filter: rounded features -> logit -> sigmoid in one map-only codegen projection",
      "q132_chunk_pack" -> "chunk->pack: text projected away before the packer's single shard-window exchange; bins aggregated over (shard, bin)",
      "q133_lsh_autosized_recall" -> "auto-sized LSH recall gate: sizing-derived (planes, tables) candidates full-outer-joined once against the exact pair set, one verdict aggregate (q41's pattern at the corpus-path parameters)",
      "q135_leakage_safe_split" -> "leakage-safe split: CC fixpoint over the (tiny) pair graph, ONE join back to the id universe, split = md5-uniform of the group id in the same projection — the corpus never shuffles",
      "q137_token_ids" -> "token-id encode: native VocabEncodeExpr hash probe over the plan-literal vocab inside one codegen scan — the encode stage has zero exchanges; only the vocab build aggregates",
      "q141_resample_linear" -> "linear-interp resample: run-group neighbor lookup BOTH ways (4 linear sorts, no moving unboundedFollowing frame — that plans O(grid²) per key); 2 agg exchanges + 1 broadcast, grid bounded by span/step",
      "q143_purged_folds" -> "purged k-fold: 1-row bounds broadcast-cross onto the corpus, three codegen fold exprs, partial-count hash agg to k rows, lag/lead over the k-row spine — the corpus never shuffles",
      "q146_bigram_surprisal" -> "bigram surprisal: array-level pair expansion (no token-array carry through the generator), three corpus count tables broadcast back, per-doc aggregate",
      "q147_triple_barrier" -> "triple-barrier labels: bounded collect_list(horizon) forward frame + array_position first-touch arithmetic — one sort, one exchange, no joins",
      "q148_volume_bars" -> "volume bars: exclusive running sum -> floor(cum/threshold) bar id; the (key, bar) aggregate reuses the window's key partitioning — ONE exchange end to end",
      "q150_psi_drift" -> "PSI drift: reference bounds broadcast onto the scan, (key, bin, period) partial counts, bins-spine join + window totals over the key×bins frame",
      "q155_curation_capstone" -> "curation capstone: quality gate -> exact dedup -> LSH pairs -> keep-best -> group split -> temperature mix; quality scored once, ONE CC fixpoint, split branch reuses the keep-best grp exchange (ReusedExchange) — corpus shuffles = sum of parts",
      "q156_bigram_oov" -> "bigram artifact reuse: precomputed count tables LEFT-joined back (OOV branches live), contexts derived from the bigram table not the corpus pair stream",
      "q160_vpin" -> "VPIN: sign carry via last-ignoreNulls gap-fill + bucket hash agg + tiny bucket-frame window — one (key, order) sort end to end, no recurrence",
      "q165_mad_outliers" -> "MAD outliers: two |groups|-row percentile aggregates broadcast back, one final count agg — the corpus shuffles once on its own group-by",
      "q167_autocorrelation" -> "ACF: four lag columns in ONE Window node over one series exchange, guarded covar/stddev components in a single hash agg (ANSI-safe Pearson)",
      "q169_cross_sectional_z" -> "cross-sectional z: two tiny per-day aggregates broadcast back, corpus shuffles once for the rank window",
      "q172_ks_drift" -> "KS drift: (key, value) hash agg to distincts, one per-key sort over distinct values, final per-key max aggregate — integer running counts",
      "q175_research_capstone" -> "research capstone: median/fracdiff/label/uniqueness windows share ONE (user_id) exchange and sort; fold bounds broadcast-cross; (fold, label) summary is the only other shuffle",
      "q185_tear_sheet" -> "tear sheet: tick stream collapses to the keys×days close frame in ONE hash agg; lag/running-max windows and the final moment aggregate ride that tiny frame",
      "q187_pairs_screen" -> "pairs screen: pair cross touches only the tiny close frame (equi-join on the day), fit pass then spread pass; sr6-rounded beta/alpha make the spread arithmetic portable",
      "q188_momentum_backtest" -> "momentum backtest: per-key windows share one (key) sort, ONE day re-partition for the ranking window, cumulative window on the |days|-row frame (single tiny partition by construction)",
      "q190_risk_contrib" -> "risk decomposition: covariance matrix over the pair cross of the close frame; pico-unit BIGINT quantization makes row sums/total exact integers — matrix/row/total stages all keys²-row frames",
      "q191_newey_west" -> "Newey-West: five lag columns in ONE Window node over one series exchange, 23 moment columns in a single hash agg, lrv/t as scalar projection",
      "q204_rank_ic" -> "rank IC: per horizon, two ranking windows re-partition the day frame by period, one hash agg reduces to integer rank sums; summary window on the periods frame",
      "q206_bootstrap_sharpe" -> "bootstrap Sharpe: ticks collapse to the market series; the hash-derived draw grid explodes from a 1-row block-count frame and equi-joins blocks — B tiny replicate aggregates, data-size-independent",
      "q208_blocked_pairs" -> "blocked pair universe: the |keys|-row block frame BROADCASTS onto both pair sides and pair_block joins the equi-join keys — cross-block pairs never materialize; the close frame is localCheckpoint-pinned so its scan+aggregate runs once across blocks + both screens",
      "q212_pairs_backtest" -> "pairs-desk capstone: the 20-row screened frame broadcasts onto the close frame (no pair cross in the trading leg); exact integer prefix sums + lead share ONE (k1,k2) sort; one |pairs|-row aggregate closes it",
      "q219_span_cut" -> "substring-dedup cut: ONE duplicated-gram subtree (group-by + keeper window, PlanShapeSpec-pinned), kept-wins decided by a single max(flag) position reduce, removed-position sets broadcast back per doc — the corpus rewrite is a map-only projection",
      "q224_adjusted_close" -> "corporate-action adjustment: one lag window for base prices, the rare-event list collected to a |keys|-row frame and BROADCAST back, per-row left-to-right factor fold — the bar frame is localCheckpoint-pinned so its aggregate runs once across both readers")
    val out = new StringBuilder
    out.append("# Physical plans — flagship queries (sf0.001, AQE final plans)\n\n")
    out.append("Generated by `graft.tools.DumpPlans`; regenerate after plan-affecting\n")
    out.append("changes. `PlanShapeSpec` asserts the load-bearing properties in CI.\n")
    out.append("Round-over-round bench movement causes live in `docs/BENCH_NOTES.md`.\n")
    picks.foreach { case (name, why) =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      out.append(s"\n## $name\n\n$why\n\n```\n${plan.trim}\n```\n")
    }
    val pw = new PrintWriter("docs/PLANS.md", "UTF-8")
    try pw.write(out.toString) finally pw.close()
    println("WROTE docs/PLANS.md")
    spark.stop()
  }
}
