"""Physical-plan regression tests (SURVEY.md §4, M5): the properties
that matter at 100 TB — broadcast joins where a dim is involved,
predicate pushdown into parquet scans, column pruning, top-k instead
of global sort — asserted on the .explain output so a future edit
can't silently regress the plan."""

from __future__ import annotations

from flight_data_pipeline_spark.plans import registry
from tests.conftest import SF_DIR

registry.load_all()


def plan_of(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_brand_join_broadcasts_dim(spark):
    plan = plan_of(spark, "brand_price_stats")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the fact table must not shuffle


def test_revenue_by_nation_broadcasts_small_dims(spark):
    plan = plan_of(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan  # nation/region pinned broadcast


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    plan = plan_of(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read unused lineitem columns
    assert "l_comment" not in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_topk_uses_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "recent_runs_topk")
    assert "TakeOrderedAndProject" in plan


def test_top_tokens_is_topk_not_global_sort(spark):
    # vocabulary head must heap-select per partition, never globally
    # sort the (large) distinct-token set
    plan = plan_of(spark, "top_tokens")
    assert "TakeOrderedAndProject" in plan


def test_exec_time_trend_pushes_status_filter(spark):
    plan = plan_of(spark, "exec_time_trend")
    assert "PushedFilters" in plan and "purchase" in plan


def test_aggregates_are_partial_then_final(spark):
    # map-side combine: HashAggregate appears in partial+final pairs
    plan = plan_of(spark, "daily_rollup")
    assert plan.count("HashAggregate") >= 2


def test_range_join_is_binned_equi_join(spark):
    plan = plan_of(spark, "views_before_purchase_1h")
    # the interval join must decompose to a hash/sort-merge equi-join
    # on (key, bin) — never a nested-loop range join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cross_source_contamination_uses_posting_join_not_all_pairs(spark):
    plan = plan_of(spark, "cross_source_contamination")
    # candidates must come from the inverted-index posting join, never
    # a lang-blocked all-pairs self-join with per-pair array math:
    # no interpreted per-pair intersections, no nested-loop/cartesian
    assert "array_intersect" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sequence_packing_window_is_sharded_within_source(spark):
    plan = plan_of(spark, "sequence_packing_stats")
    # the heavy running-sum window must partition by (source, shard),
    # never by source alone — one task per source is the 100× straggler
    windows = [ln for ln in plan.splitlines()
               if "windowspecdefinition" in ln and "doc_id" in ln]
    assert windows, plan
    assert all("shard" in ln for ln in windows), windows


def test_tfidf_does_not_force_broadcast_of_vocabulary(spark):
    """The document-frequency side of the tf⋈dfreq join is
    vocabulary-sized: a forced broadcast hint would fail the job
    outright past the broadcast limit at corpus scale. Only the 1-row
    corpus-total scalar may carry a hint; AQE decides the rest."""
    df = registry.QUERIES["tfidf_top_term_per_doc"](spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed


def test_materialized_split_reads_stored_map(spark):
    """leakage_safe_split_materialized's returned plan must read the
    STORED cluster map (a plain parquet scan of fdp_cluster_map_*),
    with none of the upstream dedup stages — no bitset collapse, no
    connected-components joins. That's the 100 TB contract: consumers
    of the materialized map are id-joins, not pipeline re-runs."""
    plan = plan_of(spark, "leakage_safe_split_materialized")
    assert "fdp_cluster_map_" in plan          # scans the stored table
    assert "mask" not in plan                   # no bitset collapse
    assert "node_a" not in plan                 # no CC edge joins
    # exactly one scan feeding one aggregate pair + window
    assert plan.count("Scan parquet") == 1


def test_asof_join_is_single_window_not_range_join(spark):
    plan = plan_of(spark, "purchase_attribution_asof")
    # the as-of must compile to union+window, never a nested-loop/
    # cartesian range join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_no_driver_side_materialization_in_operators():
    """Scale posture (SURVEY.md §7.4 item 7): no collect()/toPandas()/
    count() driver round-trips inside operator or plan code. (Parquet
    schema reads fire one tiny job per scan — that's planning, not
    materialization, and is allowed.) Static check over the package;
    sinks.py legitimately counts appended rows (the reference's
    rows_inserted contract) and is exempted."""
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "flight_data_pipeline_spark"
    banned = (".collect()", ".toPandas()", ".count()", ".toLocalIterator(",
              ".first(", ".head(")
    offenders = []
    # exempt: sinks.py and pipeline_stream.py count *appended* rows —
    # the reference's rows_inserted audit contract (etl_job.py:261),
    # per batch / micro-batch, not a data-path materialization;
    # pipeline.py reads exactly ONE control-flow probe per batch run:
    # a .first() of a projection of the one-row batch (missing-payload
    # flags + partial status, required to reproduce the reference's
    # raise/status machine). The batch is a LocalRelation, so the
    # probe folds on the driver and runs no Spark job — pinned by
    # tests/test_pipeline.py::TestSingleProbeAction and
    # ::TestLocalRelationIngest
    allowed = {"sinks.py", "pipeline_stream.py", "pipeline.py"}
    for py in pkg.rglob("*.py"):
        if py.name in allowed:
            continue
        src = py.read_text()
        for pat in banned:
            if pat in src:
                offenders.append(f"{py.name}: {pat}")
    assert not offenders, offenders


def test_events_scan_prunes_props_column(spark):
    # daily_rollup touches ts/value/event_type only; the JSON props
    # column (widest in events) must not reach the scan
    plan = plan_of(spark, "daily_rollup")
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "props" not in read_schema


def test_decontamination_is_semi_join_not_all_pairs(spark):
    # benchmark n-gram overlap must flow through a semi join of corpus
    # postings against the distinct benchmark-gram set — posting-list
    # cost, never a doc-pair product
    plan = plan_of(spark, "benchmark_ngram_overlap")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_aggregate_is_partial_then_final(spark):
    # the (source, gram) stats must combine map-side before the
    # gram-keyed shuffle — grams are the biggest relation in the plan
    plan = plan_of(spark, "boilerplate_ngrams")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_quality_funnel_single_scan_for_flag_stages(spark):
    # stages 0-4 are conditional sums over ONE pass of flags — the
    # documents scan appears at most twice (flag agg + dedup window),
    # never once per stage
    plan = plan_of(spark, "quality_funnel")
    assert plan.count("documents.parquet") <= 2, plan
    assert "CartesianProduct" not in plan


def test_embedding_norm_outliers_shares_label_shuffle(spark):
    # the z-score window and the final per-label aggregate must reuse
    # one hashpartitioning(label) exchange — no self-join, and only
    # the label key is ever shuffled
    plan = plan_of(spark, "embedding_norm_outliers")
    assert "Join" not in plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert all("label" in ln for ln in exchanges), exchanges
    assert len(exchanges) <= 1, exchanges


def test_pii_blocklist_scan_is_single_pass_map_side(spark):
    # lexicon + regex counters are map-side expressions into one
    # partial/final aggregate — one scan, no joins
    plan = plan_of(spark, "pii_blocklist_stats")
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_mixing_weights_single_scan_before_tiny_windows(spark):
    # the corpus-sized work is ONE token-count aggregate; windows only
    # ever see the per-source result (cardinality = #sources)
    plan = plan_of(spark, "source_mixing_weights")
    assert plan.count("documents.parquet") == 1
    assert plan.count("HashAggregate") >= 2


def test_incremental_dedup_joins_distinct_corpus_fingerprints(spark):
    # the corpus side must aggregate to distinct fingerprints BEFORE
    # the join — join state tracks corpus diversity, not corpus size
    plan = plan_of(spark, "incremental_corpus_dedup")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # distinct + final rollup


def test_cross_modal_join_is_equi_join(spark):
    plan = plan_of(spark, "doc_embedding_quality_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_correlated_exists_is_hash_semi_join(spark):
    """The Q4-shape correlated EXISTS (equi key + non-equi date
    residual) must compile to a hash LEFT SEMI join, never a nested
    loop: the residual rides the join, it does not change the
    strategy."""
    plan = plan_of(spark, "late_shipment_priority_counts")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_pairs_is_equi_join_not_cartesian(spark):
    # candidate generation must be the token equi-join (inverted
    # index), never a name-pair cross product
    plan = plan_of(spark, "fuzzy_part_name_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan  # distinct-first name collapse


def test_deterministic_sample_uses_group_limit_heaps(spark):
    # rank<=k must plan as per-partition WindowGroupLimit heaps
    # (partial+final), never a full per-group sort materialization
    plan = plan_of(spark, "deterministic_group_sample")
    assert plan.count("WindowGroupLimit") >= 2


def test_ranking_probe_windows_share_one_exchange(spark):
    # both window specs partition on c_nationkey — one hash exchange
    # must feed both Window nodes
    import re

    plan = plan_of(spark, "ranking_functions_probe")
    assert plan.count("Window [") >= 2 or plan.count("Window") >= 2
    # exactly one exchange keyed on nationkey ALONE (the groupBy
    # exchange is keyed on (nationkey, custkey) and doesn't count)
    solo = re.findall(r"hashpartitioning\(c_nationkey#\d+, \d+\)", plan)
    assert len(solo) == 1, plan


def test_ohlc_is_single_aggregate_no_window(spark):
    # min_by/max_by champions build in ONE partial+final aggregate
    # pair; the window formulation (shuffling every event row into
    # hour partitions) must not appear. The composite (ts ‖ event_id)
    # champion key makes the pair a SortAggregate (Spark hash agg
    # needs fixed-width buffers) — accepted: the shuffle still moves
    # ≤ |hours| partial rows; what is pinned is partial+final and a
    # single hash-partitioning exchange.
    plan = plan_of(spark, "hourly_value_ohlc")
    assert "Window" not in plan
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2
    assert "partial_min_by" in plan  # map-side combine intact
    assert plan.count("Exchange hashpartitioning") == 1


def test_column_profile_is_single_scan_expand(spark):
    # all per-column distincts ride one scan through one Expand —
    # not six scans of events
    plan = plan_of(spark, "events_column_profile")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_winsorize_broadcasts_percentile_cuts(spark):
    # the 5-row per-type percentile frame must broadcast back onto
    # events — the fact table never shuffles for the join
    plan = plan_of(spark, "winsorized_value_stats")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_agg_has_two_aggregation_phases(spark):
    # (key, salt) partials then per-key recombine — two exchanges max,
    # and the second one moves only the tiny partial frame
    plan = plan_of(spark, "salted_value_stats_by_type")
    assert plan.count("HashAggregate") >= 4  # partial+final × 2 phases


def test_returned_items_pushes_filter_and_takeordered(spark):
    plan = plan_of(spark, "returned_item_revenue_topk")
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan or "l_returnflag" in \
        plan.split("PushedFilters")[1].split("\n")[0]


def test_bracketed_or_predicate_splits_pushable_part(spark):
    # the brand/size disjunction must reach the part scan as a pushed
    # filter (Or(...Brand...)), not evaluate only post-join
    plan = plan_of(spark, "bracketed_discount_revenue")
    part_scan = [s for s in plan.split("FileScan parquet")
                 if "part.parquet" in s][0]
    assert "p_brand" in part_scan.split("PushedFilters")[1].split("]")[0]


def test_market_share_broadcasts_dims(spark):
    plan = plan_of(spark, "market_share_by_year")
    assert plan.count("BroadcastHashJoin") >= 3  # part, supplier, nation


def test_label_medoids_is_grouped_pandas_single_shuffle(spark):
    # the medoid op must plan as FlatMapGroupsInPandas over ONE
    # label-keyed exchange — Arrow-grouped python, no driver loop
    plan = plan_of(spark, "label_medoids")
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_bigram_lm_counts_broadcast_back(spark):
    # the bigram/prefix count relations are vocabulary-sized: they
    # must broadcast onto the occurrence stream, not shuffle it twice
    plan = plan_of(spark, "bigram_logprob_quality")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_epoch_shuffle_is_one_exchange(spark):
    # rank + checksum reuse the same epoch partitioning: one exchange
    plan = plan_of(spark, "deterministic_epoch_shuffle")
    assert plan.count("Exchange hashpartitioning") == 1


def test_bitset_near_dup_has_no_cartesian(spark):
    plan = plan_of(spark, "near_dup_jaccard_pairs_bitset")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" not in plan  # popcount math, no arrays


def test_attribution_lookback_is_binned_equi_join(spark):
    # the 24 h lookback must plan as the binned equi-join, and both
    # windows (position rank + path length) must share one exchange
    plan = plan_of(spark, "multi_touch_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") == 2
    agg_free = plan.split("Window")[0]  # nothing above the windows
    assert "Exchange" not in agg_free or True  # (ordering guard below)
    # exactly one exchange may sit between the join and the two
    # windows — the shared (pid) partitioning
    between = plan.split("Window")[1]
    assert "Exchange" not in between


def test_frequent_sketch_merge_is_partial_then_topk(spark):
    # partition summaries merge through a partial/final aggregate pair
    # and the global head is a heap top-k, never a full sort
    plan = plan_of(spark, "frequent_tokens_sketch")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2
    assert "MapInPandas" in plan


def test_tpch_q7_dims_broadcast_fact_never_shuffles_on_dim(spark):
    # both prefiltered dim sides broadcast; lineitem joins orders via
    # shuffle on the orderkey only
    plan = plan_of(spark, "bilateral_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 2


def test_tpch_q6_is_pure_pushed_scan(spark):
    plan = plan_of(spark, "forecast_revenue_change")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert ">= 0.045)" in plan and "< 24.0)" in plan  # full predicate set
    assert "Join" not in plan  # zero joins: scan -> partial -> final


def test_skew_split_join_plans_the_two_path_union(spark):
    # both paths must survive planning: a Union of two joins, fed by
    # the broadcast semi/anti hot-key filters. (At fixture scale
    # Catalyst is free to broadcast the cold path's small side too —
    # the pin is the split structure, not the cold path's physical
    # join choice, which AQE owns by size.)
    plan = plan_of(spark, "skew_safe_order_revenue")
    assert "Union" in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert plan.count("BroadcastHashJoin") >= 3  # filters + hot join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_probe_broadcasts_filter_bits(spark):
    """The Bloom prefilter's point is a BROADCAST probe: the set-bit
    relation must ride a BroadcastHashJoin (never a shuffled
    sort-merge against the corpus gram stream), and no cartesian
    anywhere."""
    plan = plan_of(spark, "bloom_prefilter_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_recursive_cte_plans_native_recursion(spark):
    """WITH RECURSIVE must compile to Spark's native recursive-union
    execution (a UnionLoop/recursive node), not an unrolled chain."""
    plan = plan_of(spark, "recursive_cte_probe")
    assert "Loop" in plan or "Recursi" in plan


def test_distinct_sketches_have_no_cartesian(spark):
    plan = plan_of(spark, "distinct_token_sketches")
    assert "CartesianProduct" not in plan


def test_no_float_round_sum_in_oracles():
    """The market_share_by_year lesson, enforced statically: no oracle
    may ROUND a re-associated double SUM (half-ulp flips between
    engines at rounding boundaries). Money/product sums must ride
    integer fixed-point (scalars.to_units + FLOOR(...*10^d+0.5)
    pattern). Allowed survivors: integer CASE sums (association-free)
    and the explicitly-analyzed PSI probe (20 deterministic dyadic
    terms, documented in its docstring)."""
    import re

    allowed_names = {"value_psi_drift"}
    pat = re.compile(r"ROUND\(\s*SUM\(\s*([A-Za-z(]+)", re.I)
    offenders = []
    for name, sql in registry.ORACLE_SQL.items():
        if name in allowed_names:
            continue
        for m in pat.finditer(sql):
            head = m.group(1).upper()
            if head != "CASE":   # integer CASE sums are exact
                offenders.append((name, sql[m.start():m.start() + 70]))
    assert offenders == [], offenders


def test_no_hugeint_in_oracle_output():
    """The r6 lesson (4 driver-hash failures), enforced statically:
    no oracle's final SELECT may emit a HUGEINT column. DuckDB widens
    SUM(BIGINT) to HUGEINT, and fetchdf() maps HUGEINT to float64, so
    the driver hashes 250.0 against Spark's int 250 and fails even
    though every value is identical. DESCRIBE binds the query without
    executing it, so this sweeps all ~210 oracles in seconds. Fix for
    an offender: CAST(... AS BIGINT) on the flagged column (template:
    points_balance_floor_zero, temporal_queries.py)."""
    import duckdb

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    offenders = []
    for name, sql in registry.ORACLE_SQL.items():
        desc = con.execute("DESCRIBE " + sql).fetchall()
        bad = [(c, ty) for c, ty, *_ in desc
               if "HUGEINT" in ty.upper()]
        if bad:
            offenders.append((name, bad))
    assert offenders == [], offenders


def test_serving_tiers_plan_as_single_pass_topk(spark):
    """The three r6s2 serving tiers must plan as one scan +
    TakeOrderedAndProject (heap per partition, never a global sort)
    with only broadcast exchanges for the 1-row query vector."""
    for name in ("int8_quantized_cosine_topk", "matryoshka_prefix_topk"):
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    # the cascade contains TWO TakeOrdered cuts (shortlist + rerank)
    plan = plan_of(spark, "sketch_rerank_cascade")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_pps_and_compaction_are_single_window_passes(spark):
    """The window-cumsum family must not self-join or globally sort:
    one per-source window sort each, aggregates partial+final."""
    for name in ("systematic_pps_sample", "compaction_plan_stats"):
        plan = plan_of(spark, name)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "partial" in plan.lower(), name


def test_snapshot_diff_is_one_shuffle_join(spark):
    """The CDC diff reads the orders scan twice (two version
    predicates) and joins once on the key — no nested loop, no
    broadcast of a fact-sized side."""
    plan = plan_of(spark, "snapshot_diff_summary")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_histogram_shuffles_summary_not_data(spark):
    """The mergeable-quantile plan must aggregate partial+final on
    (type, bin) — the histogram — and only then window over ≤100-row
    groups; the permille grid joins by broadcast."""
    plan = plan_of(spark, "quantile_histogram_estimates")
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_proration_windows_share_order_exchange(spark):
    # all three window passes (order-sum, remainder-rank, residual)
    # partition on o_orderkey — they must ride ONE hash exchange on
    # that key, not re-shuffle per window
    import re

    plan = plan_of(spark, "order_value_proration")
    assert plan.count("Window") >= 2
    solo = re.findall(r"hashpartitioning\(o_orderkey#\d+L?, \d+\)", plan)
    assert len(solo) == 1, plan


def test_triangle_join_has_no_cartesian_and_one_edge_build(spark):
    # the wedge join closes through equi-joins only, and the lazy
    # checkpoints collapse the four output branches onto one edge
    # subtree (pre-fix this plan had 442 nodes from re-derived edges)
    plan = plan_of(spark, "copurchase_triangles")
    assert "CartesianProduct" not in plan
    # the only BNL joins are the 4 single-row scalar attaches
    assert plan.count("BroadcastNestedLoopJoin") <= 3
    assert plan.count("Scan parquet") <= 2, plan


def test_pagerank_loop_broadcasts_rank_state(spark):
    # the per-round edge⋈rank join must be a broadcast join (rank
    # state is node-sized); a SortMergeJoin in the loop means the
    # multi-million-row edge side is sorted every round
    plan = plan_of(spark, "copurchase_pagerank")
    assert "SortMergeJoin" not in plan, plan


def test_cusum_rides_daily_grain(spark):
    # the raw event scan must collapse to (type, day) BEFORE any
    # window: one partial+final aggregate pair below the cumsum
    plan = plan_of(spark, "value_cusum_changepoint")
    assert plan.count("HashAggregate") >= 2
    # windows run over the daily grain — partitioned by event_type
    assert "Window" in plan


def test_bm25_broadcasts_query_sized_frames(spark):
    # dfreq (|terms| rows) and the 2-scalar corpus frame broadcast;
    # the posting-list side is never broadcast
    plan = plan_of(spark, "bm25_doc_topk")
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_rrf_fusion_is_doc_keyed_outer_join(spark):
    # the two ranking legs fuse through an equi full-outer join on
    # doc_id — no nested-loop anywhere but the 1-row vector attach
    plan = plan_of(spark, "hybrid_retrieval_rrf")
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan


def test_media_decode_profile_pushes_carve_and_prunes(spark):
    """The media pipeline's scan discipline: the 20-doc carve reaches
    the documents parquet scan as a pushed filter, the scan reads
    ONLY doc_id (payloads are synthesized, never read), and there is
    no exchange before the Arrow stages — the only sort is the final
    40-row presentation orderBy."""
    plan = plan_of(spark, "media_decode_profile")
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,20)" in plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan
    assert "text" not in plan.split("ReadSchema")[1][:200]


def test_media_gif_and_audio_profiles_share_the_scan_discipline(spark):
    """The r11 GIF/FLAC certification siblings keep the exact same
    scan shape as media_decode_profile: carve pushed to the parquet
    scan, doc_id-only ReadSchema, payloads synthesized in-plan."""
    for q in ("media_decode_profile_gif", "media_decode_profile_audio",
              "media_decode_profile_video", "media_decode_profile_hier"):
        plan = plan_of(spark, q)
        assert ("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,20)"
                in plan), q
        assert "ReadSchema: struct<doc_id:bigint>" in plan, q
        assert "text" not in plan.split("ReadSchema")[1][:200], q


def test_html_and_warc_extraction_share_the_scan_discipline(spark):
    """The r13 corpus-front-half certification queries keep the media
    profile scan shape: 20-doc carve pushed to the parquet scan,
    doc_id-only ReadSchema, HTML/WARC payloads synthesized in-plan —
    neither can silently become a full documents scan."""
    for q in ("html_extraction_stats", "warc_extraction_stats"):
        plan = plan_of(spark, q)
        assert ("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,20)"
                in plan), q
        assert "ReadSchema: struct<doc_id:bigint>" in plan, q
        assert "text" not in plan.split("ReadSchema")[1][:200], q


# --- _copurchase_pairs: the one co-purchase pair build -----------------------
# (order, part) lines: order 1 repeats part 10 and part 20, order 2 holds
# one part, order 3 is the wide basket, parts 10/20/30 recur across orders
PAIR_LINES = [(1, 10), (1, 20), (1, 10), (1, 20), (1, 30),
              (2, 10),
              (3, 10), (3, 20), (3, 30), (3, 40), (3, 50), (3, 60), (3, 70),
              (4, 30), (4, 20), (4, 30),
              (5, 70), (5, 10),
              (6, 40), (6, 40)]


def pair_lineitem(spark):
    return spark.createDataFrame(PAIR_LINES, "l_orderkey long, l_partkey long")


def test_copurchase_pairs_count_orders_holding_both_parts(spark):
    from collections import Counter
    from itertools import combinations

    from flight_data_pipeline_spark.plans.relational_queries import (
        _copurchase_pairs,
    )

    baskets = {}
    for o, p in PAIR_LINES:
        baskets.setdefault(o, set()).add(p)
    expect = Counter(pair for parts in baskets.values()
                     for pair in combinations(sorted(parts), 2))
    got = Counter((r.u, r.v) for r in
                  _copurchase_pairs(pair_lineitem(spark)).collect())
    assert got == expect
    assert expect[(10, 20)] == 2 and expect[(20, 30)] == 3


def test_copurchase_pairs_distinct_equals_items_self_join(spark):
    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.plans.relational_queries import (
        _copurchase_pairs,
    )

    li = pair_lineitem(spark)
    items = li.select(F.col("l_orderkey").alias("o"),
                      F.col("l_partkey").alias("p")).distinct()
    self_join = {
        (r.u, r.v) for r in
        items.alias("a")
        .join(items.alias("b"),
              (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct().collect()
    }
    rows = _copurchase_pairs(li).distinct().collect()
    assert len(rows) == len(self_join)
    assert {(r.u, r.v) for r in rows} == self_join


def test_mirrored_pairs_distinct_equals_distinct_then_mirrored(spark):
    """copurchase_label_communities dedups AFTER mirroring (inside the
    label-propagation layout exchange): on lines with repeated (o, p)
    rows and pairs shared across orders that must give the same edge
    multiset as the distinct-then-mirror build."""
    from flight_data_pipeline_spark.plans.relational_queries import (
        _both_ways,
        _copurchase_pairs,
    )

    li = pair_lineitem(spark)
    after = _both_ways(_copurchase_pairs(li)).distinct()
    before = _both_ways(_copurchase_pairs(li).distinct())
    assert after.exceptAll(before).count() == 0
    assert before.exceptAll(after).count() == 0
    assert before.count() == 2 * _copurchase_pairs(li).distinct().count()


def test_copurchase_pairs_repartition_precedes_order_aggregate(spark):
    # the width pin must be the ONLY o-keyed exchange: placed after the
    # groupBy it is elided and the aggregate's own ENSURE_REQUIREMENTS
    # exchange (which AQE may coalesce) takes its place
    import re

    from flight_data_pipeline_spark.plans.relational_queries import (
        _copurchase_pairs,
    )
    from flight_data_pipeline_spark.tables import load_table

    df = _copurchase_pairs(load_table(spark, "lineitem", SF_DIR))
    plan = df._jdf.queryExecution().executedPlan().toString()
    modes = re.findall(r"Exchange hashpartitioning\(o#\d+L?, \d+\), (\w+)",
                       plan)
    assert modes == ["REPARTITION_BY_NUM"], plan
