"""Physical-plan assertions (SURVEY.md §4): the plan properties the
100 TB design depends on must be present in the executed plans, not just
hoped for — filter pushdown into the parquet scan, broadcast joins for
dims/probes, bounded shuffle (Exchange) counts, and whole-stage codegen
over the hot path. A regression here is a scale bug even when results
stay correct.
"""

from __future__ import annotations

import re

import pytest

import chess_pos_db_spark as engine


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _n_exchanges(plan: str) -> int:
    # Count shuffle exchanges only (broadcast exchanges are the cheap,
    # intended kind).
    return len(re.findall(r"Exchange (?:hash|range|rangepartitioning|SinglePartition)", plan))


def q(name, spark, sf_dir):
    return engine.get_queries()[name](spark, sf_dir)


def test_probe_lookup_pushdown_and_broadcast(spark, sf_dir):
    """J1: the probe IN-list must reach the scan (sparse-index analogue)
    and the probe side must broadcast — the fact table never shuffles
    for a point lookup."""
    plan = _plan(q("join_broadcast_lookup", spark, sf_dir))
    assert "PushedFilters: [In(l_orderkey" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_range_pushdown(spark, sf_dir):
    plan = _plan(q("filter_range", spark, sf_dir))
    pushed = plan.split("PushedFilters")[1][:300]
    assert "GreaterThanOrEqual" in pushed or "GreaterThan" in pushed


def test_dim_chain_broadcasts_all_dims(spark, sf_dir):
    """J3: customer/nation/region are dims — all three must broadcast;
    a sort-merge join against a 25-row nation table at 100 TB would
    shuffle the whole fact table."""
    plan = _plan(q("join_dim_chain", spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3


def test_flagship_agg_is_partial_final(spark, sf_dir):
    """A1: map-side partial aggregation (the reference's import-buffer
    combine) — two HashAggregate levels around exactly one shuffle."""
    plan = _plan(q("agg_groupcount", spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert _n_exchanges(plan) == 1


def test_map_only_queries_have_no_shuffle(spark, sf_dir):
    """Pure projections/filters (including the BPE tokenizer and the
    hash sampler) must stay map-only: zero shuffle exchanges."""
    for name in ["project_compute", "filter_compound", "text_token_count_bpe",
                 "sample_hash", "sample_stratified", "text_pii_scrub"]:
        plan = _plan(q(name, spark, sf_dir))
        assert _n_exchanges(plan) == 0, f"{name} shuffles:\n{plan[:2000]}"


def test_simhash_single_shuffle(spark, sf_dir):
    """N2: simhash is one groupBy — exactly one shuffle, with the
    packed bit-sums combined map-side (shuffle payload: 23 longs per
    doc). The zero-shuffle in-row form was measured 2.7x slower at
    sf0.1 under a noop sink (interpreted lambda folds vs codegen'd
    hash agg) — recorded in dedup.py, do not retry."""
    plan = _plan(q("dedup_simhash", spark, sf_dir))
    assert _n_exchanges(plan) == 1
    assert plan.count("HashAggregate") >= 2


def test_column_pruning_reaches_scan(spark, sf_dir):
    """P6: a two-column projection must read two columns, not the full
    16-column lineitem schema."""
    df = q("sort_topk", spark, sf_dir)
    plan = _plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert len(read_cols) <= 4, read_cols


def test_topk_uses_take_ordered(spark, sf_dir):
    """O3: ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-
    partition top-k + merge), never a global sort."""
    plan = _plan(q("sort_topk", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_global_sort_is_range_partitioned(spark, sf_dir):
    """O1: an unlimited global sort must plan as a range-partitioned
    exchange (P parallel sort tasks whose outputs concatenate in key
    order) — never a single-reducer sort. This is the 'no single
    reducer' property SCALE.md claims for the sorted-write path."""
    from pyspark.sql import functions as F  # noqa: F401

    from chess_pos_db_spark.tables import t as _t

    df = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    )
    plan = _plan(df)
    assert "Exchange rangepartitioning" in plan, plan[:1500]
    assert "Exchange SinglePartition" not in plan, plan[:1500]


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    """Φ9: scan+filter+project+partial-agg fuse into WholeStageCodegen
    spans (no interpreted row-at-a-time evaluation in the hot path).
    With AQE the final plan exists only after execution; codegen stages
    carry the `*(n)` prefix in the plan string."""
    df = q("agg_groupcount", spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "*(" in plan


def test_semi_anti_stay_broadcast(spark, sf_dir):
    for name, kind in [("join_semi", "LeftSemi"), ("join_anti", "LeftAnti")]:
        plan = _plan(q(name, spark, sf_dir))
        assert kind in plan, f"{name}:\n{plan[:1500]}"


def test_tfidf_bounded_exchanges(spark, sf_dir):
    """text_tfidf: tf-agg + token-window + doc-window + the single-row
    corpus count — never the groupBy+join-back shape (which costs two
    more exchanges for the same payload)."""
    plan = _plan(q("text_tfidf", spark, sf_dir))
    assert _n_exchanges(plan) <= 4, plan[:2000]


def test_ntile_no_single_partition_exchange(spark, sf_dir):
    """W7: global ntile/percent_rank must NOT funnel the table through a
    single-partition window (Exchange SinglePartition) — the two-pass
    range-partitioned ranking keeps every stage parallel."""
    plan = _plan(q("win_ntile", spark, sf_dir))
    assert "Exchange SinglePartition" not in plan, plan[:2000]


def test_jaccard_postings_df_capped(spark, sf_dir):
    """N2: the exact-Jaccard token postings are df-capped, so the
    self-join input is provably bounded (≤ cap·(cap−1)/2 pair rows per
    token); an uncapped stopword would emit d² rows at corpus scale."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from chess_pos_db_spark.llm.dedup import JACCARD_DF_CAP
    from chess_pos_db_spark.tables import t

    docs = t(spark, sf_dir, "documents")
    tok0 = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    capped = tok0.withColumn(
        "df", F.count("*").over(Window.partitionBy("token"))
    ).filter(F.col("df") <= JACCARD_DF_CAP)
    max_df = capped.agg(F.max("df")).first()[0]
    assert max_df is not None and max_df <= JACCARD_DF_CAP
    # The cap bites on this fixture: some token exceeds it.
    n_all = tok0.count()
    assert capped.count() < n_all, "cap is vacuous on the fixture"


def test_epd_dump_plan_is_arrow_batched(spark, sf_dir):
    """S7: the EPD dump path must not contain a row-at-a-time Python
    UDF (BatchEvalPython) — the decode runs as Arrow-batched
    mapInPandas."""
    from chess_pos_db_spark.chess import importer, query

    games = spark.createDataFrame(
        [(0, "human", "W", None, None, None, None, None, None, None,
          "A", "B", 2000, 2000, None, 2, "f.pgn", ["e4", "e5"])],
        importer.GAME_SCHEMA,
    )
    entries = importer.explode_positions(games, include_positions=True)
    plan = _plan(query.epd_lines(entries, min_count=1))
    assert "BatchEvalPython" not in plan, plan[:2000]
    assert "MapInPandas" in plan


def test_training_selection_single_shuffle(spark, sf_dir):
    """select_training_docs: ONE shuffle (the per-doc stats agg); the
    stats join back to documents broadcasts, and the quality + sampling
    predicates are plain filters."""
    plan = _plan(q("select_training_docs", spark, sf_dir))
    assert _n_exchanges(plan) == 1, plan[:2000]


def test_tpch_q1_partial_agg_single_shuffle(spark, sf_dir):
    """Φ-Q1: the full-scan pricing summary is map-side-combined around
    exactly one exchange — the plan that holds at any scan size."""
    plan = _plan(q("tpch_q1", spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert _n_exchanges(plan) == 1, plan[:2000]


def test_tpch_q5_broadcasts_dims(spark, sf_dir):
    """Φ-Q5: nation/region (25/5 rows) must broadcast — a shuffled join
    against them at 100 TB would move the whole fact table."""
    plan = _plan(q("tpch_q5", spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_pack_sequences_shard_parallel(spark, sf_dir):
    """N6b: sequence packing is ONE shard-partitioned window — no
    single-partition exchange (a global cumsum would serialize the
    whole corpus through one task)."""
    plan = _plan(q("doc_pack_sequences", spark, sf_dir))
    assert "Exchange SinglePartition" not in plan, plan[:2000]
    assert _n_exchanges(plan) == 1, plan[:2000]


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    """N6a: the eval shingle set (benchmark-sized) must broadcast; the
    corpus side never shuffles doc×doc."""
    plan = _plan(q("text_contamination", spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_tpch_q2_correlated_min_shape(spark, sf_dir):
    """Φ-Q2: the correlated-MIN join-back must be a window over the
    already-joined rows (one hash exchange on p_partkey), never a
    re-aggregation + self-join; the filtered part side and the EU
    supplier dim must broadcast so the derived supply-cost fact is the
    only shuffled input."""
    plan = _plan(q("tpch_q2", spark, sf_dir))
    assert "Window" in plan
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]
    assert "TakeOrderedAndProject" in plan


def test_tpch_q17_threshold_is_joined_not_collected(spark, sf_dir):
    """Φ-Q17: the per-part avg-quantity threshold is computed as an
    aggregate and JOINED back (broadcast at this SF, SMJ under AQE at
    scale) — no driver-side collect, no cartesian."""
    plan = _plan(q("tpch_q17", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # lineitem appears twice (probe + threshold agg), parts broadcast
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_tpch_q21_semi_anti_on_equi_keys(spark, sf_dir):
    """Φ-Q21: EXISTS/NOT-EXISTS both lower to hash-partitioned
    semi/anti joins on the orderkey equi-conjunct, with the supplier
    inequality as a residual condition — never a nested-loop join, the
    shape that survives a fact-×-fact self-correlation at scale."""
    plan = _plan(q("tpch_q21", spark, sf_dir))
    assert "LeftSemi" in plan, plan[:2000]
    assert "LeftAnti" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q11_q15_scalar_subquery_broadcast(spark, sf_dir):
    """Φ-Q11/Q15: the one-row scalar threshold (grand total / MAX) must
    broadcast into the filter — shuffling the grouped values against a
    single row would be a degenerate join."""
    for name in ("tpch_q11", "tpch_q15"):
        plan = _plan(q(name, spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
            name, plan[:2000])
        assert "CartesianProduct" not in plan, name


def test_events_funnel_no_cartesian(spark, sf_dir):
    """Φ-E1: every funnel stage joins/aggregates on user_id; the only
    nested-loop joins are the final one-row scalar combines."""
    plan = _plan(q("events_funnel", spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2000]


def test_events_retention_user_keyed(spark, sf_dir):
    """Φ-E2: cohort assignment and activity dedup both shuffle on
    user_id and join on it — no event×event join, no single-partition
    exchange before the final (small) matrix."""
    plan = _plan(q("events_retention", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_events_attribution_equi_join_on_user(spark, sf_dir):
    """Φ-E4: the interval join must use user_id as the equi-key with
    the time range as residual — the shape that becomes a watermarked
    stream-stream join, never a pure theta join."""
    plan = _plan(q("events_purchase_attribution", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[(user_id|p_user_id)", plan), plan[:3000]


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Scale lever: a selective dimension side of a shuffle join must be
    able to inject a runtime Bloom filter into the fact scan (Spark's
    row-level runtime filtering — the dynamic analogue of the static
    IN-list pushdown J1 pins). The capability is on by default; its
    application-side threshold (10 GB scan) only engages at real scale,
    so the test lowers it to demonstrate the plan the 100 TB run gets."""
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        import pyspark.sql.functions as F
        from chess_pos_db_spark.tables import t as load

        li = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _plan(j)
        assert "might_contain" in plan.lower(), plan[:3000]
        assert "bloom_filter_agg" in plan.lower()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thr,
        )


def test_lm_familiarity_no_join(spark, sf_dir):
    """N4+: the corpus bigram count is a window over the gram partition
    — no groupBy + join-back pair (saves two exchanges), so the plan
    has NO join at all: gram shuffle + doc shuffle only."""
    plan = _plan(q("text_lm_familiarity", spark, sf_dir))
    assert "Join" not in plan, plan[:2000]
    assert _n_exchanges(plan) == 2, plan[:2000]


def test_knn_label_broadcasts_probes(spark, sf_dir):
    """N3+: the bounded probe set is the broadcast side; the corpus
    scans once and is never shuffled pairwise (no SortMergeJoin)."""
    plan = _plan(q("similarity_knn_label", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_label_cohesion_broadcasts_centroids(spark, sf_dir):
    """N3+: the n_labels x dims centroid table (KB-sized at any corpus
    scale) broadcasts back to the member dims — the fact side never
    shuffles for the join."""
    plan = _plan(q("embedding_label_cohesion", spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_curation_end_to_end_shard_parallel(spark, sf_dir):
    """N6e: the composed curation DAG packs survivors with a
    shard-partitioned window — the full pipeline has no
    single-partition exchange anywhere."""
    plan = _plan(q("curation_end_to_end", spark, sf_dir))
    assert "Exchange SinglePartition" not in plan, plan[:2000]


def test_events_anomaly_single_shuffle_topk(spark, sf_dir):
    """Anomaly top-k: per-type stats are windows (no groupBy+join-back)
    — one event_type shuffle, and the rank is TakeOrdered, never a
    global sort."""
    plan = _plan(q("events_anomaly", spark, sf_dir))
    assert "Join" not in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert _n_exchanges(plan) == 1, plan[:2000]


def test_fuzzy_join_blocked_no_cartesian(spark, sf_dir):
    """J12: the fuzzy ER join must pair within blocks (equi-join on the
    blocking key), never via a cartesian/NLJ over the corpus."""
    plan = _plan(q("join_fuzzy_levenshtein", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_search_phrase_pushes_contains(spark, sf_dir):
    """Phrase search: the LIKE/contains predicate reaches the scan so a
    targeted corpus grep never deserializes non-matching docs' columns;
    top-k is TakeOrdered, not a global sort."""
    plan = _plan(q("search_phrase", spark, sf_dir))
    assert "StringContains" in plan
    assert "TakeOrderedAndProject" in plan


def test_search_bm25_broadcasts_stats(spark, sf_dir):
    """BM25: query terms, per-term df, and corpus stats are broadcast —
    the corpus side never shuffles for the scoring join; the only
    shuffle is the per-doc score rollup, and the result is TakeOrdered."""
    plan = _plan(q("search_bm25", spark, sf_dir))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 3
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_semdedup_pairs_within_cells(spark, sf_dir):
    """SemDeDup: the pair join is an equi-join on the cell key — the
    quadratic verify is per-cell, never corpus x corpus."""
    df = q("dedup_semdedup", spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    opt = _optimized(df)
    assert "cell" in opt


def test_domain_cap_window_is_source_keyed(spark, sf_dir):
    """N6f: the cap window partitions by source (fine-grained domain
    keys) — no single-partition window/exchange."""
    plan = _plan(q("curation_domain_cap", spark, sf_dir))
    assert "SinglePartition" not in plan
    assert re.search(r"Window .*source", plan)


def test_sessionize_user_keyed_no_single_partition(spark, sf_dir):
    """Φ-E6: sessionization windows/aggregates key on user_id — no
    global window, no single-partition exchange; the second exchange
    (session rollup) moves post-partial-agg rows only."""
    plan = _plan(q("events_sessionize", spark, sf_dir))
    assert "SinglePartition" not in plan
    assert re.search(r"Window .*user_id", plan)


def test_bloom_semi_prefilters_scan(spark, sf_dir):
    """J13: the bloom bit-probe (xxhash64 arithmetic) must sit on the
    fact scan BEFORE the exact semi-join, and the semi-join itself must
    still be there (broadcast) so bloom false positives can't leak."""
    plan = _plan(q("join_bloom_semi", spark, sf_dir))
    assert "xxhash64" in plan
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan)
    # the prefilter lives below the join: Filter node mentioning
    # xxhash64 appears after the join node in top-down formatted output
    join_pos = plan.find("LeftSemi")
    bloom_pos = plan.find("xxhash64")
    assert join_pos != -1 and bloom_pos > join_pos


def test_shuffle_hash_hint_changes_strategy(spark, sf_dir):
    """J14: the hint must actually produce a ShuffledHashJoin (not SMJ),
    and correctness is separately oracle-gated."""
    plan = _plan(q("join_shuffle_hash_hint", spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_paragraph_dedup_no_doc_cross_join(spark, sf_dir):
    """N2-para: segmentation is map-only (no groupBy to form
    paragraphs); the plan has the (para) window + (doc_id) rollup and
    never a doc×doc join or cartesian."""
    plan = _plan(q("dedup_paragraphs", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # window + rollup only — zero joins
    assert re.search(r"Window .*para", plan)


def test_pq_scan_is_takeordered_no_udf_scoring(spark, sf_dir):
    """N3pq: the ADC candidate scan ends in TakeOrderedAndProject and
    the scoring stage is JVM expressions — the only Python stage is the
    Arrow encoder (one ArrowEvalPython/MapInPandas, not per-score)."""
    plan = _plan(q("similarity_ivf_pq", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("MapInPandas") == 1


def test_ewma_single_window_node(spark, sf_dir):
    """Φ-E7: all 16 lag terms share one window spec — the plan must
    contain exactly ONE Window node (8 lags × 2 uses fuse), keyed by
    user_id."""
    plan = _plan(q("events_ewma", spark, sf_dir))
    assert plan.count("Window") == 1
    assert re.search(r"Window .*user_id", plan)


def test_hybrid_rrf_windows_bounded_by_limit(spark, sf_dir):
    """N4h: the two global rank windows must sit ABOVE TakeOrdered
    limits (they only ever see depth rows) — pinned by requiring a
    GlobalLimit/TakeOrdered below each Window in the tree string."""
    plan = _plan(q("search_hybrid_rrf", spark, sf_dir))
    first_window = plan.find("Window")
    assert first_window != -1
    tail = plan[first_window:]
    assert "TakeOrderedAndProject" in tail or "GlobalLimit" in tail


def test_quality_signals_map_only(spark, sf_dir):
    """N4 quality module: the Gopher battery and char entropy must be
    pure per-row computations — higher-order functions in the row, no
    aggregation/generate shuffle. (text_quality's explode+groupBy shape
    is the contrast case: these get the same class of per-doc signal
    without shuffling tokens.) text_char_entropy is additionally
    allowed EXACTLY ONE round-trip exchange: the scale-adaptive
    spread_small_scan repartition that parallelizes its O(len×distinct)
    in-row lambda when the scan yields fewer splits than cores (a
    REPARTITION_BY_NUM hash exchange directly over the scan — it
    disappears once the scan itself parallelizes). Any aggregation
    exchange would still fail this pin."""
    plan = _plan(q("text_gopher_quality", spark, sf_dir))
    assert _n_exchanges(plan) == 0, "text_gopher_quality"
    assert "BatchEvalPython" not in plan

    plan = _plan(q("text_char_entropy", spark, sf_dir))
    assert _n_exchanges(plan) <= 1, "text_char_entropy"
    assert "REPARTITION_BY_NUM" in plan or _n_exchanges(plan) == 0
    assert "HashAggregate" not in plan and "Generate" not in plan
    assert "BatchEvalPython" not in plan


def test_spread_small_scan_probes_fileless_frames_each_time(spark):
    """spread_small_scan caches its split-count probe by input-file set.
    Frames with no input files share no identity, so one frame's count
    must never be reused for another: a one-partition frame is spread,
    a frame already at defaultParallelism is returned as is, whichever
    was probed first."""
    from chess_pos_db_spark.tables import spread_small_scan

    par = spark.sparkContext.defaultParallelism
    if par < 2:
        pytest.skip("needs defaultParallelism >= 2")
    narrow = spark.range(0, 64, 1, 1)
    wide = spark.range(0, 64, 1, par)
    assert narrow.inputFiles() == wide.inputFiles() == []
    assert spread_small_scan(spark, narrow, "id") is not narrow
    assert spread_small_scan(spark, wide, "id") is wide
    assert spread_small_scan(spark, narrow, "id") is not narrow


def test_spread_small_scan_reprobes_after_split_conf_change(spark, tmp_path):
    """The split-count cache key includes maxPartitionBytes and
    openCostInBytes: changing either mid-session re-probes the same
    leaf scan instead of reusing a count the old setting produced. A
    one-file scan is one split under a large maxPartitionBytes, so it
    is spread; under a maxPartitionBytes of 1/(2 x parallelism) of the
    file it is 2 x parallelism splits, and is returned as is."""
    import os

    from chess_pos_db_spark.tables import spread_small_scan

    par = spark.sparkContext.defaultParallelism
    if par < 2:
        pytest.skip("needs defaultParallelism >= 2")
    path = str(tmp_path / "leaf")
    spark.range(0, 1 << 16, 1, 1).write.parquet(path)
    (part,) = [f for f in os.listdir(path) if f.endswith(".parquet")]
    size = os.path.getsize(os.path.join(path, part))
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, str(1 << 30))
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() == 1
        assert spread_small_scan(spark, df, "id") is not df
        spark.conf.set(conf, str(max(1, size // (2 * par))))
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() >= par
        assert spread_small_scan(spark, df, "id") is df
    finally:
        spark.conf.set(conf, old)


def test_salted_agg_two_phase(spark, sf_dir):
    """Skew defense: the salted aggregation must plan BOTH phases as
    hash aggregates over different keys — (key, salt) then (key) — so
    no reducer ever owns a whole hot key."""
    plan = _plan(q("agg_salted_skew", spark, sf_dir))
    assert plan.count("HashAggregate") >= 4  # partial+final × 2 phases
    assert "_salt" in plan


def test_merge_cdc_no_nested_loop(spark, sf_dir):
    """CDC MERGE lowers to equi-joins only; the changeset side may
    broadcast but the target must never feed a nested loop."""
    plan = _plan(q("merge_into_cdc", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_cosine_bucketed_never_all_pairs(spark, sf_dir):
    """Φ-N2: dedup_embedding_cosine's candidate generation must be an
    equi-join on the (table, bucket) sign-LSH key — the round-3 verdict's
    one scale-killer (an unbounded id_a<id_b theta join) is pinned out:
    no nested-loop/cartesian anywhere in the plan, and the join keys
    include the bucket column."""
    plan = _plan(q("dedup_embedding_cosine", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[[^\]]*bucket", plan), plan[:3000]
