"""Shuffle-budget lockfile for the 25 headline (bench.py) queries: each
query's physical plan may not grow MORE shuffle exchanges than its
audited count (PLANS.md). A silent extra Exchange is a scale
regression even while results stay correct — this is the CI tripwire
tools/audit_plans.py only reports after the fact. Shrinking is fine;
growth fails and forces the budget (and SCALE.md) to be revisited
deliberately."""

from __future__ import annotations

import re

import pytest

import chess_pos_db_spark as engine

# audited shuffle-exchange counts (PLANS.md, sf0.01) at lock time
SHUFFLE_BUDGET = {
    "agg_groupcount": 1,
    "agg_rollup": 1,
    "filter_range": 0,
    "join_broadcast_lookup": 1,
    "join_sortmerge": 1,
    "join_dim_chain": 1,
    "join_asof": 1,
    "win_topk_per_group": 1,
    "win_lag_lead": 1,
    "win_moving_avg": 1,
    "sort_topk": 0,
    "sort_merge_compact": 2,
    "set_distinct": 1,
    "sample_hash": 0,
    "subquery_exists": 0,
    "udtf_expand": 0,
    "stream_session": 1,
    "agg_median": 1,
    "text_token_stats": 2,
    "text_token_count_bpe": 0,
    "dedup_exact_groups": 1,
    "dedup_simhash": 1,  # r4: in-row zero-shuffle form measured 2.7x slower — kept
    "dedup_minhash_cluster": 2,  # (doc_id) signature agg + (signature) cluster agg
    "similarity_topk": 0,
    "similarity_ivf": 0,
    # round-7 materialized-index family (QUERY-path budgets — the index
    # build's shuffles run eagerly inside the write, not in the
    # returned plan; what's pinned here is that answering stays
    # candidate-sized)
    "search_bm25_postings": 1,  # matched postings -> doclen join
    "search_bm25_incremental": 2,  # same, over base + delta generations
    "search_phrase_postings": 0,  # per-term bucket probes, broadcast fold
    "search_proximity_postings": 0,  # same access shape as phrase
    # round-8 materialized-index additions (query-path budgets)
    "dedup_lsh_index_probe": 2,  # batch signature agg + candidate min-agg
    "dedup_lsh_index_incremental": 3,  # same, over base + delta generations
    "similarity_ivf_layout": 0,  # partition pruning IS the probe
    "similarity_ivf_incremental": 0,  # appended files prune identically
    "dedup_embedding_incremental": 2,  # cell-join align + per-probe rollup
    # round-8 delete lifecycle (query-path budgets: a pending delete
    # may not add shuffles over the non-delete twin — tombstone and
    # top-2 masks are candidate-sized broadcast anti-joins)
    "store_delete_rows": 0,  # snapshot read, no exchange
    "search_bm25_deleted": 1,  # pruned postings -> doclen join
    "dedup_lsh_index_delete": 2,  # identical to dedup_lsh_index_probe
    "similarity_ivf_deleted": 0,  # identical to similarity_ivf_layout
    # round-9 maintenance-lifecycle compositions (query-path budgets:
    # compaction must never ADD query-side shuffles — the compacted
    # index answers with the single-generation plan)
    "search_bm25_maintained": 1,  # identical to search_bm25_postings
    "dedup_lsh_index_compacted": 2,  # identical to dedup_lsh_index_probe
    "similarity_ivf_maintained": 0,  # identical to similarity_ivf_layout
    "agg_view_retracted": 1,  # presentation ORDER BY over the |grain| view
    "store_snapshot_diff": 2,  # full-outer SMJ (2)
    "store_vacuumed": 0,  # identical read shape to store_delete_rows
    "store_cdc_export": 0,  # log read
}


def _n_exchanges(plan: str) -> int:
    return len(
        re.findall(
            r"Exchange (?:hash|range|rangepartitioning|SinglePartition)", plan
        )
    )


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGET))
def test_shuffle_budget(name, spark, sf_dir):
    df = engine.get_queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    got = _n_exchanges(plan)
    assert got <= SHUFFLE_BUDGET[name], (
        f"{name}: {got} shuffle exchanges > audited budget "
        f"{SHUFFLE_BUDGET[name]} — plan regressed (see PLANS.md)"
    )
