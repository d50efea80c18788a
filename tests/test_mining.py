"""Behavioral and plan contracts for the corpus-mining operators
(llm/mining.py + dedup_embedding_ann): the ANN candidate set must be a
subset of the exact baseline, ratios must be internally consistent, and
the plans must keep the no-doc×doc / bounded-shuffle shapes the 100 TB
design depends on."""

from __future__ import annotations

import pytest

import re

import chess_pos_db_spark as engine


def q(name, spark, sf_dir):
    return engine.get_queries()[name](spark, sf_dir)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(plan: str) -> int:
    return len(
        re.findall(r"Exchange (?:hash|range|rangepartitioning|SinglePartition)", plan)
    )


def test_embedding_ann_pairs_subset_of_exact(spark, sf_dir):
    """Single-table LSH (dedup_embedding_ann) is a strict candidate
    subset of the multi-table union (dedup_embedding_cosine, whose
    table 0 uses the same hyperplanes) — bucketing must never ADD a
    pair, and surviving pairs carry identical cosine scores."""
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in q("dedup_embedding_cosine", spark, sf_dir).collect()
    }
    ann = {
        (r.id_a, r.id_b): r.cos_sim
        for r in q("dedup_embedding_ann", spark, sf_dir).collect()
    }
    assert set(ann) <= set(exact)
    for pair, cs in ann.items():
        assert cs == exact[pair]


def test_embedding_cosine_recall_vs_exact_ground_truth(spark, sf_dir, tmp_path):
    """Oracle-INDEPENDENT recall pin: the registry oracle for
    dedup_embedding_cosine embeds the implementation's own hyperplanes,
    so a systematic bucketing bug mirrored into the oracle (sign/shift
    convention, degenerate planes) would pass hash-exact while silently
    dropping true near-duplicates. Here ground truth is EXACT all-pairs
    cosine computed driver-side with numpy — no LSH anywhere — over the
    fixture corpus plus 40 planted near-duplicates (cos ≈ 0.995, where
    4-table × 8-plane sign-LSH collision probability is ≥ 0.997/pair):

      * recall over exact pairs with cos ≥ 0.9 must be ≥ 0.9;
      * every returned pair must appear in the exact cos > 0.45 set
        (precision 1.0 — the exact-verify phase guarantees it)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = tbl["vec_id"].to_numpy().tolist()
    V = np.array(tbl["embedding"].to_pylist(), dtype=np.float64)

    rng = np.random.RandomState(7)
    base_idx = rng.choice(len(ids), size=40, replace=False)
    planted_ids, planted_vecs = [], []
    for k, bi in enumerate(base_idx):
        v = V[bi]
        g = rng.standard_normal(v.shape)
        g -= g.dot(v) / v.dot(v) * v  # orthogonal noise: cos = 1/sqrt(1+r²)
        vp = v + 0.1 * np.linalg.norm(v) / np.linalg.norm(g) * g
        planted_ids.append(10_000 + k)
        planted_vecs.append(vp)

    all_ids = ids + planted_ids
    A = np.vstack([V, np.array(planted_vecs)]).astype(np.float32)
    out = pa.table(
        {
            "vec_id": pa.array(all_ids, pa.int64()),
            "embedding": pa.array(
                [row.tolist() for row in A], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(all_ids), pa.int32()),
        }
    )
    pq.write_table(out, str(tmp_path / "embeddings.parquet"))

    # exact all-pairs ground truth (float64 on the float32-stored values,
    # matching what the query reads)
    X = A.astype(np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    iu = np.triu_indices(len(all_ids), k=1)
    aid = np.array(all_ids)
    exact_045 = {
        (int(a), int(b)) if a < b else (int(b), int(a))
        for a, b in zip(aid[iu[0][S[iu] > 0.45]], aid[iu[1][S[iu] > 0.45]])
    }
    high = {
        (int(a), int(b)) if a < b else (int(b), int(a))
        for a, b in zip(aid[iu[0][S[iu] >= 0.9]], aid[iu[1][S[iu] >= 0.9]])
    }
    assert len(high) >= 40  # the planted pairs at minimum

    got = {
        (r.id_a, r.id_b)
        for r in q("dedup_embedding_cosine", spark, str(tmp_path)).collect()
    }
    assert got <= exact_045  # precision: verify phase admits no false pair
    recall = len(got & high) / len(high)
    assert recall >= 0.9, (recall, sorted(high - got)[:10])


def test_substring_fraction_consistency(spark, sf_dir):
    """n_dup ≤ n_grams, dup_fraction = n_dup/n_grams, and every doc with
    ≥ one 8-token span appears exactly once."""
    rows = q("dedup_substring_fraction", spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.doc_id not in seen
        seen.add(r.doc_id)
        assert 0 <= r.n_dup <= r.n_grams
        assert abs(r.dup_fraction - round(r.n_dup / r.n_grams, 6)) < 1e-12


def test_substring_inventory_docs_bound(spark, sf_dir):
    """Every inventoried gram occurs in >1 distinct doc and occurrence
    count ≥ doc count."""
    for r in q("dedup_substring", spark, sf_dir).collect():
        assert r.n_docs > 1
        assert r.n_occ >= r.n_docs


def test_repetition_ratios_bounded(spark, sf_dir):
    for r in q("text_repetition", spark, sf_dir).collect():
        assert 0 < r.top_token_share <= 1
        assert 0 < r.type_token_ratio <= 1
        assert 0 <= r.rep_bigram_share <= 1


def test_mix_weights_inverse_share(spark, sf_dir):
    """weight × actual_share × n_sources ≈ 1 for every source (the
    defining property of uniform-target reweighting)."""
    rows = q("mix_source_weights", spark, sf_dir).collect()
    n = len(rows)
    assert n > 1
    for r in rows:
        assert abs(r.weight * r.actual_share * n - 1.0) < 1e-4


def test_substring_fraction_plan_uses_window_df(spark, sf_dir):
    """Per-gram document frequency must come from a window over the
    (doc, gram) pairs — no groupBy+join-back: exactly 3 hash exchanges
    (pair agg, gram window, doc agg) and no join at all."""
    plan = _plan(q("dedup_substring_fraction", spark, sf_dir))
    assert "Join" not in plan, plan[:2000]
    assert _n_exchanges(plan) == 3, plan[:2000]


def test_mining_no_cartesian_or_nlj(spark, sf_dir):
    """None of the mining ops may degenerate into an unbounded join:
    the only tolerated nested-loop is a one-row broadcast (scalar
    totals)."""
    for name in (
        "dedup_substring",
        "dedup_substring_fraction",
        "text_repetition",
    ):
        plan = _plan(q(name, spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_embedding_ann_joins_on_bucket(spark, sf_dir):
    """The ANN pair join must use the bucket as an equi-key (hash or
    sort-merge join on bucket), never a pure theta join over all
    pairs."""
    plan = _plan(q("dedup_embedding_ann", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[bucket", plan), plan[:3000]


def test_heavy_hitters_sketch_equals_exact(spark, sf_dir):
    """The sketch path (bounded per-partition state + candidate
    recount) must reproduce the exact top-20 — counts included —
    on the fixture corpus."""
    import chess_pos_db_spark as engine

    qs = engine.get_queries()
    exact = [tuple(r) for r in qs["text_top_tokens"](spark, sf_dir).collect()]
    sk = [
        tuple(r)
        for r in qs["text_heavy_hitters_sketch"](spark, sf_dir).collect()
    ]
    assert sk == exact


def test_bpe_train_matches_reference(spark, sf_dir):
    """The distributed BPE loop must reproduce a pure-python reference
    BPE (vocab-granularity, greedy left-to-right merge, freq-then-lex
    tie-break) exactly — merge table AND final piece counts."""
    import collections

    from chess_pos_db_spark.llm import text as T
    from chess_pos_db_spark.tables import t as load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    vocab = collections.Counter()
    for r in docs:
        vocab.update(r["text"].split(" "))
    syms = {w: list(w) for w in vocab}

    ref_merges = []
    for step in range(T._BPE_MERGES):
        pair_freq = collections.Counter()
        for w, cnt in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pair_freq[(s[i], s[i + 1])] += cnt
        if not pair_freq:
            break
        (l, r), freq = min(
            pair_freq.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        ref_merges.append((step, l, r, freq))
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out

    got_merges, got_words = T.bpe_train(spark, sf_dir)
    assert got_merges == ref_merges
    got_syms = {r["word"]: list(r["syms"]) for r in got_words.collect()}
    assert got_syms == syms

    # apply: per-doc piece counts against the reference symbolization
    ref_counts = {
        r["doc_id"]: sum(len(syms[w]) for w in r["text"].split(" "))
        for r in docs
    }
    got_counts = {
        r["doc_id"]: r["n_pieces"]
        for r in engine_queries()["text_bpe_apply"](spark, sf_dir).collect()
    }
    assert got_counts == ref_counts


def engine_queries():
    import chess_pos_db_spark as engine

    return engine.get_queries()


def test_cms_one_sided_error_every_token(spark, sf_dir):
    """CMS never underestimates: est >= true for EVERY distinct token
    in the fixture (the defining guarantee), and the overestimate is
    bounded by the eps*N envelope of a d=4, w=512 sketch."""
    from chess_pos_db_spark.llm.mining import cms_cells, cms_estimate, _CMS_W
    from chess_pos_db_spark.tables import t as load
    from pyspark.sql import functions as F

    occ = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    cells = cms_cells(occ).cache()
    n_total = occ.count()
    truth = {r["token"]: r["n_true"] for r in
             occ.groupBy("token").agg(F.count("*").alias("n_true")).collect()}
    probe = occ.distinct()
    from chess_pos_db_spark.llm.mining import _H1, _H2, _CMS_W as W
    est = (
        probe.selectExpr("token", f"{_H1} AS h1", f"{_H2} AS h2")
        .join(F.broadcast(cells),
              F.col("col") == (F.col("h1") + F.col("i") * F.col("h2")) % W)
        .groupBy("token").agg(F.min("cnt").alias("cms_est"))
        .collect()
    )
    assert len(est) == len(truth)
    # eps = e/w; P(overshoot > eps*N) < e^-d per query — allow 2x slack
    bound = 2 * 2.7182818 * n_total / _CMS_W
    for r in est:
        assert r["cms_est"] >= truth[r["token"]], r
        assert r["cms_est"] - truth[r["token"]] <= bound, r


def test_cms_shards_merge_to_corpus_sketch(spark, sf_dir):
    """Mergeability: per-shard sketches element-wise-summed must equal
    the corpus sketch built in one pass."""
    from chess_pos_db_spark.llm.mining import cms_cells
    from chess_pos_db_spark.tables import t as load
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    occ = lambda d: d.select(F.explode(F.split("text", " ")).alias("token"))
    whole = {(r["i"], r["col"]): r["cnt"]
             for r in cms_cells(occ(docs)).collect()}
    a = cms_cells(occ(docs.filter(F.col("doc_id") % 2 == 0)))
    b = cms_cells(occ(docs.filter(F.col("doc_id") % 2 == 1)))
    merged = {
        (r["i"], r["col"]): r["cnt"]
        for r in a.unionByName(b)
        .groupBy("i", "col").agg(F.sum("cnt").alias("cnt")).collect()
    }
    assert merged == whole


def test_incremental_dedup_semantics(spark, sf_dir):
    """Every kept doc is genuinely new (digest absent from the existing
    corpus) and exactly one survivor per new digest; existing ∪ kept
    covers every distinct digest in the whole corpus."""
    import chess_pos_db_spark as engine
    from chess_pos_db_spark.llm.dedup import _INC_BUCKET
    from chess_pos_db_spark.tables import t as load
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents").withColumn(
        "bucket", F.expr(_INC_BUCKET)
    ).withColumn("digest", F.md5("text"))
    existing = {r["digest"] for r in
                docs.filter(F.col("bucket") < 8).select("digest").collect()}
    batch = docs.filter(F.col("bucket") >= 8).select("doc_id", "digest").collect()
    kept = [r["doc_id"] for r in
            engine.get_queries()["dedup_incremental"](spark, sf_dir).collect()]
    digest_of = {r["doc_id"]: r["digest"] for r in batch}
    kept_digests = [digest_of[i] for i in kept]
    assert len(set(kept_digests)) == len(kept_digests)  # one per digest
    assert not (set(kept_digests) & existing)  # all genuinely new
    batch_new = {d for d in digest_of.values() if d not in existing}
    assert set(kept_digests) == batch_new  # nothing new is dropped


def test_diverse_selection_is_cluster_balanced(spark, sf_dir):
    """Every IVF cell contributes at most K docs and no non-empty cell
    is left out — the selection can't be crowded by one dominant mode."""
    import chess_pos_db_spark as engine
    from chess_pos_db_spark.llm.pipeline import _DIVERSE_K_PER_CELL
    from chess_pos_db_spark.llm.similarity import (
        _cell_assignments, _ivf_centroids)
    from chess_pos_db_spark.tables import t as load

    rows = engine.get_queries()["select_diverse_docs"](spark, sf_dir).collect()
    per_cell: dict[int, int] = {}
    for r in rows:
        per_cell[r["cell"]] = per_cell.get(r["cell"], 0) + 1
    assert all(n <= _DIVERSE_K_PER_CELL for n in per_cell.values())
    centroids, cnorms = _ivf_centroids(spark, sf_dir)
    occupied = {
        r["cell"]
        for r in _cell_assignments(
            load(spark, sf_dir, "embeddings"), centroids, cnorms
        ).collect()
    }
    assert set(per_cell) == occupied


def test_indexed_bm25_equals_scan_bm25_and_prunes_buckets(spark, sf_dir):
    """The materialized inverted index must (a) return EXACTLY the
    scan-based BM25 top-k with identical 6-dp scores and (b) read only
    the buckets the query terms hash into (bucket pruning in the scan)."""
    import chess_pos_db_spark as engine
    from chess_pos_db_spark.llm import search as S
    from chess_pos_db_spark.tables import t as load

    docs = load(spark, sf_dir, "documents")
    S.build_inverted_index(spark, docs, "ix_test", buckets=16)
    try:
        got = S.search_indexed(spark, "ix_test", S._QUERY_TERMS)
        want = engine.get_queries()["search_bm25"](spark, sf_dir)
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in want.collect()
        ]
        plan = got._jdf.queryExecution().executedPlan().toString()
        import re
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan[:2000]
        assert int(m.group(1)) < int(m.group(2))  # pruning engaged
    finally:
        for suffix in ["postings", "doclen", "df", "stats"]:
            spark.sql(f"DROP TABLE IF EXISTS ix_test_{suffix}")


def test_pipeline_spec_runner(spark, sf_dir):
    """The declarative runner must compose stages in order into one
    lazy plan whose result equals applying the same operations by hand,
    and must reject unknown stages at bind time."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from chess_pos_db_spark.llm.spec import run_pipeline, _HASH
    from chess_pos_db_spark.tables import t as load

    docs = load(spark, sf_dir, "documents")
    spec = {
        "stages": [
            {"op": "normalize"},
            {"op": "dedup_exact"},
            {"op": "lang_filter", "langs": ["en", "de"]},
            {"op": "quality_gate", "min_tokens": 5},
            {"op": "sample_hash", "permille": 700},
            {"op": "domain_cap", "per_source": 40},
        ]
    }
    got = {r["doc_id"] for r in run_pipeline(docs, spec).collect()}

    norm = docs.withColumn(
        "text", F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dedup = (
        norm.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )
    filt = dedup.filter(F.col("lang").isin("en", "de")).filter(
        F.size(F.split("text", " ")) >= 5
    ).filter(F.expr(_HASH) % 1000 < 700)
    # domain_cap keeps the LONGEST docs per source (the verified
    # curation_domain_cap priority), not a hash-random N
    wc = Window.partitionBy("source").orderBy(
        F.length("text").desc(), F.col("doc_id")
    )
    want = {
        r["doc_id"]
        for r in filt.withColumn("rk", F.row_number().over(wc))
        .filter("rk <= 40")
        .collect()
    }
    assert got == want and len(got) > 0

    with pytest.raises(ValueError, match="unknown pipeline stage"):
        run_pipeline(docs, {"stages": [{"op": "nope"}]})

    # one composed plan: the runner's output is lazy and survives explain
    plan = run_pipeline(docs, spec)._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan or "FileScan" in plan


def test_pipeline_spec_quality_gates(spark, sf_dir):
    """gopher_gate / entropy_gate stages equal the registry queries'
    keep semantics and stay map-only inside the composed plan."""
    from chess_pos_db_spark.llm.spec import run_pipeline
    from chess_pos_db_spark.tables import t
    import chess_pos_db_spark as engine

    docs = t(spark, sf_dir, "documents")
    spec = {
        "stages": [
            {"op": "gopher_gate", "min_words": 5, "min_alpha_frac": 0.8},
            {"op": "entropy_gate", "min_entropy": 3.0},
        ]
    }
    out = run_pipeline(docs, spec)
    got = {r["doc_id"] for r in out.collect()}

    gq = engine.get_queries()["text_gopher_quality"](spark, sf_dir)
    eq = engine.get_queries()["text_char_entropy"](spark, sf_dir)
    # spec thresholds chosen to match the registry defaults for the
    # rules both apply (stopword rule defaults to 0 = no-op)
    expect_g = {
        r["doc_id"]
        for r in gq.filter("keep").collect()
    }
    expect_e = {
        r["doc_id"] for r in eq.filter("char_entropy >= 3.0").collect()
    }
    assert got == (expect_g & expect_e)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # both gates are pure filters


def test_pipeline_observed_funnel(spark, sf_dir):
    """observe=True: per-stage survivor counts ride the SAME execution
    (no extra jobs) and equal independently-computed stage counts."""
    from chess_pos_db_spark.llm.spec import run_pipeline
    from chess_pos_db_spark.tables import t

    docs = t(spark, sf_dir, "documents")
    spec = {
        "stages": [
            {"op": "lang_filter", "langs": ["es", "de"]},
            {"op": "dedup_exact"},
            {"op": "sample_hash", "permille": 500},
        ]
    }
    out, obs = run_pipeline(docs, spec, observe=True)
    final_rows = out.count()  # one action drives every observation

    got = {name: ob.get["rows"] for name, ob in obs.items()}
    # independent recomputation, stage by stage
    s0 = docs
    s1 = run_pipeline(s0, {"stages": spec["stages"][:1]})
    s2 = run_pipeline(s0, {"stages": spec["stages"][:2]})
    assert got["input"] == s0.count()
    assert got["0:lang_filter"] == s1.count()
    assert got["1:dedup_exact"] == s2.count()
    assert got["2:sample_hash"] == final_rows


def test_pipeline_spec_validation_guards(spark, sf_dir):
    """Config errors surface at bind time: missing required keys and
    an empty quality_gate (which would silently filter nothing) raise
    with the stage named — not a bare KeyError from deep inside a
    stage builder, and never a silently-disabled gate."""
    import pytest
    from chess_pos_db_spark.llm.spec import run_pipeline
    from chess_pos_db_spark.tables import t

    docs = t(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="missing required.*langs"):
        run_pipeline(docs, {"stages": [{"op": "lang_filter"}]})
    with pytest.raises(ValueError, match="quality_gate.*no thresholds"):
        run_pipeline(docs, {"stages": [{"op": "quality_gate"}]})
    # an empty gopher_gate IS valid: it applies the default battery
    assert run_pipeline(docs, {"stages": [{"op": "gopher_gate"}]}).count() > 0


def test_spec_normalize_collapses_edge_tabs(spark):
    """Edge tabs/newlines normalize identically to their absence —
    trim-before-collapse left a residual leading space that split two
    otherwise-identical docs across different exact-dedup digests."""
    from chess_pos_db_spark.llm.spec import run_pipeline

    docs = spark.createDataFrame(
        [(1, "\ta b\nc "), (2, "a b c")], "doc_id long, text string"
    )
    out = run_pipeline(docs, {"stages": [{"op": "normalize"}, {"op": "dedup_exact"}]})
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["text"] == "a b c"


@pytest.mark.slow
def test_incremental_index_append_equals_full_build(spark, sf_dir):
    """Sorted-run lifecycle of the postings index: base build on a
    third of the corpus + TWO appended delta generations must answer
    EXACTLY like one fresh build over everything (df/avgdl/n_docs all
    reflect the union); compaction folds the generations back into the
    base tables without changing a single row, resets the meta counter,
    drops the delta tables, and the compacted base still bucket-prunes
    (ALTER TABLE RENAME must carry the bucket spec). Overlapping
    doc_ids are rejected loudly (they would double-count df)."""
    import pytest
    from pyspark.sql import functions as F

    from chess_pos_db_spark.llm import search as S
    from chess_pos_db_spark.tables import t as load

    docs = load(spark, sf_dir, "documents")
    prefix = "ixinc_test"
    try:
        S.build_inverted_index(spark, docs.filter(F.col("doc_id") % 3 == 0), prefix)
        S.append_to_index(spark, docs.filter(F.col("doc_id") % 3 == 1), prefix)
        S.append_to_index(spark, docs.filter(F.col("doc_id") % 3 == 2), prefix)
        S.build_inverted_index(spark, docs, "ixfull_test")

        got = S.search_indexed_incremental(spark, prefix, S._QUERY_TERMS)
        want = S.search_indexed(spark, "ixfull_test", S._QUERY_TERMS)
        want_rows = [tuple(r) for r in want.collect()]
        assert [tuple(r) for r in got.collect()] == want_rows

        # doc-overlap appends fail loudly instead of double-counting
        with pytest.raises(ValueError, match="doc-disjoint"):
            S.append_to_index(spark, docs.limit(5), prefix)

        S.compact_index(spark, prefix)
        assert S._generations(spark, prefix) == [""]
        live = {t.name for t in spark.catalog.listTables()}
        assert f"{prefix}_postings_d1" not in live
        assert f"{prefix}_doclen_d2" not in live
        post = S.search_indexed_incremental(spark, prefix, S._QUERY_TERMS)
        assert [tuple(r) for r in post.collect()] == want_rows
        # the compacted (renamed) base table still prunes buckets
        direct = S.search_indexed(spark, prefix, S._QUERY_TERMS)
        assert [tuple(r) for r in direct.collect()] == want_rows
        import re

        plan = direct._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan[:2000]
        assert int(m.group(1)) < int(m.group(2))
    finally:
        for name in list(spark.catalog.listTables()):
            if name.name.startswith(("ixinc_test", "ixfull_test")):
                spark.sql(f"DROP TABLE IF EXISTS {name.name}")


@pytest.mark.slow
def test_phrase_indexed_token_semantics_and_generations(spark, sf_dir):
    """Positional-postings phrase walk: (a) equals the token-bigram
    ground truth computed straight from the corpus (NOT the substring
    count — 'devalue tables' must not match 'value table'); (b) a
    3-token phrase exercises the fold; (c) the answer is identical over
    a base+delta index; (d) every postings read is bucket-pruned."""
    import re

    from pyspark.sql import functions as F

    from chess_pos_db_spark.llm import search as S
    from chess_pos_db_spark.llm.pipeline import _shingles
    from chess_pos_db_spark.tables import t as load

    docs = load(spark, sf_dir, "documents")

    def truth(phrase, n):
        return {
            (r["doc_id"], r["n_hits"])
            for r in (
                docs.select("doc_id", F.explode(_shingles(n)).alias("g"))
                .filter(F.col("g") == phrase)
                .groupBy("doc_id")
                .agg(F.count("*").cast("long").alias("n_hits"))
                .orderBy(F.col("n_hits").desc(), "doc_id")
                .limit(10)
                .collect()
            )
        }

    try:
        S.build_inverted_index(spark, docs, "ixph_full")
        S.build_inverted_index(spark, docs.filter(F.col("doc_id") % 2 == 0), "ixph_inc")
        S.append_to_index(spark, docs.filter(F.col("doc_id") % 2 == 1), "ixph_inc")

        got2 = S.phrase_indexed(spark, "ixph_full", S._PHRASE)
        assert {tuple(r) for r in got2.collect()} == truth(S._PHRASE, 2)

        # pick a 3-token phrase that actually occurs: the most frequent
        # trigram in the corpus
        tri = (
            docs.select(F.explode(_shingles(3)).alias("g"))
            .groupBy("g")
            .count()
            .orderBy(F.desc("count"), "g")
            .first()["g"]
        )
        got3_full = {
            tuple(r) for r in S.phrase_indexed(spark, "ixph_full", tri).collect()
        }
        assert got3_full == truth(tri, 3)
        got3_inc = {
            tuple(r) for r in S.phrase_indexed(spark, "ixph_inc", tri).collect()
        }
        assert got3_inc == got3_full

        plan = (
            S.phrase_indexed(spark, "ixph_full", S._PHRASE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        prunes = re.findall(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert prunes, plan[:2000]
        assert all(int(a) < int(b) for a, b in prunes)
    finally:
        for name in list(spark.catalog.listTables()):
            if name.name.startswith(("ixph_full", "ixph_inc")):
                spark.sql(f"DROP TABLE IF EXISTS {name.name}")


@pytest.mark.slow
def test_stream_index_maintenance_appends_and_replays_idempotently(
    spark, sf_dir, tmp_path
):
    """A document file stream keeps the postings index fresh: each
    micro-batch lands as a delta generation and the final index answers
    exactly like a fresh build over everything. A wiped checkpoint
    replays every batch — all must be skipped by the content check
    (doc_ids already indexed), leaving generations and answers
    untouched instead of double-counting df."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from chess_pos_db_spark.llm import search as S
    from chess_pos_db_spark.tables import t as load

    docs = load(spark, sf_dir, "documents")
    src = tmp_path / "docstream"
    src.mkdir()
    for i in (1, 2, 3):
        staged = str(tmp_path / f"stage{i}")
        docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staged)
        shutil.copy(
            glob.glob(f"{staged}/part-*.parquet")[0], str(src / f"b{i}.parquet")
        )

    chk = str(tmp_path / "chk")
    try:
        S.build_inverted_index(spark, docs.filter(F.col("doc_id") % 4 == 0), "ixstr")
        S.stream_index_maintenance(
            spark, str(src), "ixstr", chk, max_files_per_trigger=1
        )
        n_gens = len(S._generations(spark, "ixstr"))
        assert n_gens >= 2  # at least one delta landed as its own batch

        S.build_inverted_index(spark, docs, "ixstr_full")
        want = [
            tuple(r)
            for r in S.search_indexed(spark, "ixstr_full", S._QUERY_TERMS).collect()
        ]
        got = [
            tuple(r)
            for r in S.search_indexed_incremental(
                spark, "ixstr", S._QUERY_TERMS
            ).collect()
        ]
        assert got == want

        # wiped checkpoint → full replay → every batch content-skipped
        shutil.rmtree(chk)
        S.stream_index_maintenance(
            spark, str(src), "ixstr", chk, max_files_per_trigger=1
        )
        assert len(S._generations(spark, "ixstr")) == n_gens
        again = [
            tuple(r)
            for r in S.search_indexed_incremental(
                spark, "ixstr", S._QUERY_TERMS
            ).collect()
        ]
        assert again == want
    finally:
        for name in list(spark.catalog.listTables()):
            if name.name.startswith(("ixstr",)):
                spark.sql(f"DROP TABLE IF EXISTS {name.name}")


def test_proximity_indexed_semantics_and_generations(spark):
    """Proximity walk edge cases on a hand-built corpus: only FORWARD
    spans count (term_b before term_a doesn't), the window bound is
    inclusive at exactly +w and exclusive at +w+1, anchors each count
    once however many partners land in range, and a base+delta index
    answers identically to a single build."""
    from pyspark.sql import functions as F

    from chess_pos_db_spark.llm import search as S

    rows = [
        (1, "window x x table", "en", "s", 0),   # gap 3 == w -> hit
        (2, "window x x x table", "en", "s", 0),  # gap 4 > w  -> miss
        (3, "table x window", "en", "s", 0),      # backward only -> miss
        (4, "window table table window x table", "en", "s", 0),
        # doc 4: window@0 -> table@{1,2} (one anchor); window@3 -> table@5 (one)
        (5, "window window table", "en", "s", 0),  # both anchors hit
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    try:
        S.build_inverted_index(spark, docs, "ixprox_full")
        got = {
            (r["doc_id"], r["n_spans"])
            for r in S.proximity_indexed(
                spark, "ixprox_full", "window", "table", window=3
            ).collect()
        }
        assert got == {(1, 1), (4, 2), (5, 2)}

        S.build_inverted_index(spark, docs.filter(F.col("doc_id") <= 2), "ixprox_inc")
        S.append_to_index(spark, docs.filter(F.col("doc_id") > 2), "ixprox_inc")
        got_inc = {
            (r["doc_id"], r["n_spans"])
            for r in S.proximity_indexed(
                spark, "ixprox_inc", "window", "table", window=3
            ).collect()
        }
        assert got_inc == got
    finally:
        for name in list(spark.catalog.listTables()):
            if name.name.startswith("ixprox"):
                spark.sql(f"DROP TABLE IF EXISTS {name.name}")


def test_append_rejects_within_batch_duplicate_doc_ids(spark):
    """A batch containing the same doc_id twice would silently MERGE
    both copies' token streams into one posting (doubled tf) — the
    append rejects it loudly even with the cross-index check off."""
    import pytest

    from chess_pos_db_spark.llm import search as S

    base = spark.createDataFrame(
        [(1, "alpha beta", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    dup_batch = spark.createDataFrame(
        [(2, "alpha", "en", "s", 0), (2, "beta", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    try:
        S.build_inverted_index(spark, base, "ixdup_test")
        with pytest.raises(ValueError, match="duplicate doc_id"):
            S.append_to_index(spark, dup_batch, "ixdup_test", check_disjoint=False)
    finally:
        for name in list(spark.catalog.listTables()):
            if name.name.startswith("ixdup_test"):
                spark.sql(f"DROP TABLE IF EXISTS {name.name}")


@pytest.mark.slow
def test_search_indexed_never_drops_appended_generations(spark, sf_dir):
    """The single-generation fast path must DELEGATE when the index
    has live deltas: querying the base tables directly would silently
    drop every appended doc and score the rest with union-level
    n_docs/avgdl against base-only df — wrong results, no error."""
    from pyspark.sql import functions as F

    from chess_pos_db_spark.llm import search as S
    from chess_pos_db_spark.tables import t as load

    docs = load(spark, sf_dir, "documents")
    try:
        S.build_inverted_index(
            spark, docs.filter(F.col("doc_id") % 2 == 0), "ixdel_test"
        )
        S.append_to_index(
            spark, docs.filter(F.col("doc_id") % 2 == 1), "ixdel_test"
        )
        S.build_inverted_index(spark, docs, "ixdel_full")
        got = S.search_indexed(spark, "ixdel_test", S._QUERY_TERMS)
        want = S.search_indexed(spark, "ixdel_full", S._QUERY_TERMS)
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in want.collect()
        ]
    finally:
        for name in list(spark.catalog.listTables()):
            if name.name.startswith("ixdel"):
                spark.sql(f"DROP TABLE IF EXISTS {name.name}")


def test_ensure_index_builds_once_and_detects_staleness(spark, sf_dir):
    """ensure_index: first call builds, repeat call on the SAME corpus
    is a no-op (so lazy query plans never race a rebuild's
    drop+rewrite), and a corpus change triggers a rebuild."""
    from pyspark.sql import functions as F

    from chess_pos_db_spark.llm import search as S
    from chess_pos_db_spark.tables import t as load

    docs = load(spark, sf_dir, "documents")
    try:
        assert S.ensure_index(spark, docs, "ixens_test") is True
        lazy = S.search_indexed(spark, "ixens_test", S._QUERY_TERMS)
        assert S.ensure_index(spark, docs, "ixens_test") is False
        # the previously returned plan still collects cleanly — no
        # drop/rewrite happened underneath it
        assert len(lazy.collect()) > 0
        shrunk = docs.filter(F.col("doc_id") % 2 == 0)
        assert S.ensure_index(spark, shrunk, "ixens_test") is True
        meta = S._read_meta(spark, "ixens_test")
        assert meta["n_docs"] == shrunk.count()
    finally:
        for name in list(spark.catalog.listTables()):
            if name.name.startswith("ixens_test"):
                spark.sql(f"DROP TABLE IF EXISTS {name.name}")


def test_index_stats_fold_into_single_meta_commit(spark, sf_dir):
    """Corpus stats live IN the meta row — one single-row commit
    record, no separate _stats table whose write could be observed
    ahead of the generation list."""
    from pyspark.sql import functions as F

    from chess_pos_db_spark.llm import search as S
    from chess_pos_db_spark.tables import t as load

    docs = load(spark, sf_dir, "documents")
    try:
        S.build_inverted_index(spark, docs, "ixmeta_test")
        live = {t.name for t in spark.catalog.listTables()}
        assert "ixmeta_test_stats" not in live
        m = S._read_meta(spark, "ixmeta_test")
        want = docs.groupBy().agg(
            F.count("*").alias("n"),
            F.sum(F.size(F.split("text", " "))).alias("s"),
        ).first()
        assert m["n_deltas"] == 0
        assert m["n_docs"] == int(want["n"])
        assert m["sum_dl"] == float(want["s"])
        assert abs(m["avgdl"] - float(want["s"]) / int(want["n"])) < 1e-9
        # compaction of a delta-less index and appends both preserve
        # the invariant (append covered by the lifecycle test)
    finally:
        for name in list(spark.catalog.listTables()):
            if name.name.startswith("ixmeta_test"):
                spark.sql(f"DROP TABLE IF EXISTS {name.name}")


@pytest.mark.slow
def test_postings_append_crash_before_meta_commit_replays_cleanly(
    spark, sf_dir, monkeypatch
):
    """Round-8 meta fold, exercised: a crash after the delta
    postings/doclen land but before the single meta write must leave
    queries answering from the committed state (generation count AND
    corpus stats unchanged together — the window where stats ran ahead
    of the generation list no longer exists); a retried append repairs
    and commits."""
    import pytest
    from pyspark.sql import functions as F

    from chess_pos_db_spark.llm import search as S
    from chess_pos_db_spark.tables import t as load

    docs = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    delta = docs.filter(F.col("doc_id") % 3 == 1)
    try:
        S.build_inverted_index(spark, base, "ixcrash")
        before = [
            tuple(r)
            for r in S.search_indexed(spark, "ixcrash", S._QUERY_TERMS).collect()
        ]
        meta_before = S._read_meta(spark, "ixcrash")

        real_write_meta = S._write_meta

        def dying(*a, **kw):
            raise RuntimeError("simulated crash before the meta commit")

        monkeypatch.setattr(S, "_write_meta", dying)
        with pytest.raises(RuntimeError, match="simulated crash"):
            S.append_to_index(spark, delta, "ixcrash")
        monkeypatch.setattr(S, "_write_meta", real_write_meta)

        meta_after = S._read_meta(spark, "ixcrash")
        assert tuple(meta_after) == tuple(meta_before)  # stats AND gens
        assert [
            tuple(r)
            for r in S.search_indexed(spark, "ixcrash", S._QUERY_TERMS).collect()
        ] == before

        S.append_to_index(spark, delta, "ixcrash")
        S.build_inverted_index(spark, base.unionByName(delta), "ixcrash_full")
        want = [
            tuple(r)
            for r in S.search_indexed(
                spark, "ixcrash_full", S._QUERY_TERMS
            ).collect()
        ]
        assert [
            tuple(r)
            for r in S.search_indexed(spark, "ixcrash", S._QUERY_TERMS).collect()
        ] == want
    finally:
        for name in list(spark.catalog.listTables()):
            if name.name.startswith("ixcrash"):
                spark.sql(f"DROP TABLE IF EXISTS {name.name}")


@pytest.mark.slow
def test_delete_from_index_equals_fresh_build_on_live_corpus(spark, sf_dir):
    """Tombstone delete lifecycle of the postings index: deleting a
    slice must make EVERY query path (BM25 fast path, incremental,
    phrase, proximity) answer exactly as a fresh build over the live
    corpus — tombstone masking, live-only df and the recomputed
    n_docs/avgdl all have to line up. Deletes of absent or
    already-deleted ids fail loudly; a deleted id cannot be
    re-appended until compaction purges it; compaction drops the
    tombstoned rows physically, retires the masks, and answers
    unchanged — after which the id CAN be re-appended."""
    import pytest
    from pyspark.sql import functions as F

    from chess_pos_db_spark.llm import search as S
    from chess_pos_db_spark.tables import t as load

    docs = load(spark, sf_dir, "documents")
    doomed = docs.filter(F.col("doc_id") % 5 == 1).select("doc_id")
    live = docs.filter(F.col("doc_id") % 5 != 1)
    prefix, ref = "ixdel_test", "ixdelref_test"
    try:
        S.build_inverted_index(spark, docs, prefix)
        S.build_inverted_index(spark, live, ref)
        gen = S.delete_from_index(spark, doomed, prefix)
        assert gen == 1

        want_bm25 = [
            tuple(r)
            for r in S.search_indexed(spark, ref, S._QUERY_TERMS).collect()
        ]
        # fast path delegates to the tombstone-aware incremental path
        got = S.search_indexed(spark, prefix, S._QUERY_TERMS)
        assert [tuple(r) for r in got.collect()] == want_bm25
        assert [
            tuple(r)
            for r in S.phrase_indexed(spark, prefix, S._PHRASE).collect()
        ] == [tuple(r) for r in S.phrase_indexed(spark, ref, S._PHRASE).collect()]
        assert [
            tuple(r)
            for r in S.proximity_indexed(
                spark, prefix, "window", "table"
            ).collect()
        ] == [
            tuple(r)
            for r in S.proximity_indexed(spark, ref, "window", "table").collect()
        ]

        # absent and already-deleted ids fail loudly
        with pytest.raises(ValueError, match="not live"):
            S.delete_from_index(
                spark, spark.range(1).select(F.lit(-99).alias("doc_id")), prefix
            )
        with pytest.raises(ValueError, match="not live"):
            S.delete_from_index(spark, doomed.limit(3), prefix)
        # a tombstoned id cannot be re-appended until compaction
        with pytest.raises(ValueError, match="doc-disjoint"):
            S.append_to_index(
                spark, docs.filter(F.col("doc_id") % 5 == 1).limit(2), prefix
            )

        # compaction: physical purge, masks retired, answers unchanged
        S.compact_index(spark, prefix)
        m = S._read_meta(spark, prefix)
        assert S._n_tomb_gens(m) == 0 and m["n_deltas"] == 0
        live_tables = {t.name for t in spark.catalog.listTables()}
        assert f"{prefix}_tomb_d1" not in live_tables
        n_doomed_left = (
            spark.table(f"{prefix}_doclen")
            .join(doomed, "doc_id", "left_semi")
            .count()
        )
        assert n_doomed_left == 0
        got2 = S.search_indexed(spark, prefix, S._QUERY_TERMS)
        assert [tuple(r) for r in got2.collect()] == want_bm25
        # after the purge the slice can rejoin the corpus
        S.append_to_index(spark, docs.filter(F.col("doc_id") % 5 == 1), prefix)
        full = "ixdelfull_test"
        S.build_inverted_index(spark, docs, full)
        assert [
            tuple(r)
            for r in S.search_indexed(spark, prefix, S._QUERY_TERMS).collect()
        ] == [
            tuple(r)
            for r in S.search_indexed(spark, full, S._QUERY_TERMS).collect()
        ]
    finally:
        for name in list(spark.catalog.listTables()):
            if name.name.startswith(("ixdel_test", "ixdelref_test",
                                     "ixdelfull_test")):
                spark.sql(f"DROP TABLE IF EXISTS {name.name}")


def test_bm25_deleted_builds_once_when_delete_slice_is_empty(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A corpus with NO doc_id % 11 == 2 rows makes the registered
    delete-lifecycle query's delete an empty-feed no-op (0 tombstone
    generations). The second invocation must still find the index
    built — a check on the lifecycle's generation counts would rebuild
    the index on every call, and a previously returned lazy plan could
    then race the rebuild's drop+rewrite."""
    import os
    import shutil

    import pytest
    from pyspark.sql import functions as F

    import chess_pos_db_spark as engine
    from chess_pos_db_spark.llm import search as S
    from chess_pos_db_spark.tables import fixture_home
    from chess_pos_db_spark.tables import t as load

    mydir = str(tmp_path / "sfno11")
    os.makedirs(mydir, exist_ok=True)
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 != 2)
    docs.write.mode("overwrite").parquet(os.path.join(mydir, "documents.parquet"))
    q = engine.get_queries()["search_bm25_deleted"]
    home = fixture_home(spark, mydir, "bm25ix_del")
    prefix = os.path.basename(home)
    try:
        want = [tuple(r) for r in q(spark, mydir).collect()]
        assert S._n_tomb_gens(S._read_meta(spark, prefix)) == 0

        def dying(*a, **kw):
            raise AssertionError("index rebuilt on re-invoke")

        monkeypatch.setattr(S, "build_inverted_index", dying)
        got = [tuple(r) for r in q(spark, mydir).collect()]
        assert got == want and len(got) > 0
    finally:
        for name in list(spark.catalog.listTables()):
            if name.name.startswith(prefix):
                spark.sql(f"DROP TABLE IF EXISTS {name.name}")
        shutil.rmtree(mydir, ignore_errors=True)
        shutil.rmtree(home, ignore_errors=True)


@pytest.mark.slow
def test_delete_then_append_and_crash_semantics(spark, sf_dir, monkeypatch):
    """(a) An append AFTER a pending delete must not resurrect the
    tombstoned docs in the corpus stats — base+delete+append answers
    exactly like a fresh build over (live base ∪ appended batch).
    (b) A crash BEFORE the delete's meta commit leaves the index
    answering as if the delete never happened, and the replay lands
    the same tombstone generation."""
    import pytest
    from pyspark.sql import functions as F

    from chess_pos_db_spark.llm import search as S
    from chess_pos_db_spark.tables import t as load

    docs = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    doomed = base.filter(F.col("doc_id") % 5 == 1).select("doc_id")
    batch = docs.filter(F.col("doc_id") % 3 == 1)
    live_union = base.filter(F.col("doc_id") % 5 != 1).unionByName(batch)
    prefix, ref = "ixda_test", "ixdaref_test"
    try:
        S.build_inverted_index(spark, base, prefix)

        # crash before the meta commit: tombstones invisible
        real = S._write_meta

        def dying(*a, **kw):
            raise RuntimeError("simulated crash before the meta commit")

        monkeypatch.setattr(S, "_write_meta", dying)
        with pytest.raises(RuntimeError, match="simulated crash"):
            S.delete_from_index(spark, doomed, prefix)
        monkeypatch.setattr(S, "_write_meta", real)
        m = S._read_meta(spark, prefix)
        assert S._n_tomb_gens(m) == 0  # uncommitted
        want_pre = [
            tuple(r)
            for r in S.search_indexed(spark, prefix, S._QUERY_TERMS).collect()
        ]
        fresh_pre = "ixdapre_test"
        S.build_inverted_index(spark, base, fresh_pre)
        assert want_pre == [
            tuple(r)
            for r in S.search_indexed(spark, fresh_pre, S._QUERY_TERMS).collect()
        ]

        # replay lands the same generation; append after delete keeps
        # stats live-only
        assert S.delete_from_index(spark, doomed, prefix) == 1
        S.append_to_index(spark, batch, prefix)
        S.build_inverted_index(spark, live_union, ref)
        got = S.search_indexed(spark, prefix, S._QUERY_TERMS)
        want = S.search_indexed(spark, ref, S._QUERY_TERMS)
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in want.collect()
        ]
    finally:
        for name in list(spark.catalog.listTables()):
            if name.name.startswith(("ixda_test", "ixdaref_test",
                                     "ixdapre_test")):
                spark.sql(f"DROP TABLE IF EXISTS {name.name}")


@pytest.mark.slow
def test_postings_index_lifecycle_randomized_against_fresh_build(
    spark, tmp_path
):
    """Model-based stress for the postings index (the third index
    family, mirroring the LSH and store randomized tests): seeded
    random append / tombstone-delete / compact interleavings over a
    synthetic corpus, then BM25 top-k against the MAINTAINED index must
    equal the same search against an index FRESHLY BUILT over exactly
    the live documents — df counts, corpus stats (n_docs/avgdl) and
    tombstone masks all have to agree with a from-scratch build for the
    scores to match."""
    import random

    from chess_pos_db_spark.llm import search as S

    def mk_docs(ids):
        vocab = [f"w{i}" for i in range(20)]
        rows = []
        for i in ids:
            r = random.Random(77_000 + i)
            rows.append((i, " ".join(r.choice(vocab) for _ in range(10))))
        return spark.createDataFrame(rows, "doc_id long, text string")

    for seed in range(2):
        rng = random.Random(200 + seed)
        prefix = f"rand_post_{seed}"
        live = set(rng.sample(range(100), 10))
        S.build_inverted_index(spark, mk_docs(sorted(live)), prefix)
        next_id = [100]

        for step in range(5):
            op = rng.choice(["append", "delete", "compact"])
            if op == "append":
                fresh = list(range(next_id[0], next_id[0] + 5))
                next_id[0] += 5
                S.append_to_index(spark, mk_docs(fresh), prefix)
                live.update(fresh)
            elif op == "delete":
                if len(live) <= 4:
                    continue
                doomed = rng.sample(sorted(live), 2)
                S.delete_from_index(
                    spark,
                    spark.createDataFrame(
                        [(d,) for d in doomed], "doc_id long"
                    ),
                    prefix,
                )
                live -= set(doomed)
            else:
                S.compact_index(spark, prefix)

        terms = ["w1", "w5", "w13"]
        got = sorted(
            tuple(r)
            for r in S.search_indexed(spark, prefix, terms, k=15).collect()
        )
        fresh_prefix = f"rand_post_fresh_{seed}"
        S.build_inverted_index(spark, mk_docs(sorted(live)), fresh_prefix)
        want = sorted(
            tuple(r)
            for r in S.search_indexed(
                spark, fresh_prefix, terms, k=15
            ).collect()
        )
        assert got == want, f"seed {seed}: maintained != fresh-built"
        assert want, f"seed {seed}: degenerate search (no hits)"
