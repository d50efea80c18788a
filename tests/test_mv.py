"""Aggregate navigator (plans/mv.py): queries rewritten onto a
materialized aggregate view must equal recomputation from base, the
materialized path must read ONLY the view, freshness must be enforced
against the snapshot-store version, and non-derivable requests must
fail at bind time — never silently fall back or return wrong numbers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chess_pos_db_spark.plans.mv import (
    NotDerivableError,
    StaleViewError,
    answer,
    build_view,
    read_view,
    write_view,
)
from chess_pos_db_spark.tables import t


DIMS = ["l_returnflag", "l_linestatus"]
MEASURES = [
    ("count", "*"),
    ("count", "l_quantity"),
    ("sum", "l_quantity"),
    ("min", "l_quantity"),
    ("max", "l_quantity"),
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _base(spark, sf_dir):
    return t(spark, sf_dir, "lineitem")


def test_rollup_from_view_equals_base(spark, sf_dir):
    """Coarser grouping answered from the view == direct aggregation."""
    li = _base(spark, sf_dir)
    view = build_view(li, DIMS, MEASURES)
    got = answer(
        view,
        DIMS,
        MEASURES,
        group_exprs=[("l_returnflag", "l_returnflag")],
        aggs={
            "n": ("count", "*"),
            "s": ("sum", "l_quantity"),
            "a": ("avg", "l_quantity"),
            "lo": ("min", "l_quantity"),
            "hi": ("max", "l_quantity"),
        },
    )
    want = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("s"),
        F.avg("l_quantity").alias("a"),
        F.min("l_quantity").alias("lo"),
        F.max("l_quantity").alias("hi"),
    )
    assert _rows(got) == _rows(want)


def test_group_expression_over_dims(spark, sf_dir):
    """Group keys may be expressions of dims (hierarchy rollup)."""
    li = _base(spark, sf_dir)
    view = build_view(li, DIMS, MEASURES)
    got = answer(
        view,
        DIMS,
        MEASURES,
        group_exprs=[("concat(l_returnflag, '/', l_linestatus)", "cell")],
        aggs={"n": ("count", "*")},
    )
    want = li.groupBy(
        F.concat_ws("/", "l_returnflag", "l_linestatus").alias("cell")
    ).agg(F.count("*").alias("n"))
    assert _rows(got) == _rows(want)


def test_materialized_answer_reads_only_view(spark, sf_dir, tmp_path):
    """The physical plan of a view-answered query must contain exactly
    one FileScan — the view — and never the base table."""
    li = _base(spark, sf_dir)
    path = str(tmp_path / "mv")
    write_view(build_view(li, DIMS, MEASURES), path, DIMS, MEASURES, base_version=1)
    view, dims, measures = read_view(spark, path, expect_base_version=1)
    got = answer(
        view,
        dims,
        measures,
        group_exprs=[("l_returnflag", "l_returnflag")],
        aggs={"n": ("count", "*"), "s": ("sum", "l_quantity")},
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "lineitem" not in plan
    want = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("s")
    )
    assert _rows(got) == _rows(want)


def test_stale_view_refuses(spark, sf_dir, tmp_path):
    li = _base(spark, sf_dir)
    path = str(tmp_path / "mv")
    write_view(build_view(li, DIMS, MEASURES), path, DIMS, MEASURES, base_version=1)
    with pytest.raises(StaleViewError):
        read_view(spark, path, expect_base_version=2)


def test_non_derivable_aggregate_raises(spark, sf_dir):
    li = _base(spark, sf_dir)
    view = build_view(li, DIMS, MEASURES)
    with pytest.raises(NotDerivableError):
        answer(
            view,
            DIMS,
            MEASURES,
            group_exprs=[("l_returnflag", "l_returnflag")],
            aggs={"s": ("sum", "l_extendedprice")},  # partial not in view
        )
    with pytest.raises(NotDerivableError):
        answer(
            view,
            DIMS,
            MEASURES,
            group_exprs=[("l_returnflag", "l_returnflag")],
            aggs={"m": ("median", "l_quantity")},  # not decomposable
        )


def test_group_expr_outside_dims_fails_at_bind(spark, sf_dir):
    """A group expression referencing a non-dim (here a measure-source
    column that is NOT a dim) must fail analysis, not silently group by
    a partial-state column."""
    li = _base(spark, sf_dir)
    view = build_view(li, DIMS, MEASURES)
    with pytest.raises(Exception) as exc:
        answer(
            view,
            DIMS,
            MEASURES,
            group_exprs=[("l_quantity", "q")],
            aggs={"n": ("count", "*")},
        )
    assert "l_quantity" in str(exc.value)


def test_maintain_view_equals_rebuild(spark, sf_dir):
    """Delta-maintained view == view rebuilt over the updated base, and
    answers from it still equal direct aggregation."""
    li = _base(spark, sf_dir)
    ms = [("count", "*"), ("count", "l_quantity"), ("sum", "l_quantity")]
    k = F.col("l_orderkey")
    base0 = li.filter(k % 3 != 0)
    ins = li.filter(k % 3 == 0)
    dels = base0.filter(k % 5 == 1)
    from chess_pos_db_spark.plans.mv import maintain_view

    maintained = build_view(base0, DIMS, ms)
    maintained = maintain_view(maintained, DIMS, ms, inserts=ins, deletes=dels)
    final_base = base0.filter(k % 5 != 1).unionByName(ins)
    rebuilt = build_view(final_base, DIMS, ms)
    assert _rows(maintained) == _rows(rebuilt)


def test_maintain_minmax_refuses_deletes(spark, sf_dir):
    from chess_pos_db_spark.plans.mv import maintain_view

    li = _base(spark, sf_dir)
    view = build_view(li, DIMS, MEASURES)  # MEASURES includes min/max
    with pytest.raises(NotDerivableError):
        maintain_view(view, DIMS, MEASURES, deletes=li.limit(1))
    # insert-only maintenance of min/max views is allowed and correct
    extra = li.limit(50)
    maintained = maintain_view(view, DIMS, MEASURES, inserts=extra)
    rebuilt = build_view(li.unionByName(extra), DIMS, MEASURES)
    assert _rows(maintained) == _rows(rebuilt)


def test_hll_distinct_rollup_within_bounds(spark, sf_dir):
    """The view-answered approx-distinct (union of per-cell sketches)
    covers the same value set as sketching base directly; both must sit
    within the HLL error bounds of the exact distinct count. (They are
    NOT bit-identical in general: a union promotes sparse-mode sketches
    to dense HLL while a small direct sketch stays sparse/exact.)"""
    li = _base(spark, sf_dir)
    ms = [("count", "*"), ("hll", "l_orderkey")]
    view = build_view(li, DIMS, ms)
    got = answer(
        view,
        DIMS,
        ms,
        group_exprs=[("l_returnflag", "l_returnflag")],
        aggs={"nd": ("approx_distinct", "l_orderkey")},
    )
    exact = dict(
        (r[0], r[1])
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey"))
        .collect()
    )
    for flag, nd in _rows(got):
        assert abs(nd - exact[flag]) <= 0.05 * exact[flag] + 1


def test_maintain_hll_insert_only(spark, sf_dir):
    from chess_pos_db_spark.plans.mv import maintain_view

    li = _base(spark, sf_dir)
    ms = [("count", "*"), ("hll", "l_orderkey")]
    k = F.col("l_orderkey")
    base0 = li.filter(k % 3 != 0)
    ins = li.filter(k % 3 == 0)
    maintained = maintain_view(build_view(base0, DIMS, ms), DIMS, ms, inserts=ins)
    rebuilt = build_view(li, DIMS, ms)

    def estimates(v):
        return dict(
            (tuple(r[:-1]), r[-1])
            for r in v.select(
                *DIMS, F.hll_sketch_estimate("m_hll_l_orderkey").alias("nd")
            ).collect()
        )

    m, r = estimates(maintained), estimates(rebuilt)
    assert set(m) == set(r)
    for cell, nd in m.items():
        # merged vs direct sketches agree within the HLL error bounds
        assert abs(nd - r[cell]) <= 0.05 * r[cell] + 1
    with pytest.raises(NotDerivableError):
        maintain_view(build_view(base0, DIMS, ms), DIMS, ms, deletes=ins)


def test_route_picks_view_else_base(spark, sf_dir):
    from chess_pos_db_spark.plans.mv import route

    li = _base(spark, sf_dir)
    ms = [("count", "*"), ("sum", "l_quantity"), ("count", "l_quantity")]
    view = build_view(li, DIMS, ms)
    groups = [("l_returnflag", "l_returnflag")]
    res, path = route(li, view, DIMS, ms, groups, {"n": ("count", "*")})
    assert path == "view"
    # avg(l_extendedprice) has no partials in the view -> base fallback
    res2, path2 = route(
        li, view, DIMS, ms, groups, {"ap": ("avg", "l_extendedprice")}
    )
    assert path2 == "base"
    want = li.groupBy("l_returnflag").agg(F.avg("l_extendedprice").alias("ap"))
    assert _rows(res2) == _rows(want)


# --- property test: maintenance ≡ rebuild under random delta batches ---------

from hypothesis import given, settings, strategies as st

_SPARK = []


@pytest.fixture(autouse=True)
def _capture_spark(spark):
    _SPARK.clear()
    _SPARK.append(spark)


_batch = st.lists(
    st.tuples(st.sampled_from("xyz"), st.integers(0, 9)), max_size=6
)


@settings(max_examples=8, deadline=None)
@given(_batch, _batch)
@pytest.mark.slow
def test_maintain_equals_rebuild_property(ins, dels):
    """Random insert batch + random delete batch (deletes drawn from
    base ∪ inserts so the scenario is well-formed): maintained
    count/sum navigator view == view rebuilt over the final base."""
    from chess_pos_db_spark.plans.mv import build_view, maintain_view

    spark = _SPARK[0]
    ms = [("count", "*"), ("sum", "v")]
    base_rows = [("x", 1), ("x", 4), ("y", 2), ("z", 3)]
    pool = base_rows + ins
    seen_idx = set()
    chosen = []
    for i, _ in enumerate(dels):
        j = i % len(pool)
        if j not in seen_idx:
            seen_idx.add(j)
            chosen.append(pool[j])
    base = spark.createDataFrame(base_rows, "k string, v long")
    view = build_view(base, ["k"], ms)
    kwargs = {}
    if ins:
        kwargs["inserts"] = spark.createDataFrame(ins, "k string, v long")
    if chosen:
        kwargs["deletes"] = spark.createDataFrame(chosen, "k string, v long")
    updated = maintain_view(view, ["k"], ms, **kwargs)
    remaining = base_rows + ins
    for d in chosen:
        remaining.remove(d)
    if remaining:
        expect = build_view(
            spark.createDataFrame(remaining, "k string, v long"), ["k"], ms
        )
        assert _rows(updated) == _rows(expect)
    else:
        assert updated.count() == 0


def test_maintain_deletes_require_count_star(spark, sf_dir):
    """A count/sum view WITHOUT a count(*) partial refuses delete
    maintenance loudly — otherwise fully-retracted cells would linger
    as ghosts with zero/negative partials."""
    from chess_pos_db_spark.plans.mv import build_view, maintain_view

    li = _base(spark, sf_dir)
    ms = [("sum", "l_quantity"), ("count", "l_quantity")]
    view = build_view(li, DIMS, ms)
    with pytest.raises(NotDerivableError, match="count, \\*"):
        maintain_view(view, DIMS, ms, deletes=li.limit(1))
    # insert-only maintenance stays allowed without count(*)
    maintained = maintain_view(view, DIMS, ms, inserts=li.limit(50))
    rebuilt = build_view(li.unionByName(li.limit(50)), DIMS, ms)
    assert _rows(maintained) == _rows(rebuilt)


def test_maintain_rejects_overdeletes(spark, sf_dir):
    """A delete delta retracting more rows than a grain cell holds must
    FAIL the maintenance job (negative count(*) partial), not silently
    prune the cell or leave a negative count. (Phantom deletes that land
    inside still-occupied cells are undetectable without rescanning
    base — the documented IVM validity assumption.)"""
    from chess_pos_db_spark.plans.mv import build_view, maintain_view

    li = _base(spark, sf_dir)
    ms = [("count", "*"), ("sum", "l_quantity")]
    base0 = li.filter(F.col("l_orderkey") % 3 != 0)
    view = build_view(base0, DIMS, ms)
    twice = base0.unionByName(base0)  # every row deleted twice
    with pytest.raises(Exception, match="absent from base"):
        maintain_view(view, DIMS, ms, deletes=twice).collect()


def test_route_group_expr_fallback_and_defect_not_masked(spark, sf_dir):
    """route() falls back to base ONLY for the dim-bind failure (a
    group expr referencing a non-dim base column). Any OTHER analysis
    failure inside the view path — here, view data missing a partial
    column its spec promises — must propagate as the defect it is, not
    be silently rerouted to base with correct-looking numbers while
    the view is never actually used."""
    from pyspark.errors import AnalysisException

    from chess_pos_db_spark.plans.mv import route

    li = _base(spark, sf_dir)
    ms = [("count", "*"), ("sum", "l_quantity"), ("count", "l_quantity")]
    view = build_view(li, DIMS, ms)

    # documented fallback: group expr on a base column outside the dims
    res, path = route(
        li, view, DIMS, ms,
        [("year(l_shipdate)", "ship_year")],
        {"n": ("count", "*")},
    )
    assert path == "base"

    # defect: view missing a promised partial column — must raise
    broken = view.drop("m_sum_l_quantity")
    with pytest.raises(AnalysisException):
        route(
            li, broken, DIMS, ms,
            [("l_returnflag", "l_returnflag")],
            {"sq": ("sum", "l_quantity")},
        )


@pytest.mark.slow
def test_advance_view_follows_store_deletes_and_appends(spark, tmp_path):
    """advance_view must catch a version-pinned view up to the store's
    latest version through the store's own CDC: after a copy-on-write
    delete the view equals a rebuild over the live base; a second
    advance is a no-op; an append advances through the insert leg; a
    min/max view advances under an insert-only diff but refuses a
    delete diff (maintain_view's honest boundary)."""
    from chess_pos_db_spark.plans import layout
    from chess_pos_db_spark.plans.mv import advance_view, maintain_view

    store = str(tmp_path / "av_store")
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    )
    base = [(i, f"s{i % 3}", 10 * (i + 1)) for i in range(30)]
    layout.append_versioned(mk(base), store, ["doc_id"])

    dims, ms = ["source"], [("count", "*"), ("sum", "n_chars")]
    vp = str(tmp_path / "av_view")
    write_view(
        build_view(layout.read_snapshot(spark, store), dims, ms),
        vp, dims, ms, base_version=1,
    )

    # delete → v2; advance applies the removed rows as a delete delta
    layout.delete_rows(spark, store, "doc_id % 5 = 2")
    res = advance_view(spark, store, vp, key=["doc_id"])
    assert res == {"from": 1, "to": 2, "advanced": True}
    view, vdims, vms = read_view(spark, vp, expect_base_version=2)
    want = build_view(layout.read_snapshot(spark, store), dims, ms)
    assert _rows(view) == _rows(want)

    # converged: a second advance is a no-op and the pin holds
    assert advance_view(spark, store, vp, key=["doc_id"]) == {
        "from": 2, "to": 2, "advanced": False,
    }

    # append → v3; advance applies the insert leg
    layout.append_versioned(
        mk([(100 + i, "s9", 7) for i in range(5)]), store, ["doc_id"]
    )
    assert advance_view(spark, store, vp, key=["doc_id"])["to"] == 3
    view, _, _ = read_view(spark, vp, expect_base_version=3)
    assert _rows(view) == _rows(
        build_view(layout.read_snapshot(spark, store), dims, ms)
    )

    # min/max view: insert-only diff advances, delete diff refuses
    ms2 = [("count", "*"), ("max", "n_chars")]
    vp2 = str(tmp_path / "av_view_mm")
    write_view(
        build_view(layout.read_snapshot(spark, store, 2), dims, ms2),
        vp2, dims, ms2, base_version=2,
    )
    assert advance_view(spark, store, vp2, key=["doc_id"])["advanced"]
    layout.delete_rows(spark, store, "doc_id % 7 = 1")
    with pytest.raises(NotDerivableError, match="not maintainable"):
        advance_view(spark, store, vp2, key=["doc_id"])


def test_advance_view_crash_before_manifest_commit_replays(
    spark, tmp_path, monkeypatch
):
    """A crash after the new partials land but BEFORE the manifest
    replace leaves the old pin authoritative — the view reads its old
    data, and the replayed advance recomputes the same diff and
    commits. The just-superseded data dir is RETAINED one generation
    (deferred cleanup for racing readers — see
    test_advance_view_defers_old_dir_cleanup)."""
    import os

    from chess_pos_db_spark.plans import layout, mv

    store = str(tmp_path / "avc_store")
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    )
    layout.append_versioned(
        mk([(i, f"s{i % 2}", i) for i in range(20)]), store, ["doc_id"]
    )
    dims, ms = ["source"], [("count", "*"), ("sum", "n_chars")]
    vp = str(tmp_path / "avc_view")
    write_view(
        build_view(layout.read_snapshot(spark, store), dims, ms),
        vp, dims, ms, base_version=1,
    )
    pre = _rows(read_view(spark, vp)[0])
    layout.delete_rows(spark, store, "doc_id >= 15")

    real = mv._dump_manifest

    def dying(*a, **kw):
        raise RuntimeError("simulated crash before the view manifest commit")

    monkeypatch.setattr(mv, "_dump_manifest", dying)
    with pytest.raises(RuntimeError, match="simulated crash"):
        mv.advance_view(spark, store, vp, key=["doc_id"])
    monkeypatch.setattr(mv, "_dump_manifest", real)

    # uncommitted: the old pin still answers the old content
    assert _rows(read_view(spark, vp, expect_base_version=1)[0]) == pre

    res = mv.advance_view(spark, store, vp, key=["doc_id"])
    assert res == {"from": 1, "to": 2, "advanced": True}
    assert _rows(read_view(spark, vp, expect_base_version=2)[0]) == _rows(
        build_view(layout.read_snapshot(spark, store), dims, ms)
    )
    # the just-superseded data dir is retained one generation for
    # racing readers; the committed pin answers from the new dir
    assert os.path.isdir(os.path.join(vp, "data"))
    assert os.path.isdir(os.path.join(vp, "data_v2"))


def test_advance_view_defers_old_dir_cleanup(spark, tmp_path):
    """A lazy DataFrame handed out by read_view must survive ONE racing
    advance: the superseded data dir is retained for one generation
    and swept on the next advance (the expire_snapshots
    logical/physical split, scaled down to the view)."""
    import os

    from chess_pos_db_spark.plans import layout
    from chess_pos_db_spark.plans.mv import advance_view

    store = str(tmp_path / "defer_store")
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    )
    layout.append_versioned(
        mk([(i, f"s{i % 2}", i + 1) for i in range(10)]), store, ["doc_id"]
    )
    dims, ms = ["source"], [("count", "*"), ("sum", "n_chars")]
    vp = str(tmp_path / "defer_view")
    write_view(
        build_view(layout.read_snapshot(spark, store), dims, ms),
        vp, dims, ms, base_version=1,
    )
    stale, _, _ = read_view(spark, vp)  # lazy plan over data/
    pre_rows = None

    layout.append_versioned(mk([(100, "s0", 5)]), store, ["doc_id"])
    assert advance_view(spark, store, vp, key=["doc_id"])["advanced"]
    # the racing reader's dir survives the advance that superseded it
    assert os.path.isdir(os.path.join(vp, "data"))
    pre_rows = sorted(tuple(r) for r in stale.collect())
    assert pre_rows  # still scannable, pre-advance content

    layout.append_versioned(mk([(101, "s1", 6)]), store, ["doc_id"])
    assert advance_view(spark, store, vp, key=["doc_id"])["advanced"]
    # second advance sweeps it; the previous generation is retained
    assert not os.path.isdir(os.path.join(vp, "data"))
    assert os.path.isdir(os.path.join(vp, "data_v2"))
    assert os.path.isdir(os.path.join(vp, "data_v3"))


@pytest.mark.slow
def test_view_advance_randomized_against_rebuild(spark, tmp_path):
    """Model-based stress for the delta view-maintenance path: a store
    evolves through seeded random append/upsert/delete/compact
    sequences, and after every few steps ONE advance_view call (spanning
    however many versions accumulated, through the delta-sized
    snapshot_diff incl. genuine 'changed' rows from upserts that move a
    row between groups) must leave the view equal to a from-scratch
    rebuild over the live base."""
    import random

    from chess_pos_db_spark.plans import layout
    from chess_pos_db_spark.plans.mv import advance_view

    dims, ms = ["grp"], [("count", "*"), ("sum", "x")]
    mk = lambda rows: spark.createDataFrame(rows, "k long, grp string, x long")

    for seed in range(3):
        rng = random.Random(100 + seed)
        store = str(tmp_path / f"rv_store_{seed}")
        vp = str(tmp_path / f"rv_view_{seed}")
        rows = [
            (k, f"g{rng.randrange(3)}", rng.randrange(50))
            for k in rng.sample(range(40), 8)
        ]
        layout.append_versioned(mk(rows), store, ["k"])
        write_view(
            build_view(layout.read_snapshot(spark, store), dims, ms),
            vp, dims, ms, base_version=1,
        )
        live_keys = {r[0] for r in rows}

        for step in range(6):
            op = rng.choice(["append", "upsert", "delete", "compact"])
            if op == "append":
                fresh = [k for k in rng.sample(range(200), 5)
                         if k not in live_keys]
                if not fresh:
                    continue
                layout.append_versioned(
                    mk([
                        (k, f"g{rng.randrange(3)}", rng.randrange(50))
                        for k in fresh
                    ]),
                    store, ["k"],
                )
                live_keys.update(fresh)
            elif op == "upsert":
                chg = []
                for k in rng.sample(sorted(live_keys),
                                    min(3, len(live_keys))):
                    # group-moving update: exercises changed-row
                    # delete+insert legs of maintain_view
                    chg.append((k, f"g{rng.randrange(3)}",
                                rng.randrange(50), "U"))
                for k in rng.sample(range(200, 240), 1):
                    if k not in live_keys:
                        chg.append((k, f"g{rng.randrange(3)}",
                                    rng.randrange(50), "I"))
                        live_keys.add(k)
                layout.upsert_rows(
                    spark, store,
                    spark.createDataFrame(
                        chg, "k long, grp string, x long, op string"
                    ),
                )
            elif op == "delete":
                m = rng.choice([4, 6])
                doomed = {k for k in live_keys if k % m == 2}
                if not doomed:
                    continue
                layout.delete_rows(spark, store, f"k % {m} = 2")
                live_keys -= doomed
            else:
                layout.compact_versioned(
                    spark, store, key=["k"],
                    agg_spec={"grp": "max", "x": "max"},
                )

            if rng.random() < 0.6 or step == 5:
                advance_view(spark, store, vp, key=["k"])
                man_v = layout.read_manifest(store)["snapshots"][-1]["id"]
                view, vd, vm = read_view(spark, vp,
                                         expect_base_version=man_v)
                want = _rows(
                    build_view(layout.read_snapshot(spark, store), dims, ms)
                )
                assert _rows(view) == want, f"seed {seed} step {step} {op}"


def test_advance_view_refuses_nonadditive_evolution(spark, tmp_path):
    """A view pinned below an evolve_schema break cannot advance through
    the diff (columns were renamed/dropped) — the error names the VIEW
    recovery (rebuild), not the changelog one, and the view's pin and
    data are untouched."""
    import pytest

    from chess_pos_db_spark.plans import layout, mv

    store = str(tmp_path / "nv_store")
    view = str(tmp_path / "nv_view")
    layout.append_versioned(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "doc_id long, src string, n long"
        ),
        store, ["doc_id"],
    )
    mv.write_view(
        mv.build_view(
            layout.read_snapshot(spark, store), ["src"], [("sum", "n")]
        ),
        view,
        ["src"],
        [("sum", "n")],
        base_version=1,
    )
    layout.evolve_schema(spark, store, renames={"src": "origin"})
    with pytest.raises(ValueError, match="rebuild the view"):
        mv.advance_view(spark, store, view, key=["doc_id"])
    import json
    import os

    with open(os.path.join(view, "_mv_manifest.json")) as f:
        assert json.load(f)["base_version"] == 1
