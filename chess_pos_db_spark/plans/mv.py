"""Materialized aggregate views + the aggregate navigator.

The reference IS a materialized pre-aggregation engine: its entry store
keeps (pos_key, reverse_move, level, result) → combined counts, and
every explorer query is answered from that rollup, never from raw games
(SURVEY.md §0: per-(level,result) accumulation; §3.3 aggregate-combining
merge). This module generalizes that design move into a first-class
capability: declare an aggregate view at a chosen grain, materialize it
once, and have coarser aggregation queries ANSWERED FROM THE VIEW —
provably, because each requested aggregate must be derivable from the
view's partial states.

Derivability (the classic aggregate-navigator rules):

    count(*)  → sum(view.count_partial)
    count(c)  → sum(view.count_c_partial)      (non-null count)
    sum(c)    → sum(view.sum_c_partial)
    min(c)    → min(view.min_c_partial)
    max(c)    → max(view.max_c_partial)
    avg(c)    → sum(sum_c_partial) / sum(count_c_partial)

Group keys may be the view's dims or any deterministic expression over
them (year(ship_month), substr(flag,1,1), …) — the time-hierarchy case.
A request that needs anything else (a non-dim column, a median, a
distinct count) is NOT derivable and raises — the honest boundary; such
queries go to the base table (or to the mergeable-sketch views:
agg_hll_mergeable / agg_kll_mergeable cover distinct/quantile rollups).

100 TB posture: the view is |grain| rows regardless of base size — the
(returnflag, linestatus, ship_month) grain here is ~10^4 rows for a
10^10-row base. Building it is one map-side-combined shuffle of the
base (the same single pass the flagship grid agg already costs); every
subsequent rollup at or above that grain reads ONLY the view — the
exact economics that let the reference answer interactive queries over
billions of positions. Freshness is pinned to the snapshot-store
version (plans/layout.append_versioned): a view built at version v
refuses to answer once the base has moved on, closing the silent-stale
trap; rebuild (or IVM-maintain via operators/ivm.py for count/sum
views) and re-pin.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import build_once, fixture_home, t
from .layout import _dump_manifest

_PARTIAL_FNS = ("count", "sum", "min", "max", "hll")
_MANIFEST = "_mv_manifest.json"


class NotDerivableError(ValueError):
    """The requested aggregate cannot be answered from the view."""


class StaleViewError(RuntimeError):
    """The view was built against an older base version."""


def _mcol(fn: str, col: str) -> str:
    """Canonical view column name for one partial state."""
    if col == "star":
        # would collide with count(*)'s canonical m_{fn}_star name,
        # letting count(star) silently satisfy count(*) requests
        raise ValueError(
            "measure column literally named 'star' collides with the "
            "count(*) partial-state name — rename the column"
        )
    return f"m_{fn}_star" if col == "*" else f"m_{fn}_{col}"


def build_view(
    base: DataFrame, dims: Sequence[str], measures: Sequence[tuple[str, str]]
) -> DataFrame:
    """Aggregate ``base`` to the view grain: groupBy(dims) with one
    partial-state column per measure. ``measures`` is a list of
    (fn, col) with fn in {count, sum, min, max}; col "*" only for
    count. One shuffle, map-side combined."""
    aggs = []
    for fn, col in measures:
        if fn not in _PARTIAL_FNS:
            raise ValueError(f"unsupported view measure: {fn}")
        if (fn, col) == ("count", "*"):
            expr = F.count("*")
        elif fn == "hll":
            # DataSketches HLL partial: distinct counts become mergeable
            # (register-wise max), so COUNT DISTINCT — the classically
            # non-additive aggregate — rolls up from the view too.
            expr = F.hll_sketch_agg(col)
        else:
            expr = getattr(F, fn)(col)
        aggs.append(expr.alias(_mcol(fn, col)))
    return base.groupBy(*dims).agg(*aggs)


def write_view(
    view: DataFrame,
    path: str,
    dims: Sequence[str],
    measures: Sequence[tuple[str, str]],
    base_version: int | None = None,
) -> None:
    """Materialize the view + manifest (spec and base-version pin).

    The manifest lands via layout._dump_manifest's atomic tmp+replace —
    a concurrent read_view sees either the old complete manifest or the
    new one, never torn JSON from an in-place truncating write. (The
    data/ overwrite itself is not atomic against concurrent readers;
    rebuilds of a live view should write a fresh path and swap, which
    is what the versioned-layout path provides.)"""
    view.write.mode("overwrite").parquet(os.path.join(path, "data"))
    manifest = {
        "dims": list(dims),
        "measures": [list(m) for m in measures],
        "base_version": base_version,
    }
    _dump_manifest(path, manifest, filename=_MANIFEST)


def read_view(
    spark: SparkSession, path: str, expect_base_version: int | None = None
) -> tuple[DataFrame, list[str], list[tuple[str, str]]]:
    """Open a materialized view; raises StaleViewError if the base has
    moved past the version the view was built at.

    Invalidation window: the returned DataFrame reads the manifest's
    current data dir LAZILY. One `advance_view` retains that dir
    (deferred cleanup), so a reader racing a single advance still
    scans complete data; the SECOND advance sweeps it and any still-lazy
    plan over it breaks. Re-open (or collect) promptly after an
    advance."""
    with open(os.path.join(path, _MANIFEST)) as f:
        manifest = json.load(f)
    if expect_base_version is not None and manifest["base_version"] != expect_base_version:
        raise StaleViewError(
            f"view built at base version {manifest['base_version']}, "
            f"base is now at {expect_base_version}"
        )
    # advance_view commits each maintenance step into its own data dir
    # (manifest names it); pre-advance views keep the original "data"
    df = spark.read.parquet(
        os.path.join(path, manifest.get("data_dir", "data"))
    )
    return df, manifest["dims"], [tuple(m) for m in manifest["measures"]]


def advance_view(
    spark: SparkSession,
    store_path: str,
    view_path: str,
    key: Sequence[str] = ("doc_id",),
    scan: str = "auto",
) -> dict:
    """Catch a materialized view up to its base snapshot-store's latest
    live version — the view leg of the delete/retraction lifecycle (a
    compliance job that forgets a doc everywhere EXCEPT materialized
    aggregates is an audit finding).

    The view's manifest pins the store version it reflects; the CDC
    between that pin and the store's latest version (snapshot_diff —
    added/removed/changed rows keyed by `key`) feeds maintain_view as
    insert/delete deltas. The work is delta-sized: the view itself is
    |grain| rows and the diff is bounded by what actually changed; the
    base is never re-aggregated.

    Idempotent and crash-convergent BY THE VERSION PIN: the updated
    partials land in a fresh ``data_v{latest}`` dir and the manifest
    replace (atomic tmp+rename) is the single commit point — a crash
    before it leaves the old pin, and the re-run recomputes the same
    diff into the same staging dir; a crash after it makes the re-run a
    no-op (pin == latest). Old data dirs are removed best-effort AFTER
    the commit. Mirrors the manifest-swap discipline of the store
    itself (reference analogue: merge's manifest-swap atomicity †,
    `src/external_storage/External.h` †).

    Limits, enforced loudly: a view with min/max/hll partials cannot
    advance over a diff that contains deletes (maintain_view's honest
    boundary — rebuild instead); if expire_snapshots has vacuumed past
    the view's pin, read_snapshot raises and the view needs a rebuild
    (vacuum cadence must not outrun view maintenance).

    ``scan`` threads to snapshot_diff: the default 'auto' delta-sizing
    is sound only under the store's keyed discipline (one live row per
    key per snapshot); pass 'full' for a base store that deliberately
    holds duplicate keys between compactions.

    Returns ``{"from": pinned, "to": latest, "advanced": bool}``.
    """
    from .layout import _snapshot, read_manifest, snapshot_diff

    with open(os.path.join(view_path, _MANIFEST)) as f:
        manifest = json.load(f)
    pinned = manifest["base_version"]
    if pinned is None:
        raise ValueError(
            f"advance_view: view at {view_path!r} was materialized "
            "without a base_version pin — there is no version to diff "
            "from; rebuild it with write_view(..., base_version=...)"
        )
    dims = manifest["dims"]
    measures = [tuple(m) for m in manifest["measures"]]
    latest = _snapshot(store_path, read_manifest(store_path))["id"]
    if pinned == latest:
        return {"from": pinned, "to": latest, "advanced": False}
    view = spark.read.parquet(
        os.path.join(view_path, manifest.get("data_dir", "data"))
    )
    try:
        diff = snapshot_diff(
            spark, store_path, pinned, latest, key, scan=scan
        ).localCheckpoint(
            eager=True
        )  # two downstream branches; source snapshot may be vacuumed later
    except ValueError as e:
        if "non-additive" not in str(e):
            raise
        # the generic diff error suggests replaying the changelog —
        # wrong recipe for a VIEW, whose dims/measures may reference
        # renamed/dropped columns: the honest recovery is a rebuild
        raise ValueError(
            f"advance_view: the base store evolved non-additively past "
            f"this view's pin (v{pinned}) — its dims/measures may "
            "reference renamed or dropped columns; rebuild the view "
            "(write_view) against the current schema"
        ) from e
    inserts = diff.filter(F.col("change").isin("added", "changed")).select(
        *key, "new.*"
    )
    deletes = diff.filter(F.col("change").isin("removed", "changed")).select(
        *key, "old.*"
    )
    updated = maintain_view(
        view,
        dims,
        measures,
        inserts=None if inserts.isEmpty() else inserts,
        deletes=None if deletes.isEmpty() else deletes,
    )
    new_dir = f"data_v{latest}"
    updated.write.mode("overwrite").parquet(os.path.join(view_path, new_dir))
    old_dir = manifest.get("data_dir", "data")
    manifest["base_version"] = latest
    manifest["data_dir"] = new_dir
    _dump_manifest(view_path, manifest, filename=_MANIFEST)
    # Deferred cleanup: the just-superseded dir is RETAINED one advance
    # (a lazy DataFrame handed out by read_view before this commit may
    # still be mid-scan over it — the expire_snapshots logical/physical
    # split, scaled down); dirs superseded two+ advances ago are swept.
    # A read_view result is therefore invalidated by the SECOND advance
    # after it, never the one racing it.
    import shutil

    for name in os.listdir(view_path):
        full = os.path.join(view_path, name)
        if (
            name.startswith("data")
            and name not in (new_dir, old_dir)
            and os.path.isdir(full)
        ):
            shutil.rmtree(full, ignore_errors=True)
    return {"from": pinned, "to": latest, "advanced": True}


def answer(
    view: DataFrame,
    dims: Sequence[str],
    measures: Sequence[tuple[str, str]],
    group_exprs: Sequence[tuple[str, str]],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Rewrite an aggregation query onto the view.

    ``group_exprs``: (sql_expr, alias) pairs; each expr may reference
    ONLY the view's dims (enforced by analyzing it against a dim-only
    projection, so an expr touching a partial-state column fails at
    bind time, not silently). ``aggs``: alias → (fn, col) with fn in
    {count, sum, min, max, avg}; every needed partial must exist in the
    view spec or NotDerivableError is raised.
    """
    have = {(fn, col) for fn, col in measures}

    def need(fn: str, col: str) -> str:
        if (fn, col) not in have:
            raise NotDerivableError(
                f"{fn}({col}) needs partial {_mcol(fn, col)} not in view"
            )
        return _mcol(fn, col)

    # Dim-only projection: group exprs bind against this, so any
    # reference outside the dims is an analysis error here and now.
    grouped = view.select(*dims).limit(0)
    for expr, alias in group_exprs:
        # bind check only — .schema FORCES analysis (under Spark
        # Connect a discarded DataFrame never analyzes, and the check
        # would be a silent no-op)
        grouped.selectExpr(f"({expr}) AS {alias}").schema

    out_groups = [F.expr(expr).alias(alias) for expr, alias in group_exprs]
    out_aggs = []
    for alias, (fn, col) in aggs.items():
        if fn == "count":
            out_aggs.append(F.sum(need("count", col)).cast("long").alias(alias))
        elif fn == "sum":
            out_aggs.append(F.sum(need("sum", col)).alias(alias))
        elif fn == "min":
            out_aggs.append(F.min(need("min", col)).alias(alias))
        elif fn == "max":
            out_aggs.append(F.max(need("max", col)).alias(alias))
        elif fn == "avg":
            out_aggs.append(
                (F.sum(need("sum", col)) / F.sum(need("count", col))).alias(alias)
            )
        elif fn == "approx_distinct":
            # Union-of-sketches covers the same value set as a direct
            # sketch of base; the estimate can differ slightly (a union
            # promotes sparse-mode sketches to dense HLL, a small direct
            # sketch may stay sparse/exact) but both sit inside the
            # sketch's error bounds — pinned at ≤5% vs exact in
            # tests/test_mv.py.
            out_aggs.append(
                F.hll_sketch_estimate(F.hll_union_agg(need("hll", col))).alias(alias)
            )
        else:
            raise NotDerivableError(f"unsupported aggregate: {fn}")
    return view.groupBy(*out_groups).agg(*out_aggs)


def maintain_view(
    view: DataFrame,
    dims: Sequence[str],
    measures: Sequence[tuple[str, str]],
    inserts: DataFrame | None = None,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """IVM for navigator views: apply insert/delete deltas to the
    partial states without rescanning base (operators/ivm.py technique
    lifted to the full measure list). Only count/sum partials are
    inversely maintainable — a view containing min/max refuses deletes
    (a deleted min needs a rescan of its group); insert-only feeds
    (the reference's append case) maintain min/max fine.

    Delete deltas are assumed to be valid CDC (each deleted row was in
    base) — that's inherent to maintaining without a base rescan. The
    detectable violation, a grain cell retracted below zero, FAILS the
    job via a runtime guard; phantom deletes inside still-occupied
    cells are undetectable by construction.
    """
    if deletes is not None and any(fn in ("min", "max", "hll") for fn, _ in measures):
        raise NotDerivableError(
            "min/max/hll partials are not maintainable under deletes; "
            "rebuild the view (or drop them from its spec)"
        )
    has_count_star = ("count", "*") in [tuple(m) for m in measures]
    if deletes is not None and not has_count_star:
        # Without a count(*) partial, fully-retracted grain cells can't
        # be pruned and would linger as ghost cells with zero/negative
        # partials — refuse loudly instead of maintaining wrongly.
        raise NotDerivableError(
            "maintaining a view under deletes requires a (count, *) "
            "partial in its measure list (it drives ghost-cell pruning); "
            "add it to the view spec or rebuild"
        )

    def delta(df: DataFrame, sign: int) -> DataFrame:
        aggs = []
        for fn, col in measures:
            if (fn, col) == ("count", "*"):
                expr = F.count("*")
            elif fn == "hll":
                expr = F.hll_sketch_agg(col)
            else:
                expr = getattr(F, fn)(col)
            if fn in ("count", "sum"):
                expr = expr * sign
            aggs.append(expr.alias(_mcol(fn, col)))
        return df.groupBy(*dims).agg(*aggs)

    parts = [view]
    if inserts is not None:
        parts.append(delta(inserts, 1))
    if deletes is not None:
        parts.append(delta(deletes, -1))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    combines = []
    for fn, col in measures:
        c = _mcol(fn, col)
        if fn in ("count", "sum"):
            comb = F.sum(c)
        elif fn == "hll":
            comb = F.hll_union_agg(c)
        else:
            comb = getattr(F, fn)(c)
        if fn == "count":
            comb = comb.cast("long")
        combines.append(comb.alias(c))
    out = out.groupBy(*dims).agg(*combines)
    if has_count_star:
        cnt = _mcol("count", "*")
        # A negative combined count means the delete delta contained
        # rows that were never in base — corrupt input, not a valid
        # retraction; fail the job rather than silently pruning it.
        out = out.withColumn(
            cnt,
            F.expr(
                f"IF({cnt} < 0, CAST(raise_error('maintain_view: count(*) "
                "partial went negative — delete delta contains rows absent "
                f"from base') AS BIGINT), {cnt})"
            ),
        )
        # fully-retracted grain cells vanish (count(*) partial reaches 0)
        out = out.filter(F.col(cnt) > 0)
    return out


def route(
    base: DataFrame,
    view: DataFrame,
    dims: Sequence[str],
    measures: Sequence[tuple[str, str]],
    group_exprs: Sequence[tuple[str, str]],
    aggs: dict[str, tuple[str, str]],
) -> tuple[DataFrame, str]:
    """The navigator's routing decision: answer from the view when every
    requested aggregate is derivable, else fall back to the base table
    with the semantically-identical direct aggregation. Returns
    (result, "view" | "base") so callers — and tests — can see which
    path ran. approx_distinct falls back to sketching base directly —
    same estimator family, same error bounds (estimates may differ
    within them; see the note in answer())."""
    # The ONLY AnalysisException that means "fall back" is a group expr
    # failing to bind against the view's dims (the base table has the
    # column; the direct aggregation below answers it). Run that bind
    # check here, in isolation, so any OTHER analysis failure inside
    # answer() — e.g. view data missing a partial column the manifest
    # promises — propagates as the defect it is instead of being
    # masked as a silent routing downgrade that returns correct numbers
    # from base while the view is never actually used.
    derivable = True
    dim_probe = view.select(*dims).limit(0)
    for expr, alias in group_exprs:
        try:
            dim_probe.selectExpr(f"({expr}) AS {alias}").schema
        except AnalysisException:
            derivable = False
            break
    if derivable:
        try:
            return answer(view, dims, measures, group_exprs, aggs), "view"
        except NotDerivableError:
            pass
    out_groups = [F.expr(expr).alias(alias) for expr, alias in group_exprs]
    direct = {
        "count": lambda c: F.count("*") if c == "*" else F.count(c),
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "avg": F.avg,
        "approx_distinct": lambda c: F.hll_sketch_estimate(F.hll_sketch_agg(c)),
    }
    out_aggs = []
    for alias, (fn, col) in aggs.items():
        if fn not in direct:
            raise NotDerivableError(f"unsupported aggregate: {fn}")
        expr = direct[fn](col)
        if fn == "count":
            expr = expr.cast("long")
        out_aggs.append(expr.alias(alias))
    return base.groupBy(*out_groups).agg(*out_aggs), "base"


# ---------------------------------------------------------------------------
# Driver query: the navigator proved correct against the base table.
# The view grain is (l_returnflag, l_linestatus, ship_month); the query
# asks a COARSER rollup on (l_returnflag, year(ship_month)) — answered
# entirely from the view. The oracle aggregates the BASE directly, so
# hash-equality is exactly the navigator-correctness claim: rewritten-
# onto-partials ≡ recomputed-from-scratch.
# ---------------------------------------------------------------------------

_MV_DIMS = ["l_returnflag", "l_linestatus", "ship_month"]
_MV_MEASURES = [
    ("count", "*"),
    ("count", "l_quantity"),
    ("sum", "l_quantity"),
    ("min", "l_quantity"),
    ("max", "l_quantity"),
    ("count", "l_extendedprice"),
    ("sum", "l_extendedprice"),
]


@register(
    "agg_from_view",
    oracle="""
SELECT l_returnflag,
       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
       CAST(COUNT(*) AS BIGINT)       AS n_rows,
       ROUND(SUM(l_quantity), 2)      AS sum_qty,
       ROUND(AVG(l_quantity), 4)      AS avg_qty,
       ROUND(MIN(l_quantity), 2)      AS min_qty,
       ROUND(MAX(l_quantity), 2)      AS max_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price
FROM lineitem
GROUP BY l_returnflag, EXTRACT(year FROM l_shipdate)
""",
)
def agg_from_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.date_trunc("month", F.col("l_shipdate"))
    )
    view = build_view(li, _MV_DIMS, _MV_MEASURES)
    rolled = answer(
        view,
        _MV_DIMS,
        _MV_MEASURES,
        group_exprs=[
            ("l_returnflag", "l_returnflag"),
            ("cast(year(ship_month) AS int)", "ship_year"),
        ],
        aggs={
            "n_rows": ("count", "*"),
            "sum_qty": ("sum", "l_quantity"),
            "avg_qty": ("avg", "l_quantity"),
            "min_qty": ("min", "l_quantity"),
            "max_qty": ("max", "l_quantity"),
            "avg_price": ("avg", "l_extendedprice"),
        },
    )
    return rolled.select(
        "l_returnflag",
        "ship_year",
        "n_rows",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("avg_qty", 4).alias("avg_qty"),
        F.round("min_qty", 2).alias("min_qty"),
        F.round("max_qty", 2).alias("max_qty"),
        F.round("avg_price", 4).alias("avg_price"),
    )


# the retracted slice; doc_id < 4000 bounds the store (and the delete's
# IN-list) at every scale factor
_RETR_PRED = "doc_id % 7 = 3"
_RETR_BOUND = "doc_id < 4000"


@register(
    "agg_view_retracted",
    oracle=f"""
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT)      AS cnt,
       CAST(SUM(n_chars) AS BIGINT)  AS total
FROM documents
WHERE {_RETR_BOUND} AND NOT ({_RETR_PRED})
GROUP BY source, lang
ORDER BY source, lang
""",
)
def agg_view_retracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retraction→view lifecycle externally verified: a versioned
    corpus store (v1), a materialized (source, lang) aggregate view
    pinned at v1, then ONE retract_documents feed that copy-on-write
    deletes the `doc_id % 7 = 3` slice from the store (v2) AND advances
    the view through the store's own CDC (plans/mv.advance_view). The
    oracle aggregates the live base directly: forget-everywhere must
    leave the materialized aggregate exactly equal to a recompute —
    the audit property a compliance job needs at 100 TB, where the
    view is |grain| rows and the advance is delta-sized.

    The store and the view live under one home as `store/` and
    `view/`, built at most once per corpus (tables.build_once), so a
    previously returned lazy plan never races a rebuild."""
    from ..llm.retraction import retract_documents
    from . import layout

    docs = t(spark, sf_dir, "documents").filter(F.expr(_RETR_BOUND))
    home = fixture_home(spark, sf_dir, "mvretr")
    store, vp = os.path.join(home, "store"), os.path.join(home, "view")
    dims, ms = ["source", "lang"], [("count", "*"), ("sum", "n_chars")]

    def build():
        layout.append_versioned(
            docs.select("doc_id", "source", "lang", "n_chars"),
            store,
            ["doc_id"],
        )
        write_view(
            build_view(layout.read_snapshot(spark, store), dims, ms),
            vp, dims, ms, base_version=1,
        )
        retract_documents(
            spark,
            docs.filter(F.expr(_RETR_PRED)).select("doc_id"),
            store_path=store,
            view_paths=[vp],
        )

    build_once(spark, home, t(spark, sf_dir, "documents"), "doc_id", build)
    view, _, _ = read_view(spark, vp, expect_base_version=2)
    return view.select(
        "source",
        "lang",
        F.col(_mcol("count", "*")).alias("cnt"),
        F.col(_mcol("sum", "n_chars")).alias("total"),
    )


# the advance lifecycle's slices (bounded like the retraction query so
# the store stays fixture-sized at every scale factor)
_ADV_BOUND = "doc_id < 4000"
_ADV_APPEND = "doc_id % 4 = 3"
_ADV_DELETE = "doc_id % 7 = 3"


@register(
    "agg_view_advanced",
    oracle=f"""
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT)      AS cnt,
       CAST(SUM(n_chars) AS BIGINT)  AS total
FROM documents
WHERE {_ADV_BOUND} AND NOT ({_ADV_DELETE})
GROUP BY source, lang
ORDER BY source, lang
""",
)
def agg_view_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-version view maintenance externally verified: a
    (source, lang) aggregate view is materialized at store v1, the
    store then APPENDS the `doc_id % 4 = 3` slice (v2) and copy-on-write
    DELETES `doc_id % 7 = 3` (v3), and ONE `advance_view` call catches
    the view up across BOTH versions through the store's own CDC — the
    round-10 delta-sized snapshot_diff resolves the span's changed
    files from the manifest (appended run + delete-touched files,
    never two snapshot scans). The oracle aggregates the final base
    directly: advance must equal recompute. Complements
    `agg_view_retracted` (single delete via the retraction feed) with
    the mixed append+delete span and a direct advance_view call. Built
    at most once per corpus (tables.build_once), like
    `agg_view_retracted`."""
    from . import layout

    docs = t(spark, sf_dir, "documents").filter(F.expr(_ADV_BOUND))
    home = fixture_home(spark, sf_dir, "mvadv")
    store, vp = os.path.join(home, "store"), os.path.join(home, "view")
    dims, ms = ["source", "lang"], [("count", "*"), ("sum", "n_chars")]

    def build():
        payload = docs.select("doc_id", "source", "lang", "n_chars")
        layout.append_versioned(
            payload.filter(~F.expr(_ADV_APPEND)), store, ["doc_id"]
        )
        write_view(
            build_view(layout.read_snapshot(spark, store), dims, ms),
            vp, dims, ms, base_version=1,
        )
        layout.append_versioned(
            payload.filter(F.expr(_ADV_APPEND)), store, ["doc_id"]
        )
        res = layout.delete_rows(spark, store, _ADV_DELETE)
        if res["version"] is None:
            raise ValueError("agg_view_advanced: delete matched nothing")
        adv = advance_view(spark, store, vp, key=["doc_id"])
        if adv != {"from": 1, "to": 3, "advanced": True}:
            raise ValueError(f"agg_view_advanced: unexpected advance {adv}")

    build_once(spark, home, t(spark, sf_dir, "documents"), "doc_id", build)
    view, vdims, vms = read_view(spark, vp, expect_base_version=3)
    rolled = answer(
        view, vdims, vms,
        group_exprs=[("source", "source"), ("lang", "lang")],
        aggs={"cnt": ("count", "*"), "total": ("sum", "n_chars")},
    )
    return rolled.select(
        "source", "lang", "cnt", F.col("total").cast("long").alias("total")
    )
