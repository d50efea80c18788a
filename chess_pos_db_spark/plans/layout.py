"""Physical layout & compaction jobs (SURVEY.md §2.1 S5/S8, §2.6 O2, §4 Φ1/Φ5).

The reference's storage engine is: immutable sorted-by-key runs of
fixed-width entries + a sparse in-memory index per run, compacted by an
aggregate-combining k-way merge (`ext::Merger`, the `merge` command),
tracked by a directory manifest. The Spark-native equivalents:

- sorted run      → Parquet written `repartitionByRange(key)` +
                    `sortWithinPartitions(key)`; row-group min/max
                    stats ARE the sparse index (predicate pushdown
                    prunes row groups the way the binary search pruned
                    blocks);
- k-way merge     → read all runs (UNION ALL) → `groupBy(key...).agg`
                    (equal-key combining) → sorted rewrite. Multi-pass
                    planning, spill, and open-file budgets are the
                    shuffle's problem, not ours;
- manifest        → `_meta.json` sidecar with format name/version and
                    the sort key; a versioned store's manifest adds
                    the snapshot list and schema (see below).

At 100 TB: range partitioning keeps each output file key-clustered so
point-lookup joins prune partitions; `partitions` should be sized so
each output file lands near the row-group sweet spot (~128 MB–1 GB).
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import merge as merge_ops

MANIFEST_NAME = "_meta.json"
FORMAT_NAME = "spark-sorted-runs"
# 2: each versioned-store snapshot entry records its complete live
# file list. _snapshot refuses format-1 stores, whose entries held
# version dirs and chains of replaced ids; rebuild them.
FORMAT_VERSION = 2
# branches (plans/branch.py) live INSIDE the store dir: each is a
# child store whose entries list the parent's files by relative path.
# expire_snapshots knows the name for its GC-root scan.
BRANCHES_DIR = "_branches"


def range_partitioned(df: DataFrame, key: Sequence, partitions: int | None) -> DataFrame:
    """Range-partition ``df`` by ``key`` for a sorted-run write.

    An explicit caller count always wins (bucket layouts, test
    fixtures). The DEFAULT omits the partition count so AQE sizes the
    write from the ACTUAL shuffle bytes (guide §2.2/§6 "coalesce on
    write"): a fixture-sized store coalesces to one right-sized file,
    a 100 TB one keeps thousands of partitions — instead of a constant
    tuned for neither. AQE merges only ADJACENT range partitions, so
    file key-ranges stay disjoint and zone-map/manifest pruning is
    unaffected.

    Deliberately NOT derived from the optimizer's size estimate: plans
    containing opaque Python stages carry garbage stats — the PGN
    import plan (mapInPandas replay) estimated ~412 GB for a 3k-row
    store and an estimate-based sizing exploded the write into 3149
    near-empty files (measured; tests/test_layout.py storage-density
    gate caught it). Actual-bytes AQE coalescing has no such failure
    mode. Cluster write posture: set
    spark.sql.adaptive.coalescePartitions.parallelismFirst=false (+
    advisoryPartitionSizeInBytes≈256m) via SPARK_GRAFT_CONF_* so the
    coalesce targets file size, not core count (session.py)."""
    cols = [F.col(k) if isinstance(k, str) else k for k in key]
    if partitions is None:
        return df.repartitionByRange(*cols)
    return df.repartitionByRange(partitions, *cols)


def write_sorted_run(
    df: DataFrame,
    path: str,
    key: Sequence[str],
    partitions: int | None = None,
    mode: str = "overwrite",
    file_format: str = "parquet",
    options: dict | None = None,
    metrics: tuple | None = None,
) -> None:
    """Write `df` as a key-clustered sorted run (reference: store()).

    `file_format`/`options` let alternate containers (ORC via
    sources/formats.write_orc_run) share THIS layout pipeline instead
    of re-implementing it — one place owns the run discipline, and
    every container gets the manifest that read_manifest/pruned reads
    depend on.

    `metrics` = (Observation, *Column) observes the written rows. The
    observe node sits ABOVE the range exchange: the boundary-sampling
    job re-runs only the exchange's child, so it cannot count a row
    twice."""
    _sorted_write(
        df, path, key, partitions, mode, file_format, options, metrics
    )
    _write_manifest(path, key)


def _sorted_write(
    df: DataFrame,
    path: str,
    key: Sequence[str],
    partitions: int | None,
    mode: str = "overwrite",
    file_format: str = "parquet",
    options: dict | None = None,
    metrics: tuple | None = None,
) -> None:
    """write_sorted_run's body without the manifest: range → sort →
    observe above the exchange → write. Versioned-store commits use it
    directly; their manifest lives at the store root, not in v{n}/."""
    out = range_partitioned(df, key, partitions).sortWithinPartitions(*key)
    if metrics:
        out = out.observe(*metrics)
    writer = out.write.mode(mode)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.format(file_format).save(path)


def combine_runs(
    runs: Sequence[DataFrame], key: Sequence[str], agg_spec: dict[str, str]
) -> DataFrame:
    """The reference's aggregate-combining merge as one plan: UNION ALL
    of the runs' key + `agg_spec` columns → `groupBy(key).agg`.

    `agg_spec` maps column → one of sum|min|max (the entry combine:
    cnt/elo_diff_sum are summed, first_game_id min'd, last_game_id
    max'd). Columns outside key + spec are dropped, so a finer-grained
    run (an extra key column) combines straight into the coarser key."""
    fns = {"sum": F.sum, "min": F.min, "max": F.max}
    cols = [*key, *agg_spec]
    union = runs[0].select(*cols)
    for r in runs[1:]:
        union = union.unionByName(r.select(*cols))
    return union.groupBy(*key).agg(
        *[fns[how](c).alias(c) for c, how in agg_spec.items()]
    )


def compact_runs(
    spark: SparkSession,
    run_paths: Sequence[str],
    out_path: str,
    key: Sequence[str],
    agg_spec: dict[str, str],
    partitions: int | None = None,
) -> DataFrame:
    """Aggregate-combining merge of N sorted runs on disk → one sorted
    run: `combine_runs` over the runs read from `run_paths`, written
    clustered on `key`. Returns the compacted DataFrame (lazily
    re-readable from `out_path`). Runs already in memory go to
    `combine_runs` directly, as the chess append does.
    """
    if not run_paths:
        raise ValueError("compact_runs: no run paths given")
    merged = combine_runs(
        [spark.read.parquet(p) for p in run_paths], key, agg_spec
    )
    write_sorted_run(merged, out_path, key, partitions=partitions)
    return spark.read.parquet(out_path)


def _write_manifest(path: str, key: Sequence[str]) -> None:
    manifest = {
        "format": FORMAT_NAME,
        "version": FORMAT_VERSION,
        "sort_key": list(key),
    }
    _dump_manifest(path, manifest)


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, MANIFEST_NAME)) as f:
        return json.load(f)


def _dump_manifest(
    path: str, manifest: dict, filename: str = MANIFEST_NAME
) -> None:
    """Atomic manifest replace (tmp + os.replace, same-directory so the
    rename is atomic on POSIX): a concurrent reader always loads a
    COMPLETE json document — the documented "readers are never torn by
    a concurrent append" guarantee depends on this; a plain
    open(..., "w") truncates in place and a concurrently-resolving
    reader would see empty/partial JSON. `filename` lets other manifest
    owners (plans/mv.py) share the pattern instead of re-implementing
    a weaker write."""
    _atomic_write(
        os.path.join(path, filename), json.dumps(manifest, default=str)
    )


def _atomic_write(full: str, text: str) -> None:
    """Write `text` to `full` via a same-directory tmp + os.replace, so
    a reader sees the old file or the new one, never a partial one.
    Every manifest, cursor and sidecar JSON in this module lands here."""
    tmp = full + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, full)


def _coerce_zone_bound(v, like):
    """Zone-map min/max round-trip through JSON as strings for
    non-JSON-native key types (default=str); coerce back to the probe
    bound's type at compare time so date/datetime/Decimal keys prune
    instead of raising TypeError on str-vs-typed comparison."""
    import datetime as _dt
    import decimal as _dec

    if v is None or not isinstance(v, str) or isinstance(like, str):
        return v
    if isinstance(like, _dt.datetime):
        return _dt.datetime.fromisoformat(v)
    if isinstance(like, _dt.date):
        # pyarrow surfaces DATE column stats as datetime.datetime, so
        # the stored string may carry a time part — parse wide, narrow
        return _dt.datetime.fromisoformat(v).date()
    if isinstance(like, _dec.Decimal):
        return _dec.Decimal(v)
    return v


def zorder_column(
    df: DataFrame, cols: Sequence[str], bits: int = 16
) -> "F.Column":
    """Z-order (Morton) key over `cols`: each column min-max-normalized
    to `bits` bits (one tiny driver-side stats agg), then bit-interleaved
    JVM-side. Rows close in the Z-curve are close in EVERY listed
    dimension, so range-partitioning by this key clusters row-group
    min/max stats on all of them at once.
    """
    # The interleaved key must stay inside a positive signed long:
    # bits*len(cols) > 63 would push the top column's high bit into the
    # sign bit (negative keys sort first, breaking the curve) or wrap
    # the shift mod 64.
    bits = min(bits, 63 // len(cols))
    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    top = (1 << bits) - 1
    norms = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None or mx is None:
            # empty input or all-NULL column: constant key — the write
            # degrades to a plain (possibly empty) write instead of
            # raising at plan time
            norms.append(F.lit(0).cast("long"))
            continue
        span = (mx - mn) or 1
        norms.append(
            ((F.col(c) - F.lit(mn)).cast("double") * top / span).cast("long")
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, n in enumerate(norms):
            z = z + F.shiftleft(
                F.shiftright(n, b).bitwiseAND(F.lit(1)).cast("long"),
                b * len(cols) + i,
            )
    return z


def write_zorder_run(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    partitions: int | None = None,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write `df` Z-order-clustered on `cols` (the multi-dimensional
    generalization of write_sorted_run): range-partition + sort by the
    Morton key so Parquet row-group/file min/max stats prune scans
    filtered on ANY of the listed columns — a linear sort clusters only
    its leading column. At 100 TB this is the layout for tables probed
    along two+ independent dimensions (the data-skipping strategy
    popularized by Delta/Databricks OPTIMIZE ZORDER)."""
    _sorted_write(df, path, [zorder_column(df, cols, bits)], partitions, mode)
    _write_manifest(path, [f"zorder({', '.join(cols)})"])


# ---------------------------------------------------------------------------
# Zone-map file pruning (the reference's sparse per-run index, lifted to
# the file level). Parquet row-group stats already prune WITHIN a file,
# but Spark still has to list, schedule, and open the footer of every
# file in the run. At 100 TB a run is O(10^5) files; a key-range probe
# should touch the handful whose [min,max] intersects the probe. The
# manifest therefore records a per-file zone map (min/max of the leading
# sort key, read once from the parquet footers at write time — metadata
# only, no data scan), and the pruned reader resolves the file list
# driver-side BEFORE Spark's listing: the job that runs never knows the
# other files existed.
# ---------------------------------------------------------------------------


def _file_zone_map(path: str, key_col: str) -> list[dict]:
    """Per-file [min,max] of `key_col` from parquet footer statistics."""
    import pyarrow.parquet as pq

    zones = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = md.schema.to_arrow_schema().get_field_index(key_col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                mins, maxs = [], []
                break
            mins.append(st.min)
            maxs.append(st.max)
        zones.append(
            {
                "file": name,
                "min": min(mins) if mins else None,  # None → never pruned
                "max": max(maxs) if maxs else None,
            }
        )
    return zones


def write_sorted_run_with_zonemap(
    df: DataFrame,
    path: str,
    key: Sequence[str],
    partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """write_sorted_run + per-file zone map on the leading key column."""
    write_sorted_run(df, path, key, partitions=partitions, mode=mode)
    manifest = read_manifest(path)
    manifest["zone_map"] = {
        "column": key[0],
        "files": _file_zone_map(path, key[0]),
    }
    _dump_manifest(path, manifest)


def read_run_pruned(
    spark: SparkSession, path: str, lo, hi
) -> tuple[DataFrame, int, int]:
    """Read a zone-mapped run restricted to key in [lo, hi].

    Driver-side file pruning against the manifest zone map, then a scan
    of ONLY the surviving files with the residual predicate re-applied
    (zone maps overlap at file boundaries; pruning is a superset, the
    filter is the truth). Returns (df, files_read, files_total).
    """
    manifest = read_manifest(path)
    zm = manifest["zone_map"]
    key_col = zm["column"]
    keep = [
        z["file"]
        for z in zm["files"]
        if z["min"] is None
        or not (
            _coerce_zone_bound(z["max"], lo) < lo
            or _coerce_zone_bound(z["min"], hi) > hi
        )
    ]
    total = len(zm["files"])
    if not keep:
        empty = spark.read.parquet(path).filter(F.lit(False))
        return empty, 0, total
    df = spark.read.parquet(*[os.path.join(path, f) for f in keep])
    return (
        df.filter((F.col(key_col) >= lo) & (F.col(key_col) <= hi)),
        len(keep),
        total,
    )


# ---------------------------------------------------------------------------
# Versioned runs: snapshot isolation + time travel for the append/merge
# lifecycle (the table-format idea — Iceberg/Delta snapshots — scaled
# down to the manifest we already keep). A snapshot IS its file list:
# every commit writes its rows under v{n}/ and records the entry
# {"id": n, "files": [every live parquet path, relative to the store]},
# derived from the parent entry's list (Iceberg's snapshot → manifest
# list, https://iceberg.apache.org/spec/ "Snapshots"). So
#   - a read of version v is entry v's list — no listing, and never a
#     superseded or in-flight file; readers are never torn by a
#     concurrent commit (they read the entry that existed when they
#     resolved),
#   - `read_snapshot(path, v)` reproduces any historical state — the
#     "which corpus trained this model" audit question,
#   - a diff is the symmetric difference of two lists,
#   - compaction writes a version whose list is just its own files;
#     older entries keep theirs, so time travel before it still works
#     until an explicit vacuum deletes the files no kept list names.
# ---------------------------------------------------------------------------


def append_versioned(df: DataFrame, path: str, key: Sequence[str],
                     partitions: int | None = None) -> int:
    """Append `df` as a new snapshot version; returns the version id."""
    os.makedirs(path, exist_ok=True)
    try:
        manifest = read_manifest(path)
    except FileNotFoundError:
        manifest = {
            "format": FORMAT_NAME,
            "version": FORMAT_VERSION,
            "sort_key": list(key),
            "snapshots": [],
        }
    manifest.setdefault("snapshots", [])
    carried = _snapshot(path, manifest)["files"] if manifest["snapshots"] else []
    return _commit_version(path, manifest, df, key, partitions, carried)


def _commit_version(
    path: str,
    manifest: dict,
    df: DataFrame,
    key: Sequence[str],
    partitions: int | None,
    carried: Sequence[str],
    schema=None,
    break_kind: str | None = None,
    metrics: tuple | None = None,
) -> int:
    """The one snapshot commit every versioned verb ends in: allocate
    the next version id, write `df` as a sorted run on `key` into
    v{id}/, append the entry {"id", "files"} whose list is `carried`
    (the parent's files this version keeps, by reference) plus the
    sorted files just written, and dump the manifest. Listing v{id}/
    after the write is the only data-dir listing outside the vacuum.
    The manifest dump is the single commit point: a crash before it
    leaves an orphan v-dir invisible to every reader, and a replay
    rewrites the same version id.

    `schema` is the schema recorded for the empty-store read fallback
    (default: `df`'s; a delete that removes every row must still return
    a typed DataFrame). `break_kind` ("evolve" | "rekey") commits a
    SCHEMA-BREAK version keyed on `key`: the entry records the key on
    each side of the break, so a changelog export spanning several
    breaks uses each era's own key (the top-level sort_key only ever
    holds the latest), and `key` becomes the store's sort key.
    `metrics` observes the written rows, as in write_sorted_run.
    Returns the version id."""
    v = max((s["id"] for s in manifest["snapshots"]), default=0) + 1
    vdir = f"v{v}"
    _sorted_write(
        df, os.path.join(path, vdir), key, partitions, metrics=metrics
    )
    written = sorted(
        name for name in os.listdir(os.path.join(path, vdir))
        if name.endswith(".parquet")
    )
    entry = {
        "id": v,
        "files": [*carried, *(os.path.join(vdir, n) for n in written)],
    }
    if break_kind is not None:
        entry.update(
            schema_break=True,
            break_kind=break_kind,
            sort_key_before=list(manifest["sort_key"]),
            sort_key_after=list(key),
        )
        manifest["sort_key"] = list(key)
    manifest["snapshots"].append(entry)
    manifest["schema"] = (df.schema if schema is None else schema).json()
    _dump_manifest(path, manifest)
    return v


def _touched_files(
    path: str, rels: Sequence[str], matched: DataFrame, verb: str
) -> tuple[set[str], int]:
    """The live files holding `matched`'s rows, as paths relative to the
    store, and the matched row count: one groupBy(input_file_name())
    collect, bounded by file count. A matched file outside `rels`
    means manifest and data directory disagree, which raises."""
    from urllib.parse import unquote, urlparse

    hits = (
        matched.groupBy(F.input_file_name().alias("f"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    # input_file_name() yields percent-encoded file: URIs — decode
    # them back to local paths, or a store under a path with spaces
    # would flag every touched file as outside the manifest
    touched = {
        os.path.relpath(unquote(urlparse(r["f"]).path), os.path.abspath(path))
        for r in hits
    }
    unknown = touched - set(rels)
    if unknown:
        raise ValueError(
            f"{verb}: matched files outside the live snapshot set "
            f"{sorted(unknown)} — manifest and data directory disagree"
        )
    return touched, sum(int(r["n"]) for r in hits)


def compact_versioned(
    spark: SparkSession,
    path: str,
    key: Sequence[str],
    agg_spec: dict[str, str],
    partitions: int | None = None,
) -> int:
    """Aggregate-combining merge of the latest snapshot's files into ONE
    new version whose list is only the files it writes (the reference's
    `merge` command with snapshot semantics, through combine_runs).
    Older entries keep their lists, so their files stay for time travel
    until a vacuum."""
    manifest = read_manifest(path)
    merged = combine_runs(
        [_read_entry(spark, path, manifest, _snapshot(path, manifest))],
        key, agg_spec,
    )
    return _commit_version(path, manifest, merged, key, partitions, [])


def delete_rows(
    spark: SparkSession,
    path: str,
    predicate,
    partitions: int | None = None,
) -> dict:
    """Targeted row deletion from the versioned store — the
    right-to-be-forgotten operation a 100 TB training-data corpus must
    support without rewriting the corpus. Two steps, Iceberg
    copy-on-write economics:

    1. FIND: one scan of the live file set with the predicate pushed
       down (a key-range or key-IN delete reads only the row groups
       whose stats intersect — the sorted layout makes the common
       GDPR shape cheap), grouping matched rows by
       ``input_file_name()`` to resolve the TOUCHED file set
       driver-side (bounded by file count, like the zone map).
    2. REWRITE: only the touched files are read back and rewritten
       minus matching rows into a new version directory; every
       untouched live file is carried into the new snapshot BY
       REFERENCE (it stays on the new entry's ``files`` list, next to
       the rewrite's files) — zero data I/O for them.

    The manifest write is the single commit point: a crash after the
    rewrite but before it leaves an orphan v-dir invisible to every
    reader, and a replay rewrites the same version id. Time travel to
    pre-delete versions still shows the deleted rows until
    ``expire_snapshots`` vacuums them — run it to make the forgetting
    PHYSICAL (compliance deletes need both steps).

    NULL predicate semantics: a row where the predicate evaluates NULL
    is NOT deleted (kept by ``NOT coalesce(pred, false)``, not matched
    by the find step — consistent on both sides).

    `predicate` is a Column or SQL string. Returns
    ``{"version", "rows_deleted", "files_rewritten", "files_total"}``;
    a predicate matching nothing returns version=None and writes
    nothing.
    """
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    manifest = read_manifest(path)
    rels = _snapshot(path, manifest)["files"]
    touched, rows_deleted = set(), 0
    if rels:
        src = _read_files(spark, path, rels)
        touched, rows_deleted = _touched_files(
            path, rels, src.filter(pred), "delete_rows"
        )
    if not touched:
        return {
            "version": None, "rows_deleted": 0,
            "files_rewritten": 0, "files_total": len(rels),
        }
    keep = _read_files(spark, path, sorted(touched)).filter(
        ~F.coalesce(pred, F.lit(False))
    )
    v = _commit_version(
        path, manifest, keep, manifest["sort_key"], partitions,
        [r for r in rels if r not in touched],
        # union schema of the LIVE set (not just the touched files): the
        # empty-store fallback must still show columns only untouched
        # files carry
        schema=src.schema,
    )
    return {
        "version": v,
        "rows_deleted": rows_deleted,
        "files_rewritten": len(touched),
        "files_total": len(rels),
    }


def upsert_rows(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    op_col: str = "op",
    partitions: int | None = None,
    allow_new_columns: bool = False,
) -> dict:
    """MERGE a CDC batch into the versioned store copy-on-write — the
    store's UPDATE/INSERT verb, completing the lifecycle alongside
    append_versioned (bulk insert) and delete_rows (targeted delete).
    Same Iceberg copy-on-write economics as delete_rows:

    1. FIND: the change batch's keys (batch-sized, broadcast) semi-join
       the live file set with the key predicate pushed into the scan —
       the sorted layout prunes to the row groups whose stats intersect
       — grouping matches by ``input_file_name()`` to resolve the
       TOUCHED files driver-side.
    2. REWRITE: only touched files are read back, matched keys removed,
       and the batch's I/U payload rows added; every untouched live
       file carries into the new snapshot BY REFERENCE — zero data I/O.

    Change rows: key columns + ``op`` ∈ {'I','U','D'} + the FULL
    payload (this is whole-row replacement under the store's keyed
    discipline — partial column updates belong to operators/merge.
    merge_changes, which coalesces per column against a target plan).
    Result ≡ merge_changes(live, changes) for a key-unique store:
    I/U upsert (insert when absent), D removes, D-for-absent-key
    no-ops. Guards fail loudly, woven into the op column so Catalyst
    cannot prune them: NULL keys, ops outside {'I','U','D'}, and
    conflicting multiple change rows per key (exact duplicates
    collapse first).

    The manifest append is the single commit point (crash ⇒ orphan
    v-dir invisible to readers; replay rewrites the same version id).
    An empty batch returns version=None and writes nothing. Returns
    ``{"version", "rows_removed", "rows_upserted", "files_rewritten",
    "files_total"}``.

    ``allow_new_columns=True`` opts the merge into ADDITIVE SCHEMA
    EVOLUTION: change columns the store lacks become new store columns
    on this version (rewritten and inserted rows carry them; untouched
    files stay by reference and their rows answer typed NULL through
    the union-schema read, exactly as append_versioned evolution does).
    Loud rejection stays the default — outside a declared evolution an
    unknown column is far more likely a typo'd payload name. This is
    what lets a store-to-store replica (streaming/jobs.
    store_apply_stream) keep folding a source that evolved.
    """
    from pyspark.sql import Window

    manifest = read_manifest(path)
    rels = _snapshot(path, manifest)["files"]
    key = manifest["sort_key"]

    chg = changes.dropDuplicates()
    # loud-guard column: NULL key / unknown op / conflicting rows per
    # key all fail the job instead of silently corrupting the store
    null_key = None
    for kcol in key:
        cond = F.col(kcol).isNull()
        null_key = cond if null_key is None else (null_key | cond)
    wk = Window.partitionBy(*key)
    guarded = (
        F.when(
            null_key,
            F.raise_error(
                F.lit("upsert_rows: change row with NULL merge key")
            ),
        )
        .when(
            # coalesce: a NULL op makes isin() NULL and a bare ~NULL
            # would fall through the guard silently
            ~F.coalesce(
                F.col(op_col).isin("I", "U", "D"), F.lit(False)
            ),
            F.raise_error(
                F.concat(
                    F.lit("upsert_rows: unknown op "),
                    F.coalesce(F.col(op_col), F.lit("NULL")),
                    F.lit(" — ops must be 'I', 'U' or 'D'"),
                )
            ),
        )
        .when(
            F.count("*").over(wk) > 1,
            F.raise_error(
                F.concat(
                    F.lit(
                        "upsert_rows: conflicting change rows for key ("
                    ),
                    F.concat_ws(
                        ",", *[F.col(c).cast("string") for c in key]
                    ),
                    F.lit(") — pre-collapse the batch"),
                )
            ),
        )
        .otherwise(F.col(op_col))
    )
    chg = chg.withColumn(op_col, guarded).localCheckpoint(eager=True)

    store_cols = None
    touched, rows_removed, keep = set(), 0, None
    if rels:
        src = _read_files(spark, path, rels)
        store_cols = src.columns
        unknown = set(chg.columns) - {op_col} - set(store_cols)
        if unknown:
            if not allow_new_columns:
                raise ValueError(
                    f"upsert_rows: change column(s) {sorted(unknown)} do "
                    "not exist in the store — fix the changeset schema, "
                    "or pass allow_new_columns=True for an additive "
                    "schema evolution"
                )
            chg_types = dict(chg.dtypes)
            for c in sorted(unknown):
                src = src.withColumn(c, F.lit(None).cast(chg_types[c]))
            store_cols = src.columns
        # type-guard carried columns (keys included) BEFORE the keys_df
        # semi-join below — a mistyped key would otherwise implicitly
        # coerce inside the join; a mistyped payload would silently
        # retype the store column on this version (or abort mid-write
        # with a raw CAST error). Safe widenings cast up to the store's
        # type; everything else raises (operators/merge docstring).
        chg = merge_ops.align_change_types(
            chg,
            dict(src.dtypes),
            (set(chg.columns) - {op_col}) - unknown,
            "upsert_rows",
        )
        keys_df = chg.select(*key).distinct()
        touched, rows_removed = _touched_files(
            path,
            rels,
            src.join(F.broadcast(keys_df), on=list(key), how="left_semi"),
            "upsert_rows",
        )
        if touched:
            # _restrict_to_files aligns to the store schema: touched
            # files can predate an additive evolution, and the batch
            # itself may be evolving the schema — the rewritten rows
            # answer typed NULL for columns their source files never
            # had, exactly as the by-reference read would have.
            # The USING-join form moves the join columns to the FRONT
            # of the output even for semi/anti joins, so re-select the
            # store's column order after it — otherwise an upsert on a
            # store whose key is not its leading column(s) (any
            # rekey_store'd store) silently reorders the committed
            # schema. Masked before adaptive run sizing: multi-file
            # stores kept untouched files in the old order and the
            # mergeSchema read hid the drift.
            keep = _restrict_to_files(spark, path, src, touched).join(
                F.broadcast(keys_df), on=list(key), how="left_anti"
            ).select(*store_cols)

    adds = chg.filter(F.col(op_col).isin("I", "U")).drop(op_col)
    if adds.isEmpty() and not touched:
        return {
            "version": None,
            "rows_removed": 0,
            "rows_upserted": 0,
            "files_rewritten": 0,
            "files_total": len(rels),
        }
    if store_cols is not None:
        for c in store_cols:
            if c not in adds.columns:
                adds = adds.withColumn(
                    c, F.lit(None).cast(dict(src.dtypes)[c])
                )
        adds = adds.select(*store_cols)
    out = adds if keep is None else keep.unionByName(adds)
    rows_upserted = adds.count()
    v = _commit_version(
        path, manifest, out, key, partitions,
        [r for r in rels if r not in touched],
    )
    return {
        "version": v,
        "rows_removed": rows_removed,
        "rows_upserted": int(rows_upserted),
        "files_rewritten": len(touched),
        "files_total": len(rels),
    }


def evolve_schema(
    spark: SparkSession,
    path: str,
    renames: dict | None = None,
    drops: Sequence[str] | None = None,
    retypes: dict | None = None,
    partitions: int | None = None,
) -> dict:
    """NON-ADDITIVE schema evolution — rename / drop / retype columns —
    as an explicit copy-on-write FULL REWRITE committing a new
    SCHEMA-BREAK version.

    Additive evolution (new nullable columns) is free in this store
    (mergeSchema reads; `allow_new_columns` on the merge surface) and
    never needs this verb. Renames, drops and retypes are different in
    kind: they change what existing bytes MEAN, so the engine makes the
    cost explicit — one full rewrite of the live snapshot, exactly the
    Iceberg/Delta `ALTER TABLE` economics when the format cannot do
    metadata-only renames (and honest even where it could: every
    downstream consumer must re-learn the schema anyway).

    Contract:
    - all three specs name CURRENT (pre-evolution) columns and apply
      SIMULTANEOUSLY (one projection): a column may be both retyped
      and renamed, ``renames={'a': 'b'}`` with ``drops=['b']``
      replaces b with a's data, and swap renames are well-defined;
    - unknown columns, duplicate FINAL column names, and dropping a
      sort-key column fail loudly before any job runs; renaming a key
      column updates the manifest's sort_key;
    - retypes use try_cast with an IN-PLAN guard: a non-castable value
      fails the rewrite with a typed error naming the value and column
      (same woven-guard discipline as merge_changes' op checks — an
      explicit retype request can only be value-checked at execution,
      but it fails OUR way, not with a raw CAST error), and nothing
      commits;
    - the new version's manifest entry carries ``schema_break: True``
      and lists only its own rewritten files. Time travel BELOW the break
      still answers the old schema; `snapshot_diff` refuses to cross
      the break; `export_changes` emits the break version as a REBASE
      (full snapshot as 'I' rows + a ``_rebase.json`` marker) and
      `replay_changelog` re-seeds its fold there — replication
      consumers pay the same bootstrap copy a new replica would, which
      is the honest minimum for a schema that genuinely changed shape.

    Returns ``{"version", "renamed", "dropped", "retyped", "rows"}``.
    """
    renames = dict(renames or {})
    drops = list(drops or [])
    retypes = dict(retypes or {})
    if not (renames or drops or retypes):
        raise ValueError(
            "evolve_schema: nothing to evolve — pass renames, drops "
            "and/or retypes (additive column ADDs never need this verb: "
            "use upsert_rows/append with allow_new_columns)"
        )
    manifest = read_manifest(path)
    df = _read_entry(spark, path, manifest, _snapshot(path, manifest))
    key = manifest["sort_key"]
    cols = set(df.columns)

    unknown = (set(renames) | set(drops) | set(retypes)) - cols
    if unknown:
        raise ValueError(
            f"evolve_schema: column(s) {sorted(unknown)} do not exist "
            f"in the store (columns: {sorted(cols)})"
        )
    dropped_keys = set(drops) & set(key)
    if dropped_keys:
        raise ValueError(
            f"evolve_schema: cannot drop sort-key column(s) "
            f"{sorted(dropped_keys)} — re-key the store explicitly if "
            "the key must change"
        )
    overlap = set(renames) & set(drops)
    if overlap:
        raise ValueError(
            f"evolve_schema: column(s) {sorted(overlap)} are both "
            "renamed and dropped — pick one"
        )

    # All three specs apply SIMULTANEOUSLY (one select-with-aliases),
    # not sequentially: renames={'a':'b'} with drops=['b'] replaces b
    # with a's data, and swap-shaped renames {'a':'b','b':'a'} are
    # well-defined — the sequential withColumnRenamed/drop formulation
    # silently destroyed the renamed column in the first case (drop('b')
    # removed BOTH the dropped original and the rename product).
    # Collisions are therefore judged on the FINAL output names: any
    # duplicate is an error.
    final_names = [renames.get(c, c) for c in df.columns if c not in set(drops)]
    dup = sorted({n for n in final_names if final_names.count(n) > 1})
    if dup:
        raise ValueError(
            f"evolve_schema: rename target(s) {dup} collide with "
            "surviving columns or each other"
        )

    def _out(c: str):
        if c in retypes:
            typ = retypes[c]
            new = F.col(c).try_cast(typ)
            return F.when(
                F.col(c).isNotNull() & new.isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("evolve_schema: value "),
                        F.col(c).cast("string"),
                        F.lit(f" in column {c!r} is not castable to {typ}"),
                    )
                ).cast(typ),
            ).otherwise(new)
        return F.col(c)

    df = df.select(
        *[_out(c).alias(renames.get(c, c)) for c in df.columns
          if c not in set(drops)]
    )
    new_key = [renames.get(k, k) for k in key]
    # row count observed during the rewrite job itself — no second scan
    obs = Observation()
    v = _commit_version(
        path, manifest, df, new_key, partitions, [], break_kind="evolve",
        metrics=(obs, F.count(F.lit(1)).alias("rows")),
    )
    return {
        "version": v,
        "renamed": renames,
        "dropped": drops,
        "retyped": retypes,
        "rows": obs.get["rows"],
    }


def rekey_store(
    spark: SparkSession,
    path: str,
    new_key: Sequence[str],
    partitions: int | None = None,
) -> dict:
    """RE-KEY the store: change its sort key (the clustering the layout
    prunes on AND the identity every merge/diff/CDC fold joins on) —
    the verb evolve_schema's dropped-key guard directs users to.

    Columns and values are untouched; what changes is PHYSICAL layout
    (one honest full rewrite, range-partitioned and sorted on the new
    key — the Delta OPTIMIZE ZORDER-BY economics: re-clustering always
    rewrites every byte) and LOGICAL identity (upsert/delete/diff now
    resolve rows by the new key). Because the fold identity changed,
    the new version commits as a SCHEMA-BREAK in the manifest and rides
    the evolve_schema rebase machinery with NO new consumer logic:
    snapshot_diff refuses to cross it, export_changes emits it as a
    full 'I' rebase whose marker records the new key, replay_changelog
    re-seeds there, and store_apply_stream refuses to stream through it
    without a re-seed. Downstream replicas pay one bootstrap copy —
    the honest minimum when every row's identity was re-declared.

    Guards: the new key's columns must exist, the key must actually
    change, and every live row must be UNIQUE under the new key —
    silently collapsing distinct rows into one identity would corrupt
    every later upsert/delete (checked in the same rewrite job via an
    observed duplicate count; the rewrite commits nothing on failure
    only in the sense that the manifest never records it — rerun-safe
    like every other verb here). Returns ``{"version", "old_key",
    "new_key", "rows"}``.
    """
    new_key = list(new_key)
    manifest = read_manifest(path)
    entry = _snapshot(path, manifest)
    old_key = list(manifest["sort_key"])
    if not new_key:
        raise ValueError("rekey_store: new key must name at least one column")
    if len(set(new_key)) != len(new_key):
        raise ValueError(
            f"rekey_store: new key {new_key} repeats a column"
        )
    if new_key == old_key:
        raise ValueError(
            f"rekey_store: store is already keyed by {old_key} — nothing "
            "to do"
        )
    df = _read_entry(spark, path, manifest, entry)
    missing = [c for c in new_key if c not in df.columns]
    if missing:
        raise ValueError(
            f"rekey_store: key column(s) {missing} do not exist in the "
            f"store (columns: {sorted(df.columns)})"
        )

    # duplicate-identity pre-check: one partial-agg shuffle on the new
    # key BEFORE any byte is rewritten (an in-rewrite window check
    # would hash-exchange AFTER the range partitioning and destroy the
    # sorted layout the rewrite exists to produce). Failing examples
    # are named in the error.
    dup = (
        df.groupBy(*new_key)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    sample = dup.limit(3).collect()
    if sample:
        shown = ", ".join(
            "(" + ", ".join(f"{k}={r[k]!r}" for k in new_key)
            + f") x{r['n']}" for r in sample
        )
        raise ValueError(
            f"rekey_store: live rows are not unique under {new_key} "
            f"(e.g. {shown}) — a non-unique identity would corrupt "
            "every later upsert/delete/diff; deduplicate first or pick "
            "a wider key"
        )

    obs = Observation()
    v = _commit_version(
        path, manifest, df, new_key, partitions, [], break_kind="rekey",
        metrics=(obs, F.count(F.lit(1)).alias("rows")),
    )
    return {
        "version": v,
        "old_key": old_key,
        "new_key": new_key,
        "rows": int(obs.get["rows"]),
    }


def _snapshot(path: str, manifest: dict, version: int | None = None) -> dict:
    """The snapshot entry whose id is `version` (default: the latest) —
    the one accessor of a versioned store's entries. Raises on a
    manifest from before format 2 (entries without complete file
    lists: rebuild the store, there is no upgrade), on a store with no
    snapshots, and on a version that names no snapshot."""
    if manifest.get("version", 0) < 2:
        raise ValueError(
            f"{path!r}: snapshot manifest format version "
            f"{manifest.get('version')} predates complete file lists "
            f"(format {FORMAT_VERSION}) — rebuild the store"
        )
    snaps = manifest["snapshots"]
    if not snaps:
        raise ValueError(f"no snapshots at {path!r}")
    if version is None:
        return max(snaps, key=lambda s: s["id"])
    for s in snaps:
        if s["id"] == version:
            return s
    raise ValueError(
        f"no snapshot v{version} at {path!r} (versions: "
        f"{sorted(s['id'] for s in snaps)})"
    )


def _read_entry(spark, path: str, manifest: dict, entry: dict) -> DataFrame:
    """Snapshot `entry`'s files as one scan."""
    if not entry["files"]:
        # every row deleted: answer with the recorded schema instead of
        # failing "unable to infer schema" on a file-less read
        from pyspark.sql.types import StructType

        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(manifest["schema"]))
        )
    return _read_files(spark, path, entry["files"])


def _read_files(spark: SparkSession, path: str, rels) -> DataFrame:
    """The store's parquet files `rels` (relative to `path`) as one
    scan. mergeSchema: snapshots written before a column existed read
    as NULL for it — additive schema evolution without rewriting
    history (the Iceberg/Delta add-column semantic; footer union is
    per-file metadata work, not data). Rename/retype still require a
    rewrite."""
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.normpath(os.path.join(path, r)) for r in rels]
    )


def tag_snapshot(
    path: str, name: str, version: int | None = None, retag: bool = False
) -> int:
    """Name a snapshot version (default: latest) — an Iceberg-style tag.

    A tag is a GC ROOT: `expire_snapshots` keeps every file live at a
    tagged version and `read_snapshot(tag=...)` stays readable below
    the time-travel floor — "which corpus trained this model" becomes a
    name, pinned against vacuum, instead of a version number someone
    must remember not to expire. Tags are immutable by default (a
    silently moved tag would rewrite an audit trail); `retag=True`
    moves one explicitly. Returns the tagged version id.
    """
    manifest = read_manifest(path)
    ids = {s["id"] for s in manifest["snapshots"]}
    v = max(ids) if version is None else version
    if v not in ids:
        raise ValueError(
            f"tag_snapshot: version {v} does not exist at {path!r}"
        )
    tags = manifest.setdefault("tags", {})
    if name in tags and tags[name] != v and not retag:
        raise ValueError(
            f"tag_snapshot: tag {name!r} already names v{tags[name]} — "
            "tags are immutable audit anchors; pass retag=True to move it"
        )
    tags[name] = v
    _dump_manifest(path, manifest)
    return v


def delete_tag(path: str, name: str) -> int:
    """Drop a tag; its version becomes vacuumable again. Returns the
    version the tag named; unknown tags fail loudly."""
    manifest = read_manifest(path)
    tags = manifest.get("tags", {})
    if name not in tags:
        raise ValueError(f"delete_tag: no tag {name!r} at {path!r}")
    v = tags.pop(name)
    _dump_manifest(path, manifest)
    return v


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    tag: str | None = None,
) -> DataFrame:
    """The table as of `version` / `tag` (default: latest): that
    snapshot entry's file list, read as one scan.

    A TAGGED version reads below the vacuum floor — tags are GC roots,
    so its files are guaranteed present; an untagged historical version
    below the floor fails loudly (its files may be gone), and so does a
    version that names no snapshot."""
    manifest = read_manifest(path)
    if tag is not None:
        if version is not None:
            raise ValueError("read_snapshot: pass version OR tag, not both")
        tags = manifest.get("tags", {})
        if tag not in tags:
            raise ValueError(f"read_snapshot: no tag {tag!r} at {path!r}")
        version = tags[tag]
    floor = manifest.get("min_time_travel")
    if (
        version is not None
        and floor is not None
        and version < floor
        and version not in set(manifest.get("tags", {}).values())
    ):
        raise ValueError(
            f"time travel to v{version} expired (floor is v{floor})"
        )
    return _read_entry(spark, path, manifest, _snapshot(path, manifest, version))


def expire_snapshots(path: str, before: int, force: bool = False) -> list[str]:
    """Vacuum: give up time travel EARLIER than version `before` and
    delete the files only that history was keeping alive.

    The new floor is ``max(old floor, min(before, latest))`` — it only
    ever advances, and never past the latest snapshot. The kept entries
    are every entry at or above the floor, every TAGGED entry
    (tag_snapshot: a GC root, so `read_snapshot(tag=...)` keeps
    answering below the floor until `delete_tag` releases it) and every
    branch's fork entry (create_branch). The rest leave the manifest,
    `min_time_travel` records the floor so a stale time-travel read
    fails loudly, and the manifest is committed. Then every parquet
    file in a version dir ``v{n}`` (n <= latest) that no kept entry's
    list names is deleted, and a dir left with no referenced file is
    removed whole (Iceberg's remove_orphan_files). Returns what went:
    a whole dir by its name, a partly kept one by file paths.

    The sweep never visits ``v{latest+1}`` (an in-flight or crashed
    commit is writing it; its replay overwrites it), ``_branches/``, an
    export dir inside the store, or a branch's ``../`` references to
    its parent's files — those are the parent's to reclaim. Sweeping
    after the commit makes a crash mid-sweep leave only unreferenced
    files, which the next vacuum removes.

    Export guard: a CDC export registered by `export_changes` needs
    `read_snapshot(last_exported)` as the base of its next diff, so a
    vacuum whose new floor would pass ANY registered export's cursor is
    REFUSED — otherwise a crashed/lagging exporter silently loses the
    changelog's ability to replay (the "export cadence must outrun
    expire_snapshots" contract, enforced). `force=True` overrides,
    accepting that lagging exports must restart from scratch; their
    manifest registrations advance to the floor so the refusal does not
    re-trigger forever on an abandoned export.

    Scale note: this is pure manifest arithmetic + file deletion —
    no data is read or rewritten. Run it after compactions the same
    way the reference's merge is followed by deleting source runs
    (and Iceberg by expire_snapshots/remove_orphan_files).
    """
    import re
    import shutil

    manifest = read_manifest(path)
    latest = _snapshot(path, manifest)["id"]
    floor = max(manifest.get("min_time_travel") or 0, min(before, latest))
    lagging = {
        d: lv
        for d, lv in manifest.get("exports", {}).items()
        if lv < floor
    }
    if lagging:
        if not force:
            raise ValueError(
                f"expire_snapshots: vacuum to v{floor} would strand CDC "
                f"export(s) {sorted(lagging)} (last_exported "
                f"{sorted(lagging.values())}) — run export_changes first, "
                "or pass force=True to abandon their replay history"
            )
        for d in lagging:
            manifest["exports"][d] = floor
    # live BRANCHES are GC roots at their fork version (create_branch,
    # plans/branch.py): a branch manifest references THIS store's files
    # by relative path, so the fork's files must survive a parent
    # vacuum. The `__branch_<name>` tag pins it too; this scan covers a
    # crash between the branch commit and its tag. Below-fork history
    # still expires — each branch's own min_time_travel is advanced
    # after the commit so a branch time-travel below the new floor
    # fails with the floor error, not a missing-file surprise.
    # delete_branch releases the root; the next vacuum reclaims.
    branch_forks: dict[str, int] = {}
    branches_home = os.path.join(path, BRANCHES_DIR)
    if os.path.isdir(branches_home):
        for bname in sorted(os.listdir(branches_home)):
            try:
                bman = read_manifest(os.path.join(branches_home, bname))
            except (FileNotFoundError, json.JSONDecodeError):
                continue
            info = bman.get("branch_of")
            if info:
                branch_forks[bname] = int(info["fork_version"])
    pinned = {*manifest.get("tags", {}).values(), *branch_forks.values()}
    manifest["snapshots"] = [
        s for s in manifest["snapshots"] if s["id"] >= floor or s["id"] in pinned
    ]
    manifest["min_time_travel"] = floor
    _dump_manifest(path, manifest)
    referenced = {f for s in manifest["snapshots"] for f in s["files"]}
    vdirs = sorted(
        (int(m.group(1)), name)
        for name in os.listdir(path)
        if (m := re.fullmatch(r"v(\d+)", name))
        and int(m.group(1)) <= latest
        and os.path.isdir(os.path.join(path, name))
    )
    deleted = []
    for _, d in vdirs:
        full = os.path.join(path, d)
        names = [n for n in sorted(os.listdir(full)) if n.endswith(".parquet")]
        dead = [n for n in names if os.path.join(d, n) not in referenced]
        if len(dead) == len(names):
            shutil.rmtree(full)
            deleted.append(d)
            continue
        for name in dead:
            os.unlink(os.path.join(full, name))
            deleted.append(os.path.join(d, name))
    # realign each forced-past export dir's own cursor (atomic, like
    # the exporter writes it): without this the next export_changes run
    # resumes below the new floor and dies on a confusing "time travel
    # expired", and wiping the cursor is worse — the restart loop
    # begins at v1, also below the floor. The recorded forced_gap makes
    # read_changes on a lost version fail with the real story. Ordered
    # AFTER the manifest commit + sweep on purpose: rewriting first
    # opened a crash window where the export believed versions
    # lv+1..floor were gone while their snapshots still existed, and a
    # resumed export silently skipped still-exportable versions (a
    # crash HERE instead merely leaves a stale cursor the next vacuum
    # or export run realigns/refuses loudly). The existing cursor JSON
    # is updated IN PLACE so unknown/future keys — initial_base
    # especially — survive a forced vacuum on a base-seeded export.
    # Best-effort: an unreachable (remote/deleted) export dir keeps
    # its manifest registration advanced so the refusal never
    # re-triggers, and its next run fails on its own stale cursor
    # loudly.
    for d, lv in lagging.items():
        try:
            cursor_file = os.path.join(d, "_cursor.json")
            if os.path.isdir(d):
                gap_from = lv + 1
                cursor = {}
                if os.path.isfile(cursor_file):
                    with open(cursor_file) as f:
                        cursor = json.load(f)
                    prior = cursor.get("forced_gap")
                    # a twice-forced export keeps its earliest loss:
                    # the merged range only ever fires read_changes'
                    # gap error for versions whose dir is MISSING,
                    # so exported versions in between stay readable
                    if prior is not None:
                        gap_from = min(gap_from, prior[0])
                cursor["last_exported"] = floor
                cursor["forced_gap"] = [gap_from, floor]
                _atomic_write(cursor_file, json.dumps(cursor))
        except OSError:
            pass
    # advance each branch's OWN time-travel floor (after the commit,
    # like the export cursors above): parent history below
    # min(parent_floor, fork) is gone for the branch too, and without
    # this a branch read below it fails on missing files instead of
    # the floor error. Branch-local versions (> fork) are untouched.
    parent_floor = manifest["min_time_travel"]
    for bname, fv in branch_forks.items():
        try:
            bpath = os.path.join(branches_home, bname)
            bman = read_manifest(bpath)
            bman["min_time_travel"] = max(
                bman.get("min_time_travel") or 0, min(parent_floor, fv)
            )
            _dump_manifest(bpath, bman)
        except (FileNotFoundError, OSError):
            pass
    return deleted


def _restrict_to_files(
    spark: SparkSession, path: str, full: DataFrame, rels
) -> DataFrame:
    """`full`'s rows restricted to the given relative parquet files,
    column-aligned to `full`'s schema (a restricted subset may predate
    an additive column; it reads as typed NULL, exactly as the full
    mergeSchema read would show it). An empty file set folds to an
    empty LocalRelation — filter(false) is optimized away, no scan."""
    if not rels:
        return full.filter(F.lit(False))
    df = _read_files(spark, path, sorted(rels))
    have = dict(df.dtypes)
    for c, t in full.dtypes:
        if c not in have:
            df = df.withColumn(c, F.lit(None).cast(t))
    return df.select(*full.columns)


def snapshot_diff(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    key: Sequence[str],
    scan: str = "auto",
) -> DataFrame:
    """What changed between two snapshot versions: one row per key with
    change ∈ {added, removed, changed}, old/new payload structs — the
    audit answer to "what did that compaction/append do" and the input
    to a downstream CDC export (feed it to operators/merge to replay
    the delta elsewhere).

    ``scan='auto'`` (default) is DELTA-SIZED: each snapshot entry is
    its complete file list, and a file common to both versions is
    byte-identical on both sides, so under the store's keyed discipline
    (each key in at most one live row per snapshot — what delete_rows /
    compact_versioned maintain and what fold-the-log replication
    already requires) no row in a common file can produce a diff row.
    Both sides of the full-outer equi-join are therefore restricted to
    the SYMMETRIC DIFFERENCE of the two lists: an append's diff
    reads only the new run (the old side folds to an empty relation and
    Catalyst eliminates the join entirely — pinned in
    tests/test_layout.py), a copy-on-write delete reads only the
    touched files plus their rewrite, and only a full compaction — where
    every file genuinely changed — degrades to the two full scans.
    ``scan='full'`` forces the general form (also the honest choice for
    a store deliberately holding duplicate keys between compactions,
    where the keyed-discipline shortcut does not apply).

    Payload comparison is a struct equality (codegen, no per-column
    plumbing).
    """
    if scan not in ("auto", "full"):
        raise ValueError(f"snapshot_diff: unknown scan mode {scan!r}")
    manifest = read_manifest(path)
    # a diff never crosses a NON-ADDITIVE evolution (evolve_schema):
    # columns were renamed/dropped/retyped there, so "old vs new
    # payload" is not well-defined across the break — the union-schema
    # alignment below would invent a column-set that neither era had.
    # Diff within one era, or treat the break version as a REBASE
    # (export_changes does; replay_changelog re-seeds there).
    breaks = [
        s["id"]
        for s in manifest["snapshots"]
        if s.get("schema_break") and v_from < s["id"] <= v_to
    ]
    if breaks:
        raise ValueError(
            f"snapshot_diff: v{v_from}..v{v_to} crosses non-additive "
            f"schema evolution(s) at version(s) {breaks} — diff within "
            "one schema era, or replay the changelog (the break version "
            "exports as a rebase)"
        )
    a = read_snapshot(spark, path, v_from)
    b = read_snapshot(spark, path, v_to)
    if scan == "auto":
        files_from = set(_snapshot(path, manifest, v_from)["files"])
        files_to = set(_snapshot(path, manifest, v_to)["files"])
        a = _restrict_to_files(spark, path, a, files_from - files_to)
        b = _restrict_to_files(spark, path, b, files_to - files_from)
    # payload = UNION of both sides' columns: additive schema evolution
    # means v_to can carry columns v_from never had (and a reverse diff
    # the opposite) — taking v_from's columns alone hid changes in the
    # new column and crashed the reverse direction. Missing columns
    # become typed nulls so the struct comparison stays well-formed.
    a_types, b_types = dict(a.dtypes), dict(b.dtypes)
    payload = [c for c in a.columns if c not in key] + [
        c for c in b.columns if c not in key and c not in a_types
    ]
    for c in payload:
        if c not in a_types:
            a = a.withColumn(c, F.lit(None).cast(b_types[c]))
        if c not in b_types:
            b = b.withColumn(c, F.lit(None).cast(a_types[c]))
    a2 = a.select(*key, F.struct(*payload).alias("old"))
    b2 = b.select(*key, F.struct(*payload).alias("new"))
    j = a2.join(b2, on=list(key), how="full_outer")
    change = (
        F.when(F.col("old").isNull(), F.lit("added"))
        .when(F.col("new").isNull(), F.lit("removed"))
        .when(F.col("old") != F.col("new"), F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*key, "change", "old", "new")
    )


def era_sort_key(
    manifest: dict, v: int, fallback: Sequence[str]
) -> list[str]:
    """The sort key version ``v``'s schema ERA used. History spanning
    schema breaks has a different key in each era, and a caller can
    only ever hand us ONE key (usually the manifest's current,
    post-break one). Each break version records the key on both of its
    sides (``sort_key_before``/``sort_key_after``, written by
    evolve_schema/rekey_store), so every version's era key is derivable
    from the manifest: the first break ABOVE v names the key v's era
    used; with no break above, the last break at-or-below v names it;
    a break-free history trusts the caller's ``fallback``. Shared by
    export_changes (round-13 ADVICE fix — sort_key_before was recorded
    but never read) and create_branch (a branch forked below a break
    must fold on its own era's key)."""
    by_id = {s["id"]: s for s in manifest["snapshots"]}
    break_ids = sorted(
        s["id"] for s in manifest["snapshots"] if s.get("schema_break")
    )
    for b in break_ids:
        if b > v and by_id[b].get("sort_key_before"):
            return list(by_id[b]["sort_key_before"])
    for b in reversed(break_ids):
        if b <= v and by_id[b].get("sort_key_after"):
            return list(by_id[b]["sort_key_after"])
    return list(fallback)


def export_changes(
    spark: SparkSession,
    path: str,
    out_dir: str,
    key: Sequence[str],
    scan: str = "auto",
) -> list[int]:
    """Incremental CDC EXPORT: emit each store version's changes exactly
    once — the store as a CHANGE SOURCE for downstream consumers (the
    Iceberg changelog-read analogue). `merge_changes` covers CDC IN and
    `mv.advance_view` consumes diffs directly; this is the remaining
    direction: replicate the store's evolution elsewhere without ever
    shipping a full snapshot.

    Per unexported version v (cursor+1 .. latest), snapshot_diff(v-1, v)
    lands under ``out_dir/changes/to_version=v`` as flat op rows —
    (key..., op ∈ I/U/D, payload columns) — exactly the shape
    operators/merge.merge_changes applies, so a consumer folding the
    change dirs in version order reproduces every snapshot (pinned in
    tests). `changed` rows export the NEW payload as a 'U'. Fold with
    ``merge_changes(..., partial_updates=False)``: exported rows are
    full STATES (snapshot_diff's new side), so a NULL payload column
    means the value genuinely became NULL — the partial-update default
    would keep the replica's stale value and silently diverge.

    Exactly-once discipline: each version's dir is written with
    mode=overwrite, THEN the cursor file advances via atomic
    tmp+replace — a crash between the two replays the same version into
    the same dir (idempotent), and a consumer reading change dirs never
    sees a half-exported version it cannot re-read. The cursor is the
    only state; wiping it re-exports from the beginning into the same
    dirs (same content — snapshots are immutable).

    The export registers its cursor position in the STORE manifest
    (``exports``), and `expire_snapshots` refuses to vacuum history an
    unfinished export still needs (force=True overrides) — the
    "export cadence must outrun expire_snapshots" contract is enforced,
    not just documented. A version whose delta is empty still gets a
    cursor advance; its dir may hold no parquet files, and
    `read_changes` answers it as a typed empty DataFrame from the
    ``_schema.json`` sidecar written here. Returns the version ids
    exported this call.

    Scale: each diff is snapshot_diff(scan='auto') — DELTA-SIZED via
    the manifest's file sets. An append version reads only its new run
    with no join at all (pinned in tests/test_layout.py), a
    copy-on-write delete reads only the touched files; only a full
    compaction pays two snapshot scans, because every byte genuinely
    changed. ``scan`` threads straight to snapshot_diff: pass 'full'
    for a store that deliberately holds duplicate keys between
    compactions (append_versioned never enforces key uniqueness, and
    the delta-sized shortcut is only sound under one-live-row-per-key).

    Schema evolution: each version dir carries its own ``_schema.json``
    (the op-row schema AS OF that version), and the export-level
    sidecar is refreshed whenever the schema changes — so an empty
    delta after an additive evolution is answered with the schema its
    version actually had, and consumers folding with
    ``merge_changes(allow_new_columns=True)`` follow the evolution.

    A vacuum forced past this export's cursor (`expire_snapshots`
    force=True) rewrites ``_cursor.json`` with a ``forced_gap``: the
    export resumes at the new floor, the gap's versions are
    permanently unexportable (their snapshots are gone), and
    `read_changes` on a gapped version fails with that explanation —
    fold-from-empty consumers must re-seed from a live snapshot.

    A FRESH export on a store whose early history was already vacuumed
    starts with an INITIAL SNAPSHOT BASE (the Debezium shape): version
    `floor` exports as the full snapshot in 'I' rows and the cursor
    records ``initial_base`` — a from-empty fold starting there
    converges exactly; versions below the base were never part of this
    changelog and `read_changes` explains them.

    Across NON-additive breaks (evolve_schema) the sort key itself may
    change; ``key`` is only trusted for eras no break describes — each
    exported version uses its ERA's key, reconstructed from the break
    versions' recorded ``sort_key_before``/``sort_key_after``, so a
    fresh export over broken history works whichever era's key the
    caller passes.
    """
    cursor_file = os.path.join(out_dir, "_cursor.json")
    os.makedirs(out_dir, exist_ok=True)
    try:
        with open(cursor_file) as f:
            cursor = json.load(f)
    except FileNotFoundError:
        cursor = {}
    last = cursor.get("last_exported", 0)
    manifest = read_manifest(path)
    latest = max(s["id"] for s in manifest["snapshots"])
    floor = manifest.get("min_time_travel") or 0
    exported: list[int] = []
    base = None
    if last == 0 and floor > 1:
        # a FRESH changelog on a store whose early history was already
        # vacuumed: versions 1..floor-1 are physically gone, so neither
        # "v1 as inserts" nor a diff below the floor can run (caught
        # round 11 by the randomized export×vacuum test — the old code
        # died on read_snapshot(1) "time travel expired"). The Debezium
        # initial-snapshot shape instead: version `floor` exports as
        # the FULL snapshot in 'I' rows, recorded as the changelog's
        # `initial_base` — a from-empty fold starting there reproduces
        # snapshot(floor) exactly and the diffs continue from floor+1.
        # Versions below the base were never part of this changelog
        # (read_changes explains them).
        base = floor
        cursor["initial_base"] = base
        last = base - 1
    by_id = {s["id"]: s for s in manifest["snapshots"]}

    for v in range(last + 1, latest + 1):
        is_rebase = bool(by_id.get(v, {}).get("schema_break"))
        ekey = (
            list(by_id[v]["sort_key_after"])
            if is_rebase
            else era_sort_key(manifest, v, key)
        )
        if is_rebase or v == base or v == 1:
            # the full snapshot as 'I' rows: version 1 has no
            # predecessor, `base` is the initial snapshot base, and a
            # non-additive evolution (evolve_schema) exports as a
            # REBASE — the diff across the break is not well-defined
            # (snapshot_diff refuses), so the full new-schema snapshot
            # goes out plus a marker; replay_changelog re-seeds its
            # fold there, under the key the break version recorded
            # (the sort_key may itself have been renamed; per-era,
            # survives multiple breaks)
            snap = read_snapshot(spark, path, v)
            payload = [c for c in snap.columns if c not in ekey]
            out = snap.select(*ekey, F.lit("I").alias("op"), *payload)
        else:
            diff = snapshot_diff(spark, path, v - 1, v, ekey, scan=scan)
            op = (
                F.when(F.col("change") == "added", F.lit("I"))
                .when(F.col("change") == "removed", F.lit("D"))
                .otherwise(F.lit("U"))
            )
            out = diff.select(*ekey, op.alias("op"), F.col("new.*"))
        vdir = os.path.join(out_dir, "changes", f"to_version={v}")
        out.write.mode("overwrite").parquet(vdir)
        # op-row schema sidecars: an empty delta writes no part files,
        # so read_changes needs these to answer the version as a typed
        # empty DataFrame. The PER-VERSION sidecar records the schema
        # as of this version (written after the overwrite so a crash
        # replay rewrites it); the export-level one is refreshed on
        # change so pre-sidecar consumers and the bootstrap read stay
        # current (atomic replace, like the cursor).
        schema_json = out.schema.json()
        _atomic_write(os.path.join(vdir, "_schema.json"), schema_json)
        if is_rebase:
            # marker for fold consumers: this version is a FULL
            # re-seed (truncate-and-insert), not an incremental delta
            # (written after the data, like the schema sidecar, so a
            # crash replay rewrites both)
            _atomic_write(
                os.path.join(vdir, "_rebase.json"),
                json.dumps({"reason": "schema_break", "key": list(ekey)}),
            )
        schema_file = os.path.join(out_dir, "_schema.json")
        current = None
        if os.path.isfile(schema_file):
            with open(schema_file) as f:
                current = f.read()
        if current != schema_json:
            _atomic_write(schema_file, schema_json)
        # advance last_exported IN the cursor dict — a forced-vacuum
        # gap marker (expire_snapshots force=True) must survive the
        # export resuming, or read_changes loses the real story
        cursor["last_exported"] = v
        _atomic_write(cursor_file, json.dumps(cursor))
        exported.append(v)
    # register/advance this export's cursor in the store manifest so
    # expire_snapshots can see which history a changelog still needs
    # (re-read: the loop's snapshot reads don't mutate it, but stay
    # fresh against the copy parsed before the export ran)
    new_last = exported[-1] if exported else last
    m = read_manifest(path)
    exports = m.setdefault("exports", {})
    export_id = os.path.abspath(out_dir)
    if exports.get(export_id) != new_last:
        exports[export_id] = new_last
        _dump_manifest(path, m)
    return exported


def _recover_compact_swap(out_dir: str) -> None:
    """Finish (or sweep) a `compact_changelog` swap interrupted between
    its two renames.

    The swap's only non-atomic window leaves the version dir MISSING
    while the fully-staged base (rebase marker present — it is written
    last, so its presence means staging completed) sits in a
    ``.__compact_tmp`` sibling: commit it by finishing the rename. A
    staging dir WITHOUT its marker (crash mid-staging) coexists with an
    intact version dir and is swept; a ``.__compact_old`` leftover
    (crash after the swap completed) is swept once the version dir is
    back. Idempotent; called on entry by compact_changelog,
    replay_changelog and read_changes.
    """
    import shutil

    changes = os.path.join(out_dir, "changes")
    if not os.path.isdir(changes):
        return
    for name in os.listdir(changes):
        p = os.path.join(changes, name)
        if name.endswith(".__compact_tmp"):
            vdir = p[: -len(".__compact_tmp")]
            if not os.path.isdir(vdir) and os.path.isfile(
                os.path.join(p, "_rebase.json")
            ):
                os.rename(p, vdir)
            elif os.path.isdir(vdir):
                shutil.rmtree(p, ignore_errors=True)
        elif name.endswith(".__compact_old"):
            vdir = p[: -len(".__compact_old")]
            if os.path.isdir(vdir):
                shutil.rmtree(p, ignore_errors=True)


def read_changes(spark: SparkSession, out_dir: str, version: int) -> DataFrame:
    """One exported version's change rows (merge_changes-shaped).

    A version whose delta was empty holds no parquet files (parquet
    schema inference would fail); it answers as a typed empty DataFrame
    from the version dir's ``_schema.json`` sidecar (the schema as of
    THAT version — an evolution later in the log never rewrites an
    earlier empty delta's answer), falling back to the export-level
    sidecar for dirs exported before per-version sidecars existed. A
    version lost to a forced vacuum (`expire_snapshots` force=True past
    this export's cursor) fails with that explanation; a version that
    was never exported still fails with Spark's own path error."""
    _recover_compact_swap(out_dir)
    d = os.path.join(out_dir, "changes", f"to_version={version}")
    if not os.path.isdir(d):
        cursor_file = os.path.join(out_dir, "_cursor.json")
        if os.path.isfile(cursor_file):
            with open(cursor_file) as f:
                cur = json.load(f)
            # compacted-base check FIRST: any version below the base is
            # answerable by replaying from it — the right guidance even
            # for a version inside a forced gap (the gap error's
            # "re-seed from a live snapshot" is stale once a compaction
            # folded past the gap; seam found by the round-13
            # randomized differential)
            ct = cur.get("compacted_to")
            if ct is not None and version < ct:
                raise ValueError(
                    f"read_changes: version {version} was folded into "
                    f"this changelog's compacted base (v{ct}, "
                    "compact_changelog) — fold from empty starting at "
                    f"v{ct}; replay_changelog does this automatically"
                )
            gap = cur.get("forced_gap")
            if gap is not None and gap[0] <= version <= gap[1]:
                raise ValueError(
                    f"read_changes: version {version} was never exported "
                    f"— expire_snapshots(force=True) vacuumed versions "
                    f"{gap[0]}..{gap[1]} past this export's cursor; "
                    "re-seed consumers from a live snapshot"
                )
            ib = cur.get("initial_base")
            if ib is not None and version < ib:
                raise ValueError(
                    f"read_changes: version {version} predates this "
                    f"changelog's initial snapshot base (v{ib}) — the "
                    "export began on an already-vacuumed store; fold "
                    f"from empty starting at v{ib}"
                )
    schema_file = os.path.join(d, "_schema.json")
    if not os.path.isfile(schema_file):
        schema_file = os.path.join(out_dir, "_schema.json")
    if (
        os.path.isdir(d)
        and os.path.isfile(schema_file)
        and not any(n.endswith(".parquet") for n in os.listdir(d))
    ):
        from pyspark.sql.types import StructType

        with open(schema_file) as f:
            return spark.createDataFrame([], StructType.fromJson(json.load(f)))
    return spark.read.parquet(d)


def compact_changelog(
    spark: SparkSession,
    out_dir: str,
    key: Sequence[str],
    through_version: int | None = None,
) -> dict:
    """LOG COMPACTION for an exported changelog (the Kafka
    compacted-topic analogue): collapse every exported version up to
    ``through_version`` (default: everything exported) into ONE
    rebase-marked base — the folded state as 'I' rows — and delete the
    superseded version dirs.

    Why: a changelog grows one dir per store version forever; a NEW
    consumer's bootstrap fold (and its disk) should cost the LIVE
    state plus the post-base deltas, not the whole history. The
    store's own vacuum reclaims snapshots; this is the export side's
    matching reclaim, and it needs nothing from the store — the base
    is folded from the log's own contents (`replay_changelog`), so the
    log stays self-contained.

    Mechanics: the folded state overwrites ``to_version=V``'s dir as
    'I' rows with a ``_rebase.json`` marker (``reason:
    log_compaction``) — `replay_changelog` then starts there with NO
    new logic (a marked base is a marked base), and `store_apply_
    stream`'s rebase refusal keeps protecting un-reseeded streaming
    consumers. The cursor records ``compacted_to``; `read_changes` on
    a version below it explains the compaction. Versions ABOVE V are
    untouched deltas.

    Crash contract, in commit order: (1) the complete base — parquet,
    schema sidecar, rebase marker LAST — staged in a ``.__compact_tmp``
    sibling, so V's original delta is never destroyed before its
    replacement fully exists and a replay NEVER sees a folded state
    without its marker (an unmarked base would fold as an ordinary 'I'
    delta and resurrect rows deleted at V); (2) the two-rename swap —
    the only non-atomic window leaves V's dir briefly missing, which
    fails replay LOUDLY and is finished by `_recover_compact_swap` on
    the next entry to any changelog verb; (3) the atomic cursor
    update; (4) best-effort deletion of superseded dirs (a crash
    leaves stale dirs a re-run or the next compaction sweeps; readers
    already start at the marker). Idempotent: a rerun with the same V
    folds the marked base alone and rewrites it.

    A changelog with a FORCED GAP below ``through_version`` and no
    rebase past it cannot be compacted from its own contents (the
    fold would need the vacuumed versions) — the fold's read raises
    with the gap explanation; re-seed consumers from a live snapshot
    first. Returns ``{"base_version", "dirs_removed", "rows"}``.
    """
    import shutil

    _recover_compact_swap(out_dir)
    cursor_file = os.path.join(out_dir, "_cursor.json")
    if not os.path.isfile(cursor_file):
        raise ValueError(
            f"compact_changelog: no _cursor.json under {out_dir!r} — "
            "not an export_changes changelog"
        )
    with open(cursor_file) as f:
        cursor = json.load(f)
    exported_to = cursor.get("last_exported", 0)
    v = exported_to if through_version is None else through_version
    if v > exported_to:
        raise ValueError(
            f"compact_changelog: version {v} not exported yet "
            f"(cursor at {exported_to})"
        )
    if v < 1:
        raise ValueError("compact_changelog: nothing to compact")
    folded = replay_changelog(spark, out_dir, key, to_version=v)
    # the fold key may have been renamed by a schema-break rebase at or
    # below V — recover it the same way replay_changelog did
    fold_key, _ = _latest_rebase(out_dir, key, v, 1)
    payload = [c for c in folded.columns if c not in fold_key]
    base = folded.select(*fold_key, F.lit("I").alias("op"), *payload)
    vdir = os.path.join(out_dir, "changes", f"to_version={v}")
    # The base REPLACES a delta consumers can already replay, so the
    # swap must never expose a folded state WITHOUT its rebase marker —
    # replay would fold it as an ordinary 'I' delta and rows deleted AT
    # v would silently resurrect (round-13 ADVICE fix). Stage the
    # complete base (parquet + schema sidecar + marker, marker LAST so
    # its presence means "staging complete") in a sibling temp dir,
    # then swap with two renames. The only non-atomic window is between
    # the renames: vdir is briefly MISSING, which fails replay loudly,
    # and `_recover_compact_swap` (run on entry here and by
    # read_changes) finishes the swap from the committed staging dir.
    tmpdir = vdir + ".__compact_tmp"
    olddir = vdir + ".__compact_old"
    shutil.rmtree(tmpdir, ignore_errors=True)
    # row count observed during the base write itself — the old
    # post-write `spark.read.parquet(tmpdir).count()` re-scanned the
    # freshly written compacted state a second time (the same seam the
    # round-12 verdict flagged in evolve_schema). No range exchange in
    # this write, so the observe node cannot be double-run by
    # boundary sampling.
    obs = Observation()
    base.observe(obs, F.count(F.lit(1)).alias("rows")).write.parquet(tmpdir)
    n_rows = obs.get["rows"]
    _atomic_write(os.path.join(tmpdir, "_schema.json"), base.schema.json())
    _atomic_write(
        os.path.join(tmpdir, "_rebase.json"),
        json.dumps({"reason": "log_compaction", "key": fold_key}),
    )
    shutil.rmtree(olddir, ignore_errors=True)
    if os.path.isdir(vdir):
        os.rename(vdir, olddir)
    os.rename(tmpdir, vdir)
    shutil.rmtree(olddir, ignore_errors=True)
    cursor["compacted_to"] = max(int(cursor.get("compacted_to") or 0), v)
    _atomic_write(cursor_file, json.dumps(cursor))
    removed = 0
    for w in range(1, v):
        d = os.path.join(out_dir, "changes", f"to_version={w}")
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)
            removed += 1
    return {"base_version": v, "dirs_removed": removed, "rows": int(n_rows)}


def _latest_rebase(
    out_dir: str, key: Sequence[str], last: int, first: int
) -> tuple[list[str], int | None]:
    """The newest rebase-marked version in `first..last` and the fold
    key its ``_rebase.json`` recorded (a schema break may have renamed
    the key): ``(key, version)``, or ``(list(key), None)`` without one."""
    for v in range(last, first - 1, -1):
        marker = os.path.join(
            out_dir, "changes", f"to_version={v}", "_rebase.json"
        )
        if os.path.isfile(marker):
            with open(marker) as f:
                return list(json.load(f).get("key", key)), v
    return list(key), None


# replay_changelog cuts its fold lineage every this-many merge_changes
# layers: deep enough to amortize the checkpoint materialization, small
# enough that the analyzer never sees more than ~8 stacked
# full-outer-joins.
_FOLD_CHECKPOINT_EVERY = 8


def replay_changelog(
    spark: SparkSession,
    out_dir: str,
    key: Sequence[str],
    to_version: int | None = None,
) -> DataFrame:
    """Fold an exported changelog into the state it describes at
    ``to_version`` (default: everything exported) — the one consumer
    that understands every recovery shape the log can carry:

    - an ``initial_base`` (fresh export on an already-vacuumed store)
      starts the fold there instead of v1;
    - a REBASE version (non-additive evolve_schema break — marked with
      ``_rebase.json``) RE-SEEDS the fold: the replica truncates and
      rebuilds from that version's full 'I' snapshot, under the key
      the marker recorded (the sort key itself may have been renamed);
      only the LATEST rebase at or below the target matters, so the
      fold never pays for history before it;
    - additive evolutions mid-log follow via
      ``merge_changes(allow_new_columns=True)``;
    - state semantics throughout (``partial_updates=False``): exported
      rows are full states, update-to-NULL overwrites;
    - a version lost to a forced vacuum fails with read_changes' own
      explanation (re-seed from a live snapshot).

    Scale: this is the batch bootstrap/audit consumer (a production
    replica tails the log with streaming/jobs.store_apply_stream); the
    fold reads each version's delta once, and a rebase bounds the work
    to one snapshot copy + the deltas after it — the same bootstrap
    cost a brand-new replica pays.
    """
    _recover_compact_swap(out_dir)
    cursor_file = os.path.join(out_dir, "_cursor.json")
    if not os.path.isfile(cursor_file):
        raise ValueError(
            f"replay_changelog: no _cursor.json under {out_dir!r} — "
            "not an export_changes changelog"
        )
    with open(cursor_file) as f:
        cursor = json.load(f)
    exported_to = cursor.get("last_exported", 0)
    last = exported_to if to_version is None else to_version
    if last > exported_to:
        raise ValueError(
            f"replay_changelog: version {last} not exported yet "
            f"(cursor at {exported_to}) — run export_changes first"
        )
    start = cursor.get("initial_base", 1)
    anchor = max(start, int(cursor.get("compacted_to") or 0))
    if last < anchor:
        # a target below the fold anchor: the log HAS no content for
        # it (versions below an initial base were never part of this
        # changelog; versions below a compacted base were deleted) —
        # an empty replica here would silently masquerade as "state
        # was empty", which is a wrong answer, not a boundary
        raise ValueError(
            f"replay_changelog: version {last} predates this "
            f"changelog's fold anchor (v{anchor}: initial base or "
            "compacted base) — the log cannot answer pre-anchor "
            "state; read the store's own snapshot instead"
        )
    fold_key, rebase = _latest_rebase(out_dir, key, last, start)
    start = rebase or start
    from pyspark.sql.types import StructType

    schema_file = os.path.join(
        out_dir, "changes", f"to_version={start}", "_schema.json"
    )
    if not os.path.isfile(schema_file):
        schema_file = os.path.join(out_dir, "_schema.json")
    with open(schema_file) as f:
        sch = StructType.fromJson(json.load(f))
    replica = spark.createDataFrame(
        [], StructType([fld for fld in sch.fields if fld.name != "op"])
    )
    # Each fold layers one merge_changes full-outer-join onto the plan;
    # a long-uncompacted log (hundreds of versions) would blow up the
    # Catalyst analyzer long before data size matters, so the lineage
    # is cut every _FOLD_CHECKPOINT_EVERY folds (localCheckpoint, the
    # same bounded-iteration pattern as pagerank in llm/similarity.py)
    # — plan depth stays O(K) whatever the version count.
    for i, v in enumerate(range(start, last + 1), 1):
        replica = merge_ops.merge_changes(
            replica,
            read_changes(spark, out_dir, v),
            fold_key,
            partial_updates=False,
            allow_new_columns=True,
        )
        if i % _FOLD_CHECKPOINT_EVERY == 0 and v < last:
            replica = replica.localCheckpoint(eager=True)
    return replica
