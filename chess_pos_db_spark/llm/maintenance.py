"""Unified index-maintenance scheduler: ONE operational entry point a
pipeline schedules (post-ingest, nightly, after a retraction batch)
that reads each materialized structure's own commit record and runs
exactly the maintenance that is DUE — the merge-after-N-runs cadence
the reference applies to its sorted-run store †, generalized across
the three index families plus the IVF physical layout:

    postings index   llm/search.compact_index       due: delta gens OR
                     pending tombstone gens over threshold (both grow
                     per-query cost: one bucket-pruned read per delta,
                     one anti-join mask per query while tombs pend)
    LSH index        llm/dedup_index.compact_lsh_index  due: delta gens
                     over threshold OR masked membership rows over a
                     fraction of the corpus (probe cost grows with
                     gens; masked rows are pure disk debt)
    IVF layout       compact_ivf_cells (here)        due: small files
                     per cell dir over threshold (every append lands
                     ≥1 new file per touched cell; scan cost per query
                     grows with file count in the probed cells)

Re-clustering the IVF quantizer is deliberately NOT automated: new
centroids re-route every resident vector (a full-corpus rewrite) and
invalidate the frozen-quantizer contract the append/delete paths rely
on — the scheduler only REPORTS cell-population skew so an operator
can decide to rebuild.

Crash contract: there is deliberately NO cross-structure transaction
(mirroring llm/retraction.py). Each family's compaction keeps its own
commit discipline; the scheduler derives "due" from each structure's
live state, so a crash between two families' compactions is repaired
by RERUNNING the scheduler — completed structures are no longer due
and no-op, the rest run (pinned in tests/test_maintenance.py).

Scale: every action is affected-data-sized by the underlying op's
contract; the due-checks are single-row meta reads (postings/LSH) or
directory listings (IVF) — the scheduler itself never scans a corpus.
The IVF skew report reads per-file row counts from parquet FOOTERS
during the same walk, so an all-ok IVF invocation runs ZERO Spark jobs
(pinned in tests/test_maintenance.py).

Round 10 extends the same treatment to the VERSIONED STORE itself
(`maintain_stores`): due-check is one manifest read; actions are
`compact_versioned` on live-version pressure and `expire_snapshots`
vacuum honoring the CDC-export guard — a vacuum a lagging export would
be stranded by is REPORTED, never forced, so the scheduler can run on
a cron without racing its consumers.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _cell_dirs(layout_dir: str) -> dict[int, str]:
    """cell → directory map for a LOCAL IVF layout, failing loudly when
    the walk can see nothing: a remote URI (hdfs://, s3a://) or a dir
    with no ``cell=*`` children would otherwise make every due-check
    silently report a clean no-op while the module presents itself as
    the operational maintenance entry point."""
    if "://" in layout_dir:
        raise ValueError(
            f"IVF maintenance walks the filesystem and supports local "
            f"layout paths only, got {layout_dir!r} — run it where the "
            "layout is mounted, or extend the walk with a remote lister"
        )
    dirs = {
        int(os.path.basename(cd).split("=", 1)[1]): cd
        for cd in glob.glob(os.path.join(layout_dir, "cell=*"))
        if os.path.isdir(cd)
    }
    if not dirs:
        raise ValueError(
            f"no cell=* directories under {layout_dir!r} — not an IVF "
            "layout (build one with write_ivf_layout first)"
        )
    return dirs


def ivf_cell_file_counts(layout_dir: str) -> dict[int, int]:
    """Parquet-file count per cell directory — the IVF due-check's
    input, a pure directory listing (no data read)."""
    return {
        cell: sum(1 for f in os.listdir(cd) if f.endswith(".parquet"))
        for cell, cd in _cell_dirs(layout_dir).items()
    }


def compact_ivf_cells(
    spark: SparkSession,
    layout_dir: str,
    max_files_per_cell: int = 8,
) -> dict:
    """Coalesce the small files append_ivf_layout accumulates — ONLY in
    the cell directories over the threshold (affected-cells-only, like
    the delete path). Each due cell is read back (partition-pruned),
    lineage broken, and its directory replaced via dynamic partition
    overwrite; untouched cells' files are never opened.

    Idempotent and crash-convergent WITHOUT a commit record: the
    trigger is derived from the filesystem itself, so a crash that
    leaves a prefix of due cells rewritten just leaves the rest due —
    the rerun finishes them and a converged layout no-ops. Returns
    ``{"cells_compacted": n, "files_before": n, "files_after": n}``.
    """
    counts = ivf_cell_file_counts(layout_dir)
    due = sorted(c for c, n in counts.items() if n > max_files_per_cell)
    if not due:
        return {
            "cells_compacted": 0,
            "files_before": sum(counts.values()),
            "files_after": sum(counts.values()),
        }
    files_before = sum(counts.values())
    affected = spark.read.parquet(layout_dir).filter(F.col("cell").isin(due))
    # break lineage before overwriting the files being read (bounded:
    # due cells only), then land ~one file per cell — repartitioning by
    # the partition column means each task holds whole cells, so each
    # cell dir gets one file per task that owns it (usually exactly 1)
    compacted = affected.localCheckpoint(eager=True).repartition(
        len(due), "cell"
    )
    (
        compacted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(layout_dir)
    )
    return {
        "cells_compacted": len(due),
        "files_before": files_before,
        "files_after": sum(ivf_cell_file_counts(layout_dir).values()),
    }


def ivf_cell_skew(layout_dir: str) -> float:
    """max/mean cell population — the re-cluster signal. Row counts
    come from the parquet FOOTERS during the same directory walk the
    file-count due-check does (``metadata.num_rows`` per file) — zero
    Spark jobs, so the scheduler's own idle cost stays O(files)
    metadata reads and never a full-layout task wave."""
    import pyarrow.parquet as pq

    per_cell: list[int] = []
    for cell, cd in _cell_dirs(layout_dir).items():
        n = 0
        for f in os.listdir(cd):
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(cd, f)).metadata.num_rows
        per_cell.append(n)
    total = sum(per_cell)
    if not per_cell or total == 0:
        return 1.0
    return max(per_cell) / (total / len(per_cell))


def maintain_indexes(
    spark: SparkSession,
    postings_prefixes: list[str] | tuple[str, ...] = (),
    lsh_prefixes: list[str] | tuple[str, ...] = (),
    ivf_layouts: list[str] | tuple[str, ...] = (),
    max_generations: int = 8,
    max_tombstone_generations: int = 4,
    max_masked_frac: float = 0.2,
    max_files_per_cell: int = 8,
    recluster_skew_factor: float = 4.0,
    buckets: int = 16,
) -> dict:
    """Run every DUE maintenance action across the given structures.

    Returns a per-structure report:
    ``{"postings": {prefix: "compacted"|"ok"}, "lsh": {...},
    "ivf": {layout_dir: {"cells_compacted": n, ..., "skew": x,
    "recluster_recommended": bool}}}`` — an auditor (or a cron log)
    reads what ran and why. The skew line is advisory only; acting on
    it is a rebuild decision (see module docstring).
    """
    from . import dedup_index as DI
    from . import search as S

    report: dict = {"postings": {}, "lsh": {}, "ivf": {}}

    for prefix in postings_prefixes:
        m = S._read_meta(spark, prefix)
        due = (
            m["n_deltas"] >= max_generations
            or S._n_tomb_gens(m) >= max_tombstone_generations
        )
        if due:
            S.compact_index(spark, prefix, buckets=buckets)
        report["postings"][prefix] = "compacted" if due else "ok"

    for prefix in lsh_prefixes:
        m = DI._read_meta(spark, prefix)
        masked_frac = DI._meta_masked(m) / max(int(m["n_docs"]), 1)
        due = (
            m["n_deltas"] >= max_generations
            or masked_frac >= max_masked_frac
        )
        if due:
            DI.compact_lsh_index(spark, prefix, buckets=buckets)
        report["lsh"][prefix] = "compacted" if due else "ok"

    for layout_dir in ivf_layouts:
        res = compact_ivf_cells(
            spark, layout_dir, max_files_per_cell=max_files_per_cell
        )
        skew = ivf_cell_skew(layout_dir)
        res["skew"] = skew
        res["recluster_recommended"] = skew >= recluster_skew_factor
        report["ivf"][layout_dir] = res

    return report


def store_version_pressure(path: str) -> dict:
    """The versioned store's due-check input — ONE manifest read:
    `live_versions`, the number of version dirs the latest snapshot's
    files span (the runs one read opens), the total snapshot count, and
    each registered CDC export's lag behind the latest version."""
    from ..plans import layout

    m = layout.read_manifest(path)
    head = layout._snapshot(path, m)
    latest = head["id"]
    return {
        "live_versions": len({os.path.dirname(f) for f in head["files"]}),
        "total_versions": len(m["snapshots"]),
        "export_lag": {
            d: latest - lv for d, lv in m.get("exports", {}).items()
        },
    }


def maintain_stores(
    spark: SparkSession,
    stores: dict,
    max_live_versions: int = 8,
    vacuum: bool = True,
    keep_history_versions: int = 0,
    compact_changelog_over: int | None = None,
) -> dict:
    """Scheduled health for versioned snapshot stores — the corpus-side
    sibling of the index legs above. ``stores`` maps store path →
    agg_spec for `compact_versioned` (column → sum|min|max), or None
    for a row store that must never be auto-compacted (an agg_spec on
    a row store would silently drop unlisted payload columns — the
    loud boundary is "no spec, no compaction").

    Per store, in order:
    - COMPACT when the latest snapshot's files span more than
      ``max_live_versions`` version dirs (each is one more run every
      read unions, the same per-query pressure as index delta
      generations). The merge is the store's own aggregate-combining
      compaction; its manifest append is the commit point.
    - VACUUM (``expire_snapshots`` up to ``latest -
      keep_history_versions``) to reclaim superseded files. The
      default 0 vacuums to the latest version — maximal reclaim,
      which destroys all UNTAGGED time travel; that is the honest
      default because a retention window N>0 also pins every
      pre-compaction file a time-travel read at latest-N could need
      (vacuum after a compaction then reclaims nothing until N more
      versions land). A store whose history matters should either
      set ``keep_history_versions`` (rolling audit window, delayed
      reclaim) or tag the versions that matter (`tag_snapshot` — GC
      roots survive any vacuum, the designed audit anchor). The
      CDC-export guard stays binding: a vacuum that would strand a
      lagging export is recorded as ``vacuum_blocked`` in the report
      and SKIPPED — the scheduler never forces; catching the export
      up (or an explicit force=True call outside the scheduler) is an
      operator decision, exactly like IVF re-clustering.

    - CHANGELOG COMPACTION (round 12, opt-in via
      ``compact_changelog_over=N``): each export registered in the
      store manifest whose changes/ directory holds more than N
      version dirs is folded into a rebase base
      (`layout.compact_changelog`) — the export side's reclaim,
      bounding every new consumer's bootstrap fold. Due-check is a
      directory listing (the scheduler's zero-job idle economics).
      Skipped with a report entry when the export's cursor trails a
      schema-break version still recorded in the manifest (the
      pre-break era's fold key is not the manifest's current
      sort_key; export first, then compact).

    Crash contract: same as the index legs — no cross-store
    transaction; due-ness derives from each store's manifest, so a
    crash mid-list leaves finished stores no longer due and the rerun
    completes the rest (pinned in tests/test_maintenance.py).

    Returns ``{path: {"live_versions_before", "compacted",
    "vacuumed_files", "vacuum_blocked", "changelogs_compacted"}}``.
    """
    import glob as _glob

    from ..plans import layout

    report: dict = {}
    for path, agg_spec in stores.items():
        pressure = store_version_pressure(path)
        r = {
            "live_versions_before": pressure["live_versions"],
            "compacted": False,
            "vacuumed_files": 0,
            "vacuum_blocked": None,
        }
        if (
            agg_spec is not None
            and pressure["live_versions"] > max_live_versions
        ):
            m = layout.read_manifest(path)
            layout.compact_versioned(
                spark, path, key=m["sort_key"], agg_spec=agg_spec
            )
            r["compacted"] = True
        if vacuum:
            m = layout.read_manifest(path)
            latest = layout._snapshot(path, m)["id"]
            before = max(1, latest - keep_history_versions)
            try:
                r["vacuumed_files"] = len(
                    layout.expire_snapshots(path, before=before)
                )
            except ValueError as e:
                if "strand CDC export" not in str(e):
                    raise
                r["vacuum_blocked"] = str(e)
        if compact_changelog_over is not None:
            r["changelogs_compacted"] = {}
            m = layout.read_manifest(path)
            breaks = [
                s["id"] for s in m["snapshots"] if s.get("schema_break")
            ]
            for d, cursor_v in m.get("exports", {}).items():
                if not os.path.isdir(os.path.join(d, "changes")):
                    continue
                if any(b > cursor_v for b in breaks):
                    r["changelogs_compacted"][d] = "skipped_rebase_pending"
                    continue
                n_dirs = len(
                    _glob.glob(os.path.join(d, "changes", "to_version=*"))
                )
                if n_dirs > compact_changelog_over:
                    res = layout.compact_changelog(
                        spark, d, m["sort_key"]
                    )
                    r["changelogs_compacted"][d] = res["base_version"]
        report[path] = r
    return report
