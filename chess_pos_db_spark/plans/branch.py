"""Branching for the versioned store: fork, diverge, three-way merge.

The store already speaks most of git: snapshots are commits, tags are
GC-rooted refs, time travel is checkout, snapshot_diff is diff, the
changelog is the remote. This module adds the missing verb pair —
``create_branch`` (fork) and ``merge_branch`` (three-way merge) — the
way Iceberg/Nessie and Delta's shallow-clone-then-merge express
isolated what-if pipelines over a 100 TB table: a branch is METADATA,
never a copy of data (reference analogue: the reference's database
supports several independently-updatable partition sets over shared
immutable game files, `src/persistence/pos_db` †; branching is the
same shared-bytes/forked-manifest economics, Spark-hosted).

Design — a branch IS a store:

- ``create_branch`` writes a child manifest under
  ``<store>/_branches/<name>/`` whose copied snapshot entries list
  the parent's files by RELATIVE path (``../../vN/part-….parquet``).
  Zero bytes move. Because the branch dir is a complete store layout,
  EVERY existing verb — read_snapshot, time travel, append_versioned,
  upsert_rows, delete_rows, compact_versioned, snapshot_diff,
  export_changes — works on the branch path with no new code: new
  branch commits write branch-local version dirs, and untouched
  parent files stay on the new entries' lists by reference.
- Vacuum safety is two-sided (plans/layout.expire_snapshots): a
  branch vacuum sweeps only its own ``v{n}`` dirs, never the parent
  files its lists name through ``../`` — those bytes are the
  parent's to reclaim; a parent vacuum keeps every live branch's
  fork entry, so the fork's files survive (belt: a
  ``__branch_<name>`` tag pinned on the parent, which also keeps the
  base readable below the floor for merge; suspenders: an explicit
  fork scan in expire_snapshots) and advances the branch's own
  time-travel floor so below-floor branch reads fail with the floor
  error, not a missing-file surprise.
- ``merge_branch`` is the textbook three-way merge, built from the
  store's own delta machinery: base = the fork version,
  theirs = snapshot_diff(branch, fork → branch head),
  ours = snapshot_diff(parent, fork → parent head) — both
  DELTA-SIZED (the symmetric difference of two entries' file lists,
  never a full scan of either side). One left-outer join of theirs onto ours
  on the store key classifies every changed key; a CONFLICT is a key
  both sides drove to DIFFERENT final states (both-deleted or
  both-same-value converge silently, like git). Resolution policies:
  ``'error'`` (default — refuse, naming example keys), ``'ours'``
  (parent wins, branch change dropped), ``'theirs'`` (branch wins).
  The surviving change set applies through upsert_rows' copy-on-write
  path, so the merge commit is an ordinary delta-sized version on the
  parent — CDC exports downstream see it as a normal delta, replicas
  fold it with zero new logic.

Scale: create/delete/list are manifest I/O only (no Spark job). Merge
reads the two file-set symmetric differences (delta-sized under the
store's keyed discipline), localCheckpoints the classified join once
(it is consumed up to three times: conflict probe, stats, apply), and
writes only touched files. Nothing in the merge is proportional to
store size — only to how much the two sides actually changed.

Guards (each a typed, recipe-bearing refusal): nested branches
(branch-of-a-branch), name collisions and malformed names, forks at
nonexistent/expired versions, merges across a schema break committed
on EITHER side after the fork (evolve_schema/rekey re-declared row
identity or shape — re-branch and replay instead), and column/type
drift between the two heads (apply the same additive evolution to
both sides first).
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import layout
from .layout import (
    BRANCHES_DIR,
    _dump_manifest,
    era_sort_key,
    read_manifest,
)

_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]*$")


def branch_path(path: str, name: str) -> str:
    """Filesystem home of branch `name` (itself a full store layout)."""
    return os.path.join(path, BRANCHES_DIR, name)


def _branch_manifest(path: str, name: str) -> dict:
    bpath = branch_path(path, name)
    try:
        manifest = read_manifest(bpath)
    except FileNotFoundError:
        raise ValueError(
            f"no branch {name!r} at {path!r} — create_branch first "
            f"(existing: {sorted(list_branches(path))})"
        ) from None
    if not manifest.get("branch_of"):
        raise ValueError(
            f"{bpath!r} exists but is not a branch manifest"
        )
    return manifest


def create_branch(
    spark: SparkSession,
    path: str,
    name: str,
    at_version: int | None = None,
) -> dict:
    """Fork the store at `at_version` (default: head) into a zero-copy
    branch. Returns ``{"name", "path", "fork_version"}``; the returned
    path is a complete store every layout verb accepts.

    The child manifest copies the parent's entries up to the fork with
    every listed file rewritten to a relative ``../../`` reference, carries
    the fork era's sort key (a fork below a rekey folds on ITS era's
    identity, not the parent's current one) and the parent's vacuum
    floor, and records ``branch_of`` so merge_branch and the parent's
    vacuum can find the fork point. No Spark job runs except a
    parquet-footer schema read when forking below head (the branch
    needs the fork ERA's schema for its empty-state read fallback —
    the parent manifest only records the current era's).
    """
    if not _NAME_RE.match(name or ""):
        raise ValueError(
            f"create_branch: invalid branch name {name!r} (want "
            "[A-Za-z0-9][A-Za-z0-9_.-]*)"
        )
    manifest = read_manifest(path)
    if manifest.get("branch_of"):
        raise ValueError(
            f"create_branch: {path!r} is itself a branch — nested "
            "branches are not supported; merge it or fork the parent "
            "store instead"
        )
    latest = layout._snapshot(path, manifest)["id"]
    fork = latest if at_version is None else int(at_version)
    layout._snapshot(path, manifest, fork)  # the fork must name a snapshot
    floor = manifest.get("min_time_travel")
    tagged = set(manifest.get("tags", {}).values())
    if floor is not None and fork < floor and fork not in tagged:
        raise ValueError(
            f"create_branch: fork at v{fork} is below the vacuum "
            f"floor (v{floor}) — its files may be gone; fork at a "
            "tagged or >= floor version"
        )
    bpath = branch_path(path, name)
    if os.path.isfile(os.path.join(bpath, layout.MANIFEST_NAME)):
        # CRASH REPAIR, not just a collision guard: create commits in
        # two steps (branch manifest, then the parent fork-pin tag). A
        # crash between them leaves a valid branch whose merge base is
        # unpinned — and a retry that blindly refused would strand it
        # that way forever. Same fork → re-pin the tag and return
        # (idempotent retry); different fork → a genuine collision.
        existing = read_manifest(bpath)
        efork = int(existing.get("branch_of", {}).get("fork_version", -1))
        if efork == fork:
            tag = f"__branch_{name}"
            if manifest.get("tags", {}).get(tag) != efork:
                manifest.setdefault("tags", {})[tag] = efork
                _dump_manifest(path, manifest)
            return {"name": name, "path": bpath, "fork_version": efork}
        raise ValueError(
            f"create_branch: branch {name!r} already exists at "
            f"{path!r} (forked at v{efork}) — delete_branch it first "
            "or pick another name"
        )
    up = os.path.join("..", "..")
    copied = [
        {**s, "files": [os.path.join(up, r) for r in s["files"]]}
        for s in manifest["snapshots"]
        if s["id"] <= fork
    ]
    if fork == latest:
        schema = manifest["schema"]
    else:
        # fork-era schema: additive columns / breaks after the fork
        # mean the parent's recorded schema is the WRONG era's
        schema = layout.read_snapshot(spark, path, fork).schema.json()
    child = {
        "format": manifest["format"],
        "version": manifest["version"],
        "sort_key": era_sort_key(manifest, fork, manifest["sort_key"]),
        "snapshots": copied,
        "schema": schema,
        "branch_of": {"name": name, "fork_version": fork},
        # the fork is the merge BASE: pin it as a tag (a GC root and a
        # floor exception, layout.read_snapshot/expire_snapshots) so
        # neither a branch-side vacuum nor a fork taken at a tagged
        # version below the parent's floor can make the base
        # unreadable before merge_branch needs it
        "tags": {"__fork": fork},
    }
    if floor is not None:
        child["min_time_travel"] = floor
    os.makedirs(bpath, exist_ok=True)
    # manifest write is the commit point: a crash before it leaves a
    # manifest-less dir that list_branches/vacuum skip and a retried
    # create_branch overwrites
    _dump_manifest(bpath, child)
    # pin the fork on the PARENT as a tag: tags are already the
    # store's GC-root AND below-floor-read mechanism, so the fork's
    # files survive parent vacuums and merge_branch's base diff
    # (read_snapshot(parent, fork)) keeps answering after the floor
    # passes the fork. Ordered after the branch commit: a crash
    # between the two leaves an extra tag (harmless, delete_tag), a
    # reversed order would leave a branch whose base a vacuum could
    # have already expired. delete_branch releases the pin.
    manifest = read_manifest(path)
    manifest.setdefault("tags", {})[f"__branch_{name}"] = fork
    _dump_manifest(path, manifest)
    return {"name": name, "path": bpath, "fork_version": fork}


def list_branches(path: str) -> dict[str, dict]:
    """Live branches of the store: name → {fork_version, head,
    local_versions}. Pure manifest reads."""
    home = os.path.join(path, BRANCHES_DIR)
    out: dict[str, dict] = {}
    if not os.path.isdir(home):
        return out
    for name in sorted(os.listdir(home)):
        try:
            m = read_manifest(os.path.join(home, name))
        except (FileNotFoundError, NotADirectoryError,
                json.JSONDecodeError):
            continue
        info = m.get("branch_of")
        if not info:
            continue
        ids = [s["id"] for s in m.get("snapshots") or []]
        fork = int(info["fork_version"])
        out[name] = {
            "fork_version": fork,
            "head": max(ids) if ids else fork,
            "local_versions": sum(1 for i in ids if i > fork),
        }
    return out


def delete_branch(path: str, name: str) -> None:
    """Drop the branch: its manifest AND its branch-local version dirs
    die; parent-owned files are untouched (they live outside the
    branch dir by construction). Releases the branch's vacuum GC root
    — the parent's next expire_snapshots can reclaim fork history no
    other root keeps.

    Crash-safe in the dir-then-tag order: a crash after the rmtree
    leaves only the leaked fork-pin tag, and a RETRY releases it
    (raising only when neither the branch nor its tag ever existed).
    The reverse order would drop the GC root while the branch still
    reads parent files — a vacuum could then pull them out from under
    it."""
    bpath = branch_path(path, name)
    had_dir = os.path.isfile(os.path.join(bpath, layout.MANIFEST_NAME))
    if had_dir:
        _branch_manifest(path, name)  # typed error for non-branch dirs
        shutil.rmtree(bpath)
    manifest = read_manifest(path)
    had_tag = f"__branch_{name}" in manifest.get("tags", {})
    if had_tag:
        del manifest["tags"][f"__branch_{name}"]
        _dump_manifest(path, manifest)
    if not had_dir and not had_tag:
        raise ValueError(
            f"no branch {name!r} at {path!r} — create_branch first "
            f"(existing: {sorted(list_branches(path))})"
        )


def merge_branch(
    spark: SparkSession,
    path: str,
    name: str,
    on_conflict: str = "error",
    scan: str = "auto",
    partitions: int | None = None,
) -> dict:
    """Three-way merge of branch `name` back into the parent store.

    base = the recorded fork version; theirs = what the branch changed
    since (snapshot_diff on the branch path); ours = what the parent
    changed since (snapshot_diff on the parent). A key is a CONFLICT
    iff both sides changed it to DIFFERENT final states — both-deleted
    and both-same-value converge silently (null-safe struct equality,
    so delete-vs-update and update-to-NULL classify correctly).
    `on_conflict`: 'error' refuses naming up to 5 example keys;
    'ours' keeps the parent's state; 'theirs' takes the branch's.

    The surviving branch changes apply through upsert_rows (I/U for
    added/changed, D for removed), so the merge is one ordinary
    copy-on-write version on the parent, stamped ``merged_from`` in
    the manifest. Returns ``{"version", "fork_version", "branch_head",
    "rows_removed", "rows_upserted", "conflicts", "policy",
    "fast_forward"}`` — version None
    when the branch changed nothing that was not already in the
    parent. The branch itself is left intact; delete_branch when done.

    The fork point never advances (no merge-base bookkeeping as in
    git): re-merging an already-merged branch re-applies its FULL
    delta against the original fork — a no-op while the parent kept
    the merged values (same-final convergence), but under
    on_conflict='theirs' it re-litigates keys the parent changed
    AFTER the first merge. Delete the branch once merged; fork a
    fresh one to continue the work.

    Refusals: schema break (evolve/rekey) after the fork on either
    side — row identity or shape was re-declared, a key-join merge
    would be meaningless; column/type drift between the heads — apply
    the same additive evolution to both sides first.
    ``scan='full'`` forces full-scan diffs for stores deliberately
    holding duplicate keys (see snapshot_diff).
    """
    if on_conflict not in ("error", "ours", "theirs"):
        raise ValueError(
            f"merge_branch: unknown on_conflict {on_conflict!r} "
            "(want 'error', 'ours' or 'theirs')"
        )
    manifest = read_manifest(path)
    bman = _branch_manifest(path, name)
    bpath = branch_path(path, name)
    fork = int(bman["branch_of"]["fork_version"])
    for side, m in (("parent", manifest), ("branch", bman)):
        broke = [
            (s["id"], s.get("break_kind", "evolve"))
            for s in m["snapshots"]
            if s.get("schema_break") and s["id"] > fork
        ]
        if broke:
            what = ", ".join(f"v{v} ({k})" for v, k in broke)
            raise ValueError(
                f"merge_branch: the {side} committed schema break(s) "
                f"{what} after the fork at v{fork} — a key-join merge "
                "cannot cross a re-declared row identity/shape; "
                "re-branch from the new era and replay the changes"
            )
    key = list(manifest["sort_key"])
    if list(bman["sort_key"]) != key:
        raise ValueError(
            f"merge_branch: branch key {bman['sort_key']} != parent "
            f"key {key} — re-branch"
        )
    parent_head = max(s["id"] for s in manifest["snapshots"])
    branch_head = max(s["id"] for s in bman["snapshots"])
    if not any(s["id"] > fork for s in bman["snapshots"]):
        return {
            "version": None, "fork_version": fork,
            "branch_head": branch_head, "rows_removed": 0,
            "rows_upserted": 0, "conflicts": 0,
            "policy": on_conflict, "fast_forward": None,
        }
    ours_head = layout.read_snapshot(spark, path)
    theirs_head = layout.read_snapshot(spark, bpath)
    o_types, t_types = dict(ours_head.dtypes), dict(theirs_head.dtypes)
    if o_types != t_types:
        only_o = sorted(set(o_types) - set(t_types))
        only_t = sorted(set(t_types) - set(o_types))
        retyped = sorted(
            c for c in set(o_types) & set(t_types)
            if o_types[c] != t_types[c]
        )
        raise ValueError(
            "merge_branch: the two heads' schemas drifted — parent-"
            f"only columns {only_o}, branch-only {only_t}, retyped "
            f"{retyped}; apply the same additive evolution to both "
            "sides (upsert_rows allow_new_columns=True / "
            "append_versioned) before merging"
        )
    theirs = layout.snapshot_diff(spark, bpath, fork, branch_head, key,
                                  scan=scan)
    ours = layout.snapshot_diff(spark, path, fork, parent_head, key,
                                scan=scan)
    fast_forward = len(ours.take(1)) == 0
    # rebuild both sides' payload structs with ONE field order (the
    # parent head's): snapshot_diff derives struct fields from each
    # side's own mergeSchema read, and a struct comparison across the
    # two would be ill-typed if the orders ever drifted
    payload = [c for c in ours_head.columns if c not in key]

    def _restruct(new_col: str):
        return F.struct(
            *[F.col(new_col).getField(c).alias(c) for c in payload]
        )

    t = theirs.select(
        *key,
        F.col("change").alias("t_change"),
        F.when(F.col("new").isNotNull(), _restruct("new")).alias("t_new"),
    )
    o = ours.select(
        *key,
        F.col("change").alias("o_change"),
        F.when(F.col("new").isNotNull(), _restruct("new")).alias("o_new"),
    )
    # LEFT join: only keys the BRANCH changed can need applying;
    # parent-only changes are already in the parent. Null-safe struct
    # equality makes both-removed (both new NULL) and removed-vs-
    # changed classify correctly in one expression.
    j = (
        t.join(o, on=key, how="left")
        .withColumn(
            "same_final", F.col("t_new").eqNullSafe(F.col("o_new"))
        )
        .withColumn(
            "conflict",
            F.col("o_change").isNotNull() & ~F.col("same_final"),
        )
        .localCheckpoint(eager=True)  # delta-sized; consumed 2-3×
    )
    if on_conflict == "error":
        ex = (
            j.filter("conflict")
            .select(*key, "t_change", "o_change")
            .limit(5)
            .collect()
        )
        if ex:
            shown = "; ".join(
                "(" + ", ".join(f"{k}={r[k]!r}" for k in key) + ") "
                f"branch={r['t_change']} parent={r['o_change']}"
                for r in ex
            )
            raise ValueError(
                f"merge_branch: {name!r} conflicts with the parent "
                f"since v{fork} — e.g. {shown} — resolve on the "
                "branch, or pass on_conflict='ours'/'theirs'"
            )
        n_conflicts = 0
    else:
        n_conflicts = j.filter("conflict").count()
    apply_cond = F.col("o_change").isNull() | (
        F.col("conflict") & F.lit(on_conflict == "theirs")
    )
    op_col = "op" if "op" not in theirs_head.columns else "__merge_op"
    batch = j.filter(apply_cond).select(
        *key,
        F.when(F.col("t_change") == "removed", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias(op_col),
        *[F.col("t_new").getField(c).alias(c) for c in payload],
    )
    res = layout.upsert_rows(
        spark, path, batch, op_col=op_col, partitions=partitions
    )
    version = res["version"]
    if version is not None:
        manifest = read_manifest(path)
        for s in manifest["snapshots"]:
            if s["id"] == version:
                s["merged_from"] = {
                    "branch": name,
                    "fork_version": fork,
                    "branch_head": branch_head,
                    "policy": on_conflict,
                }
        _dump_manifest(path, manifest)
    return {
        "version": version,
        "fork_version": fork,
        "branch_head": branch_head,
        "rows_removed": res["rows_removed"],
        "rows_upserted": res["rows_upserted"],
        "conflicts": n_conflicts,
        "policy": on_conflict,
        "fast_forward": fast_forward,
    }
