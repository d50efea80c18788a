"""Branch/merge invariants (plans/branch.py): zero-copy forks, the
three-way merge's conflict semantics, two-sided vacuum safety, and a
randomized two-lineage differential against a dict model."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from chess_pos_db_spark.plans import branch, layout


def _mk(spark, pairs):
    return spark.createDataFrame(
        sorted(pairs), "k long, v long"
    )


def _state(spark, path):
    return {
        r["k"]: r["v"]
        for r in layout.read_snapshot(spark, path).collect()
    }


def _upsert(spark, path, rows):
    layout.upsert_rows(
        spark, path,
        spark.createDataFrame(
            [(k, v, op) for k, v, op in rows],
            "k long, v long, op string",
        ),
    )


def _seed(spark, tmp_path, name, n=20):
    path = str(tmp_path / name)
    layout.append_versioned(
        _mk(spark, [(k, k * 10) for k in range(n)]), path, ["k"]
    )
    return path


def test_branch_lifecycle_and_merge(spark, tmp_path):
    path = _seed(spark, tmp_path, "store")
    info = branch.create_branch(spark, path, "exp")
    assert info["fork_version"] == 1
    bp = info["path"]
    # zero-copy: the branch dir holds no parquet yet, just a manifest
    assert not any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(bp) for f in fs
    )
    assert _state(spark, bp) == _state(spark, path)
    # diverge: branch updates 0..4 and deletes 10; parent updates 15..19
    _upsert(spark, bp, [(k, 999, "U") for k in range(5)])
    layout.delete_rows(spark, bp, F.col("k") == 10)
    _upsert(spark, path, [(k, -1, "U") for k in range(15, 20)])
    lb = branch.list_branches(path)
    assert lb["exp"]["fork_version"] == 1 and lb["exp"]["local_versions"] == 2
    res = branch.merge_branch(spark, path, "exp")
    assert res["version"] is not None and res["conflicts"] == 0
    assert res["fast_forward"] is False
    expect = {
        k: (999 if k < 5 else (-1 if k >= 15 else k * 10))
        for k in range(20) if k != 10
    }
    assert _state(spark, path) == expect
    # the merge commit is stamped in the manifest
    entry = [
        s for s in layout.read_manifest(path)["snapshots"]
        if s["id"] == res["version"]
    ][0]
    assert entry["merged_from"]["branch"] == "exp"
    assert entry["merged_from"]["fork_version"] == 1
    # parent-side changes never leak INTO the branch
    assert _state(spark, bp)[15] == 150
    # re-merging the already-merged branch applies nothing new
    res2 = branch.merge_branch(spark, path, "exp", on_conflict="ours")
    assert res2["version"] is None or res2["rows_upserted"] == 0
    branch.delete_branch(path, "exp")
    assert branch.list_branches(path) == {}
    assert _state(spark, path) == expect


def test_branch_fast_forward_and_noop(spark, tmp_path):
    path = _seed(spark, tmp_path, "store")
    branch.create_branch(spark, path, "ff")
    bp = branch.branch_path(path, "ff")
    _upsert(spark, bp, [(100, 1, "I")])
    res = branch.merge_branch(spark, path, "ff")
    assert res["fast_forward"] is True and res["version"] is not None
    assert _state(spark, path)[100] == 1
    # a branch with no local commits merges as a no-op
    branch.create_branch(spark, path, "idle")
    res = branch.merge_branch(spark, path, "idle")
    assert res["version"] is None and res["fast_forward"] is None


def test_branch_conflicts_and_policies(spark, tmp_path):
    path = _seed(spark, tmp_path, "store")
    branch.create_branch(spark, path, "c")
    bp = branch.branch_path(path, "c")
    # true conflicts: same key driven to DIFFERENT states
    _upsert(spark, bp, [(3, 111, "U")])          # update vs update
    layout.delete_rows(spark, bp, F.col("k") == 4)  # delete vs update
    _upsert(spark, bp, [(5, 51, "U")])           # update vs delete
    # silent convergence: same value / both deleted
    _upsert(spark, bp, [(6, 66, "U")])
    layout.delete_rows(spark, bp, F.col("k") == 7)
    # branch-only change rides along untouched by conflicts
    _upsert(spark, bp, [(8, 88, "U")])
    _upsert(spark, path, [(3, 222, "U"), (4, 42, "U"), (6, 66, "U")])
    layout.delete_rows(spark, path, F.col("k").isin(5, 7))
    with pytest.raises(ValueError, match="conflicts with the parent"):
        branch.merge_branch(spark, path, "c")
    before = _state(spark, path)
    res = branch.merge_branch(spark, path, "c", on_conflict="ours")
    assert res["conflicts"] == 3
    got = _state(spark, path)
    assert got[3] == 222 and got[4] == 42 and 5 not in got  # ours won
    assert got[6] == 66 and 7 not in got                    # converged
    assert got[8] == 88                                     # applied
    # under 'ours', the ONLY difference vs pre-merge parent state is
    # the conflict-free branch change
    assert {k: v for k, v in got.items() if k != 8} == {
        k: v for k, v in before.items() if k != 8
    }
    res = branch.merge_branch(spark, path, "c", on_conflict="theirs")
    assert res["conflicts"] == 3
    got = _state(spark, path)
    assert got[3] == 111 and 4 not in got and got[5] == 51  # theirs won


def test_branch_guards(spark, tmp_path):
    path = _seed(spark, tmp_path, "store")
    with pytest.raises(ValueError, match="invalid branch name"):
        branch.create_branch(spark, path, "../evil")
    branch.create_branch(spark, path, "a")
    # same-fork re-create is an idempotent repair (crash-retry
    # contract); a collision only raises once the forks differ
    assert branch.create_branch(spark, path, "a")["fork_version"] == 1
    _upsert(spark, path, [(0, 5, "U")])
    with pytest.raises(ValueError, match="already exists"):
        branch.create_branch(spark, path, "a")
    with pytest.raises(ValueError, match="nested branches"):
        branch.create_branch(
            spark, branch.branch_path(path, "a"), "b"
        )
    with pytest.raises(ValueError, match="no snapshot v9"):
        branch.create_branch(spark, path, "c", at_version=9)
    with pytest.raises(ValueError, match="no branch 'ghost'"):
        branch.merge_branch(spark, path, "ghost")
    with pytest.raises(ValueError, match="no branch 'ghost'"):
        branch.delete_branch(path, "ghost")
    with pytest.raises(ValueError, match="unknown on_conflict"):
        branch.merge_branch(spark, path, "a", on_conflict="mine")


def test_branch_merge_refuses_schema_drift_and_breaks(spark, tmp_path):
    # additive drift: branch grew a column the parent lacks
    path = _seed(spark, tmp_path, "s1")
    branch.create_branch(spark, path, "d")
    bp = branch.branch_path(path, "d")
    layout.upsert_rows(
        spark, bp,
        spark.createDataFrame(
            [(1, 11, 5, "U")], "k long, v long, extra long, op string"
        ),
        allow_new_columns=True,
    )
    with pytest.raises(ValueError, match="schemas drifted.*extra"):
        branch.merge_branch(spark, path, "d")
    # schema break after the fork on the PARENT (rekey) refuses
    path2 = _seed(spark, tmp_path, "s2")
    layout.append_versioned(
        spark.createDataFrame([(100, 7, 1)], "k long, v long, b long"),
        path2, ["k"],
    )
    branch.create_branch(spark, path2, "e")
    layout.rekey_store(spark, path2, ["b", "k"])
    with pytest.raises(ValueError, match="schema break.*rekey"):
        branch.merge_branch(spark, path2, "e")
    # and on the BRANCH side too
    path3 = _seed(spark, tmp_path, "s3")
    branch.create_branch(spark, path3, "f")
    layout.evolve_schema(
        spark, branch.branch_path(path3, "f"), renames={"v": "val"}
    )
    with pytest.raises(ValueError, match="branch committed schema break"):
        branch.merge_branch(spark, path3, "f")


def test_branch_fork_after_rekey_uses_new_era_key(spark, tmp_path):
    path = str(tmp_path / "store")
    layout.append_versioned(
        spark.createDataFrame(
            [(k, k + 1000, k * 10) for k in range(10)],
            "a long, b long, v long",
        ),
        path, ["a"],
    )
    layout.rekey_store(spark, path, ["b"])
    info = branch.create_branch(spark, path, "post")
    bman = layout.read_manifest(info["path"])
    assert bman["sort_key"] == ["b"]
    layout.upsert_rows(
        spark, info["path"],
        spark.createDataFrame(
            [(5, 1005, 999, "U")], "a long, b long, v long, op string"
        ),
    )
    res = branch.merge_branch(spark, path, "post")
    assert res["version"] is not None
    got = {
        r["b"]: r["v"] for r in layout.read_snapshot(spark, path).collect()
    }
    assert got[1005] == 999 and got[1004] == 40


def test_branch_vacuum_never_touches_parent_files(spark, tmp_path):
    path = _seed(spark, tmp_path, "store")
    parent_before = _state(spark, path)
    branch.create_branch(spark, path, "w")
    bp = branch.branch_path(path, "w")
    _upsert(spark, bp, [(0, 1, "U")])
    layout.compact_versioned(spark, bp, ["k"], {"v": "max"})
    head = max(s["id"] for s in layout.read_manifest(bp)["snapshots"])
    deleted = layout.expire_snapshots(bp, head)
    # only branch-local paths may die; parent files all survive
    assert all(not d.startswith("..") for d in deleted)
    assert _state(spark, path) == parent_before
    got = _state(spark, bp)
    assert got[0] == 1 and got[1] == 10


def test_parent_vacuum_keeps_branch_fork_alive(spark, tmp_path):
    path = _seed(spark, tmp_path, "store", n=10)
    _upsert(spark, path, [(0, 5, "U")])           # v2
    branch.create_branch(spark, path, "keep", at_version=2)
    bp = branch.branch_path(path, "keep")
    layout.delete_rows(spark, path, F.col("k") < 3)   # v3
    layout.compact_versioned(spark, path, ["k"], {"v": "max"})  # v4
    layout.expire_snapshots(path, 4)
    # the branch still reads its fork state in full
    got = _state(spark, bp)
    assert got[0] == 5 and got[2] == 20 and len(got) == 10
    # branch floor advanced to the fork: below-fork time travel fails
    # with the floor error, not a missing-file surprise
    with pytest.raises(ValueError, match="time travel.*expired"):
        layout.read_snapshot(spark, bp, 1)
    # merge still works across the parent's vacuum
    _upsert(spark, bp, [(9, 99, "U")])
    res = branch.merge_branch(spark, path, "keep")
    assert res["version"] is not None
    assert _state(spark, path)[9] == 99
    # deleting the branch releases the GC root: a re-vacuum reclaims
    branch.delete_branch(path, "keep")
    head = max(s["id"] for s in layout.read_manifest(path)["snapshots"])
    layout.expire_snapshots(path, head)
    ids = {s["id"] for s in layout.read_manifest(path)["snapshots"]}
    assert 1 not in ids


def test_branch_fork_below_additive_evolution_gets_era_schema(
    spark, tmp_path
):
    path = _seed(spark, tmp_path, "store", n=5)
    layout.upsert_rows(
        spark, path,
        spark.createDataFrame(
            [(0, 1, 9, "U")], "k long, v long, extra long, op string"
        ),
        allow_new_columns=True,
    )
    info = branch.create_branch(spark, path, "old", at_version=1)
    import json as _json

    assert "extra" not in [
        f["name"]
        for f in _json.loads(
            layout.read_manifest(info["path"])["schema"]
        )["fields"]
    ]
    assert "extra" not in layout.read_snapshot(spark, info["path"]).columns
    # the branch head lacks the parent's post-fork additive column, so
    # a merge refuses with the drift recipe
    _upsert(spark, info["path"], [(0, 2, "U")])
    with pytest.raises(ValueError, match="schemas drifted"):
        branch.merge_branch(spark, path, "old")


@pytest.mark.slow
def test_branch_remerge_relitigates_from_original_fork(spark, tmp_path):
    """Documented contract: the fork never advances, so re-merging an
    already-merged branch under 'theirs' re-applies the branch value
    over a LATER parent change to the same key (and is a no-op under
    same-final convergence — pinned in the lifecycle test). The recipe
    is delete-after-merge; this pin keeps the behavior intentional."""
    path = _seed(spark, tmp_path, "store", n=6)
    branch.create_branch(spark, path, "r")
    bp = branch.branch_path(path, "r")
    _upsert(spark, bp, [(3, 111, "U")])
    branch.merge_branch(spark, path, "r")
    assert _state(spark, path)[3] == 111
    _upsert(spark, path, [(3, 555, "U")])       # parent moves on
    res = branch.merge_branch(spark, path, "r", on_conflict="theirs")
    assert res["conflicts"] == 1
    assert _state(spark, path)[3] == 111        # branch re-won


def test_branch_is_a_full_store_for_the_changelog(spark, tmp_path):
    """A branch path speaks the CDC surface too: export_changes on the
    branch walks its copied history plus local commits, and
    replay_changelog rebuilds exactly the branch head — divergence on
    the parent stays invisible to the branch's changelog."""
    path = _seed(spark, tmp_path, "store", n=8)
    branch.create_branch(spark, path, "cdc")
    bp = branch.branch_path(path, "cdc")
    _upsert(spark, bp, [(0, 1, "U"), (100, 2, "I")])
    layout.delete_rows(spark, bp, F.col("k") == 3)
    _upsert(spark, path, [(5, 500, "U")])  # parent-side noise
    out = str(tmp_path / "branch_log")
    layout.export_changes(spark, path + "/_branches/cdc", out, ["k"])
    got = {
        r["k"]: r["v"]
        for r in layout.replay_changelog(spark, out, ["k"]).collect()
    }
    assert got == _state(spark, bp)
    assert got[0] == 1 and got[100] == 2 and 3 not in got
    assert got[5] == 50  # the parent's 500 never leaked in


def test_branch_create_and_delete_crash_windows_repair(
    spark, tmp_path, monkeypatch
):
    """Both branch verbs commit in two steps; a crash between them
    must leave a state a plain RETRY repairs. create: branch manifest
    lands, parent fork-pin tag does not → the retried create re-pins
    the tag and returns (and a DIFFERENT-fork create still refuses).
    delete: the dir is gone, the tag leaks → the retried delete
    releases it; only a never-existed branch raises."""
    from chess_pos_db_spark.plans import branch as br

    path = _seed(spark, tmp_path, "store")
    # -- create crash: die after the branch-manifest commit
    real_dump = br._dump_manifest
    calls = {"n": 0}

    def dying_dump(p, m, filename=layout.MANIFEST_NAME):
        calls["n"] += 1
        if calls["n"] == 2:  # second dump = the parent tag pin
            raise RuntimeError("crash before the fork-pin tag")
        return real_dump(p, m, filename)

    monkeypatch.setattr(br, "_dump_manifest", dying_dump)
    with pytest.raises(RuntimeError, match="crash before"):
        branch.create_branch(spark, path, "cw")
    monkeypatch.setattr(br, "_dump_manifest", real_dump)
    assert "__branch_cw" not in layout.read_manifest(path).get("tags", {})
    info = branch.create_branch(spark, path, "cw")  # retry repairs
    assert info["fork_version"] == 1
    assert layout.read_manifest(path)["tags"]["__branch_cw"] == 1
    # same-fork retry is idempotent; a different fork still collides
    assert branch.create_branch(spark, path, "cw")["fork_version"] == 1
    _upsert(spark, path, [(0, 5, "U")])  # v2: head moves past the fork
    with pytest.raises(ValueError, match="already exists"):
        branch.create_branch(spark, path, "cw")
    # -- delete crash: dir removed, tag leaked
    real_rm = br.shutil.rmtree

    def dying_rm(p, *a, **k):
        real_rm(p, *a, **k)
        raise RuntimeError("crash after rmtree")

    monkeypatch.setattr(br.shutil, "rmtree", dying_rm)
    with pytest.raises(RuntimeError, match="crash after rmtree"):
        branch.delete_branch(path, "cw")
    monkeypatch.setattr(br.shutil, "rmtree", real_rm)
    assert "__branch_cw" in layout.read_manifest(path)["tags"]
    branch.delete_branch(path, "cw")  # retry releases the leaked tag
    assert "__branch_cw" not in layout.read_manifest(path).get("tags", {})
    with pytest.raises(ValueError, match="no branch 'cw'"):
        branch.delete_branch(path, "cw")


@pytest.mark.slow
def test_branch_randomized_two_lineage_differential(spark, tmp_path):
    """Seeded random divergence on both lineages, then merge under
    'theirs' and 'ours', each compared against the dict-model
    three-way rule: unchanged side yields to the changed side,
    identical finals converge, true conflicts go to the policy."""
    import random

    for seed in range(4):
        rng = random.Random(4200 + seed)
        path = str(tmp_path / f"rb_{seed}")
        base_keys = rng.sample(range(60), 25)
        model = {k: k * 10 for k in base_keys}
        layout.append_versioned(
            _mk(spark, list(model.items())), path, ["k"]
        )
        base = dict(model)
        branch.create_branch(spark, path, "x")
        bp = branch.branch_path(path, "x")
        ours, theirs = dict(model), dict(model)

        def rand_ops(target_path, m, tag):
            for _ in range(rng.randint(1, 3)):
                op = rng.choice(["upsert", "insert", "delete"])
                if op == "upsert" and m:
                    ks = rng.sample(sorted(m), min(3, len(m)))
                    for k in ks:
                        m[k] = m[k] + rng.randint(1, 9) * (
                            1 if tag == "o" else 100
                        )
                    _upsert(
                        spark, target_path,
                        [(k, m[k], "U") for k in ks],
                    )
                elif op == "insert":
                    ks = [
                        k for k in rng.sample(range(100, 160), 3)
                        if k not in m
                    ]
                    for k in ks:
                        m[k] = k + (7 if tag == "o" else 70000)
                    if ks:
                        _upsert(
                            spark, target_path,
                            [(k, m[k], "I") for k in ks],
                        )
                else:
                    if not m:
                        continue
                    ks = rng.sample(sorted(m), min(2, len(m)))
                    for k in ks:
                        m.pop(k)
                    layout.delete_rows(
                        spark, target_path,
                        F.col("k").isin(*ks),
                    )

        rand_ops(path, ours, "o")
        rand_ops(bp, theirs, "t")
        # half the seeds also compact + vacuum the PARENT mid-
        # divergence: the merge base must stay readable via the
        # branch's GC root and the parent's latest file list must
        # stay exact (the round-13 resurrection regression)
        if seed % 2 == 0:
            layout.compact_versioned(spark, path, ["k"], {"v": "max"})
            head = max(
                s["id"] for s in layout.read_manifest(path)["snapshots"]
            )
            layout.expire_snapshots(path, head)
            assert _state(spark, path) == ours, f"seed {seed} vacuum"

        def model_merge(policy):
            out = {}
            for k in set(base) | set(ours) | set(theirs):
                b, o, t = base.get(k), ours.get(k), theirs.get(k)
                if t == b:            # branch untouched → parent wins
                    r = o
                elif o == b:          # parent untouched → branch wins
                    r = t
                elif o == t:          # converged
                    r = o
                else:                 # conflict
                    r = t if policy == "theirs" else o
                if r is not None:
                    out[k] = r
            return out

        n_conf = sum(
            1
            for k in set(base) | set(ours) | set(theirs)
            if theirs.get(k) != base.get(k)
            and ours.get(k) != base.get(k)
            and ours.get(k) != theirs.get(k)
        )
        res = branch.merge_branch(
            spark, path, "x", on_conflict="theirs"
        )
        assert res["conflicts"] == n_conf, f"seed {seed}"
        assert _state(spark, path) == model_merge("theirs"), (
            f"seed {seed} theirs"
        )
        # replay the SAME divergence under 'ours' on a fresh store
        path2 = str(tmp_path / f"rb_{seed}_ours")
        layout.append_versioned(
            _mk(spark, list(base.items())), path2, ["k"]
        )
        branch.create_branch(spark, path2, "x")
        bp2 = branch.branch_path(path2, "x")
        for m, p in ((ours, path2), (theirs, bp2)):
            batch = [
                (k, m[k], "U") for k in m
                if base.get(k) != m[k]
            ]
            if batch:
                _upsert(spark, p, batch)
            gone = [k for k in base if k not in m]
            if gone:
                layout.delete_rows(spark, p, F.col("k").isin(*gone))
        res = branch.merge_branch(spark, path2, "x", on_conflict="ours")
        assert res["conflicts"] == n_conf, f"seed {seed} ours count"
        assert _state(spark, path2) == model_merge("ours"), (
            f"seed {seed} ours"
        )


@pytest.mark.slow
def test_branch_interleaved_store_lifecycle_randomized(spark, tmp_path):
    """Cross-feature randomized differential: the branch lifecycle
    interleaved with the FULL parent verb set (append / upsert /
    delete / compact / vacuum) against a dict model. At most one live
    branch at a time; diverge ops hit the branch while parent verbs
    keep mutating the parent; merges fold back under 'theirs'
    (model: changed-side wins, both-changed goes to the branch);
    vacuum mid-branch must keep the fork alive (GC root) and the
    chain-fold must keep the live set exact. Live state equals the
    model after EVERY step on both lineages."""
    import random

    for seed in range(4):
        rng = random.Random(9100 + seed)
        path = str(tmp_path / f"ib_{seed}")
        parent = {k: k * 10 for k in rng.sample(range(80), 20)}
        layout.append_versioned(_mk(spark, list(parent.items())), path, ["k"])
        bmodel = None  # (name, base_dict, branch_dict)
        nxt = [1000]

        def fresh():
            nxt[0] += 1
            return nxt[0]

        for step in range(10):
            ops = ["append", "upsert", "delete", "compact", "vacuum"]
            ops.append("bcreate" if bmodel is None else
                       rng.choice(["bdiverge", "bmerge", "bdrop"]))
            op = rng.choice(ops)
            if op == "append":
                ks = [k for k in rng.sample(range(200, 260), 3)
                      if k not in parent]
                if ks:
                    for k in ks:
                        parent[k] = fresh()
                    layout.append_versioned(
                        _mk(spark, [(k, parent[k]) for k in ks]),
                        path, ["k"],
                    )
            elif op == "upsert" and parent:
                ks = rng.sample(sorted(parent), min(3, len(parent)))
                for k in ks:
                    parent[k] = fresh()
                _upsert(spark, path, [(k, parent[k], "U") for k in ks])
            elif op == "delete" and parent:
                m = rng.choice([5, 7])
                layout.delete_rows(spark, path, f"k % {m} = 1")
                for k in [k for k in parent if k % m == 1]:
                    parent.pop(k)
            elif op == "compact":
                layout.compact_versioned(spark, path, ["k"], {"v": "max"})
            elif op == "vacuum":
                head = max(
                    s["id"]
                    for s in layout.read_manifest(path)["snapshots"]
                )
                layout.expire_snapshots(path, head)
            elif op == "bcreate":
                branch.create_branch(spark, path, "x")
                bmodel = ("x", dict(parent), dict(parent))
            elif op == "bdiverge":
                name, base, bd = bmodel
                bp = branch.branch_path(path, name)
                if rng.random() < 0.5 and bd:
                    ks = rng.sample(sorted(bd), min(2, len(bd)))
                    for k in ks:
                        bd[k] = fresh() + 50000
                    _upsert(spark, bp, [(k, bd[k], "U") for k in ks])
                elif bd:
                    ks = rng.sample(sorted(bd), min(2, len(bd)))
                    for k in ks:
                        bd.pop(k)
                    layout.delete_rows(spark, bp, F.col("k").isin(*ks))
            elif op == "bmerge":
                name, base, bd = bmodel
                branch.merge_branch(spark, path, name,
                                    on_conflict="theirs")
                merged = {}
                for k in set(base) | set(parent) | set(bd):
                    b, o, tv = base.get(k), parent.get(k), bd.get(k)
                    r = o if tv == b else (tv if o == b else
                                           (o if o == tv else tv))
                    if r is not None:
                        merged[k] = r
                parent.clear()
                parent.update(merged)
                branch.delete_branch(path, name)
                bmodel = None
            else:  # bdrop
                branch.delete_branch(path, bmodel[0])
                bmodel = None
            assert _state(spark, path) == parent, (
                f"seed {seed} step {step} op {op} (parent)"
            )
            if bmodel is not None:
                got = _state(spark, branch.branch_path(path, bmodel[0]))
                assert got == bmodel[2], (
                    f"seed {seed} step {step} op {op} (branch)"
                )
        if bmodel is not None:
            branch.delete_branch(path, bmodel[0])
