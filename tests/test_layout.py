"""Layout/compaction job invariants (SURVEY.md §5.2.3):
union-then-agg over runs ≡ direct aggregation of the full input, and
the compacted output is key-clustered with a readable manifest."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from chess_pos_db_spark.plans import layout
from chess_pos_db_spark.tables import t


@pytest.fixture(scope="module")
def entries(spark, sf_dir):
    # lineitem plays the entries fact: (partkey, returnflag) ≈
    # (pos_key, result); pre-aggregate per run like the import buffer.
    return t(spark, sf_dir, "lineitem")


def _agg(df):
    return df.groupBy("l_partkey", "l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.min("l_orderkey").alias("first_id"),
        F.max("l_orderkey").alias("last_id"),
    )


def test_compaction_equals_direct_agg(spark, entries, tmp_path):
    half1 = entries.filter(F.col("l_orderkey") % 2 == 0)
    half2 = entries.filter(F.col("l_orderkey") % 2 == 1)
    run1, run2 = str(tmp_path / "run1"), str(tmp_path / "run2")
    out = str(tmp_path / "compacted")

    layout.write_sorted_run(_agg(half1), run1, key=["l_partkey", "l_returnflag"])
    layout.write_sorted_run(_agg(half2), run2, key=["l_partkey", "l_returnflag"])

    compacted = layout.compact_runs(
        spark,
        [run1, run2],
        out,
        key=["l_partkey", "l_returnflag"],
        agg_spec={"cnt": "sum", "first_id": "min", "last_id": "max"},
        partitions=4,
    )
    direct = _agg(entries)

    got = {tuple(r) for r in compacted.collect()}
    want = {tuple(r) for r in direct.collect()}
    assert got == want


def test_manifest_roundtrip(spark, entries, tmp_path):
    path = str(tmp_path / "run")
    layout.write_sorted_run(_agg(entries), path, key=["l_partkey", "l_returnflag"])
    m = layout.read_manifest(path)
    assert m["format"] == layout.FORMAT_NAME
    assert m["sort_key"] == ["l_partkey", "l_returnflag"]


def test_sorted_run_is_key_clustered(spark, entries, tmp_path):
    """Each parquet file of a sorted run covers a disjoint-ish key range
    (range partitioning), and rows inside a partition are key-sorted —
    the property that makes row-group stats act as the sparse index."""
    path = str(tmp_path / "run")
    layout.write_sorted_run(_agg(entries), path, key=["l_partkey"], partitions=4)
    df = spark.read.parquet(path)

    # within-file sortedness: compare per-input-file row order vs sorted.
    seq = df.select(
        "l_partkey", F.input_file_name().alias("f"), F.monotonically_increasing_id().alias("i")
    )
    rows = seq.collect()
    by_file: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: r["i"]):
        by_file.setdefault(r["f"], []).append(r["l_partkey"])
    assert by_file, "no files written"
    for keys in by_file.values():
        assert keys == sorted(keys)


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order on (l_orderkey, l_partkey) must cluster FILE min/max
    stats on BOTH columns — a narrow range predicate on either one can
    skip most files — while a linear sort clusters only its leading
    column (the partkey stats span everything, nothing prunable)."""
    from chess_pos_db_spark.tables import t as load

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    zpath = str(tmp_path / "z")
    spath = str(tmp_path / "s")
    layout.write_zorder_run(li, zpath, ["l_orderkey", "l_partkey"], partitions=16)
    layout.write_sorted_run(li, spath, ["l_orderkey"], partitions=16)

    import glob

    def overlap_fraction(path, col, lo, hi):
        files = glob.glob(f"{path}/part-*.parquet")
        assert len(files) >= 8, files
        touched = 0
        for f in files:
            mn, mx = (
                spark.read.parquet(f)
                .agg(F.min(col), F.max(col))
                .first()
            )
            if mx >= lo and mn <= hi:
                touched += 1
        return touched / len(files)

    ok_mn, ok_mx = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    pk_mn, pk_mx = li.agg(F.min("l_partkey"), F.max("l_partkey")).first()
    ok_window = (ok_mn, ok_mn + (ok_mx - ok_mn) // 16)
    pk_window = (pk_mn, pk_mn + (pk_mx - pk_mn) // 16)

    # z-order: a 1/16th range on EITHER dimension skips >= ~40% of files
    assert overlap_fraction(zpath, "l_orderkey", *ok_window) <= 0.6
    assert overlap_fraction(zpath, "l_partkey", *pk_window) <= 0.6
    # linear sort: leading column prunes hard, the other not at all
    assert overlap_fraction(spath, "l_orderkey", *ok_window) <= 0.25
    assert overlap_fraction(spath, "l_partkey", *pk_window) >= 0.9


def test_zorder_many_columns_and_empty_input(spark, sf_dir, tmp_path):
    """4 columns at the default 16 bits must clamp below the sign bit
    (keys stay non-negative), and an empty input writes an empty
    dataset instead of raising."""
    from chess_pos_db_spark.tables import t as load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"
    )
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
    z = layout.zorder_column(li, cols)
    mn = li.select(F.min(z).alias("m")).first()["m"]
    assert mn is not None and mn >= 0

    empty = li.filter(F.lit(False))
    path = str(tmp_path / "zempty")
    layout.write_zorder_run(empty, path, cols, partitions=4)
    assert spark.read.parquet(path).count() == 0


def test_entries_storage_density(spark, tmp_path):
    """Storage-density gate (BASELINE.md: the reference's hand-packed
    formats are ~16-32 B/position entry): our snappy-Parquet
    agg_entries must land in the same decade — < 96 encoded bytes per
    stored entry row on a real (generated) corpus, parquet footers
    included."""
    import glob
    import os
    import sys

    sys.path.insert(0, "/root/repo")
    from bench_import import make_corpus
    from chess_pos_db_spark.chess import importer

    src = tmp_path / "pgns"
    src.mkdir()
    files = make_corpus(4, 128, str(src))
    db = str(tmp_path / "db")
    importer.import_pgn(spark, [(f, "human") for f in files], db)
    entries = spark.read.parquet(f"{db}/entries")
    n = entries.count()
    nbytes = sum(
        os.path.getsize(p) for p in glob.glob(f"{db}/entries/*.parquet")
    )
    assert n > 1000
    density = nbytes / n
    assert density < 96, (density, n, nbytes)


def test_zonemap_prunes_files_and_stays_exact(spark, sf_dir, tmp_path):
    """File-level zone-map pruning: a narrow key probe must read a
    small fraction of the run's files driver-side (before Spark ever
    lists them) and still return exactly the full-scan answer."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = str(tmp_path / "orders_run")
    layout.write_sorted_run_with_zonemap(
        orders, path, ["o_orderkey"], partitions=16
    )
    lo, hi = 100, 200
    df, files_read, files_total = layout.read_run_pruned(spark, path, lo, hi)
    expected = sorted(
        tuple(r) for r in orders.filter(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
        ).collect()
    )
    got = sorted(tuple(r) for r in df.collect())
    assert got == expected
    assert files_total >= 8  # the run actually split into many files
    # range-clustered write → a 100-key probe touches O(1) of them
    assert files_read <= max(2, files_total // 4), (files_read, files_total)


def test_zonemap_empty_probe_reads_zero_files(spark, sf_dir, tmp_path):
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = str(tmp_path / "orders_run2")
    layout.write_sorted_run_with_zonemap(
        orders, path, ["o_orderkey"], partitions=8
    )
    df, files_read, _ = layout.read_run_pruned(spark, path, -50, -1)
    assert files_read == 0
    assert df.count() == 0


def test_versioned_snapshots_time_travel_and_compaction(spark, tmp_path):
    """Append → snapshot ids; read_snapshot(v) reproduces history;
    compaction supersedes prior versions atomically but time travel
    before the compaction point still sees the uncompacted state;
    appends after compaction stack on top of it."""
    path = str(tmp_path / "versioned")
    mk = lambda rows: spark.createDataFrame(rows, "k long, cnt long")
    v1 = layout.append_versioned(mk([(1, 1), (2, 1)]), path, ["k"])
    v2 = layout.append_versioned(mk([(1, 5), (3, 1)]), path, ["k"])
    assert (v1, v2) == (1, 2)

    snap1 = {(r["k"], r["cnt"]) for r in layout.read_snapshot(spark, path, 1).collect()}
    assert snap1 == {(1, 1), (2, 1)}
    latest = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert latest == [(1, 1), (1, 5), (2, 1), (3, 1)]

    v3 = layout.compact_versioned(spark, path, ["k"], {"cnt": "sum"})
    compacted = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert compacted == [(1, 6), (2, 1), (3, 1)]
    # time travel to BEFORE the compaction: raw appends, not merged rows
    pre = sorted(tuple(r) for r in layout.read_snapshot(spark, path, 2).collect())
    assert pre == [(1, 1), (1, 5), (2, 1), (3, 1)]

    v4 = layout.append_versioned(mk([(1, 100)]), path, ["k"])
    assert (v3, v4) == (3, 4)
    after = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert after == [(1, 6), (1, 100), (2, 1), (3, 1)]
    # and compacting again folds the post-compaction append in
    layout.compact_versioned(spark, path, ["k"], {"cnt": "sum"})
    final = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert final == [(1, 106), (2, 1), (3, 1)]


def test_expire_snapshots_vacuum(spark, tmp_path):
    """Vacuum drops exactly the files only pre-compaction history kept
    alive: latest state unchanged, expired time travel fails loudly,
    post-floor history still works."""
    import os

    path = str(tmp_path / "vacuum")
    df1 = spark.createDataFrame([(1, 10), (2, 20)], "k long, cnt long")
    df2 = spark.createDataFrame([(1, 5), (3, 30)], "k long, cnt long")
    assert layout.append_versioned(df1, path, key=["k"]) == 1
    assert layout.append_versioned(df2, path, key=["k"]) == 2
    v3 = layout.compact_versioned(spark, path, key=["k"], agg_spec={"cnt": "sum"})
    assert v3 == 3
    before = sorted(
        tuple(r) for r in layout.read_snapshot(spark, path).collect()
    )

    deleted = layout.expire_snapshots(path, before=v3)
    assert sorted(deleted) == ["v1", "v2"]
    assert not os.path.isdir(os.path.join(path, "v1"))
    assert os.path.isdir(os.path.join(path, "v3"))

    # latest state is untouched
    after = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert after == before == [(1, 15), (2, 20), (3, 30)]

    # expired history fails loudly, post-floor history still resolves
    with pytest.raises(ValueError, match="expired"):
        layout.read_snapshot(spark, path, 2)
    still = sorted(tuple(r) for r in layout.read_snapshot(spark, path, 3).collect())
    assert still == after

    # appends continue normally after a vacuum
    v4 = layout.append_versioned(
        spark.createDataFrame([(9, 1)], "k long, cnt long"), path, key=["k"]
    )
    assert v4 == 4
    final = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert final == [(1, 15), (2, 20), (3, 30), (9, 1)]


def test_snapshot_additive_schema_evolution(spark, tmp_path):
    """A later snapshot adds a column; history reads as NULL for it,
    compaction carries it, nothing is rewritten."""
    path = str(tmp_path / "evolve")
    v1 = spark.createDataFrame([(1, 10)], "k long, cnt long")
    v2 = spark.createDataFrame(
        [(2, 20, "s1")], "k long, cnt long, source string"
    )
    layout.append_versioned(v1, path, key=["k"])
    layout.append_versioned(v2, path, key=["k"])

    latest = layout.read_snapshot(spark, path)
    assert set(latest.columns) == {"k", "cnt", "source"}
    got = {r["k"]: (r["cnt"], r["source"]) for r in latest.collect()}
    assert got == {1: (10, None), 2: (20, "s1")}

    # time travel to v1 still resolves (schema is the union, values null)
    old = layout.read_snapshot(spark, path, 1)
    assert {r["k"] for r in old.collect()} == {1}


def test_snapshot_diff(spark, tmp_path):
    """Diff across append+compact: added, removed (via full retraction
    pattern: compaction output drops nothing here, so craft with two
    appends), and changed keys all classified."""
    path = str(tmp_path / "diff")
    layout.append_versioned(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, cnt long"),
        path, key=["k"],
    )
    layout.append_versioned(
        spark.createDataFrame([(2, 5), (3, 30)], "k long, cnt long"),
        path, key=["k"],
    )
    v3 = layout.compact_versioned(
        spark, path, key=["k"], agg_spec={"cnt": "sum"}
    )
    d = {
        r["k"]: (r["change"], r["old"], r["new"])
        for r in layout.snapshot_diff(spark, path, 1, v3, ["k"]).collect()
    }
    assert d[2][0] == "changed" and d[2][1]["cnt"] == 20 and d[2][2]["cnt"] == 25
    assert d[3][0] == "added"
    assert 1 not in d  # unchanged keys are excluded


def test_zstd_codec_density_improvement(spark, sf_dir, tmp_path):
    """Cold-storage codec option: the same sorted run written zstd must
    be SMALLER than snappy (zstd wins on text-light fixed-width rows
    too) while reading back identically — the compaction job's
    hot-tier/cold-tier knob, one write option, no layout change."""
    import glob
    import os

    from chess_pos_db_spark.tables import t

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )

    def write(codec, path):
        (
            li.repartitionByRange(4, "l_orderkey")
            .sortWithinPartitions("l_orderkey")
            .write.option("compression", codec)
            .mode("overwrite")
            .parquet(path)
        )
        return sum(
            os.path.getsize(p) for p in glob.glob(f"{path}/*.parquet")
        )

    snappy = write("snappy", str(tmp_path / "snappy"))
    zstd = write("zstd", str(tmp_path / "zstd"))
    assert zstd < snappy, (zstd, snappy)
    back = spark.read.parquet(str(tmp_path / "zstd"))
    assert back.count() == li.count()


def test_zonemap_prunes_date_keys(spark, sf_dir, tmp_path):
    """Zone-map bounds round-trip through JSON as strings for date
    keys; read_run_pruned must coerce them back and prune instead of
    raising TypeError on str-vs-date comparison."""
    import datetime

    # timestamp key (the fixture's native o_orderdate type)
    path = str(tmp_path / "ts_run")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    layout.write_sorted_run_with_zonemap(
        orders, path, key=["o_orderdate"], partitions=8
    )
    lo = datetime.datetime(1995, 7, 1)
    hi = datetime.datetime(1995, 12, 31)
    df, read, total = layout.read_run_pruned(spark, path, lo, hi)
    want = orders.filter(
        (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") <= F.lit(hi))
    )
    assert df.count() == want.count() > 0
    assert read < total  # pruning engaged, not just filtered

    # DATE key (pyarrow stats surface as datetime — the narrow branch)
    dpath = str(tmp_path / "date_run")
    dated = orders.withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
    layout.write_sorted_run_with_zonemap(
        dated, dpath, key=["o_orderdate"], partitions=8
    )
    dlo, dhi = datetime.date(1995, 7, 1), datetime.date(1995, 12, 31)
    ddf, dread, dtotal = layout.read_run_pruned(spark, dpath, dlo, dhi)
    dwant = dated.filter(
        (F.col("o_orderdate") >= F.lit(dlo))
        & (F.col("o_orderdate") <= F.lit(dhi))
    )
    assert ddf.count() == dwant.count() > 0
    assert dread < dtotal


def test_expire_vacuum_keeps_supersedes_chain_for_gc_roots(
    spark, tmp_path
):
    """Regression (round 13, found by the branch-vacuum test): a
    GC-rooted snapshot (tag or branch fork) can be OLDER than an
    expired link in the supersedes chain that killed it. Tag v1,
    upsert to v2 (supersedes 1), compact to v3 (supersedes 2), expire
    to v3: dropping v2's manifest entry erased "1 is dead" and the
    latest live set became {v1, v3} — every pre-upsert row silently
    RESURRECTED next to its replacement. expire_snapshots now folds
    doomed entries' supersedes transitively into their kept
    superseders."""
    path = str(tmp_path / "chain_store")
    layout.append_versioned(
        spark.createDataFrame(
            [(k, k * 10) for k in range(6)], "k long, v long"
        ),
        path, ["k"],
    )
    layout.tag_snapshot(path, "base", version=1)
    layout.upsert_rows(
        spark, path,
        spark.createDataFrame([(0, 1, "U")], "k long, v long, op string"),
    )
    v3 = layout.compact_versioned(spark, path, ["k"], {"v": "max"})
    layout.expire_snapshots(path, before=v3)
    got = sorted(
        (r["k"], r["v"])
        for r in layout.read_snapshot(spark, path).collect()
    )
    assert got == [(0, 1)] + [(k, k * 10) for k in range(1, 6)]
    # the tagged base still answers its own state exactly
    assert sorted(
        (r["k"], r["v"])
        for r in layout.read_snapshot(spark, path, tag="base").collect()
    ) == [(k, k * 10) for k in range(6)]
    # and a THREE-link doomed chain folds transitively
    layout.upsert_rows(
        spark, path,
        spark.createDataFrame([(1, 2, "U")], "k long, v long, op string"),
    )
    layout.upsert_rows(
        spark, path,
        spark.createDataFrame([(2, 3, "U")], "k long, v long, op string"),
    )
    v6 = layout.compact_versioned(spark, path, ["k"], {"v": "max"})
    layout.expire_snapshots(path, before=v6)
    got = sorted(
        (r["k"], r["v"])
        for r in layout.read_snapshot(spark, path).collect()
    )
    assert got == [(0, 1), (1, 2), (2, 3)] + [
        (k, k * 10) for k in range(3, 6)
    ]


def test_expire_snapshots_floor_never_regresses(spark, sf_dir, tmp_path):
    """A later expire with a SMALLER `before` must not lower the
    time-travel floor — that would let read_snapshot silently return
    partial history whose files were already deleted."""
    import pytest

    path = str(tmp_path / "vstore")
    ev = t(spark, sf_dir, "events").select("user_id", "value").limit(50)
    for i in range(3):
        layout.append_versioned(ev, path, key=["user_id"])
    layout.compact_versioned(
        spark, path, key=["user_id"], agg_spec={"value": "sum"}
    )
    layout.expire_snapshots(path, before=4)
    assert layout.read_manifest(path)["min_time_travel"] == 4
    layout.expire_snapshots(path, before=2)  # must NOT regress
    assert layout.read_manifest(path)["min_time_travel"] == 4
    with pytest.raises(ValueError, match="expired"):
        layout.read_snapshot(spark, path, 2)


def test_snapshot_diff_sees_added_columns(spark, sf_dir, tmp_path):
    """Additive schema evolution: a column that exists only in v_to
    must surface in the diff (and the reverse diff must not crash)."""
    path = str(tmp_path / "evolve")
    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k long, a double"
    )
    layout.append_versioned(base, path, key=["k"])
    evolved = spark.createDataFrame(
        [(3, 30.0, "x")], "k long, a double, b string"
    )
    layout.append_versioned(evolved, path, key=["k"])
    d = layout.snapshot_diff(spark, path, 1, 2, key=["k"])
    rows = {r["k"]: r for r in d.collect()}
    assert rows[3]["change"] == "added"
    assert rows[3]["new"]["b"] == "x"  # the evolved column is visible
    rev = layout.snapshot_diff(spark, path, 2, 1, key=["k"])  # no crash
    assert {r["k"]: r["change"] for r in rev.collect()} == {3: "removed"}


def test_manifest_write_is_atomic_replace(spark, sf_dir, tmp_path):
    """The manifest writer must go through tmp + os.replace so a
    concurrent reader never loads a truncated document: after any
    append the manifest parses and no orphan tmp file remains."""
    import os

    path = str(tmp_path / "atomic")
    ev = t(spark, sf_dir, "events").select("user_id", "value").limit(20)
    layout.append_versioned(ev, path, key=["user_id"])
    layout.append_versioned(ev, path, key=["user_id"])
    assert layout.read_manifest(path)["snapshots"]
    assert not os.path.exists(
        os.path.join(path, layout.MANIFEST_NAME + ".tmp")
    )


def test_expire_snapshots_floor_clamps_to_latest(spark, tmp_path):
    """Vacuum with `before` PAST the latest snapshot (the natural
    "expire everything older than now" call) keeps every file of the
    final live state — so an explicit-version read of that state must
    stay legal: the time-travel floor clamps to the latest id instead
    of bricking a fully live, undeleted snapshot."""
    path = str(tmp_path / "clamp")
    layout.append_versioned(
        spark.createDataFrame([(1, 10)], "k long, cnt long"), path, key=["k"]
    )
    layout.append_versioned(
        spark.createDataFrame([(2, 20)], "k long, cnt long"), path, key=["k"]
    )
    v3 = layout.compact_versioned(
        spark, path, key=["k"], agg_spec={"cnt": "sum"}
    )

    layout.expire_snapshots(path, before=v3 + 5)
    got = sorted(
        tuple(r) for r in layout.read_snapshot(spark, path, v3).collect()
    )
    assert got == [(1, 10), (2, 20)]
    assert layout.read_manifest(path)["min_time_travel"] == v3


def test_compact_empty_inputs_fail_loudly(spark, tmp_path):
    """Zero input runs / zero snapshots are caller errors and must say
    so, not die with a bare IndexError/ValueError from max()."""
    with pytest.raises(ValueError, match="no run paths"):
        layout.compact_runs(
            spark, [], str(tmp_path / "out"), ["k"], {"cnt": "sum"}
        )


def test_versioned_append_crash_before_manifest_commit_replays(
    spark, tmp_path, monkeypatch
):
    """The manifest write is append_versioned's commit point: a crash
    after the vN/ data write but before it leaves the new files
    INVISIBLE (readers see the prior snapshot), and a replayed append
    reuses the same version id, overwriting the orphan directory — no
    duplicate snapshot, no torn state."""
    import pytest

    path = str(tmp_path / "versioned_crash")
    mk = lambda rows: spark.createDataFrame(rows, "k long, cnt long")
    layout.append_versioned(mk([(1, 1)]), path, ["k"])

    real = layout._dump_manifest

    def dying(*a, **kw):
        raise RuntimeError("simulated crash before the manifest commit")

    monkeypatch.setattr(layout, "_dump_manifest", dying)
    with pytest.raises(RuntimeError, match="simulated crash"):
        layout.append_versioned(mk([(2, 7)]), path, ["k"])
    monkeypatch.setattr(layout, "_dump_manifest", real)

    # uncommitted: the latest snapshot is still v1's content
    latest = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert latest == [(1, 1)]

    # replay lands as the SAME version id, overwriting the orphan dir
    v = layout.append_versioned(mk([(2, 7)]), path, ["k"])
    assert v == 2
    after = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert after == [(1, 1), (2, 7)]


def test_delete_rows_targeted_rewrite(spark, tmp_path):
    """delete_rows removes exactly the matching rows, rewrites ONLY the
    touched files (untouched live files carry by reference), keeps
    pre-delete time travel intact, and expire_snapshots afterwards
    removes the superseded copies while preserving every file the
    delete snapshot still references."""
    import os

    path = str(tmp_path / "del_store")
    mk = lambda rows: spark.createDataFrame(rows, "k long, cnt long")
    # two appends with disjoint key ranges → v1 files never contain
    # k >= 100, so a delete targeting v2's range must not rewrite v1
    layout.append_versioned(
        mk([(i, i * 10) for i in range(8)]), path, ["k"], partitions=2
    )
    layout.append_versioned(
        mk([(100 + i, i) for i in range(8)]), path, ["k"], partitions=2
    )

    res = layout.delete_rows(spark, path, "k >= 100 AND k % 2 = 0")
    assert res["version"] == 3
    assert res["rows_deleted"] == 4
    # only v2's files are touched; v1's carry by reference
    assert 0 < res["files_rewritten"] < res["files_total"]
    entry = [
        s for s in layout.read_manifest(path)["snapshots"] if s["id"] == 3
    ][0]
    assert entry["files"] and all(f.startswith("v1/") for f in entry["files"])

    latest = sorted(r["k"] for r in layout.read_snapshot(spark, path).collect())
    assert latest == list(range(8)) + [101, 103, 105, 107]
    # pre-delete history still shows the deleted rows
    pre = sorted(r["k"] for r in layout.read_snapshot(spark, path, 2).collect())
    assert pre == list(range(8)) + list(range(100, 108))

    # vacuum to the delete point: v2's superseded copies go, v1 files
    # survive because the delete snapshot references them
    deleted = layout.expire_snapshots(path, before=3)
    assert any(d.startswith("v2") for d in deleted)
    assert os.path.isdir(os.path.join(path, "v1"))
    after = sorted(r["k"] for r in layout.read_snapshot(spark, path).collect())
    assert after == latest


def test_expire_snapshots_sweeps_orphaned_delete_references(spark, tmp_path):
    """Staged expiry must not leak files. After an owner snapshot (v1)
    is expired, its surviving files live in a dir owned by NO manifest
    entry, kept alive only by a delete snapshot's `files` references.
    When that delete snapshot is itself superseded and expired later,
    its references are the last owner — expire must unlink them and
    remove the emptied orphan dir, not just the delete snapshot's own
    dirs (the disk-leak case: no later pass would ever visit v1)."""
    import os

    path = str(tmp_path / "del_staged")
    mk = lambda rows: spark.createDataFrame(rows, "k long, cnt long")
    layout.append_versioned(
        mk([(i, i * 10) for i in range(8)]), path, ["k"], partitions=2
    )
    layout.append_versioned(
        mk([(100 + i, i) for i in range(8)]), path, ["k"], partitions=2
    )
    # v3: delete touches only v2's files → v3 carries v1's files by
    # reference
    layout.delete_rows(spark, path, "k >= 100 AND k % 2 = 0")
    layout.expire_snapshots(path, before=3)
    assert os.path.isdir(os.path.join(path, "v1"))
    assert not any(
        "v1" in s["dirs"] for s in layout.read_manifest(path)["snapshots"]
    )
    # v4: delete touches ALL of v1's files (evens live in both range
    # files) → v4 references none of them; v3 becomes superseded
    layout.delete_rows(spark, path, "k < 8 AND k % 2 = 0")
    want = sorted(r["k"] for r in layout.read_snapshot(spark, path).collect())
    deleted = layout.expire_snapshots(path, before=4)
    # the orphan dir's files were the doomed delete snapshot's last
    # references — swept, dir removed, reads unchanged
    assert not os.path.isdir(os.path.join(path, "v1"))
    assert any(d.startswith("v1") for d in deleted)
    got = sorted(r["k"] for r in layout.read_snapshot(spark, path).collect())
    assert got == want == [1, 3, 5, 7, 101, 103, 105, 107]
    # no unreferenced parquet anywhere: every on-disk file is owned
    manifest = layout.read_manifest(path)
    live = layout._live_snapshot_ids(manifest)
    referenced = set(layout._snapshot_files(path, manifest, live))
    on_disk = {
        os.path.relpath(os.path.join(r, f), path)
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == set(referenced)


def test_delete_rows_noop_and_null_predicate(spark, tmp_path):
    """A predicate matching nothing writes NOTHING (no new version);
    rows where the predicate evaluates NULL are kept, not deleted."""
    path = str(tmp_path / "del_noop")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k long, cnt long"
    )
    layout.append_versioned(df, path, ["k"])

    res = layout.delete_rows(spark, path, "k > 999")
    assert res["version"] is None and res["rows_deleted"] == 0
    assert len(layout.read_manifest(path)["snapshots"]) == 1

    # cnt > 15 is NULL for k=2 → k=2 must survive
    res = layout.delete_rows(spark, path, "cnt > 15")
    assert res["rows_deleted"] == 1
    left = sorted(r["k"] for r in layout.read_snapshot(spark, path).collect())
    assert left == [1, 2]


def test_delete_rows_everything_and_crash(spark, tmp_path, monkeypatch):
    """Deleting every row leaves a readable empty store with the
    recorded schema; a crash before the manifest commit leaves the
    delete invisible and the replay lands the same version id."""
    import pytest

    path = str(tmp_path / "del_all")
    mk = lambda rows: spark.createDataFrame(rows, "k long, cnt long")
    layout.append_versioned(mk([(1, 1), (2, 2)]), path, ["k"])

    real = layout._dump_manifest

    def dying(*a, **kw):
        raise RuntimeError("simulated crash before the manifest commit")

    monkeypatch.setattr(layout, "_dump_manifest", dying)
    with pytest.raises(RuntimeError, match="simulated crash"):
        layout.delete_rows(spark, path, "k = 1")
    monkeypatch.setattr(layout, "_dump_manifest", real)
    # uncommitted: nothing deleted
    assert sorted(
        r["k"] for r in layout.read_snapshot(spark, path).collect()
    ) == [1, 2]
    # replay commits as the same version id
    res = layout.delete_rows(spark, path, "k = 1")
    assert res["version"] == 2

    res = layout.delete_rows(spark, path, "k >= 0")
    empty = layout.read_snapshot(spark, path)
    assert empty.count() == 0
    assert empty.columns == ["k", "cnt"]


def test_delete_rows_path_with_spaces(spark, tmp_path):
    """input_file_name() returns percent-encoded URIs; a store under a
    path with spaces must still map touched files back into the
    manifest (regression: the undecoded relpath flagged every touched
    file as outside the live snapshot set)."""
    path = str(tmp_path / "del store dir")
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, cnt long")
    layout.append_versioned(df, path, ["k"])
    res = layout.delete_rows(spark, path, "k = 1")
    assert res["rows_deleted"] == 1
    assert [r["k"] for r in layout.read_snapshot(spark, path).collect()] == [2]


def test_export_changes_cdc_roundtrip(spark, tmp_path):
    """The store as a CDC SOURCE: export_changes emits each version's
    diff exactly once in merge_changes shape, and a consumer folding
    the change dirs in version order reproduces every snapshot — CDC
    OUT feeding CDC IN. Incremental: a second export is empty; a new
    version exports alone; a wiped cursor re-exports identical content
    into the same dirs."""
    import os

    from chess_pos_db_spark.operators.merge import merge_changes

    path = str(tmp_path / "cdc_store")
    out = str(tmp_path / "cdc_out")
    mk = lambda rows: spark.createDataFrame(rows, "k long, val long")
    layout.append_versioned(mk([(i, i * 10) for i in range(10)]), path, ["k"])
    layout.append_versioned(mk([(i, i) for i in range(10, 16)]), path, ["k"])
    layout.delete_rows(spark, path, "k % 4 = 1")

    got = layout.export_changes(spark, path, out, ["k"])
    assert got == [1, 2, 3]
    # incremental: nothing new -> nothing exported
    assert layout.export_changes(spark, path, out, ["k"]) == []

    # consumer folds the log in order and matches every snapshot
    target = spark.createDataFrame([], "k long, val long")
    for v in (1, 2, 3):
        target = merge_changes(
            target, layout.read_changes(spark, out, v), ["k"]
        ).localCheckpoint(eager=True)
        want = sorted(
            tuple(r) for r in layout.read_snapshot(spark, path, v).collect()
        )
        assert sorted(tuple(r) for r in target.collect()) == want

    # a new version exports alone, and the consumer catches up
    layout.append_versioned(mk([(100, 1)]), path, ["k"])
    assert layout.export_changes(spark, path, out, ["k"]) == [4]
    target = merge_changes(
        target, layout.read_changes(spark, out, 4), ["k"]
    )
    assert sorted(tuple(r) for r in target.collect()) == sorted(
        tuple(r) for r in layout.read_snapshot(spark, path).collect()
    )

    # wiped cursor: deterministic re-export into the same dirs
    pre = sorted(
        tuple(r)
        for v in (1, 2, 3, 4)
        for r in layout.read_changes(spark, out, v).collect()
    )
    os.unlink(os.path.join(out, "_cursor.json"))
    assert layout.export_changes(spark, path, out, ["k"]) == [1, 2, 3, 4]
    post = sorted(
        tuple(r)
        for v in (1, 2, 3, 4)
        for r in layout.read_changes(spark, out, v).collect()
    )
    assert post == pre


def test_export_changes_feeds_streaming_replica(spark, tmp_path):
    """The full replication pipeline: store evolves (append/append/
    delete), export_changes emits the log, and the STREAMING consumer
    (cdc_apply_stream over the changes dir, to_version as the sequence
    column) converges a replica to the latest snapshot — the exported
    log is not just batch-foldable, it is a valid at-least-once stream
    feed where a micro-batch mixing versions still resolves per key by
    latest_per_key."""
    from pyspark.sql import types as T

    from chess_pos_db_spark.streaming import jobs

    path = str(tmp_path / "repl_store")
    out = str(tmp_path / "repl_out")
    mk = lambda rows: spark.createDataFrame(rows, "k long, val long")
    layout.append_versioned(mk([(i, i * 10) for i in range(8)]), path, ["k"])
    layout.append_versioned(mk([(i, i) for i in range(8, 12)]), path, ["k"])
    layout.delete_rows(spark, path, "k % 3 = 1")
    assert layout.export_changes(spark, path, out, ["k"]) == [1, 2, 3]

    changes_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("val", T.LongType()),
            T.StructField("to_version", T.IntegerType()),
        ]
    )
    seed = spark.createDataFrame([], "k long, val long")
    replica = jobs.cdc_apply_stream(
        spark,
        f"{out}/changes",
        changes_schema,
        str(tmp_path / "replica"),
        seed,
        ["k"],
        seq_col="to_version",
    )
    want = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    got = sorted(
        tuple(r) for r in replica.select("k", "val").collect()
    )
    assert got == want and len(got) > 0


def test_snapshot_diff_append_is_delta_sized(spark, tmp_path):
    """The 100 TB pin for the CDC source: an append version's diff is
    manifest-resolved to the NEW files only — no join in the physical
    plan (the empty old side folds away), and the scan's file index
    holds nothing from v1. A copy-on-write delete's diff joins, but
    both sides are restricted to the symmetric file difference — fewer
    files than the two full snapshots."""
    import re

    path = str(tmp_path / "delta_store")
    mk = lambda rows: spark.createDataFrame(rows, "k long, val long")
    # explicit partitions: the touched-files-only economics this test
    # pins are only OBSERVABLE with several files per version — the
    # adaptive default (correctly) coalesces a fixture-sized append to
    # one file, where "subset of files" and "all files" coincide
    layout.append_versioned(
        mk([(i, i * 10) for i in range(10)]), path, ["k"], partitions=4
    )
    layout.append_versioned(
        mk([(i, i) for i in range(10, 16)]), path, ["k"], partitions=4
    )

    diff = layout.snapshot_diff(spark, path, 1, 2, ["k"])
    plan = diff._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "append diff must not join"
    assert "/v1/" not in plan, "append diff must not scan v1 files"
    assert sorted((r["k"], r["change"]) for r in diff.collect()) == [
        (k, "added") for k in range(10, 16)
    ]

    layout.delete_rows(spark, path, "k % 4 = 1")
    manifest = layout.read_manifest(path)
    live_files = layout._snapshot_files(
        path, manifest, layout._live_snapshot_ids(manifest)
    )
    d2 = layout.snapshot_diff(spark, path, 2, 3, ["k"])
    p2 = d2._jdf.queryExecution().executedPlan().toString()
    scanned = sum(
        int(n) for n in re.findall(r"InMemoryFileIndex\((\d+) paths?\)", p2)
    )
    assert 0 < scanned < 2 * len(live_files), (
        "delete diff must scan only the touched files, "
        f"not two full snapshots (scanned {scanned})"
    )
    assert sorted((r["k"], r["change"]) for r in d2.collect()) == [
        (k, "removed") for k in (1, 5, 9, 13)
    ]

    # the delta form must agree with the general form on every span
    for v_from, v_to in ((1, 2), (2, 3), (1, 3)):
        auto = sorted(
            map(str, layout.snapshot_diff(spark, path, v_from, v_to, ["k"]).collect())
        )
        full = sorted(
            map(
                str,
                layout.snapshot_diff(
                    spark, path, v_from, v_to, ["k"], scan="full"
                ).collect(),
            )
        )
        assert auto == full, f"delta diff diverged on v{v_from}->v{v_to}"

    with pytest.raises(ValueError, match="scan mode"):
        layout.snapshot_diff(spark, path, 1, 2, ["k"], scan="fast")


def test_read_changes_empty_version_is_typed(spark, tmp_path):
    """An exported version whose delta is EMPTY (here: an append of
    zero rows) writes no parquet part files; read_changes must still
    answer it as a typed empty DataFrame (from the _schema.json
    sidecar) so a consumer folding the log in version order survives
    it — and merge_changes applies it as a no-op."""
    from chess_pos_db_spark.operators.merge import merge_changes

    path = str(tmp_path / "empty_store")
    out = str(tmp_path / "empty_out")
    mk = lambda rows: spark.createDataFrame(rows, "k long, val long")
    layout.append_versioned(mk([(1, 10), (2, 20)]), path, ["k"])
    layout.append_versioned(mk([]), path, ["k"])  # empty delta version
    layout.append_versioned(mk([(3, 30)]), path, ["k"])
    assert layout.export_changes(spark, path, out, ["k"]) == [1, 2, 3]

    v2 = layout.read_changes(spark, out, 2)
    assert v2.count() == 0
    assert set(v2.columns) == {"k", "op", "val"}

    target = spark.createDataFrame([], "k long, val long")
    for v in (1, 2, 3):
        target = merge_changes(
            target, layout.read_changes(spark, out, v), ["k"]
        ).localCheckpoint(eager=True)
    assert sorted(tuple(r) for r in target.collect()) == [
        (1, 10), (2, 20), (3, 30),
    ]

    # a version that was never exported still fails loudly
    with pytest.raises(Exception):
        layout.read_changes(spark, out, 9).collect()


def test_expire_snapshots_refuses_to_strand_export(spark, tmp_path):
    """The vacuum/export contract, enforced: expire_snapshots refuses a
    floor past any registered CDC export's cursor (the export's next
    diff needs read_snapshot(last_exported)), and force=True abandons
    the lagging export instead of silently bricking its replay."""
    path = str(tmp_path / "guard_store")
    out = str(tmp_path / "guard_out")
    mk = lambda rows: spark.createDataFrame(rows, "k long, val long")
    layout.append_versioned(mk([(1, 10)]), path, ["k"])
    assert layout.export_changes(spark, path, out, ["k"]) == [1]
    layout.append_versioned(mk([(2, 20)]), path, ["k"])
    v3 = layout.compact_versioned(
        spark, path, key=["k"], agg_spec={"val": "sum"}
    )

    with pytest.raises(ValueError, match="strand CDC export"):
        layout.expire_snapshots(path, before=v3)
    # catching up the export clears the refusal
    assert layout.export_changes(spark, path, out, ["k"]) == [2, 3]
    layout.expire_snapshots(path, before=v3)
    assert layout.read_manifest(path)["min_time_travel"] == v3

    # force path: a second lagging export is abandoned explicitly
    layout.append_versioned(mk([(4, 40)]), path, ["k"])
    v5 = layout.compact_versioned(
        spark, path, key=["k"], agg_spec={"val": "sum"}
    )
    with pytest.raises(ValueError, match="strand CDC export"):
        layout.expire_snapshots(path, before=v5)
    layout.expire_snapshots(path, before=v5, force=True)
    m = layout.read_manifest(path)
    assert m["min_time_travel"] == v5
    # the abandoned export's registration advanced to the floor so the
    # refusal does not re-trigger forever
    assert m["exports"][__import__("os").path.abspath(out)] == v5


def test_export_changes_over_compaction_version(spark, tmp_path):
    """A compact_versioned version rewrites every file but (for a
    converged store) changes no logical content: its export must write
    an EMPTY delta (the restricted diff joins the two full file sets
    and finds nothing), advance the cursor, and a consumer folding the
    log straight through it must still converge to the live state."""
    from chess_pos_db_spark.operators.merge import merge_changes

    path = str(tmp_path / "compact_store")
    out = str(tmp_path / "compact_out")
    mk = lambda rows: spark.createDataFrame(rows, "k long, cnt long")
    layout.append_versioned(mk([(1, 5), (2, 7)]), path, ["k"])
    v2 = layout.compact_versioned(
        spark, path, key=["k"], agg_spec={"cnt": "sum"}
    )
    layout.append_versioned(mk([(3, 9)]), path, ["k"])
    assert layout.export_changes(spark, path, out, ["k"]) == [1, 2, 3]

    d2 = layout.read_changes(spark, out, v2)
    assert d2.count() == 0 and set(d2.columns) == {"k", "op", "cnt"}

    target = spark.createDataFrame([], "k long, cnt long")
    for v in (1, 2, 3):
        target = merge_changes(
            target, layout.read_changes(spark, out, v), ["k"]
        ).localCheckpoint(eager=True)
    assert sorted(tuple(r) for r in target.collect()) == [
        (1, 5), (2, 7), (3, 9),
    ]


def test_snapshot_tags_survive_vacuum(spark, tmp_path):
    """Tags are GC roots: a tagged version's files survive an
    expire_snapshots that would otherwise reclaim them, the tagged read
    stays exact below the time-travel floor, an UNtagged version below
    the floor still fails loudly, and delete_tag releases the pin so
    the next vacuum reclaims it. Tags are immutable unless retag=True;
    tagging a nonexistent version fails."""
    import os

    path = str(tmp_path / "tagged_store")
    mk = lambda rows: spark.createDataFrame(rows, "k long, cnt long")
    layout.append_versioned(mk([(1, 10), (2, 20)]), path, ["k"])
    layout.append_versioned(mk([(3, 30)]), path, ["k"])
    assert layout.tag_snapshot(path, "pretrain-v1", version=2) == 2
    v3 = layout.compact_versioned(
        spark, path, key=["k"], agg_spec={"cnt": "sum"}
    )

    layout.expire_snapshots(path, before=v3)
    # floor advanced, but the tag still answers the full v2 state
    got = sorted(
        tuple(r) for r in layout.read_snapshot(spark, path, tag="pretrain-v1").collect()
    )
    assert got == [(1, 10), (2, 20), (3, 30)]
    # the same version by NUMBER also reads (it is a tagged version)...
    assert layout.read_snapshot(spark, path, 2).count() == 3
    # ...but the untagged v1 below the floor fails loudly
    with pytest.raises(ValueError, match="expired"):
        layout.read_snapshot(spark, path, 1)
    with pytest.raises(ValueError, match="no tag"):
        layout.read_snapshot(spark, path, tag="nope")
    with pytest.raises(ValueError, match="version OR tag"):
        layout.read_snapshot(spark, path, 2, tag="pretrain-v1")

    # immutability and existence guards
    with pytest.raises(ValueError, match="immutable"):
        layout.tag_snapshot(path, "pretrain-v1", version=v3)
    assert layout.tag_snapshot(path, "pretrain-v1", version=v3, retag=True) == v3
    assert layout.tag_snapshot(path, "pretrain-v1", version=2, retag=True) == 2
    with pytest.raises(ValueError, match="does not exist"):
        layout.tag_snapshot(path, "x", version=99)

    # releasing the tag makes the history vacuumable again
    assert layout.delete_tag(path, "pretrain-v1") == 2
    with pytest.raises(ValueError, match="no tag"):
        layout.delete_tag(path, "pretrain-v1")
    deleted = layout.expire_snapshots(path, before=v3)
    assert deleted, "released history should be reclaimed"
    with pytest.raises(ValueError, match="expired"):
        layout.read_snapshot(spark, path, 2)
    # live state unaffected throughout
    assert sorted(
        tuple(r) for r in layout.read_snapshot(spark, path).collect()
    ) == [(1, 10), (2, 20), (3, 30)]


def test_upsert_rows_merges_copy_on_write(spark, tmp_path):
    """The store's MERGE verb: I/U upsert (insert when absent), D
    removes, D-for-absent no-ops — result equals merge_changes over the
    live state; untouched files carry into the new snapshot by
    reference (never rewritten); time travel to the pre-upsert version
    still answers; a second identical upsert converges."""
    import os

    from chess_pos_db_spark.operators.merge import merge_changes

    path = str(tmp_path / "upsert_store")
    mk = lambda rows: spark.createDataFrame(rows, "k long, val string")
    # explicit partitions: untouched-files-by-reference is only
    # observable with several files per version (see
    # test_snapshot_diff_append_is_delta_sized)
    layout.append_versioned(
        mk([(i, f"v{i}") for i in range(0, 10)]), path, ["k"], partitions=4
    )
    layout.append_versioned(
        mk([(i, f"v{i}") for i in range(10, 20)]), path, ["k"], partitions=4
    )

    chg = spark.createDataFrame(
        [(3, "V3", "U"), (11, "V11", "U"), (99, "V99", "I"),
         (5, None, "D"), (777, None, "D")],
        "k long, val string, op string",
    )
    def state(rel_dir):
        full = os.path.join(path, rel_dir)
        return sorted(
            (f, os.path.getmtime(os.path.join(full, f)))
            for f in os.listdir(full) if f.endswith(".parquet")
        )

    live_before = layout.read_snapshot(spark, path).localCheckpoint(eager=True)
    v1_before = state("v1")
    res = layout.upsert_rows(spark, path, chg)
    assert res["version"] == 3
    assert res["rows_upserted"] == 3
    assert res["rows_removed"] == 3  # keys 3, 11, 5 were present
    assert 0 < res["files_rewritten"] < res["files_total"]

    want = sorted(
        tuple(r)
        for r in merge_changes(live_before, chg, ["k"]).collect()
    )
    got = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert got == want
    # untouched files carried by reference, not rewritten
    m = layout.read_manifest(path)
    entry = [s for s in m["snapshots"] if s["id"] == 3][0]
    assert entry["files"], "untouched files must carry by reference"
    for rel in entry["files"]:
        assert os.path.isfile(os.path.join(path, rel))
    # pre-upsert state still answers
    assert sorted(
        tuple(r) for r in layout.read_snapshot(spark, path, 2).collect()
    ) == sorted(tuple(r) for r in live_before.collect())

    # converged rerun: same changes now touch only the already-merged
    # rows; the result state is unchanged
    res2 = layout.upsert_rows(spark, path, chg)
    got2 = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert got2 == want

    # empty batch is a no-op
    empty = spark.createDataFrame([], "k long, val string, op string")
    assert layout.upsert_rows(spark, path, empty)["version"] is None


def test_upsert_preserves_column_order_with_non_leading_key(spark, tmp_path):
    """Regression: upsert_rows' rewrite path drops matched rows with a
    left_anti USING-join, and Spark moves the USING columns to the
    FRONT of the join output even for semi/anti joins — so an upsert
    on a store whose sort key is not its leading column (any
    rekey_store'd store) silently reordered the committed schema until
    the trailing re-select was added. Adaptive run sizing unmasked it:
    a single-file store rewrites every row through that branch."""
    import json as _json

    path = str(tmp_path / "order_store")
    df = spark.createDataFrame(
        [(1, 10, "x"), (2, 20, "y"), (3, 30, "z")],
        "a long, b long, v string",
    )
    layout.append_versioned(df, path, ["b"])
    chg = spark.createDataFrame(
        [(2, 20, "Y", "U"), (4, 40, "w", "I")],
        "a long, b long, v string, op string",
    )
    layout.upsert_rows(spark, path, chg)
    live = layout.read_snapshot(spark, path)
    assert live.columns == ["a", "b", "v"]
    names = [
        f["name"]
        for f in _json.loads(layout.read_manifest(path)["schema"])["fields"]
    ]
    assert names == ["a", "b", "v"]
    got = {r["b"]: (r["a"], r["v"]) for r in live.collect()}
    assert got == {10: (1, "x"), 20: (2, "Y"), 30: (3, "z"), 40: (4, "w")}


def test_upsert_rows_guards_fail_loudly(spark, tmp_path):
    """NULL keys, unknown ops, conflicting per-key rows and typo'd
    payload columns must fail the batch before anything is written."""
    path = str(tmp_path / "guard_upsert")
    mk = lambda rows: spark.createDataFrame(rows, "k long, val string")
    layout.append_versioned(mk([(1, "a")]), path, ["k"])
    snap = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())

    cases = [
        ([(None, "x", "U")], "NULL merge key"),
        ([(1, "x", "u")], "unknown op"),
        ([(1, "x", None)], "unknown op"),
        ([(1, "x", "U"), (1, "y", "U")], "conflicting change rows"),
    ]
    for rows, msg in cases:
        chg = spark.createDataFrame(rows, "k long, val string, op string")
        with pytest.raises(Exception, match=msg):
            layout.upsert_rows(spark, path, chg)
    bad_col = spark.createDataFrame(
        [(1, "x", "U")], "k long, nope string, op string"
    )
    with pytest.raises(ValueError, match="do not exist in the store"):
        layout.upsert_rows(spark, path, bad_col)
    # nothing was committed by any failed batch
    assert sorted(
        tuple(r) for r in layout.read_snapshot(spark, path).collect()
    ) == snap


def test_upsert_rows_type_conflict_is_loud(spark, tmp_path):
    """Round-12 brief item #1 (upsert twin): a carried change column
    whose dtype conflicts with the store's raises a typed ValueError
    before any job runs — both the castable probe (STRING "99" into a
    BIGINT column would silently retype the store column) and the
    non-castable one ("abc" would abort mid-write with a raw CAST
    error); a mistyped KEY is guarded identically; nothing commits."""
    path = str(tmp_path / "type_upsert")
    mk = lambda rows: spark.createDataFrame(rows, "k long, n long")
    layout.append_versioned(mk([(1, 10), (2, 20)]), path, ["k"])
    snap = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())

    for val in ("99", "abc"):  # castable and non-castable, same guard
        chg = spark.createDataFrame(
            [(1, val, "U")], "k long, n string, op string"
        )
        with pytest.raises(
            ValueError, match=r"n \(change string, target bigint\)"
        ):
            layout.upsert_rows(spark, path, chg)
    bad_key = spark.createDataFrame(
        [("1", 99, "U")], "k string, n long, op string"
    )
    with pytest.raises(
        ValueError, match=r"k \(change string, target bigint\)"
    ):
        layout.upsert_rows(spark, path, bad_key)
    m = layout.read_manifest(path)
    assert max(s["id"] for s in m["snapshots"]) == 1
    assert sorted(
        tuple(r) for r in layout.read_snapshot(spark, path).collect()
    ) == snap


def test_upsert_rows_safe_widening_accepted(spark, tmp_path):
    """The documented widening policy on the store path: an INT feed
    into a BIGINT store column (and an uncast all-NULL VOID column)
    cast up to the store's types — the committed snapshot's schema is
    exactly the store's, no drift."""
    from pyspark.sql import types as T

    path = str(tmp_path / "widen_upsert")
    store = spark.createDataFrame(
        [(1, 10, 1.5), (2, 20, 2.5)], "k long, n long, f double"
    )
    layout.append_versioned(store, path, ["k"])
    chg = spark.createDataFrame(
        [(1, "U", 99, None), (3, "I", 30, None)],
        T.StructType(
            [
                T.StructField("k", T.IntegerType()),
                T.StructField("op", T.StringType()),
                T.StructField("n", T.IntegerType()),
                T.StructField("f", T.NullType()),
            ]
        ),
    )
    res = layout.upsert_rows(spark, path, chg)
    assert res["rows_upserted"] == 2
    live = layout.read_snapshot(spark, path)
    assert dict(live.dtypes) == {"k": "bigint", "n": "bigint", "f": "double"}
    got = {r["k"]: (r["n"], r["f"]) for r in live.collect()}
    assert got == {1: (99, None), 2: (20, 2.5), 3: (30, None)}


def test_export_changes_over_upsert_version(spark, tmp_path):
    """An upsert version's export carries genuine 'U' ops (the changed
    rows' NEW payload), 'D' for removals and 'I' for inserts — and the
    folded log converges a replica through it. Completes the changelog
    coverage: append → I, delete → D, upsert → mixed I/U/D."""
    from chess_pos_db_spark.operators.merge import merge_changes

    path = str(tmp_path / "ups_cdc_store")
    out = str(tmp_path / "ups_cdc_out")
    mk = lambda rows: spark.createDataFrame(rows, "k long, val string")
    layout.append_versioned(mk([(1, "a"), (2, "b"), (3, "c")]), path, ["k"])
    chg = spark.createDataFrame(
        [(2, "B", "U"), (4, "d", "I"), (3, None, "D")],
        "k long, val string, op string",
    )
    layout.upsert_rows(spark, path, chg)
    assert layout.export_changes(spark, path, out, ["k"]) == [1, 2]

    v2 = {
        (r["k"], r["op"], r["val"])
        for r in layout.read_changes(spark, out, 2).collect()
    }
    assert v2 == {(2, "U", "B"), (4, "I", "d"), (3, "D", None)}

    target = spark.createDataFrame([], "k long, val string")
    for v in (1, 2):
        target = merge_changes(
            target, layout.read_changes(spark, out, v), ["k"]
        ).localCheckpoint(eager=True)
    assert sorted(tuple(r) for r in target.collect()) == [
        (1, "a"), (2, "B"), (4, "d"),
    ]


@pytest.mark.slow
def test_store_lifecycle_randomized_against_model(spark, tmp_path):
    """Model-based differential test of the WHOLE store lifecycle: for
    several seeded random sequences of append / upsert (including
    update-to-NULL) / delete / compact / tag+vacuum / additive schema
    EVOLUTION / non-additive RENAME (round 12: evolve_schema break,
    interleaved with everything else), the live snapshot must equal a
    plain dict model after
    EVERY step; afterwards the exported change log folded from an
    empty PRE-evolution replica (allow_new_columns=True,
    partial_updates=False — state semantics; replay_changelog when a
    rename made the log rebase) must equal the final
    model, and the delta-sized snapshot_diff must equal the general
    form over random version spans (a span crossing a break must
    refuse instead). This is the adversarial complement
    to the scenario-pinned tests: the operations interleave in orders
    no hand-written scenario covers."""
    import random

    from chess_pos_db_spark.operators.merge import merge_changes

    def snapshot_dict(df, extra_cols, vcol="val"):
        return {
            r["k"]: (
                r[vcol],
                tuple(r.asDict().get(c) for c in extra_cols),
            )
            for r in df.collect()
        }

    for seed in range(4):
        rng = random.Random(seed)
        path = str(tmp_path / f"rand_store_{seed}")
        model: dict[int, int] = {}
        val_col = "val"
        breaks: list[int] = []  # evolve_schema break versions

        def mk(rows):
            return spark.createDataFrame(rows, f"k long, {val_col} long")

        # additive-evolution bookkeeping: column name -> {k: value};
        # a key absent from a column's dict reads as NULL, exactly as
        # the union-schema read answers pre-evolution rows
        extra_cols: list[str] = []
        extras: dict[str, dict[int, int]] = {}
        next_val = [0]

        def fresh_val():
            next_val[0] += 1
            return next_val[0]

        def expected():
            return {
                k: (v, tuple(extras[c].get(k) for c in extra_cols))
                for k, v in model.items()
            }

        # seed version
        first = {k: fresh_val() for k in rng.sample(range(30), 5)}
        model.update(first)
        layout.append_versioned(mk(sorted(first.items())), path, ["k"])
        tagged_versions: list[tuple[str, dict, list[str]]] = []
        out = str(tmp_path / f"rand_out_{seed}")

        for step in range(7):
            op = rng.choice(
                ["append", "upsert", "delete", "compact", "vacuum",
                 "evolve", "typebad", "rename"]
            )
            if op == "typebad":
                # round-12: a change batch carrying an existing column
                # RETYPED (val as string — castable or not) must fail
                # the dtype guard loudly and commit NOTHING; the model
                # is untouched so the post-step equality check below
                # doubles as the no-commit assertion
                bad_val = rng.choice(["99", "abc"])
                bad = spark.createDataFrame(
                    [(rng.randrange(300, 310), bad_val, "I")],
                    f"k long, {val_col} string, op string",
                )
                with pytest.raises(
                    ValueError, match="type\\(s\\) conflict"
                ):
                    layout.upsert_rows(spark, path, bad)
            elif op == "rename":
                # round-12: NON-additive rename of the value column —
                # a schema-break rewrite interleaved with everything
                # else; evolved extra columns must survive it
                new_name = f"val_r{step}"
                layout.evolve_schema(
                    spark, path, renames={val_col: new_name}
                )
                val_col = new_name
                breaks.append(
                    max(layout._live_snapshot_ids(layout.read_manifest(path)))
                )
            elif op == "append":
                fresh = [
                    k for k in rng.sample(range(100), 6) if k not in model
                ]
                if not fresh:
                    continue
                batch = {k: fresh_val() for k in fresh}
                model.update(batch)
                layout.append_versioned(
                    mk(sorted(batch.items())), path, ["k"]
                )
            elif op == "upsert":
                rows = []
                for k in rng.sample(sorted(model) or [0], min(2, len(model))):
                    # update-to-NULL exercised ~1 in 4: the exported
                    # 'U' must carry the NULL state through the fold
                    v = None if rng.random() < 0.25 else fresh_val()
                    rows.append((k, v, "U"))
                    model[k] = v
                for k in rng.sample(range(100, 140), 2):
                    if k in model or any(r[0] == k for r in rows):
                        continue
                    v = fresh_val()
                    rows.append((k, v, "I"))
                    model[k] = v
                doomed = [
                    k for k in rng.sample(sorted(model), min(2, len(model)))
                    if not any(r[0] == k for r in rows)
                ]
                for k in doomed:
                    rows.append((k, None, "D"))
                    model.pop(k)
                rows.append((999, None, "D"))  # D-for-absent no-op
                if not rows:
                    continue
                layout.upsert_rows(
                    spark, path,
                    spark.createDataFrame(
                        rows, f"k long, {val_col} long, op string"
                    ),
                )
                # whole-row replacement: an upserted key's evolved
                # columns reset to NULL (the batch doesn't carry them);
                # a deleted key vanishes everywhere
                for k, v, o in rows:
                    for c in extra_cols:
                        extras[c].pop(k, None)
            elif op == "delete":
                m = rng.choice([3, 5, 7])
                doomed = [k for k in model if k % m == 1]
                res = layout.delete_rows(spark, path, f"k % {m} = 1")
                for k in doomed:
                    model.pop(k)
                    for c in extra_cols:
                        extras[c].pop(k, None)
                assert (res["rows_deleted"] > 0) == bool(doomed)
            elif op == "compact":
                layout.compact_versioned(
                    spark, path, key=["k"], agg_spec={val_col: "max"}
                )
                # the agg_spec lists only val: compaction DROPS evolved
                # columns from the live state (the documented loud
                # boundary is per-store, and this store declared the
                # spec) — absent column ≡ all-NULL reads
                for c in extra_cols:
                    extras[c] = {}
            elif op == "evolve":
                col = f"x{len(extra_cols)}"
                fresh = [
                    k for k in rng.sample(range(200, 260), 3)
                    if k not in model
                ]
                touched = rng.sample(
                    sorted(model), min(1, len(model))
                )
                rows = [
                    (k, model[k], fresh_val(), "U") for k in touched
                ] + [(k, fresh_val(), fresh_val(), "I") for k in fresh]
                if not rows:
                    continue
                layout.upsert_rows(
                    spark, path,
                    spark.createDataFrame(
                        rows,
                        f"k long, {val_col} long, {col} long, op string",
                    ),
                    allow_new_columns=True,
                )
                extra_cols.append(col)
                extras[col] = {}
                for k, v, x, o in rows:
                    model[k] = v
                    for c in extra_cols:
                        extras[c].pop(k, None)
                    extras[col][k] = x
            else:
                # the export-cadence contract: export BEFORE vacuum so
                # the changelog never loses replayable history (the
                # registered-cursor guard enforces this ordering)
                layout.export_changes(spark, path, out, ["k"])
                man = layout.read_manifest(path)
                latest = max(layout._live_snapshot_ids(man))
                if rng.random() < 0.5:
                    layout.tag_snapshot(
                        path, f"t{step}", retag=True
                    )
                    tagged_versions.append(
                        (f"t{step}", expected(), list(extra_cols), val_col)
                    )
                layout.expire_snapshots(path, before=latest)

            got = snapshot_dict(
                layout.read_snapshot(spark, path), extra_cols, val_col
            )
            assert got == expected(), f"seed {seed} step {step} op {op}"

        # tagged reads reproduce their pinned states even after vacuums
        # (under the value-column NAME of their era — a later rename
        # never rewrites a tagged version)
        for name, snap, cols_then, vcol_then in tagged_versions:
            got = snapshot_dict(
                layout.read_snapshot(spark, path, tag=name),
                cols_then,
                vcol_then,
            )
            # columns evolved AFTER the tag read as NULL through the
            # union schema; compare on the columns that existed then
            snap_then = {
                k: (v, xs[: len(cols_then)]) for k, (v, xs) in snap.items()
            }
            assert got == snap_then, f"seed {seed} tag {name}"

        # the exported log folds from an empty PRE-evolution replica to
        # the final model: state semantics (update-to-NULL overwrites)
        # + column alignment (the replica follows the evolution). A
        # rename mid-history makes the log REBASE — replay_changelog
        # must re-seed there; otherwise the raw primitive loop is kept
        # under test
        layout.export_changes(spark, path, out, ["k"])
        man = layout.read_manifest(path)
        if breaks:
            target = layout.replay_changelog(spark, out, ["k"])
        else:
            target = spark.createDataFrame([], "k long, val long")
            for v in range(1, max(s["id"] for s in man["snapshots"]) + 1):
                target = merge_changes(
                    target,
                    layout.read_changes(spark, out, v),
                    ["k"],
                    allow_new_columns=True,
                    partial_updates=False,
                ).localCheckpoint(eager=True)
        got = snapshot_dict(target, extra_cols, val_col)
        assert got == expected(), f"seed {seed} fold"

        # delta diff == general diff over a random readable span; a
        # span crossing a break must REFUSE in both scan modes
        ids = sorted(s["id"] for s in man["snapshots"])
        floor = man.get("min_time_travel") or 0
        readable = [i for i in ids if i >= floor]
        if len(readable) >= 2:
            v_from, v_to = sorted(rng.sample(readable, 2))
            if any(v_from < b <= v_to for b in breaks):
                for mode in ("auto", "full"):
                    with pytest.raises(ValueError, match="non-additive"):
                        layout.snapshot_diff(
                            spark, path, v_from, v_to, ["k"], scan=mode
                        )
            else:
                auto = sorted(map(str, layout.snapshot_diff(
                    spark, path, v_from, v_to, ["k"]).collect()))
                full = sorted(map(str, layout.snapshot_diff(
                    spark, path, v_from, v_to, ["k"], scan="full").collect()))
                assert auto == full, f"seed {seed} diff v{v_from}->v{v_to}"


def test_upsert_rows_additive_schema_evolution(spark, tmp_path):
    """upsert_rows(allow_new_columns=True) evolves the store schema
    additively: the batch's new column lands on rewritten/inserted
    rows, untouched files stay by reference and answer typed NULL
    through the union-schema read. The default stays loud, and a later
    plain upsert whose touched files PREDATE the evolution still
    aligns (the keep side reads the union schema, not just the touched
    files' own columns)."""
    path = str(tmp_path / "evo_store")
    layout.append_versioned(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ),
        path,
        ["k"],
    )
    evolved = spark.createDataFrame(
        [(2, "b2", "en", "U"), (4, "d", "fr", "I")],
        "k long, v string, lang string, op string",
    )
    with pytest.raises(ValueError, match="allow_new_columns"):
        layout.upsert_rows(spark, path, evolved)
    res = layout.upsert_rows(
        spark, path, evolved, allow_new_columns=True
    )
    assert res["version"] == 2
    got = {
        r["k"]: (r["v"], r["lang"])
        for r in layout.read_snapshot(spark, path).collect()
    }
    assert got == {
        1: ("a", None), 2: ("b2", "en"), 3: ("c", None), 4: ("d", "fr"),
    }
    # touched file predates the evolution (k=1/3 live in the v1 run,
    # which never carried lang): the keep-side alignment must inject a
    # typed NULL, or the rewrite's union with the batch rows fails
    res2 = layout.upsert_rows(
        spark,
        path,
        spark.createDataFrame([(1, "a2", "U")], "k long, v string, op string"),
    )
    assert res2["version"] == 3
    got2 = {
        r["k"]: (r["v"], r["lang"])
        for r in layout.read_snapshot(spark, path).collect()
    }
    # whole-row replacement: k=1's lang is NULL (it never had one);
    # k=3 shared the touched file and must survive with its NULL lang
    assert got2 == {
        1: ("a2", None), 2: ("b2", "en"), 3: ("c", None), 4: ("d", "fr"),
    }


def test_export_fold_across_schema_evolution(spark, tmp_path):
    """The replication triangle ACROSS an additive evolution: v2's op
    rows carry the new column, every version dir records its own
    _schema.json (the export-level sidecar refreshes on change), an
    empty post-evolution delta answers with the evolved schema, and a
    replica seeded with the PRE-evolution schema folds the whole log
    via merge_changes(allow_new_columns=True, partial_updates=False)
    to exactly the live snapshot."""
    import json
    import os

    from chess_pos_db_spark.operators.merge import merge_changes

    path = str(tmp_path / "evo_src")
    out = str(tmp_path / "evo_log")
    layout.append_versioned(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        path,
        ["k"],
    )
    layout.append_versioned(
        spark.createDataFrame(
            [(3, "c", "en"), (4, "d", "fr")], "k long, v string, lang string"
        ),
        path,
        ["k"],
    )
    layout.delete_rows(spark, path, "k = 2")
    # v4: an EMPTY delta after the evolution — its dir holds no part
    # files, so read_changes must answer it from the sidecar, and that
    # sidecar must carry the EVOLVED schema
    layout.append_versioned(
        spark.createDataFrame([], "k long, v string, lang string"),
        path,
        ["k"],
    )
    assert layout.export_changes(spark, path, out, ["k"]) == [1, 2, 3, 4]

    # per-version sidecars: v1 pre-evolution, v2+ evolved
    s = {}
    for v in (1, 2, 4):
        with open(
            os.path.join(out, "changes", f"to_version={v}", "_schema.json")
        ) as f:
            s[v] = f.read()
    assert "lang" not in s[1] and "lang" in s[2] and "lang" in s[4]
    # export-level sidecar refreshed to the current (evolved) schema
    with open(os.path.join(out, "_schema.json")) as f:
        assert "lang" in f.read()
    # the empty v4 delta answers as a typed empty frame WITH lang
    ch4 = layout.read_changes(spark, out, 4)
    assert ch4.count() == 0 and "lang" in ch4.columns

    replica = spark.createDataFrame([], "k long, v string")
    for v in range(1, 5):
        replica = merge_changes(
            replica,
            layout.read_changes(spark, out, v),
            ["k"],
            allow_new_columns=True,
            partial_updates=False,
        )
    got = sorted(tuple(r) for r in replica.collect())
    live = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert got == live == [(1, "a", None), (3, "c", "en"), (4, "d", "fr")]


def test_export_fold_update_to_null_state_semantics(spark, tmp_path):
    """Round-11 wrong-answer fix pinned end-to-end: a store update that
    sets a payload column to NULL must survive the export → fold
    round-trip. snapshot_diff reports the row as changed (struct
    comparison orders NULL fields), the exported 'U' carries the NULL
    state, and the fold applies it verbatim under
    partial_updates=False — the old coalesce default silently kept the
    replica's stale pre-update value."""
    from chess_pos_db_spark.operators.merge import merge_changes

    path = str(tmp_path / "null_src")
    out = str(tmp_path / "null_log")
    layout.append_versioned(
        spark.createDataFrame([(1, 5), (2, 7)], "k long, val long"),
        path,
        ["k"],
    )
    layout.upsert_rows(
        spark,
        path,
        spark.createDataFrame([(1, None, "U")], "k long, val long, op string"),
    )
    layout.export_changes(spark, path, out, ["k"])
    replica = spark.createDataFrame([], "k long, val long")
    for v in (1, 2):
        replica = merge_changes(
            replica,
            layout.read_changes(spark, out, v),
            ["k"],
            partial_updates=False,
        )
    got = sorted((r["k"], r["val"]) for r in replica.collect())
    assert got == [(1, None), (2, 7)]


def test_forced_vacuum_realigns_export_cursor(spark, tmp_path):
    """expire_snapshots(force=True) past an export's cursor must leave
    the export RUNNABLE, not confusingly broken: the export dir's own
    _cursor.json realigns to the floor with a recorded forced_gap, the
    next export_changes resumes at floor+1 (no 'time travel expired'),
    read_changes on a lost version explains the force, and the gap
    marker survives later cursor advances."""
    import json
    import os

    path = str(tmp_path / "force_src")
    out = str(tmp_path / "force_log")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
    layout.append_versioned(mk([(1, "a")]), path, ["k"])
    assert layout.export_changes(spark, path, out, ["k"]) == [1]
    for r in [(2, "b"), (3, "c"), (4, "d")]:
        layout.append_versioned(mk([r]), path, ["k"])

    with pytest.raises(ValueError, match="strand CDC export"):
        layout.expire_snapshots(path, before=3)
    layout.expire_snapshots(path, before=3, force=True)
    with open(os.path.join(out, "_cursor.json")) as f:
        cur = json.load(f)
    assert cur == {"last_exported": 3, "forced_gap": [2, 3]}

    # resumes cleanly at floor+1 and keeps the gap marker
    assert layout.export_changes(spark, path, out, ["k"]) == [4]
    with open(os.path.join(out, "_cursor.json")) as f:
        cur2 = json.load(f)
    assert cur2 == {"last_exported": 4, "forced_gap": [2, 3]}

    with pytest.raises(ValueError, match="force=True"):
        layout.read_changes(spark, out, 2)
    assert layout.read_changes(spark, out, 1).count() == 1
    assert layout.read_changes(spark, out, 4).count() == 1


def test_forced_vacuum_preserves_initial_base_and_orders_commit(
    spark, tmp_path, monkeypatch
):
    """Round-12 ADVICE pins on the forced-vacuum cursor rewrite:

    (a) the rewrite updates the existing cursor JSON IN PLACE — a
        base-seeded export (initial_base from a fresh export on an
        already-vacuumed store) keeps its base through a later forced
        vacuum, so read_changes below the base still gives the
        initial-snapshot-base explanation instead of a generic path
        error;
    (b) the rewrite happens AFTER the manifest commit — a crash during
        the vacuum (manifest dump fails) leaves the export dir's
        cursor untouched, so a resumed export never silently skips
        still-exportable versions."""
    import json
    import os

    path = str(tmp_path / "base_force_src")
    out = str(tmp_path / "base_force_log")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
    layout.append_versioned(mk([(1, "a")]), path, ["k"])
    layout.append_versioned(mk([(2, "b")]), path, ["k"])
    # vacuum BEFORE the export exists -> the fresh export base-seeds
    layout.expire_snapshots(path, before=2)
    assert layout.export_changes(spark, path, out, ["k"]) == [2]
    with open(os.path.join(out, "_cursor.json")) as f:
        assert json.load(f) == {"last_exported": 2, "initial_base": 2}

    for r in [(3, "c"), (4, "d"), (5, "e")]:
        layout.append_versioned(mk([r]), path, ["k"])

    # (b) crash injection: the manifest dump dies mid-vacuum — the
    # export cursor must NOT have been rewritten yet
    real_dump = layout._dump_manifest
    monkeypatch.setattr(
        layout, "_dump_manifest",
        lambda *a, **k: (_ for _ in ()).throw(OSError("disk gone")),
    )
    with pytest.raises(OSError, match="disk gone"):
        layout.expire_snapshots(path, before=4, force=True)
    monkeypatch.setattr(layout, "_dump_manifest", real_dump)
    with open(os.path.join(out, "_cursor.json")) as f:
        assert json.load(f) == {"last_exported": 2, "initial_base": 2}, (
            "cursor was rewritten before the manifest commit — the "
            "crash window the ADVICE flagged"
        )
    # versions 3..4 are still exportable after the crashed vacuum
    assert layout.export_changes(spark, path, out, ["k"]) == [3, 4, 5]

    # (a) now a real forced vacuum past the cursor: initial_base and
    # the forced_gap coexist in the rewritten cursor
    layout.append_versioned(mk([(6, "f")]), path, ["k"])
    layout.append_versioned(mk([(7, "g")]), path, ["k"])
    layout.expire_snapshots(path, before=7, force=True)
    with open(os.path.join(out, "_cursor.json")) as f:
        cur = json.load(f)
    assert cur == {
        "last_exported": 7,
        "initial_base": 2,
        "forced_gap": [6, 7],
    }
    with pytest.raises(ValueError, match="initial snapshot base"):
        layout.read_changes(spark, out, 1)
    with pytest.raises(ValueError, match="force=True"):
        layout.read_changes(spark, out, 6)
    assert layout.read_changes(spark, out, 3).count() == 1


@pytest.mark.slow
def test_export_vacuum_lifecycle_randomized_against_model(spark, tmp_path):
    """Model-based differential test of the EXPORT × VACUUM interplay:
    seeded random interleavings of append / delete / export / vacuum /
    FORCED vacuum / non-additive EVOLVE (round 12: schema-break rename,
    exported as a rebase) / LOG COMPACTION (round 13: compact_changelog
    at a random exported version), against a model of the changelog
    (registration, cursor, forced gap, initial base, rebase versions,
    compacted base, which version dirs exist).
    Invariants after every step: the
    guard refuses a strand only for a REGISTERED lagging export; a
    forced vacuum realigns the export's cursor to the floor with the
    gap recorded; a FRESH export on an already-vacuumed store starts
    with the initial snapshot base instead of dying on 'time travel
    expired' (the seam this test found); export always RESUMES
    cleanly; read_changes answers every exported version and explains
    every gapped/pre-base one; and at the end a replica equals the
    live state — via replay_changelog (which must re-seed at the
    latest exported rebase OR compacted base) when the model says the
    fold is anchored past any gap, and via the documented snapshot
    re-seed fold otherwise; and replay targets below the compaction
    anchor REFUSE while targets at it answer that era exactly."""
    import json
    import os
    import random

    from chess_pos_db_spark.operators.merge import merge_changes

    logcompact_fired = 0
    for seed in range(6):
        rng = random.Random(100 + seed)
        path = str(tmp_path / f"ev_store_{seed}")
        out = str(tmp_path / f"ev_log_{seed}")
        model: dict[int, int] = {}
        nxt = [0]
        val_col = "val"

        def mk(rows):
            return spark.createDataFrame(rows, f"k long, {val_col} long")

        def fresh():
            nxt[0] += 1
            return nxt[0]

        first = {k: fresh() for k in range(5)}
        model.update(first)
        layout.append_versioned(mk(sorted(first.items())), path, ["k"])
        latest = 1
        registered = False  # has export_changes ever run on this store
        cursor = 0          # model of the export's last_exported
        gap_hi = 0          # forced-gap upper bound (0 = none)
        gap_lo = 0          # forced-gap lower bound (merged across forces)
        init_base = 0       # first export began here on a vacuumed store
        floor_model = 0     # model of min_time_travel
        rebases: list[int] = []  # evolve_schema break versions
        compacted_to = 0    # compact_changelog's base version (0 = none)
        exported_dirs: set[int] = set()  # version dirs present on disk

        def fold_ok(v: int) -> tuple[bool, str]:
            """Model replay_changelog(to_version=v): (feasible, why-not).
            The fold anchors at max(initial base, compacted base) and
            re-seeds at the latest surviving rebase marker <= v; it is
            feasible iff every version from that seed to v has a dir."""
            anchor = max(init_base or 1, compacted_to)
            if v < anchor:
                return False, "anchor"
            seeds = [r for r in rebases if r <= v and r in exported_dirs]
            if compacted_to and compacted_to <= v:
                seeds.append(compacted_to)
            if init_base and init_base <= v:
                seeds.append(init_base)
            s = max(seeds) if seeds else 1
            if any(w not in exported_dirs for w in range(s, v + 1)):
                return False, "missing"
            return True, ""

        for step in range(10):
            op = rng.choice(
                ["append", "delete", "export", "vacuum", "force_vacuum",
                 "evolve", "logcompact"]
            )
            if op == "logcompact":
                if not registered or cursor < 1:
                    continue
                v = rng.randint(1, cursor)
                ok, why = fold_ok(v)
                if not ok:
                    match = "fold anchor" if why == "anchor" else None
                    with pytest.raises(ValueError, match=match):
                        layout.compact_changelog(
                            spark, out, ["k"], through_version=v
                        )
                    logcompact_fired += 1
                    continue
                layout.compact_changelog(spark, out, ["k"], through_version=v)
                logcompact_fired += 1
                compacted_to = max(compacted_to, v)
                exported_dirs -= set(range(1, v))
                anchor = max(init_base or 1, compacted_to)
                # below-anchor pins refuse; an at-anchor pin answers
                # that era exactly (when the store can still check it)
                if anchor > 1:
                    with pytest.raises(ValueError, match="fold anchor"):
                        layout.replay_changelog(
                            spark, out, ["k"], to_version=anchor - 1
                        )
                if v >= floor_model:
                    era = layout.replay_changelog(
                        spark, out, ["k"], to_version=v
                    )
                    want_era = layout.read_snapshot(spark, path, v)
                    assert sorted(
                        tuple(r) for r in era.collect()
                    ) == sorted(tuple(r) for r in want_era.collect()), (
                        f"seed {seed} step {step}: at-anchor era mismatch"
                    )
            elif op == "evolve":
                new_col = f"val_s{step}"
                layout.evolve_schema(
                    spark, path, renames={val_col: new_col}
                )
                val_col = new_col
                latest += 1
                rebases.append(latest)
            elif op == "append":
                batch = {
                    k: fresh()
                    for k in rng.sample(range(10, 80), 3)
                    if k not in model
                }
                if not batch:
                    continue
                model.update(batch)
                layout.append_versioned(mk(sorted(batch.items())), path, ["k"])
                latest += 1
            elif op == "delete":
                m = rng.choice([3, 5])
                doomed = [k for k in model if k % m == 2]
                res = layout.delete_rows(spark, path, f"k % {m} = 2")
                if res["version"] is None:
                    assert not doomed
                    continue
                for k in doomed:
                    model.pop(k)
                latest += 1
            elif op == "export":
                got = layout.export_changes(spark, path, out, ["k"])
                if not registered and floor_model > 1:
                    # fresh export on a vacuumed store: initial base
                    init_base = floor_model
                    assert got == list(range(init_base, latest + 1))
                    with open(os.path.join(out, "_cursor.json")) as f:
                        assert json.load(f)["initial_base"] == init_base
                else:
                    assert got == list(range(cursor + 1, latest + 1))
                registered = True
                cursor = latest
                exported_dirs.update(got)
            elif op == "vacuum":
                before = rng.randint(1, latest)
                if registered and cursor < min(before, latest):
                    with pytest.raises(ValueError, match="strand"):
                        layout.expire_snapshots(path, before=before)
                    continue
                layout.expire_snapshots(path, before=before)
                floor_model = max(floor_model, min(before, latest))
            else:  # force_vacuum past the cursor (when it would strand)
                before = rng.randint(1, latest)
                floor = min(before, latest)
                if not registered or cursor >= floor:
                    layout.expire_snapshots(path, before=before)
                    floor_model = max(floor_model, floor)
                    continue
                layout.expire_snapshots(path, before=before, force=True)
                floor_model = max(floor_model, floor)
                gap_lo = min(gap_lo or (cursor + 1), cursor + 1)
                gap_hi = floor
                cursor = floor
                with open(os.path.join(out, "_cursor.json")) as f:
                    cur = json.load(f)
                assert cur["last_exported"] == floor
                assert cur["forced_gap"][1] == floor

            # live state always equals the model
            got = {
                r["k"]: r[val_col]
                for r in layout.read_snapshot(spark, path).collect()
            }
            assert got == model, f"seed {seed} step {step} op {op}"

        # drain the export, then check the changelog's answers
        got = layout.export_changes(spark, path, out, ["k"])
        if not registered and floor_model > 1:
            init_base = floor_model
        exported_dirs.update(got)
        for v in range(1, latest + 1):
            vd = os.path.join(out, "changes", f"to_version={v}")
            if os.path.isdir(vd):
                layout.read_changes(spark, out, v).count()
                # every EXPORTED break version carries its rebase
                # marker; so does a compacted base
                assert os.path.isfile(
                    os.path.join(vd, "_rebase.json")
                ) == (v in rebases or v == compacted_to), (
                    f"seed {seed}: v{v} marker mismatch"
                )
            elif v < compacted_to:
                # compacted-base explanation wins even inside a forced
                # gap — the base answers the version via replay
                with pytest.raises(ValueError, match="compacted base"):
                    layout.read_changes(spark, out, v)
            elif gap_lo and gap_lo <= v <= gap_hi:
                with pytest.raises(ValueError, match="force=True"):
                    layout.read_changes(spark, out, v)
            elif v < init_base:
                with pytest.raises(ValueError, match="initial snapshot base"):
                    layout.read_changes(spark, out, v)
            else:
                raise AssertionError(
                    f"seed {seed}: version {v} has no dir and no reason"
                )

        # replication. replay_changelog covers every shape the model
        # says is anchored past any gap (latest exported rebase marker
        # or compacted base or initial base with every dir from there);
        # otherwise the documented consumer contract is a snapshot
        # re-seed at the floor.
        ok, _ = fold_ok(latest)
        if ok:
            replica = layout.replay_changelog(spark, out, ["k"])
        else:
            seed_v = max(gap_hi, floor_model)
            replica = layout.read_snapshot(spark, path, seed_v)
            for v in range(seed_v + 1, latest + 1):
                replica = merge_changes(
                    replica,
                    layout.read_changes(spark, out, v),
                    ["k"],
                    partial_updates=False,
                ).localCheckpoint(eager=True)
        got = {r["k"]: r[val_col] for r in replica.collect()}
        assert got == model, f"seed {seed} fold"
    # the newest machinery must actually be exercised by the seeds
    assert logcompact_fired >= 4, (
        f"logcompact op fired only {logcompact_fired} times — reseed"
    )


def test_fresh_export_on_vacuumed_store_starts_at_base(spark, tmp_path):
    """A changelog ADDED to a store whose early history was already
    vacuumed cannot export v1 (its files are gone). Pin the initial-
    snapshot-base shape: the first run exports snapshot(floor) whole as
    'I' rows at to_version=floor, records initial_base, diffs continue
    from floor+1, read_changes explains pre-base versions, and a
    from-empty fold starting at the base equals the live state."""
    import json
    import os

    from chess_pos_db_spark.operators.merge import merge_changes

    path = str(tmp_path / "vac_first")
    out = str(tmp_path / "vac_first_log")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
    layout.append_versioned(mk([(1, "a"), (2, "b")]), path, ["k"])
    layout.append_versioned(mk([(3, "c")]), path, ["k"])
    layout.delete_rows(spark, path, "k = 1")          # v3
    layout.expire_snapshots(path, before=3)            # floor = 3
    layout.append_versioned(mk([(4, "d")]), path, ["k"])  # v4

    assert layout.export_changes(spark, path, out, ["k"]) == [3, 4]
    with open(os.path.join(out, "_cursor.json")) as f:
        cur = json.load(f)
    assert cur == {"last_exported": 4, "initial_base": 3}

    # the base version is the full snapshot(3) as inserts
    ch3 = layout.read_changes(spark, out, 3)
    assert sorted(
        (r["k"], r["op"], r["v"]) for r in ch3.collect()
    ) == [(2, "I", "b"), (3, "I", "c")]
    for v in (1, 2):
        with pytest.raises(ValueError, match="initial snapshot base"):
            layout.read_changes(spark, out, v)

    replica = spark.createDataFrame([], "k long, v string")
    for v in (3, 4):
        replica = merge_changes(
            replica, layout.read_changes(spark, out, v), ["k"],
            partial_updates=False,
        )
    got = sorted(tuple(r) for r in replica.collect())
    live = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert got == live == [(2, "b"), (3, "c"), (4, "d")]

    # a later run resumes with ordinary diffs
    layout.append_versioned(mk([(5, "e")]), path, ["k"])
    assert layout.export_changes(spark, path, out, ["k"]) == [5]
    with open(os.path.join(out, "_cursor.json")) as f:
        assert json.load(f)["initial_base"] == 3


def test_evolve_schema_rewrite_and_guards(spark, tmp_path):
    """Round-12 capability: NON-ADDITIVE evolution (rename/drop/retype)
    as an explicit schema-break rewrite. Live state answers the new
    schema; time travel below the break still answers the OLD one;
    snapshot_diff refuses to cross the break; the guards (unknown
    column, dropping a key, rename collisions, empty spec) are loud;
    a non-castable retype fails in-plan with OUR typed message and
    commits nothing; renaming a key column updates sort_key and the
    store's verbs keep working."""
    path = str(tmp_path / "evo_store")
    mk = lambda rows: spark.createDataFrame(rows, "k long, src string, txt string")
    layout.append_versioned(mk([(1, "a", "t1"), (2, "b", "t2"), (3, "c", "t3")]), path, ["k"])
    layout.delete_rows(spark, path, "k = 2")

    for kwargs, msg in [
        (dict(), "nothing to evolve"),
        (dict(renames={"nope": "x"}), "do not exist"),
        (dict(drops=["k"]), "sort-key column"),
        (dict(renames={"src": "txt"}), "collide"),
        (dict(renames={"src": "x", "txt": "x"}), "collide"),
        (dict(renames={"src": "y"}, drops=["src"]), "renamed and dropped"),
    ]:
        with pytest.raises(ValueError, match=msg):
            layout.evolve_schema(spark, path, **kwargs)

    res = layout.evolve_schema(
        spark, path, renames={"src": "origin"}, drops=["txt"]
    )
    assert res["version"] == 3 and res["rows"] == 2
    live = layout.read_snapshot(spark, path)
    assert live.columns == ["k", "origin"]
    assert sorted(tuple(r) for r in live.collect()) == [(1, "a"), (3, "c")]
    old = layout.read_snapshot(spark, path, 2)
    assert old.columns == ["k", "src", "txt"]
    m = layout.read_manifest(path)
    entry = [s for s in m["snapshots"] if s["id"] == 3][0]
    assert entry["schema_break"] is True
    assert entry["sort_key_after"] == ["k"]
    with pytest.raises(ValueError, match="non-additive"):
        layout.snapshot_diff(spark, path, 1, 3, ["k"])
    # same-era diffs still answer on both sides of the break
    layout.append_versioned(
        spark.createDataFrame([(9, "z")], "k long, origin string"), path, ["k"]
    )
    d = layout.snapshot_diff(spark, path, 3, 4, ["k"])
    assert [(r["k"], r["change"]) for r in d.collect()] == [(9, "added")]

    # non-castable retype: typed in-plan error, nothing committed
    p2 = str(tmp_path / "evo_badtype")
    layout.append_versioned(
        spark.createDataFrame([(1, "10"), (2, "xx")], "k long, n string"),
        p2, ["k"],
    )
    with pytest.raises(Exception, match="not castable to int"):
        layout.evolve_schema(spark, p2, retypes={"n": "int"})
    assert max(
        s["id"] for s in layout.read_manifest(p2)["snapshots"]
    ) == 1
    # castable retype (optionally combined with a rename) rewrites
    p3 = str(tmp_path / "evo_retype")
    layout.append_versioned(
        spark.createDataFrame([(1, "10"), (2, "20")], "k long, n string"),
        p3, ["k"],
    )
    layout.evolve_schema(spark, p3, retypes={"n": "int"}, renames={"n": "num"})
    live3 = layout.read_snapshot(spark, p3)
    assert dict(live3.dtypes) == {"k": "bigint", "num": "int"}
    assert sorted(tuple(r) for r in live3.collect()) == [(1, 10), (2, 20)]

    # key rename: sort_key follows, upsert on the new key works
    p4 = str(tmp_path / "evo_key")
    layout.append_versioned(
        spark.createDataFrame([(1, "a")], "k long, v string"), p4, ["k"]
    )
    layout.evolve_schema(spark, p4, renames={"k": "id"})
    assert layout.read_manifest(p4)["sort_key"] == ["id"]
    layout.upsert_rows(
        spark, p4,
        spark.createDataFrame([(2, "b", "I")], "id long, v string, op string"),
    )
    assert sorted(
        tuple(r) for r in layout.read_snapshot(spark, p4).collect()
    ) == [(1, "a"), (2, "b")]


@pytest.mark.slow
def test_changelog_rebase_across_schema_break(spark, tmp_path):
    """The CDC side of evolve_schema: the break version exports as a
    REBASE (full new-schema snapshot as 'I' rows + _rebase.json), and
    replay_changelog re-seeds its fold there — a from-empty replay to
    the head equals the live state (new schema), a replay pinned BELOW
    the break reproduces the old era, post-break deltas stay
    delta-sized, and a rebase on a RENAMED KEY folds under the marker's
    recorded key."""
    import json
    import os

    path = str(tmp_path / "rb_store")
    out = str(tmp_path / "rb_log")
    mk = lambda rows: spark.createDataFrame(rows, "k long, src string, txt string")
    layout.append_versioned(mk([(1, "a", "t1"), (2, "b", "t2"), (3, "c", "t3")]), path, ["k"])
    layout.delete_rows(spark, path, "k = 2")
    layout.evolve_schema(spark, path, renames={"src": "origin"}, drops=["txt"])
    assert layout.export_changes(spark, path, out, ["k"]) == [1, 2, 3]
    marker = os.path.join(out, "changes", "to_version=3", "_rebase.json")
    with open(marker) as f:
        assert json.load(f) == {"reason": "schema_break", "key": ["k"]}
    # rebase rows are the full snapshot as inserts
    v3 = layout.read_changes(spark, out, 3)
    assert sorted(
        (r["k"], r["op"], r["origin"]) for r in v3.collect()
    ) == [(1, "I", "a"), (3, "I", "c")]

    rep = layout.replay_changelog(spark, out, ["k"])
    assert rep.columns == ["k", "origin"]
    assert sorted(tuple(r) for r in rep.collect()) == [(1, "a"), (3, "c")]
    old = layout.replay_changelog(spark, out, ["k"], to_version=2)
    assert old.columns == ["k", "src", "txt"]
    assert sorted(tuple(r) for r in old.collect()) == [
        (1, "a", "t1"), (3, "c", "t3"),
    ]
    with pytest.raises(ValueError, match="not exported yet"):
        layout.replay_changelog(spark, out, ["k"], to_version=9)

    # post-break lifecycle keeps exporting plain deltas
    layout.append_versioned(
        spark.createDataFrame([(9, "z")], "k long, origin string"), path, ["k"]
    )
    layout.delete_rows(spark, path, "k = 1")
    assert layout.export_changes(spark, path, out, ["k"]) == [4, 5]
    assert not os.path.isfile(
        os.path.join(out, "changes", "to_version=4", "_rebase.json")
    )
    rep2 = layout.replay_changelog(spark, out, ["k"])
    want = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert sorted(tuple(r) for r in rep2.collect()) == want == [
        (3, "c"), (9, "z"),
    ]

    # key-renaming break: the fold switches to the marker's key
    p2 = str(tmp_path / "rb_key_store")
    out2 = str(tmp_path / "rb_key_log")
    layout.append_versioned(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        p2, ["k"],
    )
    layout.evolve_schema(spark, p2, renames={"k": "id"})
    layout.upsert_rows(
        spark, p2,
        spark.createDataFrame([(2, "B", "U")], "id long, v string, op string"),
    )
    assert layout.export_changes(spark, p2, out2, ["k"]) == [1, 2, 3]
    with open(os.path.join(out2, "changes", "to_version=2", "_rebase.json")) as f:
        assert json.load(f)["key"] == ["id"]
    rep3 = layout.replay_changelog(spark, out2, ["k"])
    assert rep3.columns == ["id", "v"]
    assert sorted(tuple(r) for r in rep3.collect()) == [(1, "a"), (2, "B")]


def test_compact_changelog_bounds_replay(spark, tmp_path):
    """Log compaction (round 12): versions up to V fold into ONE
    rebase-marked base; superseded dirs are deleted with a read_changes
    explanation; replay_changelog needs no new logic (a marked base is
    a marked base) and equals the live state; a rerun converges; later
    exports keep appending deltas and a head-compaction subsumes the
    old base; compaction composes with a schema-break rebase below it
    (the base folds under the era's key)."""
    import json
    import os

    path = str(tmp_path / "lc_store")
    out = str(tmp_path / "lc_log")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
    layout.append_versioned(mk([(1, "a"), (2, "b"), (3, "c")]), path, ["k"])
    layout.upsert_rows(
        spark, path,
        spark.createDataFrame(
            [(2, "B", "U"), (4, "d", "I")], "k long, v string, op string"
        ),
    )
    layout.delete_rows(spark, path, "k = 3")
    assert layout.export_changes(spark, path, out, ["k"]) == [1, 2, 3]

    res = layout.compact_changelog(spark, out, ["k"], through_version=2)
    assert res == {"base_version": 2, "dirs_removed": 1, "rows": 4}
    with pytest.raises(ValueError, match="compacted base"):
        layout.read_changes(spark, out, 1)
    # the base reflects state AT v2 (k=3 still present; v3's D applies
    # on replay), marked as a log-compaction rebase
    with open(os.path.join(out, "changes", "to_version=2", "_rebase.json")) as f:
        assert json.load(f) == {"reason": "log_compaction", "key": ["k"]}
    assert sorted(
        (r["k"], r["op"], r["v"])
        for r in layout.read_changes(spark, out, 2).collect()
    ) == [(1, "I", "a"), (2, "I", "B"), (3, "I", "c"), (4, "I", "d")]
    want = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert sorted(
        tuple(r) for r in layout.replay_changelog(spark, out, ["k"]).collect()
    ) == want

    # idempotent rerun; then more history and a head compaction
    assert layout.compact_changelog(
        spark, out, ["k"], through_version=2
    )["base_version"] == 2
    layout.append_versioned(mk([(9, "z")]), path, ["k"])
    assert layout.export_changes(spark, path, out, ["k"]) == [4]
    res2 = layout.compact_changelog(spark, out, ["k"])
    assert res2["base_version"] == 4 and res2["dirs_removed"] == 2
    want2 = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert sorted(
        tuple(r) for r in layout.replay_changelog(spark, out, ["k"]).collect()
    ) == want2
    with pytest.raises(ValueError, match="not exported yet"):
        layout.compact_changelog(spark, out, ["k"], through_version=9)

    # composes with a schema-break rebase below the compaction point
    p2 = str(tmp_path / "lc_break_store")
    o2 = str(tmp_path / "lc_break_log")
    layout.append_versioned(mk([(1, "a"), (2, "b")]), p2, ["k"])
    layout.evolve_schema(spark, p2, renames={"v": "w"})
    layout.upsert_rows(
        spark, p2,
        spark.createDataFrame([(3, "c", "I")], "k long, w string, op string"),
    )
    assert layout.export_changes(spark, p2, o2, ["k"]) == [1, 2, 3]
    layout.compact_changelog(spark, o2, ["k"])
    rep = layout.replay_changelog(spark, o2, ["k"])
    assert rep.columns == ["k", "w"]
    assert sorted(tuple(r) for r in rep.collect()) == sorted(
        tuple(r) for r in layout.read_snapshot(spark, p2).collect()
    )


def test_replay_changelog_refuses_pre_anchor_targets(spark, tmp_path):
    """A replay target below the fold anchor (initial base or compacted
    base) must REFUSE — an empty replica would silently masquerade as
    'state was empty'. At or above the anchor still answers."""
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")

    # initial-base anchor: store vacuumed before the first export
    p1 = str(tmp_path / "anchor_ib")
    o1 = str(tmp_path / "anchor_ib_log")
    layout.append_versioned(mk([(1, "a")]), p1, ["k"])
    layout.append_versioned(mk([(2, "b")]), p1, ["k"])
    layout.expire_snapshots(p1, before=2)
    assert layout.export_changes(spark, p1, o1, ["k"]) == [2]
    with pytest.raises(ValueError, match="fold anchor"):
        layout.replay_changelog(spark, o1, ["k"], to_version=1)
    assert sorted(
        tuple(r)
        for r in layout.replay_changelog(spark, o1, ["k"], to_version=2).collect()
    ) == [(1, "a"), (2, "b")]

    # compacted-base anchor
    p2 = str(tmp_path / "anchor_lc")
    o2 = str(tmp_path / "anchor_lc_log")
    for i in range(1, 4):
        layout.append_versioned(mk([(i, f"v{i}")]), p2, ["k"])
    layout.export_changes(spark, p2, o2, ["k"])
    layout.compact_changelog(spark, o2, ["k"], through_version=2)
    with pytest.raises(ValueError, match="fold anchor"):
        layout.replay_changelog(spark, o2, ["k"], to_version=1)
    assert sorted(
        tuple(r)
        for r in layout.replay_changelog(spark, o2, ["k"], to_version=2).collect()
    ) == [(1, "v1"), (2, "v2")]


def test_evolve_schema_simultaneous_rename_drop(spark, tmp_path):
    """Round-13 ADVICE regression: renames/drops/retypes apply as ONE
    simultaneous projection. renames={'a': 'b'} with drops=['b'] —
    which the sequential formulation silently destroyed (the rename
    product was dropped together with the original) — now replaces b
    with a's data; swap renames are well-defined; and the reported row
    count (observed in-flight, no post-write rescan) is exact."""
    path = str(tmp_path / "evo_replace")
    layout.append_versioned(
        spark.createDataFrame(
            [(1, "old1", "new1"), (2, "old2", "new2")],
            "k long, b string, a string",
        ),
        path, ["k"],
    )
    res = layout.evolve_schema(spark, path, renames={"a": "b"}, drops=["b"])
    assert res["rows"] == 2
    live = layout.read_snapshot(spark, path)
    assert live.columns == ["k", "b"]
    assert sorted(tuple(r) for r in live.collect()) == [
        (1, "new1"), (2, "new2"),
    ]

    # swap renames: each final column carries the OTHER's data
    p2 = str(tmp_path / "evo_swap")
    layout.append_versioned(
        spark.createDataFrame([(1, "x", "y")], "k long, a string, b string"),
        p2, ["k"],
    )
    layout.evolve_schema(spark, p2, renames={"a": "b", "b": "a"})
    row = layout.read_snapshot(spark, p2).collect()[0]
    assert row["b"] == "x" and row["a"] == "y"

    # duplicate FINAL names still refuse loudly (rename into a survivor)
    with pytest.raises(ValueError, match="collide"):
        layout.evolve_schema(spark, p2, renames={"a": "b"})


@pytest.mark.slow
def test_compact_changelog_swap_crash_windows(spark, tmp_path, monkeypatch):
    """Round-13 ADVICE regression: the compacted base commits via a
    staged temp dir + two-rename swap, so NO crash window can expose a
    folded state without its rebase marker (the old overwrite-then-mark
    order let replay fold an unmarked base as an ordinary 'I' delta and
    silently resurrect rows deleted at V). Windows exercised: (a) crash
    mid-staging — original delta untouched, replay unchanged, rerun
    sweeps the partial staging; (b) crash between the two renames —
    version dir briefly missing, recovery finishes the swap from the
    committed staging on the next changelog verb."""
    import os

    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
    path = str(tmp_path / "cw_store")
    out = str(tmp_path / "cw_log")
    layout.append_versioned(mk([(1, "a"), (2, "b"), (3, "c")]), path, ["k"])
    layout.delete_rows(spark, path, "k = 2")  # D exported at v2
    layout.append_versioned(mk([(9, "z")]), path, ["k"])
    assert layout.export_changes(spark, path, out, ["k"]) == [1, 2, 3]
    want = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    vdir = os.path.join(out, "changes", "to_version=2")

    # (a) crash while staging, BEFORE the marker lands in the temp dir
    real_replace = os.replace

    def die_on_marker(src, dst):
        if dst.endswith("_rebase.json") and ".__compact_tmp" in dst:
            raise RuntimeError("injected crash before marker")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", die_on_marker)
    with pytest.raises(RuntimeError, match="injected"):
        layout.compact_changelog(spark, out, ["k"], through_version=2)
    monkeypatch.setattr(os, "replace", real_replace)
    # original delta intact: v2 still holds the D, replay == model,
    # and rows deleted at v2 did NOT resurrect
    assert os.path.isdir(vdir)
    assert not os.path.isfile(os.path.join(vdir, "_rebase.json"))
    got = sorted(
        tuple(r) for r in layout.replay_changelog(spark, out, ["k"]).collect()
    )
    assert got == want and (2, "b") not in got
    # rerun sweeps the partial staging and completes
    res = layout.compact_changelog(spark, out, ["k"], through_version=2)
    assert res["base_version"] == 2
    assert not os.path.isdir(vdir + ".__compact_tmp")

    # (b) crash BETWEEN the two renames on a later compaction
    layout.delete_rows(spark, path, "k = 3")
    assert layout.export_changes(spark, path, out, ["k"]) == [4]
    want2 = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    vdir4 = os.path.join(out, "changes", "to_version=4")
    real_rename = os.rename

    def die_between_renames(src, dst):
        if src.endswith(".__compact_tmp"):
            raise RuntimeError("injected crash between renames")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", die_between_renames)
    with pytest.raises(RuntimeError, match="injected"):
        layout.compact_changelog(spark, out, ["k"], through_version=4)
    monkeypatch.setattr(os, "rename", real_rename)
    # the version dir is missing but the staging is COMPLETE (marker
    # present) — any changelog verb recovers it, and the recovered base
    # answers exactly
    assert not os.path.isdir(vdir4)
    assert os.path.isfile(
        os.path.join(vdir4 + ".__compact_tmp", "_rebase.json")
    )
    got2 = sorted(
        tuple(r) for r in layout.replay_changelog(spark, out, ["k"]).collect()
    )
    assert got2 == want2
    assert os.path.isdir(vdir4) and os.path.isfile(
        os.path.join(vdir4, "_rebase.json")
    )
    # rerun after recovery converges (cursor catch-up + dir sweep)
    res2 = layout.compact_changelog(spark, out, ["k"], through_version=4)
    assert res2["base_version"] == 4


def test_export_changes_accepts_any_era_key(spark, tmp_path):
    """Round-13 ADVICE regression: a fresh export over history
    containing schema breaks derives each version's ERA key from the
    breaks' recorded sort_key_before/after — passing the manifest's
    CURRENT (post-break) key used to fail loudly on every pre-break
    version because sort_key_before was recorded but never read.
    Both era keys produce byte-identical changelogs."""
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
    path = str(tmp_path / "era_store")
    layout.append_versioned(mk([(1, "a"), (2, "b")]), path, ["k"])
    layout.delete_rows(spark, path, "k = 2")
    layout.evolve_schema(spark, path, renames={"k": "id"})
    layout.upsert_rows(
        spark, path,
        spark.createDataFrame([(5, "e", "I")], "id long, v string, op string"),
    )
    want = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())

    # fresh export with the POST-break key (the manifest's current one)
    out_new = str(tmp_path / "era_log_newkey")
    assert layout.export_changes(
        spark, path, out_new, layout.read_manifest(path)["sort_key"]
    ) == [1, 2, 3, 4]
    rep = layout.replay_changelog(spark, out_new, ["id"])
    assert sorted(tuple(r) for r in rep.collect()) == want

    # fresh export with the PRE-break key converges identically
    out_old = str(tmp_path / "era_log_oldkey")
    assert layout.export_changes(spark, path, out_old, ["k"]) == [1, 2, 3, 4]
    rep2 = layout.replay_changelog(spark, out_old, ["k"])
    assert sorted(tuple(r) for r in rep2.collect()) == want
    # pre-break delta exported under the OLD era's key either way
    v2 = layout.read_changes(spark, out_new, 2)
    assert v2.columns[0] == "k"


@pytest.mark.slow
def test_replay_changelog_deep_log_bounded_plan(spark, tmp_path):
    """Round-13 brief #1: a long-uncompacted changelog (50+ versions)
    replays in bounded wall-time with a BOUNDED plan — the fold cuts
    lineage every _FOLD_CHECKPOINT_EVERY merges (localCheckpoint), so
    the analyzer never sees more than ~one checkpoint-window of stacked
    full-outer-joins, whatever the version count. Final state ≡ the
    store's live snapshot; an intermediate target answers its era."""
    import time

    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")
    path = str(tmp_path / "deep_store")
    out = str(tmp_path / "deep_log")
    n = 52
    layout.append_versioned(mk([(0, 0)]), path, ["k"])
    for i in range(1, n):
        # churn: every version upserts one key and rewrites another,
        # so the fold genuinely merges (not pure appends)
        layout.upsert_rows(
            spark, path,
            spark.createDataFrame(
                [(i, i, "I"), (i // 2, i * 10, "U")],
                "k long, v long, op string",
            ),
        )
    assert layout.export_changes(spark, path, out, ["k"]) == list(
        range(1, n + 1)
    )
    t0 = time.monotonic()
    rep = layout.replay_changelog(spark, out, ["k"])
    plan = rep._jdf.queryExecution().analyzed().toString()
    joins = plan.count("Join")
    assert joins <= 2 * layout._FOLD_CHECKPOINT_EVERY, (
        f"fold plan carries {joins} joins — lineage not being cut"
    )
    got = sorted(tuple(r) for r in rep.collect())
    elapsed = time.monotonic() - t0
    want = sorted(tuple(r) for r in layout.read_snapshot(spark, path).collect())
    assert got == want
    # generous ceiling: without the checkpoint the analyzer alone
    # takes minutes at this depth
    assert elapsed < 120, f"52-version replay took {elapsed:.0f}s"
    # an intermediate target still answers exactly
    mid = layout.replay_changelog(spark, out, ["k"], to_version=7)
    assert sorted(tuple(r) for r in mid.collect()) == sorted(
        tuple(r)
        for r in layout.read_snapshot(spark, path, 7).collect()
    )


def test_rekey_store_changes_identity_and_rides_rebase(spark, tmp_path):
    """Round-13 capability: rekey_store — the verb evolve_schema's
    dropped-key guard directs users to. Values unchanged, layout
    re-clustered, manifest sort_key updated; the fold identity changed
    so the version commits as a schema break and rides the rebase
    machinery: snapshot_diff refuses to cross it, the export emits a
    full 'I' rebase recording the NEW key, replay re-seeds there, and
    upsert/delete resolve on the new key afterwards. Guards: same key,
    unknown column, and a non-unique new key (named examples) all
    refuse before committing anything."""
    import json
    import os

    path = str(tmp_path / "rk_store")
    out = str(tmp_path / "rk_log")
    mk = lambda rows: spark.createDataFrame(
        rows, "k long, src string, v long"
    )
    layout.append_versioned(
        mk([(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)]),
        path, ["k"],
    )
    layout.delete_rows(spark, path, "k = 2")

    for kwargs, msg in [
        (dict(new_key=["k"]), "already keyed"),
        (dict(new_key=[]), "at least one column"),
        (dict(new_key=["nope"]), "do not exist"),
        (dict(new_key=["src", "src"]), "repeats"),
    ]:
        with pytest.raises(ValueError, match=msg):
            layout.rekey_store(spark, path, **kwargs)

    res = layout.rekey_store(spark, path, ["src", "k"])
    assert res == {
        "version": 3, "old_key": ["k"], "new_key": ["src", "k"], "rows": 3,
    }
    m = layout.read_manifest(path)
    assert m["sort_key"] == ["src", "k"]
    entry = [s for s in m["snapshots"] if s["id"] == 3][0]
    assert entry["schema_break"] is True
    assert entry["break_kind"] == "rekey"
    assert entry["sort_key_before"] == ["k"]
    assert entry["sort_key_after"] == ["src", "k"]
    # values untouched, time travel below the break intact
    want = [(1, "a", 10), (3, "c", 30), (4, "d", 40)]
    assert sorted(
        tuple(r) for r in layout.read_snapshot(spark, path).collect()
    ) == want
    assert sorted(
        tuple(r) for r in layout.read_snapshot(spark, path, 1).collect()
    ) == [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)]
    with pytest.raises(ValueError, match="non-additive|rebase"):
        layout.snapshot_diff(spark, path, 1, 3, ["k"])

    # upsert resolves on the NEW composite key
    layout.upsert_rows(
        spark, path,
        spark.createDataFrame(
            [("a", 1, 11, "U"), ("e", 9, 90, "I")],
            "src string, k long, v long, op string",
        ),
    )
    assert sorted(
        tuple(r) for r in layout.read_snapshot(spark, path).collect()
    ) == [(1, "a", 11), (3, "c", 30), (4, "d", 40), (9, "e", 90)]

    # changelog: the rekey version exports as a rebase under the new
    # key, and a from-empty replay equals the live state
    got = layout.export_changes(
        spark, path, out, layout.read_manifest(path)["sort_key"]
    )
    assert got == [1, 2, 3, 4]
    with open(os.path.join(out, "changes", "to_version=3", "_rebase.json")) as f:
        assert json.load(f)["key"] == ["src", "k"]
    live = layout.read_snapshot(spark, path)
    # the changelog's op-row shape is KEY-FIRST, so the replica's
    # column order is (src, k, v) while the store reads (k, src, v) —
    # align by name before comparing
    rep = layout.replay_changelog(spark, out, ["k"]).select(*live.columns)
    assert sorted(tuple(r) for r in rep.collect()) == sorted(
        tuple(r) for r in live.collect()
    )
    # pre-break era still answers under the old key
    pre = layout.replay_changelog(spark, out, ["k"], to_version=2)
    assert sorted(tuple(r) for r in pre.collect()) == [
        (1, "a", 10), (3, "c", 30), (4, "d", 40),
    ]

    # non-unique new key refuses with named examples, commits nothing
    p2 = str(tmp_path / "rk_dup")
    layout.append_versioned(
        mk([(1, "a", 10), (2, "a", 20), (3, "b", 30)]), p2, ["k"]
    )
    with pytest.raises(ValueError, match="not unique.*src='a'"):
        layout.rekey_store(spark, p2, ["src"])
    assert max(s["id"] for s in layout.read_manifest(p2)["snapshots"]) == 1
    assert layout.read_manifest(p2)["sort_key"] == ["k"]


@pytest.mark.slow
def test_rekey_lifecycle_randomized_against_model(spark, tmp_path):
    """Model-based differential for REKEY interleavings: seeded random
    sequences of append / upsert / delete / REKEY (sort key toggling
    among ['a'], ['b'], ['b','a']) / export. Rows carry two stable
    unique identities (b = a + 1000), so every batch is valid under
    whichever key is current while the model stays keyed by 'a'.
    Invariants: live state equals the model after every step; rekey
    preserves values exactly; the manifest's sort_key always matches
    the last rekey; and the final changelog replay (re-seeded at the
    newest rekey's rebase) equals the model."""
    import random

    key_choices = [["a"], ["b"], ["b", "a"]]
    for seed in range(4):
        rng = random.Random(700 + seed)
        path = str(tmp_path / f"rkr_store_{seed}")
        out = str(tmp_path / f"rkr_log_{seed}")
        model: dict[int, int] = {}
        cur_key = ["a"]
        nxt = [0]

        def fresh():
            nxt[0] += 1
            return nxt[0]

        def mk(ks):
            return spark.createDataFrame(
                sorted((k, k + 1000, model[k]) for k in ks),
                "a long, b long, v long",
            )

        first = rng.sample(range(50), 5)
        for k in first:
            model[k] = fresh()
        layout.append_versioned(mk(first), path, cur_key)

        for step in range(8):
            op = rng.choice(["append", "upsert", "delete", "rekey", "export"])
            if op == "rekey":
                new_key = rng.choice(
                    [kc for kc in key_choices if kc != cur_key]
                )
                res = layout.rekey_store(spark, path, new_key)
                assert res["old_key"] == cur_key
                assert res["rows"] == len(model)
                cur_key = new_key
                assert layout.read_manifest(path)["sort_key"] == new_key
            elif op == "append":
                fresh_ks = [
                    k for k in rng.sample(range(200), 4) if k not in model
                ]
                if not fresh_ks:
                    continue
                for k in fresh_ks:
                    model[k] = fresh()
                layout.append_versioned(mk(fresh_ks), path, cur_key)
            elif op == "upsert":
                rows = []
                for k in rng.sample(sorted(model), min(2, len(model))):
                    model[k] = fresh()
                    rows.append((k, k + 1000, model[k], "U"))
                for k in rng.sample(range(300, 340), 1):
                    if k not in model:
                        model[k] = fresh()
                        rows.append((k, k + 1000, model[k], "I"))
                layout.upsert_rows(
                    spark, path,
                    spark.createDataFrame(
                        rows, "a long, b long, v long, op string"
                    ),
                )
            elif op == "delete":
                m = rng.choice([3, 5])
                layout.delete_rows(spark, path, f"a % {m} = 2")
                for k in [k for k in model if k % m == 2]:
                    model.pop(k)
            else:
                layout.export_changes(spark, path, out, cur_key)

            got = {
                r["a"]: (r["b"], r["v"])
                for r in layout.read_snapshot(spark, path).collect()
            }
            assert got == {
                k: (k + 1000, v) for k, v in model.items()
            }, f"seed {seed} step {step} op {op}"

        layout.export_changes(spark, path, out, cur_key)
        rep = layout.replay_changelog(spark, out, ["a"])
        got = {r["a"]: (r["b"], r["v"]) for r in rep.collect()}
        assert got == {
            k: (k + 1000, v) for k, v in model.items()
        }, f"seed {seed} replay"


def test_adaptive_run_sizing(spark, entries, tmp_path):
    """Sorted-run sinks size their output from ACTUAL shuffle bytes:
    an explicit caller count always wins (N files), while the default
    lets AQE coalesce adjacent range partitions, so a fixture-sized
    run collapses to a handful of right-sized files instead of a
    constant-32 spray of near-empty ones — and the coalesced run stays
    key-clustered (file key ranges disjoint), so zone-map pruning is
    unaffected."""
    import glob
    import os as _os

    df = entries.select("l_orderkey", "l_partkey", "l_quantity")

    exp = str(tmp_path / "explicit")
    layout.write_sorted_run(df, exp, key=["l_orderkey"], partitions=7)
    assert len(glob.glob(_os.path.join(exp, "*.parquet"))) == 7

    ada = str(tmp_path / "adaptive")
    layout.write_sorted_run(df, ada, key=["l_orderkey"])
    files = sorted(glob.glob(_os.path.join(ada, "*.parquet")))
    # ~300 KB of data: AQE coalesces far below the old constant 32;
    # exact count depends on advisory sizing, so pin the bound.
    assert 1 <= len(files) <= 4, files

    # key-clustering survives coalescing: per-file ranges are disjoint
    ranges = []
    for f in files:
        pf = spark.read.parquet(f)
        r = pf.agg(
            F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi")
        ).collect()[0]
        ranges.append((r["lo"], r["hi"]))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo

    # same rows either way
    assert (
        spark.read.parquet(ada).count() == spark.read.parquet(exp).count()
    )


def test_snapshot_verbs_write_exact_manifest(spark, tmp_path):
    """Manifest shape of every snapshot verb, pinned on one store: each
    commit appends exactly this entry dict and records exactly this
    top-level sort_key and schema; earlier entries never change, and no
    version dir gets a _meta.json of its own."""
    import json
    import os

    from pyspark.sql import types as T

    def schema(*cols):
        return T.StructType(
            [T.StructField(c, typ, True) for c, typ in cols]
        ).json()

    k, key, cnt, tag = (
        ("k", T.LongType()), ("key", T.LongType()),
        ("cnt", T.LongType()), ("tag", T.StringType()),
    )
    path = str(tmp_path / "store")
    want: list[dict] = []

    def check(entry, sort_key, sch):
        want.append(entry)
        m = layout.read_manifest(path)
        assert m["snapshots"] == want
        assert (m["format"], m["version"]) == (layout.FORMAT_NAME, 1)
        assert m["sort_key"] == sort_key
        assert m["schema"] == sch
        assert not os.path.exists(
            os.path.join(path, entry["dirs"][0], layout.MANIFEST_NAME)
        )

    def rows(data):
        return spark.createDataFrame(data, "k long, cnt long")

    layout.append_versioned(rows([(1, 1), (2, 1)]), path, ["k"], partitions=1)
    check({"id": 1, "dirs": ["v1"], "supersedes": []}, ["k"], schema(k, cnt))
    layout.append_versioned(rows([(2, 1), (3, 1)]), path, ["k"], partitions=1)
    check({"id": 2, "dirs": ["v2"], "supersedes": []}, ["k"], schema(k, cnt))

    layout.compact_versioned(spark, path, ["k"], {"cnt": "sum"}, partitions=1)
    check(
        {"id": 3, "dirs": ["v3"], "supersedes": [1, 2]}, ["k"],
        schema(k, cnt),
    )

    layout.delete_rows(spark, path, "k = 1", partitions=1)
    check(
        {"id": 4, "dirs": ["v4"], "files": [], "supersedes": [3]}, ["k"],
        schema(k, cnt),
    )

    # an insert of a new key touches no file: v4's one file carries
    # into v5 by reference, and the batch adds the `tag` column
    (v4_file,) = [
        os.path.join("v4", f)
        for f in os.listdir(os.path.join(path, "v4"))
        if f.endswith(".parquet")
    ]
    layout.upsert_rows(
        spark, path,
        spark.createDataFrame(
            [(9, 5, "x", "I")], "k long, cnt long, tag string, op string"
        ),
        partitions=1, allow_new_columns=True,
    )
    check(
        {"id": 5, "dirs": ["v5"], "files": [v4_file], "supersedes": [4]},
        ["k"], schema(k, cnt, tag),
    )

    layout.evolve_schema(spark, path, renames={"k": "key"}, partitions=1)
    check(
        {
            "id": 6, "dirs": ["v6"], "supersedes": [5],
            "schema_break": True, "break_kind": "evolve",
            "sort_key_before": ["k"], "sort_key_after": ["key"],
        },
        ["key"], schema(key, cnt, tag),
    )

    layout.rekey_store(spark, path, ["cnt", "key"], partitions=1)
    check(
        {
            "id": 7, "dirs": ["v7"], "supersedes": [6],
            "schema_break": True, "break_kind": "rekey",
            "sort_key_before": ["key"], "sort_key_after": ["cnt", "key"],
        },
        ["cnt", "key"], schema(key, cnt, tag),
    )
    with open(os.path.join(path, layout.MANIFEST_NAME)) as f:
        assert set(json.load(f)) == {
            "format", "version", "sort_key", "snapshots", "schema"
        }
