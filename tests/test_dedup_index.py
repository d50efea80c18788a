"""Persistent MinHash-LSH index lifecycle: build → append → probe →
compact, with the same guarantees as the postings index (doc-disjoint
generations, single meta commit, probe ≡ fresh rebuild)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from chess_pos_db_spark.llm import dedup_index as DI
from chess_pos_db_spark.tables import fingerprint, t


def _drop_prefix(spark, *prefixes):
    for name in list(spark.catalog.listTables()):
        if name.name.startswith(prefixes):
            spark.sql(f"DROP TABLE IF EXISTS {name.name}")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.slow
def test_append_probe_equals_fresh_rebuild_and_compacts(spark, sf_dir):
    """A base+delta index must answer the probe EXACTLY like a fresh
    index over the union; compaction folds generations without changing
    a single answer and drops the delta tables."""
    docs = t(spark, sf_dir, "documents")
    first = docs.filter(F.col("doc_id") % 3 == 0)
    second = docs.filter(F.col("doc_id") % 3 == 1)
    batch = docs.filter(F.col("doc_id") % 3 == 2)
    try:
        DI.build_lsh_index(spark, first, "lsht_inc")
        DI.append_to_lsh_index(spark, second, "lsht_inc")
        DI.build_lsh_index(spark, first.unionByName(second), "lsht_full")
        want = _rows(DI.probe_lsh_index(spark, batch, "lsht_full"))
        assert _rows(DI.probe_lsh_index(spark, batch, "lsht_inc")) == want
        assert len(want) > 0  # fixture actually exercises collisions

        DI.compact_lsh_index(spark, "lsht_inc")
        assert DI._generations(spark, "lsht_inc") == [""]
        live = {x.name for x in spark.catalog.listTables()}
        assert "lsht_inc_bands_d1" not in live
        assert "lsht_inc_docs_d1" not in live
        assert _rows(DI.probe_lsh_index(spark, batch, "lsht_inc")) == want
    finally:
        _drop_prefix(spark, "lsht_inc", "lsht_full")


def test_append_rejects_overlap_and_within_batch_dups(spark, sf_dir):
    """Overlapping doc_ids would make a doc its own near-dup; duplicate
    rows in one batch would MinHash the union of two token streams —
    both fail loudly."""
    docs = t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    try:
        DI.build_lsh_index(spark, base, "lsht_guard")
        with pytest.raises(ValueError, match="doc-disjoint"):
            DI.append_to_lsh_index(spark, base.limit(3), "lsht_guard")
        dup = base.limit(1).unionByName(base.limit(1))
        with pytest.raises(ValueError, match="duplicate doc_id"):
            DI.append_to_lsh_index(spark, dup, "lsht_guard", check_disjoint=False)
        # nothing was committed by the failed appends
        assert DI._generations(spark, "lsht_guard") == [""]
    finally:
        _drop_prefix(spark, "lsht_guard")


def test_ensure_lsh_index_builds_once_and_detects_staleness(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    try:
        assert DI.ensure_lsh_index(spark, half, "lsht_ens") is True
        lazy = DI.probe_lsh_index(
            spark, docs.filter(F.col("doc_id") % 2 == 1), "lsht_ens"
        )
        assert DI.ensure_lsh_index(spark, half, "lsht_ens") is False
        assert len(lazy.collect()) > 0  # no drop/rewrite raced the plan
        shrunk = half.filter(F.col("doc_id") % 4 == 0)
        assert DI.ensure_lsh_index(spark, shrunk, "lsht_ens") is True
        assert DI._read_meta(spark, "lsht_ens")["n_docs"] == shrunk.count()
    finally:
        _drop_prefix(spark, "lsht_ens")


def test_probe_plan_never_shuffles_the_index_side(spark, sf_dir):
    """The probe's work must be batch-sized: the stored bands table
    reads in its bucket layout (its scan carries the bucket spec and
    sits under no Exchange) and the whole plan stays within the
    batch-signature + join-align + final-agg exchange budget."""
    import re

    docs = t(spark, sf_dir, "documents")
    try:
        DI.build_lsh_index(spark, docs.filter(F.col("doc_id") % 2 == 0), "lsht_plan")
        probe = DI.probe_lsh_index(
            spark, docs.filter(F.col("doc_id") % 2 == 1), "lsht_plan"
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        n_ex = len(
            re.findall(
                r"Exchange (?:hash|range|rangepartitioning|SinglePartition)",
                plan,
            )
        )
        assert n_ex <= 3, f"probe plan grew exchanges ({n_ex}):\n{plan[:3000]}"
        assert "Bucketed: true" in plan, plan[:3000]
    finally:
        _drop_prefix(spark, "lsht_plan")


@pytest.mark.slow
def test_stream_lsh_maintenance_appends_and_replays_idempotently(
    spark, sf_dir, tmp_path
):
    """A document file stream keeps the LSH index fresh: each
    micro-batch lands as a delta generation and the final index probes
    exactly like a fresh build over everything indexed. A wiped
    checkpoint replays every batch — all must be content-skipped,
    leaving generations and probe answers untouched."""
    import glob
    import shutil

    docs = t(spark, sf_dir, "documents")
    src = tmp_path / "docstream"
    src.mkdir()
    for i in (1, 2):
        staged = str(tmp_path / f"stage{i}")
        docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staged)
        shutil.copy(
            glob.glob(f"{staged}/part-*.parquet")[0], str(src / f"b{i}.parquet")
        )
    probe_batch = docs.filter(F.col("doc_id") % 4 == 3)
    chk = str(tmp_path / "chk")
    try:
        DI.build_lsh_index(spark, docs.filter(F.col("doc_id") % 4 == 0), "lshstr")
        DI.stream_lsh_maintenance(
            spark, str(src), "lshstr", chk, max_files_per_trigger=1
        )
        n_gens = len(DI._generations(spark, "lshstr"))
        assert n_gens >= 2  # at least one delta landed as its own batch

        DI.build_lsh_index(
            spark, docs.filter(F.col("doc_id") % 4 < 3), "lshstr_full"
        )
        want = _rows(DI.probe_lsh_index(spark, probe_batch, "lshstr_full"))
        assert _rows(DI.probe_lsh_index(spark, probe_batch, "lshstr")) == want

        # wiped checkpoint → full replay → every batch content-skipped
        shutil.rmtree(chk)
        DI.stream_lsh_maintenance(
            spark, str(src), "lshstr", chk, max_files_per_trigger=1
        )
        assert len(DI._generations(spark, "lshstr")) == n_gens
        assert _rows(DI.probe_lsh_index(spark, probe_batch, "lshstr")) == want
    finally:
        _drop_prefix(spark, "lshstr")


def test_probe_of_already_indexed_docs_excludes_self_matches(spark, sf_dir):
    """Re-probing a committed batch must not report each doc as a
    near-dup of ITSELF — only collisions with other indexed docs
    count (a min-aggregate over unexcluded self-pairs would also
    corrupt match_id for docs with real matches)."""
    docs = t(spark, sf_dir, "documents")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    try:
        DI.build_lsh_index(spark, half, "lsht_self")
        res = {r["doc_id"]: r["match_id"]
               for r in DI.probe_lsh_index(spark, half, "lsht_self").collect()}
        assert all(m != d for d, m in res.items())
        # and match_id is never polluted by the self-pair minimum
        fresh = DI.probe_lsh_index(
            spark, docs.filter(F.col("doc_id") % 2 == 1), "lsht_self"
        )
        assert all(r["match_id"] % 2 == 0 for r in fresh.collect())
    finally:
        _drop_prefix(spark, "lsht_self")


@pytest.mark.slow
def test_stream_lsh_dedup_gate_greedy_semantics_and_replay(
    spark, sf_dir, tmp_path
):
    """The streaming curation gate must implement greedy corpus-level
    near-dup admission: a doc is kept iff it has no LSH collision with
    any PREVIOUSLY KEPT doc (seed corpus or earlier batches) — verified
    against an independent python simulation over the full candidate
    pair set. A wiped checkpoint replays every batch without changing
    the kept set or the generation count."""
    import glob
    import shutil

    docs = t(spark, sf_dir, "documents")
    # batch 1: fixture docs (the sf0.001 LSH graph is dense — these all
    # collide with the seed, exercising rejection); batch 2: synthetic
    # novel docs with disjoint gibberish vocabularies — zero collisions,
    # exercising admission. Both paths must be non-trivial or the test
    # proves nothing.
    max_id = docs.agg(F.max("doc_id")).first()[0]
    novel = spark.createDataFrame(
        [
            (
                max_id + 1 + i,
                " ".join(f"zqx{i}w{j}" for j in range(30)),
                "xx",
                "synthetic",
                0,
            )
            for i in range(5)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    src = tmp_path / "docstream"
    src.mkdir()
    batches = []
    for i, b in ((1, docs.filter(F.col("doc_id") % 4 == 1)), (2, novel)):
        batches.append({r["doc_id"] for r in b.select("doc_id").collect()})
        staged = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.mode("overwrite").parquet(staged)
        shutil.copy(
            glob.glob(f"{staged}/part-*.parquet")[0], str(src / f"b{i}.parquet")
        )
    seed = docs.filter(F.col("doc_id") % 4 == 0)
    seed_ids = {r["doc_id"] for r in seed.select("doc_id").collect()}

    # independent greedy ground truth over the full LSH candidate graph
    from chess_pos_db_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    adj: dict[int, set[int]] = {}
    universe = docs.select("doc_id", "text").unionByName(
        novel.select("doc_id", "text")
    )
    for r in lsh_candidate_pairs(minhash_signatures(universe)).collect():
        adj.setdefault(r["doc_a"], set()).add(r["doc_b"])
        adj.setdefault(r["doc_b"], set()).add(r["doc_a"])
    kept = set(seed_ids)
    for batch in batches:
        rejected = {d for d in batch if adj.get(d, set()) & kept}
        kept |= batch - rejected

    chk = str(tmp_path / "chk")
    try:
        DI.build_lsh_index(spark, seed, "lshgate")
        DI.stream_lsh_dedup_gate(
            spark, str(src), "lshgate", chk, max_files_per_trigger=1
        )
        got = {r["doc_id"] for r in DI.kept_doc_ids(spark, "lshgate").collect()}
        assert got == kept
        assert kept - seed_ids  # some batch docs survived
        assert set().union(*batches) - kept  # and some were rejected
        n_gens = len(DI._generations(spark, "lshgate"))

        shutil.rmtree(chk)
        DI.stream_lsh_dedup_gate(
            spark, str(src), "lshgate", chk, max_files_per_trigger=1
        )
        assert {
            r["doc_id"] for r in DI.kept_doc_ids(spark, "lshgate").collect()
        } == kept
        assert len(DI._generations(spark, "lshgate")) == n_gens
    finally:
        _drop_prefix(spark, "lshgate")


# --- property pin: the whole index pipeline vs a pure-python twin -----------

from hypothesis import given, settings, strategies as st  # noqa: E402

_VOCAB = ["aa", "bb", "cc", "dd", "ee"]


def _py_md5_long(s: str, start: int = 1, length: int = 15) -> int:
    import hashlib

    return int(
        hashlib.md5(s.encode()).hexdigest()[start - 1 : start - 1 + length], 16
    )


def _py_bands(text: str) -> set[str]:
    """Pure-python twin of minhash_signatures + banded_keys (md5 K-M
    family, 16 hashes, 8 bands x 2 rows, band index embedded)."""
    toks = text.split(" ")
    h = [(_py_md5_long(t) % (1 << 58), _py_md5_long(t, 16) % (1 << 58)) for t in toks]
    mh = [
        min((h1 + i * h2) % ((1 << 61) - 1) for h1, h2 in h) for i in range(16)
    ]
    return {f"{b}|{mh[2 * b]}|{mh[2 * b + 1]}" for b in range(8)}


_spark_holder = {}


@pytest.fixture(autouse=True)
def _stash_spark(spark):
    _spark_holder["spark"] = spark


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=5).map(" ".join),
        min_size=4,
        max_size=10,
    )
)
@pytest.mark.slow
def test_probe_matches_pure_python_pipeline(texts):
    """For arbitrary tiny corpora, build-on-evens + probe-odds must
    return exactly the pure-python minhash/banding collision answer:
    (doc_id, min indexed doc sharing a band), no self-pairs."""
    spark = _spark_holder["spark"]
    rows = [
        (i, tx, "en", "s", len(tx)) for i, tx in enumerate(texts)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    indexed = {i: _py_bands(tx) for i, tx in enumerate(texts) if i % 2 == 0}
    want = {}
    for i, tx in enumerate(texts):
        if i % 2 == 0:
            continue
        b = _py_bands(tx)
        hits = [j for j, jb in indexed.items() if b & jb]
        if hits:
            want[i] = min(hits)
    try:
        DI.build_lsh_index(
            spark, docs.filter(F.col("doc_id") % 2 == 0), "lsht_hyp", buckets=4
        )
        got = {
            r["doc_id"]: r["match_id"]
            for r in DI.probe_lsh_index(
                spark, docs.filter(F.col("doc_id") % 2 == 1), "lsht_hyp"
            ).collect()
        }
        assert got == want
    finally:
        _drop_prefix(spark, "lsht_hyp")


def test_mega_bucket_probe_is_bucket_bounded_and_exact(spark):
    """THE motivating skew case: 150 identical boilerplate docs share
    every band bucket. Top-2 storage keeps each bucket one row, and a
    50-doc probe batch must still match every doc to the smallest
    indexed copy — with the join output bounded by buckets, not by the
    150-deep occupancy."""
    rows = [
        (i, "lorem ipsum dolor sit amet boilerplate", "en", "s", 38)
        for i in range(200)
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs = spark.createDataFrame(rows, schema)
    try:
        DI.build_lsh_index(
            spark, docs.filter(F.col("doc_id") < 150), "lsht_mega", buckets=4
        )
        # one row per bucket, not one per (bucket, member): 8 bands of
        # one shared signature = at most 8 stored rows for 150 docs
        assert spark.table("lsht_mega_bands").count() <= 8
        got = {
            r["doc_id"]: r["match_id"]
            for r in DI.probe_lsh_index(
                spark, docs.filter(F.col("doc_id") >= 150), "lsht_mega"
            ).collect()
        }
        assert got == {i: 0 for i in range(150, 200)}
        # re-probe of the committed minimum itself: min2 answers
        self_probe = {
            r["doc_id"]: r["match_id"]
            for r in DI.probe_lsh_index(
                spark, docs.filter(F.col("doc_id") == 0), "lsht_mega"
            ).collect()
        }
        assert self_probe == {0: 1}
    finally:
        _drop_prefix(spark, "lsht_mega")


@pytest.mark.slow
def test_append_crash_before_meta_commit_replays_cleanly(
    spark, sf_dir, monkeypatch
):
    """A crash AFTER the delta tables land but BEFORE the meta write
    must leave the index answering from the committed state (the delta
    invisible), and a retried append must overwrite the orphan tables
    and commit — the single-commit-point contract, exercised."""
    docs = t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    delta = docs.filter(F.col("doc_id") % 3 == 1)
    batch = docs.filter(F.col("doc_id") % 3 == 2)
    try:
        DI.build_lsh_index(spark, base, "lsht_crash")
        before = _rows(DI.probe_lsh_index(spark, batch, "lsht_crash"))

        real_write_meta = DI._write_meta

        def dying_write_meta(*a, **kw):
            raise RuntimeError("simulated crash before the meta commit")

        monkeypatch.setattr(DI, "_write_meta", dying_write_meta)
        with pytest.raises(RuntimeError, match="simulated crash"):
            DI.append_to_lsh_index(spark, delta, "lsht_crash")
        monkeypatch.setattr(DI, "_write_meta", real_write_meta)

        # uncommitted: generation list unchanged, probes see only base
        assert DI._generations(spark, "lsht_crash") == [""]
        assert _rows(DI.probe_lsh_index(spark, batch, "lsht_crash")) == before

        # replay commits; the index now answers like a fresh build
        DI.append_to_lsh_index(spark, delta, "lsht_crash")
        DI.build_lsh_index(spark, base.unionByName(delta), "lsht_crash_full")
        want = _rows(DI.probe_lsh_index(spark, batch, "lsht_crash_full"))
        assert _rows(DI.probe_lsh_index(spark, batch, "lsht_crash")) == want
    finally:
        _drop_prefix(spark, "lsht_crash", "lsht_crash_full")


def test_compact_crash_between_swaps_fails_loudly_not_silently(
    spark, sf_dir, monkeypatch
):
    """compact is documented NOT crash-atomic across the two table
    families: a crash between the bands swap and the docs swap must
    leave every subsequent read FAILING LOUDLY (meta points at dropped
    generation tables) — never serving a half-compacted answer."""
    from chess_pos_db_spark.plans import bucketing as B

    docs = t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    delta = docs.filter(F.col("doc_id") % 3 == 1)
    batch = docs.filter(F.col("doc_id") % 3 == 2)
    try:
        DI.build_lsh_index(spark, base, "lsht_cswap")
        DI.append_to_lsh_index(spark, delta, "lsht_cswap")

        real = B.write_bucketed

        def dying(df, table, *a, **kw):
            if table == "lsht_cswap_docs_stage":
                raise RuntimeError("simulated crash between family swaps")
            return real(df, table, *a, **kw)

        monkeypatch.setattr(B, "write_bucketed", dying)
        with pytest.raises(RuntimeError, match="between family swaps"):
            DI.compact_lsh_index(spark, "lsht_cswap")
        monkeypatch.setattr(B, "write_bucketed", real)

        # bands generations were folded+dropped, meta still says 1 delta
        # -> the probe must raise (missing table), not half-answer
        with pytest.raises(Exception, match="(?i)table|not.*found"):
            DI.probe_lsh_index(spark, batch, "lsht_cswap").collect()
    finally:
        _drop_prefix(spark, "lsht_cswap")


@pytest.mark.slow
def test_maybe_compact_threshold_cadence(spark, sf_dir):
    """maybe_compact runs only past the generation threshold, and the
    postings twin behaves identically — both preserve answers."""
    from chess_pos_db_spark.llm import search as S

    docs = t(spark, sf_dir, "documents")
    try:
        DI.build_lsh_index(spark, docs.filter(F.col("doc_id") % 3 == 0), "lsht_mc")
        DI.append_to_lsh_index(spark, docs.filter(F.col("doc_id") % 3 == 1), "lsht_mc")
        batch = docs.filter(F.col("doc_id") % 3 == 2)
        want = _rows(DI.probe_lsh_index(spark, batch, "lsht_mc"))
        assert DI.maybe_compact_lsh_index(spark, "lsht_mc", max_generations=2) is False
        assert DI._generations(spark, "lsht_mc") == ["", "_d1"]
        assert DI.maybe_compact_lsh_index(spark, "lsht_mc", max_generations=1) is True
        assert DI._generations(spark, "lsht_mc") == [""]
        assert _rows(DI.probe_lsh_index(spark, batch, "lsht_mc")) == want

        S.build_inverted_index(spark, docs.filter(F.col("doc_id") % 2 == 0), "ixmc")
        S.append_to_index(spark, docs.filter(F.col("doc_id") % 2 == 1), "ixmc")
        swant = [tuple(r) for r in S.search_indexed(spark, "ixmc", S._QUERY_TERMS).collect()]
        assert S.maybe_compact_index(spark, "ixmc", max_generations=2) is False
        assert S.maybe_compact_index(spark, "ixmc", max_generations=1) is True
        assert S._generations(spark, "ixmc") == [""]
        assert [tuple(r) for r in S.search_indexed(spark, "ixmc", S._QUERY_TERMS).collect()] == swant
    finally:
        _drop_prefix(spark, "lsht_mc")
        for name in list(spark.catalog.listTables()):
            if name.name.startswith("ixmc"):
                spark.sql(f"DROP TABLE IF EXISTS {name.name}")


@pytest.mark.slow
def test_delete_probe_equals_fresh_build_on_live_corpus(spark, sf_dir):
    """Deleting a slice must make the probe answer EXACTLY like a fresh
    index over the live corpus — including matches whose only link was
    a deleted doc, and buckets where the deleted doc was the stored
    minimum (the membership sidecar must recover the next live
    member). Works across generations; untouched generations keep
    their tables. Deletes of unknown ids fail loudly."""
    docs = t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    delta = docs.filter(F.col("doc_id") % 3 == 1)
    batch = docs.filter(F.col("doc_id") % 3 == 2)
    # the deleted slice spans BOTH generations and, being the smallest
    # ids in many buckets, includes stored minima
    doomed_pred = (F.col("doc_id") % 3 < 2) & (F.col("doc_id") % 7 == 0)
    doomed = docs.filter(doomed_pred).select("doc_id")
    live = docs.filter((F.col("doc_id") % 3 < 2) & ~doomed_pred)
    try:
        DI.build_lsh_index(spark, base, "lshdel_inc")
        DI.append_to_lsh_index(spark, delta, "lshdel_inc")
        n = DI.delete_from_lsh_index(spark, doomed, "lshdel_inc")
        assert n == doomed.count() > 0

        DI.build_lsh_index(spark, live, "lshdel_ref")
        want = _rows(DI.probe_lsh_index(spark, batch, "lshdel_ref"))
        assert _rows(DI.probe_lsh_index(spark, batch, "lshdel_inc")) == want
        assert len(want) > 0

        # meta reflects the live corpus (ensure-style staleness math)
        m = DI._read_meta(spark, "lshdel_inc")
        n_live, s_live = fingerprint(live, "doc_id")
        assert (m["n_docs"], m["fp_sum_ids"]) == (n_live, s_live)

        # the curation-gate state excludes deleted ids
        assert DI.kept_doc_ids(spark, "lshdel_inc").join(
            doomed, "doc_id", "left_semi"
        ).count() == 0

        # unknown ids fail loudly (including re-deleting the same ids)
        with pytest.raises(ValueError, match="not present"):
            DI.delete_from_lsh_index(spark, doomed, "lshdel_inc")

        # compaction purges the masked membership rows physically and
        # answers unchanged; post-compact deletes still work (the
        # compacted members table carries full live membership)
        DI.compact_lsh_index(spark, "lshdel_inc")
        assert DI._generations(spark, "lshdel_inc") == [""]
        assert spark.table("lshdel_inc_members").join(
            doomed, "doc_id", "left_semi"
        ).count() == 0
        assert _rows(DI.probe_lsh_index(spark, batch, "lshdel_inc")) == want

        doomed2 = live.filter(F.col("doc_id") % 11 == 3).select("doc_id")
        DI.delete_from_lsh_index(spark, doomed2, "lshdel_inc")
        live2 = live.filter(F.col("doc_id") % 11 != 3)
        DI.build_lsh_index(spark, live2, "lshdel_ref2")
        assert _rows(DI.probe_lsh_index(spark, batch, "lshdel_inc")) == _rows(
            DI.probe_lsh_index(spark, batch, "lshdel_ref2")
        )
    finally:
        _drop_prefix(spark, "lshdel_inc", "lshdel_ref", "lshdel_ref2")


def test_compact_purges_masked_members_on_single_generation(spark, sf_dir):
    """build → delete → compact with NO appends (n_deltas == 0, the
    common retraction shape) must still physically purge the deleted
    docs' membership rows: the meta row's pending-purge count makes
    compaction run its members rewrite even when there is nothing to
    fold — without it a deleted doc's MinHash band keys would persist
    on disk forever, contradicting the documented tombstone→compact
    lifecycle. A second compaction (masked count reset to 0) is then a
    true no-op: the members table's files are untouched."""
    docs = t(spark, sf_dir, "documents")
    indexed = docs.filter(F.col("doc_id") % 2 == 0)
    doomed = indexed.filter(F.col("doc_id") % 10 == 4).select("doc_id")
    try:
        DI.build_lsh_index(spark, indexed, "lshdel_1g")
        n = DI.delete_from_lsh_index(spark, doomed, "lshdel_1g")
        assert n == doomed.count() > 0
        m = DI._read_meta(spark, "lshdel_1g")
        assert (m["n_deltas"], DI._meta_masked(m)) == (0, n)
        # masked-but-present until compaction (the documented split)
        assert spark.table("lshdel_1g_members").join(
            doomed, "doc_id", "left_semi"
        ).count() > 0

        batch = docs.filter(F.col("doc_id") % 2 == 1)
        want = _rows(DI.probe_lsh_index(spark, batch, "lshdel_1g"))
        DI.compact_lsh_index(spark, "lshdel_1g")
        assert spark.table("lshdel_1g_members").join(
            doomed, "doc_id", "left_semi"
        ).count() == 0
        m2 = DI._read_meta(spark, "lshdel_1g")
        assert (m2["n_deltas"], DI._meta_masked(m2)) == (0, 0)
        assert _rows(DI.probe_lsh_index(spark, batch, "lshdel_1g")) == want

        # clean single-generation index: compaction is a no-op again
        before = set(spark.table("lshdel_1g_members").inputFiles())
        DI.compact_lsh_index(spark, "lshdel_1g")
        assert set(spark.table("lshdel_1g_members").inputFiles()) == before
    finally:
        _drop_prefix(spark, "lshdel_1g")


@pytest.mark.slow
def test_delete_bucket_minimum_recovers_third_member(spark):
    """Three identical docs share every bucket; deleting the stored
    minimum must surface the SECOND-smallest as the new min1 and the
    third as min2 — exactly what top-2 storage alone cannot do — and a
    probe of a fourth identical doc must match the new minimum."""
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in (10, 20, 30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    probe = spark.createDataFrame(
        [(99, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    try:
        DI.build_lsh_index(spark, docs, "lshdel_min")
        got = DI.probe_lsh_index(spark, probe, "lshdel_min").collect()
        assert [(r["doc_id"], r["match_id"]) for r in got] == [(99, 10)]

        DI.delete_from_lsh_index(
            spark, docs.filter(F.col("doc_id") == 10).select("doc_id"),
            "lshdel_min",
        )
        got = DI.probe_lsh_index(spark, probe, "lshdel_min").collect()
        assert [(r["doc_id"], r["match_id"]) for r in got] == [(99, 20)]
        tops = spark.table("lshdel_min_bands").select("min1", "min2").first()
        assert (tops["min1"], tops["min2"]) == (20, 30)

        # delete down to a singleton: min2 becomes NULL, probe still
        # matches the survivor
        DI.delete_from_lsh_index(
            spark, docs.filter(F.col("doc_id") == 20).select("doc_id"),
            "lshdel_min",
        )
        got = DI.probe_lsh_index(spark, probe, "lshdel_min").collect()
        assert [(r["doc_id"], r["match_id"]) for r in got] == [(99, 30)]

        # delete the last member: buckets vanish, probe finds nothing
        DI.delete_from_lsh_index(
            spark, docs.filter(F.col("doc_id") == 30).select("doc_id"),
            "lshdel_min",
        )
        assert DI.probe_lsh_index(spark, probe, "lshdel_min").count() == 0
        assert spark.table("lshdel_min_bands").count() == 0
    finally:
        _drop_prefix(spark, "lshdel_min")


@pytest.mark.slow
def test_delete_crash_while_staging_is_invisible_and_replayable(
    spark, monkeypatch
):
    """A crash during the stage-write phase (before any swap) leaves
    every read answering as if the delete never happened, and the
    replayed delete succeeds."""
    rows = [(i, f"one two three four five w{i % 2}") for i in range(1, 9)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    probe = spark.createDataFrame(
        [(99, "one two three four five w1")], "doc_id long, text string"
    )
    try:
        DI.build_lsh_index(spark, docs, "lshdel_crash")
        want_pre = _rows(DI.probe_lsh_index(spark, probe, "lshdel_crash"))

        from chess_pos_db_spark.plans import bucketing

        real = bucketing.write_bucketed
        calls = {"n": 0}

        def dying(df, table, key, **kw):
            if "_stage" in table:
                raise RuntimeError("simulated crash while staging")
            return real(df, table, key, **kw)

        monkeypatch.setattr(DI, "write_bucketed", dying, raising=False)
        import chess_pos_db_spark.plans.bucketing as B

        monkeypatch.setattr(B, "write_bucketed", dying)
        doomed = docs.filter(F.col("doc_id") == 1).select("doc_id")
        with pytest.raises(RuntimeError, match="simulated crash"):
            DI.delete_from_lsh_index(spark, doomed, "lshdel_crash")
        monkeypatch.setattr(B, "write_bucketed", real)

        # invisible: probe and meta unchanged
        assert _rows(DI.probe_lsh_index(spark, probe, "lshdel_crash")) == want_pre
        assert DI._read_meta(spark, "lshdel_crash")["n_docs"] == 8

        # replay succeeds and equals a fresh live build
        DI.delete_from_lsh_index(spark, doomed, "lshdel_crash")
        DI.build_lsh_index(
            spark, docs.filter(F.col("doc_id") != 1), "lshdel_crash_ref"
        )
        assert _rows(
            DI.probe_lsh_index(spark, probe, "lshdel_crash")
        ) == _rows(DI.probe_lsh_index(spark, probe, "lshdel_crash_ref"))
    finally:
        _drop_prefix(spark, "lshdel_crash", "lshdel_crash_ref")


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=5).map(" ".join),
        min_size=6,
        max_size=12,
    ),
    del_mod=st.integers(min_value=2, max_value=4),
)
@pytest.mark.slow
def test_delete_matches_pure_python_pipeline(texts, del_mod):
    """For arbitrary tiny corpora, build-on-evens + DELETE a slice +
    probe-odds must return exactly the pure-python collision answer
    computed over the LIVE indexed docs — whatever buckets the deleted
    docs topped, however many buckets they empty."""
    spark = _spark_holder["spark"]
    rows = [(i, tx, "en", "s", len(tx)) for i, tx in enumerate(texts)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    indexed_ids = [i for i in range(len(texts)) if i % 2 == 0]
    doomed_ids = [i for i in indexed_ids if (i // 2) % del_mod == 0]
    live = {i: _py_bands(texts[i]) for i in indexed_ids if i not in doomed_ids}
    want = {}
    for i, tx in enumerate(texts):
        if i % 2 == 0:
            continue
        b = _py_bands(tx)
        hits = [j for j, jb in live.items() if b & jb]
        if hits:
            want[i] = min(hits)
    try:
        DI.build_lsh_index(
            spark, docs.filter(F.col("doc_id") % 2 == 0), "lsht_hypd", buckets=4
        )
        if doomed_ids:
            DI.delete_from_lsh_index(
                spark,
                docs.filter(F.col("doc_id").isin(doomed_ids)).select("doc_id"),
                "lsht_hypd",
            )
        got = {
            r["doc_id"]: r["match_id"]
            for r in DI.probe_lsh_index(
                spark, docs.filter(F.col("doc_id") % 2 == 1), "lsht_hypd"
            ).collect()
        }
        assert got == want
    finally:
        _drop_prefix(spark, "lsht_hypd")


@pytest.mark.slow
def test_lsh_index_lifecycle_randomized_against_fresh_build(spark, tmp_path):
    """Model-based stress for the persistent LSH index: seeded random
    append / exact-delete / compact sequences over a synthetic corpus,
    then probes against the MAINTAINED index must equal probes against
    an index FRESHLY BUILT over exactly the live documents — the "the
    index answers as if rebuilt" contract, across interleavings no
    scenario test enumerates."""
    import random

    def mk_docs(ids, rng):
        vocab = [f"tok{i}" for i in range(25)]
        rows = []
        for i in ids:
            # near-dup structure arises naturally from the small vocab;
            # seeded per-doc so content is stable across rebuilds
            r = random.Random(10_000 + i)
            rows.append((i, " ".join(r.choice(vocab) for _ in range(12))))
        return spark.createDataFrame(rows, "doc_id long, text string")

    for seed in range(2):
        rng = random.Random(seed)
        prefix = f"rand_lsh_{seed}"
        live = set(rng.sample(range(100), 12))
        DI.build_lsh_index(spark, mk_docs(sorted(live), rng), prefix)
        next_id = [100]

        for step in range(5):
            op = rng.choice(["append", "delete", "compact"])
            if op == "append":
                fresh = list(range(next_id[0], next_id[0] + 6))
                next_id[0] += 6
                DI.append_to_lsh_index(
                    spark, mk_docs(fresh, rng), prefix
                )
                live.update(fresh)
            elif op == "delete":
                if len(live) <= 4:
                    continue
                doomed = rng.sample(sorted(live), 3)
                DI.delete_from_lsh_index(
                    spark,
                    spark.createDataFrame(
                        [(d,) for d in doomed], "doc_id long"
                    ),
                    prefix,
                )
                live -= set(doomed)
            else:
                DI.compact_lsh_index(spark, prefix)

        # probe batch: novel ids whose content collides with live docs
        probe_ids = list(range(5000, 5010))
        probes = mk_docs(probe_ids, rng)
        got = sorted(
            tuple(r)
            for r in DI.probe_lsh_index(spark, probes, prefix).collect()
        )
        fresh_prefix = f"rand_lsh_fresh_{seed}"
        DI.build_lsh_index(
            spark, mk_docs(sorted(live), rng), fresh_prefix
        )
        want = sorted(
            tuple(r)
            for r in DI.probe_lsh_index(spark, probes, fresh_prefix).collect()
        )
        assert got == want, f"seed {seed}: maintained != fresh-built"
        assert want, f"seed {seed}: degenerate probe (no collisions)"
