"""Persistent MinHash-LSH index with delta-generation appends (N2 at
100 TB: the daily-delta near-dup shape).

A one-shot ``dedup_near`` re-LSHes the whole corpus per run. A real
training-data pipeline instead keeps the corpus's band buckets ON DISK
and answers "which of today's documents near-duplicate anything we
already have?" by (1) MinHashing ONLY the new batch and (2) equi-joining
its band keys against the stored buckets — the same sorted-run
economics the reference applies to position lookups
(`src/persistence/pos_db/` sorted runs + sparse index †) and that
llm/search.py applies to BM25 postings:

- build once: one (doc_id, token) shuffle over the corpus, band rows
  stored bucketed by band_key so probes join WITHOUT shuffling the
  index side (only the batch side, which is delta-sized, moves);
- append deltas: each new committed batch becomes a generation
  (`_bands_d{n}`/`_docs_d{n}`) from ONE batch-sized shuffle — the
  corpus is never rescanned. Generations are doc-disjoint (enforced
  loudly: an overlapping doc_id would make a doc its own near-dup);
- probe: batch signatures × every live generation's buckets; a hit is
  (new doc, min colliding indexed doc). Candidate-sized work, never
  pairwise, never corpus-sized;
- compact: fold generations back into the base (pure union — the
  doc-disjointness that makes appends cheap makes compaction trivial);
- one single-row meta table is the only commit point (generation count
  + corpus fingerprint commit atomically, mirroring search.py's
  postings meta).

Same-batch duplicates are OUT of scope by contract: the probe answers
"collides with the INDEX"; run dedup_near/dedup_exact on the batch
itself first (pipeline order is batch-internal dedup → index probe →
append survivors).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import build_once, fingerprint, fixture_home, t
from .dedup import (
    _N_BANDS,
    ROWS_PER_BAND,
    _band_key_sql,
    _sig_ctes,
    minhash_signatures,
)


def banded_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band_key) rows — one per band, the band index embedded
    in the key so collisions must be in the SAME band and the probe
    join needs exactly one equi-column (which is also the storage
    bucket key)."""
    band_cols = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            *[F.col(f"mh_{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
        ).alias(f"band_{b}")
        for b in range(_N_BANDS)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_cols)).alias("band_key"))


def _write_meta(
    spark: SparkSession,
    prefix: str,
    n_deltas: int,
    n_docs: int,
    fp: int,
    n_masked: int = 0,
) -> None:
    """The index's ONE commit record: generation count, corpus
    fingerprint and the pending-purge count land in the same single-row
    write, so a reader can never observe one without the others.
    ``n_masked`` counts deleted documents whose membership-sidecar rows
    are still physically present (masked) — the signal that the next
    compaction must run the members purge even with zero delta
    generations (mirroring search.py's 'single generation but pending
    tombstones' compaction guard)."""
    from ..plans.bucketing import drop_orphaned_table

    drop_orphaned_table(spark, f"{prefix}_meta")
    spark.createDataFrame(
        [(n_deltas, n_docs, fp, n_masked)],
        "n_deltas int, n_docs bigint, fp_sum_ids bigint, n_masked bigint",
    ).write.mode("overwrite").saveAsTable(f"{prefix}_meta")


def _read_meta(spark: SparkSession, prefix: str):
    return spark.table(f"{prefix}_meta").first()


def _meta_masked(m) -> int:
    """Pending-purge count; pre-round-9 meta rows lack the column
    (absent = no delete ever recorded against that index)."""
    return int(m["n_masked"]) if "n_masked" in m.__fields__ else 0


def _generations(spark: SparkSession, prefix: str) -> list[str]:
    n = _read_meta(spark, prefix)["n_deltas"]
    return [""] + [f"_d{i}" for i in range(1, n + 1)]


def _check_batch(docs: DataFrame) -> tuple[int, int]:
    """Reject within-batch duplicate doc_ids (two rows with the same id
    but different text would silently MinHash the UNION of their token
    sets — a signature of a document that doesn't exist). Returns the
    batch fingerprint so callers don't re-aggregate."""
    fp = docs.groupBy().agg(
        F.count("*").alias("n"),
        F.count_distinct("doc_id").alias("nd"),
        F.sum("doc_id").alias("s"),
    ).first()
    if int(fp["n"]) != int(fp["nd"]):
        raise ValueError(
            f"lsh index: batch contains {int(fp['n']) - int(fp['nd'])} "
            "duplicate doc_id row(s) — their token streams would "
            "silently merge into one signature; dedup the batch first"
        )
    return int(fp["n"]), int(fp["s"] or 0)


def _bucket_tops(banded: DataFrame) -> DataFrame:
    """(band_key, min1, min2): the TWO smallest doc_ids per band bucket
    — all the probe ever needs, and the index's skew armor.

    Probe semantics are "smallest indexed doc sharing any band, other
    than yourself": min over hit buckets of the bucket minimum — and
    when the prober IS a bucket's minimum (re-probe of a committed doc),
    the second-smallest answers. So storing the top-2 per bucket is
    EXACT, while collapsing every bucket to ONE row: a mega-bucket of
    boilerplate (the classic web-corpus skew — millions of docs sharing
    a band) would otherwise multiply the probe join's output by bucket
    size; here it costs the same single row as a two-member bucket, and
    the index size is bounded by distinct buckets, not corpus rows.
    min2 is NULL for singleton buckets. The top-2 window shares the
    band_key partitioning the bucketed write needs."""
    from pyspark.sql import Window

    w = Window.partitionBy("band_key").orderBy("doc_id")
    top2 = banded.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 2
    )
    return top2.groupBy("band_key").agg(
        F.min("doc_id").alias("min1"),
        F.when(F.count("*") >= 2, F.max("doc_id")).alias("min2"),
    )


def build_lsh_index(
    spark: SparkSession, docs: DataFrame, prefix: str, buckets: int = 16
) -> None:
    """Materialize the corpus's band buckets: `{prefix}_bands`
    (band_key, min1, min2 — ONE row per bucket, bucketed by band_key so
    probes never shuffle the index side; see _bucket_tops for why top-2
    is exact), `{prefix}_members` (band_key, doc_id — FULL bucket
    membership, the DELETE sidecar: never read by probes, so the
    mega-bucket skew bound is untouched; without it an exact delete of
    a bucket's stored minimum could not recover the next-smallest
    member), `{prefix}_docs` (doc_id — bucketed, the append
    disjointness probe's 8 B/doc side), and the meta commit row.
    Members are written FIRST and the tops derived from the WRITTEN
    table (bucketed by band_key, so the top-2 window re-uses the
    layout with no new exchange) — one MinHash pass, not two."""
    from ..plans.bucketing import write_bucketed

    n, s = _check_batch(docs)
    members = banded_keys(minhash_signatures(docs))
    write_bucketed(members, f"{prefix}_members", ["band_key"], buckets=buckets)
    bands = _bucket_tops(spark.table(f"{prefix}_members"))
    write_bucketed(bands, f"{prefix}_bands", ["band_key"], buckets=buckets)
    write_bucketed(
        docs.select("doc_id"), f"{prefix}_docs", ["doc_id"], buckets=buckets
    )
    _write_meta(spark, prefix, 0, n, s)


def ensure_lsh_index(
    spark: SparkSession, docs: DataFrame, prefix: str, buckets: int = 16
) -> bool:
    """Build only if absent or stale for THIS corpus (fingerprint
    mismatch), so a previously returned lazy probe plan never races a
    rebuild's drop+rewrite. The record checked is the index's own meta
    row, not a tables.build_once marker: callers' `append_*`/`delete_*`
    mutate an index under any prefix and keep that row current.
    Returns True iff a build ran."""
    n, s = fingerprint(docs, "doc_id")
    if spark.catalog.tableExists(f"{prefix}_meta"):
        m = _read_meta(spark, prefix)
        if m["n_docs"] == n and m["fp_sum_ids"] == s:
            return False
    build_lsh_index(spark, docs, prefix, buckets=buckets)
    return True


def _existing_doc_ids(spark: SparkSession, prefix: str) -> DataFrame:
    out = None
    for g in _generations(spark, prefix):
        d = spark.table(f"{prefix}_docs{g}")
        out = d if out is None else out.unionByName(d)
    return out


def append_to_lsh_index(
    spark: SparkSession,
    new_docs: DataFrame,
    prefix: str,
    buckets: int = 16,
    check_disjoint: bool = True,
) -> int:
    """Add a committed batch as a new delta generation — ONE
    batch-sized (doc_id, token) shuffle, the corpus never rescans.
    ``check_disjoint`` anti-probes the batch ids against every live
    generation's docs table (bucketed side never shuffles) and fails
    loudly on overlap: an already-indexed doc_id re-appended would
    collide with ITSELF in every band and poison probe results.
    Returns the new generation number; the meta write is the single
    commit point (a crash before it leaves a replay that rewrites the
    identical delta tables)."""
    from ..plans.bucketing import write_bucketed

    nb, sb = _check_batch(new_docs)
    if check_disjoint:
        n_dup = new_docs.select("doc_id").join(
            _existing_doc_ids(spark, prefix), "doc_id", "left_semi"
        ).count()
        if n_dup:
            raise ValueError(
                f"append_to_lsh_index: {n_dup} doc_id(s) already in index "
                f"{prefix!r} — appends must be doc-disjoint (a re-indexed "
                "doc collides with itself in every band); probe and filter "
                "the batch first"
            )
    m = _read_meta(spark, prefix)
    n = m["n_deltas"] + 1
    members = banded_keys(minhash_signatures(new_docs))
    write_bucketed(
        members, f"{prefix}_members_d{n}", ["band_key"], buckets=buckets
    )
    bands = _bucket_tops(spark.table(f"{prefix}_members_d{n}"))
    write_bucketed(bands, f"{prefix}_bands_d{n}", ["band_key"], buckets=buckets)
    write_bucketed(
        new_docs.select("doc_id"), f"{prefix}_docs_d{n}", ["doc_id"],
        buckets=buckets,
    )
    _write_meta(
        spark, prefix, n, m["n_docs"] + nb, m["fp_sum_ids"] + sb,
        n_masked=_meta_masked(m),
    )
    return n


def probe_lsh_index(
    spark: SparkSession, batch_docs: DataFrame, prefix: str
) -> DataFrame:
    """(doc_id, match_id) for every batch document sharing at least one
    band bucket with an indexed document; match_id is the smallest
    colliding indexed doc_id (the canonical cluster representative a
    downstream keep-first policy wants). Batch docs with no collision
    are absent — they are the novel documents to keep and append.

    Scale shape: MinHash+banding over the BATCH only (one batch-sized
    shuffle), then an equi-join per live generation in which the stored
    bands table reads in its bucket layout (no index-side exchange) and
    only the delta-sized banded batch moves; the final min-aggregate is
    candidate-sized. The corpus is never rescanned, nothing is ever
    pairwise.

    Self-pairs are excluded: probing a doc_id that is ALREADY indexed
    (re-probing a committed batch) must not report the document as a
    near-duplicate of itself — when the prober is a bucket's stored
    minimum, the bucket's second-smallest answers (NULL for a
    singleton bucket = no match from that bucket). Each hit row is one
    BUCKET, not one colliding document — ≤ _N_BANDS hit rows per batch
    doc per generation regardless of how crowded the buckets are (the
    _bucket_tops skew bound)."""
    banded = banded_keys(minhash_signatures(batch_docs))
    hits = None
    for g in _generations(spark, prefix):
        ix = spark.table(f"{prefix}_bands{g}")
        h = (
            banded.join(ix, "band_key")
            .select(
                "doc_id",
                F.when(F.col("min1") != F.col("doc_id"), F.col("min1"))
                .otherwise(F.col("min2"))
                .alias("match_id"),
            )
            .filter(F.col("match_id").isNotNull())
        )
        hits = h if hits is None else hits.unionByName(h)
    return hits.groupBy("doc_id").agg(F.min("match_id").alias("match_id"))


def compact_lsh_index(
    spark: SparkSession, prefix: str, buckets: int = 16
) -> None:
    """Fold every delta generation into the base tables, staged then
    swapped via ALTER TABLE RENAME (overwriting a table while lazily
    reading it would corrupt it). docs tables union directly
    (doc-disjoint); bands tables re-derive the bucket top-2 from the
    union of each generation's top-2 — exact, because each generation's
    (min1, min2) are the two smallest of that generation, so the two
    smallest of the union are among the union of the top-2s (the
    aggregate-combining merge of compact_runs, with min-pair as the
    combinable state). Not crash-atomic across the two table families:
    a crash between swaps leaves meta pointing at dropped generation
    tables, so reads FAIL LOUDLY rather than serving a half-compacted
    index."""
    from ..plans.bucketing import drop_orphaned_table, write_bucketed

    meta = _read_meta(spark, prefix)
    gens = _generations(spark, prefix)
    if len(gens) == 1 and _meta_masked(meta) == 0:
        # nothing to fold AND no masked membership rows pending purge —
        # the only state in which skipping the rewrite is correct (a
        # build+delete with no appends leaves gens==1 but masked>0, and
        # the deleted docs' band keys must still be physically purged)
        return
    # docs FIRST: the members purge below semi-joins against the live
    # docs union, which must be computed before any table is dropped
    live_docs = None
    for g in gens:
        t_g = spark.table(f"{prefix}_docs{g}")
        live_docs = t_g if live_docs is None else live_docs.unionByName(t_g)
    live_docs = live_docs.localCheckpoint(eager=True)
    for kind, key in (
        ("bands", "band_key"), ("docs", "doc_id"), ("members", "band_key"),
    ):
        merged = None
        for g in gens:
            t_g = spark.table(f"{prefix}_{kind}{g}")
            merged = t_g if merged is None else merged.unionByName(t_g)
        if kind == "bands":
            merged = _bucket_tops(
                merged.select(
                    "band_key",
                    F.explode(F.array("min1", "min2")).alias("doc_id"),
                ).filter(F.col("doc_id").isNotNull())
            )
        elif kind == "members":
            # physical half of the delete lifecycle: membership rows of
            # deleted docs (masked-but-present since their delete) drop
            # out of the rewrite here
            merged = merged.join(live_docs, "doc_id", "left_semi")
        write_bucketed(merged, f"{prefix}_{kind}_stage", [key], buckets=buckets)
        for g in gens:
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{kind}{g}")
        drop_orphaned_table(spark, f"{prefix}_{kind}")
        spark.sql(f"ALTER TABLE {prefix}_{kind}_stage RENAME TO {prefix}_{kind}")
    _write_meta(spark, prefix, 0, meta["n_docs"], meta["fp_sum_ids"], n_masked=0)


def delete_from_lsh_index(
    spark: SparkSession,
    doc_ids: DataFrame,
    prefix: str,
    buckets: int = 16,
) -> int:
    """Delete documents from the LSH index EXACTLY — after the delete,
    probes answer as if the index had been freshly built over the live
    corpus (pinned in tests), including the hard case where a deleted
    doc was a bucket's stored minimum: the membership sidecar recovers
    the next-smallest LIVE member, which top-2 storage alone cannot.

    Work is affected-bucket-sized, never corpus-sized: per generation,
    (1) the buckets whose stored top-2 contain a deleted id are found
    with two equi-semi-joins against the (tiny) delete set, (2) ONLY
    those buckets' tops are recomputed from the bucket-pruned members
    sidecar restricted to live docs, (3) the bands and docs tables are
    rewritten via the staged-swap discipline (bands is one row per
    distinct bucket — the skew-bounded small table; docs is 8 B/doc).
    The members sidecar is NOT rewritten here — deleted rows stay
    physically present but masked (every recompute joins members to
    the live docs set), and the next ``compact_lsh_index`` purges them,
    mirroring the postings index's tombstone→compact split.

    Crash contract: stage writes happen for every touched generation
    BEFORE any swap, so a crash while staging is invisible; a crash
    mid-swap either fails loudly on the next read (missing table
    between drop and rename) or leaves a half-applied delete that
    REPLAYING the same delete repairs (an already-swapped bands table
    yields an empty affected set; docs rewrites are idempotent) —
    until a docs swap has removed some of the ids, after which the
    replay's own presence validation fails loudly and the recovery is
    compaction/rebuild. Probes are live-correct in every intermediate
    state (bands swaps only ever remove deleted docs from buckets).
    The meta write is the final commit.

    Fails loudly if any id is not present in the index (a silent
    partial delete would mask caller bookkeeping bugs). Generations
    containing none of the ids are untouched. Returns the number of
    documents deleted."""
    from ..plans.bucketing import drop_orphaned_table, write_bucketed

    ids = doc_ids.select("doc_id").distinct().localCheckpoint(eager=True)
    n_ids, s_ids = fingerprint(ids, "doc_id")
    if n_ids == 0:
        return 0  # empty retraction feed: nothing to swap or commit
    n_present = ids.join(
        _existing_doc_ids(spark, prefix), "doc_id", "left_semi"
    ).count()
    if n_present != n_ids:
        raise ValueError(
            f"delete_from_lsh_index: {n_ids - n_present}/{n_ids} doc_id(s) "
            f"not present in index {prefix!r} — deletes must target "
            "indexed documents exactly"
        )
    meta = _read_meta(spark, prefix)
    touched: list[str] = []
    for g in _generations(spark, prefix):
        if ids.join(
            spark.table(f"{prefix}_docs{g}"), "doc_id", "left_semi"
        ).isEmpty():
            continue
        touched.append(g)
        bands_g = spark.table(f"{prefix}_bands{g}")
        affected = (
            bands_g.join(
                ids.withColumnRenamed("doc_id", "min1"), "min1", "left_semi"
            )
            .select("band_key")
            .unionByName(
                bands_g.join(
                    ids.withColumnRenamed("doc_id", "min2"),
                    "min2",
                    "left_semi",
                ).select("band_key")
            )
            .distinct()
        )
        live_docs_g = spark.table(f"{prefix}_docs{g}").join(
            ids, "doc_id", "left_anti"
        )
        recomputed = _bucket_tops(
            spark.table(f"{prefix}_members{g}")
            .join(affected, "band_key", "left_semi")
            .join(live_docs_g, "doc_id", "left_semi")
        )
        new_bands = bands_g.join(
            affected, "band_key", "left_anti"
        ).unionByName(recomputed)
        write_bucketed(
            new_bands, f"{prefix}_bands{g}_stage", ["band_key"],
            buckets=buckets,
        )
        write_bucketed(
            live_docs_g, f"{prefix}_docs{g}_stage", ["doc_id"],
            buckets=buckets,
        )
    for g in touched:
        for kind in ("bands", "docs"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{kind}{g}")
            drop_orphaned_table(spark, f"{prefix}_{kind}{g}")
            spark.sql(
                f"ALTER TABLE {prefix}_{kind}{g}_stage "
                f"RENAME TO {prefix}_{kind}{g}"
            )
    _write_meta(
        spark, prefix, meta["n_deltas"], meta["n_docs"] - n_ids,
        meta["fp_sum_ids"] - s_ids, n_masked=_meta_masked(meta) + n_ids,
    )
    return n_ids


def stream_lsh_maintenance(
    spark: SparkSession,
    src_dir: str,
    prefix: str,
    checkpoint_dir: str,
    buckets: int = 16,
    max_files_per_trigger: int | None = None,
) -> None:
    """Keep the LSH index fresh over a continuously-ingested corpus: a
    file stream of new document batches, each micro-batch appended as a
    delta generation (T1 micro-batch ingest composed with the N2 delta
    lifecycle — the streaming twin of search.py's postings
    maintenance).

    foreachBatch is at-least-once, so replays resolve by CONTENT: a
    batch whose doc_ids are ALL already indexed is a replay of a
    committed append (the meta write is the append's single commit
    point, so "all present" can only mean "fully applied") — skipped
    whole. A PARTIAL overlap is corrupt input and fails loudly.
    Compaction cadence is the operator's call — compact_lsh_index()
    after the stream drains or on a generation-count threshold."""
    from ..sources.formats import DOCUMENTS_SCHEMA

    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(src_dir)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_ids = batch_df.select("doc_id").distinct()
        n_batch = batch_ids.count()
        if n_batch == 0:
            return
        n_dup = batch_ids.join(
            _existing_doc_ids(spark, prefix), "doc_id", "left_semi"
        ).count()
        if n_dup == n_batch:
            return  # replayed, already-committed batch — idempotent skip
        if n_dup:
            raise ValueError(
                f"stream_lsh_maintenance: batch {epoch_id} overlaps the "
                f"index on {n_dup}/{n_batch} doc_ids — partial overlap is "
                "corrupt input, not a replay; quarantine the batch"
            )
        append_to_lsh_index(
            spark, batch_df, prefix, buckets=buckets, check_disjoint=False
        )

    q = (
        docs.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()


def maybe_compact_lsh_index(
    spark: SparkSession, prefix: str, max_generations: int = 8,
    buckets: int = 16,
) -> bool:
    """Compact when the delta-generation count exceeds the threshold —
    the cadence policy a maintenance loop calls after every append (the
    reference's merge-after-N-runs discipline; probe cost grows one
    bucket-pruned join per generation, so the threshold bounds it).
    Returns True iff a compaction ran."""
    if _read_meta(spark, prefix)["n_deltas"] < max_generations:
        return False
    compact_lsh_index(spark, prefix, buckets=buckets)
    return True


def kept_doc_ids(spark: SparkSession, prefix: str) -> DataFrame:
    """The accepted-document set of a dedup gate over index `prefix` —
    the union of every live generation's docs table. The curated corpus
    is the raw stream semi-joined to this (ids only live in the index;
    the gate never copies document payloads)."""
    return _existing_doc_ids(spark, prefix)


def stream_lsh_dedup_gate(
    spark: SparkSession,
    src_dir: str,
    prefix: str,
    checkpoint_dir: str,
    buckets: int = 16,
    max_files_per_trigger: int | None = None,
) -> None:
    """The streaming CURATION GATE: documents arrive as a file stream,
    each micro-batch keeps only docs that do NOT near-duplicate the
    already-accepted corpus, and the survivors join that corpus (their
    bands append as a delta generation). T6 streaming dedup composed
    with the persistent LSH index — corpus-level near-dup state that
    one-shot per-batch dedup cannot see.

    The INDEX IS THE GATE'S ONLY STATE: accepted ids live in the docs
    tables, so there is no separate sink to keep consistent and the
    append's meta write remains the single commit point. At-least-once
    replays are resolved per-doc: already-accepted ids are skipped
    (idempotent re-accept), previously-rejected ids re-probe against an
    index that still contains whatever they matched — so they reject
    again deterministically. Within-batch near-dups are OUT of scope by
    the probe's contract (run dedup_near on the batch first); the gate
    dedups the batch against the CORPUS."""
    from ..sources.formats import DOCUMENTS_SCHEMA

    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(src_dir)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        present = _existing_doc_ids(spark, prefix)
        fresh = batch_df.join(present, "doc_id", "left_anti")
        if fresh.isEmpty():
            return  # fully-committed replay
        matched = probe_lsh_index(spark, fresh, prefix).select("doc_id")
        survivors = fresh.join(matched, "doc_id", "left_anti")
        if survivors.isEmpty():
            return  # every new doc near-duplicates the corpus
        append_to_lsh_index(
            spark, survivors, prefix, buckets=buckets, check_disjoint=False
        )

    q = (
        docs.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()


# Oracle: full-corpus signatures + banded CTEs (shared with dedup_near —
# the index changes the ACCESS PATH, never the collision set), final
# select restricted to (indexed side) × (batch side) by the same
# doc_id split the Spark query uses.
def _probe_oracle(indexed_pred: str, batch_pred: str) -> str:
    banded = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, {_band_key_sql(b)} AS band_hash "
        "FROM sig"
        for b in range(_N_BANDS)
    )
    return f"""
WITH {_sig_ctes()},
banded AS ({banded})
SELECT b.doc_id AS doc_id, MIN(a.doc_id) AS match_id
FROM banded a
JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
WHERE a.doc_id {indexed_pred} AND b.doc_id {batch_pred}
GROUP BY b.doc_id
ORDER BY doc_id
"""


@register("dedup_lsh_index_probe", oracle=_probe_oracle("% 2 = 0", "% 2 = 1"))
def dedup_lsh_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-delta near-dup query: even doc_ids are the indexed
    corpus (built at most once — ensure_lsh_index), odd doc_ids are
    today's batch; answer which batch docs collide with the index and
    with whom. Oracle is the one-shot banded self-join restricted to
    indexed×batch pairs: the materialized index must reproduce the
    from-scratch collision set exactly."""
    docs = t(spark, sf_dir, "documents")
    prefix = os.path.basename(fixture_home(spark, sf_dir, "lshix"))
    ensure_lsh_index(spark, docs.filter(F.col("doc_id") % 2 == 0), prefix)
    return probe_lsh_index(spark, docs.filter(F.col("doc_id") % 2 == 1), prefix)


@register(
    "dedup_lsh_index_incremental",
    oracle=_probe_oracle("% 3 < 2", "% 3 = 2"),
)
def dedup_lsh_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The append lifecycle externally verified: base index from
    doc_id%3==0, doc_id%3==1 appended as a delta generation (one
    batch-sized shuffle), then doc_id%3==2 probed against the
    two-generation index. The oracle is the one-shot collision set of
    the probe batch against BOTH indexed thirds — append+probe must be
    exactly equivalent to a fresh build over the union, the property
    that makes the delta lifecycle trustworthy. Built at most once per
    corpus (tables.build_once), so a previously returned plan never
    races a rebuild."""
    docs = t(spark, sf_dir, "documents")
    home = fixture_home(spark, sf_dir, "lshix_inc")
    prefix = os.path.basename(home)

    def build() -> None:
        build_lsh_index(spark, docs.filter(F.col("doc_id") % 3 == 0), prefix)
        append_to_lsh_index(spark, docs.filter(F.col("doc_id") % 3 == 1), prefix)

    build_once(spark, home, docs, "doc_id", build, table=f"{prefix}_meta")
    return probe_lsh_index(spark, docs.filter(F.col("doc_id") % 3 == 2), prefix)


# the deleted slice: doc_id % 10 == 4 is a subset of the even
# (indexed) ids, so live = evens minus it
_LSH_DELETE_MOD = "% 10 = 4"


def _deleted_index(
    spark: SparkSession, sf_dir: str, kind: str, then=None
) -> str:
    """The prefix of an index over the even doc_ids with the
    _LSH_DELETE_MOD slice deleted (and `then(prefix)` run after),
    built at most once per corpus (tables.build_once): the shared
    lifecycle of dedup_lsh_index_delete and _compacted."""
    docs = t(spark, sf_dir, "documents")
    home = fixture_home(spark, sf_dir, kind)
    prefix = os.path.basename(home)

    def build() -> None:
        indexed = docs.filter(F.col("doc_id") % 2 == 0)
        build_lsh_index(spark, indexed, prefix)
        delete_from_lsh_index(
            spark,
            indexed.filter(F.expr(f"doc_id {_LSH_DELETE_MOD}")).select("doc_id"),
            prefix,
        )
        if then is not None:
            then(prefix)

    build_once(spark, home, docs, "doc_id", build, table=f"{prefix}_meta")
    return prefix


@register(
    "dedup_lsh_index_delete",
    oracle=_probe_oracle("% 2 = 0 AND a.doc_id % 10 != 4", "% 2 = 1"),
)
def dedup_lsh_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delete lifecycle externally verified: even doc_ids indexed,
    the % 10 == 4 slice deleted (affected-bucket-sized recompute via
    the membership sidecar — the corpus is never re-MinHashed), odd
    doc_ids probed. The oracle is the one-shot banded collision set of
    the batch against the LIVE indexed docs only: deletes must remove
    every match through a deleted doc INCLUDING the bucket-minimum
    case where top-2 storage alone could not recover the next live
    member. Built at most once per corpus (tables.build_once), so a
    previously returned plan never races a rebuild."""
    prefix = _deleted_index(spark, sf_dir, "lshix_del")
    return probe_lsh_index(
        spark, t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1),
        prefix,
    )


@register(
    "dedup_lsh_index_compacted",
    oracle=_probe_oracle("% 2 = 0 AND a.doc_id % 10 != 4", "% 2 = 1"),
)
def dedup_lsh_index_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delete→compact half of the lifecycle externally verified:
    even doc_ids indexed, the % 10 == 4 slice deleted (masked members
    pending), then the UNIFIED MAINTENANCE SCHEDULER compacts on the
    masked-fraction trigger — the single-generation purge path — and
    odd doc_ids probe the compacted index. The oracle is the same live
    collision set as dedup_lsh_index_delete: compaction must change
    the PHYSICAL state only (deleted docs' band keys leave disk,
    pinned in pytest), never an answer. Built at most once per corpus
    (tables.build_once)."""
    from .maintenance import maintain_indexes

    def compact(prefix: str) -> None:
        rep = maintain_indexes(
            spark, lsh_prefixes=[prefix], max_masked_frac=0.001
        )
        assert rep["lsh"][prefix] == "compacted"

    prefix = _deleted_index(spark, sf_dir, "lshix_delc", then=compact)
    return probe_lsh_index(
        spark, t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1),
        prefix,
    )
