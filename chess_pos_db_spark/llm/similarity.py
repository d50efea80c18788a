"""Similarity search over embeddings (SURVEY.md §2.11 N3).

Brute-force cosine top-k is the verified baseline: the query vector is
broadcast, the dot product runs as higher-order array functions
(`zip_with` + `aggregate`) entirely JVM-side — no UDF, no collect of
the corpus. At 100 TB the same plan holds: broadcast the probe set,
scan the corpus once, TakeOrderedAndProject the top-k.

The LSH-bucketed variant (random-hyperplane signatures from fixed-seed
pseudo-random vectors) restricts candidates to matching sign-buckets —
the IVF-style scale path. The hyperplanes are md5-derived driver-side
and embedded as literals on BOTH sides, so the bucket assignment (and
the whole query) is oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import t

_QUERY_VEC_ID = 0
_TOP_K = 10
# Fixture-pinned sign-LSH bucket width (bits). Every REGISTERED query
# keeps this default so oracles stay byte-stable; production callers
# size b from corpus cardinality via ``lsh_planes_for`` — a fixed b
# degrades toward in-bucket all-pairs as n grows (see its docstring
# and SCALE.md "LSH/IVF sizing").
_N_PLANES = 8
_DIMS = 64  # fixture embedding dimensionality — interpolated into EVERY
# oracle below (a literal 64 in one oracle would silently truncate the
# comparison if the fixture dimensionality ever changed)


def lsh_planes_for(n_vectors: int, target_occupancy: int = 2) -> int:
    """Corpus-size-derived sign-LSH bucket width b (bits per table).

    For balanced buckets, expected bucket occupancy is n/2^b and
    expected same-bucket candidate PAIRS per table are
    ≈ n·(occupancy−1)/2 — i.e. L·n²/2^(b+1) total, QUADRATIC in n when
    b is fixed. Holding occupancy constant instead —

        b = ceil(log2(n / target_occupancy))

    — keeps candidate cost LINEAR in n (≈ L·n·occupancy/2) at any
    scale: the fixture's n=500 yields the pinned default b=8
    (occupancy ≈ 2), n=10⁹ yields b=29. Recall lost to the narrower
    buckets is bought back by adding tables (L), whose cost is linear.
    """
    import math

    if n_vectors <= target_occupancy:
        return 1
    return max(1, math.ceil(math.log2(n_vectors / target_occupancy)))


def ivf_cells_for(n_vectors: int) -> int:
    """Corpus-size-derived IVF coarse-cell count K ≈ √n (the classic
    balance: assignment cost n·K against per-probe scan cost n/K —
    both grow as n^1.5 at K=√n, versus n² for either extreme). The
    fixture keeps K=_IVF_K=16 pinned for oracle stability; production
    index builds pass k=ivf_cells_for(n) to the centroid trainers and
    write_ivf_layout."""
    import math

    return max(1, math.ceil(math.sqrt(n_vectors)))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a, b):
    """Cosine similarity between two array<float>/array<double> columns."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


@register(
    "similarity_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
scored AS (
    SELECT e.vec_id,
           SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)) AS dot,
           SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS na,
           SUM(CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)) AS nb
    FROM embeddings e, q, GENERATE_SERIES(1, {_DIMS}) AS t(i)
    GROUP BY e.vec_id
)
SELECT vec_id, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cos_sim
FROM scored
ORDER BY ROUND(dot / (SQRT(na) * SQRT(nb)), 6) DESC, vec_id
LIMIT {_TOP_K}
""",
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(_TOP_K)


# --- scale path: sign-LSH bucketing -----------------------------------------


def _plane(plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-0.5, 0.5)^_DIMS.

    Derived driver-side from md5(plane:dim) — no RNG state, identical
    across executors and runs; shipped as an array literal so the
    per-row work is one zip_with+aggregate instead of a 64-term
    expression tree (which bloats codegen).
    """
    import hashlib

    out = []
    for d in range(_DIMS):
        h = hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:8]
        out.append(int(h, 16) / 2**32 - 0.5)
    return out


def sign_lsh_bucket(
    vec_col, table: int = 0, n_planes: int | None = None
) -> "F.Column":
    """_DIMS-dim embedding → ``n_planes``-bit sign bucket id (BIGINT).

    ``table`` selects an independent hash table (classic multi-table
    LSH): table ℓ uses hyperplanes ℓ*n_planes .. ℓ*n_planes+n_planes−1,
    so table 0 is the original single-table bucket and additional
    tables give OR-amplified recall at linear (in L) candidate cost.

    ``n_planes`` defaults to the fixture-pinned ``_N_PLANES`` (= 8,
    what every registered oracle encodes); size it from corpus
    cardinality with ``lsh_planes_for(n)`` in production — candidate
    pairs grow ~n²/2^(b+1) per table at fixed b. For table 0 a
    narrower bucket is always a bit-prefix of a wider one
    (bucket_b == bucket_b' & (2^b − 1) for b ≤ b'), pinned in
    tests/test_similarity.py."""
    if n_planes is None:
        n_planes = _N_PLANES
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane_arr = F.array(*[F.lit(x) for x in _plane(table * n_planes + p)])
        # round before the sign: LN/EXP-free but still float — Spark's
        # sequential fold and DuckDB's unordered SUM can differ in the
        # last ulp, and an unguarded `> 0` on a near-zero dot would
        # flip the bucket bit between engines (the same 6dp discipline
        # the IVF cell assignment applies)
        dot = F.round(_dot(vec_col, plane_arr), 6)
        bit = F.when(dot > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + F.shiftleft(bit, p)
    return bucket


def _embedding_matrix(arr, dims: int):
    """One Arrow batch's list<float> embeddings → an (n × dims) float64
    matrix, or ValueError. ``flatten()`` skips null lists and
    concatenates ragged ones, so a bare ``reshape(n, -1)`` would shift
    every later row of the batch onto the wrong vector; a null or
    wrong-length embedding (or a null component) fails loudly."""
    import numpy as np
    import pyarrow.compute as pc

    span = pc.min_max(pc.list_value_length(arr)).as_py()
    if arr.null_count or span != {"min": dims, "max": dims}:
        raise ValueError(
            f"embeddings must be non-null lists of {dims} values: batch "
            f"has {arr.null_count} null row(s), lengths {span}"
        )
    values = arr.flatten()
    if values.null_count:
        raise ValueError(f"{values.null_count} null embedding component(s)")
    return np.asarray(values, dtype=np.float64).reshape(len(arr), dims)


def sign_lsh_bucketed(emb, table: int = 0, n_planes: int | None = None):
    """(vec_id, embedding, bucket): the single-table sign-LSH bucket
    assignment as ONE batched numpy matmul per Arrow batch (guide §4.2).

    Bucket-for-bucket identical to ``sign_lsh_bucket`` (the per-plane
    JVM expression, kept above for the oracle-CTE derivation and the
    bit-prefix pin): the round-to-6dp-before-sign guard absorbs
    fold-order ulp differences between the BLAS sum and the JVM
    sequential fold — the same discipline that pins Spark against
    DuckDB's unordered SUM. One edge it does not absorb: np.round
    rounds half-to-even where Spark's F.round rounds half-up, so a dot
    landing exactly on a 6dp halfway point can flip its bit between
    the two paths. Why: b interpreted zip_with+aggregate
    folds per row (HOFs are not codegen'd) dominated the ANN-family
    signature stages (measured at sf0.1: dedup_embedding_ann
    1.66 → 0.57 s, see OPTIMIZATION_r14.md §12). Only
    (vec_id, embedding) crosses the boundary; embedding is passed
    through untouched so verifiers keep using it JVM-side."""
    import numpy as np

    if n_planes is None:
        n_planes = _N_PLANES
    planes_mat = np.array(
        [_plane(table * n_planes + p) for p in range(n_planes)],
        dtype=np.float64,
    ).T  # (dims, n_planes)
    fields = dict(emb.dtypes)

    def _bucket_batches(batches):
        import numpy as np
        import pyarrow as pa

        shifts = np.arange(planes_mat.shape[1], dtype=np.int64)
        for batch in batches:
            arr = batch.column("embedding")
            n = len(arr)
            if n == 0:
                continue
            dots = _embedding_matrix(arr, planes_mat.shape[0]) @ planes_mat
            bits = (np.round(dots, 6) > 0).astype(np.int64)
            buckets = (bits << shifts).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id"),
                    batch.column("embedding"),
                    pa.array(buckets),
                ],
                names=["vec_id", "embedding", "bucket"],
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        _bucket_batches,
        f"vec_id {fields['vec_id']}, embedding {fields['embedding']}, "
        "bucket long",
    )


def _buckets_cte_sql() -> str:
    """The sign-LSH bucket-assignment CTE chain (planes/dots/buckets),
    shared by every oracle that buckets the corpus (similarity_ann_lsh
    here; ann_knn_graph below). The SAME md5-derived hyperplanes are
    embedded as a VALUES table (``repr(float)`` round-trips exactly in
    both engines), so the bucket assignment — and therefore the exact
    candidate set — is reproduced in SQL."""
    rows = ", ".join(
        f"({p}, {d + 1}, {w!r})"
        for p in range(_N_PLANES)
        for d, w in enumerate(_plane(p))
    )
    return f"""planes(p, i, w) AS (VALUES {rows}),
dots AS (
    SELECT e.vec_id, pl.p,
           SUM(CAST(e.embedding[pl.i] AS DOUBLE) * pl.w) AS dot
    FROM embeddings e JOIN planes pl ON TRUE
    GROUP BY e.vec_id, pl.p
),
buckets AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN ROUND(dot, 6) > 0 THEN (1::BIGINT << p) ELSE 0 END)
                AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id
)"""


def _ann_lsh_oracle() -> str:
    """ANN *recall* is approximate; the *computation* is deterministic
    (see _buckets_cte_sql), which is what the oracle checks."""
    return f"""
WITH {_buckets_cte_sql()},
qb AS (SELECT bucket AS q_bucket FROM buckets WHERE vec_id = {_QUERY_VEC_ID}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
scored AS (
    SELECT e.vec_id,
           SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)) AS dot,
           SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS na,
           SUM(CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)) AS nb
    FROM embeddings e
    JOIN buckets b ON b.vec_id = e.vec_id
    JOIN qb ON b.bucket = qb.q_bucket,
    q, GENERATE_SERIES(1, {_DIMS}) AS t(i)
    GROUP BY e.vec_id
)
SELECT vec_id, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cos_sim
FROM scored
ORDER BY ROUND(dot / (SQRT(na) * SQRT(nb)), 6) DESC, vec_id
LIMIT {_TOP_K}
"""


@register("similarity_ann_lsh", oracle=_ann_lsh_oracle())
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k restricted to the query's sign-LSH bucket (ANN scale path)."""
    emb = t(spark, sf_dir, "embeddings")
    bucketed = sign_lsh_bucketed(emb)
    q = bucketed.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("q_bucket")
    )
    scored = (
        bucketed.join(F.broadcast(q), F.col("bucket") == F.col("q_bucket"))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(_TOP_K)


# --- IVF (inverted-file) ANN: coarse quantizer + cell-restricted search ------

_IVF_K = 16  # number of coarse cells
_IVF_NPROBE = 4  # cells searched per query


def _ivf_centroids(
    spark: SparkSession, sf_dir: str, k: int = _IVF_K, emb: DataFrame = None
):
    """Deterministic coarse centroids: the K lowest-vec_id vectors
    (of `emb` when given — e.g. a base corpus whose quantizer is then
    FROZEN across appends — else the whole embeddings table).

    A trained variant (k-means over a deterministic sample) lives in
    ``similarity_ivf_trained``; seeding from a deterministic corpus
    subset keeps THIS quantizer relational and therefore oracle-exact
    while exercising the identical query path. Centroids are tiny
    (K x dims floats) and are shipped to executors inside the UDF
    closure — the broadcast-dimension pattern.

    Returns (raw_centroids, guarded_norms): cell scores divide the RAW
    dot by the centroid norm (not the vector norm — per-vector argmax
    is norm-invariant), matching the oracle's formula term for term.
    """
    import numpy as np

    if emb is None:
        emb = t(spark, sf_dir, "embeddings")
    rows = emb.orderBy("vec_id").limit(k).select("embedding").collect()
    c = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.linalg.norm(c, axis=1)
    return c, np.where(norms == 0, 1.0, norms)


# The relational coarse-quantizer CTE chain (cent/cnorm/vdot/cells) is
# shared verbatim by every oracle that needs cell assignments
# (similarity_ivf here; dedup_semdedup in llm/dedup.py).
# `cent_where` restricts which vectors the quantizer trains on — the
# incremental-layout oracle freezes centroids to the BASE corpus while
# assigning (vdot/cells) over everything, exactly like the engine.
def _cells_cte_sql(cent_where: str = "") -> str:
    return f"""cent AS (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c_idx, embedding AS cv
    FROM (SELECT vec_id, embedding FROM embeddings {cent_where}
          ORDER BY vec_id LIMIT {_IVF_K})
),
cnorm AS (
    SELECT c_idx,
           SQRT(SUM(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS cn
    FROM cent, GENERATE_SERIES(1, {_DIMS}) AS t(i)
    GROUP BY c_idx
),
vdot AS (
    SELECT e.vec_id, c.c_idx,
           SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)) AS dot
    FROM embeddings e, cent c, GENERATE_SERIES(1, {_DIMS}) AS t(i)
    GROUP BY e.vec_id, c.c_idx
),
cells AS (
    SELECT vec_id, c_idx AS cell
    FROM (
        SELECT v.vec_id, v.c_idx,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY ROUND(v.dot /
                            (CASE WHEN n.cn = 0 THEN 1.0 ELSE n.cn END), 6)
                            DESC, v.c_idx
               ) AS rn
        FROM vdot v JOIN cnorm n USING (c_idx)
    ) WHERE rn = 1
)"""


_CELLS_CTE = _cells_cte_sql()


def _ivf_oracle(cent_where: str = "", cand_where: str = "TRUE") -> str:
    """Oracle: the coarse quantizer is itself relational — centroids are
    the K lowest-vec_id vectors (of the `cent_where` subset, when the
    quantizer is frozen to a base corpus), cell assignment is the argmax
    of ROUND(dot / centroid_norm, 6) with numpy's first-index tie-break
    (ORDER BY score DESC, c_idx), probe cells are the query's top-nprobe
    centroids under the same ordering. Dividing by the centroid norm
    (not the vector norm) preserves the per-vector argmax ordering; the
    ROUND on BOTH sides keeps a near-tie (numpy pairwise summation vs
    DuckDB sequential SUM, ~1 ulp apart) from flipping a vector's cell
    and hence the candidate set. `cand_where` restricts the CANDIDATE
    set only (the delete lifecycle: deleted vectors leave the index but
    the frozen quantizer — a data copy — keeps every centroid)."""
    return f"""
WITH {_cells_cte_sql(cent_where)},
probe AS (
    SELECT v.c_idx
    FROM vdot v JOIN cnorm n USING (c_idx)
    WHERE v.vec_id = {_QUERY_VEC_ID}
    ORDER BY ROUND(v.dot / (CASE WHEN n.cn = 0 THEN 1.0 ELSE n.cn END), 6)
             DESC, v.c_idx
    LIMIT {_IVF_NPROBE}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
scored AS (
    SELECT e.vec_id,
           SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)) AS dot,
           SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS na,
           SUM(CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)) AS nb
    FROM embeddings e
    JOIN cells c ON c.vec_id = e.vec_id
    JOIN probe p ON c.cell = p.c_idx,
    q, GENERATE_SERIES(1, {_DIMS}) AS t(i)
    WHERE {cand_where}
    GROUP BY e.vec_id
)
SELECT vec_id, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cos_sim
FROM scored
ORDER BY ROUND(dot / (SQRT(na) * SQRT(nb)), 6) DESC, vec_id
LIMIT {_TOP_K}
"""


def _cell_assignments(emb: DataFrame, centroids, cnorms) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment, one vectorized numpy
    matmul per Arrow batch. Assignment score = ROUND(raw_dot /
    centroid_norm, 6) — the oracle's exact formula; rounding BEFORE the
    argmax keeps a last-ulp summation-order difference from flipping a
    cell. First index wins ties (= ORDER BY score DESC, c_idx)."""
    import pandas as pd

    def assign(batches):
        import numpy as np

        for pdf in batches:
            v = np.array(list(pdf["embedding"]), dtype=np.float64)
            scores = np.round((v @ centroids.T) / cnorms, 6)
            cells = np.argmax(scores, axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": cells.astype("int64")}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id long, cell long"
    )


def _probe_cells(q_embedding, centroids, cnorms, nprobe: int) -> list[int]:
    """The query's top-nprobe cells (driver-side: K is tiny). Stable
    sort ⇒ ties broken by lowest c_idx, matching ORDER BY ..., c_idx."""
    import numpy as np

    qv = np.array(q_embedding, dtype=np.float64)
    q_scores = np.round((centroids @ qv) / cnorms, 6)
    return [int(c) for c in np.argsort(-q_scores, kind="stable")[:nprobe]]


def _ivf_query(
    spark: SparkSession,
    sf_dir: str,
    centroids,
    cnorms,
    nprobe: int = _IVF_NPROBE,
) -> DataFrame:
    """Shared IVF search path: assign vectors to nearest coarse centroid
    (cell), search only the query's top-``nprobe`` cells.

    Scale path: cell assignment is one vectorized numpy matmul per Arrow
    batch (mapInPandas); the corpus would be written partitioned by
    ``cell`` so a query scans only nprobe/K of the data (partition
    pruning — the IVF index realized as Parquet layout). The in-cell
    scan is the same brute-force cosine as ``similarity_topk``.
    """
    emb = t(spark, sf_dir, "embeddings")
    cells = _cell_assignments(emb, centroids, cnorms)
    bucketed = emb.join(cells, "vec_id")

    qrow = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select("embedding").head()
    if qrow is None:
        raise ValueError(
            f"IVF query: vec_id {_QUERY_VEC_ID} not found in embeddings"
        )
    probe_cells = _probe_cells(qrow.embedding, centroids, cnorms, nprobe)

    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    scored = (
        bucketed.filter(F.col("cell").isin(probe_cells))
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(_TOP_K)


@register("similarity_ivf", oracle=_ivf_oracle())
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the relational (oracle-exact) deterministic
    quantizer; see _ivf_query for the search path."""
    centroids, cnorms = _ivf_centroids(spark, sf_dir)
    return _ivf_query(spark, sf_dir, centroids, cnorms)


# --- trained IVF: deterministic k-means over a corpus sample -----------------

_IVF_TRAIN_SAMPLE = 512
_IVF_TRAIN_ITERS = 10


def _ivf_trained_centroids(
    spark: SparkSession, sf_dir: str, k: int = _IVF_K
):
    """K-means (Lloyd) over a deterministic sample, driver-side numpy.

    The sample is the ``max(_IVF_TRAIN_SAMPLE, 4·k)`` lowest-vec_id
    vectors and init is the first K of them, so training is
    bit-reproducible across runs — the faiss posture (train on a
    sample, index everything) without RNG state. The sample scales
    WITH k: a production ``k = ivf_cells_for(n)`` larger than the base
    sample would otherwise silently clamp to fewer centroids (numpy
    slice semantics), breaking the K(n) sizing contract. Cosine-space
    k-means: train on L2-normalized vectors, re-normalize centroids
    each round; empty cells keep their previous centroid. At 100 TB the
    collect stays O(k·dims) — independent of corpus scale — and only
    the K×dims centroid matrix ships to executors.
    """
    import numpy as np

    rows = (
        t(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(max(_IVF_TRAIN_SAMPLE, 4 * k))
        .select("embedding")
        .collect()
    )
    if len(rows) < k:
        raise ValueError(
            f"cannot train {k} IVF cells from a corpus of {len(rows)} "
            f"vectors — pick k <= corpus size (ivf_cells_for caps at √n)"
        )
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(norms == 0, 1.0, norms)

    c = x[:k].copy()
    for _ in range(_IVF_TRAIN_ITERS):
        assign = np.argmax(x @ c.T, axis=1)
        for ki in range(k):
            members = x[assign == ki]
            if len(members):
                c[ki] = members.mean(axis=0)
        cn = np.linalg.norm(c, axis=1, keepdims=True)
        c = c / np.where(cn == 0, 1.0, cn)
    cnorms = np.linalg.norm(c, axis=1)
    return c, np.where(cnorms == 0, 1.0, cnorms)


@register("similarity_ivf_trained")  # rows-only: k-means isn't SQL
def similarity_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer — the real-recall scale
    path (the relational quantizer of similarity_ivf exists for oracle
    exactness). Declared rows-only for the driver; recall@10 ≥ 0.9 vs
    the brute-force similarity_topk is pinned in test_similarity."""
    centroids, cnorms = _ivf_trained_centroids(spark, sf_dir)
    return _ivf_query(spark, sf_dir, centroids, cnorms)


# --- IVF index as Parquet LAYOUT: partition pruning does the probing ---------


def write_ivf_layout(
    spark: SparkSession, sf_dir: str, out_dir: str, k: int = _IVF_K
) -> tuple:
    """Materialize the IVF index as physical layout: the corpus written
    `partitionBy(cell)`. A query then reads ONLY its nprobe cell
    directories — partition pruning IS the index probe, so the scan cost
    is nprobe/K of the corpus regardless of corpus size (plus zero
    per-query assignment work, since cells were assigned at write time).
    Returns (centroids, cnorms) — the quantizer is part of the index and
    must be reused at query time.
    """
    centroids, cnorms = _ivf_trained_centroids(spark, sf_dir, k=k)
    emb = t(spark, sf_dir, "embeddings")
    (
        emb.join(_cell_assignments(emb, centroids, cnorms), "vec_id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(out_dir)
    )
    return centroids, cnorms


def ivf_query_layout(
    spark: SparkSession,
    layout_dir: str,
    centroids,
    cnorms,
    query_vec_id: int = _QUERY_VEC_ID,
    nprobe: int = _IVF_NPROBE,
    k: int = _TOP_K,
    query_vec=None,
) -> DataFrame:
    """ANN top-k over an IVF layout: the cell IN-list filter prunes to
    nprobe partition directories (PartitionFilters in the scan — pinned
    in test_similarity), then brute-force cosine inside them.

    Pass ``query_vec`` (the raw embedding) when the caller already has
    it — resolving it BY ID from the layout is a fallback convenience
    that scans every cell directory for one row (fine at fixture scale,
    O(corpus) at 100 TB where the right source is the probe request
    itself or an id-keyed lookup table)."""
    layout = spark.read.parquet(layout_dir)
    if query_vec is None:
        qrow = (
            layout.filter(F.col("vec_id") == query_vec_id)
            .select("embedding")
            .head()
        )
        if qrow is None:
            raise ValueError(
                f"IVF layout query: vec_id {query_vec_id} not found in "
                f"layout {layout_dir!r}"
            )
        query_vec = qrow.embedding
    probe = _probe_cells(query_vec, centroids, cnorms, nprobe)
    q = spark.createDataFrame([(list(query_vec),)], "qv array<float>")
    return (
        layout.filter(F.col("cell").isin(probe))
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def _ivf_layout_home(
    spark: SparkSession, sf_dir: str, variant: str = ""
) -> tuple[str, str]:
    """(layout directory, meta table name) for this corpus — the layout
    lives under the local warehouse next to the catalog tables; the
    single-row meta table records the corpus fingerprint so the layout
    is written at most once per corpus (same ensure discipline as the
    postings and LSH indexes)."""
    import os
    import re
    from urllib.parse import urlparse

    tag = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    return (
        os.path.join(wh, f"ivf_layout{variant}_{tag}"),
        f"ivflay{variant}_{tag}_meta",
    )


@register("similarity_ivf_layout", oracle=_ivf_oracle())
def similarity_ivf_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index realized as PHYSICAL layout, externally verified:
    the corpus written `partitionBy(cell)` once per corpus, queries
    reading ONLY their nprobe cell directories (PartitionFilters — the
    probe is partition pruning, so scan cost is nprobe/K of the corpus
    at any scale, with zero per-query assignment work). Uses the
    relational deterministic quantizer so the oracle is the same SQL as
    similarity_ivf: same candidate set, same scores — the layout
    changes the ACCESS PATH, never the answer. Build-once semantics: a
    matching corpus fingerprint in the meta table skips the rewrite, so
    a previously returned lazy plan never races an overwrite of the
    directories it scans."""
    emb = t(spark, sf_dir, "embeddings")
    path, meta_table = _ivf_layout_home(spark, sf_dir)
    fp = emb.groupBy().agg(
        F.count("*").alias("n"), F.sum("vec_id").alias("s")
    ).first()
    n, s = int(fp["n"]), int(fp["s"] or 0)
    centroids, cnorms = _ivf_centroids(spark, sf_dir)
    fresh = True
    if spark.catalog.tableExists(meta_table):
        m = spark.table(meta_table).first()
        if m["n_vecs"] == n and m["fp_sum_ids"] == s:
            fresh = False
    if fresh:
        (
            emb.join(_cell_assignments(emb, centroids, cnorms), "vec_id")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(path)
        )
        from ..plans.bucketing import drop_orphaned_table

        drop_orphaned_table(spark, meta_table)
        spark.createDataFrame(
            [(n, s)], "n_vecs bigint, fp_sum_ids bigint"
        ).write.mode("overwrite").saveAsTable(meta_table)
    qrow = (
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select("embedding").head()
    )
    if qrow is None:
        raise ValueError(
            f"IVF layout query: vec_id {_QUERY_VEC_ID} not in embeddings"
        )
    return ivf_query_layout(
        spark, path, centroids, cnorms, query_vec=qrow.embedding
    )


def append_ivf_layout(
    new_emb: DataFrame, layout_dir: str, centroids, cnorms
) -> None:
    """Append new vectors into an existing IVF layout with the FROZEN
    quantizer: one map-only assignment pass over the batch, files
    landing INSIDE the existing cell=N directories (mode=append never
    touches prior files). The corpus is never re-clustered or
    rewritten — the delta-generation economics of the postings/LSH
    indexes, realized here by the filesystem (a cell directory IS the
    generation-union of every batch routed to it, so the query path
    needs no generation bookkeeping at all). Centroids MUST be the
    index's frozen quantizer — assigning a batch with retrained
    centroids would route it inconsistently with the resident data."""
    (
        new_emb.join(_cell_assignments(new_emb, centroids, cnorms), "vec_id")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(layout_dir)
    )


def delete_from_ivf_layout(
    spark: SparkSession,
    del_vecs: DataFrame,
    layout_dir: str,
    centroids,
    cnorms,
) -> dict:
    """Delete vectors from an IVF layout — affected-CELLS-only rewrite,
    the vector-index half of the delete lifecycle (postings/LSH get
    tombstones + sidecar recomputes; here the filesystem layout makes
    the targeted rewrite natural).

    `del_vecs` carries (vec_id, embedding): the frozen quantizer
    assigns the batch map-only, which names the ≤ nbatch cell
    directories that can contain the ids — the corpus is never scanned
    to FIND them. Those cells are read back (partition-pruned), the
    ids anti-joined away, and ONLY those cell directories replaced via
    dynamic partition overwrite; a cell emptied entirely is removed
    (dynamic overwrite only replaces partitions present in the new
    data — leaving an emptied cell's old files would resurrect its
    vectors). Fails loudly if any id is absent from its computed cell
    (wrong/stale embeddings in `del_vecs` would otherwise silently
    delete nothing). The quantizer is FROZEN data — deleting a vector
    that seeded a centroid does not move any cell boundary.

    Crash contract: the per-cell file commit is Spark's staging
    (atomic per partition directory); a crash mid-job can leave a
    PREFIX of the affected cells rewritten, after which replaying the
    delete fails its own presence validation loudly — recovery is
    re-deleting only the still-present ids or rebuilding the layout.
    Returns {"n_deleted", "cells_rewritten", "cells_emptied"}."""
    import os
    import shutil

    ids = del_vecs.select("vec_id").distinct()
    n_ids = ids.count()
    cells = sorted(
        int(r["cell"])
        for r in _cell_assignments(del_vecs, centroids, cnorms)
        .select("cell")
        .distinct()
        .collect()
    )
    affected = spark.read.parquet(layout_dir).filter(
        F.col("cell").isin(cells)
    )
    # count from the ids side (matching requested ids, not matching
    # LAYOUT rows): a vec_id present twice in the layout would inflate
    # a layout-side count and could exactly mask an absent id, turning
    # the fail-loud below into a silent partial delete — same direction
    # as delete_from_lsh_index / delete_from_index
    n_present = ids.join(affected, "vec_id", "left_semi").count()
    if n_present != n_ids:
        raise ValueError(
            f"delete_from_ivf_layout: {n_ids - n_present}/{n_ids} vec_id(s) "
            f"absent from their computed cells in {layout_dir!r} — deletes "
            "must pass the INDEXED embeddings (frozen-quantizer routing) "
            "and target present vectors exactly"
        )
    # break lineage before overwriting the files being read (bounded:
    # affected cells only, never the corpus)
    keep = affected.join(ids, "vec_id", "left_anti").localCheckpoint(
        eager=True
    )
    kept_cells = {
        int(r["cell"]) for r in keep.select("cell").distinct().collect()
    }
    if kept_cells:
        (
            keep.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell")
            .parquet(layout_dir)
        )
    emptied = [c for c in cells if c not in kept_cells]
    for c in emptied:
        cell_dir = os.path.join(layout_dir, f"cell={c}")
        if os.path.isdir(cell_dir):
            shutil.rmtree(cell_dir)
    return {
        "n_deleted": n_ids,
        "cells_rewritten": len(kept_cells),
        "cells_emptied": len(emptied),
    }


_IVF_DELETE_PRED = "vec_id % 9 = 5"  # never the query vector (id 0)


@register(
    "similarity_ivf_deleted",
    oracle=_ivf_oracle(cand_where=f"NOT (e.vec_id % 9 = 5)"),
)
def similarity_ivf_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector-index DELETE lifecycle externally verified: full
    layout under the relational frozen quantizer, the `vec_id % 9 = 5`
    slice deleted (affected-cells-only rewrite — the deleted batch's
    own cell assignment names the directories, the corpus is never
    scanned), ANN top-k answered by partition pruning. Oracle = the
    same quantizer over the FULL corpus (frozen centroids are data
    copies; deletes never move cell boundaries) with deleted vectors
    excluded from the candidate set only: delete+query must equal a
    fresh layout over the live vectors. Build-once per corpus via
    fingerprinted meta over the LIVE set."""
    emb = t(spark, sf_dir, "embeddings")
    doomed = emb.filter(F.expr(_IVF_DELETE_PRED))
    live = emb.filter(~F.expr(_IVF_DELETE_PRED))
    centroids, cnorms = _ivf_centroids(spark, sf_dir)
    path, meta_table = _ivf_layout_home(spark, sf_dir, variant="_del")
    fp = live.groupBy().agg(
        F.count("*").alias("n"), F.sum("vec_id").alias("s")
    ).first()
    n, s = int(fp["n"]), int(fp["s"] or 0)
    fresh = True
    if spark.catalog.tableExists(meta_table):
        m = spark.table(meta_table).first()
        if m["n_vecs"] == n and m["fp_sum_ids"] == s:
            fresh = False
    if fresh:
        (
            emb.join(_cell_assignments(emb, centroids, cnorms), "vec_id")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(path)
        )
        delete_from_ivf_layout(spark, doomed, path, centroids, cnorms)
        from ..plans.bucketing import drop_orphaned_table

        drop_orphaned_table(spark, meta_table)
        spark.createDataFrame(
            [(n, s)], "n_vecs bigint, fp_sum_ids bigint"
        ).write.mode("overwrite").saveAsTable(meta_table)
    qrow = (
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select("embedding").head()
    )
    if qrow is None:
        raise ValueError(
            f"IVF layout query: vec_id {_QUERY_VEC_ID} not in embeddings"
        )
    return ivf_query_layout(
        spark, path, centroids, cnorms, query_vec=qrow.embedding
    )


@register(
    "similarity_ivf_incremental",
    oracle=_ivf_oracle(f"WHERE vec_id % 2 = 0"),
)
def similarity_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF append lifecycle externally verified — the third index
    family to get it (postings, LSH bands, now the vector index): base
    layout from even vec_ids with the base-frozen relational quantizer,
    odd vec_ids APPENDED (map-only assignment + file append into the
    cell directories, nothing rewritten), ANN top-k answered over the
    union by partition pruning. Oracle = the same relational quantizer
    frozen to the base (cent from even vec_ids) assigning ALL vectors:
    append+query must equal a fresh assignment of the union under the
    frozen quantizer — the property that makes appending to a vector
    index trustworthy. Build-once per corpus via fingerprinted meta."""
    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    delta = emb.filter(F.col("vec_id") % 2 == 1)
    centroids, cnorms = _ivf_centroids(spark, sf_dir, emb=base)
    path, meta_table = _ivf_layout_home(spark, sf_dir, variant="_inc")
    fp = emb.groupBy().agg(
        F.count("*").alias("n"), F.sum("vec_id").alias("s")
    ).first()
    n, s = int(fp["n"]), int(fp["s"] or 0)
    fresh = True
    if spark.catalog.tableExists(meta_table):
        m = spark.table(meta_table).first()
        if m["n_vecs"] == n and m["fp_sum_ids"] == s:
            fresh = False
    if fresh:
        (
            base.join(_cell_assignments(base, centroids, cnorms), "vec_id")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(path)
        )
        append_ivf_layout(delta, path, centroids, cnorms)
        from ..plans.bucketing import drop_orphaned_table

        drop_orphaned_table(spark, meta_table)
        spark.createDataFrame(
            [(n, s)], "n_vecs bigint, fp_sum_ids bigint"
        ).write.mode("overwrite").saveAsTable(meta_table)
    # query vector from the SOURCE table (pushed-down point filter),
    # not a by-id scan of every cell directory in the layout
    qrow = (
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select("embedding").head()
    )
    if qrow is None:
        raise ValueError(
            f"IVF layout query: vec_id {_QUERY_VEC_ID} not in embeddings"
        )
    return ivf_query_layout(
        spark, path, centroids, cnorms, query_vec=qrow.embedding
    )


_ND_COS = 0.45  # same operating point as dedup_semdedup


def probe_ivf_near_dup(
    spark: SparkSession,
    new_emb: DataFrame,
    layout_dir: str,
    centroids,
    cnorms,
    threshold: float = _ND_COS,
) -> DataFrame:
    """(vec_id, match_id, n_near, max_cos) for every NEW vector whose
    exact cosine against a resident vector in ITS cell exceeds
    `threshold` — the embedding-modality twin of the LSH index probe
    (daily-delta near-dup without re-processing the corpus), with the
    SemDeDup cell-restriction contract: candidates come only from the
    frozen-quantizer cell, so the verify is batch × cell-resident, never
    batch × corpus. Threshold applies to the RAW cosine (rounding is
    display-only — the repo-wide discipline)."""
    assigned = new_emb.join(
        _cell_assignments(new_emb, centroids, cnorms), "vec_id"
    )
    resident = spark.read.parquet(layout_dir).select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").alias("r_emb"),
        "cell",
    )
    raw = cosine(F.col("embedding"), F.col("r_emb"))
    return (
        assigned.join(resident, "cell")
        .filter(F.col("vec_id") != F.col("match_id"))
        .withColumn("raw_cos", raw)
        .filter(F.col("raw_cos") > threshold)
        .groupBy("vec_id")
        .agg(
            F.min("match_id").alias("match_id"),
            F.count("*").alias("n_near"),
            F.max(F.round("raw_cos", 6)).alias("max_cos"),
        )
    )


@register(
    "dedup_embedding_incremental",
    oracle=f"""
WITH {_cells_cte_sql("WHERE vec_id % 2 = 0")},
pairs AS (
    SELECT ca.vec_id AS id_a, cb.vec_id AS id_b,
           SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dot,
           SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS na,
           SUM(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nb
    FROM cells ca
    JOIN cells cb ON ca.cell = cb.cell
       AND ca.vec_id % 2 = 0 AND cb.vec_id % 2 = 1
    JOIN embeddings a ON a.vec_id = ca.vec_id
    JOIN embeddings b ON b.vec_id = cb.vec_id,
    GENERATE_SERIES(1, {_DIMS}) AS t(i)
    GROUP BY ca.vec_id, cb.vec_id
),
near AS (
    SELECT id_a, id_b, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cos_sim
    FROM pairs
    WHERE dot / (SQRT(na) * SQRT(nb)) > {_ND_COS}
)
SELECT id_b AS vec_id,
       MIN(id_a) AS match_id,
       CAST(COUNT(*) AS BIGINT) AS n_near,
       MAX(cos_sim) AS max_cos
FROM near
GROUP BY id_b
ORDER BY vec_id
""",
)
def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-modality delta near-dup, externally verified:
    even vec_ids are the resident corpus (IVF layout built at most once
    under the base-frozen quantizer), odd vec_ids are today's batch —
    which new vectors near-duplicate something already resident, and
    whom? Completes the delta-dedup story across both modalities (text:
    dedup_lsh_index_*; embeddings: here) on the same frozen-quantizer
    layout similarity_ivf_incremental appends to. Oracle = cell-
    restricted exact-cosine pairs under the base-frozen relational
    quantizer, indexed-side even × batch-side odd."""
    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    centroids, cnorms = _ivf_centroids(spark, sf_dir, emb=base)
    path, meta_table = _ivf_layout_home(spark, sf_dir, variant="_nd")
    fp = base.groupBy().agg(
        F.count("*").alias("n"), F.sum("vec_id").alias("s")
    ).first()
    n, s = int(fp["n"]), int(fp["s"] or 0)
    fresh = True
    if spark.catalog.tableExists(meta_table):
        m = spark.table(meta_table).first()
        if m["n_vecs"] == n and m["fp_sum_ids"] == s:
            fresh = False
    if fresh:
        (
            base.join(_cell_assignments(base, centroids, cnorms), "vec_id")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(path)
        )
        from ..plans.bucketing import drop_orphaned_table

        drop_orphaned_table(spark, meta_table)
        spark.createDataFrame(
            [(n, s)], "n_vecs bigint, fp_sum_ids bigint"
        ).write.mode("overwrite").saveAsTable(meta_table)
    return probe_ivf_near_dup(spark, batch, path, centroids, cnorms).orderBy(
        "vec_id"
    )


# --- kNN graph construction (N3+) --------------------------------------------
# The all-vectors variant of ANN search: every vector's top-k nearest
# neighbors, candidates restricted to its sign-LSH bucket — the
# building block for graph-based ANN indexes (NSW/HNSW seeding),
# graph-clustering of a corpus, and SemDeDup-style audits. One
# bucket-keyed self-join (pairs per bucket ~ (n/2^planes)^2, never
# corpus x corpus) + one per-vector window. Bucket assignment shares
# the md5 hyperplanes, so the WHOLE graph is oracle-exact.

_KNN_GRAPH_K = 3


def _knn_graph_oracle() -> str:
    return f"""
WITH {_buckets_cte_sql()},
pairs AS (
    SELECT ba.vec_id AS src, bb.vec_id AS dst,
           SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dot,
           SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS na,
           SUM(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nb
    FROM buckets ba
    JOIN buckets bb ON ba.bucket = bb.bucket AND ba.vec_id <> bb.vec_id
    JOIN embeddings a ON a.vec_id = ba.vec_id
    JOIN embeddings b ON b.vec_id = bb.vec_id,
    GENERATE_SERIES(1, {_DIMS}) AS t(i)
    GROUP BY ba.vec_id, bb.vec_id
),
ranked AS (
    SELECT src, dst, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cos_sim,
           ROW_NUMBER() OVER (
               PARTITION BY src
               ORDER BY ROUND(dot / (SQRT(na) * SQRT(nb)), 6) DESC, dst
           ) AS rk
    FROM pairs
)
SELECT src, dst, cos_sim, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_KNN_GRAPH_K}
"""


@register("ann_knn_graph", oracle=_knn_graph_oracle())
def ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    bucketed = sign_lsh_bucketed(emb)
    a = bucketed.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("emb_a"),
        "bucket",
    )
    b = bucketed.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("emb_b"),
        "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("dst"))
    return (
        pairs.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _KNN_GRAPH_K)
    )


# --- product quantization (PQ): the memory-compression scale path ------------
#
# 100 TB story: raw float32 corpus vectors are 4·dims bytes each; PQ
# codes are M bytes (here 8 vs 256 — 32× compression), so the ANN scan
# reads codes, not vectors. Training (per-subspace k-means over the same
# deterministic sample the IVF quantizer uses) is corpus-size-
# independent; encoding is one map-only Arrow pass; a query ships only
# an M×K lookup table of partial dot products (128 doubles) as a literal
# and scores every code JVM-side (asymmetric distance computation), so
# the candidate scan is map-only + TakeOrderedAndProject. Exact cosine
# re-ranks only the PQ_RERANK candidates — reference: faiss IndexPQ /
# Jégou et al., "Product Quantization for Nearest Neighbor Search"
# (TPAMI'11). Declared rows-only (k-means isn't SQL); recall@10 ≥ 0.9
# vs brute-force is pinned in test_similarity.

_PQ_M = 8  # subspaces (dims/M = 8 floats per subvector)
_PQ_K = 32  # codewords per subspace (5-bit codes)
_PQ_RERANK = 100  # exact-cosine re-rank depth (recall@10 = 1.0 on both
# the sf0.001 and sf0.01 embedding fixtures at these settings)


def _pq_codebooks(spark: SparkSession, sf_dir: str):
    """(M, K, dims/M) codebooks from per-subspace Lloyd iterations over
    the deterministic low-vec_id sample (L2-normalized full vectors, so
    sum-of-subspace dots approximates the cosine numerator)."""
    import numpy as np

    rows = (
        t(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(_IVF_TRAIN_SAMPLE)
        .select("embedding")
        .collect()
    )
    if len(rows) < _PQ_K:
        # same loud contract as _ivf_trained_centroids: xs[:_PQ_K] on a
        # smaller sample would clamp and `books[m] = c` would crash
        # with an opaque numpy broadcast error
        raise ValueError(
            f"cannot train {_PQ_K} PQ codewords from a corpus of "
            f"{len(rows)} vectors"
        )
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(norms == 0, 1.0, norms)
    if x.shape[1] % _PQ_M:
        # integer division would silently DROP the trailing dims from
        # both the codebooks and the query LUT — recall degrades with
        # no error; fail loudly like the _PQ_K sample check above
        raise ValueError(
            f"PQ: embedding dim {x.shape[1]} is not divisible by "
            f"_PQ_M={_PQ_M} subquantizers"
        )
    d_sub = x.shape[1] // _PQ_M
    books = np.zeros((_PQ_M, _PQ_K, d_sub))
    for m in range(_PQ_M):
        xs = x[:, m * d_sub : (m + 1) * d_sub]
        c = xs[:_PQ_K].copy()
        for _ in range(_IVF_TRAIN_ITERS):
            d2 = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for k in range(_PQ_K):
                members = xs[assign == k]
                if len(members):
                    c[k] = members.mean(0)
        books[m] = c
    return books


def pq_encode(emb: DataFrame, books) -> DataFrame:
    """(vec_id, codes array<int>) — map-only Arrow-batched encoding of
    L2-normalized vectors to per-subspace nearest codewords."""
    import numpy as np
    import pandas as pd

    m_sub, _, d_sub = books.shape

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            n = np.linalg.norm(x, axis=1, keepdims=True)
            x = x / np.where(n == 0, 1.0, n)
            codes = np.zeros((len(x), m_sub), dtype=np.int32)
            for m in range(m_sub):
                xs = x[:, m * d_sub : (m + 1) * d_sub]
                d2 = ((xs[:, None, :] - books[m][None, :, :]) ** 2).sum(-1)
                codes[:, m] = d2.argmin(1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        enc, "vec_id long, codes array<int>"
    )


@register("similarity_ivf_pq")  # rows-only: k-means isn't SQL
def similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-k: score every PQ code against the query's partial-dot
    lookup table (JVM-side literal indexing, no UDF in the scan), keep
    the best _PQ_RERANK candidates, re-rank those with exact cosine.
    Output contract matches similarity_topk (vec_id, cos_sim)."""
    import numpy as np

    emb = t(spark, sf_dir, "embeddings")
    books = _pq_codebooks(spark, sf_dir)
    qrow = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).head()
    if qrow is None:
        raise ValueError(
            f"PQ query: vec_id {_QUERY_VEC_ID} not found in embeddings"
        )
    qvec = np.array(qrow.embedding, dtype=np.float64)
    qn = np.linalg.norm(qvec)
    qnorm = qvec / (qn if qn else 1.0)
    d_sub = len(qvec) // _PQ_M
    lut = [
        [
            float(qnorm[m * d_sub : (m + 1) * d_sub] @ books[m][k])
            for k in range(_PQ_K)
        ]
        for m in range(_PQ_M)
    ]
    lut_col = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in lut]
    )
    codes_df = pq_encode(emb, books)
    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.element_at(
            F.element_at(lut_col, m + 1),
            F.element_at(F.col("codes"), m + 1) + 1,
        ),
    )
    cand = (
        codes_df.withColumn("approx", score)
        .orderBy(F.col("approx").desc(), "vec_id")
        .limit(_PQ_RERANK)
    )
    qlit = F.array(*[F.lit(float(v)) for v in qvec])
    reranked = cand.join(emb, "vec_id").select(
        "vec_id",
        F.round(cosine(F.col("embedding"), qlit), 6).alias("cos_sim"),
    )
    return reranked.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(
        _TOP_K
    )


# --- PageRank over the kNN graph (iterative-algorithm class) -----------------
#
# Power iteration with damping 0.85 and uniform dangling-mass
# redistribution (within-bucket kNN leaves singleton-bucket nodes with
# no out-edges). Per round: one (src) join + one (dst) partial-agg
# shuffle of (node, contribution) longs/doubles, one scalar aggregate
# for the dangling mass, localCheckpoint to keep lineage O(1) — the
# same iterative posture as connected components, rounds fixed at
# _PR_ITERS so the result is deterministic up to float summation order
# (output rounded; the pure-python reference in tests matches to 1e-6).
# 100 TB: the rank table is (node, double) — 16 B/node — and the edge
# set ships once; this is exactly Pregel-on-DataFrames.

_PR_DAMPING = 0.85
_PR_ITERS = 8


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = _PR_ITERS) -> DataFrame:
    """(vec_id, rank) after `iters` damped power iterations.

    nodes: one column `vec_id`; edges: (src, dst) — multi-edges allowed,
    weight 1/out_degree each.
    """
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank over an empty node set")
    # checkpoint the edge set FIRST: deg and ed both derive from it, and
    # two eager checkpoints over the raw input would each replay the
    # whole upstream edge-producer plan (the full kNN-graph build when
    # called from graph_pagerank) — the triangle_counts replay class.
    # deg is checkpointed too because the per-iteration dangling-mass
    # action joins against it every round.
    edges = edges.localCheckpoint(eager=True)
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=True)
    )
    ed = edges.join(deg, "src").localCheckpoint()
    ranks = nodes.select("vec_id", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    for _ in range(iters):
        contrib = (
            ed.join(ranks, ed.src == ranks.vec_id)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = (
            ranks.join(deg, ranks.vec_id == deg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .head()[0]
        )
        base = (1.0 - _PR_DAMPING) / n + _PR_DAMPING * dangling / n
        ranks = (
            ranks.join(contrib, ranks.vec_id == contrib.dst, "left")
            .select(
                "vec_id",
                (
                    F.lit(base)
                    + F.lit(_PR_DAMPING) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


@register("graph_pagerank")  # rows-only: iterative algorithm isn't SQL
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    edges = ann_knn_graph(spark, sf_dir).select("src", "dst")
    return (
        pagerank(emb.select("vec_id"), edges)
        .select("vec_id", F.round("rank", 8).alias("rank"))
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# N3g' — triangle counting on the kNN graph (the clustering-coefficient
# numerator: how locally dense is each vector's neighborhood — a
# standard graph-structure signal over a similarity corpus, and THE
# canonical "make the quadratic join survive scale" exercise).
#
# Scale shape (Suri & Vassilvitskii, WWW'11 "Counting Triangles and the
# Curse of the Last Reducer" — public): orient every undirected edge
# from its lower-DEGREE endpoint to the higher (ties by id). Each
# triangle is then generated EXACTLY once, and the wedge join fans out
# per-node by ORIENTED out-degree, which is O(sqrt(m)) for any graph —
# a celebrity node with 10^6 neighbors contributes 10^12 wedges
# unoriented but only ~m wedges oriented. Three shuffles total: degree
# agg, wedge self-join on the hinge, closing-edge semi-join. The oracle
# brute-forces the same triangles relationally (a<b<c chains).
# ---------------------------------------------------------------------------


def _tri_edges_cte() -> str:
    return f"""knn AS (
    {_knn_graph_oracle().replace(chr(10), chr(10) + '    ')}
),
edges AS (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM knn
)"""


@register(
    "graph_triangles",
    oracle=f"""
WITH {_tri_edges_cte()},
tri AS (
    SELECT e1.a AS u, e1.b AS v, e2.b AS w
    FROM edges e1
    JOIN edges e2 ON e2.a = e1.b
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
member AS (
    SELECT u AS node FROM tri
    UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM member GROUP BY node
""",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, n_triangles) over the undirected kNN graph via
    degree-ordered wedge counting."""
    knn = ann_knn_graph(spark, sf_dir)
    edges = (
        knn.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    return triangle_counts(edges)


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts for an undirected edge set given as
    canonical (a < b) pairs.

    The edge set is consumed FIVE times (degree ×2, both wedge sides,
    closing probe); localCheckpoint materializes it once so the plan
    reuses the m-row edge list instead of replaying its producer —
    with the kNN-graph producer inlined the audit counted 100
    exchanges, checkpointed it is the 3 the algorithm needs."""
    edges = edges.localCheckpoint(eager=True)
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=True)  # joined twice (a side, b side)
    )
    # rank = (degree, id): the total order that bounds oriented out-degree
    ranked = edges.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b")
    a_lower = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_lower, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_lower, F.col("b")).otherwise(F.col("a")).alias("hi"),
    ).localCheckpoint(eager=True)  # consumed by BOTH wedge sides
    # wedges hinged at the lowest-rank vertex; (v, w) canonicalized so the
    # closing-edge probe hits the undirected edge set once
    w1 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    w2 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
    wedges = w1.join(w2, "u").filter(F.col("v") < F.col("w"))
    closing = edges.select(F.col("a").alias("v"), F.col("b").alias("w"))
    tri = wedges.join(closing, ["v", "w"])  # (u, v, w) exactly once
    # one explode, not a 3-way union — a union would CONSUME tri three
    # times and replay the wedge+closing joins per branch
    member = tri.select(
        F.explode(F.array("u", "v", "w")).alias("node")
    )
    return member.groupBy("node").agg(F.count("*").alias("n_triangles"))


@register(
    "graph_clustering_coeff",
    oracle=f"""
WITH {_tri_edges_cte()},
tri AS (
    SELECT e1.a AS u, e1.b AS v, e2.b AS w
    FROM edges e1
    JOIN edges e2 ON e2.a = e1.b
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
member AS (
    SELECT u AS node FROM tri
    UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri
),
tcnt AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM member GROUP BY node
),
deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
    ) GROUP BY node
)
SELECT d.node, COALESCE(t.n_triangles, 0) AS n_triangles, d.deg,
       ROUND(COALESCE(t.n_triangles, 0) * 2.0
             / (d.deg * (d.deg - 1)), 6) AS clustering
FROM deg d LEFT JOIN tcnt t ON t.node = d.node
WHERE d.deg >= 2
""",
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: triangles / C(deg, 2) —
    the neighborhood-density signal over the kNN graph (high = the
    vector sits in a tight semantic cluster; low = a hub bridging
    modes). Rides the SAME oriented-wedge machinery as
    graph_triangles plus one degree rollup and a left join — nothing
    new moves at scale."""
    knn = ann_knn_graph(spark, sf_dir)
    edges = (
        knn.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    tcnt = triangle_counts(edges)
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tcnt, "node", "left")
        .select(
            "node",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            "deg",
            F.round(
                F.coalesce("n_triangles", F.lit(0))
                * 2.0
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("clustering"),
        )
    )


@register(
    "similarity_ivf_maintained",
    oracle=_ivf_oracle("WHERE vec_id % 2 = 0"),
)
def similarity_ivf_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF layout lifecycle with maintenance composed and
    externally verified: base layout from even vec_ids (base-frozen
    relational quantizer), odd vec_ids appended in THREE batches (each
    lands new small files inside its cell directories), then the
    UNIFIED MAINTENANCE SCHEDULER coalesces every cell over the file
    threshold (affected-cells-only rewrite), and ANN top-k answers by
    partition pruning over the compacted layout. Oracle = the frozen
    base quantizer assigning ALL vectors (same as the incremental
    query): file compaction must change the PHYSICAL layout only,
    never an answer. Build-once per corpus via fingerprinted meta."""
    from .maintenance import maintain_indexes

    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    centroids, cnorms = _ivf_centroids(spark, sf_dir, emb=base)
    path, meta_table = _ivf_layout_home(spark, sf_dir, variant="_mnt")
    fp = emb.groupBy().agg(
        F.count("*").alias("n"), F.sum("vec_id").alias("s")
    ).first()
    n, s = int(fp["n"]), int(fp["s"] or 0)
    fresh = True
    if spark.catalog.tableExists(meta_table):
        m = spark.table(meta_table).first()
        if m["n_vecs"] == n and m["fp_sum_ids"] == s:
            fresh = False
    if fresh:
        (
            base.join(_cell_assignments(base, centroids, cnorms), "vec_id")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(path)
        )
        for mod in (1, 3, 5):
            append_ivf_layout(
                emb.filter(F.col("vec_id") % 6 == mod), path, centroids,
                cnorms,
            )
        maintain_indexes(spark, ivf_layouts=[path], max_files_per_cell=1)
        from ..plans.bucketing import drop_orphaned_table

        drop_orphaned_table(spark, meta_table)
        spark.createDataFrame(
            [(n, s)], "n_vecs bigint, fp_sum_ids bigint"
        ).write.mode("overwrite").saveAsTable(meta_table)
    qrow = (
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select("embedding").head()
    )
    if qrow is None:
        raise ValueError(
            f"IVF layout query: vec_id {_QUERY_VEC_ID} not in embeddings"
        )
    return ivf_query_layout(
        spark, path, centroids, cnorms, query_vec=qrow.embedding
    )
