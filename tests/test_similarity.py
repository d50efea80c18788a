"""ANN quality gates (N3): the trained-IVF path must actually find the
true neighbors — recall@10 ≥ 0.9 against brute-force cosine on the
sf0.01 embeddings — and training must be deterministic.
"""

from __future__ import annotations

import pytest

import numpy as np

from chess_pos_db_spark.llm import similarity as sim


def test_ivf_trained_recall(spark, sf_dir):
    truth = [r["vec_id"] for r in sim.similarity_topk(spark, sf_dir).collect()]
    got = {
        r["vec_id"]
        for r in sim.similarity_ivf_trained(spark, sf_dir).collect()
    }
    recall = sum(1 for v in truth if v in got) / len(truth)
    assert recall >= 0.9, (recall, truth, sorted(got))


def test_ivf_trained_centroids_deterministic(spark, sf_dir):
    c1, n1 = sim._ivf_trained_centroids(spark, sf_dir)
    c2, n2 = sim._ivf_trained_centroids(spark, sf_dir)
    assert np.array_equal(c1, c2)
    assert np.array_equal(n1, n2)
    assert c1.shape == (sim._IVF_K, sim._DIMS)
    # centroids are unit-normalized (cosine-space k-means)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_ivf_layout_partition_pruning(spark, sf_dir, tmp_path):
    """The IVF-as-layout scale path: results identical to the in-query
    trained IVF, and the probe reaches the scan as a PARTITION filter —
    only nprobe of K cell directories are read."""
    out = str(tmp_path / "ivf")
    centroids, cnorms = sim.write_ivf_layout(spark, sf_dir, out)
    df = sim.ivf_query_layout(spark, out, centroids, cnorms)
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[cell#\d+ IN \(", plan), plan[:2000]

    got = [(r["vec_id"], r["cos_sim"]) for r in df.collect()]
    want = [
        (r["vec_id"], r["cos_sim"])
        for r in sim.similarity_ivf_trained(spark, sf_dir).collect()
    ]
    assert got == want
    # pruning is real: fewer files read than cell directories exist
    import glob

    n_cells = len(glob.glob(f"{out}/cell=*"))
    assert n_cells > sim._IVF_NPROBE


def test_ivf_training_improves_quantization_objective(spark, sf_dir):
    """The point of training, stated as what k-means actually
    guarantees: the trained codebook's quantization objective (mean max
    cosine of sample points to their nearest centroid) must beat the
    untrained lowest-vec_id codebook's. Recall itself is gated
    separately (test_ivf_trained_recall) — a single neighbor can sit
    across a cell boundary for either quantizer at fixed nprobe, so
    pointwise recall dominance is not a property training promises."""
    from chess_pos_db_spark.tables import t as load

    rows = (
        load(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(sim._IVF_TRAIN_SAMPLE)
        .select("embedding")
        .collect()
    )
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    untrained, un = sim._ivf_centroids(spark, sf_dir)
    trained, tn = sim._ivf_trained_centroids(spark, sf_dir)
    obj_u = (x @ (np.asarray(untrained) / np.asarray(un)[:, None]).T).max(1).mean()
    obj_t = (x @ (np.asarray(trained) / np.asarray(tn)[:, None]).T).max(1).mean()
    assert obj_t > obj_u, (obj_t, obj_u)


def test_pq_recall_and_compression(spark, sf_dir):
    """PQ/ADC with exact re-rank must reach recall@10 >= 0.9 vs
    brute-force cosine, codebooks must be deterministic, and codes must
    be M small ints (the 32x memory story is M bytes vs 4*dims)."""
    truth = [r["vec_id"] for r in sim.similarity_topk(spark, sf_dir).collect()]
    got = {r["vec_id"] for r in sim.similarity_ivf_pq(spark, sf_dir).collect()}
    recall = sum(1 for v in truth if v in got) / len(truth)
    assert recall >= 0.9, (recall, truth, sorted(got))
    b1 = sim._pq_codebooks(spark, sf_dir)
    b2 = sim._pq_codebooks(spark, sf_dir)
    assert np.array_equal(b1, b2)
    assert b1.shape == (sim._PQ_M, sim._PQ_K, sim._DIMS // sim._PQ_M)
    from chess_pos_db_spark.tables import t as load

    codes = sim.pq_encode(load(spark, sf_dir, "embeddings"), b1).head(5)
    for r in codes:
        assert len(r["codes"]) == sim._PQ_M
        assert all(0 <= c < sim._PQ_K for c in r["codes"])


def test_pagerank_matches_reference(spark, sf_dir):
    """Distributed PageRank must match a pure-python power iteration
    (same damping, same dangling handling) to 1e-6, and total mass
    must stay 1."""
    import collections

    edges = [
        (r["src"], r["dst"])
        for r in sim.ann_knn_graph(spark, sf_dir).select("src", "dst").collect()
    ]
    from chess_pos_db_spark.tables import t as load

    nodes = [r["vec_id"] for r in load(spark, sf_dir, "embeddings").select("vec_id").collect()]
    n = len(nodes)
    deg = collections.Counter(s for s, _ in edges)
    rank = {v: 1.0 / n for v in nodes}
    d = sim._PR_DAMPING
    for _ in range(sim._PR_ITERS):
        contrib = collections.defaultdict(float)
        for s, t_ in edges:
            contrib[t_] += rank[s] / deg[s]
        dangling = sum(r for v, r in rank.items() if v not in deg)
        base = (1 - d) / n + d * dangling / n
        rank = {v: base + d * contrib.get(v, 0.0) for v in nodes}

    got = {
        r["vec_id"]: r["rank"]
        for r in sim.pagerank(
            load(spark, sf_dir, "embeddings").select("vec_id"),
            sim.ann_knn_graph(spark, sf_dir).select("src", "dst"),
        ).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in nodes:
        assert abs(got[v] - rank[v]) < 1e-6, (v, got[v], rank[v])


def test_triangle_counts_known_graph(spark):
    """Hand-built graph: K4 on {1,2,3,4} (4 triangles, each node in 3)
    plus a pendant star hub 5-{6,7,8} (no triangles). Degree-ordered
    wedge counting must reproduce the exact per-node counts."""
    from chess_pos_db_spark.llm.similarity import triangle_counts

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    star = [(5, 6), (5, 7), (5, 8)]
    edges = spark.createDataFrame(k4 + star, "a long, b long")
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_wedge_join_is_oriented(spark, sf_dir):
    """The wedge join must hinge on the ORIENTED edge set: the plan has
    equi-joins only (no cartesian), and a high-degree hub generates no
    quadratic wedge blowup — hub wedges hinge at the leaves."""
    import chess_pos_db_spark as engine

    df = engine.get_queries()["graph_triangles"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # star hub: leaves all rank below the hub only if degree-ordered —
    # hub (deg 99) receives every orientation, so hub out-degree = 0
    from chess_pos_db_spark.llm.similarity import triangle_counts
    from pyspark.sql import functions as F

    hub = [(0, i) for i in range(1, 100)] + [(1, 2)]
    edges = spark.createDataFrame(hub, "a long, b long")
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_lsh_sizing_formula():
    """b(n) holds expected bucket occupancy constant: the fixture pin
    (n=500 → b=8, the registered-oracle default), monotone growth, and
    the 100×/10⁹ scale points the SCALE.md row documents."""
    assert sim.lsh_planes_for(500) == sim._N_PLANES == 8
    assert sim.lsh_planes_for(50_000) == 8 + 7  # 100× corpus → +log2(100)
    assert sim.lsh_planes_for(10**9) == 29
    assert sim.lsh_planes_for(1) == 1
    prev = 0
    for n in (10, 100, 10**4, 10**6, 10**8):
        b = sim.lsh_planes_for(n)
        assert b >= prev
        prev = b
        # occupancy stays within [target, 2*target)
        assert n / 2**b <= 2


def test_ivf_sizing_formula():
    assert sim.ivf_cells_for(256) == 16  # √n rule
    assert sim.ivf_cells_for(10**8) == 10**4
    assert sim.ivf_cells_for(1) == 1


def test_sign_lsh_narrow_bucket_is_prefix_of_wide(spark, sf_dir):
    """Table 0 with b planes uses hyperplanes 0..b-1 — the same leading
    planes as the default b=8 — so the narrow bucket must equal the
    wide bucket masked to b bits for every fixture vector. Pins the
    plane-indexing convention the sizing parameterization relies on."""
    from pyspark.sql import functions as F
    from chess_pos_db_spark.tables import t

    emb = t(spark, sf_dir, "embeddings")
    b = 5
    rows = emb.select(
        sim.sign_lsh_bucket(F.col("embedding"), 0, n_planes=b).alias("narrow"),
        sim.sign_lsh_bucket(F.col("embedding")).alias("wide"),
    ).collect()
    assert rows
    for r in rows:
        assert r.narrow == (r.wide & (2**b - 1))


def test_ivf_trained_centroids_parameterized_k(spark, sf_dir):
    """The trainers honor a non-default K (the ivf_cells_for scale
    path): K centroids out, all unit-norm, assignments cover ≤ K cells."""
    k = 7
    c, cn = sim._ivf_trained_centroids(spark, sf_dir, k=k)
    assert c.shape[0] == k and cn.shape == (k,)
    assert np.allclose(np.linalg.norm(c, axis=1), 1.0)
    from chess_pos_db_spark.tables import t

    cells = {
        r.cell
        for r in sim._cell_assignments(
            t(spark, sf_dir, "embeddings"), c, cn
        ).collect()
    }
    assert cells <= set(range(k))


@pytest.mark.slow
def test_lsh_candidate_cost_linear_with_sized_planes(spark):
    """SCALE.md "LSH/IVF sizing" evidence: with b = lsh_planes_for(n),
    candidate pairs per vector stay bounded by a constant as the corpus
    grows (expected ≈ L·occupancy/2 per vector for balanced buckets —
    random unit vectors are the balanced case); with b frozen at the
    fixture default the same growth is super-linear. Run on synthetic
    corpora at 4× steps."""
    import numpy as np
    from pyspark.sql import types as T
    from chess_pos_db_spark.llm.dedup import embedding_lsh_candidates

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField(
                "embedding", T.ArrayType(T.FloatType()), False
            ),
        ]
    )

    def corpus(n):
        rng = np.random.RandomState(11)
        v = rng.standard_normal((n, 64)).astype(np.float32)
        return spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(v)], schema
        )

    per_vec = {}
    fixed_per_vec = {}
    for n in (500, 2000, 8000):
        emb = corpus(n)
        b = sim.lsh_planes_for(n)
        per_vec[n] = embedding_lsh_candidates(emb, n_planes=b).count() / n
        fixed_per_vec[n] = (
            embedding_lsh_candidates(emb).count() / n
        )  # frozen b=8
    # sized: per-vector candidate load stays within a small constant
    # across a 16× corpus growth (occupancy target 2, L=4 → expected ~4,
    # sign-LSH bits on random data are not perfectly uniform — allow 4×)
    assert max(per_vec.values()) <= 16, per_vec
    assert max(per_vec.values()) <= 4 * min(per_vec.values()) + 1, per_vec
    # frozen b: load grows ~linearly in n (quadratic pairs): 16× corpus
    # must show >4× per-vector growth, demonstrating the failure mode
    assert fixed_per_vec[8000] > 4 * fixed_per_vec[500], fixed_per_vec


def test_ivf_layout_with_sized_cells_keeps_recall(spark, sf_dir, tmp_path):
    """End-to-end sizing integration: a layout built with
    K = ivf_cells_for(n) (the production rule, ≈ √n cells instead of
    the fixture's pinned 16) still answers partition-pruned queries
    with recall@10 ≥ 0.9 against the brute-force top-k at nprobe
    scaled to the same probe fraction."""
    from chess_pos_db_spark.tables import t as load

    n = load(spark, sf_dir, "embeddings").count()
    k = sim.ivf_cells_for(n)
    assert k != sim._IVF_K  # the test must exercise a NON-default K
    out = str(tmp_path / "ivf_sized")
    centroids, cnorms = sim.write_ivf_layout(spark, sf_dir, out, k=k)
    # ~30% of cells probed: with more, narrower cells, recall at a
    # fixed CELL fraction drops (the standard IVF recall/nprobe trade),
    # so the production rule probes a slightly larger fraction than the
    # fixture's 4/16
    nprobe = max(1, round(0.3 * k))
    got = {
        r["vec_id"]
        for r in sim.ivf_query_layout(
            spark, out, centroids, cnorms, nprobe=nprobe
        ).collect()
    }
    want = {
        r["vec_id"]
        for r in __import__("chess_pos_db_spark").get_queries()[
            "similarity_topk"
        ](spark, sf_dir).collect()
    }
    assert len(got & want) / len(want) >= 0.9, (len(got & want), len(want))


def test_ivf_trained_sample_scales_with_k(spark, sf_dir):
    """The training sample grows with k (max(base, 4k)); a k beyond the
    base sample must still return exactly k centroids instead of
    silently clamping (numpy slice semantics), and a k beyond the
    corpus must fail loudly."""
    import pytest

    k = sim._IVF_TRAIN_SAMPLE // 2 + 100  # 356 > the old x[:k] clamp
    # risk
    c, cn = sim._ivf_trained_centroids(spark, sf_dir, k=k)
    assert c.shape[0] == k and cn.shape == (k,)
    with pytest.raises(ValueError, match="cannot train"):
        sim._ivf_trained_centroids(spark, sf_dir, k=10_000)


def test_ivf_layout_registered_builds_once(spark, sf_dir):
    """similarity_ivf_layout writes the partitioned layout at most once
    per corpus (a second call must not rewrite the directories a
    previously returned plan reads) and its scan partition-prunes to
    the probe cells."""
    import os
    import re

    import chess_pos_db_spark as engine

    path, meta_table = sim._ivf_layout_home(spark, sf_dir)
    try:
        q = engine.get_queries()["similarity_ivf_layout"]
        first = q(spark, sf_dir)
        rows = [tuple(r) for r in first.collect()]
        mtimes = {
            d: os.path.getmtime(os.path.join(path, d))
            for d in os.listdir(path)
            if d.startswith("cell=")
        }
        assert mtimes  # the layout exists, partitioned by cell
        again = q(spark, sf_dir)
        assert [tuple(r) for r in again.collect()] == rows
        after = {
            d: os.path.getmtime(os.path.join(path, d))
            for d in os.listdir(path)
            if d.startswith("cell=")
        }
        assert after == mtimes, "second call rewrote the layout"
        plan = again._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PartitionFilters: \[cell#\d+ IN \(", plan), plan[:2000]
        # the earlier plan still collects — nothing rewrote beneath it
        assert [tuple(r) for r in first.collect()] == rows
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {meta_table}")
        import shutil

        shutil.rmtree(path, ignore_errors=True)


def test_ivf_incremental_append_equals_fresh_union_layout(spark, sf_dir, tmp_path):
    """Appending a delta under the FROZEN base quantizer must leave the
    layout indistinguishable from assigning the union fresh with the
    same centroids: identical per-vector cells, identical query answer,
    and the append adds files without touching the base's."""
    import glob
    import os

    from pyspark.sql import functions as F

    from chess_pos_db_spark.tables import t

    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    delta = emb.filter(F.col("vec_id") % 2 == 1)
    centroids, cnorms = sim._ivf_centroids(spark, sf_dir, emb=base)

    inc_dir = str(tmp_path / "inc")
    base.join(sim._cell_assignments(base, centroids, cnorms), "vec_id").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(inc_dir)
    base_files = set(glob.glob(os.path.join(inc_dir, "cell=*", "*.parquet")))
    sim.append_ivf_layout(delta, inc_dir, centroids, cnorms)
    after_files = set(glob.glob(os.path.join(inc_dir, "cell=*", "*.parquet")))
    assert base_files < after_files  # append only ever ADDS files

    full_dir = str(tmp_path / "full")
    emb.join(sim._cell_assignments(emb, centroids, cnorms), "vec_id").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(full_dir)

    inc_cells = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(inc_dir).select("vec_id", "cell").collect()
    }
    full_cells = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(full_dir).select("vec_id", "cell").collect()
    }
    assert inc_cells == full_cells

    got = [
        tuple(r)
        for r in sim.ivf_query_layout(spark, inc_dir, centroids, cnorms).collect()
    ]
    want = [
        tuple(r)
        for r in sim.ivf_query_layout(spark, full_dir, centroids, cnorms).collect()
    ]
    assert got == want and len(got) > 0


def test_ivf_layout_delete_rewrites_only_affected_cells(spark, sf_dir, tmp_path):
    """Deleting vectors from the IVF layout must (a) answer queries
    exactly like a fresh layout over the live vectors under the SAME
    frozen quantizer, (b) physically rewrite ONLY the cells the
    deleted batch routes to — every other cell directory's files stay
    byte-identical — and (c) fail loudly on absent ids."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from chess_pos_db_spark.tables import t as load

    out = str(tmp_path / "ivfdel")
    centroids, cnorms = sim.write_ivf_layout(spark, sf_dir, out)
    emb = load(spark, sf_dir, "embeddings")
    doomed = emb.filter(F.col("vec_id") % 9 == 5)

    def files_by_cell():
        state = {}
        for cd in glob.glob(f"{out}/cell=*"):
            fs = sorted(
                (f, os.path.getmtime(os.path.join(cd, f)),
                 os.path.getsize(os.path.join(cd, f)))
                for f in os.listdir(cd) if f.endswith(".parquet")
            )
            state[os.path.basename(cd)] = fs
        return state

    before = files_by_cell()
    res = sim.delete_from_ivf_layout(spark, doomed, out, centroids, cnorms)
    assert res["n_deleted"] == doomed.count() > 0
    after = files_by_cell()
    touched = {
        f"cell={c}"
        for c in (
            int(r["cell"])
            for r in sim._cell_assignments(doomed, centroids, cnorms)
            .select("cell").distinct().collect()
        )
    }
    assert res["cells_rewritten"] + res["cells_emptied"] == len(touched)
    for cell, fs in before.items():
        if cell not in touched:
            assert after[cell] == fs, f"untouched {cell} was rewritten"

    # deleted ids are gone; remaining set is exactly the live corpus
    layout_ids = {
        r["vec_id"] for r in spark.read.parquet(out).select("vec_id").collect()
    }
    live_ids = {r["vec_id"] for r in emb.filter(
        F.col("vec_id") % 9 != 5
    ).select("vec_id").collect()}
    assert layout_ids == live_ids

    # query equals a fresh layout over the live vectors, frozen quantizer
    out_ref = str(tmp_path / "ivfref")
    live = emb.filter(F.col("vec_id") % 9 != 5)
    (
        live.join(sim._cell_assignments(live, centroids, cnorms), "vec_id")
        .write.mode("overwrite").partitionBy("cell").parquet(out_ref)
    )
    got = [tuple(r) for r in sim.ivf_query_layout(
        spark, out, centroids, cnorms).collect()]
    want = [tuple(r) for r in sim.ivf_query_layout(
        spark, out_ref, centroids, cnorms).collect()]
    assert got == want

    # absent ids (already deleted) fail loudly
    with pytest.raises(ValueError, match="absent"):
        sim.delete_from_ivf_layout(spark, doomed.limit(3), out, centroids, cnorms)


def test_ivf_layout_delete_duplicate_row_cannot_mask_absent_id(
    spark, tmp_path
):
    """Presence validation must count matching REQUESTED ids, not
    matching layout rows: with a vec_id accidentally resident twice
    (append_ivf_layout has no disjointness guard), a layout-side count
    would tally 2 for the duplicate and exactly mask one absent id —
    silently partial-deleting instead of failing loudly."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    dims = sim._DIMS
    rows = []
    for i in range(12):
        v = np.zeros(dims)
        v[i % 2] = 1.0
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroids, cnorms = sim._ivf_centroids(spark, "", k=2, emb=emb)
    out = str(tmp_path / "ivfdup")
    (
        emb.join(sim._cell_assignments(emb, centroids, cnorms), "vec_id")
        .write.mode("overwrite").partitionBy("cell").parquet(out)
    )
    # vec_id 4 lands twice (replayed append); vec_id 999 is absent
    dup = emb.filter(F.col("vec_id") == 4)
    sim.append_ivf_layout(dup, out, centroids, cnorms)
    bad = dup.unionByName(
        dup.select(F.lit(999).cast("long").alias("vec_id"), "embedding")
    )
    with pytest.raises(ValueError, match="absent"):
        sim.delete_from_ivf_layout(spark, bad, out, centroids, cnorms)
    # nothing was deleted by the failed call
    assert spark.read.parquet(out).filter(F.col("vec_id") == 4).count() == 2
    # deleting the duplicate id alone removes BOTH resident rows
    res = sim.delete_from_ivf_layout(spark, dup, out, centroids, cnorms)
    assert res["n_deleted"] == 1
    assert spark.read.parquet(out).filter(F.col("vec_id") == 4).count() == 0


def test_ivf_layout_delete_empties_a_cell(spark, tmp_path):
    """Deleting every vector of a cell must REMOVE its directory —
    dynamic partition overwrite alone would leave the old files and
    resurrect the vectors."""
    import glob

    import numpy as np
    from pyspark.sql import functions as F

    dims = sim._DIMS
    rng = []
    # 20 vectors in two tight clusters so the 2 lowest-id centroids
    # split them deterministically; K centroids come from the corpus
    for i in range(20):
        v = np.zeros(dims)
        v[i % 2] = 1.0
        v[2 + (i % 3)] = 0.1 * ((i % 5) + 1)
        rng.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
    centroids, cnorms = sim._ivf_centroids(spark, "", k=2, emb=emb)
    out = str(tmp_path / "ivfempty")
    (
        emb.join(sim._cell_assignments(emb, centroids, cnorms), "vec_id")
        .write.mode("overwrite").partitionBy("cell").parquet(out)
    )
    cells = sim._cell_assignments(emb, centroids, cnorms)
    target = int(cells.groupBy("cell").count().orderBy("cell").first()["cell"])
    victims = emb.join(
        cells.filter(F.col("cell") == target).select("vec_id"), "vec_id"
    )
    res = sim.delete_from_ivf_layout(spark, victims, out, centroids, cnorms)
    assert res["cells_emptied"] >= 1
    assert f"cell={target}" not in {
        g.split("/")[-1] for g in glob.glob(f"{out}/cell=*")
    }
    survivors = spark.read.parquet(out)
    assert survivors.filter(F.col("cell") == target).count() == 0
    assert survivors.count() == 20 - victims.count()


@pytest.mark.parametrize(
    "bad",
    [[None, [0.2] * 64], [[0.5] * 63, [0.2] * 65]],
    ids=["null", "ragged"],
)
def test_batched_lsh_rejects_null_and_ragged_embeddings(spark, bad):
    """A null or wrong-length embedding fails both batched signature
    stages loudly. Arrow's flatten() skips a null list and concatenates
    ragged ones, so a bare reshape would bucket every later row of the
    batch with the wrong vector (the ragged pair keeps the batch's total
    at n × 64, so a size check alone would not see it)."""
    from pyspark.sql import types as T
    from chess_pos_db_spark.llm.dedup import embedding_lsh_candidates

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        ]
    )
    rows = [[0.1] * 64, *bad, [-0.3] * 64]
    emb = spark.createDataFrame(list(enumerate(rows)), schema).coalesce(1)
    for stage in (
        lambda: sim.sign_lsh_bucketed(emb).collect(),
        lambda: embedding_lsh_candidates(emb).collect(),
    ):
        with pytest.raises(Exception, match="ValueError: .*embedding"):
            stage()
