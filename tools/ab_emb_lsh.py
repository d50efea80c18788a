"""A/B harness for dedup_embedding_cosine candidate generation
(round-14 optimization, verdict item 6).

The multi-table sign-LSH signature stage evaluates L*b = 32 hyperplane
dots per row as interpreted zip_with+aggregate folds (HOFs are not
codegen'd). Variants:

  a_jvm    — shipped form: per-(table,plane) interpreted fold
  b_arrow  — mapInArrow: one float64 (n x d) @ (d x L*b) matmul per
             Arrow batch, bits packed with numpy (guide §4.2)

Both the SIG STAGE alone (noop on the exploded (vec_id, tbl, bucket)
frame) and the FULL dedup_embedding_cosine query are timed,
interleaved best-of-N in one session; candidate parity is checked by
exact subtraction both ways before any timing is trusted.

Run:  python tools/ab_emb_lsh.py [runs] [sf_dir]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]  # this checkout
sys.path.insert(0, str(ROOT))

from pyspark.sql import DataFrame, functions as F

from chess_pos_db_spark.session import get_spark
from chess_pos_db_spark.tables import t
from chess_pos_db_spark.llm.similarity import _N_PLANES, _plane, sign_lsh_bucket

RUNS = int(sys.argv[1]) if len(sys.argv) > 1 else 4
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
L = 4  # _EMB_LSH_TABLES


def sig_jvm(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(tbl).alias("tbl"),
                        sign_lsh_bucket(F.col("embedding"), tbl).alias(
                            "bucket"
                        ),
                    )
                    for tbl in range(L)
                ]
            )
        ).alias("tb"),
    ).select(
        "vec_id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )


def sig_arrow(emb: DataFrame) -> DataFrame:
    import numpy as np

    n_planes = _N_PLANES
    planes = np.array(
        [_plane(t_ * n_planes + p) for t_ in range(L) for p in range(n_planes)],
        dtype=np.float64,
    ).T  # (d, L*b)
    shifts = np.arange(n_planes, dtype=np.int64)

    def gen(batches):
        import pyarrow as pa

        for b in batches:
            arr = b.column("embedding")
            flat = np.asarray(arr.values, dtype=np.float64)
            mat = flat.reshape(len(arr), -1)
            dots = mat @ planes  # (n, L*b)
            bits = (np.round(dots, 6) > 0).astype(np.int64)
            buckets = (
                bits.reshape(len(arr), L, n_planes) << shifts
            ).sum(axis=2)  # (n, L)
            vid = np.asarray(b.column("vec_id"))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(vid, L)),
                    pa.array(np.tile(np.arange(L, dtype=np.int32), len(arr))),
                    pa.array(buckets.reshape(-1)),
                ],
                names=["vec_id", "tbl", "bucket"],
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        gen, "vec_id long, tbl int, bucket long"
    )


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def cosine_from_sig(emb: DataFrame, sig: DataFrame) -> DataFrame:
    from chess_pos_db_spark.llm.similarity import _dot

    sig = sig.localCheckpoint(eager=True)
    cand = (
        sig.select(F.col("vec_id").alias("id_a"), "tbl", "bucket")
        .join(
            sig.select(F.col("vec_id").alias("id_b"), "tbl", "bucket"),
            on=["tbl", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    ea = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        norm.alias("norm_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        norm.alias("norm_b"),
    )
    pairs = cand.join(ea, "id_a").join(eb, "id_b")
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        pairs.select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") > 0.45)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos_sim"))
    )


def main() -> None:
    spark = get_spark("ab-emb-lsh")
    emb = t(spark, SF, "embeddings")

    # parity first: bucket assignments must be IDENTICAL (same md5
    # hyperplanes; round-to-6dp absorbs fold-order ulp differences,
    # same discipline as the Spark/DuckDB oracle pin)
    a_sig = sig_jvm(emb)
    b_sig = sig_arrow(emb)
    d1 = a_sig.exceptAll(b_sig).count()
    d2 = b_sig.exceptAll(a_sig).count()
    print(f"sig parity: a-b={d1} b-a={d2}")
    assert d1 == 0 and d2 == 0, "bucket mismatch — variant b rejected"

    variants = {"a_jvm": sig_jvm, "b_arrow": sig_arrow}
    best_sig = {k: float("inf") for k in variants}
    best_full = {k: float("inf") for k in variants}
    for _ in range(RUNS):
        for name, fn in variants.items():
            spark.sparkContext.setJobDescription(f"ab_emb_lsh sig {name}")
            t0 = time.perf_counter()
            noop(fn(emb))
            best_sig[name] = min(best_sig[name], time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(f"ab_emb_lsh full {name}")
            t0 = time.perf_counter()
            noop(cosine_from_sig(emb, fn(emb)))
            best_full[name] = min(best_full[name], time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    for name in variants:
        print(
            f"{name}: sig={best_sig[name]:.3f}s full={best_full[name]:.3f}s"
        )


if __name__ == "__main__":
    main()
