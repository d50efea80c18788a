"""Within-session interleaved config A/B (round-13 optimization).

Cross-session bench comparisons on this host carry 20-40% uniform
noise (load/frequency state), so config experiments run in ONE session:
for each round, each config variant runs every query once (conf set via
spark.conf.set — all candidates are runtime-settable SQLConf), and the
per-(variant, query) minimum over rounds is reported. Machine noise
hits every variant equally within a round.

Run:  python tools/ab_conf.py [runs]
Edit VARIANTS below per experiment.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]  # this checkout
sys.path.insert(0, str(ROOT))

RUNS = int(sys.argv[1]) if len(sys.argv) > 1 else 4
SF = "/root/testdata/sf0.1"

# name -> {conf_key: value}; "base" must stay first (defaults).
VARIANTS: dict[str, dict[str, str]] = {
    "base": {},
    "py_arrow": {"spark.sql.execution.pythonUDF.arrow.enabled": "true"},
    "shj": {"spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m"},
    # NOTE: spark.io.compression.codec (lz4 vs zstd shuffle compression)
    # is a STATIC core config — not runtime-settable, so it cannot be
    # A/B'd within a session. Locally the shuffle never crosses a
    # network, so the local measurement would not transfer anyway; the
    # production trade (zstd ratio vs CPU) is documented in
    # OPTIMIZATION_r13.md instead of pretending a local number decides it.
}

# Every key any variant touches, so each variant resets the others.
ALL_KEYS = sorted({k for v in VARIANTS.values() for k in v})


def main() -> None:
    import chess_pos_db_spark as engine
    from chess_pos_db_spark.session import get_spark
    import bench

    spark = get_spark("ab-conf")
    queries = engine.get_queries()
    names = list(bench.HEADLINE)

    defaults = {k: spark.conf.get(k, None) for k in ALL_KEYS}

    def apply(variant: dict[str, str]) -> None:
        for k in ALL_KEYS:
            if k in variant:
                spark.conf.set(k, variant[k])
            elif defaults[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, defaults[k])

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    # Warmup under every variant (codegen per plan shape).
    from pyspark.sql import functions as F

    run(spark.range(64).repartition(32).mapInPandas(lambda i: i, schema="id long"))
    run(spark.range(100).join(F.broadcast(spark.range(10)), "id"))
    for vname, v in VARIANTS.items():
        apply(v)
        for n in names:
            run(queries[n](spark, SF))

    best: dict[str, dict[str, float]] = {
        vn: {n: 9e9 for n in names} for vn in VARIANTS
    }
    for r in range(RUNS):
        for vname, v in VARIANTS.items():
            apply(v)
            for n in names:
                spark.sparkContext.setJobDescription(f"ab:{vname}:{n}")
                t0 = time.perf_counter()
                run(queries[n](spark, SF))
                best[vname][n] = min(
                    best[vname][n], time.perf_counter() - t0
                )
    out = {
        vn: {
            "total": round(sum(ts.values()), 3),
            "queries": {n: round(t, 3) for n, t in ts.items()},
        }
        for vn, ts in best.items()
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
