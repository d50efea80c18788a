"""Per-query micro-benchmark for optimization work (guide §1).

Runs a subset of registered queries with the same methodology as
bench.py (noop sink, interleaved best-of-N) and prints a JSON line per
query. Jobs are labelled via setJobDescription so runs are attributable.

Run:  python tools/microbench.py [--runs N] [--sf DIR] name1 name2 ...
      (no names -> the bench.py HEADLINE list)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]  # this checkout
sys.path.insert(0, str(ROOT))


def main() -> None:
    args = sys.argv[1:]
    runs, sf_dir = 4, "/root/testdata/sf0.1"
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--runs":
            runs = int(next(it))
        elif a == "--sf":
            sf_dir = next(it)
        else:
            names.append(a)

    import chess_pos_db_spark as engine
    from chess_pos_db_spark.session import get_spark

    if not names:
        import bench

        names = list(bench.HEADLINE)

    spark = get_spark("microbench")
    queries = engine.get_queries()

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Warmup mirrors bench.py: codegen, python worker pool, broadcast.
    from pyspark.sql import functions as F

    run(queries["agg_groupcount"](spark, sf_dir))
    run(spark.range(64).repartition(32).mapInPandas(lambda i: i, schema="id long"))
    run(spark.range(100).join(F.broadcast(spark.range(10)), "id"))
    for name in names:
        run(queries[name](spark, sf_dir))  # per-query warmup (codegen compile)

    timings = {n: float("inf") for n in names}
    for _ in range(runs):
        for name in names:
            spark.sparkContext.setJobDescription(f"microbench:{name}")
            start = time.perf_counter()
            run(queries[name](spark, sf_dir))
            timings[name] = min(timings[name], time.perf_counter() - start)
            spark.sparkContext.setJobDescription(None)
    out = {n: round(t, 3) for n, t in timings.items()}
    out["_total"] = round(sum(timings.values()), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
