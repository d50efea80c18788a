"""Whole-registry robustness sweep at sf0.1 (10× the driver's gate
scale): every oracle query runs in Spark AND DuckDB and compares
exactly; DuckDB oracles that exceed a wall-time budget are interrupted
and recorded as `oracle_timeout` (the known recursive-CTE / all-pairs
verification oracles — the ENGINE side still ran and its row count is
recorded). Rows-only queries are executed and counted.

Run:  python tools/sf01_sweep.py [budget_sec]   → SF01_SWEEP.json
"""

from __future__ import annotations

import json
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]  # this checkout
sys.path.insert(0, str(ROOT))

SF_DIR = "/root/testdata/sf0.1"
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def main() -> None:
    budget = float(sys.argv[1]) if len(sys.argv) > 1 else 90.0
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    # sf0.1 needs real execution memory: a bare 1g driver with 16
    # concurrent tasks starves the unified memory manager
    # (UNABLE_TO_ACQUIRE_MEMORY) on the cache-heavy dedup queries —
    # a harness sizing matter, not an engine one (the driver's own gate
    # runs at sf0.01).
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    qs, oracles = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    out: dict = {}
    for name in sorted(qs):
        t0 = time.time()
        try:
            srows = sorted(
                tuple(str(x) for x in r)
                for r in qs[name](spark, SF_DIR).collect()
            )
        except Exception as ex:  # engine-side failure is a hard red
            out[name] = {"status": "spark_err", "err": str(ex)[:300]}
            print(name, "SPARK_ERR", flush=True)
            continue
        spark_s = round(time.time() - t0, 2)
        if name not in oracles:
            out[name] = {
                "status": "rows_only",
                "spark_rows": len(srows),
                "spark_sec": spark_s,
            }
            print(f"{name}: rows_only {len(srows)} ({spark_s}s)", flush=True)
            continue
        done = threading.Event()

        def watchdog():
            if not done.wait(budget):
                con.interrupt()

        w = threading.Thread(target=watchdog, daemon=True)
        t1 = time.time()
        w.start()
        try:
            drows = sorted(
                tuple(str(x) for x in r)
                for r in con.execute(oracles[name]).fetchall()
            )
        except Exception:
            out[name] = {
                "status": "oracle_timeout",
                "spark_rows": len(srows),
                "spark_sec": spark_s,
                "budget_sec": budget,
            }
            print(f"{name}: ORACLE_TIMEOUT (spark {spark_s}s)", flush=True)
            done.set()
            continue
        done.set()
        duck_s = round(time.time() - t1, 2)
        ok = srows == drows
        out[name] = {
            "status": "exact" if ok else "MISMATCH",
            "rows": len(srows),
            "spark_sec": spark_s,
            "duck_sec": duck_s,
        }
        print(
            f"{name}: {'exact' if ok else 'MISMATCH'} {len(srows)} "
            f"(spark {spark_s}s, duck {duck_s}s)",
            flush=True,
        )
    with open(ROOT / "SF01_SWEEP.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    from collections import Counter

    print(Counter(v["status"] for v in out.values()))


if __name__ == "__main__":
    main()
