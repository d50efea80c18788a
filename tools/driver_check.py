"""Replicate the external driver's CORRECTNESS gate over the ENTIRE
registry (the driver itself covers the first 50 rotation entries per
round): bare SparkSession, DuckDB views over the same parquet, sorted
exact row comparison. Writes CORRECTNESS_local.json.

Run:  python tools/driver_check.py [sf_dir] [--pandas-canon] [--only a,b,c]

Two canonicalization modes:

* default — string-tuple rows, sorted (the historical local replica);
* ``--pandas-canon`` — emulates the external driver's stricter pandas
  path: result -> pandas DataFrame, columns reindexed sorted by name,
  ``df.sort_values(by=<all columns>)``, then values stringified and
  compared.  pandas ``sort_values`` raises on unhashable cell types
  (e.g. a top-level ARRAY column -> python list), which is exactly how
  ``array_suite`` erred in the round-5 external gate while five rounds
  of the string-tuple replica stayed green.  Run rotation candidates
  under THIS mode before shipping them to the gate.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]  # this checkout
sys.path.insert(0, str(ROOT))


def _pandas_canon(rows, cols):
    """Driver-style canonicalization: sorted columns, sort_values over
    every column, stringified cell values.  Raises (like the driver)
    when a cell type is unhashable under pandas sorting."""
    import pandas as pd

    df = pd.DataFrame(rows, columns=list(cols), dtype=object)
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return [tuple(str(x) for x in row) for row in df.itertuples(index=False)]


def main() -> None:
    args = [a for a in sys.argv[1:]]
    pandas_canon = "--pandas-canon" in args
    only: set[str] | None = None
    if any(a.startswith("--only=") for a in args):
        sys.exit("usage: --only takes a space-separated value: --only a,b,c")
    if "--only" in args:
        i = args.index("--only")
        if i + 1 >= len(args):
            sys.exit("usage: --only requires a comma-separated name list")
        only = set(args[i + 1].split(","))
        del args[i: i + 2]
    args = [a for a in args if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    qs, oracles = e.queries(), e.oracle_sql()
    if only is not None:
        unknown = only - set(qs)
        if unknown:
            # a typo here would otherwise "verify" zero queries and
            # exit green — the exact failure class --only exists to
            # catch must not be reintroducible by the flag itself
            sys.exit(f"--only names not in the registry: {sorted(unknown)}")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    out: dict[str, dict] = {}
    n_fail = 0
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        rec: dict = {}
        try:
            res = fn(spark, sf_dir)
            if pandas_canon:
                s = _pandas_canon(
                    [tuple(r) for r in res.collect()], res.columns
                )
            else:
                s = sorted(
                    tuple(str(x) for x in r) for r in res.collect()
                )
            rec["spark_rows"] = len(s)
            if name in oracles:
                cur = con.execute(oracles[name])
                drows = cur.fetchall()
                if pandas_canon:
                    d = _pandas_canon(
                        drows, [c[0] for c in cur.description]
                    )
                else:
                    d = sorted(tuple(str(x) for x in r) for r in drows)
                rec["oracle_rows"] = len(d)
                rec["match"] = s == d
                if not rec["match"]:
                    n_fail += 1
            else:
                rec["match"] = None  # rows-only
        except Exception as ex:  # noqa: BLE001 — record, keep sweeping
            rec["err"] = str(ex)[:300]
            n_fail += 1
        out[name] = rec
        status = (
            "ERR" if "err" in rec
            else "rows-only" if rec["match"] is None
            else "ok" if rec["match"] else "MISMATCH"
        )
        # surface the failure reason inline: in --pandas-canon/--only
        # modes no JSON is written, so a bare "ERR name" line would be
        # the ONLY trace of what broke (round-8: a transient dedup_near
        # ERR left nothing to diagnose but its name)
        detail = f"  [{rec['err']}]" if "err" in rec else ""
        print(f"{status:>9}  {name}{detail}", flush=True)

    if only is None and not pandas_canon:
        with open("CORRECTNESS_local.json", "w") as f:
            json.dump(out, f, indent=1)
        print(
            f"\n{len(out)} queries, {n_fail} failures -> "
            "CORRECTNESS_local.json"
        )
    else:
        print(f"\n{len(out)} queries, {n_fail} failures (not written)")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
