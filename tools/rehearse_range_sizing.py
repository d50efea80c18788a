"""Cluster-posture rehearsal for the adaptive sorted-run sink
(round-14 verdict item 9): prove `range_partitioned`'s AQE-coalesced
default actually lands output files in the guide §6 128 MB–1 GB band
when the documented cluster confs are applied — the r13 evidence only
covered fixture scale (where the answer is trivially "1 file").

Runs a multi-GB SYNTHETIC sorted-run write (high-entropy payload so
parquet compression doesn't divorce file bytes from shuffle bytes)
under the exact env-var posture session.py documents:

  SPARK_GRAFT_CONF_spark__sql__adaptive__coalescePartitions__parallelismFirst=false
  SPARK_GRAFT_CONF_spark__sql__adaptive__advisoryPartitionSizeInBytes=256m

and reports the per-file size distribution. The synthetic frame is
deleted afterwards; nothing is keyed on /root/testdata.

Run:  python tools/rehearse_range_sizing.py [n_rows] [out_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]  # this checkout
sys.path.insert(0, str(ROOT))

# cluster posture BEFORE the session is built (getOrCreate caches)
os.environ.setdefault(
    "SPARK_GRAFT_CONF_spark__sql__adaptive__coalescePartitions"
    "__parallelismFirst",
    "false",
)
os.environ.setdefault(
    "SPARK_GRAFT_CONF_spark__sql__adaptive__advisoryPartitionSizeInBytes",
    "256m",
)

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 12_000_000
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/r14_range_sizing_run"


def main() -> None:
    from pyspark.sql import functions as F

    from chess_pos_db_spark.session import get_spark
    from chess_pos_db_spark.plans import layout

    spark = get_spark("rehearse-range-sizing")
    print(
        "parallelismFirst =",
        spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst"),
        "| advisory =",
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
    )
    # ~340 B/row of md5-hex payload: hex digits are ~4 bits entropy/byte,
    # so parquet+snappy keeps file bytes within ~2x of shuffle bytes —
    # close enough for a band assertion.
    payload = F.concat(
        *[F.md5(F.concat(F.col("id").cast("string"), F.lit(f":{i}"))) for i in range(10)]
    )
    df = (
        spark.range(N_ROWS)
        .select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64("id"), F.lit(1000)).alias("aux"),
            payload.alias("payload"),
        )
    )
    shutil.rmtree(OUT, ignore_errors=True)
    spark.sparkContext.setJobDescription("rehearse: adaptive sorted-run write")
    layout.write_sorted_run(df, OUT, key=["k"])

    sizes = sorted(
        os.path.getsize(os.path.join(OUT, f))
        for f in os.listdir(OUT)
        if f.endswith(".parquet")
    )
    mb = [s / (1 << 20) for s in sizes]
    total = sum(mb)
    in_band = sum(1 for m in mb if 128 <= m <= 1024)
    print(f"rows={N_ROWS} files={len(mb)} total={total:.0f} MB")
    print(f"sizes (MB): min={mb[0]:.0f} median={mb[len(mb)//2]:.0f} max={mb[-1]:.0f}")
    print(f"files in 128 MB–1 GB band: {in_band}/{len(mb)}")
    for i, m in enumerate(mb):
        print(f"  file {i}: {m:.1f} MB")
    shutil.rmtree(OUT, ignore_errors=True)


if __name__ == "__main__":
    main()
