"""Capture .explain("formatted") for queries into plans/<tag>/.

Run:  python tools/capture_plans.py <tag> [--suffix _before] [--sf DIR] [names...]
      (no names -> the bench.py HEADLINE list)

Writes plans/<tag>/<query><suffix>.txt with the formatted physical plan
(initial AQE plan — the shape the judge audits: Exchange count, join
strategy, PushedFilters/ReadSchema, Python eval nodes).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]  # this checkout
sys.path.insert(0, str(ROOT))


def explain_formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _concrete_dataframe_cls():
    """The class whose localCheckpoint actually runs: Spark 4 routes
    ``pyspark.sql.DataFrame`` methods through the *classic* (or connect)
    subclass, so patching the abstract parent intercepts nothing."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame  # Spark 4
    except ImportError:  # Spark 3.x: one concrete class
        from pyspark.sql import DataFrame
    return DataFrame


class record_checkpoint_segments:
    """Context manager: while active, every DataFrame.localCheckpoint
    call first records the producer's formatted plan into ``segments``.

    Checkpoint-segmented queries (CC fixpoints, collapsed LSH, pagerank)
    otherwise show only the post-checkpoint tail in any plan dump — the
    shuffles/windows/Python stages INSIDE the checkpointed segments are
    executed at plan-build time and would escape both the committed
    dumps and the audit's counters (round-13 verdict, "what's wrong" #2).
    """

    def __init__(self) -> None:
        self.segments: list[str] = []

    def __enter__(self):
        self._cls = _concrete_dataframe_cls()
        self._orig = self._cls.localCheckpoint
        rec = self

        def patched(df_self, eager=True):
            rec.segments.append(explain_formatted(df_self))
            return rec._orig(df_self, eager)

        self._cls.localCheckpoint = patched
        return self

    def __exit__(self, *exc):
        self._cls.localCheckpoint = self._orig
        return False

    def render(self, final_plan: str) -> str:
        parts = []
        for i, seg in enumerate(self.segments):
            parts.append(
                f"== checkpointed segment {i + 1} of "
                f"{len(self.segments)} (producer plan, executed at "
                f"build time) ==\n{seg}"
            )
        parts.append("== final plan ==\n" + final_plan)
        return "\n\n".join(parts)


def main() -> None:
    args = sys.argv[1:]
    tag = args.pop(0)
    suffix, sf_dir = "_before", "/root/testdata/sf0.1"
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--suffix":
            suffix = next(it)
        elif a == "--sf":
            sf_dir = next(it)
        else:
            names.append(a)

    import chess_pos_db_spark as engine
    from chess_pos_db_spark.session import get_spark

    if not names:
        import bench

        names = list(bench.HEADLINE)

    out_dir = str(ROOT / "plans" / tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans")
    queries = engine.get_queries()
    for name in names:
        with record_checkpoint_segments() as rec:
            df = queries[name](spark, sf_dir)
            txt = explain_formatted(df)
        if rec.segments:
            txt = rec.render(txt)
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name}{suffix}.txt ({len(rec.segments)} ckpt segments)")


if __name__ == "__main__":
    main()
