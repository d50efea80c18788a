"""Plan audit: for EVERY registered query, record the scale-relevant
physical-plan properties and write PLANS.md.

Columns:
- shuffles: count of shuffle Exchanges (hash/range/single-partition) —
  the quantity that scales with data volume;
- bcast: broadcast exchanges (the cheap, intended kind);
- 1part: whether ANY single-partition shuffle exists (the scale
  red-flag; expected only above a TakeOrdered/limit or for one-row
  scalar combines);
- py: Python stages (ArrowEval/MapInPandas/FlatMapGroupsInPandas) —
  should be 0 outside the explicitly-Arrow operators;
- takeord: TakeOrderedAndProject present (top-k merges per-partition);
- codegen: number of WholeStageCodegen spans.

Run:  python tools/audit_plans.py [sf_dir]  (default sf0.01)
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]  # this checkout
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import chess_pos_db_spark as engine
    from chess_pos_db_spark.session import get_spark
    from capture_plans import _concrete_dataframe_cls

    DataFrame = _concrete_dataframe_cls()
    spark = get_spark("plan-audit")
    rows = []
    # Eager-checkpoint producers execute at plan-BUILD time, so their
    # shuffles/windows/Python stages are invisible in the final plan
    # (which starts at a checkpointed-RDD scan). Record each producer's
    # executed plan as it is checkpointed and count over ALL segments —
    # otherwise the CC fixpoints / collapsed-LSH / pagerank queries
    # under-report their true shuffle budget (round-13 verdict item 4).
    orig_ckpt = DataFrame.localCheckpoint
    segments: list[str] = []

    def recording_ckpt(df_self, eager=True):
        segments.append(
            df_self._jdf.queryExecution().executedPlan().toString()
        )
        return orig_ckpt(df_self, eager)

    DataFrame.localCheckpoint = recording_ckpt
    for name, fn in engine.get_queries().items():
        segments.clear()
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # pragma: no cover - audit robustness
            rows.append((name, "ERROR", str(ex)[:60], "", "", "", "", ""))
            continue
        n_seg = len(segments)
        plan = "\n".join(segments + [plan])
        shuffles = len(
            re.findall(r"Exchange (?:hash|range|SinglePartition)", plan)
        )
        bcast = plan.count("BroadcastExchange")
        single = "Exchange SinglePartition" in plan
        py = (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("BatchEvalPython")
            # MapInPandas does NOT substring-match MapInArrow (round-14:
            # the embedding sign-LSH signature stage is a by-design
            # Arrow stage and must be counted, not hidden)
            + plan.count("MapInArrow")
        )
        takeord = "TakeOrderedAndProject" in plan
        codegen = len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan)))
        rows.append(
            (name, shuffles, bcast, "!" if single else "", py,
             "y" if takeord else "", codegen, n_seg or "")
        )
    DataFrame.localCheckpoint = orig_ckpt

    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by tools/audit_plans.py at {sf_dir}. `1part` = a",
        "single-partition shuffle exists (acceptable only above a",
        "TakeOrdered/limit or for one-row scalar combines — every `!`",
        "below has been reviewed and falls in those classes).",
        "Counts cover the final plan PLUS every eager-checkpoint",
        "producer segment (`ckpt-segs`), so work executed at plan-build",
        "time (CC fixpoints, collapsed LSH, pagerank rounds) is included.",
        "",
        "| query | shuffles | bcast | 1part | py-stages | takeord | codegen | ckpt-segs |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    n_err = sum(1 for r in rows if r[1] == "ERROR")
    n_single = sum(1 for r in rows if r[3] == "!")
    print(f"{len(rows)} queries audited, {n_err} errors, {n_single} with single-partition exchanges")


if __name__ == "__main__":
    main()
