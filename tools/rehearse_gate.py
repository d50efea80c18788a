"""Rehearse the external CORRECTNESS gate: run the EXACT first-50
rotation slate (what the driver will check this round) through
tools/driver_check.py in the driver's stricter --pandas-canon mode.

Run:  python tools/rehearse_gate.py [sf_dir]      (default sf0.01)

Exit status is driver_check's: 0 only if all 50 match their oracles.
Run this after ANY registration change — a new query shifts the slate
(never-verified names lead the least-recently-verified-first ordering),
so the set under rehearsal must be recomputed, not remembered.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]  # this checkout
sys.path.insert(0, str(ROOT))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import chess_pos_db_spark as engine

    slate = list(engine.get_queries())[:50]
    print(f"rehearsing the {len(slate)}-name gate slate at {sf_dir}:")
    for name in slate:
        print(f"  {name}")
    # fresh process: the rehearsal must see the same cold catalog the
    # driver's bare session does (orphaned-warehouse rebuilds included)
    proc = subprocess.run(
        [
            sys.executable,
            "tools/driver_check.py",
            sf_dir,
            "--pandas-canon",
            "--only",
            ",".join(slate),
        ],
        cwd=ROOT,
    )
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
