"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --cpus 2 --driver-mem 1g --hashseed 0 \
        --workload chess_ingest --seed 1 --seconds 3 --trace 0

Run from the repository root. Each run gets a fresh Spark warehouse,
temp and local dirs under ``.perfbench/`` (deleted afterwards), a pinned
core count, driver heap and hash seed, and its own process, so nothing a
run builds is seen by the next. The workload runs in a child process
(``workloads.py``); this process samples the peak memory of that child
and everything it starts (the JVM, the Python workers) from ``/proc``,
reads host steal from ``/proc/stat``, prints a report and, as its last
line, the result JSON. With ``--trace 1`` the metrics are the per-layer
ones and the spans are written to ``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("chess_ingest", "chess_explore")


def descendants(pid: int) -> list[int]:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended while we looked
    return 0


class PeakRss:
    """Peak resident memory of the process tree: the driver, the JVM and
    the Python workers, sampled from outside the engine every ``interval``
    seconds until the tree exits. Each process counts its proportional
    set size, so pages that processes share (forked Python workers, the
    JVM's spawn helper between fork and exec) count once."""

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = sum(pss_kb(p) for p in descendants(self.pid))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list, after: list) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already counted in user
    return delta[7] / total if total else 0.0


def isolated_env(run_dir: str, args: argparse.Namespace) -> dict:
    env = dict(os.environ)
    for key in list(env):
        if key.startswith("SPARK_GRAFT_CONF_"):
            del env[key]
    local, tmp = f"{run_dir}/local", f"{run_dir}/tmp"
    os.makedirs(local)
    os.makedirs(tmp)
    env.update(
        PYTHONHASHSEED=str(args.hashseed),
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(args.cpus),
        SPARK_GRAFT_DRIVER_MEM=args.driver_mem,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        SPARK_GRAFT_CONF_spark__sql__warehouse__dir=f"{run_dir}/warehouse",
        SPARK_GRAFT_CONF_spark__ui__showConsoleProgress="false",
        # -Xms = -Xmx: a heap that starts at its final size grows no
        # differently from run to run, which steadies peak_rss_mb
        SPARK_GRAFT_CONF_spark__driver__extraJavaOptions=(
            f"-Xms{args.driver_mem} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def stop_tree(proc: subprocess.Popen) -> None:
    """End whatever the child left running (its session's processes)."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def report(bench: dict, workload: str, seed: int, res: dict, trace: bool) -> None:
    print(f"== {workload} seed={seed} trace={int(trace)}")
    for m in bench["end_to_end"]:
        if m["name"] in res["metrics"]:
            print(f"  {m['name']:<24} {res['metrics'][m['name']]:>14.4f} {m['unit']}")
    rate = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    print(f"  {'op_error_rate':<24} {rate:>14.4f} ratio"
          f" ({res['failed']} of {res['attempted']} operations)")
    for err in res["errors"]:
        print(f"  error: {err}")
    for key, value in sorted(res["info"].items()):
        print(f"  {key:<24} {value}")
    if trace:
        for key, value in sorted(res["layers"].items()):
            print(f"  {key:<44} {value:.6g}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # pinned by BENCHMARK.json's command, so every run uses the same values
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--driver-mem", required=True)
    ap.add_argument("--hashseed", type=int, required=True)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "chess_pos_db_spark", "session.py")):
        print("perfbench: run from a checkout of the repository "
              "(chess_pos_db_spark/ not found)", file=sys.stderr)
        return 2
    if args.cpus > os.cpu_count():
        print(f"perfbench: --cpus {args.cpus} exceeds the host's "
              f"{os.cpu_count()} cores", file=sys.stderr)
        return 2

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{args.workload}-{os.getpid()}")
    spans = os.path.join(work, "spans", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    # a SIGTERM (a caller's timeout) must still end the child's processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        env = isolated_env(run_dir, args)
        cmd = [
            sys.executable, os.path.join(HERE, "workloads.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--out", out, "--spans", spans,
        ]
        before = cpu_times()
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
        )
        rss = PeakRss(proc.pid)
        try:
            code = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            code = None
        peak_mb = rss.stop()
        steal = steal_share(before, cpu_times())
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: workload process failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        if proc is not None:
            stop_tree(proc)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    res["metrics"]["peak_rss_mb"] = peak_mb
    res["info"]["host_steal_share"] = round(steal, 4)
    report(bench, args.workload, args.seed, res, bool(args.trace))
    if args.trace:
        wanted = bench["per_layer"]
        values = res["layers"]
    else:
        wanted = bench["end_to_end"]
        values = res["metrics"]
    missing = [m["name"] for m in wanted if not args.trace and m["name"] not in values]
    if missing:
        print(f"perfbench: workload reported no {missing}", file=sys.stderr)
        return 1
    # per-layer metrics of layers a workload leaves idle read 0
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
