"""One benchmark workload in one process: set-up, timed window, output
checks and, with ``--trace 1``, the per-layer attribution probes.

``run.py`` starts this file as a child process with a pinned, isolated
environment and reads the JSON it writes to ``--out``. See README.md for
why each workload exists and which layers it loads.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

INGEST_PLIES = 8_000  # timed import corpus
INGEST_WARMUP = 2
# Timed imports, at least. They are still on the warm-up slope, so the
# count is fixed (--seconds is shorter than three imports): a median over
# a count that varied with host speed would move with the count.
INGEST_FLOOR = 3
APPEND_PLIES = 3_000  # one append batch, traced runs only
DRIVER_PASSES = 5  # driver-side parse and replay passes in traced runs
EXPLORE_PLIES = 5_000  # explorer database
EXPLORE_REQUESTS = 32  # pre-generated session; the window uses a prefix
EXPLORE_WARMUP = len(gen.SESSION_BLOCK)  # one block of each request kind
EXPLORE_FLOOR = 3 * len(gen.SESSION_BLOCK)  # timed requests, at least
EXPLORE_TRACE_PAIRS = len(gen.SESSION_BLOCK)  # traced/untraced request pairs
EXPLORE_LAYER_REQUESTS = 4  # requests the traced run's attribution probes repeat
LLM_ROWS = 1_000  # rows of documents and of embeddings
# One registered query per LLM-data layer, module -> query, timed by
# chess_explore's traced run. The LLM-data operators have no workload of
# their own: three workloads do not fit the run budget (see README.md).
LLM_LAYER_QUERIES = {
    "llm.similarity": "similarity_ann_lsh",
    "llm.dedup": "dedup_embedding_cosine",
    "llm.dedup_index": "dedup_lsh_index_probe",
    "plans.store": "store_upsert_rows",
    "llm.search": "search_bm25_postings",
    "llm.pipeline": "curation_funnel",
}


def now() -> float:
    return time.perf_counter()


def median_ms(seconds: list) -> float:
    return statistics.median(seconds) * 1000.0


def tree_cpu_ms() -> float:
    """CPU time in ms used so far by this process and every process under
    it (the JVM, the Python workers), reaped children included. Time the
    host steals from the VM is not counted, unlike wall time."""
    from perfbench.run import descendants

    ticks = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks * 1000 / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Run:
    """State of one run: counters for ``op_error_rate``, the metrics,
    the input-property report and, when tracing, the spans."""

    def __init__(self, args: argparse.Namespace):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.dir = args.run_dir
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict = {}  # end-to-end: name -> value
        self.layers: dict = {}  # per-layer: name -> value
        self.info: dict = {}  # input properties and diagnostics
        self.spans: list = []
        self._open: list = []
        self.spark = None

    # -- operations and checks -------------------------------------------

    def op(self, fn, *args, **kwargs):
        """Run one workload operation; an exception counts as a failure
        and yields None, so one bad operation cannot hide the others."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # counted in op_error_rate, reported
            self.failed += 1
            self.errors.append(f"{getattr(fn, '__name__', fn)}: {exc!r}"[:300])
            return None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what}"[:300])

    # -- tracing -----------------------------------------------------------

    @contextmanager
    def _span(self, name: str, op):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append(None)
        self._open.append(idx)
        start = now()
        try:
            yield
        finally:
            self.spans[idx] = {
                "id": idx, "name": name, "start": start, "end": now(),
                "parent": parent, "op": op,
            }
            self._open.pop()

    def span(self, name: str, op=None, traced: bool = True):
        """A span in traced runs, nothing otherwise."""
        return self._span(name, op) if self.trace and traced else nullcontext()

    def span_ms(self, name: str) -> float:
        ds = [(s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name]
        return statistics.median(ds) if ds else 0.0

    def window(self, op, floor: int) -> list:
        """The timed window: ``op(i)`` → seconds for ``i`` = 0, 1, ...
        for ``--seconds`` and at least ``floor`` times."""
        times, start = [], now()
        while now() - start < self.seconds or len(times) < floor:
            times.append(op(len(times)))
        return times

    def traced_window(self, op, floor: int) -> float:
        """The traced run's window, which measures the tracing overhead:
        ``op(i, traced)`` runs twice per ``i``, once traced and once not,
        in ABBA order (traced first for even ``i``, second for odd) so a
        warm-up slope cancels. Returns the median of traced − untraced,
        in ms."""
        diffs, start = [], now()
        while now() - start < self.seconds or len(diffs) < floor:
            i = len(diffs)
            order = (True, False) if i % 2 == 0 else (False, True)
            dt = {traced: op(i, traced) for traced in order}
            diffs.append(dt[True] - dt[False])
        return median_ms(diffs)

    # -- session -----------------------------------------------------------

    def session(self):
        t = now()
        with self.span("session.get_spark"):
            from chess_pos_db_spark.session import get_spark

            spark = get_spark(f"perfbench-{self.seed}")
            spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.layers["setup.session_s"] = now() - t
        return spark


# --- chess_ingest ----------------------------------------------------------


def corpus_properties(run: Run, corpus, corpus_bytes: int) -> None:
    run.info.update(
        games=len(corpus.games),
        distinct_game_share=len({tuple(g[2]) for g in corpus.games}) / len(corpus.games),
        positions=corpus.positions,
        plies_per_game=corpus.plies / len(corpus.games),
        repeat_ply_share=corpus.repeat_plies / corpus.plies,
        corpus_bytes=corpus_bytes,
    )


def chess_ingest(run: Run) -> None:
    from chess_pos_db_spark.chess.importer import append_pgn, import_pgn

    t = now()
    corpus = gen.make_corpus(run.seed, INGEST_PLIES)
    files, corpus_bytes = gen.write_corpus(corpus.games, run.dir, "corpus")
    if run.trace:
        batch = gen.make_corpus(run.seed + 500_009, APPEND_PLIES)
        batch_files, _ = gen.write_corpus(batch.games, run.dir, "append")
    run.info["gen_s"] = now() - t
    corpus_properties(run, corpus, corpus_bytes)

    t_setup = now()
    spark = run.session()

    dbs: list = []
    cpu_ms: list = []

    def one_import(i: int, traced: bool = False) -> float:
        """Import the corpus into a fresh directory; the previous
        database is deleted first, so one is on disk at a time."""
        if dbs:
            shutil.rmtree(dbs[-1], ignore_errors=True)
        dbs.append(f"{run.dir}/db{len(dbs)}")
        c = tree_cpu_ms()
        t = now()
        with run.span("importer.import_pgn", op=i, traced=traced):
            stats = run.op(import_pgn, spark, files, dbs[-1])
        dt = now() - t
        cpu_ms.append(tree_cpu_ms() - c)
        run.check(
            stats is not None
            and stats["games"] == len(corpus.games)
            and stats["positions"] == corpus.positions
            and stats["skipped"] == 0
            and stats["dropped_invalid"] == 0,
            f"import stats {stats} != generated {len(corpus.games)} games, "
            f"{corpus.positions} positions",
        )
        return dt

    # The fixed warm-up, which is set-up: the first import pays the JVM's
    # and the Python workers' cold start (~14 s), and the second still
    # uses ~20% more CPU than the ones after it.
    for i in range(INGEST_WARMUP):
        one_import(i)
    run.metrics["setup_s"] = now() - t_setup

    if run.trace:
        run.layers["trace.overhead_ms"] = run.traced_window(one_import, 2)
        db = dbs[-1]
        ingest_layers(run, spark, files, corpus)
        t = now()
        with run.span("importer.append_pgn"):
            run.op(append_pgn, spark, batch_files, db)
        run.layers["importer.append_s"] = now() - t
        total = spark.read.parquet(f"{db}/entries").groupBy().sum("cnt").first()[0]
        run.check(
            total == corpus.positions + batch.positions,
            f"entries after append hold {total} positions, "
            f"expected {corpus.positions + batch.positions}",
        )
        return

    times = run.window(one_import, INGEST_FLOOR)
    run.metrics["cpu_ms"] = statistics.median(cpu_ms[INGEST_WARMUP:])
    db = dbs[-1]
    run.metrics["store_bytes_per_item"] = (
        dir_bytes(f"{db}/entries") + dir_bytes(f"{db}/games")
    ) / corpus.positions
    run.info["latency_ms"] = median_ms(times)
    run.info["import_s"] = [round(t, 3) for t in times]
    run.info["import_cpu_s"] = [c / 1000 for c in cpu_ms[INGEST_WARMUP:]]
    run.info["ingest_positions_per_s"] = corpus.positions * len(times) / sum(times)


def ingest_layers(run: Run, spark, files: list, corpus) -> None:
    """Attribution: each import layer's public call on the previous
    layer's cached output, forced with a count or a write, so a span
    times one layer. Not part of the untraced total."""
    from chess_pos_db_spark.chess import board, importer, pgn
    from chess_pos_db_spark.plans import layout

    texts = []
    for path, _ in files:
        with open(path) as f:
            texts.append(f.read())
    # Driver-side passes take ~0.1 s each: report the median of a few.
    rates: dict = {"pgn.parse_games_per_s": [], "board.replay_plies_per_s": []}
    for i in range(DRIVER_PASSES):
        with run.span("pgn.parse_file", op=i):
            t = now()
            parsed = [g for text in texts for g in pgn.parse_file(text)]
            rates["pgn.parse_games_per_s"].append(len(parsed) / (now() - t))
        with run.span("board.replay", op=i):
            t = now()
            plies = 0
            memo: dict = {}  # one memo per pass, like one worker task
            for g in parsed:
                pos = board.Position.from_fen(board.START_FEN)
                for san in g["sans"]:
                    _, pos = board.san_move_cached(pos, san, memo)
                    pos.key()
                    plies += 1
            rates["board.replay_plies_per_s"].append(plies / (now() - t))
    for name, values in rates.items():
        run.layers[name] = statistics.median(values)

    t = now()
    with run.span("importer.parse_games_chunked"):
        games = importer.parse_games_chunked(spark, files).cache()
        n_games = games.count()
    run.layers["importer.parse_s"] = now() - t
    t = now()
    with run.span("importer.explode_positions"):
        entries = importer.explode_positions(
            games.repartition(spark.sparkContext.defaultParallelism)
        ).cache()
        n_entries = entries.count()
    run.layers["importer.replay_s"] = now() - t
    t = now()
    with run.span("importer.build_agg_entries"):
        agg = importer.build_agg_entries(entries).cache()
        n_rows = agg.count()
    run.layers["importer.aggregate_s"] = now() - t
    out = f"{run.dir}/layers_entries"
    t = now()
    with run.span("layout.write_sorted_run"):
        layout.write_sorted_run(agg, out, key=["pos_key"])
    run.layers["layout.sorted_write_s"] = now() - t
    for df in (agg, entries, games):
        df.unpersist()

    run.layers["importer.positions"] = n_entries
    run.layers["importer.kept_ratio"] = len(corpus.games) / n_games
    run.layers["layout.entries_rows"] = n_rows
    run.layers["layout.entries_files"] = sum(
        1 for f in os.listdir(out) if f.endswith(".parquet")
    )
    run.layers["layout.entries_bytes"] = dir_bytes(out)
    run.check(n_entries == corpus.positions, "layer probe position count")


# --- chess_explore ---------------------------------------------------------


def chess_explore(run: Run) -> None:
    from chess_pos_db_spark.app.server import Engine

    t = now()
    corpus = gen.make_corpus(run.seed, EXPLORE_PLIES)
    files, corpus_bytes = gen.write_corpus(corpus.games, run.dir, "corpus")
    session = gen.explorer_requests(corpus, run.seed, EXPLORE_REQUESTS)
    run.info["gen_s"] = now() - t
    corpus_properties(run, corpus, corpus_bytes)

    t_setup = now()
    spark = run.session()
    t = now()
    engine = Engine(spark)
    db = f"{run.dir}/db"
    create = {
        "command": "create",
        "destination": db,
        "files": {level: [path] for path, level in files},
    }
    with run.span("server.handle.create"):
        out = run.op(engine.handle, create)
    stats = (out or {}).get("import", {})
    run.check(
        bool(out and out["ok"])
        and stats.get("positions") == corpus.positions
        and stats.get("dropped_invalid") == 0,
        f"create: {out}",
    )
    run.layers["setup.build_s"] = now() - t

    issued: list = []
    by_kind: dict = {}
    cpu_by_kind: dict = {}

    def request(i: int, traced: bool = False) -> float:
        req = session[i % len(session)]
        c = tree_cpu_ms()
        t = now()
        with run.span("server.handle", op=i, traced=traced):
            out = run.op(engine.handle, {"command": "query", "query": req["query"]})
        dt = now() - t
        cpu_by_kind.setdefault(req["kind"], []).append(tree_cpu_ms() - c)
        issued.append((i, req, out))
        by_kind.setdefault(req["kind"], []).append(dt)
        return dt

    for i in range(EXPLORE_WARMUP):
        request(i)
    run.metrics["setup_s"] = now() - t_setup
    by_kind.clear()
    cpu_by_kind.clear()

    def timed(i: int, traced: bool = False) -> float:
        return request(EXPLORE_WARMUP + i, traced)

    if run.trace:
        run.layers["trace.overhead_ms"] = run.traced_window(timed, EXPLORE_TRACE_PAIRS)
        run.layers["server.handle_ms"] = run.span_ms("server.handle")
    else:
        times = run.window(timed, EXPLORE_FLOOR)
        # The sum of the per-kind medians, so each request kind moves the
        # metric by its own cost whatever its share of the mix.
        kind_cpu = {k: statistics.median(ts) for k, ts in sorted(cpu_by_kind.items())}
        run.metrics["cpu_ms"] = sum(kind_cpu.values())
        kind_ms = {k: median_ms(ts) for k, ts in sorted(by_kind.items())}
        run.metrics["store_bytes_per_item"] = (
            dir_bytes(f"{db}/entries") + dir_bytes(f"{db}/games")
        ) / corpus.positions
        run.info["requests"] = len(times)
        run.info["request_ms_by_kind"] = {
            k: sorted(round(t * 1000) for t in ts) for k, ts in sorted(by_kind.items())
        }
        run.info["median_ms_by_kind"] = {k: round(v, 1) for k, v in kind_ms.items()}
        run.info["latency_ms"] = sum(kind_ms.values())
        run.info["median_cpu_ms_by_kind"] = kind_cpu

    check_explorer_answers(run, corpus, [(req, out) for _, req, out in issued])
    explore_properties(run, session[: 1 + max(i for i, _, _ in issued)])
    if run.trace:
        explore_layers(run, spark, db, session[:EXPLORE_LAYER_REQUESTS])
        llm_layers(run, spark)


def check_explorer_answers(run: Run, corpus, issued: list) -> None:
    """Root counts per (level, result) must equal the generator's tally."""
    expected: dict = {}
    for (key, level, result), n in corpus.tally.items():
        expected.setdefault(key, {})[(level, result)] = n
    for req, out in issued:
        if not out or not out.get("ok"):
            run.check(False, f"query answered {out}")
            continue
        for key, node in zip(req["keys"], out["response"]["positions"]):
            got = {
                (level, result): cell["count"]
                for level, by_result in node["stats"].get("all", {}).items()
                for result, cell in by_result.items()
            }
            run.check(
                got == expected.get(key, {}),
                f"root counts {got} != tally {expected.get(key, {})} ({req['kind']})",
            )


def explore_properties(run: Run, reqs: list) -> None:
    """probe_overlap_share: the share of each request's probe keys (roots
    and their children) that the previous request also probed."""
    from chess_pos_db_spark.chess.board import Position

    prev: set = set()
    shared = total = 0
    kinds: dict = {}
    for req in reqs:
        kinds[req["kind"]] = kinds.get(req["kind"], 0) + 1
        probes = set()
        for spec in req["query"]["positions"]:
            pos = Position.from_fen(spec["fen"])
            probes.add(pos.key())
            probes.update(pos.make_move(m).key() for m in pos.legal_moves())
        shared += len(probes & prev)
        total += len(probes)
        prev = probes
    run.info["probe_overlap_share"] = shared / total
    run.info["request_mix"] = kinds


def explore_layers(run: Run, spark, db: str, reqs: list) -> None:
    """Attribution per request: driver-side probe build, the distributed
    probe join collected, and the whole explorer query; header-lookup
    self time is explorer_query minus probe_entries."""
    from chess_pos_db_spark.chess import query

    entries = spark.read.parquet(f"{db}/entries")
    games = spark.read.parquet(f"{db}/games")
    probes, grid_rows, hits = [], [], 0
    for i, req in enumerate(reqs):
        q = req["query"]
        with run.span("query.build_probes", op=i):
            p = query.build_probes(q)
        with run.span("query.probe_entries", op=i):
            grid = query.probe_entries(spark, entries, q).collect()
        with run.span("query.explorer_query", op=i):
            query.explorer_query(spark, entries, games, q)
        probes.append(len(p))
        grid_rows.append(len(grid))
        hits += len({(r["origin"], r["probe_kind"], r["move_san"]) for r in grid})
    run.layers["query.build_probes_ms"] = run.span_ms("query.build_probes")
    run.layers["query.probe_entries_ms"] = run.span_ms("query.probe_entries")
    run.layers["query.explorer_query_ms"] = run.span_ms("query.explorer_query")
    run.layers["query.probes_per_request"] = statistics.mean(probes)
    run.layers["query.grid_rows_per_request"] = statistics.mean(grid_rows)
    run.layers["query.probe_hit_ratio"] = hits / sum(probes)


# --- LLM-data layers (chess_explore's traced run) ---------------------------


def result_digest(columns: list, rows: list) -> tuple[int, str]:
    """Row count and an order-insensitive hash over name-sorted columns."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(r[i] for i in order)) for r in rows)
    return len(rows), hashlib.sha1("\n".join(canon).encode()).hexdigest()


def llm_layers(run: Run, spark) -> None:
    """Attribution for the LLM-data layers: each query of
    ``LLM_LAYER_QUERIES`` runs once collected (its first run builds what
    it memoises; the result is kept for the oracle check), then once into
    a noop sink, which is the reported ``<module>.<query>_s``."""
    import chess_pos_db_spark as engine

    t = now()
    sf_dir = f"{run.dir}/tables"
    os.makedirs(sf_dir)
    rows = gen.write_llm_tables(run.seed, LLM_ROWS, LLM_ROWS, sf_dir)
    run.info["llm_gen_s"] = now() - t
    run.info["llm_table_rows"] = rows
    queries = engine.get_queries()
    results: dict = {}
    for module, name in LLM_LAYER_QUERIES.items():
        with run.span(f"{module}.{name}.first"):
            df = run.op(queries[name], spark, sf_dir)
            got = run.op(df.collect) if df is not None else None
        if got is not None:
            results[name] = result_digest(df.columns, [tuple(r) for r in got])
        t = now()
        with run.span(f"{module}.{name}"):
            df = run.op(queries[name], spark, sf_dir)
            if df is not None:
                run.op(df.write.format("noop").mode("overwrite").save)
        run.layers[f"{module}.{name}_s"] = now() - t
    check_curation(run, sf_dir, results)


def check_curation(run: Run, sf_dir: str, results: dict) -> None:
    """Row count and order-insensitive hash against the DuckDB oracle.
    A query whose first run failed is already counted as failed."""
    import duckdb

    import chess_pos_db_spark as engine

    oracles = engine.get_oracles()
    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{table}.parquet')"
            )
        for name in results:
            res = con.execute(oracles[name])
            want = result_digest([d[0] for d in res.description], res.fetchall())
            run.check(
                results.get(name) == want,
                f"{name}: spark {results.get(name)} != oracle {want}",
            )
    finally:
        con.close()


WORKLOADS = {
    "chess_ingest": chess_ingest,
    "chess_explore": chess_explore,
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()

    run = Run(args)
    try:
        WORKLOADS[args.workload](run)
    finally:
        if run.spark is not None:
            run.spark.stop()
    if run.trace:
        with open(args.spans, "w") as f:
            json.dump(run.spans, f)
    with open(args.out, "w") as f:
        json.dump(
            {
                "attempted": run.attempted,
                "failed": run.failed,
                "errors": run.errors[:20],
                "metrics": run.metrics,
                "layers": run.layers,
                "info": run.info,
            },
            f,
        )


if __name__ == "__main__":
    main()
