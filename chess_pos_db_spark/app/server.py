"""JSON command protocol + TCP/console server (reference: `src/app/` —
the engine's wire interface the GUI talks to, SURVEY.md §3.1 step 1/6).

Commands (one JSON object per line, response is one JSON line):

    {"command": "create", "destination": dir,
     "files": {"human": [paths...], "engine": [...], "server": [...]},
     "format": "pgn" | "sbgn"}
    {"command": "append", "database": dir, "files": {...}, "format": ...}
    {"command": "open",   "database": dir}
    {"command": "query",  "query": {<explorer request, see chess/query.py>}}
    {"command": "stats"}
    {"command": "dump",   "files": {...}, "destination": path, "minCount": N}
    {"command": "retractions", "fen": <fen>}
    {"command": "export", "destination": dir, "shards": N}  (needs storeMoves at create)
    {"command": "merge", "databases": [dir1, dir2, ...], "destination": dir}
    {"command": "bench", "files": {...}, "format": ...}
    {"command": "close"} / {"command": "exit"}

`create` accepts "retractions": true to write the ERAN sidecar; the
`retractions` command then resolves EXACT parent FENs (castling/ep
included), falling back to packed-reverse-move placement reconstruction
when the sidecar is absent.

A command either returns {"ok": true, ...} or {"ok": false, "error":
...} — errors never kill the session (the reference's server loop
behaves the same way).

Wire-format versioning: every response carries "protocol":
PROTOCOL_VERSION so clients can detect format changes. History —
  1: initial format; non-finite floats in `sql` results rendered as
     the bare strings "nan"/"inf"/"-inf" (indistinguishable from
     genuine string cells).
  2 (current): non-finite floats render in the tagged form
     {"float": "nan"} etc.; SELECT 'nan' still renders "nan", so the
     two are distinguishable. Clients that parsed the old bare-string
     form must check the tag.
"""

from __future__ import annotations

import json
import socket
import socketserver
import threading
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..chess import bcgn, importer, query

# bumped on any breaking wire-format change; see module docstring
PROTOCOL_VERSION = 2


class Engine:
    """Command dispatcher holding the open-database state."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.db_dir: Optional[str] = None
        self._entries: Optional[DataFrame] = None
        self._games: Optional[DataFrame] = None
        self._lock = threading.RLock()  # one command at a time (see handle)
        # import/query executors unpickle package modules (pgn/board);
        # ship them so the server works from any driver cwd
        from ..tables import _ship_package

        _ship_package(spark)

    # -- helpers --------------------------------------------------------------

    def _files_arg(self, cmd: dict) -> list[tuple[str, str]]:
        files = []
        for level, paths in (cmd.get("files") or {}).items():
            for p in paths:
                files.append((p, level))
        return files

    @staticmethod
    def _check_format(fmt: str) -> str:
        # strict validation: an unknown/mistyped format ('bcgn',
        # 'SBGN ') used to fall through to the PGN parser, silently
        # importing binary files as 0 games and reporting ok:true
        if fmt not in ("pgn", "sbgn"):
            raise ValueError(
                f"unknown format {fmt!r} (supported: pgn, sbgn)"
            )
        return fmt

    def _load_games(self, files: list[tuple[str, str]], fmt: str) -> DataFrame:
        if self._check_format(fmt) == "sbgn":
            return bcgn.read_sbgn(self.spark, files)
        return importer.parse_games_chunked(self.spark, files)

    def _require_open(self) -> None:
        if self._entries is None:
            raise ValueError("no database open")

    def _assert_query_plan(self, text: str) -> None:
        """Reject any statement whose PARSED plan contains a command or
        write node, anywhere in the tree.  The first-token prefix check
        alone is bypassable: ``WITH t AS (SELECT ...) INSERT OVERWRITE
        DIRECTORY '...' USING parquet SELECT ...`` starts with WITH but
        parses to UnresolvedWith over InsertIntoDir — an arbitrary
        filesystem write.  Commands execute EAGERLY at spark.sql()
        time, so validation must happen on sqlParser().parsePlan(text)
        BEFORE spark.sql() ever sees the text.  Writes are detected
        structurally (Command subclasses + the Insert* parsed nodes
        that only become commands after analysis), not by keyword."""
        jvm = self.spark.sparkContext._jvm
        command_cls = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.plans.logical.Command"
        )
        plan = self.spark._jsparkSession.sessionState().sqlParser().parsePlan(
            text
        )

        def walk(node) -> None:
            simple = node.getClass().getName().rsplit(".", 1)[-1]
            if command_cls.isInstance(node) or simple.startswith("Insert"):
                raise ValueError(
                    f"only read-only SELECT/WITH queries are allowed "
                    f"(statement contains {simple})"
                )
            for i in range(node.children().size()):
                walk(node.children().apply(i))
            inner = node.innerChildren()
            for i in range(inner.size()):
                walk(inner.apply(i))

        walk(plan)

    def _readonly_sql(self, text: str) -> DataFrame:
        """SELECT/WITH guard + entries/games temp-view registration —
        ONE definition for cmd_sql and cmd_explain."""
        first = text.lstrip().split(None, 1)[0].lower() if text.strip() else ""
        if first not in ("select", "with"):
            raise ValueError("only SELECT/WITH queries are allowed")
        self._assert_query_plan(text)
        self._entries.createOrReplaceTempView("entries")
        self._games.createOrReplaceTempView("games")
        return self.spark.sql(text)

    # -- commands -------------------------------------------------------------

    def handle(self, cmd: dict) -> dict:
        # One command at a time per Engine: the TCP server is threaded,
        # and unsynchronized access races _entries/_games reassignment
        # (cmd_open mid-cmd_sql would mix two databases' temp views) or
        # crashes on a concurrent close.
        with self._lock:
            return self._handle(cmd)

    def _handle(self, cmd: dict) -> dict:
        try:
            op = cmd.get("command")
            fn = getattr(self, f"cmd_{op}", None)
            if fn is None:
                raise ValueError(f"unknown command {op!r}")
            # handler payload spread FIRST so the envelope keys always
            # win — a handler that ever returned an 'ok'/'protocol' key
            # used to silently override the envelope
            return {**(fn(cmd) or {}), "ok": True, "protocol": PROTOCOL_VERSION}
        except Exception as exc:  # protocol errors must not kill the server
            return {
                "ok": False,
                "protocol": PROTOCOL_VERSION,
                "error": str(exc),
            }

    def cmd_create(self, cmd: dict) -> dict:
        files = self._files_arg(cmd)
        fmt = self._check_format(cmd.get("format", "pgn"))
        db_dir = cmd["destination"]
        retractions = bool(cmd.get("retractions", False))
        store_moves = bool(cmd.get("storeMoves", False))
        if fmt == "pgn":
            stats = importer.import_pgn(
                self.spark,
                files,
                db_dir,
                retractions=retractions,
                store_moves=store_moves,
            )
        else:
            games = self._load_games(files, fmt).cache()
            try:
                stats = importer.write_database(
                    games, db_dir, retractions, store_moves
                )
            finally:
                # a failed write must not leave the parsed corpus pinned
                # in executor memory for the rest of the session
                games.unpersist()
        self.cmd_open({"database": db_dir})
        return {"import": stats}

    def cmd_append(self, cmd: dict) -> dict:
        self._require_open()
        # append supports pgn only: honoring-or-failing, never running
        # the PGN parser over sbgn binaries and reporting ok:true
        if self._check_format(cmd.get("format", "pgn")) != "pgn":
            raise ValueError(
                "append supports format=pgn only — convert sbgn input "
                "or create a new database and merge"
            )
        files = self._files_arg(cmd)
        target = cmd.get("database") or self.db_dir
        stats = importer.append_pgn(self.spark, files, target)
        # reopen the database the append actually wrote (an explicit
        # `database` argument used to write to B but reopen A)
        self.cmd_open({"database": target})
        return {"append": stats}

    def cmd_open(self, cmd: dict) -> dict:
        db_dir = cmd["database"]
        # resolve BOTH frames before mutating state: a half-created
        # database (entries/ present, games/ missing) must leave the
        # previously-open database fully intact, not a silent mix
        entries = self.spark.read.parquet(f"{db_dir}/entries")
        games = self.spark.read.parquet(f"{db_dir}/games")
        self._entries, self._games = entries, games
        self.db_dir = db_dir
        return {"database": db_dir}

    def cmd_close(self, cmd: dict) -> dict:
        self._entries = self._games = None
        self.db_dir = None
        return {}

    def cmd_export(self, cmd: dict) -> dict:
        """Lossless PGN export of the open database (requires it to
        have been created with storeMoves) — the migration path the
        reference's header-only store cannot offer."""
        self._require_open()
        stats = importer.export_pgn(
            self.spark,
            self.db_dir,
            cmd["destination"],
            shards=int(cmd.get("shards", 8)),
        )
        return {"export": stats}

    def cmd_query(self, cmd: dict) -> dict:
        self._require_open()
        resp = query.explorer_query(
            self.spark, self._entries, self._games, cmd.get("query") or {}
        )
        return {"response": resp}

    def cmd_dump(self, cmd: dict) -> dict:
        """EPD dump (reference `dump` command): positions reached by the
        given game files, one EPD line per distinct position with count
        >= minCount."""
        files = self._files_arg(cmd)
        games = self._load_games(files, cmd.get("format", "pgn"))
        entries = importer.explode_positions(games, include_positions=True)
        query.dump_epd(
            entries, cmd["destination"], int(cmd.get("minCount", 1))
        )
        return {"destination": cmd["destination"]}

    def cmd_retractions(self, cmd: dict) -> dict:
        """Moves INTO the given position; exact parent FENs when the
        database carries the ERAN sidecar."""
        import os

        self._require_open()
        fen = cmd["fen"]
        if "://" in self.db_dir:
            # os.path.isdir is always False on a remote URI: the exact
            # ERAN sidecar would exist but this check could not see it,
            # silently degrading to the approximate fallback — refuse
            # instead of returning weaker answers without warning
            raise ValueError(
                "retractions sidecar detection requires a local "
                "db_dir; open the database from a local path"
            )
        sidecar = f"{self.db_dir}/retractions"
        if os.path.isdir(sidecar):
            retr = self.spark.read.parquet(sidecar)
            rows = query.retractions_exact(self.spark, retr, fen).collect()
            return {
                "exact": True,
                "retractions": [
                    {
                        "uci": r["move_uci"],
                        "parentFen": r["parent_fen"],
                        "eran": r["eran"],
                        "count": r["cnt"],
                        "firstGame": r["first_game_id"],
                    }
                    for r in rows
                ],
            }
        rows = query.retractions(self.spark, self._entries, fen).collect()
        return {
            "exact": False,
            "retractions": [
                {
                    "uci": r["move_uci"],
                    "parentPlacement": r["parent_placement"],
                    "count": r["cnt"],
                    "firstGame": r["first_game_id"],
                }
                for r in rows
            ],
        }

    def cmd_merge(self, cmd: dict) -> dict:
        """Merge N databases into one (reference §3.3 maintenance path):
        entries aggregate-combine on the entry key, game ids re-based by
        cumulative file ordinal so the result is identical to a single
        import of all source files. Opens the merged database."""
        stats = importer.merge_databases(
            self.spark, list(cmd["databases"]), cmd["destination"]
        )
        self.cmd_open({"database": cmd["destination"]})
        return {"merge": stats}

    def cmd_bench(self, cmd: dict) -> dict:
        """`bench` command (reference: import-throughput measurement
        doubling as a smoke test): parse+replay the given files through
        create's reader and aggregate (importer.replay_aggregate) —
        nothing is written — and report positions and positions/second."""
        import time

        from pyspark.sql import functions as F

        files = self._files_arg(cmd)
        fmt = cmd.get("format", "pgn")
        start = time.perf_counter()
        games = self._load_games(files, fmt)
        row = importer.replay_aggregate(games).agg(
            F.sum("cnt").alias("positions"),
            F.count("*").alias("unique_entries"),
        ).first()
        elapsed = time.perf_counter() - start
        positions = int(row["positions"] or 0)
        return {
            "bench": {
                "seconds": round(elapsed, 3),
                "positions": positions,
                "unique_entries": row["unique_entries"],
                "positions_per_sec": round(positions / elapsed, 1)
                if elapsed > 0
                else None,
            }
        }

    def cmd_tree(self, cmd: dict) -> dict:
        """Opening-tree expansion: top-N continuations followed D plies
        from a position, one batched probe job per level (the whole
        frontier probes together — a depth-4 tree is 4 jobs, not 40
        requests)."""
        self._require_open()
        tree = query.explorer_tree(
            self.spark,
            self._entries,
            self._games,
            cmd["fen"],
            depth=int(cmd.get("depth", 2)),
            top_n=int(cmd.get("topN", 3)),
        )
        return {"tree": tree}

    def cmd_sql(self, cmd: dict) -> dict:
        """Ad-hoc read-only SQL over the open database — the Spark-first
        capability the reference's fixed command set never had: the
        opened `entries`/`games` tables register as temp views and the
        query plans through Catalyst like any engine query (pushdown
        into the sorted runs included). Guarded to SELECT/WITH; result
        capped at maxRows (default 100) — the cap bounds the driver
        collect, the aggregation itself still runs distributed."""
        self._require_open()
        df = self._readonly_sql(cmd["sql"])
        n = int(cmd.get("maxRows", 100))
        # fetch one extra row so `truncated` reports actual truncation,
        # not "result happened to have exactly maxRows rows"
        rows = df.limit(n + 1).collect()
        truncated = len(rows) > n
        rows = rows[:n]

        def safe(v):
            if isinstance(v, float):
                # json.dumps emits bare NaN/Infinity tokens for
                # non-finite floats — NOT valid JSON; a strict client
                # fails to parse the response line (SELECT sqrt(-1),
                # 1e308*10, ... produce them). The TAGGED form keeps the
                # line parseable and stays distinguishable from a
                # genuine string cell: SELECT 'nan' renders "nan",
                # SELECT sqrt(-1.0) renders {"float": "nan"}.
                import math

                return v if math.isfinite(v) else {"float": repr(v)}
            if v is None or isinstance(v, (bool, int, str)):
                return v
            if isinstance(v, (bytes, bytearray)):
                return bytes(v).hex()
            if isinstance(v, (list, tuple)):
                return [safe(x) for x in v]
            if isinstance(v, dict):
                return {k: safe(x) for k, x in v.items()}
            return str(v)

        return {
            "columns": df.columns,
            "rows": [[safe(v) for v in r] for r in rows],
            "truncated": truncated,
        }

    def cmd_explain(self, cmd: dict) -> dict:
        """Physical plan of a read-only SQL query over the open
        database — the operational "why is this slow" surface: shows
        whether the probe pushed into the scan, which joins broadcast,
        where exchanges sit. Same guard as cmd_sql; nothing executes."""
        self._require_open()
        df = self._readonly_sql(cmd["sql"])
        mode = cmd.get("mode", "formatted")
        plan = df._jdf.queryExecution()
        if mode == "formatted":
            out = plan.explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        else:
            out = plan.executedPlan().toString()
        return {"plan": out}

    def cmd_stats(self, cmd: dict) -> dict:
        self._require_open()
        from pyspark.sql import functions as F

        e = self._entries.agg(
            F.sum("cnt").alias("positions"),
            F.count("*").alias("unique_entries"),
        ).first()
        g = self._games.count()
        return {
            "stats": {
                "games": g,
                "positions": int(e["positions"] or 0),
                "unique_entries": e["unique_entries"],
            }
        }


def _dump_response(out: dict) -> str:
    """One VALID JSON line per response, always: a payload a strict
    parser would reject (non-finite float that slipped past a command's
    own sanitizer) degrades to an error response instead of emitting a
    bare NaN token or killing the connection/loop."""
    try:
        return json.dumps(out, allow_nan=False)
    except ValueError as exc:
        return json.dumps(
            {"ok": False, "error": f"unserializable response: {exc}"}
        )


def _respond(engine: Engine, line: str) -> str | None:
    """One non-blank command line → its one JSON response line, or
    None for 'exit'. Shared by the TCP handler and the console loop:
    bad JSON and valid JSON that is not an object ('[1,2]', '"x"', '3',
    which would AttributeError on .get before the engine's own error
    guard) both get an ok:false response instead of killing the
    connection or loop."""
    try:
        cmd = json.loads(line)
    except json.JSONDecodeError as exc:
        return _dump_response({"ok": False, "error": f"bad json: {exc}"})
    if not isinstance(cmd, dict):
        return _dump_response(
            {"ok": False, "error": "command must be a JSON object"}
        )
    if cmd.get("command") == "exit":
        return None
    return _dump_response(engine.handle(cmd))


def serve_tcp(engine: Engine, host: str = "127.0.0.1", port: int = 0):
    """Start a line-JSON TCP server; returns (server, thread, port).
    Each connection handles commands until 'exit' or EOF."""

    class Handler(socketserver.StreamRequestHandler):
        def handle(self) -> None:
            for raw in self.rfile:
                try:
                    line = raw.decode("utf-8").strip()
                except UnicodeDecodeError as exc:
                    # a non-UTF-8 byte must get an error RESPONSE, not
                    # kill the connection with no reply (the 'errors
                    # never kill the session' contract)
                    out = {"ok": False, "error": f"bad encoding: {exc}"}
                    self.wfile.write(
                        (json.dumps(out) + "\n").encode("utf-8")
                    )
                    self.wfile.flush()
                    continue
                if not line:
                    continue
                reply = _respond(engine, line)
                if reply is None:
                    break
                self.wfile.write((reply + "\n").encode("utf-8"))
                self.wfile.flush()

    class _Server(socketserver.ThreadingTCPServer):
        # rebinding a fixed --tcp port immediately after a restart must
        # not fail on the old socket's TIME_WAIT
        allow_reuse_address = True

    server = _Server((host, port), Handler)
    server.daemon_threads = True
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread, server.server_address[1]


def request_over_tcp(host: str, port: int, commands: list[dict]) -> list[dict]:
    """Client helper: send commands, collect one response line each."""
    out = []
    with socket.create_connection((host, port)) as sock:
        f = sock.makefile("rwb")
        for cmd in commands:
            f.write((json.dumps(cmd) + "\n").encode("utf-8"))
            f.flush()
            if cmd.get("command") == "exit":
                break
            out.append(json.loads(f.readline().decode("utf-8")))
    return out


def console_loop(engine: Engine, stdin, stdout) -> None:
    """Reference console mode: JSON lines on stdin/stdout."""
    for line in stdin:
        line = line.strip()
        if not line:
            continue
        reply = _respond(engine, line)
        if reply is None:
            break
        print(reply, file=stdout, flush=True)
