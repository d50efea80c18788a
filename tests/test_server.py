"""Wire-protocol tests: the create→query→stats lifecycle through the
Engine dispatcher and over a real TCP socket (the reference's GUI
integration surface)."""

from __future__ import annotations

import pytest

from chess_pos_db_spark.app import server
from chess_pos_db_spark.chess.board import START_FEN
from tests.test_chess import PGN_TEXT


@pytest.fixture(scope="module")
def engine_db(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("srv")
    pgn_path = root / "games.pgn"
    pgn_path.write_text(PGN_TEXT)
    eng = server.Engine(spark)
    resp = eng.handle(
        {
            "command": "create",
            "destination": str(root / "db"),
            "files": {"human": [str(pgn_path)]},
            "format": "pgn",
        }
    )
    assert resp["ok"], resp
    return eng


def test_create_and_stats(engine_db):
    resp = engine_db.handle({"command": "stats"})
    assert resp["ok"]
    assert resp["stats"]["games"] == 4
    assert resp["stats"]["positions"] == 14


def test_query_command(engine_db):
    resp = engine_db.handle(
        {
            "command": "query",
            "query": {
                "token": "q1",
                "positions": [{"fen": START_FEN, "move": "e4"}],
                "fetchChildren": True,
            },
        }
    )
    assert resp["ok"]
    node = resp["response"]["positions"][0]
    assert node["stats"]["continuation"]["human"]["W"]["count"] == 1
    assert "e5" in node["children"]


def test_error_does_not_kill_session(engine_db):
    bad = engine_db.handle({"command": "query", "query": {"positions": [{"fen": "garbage"}]}})
    assert not bad["ok"] and "error" in bad
    ok = engine_db.handle({"command": "stats"})
    assert ok["ok"]


def test_unknown_command(engine_db):
    resp = engine_db.handle({"command": "frobnicate"})
    assert not resp["ok"]


def test_dump_command(engine_db, tmp_path):
    pgn_path = tmp_path / "d.pgn"
    pgn_path.write_text(PGN_TEXT)
    out = str(tmp_path / "epd")
    resp = engine_db.handle(
        {
            "command": "dump",
            "files": {"human": [str(pgn_path)]},
            "destination": out,
            "minCount": 2,
        }
    )
    assert resp["ok"], resp
    lines = [
        r["value"] for r in engine_db.spark.read.text(out).collect()
    ]
    assert lines and all(int(ln.rsplit(" ", 1)[-1]) >= 2 for ln in lines)


def test_retractions_command_exact_and_fallback(spark, tmp_path):
    """Without the sidecar: placement-only fallback. With
    create(retractions=true): exact parent FENs."""
    from chess_pos_db_spark.chess.board import Position

    pgn_path = tmp_path / "g.pgn"
    pgn_path.write_text(PGN_TEXT)
    after_e4 = Position.from_fen(START_FEN)
    after_e4 = after_e4.make_move(after_e4.parse_san("e4"))

    eng = server.Engine(spark)
    r1 = eng.handle(
        {
            "command": "create",
            "destination": str(tmp_path / "db1"),
            "files": {"human": [str(pgn_path)]},
        }
    )
    assert r1["ok"], r1
    fb = eng.handle({"command": "retractions", "fen": after_e4.fen()})
    assert fb["ok"] and fb["exact"] is False
    assert fb["retractions"][0]["uci"] == "e2e4"

    r2 = eng.handle(
        {
            "command": "create",
            "destination": str(tmp_path / "db2"),
            "files": {"human": [str(pgn_path)]},
            "retractions": True,
        }
    )
    assert r2["ok"], r2
    ex = eng.handle({"command": "retractions", "fen": after_e4.fen()})
    assert ex["ok"] and ex["exact"] is True
    assert ex["retractions"][0]["uci"] == "e2e4"
    assert ex["retractions"][0]["parentFen"] == START_FEN


def test_tcp_roundtrip(engine_db):
    srv, thread, port = server.serve_tcp(engine_db)
    try:
        out = server.request_over_tcp(
            "127.0.0.1",
            port,
            [
                {"command": "stats"},
                {
                    "command": "query",
                    "query": {"positions": [{"fen": START_FEN}], "fetchChildren": False},
                },
                {"command": "nope"},
                {"command": "exit"},
            ],
        )
    finally:
        srv.shutdown()
    assert out[0]["ok"] and out[0]["stats"]["games"] == 4
    assert out[1]["ok"]
    stats = out[1]["response"]["positions"][0]["stats"]["all"]["human"]
    assert {k: v["count"] for k, v in stats.items()} == {"W": 1, "B": 1, "D": 1}
    assert not out[2]["ok"]


@pytest.mark.slow
def test_merge_command(spark, tmp_path):
    """merge over the wire protocol: two single-file databases →
    consolidated database, opened and queryable."""
    a = tmp_path / "a.pgn"
    b = tmp_path / "b.pgn"
    a.write_text(PGN_TEXT)
    b.write_text(PGN_TEXT)
    eng = server.Engine(spark)
    for name, path in (("d1", a), ("d2", b)):
        resp = eng.handle(
            {
                "command": "create",
                "destination": str(tmp_path / name),
                "files": {"human": [str(path)]},
                "format": "pgn",
            }
        )
        assert resp["ok"], resp
    resp = eng.handle(
        {
            "command": "merge",
            "databases": [str(tmp_path / "d1"), str(tmp_path / "d2")],
            "destination": str(tmp_path / "out"),
        }
    )
    assert resp["ok"], resp
    assert resp["merge"]["games"] == 8
    stats = eng.handle({"command": "stats"})
    assert stats["ok"] and stats["stats"]["games"] == 8
    q = eng.handle(
        {
            "command": "query",
            "query": {"positions": [{"fen": START_FEN}], "fetchChildren": False},
        }
    )
    assert q["ok"]
    got = q["response"]["positions"][0]["stats"]["all"]["human"]
    assert {k: v["count"] for k, v in got.items()} == {"W": 2, "B": 2, "D": 2}


def test_bench_command(spark, tmp_path):
    """bench measures parse+replay throughput without writing anything."""
    p = tmp_path / "g.pgn"
    p.write_text(PGN_TEXT)
    eng = server.Engine(spark)
    resp = eng.handle({"command": "bench", "files": {"human": [str(p)]}})
    assert resp["ok"], resp
    b = resp["bench"]
    assert b["positions"] == 14
    assert b["seconds"] > 0
    assert b["positions_per_sec"] > 0
    assert not (tmp_path / "db").exists()


def test_sql_command(engine_db):
    """Ad-hoc SELECT over the opened database's temp views."""
    resp = engine_db.handle(
        {
            "command": "sql",
            "sql": "SELECT level, COUNT(*) AS n FROM entries "
            "GROUP BY level ORDER BY level",
        }
    )
    assert resp["ok"], resp
    assert resp["columns"] == ["level", "n"]
    assert len(resp["rows"]) >= 1
    assert not resp["truncated"]

    # joins against games work too
    resp2 = engine_db.handle(
        {"command": "sql", "sql": "SELECT COUNT(*) AS games FROM games"}
    )
    assert resp2["ok"]
    assert resp2["rows"][0][0] == 4


def test_sql_command_rejects_writes(engine_db):
    for bad in ("DROP TABLE entries", "INSERT INTO entries VALUES (1)",
                "CREATE TABLE x (a INT)"):
        resp = engine_db.handle({"command": "sql", "sql": bad})
        assert not resp["ok"]
        assert "SELECT" in resp["error"]


def test_sql_command_rejects_cte_smuggled_writes(engine_db, tmp_path):
    """The first-token prefix check alone is bypassable: a statement
    can START with WITH yet parse to a write — ``WITH t AS (SELECT
    ...) INSERT OVERWRITE DIRECTORY`` performs an arbitrary filesystem
    write, and commands execute EAGERLY at spark.sql() time. The guard
    must therefore reject on the PARSED plan, before execution."""
    target = tmp_path / "smuggled"
    for bad in (
        f"WITH t AS (SELECT level FROM entries) "
        f"INSERT OVERWRITE DIRECTORY '{target}' USING parquet "
        f"SELECT * FROM t",
        "WITH t AS (SELECT 1 AS x) INSERT INTO entries SELECT * FROM t",
    ):
        for command in ("sql", "explain"):
            resp = engine_db.handle({"command": command, "sql": bad})
            assert not resp["ok"], (command, bad)
            assert "read-only" in resp["error"] or "SELECT" in resp["error"]
    assert not target.exists(), "guard executed the smuggled write!"

    # legitimate CTE queries still pass the plan-level guard
    ok = engine_db.handle(
        {
            "command": "sql",
            "sql": "WITH t AS (SELECT level FROM entries) "
            "SELECT COUNT(*) AS n FROM t",
        }
    )
    assert ok["ok"], ok


def test_explain_command(engine_db):
    """Plan inspection over the protocol: a probe filter must show as
    pushed into the parquet scan, and nothing executes."""
    resp = engine_db.handle(
        {
            "command": "explain",
            "sql": "SELECT level, cnt FROM entries WHERE pos_key = 42",
        }
    )
    assert resp["ok"], resp
    assert "PushedFilters" in resp["plan"] or "Filter" in resp["plan"]
    bad = engine_db.handle({"command": "explain", "sql": "DROP TABLE entries"})
    assert not bad["ok"]


def test_tree_command(engine_db):
    """Depth-2 opening tree from the start position: root stats filled,
    children ranked by total count, grandchildren expanded, child FENs
    legal (the SAN replay round-trips)."""
    start = "rnbqkbnr/pppppppp/8/8/8/8/PPPPPPPP/RNBQKBNR w KQkq - 0 1"
    resp = engine_db.handle(
        {"command": "tree", "fen": start, "depth": 2, "topN": 2}
    )
    assert resp["ok"], resp
    tree = resp["tree"]
    assert tree["fen"] == start
    assert tree["stats"]  # root has stats
    assert tree["children"]  # at least one continuation
    for san, child in tree["children"].items():
        assert child["total"] > 0
        assert child["fen"].count("/") == 7  # a real FEN board
        # depth-2: grandchildren were expanded where data exists
        assert "children" in child


def test_export_command(spark, tmp_path):
    pgn_path = tmp_path / "games.pgn"
    pgn_path.write_text(PGN_TEXT)
    eng = server.Engine(spark)
    resp = eng.handle(
        {
            "command": "create",
            "destination": str(tmp_path / "db"),
            "files": {"human": [str(pgn_path)]},
            "format": "pgn",
            "storeMoves": True,
        }
    )
    assert resp["ok"], resp
    out = str(tmp_path / "export")
    resp = eng.handle({"command": "export", "destination": out, "shards": 2})
    assert resp["ok"], resp
    assert resp["export"]["games"] == 4

    # header-only db refuses politely (error response, session survives)
    eng2 = server.Engine(spark)
    eng2.handle(
        {
            "command": "create",
            "destination": str(tmp_path / "db2"),
            "files": {"human": [str(pgn_path)]},
            "format": "pgn",
        }
    )
    bad = eng2.handle({"command": "export", "destination": str(tmp_path / "x")})
    assert not bad["ok"] and "store_moves" in bad["error"]
    assert eng2.handle({"command": "stats"})["ok"]


def test_sql_truncated_flag_is_exact(engine_db):
    """truncated must mean ACTUAL truncation, not 'result happened to
    have exactly maxRows rows'."""
    full = engine_db.handle(
        {"command": "sql", "sql": "SELECT DISTINCT level FROM entries"}
    )
    n = len(full["rows"])
    exact = engine_db.handle(
        {
            "command": "sql",
            "sql": "SELECT DISTINCT level FROM entries",
            "maxRows": n,
        }
    )
    assert exact["ok"] and len(exact["rows"]) == n
    assert not exact["truncated"]  # nothing was cut
    cut = engine_db.handle(
        {
            "command": "sql",
            "sql": "SELECT DISTINCT pos_key FROM entries",
            "maxRows": 1,
        }
    )
    assert cut["ok"] and len(cut["rows"]) == 1 and cut["truncated"]


def test_open_failure_keeps_previous_database(engine_db, tmp_path):
    """A failed open (half-created target: entries/ without games/)
    must leave the previously-open database fully intact — never a
    silent mix of two databases' state."""
    import shutil

    half = tmp_path / "halfdb"
    shutil.copytree(f"{engine_db.db_dir}/entries", str(half / "entries"))
    before = engine_db.db_dir
    resp = engine_db.handle({"command": "open", "database": str(half)})
    assert not resp["ok"]
    assert engine_db.db_dir == before
    # both frames still resolve against the ORIGINAL database
    q = engine_db.handle(
        {"command": "sql", "sql": "SELECT COUNT(*) AS n FROM games"}
    )
    assert q["ok"] and q["rows"][0][0] == 4


def test_server_rejects_unknown_format(spark, tmp_path):
    """An unknown/mistyped format must be an error, not a silent
    fallthrough to the PGN parser importing binary bytes as 0 games
    with ok:true."""
    from chess_pos_db_spark.app.server import Engine

    eng = Engine(spark)
    out = eng.handle(
        {
            "command": "create",
            "format": "bcgn",
            "destination": str(tmp_path / "db"),
            "files": {"human": []},
        }
    )
    assert out["ok"] is False and "unknown format" in out["error"]
    out2 = eng.handle({"command": "append", "format": "sbgn", "files": {}})
    assert out2["ok"] is False  # append is pgn-only, loudly


def test_tcp_bad_encoding_gets_error_response(spark, tmp_path):
    """A non-UTF-8 request line must get an error RESPONSE, not a
    silently dropped connection."""
    import socket

    from chess_pos_db_spark.app.server import Engine, serve_tcp

    eng = Engine(spark)
    server, thread, port = serve_tcp(eng)
    try:
        with socket.create_connection(("127.0.0.1", port)) as sock:
            f = sock.makefile("rwb")
            f.write(b"\x80\xff bad bytes\n")
            f.flush()
            resp = f.readline().decode("utf-8")
            assert '"ok": false' in resp and "encoding" in resp
    finally:
        server.shutdown()


def test_tcp_and_console_answer_lines_identically(engine_db):
    """Both front ends run one line step: the same input lines get the
    same response lines, and 'exit' stops both (the line after it is
    never answered; the TCP server closes the connection). Bad JSON and
    valid JSON that is not an object ('[1,2]', '"exit"', '3') get an
    ok:false response and leave the connection or loop answering —
    the naked .get('command') used to AttributeError BEFORE the
    engine's error guard, closing the socket with no reply."""
    import io
    import json
    import socket

    lines = [
        "{bad",
        "[1,2]",
        '"exit"',
        "3",
        '{"command": "nope"}',
        '{"command": "stats"}',
        '{"command": "exit"}',
        '{"command": "stats"}',
    ]
    out = io.StringIO()
    server.console_loop(engine_db, io.StringIO("\n".join(lines) + "\n"), out)
    console = out.getvalue().splitlines()

    srv, thread, port = server.serve_tcp(engine_db)
    try:
        with socket.create_connection(("127.0.0.1", port)) as sock:
            f = sock.makefile("rwb")
            f.write(("\n".join(lines) + "\n").encode("utf-8"))
            f.flush()
            tcp = [raw.decode("utf-8").rstrip("\n") for raw in f]
    finally:
        srv.shutdown()

    assert tcp == console
    got = [json.loads(r) for r in console]
    assert [r["ok"] for r in got] == [False] * 5 + [True]
    assert "bad json" in got[0]["error"]
    assert all("JSON object" in r["error"] for r in got[1:4])
    assert "unknown command" in got[4]["error"]
    assert "games" in got[5]["stats"]


def test_sql_nonfinite_floats_stay_valid_json(engine_db):
    """NaN/Infinity SQL results must cross the wire as VALID JSON —
    json.dumps's default emits bare NaN/Infinity tokens a strict parser
    rejects. The row sanitizer renders them in the TAGGED form
    {"float": "nan"} so a client can tell SELECT sqrt(-1.0) from a
    genuine string cell SELECT 'nan'; the response line must survive
    allow_nan=False serialization."""
    import json

    resp = engine_db.handle(
        {
            "command": "sql",
            "sql": "SELECT sqrt(-1.0) AS bad, 1e308 * 10 AS huge, "
                   "'nan' AS s, count(*) AS n FROM entries",
        }
    )
    assert resp["ok"], resp
    # strict round-trip: this raises on any non-finite float payload
    line = json.dumps(resp, allow_nan=False)
    back = json.loads(line)
    row = back["rows"][0]
    assert row[0] == {"float": "nan"}
    assert row[1] == {"float": "inf"}
    assert row[2] == "nan"  # the string literal stays a bare string
    assert isinstance(row[3], int)


def test_dump_response_backstop_never_emits_invalid_json():
    """A response payload that bypassed every sanitizer (a command
    returning a raw non-finite float) must still leave the wire as one
    valid JSON line — degraded to ok:false, never a bare NaN token."""
    import json

    line = server._dump_response({"ok": True, "value": float("nan")})
    back = json.loads(line)
    assert back["ok"] is False and "unserializable" in back["error"]
    # normal payloads pass through untouched
    assert json.loads(server._dump_response({"ok": True, "v": 1.5})) == {
        "ok": True, "v": 1.5,
    }


def test_responses_carry_protocol_version(spark, tmp_path):
    """Every response (ok and error) carries the wire-format version so
    clients can detect breaking changes like the round-10 tagged
    non-finite-float form (protocol 2) instead of mis-parsing."""
    from chess_pos_db_spark.app import server as srv

    eng = srv.Engine(spark)
    ok = eng.handle({"command": "stats"})
    assert ok["protocol"] == srv.PROTOCOL_VERSION == 2
    bad = eng.handle({"command": "no_such_command"})
    assert bad["ok"] is False and bad["protocol"] == 2


def test_envelope_keys_win_over_handler_payload(spark, monkeypatch):
    """ADVICE pin: the envelope spreads the handler payload FIRST, so a
    handler that returns 'ok'/'protocol' keys can never override the
    envelope's truth (previously {"ok": True, **payload} let a payload
    ok=False masquerade as a protocol-level failure)."""
    from chess_pos_db_spark.app import server as srv

    eng = srv.Engine(spark)
    monkeypatch.setattr(
        srv.Engine,
        "cmd_rogue",
        lambda self, cmd: {"ok": False, "protocol": 99, "data": 7},
        raising=False,
    )
    resp = eng.handle({"command": "rogue"})
    assert resp["ok"] is True
    assert resp["protocol"] == srv.PROTOCOL_VERSION
    assert resp["data"] == 7
