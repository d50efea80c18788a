"""Chess-domain layer tests (SURVEY.md §5.3 fixtures + §5.2.3
invariants): movegen perft, round-trips, PGN parsing quirks (partial
dates, unknown results, comments/variations), the import pipeline's
known counts, and the explorer query's continuation-vs-transposition
split on a hand-built transposing game pair."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from chess_pos_db_spark.chess import importer, pgn, query
from chess_pos_db_spark.chess.board import (
    NO_REVERSE_MOVE,
    Position,
    START_FEN,
    captured_piece,
    pack_move,
    perft,
    unpack_move,
)

# --- pure-rules invariants ---------------------------------------------------


def test_perft_start():
    p = Position.from_fen(START_FEN)
    assert perft(p, 1) == 20
    assert perft(p, 2) == 400
    assert perft(p, 3) == 8902


def test_perft_kiwipete():
    p = Position.from_fen(
        "r3k2r/p1ppqpb1/bn2pnp1/3PN3/1p2P3/2N2Q1p/PPPBBPPP/R3K2R w KQkq - 0 1"
    )
    assert perft(p, 1) == 48
    assert perft(p, 2) == 2039


def test_fen_roundtrip():
    for fen in (
        START_FEN,
        "r3k2r/p1ppqpb1/bn2pnp1/3PN3/1p2P3/2N2Q1p/PPPBBPPP/R3K2R w KQkq - 0 1",
        "8/2p5/3p4/KP5r/1R3p1k/8/4P1P1/8 w - - 0 1",
    ):
        assert Position.from_fen(fen).fen() == fen


def test_move_pack_roundtrip():
    p = Position.from_fen(START_FEN)
    for m in p.legal_moves():
        u = unpack_move(pack_move(m), m.piece)
        assert (u.from_sq, u.to_sq, u.promo, u.flag) == (
            m.from_sq,
            m.to_sq,
            m.promo,
            m.flag,
        )


def test_san_roundtrip_along_game():
    p = Position.from_fen(START_FEN)
    for _ in range(6):
        for m in p.legal_moves():
            parsed = p.parse_san(p.san(m))
            assert parsed == m
        # walk a deterministic path: first legal move by uci order
        m = sorted(p.legal_moves(), key=lambda x: x.uci())[0]
        p = p.make_move(m)


def test_compress_roundtrip():
    p = Position.from_fen(START_FEN)
    for san in ["e4", "e5", "Nf3", "Nc6", "Bb5", "a6", "Bxc6", "dxc6", "O-O"]:
        p = p.make_move(p.parse_san(san))
        q = Position.decompress(p.compress())
        assert q.board == p.board
        assert q.side == p.side
        assert q.castling == p.castling


def test_zobrist_transposition_equality():
    a = Position.from_fen(START_FEN)
    for san in ["e4", "e5", "Nf3", "Nc6"]:
        a = a.make_move(a.parse_san(san))
    b = Position.from_fen(START_FEN)
    for san in ["Nf3", "Nc6", "e4", "e5"]:
        b = b.make_move(b.parse_san(san))
    # b has a phantom ep square from e5 (not capturable) — keys must match
    assert a.key() == b.key()
    assert a.fen().split()[0] == b.fen().split()[0]
    # and a genuinely different position must differ
    c = a.make_move(a.parse_san("Bb5"))
    assert c.key() != a.key()


# --- PGN parsing -------------------------------------------------------------

PGN_TEXT = """\
[Event "Test Open"]
[Site "Testville"]
[Date "1992.??.??"]
[Round "1"]
[White "Alpha"]
[Black "Beta"]
[Result "1-0"]
[WhiteElo "2400"]
[BlackElo "2300"]

1. e4 e5 2. Nf3 Nc6 1-0

[Event "Test Open"]
[Date "1993.05.12"]
[White "Gamma"]
[Black "Delta"]
[Result "0-1"]
[WhiteElo "2100"]
[BlackElo "2250"]

1. Nf3 Nc6 2. e4 e5 0-1

[Event "Unknown Result"]
[White "Eps"]
[Black "Zeta"]
[Result "*"]

1. d4 d5 *

[Event "Annotated"]
[White "Eta"]
[Black "Theta"]
[Result "1/2-1/2"]

1. d4 {queen's pawn} d5 (1... Nf6 2. c4 {indian}) 2. c4 $1 1/2-1/2
"""


def test_pgn_parse():
    games = list(pgn.parse_file(PGN_TEXT))
    assert len(games) == 4
    g1, g2, g3, g4 = games
    assert g1["sans"] == ["e4", "e5", "Nf3", "Nc6"]
    assert g1["result"] == "W"
    assert (g1["year"], g1["month"], g1["day"]) == (1992, None, None)
    assert g2["result"] == "B"
    assert (g2["year"], g2["month"], g2["day"]) == (1993, 5, 12)
    assert g3["result"] is None  # unknown → to be skipped by importer
    assert g4["sans"] == ["d4", "d5", "c4"]  # comments/variations/NAG stripped
    assert g4["result"] == "D"


# --- import pipeline + explorer query ---------------------------------------


@pytest.fixture(scope="module")
def chess_db(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("chessdb")
    pgn_path = root / "games.pgn"
    pgn_path.write_text(PGN_TEXT)
    db_dir = str(root / "db")
    stats = importer.import_pgn(spark, [(str(pgn_path), "human")], db_dir)
    return db_dir, stats


def test_import_stats(spark, chess_db):
    db_dir, stats = chess_db
    assert stats["games"] == 4
    assert stats["skipped"] == 1
    # entries: games 1,2 contribute 5 positions each (start + 4 plies),
    # game 4 contributes 4; game 3 skipped → 14 position visits total
    assert stats["positions"] == 14


def test_start_position_counts(spark, chess_db):
    db_dir, _ = chess_db
    entries = spark.read.parquet(f"{db_dir}/entries")
    start_key = Position.from_fen(START_FEN).key()
    rows = entries.filter(entries.pos_key == start_key).collect()
    # 3 imported games × (level=human, result in {W,B,D}) with rm sentinel
    assert len(rows) == 3
    assert all(r["reverse_move"] == NO_REVERSE_MOVE for r in rows)
    assert {r["result"] for r in rows} == {"W", "B", "D"}
    assert sum(r["cnt"] for r in rows) == 3


def test_explorer_continuation_vs_transposition(spark, chess_db):
    """The heart of the reference's semantics: the position after
    1.e4 e5 2.Nf3 Nc6 is reached by game 1 via Nc6 (continuation w.r.t.
    the queried move) and by game 2 via ...e5 transposition."""
    db_dir, _ = chess_db
    entries = spark.read.parquet(f"{db_dir}/entries")
    games = spark.read.parquet(f"{db_dir}/games")

    after_e4e5 = Position.from_fen(START_FEN)
    for san in ["e4", "e5"]:
        after_e4e5 = after_e4e5.make_move(after_e4e5.parse_san(san))

    resp = query.explorer_query(
        spark,
        entries,
        games,
        {
            "token": "t1",
            "positions": [{"fen": after_e4e5.fen(), "move": "Nf3"}],
            "fetchChildren": True,
        },
    )
    node = resp["positions"][0]
    # root (after 2.Nf3): only game 1 passed through, via Nf3 itself
    assert node["stats"]["continuation"]["human"]["W"]["count"] == 1
    assert "transposition" not in node["stats"]

    child = node["children"]["Nc6"]
    stats = child["stats"]
    assert stats["continuation"]["human"]["W"]["count"] == 1  # game 1
    assert stats["transposition"]["human"]["B"]["count"] == 1  # game 2
    # header metadata resolved via the games join
    assert stats["continuation"]["human"]["W"]["firstGame"]["white"] == "Alpha"
    assert stats["transposition"]["human"]["B"]["firstGame"]["white"] == "Gamma"


def test_explorer_bare_fen_all_select(spark, chess_db):
    db_dir, _ = chess_db
    entries = spark.read.parquet(f"{db_dir}/entries")
    resp = query.explorer_query(
        spark,
        entries,
        None,
        {"positions": [{"fen": START_FEN}], "fetchChildren": False},
    )
    stats = resp["positions"][0]["stats"]["all"]["human"]
    assert {k: v["count"] for k, v in stats.items()} == {"W": 1, "B": 1, "D": 1}


def test_retractions(spark, chess_db):
    db_dir, _ = chess_db
    entries = spark.read.parquet(f"{db_dir}/entries")
    after_e4 = Position.from_fen(START_FEN)
    after_e4 = after_e4.make_move(after_e4.parse_san("e4"))
    rows = query.retractions(spark, entries, after_e4.fen()).collect()
    # only way into this position in the corpus: e2e4 (game 1)
    assert len(rows) == 1
    assert rows[0]["move_uci"] == "e2e4"
    assert rows[0]["cnt"] == 1


def test_append_then_query(spark, tmp_path):
    """append ≡ reference append+merge: counts double after re-adding
    the same file. Appends to its own database, so the module's shared
    `chess_db` stays single-level whatever the test order."""
    first = tmp_path / "games.pgn"
    first.write_text(PGN_TEXT)
    db_dir = str(tmp_path / "db")
    importer.import_pgn(spark, [(str(first), "human")], db_dir)
    extra = tmp_path / "more.pgn"
    extra.write_text(PGN_TEXT)
    importer.append_pgn(spark, [(str(extra), "engine")], db_dir)
    entries = spark.read.parquet(f"{db_dir}/entries")
    start_key = Position.from_fen(START_FEN).key()
    rows = entries.filter(entries.pos_key == start_key).collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r["level"], 0)
        by_level[r["level"]] += r["cnt"]
    assert by_level == {"human": 3, "engine": 3}
    # appended files continue the file-ordinal sequence: game_ids from
    # the append must not collide with the original import's
    games = spark.read.parquet(f"{db_dir}/games")
    n = games.count()
    assert games.select("game_id").distinct().count() == n
    appended = games.filter(games.level == "engine")
    assert appended.count() == 4
    assert all(
        (r["game_id"] >> 32) >= 1 for r in appended.select("game_id").collect()
    )


def _tally_cells(entry_rows: list, request: dict) -> dict:
    """The explorer grid computed straight from the entries rows, with
    probes derived from the movegen here rather than by the query
    module: {(origin, kind, san, select, level, result): cell}."""
    levels, results = request.get("levels"), request.get("results")
    by_key: dict = {}
    for r in entry_rows:
        if (not levels or r["level"] in levels) and (
            not results or r["result"] in results
        ):
            by_key.setdefault(r["pos_key"], []).append(r)
    cells: dict = {}
    for i, spec in enumerate(request["positions"]):
        root, expected = Position.from_fen(spec["fen"]), None
        if spec.get("move"):
            m = root.parse_san(spec["move"])
            root, expected = root.make_move(m), pack_move(m, captured_piece(root, m))
        probes = [("root", None, root.key(), expected)] + [
            ("child", root.san(m), root.make_move(m).key(), pack_move(m, captured_piece(root, m)))
            for m in root.legal_moves()
        ]
        for kind, san, key, want in probes:
            for r in by_key.get(key, []):
                if want is None:
                    select = "all"
                elif r["reverse_move"] == want:
                    select = "continuation"
                else:
                    select = "transposition"
                cell = cells.setdefault(
                    (i, kind, san, select, r["level"], r["result"]),
                    {"count": 0, "elo": [], "first": [], "last": []},
                )
                cell["count"] += r["cnt"]
                cell["elo"].append(r["elo_diff_sum"])
                cell["first"].append(r["first_game_id"])
                cell["last"].append(r["last_game_id"])
    out = {}
    for k, c in cells.items():
        elos = [e for e in c["elo"] if e is not None]
        out[k] = {
            "count": c["count"],
            "eloDiffSum": sum(elos) if elos else None,
            "firstGame": min(c["first"]),
            "lastGame": max(c["last"]),
        }
    return out


def _response_cells(resp: dict) -> dict:
    out = {}
    for i, node in enumerate(resp["positions"]):
        stats_by_probe = [("root", None, node["stats"])] + [
            ("child", san, child["stats"]) for san, child in node["children"].items()
        ]
        for kind, san, stats in stats_by_probe:
            for select, by_level in stats.items():
                for level, by_result in by_level.items():
                    for result, cell in by_result.items():
                        out[(i, kind, san, select, level, result)] = {
                            "count": cell["count"],
                            "eloDiffSum": cell.get("eloDiffSum"),
                            "firstGame": cell["firstGame"]["id"],
                            "lastGame": cell["lastGame"]["id"],
                        }
    return out


def test_explorer_grid_matches_entries_tally(spark, tmp_path):
    """The explorer's driver-side grid fold against an independent tally
    over the entries rows. The batch repeats the start position and asks
    for 1.e4, which is also a child of the start position, so one entry
    row feeds several probes; the first request narrows levels and
    results (the db holds the corpus at two levels, `human` and
    `engine`, so the level filter drops rows) and keeps game 4's draw, whose
    players have no Elo, so its cells have no eloDiffSum; the second
    has a queried move, so continuation and transposition both show.
    The entries are read as two runs, the second holding the same games
    under later ids (as an un-compacted append of the same file leaves
    them), so every cell folds several rows and min/max/sum matter."""
    files = []
    for level in ("human", "engine"):
        p = tmp_path / f"{level}.pgn"
        p.write_text(PGN_TEXT)
        files.append((str(p), level))
    db_dir = str(tmp_path / "db")
    importer.import_pgn(spark, files, db_dir)
    stored = spark.read.parquet(f"{db_dir}/entries")
    shift = 7 << 32
    entries = stored.unionByName(
        stored.withColumn("first_game_id", F.col("first_game_id") + shift)
        .withColumn("last_game_id", F.col("last_game_id") + shift)
    )
    games = spark.read.parquet(f"{db_dir}/games")
    entry_rows = entries.collect()

    after_e4 = Position.from_fen(START_FEN)
    after_e4 = after_e4.make_move(after_e4.parse_san("e4"))
    after_e4e5 = after_e4.make_move(after_e4.parse_san("e5"))
    requests = [
        {
            "positions": [{"fen": START_FEN}, {"fen": after_e4.fen()}, {"fen": START_FEN}],
            "levels": ["human"],
            "results": ["W", "D"],
        },
        {
            "positions": [{"fen": START_FEN}, {"fen": after_e4e5.fen(), "move": "Nf3"}],
        },
    ]
    got = [_response_cells(query.explorer_query(spark, entries, games, r)) for r in requests]
    want = [_tally_cells(entry_rows, r) for r in requests]
    assert got == want

    assert {r["level"] for r in entry_rows} == {"human", "engine"}
    narrowed = got[0]
    assert {k[4] for k in narrowed} == {"human"}
    assert {k[5] for k in narrowed} == {"W", "D"}
    def cells_of(origin, kind, san):
        return {k[4:]: v for k, v in narrowed.items() if k[:3] == (origin, kind, san)}

    assert cells_of(0, "root", None) and cells_of(0, "root", None) == cells_of(2, "root", None)
    # the same entry rows, as a child (continuation of e4) and as a root (all)
    assert cells_of(0, "child", "e4") and cells_of(0, "child", "e4") == cells_of(1, "root", None)
    assert any(v["eloDiffSum"] is None for v in narrowed.values())
    assert any(v["eloDiffSum"] is not None for v in narrowed.values())
    assert {k[3] for k in got[1] if k[0] == 1} == {"continuation", "transposition"}


def test_dump_epd(spark, tmp_path):
    pgn_path = tmp_path / "g.pgn"
    pgn_path.write_text(PGN_TEXT)
    games = importer.parse_games_chunked(spark, [(str(pgn_path), "human")])
    entries = importer.explode_positions(games, include_positions=True)
    out = str(tmp_path / "dump")
    query.dump_epd(entries, out, min_count=2)
    lines = [r["value"] for r in spark.read.text(out).collect()]
    # start position (3 visits) and the transposition square (2 visits)
    # must appear; every line carries a count >= 2
    assert any(line.startswith("rnbqkbnr/pppppppp/8/8/8/8/PPPPPPPP/RNBQKBNR w") for line in lines)
    assert all(int(line.rsplit(" ", 1)[-1]) >= 2 for line in lines)


def test_probe_entries_key_pushdown(spark, chess_db):
    """Scale regression: the explorer's probe keys must reach the
    parquet scan as an In() filter (sparse-index seek analogue) — a
    full fact scan per explorer request is a 100 TB bug."""
    db_dir, _ = chess_db
    entries = spark.read.parquet(f"{db_dir}/entries")
    req = {"token": "t", "positions": [{"fen": START_FEN}]}
    plan = (
        query.probe_entries(spark, entries, req)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan
    assert "In(pos_key" in plan.split("PushedFilters")[1][:300]
    # One scan stage per request: the probes ride in the plan as a
    # constant, so no probe-side broadcast and no grid shuffle.
    assert "Exchange" not in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_merge_databases_equals_single_import(spark, tmp_path):
    """merge(db(A), db(B)) must be byte-equivalent (game_ids included)
    to import(A+B): the re-based file ordinals reproduce the continuing
    allocation a single create would have used."""
    a = tmp_path / "a.pgn"
    b = tmp_path / "b.pgn"
    a.write_text(PGN_TEXT)
    b.write_text(PGN_TEXT)
    importer.import_pgn(spark, [(str(a), "human")], str(tmp_path / "dba"))
    importer.import_pgn(spark, [(str(b), "engine")], str(tmp_path / "dbb"))
    stats = importer.merge_databases(
        spark,
        [str(tmp_path / "dba"), str(tmp_path / "dbb")],
        str(tmp_path / "merged"),
    )
    assert stats["sources"] == 2
    importer.import_pgn(
        spark,
        [(str(a), "human"), (str(b), "engine")],
        str(tmp_path / "single"),
    )

    def rows(path, table):
        df = spark.read.parquet(f"{tmp_path}/{path}/{table}")
        return sorted(tuple(r) for r in df.collect())

    assert rows("merged", "entries") == rows("single", "entries")
    assert rows("merged", "games") == rows("single", "games")


@pytest.mark.slow
def test_merge_databases_retraction_sidecars(spark, tmp_path):
    """When every source carries the ERAN sidecar, the merged database
    does too — identical to the single-shot import's sidecar."""
    a = tmp_path / "a.pgn"
    b = tmp_path / "b.pgn"
    a.write_text(PGN_TEXT)
    b.write_text(PGN_TEXT)
    importer.import_pgn(
        spark, [(str(a), "human")], str(tmp_path / "ra"), retractions=True
    )
    importer.import_pgn(
        spark, [(str(b), "human")], str(tmp_path / "rb"), retractions=True
    )
    importer.merge_databases(
        spark, [str(tmp_path / "ra"), str(tmp_path / "rb")], str(tmp_path / "rm")
    )
    importer.import_pgn(
        spark,
        [(str(a), "human"), (str(b), "human")],
        str(tmp_path / "rs"),
        retractions=True,
    )

    def rows(path):
        df = spark.read.parquet(f"{tmp_path}/{path}/retractions")
        return sorted(tuple(r) for r in df.collect())

    assert rows("rm") == rows("rs")


@pytest.mark.slow
def test_append_updates_retraction_sidecar(spark, tmp_path):
    """Appending to a retractions-enabled database must bring the
    sidecar forward: afterwards it equals the sidecar of a single-shot
    import of both file sets."""
    a = tmp_path / "a.pgn"
    b = tmp_path / "b.pgn"
    a.write_text(PGN_TEXT)
    b.write_text(PGN_TEXT)
    db = str(tmp_path / "adb")
    importer.import_pgn(spark, [(str(a), "human")], db, retractions=True)
    importer.append_pgn(spark, [(str(b), "human")], db)
    importer.import_pgn(
        spark,
        [(str(a), "human"), (str(b), "human")],
        str(tmp_path / "single"),
        retractions=True,
    )

    def rows(path):
        df = spark.read.parquet(f"{path}/retractions")
        return sorted(tuple(r) for r in df.collect())

    assert rows(db) == rows(str(tmp_path / "single"))


def test_transposition_stats(spark, tmp_path):
    """Two games reaching the same position via different move orders
    (1.d3 d6 2.Nf3 vs 1.Nf3 d6 2.d3 — no double-push last move, so no
    ep ambiguity) must yield one position with two distinct paths."""
    text = """\
[Event "T"]
[White "A"]
[Black "B"]
[Result "1-0"]

1. d3 d6 2. Nf3 1-0

[Event "T"]
[White "C"]
[Black "D"]
[Result "0-1"]

1. Nf3 d6 2. d3 0-1
"""
    p = tmp_path / "t.pgn"
    p.write_text(text)
    games = importer.parse_games_chunked(spark, [(str(p), "human")])
    entries = importer.explode_positions(games)
    agg = importer.build_agg_entries(entries)
    stats = query.transposition_stats(agg).collect()
    # exactly one transposition point: the position after both move
    # orders converge, reached via reverse moves Nf3 and d3
    assert len(stats) == 1
    assert stats[0]["n_paths"] == 2
    assert stats[0]["n_visits"] == 2


# --- PGN export (store_moves + export_pgn round trip) ------------------------


def test_export_pgn_round_trip(spark, tmp_path):
    """import(store_moves) → export_pgn → re-import yields an IDENTICAL
    entries store and identical game headers — lossless migration out
    of the engine, INCLUDING the level classification (export shards by
    level=<level>/ subdirectory; a flat export would merge levels
    irrecoverably). A header-only import refuses to export."""
    src = tmp_path / "games.pgn"
    src.write_text(PGN_TEXT)
    src2 = tmp_path / "engine_games.pgn"
    src2.write_text(
        '[Event "EngineMatch"]\n[White "EngA"]\n[Black "EngB"]\n'
        '[Result "0-1"]\n\n1. e4 c5 2. Nf3 d6 0-1\n'
    )
    db1 = str(tmp_path / "db1")
    importer.import_pgn(
        spark,
        [(str(src), "human"), (str(src2), "engine")],
        db1,
        store_moves=True,
    )
    out = str(tmp_path / "export")
    res = importer.export_pgn(spark, db1, out, shards=2)
    assert res["games"] == 5
    assert res["levels"] == ["engine", "human"]
    assert res["files"] >= 1  # actual part files written, not requested

    # re-import the exported shards as ONE corpus, each with the level
    # recovered from its partition directory (shard files sorted by
    # name keep game order; game_ids depend on file split so compare
    # content, not ids)
    import glob

    shard_files = sorted(glob.glob(f"{out}/level=*/part-*"))
    assert len(shard_files) == res["files"] >= 2  # one per level at least
    db2 = str(tmp_path / "db2")
    importer.import_pgn(
        spark,
        [(p, p.split("level=")[1].split("/")[0]) for p in shard_files],
        db2,
        store_moves=True,
    )

    def entries_content(db):
        df = spark.read.parquet(f"{db}/entries")
        return sorted(
            tuple(r)
            for r in df.select(
                "pos_key", "reverse_move", "level", "result", "cnt", "elo_diff_sum"
            ).collect()
        )

    assert entries_content(db1) == entries_content(db2)

    def headers(db):
        df = spark.read.parquet(f"{db}/games")
        return sorted(
            tuple(r)
            for r in df.select(
                "event", "white", "black", "result", "date_raw",
                "white_elo", "black_elo", "ply_count", "sans", "level",
            ).collect()
        )

    assert headers(db1) == headers(db2)

    # header-only database refuses
    db3 = str(tmp_path / "db3")
    importer.import_pgn(spark, [(str(src), "human")], db3)
    with pytest.raises(ValueError, match="store_moves"):
        importer.export_pgn(spark, db3, str(tmp_path / "nope"))


def test_export_after_append_keeps_moves(spark, tmp_path):
    """append_pgn on a store_moves database keeps movetext for the
    appended games, so export covers the WHOLE corpus."""
    src = tmp_path / "games.pgn"
    src.write_text(PGN_TEXT)
    extra = tmp_path / "more.pgn"
    extra.write_text(
        '[Event "Later"]\n[White "Iota"]\n[Black "Kappa"]\n'
        '[Result "1-0"]\n\n1. Nf3 d5 2. g3 1-0\n'
    )
    db = str(tmp_path / "db")
    importer.import_pgn(spark, [(str(src), "human")], db, store_moves=True)
    importer.append_pgn(spark, [(str(extra), "human")], db)
    games = spark.read.parquet(f"{db}/games")
    assert "sans" in games.columns
    appended = games.filter(F.col("white") == "Iota").first()
    assert list(appended["sans"]) == ["Nf3", "d5", "g3"]
    out = str(tmp_path / "export")
    res = importer.export_pgn(spark, db, out)
    assert res["games"] == 5


def test_merge_refuses_mixed_fidelity(spark, tmp_path):
    a = tmp_path / "a.pgn"
    a.write_text(PGN_TEXT)
    da, db_ = str(tmp_path / "da"), str(tmp_path / "db_")
    importer.import_pgn(spark, [(str(a), "human")], da, store_moves=True)
    importer.import_pgn(spark, [(str(a), "human")], db_)
    with pytest.raises(ValueError, match="store_moves"):
        importer.merge_databases(spark, [da, db_], str(tmp_path / "out"))


def test_export_pgn_uri_destination(spark, tmp_path):
    """export_pgn to a file: URI destination: the write goes through
    Spark (which accepts URIs), so the stats pass must too — it
    resolves through the Hadoop FileSystem API rather than os.walk
    (a non-local scheme used to raise FileNotFoundError AFTER the
    export had succeeded)."""
    src = tmp_path / "games.pgn"
    src.write_text(PGN_TEXT)
    db = str(tmp_path / "db")
    importer.import_pgn(spark, [(str(src), "human")], db, store_moves=True)
    out_uri = (tmp_path / "export_uri").as_uri()  # file:///...
    res = importer.export_pgn(spark, db, out_uri, shards=2)
    assert res["games"] == 4
    assert res["levels"] == ["human"]
    assert res["files"] >= 1


def test_san_rejects_bad_promotions():
    """'e8=K'/'e8=P' (illegal promo piece) and 'e4=Q' (promo suffix off
    the last rank) must be ILLEGAL SAN — not silently accepted moves
    that materialize a second king / mid-board queen and then KeyError
    inside pack_move, killing the whole import task."""
    import pytest

    from chess_pos_db_spark.chess.board import Position, START_FEN

    p = Position.from_fen("1k6/4P3/8/8/8/8/8/2K5 w - -")
    # multi-char suffixes that are SUBSTRINGS of "QRBNqrbn" must also be
    # rejected — substring membership would let e8=QR/e8=RB/e8=rb/e8=bn
    # through the guard and KeyError (or corrupt the board) downstream
    for bad in ("e8=K", "e8=P", "e8=X", "e8=QR", "e8=RB", "e8=rb", "e8=bn"):
        with pytest.raises(ValueError):
            p.parse_san_child(bad)
    assert p.parse_san_child("e8=Q")  # the legal form still parses

    start = Position.from_fen(START_FEN)
    mid = start.parse_san_child("e3")[1].parse_san_child("a6")[1]
    with pytest.raises(ValueError):
        mid.parse_san_child("e4=Q")
    assert mid.parse_san_child("e4")  # plain push unaffected


def test_semicolon_comment_is_line_scoped():
    """';' comments run to end of LINE: a semicolon on move 1's line
    must not swallow moves 2-3 and the result token (a space-join of
    movetext lines used to erase the line boundaries)."""
    from chess_pos_db_spark.chess import pgn

    g = pgn.parse_game(
        '[Event "x"]\n\n1. e4 e5 ; King\'s pawn\n2. Nf3 Nc6 3. Bb5 a6 1-0\n'
    )
    assert g["sans"] == ["e4", "e5", "Nf3", "Nc6", "Bb5", "a6"]
    assert g["result"] == "W"


def test_from_fen_rejects_malformed_rows():
    """A placement row wider than 8 files must fail loudly — the ninth
    piece would land on an off-board 0x88 slot invisible to
    key()/movegen/fen(), so a probe built from the FEN would silently
    query a different position than the user supplied."""
    import pytest

    from chess_pos_db_spark.chess.board import Position

    with pytest.raises(ValueError, match="row|shape"):
        Position.from_fen("rnbqkbnrn/pppppppp/8/8/8/8/PPPPPPPP/RNBQKBNR w KQkq -")
    with pytest.raises(ValueError, match="row|shape"):
        Position.from_fen("9/8/8/8/8/8/8/8 w - -")


def test_from_fen_rejects_bad_side_and_castling():
    """Round-13 hardening: an unknown side char silently played as
    Black (every `us == WHITE` comparison fails), and a malformed
    castling field either raised a raw KeyError deep in key() or —
    for duplicate chars — XOR-cancelled into the key of a position
    WITHOUT that right. Both must fail at parse time."""
    import pytest

    from chess_pos_db_spark.chess.board import Position

    base = "rnbqkbnr/pppppppp/8/8/8/8/PPPPPPPP/RNBQKBNR"
    with pytest.raises(ValueError, match="side"):
        Position.from_fen(f"{base} x KQkq -")
    with pytest.raises(ValueError, match="side"):
        Position.from_fen(f"{base} W KQkq -")
    with pytest.raises(ValueError, match="castling"):
        Position.from_fen(f"{base} w KX -")
    with pytest.raises(ValueError, match="castling"):
        Position.from_fen(f"{base} w KKQk -")  # duplicate cancels in key()
    # non-canonical ORDER stays accepted (key() folds per char)
    a = Position.from_fen(f"{base} w QKkq -")
    b = Position.from_fen(f"{base} w KQkq -")
    assert a.key() == b.key()


def test_compress_masks_phantom_ep():
    """compress() masks non-capturable ep exactly like key(): one
    logical position must map to ONE pos_cmp, or the EPD dump splits
    its count across duplicate lines while pos_key already collapses
    them."""
    from chess_pos_db_spark.chess.board import Position, START_FEN

    pos = Position.from_fen(START_FEN)
    after = pos.parse_san_child("e4")[1].parse_san_child("c5")[1]
    # black c7-c5 set ep=c6, but no white pawn can capture there
    no_ep = Position.from_fen(" ".join(
        f if i != 3 else "-" for i, f in enumerate(after.fen().split())
    ))
    assert after.key() == no_ep.key()
    assert after.compress() == no_ep.compress()


def test_import_reports_dropped_invalid_games(spark, tmp_path):
    """Games dropped for invalid moves must be visible in the import
    stats, not silently absent: 'games' counts parses, 'skipped'
    counts unknown results, and 'dropped_invalid' counts games whose
    replay failed."""
    from chess_pos_db_spark.chess import importer

    corrupt = (
        '[Event "ok"]\n[Result "1-0"]\n\n1. e4 e5 1-0\n\n'
        '[Event "bad"]\n[Result "0-1"]\n\n1. e4 e9 0-1\n\n'
        '[Event "unknown"]\n[Result "*"]\n\n1. d4 *\n'
    )
    f = tmp_path / "c.pgn"
    f.write_text(corrupt)
    stats = importer.import_pgn(
        spark, [(str(f), "human")], str(tmp_path / "db")
    )
    assert stats["games"] == 3
    assert stats["skipped"] == 1
    assert stats["dropped_invalid"] == 1


def test_swap_dir_never_deletes_the_only_copy(tmp_path):
    """append_pgn's table swap must move the live dir aside BEFORE the
    replacement takes its name: a crash mid-swap leaves a recoverable
    copy under either name, never a window where the live table was
    rmtree'd and the replacement not yet renamed. Stale .old staging
    from a prior crash is cleared, not tripped over."""
    import os

    live = tmp_path / "entries"
    tmp = tmp_path / "entries_tmp"
    stale = tmp_path / "entries.old"
    for d, marker in ((live, "old"), (tmp, "new"), (stale, "stale")):
        d.mkdir()
        (d / f"{marker}.parquet").write_text(marker)

    importer._swap_dir(str(live), str(tmp))
    assert (live / "new.parquet").read_text() == "new"
    assert not tmp.exists()
    assert not stale.exists()

    # crash-window simulation: first rename done, second never runs —
    # the old data survives under .old
    live2 = tmp_path / "t2"
    tmp2 = tmp_path / "t2_tmp"
    live2.mkdir(); (live2 / "a.parquet").write_text("a")
    os.rename(str(live2), str(live2) + ".old")  # the crash point
    assert (tmp_path / "t2.old" / "a.parquet").read_text() == "a"
