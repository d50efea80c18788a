"""SBGN binary format tests: codec round-trip, 1-byte/move density,
and Spark-source parity with the PGN import path."""

from __future__ import annotations

import os

from chess_pos_db_spark.chess import bcgn, importer, pgn
from tests.test_chess import PGN_TEXT


def _games():
    out = []
    for g in pgn.parse_file(PGN_TEXT):
        g = dict(g)
        g["level"] = "human"
        tags = g.pop("tags")
        g["event"] = tags.get("Event")
        g["white"] = tags.get("White")
        g["black"] = tags.get("Black")
        g["white_elo"] = int(tags["WhiteElo"]) if "WhiteElo" in tags else None
        g["black_elo"] = int(tags["BlackElo"]) if "BlackElo" in tags else None
        out.append(g)
    return out


def test_codec_roundtrip(tmp_path):
    games = _games()
    path = str(tmp_path / "games.sbgn")
    bcgn.write_file(games, path)
    back = list(bcgn.decode_file(open(path, "rb").read()))
    assert len(back) == len(games)
    for a, b in zip(games, back):
        assert a["sans"] == b["sans"]
        assert a["result"] == b["result"]
        assert a["white_elo"] == b["white_elo"]
        assert a.get("year") == b["year"]


def test_move_density(tmp_path):
    games = _games()
    path = str(tmp_path / "games.sbgn")
    bcgn.write_file(games, path)
    total_plies = sum(len(g["sans"]) for g in games)
    size = os.path.getsize(path)
    # movetext is exactly 1 byte/ply; the rest is fixed+string header
    header_overhead = size - total_plies
    assert header_overhead < len(games) * 80


def test_spark_source_parity(spark, tmp_path):
    """Importing the same games via SBGN must produce the identical
    aggregated entries table as importing via PGN."""
    pgn_path = tmp_path / "g.pgn"
    pgn_path.write_text(PGN_TEXT)
    sbgn_path = str(tmp_path / "g.sbgn")
    bcgn.write_file(_games(), sbgn_path)

    games_pgn = importer.parse_games_chunked(spark, [(str(pgn_path), "human")])
    games_bin = bcgn.read_sbgn(spark, [(sbgn_path, "human")])

    agg_pgn = importer.build_agg_entries(importer.explode_positions(games_pgn))
    agg_bin = importer.build_agg_entries(importer.explode_positions(games_bin))
    a = {tuple(r) for r in agg_pgn.collect()}
    b = {tuple(r) for r in agg_bin.collect()}
    assert a == b and len(a) > 0


def test_sbgn_corrupt_records_fail_loudly():
    """Truncated movetext / strings / records must raise, not silently
    decode a SHORTER game: read_sbgn recomputes ply_count from
    len(sans), so a silent short slice would make the corruption
    invisible downstream — an imported database with wrong games and
    ok:true."""
    import struct

    import pytest

    from chess_pos_db_spark.chess import bcgn

    good = bcgn.MAGIC + bytes([bcgn.VERSION]) + struct.pack("<I", 1)
    rec = bcgn.encode_game(
        {"result": "W", "level": "human", "sans": ["e4", "e5", "Nf3", "Nc6"]}
    )
    assert list(bcgn.decode_file(good + rec))  # sanity: intact decodes

    # chop two move bytes off the end: declared 4 plies, 2 remain
    truncated = good + rec[:-2]
    with pytest.raises(ValueError, match="plies|record"):
        list(bcgn.decode_file(truncated))


def test_read_sbgn_rejects_duplicate_paths(spark, tmp_path):
    """Duplicate input paths collapse the (idx, level) maps silently
    and emit colliding game_ids — the same loud contract as the pgn
    import's."""
    import pytest

    from chess_pos_db_spark.chess import bcgn

    f = str(tmp_path / "x.sbgn")
    bcgn.write_file(
        [{"result": "W", "level": "human", "sans": ["e4"]}], f
    )
    with pytest.raises(ValueError, match="duplicate input paths"):
        bcgn.read_sbgn(spark, [(f, "human"), (f, "engine")])


def test_read_sbgn_two_files(spark, tmp_path):
    """Two SBGN files read as two whole-file splits off the range
    source: no shuffle below the decode, the second file's ids start at
    1 << 32, and the rows are each file's decode on the driver, with
    the paths as given."""
    files = []
    for i, (games, level) in enumerate(
        ((_games(), "human"), (_games()[1:], "engine"))
    ):
        path = str(tmp_path / f"g{i}.sbgn")
        bcgn.write_file(games, path)
        files.append((path, level))
    df = bcgn.read_sbgn(spark, files)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan
    expected = []
    for file_idx, (path, level) in enumerate(files):
        with open(path, "rb") as f:
            decoded = list(bcgn.decode_file(f.read()))
        for i, g in enumerate(decoded):
            expected.append(
                (
                    (file_idx << 32) | i, level, g["result"], g["event"],
                    None, None, g["year"], g["month"], g["day"], None,
                    g["white"], g["black"], g["white_elo"], g["black_elo"],
                    None, len(g["sans"]), path, g["sans"],
                )
            )
    got = sorted((tuple(r) for r in df.collect()), key=lambda t: t[0])
    assert got == expected
    assert min(r[0] for r in got if r[16] == files[1][0]) == 1 << 32
