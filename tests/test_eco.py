"""ECO classification tests: position-membership classification must be
transposition-invariant and pick the deepest matching line."""

from __future__ import annotations

import pytest

from chess_pos_db_spark.chess import eco, importer
from tests.test_chess import PGN_TEXT


@pytest.fixture(scope="module")
def classified(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("eco")
    p = root / "g.pgn"
    p.write_text(PGN_TEXT)
    games = importer.parse_games_chunked(spark, [(str(p), "human")])
    entries = importer.explode_positions(games)
    table = eco.build_eco_table(spark)
    out = eco.classify_games(entries, table).collect()
    return {r["game_id"]: (r["eco"], r["opening"]) for r in out}


def test_deepest_line_wins(classified):
    # game 0: 1.e4 e5 2.Nf3 Nc6 → deepest match is C44, not C20/C40/B00
    assert classified[0][0] == "C44"


def test_transposition_invariant(classified):
    # game 1: 1.Nf3 Nc6 2.e4 e5 reaches the same position → same ECO,
    # even though its move-order prefix (Réti) looks nothing like C44
    assert classified[1][0] == "C44"


def test_other_opening(classified):
    # game 3: 1.d4 d5 2.c4 → D06 Queen's Gambit
    assert classified[3][0] == "D06"
