"""ERAN invariants: describe→unmove must exactly invert make_move along
random games (including castles, en passant, promotions), and the text
form must round-trip."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from chess_pos_db_spark.chess import eran
from chess_pos_db_spark.chess.board import Position, START_FEN
from tests.test_properties import random_game


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_unmove_inverts_make_move(seed):
    import random

    rng = random.Random(seed)
    pos = Position.from_fen(START_FEN)
    for _ in range(40):
        moves = pos.legal_moves()
        if not moves:
            break
        m = rng.choice(sorted(moves, key=lambda x: x.uci()))
        desc = eran.describe(pos, m)
        nxt = pos.make_move(m)
        back = eran.unmove(nxt, desc)
        assert back.board == pos.board
        assert back.side == pos.side
        assert back.castling == pos.castling
        assert back.ep == pos.ep
        assert back.halfmove == pos.halfmove
        assert back.fullmove == pos.fullmove
        assert back.key() == pos.key()
        pos = nxt


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_eran_text_roundtrip(seed):
    import random

    rng = random.Random(seed)
    pos = Position.from_fen(START_FEN)
    for _ in range(30):
        moves = pos.legal_moves()
        if not moves:
            break
        m = rng.choice(sorted(moves, key=lambda x: x.uci()))
        desc = eran.describe(pos, m)
        assert eran.Eran.parse(desc.text()) == desc
        pos = pos.make_move(m)


# A legal line exercising double pushes, an en-passant capture, piece
# captures, and kingside castling by both sides.
_RICH_SANS = [
    "e4", "Nf6", "e5", "d5", "exd6", "Qxd6", "Nf3", "Nc6",
    "Be2", "e5", "O-O", "Be7", "d4", "exd4", "Nxd4", "O-O",
]


def _fen_chain(sans):
    pos = Position.from_fen(START_FEN)
    fens = [pos.fen()]
    for san in sans:
        pos = pos.make_move(pos.parse_san(san))
        fens.append(pos.fen())
    return fens


def test_retractions_consume_stored_eran(spark, tmp_path):
    """Round-trip (VERDICT item 8): import a game with retractions
    enabled, retract EVERY position, recover the exact predecessor FEN
    chain — castling rights, ep square, and clocks included."""
    from pyspark.sql import functions as F

    from chess_pos_db_spark.chess import importer, pgn, query

    p = tmp_path / "rich.pgn"
    p.write_text(
        pgn.format_game({"Event": "ERAN round-trip"}, _RICH_SANS, "W")
    )
    db = str(tmp_path / "db")
    importer.import_pgn(spark, [(str(p), "human")], db, retractions=True)

    retr = spark.read.parquet(f"{db}/retractions").cache()
    assert retr.filter(F.col("eran").isNull()).count() == 0

    fens = _fen_chain(_RICH_SANS)
    for ply in range(1, len(fens)):
        rows = query.retractions_exact(spark, retr, fens[ply]).collect()
        # a single linear game: exactly one way into each position
        assert len(rows) == 1, (ply, rows)
        assert rows[0]["parent_fen"] == fens[ply - 1], ply
        assert rows[0]["cnt"] == 1
    retr.unpersist()


def test_retractions_exact_merges_same_move_different_rights(spark):
    """Two games reach the SAME position via the same move but from
    parents with different castling rights → two distinct ERAN rows,
    two distinct parent FENs (what the packed reverse move alone could
    never distinguish)."""
    from chess_pos_db_spark.chess import importer, query

    # A king move clears the mover's castling rights in the child no
    # matter what the parent had — so the SAME child position arises
    # from parents that differ only in prior rights, and only the
    # stored ERAN can tell them apart.
    from chess_pos_db_spark.chess.board import Position
    from chess_pos_db_spark.chess import eran as eran_mod

    pa = Position.from_fen("4k3/8/8/8/8/8/8/R3K2R w KQ - 0 1")
    ma = pa.parse_san("Ke2")
    ea = eran_mod.describe(pa, ma)
    pb = Position.from_fen("4k3/8/8/8/8/8/8/R3K2R w K - 0 1")
    mb = pb.parse_san("Ke2")
    eb = eran_mod.describe(pb, mb)
    child = pa.make_move(ma)
    assert pb.make_move(mb).fen() == child.fen()  # identical children
    assert ea.text() != eb.text()

    retr = spark.createDataFrame(
        [
            (child.key(), 0, ea.text(), 3, 100),
            (child.key(), 0, eb.text(), 2, 200),
        ],
        "pos_key long, reverse_move int, eran string, cnt long, "
        "first_game_id long",
    )
    rows = {
        r["eran"]: r
        for r in query.retractions_exact(spark, retr, child.fen()).collect()
    }
    assert len(rows) == 2
    assert rows[ea.text()]["parent_fen"] == pa.fen()
    assert rows[eb.text()]["parent_fen"] == pb.fen()
    assert rows[ea.text()]["cnt"] == 3 and rows[eb.text()]["cnt"] == 2


def test_special_moves_explicit():
    # en passant
    p = Position.from_fen(START_FEN)
    for san in ["e4", "a6", "e5", "d5"]:
        p = p.make_move(p.parse_san(san))
    m = p.parse_san("exd6")
    desc = eran.describe(p, m)
    assert desc.captured == "p" and "$e" in desc.text()
    assert eran.unmove(p.make_move(m), desc).fen() == p.fen()
    # castling
    p2 = Position.from_fen("r3k2r/8/8/8/8/8/8/R3K2R w KQkq - 0 1")
    m2 = p2.parse_san("O-O")
    desc2 = eran.describe(p2, m2)
    assert eran.unmove(p2.make_move(m2), desc2).fen() == p2.fen()
    # promotion with capture
    p3 = Position.from_fen("rn2k3/1P6/8/8/8/8/8/4K3 w - - 0 1")
    m3 = p3.parse_san("bxa8=Q")
    desc3 = eran.describe(p3, m3)
    assert desc3.captured == "r" and desc3.promo == "q"
    assert eran.unmove(p3.make_move(m3), desc3).fen() == p3.fen()


def test_replay_game_eran_inside_skip_guard():
    """The validation-by-parsing contract says a malformed-but-parsed
    move SKIPS the game, never kills the import task.  eran describe()
    walks the same move/piece tables as pack_move and can raise on such
    a move, so its call site must sit INSIDE the (ValueError, KeyError)
    try that implements the skip — a call outside the block silently
    re-opens the kill-the-task hole the guard was added to close.
    Pinned structurally (the only way to trigger it end-to-end is a
    parser bug, which other tests pin away)."""
    import ast
    import inspect

    from chess_pos_db_spark.chess import importer

    tree = ast.parse(inspect.getsource(importer._replay_game))

    describe_calls = []
    guarded_spans = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Try):
            handles_skip = any(
                "ValueError" in ast.dump(h.type)
                for h in node.handlers
                if h.type is not None
            )
            if handles_skip:
                last = node.body[-1]
                guarded_spans.append((node.body[0].lineno, last.end_lineno))
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "describe"
        ):
            describe_calls.append(node.lineno)

    assert describe_calls, "eran describe() call not found"
    for line in describe_calls:
        assert any(a <= line <= b for a, b in guarded_spans), (
            f"eran describe() at relative line {line} is outside every "
            "(ValueError, KeyError) skip guard"
        )
