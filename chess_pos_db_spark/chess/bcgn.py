"""Compact binary game format (the role of BCGN in the reference,
`src/chess/Bcgn.h` † — format re-designed, not copied).

SBGN ("spark binary game notation") layout, little-endian:

    file   := magic "SBGN" u8 version u32 n_games game*
    game   := u32 record_len  (length of the rest of the record)
              u8  result      (0=W 1=B 2=D 3=unknown)
              u8  level       (0=human 1=engine 2=server)
              u16 year  (0 = unknown)   u8 month (0=?)   u8 day (0=?)
              i16 white_elo (-1 = none) i16 black_elo (-1 = none)
              str event  str white  str black     (str := u16 len + utf8)
              u16 n_plies
              u8[n_plies] move indexes
    move   := index of the move in the position's legal move list,
              sorted by UCI string — 1 byte/move (chess has ≤ 218 legal
              moves in any position). Decoding replays the game with
              the (deterministic) movegen, exactly like BCGN's
              movetext decoding needs its movegen.

The Spark source is the PGN source's split skeleton
(importer.plan_splits + importer.read_splits) with one whole-file
split per file, decoded into the same game schema as the PGN path, so
the rest of the import pipeline is format-agnostic.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from .board import Position, START_FEN

MAGIC = b"SBGN"
VERSION = 1

_RESULT_CODE = {"W": 0, "B": 1, "D": 2, None: 3}
_RESULT_FROM_CODE = {v: k for k, v in _RESULT_CODE.items()}
LEVELS = ("human", "engine", "server")


def _enc_str(s: str | None) -> bytes:
    b = (s or "").encode("utf-8")
    return struct.pack("<H", len(b)) + b


def _dec_str(buf: bytes, off: int) -> tuple[str, int]:
    (n,) = struct.unpack_from("<H", buf, off)
    off += 2
    if off + n > len(buf):
        raise ValueError(
            f"corrupt SBGN record: string of {n} bytes at offset "
            f"{off - 2} runs past the record end ({len(buf)} bytes)"
        )
    return buf[off : off + n].decode("utf-8"), off + n


def move_indexes(sans: list[str]) -> list[int]:
    """SAN sequence → legal-move-list indexes (raises on illegal SAN)."""
    pos = Position.from_fen(START_FEN)
    out = []
    for san in sans:
        legal = sorted(pos.legal_moves(), key=lambda m: m.uci())
        m = pos.parse_san(san)
        out.append(legal.index(m))
        pos = pos.make_move(m)
    return out


def indexes_to_sans(idxs: list[int]) -> list[str]:
    pos = Position.from_fen(START_FEN)
    out = []
    for i in idxs:
        legal = sorted(pos.legal_moves(), key=lambda m: m.uci())
        m = legal[i]
        out.append(pos.san(m))
        pos = pos.make_move(m)
    return out


def encode_game(g: dict) -> bytes:
    body = bytearray()
    body.append(_RESULT_CODE[g.get("result")])
    body.append(LEVELS.index(g.get("level", "human")))
    body += struct.pack(
        "<HBB",
        g.get("year") or 0,
        g.get("month") or 0,
        g.get("day") or 0,
    )
    body += struct.pack(
        "<hh",
        g.get("white_elo") if g.get("white_elo") is not None else -1,
        g.get("black_elo") if g.get("black_elo") is not None else -1,
    )
    body += _enc_str(g.get("event"))
    body += _enc_str(g.get("white"))
    body += _enc_str(g.get("black"))
    idxs = move_indexes(g["sans"])
    body += struct.pack("<H", len(idxs))
    body += bytes(idxs)
    return struct.pack("<I", len(body)) + bytes(body)


def write_file(games: list[dict], path: str) -> None:
    with open(path, "wb") as f:
        f.write(MAGIC + bytes([VERSION]) + struct.pack("<I", len(games)))
        for g in games:
            f.write(encode_game(g))


def decode_file(data: bytes) -> Iterator[dict]:
    if data[:4] != MAGIC:
        raise ValueError("not an SBGN file")
    if data[4] != VERSION:
        raise ValueError(f"unsupported SBGN version {data[4]}")
    (n_games,) = struct.unpack_from("<I", data, 5)
    off = 9
    for _ in range(n_games):
        (rec_len,) = struct.unpack_from("<I", data, off)
        off += 4
        rec = data[off : off + rec_len]
        if len(rec) != rec_len:
            raise ValueError(
                f"corrupt SBGN file: record of {rec_len} bytes at "
                f"offset {off - 4} runs past end of file"
            )
        off += rec_len
        p = 0
        result = _RESULT_FROM_CODE[rec[p]]
        level = LEVELS[rec[p + 1]]
        p += 2
        year, month, day = struct.unpack_from("<HBB", rec, p)
        p += 4
        we, be = struct.unpack_from("<hh", rec, p)
        p += 4
        event, p = _dec_str(rec, p)
        white, p = _dec_str(rec, p)
        black, p = _dec_str(rec, p)
        (n_plies,) = struct.unpack_from("<H", rec, p)
        p += 2
        idxs = list(rec[p : p + n_plies])
        if len(idxs) != n_plies:
            # a silent short slice would decode a TRUNCATED game with
            # no error (read_sbgn recomputes ply_count from len(sans),
            # so the corruption becomes invisible downstream) — match
            # the loud magic/version checks above
            raise ValueError(
                f"corrupt SBGN record: declared {n_plies} plies but "
                f"only {len(idxs)} move bytes remain"
            )
        yield {
            "result": result,
            "level": level,
            "year": year or None,
            "month": month or None,
            "day": day or None,
            "white_elo": we if we >= 0 else None,
            "black_elo": be if be >= 0 else None,
            "event": event or None,
            "white": white or None,
            "black": black or None,
            "sans": indexes_to_sans(idxs),
        }


def _file_games(path: str, start: int, end: int) -> Iterator[tuple[int, dict]]:
    """One SBGN file → (ordinal, game in pgn.parse_game's shape), the
    shape importer.read_splits builds rows from. The split is always
    the whole file; SBGN carries no site, date text, round or ECO."""
    with open(path, "rb") as f:
        data = f.read()
    for i, g in enumerate(decode_file(data)):
        tags = {
            "Event": g["event"],
            "White": g["white"],
            "Black": g["black"],
            "WhiteElo": g["white_elo"],
            "BlackElo": g["black_elo"],
        }
        yield i, {**g, "tags": tags}


def read_sbgn(
    spark: SparkSession,
    paths: list[tuple[str, str]],
    replay: bool = False,
    eran: bool = False,
) -> DataFrame:
    """SBGN files → game rows (importer.GAME_SCHEMA), read by workers at
    the paths as given, like the PGN source; with `replay` (and `eran`),
    each game is also replayed in its decode task and carries
    importer.REPLAY_FIELDS, as importer.read_splits documents.

    SBGN has no game-boundary sync marker to split on, so each file is
    one split (a chunk as large as any file). One split per file makes
    split i file i, so read_splits' (split << 32) | ordinal ids are
    already (file_idx << 32) | ordinal — no count pass. Small files
    share read tasks up to the import's chunk target
    (importer._chunk_target), the PGN source's packing rule; a large
    file is one task, and its replay costs a few percent of its decode,
    which already replays every move through the movegen."""
    import sys

    from .importer import _chunk_target, plan_splits, read_splits, stat_sizes

    sizes = stat_sizes(paths)
    return read_splits(
        spark,
        plan_splits(paths, sys.maxsize, sizes=sizes),
        _file_games,
        _chunk_target(spark, sizes, sys.maxsize),
        replay,
        eran,
    ).drop("split_games")
