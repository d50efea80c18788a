"""Seeded input generators for the benchmark workloads.

Everything here runs before the timed windows and outside the engine:
the engine only ever receives the files these functions write.

Chess corpus properties (what the import and explorer paths depend on):
- a skewed opening tree over the first ``OPENING_PLIES`` plies: every
  position ranks its legal moves by a fixed hash and picks rank k with
  probability ~ ``OPENING_SKEW ** k``, so popular lines repeat across
  games the way real databases do;
- after that, uniformly random legal moves, so most later positions are
  unique to their game;
- varied lengths (``MIN_PLIES``..``MAX_PLIES``, earlier on mate or
  stalemate), results, Elos and the three levels, written as one large
  PGN file per level so the chunk-splitting source splits each file.
"""

from __future__ import annotations

import random
import zlib
from collections import Counter
from dataclasses import dataclass, field

from chess_pos_db_spark.chess.board import START_FEN, Position

LEVELS = ("human", "engine", "server")
OPENING_PLIES = 10
OPENING_SKEW = 0.35
MIN_PLIES, MAX_PLIES = 16, 110
RESULTS = (("W", "1-0", 0.40), ("D", "1/2-1/2", 0.25), ("B", "0-1", 0.35))
# One block of an explorer session. The 2:1:1 mix is an assumption (no
# request log was available to source it from): a user mostly steps
# through a line, with side lookups. A short block gives every kind
# timed samples for its own median in a short window.
SESSION_BLOCK = ("walk", "walk", "batch", "absent")


def _opening_rank(key: int, m) -> int:
    return zlib.crc32(f"{key}:{m.uci()}".encode())


@dataclass
class Corpus:
    """Generated games plus the generator's own tallies, which the
    benchmark checks the engine's answers against."""

    games: list = field(default_factory=list)  # (level, result, sans)
    # (pos_key, level, result) -> occurrences, start position included
    tally: Counter = field(default_factory=Counter)
    plies: int = 0
    repeat_plies: int = 0  # (position, move) pairs seen earlier

    @property
    def positions(self) -> int:
        return self.plies + len(self.games)


def random_line(
    rng: random.Random, n_plies: int, opening: bool
) -> tuple[list, list, Position]:
    """One game from the start position → (sans, position keys after
    each ply with the start included, final position). ``opening``
    applies the skewed tree."""
    pos = Position.from_fen(START_FEN)
    sans, keys = [], [pos.key()]
    for ply in range(n_plies):
        legal = pos.legal_moves()
        if not legal:  # mate or stalemate
            break
        if opening and ply < OPENING_PLIES:
            legal.sort(key=lambda m: _opening_rank(keys[-1], m))
            rank = 0
            while rng.random() < OPENING_SKEW:
                rank += 1
            m = legal[min(rank, len(legal) - 1)]
        else:
            m = rng.choice(legal)
        sans.append(pos.san(m))
        pos = pos.make_move(m)
        keys.append(pos.key())
    return sans, keys, pos


def make_corpus(seed: int, plies: int) -> Corpus:
    """Games until exactly ``plies`` plies, so every seed imports the same
    number of positions apart from one start position per game."""
    rng = random.Random(seed)
    corpus = Corpus()
    seen_plies: set = set()
    while corpus.plies < plies:
        length = min(rng.randint(MIN_PLIES, MAX_PLIES), plies - corpus.plies)
        sans, keys, _ = random_line(rng, length, opening=True)
        level = rng.choice(LEVELS)
        u = rng.random()
        for result, _, p in RESULTS:
            if u < p:
                break
            u -= p
        corpus.games.append((level, result, sans))
        corpus.plies += len(sans)
        for key in keys:
            corpus.tally[(key, level, result)] += 1
        for ply_key in zip(keys, sans):
            if ply_key in seen_plies:
                corpus.repeat_plies += 1
            else:
                seen_plies.add(ply_key)
    return corpus


def _replay(sans: list, plies: int) -> Position:
    pos = Position.from_fen(START_FEN)
    for s in sans[:plies]:
        pos = pos.parse_san_child(s)[1]
    return pos


def explorer_requests(corpus: Corpus, seed: int, n: int) -> list[dict]:
    """A seeded explorer session over ``corpus``, in blocks of four
    requests (``SESSION_BLOCK``) so every block has the same mix:
    - two walk steps: single-position requests down one corpus game,
      each root a child of the previous request's root, as a user
      stepping through a line does;
    - one batch of five corpus positions at random depths;
    - one absent position, reached by random play from the start and not
      in the corpus.
    Each entry is ``{"kind", "query", "keys"}``: ``query`` is the
    explorer request and ``keys`` the key of every position it asks for,
    which the checks look up in ``corpus.tally``."""
    rng = random.Random(seed * 7919 + 1)
    present = {key for key, _, _ in corpus.tally}
    long_games = [g for g in corpus.games if len(g[2]) >= 12]
    out: list[dict] = []
    while len(out) < n:
        sans = rng.choice(long_games)[2]
        ply = rng.randint(0, len(sans) - SESSION_BLOCK.count("walk"))
        pos = _replay(sans, ply)
        for kind in SESSION_BLOCK:
            if kind == "walk":
                out.append({"kind": kind, "positions": [pos]})
                pos = pos.parse_san_child(sans[ply])[1]
                ply += 1
            elif kind == "batch":
                picks = [rng.choice(corpus.games)[2] for _ in range(5)]
                out.append(
                    {
                        "kind": kind,
                        "positions": [_replay(s, rng.randint(0, len(s))) for s in picks],
                    }
                )
            else:
                while True:
                    _, keys, absent = random_line(rng, rng.randint(20, 40), opening=False)
                    if keys[-1] not in present:
                        break
                out.append({"kind": kind, "positions": [absent]})
    for req in out:
        positions = req.pop("positions")
        req["query"] = {
            "positions": [{"fen": p.fen()} for p in positions],
            "fetchChildren": True,
        }
        req["keys"] = [p.key() for p in positions]
    return out[:n]


def write_pgn(games: list, path: str) -> int:
    """Write ``games`` as one PGN file; returns its size in bytes."""
    token = {r: t for r, t, _ in RESULTS}
    out = []
    for i, (level, result, sans) in enumerate(games):
        moves = []
        for ply, s in enumerate(sans):
            if ply % 2 == 0:
                moves.append(f"{ply // 2 + 1}.")
            moves.append(s)
        moves.append(token[result])
        out.append(
            f'[Event "bench {level} {i}"]\n[Site "perfbench"]\n'
            f'[Date "20{i % 24:02d}.{i % 12 + 1:02d}.{i % 28 + 1:02d}"]\n'
            f'[White "W{i % 997}"]\n[Black "B{i % 991}"]\n'
            f'[Result "{token[result]}"]\n'
            f'[WhiteElo "{1200 + (i * 37) % 1600}"]\n'
            f'[BlackElo "{1200 + (i * 53) % 1600}"]\n\n'
            + " ".join(moves) + "\n\n"
        )
    data = "".join(out).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def write_corpus(games: list, out_dir: str, tag: str) -> tuple[list, int]:
    """One large PGN file per level → (files arg for import_pgn, bytes)."""
    files, total = [], 0
    for level in LEVELS:
        path = f"{out_dir}/{tag}_{level}.pgn"
        total += write_pgn([g for g in games if g[0] == level], path)
        files.append((path, level))
    return files, total


# --- LLM-data tables --------------------------------------------------------
# Same schemas and shape as the engine's `documents` / `embeddings`
# fixtures: word-soup text over a 30-word vocabulary, with a share of
# near-duplicate documents (an earlier text plus " dup") and of
# near-duplicate embeddings (an earlier unit vector plus small noise),
# so the dedup and similarity operators find real candidate pairs.

VOCAB = (
    "a the data spark table row column key value hash join merge sort scan "
    "filter group agg order part line customer query stream window batch "
    "vector small big fast slow"
).split()
LANGS = (("en", 0.44), ("zh", 0.14), ("es", 0.14), ("de", 0.14), ("fr", 0.14))
EMBEDDING_DIMS = 64
DUP_SHARE = 0.05


def write_llm_tables(seed: int, n_docs: int, n_vecs: int, out_dir: str) -> dict:
    """Write documents.parquet and embeddings.parquet; returns row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts, langs = [], []
    for i in range(n_docs):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(8, 90))))
        u = rng.random()
        for lang, p in LANGS:
            if u < p:
                break
            u -= p
        langs.append(lang)
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nrng = np.random.default_rng(seed)
    vecs = nrng.standard_normal((n_vecs, EMBEDDING_DIMS))
    dups = np.flatnonzero(nrng.random(n_vecs) < DUP_SHARE)
    dups = dups[dups > 0]
    vecs[dups] = vecs[nrng.integers(0, dups)] + 0.05 * nrng.standard_normal(
        (len(dups), EMBEDDING_DIMS)
    )
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(nrng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    pq.write_table(docs, f"{out_dir}/documents.parquet")
    pq.write_table(emb, f"{out_dir}/embeddings.parquet")
    return {"documents": n_docs, "embeddings": n_vecs}
