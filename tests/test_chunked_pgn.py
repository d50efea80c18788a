"""Chunk-splitting PGN source (S1): byte-range splits must be invisible
in output — a single large file parsed via chunks yields byte-identical
game rows (including game_ids) to the sequential reader — pgn.parse_file
over each whole file on the driver — for ANY chunk size, including
chunks smaller than one game. Reference behavior:
`src/chess/Pgn.h` LazyPgnFileReader † streams sequentially; the Spark
source parallelizes the same semantics.
"""

from __future__ import annotations

import random

import pytest

from chess_pos_db_spark.chess import importer, pgn


def _corpus(n_games: int = 40, seed: int = 7) -> str:
    """Deterministic varied PGN corpus: different tag counts, comments,
    variations, unknown results, blank-line runs, %-escape lines."""
    rng = random.Random(seed)
    openings = [
        ["e4", "e5", "Nf3", "Nc6", "Bb5", "a6"],
        ["d4", "d5", "c4", "e6", "Nc3", "Nf6"],
        ["Nf3", "Nf6", "c4", "g6", "Nc3", "Bg7"],
        ["e4", "c5", "Nf3", "d6", "d4", "cxd4"],
    ]
    results = ["1-0", "0-1", "1/2-1/2", "*"]
    chunks = []
    for i in range(n_games):
        sans = openings[i % 4][: 2 + rng.randrange(5)]
        res = results[rng.randrange(4)]
        tags = [
            f'[Event "Synthetic Open {i}"]',
            f'[Site "City {i % 5}"]',
            f'[Date "19{70 + i % 30}.{(i % 12) + 1:02d}.??"]',
            f'[White "Player{i}"]',
            f'[Black "Player{i + 1}"]',
            f'[Result "{res}"]',
        ]
        if i % 3 == 0:
            tags.append(f'[WhiteElo "{2000 + i}"]')
            tags.append(f'[BlackElo "{2100 - i}"]')
        moves = []
        for j, san in enumerate(sans):
            if j % 2 == 0:
                moves.append(f"{j // 2 + 1}.")
            moves.append(san)
            if rng.random() < 0.25:
                moves.append("{a comment with [brackets] and spaces}")
        moves.append(res)
        body = " ".join(moves)
        sep = "\n" * (1 + i % 3)  # varied blank-line runs between games
        esc = "%% escape line ignored by parsers\n" if i % 7 == 0 else ""
        chunks.append("\n".join(tags) + "\n\n" + body + "\n" + esc + sep)
    return "".join(chunks)


def _sequential(spark, files):
    """The sequential reference, independent of Spark's file sources:
    pgn.parse_file over each whole file on the driver, with ids
    (file_idx << 32) | ordinal."""
    from pathlib import Path

    rows = [
        ((file_idx << 32) | i, level, g, path)
        for file_idx, (path, level) in enumerate(files)
        for i, g in enumerate(
            pgn.parse_file(Path(path).read_bytes().decode("utf-8", "replace"))
        )
    ]
    return spark.createDataFrame(
        importer._games_pdf(rows), importer.GAME_SCHEMA
    )


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: t[0]
    )


@pytest.mark.parametrize("chunk_bytes", [97, 512, 4096, 1 << 30])
def test_chunked_equals_sequential(spark, tmp_path, chunk_bytes):
    """Any chunk size (including mid-tag-line and mid-movetext splits)
    reproduces the sequential parse exactly, game_ids included."""
    p = tmp_path / "big.pgn"
    p.write_text(_corpus())
    seq = _sequential(spark, [(str(p), "human")])
    chk = importer.parse_games_chunked(
        spark, [(str(p), "human")], chunk_bytes=chunk_bytes
    )
    assert _rows(chk) == _rows(seq)


def test_chunked_game_larger_than_chunk(spark, tmp_path):
    """A game whose text spans many chunks belongs to the chunk holding
    its first byte; interior chunks contribute nothing."""
    big_comment = "{" + "x " * 3000 + "}"  # ~6 KB comment
    text = (
        '[Event "Small"]\n[Result "1-0"]\n\n1. e4 e5 1-0\n\n'
        f'[Event "Huge"]\n[Result "0-1"]\n\n1. d4 {big_comment} d5 0-1\n\n'
        '[Event "Tail"]\n[Result "1/2-1/2"]\n\n1. c4 c5 1/2-1/2\n'
    )
    p = tmp_path / "huge.pgn"
    p.write_text(text)
    seq = _sequential(spark, [(str(p), "human")])
    chk = importer.parse_games_chunked(
        spark, [(str(p), "human")], chunk_bytes=512
    )
    assert _rows(chk) == _rows(seq)
    assert len(_rows(chk)) == 3


def test_chunked_no_blank_line_between_games(spark, tmp_path):
    """split_games starts a new game at any '['-line after movetext even
    WITHOUT a blank separator — the byte scanner must agree."""
    text = (
        '[Event "A"]\n\n1. e4 e5 1-0\n'
        '[Event "B"]\n\n1. d4 d5 0-1\n'
    )
    p = tmp_path / "tight.pgn"
    p.write_text(text)
    for cb in [8, 20, 64]:
        chk = importer.parse_games_chunked(
            spark, [(str(p), "human")], chunk_bytes=cb
        )
        seq = _sequential(spark, [(str(p), "human")])
        assert _rows(chk) == _rows(seq), cb


def test_chunked_entries_match_many_small_files(spark, tmp_path):
    """The VERDICT criterion: a one-big-file chunked import produces the
    same aggregated entries (modulo game ids, which encode file
    ordinals) as importing the same games as many small files."""
    from pyspark.sql import functions as F

    corpus = _corpus(24)
    games_text = list(pgn.split_games(corpus))
    big = tmp_path / "all.pgn"
    big.write_text(corpus)
    smalls = []
    for i, g in enumerate(games_text):
        sp = tmp_path / f"g{i:03d}.pgn"
        sp.write_text(g + "\n")
        smalls.append((str(sp), "human"))

    def agg_rows(games_df):
        agg = importer.build_agg_entries(
            importer.explode_positions(games_df)
        )
        return sorted(
            (r["pos_key"], r["reverse_move"], r["level"], r["result"],
             r["cnt"], r["elo_diff_sum"])
            for r in agg.collect()
        )

    one = agg_rows(
        importer.parse_games_chunked(spark, [(str(big), "human")], 777)
    )
    many = agg_rows(_sequential(spark, smalls))
    assert one == many


def test_import_pgn_uses_chunked_source(spark, tmp_path):
    """End-to-end create with a tiny chunk size: stats identical to the
    known fixture expectations (4 games, 1 skipped, 14 positions)."""
    from .test_chess import PGN_TEXT

    p = tmp_path / "games.pgn"
    p.write_text(PGN_TEXT)
    stats = importer.import_pgn(
        spark, [(str(p), "human")], str(tmp_path / "db"), chunk_bytes=128
    )
    assert stats["games"] == 4
    assert stats["skipped"] == 1
    assert stats["positions"] == 14


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_import_and_append_release_the_parse_cache(spark, tmp_path):
    """The one cached parse belongs to import_pgn/append_pgn: neither
    leaves a persisted RDD behind when it returns."""
    from .test_chess import PGN_TEXT

    p = tmp_path / "games.pgn"
    p.write_text(PGN_TEXT)
    db = str(tmp_path / "db")
    before = _persistent_rdd_ids(spark)
    importer.import_pgn(spark, [(str(p), "human")], db, retractions=True)
    assert _persistent_rdd_ids(spark) - before == set()
    q = tmp_path / "more.pgn"
    q.write_text(PGN_TEXT)
    importer.append_pgn(spark, [(str(q), "engine")], db)
    assert _persistent_rdd_ids(spark) - before == set()


def test_chunk_parse_has_no_exchange(spark, tmp_path):
    """Splits come straight off a range source, one per task: the parse
    plan has no shuffle below its MapInPandas."""
    p = tmp_path / "big.pgn"
    p.write_text(_corpus())
    games, parsed, n_games = importer._parse_chunked(
        spark, [(str(p), "human")], 512, 0, lambda df: df
    )
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan
    assert games.count() == n_games == 40
    skipped = games.filter(games["result"].isNull()).count()
    assert skipped == _corpus().count('Result "*"')


def test_import_pgn_job_budget(spark, tmp_path):
    """One parse pass, and a report observed on the writes rather than
    re-read: a create of the test_chess corpus runs at most 10 Spark
    jobs."""
    from .test_chess import PGN_TEXT

    p = tmp_path / "games.pgn"
    p.write_text(PGN_TEXT)
    sc = spark.sparkContext
    sc.setJobGroup("import-job-budget", "import_pgn job count")
    try:
        stats = importer.import_pgn(
            spark, [(str(p), "human")], str(tmp_path / "db")
        )
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("import-job-budget")
        sc.setJobGroup("", "")
    assert stats["positions"] == 14
    assert len(jobs) <= 10, len(jobs)


def test_scanner_positions_unit():
    """GameStartScanner records exactly the split_games boundaries, as
    absolute byte offsets, independent of feed block sizes."""
    data = (
        b'[Event "A"]\n[Site "S"]\n\n1. e4 e5 1-0\n\n'
        b'[Event "B"]\n\n1. d4 d5 0-1\n'
        b'[Event "C"]\n\n1. c4 c5 1/2-1/2\n'
    )
    expected = [data.index(b'[Event "B"]'), data.index(b'[Event "C"]')]
    for block in [1, 3, 7, len(data)]:
        sc = pgn.GameStartScanner(0, skip_first_partial=False)
        for i in range(0, len(data), block):
            sc.feed(data[i : i + block])
        sc.feed(b"", final=True)
        assert sc.starts == expected, block


def test_chunk_game_slices_mid_game_chunk(tmp_path):
    """A chunk interior to one game returns no slices."""
    big_comment = "{" + "y " * 2000 + "}"
    text = (
        f'[Event "Only"]\n[Result "1-0"]\n\n1. e4 {big_comment} e5 1-0\n'
    )
    p = tmp_path / "one.pgn"
    p.write_text(text)
    size = len(text.encode())
    # middle chunk far from the game start
    assert pgn.chunk_game_slices(str(p), 1000, 2000) == []
    # first chunk holds the whole game
    slices = pgn.chunk_game_slices(str(p), 0, 500)
    assert len(slices) == 1
    assert slices[0][0] == 0
    assert slices[0][1] == text
    assert len(slices[0][1].encode()) == size


def test_duplicate_paths_rejected(spark, tmp_path):
    p = tmp_path / "dup.pgn"
    p.write_text('[Event "A"]\n\n1. e4 e5 1-0\n')
    with pytest.raises(ValueError, match="duplicate"):
        importer.parse_games_chunked(
            spark, [(str(p), "human"), (str(p), "engine")]
        )


def test_chunked_movetext_line_longer_than_lookback(spark, tmp_path):
    """A single movetext LINE longer than the 8 KB lookback followed by
    a new game: the chunk owning the next game start must extend its
    lookback until a complete state-determining line appears — a fixed
    window silently dropped the following game."""
    long_comment = "{" + "y " * 8000 + "}"  # ~16 KB on ONE line
    text = (
        '[Event "Long"]\n[Result "1-0"]\n\n'
        f"1. e4 {long_comment} e5 1-0\n\n"
        '[Event "After"]\n[Result "0-1"]\n\n1. d4 d5 0-1\n\n'
        '[Event "Tail"]\n[Result "1/2-1/2"]\n\n1. c4 c5 1/2-1/2\n'
    )
    p = tmp_path / "longline.pgn"
    p.write_text(text)
    seq = _sequential(spark, [(str(p), "human")])
    for cb in [1024, 4096, 12000]:
        chk = importer.parse_games_chunked(
            spark, [(str(p), "human")], chunk_bytes=cb
        )
        assert _rows(chk) == _rows(seq), cb
        assert len(_rows(chk)) == 3, cb


def test_chunked_cr_only_line_terminators(spark, tmp_path):
    """Classic-Mac \\r-only terminators: str.splitlines treats them as
    newlines, so the byte scanner must too — otherwise chunked parsing
    merges every game into one."""
    text = (
        '[Event "A"]\r[Result "1-0"]\r\r1. e4 e5 1-0\r\r'
        '[Event "B"]\r[Result "0-1"]\r\r1. d4 d5 0-1\r'
    )
    p = tmp_path / "cr.pgn"
    p.write_bytes(text.encode())
    seq = _sequential(spark, [(str(p), "human")])
    assert len(_rows(seq)) == 2
    for cb in [16, 40, 1 << 20]:
        chk = importer.parse_games_chunked(
            spark, [(str(p), "human")], chunk_bytes=cb
        )
        assert _rows(chk) == _rows(seq), cb


def test_interior_chunk_reads_are_bounded(tmp_path):
    """A chunk interior to one huge game must return [] after reading
    at most one line past its end — not scan to the next game start
    (quadratic I/O when a game spans many chunks)."""
    big_comment = "{" + "z " * (1 << 20) + "}"  # ~4 MB game body
    text = (
        '[Event "Huge"]\n[Result "1-0"]\n\n'
        f"1. e4 {big_comment} e5 1-0\n\n"
        '[Event "Tail"]\n[Result "0-1"]\n\n1. d4 d5 0-1\n'
    )
    p = tmp_path / "giant.pgn"
    p.write_text(text)

    import chess_pos_db_spark.chess.pgn as pgn_mod

    reads = []
    orig_read = None

    class CountingFile:
        def __init__(self, f):
            self._f = f

        def seek(self, *a):
            return self._f.seek(*a)

        def read(self, *a):
            data = self._f.read(*a)
            reads.append(len(data))
            return data

        def __enter__(self):
            return self

        def __exit__(self, *a):
            self._f.close()

    import builtins

    real_open = builtins.open

    def counting_open(path, mode="r", *a, **kw):
        f = real_open(path, mode, *a, **kw)
        if "b" in mode and str(path).endswith("giant.pgn"):
            return CountingFile(f)
        return f

    # interior chunk: starts well inside the huge comment
    start, end = 100_000, 164_000
    builtins.open = counting_open
    try:
        out = pgn_mod.chunk_game_slices(str(p), start, end)
    finally:
        builtins.open = real_open
    assert out == []
    # reads: the lookback resolution windows + the chunk body + at most
    # ~one 64 KB line-completion block — nothing near the 4 MB game
    assert sum(reads) < (end - start) + 512 * 1024, sum(reads)


def test_bom_prefixed_file(spark, tmp_path):
    """A UTF-8 BOM must not desynchronize either state machine: without
    the guard the BOM'd first tag line classifies as movetext, so the
    sequential path splits the first game's tags into a bogus game and
    the scanner registers a false start at its second tag line."""
    text = (
        '[Event "A"]\n[Result "1-0"]\n\n1. e4 e5 1-0\n\n'
        '[Event "B"]\n[Result "0-1"]\n\n1. d4 d5 0-1\n'
    )
    p = tmp_path / "bom.pgn"
    p.write_bytes(b"\xef\xbb\xbf" + text.encode())
    seq = _sequential(spark, [(str(p), "human")])
    rows_seq = _rows(seq)
    assert len(rows_seq) == 2
    for cb in [16, 64, 1 << 20]:
        chk = importer.parse_games_chunked(
            spark, [(str(p), "human")], chunk_bytes=cb
        )
        assert _rows(chk) == rows_seq, cb


def test_pgn_datasource_reads_games(spark, tmp_path):
    """spark.read.format('pgn'): game records equal the importer's
    sequential parse, and a large file splits into multiple input
    partitions (parallel scan of one dump)."""
    from chess_pos_db_spark.chess.datasource import (
        PgnDataSource,
        PgnDataSourceReader,
    )

    many = '\n'.join(
        f'[Event "G{i}"]\n[Result "1-0"]\n\n1. e4 e5 1-0\n'
        for i in range(200)
    )
    p = tmp_path / "big.pgn"
    p.write_text(many)
    spark.dataSource.register(PgnDataSource)
    df = (
        spark.read.format("pgn")
        .option("chunk_bytes", 1024)
        .load(str(p))
    )
    rows = df.collect()
    assert len(rows) == 200
    assert sorted(r["tags"]["Event"] for r in rows) == sorted(
        f"G{i}" for i in range(200)
    )
    # order by (file_idx, game_offset) reproduces the sequential order
    ordered = [
        r["tags"]["Event"]
        for r in sorted(rows, key=lambda r: (r["file_idx"], r["game_offset"]))
    ]
    assert ordered == [f"G{i}" for i in range(200)]
    parts = PgnDataSourceReader(
        {"path": str(p), "chunk_bytes": 1024}
    ).partitions()
    assert len(parts) > 4


def test_pgn_datasource_reader_path_errors(tmp_path):
    """Batch-reader construction contract: an EXISTING directory with
    no .pgn files raises the clean 'matched no files' ValueError (not
    byte-range partitions over the directory inode that die later with
    IsADirectoryError); a plain MISSING path still errors loudly at
    construction."""
    import pytest

    from chess_pos_db_spark.chess.datasource import PgnDataSourceReader

    empty = tmp_path / "no_pgns_here"
    empty.mkdir()
    (empty / "notes.txt").write_text("not a pgn")
    with pytest.raises(ValueError, match="matched no files"):
        PgnDataSourceReader({"path": str(empty)})

    with pytest.raises((ValueError, FileNotFoundError)):
        PgnDataSourceReader({"path": str(tmp_path / "missing.pgn")})


def test_split_planning_rejects_short_sizes(tmp_path):
    """A `sizes` list shorter than the import list must fail loudly,
    not silently drop the trailing input files from the plan."""
    files = []
    for i in range(3):
        p = tmp_path / f"f{i}.pgn"
        p.write_text(f'[Event "G{i}"]\n[Result "*"]\n\n*\n')
        files.append((str(p), "human"))
    with pytest.raises(ValueError):
        importer.plan_splits(files, 1 << 20, sizes=[10, 10])


def test_split_planning_stats_each_file_once(tmp_path, monkeypatch):
    """Driver-listing discipline (guide §5): the import's split planning
    must stat each input file exactly ONCE — the round-13 shape stat'd
    every file twice (adaptive-chunk sizing and split planning each ran
    their own serial getsize loop), doubling a stall that already grows
    linearly with file count. Pinned over a many-file list; also pins
    that plan_splits accepts pre-stat'd sizes without re-statting."""
    import os

    files = []
    for i in range(300):
        p = tmp_path / f"f{i:04d}.pgn"
        p.write_text(f'[Event "G{i}"]\n[Result "*"]\n\n*\n')
        files.append((str(p), "human"))

    calls: list[str] = []
    real_getsize = os.path.getsize

    def counting_getsize(path):
        calls.append(path)
        return real_getsize(path)

    monkeypatch.setattr(os.path, "getsize", counting_getsize)

    sizes = importer.stat_sizes(files)
    assert len(calls) == len(files)  # one stat per file, concurrent pool
    assert sizes == [real_getsize(p) for p, _ in files]

    calls.clear()
    rows = importer.plan_splits(files, 1 << 20, sizes=sizes)
    assert calls == []  # pre-stat'd sizes are trusted, no second round
    assert len(rows) == len(files)  # tiny files -> one chunk each
    # metadata integrity: every chunk carries the stat'd size as `end`
    assert [r[-1] for r in rows] == sizes
