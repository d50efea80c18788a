"""Import pipeline: PGN files → games dimension + entries fact →
sorted/compacted agg_entries (the reference's `create`/`append`
commands, SURVEY.md §3.2).

Reference flow †: LazyPgnFileReader streams games; each game is
validated (unknown result → skipped & counted), assigned a level from
its input list, header-appended for a game_id, then replayed move by
move emitting one entry per position; entries are buffer-sorted,
pre-aggregated and spilled as sorted runs (AsyncStorePipeline +
External.h), finally merged.

Spark mapping: the per-game replay is an Arrow-batched mapInPandas
UDTF (one game row → N position rows); pre-aggregation is the
automatic map-side partial agg under groupBy; the sorted-run write and
aggregate-combining merge are plans/layout.py. Game ids are
deterministic (file_ordinal << 32 | game_ordinal-in-file), never
monotonically_increasing_id, so re-imports produce identical ids.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans import layout
from . import pgn
from .board import (
    NO_REVERSE_MOVE,
    Position,
    START_FEN,
    captured_piece,
    pack_move,
)

GAME_SCHEMA = T.StructType(
    [
        T.StructField("game_id", T.LongType(), False),
        T.StructField("level", T.StringType(), False),
        T.StructField("result", T.StringType(), True),  # W/B/D, None=skipped
        T.StructField("event", T.StringType(), True),
        T.StructField("site", T.StringType(), True),
        T.StructField("date_raw", T.StringType(), True),
        T.StructField("year", T.IntegerType(), True),
        T.StructField("month", T.IntegerType(), True),
        T.StructField("day", T.IntegerType(), True),
        T.StructField("round", T.StringType(), True),
        T.StructField("white", T.StringType(), True),
        T.StructField("black", T.StringType(), True),
        T.StructField("white_elo", T.IntegerType(), True),
        T.StructField("black_elo", T.IntegerType(), True),
        T.StructField("eco", T.StringType(), True),
        T.StructField("ply_count", T.IntegerType(), True),
        T.StructField("source_file", T.StringType(), True),
        T.StructField("sans", T.ArrayType(T.StringType()), True),
    ]
)

ENTRY_FIELDS = [
    T.StructField("pos_key", T.LongType(), False),
    T.StructField("reverse_move", T.IntegerType(), False),
    T.StructField("level", T.StringType(), False),
    T.StructField("result", T.StringType(), False),
    T.StructField("game_id", T.LongType(), False),
    T.StructField("ply", T.IntegerType(), False),
    T.StructField("elo_diff", T.IntegerType(), True),
]
ENTRY_SCHEMA = T.StructType(ENTRY_FIELDS)
ENTRY_SCHEMA_WITH_POS = T.StructType(
    ENTRY_FIELDS + [T.StructField("pos_cmp", T.BinaryType(), True)]
)

AGG_KEY = ["pos_key", "reverse_move", "level", "result"]
RETR_KEY = ["pos_key", "reverse_move", "eran"]
# Each stored table's combine (column → sum|min|max, layout.combine_runs).
# Combining runs of one table is associative, so create, append and
# merge are one step — partial aggregate, combine, pos_key sorted run —
# the reference's pre-aggregated sorted runs and k-way merge †.
ENTRY_COMBINE = {
    "cnt": "sum",
    "elo_diff_sum": "sum",
    "first_game_id": "min",
    "last_game_id": "max",
}
RETR_COMBINE = {"cnt": "sum", "first_game_id": "min"}
TABLES = {
    "entries": (AGG_KEY, ENTRY_COMBINE),
    "retractions": (RETR_KEY, RETR_COMBINE),
}


MIN_CHUNK_BYTES = 64 << 10  # below this, the 8 KB boundary lookback and
# per-task overhead dominate the parse itself


def stat_sizes(files: list[tuple[str, str]]) -> list[int]:
    """File sizes for the import list, stat'd CONCURRENTLY.

    Listing is driver-side, single-process work (guide §5): a serial
    getsize loop is one blocking round-trip per file — fine to ~10^5
    files, a multi-minute stall at 100 TB file counts. A thread pool
    overlaps the I/O waits (stat releases the GIL), bounding wall time
    at ~n_files/32 round-trips; each file is stat'd exactly ONCE per
    import (pinned in test_chunked_pgn) — callers pass the result into
    plan_splits instead of re-statting."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    paths = [os.path.abspath(p) for p, _ in files]
    if len(paths) <= 2:
        return [os.path.getsize(p) for p in paths]
    with ThreadPoolExecutor(max_workers=min(32, len(paths))) as ex:
        return list(ex.map(os.path.getsize, paths))


def plan_splits(
    files: list[tuple[str, str]],
    chunk_bytes: int,
    file_idx_base: int = 0,
    sizes: list[int] | None = None,
) -> list[tuple]:
    """Driver-side split planning for every game-file format (the Hadoop
    FileInputFormat analogue): byte-range chunks per file, metadata
    only — no file contents touch the driver. Pass `sizes` (from
    stat_sizes) to avoid a second stat round over the import list.

    Paths are read by workers at the same POSIX path (os.path.getsize
    here, open() in the task), so they must be visible to every worker
    under that path. A path listed twice would import its games twice
    under colliding ids, so the plan refuses it."""
    import os
    from collections import Counter

    abspaths = [os.path.abspath(p) for p, _ in files]
    dupes = sorted(p for p, n in Counter(abspaths).items() if n > 1)
    if dupes:
        raise ValueError(f"duplicate input paths in import list: {dupes}")
    if sizes is None:
        sizes = stat_sizes(files)
    return [
        (idx, ap, path, level, start, end)
        for (idx, (path, level)), ap, size in zip(
            enumerate(files, start=file_idx_base), abspaths, sizes, strict=True
        )
        for start, end in pgn.byte_ranges(size, chunk_bytes)
    ]


def read_splits(
    spark: SparkSession,
    splits: list[tuple],
    read: Callable[[str, int, int], Iterator[tuple[int, dict]]],
) -> DataFrame:
    """The game readers' one skeleton: planned splits → game rows
    (GAME_SCHEMA), one task per split.

    The range source puts split i in partition i, so no shuffle spreads
    them, and the split list rides in the task closure. `read(path,
    start, end)` yields the split's (key, parsed game) pairs in file
    order (the key is unused here); each game is tagged game_id =
    (split << 32) | its ordinal within the split, and rows are built
    columnar (_games_pdf)."""
    from ..tables import _ship_package

    _ship_package(spark)  # the read UDF unpickles package modules on workers

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:

            def rows():
                for split in pdf["id"].tolist():
                    _, path, source_file, level, start, end = splits[split]
                    game_id = split << 32
                    for _, g in read(path, start, end):
                        yield game_id, level, g, source_file
                        game_id += 1

            yield _games_pdf(rows())

    return spark.range(0, len(splits), 1, len(splits)).mapInPandas(
        batches, schema=GAME_SCHEMA
    )


def _parse_chunked(
    spark: SparkSession,
    files: list[tuple[str, str]],
    chunk_bytes: int,
    file_idx_base: int,
    hold: Callable[[DataFrame], DataFrame],
) -> tuple[DataFrame, DataFrame, int]:
    """The chunk-splitting source's ONE Python pass → (games, parsed,
    game count).

    Each split task slices its byte range on game boundaries and parses
    every game once (read_splits over pgn.chunk_games), tagging it with
    game_id = (split << 32) | its chunk-local ordinal. `hold` (cache or
    localCheckpoint) keeps that parse; one groupBy(split) collect over
    it gives the per-split game counts — one long per chunk, pure
    metadata. The driver prefix-sums the counts per file into each
    split's first ordinal (the zipWithIndex pattern), and `games`
    rebases every id to (file_idx << 32) | (first + local): IDENTICAL
    to the ids of a sequential pgn.parse_file over each whole file, so
    chunking is invisible in output. `games` reads `parsed`; the caller
    releases `parsed`. The third value is the parsed game count."""
    # ONE concurrent stat round over the import list, shared by the
    # adaptive-chunk sizing and the split planning (guide §5).
    sizes = stat_sizes(files)
    target_chunks = max(1, 2 * spark.sparkContext.defaultParallelism)
    eff_chunk = min(
        chunk_bytes, max(MIN_CHUNK_BYTES, -(-sum(sizes) // target_chunks))
    )
    splits = plan_splits(files, eff_chunk, file_idx_base, sizes=sizes)
    parsed = hold(read_splits(spark, splits, pgn.chunk_games))
    split_col = F.shiftright("game_id", 32)
    n_by_split = dict(
        parsed.groupBy(split_col.alias("split")).count().collect()
    )
    offsets = []  # per split: (file_idx << 32) + its first game ordinal
    prev_file, first = None, 0
    for split, (file_idx, *_) in enumerate(splits):
        if file_idx != prev_file:
            prev_file, first = file_idx, 0
        offsets.append((file_idx << 32) + first)
        first += n_by_split.get(split, 0)
    games = parsed.withColumn(
        "game_id",
        F.element_at(
            F.from_json(F.lit(json.dumps(offsets)), "array<bigint>"),
            split_col.cast("int") + 1,
        )
        + F.col("game_id").bitwiseAND(0xFFFFFFFF),
    )
    return games, parsed, sum(n_by_split.values())


def parse_games_chunked(
    spark: SparkSession,
    files: list[tuple[str, str]],
    chunk_bytes: int = pgn.DEFAULT_CHUNK_BYTES,
    file_idx_base: int = 0,
) -> DataFrame:
    """Chunk-splitting PGN source: ONE large file imports in parallel.

    The reference's LazyPgnFileReader † streams a file on one thread;
    the Spark-native source instead byte-range-splits every file on
    game boundaries (pgn.GameStartScanner — the exact split_games state
    rule, so results are byte-identical to the sequential parse) and
    reads every PGN byte in ONE distributed Python pass: each chunk is
    parsed once, and game ids are rebased from the per-chunk game
    counts that pass yields (see _parse_chunked). The parse itself is
    embarrassingly parallel; the one shuffle is that count's tiny
    groupBy(split), one row per chunk.

    `chunk_bytes` is an UPPER bound: when the corpus is smaller than
    (2 × parallelism) chunks of that size, chunks shrink (down to
    MIN_CHUNK_BYTES) so a single modest file still fans out across the
    cluster — the same adaptive split sizing Spark's own file sources
    do via maxPartitionBytes.

    The parse is local-checkpointed, so the returned frame reads it
    rather than parsing again; Spark frees it with the frame.
    import_pgn/append_pgn instead cache it and release it themselves.
    """
    return _parse_chunked(
        spark,
        files,
        chunk_bytes,
        file_idx_base,
        lambda df: df.localCheckpoint(eager=False),
    )[0]


def _object_if_empty(v: list):
    """EMPTY list → object-dtype Series: pandas defaults empty columns
    to float64, which Arrow can't cast to list/binary/nullable-int
    schema fields. Non-empty lists keep inferred dtypes (faster Arrow
    conversion)."""
    return pd.Series(v, dtype=object) if not v else v


def _int_or_none(v):
    try:
        return int(v) if v not in (None, "", "?") else None
    except ValueError:
        return None



def _games_pdf(rows) -> pd.DataFrame:
    """(game_id, level, parsed-game, source_file) tuples → one columnar
    pandas batch in GAME_SCHEMA order (the records-of-dicts shape was a
    measured per-game bottleneck at corpus scale, like the explode
    stage's)."""
    cols: dict = {f.name: [] for f in GAME_SCHEMA.fields}
    ap = {k: v.append for k, v in cols.items()}
    for game_id, level, g, source_file in rows:
        tags = g["tags"]
        ap["game_id"](game_id)
        ap["level"](level)
        ap["result"](g["result"])
        ap["event"](tags.get("Event"))
        ap["site"](tags.get("Site"))
        ap["date_raw"](tags.get("Date"))
        ap["year"](g["year"])
        ap["month"](g["month"])
        ap["day"](g["day"])
        ap["round"](tags.get("Round"))
        ap["white"](tags.get("White"))
        ap["black"](tags.get("Black"))
        ap["white_elo"](_int_or_none(tags.get("WhiteElo")))
        ap["black_elo"](_int_or_none(tags.get("BlackElo")))
        ap["eco"](tags.get("ECO"))
        ap["ply_count"](len(g["sans"]))
        ap["source_file"](source_file)
        ap["sans"](g["sans"])
    return pd.DataFrame({k: _object_if_empty(v) for k, v in cols.items()})


def explode_positions(
    games_df: DataFrame,
    include_positions: bool = False,
    include_eran: bool = False,
) -> DataFrame:
    """Game rows → entry rows: one per position reached (including the
    start position, reverse_move = NO_REVERSE_MOVE). Games with unknown
    result or an illegal move are skipped whole — the reference's
    validation-by-parsing.

    W1 note: the reverse move IS the lag of the move sequence — each
    emitted position carries the move that produced it.

    ``include_eran`` adds the full reversible descriptor (eran.Eran
    text: move + captured + PRIOR castling/ep/halfmove) of the move
    that produced each position — what exact retraction resolution
    needs, since a packed reverse move alone cannot recover the
    parent's castling/ep rights (reference `Eran.h` †).
    """
    fields = list(ENTRY_FIELDS)
    if include_positions:
        fields.append(T.StructField("pos_cmp", T.BinaryType(), True))
    if include_eran:
        fields.append(T.StructField("eran", T.StringType(), True))
    schema = T.StructType(fields)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import eran as eran_mod
        from .board import san_move_cached

        # (pos_key, san) → move memo, shared across every game this
        # worker replays: the opening tree repeats across games, so the
        # hot plies skip SAN candidate generation + the legality attack
        # scan entirely (make_move still runs — counters stay exact).
        san_cache: dict = {}

        for pdf in it:
            # Columnar accumulation: one python list per output column,
            # extended game-at-a-time. The previous dict-per-position +
            # DataFrame-from-records shape was the measured end-to-end
            # bottleneck at ~50 positions/game (13M dict builds per
            # bench run dwarfed the replay kernel itself).
            pos_keys: list = []
            rmoves: list = []
            plys: list = []
            levels: list = []
            results: list = []
            gids: list = []
            elos: list = []
            pos_cmps: list = []
            erans: list = []
            for result, we, be, level, gid, sans in zip(
                pdf["result"].tolist(),
                pdf["white_elo"].tolist(),
                pdf["black_elo"].tolist(),
                pdf["level"].tolist(),
                pdf["game_id"].tolist(),
                pdf["sans"].tolist(),
            ):
                if result is None or pd.isna(result):
                    continue  # unknown result → skip (reference behavior)
                elo_diff = (
                    int(we - be)
                    if we is not None
                    and be is not None
                    and not (pd.isna(we) or pd.isna(be))
                    else None
                )
                pos = Position.from_fen(START_FEN)
                g_keys = [pos.key()]
                g_rm = [NO_REVERSE_MOVE]
                g_cmp = [pos.compress()] if include_positions else None
                g_ern = [None] if include_eran else None
                ok = True
                for san in sans:
                    # (ValueError, KeyError): illegal/ambiguous SAN
                    # raises ValueError; a malformed-but-parsed move
                    # reaching pack_move/eran can KeyError — either way
                    # the validation-by-parsing contract is SKIP the
                    # game, never kill the whole import task

                    try:
                        m, child = san_move_cached(pos, san, san_cache)
                        packed = pack_move(m, captured_piece(pos, m))
                        # eran text must be computed INSIDE the try:
                        # describe() walks the same move/piece tables as
                        # pack_move and can raise on a malformed-but-
                        # parsed move — outside the block it would kill
                        # the whole import task instead of skipping the
                        # game
                        ern = (
                            eran_mod.describe(pos, m).text()
                            if include_eran
                            else None
                        )
                    except (ValueError, KeyError):
                        ok = False  # invalid move → skip whole game
                        break
                    g_rm.append(packed)
                    if include_eran:
                        g_ern.append(ern)
                    pos = child
                    g_keys.append(pos.key())
                    if include_positions:
                        g_cmp.append(pos.compress())
                if ok:
                    n = len(g_keys)
                    pos_keys.extend(g_keys)
                    rmoves.extend(g_rm)
                    plys.extend(range(n))
                    levels.extend([level] * n)
                    results.extend([result] * n)
                    gids.extend([int(gid)] * n)
                    elos.extend([elo_diff] * n)
                    if include_positions:
                        pos_cmps.extend(g_cmp)
                    if include_eran:
                        erans.extend(g_ern)
            data = {
                "pos_key": pos_keys,
                "reverse_move": rmoves,
                "level": levels,
                "result": results,
                "game_id": gids,
                "ply": plys,
                "elo_diff": elos,
            }
            if include_positions:
                data["pos_cmp"] = pos_cmps
            if include_eran:
                data["eran"] = erans
            # column order must match the declared schema
            yield pd.DataFrame(
                {f.name: _object_if_empty(data[f.name]) for f in schema.fields}
            )

    return games_df.mapInPandas(batches, schema=schema)


def build_agg_entries(entries_df: DataFrame) -> DataFrame:
    """Entries → pre-aggregated fact (the stored table). Map-side
    partial aggregation is the reference's in-buffer combine; the
    shuffle is its spill+merge. Entries carrying `eran` (a retractions
    replay) aggregate at that finer grain, from which both stored
    tables combine (see TABLES)."""
    key = AGG_KEY + (["eran"] if "eran" in entries_df.columns else [])
    return entries_df.groupBy(*key).agg(
        F.count("*").alias("cnt"),
        F.sum("elo_diff").alias("elo_diff_sum"),
        F.min("game_id").alias("first_game_id"),
        F.max("game_id").alias("last_game_id"),
    )


def replay_aggregate(
    games: DataFrame, eran: bool = False, n_games: int | None = None
) -> DataFrame:
    """The one entry-table derivation: games → replay → raw aggregate
    (keyed by `eran` too when the retractions sidecar is kept).

    Replay parallelism must not be bound by file or chunk count (one
    giant PGN, or a small appended file, would otherwise replay on one
    core): games spread across cores before the python-side replay, the
    import's hot path. `n_games`, a count the caller already holds,
    caps the spread at one game per task, so a small create or append
    schedules no empty Python-worker tasks. Ids are assigned before
    this, so the repartition cannot affect them."""
    parts = games.sparkSession.sparkContext.defaultParallelism
    if n_games is not None:
        parts = max(1, min(parts, n_games))
    spread = games.repartition(parts)
    return build_agg_entries(explode_positions(spread, include_eran=eran))


def _write_table(
    name: str,
    runs: list[DataFrame],
    path: str,
    partitions: int | None,
    metrics: tuple | None = None,
) -> None:
    """The one combine-and-write step: `runs` of stored table `name`
    combine through its TABLES spec into one sorted run at `path`,
    clustered on pos_key (the explorer's probe key) like every stored
    entry table."""
    key, spec = TABLES[name]
    layout.write_sorted_run(
        layout.combine_runs(runs, key, spec),
        path,
        key=["pos_key"],
        partitions=partitions,
        metrics=metrics,
    )


def _replay_and_write(
    games: DataFrame,
    db_dir: str,
    retractions: bool,
    partitions: int | None,
    append: bool,
    n_games: int,
    metrics: tuple | None = None,
) -> None:
    """Replay `games` once and write entries/ (and the retractions/
    sidecar) from that one aggregate. `n_games` caps the replay spread
    (replay_aggregate); `metrics` observes the entries write.

    With the sidecar the aggregate is keyed by eran too and persisted,
    because it feeds two writes; its eran grain rolls up inside the
    entries combine (the combine is associative). Without the sidecar
    nothing is persisted: the aggregate's shuffle is materialised once,
    before the range write samples it, so the replay still runs once.

    `append` adds the live table to each combine and writes into a tmp
    dir that then replaces the live one rename-first (`_swap_dir`):
    compaction straight from memory, with no staging run on disk."""
    spark = games.sparkSession

    def put(name: str, new: DataFrame, metrics: tuple | None = None) -> None:
        path = f"{db_dir}/{name}"
        if append:
            tmp = f"{db_dir}/_{name}_compact_tmp"
            live = spark.read.parquet(path)
            _write_table(name, [new, live], tmp, partitions)
            _swap_dir(path, tmp)
        else:
            _write_table(name, [new], path, partitions, metrics)

    pre = replay_aggregate(games, eran=retractions, n_games=n_games)
    if retractions:
        pre = pre.persist()
    put("entries", pre, metrics)
    if retractions:
        put("retractions", pre.filter(F.col("eran").isNotNull()))
        pre.unpersist()


def write_database(
    games: DataFrame,
    db_dir: str,
    retractions: bool = False,
    store_moves: bool = False,
    partitions: int | None = None,
) -> dict:
    """`create`'s write for games from either reader (read_splits under
    the chunked PGN parse or bcgn.read_sbgn): games/ + entries/ (+
    retractions/) sorted runs with manifests. Returns the import report, observed on the
    writes themselves. `games` is read twice, stored and replayed, so
    the caller holds it (cache) and releases it.

    Games dropped for invalid/illegal moves are VISIBLE in the report,
    not silently absent: every replayed game contributes exactly one
    (start-position, NO_REVERSE_MOVE) entry (a packed real move is
    never NO_REVERSE_MOVE, so a mid-game transposition back to the
    start cannot inflate this), so the imported-game count is that row
    group's cnt."""
    g_obs, e_obs = Observation(), Observation()
    stored_games = games if store_moves else games.drop("sans")
    layout.write_sorted_run(
        stored_games,
        f"{db_dir}/games",
        key=["game_id"],
        partitions=partitions,
        metrics=(
            g_obs,
            F.count(F.lit(1)).alias("games"),
            F.sum(F.col("result").isNull().cast("long")).alias("skipped"),
        ),
    )
    start = (F.col("pos_key") == Position.from_fen(START_FEN).key()) & (
        F.col("reverse_move") == NO_REVERSE_MOVE
    )
    _replay_and_write(
        games,
        db_dir,
        retractions,
        partitions,
        append=False,
        n_games=g_obs.get["games"],
        metrics=(
            e_obs,
            F.sum("cnt").alias("positions"),
            F.sum(F.when(start, F.col("cnt"))).alias("imported"),
        ),
    )
    n_games, skipped = g_obs.get["games"], g_obs.get["skipped"] or 0
    return {
        "games": n_games,
        "skipped": skipped,
        "dropped_invalid": n_games - skipped - (e_obs.get["imported"] or 0),
        "positions": e_obs.get["positions"] or 0,
        "db_dir": db_dir,
    }


def import_pgn(
    spark: SparkSession,
    files: list[tuple[str, str]],
    db_dir: str,
    partitions: int | None = None,
    chunk_bytes: int = pgn.DEFAULT_CHUNK_BYTES,
    retractions: bool = False,
    store_moves: bool = False,
) -> dict:
    """Full `create` command: parse → write_database (games/ + entries/
    sorted runs + manifests). Returns import stats (the reference's
    progress/skip report).

    Uses the chunk-splitting source, so ONE large dump parallelizes
    across byte-range tasks (game_ids identical to a sequential read).

    ``retractions=True`` additionally writes a `retractions/` sidecar —
    (pos_key, reverse_move, eran) → counts — carrying the full
    reversible descriptor so retraction queries resolve EXACT parent
    positions (castling/ep/halfmove included; reference `Query.h`
    retractions + `Eran.h` †). One replay pass feeds both tables.

    ``store_moves=True`` keeps the SAN movetext in the stored games
    dimension, enabling lossless PGN export (``export_pgn``) — full
    database migration, a capability the reference's header-only store
    never had. Default False matches the reference's posture (headers
    only; movetext exists only as exploded positions)."""
    games, parsed, _ = _parse_chunked(
        spark, files, chunk_bytes, 0, DataFrame.cache
    )
    try:
        return write_database(
            games, db_dir, retractions, store_moves, partitions
        )
    finally:
        parsed.unpersist()


def _swap_dir(live: str, tmp: str) -> None:
    """Replace directory `live` with `tmp` rename-first: the live data
    is moved aside BEFORE the new table takes its name and is deleted
    only after the swap completes. A crash mid-swap therefore never
    destroys the only remaining copy — either the old dir still exists
    (under its own name or the .old staging name) or the new one is
    already in place; a rmtree-then-rename order had a window where the
    live table was gone and the replacement not yet named. Stale .old
    staging from a prior crash is cleared first so the rename cannot
    fail on a leftover."""
    import os
    import shutil

    old = live + ".old"
    if os.path.isdir(old):
        shutil.rmtree(old)
    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old)


def _require_local(db_dir: str, op: str) -> None:
    """append/merge maintain sidecars and compaction dirs with local-FS
    calls (os.path.isdir / os.rename / shutil): on a remote URI those
    silently report "no sidecar" — which would silently undercount
    exact retraction queries. Until the maintenance path speaks the
    Hadoop FS API, reject remote URIs LOUDLY."""
    if "://" in db_dir:
        raise ValueError(
            f"{op}: db_dir {db_dir!r} is a remote URI — the append/"
            f"merge maintenance path requires a local filesystem path "
            f"(sidecar detection and compaction swaps are local-FS "
            f"operations); run maintenance against a local copy"
        )


def append_pgn(
    spark: SparkSession,
    files: list[tuple[str, str]],
    db_dir: str,
    partitions: int | None = None,
    chunk_bytes: int = pgn.DEFAULT_CHUNK_BYTES,
) -> dict:
    """`append` command: the appended games' aggregate combines with the
    live entries table straight from memory into one compacted sorted
    run, which replaces the live table rename-first — the same
    combine-and-write step as create and merge (see _replay_and_write).

    Appended files continue the database's file-ordinal sequence (next
    free file_idx from the existing games table), so game_ids never
    collide with earlier imports — the reference's continuing game-id
    allocation on append.

    A retractions sidecar, when present, is appended to the same way —
    leaving it stale would silently undercount exact retraction queries
    for positions reached by appended games.

    Crash contract (round-12 audit note): games, entries and the
    retractions sidecar commit INDEPENDENTLY, in that order — there is
    no cross-table transaction (the same posture as llm/retraction.py
    and the maintenance scheduler). A crash after the games append but
    before the entries swap leaves the new games visible in the
    dimension while the aggregate lags; unlike those orchestrators the
    REPLAY here is NOT idempotent (games use mode=append), so recovery
    is: restore/trim the games table to the pre-append state (its
    pre-append max file ordinal is recorded in the return dict as
    `file_idx_base`) and rerun, or re-derive entries from games with a
    fresh import. The versioned store (plans/layout) is the engine's
    transactional path; this directory layout mirrors the reference's
    non-transactional create/append files †."""
    import os

    _require_local(db_dir, "append_pgn")
    prev_games = spark.read.parquet(f"{db_dir}/games")
    prev_max = prev_games.agg(F.max(F.shiftright("game_id", 32))).first()[0]
    next_file_idx = int(prev_max) + 1 if prev_max is not None else 0
    # the cached parse feeds BOTH the stored-games append and the replay
    games, parsed, n_games = _parse_chunked(
        spark, files, chunk_bytes, next_file_idx, DataFrame.cache
    )
    # Match the database's fidelity mode: a store_moves database keeps
    # movetext for appended games too (otherwise export_pgn would
    # silently lose every appended game's moves); a header-only
    # database stays header-only.
    keeps_moves = "sans" in prev_games.columns
    stored_games = games if keeps_moves else games.drop("sans")
    stored_games.write.mode("append").parquet(f"{db_dir}/games")
    _replay_and_write(
        games,
        db_dir,
        os.path.isdir(f"{db_dir}/retractions"),
        partitions,
        append=True,
        n_games=n_games,
    )
    parsed.unpersist()
    return {"db_dir": db_dir, "file_idx_base": next_file_idx}


def merge_databases(
    spark: SparkSession,
    db_dirs: list[str],
    dest_dir: str,
    partitions: int | None = None,
) -> dict:
    """`merge` command (reference §3.3 maintenance path): consolidate N
    databases into one, combining equal entry keys and keeping every
    game exactly once.

    game_id is (file_idx << 32) | ordinal, so each source database's
    ids are shifted by the cumulative file-ordinal base of the
    databases before it — the same continuing-allocation rule append
    uses. Merging db(files A) with db(files B) therefore produces a
    database IDENTICAL (game_ids included) to importing A+B in one
    shot; first/last_game_id min/max-combine correctly because the
    shift preserves within-database order and earlier databases get
    smaller ids. The shifted tables go through create's and append's
    combine-and-write step.

    Retraction sidecars merge the same way when EVERY source has one
    (a partial merge would silently under-count); otherwise the
    destination has none.
    """
    import os
    from functools import reduce

    for d in [*db_dirs, dest_dir]:
        _require_local(d, "merge_databases")
    sources = [spark.read.parquet(f"{d}/games") for d in db_dirs]
    moves_flags = {d: "sans" in g.columns for d, g in zip(db_dirs, sources)}
    if len(set(moves_flags.values())) > 1:
        # Refuse loudly rather than silently null movetext for the
        # header-only sources (export would then emit moveless games).
        raise ValueError(
            "cannot merge store_moves and header-only databases: "
            f"{moves_flags}; re-import the header-only sources with "
            "store_moves=True (or export+drop the others) first"
        )
    bases: list[int] = []
    next_base = 0
    n_games = 0
    for g in sources:
        bases.append(next_base)
        # the merged game count is exactly the sum of the sources' (every
        # game kept once, per the id-shift contract), so it rides the
        # base-computation agg instead of re-reading dest_dir/games
        row = g.agg(
            F.max(F.shiftright("game_id", 32)).alias("mx"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        n_games += int(row["n"])
        next_base += int(row["mx"]) + 1 if row["mx"] is not None else 0

    def shifted(df: DataFrame, base: int, *cols: str) -> DataFrame:
        return df.withColumns(
            {c: F.col(c) + F.lit(base << 32) for c in cols}
        )

    games = reduce(
        DataFrame.unionByName,
        [shifted(g, base, "game_id") for g, base in zip(sources, bases)],
    )
    layout.write_sorted_run(
        games, f"{dest_dir}/games", key=["game_id"], partitions=partitions
    )
    tables = {"entries": ("first_game_id", "last_game_id")}
    if all(os.path.isdir(f"{d}/retractions") for d in db_dirs):
        tables["retractions"] = ("first_game_id",)
    for name, id_cols in tables.items():
        runs = [
            shifted(spark.read.parquet(f"{d}/{name}"), base, *id_cols)
            for d, base in zip(db_dirs, bases)
        ]
        _write_table(name, runs, f"{dest_dir}/{name}", partitions)
    return {"db_dir": dest_dir, "games": n_games, "sources": len(db_dirs)}


def export_pgn(
    spark: SparkSession, db_dir: str, dest_dir: str, shards: int = 8
) -> dict:
    """Lossless PGN export of a database imported with
    ``store_moves=True`` — the migration path OUT of the engine (the
    reference's header-only store cannot reproduce its inputs; here
    export → re-import round-trips to an identical entries store,
    pinned in tests/test_chess.py).

    Distributed shape: shard boundaries are game_id ranges
    (repartitionByRange + in-partition sort), formatting is an
    Arrow-batched mapInPandas of pure-python ``pgn.format_game`` — the
    text sink writes each shard independently, so export parallelism is
    the shard count regardless of corpus size.

    Output is PARTITIONED BY LEVEL (``dest_dir/level=<level>/part-*``):
    level is part of the entries key (the reference's human/engine/server
    partitioning), so a flat export of a multi-level database would
    silently merge classifications the importer can never recover.
    Re-import each subdirectory with its matching level for a lossless
    round trip. ``ply_count`` is derived from the movetext on re-import;
    ``source_file`` intentionally becomes the exported shard's own path
    (provenance of the new file, not a loss).
    """
    from ..tables import _ship_package

    _ship_package(spark)  # fmt closure unpickles pgn.format_game on workers
    games = spark.read.parquet(f"{db_dir}/games")
    if "sans" not in games.columns:
        raise ValueError(
            "database was imported without store_moves=True — the games "
            "dimension carries headers only; movetext is not recoverable"
        )

    tag_cols = [
        ("event", "Event"),
        ("site", "Site"),
        ("date_raw", "Date"),
        ("round", "Round"),
        ("white", "White"),
        ("black", "Black"),
        ("white_elo", "WhiteElo"),
        ("black_elo", "BlackElo"),
        ("eco", "ECO"),
    ]

    def fmt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = []
            for row in pdf.itertuples(index=False):
                tags = {}
                for col, tag in tag_cols:
                    v = getattr(row, col)
                    if v is not None and not (isinstance(v, float) and pd.isna(v)):
                        tags[tag] = str(int(v)) if col.endswith("_elo") else str(v)
                sans = [] if row.sans is None else list(row.sans)
                texts.append(pgn.format_game(tags, sans, row.result))
            yield pd.DataFrame(
                {
                    "game_id": pdf["game_id"],
                    "level": pdf["level"],
                    "text": texts,
                }
            )

    cols = ["game_id", "level", "result", "sans"] + [c for c, _ in tag_cols]
    shaped = (
        games.select(*cols)
        .repartitionByRange(shards, "game_id")
        .sortWithinPartitions("game_id")
        .mapInPandas(fmt, schema="game_id long, level string, text string")
    )
    # Game count observed on the export write itself (the old separate
    # games.count() was a SECOND full pass over the games dimension just
    # for the report). fmt emits one row per game, so counting the
    # mapInPandas output equals counting games — and the observe node
    # sits ABOVE the range exchange, so the boundary-sampling pass
    # (which re-runs only the exchange's child) cannot double-run it:
    # the same rule as layout.write_sorted_run's `metrics`.
    obs = Observation()
    shaped.observe(obs, F.count(F.lit(1)).alias("games")).select(
        "level", "text"
    ).write.partitionBy("level").mode("overwrite").text(dest_dir)
    n = int(obs.get["games"])
    # Stats via the Hadoop FileSystem API, not os.walk: the write above
    # goes through Spark and accepts any supported URI (file:/, s3a://,
    # hdfs://), so the stats pass must resolve the same way or a remote
    # destination would raise FileNotFoundError after a successful
    # export. repartitionByRange can produce fewer non-empty shards
    # than requested on small corpora — report the files actually
    # written so the stat is load-bearing for consumers.
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(dest_dir)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(jpath, True)
    files, level_set = 0, set()
    while it.hasNext():
        p = it.next().getPath()
        if p.getName().startswith("part-"):
            files += 1
            parent = p.getParent().getName()
            if parent.startswith("level="):
                level_set.add(parent.split("=", 1)[1])
    levels = sorted(level_set)
    return {
        "dest_dir": dest_dir,
        "games": n,
        "shards": shards,
        "files": files,
        "levels": levels,
    }
