"""`pgn` as a first-class Spark data source (Python Data Source API).

SURVEY.md §4 names a custom DataSource for PGN as the optional
follow-on to the chunk-splitting source (reference: `src/chess/Pgn.h`
LazyPgnFileReader †, which streams one file sequentially). Spark 4's
Python Data Source API makes it a public, declarative surface:

    spark.dataSource.register(PgnDataSource)
    spark.read.format("pgn").load("/dumps/*.pgn")

One InputPartition per byte-range chunk — the same byte ranges and
game-boundary reads the importer uses (`pgn.byte_ranges` +
`pgn.chunk_games`), so a single large dump fans out across the
cluster and Spark schedules/retries chunks like any file source's
splits. Rows are game records; `(file_idx, game_offset)` is a stable
total order equal to a sequential read's (offsets are game-start
bytes, unique within a file), so downstream ordinal assignment — the
importer's dense game_id — remains a pure window/join over this
source's output when dense ids are needed.

The reader is metadata-only on the driver (paths + sizes); file bytes
are touched exclusively inside partitions, executor-side — the
FileInputFormat discipline.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from . import pgn

_SCHEMA_DDL = (
    "path string, file_idx int, game_offset long, "
    "tags map<string,string>, sans array<string>, result string, "
    "year int, month int, day int"
)


def _chunk_partitions(
    path: str, file_idx: int, size: int, chunk_bytes: int
) -> list["PgnInputPartition"]:
    """Byte-range partitions for one file, for the batch and stream
    readers."""
    return [
        PgnInputPartition(path, file_idx, start, end)
        for start, end in pgn.byte_ranges(size, chunk_bytes)
    ]


@dataclass
class PgnInputPartition(InputPartition):
    path: str
    file_idx: int
    start: int
    end: int


def _expand_pgn_paths(raw: str) -> list[str]:
    """path | glob | directory → sorted absolute .pgn file list. ONE
    expansion used by the batch AND stream readers — they had diverged:
    the stream's glob branch did not expand matched DIRECTORIES, so a
    glob hitting a subdirectory planned byte-range partitions over the
    directory inode and permanently wedged the stream (IsADirectoryError
    on a poison batch already in the checkpoint)."""
    import glob
    import os

    paths = sorted(glob.glob(raw)) if any(c in raw for c in "*?[") else (
        [raw] if os.path.exists(raw) else []
    )
    expanded: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            expanded.extend(
                sorted(
                    os.path.join(p, f)
                    for f in os.listdir(p)
                    if f.endswith(".pgn")
                )
            )
        else:
            expanded.append(p)
    return [os.path.abspath(p) for p in expanded]


def _chunk_rows(partition: "PgnInputPartition"):
    """Per-chunk row generator shared by the batch and stream readers
    (module-level on purpose: the stream reader used to call the batch
    reader's method UNBOUND with itself as self, which only worked
    while the body never touched instance state)."""
    for offset, g in pgn.chunk_games(
        partition.path, partition.start, partition.end
    ):
        yield (
            partition.path,
            partition.file_idx,
            offset,
            g["tags"],
            g["sans"],
            g["result"],
            g["year"],
            g["month"],
            g["day"],
        )


class PgnDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        import os

        raw = options.get("path")
        if not raw:
            raise ValueError("pgn source requires a path")
        expanded = _expand_pgn_paths(raw)
        if (
            not expanded
            and not any(c in raw for c in "*?[")
            and not os.path.exists(raw)
        ):
            # keep the batch contract: a plain MISSING path is an error
            # here (getsize below raises FileNotFoundError), not a
            # silent empty frame.  An EXISTING directory with no .pgn
            # files must NOT take this fallback — planning byte-range
            # partitions over a directory inode dies later with
            # IsADirectoryError instead of the clean ValueError.
            expanded = [os.path.abspath(raw)]
        if not expanded:
            raise ValueError(f"pgn source matched no files: {raw}")
        self._files = expanded
        self._chunk_bytes = int(
            options.get("chunk_bytes", pgn.DEFAULT_CHUNK_BYTES)
        )
        self._sizes = {p: os.path.getsize(p) for p in self._files}

    def partitions(self) -> Sequence[InputPartition]:
        out: list[InputPartition] = []
        for idx, path in enumerate(self._files):
            out.extend(
                _chunk_partitions(path, idx, self._sizes[path], self._chunk_bytes)
            )
        return out

    def read(self, partition: PgnInputPartition) -> Iterator[tuple]:
        return _chunk_rows(partition)


class PgnDataSource(DataSource):
    """Register with ``spark.dataSource.register(PgnDataSource)``; read
    with ``spark.read.format("pgn").load(path_or_glob)``. Options:
    ``chunk_bytes`` (split size upper bound, default 16 MiB)."""

    @classmethod
    def name(cls) -> str:
        return "pgn"

    def schema(self) -> str:
        return _SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return PgnDataSourceReader(self.options)

    def streamReader(self, schema: StructType) -> "PgnStreamReader":
        return PgnStreamReader(self.options)


# ---------------------------------------------------------------------------
# Streaming form: the reference's `append` loop (watch a directory, new
# game files become new database runs) as a NATIVE streaming source —
# micro-batches are planned from the set of not-yet-seen files, each
# file still fans out into byte-range chunk partitions, and the
# checkpoint holds the offset (the seen-file list), so restarts resume
# exactly-once without rescanning imported dumps.
#
#     spark.dataSource.register(PgnDataSource)
#     spark.readStream.format("pgn").load(dir)  ->  foreachBatch(import)
#
# Offsets are JSON dicts per the Python Data Source streaming API; the
# seen list records (path, size) pairs. Files must be IMMUTABLE once
# visible (the standard file-source contract): a seen file observed to
# have GROWN fails the stream loudly — silently ignoring the appended
# bytes (or re-reading the whole file, duplicating game_ids) are both
# wrong, and a half-written game at the old EOF may already have been
# imported truncated. A seen file observed to have DISAPPEARED also
# fails loudly: file_idx is allocated from the cumulative count of
# previously-seen files, and a deletion would shrink that count so a
# later new file silently reuses an already-assigned file_idx —
# colliding game_ids ((file_idx << 32) | ordinal). The API gives
# ``latestOffset()`` no view of the checkpointed start offset, so a
# restart-safe per-file idx map cannot live in the offset; enforcing
# no-deletion keeps the cumulative count a correct monotonic allocator
# (archive imported dumps by MOVING the whole watched dir between
# runs, not by deleting files mid-stream).
# ---------------------------------------------------------------------------


class PgnStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self._options = dict(options)
        self._chunk_bytes = int(
            options.get("chunk_bytes", pgn.DEFAULT_CHUNK_BYTES)
        )

    def _current_files(self) -> list[str]:
        raw = self._options.get("path")
        if not raw:
            raise ValueError("pgn source requires a path")
        return _expand_pgn_paths(raw)

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        import os

        seen = []
        for p in self._current_files():
            try:
                seen.append([p, os.path.getsize(p)])
            except FileNotFoundError:
                # listdir/getsize race: a transient file vanished before
                # ever being recorded in a committed offset — skipping
                # it loses nothing (it will be picked up if it returns);
                # crashing the stream on it would be pure fragility
                continue
        return {"seen": seen}

    @staticmethod
    def _seen_map(offset: dict) -> dict:
        # tolerate the legacy plain-path offset format (size unknown)
        out = {}
        for entry in offset.get("seen", []):
            if isinstance(entry, str):
                out[entry] = None
            else:
                out[entry[0]] = entry[1]
        return out

    def partitions(self, start: dict, end: dict):
        start_seen = self._seen_map(start)
        end_seen = self._seen_map(end)
        for path, old_size in start_seen.items():
            if path not in end_seen:
                raise ValueError(
                    f"pgn stream source: {path!r} was imported but has "
                    f"disappeared from the watched location — deleting a "
                    f"seen file would shrink the cumulative file count "
                    f"that allocates file_idx, so a later new file would "
                    f"silently reuse an already-assigned idx and collide "
                    f"game_ids; files are immutable once visible"
                )
            new_size = end_seen.get(path)
            if old_size is not None and new_size is not None and new_size != old_size:
                # != not >: a SHRUNK/rewritten file is just as much an
                # immutability violation — a crash-replay would re-read
                # different content than the committed plan imported,
                # silently corrupting (file_idx, game_offset) ids
                raise ValueError(
                    f"pgn stream source: {path!r} changed size from "
                    f"{old_size} to {new_size} bytes after being imported "
                    f"— files must be immutable once visible (write to a "
                    f"temp name, then rename into the watched directory)"
                )
        new = [p for p in end_seen if p not in start_seen]
        out = []
        base = len(start_seen)  # cumulative file count → unique file_idx
        import os

        for i, path in enumerate(new):
            size = end_seen[path]
            if size is None:
                # legacy plain-path offset entry (pre-size format): the
                # recorded offset has no size, so fall back to the live
                # file — with a clear error if it is gone, instead of a
                # TypeError from integer arithmetic on None
                try:
                    size = os.path.getsize(path)
                except FileNotFoundError:
                    raise ValueError(
                        f"pgn stream source: legacy offset entry "
                        f"{path!r} has no recorded size and the file no "
                        f"longer exists — cannot replay this batch"
                    ) from None
            out.extend(
                _chunk_partitions(path, base + i, size, self._chunk_bytes)
            )
        # the API requires >= 1 partition per plan; an empty batch reads
        # an empty byte range
        if not out and end_seen:
            out.append(PgnInputPartition(next(iter(end_seen)), 0, 0, 0))
        return out or [PgnInputPartition("", 0, 0, 0)]

    def read(self, partition: PgnInputPartition):
        if partition.end <= partition.start:
            return iter(())
        return _chunk_rows(partition)

    def commit(self, end: dict) -> None:
        pass  # the checkpoint already persisted `end`
