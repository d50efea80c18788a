"""PGN parsing (reference: `src/chess/Pgn.h` LazyPgnFileReader /
UnparsedGame †).

Produces plain dict game records: tag pairs + SAN token list + result.
Mirrors the reference's tolerances: games with unknown result (`*`) are
surfaced with result=None so the importer can skip (and count) them;
comments `{...}`, line comments `;`/`%`, NAGs `$n`, and recursive
variations `(...)` are stripped; partial dates (`1992.??.??`) parse to
nullable (year, month, day).

Pure Python: runs inside mapInPandas batches in the import pipeline
(S1's `spark.read.text` + parser-UDF shape), or driver-side for small
probe inputs.
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator, Optional

_TAG_RE = re.compile(r'\[\s*(\w+)\s+"((?:[^"\\]|\\.)*)"\s*\]')
_RESULT_TOKENS = {"1-0": "W", "0-1": "B", "1/2-1/2": "D", "*": None}
_MOVE_NUM_RE = re.compile(r"^\d+\.*$")
_CASTLE_FIX = str.maketrans({"0": "O"})


def split_games(text: str) -> Iterator[str]:
    """Split a PGN file into per-game chunks (tag section + movetext).

    KNOWN LIMITATION (shared with GameStartScanner by design): the
    game-start rule is purely line-local — a '['-line after movetext
    starts a new game — so a MULTI-LINE brace comment containing a
    tag-shaped line splits one game in two. Making the rule
    brace-aware would require unbounded lookback and break the
    chunk-splitting reader's mid-file synchronization (comment state is
    not locally recoverable after a byte-range seek), so both paths
    keep the same local rule and stay byte-identical to each other —
    the chunked ≡ sequential equivalence is the invariant the import
    pipeline depends on. Real exporters do not emit tag-shaped lines
    inside comments."""
    # A UTF-8 BOM would otherwise classify the first tag line as
    # movetext (it no longer starts with '['), splitting the first
    # game's tags into a bogus extra game.
    text = text.lstrip("﻿")
    chunk: list[str] = []
    seen_movetext = False
    for line in text.splitlines():
        stripped = line.strip()
        # BOM can also appear at interior lines (concatenated PGN
        # files): strip it per line, exactly like GameStartScanner,
        # or chunked and sequential parses diverge on `cat a.pgn b.pgn`
        if stripped[:1] == "\ufeff":
            stripped = stripped[1:].strip()
        if stripped.startswith("[") and seen_movetext:
            yield "\n".join(chunk)
            chunk = []
            seen_movetext = False
        if stripped and not stripped.startswith("[") and not stripped.startswith("%"):
            seen_movetext = True
        chunk.append(line)
    if any(ln.strip() for ln in chunk):
        yield "\n".join(chunk)


def _strip_movetext(movetext: str) -> str:
    if "{" not in movetext and "(" not in movetext and ";" not in movetext:
        return movetext  # fast path: nothing to strip (the common case)
    out = []
    depth = 0
    in_comment = False
    i = 0
    while i < len(movetext):
        ch = movetext[i]
        if in_comment:
            if ch == "}":
                in_comment = False
        elif ch == "{":
            in_comment = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        elif ch == ";":
            while i < len(movetext) and movetext[i] != "\n":
                i += 1
        elif depth == 0:
            out.append(ch)
        i += 1
    return "".join(out)


def parse_date(raw: str) -> tuple[Optional[int], Optional[int], Optional[int]]:
    """PGN partial date: '1992.??.??' → (1992, None, None)."""
    parts = (raw or "").split(".")

    def num(i: int) -> Optional[int]:
        if i < len(parts) and parts[i].isdigit():
            return int(parts[i])
        return None

    return num(0), num(1), num(2)


def _unescape_tag(v: str) -> str:
    # PGN escapes '\"' and '\\' inside tag values; _TAG_RE matches
    # them but keeps the backslashes
    return re.sub(r"\\(.)", r"\1", v) if "\\" in v else v


def parse_game(chunk: str) -> dict:
    """One PGN game chunk → {'tags', 'sans', 'result'} (result None for
    unknown/'*')."""
    # Tags come ONLY from tag-section lines ('['-prefixed): running the
    # regex over the whole chunk let a bracketed pair inside a movetext
    # {comment} inject or override real tags (later match wins in the
    # dict comprehension).
    tags = {}
    movetext_lines = []
    for line in chunk.splitlines():
        s = line.strip()
        if s[:1] == "\ufeff":
            s = s[1:].strip()
        if not s or s.startswith("%"):
            continue
        if s.startswith("["):
            m = _TAG_RE.search(s)
            if m:
                tags[m.group(1)] = _unescape_tag(m.group(2))
            continue
        movetext_lines.append(s)
    # join with NEWLINES, not spaces: ';' comments run to end-of-LINE,
    # and a space-join erased the line boundaries so one semicolon
    # silently swallowed every later move in the game
    movetext = _strip_movetext("\n".join(movetext_lines))

    sans: list[str] = []
    result: Optional[str] = None
    result_seen = False
    for tok in movetext.split():
        if tok in _RESULT_TOKENS:
            result = _RESULT_TOKENS[tok]
            result_seen = True
            break
        if _MOVE_NUM_RE.match(tok) or tok.startswith("$"):
            continue
        # '12.Nf3' style without space after the dot
        m = re.match(r"^\d+\.+(.+)$", tok)
        if m:
            tok = m.group(1)
        if tok:
            sans.append(tok.translate(_CASTLE_FIX) if tok.startswith("0") else tok)
    if not result_seen:
        result = _RESULT_TOKENS.get(tags.get("Result", "*"))
    year, month, day = parse_date(tags.get("Date", ""))
    return {
        "tags": tags,
        "sans": sans,
        "result": result,
        "year": year,
        "month": month,
        "day": day,
    }


def _kept(slices: Iterable[tuple[int, str]]) -> Iterator[tuple[int, dict]]:
    """(key, game text) → (key, parsed game), minus empty games (no tags
    and no moves: stray text between games) — every PGN reader's one
    keep rule."""
    for key, text in slices:
        g = parse_game(text)
        if g["sans"] or g["tags"]:
            yield key, g


def parse_file(text: str) -> Iterator[dict]:
    """A whole PGN text → its games in file order: the sequential read
    every split-parallel read must reproduce."""
    for _, g in _kept(enumerate(split_games(text))):
        yield g


# ---------------------------------------------------------------------------
# Byte-range game-boundary scanning (the chunk-splitting PGN source,
# reference `src/chess/Pgn.h` LazyPgnFileReader † — which streams one
# file sequentially; the Spark source instead splits ONE file into
# byte-range tasks, Hadoop-input-split style: a game belongs to the
# chunk containing its first byte, and the chunk reads forward past its
# end to finish its last game).
#
# The scanner replicates split_games' state rule EXACTLY — a new game
# starts at any '['-line once movetext has been seen — so a chunked
# import yields byte-identical game records (and therefore identical
# game_ids) to the sequential parse. Scans started mid-file synchronize
# by dropping the first partial line and running the state machine from
# a lookback window that GROWS (doubling) until it contains a complete
# state-determining line — so arbitrarily long single-line movetext
# (one-line exporters, huge {comments}) cannot desynchronize a
# boundary; see _resolve_read_from.
# ---------------------------------------------------------------------------

DEFAULT_CHUNK_BYTES = 16 << 20


def byte_ranges(size: int, chunk_bytes: int) -> list[tuple[int, int]]:
    """[start, end) ranges of at most `chunk_bytes` covering a file of
    `size` bytes; an empty file still gets one (empty) range."""
    return [
        (s, min(s + chunk_bytes, size))
        for s in range(0, max(size, 1), chunk_bytes)
    ]


class GameStartScanner:
    """Incremental scanner for absolute game-start byte offsets.

    Feed byte blocks in file order; ``starts`` accumulates absolute
    offsets of lines that open a new game per the split_games rule.
    Lines are delimited by b"\\n" (CR kept and stripped later, same as
    the text path).
    """

    def __init__(self, abs_base: int, skip_first_partial: bool):
        self.buf = bytearray()
        self.abs_base = abs_base  # absolute file offset of buf[0]
        self.scanned = 0  # buf offset of first unscanned byte
        self.seen_movetext = False
        self._skipped = not skip_first_partial
        self.starts: list[int] = []

    def feed(self, block: bytes, final: bool = False) -> None:
        # \r → \n (1:1, offsets preserved): classic-Mac \r-only line
        # terminators must split here exactly as str.splitlines does in
        # the text path; \r\n becomes \n\n, and the extra blank line is
        # state-neutral. A pair split across feeds still works — each
        # half independently maps to \n.
        self.buf += block.replace(b"\r", b"\n")
        buf = self.buf
        n = len(buf)
        i = self.scanned
        while True:
            nl = buf.find(b"\n", i)
            if nl == -1:
                if final and i < n:
                    self._line(i, n)
                    i = n
                break
            self._line(i, nl)
            i = nl + 1
        self.scanned = i

    def _line(self, a: int, b: int) -> None:
        if not self._skipped:  # discard the partial line a mid-file seek
            self._skipped = True  # landed in — its start is unknowable
            return
        stripped = bytes(self.buf[a:b]).strip()
        if stripped[:3] == b"\xef\xbb\xbf":  # UTF-8 BOM, see split_games
            stripped = stripped[3:].strip()
        if stripped[:1] == b"[" and self.seen_movetext:
            self.starts.append(self.abs_base + a)
            self.seen_movetext = False
        if stripped and stripped[:1] not in (b"[", b"%"):
            self.seen_movetext = True


def _resolve_read_from(path: str, start: int, lookback: int) -> int:
    """Smallest window start ≤ `start` whose complete lines pin the
    scanner's movetext state at `start`.

    The scanner must discard the partial line a mid-file seek lands in,
    so the window needs at least one COMPLETE line that determines
    state: non-blank and not a '%'-escape (a movetext line sets the
    flag, a '['-tag line resolves it false). A fixed window fails
    silently when a single movetext line exceeds it — the game start
    after it would never register and the game would be dropped — so
    the window doubles until it qualifies or reaches the file start.
    """
    lb = lookback
    while True:
        read_from = max(0, start - lb)
        if read_from == 0:
            return 0
        with open(path, "rb") as f:
            f.seek(read_from)
            window = f.read(start - read_from).replace(b"\r", b"\n")
        # Complete lines live strictly between the window's first and
        # last newline: before the first the line started pre-window,
        # after the last it continues past `start`.
        first_nl = window.find(b"\n")
        if first_nl != -1:
            last_nl = window.rfind(b"\n")
            for line in window[first_nl + 1 : last_nl].split(b"\n"):
                s = line.strip()
                if s and s[:1] != b"%":
                    return read_from
        lb *= 2


def chunk_game_slices(
    path: str, start: int, end: int, lookback: int = 8192
) -> list[tuple[int, str]]:
    """All games STARTING in byte range [start, end) of a PGN file, as
    (absolute_start_offset, game_text), reading forward past `end` to
    complete the last game (and nothing further than its first byte
    beyond the next game start).

    A chunk interior to one huge game returns [] — that game belongs to
    the chunk containing its first byte, and detecting that costs at
    most one extra line past `end`, never a scan to the next game. Uses
    plain ranged reads (seek + read); an object-store deployment swaps
    these for ranged GETs.
    """
    read_from = _resolve_read_from(path, start, lookback)
    sc = GameStartScanner(read_from, skip_first_partial=read_from > 0)
    with open(path, "rb") as f:
        f.seek(read_from)
        sc.feed(f.read(end - read_from))
        # A game-start line beginning just before `end` only registers
        # once its newline arrives. Classify the straddling line with
        # BOUNDED reads: its first non-blank byte decides — only a
        # '['-prefixed line can be a start, so a megabyte movetext line
        # stops the read at its first visible byte instead of being
        # scanned to its end.
        def _tail_maybe_start() -> bool:
            tail = bytes(sc.buf[sc.scanned :]).lstrip()
            return not tail or tail[:1] == b"["

        while (
            sc.buf.find(b"\n", max(0, end - read_from - 1)) == -1
            and _tail_maybe_start()
        ):
            block = f.read(4 << 10)
            if not block:
                sc.feed(b"", final=True)
                break
            sc.feed(block)
        # Only a chunk that OWNS a game start must read on to complete
        # its last game; a chunk interior to one huge game stops here
        # (otherwise every such chunk would scan to the next start —
        # quadratic I/O when a game spans many chunks).
        if start == 0 or any(start <= p < end for p in sc.starts):
            while not (sc.starts and sc.starts[-1] >= end):
                block = f.read(4 << 20)
                if not block:
                    sc.feed(b"", final=True)
                    break
                sc.feed(block)
    end_abs = read_from + len(sc.buf)

    starts = [p for p in sc.starts if start <= p < end]
    if start == 0:
        # The file's first game opens at offset 0 without a preceding
        # movetext line; split_games starts collecting at line 0.
        starts.insert(0, 0)
    if not starts:
        return []
    # First game start at/after `end` bounds this chunk's last game;
    # at EOF the file end does. (The loop guarantees one of the two.)
    bound = next((p for p in sc.starts if p >= end), end_abs)
    out = []
    edges = starts + [bound]
    for a, b in zip(edges, edges[1:]):
        text = bytes(sc.buf[a - read_from : b - read_from]).decode(
            "utf-8", "replace"
        )
        if a == 0:
            text = text.lstrip("﻿")
        out.append((a, text))
    return out


def chunk_games(path: str, start: int, end: int) -> Iterator[tuple[int, dict]]:
    """The kept games STARTING in byte range [start, end) of a PGN
    file, as (absolute_start_offset, parsed game) in file order: one
    split of the split-parallel read."""
    return _kept(chunk_game_slices(path, start, end))


_RESULT_TO_TOKEN = {"W": "1-0", "B": "0-1", "D": "1/2-1/2", None: "*"}


def format_game(
    tags: dict[str, str], sans: list[str], result: Optional[str]
) -> str:
    """Game → PGN text (the export/dump sink; inverse of parse_game for
    the fields the engine stores)."""
    ordered = ["Event", "Site", "Date", "Round", "White", "Black", "Result"]
    token = _RESULT_TO_TOKEN.get(result, "*")
    tag_out = dict(tags)
    tag_out.setdefault("Result", token)
    def esc(v: str) -> str:
        # PGN tag values escape backslash and quote; without this an
        # exported name like OKelly "Bobby" produces a malformed tag
        # that re-import silently drops — breaking the lossless
        # round-trip contract
        return v.replace("\\", "\\\\").replace('"', '\\"')

    lines = []
    for k in ordered:
        if k in tag_out:
            lines.append(f'[{k} "{esc(tag_out[k])}"]')
    for k, v in tag_out.items():
        if k not in ordered:
            lines.append(f'[{k} "{esc(v)}"]')
    moves = []
    for i, san in enumerate(sans):
        if i % 2 == 0:
            moves.append(f"{i // 2 + 1}.")
        moves.append(san)
    moves.append(token)
    return "\n".join(lines) + "\n\n" + " ".join(moves) + "\n"
