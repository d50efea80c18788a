"""Explorer query: the reference's `query` command end-to-end
(SURVEY.md §3.1; reference `src/persistence/pos_db/Query.h/.cpp` †).

Request (dict, same JSON shape as the reference's wire protocol):
    {"token": "...",
     "positions": [{"fen": ..., "move": <san, optional>}, ...],
     "levels":   ["human","engine","server"]  (optional subset),
     "results":  ["W","B","D"]                (optional subset),
     "fetchChildren": true}

The probe set (roots + all legal children, built driver-side with the
movegen) is a few dozen to a few hundred keys. It reaches the sorted
entries table as an IN-list pushed into the parquet scan — row-group
min/max stats on the pos_key-sorted layout prune the scan like the
reference's sparse-index binary search per run — and each matched row
is tagged with the probes sharing its key through a constant map, so
the probe answer is ONE scan job with no exchange: no probe-side
DataFrame, no broadcast, no shuffle. The (select × level × result) grid
is folded on the driver from the collected rows (at most probes ×
reverse_move × level × result, the same order as the grid itself);
first/last game metadata resolves through a second, key-filtered job on
the games dimension. Response is a nested dict mirroring the
reference's JSON.
"""

from __future__ import annotations

import json
import operator
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .board import (
    NO_REVERSE_MOVE,
    Position,
    captured_piece,
    pack_move,
    unpack_move,
)

_PROBES_BY_KEY = (
    "map<string,array<struct<origin:int,probe_kind:string,move_san:string,"
    "move_uci:string,expected_rm:int>>>"
)
_FOLD_OPS = (operator.add, operator.add, min, max)
_ENTRY_COLS = (
    "reverse_move", "level", "result",
    "cnt", "elo_diff_sum", "first_game_id", "last_game_id",
)


def build_probes(request: dict) -> list[tuple]:
    """Driver-side plan: root + child probes per requested position
    (reference steps 2–3: parse/validate + movegen expansion)."""
    probes = []
    fetch_children = request.get("fetchChildren", True)
    for i, spec in enumerate(request.get("positions", [])):
        base = Position.from_fen(spec["fen"])
        san: Optional[str] = spec.get("move")
        if san:
            m = base.parse_san(san)
            expected = pack_move(m, captured_piece(base, m))
            root = base.make_move(m)
        else:
            root = base
            expected = None
        probes.append((i, "root", san, None, root.key(), expected))
        if fetch_children:
            for cm in root.legal_moves():
                packed = pack_move(cm, captured_piece(root, cm))
                child = root.make_move(cm)
                probes.append(
                    (i, "child", root.san(cm), cm.uci(), child.key(), packed)
                )
    return probes


def probe_entries(
    spark: SparkSession,
    entries: DataFrame,
    request: dict,
) -> DataFrame:
    """The distributed part: the entries rows under the probe keys, one
    row per (entry, probe sharing its pos_key), tagged with the probe's
    origin / probe_kind / move_san / move_uci / expected_rm.

    The probe-key IN-list reaches the parquet reader (PushedFilters), so
    row-group min/max stats on the key-sorted layout skip everything
    outside the probed key windows — the sparse-index seek of the
    reference (`executeQuery` binary search), and the difference between
    O(probes) row-group reads and a full fact-table scan at 100 TB. The
    probes ride in the plan as ONE JSON literal parsed into a
    pos_key → probes map (constant-folded by Catalyst), looked up per
    matched row and inlined: a key probed twice (a duplicated position,
    or a root that is also another root's child) tags its rows once per
    probe. The plan is a single scan stage: no exchange of any kind."""
    by_key: dict[str, list[dict]] = {}
    for origin, kind, san, uci, key, expected in build_probes(request):
        by_key.setdefault(str(key), []).append(
            {"origin": origin, "probe_kind": kind, "move_san": san,
             "move_uci": uci, "expected_rm": expected}
        )
    keys = sorted(int(k) for k in by_key)
    rows = entries.filter(F.col("pos_key").isin(keys))
    levels = request.get("levels")
    results = request.get("results")
    if levels:
        rows = rows.filter(F.col("level").isin(*levels))
    if results:
        rows = rows.filter(F.col("result").isin(*results))
    probes = F.from_json(F.lit(json.dumps(by_key)), _PROBES_BY_KEY)
    return rows.select(
        *_ENTRY_COLS,
        F.inline(F.element_at(probes, F.col("pos_key").cast("string"))),
    )


def _fold_grid(rows: list) -> dict[tuple, tuple]:
    """Driver-side grid aggregation of probe_entries' rows:
    (origin, probe_kind, move_san, move_uci, select, level, result) →
    (cnt, elo_diff_sum, first_game_id, last_game_id) with SQL
    sum / min / max semantics (nulls ignored; null when all are null)."""
    grid: dict[tuple, tuple] = {}
    for r in rows:
        expected = r["expected_rm"]
        if expected is None:
            select = "all"
        elif r["reverse_move"] == expected:
            select = "continuation"
        else:
            select = "transposition"
        key = (
            r["origin"], r["probe_kind"], r["move_san"], r["move_uci"],
            select, r["level"], r["result"],
        )
        new = (r["cnt"], r["elo_diff_sum"], r["first_game_id"], r["last_game_id"])
        cell = grid.get(key)
        grid[key] = new if cell is None else tuple(
            b if a is None else a if b is None else op(a, b)
            for a, b, op in zip(cell, new, _FOLD_OPS)
        )
    return grid


def explorer_query(
    spark: SparkSession,
    entries: DataFrame,
    games: Optional[DataFrame],
    request: dict,
) -> dict:
    """Full query command → nested response dict (reference step 6)."""
    grid = _fold_grid(probe_entries(spark, entries, request).collect())

    game_ids = set()
    for _, _, first, last in grid.values():
        if first is not None:
            game_ids.add(first)
        if last is not None:
            game_ids.add(last)
    headers: dict[int, dict] = {}
    if games is not None and game_ids:
        hdr_rows = games.filter(F.col("game_id").isin(*game_ids)).collect()
        headers = {
            r["game_id"]: {
                "white": r["white"],
                "black": r["black"],
                "date": r["date_raw"],
                "event": r["event"],
                "result": r["result"],
            }
            for r in hdr_rows
        }

    response: dict = {"token": request.get("token"), "positions": []}
    by_origin: dict[int, dict] = {}
    for i, spec in enumerate(request.get("positions", [])):
        node = {"fen": spec["fen"], "move": spec.get("move"), "stats": {}, "children": {}}
        by_origin[i] = node
        response["positions"].append(node)

    for (origin, kind, san, uci, select, level, result), (
        cnt, elo_diff_sum, first, last
    ) in grid.items():
        node = by_origin[origin]
        if kind == "root":
            bucket = node["stats"].setdefault(select, {})
        else:
            child = node["children"].setdefault(san, {"uci": uci, "stats": {}})
            bucket = child["stats"].setdefault(select, {})
        cell = bucket.setdefault(level, {}).setdefault(result, {})
        cell["count"] = cnt
        if elo_diff_sum is not None:
            cell["eloDiffSum"] = elo_diff_sum
        if first is not None:
            cell["firstGame"] = {"id": first, **headers.get(first, {})}
        if last is not None:
            cell["lastGame"] = {"id": last, **headers.get(last, {})}
    return response


def retractions(
    spark: SparkSession,
    entries: DataFrame,
    fen: str,
) -> DataFrame:
    """J5 — which (reverse) moves lead INTO this position: group the
    position's entries by reverse_move (reference retractions support)."""
    pos = Position.from_fen(fen)
    key = pos.key()
    pos_fen = pos.fen()
    agg = (
        entries.filter(F.col("pos_key") == key)
        .filter(F.col("reverse_move") != NO_REVERSE_MOVE)
        .groupBy("reverse_move")
        .agg(F.sum("cnt").alias("cnt"), F.min("first_game_id").alias("first_game_id"))
    )

    def expand(it):
        """Reconstruct uci + parent placement by unmaking each packed
        reverse move (the captured-piece bits make the board exact;
        castling/ep rights are not recoverable from a single move — the
        reference's full ERAN records them, see eran.py). ONE Arrow
        batch per partition, matching retractions_exact's discipline —
        the earlier row-at-a-time @F.udf pair was the module's only
        BatchEvalPython path. eran.unmove copies the board, so the base
        position parses once per partition, not once per row."""
        from . import eran as eran_mod
        from .board import unpack_captured

        base = Position.from_fen(pos_fen)
        for pdf in it:
            ucis, parents = [], []
            for packed in pdf["reverse_move"].tolist():
                m = unpack_move(int(packed))
                ucis.append(m.uci())
                mover = base.board[m.to_sq] if not m.promo else (
                    "P" if base.side == "b" else "p"
                )
                desc = eran_mod.Eran(
                    piece=mover or "?",
                    from_sq=m.from_sq,
                    to_sq=m.to_sq,
                    captured=unpack_captured(int(packed)),
                    promo=m.promo,
                    flag=m.flag,
                    prior_castling=base.castling,
                    prior_ep=None,
                    prior_halfmove=0,
                )
                parent = eran_mod.unmove(base, desc)
                parents.append(parent.fen().split(" ")[0] + " " + parent.side)
            pdf = pdf.assign(move_uci=ucis, parent_placement=parents)
            yield pdf[
                [
                    "move_uci",
                    "parent_placement",
                    "reverse_move",
                    "cnt",
                    "first_game_id",
                ]
            ]

    return agg.mapInPandas(
        expand,
        schema=(
            "move_uci string, parent_placement string, reverse_move int, "
            "cnt long, first_game_id long"
        ),
    )


def retractions_exact(
    spark: SparkSession,
    retr: DataFrame,
    fen: str,
) -> DataFrame:
    """J5 exact form: which moves lead INTO this position, with the
    EXACT parent position each came from — the stored ERAN carries the
    prior castling/ep/halfmove a packed reverse move cannot recover
    (reference `Query.h` retractions + `Eran.h` †). Input is the
    `retractions/` sidecar written by import_pgn(retractions=True).

    The pos_key filter reaches the parquet scan (the sidecar is
    pos_key-sorted, so row-group stats prune like the entries probe);
    post-filter cardinality is ≤ distinct inbound (move, prior-rights)
    variants — tiny — so the python unmove step is negligible."""
    from collections.abc import Iterator

    import pandas as pd

    pos = Position.from_fen(fen)
    key = pos.key()
    pos_fen = pos.fen()

    agg = (
        retr.filter(F.col("pos_key") == key)
        .groupBy("eran")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.min("first_game_id").alias("first_game_id"),
        )
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import eran as eran_mod
        from .board import sq_name

        cols = ["move_uci", "parent_fen", "eran", "cnt", "first_game_id"]
        for pdf in it:
            out = []
            for text, cnt, fgid in zip(
                pdf["eran"], pdf["cnt"], pdf["first_game_id"]
            ):
                e = eran_mod.Eran.parse(text)
                parent = eran_mod.unmove(Position.from_fen(pos_fen), e)
                out.append(
                    {
                        "move_uci": sq_name(e.from_sq)
                        + sq_name(e.to_sq)
                        + (e.promo or ""),
                        "parent_fen": parent.fen(),
                        "eran": text,
                        "cnt": int(cnt),
                        "first_game_id": int(fgid),
                    }
                )
            yield pd.DataFrame(out, columns=cols)

    return agg.mapInPandas(
        batches,
        schema="move_uci string, parent_fen string, eran string, "
        "cnt long, first_game_id long",
    )


def epd_lines(entries_with_pos: DataFrame, min_count: int = 1) -> DataFrame:
    """EPD dump plan: one `line` per distinct position with
    cnt >= min_count. Requires entries built with
    include_positions=True (pos_cmp column).

    The decompress→EPD step is the one Python stage that touches every
    distinct surviving position, so it runs as an Arrow-batched
    mapInPandas (one Python round-trip per batch), not a row-at-a-time
    `F.udf` (one round-trip per position) — no BatchEvalPython node in
    the dump plan (pinned in test_plans)."""
    from collections.abc import Iterator

    import pandas as pd

    def to_epd_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            lines = []
            for pos_cmp, cnt in zip(pdf["pos_cmp"], pdf["cnt"]):
                p = Position.decompress(bytes(pos_cmp))
                placement, side, castling, ep, *_ = p.fen().split(" ")
                lines.append(
                    f"{placement} {side} {castling} {ep} ; c0 {cnt}"
                )
            yield pd.DataFrame({"line": lines})

    agg = (
        entries_with_pos.groupBy("pos_cmp")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    return agg.mapInPandas(to_epd_batches, schema="line string")


def dump_epd(
    entries_with_pos: DataFrame,
    out_path: str,
    min_count: int = 1,
) -> None:
    """EPD dump sink (reference `dump` command)."""
    epd_lines(entries_with_pos, min_count).write.mode("overwrite").text(out_path)


def transposition_stats(agg_entries: DataFrame, min_paths: int = 2) -> DataFrame:
    """Positions reached by MULTIPLE distinct preceding moves — the
    transposition inventory (reference semantics: an entry key is
    (pos_key, reverse_move, ...), so the number of distinct
    reverse_moves per pos_key IS the number of distinct move paths
    into the position; cf. SURVEY §2 J5/F6 on the packed reverse move).

    One partial-agg shuffle on pos_key; the per-position payload is a
    count + total, never the move list. Root entries (no reverse move)
    are excluded — the start position is trivially 'reached' once.
    """

    return (
        agg_entries.filter(F.col("reverse_move") != NO_REVERSE_MOVE)
        .groupBy("pos_key")
        .agg(
            F.countDistinct("reverse_move").alias("n_paths"),
            F.sum("cnt").alias("n_visits"),
        )
        .filter(F.col("n_paths") >= min_paths)
        .orderBy(F.desc("n_paths"), F.desc("n_visits"), F.asc("pos_key"))
    )


def explorer_tree(
    spark: SparkSession,
    entries: DataFrame,
    games: Optional[DataFrame],
    fen: str,
    depth: int = 2,
    top_n: int = 3,
    select: str = "continuation",
) -> dict:
    """Opening-tree expansion: the explorer followed `depth` plies down
    the `top_n` most-played continuations from `fen` — what the
    reference's GUI builds with one request per click, answered here in
    ONE batched explorer_query PER LEVEL (the frontier of level d probes
    as a single batch: one pruned scan job plus the header lookup), so a
    depth-4 × top-3 tree costs 4 requests, not 40. Frontier size is
    bounded by top_n^depth; the scan side stays the pruned probe scan of
    the single-position path.

    Returns {"fen", "stats", "children": {san: {uci, total, subtree}}}.
    """

    def total_count(child_stats: dict) -> int:
        tot = 0
        for lvl_bucket in child_stats.get(select, {}).values():
            for cell in lvl_bucket.values():
                tot += cell.get("count", 0)
        return tot

    root = {"fen": fen, "stats": None, "children": {}}
    frontier = [(root, fen)]
    for _ in range(depth):
        if not frontier:
            break
        request = {
            "token": "tree",
            "positions": [{"fen": f} for _, f in frontier],
        }
        resp = explorer_query(spark, entries, games, request)
        next_frontier = []
        for (node, f), pos_resp in zip(frontier, resp["positions"]):
            node["stats"] = pos_resp["stats"]
            ranked = sorted(
                pos_resp["children"].items(),
                key=lambda kv: (-total_count(kv[1]["stats"]), kv[0]),
            )[:top_n]
            pos = Position.from_fen(f)
            for san, child in ranked:
                try:
                    child_fen = pos.make_move(pos.parse_san(san)).fen()
                except Exception:
                    continue  # unparsable edge (corrupt SAN) — skip
                child_node = {
                    "fen": child_fen,
                    "uci": child["uci"],
                    "total": total_count(child["stats"]),
                    "stats": child["stats"],
                    "children": {},
                }
                node["children"][san] = child_node
                next_frontier.append((child_node, child_fen))
        frontier = next_frontier
    return root
