"""create, append, merge and the server's sbgn create share one write
path: one replay aggregate, one combine per stored table, pos_key
sorted runs. These pin what that path leaves on disk and what it
costs."""

from __future__ import annotations

import os
import re

import pytest

from chess_pos_db_spark.app import server
from chess_pos_db_spark.chess import bcgn, importer
from chess_pos_db_spark.plans import layout
from tests.test_bcgn import _games
from tests.test_chess import PGN_TEXT


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        sc.setJobGroup("", "")
    return len(jobs)


def _import(spark, tmp_path, name, retractions):
    p = tmp_path / f"{name}.pgn"
    p.write_text(PGN_TEXT)
    db = str(tmp_path / name)
    importer.import_pgn(spark, [(str(p), "human")], db, retractions=retractions)
    return db


def test_sbgn_create_equals_pgn_create(spark, tmp_path):
    """An Engine sbgn create runs the pgn create's write: the same
    entries rows, and with "retractions": true the same sidecar rows."""
    pgn_path = tmp_path / "g.pgn"
    pgn_path.write_text(PGN_TEXT)
    sbgn_path = str(tmp_path / "g.sbgn")
    bcgn.write_file(_games(), sbgn_path)
    eng = server.Engine(spark)
    for retractions in (False, True):
        dbs = {}
        for fmt, path in (("pgn", str(pgn_path)), ("sbgn", sbgn_path)):
            dbs[fmt] = str(tmp_path / f"{fmt}_{retractions}")
            resp = eng.handle(
                {
                    "command": "create",
                    "destination": dbs[fmt],
                    "files": {"human": [path]},
                    "format": fmt,
                    "retractions": retractions,
                }
            )
            assert resp["ok"], resp
            assert resp["import"]["positions"] == 14
        tables = ["entries"] + (["retractions"] if retractions else [])
        for t in tables:
            pgn_rows = _rows(spark, f"{dbs['pgn']}/{t}")
            assert pgn_rows and pgn_rows == _rows(spark, f"{dbs['sbgn']}/{t}")
        assert os.path.isdir(f"{dbs['sbgn']}/retractions") == retractions
        # the games rows carry the input path as given, like pgn's
        sources = spark.read.parquet(f"{dbs['sbgn']}/games").select(
            "source_file"
        )
        assert {r[0] for r in sources.collect()} == {sbgn_path}


@pytest.mark.parametrize("retractions,budget", [(False, 9), (True, 13)])
def test_sbgn_create_job_budget(spark, tmp_path, retractions, budget):
    """The sbgn read is a range source feeding the decode and replay,
    with no listing or count job of its own: an Engine sbgn create,
    counting its open, runs at most 9 jobs (13 with the sidecar)."""
    sbgn_path = str(tmp_path / "g.sbgn")
    bcgn.write_file(_games(), sbgn_path)
    eng = server.Engine(spark)
    cmd = {
        "command": "create",
        "destination": str(tmp_path / "db"),
        "files": {"human": [sbgn_path]},
        "format": "sbgn",
        "retractions": retractions,
    }
    resp: dict = {}
    n = _jobs(
        spark,
        f"sbgn-create-budget-{retractions}",
        lambda: resp.update(eng.handle(cmd)),
    )
    assert resp["ok"], resp
    assert n <= budget, n


@pytest.mark.parametrize("retractions,budget", [(False, 10), (True, 16)])
def test_append_job_budget(spark, tmp_path, retractions, budget):
    """Append compacts from memory: no staging run is written and read
    back, the split counts are a shuffle-free collect, and the replay
    aggregate is persisted only when it feeds the sidecar too."""
    db = _import(spark, tmp_path, "db", retractions)
    q = tmp_path / "more.pgn"
    q.write_text(PGN_TEXT)
    n = _jobs(
        spark,
        f"append-budget-{retractions}",
        lambda: importer.append_pgn(spark, [(str(q), "engine")], db),
    )
    assert n <= budget, n


def test_append_leaves_only_the_tables(spark, tmp_path):
    """After an append the database dir holds its tables and nothing
    else: no staging run, compaction dir or swapped-out table."""
    db = _import(spark, tmp_path, "db", True)
    q = tmp_path / "more.pgn"
    q.write_text(PGN_TEXT)
    importer.append_pgn(spark, [(str(q), "engine")], db)
    assert sorted(os.listdir(db)) == ["entries", "games", "retractions"]
    for t in os.listdir(db):
        assert os.path.exists(f"{db}/{t}/{layout.MANIFEST_NAME}"), t
    total = spark.read.parquet(f"{db}/entries").groupBy().sum("cnt").first()[0]
    assert total == 28


def test_entry_tables_are_pos_key_runs(spark, tmp_path):
    """create, append and merge all write entries (and the sidecar) as
    pos_key sorted runs."""
    a = _import(spark, tmp_path, "a", True)
    b = _import(spark, tmp_path, "b", True)
    dests = {"create": b}
    q = tmp_path / "more.pgn"
    q.write_text(PGN_TEXT)
    importer.append_pgn(spark, [(str(q), "engine")], a)
    dests["append"] = a
    dests["merge"] = str(tmp_path / "merged")
    importer.merge_databases(spark, [a, b], dests["merge"])
    for verb, db in dests.items():
        for t in ("entries", "retractions"):
            key = layout.read_manifest(f"{db}/{t}")["sort_key"]
            assert key == ["pos_key"], (verb, t, key)


def _plans(spark, fn) -> list[str]:
    """The physical plan descriptions of the SQL executions `fn` runs,
    read from the SQL status store (an adaptive plan's final one)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions() -> dict:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        lst = store.executionsList()
        return {
            lst.apply(i).executionId(): lst.apply(i) for i in range(lst.size())
        }

    before = set(executions())
    fn()
    return [
        e.physicalPlanDescription()
        for eid, e in executions().items()
        if eid not in before
    ]


def _python_ops(plans: list[str]) -> set:
    """The distinct MapInPandas operators in `plans`: each is named by
    its UDF and expression id, so a held pass that several executions
    read counts once."""
    return {
        op
        for plan in plans
        for op in re.findall(
            r"\(\d+\) MapInPandas\s*\nInput [^\n]*\n"
            r"Arguments: ([^,]+),",
            plan,
        )
    }


def test_import_runs_one_python_stage(spark, tmp_path, monkeypatch):
    """Each read task parses and replays its games: a create runs one
    MapInPandas, the entry aggregate is JVM work over the reader's
    arrays with no spread of its own, a create without the sidecar
    writes that aggregate with no second one, and a one-file append
    reads (and so replays) in one task."""
    p = tmp_path / "g.pgn"
    p.write_text(PGN_TEXT)
    files = [(str(p), "human")]
    for retractions in (False, True):
        db = str(tmp_path / f"db{retractions}")
        plans = _plans(
            spark,
            lambda: importer.import_pgn(
                spark, files, db, retractions=retractions
            ),
        )
        assert len(_python_ops(plans)) == 1, _python_ops(plans)
        if not retractions:
            (write,) = [
                plan for plan in plans
                if f"{db}/entries" in plan and "InsertIntoHadoopFs" in plan
            ]
            final = write.split("== Initial Plan ==")[0]
            aggs = re.findall(r"HashAggregate \(\d+\)", final)
            assert len(aggs) == 2, final

    games, _, _ = importer._parse_chunked(
        spark, files, 1 << 20, 0, lambda df: df.localCheckpoint(),
        replay=True, eran=True,
    )
    for eran in (False, True):
        plan = (
            importer.replay_aggregate(games, eran)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "MapInPandas" not in plan, plan
        assert "RoundRobinPartitioning" not in plan, plan
        assert "REPARTITION_BY_NUM" not in plan, plan

    one = tmp_path / "one.pgn"
    one.write_text(PGN_TEXT.split("\n\n[")[0] + "\n")
    reads = []
    real = importer.read_splits

    def spy(*args, **kwargs):
        reads.append(real(*args, **kwargs))
        return reads[-1]

    monkeypatch.setattr(importer, "read_splits", spy)
    db = str(tmp_path / "dbFalse")
    ops = _python_ops(
        _plans(
            spark,
            lambda: importer.append_pgn(spark, [(str(one), "engine")], db),
        )
    )
    assert len(ops) == 1, ops
    (read,) = reads
    assert read.rdd.getNumPartitions() == 1
