"""The build-once contract of the registered lifecycle fixtures: one
query per family builds its state through tables.build_once, which
records the build in `{home}/_built.json` after the whole build
sequence and rebuilds only when that record (or, for a catalog-backed
index, its meta table) does not match the corpus."""

from __future__ import annotations

import importlib
import json
import os

import pytest
from pyspark.sql import functions as F

import chess_pos_db_spark as engine
from chess_pos_db_spark.tables import build_once, fixture_home, t

# (query, module holding its build step, build step, fixture kind,
#  corpus table, id column, catalog-backed)
FAMILIES = [
    ("similarity_ivf_deleted", "llm.similarity", "delete_from_ivf_layout",
     "ivf_layout_del", "embeddings", "vec_id", False),
    ("dedup_lsh_index_delete", "llm.dedup_index", "build_lsh_index",
     "lshix_del", "documents", "doc_id", True),
    ("search_bm25_maintained", "llm.search", "build_inverted_index",
     "bm25ix_mnt", "documents", "doc_id", True),
    ("store_delete_rows", "plans.layout", "delete_rows",
     "docstore_deleted", "documents", "doc_id", False),
    ("agg_view_retracted", "plans.mv", "write_view",
     "mvretr", "documents", "doc_id", False),
]


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "name,module,step,kind,table,id_col,catalog",
    FAMILIES,
    ids=[f[0] for f in FAMILIES],
)
def test_registered_fixture_builds_once(
    spark, sf_dir, monkeypatch, name, module, step, kind, table, id_col,
    catalog,
):
    mod = importlib.import_module(f"chess_pos_db_spark.{module}")
    real = getattr(mod, step)
    calls = []

    def counting(*a, **kw):
        calls.append(step)
        return real(*a, **kw)

    def dying(*a, **kw):
        raise RuntimeError(f"simulated crash in {step}")

    q = engine.get_queries()[name]
    home = fixture_home(spark, sf_dir, kind)
    marker = os.path.join(home, "_built.json")
    meta = f"{os.path.basename(home)}_meta" if catalog else None

    want = _rows(q(spark, sf_dir))
    assert want and os.path.isfile(marker)

    # a second call runs no build
    monkeypatch.setattr(mod, step, dying)
    assert _rows(q(spark, sf_dir)) == want

    # a different corpus frame on the same home rebuilds
    corpus = t(spark, sf_dir, table)
    other = corpus.filter(F.col(id_col) % 2 == 0)
    ran = []
    assert build_once(spark, home, other, id_col, lambda: ran.append(1), meta)
    assert ran == [1]
    assert not build_once(spark, home, other, id_col, dying, meta)

    # a marker written before a store-format bump rebuilds once
    with open(marker) as f:
        fp = json.load(f)["fingerprint"]
    with open(marker, "w") as f:
        json.dump({"fingerprint": fp}, f)
    assert build_once(spark, home, other, id_col, lambda: ran.append(2), meta)
    assert ran == [1, 2]

    # a build that raises leaves no marker, and the next call rebuilds
    with pytest.raises(RuntimeError, match="simulated crash"):
        q(spark, sf_dir)
    assert not os.path.exists(marker)
    monkeypatch.setattr(mod, step, counting)
    assert _rows(q(spark, sf_dir)) == want
    assert calls and os.path.isfile(marker)

    if catalog:
        # a fresh catalog forgets managed tables: a missing meta table
        # rebuilds even with the marker in place
        calls.clear()
        spark.sql(f"DROP TABLE {meta}")
        assert _rows(q(spark, sf_dir)) == want
        assert calls and spark.catalog.tableExists(meta)
