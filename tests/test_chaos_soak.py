"""Full-NRT-stack chaos soak (SURVEY.md §7 hard-part #5).

The per-table storms prove writers on ONE table; the reference's real
workload is many entities + the config ledger + streams at once. This
soak runs 4 entities (2 CT, 2 TMSTP) through ``run_pipeline`` while an
``IncrementalJoinView`` stream tails two of the targets and the dedup
ingest gate tails a third's change feed — with a crash injected
BETWEEN the merge and ``close_watermark`` (the reference's E3 step 5→6
window, ``COPY_MSQL_TO_SILVER.py:185-218``). The invariant: replaying
the interrupted epoch is a no-op — the final state equals a serial
recompute, no row is doubled, the ledger converges to closed
watermarks and never holds an open row."""

from __future__ import annotations

import pytest

import datetime as dt
import os
import threading

from pyspark.sql import functions as F

from nrtwithdeltalake_spark.pipeline.config import ConfigStore
from nrtwithdeltalake_spark.pipeline.incremental import run_pipeline
from nrtwithdeltalake_spark.pipeline.joinview import IncrementalJoinView
from nrtwithdeltalake_spark.pipeline.tables import VersionedTable
from nrtwithdeltalake_spark.streaming import dedup_stream
from nrtwithdeltalake_spark.streaming.nrt import (
    run_joinview_stream,
    stream_change_feed,
)

_TS0 = dt.datetime(2024, 1, 1, 0, 0, 0)
_TS1 = dt.datetime(2024, 1, 2, 0, 0, 0)

_DOCS = [
    "alpha beta gamma delta epsilon zeta",
    "one two three four five six seven",
    "totally novel content words here now",
    "different fresh sentence tokens appear",
    "yet another unique document body text",
    "more clean tokens for the gate to pass",
]



# Slow tier (see pytest.ini): excluded from the default driver-budget
# run; executes via `pytest -m slow`.
pytestmark = pytest.mark.slow

def _mk_sources(spark, source_root):
    VersionedTable.create(
        spark,
        os.path.join(source_root, "fact"),
        spark.createDataFrame(
            [(i, i % 3, f"f{i}") for i in range(30)],
            "id long, fk long, v string",
        ),
    )
    VersionedTable.create(
        spark,
        os.path.join(source_root, "dim"),
        spark.createDataFrame(
            [(i, f"d{i}") for i in range(3)], "dk long, name string"
        ),
    )
    VersionedTable.create(
        spark,
        os.path.join(source_root, "docs"),
        spark.createDataFrame(
            [
                (i, _DOCS[i], "en", "s1", len(_DOCS[i]), _TS0)
                for i in range(3)
            ],
            "doc_id long, text string, lang string, source string, "
            "n_chars long, ts timestamp",
        ),
    )
    VersionedTable.create(
        spark,
        os.path.join(source_root, "events"),
        spark.createDataFrame(
            [(i, f"e{i}", _TS0) for i in range(20)],
            "id long, v string, ts timestamp",
        ),
    )


def _expected(spark, source_root, name, keys):
    """Serial recompute: latest state per key of the source table."""
    src = VersionedTable(
        spark, os.path.join(source_root, name)
    ).read()
    return {
        tuple(r[k] for k in keys): r
        for r in src.collect()
    }


def test_full_nrt_stack_chaos_soak(spark, tmp_path, monkeypatch):
    source_root = str(tmp_path / "src")
    target_root = str(tmp_path / "silver")
    _mk_sources(spark, source_root)

    store = ConfigStore(spark, str(tmp_path / "cfg"))
    store.init()
    store.register_entity("fact", "fact", "CT", ["id"])
    store.register_entity("dim", "dim", "CT", ["dk"])
    store.register_entity("docs", "docs", "TMSTP", ["doc_id"], "ts")
    store.register_entity("events", "events", "TMSTP", ["id"], "ts")

    # round 1: bootstrap all four entities
    r1 = run_pipeline(spark, store, source_root, target_root)
    assert sorted(r.action for r in r1) == ["full"] * 4

    fact_t = VersionedTable(spark, os.path.join(target_root, "fact"))
    dim_t = VersionedTable(spark, os.path.join(target_root, "dim"))
    view = IncrementalJoinView(
        spark,
        fact_t,
        dim_t,
        str(tmp_path / "view"),
        fact_pk=["id"],
        fact_fk=["fk"],
        dim_key=["dk"],
        how="left",
        # both silver tables carry the audit columns (SyncDateTime /
        # SyncOperation); project the dim side to avoid duplicate names
        dim_cols=["name"],
    )
    view.refresh()

    # new source activity for round 2
    VersionedTable(spark, os.path.join(source_root, "fact")).merge(
        spark.createDataFrame(
            [(1, 2, "f1-updated"), (100, 0, "f100")],
            "id long, fk long, v string",
        ),
        ["id"],
    )
    VersionedTable(spark, os.path.join(source_root, "dim")).append(
        spark.createDataFrame([(3, "d3")], "dk long, name string")
    )
    VersionedTable(spark, os.path.join(source_root, "docs")).append(
        spark.createDataFrame(
            [
                (10, _DOCS[3], "en", "s2", len(_DOCS[3]), _TS1),
                (11, _DOCS[0], "en", "s2", len(_DOCS[0]), _TS1),  # dup text
            ],
            "doc_id long, text string, lang string, source string, "
            "n_chars long, ts timestamp",
        )
    )
    VersionedTable(spark, os.path.join(source_root, "events")).append(
        spark.createDataFrame(
            [(100 + i, f"late{i}", _TS1) for i in range(5)],
            "id long, v string, ts timestamp",
        )
    )

    # crash injection: the FIRST close_watermark of round 2 dies between
    # merge and ledger close — the E3 step-5→6 window
    real_close = ConfigStore.close_watermark
    state = {"crashed": False}

    def crashing_close(self, wm_id):
        if not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash between merge and close")
        return real_close(self, wm_id)

    monkeypatch.setattr(ConfigStore, "close_watermark", crashing_close)

    # round 2 concurrently with the streams
    pipe_err: list = []

    def run_round2():
        try:
            run_pipeline(spark, store, source_root, target_root)
        except RuntimeError as e:
            pipe_err.append(str(e))

    def run_view_stream():
        run_joinview_stream(view, str(tmp_path / "ck_view"))

    def run_dedup():
        docs_cdf = (
            stream_change_feed(
                spark, os.path.join(target_root, "docs")
            )
            .filter(F.col("_change_type").isin("insert", "update_postimage"))
            .select("doc_id", "text", "lang", "source", "n_chars")
        )
        dedup_stream.run_dedup_ingest(
            docs_cdf,
            str(tmp_path / "corpus"),
            str(tmp_path / "dedup_index"),
            str(tmp_path / "ck_dedup"),
        )

    threads = [
        threading.Thread(target=run_round2),
        threading.Thread(target=run_view_stream),
        threading.Thread(target=run_dedup),
    ]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert state["crashed"]
    assert pipe_err and "injected crash" in pipe_err[0]

    # a load writes its one ledger row after the silver commit, so the
    # crashed entity left no ledger row at all — and no open row
    wms = store.watermarks.read().collect()
    assert [r for r in wms if r.LoadEndDatetime is None] == []

    # replay: the interrupted epoch re-runs from the last COMMITTED
    # watermark; the crashed entity's merge finds its own transaction
    # token in silver and publishes nothing, then appends its row
    r3 = run_pipeline(spark, store, source_root, target_root)
    assert all(r.action in ("incremental", "skipped") for r in r3)
    # still no open row, and every entity's newest ledger row is
    # closed with the final source watermark
    wms = store.watermarks.read().collect()
    assert [r for r in wms if r.LoadEndDatetime is None] == []
    by_entity: dict = {}
    for r in wms:
        cur = by_entity.get(r.EntityId)
        if cur is None or (r.LoadStartDatetime, r.WatermarkId) > (
            cur.LoadStartDatetime,
            cur.WatermarkId,
        ):
            by_entity[r.EntityId] = r
    assert all(
        r.LoadEndDatetime is not None for r in by_entity.values()
    ), by_entity

    # final state ≡ serial recompute for every entity
    for name, keys, cols in (
        ("fact", ["id"], ["id", "fk", "v"]),
        ("dim", ["dk"], ["dk", "name"]),
        ("docs", ["doc_id"], ["doc_id", "text"]),
        ("events", ["id"], ["id", "v"]),
    ):
        exp = _expected(spark, source_root, name, keys)
        got = VersionedTable(
            spark, os.path.join(target_root, name)
        ).read().collect()
        assert len(got) == len(exp), (name, len(got), len(exp))
        for r in got:
            e = exp[tuple(r[k] for k in keys)]
            assert tuple(r[c] for c in cols) == tuple(
                e[c] for c in cols
            ), (name, r)

    # the enriched view converges to the batch join after a refresh
    view.refresh()
    got_view = sorted(
        (r.id, r.fk, r.v, r.name) for r in view.read().collect()
    )
    exp_view = sorted(
        (r.id, r.fk, r.v, r.name)
        for r in fact_t.read()
        .select("id", "fk", "v")
        .join(
            dim_t.read().select("dk", "name"),
            F.col("fk") == F.col("dk"),
            "left",
        )
        .collect()
    )
    assert got_view == exp_view

    # the dedup gate admitted only novel texts from the docs target's
    # change feed (doc 11 is an exact dup of doc 0's text)
    dedup_stream.run_dedup_ingest(
        stream_change_feed(spark, os.path.join(target_root, "docs"))
        .filter(F.col("_change_type").isin("insert", "update_postimage"))
        .select("doc_id", "text", "lang", "source", "n_chars"),
        str(tmp_path / "corpus"),
        str(tmp_path / "dedup_index"),
        str(tmp_path / "ck_dedup"),
    )
    corpus = VersionedTable(spark, str(tmp_path / "corpus")).read().collect()
    texts = [r.text for r in corpus]
    assert len(texts) == len(set(texts))  # no duplicate text admitted
    assert {r.doc_id for r in corpus} <= {0, 1, 2, 10, 11}
    assert 10 in {r.doc_id for r in corpus}  # the novel doc landed
