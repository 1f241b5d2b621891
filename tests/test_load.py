"""The paper's load loop, end to end: ``run_pipeline`` resolves each
entity's watermark, extracts the batch from one pinned source snapshot,
merges it into silver under the load's transaction token, and appends
the ledger row. Golden scenario (FIXTURES.md §B): batch1 full load →
batch2 insert+update+delete → rerun is a no-op, for both watermark
strategies (CT ≡ change feed versions, TMSTP ≡ timestamp filter). Then
the failure cases: a crash at each kill point converges on the next run
without re-merging, a source commit racing a load lands on the next
load, and two config stores racing one batch apply it once. Then the
extraction on the driver: a steady-state cycle and an onboarding start
no Spark job, a steady cycle makes at most 13 py4j calls, resolves the
table metadata twice per load and decodes no commit record, the driver and
Spark extractions give the same loads and bootstrap commits, and a CT
load after a source overwrite keeps every row. Last, the control plane
on the driver: it starts no Spark job, resolves as the entitiesSQL query
does, reads only the ledger files committed since its previous call,
keeps the ledger compacted on the driver, and writes rows that read
back the same through every reader. Last, the Spark write path: an
Arrow table keeps the rows after an empty record batch, and ``create``
and ``append`` evaluate their DataFrame once. Tier-1: these run in the
default (fast) tier."""

from __future__ import annotations

import datetime
import os
import threading
import time
from collections import Counter

import pyarrow as pa
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from nrtwithdeltalake_spark.pipeline import incremental, log, predicate
from nrtwithdeltalake_spark.pipeline.config import (
    DEFAULT_CT_WM,
    DEFAULT_DATE_WM,
    WATERMARKS_SCHEMA,
    ConfigStore,
)
from nrtwithdeltalake_spark.pipeline.incremental import load_entity, run_pipeline
from nrtwithdeltalake_spark.pipeline.tables import (
    MERGE_COUNTS,
    ConstraintViolationError,
    VersionedTable,
)
from nrtwithdeltalake_spark.sources import datasource

TXN_SCHEMA = T.StructType(
    [
        T.StructField("TransactionId", T.LongType()),
        T.StructField("TransactionName", T.StringType()),
        T.StructField("TransactionAmount", T.DoubleType()),
        T.StructField("TransactionDatetime", T.TimestampType()),
    ]
)


def _txn_df(spark, rows, ts):
    import datetime

    t = datetime.datetime.fromisoformat(ts)
    return spark.createDataFrame(
        [(i, n, a, t) for i, n, a in rows], TXN_SCHEMA
    )


THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _with_threshold(spark, threshold, fn):
    """``fn()`` with ``THRESHOLD`` set to ``threshold`` (None: as it is;
    ``"-1"`` forces every extraction and merge onto Spark)."""
    saved = spark.conf.get(THRESHOLD)
    if threshold is not None:
        spark.conf.set(THRESHOLD, threshold)
    try:
        return fn()
    finally:
        spark.conf.set(THRESHOLD, saved)


@pytest.fixture()
def roots(tmp_path):
    return (
        str(tmp_path / "source"),
        str(tmp_path / "silver"),
        str(tmp_path / "config"),
    )


def _setup_scenario(spark, roots):
    source_root, target_root, config_root = roots
    store = ConfigStore(spark, config_root)
    store.init()
    batch1 = [(1, "Test Tran 1", 420.69), (2, "Test Tran 2", 694.20)]
    for name in ("transactions_ct", "transactions_ts"):
        VersionedTable.create(
            spark,
            os.path.join(source_root, name),
            _txn_df(spark, batch1, "2024-01-01 10:00:00"),
        )
    store.register_entity(
        "transactions_ct", "silver_ct", "CT", ["TransactionId"]
    )
    store.register_entity(
        "transactions_ts",
        "silver_ts",
        "TMSTP",
        ["TransactionId"],
        timestamp_column="TransactionDatetime",
    )
    return store


def _apply_batch2(spark, source_root):
    """Insert 3,4; update amount of id 1; delete id 2."""
    import datetime

    t2 = datetime.datetime.fromisoformat("2024-01-02 10:00:00")
    ops = spark.createDataFrame(
        [
            (3, "Test Tran 3", 123.45, t2, "U"),
            (4, "Test Tran 4", 456.78, t2, "U"),
            (1, "Test Tran 1", 999.99, t2, "U"),
            (2, "Test Tran 2", 694.20, t2, "D"),
        ],
        # StructType.add mutates in place — build a fresh struct
        T.StructType(TXN_SCHEMA.fields + [T.StructField("op", T.StringType())]),
    )
    for name in ("transactions_ct", "transactions_ts"):
        VersionedTable(spark, os.path.join(source_root, name)).merge(
            ops,
            ["TransactionId"],
            delete_condition="op = 'D'",
            exclude_cols=["op"],
        )


def test_golden_two_batch_scenario(spark, roots):
    source_root, target_root, config_root = roots
    store = _setup_scenario(spark, roots)

    # ---- run 1: bootstrap full loads -------------------------------------
    res1 = {r.entity_id: r for r in run_pipeline(spark, store, source_root, target_root)}
    assert all(r.action == "full" and r.rows == 2 for r in res1.values())

    ct = VersionedTable(spark, os.path.join(target_root, "silver_ct"))
    rows = {r.TransactionId: r for r in ct.read().collect()}
    assert set(rows) == {1, 2}
    assert all(r.SyncOperation == "I" for r in rows.values())

    # ---- run with no changes: short-circuit (reference :157) -------------
    res_noop = {r.entity_id: r for r in run_pipeline(spark, store, source_root, target_root)}
    assert all(r.action == "skipped" for r in res_noop.values())

    # ---- batch 2: insert + update + delete -------------------------------
    _apply_batch2(spark, source_root)
    res2 = {r.entity_id: r for r in run_pipeline(spark, store, source_root, target_root)}
    assert all(r.action == "incremental" for r in res2.values())

    # CT silver: deletes applied, ops faithful to the change feed
    rows = {r.TransactionId: r for r in ct.read().collect()}
    assert set(rows) == {1, 3, 4}
    assert rows[1].TransactionAmount == 999.99
    assert rows[1].SyncOperation == "U"
    assert rows[3].SyncOperation == "I" and rows[4].SyncOperation == "I"

    # TMSTP silver: deletes invisible (timestamp watermarks can't see them —
    # reference semantics), updates re-loaded as 'I' (reference :176)
    ts = VersionedTable(spark, os.path.join(target_root, "silver_ts"))
    trows = {r.TransactionId: r for r in ts.read().collect()}
    assert set(trows) == {1, 2, 3, 4}
    assert trows[1].TransactionAmount == 999.99
    assert trows[1].SyncOperation == "I"

    # ---- ledger: two committed loads per entity, watermarks advanced -----
    wm = store.watermarks.read().filter(F.col("LoadEndDatetime").isNotNull())
    per_entity = {
        r.EntityId: r.n for r in wm.groupBy("EntityId").agg(F.count("*").alias("n")).collect()
    }
    assert per_entity == {1: 2, 2: 2}

    # ---- idempotent rerun ------------------------------------------------
    res3 = {r.entity_id: r for r in run_pipeline(spark, store, source_root, target_root)}
    assert all(r.action == "skipped" for r in res3.values())
    assert {r.TransactionId for r in ct.read().collect()} == {1, 3, 4}


def test_crash_replay_is_idempotent(spark, roots):
    """Crash between data merge and ledger close (SURVEY.md §7 hard-part 5):
    replaying the batch must converge to the same state."""
    source_root, target_root, config_root = roots
    store = _setup_scenario(spark, roots)
    entities = {e.EntityId: e for e in store.entities_with_watermarks()}
    ct_entity = next(e for e in entities.values() if e.WatermarkType == "CT")

    load_entity(spark, store, ct_entity, source_root, target_root)
    _apply_batch2(spark, source_root)

    # simulated crash: run the load but drop the ledger close by monkeypatch
    real_close = store.close_watermark
    store.close_watermark = lambda wm_id: None  # crash before close
    e2 = next(
        e
        for e in store.entities_with_watermarks()
        if e.EntityId == ct_entity.EntityId
    )
    load_entity(spark, store, e2, source_root, target_root)
    store.close_watermark = real_close

    # watermark still old → the batch replays; result must be identical
    e3 = next(
        e
        for e in store.entities_with_watermarks()
        if e.EntityId == ct_entity.EntityId
    )
    res = load_entity(spark, store, e3, source_root, target_root)
    assert res.action == "incremental"
    ct = VersionedTable(spark, os.path.join(target_root, "silver_ct"))
    rows = {r.TransactionId: r for r in ct.read().collect()}
    assert set(rows) == {1, 3, 4}
    assert rows[1].TransactionAmount == 999.99


def test_pipeline_bootstrap_registers_when_asked(spark, roots):
    """run_pipeline(register_db=...) makes every bootstrapped silver
    table name-addressable — the reference's CREATE DATABASE/CREATE
    TABLE step (COPY_MSQL_TO_SILVER.py:187-196)."""
    source_root, target_root, _ = roots
    store = _setup_scenario(spark, roots)
    try:
        run_pipeline(
            spark, store, source_root, target_root, register_db="reg_silver"
        )
        fresh = spark.newSession()
        for name in ("silver_ct", "silver_ts"):
            assert fresh.table(f"reg_silver.{name}").count() == 2
        # incremental pass keeps the registered names current
        _apply_batch2(spark, source_root)
        run_pipeline(
            spark, store, source_root, target_root, register_db="reg_silver"
        )
        fresh.sql("REFRESH TABLE reg_silver.silver_ct")
        got = {
            r.TransactionId: r.TransactionAmount
            for r in fresh.table("reg_silver.silver_ct").collect()
        }
        assert got == {1: 999.99, 3: 123.45, 4: 456.78}
    finally:
        spark.sql("DROP DATABASE IF EXISTS reg_silver CASCADE")


# -- failure cases ------------------------------------------------------------

SOURCE = {"CT": "transactions_ct", "TMSTP": "transactions_ts"}
SILVER = {"CT": "silver_ct", "TMSTP": "silver_ts"}
# silver after batch 2, {TransactionId: TransactionAmount}: TMSTP cannot
# see the delete of id 2 (reference semantics)
ORACLE_B2 = {
    "CT": {1: 999.99, 3: 123.45, 4: 456.78},
    "TMSTP": {1: 999.99, 2: 694.20, 3: 123.45, 4: 456.78},
}
TMSTP_WM_B2 = "2024-01-02 10:00:00"


def _entity(store, wm_type):
    return next(
        e
        for e in store.entities_with_watermarks()
        if e.WatermarkType == wm_type
    )


def _silver(spark, roots, wm_type):
    return VersionedTable(spark, os.path.join(roots[1], SILVER[wm_type]))


def _amounts(df):
    return {r.TransactionId: r.TransactionAmount for r in df.collect()}


def _bootstrapped_batch2(spark, roots):
    """The golden scenario after its bootstrap run, with batch 2 in the
    sources and not yet loaded."""
    store = _setup_scenario(spark, roots)
    run_pipeline(spark, store, roots[0], roots[1])
    _apply_batch2(spark, roots[0])
    return store


def _assert_converged_b2(spark, store, roots):
    """Both entities hold batch 2: silver equals the oracle, batch 2 was
    published by one merge, that merge alone carries the final
    watermark as the entity's transaction token, and the ledger has no
    open row and its newest row per entity records that watermark."""
    histories = {t: _silver(spark, roots, t).history() for t in SILVER}
    assert {t: [c.op for c in h] for t, h in histories.items()} == {
        t: ["create", "merge"] for t in SILVER
    }
    wms = store.watermarks.read().collect()
    for wm_type, history in histories.items():
        silver = _silver(spark, roots, wm_type)
        assert _amounts(silver.read()) == ORACLE_B2[wm_type], wm_type
        eid = _entity(store, wm_type).EntityId
        if wm_type == "CT":
            final = VersionedTable(
                spark, os.path.join(roots[0], SOURCE["CT"])
            ).latest_version()
        else:
            final = 20240102100000  # TMSTP_WM_B2 as yyyyMMddHHmmss
        carriers = [
            c.version
            for c in history
            if c.stats.get("txn", {}).get(f"entity:{eid}") == final
        ]
        assert carriers == [1], (wm_type, carriers)
        newest = max(
            (r for r in wms if r.EntityId == eid),
            key=lambda r: (r.LoadStartDatetime, r.WatermarkId),
        )
        assert newest.LoadEndDatetime is not None
        if wm_type == "CT":
            assert newest.CTWatermark == final
        else:
            assert newest.DateWatermark == TMSTP_WM_B2
    assert all(r.LoadEndDatetime is not None for r in wms), wms


@pytest.mark.parametrize(
    "kill_point", ["silver_publish", "before_ledger", "ledger_publish"]
)
@pytest.mark.parametrize("wm_type", ["CT", "TMSTP"])
def test_kill_point_matrix_converges_without_remerge(
    spark, roots, monkeypatch, wm_type, kill_point
):
    """A crash at each step of a load converges on the next run: (a)
    inside silver's commit publish, after the data files exist; (b)
    after the silver commit, before the ledger row; (c) inside the
    ledger append's publish. After (b) and (c) silver is ahead of the
    ledger, and the replay must find its token and publish nothing."""
    store = _bootstrapped_batch2(spark, roots)
    silver_path = _silver(spark, roots, wm_type).path
    real_write = VersionedTable._write_commit

    def crash(*a, **k):
        raise RuntimeError("injected crash")

    def write_commit(self, commit):
        if kill_point == "silver_publish" and self.path == silver_path:
            crash()
        # the ledger write that follows the silver commit
        if (
            kill_point == "ledger_publish"
            and self.path == os.path.abspath(store.watermarks_path)
            and VersionedTable(spark, silver_path).latest_version() > 0
        ):
            crash()
        return real_write(self, commit)

    monkeypatch.setattr(VersionedTable, "_write_commit", write_commit)
    if kill_point == "before_ledger":
        monkeypatch.setattr(ConfigStore, "close_watermark", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        load_entity(spark, store, _entity(store, wm_type), roots[0], roots[1])
    monkeypatch.undo()

    res = run_pipeline(spark, store, roots[0], roots[1])
    assert all(r.action == "incremental" for r in res)
    _assert_converged_b2(spark, store, roots)


@pytest.mark.parametrize(
    "wm_type, extract",
    [("CT", "driver"), ("TMSTP", "driver"), ("CT", "spark"), ("TMSTP", "spark")],
    ids=["CT", "TMSTP", "CT-spark", "TMSTP-spark"],
)
def test_load_pins_one_source_snapshot(spark, roots, monkeypatch, wm_type, extract):
    """A source commit that lands between watermark acquisition and
    extraction is not in the batch: silver equals the source snapshot
    at the watermark the ledger records, and the change lands on the
    next load. The commit lands as the extraction starts, after the
    load pinned its source version; TMSTP takes its new watermark from
    that extraction's own read. Both extractions: on the driver, and in
    Spark (forced with a threshold of -1)."""
    store = _bootstrapped_batch2(spark, roots)
    src = VersionedTable(spark, os.path.join(roots[0], SOURCE[wm_type]))
    real = incremental._extract
    calls = []

    def hooked(src_table, *a, **k):
        calls.append(src_table.path)
        src.append(
            _txn_df(spark, [(5, "Test Tran 5", 5.55)], "2024-01-03 10:00:00")
        )
        return real(src_table, *a, **k)

    monkeypatch.setattr(incremental, "_extract", hooked)
    res = _with_threshold(
        spark,
        None if extract == "driver" else "-1",
        lambda: load_entity(spark, store, _entity(store, wm_type), roots[0], roots[1]),
    )
    monkeypatch.undo()
    assert calls == [src.path] and src.latest_version() == 2
    assert res.merge["extract"] == extract

    silver = _silver(spark, roots, wm_type)
    assert _amounts(silver.read()) == ORACLE_B2[wm_type]
    ledger = store.watermarks.read().filter(F.col("EntityId") == res.entity_id)
    newest = ledger.orderBy(F.desc("WatermarkId")).first()
    if wm_type == "CT":
        assert newest.CTWatermark == 1
        assert _amounts(src.read(version=1)) == ORACLE_B2["CT"]
    else:
        assert newest.DateWatermark == TMSTP_WM_B2

    load_entity(spark, store, _entity(store, wm_type), roots[0], roots[1])
    assert _amounts(silver.read()) == {**ORACLE_B2[wm_type], 5: 5.55}


def _on_thread(fn):
    """Start ``fn`` on a daemon thread; the caller joins with a timeout,
    so a load that blocks forever fails the test instead of hanging
    it."""
    out: dict = {}

    def run():
        try:
            out["result"] = fn()
        except BaseException as e:  # reported by the caller
            out["error"] = e

    th = threading.Thread(target=run, daemon=True)
    th.start()
    return th, out


def test_stale_entity_row_returns_without_committing(spark, roots):
    """Another store already loaded this batch, so silver holds the
    load's token: the merge is skipped before its batch runs. The load
    must not wait on the batch's row count; it publishes no silver
    commit and appends one closed ledger row."""
    store = _bootstrapped_batch2(spark, roots)
    stale = _entity(store, "CT")
    load_entity(spark, ConfigStore(spark, roots[2]), stale, roots[0], roots[1])
    silver = _silver(spark, roots, "CT")
    v = silver.latest_version()
    n_ledger = store.watermarks.read().count()

    th, out = _on_thread(
        lambda: load_entity(spark, store, stale, roots[0], roots[1])
    )
    th.join(timeout=300)
    assert not th.is_alive(), "load blocked on a skipped merge's batch"
    assert "error" not in out, out.get("error")
    res = out["result"]
    assert res.merge["txn_skipped"] and res.rows == 0
    assert silver.latest_version() == v
    wms = store.watermarks.read().collect()
    assert len(wms) == n_ledger + 1
    assert all(r.LoadEndDatetime is not None for r in wms)


def test_two_stores_race_one_incremental_batch(spark, roots, monkeypatch):
    """Two config stores on one root (two driver processes) run the
    same incremental batch at once: both return, the batch is applied
    by exactly one silver commit per entity, and the ledger has no
    open row. A barrier holds all four loads until both runs have
    resolved their watermarks, so both runs load the batch."""
    store = _bootstrapped_batch2(spark, roots)
    barrier = threading.Barrier(4, timeout=120)
    real_load = incremental.load_entity

    def load_after_both_resolve(*a, **k):
        barrier.wait()
        return real_load(*a, **k)

    monkeypatch.setattr(incremental, "load_entity", load_after_both_resolve)
    runs = [
        _on_thread(lambda s=s: run_pipeline(spark, s, roots[0], roots[1]))
        for s in (store, ConfigStore(spark, roots[2]))
    ]
    for th, _ in runs:
        th.join(timeout=300)
    for th, out in runs:
        assert not th.is_alive()
        assert "error" not in out, out.get("error")
        assert all(r.action == "incremental" for r in out["result"])
    _assert_converged_b2(spark, store, roots)


# -- extraction on the driver -------------------------------------------------


def test_steady_state_cycle_starts_no_spark_job(spark, roots):
    """A cycle of small CDC batches runs on the driver end to end: both
    entities extract with the format's per-file reader and merge the
    Arrow batch, and ``run_pipeline`` starts no Spark job."""
    store = _bootstrapped_batch2(spark, roots)
    n, res = _jobs_during(spark, lambda: run_pipeline(spark, store, roots[0], roots[1]))
    assert n == 0, f"{n} Spark jobs"
    assert [(r.action, r.merge["extract"], r.merge["images"]) for r in res] == [
        ("incremental", "driver", "driver")
    ] * 2
    _assert_converged_b2(spark, store, roots)


def test_steady_state_cycle_py4j_calls(spark, roots):
    """A steady cycle calls the JVM only to read ``THRESHOLD`` once per
    merge and once per extraction (3 calls each) and the session time
    zone once (TMSTP): at most 13 calls for 2 entities. The merges
    evaluate their delete condition in Arrow; Spark parses it once per
    process, which the cycle after the first finds done."""
    store = _bootstrapped_batch2(spark, roots)
    predicate.parse(spark, f"{incremental.SYNC_OP} = 'D'")
    n, res = _py4j_calls_during(
        spark, lambda: run_pipeline(spark, store, roots[0], roots[1])
    )
    assert n <= 13, f"{n} py4j calls"
    assert [(r.action, r.merge["condition"]) for r in res] == [
        ("incremental", "driver")
    ] * 2
    _assert_converged_b2(spark, store, roots)


def test_steady_state_cycle_budget(spark, roots):
    """A steady 2-entity cycle's fixed driver cost, counted exactly.
    Writers take the table metadata from the commit they build on, so
    the cycle resolves the latest metadata 4 times, 2 per load (14 per
    load before): ``ConfigStore.init``'s identity check of both control
    tables and ``close_watermark``'s of the ledger. Every commit record
    it reads was published or read earlier in this process and is kept
    as its log's newest, so it decodes none. It still makes 13 py4j
    calls and starts no Spark job."""
    store = _bootstrapped_batch2(spark, roots)
    predicate.parse(spark, f"{incremental.SYNC_OP} = 'D'")
    # the job count's own py4j calls fall outside the counted window
    jobs, (calls, res) = _jobs_during(
        spark,
        lambda: _calls_during(
            lambda: run_pipeline(spark, store, roots[0], roots[1]),
            (log, "current_metadata"),
            (log, "read_raw"),
            _py4j_sends(spark),
        ),
    )
    assert [r.action for r in res] == ["incremental"] * 2
    assert len(calls["current_metadata"]) == 4
    tables = sorted(
        os.path.basename(os.path.dirname(d)) for (d,) in calls["current_metadata"]
    )
    assert tables == ["entities", "watermarks", "watermarks", "watermarks"]
    assert calls["read_raw"] == []
    assert len(calls["send_command"]) == 13
    assert jobs == 0
    _assert_converged_b2(spark, store, roots)


def test_onboarding_starts_no_spark_job(spark, roots):
    """Adding entities runs on the driver end to end: the config store's
    empty tables, a small source created from Arrow, the registrations
    and the CT and TMSTP bootstraps start no Spark job, and each
    bootstrap commit records its extraction."""
    source_root, target_root, config_root = roots
    t = datetime.datetime(2024, 1, 1, 10, tzinfo=datetime.timezone.utc)
    src = pa.Table.from_pylist(
        [
            dict(zip(TXN_SCHEMA.names, (1, "Test Tran 1", 420.69, t))),
            dict(zip(TXN_SCHEMA.names, (2, "Test Tran 2", 694.20, t))),
        ],
        schema=to_arrow_schema(TXN_SCHEMA),
    )

    def onboard():
        store = ConfigStore(spark, config_root)
        store.init()
        for name in ("transactions_ct", "transactions_ts"):
            VersionedTable.create(spark, os.path.join(source_root, name), src)
        store.register_entity("transactions_ct", "silver_ct", "CT", ["TransactionId"])
        store.register_entity(
            "transactions_ts",
            "silver_ts",
            "TMSTP",
            ["TransactionId"],
            timestamp_column="TransactionDatetime",
        )
        return run_pipeline(spark, store, source_root, target_root)

    n, res = _jobs_during(spark, onboard)
    assert n == 0, f"{n} Spark jobs"
    assert [(r.action, r.rows, r.new_watermark) for r in res] == [
        ("full", 2, "0"),
        ("full", 2, "2024-01-01 10:00:00"),
    ]
    want = sorted(
        tuple(r) + ("I",)
        for r in VersionedTable(spark, os.path.join(source_root, "transactions_ct"))
        .read()
        .collect()
    )
    for wm_type in SILVER:
        silver = _silver(spark, roots, wm_type)
        assert silver.get_commit(0).stats["extract"] == "driver"
        got = silver.read().drop("SyncDateTime").collect()
        assert sorted(tuple(r) for r in got) == want


_UTC = datetime.timezone.utc
_INT96_HIGH = datetime.datetime(9999, 12, 31, 23, 59, 59, 999999, _UTC)
_TS_ROWS = [  # id, name, ts: the bootstrap
    (1, "pre-1970", datetime.datetime(1969, 12, 31, 23, 59, 59, 700000, _UTC)),
    (2, "int96 low", datetime.datetime(1500, 1, 1, tzinfo=_UTC)),
    # 01:59:59.999 in New York, just before its DST change: the watermark
    (3, "sub-second", datetime.datetime(2024, 3, 10, 6, 59, 59, 999000, _UTC)),
]
_TS_CYCLES = [  # id, name, ts, op per cycle
    [
        # the watermark's own second: excluded by TMSTP
        (4, "at wm", datetime.datetime(2024, 3, 10, 6, 59, 59, 200000, _UTC), "U"),
        (5, "past wm", datetime.datetime(2024, 3, 10, 7, 0, 0, 1, _UTC), "U"),
        (1, "pre-1970 2", datetime.datetime(1969, 12, 31, 23, 59, 59, 1, _UTC), "U"),
        (2, "", datetime.datetime(1500, 1, 1, tzinfo=_UTC), "D"),
        # the new watermark
        (6, "int96 high", _INT96_HIGH, "U"),
    ],
    [
        (7, "late", datetime.datetime(2024, 3, 11, tzinfo=_UTC), "U"),
        (3, "", datetime.datetime(2024, 3, 10, 6, 59, 59, 999000, _UTC), "D"),
    ],
]


@pytest.mark.parametrize(
    "unit, ticks",
    [
        # 1 µs and 1.000001 s before 1970, 0001-01-01 and the last µs of
        # 9999-12-31, and NULL
        ("us", [-1, -1_000_001, 0, 999_999, None, -62135596800 * 10**6,
                253402300799 * 10**6 + 999_999]),
        ("ms", [-1, -1_001, -1_000, 0, 1_999, None]),
        ("ns", [-1, -10**9 - 1, 10**9, None]),
    ],
)
def test_wm_seconds_floor_like_floor_temporal(unit, ticks):
    """The TMSTP watermark floors each value to the second by integer
    division on its ticks, which equals ``pyarrow.compute.floor_temporal``
    before 1970 too, at both ends of years 1-9999, and passes NULL."""
    import pyarrow.compute as pc

    ts = pa.chunked_array([pa.array(ticks, pa.int64()).cast(pa.timestamp(unit))])
    want = pc.floor_temporal(ts, unit="second").cast(pa.timestamp("s"))
    got = incremental._wm_seconds(ts, None)
    assert got.to_pylist() == want.cast(pa.int64()).to_pylist()


def test_driver_and_spark_extraction_agree(spark, tmp_path):
    """Both extractions, and the merges they feed, give the same loads:
    the same silver rows (SyncDateTime aside), watermarks and counts,
    for both entity types over three cycles in a New York session, and
    the same bootstraps: commit 0's schema, token, change feed and
    stats columns.
    Covered: sub-second, pre-1970 and INT96-edge timestamps, a row in
    the watermark's own second (excluded), New York's DST change, and
    deletes. Spark writes the sources, so their timestamps are INT96.
    The driver's watermark strings equal ``date_format``'s, TIMESTAMP
    and TIMESTAMP_NTZ, with the second floored before 1970."""
    schema = "id long, name string, ts timestamp"
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    loads, silver, extracts, created = {}, {}, {}, {}
    try:
        edges = [r[2] for r in _TS_ROWS] + [r[2] for c in _TS_CYCLES for r in c]
        edges += [
            datetime.datetime(1969, 12, 31, 23, 59, 59, 1, _UTC),
            datetime.datetime(2024, 11, 3, 5, 30, 0, 500000, _UTC),  # DST ends
            datetime.datetime(2024, 11, 3, 6, 30, 0, 500000, _UTC),
        ]
        ts = spark.createDataFrame([(t,) for t in edges], "ts timestamp")
        for df in (ts, ts.select(F.col("ts").cast("timestamp_ntz").alias("ts"))):
            want = [r[0] for r in df.select(incremental._wm_str(F.col("ts"))).collect()]
            secs = incremental._wm_seconds(df.toArrow().column("ts"), spark)
            assert [incremental._wm_text(x) for x in secs.to_pylist()] == want
        # past 9999-12-31 in local time the strings stop ordering as
        # times: the driver leaves such a snapshot to Spark
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        assert incremental._wm_seconds(ts.toArrow().column("ts"), spark) is None
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")

        for extract, threshold in (("driver", None), ("spark", "-1")):
            roots = [str(tmp_path / extract / r) for r in ("src", "silver", "cfg")]
            store = ConfigStore(spark, roots[2])
            store.init()
            for name, wm_type in (("ct", "CT"), ("ts", "TMSTP")):
                VersionedTable.create(
                    spark,
                    os.path.join(roots[0], name),
                    spark.createDataFrame(_TS_ROWS, schema).coalesce(1),
                )
                store.register_entity(
                    name, f"silver_{name}", wm_type, ["id"],
                    timestamp_column="ts" if wm_type == "TMSTP" else None,
                )
            boot = _with_threshold(
                spark, threshold, lambda: run_pipeline(spark, store, roots[0], roots[1])
            )
            created[extract] = [(r.action, r.new_watermark, r.rows) for r in boot]
            extracts[extract] = set()
            for n in ("silver_ct", "silver_ts"):
                t = VersionedTable(spark, os.path.join(roots[1], n))
                c = t.get_commit(0)
                extracts[extract].add(c.stats["extract"])
                feed = t.change_feed(-1, 0).drop("SyncDateTime").collect()
                created[extract].append(
                    (
                        c.schema_json,
                        c.stats["txn"],
                        # Spark writes timestamps as INT96, whose
                        # footers carry no min/max
                        [
                            sorted(set(f) - {"ts", "SyncDateTime"})
                            for f in c.stats["file_stats"].values()
                        ],
                        sorted(tuple(r) for r in feed),
                    )
                )
            loads[extract], silver[extract] = [], []
            for ops in _TS_CYCLES + [[]]:
                for name in ("ct", "ts"):
                    if ops:
                        VersionedTable(spark, os.path.join(roots[0], name)).merge(
                            spark.createDataFrame(ops, schema + ", op string"),
                            ["id"],
                            delete_condition="op = 'D'",
                            exclude_cols=["op"],
                        )
                res = _with_threshold(
                    spark,
                    threshold,
                    lambda: run_pipeline(spark, store, roots[0], roots[1]),
                )
                loads[extract].append(
                    [
                        (r.action, r.new_watermark, r.rows)
                        + tuple(r.merge[c] for c in MERGE_COUNTS if r.merge)
                        for r in res
                    ]
                )
                extracts[extract] |= {r.merge["extract"] for r in res if r.merge}
                silver[extract].append(
                    [
                        sorted(
                            tuple(r)
                            for r in VersionedTable(spark, os.path.join(roots[1], n))
                            .read()
                            .drop("SyncDateTime")
                            .collect()
                        )
                        for n in ("silver_ct", "silver_ts")
                    ]
                )
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    assert extracts == {"driver": {"driver"}, "spark": {"spark"}}
    assert created["driver"] == created["spark"]
    assert loads["driver"] == loads["spark"]
    assert silver["driver"] == silver["spark"]
    # CT applies every change; TMSTP leaves out the row in the
    # watermark's second and the older ones, and the high edge sets its
    # watermark (in New York time), so it finds nothing newer after
    assert loads["driver"] == [
        [
            ("incremental", "1", 5, 3, 1, 1),
            ("incremental", "9999-12-31 18:59:59", 2, 2, 0, 0),
        ],
        [("incremental", "2", 2, 1, 0, 1), ("skipped", None, 0)],
        [("skipped", None, 0), ("skipped", None, 0)],
    ]
    assert [r[0] for r in silver["driver"][0][1]] == [1, 2, 3, 5, 6]


@pytest.mark.parametrize("extract", ["driver", "spark"])
def test_ct_load_after_source_overwrite_keeps_every_row(spark, roots, extract):
    """A source overwrite of the same keys images each key's delete and
    its insert in one commit; the CT load keeps the insert, so silver
    equals the source after a full overwrite and after an
    ``overwrite(replace_where=...)``."""
    source_root, target_root, config_root = roots
    store = ConfigStore(spark, config_root)
    store.init()
    src = VersionedTable.create(
        spark,
        os.path.join(source_root, "s"),
        spark.range(200).select("id", F.lit(0).alias("v")),
    )
    store.register_entity("s", "silver_s", "CT", ["id"])
    run_pipeline(spark, store, source_root, target_root)
    silver = VersionedTable(spark, os.path.join(target_root, "silver_s"))
    for n, where in ((1, None), (2, "id >= 100"), (3, None)):
        rows = spark.range(100 if where else 0, 200).select("id", F.lit(n).alias("v"))
        src.overwrite(rows, replace_where=where)
        res = _with_threshold(
            spark,
            None if extract == "driver" else "-1",
            lambda: run_pipeline(spark, store, source_root, target_root),
        )
        assert res[0].merge["extract"] == extract
        assert sorted(silver.read().select("id", "v").collect()) == sorted(
            src.read().collect()
        ), (n, where)


# -- the control plane on the driver ------------------------------------------

LEDGER_BODY = T.StructType(WATERMARKS_SCHEMA.fields[1:])


def _last_job(spark) -> int:
    """The newest Spark job id so far (ids are sequential)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)


def _jobs_during(spark, fn):
    """(Spark jobs started while ``fn`` ran, its result)."""
    before = _last_job(spark)
    out = fn()
    return _last_job(spark) - before, out


def _calls_during(fn, *targets):
    """({name: [positional args of each call]}, ``fn``'s result): each
    ``(owner, name[, counts])`` of ``targets`` is wrapped while ``fn``
    runs, recording the calls ``counts(*args)`` accepts (default all)."""
    calls, saved = {}, []
    for owner, name, *counts in targets:
        orig = getattr(owner, name)
        calls[name] = []

        def counted(*args, _orig=orig, _seen=calls[name], _counts=counts, **kw):
            if not _counts or _counts[0](*args):
                _seen.append(args)
            return _orig(*args, **kw)

        saved.append((owner, name, orig))
        setattr(owner, name, counted)
    try:
        out = fn()
    finally:
        for owner, name, orig in saved:
            setattr(owner, name, orig)
    return calls, out


def _py4j_sends(spark):
    """The ``_calls_during`` target for the py4j commands the driver
    sends the JVM. The memory commands py4j's finalizer thread sends for
    Python references already dropped are not counted."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    return (
        client,
        "send_command",
        lambda command, *a: not command.startswith(MEMORY_COMMAND_NAME),
    )


def _py4j_calls_during(spark, fn):
    """(py4j commands the driver sent the JVM while ``fn`` ran, its
    result)."""
    calls, out = _calls_during(fn, _py4j_sends(spark))
    return len(calls["send_command"]), out


def _spark_resolution(store):
    """The entitiesSQL as a DataFrame query: the oracle for the driver
    resolution (O11-O19)."""
    w = Window.partitionBy("EntityId").orderBy(
        F.desc("LoadStartDatetime"), F.desc("WatermarkId")
    )
    latest = (
        store.watermarks.read()
        .filter(F.col("LoadEndDatetime").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("EntityId", "DateWatermark", "CTWatermark")
    )
    return store.entities.read().join(latest, "EntityId", "left").select(
        "EntityId",
        "FromEntityName",
        "ToEntityName",
        "WatermarkType",
        "TimestampColumn",
        "PrimaryKeys",
        F.when(
            F.col("WatermarkType") == "TMSTP",
            F.coalesce(F.col("DateWatermark"), F.lit(DEFAULT_DATE_WM)),
        ).alias("DateWatermark"),
        F.when(
            F.col("WatermarkType") == "CT",
            F.coalesce(F.col("CTWatermark"), F.lit(DEFAULT_CT_WM)),
        ).alias("CTWatermark"),
    )


def test_control_plane_starts_no_spark_job(spark, roots):
    """Resolution, ledger open and ledger close run on the driver: no
    Spark job. Resolution agrees with the entitiesSQL DataFrame query
    over a ledger holding a replayed row, a LoadStartDatetime tie that
    WatermarkId breaks, an open row written through the Spark path, and
    entities with no row at all."""
    store = _bootstrapped_batch2(spark, roots)
    ct, tmstp = 1, 2  # registration order; CT was bootstrapped at version 0

    # a replayed row: the same watermark again
    n, pending = _jobs_during(spark, lambda: store.open_watermark(ct, None, 0))
    assert n == 0
    n, _ = _jobs_during(spark, lambda: store.close_watermark(pending))
    assert n == 0
    n, ents = _jobs_during(spark, store.entities_with_watermarks)
    assert n == 0
    assert [(e.EntityId, e.WatermarkType) for e in ents] == [
        (ct, "CT"),
        (tmstp, "TMSTP"),
    ]

    # a tie on LoadStartDatetime: the higher WatermarkId wins
    tie = datetime.datetime.now() + datetime.timedelta(hours=1)
    for wm in ("2030-01-01 00:00:00", TMSTP_WM_B2):
        store.close_watermark(
            {**store.open_watermark(tmstp, wm, None), "LoadStartDatetime": tie}
        )
    # an open row, newest of all, written through the Spark path (O14)
    later = tie + datetime.timedelta(hours=1)
    store.watermarks.append(
        spark.createDataFrame([(ct, None, 99, later, None)], LEDGER_BODY)
    )
    # entities with no ledger row: the sentinels (O16)
    n, _ = _jobs_during(
        spark, lambda: store.register_entity("none_ct", "silver_none_ct", "CT", ["k"])
    )
    assert n == 0
    store.register_entity(
        "none_ts", "silver_none_ts", "TMSTP", ["k"], timestamp_column="ts"
    )

    n, got = _jobs_during(spark, store.entities_with_watermarks)
    assert n == 0
    want = sorted(_spark_resolution(store).collect(), key=lambda r: r.EntityId)
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    assert [(r.EntityId, r.DateWatermark, r.CTWatermark) for r in got] == [
        (ct, None, 0),
        (tmstp, TMSTP_WM_B2, None),
        (3, None, DEFAULT_CT_WM),
        (4, DEFAULT_DATE_WM, None),
    ]


def test_open_watermark_rejects_malformed_date(spark, tmp_path):
    """A DateWatermark that is not exactly ``yyyy-MM-dd HH:mm:ss`` raises
    before any write: stored, it would send every later TMSTP load of
    the entity through Spark."""
    store = ConfigStore(spark, str(tmp_path / "config"))
    for wm in (
        "2030-01-01 00:00:62",
        "2030-01-01T00:00:00",
        "2030-1-1 00:00:00",
        "+2030-01-01 00:00:00",
        "10000-01-01 00:00:00",
        "-0005-02-29 00:00:00",
    ):
        with pytest.raises(ValueError, match="DateWatermark"):
            store.open_watermark(2, wm, None)
    # what date_format prints outside years 1-9999, and the default
    for wm in (
        "+10000-01-01 08:59:59",
        "0000-02-29 00:00:00",
        "-0001-12-31 09:44:59",
        DEFAULT_DATE_WM,
    ):
        assert store.open_watermark(2, wm, None)["DateWatermark"] == wm
    assert not os.path.exists(store.root)


def test_tmstp_load_past_year_9999_in_local_time(spark, tmp_path):
    """A TMSTP source whose latest time is the INT96 maximum, in an
    Asia/Tokyo session, where that is past year 9999: the driver leaves
    the snapshot to Spark, the load stores the watermark ``date_format``
    prints, and the entity bootstraps and cycles."""
    roots = [str(tmp_path / r) for r in ("src", "silver", "cfg")]
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        src = VersionedTable.create(
            spark,
            os.path.join(roots[0], "ts"),
            spark.createDataFrame(
                [(9, "int96 high", _INT96_HIGH)],
                "id long, name string, ts timestamp",
            ).coalesce(1),
        )
        store = ConfigStore(spark, roots[2])
        store.init()
        store.register_entity(
            "ts", "silver_ts", "TMSTP", ["id"], timestamp_column="ts"
        )
        boot = run_pipeline(spark, store, roots[0], roots[1])
        new = [(10, "new", _TS_ROWS[2][2])]
        src.append(spark.createDataFrame(new, src.read().schema))
        cycle = run_pipeline(spark, store, roots[0], roots[1])
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    assert [(r.action, r.new_watermark, r.rows) for r in boot] == [
        ("full", "+10000-01-01 08:59:59", 1)
    ]
    assert [r.action for r in cycle] == ["incremental"]


def test_ledger_compaction_keeps_resolution(spark, roots, monkeypatch):
    """More than LEDGER_MAX_FILES ledger rows: run_pipeline compacts
    the ledger on the driver (the compaction starts no Spark job) to at
    most that many live files; every row and id reads back unchanged,
    at the latest version and at the one before, and resolution returns
    the same watermarks as before."""
    source_root, target_root, _ = roots
    store = _setup_scenario(spark, roots)
    run_pipeline(spark, store, source_root, target_root)
    ents = store.entities_with_watermarks()
    ct = next(e for e in ents if e.WatermarkType == "CT")
    tmstp = next(e for e in ents if e.WatermarkType == "TMSTP")
    # watermarks past the sources' own, so the next run loads nothing
    for i in range(incremental.LEDGER_MAX_FILES):
        if i % 2:
            row = store.open_watermark(ct.EntityId, None, 10 + i)
        else:
            wm = datetime.datetime(2030, 1, 1) + datetime.timedelta(seconds=i)
            row = store.open_watermark(tmstp.EntityId, str(wm), None)
        store.close_watermark(row)
    ledger = store.watermarks
    assert len(ledger.get_commit().files) > incremental.LEDGER_MAX_FILES
    before = store.entities_with_watermarks()
    ids = sorted(r.WatermarkId for r in ledger.read().collect())
    rows = _by_id(ledger.read().collect(), "WatermarkId")
    v = ledger.latest_version()

    jobs, compact = [], VersionedTable.compact

    def counted(table, *args, **kw):
        n, out = _jobs_during(spark, lambda: compact(table, *args, **kw))
        jobs.append(n)
        return out

    monkeypatch.setattr(VersionedTable, "compact", counted)
    res = run_pipeline(spark, store, source_root, target_root)
    assert jobs == [0]
    assert all(r.action == "skipped" for r in res)
    assert ledger.get_commit().op == "compact"
    assert len(ledger.get_commit().files) <= incremental.LEDGER_MAX_FILES
    assert _by_id(ledger.read().collect(), "WatermarkId") == rows
    assert _by_id(ledger.read(version=v).collect(), "WatermarkId") == rows
    assert store.entities_with_watermarks() == before
    assert [(r.CTWatermark, r.DateWatermark) for r in before] == [
        (10 + incremental.LEDGER_MAX_FILES - 1, None),
        (None, str(wm)),  # the last TMSTP row's
    ]
    assert sorted(r.WatermarkId for r in ledger.read().collect()) == ids


def test_ledger_resolution_reads_only_new_files(spark, roots, monkeypatch):
    """Resolution reads each ledger file once per store: after N closed
    loads a call reads just the N new files, and it resolves as a fresh
    store does, also after another store's append and after a
    compaction replaced the files."""
    store = _bootstrapped_batch2(spark, roots)
    ct = _entity(store, "CT").EntityId
    ledger = store.watermarks
    read = []
    arrow_files = VersionedTable._arrow_files

    def spy(files, *args, **kwargs):
        read.extend(files)
        return arrow_files(files, *args, **kwargs)

    monkeypatch.setattr(VersionedTable, "_arrow_files", staticmethod(spy))

    def resolve_after(change):
        before = set(ledger.get_commit().files)
        change()
        read.clear()
        got = store.entities_with_watermarks()
        assert sorted(read) == sorted(set(ledger.get_commit().files) - before)
        assert got == ConfigStore(spark, roots[2]).entities_with_watermarks()
        return [r.CTWatermark for r in got if r.EntityId == ct]

    def close(s, *wms):
        for wm in wms:
            s.close_watermark(s.open_watermark(ct, None, wm))

    store.entities_with_watermarks()
    # resolution may change the rows it is given: the next call's are fresh
    row = store._rows(ledger.path)[0]
    row["CTWatermark"] = -7
    assert row not in store._rows(ledger.path)
    assert resolve_after(lambda: close(store, 11)) == [11]
    assert resolve_after(lambda: close(store, 12, 13, 14)) == [14]
    other = ConfigStore(spark, roots[2])
    assert resolve_after(lambda: close(other, 15)) == [15]
    assert resolve_after(
        lambda: ledger.compact(small_file_bytes=incremental.LEDGER_SMALL_FILE_BYTES)
    ) == [15]
    assert ledger.get_commit().op == "compact" and read


def _by_id(rows, key):
    return {r[key]: r.asDict() for r in rows}


def test_driver_rows_round_trip(spark, tmp_path, monkeypatch):
    """Entity and ledger rows written on the driver read back the same
    through Spark, the ``versioned`` DataSource and the change feed,
    under a non-UTC session time zone and process TZ. Spark-written and
    driver-written ledger rows share one ledger and order by the same
    instant, so the latest row wins either way. An Arrow append that
    loses its commit slot to a racing Spark-path append renumbers its
    row: the ids stay contiguous and unique."""
    root = str(tmp_path / "cfg")
    old_tz = os.environ.get("TZ")
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        store = ConfigStore(spark, root)
        store.init()
        ct = store.register_entity("src_a", "silver_a", "CT", ["k1", "k2"])
        ts = store.register_entity(
            "src_b", "silver_b", "TMSTP", ["k"], timestamp_column="ts"
        )
        wt = store.watermarks
        t0 = datetime.datetime(2024, 3, 1, 12, 0, 0, 123456)
        hour = datetime.timedelta(hours=1)

        def spark_row(eid, date_wm, ct_wm, start):
            wt.append(
                spark.createDataFrame(
                    [(eid, date_wm, ct_wm, start, start)], LEDGER_BODY
                )
            )

        def driver_row(eid, date_wm, ct_wm, start):
            return store.close_watermark(
                {
                    "EntityId": eid,
                    "DateWatermark": date_wm,
                    "CTWatermark": ct_wm,
                    "LoadStartDatetime": start,
                }
            )

        spark_row(ct, None, 5, t0)
        driver_row(ct, None, 7, t0 + hour)  # newer: wins
        driver_row(ts, "2024-01-01 00:00:00", None, t0)
        spark_row(ts, "2024-02-02 00:00:00", None, t0 + hour)  # newer: wins
        got = {r.EntityId: r for r in store.entities_with_watermarks()}
        assert got[ct].CTWatermark == 7
        assert got[ts].DateWatermark == "2024-02-02 00:00:00"

        # a Spark-path append from another store takes the slot first
        real = VersionedTable._write_commit
        raced = []

        def racing(self, commit):
            if self.path == wt.path and not raced:
                raced.append(commit.version)
                spark_row(ts, "2024-02-03 00:00:00", None, t0)
            return real(self, commit)

        monkeypatch.setattr(VersionedTable, "_write_commit", racing)
        wid = driver_row(ct, None, 9, t0 + 2 * hour)
        monkeypatch.setattr(VersionedTable, "_write_commit", real)
        assert raced and wt.get_commit().stats["rebased_from_version"] == raced[0] - 1
        assert store.entities_with_watermarks()[0].CTWatermark == 9

        datasource.register(spark)
        for table, key in ((wt, "WatermarkId"), (store.entities, "EntityId")):
            native = _by_id(table.read().collect(), key)
            assert sorted(native) == list(range(1, len(native) + 1))
            ds = spark.read.format("versioned").option("path", table.path).load()
            assert _by_id(ds.collect(), key) == native
            feed = table.change_feed(0).filter(F.col("_change_type") == "insert")
            assert _by_id(feed.drop("_change_type", "_commit_version").collect(), key) == native
        ledger = _by_id(wt.read().collect(), "WatermarkId")
        assert wid == max(ledger)
        assert ledger[wid]["LoadStartDatetime"] == t0 + 2 * hour
        assert ledger[2]["LoadStartDatetime"] == t0 + hour
        ents = _by_id(store.entities.read().collect(), "EntityId")
        assert ents[ct]["PrimaryKeys"] == ["k1", "k2"]
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", session_tz)


def test_arrow_append_takes_spark_path_for_bound_rules(spark, tmp_path):
    """A table with a CHECK constraint cannot take the driver path: the
    Arrow batch is converted and the Spark path enforces the rule."""
    import pyarrow as pa

    t = VersionedTable.create(
        spark, str(tmp_path / "t"), spark.createDataFrame([(1,)], "k long")
    )
    t.add_constraint("positive", "k > 0")
    with pytest.raises(ConstraintViolationError):
        t.append(pa.table({"k": pa.array([-1], pa.int64())}))
    t.append(pa.table({"k": pa.array([2], pa.int64())}))
    assert sorted(r.k for r in t.read().collect()) == [1, 2]


def test_arrow_batches_after_an_empty_one_keep_their_rows(spark, tmp_path):
    """An Arrow table whose record batches are ``[3, 0, 3]`` rows, as
    ``pa.concat_tables`` builds after an empty table, keeps all 6 rows
    on the Spark path: an append to a table with a CHECK constraint and
    a partitioned create (pyspark's ``createDataFrame`` alone keeps 3)."""
    schema = pa.schema([("k", pa.int64())])
    tbl = pa.Table.from_batches(
        [
            pa.record_batch([pa.array(ks, pa.int64())], schema=schema)
            for ks in ([1, 2, 3], [], [4, 5, 6])
        ]
    )
    t = VersionedTable.create(
        spark, str(tmp_path / "checked"), pa.table({"k": pa.array([0], pa.int64())})
    )
    t.add_constraint("non_negative", "k >= 0")
    t.append(tbl)
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 2, 3, 4, 5, 6]
    p = VersionedTable.create(spark, str(tmp_path / "part"), tbl, partition_by=["k"])
    assert sorted(r.k for r in p.read().collect()) == [1, 2, 3, 4, 5, 6]
    assert sorted(r.k for r in p.change_feed(-1).collect()) == [1, 2, 3, 4, 5, 6]


def test_arrow_spark_path_keeps_naive_timestamps_ntz(spark, tmp_path):
    """An Arrow batch's timezone-naive timestamp is TIMESTAMP_NTZ on the
    Spark path as on the driver: an append to a table with a CHECK
    constraint (Spark enforces it) and a partitioned create both commit
    ``timestamp_ntz`` and keep the wall-clock values."""
    days = [datetime.datetime(2024, 1, 1, 8), datetime.datetime(2024, 1, 2, 9)]
    batch = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "w": pa.array(days, pa.timestamp("us")),
        }
    )
    t = VersionedTable.create(spark, str(tmp_path / "checked"), batch)
    t.add_constraint("positive", "id > 0")
    t.append(batch)
    p = VersionedTable.create(spark, str(tmp_path / "part"), batch, partition_by=["id"])
    for table, rows in ((t, days * 2), (p, days)):
        assert table.schema()["w"].dataType == T.TimestampNTZType()
        assert sorted(r.w for r in table.read().collect()) == sorted(rows)


def test_read_between_prunes_a_date_range(spark, tmp_path):
    """``read_between`` on a DATE column opens only the files whose
    committed [min, max] may hold the range (``file_stats_may_match``,
    the DataSource planner's rule) and returns exactly its rows."""
    days = [datetime.date(2024, 1, d) for d in (1, 10, 20)]

    def batch(i):
        return pa.table(
            {"d": pa.array([days[i]], pa.date32()), "v": pa.array([i], pa.int64())}
        )

    t = VersionedTable.create(spark, str(tmp_path / "days"), batch(0))
    for i in (1, 2):
        t.append(batch(i))
    hit = t.read_between("d", datetime.date(2024, 1, 9), datetime.date(2024, 1, 11))
    assert len(t.get_commit().files) == 3
    assert len(hit.inputFiles()) == 1
    assert [r.v for r in hit.collect()] == [1]


def test_spark_path_writes_its_input_once(spark, tmp_path):
    """On the Spark path, ``create`` and then ``append`` or
    ``overwrite`` (full or ``replace_where``) evaluate their DataFrame
    once: a ``current_timestamp()`` column reads the same in the
    snapshot and in the change feed's insert images."""

    def stamped():
        return spark.range(5).withColumn("t", F.current_timestamp())

    for i, write in enumerate(
        [
            lambda t: t.append(stamped()),
            lambda t: t.overwrite(stamped()),
            lambda t: t.overwrite(stamped().filter("id < 3"), replace_where="id < 3"),
        ]
    ):

        def writes():
            t = VersionedTable.create(spark, str(tmp_path / f"t{i}"), stamped())
            write(t)
            return t

        t = _with_threshold(spark, "-1", writes)
        assert all("/ds-" not in f for f in t.get_commit().files)
        for v in (0, 1):
            snap = Counter(tuple(r) for r in t.read(version=v).collect())
            images = Counter(
                tuple(r)
                for r in t.change_feed(v - 1, v)
                .filter("_change_type = 'insert'")
                .drop("_change_type", "_commit_version")
                .collect()
            )
            assert images == snap - Counter(
                tuple(r) for r in (t.read(version=v - 1).collect() if v else [])
            )
