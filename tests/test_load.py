"""The paper's load loop, end to end: ``run_pipeline`` resolves each
entity's watermark, extracts the batch from one pinned source snapshot,
merges it into silver under the load's transaction token, and appends
the ledger row. Golden scenario (FIXTURES.md §B): batch1 full load →
batch2 insert+update+delete → rerun is a no-op, for both watermark
strategies (CT ≡ change feed versions, TMSTP ≡ timestamp filter). Then
the failure cases: a crash at each kill point converges on the next run
without re-merging, a source commit racing a load lands on the next
load, and two config stores racing one batch apply it once. Last, the
control plane on the driver: it starts no Spark job, resolves as the
entitiesSQL query does, keeps the ledger compacted, and writes rows
that read back the same through every reader. Tier-1: these run in the
default (fast) tier."""

from __future__ import annotations

import datetime
import os
import threading
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nrtwithdeltalake_spark.pipeline import incremental
from nrtwithdeltalake_spark.pipeline.config import (
    DEFAULT_CT_WM,
    DEFAULT_DATE_WM,
    WATERMARKS_SCHEMA,
    ConfigStore,
)
from nrtwithdeltalake_spark.pipeline.incremental import load_entity, run_pipeline
from nrtwithdeltalake_spark.pipeline.tables import (
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


@pytest.mark.parametrize("wm_type", ["CT", "TMSTP"])
def test_load_pins_one_source_snapshot(spark, roots, monkeypatch, wm_type):
    """A source commit that lands between watermark acquisition and
    extraction is not in the batch: silver equals the source snapshot
    at the watermark the ledger records, and the change lands on the
    next load. The extraction is CT's change-feed read and TMSTP's
    second source read (its first takes the watermark)."""
    store = _bootstrapped_batch2(spark, roots)
    src = VersionedTable(spark, os.path.join(roots[0], SOURCE[wm_type]))
    method, nth = ("change_feed", 1) if wm_type == "CT" else ("read", 2)
    real = getattr(VersionedTable, method)
    calls = []

    def hooked(self, *a, **k):
        if self.path == src.path:
            calls.append(method)
            if len(calls) == nth:
                src.append(
                    _txn_df(spark, [(5, "Test Tran 5", 5.55)], "2024-01-03 10:00:00")
                )
        return real(self, *a, **k)

    monkeypatch.setattr(VersionedTable, method, hooked)
    res = load_entity(spark, store, _entity(store, wm_type), roots[0], roots[1])
    monkeypatch.undo()
    assert len(calls) >= nth and src.latest_version() == 2

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


def test_ledger_compaction_keeps_resolution(spark, roots):
    """More than LEDGER_MAX_FILES ledger rows: run_pipeline compacts
    the ledger to at most that many live files, and resolution returns
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
            row = store.open_watermark(
                tmstp.EntityId, f"2030-01-01 00:00:{i:02d}", None
            )
        store.close_watermark(row)
    ledger = store.watermarks
    assert len(ledger.get_commit().files) > incremental.LEDGER_MAX_FILES
    before = store.entities_with_watermarks()
    ids = sorted(r.WatermarkId for r in ledger.read().collect())

    res = run_pipeline(spark, store, source_root, target_root)
    assert all(r.action == "skipped" for r in res)
    assert ledger.get_commit().op == "compact"
    assert len(ledger.get_commit().files) <= incremental.LEDGER_MAX_FILES
    assert store.entities_with_watermarks() == before
    assert [(r.CTWatermark, r.DateWatermark) for r in before] == [
        (10 + incremental.LEDGER_MAX_FILES - 1, None),
        (None, f"2030-01-01 00:00:{incremental.LEDGER_MAX_FILES - 2:02d}"),
    ]
    assert sorted(r.WatermarkId for r in ledger.read().collect()) == ids


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
