"""Incremental bronze→silver loads: the reference's pipeline, restated.

``load_entity`` is the engine's ``loadToSilverZone``
(``/root/reference/COPY_MSQL_TO_SILVER.py:94-218``) with the same state
machine — resolve watermark → open ledger → extract delta → audit columns
→ merge → close ledger — and the same two watermark strategies, each
pinned to one source snapshot (the version read at the start of the load):

* TMSTP: filter source rows past the committed timestamp watermark,
  compared at second precision through ``date_format`` strings exactly as
  the reference's ``CONVERT(VARCHAR(21), ts, 120) > '<wm>'``
  (``:131,176`` — boundary rows equal to the watermark are excluded;
  SURVEY.md §7 hard-part 2).
* CT: read the source table's change feed past the committed version —
  the engine's CHANGETABLE (``:162-174``), with ``_change_type`` mapped
  to the reference's SYS_CHANGE_OPERATION I/U/D (``:171-172``).

Improvements over the reference, kept explicit:
* entities load in a thread pool (Spark schedules concurrent jobs from
  threads) instead of the serial driver loop (``:259-260``);
* the CT batch is deduped to the latest row per key by commit version,
  in the merge's own dedup step (Delta-style formats reject duplicate
  matches; the reference never dedups — SURVEY.md §7 hard-part 1);
* deletes can be applied as deletes (``SyncOperation = 'D'``) rather than
  merged as updates (flagged optional behavior, default on for CT);
* a small load runs on the driver with no Spark job (``_extract``):
  when its inputs — CT's change-data files of ``(old, new]``, TMSTP's
  snapshot files, the bootstrap's snapshot files — total at most
  ``spark.sql.autoBroadcastJoinThreshold`` on disk, the merge's own rule,
  the format's per-file reader reads them into a ``pyarrow.Table``; TMSTP
  takes its watermark from that read, as ``date_format`` in the session
  time zone with the second floored; ``VersionedTable.merge`` pairs the
  Arrow batch on the driver, and the bootstrap's ``VersionedTable.create``
  writes it there. Larger inputs build the same batch as a DataFrame.
  The commit's ``stats["extract"]`` names the path (and
  ``LoadResult.merge["extract"]`` for a merge).

Crash-safety invariant (SURVEY.md §7 hard-part 5): the silver commit
carries the load's application transaction token (Delta VLDB 2020 §3.1)
``entity:<EntityId>`` → the new watermark (CT: the source version;
TMSTP: ``yyyyMMddHHmmss``), and the load's one ledger row is appended
after it, already closed. After a crash between the two, the next run
re-extracts up to the same watermark, the merge finds its own token and
publishes nothing (``txn_skipped``), and the load appends its row; if
the source moved on, the higher token applies the batch as usual.
"""

from __future__ import annotations

import datetime
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import ConfigStore, DEFAULT_CT_WM, wm_time
from .tables import (
    CHANGE_TYPE_COL,
    MERGE_COUNTS,
    CommitConflictError,
    VersionedTable,
)

SYNC_DT = "SyncDateTime"
SYNC_OP = "SyncOperation"

_CHANGE_TO_OP = {"insert": "I", "update_postimage": "U", "delete": "D"}

# The ledger gains one file per load and resolution reads every live
# file, so run_pipeline compacts it (files under LEDGER_SMALL_FILE_BYTES)
# once its latest commit lists more than LEDGER_MAX_FILES.
LEDGER_MAX_FILES = 64
LEDGER_SMALL_FILE_BYTES = 1 << 20


@dataclass
class LoadResult:
    entity_id: int
    action: str  # 'full' | 'incremental' | 'skipped'
    rows: int  # the bootstrap's rows, or the merge's inserted + updated + deleted
    new_watermark: str | None
    merge: dict | None = None  # merge()'s result; None: bootstrap or skipped


def _with_audit(df: DataFrame, op_col: F.Column) -> DataFrame:
    """SELECT *, GETUTCDATE() AS SyncDateTime, <op> AS SyncOperation —
    O7 (COPY_MSQL_TO_SILVER.py:160,171-172,176)."""
    return df.withColumn(SYNC_DT, F.current_timestamp()).withColumn(SYNC_OP, op_col)


def _wm_str(col: F.Column) -> F.Column:
    """Second-truncated watermark string — CONVERT(VARCHAR(21), ts, 120)."""
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


def _wm_token(wm: str) -> int:
    """A TMSTP watermark ``yyyy-MM-dd HH:mm:ss`` read as the integer
    ``yyyyMMddHHmmss``: exact, and ordered as the strings are."""
    return int(wm.replace("-", "").replace(" ", "").replace(":", ""))


def _extract(
    src_table: VersionedTable,
    wm_type: str,
    ts_col: str,
    old_wm,
    src_v: int,
    full: bool = False,
):
    """The batch of the pinned source snapshot ``src_v`` past ``old_wm``
    (``full``: the whole snapshot, the bootstrap), with its audit
    columns: (batch, new watermark string, extract). A batch whose
    inputs total at most ``spark.sql.autoBroadcastJoinThreshold`` on
    disk, the merge's own rule, is read on the driver by the format's
    per-file reader and is a ``pyarrow.Table`` (extract "driver", no
    Spark job): CT's change-data files of ``(old_wm, src_v]``, or the
    snapshot's files. Otherwise it is a DataFrame (extract "spark")."""
    if wm_type == "CT" and not full:
        # the feed also carries update_preimage rows (old values, for
        # consumers that need key-change invalidation); state replication
        # wants only the new-state/delete rows
        limit = src_table._broadcast_limit()
        feed = src_table._change_feed_arrow(old_wm, src_v, limit)
        if feed is None:
            changes = src_table.change_feed(old_wm, src_v).filter(
                F.col(CHANGE_TYPE_COL) != "update_preimage"
            )
            batch = _with_audit(changes, _op_from_change_type())
            return batch.drop(CHANGE_TYPE_COL), str(src_v), "spark"
        feed = feed.filter(pc.not_equal(feed[CHANGE_TYPE_COL], "update_preimage"))
        op = pa.array(list(_CHANGE_TO_OP.values())).take(
            pc.index_in(feed[CHANGE_TYPE_COL], pa.array(list(_CHANGE_TO_OP)))
        )
        batch = _with_audit_arrow(feed.drop_columns([CHANGE_TYPE_COL]), op)
        return batch, str(src_v), "driver"
    read = _snapshot_wm(src_table, wm_type, ts_col, old_wm, src_v)
    if read is None:
        snapshot = batch = src_table.read(version=src_v)
        if not full:
            batch = snapshot.filter(_wm_str(F.col(ts_col)) > F.lit(old_wm))
        new_wm = str(src_v) if wm_type == "CT" else _max_wm(snapshot, ts_col, old_wm)
        return _with_audit(batch, F.lit("I")), new_wm, "spark"
    snap, secs = read
    if wm_type == "CT":
        return _with_audit_arrow(snap, "I"), str(src_v), "driver"
    batch = snap if full else snap.filter(pc.greater(secs, _wm_seconds_of(old_wm)))
    newest = pc.max(secs).as_py()
    new_wm = old_wm if newest is None else _wm_text(newest)
    return _with_audit_arrow(batch, "I"), new_wm, "driver"


def _snapshot_wm(
    src_table: VersionedTable, wm_type: str, ts_col: str, old_wm, src_v: int
) -> tuple[pa.Table, pa.ChunkedArray | None] | None:
    """The snapshot ``src_v`` read on the driver with its rows' TMSTP
    watermarks as local seconds (``_wm_seconds``; None for CT), or None
    when Spark reads it: its live files total more than
    ``spark.sql.autoBroadcastJoinThreshold`` on disk, or for TMSTP the
    column is not a timestamp, or a value or ``old_wm`` is outside what
    the driver compares as ``_wm_str`` does."""
    if wm_type == "TMSTP" and (
        _wm_seconds_of(old_wm) is None
        or not isinstance(
            src_table.schema(src_v)[ts_col].dataType,
            (T.TimestampType, T.TimestampNTZType),
        )
    ):
        return None
    snap = src_table._snapshot_arrow(src_v, src_table._broadcast_limit())
    if snap is None:
        return None
    if wm_type == "CT":
        return snap, None
    secs = _wm_seconds(snap[ts_col], src_table.spark)
    return None if secs is None else (snap, secs)


def _max_wm(snapshot: DataFrame, ts_col: str, old_wm: str) -> str:
    """The TMSTP watermark of a snapshot: its greatest ``_wm_str``, or
    ``old_wm`` when it has none."""
    row = snapshot.agg(F.max(_wm_str(F.col(ts_col))).alias("wm")).first()
    return row["wm"] or old_wm


# ``_wm_str`` as a number: local seconds since 1970-01-01 00:00:00. Years
# 1-9999 print as four digits, so there the numbers order as the strings
_EPOCH = datetime.datetime(1970, 1, 1)
_WM_RANGE = (-62135596800, 253402300799)  # 0001-01-01 .. 9999-12-31 23:59:59
_TICKS_PER_SECOND = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}


def _wm_seconds(
    ts: pa.ChunkedArray, spark: SparkSession
) -> pa.ChunkedArray | None:
    """``_wm_str`` of each timestamp on the driver, as local seconds:
    floored to the second (not truncated, which differs before 1970),
    then as local time in ``spark.sql.session.timeZone`` for a
    TIMESTAMP (a TIMESTAMP_NTZ as it is). None for a value outside
    years 1-9999 or a time zone Arrow does not know."""
    # floor division on the raw ticks: integer division truncates toward
    # zero, so a negative value with a remainder steps down one second
    ticks = ts.cast(pa.int64())
    per_s = _TICKS_PER_SECOND[ts.type.unit]
    secs = pc.divide(ticks, per_s)
    secs = pc.subtract(
        secs, pc.greater(pc.multiply(secs, per_s), ticks).cast(pa.int64())
    )
    if ts.type.tz is not None:
        tz = spark.conf.get("spark.sql.session.timeZone")
        try:
            secs = pc.local_timestamp(secs.cast(pa.timestamp("s", tz)))
        except pa.ArrowInvalid:
            return None
    secs = secs.cast(pa.int64())
    lo, hi = (v.as_py() for v in pc.min_max(secs).values())
    if lo is not None and (lo < _WM_RANGE[0] or hi > _WM_RANGE[1]):
        return None
    return secs


def _wm_seconds_of(wm: str) -> int | None:
    """A watermark string as local seconds; None unless it is exactly
    ``yyyy-MM-dd HH:mm:ss`` (``wm_time``)."""
    t = wm_time(wm)
    return None if t is None else (t - _EPOCH) // datetime.timedelta(seconds=1)


def _wm_text(secs: int) -> str:
    """Local seconds as the watermark string ``yyyy-MM-dd HH:mm:ss``."""
    return (_EPOCH + datetime.timedelta(seconds=secs)).isoformat(sep=" ")


def _with_audit_arrow(tbl: pa.Table, op) -> pa.Table:
    """``_with_audit`` on the driver: the load's UTC time and ``op``
    (one value, or one per row) as the audit columns."""
    now = datetime.datetime.now(datetime.timezone.utc)
    n = tbl.num_rows
    if isinstance(op, str):
        op = pa.array([op] * n, pa.string())
    # non-null, as Spark types current_timestamp() and lit(op)
    return tbl.append_column(
        pa.field(SYNC_DT, pa.timestamp("us", "UTC"), nullable=False),
        pa.array([now] * n, pa.timestamp("us", "UTC")),
    ).append_column(pa.field(SYNC_OP, pa.string(), nullable=False), op)


def load_entity(
    spark: SparkSession,
    store: ConfigStore,
    entity_row,
    source_root: str,
    target_root: str,
    apply_deletes: bool = True,
    register_db: str | None = None,
) -> LoadResult:
    """One entity's incremental load (E3 in SURVEY.md §3).

    ``register_db``: when set, the bootstrap branch also registers the
    new silver table in the metastore under ``register_db.<ToEntityName>``
    — the reference's CREATE DATABASE/CREATE TABLE step
    (``COPY_MSQL_TO_SILVER.py:187-196``); later merges keep the catalog
    entry current via the commit hook (``tables.VersionedTable.register``)."""
    eid = entity_row["EntityId"]
    keys = list(entity_row["PrimaryKeys"])
    wm_type = entity_row["WatermarkType"]
    src_table = VersionedTable(spark, os.path.join(source_root, entity_row["FromEntityName"]))
    tgt_path = os.path.join(target_root, entity_row["ToEntityName"])
    first_load = not VersionedTable.exists(tgt_path)

    # -- watermark acquisition (E3 step 2, :128-134) -----------------------
    # every read below is pinned to this one source snapshot, so the
    # batch holds exactly the changes up to the watermark it records
    src_v = src_table.latest_version()  # ≡ CHANGE_TRACKING_CURRENT_VERSION()
    ts_col = entity_row["TimestampColumn"]
    if wm_type == "CT":
        old_wm = int(entity_row["CTWatermark"])
    else:
        old_wm = entity_row["DateWatermark"]
    if not first_load and wm_type == "CT" and src_v <= old_wm:
        # no-new-watermark short-circuit (:157)
        return LoadResult(eid, "skipped", 0, None)
    # -- extraction (E3 step 4, :157-176): TMSTP takes its new watermark
    # from the same snapshot read
    action = "full" if first_load else "incremental"
    batch, new_wm_str, extract = _extract(
        src_table, wm_type, ts_col, old_wm, src_v, full=first_load
    )
    if not first_load and wm_type == "TMSTP" and new_wm_str <= old_wm:
        return LoadResult(eid, "skipped", 0, None)
    token = src_v if wm_type == "CT" else _wm_token(new_wm_str)

    # -- ledger open (E3 step 3, :143-152): the pending row, no I/O --------
    pending = store.open_watermark(
        eid,
        new_wm_str if wm_type == "TMSTP" else None,
        src_v if wm_type == "CT" else None,
    )

    # -- sink (E3 step 5, :185-209) ----------------------------------------
    app = f"entity:{eid}"
    merged = None
    if first_load:
        # The reference caches + counts the batch as a SEPARATE pass
        # (:180-183). Observation folds the row count into the job that
        # reads the batch (the write, or a small batch's collect) — at
        # 100 TB that deletes one full batch scan per load.
        obs = None
        if isinstance(batch, DataFrame):
            obs = Observation(f"load_{eid}")
            batch = batch.observe(obs, F.count(F.lit(1)).alias("n"))
        t = VersionedTable.create(
            spark,
            tgt_path,
            batch,
            extra_stats={"txn": {app: token}, "extract": extract},
        )
        if register_db is not None:
            t.register(register_db, entity_row["ToEntityName"])
        n = batch.num_rows if obs is None else obs.get["n"]
    else:
        merged = VersionedTable(spark, tgt_path).merge(
            batch,
            keys,
            delete_condition=f"{SYNC_OP} = 'D'" if apply_deletes else None,
            # a key changed in several commits appears once per commit in
            # the CT feed: merge keeps its newest state by commit version
            # (SyncDateTime is constant within a batch, so it can't order it)
            dedup_order_col="_commit_version" if wm_type == "CT" else SYNC_DT,
            exclude_cols=["_commit_version"] if wm_type == "CT" else None,
            txn_app=app,
            txn_version=token,
            extra_stats={"extract": extract},
        )
        # the rows the merge applied, from its own counts: a key changed
        # in several source commits counts once; a skipped merge, none
        n = sum(merged.get(c, 0) for c in MERGE_COUNTS)

    # -- ledger close (E3 step 6, :212-218): the load's one ledger row -----
    store.close_watermark(pending)
    return LoadResult(eid, action, n, new_wm_str, merged)


def _op_from_change_type() -> F.Column:
    m = F.create_map(
        *[F.lit(x) for kv in _CHANGE_TO_OP.items() for x in kv]
    )
    return m[F.col("_change_type")]


def run_pipeline(
    spark: SparkSession,
    store: ConfigStore,
    source_root: str,
    target_root: str,
    max_parallel: int = 4,
    apply_deletes: bool = True,
    register_db: str | None = None,
) -> list[LoadResult]:
    """E1, the control plane (:223-260) — but entities load concurrently:
    Spark job scheduling is thread-safe, so a thread pool turns the
    reference's serial per-entity loop into overlapping jobs (the
    single biggest structural bottleneck listed in BASELINE.md).
    Watermark resolution runs on the driver, before any load; after the
    loads, a ledger past ``LEDGER_MAX_FILES`` live files is compacted."""
    store.init()  # idempotent; sweeps a pre-identity store forward
    entities = store.entities_with_watermarks()  # on the driver: no Spark job
    with ThreadPoolExecutor(max_workers=max_parallel) as pool:
        futures = [
            pool.submit(
                load_entity,
                spark,
                store,
                e,
                source_root,
                target_root,
                apply_deletes,
                register_db,
            )
            for e in entities
        ]
        results = [f.result() for f in futures]
    ledger = store.watermarks
    if len(ledger.get_commit().files) > LEDGER_MAX_FILES:
        try:
            ledger.compact(small_file_bytes=LEDGER_SMALL_FILE_BYTES)
        except CommitConflictError:
            pass  # a racing compactor rewrote the same files first
    return results
