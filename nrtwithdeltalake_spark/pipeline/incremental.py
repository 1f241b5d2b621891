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
* the CT batch is deduped to the latest row per key before merging
  (Delta-style formats reject duplicate matches; the reference never
  dedups — SURVEY.md §7 hard-part 1);
* deletes can be applied as deletes (``SyncOperation = 'D'``) rather than
  merged as updates (flagged optional behavior, default on for CT).

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

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import ConfigStore, DEFAULT_CT_WM
from .tables import CommitConflictError, VersionedTable

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
    rows: int
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
    if wm_type == "CT":
        old_wm = int(entity_row["CTWatermark"])
        no_change = src_v <= old_wm
        new_wm_str = str(src_v)
        token = src_v
    else:
        ts_col = entity_row["TimestampColumn"]
        old_wm = entity_row["DateWatermark"]
        row = src_table.read(version=src_v).agg(
            F.max(_wm_str(F.col(ts_col))).alias("wm")
        ).first()
        new_wm_str = row["wm"] or old_wm
        no_change = new_wm_str <= old_wm
        token = _wm_token(new_wm_str)

    # no-new-watermark short-circuit (:157) — but never skip the bootstrap
    if no_change and not first_load:
        return LoadResult(eid, "skipped", 0, None)

    # -- ledger open (E3 step 3, :143-152): the pending row, no I/O --------
    pending = store.open_watermark(
        eid,
        new_wm_str if wm_type == "TMSTP" else None,
        src_v if wm_type == "CT" else None,
    )

    # -- extraction (E3 step 4, :157-176) ----------------------------------
    if first_load:
        batch = _with_audit(src_table.read(version=src_v), F.lit("I"))
        action = "full"
    elif wm_type == "CT":
        from pyspark.sql import Window

        # a key changed in several commits appears once per commit in the
        # feed; keep only its newest state (dedup by commit version here —
        # SyncDateTime is constant within a batch, so it can't order this)
        w = Window.partitionBy(*keys).orderBy(F.desc("_commit_version"))
        changes = (
            src_table.change_feed(old_wm, src_v)
            # the feed also carries update_preimage rows (old values, for
            # consumers that need key-change invalidation); state
            # replication wants only the new-state/delete rows
            .filter(F.col("_change_type") != "update_preimage")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        batch = _with_audit(changes, _op_from_change_type()).drop(
            "_change_type", "_commit_version"
        )
        action = "incremental"
    else:
        batch = _with_audit(
            src_table.read(version=src_v).filter(
                _wm_str(F.col(ts_col)) > F.lit(old_wm)
            ),
            F.lit("I"),
        )
        action = "incremental"

    # -- sink (E3 step 5, :185-209) ----------------------------------------
    # The reference caches + counts the batch as a SEPARATE pass
    # (:180-183). Observation folds the row count into the write job
    # itself — at 100 TB that deletes one full batch scan per load.
    from pyspark.sql import Observation

    obs = Observation(f"load_{eid}")
    batch = batch.observe(obs, F.count(F.lit(1)).alias("n"))
    app = f"entity:{eid}"
    merged = None
    if first_load:
        t = VersionedTable.create(
            spark, tgt_path, batch, extra_stats={"txn": {app: token}}
        )
        if register_db is not None:
            t.register(register_db, entity_row["ToEntityName"])
    else:
        merged = VersionedTable(spark, tgt_path).merge(
            batch,
            keys,
            delete_condition=f"{SYNC_OP} = 'D'" if apply_deletes else None,
            dedup_order_col=SYNC_DT,
            txn_app=app,
            txn_version=token,
        )
    # a skipped merge may return before its batch ever runs, and the
    # Observation of a batch that never ran never completes
    n = 0 if merged and merged.get("txn_skipped") else obs.get["n"]

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
