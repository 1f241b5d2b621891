"""Entity config + watermark ledger as engine tables.

Mirrors the reference's control schema (``/root/reference/dbrconfig.sql:20-43``)
— ``Entities`` / ``Watermarks`` — with the stored procedures
``OpenWatermark``/``CloseWatermark`` (``dbrconfig.sql:45-91``) re-expressed
as one append of an already-closed row per load (O27-O28). PrimaryKeys is
a real ``array<string>`` instead of the reference's comma-packed string
(``dbrconfig.sql:28``, split at ``COPY_MSQL_TO_SILVER.py:203``).

The control plane runs on the driver and starts no Spark job, the way
Delta keeps transaction state in a log the driver reads and writes
(VLDB 2020 §3): the latest-committed-watermark resolution is the
reference's entitiesSQL (O11-O19, ``COPY_MSQL_TO_SILVER.py:223-249``)
computed in Python over the rows the ``versioned`` DataSource's
per-file pyarrow reader returns, and entity and ledger rows are
appended as pyarrow tables through ``VersionedTable.append``.
"""

from __future__ import annotations

import datetime
import os
import threading

from pyspark.sql import Row, SparkSession
from pyspark.sql import types as T

from ..sources.datasource import _BatchReader
from .tables import VersionedTable

# sentinel defaults for first loads (COPY_MSQL_TO_SILVER.py:231: COALESCE to
# '0' / '2000-01-01')
DEFAULT_DATE_WM = "2000-01-01 00:00:00"
DEFAULT_CT_WM = -1

ENTITIES_SCHEMA = T.StructType(
    [
        T.StructField("EntityId", T.LongType()),
        T.StructField("FromEntityName", T.StringType()),
        T.StructField("ToEntityName", T.StringType()),
        T.StructField("FromZone", T.StringType()),
        T.StructField("ToZone", T.StringType()),
        T.StructField("WatermarkType", T.StringType()),  # 'CT' | 'TMSTP'
        T.StructField("TimestampColumn", T.StringType()),
        T.StructField("PrimaryKeys", T.ArrayType(T.StringType())),
    ]
)

WATERMARKS_SCHEMA = T.StructType(
    [
        T.StructField("WatermarkId", T.LongType()),
        T.StructField("EntityId", T.LongType()),
        T.StructField("DateWatermark", T.StringType()),  # 'yyyy-MM-dd HH:mm:ss'
        T.StructField("CTWatermark", T.LongType()),
        T.StructField("LoadStartDatetime", T.TimestampType()),
        T.StructField("LoadEndDatetime", T.TimestampType()),  # null = open
    ]
)


# the entity columns resolution passes through, ahead of the watermarks
_ENTITY_COLS = (
    "EntityId",
    "FromEntityName",
    "ToEntityName",
    "WatermarkType",
    "TimestampColumn",
    "PrimaryKeys",
)


def _arrow_row(schema: T.StructType, values: dict):
    """One row of ``schema`` (fields named in ``values``) as a pyarrow
    Table. A naive datetime is local time, as Spark's createDataFrame
    reads it (``time.mktime``), so driver-written and Spark-written
    ledger rows order by the same instant."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    row = {
        f.name: values[f.name].astimezone(datetime.timezone.utc)
        if isinstance(values[f.name], datetime.datetime)
        else values[f.name]
        for f in schema.fields
    }
    return pa.Table.from_pylist([row], schema=to_arrow_schema(schema))


def _read_rows(path: str) -> list[dict]:
    """A table's latest snapshot as Python rows, read on the driver by
    the ``versioned`` DataSource's per-file reader (field-id column
    mapping and deletion-vector masking included)."""
    reader = _BatchReader(path, None, None)
    return [
        r for p in reader.partitions() for b in reader.read(p) for r in b.to_pylist()
    ]


class ConfigStore:
    """Owns the entities + watermarks tables under ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.entities_path = os.path.join(root, "entities")
        self.watermarks_path = os.path.join(root, "watermarks")
        # Ledger writes are serialized: concurrent entity loads (run_pipeline's
        # thread pool) all append to the single watermarks table, whose
        # commit log allows one writer per version.
        self._ledger_lock = threading.Lock()

    def init(self) -> None:
        """Both control tables are born with their surrogate key as a
        GENERATED ALWAYS AS IDENTITY column — the reference's
        ``IDENTITY(1,1)`` (``dbrconfig.sql:21,34``) whose atomicity the
        database provides via ``SCOPE_IDENTITY()``. Here the atomicity
        comes from commit arbitration inside ``VersionedTable``: the
        put-if-absent commit publish means exactly one concurrent
        writer wins each version slot, so two lockless PROCESSES
        appending ledger rows mint disjoint ids (a read-max+1 scheme
        under an in-process lock cannot promise that)."""
        if not VersionedTable.exists(self.entities_path):
            VersionedTable.create(
                self.spark,
                self.entities_path,
                self.spark.createDataFrame(
                    [], T.StructType(ENTITIES_SCHEMA.fields[1:])
                ),
                identity={"EntityId": (1, 1)},
            )
        if not VersionedTable.exists(self.watermarks_path):
            VersionedTable.create(
                self.spark,
                self.watermarks_path,
                self.spark.createDataFrame(
                    [], T.StructType(WATERMARKS_SCHEMA.fields[1:])
                ),
                identity={"WatermarkId": (1, 1)},
            )
        # a pre-identity store (created before commit-arbitrated ids)
        # is swept forward HERE — init() is idempotent and every
        # pipeline entry point calls it, so no silent single-process
        # allocation path survives (adoption validates uniqueness and
        # starts the high-water past existing ids, so old and new ids
        # never collide)
        self.upgrade_ledger_identity()

    def upgrade_ledger_identity(self) -> list[str]:
        """Migrate a legacy store (created before identity columns) onto
        commit-arbitrated id allocation: adopt the existing
        ``EntityId``/``WatermarkId`` columns as identity (their values
        are already unique BIGINTs; the high-water starts past the
        current max, so old and new ids never collide). Idempotent —
        already-upgraded columns are skipped. Run while no pipeline is
        active (same discipline as any DDL). Returns the columns
        upgraded."""
        upgraded = []
        for table, col in (
            (self.entities, "EntityId"),
            (self.watermarks, "WatermarkId"),
        ):
            if col not in table.identity_columns():
                table.add_identity_column(col)
                upgraded.append(col)
        return upgraded

    @property
    def entities(self) -> VersionedTable:
        return VersionedTable(self.spark, self.entities_path)

    @property
    def watermarks(self) -> VersionedTable:
        return VersionedTable(self.spark, self.watermarks_path)

    # -- entity registration (dbrconfigData.sql:1-24) ----------------------

    def register_entity(
        self,
        from_name: str,
        to_name: str,
        watermark_type: str,
        primary_keys: list[str],
        timestamp_column: str | None = None,
        from_zone: str = "source",
        to_zone: str = "silver",
    ) -> int:
        """Append one entity row on the driver; returns its EntityId."""
        assert watermark_type in ("CT", "TMSTP")
        ents = self.entities
        if "EntityId" not in ents.identity_columns():
            # a legacy (pre-identity) store only reaches here when the
            # caller bypassed init(); read-max+1 allocation is not
            # multi-writer safe, so refuse with the one-call fix named
            raise RuntimeError(
                f"config store at {self.root!r} predates commit-"
                "arbitrated id allocation — run ConfigStore.init() or "
                "ConfigStore.upgrade_ledger_identity() once (idempotent) "
                "before registering entities"
            )
        v = ents.append(
            _arrow_row(
                T.StructType(ENTITIES_SCHEMA.fields[1:]),
                {
                    "FromEntityName": from_name,
                    "ToEntityName": to_name,
                    "FromZone": from_zone,
                    "ToZone": to_zone,
                    "WatermarkType": watermark_type,
                    "TimestampColumn": timestamp_column,
                    "PrimaryKeys": primary_keys,
                },
            )
        )
        # the id THIS append assigned = the commit's own high-water
        # (commit records are immutable, so this read is race-free)
        return ents.identity_high_water("EntityId", version=v)

    # -- ledger (O27-O28) --------------------------------------------------

    def open_watermark(
        self, entity_id: int, date_wm: str | None, ct_wm: int | None
    ) -> dict:
        """OpenWatermark proc (dbrconfig.sql:45-83), with no I/O: returns
        the load's pending ledger row, ``LoadStartDatetime`` set. The
        row is written only by ``close_watermark``, after the silver
        commit, so the ledger never holds an open row."""
        return {
            "EntityId": entity_id,
            "DateWatermark": date_wm,
            "CTWatermark": ct_wm,
            "LoadStartDatetime": datetime.datetime.now(),
        }

    def close_watermark(self, row: dict) -> int:
        """CloseWatermark proc (dbrconfig.sql:85-91): append the load's
        row with ``LoadEndDatetime`` stamped, as one commit written on
        the driver (no Spark job); returns its WatermarkId (≡
        SCOPE_IDENTITY()).

        The id comes from the ledger table's own IDENTITY column, so
        allocation is arbitrated by the COMMIT (put-if-absent), not by
        the in-process lock — two separate driver processes running
        pipelines against the same config store mint disjoint ids. The
        thread lock, which now guards milliseconds of driver I/O, is
        kept only to cut same-process OCC retry churn."""
        wt = self.watermarks
        closed = _arrow_row(
            T.StructType(WATERMARKS_SCHEMA.fields[1:]),
            {**row, "LoadEndDatetime": datetime.datetime.now()},
        )
        with self._ledger_lock:
            if "WatermarkId" not in wt.identity_columns():
                raise RuntimeError(
                    f"config store at {self.root!r} predates commit-"
                    "arbitrated id allocation — run ConfigStore.init() "
                    "or ConfigStore.upgrade_ledger_identity() once "
                    "(idempotent) before closing watermarks"
                )
            v = wt.append(closed)
            return wt.identity_high_water("WatermarkId", version=v)

    # -- watermark resolution (O11-O19) ------------------------------------

    def entities_with_watermarks(self) -> list[Row]:
        """The reference's entitiesSQL (COPY_MSQL_TO_SILVER.py:223-249),
        computed on the driver with no Spark job: each entity (ordered
        by EntityId) left-joined to its latest *committed* watermark
        (LoadEndDatetime IS NOT NULL → O14; latest per EntityId by
        LoadStartDatetime DESC, WatermarkId DESC, nulls last → O12-O13;
        sentinel defaults as COALESCE → O16; per-type choice as CASE
        WHEN → O15)."""
        latest: dict = {}
        for w in _read_rows(self.watermarks_path):
            if w["LoadEndDatetime"] is None:
                continue
            # DESC NULLS LAST: a null ranks below every value
            ts, wid = w["LoadStartDatetime"], w["WatermarkId"]
            w["rank"] = (ts is not None, ts, wid is not None, wid)
            cur = latest.get(w["EntityId"])
            if cur is None or w["rank"] > cur["rank"]:
                latest[w["EntityId"]] = w
        out = []
        for e in sorted(_read_rows(self.entities_path), key=lambda e: e["EntityId"]):
            wm = latest.get(e["EntityId"], {})
            date_wm, ct_wm = wm.get("DateWatermark"), wm.get("CTWatermark")
            out.append(
                Row(
                    **{c: e[c] for c in _ENTITY_COLS},
                    DateWatermark=(
                        (DEFAULT_DATE_WM if date_wm is None else date_wm)
                        if e["WatermarkType"] == "TMSTP"
                        else None
                    ),
                    CTWatermark=(
                        (DEFAULT_CT_WM if ct_wm is None else ct_wm)
                        if e["WatermarkType"] == "CT"
                        else None
                    ),
                )
            )
        return out
