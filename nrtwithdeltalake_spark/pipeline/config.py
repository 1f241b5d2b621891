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
computed in Python over the latest snapshot read with the format's
per-file pyarrow reader (``pipeline/files.py``; each live file is read
once per ``ConfigStore``), both tables are created
from empty pyarrow tables and entity and ledger rows appended as pyarrow
tables, through ``VersionedTable.create`` and ``VersionedTable.append``.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import threading

from pyspark.sql import Row, SparkSession
from pyspark.sql import types as T

from . import log
from .tables import VersionedTable

# sentinel defaults for first loads (COPY_MSQL_TO_SILVER.py:231: COALESCE to
# '0' / '2000-01-01')
DEFAULT_DATE_WM = "2000-01-01 00:00:00"
DEFAULT_CT_WM = -1


def wm_time(wm: str) -> datetime.datetime | None:
    """A date watermark as a naive time; None unless it is exactly
    ``yyyy-MM-dd HH:mm:ss``."""
    try:
        t = datetime.datetime.strptime(wm, "%Y-%m-%d %H:%M:%S")
    except ValueError:
        return None
    return t if t.isoformat(sep=" ") == wm else None


def wm_printed(wm: str) -> bool:
    """True for a time as ``date_format(ts, 'yyyy-MM-dd HH:mm:ss')``
    prints one: a year outside 0-9999 is signed ("+10000-01-01 ...")."""
    m = re.fullmatch(r"([+-]?\d+)(-.*)", wm)
    year = int(m[1]) if m else 0
    if not m or m[1] != (f"{year:04d}" if 0 <= year <= 9999 else f"{year:+05d}"):
        return False
    # the Gregorian calendar repeats every 400 years
    return wm_time(f"{2000 + year % 400}{m[2]}") is not None


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
        # table path -> {(file, schema_json, dv_files): the file's rows as
        # Python dicts} for the live files of the latest commit read
        # (``_rows``)
        self._file_rows: dict[str, dict[tuple, object]] = {}

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
        from pyspark.sql.pandas.types import to_arrow_schema

        for path, schema in (
            (self.entities_path, ENTITIES_SCHEMA),
            (self.watermarks_path, WATERMARKS_SCHEMA),
        ):
            if not VersionedTable.exists(path):
                # empty, so written on the driver: no Spark job
                VersionedTable.create(
                    self.spark,
                    path,
                    to_arrow_schema(T.StructType(schema.fields[1:])).empty_table(),
                    identity={schema.fields[0].name: (1, 1)},
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
        commit, so the ledger never holds an open row. A ``date_wm``
        that is no time ``date_format`` prints (``wm_printed``) raises:
        it would send every later TMSTP load to Spark."""
        if date_wm is not None and not wm_printed(date_wm):
            raise ValueError(f"malformed DateWatermark {date_wm!r}")
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

    def _rows(self, path: str) -> list[dict]:
        """A table's latest snapshot as Python rows, read on the driver by
        the format's per-file reader (field-id column mapping and
        deletion-vector masking included). The latest commit is read on
        every call; its files are immutable, so each one is read and
        converted to Python rows once per store and schema and
        deletion-vector set, and a call reads only the files committed
        since the previous one. Each call returns fresh dicts, which
        the caller may change."""
        log_dir = log.dir_of(path)
        c = log.read_commit(log_dir, log.latest_version_in(log_dir), where=f"{path}: ")
        cached = self._file_rows.get(path, {})
        live = {}
        for f in c.files:
            key = (f, c.schema_json, tuple(c.dv_files))
            if key not in cached:
                schema = T.StructType.fromJson(json.loads(c.schema_json))
                cached[key] = VersionedTable._arrow_files(
                    [f], schema, c.dv_files
                ).to_pylist()
            live[key] = cached[key]
        self._file_rows[path] = live  # files no longer live drop out
        return [dict(r) for rows in live.values() for r in rows]

    def entities_with_watermarks(self) -> list[Row]:
        """The reference's entitiesSQL (COPY_MSQL_TO_SILVER.py:223-249),
        computed on the driver with no Spark job: each entity (ordered
        by EntityId) left-joined to its latest *committed* watermark
        (LoadEndDatetime IS NOT NULL → O14; latest per EntityId by
        LoadStartDatetime DESC, WatermarkId DESC, nulls last → O12-O13;
        sentinel defaults as COALESCE → O16; per-type choice as CASE
        WHEN → O15)."""
        latest: dict = {}
        for w in self._rows(self.watermarks_path):
            if w["LoadEndDatetime"] is None:
                continue
            # DESC NULLS LAST: a null ranks below every value
            ts, wid = w["LoadStartDatetime"], w["WatermarkId"]
            w["rank"] = (ts is not None, ts, wid is not None, wid)
            cur = latest.get(w["EntityId"])
            if cur is None or w["rank"] > cur["rank"]:
                latest[w["EntityId"]] = w
        out = []
        for e in sorted(self._rows(self.entities_path), key=lambda e: e["EntityId"]):
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
