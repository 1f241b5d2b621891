"""Entity config + watermark ledger as engine tables.

Mirrors the reference's control schema (``/root/reference/dbrconfig.sql:20-43``)
— ``Entities`` / ``Watermarks`` — with the stored procedures
``OpenWatermark``/``CloseWatermark`` (``dbrconfig.sql:45-91``) re-expressed
as one append of an already-closed row per load (O27-O28). PrimaryKeys is
a real ``array<string>`` instead of the reference's comma-packed string
(``dbrconfig.sql:28``, split at ``COPY_MSQL_TO_SILVER.py:203``).

The latest-committed-watermark resolution is the reference's entitiesSQL
(O11-O19, ``COPY_MSQL_TO_SILVER.py:223-249``) as a DataFrame query.
"""

from __future__ import annotations

import datetime
import os
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
        assert watermark_type in ("CT", "TMSTP")
        ents = self.entities
        row = self.spark.createDataFrame(
            [
                (
                    from_name,
                    to_name,
                    from_zone,
                    to_zone,
                    watermark_type,
                    timestamp_column,
                    primary_keys,
                )
            ],
            T.StructType(ENTITIES_SCHEMA.fields[1:]),
        )
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
        v = ents.append(row)
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
        row with ``LoadEndDatetime`` stamped, as one commit; returns its
        WatermarkId (≡ SCOPE_IDENTITY()).

        The id comes from the ledger table's own IDENTITY column, so
        allocation is arbitrated by the COMMIT (put-if-absent), not by
        the in-process lock — two separate driver processes running
        pipelines against the same config store mint disjoint ids. The
        thread lock is kept only to cut same-process OCC retry churn."""
        wt = self.watermarks
        body = T.StructType(WATERMARKS_SCHEMA.fields[1:])
        closed = {**row, "LoadEndDatetime": datetime.datetime.now()}
        df = self.spark.createDataFrame(
            [tuple(closed[f.name] for f in body.fields)], body
        )
        with self._ledger_lock:
            if "WatermarkId" not in wt.identity_columns():
                raise RuntimeError(
                    f"config store at {self.root!r} predates commit-"
                    "arbitrated id allocation — run ConfigStore.init() "
                    "or ConfigStore.upgrade_ledger_identity() once "
                    "(idempotent) before closing watermarks"
                )
            v = wt.append(df)
            return wt.identity_high_water("WatermarkId", version=v)

    # -- watermark resolution (O11-O19) ------------------------------------

    def entities_with_watermarks(self) -> DataFrame:
        """The reference's entitiesSQL (COPY_MSQL_TO_SILVER.py:223-249):
        each entity left-joined to its latest *committed* watermark
        (LoadEndDatetime IS NOT NULL → O14; ROW_NUMBER latest-per-key →
        O12-O13; sentinel defaults via COALESCE → O16; per-type choice via
        CASE WHEN → O15)."""
        ents = self.entities.read()
        wms = self.watermarks.read()
        w = Window.partitionBy("EntityId").orderBy(
            F.desc("LoadStartDatetime"), F.desc("WatermarkId")
        )
        latest = (
            wms.filter(F.col("LoadEndDatetime").isNotNull())
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("EntityId", "DateWatermark", "CTWatermark")
        )
        return ents.join(latest, "EntityId", "left").select(
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
