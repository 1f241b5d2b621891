"""Incremental rollup maintenance: a continuous aggregate over a
VersionedTable, refreshed from its change feed.

The reference's whole design is "keep a derived table near-real-time
without full reloads" (README.md:4-5, watermark loop at
``COPY_MSQL_TO_SILVER.py:128-218``). This module applies that idea one
level up: a *materialized aggregate* (the lakehouse analog of Timescale
continuous aggregates) maintained incrementally:

* the rollup table stores one row per group with the configured
  aggregates;
* ``refresh()`` reads the base table's change feed since the last
  refreshed version, derives the set of **touched groups**, recomputes
  ONLY those groups from the base snapshot, and merges them into the
  rollup (deleting groups that vanished);
* untouched groups are never read or rewritten — refresh cost scales
  with the changed key range, not table size, the same property that
  makes ``VersionedTable.merge`` viable at 100 TB.

Group-recompute (rather than algebraic +/- deltas) is chosen because it
is correct for *any* aggregate expression — including non-invertible
ones (min/max/countDistinct) under updates and deletes — at the cost of
re-reading base rows for touched groups. With range-clustered compaction
(``compact(cluster_by=group_cols)``) that re-read prunes to the touched
files via parquet min/max stats.

The refresh watermark (last refreshed base version) is stored in the
rollup table's own commit metadata — crash-safe for the same reason the
reference's ledger is: the version only advances when the rollup commit
lands (``dbrconfig.sql:85-91``'s commit-on-close, without the second
database).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Column

from .tables import VersionedTable


class IncrementalRollup:
    """A maintained ``base.groupBy(group_cols).agg(aggs)`` table.

    ``aggs`` maps output column name → aggregate Column builder taking no
    arguments (callables so each refresh gets fresh Column objects).
    """

    def __init__(
        self,
        spark: SparkSession,
        base: VersionedTable,
        path: str,
        group_cols: list[str],
        aggs: dict[str, "Column | object"],
    ):
        if not group_cols:
            raise ValueError("rollup requires at least one group column")
        self.spark = spark
        self.base = base
        self.path = path
        self.group_cols = group_cols
        self.aggs = aggs

    # -- aggregation --------------------------------------------------------

    def _agg_cols(self) -> list[Column]:
        return [
            (c() if callable(c) else c).alias(name)
            for name, c in self.aggs.items()
        ]

    def _aggregate(self, df: DataFrame) -> DataFrame:
        return df.groupBy(*self.group_cols).agg(*self._agg_cols())

    # -- state --------------------------------------------------------------

    def exists(self) -> bool:
        return VersionedTable.exists(self.path)

    def _table(self) -> VersionedTable:
        return VersionedTable(self.spark, self.path)

    def last_refreshed_version(self) -> int:
        """Base-table version the rollup currently reflects (-1 = never)."""
        if not self.exists():
            return -1
        return self._table().get_commit().stats.get("base_version", -1)

    # -- refresh ------------------------------------------------------------

    def refresh(self) -> dict:
        """Bring the rollup up to the base table's latest version.

        Bootstrap (first call): full aggregate, full write.
        Steady state: touched groups = distinct group keys in the CDF
        slice since the last refresh; recompute those groups from the
        current base snapshot; merge (and delete vanished groups).
        """
        base_version = self.base.latest_version()
        last = self.last_refreshed_version()
        if last == base_version:
            return {"refreshed": False, "base_version": base_version}
        # the reflected base version rides the refresh commit itself
        stamp = {"base_version": base_version}

        if last < 0:
            full = self._aggregate(self.base.read())
            VersionedTable.create(self.spark, self.path, full, extra_stats=stamp)
            return {
                "refreshed": True,
                "bootstrap": True,
                "base_version": base_version,
            }

        changes = self.base.change_feed(last)
        touched = changes.select(*self.group_cols).dropDuplicates(
            self.group_cols
        )
        n_touched = touched.count()
        if n_touched == 0:
            self._table()._commit_same_snapshot(
                "refresh", lambda prev: {"stats": stamp}
            )
            return {
                "refreshed": True,
                "touched_groups": 0,
                "base_version": base_version,
            }

        # recompute ONLY touched groups from the base snapshot: null-safe
        # semi-join keeps legitimately NULL group keys maintainable
        snap = self.base.read(base_version).alias("b")
        tt = touched.alias("g")
        cond = [
            F.col(f"b.{c}").eqNullSafe(F.col(f"g.{c}")) for c in self.group_cols
        ]
        recomputed = self._aggregate(snap.join(tt, cond, "left_semi"))

        # groups present in the CDF but absent from the recompute vanished
        # from the base (all rows deleted) → delete from the rollup
        gone = touched.join(
            recomputed.select(*self.group_cols),
            [
                touched[c].eqNullSafe(recomputed[c])
                for c in self.group_cols
            ],
            "left_anti",
        ).withColumn("__op", F.lit("D"))
        upserts = recomputed.withColumn("__op", F.lit("U"))
        batch = upserts.unionByName(gone, allowMissingColumns=True)

        t = self._table()
        t.merge(
            batch,
            keys=self.group_cols,
            delete_condition="__op = 'D'",
            exclude_cols=["__op"],
            extra_stats=stamp,
        )
        return {
            "refreshed": True,
            "touched_groups": n_touched,
            "base_version": base_version,
        }

    # -- reads --------------------------------------------------------------

    def read(self) -> DataFrame:
        return self._table().read()
