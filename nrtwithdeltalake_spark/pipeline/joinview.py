"""Incremental JOIN-view maintenance: a materialized ``fact ⋈ dim``
kept near-real-time from BOTH tables' change feeds.

``IncrementalRollup`` maintains an aggregate; this module maintains the
harder IVM case — a join — where a change on EITHER side invalidates
output rows: a dim update must rewrite every enriched fact row carrying
that key (the classic "dimension trickle-down" problem a periodic full
re-join solves by brute force).

The maintenance law is the rollup's touched-key recompute, applied at
the fact-PK grain:

* fact change feed → changed fact PKs;
* dim change feed → changed dim keys → the CURRENT fact rows carrying
  them (a semi join that prunes to touched files when the fact table is
  clustered by the join key) → their PKs;
* the union of those PKs is recomputed against the CURRENT snapshots of
  both tables and merged into the view; PKs whose recompute produced no
  row (fact deleted, or inner-join partner vanished) are deleted.

Recompute-not-delta makes every case uniformly correct — dim deletes
under ``how='inner'`` retract rows, under ``how='left'`` they
null-extend them — and refresh cost scales with the changed key range,
never view size (the ``VersionedTable.merge`` touched-file law again).
Watermarks (reflected fact/dim versions) ride the view's own refresh
commit (``extra_stats``), so stamp and state publish atomically and a
crash replays idempotently — the reference's commit-on-close ledger
rule (``dbrconfig.sql:85-91``) without the second database.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import VersionedTable


class IncrementalJoinView:
    """A maintained ``fact.join(dim, fact[fk] == dim[dk], how)`` table.

    ``fact_pk``: unique key of the fact table (the view's merge key).
    ``fact_fk`` / ``dim_key``: equi-join columns (same length).
    ``dim_cols``: dim columns to carry into the view (default: all
    non-key columns). ``how``: 'inner' or 'left'.
    """

    def __init__(
        self,
        spark: SparkSession,
        fact: VersionedTable,
        dim: VersionedTable,
        path: str,
        fact_pk: list[str],
        fact_fk: list[str],
        dim_key: list[str],
        how: str = "inner",
        dim_cols: list[str] | None = None,
    ):
        if how not in ("inner", "left"):
            raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
        if len(fact_fk) != len(dim_key) or not fact_fk:
            raise ValueError("fact_fk and dim_key must be same non-zero length")
        if not fact_pk:
            raise ValueError("fact_pk required (the view's merge key)")
        self.spark = spark
        self.fact = fact
        self.dim = dim
        self.path = path
        self.fact_pk = fact_pk
        self.fact_fk = fact_fk
        self.dim_key = dim_key
        self.how = how
        self.dim_cols = dim_cols

    # -- join ----------------------------------------------------------------

    def _join(self, f: DataFrame, d: DataFrame) -> DataFrame:
        dcols = self.dim_cols
        if dcols is None:
            dcols = [c for c in d.columns if c not in self.dim_key]
        cond = None
        for fk, dk in zip(self.fact_fk, self.dim_key):
            # standard SQL join semantics: NULL fks never match (a left
            # view keeps them null-extended; an inner view drops them)
            c = f[fk] == d[dk]
            cond = c if cond is None else (cond & c)
        out = f.join(d, cond, self.how)
        return out.select(*[f[c] for c in f.columns], *[d[c] for c in dcols])

    # -- state ---------------------------------------------------------------

    def exists(self) -> bool:
        return VersionedTable.exists(self.path)

    def _table(self) -> VersionedTable:
        return VersionedTable(self.spark, self.path)

    def reflected_versions(self) -> tuple[int, int]:
        """(fact_version, dim_version) the view reflects; (-1, -1) if
        never refreshed."""
        if not self.exists():
            return (-1, -1)
        st = self._table().get_commit().stats
        return (st.get("fact_version", -1), st.get("dim_version", -1))

    # -- refresh -------------------------------------------------------------

    def refresh(self) -> dict:
        fv = self.fact.latest_version()
        dv = self.dim.latest_version()
        last_f, last_d = self.reflected_versions()
        if (last_f, last_d) == (fv, dv):
            return {"refreshed": False, "fact_version": fv, "dim_version": dv}
        # the reflected versions ride the refresh commit itself
        stamp = {"fact_version": fv, "dim_version": dv}

        if last_f < 0:
            full = self._join(self.fact.read(), self.dim.read())
            VersionedTable.create(self.spark, self.path, full, extra_stats=stamp)
            return {
                "refreshed": True,
                "bootstrap": True,
                "fact_version": fv,
                "dim_version": dv,
            }

        fact_now = self.fact.read(fv)
        touched_parts = []
        if fv > last_f:
            touched_parts.append(
                self.fact.change_feed(last_f).select(*self.fact_pk)
            )
        if dv > last_d:
            changed_keys = (
                self.dim.change_feed(last_d)
                .select(
                    *[F.col(k).alias(fk) for k, fk in zip(self.dim_key, self.fact_fk)]
                )
                .dropDuplicates(self.fact_fk)
            )
            affected = fact_now.join(
                changed_keys,
                [
                    fact_now[fk].eqNullSafe(changed_keys[fk])
                    for fk in self.fact_fk
                ],
                "left_semi",
            )
            touched_parts.append(affected.select(*self.fact_pk))
        touched = touched_parts[0]
        for p in touched_parts[1:]:
            touched = touched.unionByName(p)
        touched = touched.dropDuplicates(self.fact_pk)
        n_touched = touched.count()
        t = self._table()
        if n_touched == 0:
            t._commit_same_snapshot("refresh", lambda prev: {"stats": stamp})
            return {
                "refreshed": True,
                "touched_rows": 0,
                "fact_version": fv,
                "dim_version": dv,
            }

        tt = touched.alias("g")
        fb = fact_now.alias("b")
        cond = [
            F.col(f"b.{c}").eqNullSafe(F.col(f"g.{c}")) for c in self.fact_pk
        ]
        recomputed = self._join(
            fb.join(tt, cond, "left_semi"), self.dim.read(dv)
        )
        gone = touched.join(
            recomputed.select(*self.fact_pk),
            [
                touched[c].eqNullSafe(recomputed[c])
                for c in self.fact_pk
            ],
            "left_anti",
        ).withColumn("__op", F.lit("D"))
        batch = recomputed.withColumn("__op", F.lit("U")).unionByName(
            gone, allowMissingColumns=True
        )
        t.merge(
            batch,
            keys=self.fact_pk,
            delete_condition="__op = 'D'",
            exclude_cols=["__op"],
            extra_stats=stamp,
        )
        return {
            "refreshed": True,
            "touched_rows": n_touched,
            "fact_version": fv,
            "dim_version": dv,
        }

    # -- reads ---------------------------------------------------------------

    def read(self) -> DataFrame:
        return self._table().read()
