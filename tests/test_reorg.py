"""``REORG TABLE ... APPLY (PURGE)`` — settle physical format debt
without an O(table) rewrite: files referenced by deletion vectors are
rewritten with their deletions materialized (vectors spent), and files
whose footers still hold dropped-column bytes are rewritten to the
logical schema. Clean files carry over by reference."""

from __future__ import annotations

import pytest

import pyarrow.parquet as pq

from nrtwithdeltalake_spark.pipeline.sqldml import execute_dml
from nrtwithdeltalake_spark.pipeline.tables import VersionedTable



# Slow tier (see pytest.ini): excluded from the default driver-budget
# run; executes via `pytest -m slow`.
pytestmark = pytest.mark.slow

def _mk(spark, tmp_path, name="t", parts=4):
    df = spark.createDataFrame(
        [(i, f"s{i}", i * 10) for i in range(40)],
        "id long, s string, v long",
    ).repartition(parts)
    return VersionedTable.create(spark, str(tmp_path / name), df)


def test_purge_materializes_deletion_vectors(spark, tmp_path):
    t = _mk(spark, tmp_path)
    prev_files = set(t.get_commit().files)
    assert len(prev_files) > 1
    t.delete("id < 10", use_dv=True)
    dv_commit = t.get_commit()
    assert dv_commit.dv_files  # merge-on-read state
    from nrtwithdeltalake_spark.pipeline.tables import _strip_scheme

    dv_touched = t._dv_referenced_files(dv_commit)
    expected_carry = {
        f for f in prev_files if _strip_scheme(f) not in dv_touched
    }
    v = t.reorg_purge()
    c = t.get_commit()
    assert c.version == v and c.op == "reorg_purge"
    assert c.dv_files == []  # vectors spent
    assert not c.cdf_files  # pure reorganization: no change rows
    # only the DV-referenced files were rewritten; the rest carried
    assert set(c.files) & prev_files == expected_carry
    assert sorted(r.id for r in t.read().collect()) == list(range(10, 40))
    # time travel: the pre-purge snapshot (with vectors) still reads
    assert sorted(
        r.id for r in t.read(version=v - 1).collect()
    ) == list(range(10, 40))
    # and the pre-delete snapshot shows everything
    assert t.read(version=v - 2).count() == 40


def test_purge_without_debt_is_a_noop(spark, tmp_path):
    t = _mk(spark, tmp_path, "clean")
    v0 = t.latest_version()
    assert t.reorg_purge() == v0  # no empty commit
    assert t.latest_version() == v0


def test_purge_reclaims_dropped_column_bytes(spark, tmp_path):
    t = _mk(spark, tmp_path, "dropcol")
    t.drop_column("v")  # metadata-only: footers still carry v's bytes
    c = t.get_commit()
    assert t._dead_column_files(c) == set(c.files)
    v = t.reorg_purge()
    c2 = t.get_commit()
    assert c2.version == v
    # every rewritten footer now matches the logical schema
    for f in c2.files:
        names = {fld.name for fld in pq.ParquetFile(f).schema_arrow}
        assert "v" not in names
    assert t._dead_column_files(c2) == set()
    assert t.reorg_purge() == v  # debt settled: second purge no-ops
    assert sorted(r.id for r in t.read().collect()) == list(range(40))


def test_purge_preserves_identity_high_water(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "ident"),
        spark.createDataFrame([], "s string"),
    )
    t.add_identity_column("rid")
    t.append(spark.createDataFrame([("a",), ("b",), ("c",)], "s string"))
    hw = t.identity_high_water("rid")
    t.delete("s = 'a'", use_dv=True)
    t.reorg_purge()
    assert t.identity_high_water("rid") == hw
    t.append(spark.createDataFrame([("d",)], "s string"))
    ids = sorted(r.rid for r in t.read().collect())
    assert len(ids) == len(set(ids)) == 3  # no reissued id


def test_sql_reorg_purge(spark, tmp_path):
    t = _mk(spark, tmp_path, "sql")
    t.delete("id >= 30", use_dv=True)
    out = execute_dml(
        spark, f"REORG TABLE versioned.`{t.path}` APPLY (PURGE)"
    )
    assert out["version"] == t.latest_version()
    assert t.get_commit().dv_files == []
    assert t.read().count() == 30


def test_purge_then_vacuum_reclaims_originals(spark, tmp_path):
    import os

    t = _mk(spark, tmp_path, "vac")
    t.delete("id < 20", use_dv=True)
    doomed = t._dv_referenced_files(t.get_commit())
    t.reorg_purge()
    rep = t.vacuum(retain_last=1, retain_hours=0.0)
    # the purged originals are unreferenced by the latest commit and
    # reclaimable once retention allows
    live = set(t.get_commit().files)
    assert not (doomed & {os.path.normpath(f) for f in live})
    assert rep["deleted_files"] >= 1
    assert sorted(r.id for r in t.read().collect()) == list(range(20, 40))


def test_purge_rebases_over_concurrent_append(spark, tmp_path, monkeypatch):
    """Purge is a pure reorganization — it COMMUTES with a concurrent
    blind append: the rebase republishes the purged files beside the
    concurrently-added ones."""
    t = _mk(spark, tmp_path, "race_app")
    t.delete("id < 10", use_dv=True)
    orig_write = VersionedTable._write_commit
    state = {"raced": False}

    def racing(self, commit, *a, **kw):
        if commit.op == "reorg_purge" and not state["raced"]:
            state["raced"] = True
            VersionedTable(self.spark, self.path).append(
                self.spark.createDataFrame(
                    [(100, "racer", 0)], "id long, s string, v long"
                )
            )
        return orig_write(self, commit, *a, **kw)

    monkeypatch.setattr(VersionedTable, "_write_commit", racing)
    v = t.reorg_purge()
    monkeypatch.setattr(VersionedTable, "_write_commit", orig_write)
    assert state["raced"]
    c = t.get_commit()
    assert c.version == v and c.op == "reorg_purge"
    assert c.stats.get("rebased_from_version") is not None
    assert c.dv_files == []
    # racer's rows survived the rebase; purged deletions stayed deleted
    assert sorted(r.id for r in t.read().collect()) == list(
        range(10, 40)
    ) + [100]


def test_purge_conflicts_with_concurrent_dv_delete(
    spark, tmp_path, monkeypatch
):
    """A concurrent DV delete marks rows purge already rewrote WITHOUT
    those deletions — committing would resurrect them; purge must
    refuse loudly instead."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError
    import pytest

    t = _mk(spark, tmp_path, "race_dv")
    t.delete("id < 5", use_dv=True)
    orig_write = VersionedTable._write_commit
    state = {"raced": False}

    def racing(self, commit, *a, **kw):
        if commit.op == "reorg_purge" and not state["raced"]:
            state["raced"] = True
            VersionedTable(self.spark, self.path).delete(
                "id >= 35", use_dv=True
            )
        return orig_write(self, commit, *a, **kw)

    monkeypatch.setattr(VersionedTable, "_write_commit", racing)
    with pytest.raises(CommitConflictError, match="deletion-vector"):
        t.reorg_purge()
    monkeypatch.setattr(VersionedTable, "_write_commit", orig_write)
    assert state["raced"]
    # the refused purge left state consistent: both deletes still apply
    assert sorted(r.id for r in t.read().collect()) == list(range(5, 35))
    # and a re-run on the fresh snapshot settles everything
    t.reorg_purge()
    assert t.get_commit().dv_files == []
    assert sorted(r.id for r in t.read().collect()) == list(range(5, 35))


def test_field_id_high_water_survives_purge_and_compact(spark, tmp_path):
    """compact/purge hand-build their commit stats; the field-id
    high-water must still carry (centrally, in log.prepare) — a
    regressed floor would reissue a dropped column's id and resurrect
    its bytes from any file that escaped rewriting."""
    import json as _json

    from nrtwithdeltalake_spark.pipeline.log import FIELD_ID

    t = _mk(spark, tmp_path, "fid")
    t.add_column("doomed", "long")
    hw = int(t.get_commit().stats["max_field_id"])
    t.drop_column("doomed")
    t.delete("id < 5", use_dv=True)
    t.reorg_purge()
    assert int(t.get_commit().stats["max_field_id"]) == hw
    t.compact()
    assert int(t.get_commit().stats["max_field_id"]) == hw
    t.add_column("fresh", "long")
    schema = t.schema()
    fid = int(schema["fresh"].metadata[FIELD_ID])
    assert fid == hw + 1  # never re-mints the dropped column's id


def test_dead_column_probe_survives_corrupt_footer(spark, tmp_path):
    """pyarrow raises ArrowInvalid (NOT an OSError) for a corrupt
    parquet footer; the footer probe must skip such a file — unreadable
    is the read path's problem to report loudly, not purge's — instead
    of aborting the whole REORG with a raw thread-pool traceback
    (ADVICE r12)."""
    t = _mk(spark, tmp_path, "corrupt")
    t.drop_column("v")  # leaves dropped-column debt in every file
    c = t.get_commit()
    assert len(c.files) > 1
    victim = sorted(c.files)[0]
    with open(victim, "wb") as f:
        f.write(b"this is not a parquet footer")
    dead = t._dead_column_files(c)
    # the corrupt file is skipped, the readable debt still detected
    assert victim not in dead
    assert dead  # the other files' dropped-column bytes are found
