"""Deletion vectors (merge-on-read DELETE — round 8): a predicate
delete writes (file, pos) sidecars instead of rewriting files; every
read path anti-joins them out; rewriting ops apply them before
producing output; compaction materializes and clears them. Also covers
the single-schema-per-commit CDF rule that fell out of the same work:
a full-replace retype overwrite aligns its delete pre-images to the
new schema, so the per-version change feed stays exact."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nrtwithdeltalake_spark.pipeline.checksum_view import IncrementalChecksum
from nrtwithdeltalake_spark.pipeline.tables import (
    CommitConflictError,
    VersionedTable,
)
from nrtwithdeltalake_spark.sources import datasource as ds



# Slow tier (see pytest.ini): excluded from the default driver-budget
# run; executes via `pytest -m slow`.
pytestmark = pytest.mark.slow

@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    ds.register(spark)


def _mk(spark, tmp_path, n=100):
    return VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.range(n).select(F.col("id"), (F.col("id") % 10).alias("g")),
    )


def test_dv_delete_reads_and_cdf(spark, tmp_path):
    t = _mk(spark, tmp_path)
    n_files_before = len(t.get_commit().files)
    t.delete("g = 3", use_dv=True)
    c = t.get_commit()
    assert c.dv_files and len(c.files) == n_files_before  # no rewrite
    assert t.read().count() == 90
    assert t.read().filter("g = 3").count() == 0
    # CDF retraction carries the deleted rows' values
    cf = t.change_feed(0)
    assert cf.filter("_change_type = 'delete'").count() == 10
    assert sorted(r.id for r in cf.filter("_change_type='delete'").collect()) == [
        3, 13, 23, 33, 43, 53, 63, 73, 83, 93
    ]
    # time travel: v0 still shows everything
    assert t.read(version=0).count() == 100


def test_dv_second_delete_no_double_retraction(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete("g = 3", use_dv=True)
    t.delete("g in (3, 4)", use_dv=True)  # g=3 already gone
    assert t.read().count() == 80
    # only g=4's ten rows retract in the second commit
    assert t.change_feed(1).filter("_change_type='delete'").count() == 10


def test_dv_visible_through_format_reader_with_pushdown(spark, tmp_path):
    t = _mk(spark, tmp_path)
    p = t.path
    t.delete("g = 3", use_dv=True)
    fmt = spark.read.format("versioned").option("path", p).load()
    assert fmt.count() == 90
    assert fmt.filter("g = 3").count() == 0
    # pushed filter + DV mask compose (positions are whole-file exact)
    assert fmt.filter("id < 50").count() == 45
    assert fmt.filter("id < 50 and g = 3").count() == 0


def test_rewriting_ops_apply_vectors(spark, tmp_path):
    """merge / update / cow-delete / replace_where on a DV table must
    not resurrect vector-deleted rows."""
    t = _mk(spark, tmp_path, n=50)  # g = id % 10
    t.delete("g = 0", use_dv=True)  # ids 0,10,20,30,40 gone
    t.merge(spark.createDataFrame([(10, 99)], "id long, g long"), ["id"])
    got = {r.id for r in t.read().collect()}
    assert 10 in got and 0 not in got and 20 not in got
    assert t.read().count() == 46
    t.update("g = 1", {"g": F.lit(77)})
    assert t.read().filter("g = 77").count() == 5
    assert t.read().count() == 46
    t.delete("g = 2")  # cow on top of the vector
    assert t.read().count() == 41
    # replace_where path
    t2 = _mk(spark, tmp_path.joinpath("u"), n=30)
    t2.delete("g = 5", use_dv=True)
    t2.overwrite(
        spark.range(3).select(F.col("id"), F.lit(5).cast("long").alias("g")),
        replace_where="g = 5",
    )
    assert t2.read().filter("g = 5").count() == 3


def test_compact_materializes_and_clears_vectors(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete("g = 3", use_dv=True)
    assert t.get_commit().dv_files
    t.compact()
    c = t.get_commit()
    assert not c.dv_files
    assert t.read().count() == 90
    # physical: the packed files genuinely lack the rows
    raw = spark.read.parquet(*c.files)
    assert raw.count() == 90


def test_dv_and_incremental_consumers(spark, tmp_path):
    """IncrementalChecksum stays exact across DV deletes (the CDF
    retraction is algebraically applied) and verify() agrees with the
    DV-filtered snapshot."""
    t = _mk(spark, tmp_path)
    cs = IncrementalChecksum(spark, t, str(tmp_path / "cs"))
    cs.refresh()
    t.delete("g in (1, 2)", use_dv=True)
    rep = cs.verify()
    assert rep["match"] is True
    assert cs.current()[0] == 80


def test_dv_vacuum_and_restore(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete("g = 3", use_dv=True)  # v1
    t.compact()  # v2: vectors materialized
    # restore back across the compact to the DV version works while the
    # vector files live
    t.restore(1)
    assert t.read().count() == 90
    assert t.get_commit().dv_files
    t.compact()  # v4
    t.vacuum(retain_last=1)
    # v1's dv files were only referenced by expired versions → gone
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(1)


def test_dv_refuses_registered_tables_both_ways(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10)
    t.delete("g = 3", use_dv=True)
    with pytest.raises(ValueError, match="deletion vectors"):
        t.register("dvdb", "t1")
    t.compact()  # materialize → now registrable
    t.register("dvdb", "t1")
    try:
        with pytest.raises(ValueError, match="copy-on-write"):
            t.delete("g = 4", use_dv=True)
        t.delete("g = 4")  # cow path stays available
        assert t.read().filter("g = 4").count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS dvdb.t1")


def test_dv_concurrent_writer_conflicts_conservatively(spark, tmp_path):
    """A commit racing a DV delete must either commute or conflict
    loudly — never silently resurrect/lose deletions. The conservative
    round-8 law: any concurrent DV change conflicts rewriting ops."""
    t = _mk(spark, tmp_path, n=40)
    orig = t._write_commit
    state = {"fired": False}

    def inject(commit):
        if not state["fired"]:
            state["fired"] = True
            VersionedTable(spark, t.path).delete("g = 1", use_dv=True)
        return orig(commit)

    t._write_commit = inject
    # the injected concurrent DV delete lands first; our merge must NOT
    # rebase over it (its rewrite was planned without those deletions)
    with pytest.raises(CommitConflictError, match="deletion-vector"):
        t.merge(spark.createDataFrame([(2, 50)], "id long, g long"), ["id"])


def test_retype_overwrite_cdf_single_schema(spark, tmp_path):
    """A full-replace retype overwrite aligns its delete pre-images to
    the NEW schema, so one commit's CDF is one schema and the
    per-version change feed reads exactly."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "nat"),
        spark.range(20).select(
            F.col("id"), (F.col("id") % 4).cast("int").alias("g")
        ),
    )
    cs = IncrementalChecksum(spark, t, str(tmp_path / "nat_cs"))
    cs.refresh()
    # g retypes INT → BIGINT (safe widening): the delete pre-images
    # of the old rows are exactly expressible in the new schema.
    t.overwrite(spark.range(3).select(F.col("id"), F.lit(0).cast("long").alias("g")))
    assert dict(t.read().dtypes)["g"] == "bigint"
    cf = t.change_feed(0)
    assert cf.filter("_change_type='delete'").count() == 20
    assert cf.filter("_change_type='insert'").count() == 3
    # values survived the align-to-new-schema cast
    assert sorted(
        r.g for r in cf.filter("_change_type='delete' and id < 4").collect()
    ) == [0, 1, 2, 3]
    cs2 = IncrementalChecksum(spark, t, str(tmp_path / "nat_cs"))
    cs2.refresh()
    assert cs2.current() == cs2.compute_now()


def test_restore_across_rename_cdf_exact(spark, tmp_path):
    """restore() to a pre-rename version emits its CDF aligned by FIELD
    ID to the restored schema — the renamed column's values survive in
    both halves of the diff."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.range(6).select(F.col("id"), F.lit("x").alias("v")),
    )
    t.append(spark.range(6, 8).select(F.col("id"), F.lit("y").alias("v")))
    t.rename_column("v", "label")
    cs = IncrementalChecksum(spark, t, str(tmp_path / "cs"))
    cs.refresh()
    t.restore(0)
    cf = t.change_feed(2)
    # restored commit's schema uses the OLD name again
    assert "v" in cf.columns
    assert cf.filter("_change_type='delete'").count() == 8
    assert cf.filter("_change_type='delete' and v is null").count() == 0
    cs2 = IncrementalChecksum(spark, t, str(tmp_path / "cs"))
    cs2.refresh()
    assert cs2.current() == cs2.compute_now()
