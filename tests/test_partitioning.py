"""PARTITIONED BY for versioned tables — a write-layout + pruning
contract, not a physical hive dependency: every data file holds exactly
one partition tuple (shadow-column partitionBy write keeps the REAL
columns in the files), so the existing per-file [min, max] skipping
stats carry each file's exact partition value and partition pruning is
a special case of the stats pruner. Partition-grain delete/replace =
replace_where / delete on the partition predicate. The reference's own
dead code gestures at a date-partition layout
(COPY_MSQL_TO_SILVER.py:78-81)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nrtwithdeltalake_spark.pipeline.sqldml import execute_dml
from nrtwithdeltalake_spark.pipeline.tables import VersionedTable



# Slow tier (see pytest.ini): excluded from the default driver-budget
# run; executes via `pytest -m slow`.
pytestmark = pytest.mark.slow

def _mk(spark, tmp_path, name="t", days=("d1", "d2", "d3"), rows=30):
    df = spark.createDataFrame(
        [(i, days[i % len(days)], float(i)) for i in range(rows)],
        "id long, day string, v double",
    )
    return VersionedTable.create(
        spark, str(tmp_path / name), df, partition_by=["day"]
    )


def test_partition_pruning_skips_files(spark, tmp_path):
    t = _mk(spark, tmp_path, name="prune")
    t.append(
        spark.createDataFrame(
            [(100 + i, "d4", 1.0) for i in range(5)],
            "id long, day string, v double",
        )
    )
    c = t.get_commit()
    fs = c.stats["file_stats"]
    d4_files = [f for f in c.files if fs[f]["day"] == ["d4", "d4"]]
    assert d4_files
    # the stats pruner scans ONLY the d4 files for day='d4'
    from nrtwithdeltalake_spark.pipeline.tables import file_stats_may_match

    kept = [
        f
        for f in c.files
        if file_stats_may_match(fs.get(f), [("day", "=", "d4")])
    ]
    assert sorted(kept) == sorted(d4_files)
    # and the range-read driver-side skipper agrees
    df = t.read_between("day", "d4", "d4")
    assert sorted(r.id for r in df.collect()) == list(range(100, 105))


def test_partition_grain_replace_and_delete(spark, tmp_path):
    t = _mk(spark, tmp_path, name="grain")
    c0 = t.get_commit()
    fs = c0.stats["file_stats"]
    d1_files = {f for f in c0.files if fs[f]["day"] == ["d1", "d1"]}
    other = set(c0.files) - d1_files
    # drop-partition: delete on the partition predicate rewrites
    # NOTHING outside the partition's files
    t.delete("day = 'd1'")
    c1 = t.get_commit()
    assert other <= set(c1.files)  # untouched partitions carried
    assert not (d1_files & set(c1.files))
    assert {r.day for r in t.read().collect()} == {"d2", "d3"}
    # replace-partition via replace_where
    t.overwrite(
        spark.createDataFrame(
            [(900, "d2", 0.0)], "id long, day string, v double"
        ),
        replace_where="day = 'd2'",
    )
    rows = t.read().filter("day = 'd2'").collect()
    assert [r.id for r in rows] == [900]
    assert t.read().count() == 1 + t.read().filter("day = 'd3'").count()


def test_partitioned_appends_and_row_count(spark, tmp_path):
    t = _mk(spark, tmp_path, name="rc")
    t.append(
        spark.createDataFrame(
            [(200, "d9", 2.0)], "id long, day string, v double"
        )
    )
    assert t.current_row_count() == 31 == t.read().count()
    t.delete("day = 'd9'", use_dv=True)
    assert t.current_row_count() == 30 == t.read().count()


def test_sql_create_partitioned_and_show_create_roundtrip(spark, tmp_path):
    p = str(tmp_path / "sqlp")
    execute_dml(
        spark,
        f"CREATE TABLE versioned.`{p}` (id BIGINT, day STRING, v DOUBLE) "
        "PARTITIONED BY (day)",
    )
    t = VersionedTable(spark, p)
    assert t.partition_columns() == ["day"]
    ddl = (
        execute_dml(spark, f"SHOW CREATE TABLE versioned.`{p}`")
        .collect()[0]
        .createtab_stmt
    )
    assert "PARTITIONED BY (day)" in ddl
    # runnable round-trip at a fresh path keeps the clause
    p2 = str(tmp_path / "sqlp2")
    for stmt in ddl.replace(p, p2).split(";\n"):
        execute_dml(spark, stmt)
    assert VersionedTable(spark, p2).partition_columns() == ["day"]
    # DESCRIBE DETAIL surfaces it
    row = execute_dml(
        spark, f"DESCRIBE DETAIL versioned.`{p}`"
    ).collect()[0]
    assert row.partition_columns == ["day"]
    # and the layout actually applies through SQL INSERT
    execute_dml(
        spark,
        f"INSERT INTO versioned.`{p}` VALUES (1, 'a', 1.0D), (2, 'b', 2.0D)",
    )
    c = t.get_commit()
    fs = c.stats["file_stats"]
    assert {tuple(fs[f]["day"]) for f in c.files} == {
        ("a", "a"),
        ("b", "b"),
    }


def test_ctas_partitioned(spark, tmp_path):
    p = str(tmp_path / "ctasp")
    execute_dml(
        spark,
        f"CREATE TABLE versioned.`{p}` PARTITIONED BY (day) AS "
        "SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS day "
        "FROM range(10)",
    )
    t = VersionedTable(spark, p)
    assert t.partition_columns() == ["day"]
    c = t.get_commit()
    fs = c.stats["file_stats"]
    assert {tuple(fs[f]["day"]) for f in c.files} <= {
        ("even", "even"),
        ("odd", "odd"),
    }
    assert t.read().count() == 10


def test_clone_carries_partitioning(spark, tmp_path):
    t = _mk(spark, tmp_path, name="csrc")
    cl = t.clone(str(tmp_path / "cdst"), shallow=True)
    assert cl.partition_columns() == ["day"]
    cl.append(
        spark.createDataFrame(
            [(400, "d8", 4.0)], "id long, day string, v double"
        )
    )
    c = cl.get_commit()
    fs = c.stats["file_stats"]
    new = [f for f in c.files if "__part__day=d8" in f]
    assert new and fs[new[0]]["day"] == ["d8", "d8"]


def test_partitioned_compact_preserves_layout(spark, tmp_path):
    t = _mk(spark, tmp_path, name="cpt")
    for i in range(3):  # accrete small files
        t.append(
            spark.createDataFrame(
                [(500 + i, "d1", 5.0)], "id long, day string, v double"
            )
        )
    before = t.read().count()
    t.compact()
    c = t.get_commit()
    fs = c.stats["file_stats"]
    for f in c.files:
        lo, hi = fs[f]["day"]
        assert lo == hi  # one partition value per file, still
    assert t.read().count() == before
