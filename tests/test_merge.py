"""MERGE, Tier-1: the upsert the paper's load loop runs each cycle.

A small batch (an Arrow source's ``nbytes`` or a DataFrame's plan at
most ``spark.sql.autoBroadcastJoinThreshold``) pairs with the target on
the driver, a DataFrame collected once as Arrow; the driver also reads
and rewrites the touched files when the probe's candidate files are
that small; anything else takes the Spark full-outer-join path. The
parity test runs each case on both paths (``-1`` forces the Spark one)
and requires equal snapshots, change feeds and row counts. Then the job
budget of a change-tracking batch, a DataFrame's evolved column
metadata and an Arrow batch's naive timestamp (one schema on both
paths), a NULL-keyed batch that runs once, the file count of a
pipeline that keeps merging, a table left with no file, a table
created from Arrow on the driver (``create`` is an append to the empty
table), the shapes a create commits (identity numbering, start and
step, BY DEFAULT seeds, the SQL DDL's column positions and its atomic
failure, one partition value per file and the partition-column
guards), a small DataFrame created and
appended on the driver (the same small-input rule, one job, the Spark
path's files per partition; larger, partitioned and schema-evolving
writes keep Spark; SQL CTAS and INSERT), the config store's idempotent
``init``, and the core merge semantics: txn tokens (a replay is a
no-op, for an Arrow batch too), time travel and the change feed, the
touched-file rewrite, the latest-per-key oracle (on both paths), NULL
keys, a NULL matched-update condition, and the Spark-only merges (WHEN
NOT MATCHED BY SOURCE clauses and a matched-update condition). Last,
the delete condition on the driver: its Arrow translation against
Spark's ``filter(coalesce(cond, false))``, and the conditions left to
Spark.
"""

from __future__ import annotations

import datetime
import json
import os
from collections import Counter

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.errors import ParseException
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from nrtwithdeltalake_spark.pipeline import predicate, tables
from nrtwithdeltalake_spark.pipeline.checksum_view import IncrementalChecksum
from nrtwithdeltalake_spark.pipeline.config import ConfigStore
from nrtwithdeltalake_spark.pipeline.incremental import run_pipeline
from nrtwithdeltalake_spark.pipeline.sqldml import execute_dml
from nrtwithdeltalake_spark.pipeline.tables import (
    CommitConflictError,
    VersionedTable,
)

from .test_commit_loop import _inject_before_merge_commit
from .test_identity import _mk as _mk_identity
from .test_load import (  # noqa: F401
    _calls_during,
    _jobs_during,
    _last_job,
    _setup_scenario,
    _txn_df,
    _with_threshold,
    roots,
)
from .test_partitioning import _mk as _mk_partitioned

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _arrow(rows, ddl):
    schema = T._parse_datatype_string(ddl)
    return pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )


def _local(spark, rows, ddl):
    """``rows`` as a local relation (built from Arrow), so the plan
    knows its size — a ``createDataFrame`` of a Python list does not."""
    return spark.createDataFrame(_arrow(rows, ddl), T._parse_datatype_string(ddl))


def _rows(df, drop=()):
    return Counter(tuple(r) for r in df.drop(*drop).collect())


def _mix_target(spark, p):
    # 40 keys over 4 files, and key 7 twice, in two files
    t = VersionedTable.create(
        spark,
        p,
        spark.range(40)
        .select("id", (F.col("id") * 10).alias("v"))
        .repartition(4),
    )
    t.append(spark.createDataFrame([(7, 700)], "id long, v long"))
    return t


_MIX = [  # id, v, delete?
    (40, 1, False),  # insert
    (41, 2, False),
    (1, 3, False),  # updates, over several files
    (17, 4, False),
    (33, 5, False),
    (7, 6, False),  # updates both rows of key 7
    (3, 0, True),  # delete
    (99, 0, True),  # delete of an absent key: no image
]


def _case(name, spark):
    """(target builder, source batch, merge kwargs, expected images,
    compared-away columns, session conf) for one parity case."""
    mix_ddl = "id long, v long, d boolean"
    if name == "mix":
        return _mix_target, _local(spark, _MIX, mix_ddl), {}, "driver", (), {}
    if name == "above_threshold":
        # the batch (~200 bytes) is under the threshold, the candidate
        # files (5 parquet files) are over it: the touched files are
        # probed and rewritten by Spark
        src = _local(spark, _MIX, mix_ddl)
        return _mix_target, src, {}, "driver", (), {THRESHOLD: "1024"}
    if name == "arrow":
        return _mix_target, _arrow(_MIX, mix_ddl), {}, "driver", (), {}
    if name == "arrow_dedup":
        # several rows per key, latest by seq; on a tie a delete ranks
        # below the key's other row
        rows = [
            (1, 3, False, 1),
            (1, 4, False, 2),
            (3, 0, True, 5),
            (3, 9, False, 5),
            (17, 0, True, 1),
            (17, 8, False, 2),
            (40, 1, False, 1),
            (40, 0, True, 1),
        ]
        kw = {"dedup_order_col": "seq", "exclude_cols": ["d", "seq"]}
        src = _arrow(rows, mix_ddl + ", seq long")
        return _mix_target, src, kw, "driver", (), {}
    if name == "arrow_nan":
        # Spark's F.desc ranks NaN above every number
        rows = [(1, 10, False, 1.0), (1, 20, False, float("nan"))]
        kw = {"dedup_order_col": "o", "exclude_cols": ["d", "o"]}
        src = _arrow(rows, mix_ddl + ", o double")
        return _mix_target, src, kw, "driver", (), {}
    if name == "dataframe_dedup":
        # a small DataFrame is collected once, then deduped, flagged and
        # aligned as an Arrow batch: NaN first, NULL last, a delete
        # below the key's other row on a tie
        nan = float("nan")
        rows = [
            (1, 3, False, 1.0),
            (1, 4, False, nan),
            (3, 0, True, 5.0),
            (3, 9, False, 5.0),
            (17, 0, True, 1.0),
            (17, 8, False, 2.0),
            (40, 1, False, None),
            (40, 2, False, 0.5),
            (41, 5, False, nan),
            (41, 0, True, nan),
        ]
        kw = {"dedup_order_col": "o", "exclude_cols": ["d", "o"]}
        src = _local(spark, rows, mix_ddl + ", o double")
        return _mix_target, src, kw, "driver", (), {}
    if name == "collated_condition":
        # UTF8_LCASE: 'x' = 'X'; Spark evaluates the condition
        rows = [(1, 3, False, "x"), (17, 4, False, "X"), (40, 1, False, "y")]
        kw = {"delete_condition": "s = 'X'", "exclude_cols": ["d", "s"]}
        kw["condition"] = "spark"
        src = _local(spark, rows, mix_ddl + ", s string collate UTF8_LCASE")
        return _mix_target, src, kw, "driver", (), {}
    if name == "collated_order":
        # UTF8_LCASE orders 'B' above 'a', bytes the other way: Spark
        # dedups the batch
        rows = [(1, 3, False, "a"), (1, 4, False, "B"), (40, 1, False, "a")]
        kw = {"dedup_order_col": "o", "exclude_cols": ["d", "o"]}
        src = _local(spark, rows, mix_ddl + ", o string collate UTF8_LCASE")
        return _mix_target, src, kw, "spark", (), {}
    if name == "empty":
        return _mix_target, _local(spark, [], mix_ddl), {}, "driver", (), {}
    if name == "insert_only":
        src = _local(spark, [(50, 1, False), (51, 2, False)], mix_ddl)
        return _mix_target, src, {}, "driver", (), {}
    if name == "dv_delete":

        def target(spark, p):
            t = _mix_target(spark, p)
            t.delete("id IN (5, 6)", use_dv=True)
            return t

        # a live row, a DV-deleted row updated (an insert) and one
        # deleted (no image), an absent key
        src = _local(
            spark,
            [(1, 3, False), (5, 4, False), (6, 0, True), (60, 5, False)],
            mix_ddl,
        )
        return target, src, {}, "driver", (), {}
    if name == "int96_edges":
        edge = datetime.datetime(9999, 12, 31, 23, 59, 59)
        old = datetime.datetime(1500, 1, 1)

        def target(spark, p):
            # Spark writes timestamps as INT96, outside the nanosecond range here
            return VersionedTable.create(
                spark,
                p,
                spark.createDataFrame(
                    [(1, edge, "a"), (2, old, "b"), (3, old, "c")],
                    "id long, ts timestamp, s string",
                ).coalesce(1),
            )

        src = _local(
            spark,
            [(1, old, "u", False), (3, edge, "x", True), (4, edge, "n", False)],
            "id long, ts timestamp, s string, d boolean",
        )
        return target, src, {}, "driver", (), {}
    if name == "delete_file":

        def target(spark, p):
            # keys 1 and 2 in one file, key 3 in another
            ddl = "id long, v long"
            t = VersionedTable.create(
                spark, p, spark.createDataFrame([(1, 10), (2, 20)], ddl).coalesce(1)
            )
            t.append(spark.createDataFrame([(3, 30)], ddl))
            return t

        src = _local(spark, [(1, 0, True), (2, 0, True)], mix_ddl)
        return target, src, {}, "driver", (), {}
    if name == "new_column":
        src = _local(
            spark,
            [(r[0], r[1], r[2], 0.5) for r in _MIX],
            mix_ddl + ", w double",
        )
        return _mix_target, src, {}, "driver", (), {}
    if name == "null_key":

        def target(spark, p):
            return VersionedTable.create(
                spark,
                p,
                spark.createDataFrame([(None, 1), (1, 10)], "id long, v long"),
            )

        src = _local(spark, [(None, 2, False), (2, 3, False)], mix_ddl)
        return target, src, {}, "spark", (), {}
    if name == "identity":

        def target(spark, p):
            return VersionedTable.create(
                spark,
                p,
                spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"),
                identity={"sk": (1, 1)},
            )

        src = _local(spark, [(2, 3, False), (5, 4, False)], mix_ddl)
        # ids assigned to inserts are compared by count, not value
        return target, src, {}, "spark", ("sk",), {}
    assert name == "time_zone"
    t0 = datetime.datetime(2024, 3, 10, 6, 30)  # a New York DST change

    def target(spark, p):
        return VersionedTable.create(
            spark,
            p,
            spark.createDataFrame(
                [(i, t0 + datetime.timedelta(hours=i), f"s{i}") for i in range(6)],
                "id long, ts timestamp, s string",
            ),
        )

    src = _local(
        spark,
        [
            (1, t0 + datetime.timedelta(hours=1), "u", False),
            (2, t0 + datetime.timedelta(hours=2), "x", True),
            (9, t0 + datetime.timedelta(hours=9), "n", False),
        ],
        "id long, ts timestamp, s string, d boolean",
    )
    tz = {"spark.sql.session.timeZone": "America/New_York"}
    return target, src, {"keys": ["id", "ts"]}, "driver", (), tz


@pytest.mark.parametrize(
    "case",
    [
        "mix",
        "arrow",
        "arrow_dedup",
        "arrow_nan",
        "dataframe_dedup",
        "collated_condition",
        "collated_order",
        "above_threshold",
        "empty",
        "insert_only",
        "delete_file",
        "dv_delete",
        "int96_edges",
        "new_column",
        "null_key",
        "identity",
        "time_zone",
    ],
)
def test_merge_paths_agree(spark, tmp_path, case):
    """Both merge paths give the same snapshot, change feed and row
    counts; the result names the path that ran. An Arrow source (the
    ``arrow`` cases) takes the Spark path as a DataFrame."""
    target, src, kw, images, away, case_conf = _case(case, spark)
    keys = kw.pop("keys", ["id"])
    condition = kw.pop("condition", "driver")
    kw = {"delete_condition": "d", "exclude_cols": ["d"], **kw}
    saved = {k: spark.conf.get(k) for k in (THRESHOLD, *case_conf)}
    got = {}
    try:
        for path, threshold in (("driver", None), ("spark", "-1")):
            for k, v in case_conf.items():
                spark.conf.set(k, v)
            t = target(spark, str(tmp_path / path))
            before = set(t.get_commit().files)
            v0 = t.latest_version()
            if threshold:
                spark.conf.set(THRESHOLD, threshold)
            res = t.merge(src, keys, **kw)
            after = set(t.get_commit().files)
            got[path] = (
                {
                    **res,
                    "files": len(after) - len(before),
                    "added": len(after - before),
                },
                _rows(t.read(), away),
                _rows(t.change_feed(v0), ("_commit_version", *away)),
            )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    (d_res, d_snap, d_cdf), (s_res, s_snap, s_cdf) = got["driver"], got["spark"]
    assert d_res["images"] == images
    assert s_res["images"] == s_res["rewrite"] == "spark"
    if images == "driver":
        # a DataFrame source's condition runs on the driver too
        assert d_res["condition"] == condition
        spark_rewrite = case == "above_threshold"
        assert d_res["rewrite"] == ("spark" if spark_rewrite else "driver")
    assert d_snap == s_snap
    assert d_cdf == s_cdf
    counts = ("rows_inserted", "rows_updated", "rows_deleted")
    assert [d_res[c] for c in counts] == [s_res[c] for c in counts]
    changed = Counter(r[-1] for r in d_cdf.elements())
    assert [d_res[c] for c in counts] == [
        changed["insert"],
        changed["update_postimage"],
        changed["delete"],
    ]
    if case in ("mix", "arrow", "above_threshold"):
        assert [d_res[c] for c in counts] == [2, 5, 1]
        assert d_res["touched_files"] == s_res["touched_files"] > 1
        # the rewrite never leaves more files than it removes
        assert d_res["files"] <= 0
    if case in ("mix", "arrow", "dv_delete", "int96_edges"):
        # the touched files' other rows and the new ones: one data file
        assert d_res["touched_files"] >= 1 and d_res["added"] == 1
    if case == "dv_delete":
        assert [d_res[c] for c in counts] == [2, 1, 0]
    if case == "arrow_dedup":
        assert [d_res[c] for c in counts] == [1, 3, 0]
        assert {r[0]: r[1] for r in d_snap if r[0] in (1, 3, 17, 40)} == {
            1: 4, 3: 9, 17: 8, 40: 1
        }
    if case == "arrow_nan":
        assert {r[0]: r[1] for r in d_snap}[1] == 20
    if case == "dataframe_dedup":
        assert [d_res[c] for c in counts] == [2, 3, 0]
        assert {r[0]: r[1] for r in d_snap if r[0] in (1, 3, 17, 40, 41)} == {
            1: 4, 3: 9, 17: 8, 40: 2, 41: 5
        }
    if case == "collated_condition":
        assert [d_res[c] for c in counts] == [1, 0, 2]
    if case == "collated_order":
        assert {r[0]: r[1] for r in d_snap}[1] == 4
    if case == "empty":
        assert d_cdf == Counter() and d_res["touched_files"] == 0
    if case == "insert_only":
        # no file to rewrite: the new rows are one pyarrow file
        assert d_res["touched_files"] == 0 and d_res["files"] == 1
    if case == "delete_file":
        # the touched file's rows are all deleted: it goes, and no
        # zero-row file replaces it on either path
        assert d_res["touched_files"] == s_res["touched_files"] == 1
        assert d_res["files"] == s_res["files"] == -1


@pytest.mark.parametrize("race_key, conflicts", [(50, False), (1, True)])
def test_driver_merge_rebases_or_conflicts(spark, tmp_path, race_key, conflicts):
    """The driver path publishes through the same commit loop: a racing
    append of a foreign key rebases, one of a batch key conflicts."""
    p = str(tmp_path / "t")
    ddl = "id long, v string"
    t = VersionedTable.create(spark, p, spark.createDataFrame([(1, "a"), (2, "b")], ddl))
    _inject_before_merge_commit(
        t,
        lambda: VersionedTable(spark, p).append(
            spark.createDataFrame([(race_key, "x")], ddl)
        ),
    )
    src = _local(spark, [(1, "upd"), (9, "new")], ddl)
    if conflicts:
        with pytest.raises(CommitConflictError, match="matching this merge's keys"):
            t.merge(src, ["id"])
        return
    out = t.merge(src, ["id"])
    assert out["images"] == "driver" and out["rebased_from_version"] == 0
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: "upd", 2: "b", 9: "new", 50: "x"}


def test_ct_batch_merges_within_job_budget(spark, tmp_path):
    """A change-tracking batch (the source's change feed, deduped by
    commit version in merge) merges in 1 Spark job, which collects it
    as it is: the dedup, the delete condition and the small target's
    probe and rewrite run on the driver."""
    src = VersionedTable.create(
        spark,
        str(tmp_path / "src"),
        spark.range(2000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        ),
    )
    silver = VersionedTable.create(spark, str(tmp_path / "silver"), src.read())
    v0 = src.latest_version()
    for n in range(2):  # key 5 changes in both commits
        src.merge(
            _local(
                spark,
                [(5, 100 + n, "U"), (2000 + n, 1, "U"), (10 + n, 0, "D")],
                "k long, v long, op string",
            ),
            ["k"],
            delete_condition="op = 'D'",
            exclude_cols=["op"],
        )
    batch = (
        src.change_feed(v0)
        .filter(F.col("_change_type") != "update_preimage")
        .withColumn("op", F.when(F.col("_change_type") == "delete", "D"))
        .drop("_change_type")
    )
    n, res = _jobs_during(
        spark,
        lambda: silver.merge(
            batch,
            ["k"],
            delete_condition="op = 'D'",
            dedup_order_col="_commit_version",
            exclude_cols=["_commit_version", "op"],
        ),
    )
    assert n == 1, f"{n} Spark jobs"
    assert res["images"] == res["rewrite"] == res["condition"] == "driver"
    assert _rows(silver.read()) == _rows(src.read())


@pytest.mark.parametrize("source", ["dataframe_comment", "arrow_naive_timestamp"])
def test_evolved_column_commits_one_schema_on_both_paths(spark, tmp_path, source):
    """A small batch that evolves in a column commits the schema the
    Spark path commits: a DataFrame's commented column keeps the
    comment, which Arrow alone would drop, and an Arrow batch's
    timezone-naive timestamp is TIMESTAMP_NTZ on both paths (the Spark
    path converts the batch to the schema the driver path reads)."""
    if source == "dataframe_comment":
        src = _local(spark, [(1, 5, "a"), (60, 6, "b")], "id long, v long, w string")
        src = src.withMetadata("w", {"comment": "a note"})
    else:
        ts = datetime.datetime(2024, 3, 10, 7)
        src = pa.table(
            {
                "id": pa.array([1, 60], pa.int64()),
                "v": pa.array([5, 6], pa.int64()),
                "w": pa.array([ts, ts], pa.timestamp("us")),
            }
        )
    saved = spark.conf.get(THRESHOLD)
    got = {}
    try:
        for path, threshold in (("driver", None), ("spark", "-1")):
            t = _mix_target(spark, str(tmp_path / path))
            if threshold:
                spark.conf.set(THRESHOLD, threshold)
            images = t.merge(src, ["id"])["images"]
            got[path] = images, t.get_commit().schema_json, _rows(t.read())
    finally:
        spark.conf.set(THRESHOLD, saved)
    assert got["driver"][0] == "driver" and got["spark"][0] == "spark"
    assert got["driver"][1:] == got["spark"][1:]
    w = T.StructType.fromJson(json.loads(got["driver"][1]))["w"]
    if source == "dataframe_comment":
        assert w.metadata["comment"] == "a note"
    else:
        assert w.dataType == T.TimestampNTZType()


def test_collected_null_key_batch_runs_its_source_once(spark, tmp_path):
    """A small DataFrame is collected once; a NULL key sends the
    collected rows, not the DataFrame, to the Spark path."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(None, "x"), (1, "a")], "id long, v string"),
    )
    runs = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(v):
        runs.add(1)
        return v

    src = _local(spark, [(None, "x2"), (2, "b")], "id long, v string")
    res = t.merge(src.select("id", counted("v").alias("v")), ["id"])
    assert res["images"] == "spark"
    assert runs.value == 2  # each source row once
    assert sorted(t.read().collect(), key=str) == sorted(
        [(None, "x2"), (1, "a"), (2, "b")], key=str
    )


def test_pipeline_cycles_keep_silver_file_count(spark, roots):
    """Five cycles of the golden scenario's mix (two inserts, an update,
    a delete) leave each silver table with no more live files than its
    bootstrap, and CT silver equal to its source."""
    source_root, target_root, _ = roots
    store = _setup_scenario(spark, roots)
    run_pipeline(spark, store, source_root, target_root)
    names = ("silver_ct", "silver_ts")
    silver = [VersionedTable(spark, os.path.join(target_root, n)) for n in names]
    boot = [len(t.get_commit().files) for t in silver]
    gone = 2
    for c in range(1, 6):
        ts = f"2024-01-{c + 1:02d} 10:00:00"
        ops = _txn_df(
            spark,
            [
                (10 * c + 1, f"Tran {10 * c + 1}", 1.0 * c),
                (10 * c + 2, f"Tran {10 * c + 2}", 2.0 * c),
                (1, "Test Tran 1", 100.0 * c),
                (gone, "gone", 0.0),
            ],
            ts,
        ).withColumn("op", F.when(F.col("TransactionId") == gone, "D"))
        for name in ("transactions_ct", "transactions_ts"):
            VersionedTable(spark, os.path.join(source_root, name)).merge(
                ops, ["TransactionId"], delete_condition="op = 'D'", exclude_cols=["op"]
            )
        res = run_pipeline(spark, store, source_root, target_root)
        assert [r.action for r in res] == ["incremental"] * 2
        assert [r.merge["images"] for r in res] == ["driver"] * 2
        gone = 10 * c + 2
    live = [len(t.get_commit().files) for t in silver]
    assert all(n <= b for n, b in zip(live, boot)), (live, boot)
    ct_src = VersionedTable(spark, os.path.join(source_root, "transactions_ct"))
    assert _rows(silver[0].read().select(*ct_src.read().columns)) == _rows(
        ct_src.read()
    )


def test_empty_results_commit_no_file(spark, tmp_path):
    """No writer commits the schema-only file Spark writes for an empty
    result, and every operation works on a table with no file."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), spark.createDataFrame([], "id long, v long")
    )
    assert t.get_commit().files == []
    t.update("id = 1", {"v": F.lit(0)})
    t.delete("id = 1")
    t.delete("id = 1", use_dv=True)
    t.overwrite(spark.createDataFrame([], "id long, v long"), replace_where="id > 5")
    t.compact(cluster_by=["id"])
    src = _local(spark, [(1, 10, False), (2, 20, False)], "id long, v long, d boolean")
    assert t.merge(src, ["id"], delete_condition="d", exclude_cols=["d"])[
        "images"
    ] == "driver"
    # a merge that deletes every row leaves the table with no file again
    gone = _local(spark, [(1, 0, True), (2, 0, True)], "id long, v long, d boolean")
    t.merge(gone, ["id"], delete_condition="d", exclude_cols=["d"])
    assert t.get_commit().files == [] and t.read().count() == 0
    t.update("id = 1", {"v": F.lit(0)})
    t.delete("id = 2", use_dv=True)
    assert _rows(t.change_feed(0), ("_commit_version",)) == Counter(
        {(1, 10, "insert"): 1, (2, 20, "insert"): 1, (1, 10, "delete"): 1, (2, 20, "delete"): 1}
    )


def test_arrow_create_writes_on_driver(spark, tmp_path):
    """``create`` of a ``pyarrow.Table`` writes commit 0 on the driver
    with no Spark job: ALWAYS identity ids, high-water and schema as the
    Spark path gives them, and a zero-row table lists no file. A BY
    DEFAULT identity the batch does not carry and a ``column_order``
    write on the driver too, as the same create of a DataFrame on the
    Spark path writes them; ``partition_by`` and a batch that carries
    BY DEFAULT values take the Spark path."""
    rows = _arrow([(f"r{i}",) for i in range(5)], "s string")
    made = {}
    for side, df in (("driver", rows), ("spark", spark.createDataFrame(rows))):
        n, made[side] = _jobs_during(
            spark,
            lambda: _with_threshold(  # a small DataFrame is collected too
                spark,
                "-1",
                lambda: VersionedTable.create(
                    spark, str(tmp_path / side), df, identity={"id": (10, 5)}
                ),
            ),
        )
        assert (n == 0) == (side == "driver"), (side, n)
    t, s = made["driver"], made["spark"]
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (10 + 5 * i, f"r{i}") for i in range(5)
    ]
    assert _rows(t.read()) == _rows(s.read())
    assert _rows(t.change_feed(-1)) == _rows(s.change_feed(-1))
    assert t.identity_high_water("id") == s.identity_high_water("id") == 30
    assert t.get_commit(0).schema_json == s.get_commit(0).schema_json
    assert t.append(_arrow([("r5",)], "s string")) == 1
    assert t.identity_high_water("id") == 35

    n, e = _jobs_during(
        spark,
        lambda: VersionedTable.create(
            spark, str(tmp_path / "empty"), _arrow([], "id long, v string")
        ),
    )
    assert n == 0
    c = e.get_commit(0)
    assert (c.files, c.cdf_files, e.read().count()) == ([], [], 0)
    assert e.schema().simpleString() == "struct<id:bigint,v:string>"

    for i, (kw, names) in enumerate(
        [
            ({"identity": {"id": {"start": 1, "mode": "default"}}}, ["id", "s"]),
            ({"identity": {"id": (1, 1)}, "column_order": ["s", "id"]}, ["s", "id"]),
        ]
    ):
        for side, df in (("driver", rows), ("spark", spark.createDataFrame(rows))):
            n, made[side] = _jobs_during(
                spark,
                lambda: _with_threshold(
                    spark,
                    "-1",
                    lambda: VersionedTable.create(
                        spark, str(tmp_path / f"{side}{i}"), df, **kw
                    ),
                ),
            )
            assert (n == 0) == (side == "driver"), (kw, side, n)
        t, s = made["driver"], made["spark"]
        assert t.schema().names == names
        assert _rows(t.read()) == _rows(s.read())
        assert _rows(t.change_feed(-1)) == _rows(s.change_feed(-1))
        assert t.get_commit(0).schema_json == s.get_commit(0).schema_json
        assert t.identity_high_water("id") == s.identity_high_water("id") == 5

    carried = _arrow([(7, "a"), (3, "b")], "id long, s string")
    for i, (df, kw, names) in enumerate(
        [
            (rows, {"partition_by": ["s"]}, ["s"]),
            (carried, {"identity": {"id": {"start": 1, "mode": "default"}}}, ["id", "s"]),
        ]
    ):
        n, f = _jobs_during(
            spark,
            lambda: VersionedTable.create(spark, str(tmp_path / f"f{i}"), df, **kw),
        )
        assert n > 0, kw
        assert f.schema().names == names
        assert f.read().count() == df.num_rows


def test_create_assigns_contiguous_ids_and_prepends_column(spark, tmp_path):
    t = _mk_identity(spark, tmp_path)
    assert [f.name for f in t.schema().fields][0] == "id"
    rows = sorted((r.id, r.s) for r in t.read().collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    assert t.identity_high_water("id") == 3
    assert t.identity_columns() == {"id": (1, 1)}


def test_custom_start_and_step(spark, tmp_path):
    df = spark.createDataFrame([("x",), ("y",)], "s string")
    t = VersionedTable.create(
        spark, str(tmp_path / "ss"), df, identity={"id": (100, 10)}
    )
    assert sorted(r.id for r in t.read().collect()) == [100, 110]
    t.append(spark.createDataFrame([("z",)], "s string"))
    assert sorted(r.id for r in t.read().collect()) == [100, 110, 120]


def test_by_default_create_with_explicit_initial_values(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "seed"),
        spark.createDataFrame([(7, "a"), (3, "b")], "id long, s string"),
        identity={"id": {"start": 1, "step": 1, "mode": "default"}},
    )
    assert sorted((r.id, r.s) for r in t.read().collect()) == [
        (3, "b"),
        (7, "a"),
    ]
    t.append(spark.createDataFrame([("c",)], "s string"))
    assert t.read().filter("s = 'c'").collect()[0].id == 8


def test_sql_identity_position_and_nullability_preserved(spark, tmp_path):
    """ADVICE r11: the DDL-declared column position survives (no
    prepend), and the identity column is implicitly NOT NULL."""
    p = str(tmp_path / "pos")
    execute_dml(
        spark,
        f"CREATE TABLE versioned.`{p}` "
        "(s STRING, id BIGINT GENERATED ALWAYS AS IDENTITY, v INT)",
    )
    t = VersionedTable(spark, p)
    fields = {f.name: f for f in t.schema().fields}
    assert [f.name for f in t.schema().fields] == ["s", "id", "v"]
    assert fields["id"].nullable is False
    assert t.not_null_columns() == ["id"]
    execute_dml(
        spark, f"INSERT INTO versioned.`{p}` (s, v) VALUES ('a', 7)"
    )
    r = t.read().collect()[0]
    assert (r.s, r.id, r.v) == ("a", 1, 7)
    # SELECT * positional order matches the DDL
    assert t.read().columns == ["s", "id", "v"]


def test_sql_create_table_failure_leaves_no_partial_table(spark, tmp_path):
    """ADVICE r11: a bad DEFAULT expression must not leave a
    half-created table behind — the corrected statement re-runs."""
    p = str(tmp_path / "atomic")
    with pytest.raises(Exception):
        execute_dml(
            spark,
            f"CREATE TABLE versioned.`{p}` "
            "(s STRING, n INT DEFAULT no_such_function_xyz())",
        )
    assert not VersionedTable.exists(p)
    execute_dml(
        spark,
        f"CREATE TABLE versioned.`{p}` (s STRING, n INT DEFAULT 7)",
    )
    execute_dml(spark, f"INSERT INTO versioned.`{p}` (s) VALUES ('a')")
    assert VersionedTable(spark, p).read().collect()[0].n == 7


def test_partitioned_create_one_value_per_file(spark, tmp_path):
    t = _mk_partitioned(spark, tmp_path)
    assert t.partition_columns() == ["day"]
    c = t.get_commit()
    fs = c.stats["file_stats"]
    seen = set()
    for f in c.files:
        lo, hi = fs[f]["day"]
        assert lo == hi  # exactly one partition value per file
        seen.add(lo)
        assert "__part__day=" in f  # layout is self-describing
    assert seen == {"d1", "d2", "d3"}
    # the REAL column is in the files: plain snapshot read is complete
    rows = t.read().collect()
    assert len(rows) == 30
    assert {r.day for r in rows} == {"d1", "d2", "d3"}
    # no shadow column leaks into the schema or the rows
    assert [f.name for f in t.schema().fields] == ["id", "day", "v"]


def test_partition_column_guards(spark, tmp_path):
    t = _mk_partitioned(spark, tmp_path, name="guards")
    with pytest.raises(ValueError, match="PARTITIONED BY"):
        t.drop_column("day")
    # a write omitting the partition column null-fills it (Delta
    # semantics: null partition value), lands in the default-partition
    # file, and stays readable
    t.append(spark.createDataFrame([(777, 7.0)], "id long, v double"))
    assert t.read().filter("id = 777").collect()[0].day is None
    # rename follows the column
    t.rename_column("day", "dt")
    assert t.partition_columns() == ["dt"]
    t.append(
        spark.createDataFrame(
            [(300, "d7", 3.0)], "id long, dt string, v double"
        )
    )
    assert t.read().filter("dt = 'd7'").count() == 1
    # reserved shadow prefix refused at create
    with pytest.raises(ValueError, match="__part__"):
        VersionedTable.create(
            spark,
            str(tmp_path / "bad"),
            spark.createDataFrame([(1, "x")], "`__part__p` long, p string"),
            partition_by=["p"],
        )
    with pytest.raises(ValueError, match="not in the created"):
        VersionedTable.create(
            spark,
            str(tmp_path / "bad2"),
            spark.createDataFrame([(1,)], "id long"),
            partition_by=["nope"],
        )


def _ranged(spark, n, parts):
    """``n`` rows over ``parts`` range partitions, the second one empty
    (when there are more than two): a non-null key, a commented column,
    a nullable string and a timestamp."""
    k = F.col("id")
    return (
        spark.range(n, numPartitions=parts)
        .filter((k < n // parts) | (k >= 2 * n // parts) | F.lit(parts < 3))
        .select(
            k.alias("k"),
            (k * 3).alias("c", metadata={"comment": "three times k"}),
            F.when(k % 5 > 0, F.concat(F.lit("s"), k.cast("string"))).alias("s"),
            F.lit(datetime.datetime(2024, 1, 1)).cast("timestamp").alias("ts"),
        )
    )


def _layout(t: VersionedTable) -> list:
    """Per commit: its schema and, per data file, the columns with
    footer stats but ``ts`` (Spark writes timestamps as INT96, which has
    no min/max)."""
    out = []
    for c in t.history():
        fstats = c.stats.get("file_stats", {})
        out.append(
            (
                c.schema_json,
                len(c.cdf_files),
                sorted(sorted(set(fstats[f]) - {"ts"}) for f in c.files),
            )
        )
    return out


def test_small_dataframe_create_and_append_write_on_driver(spark, tmp_path):
    """A small DataFrame ``create`` or ``append`` collects its rows in
    one Spark job and writes them on the driver, one data file and one
    insert-image file per non-empty partition. The same writes through
    the Spark path (threshold ``-1``) give the same snapshot, change
    feed, schema (non-null and commented columns), identity ids and
    high-water, files per partition and footer-stats columns, and an
    ``Observation`` on the DataFrame fires on both."""
    made = {}
    for side, threshold in (("driver", None), ("spark", "-1")):

        def writes():
            obs = Observation()
            t, n = VersionedTable.create(
                spark,
                str(tmp_path / side),
                _ranged(spark, 40, 4).observe(obs, F.count(F.lit(1)).alias("n")),
                identity={"id": (100, 2)},
            ), []
            n.append(_last_job(spark))
            assert obs.get == {"n": 30}  # the bootstrap's row count
            t.append(_ranged(spark, 10, 2))
            n.append(_last_job(spark))
            return t, n

        before = _last_job(spark)
        t, after = _with_threshold(spark, threshold, writes)
        jobs = [after[0] - before, after[1] - after[0]]
        if side == "driver":
            assert jobs == [1, 1], jobs
            assert all("/ds-" in f for f in t.get_commit().files)
        else:
            assert min(jobs) > 1, jobs
        made[side] = t
    d, s = made["driver"], made["spark"]
    assert _rows(d.read()) == _rows(s.read())
    assert d.read().count() == 40 - 10 + 10
    assert _rows(d.change_feed(-1)) == _rows(s.change_feed(-1))
    assert _layout(d) == _layout(s)
    assert [len(c.files) for c in d.history()] == [3, 5]
    assert d.identity_high_water("id") == s.identity_high_water("id") == 178
    fields = {f.name: f for f in d.schema().fields}
    assert not fields["k"].nullable and fields["s"].nullable
    assert fields["c"].metadata["comment"] == "three times k"


def test_dataframe_writes_keep_spark_path(spark, tmp_path):
    """A plan over the threshold, a ``partition_by`` create and a
    schema-evolving append keep the Spark path: Spark writes the files
    and nothing collects the DataFrame first."""

    def spark_written(fn):
        calls, t = _calls_during(fn, (tables, "_collect"))
        assert calls["_collect"] == []
        c = t.get_commit()
        old = set(t.get_commit(c.version - 1).files) if c.version else set()
        assert not any("/ds-" in f for f in set(c.files) - old)
        return t

    spark_written(
        lambda: _with_threshold(
            spark,
            "1024",
            lambda: VersionedTable.create(
                spark, str(tmp_path / "big"), _ranged(spark, 4000, 4)
            ),
        )
    )
    t = spark_written(
        lambda: VersionedTable.create(
            spark, str(tmp_path / "part"), _ranged(spark, 40, 4), partition_by=["s"]
        )
    )
    assert t.read().count() == 30
    t = VersionedTable.create(spark, str(tmp_path / "evolve"), _ranged(spark, 8, 2))
    spark_written(
        lambda: (t.append(_ranged(spark, 8, 2).withColumn("x", F.lit(1))), t)[1]
    )
    assert t.schema().names == ["k", "c", "s", "ts", "x"]
    assert t.read().count() == 16


def test_sql_ctas_and_insert_write_on_driver(spark, tmp_path):
    """A CTAS and an ``INSERT`` through ``sqldml`` hand ``create`` and
    ``append`` a small local relation: each starts one Spark job and
    the driver writes its file."""
    tgt = f"versioned.`{tmp_path / 'ctas'}`"  # k BIGINT: 3 is widened
    n, _ = _jobs_during(
        spark,
        lambda: execute_dml(
            spark,
            f"CREATE TABLE {tgt} AS SELECT * FROM VALUES "
            "(CAST(1 AS BIGINT), 'a'), (CAST(2 AS BIGINT), 'b') AS v(k, s)",
        ),
    )
    assert n == 1
    n, _ = _jobs_during(
        spark, lambda: execute_dml(spark, f"INSERT INTO {tgt} VALUES (3, 'c')")
    )
    assert n == 1
    t = VersionedTable(spark, str(tmp_path / "ctas"))
    assert sorted(map(tuple, t.read().collect())) == [(1, "a"), (2, "b"), (3, "c")]
    assert all("/ds-" in f for f in t.get_commit().files)


def test_config_store_init_is_idempotent(spark, tmp_path):
    """``ConfigStore.init`` creates both control tables on the driver
    with no Spark job; on an existing store it commits nothing, and the
    ids it declared keep counting."""
    store = ConfigStore(spark, str(tmp_path / "cfg"))
    n, _ = _jobs_during(spark, store.init)
    assert n == 0
    tables = (store.entities, store.watermarks)
    assert [t.identity_columns() for t in tables] == [
        {"EntityId": (1, 1)},
        {"WatermarkId": (1, 1)},
    ]
    assert [t.get_commit().files for t in tables] == [[], []]
    assert store.register_entity("a", "silver_a", "CT", ["k"]) == 1
    versions = [t.latest_version() for t in tables]
    store.init()
    assert [t.latest_version() for t in tables] == versions
    assert store.register_entity("b", "silver_b", "CT", ["k"]) == 2
    assert [e.EntityId for e in store.entities_with_watermarks()] == [1, 2]


def test_txn_tokens_make_retries_idempotent(spark, tmp_path):
    """Delta txnAppId/txnVersion parity: a replayed (app, version)
    append or merge is a structural no-op; the watermark survives
    unrelated commits (compact) and is tracked per app."""
    path = str(tmp_path / "t")
    t = VersionedTable.create(
        spark,
        path,
        spark.createDataFrame([(1, "a")], "id bigint, v string"),
    )
    b = spark.createDataFrame([(2, "b")], "id bigint, v string")
    v1 = t.append(b, txn_app="ingest", txn_version=7)
    assert t.txn_version("ingest") == 7
    assert t.append(b, txn_app="ingest", txn_version=7) == v1  # replay
    assert t.read().count() == 2  # not duplicated
    t.compact()  # unrelated commit must not lose the watermark
    assert t.txn_version("ingest") == 7
    assert t.append(b, txn_app="ingest", txn_version=6) == t.latest_version()
    assert t.read().count() == 2  # stale txn skipped
    r = t.merge(
        spark.createDataFrame([(2, "b2")], "id bigint, v string"),
        keys=["id"],
        txn_app="merger",
        txn_version=1,
    )
    assert not r.get("txn_skipped")
    r2 = t.merge(
        spark.createDataFrame([(2, "b3")], "id bigint, v string"),
        keys=["id"],
        txn_app="merger",
        txn_version=1,
    )
    assert r2.get("txn_skipped")
    rows = {x.id: x.v for x in t.read().collect()}
    assert rows[2] == "b2"  # replayed merge did not apply
    assert t.txn_version("ingest") == 7 and t.txn_version("merger") == 1
    with pytest.raises(ValueError):
        t.append(b, txn_app="ingest")  # app without version


def test_arrow_merge_replay_is_txn_skipped(spark, tmp_path):
    """A replayed (app, version) merge of an Arrow batch is skipped
    before the batch is read, on the driver path as on the Spark one."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "a")], "id long, v string"),
    )
    first = t.merge(
        _arrow([(1, "b"), (2, "c")], "id long, v string"),
        ["id"],
        txn_app="load",
        txn_version=3,
    )
    assert first["images"] == "driver" and not first.get("txn_skipped")
    replay = t.merge(
        _arrow([(1, "z")], "id long, v string"), ["id"], txn_app="load", txn_version=3
    )
    assert replay == {"version": first["version"], "txn_skipped": True}
    assert {r.id: r.v for r in t.read().collect()} == {1: "b", 2: "c"}


def test_time_travel_and_change_feed(spark, tmp_path):
    p = str(tmp_path / "tbl")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    t.merge(spark.createDataFrame([(2, "b2"), (3, "c")], "id long, v string"), ["id"])
    assert {r.id for r in t.read(0).collect()} == {1, 2}
    assert {(r.id, r.v) for r in t.read().collect()} == {(1, "a"), (2, "b2"), (3, "c")}
    feed = t.change_feed(0).collect()
    types = {(r.id, r._change_type, r.v) for r in feed if r._commit_version == 1}
    # Delta-CDF shape: post-image with new values, pre-image with old
    assert (2, "update_postimage", "b2") in types
    assert (2, "update_preimage", "b") in types
    assert (3, "insert", "c") in types
    assert t.change_feed(t.latest_version()).count() == 0


def test_merge_only_rewrites_touched_files(spark, tmp_path):
    """Copy-on-write efficiency: merging a single key must carry over the
    files that don't contain it."""
    p = str(tmp_path / "tbl")
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).repartition(8)
    t = VersionedTable.create(spark, p, df)
    assert len(t.get_commit().files) >= 8
    stats = t.merge(
        spark.createDataFrame([(5, 99)], "id long, v long"), ["id"]
    )
    assert stats["touched_files"] == 1
    assert stats["carryover_files"] == len(t.get_commit(0).files) - 1
    rows = {r.id: r.v for r in t.read().collect()}
    assert rows[5] == 99 and len(rows) == 1000


@settings(max_examples=5, deadline=None)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(0, 6),  # k1
                st.sampled_from(["a", "b"]),  # k2
                st.integers(0, 100),  # value
                st.booleans(),  # delete?
            ),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_merge_equals_latest_per_key_oracle(spark_global, tmp_sup, batches):
    """merge(history) ≡ row_number-latest-per-key(concatenated history),
    with delete-wins semantics — O12/O13 as its own oracle — on both
    merge paths: the history runs once on the driver path and once with
    the threshold at -1 on the Spark path, and the two give the same
    snapshot and change feed."""
    import uuid as _uuid

    spark = spark_global
    ddl = "k1 long, k2 string, v long, is_del boolean, seq long"
    threshold = spark.conf.get(THRESHOLD)
    got = {}
    try:
        for path, th in (("driver", threshold), ("spark", "-1")):
            spark.conf.set(THRESHOLD, th)
            t = VersionedTable.create(
                spark,
                os.path.join(tmp_sup, _uuid.uuid4().hex),
                spark.createDataFrame([], "k1 long, k2 string, v long, seq long"),
            )
            seq = 0
            for batch in batches:
                rows = []
                for k1, k2, v, is_del in batch:
                    rows.append((k1, k2, v, is_del, seq))
                    seq += 1
                res = t.merge(
                    _local(spark, rows, ddl),
                    ["k1", "k2"],
                    delete_condition="is_del",
                    dedup_order_col="seq",
                    exclude_cols=["is_del"],
                )
                assert res["images"] == path
            got[path] = (_rows(t.read(), ("seq",)), _rows(t.change_feed(0)))
    finally:
        spark.conf.set(THRESHOLD, threshold)

    # oracle: apply the history sequentially; deletes remove the key.
    latest: dict = {}
    for batch in batches:
        for k1, k2, v, is_del in batch:
            if is_del:
                latest.pop((k1, k2), None)
            else:
                latest[(k1, k2)] = v

    want = Counter((k1, k2, v) for (k1, k2), v in latest.items())
    assert got["driver"][0] == want, f"batches={batches}"
    assert got["spark"] == got["driver"], f"batches={batches}"


def test_merge_null_key_is_updated_not_duplicated(spark, tmp_path):
    """ADVICE r1: NULL-keyed target rows must be treated null-safely by
    touched-file detection — merging a NULL-keyed source row updates the
    existing NULL-keyed target row instead of carrying the original file
    AND writing a new merged row (duplicate key)."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t_null_merge"),
        spark.createDataFrame([(None, "x"), (1, "a")], "id long, v string"),
    )
    t.merge(
        spark.createDataFrame([(None, "x2"), (2, "b")], "id long, v string"),
        ["id"],
    )
    rows = [(r.id, r.v) for r in t.read().collect()]
    assert sorted(rows, key=str) == sorted(
        [(None, "x2"), (1, "a"), (2, "b")], key=str
    )
    assert len(rows) == 3, f"duplicate produced: {rows}"


def test_merge_matched_condition_null_is_false(spark, tmp_path):
    """A NULL condition result keeps the target row (SQL WHEN semantics)."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "keep", None)], "id long, v string, seq long"),
    )
    t.merge(
        spark.createDataFrame([(1, "new", 5)], "id long, v string, seq long"),
        ["id"],
        matched_update_condition="s.seq > t.seq",  # 5 > NULL → NULL → skip
    )
    assert t.read().collect()[0].v == "keep"


# -- the Spark-only merges: WHEN NOT MATCHED BY SOURCE and a matched condition


def test_merge_nmbs_delete_full_sync(spark, tmp_path):
    """Full-sync merge: source is the complete desired state; target rows
    it doesn't mention are deleted, matched rows update, new rows insert
    — and the change feed carries delete images for the purged rows."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(i, f"old{i}") for i in range(1, 7)], "id long, v string"
        ),
    )
    out = t.merge(
        spark.createDataFrame(
            [(2, "new2"), (4, "new4"), (7, "new7")], "id long, v string"
        ),
        ["id"],
        not_matched_by_source_delete="true",
    )
    assert out["version"] == 1
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {2: "new2", 4: "new4", 7: "new7"}
    cf = t.change_feed(0)
    deleted = sorted(
        r.id for r in cf.filter("_change_type = 'delete'").collect()
    )
    assert deleted == [1, 3, 5, 6]
    assert cf.filter("_change_type = 'insert'").count() == 1  # id 7
    assert cf.filter("_change_type = 'update_postimage'").count() == 2


def test_merge_nmbs_conditional_delete_prunes_files(spark, tmp_path):
    """A conditional by-source delete only rewrites files whose rows are
    unmatched AND satisfy the condition — copy-on-write pruning holds."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, "keep"), (2, "keep")], "id long, status string"
        ).coalesce(1),
    )
    t.append(
        spark.createDataFrame(
            [(3, "stale"), (4, "keep")], "id long, status string"
        ).coalesce(1)
    )
    # source matches nothing; condition only hits the second file (id 3)
    out = t.merge(
        spark.createDataFrame([(99, "x")], "id long, status string"),
        ["id"],
        not_matched_by_source_delete="status = 'stale'",
    )
    assert out["touched_files"] == 1
    assert out["carryover_files"] == 1
    got = sorted(r.id for r in t.read().collect())
    assert got == [1, 2, 4, 99]


def test_merge_nmbs_update_marks_stale(spark, tmp_path):
    """By-source UPDATE: unmatched target rows get target-side
    assignments (gated by a condition), with exact CDF pre/post images."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, "live", 10), (2, "live", 20), (3, "dead", 30)],
            "id long, status string, n long",
        ),
    )
    t.merge(
        spark.createDataFrame([(1, "live", 11)], "id long, status string, n long"),
        ["id"],
        not_matched_by_source_update={"status": "'stale'", "n": "n + 100"},
        not_matched_by_source_update_condition="status = 'live'",
    )
    got = {r.id: (r.status, r.n) for r in t.read().collect()}
    assert got == {
        1: ("live", 11),       # matched: updated from source
        2: ("stale", 120),     # unmatched + condition: assignments applied
        3: ("dead", 30),       # unmatched, condition false: untouched
    }
    cf = t.change_feed(0)
    pre = {
        r.id: (r.status, r.n)
        for r in cf.filter(
            "_change_type = 'update_preimage' and id = 2"
        ).collect()
    }
    post = {
        r.id: (r.status, r.n)
        for r in cf.filter(
            "_change_type = 'update_postimage' and id = 2"
        ).collect()
    }
    assert pre == {2: ("live", 20)} and post == {2: ("stale", 120)}


def test_merge_nmbs_delete_beats_update(spark, tmp_path):
    """When both by-source clauses match a row, delete wins (documented
    clause order) — the row is gone, not updated."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "x"), (2, "x")], "id long, v string"),
    )
    t.merge(
        spark.createDataFrame([(2, "upd")], "id long, v string"),
        ["id"],
        not_matched_by_source_delete="id = 1",
        not_matched_by_source_update={"v": "'touched'"},
    )
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {2: "upd"}  # id 1 deleted, not updated


def test_merge_nmbs_validates_assignments(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "a")], "id long, v string"),
    )
    with pytest.raises(ValueError, match="unknown"):
        t.merge(
            spark.createDataFrame([(1, "b")], "id long, v string"),
            ["id"],
            not_matched_by_source_update={"nope": "'x'"},
        )
    with pytest.raises(ValueError, match="requires"):
        t.merge(
            spark.createDataFrame([(1, "b")], "id long, v string"),
            ["id"],
            not_matched_by_source_update_condition="true",
        )


def test_merge_nmbs_conflicts_on_concurrent_append(spark, tmp_path):
    """OCC is conservative under a by-source clause: ANY concurrently
    added file conflicts (its rows would be unmatched-by-source in a
    serial execution), even if its keys don't collide with the merge."""
    p = str(tmp_path / "t")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a")], "id long, v string")
    )

    def racing_foreign_append():
        VersionedTable(spark, p).append(
            spark.createDataFrame([(50, "x")], "id long, v string")
        )

    _inject_before_merge_commit(t, racing_foreign_append)
    with pytest.raises(CommitConflictError, match="NOT MATCHED BY SOURCE"):
        t.merge(
            spark.createDataFrame([(1, "upd")], "id long, v string"),
            ["id"],
            not_matched_by_source_delete="true",
        )
    # re-run on the fresh snapshot: full-sync semantics now purge id 50
    t2 = VersionedTable(spark, p)
    t2.merge(
        spark.createDataFrame([(1, "upd")], "id long, v string"),
        ["id"],
        not_matched_by_source_delete="true",
    )
    assert {r.id: r.v for r in t2.read().collect()} == {1: "upd"}


def test_merge_nmbs_checksum_converges(spark, tmp_path):
    """IncrementalChecksum consuming the change feed across a by-source
    merge converges to the recomputed truth — the NMBS delete/update
    images are exact."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(i, i * 10) for i in range(8)], "id long, n long"
        ),
    )
    cs = IncrementalChecksum(spark, t, str(tmp_path / "cs"))
    cs.refresh()
    t.merge(
        spark.createDataFrame([(0, 5), (9, 90)], "id long, n long"),
        ["id"],
        not_matched_by_source_delete="id >= 6",
        not_matched_by_source_update={"n": "n + 1"},
    )
    cs.refresh()
    assert cs.current() == cs.compute_now()


def test_merge_matched_update_condition_guards_out_of_order(spark, tmp_path):
    """Delta's whenMatchedUpdate(condition): 's.seq > t.seq' keeps a
    late replay of an OLD batch from overwriting newer data — skipped
    rows carry byte-identical and emit NO change-feed images."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, "v5", 5), (2, "v9", 9)], "id long, v string, seq long"
        ),
    )
    cs = IncrementalChecksum(spark, t, str(tmp_path / "cs"))
    cs.refresh()
    # late batch: id1 newer (7>5, applies), id2 older (3<9, skipped),
    # id3 brand-new (inserts regardless of the matched condition)
    out = t.merge(
        spark.createDataFrame(
            [(1, "v7", 7), (2, "v3", 3), (3, "v1", 1)],
            "id long, v string, seq long",
        ),
        ["id"],
        matched_update_condition="s.seq > t.seq",
    )
    got = {r.id: (r.v, r.seq) for r in t.read().collect()}
    assert got == {1: ("v7", 7), 2: ("v9", 9), 3: ("v1", 1)}
    cf = t.change_feed(0)
    assert cf.filter("id = 2").count() == 0  # skipped: no images at all
    assert cf.filter("id = 1 and _change_type = 'update_postimage'").count() == 1
    assert cf.filter("id = 3 and _change_type = 'insert'").count() == 1
    cs.refresh()
    assert cs.current() == cs.compute_now()
    # delete still wins over a failing update condition
    t.merge(
        spark.createDataFrame(
            [(2, "x", 0, True)], "id long, v string, seq long, is_del boolean"
        ),
        ["id"],
        delete_condition="is_del",
        exclude_cols=["is_del"],
        matched_update_condition="s.seq > t.seq",
    )
    assert t.read().filter("id = 2").count() == 0


def test_merge_nmbs_composes_with_schema_evolution(spark, tmp_path):
    """A source that evolves a new column in + by-source clauses in one
    merge: unmatched rows null-fill the new column (update assignments
    still see only OLD target columns), and the feed stays exact."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 10), (2, 20)], "id long, n long"),
    )
    cs = IncrementalChecksum(spark, t, str(tmp_path / "cs"))
    cs.refresh()
    t.merge(
        spark.createDataFrame([(1, 11, "x")], "id long, n long, tag string"),
        ["id"],
        not_matched_by_source_update={"n": "n + 1000"},
    )
    got = {r.id: (r.n, r.tag) for r in t.read().collect()}
    assert got == {1: (11, "x"), 2: (1020, None)}
    cs.refresh()
    assert cs.current() == cs.compute_now()


# -- the delete condition on the driver ----------------------------------------

_UTC = datetime.timezone.utc
_COND_ROWS = pa.table(
    {
        "s": ["D", "U", None, "I", "d", "M", "D", None, "z", "", "D", "U"],
        "i": pa.array(
            [1, 2, None, 3, 1, None, -5, 2, 2**63 - 1, 0, 1, 3], pa.int64()
        ),
        "j": pa.array([1, 2, None, None, 0, 1, 2, 3, 4, 5, -1, None], pa.int32()),
        "f": [1.0, 2.5, None, -0.0, 0.0, 2.0, 1e308, None, -1.5, 3.0, 1.0, 2.0],
        "g": pa.array(
            [1.0, 1.5, None, 0.1, 2.0, -1.0, 1.25, None, 3.0, 0.0, 1.5, 2.5],
            pa.float32(),
        ),
        "b": [True, False, None, True, None, False]
        + [True, False, None, True, False, True],
        "ts": pa.array(
            [datetime.datetime(2024, 1, 1 + k % 3, tzinfo=_UTC) for k in range(11)]
            + [None],
            pa.timestamp("us", "UTC"),
        ),
    }
)
# conditions the driver evaluates: strings, integers, doubles, floats and
# booleans with NULLs, IN lists with a NULL, NULL literals, and nested
# AND/OR/NOT in three-valued logic
_DRIVER_CONDITIONS = [
    "s = 'D'",
    "'D' = s",
    "s <> 'D'",
    "s != 'D'",
    "s < 'M'",
    "s >= 'd'",
    "s <=> 'D'",
    "s <=> NULL",
    "NULL <=> s",
    "s = NULL",
    "s IN ('D', 'U')",
    "s IN ('D', NULL)",
    "s NOT IN ('D', NULL)",
    "s NOT IN ('D', '')",
    "s IS NULL",
    "s IS NOT NULL",
    "i = 1",
    "i > 1L",
    "i <= 2.5D",
    "i = 9.223372036854776E18D",
    "i IN (1, 3, NULL)",
    "i NOT IN (1, 2)",
    "i IN (2, 2.5D)",
    "i <=> 2",
    "j < i",
    "i <=> j",
    "j >= 2Y",
    "j IN (1S, 3)",
    "f > 1",
    "f = 0.0D",
    "f IN (1e0, 2.5D, NULL)",
    "f <= j",
    "g < 1.5F",
    "g = 1.25D",
    "g <> f",
    "b",
    "NOT b",
    "b = true",
    "b < true",
    "b <=> NULL",
    "b AND NULL",
    "b OR NULL",
    "NOT NULL",
    "b AND s = 'D'",
    "b OR s = 'D'",
    "NOT (b OR i > 1)",
    "(s = 'D' AND i IS NULL) OR (NOT b AND f < 2)",
    "NOT (s IN ('D', NULL) AND (b OR g > 1D)) OR i <=> NULL",
    "ts IS NULL",
    "1 = 1",
    "NULL = NULL",
    "NULL <=> NULL",
    "false",
]
# conditions Spark keeps: a function, a timestamp against a string, a
# name that matches only ignoring case, a string against a number, a
# decimal literal, an integral against a FLOAT, a cast, arithmetic
_SPARK_CONDITIONS = [
    "upper(s) = 'D'",
    "ts < '2024-01-02'",
    "S = 'D'",
    "s = 1",
    "f = 1.5",
    "i = 1.5F",
    "cast(i AS string) = '1'",
    "i + 1 = 2",
]


def _spark_filter(spark, tbl, cond):
    """Spark's rows of ``tbl`` for ``cond``, as the merge's Spark path
    evaluates it: ``coalesce(cond, false)``."""
    pos = pa.array(range(tbl.num_rows), pa.int64())
    rows = (
        spark.createDataFrame(tbl.append_column("__pos", pos))
        .filter(F.coalesce(F.expr(cond), F.lit(False)))
        .select("__pos")
        .collect()
    )
    return sorted(r[0] for r in rows)


def test_delete_condition_driver_matches_spark(spark):
    """The driver's translation of a delete condition keeps exactly the
    rows Spark's ``filter(coalesce(cond, false))`` keeps; a condition
    outside the translated set, or a float column holding NaN, is left
    to Spark, as is a string column of another collation, CHAR or
    VARCHAR. A string is parsed once; one that does not parse raises."""
    types = tables._spark_types(_COND_ROWS.schema)
    for cond in _DRIVER_CONDITIONS:
        hits = predicate.mask(predicate.parse(spark, cond), _COND_ROWS, types)
        assert hits is not None, cond
        got = [k for k, hit in enumerate(hits) if hit]
        assert got == _spark_filter(spark, _COND_ROWS, cond), cond
    for cond in _SPARK_CONDITIONS:
        tree = predicate.parse(spark, cond)
        assert predicate.mask(tree, _COND_ROWS, types) is None, cond
    nan = _COND_ROWS.set_column(
        3, "f", pa.array([float("nan")] + [1.0] * (_COND_ROWS.num_rows - 1))
    )
    assert predicate.mask(predicate.parse(spark, "f > 1"), nan, types) is None
    for other in (
        T.StructField("s", T.StringType("UTF8_LCASE")),
        *(
            T.StructField("s", T.StringType(), True, {"__CHAR_VARCHAR_TYPE_STRING": t})
            for t in ("char(1)", "varchar(1)")
        ),
    ):
        typed = T.StructType([other if f.name == "s" else f for f in types.fields])
        tree = predicate.parse(spark, "s = 'D' OR i = 1")
        assert predicate.mask(tree, _COND_ROWS, typed) is None, other
    assert predicate.parse(spark, "s = 'D'") is predicate.parse(spark, "s = 'D'")
    with pytest.raises(ParseException):  # as F.expr raises it
        predicate.parse(spark, "s =")


@pytest.mark.parametrize(
    "cond, where",
    [
        ("op = 'D'", "driver"),
        ("upper(op) = 'D'", "spark"),
        ("ts < '2024-01-02'", "spark"),
        ("OP = 'D'", "spark"),
    ],
)
def test_delete_condition_paths_agree(spark, tmp_path, cond, where):
    """An Arrow batch's merge evaluates its delete condition where the
    result's ``condition`` says; a condition the driver leaves to Spark
    deletes the same rows as the Spark path's merge."""
    ddl = "id long, v long, op string, ts timestamp"
    day = [datetime.datetime(2024, 1, d) for d in (1, 2, 3)]
    src = _arrow(
        [
            (1, 10, "D", day[0]),  # deleted by every condition
            (2, 20, "d", day[2]),  # only upper(op) = 'D'
            (3, 30, "U", day[0]),  # only the timestamp one
            (4, 40, None, day[1]),
            (50, 1, "U", day[2]),  # an insert
        ],
        ddl,
    )
    kw = {"delete_condition": cond, "exclude_cols": ["op", "ts"]}
    saved = spark.conf.get(THRESHOLD)
    got = {}
    try:
        for path, threshold in (("driver", None), ("spark", "-1")):
            t = VersionedTable.create(
                spark,
                str(tmp_path / path),
                spark.range(5).select("id", (F.col("id") * 100).alias("v")),
            )
            if threshold:
                spark.conf.set(THRESHOLD, threshold)
            got[path] = t.merge(src, ["id"], **kw), _rows(t.read())
    finally:
        spark.conf.set(THRESHOLD, saved)
    (d_res, d_rows), (s_res, s_rows) = got["driver"], got["spark"]
    assert (d_res["images"], d_res["condition"]) == ("driver", where)
    assert (s_res["images"], s_res["condition"]) == ("spark", "spark")
    assert d_rows == s_rows
    counts = ("rows_inserted", "rows_updated", "rows_deleted")
    assert [d_res[c] for c in counts] == [s_res[c] for c in counts]
