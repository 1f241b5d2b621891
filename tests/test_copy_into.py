"""COPY INTO — Delta's idempotent bulk file ingestion. The loaded-file
registry (path+size+mtime identities) rides the loading commit's stats,
so idempotency is atomic with the data: a crashed load retries for free,
a committed one skips everything."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nrtwithdeltalake_spark.pipeline.sqldml import (
    UnsupportedSqlError,
    execute_dml,
)
from nrtwithdeltalake_spark.pipeline.tables import VersionedTable



# Slow tier (see pytest.ini): excluded from the default driver-budget
# run; executes via `pytest -m slow`.
pytestmark = pytest.mark.slow

def _land(dirpath, name, ids, extra_col=None):
    os.makedirs(dirpath, exist_ok=True)
    cols = {
        "id": pa.array(ids, pa.int64()),
        "s": pa.array([f"s{i}" for i in ids], pa.string()),
    }
    if extra_col:
        cols[extra_col] = pa.array([float(i) for i in ids], pa.float64())
    path = os.path.join(dirpath, name)
    pq.write_table(pa.table(cols), path)
    return path


def _mk(spark, tmp_path, name="t"):
    return VersionedTable.create(
        spark,
        str(tmp_path / name),
        spark.createDataFrame([(0, "s0")], "id long, s string"),
    )


def test_copy_into_is_idempotent(spark, tmp_path):
    t = _mk(spark, tmp_path)
    land = str(tmp_path / "land")
    _land(land, "a.parquet", [1, 2])
    _land(land, "b.parquet", [3])
    out = t.copy_into(land)
    assert out["files_loaded"] == 2 and out["files_skipped"] == 0
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3]
    # re-run: nothing new, no new commit
    v = t.latest_version()
    out2 = t.copy_into(land)
    assert out2 == {"version": v, "files_loaded": 0, "files_skipped": 2}
    assert t.read().count() == 4
    # a new landing file loads alone
    _land(land, "c.parquet", [4])
    out3 = t.copy_into(land)
    assert out3["files_loaded"] == 1 and out3["files_skipped"] == 2
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4]
    assert t.get_commit().op == "copy_into"


def test_copy_into_rewritten_file_counts_as_new(spark, tmp_path):
    t = _mk(spark, tmp_path, "rw")
    land = str(tmp_path / "land_rw")
    _land(land, "a.parquet", [1])
    t.copy_into(land)
    time.sleep(0.01)  # distinct mtime_ns
    _land(land, "a.parquet", [9])  # rewritten in place: new identity
    out = t.copy_into(land)
    assert out["files_loaded"] == 1
    # Delta contract: the rewrite is NEW data; the old load stays
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 9]


def test_copy_into_pattern_and_force(spark, tmp_path):
    t = _mk(spark, tmp_path, "pat")
    land = str(tmp_path / "land_pat")
    _land(land, "a.parquet", [1])
    _land(land, "skip.json.parquet", [2])
    out = t.copy_into(land, pattern="a.*")
    assert out["files_loaded"] == 1
    assert sorted(r.id for r in t.read().collect()) == [0, 1]
    # force reloads regardless of the registry
    out = t.copy_into(land, pattern="a.*", force=True)
    assert out["files_loaded"] == 1
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 1]


def test_copy_into_schema_discipline(spark, tmp_path):
    t = _mk(spark, tmp_path, "schema")
    land = str(tmp_path / "land_schema")
    _land(land, "wide.parquet", [1], extra_col="score")
    with pytest.raises(ValueError, match="mergeSchema"):
        t.copy_into(land)
    # nothing was marked loaded by the refused attempt
    out = t.copy_into(land, merge_schema=True)
    assert out["files_loaded"] == 1
    assert "score" in [f.name for f in t.schema().fields]
    got = {r.id: r.score for r in t.read().collect()}
    assert got[1] == 1.0 and got[0] is None


def test_copy_into_write_gates_apply(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "gate"),
        spark.createDataFrame([], "id long, s string"),
    )
    t.add_constraint("id_small", "id < 100")
    t.add_identity_column("rid")
    land = str(tmp_path / "land_gate")
    _land(land, "bad.parquet", [500])
    from nrtwithdeltalake_spark.pipeline.tables import (
        ConstraintViolationError,
    )

    with pytest.raises(ConstraintViolationError):
        t.copy_into(land)
    # the failed load did NOT consume the file's identity
    _land(land, "good.parquet", [5])
    out = t.copy_into(land, pattern="good.parquet")
    assert out["files_loaded"] == 1
    row = [r for r in t.read().collect() if r.id == 5][0]
    assert row.rid is not None  # identity assigned through COPY INTO


def test_sql_copy_into_with_options(spark, tmp_path):
    t = _mk(spark, tmp_path, "sql")
    land = str(tmp_path / "land_sql")
    os.makedirs(land)
    with open(os.path.join(land, "data.csv"), "w") as f:
        f.write("id,s\n7,s7\n8,s8\n")
    out = execute_dml(
        spark,
        f"COPY INTO versioned.`{t.path}` FROM '{land}' "
        "FILEFORMAT = CSV PATTERN = '*.csv' "
        "FORMAT_OPTIONS ('header' = 'true') ",
    )
    assert out["files_loaded"] == 1
    assert sorted(r.id for r in t.read().collect()) == [0, 7, 8]
    # idempotent through SQL too
    out = execute_dml(
        spark,
        f"COPY INTO versioned.`{t.path}` FROM '{land}' "
        "FILEFORMAT = CSV PATTERN = '*.csv' "
        "FORMAT_OPTIONS ('header' = 'true') ",
    )
    assert out["files_loaded"] == 0
    with pytest.raises(UnsupportedSqlError, match="FILEFORMAT"):
        execute_dml(
            spark,
            f"COPY INTO versioned.`{t.path}` FROM '{land}' "
            "FILEFORMAT = AVRO",
        )


def test_copy_into_csv_extra_column_discipline(spark, tmp_path):
    """Text formats honor the documented schema contract: extra CSV
    tokens FAIL the read (no silent drop); mergeSchema reads discovered
    columns and evolves the table."""
    t = _mk(spark, tmp_path, "csvx")
    land = str(tmp_path / "land_csvx")
    os.makedirs(land)
    with open(os.path.join(land, "wide.csv"), "w") as f:
        f.write("id,s,extra\n7,s7,zzz\n")
    with pytest.raises(Exception, match="FAILED_READ_FILE|Malformed"):
        t.copy_into(
            land, file_format="csv", options={"header": "true"}
        )
    # nothing marked loaded by the failed attempt; mergeSchema evolves
    out = t.copy_into(
        land,
        file_format="csv",
        merge_schema=True,
        options={"header": "true", "inferSchema": "true"},
    )
    assert out["files_loaded"] == 1
    assert "extra" in [f.name for f in t.schema().fields]
    got = {r.id: r.extra for r in t.read().collect()}
    assert got[7] == "zzz" and got[0] is None


def test_estimated_bytes_uses_real_widths(spark, tmp_path):
    """The ANALYZE-fed width table is keyed by simpleString() names —
    int/bigint columns must cost 4/8 bytes, not the 48-byte string
    default (which would defeat the broadcast hint)."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "wid"),
        spark.createDataFrame([(1, 2)], "a int, b bigint"),
    )
    t.analyze()
    assert t.estimated_bytes() == 1 * (4 + 8)


def test_copy_into_wider_source_type_refused_without_merge_schema(
    spark, tmp_path
):
    """A WIDER source type (bigint file into an int table) must not
    slip through append's _merged_schema as silent schema evolution —
    without mergeSchema the load refuses; with it, the table widens
    (ADVICE r12)."""
    from pyspark.sql import types as T

    t = VersionedTable.create(
        spark,
        str(tmp_path / "wt"),
        spark.createDataFrame([(0, "s0")], "id int, s string"),
    )
    land = str(tmp_path / "land")
    _land(land, "a.parquet", [1, 2])  # _land writes id as int64
    with pytest.raises(ValueError, match="wider/incompatible"):
        t.copy_into(land)
    # the refusal happened before the commit: nothing recorded, the
    # same file loads after the mergeSchema opt-in and widens the table
    out = t.copy_into(land, merge_schema=True)
    assert out["files_loaded"] == 1
    assert isinstance(t.schema()["id"].dataType, T.LongType)
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2]


def test_copy_into_malformed_json_fails_loudly(spark, tmp_path):
    """Malformed JSON must fail the load (FAILFAST default), not land
    as all-null rows whose file identity is recorded as loaded and
    never retried (ADVICE r12). The failed file retries on the next
    run once fixed."""
    t = _mk(spark, tmp_path, "j")
    land = tmp_path / "jland"
    land.mkdir()
    bad = land / "bad.json"
    bad.write_text('{"id": 1, "s": "a"}\n{this is not json\n')
    with pytest.raises(Exception, match="(?i)malformed|failfast|corrupt"):
        t.copy_into(str(land), file_format="json")
    # registry untouched: the fixed file loads
    assert t.read().count() == 1
    bad.write_text('{"id": 1, "s": "a"}\n{"id": 2, "s": "b"}\n')
    out = t.copy_into(str(land), file_format="json")
    assert out["files_loaded"] == 1
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2]


def test_copy_into_headerless_csv_evolution_refused(spark, tmp_path):
    """CSV + merge_schema without a header option would evolve
    positional _c0/_c1/... names into the table schema — refused
    loudly, naming the option (VERDICT r12)."""
    t = _mk(spark, tmp_path, "hc")
    land = tmp_path / "cland"
    land.mkdir()
    (land / "a.csv").write_text("id,s,score\n1,a,9.5\n2,b,8.5\n")
    with pytest.raises(ValueError, match="header"):
        t.copy_into(str(land), file_format="csv", merge_schema=True)
    out = t.copy_into(
        str(land),
        file_format="csv",
        merge_schema=True,
        options={"header": "true"},
    )
    assert out["files_loaded"] == 1
    assert "score" in [f.name for f in t.schema().fields]
    assert sorted(
        (r.id, r.s) for r in t.read().collect()
    ) == [(0, "s0"), (1, "a"), (2, "b")]


def test_copy_into_registry_folds_across_checkpoint(
    spark, tmp_path, monkeypatch
):
    """Checkpoint commits carry the cumulative union of loaded-file
    identities (copy_into_registry), so idempotency survives — and is
    served from — the fold rather than a full-history walk."""
    from nrtwithdeltalake_spark.pipeline import log

    monkeypatch.setattr(log, "CHECKPOINT_EVERY", 5)
    t = _mk(spark, tmp_path, "ckpt")
    land = str(tmp_path / "land_ckpt")
    pa_file = _land(land, "a.parquet", [1, 2])
    t.copy_into(land)  # pre-checkpoint copy
    while t.latest_version() % 5 or t.latest_version() == 0:
        t.append(spark.createDataFrame([(99, "x")], "id long, s string"))
    ident_a = t._copy_file_identity(pa_file)
    reg = t._raw_commit_stats(t.latest_version())["copy_into_registry"]
    assert ident_a in reg
    # the early file still skips across the checkpoint boundary
    out = t.copy_into(land)
    assert out["files_loaded"] == 0 and out["files_skipped"] == 1
    # a new landing file loads once; the NEXT checkpoint folds both
    pb_file = _land(land, "b.parquet", [3])
    assert t.copy_into(land)["files_loaded"] == 1
    while t.latest_version() % 5:
        t.append(spark.createDataFrame([(98, "y")], "id long, s string"))
    reg2 = t._raw_commit_stats(t.latest_version())["copy_into_registry"]
    assert set(reg2) >= {ident_a, t._copy_file_identity(pb_file)}
    assert t.copy_into(land)["files_loaded"] == 0


def test_copy_into_loaded_walk_is_bounded_by_checkpoint(
    spark, tmp_path, monkeypatch
):
    """The loaded-file walk reads O(commits since the last checkpoint)
    raw records, never O(history) — the registry stamp is the stop
    marker."""
    from nrtwithdeltalake_spark.pipeline import log

    monkeypatch.setattr(log, "CHECKPOINT_EVERY", 5)
    t = _mk(spark, tmp_path, "probe")
    land = str(tmp_path / "land_probe")
    pa_file = _land(land, "a.parquet", [1])
    t.copy_into(land)
    while t.latest_version() < 13:  # several checkpoint periods
        t.append(spark.createDataFrame([(9, "y")], "id long, s string"))
    calls = {"n": 0}
    orig = VersionedTable._raw_commit_stats

    def counting(self, v):
        calls["n"] += 1
        return orig(self, v)

    monkeypatch.setattr(VersionedTable, "_raw_commit_stats", counting)
    loaded = t._copy_into_loaded()
    assert t._copy_file_identity(pa_file) in loaded
    # versions 13..10 inclusive = cadence-bounded, not history-bounded
    assert calls["n"] <= 5 + 1
