"""Reader/writer protocol gates (Delta's protocol-action semantics,
VLDB'20 §3.1): once a commit depends on a feature a plain
cumulative-file-list engine would silently misinterpret, every
subsequent commit advertises it, and an engine that lacks the feature
must FAIL the read/write loudly instead of returning wrong rows. At
100 TB a table is shared by a fleet of jobs on mixed engine versions —
the gate is what makes format evolution safe there."""

from __future__ import annotations

import json
import os

import pytest

from nrtwithdeltalake_spark.pipeline.log import (
    READER_VERSION,
    SUPPORTED_READER_FEATURES,
    SUPPORTED_WRITER_FEATURES,
    UnsupportedTableFeatureError,
    publish_commit_file,
)
from nrtwithdeltalake_spark.pipeline.tables import VersionedTable
from nrtwithdeltalake_spark.sources import datasource as ds



# Slow tier (see pytest.ini): excluded from the default driver-budget
# run; executes via `pytest -m slow`.
pytestmark = pytest.mark.slow

@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    ds.register(spark)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id bigint, grp string, amount double")


def _mk(spark, tmp_path, name="t"):
    return VersionedTable.create(
        spark,
        str(tmp_path / name),
        _df(spark, [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)]),
    )


def _raw(t: VersionedTable, version: int) -> dict:
    with open(os.path.join(t.log_dir, f"{version:020d}.json")) as f:
        return json.loads(f.read())


def _publish_future(t: VersionedTable, protocol: dict, op="future_op") -> int:
    """Hand-craft the commit a NEWER engine would publish: same snapshot,
    plus a protocol stamp this engine may or may not support."""
    prev = _raw(t, t.latest_version())
    assert "files" in prev, "craft against a checkpoint (full-list) record"
    v = prev["version"] + 1
    rec = {
        "version": v,
        "op": op,
        "files": prev["files"],
        "cdf_files": [],
        "schema_json": prev["schema_json"],
        "ts": prev["ts"] + 1.0,
        "stats": {},
        "protocol": protocol,
    }
    publish_commit_file(t.log_dir, v, json.dumps(rec))
    return v


# -- base tables stay protocol-free ---------------------------------------


def test_plain_table_carries_no_protocol(spark, tmp_path):
    """Create/append on a vanilla table stamps NO protocol field — the
    JSON shape is byte-compatible with pre-gate logs, and old readers
    of plain tables keep working unchanged."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, [(4, "c", 40.0)]))
    for v in (0, 1):
        assert "protocol" not in _raw(t, v)
    assert t.get_commit().protocol is None


def test_old_log_without_protocol_still_reads(spark, tmp_path):
    """Records lacking the protocol key (every pre-gate log) parse and
    read as base protocol."""
    t = _mk(spark, tmp_path)
    assert t.read().count() == 3
    assert t.get_commit(0).protocol is None


# -- content-derived upgrades ----------------------------------------------


def test_dv_delete_stamps_deletion_vectors(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete("grp = 'b'", use_dv=True)
    p = t.get_commit().protocol
    assert p is not None
    assert "deletion_vectors" in p["reader_features"]
    assert "deletion_vectors" in p["writer_features"]  # readers ⊆ writers
    assert p["min_reader"] == 2 and p["min_writer"] == 2


def test_upgrade_is_monotone_across_later_commits(spark, tmp_path):
    """Once stamped, the feature carries onto commits that don't
    themselves need it (append), and even onto commits that SPEND the
    vectors (compact materializes DVs) — Delta protocol upgrades are
    permanent, so a reader fleet never flip-flops."""
    t = _mk(spark, tmp_path)
    t.delete("grp = 'b'", use_dv=True)
    t.append(_df(spark, [(5, "d", 50.0)]))
    assert "deletion_vectors" in t.get_commit().protocol["reader_features"]
    t.compact()
    c = t.get_commit()
    assert not c.dv_files  # compaction materialized the deletions
    assert "deletion_vectors" in c.protocol["reader_features"]


def test_rename_and_drop_stamp_column_mapping(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.rename_column("amount", "value")
    assert "column_mapping" in t.get_commit().protocol["reader_features"]
    t2 = _mk(spark, tmp_path, "t2")
    t2.drop_column("amount")
    assert "column_mapping" in t2.get_commit().protocol["reader_features"]


def test_constraints_stamp_writer_feature_on_next_commit(spark, tmp_path):
    """CHECK constraints / generated columns are WRITER features (reads
    are unaffected): a writer unaware of them would commit
    violating/NULL rows. The stamp lands with the DDL commit and
    carries on; reader features stay base, so min_reader stays 1."""
    t = _mk(spark, tmp_path)
    t.add_constraint("amount_pos", "amount > 0")
    t.append(_df(spark, [(6, "e", 60.0)]))
    p = t.get_commit().protocol
    assert "check_constraints" in p["writer_features"]
    assert p["reader_features"] == []
    assert p["min_reader"] == 1 and p["min_writer"] == 2


def test_clone_carries_source_protocol(spark, tmp_path):
    """A shallow clone's v0 references the source's DV sidecars — its
    protocol must demand the same reader features from commit 0."""
    t = _mk(spark, tmp_path)
    t.rename_column("grp", "bucket")
    t.delete("bucket = 'b'", use_dv=True)
    c = t.clone(str(tmp_path / "fork"))
    p = c.get_commit(0).protocol
    assert "deletion_vectors" in p["reader_features"]
    assert "column_mapping" in p["reader_features"]
    assert c.read().count() == 2


def test_restore_keeps_upgrade(spark, tmp_path):
    """RESTORE to a pre-DV version rolls the DATA back but not the
    protocol — the upgrade is permanent (matching Delta), so mixed
    readers never see the gate disappear and reappear."""
    t = _mk(spark, tmp_path)
    t.delete("grp = 'b'", use_dv=True)
    t.restore(0)
    assert t.read().count() == 3
    assert "deletion_vectors" in t.get_commit().protocol["reader_features"]


# -- gates against a NEWER engine's log ------------------------------------


def test_unknown_reader_feature_fails_read_loudly(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v = _publish_future(
        t,
        {
            "min_reader": 2,
            "min_writer": 2,
            "reader_features": ["row_lineage_v9"],
            "writer_features": ["row_lineage_v9"],
        },
    )
    with pytest.raises(UnsupportedTableFeatureError, match="row_lineage_v9"):
        t.read()
    with pytest.raises(UnsupportedTableFeatureError):
        t.get_commit(v)
    # the DataSource plan path hits the same gate
    with pytest.raises(Exception, match="row_lineage_v9"):
        spark.read.format("versioned").load(t.path).collect()


def test_time_travel_below_upgrade_still_reads(spark, tmp_path):
    """The gate is per-snapshot: versions BEFORE the unsupported
    upgrade remain readable (their protocol doesn't demand the
    feature) — an old engine can still time-travel the history it
    understands."""
    t = _mk(spark, tmp_path)
    v = _publish_future(
        t,
        {
            "min_reader": 2,
            "min_writer": 2,
            "reader_features": ["row_lineage_v9"],
            "writer_features": ["row_lineage_v9"],
        },
    )
    assert t.read(version=v - 1).count() == 3
    assert (
        spark.read.format("versioned")
        .option("version", v - 1)
        .load(t.path)
        .count()
        == 3
    )


def test_unknown_writer_feature_blocks_writes_not_reads(spark, tmp_path):
    """A writer-only feature (say, an invariant a newer writer
    maintains) leaves reads working but refuses commits on top."""
    t = _mk(spark, tmp_path)
    _publish_future(
        t,
        {
            "min_reader": 1,
            "min_writer": 2,
            "reader_features": [],
            "writer_features": ["auto_invariants_v3"],
        },
    )
    assert t.read().count() == 3  # read side unaffected
    with pytest.raises(UnsupportedTableFeatureError, match="auto_invariants_v3"):
        t.append(_df(spark, [(9, "z", 90.0)]))
    # the DataSource writer hits the same gate (pyspark re-wraps the
    # Python exception, so match on the message)
    with pytest.raises(Exception, match="auto_invariants_v3"):
        _df(spark, [(9, "z", 90.0)]).write.format("versioned").mode(
            "append"
        ).save(t.path)


def test_min_reader_version_gate(spark, tmp_path):
    t = _mk(spark, tmp_path)
    _publish_future(
        t,
        {
            "min_reader": READER_VERSION + 7,
            "min_writer": READER_VERSION + 7,
            "reader_features": [],
            "writer_features": [],
        },
    )
    with pytest.raises(UnsupportedTableFeatureError, match="reader protocol"):
        t.read()


def test_additive_unknown_key_without_protocol_is_tolerated(spark, tmp_path):
    """The format-evolution contract has two halves: anything
    semantics-changing bumps the protocol (gated above); anything
    additive (new metadata keys) must NOT break old readers. A record
    with an unknown top-level key and no protocol claim parses and
    reads fine."""
    t = _mk(spark, tmp_path)
    prev = _raw(t, 0)
    rec = dict(prev)
    rec.update(
        version=1,
        op="append",
        ts=prev["ts"] + 1.0,
        commit_info={"engine": "someengine/9.9", "user": "x"},
    )
    publish_commit_file(t.log_dir, 1, json.dumps(rec))
    assert t.get_commit().version == 1
    assert t.read().count() == 3
    t.append(_df(spark, [(4, "c", 40.0)]))  # and writes continue past it
    assert t.read().count() == 4


def test_supported_features_read_back_fine(spark, tmp_path):
    """Round-trip sanity: a table exercising EVERY supported feature
    stays readable/writable by this engine — the gate only fires on
    the unknown."""
    t = _mk(spark, tmp_path)
    t.add_constraint("amount_pos", "amount > 0")
    t.rename_column("grp", "bucket")
    t.delete("bucket = 'b'", use_dv=True)
    t.append(_df(spark, [(7, "f", 70.0)]).withColumnRenamed("grp", "bucket"))
    p = t.get_commit().protocol
    assert set(p["reader_features"]) <= SUPPORTED_READER_FEATURES
    assert set(p["writer_features"]) <= SUPPORTED_WRITER_FEATURES
    assert t.read().count() == 3
    assert (
        spark.read.format("versioned").load(t.path).count() == 3
    )


def test_describe_detail_surfaces_protocol(spark, tmp_path):
    from nrtwithdeltalake_spark.pipeline.sqldml import execute_dml

    t = _mk(spark, tmp_path)
    t.delete("grp = 'b'", use_dv=True)
    row = execute_dml(
        spark, f"DESCRIBE DETAIL versioned.`{t.path}`"
    ).collect()[0]
    assert row.min_reader_version == 2
    assert "deletion_vectors" in row.reader_features


def test_explicit_upgrade_protocol(spark, tmp_path):
    """upgrade_protocol publishes a metadata-only commit carrying the
    requested features immediately (closing the sidecar-stamp lag), and
    refuses features this engine can't honor (self-brick guard)."""
    t = _mk(spark, tmp_path)
    t.add_constraint("amount_pos", "amount > 0")
    v = t.upgrade_protocol(writer_features=["check_constraints"])
    c = t.get_commit(v)
    assert c.op == "set_protocol"
    assert "check_constraints" in c.protocol["writer_features"]
    assert t.read().count() == 3  # snapshot unchanged
    t.append(_df(spark, [(4, "c", 40.0)]))  # carry + writes continue
    assert "check_constraints" in t.get_commit().protocol["writer_features"]
    with pytest.raises(ValueError, match="does not implement"):
        t.upgrade_protocol(reader_features=["row_lineage_v9"])


def test_monotone_in_commit_timestamps(spark, tmp_path, monkeypatch):
    """Delta inCommitTimestamps analog: a writer whose wall clock jumped
    BACKWARD still commits a timestamp strictly above its predecessor
    (max(now, prev+1ms)), so TIMESTAMP AS OF resolution stays
    well-defined across a clock-skewed fleet."""
    import time as _time

    from nrtwithdeltalake_spark.pipeline import tables as tb

    t = _mk(spark, tmp_path)
    t0 = t.get_commit(0).ts
    real = _time.time
    monkeypatch.setattr(tb.time, "time", lambda: real() - 3600.0)
    try:
        t.append(_df(spark, [(4, "c", 40.0)]))
    finally:
        monkeypatch.undo()
    t1 = t.get_commit(1).ts
    assert t1 > t0  # clamped, despite the hour-backdated clock
    assert t1 == pytest.approx(t0 + 1e-3)
    # timestamp travel resolves deterministically on the clamped stamps
    assert t.version_at(t0) == 0
    assert t.version_at(t1) == 1


# -- table metadata rides the commits --------------------------------------


def test_merge_racing_add_constraint_conflicts(spark, tmp_path, monkeypatch):
    """A merge whose snapshot predates a concurrent ADD CONSTRAINT must
    not rebase over it: its rows were validated against the old
    metadata, so publishing them could land a violating row (Delta's
    MetadataChangedException). The DDL lands between the merge's file
    writes and its publish."""
    from nrtwithdeltalake_spark.pipeline.log import CommitConflictError

    t = _mk(spark, tmp_path)
    orig = VersionedTable._publish

    def ddl_first(self, prev, op, *a, **kw):
        if op == "merge":
            VersionedTable(spark, t.path).add_constraint(
                "amount_pos", "amount > 0"
            )
        return orig(self, prev, op, *a, **kw)

    monkeypatch.setattr(VersionedTable, "_publish", ddl_first)
    with pytest.raises(CommitConflictError, match="metadata"):
        t.merge(_df(spark, [(9, "z", -5.0)]), ["id"])
    monkeypatch.undo()
    assert t.constraints() == {"amount_pos": "amount > 0"}
    assert t.read().filter("amount <= 0").count() == 0


def _legacy_table(spark, tmp_path) -> tuple[str, dict]:
    """A table laid out the way engines before in-commit metadata wrote
    it: five sidecar files beside a log whose records have no
    ``metadata`` key. Returns its path and the metadata the sidecars
    hold."""
    p = str(tmp_path / "legacy")
    VersionedTable.create(
        spark,
        p,
        spark.createDataFrame(
            [("a", 1.0, 2.0, "x"), ("b", 2.0, 4.0, "y")],
            "grp string, amount double, amount2 double, note string",
        ),
        identity={"id": (1, 1)},
        partition_by=["grp"],
    )
    log_dir = os.path.join(p, "_log")
    for name in os.listdir(log_dir):
        if name.endswith(".json"):
            rec = json.load(open(os.path.join(log_dir, name)))
            rec.pop("metadata")
            feats = rec["protocol"]["writer_features"]
            feats.remove("table_metadata")
            json.dump(rec, open(os.path.join(log_dir, name), "w"))
    md = {
        "constraints": {"amount_pos": "amount > 0"},
        "properties": {
            "versioned.identityColumns": json.dumps(
                {"id": {"start": 1, "step": 1, "mode": "always"}}
            )
        },
        "partition_columns": ["grp"],
        "generated": {"amount2": "amount * 2"},
        "defaults": {"note": "'n/a'"},
    }
    for key, name in (
        ("constraints", "_constraints.json"),
        ("properties", "_properties.json"),
        ("partition_columns", "_partitioning.json"),
        ("generated", "_generated.json"),
        ("defaults", "_defaults.json"),
    ):
        json.dump(md[key], open(os.path.join(p, name), "w"))
    return p, md


def test_legacy_sidecar_metadata_applies_and_migrates(spark, tmp_path):
    """A legacy table's sidecar metadata must keep applying —
    constraint, generated column, identity, DEFAULT and partition
    layout — and the next commit must carry it, after which the
    sidecars are no longer read."""
    from nrtwithdeltalake_spark.pipeline.tables import ConstraintViolationError

    p, md = _legacy_table(spark, tmp_path)
    t = VersionedTable(spark, p)
    assert t.constraints() == md["constraints"]
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([("a", -1.0)], "grp string, amount double"))
    v = t.append(spark.createDataFrame([("a", 3.0)], "grp string, amount double"))
    row = t.read().filter("amount = 3.0").collect()[0]
    assert (row.id, row.amount2, row.note) == (3, 6.0, "n/a")
    new_files = set(t.get_commit(v).files) - set(t.get_commit(v - 1).files)
    assert new_files and all("__part__grp=a" in f for f in new_files)
    assert _raw(t, v)["metadata"] == md
    assert "check_constraints" in t.get_commit().protocol["writer_features"]
    # migrated: the commit, not the sidecar, now holds the constraint
    os.remove(os.path.join(p, "_constraints.json"))
    assert t.constraints() == md["constraints"]
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([("b", -2.0)], "grp string, amount double"))


def test_clone_of_legacy_table_at_explicit_latest_version(spark, tmp_path):
    """``CLONE ... VERSION AS OF <latest>`` of a legacy table clones the
    same snapshot as a clone without a version: both carry the sidecar
    metadata, so the clone keeps enforcing the constraint and assigning
    identity values."""
    from nrtwithdeltalake_spark.pipeline.tables import ConstraintViolationError

    p, md = _legacy_table(spark, tmp_path)
    t = VersionedTable(spark, p)
    c = t.clone(str(tmp_path / "fork"), version=t.latest_version())
    assert c.get_commit(0).metadata == md
    with pytest.raises(ConstraintViolationError):
        c.append(spark.createDataFrame([("a", -1.0)], "grp string, amount double"))
    c.append(spark.createDataFrame([("a", 3.0)], "grp string, amount double"))
    assert c.read().filter("amount = 3.0").collect()[0].id == 3


def test_table_metadata_gates_sidecar_era_writers(spark, tmp_path, monkeypatch):
    """An engine that keeps table metadata in sidecars reads no
    ``metadata`` key, so its commit would carry none and drop the
    constraint for good. Every commit with metadata advertises the
    ``table_metadata`` writer feature, which such an engine does not
    implement: it refuses to write, and the constraint survives."""
    from nrtwithdeltalake_spark.pipeline import log
    from nrtwithdeltalake_spark.pipeline.tables import ConstraintViolationError

    t = _mk(spark, tmp_path)
    assert "protocol" not in _raw(t, 0)  # empty metadata binds nothing
    t.add_constraint("amount_pos", "amount > 0")
    v = t.latest_version()
    assert "table_metadata" in _raw(t, v)["protocol"]["writer_features"]
    # the sidecar-era engine: the same gate without the feature
    monkeypatch.setattr(
        log, "SUPPORTED_WRITER_FEATURES", SUPPORTED_WRITER_FEATURES - {"table_metadata"}
    )
    with pytest.raises(UnsupportedTableFeatureError, match="table_metadata"):
        t.append(_df(spark, [(9, "z", 90.0)]))
    monkeypatch.undo()
    assert t.latest_version() == v
    assert _raw(t, v)["metadata"] == {"constraints": {"amount_pos": "amount > 0"}}
    with pytest.raises(ConstraintViolationError):
        t.append(_df(spark, [(9, "z", -1.0)]))
