"""The log layer's carry rules (``pipeline/log.py::prepare``) on plain
dict records, and its table-metadata reads on hand-written log files —
no SparkSession. Every commit writer (the native ``VersionedTable`` and
both ``versioned`` DataSource writers) publishes through ``prepare``,
so these rules hold for all of them."""

from __future__ import annotations

import json
import os

from nrtwithdeltalake_spark.pipeline import log

_ID_SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {
                "name": "id",
                "type": "long",
                "nullable": True,
                "metadata": {log.FIELD_ID: 1},
            },
            {
                "name": "s",
                "type": "string",
                "nullable": True,
                "metadata": {log.FIELD_ID: 2},
            },
        ],
    }
)


def _rec(version: int, **kw) -> dict:
    rec = {
        "version": version,
        "op": "append",
        "files": [],
        "cdf_files": [],
        "schema_json": _ID_SCHEMA,
        "ts": 100.0,
        "stats": {},
    }
    rec.update(kw)
    return rec


def _identity_md(step: int) -> dict:
    return {
        "properties": {
            log.IDENTITY_PROP: json.dumps(
                {"id": {"start": 0, "step": step, "mode": "always"}}
            )
        }
    }


def test_identity_high_water_never_regresses():
    md = _identity_md(1)
    prev = _rec(4, metadata=md, stats={"identity": {"id": 50}})
    # a commit that assigns nothing carries the mark forward
    out = log.prepare(prev, _rec(5))
    assert out["stats"]["identity"] == {"id": 50}
    # a commit whose own mark is lower (a RESTORE's target) keeps the higher
    out = log.prepare(prev, _rec(5, stats={"identity": {"id": 7}}))
    assert out["stats"]["identity"] == {"id": 50}
    out = log.prepare(prev, _rec(5, stats={"identity": {"id": 60}}))
    assert out["stats"]["identity"] == {"id": 60}


def test_identity_high_water_follows_a_negative_step():
    prev = _rec(4, metadata=_identity_md(-2), stats={"identity": {"id": -40}})
    out = log.prepare(prev, _rec(5, stats={"identity": {"id": -10}}))
    assert out["stats"]["identity"] == {"id": -40}
    out = log.prepare(prev, _rec(5, stats={"identity": {"id": -42}}))
    assert out["stats"]["identity"] == {"id": -42}


def test_max_field_id_never_regresses():
    # a dropped column's id (7) stays retired though the schema tops at 2
    prev = _rec(3, stats={"max_field_id": 7})
    assert log.prepare(prev, _rec(4))["stats"]["max_field_id"] == 7
    assert (
        log.prepare(prev, _rec(4, stats={"max_field_id": 3}))["stats"][
            "max_field_id"
        ]
        == 7
    )
    # version 0 takes the mark from its own schema
    assert log.prepare(None, _rec(0))["stats"]["max_field_id"] == 2


def test_commit_ts_is_monotone():
    prev = _rec(3, ts=1000.0)
    # a writer whose clock runs behind still commits after its predecessor
    assert log.prepare(prev, _rec(4, ts=10.0))["ts"] == 1000.0 + 1e-3
    assert log.prepare(prev, _rec(4, ts=2000.0))["ts"] == 2000.0
    assert log.prepare(None, _rec(0, ts=10.0))["ts"] == 10.0


def test_protocol_features_carry_and_deletion_vectors_are_added():
    prev = _rec(
        3,
        protocol={
            "min_reader": 2,
            "min_writer": 2,
            "reader_features": ["column_mapping"],
            "writer_features": ["column_mapping"],
        },
    )
    out = log.prepare(prev, _rec(4))
    assert out["protocol"]["reader_features"] == ["column_mapping"]
    out = log.prepare(prev, _rec(4, dv_files=["/t/_dv/a.parquet"]))
    assert out["protocol"]["reader_features"] == [
        "column_mapping",
        "deletion_vectors",
    ]
    assert out["protocol"]["min_reader"] == 2
    # base tables stay protocol-free
    assert "protocol" not in log.prepare(_rec(3), _rec(4))


def test_metadata_binds_writer_features():
    md = {
        "constraints": {"pos": "id > 0", "notnull:s": "s IS NOT NULL"},
        "generated": {"s": "cast(id as string)"},
        "defaults": {"s": "'x'"},
        **_identity_md(1),
    }
    p = log.prepare(None, _rec(0, metadata=md))["protocol"]
    assert p["min_reader"] == 1 and p["reader_features"] == []
    assert p["writer_features"] == [
        "check_constraints",
        "column_defaults",
        "generated_columns",
        "identity_columns",
        "not_null_constraints",
        "table_metadata",
    ]
    # metadata that binds no invariant still gates sidecar-era writers
    p = log.prepare(None, _rec(0, metadata={"properties": {"k": "v"}}))["protocol"]
    assert p["writer_features"] == ["table_metadata"]


def test_dv_counts_dropped_without_deletion_vectors():
    prev = _rec(3, dv_files=["/t/_dv/a.parquet"], stats={"dv_counts": {"f": 2}})
    out = log.prepare(prev, _rec(4, stats={"dv_counts": {"f": 2}}))
    assert "dv_counts" not in out["stats"]
    out = log.prepare(
        prev,
        _rec(4, dv_files=["/t/_dv/a.parquet"], stats={"dv_counts": {"f": 2}}),
    )
    assert out["stats"]["dv_counts"] == {"f": 2}


def test_copy_into_registry_stamped_only_at_checkpoints():
    every = log.CHECKPOINT_EVERY
    raw = {
        v: _rec(v, stats={"copy_into": {"loaded": [f"file{v}"]}})
        for v in range(every)
    }
    raw[every - 1]["stats"]["copy_into_registry"] = ["stray"]
    out = log.prepare(raw[every - 1], _rec(every, stats={}), raw.__getitem__)
    # the union of every loaded identity at or below the checkpoint
    # (the walk stops at the first stamp it meets, here the stray one)
    assert out["stats"]["copy_into_registry"] == sorted(
        ["stray", f"file{every - 1}"]
    )
    # a full walk back to version 0 when no stamp stops it
    raw[every - 1]["stats"].pop("copy_into_registry")
    out = log.prepare(raw[every - 1], _rec(every, stats={}), raw.__getitem__)
    assert out["stats"]["copy_into_registry"] == sorted(
        f"file{v}" for v in range(every)
    )
    # a non-checkpoint version never carries a stamp
    out = log.prepare(
        raw[every - 1],
        _rec(every + 1, stats={"copy_into_registry": ["carried"]}),
    )
    assert "copy_into_registry" not in out["stats"]


def test_metadata_carries_when_a_record_omits_it():
    md = {"constraints": {"pos": "id > 0"}, "partition_columns": ["s"]}
    prev = _rec(3, metadata=md)
    assert log.prepare(prev, _rec(4))["metadata"] == md
    # a DDL commit replaces it, an emptied dict included
    assert log.prepare(prev, _rec(4, metadata={}))["metadata"] == {}
    # the first commit of a table without metadata gets an empty dict
    assert log.prepare(None, _rec(0))["metadata"] == {}


def _write(log_dir: str, rec: dict) -> None:
    with open(log.commit_path(log_dir, rec["version"]), "w") as f:
        json.dump(rec, f)


def test_legacy_metadata_read_only_at_the_latest_commit(tmp_path):
    """A log whose records carry no ``metadata`` key keeps it in sidecar
    files: the latest record takes them, an older one has none (the
    sidecars kept no history), and a record with the key is its own."""
    log_dir = str(tmp_path / "_log")
    os.makedirs(log_dir)
    with open(tmp_path / "_constraints.json", "w") as f:
        json.dump({"pos": "id > 0"}, f)
    _write(log_dir, _rec(0))
    _write(log_dir, _rec(1))
    legacy = {"constraints": {"pos": "id > 0"}}
    assert log.read_commit(log_dir, 1).metadata == legacy
    assert log.read_commit(log_dir, 0).metadata is None
    assert log.current_metadata(log_dir) == legacy
    # the next commit migrates: the sidecar is no longer read
    log.commit(log_dir, _rec(2))
    os.remove(tmp_path / "_constraints.json")
    assert log.read_commit(log_dir, 2).metadata == legacy
    assert log.current_metadata(log_dir) == legacy
    assert log.read_commit(log_dir, 1).metadata is None


def test_current_metadata_follows_the_latest_commit(tmp_path):
    """``current_metadata`` serves a parsed commit's metadata from
    memory; a new commit, or a file recreated at the same path, is
    read afresh, and callers get a copy they may change."""
    log_dir = str(tmp_path / "_log")
    os.makedirs(log_dir)
    log.commit(log_dir, _rec(0, metadata={"constraints": {"a": "id > 0"}}))
    md = log.current_metadata(log_dir)
    md["constraints"]["b"] = "id < 9"
    assert log.current_metadata(log_dir) == {"constraints": {"a": "id > 0"}}
    log.commit(log_dir, _rec(1, metadata={}))
    assert log.current_metadata(log_dir) == {}
    _write(log_dir, _rec(1, metadata={"partition_columns": ["s"]}))
    assert log.current_metadata(log_dir) == {"partition_columns": ["s"]}


def test_txn_watermarks_carry_as_a_per_app_max():
    """Writer-transaction watermarks (Delta's SetTransaction) ride every
    commit: a writer stamps only its own app, every other app's
    watermark carries, and none regresses — a record that names no app
    at all (a restore, a compaction, a DDL) keeps them all."""
    prev = _rec(4, stats={"txn": {"a": 3, "b": 7}})
    rec = log.prepare(prev, _rec(5, stats={"txn": {"a": 4}}))
    assert rec["stats"]["txn"] == {"a": 4, "b": 7}
    rec = log.prepare(prev, _rec(5, op="restore"))
    assert rec["stats"]["txn"] == {"a": 3, "b": 7}
    rec = log.prepare(prev, _rec(5, stats={"txn": {"b": 2, "c": 1}}))
    assert rec["stats"]["txn"] == {"a": 3, "b": 7, "c": 1}
