"""GENERATED ALWAYS AS IDENTITY — the reference's surrogate keys
(``/root/reference/dbrdemo.sql:20``, ``dbrconfig.sql:21,34``) whose
atomicity SQL Server provides via ``SCOPE_IDENTITY()``. The engine
arbitrates allocation through the COMMIT: each id-assigning commit
records the last value used in its stats, the put-if-absent publish
lets exactly one concurrent writer win each version slot, and the
loser shifts its already-written ids past the fresh high-water before
retrying — so two lockless PROCESSES mint disjoint ids, which the old
read-max+1-under-a-thread-lock ledger could not guarantee."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nrtwithdeltalake_spark.pipeline.config import (
    ConfigStore,
    WATERMARKS_SCHEMA,
)
from nrtwithdeltalake_spark.pipeline.sqldml import (
    UnsupportedSqlError,
    execute_dml,
)
from nrtwithdeltalake_spark.pipeline import tables
from nrtwithdeltalake_spark.pipeline.tables import VersionedTable



# Slow tier (see pytest.ini): excluded from the default driver-budget
# run; executes via `pytest -m slow`.
pytestmark = pytest.mark.slow

def _mk(spark, tmp_path, rows=("a", "b", "c"), name="t"):
    df = spark.createDataFrame([(s,) for s in rows], "s string")
    return VersionedTable.create(
        spark, str(tmp_path / name), df, identity={"id": (1, 1)}
    )


def test_always_semantics_refuse_explicit_values_everywhere(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(spark.createDataFrame([(9, "z")], "id long, s string"))
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.merge(
            spark.createDataFrame([(9, "z")], "id long, s string"), ["s"]
        )
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.update("s = 'a'", {"id": F.lit(0)})
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.overwrite(spark.createDataFrame([(9, "z")], "id long, s string"))
    with pytest.raises(ValueError, match="cannot supply"):
        VersionedTable.create(
            spark,
            str(tmp_path / "bad"),
            spark.createDataFrame([(1, "a")], "id long, s string"),
            identity={"id": (1, 1)},
        )
    with pytest.raises(ValueError, match="merge keys"):
        t.merge(spark.createDataFrame([("a",)], "s string"), ["id"])


def test_merge_keeps_matched_ids_and_assigns_fresh_to_inserts(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(spark.createDataFrame([("a",), ("d",)], "s string"), ["s"])
    rows = dict((r.s, r.id) for r in t.read().collect())
    assert rows == {"a": 1, "b": 2, "c": 3, "d": 4}
    # change feed: insert image carries the ASSIGNED id, update images
    # keep the target's id
    cdf = sorted(
        (r.id, r.s, r._change_type) for r in t.change_feed(0).collect()
    )
    assert (4, "d", "insert") in cdf
    assert (1, "a", "update_postimage") in cdf
    assert not any(r[0] is None for r in cdf)


def test_delete_never_reuses_ids(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete("s = 'c'")
    t.append(spark.createDataFrame([("d",)], "s string"))
    rows = sorted((r.id, r.s) for r in t.read().collect())
    assert rows == [(1, "a"), (2, "b"), (4, "d")]  # 3 is never reissued


def test_overwrite_and_restore_keep_high_water(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.overwrite(spark.createDataFrame([("x",)], "s string"))
    assert [r.id for r in t.read().collect()] == [4]
    t.restore(0)
    t.append(spark.createDataFrame([("post",)], "s string"))
    rows = sorted((r.id, r.s) for r in t.read().collect())
    # the restored-away row's id (4) is NOT reissued
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (5, "post")]


def test_concurrent_lockless_appends_mint_disjoint_ids(spark, tmp_path, monkeypatch):
    """The commit-arbitration storm: 4 threads over 2 INDEPENDENT
    VersionedTable instances (no shared python state — the two-process
    simulation) each append 1-row batches; every append's OCC loser
    must shift past the fresh high-water, so ids are exactly 1..N."""
    monkeypatch.setattr(tables, "COMMIT_RETRIES", 50)
    p = str(tmp_path / "storm")
    VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([], "s string"),
        identity={"id": (1, 1)},
    )
    errs: list = []

    def worker(wid):
        t = VersionedTable(spark, p)  # own instance: no shared lock
        for i in range(5):
            try:
                t.append(
                    spark.createDataFrame(
                        [(f"w{wid}-{i}",)], "s string"
                    ),
                )
            except Exception as e:  # surface, don't deadlock the join
                errs.append(repr(e))

    th = [threading.Thread(target=worker, args=(w,)) for w in range(4)]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs, errs[:3]
    t = VersionedTable(spark, p)
    ids = sorted(r.id for r in t.read().collect())
    assert ids == list(range(1, 21)), ids
    assert t.identity_high_water("id") == 20


def test_add_identity_column_shapes(spark, tmp_path):
    # (a) new column on an empty table
    t = VersionedTable.create(
        spark, str(tmp_path / "e"), spark.createDataFrame([], "s string")
    )
    t.add_identity_column("id")
    t.append(spark.createDataFrame([("a",), ("b",)], "s string"))
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    # (b) adopt an existing unique BIGINT column
    t2 = VersionedTable.create(
        spark,
        str(tmp_path / "adopt"),
        spark.createDataFrame([(7, "x"), (9, "y")], "k long, s string"),
    )
    t2.add_identity_column("k")
    t2.append(spark.createDataFrame([("z",)], "s string"))
    rows = sorted((r.k, r.s) for r in t2.read().collect())
    assert rows == [(7, "x"), (9, "y"), (10, "z")]  # continues past max
    # refusals
    t3 = VersionedTable.create(
        spark,
        str(tmp_path / "bad3"),
        spark.createDataFrame([("a",)], "s string"),
    )
    with pytest.raises(ValueError, match="non-empty"):
        t3.add_identity_column("id")
    t4 = VersionedTable.create(
        spark,
        str(tmp_path / "bad4"),
        spark.createDataFrame([(1, "a"), (1, "b")], "k long, s string"),
    )
    with pytest.raises(ValueError, match="unique"):
        t4.add_identity_column("k")
    t5 = VersionedTable.create(
        spark,
        str(tmp_path / "bad5"),
        spark.createDataFrame([("a",)], "k string"),
    )
    with pytest.raises(ValueError, match="BIGINT"):
        t5.add_identity_column("k")
    with pytest.raises(ValueError, match="nonzero"):
        t5.add_identity_column("j", step=0)


def test_identity_survives_clone(spark, tmp_path):
    t = _mk(spark, tmp_path)
    dest = str(tmp_path / "cl")
    t.clone(dest, shallow=False)
    c = VersionedTable(spark, dest)
    assert c.identity_columns() == {"id": (1, 1)}
    c.append(spark.createDataFrame([("d",)], "s string"))
    assert sorted(r.id for r in c.read().collect()) == [1, 2, 3, 4]


def test_identity_overflow_guard(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "of"),
        spark.createDataFrame([], "s string"),
        identity={"id": ((1 << 63) - 2, 1)},
    )
    t.append(spark.createDataFrame([("a",)], "s string"))
    with pytest.raises(ValueError, match="overflow"):
        t.append(spark.createDataFrame([("b",), ("c",)], "s string"))


def test_sql_create_table_identity_end_to_end(spark, tmp_path):
    p = str(tmp_path / "sqlt")
    execute_dml(
        spark,
        f"CREATE TABLE versioned.`{p}` (id BIGINT GENERATED ALWAYS AS "
        "IDENTITY (START WITH 5 INCREMENT BY 5), s STRING, "
        "tag STRING GENERATED ALWAYS AS (upper(s)))",
    )
    t = VersionedTable(spark, p)
    assert t.identity_columns() == {"id": (5, 5)}
    assert t.generated_columns() == {"tag": "upper(s)"}
    execute_dml(
        spark, f"INSERT INTO versioned.`{p}` (s) VALUES ('a'), ('b')"
    )
    rows = sorted((r.id, r.s, r.tag) for r in t.read().collect())
    assert rows == [(5, "a", "A"), (10, "b", "B")]
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        execute_dml(
            spark, f"INSERT INTO versioned.`{p}` (id, s) VALUES (1, 'z')"
        )
    with pytest.raises(UnsupportedSqlError, match="BIGINT"):
        execute_dml(
            spark,
            f"CREATE TABLE versioned.`{tmp_path}/it` "
            "(id INT GENERATED ALWAYS AS IDENTITY, s STRING)",
        )


def test_ledger_ids_commit_arbitrated_across_stores(spark, tmp_path):
    """VERDICT r10 defect #1: two driver processes sharing NO lock must
    mint disjoint WatermarkIds. Simulated with two ConfigStore
    instances (each has its own thread lock, so the lock arbitrates
    nothing across them) hammered from 4 threads."""
    root = str(tmp_path / "cfg")
    cs1 = ConfigStore(spark, root)
    cs1.init()
    cs2 = ConfigStore(spark, root)  # second "process"
    assert "WatermarkId" in cs1.watermarks.identity_columns()
    ids: list = []
    errs: list = []
    lock = threading.Lock()

    def worker(cs):
        for _ in range(5):
            try:
                wid = cs.close_watermark(cs.open_watermark(1, None, 0))
                with lock:
                    ids.append(wid)
            except Exception as e:
                with lock:
                    errs.append(repr(e))

    th = [
        threading.Thread(target=worker, args=(cs,))
        for cs in (cs1, cs2)
        for _ in range(2)
    ]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs, errs[:3]
    assert sorted(ids) == list(range(1, 21)), sorted(ids)
    # the ledger table agrees with what the callers were told
    tbl = sorted(r.WatermarkId for r in cs1.watermarks.read().collect())
    assert tbl == list(range(1, 21))
    # EntityId allocation is identity-backed too (fresh entities table:
    # the storm only wrote ledger rows referencing entity 1)
    e1 = cs1.register_entity("src.A", "silver.A", "CT", ["k"])
    e2 = cs2.register_entity("src.B", "silver.B", "TMSTP", ["k"], "ts")
    assert [e1, e2] == [1, 2]


def test_ledger_register_entity_ids_sequential(spark, tmp_path):
    root = str(tmp_path / "cfg2")
    cs = ConfigStore(spark, root)
    cs.init()
    ids = [
        cs.register_entity(f"src.T{i}", f"silver.T{i}", "CT", ["k"])
        for i in range(3)
    ]
    assert ids == [1, 2, 3]
    got = sorted(r.EntityId for r in cs.entities.read().collect())
    assert got == [1, 2, 3]
    # ledger read shape unchanged (golden pipeline contract)
    assert [f.name for f in cs.watermarks.read().schema.fields] == [
        f.name for f in WATERMARKS_SCHEMA.fields
    ]


def test_identity_property_validation(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "pv"), spark.createDataFrame([("a",)], "s string")
    )
    for bad in (
        "[]",
        "{}",
        '{"id": {"start": 1}}',
        '{"id": {"start": 1, "step": 0}}',
        '{"id": {"start": "1", "step": 1}}',
    ):
        with pytest.raises(ValueError):
            t.set_properties({"versioned.identityColumns": bad})


def test_streaming_merge_sink_assigns_identity(spark, tmp_path):
    """The NRT sink shape over an identity table (the reference's
    silver tables carry IDENTITY surrogate keys, dbrdemo.sql:20):
    pre-create the target with the identity column, stream batches
    through the foreachBatch merge sink — inserts get commit-arbitrated
    ids, re-merged keys KEEP theirs across micro-batches."""
    from nrtwithdeltalake_spark.streaming.nrt import run_stream_to_table

    tgt = str(tmp_path / "silver")
    VersionedTable.create(
        spark,
        tgt,
        spark.createDataFrame([], "k long, v string"),
        identity={"rid": (1, 1)},
    )
    sdir = str(tmp_path / "in")
    schema = "k long, v string"
    spark.createDataFrame(
        [(1, "a"), (2, "b")], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{sdir}/b1.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{sdir}/*.parquet")
    )
    run_stream_to_table(stream, tgt, ["k"], str(tmp_path / "ck"))
    first = {r.k: r.rid for r in VersionedTable(spark, tgt).read().collect()}
    assert sorted(first.values()) == [1, 2]

    # second drain: k=1 updates (keeps rid), k=3 inserts (fresh rid)
    spark.createDataFrame(
        [(1, "a2"), (3, "c")], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{sdir}/b2.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{sdir}/*.parquet")
    )
    run_stream_to_table(stream, tgt, ["k"], str(tmp_path / "ck"))
    rows = {r.k: (r.rid, r.v) for r in VersionedTable(spark, tgt).read().collect()}
    assert rows[1] == (first[1], "a2")  # id kept through the update
    assert rows[2] == (first[2], "b")
    assert rows[3][0] == 3 and rows[3][1] == "c"
    assert len({rid for rid, _ in rows.values()}) == 3


def test_shift_orphans_are_vacuumable(spark, tmp_path, monkeypatch):
    """An append that loses the identity race abandons its pre-shift
    files (unreferenced by any commit); vacuum's orphan cleanup must
    reclaim them — the storage story of the shift-and-retry path."""
    import time as _time

    p = str(tmp_path / "orph")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([], "s string"),
        identity={"id": (1, 1)},
    )
    # force one identity race: a concurrent 1-row append lands between
    # this append's id assignment and its commit publish
    orig_write = VersionedTable._write_commit
    state = {"raced": False}

    def racing(self, commit, *a, **kw):
        if commit.op == "append" and not state["raced"]:
            state["raced"] = True
            VersionedTable(self.spark, self.path).append(
                self.spark.createDataFrame([("racer",)], "s string")
            )
        return orig_write(self, commit, *a, **kw)

    monkeypatch.setattr(VersionedTable, "_write_commit", racing)
    t.append(spark.createDataFrame([("loser",)], "s string"))
    monkeypatch.setattr(VersionedTable, "_write_commit", orig_write)
    assert state["raced"]
    rows = sorted((r.id, r.s) for r in t.read().collect())
    assert rows == [(1, "racer"), (2, "loser")]

    # the loser's pre-shift file is on disk but in no commit
    live = {os.path.realpath(f) for c in t.history() for f in t.get_commit(c.version).files}
    on_disk = {
        os.path.realpath(os.path.join(dp, f))
        for dp, _, fs in os.walk(t.data_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    orphans = on_disk - live
    assert orphans  # the abandoned pre-shift write
    t.vacuum(retain_last=100, clean_orphans_hours=0.0)
    assert not (
        {
            os.path.realpath(os.path.join(dp, f))
            for dp, _, fs in os.walk(t.data_dir)
            for f in fs
            if f.endswith(".parquet")
        }
        - live
    )
    # table still reads exactly
    assert sorted((r.id, r.s) for r in t.read().collect()) == rows


def test_sql_insert_arity_hint_names_identity_columns(spark, tmp_path):
    p = str(tmp_path / "hint")
    execute_dml(
        spark,
        f"CREATE TABLE versioned.`{p}` "
        "(id BIGINT GENERATED ALWAYS AS IDENTITY, s STRING)",
    )
    with pytest.raises(UnsupportedSqlError, match="GENERATED ALWAYS AS IDENT"):
        execute_dml(spark, f"INSERT INTO versioned.`{p}` VALUES ('a')")
    # the suggested form works
    execute_dml(spark, f"INSERT INTO versioned.`{p}` (s) VALUES ('a')")
    assert VersionedTable(spark, p).read().collect()[0].id == 1


def test_nmbs_update_cannot_assign_identity(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.merge(
            spark.createDataFrame([("a",)], "s string"),
            ["s"],
            not_matched_by_source_update={"id": "0"},
        )


def test_legacy_store_upgrades_to_identity_ledger(spark, tmp_path):
    """A store created before identity columns (explicit-id appends
    under a thread lock) has NO silent allocation path left: ledger
    writes fail loudly naming the one-call fix, and ``init()`` sweeps
    the store forward automatically — adopting the existing unique id
    columns with the high-water past the legacy max, so the commit-
    arbitrated path takes over with no id collision."""
    import datetime

    from nrtwithdeltalake_spark.pipeline.config import (
        ENTITIES_SCHEMA,
        ConfigStore,
    )

    root = str(tmp_path / "legacy")
    # legacy layout: full schemas, no identity declarations, with
    # EXISTING watermark history written by the old explicit-id scheme
    now = datetime.datetime(2024, 1, 1, 12, 0, 0)
    VersionedTable.create(
        spark,
        os.path.join(root, "entities"),
        spark.createDataFrame(
            [(1, "src.L", "silver.L", "source", "silver", "CT", None, ["k"])],
            ENTITIES_SCHEMA,
        ),
    )
    VersionedTable.create(
        spark,
        os.path.join(root, "watermarks"),
        spark.createDataFrame(
            [(1, 1, None, 0, now, now), (2, 1, None, 1, now, None)],
            WATERMARKS_SCHEMA,
        ),
    )
    cs = ConfigStore(spark, root)
    # the read-max+1 fallback is GONE — pre-upgrade ledger writes
    # refuse loudly and name the fix
    with pytest.raises(RuntimeError, match="upgrade_ledger_identity"):
        cs.close_watermark(cs.open_watermark(1, None, 2))
    with pytest.raises(RuntimeError, match="upgrade_ledger_identity"):
        cs.register_entity("src.M", "silver.M", "TMSTP", ["k"], "ts")
    # init() (idempotent, called by every pipeline entry) auto-upgrades
    cs.init()
    assert cs.upgrade_ledger_identity() == []  # already swept forward

    # post-upgrade: ids continue PAST the legacy max via commit
    # arbitration (two lockless store instances, disjoint ids)
    cs2 = ConfigStore(spark, root)
    ids = [
        cs.close_watermark(cs.open_watermark(1, None, 2)),
        cs2.close_watermark(cs2.open_watermark(1, None, 3)),
    ]
    assert sorted(ids) == [3, 4]
    e2 = cs2.register_entity("src.M", "silver.M", "TMSTP", ["k"], "ts")
    assert e2 == 2
    tbl = sorted(r.WatermarkId for r in cs.watermarks.read().collect())
    assert tbl == [1, 2, 3, 4]


def test_mixed_merge_append_identity_storm(spark, tmp_path, monkeypatch):
    """Merges (which conflict loudly on concurrent identity movement)
    and appends (which shift-and-retry) racing on one identity table:
    with caller-side merge retries, everything lands and every id is
    unique — the mixed-writer shape of a real NRT deployment (stream
    merge sink + backfill appends)."""
    monkeypatch.setattr(tables, "COMMIT_RETRIES", 50)
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "mixed")
    VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([], "k long, s string"),
        identity={"id": (1, 1)},
    )
    errs: list = []

    def appender(w):
        t = VersionedTable(spark, p)
        for i in range(4):
            try:
                t.append(
                    spark.createDataFrame(
                        [(1000 + w * 10 + i, f"a{w}-{i}")], "k long, s string"
                    ),
                )
            except Exception as e:
                errs.append(repr(e))

    def merger(w):
        t = VersionedTable(spark, p)
        for i in range(4):
            src = spark.createDataFrame(
                [(2000 + w * 10 + i, f"m{w}-{i}")], "k long, s string"
            )
            for _ in range(60):  # caller-side retry, as documented
                try:
                    t.merge(src, ["k"])
                    break
                except CommitConflictError:
                    continue
            else:
                errs.append(f"merge w{w}-{i} never landed")

    th = [threading.Thread(target=appender, args=(w,)) for w in range(2)] + [
        threading.Thread(target=merger, args=(w,)) for w in range(2)
    ]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs, errs[:3]
    t = VersionedTable(spark, p)
    rows = t.read().collect()
    assert len(rows) == 16
    ids = sorted(r.id for r in rows)
    assert len(set(ids)) == 16, ids
    assert ids == list(range(1, 17)), ids  # contiguous: nothing leaked
    assert t.identity_high_water("id") == 16


def test_identity_assignment_plan_is_shuffle_free(spark, tmp_path):
    """The assignment claim in the code: monotonically_increasing_id
    decomposition + a literal offset map — the assigned frame must add
    ZERO exchanges over the input (the bounded per-partition count agg
    is a separate job; the WRITE plan itself never shuffles)."""
    from nrtwithdeltalake_spark.plans import inspect as pinspect

    t = VersionedTable.create(
        spark,
        str(tmp_path / "plan"),
        spark.createDataFrame([], "k long, s string"),
        identity={"id": (1, 1)},
    )
    src = spark.range(1000).select(
        F.col("id").alias("k"), F.lit("x").alias("s")
    )
    assigned, last, cache = t._assign_identity(
        src, t._identity_plan(t.get_commit())
    )
    try:
        assert pinspect.num_shuffles(assigned) == 0
        plan = pinspect.physical_plan(assigned).lower()
        assert "exchange" not in plan, plan
        assert "element_at" in plan  # the literal offset map, in codegen
        assert last == {"id": 1000}
        assert assigned.select("id").distinct().count() == 1000
    finally:
        if cache is not None:
            cache.unpersist()


def test_identity_randomized_op_sweep(spark, tmp_path):
    """Seeded random walk over the whole mutation surface of an
    identity table (append / merge / delete / update / overwrite /
    compact / restore): after every op, ids are unique + non-null and
    the high-water equals the max id ever assigned — the invariant
    that makes identity a usable surrogate key."""
    import random

    rng = random.Random(1107)
    p = str(tmp_path / "sweep")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([], "k long, s string"),
        identity={"id": (1, 1)},
    )
    next_k = [0]

    def fresh_rows(n):
        rows = [(next_k[0] + i, f"v{next_k[0] + i}") for i in range(n)]
        next_k[0] += n
        return spark.createDataFrame(rows, "k long, s string")

    hw_ever = [0]

    def check(op):
        rows = t.read().collect()
        ids = [r.id for r in rows]
        assert all(i is not None for i in ids), (op, rows)
        assert len(ids) == len(set(ids)), (op, sorted(ids))
        hw = t.identity_high_water("id") or 0
        assert hw >= hw_ever[0], (op, hw, hw_ever[0])  # never regresses
        assert all(i <= hw for i in ids), (op, hw, max(ids or [0]))
        hw_ever[0] = hw

    for step in range(18):
        op = rng.choice(
            ["append", "merge", "delete", "update", "overwrite",
             "compact", "restore"]
        )
        if op == "append":
            t.append(fresh_rows(rng.randint(1, 4)))
        elif op == "merge":
            # mix of updates to existing keys and brand-new keys
            existing = [r.k for r in t.read().select("k").collect()]
            upd = rng.sample(existing, min(2, len(existing)))
            rows = [(k, f"u{step}") for k in upd] + [
                (next_k[0], f"m{step}")
            ]
            next_k[0] += 1
            t.merge(
                spark.createDataFrame(rows, "k long, s string"), ["k"]
            )
        elif op == "delete":
            t.delete(f"pmod(k, 7) = {rng.randint(0, 6)}")
        elif op == "update":
            t.update(f"pmod(k, 5) = {rng.randint(0, 4)}",
                     {"s": F.lit(f"upd{step}")})
        elif op == "overwrite":
            t.overwrite(fresh_rows(rng.randint(1, 3)))
        elif op == "compact":
            t.compact()
        elif op == "restore":
            v = rng.randint(0, t.latest_version())
            t.restore(v)
        check(op)


def test_adopt_high_water_covers_dv_masked_rows(spark, tmp_path):
    """Adoption must scan RAW files (DVs not applied): a merge-on-read
    deleted row still holds its id, and adopting a lower high-water
    would reissue it — time travel to the pre-delete version would
    then show a duplicate surrogate key."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "dv"),
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (9, "hidden-max")], "k long, s string"
        ),
    )
    t.delete("k = 9", use_dv=True)  # masked, not rewritten
    t.add_identity_column("k")
    t.append(spark.createDataFrame([("new",)], "s string"))
    # the new id continues past the MASKED row's 9, not the visible 2
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 10]
    # pre-delete snapshot stays duplicate-free
    v0 = t.read(version=0).select("k").collect()
    assert sorted(r.k for r in v0) == [1, 2, 9]


def test_identity_ids_flow_through_change_feed_stream(spark, tmp_path):
    """Read-side loop closure: the versioned DataSource's change-feed
    STREAM delivers the assigned ids (insert images from merges and
    appends alike) — a downstream NRT consumer keys on the surrogate
    ids the table minted."""
    from nrtwithdeltalake_spark.sources import datasource as ds

    ds.register(spark)
    p = str(tmp_path / "cdcstream")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([("a",), ("b",)], "s string"),
        identity={"id": (1, 1)},
    )
    t.merge(spark.createDataFrame([("a",), ("c",)], "s string"), ["s"])
    t.append(spark.createDataFrame([("d",)], "s string"))
    rows = []
    q = (
        spark.readStream.format("versioned")
        .option("path", p)
        .option("feed", "changes")
        .option("startingVersion", -1)
        .load()
        .writeStream.foreachBatch(
            lambda b, e: rows.extend(
                (r.id, r.s, r._change_type) for r in b.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    inserts = sorted((i, s) for i, s, ct in rows if ct == "insert")
    assert inserts == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    assert not any(i is None for i, _, _ in rows)


# -- GENERATED BY DEFAULT AS IDENTITY (Delta parity: explicit values
# -- accepted, high-water advanced past them) --------------------------


def _mk_bd(spark, tmp_path, name="bd"):
    return VersionedTable.create(
        spark,
        str(tmp_path / name),
        spark.createDataFrame([("a",), ("b",)], "s string"),
        identity={"id": {"start": 1, "step": 1, "mode": "default"}},
    )


def test_by_default_append_explicit_then_generated(spark, tmp_path):
    t = _mk_bd(spark, tmp_path)
    assert t.identity_modes() == {"id": "default"}
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    # explicit values pass through verbatim
    t.append(spark.createDataFrame([(100, "x"), (107, "y")], "id long, s string"))
    rows = {r.s: r.id for r in t.read().collect()}
    assert (rows["x"], rows["y"]) == (100, 107)
    # the high-water advanced past the explicit max: the next GENERATED
    # value continues from there, never colliding with supplied ids
    t.append(spark.createDataFrame([("z",)], "s string"))
    assert {r.id for r in t.read().filter("s = 'z'").collect()} == {108}
    assert t.identity_high_water("id") == 108


def test_by_default_explicit_null_refused(spark, tmp_path):
    t = _mk_bd(spark, tmp_path)
    with pytest.raises(ValueError, match="non-null"):
        t.append(
            spark.createDataFrame([(None, "x")], "id long, s string")
        )


def test_by_default_explicit_below_high_water_keeps_monotone(spark, tmp_path):
    """Explicit values BELOW the high-water don't regress it (Delta's
    monotone rule): generation continues from the old high-water."""
    t = _mk_bd(spark, tmp_path)  # hw = 2
    t.append(spark.createDataFrame([(-5, "x")], "id long, s string"))
    assert t.identity_high_water("id") == 2
    t.append(spark.createDataFrame([("z",)], "s string"))
    assert t.read().filter("s = 'z'").collect()[0].id == 3


def test_always_column_still_refused_alongside_by_default(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "mix"),
        spark.createDataFrame([("a",)], "s string"),
        identity={
            "aid": {"start": 1, "step": 1, "mode": "always"},
            "did": {"start": 10, "step": 10, "mode": "default"},
        },
    )
    # carrying the ALWAYS column is refused even when the BY DEFAULT
    # one rides along
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(
            spark.createDataFrame(
                [(5, 50, "x")], "aid long, did long, s string"
            )
        )
    # carrying only the BY DEFAULT column works; aid keeps generating
    t.append(spark.createDataFrame([(50, "x")], "did long, s string"))
    r = t.read().filter("s = 'x'").collect()[0]
    assert (r.aid, r.did) == (2, 50)
    # UPDATE refuses BOTH modes (Delta's rule)
    with pytest.raises(ValueError, match="IDENTITY"):
        t.update("s = 'x'", {"did": "99"})


def test_by_default_overwrite_explicit(spark, tmp_path):
    t = _mk_bd(spark, tmp_path)  # hw = 2
    t.overwrite(
        spark.createDataFrame([(40, "n1"), (41, "n2")], "id long, s string")
    )
    assert sorted(r.id for r in t.read().collect()) == [40, 41]
    # overwrite never regresses the high-water; generation continues
    t.append(spark.createDataFrame([("n3",)], "s string"))
    assert t.read().filter("s = 'n3'").collect()[0].id == 42


def test_by_default_merge_upsert_by_id(spark, tmp_path):
    """The upsert-by-surrogate-id shape BY DEFAULT exists for: the
    source carries ids AS the merge key — matched rows update in
    place, unmatched insert with their SUPPLIED id, and the table's
    own generation continues past the supplied ids afterwards."""
    t = _mk_bd(spark, tmp_path)  # rows (1,'a'), (2,'b')
    t.merge(
        spark.createDataFrame(
            [(2, "b2"), (50, "new")], "id long, s string"
        ),
        keys=["id"],
    )
    rows = sorted((r.id, r.s) for r in t.read().collect())
    assert rows == [(1, "a"), (2, "b2"), (50, "new")]
    assert t.identity_high_water("id") == 50
    # a source OMITTING the column still gets fresh generated ids
    t.merge(spark.createDataFrame([("q",)], "s string"), keys=["s"])
    assert t.read().filter("s = 'q'").collect()[0].id == 51
    # matched rows never change their id even when the source carries a
    # DIFFERENT value for a non-key match
    t2 = _mk_bd(spark, tmp_path, name="bd2")  # (1,'a'), (2,'b')
    t2.merge(
        spark.createDataFrame([(99, "a")], "id long, s string"),
        keys=["s"],
    )
    assert t2.read().filter("s = 'a'").collect()[0].id == 1
    # the 99 never landed in any row (no insert happened), so the
    # high-water stands: only INSERT images advance it
    assert t2.identity_high_water("id") == 2


def test_by_default_merge_insert_null_id_refused(spark, tmp_path):
    t = _mk_bd(spark, tmp_path)
    with pytest.raises(ValueError, match="non-null"):
        t.merge(
            spark.createDataFrame([(None, "new")], "id long, s string"),
            keys=["s"],
        )


def test_always_identity_merge_key_still_refused(spark, tmp_path):
    t = _mk(spark, tmp_path)  # ALWAYS mode
    with pytest.raises(ValueError, match="merge keys"):
        t.merge(
            spark.createDataFrame([("a",)], "s string"), keys=["id", "s"]
        )


def test_by_default_lockless_append_storm(spark, tmp_path, monkeypatch):
    """BY DEFAULT twin of the lockless-append storm: two table handles
    (no shared lock) interleave explicit-id appends and generated
    appends; every generated id must be unique and disjoint from every
    explicit id minted AFTER the explicit batch committed."""
    monkeypatch.setattr(tables, "COMMIT_RETRIES", 50)
    p = str(tmp_path / "bdstorm")
    VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([], "s string"),
        identity={"id": {"start": 1, "step": 1, "mode": "default"}},
    )
    errs: list = []
    lock = threading.Lock()

    def gen_worker(n):
        t = VersionedTable(spark, p)
        for i in range(4):
            try:
                t.append(
                    spark.createDataFrame(
                        [(f"g{n}-{i}-{j}",) for j in range(3)], "s string"
                    ),
                )
            except Exception as e:
                with lock:
                    errs.append(repr(e))

    def explicit_worker():
        t = VersionedTable(spark, p)
        for i in range(4):
            try:
                base = 1000 * (i + 1)
                t.append(
                    spark.createDataFrame(
                        [(base + j, f"e{i}-{j}") for j in range(3)],
                        "id long, s string",
                    ),
                )
            except Exception as e:
                with lock:
                    errs.append(repr(e))

    th = [
        threading.Thread(target=gen_worker, args=(0,)),
        threading.Thread(target=gen_worker, args=(1,)),
        threading.Thread(target=explicit_worker),
    ]
    [x.start() for x in th]
    [x.join() for x in th]
    assert errs == []
    rows = VersionedTable(spark, p).read().collect()
    assert len(rows) == 36
    ids = [r.id for r in rows]
    assert len(set(ids)) == 36  # explicit ranges chosen disjoint; all
    # generated ids unique among themselves AND never reusing an
    # explicit id that was already committed when they were minted
    gen_ids = [r.id for r in rows if r.s.startswith("g")]
    assert len(set(gen_ids)) == len(gen_ids)
    hw = VersionedTable(spark, p).identity_high_water("id")
    assert hw == max(ids)


def test_sql_by_default_identity_end_to_end(spark, tmp_path):
    p = str(tmp_path / "sqlbd")
    execute_dml(
        spark,
        f"CREATE TABLE versioned.`{p}` "
        "(id BIGINT GENERATED BY DEFAULT AS IDENTITY (START WITH 5 "
        "INCREMENT BY 5), s STRING)",
    )
    t = VersionedTable(spark, p)
    assert t.identity_columns() == {"id": (5, 5)}
    assert t.identity_modes() == {"id": "default"}
    # omitted → generated; explicit → accepted
    execute_dml(spark, f"INSERT INTO versioned.`{p}` (s) VALUES ('a')")
    execute_dml(
        spark, f"INSERT INTO versioned.`{p}` (id, s) VALUES (42, 'b')"
    )
    execute_dml(spark, f"INSERT INTO versioned.`{p}` (s) VALUES ('c')")
    rows = {r.s: r.id for r in t.read().collect()}
    assert rows == {"a": 5, "b": 42, "c": 47}
    # UPDATE of an identity column is refused in both modes
    with pytest.raises(ValueError, match="IDENTITY"):
        execute_dml(
            spark, f"UPDATE versioned.`{p}` SET id = 1 WHERE s = 'a'"
        )


def test_rebase_overflow_guard(spark, tmp_path, monkeypatch):
    """ADVICE r11: an OCC identity rebase near the BIGINT edge must
    refuse loudly, not wrap into colliding/negative ids."""
    p = str(tmp_path / "rof")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([], "s string"),
        identity={"id": ((1 << 63) - 4, 1)},
    )
    orig_write = VersionedTable._write_commit
    state = {"raced": False}

    def racing(self, commit, *a, **kw):
        if commit.op == "append" and not state["raced"]:
            state["raced"] = True
            # racer consumes 2 ids: (1<<63)-4 and (1<<63)-3
            VersionedTable(self.spark, self.path).append(
                self.spark.createDataFrame(
                    [("r1",), ("r2",)], "s string"
                )
            )
        return orig_write(self, commit, *a, **kw)

    monkeypatch.setattr(VersionedTable, "_write_commit", racing)
    # loser planned (1<<63)-4 … (1<<63)-2 for 3 rows; after the racer
    # consumes two ids the shift lands the last row on 1<<63 — out of
    # BIGINT range, so the rebase must refuse
    with pytest.raises(ValueError, match="overflow"):
        t.append(
            spark.createDataFrame([("a",), ("b",), ("c",)], "s string")
        )
    monkeypatch.setattr(VersionedTable, "_write_commit", orig_write)
    assert state["raced"]


def test_rebase_keeps_evolved_schema_field_ids(spark, tmp_path, monkeypatch):
    """ADVICE r11 (medium): an identity append that EVOLVES the schema
    and loses the OCC race must rewrite its batch under the evolved
    commit schema — otherwise the new column's files miss their field
    ids and id-mapped reads null-fill them (silent data loss)."""
    p = str(tmp_path / "evorace")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([("a",)], "s string"),
        identity={"id": (1, 1)},
    )
    orig_write = VersionedTable._write_commit
    state = {"raced": False}

    def racing(self, commit, *a, **kw):
        if commit.op == "append" and not state["raced"]:
            state["raced"] = True
            # racer does NOT evolve the schema (a concurrent schema
            # change is a real conflict and would abort the loser)
            VersionedTable(self.spark, self.path).append(
                self.spark.createDataFrame([("racer",)], "s string")
            )
        return orig_write(self, commit, *a, **kw)

    monkeypatch.setattr(VersionedTable, "_write_commit", racing)
    # the loser's batch carries a NEW column -> schema evolution + shift
    t.append(
        spark.createDataFrame([("loser", 7.5)], "s string, extra double")
    )
    monkeypatch.setattr(VersionedTable, "_write_commit", orig_write)
    assert state["raced"]
    rows = {r.s: (r.id, r.extra) for r in t.read().collect()}
    assert rows["a"] == (1, None)
    assert rows["racer"] == (2, None)
    # pre-fix this read null-filled extra for the rebased batch
    assert rows["loser"] == (3, 7.5)
    # the change feed's rebased files must keep the column too
    # versions: 0=create, 1=racer's append, 2=the rebased loser
    cdf = (
        t.change_feed(1)
        .filter("_change_type = 'insert'")
        .collect()
    )
    assert [(r.s, r.extra) for r in cdf] == [("loser", 7.5)]


def test_drop_not_null_crash_leaves_conservative_state(
    spark, tmp_path, monkeypatch
):
    """drop_not_null publishes the nullable schema and the removal of
    the enforcement entry in ONE commit: a crash at the publish leaves
    neither changed — the column stays NOT NULL, declared and
    enforced."""
    from nrtwithdeltalake_spark.pipeline import log
    from nrtwithdeltalake_spark.pipeline.tables import (
        ConstraintViolationError,
    )

    t = VersionedTable.create(
        spark,
        str(tmp_path / "dnn"),
        spark.createDataFrame([("a",)], "s string"),
    )
    t.set_not_null("s")
    v = t.latest_version()

    def crashing(log_dir, version, payload):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(log, "publish_commit_file", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        t.drop_not_null("s")
    monkeypatch.undo()
    assert t.latest_version() == v
    assert t.schema()["s"].nullable is False
    assert t.not_null_columns() == ["s"]
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(None,)], "s string"))
    # re-running the drop completes it
    t.drop_not_null("s")
    assert t.schema()["s"].nullable is True
    assert t.not_null_columns() == []
    t.append(spark.createDataFrame([(None,)], "s string"))
    assert t.read().filter("s is null").count() == 1


def test_by_default_explicit_values_survive_double_rebase(
    spark, tmp_path, monkeypatch
):
    """TWO consecutive identity-race losses must still leave explicit
    BY DEFAULT values untouched: the retry loop's plan baseline
    re-advance covers only the columns THIS append assigned — a buggy
    baseline that re-admits the explicit column would shift the
    user-supplied ids on the second conflict (silent corruption)."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "dbl"),
        spark.createDataFrame([("seed",)], "s string"),
        identity={
            "aid": {"start": 1, "step": 1, "mode": "always"},
            "did": {"start": 1000, "step": 1, "mode": "default"},
        },
    )
    orig_write = VersionedTable._write_commit
    state = {"races": 0, "in_racer": False}

    def racing(self, commit, *a, **kw):
        # the loser's first TWO publish attempts each lose to a fresh
        # concurrent append that advances BOTH columns' high-water
        if (
            commit.op == "append"
            and not state["in_racer"]
            and state["races"] < 2
        ):
            state["races"] += 1
            state["in_racer"] = True
            try:
                VersionedTable(self.spark, self.path).append(
                    self.spark.createDataFrame(
                        [(f"racer{state['races']}",)], "s string"
                    )
                )
            finally:
                state["in_racer"] = False
        return orig_write(self, commit, *a, **kw)

    monkeypatch.setattr(VersionedTable, "_write_commit", racing)
    # explicit BY DEFAULT ids 7777/8888 ride the doubly-rebased append
    t.append(
        spark.createDataFrame(
            [(7777, "loser1"), (8888, "loser2")], "did long, s string"
        )
    )
    monkeypatch.setattr(VersionedTable, "_write_commit", orig_write)
    assert state["races"] == 2
    got = {r.s: (r.aid, r.did) for r in t.read().collect()}
    # the supplied values are EXACTLY what was written
    assert got["loser1"][1] == 7777 and got["loser2"][1] == 8888
    # and every engine-assigned id is still distinct
    aids = [v[0] for v in got.values()]
    assert len(aids) == len(set(aids))
