"""The commit loop (``VersionedTable._publish``): optimistic
concurrency with rebase, Delta VLDB'20 §3.2. Every writer publishes
through it, so each test injects a racing commit at ``_write_commit``
and checks that a commuting race rebases and a conflicting one
surfaces. Tier-1: these run in the default (fast) tier."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nrtwithdeltalake_spark.pipeline.tables import VersionedTable


def _inject_before_merge_commit(t, fn):
    """Run ``fn`` once, just before the merge's FIRST commit attempt —
    a deterministic race: the injected writer's commit lands first, so
    the merge hits CommitConflictError and enters rebase resolution."""
    orig = t._write_commit
    state = {"fired": False}

    def wrapper(commit):
        if not state["fired"] and commit.op == "merge":
            state["fired"] = True
            fn()
        return orig(commit)

    t._write_commit = wrapper


def test_merge_rebases_over_concurrent_foreign_append(spark, tmp_path):
    """Merge OCC (Delta VLDB'20 §3.2): a concurrent blind append of
    NON-matching keys commutes with the merge, so the collision is
    resolved by a metadata-only rebase — both commits land, the
    appended rows survive, and the commit stats record the rebase."""
    p = str(tmp_path / "mr")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )

    def racing_append():
        VersionedTable(spark, p).append(
            spark.createDataFrame([(50, "x")], "id long, v string")
        )

    _inject_before_merge_commit(t, racing_append)
    out = t.merge(
        spark.createDataFrame([(1, "upd"), (9, "new")], "id long, v string"),
        ["id"],
    )
    assert out["rebased_from_version"] == 0
    assert out["version"] == 2  # append took 1, merge rebased onto it
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: "upd", 2: "b", 9: "new", 50: "x"}
    assert [c.op for c in t.history()] == ["create", "append", "merge"]


def test_merge_conflicts_on_concurrent_matching_append(spark, tmp_path):
    """A concurrent append whose rows MATCH the merge's keys does not
    commute (a serial execution would have merged them too): the rebase
    check semi-joins the added files and surfaces the conflict."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "mc")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )

    def racing_matching_append():
        VersionedTable(spark, p).append(
            spark.createDataFrame([(1, "race")], "id long, v string")
        )

    _inject_before_merge_commit(t, racing_matching_append)
    with pytest.raises(CommitConflictError, match="matching this merge's keys"):
        t.merge(
            spark.createDataFrame([(1, "upd")], "id long, v string"), ["id"]
        )
    # re-running on the fresh snapshot succeeds and updates BOTH copies
    t2 = VersionedTable(spark, p)
    t2.merge(spark.createDataFrame([(1, "upd")], "id long, v string"), ["id"])
    assert sorted((r.id, r.v) for r in t2.read().collect()) == [
        (1, "upd"),
        (1, "upd"),  # the appended duplicate is updated too
        (2, "b"),
    ]


def test_merge_conflicts_when_touched_file_rewritten(spark, tmp_path):
    """A concurrent merge that rewrote a file this merge ALSO rewrote is
    a write-write conflict — rebasing would silently drop one writer's
    update (lost update), so it must surface."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "ww")
    # one physical file holding BOTH keys → the two merges contend on it
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ).coalesce(1),
    )

    def racing_same_key_merge():
        VersionedTable(spark, p).merge(
            spark.createDataFrame([(2, "theirs")], "id long, v string"), ["id"]
        )

    _inject_before_merge_commit(t, racing_same_key_merge)
    with pytest.raises(CommitConflictError, match="write-write conflict|rewrote"):
        t.merge(
            spark.createDataFrame([(1, "mine")], "id long, v string"), ["id"]
        )
    assert {r.id: r.v for r in VersionedTable(spark, p).read().collect()} == {
        1: "a",
        2: "theirs",
    }


def test_concurrent_merges_disjoint_keys_both_commit(spark, tmp_path):
    """Two racing merges on key ranges living in disjoint files both
    commit (one may rebase over the other) — the VERDICT r5 #2 'done'
    criterion — and the final state reflects both writers."""
    from concurrent.futures import ThreadPoolExecutor

    p = str(tmp_path / "dj")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([(i, "lo") for i in range(5)], "id long, v string"),
    )
    # second append → the two key ranges live in physically distinct files
    t.append(
        spark.createDataFrame([(i, "hi") for i in range(100, 105)], "id long, v string")
    )

    def one(lo: int) -> dict:
        return VersionedTable(spark, p).merge(
            spark.createDataFrame(
                [(lo, f"upd{lo}"), (lo + 900, f"new{lo}")], "id long, v string"
            ),
            ["id"],
        )

    with ThreadPoolExecutor(max_workers=2) as ex:
        outs = list(ex.map(one, [0, 100]))
    assert sorted(o["version"] for o in outs) == [2, 3]
    got = {r.id: r.v for r in VersionedTable(spark, p).read().collect()}
    assert got[0] == "upd0" and got[100] == "upd100"
    assert got[900] == "new0" and got[1000] == "new100"
    assert len(got) == 12


def test_compact_rebases_over_concurrent_append(spark, tmp_path):
    """Compaction OCC: a blind append landing mid-compaction commutes —
    the packed files rebase beside the appended ones, no rows lost; a
    concurrent merge that rewrote a packed input file surfaces the
    conflict instead of resurrecting its old rows."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "cr")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "id long, v string"
        ),
    )
    t.append(spark.createDataFrame([(100, "x")], "id long, v string"))

    orig = t._write_commit
    state = {"fired": False}

    def inject(commit):
        if not state["fired"] and commit.op == "compact":
            state["fired"] = True
            VersionedTable(spark, p).append(
                spark.createDataFrame([(200, "late")], "id long, v string")
            )
        return orig(commit)

    t._write_commit = inject
    t.compact(target_file_bytes=1 << 20)
    got = {r.id: r.v for r in t.read().collect()}
    assert len(got) == 22 and got[200] == "late" and got[100] == "x"
    assert t.get_commit().stats["rebased_from_version"] == 1

    # write-write: a merge rewriting a packed input surfaces the conflict
    t2 = VersionedTable(spark, p)
    orig2 = t2._write_commit
    state2 = {"fired": False}

    def inject2(commit):
        if not state2["fired"] and commit.op == "compact":
            state2["fired"] = True
            VersionedTable(spark, p).merge(
                spark.createDataFrame([(5, "theirs")], "id long, v string"),
                ["id"],
            )
        return orig2(commit)

    t2._write_commit = inject2
    with pytest.raises(CommitConflictError, match="re-run compaction"):
        t2.compact(target_file_bytes=1 << 20)
    # the merge's update survived; nothing was resurrected
    assert {r.v for r in VersionedTable(spark, p).read().filter("id = 5").collect()} == {
        "theirs"
    }


def test_delete_and_update_rebase_over_foreign_append(spark, tmp_path):
    """Predicate copy-on-write OCC: a concurrent append whose rows do
    NOT match the predicate commutes (metadata rebase — the appended
    rows survive beside the rewrite); an append of MATCHING rows
    surfaces the conflict, because a serial execution would have
    affected them too."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "du")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame(
            [(1, "old", 1.0), (2, "old", 2.0), (3, "keep", 3.0)],
            "id long, status string, w double",
        ),
    )

    orig = t._write_commit
    state = {"fired": False}

    def inject_foreign(commit):
        if not state["fired"] and commit.op == "delete":
            state["fired"] = True
            VersionedTable(spark, p).append(
                spark.createDataFrame([(50, "keep", 5.0)], "id long, status string, w double")
            )
        return orig(commit)

    t._write_commit = inject_foreign
    t.delete("status = 'old'")
    t._write_commit = orig
    got = {r.id: r.status for r in t.read().collect()}
    assert got == {3: "keep", 50: "keep"}
    assert t.get_commit().stats["rebased_from_version"] == 0

    # update: concurrent append of a MATCHING row → conflict
    state2 = {"fired": False}

    def inject_matching(commit):
        if not state2["fired"] and commit.op == "update":
            state2["fired"] = True
            VersionedTable(spark, p).append(
                spark.createDataFrame([(60, "keep", 6.0)], "id long, status string, w double")
            )
        return orig(commit)

    t._write_commit = inject_matching
    with pytest.raises(CommitConflictError, match="matching this update's predicate"):
        t.update("status = 'keep'", {"w": F.lit(0.0)})
    # re-run on the fresh snapshot updates every copy, incl. the racer's
    t2 = VersionedTable(spark, p)
    t2.update("status = 'keep'", {"w": F.lit(0.0)})
    assert {r.w for r in t2.read().collect()} == {0.0}


@pytest.mark.parametrize(
    "ddl, args, op",
    [
        ("add_column", ("extra", "double"), "add_column"),
        ("rename_column", ("v", "label"), "rename_column"),
        ("drop_column", ("w",), "drop_column"),
        ("widen_column_type", ("n", "bigint"), "widen_column"),
    ],
)
def test_ddl_rebases_over_concurrent_append(spark, tmp_path, ddl, args, op):
    """A schema DDL racing a blind append: the append takes the version
    first, the DDL re-validates on the fresh snapshot and lands on top
    of it — both commits survive, the appended row included."""
    p = str(tmp_path / "ddl")
    schema = "id long, v string, w double, n int"
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a", 1.0, 1)], schema)
    )
    orig = t._write_commit
    state = {"fired": False}

    def inject(commit):
        if not state["fired"]:
            state["fired"] = True
            VersionedTable(spark, p).append(
                spark.createDataFrame([(2, "b", 2.0, 2)], schema)
            )
        return orig(commit)

    t._write_commit = inject
    assert getattr(t, ddl)(*args) == 2
    assert [c.op for c in t.history()] == ["create", "append", op]
    assert t.get_commit().stats["rebased_from_version"] == 0
    assert sorted(r.id for r in t.read().collect()) == [1, 2]


def test_restore_keeps_txn_watermarks(spark, tmp_path):
    """Writer-transaction watermarks survive RESTORE, as Delta's
    SetTransaction does: rolling the data back must not re-open the
    door to replaying a batch the writer already committed."""
    p = str(tmp_path / "rt")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a")], "id long, v string")
    )
    batch = spark.createDataFrame([(2, "b")], "id long, v string")
    t.append(batch, txn_app="job", txn_version=1)
    t.restore(0)
    assert t.txn_version("job") == 1
    # the replay of the committed batch stays a structural no-op
    assert t.append(batch, txn_app="job", txn_version=1) == 2
    assert [r.id for r in t.read().collect()] == [1]
