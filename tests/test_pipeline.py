"""Pipeline-core tests (the load loop itself is in ``test_load.py``).

* Property-based merge test: random upsert/delete batches on composite
  keys; invariant — merged table ≡ latest-per-key over the concatenated
  history (the reference's own ROW_NUMBER idiom as oracle).
"""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nrtwithdeltalake_spark.pipeline.tables import VersionedTable

from .test_commit_loop import _inject_before_merge_commit
from .test_load import _txn_df

# Slow tier (see pytest.ini): excluded from the default driver-budget
# run; executes via `pytest -m slow`.
pytestmark = pytest.mark.slow

def test_schema_evolution_on_merge(spark, tmp_path):
    """New source column flows into the target with nulls for old rows
    (README.md:8 'handling of schema evolution' via *All merge semantics)."""
    p = str(tmp_path / "tbl")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    t.merge(
        spark.createDataFrame([(2, "b2", 7.5), (3, "c", 1.0)], "id long, v string, extra double"),
        ["id"],
    )
    rows = {r.id: r for r in t.read().collect()}
    assert rows[1].extra is None
    assert rows[2].extra == 7.5 and rows[2].v == "b2"
    assert rows[3].extra == 1.0


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
    with delete-wins semantics — O12/O13 as its own oracle."""
    import uuid as _uuid

    spark = spark_global
    p = os.path.join(tmp_sup, _uuid.uuid4().hex)
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([], "k1 long, k2 string, v long, seq long"),
    )
    seq = 0
    for batch in batches:
        rows = []
        for k1, k2, v, is_del in batch:
            rows.append((k1, k2, v, is_del, seq))
            seq += 1
        t.merge(
            spark.createDataFrame(
                rows, "k1 long, k2 string, v long, is_del boolean, seq long"
            ),
            ["k1", "k2"],
            delete_condition="is_del",
            dedup_order_col="seq",
            exclude_cols=["is_del"],
        )

    # oracle: apply the history sequentially; deletes remove the key.
    latest: dict = {}
    for batch in batches:
        for k1, k2, v, is_del in batch:
            if is_del:
                latest.pop((k1, k2), None)
            else:
                latest[(k1, k2)] = v

    got = {(r.k1, r.k2): r.v for r in t.read().drop("seq").collect()}
    assert got == latest, f"batches={batches}"


@pytest.fixture(scope="session")
def spark_global(spark):
    return spark


@pytest.fixture(scope="session")
def tmp_sup(tmp_path_factory):
    return str(tmp_path_factory.mktemp("prop_merge"))


def test_compact_binpacks_preserving_content_and_history(spark, tmp_path):
    """compact() shrinks the file count, keeps content identical, emits no
    CDF rows, and leaves prior versions time-travelable."""
    path = str(tmp_path / "t_compact")
    df0 = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    t = VersionedTable.create(spark, path, df0.repartition(8))
    for i in range(3):
        t.append(
            spark.range(1000 + i * 100, 1100 + i * 100)
            .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
            .repartition(4)
        )
    pre = t.get_commit()
    before = sorted(r.k for r in t.read().collect())
    v = t.compact(cluster_by=["k"])
    post = t.get_commit()
    assert post.op == "compact" and post.version == v
    assert len(post.files) < len(pre.files)
    assert post.cdf_files == []
    assert sorted(r.k for r in t.read().collect()) == before
    # time travel to the pre-compact version still sees the old file set
    assert sorted(r.k for r in t.read(version=pre.version).collect()) == before
    # change feed across the compact commit carries no spurious changes
    assert t.change_feed(pre.version).count() == 0
    # clustering: each output file covers a disjoint k range (min/max prune)
    stats = (
        t.read()
        .withColumn("f", F.col("_metadata.file_path"))
        .groupBy("f")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in stats)
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))


def test_vacuum_reclaims_only_expired_exclusive_files(spark, tmp_path):
    """vacuum(retain_last=1) deletes files exclusive to expired versions,
    keeps everything the retained snapshot references (carried-over files
    survive), leaves the latest read intact, and breaks change-feed
    resumption from vacuumed versions with a clear error."""
    path = str(tmp_path / "t_vac")
    df0 = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    )
    t = VersionedTable.create(spark, path, df0.repartition(4))
    t.append(
        spark.range(500, 600).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("v")
        )
    )
    # overwrite drops all old data files from the live set
    t.overwrite(
        spark.range(0, 50).select(
            F.col("id").alias("k"), F.lit(9).cast("long").alias("v")
        )
    )
    live = set(t.get_commit().files)
    assert all(os.path.exists(f) for f in live)
    res = t.vacuum(retain_last=1)
    assert res["deleted_files"] > 0
    assert all(os.path.exists(f) for f in live)
    assert sorted(r.k for r in t.read().collect()) == list(range(50))
    with pytest.raises(ValueError, match="vacuumed"):
        t.change_feed(0).count()
    # idempotent
    assert t.vacuum(retain_last=1)["deleted_files"] == 0


def test_read_between_skips_files_by_stats(spark, tmp_path):
    """After a clustered compact, a narrow range read must scan fewer
    files than the table holds and still return exact rows."""
    path = str(tmp_path / "t_skip")
    df0 = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    t = VersionedTable.create(spark, path, df0.repartition(16))
    t.compact(target_file_bytes=16 * 1024, cluster_by=["k"])
    n_files_total = len(t.get_commit().files)
    assert n_files_total > 3, "compact produced too few files for the test"
    pruned = t.read_between("k", 100, 200)
    assert len(pruned.inputFiles()) < n_files_total
    got = sorted(r.k for r in pruned.collect())
    assert got == list(range(100, 201))
    # v0 (random-partitioned, every file spans the full k range): its
    # footer-harvested stats prune nothing — full list, same rows
    v0 = t.read_between("k", 100, 200, version=0)
    assert sorted(r.k for r in v0.collect()) == got


def test_append_records_footer_stats_prunes_without_compact(spark, tmp_path):
    """create/append harvest per-file min/max from parquet footers at
    commit time (O(churn), no data scan), so read_between prunes an NRT
    append-only table IMMEDIATELY — no compaction required. Footer
    bounds must also ENCLOSE scan-derived truth (parquet string stats
    may be truncated to valid-but-wider bounds; numeric must be exact),
    so pruning can only under-skip, never drop rows."""
    path = str(tmp_path / "t_append_stats")
    t = VersionedTable.create(
        spark,
        path,
        spark.range(0, 1000)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
        .repartitionByRange(4, "k"),
    )
    # day-2 NRT appends, each a disjoint key range
    t.append(
        spark.range(1000, 2000)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
        .repartitionByRange(4, "k")
    )
    t.append(
        spark.range(2000, 3000)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
        .repartitionByRange(4, "k")
    )
    c = t.get_commit()
    assert c.op == "append"
    # every file of every commit carries k-bounds (create + both appends)
    assert len(c.stats["file_stats"]) == len(c.files)
    # narrow probe into the SECOND append's range prunes to ~1 file
    pruned = t.read_between("k", 1400, 1450)
    assert len(pruned.inputFiles()) <= 2 < len(c.files)
    assert sorted(r.k for r in pruned.collect()) == list(range(1400, 1451))
    # footer bounds enclose scan truth exactly for the numeric column
    from nrtwithdeltalake_spark.pipeline.tables import _footer_file_stats

    scan = t._collect_file_stats(c.files, c.schema_json, ["k"])
    foot = _footer_file_stats(c.files, t.schema())
    for f, s in scan.items():
        lo, hi = int(s["k"][0]), int(s["k"][1])
        flo, fhi = int(foot[f]["k"][0]), int(foot[f]["k"][1])
        assert flo <= lo and fhi >= hi


def test_file_stats_survive_merge_on_untouched_files(spark, tmp_path):
    """After compact(cluster_by), a merge touching one key range keeps
    stats for carried-over files, so read_between still prunes."""
    path = str(tmp_path / "t_stats_carry")
    t = VersionedTable.create(
        spark,
        path,
        spark.range(0, 10000)
        .select(F.col("id").alias("k"), (F.col("id") % 5).alias("v"))
        .repartition(8),
    )
    t.compact(target_file_bytes=16 * 1024, cluster_by=["k"])
    n_files = len(t.get_commit().files)
    # merge rows only in the low key range
    t.merge(
        spark.createDataFrame([(5, 99), (6, 99)], "k long, v long"), ["k"]
    )
    c = t.get_commit()
    assert c.op == "merge"
    assert "file_stats" in c.stats and len(c.stats["file_stats"]) > 0
    pruned = t.read_between("k", 8000, 9000)
    assert len(pruned.inputFiles()) < n_files
    assert sorted(r.k for r in pruned.collect()) == list(range(8000, 9001))


def test_merge_rejects_bad_keys(spark, tmp_path):
    path = str(tmp_path / "t_badkeys")
    t = VersionedTable.create(
        spark, path, spark.createDataFrame([(1, "a")], "k long, v string")
    )
    src = spark.createDataFrame([(2, "b")], "k long, v string")
    with pytest.raises(ValueError, match="at least one key"):
        t.merge(src, [])
    with pytest.raises(ValueError, match="missing from source or target"):
        t.merge(src, ["nope"])


def test_incremental_rollup_matches_full_recompute(spark, tmp_path):
    """IncrementalRollup invariant: after any sequence of base commits
    (append, merge-update, merge-delete), refresh() produces exactly
    groupBy().agg() of the current snapshot — while recomputing only
    touched groups."""
    from pyspark.sql import functions as F

    from nrtwithdeltalake_spark.pipeline.rollup import IncrementalRollup

    base = VersionedTable.create(
        spark,
        str(tmp_path / "base"),
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 5.0), (3, "b", 7.0), (4, "c", 1.0)],
            "id long, grp string, v double",
        ),
    )
    roll = IncrementalRollup(
        spark,
        base,
        str(tmp_path / "rollup"),
        ["grp"],
        {
            "n": lambda: F.count(F.lit(1)),
            "sum_v": lambda: F.round(F.sum(F.col("v").cast("decimal(18,2)")), 2)
            .cast("double"),
            "max_v": lambda: F.max("v"),
        },
    )

    def check():
        got = sorted(tuple(r) for r in roll.read().collect())
        want = sorted(
            tuple(r)
            for r in base.read()
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("v").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("sum_v"),
                F.max("v").alias("max_v"),
            )
            .collect()
        )
        assert got == want, (got, want)

    r = roll.refresh()
    assert r["bootstrap"]
    check()

    # append into existing and new groups
    base.append(
        spark.createDataFrame([(5, "b", 3.0), (6, "d", 9.0)], "id long, grp string, v double")
    )
    r = roll.refresh()
    assert r["touched_groups"] == 2, r
    check()

    # update rows in one group, delete all rows of another (non-invertible
    # max under delete: group-recompute must handle it)
    base.merge(
        spark.createDataFrame(
            [(1, "a", 100.0, "U"), (4, "c", 0.0, "D")],
            "id long, grp string, v double, op string",
        ),
        keys=["id"],
        delete_condition="op = 'D'",
        exclude_cols=["op"],
    )
    r = roll.refresh()
    assert r["touched_groups"] == 2, r
    check()
    grps = {r.grp for r in roll.read().collect()}
    assert grps == {"a", "b", "d"}, grps  # c vanished with its last row

    # idempotent no-op refresh
    r = roll.refresh()
    assert r["refreshed"] is False


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["append", "upsert", "delete"]),
            st.lists(
                st.tuples(st.integers(0, 20), st.integers(0, 4), st.integers(0, 50)),
                min_size=1,
                max_size=5,
            ),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_rollup_property_random_op_sequences(spark_global, tmp_path_factory, ops):
    """Property: after ANY sequence of append/upsert/delete commits, an
    IncrementalRollup refresh equals the full groupBy recompute of the
    snapshot (including groups that vanish and reappear)."""
    from pyspark.sql import functions as F

    from nrtwithdeltalake_spark.pipeline.rollup import IncrementalRollup

    spark = spark_global
    tmp = tmp_path_factory.mktemp("rollprop")
    rows = [(i, f"g{i % 3}", float(i)) for i in range(6)]
    base = VersionedTable.create(
        spark,
        str(tmp / "base"),
        spark.createDataFrame(rows, "id long, grp string, v double"),
    )
    roll = IncrementalRollup(
        spark,
        base,
        str(tmp / "roll"),
        ["grp"],
        {
            "n": lambda: F.count(F.lit(1)),
            "mx": lambda: F.max("v"),
        },
    )
    roll.refresh()

    for kind, triples in ops:
        batch = [
            (id_, f"g{g}", float(v), "D" if kind == "delete" else "U")
            for id_, g, v in triples
        ]
        df = spark.createDataFrame(batch, "id long, grp string, v double, op string")
        if kind == "append":
            base.append(df.drop("op"))
        else:
            base.merge(df, keys=["id"], delete_condition="op = 'D'",
                       exclude_cols=["op"])
        roll.refresh()
        got = sorted(tuple(r) for r in roll.read().collect())
        want = sorted(
            tuple(r)
            for r in base.read()
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"), F.max("v").alias("mx"))
            .collect()
        )
        assert got == want, (kind, got, want)


def test_zorder_compact_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order contract: after compact(zorder_by=[a, b]) a narrow range
    read on EITHER column must skip files — linear clustering only gives
    that for the leading sort column. Uses two independent dimensions so
    neither can piggyback on the other's ordering."""
    path = str(tmp_path / "t_zorder")
    n = 20000
    df0 = spark.range(0, n).select(
        F.col("id").alias("a"),
        # decorrelated second dimension (bit-reversed-ish permutation)
        ((F.col("id") * 7919) % n).alias("b"),
    )
    t = VersionedTable.create(spark, path, df0.repartition(16))
    t.compact(target_file_bytes=16 * 1024, zorder_by=["a", "b"])
    n_files = len(t.get_commit().files)
    assert n_files >= 8, f"need enough files to observe pruning: {n_files}"
    for col in ("a", "b"):
        pruned = t.read_between(col, 0, n // 16)
        n_scanned = len(pruned.inputFiles())
        assert n_scanned < n_files, f"no pruning on {col}"
        got = sorted(r[col] for r in pruned.collect())
        assert got == list(range(0, n // 16 + 1)), f"wrong rows on {col}"


def test_restore_rolls_back_and_feeds_cdc(spark, tmp_path):
    """RESTORE returns the table to an old snapshot without rewriting
    data files, and the change feed carries the full diff so a CDC
    consumer crossing the restore converges to the restored state."""
    path = str(tmp_path / "t_restore")
    t = VersionedTable.create(
        spark,
        path,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
    )
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    t.merge(spark.createDataFrame([(1, "a2")], "id long, v string"), ["id"])
    pre_restore_version = t.latest_version()
    data_files_before = set(t.get_commit(0).files)

    v = t.restore(0)
    assert v == pre_restore_version + 1
    assert {(r.id, r.v) for r in t.read().collect()} == {(1, "a"), (2, "b")}
    # metadata-only: restored commit references version 0's files
    assert set(t.get_commit().files) == data_files_before
    assert t.get_commit().op == "restore"

    # CDC consumer parked at the pre-restore head sees the full diff
    feed = t.change_feed(pre_restore_version).collect()
    deletes = {(r.id, r.v) for r in feed if r._change_type == "delete"}
    inserts = {(r.id, r.v) for r in feed if r._change_type == "insert"}
    assert deletes == {(1, "a2"), (2, "b"), (3, "c")}
    assert inserts == {(1, "a"), (2, "b")}

    # restoring a vacuumed version fails loudly
    t.overwrite(spark.createDataFrame([(9, "z")], "id long, v string"))
    t.vacuum(retain_last=1)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vacuum"):
        t.restore(1)


def test_update_cdf_when_assignment_falsifies_condition(spark, tmp_path):
    """ADVICE r1: update() CDF must come from PRE-update matching rows —
    a status-transition update (condition on the column being assigned)
    must still emit its postimage rows, not vanish from the feed."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t_upd_cdf"),
        spark.createDataFrame(
            [(1, "open"), (2, "open"), (3, "closed")], "id long, status string"
        ),
    )
    t.update("status = 'open'", {"status": F.lit("closed")})
    assert {(r.id, r.status) for r in t.read().collect()} == {
        (1, "closed"),
        (2, "closed"),
        (3, "closed"),
    }
    feed = t.change_feed(0).collect()
    post = {(r.id, r.status) for r in feed if r._change_type == "update_postimage"}
    pre = {(r.id, r.status) for r in feed if r._change_type == "update_preimage"}
    assert post == {(1, "closed"), (2, "closed")}
    assert pre == {(1, "open"), (2, "open")}


def test_overwrite_emits_delete_cdf(spark, tmp_path):
    """ADVICE r1: a change-feed consumer resuming across an overwrite
    must see delete events for the replaced snapshot, not retain stale
    rows."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t_ow_cdf"),
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
    )
    t.overwrite(spark.createDataFrame([(3, "c")], "id long, v string"))
    feed = t.change_feed(0).collect()
    deletes = {(r.id, r.v) for r in feed if r._change_type == "delete"}
    inserts = {(r.id, r.v) for r in feed if r._change_type == "insert"}
    assert deletes == {(1, "a"), (2, "b")}
    assert inserts == {(3, "c")}


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


def test_zorder_multi_range_prunes_multiplicatively(spark, tmp_path):
    """The z-order payoff: a conjunctive range read on BOTH z-ordered
    columns must scan fewer files than either single-column read, and
    return exactly the rows the ranges select."""
    path = str(tmp_path / "t_zorder_multi")
    n = 20000
    df0 = spark.range(0, n).select(
        F.col("id").alias("a"),
        ((F.col("id") * 7919) % n).alias("b"),
    )
    t = VersionedTable.create(spark, path, df0.repartition(16))
    t.compact(target_file_bytes=16 * 1024, zorder_by=["a", "b"])
    n_files = len(t.get_commit().files)
    ranges = {"a": (0, n // 8), "b": (0, n // 8)}
    multi = t.read_between_multi(ranges)
    n_multi = len(multi.inputFiles())
    n_single_a = len(t.read_between("a", 0, n // 8).inputFiles())
    n_single_b = len(t.read_between("b", 0, n // 8).inputFiles())
    assert n_multi <= min(n_single_a, n_single_b) < n_files
    want = {
        r.a
        for r in df0.filter(
            (F.col("a") <= n // 8) & (F.col("b") <= n // 8)
        ).collect()
    }
    assert {r.a for r in multi.collect()} == want


def test_replace_where_scoped_overwrite(spark, tmp_path):
    """replaceWhere: the matching day's rows are replaced, other days'
    FILES carry over by reference (never rewritten), the change feed
    emits deletes only for replaced rows, and a source row outside the
    predicate is rejected."""
    path = str(tmp_path / "rw_tbl")
    day1 = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0)],
        "id long, day string, v double",
    )
    day2 = spark.createDataFrame(
        [(3, "2024-01-02", 30.0), (4, "2024-01-02", 40.0)],
        "id long, day string, v double",
    )
    VersionedTable.create(spark, path, day1)
    t = VersionedTable(spark, path)
    t.append(day2)
    files_before = set(t.get_commit().files)

    day2_fixed = spark.createDataFrame(
        [(3, "2024-01-02", 99.0), (5, "2024-01-02", 50.0)],
        "id long, day string, v double",
    )
    v = t.overwrite(day2_fixed, replace_where="day = '2024-01-02'")

    got = {(r.id, r.day, r.v) for r in t.read().collect()}
    assert got == {
        (1, "2024-01-01", 10.0),
        (2, "2024-01-01", 20.0),
        (3, "2024-01-02", 99.0),
        (5, "2024-01-02", 50.0),
    }
    # day1's physical files survive untouched (carryover by reference)
    files_after = set(t.get_commit().files)
    day1_files = {
        f for f in files_before
        if {r.day for r in spark.read.parquet(f).collect()} == {"2024-01-01"}
    }
    assert day1_files and day1_files <= files_after

    # CDF of the replace commit: deletes = old day2 rows, inserts = new
    feed = t.change_feed(starting_version=v - 1).collect()
    dels = {(r.id, r.v) for r in feed if r._change_type == "delete"}
    ins = {(r.id, r.v) for r in feed if r._change_type == "insert"}
    assert dels == {(3, 30.0), (4, 40.0)}
    assert ins == {(3, 99.0), (5, 50.0)}

    # source rows outside the predicate are rejected (Delta semantics)
    with pytest.raises(ValueError, match="replace_where"):
        t.overwrite(day1, replace_where="day = '2024-01-02'")


def test_register_makes_table_name_addressable_across_sessions(spark, tmp_path):
    """O5 complete: after register(db, table), a FRESH session (own
    session state, shared catalog — the newSession() analog of the
    reference's cross-notebook metastore addressing) reads the table by
    name, and later commits keep the name current via the commit hook."""
    path = str(tmp_path / "regtab")
    df = _txn_df(spark, [(1, "a", 1.0), (2, "b", 2.0)], "2024-01-01 10:00:00")
    t = VersionedTable.create(spark, path, df).register("reg_db1", "regtab")
    try:
        fresh = spark.newSession()
        got = fresh.table("reg_db1.regtab")
        assert {r.TransactionId for r in got.collect()} == {1, 2}
        t.merge(
            _txn_df(spark, [(3, "c", 3.0)], "2024-01-02 10:00:00"),
            ["TransactionId"],
        )
        # standard Spark semantics for external parquet tables: a reader
        # session that already resolved the relation refreshes to see
        # out-of-session commits (writer-session readers are refreshed
        # automatically by the commit hook)
        fresh.sql("REFRESH TABLE reg_db1.regtab")
        assert {
            r.TransactionId for r in fresh.table("reg_db1.regtab").collect()
        } == {1, 2, 3}
        assert {
            r.TransactionId for r in spark.table("reg_db1.regtab").collect()
        } == {1, 2, 3}
    finally:
        spark.sql("DROP DATABASE IF EXISTS reg_db1 CASCADE")


def test_register_sync_is_o_churn_on_append(spark, tmp_path, monkeypatch):
    """A single-file append to a registered N-file table performs
    O(churn) link ops — only the commit's NEW files are linked into
    ``_current/`` (the logcodec idea applied to the hardlink manifest
    dir), never the N live files. Rewriting commits (merge) still take
    the atomic build-then-rename and stay correct through the name."""
    import os as _os

    import nrtwithdeltalake_spark.pipeline.tables as tb

    path = str(tmp_path / "regchurn")
    t = VersionedTable.create(
        spark, path, _txn_df(spark, [(1, "a", 1.0)], "2024-01-01 10:00:00")
    )
    for i in range(2, 10):
        t.append(_txn_df(spark, [(i, "x", float(i))], "2024-01-01 10:00:00"))
    t.register("reg_db3", "regchurn")
    try:
        n_live = len(t.get_commit().files)
        assert n_live >= 9

        linked = []
        real_link = _os.link
        monkeypatch.setattr(
            tb.os,
            "link",
            lambda s, d: (
                linked.append(d) if "_current" in d else None,
                real_link(s, d),
            )[1],
        )
        t.append(_txn_df(spark, [(100, "y", 9.9)], "2024-01-02 10:00:00"))
        added = len(t.get_commit().files) - n_live
        assert added >= 1
        assert len(linked) == added, (
            f"append linked {len(linked)} files into _current/ for a "
            f"{added}-file commit over {n_live} live files — sync is not "
            "O(churn)"
        )
        monkeypatch.undo()

        fresh = spark.newSession()
        fresh.sql("REFRESH TABLE reg_db3.regchurn")
        assert {
            r.TransactionId for r in fresh.table("reg_db3.regchurn").collect()
        } == set(range(1, 10)) | {100}

        # a rewriting commit falls back to the atomic rebuild and the
        # registered name keeps reading the post-merge snapshot
        t.merge(
            _txn_df(spark, [(1, "a2", 11.0)], "2024-01-03 10:00:00"),
            ["TransactionId"],
        )
        fresh.sql("REFRESH TABLE reg_db3.regchurn")
        got = {
            r.TransactionId: r.TransactionAmount
            for r in fresh.table("reg_db3.regchurn").collect()
        }
        assert got[1] == 11.0 and set(got) == set(range(1, 10)) | {100}
    finally:
        spark.sql("DROP DATABASE IF EXISTS reg_db3 CASCADE")


def test_register_sync_recovers_from_crashed_partial_sync(spark, tmp_path):
    """Crash between _current linking and the registration-metadata
    write: the recorded synced_version stays stale, so the NEXT commit
    must take the full atomic rebuild — after it, _current contains
    exactly the live files (the half-synced garbage is gone) and aged
    leftovers of crashed rebuild dirs are swept."""
    import json
    import time as _time

    path = str(tmp_path / "regcrash")
    t = VersionedTable.create(
        spark, path, _txn_df(spark, [(1, "a", 1.0)], "2024-01-01 10:00:00")
    ).register("reg_db4", "regcrash")
    try:
        cur = t._current_dir()
        # simulate the torn state a crash mid-incremental-sync leaves:
        # an extra link that belongs to no commit...
        with open(os.path.join(cur, "deadbeef0000_orphan.parquet"), "w") as f:
            f.write("not a real parquet")
        # ...and a stale synced_version (the metadata write never ran)
        reg = t._read_registration()
        reg["synced_version"] = 7  # != next commit - 1 → forces rebuild
        with open(t._registration_path(), "w") as f:
            json.dump(reg, f)
        # plus an aged crashed-rebuild dir that the sweep should remove
        stale = f"{cur}.tmp.deadbeef"
        os.makedirs(stale)
        _time.sleep(0.01)
        os.utime(stale, (_time.time() - 7200, _time.time() - 7200))

        t.append(_txn_df(spark, [(2, "b", 2.0)], "2024-01-02 10:00:00"))

        linked = sorted(os.listdir(cur))
        expect = sorted(
            VersionedTable._link_name(f) for f in t.get_commit().files
        )
        assert linked == expect, "rebuild did not converge _current/"
        assert not os.path.exists(stale), "aged crashed tmp dir not swept"
        fresh = spark.newSession()
        fresh.sql("REFRESH TABLE reg_db4.regcrash")
        assert {
            r.TransactionId for r in fresh.table("reg_db4.regcrash").collect()
        } == {1, 2}
    finally:
        spark.sql("DROP DATABASE IF EXISTS reg_db4 CASCADE")


def test_register_follows_schema_evolution(spark, tmp_path):
    """Schema evolution re-creates the catalog entry: after a merge adds
    a column, the registered name exposes it (nulls on old rows)."""
    path = str(tmp_path / "regtab2")
    df = _txn_df(spark, [(1, "a", 1.0)], "2024-01-01 10:00:00")
    t = VersionedTable.create(spark, path, df).register("reg_db2", "regtab2")
    try:
        evolved = _txn_df(spark, [(2, "b", 2.0)], "2024-01-02 10:00:00").withColumn(
            "extra", F.lit("x")
        )
        t.merge(evolved, ["TransactionId"])
        got = spark.newSession().table("reg_db2.regtab2")
        assert "extra" in got.columns
        vals = {r.TransactionId: r.extra for r in got.collect()}
        assert vals == {1: None, 2: "x"}
    finally:
        spark.sql("DROP DATABASE IF EXISTS reg_db2 CASCADE")


def test_check_constraints_gate_writes(spark, tmp_path):
    """Delta CHECK-constraint parity: adding a constraint validates the
    existing snapshot; violating appends/merges are rejected whole (no
    partial commit); compaction of already-valid data is exempt from
    re-validation; dropping the constraint reopens the gate."""
    from nrtwithdeltalake_spark.pipeline.tables import (
        ConstraintViolationError,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id bigint, amount double"
    )
    t = VersionedTable.create(spark, path, df)
    t.add_constraint("amount_pos", "amount > 0")
    v = t.latest_version()
    with pytest.raises(ValueError):
        t.add_constraint("amount_pos", "amount > 1")  # duplicate name
    with pytest.raises(ConstraintViolationError):
        t.append(
            spark.createDataFrame(
                [(3, -1.0)], "id bigint, amount double"
            )
        )
    assert t.latest_version() == v  # rejected append committed nothing
    # NULL passes (SQL CHECK semantics)
    t.append(
        spark.createDataFrame(
            [(3, None)], "id bigint, amount double"
        )
    )
    # a constraint the current data already violates is refused
    with pytest.raises(ConstraintViolationError):
        t.add_constraint("amount_not_null", "amount IS NOT NULL")
    # merge with a violating source row is rejected too
    with pytest.raises(ConstraintViolationError):
        t.merge(
            spark.createDataFrame(
                [(1, -5.0)], "id bigint, amount double"
            ),
            keys=["id"],
        )
    t.compact()  # exempt rewrite: must not re-probe (and must succeed)
    t.drop_constraint("amount_pos")
    t.append(
        spark.createDataFrame([(4, -1.0)], "id bigint, amount double")
    )
    assert t.read().filter("amount < 0").count() == 1


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


def test_delete_where_copy_on_write_and_cdf(spark, tmp_path):
    """Predicate DELETE: only files containing matching rows are
    rewritten; survivors and other files keep their content; deleted
    rows appear in the change feed as 'delete'; NULL predicates keep
    the row; a no-match delete still commits (empty CDF) and time
    travel preserves the pre-delete snapshot."""
    path = str(tmp_path / "t")
    a = spark.createDataFrame(
        [(1, 10.0), (2, None)], "id bigint, amount double"
    )
    b = spark.createDataFrame(
        [(3, 30.0), (4, 40.0)], "id bigint, amount double"
    )
    t = VersionedTable.create(spark, path, a)
    t.append(b)  # second file set — must carry over untouched
    files_before = set(t.get_commit().files)
    v = t.delete("amount < 20")  # matches id=1 only; id=2 NULL → kept
    assert v == 2
    ids = sorted(r.id for r in t.read().collect())
    assert ids == [2, 3, 4]
    commit = t.get_commit()
    # id=3/4 file(s) carried over by reference (no rewrite)
    assert set(commit.files) & files_before, "carryover expected"
    cdf = t.change_feed(starting_version=v - 1)
    dels = [
        r.id
        for r in cdf.filter("_change_type = 'delete'").collect()
    ]
    assert dels == [1]
    assert sorted(
        r.id for r in t.read(version=1).collect()
    ) == [1, 2, 3, 4]  # time travel unaffected
    v2 = t.delete("id = 999")  # no match
    assert v2 == 3 and t.read().count() == 3


def test_alter_schema_metadata_only(spark, tmp_path):
    """ADD/DROP COLUMN are O(1) metadata commits: no data file changes;
    added columns read as NULL from old files and accept values from
    new writes; dropped columns disappear from reads but survive in
    time travel; rename is refused by omission (no API)."""
    path = str(tmp_path / "t")
    t = VersionedTable.create(
        spark,
        path,
        spark.createDataFrame([(1, "a")], "id bigint, v string"),
    )
    files0 = list(t.get_commit().files)
    t.add_column("score", "double")
    assert t.get_commit().files == files0  # metadata only
    row = t.read().collect()[0]
    assert row.score is None
    t.append(
        spark.createDataFrame(
            [(2, "b", 0.5)], "id bigint, v string, score double"
        )
    )
    got = {r.id: r.score for r in t.read().collect()}
    assert got == {1: None, 2: 0.5}
    with pytest.raises(ValueError):
        t.add_column("score", "double")
    v_before_drop = t.latest_version()
    t.drop_column("v")
    assert "v" not in t.read().columns
    assert "v" in t.read(version=v_before_drop).columns  # time travel
    with pytest.raises(ValueError):
        t.drop_column("nope")


def test_concurrent_appends_all_land(spark, tmp_path):
    """Optimistic concurrency for blind appends: 6 racing writers (own
    table handles, one path) must ALL commit — version collisions are
    resolved by metadata-only retry on the atomic put-if-absent log,
    and no rows or commits are lost or doubled."""
    from concurrent.futures import ThreadPoolExecutor

    p = str(tmp_path / "cc")
    VersionedTable.create(
        spark, p, spark.createDataFrame([(0, -1)], "writer long, i long")
    )

    def one(w: int) -> int:
        t = VersionedTable(spark, p)
        return t.append(
            spark.createDataFrame([(w, i) for i in range(10)], "writer long, i long")
        )

    with ThreadPoolExecutor(max_workers=6) as ex:
        versions = sorted(ex.map(one, range(1, 7)))
    assert versions == [1, 2, 3, 4, 5, 6], versions
    t = VersionedTable(spark, p)
    assert t.read().count() == 61
    got = {r.writer: r.n for r in t.read().groupBy("writer").count().withColumnRenamed("count", "n").collect()}
    assert got == {0: 1, **{w: 10 for w in range(1, 7)}}
    # every commit is an append on a contiguous version chain
    assert [c.op for c in t.history()] == ["create"] + ["append"] * 6


def test_snapshot_writers_surface_conflict(spark, tmp_path):
    """The commit log's put-if-absent contract: publishing a version
    that already exists surfaces CommitConflictError — the primitive
    both the append retry and the merge rebase are built on."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "sc")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a")], "id long, v string")
    )
    # simulate a racing writer landing version 1 first
    other = VersionedTable(spark, p)
    other.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    stale = t.get_commit(0)

    import time as _time

    from nrtwithdeltalake_spark.pipeline.tables import Commit

    with pytest.raises(CommitConflictError):
        t._write_commit(
            Commit(1, "merge", stale.files, [], stale.schema_json, _time.time(), {})
        )


def test_rename_column_is_metadata_only(spark, tmp_path):
    """Column mapping (VERDICT r6 #8): rename commits only metadata —
    the stable field id matches old files' columns, so data written
    under the old name reads under the new one, no file is rewritten,
    and time travel still shows the old name."""
    p = str(tmp_path / "rn")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "id long, v string, w double"),
    )
    t.append(spark.createDataFrame([(3, "c", 3.0)], "id long, v string, w double"))
    files_before = list(t.get_commit().files)
    v_before = t.latest_version()

    t.rename_column("v", "label")
    assert t.get_commit().files == files_before  # zero files rewritten
    got = {r.id: r.label for r in t.read().collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    assert "v" not in t.read().columns
    # time travel: the old version still reads under the old name
    old = t.read(version=v_before)
    assert "v" in old.columns and "label" not in old.columns
    assert {r.id: r.v for r in old.collect()} == {1: "a", 2: "b", 3: "c"}

    # writes after the rename interleave with pre-rename files
    t.merge(
        spark.createDataFrame([(1, "upd", 9.0), (9, "new", 9.9)], "id long, label string, w double"),
        ["id"],
    )
    got = {r.id: r.label for r in t.read().collect()}
    assert got == {1: "upd", 2: "b", 3: "c", 9: "new"}

    with pytest.raises(ValueError, match="does not exist"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("label", "id")


def test_dropped_field_id_never_reissued(spark, tmp_path):
    """Drop a column, re-add the same name: the new column must NOT
    resurrect the dropped column's bytes from old files — its field id
    is fresh (the high-water mark in commit stats outlives the drop)."""
    p = str(tmp_path / "hw")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, w double")
    )
    t.drop_column("w")
    t.add_column("w", "double")
    assert {r.id: r.w for r in t.read().collect()} == {1: None, 2: None}
    # and a rename after re-add still reads the fresh (null) column
    t.rename_column("w", "weight")
    assert {r.id: r.weight for r in t.read().collect()} == {1: None, 2: None}


def test_rename_keeps_data_skipping_stats(spark, tmp_path):
    """The committed per-file min/max stats are re-keyed to the new
    logical name, so read_between keeps pruning after a rename."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "rs")
    t = VersionedTable.create(
        spark,
        p,
        spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("val")),
    )
    t.compact(target_file_bytes=4 * 1024, cluster_by=["val"])
    t.rename_column("val", "metric")
    stats = t.get_commit().stats["file_stats"]
    assert all("metric" in s and "val" not in s for s in stats.values())
    got = sorted(r.id for r in t.read_between("metric", 10, 20).collect())
    assert got == [5, 6, 7, 8, 9, 10]


def test_rename_requires_column_mapping_with_upgrade_path(spark, tmp_path):
    """A genuinely legacy table (committed before column mapping, so its
    schema carries no field ids) refuses rename with actionable
    guidance; one self-overwrite assigns ids and unlocks it — the
    upgrade path. Since round 8 the format writer is id-mapped from
    birth, so the legacy state is simulated by stripping the ids out of
    the commit record, exactly what a pre-mapping commit looked like."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from nrtwithdeltalake_spark.pipeline import log
    from nrtwithdeltalake_spark.sources import datasource as ds

    ds.register(spark)
    p = str(tmp_path / "legacy")
    spark.range(5).select(F.col("id"), F.lit("x").alias("v")).write.format(
        "versioned"
    ).mode("append").save(p)
    # simulate a pre-column-mapping commit: strip field ids from the log
    v = log.latest_version_in(log.dir_of(p))
    cpath = log.commit_path(log.dir_of(p), v)
    with open(cpath) as f:
        rec = _json.loads(f.read())
    sch = T.StructType.fromJson(_json.loads(rec["schema_json"]))
    stripped = T.StructType(
        [T.StructField(fl.name, fl.dataType, fl.nullable) for fl in sch.fields]
    )
    rec["schema_json"] = stripped.json()
    rec.get("stats", {}).pop("max_field_id", None)
    with open(cpath, "w") as f:
        f.write(_json.dumps(rec))

    t = VersionedTable(spark, p)
    with pytest.raises(ValueError, match="predates column mapping"):
        t.rename_column("v", "label")
    t.overwrite(t.read())  # upgrade: full rewrite assigns field ids
    t.rename_column("v", "label")
    assert {r.id: r.label for r in t.read().collect()} == {
        i: "x" for i in range(5)
    }


def test_rename_visible_through_format_and_format_appends(spark, tmp_path):
    """Interop after rename: the registered 'versioned' format reads the
    renamed column BY FIELD ID from pre-rename files (pyarrow path), and
    a format-writer append lands id-stamped files the native reader
    unions correctly."""
    from pyspark.sql import functions as F

    from nrtwithdeltalake_spark.sources import datasource as ds

    ds.register(spark)
    p = str(tmp_path / "fmt")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    t.rename_column("v", "label")

    df = spark.read.format("versioned").option("path", p).load()
    assert {r.id: r.label for r in df.collect()} == {1: "a", 2: "b"}
    # pruned projection on the renamed column still id-matches
    only = (
        spark.read.format("versioned")
        .option("path", p)
        .option("columns", "label")
        .load()
    )
    assert sorted(r.label for r in only.collect()) == ["a", "b"]

    spark.range(7, 9).select(
        F.col("id"), F.lit("z").alias("label")
    ).write.format("versioned").mode("append").save(p)
    got = {r.id: r.label for r in t.read().collect()}
    assert got == {1: "a", 2: "b", 7: "z", 8: "z"}


@settings(max_examples=6, deadline=None)
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(0, 9)),
            st.tuples(st.just("add"), st.sampled_from(["x", "y", "z"])),
            st.tuples(st.just("drop"), st.sampled_from(["x", "y", "z"])),
            st.tuples(
                st.just("rename"),
                st.tuples(
                    st.sampled_from(["x", "y", "z", "v"]),
                    st.sampled_from(["x2", "y2", "z2", "v2"]),
                ),
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_column_mapping_property_random_histories(
    spark_global, tmp_path_factory, ops
):
    """Property: after ANY sequence of append / add_column /
    drop_column / rename_column commits, the table read equals a pure-
    Python model that applies the same operations to a dict-of-rows —
    i.e. renames follow data across old files, drops hide exactly one
    column, re-adds never resurrect old bytes, and appends align to the
    evolved schema."""
    spark = spark_global
    tmp = tmp_path_factory.mktemp("colmap")
    p = str(tmp / "t")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(0, "s0")], "id long, v string")
    )
    # model: list of dicts keyed by CURRENT logical column names; types
    # follow columns across renames (the engine REJECTS retypes)
    cols = ["id", "v"]
    ctypes = {"id": "long", "v": "string"}
    model = [{"id": 0, "v": "s0"}]
    next_id = 1

    for kind, arg in ops:
        if kind == "append":
            row = {
                c: (
                    f"s{next_id}"
                    if ctypes[c] == "string"
                    else next_id + hash(c) % 7
                )
                for c in cols
            }
            row["id"] = next_id
            schema = ", ".join(f"{c} {ctypes[c]}" for c in cols)
            t.append(
                spark.createDataFrame([tuple(row[c] for c in cols)], schema)
            )
            model.append(row)
            next_id += 1
        elif kind == "add":
            if arg in cols:
                continue
            t.add_column(arg, "long")
            cols.append(arg)
            ctypes[arg] = "long"
            for r in model:
                r[arg] = None
        elif kind == "drop":
            if arg not in cols or len(cols) == 1:
                continue
            t.drop_column(arg)
            cols.remove(arg)
            ctypes.pop(arg)
            for r in model:
                r.pop(arg, None)
        else:  # rename
            src, dst = arg
            if src not in cols or dst in cols or src == "id":
                continue
            t.rename_column(src, dst)
            cols[cols.index(src)] = dst
            ctypes[dst] = ctypes.pop(src)
            for r in model:
                r[dst] = r.pop(src)

    got = sorted(
        tuple(row[c] for c in cols) for row in (r.asDict() for r in t.read().collect())
    )
    want = sorted(tuple(r.get(c) for c in cols) for r in model)
    assert t.read().columns == cols
    assert got == want


def test_mixed_writer_storm_converges(spark, tmp_path):
    """Concurrency storm: appenders, disjoint-range mergers, and a
    compactor race on ONE table with no coordination. Blind appends
    must always land; mergers/compactor retry on surfaced conflicts
    (the documented contract). Invariant: nothing is lost or doubled —
    the final table equals the serial expectation, and the version
    chain is contiguous."""
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "storm")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame(
            [(i, "base") for i in range(10)], "id long, v string"
        ),
    )

    def appender(w: int):
        tw = VersionedTable(spark, p)
        tw.append(
            spark.createDataFrame(
                [(1000 + w * 10 + i, f"a{w}") for i in range(5)],
                "id long, v string",
            )
        )

    def merger(lo: int):
        tw = VersionedTable(spark, p)
        src = spark.createDataFrame(
            [(lo + i, f"m{lo}") for i in range(3)], "id long, v string"
        )
        for _ in range(8):
            try:
                tw.merge(src, ["id"])
                return
            except CommitConflictError:
                _time.sleep(0.2)
        raise AssertionError("merger starved")

    def compactor():
        tw = VersionedTable(spark, p)
        for _ in range(8):
            try:
                tw.compact(target_file_bytes=1 << 20)
                return
            except CommitConflictError:
                _time.sleep(0.2)
        raise AssertionError("compactor starved")

    jobs = (
        [lambda w=w: appender(w) for w in range(3)]
        + [lambda: merger(2000), lambda: merger(3000)]
        + [compactor]
    )
    with ThreadPoolExecutor(max_workers=6) as ex:
        list(ex.map(lambda f: f(), jobs))

    rows = {r.id: r.v for r in VersionedTable(spark, p).read().collect()}
    want = {i: "base" for i in range(10)}
    for w in range(3):
        want.update({1000 + w * 10 + i: f"a{w}" for i in range(5)})
    want.update({2000 + i: "m2000" for i in range(3)})
    want.update({3000 + i: "m3000" for i in range(3)})
    assert rows == want
    versions = [c.version for c in VersionedTable(spark, p).history()]
    assert versions == list(range(len(versions)))


def test_append_and_merge_reject_type_change(spark, tmp_path):
    """Schema enforcement (Delta parity, same contract as the format
    writer): append/merge with a retyped column is rejected loudly at
    plan time — found by the column-mapping property test, where the
    old behavior silently wrote physically-mismatched parquet that
    failed only at read time."""
    p = str(tmp_path / "tc")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a")], "id long, v string")
    )
    with pytest.raises(ValueError, match="type change for column 'v'"):
        t.append(spark.createDataFrame([(2, 7)], "id long, v long"))
    with pytest.raises(ValueError, match="type change for column 'v'"):
        t.merge(spark.createDataFrame([(1, 7)], "id long, v long"), ["id"])
    assert t.latest_version() == 0  # nothing committed
    # overwrite may retype (full replace, no surviving rows to misread)
    t.overwrite(spark.createDataFrame([(1, 7)], "id long, v long"))
    assert {r.v for r in t.read().collect()} == {7}


def test_incompatible_retype_breaks_cdf_continuity(spark, tmp_path):
    """An overwrite with a NON-widening retype (string → bigint) has no
    expressible delete pre-images: the commit lands flagged as a CDF
    schema break, a feed crossing it fails loudly (Delta's
    overwriteSchema contract — re-bootstrap, don't silently retain
    stale rows), and a feed STARTING at the break version flows. A
    widening retype (int → long) keeps continuity: pre-images cast
    losslessly."""
    p = str(tmp_path / "brk")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a")], "id long, v string")
    )
    brk = t.overwrite(spark.createDataFrame([(1, 7)], "id long, v long"))
    assert t.get_commit(brk).stats.get("cdf_schema_break") is True
    assert t.get_commit(brk).cdf_files == []
    with pytest.raises(ValueError, match="incompatible schema change"):
        t.change_feed(starting_version=0).collect()
    # resuming AT the break version sees only post-break commits
    t.append(spark.createDataFrame([(2, 9)], "id long, v long"))
    rows = t.change_feed(starting_version=brk).collect()
    assert [(r.id, r.v, r._change_type) for r in rows] == [(2, 9, "insert")]

    # widening retype keeps continuity: pre-images cast exactly
    p2 = str(tmp_path / "wide")
    t2 = VersionedTable.create(
        spark, p2, spark.createDataFrame([(1, 5)], "id long, v int")
    )
    t2.overwrite(spark.createDataFrame([(1, 6)], "id long, v long"))
    feed = t2.change_feed(starting_version=0).collect()
    assert sorted((r.v, r._change_type) for r in feed) == [
        (5, "delete"),
        (6, "insert"),
    ]
    # restore back across the incompatible retype also breaks continuity
    rv = t.restore(0)
    assert t.get_commit(rv).stats.get("cdf_schema_break") is True
    assert {r.v for r in t.read().collect()} == {"a"}


def test_rename_refused_on_registered_table(spark, tmp_path):
    """A catalog-registered table refuses metadata-only rename: the
    external parquet table matches columns by NAME (the catalog strips
    field-id metadata), so the renamed column would silently read NULL
    through db.table — the refusal names the safe sequence instead."""
    p = str(tmp_path / "reg")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a")], "id long, v string")
    )
    spark.sql("DROP DATABASE IF EXISTS rn_db CASCADE")
    t.register("rn_db", "t1")
    try:
        with pytest.raises(ValueError, match="catalog-registered"):
            t.rename_column("v", "label")
        # the registered name still reads correctly
        assert spark.table("rn_db.t1").count() == 1
    finally:
        spark.sql("DROP DATABASE IF EXISTS rn_db CASCADE")


def test_replace_where_rebases_over_foreign_append(spark, tmp_path):
    """The partition-reload race at scale: a replace_where reload and a
    concurrent append of rows OUTSIDE the reloaded range both commit
    (metadata rebase); an append INSIDE the range surfaces the
    conflict — a serial reload would have replaced those rows too."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "rw")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame(
            [(1, "d1", "old"), (2, "d2", "old")], "id long, day string, v string"
        ),
    )

    orig = t._write_commit
    state = {"fired": False}

    def inject_outside(commit):
        if not state["fired"] and commit.op == "overwrite_where":
            state["fired"] = True
            VersionedTable(spark, p).append(
                spark.createDataFrame([(9, "d9", "x")], "id long, day string, v string")
            )
        return orig(commit)

    t._write_commit = inject_outside
    t.overwrite(
        spark.createDataFrame([(10, "d1", "new")], "id long, day string, v string"),
        replace_where="day = 'd1'",
    )
    t._write_commit = orig
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {2: "old", 9: "x", 10: "new"}
    assert t.get_commit().stats["rebased_from_version"] == 0

    state2 = {"fired": False}

    def inject_inside(commit):
        if not state2["fired"] and commit.op == "overwrite_where":
            state2["fired"] = True
            VersionedTable(spark, p).append(
                spark.createDataFrame([(11, "d2", "race")], "id long, day string, v string")
            )
        return orig(commit)

    t._write_commit = inject_inside
    with pytest.raises(CommitConflictError, match="matching this overwrite_where"):
        t.overwrite(
            spark.createDataFrame([(12, "d2", "new2")], "id long, day string, v string"),
            replace_where="day = 'd2'",
        )


def test_change_feed_id_matches_across_rename(spark, tmp_path):
    """ROUND-8 fix (VERDICT r7 #2): the change feed reads CDF history
    with the CURRENT commit schema (parquet field-id matching), so a
    renamed column's pre-rename changes surface under its NEW name. The
    old name-inferred unionByName path split the column across old/new
    names with NULLs — incremental consumers resuming across a rename
    got silently wrong deltas."""
    from pyspark.sql import functions as F

    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "id long, v string, amt double"),
    )
    t.append(spark.createDataFrame([(3, "c", 3.0)], "id long, v string, amt double"))
    t.rename_column("v", "label")
    t.append(spark.createDataFrame([(4, "d", 4.0)], "id long, label string, amt double"))

    feed = t.change_feed(-1)
    # one unified 'label' column carrying BOTH pre- and post-rename data
    assert "label" in feed.columns and "v" not in feed.columns
    got = {r.id: r.label for r in feed.filter("_change_type = 'insert'").collect()}
    assert got == {1: "a", 2: "b", 3: "c", 4: "d"}
    assert feed.filter("label is null").count() == 0

    # a consumer whose watermark predates the rename sees the same unity
    pre = t.change_feed(0)  # versions 1 (pre-rename append) .. 3
    got = {r.id: r.label for r in pre.filter("_change_type = 'insert'").collect()}
    assert got == {3: "c", 4: "d"}


def test_rollup_resumes_across_rename(spark, tmp_path):
    """VERDICT r7 #2 done-criterion: IncrementalRollup resumes across a
    rename_column with correct deltas — the touched-group detection and
    group recompute both run on the change feed's id-matched current
    names."""
    from pyspark.sql import functions as F

    from nrtwithdeltalake_spark.pipeline.rollup import IncrementalRollup

    base = VersionedTable.create(
        spark,
        str(tmp_path / "base"),
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 5.0), (3, "b", 7.0)],
            "id long, grp string, v double",
        ),
    )
    base.rename_column("v", "val")
    roll = IncrementalRollup(
        spark,
        base,
        str(tmp_path / "rollup"),
        ["grp"],
        {"n": lambda: F.count(F.lit(1)), "max_val": lambda: F.max("val")},
    )
    roll.refresh()  # bootstrap; watermark = the rename commit
    # now mutate with CDF on BOTH sides of a second rename
    base.append(spark.createDataFrame([(4, "a", 99.0)], "id long, grp string, val double"))
    base.rename_column("val", "metric")
    roll2 = IncrementalRollup(
        spark,
        base,
        str(tmp_path / "rollup"),
        ["grp"],
        {"n": lambda: F.count(F.lit(1)), "max_val": lambda: F.max("metric")},
    )
    base.delete("id = 3")
    # the CDF slice now spans a pre-rename append (v2, files under
    # 'val') and a post-rename delete (v4, files under 'metric') — the
    # id-matched feed must unify them under 'metric'
    out = roll2.refresh()
    assert out["refreshed"] is True
    got = sorted(tuple(r) for r in roll2.read().collect())
    assert got == [("a", 3, 99.0)]


def test_append_type_widening(spark, tmp_path):
    """ROUND-8 (VERDICT r7 'What's missing' #1): safe type widening in
    append/merge evolution — int→bigint, float→double, decimal
    precision growth. The commit schema adopts the wider type (field id
    kept), old narrow files read through it losslessly, and merges
    align both sides. Narrowing/incompatible retypes still reject."""
    from decimal import Decimal

    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, 10, 1.5, Decimal("1.25")), (2, 20, 2.5, Decimal("2.50"))],
            "id long, n int, x float, d decimal(8,2)",
        ),
    )
    t.append(
        spark.createDataFrame(
            [(3, 2**40, 3.5, Decimal("1234567890.12"))],
            "id long, n long, x double, d decimal(12,2)",
        )
    )
    sch = {f.name: f.dataType.simpleString() for f in t.schema().fields}
    assert sch == {"id": "bigint", "n": "bigint", "x": "double", "d": "decimal(12,2)"}
    got = {r.id: (r.n, r.x, r.d) for r in t.read().collect()}
    assert got[1] == (10, 1.5, Decimal("1.25"))  # old narrow file, widened read
    assert got[3] == (2**40, 3.5, Decimal("1234567890.12"))

    # field ids survived the widen: rename still finds old files' data
    t.rename_column("n", "count")
    assert {r.id: r["count"] for r in t.read().collect()} == {1: 10, 2: 20, 3: 2**40}

    # a NARROWER source appends through an upcast (table type holds it)
    t.append(
        spark.createDataFrame(
            [(4, 7, float(1.0), Decimal("3.00"))],
            "id long, count int, x float, d decimal(8,2)",
        )
    )
    assert t.schema()["count"].dataType.simpleString() == "bigint"
    assert t.read().filter("id = 4").collect()[0]["count"] == 7

    # merge aligns: source widens nothing new, touches an old narrow file
    t.merge(
        spark.createDataFrame(
            [(1, 2**41, 9.5, Decimal("9.99"))],
            "id long, count long, x double, d decimal(12,2)",
        ),
        ["id"],
    )
    assert t.read().filter("id = 1").collect()[0]["count"] == 2**41
    # change feed spans narrow- and wide-file history under ONE type
    cf = t.change_feed(-1)
    assert dict(cf.dtypes)["count"] == "bigint"

    # incompatible retypes still reject loudly
    with pytest.raises(ValueError, match="type change"):
        t.append(
            spark.createDataFrame(
                [(9, "nope", 1.0, Decimal("1.00"))],
                "id long, count string, x double, d decimal(12,2)",
            )
        )
    with pytest.raises(ValueError, match="type change"):
        t.append(  # long→double rounds above 2^53: NOT safe
            spark.createDataFrame([(9, 1.0)], "id long, count double").select(
                "id", F.col("count"), F.lit(1.0).alias("x"), F.lit(Decimal("1.00")).cast("decimal(12,2)").alias("d")
            )
        )


# -- WHEN NOT MATCHED BY SOURCE (Delta's third merge clause family) ---------


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
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

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
    from nrtwithdeltalake_spark.pipeline.checksum_view import IncrementalChecksum

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


@settings(max_examples=5, deadline=None)
@given(
    history=st.lists(
        st.lists(
            st.tuples(st.integers(0, 8), st.integers(0, 100)),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_merge_nmbs_full_sync_equals_source_oracle(
    spark_global, tmp_sup, history
):
    """Property: a full-sync merge (NMBS delete 'true') makes the table
    ≡ latest-per-key of THAT batch alone, whatever came before — and an
    empty source empties the table."""
    import uuid as _uuid

    spark = spark_global
    p = os.path.join(tmp_sup, _uuid.uuid4().hex)
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([], "k long, v long, seq long")
    )
    seq = 0
    for batch in history:
        rows = []
        for k, v in batch:
            rows.append((k, v, seq))
            seq += 1
        t.merge(
            spark.createDataFrame(rows, "k long, v long, seq long"),
            ["k"],
            dedup_order_col="seq",
            not_matched_by_source_delete="true",
        )
        expect = {}
        for k, v in batch:
            expect[k] = v  # later rows win (seq order)
        got = {r.k: r.v for r in t.read().collect()}
        assert got == expect, f"batch={batch}"


def test_merge_matched_update_condition_guards_out_of_order(spark, tmp_path):
    """Delta's whenMatchedUpdate(condition): 's.seq > t.seq' keeps a
    late replay of an OLD batch from overwriting newer data — skipped
    rows carry byte-identical and emit NO change-feed images."""
    from nrtwithdeltalake_spark.pipeline.checksum_view import IncrementalChecksum

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


def test_merge_nmbs_composes_with_schema_evolution(spark, tmp_path):
    """A source that evolves a new column in + by-source clauses in one
    merge: unmatched rows null-fill the new column (update assignments
    still see only OLD target columns), and the feed stays exact."""
    from nrtwithdeltalake_spark.pipeline.checksum_view import IncrementalChecksum

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


# -- generated columns (Delta GENERATED ALWAYS AS analog) -------------------


def test_generated_column_computed_when_omitted(spark, tmp_path):
    """A write that omits the generated column gets it computed; one
    that supplies a conforming value passes; a drifting producer fails
    loudly. Merge sources compute it too."""
    from nrtwithdeltalake_spark.pipeline.tables import ConstraintViolationError

    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, 100, 1)], "id long, cents long, dollars long"
        ),
    )
    t.add_generated_column("dollars", "cents div 100")
    # omitted → computed
    t.append(spark.createDataFrame([(2, 250)], "id long, cents long"))
    got = {r.id: r.dollars for r in t.read().collect()}
    assert got == {1: 1, 2: 2}
    # supplied and conforming → passes
    t.append(spark.createDataFrame([(3, 300, 3)], "id long, cents long, dollars long"))
    # supplied and WRONG → loud
    with pytest.raises(ConstraintViolationError, match="generated:dollars"):
        t.append(
            spark.createDataFrame(
                [(4, 400, 99)], "id long, cents long, dollars long"
            )
        )
    # merge source omitting it computes per-row (matched + inserted)
    t.merge(spark.createDataFrame([(1, 900), (5, 500)], "id long, cents long"), ["id"])
    got = {r.id: r.dollars for r in t.read().collect()}
    assert got == {1: 9, 2: 2, 3: 3, 5: 5}


def test_generated_column_declare_validates_snapshot(spark, tmp_path):
    from nrtwithdeltalake_spark.pipeline.tables import ConstraintViolationError

    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 100, 7)], "id long, cents long, dollars long"),
    )
    with pytest.raises(ConstraintViolationError):
        t.add_generated_column("dollars", "cents div 100")  # 7 != 1
    with pytest.raises(ValueError, match="does not exist"):
        t.add_generated_column("nope", "cents div 100")


def test_generated_column_guards_rename_drop_and_format(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 100, 1)], "id long, cents long, dollars long"),
    )
    t.add_generated_column("dollars", "cents div 100")
    with pytest.raises(ValueError, match="generated"):
        t.rename_column("cents", "pennies")
    with pytest.raises(ValueError, match="generated"):
        t.drop_column("cents")
    from nrtwithdeltalake_spark.sources import datasource as _ds

    _ds.register(spark)
    with pytest.raises(Exception, match="generated"):
        spark.createDataFrame([(9, 900)], "id long, cents long").write.format(
            "versioned"
        ).mode("append").save(t.path)
    # unbinding re-opens all three paths
    t.drop_generated_column("dollars")
    t.rename_column("cents", "pennies")


def test_drop_column_refuses_constrained_column(spark, tmp_path):
    """Pre-existing gap: dropping a column a CHECK constraint references
    left every future write failing with an opaque resolution error."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 5)], "id long, n long"),
    )
    t.add_constraint("n_pos", "n > 0")
    with pytest.raises(ValueError, match="n_pos"):
        t.drop_column("n")
    t.drop_constraint("n_pos")
    t.drop_column("n")  # now fine


def test_generated_column_carries_through_clone(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 100, 1)], "id long, cents long, dollars long"),
    )
    t.add_generated_column("dollars", "cents div 100")
    fork = t.clone(str(tmp_path / "fork"))
    assert fork.generated_columns() == {"dollars": "cents div 100"}
    fork.append(spark.createDataFrame([(2, 350)], "id long, cents long"))
    assert {r.id: r.dollars for r in fork.read().collect()} == {1: 1, 2: 3}


def test_update_recomputes_generated_columns(spark, tmp_path):
    """UPDATE changing a referenced column keeps the derivation true
    (recomputed from POST-update values, Delta semantics) — and the
    change feed's post-images carry the recomputed value."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, 100, 1), (2, 250, 2)], "id long, cents long, dollars long"
        ),
    )
    t.add_generated_column("dollars", "cents div 100")
    t.update("id = 1", {"cents": F.col("cents") * 5})
    got = {r.id: (r.cents, r.dollars) for r in t.read().collect()}
    assert got == {1: (500, 5), 2: (250, 2)}
    post = t.change_feed(0).filter("_change_type = 'update_postimage'")
    assert [(r.cents, r.dollars) for r in post.collect()] == [(500, 5)]
    # explicitly assigning the generated column bypasses recompute but
    # still validates through the probe
    from nrtwithdeltalake_spark.pipeline.tables import ConstraintViolationError

    with pytest.raises(ConstraintViolationError, match="generated:dollars"):
        t.update("id = 2", {"dollars": F.lit(99)})


def test_mixed_writer_storm_with_dv_and_nmbs_converges(spark, tmp_path):
    """Round-8 ops join the storm: a deletion-vector deleter, a
    scoped NOT-MATCHED-BY-SOURCE merger, appenders, and a compactor
    race one table. Every writer retries surfaced conflicts; invariant
    — the final state equals the serial expectation for the disjoint
    key ranges each writer owns, deleted rows never resurrect, and the
    change feed reconstructs the snapshot (checksum convergence)."""
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    from nrtwithdeltalake_spark.pipeline.checksum_view import IncrementalChecksum
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "storm")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame(
            [(i, "base") for i in range(40)], "id long, v string"
        ).repartition(4),
    )

    def retry(fn):
        for _ in range(12):
            try:
                return fn()
            except CommitConflictError:
                _time.sleep(0.25)
        raise AssertionError("writer starved")

    def appender(w: int):
        VersionedTable(spark, p).append(
            spark.createDataFrame(
                [(1000 + w * 10 + i, f"a{w}") for i in range(4)],
                "id long, v string",
            )
        )

    def dv_deleter():
        # owns ids 30..34
        retry(
            lambda: VersionedTable(spark, p).delete(
                "id >= 30 and id < 35", use_dv=True
            )
        )

    def nmbs_merger():
        # owns ids 20..24: full-sync that slice to exactly {20, 21}
        src = spark.createDataFrame(
            [(20, "keep"), (21, "keep")], "id long, v string"
        )
        retry(
            lambda: VersionedTable(spark, p).merge(
                src,
                ["id"],
                not_matched_by_source_delete="id >= 22 and id < 25",
            )
        )

    def compactor():
        retry(
            lambda: VersionedTable(spark, p).compact(target_file_bytes=1 << 20)
        )

    jobs = (
        [lambda w=w: appender(w) for w in range(2)]
        + [dv_deleter, nmbs_merger, compactor]
    )
    with ThreadPoolExecutor(max_workers=5) as ex:
        list(ex.map(lambda f: f(), jobs))

    rows = {r.id: r.v for r in VersionedTable(spark, p).read().collect()}
    want = {i: "base" for i in range(40) if not (30 <= i < 35 or 22 <= i < 25)}
    want.update({20: "keep", 21: "keep"})
    for w in range(2):
        want.update({1000 + w * 10 + i: f"a{w}" for i in range(4)})
    assert rows == want
    t2 = VersionedTable(spark, p)
    versions = [c.version for c in t2.history()]
    assert versions == list(range(len(versions)))
    cs = IncrementalChecksum(spark, t2, str(tmp_path / "cs"))
    cs.refresh()
    assert cs.current() == cs.compute_now()
