"""The `versioned` Python DataSource: batch reads (snapshot + time
travel + schema evolution), per-file partition parallelism, and the
commit-version-offset change-feed stream, including checkpoint resume."""

from __future__ import annotations

import pytest

from nrtwithdeltalake_spark.pipeline import log
from nrtwithdeltalake_spark.pipeline.tables import VersionedTable
from nrtwithdeltalake_spark.sources import datasource as ds



# Slow tier (see pytest.ini): excluded from the default driver-budget
# run; executes via `pytest -m slow`.
pytestmark = pytest.mark.slow

@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    ds.register(spark)


def _mk(spark, tmp_path):
    p = str(tmp_path / "t")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
    )
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    return p, t


def test_batch_read_snapshot_and_time_travel(spark, tmp_path):
    p, t = _mk(spark, tmp_path)
    df = spark.read.format("versioned").option("path", p).load()
    assert sorted((r.id, r.v) for r in df.collect()) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]
    # the scan parallelizes per data file
    assert df.rdd.getNumPartitions() == len(t.get_commit().files)
    v0 = (
        spark.read.format("versioned")
        .option("path", p)
        .option("version", 0)
        .load()
    )
    assert sorted(r.id for r in v0.collect()) == [1, 2]


def test_batch_read_schema_evolution_null_fill(spark, tmp_path):
    p, t = _mk(spark, tmp_path)
    t.add_column("score", "double")
    t.append(
        spark.createDataFrame([(4, "d", 1.5)], "id long, v string, score double")
    )
    df = spark.read.format("versioned").option("path", p).load()
    got = {r.id: r.score for r in df.collect()}
    assert got == {1: None, 2: None, 3: None, 4: 1.5}


def test_stream_changes_offsets_are_commit_versions(spark, tmp_path):
    p, t = _mk(spark, tmp_path)
    ck = str(tmp_path / "ck")
    batches = []

    def run():
        q = (
            spark.readStream.format("versioned")
            .option("path", p)
            .option("feed", "changes")
            .load()
            .writeStream.foreachBatch(
                lambda b, e: batches.append(
                    sorted(
                        (r.id, r._change_type, r._commit_version)
                        for r in b.collect()
                    )
                )
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert batches == [
        [(1, "insert", 0), (2, "insert", 0), (3, "insert", 1)]
    ]
    batches.clear()
    t.delete("id = 1")
    t.append(spark.createDataFrame([(9, "z")], "id long, v string"))
    run()  # checkpoint resume: exactly the two new commits
    flat = sorted(x for b in batches for x in b)
    assert flat == [(1, "delete", 2), (9, "insert", 3)]
    batches.clear()
    run()  # nothing new → no rows
    assert all(not b for b in batches)


def test_stream_requires_changes_feed(spark, tmp_path):
    p, _ = _mk(spark, tmp_path)
    with pytest.raises(Exception, match="feed"):
        (
            spark.readStream.format("versioned")
            .option("path", p)
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


# -- writer ------------------------------------------------------------------


def test_writer_creates_and_appends_with_evolution(spark, tmp_path):
    """df.write.format('versioned'): first write creates version 0, an
    append with a new column commits an evolved union schema and the
    old rows null-fill; the change feed carries the insert images."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "w")
    spark.range(50).select(
        F.col("id"), (F.col("id") % 3).alias("grp")
    ).write.format("versioned").mode("append").save(p)
    t = VersionedTable(spark, p)
    assert t.get_commit().op == "create"
    assert t.read().count() == 50

    spark.range(50, 60).select(
        F.col("id"), (F.col("id") % 3).alias("grp"), F.lit(1.5).alias("w")
    ).write.format("versioned").mode("append").save(p)
    assert t.latest_version() == 1
    assert t.get_commit().op == "append"
    got = t.read()
    assert got.count() == 60 and "w" in got.columns
    assert got.filter("w is null").count() == 50
    assert t.change_feed(0).filter("_change_type='insert'").count() == 10


def test_writer_overwrite_emits_delete_preimages(spark, tmp_path):
    """mode('overwrite') replaces the snapshot AND retracts every prior
    row through the CDF — so downstream incremental views (rollup,
    checksum) stay exact across format-writer overwrites."""
    from pyspark.sql import functions as F

    from nrtwithdeltalake_spark.pipeline.checksum_view import IncrementalChecksum

    p = str(tmp_path / "w")
    spark.range(40).select(F.col("id"), F.lit("x").alias("v")).write.format(
        "versioned"
    ).mode("append").save(p)
    t = VersionedTable(spark, p)
    cs = IncrementalChecksum(spark, t, str(tmp_path / "cs"))
    cs.refresh()

    spark.range(7).select(F.col("id"), F.lit("z").alias("v")).write.format(
        "versioned"
    ).mode("overwrite").save(p)
    assert t.get_commit().op == "overwrite"
    assert t.read().count() == 7
    cf = t.change_feed(0)
    assert cf.filter("_change_type='delete'").count() == 40
    assert cf.filter("_change_type='insert'").count() == 7
    cs.refresh()
    assert cs.current() == cs.compute_now()


def test_writer_interops_with_native_merge(spark, tmp_path):
    """A DS-written table is a first-class VersionedTable: native merge
    lands on top of format-writer commits."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "w")
    spark.range(10).select(F.col("id"), F.lit("a").alias("v")).write.format(
        "versioned"
    ).mode("append").save(p)
    t = VersionedTable(spark, p)
    t.merge(
        spark.createDataFrame([(3, "upd"), (99, "new")], "id long, v string"),
        ["id"],
    )
    got = {r.id: r.v for r in t.read().collect()}
    assert got[3] == "upd" and got[99] == "new" and len(got) == 11


def test_writer_rejects_type_change_and_guarded_tables(spark, tmp_path):
    """Type changes and tables whose invariants need a SparkSession
    (CHECK constraints, catalog registration) refuse the format write
    path loudly instead of silently bypassing enforcement."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    p = str(tmp_path / "w")
    spark.range(5).select(F.col("id"), (F.col("id") % 2).alias("grp")).write.format(
        "versioned"
    ).mode("append").save(p)
    # an int source over a bigint column is a legal NARROWER append
    # since round-8 type widening — the unsafe retype (string) is what
    # must reject
    with pytest.raises(Exception, match="type change"):
        spark.range(5).select(
            F.col("id"), (F.col("id") % 2).cast("string").alias("grp")
        ).write.format("versioned").mode("append").save(p)

    t = VersionedTable(spark, p)
    t.add_constraint("grp_nonneg", "grp >= 0")
    v = t.latest_version()
    with pytest.raises(Exception, match="CHECK"):
        spark.range(5, 8).select(
            F.col("id"), (F.col("id") % 2).alias("grp")
        ).write.format("versioned").mode("append").save(p)
    # constraint refusal left no new commit behind
    assert t.latest_version() == v


def test_stream_sink_appends_with_epoch_idempotency(spark, tmp_path):
    """writeStream.format('versioned'): each micro-batch is one append
    commit stamped with the epoch id in the commit's txn stats; an idle
    restart from the same checkpoint adds no commit, and a replayed
    epoch is a structural no-op (the exactly-once contract)."""
    import os as _os

    from pyspark.sql import functions as F

    from nrtwithdeltalake_spark.sources.datasource import (
        _STREAM_TXN_APP,
        _VersionedStreamWriter,
        _WriteResult,
    )

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    ck = str(tmp_path / "ck")
    _os.makedirs(src)
    spark.range(10).select(F.col("id"), F.lit("a").alias("v")).coalesce(
        1
    ).write.parquet(f"{src}/b1.parquet")
    stream = spark.readStream.schema("id long, v string").parquet(f"{src}/*.parquet")

    def drain():
        q = (
            stream.writeStream.format("versioned")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start(tgt)
        )
        q.awaitTermination()

    drain()
    t = VersionedTable(spark, tgt)
    assert t.read().count() == 10
    assert t.get_commit().stats["txn"][_STREAM_TXN_APP] == 0

    spark.range(10, 25).select(F.col("id"), F.lit("b").alias("v")).coalesce(
        1
    ).write.parquet(f"{src}/b2.parquet")
    drain()
    assert t.read().count() == 25
    assert t.latest_version() == 1
    assert t.change_feed(-1).filter("_change_type='insert'").count() == 25

    drain()  # idle restart: nothing new → no commit
    assert t.latest_version() == 1

    # replayed epoch (sink committed, engine checkpoint didn't): the
    # driver detects batchId <= watermark and drops the replayed files
    w = _VersionedStreamWriter(tgt, t.schema())
    import pyarrow as pa

    fake = w.write(iter([pa.record_batch({"id": pa.array([99], type=pa.int64()),
                                          "v": pa.array(["r"])})]))
    w.commit([fake], batchId=1)  # epoch 1 already applied
    assert t.latest_version() == 1
    assert t.read().filter("id = 99").count() == 0
    assert not _os.path.exists(fake.data_file)


# -- pushdown / pruning ------------------------------------------------------


def test_format_pushdown_skips_pruned_files(spark, tmp_path):
    """Stats-based file skipping through the format: after clustering
    compaction, files whose committed [min, max] disprove the filter
    are DELETED from disk — the filtered read still succeeds, proving
    the scan never opened them (VERDICT r5 #1 'done' criterion (a))."""
    import os as _os

    from pyspark.sql import functions as F

    p = str(tmp_path / "t")
    spark.range(10_000).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    ).write.format("versioned").mode("append").save(p)
    t = VersionedTable(spark, p)
    t.compact(target_file_bytes=16 * 1024, cluster_by=["id"])
    c = t.get_commit()
    fstats = c.stats["file_stats"]
    assert len(c.files) > 1
    keep = [f for f in c.files if int(fstats[f]["id"][0]) < 100]
    pruned = [f for f in c.files if f not in keep]
    assert pruned, "need at least one file the predicate disproves"
    for f in pruned:
        _os.remove(f)
    df = (
        spark.read.format("versioned")
        .option("path", p)
        .load()
        .filter("id < 100")
    )
    assert sorted(r.id for r in df.collect()) == list(range(100))
    # sanity: the deletion mattered — an unfiltered scan needs those files
    with pytest.raises(Exception):
        spark.read.format("versioned").option("path", p).load().count()


def test_format_pushdown_filters_stay_exact_without_stats(spark, tmp_path):
    """Filters on a column with no committed stats can't skip files but
    remain exact: pyarrow row-group skipping + Spark's residual filter."""
    p, _ = _mk(spark, tmp_path)
    df = (
        spark.read.format("versioned")
        .option("path", p)
        .load()
        .filter("id >= 2 and v != 'b'")
    )
    assert sorted((r.id, r.v) for r in df.collect()) == [(3, "c")]


def test_format_pushdown_escape_hatch(spark, tmp_path):
    """option('pushdown', 'false') selects the pushFilters-free reader
    (required in sessions where spark.sql.python.filterPushdown.enabled
    is off, where Spark rejects a pushdown-implementing reader)."""
    p, _ = _mk(spark, tmp_path)
    df = (
        spark.read.format("versioned")
        .option("path", p)
        .option("pushdown", "false")
        .load()
        .filter("id >= 2")
    )
    assert sorted(r.id for r in df.collect()) == [2, 3]
    assert not hasattr(ds._BatchReader, "pushFilters") or (
        "pushFilters" not in ds._BatchReader.__dict__
    )


def test_format_columns_option_prunes_projection(spark, tmp_path):
    """option('columns') narrows the declared schema AND the bytes read
    (VERDICT r5 #1 'done' criterion (b)): _arrow_batches hands pyarrow
    exactly the requested column list, so unrequested columns' pages
    are never decoded."""
    p, t = _mk(spark, tmp_path)
    df = (
        spark.read.format("versioned")
        .option("path", p)
        .option("columns", "id")
        .load()
    )
    assert df.columns == ["id"]
    assert sorted(r.id for r in df.collect()) == [1, 2, 3]

    # unit check on the executor read path: only the requested column
    # comes back from the file
    import json as _json

    from pyspark.sql import types as T

    c = t.get_commit()
    part = ds._FilePartition(
        file=c.files[0],
        schema_json=T.StructType.fromJson(
            _json.loads(c.schema_json)
        )["id"].dataType.json()
        and T.StructType(
            [T.StructField("id", T.LongType())]
        ).json(),
    )
    for batch in ds._arrow_batches(part):
        assert batch.schema.names == ["id"]

    with pytest.raises(Exception, match="unknown columns"):
        (
            spark.read.format("versioned")
            .option("path", p)
            .option("columns", "id,nope")
            .load()
            .collect()
        )


def test_format_overwrite_commits_new_schema(spark, tmp_path):
    """mode('overwrite') commits the NEW dataframe's schema exactly as
    native VersionedTable.overwrite does — dropped columns don't
    resurrect as phantom all-null columns, and a full replace may
    legitimately retype (ADVICE r5: datasource.py overwrite branch)."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "w")
    spark.range(10).select(
        F.col("id"), F.lit("x").alias("v"), F.lit(1.0).alias("extra")
    ).write.format("versioned").mode("append").save(p)
    spark.range(3).select(
        F.col("id").cast("int").alias("id")
    ).write.format("versioned").mode("overwrite").save(p)
    t = VersionedTable(spark, p)
    got = t.read()
    assert got.columns == ["id"]
    assert [f.dataType.simpleString() for f in got.schema.fields] == ["int"]
    assert got.count() == 3


def test_stream_sink_schema_evolution_and_type_guard(spark, tmp_path):
    """The streaming sink applies the same schema discipline as batch
    append (ADVICE r5): added columns union-evolve into the commit
    schema (data visible, old rows null-fill); a type change is
    rejected loudly at commit time, not as a read-time Arrow failure."""
    import pyarrow as pa

    from pyspark.sql import types as T

    from nrtwithdeltalake_spark.sources.datasource import (
        _VersionedStreamWriter,
    )

    tgt = str(tmp_path / "tgt")
    base = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    w0 = _VersionedStreamWriter(tgt, base)
    m0 = w0.write(
        iter([pa.record_batch({"id": pa.array([1], type=pa.int64()),
                               "v": pa.array(["a"])})])
    )
    w0.commit([m0], batchId=0)

    evolved = base.add("score", T.DoubleType())
    w1 = _VersionedStreamWriter(tgt, evolved)
    m1 = w1.write(
        iter([pa.record_batch({"id": pa.array([2], type=pa.int64()),
                               "v": pa.array(["b"]),
                               "score": pa.array([1.5], type=pa.float64())})])
    )
    w1.commit([m1], batchId=1)
    t = VersionedTable(spark, tgt)
    got = {r.id: r.score for r in t.read().collect()}
    assert got == {1: None, 2: 1.5}

    # round 8: an UNSAFE retype (string over long — not a widening) is
    # rejected at writer CONSTRUCTION (driver-side schema planning,
    # before any task file is written) — strictly earlier than the old
    # commit-time rejection. (id int would now be a legal narrower
    # source: type widening accepts it.)
    retyped = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("v", T.StringType())]
    )
    with pytest.raises(ValueError, match="type change"):
        _VersionedStreamWriter(tgt, retyped)


def test_format_writers_publish_put_if_absent(spark, tmp_path):
    """Both DataSource writers publish through the SAME os.link-based
    put-if-absent helper as the native VersionedTable (ADVICE r5
    medium): a racing writer that loses the link gets
    CommitConflictError — never a silently clobbered commit."""
    import pyarrow as pa

    from pyspark.sql import types as T

    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError
    from nrtwithdeltalake_spark.sources.datasource import _VersionedWriter

    tgt = str(tmp_path / "w")
    schema = T.StructType([T.StructField("id", T.LongType())])
    w = _VersionedWriter(tgt, schema, overwrite=False)
    m = w.write(iter([pa.record_batch({"id": pa.array([1], type=pa.int64())})]))
    w.commit([m])

    # the race: a second writer computed the same next version; the
    # loser of the os.link must get CommitConflictError, not a silent
    # rename-over (commit() funnels every publish through log.commit)
    rec = {"version": 1, "op": "append", "files": [], "cdf_files": [],
           "schema_json": schema.json(), "ts": 0.0, "stats": {}}
    log.commit(log.dir_of(tgt), dict(rec))
    with pytest.raises(CommitConflictError, match="concurrent write"):
        log.commit(log.dir_of(tgt), dict(rec))
    # native readers still see the winner's commit intact
    assert VersionedTable(spark, tgt).latest_version() == 1


def test_format_pushdown_on_renamed_column(spark, tmp_path):
    """Column mapping × pushdown: after a rename, a filter on the NEW
    name still skips files via the re-keyed committed stats AND
    row-group-skips via the per-file physical-name translation — and
    stays exact."""
    import os as _os

    from pyspark.sql import functions as F

    p = str(tmp_path / "t")
    t = VersionedTable.create(
        spark,
        p,
        spark.range(10_000).select(F.col("id"), (F.col("id") * 2).alias("val")),
    )
    t.compact(target_file_bytes=16 * 1024, cluster_by=["val"])
    t.rename_column("val", "metric")
    c = t.get_commit()
    fstats = c.stats["file_stats"]
    pruned = [f for f in c.files if int(fstats[f]["metric"][0]) >= 200]
    assert pruned
    for f in pruned:
        _os.remove(f)
    df = (
        spark.read.format("versioned")
        .option("path", p)
        .load()
        .filter("metric < 200")
    )
    assert sorted(r.metric for r in df.collect()) == list(range(0, 200, 2))


def test_format_append_evolution_onto_id_mapped_table(spark, tmp_path):
    """ROUND-8 HIGH fix (VERDICT r7 #1): a schema-evolving format append
    into an id-mapped table must stamp the NEW column's fresh field id
    into the task files themselves — planning from the previous commit
    schema left the files id-free for that column, and the id-matching
    read path silently null-filled it (native read) or crashed (format
    read). Both read paths must return the appended data."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "t")
    t = VersionedTable.create(
        spark,
        p,
        spark.range(20).select(F.col("id"), (F.col("id") % 3).alias("grp")),
    )

    spark.range(20, 25).select(
        F.col("id"), (F.col("id") % 3).alias("grp"), (F.col("id") * 1.5).alias("score")
    ).write.format("versioned").mode("append").save(p)

    # the committed schema evolved with a fresh id for 'score'…
    import json as _json

    from pyspark.sql import types as T

    sch = T.StructType.fromJson(_json.loads(t.get_commit().schema_json))
    ids = {
        f.name: int(f.metadata[log.FIELD_ID])
        for f in sch.fields
        if f.metadata and log.FIELD_ID in f.metadata
    }
    assert "score" in ids and len(set(ids.values())) == 3

    # …and the files written BY THIS APPEND carry that id, so the data
    # is visible through the native id-matching read…
    native = t.read()
    assert native.filter("score is not null").count() == 5
    assert native.filter("score is null").count() == 20

    # …and through the format read
    fmt = spark.read.format("versioned").option("path", p).load()
    assert fmt.filter("score is not null").count() == 5
    got = {r.id: r.score for r in fmt.filter("id >= 20").collect()}
    assert got == {i: i * 1.5 for i in range(20, 25)}

    # evolution survives a subsequent rename (pure metadata, ids stable)
    t.rename_column("score", "metric")
    assert t.read().filter("metric is not null").count() == 5


def test_format_overwrite_keeps_column_mapping(spark, tmp_path):
    """ROUND-8 fix (VERDICT r7 #3): format mode('overwrite') must keep
    an id-mapped table id-mapped — same-name/same-type columns carry
    their ids, new ones get fresh ids above the high-water mark — so a
    later rename_column still works (it used to refuse: the overwrite
    committed an id-stripped schema)."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "t")
    VersionedTable.create(
        spark,
        p,
        spark.range(10).select(F.col("id"), F.lit("x").alias("v")),
    )

    spark.range(4).select(
        F.col("id"), F.lit("y").alias("v"), F.lit(2.0).alias("w")
    ).write.format("versioned").mode("overwrite").save(p)

    t = VersionedTable(spark, p)
    t.rename_column("v", "label")  # used to raise: "has no field id"
    got = {r.id: (r.label, r.w) for r in t.read().collect()}
    assert got == {i: ("y", 2.0) for i in range(4)}


def test_format_create_is_id_mapped_from_birth(spark, tmp_path):
    """Round 8: format-path CREATE mirrors native create — id-mapped
    from birth, so rename_column works on format-created tables too."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "t")
    spark.range(6).select(F.col("id"), F.lit(1).alias("n")).write.format(
        "versioned"
    ).mode("append").save(p)
    t = VersionedTable(spark, p)
    t.rename_column("n", "count")
    assert t.read().filter("count = 1").count() == 6


def test_stream_reader_plans_one_partition_per_cdf_file(spark, tmp_path):
    """ROUND-8 fix (VERDICT r7 #5): the CDF tail is a partition-based
    DataSourceStreamReader — micro-batch rows ship executor-side with
    parallelism = CDF file count, never through a driver prefetch."""
    from pyspark.sql.datasource import DataSourceStreamReader as _DSR

    p, t = _mk(spark, tmp_path)
    t.delete("id = 1")
    t.append(spark.createDataFrame([(9, "z")], "id long, v string"))

    schema = (
        spark.read.format("versioned").option("path", p).load().schema
    )
    from pyspark.sql import types as T

    row_schema = T.StructType(
        list(schema.fields)
        + [
            T.StructField(ds.CHANGE_TYPE_COL, T.StringType()),
            T.StructField(ds.VERSION_COL, T.LongType()),
        ]
    )
    r = ds._ChangeFeedStreamReader(p, -1, row_schema)
    assert isinstance(r, _DSR)  # not the Simple (driver-prefetch) kind

    latest = t.latest_version()
    parts = r.partitions({"version": -1}, {"version": latest})
    n_cdf = sum(
        len(t.get_commit(v).cdf_files) for v in range(latest + 1)
    )
    assert n_cdf > 0 and len(parts) == n_cdf
    # empty range → empty plan (Spark calls this when start == end)
    assert r.partitions({"version": latest}, {"version": latest}) == []
    # replay of a sub-range plans exactly that range's files
    sub = r.partitions({"version": 0}, {"version": latest})
    assert len(sub) == n_cdf - len(t.get_commit(0).cdf_files)


def test_stream_changes_id_matches_across_rename(spark, tmp_path):
    """The streaming CDF tail applies the same field-id matching as the
    batch change feed: a consumer starting after a rename sees
    pre-rename commits' changes under the CURRENT column name."""
    p, t = _mk(spark, tmp_path)
    t.append(spark.createDataFrame([(4, "d")], "id long, v string"))
    t.rename_column("v", "label")

    batches = []
    q = (
        spark.readStream.format("versioned")
        .option("path", p)
        .option("feed", "changes")
        .load()
        .writeStream.foreachBatch(
            lambda b, e: batches.append(
                sorted((r.id, r.label, r._change_type) for r in b.collect())
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    flat = sorted(x for b in batches for x in b)
    assert flat == [
        (1, "a", "insert"),
        (2, "b", "insert"),
        (3, "c", "insert"),
        (4, "d", "insert"),
    ]


def test_format_append_type_widening(spark, tmp_path):
    """Format-writer parity for safe type widening: an int→bigint /
    float→double / decimal-growth append through
    df.write.format('versioned') widens the commit schema; old narrow
    files and the new wide files read back correctly on BOTH paths."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    p = str(tmp_path / "t")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([(1, 10, 1.5)], "id long, n int, x float"),
    )
    spark.createDataFrame(
        [(2, 2**40, 2.5)], "id long, n long, x double"
    ).write.format("versioned").mode("append").save(p)

    sch = {f.name: f.dataType.simpleString() for f in t.schema().fields}
    assert sch == {"id": "bigint", "n": "bigint", "x": "double"}
    native = {r.id: (r.n, r.x) for r in t.read().collect()}
    fmt = {
        r.id: (r.n, r.x)
        for r in spark.read.format("versioned").option("path", p).load().collect()
    }
    assert native == fmt == {1: (10, 1.5), 2: (2**40, 2.5)}

    # a narrower format append into the widened table also lands
    spark.createDataFrame([(3, 7, 3.5)], "id long, n int, x float").write.format(
        "versioned"
    ).mode("append").save(p)
    assert t.read().filter("id = 3").collect()[0].n == 7

    # incompatible retype still rejected at writer construction
    import pytest as _pytest

    with _pytest.raises(Exception, match="type change"):
        spark.createDataFrame([(4, "s", 1.0)], "id long, n string, x double").write.format(
            "versioned"
        ).mode("append").save(p)


def test_stream_max_files_per_trigger_bounds_catchup(spark, tmp_path):
    """maxFilesPerTrigger (Delta-parity backlog control): a consumer
    resuming from an old watermark drains the CDF in bounded
    micro-batches — latestOffset admits commits only up to the file
    budget (≥1 commit per trigger) — and availableNow still drains
    everything."""
    p, t = _mk(spark, tmp_path)  # v0 (2 rows), v1 (1 row)
    for i in range(10, 14):
        t.append(spark.createDataFrame([(i, "x")], "id long, v string"))
    latest = t.latest_version()

    # unit-level: offsets advance one commit at a time at budget 1
    from pyspark.sql import types as T

    row_schema = T.StructType(
        list(spark.read.format("versioned").option("path", p).load().schema.fields)
        + [
            T.StructField(ds.CHANGE_TYPE_COL, T.StringType()),
            T.StructField(ds.VERSION_COL, T.LongType()),
        ]
    )
    r = ds._ChangeFeedStreamReader(p, -1, row_schema, max_files_per_trigger=1)
    assert r.initialOffset() == {"version": -1}
    seen = []
    while True:
        start_v = seen[-1] if seen else -1
        end = r.latestOffset()
        if end["version"] == start_v:
            break
        # budget 1 < any commit's file count ⇒ exactly ONE commit per
        # trigger (a single over-budget commit must still flow whole)
        assert end["version"] == start_v + 1
        parts = r.partitions({"version": start_v}, end)
        assert parts and len(parts) == len(t.get_commit(end["version"]).cdf_files)
        seen.append(end["version"])
        r.commit(end)
    assert seen[-1] == latest and len(seen) == latest + 1

    # end-to-end: availableNow with the option still delivers everything
    rows = []
    q = (
        spark.readStream.format("versioned")
        .option("path", p)
        .option("feed", "changes")
        .option("maxFilesPerTrigger", "1")
        .load()
        .writeStream.foreachBatch(
            lambda b, e: rows.extend((r.id, r._commit_version) for r in b.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(i for i, _ in rows) == [1, 2, 3, 10, 11, 12, 13]


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """Delta timestampAsOf parity on both paths: native
    read(timestamp=...) / version_at() and the format's
    option('timestampAsOf'); streaming option('startingTimestamp')
    delivers commits stamped at-or-after the moment."""
    import time as _time

    p, t = _mk(spark, tmp_path)  # v0, v1
    t0 = t.get_commit(0).ts
    t1 = t.get_commit(1).ts
    mid = (t0 + t1) / 2
    _time.sleep(0.02)
    t.append(spark.createDataFrame([(9, "z")], "id long, v string"))  # v2

    assert t.version_at(mid) == 0
    assert t.version_at(_time.time()) == t.latest_version()
    assert sorted(r.id for r in t.read(timestamp=mid).collect()) == [1, 2]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="predates"):
        t.version_at(t0 - 10)
    with _pytest.raises(ValueError, match="not both"):
        t.read(version=0, timestamp=mid)

    # format batch path (epoch-seconds and ISO forms)
    import datetime as _dt

    fmt = (
        spark.read.format("versioned")
        .option("path", p)
        .option("timestampAsOf", str(mid))
        .load()
    )
    assert sorted(r.id for r in fmt.collect()) == [1, 2]
    iso = _dt.datetime.fromtimestamp(mid, _dt.timezone.utc).isoformat()
    fmt2 = (
        spark.read.format("versioned")
        .option("path", p)
        .option("timestampAsOf", iso)
        .load()
    )
    assert sorted(r.id for r in fmt2.collect()) == [1, 2]

    # streaming startingTimestamp: only commits at-or-after mid (v1, v2)
    rows = []
    q = (
        spark.readStream.format("versioned")
        .option("path", p)
        .option("feed", "changes")
        .option("startingTimestamp", str(mid))
        .load()
        .writeStream.foreachBatch(
            lambda b, e: rows.extend(
                (r.id, r._commit_version) for r in b.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(rows) == [(3, 1), (9, 2)]


def test_format_overwrite_incompatible_retype_breaks_cdf(spark, tmp_path):
    """Format-path parity with the native break contract: a
    df.write.format('versioned').mode('overwrite') that retypes a
    column incompatibly (string → bigint) commits with NO CDF files
    and the cdf_schema_break flag (its task-written insert images are
    deleted — a half-feed would mislead consumers); a streaming tail
    crossing the break fails loudly."""
    import json as _json

    from nrtwithdeltalake_spark.pipeline.tables import VersionedTable

    p, t = _mk(spark, tmp_path)  # v0 create, v1 append (id long, v string)
    spark.createDataFrame([(1, 7)], "id long, v long").write.format(
        "versioned"
    ).mode("overwrite").option("path", p).save()
    c = t.get_commit(2)
    assert c.stats.get("cdf_schema_break") is True
    assert c.cdf_files == []
    # snapshot reads fine on both paths
    assert [
        (r.id, r.v)
        for r in spark.read.format("versioned").option("path", p).load().collect()
    ] == [(1, 7)]
    assert [(r.id, r.v) for r in t.read().collect()] == [(1, 7)]

    q = (
        spark.readStream.format("versioned")
        .option("path", p)
        .option("feed", "changes")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckb"))
        .trigger(availableNow=True)
        .start()
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="incompatible schema change"):
        q.awaitTermination()


def test_stream_initial_snapshot_then_tail(spark, tmp_path):
    """option('initialSnapshot'): first micro-batch = the CURRENT
    snapshot as insert images (update history collapsed, deletes — incl.
    deletion vectors — masked), then the tail continues from that
    version across checkpoint restarts."""
    p, t = _mk(spark, tmp_path)
    t.merge(spark.createDataFrame([(1, "a2")], "id long, v string"), ["id"])
    t.delete("id = 2", use_dv=True)  # DV must mask in the snapshot batch
    ck = str(tmp_path / "ck")
    batches = []

    def run():
        q = (
            spark.readStream.format("versioned")
            .option("path", p)
            .option("feed", "changes")
            .option("initialSnapshot", "true")
            .load()
            .writeStream.foreachBatch(
                lambda b, e: batches.append(
                    sorted(
                        (r.id, r.v, r._change_type, r._commit_version)
                        for r in b.collect()
                    )
                )
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    flat = [x for b in batches for x in b]
    # snapshot at v3: id1 post-merge value, id2 DV-deleted, id3 intact —
    # NOT the 4-commit change history
    assert flat == [(1, "a2", "insert", 3), (3, "c", "insert", 3)]
    batches.clear()
    t.append(spark.createDataFrame([(9, "z")], "id long, v string"))
    run()  # restart: tail resumes AFTER the snapshot version
    flat = [x for b in batches for x in b]
    assert flat == [(9, "z", "insert", 4)]


def test_stream_initial_snapshot_bootstraps_a_clone(spark, tmp_path):
    """The case the option exists for: a clone has no CDF at v0, so a
    plain tail refuses — initialSnapshot streams it from birth."""
    p, t = _mk(spark, tmp_path)
    fork = t.clone(str(tmp_path / "fork"))
    fork.append(spark.createDataFrame([(7, "f")], "id long, v string"))
    rows = []
    q = (
        spark.readStream.format("versioned")
        .option("path", fork.path)
        .option("feed", "changes")
        .option("initialSnapshot", "true")
        .load()
        .writeStream.foreachBatch(
            lambda b, e: rows.extend(
                (r.id, r._change_type) for r in b.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(rows) == [
        (1, "insert"),
        (2, "insert"),
        (3, "insert"),
        (7, "insert"),
    ]


def test_stream_initial_snapshot_rejects_starting_version(spark, tmp_path):
    p, t = _mk(spark, tmp_path)
    with pytest.raises(Exception, match="initialSnapshot"):
        q = (
            spark.readStream.format("versioned")
            .option("path", p)
            .option("feed", "changes")
            .option("initialSnapshot", "true")
            .option("startingVersion", "0")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck3"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def test_stream_initial_snapshot_honors_max_files_per_trigger(spark, tmp_path):
    """Under a normal trigger (initialOffset → latestOffset per batch),
    the bootstrap ships the snapshot in maxFilesPerTrigger-sized slices.
    Driven at the offset protocol level because Trigger.AvailableNow
    captures latestOffset BEFORE initialOffset (one unbounded batch —
    the documented availableNow behavior, same as the tail budget)."""
    import json

    from pyspark.sql import types as T

    from nrtwithdeltalake_spark.sources.datasource import (
        _ChangeFeedStreamReader,
    )

    p = str(tmp_path / "t")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame(
            [(i, "x") for i in range(8)], "id long, v string"
        ).repartition(4),
    )
    t.append(spark.createDataFrame([(100, "tail")], "id long, v string"))
    n_files = len(t.get_commit().files)
    assert n_files >= 5
    feed_schema = T.StructType.fromJson(
        json.loads(t.get_commit().schema_json)
    ).add("_change_type", T.StringType()).add("_commit_version", T.LongType())
    r = _ChangeFeedStreamReader(
        t.path, -1, feed_schema, max_files_per_trigger=2, initial_snapshot=True
    )
    seen_ids = []
    start = r.initialOffset()
    assert start == {"version": 1, "snapshot": "pending", "pos": 0}
    slices = 0
    while True:
        end = r.latestOffset()
        parts = r.partitions(start, end)
        if start.get("snapshot") == "pending":
            assert len(parts) <= 2  # the slice bound
        for part in parts:
            for batch in r.read(part):
                seen_ids.extend(batch.to_pydict()["id"])
        r.commit(end)
        slices += 1
        if end == {"version": 1, "snapshot": "done"}:
            break
        start = end
        assert slices < 10
    assert slices >= 3  # ceil(n_files/2), never one blob
    assert sorted(seen_ids) == sorted(list(range(8)) + [100])
    # after the snapshot, the tail resumes plain
    t.append(spark.createDataFrame([(200, "t2")], "id long, v string"))
    end2 = r.latestOffset()
    assert end2 == {"version": 2}
    tail_rows = [
        x
        for part in r.partitions({"version": 1, "snapshot": "done"}, end2)
        for batch in r.read(part)
        for x in batch.to_pydict()["id"]
    ]
    assert tail_rows == [200]


def test_stream_initial_snapshot_available_now_drains_with_budget(
    spark, tmp_path
):
    """availableNow + maxFilesPerTrigger still delivers everything
    (the budget is a rate limit, never a truncation)."""
    p = str(tmp_path / "t")
    VersionedTable.create(
        spark,
        p,
        spark.createDataFrame(
            [(i, "x") for i in range(8)], "id long, v string"
        ).repartition(4),
    )
    rows = []
    q = (
        spark.readStream.format("versioned")
        .option("path", p)
        .option("feed", "changes")
        .option("initialSnapshot", "true")
        .option("maxFilesPerTrigger", "2")
        .load()
        .writeStream.foreachBatch(
            lambda b, e: rows.extend(r.id for r in b.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(rows) == list(range(8))


def test_format_write_allowed_after_unbinding_sidecars(spark, tmp_path):
    """Dropping the last constraint/generated column leaves an empty
    sidecar file — the format writers must look at content, not
    existence."""
    p = str(tmp_path / "t")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, 100)], "id long, cents long")
    )
    t.add_constraint("c_pos", "cents > 0")
    t.drop_constraint("c_pos")
    spark.createDataFrame([(2, 200)], "id long, cents long").write.format(
        "versioned"
    ).mode("append").save(p)
    assert VersionedTable(spark, p).read().count() == 2


def test_stream_max_bytes_per_trigger_bounds_catchup(spark, tmp_path):
    """maxBytesPerTrigger (Delta's byte-budget twin of
    maxFilesPerTrigger): backlog catch-up admits commits only up to the
    byte budget per micro-batch (≥1 commit always flows, so one
    over-budget commit can't wedge the stream), and availableNow still
    drains everything exactly once."""
    p, t = _mk(spark, tmp_path)  # v0 (2 rows), v1 (1 row)
    for i in range(10, 14):
        t.append(spark.createDataFrame([(i, "x")], "id long, v string"))
    latest = t.latest_version()

    from pyspark.sql import types as T

    row_schema = T.StructType(
        list(spark.read.format("versioned").option("path", p).load().schema.fields)
        + [
            T.StructField(ds.CHANGE_TYPE_COL, T.StringType()),
            T.StructField(ds.VERSION_COL, T.LongType()),
        ]
    )
    # budget of 1 byte < any CDF file ⇒ exactly one commit per trigger
    r = ds._ChangeFeedStreamReader(
        p, -1, row_schema, max_bytes_per_trigger=1
    )
    assert r.initialOffset() == {"version": -1}
    seen = []
    while True:
        start_v = seen[-1] if seen else -1
        end = r.latestOffset()
        if end["version"] == start_v:
            break
        assert end["version"] == start_v + 1
        seen.append(end["version"])
        r.commit(end)
    assert seen[-1] == latest and len(seen) == latest + 1

    # a budget covering everything drains in one trigger
    r2 = ds._ChangeFeedStreamReader(
        p, -1, row_schema, max_bytes_per_trigger=1 << 30
    )
    r2.initialOffset()
    assert r2.latestOffset() == {"version": latest}

    # the initial-snapshot bootstrap honors the byte budget too: a
    # 1-byte budget slices the snapshot one file per trigger
    rs = ds._ChangeFeedStreamReader(
        p, -1, row_schema, initial_snapshot=True, max_bytes_per_trigger=1
    )
    off = rs.initialOffset()
    n_files = len(t.get_commit().files)
    slices = 0
    while off.get("snapshot") == "pending":
        nxt = rs.latestOffset()
        if nxt.get("snapshot") == "pending":
            assert nxt["pos"] == off.get("pos", 0) + 1
        rs.commit(nxt)
        off = nxt
        slices += 1
        assert slices <= n_files + 1
    assert slices == n_files

    # end-to-end under the option, including the initial-snapshot
    # bootstrap (snapshot slices honor the byte budget too)
    rows = []
    q = (
        spark.readStream.format("versioned")
        .option("path", p)
        .option("feed", "changes")
        .option("startingVersion", -1)
        .option("maxBytesPerTrigger", "1")
        .load()
        .writeStream.foreachBatch(
            lambda b, e: rows.extend((r.id, r._commit_version) for r in b.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(i for i, _ in rows) == [1, 2, 3, 10, 11, 12, 13]


def test_snapshot_byte_budget_resolves_commit_once_per_trigger(
    spark, tmp_path, monkeypatch
):
    """The initial-snapshot byte-budget path must resolve the base
    commit's file list ONCE and cache it — the base commit can be
    delta-encoded, so a second read_commit() per latestOffset would
    re-materialize the parent chain every trigger of a long snapshot."""
    p, t = _mk(spark, tmp_path)
    from pyspark.sql import types as T

    row_schema = T.StructType(
        list(spark.read.format("versioned").option("path", p).load().schema.fields)
        + [
            T.StructField(ds.CHANGE_TYPE_COL, T.StringType()),
            T.StructField(ds.VERSION_COL, T.LongType()),
        ]
    )
    calls = {"n": 0}
    orig = log.read_commit

    def counting(log_dir, v, *a, **kw):
        calls["n"] += 1
        return orig(log_dir, v, *a, **kw)

    monkeypatch.setattr(log, "read_commit", counting)
    r = ds._ChangeFeedStreamReader(
        p, -1, row_schema, initial_snapshot=True, max_bytes_per_trigger=1
    )
    off = r.initialOffset()
    triggers = 0
    while off.get("snapshot") == "pending":
        before = calls["n"]
        off = r.latestOffset()
        # the first trigger resolves + caches the file list (one
        # resolution, which may recurse through delta-encoded
        # parents); every later trigger reuses the cache: 0 calls
        if triggers > 0:
            assert calls["n"] == before
        r.commit(off)
        triggers += 1
        assert triggers < 100
    assert triggers >= 2  # budget actually sliced the snapshot


def test_format_write_refuses_identity_table(spark, tmp_path):
    """A format('versioned') append cannot assign identity values. It
    used to commit the row with a NULL id and drop the committed
    high-water, so the next native append reissued ids 1 and 2; it must
    refuse the table instead, leaving the allocation intact."""
    p = str(tmp_path / "ident")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([], "s string"), identity={"id": (1, 1)}
    )
    t.append(spark.createDataFrame([("a",), ("b",), ("c",)], "s string"))
    with pytest.raises(Exception, match="identity"):
        spark.createDataFrame([("d",)], "s string").write.format(
            "versioned"
        ).mode("append").save(p)
    t.append(spark.createDataFrame([("e",), ("f",)], "s string"))
    rows = sorted((r.id, r.s) for r in t.read().collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (4, "e"), (5, "f")]
    assert t.get_commit().stats["identity"] == {"id": 5}


def test_format_writers_recheck_metadata_at_commit(spark, tmp_path):
    """A constraint added while a format write is in flight binds that
    write: both writers re-check the metadata of the commit they publish
    on, so the violating rows never land."""
    import pyarrow as pa

    from nrtwithdeltalake_spark.sources.datasource import (
        _VersionedStreamWriter,
        _VersionedWriter,
    )

    p, t = _mk(spark, tmp_path)
    v = t.latest_version()
    batch = pa.record_batch(
        {"id": pa.array([-5], type=pa.int64()), "v": pa.array(["x"])}
    )
    w = _VersionedWriter(p, t.schema(), overwrite=False)
    s = _VersionedStreamWriter(p, t.schema())
    mw, ms = w.write(iter([batch])), s.write(iter([batch]))
    t.add_constraint("id_pos", "id > 0")  # the DDL lands in between
    with pytest.raises(ValueError, match="check_constraints"):
        w.commit([mw])
    with pytest.raises(ValueError, match="check_constraints"):
        s.commit([ms], 0)
    assert t.latest_version() == v + 1
    assert t.read().filter("id < 0").count() == 0
