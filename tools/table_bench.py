"""Table-format operations micro-bench: puts measured numbers behind
the versioned-table claims (merge, deletion-vector vs copy-on-write
delete, commit-log snapshot resolution).

``bench.py`` measures queries and ``tools/stream_bench.py`` measures
streams; this tool measures the table format itself — the engine's NRT
core (O6 merge is the reference's central operator,
``/root/reference/COPY_MSQL_TO_SILVER.py:200-209``):

* ``merge_pct{1,10,50}`` — MERGE upsert throughput (source rows/s and
  wall secs) when the batch's keys touch ~1% / ~10% / ~50% of the
  table's files. Copy-on-write cost scales with TOUCHED files, not
  table size — the numbers make that claim measurable.
* ``delete_cow`` vs ``delete_dv`` — a sparse predicate hitting every
  file (0.1% of rows, uniformly spread): the CoW worst case (rewrites
  the whole table) against the merge-on-read deletion-vector path
  (writes only position sidecars). The ratio is the DV crossover
  argument.
* ``read_at_checkpoint`` vs ``read_mid_chain`` — snapshot resolution +
  count at a log checkpoint version vs a version
  ``CHECKPOINT_EVERY-1`` deltas past one: the delta-decode chain cost.

Run: ``python tools/table_bench.py [n_rows]`` (default 1.2M). Prints
one JSON line: ``{"cases": {...}, "n_rows": N, "n_files": F}``.
Recorded floors live in TABLE_BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nrtwithdeltalake_spark.pipeline import log
from nrtwithdeltalake_spark.pipeline.tables import VersionedTable
from nrtwithdeltalake_spark.session import build_spark

N_FILES = 32


def _base_df(spark, n_rows: int):
    """Key-ranged rows so a key-interval merge batch touches a
    controlled fraction of the table's files."""
    return spark.range(n_rows).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
        F.concat(F.lit("payload-"), F.col("id")).alias("s"),
    )


def _fresh_table(spark, root: str, name: str, n_rows: int) -> VersionedTable:
    path = os.path.join(root, name)
    shutil.rmtree(path, ignore_errors=True)
    df = _base_df(spark, n_rows).repartitionByRange(N_FILES, "k")
    return VersionedTable.create(spark, path, df)


def bench_merge(spark, root: str, n_rows: int, pct: int) -> dict:
    """Merge a batch whose keys span the first `pct`% of key space:
    ~pct% of the range-partitioned files are touched; half the batch
    updates existing keys, half inserts new ones."""
    t = _fresh_table(spark, root, f"merge_{pct}", n_rows)
    span = n_rows * pct // 100
    batch = spark.range(span // 64).select(
        (F.col("id") * 64).alias("k"),  # spread across the span
        F.lit(-1.0).alias("v"),
        F.lit("updated").alias("s"),
    )
    inserts = spark.range(span // 64).select(
        (F.col("id") + n_rows).alias("k"),
        F.lit(-2.0).alias("v"),
        F.lit("inserted").alias("s"),
    )
    src = batch.unionAll(inserts)
    n_src = src.count()  # materialize the plan outside the timed window
    t0 = time.monotonic()
    t.merge(src, ["k"])
    secs = time.monotonic() - t0
    touched = len(set(t.get_commit(0).files) - set(t.get_commit().files))
    return {
        "secs": round(secs, 3),
        "src_rows_per_s": int(n_src / secs),
        "files_touched": touched,
        "files_total": N_FILES,
    }


def bench_delete(spark, root: str, n_rows: int, use_dv: bool) -> dict:
    """0.1% of rows, uniformly spread so EVERY file is hit — the
    worst case for copy-on-write, the design case for DVs."""
    t = _fresh_table(spark, root, f"del_{'dv' if use_dv else 'cow'}", n_rows)
    expect_deleted = len(range(0, n_rows, 1000))
    t0 = time.monotonic()
    t.delete("k % 1000 = 0", use_dv=use_dv)  # returns the commit version
    secs = time.monotonic() - t0
    t0 = time.monotonic()
    remaining = t.read().count()
    read_secs = time.monotonic() - t0
    assert remaining == n_rows - expect_deleted, (remaining, n_rows)
    return {
        "secs": round(secs, 3),
        "deleted_rows": expect_deleted,
        "post_delete_read_secs": round(read_secs, 3),
    }


def bench_snapshot_read(spark, root: str, n_rows: int) -> dict:
    """Build a history of 2*CHECKPOINT_EVERY+1 commits of small appends;
    time read(version).count() at a checkpoint version vs the version
    just before the next checkpoint (longest delta chain)."""
    ck = log.CHECKPOINT_EVERY
    t = _fresh_table(spark, root, "snap", n_rows // 10)
    one = spark.range(1).select(
        (F.col("id") + 10_000_000).alias("k"),
        F.lit(0.0).alias("v"),
        F.lit("x").alias("s"),
    )
    for _ in range(2 * ck):
        t.append(one)
    out = {}
    for label, version in (
        ("read_at_checkpoint", 2 * ck),
        ("read_mid_chain", 2 * ck - 1),
    ):
        t0 = time.monotonic()
        t.read(version=version).count()
        out[label] = {"secs": round(time.monotonic() - t0, 3), "version": version}
    return out


def bench_registration_rebuild(root: str, n_files: int = 10_000) -> dict:
    """Cost of the rewriting-commit registration rebuild at ``n_files``
    live files: the exact primitive ``_sync_registration``'s full-rebuild
    branch runs — one hardlink per live file into a fresh tmp dir, then
    the atomic dir swap. Measured to decide whether an O(churn)
    alternative for rewriting commits is worth the complexity (verdict
    r09 item 7): if this is a small fraction of the ~2 s merge commit
    latency floor, the answer is no."""
    import hashlib

    src = os.path.join(root, "regsrc")
    os.makedirs(src, exist_ok=True)
    files = []
    for i in range(n_files):
        p = os.path.join(src, f"part-{i:05d}.parquet")
        with open(p, "wb") as f:
            f.write(b"x")
        files.append(p)
    cur = os.path.join(root, "_current_bench")
    os.makedirs(cur, exist_ok=True)

    t0 = time.perf_counter()
    tmp = f"{cur}.tmp.bench"
    os.makedirs(tmp)
    for p in files:
        digest = hashlib.sha1(p.encode()).hexdigest()[:12]
        os.link(p, os.path.join(tmp, f"{digest}_{os.path.basename(p)}"))
    old = f"{cur}.old.bench"
    os.rename(cur, old)
    os.rename(tmp, cur)
    shutil.rmtree(old, ignore_errors=True)
    secs = time.perf_counter() - t0
    return {"n_files": n_files, "secs": round(secs, 4)}


def bench_bloom_lookup(spark, root: str, n_rows: int) -> dict:
    """Point lookup on an UNCLUSTERED high-cardinality column — the
    bloom sidecar's design case. The table is range-partitioned by `k`
    but probed on `u` (a multiplicative hash of `k`), so every file's
    [u_min, u_max] spans the domain and min/max prunes nothing: the
    stats-only twin scans all files, the bloom-indexed table opens ~1.
    Records the indexing overhead (append wall time vs the twin) and
    the files-planned counts behind the claim."""
    from nrtwithdeltalake_spark.sources import datasource as ds

    ds.register(spark)
    data = _base_df(spark, n_rows).withColumn(
        "u", (F.col("k") * F.lit(2654435761)) % F.lit(1 << 31)
    )
    seed = data.limit(0)
    out: dict = {}
    paths = {}
    for name, indexed in (("bloom", True), ("stats_only", False)):
        p = os.path.join(root, f"lookup_{name}")
        shutil.rmtree(p, ignore_errors=True)
        t = VersionedTable.create(spark, p, seed)
        if indexed:
            t.set_properties({"versioned.bloomFilterColumns": "u"})
        t0 = time.monotonic()
        t.append(data.repartitionByRange(N_FILES, "k"))
        out[f"append_{name}_secs"] = round(time.monotonic() - t0, 3)
        paths[name] = p
    probe = 123_457 * 2654435761 % (1 << 31)  # an existing u value
    for name, p in paths.items():
        # warm-up: the first format('versioned') read in a session pays
        # python-datasource plan-worker spin-up — measure the steady
        # state, not the cold start
        spark.read.format("versioned").load(p).filter(
            f"u = {probe}"
        ).count()
    for name, p in paths.items():
        r = ds._PushdownBatchReader(p, None, None)
        r.pushed = [("u", "=", int(probe))]
        out[f"files_planned_{name}"] = len(
            [x for x in r.partitions() if x.file]
        )
        t0 = time.monotonic()
        n = (
            spark.read.format("versioned")
            .load(p)
            .filter(f"u = {probe}")
            .count()
        )
        out[f"lookup_{name}_secs"] = round(time.monotonic() - t0, 3)
        assert n >= 1, (name, probe)
    side_bytes = sum(
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _d, fs in os.walk(
            os.path.join(paths["bloom"], "_bloom")
        )
        for f in fs
    )
    out["sidecar_bytes_total"] = side_bytes
    return out


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_200_000
    root = os.path.join("/tmp", f"table_bench_{os.getpid()}")
    os.makedirs(root, exist_ok=True)
    spark = build_spark(app_name="table_bench")
    try:
        # warm-up: the first merge pays JVM/codegen/Arrow init (~2s),
        # which would otherwise land entirely on the pct1 case
        bench_merge(spark, root, max(n_rows // 10, 10_000), 10)
        cases = {}
        for pct in (1, 10, 50):
            cases[f"merge_pct{pct}"] = bench_merge(spark, root, n_rows, pct)
        cases["delete_cow"] = bench_delete(spark, root, n_rows, use_dv=False)
        cases["delete_dv"] = bench_delete(spark, root, n_rows, use_dv=True)
        cases.update(bench_snapshot_read(spark, root, n_rows))
        cases["registration_rebuild_10k"] = bench_registration_rebuild(root)
        cases["bloom_point_lookup"] = bench_bloom_lookup(spark, root, n_rows)
        print(
            json.dumps(
                {
                    "metric": "table_ops",
                    "n_rows": n_rows,
                    "n_files": N_FILES,
                    "cases": cases,
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
