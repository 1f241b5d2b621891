"""``nrt_ingest``: the paper's pipeline, with reads beside the writes.

One seeded versioned source table feeds two entities: ``e0`` loads it
by change tracking (``CT``) and ``e1`` by timestamp (``TMSTP``), each
into its own silver table, primary key ``k``. Set-up onboards them one
at a time, the way an operator adds a table to a config-driven
pipeline: register the entity in the config store and run
``run_pipeline``, which bootstraps the new entity and skips the one
already loaded. The first onboarding also creates the config store and
the source table. ``setup_s`` is the median of the onboarding times.

Each cycle, the generator commits one CDC batch to the source (see
``make_batch``; the timestamp advances one hour per cycle). The clock
starts when the source commit returns and stops when ``run_pipeline``
returns with every ledger row closed: that interval is the cycle's
freshness. Then a reader queries the CT silver table ``READ_ROUNDS``
times, with new probe keys each round: a point lookup of a key this
cycle wrote, a key-range ``read_between`` aggregate, a time-travel
count and a change-feed count. Every read is checked against a
driver-side model of the seeded writes. After each round, the
``versioned`` DataSource's planner plans the same point lookup
in-process (no Spark job, no Python worker).
"""

from __future__ import annotations

import datetime
import os
from collections import Counter

import numpy as np

from . import common

SOURCE = "src"
ENTITIES = (("e0", "CT"), ("e1", "TMSTP"))  # silver table, watermark type
PAYLOAD = ["k", "v", "s", "u", "ts"]
BATCH_SCHEMA = "k long, v double, s string, u long, ts timestamp, op string"
BASE_TS = datetime.datetime(2024, 1, 1)
HASH_MUL = 2654435761
MIN_CYCLES = 2
READ_ROUNDS = 2  # per cycle; each round probes new keys
# CDC batch shares. No trace of the reference system's traffic exists,
# so these are the benchmark's own choice: 10% deletes, 40% updates (3/4
# of them to keys among the most recently inserted, the rest uniform
# over all live keys), 50% inserts of new keys.
DELETE_SHARE, UPDATE_SHARE, HOT_UPDATE_SHARE = 0.1, 0.4, 0.75

# source rows at set-up, CDC rows per cycle
SCALES = {"full": (20_000, 600), "tiny": (2_000, 60)}


def u_of(k):
    return (k * HASH_MUL) % (1 << 31)


class EntityModel:
    """Driver-side truth for one source table: value (in cents) of every
    live key, -1 for deleted or never-written keys."""

    def __init__(self, rows: int, capacity: int, salt: int):
        self.cents = np.full(capacity, -1, dtype=np.int64)
        self.cents[:rows] = initial_cents(np.arange(rows, dtype=np.int64), salt)
        self.next_key = rows

    def live_count(self) -> int:
        return int((self.cents >= 0).sum())


def initial_cents(k, salt: int):
    # the same integer arithmetic runs in Spark for the initial load
    return (k * 7919 + salt * 104729) % 100_000


def make_batch(rng: np.random.Generator, m: EntityModel, n: int):
    """Keys and ops for one CDC batch; updates the model in place.
    Returns (keys, cents, ops) with no key repeated. Hot updates draw
    from the newest ``4n`` live keys (at least a tenth of the key space)."""
    n_del, n_upd = int(n * DELETE_SHARE), int(n * UPDATE_SHARE)
    n_ins = n - n_del - n_upd
    live = np.flatnonzero(m.cents >= 0)
    recent = live[live >= m.next_key - max(4 * n, m.next_key // 10)]
    hot = rng.choice(recent, size=min(len(recent), int(n_upd * HOT_UPDATE_SHARE)),
                     replace=False)
    rest = np.setdiff1d(live, hot, assume_unique=True)
    cold = rng.choice(rest, size=n_upd - len(hot) + n_del, replace=False)
    upd = np.concatenate([hot, cold[: n_upd - len(hot)]])
    dele = cold[n_upd - len(hot):]
    ins = np.arange(m.next_key, m.next_key + n_ins, dtype=np.int64)
    m.next_key += n_ins
    keys = np.concatenate([ins, upd, dele])
    cents = rng.integers(0, 100_000, size=len(keys))
    ops = ["I"] * n_ins + ["U"] * len(upd) + ["D"] * len(dele)
    m.cents[ins] = cents[:n_ins]
    m.cents[upd] = cents[n_ins:n_ins + len(upd)]
    m.cents[dele] = -1
    return keys, cents, ops


def run(ctx) -> common.Result:
    from pyspark.sql import functions as F

    from nrtwithdeltalake_spark.pipeline import incremental
    from nrtwithdeltalake_spark.pipeline.config import ConfigStore
    from nrtwithdeltalake_spark.pipeline.tables import VersionedTable
    from nrtwithdeltalake_spark.sources import datasource

    spark, rng, led, tr = ctx.spark, ctx.rng, ctx.ledger, ctx.tracer
    rows, batch_rows = SCALES[ctx.scale]
    root = os.path.join(ctx.work, "nrt")
    src_root, silver_root = os.path.join(root, "src"), os.path.join(root, "silver")
    cfg_root = os.path.join(root, "cfg")
    salt = int(rng.integers(0, 1_000_000))
    m = EntityModel(rows, rows + 64 * batch_rows, salt)
    source = VersionedTable(spark, os.path.join(src_root, SOURCE))
    store = ConfigStore(spark, cfg_root)
    loads = {name: 0 for name, _ in ENTITIES}
    id_to_name = {}

    def pipeline():
        res = incremental.run_pipeline(spark, store, src_root, silver_root)
        for r in res:
            if r.action != "skipped":
                loads[id_to_name[r.entity_id]] += 1
        return res

    # -- set-up: onboard one entity at a time -------------------------------
    onboard_s = []
    for i, (name, wt) in enumerate(ENTITIES):
        clock = common.Clock()
        if i == 0:
            store.init()
            k = F.col("id")
            VersionedTable.create(spark, source.path, spark.range(rows).select(
                k.alias("k"),
                ((k * 7919 + salt * 104729) % 100_000 / 100.0).alias("v"),
                F.concat(F.lit("p"), k.cast("string")).alias("s"),
                ((k * HASH_MUL) % (1 << 31)).alias("u"),
                F.lit(BASE_TS).cast("timestamp").alias("ts"),
            ))
        eid = store.register_entity(SOURCE, name, wt, ["k"],
                                    timestamp_column="ts" if wt == "TMSTP" else None)
        id_to_name[eid] = name
        res = led.run(f"onboard {name}", pipeline)
        onboard_s.append(clock.unstolen())
        actions = {id_to_name[r.entity_id]: r.action for r in res}
        led.check(f"onboard {name}",
                  actions == {n: "full" if n == name else "skipped"
                             for n in id_to_name.values()},
                  str(actions))
    served = VersionedTable(spark, os.path.join(silver_root, "e0"))

    # -- measured cycles ----------------------------------------------------
    snapshots = [(served.latest_version(), m.live_count())]
    freshness, rounds, reads_kind, planned, plan_s = [], [], {}, [], []
    rows_applied, jobs_per_cycle = 0, []
    bytes0 = common.dir_bytes(silver_root, cfg_root)
    commits0 = common.log_commits(silver_root, cfg_root)
    clock = common.Clock()
    cycle = 0
    while cycle < MIN_CYCLES or clock.lap() < ctx.seconds:
        cycle += 1
        ts = BASE_TS + datetime.timedelta(hours=cycle)
        keys, cents, ops = make_batch(rng, m, batch_rows)
        recs = [(int(k), int(c) / 100.0, f"c{cycle}-{k}", int(u_of(k)), ts, op)
                for k, c, op in zip(keys, cents, ops)]
        with tr.span("bench.source_commit"):
            source.merge(spark.createDataFrame(recs, BATCH_SCHEMA), ["k"],
                         delete_condition="op = 'D'", exclude_cols=["op"])
        j0 = common.jobs_started(spark)
        t0 = common.Clock()
        with tr.span("bench.cycle"):
            res = led.run("run_pipeline", pipeline)
        freshness.append(t0.unstolen())
        jobs_per_cycle.append(common.jobs_started(spark) - j0)
        rows_applied += sum(r.rows for r in res if r.action == "incremental")
        actions = {id_to_name[r.entity_id]: r.action for r in res}
        led.check("every entity loaded",
                  actions == {n: "incremental" for n, _ in ENTITIES}, str(actions))

        # -- reads beside the writes, on the CT silver table ----------------
        written = [i for i, op in enumerate(ops) if op != "D"]
        back_v, back_n = snapshots[max(0, len(snapshots) - 3)]
        prev_v = snapshots[-1][0]

        def lookup(key):
            return [r.v for r in served.read().filter(F.col("k") == key)
                    .select("v").collect()]

        def timed(kind, fn, expect):
            t = common.Clock()
            with tr.span(f"bench.read.{kind}"):
                got = led.run(kind, fn)
            reads_kind.setdefault(kind, []).append(t.unstolen())
            led.check(kind, got == expect, f"got {got!r} expected {expect!r}")

        for _ in range(READ_ROUNDS):
            fresh = int(keys[written[int(rng.integers(len(written)))]])
            lo = int(rng.integers(0, m.next_key - batch_rows))
            hi = lo + batch_rows
            sel = m.cents[lo:hi + 1]
            timed("lookup_key", lambda: lookup(fresh), [m.cents[fresh] / 100.0])
            timed("range_agg", lambda: tuple(
                served.read_between("k", lo, hi)
                .agg(F.count(F.lit(1)), F.sum(F.round(F.col("v") * 100).cast("long")))
                .first()),
                (int((sel >= 0).sum()),
                 int(sel[sel >= 0].sum()) if (sel >= 0).any() else None))
            timed("time_travel", lambda: served.read(version=back_v).count(), back_n)
            timed("change_feed", lambda: served.change_feed(prev_v)
                  .filter("_change_type != 'update_preimage'").count(), len(keys))
            rounds.append(sum(r[-1] for r in reads_kind.values()))
            # the ``versioned`` DataSource's file pruning for the same key,
            # planned in-process: no Spark job and no Python worker start
            planner = datasource._PushdownBatchReader(served.path, None, None)
            planner.pushed = [("k", "=", fresh)]
            t = common.Clock()
            with tr.span("bench.read.plan_key"):
                planned.append(len([p for p in planner.partitions() if p.file]))
            plan_s.append(t.lap())
        snapshots.append((served.latest_version(), m.live_count()))
    measured_s = clock.lap()
    bytes_written = common.dir_bytes(silver_root, cfg_root) - bytes0
    commits = common.log_commits(silver_root, cfg_root) - commits0

    live_files = len(served.get_commit().files)
    layers = {
        "spark.jobs_per_cycle": common.median(jobs_per_cycle),
        "tables.bytes_written": float(bytes_written),
        "tables.files_live": float(live_files),
        "tables.read_between_files_ratio":
            len(served.read_between("k", lo, hi).inputFiles()) / live_files,
        "logcodec.commits": commits / cycle,
        "datasource.plan_key_s": common.median(plan_s),
        "datasource.files_planned_key": common.median(planned),
    }

    # -- correctness gates (outside the timed window) ----------------------
    if ctx.corrupt == "silver_row":
        victim = int(np.flatnonzero(m.cents >= 0)[0])
        served.delete(f"k = {victim}")
    def payload_rows(table) -> Counter:
        pdf = table.read().select(PAYLOAD).toPandas()
        return Counter(pdf.itertuples(index=False, name=None))

    src = payload_rows(source)
    led.check("source rows = model", src.total() == m.live_count())
    for name, wt in ENTITIES:
        sil = payload_rows(VersionedTable(spark, os.path.join(silver_root, name)))
        missing = (src - sil).total()
        extra = (sil - src).total() if wt == "CT" else 0
        led.check(f"{name} silver matches source", missing == 0 and extra == 0,
                  f"missing={missing} extra={extra}")
    ledger = store.watermarks.read().select("EntityId", "LoadEndDatetime").collect()
    closed = Counter(r["EntityId"] for r in ledger if r["LoadEndDatetime"] is not None)
    open_rows = sum(r["LoadEndDatetime"] is None for r in ledger)
    for eid, name in id_to_name.items():
        led.check(f"{name} ledger", closed.get(eid) == loads[name] and open_rows == 0,
                  f"closed={closed.get(eid)} loads={loads[name]} open={open_rows}")

    named = {
        "ingest.freshness_s.p50": (common.median(freshness), "s", cycle),
        "ingest.rows_per_s": (rows_applied / sum(freshness), "rows/s", cycle),
        "ingest.bytes_written_per_row": (bytes_written / max(rows_applied, 1),
                                         "bytes/row", cycle),
        "serve.lookup_s.p50": (common.median(reads_kind["lookup_key"]), "s",
                               len(rounds)),
        "serve.scan_s.p50": (common.median(reads_kind["range_agg"]
                                           + reads_kind["time_travel"]
                                           + reads_kind["change_feed"]), "s",
                             3 * len(rounds)),
        "serve.read_round_s.p50": (common.median(rounds), "s", len(rounds)),
        "serve.bytes_per_live_row": (common.dir_bytes(served.path)
                                     / m.live_count(), "bytes/row", 1),
        "measured_s": (measured_s, "s", cycle),
    }
    return common.Result(setup_s=onboard_s, latency_s=freshness,
                         read_s=sum(min(v) for v in reads_kind.values()),
                         read_n=len(rounds), named=named, layers=layers)
