"""``query_mix``: headline queries over a seeded parquet fixture.

Operators, the catalog and Catalyst do all the work; the table format
is bypassed. The fixture is written before any clock starts. Set-up is
the catalog load of each table (schema and footer reads); ``setup_s``
is the median over the tables. Each run then does
one cold pass in the fresh session (whole-stage codegen included) that
collects every result, then warm passes in a seed-permuted order, every
query executed to completion through the ``noop`` sink. After the timed
passes, each collected result is compared with its DuckDB oracle
through ``tests/oracle.py``'s canonicalization.

The mix is the subset of ``bench.HEADLINE`` over the TPC-H-shaped
tables and ``events``, one query per operator module: the full 40-query
pass (51 s cold, 25 s warm at sf0.01 on 4 cores) does not fit a run.
"""

from __future__ import annotations

import os
import statistics
from types import SimpleNamespace

import pandas as pd

from . import common, fixture

# one query from each of three operator modules, over the generated tables
MIX = (
    "q_flagship",
    "q_tpch_q5",
    "q_agg_ewma",
)
MIN_WARM_PASSES = 3
SCALES = {"full": 0.01, "tiny": 0.001}  # fixture scale factor


def run(ctx) -> common.Result:
    from bench import HEADLINE
    from nrtwithdeltalake_spark.operators.registry import all_oracles, all_queries
    from nrtwithdeltalake_spark.sources import catalog
    from tests.oracle import compare

    missing = [q for q in MIX if q not in HEADLINE]
    assert not missing, f"not headline queries: {missing}"
    spark, rng, led, tr = ctx.spark, ctx.rng, ctx.ledger, ctx.tracer
    queries, oracles = all_queries(), all_oracles()
    sf_dir = os.path.join(ctx.work, "fixture")
    fixture.generate(sf_dir, SCALES[ctx.scale], int(rng.integers(0, 2**31)))

    setup_s = []
    for t in catalog.TABLES:
        clock = common.Clock()
        catalog.load_table(spark, sf_dir, t).schema  # footer read, no job
        setup_s.append(clock.unstolen())

    def one_pass(order, run_query) -> dict[str, float]:
        per = {}
        for q in order:
            t = common.Clock()
            with tr.span(f"operators.{q}"):
                led.run(q, run_query, q)
            per[q] = t.unstolen()
            led.check(q, True)
        return per

    def collect(q: str) -> None:
        results[q] = queries[q](spark, sf_dir).toPandas()

    def noop(q: str) -> None:
        queries[q](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # the cold pass collects every result to the driver for the oracle
    # check; the timed warm passes run each query through the noop sink
    results = {}
    clock = common.Clock()
    with tr.span("bench.cold_pass"):
        cold = one_pass(list(MIX), collect)
    warm: list[dict[str, float]] = []
    jobs: list[int] = []
    while len(warm) < MIN_WARM_PASSES or clock.lap() < ctx.seconds:
        order = [MIX[i] for i in rng.permutation(len(MIX))]
        j0 = common.jobs_started(spark)
        with tr.span("bench.warm_pass"):
            warm.append(one_pass(order, noop))
        jobs.append(common.jobs_started(spark) - j0)
    measured_s = clock.lap()

    # -- correctness: each cold-pass result against its oracle ------------
    for i, q in enumerate(MIX):
        pdf = results[q]
        if ctx.corrupt == "query_result" and i == 0:
            pdf = pd.concat([pdf, pdf.head(1)])
        try:
            compare(SimpleNamespace(toPandas=lambda pdf=pdf: pdf), oracles[q], sf_dir)
            led.check(f"{q} oracle", True)
        except AssertionError as e:
            led.check(f"{q} oracle", False, str(e))

    passes = [sum(p.values()) for p in warm]
    per_query = {q: common.median([p[q] for p in warm]) for q in MIX}
    fastest = statistics.geometric_mean(min(p[q] for p in warm) for q in MIX)
    cold_s = sum(cold.values())
    named = {
        "query.pass_s.p50": (common.median(passes), "s", len(passes)),
        "query.cold_pass_s": (cold_s, "s", 1),
        "query.query_s.geomean": (statistics.geometric_mean(per_query.values()),
                                  "s", len(MIX) * len(warm)),
        "measured_s": (measured_s, "s", len(warm) + 1),
    }
    layers = {f"operators.{q}.warm_s": v for q, v in per_query.items()}
    layers["operators.codegen_s"] = cold_s - common.median(passes)
    layers["spark.jobs_per_pass"] = common.median(jobs)
    return common.Result(setup_s=setup_s, latency_s=passes,
                         read_s=fastest, read_n=len(MIX) * len(warm),
                         named=named, layers=layers)
