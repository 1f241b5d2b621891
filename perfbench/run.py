"""Benchmark entry point.

    python3 perfbench/run.py --workload nrt_ingest --seed 1 --seconds 8 --trace 0

Runs one workload in one process against the program in this checkout,
checks its outputs, prints every metric as ``metric <name> <value>
<unit> (n=<samples>)`` and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` timing wrappers
are installed around the program's layer entry points, the spans are
written under ``.perfbench_work/spans/`` and the metrics are the
per-layer ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("nrt_ingest", "query_mix")

# name -> unit; the order is the print order
END_TO_END = {
    "setup_s": "s",
    "latency_s.min": "s",
    "read_s": "s",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-tests' smoke size")
    ap.add_argument("--corrupt", choices=("silver_row", "query_result"),
                    help="damage one result before the gates (self-tests)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "nrtwithdeltalake_spark")):
        print("perfbench: no program sources beside the benchmark", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sys.path.insert(0, ROOT)
    from perfbench import common

    common.pin_environment(ROOT, work)
    try:
        return _run(args, work, common)
    except Exception:  # noqa: BLE001 - a crashed run prints no result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, common) -> int:
    import numpy as np

    from perfbench import nrt_ingest, query_mix, trace

    env = common.env_annotations()
    cpu0 = common.cpu_times()
    tracer = trace.Tracer() if args.trace else trace.NullTracer()
    clock = common.Clock()
    from nrtwithdeltalake_spark.session import build_spark

    spark = build_spark(app_name=f"perfbench-{args.workload}",
                        extra_conf=common.spark_conf(work))
    spark.range(1).count()  # the session is usable, not just constructed
    session_s = clock.lap()
    try:
        if args.trace:
            from nrtwithdeltalake_spark.operators import registry

            registry.all_queries()  # load operator modules before wrapping
            trace.install_program_wrappers(tracer)
        ctx = SimpleNamespace(
            spark=spark, rng=np.random.default_rng(args.seed),
            ledger=common.Ledger(), tracer=tracer, seconds=args.seconds,
            scale=args.scale, work=work, corrupt=args.corrupt)
        module = {"nrt_ingest": nrt_ingest, "query_mix": query_mix}[args.workload]
        res = module.run(ctx)
    finally:
        if args.trace:
            tracer.uninstall()
        common.stop_spark(spark)
    env["steal_pct"] = common.steal_pct(cpu0, common.cpu_times())
    led = ctx.ledger

    e2e = {
        "setup_s": (common.median(res.setup_s), len(res.setup_s)),
        "latency_s.min": (min(res.latency_s), len(res.latency_s)),
        "read_s": (res.read_s, res.read_n),
    }
    print(f"# workload {args.workload} seed {args.seed} scale {args.scale} "
          f"trace {args.trace}")
    print(f"# env {json.dumps(env)}")
    for note in led.notes:
        print(f"# {note}")
    for name, (value, n) in e2e.items():
        print(f"metric {name} {value!r} {END_TO_END[name]} (n={n})")
    if not args.trace:  # the traced run reports it among the layers
        print(f"metric session.build_s {session_s!r} s (n=1)")
    for name, (value, unit, n) in res.named.items():
        print(f"metric {name} {value!r} {unit} (n={n})")
    print(f"metric ops_failed_ratio {led.failed / max(led.attempted, 1)!r} ratio "
          f"(n={led.attempted})")

    key = f"{args.workload}-{args.scale}-seed{args.seed}"
    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    with open(os.path.join(WORK_ROOT, "results", f"{key}-trace{args.trace}.json"),
              "w") as f:
        json.dump({k: v for k, (v, _n) in e2e.items()}, f)
    if args.trace:
        layers = trace.layer_metrics(tracer, res, session_s)
        for name, (value, unit) in layers.items():
            print(f"metric {name} {value!r} {unit}")
        _report_overhead(key, e2e)
        path = trace.write_spans(tracer, os.path.join(WORK_ROOT, "spans"), key)
        print(f"# spans written to {os.path.relpath(path, ROOT)}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _n) in e2e.items()}
    print(json.dumps({"correct": led.failed == 0, "attempted": led.attempted,
                      "failed": led.failed, "metrics": metrics}))
    return 0


def _report_overhead(key: str, traced: dict) -> None:
    """Traced minus untraced end-to-end values for the same workload,
    scale and seed, when an untraced run of them has been recorded."""
    path = os.path.join(WORK_ROOT, "results", f"{key}-trace0.json")
    if not os.path.exists(path):
        print("# tracing overhead: run the same seed with --trace 0 to compare")
        return
    with open(path) as f:
        untraced = json.load(f)
    for name, (value, _n) in traced.items():
        print(f"metric trace.overhead.{name} {value - untraced[name]!r} s")


if __name__ == "__main__":
    sys.exit(main())
