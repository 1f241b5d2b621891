"""Span recorder for the traced run (``--trace 1``).

Wrappers are installed from here, around the public functions each
layer exposes; the program itself carries no tracing. A span records
its name, start, end, parent and thread. Spans live in memory, in one
list plus a per-thread stack, and are written out once at the end.

``run_pipeline`` loads entities on pool threads. A span opened on a
thread whose stack is empty takes the innermost *inheritable* span
(the enclosing ``run_pipeline``) as its parent, so entity loads nest
under the pipeline call that scheduled them.

Self time of a span = its duration minus the part of its interval that
its children cover (the union of child intervals, since children on
pool threads overlap).
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._inherit: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, inheritable: bool = False, **attrs):
        st = self._stack()
        parent = st[-1] if st else (self._inherit[-1] if self._inherit else None)
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent,
               "thread": threading.get_ident(), **attrs}
        st.append(sid)
        if inheritable:
            self._inherit.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            if inheritable:
                self._inherit.remove(sid)
            with self._lock:
                self.spans.append(rec)

    # -- installing wrappers ----------------------------------------------

    def wrap(self, owner, attr: str, name: str, inheritable: bool = False,
             on_result=None) -> None:
        """Replace ``owner.attr`` by a timing wrapper. ``on_result(rec,
        result)`` may annotate the span from the call's return value."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, inheritable=inheritable) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def wrap_everywhere(self, module_prefix: str, func, name: str) -> None:
        """Wrap ``func`` in every loaded module under ``module_prefix``
        that bound it by name (``from x import func``)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(module_prefix):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self.wrap(mod, attr, name)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis ----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id → duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, hi = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], ())):
                a, b = max(a, hi), min(b, s["end"])
                if b > a:
                    covered += b - a
                    hi = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out


class NullTracer:
    """Stands in for ``Tracer`` in untraced runs: spans cost nothing."""

    spans: list[dict] = []

    @contextmanager
    def span(self, name: str, inheritable: bool = False, **attrs):
        yield {}


def durations(spans: list[dict]) -> list[float]:
    return [s["end"] - s["start"] for s in spans]


def install_program_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry points of the pipeline layers named in the
    README: incremental, config, tables (+ logcodec reads), catalog."""
    from nrtwithdeltalake_spark.pipeline import config, incremental
    from nrtwithdeltalake_spark.pipeline.tables import VersionedTable
    from nrtwithdeltalake_spark.sources import catalog

    tracer.wrap(incremental, "run_pipeline", "incremental.run_pipeline",
                inheritable=True)
    tracer.wrap(incremental, "load_entity", "incremental.load_entity",
                on_result=lambda rec, r: rec.update(action=r.action, rows=r.rows))
    for m in ("entities_with_watermarks", "open_watermark", "close_watermark"):
        tracer.wrap(config.ConfigStore, m, f"config.{m}")

    def merge_result(rec, r):
        rec.update(touched=r.get("touched_files", 0),
                   probed=r.get("probe_candidate_files", 0),
                   rebased="rebased_from_version" in r)

    tracer.wrap(VersionedTable, "merge", "tables.merge", on_result=merge_result)
    for m in ("append", "update", "read", "read_between", "change_feed",
              "history", "latest_version"):
        tracer.wrap(VersionedTable, m, f"tables.{m}")
    tracer.wrap(VersionedTable, "get_commit", "logcodec.get_commit")
    tracer.wrap_everywhere("nrtwithdeltalake_spark", catalog.load_table,
                           "catalog.load_table")


# name -> unit, for ``--trace 1``. Spans are counted only inside the
# measured work (pipeline cycles, silver reads, query passes), not in
# set-up or in the CDC generator's own source commits.
def per_layer_names() -> dict[str, str]:
    from perfbench.query_mix import MIX

    names = {"session.build_s": "s", "catalog.load_table_s": "s"}
    names.update({f"operators.{q}.warm_s": "s" for q in MIX})
    names.update({
        "operators.codegen_s": "s",
        "incremental.run_pipeline_s": "s",
        "incremental.load_entity_s.p50": "s",
        "incremental.load_entity_s.p90": "s",
        "incremental.entity_overlap": "ratio",
        "incremental.loads_skipped_ratio": "ratio",
        "config.entities_with_watermarks_s": "s",
        "config.open_watermark_s": "s",
        "config.close_watermark_s": "s",
        "config.ledger_self_s": "s",
        "tables.merge_s": "s",
        "tables.merge_files_touched": "count",
        "tables.merge_probe_candidate_files": "count",
        "tables.merge_touched_per_probed": "ratio",
        "tables.merge_rebased": "count",
        "tables.change_feed_s": "s",
        "tables.append_s": "s",
        "tables.update_s": "s",
        "tables.read_between_files_ratio": "ratio",
        "tables.files_live": "count",
        "tables.bytes_written": "bytes",
        "tables.history_s": "s",
        "tables.latest_version_s": "s",
        "logcodec.get_commit_s": "s",
        "logcodec.get_commit_calls": "count",
        "logcodec.commits": "count",
        "datasource.plan_key_s": "s",
        "datasource.files_planned_key": "count",
        "spark.jobs_per_cycle": "count",
        "spark.jobs_per_pass": "count",
        "trace.spans": "count",
    })
    return names


SCOPES = ("bench.cycle", "bench.cold_pass", "bench.warm_pass", "bench.read.")


def layer_metrics(tracer: Tracer, res, session_s: float) -> dict[str, tuple]:
    """Per-layer metrics from the spans plus the counts the workload
    measured itself (``res.layers``). A layer the workload never calls
    reads 0. Times are medians per call."""
    from perfbench.common import median, p90

    by_id = {s["id"]: s for s in tracer.spans}

    def scoped(s) -> bool:
        p = s["parent"]
        while p is not None:
            name = by_id[p]["name"]
            if name.startswith(SCOPES):
                return True
            p = by_id[p]["parent"]
        return False

    spans: dict[str, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        if s["name"].startswith(SCOPES) or scoped(s):
            spans[s["name"]].append(s)
    self_t = tracer.self_times()

    def med(name):
        d = durations(spans.get(name, []))
        return median(d) if d else 0.0

    loads = spans.get("incremental.load_entity", [])
    pipes = spans.get("incremental.run_pipeline", [])
    merges = spans.get("tables.merge", [])
    cycles = max(len(spans.get("bench.cycle", [])), 1)
    ledger = spans.get("config.open_watermark", []) + spans.get("config.close_watermark", [])
    probed = sum(s.get("probed", 0) for s in merges)
    out = {
        "session.build_s": session_s,
        "catalog.load_table_s": med("catalog.load_table"),
        "incremental.run_pipeline_s": med("incremental.run_pipeline"),
        "incremental.load_entity_s.p50": med("incremental.load_entity"),
        "incremental.load_entity_s.p90": p90(durations(loads)) if loads else 0.0,
        "incremental.entity_overlap": (sum(durations(loads)) / sum(durations(pipes))
                                       if pipes else 0.0),
        "incremental.loads_skipped_ratio": (
            sum(s.get("action") == "skipped" for s in loads) / len(loads)
            if loads else 0.0),
        "config.entities_with_watermarks_s": med("config.entities_with_watermarks"),
        "config.open_watermark_s": med("config.open_watermark"),
        "config.close_watermark_s": med("config.close_watermark"),
        "config.ledger_self_s": median([self_t[s["id"]] for s in ledger]) if ledger else 0.0,
        "tables.merge_s": med("tables.merge"),
        "tables.merge_files_touched": median([s.get("touched", 0) for s in merges]) if merges else 0.0,
        "tables.merge_probe_candidate_files": median([s.get("probed", 0) for s in merges]) if merges else 0.0,
        "tables.merge_touched_per_probed": (sum(s.get("touched", 0) for s in merges) / probed
                                            if probed else 0.0),
        "tables.merge_rebased": float(sum(bool(s.get("rebased")) for s in merges)),
        "tables.change_feed_s": med("tables.change_feed"),
        "tables.append_s": med("tables.append"),
        "tables.update_s": med("tables.update"),
        "tables.history_s": med("tables.history"),
        "tables.latest_version_s": med("tables.latest_version"),
        "logcodec.get_commit_s": med("logcodec.get_commit"),
        "logcodec.get_commit_calls": sum(
            1 for s in spans.get("logcodec.get_commit", []) if _under(s, by_id, "bench.cycle")
        ) / cycles,
        "trace.spans": float(len(tracer.spans)),
    }
    out.update(res.layers)
    return {name: (float(out.get(name, 0.0)), unit)
            for name, unit in per_layer_names().items()}


def _under(s: dict, by_id: dict, root: str) -> bool:
    p = s["parent"]
    while p is not None:
        if by_id[p]["name"] == root:
            return True
        p = by_id[p]["parent"]
    return False


def write_spans(tracer: Tracer, out_dir: str, key: str) -> str:
    """One JSON object per span; times in seconds from the first span."""
    import json
    import os

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{key}.jsonl")
    t0 = min((s["start"] for s in tracer.spans), default=0.0)
    with open(path, "w") as f:
        for s in sorted(tracer.spans, key=lambda s: s["start"]):
            f.write(json.dumps({**s, "start": s["start"] - t0,
                                "end": s["end"] - t0}) + "\n")
    return path
