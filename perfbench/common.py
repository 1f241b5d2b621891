"""Shared plumbing: pinned environment, session start/stop, sample
statistics and the pass/fail ledger every workload reports into."""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, work: str) -> None:
    """Must run before pyspark or the program is imported: the session
    module reads SPARK_GRAFT_CPUS at import, and Spark's Python workers
    inherit PYTHONPATH from the driver's environment at JVM launch (the
    ``versioned`` DataSource fails there without the repo root)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )


def spark_conf(work: str) -> dict[str, str]:
    # C1 only: a run is too short for the optimizing JIT to settle. With
    # it, cycle time fell steadily over six cycles (9.7 s to 6.8 s), so a
    # run's figure depended on how far compilation had got; without it,
    # cycles were flat within 5%.
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={work} -XX:TieredStopAtLevel=1"
        ),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def env_annotations() -> dict:
    """Recorded beside the result, never gated on."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"cpus": nproc(), "mem_gb": round(mem_kb / 2**20, 1),
            "load1": load1, "steal_pct": None}


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return round(100.0 * d[7] / total, 2) if len(d) > 7 else 0.0


def dir_bytes(*roots: str) -> int:
    n = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                try:
                    n += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return n


def log_commits(*roots: str) -> int:
    """Commit records under every table's ``_log`` below ``roots``."""
    return sum(
        len([f for f in files if f.endswith(".json")])
        for root in roots
        for dirpath, _dirs, files in os.walk(root)
        if os.path.basename(dirpath) == "_log"
    )


def jobs_started(spark) -> int:
    """Highest Spark job id seen so far + 1 (ids are sequential)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1) + 1


def median(xs) -> float:
    return statistics.median(xs)


def p90(xs) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(0.9 * len(xs)))]


class Clock:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.cpu0 = cpu_times()

    def lap(self) -> float:
        return time.perf_counter() - self.t0

    def unstolen(self) -> float:
        """Wall time since start, scaled by the share of the CPU time the
        machine wanted that it got: busy / (busy + hypervisor steal)."""
        wall = self.lap()
        d = [b - a for a, b in zip(self.cpu0, cpu_times())]
        busy = d[0] + d[1] + d[2] + d[5] + d[6]  # user nice system irq softirq
        steal = d[7] if len(d) > 7 else 0
        return wall * busy / (busy + steal) if busy else wall


@dataclass
class Ledger:
    """Operations attempted vs failed; an op fails when it raises or its
    output disagrees with the driver-side model or oracle."""

    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED {name}: {detail}"[:400])
        return ok

    def run(self, name: str, fn, *args, **kwargs):
        """Run one operation whose output the caller then ``check``s; a
        raised error is recorded as the op's failure and re-raised."""
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 - any error is a failed op
            self.check(name, False, f"{type(e).__name__}: {e}")
            raise


@dataclass
class Result:
    """What a workload hands back to the runner."""

    setup_s: list[float]  # one sample per repeated set-up
    latency_s: list[float]  # one sample per measured op
    read_s: float  # the workload's read requests, fastest of each kind
    read_n: int  # samples behind read_s
    named: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
