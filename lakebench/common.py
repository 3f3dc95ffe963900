"""Shared pieces of the benchmark: the run context, statistics and disk
accounting. The workload modules build on these; ``run.py`` owns the
process (environment, session life cycle, result line)."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field


def p50(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> dict:
    """The highest percentile that has at least ten samples beyond it:
    with ``n`` sorted samples, the value with exactly ten above it, at
    percentile ``100 * (n - 10) / n``. With ten samples or fewer no such
    percentile exists; the maximum is reported with ``beyond = 0``."""
    xs = sorted(values)
    n = len(xs)
    if n > 10:
        return {"value": xs[n - 11], "pct": round(100.0 * (n - 10) / n, 1), "beyond": 10, "n": n}
    return {"value": xs[-1], "pct": 100.0, "beyond": 0, "n": n}


def dir_files(path: str) -> dict[str, int]:
    """Relative path -> size of every data file under ``path``
    (checksum side files and the streaming checkpoint metadata logs are
    not table data)."""
    out: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".crc"):
                continue
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


@dataclass
class Ctx:
    """What a workload gets from the harness."""

    seed: int
    seconds: int
    tracer: object
    data_dir: str
    tmp: str
    cpus: int
    start_session: object  # () -> SparkSession, traced as the session layer
    stop_session: object  # () -> None
    report: dict = field(default_factory=dict)  # named metrics -> (value, unit)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.tmp, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.tmp, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def metric(self, name: str, value: float, unit: str, **extra) -> None:
        self.report[name] = {"value": value, "unit": unit, **extra}


# fresh sessions started in set-up; the median start is reported
SESSION_STARTS = 3

SPARK_COUNTS = ("jobs", "tasks", "input_bytes", "input_records", "shuffle_write_bytes", "spill_bytes")


def spark_totals(counts: dict, wall: float, cpus: int) -> dict:
    """The ``spark.*`` per-layer metrics from the stage counts of a
    measured phase that took ``wall`` seconds on ``cpus`` cores."""
    out = {f"spark.{k}": counts.get(k, 0) for k in SPARK_COUNTS}
    out["spark.busy_share"] = counts.get("executor_run_ms", 0) / 1000 / ((wall or 1.0) * cpus)
    return out


def repeated_setup(ctx: Ctx, load):
    """Set-up: ``SESSION_STARTS`` session starts (each a fresh session:
    start plus registration), then ``load(spark)``, the workload's
    initial table load, once on the last session. Returns (load's state,
    the session start times, the load time). The first start also pays
    the JVM launch; the median start is reported. The table load runs
    once because repeating it would double the run time of
    ``cdc_merge``."""
    times = []
    for _ in range(SESSION_STARTS):
        ctx.stop_session()
        t0 = time.perf_counter()
        spark = ctx.start_session()
        times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    state = load(spark)
    return state, times, time.perf_counter() - t0
