#!/usr/bin/env python3
"""Benchmark entry point.

    python3 lakebench/run.py --workload {stream_ingest,cdc_merge,lake_queries}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Each run is hermetic: a fresh temp root
under ``.lakebench/`` (topic, checkpoints, lake tables, Spark local dirs,
JVM temp) that is deleted afterwards, ``local[nproc]`` with an explicit
JVM heap size, and the session, every stream and the JVM stopped before
exit. Inputs are rendered from ``--seed`` before anything is timed;
outputs are checked after the measured phase, outside the timed region.

Progress and every named metric go to stderr. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer metrics).
A traced run also writes its spans to ``.lakebench/results/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

from spans import LAYERS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_ingest", "cdc_merge", "lake_queries")
JVM_HEAP = "4g"

# name -> unit; the order BENCHMARK.json lists them in
END_TO_END = {
    "setup_s": "s",
    "success_rate": "ratio",
    "light_op_p50_s": "s",
    "heavy_op_p50_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "gen.render_s": "s",
    "gen.late_p99_share": "share",
    "trace.overhead_s": "s",
    "host.steal_share": "share",
    **{f"self.{layer}": "share" for layer in LAYERS},
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.input_bytes": "bytes",
    "spark.input_records": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.busy_share": "share",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "streaming.jobs_per_batch": "count",
    "streaming.backlog_chunks_max": "count",
    "streaming.empty_batch_share": "share",
    "streaming.latest_offset_share": "share",
    "streaming.get_batch_share": "share",
    "streaming.query_planning_share": "share",
    "streaming.add_batch_share": "share",
    "streaming.wal_commit_share": "share",
    "streaming.commit_offsets_share": "share",
    "streaming.drain_rows_per_s_1core": "1/s",
    "streaming.upsert_share": "share",
    "streaming.upsert_buckets_touched": "count",
    "streaming.upsert_jobs": "count",
    "streaming.upsert_rewrite_ratio": "ratio",
    "sources.txlog.merge_share": "share",
    "sources.txlog.read_share": "share",
    "sources.txlog.rewrite_ratio": "ratio",
    "sources.txlog.bytes_retained": "bytes",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_records": "count",
    **{
        f"queries.{cls}.{m}": u
        for cls in ("gold", "curation")
        for m, u in (
            ("plan_share", "share"),
            ("jobs", "count"),
            ("tasks", "count"),
            ("shuffle_write_bytes", "bytes"),
            ("spill_bytes", "bytes"),
            ("busy_share", "share"),
        )
    },
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far; steal is time the
    hypervisor ran other guests while this one had work."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def _hermetic_env(tmp: str, cpus: int) -> None:
    for k in ("SPARK_GRAFT_EXTRA_CONFS", "SPARK_MASTER", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)


class Sessions:
    """Session life cycle: start (traced as the ``session`` layer), stop,
    and at the end the JVM itself, waited for."""

    def __init__(self, tmp: str, tracer):
        self.tmp = tmp
        self.tracer = tracer
        self.spark = None
        self.start_times: list[float] = []
        self.java = "unknown"

    def start(self):
        from dea05_e2e_kafka_streaming_pipeline_spark.session import get_spark

        confs = {
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-Djava.security.manager=allow -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.tmp, 'tmp')}"
            ),
        }
        if self.tracer.enabled:
            confs.update(
                {
                    "spark.ui.enabled": "true",
                    "spark.ui.port": "0",
                    "spark.ui.retainedStages": "100000",
                    "spark.ui.retainedJobs": "100000",
                    "spark.sql.ui.retainedExecutions": "100000",
                }
            )
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", "session"):
            self.spark = get_spark(app_name="lakebench", extra_confs=confs)
        self.start_times.append(time.perf_counter() - t0)
        self.java = self.spark.sparkContext._jvm.System.getProperty("java.version")
        if self.tracer.enabled:
            self.tracer.attach(self.spark)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        self.stop()
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        try:
            gw.shutdown()
        except Py4JError as e:  # the JVM may already be gone
            log(f"gateway shutdown: {e}")
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _versions(java: str) -> dict:
    import duckdb
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": java,
        "python": platform.python_version(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        importlib.import_module("dea05_e2e_kafka_streaming_pipeline_spark.session")
    except ImportError as e:
        log(f"engine package not importable from {ROOT}: {e}")
        return 2
    import __spark_entry__

    # the sf0.1 tier sits beside the smoke tier the engine's entry module names
    default_dir = os.path.join(os.path.dirname(__spark_entry__.SMOKE_SF_DIR), "sf0.1")
    data_dir = os.environ.get("LAKEBENCH_DATA_DIR", default_dir)
    if not os.path.isfile(os.path.join(data_dir, "orders.parquet")):
        log(f"no input tables under {data_dir}")
        return 2

    from common import Ctx, p50, tail
    from spans import NULL_TRACER, Tracer

    cpus = _nproc()
    base = os.path.join(ROOT, ".lakebench")
    tmp = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    _hermetic_env(tmp, cpus)
    tracer = Tracer() if args.trace else NULL_TRACER
    sessions = Sessions(tmp, tracer)
    ctx = Ctx(
        seed=args.seed,
        seconds=args.seconds,
        tracer=tracer,
        data_dir=data_dir,
        tmp=tmp,
        cpus=cpus,
        start_session=sessions.start,
        stop_session=sessions.stop,
    )
    t_run = time.perf_counter()
    ticks0 = _cpu_ticks()
    try:
        workload = importlib.import_module(args.workload)
        res = workload.run(ctx)
    finally:
        sessions.shutdown()
        shutil.rmtree(tmp, ignore_errors=True)

    ticks1 = _cpu_ticks()
    steal_share = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    attempted, failed = res["attempted"], res["failed"]
    setup_s = p50(res["setup_times"]) + res["load_s"] + res["warmup_s"]
    light_tail = tail(res["light"])
    e2e = {
        "setup_s": setup_s,
        "success_rate": (attempted - failed) / attempted,
        "light_op_p50_s": res["light_p50"],
        "heavy_op_p50_s": res["heavy_p50"],
    }
    ctx.metric("setup_s", setup_s, "s", session_starts=res["setup_times"],
               load_s=res["load_s"], warmup_s=res["warmup_s"])
    ctx.metric("error_rate", failed / attempted, "ratio", attempted=attempted)
    ctx.metric("light_op_tail_s", light_tail["value"], "s", pct=light_tail["pct"],
               n=light_tail["n"])
    ctx.metric("host.steal_share", steal_share, "share")
    for name, m in ctx.report.items():
        extra = {k: v for k, v in m.items() if k not in ("value", "unit")}
        log(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}"
            + (f"  {json.dumps(extra)}" if extra else ""))
    log(f"light op: {res['light_name']}; tail = p{light_tail['pct']} of "
        f"{light_tail['n']} samples; heavy op: {res['heavy_name']}")
    for err in res["errors"]:
        log(f"CHECK FAILED: {err}")

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "jvm_heap": JVM_HEAP,
        "data_dir": data_dir,
        "versions": _versions(sessions.java),
        "wall_s": time.perf_counter() - t_run,
        "end_to_end": e2e,
        "named": ctx.report,
        "light_tail": light_tail,
        "errors": res["errors"],
    }
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
    if args.trace:
        per_layer = dict.fromkeys(PER_LAYER, 0.0)
        per_layer.update(res["per_layer"])
        per_layer["session.start_s"] = p50(sessions.start_times)
        per_layer["trace.overhead_s"] = tracer.overhead_s
        per_layer["host.steal_share"] = steal_share
        self_t = tracer.self_times()
        total = sum(self_t.values()) or 1.0
        for layer, v in self_t.items():
            per_layer[f"self.{layer}"] = v / total
        record["per_layer"] = per_layer
        record["self_time_s"] = self_t
        record["detail"] = res.get("detail", {})
        untraced = f"{stem}-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base_e2e = json.load(f)["end_to_end"]
            record["tracing_overhead"] = {k: e2e[k] - base_e2e[k] for k in e2e}
        tracer.write(f"{stem}-spans.json", record)
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in PER_LAYER.items()}
        log(f"self time per layer (s): {json.dumps({k: round(v, 3) for k, v in self_t.items()})}")
        log(f"tracing overhead: {tracer.overhead_s:.3f} s in span bookkeeping"
            + (f"; traced minus untraced e2e: {json.dumps(record['tracing_overhead'])}"
               if "tracing_overhead" in record else ""))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    correct = not res["errors"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
