"""Workload ``stream_ingest``: orders landing through the streaming
medallion (file-backed Kafka surrogate → bronze landing + DQ-gated
silver). Exercises ``streaming`` and the append path of
``sources.sinks``; bypasses the query operators.

Latency phase (open loop). Chunks of valid orders are rendered in
set-up. During the phase one generator publishes them into the topic by
atomic rename, one chunk every ``INTERVAL_S`` (2,000 orders/s in 250 ms
chunks), whether or not the engine keeps up. A chunk's landing latency
runs from its scheduled publish time to the commit of the later of the
bronze and silver micro-batches that carry it (the commit-log entry of
that batch). Light operation: one chunk landing.

Drain phase. A pre-produced backlog is drained with
``available_now=True`` and a fixed ``max_offsets_per_trigger``; this
measures cost per row. Heavy operation: one drain step, from the
landing of batch ``k-1`` (or the start) to the landing of batch ``k`` in
both queries.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import duckdb
import pandas as pd

from common import Ctx, dir_files, p50, repeated_setup, spark_totals, tail
from gen import render_order_chunks
from spans import DURATION_KEYS, BatchListener

INTERVAL_S = 0.25
ROWS_PER_CHUNK = 500  # 2,000 orders/s
DRAIN_FILES = 8
DRAIN_ROWS_PER_FILE = 6_250
DRAIN_FILES_PER_TRIGGER = 2
# bounds on waiting for the engine, so that a stalled pipeline still ends
# the run (with failed checks) well inside three minutes
LAND_TIMEOUT_S = 40.0


def _order_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("order_id", T.LongType()),
            T.StructField("order_date", T.DateType()),
            T.StructField("order_amount", T.DoubleType()),
            T.StructField("customer_id", T.LongType()),
        ]
    )


def _paths(root: str):
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.medallion import MedallionPaths

    return MedallionPaths(
        bronze=f"{root}/bronze",
        silver=f"{root}/silver",
        quarantine=f"{root}/quarantine",
        gold_daily_sales=f"{root}/gold_daily_sales",
        gold_clv=f"{root}/gold_clv",
    )


def _start(spark, topic, customers, paths, ck, *, drain: bool):
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.medallion import (
        run_medallion_stream,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.sources import (
        kafka_json_stream_surrogate,
    )

    stream = kafka_json_stream_surrogate(
        spark,
        topic,
        _order_schema(),
        max_offsets_per_trigger=DRAIN_FILES_PER_TRIGGER if drain else None,
    )
    return run_medallion_stream(
        stream, customers, paths, ck, available_now=drain, trigger_seconds=None
    )


def _batch_log(ck: str) -> tuple[dict[str, int], dict[int, float]]:
    """(chunk file name -> batch id) from the file source's batch log,
    and (batch id -> commit time) for committed batches."""
    files: dict[str, int] = {}
    src = os.path.join(ck, "sources", "0")
    if os.path.isdir(src):
        for name in os.listdir(src):
            if name.startswith("."):
                continue
            try:
                with open(os.path.join(src, name)) as f:
                    lines = f.read().splitlines()[1:]
            except FileNotFoundError:  # compacted away meanwhile
                continue
            for line in lines:
                if line.strip():
                    e = json.loads(line)
                    files[os.path.basename(e["path"])] = e["batchId"]
    commits: dict[int, float] = {}
    cdir = os.path.join(ck, "commits")
    if os.path.isdir(cdir):
        for name in os.listdir(cdir):
            if name.isdigit():
                commits[int(name)] = os.stat(os.path.join(cdir, name)).st_mtime_ns / 1e9
    return files, commits


def _landed(ck_root: str, names: list[str]) -> dict[str, float]:
    """chunk name -> time the later of its bronze and silver batches
    committed, for the chunks both queries have committed so far."""
    logs = [_batch_log(os.path.join(ck_root, q)) for q in ("bronze", "silver")]
    out: dict[str, float] = {}
    for n in names:
        at = [commits.get(files.get(n)) for files, commits in logs]
        if None not in at:
            out[n] = max(at)
    return out


def _wait_landed(ck_root: str, names: list[str], timeout: float) -> dict[str, float]:
    """Poll until every chunk in ``names`` has landed or ``timeout``
    passes; returns the chunks that landed."""
    deadline = time.time() + timeout
    while True:
        got = _landed(ck_root, names)
        if len(got) == len(names) or time.time() > deadline:
            return got
        time.sleep(0.02)


def _wait_ready(queries, timeout: float = 60.0) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if all("Waiting for" in q.status["message"] for q in queries):
            return
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        time.sleep(0.02)
    raise TimeoutError("streaming queries did not start")


def _check(con, produced: pd.DataFrame, paths, label: str) -> list[str]:
    """bronze, silver and the produced orders must be equal as sets and
    quarantine empty."""
    errors = []
    con.register("produced", produced)
    cols = "order_id, order_date, order_amount, customer_id"
    for layer, glob in (
        ("bronze", f"{paths.bronze}/*/*.parquet"),
        ("silver", f"{paths.silver}/*.parquet"),
    ):
        try:
            rel = f"(SELECT {cols} FROM read_parquet('{glob}', hive_partitioning = false))"
            missing = con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM produced EXCEPT ALL SELECT * FROM {rel})"
            ).fetchone()[0]
            extra = con.execute(
                f"SELECT count(*) FROM (SELECT * FROM {rel} EXCEPT ALL SELECT {cols} FROM produced)"
            ).fetchone()[0]
        except duckdb.Error as e:
            errors.append(f"{label} {layer}: unreadable ({e})")
            continue
        if missing or extra:
            errors.append(f"{label} {layer}: {missing} produced rows missing, {extra} unexpected rows")
    if os.path.isdir(paths.quarantine) and any(
        f.endswith(".json") and os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(paths.quarantine)
        for f in fs
    ):
        errors.append(f"{label}: quarantine is not empty")
    return errors


def _progress_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _batch_spans(tracer, listener: BatchListener, names: dict[str, str], phases: list) -> None:
    """Rebuild micro-batch spans from the listener: one span per batch,
    with its durationMs phases as sequential children. A batch span's
    parent is the innermost harness span (warm-up, latency phase,
    publisher or drain phase) whose interval holds its trigger time, so
    batch time is not also counted as the harness's own. The sink phase
    (addBatch) belongs to ``sources`` for bronze (file sink) and to
    ``operators`` for silver (the DQ gate and its writes)."""
    for b in listener.batches:
        q = names.get(b["query"])
        if q is None:
            continue
        t0 = _progress_epoch(b["timestamp"])
        d = b["duration_ms"]
        parent = min(
            (p for p in phases if p.t0 <= t0 <= p.t1), key=lambda p: p.t1 - p.t0, default=None
        )
        top = tracer.add_span(
            f"streaming.batch.{q}", "streaming", t0, t0 + d.get("triggerExecution", 0) / 1000,
            parent.id if parent else None, {"rows": b["rows"], "batch_id": b["batch_id"]},
        )
        at = t0
        for k in DURATION_KEYS:
            if k not in d:
                continue
            layer = "streaming"
            if k == "addBatch":
                layer = "sources" if q == "bronze" else "operators"
            tracer.add_span(f"streaming.{k}.{q}", layer, at, at + d[k] / 1000, top.id)
            at += d[k] / 1000


def run(ctx: Ctx) -> dict:
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.entities import load_customers

    tr = ctx.tracer
    n_live = max(8, int(ctx.seconds / INTERVAL_S))
    t = time.perf_counter()
    with tr.span("gen.render", "bench"):
        live_chunks, live_orders = render_order_chunks(
            ctx.seed, ctx.dir("staging"), n_live, ROWS_PER_CHUNK, 1, "live"
        )
        drain_chunks, drain_orders = render_order_chunks(
            ctx.seed, ctx.dir("drain_topic"), DRAIN_FILES, DRAIN_ROWS_PER_FILE,
            10_000_000, "drain",
        )
        warm_chunks, warm_orders = render_order_chunks(
            ctx.seed, ctx.dir("staging"), 2, ROWS_PER_CHUNK, 20_000_000, "warm"
        )
    render_s = time.perf_counter() - t

    def load(spark):
        with tr.span("sources.load_customers", "sources"):
            customers = load_customers(spark, ctx.data_dir)
        return customers

    customers, setup_times, load_s = repeated_setup(ctx, load)
    spark = customers.sparkSession

    listener = None
    if tr.enabled:
        listener = BatchListener()
        spark.streams.addListener(listener)

    # warm-up: start the live pipeline and land two chunks through it
    topic = ctx.dir("topic")
    live_paths, live_ck = _paths(ctx.path("live")), ctx.path("live_ck")
    t = time.perf_counter()
    with tr.span("bench.warmup", "bench"):
        with tr.span("plans.run_medallion_stream", "plans"):
            bronze_q, silver_q = _start(spark, topic, customers, live_paths, live_ck, drain=False)
        _wait_ready((bronze_q, silver_q))
        for src in warm_chunks:
            os.rename(src, os.path.join(topic, os.path.basename(src)))
        warm_landed = _wait_landed(live_ck, [os.path.basename(p) for p in warm_chunks],
                                   LAND_TIMEOUT_S)
    warmup_s = time.perf_counter() - t

    # ---- latency phase (open loop) ----------------------------------
    names = [os.path.basename(p) for p in live_chunks]
    with tr.span("bench.latency_phase", "bench", stages=True) as phase:
        start = time.time() + 0.05
        due = [start + i * INTERVAL_S for i in range(n_live)]
        late = []
        with tr.span("bench.publish", "bench"):
            for i, src in enumerate(live_chunks):
                wait = due[i] - time.time()
                if wait > 0:
                    time.sleep(wait)
                os.rename(src, os.path.join(topic, names[i]))
                late.append(time.time() - due[i])
        landed = _wait_landed(live_ck, names, LAND_TIMEOUT_S)
        bronze_q.stop()
        silver_q.stop()
    failed = 0
    errors: list[str] = []
    if len(warm_landed) < len(warm_chunks):
        errors.append("warm-up chunks never landed")
        failed += 1
    if len(landed) < n_live:
        errors.append(f"{n_live - len(landed)} of {n_live} chunks never landed")
        failed += n_live - len(landed)
    latencies = [landed[n] - due[i] for i, n in enumerate(names) if n in landed]

    # ---- drain phase -------------------------------------------------
    drain_topic = ctx.path("drain_topic")
    drain_paths, drain_ck = _paths(ctx.path("drain")), ctx.path("drain_ck")
    drain_rows = len(drain_orders)
    with tr.span("bench.drain_phase", "bench", stages=True) as dphase:
        t0 = time.time()
        with tr.span("plans.run_medallion_stream", "plans"):
            dq = _start(spark, drain_topic, customers, drain_paths, drain_ck, drain=True)
        deadline = t0 + 1.5 * LAND_TIMEOUT_S
        for q in dq:
            q.awaitTermination(max(1.0, deadline - time.time()))
        drain_s = time.time() - t0
    # step 0 also pays starting the two queries; the p50 is over the rest
    steps = _drain_steps(drain_ck, t0)[1:]
    if not steps or any(q.isActive or q.exception() is not None for q in dq):
        errors.append("drain did not complete: " + "; ".join(
            str(q.exception()) for q in dq if q.exception() is not None)[:2000])
        failed += 1
        steps = steps or [drain_s]

    # ---- output checks (outside the timed region) --------------------
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{ctx.path('duckdb_tmp')}'")
    with tr.span("bench.check", "bench"):
        live_df = pd.DataFrame(warm_orders + live_orders)
        live_df["order_date"] = pd.to_datetime(live_df["order_date"]).dt.date
        drain_df = pd.DataFrame(drain_orders)
        drain_df["order_date"] = pd.to_datetime(drain_df["order_date"]).dt.date
        for label, df, paths in (("live", live_df, live_paths), ("drain", drain_df, drain_paths)):
            errs = _check(con, df, paths, label)
            errors += errs
            failed += len(errs)
    con.close()

    attempted = n_live + len(steps)
    ctx.metric("land_latency_p50_s", p50(latencies), "s")
    tl = tail(latencies)
    ctx.metric("land_latency_tail_s", tl["value"], "s", pct=tl["pct"], n=tl["n"])
    ctx.metric("drain_rows_per_s", drain_rows / drain_s, "1/s", rows=drain_rows)
    ctx.metric("gen.late_p99_s", sorted(late)[int(0.99 * (len(late) - 1))], "s")
    ctx.metric("gen.render_s", render_s, "s")

    per_layer: dict = {}
    detail: dict = {}
    if tr.enabled:
        per_layer, detail = _per_layer(
            ctx, listener, {bronze_q.id: "bronze", silver_q.id: "silver"},
            {dq[0].id: "bronze", dq[1].id: "silver"}, phase, dphase,
            live_ck, live_paths, late, drain_rows / drain_s,
        )
        spark.streams.removeListener(listener)
    per_layer["gen.render_s"] = render_s
    per_layer["gen.late_p99_share"] = ctx.report["gen.late_p99_s"]["value"] / INTERVAL_S
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "setup_times": setup_times,
        "load_s": load_s,
        "warmup_s": warmup_s,
        "light": latencies,
        "light_p50": p50(latencies),
        "light_name": "chunk landing latency (open loop, 2,000 orders/s)",
        "heavy_p50": p50(steps),
        "heavy_name": f"drain step ({DRAIN_FILES_PER_TRIGGER * DRAIN_ROWS_PER_FILE} orders)",
        "per_layer": per_layer,
        "detail": detail,
    }


def _drain_steps(ck_root: str, t0: float) -> list[float]:
    """Per drain batch k: landing time of batch k in both queries minus
    that of batch k-1 (the start for k = 0)."""
    commits = [_batch_log(os.path.join(ck_root, q))[1] for q in ("bronze", "silver")]
    ids = sorted(set(commits[0]) & set(commits[1]))
    steps, prev = [], t0
    for b in ids:
        at = max(commits[0][b], commits[1][b])
        steps.append(at - prev)
        prev = at
    return steps


def _per_layer(ctx, listener, live_names, drain_names, phase, dphase,
               live_ck, live_paths, late, drain_rate) -> tuple[dict, dict]:
    tr = ctx.tracer
    t_phase = next(s.t0 for s in tr.spans if s.name == "bench.latency_phase")
    live = [b for b in listener.batches if b["query"] in live_names
            and _progress_epoch(b["timestamp"]) >= t_phase]
    phases = [s for s in tr.spans
              if s.name in ("bench.warmup", "bench.latency_phase", "bench.publish",
                            "bench.drain_phase")]
    _batch_spans(tr, listener, {**live_names, **drain_names}, phases)
    nonempty = [b for b in live if b["rows"] > 0]
    trig = sum(b["duration_ms"].get("triggerExecution", 0) for b in live) or 1
    share = {
        k: sum(b["duration_ms"].get(k, 0) for b in live) / trig for k in DURATION_KEYS
    }
    files = {}
    for q in ("bronze", "silver"):
        f, _ = _batch_log(os.path.join(live_ck, q))
        for name, b in f.items():
            files.setdefault((q, b), 0)
            files[(q, b)] += 1
    written = {**dir_files(live_paths.bronze), **{
        f"silver/{k}": v for k, v in dir_files(live_paths.silver).items()
    }}
    written = {k: v for k, v in written.items() if "_spark_metadata" not in k}
    n_batches = max(1, len(nonempty))
    c = phase.counts
    per_layer = {
        "streaming.batches": len(nonempty),
        "streaming.rows_per_batch": sum(b["rows"] for b in nonempty) / n_batches,
        "streaming.jobs_per_batch": c.get("jobs", 0) / n_batches,
        "streaming.backlog_chunks_max": max(files.values()) if files else 0,
        "streaming.empty_batch_share": 1 - len(nonempty) / max(1, len(live)),
        "streaming.latest_offset_share": share["latestOffset"],
        "streaming.get_batch_share": share["getBatch"],
        "streaming.query_planning_share": share["queryPlanning"],
        "streaming.add_batch_share": share["addBatch"],
        "streaming.wal_commit_share": share["walCommit"],
        "streaming.commit_offsets_share": share["commitOffsets"],
        "streaming.drain_rows_per_s_1core": drain_rate / ctx.cpus,
        "sources.bytes_written": sum(written.values()) / n_batches,
        "sources.files_written": len(written) / n_batches,
    }
    both = {k: c.get(k, 0) + dphase.counts.get(k, 0) for k in {*c, *dphase.counts}}
    per_layer.update(spark_totals(both, (phase.t1 - phase.t0) + (dphase.t1 - dphase.t0), ctx.cpus))
    p50_ms = {
        f"streaming.{k}_ms.{q}": p50([b["duration_ms"].get(k, 0) for b in nonempty if live_names[b["query"]] == q] or [0])
        for k in DURATION_KEYS
        for q in ("bronze", "silver")
    }
    detail = {"live_batch_p50_ms": p50_ms, "late_s": late}
    return per_layer, detail
