"""Workload ``cdc_merge``: Debezium-style change batches merged into the
orders silver table through both public merge paths, with latest-state
reads beside the writes. Exercises ``operators.cdc``,
``streaming.pipeline.upsert_batch_into_parquet`` and ``sources`` (sinks,
readers, ``txlog``); bypasses the streaming runtime and the query
operators.

Set-up loads the sf0.1 ``orders`` table (150k rows) into both merge
targets: the bucketed parquet silver table (``bucket = pmod(xxhash64(
order_id), 64)``, the layout ``upsert_batch_into_parquet`` maintains)
and a ``txlog`` snapshot table.

Set-up ends with one untimed warm-up batch (10 changes) through both
paths and the reads, so the measured batches do not pay compiling the
merge and read paths; it is in the replay the output check compares
against.
Measured phase (closed loop, one client): seeded change batches applied
in order, alternating small (about 100 changes, a per-second CDC
micro-batch) and large (about 10,000, a catch-up after an outage). Each
batch goes through ``upsert_batch_into_parquet`` and then
``merge_into_snapshot``; after both, a latest-state read (a lookup of
the batch's keys plus one aggregate) runs against each target.

Heavy operation: one large batch merged through both paths (the small
batches are reported by name). Light operation: the latest-state read
of both targets after a merge.
"""

from __future__ import annotations

import json
import os
import time

import duckdb
import pyarrow.parquet as pq

from common import Ctx, dir_bytes, dir_files, p50, repeated_setup, spark_totals
from gen import cdc_batches

SMALL, LARGE = 100, 10_000
# the warm-up batch runs the same merge and read plans as a measured
# batch; it touches fewer buckets than SMALL, which keeps set-up short
WARMUP = 10
N_BUCKETS = 64
PAIR_S = 15.0  # approximate cost of one small + one large batch, 4 cores
KEY = "order_id"


def _bucket():
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col(KEY)), F.lit(N_BUCKETS)).cast("int")


def _rows(path: str, files: list[str]) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in files
        if f.endswith(".parquet")
    )


def run(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.entities import load_orders
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.sinks import (
        write_parquet_partitioned,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.txlog import (
        commit_snapshot,
        merge_into_snapshot,
        read_snapshot,
        snapshot_versions,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        upsert_batch_into_parquet,
    )

    tr = ctx.tracer
    n_pairs = max(1, round(ctx.seconds / PAIR_S))
    sizes = [WARMUP] + [SMALL, LARGE] * n_pairs
    t = time.perf_counter()
    with tr.span("gen.render", "bench"):
        n_keys = pq.ParquetFile(os.path.join(ctx.data_dir, "orders.parquet")).metadata.num_rows
        batches = cdc_batches(ctx.seed, sizes, n_keys, ctx.dir("changes"))
    render_s = time.perf_counter() - t

    def load(spark):
        pq_dir, tx_dir = ctx.path("silver_pq"), ctx.path("silver_tx")
        with tr.span("sources.load_orders", "sources"):
            orders = load_orders(spark, ctx.data_dir)
            write_parquet_partitioned(
                orders.withColumn("bucket", _bucket()), pq_dir, ["bucket"]
            )
        with tr.span("sources.txlog.commit_snapshot", "sources"):
            commit_snapshot(orders, tx_dir, mode="overwrite")
        return spark, pq_dir, tx_dir

    (spark, pq_dir, tx_dir), setup_times, load_s = repeated_setup(ctx, load)

    def read_latest(kind: str, keys) -> None:
        with tr.span(f"sources.read_latest.{kind}", "sources", stages=True):
            df = spark.read.parquet(pq_dir) if kind == "pq" else read_snapshot(spark, tx_dir)
            df.join(keys, KEY, "left_semi").select(KEY, "order_amount").collect()
            df.agg(F.count(F.lit(1)), F.sum("order_amount")).collect()

    def apply(path: str) -> dict:
        """One batch through both merge paths, then the latest-state
        reads; returns timings and what each path wrote."""
        batch = spark.read.parquet(path)
        keys = batch.select(KEY).distinct()
        before_pq = dir_files(pq_dir)
        t0 = time.perf_counter()
        with tr.span("streaming.upsert_batch_into_parquet", "streaming", stages=True) as s:
            upsert_batch_into_parquet(batch, pq_dir, KEY, seq_col="seq", n_buckets=N_BUCKETS)
        t1 = time.perf_counter()
        before_tx = dir_files(tx_dir)
        with tr.span("sources.txlog.merge_into_snapshot", "sources", stages=True):
            merge_into_snapshot(spark, tx_dir, batch, KEY, seq_col="seq")
        t2 = time.perf_counter()
        read_latest("pq", keys)
        read_latest("tx", keys)
        t3 = time.perf_counter()
        after_pq, after_tx = dir_files(pq_dir), dir_files(tx_dir)
        return {
            "upsert": t1 - t0,
            "snapshot": t2 - t1,
            "read": t3 - t2,
            "new_pq": [k for k, v in after_pq.items() if before_pq.get(k) != v],
            "new_tx": [k for k, v in after_tx.items() if before_tx.get(k) != v],
            "upsert_jobs": s.counts.get("jobs", 0),
        }

    t = time.perf_counter()
    with tr.span("bench.warmup", "bench"):
        apply(batches[0][0])
    warmup_s = time.perf_counter() - t

    reads, large_merges = [], []
    per_path = {"upsert": [], "snapshot": []}
    write_bytes = {"upsert": 0, "snapshot": 0}
    payload = 0
    upsert_stats = {"buckets": 0, "jobs": 0, "rewritten": 0, "files": 0}
    tx_stats = {"rewritten": 0, "files": 0}
    changes_total = 0
    with tr.span("bench.merge_phase", "bench", stages=True) as phase:
        for path, n in batches[1:]:
            r = apply(path)
            payload += os.path.getsize(path)
            changes_total += n
            write_bytes["upsert"] += sum(os.path.getsize(os.path.join(pq_dir, f)) for f in r["new_pq"])
            write_bytes["snapshot"] += sum(os.path.getsize(os.path.join(tx_dir, f)) for f in r["new_tx"])
            if tr.enabled:
                upsert_stats["buckets"] += len({f.split("/")[0] for f in r["new_pq"]
                                                if f.startswith("bucket=")})
                upsert_stats["jobs"] += r["upsert_jobs"]
                upsert_stats["rewritten"] += _rows(pq_dir, r["new_pq"])
                upsert_stats["files"] += len(r["new_pq"])
                tx_stats["rewritten"] += _rows(tx_dir, r["new_tx"])
                tx_stats["files"] += len(r["new_tx"])
            per_path["upsert"].append((n, r["upsert"]))
            per_path["snapshot"].append((n, r["snapshot"]))
            if n == LARGE:
                large_merges.append(r["upsert"] + r["snapshot"])
            reads.append(r["read"])

    # ---- output checks: both targets equal a DuckDB replay of the log ----
    errors: list[str] = []
    failed = 0
    with tr.span("bench.check", "bench"):
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{ctx.dir('duckdb_tmp')}'")
        cols = "order_id, order_date, order_amount, customer_id"
        files = ", ".join(f"'{p}'" for p, _ in batches)
        con.execute(
            f"""CREATE TABLE expected AS
            WITH log AS (
                SELECT o_orderkey AS order_id, CAST(o_orderdate AS DATE) AS order_date,
                       o_totalprice AS order_amount, o_custkey AS customer_id,
                       'r' AS _cdc_op, -1 AS _cdc_ts_ms, 0 AS seq
                FROM read_parquet('{ctx.data_dir}/orders.parquet')
                UNION ALL
                SELECT {cols}, _cdc_op, _cdc_ts_ms, seq FROM read_parquet([{files}])
            ), ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY order_id
                    ORDER BY _cdc_ts_ms DESC, (_cdc_op = 'd') DESC, seq DESC) AS rn
                FROM log
            )
            SELECT {cols} FROM ranked WHERE rn = 1 AND _cdc_op <> 'd'"""
        )
        latest = snapshot_versions(tx_dir)[-1]
        with open(os.path.join(tx_dir, "_log", f"v{latest:06d}.json")) as f:
            tx_files = [os.path.join(tx_dir, p) for p in json.load(f)["files"]]
        targets = {
            "upsert_batch_into_parquet": f"read_parquet('{pq_dir}/*/*.parquet', hive_partitioning = false)",
            "merge_into_snapshot": "read_parquet([" + ", ".join(f"'{p}'" for p in tx_files) + "])",
        }
        for name, rel in targets.items():
            diff = con.execute(
                f"""SELECT
                  (SELECT count(*) FROM (SELECT {cols} FROM {rel} EXCEPT ALL SELECT * FROM expected)),
                  (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT {cols} FROM {rel}))"""
            ).fetchone()
            if diff != (0, 0):
                errors.append(f"{name}: {diff[0]} unexpected rows, {diff[1]} missing rows vs replay")
                failed += len(batches)
        con.close()

    small = [t for n, t in per_path["upsert"] if n == SMALL]
    large = [t for n, t in per_path["upsert"] if n == LARGE]
    ctx.metric("upsert_small_p50_s", p50(small), "s", n=len(small))
    ctx.metric("upsert_large_p50_s", p50(large), "s", n=len(large))
    small = [t for n, t in per_path["snapshot"] if n == SMALL]
    large = [t for n, t in per_path["snapshot"] if n == LARGE]
    ctx.metric("snapshot_merge_small_p50_s", p50(small), "s", n=len(small))
    ctx.metric("snapshot_merge_large_p50_s", p50(large), "s", n=len(large))
    ctx.metric("read_after_merge_p50_s", p50(reads), "s", n=len(reads))
    ctx.metric("write_amp", sum(write_bytes.values()) / (2 * payload), "ratio",
               upsert=write_bytes["upsert"] / payload, snapshot=write_bytes["snapshot"] / payload)
    pq_bytes, tx_bytes = dir_bytes(pq_dir), dir_bytes(tx_dir)
    tx_live = sum(os.path.getsize(p) for p in tx_files)
    ctx.metric("space_amp", (pq_bytes + tx_bytes) / (pq_bytes + tx_live), "ratio",
               snapshot=tx_bytes / tx_live)
    ctx.metric("gen.render_s", render_s, "s")

    per_layer: dict = {"gen.render_s": render_s}
    if tr.enabled:
        per_layer.update(_per_layer(ctx, phase, upsert_stats, tx_stats, changes_total,
                                    write_bytes, len(batches) - 1, tx_bytes))
    return {
        "attempted": 3 * len(batches),
        "failed": failed,
        "errors": errors,
        "setup_times": setup_times,
        "load_s": load_s,
        "warmup_s": warmup_s,
        "light": reads,
        "light_p50": p50(reads),
        "light_name": "latest-state read of both targets after a merge",
        "heavy_p50": p50(large_merges),
        "heavy_name": f"large change batch ({LARGE} changes) merged through both paths",
        "per_layer": per_layer,
    }


def _per_layer(ctx, phase, upsert_stats, tx_stats, changes, write_bytes, n_batches, tx_bytes):
    tr = ctx.tracer
    t_phase = next(s.t0 for s in tr.spans if s.name == "bench.merge_phase")
    measured = [s for s in tr.spans if s.t0 >= t_phase]
    wall = sum(s.t1 - s.t0 for s in measured if s.name == "bench.merge_phase") or 1.0

    def span_sum(name):
        return sum(s.t1 - s.t0 for s in measured if s.name == name)

    out = {
        "streaming.upsert_share": span_sum("streaming.upsert_batch_into_parquet") / wall,
        "streaming.upsert_buckets_touched": upsert_stats["buckets"] / n_batches,
        "streaming.upsert_jobs": upsert_stats["jobs"] / n_batches,
        "streaming.upsert_rewrite_ratio": upsert_stats["rewritten"] / changes,
        "sources.txlog.merge_share": span_sum("sources.txlog.merge_into_snapshot") / wall,
        "sources.txlog.read_share": span_sum("sources.read_latest.tx") / wall,
        "sources.txlog.rewrite_ratio": tx_stats["rewritten"] / changes,
        "sources.txlog.bytes_retained": tx_bytes,
        "sources.bytes_written": sum(write_bytes.values()) / (2 * n_batches),
        "sources.files_written": (upsert_stats["files"] + tx_stats["files"]) / (2 * n_batches),
    }
    reads = [s for s in measured if s.name.startswith("sources.read_latest.")]
    out["sources.scan_bytes"] = sum(s.counts.get("input_bytes", 0) for s in reads) / max(1, len(reads))
    out["sources.scan_records"] = sum(s.counts.get("input_records", 0) for s in reads) / max(1, len(reads))
    out.update(spark_totals(phase.counts, wall, ctx.cpus))
    return out
