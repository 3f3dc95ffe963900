"""Workload ``lake_queries``: registry queries over the sf0.1 lake, two
classes, one client in a closed loop. Exercises the read side —
``queries``, ``plans``, ``operators`` and the ``sources`` readers — and
never touches ``streaming``.

- gold (light operation): relational gold-layer and DQ-report queries
  (``plans.gold``, ``operators.quality``).
- curation (heavy operation): LLM-data-curation queries
  (``operators.text``).

An optimisation to one class shows in that class; the other class
predicts no change.

After set-up one warm-up pass runs every query once and collects its
result; those results are hash-checked against the query's registry
DuckDB oracle with the comparison rule ``selfcheck.py`` uses (outside
the timed region). The measured phase then runs seeded shuffled passes
in which every query runs once. A class's value is the geometric mean
over its queries of each query's median time, so every query weighs the
same whatever the number of passes. Each measured result is forced
through the ``noop`` sink so every column is computed (a ``count()``
would let Catalyst prune columns). An operation's time covers building
the DataFrame (including any eager jobs inside the build and Catalyst
planning) and executing it.
"""

from __future__ import annotations

import statistics
import time

import duckdb

from common import Ctx, p50, repeated_setup, spark_totals, tail
from gen import query_schedule

GOLD = ["daily_sales_by_region", "dq_customers_report"]
CURATION = ["bm25_topk_docs"]
PASS_S = 3.0  # one pass over GOLD + CURATION takes about 3 s on 4 cores
MIN_PASSES = 5
TABLES_READ = ("orders", "customer", "nation", "region", "documents")


def run(ctx: Ctx) -> dict:
    import selfcheck
    from dea05_e2e_kafka_streaming_pipeline_spark import queries as registry
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    tr = ctx.tracer
    names = GOLD + CURATION
    klass = {**dict.fromkeys(GOLD, "gold"), **dict.fromkeys(CURATION, "curation")}
    t = time.perf_counter()
    with tr.span("gen.render", "bench"):
        schedule = query_schedule(
            ctx.seed, names, max(MIN_PASSES, round(ctx.seconds / PASS_S))
        )
    render_s = time.perf_counter() - t

    def load(spark):
        with tr.span("queries.registry", "queries"):
            qs = registry.queries()
        with tr.span("sources.load_tables", "sources"):
            for name in TABLES_READ:
                load_table(spark, ctx.data_dir, name)
        return spark, qs

    (spark, qs), setup_times, load_s = repeated_setup(ctx, load)

    # warm-up pass: every query once, results kept for the output check
    results, warm = {}, {}
    t = time.perf_counter()
    with tr.span("bench.warmup", "bench"):
        for name in names:
            t0 = time.perf_counter()
            with tr.span(f"queries.warmup.{name}", "queries"):
                results[name] = qs[name](spark, ctx.data_dir).toPandas()
            warm[name] = time.perf_counter() - t0
    warmup_s = time.perf_counter() - t

    times: dict[str, list[float]] = {"gold": [], "curation": []}
    per_query: dict[str, list[float]] = {name: [] for name in names}
    plan: dict[str, float] = {"gold": 0.0, "curation": 0.0}
    with tr.span("bench.query_phase", "bench", stages=True) as phase:
        for name in schedule:
            cls = klass[name]
            t0 = time.perf_counter()
            with tr.span(f"queries.{cls}.{name}", "queries", stages=True):
                with tr.span(f"plans.build.{name}", "plans"):
                    df = qs[name](spark, ctx.data_dir)
                    df._jdf.queryExecution().executedPlan()
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            times[cls].append(time.perf_counter() - t0)
            per_query[name].append(times[cls][-1])
            plan[cls] += t1 - t0

    # ---- output check: hash-match each result against its oracle ------
    errors: list[str] = []
    with tr.span("bench.check", "bench"):
        oracles = registry.oracles()
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{ctx.dir('duckdb_tmp')}'")
        for t_name in selfcheck.TABLES:
            con.execute(
                f"CREATE VIEW {t_name} AS SELECT * FROM read_parquet('{ctx.data_dir}/{t_name}.parquet')"
            )
        for name, got in results.items():
            want = con.execute(selfcheck._retarget_oracle(oracles[name], ctx.data_dir)).df()
            if sorted(got.columns) != sorted(want.columns):
                errors.append(f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}")
            elif len(got) != len(want):
                errors.append(f"{name}: {len(got)} rows, oracle {len(want)}")
            elif selfcheck._value_hash(got) != selfcheck._value_hash(want):
                errors.append(f"{name}: value hash differs from oracle")
        con.close()
    bad = {e.split(":")[0] for e in errors}
    failed = sum(1 for n in schedule if n in bad)

    value = {}
    for cls, members in (("gold", GOLD), ("curation", CURATION)):
        by_query = {n: p50(per_query[n]) for n in members}
        value[cls] = statistics.geometric_mean(by_query.values())
        tl = tail(times[cls])
        ctx.metric(f"{cls}_query_p50_s", value[cls], "s", n=len(times[cls]), by_query=by_query,
                   samples={n: per_query[n] for n in members},
                   warmup={n: warm[n] for n in members})
        ctx.metric(f"{cls}_query_tail_s", tl["value"], "s", pct=tl["pct"], n=tl["n"])
    ctx.metric("gen.render_s", render_s, "s")

    per_layer: dict = {"gen.render_s": render_s}
    if tr.enabled:
        per_layer.update(_per_layer(ctx, phase, times, plan))
    return {
        "attempted": len(schedule),
        "failed": failed,
        "errors": errors,
        "setup_times": setup_times,
        "load_s": load_s,
        "warmup_s": warmup_s,
        "light": times["gold"],
        "light_p50": value["gold"],
        "light_name": f"gold query, geometric mean of per-query p50s ({', '.join(GOLD)})",
        "heavy_p50": value["curation"],
        "heavy_name": f"curation query, geometric mean of per-query p50s ({', '.join(CURATION)})",
        "per_layer": per_layer,
    }


def _per_layer(ctx, phase, times, plan) -> dict:
    tr = ctx.tracer
    out = {}
    spans = [s for s in tr.spans if s.name.split(".")[:2] in (["queries", "gold"], ["queries", "curation"])]
    for cls in ("gold", "curation"):
        mine = [s for s in spans if s.name.startswith(f"queries.{cls}.")]
        n = max(1, len(mine))
        wall = sum(s.t1 - s.t0 for s in mine) or 1.0

        def total(k, mine=mine):
            return sum(s.counts.get(k, 0) for s in mine)

        out[f"queries.{cls}.plan_share"] = plan[cls] / (sum(times[cls]) or 1.0)
        out[f"queries.{cls}.jobs"] = total("jobs") / n
        out[f"queries.{cls}.tasks"] = total("tasks") / n
        out[f"queries.{cls}.shuffle_write_bytes"] = total("shuffle_write_bytes") / n
        out[f"queries.{cls}.spill_bytes"] = total("spill_bytes") / n
        out[f"queries.{cls}.busy_share"] = total("executor_run_ms") / 1000 / (wall * ctx.cpus)
    n = max(1, len(spans))
    out["sources.scan_bytes"] = sum(s.counts.get("input_bytes", 0) for s in spans) / n
    out["sources.scan_records"] = sum(s.counts.get("input_records", 0) for s in spans) / n
    phase_wall = sum(s.t1 - s.t0 for s in tr.spans if s.name == "bench.query_phase")
    out.update(spark_totals(phase.counts, phase_wall, ctx.cpus))
    return out
