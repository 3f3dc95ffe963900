"""Catalog registration + file inventory operators (SURVEY §2.1 S15/S17)."""

import pyspark.sql.functions as F

from dea05_e2e_kafka_streaming_pipeline_spark.sources.catalog import (
    file_inventory,
    register_table,
)
from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

from tests.conftest import SF_SMOKE


def test_register_table_roundtrip(spark, tmp_path):
    df = load_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_tbl")
    df.write.mode("overwrite").parquet(path)
    register_table(spark, "lake", "orders_t", path)
    back = spark.table("lake.orders_t")
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)
    assert ("lake", "orders_t") in [
        (t.namespace[0] if t.namespace else "", t.name)
        for t in spark.catalog.listTables("lake")
    ]


def test_file_inventory_counts(spark, tmp_path):
    df = load_table(spark, SF_SMOKE, "orders")
    # write 4 files so the inventory has something to enumerate
    df.repartition(4).write.mode("overwrite").parquet(str(tmp_path / "multi"))
    inv = file_inventory(spark.read.parquet(str(tmp_path / "multi"))).collect()
    assert len(inv) == 4
    assert sum(r.n_rows for r in inv) == df.count()
    assert all(r.file.endswith(".parquet") for r in inv)
    # byte sizes from _metadata.file_size match the filesystem exactly
    # (reference sums object sizes, curated/crawler.py:72-84)
    import os

    for r in inv:
        local = r.file.removeprefix("file://").removeprefix("file:")
        assert r.size_bytes == os.path.getsize(local)


def test_file_inventory_on_testdata(spark):
    inv = file_inventory(load_table(spark, SF_SMOKE, "lineitem")).collect()
    assert len(inv) >= 1
    assert all(r.size_bytes > 0 for r in inv)


def test_file_inventory_fallback_without_scan(spark):
    """On a non-file-backed DataFrame the _metadata column is
    unresolvable; the inventory degrades to counts-only (empty file
    name, NULL size) rather than failing."""
    df = spark.createDataFrame([(1,), (2,), (3,)], "x int")
    inv = file_inventory(df).collect()
    assert len(inv) == 1
    assert inv[0].size_bytes is None
    assert inv[0].n_rows == 3


def test_jar_gated_paths_raise_cleanly(spark, tmp_path):
    """Delta needs a jar absent from the vanilla-Spark test session; the
    registry must surface an actionable error, not a raw JVM stack
    trace."""
    import pytest

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import (
        read_delta,
    )

    with pytest.raises(RuntimeError, match="delta"):
        read_delta(spark, str(tmp_path / "nope_delta"))


def test_read_avro_falls_back_to_avro_lite(spark, tmp_path):
    """Without the spark-avro jar, read_avro reads through the jar-less
    format("avro_lite") source; a failure that is not "source missing"
    (here: no such path) still raises."""
    import pytest

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import (
        read_avro,
    )

    df = load_table(spark, SF_SMOKE, "orders").limit(20)
    out = str(tmp_path / "orders_avro")
    df.write.format("avro_lite").mode("overwrite").save(out)
    back = read_avro(spark, out)
    assert back.schema == spark.read.format("avro_lite").load(out).schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    with pytest.raises(Exception, match="no container files"):
        read_avro(spark, str(tmp_path / "nope.avro"))


def test_write_delta_jar_gated(spark, tmp_path):
    """S12: the Delta sink exists and surfaces the actionable jar error
    in this vanilla-Spark container (a Delta-enabled session would write;
    the writer builds overwrite + overwriteSchema + partitionBy exactly
    as reference mage-programs/orders_delta_lake.py:53)."""
    import pytest

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.sinks import write_delta

    df = load_table(spark, SF_SMOKE, "orders")
    with pytest.raises(RuntimeError, match="delta-spark"):
        write_delta(df, str(tmp_path / "delta_tbl"), partition_by=["o_orderdate"])


def test_medallion_delta_flavor_jar_gated(spark, tmp_path):
    import pytest

    from dea05_e2e_kafka_streaming_pipeline_spark.plans.medallion import (
        MedallionPaths,
        run_medallion_batch,
    )

    orders = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderdate").alias("order_date"),
        F.col("o_totalprice").alias("order_amount"),
        F.col("o_custkey").alias("customer_id"),
    )
    customers = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("customer_id")
    )
    paths = MedallionPaths(
        bronze=str(tmp_path / "bronze"),
        silver=str(tmp_path / "silver"),
        quarantine=str(tmp_path / "quarantine"),
        gold_daily_sales=str(tmp_path / "gold/daily"),
        gold_clv=str(tmp_path / "gold/clv"),
    )
    with pytest.raises(RuntimeError, match="delta-spark"):
        run_medallion_batch(spark, orders, customers, paths, fmt="delta")
    with pytest.raises(ValueError, match="unsupported medallion format"):
        run_medallion_batch(spark, orders, customers, paths, fmt="orc")


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "frag")
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    events.repartition(40).write.parquet(src)
    n_before = len(list((tmp_path / "frag").glob("part-*")))
    assert n_before == 40

    out = str(tmp_path / "compacted")
    n_planned = compact_parquet(spark, src, out, target_file_bytes=64 * 1024 * 1024)
    n_after = len(list((tmp_path / "compacted").glob("part-*")))
    assert n_planned == n_after < n_before
    # content survives the rewrite byte-for-byte (row multiset)
    a = spark.read.parquet(src)
    b = spark.read.parquet(out)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_compact_parquet_partitioned_layout(spark, tmp_path):
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.sinks import compact_parquet

    df = spark.range(1000).selectExpr("id", "cast(id % 3 as string) part")
    src = str(tmp_path / "p_frag")
    df.repartition(20).write.partitionBy("part").parquet(src)

    out = str(tmp_path / "p_compacted")
    compact_parquet(
        spark, src, out, target_file_bytes=64 * 1024 * 1024, partition_by=["part"]
    )
    dirs = sorted(d.name for d in (tmp_path / "p_compacted").glob("part=*"))
    assert dirs == ["part=0", "part=1", "part=2"]
    a = spark.read.parquet(src)
    b = spark.read.parquet(out)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_read_parquet_evolved_across_generations(spark, tmp_path):
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import (
        read_parquet_evolved,
    )

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(path)

    df = read_parquet_evolved(spark, path)
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r.id: r for r in df.collect()}
    assert rows[1].score is None  # old generation: NULL for the new column
    assert rows[2].score == 9.5


def test_rowgroup_stats_multi_file_matches_footers(spark, tmp_path):
    """Footer zone-map collection over a MULTI-file dataset: every
    (file, column) stat row matches what pyarrow reads directly, and
    the min/max ranges partition cleanly when the write was
    range-clustered on the stat column."""
    import pyarrow.parquet as pq

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.catalog import (
        rowgroup_stats,
    )

    path = str(tmp_path / "clustered")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    orders.repartitionByRange(4, "o_orderkey").write.mode("overwrite").parquet(path)

    stats = rowgroup_stats(spark, path, ["o_orderkey"]).collect()
    # one stats row per (file, row-group) for the single column
    import glob
    import os

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) == 4
    assert {r.file_name for r in stats} == {os.path.basename(f) for f in files}
    for r in stats:
        md = pq.ParquetFile(os.path.join(path, r.file_name)).metadata
        idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
        st = md.row_group(r.row_group).column(idx["o_orderkey"]).statistics
        assert r.min_value == str(st.min) and r.max_value == str(st.max)
        assert r.null_count == st.null_count
    # range clustering -> non-overlapping [min, max] intervals across files
    spans = sorted((int(r.min_value), int(r.max_value)) for r in stats)
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi < b_lo


def test_delete_keys_rewrite_touches_only_affected_files(spark, tmp_path):
    """GDPR targeted delete: only files containing affected keys are
    rewritten; untouched files keep their identity (same path), all
    non-deleted rows survive, deleted keys are gone."""
    import glob
    import os

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.sinks import (
        delete_keys_rewrite,
    )

    path = str(tmp_path / "users")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    # range-cluster so the victim keys live in ONE file
    orders.repartitionByRange(4, "o_custkey").write.parquet(path)
    before = set(glob.glob(f"{path}/part-*.parquet"))
    total_before = spark.read.parquet(path).count()

    victims = [0, 1, 2]
    stats = delete_keys_rewrite(spark, path, "o_custkey", victims)
    assert stats["files_rewritten"] == 1
    assert stats["rows_deleted"] > 0

    after_df = spark.read.parquet(path)
    assert after_df.filter(F.col("o_custkey").isin(victims)).count() == 0
    assert after_df.count() == total_before - stats["rows_deleted"]
    # the three untouched range files are byte-identical survivors
    after = set(glob.glob(f"{path}/part-*.parquet"))
    assert len(before & after) == 3
    assert all(os.path.exists(f) for f in before & after)
    # idempotent second pass: nothing left to rewrite
    again = delete_keys_rewrite(spark, path, "o_custkey", victims)
    assert again["files_rewritten"] == 0 and again["rows_deleted"] == 0


def test_write_parquet_zstd_codec(spark, tmp_path):
    """Per-table codec override: zstd files are readable and smaller
    than snappy for this data."""
    import glob
    import os

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.sinks import (
        write_parquet_partitioned,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").coalesce(1)
    a, b = str(tmp_path / "snappy"), str(tmp_path / "zstd")
    write_parquet_partitioned(orders, a, compression="snappy")
    write_parquet_partitioned(orders, b, compression="zstd")
    assert spark.read.parquet(b).count() == orders.count()
    size = lambda p: sum(os.path.getsize(f) for f in glob.glob(f"{p}/*.parquet"))
    assert size(b) < size(a)


def test_mor_deletes_and_cow_compaction_agree(spark, tmp_path):
    """Merge-on-read markers hide rows immediately with zero rewrites;
    applying them via the CoW rewrite then clearing the sidecar yields
    the same table with clean reads."""
    import shutil

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.sinks import (
        delete_keys_rewrite,
        mark_deleted,
        read_with_deletes,
    )

    path = str(tmp_path / "t")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    orders.repartitionByRange(4, "o_custkey").write.parquet(path)
    victims = [0, 1, 2]

    mark_deleted(spark, path, "o_custkey", victims)
    mor = read_with_deletes(spark, path, "o_custkey")
    assert mor.filter(F.col("o_custkey").isin(victims)).count() == 0
    want = mor.count()
    # raw read still has the rows (no rewrite happened)
    assert spark.read.parquet(path).where(
        ~F.col("o_custkey").isin(victims) | F.col("o_custkey").isin(victims)
    ).count() > want

    # compaction: apply markers CoW, clear sidecar
    delete_keys_rewrite(spark, path, "o_custkey", victims)
    shutil.rmtree(f"{path}/_deletes")
    clean = read_with_deletes(spark, path, "o_custkey")
    assert clean.count() == want
    assert clean.filter(F.col("o_custkey").isin(victims)).count() == 0


def test_analyze_table_feeds_catalog_stats(spark, tmp_path):
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS populates the
    catalog row count and per-column NDV/min/max — the stats surface a
    cost-based optimizer (and human capacity planning) consumes; at
    100 TB these come from the same command scheduled post-ingest."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    orders.write.mode("overwrite").saveAsTable("stats_orders")
    try:
        spark.sql(
            "ANALYZE TABLE stats_orders COMPUTE STATISTICS "
            "FOR COLUMNS o_orderkey, o_totalprice"
        )
        row = spark.sql("DESCRIBE TABLE EXTENDED stats_orders").collect()
        stats = {r.col_name: r.data_type for r in row}
        assert "Statistics" in stats and "rows" in stats["Statistics"]
        col = spark.sql(
            "DESCRIBE EXTENDED stats_orders o_orderkey"
        ).collect()
        info = {r.info_name: r.info_value for r in col}
        assert int(info["distinct_count"]) > 0
        assert info["min"] == "0"
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_orders")


def test_retention_sweep_drops_expired_partitions(spark, tmp_path):
    """TTL via partition drops: expired date partitions vanish without
    touching surviving data; the table stays readable."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.sinks import (
        drop_partitions_older_than,
    )

    path = str(tmp_path / "lake")
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").withColumn(
        "date", F.date_format("ts", "yyyy-MM-dd")
    )
    events.write.partitionBy("date").parquet(path)
    total = events.count()
    expired = events.filter(F.col("date") < "2024-01-10").count()
    assert 0 < expired < total

    dropped = drop_partitions_older_than(path, "date", "2024-01-10")
    assert all(d < "2024-01-10" for d in dropped) and dropped
    kept = spark.read.parquet(path)
    assert kept.count() == total - expired
    # partition values read back type-inferred (date); compare as string
    assert str(kept.agg(F.min("date")).collect()[0][0]) >= "2024-01-10"
    # idempotent
    assert drop_partitions_older_than(path, "date", "2024-01-10") == []


def test_pruned_scan_skips_files_and_preserves_results(spark, tmp_path):
    """On a range-clustered layout a narrow predicate must keep a
    minority of files, and the pruned scan must return exactly the rows
    of the full scan + filter (pruning is an I/O optimization, never a
    semantics change)."""
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.catalog import (
        pruned_parquet_scan,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.entities import (
        load_orders,
    )

    out = str(tmp_path / "orders_ranged")
    orders = load_orders(spark, "/root/testdata/sf0.001")
    # range-clustered on the skip column: 8 files, each a tight slice
    orders.repartitionByRange(8, "order_amount").write.parquet(out)

    df, kept, all_files = pruned_parquet_scan(
        spark, out, "order_amount", lo=10_000.0, hi=40_000.0
    )
    assert len(all_files) == 8
    assert 0 < len(kept) <= 3  # narrow slice of a ranged layout
    want = sorted(
        map(
            tuple,
            orders.filter(F.col("order_amount").between(10_000.0, 40_000.0))
            .collect(),
        )
    )
    got = sorted(map(tuple, df.select(*orders.columns).collect()))
    assert got == want


def test_pruned_scan_empty_range_keeps_schema(spark, tmp_path):
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.catalog import (
        pruned_parquet_scan,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.entities import (
        load_orders,
    )

    out = str(tmp_path / "orders_ranged2")
    orders = load_orders(spark, "/root/testdata/sf0.001")
    orders.repartitionByRange(4, "order_amount").write.parquet(out)
    df, kept, _ = pruned_parquet_scan(
        spark, out, "order_amount", lo=1e12, hi=2e12
    )
    assert kept == []
    assert df.count() == 0
    assert sorted(df.columns) == sorted(orders.columns)


def test_lenient_read_skips_corrupt_file(spark, tmp_path):
    """A garbage .parquet object fails the strict scan but is skipped
    by read_parquet_lenient; the good rows all survive."""
    import pytest as _pytest

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import (
        read_parquet,
        read_parquet_lenient,
    )

    out = str(tmp_path / "damaged")
    spark.range(100).write.parquet(out)
    (tmp_path / "damaged" / "part-junk.parquet").write_bytes(b"not parquet at all")
    with _pytest.raises(Exception):
        read_parquet(spark, out).count()
    assert read_parquet_lenient(spark, out).count() == 100


def test_small_files_report_diagnoses_and_heals(spark, tmp_path):
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.catalog import (
        small_files_report,
    )

    out = str(tmp_path / "shattered")
    spark.range(10_000).repartition(64).write.parquet(out)
    rep = small_files_report(spark, out, target_bytes=1024 * 1024)
    assert rep["n_files"] >= 64
    assert rep["small_file_fraction"] > 0.9
    assert rep["ideal_file_count"] < rep["n_files"]
    assert rep["advice"].startswith("compact")

    healthy = str(tmp_path / "compacted")
    spark.read.parquet(out).coalesce(1).write.parquet(healthy)
    rep2 = small_files_report(spark, healthy, target_bytes=1024 * 1024)
    assert rep2["advice"] == "layout healthy"
