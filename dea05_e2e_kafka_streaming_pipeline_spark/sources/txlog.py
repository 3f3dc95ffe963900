"""Versioned snapshot log over plain parquet — table-format-lite.

The reference's Delta features (S10/S18: snapshot isolation, history,
time travel — ``mage-programs/orders_delta_lake.py:61-63``,
``delta_metadata.py:114-116``) are jar-gated in this container; this
module reproduces the READ-side semantics those features actually give a
pipeline, on nothing but parquet + JSON manifests:

- a **snapshot** is a manifest file ``_log/v00000N.json`` listing the
  exact data files (with sizes) that version comprises;
- **committing** = writing new data files under unique names (never
  overwriting), then atomically publishing the next manifest
  (write-temp + rename — the same single-file atomic-publish trick
  Delta's ``_last_checkpoint`` uses);
- **reading as of version N** = scanning exactly the files in manifest
  N. Old versions stay readable until their files are vacuumed.

What this deliberately does NOT provide: multi-writer conflict
resolution (Delta's optimistic concurrency) — single-writer-per-table
is the contract, which matches the reference's job-per-table layout.

At 100 TB the manifest is metadata (one JSON row per file); scan
planning cost is the listing it replaces.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

_LOG_DIR = "_log"


def _log_path(table_path: str) -> str:
    return os.path.join(table_path, _LOG_DIR)


def snapshot_versions(table_path: str) -> list[int]:
    """Committed versions, ascending (empty if never committed)."""
    log = _log_path(table_path)
    if not os.path.isdir(log):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(log)
        if f.startswith("v") and f.endswith(".json")
    )


def _manifest(table_path: str, version: int) -> dict:
    with open(os.path.join(_log_path(table_path), f"v{version:06d}.json")) as f:
        return json.load(f)


def next_version(table_path: str) -> int:
    """The version the next commit will try to publish."""
    versions = snapshot_versions(table_path)
    return (versions[-1] + 1) if versions else 0


def resolve_version(table_path: str, version: int | None = None) -> int:
    """``version`` checked against the log (default: the latest)."""
    versions = snapshot_versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {table_path}")
    if version is None:
        return versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    return version


def snapshot_files(table_path: str, version: int) -> list[str]:
    """Full paths of the data files that make up ``version``."""
    return [
        os.path.join(table_path, f) for f in _manifest(table_path, version)["files"]
    ]


def publish_snapshot(
    table_path: str, version: int, mode: str, sizes: dict[str, int]
) -> None:
    """Publish manifest ``version`` over the new data files ``sizes``
    (table-relative path → bytes). Refuses a version that is already
    committed (single-writer contract); ``mode="append"`` carries the
    previous version's files forward. The manifest lands by write-temp
    + atomic rename, so readers see it whole or not at all."""
    versions = snapshot_versions(table_path)
    if versions and versions[-1] >= version:
        raise RuntimeError(
            f"txlog: version {version} already committed "
            "(concurrent writer?) — single-writer-per-table contract"
        )
    files = sorted(sizes)
    if mode == "append" and versions:
        files = _manifest(table_path, versions[-1])["files"] + files
    log = _log_path(table_path)
    os.makedirs(log, exist_ok=True)
    manifest = {"version": version, "mode": mode, "files": files, "sizes": sizes}
    tmp = os.path.join(log, f".v{version:06d}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, os.path.join(log, f"v{version:06d}.json"))


def commit_snapshot(df: DataFrame, table_path: str, mode: str = "append") -> int:
    """Write ``df`` as new uniquely-named data files and publish the
    next snapshot version. ``mode="append"``: the new version = previous
    version's files + the new files; ``mode="overwrite"``: the new
    version = only the new files (the OLD files stay on disk, so prior
    versions remain readable — logical overwrite, physical append).
    Returns the committed version number."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite: {mode!r}")
    version = next_version(table_path)
    data_rel = f"data-v{version:06d}"
    data_dir = os.path.join(table_path, data_rel)
    df.write.mode("error").parquet(data_dir)
    sizes = {
        os.path.join(data_rel, f): os.path.getsize(os.path.join(data_dir, f))
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    }
    publish_snapshot(table_path, version, mode, sizes)
    return version


def read_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Scan the table AS OF ``version`` (default: latest). Reads exactly
    the manifest's file list — concurrent later commits are invisible
    (snapshot isolation for readers)."""
    version = resolve_version(table_path, version)
    files = snapshot_files(table_path, version)
    if not files:
        raise ValueError(f"version {version} has no files")
    return spark.read.parquet(*files)


def snapshot_history(table_path: str) -> list[dict]:
    """History rows (version, mode, file count, byte total) — the
    jar-less answer to ``DeltaTable.history()``."""
    out = []
    for v in snapshot_versions(table_path):
        m = _manifest(table_path, v)
        out.append(
            {
                "version": v,
                "mode": m["mode"],
                "n_files": len(m["files"]),
                "added_bytes": sum(m.get("sizes", {}).values()),
            }
        )
    return out


def vacuum_snapshots(table_path: str, keep_last: int = 1) -> list[str]:
    """Retention for superseded versions: delete data files referenced
    ONLY by manifests older than the last ``keep_last`` versions, then
    drop those manifests. Time travel works up to the vacuum horizon —
    exactly Delta's VACUUM contract."""
    versions = snapshot_versions(table_path)
    if len(versions) <= keep_last:
        return []
    keep, drop = versions[-keep_last:], versions[:-keep_last]
    live: set[str] = set()
    for v in keep:
        live.update(_manifest(table_path, v)["files"])
    removed = []
    for v in drop:
        for f in _manifest(table_path, v)["files"]:
            if f not in live:
                p = os.path.join(table_path, f)
                if os.path.exists(p):
                    os.remove(p)
                    removed.append(f)
        os.remove(os.path.join(_log_path(table_path), f"v{v:06d}.json"))
    return sorted(set(removed))


def merge_into_snapshot(
    spark: SparkSession,
    table_path: str,
    changes: DataFrame,
    key: str,
    ts_col: str = "_cdc_ts_ms",
    op_col: str = "_cdc_op",
    seq_col: str | None = None,
) -> int:
    """MERGE INTO for the snapshot log: apply a CDC change batch
    (latest-wins upserts + deletes, ``operators/cdc.py:
    apply_cdc_changes``) to the latest snapshot and commit the result
    as the next version — Delta's ``MERGE`` + time travel on plain
    parquet. The superseded version stays readable (audit the merge by
    diffing two versions); single-writer contract as everywhere in
    this module. Returns the new version."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.cdc import (
        apply_cdc_changes,
    )

    target = read_snapshot(spark, table_path)
    merged = apply_cdc_changes(
        target, changes, key, ts_col=ts_col, op_col=op_col, seq_col=seq_col
    )
    return commit_snapshot(merged, table_path, mode="overwrite")


def snapshot_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: tuple[str, ...] = (),
    compare_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Row-level change feed between two committed versions — the
    jar-less ``table_changes(from, to)`` (Delta's Change Data Feed
    read surface, delta.io docs): every insert/update/delete a consumer
    would need to catch up from ``from_version`` to ``to_version``
    (default: latest), as ``op`` ∈ i/u/d rows via
    :func:`~..operators.cdc.snapshot_diff`.

    Delta materializes CDF files at write time; here the feed derives
    from the two retained snapshots with ONE full-outer key join —
    same information, zero write-path cost, valid as long as VACUUM
    keeps ``from_version`` (a vacuumed version raises, same as Delta's
    out-of-range CDF read)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.cdc import snapshot_diff

    if not key_cols:
        raise ValueError("key_cols is required to align versions")
    old = read_snapshot(spark, table_path, from_version)
    new = read_snapshot(spark, table_path, to_version)
    return snapshot_diff(old, new, key_cols, compare_cols)
