"""Engine-native snapshot-log table format via the PySpark 4 Python
Data Source API: ``spark.read.format("txlog")`` with time travel —
round-4 verdict item 8.

``sources/txlog.py`` already reproduces the Delta read-side semantics
the reference uses (S10/S18: snapshot isolation, history, time travel,
``mage-programs/orders_delta_lake.py:61-63``) on plain parquet + JSON
manifests, but only through Python helper calls. This module registers
the SAME manifest protocol as a first-class data source so the engine
UX matches Delta's — a one-token swap to ``format("delta")`` where the
jar exists:

    spark.read.format("txlog").load(table_path)                # latest
    spark.read.format("txlog").option("versionAsOf", 3).load(p) # as-of
    df.write.format("txlog").mode("append").save(table_path)    # commit

(The Python data source API only accepts append/overwrite save modes;
append to a never-committed table publishes version 0.)

- **Read**: one ``InputPartition`` per manifest data file, decoded on
  executors with pyarrow and yielded as Arrow RECORD BATCHES (the data
  source API's zero-copy fast path) — never row-by-row Python.
- **Write**: classic two-phase commit on top of the manifest protocol:
  tasks write uniquely-named parquet files into the next version's
  data directory via pyarrow, the driver's ``commit()`` publishes the
  manifest through :func:`~.txlog.publish_snapshot` (the same step
  :func:`~.txlog.commit_snapshot` ends with) only after every task
  reported success; ``abort()`` removes the orphaned files. ``mode
  ("append")`` extends the previous manifest, ``mode("overwrite")``
  starts a fresh file list (old files stay readable via time travel).

Performance note (honest contract): the JVM parquet scan behind
:func:`~.txlog.read_snapshot` stays the hot path for bulk reads —
pyarrow-decode + Arrow transfer adds a constant per-batch cost. The
data source exists for API parity and for composing with the rest of
the ``format(...)`` ecosystem; both paths read the identical manifest,
so they can be mixed freely.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType

from dea05_e2e_kafka_streaming_pipeline_spark.sources import txlog


def _version(path: str, options: dict) -> int:
    raw = options.get("versionasof", options.get("versionAsOf"))
    return txlog.resolve_version(path, None if raw is None else int(raw))


@dataclass
class TxlogFilePartition(InputPartition):
    path: str


class TxlogReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._path = options.get("path")
        if not self._path:
            raise ValueError("txlog: .load(path) is required")
        self._version = _version(self._path, options)

    def partitions(self):
        return [
            TxlogFilePartition(p)
            for p in txlog.snapshot_files(self._path, self._version)
        ]

    def read(self, partition: TxlogFilePartition):
        import pyarrow.parquet as pq

        # Arrow-batch fast path: yield RecordBatches, never Python rows
        yield from pq.ParquetFile(partition.path).iter_batches()


@dataclass
class TxlogCommitMessage(WriterCommitMessage):
    rel_path: str
    size: int


class TxlogWriter(DataSourceWriter):
    """Two-phase commit: tasks write parquet into the next version's
    data dir; the driver publishes the manifest only on full success."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self._schema = schema
        self._path = options.get("path")
        if not self._path:
            raise ValueError("txlog: .save(path) is required")
        self._overwrite = overwrite
        self._version = txlog.next_version(self._path)
        self._data_rel = f"data-v{self._version:06d}"

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        rel = os.path.join(
            self._data_rel, f"part-{pid:05d}-{uuid.uuid4().hex}.parquet"
        )
        full = os.path.join(self._path, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        arrow_schema = to_arrow_schema(self._schema)
        rows = [r.asDict(recursive=True) for r in iterator]
        table = pa.Table.from_pylist(rows, schema=arrow_schema)
        pq.write_table(table, full)
        return TxlogCommitMessage(rel_path=rel, size=os.path.getsize(full))

    def commit(self, messages) -> None:
        txlog.publish_snapshot(
            self._path,
            self._version,
            "overwrite" if self._overwrite else "append",
            {m.rel_path: m.size for m in messages},
        )

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            p = os.path.join(self._path, m.rel_path)
            if os.path.exists(p):
                os.remove(p)


class TxlogDataSource(DataSource):
    """``format("txlog")`` — versioned parquet table with time travel."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def schema(self):
        import pyarrow.parquet as pq
        from pyspark.sql.types import StructField

        path = self.options["path"]
        files = txlog.snapshot_files(path, _version(path, self.options))
        inferred = from_arrow_schema(pq.read_schema(files[0]))
        # Spark's own parquet reader surfaces every column as nullable
        # regardless of the footer's required flag; match it so the two
        # read paths are schema-interchangeable
        return StructType(
            [StructField(f.name, f.dataType, True) for f in inferred.fields]
        )

    def reader(self, schema: StructType):
        return TxlogReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return TxlogWriter(schema, self.options, overwrite)


def register_txlog_datasource(spark) -> None:
    """Idempotent per-session registration of ``format("txlog")``."""
    spark.dataSource.register(TxlogDataSource)
