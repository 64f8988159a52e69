"""Per-batch lineage + metrics tables (SURVEY.md §7 step 7).

One small parquet file per batch in each of two directories next to the
lake table:

* ``_lineage``  — batch id → WAL offset range → lake snapshot id
* ``_metrics``  — per-batch row counts (from ``Observation``s collected
  during the merge and quarantine jobs — no extra pass over the data),
  the salting decision + wall time of ``CDCPipeline._apply_batch``

A ``streaming.StreamingCDC`` epoch is batch id epoch + 1 with NULL
``chunk_lo``/``chunk_hi``. ``dlq_rows`` is NULL without a dead-letter
queue, ``n_hot_keys`` NULL unless ``n_salts="auto"``.

Both are ordinary parquet directories readable with
``spark.read.parquet``. The rows are written with pyarrow directly on
the driver: a one-row metadata append must not cost a Spark job
(measured 4-13 s per batch for two ``createDataFrame(...).coalesce(1)``
writes — the Python-worker round trips scale with defaultParallelism
and were the single largest per-batch overhead in the replay loop).
Each file is serialized in memory and committed with
``fsio.io_for(...).write_atomic``, so the journal lands on whatever
filesystem the lake path names.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..fsio import io_for

LINEAGE_SCHEMA = T.StructType([
    T.StructField("batch_id", T.LongType()),
    T.StructField("chunk_lo", T.LongType()),
    T.StructField("chunk_hi", T.LongType()),
    T.StructField("snapshot_id", T.LongType()),
    T.StructField("skipped", T.BooleanType()),
])

METRICS_SCHEMA = T.StructType([
    T.StructField("batch_id", T.LongType()),
    T.StructField("rows_in", T.LongType()),
    T.StructField("winners", T.LongType()),
    T.StructField("tombstones", T.LongType()),
    T.StructField("buckets_touched", T.LongType()),
    T.StructField("wall_sec", T.DoubleType()),
    T.StructField("dlq_rows", T.LongType()),
    T.StructField("salted", T.BooleanType()),
    T.StructField("n_hot_keys", T.LongType()),
])


class BatchJournal:
    def __init__(self, spark: SparkSession, lake_path: str):
        self.spark = spark
        self._io = io_for(spark, lake_path)
        self.lineage_path = self._io.join(lake_path, "_lineage")
        self.metrics_path = self._io.join(lake_path, "_metrics")

    def _put(self, path: str, schema: T.StructType, row: dict,
             overwrite: bool) -> None:
        f = self._io.join(path, "part-%08d.parquet" % row["batch_id"])
        if not overwrite and self._io.exists(f):
            return
        buf = pa.BufferOutputStream()
        pq.write_table(pa.Table.from_pylist(
            [row], schema=to_arrow_schema(schema)), buf)
        self._io.write_atomic(f, buf.getvalue().to_pybytes())

    def record(self, result, chunk_lo: int | None, chunk_hi: int | None,
               wall_sec: float, dlq_rows: int | None = None,
               salted: bool = False, n_hot_keys: int | None = None) -> None:
        """One row per batch in each table, named by batch id. An
        applied merge (over)writes its rows, so a replay after a
        rollback shows the new snapshot; a skipped merge (the crash
        replay of a committed batch) keeps the rows already there."""
        overwrite = not result.skipped
        self._put(self.lineage_path, LINEAGE_SCHEMA, {
            "batch_id": result.batch_id, "chunk_lo": chunk_lo,
            "chunk_hi": chunk_hi, "snapshot_id": result.snapshot_id,
            "skipped": result.skipped}, overwrite)
        self._put(self.metrics_path, METRICS_SCHEMA, {
            "batch_id": result.batch_id, "rows_in": result.rows_in,
            "winners": result.winners, "tombstones": result.tombstones,
            "buckets_touched": result.buckets_touched,
            "wall_sec": float(wall_sec), "dlq_rows": dlq_rows,
            "salted": salted, "n_hot_keys": n_hot_keys}, overwrite)

    # read under the declared schemas: parquet schema inference would
    # cost a Spark job per call
    def lineage(self):
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            self.lineage_path)

    def metrics(self):
        return self.spark.read.schema(METRICS_SCHEMA).parquet(
            self.metrics_path)
