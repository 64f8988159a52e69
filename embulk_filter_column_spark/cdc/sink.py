"""Sink seam: the MERGE target behind the CDC pipeline (SURVEY.md §7
step 4).

Two implementations of the same contract:

* ``LakeTable`` (``cdc.lake``) — parquet + JSON-manifest table used in
  this sandbox (no Iceberg runtime jar available).
* ``IcebergSink`` (here) — the production adapter: generates Iceberg
  Spark-SQL DDL/DML (CREATE TABLE with a bucket transform, MERGE INTO
  with last-writer-wins conditions, ALTER TABLE for schema evolution)
  and executes it through ``spark.sql`` when an Iceberg catalog is
  configured. The SQL builders are pure functions so the generated text
  is unit-testable without the jar.

Contract (structural, duck-typed — see ``Sink``):

* ``merge(batch, batch_id, op_col)`` — idempotent by batch id:
  a batch at or below the committed id must be skipped untouched.
* ``evolve(new_schema, renames)`` — metadata-only schema change.
* ``read()`` — current live rows (tombstones filtered).
* ``committed_batch_id`` — high-water mark for resume.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..errors import EngineError

_SPARK_SQL_TYPES = {
    T.StringType(): "STRING",
    T.LongType(): "BIGINT",
    T.IntegerType(): "INT",
    T.DoubleType(): "DOUBLE",
    T.FloatType(): "FLOAT",
    T.BooleanType(): "BOOLEAN",
    T.TimestampType(): "TIMESTAMP",
    T.TimestampNTZType(): "TIMESTAMP_NTZ",
    T.BinaryType(): "BINARY",
    T.DateType(): "DATE",
}


@runtime_checkable
class Sink(Protocol):
    """Structural interface satisfied by LakeTable and IcebergSink."""

    @property
    def committed_batch_id(self) -> int: ...

    def merge(self, batch: DataFrame, batch_id: int,
              op_col: str = "op", n_salts: int | None = None): ...

    def evolve(self, new_schema: T.StructType,
               renames: dict | None = None) -> int: ...

    def read(self, include_tombstones: bool = False) -> DataFrame: ...


def _sql_type(dt: T.DataType) -> str:
    if dt in _SPARK_SQL_TYPES:
        return _SPARK_SQL_TYPES[dt]
    # arrays/structs/decimals: Spark's DDL rendering is already SQL
    return dt.simpleString().upper()


def create_table_sql(table: str, schema: T.StructType, key: str,
                     num_buckets: int) -> str:
    """CREATE TABLE ... USING iceberg PARTITIONED BY (bucket(B, key)):
    the Iceberg bucket transform is the exact analog of the manifest
    lake's pmod(xxhash64(key), B) layout — a MERGE only rewrites the
    buckets the batch touches."""
    cols = ",\n  ".join(
        f"{f.name} {_sql_type(f.dataType)}" for f in schema.fields)
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n  {cols}\n)\n"
        f"USING iceberg\n"
        f"PARTITIONED BY (bucket({num_buckets}, {key}))\n"
        f"TBLPROPERTIES (\n"
        f"  'write.merge.mode' = 'merge-on-read',\n"
        f"  'write.distribution-mode' = 'hash',\n"
        f"  'format-version' = '2'\n"
        f")"
    )


def merge_sql(table: str, source_view: str, key: str,
              order: tuple, columns: list, op_col: str = "_op") -> str:
    """MERGE INTO with last-writer-wins semantics, mirroring
    LakeTable.merge (reference semantics: upsert keyed on ``key``,
    winner by lexicographic ``order``, op 'D' deletes):

    * the source is expected pre-deduped per key (the pipeline's LWW
      aggregate) — MERGE requires a unique source key anyway;
    * MATCHED + newer + 'D'  → DELETE
    * MATCHED + newer        → UPDATE (all columns)
    * NOT MATCHED + not 'D'  → INSERT

    Note the tombstone difference: Iceberg deletes rows physically, so
    late (out-of-order) updates older than a delete could resurrect a
    row. The pipeline replays the WAL in offset order with monotone
    batch ids, which bounds lateness to one batch — inside a batch LWW
    already resolved it. Cross-batch regressions are excluded by the
    checkpoint's ordered chunk ranges."""
    newer = "(" + " OR ".join(
        "("
        + " AND ".join(f"s.{c} = t.{c}" for c in order[:i])
        + (" AND " if i else "")
        + f"s.{order[i]} > t.{order[i]})"
        for i in range(len(order))
    ) + ")"
    sets = ",\n    ".join(f"t.{c} = s.{c}" for c in columns)
    ins_cols = ", ".join(columns)
    ins_vals = ", ".join(f"s.{c}" for c in columns)
    return (
        f"MERGE INTO {table} AS t\n"
        f"USING {source_view} AS s\n"
        f"ON t.{key} = s.{key}\n"
        f"WHEN MATCHED AND s.{op_col} = 'D' AND {newer} THEN DELETE\n"
        f"WHEN MATCHED AND {newer} THEN UPDATE SET\n    {sets}\n"
        f"WHEN NOT MATCHED AND s.{op_col} <> 'D' THEN\n"
        f"  INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def evolve_sql(table: str, current: T.StructType, new_schema: T.StructType,
               renames: dict | None = None) -> list:
    """ALTER TABLE statements realizing a schema diff: renames first
    (so adds/drops compare against post-rename names), then ADD COLUMNS
    for new fields, then DROP COLUMN for removed ones — the same
    rename → add → drop order as LakeTable._align's chain."""
    stmts = []
    cur_names = [f.name for f in current.fields]
    if renames:
        for old, new in renames.items():
            stmts.append(f"ALTER TABLE {table} RENAME COLUMN {old} TO {new}")
            cur_names = [new if n == old else n for n in cur_names]
    new_names = [f.name for f in new_schema.fields]
    added = [f for f in new_schema.fields if f.name not in cur_names]
    if added:
        cols = ", ".join(
            f"{f.name} {_sql_type(f.dataType)}" for f in added)
        stmts.append(f"ALTER TABLE {table} ADD COLUMNS ({cols})")
    for name in cur_names:
        if name not in new_names:
            stmts.append(f"ALTER TABLE {table} DROP COLUMN {name}")
    return stmts


def set_batch_id_sql(table: str, batch_id: int) -> str:
    """Record the committed batch id as a table property. Iceberg commits
    the MERGE and the property change as separate snapshots, so a crash
    between them replays one MERGE — which is why merge_sql's WHEN
    clauses are written to be replay-idempotent (equal-order rows do not
    match `newer`, so re-merging the same batch is a no-op)."""
    return (f"ALTER TABLE {table} SET TBLPROPERTIES "
            f"('cdc.committed_batch_id' = '{batch_id}')")


class IcebergSink:
    """MERGE-INTO sink against a real Iceberg catalog table.

    Requires a Spark session with an Iceberg catalog configured (the
    runtime jar is not shipped in this sandbox, so this class is
    exercised at the SQL-text level in tests; the execution path is a
    thin spark.sql loop)."""

    def __init__(self, spark: SparkSession, table: str, key: str = "url",
                 order: tuple = ("warc_ts", "seq"), num_buckets: int = 1024):
        self.spark = spark
        self.table = table
        self.key = key
        self.order = tuple(order)
        self.num_buckets = num_buckets
        if not self._iceberg_available():
            raise EngineError(
                "no Iceberg catalog is configured in this Spark session; "
                "add the iceberg-spark-runtime jar and a spark.sql.catalog."
                "<name> config, or use cdc.lake.LakeTable")

    def _iceberg_available(self) -> bool:
        """True when some catalog is explicitly configured with the
        Iceberg SparkCatalog implementation."""
        confs = dict(self.spark.sparkContext.getConf().getAll())
        try:
            v = self.spark.conf.get("spark.sql.catalog.spark_catalog", None)
            if v:
                confs["spark.sql.catalog.spark_catalog"] = v
        except Exception:
            pass
        return any(k.startswith("spark.sql.catalog.")
                   and "iceberg" in str(v).lower()
                   for k, v in confs.items())

    # -- contract ------------------------------------------------------------

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.table)

    def create(self, schema: T.StructType) -> None:
        self.spark.sql(create_table_sql(
            self.table, schema, self.key, self.num_buckets))

    def schema(self) -> T.StructType:
        return self.spark.table(self.table).schema

    @property
    def committed_batch_id(self) -> int:
        row = self.spark.sql(
            f"SHOW TBLPROPERTIES {self.table} "
            f"('cdc.committed_batch_id')").collect()
        try:
            return int(row[0]["value"])
        except (IndexError, ValueError):
            return 0

    def merge(self, batch: DataFrame, batch_id: int,
              op_col: str = "op", n_salts: int | None = None):
        from pyspark.sql import Observation, functions as F

        from .dedup import last_writer_wins, salted_last_writer_wins
        from .lake import _KEY_EVENTS, MergeResult

        if batch_id <= self.committed_batch_id:
            return MergeResult(batch_id, -1, skipped=True)
        if n_salts:
            winners = salted_last_writer_wins(
                batch, key=self.key, order=self.order, n_salts=n_salts,
                count_col=_KEY_EVENTS)
        else:
            winners = last_writer_wins(batch, key=self.key,
                                       order=self.order,
                                       count_col=_KEY_EVENTS)
        # same per-key counts as LakeTable.merge, observed on the MERGE
        obs = Observation()
        winners = (winners
                   .observe(obs, F.sum(_KEY_EVENTS).alias("rows_in"),
                            F.max(_KEY_EVENTS).alias("top_key_events"))
                   .drop(_KEY_EVENTS)
                   .withColumnRenamed(op_col, "_op"))
        view = f"_cdc_batch_{batch_id}"
        winners.createOrReplaceTempView(view)
        columns = [c for c in winners.columns if c != "_op"]
        self.spark.sql(merge_sql(self.table, view, self.key, self.order,
                                 columns))
        self.spark.sql(set_batch_id_sql(self.table, batch_id))
        self.spark.catalog.dropTempView(view)
        # read without blocking: a MERGE INTO command need not report
        # the observations of its source, and Observation.get would
        # then wait for ever. Without the figures the pipeline's
        # auto-salting probes every batch
        stats = {} if obs._jo.getRowOrEmpty().isEmpty() else obs.get
        top = stats.get("top_key_events")
        return MergeResult(batch_id, -1, skipped=False,
                           rows_in=int(stats.get("rows_in") or 0),
                           top_key_events=None if top is None else int(top))

    def evolve(self, new_schema: T.StructType,
               renames: dict | None = None) -> int:
        current = self.spark.table(self.table).schema
        for stmt in evolve_sql(self.table, current, new_schema, renames):
            self.spark.sql(stmt)
        return 0

    def read(self, include_tombstones: bool = False) -> DataFrame:
        # Iceberg deletes are physical: there are no tombstones to filter
        return self.spark.table(self.table)
