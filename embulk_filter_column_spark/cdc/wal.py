"""Chunked-parquet WAL reader with offset tracking (SURVEY.md §3.4).

A WAL is a directory of ``chunk=<n>/`` parquet partitions (written by
``sources.write_wal``); the chunk number is the replay offset unit — the
engine analog of a binlog file/position. The chunk listing and the
chunk-directory probe go through ``fsio.io_for``, so a WAL on any
scheme the Spark session resolves is tailed the same way.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsio import io_for


class WalReader:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._io = io_for(spark, path)

    def chunk_ids(self) -> list:
        """Available chunk offsets, sorted."""
        out = []
        for name in self._io.listnames(self.path):
            m = re.fullmatch(r"chunk=(\d+)", name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    @property
    def end_offset(self) -> int:
        ids = self.chunk_ids()
        return (ids[-1] + 1) if ids else 0

    def read_chunks(self, lo: int, hi: int) -> DataFrame:
        """Events with chunk offset in [lo, hi).

        The read is constructed from the explicit ``chunk=<n>`` directory
        paths (with ``basePath`` so the partition column survives), not a
        whole-root scan plus a filter: a root scan's file-index listing is
        O(all chunks) per batch even though partition pruning skips the
        *reads* — at 10^5 chunks that listing is a per-batch driver
        metadata bottleneck. Scoped paths keep planning O(chunks in
        batch)."""
        dirs = [d for d in (self._io.join(self.path, "chunk=%d" % c)
                            for c in range(lo, hi))
                if self._io.isdir(d)]
        if not dirs:
            # empty range: preserve the schema via a zero-row slice
            return (self.spark.read.parquet(self.path)
                    .where(F.lit(False)).drop("chunk"))
        return (self.spark.read
                .option("basePath", self.path)
                .parquet(*dirs)
                .drop("chunk"))

    def stream(self, max_files_per_trigger: int | None = None) -> DataFrame:
        """Every ``chunk=<n>`` directory as a Structured-Streaming file
        source, under the schema of the chunks present now."""
        reader = (self.spark.readStream
                  .schema(self.spark.read.parquet(self.path).schema)
                  .option("basePath", self.path))
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger",
                                   str(max_files_per_trigger))
        return reader.parquet(self._io.join(self.path, "chunk=*")) \
                     .drop("chunk")
