"""Offset checkpoint with atomic commit (SURVEY.md §7 step 5).

The checkpoint records the next WAL chunk to read and the last batch id
written. It is committed AFTER the lake snapshot commit; a crash between
the two replays the last batch, which the lake skips idempotently by
batch id (LakeTable.merge) — together: exactly-once.

``path`` is a directory holding ``checkpoint.json``: a plain local path,
or any Hadoop URI (``file://``, ``hdfs://``, ``s3a://``, ...) that the
Spark session resolves. Both go through ``fsio.io_for``, so the commit
is the same hidden-tmp + flush + atomic-rename on every scheme and the
file lands where the URI names, never under the driver's cwd.
"""

from __future__ import annotations

import json

from ..fsio import io_for


class Checkpoint:
    FILE = "checkpoint.json"

    def __init__(self, io, path: str, next_chunk: int = 0,
                 batch_id: int = 0):
        self._io = io
        self.path = path
        self.next_chunk = next_chunk
        self.batch_id = batch_id

    @classmethod
    def load(cls, spark, path: str) -> "Checkpoint":
        io = io_for(spark, path)
        f = io.join(path, cls.FILE)
        if io.exists(f):
            d = json.loads(io.read_text(f))
            return cls(io, path, d["next_chunk"], d["batch_id"])
        return cls(io, path)

    def commit(self, next_chunk: int, batch_id: int) -> None:
        self._io.write_atomic(
            self._io.join(self.path, self.FILE),
            json.dumps({"next_chunk": next_chunk,
                        "batch_id": batch_id}).encode())
        self.next_chunk = next_chunk
        self.batch_id = batch_id
