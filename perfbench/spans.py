"""Spans around the engine's public entry points, recorded from outside.

``Tracer.install`` wraps the entry points listed in ``ENTRY_POINTS`` (and
nothing inside them): each call becomes a span with a name, start, end,
parent span and batch id, and runs under its own Spark job group, so the
Spark jobs, stages and tasks it triggers are read back from
``SparkContext.statusTracker()`` after the run, outside every timing. A
span around a lazy call holds only planning time; a job's time lands in
the span whose call triggers the action. Spans are kept in memory and
written as JSON by ``dump``. Self time is a span's duration minus the
time its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import statistics
import threading
import time

#: (module, attribute path, span name)
ENTRY_POINTS = [
    ("embulk_filter_column_spark.cdc.pipeline", "CDCPipeline.run",
     "pipeline.run"),
    ("embulk_filter_column_spark.cdc.wal", "WalReader.read_chunks",
     "wal.read_chunks"),
    ("embulk_filter_column_spark.cdc.dedup", "hot_keys", "dedup.hot_keys"),
    ("embulk_filter_column_spark.cdc.pipeline", "compile_filter",
     "plans.compile"),
    ("embulk_filter_column_spark.operators.incremental",
     "FingerprintIndex.dedup_ids", "incremental.dedup_ids"),
    ("embulk_filter_column_spark.operators.incremental",
     "MinHashIndex.dedup_ids", "incremental.minhash_dedup_ids"),
    ("embulk_filter_column_spark.cdc.lake", "LakeTable.merge", "lake.merge"),
    ("embulk_filter_column_spark.cdc.lake", "LakeTable.compact",
     "lake.compact"),
    ("embulk_filter_column_spark.cdc.lake", "LakeTable.read", "lake.read"),
    ("embulk_filter_column_spark.cdc.lake", "LakeTable.changes",
     "lake.changes"),
    ("embulk_filter_column_spark.cdc.metrics", "BatchJournal.record",
     "metrics.record"),
    ("embulk_filter_column_spark.cdc.checkpoint", "Checkpoint.commit",
     "checkpoint.commit"),
]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self.batch_id = None
        self._stack = threading.local()
        self._saved: list = []

    # -- spans -----------------------------------------------------------

    def _frames(self) -> list:
        if not hasattr(self._stack, "frames"):
            self._stack.frames = []
        return self._stack.frames

    @contextlib.contextmanager
    def span(self, name: str):
        frames = self._frames()
        rec = {"id": len(self.spans), "name": name,
               "parent": frames[-1]["id"] if frames else None,
               "batch": self.batch_id, "group": "perfbench-%d" % len(
                   self.spans)}
        self.spans.append(rec)
        frames.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            frames.pop()
            if frames:
                self.sc.setJobGroup(frames[-1]["group"], frames[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def batch(self, batch_id: int):
        """Spans opened inside belong to ``batch_id``."""
        self.batch_id = batch_id
        try:
            yield
        finally:
            self.batch_id = None

    def count_jobs(self) -> None:
        """Read each span's Spark job, stage and task counts from the
        status tracker (which keeps the last 1000 jobs and stages, more
        than one run starts)."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = list(st.getJobIdsForGroup(rec["group"]))
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    sinfo = st.getStageInfo(s)
                    if sinfo and sinfo.numCompletedTasks > 0:
                        stages += 1
                        tasks += sinfo.numCompletedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        for module, attr, name in ENTRY_POINTS:
            owner = importlib.import_module(module)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf] if isinstance(owner, type) \
                else getattr(owner, leaf)
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(orig, name))

    def uninstall(self) -> None:
        while self._saved:
            owner, leaf, orig = self._saved.pop()
            setattr(owner, leaf, orig)

    # -- results ---------------------------------------------------------

    def self_time(self, rec: dict) -> float:
        """Duration minus the union of the child spans' intervals."""
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == rec["id"])
        covered, lo, hi = 0.0, None, None
        for s, e in kids:
            if hi is None or s > hi:
                covered += (hi - lo) if hi is not None else 0.0
                lo, hi = s, e
            else:
                hi = max(hi, e)
        covered += (hi - lo) if hi is not None else 0.0
        return rec["end"] - rec["start"] - covered

    def value(self, rec: dict, field: str) -> float:
        """``field`` of a span: "s" is the duration, "self_s" the self
        time, otherwise a count from ``count_jobs``."""
        if field == "s":
            return rec["end"] - rec["start"]
        if field == "self_s":
            return self.self_time(rec)
        return rec.get(field, 0)

    def per_batch(self, batches: list, name: str, field: str) -> float:
        """Mean over ``batches`` of the per-batch sum of ``field`` over
        the spans called ``name`` (every span when ``name`` is None)."""
        sums = {b: 0.0 for b in batches}
        for rec in self.spans:
            if rec["batch"] in sums and (name is None or rec["name"] == name):
                sums[rec["batch"]] += self.value(rec, field)
        return statistics.fmean(sums.values())

    def median(self, name: str, field: str, batches: list) -> float:
        """Median of ``field`` over the spans called ``name`` that belong
        to one of ``batches`` (None: outside every batch)."""
        return statistics.median(self.value(r, field) for r in self.spans
                                 if r["name"] == name
                                 and r["batch"] in batches)

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.spans
                   if r["name"] == name)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [dict(r, self_s=self.self_time(r)) for r in self.spans]
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=spans), fh, indent=1)
