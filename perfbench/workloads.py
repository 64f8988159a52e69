"""The workloads: input shape, column rules and pipeline settings.

A run replays ``WARMUP`` untimed batches, then ``timed_batches(seconds)``
timed ones: ``seconds / BATCH_S``, where ``BATCH_S`` is the typical wall
time of one batch of either workload on a 4-core host. The work of a run
is fixed by ``--seconds`` alone, never by how fast the host happens to be.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import gen

#: typical seconds per batch (both workloads' medians are 3.0-3.3 s)
BATCH_S = 3.0
#: untimed batches of the workload's own shape before the timed loop
WARMUP = 1
#: full table scans in the read phase
READ_SCANS = 4

ENVELOPE = [{"name": "op"}, {"name": "seq"}, {"name": "url"},
            {"name": "warc_ts"}]

#: keep / rename / default rules shared by every workload
SCALAR_RULES = {
    "columns": ENVELOPE + [
        {"name": "body", "src": "text"},
        {"name": "lang", "type": "string", "default": "und"},
    ],
    "add_columns": [{"name": "source", "type": "string", "default": "wal"}],
}

#: the scalar rules plus JSONPath keep/add rules on ``meta``
JSON_RULES = {
    "json_columns": ["meta"],
    "columns": SCALAR_RULES["columns"] + [
        {"name": "meta"},
        {"name": "$.meta.title"},
        {"name": "$.meta.tags"},
        {"name": "$.meta.crawl.depth"},
        {"name": "$.meta.quality", "type": "double", "default": 0.5},
    ],
    "add_columns": SCALAR_RULES["add_columns"] + [
        {"name": "$.meta.ingest", "type": "string", "default": "cdc"},
    ],
}


def timed_batches(seconds: float) -> int:
    return max(1, round(seconds / BATCH_S))


@dataclass
class Workload:
    name: str
    make: object    # gen function(seed, n_batches, batch_events) -> tables
    batch_events: int
    rules: dict
    pipeline: dict = field(default_factory=dict)
    content_dedup: bool = False     # FingerprintIndex at ingest
    dlq: bool = False


WORKLOADS = {w.name: w for w in [
    Workload(
        name="backlog-json", make=gen.backlog, batch_events=15_000,
        rules=JSON_RULES, pipeline={"n_salts": "auto", "num_buckets": 32}),
    Workload(
        name="trickle-exact", make=gen.trickle, batch_events=1_500,
        rules=SCALAR_RULES,
        pipeline={"n_salts": "auto", "num_buckets": 16,
                  "merge_mode": "delta", "compact_after_deltas": 4},
        content_dedup=True, dlq=True),
]}
