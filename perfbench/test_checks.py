"""The output checks must fail on a corrupted lake.

Replays a small trickle-exact WAL through the real pipeline, confirms the
checks pass, then corrupts the lake on disk three ways (one altered
``body``, one tombstoned URL brought back, one DLQ row missing) and
confirms the matching check fails each time. The near-duplicate checks
are fed edited survivor sets of seeded ``gen.neardup`` batches: an
original suppressed, a below-threshold copy suppressed, every
above-threshold copy kept. Run from the repository root::

    python3 -m pytest -q perfbench/test_checks.py
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

N_BATCHES = 3


@pytest.fixture(scope="module")
def replayed():
    wl = dataclasses.replace(WORKLOADS["trickle-exact"], batch_events=400)
    work = os.path.join(os.getcwd(), ".perfbench_work", "test-checks")
    shutil.rmtree(work, ignore_errors=True)
    run.prepare_env(work)
    batches = wl.make(7, N_BATCHES, wl.batch_events)
    gen.write_wal(os.path.join(work, "wal"), batches)
    spark = run.spark_session(work)
    try:
        pipe = run.build_pipeline(spark, wl, work)
        pipe.run()
        # fold the delta files so every URL has one row in the HEAD files
        pipe.table().compact()
        yield spark, pipe, wl, batches
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _failures(replayed) -> list:
    _, pipe, wl, batches = replayed
    return checks.run_all(pipe, wl, batches)


def _head_files(pipe) -> list:
    head = pipe.table().head()
    return [os.path.join(pipe.lake_path, e["path"])
            for files in head["buckets"].values() for e in files]


def _corrupt(path: str, edit) -> bool:
    """Rewrite ``path`` with ``edit(table)`` unless it returns None; the
    Hadoop checksum file next to it goes, or the read would refuse."""
    table = edit(pq.read_table(path))
    if table is None:
        return False
    schema = pq.ParquetFile(path).schema
    int96 = any(schema.column(i).physical_type == "INT96"
                for i in range(len(schema)))
    pq.write_table(table, path, use_deprecated_int96_timestamps=int96)
    crc = os.path.join(os.path.dirname(path),
                       "." + os.path.basename(path) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    return True


@pytest.fixture
def restore(replayed):
    """Snapshot the lake and DLQ so each corruption starts clean."""
    _, pipe, _, _ = replayed
    root = os.path.dirname(pipe.lake_path)
    saved = {d: os.path.join(root, d + ".orig") for d in ("lake", "dlq")}
    for d, copy in saved.items():
        shutil.copytree(os.path.join(root, d), copy)
    yield
    for d, copy in saved.items():
        shutil.rmtree(os.path.join(root, d))
        shutil.move(copy, os.path.join(root, d))


def _set_first(table, column: str, where, value):
    """``table`` with ``column`` of the first row matching ``where``
    replaced by ``value(old)``; None when no row matches."""
    hits = pc.indices_nonzero(pc.fill_null(where, False))
    if len(hits) == 0:
        return None
    i = hits[0].as_py()
    vals = table[column].to_pylist()
    vals[i] = value(vals[i])
    col = table.schema.get_field_index(column)
    field = table.schema.field(col)
    return table.set_column(col, field, pa.array(vals, field.type))


def test_checks_pass_on_the_replayed_lake(replayed):
    assert _failures(replayed) == []


def test_altered_body_fails_final_state(replayed, restore):
    _, pipe, _, _ = replayed
    assert any(_corrupt(f, lambda t: _set_first(
        t, "body", pc.and_(pc.not_equal(t["_op"], "D"),
                           pc.is_valid(t["body"])),
        lambda b: b + " edited")) for f in _head_files(pipe))
    assert any(f.startswith("final state") for f in _failures(replayed))


def test_resurrected_tombstone_fails_final_state(replayed, restore):
    _, pipe, _, _ = replayed
    assert any(_corrupt(f, lambda t: _set_first(
        t, "_op", pc.equal(t["_op"], "D"), lambda _: "U"))
        for f in _head_files(pipe))
    assert any(f.startswith("final state") for f in _failures(replayed))


def test_missing_dlq_row_fails_dlq(replayed, restore):
    _, pipe, _, _ = replayed
    files = sorted(os.path.join(b, n)
                   for b, _, names in os.walk(pipe.dlq_path)
                   for n in names if n.endswith(".parquet"))
    assert any(_corrupt(f, lambda t: t.slice(1) if t.num_rows else None)
               for f in files)
    assert any(f.startswith("dlq") for f in _failures(replayed))


# -- near-duplicate checks (no Spark: the survivor sets are edited) -----

ND_ROWS = run.MINHASH["num_hashes"] // run.MINHASH["bands"]


@pytest.fixture(scope="module")
def neardup_docs():
    return gen.neardup(7, 3, 120)


def _nd_failures(docs, survivors) -> list:
    return checks.neardup_failures(docs, survivors, run.MINHASH["threshold"],
                                   ND_ROWS, run.MINHASH["bands"])


def _ideal(docs) -> list:
    """Every document except the above-threshold copies survives."""
    return [set(t.filter(pc.fill_null(pc.not_equal(t["plant"], "above"),
                                      True))["url"].to_pylist())
            for t in docs]


def _first(docs, plant) -> tuple:
    for b, t in enumerate(docs):
        for url, kind in zip(t["url"].to_pylist(), t["plant"].to_pylist()):
            if kind == plant:
                return b, url
    raise AssertionError("no %s document" % plant)


def test_neardup_checks_pass_on_exact_suppression(neardup_docs):
    assert _nd_failures(neardup_docs, _ideal(neardup_docs)) == []


def test_suppressed_original_fails_neardup(neardup_docs):
    survivors = _ideal(neardup_docs)
    b, url = _first(neardup_docs, None)
    survivors[b].discard(url)
    assert any("without an earlier doc" in f
               for f in _nd_failures(neardup_docs, survivors))


def test_suppressed_below_threshold_copy_fails_neardup(neardup_docs):
    survivors = _ideal(neardup_docs)
    b, url = _first(neardup_docs, "below")
    survivors[b].discard(url)
    assert any("below-threshold copies suppressed" in f
               for f in _nd_failures(neardup_docs, survivors))


def test_missed_above_threshold_copies_fail_neardup(neardup_docs):
    survivors = [set(t["url"].to_pylist()) for t in neardup_docs]
    assert any("LSH predicts" in f
               for f in _nd_failures(neardup_docs, survivors))
