"""Structured-Streaming CDC mode: readStream over the WAL → foreachBatch
MERGE; availableNow drain equals the batch pipeline's final state."""

import pytest

from embulk_filter_column_spark.cdc.metrics import BatchJournal
from embulk_filter_column_spark.sources import web_change_events, write_wal
from embulk_filter_column_spark.streaming import StreamingCDC


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_wal"))
    events = web_change_events(spark, 1200, n_domains=15,
                               pages_per_domain=8, seed=7)
    write_wal(events, path, chunk_rows=400)
    return path


def oracle_pairs(spark, wal_path):
    pdf = spark.read.parquet(wal_path).drop("chunk").toPandas()
    pdf = pdf.sort_values(["warc_ts", "seq"])
    w = pdf.groupby("url", as_index=False).last()
    w = w[w["op"] != "D"]
    return sorted(zip(w["url"], w["text"]))


def test_streaming_drain_matches_oracle(spark, wal, tmp_path):
    job = StreamingCDC(spark, wal, str(tmp_path / "lake"),
                       str(tmp_path / "cp"), num_buckets=8,
                       max_files_per_trigger=2)
    job.run_available_now()
    got = sorted((r["url"], r["text"])
                 for r in job.table().read().collect())
    assert got == oracle_pairs(spark, wal)

    # drain again: stream checkpoint says nothing new; state unchanged
    snap = job.table().head()["snapshot_id"]
    job.run_available_now()
    assert job.table().head()["snapshot_id"] == snap


def _journal_rows(journal, batch_id):
    """The (_metrics, _lineage) rows of ``batch_id``, as dicts."""
    return tuple(t.where("batch_id = %d" % batch_id).collect()[0].asDict()
                 for t in (journal.metrics(), journal.lineage()))


def test_crash_after_commit_before_checkpoint(spark, wal, tmp_path):
    """Failure injection (VERDICT r1 item 8): the worst-case window is
    after the lake commit but before the streaming checkpoint advances.
    On restart Spark replays that epoch; the lake must skip the already
    committed batch id, and the drain must still converge to the oracle
    with exactly one snapshot per unique batch."""
    lake_dir, cp_dir = str(tmp_path / "lake"), str(tmp_path / "cp")
    job = StreamingCDC(spark, wal, lake_dir, cp_dir, num_buckets=8,
                       max_files_per_trigger=1)
    orig_apply = job._apply
    crashed = {}

    def crash_after_commit(batch_df, epoch_id):
        orig_apply(batch_df, epoch_id)  # lake commit happens here
        if epoch_id >= 1 and not crashed:
            crashed["epoch"] = epoch_id
            raise RuntimeError("injected crash after lake commit")

    job._apply = crash_after_commit
    with pytest.raises(Exception, match="injected crash"):
        job.run_available_now()
    assert crashed
    committed_at_crash = job.table().committed_batch_id
    assert committed_at_crash == crashed["epoch"] + 1  # commit DID land
    # the crashed epoch journaled before the crash
    journal = BatchJournal(spark, lake_dir)
    first_run = _journal_rows(journal, committed_at_crash)

    # restart: Spark replays the crashed epoch; the lake skips it
    job2 = StreamingCDC(spark, wal, lake_dir, cp_dir, num_buckets=8,
                        max_files_per_trigger=1)
    job2.run_available_now()
    got = sorted((r["url"], r["text"])
                 for r in job2.table().read().collect())
    assert got == oracle_pairs(spark, wal)
    head = job2.table().head()
    # one snapshot per unique batch id: the replayed epoch added none
    assert head["snapshot_id"] == head["batch_id"]
    assert head["batch_id"] > committed_at_crash
    # one _metrics and one _lineage row per batch id; the replayed epoch
    # (a skipped merge) kept the rows of its first run
    for table in (journal.metrics(), journal.lineage()):
        assert sorted(r["batch_id"] for r in table.collect()) == \
            list(range(1, head["batch_id"] + 1))
    assert _journal_rows(journal, committed_at_crash) == first_run
    assert not first_run[1]["skipped"]
    assert all(r["chunk_lo"] is None and r["chunk_hi"] is None
               for r in journal.lineage().collect())


def test_stateful_sessionize_across_microbatches(spark, tmp_path):
    """applyInPandasWithState sessionization: the open session must
    survive micro-batch boundaries in keyed state, closed sessions must
    match a batch pandas oracle computed over the whole WAL."""
    import pandas as pd
    from pyspark.sql import functions as F

    from embulk_filter_column_spark.streaming.stateful import sessionize

    # deterministic event stream: 3 urls, controlled gaps (gap=100s)
    rows = []
    for u, times in {
        "u1": [0, 50, 120, 500, 510],      # sessions [0..120], [500..510]
        "u2": [10, 400, 420, 900],          # [10], [400..420], [900 open]
        "u3": [5],                          # [5 open]
    }.items():
        rows += [(u, t) for t in times]
    df = spark.createDataFrame(rows, ["url", "sec"]).select(
        "url", F.timestamp_seconds("sec").alias("warc_ts"),
        F.col("sec").cast("long").alias("seq"),
        F.lit("I").alias("op"), F.lit("x").alias("text"),
        F.lit("en").alias("lang"), F.lit(b"").alias("html"))
    wal = str(tmp_path / "wal")
    from embulk_filter_column_spark.sources import write_wal
    write_wal(df.orderBy("seq"), wal, chunk_rows=4)

    static = spark.read.parquet(wal)
    stream = (spark.readStream.schema(static.schema)
              .option("basePath", wal)
              .option("maxFilesPerTrigger", "1")
              .parquet(wal + "/chunk=*").drop("chunk"))
    out = sessionize(stream, key="url", ts_col="warc_ts",
                     gap_seconds=100.0)
    q = (out.writeStream.format("memory").queryName("sessions")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["key"], r["session_start_us"] // 1_000_000,
            r["session_end_us"] // 1_000_000, r["n_events"])
           for r in spark.table("sessions").collect()}

    # batch pandas oracle: same sessionization, open tails dropped
    pdf = static.select("url", F.unix_micros(
        F.col("warc_ts").cast("timestamp")).alias("us")).toPandas()
    want = set()
    for u, grp in pdf.groupby("url"):
        ts = sorted(grp["us"] // 1_000_000)
        start, last, n = None, None, 0
        sessions = []
        for t in ts:
            if start is None:
                start, last, n = t, t, 1
            elif t - last > 100:
                sessions.append((u, start, last, n))
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        want.update(sessions)  # open tail NOT emitted
    assert got == want, (got, want)
    # the open tails exist and were not emitted
    assert ("u3", 5, 5, 1) not in got


def test_sessionize_event_time_timeout_flushes_tails(spark, tmp_path):
    """With a watermark + EventTimeTimeout, a tail session whose
    (last event + gap) falls behind the advancing watermark is flushed
    as closed and its key's state evicted — bounded state."""
    import pandas as pd
    from pyspark.sql import functions as F

    from embulk_filter_column_spark.streaming.stateful import sessionize
    from embulk_filter_column_spark.sources import write_wal

    # u1 is active only early; u2 keeps the watermark advancing far past
    # u1's last event + gap, so u1's tail must flush on timeout.
    # base offset keeps event times away from epoch 0 (the initial
    # watermark value — rows at ts <= the initial watermark are dropped)
    B = 1_000_000
    rows = [("u1", B + 0), ("u1", B + 50),
            ("u2", B + 10), ("u2", B + 5000), ("u2", B + 9000),
            ("u2", B + 20000)]
    df = spark.createDataFrame(rows, ["url", "sec"]).select(
        "url", F.timestamp_seconds("sec").alias("warc_ts"),
        F.col("sec").cast("long").alias("seq"),
        F.lit("I").alias("op"), F.lit("x").alias("text"),
        F.lit("en").alias("lang"), F.lit(b"").alias("html"))
    wal = str(tmp_path / "wal")
    write_wal(df.orderBy("seq"), wal, chunk_rows=2)

    static = spark.read.parquet(wal)
    stream = (spark.readStream.schema(static.schema)
              .option("basePath", wal)
              .option("maxFilesPerTrigger", "1")
              .parquet(wal + "/chunk=*").drop("chunk"))
    out = sessionize(stream, key="url", ts_col="warc_ts",
                     gap_seconds=100.0, watermark_delay="200 seconds")
    q = (out.writeStream.format("memory").queryName("sessions_wm")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["key"], r["session_start_us"] // 1_000_000,
            r["session_end_us"] // 1_000_000, r["n_events"])
           for r in spark.table("sessions_wm").collect()}
    # u1's tail [0..50] flushed by EventTimeTimeout once u2 pushed the
    # watermark past 150s; u2's early sessions closed by gap; u2's final
    # tail (20000) has no later watermark -> retained in state, unemitted
    assert got == {("u1", B + 0, B + 50, 2), ("u2", B + 10, B + 10, 1),
                   ("u2", B + 5000, B + 5000, 1),
                   ("u2", B + 9000, B + 9000, 1)}, got


def test_streaming_delta_mode_matches_oracle(spark, wal, tmp_path):
    """Streaming with merge-on-read delta commits: each micro-batch
    appends O(batch) delta files; the drained state equals the oracle
    and compact() folds the deltas without changing it."""
    job = StreamingCDC(spark, wal, str(tmp_path / "lake"),
                       str(tmp_path / "cp"), num_buckets=8,
                       max_files_per_trigger=1, merge_mode="delta")
    job.run_available_now()
    table = job.table()
    got = sorted((r["url"], r["text"]) for r in table.read().collect())
    assert got == oracle_pairs(spark, wal)
    assert table._delta_buckets(table.head())
    table.compact()
    assert not table._delta_buckets(table.head())
    assert sorted((r["url"], r["text"])
                  for r in table.read().collect()) == got


def test_streaming_content_dedup_at_ingest(spark, tmp_path):
    """The streaming path shares the batch pipeline's dedup_index seam:
    a mirror url arriving in a LATER micro-batch is suppressed by the
    persistent index; deletes and NULL-text events bypass it."""
    import datetime as dt

    from embulk_filter_column_spark.operators import FingerprintIndex

    t1 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    t2 = dt.datetime(2026, 1, 2, tzinfo=dt.timezone.utc)
    rows = [
        ("I", 0, t1, "http://a", "alpha page content one"),
        ("I", 1, t1, "http://b", "beta page content two"),
        ("I", 2, t1, "http://c", None),
        ("I", 3, t2, "http://m", "alpha page content one"),  # mirror
        ("I", 4, t2, "http://d", "delta page content four"),
        ("D", 5, t2, "http://b", None),
    ]
    df = spark.createDataFrame(
        rows, "op string, seq long, warc_ts timestamp, url string, "
              "text string")
    wal_dir = str(tmp_path / "wal")
    write_wal(df, wal_dir, chunk_rows=3)
    idx = FingerprintIndex(spark, str(tmp_path / "idx"), num_buckets=4)
    job = StreamingCDC(spark, wal_dir, str(tmp_path / "lake"),
                       str(tmp_path / "cp"), num_buckets=4,
                       max_files_per_trigger=1, merge_mode="delta",
                       dedup_index=idx)
    job.run_available_now()
    state = {r["url"]: r["text"] for r in job.table().read().collect()}
    assert state == {"http://a": "alpha page content one",
                     "http://c": None,
                     "http://d": "delta page content four"}


def test_streaming_dlq(spark, tmp_path):
    """The streaming path shares the batch pipeline's dead-letter
    queue: malformed micro-batch events divert instead of merging."""
    import datetime as dt

    t1 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = [("I", 0, t1, "http://a", "alpha"),
            ("X", 1, t1, "http://badop", "beta"),
            ("I", 2, t1, None, "gamma")]
    df = spark.createDataFrame(
        rows, "op string, seq long, warc_ts timestamp, url string, "
              "text string")
    wal_dir = str(tmp_path / "wal")
    write_wal(df, wal_dir, chunk_rows=3)
    lake_dir = str(tmp_path / "lake")
    job = StreamingCDC(spark, wal_dir, lake_dir,
                       str(tmp_path / "cp"), num_buckets=4,
                       dlq_path=str(tmp_path / "dlq"))
    job.run_available_now()
    assert {r["url"] for r in job.table().read().collect()} \
        == {"http://a"}
    assert {r["seq"]: r["_dlq_reason"] for r in job.dlq().collect()} \
        == {1: "bad_op", 2: "null_key"}
    assert sum(r["dlq_rows"] for r in
               BatchJournal(spark, lake_dir).metrics().collect()) == 2
