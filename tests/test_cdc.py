"""CDC end-to-end: replay → final state vs order-independent pandas
oracle; exactly-once resume; schema evolution mid-stream (SURVEY.md §5
engine test strategy #5)."""

import os

import pytest

from embulk_filter_column_spark.cdc import CDCPipeline, LakeTable
from embulk_filter_column_spark.errors import EngineError
from embulk_filter_column_spark.sources import web_change_events, write_wal

N_EVENTS = 2000
CHUNK_ROWS = 500


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wal"))
    events = web_change_events(spark, N_EVENTS, n_domains=20,
                               pages_per_domain=10, seed=42)
    n_chunks = write_wal(events, path, chunk_rows=CHUNK_ROWS)
    assert n_chunks == N_EVENTS // CHUNK_ROWS
    return path


def oracle_state(spark, wal_path):
    """Pandas reference: per-url winner by (warc_ts, seq); drop deletes."""
    pdf = spark.read.parquet(wal_path).drop("chunk").toPandas()
    pdf = pdf.sort_values(["warc_ts", "seq"])
    winners = pdf.groupby("url", as_index=False).last()
    return winners[winners["op"] != "D"]


def final_pairs(df):
    return sorted((r["url"], r["text"]) for r in df.collect())


def test_replay_matches_oracle(spark, wal, tmp_path):
    lake_dir, cp_dir = str(tmp_path / "lake"), str(tmp_path / "cp")
    pipe = CDCPipeline(spark, wal, lake_dir, cp_dir, num_buckets=8)
    results = pipe.run()
    assert len(results) == 4
    assert all(not r.skipped for r in results)

    got = final_pairs(pipe.table().read())
    want = oracle_state(spark, wal)
    assert got == sorted(zip(want["url"], want["text"]))  # byte-identical
    # lineage/metrics recorded per batch
    assert pipe.journal.lineage().count() == 4
    m = pipe.journal.metrics().toPandas()
    assert m["rows_in"].sum() == N_EVENTS


def test_rerun_is_idempotent(spark, wal, tmp_path):
    lake_dir, cp_dir = str(tmp_path / "lake"), str(tmp_path / "cp")
    pipe = CDCPipeline(spark, wal, lake_dir, cp_dir, num_buckets=8)
    pipe.run()
    snap_before = pipe.table().head()["snapshot_id"]
    state_before = final_pairs(pipe.table().read())

    # 1) re-run with intact checkpoint: nothing to do
    assert CDCPipeline(spark, wal, lake_dir, cp_dir).run() == []

    # 2) crash-between-commit-and-checkpoint simulation: wipe the
    # checkpoint so every batch replays — the lake must skip them all
    os.remove(os.path.join(cp_dir, "checkpoint.json"))
    replayed = CDCPipeline(spark, wal, lake_dir, cp_dir,
                           num_buckets=8).run()
    assert len(replayed) == 4 and all(r.skipped for r in replayed)
    assert pipe.table().head()["snapshot_id"] == snap_before
    assert final_pairs(pipe.table().read()) == state_before
    # the skipped replay keeps one journal row per batch, with the
    # counts of the merges that applied
    assert pipe.journal.lineage().count() == 4
    assert pipe.journal.metrics().toPandas()["rows_in"].sum() == N_EVENTS


def test_kill_and_resume(spark, wal, tmp_path):
    lake_dir, cp_dir = str(tmp_path / "lake"), str(tmp_path / "cp")
    first = CDCPipeline(spark, wal, lake_dir, cp_dir, num_buckets=8)
    assert len(first.run(max_batches=2)) == 2

    resumed = CDCPipeline(spark, wal, lake_dir, cp_dir, num_buckets=8)
    assert len(resumed.run()) == 2

    want = oracle_state(spark, wal)
    assert final_pairs(resumed.table().read()) == \
        sorted(zip(want["url"], want["text"]))


def test_kill_and_resume_on_file_uris(spark, tmp_path, monkeypatch):
    """Exactly-once resume with every path a ``file://`` URI: the WAL
    listing, checkpoint, journal, DLQ and dedup index all take the
    Hadoop branch of ``fsio`` and land where the URI names — nothing
    under the driver's cwd."""
    from embulk_filter_column_spark.operators.incremental import (
        FingerprintIndex,
    )

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)

    def uri(name):
        return "file://" + str(tmp_path / name)

    events = web_change_events(spark, N_EVENTS, n_domains=20,
                               pages_per_domain=10, seed=42)
    assert write_wal(events, uri("wal"), chunk_rows=CHUNK_ROWS) == 4

    def pipeline():
        return CDCPipeline(
            spark, uri("wal"), uri("lake"), uri("cp"), num_buckets=8,
            dlq_path=uri("dlq"),
            dedup_index=FingerprintIndex(spark, uri("idx"), num_buckets=4))

    assert len(pipeline().run(max_batches=2)) == 2
    resumed = pipeline()
    assert len(resumed.run()) == 2

    want = oracle_state(spark, uri("wal"))
    assert final_pairs(resumed.table().read()) == \
        sorted(zip(want["url"], want["text"]))
    assert os.path.isfile(tmp_path / "cp" / "checkpoint.json")
    assert not os.path.exists(cwd / "file:")
    assert resumed.journal.lineage().count() == 4


def test_projection_inside_pipeline(spark, wal, tmp_path):
    # column rules applied per batch: keep envelope + rename text→body
    cfg = {"columns": [
        {"name": "op"}, {"name": "seq"}, {"name": "url"},
        {"name": "warc_ts"},
        {"name": "body", "src": "text"},
        {"name": "lang", "default": "und"},
    ]}
    pipe = CDCPipeline(spark, wal, str(tmp_path / "lake"),
                       str(tmp_path / "cp"), filter_config=cfg,
                       num_buckets=8)
    pipe.run()
    table = pipe.table().read()
    assert set(table.columns) == {"seq", "url", "warc_ts", "body", "lang"}
    want = oracle_state(spark, wal)
    got = sorted((r["url"], r["body"]) for r in table.collect())
    assert got == sorted(zip(want["url"], want["text"]))
    assert table.where("lang = 'und'").count() == 0  # defaults on null only


def test_envelope_must_survive_projection(spark, wal, tmp_path):
    pipe = CDCPipeline(spark, wal, str(tmp_path / "lake"),
                       str(tmp_path / "cp"),
                       filter_config={"columns": [{"name": "url"},
                                                  {"name": "op"}]})
    # a retry on the same pipeline reuses the compiled rule tree and
    # must still refuse it
    for _ in range(2):
        with pytest.raises(EngineError, match="envelope"):
            pipe.run()


def test_schema_evolution_mid_stream(spark, wal, tmp_path):
    base = {"columns": [
        {"name": "op"}, {"name": "seq"}, {"name": "url"},
        {"name": "warc_ts"}, {"name": "text"}, {"name": "lang"},
    ]}
    evolved = {"columns": [
        {"name": "op"}, {"name": "seq"}, {"name": "url"},
        {"name": "warc_ts"},
        {"name": "body", "src": "text"},          # rename text → body
        {"name": "quality", "type": "double", "default": 1.0},  # add
    ]}                                            # drop lang
    pipe = CDCPipeline(spark, wal, str(tmp_path / "lake"),
                       str(tmp_path / "cp"),
                       config_schedule={0: base, 2: evolved},
                       num_buckets=8)
    results = pipe.run()
    assert len(results) == 4

    lake = pipe.table()
    fields = [f.name for f in lake.schema().fields]
    assert fields == ["seq", "url", "warc_ts", "body", "quality"]

    table = lake.read()
    want = oracle_state(spark, wal)
    got = sorted((r["url"], r["body"]) for r in table.collect())
    assert got == sorted(zip(want["url"], want["text"]))

    # rows written before the evolution read back with body == old text
    # (rename chain) and NULL quality backfill... quality is an add rule
    # with default — new rows get 1.0, pre-evolution files read as NULL
    quality = {r["url"]: r["quality"] for r in table.collect()}
    assert set(quality.values()) <= {None, 1.0}
    assert None in quality.values() and 1.0 in quality.values()


def test_salted_lww_equals_plain_on_hot_keys(spark):
    """Two-stage salted LWW must be result-identical to the single-stage
    aggregate under extreme key skew (one key owns ~90% of events)."""
    from pyspark.sql import functions as F

    from embulk_filter_column_spark.cdc.dedup import (
        hot_keys,
        last_writer_wins,
        salted_last_writer_wins,
    )

    n = 20_000
    df = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, "https://hot.example.com/")
         .otherwise(F.concat(F.lit("https://cold"),
                             F.pmod(F.col("id"), F.lit(50)),
                             F.lit(".example.com/"))).alias("url"),
        F.col("id").alias("seq"),
        F.timestamp_seconds(F.pmod(F.xxhash64("id"), F.lit(10_000)))
         .alias("warc_ts"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"))

    plain = {(r["url"], r["seq"], r["text"]) for r in
             last_writer_wins(df).collect()}
    salted = {(r["url"], r["seq"], r["text"]) for r in
              salted_last_writer_wins(df, n_salts=8).collect()}
    # cold ids are ≡9 mod 10, so pmod(id, 50) hits {9,19,29,39,49}:
    # 5 cold urls + the hot one
    assert plain == salted and len(plain) == 6

    hot = hot_keys(df, fraction=0.1, min_share=0.05)
    assert hot == ["https://hot.example.com/"]


def test_pipeline_with_salting_matches_oracle(spark, wal, tmp_path):
    pipe = CDCPipeline(spark, wal, str(tmp_path / "lake"),
                       str(tmp_path / "cp"), num_buckets=8, n_salts=4)
    pipe.run()
    want = oracle_state(spark, wal)
    got = final_pairs(pipe.table().read())
    assert got == sorted(zip(want["url"], want["text"]))


def test_replay_with_json_rules(spark, tmp_path):
    """Envelope with the extra json payload column (SURVEY.md §1.4):
    JSONPath keep/reorder/default rules applied per batch, LWW winner's
    transformed meta in the final state."""
    import json

    from pyspark.sql import functions as F

    from embulk_filter_column_spark.sources import (
        web_change_events,
        write_wal,
    )

    wal = str(tmp_path / "wal")
    ev = web_change_events(spark, 1000, n_domains=10, pages_per_domain=5,
                           seed=7, with_meta=True)
    assert "meta" in ev.columns
    write_wal(ev, wal, chunk_rows=500)

    cfg = {"json_columns": ["meta"], "columns": [
        {"name": "op"}, {"name": "seq"}, {"name": "url"},
        {"name": "warc_ts"}, {"name": "text"},
        {"name": "meta"},
        {"name": "$.meta.title"},
        {"name": "$.meta.tags"},
        {"name": "$.meta.quality", "type": "double", "default": 0.5},
    ]}
    pipe = CDCPipeline(spark, wal, str(tmp_path / "lake"),
                       str(tmp_path / "cp"), filter_config=cfg,
                       num_buckets=4)
    pipe.run()
    rows = pipe.table().read().collect()
    assert rows

    # oracle: winner per url from the raw events, meta reshaped in rule
    # order (title, tags, quality-default), 'crawl'/'noise' dropped
    pdf = ev.toPandas().sort_values(["warc_ts", "seq"])
    winners = pdf.groupby("url", as_index=False).last()
    winners = winners[winners["op"] != "D"].set_index("url")
    for r in rows:
        want_raw = winners.loc[r["url"], "meta"]
        if want_raw is None:
            assert r["meta"] is None
            continue
        d = json.loads(want_raw)
        want = json.dumps(
            {"title": d["title"], "tags": d["tags"], "quality": 0.5},
            separators=(",", ":"))
        assert r["meta"] == want


def test_rebucket_mid_stream(spark, wal, tmp_path):
    """Raise the bucket count between batches (VERDICT r1 item 5): the
    rebucket snapshot must preserve tombstones and the committed batch
    id, and subsequent merges must use the new bucket count; the final
    state must still equal the order-independent oracle."""
    lake_dir, cp_dir = str(tmp_path / "lake"), str(tmp_path / "cp")
    pipe = CDCPipeline(spark, wal, lake_dir, cp_dir, num_buckets=4,
                       chunks_per_batch=1)
    pipe.run(max_batches=2)

    lake = pipe.table()
    batch_before = lake.committed_batch_id
    snap = lake.rebucket(16)
    m = lake.head()
    assert m["snapshot_id"] == snap
    assert m["num_buckets"] == 16
    assert lake.committed_batch_id == batch_before
    # no-op rebucket does not create a snapshot
    assert lake.rebucket(16) == snap

    # resume the replay; merges now write under 16 buckets
    pipe2 = CDCPipeline(spark, wal, lake_dir, cp_dir, chunks_per_batch=1)
    results = pipe2.run()
    assert results and all(not r.skipped for r in results)
    assert max(int(b) for b in lake.head()["buckets"]) >= 4

    got = final_pairs(pipe2.table().read())
    want = oracle_state(spark, wal)
    assert got == sorted(zip(want["url"], want["text"]))


def test_wal_read_scoped_to_requested_chunks(spark, wal):
    """read_chunks must construct the scan from the requested chunk=N
    directories only (VERDICT r1 item 4): the file index of the plan
    lists no other chunk's files, so per-batch planning cost is
    O(chunks in batch), not O(all chunks)."""
    from embulk_filter_column_spark.cdc import WalReader

    reader = WalReader(spark, wal)
    got = reader.read_chunks(1, 3)
    files = got.inputFiles()
    assert files
    assert all(("chunk=1" in f) or ("chunk=2" in f) for f in files), files
    assert got.count() == 2 * CHUNK_ROWS
    # empty range keeps the schema, reads nothing
    empty = reader.read_chunks(99, 100)
    assert empty.count() == 0
    assert empty.columns == got.columns


def test_time_travel_and_expire_snapshots(spark, wal, tmp_path):
    """read(snapshot_id=...) time-travels within the retained window;
    expire_snapshots deletes files pinned only by older snapshots while
    the current state stays byte-identical."""
    lake_dir, cp_dir = str(tmp_path / "lake"), str(tmp_path / "cp")
    pipe = CDCPipeline(spark, wal, lake_dir, cp_dir, num_buckets=4,
                       chunks_per_batch=1)
    pipe.run(max_batches=2)
    lake = pipe.table()
    snap_mid = lake.head()["snapshot_id"]
    mid_state = final_pairs(lake.read())
    pipe.run()  # remaining batches

    # time travel to the mid-replay snapshot
    assert final_pairs(lake.read(snapshot_id=snap_mid)) == mid_state
    final_state = final_pairs(lake.read())
    assert final_state != mid_state

    # expire: keep only the last snapshot; old files physically removed
    import glob as _glob
    files_before = len(_glob.glob(f"{lake_dir}/data/**/*.parquet",
                                  recursive=True))
    removed = lake.expire_snapshots(keep_last=1)
    assert removed > 0
    files_after = len(_glob.glob(f"{lake_dir}/data/**/*.parquet",
                                 recursive=True))
    assert files_after == files_before - removed
    assert final_pairs(lake.read()) == final_state
    with pytest.raises(EngineError, match="expired"):
        lake.read(snapshot_id=snap_mid)

    # resume after expiry is still a no-op (checkpoint + batch id intact)
    pipe2 = CDCPipeline(spark, wal, lake_dir, cp_dir, chunks_per_batch=1)
    assert pipe2.run() == []


def test_expire_snapshots_prunes_dead_attempt_directories(spark, wal,
                                                          tmp_path):
    """expire_snapshots deletes every file under data/ that is neither a
    retained parquet file nor its .crc sidecar: no attempt directory
    survives as a shell of _SUCCESS and .crc files."""
    lake_dir = str(tmp_path / "lake")
    pipe = CDCPipeline(spark, wal, lake_dir, str(tmp_path / "cp"),
                       num_buckets=4, chunks_per_batch=1)
    pipe.run(max_batches=2)
    lake = pipe.table()
    state = final_pairs(lake.read())
    lake.expire_snapshots(keep_last=1)
    live = {e["path"] for files in lake.head()["buckets"].values()
            for e in files}
    keep = live | {os.path.join(os.path.dirname(p),
                                "." + os.path.basename(p) + ".crc")
                   for p in live}
    data = os.path.join(lake_dir, "data")
    for attempt in os.listdir(data):
        files = {os.path.relpath(os.path.join(d, f), lake_dir)
                 for d, _, names in os.walk(os.path.join(data, attempt))
                 for f in names}
        assert files & live, (attempt, sorted(files))
        assert files <= keep, (attempt, sorted(files - keep))
    assert final_pairs(lake.read()) == state


def test_concurrent_commit_detected(spark, wal, tmp_path):
    """Best-effort optimistic concurrency: a commit derived from a stale
    HEAD is refused instead of silently clobbering another writer's
    snapshot."""
    lake_dir, cp_dir = str(tmp_path / "lake"), str(tmp_path / "cp")
    pipe = CDCPipeline(spark, wal, lake_dir, cp_dir, num_buckets=4,
                       chunks_per_batch=1)
    pipe.run(max_batches=2)
    lake = pipe.table()
    head = lake.head()["snapshot_id"]
    with pytest.raises(EngineError, match="concurrent commit"):
        lake._commit_head(head + 5, expected_parent=head - 1)
    # correct parent still commits
    lake._commit_head(head, expected_parent=head)
    assert lake.head()["snapshot_id"] == head


def _url_events(spark, lo, hi, n_urls=40):
    """Inserts ``seq`` in [lo, hi) over ``n_urls`` urls."""
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.lit("I").alias("op"),
        F.col("id").alias("seq"),
        F.concat(F.lit("https://s"), F.pmod(F.col("id"), F.lit(n_urls)),
                 F.lit(".example.com/")).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id"))
         .alias("warc_ts"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"))


@pytest.mark.parametrize("op", ["cow_merge", "delta_merge", "compact",
                                "rebucket", "evolve", "rollback"])
def test_stale_writer_leaves_committed_snapshot_intact(spark, tmp_path, op):
    """A writer working from a stale HEAD is refused before it touches
    the snapshot committed in between: that snapshot keeps its manifest
    and its data files, whichever commit path the stale writer takes."""
    import copy

    from pyspark.sql import types as T

    lake_dir = str(tmp_path / "lake")
    events = _url_events(spark, 0, 200)
    lake = LakeTable.create(spark, lake_dir, events.drop("op").schema,
                            num_buckets=4)
    lake.merge(events.where("seq < 100"), batch_id=1)
    lake.merge(events.where("seq >= 100"), batch_id=2, mode="delta")
    stale = lake.head()
    # another writer commits snapshot 3
    lake.merge(_url_events(spark, 200, 260), batch_id=3)
    committed = lake.head()
    state = final_pairs(lake.read())

    writer = LakeTable(spark, lake_dir)
    writer.head = lambda: copy.deepcopy(stale)
    assert writer._delta_buckets(writer.head())  # compact has work
    batch = _url_events(spark, 300, 330)
    wider = T.StructType(writer.schema().fields
                         + [T.StructField("extra", T.StringType())])
    attempt = {
        "cow_merge": lambda: writer.merge(batch, batch_id=4),
        "delta_merge": lambda: writer.merge(batch, batch_id=4,
                                            mode="delta"),
        "compact": writer.compact,
        "rebucket": lambda: writer.rebucket(8),
        "evolve": lambda: writer.evolve(wider),
        "rollback": lambda: writer.rollback(1),
    }[op]
    with pytest.raises(EngineError, match="concurrent commit"):
        attempt()
    assert lake.head() == committed
    assert lake.snapshot_ids() == [0, 1, 2, 3]
    assert final_pairs(lake.read()) == state


def test_changelog_between_snapshots(spark, wal, tmp_path):
    """changes(s1, s2) = per-key diff with insert/update/delete types;
    composing consecutive changelogs onto the old state reproduces the
    new state."""
    lake_dir, cp_dir = str(tmp_path / "lake"), str(tmp_path / "cp")
    pipe = CDCPipeline(spark, wal, lake_dir, cp_dir, num_buckets=4,
                       chunks_per_batch=2)
    pipe.run(max_batches=1)
    lake = pipe.table()
    s1 = lake.head()["snapshot_id"]
    state1 = {r["url"]: r["seq"] for r in lake.read().collect()}
    pipe.run()
    s2 = lake.head()["snapshot_id"]
    state2 = {r["url"]: r["seq"] for r in lake.read().collect()}

    ch = lake.changes(s1, s2).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], {})[r["url"]] = r["seq"]

    ins = by_type.get("insert", {})
    upd = by_type.get("update", {})
    dels = by_type.get("delete", {})
    assert set(ins) == set(state2) - set(state1)
    assert set(dels) == set(state1) - set(state2)
    for u in upd:
        # seq is the event's global id, so an updated key's winner
        # always changes it
        assert state1[u] != state2[u]
        assert upd[u] == state2[u]
    # unchanged keys never appear
    changed = set(ins) | set(upd) | set(dels)
    unchanged = {u for u in state1 if u in state2
                 and state1[u] == state2[u]}
    assert not (changed & unchanged)
    # replaying the diff onto state1 yields state2
    rebuilt = dict(state1)
    rebuilt.update({u: ins[u] for u in ins})
    rebuilt.update({u: upd[u] for u in upd})
    for u in dels:
        rebuilt.pop(u)
    assert rebuilt == state2


def test_changelog_across_schema_evolution(spark, wal, tmp_path):
    """changes() spanning an evolve() (ADVICE r2): the FROM side must be
    aligned to the TO snapshot's schema — renamed columns compare as the
    same column (NOT insert+delete), added columns null-fill, and the
    changelog carries the TO schema."""
    base = {"columns": [
        {"name": "op"}, {"name": "seq"}, {"name": "url"},
        {"name": "warc_ts"}, {"name": "text"}, {"name": "lang"},
    ]}
    evolved = {"columns": [
        {"name": "op"}, {"name": "seq"}, {"name": "url"},
        {"name": "warc_ts"},
        {"name": "body", "src": "text"},
        {"name": "quality", "type": "double", "default": 1.0},
    ]}
    pipe = CDCPipeline(spark, wal, str(tmp_path / "lake"),
                       str(tmp_path / "cp"),
                       config_schedule={0: base, 2: evolved},
                       num_buckets=8)
    pipe.run(max_batches=1)
    lake = pipe.table()
    s1 = lake.head()["snapshot_id"]
    state1 = {r["url"]: r["text"] for r in lake.read().collect()}
    pipe.run()
    s2 = lake.head()["snapshot_id"]
    state2 = {r["url"]: r["body"] for r in lake.read().collect()}

    ch = lake.changes(s1, s2)
    # TO-side schema (rename applied, added column present)
    assert "body" in ch.columns and "quality" in ch.columns
    assert "text" not in ch.columns
    rows = ch.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["_change_type"], {})[r["url"]] = r["body"]
    ins = by_type.get("insert", {})
    dels = by_type.get("delete", {})
    # a rename must NOT misreport surviving keys as insert+delete
    assert set(ins) == set(state2) - set(state1)
    assert set(dels) == set(state1) - set(state2)
    # updates carry the TO payload under the new column name
    for u, body in by_type.get("update", {}).items():
        assert body == state2[u]


def test_changelog_reads_only_touched_buckets(spark, tmp_path):
    """Manifest-pruned changes() (VERDICT r2 item 4): an adjacent-
    snapshot changelog must read only the buckets whose manifest file
    lists differ — O(touched), not O(table)."""
    from pyspark.sql import functions as F

    lake_dir = str(tmp_path / "lake")
    events = web_change_events(spark, 2000, n_domains=20,
                               pages_per_domain=10, seed=1)
    lake = LakeTable.create(
        spark, lake_dir,
        schema=events.drop("op").schema, key="url",
        order=("warc_ts", "seq"), num_buckets=16)
    lake.merge(events, batch_id=1)
    s1 = lake.head()["snapshot_id"]
    m1 = lake.manifest(s1)

    # a second batch touching ONE live url → one bucket rewritten
    one = (lake.read().orderBy("url").limit(1)
           .withColumn("seq", F.col("seq") + 1_000_000)
           .withColumn("text", F.lit("updated body"))
           .withColumn("op", F.lit("I")))
    lake.merge(one, batch_id=2)
    s2 = lake.head()["snapshot_id"]
    m2 = lake.manifest(s2)

    differing = {b for b in set(m1["buckets"]) | set(m2["buckets"])
                 if m1["buckets"].get(b) != m2["buckets"].get(b)}
    assert 0 < len(differing) < m2["num_buckets"]

    ch = lake.changes(s1, s2)
    allowed = set()
    for m in (m1, m2):
        for b in differing:
            for e in m["buckets"].get(b, []):
                allowed.add(os.path.join(lake_dir, e["path"]))
    read_files = {f[len("file://"):] if f.startswith("file://") else f
                  for f in ch.inputFiles()}
    norm_allowed = set(allowed)
    assert read_files, "changelog scan must read the touched buckets"
    assert read_files <= norm_allowed, (
        read_files - norm_allowed)
    # and the changelog itself is correct
    got = {(r["url"], r["_change_type"]) for r in ch.collect()}
    assert got == {(one.first()["url"], "update")}


def test_auto_salting_engages_on_viral_key(spark, tmp_path):
    """n_salts="auto" (VERDICT r2 item 5): a planted viral url (~60% of
    every batch) trips the sampled-frequency trigger, the salted LWW
    path engages, and the replayed state still matches the oracle."""
    from pyspark.sql import functions as F

    n = 4000
    viral = "https://viral.example.com/"
    events = (spark.range(n).select(
        F.lit("I").alias("op"),
        F.col("id").alias("seq"),
        F.when(F.col("id") % 10 < 6, viral)
         .otherwise(F.concat(F.lit("https://cold"),
                             F.pmod(F.col("id"), F.lit(200)),
                             F.lit(".example.com/"))).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id"))
         .alias("warc_ts"),
        F.sha2(F.col("id").cast("string"), 256).alias("text")))
    wal_dir = str(tmp_path / "wal")
    write_wal(events, wal_dir, chunk_rows=1000)

    pipe = CDCPipeline(
        spark, wal_dir, str(tmp_path / "lake"), str(tmp_path / "cp"),
        filter_config={"columns": [
            {"name": "op"}, {"name": "seq"}, {"name": "url"},
            {"name": "warc_ts"}, {"name": "text"}]},
        num_buckets=8, chunks_per_batch=2, n_salts="auto",
        hot_key_fraction=0.5)
    pipe.run()

    salted = [r["salted"] for r in pipe.journal.metrics().collect()]
    assert salted, "auto mode must record a decision per batch"
    assert all(salted), salted

    want = oracle_state(spark, wal_dir)
    got = final_pairs(pipe.table().read())
    assert got == sorted(zip(want["url"], want["text"]))


def test_auto_salting_stays_off_on_uniform_keys(spark, tmp_path):
    """Uniform key distribution must NOT engage the two-stage path (it
    costs an extra shuffle)."""
    from pyspark.sql import functions as F

    n = 4000
    events = (spark.range(n).select(
        F.lit("I").alias("op"),
        F.col("id").alias("seq"),
        F.concat(F.lit("https://u"), F.pmod(F.col("id"), F.lit(1000)),
                 F.lit(".example.com/")).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id"))
         .alias("warc_ts"),
        F.sha2(F.col("id").cast("string"), 256).alias("text")))
    wal_dir = str(tmp_path / "wal")
    write_wal(events, wal_dir, chunk_rows=2000)

    pipe = CDCPipeline(
        spark, wal_dir, str(tmp_path / "lake"), str(tmp_path / "cp"),
        filter_config={"columns": [
            {"name": "op"}, {"name": "seq"}, {"name": "url"},
            {"name": "warc_ts"}, {"name": "text"}]},
        num_buckets=8, chunks_per_batch=2, n_salts="auto",
        hot_key_fraction=0.5)
    pipe.run()
    salted = [r["salted"] for r in pipe.journal.metrics().collect()]
    assert salted
    assert not any(salted), salted


def test_hot_keys_needs_a_measurable_sample(spark):
    """1 % of 1,500 near-uniform events is ~15 sampled rows; 5 % of that
    is under one event, so without a floor every sampled key would count
    as hot. A sample too small to measure min_share reports none."""
    from pyspark.sql import functions as F

    from embulk_filter_column_spark.cdc.dedup import hot_keys

    events = spark.range(1500).select(
        F.concat(F.lit("https://u"), F.pmod(F.col("id"), F.lit(700)),
                 F.lit(".example.com/")).alias("url"))
    assert hot_keys(events, fraction=0.01, min_share=0.05) == []


def _viral_then_uniform_events(spark, n_chunks, chunk_rows):
    """Chunk 0: 60 % of events on one viral url; later chunks: uniform
    over 500 urls."""
    from pyspark.sql import functions as F

    in_first = F.col("id") < chunk_rows
    return spark.range(n_chunks * chunk_rows).select(
        F.lit("I").alias("op"),
        F.col("id").alias("seq"),
        F.when(in_first & (F.col("id") % 10 < 6),
               "https://viral.example.com/")
         .otherwise(F.concat(F.lit("https://u"),
                             F.pmod(F.col("id"), F.lit(500)),
                             F.lit(".example.com/"))).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id"))
         .alias("warc_ts"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"))


def test_auto_salting_lags_one_batch(spark, tmp_path):
    """n_salts="auto" decides batch n from batch n-1's merge: the first
    batch is probed (viral key: salted), the second follows the first
    merge's observed busiest-key share (salted), the third follows the
    uniform second batch (not salted). The state matches the oracle,
    and the observed figures do not depend on salting."""
    events = _viral_then_uniform_events(spark, 3, 1000)
    wal_dir = str(tmp_path / "wal")
    write_wal(events, wal_dir, chunk_rows=1000)

    pipe = CDCPipeline(
        spark, wal_dir, str(tmp_path / "lake"), str(tmp_path / "cp"),
        num_buckets=8, n_salts="auto", hot_key_fraction=0.5)
    results = pipe.run()
    assert sorted((r["batch_id"], r["salted"], r["n_hot_keys"])
                  for r in pipe.journal.metrics().collect()) == \
        [(1, True, 1), (2, True, 1), (3, False, 0)]
    assert [(r.rows_in, r.top_key_events) for r in results] == \
        [(1000, 600), (1000, 2), (1000, 2)]
    want = oracle_state(spark, wal_dir)
    assert final_pairs(pipe.table().read()) == \
        sorted(zip(want["url"], want["text"]))

    first = spark.read.parquet(wal_dir).where("chunk = 0").drop("chunk")
    for mode in ("cow", "delta"):
        observed = set()
        for n_salts in (None, 4):
            lake = LakeTable.create(
                spark, str(tmp_path / ("%s-%s" % (mode, n_salts))),
                first.drop("op").schema, num_buckets=8)
            r = lake.merge(first, 1, n_salts=n_salts, mode=mode)
            observed.add((r.rows_in, r.winners, r.top_key_events))
        assert observed == {(1000, 201, 600)}, (mode, observed)


@pytest.mark.parametrize("mode", ["cow", "delta"])
def test_merge_counts_only_the_batch_keys(spark, tmp_path, mode):
    """MergeResult.winners / tombstones are the batch's keys and their
    resolved 'D' ops under both merge modes: a cow rewrite of a 20-row
    bucket (one row a tombstone) must not count the rows it carries
    over."""
    from pyspark.sql import functions as F

    def events(keys, op, seq):
        return spark.createDataFrame(
            [(op, seq + k, "https://u%d.example.com/" % k, "t%d" % k)
             for k in keys], "op string, seq long, url string, text string") \
            .withColumn("warc_ts", F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("seq")))

    seed = events(range(19), "I", 0).unionByName(events([19], "D", 0))
    lake = LakeTable.create(spark, str(tmp_path / "lake"),
                            seed.drop("op").schema, num_buckets=1)
    r = lake.merge(seed, 1, mode=mode)
    assert (r.rows_in, r.winners, r.tombstones) == (20, 20, 1)
    r = lake.merge(events([100], "I", 1000), 2, mode=mode)
    assert (r.rows_in, r.winners, r.tombstones) == (1, 1, 0)
    r = lake.merge(events([3, 3], "D", 1000), 3, mode=mode)
    assert (r.rows_in, r.winners, r.tombstones) == (2, 1, 1)
    assert lake.read().count() == 19


def _batch_jobs(spark, group, fn):
    """Spark jobs ``fn`` runs, counted through its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_trickle_batch_job_floor(spark, tmp_path):
    """The per-batch Spark-job floor of a trickle pipeline (delta
    merges, FingerprintIndex content dedup, DLQ, auto-salting): no job
    may exist only to produce a number. A steady-state batch runs at
    most 14 jobs, and a probing FingerprintIndex.dedup_ids call (the
    index already holds data) at most 7."""
    from pyspark.sql import functions as F

    from embulk_filter_column_spark.operators.incremental import (
        FingerprintIndex,
    )

    events = spark.range(4 * 300).select(
        F.when(F.col("id") % 50 == 7, "X").otherwise("I").alias("op"),
        F.col("id").alias("seq"),
        F.concat(F.lit("https://u"), F.pmod(F.col("id"), F.lit(400)),
                 F.lit(".example.com/")).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id"))
         .alias("warc_ts"),
        F.concat(F.lit("page "), F.pmod(F.col("id"), F.lit(900))
                 .cast("string")).alias("text"))
    wal_dir = str(tmp_path / "wal")
    write_wal(events, wal_dir, chunk_rows=300)
    pipe = CDCPipeline(
        spark, wal_dir, str(tmp_path / "lake"), str(tmp_path / "cp"),
        num_buckets=8, merge_mode="delta", n_salts="auto",
        dedup_index=FingerprintIndex(spark, str(tmp_path / "idx"),
                                     num_buckets=8),
        dlq_path=str(tmp_path / "dlq"))
    pipe.run(max_batches=2)
    jobs = _batch_jobs(spark, "cdc-floor-batch",
                       lambda: pipe.run(max_batches=1))
    assert jobs <= 14, jobs
    assert [r["salted"] for r in pipe.journal.metrics().collect()] == \
        [False] * 3

    idx = FingerprintIndex(spark, str(tmp_path / "idx2"), num_buckets=8)
    docs = events.select(F.col("seq").alias("doc_id"), "text")
    idx.dedup_ids(docs.where("seq < 600"), batch_id="b1")
    jobs = _batch_jobs(
        spark, "cdc-floor-dedup",
        lambda: idx.dedup_ids(docs.where("seq >= 600"), batch_id="b2"))
    assert jobs <= 7, jobs


def _near_dup_docs(spark, lo, hi):
    """Documents ``lo..hi-1`` of 24 words: every third one repeats the
    previous document with its last word changed (shingle Jaccard
    21/23), so it is a near-duplicate but not an exact copy."""
    def text(i):
        base = i - 1 if i % 3 == 0 else i
        ws = ["w%d_%d" % (base, k) for k in range(24)]
        if base != i:
            ws[-1] = "changed"
        return " ".join(ws)

    return spark.createDataFrame([(i, text(i)) for i in range(lo, hi)],
                                 "doc_id long, text string")


@pytest.mark.parametrize("cls", ["FingerprintIndex", "MinHashIndex"])
def test_index_replay_runs_no_job(spark, tmp_path, cls):
    """Replaying a journaled dedup_ids whose index append completed
    reads the journal parts under the schemas its _COMMIT marker
    records: no Spark job at all (an inferred read-back would cost one
    schema-inference job), and the recorded survivors."""
    from embulk_filter_column_spark.operators import incremental

    idx = getattr(incremental, cls)(spark, str(tmp_path / "idx"),
                                    num_buckets=8)
    docs = _near_dup_docs(spark, 0, 30)
    want = sorted(r["doc_id"] for r in
                  idx.dedup_ids(docs, batch_id="b1").collect())
    replayed = []
    jobs = _batch_jobs(
        spark, "index-replay-" + cls,
        lambda: replayed.append(idx.dedup_ids(docs, batch_id="b1")))
    assert jobs == 0, jobs
    assert sorted(r["doc_id"] for r in replayed[0].collect()) == want


def test_minhash_probe_job_count(spark, tmp_path):
    """A probing MinHashIndex.dedup_ids (the index already holds data)
    reads every index and journal file under a declared schema: 32
    Spark jobs here. Inferring the schemas of its two journal read-backs
    and its band and shingle slices would add one job each (36)."""
    from embulk_filter_column_spark.operators import MinHashIndex

    idx = MinHashIndex(spark, str(tmp_path / "mh"), num_buckets=8)
    idx.dedup_ids(_near_dup_docs(spark, 0, 30), batch_id="b1")
    kept = []
    jobs = _batch_jobs(
        spark, "minhash-probe",
        lambda: kept.append(idx.dedup_ids(_near_dup_docs(spark, 30, 60),
                                          batch_id="b2")))
    assert jobs <= 33, jobs
    assert 0 < kept[0].count() < 30


def _data_bytes(lake_dir, snapshot_prefix=None):
    total = 0
    root = os.path.join(lake_dir, "data")
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            if snapshot_prefix and snapshot_prefix not in dirpath:
                continue
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def test_delta_merge_bounds_write_amplification(spark, tmp_path):
    """merge(mode="delta") (VERDICT r2 item 7): N tiny batches must
    write O(N × batch) bytes — NOT N × bucket-size rewrites — while the
    replayed state stays byte-identical to pure COW; compact() then
    folds the deltas and preserves the state."""
    from pyspark.sql import functions as F

    def mk_events(lo, hi):
        return (spark.range(lo, hi).select(
            F.lit("I").alias("op"),
            F.col("id").alias("seq"),
            F.concat(F.lit("https://site"),
                     F.pmod(F.col("id"), F.lit(10_000)),
                     F.lit(".example.com/")).alias("url"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id"))
             .alias("warc_ts"),
            F.sha2(F.col("id").cast("string"), 256).alias("text")))

    # seed both tables with the same big base batch: 10k distinct urls
    # over 2 buckets → ~5k rows per bucket, so one COW bucket rewrite
    # is a few hundred KB while a 1-row delta file is ~2 KB (the
    # parquet fixed overhead must not dominate the comparison)
    base = mk_events(0, 20_000)
    schema = base.drop("op").schema
    cow_dir, mor_dir = str(tmp_path / "cow"), str(tmp_path / "mor")
    cow = LakeTable.create(spark, cow_dir, schema, num_buckets=2)
    mor = LakeTable.create(spark, mor_dir, schema, num_buckets=2)
    cow.merge(base, batch_id=1)
    mor.merge(base, batch_id=1)
    base_bytes = _data_bytes(mor_dir)

    # 8 one-row trickle batches
    for i in range(8):
        one = mk_events(10_000 + i, 10_001 + i)
        cow.merge(one, batch_id=2 + i)
        mor.merge(one, batch_id=2 + i, mode="delta")

    cow_trickle = _data_bytes(cow_dir) - base_bytes
    # expire first so only live files are counted for COW too
    cow.expire_snapshots(keep_last=1)
    mor_growth = _data_bytes(mor_dir) - base_bytes
    cow_growth = _data_bytes(cow_dir) - base_bytes
    # COW rewrote whole buckets per batch; MOR wrote only the tiny
    # winner files. The MOR growth must be far below one bucket rewrite
    # per batch (conservative 10× margin to stay noise-proof).
    assert mor_growth * 10 < max(cow_trickle, cow_growth), \
        (mor_growth, cow_trickle, cow_growth)

    # states identical between the two modes
    def state(t):
        return sorted((r["url"], r["seq"], r["text"])
                      for r in t.read().collect())
    assert state(mor) == state(cow)

    # deltas are really there, then compact() folds them
    assert mor._delta_buckets(mor.head())
    want = state(mor)
    snap = mor.compact()
    assert snap == mor.head()["snapshot_id"]
    assert not mor._delta_buckets(mor.head())
    assert state(mor) == want
    # batch id preserved → replay of an old batch is still skipped
    assert mor.merge(mk_events(0, 10), batch_id=3).skipped


def test_delta_merge_with_deletes_and_changes(spark, tmp_path):
    """Tombstones delivered as deltas shadow base rows; changes() over a
    delta snapshot resolves merge-on-read state correctly."""
    from pyspark.sql import functions as F

    def mk(lo, hi, op="I"):
        return (spark.range(lo, hi).select(
            F.lit(op).alias("op"),
            F.col("id").alias("seq"),
            F.concat(F.lit("https://d"), F.pmod(F.col("id"), F.lit(10)),
                     F.lit(".example.com/")).alias("url"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id"))
             .alias("warc_ts"),
            F.sha2(F.col("id").cast("string"), 256).alias("text")))

    lake_dir = str(tmp_path / "lake")
    lake = LakeTable.create(spark, lake_dir, mk(0, 1).drop("op").schema,
                            num_buckets=4)
    lake.merge(mk(0, 100), batch_id=1)
    s1 = lake.head()["snapshot_id"]
    urls_before = {r["url"] for r in lake.read().collect()}
    assert len(urls_before) == 10

    # delete url d3 via a delta tombstone (seq beyond all base rows)
    dele = (mk(0, 1, op="D")
            .withColumn("url", F.lit("https://d3.example.com/"))
            .withColumn("seq", F.lit(10_000))
            .withColumn("warc_ts",
                        F.timestamp_seconds(F.lit(1_800_000_000))))
    lake.merge(dele, batch_id=2, mode="delta")
    s2 = lake.head()["snapshot_id"]

    after = {r["url"] for r in lake.read().collect()}
    assert after == urls_before - {"https://d3.example.com/"}

    ch = lake.changes(s1, s2).collect()
    assert {(r["url"], r["_change_type"]) for r in ch} == \
        {("https://d3.example.com/", "delete")}


def test_auto_compaction_bounds_delta_depth(spark, tmp_path):
    """compact_after_deltas: a trickle run must never let a bucket
    accumulate more than the threshold's worth of delta files, and the
    final state still matches the oracle."""
    from pyspark.sql import functions as F

    n = 3000
    events = (spark.range(n).select(
        F.lit("I").alias("op"),
        F.col("id").alias("seq"),
        F.concat(F.lit("https://c"), F.pmod(F.col("id"), F.lit(50)),
                 F.lit(".example.com/")).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id"))
         .alias("warc_ts"),
        F.sha2(F.col("id").cast("string"), 256).alias("text")))
    wal_dir = str(tmp_path / "wal")
    write_wal(events, wal_dir, chunk_rows=300)  # 10 trickle batches

    pipe = CDCPipeline(
        spark, wal_dir, str(tmp_path / "lake"), str(tmp_path / "cp"),
        filter_config={"columns": [
            {"name": "op"}, {"name": "seq"}, {"name": "url"},
            {"name": "warc_ts"}, {"name": "text"}]},
        num_buckets=4, chunks_per_batch=1,
        merge_mode="delta", compact_after_deltas=3)
    pipe.run()

    m = pipe.table().head()
    worst = max(sum(1 for e in files if e.get("delta"))
                for files in m["buckets"].values())
    assert worst < 3, worst

    want = oracle_state(spark, wal_dir)
    got = final_pairs(pipe.table().read())
    assert got == sorted(zip(want["url"], want["text"]))


def test_rollback_and_replay(spark, wal, tmp_path):
    """rollback(snapshot) + checkpoint reset re-applies every batch
    after the rollback point (bad-deploy recovery): final state equals
    a clean full run."""
    lake_dir, cp_dir = str(tmp_path / "lake"), str(tmp_path / "cp")
    pipe = CDCPipeline(spark, wal, lake_dir, cp_dir, num_buckets=8,
                       chunks_per_batch=1)
    first = pipe.run()
    lake = pipe.table()
    clean_state = final_pairs(lake.read())
    head = lake.head()
    assert head["batch_id"] == 4

    # roll back past the last two batches
    target = head["snapshot_id"] - 2
    new_snap = lake.rollback(target)
    assert lake.head()["batch_id"] == 2
    assert new_snap == head["snapshot_id"] + 1  # history stays linear
    assert final_pairs(lake.read()) != clean_state  # state moved

    # rolling back to the current head is a no-op
    assert lake.rollback(new_snap) == new_snap

    # checkpoint reset → replay: batches 1-2 skip, 3-4 re-apply
    os.remove(os.path.join(cp_dir, "checkpoint.json"))
    results = CDCPipeline(spark, wal, lake_dir, cp_dir, num_buckets=8,
                          chunks_per_batch=1).run()
    assert [r.skipped for r in results] == [True, True, False, False]
    assert final_pairs(lake.read()) == clean_state
    # one journal row per batch: the skipped batches keep their first
    # run's row, the re-applied ones name the replayed snapshots
    lineage = sorted((r["batch_id"], r["snapshot_id"])
                     for r in pipe.journal.lineage().collect())
    assert lineage == [(r.batch_id, r.snapshot_id)
                       for r in first[:2] + results[2:]]

    # the rest of the commit paths extend the same linear history:
    # evolve, a delta merge (re-merging every event leaves the state
    # as it is), compact and rebucket
    from pyspark.sql import types as T

    want = oracle_state(spark, wal)
    want = sorted(zip(want["url"], want["text"]))
    assert clean_state == want
    lake.evolve(T.StructType(lake.schema().fields
                             + [T.StructField("extra", T.StringType())]))
    lake.merge(spark.read.parquet(wal).drop("chunk"), batch_id=5,
               mode="delta")
    assert lake._delta_buckets(lake.head())
    assert final_pairs(lake.read()) == want
    lake.compact()
    assert not lake._delta_buckets(lake.head())
    assert final_pairs(lake.read()) == want
    lake.rebucket(4)
    assert lake.head()["num_buckets"] == 4
    assert final_pairs(lake.read()) == want
    ids = lake.snapshot_ids()
    assert ids == list(range(lake.head()["snapshot_id"] + 1))
    assert [lake.manifest(s)["parent"] for s in ids] == [None, *ids[:-1]]


def test_lake_on_file_scheme_uri_end_to_end(spark, tmp_path):
    """Remote-FS metadata (VERDICT r4 item 2): a lake whose path is a
    ``file://`` URI routes every manifest/HEAD/expiry operation through
    the Hadoop FileSystem API (the one scheme testable without a
    cluster exercises that code path end-to-end) — full lifecycle:
    create → cow merge → delta merge → evolve → changes → compact →
    time travel → rollback → expire, all against the URI."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    lake_dir = "file://" + str(tmp_path / "lake")
    events = web_change_events(spark, 600, n_domains=10,
                               pages_per_domain=6, seed=3)
    lake = LakeTable.create(spark, lake_dir,
                            schema=events.drop("op").schema, key="url",
                            order=("warc_ts", "seq"), num_buckets=8)
    assert LakeTable.exists(spark, lake_dir)
    r1 = lake.merge(events.where(F.col("seq") < 300), batch_id=1)
    assert not r1.skipped and r1.rows_in == 300
    # idempotent skip through the URI-backed HEAD
    assert lake.merge(events.where(F.col("seq") < 300),
                      batch_id=1).skipped
    r2 = lake.merge(events.where(F.col("seq") >= 300), batch_id=2,
                    mode="delta")
    s2 = lake.head()["snapshot_id"]
    state = {r["url"]: r["seq"] for r in lake.read().collect()}
    # oracle: plain last-writer-wins over all events
    want = {}
    for r in events.collect():
        prev = want.get(r["url"])
        if prev is None or (r["warc_ts"], r["seq"]) > prev[:2]:
            want[r["url"]] = (r["warc_ts"], r["seq"], r["op"])
    live = {u: v[1] for u, v in want.items() if v[2] != "D"}
    assert state == live

    # schema evolution + changelog through URI metadata
    new_schema = T.StructType(
        [f for f in events.drop("op").schema.fields] +
        [T.StructField("mime", T.StringType())])
    lake.evolve(new_schema)
    assert "mime" in lake.read().columns
    ch = lake.changes(s2 - 1, s2)
    assert ch.count() > 0
    # compact folds the delta files written by batch 2
    lake.compact()
    assert {r["url"]: r["seq"] for r in lake.read().collect()} == live
    # time travel, then expire everything but the compacted head —
    # the URI-routed walk/delete/empty-dir pruning must reclaim the
    # pre-compaction snapshots' files
    old = lake.read(snapshot_id=s2 - 1).count()
    assert old > 0
    removed = lake.expire_snapshots(keep_last=1)
    assert removed > 0
    assert {r["url"]: r["seq"] for r in lake.read().collect()} == live


def _dedup_wal(spark, path):
    """Two chunks (chunk_rows=3): batch 1 plants urls a/b plus a
    NULL-text url c; batch 2 plants a MIRROR of a's text under url m,
    one fresh url d, and a delete of b."""
    import datetime as dt

    t1 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    t2 = dt.datetime(2026, 1, 2, tzinfo=dt.timezone.utc)
    rows = [
        ("I", 0, t1, "http://a", "alpha page content one"),
        ("I", 1, t1, "http://b", "beta page content two"),
        ("I", 2, t1, "http://c", None),
        ("I", 3, t2, "http://m", "alpha page content one"),  # mirror of a
        ("I", 4, t2, "http://d", "delta page content four"),
        ("D", 5, t2, "http://b", None),
    ]
    df = spark.createDataFrame(
        rows, "op string, seq long, warc_ts timestamp, url string, "
              "text string")
    return write_wal(df, path, chunk_rows=3)


def test_content_dedup_at_ingest(spark, tmp_path):
    """dedup_index suppresses cross-url content duplicates at ingest;
    deletes and NULL-text events bypass the index."""
    from embulk_filter_column_spark.operators.incremental import (
        FingerprintIndex,
    )

    wal_dir = str(tmp_path / "wal")
    assert _dedup_wal(spark, wal_dir) == 2
    idx = FingerprintIndex(spark, str(tmp_path / "idx"), num_buckets=4)
    pipe = CDCPipeline(spark, wal_dir, str(tmp_path / "lake"),
                       str(tmp_path / "cp"), num_buckets=4,
                       chunks_per_batch=1, dedup_index=idx)
    results = pipe.run()
    assert len(results) == 2

    state = {r["url"]: r["text"] for r in pipe.table().read().collect()}
    # m suppressed (mirror content), b deleted, c's NULL text ingested
    assert state == {"http://a": "alpha page content one",
                     "http://c": None,
                     "http://d": "delta page content four"}


def test_content_dedup_replay_is_exactly_once(spark, tmp_path):
    """A second pipeline over the same WAL with a FRESH checkpoint and
    lake but the SAME index must converge to the identical final state:
    the index's batch journal replays the recorded accept/reject
    decisions instead of re-deciding against the mutated index (which
    would otherwise reject url a's content as already-seen)."""
    from embulk_filter_column_spark.operators.incremental import (
        FingerprintIndex,
    )

    wal_dir = str(tmp_path / "wal")
    _dedup_wal(spark, wal_dir)
    idx = FingerprintIndex(spark, str(tmp_path / "idx"), num_buckets=4)
    first = CDCPipeline(spark, wal_dir, str(tmp_path / "lake1"),
                        str(tmp_path / "cp1"), num_buckets=4,
                        chunks_per_batch=1, dedup_index=idx)
    first.run()
    want = {r["url"]: r["text"] for r in first.table().read().collect()}

    replay = CDCPipeline(spark, wal_dir, str(tmp_path / "lake2"),
                         str(tmp_path / "cp2"), num_buckets=4,
                         chunks_per_batch=1, dedup_index=idx)
    replay.run()
    got = {r["url"]: r["text"] for r in replay.table().read().collect()}
    assert got == want
    assert "http://a" in got


def test_content_dedup_near_dup_index(spark, tmp_path):
    """MinHashIndex at ingest suppresses NEAR-duplicate content (a
    lightly edited mirror) that exact fingerprinting would accept."""
    import datetime as dt

    from embulk_filter_column_spark.operators.incremental import (
        MinHashIndex,
    )

    t1 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    t2 = dt.datetime(2026, 1, 2, tzinfo=dt.timezone.utc)
    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank every single morning in spring")
    near = base.replace("spring", "summer")          # jaccard >> 0.8
    rows = [("I", 0, t1, "http://orig", base),
            ("I", 1, t1, "http://other",
             "completely different page about spark query planning"),
            ("I", 3, t2, "http://mirror", near)]
    df = spark.createDataFrame(
        rows, "op string, seq long, warc_ts timestamp, url string, "
              "text string")
    wal_dir = str(tmp_path / "wal")
    write_wal(df, wal_dir, chunk_rows=3)
    idx = MinHashIndex(spark, str(tmp_path / "idx"), num_buckets=4,
                       num_hashes=16, bands=8, shingle_n=3,
                       threshold=0.8)
    pipe = CDCPipeline(spark, wal_dir, str(tmp_path / "lake"),
                       str(tmp_path / "cp"), num_buckets=4,
                       chunks_per_batch=1, dedup_index=idx)
    pipe.run()
    urls = {r["url"] for r in pipe.table().read().collect()}
    assert urls == {"http://orig", "http://other"}


def _dlq_rows(pipe):
    return sorted((r["batch_id"], r["dlq_rows"])
                  for r in pipe.journal.metrics().collect())


def test_dlq_quarantines_malformed_events(spark, tmp_path):
    """NULL-key / bad-op / NULL-order events land in the dead-letter
    queue with reasons instead of corrupting the lake; good events
    merge; a second pipeline over the same WAL rewrites the identical
    quarantine set (replay-idempotent)."""
    import datetime as dt

    t1 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        ("I", 0, t1, "http://a", "alpha"),
        ("X", 1, t1, "http://bad-op", "beta"),     # unknown op
        ("I", 2, t1, None, "gamma"),                # null key
        ("I", 3, None, "http://no-ts", "delta"),    # null order col
        ("D", 4, t1, "http://a", None),             # valid delete
        ("I", 5, t1, "http://b", "epsilon"),
    ]
    df = spark.createDataFrame(
        rows, "op string, seq long, warc_ts timestamp, url string, "
              "text string")
    wal_dir = str(tmp_path / "wal")
    write_wal(df, wal_dir, chunk_rows=3)
    dlq_dir = str(tmp_path / "dlq")
    pipe = CDCPipeline(spark, wal_dir, str(tmp_path / "lake"),
                       str(tmp_path / "cp"), num_buckets=4,
                       chunks_per_batch=1, dlq_path=dlq_dir)
    pipe.run()

    state = {r["url"] for r in pipe.table().read().collect()}
    assert state == {"http://b"}          # a deleted; bad rows diverted
    q = {r["seq"]: r["_dlq_reason"] for r in pipe.dlq().collect()}
    assert q == {1: "bad_op", 2: "null_key", 3: "null_order_col"}
    assert _dlq_rows(pipe) == [(1, 2), (2, 1)]

    # replay with a fresh checkpoint/lake, same DLQ: identical content
    pipe2 = CDCPipeline(spark, wal_dir, str(tmp_path / "lake2"),
                        str(tmp_path / "cp2"), num_buckets=4,
                        chunks_per_batch=1, dlq_path=dlq_dir)
    pipe2.run()
    q2 = {r["seq"]: r["_dlq_reason"] for r in pipe2.dlq().collect()}
    assert q2 == q
    assert _dlq_rows(pipe2) == [(1, 2), (2, 1)]


def test_dlq_rejects_lowercase_op(spark, tmp_path):
    """The lake's tombstone check is case-sensitive (op == 'D'), so the
    quarantine gate must be too: a lowercase 'd' would otherwise merge
    as a live upsert with a NULL payload."""
    import datetime as dt

    t1 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = [("I", 0, t1, "http://a", "alpha"),
            ("d", 1, t1, "http://a", None)]
    df = spark.createDataFrame(
        rows, "op string, seq long, warc_ts timestamp, url string, "
              "text string")
    wal_dir = str(tmp_path / "wal")
    write_wal(df, wal_dir, chunk_rows=2)
    pipe = CDCPipeline(spark, wal_dir, str(tmp_path / "lake"),
                       str(tmp_path / "cp"), num_buckets=4,
                       dlq_path=str(tmp_path / "dlq"))
    pipe.run()
    assert {(r["url"], r["text"]) for r in pipe.table().read().collect()} \
        == {("http://a", "alpha")}
    assert [(r["seq"], r["_dlq_reason"]) for r in pipe.dlq().collect()] \
        == [(1, "bad_op")]


def test_content_dedup_null_op_and_key_bypass_index(spark, tmp_path):
    """With dedup_index set but no DLQ, NULL-op and NULL-key events
    must flow through to the merge (legacy behavior), not vanish into
    the null-partition gap of the indexable predicate."""
    import datetime as dt

    from embulk_filter_column_spark.operators import FingerprintIndex

    t1 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = [("I", 0, t1, "http://a", "alpha"),
            (None, 1, t1, "http://nullop", "beta"),
            ("I", 2, t1, None, "gamma")]
    df = spark.createDataFrame(
        rows, "op string, seq long, warc_ts timestamp, url string, "
              "text string")
    wal_dir = str(tmp_path / "wal")
    write_wal(df, wal_dir, chunk_rows=3)
    plain = CDCPipeline(spark, wal_dir, str(tmp_path / "lake0"),
                        str(tmp_path / "cp0"), num_buckets=4)
    plain.run()
    legacy = {r["url"] for r in plain.table().read().collect()}
    # legacy view: NULL-op rows never read back (op != 'D' is NULL);
    # NULL-key rows do
    assert legacy == {"http://a", None}

    idx = FingerprintIndex(spark, str(tmp_path / "idx"), num_buckets=4)
    pipe = CDCPipeline(spark, wal_dir, str(tmp_path / "lake"),
                       str(tmp_path / "cp"), num_buckets=4,
                       dedup_index=idx)
    pipe.run()
    # the index must not change what reaches the lake for rows it
    # cannot handle — identical final view with and without it
    assert {r["url"] for r in pipe.table().read().collect()} == legacy


def test_content_dedup_decides_on_lww_winner(spark, tmp_path):
    """A key's SUPERSEDED older in-batch text must not veto its newest
    text: the index decision is taken on the key's LWW winner."""
    import datetime as dt

    from embulk_filter_column_spark.operators import FingerprintIndex

    t1 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    t2 = dt.datetime(2026, 1, 2, tzinfo=dt.timezone.utc)
    t3 = dt.datetime(2026, 1, 3, tzinfo=dt.timezone.utc)
    rows = [
        # batch 1: url b establishes the content history
        ("I", 0, t1, "http://b", "known old content here"),
        # batch 2: url a updates twice — older text dups b's content,
        # newest text is genuinely new
        ("I", 3, t2, "http://a", "known old content here"),
        ("U", 4, t3, "http://a", "fresh brand new content"),
    ]
    df = spark.createDataFrame(
        rows, "op string, seq long, warc_ts timestamp, url string, "
              "text string")
    wal_dir = str(tmp_path / "wal")
    write_wal(df, wal_dir, chunk_rows=3)
    idx = FingerprintIndex(spark, str(tmp_path / "idx"), num_buckets=4)
    pipe = CDCPipeline(spark, wal_dir, str(tmp_path / "lake"),
                       str(tmp_path / "cp"), num_buckets=4,
                       chunks_per_batch=1, dedup_index=idx)
    pipe.run()
    state = {r["url"]: r["text"] for r in pipe.table().read().collect()}
    assert state == {"http://b": "known old content here",
                     "http://a": "fresh brand new content"}


def test_dlq_accessor_requires_configuration(spark, tmp_path):
    pipe = CDCPipeline(spark, str(tmp_path / "wal"),
                       str(tmp_path / "lake"), str(tmp_path / "cp"))
    with pytest.raises(ValueError, match="dlq_path"):
        pipe.dlq()
