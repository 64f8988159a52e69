"""Driver contract for the spark-graft builder (PySpark target).

Maps every operator family of the engine (SURVEY.md §2: the reference's
projection semantics P1-P10/R1-R13, plus the CDC generalization §2.3 and
the training-data operators) to a ``queries()`` entry with a DuckDB
``oracle_sql()`` twin wherever the semantics are ANSI-SQL-expressible.

Conventions
-----------
* Session timezone is forced to UTC inside every callable; timestamp
  outputs are converted to epoch micros (``unix_micros`` / ``epoch_us``)
  so the Spark↔DuckDB comparison is integer-exact.
* The testdata has no duplicate / null rows, so dedup and
  default-on-null queries *plant* deterministic duplicates / nulls —
  mirrored verbatim in the oracle SQL.
* CDC queries materialize a WAL + lake under a fresh temp dir per call;
  the change log is derived deterministically from the ``events`` table
  (op = D on 'error' events) so the final lake state is expressible as
  one window query in SQL.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# make the sibling package importable even when this module is loaded by
# file path from another working directory
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from embulk_filter_column_spark import apply_filter
from embulk_filter_column_spark.cdc import CDCPipeline
from embulk_filter_column_spark.cdc.dedup import last_writer_wins
from embulk_filter_column_spark.cdc.wal import WalReader
from embulk_filter_column_spark.functions.text import (
    TOKEN_PATTERN,
    _LANG_MARKERS,
    _SCRIPT_RULES,
    _STOPWORDS,
)
from embulk_filter_column_spark.operators.dedup import (
    _widen,
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_jaccard_pairs,
)
from embulk_filter_column_spark.operators.groups import dedup_groups
from embulk_filter_column_spark.operators.multimodal import (
    extract_features,
    fake_media_table,
)
from embulk_filter_column_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
    train_ivf_centroids,
)
from embulk_filter_column_spark.operators.textquality import annotate_text
from embulk_filter_column_spark.sources.events import write_wal

# ---------------------------------------------------------------------------
# helpers


_SHIPPED_APPS: set = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package to executors as a py-files zip. UDF closures
    reference package modules by name, so Python workers must be able to
    import ``embulk_filter_column_spark`` even when the driver process
    was not launched with PYTHONPATH pointing at the repo — the same
    packaging contract as ``spark-submit --py-files``."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APPS:
        return
    from tools.make_pyfiles_zip import build

    zpath = os.path.join(
        tempfile.gettempdir(), f"efcs_pyfiles_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        build(zpath)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED_APPS.add(app_id)


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ensure_shipped(spark)


def _epoch_us(col: str):
    """Epoch micros of a timestamp column (the testdata parquet reads as
    TIMESTAMP_NTZ in Spark 4; the cast is wall-clock-as-UTC under the UTC
    session timezone, matching DuckDB's epoch_us)."""
    return F.unix_micros(F.col(col).cast("timestamp"))


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_TABLE_ROWS_CACHE: dict = {}


def _table_rows(sf_dir: str, name: str) -> int:
    """Row count of a testdata table from the parquet footer metadata —
    the same number a filterless ``df.count()`` job returns, without
    running a Spark job (one footer read per file). Used only to SIZE
    things (WAL chunk_rows, planted-id offsets); every sized quantity
    is therefore identical to the count()-based plan. Falls back to
    glob-of-part-files for directory-style tables; metadata row counts
    are exact for parquet regardless of layout."""
    key = (sf_dir, name)
    if key not in _TABLE_ROWS_CACHE:
        import glob as _glob
        import os

        import pyarrow.parquet as pq

        p = f"{sf_dir}/{name}.parquet"
        files = (sorted(_glob.glob(os.path.join(p, "**", "*.parquet"),
                                   recursive=True))
                 if os.path.isdir(p) else [p])
        _TABLE_ROWS_CACHE[key] = sum(
            pq.ParquetFile(f).metadata.num_rows for f in files)
    return _TABLE_ROWS_CACHE[key]


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ case/punctuation-jittered copies of every 10th doc —
    the copies normalize to identical text, so dedup must collapse them."""
    d = _load(spark, sf_dir, "documents")
    dup = (d.where(F.col("doc_id") % 10 == 0)
             .select((F.col("doc_id") + 1000000).alias("doc_id"),
                     F.concat(F.upper(F.col("text")), F.lit(" !!"))
                      .alias("text"),
                     "lang", "source", "n_chars"))
    return d.unionByName(dup)


_DOCS_DUPS_SQL = """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 1000000, upper(text) || ' !!', lang, source, n_chars
    FROM documents WHERE doc_id % 10 = 0
"""


def _embeddings_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load(spark, sf_dir, "embeddings")
    dup = (e.where(F.col("vec_id") % 5 == 0)
             .select((F.col("vec_id") + 1000000).alias("vec_id"),
                     "embedding", "label"))
    return e.unionByName(dup)


def _event_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table as a CDC change log keyed on user_id: seq = event_id,
    op = D for 'error' events, else I (last-writer-wins makes I/U moot)."""
    ev = _load(spark, sf_dir, "events")
    return ev.select(
        F.when(F.col("event_type") == "error", "D").otherwise("I")
         .alias("op"),
        F.col("event_id").alias("seq"),
        "ts", "user_id", "event_type", "value")


# DuckDB twin of _event_changelog + last-writer-wins winner per user
_CHANGELOG_WINNER_SQL = """
    WITH src AS (
        SELECT event_id AS seq, ts, user_id, event_type, value,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'I' END AS op
        FROM events
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, seq DESC) AS rn
        FROM src
    )
"""

# DuckDB twins of functions/text.py primitives
_TOKS_SQL = ("list_filter(string_split_regex(lower(trim({c})), '\\s+'), "
             "x -> x <> '')")
_NORM_SQL = "trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'))"

# the exact n-gram-Jaccard similarity join over documents ∪ planted dups
# (threshold 0.8) — the oracle for dedup_ngram_jaccard AND for the
# LSH-blocked + exact-verified variants (MinHash bands, SimHash pigeonhole
# bands), whose outputs equal the exact join
_JACCARD_PAIRS_SQL = f"""
    WITH all_docs AS ({_DOCS_DUPS_SQL}),
    toked AS (
        SELECT doc_id,
               list_filter(string_split_regex(
                   trim(regexp_replace(lower(text),
                        '[^a-z0-9\\s]+', ' ', 'g')), '\\s+'),
                   x -> x <> '') AS t
        FROM all_docs),
    shingled AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN list_distinct(
                        [array_to_string(t[i+1:i+3], ' ')
                         FOR i IN range(len(t) - 2)])
                    WHEN len(t) > 0 THEN
                        [array_to_string(t, ' ')]
                    ELSE [] END AS sh
        FROM toked),
    inv AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled),
    inter AS (
        SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
        FROM inv l JOIN inv r
          ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        GROUP BY 1, 2),
    sizes AS (SELECT doc_id, len(sh) AS n FROM shingled)
    SELECT a, b,
           round(i / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE i / (sa.n + sb.n - i) >= 0.8
"""


def _sql_lang_id(c: str) -> str:
    """DuckDB CASE twin of functions.text.lang_id: the Unicode-script
    integer-ratio rules first (same literal character classes, same
    count·k ≥ nonws·m comparisons — _SCRIPT_RULES is the single source
    of truth), then the Latin marker vote (same tie priority: dict
    order en, de, fr, es, pt)."""
    toks = _TOKS_SQL.format(c=c)
    hits = {
        lang: ("len(list_filter(%s, x -> x IN (%s)))"
               % (toks, ", ".join("'%s'" % w for w in words)))
        for lang, words in _LANG_MARKERS.items()
    }
    best = "greatest(%s)" % ", ".join(hits.values())
    whens = " ".join(
        "WHEN %s = __best AND __best > 0 THEN '%s'" % (hits[lang], lang)
        for lang in _LANG_MARKERS)
    latin = ("CASE %s ELSE 'und' END" % whens).replace("__best", best)
    nonws = "len(regexp_extract_all(%s, '\\S'))" % c
    script_whens = " ".join(
        "WHEN %s > 0 AND len(regexp_extract_all(%s, '%s')) * %d >= "
        "%s * %d THEN '%s'"
        % (nonws, c, cls, num, nonws, den, lang)
        for lang, cls, num, den in _SCRIPT_RULES)
    return "CASE %s ELSE %s END" % (script_whens, latin)


# ---------------------------------------------------------------------------
# queries


def q_filter_keep(spark, sf_dir):
    _utc(spark)
    ev = _load(spark, sf_dir, "events")
    return apply_filter(ev, {"columns": [
        {"name": "event_id"},
        {"name": "etype", "src": "event_type"},
        {"name": "value"},
    ]})


def q_filter_drop(spark, sf_dir):
    _utc(spark)
    ev = _load(spark, sf_dir, "events")
    return apply_filter(ev, {"drop_columns": [
        {"name": "props"}, {"name": "value"}, {"name": "ts"}]})


def q_filter_add_default(spark, sf_dir):
    _utc(spark)
    ev = _load(spark, sf_dir, "events")
    out = apply_filter(ev, {
        "columns": [{"name": "event_id"}],
        "add_columns": [
            {"name": "added_str", "type": "string", "default": "x"},
            {"name": "added_long", "type": "long", "default": 7},
            {"name": "added_double", "type": "double", "default": 1.5},
            {"name": "added_bool", "type": "boolean", "default": True},
            {"name": "added_ts", "type": "timestamp",
             "default": "2015-07-13", "format": "%Y-%m-%d",
             "timezone": "UTC"},
            {"name": "copy_of_type", "src": "event_type"},
        ]})
    return out.select(
        "event_id", "added_str", "added_long", "added_double", "added_bool",
        F.unix_micros("added_ts").alias("added_ts_us"), "copy_of_type")


def q_filter_default_on_null(spark, sf_dir):
    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    d = (d.withColumn("lang", F.when(F.col("doc_id") % 3 == 0, None)
                              .otherwise(F.col("lang")))
          .withColumn("n_chars", F.when(F.col("doc_id") % 5 == 0, None)
                                  .otherwise(F.col("n_chars"))))
    return apply_filter(d, {"columns": [
        {"name": "doc_id"},
        {"name": "lang", "default": "und"},
        {"name": "n_chars", "default": -1},
    ]})


def q_filter_json_keep(spark, sf_dir):
    _utc(spark)
    ev = _load(spark, sf_dir, "events")
    return apply_filter(ev, {
        "json_columns": ["props"],
        "columns": [{"name": "event_id"}, {"name": "props"},
                    {"name": "$.props.k"}]})


def q_filter_json_add(spark, sf_dir):
    _utc(spark)
    ev = _load(spark, sf_dir, "events")
    out = apply_filter(ev, {
        "json_columns": ["props"],
        "add_columns": [
            {"name": "$.props.added", "type": "long", "default": 1}]})
    return out.select("event_id", "props")


def q_filter_json_drop(spark, sf_dir):
    _utc(spark)
    ev = _load(spark, sf_dir, "events")
    out = apply_filter(ev, {
        "json_columns": ["props"],
        "drop_columns": [{"name": "$.props.k"}]})
    return out.select("event_id", "props")


def q_filter_json_rename(spark, sf_dir):
    _utc(spark)
    ev = _load(spark, sf_dir, "events")
    return apply_filter(ev, {
        "json_columns": ["props"],
        "columns": [{"name": "event_id"}, {"name": "props"},
                    {"name": "$.props.kk", "src": "$.props.k"}]})


def q_filter_chain(spark, sf_dir):
    """Two chained filter stages (reference: example/bracket_notations.yml
    runs multiple `- type: column` stages): stage 1 keeps + prunes the
    json doc, stage 2 adds a nested key — json-ness must survive the
    stage boundary via the schema metadata marker."""
    from embulk_filter_column_spark import apply_filters

    _utc(spark)
    ev = _load(spark, sf_dir, "events")
    out = apply_filters(ev, [
        {"json_columns": ["props"],
         "columns": [{"name": "event_id"}, {"name": "props"},
                     {"name": "$.props.k"}]},
        {"add_columns": [
            {"name": "$.props.v2", "type": "long", "default": 2},
            {"name": "stage", "type": "string", "default": "two"}]},
    ])
    return out.select("event_id", "props", "stage")


def q_cdc_lww_dedup(spark, sf_dir):
    _utc(spark)
    ev = _load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value")
    out = last_writer_wins(ev, key="user_id", order=("ts", "event_id"))
    return out.select("user_id", "event_id",
                      _epoch_us("ts").alias("ts_us"),
                      "event_type", "value")


def _final_state(spark, sf_dir, config_schedule=None, chunk_rows=None):
    log = _event_changelog(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="spark_graft_cdc_")
    if chunk_rows is None:
        # ~10 chunks at any scale
        # events-table row count from parquet metadata — identical
        # to log.count() (one changelog row per event), no Spark job
        chunk_rows = max(1000, _table_rows(sf_dir, "events") // 10)
    write_wal(log, f"{base}/wal", chunk_rows=chunk_rows)
    pipe = CDCPipeline(
        spark, f"{base}/wal", f"{base}/lake", f"{base}/cp",
        config_schedule=config_schedule,
        key="user_id", order=("ts", "seq"), num_buckets=16,
        chunks_per_batch=5)
    pipe.run()
    return pipe.table().read()


def q_cdc_merge_replay(spark, sf_dir):
    """Full pipeline: WAL write → chunked replay → LWW MERGE → final
    lake state (deletes tombstoned away)."""
    _utc(spark)
    state = _final_state(spark, sf_dir)
    return state.select("user_id", F.col("seq").alias("event_id"),
                        _epoch_us("ts").alias("ts_us"),
                        "event_type", "value")


def q_cdc_schema_evolution(spark, sf_dir):
    """Config flips at chunk 5 (seq 5000): event_type renamed to etype,
    quality column added (default 1.0). Old lake rows carry their values
    under the new name and read NULL for the added column."""
    _utc(spark)
    base = {"columns": [
        {"name": "op"}, {"name": "seq"}, {"name": "ts"},
        {"name": "user_id"}, {"name": "event_type"}, {"name": "value"}]}
    evolved = {"columns": [
        {"name": "op"}, {"name": "seq"}, {"name": "ts"},
        {"name": "user_id"},
        {"name": "etype", "src": "event_type"},
        {"name": "value"},
        {"name": "quality", "type": "double", "default": 1.0}]}
    # chunk_rows pinned to 1000: the oracle's `seq >= 5000` config-switch
    # boundary is 5 * chunk_rows by construction, so it must not scale
    # with the input size
    state = _final_state(spark, sf_dir,
                         config_schedule={0: base, 5: evolved},
                         chunk_rows=1000)
    return state.select("user_id", F.col("seq").alias("event_id"),
                        "etype", "value", "quality")


def q_cdc_streaming_replay(spark, sf_dir):
    """Structured-Streaming mode: readStream over the WAL, foreachBatch
    MERGE with availableNow drain — must converge to the same final
    state as the batch replay (same oracle)."""
    from embulk_filter_column_spark.streaming import StreamingCDC

    _utc(spark)
    log = _event_changelog(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="spark_graft_stream_")
    n = _table_rows(sf_dir, "events")
    write_wal(log, f"{base}/wal", chunk_rows=max(1000, n // 10))
    job = StreamingCDC(spark, f"{base}/wal", f"{base}/lake",
                       f"{base}/cp", key="user_id", order=("ts", "seq"),
                       num_buckets=16, max_files_per_trigger=4)
    job.run_available_now()
    state = job.table().read()
    return state.select("user_id", F.col("seq").alias("event_id"),
                        _epoch_us("ts").alias("ts_us"),
                        "event_type", "value")


def q_cdc_ingest_dedup(spark, sf_dir):
    """Content dedup AT INGEST (CDCPipeline ``dedup_index``): the
    documents table replays as a url-keyed changelog — every doc as url
    u<id>, then MIRROR urls v<id> carrying the identical text for
    id % 7 == 0 (mirror sites / re-serves), then deletes of u<id> for
    id % 11 == 0. A persistent FingerprintIndex checks each batch's
    upserts against all previously ACCEPTED content before the MERGE,
    so every mirror is suppressed online (cross-BATCH via the bucketed
    index probe, not any in-batch mechanism — chunks_per_batch=3 puts
    originals and their mirrors in different batches). Deletes bypass
    the index and tombstone their url. Batch order follows seq = url
    order by construction, so acceptance == first-url-per-normalized-
    text — plain SQL (rn = 1 over the norm-text partition), minus the
    deleted urls."""
    from embulk_filter_column_spark.operators.incremental import (
        FingerprintIndex,
    )

    _utc(spark)
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    n = _table_rows(sf_dir, "documents")
    t0 = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    t1 = F.to_timestamp(F.lit("2026-01-02 00:00:00"))
    url_u = F.format_string("u%09d", "doc_id")
    orig = docs.select(
        F.lit("I").alias("op"), F.col("doc_id").alias("seq"),
        t0.alias("warc_ts"), url_u.alias("url"), "text")
    mir = docs.where(F.col("doc_id") % 7 == 0).select(
        F.lit("I").alias("op"), (F.col("doc_id") + n).alias("seq"),
        t0.alias("warc_ts"),
        F.format_string("v%09d", "doc_id").alias("url"), "text")
    dele = docs.where(F.col("doc_id") % 11 == 0).select(
        F.lit("D").alias("op"), (F.col("doc_id") + 2 * n).alias("seq"),
        t1.alias("warc_ts"), url_u.alias("url"),
        F.lit(None).cast("string").alias("text"))
    log = orig.unionByName(mir).unionByName(dele)
    base = tempfile.mkdtemp(prefix="spark_graft_ingestdedup_")
    # chunk size scales with the corpus (~15 chunks / ~5 batches at any
    # SF): the acceptance semantics are batching-independent as long as
    # batch order follows seq==url order, which any chunk_rows
    # preserves — a FIXED 100 would mean 35 batches of pure per-batch
    # commit overhead at sf0.1
    write_wal(log, f"{base}/wal", chunk_rows=max(100, n // 5))
    idx = FingerprintIndex(spark, f"{base}/idx", num_buckets=16)
    pipe = CDCPipeline(
        spark, f"{base}/wal", f"{base}/lake", f"{base}/cp",
        key="url", order=("warc_ts", "seq"), num_buckets=16,
        chunks_per_batch=3, dedup_index=idx)
    pipe.run()
    return pipe.table().read().select("url", "text")


def q_cdc_dlq(spark, sf_dir):
    """Dead-letter queue: the events changelog with deterministic
    corruption planted (op→'X' at seq%13, NULL key at seq%17, NULL ts
    at seq%19) replays through the pipeline with ``dlq_path`` set; the
    quarantined rows (seq, reason) must equal the SQL classification
    with the same first-match precedence (null_key → bad_op →
    null_order_col). The lake itself receives only the mergeable
    remainder (pytest covers the exclusion)."""
    _utc(spark)
    log = _event_changelog(spark, sf_dir)
    corrupted = log.select(
        F.when(F.col("seq") % 13 == 0, "X").otherwise(F.col("op"))
         .alias("op"),
        "seq",
        F.when(F.col("seq") % 19 == 0, F.lit(None)).otherwise(F.col("ts"))
         .alias("ts"),
        F.when(F.col("seq") % 17 == 0, F.lit(None))
         .otherwise(F.col("user_id")).alias("user_id"),
        "event_type", "value")
    base = tempfile.mkdtemp(prefix="spark_graft_dlq_")
    n = _table_rows(sf_dir, "events")
    write_wal(corrupted, f"{base}/wal", chunk_rows=max(1000, n // 10))
    pipe = CDCPipeline(
        spark, f"{base}/wal", f"{base}/lake", f"{base}/cp",
        key="user_id", order=("ts", "seq"), num_buckets=16,
        chunks_per_batch=5, dlq_path=f"{base}/dlq")
    pipe.run()
    return pipe.dlq().select("seq", "_dlq_reason")


def q_wal_offset_read(spark, sf_dir):
    """Chunked WAL + offset-range read (directory-pruned scan)."""
    _utc(spark)
    log = _event_changelog(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="spark_graft_wal_")
    write_wal(log, f"{base}/wal", chunk_rows=1000)
    got = WalReader(spark, f"{base}/wal").read_chunks(2, 5)
    return got.select(F.col("seq").alias("event_id"), "user_id",
                      "event_type")


def q_dedup_exact(spark, sf_dir):
    _utc(spark)
    out = exact_dedup(_docs_with_dups(spark, sf_dir))
    return out.select("doc_id", "dup_count")


def q_dedup_ngram_jaccard(spark, sf_dir):
    _utc(spark)
    return ngram_jaccard_pairs(_docs_with_dups(spark, sf_dir),
                               threshold=0.8)


def q_dedup_groups(spark, sf_dir):
    """Near-dup group resolution — the stage every pair generator feeds:
    exact Jaccard pairs → connected components (alternating large-star /
    small-star, O(log n) distributed rounds) → (doc_id, canonical_id,
    group_size) with canonical = component min. The oracle is DuckDB's
    recursive-CTE transitive closure over the same exact pair join, so
    multi-hop chains (A~B~C with A≁C) are pinned end-to-end."""
    _utc(spark)
    pairs = ngram_jaccard_pairs(_docs_with_dups(spark, sf_dir),
                                threshold=0.8).select("a", "b")
    return dedup_groups(pairs)


def q_dedup_incremental(spark, sf_dir):
    """Incremental corpus dedup (FingerprintIndex): the planted corpus
    is replayed as two sequential batches — originals, then the
    jittered duplicates — against a persistent bucketed fingerprint
    index. Batch 2's dups are all rejected by the index lookup (not an
    in-batch groupBy), so the survivors equal global first-seen-per-
    fingerprint: min(doc_id) per normalized text, plain SQL."""
    from embulk_filter_column_spark.operators.incremental import (
        FingerprintIndex,
    )

    _utc(spark)
    docs = _docs_with_dups(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="spark_graft_fpidx_")
    idx = FingerprintIndex(spark, f"{base}/idx", num_buckets=16)
    out1 = idx.dedup_and_update(docs.where(F.col("doc_id") < 1000000))
    out2 = idx.dedup_and_update(docs.where(F.col("doc_id") >= 1000000))
    return (out1.select("doc_id")
            .unionByName(out2.select("doc_id")))


def q_dedup_incremental_minhash(spark, sf_dir):
    """Incremental NEAR-dup dedup (MinHashIndex, VERDICT r4 item 1):
    the planted corpus replays as two batches — originals, then the
    jittered near-duplicates — against a persistent banded MinHash
    index. Batch 2's copies are rejected by the partition-pruned band
    probe + exact-Jaccard verify against batch-1 SURVIVORS (not by any
    in-batch mechanism). Survivor semantics (docstring of MinHashIndex)
    are mirrored exactly by the oracle: drop a doc iff its exact
    Jaccard ≥ 0.8 with an earlier same-batch doc or a previous-batch
    survivor — expressible in SQL because the entry runs exactly two
    batches. Equality requires total blocking recall (8 bands × 2 rows:
    a j=0.8 pair escapes with probability (1-j²)⁸ ≈ 3·10⁻⁴), verified
    exhaustively on the sf0.01 gate corpus."""
    from embulk_filter_column_spark.operators.incremental import (
        MinHashIndex,
    )

    _utc(spark)
    docs = _docs_with_dups(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="spark_graft_mhidx_")
    idx = MinHashIndex(spark, f"{base}/idx", num_buckets=16,
                       num_hashes=16, bands=8, shingle_n=3,
                       threshold=0.8)
    out1 = idx.dedup_and_update(docs.where(F.col("doc_id") < 1000000))
    out2 = idx.dedup_and_update(docs.where(F.col("doc_id") >= 1000000))
    return (out1.select("doc_id")
            .unionByName(out2.select("doc_id")))


def q_dedup_embedding(spark, sf_dir):
    _utc(spark)
    return embedding_near_dup_pairs(_embeddings_with_dups(spark, sf_dir),
                                    threshold=0.9)


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH blocking + exact-Jaccard verification: output = the
    exact similarity join (LSH prunes candidates, verification removes
    band false positives), so the oracle is the plain SQL Jaccard join —
    any recall loss or band-key bug shows as a row-count/hash mismatch.
    Equality requires total blocking recall: verified exhaustively on
    the sf0.01 gate corpus (81/81 pairs); in general a j=0.8 pair escapes
    all 8 bands with probability (1-j²)⁸ ≈ 3·10⁻⁴."""
    _utc(spark)
    return minhash_lsh_pairs(_docs_with_dups(spark, sf_dir),
                             bands=8, threshold=0.8)


def q_dedup_simhash(spark, sf_dir):
    """SimHash signature invariance: the planted duplicates differ only
    by case/punctuation, which the normalized tokenization erases — so
    each planted pair's signatures must be IDENTICAL (Hamming 0). The
    xxhash64 bit votes themselves aren't SQL-expressible, but this
    pinned property is."""
    _utc(spark)
    sigs = simhash(_docs_with_dups(spark, sf_dir)) \
        .select("doc_id", "simhash")
    orig = (sigs.where((F.col("doc_id") % 10 == 0)
                       & (F.col("doc_id") < 1000000))
            .select(F.col("doc_id").alias("a"),
                    F.col("simhash").alias("sig_a")))
    dup = (sigs.where(F.col("doc_id") >= 1000000)
           .select((F.col("doc_id") - 1000000).alias("a"),
                   F.col("doc_id").alias("b"),
                   F.col("simhash").alias("sig_b")))
    return (orig.join(dup, "a")
            .select("a", "b",
                    F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                     .alias("hamming")))


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash pigeonhole blocking + exact-Jaccard verification — same
    oracle as the exact Jaccard join. Hamming distance and Jaccard are
    correlated but not monotonically linked, so the Hamming-8 budget's
    total recall over all jaccard≥0.8 pairs is a measured property of
    the sf0.01 gate corpus (max observed Hamming among true pairs: 7),
    not a theorem — at other SFs a true pair may exceed the budget."""
    _utc(spark)
    return simhash_jaccard_pairs(_docs_with_dups(spark, sf_dir),
                                 max_hamming=8, threshold=0.8)


def _query_vec(spark, sf_dir):
    row = (_load(spark, sf_dir, "embeddings")
           .where(F.col("vec_id") == 0).select("embedding").first())
    return [float(x) for x in row[0]]


def q_similarity_bruteforce(spark, sf_dir):
    _utc(spark)
    e = _load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    return brute_force_topk(e, _query_vec(spark, sf_dir), k=10)


def q_similarity_lsh(spark, sf_dir):
    """ANN LSH top-k with planted neighbors: 9 positively-scaled copies
    of the query vector (same hyperplane bucket by construction, cosine
    exactly 1.0) are planted; the top-10 must be the query vector plus
    those 9 planted ids — enumerable in SQL. A bucketing or rerank bug
    drops planted rows or promotes organic ones (all cosine < 1)."""
    _utc(spark)
    return lsh_topk(_embeddings_with_parallel_plants(spark, sf_dir)[0],
                    _query_vec(spark, sf_dir), k=10)


def _embeddings(spark, sf_dir):
    """The embeddings table as (vec_id, embedding array<double>)."""
    return (_load(spark, sf_dir, "embeddings")
            .select("vec_id",
                    F.col("embedding").cast("array<double>")
                    .alias("embedding")))


def _embeddings_with_parallel_plants(spark, sf_dir, n_queries=1):
    """(corpus, queries): the query rows are vectors ``0 .. n_queries-1``
    as (query_id, embedding); the corpus is embeddings ∪ 9
    positively-scaled copies of each query vector (copy ``i`` of query
    ``q`` gets id ``2000000 + q*100 + i``) — same direction ⇒ same LSH
    bucket / same IVF cell, cosine exactly 1.0. Both come from one
    table read."""
    e = _embeddings(spark, sf_dir)
    queries = (e.where(F.col("vec_id") < n_queries)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    planted = (queries
               .select("query_id",
                       F.explode(F.sequence(F.lit(1), F.lit(9))).alias("i"),
                       "embedding")
               .select((F.lit(2000000) + F.col("query_id") * 100
                        + F.col("i")).alias("vec_id"),
                       F.transform("embedding", lambda x: x * 1.001)
                        .alias("embedding")))
    return e.unionByName(planted), queries


def q_similarity_ivf(spark, sf_dir):
    """IVF ANN with planted neighbors, exercised through the PRODUCTION
    layout (VERDICT r2 item 3): centroids k-means-trained on a
    deterministic sample, cells assigned ONCE by write_ivf_table
    (partitionBy("cell")), then the search probes the query's nearest
    cells via partition-directory pruning — no per-query assignment
    scan. The 9 planted parallel copies of the query vector share its
    cell, so the top-10 is enumerable in SQL (same construction as
    similarity_lsh)."""
    from embulk_filter_column_spark.operators.similarity import (
        ivf_topk_bucketed,
        write_ivf_table,
    )

    _utc(spark)
    eu, _ = _embeddings_with_parallel_plants(spark, sf_dir)
    centroids = train_ivf_centroids(eu, n_centroids=16)
    base = tempfile.mkdtemp(prefix="spark_graft_ivf_")
    write_ivf_table(eu, f"{base}/ivf", centroids)
    return ivf_topk_bucketed(spark, f"{base}/ivf",
                             _query_vec(spark, sf_dir), centroids,
                             k=10, nprobe=2)


def q_similarity_knn_join(spark, sf_dir):
    """Exact batch top-k (many queries at once): the first 3 embedding
    vectors each retrieve their cosine top-5 over the whole embeddings
    table via ONE mapInPandas pass (per-partition partial top-k, window
    trim) — the retrieval shape for hard-negative mining. The oracle is
    the plain SQL cross-join rank, so the partial-top-k distributed
    plan is pinned row-for-row."""
    from embulk_filter_column_spark.operators.similarity import knn_join

    _utc(spark)
    emb = _embeddings(spark, sf_dir)
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    return knn_join(emb, queries, k=5)


# PII planted onto every document — id-dependent email/IP so redaction
# can't pass by luck, plus fixed SSN/phone shapes (mirrored in SQL)
_PII_SUFFIX_SPARK = lambda: F.concat(  # noqa: E731
    F.col("text"),
    F.lit(" contact user"), F.col("doc_id").cast("string"),
    F.lit("@example.com ip 10.0.0."),
    F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
    F.lit(" ssn 123-45-6789 call +1 (555) 123-4567"))

_PII_SUFFIX_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com ip 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) || "
    "' ssn 123-45-6789 call +1 (555) 123-4567'")


def q_similarity_ivf_knn(spark, sf_dir):
    """ANN-accelerated BATCH retrieval over the production IVF layout
    (VERDICT r3 item 2): 3 query vectors, each with 9 planted parallel
    copies in the corpus (same cell by construction, cosine exactly
    1.0), retrieved in one ivf_knn_join pass — the scan reads only the
    union of the queries' probed cell directories (partition prune,
    pinned by pytest), each Arrow batch is scored only against the
    queries probing its cell. Top-10 per query = the query vector
    itself + its 9 plants — enumerable in SQL."""
    from embulk_filter_column_spark.operators.similarity import (
        ivf_knn_join,
        write_ivf_table,
    )

    _utc(spark)
    corpus, queries = _embeddings_with_parallel_plants(spark, sf_dir,
                                                       n_queries=3)
    centroids = train_ivf_centroids(corpus, n_centroids=16)
    base = tempfile.mkdtemp(prefix="spark_graft_ivfknn_")
    write_ivf_table(corpus, f"{base}/ivf", centroids)
    return ivf_knn_join(spark, f"{base}/ivf", queries, centroids,
                        k=10, nprobe=2)


def q_similarity_recall(spark, sf_dir):
    """ANN recall instrumentation (VERDICT r4 item 4): per-query recall
    of the IVF batch retrieval against the exact kNN join — the metric
    that picks ``nprobe`` before a 10^10-row rollout. On the
    planted-parallel corpus both sides' top-10 are the query vector +
    its 9 parallel plants (cosine exactly 1.0; organic vectors can't
    round there), so recall is enumerably 1.0 per query — any drift in
    EITHER retrieval path or in the recall join itself breaks the
    hash."""
    from embulk_filter_column_spark.operators.similarity import (
        ivf_knn_join,
        knn_join,
        topk_recall,
        write_ivf_table,
    )

    _utc(spark)
    corpus, queries = _embeddings_with_parallel_plants(spark, sf_dir,
                                                       n_queries=3)
    centroids = train_ivf_centroids(corpus, n_centroids=16)
    base = tempfile.mkdtemp(prefix="spark_graft_recall_")
    write_ivf_table(corpus, f"{base}/ivf", centroids)
    exact = knn_join(corpus, queries, k=10)
    approx = ivf_knn_join(spark, f"{base}/ivf", queries, centroids,
                          k=10, nprobe=2)
    return topk_recall(approx, exact)


# eval set for decontamination: jittered copies of every 10th document
# (normalize-identical → overlap 1.0) PLUS short 2-token eval items cut
# verbatim from every 97th document (tokens 3-4 of the normalized text)
# — these exercise the cover_short_eval path: an eval item under
# shingle_n tokens is only reachable through the extra train-side
# shingle sizes (ADVICE r4). Mirrored verbatim in the oracle.
_EVAL_SET_SQL = """
    SELECT doc_id + 500000 AS doc_id, upper(text) || ' !!' AS text
    FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 700000 AS doc_id,
           array_to_string(list_filter(string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9\\s]+', ' ',
                    'g')), '\\s+'), x -> x <> '')[3:4], ' ') AS text
    FROM documents WHERE doc_id % 97 = 0
"""


def q_text_decontaminate(spark, sf_dir):
    """Train/test decontamination (VERDICT r3 item 3): flag training
    docs containing ≥ threshold of any eval doc's shingles
    (eval-normalized, the PaLM direction — a long page embedding a
    short benchmark item verbatim flags at 1.0). Eval set =
    case/punct-jittered copies of every 10th doc (planted contamination
    at overlap 1.0) + 2-token items cut verbatim from every 97th doc
    (planted SHORT contamination, reachable only via the
    cover_short_eval multi-size train index — ADVICE r4); organic
    overlaps below/above the threshold are computed identically by the
    SQL twin, so the broadcast-inverted-index plan is pinned
    row-for-row."""
    from embulk_filter_column_spark.operators import decontaminate

    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    norm_toks = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(F.col("text")),
                                        r"[^a-z0-9\s]+", " ")), r"\s+"),
        lambda t: t != "")
    eval_df = (d.where(F.col("doc_id") % 10 == 0)
               .select((F.col("doc_id") + 500000).alias("doc_id"),
                       F.concat(F.upper(F.col("text")), F.lit(" !!"))
                        .alias("text"))
               .unionByName(
                   d.where(F.col("doc_id") % 97 == 0)
                   .select((F.col("doc_id") + 700000).alias("doc_id"),
                           F.concat_ws(" ", F.slice(norm_toks, 3, 2))
                            .alias("text"))))
    return decontaminate(d, eval_df, shingle_n=3, threshold=0.5)


def q_text_dedup_lines(spark, sf_dir):
    """C4-style corpus-level line dedup: a boilerplate line planted
    into EVERY doc (corpus count ≥ 3 → removed everywhere) plus a
    per-doc unique ref line (kept); natural line repetitions across
    documents are handled identically by the SQL twin, so the
    md5-keyed count/anti-join/reassemble plan is pinned byte-for-byte
    on the rebuilt text."""
    from embulk_filter_column_spark.operators import dedup_corpus_lines

    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit("\nsubscribe to our newsletter\nref "),
                 F.col("doc_id").cast("string")).alias("text"))
    return dedup_corpus_lines(planted, min_count=3)


def q_text_dedup_substrings(spark, sf_dir):
    """Lee-et-al-style corpus substring dedup at window_tokens=8: a
    13-token syndicated sentence planted into EVERY doc (all its
    8-token windows repeat corpus-wide → every covered token removed
    everywhere, C4-style no-survivor semantics) plus a unique per-doc
    tail token (kept); windows bridging each doc's own text into the
    planted span are unique per doc and stay. The md5-keyed
    count/semi-join/cover-mask plan is pinned byte-for-byte on the
    rebuilt text by the SQL twin."""
    from embulk_filter_column_spark.operators import dedup_substrings

    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit(" this content is syndicated across partner"
                       " sites under license agreement every day tail"),
                 F.col("doc_id").cast("string")).alias("text"))
    return dedup_substrings(planted, window_tokens=8, min_count=3)


def q_text_dedup_substrings_first(spark, sf_dir):
    """keep='first' substring dedup (the paper's keep-one-copy
    semantics): the planted syndicated sentence survives ONLY in the
    globally-first doc (doc 0 wins every planted window's
    (doc_id, start) minimum); every other doc loses it. The winner is
    a min(struct) aggregate in Spark and a rank-1 window in the SQL
    twin — same total order."""
    from embulk_filter_column_spark.operators import dedup_substrings

    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit(" this content is syndicated across partner"
                       " sites under license agreement every day tail"),
                 F.col("doc_id").cast("string")).alias("text"))
    return dedup_substrings(planted, window_tokens=8, min_count=3,
                            keep="first")


def q_corpus_mixture_plan(spark, sf_dir):
    """Token-budget mixture planning: largest corpus achieving the
    50/25/25 source mixture without upsampling — closed-form
    ``C = min_s T_s/w_s``, ``f_s = w_s·C/T_s`` over one
    map-side-combining token-total aggregation. Weights are
    binary-exact literals so both engines compute identical doubles."""
    from embulk_filter_column_spark.operators import plan_mixture

    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    return plan_mixture(d, "source",
                        {"src0": 0.5, "src1": 0.25, "src2": 0.25})


def q_corpus_split(spark, sf_dir):
    """Deterministic train/val/test assignment (hash-derived uniform,
    layout-independent — a repartitioned rerun yields the same split,
    which Bernoulli sample() can't promise). Weights 0.75/0.125/0.125
    are binary-exact so the cumulative boundaries are bit-identical
    literals on both engines."""
    from embulk_filter_column_spark.operators import split_corpus

    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    return split_corpus(d, {"train": 0.75, "val": 0.125, "test": 0.125},
                        seed=7).select("doc_id", "split")


def q_corpus_shuffle(spark, sf_dir):
    """Global pre-training shuffle: reproducible pseudorandom order via
    the md5 unit hash; the orderBy compiles to a range-partitioned
    distributed sort. The sort key is emitted so the order is pinned by
    the oracle (the driver compare is order-insensitive, so the KEY is
    the checkable artifact)."""
    from embulk_filter_column_spark.operators import shuffle_corpus

    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    return shuffle_corpus(d, seed=42).select("doc_id", "shuffle_key")


def q_corpus_sample_stratified(spark, sf_dir):
    """Mixture weighting: per-language sampling rates (en halved, de
    kept, everything else quartered) with exact deterministic
    membership — the corpus-rebalancing stage before packing."""
    from embulk_filter_column_spark.operators import (
        sample_corpus_stratified,
    )

    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    return sample_corpus_stratified(
        d, "lang", {"en": 0.5, "de": 1.0}, seed=13,
        default_fraction=0.25).select("doc_id", "lang")


def q_text_pii_redact(spark, sf_dir):
    """PII scrubbing — the standard pre-training redaction pass: plant
    emails/IPs/SSNs/phones into every document, redact with the native
    regexp_replace chain, oracle against the DuckDB twin built from the
    same PII_PATTERNS list."""
    from embulk_filter_column_spark.functions.text import redact_pii

    _utc(spark)
    d = _widen(_load(spark, sf_dir, "documents").select("doc_id", "text"))
    planted = d.select("doc_id", _PII_SUFFIX_SPARK().alias("text"))
    return planted.select(
        "doc_id", redact_pii("text").alias("redacted"))


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition metrics (dup-line fraction, top-word
    share, mean word length, symbol ratio) — native HOFs, one
    projection, SQL-twinned."""
    from embulk_filter_column_spark.functions.text import (
        repetition_metrics,
    )

    _utc(spark)
    d = _widen(_load(spark, sf_dir, "documents").select("doc_id", "text"))
    m = repetition_metrics("text").alias("m")
    return (d.select("doc_id", m)
            .select("doc_id",
                    F.round("m.dup_line_frac", 6).alias("dup_line_frac"),
                    F.round("m.top_word_frac", 6).alias("top_word_frac"),
                    F.round("m.mean_word_len", 6).alias("mean_word_len"),
                    F.round("m.symbol_ratio", 6).alias("symbol_ratio")))


def q_text_pack(spark, sf_dir):
    """Sequence packing (LLM batch assembly): documents in id order →
    contiguous ~512-token bins via the DISTRIBUTED two-phase cumsum
    (range partitions + broadcast prefix offsets — no single-partition
    window). Oracle = DuckDB's single-node window cumsum, so the
    two-phase plan is pinned row-for-row."""
    from embulk_filter_column_spark.operators.packing import (
        pack_documents,
    )

    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    return pack_documents(d, target_tokens=512)


def q_cdc_sessionize(spark, sf_dir):
    """Per-user event-time sessionization (gap = 1h) over the events
    table — the batch twin of the applyInPandasWithState streaming
    operator (same fold; streaming state behavior pinned by pytest)."""
    from embulk_filter_column_spark.streaming.stateful import (
        sessionize_batch,
    )

    _utc(spark)
    ev = _load(spark, sf_dir, "events").select("user_id", "ts")
    return sessionize_batch(ev, key="user_id", ts_col="ts",
                            gap_seconds=3600.0)


def q_text_token_counts(spark, sf_dir):
    _utc(spark)
    d = annotate_text(_load(spark, sf_dir, "documents"))
    return d.select("doc_id", "n_tokens", "n_bpe_tokens")


# planted non-Latin docs for the script-aware language router
# (VERDICT r4 item 3) — no single quotes, so the SQL literal embedding
# is verbatim; 800007 is majority-Latin with a trace of han (must fall
# through to the marker vote)
_SCRIPT_DOCS = [
    (800001, "日本語のテキストです。東京で書かれた文章と検索の話。"),
    (800002, "这是一段中文文本，关于搜索引擎和数据处理的内容。"),
    (800003, "한국어 텍스트입니다 서울에서 작성된 검색 문서"),
    (800004, "Это русский текст о поисковых системах и данных."),
    (800005, "هذا نص عربي عن محركات البحث والبيانات الكبيرة"),
    (800006, "यह हिंदी में लिखा गया पाठ है जो खोज इंजन के बारे में है"),
    (800007, "mixed 混合 content with mostly english words here okay"),
]

_SCRIPT_DOCS_SQL = " UNION ALL ".join(
    "SELECT CAST(%d AS BIGINT) AS doc_id, '%s' AS text" % (i, t)
    for i, t in _SCRIPT_DOCS)


def q_text_lang_id(spark, sf_dir):
    """Language ID over documents plus planted CJK / Cyrillic / Arabic /
    Devanagari docs: the Unicode-script integer-ratio rules route the
    non-Latin scripts (ja/ko/zh/ru/ar/hi), Latin text falls through to
    the marker-word vote — both stages mirrored literally in the SQL
    twin (_sql_lang_id builds from the same _SCRIPT_RULES table)."""
    _utc(spark)
    # widen the parquet side BEFORE the union: the 32-partition local
    # relation makes the union look wide to annotate_text's own _widen,
    # while the whole documents table still sits in one scan split
    d = (_widen(_load(spark, sf_dir, "documents").select("doc_id", "text"))
         .unionByName(spark.createDataFrame(
             _SCRIPT_DOCS, "doc_id long, text string")))
    return annotate_text(d).select("doc_id", "lang_pred")


def q_text_quality(spark, sf_dir):
    _utc(spark)
    d = annotate_text(_load(spark, sf_dir, "documents"))
    return d.select("doc_id", "quality")


def q_text_gopher_filter(spark, sf_dir):
    """Gopher A1.1 document gate: published thresholds, integer
    cross-multiplied comparisons so the keep verdict is bit-identical
    in DuckDB."""
    from embulk_filter_column_spark.functions.text import gopher_filter

    _utc(spark)
    # widen: the gate is a HOF-heavy single projection and the scan is
    # 1-2 splits at bench scale (no-op at real corpus sizes)
    d = _widen(_load(spark, sf_dir, "documents").select("doc_id", "text"))
    g = gopher_filter(F.col("text")).alias("g")
    return d.select("doc_id", g).select(
        "doc_id", "g.n_words", "g.mean_word_len", "g.symbol_word_ratio",
        "g.alpha_word_frac", "g.stop_hits", "g.keep")


_HTML_PREFIX = ('<html><head><script type="text/javascript">var x = 1 < 2;'
                '</script><style>p { color: red; }</style></head><body>'
                '<!-- crawl artifact --><h1 class="t">Title &amp; more</h1>'
                '<p>')
_HTML_SUFFIX = '</p>&nbsp;<div>tail</div></body></html>'


def q_text_extract_html(spark, sf_dir):
    """HTML → visible-text extraction over a BINARY html column (the
    input_hint's html:binary contract): each document's text is wrapped
    in a synthetic envelope with script/style blocks, attributes,
    comments and entities; the extraction (native regex chain) must
    recover title + body + tail. Oracle = the same chain in DuckDB via
    functions.web.extract_text_sql."""
    from embulk_filter_column_spark.functions.web import extract_text

    _utc(spark)
    d = _widen(_load(spark, sf_dir, "documents").select("doc_id", "text"))
    html = F.concat(F.lit(_HTML_PREFIX), F.col("text"),
                    F.lit(_HTML_SUFFIX))
    d = d.withColumn("html", F.encode(html, "UTF-8"))
    return d.select("doc_id",
                    extract_text(F.col("html")).alias("extracted"))


def q_web_url_normalize(spark, sf_dir):
    """URL canonicalization — the key-normalization step before LWW
    keying on url (host case, default ports, fragments, query order).
    Messy variants are constructed deterministically per doc; the oracle
    runs functions.web.normalize_url_sql over the same construction."""
    from embulk_filter_column_spark.functions.web import normalize_url

    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("HTTP://Example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:80/Path/"), F.col("doc_id").cast("string"),
        F.lit("/?b=2&a=1#frag"))
    return d.select("doc_id",
                    normalize_url(messy).alias("url_norm"))


def q_web_domain_stats(spark, sf_dir):
    """Per-domain crawl curation scorecard (C4/RefinedWeb triage):
    deterministic urls are minted from the documents table's source
    column (one domain per source, www. + path + query noise included
    to exercise the domain extraction), then `domain_stats` aggregates
    docs / distinct urls / mean token count per domain in one
    map-side-combining pass. The oracle reruns url_domain_sql over the
    same construction."""
    from embulk_filter_column_spark.operators.curation import (
        domain_stats,
    )

    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    url = F.format_string(
        "https://www.%s.example.com/d/%d?b=2&a=1", "source", "doc_id")
    return domain_stats(d.select(url.alias("url"), "text"))


def q_web_domain_filter(spark, sf_dir):
    """Domain blocklist filter over the same minted urls — a pure
    pushed-down isin predicate on the extracted domain (no join, no
    shuffle)."""
    from embulk_filter_column_spark.operators.curation import (
        filter_domains,
    )

    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    url = F.format_string(
        "https://www.%s.example.com/d/%d?b=2&a=1", "source", "doc_id")
    return filter_domains(
        d.select("doc_id", url.alias("url")),
        blocklist=["src1.example.com", "src3.example.com"])


def q_web_url_filter(spark, sf_dir):
    """C4-style URL-pattern blocklist over the minted urls: drop docs
    whose url path ends in a 7-digit or whose source is src3 — one
    native rlike predicate, shared Java/RE2 regex subset."""
    from embulk_filter_column_spark.operators.curation import (
        filter_urls,
    )

    _utc(spark)
    d = _load(spark, sf_dir, "documents")
    url = F.format_string(
        "https://www.%s.example.com/d/%d?b=2&a=1", "source", "doc_id")
    return filter_urls(
        d.select("doc_id", url.alias("url")),
        patterns=[r"/d/[0-9]*7\?", r"src3\."])


def q_multimodal_features(spark, sf_dir):
    """mapInPandas media feature extraction (deterministic fake decoder;
    the metadata columns are oracle-checked, the feature vector is pinned
    by pytest)."""
    _utc(spark)
    media = fake_media_table(spark, n=200)
    out = extract_features(media, decoder="fake")
    return out.select("media_id", "kind", "n_bytes")


# ---------------------------------------------------------------------------
# driver contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CDC replay (WAL → rules → LWW MERGE → lake state)
    on sf0.001."""
    return q_cdc_merge_replay(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "filter_keep": q_filter_keep,
        "filter_drop": q_filter_drop,
        "filter_add_default": q_filter_add_default,
        "filter_default_on_null": q_filter_default_on_null,
        "filter_json_keep": q_filter_json_keep,
        "filter_json_add": q_filter_json_add,
        "filter_json_drop": q_filter_json_drop,
        "filter_json_rename": q_filter_json_rename,
        "filter_chain": q_filter_chain,
        "cdc_lww_dedup": q_cdc_lww_dedup,
        "cdc_merge_replay": q_cdc_merge_replay,
        "cdc_schema_evolution": q_cdc_schema_evolution,
        "cdc_streaming_replay": q_cdc_streaming_replay,
        "cdc_ingest_dedup": q_cdc_ingest_dedup,
        "cdc_dlq": q_cdc_dlq,
        "wal_offset_read": q_wal_offset_read,
        "cdc_sessionize": q_cdc_sessionize,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_groups": q_dedup_groups,
        "dedup_incremental": q_dedup_incremental,
        "dedup_incremental_minhash": q_dedup_incremental_minhash,
        "dedup_embedding": q_dedup_embedding,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "similarity_bruteforce": q_similarity_bruteforce,
        "similarity_lsh": q_similarity_lsh,
        "similarity_ivf": q_similarity_ivf,
        "similarity_knn_join": q_similarity_knn_join,
        "similarity_ivf_knn": q_similarity_ivf_knn,
        "similarity_recall": q_similarity_recall,
        "text_decontaminate": q_text_decontaminate,
        "text_dedup_lines": q_text_dedup_lines,
        "text_dedup_substrings": q_text_dedup_substrings,
        "text_dedup_substrings_first": q_text_dedup_substrings_first,
        "corpus_mixture_plan": q_corpus_mixture_plan,
        "corpus_split": q_corpus_split,
        "corpus_shuffle": q_corpus_shuffle,
        "corpus_sample_stratified": q_corpus_sample_stratified,
        "text_pii_redact": q_text_pii_redact,
        "text_pack": q_text_pack,
        "text_repetition": q_text_repetition,
        "text_extract_html": q_text_extract_html,
        "web_url_normalize": q_web_url_normalize,
        "web_domain_stats": q_web_domain_stats,
        "web_domain_filter": q_web_domain_filter,
        "web_url_filter": q_web_url_filter,
        "text_token_counts": q_text_token_counts,
        "text_lang_id": q_text_lang_id,
        "text_quality": q_text_quality,
        "text_gopher_filter": q_text_gopher_filter,
        "multimodal_features": q_multimodal_features,
    }


def oracle_sql() -> dict[str, str]:
    from embulk_filter_column_spark.functions.text import redact_pii_sql
    from embulk_filter_column_spark.operators.sampling import (
        unit_hash_sql,
    )
    from embulk_filter_column_spark.functions.web import (
        extract_text_sql,
        normalize_url_sql,
        url_domain_sql,
    )

    toks = _TOKS_SQL.format(c="text")
    stop_list = ", ".join("'%s'" % w for w in _STOPWORDS)
    html_expr = ("'%s' || text || '%s'"
                 % (_HTML_PREFIX.replace("'", "''"),
                    _HTML_SUFFIX.replace("'", "''")))
    return {
        "text_extract_html": f"""
            SELECT doc_id, {extract_text_sql(html_expr)} AS extracted
            FROM documents
        """,
        "web_url_normalize": f"""
            SELECT doc_id, {normalize_url_sql(
                "'HTTP://Example' || CAST(doc_id % 7 AS VARCHAR)"
                " || '.COM:80/Path/' || CAST(doc_id AS VARCHAR)"
                " || '/?b=2&a=1#frag'")} AS url_norm
            FROM documents
        """,
        "web_domain_stats": f"""
            WITH u AS (
                SELECT printf('https://www.%s.example.com/d/%d?b=2&a=1',
                              source, doc_id) AS url, text
                FROM documents)
            SELECT {url_domain_sql('url')} AS domain,
                   count(*) AS n_docs,
                   count(DISTINCT url) AS n_urls,
                   round(avg(len({_TOKS_SQL.format(c='text')})), 4)
                       AS mean_tokens
            FROM u GROUP BY 1
        """,
        "web_domain_filter": f"""
            WITH u AS (
                SELECT doc_id,
                       printf('https://www.%s.example.com/d/%d?b=2&a=1',
                              source, doc_id) AS url
                FROM documents)
            SELECT doc_id, url FROM u
            WHERE {url_domain_sql('url')} NOT IN
                  ('src1.example.com', 'src3.example.com')
        """,
        "web_url_filter": """
            WITH u AS (
                SELECT doc_id,
                       printf('https://www.%s.example.com/d/%d?b=2&a=1',
                              source, doc_id) AS url
                FROM documents)
            SELECT doc_id, url FROM u
            WHERE NOT coalesce(
                regexp_matches(url, '(?:/d/[0-9]*7\\?)|(?:src3\\.)'),
                false)
        """,
        "filter_keep": """
            SELECT event_id, event_type AS etype, value FROM events
        """,
        "filter_drop": """
            SELECT event_id, user_id, event_type FROM events
        """,
        "filter_add_default": """
            SELECT event_id,
                   'x' AS added_str,
                   CAST(7 AS BIGINT) AS added_long,
                   1.5 AS added_double,
                   TRUE AS added_bool,
                   epoch_us(TIMESTAMP '2015-07-13 00:00:00')
                       AS added_ts_us,
                   event_type AS copy_of_type
            FROM events
        """,
        "filter_default_on_null": """
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'und' ELSE lang END
                       AS lang,
                   CASE WHEN doc_id % 5 = 0 THEN CAST(-1 AS BIGINT)
                        ELSE n_chars END AS n_chars
            FROM documents
        """,
        "filter_json_keep": """
            SELECT event_id,
                   '{"k":' || CAST(json_extract(props, '$.k') AS VARCHAR)
                       || '}' AS props
            FROM events
        """,
        "filter_json_add": """
            SELECT event_id,
                   '{"k":' || CAST(json_extract(props, '$.k') AS VARCHAR)
                       || ',"added":1}' AS props
            FROM events
        """,
        "filter_json_drop": """
            SELECT event_id, '{}' AS props FROM events
        """,
        "filter_json_rename": """
            SELECT event_id,
                   '{"kk":' || CAST(json_extract(props, '$.k') AS VARCHAR)
                       || '}' AS props
            FROM events
        """,
        "filter_chain": """
            SELECT event_id,
                   '{"k":' || CAST(json_extract(props, '$.k') AS VARCHAR)
                       || ',"v2":2}' AS props,
                   'two' AS stage
            FROM events
        """,
        "cdc_lww_dedup": """
            WITH ranked AS (
                SELECT user_id, event_id, ts, event_type, value,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM events)
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   event_type, value
            FROM ranked WHERE rn = 1
        """,
        "cdc_merge_replay": _CHANGELOG_WINNER_SQL + """
            SELECT user_id, seq AS event_id, epoch_us(ts) AS ts_us,
                   event_type, value
            FROM ranked WHERE rn = 1 AND op <> 'D'
        """,
        "cdc_streaming_replay": _CHANGELOG_WINNER_SQL + """
            SELECT user_id, seq AS event_id, epoch_us(ts) AS ts_us,
                   event_type, value
            FROM ranked WHERE rn = 1 AND op <> 'D'
        """,
        "cdc_schema_evolution": _CHANGELOG_WINNER_SQL + """
            SELECT user_id, seq AS event_id, event_type AS etype, value,
                   CASE WHEN seq >= 5000 THEN 1.0 ELSE NULL END AS quality
            FROM ranked WHERE rn = 1 AND op <> 'D'
        """,
        "wal_offset_read": """
            SELECT event_id, user_id, event_type FROM events
            WHERE event_id >= 2000 AND event_id < 5000
        """,
        "cdc_dlq": """
            WITH src AS (
                SELECT event_id AS seq,
                       CASE WHEN event_id % 13 = 0 THEN 'X'
                            WHEN event_type = 'error' THEN 'D'
                            ELSE 'I' END AS op,
                       CASE WHEN event_id % 19 = 0 THEN NULL
                            ELSE ts END AS ts,
                       CASE WHEN event_id % 17 = 0 THEN NULL
                            ELSE user_id END AS user_id
                FROM events)
            SELECT seq,
                   CASE WHEN user_id IS NULL THEN 'null_key'
                        WHEN op IS NULL
                             OR op NOT IN ('I', 'U', 'D')
                            THEN 'bad_op'
                        WHEN ts IS NULL THEN 'null_order_col'
                   END AS _dlq_reason
            FROM src
            WHERE user_id IS NULL
               OR op IS NULL OR op NOT IN ('I', 'U', 'D')
               OR ts IS NULL
        """,
        # ingest-time content dedup: acceptance == first url (batch
        # order == url order by construction) per NORMALIZED text,
        # minus the urls tombstoned by the trailing delete events
        "cdc_ingest_dedup": f"""
            WITH orig AS (
                SELECT printf('u%09d', doc_id) AS url, text
                FROM documents),
            mir AS (
                SELECT printf('v%09d', doc_id) AS url, text
                FROM documents WHERE doc_id % 7 = 0),
            allup AS (
                SELECT url, text FROM orig
                UNION ALL SELECT url, text FROM mir),
            ranked AS (
                SELECT url, text, row_number() OVER (
                    PARTITION BY {_NORM_SQL.format(c='text')}
                    ORDER BY url) AS rn
                FROM allup)
            SELECT url, text FROM ranked
            WHERE rn = 1 AND url NOT IN (
                SELECT printf('u%09d', doc_id) FROM documents
                WHERE doc_id % 11 = 0)
        """,
        "cdc_sessionize": """
            WITH t AS (
                SELECT CAST(user_id AS VARCHAR) AS key, epoch_us(ts) AS us
                FROM events),
            d AS (
                SELECT key, us,
                       CASE WHEN us - lag(us) OVER (
                                PARTITION BY key ORDER BY us)
                                 > CAST(3600 AS BIGINT) * 1000000
                            THEN 1 ELSE 0 END AS brk
                FROM t),
            s AS (
                SELECT key, us,
                       sum(brk) OVER (PARTITION BY key ORDER BY us
                                      ROWS UNBOUNDED PRECEDING) AS sid
                FROM d)
            SELECT key, min(us) AS session_start_us,
                   max(us) AS session_end_us, count(*) AS n_events
            FROM s GROUP BY key, sid
        """,
        "dedup_exact": f"""
            WITH all_docs AS ({_DOCS_DUPS_SQL})
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM all_docs
            GROUP BY {_NORM_SQL.format(c='text')}
        """,
        # the exact Jaccard similarity join — also the oracle for the
        # LSH-blocked + verified variants (their output is the same exact
        # join; only the candidate-pruning strategy differs)
        "dedup_incremental": f"""
            WITH all_docs AS ({_DOCS_DUPS_SQL})
            SELECT min(doc_id) AS doc_id FROM all_docs
            GROUP BY {_NORM_SQL.format(c='text')}
        """,
        "dedup_ngram_jaccard": _JACCARD_PAIRS_SQL,
        "dedup_minhash_lsh": _JACCARD_PAIRS_SQL,
        "dedup_simhash_pairs": _JACCARD_PAIRS_SQL,
        # two-batch replay of the MinHashIndex semantics: a doc is
        # dropped iff exact Jaccard ≥ 0.8 with an EARLIER doc of its
        # own batch (pairs are (a < b), so p.b = d with p.a in-batch)
        # or with a SURVIVOR of batch 1 — the cross-batch check sees
        # only what the index holds, i.e. s1, not all of batch 1
        "dedup_incremental_minhash": f"""
            WITH pairs AS (SELECT a, b FROM ({_JACCARD_PAIRS_SQL})),
            s1 AS (
                SELECT doc_id FROM documents d
                WHERE NOT EXISTS (
                    SELECT 1 FROM pairs p
                    WHERE p.b = d.doc_id AND p.a < 1000000)),
            b2 AS (
                SELECT doc_id + 1000000 AS doc_id FROM documents
                WHERE doc_id % 10 = 0),
            s2 AS (
                SELECT doc_id FROM b2 d
                WHERE NOT EXISTS (
                    SELECT 1 FROM pairs p
                    WHERE p.b = d.doc_id AND p.a >= 1000000)
                  AND NOT EXISTS (
                    SELECT 1 FROM pairs p JOIN s1 ON p.a = s1.doc_id
                    WHERE p.b = d.doc_id))
            SELECT doc_id FROM s1
            UNION ALL
            SELECT doc_id FROM s2
        """,
        # transitive closure (recursive CTE) over the same exact pair
        # join: component label = min reachable id — pins the Spark
        # large-star/small-star implementation on multi-hop chains
        "dedup_groups": f"""
            WITH RECURSIVE pairs AS (
                SELECT a, b FROM ({_JACCARD_PAIRS_SQL})
            ),
            edges AS (
                SELECT a AS u, b AS v FROM pairs
                UNION
                SELECT b AS u, a AS v FROM pairs
            ),
            nodes AS (SELECT DISTINCT u AS n FROM edges),
            reach AS (
                SELECT n, n AS r FROM nodes
                UNION
                SELECT e.v AS n, reach.r
                FROM reach JOIN edges e ON e.u = reach.n
            ),
            labels AS (
                SELECT n AS doc_id, min(r) AS canonical_id
                FROM reach GROUP BY n
            )
            SELECT doc_id, canonical_id,
                   count(*) OVER (PARTITION BY canonical_id)
                       AS group_size
            FROM labels
        """,
        "dedup_simhash": """
            SELECT doc_id AS a, doc_id + 1000000 AS b, 0 AS hamming
            FROM documents WHERE doc_id % 10 = 0
        """,
        "similarity_lsh": """
            SELECT CAST(0 AS BIGINT) AS vec_id, 1.0 AS cosine
            UNION ALL
            SELECT CAST(2000000 + i AS BIGINT), 1.0 FROM range(1, 10) t(i)
        """,
        "similarity_ivf": """
            SELECT CAST(0 AS BIGINT) AS vec_id, 1.0 AS cosine
            UNION ALL
            SELECT CAST(2000000 + i AS BIGINT), 1.0 FROM range(1, 10) t(i)
        """,
        "dedup_embedding": """
            SELECT vec_id AS a, vec_id + 1000000 AS b, 1.0 AS cosine
            FROM embeddings WHERE vec_id % 5 = 0
        """,
        "similarity_knn_join": """
            WITH q AS (SELECT vec_id AS query_id,
                              embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 3),
            scored AS (
                SELECT q.query_id, e.vec_id,
                       round(list_cosine_similarity(
                           e.embedding::DOUBLE[], q.qv), 6) AS cosine
                FROM embeddings e CROSS JOIN q),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine DESC, vec_id ASC) AS rn
                FROM scored)
            SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= 5
        """,
        # planted-neighbor construction: per query q ∈ {0,1,2}, the
        # top-10 is the query vector itself + its 9 parallel plants
        # (all cosine exactly 1.0; organic corpus vectors can't round
        # to 1.0) — same recipe as similarity_ivf / similarity_lsh
        "similarity_ivf_knn": """
            SELECT CAST(q AS BIGINT) AS query_id,
                   CAST(q AS BIGINT) AS vec_id, 1.0 AS cosine
            FROM range(3) t(q)
            UNION ALL
            SELECT CAST(q AS BIGINT),
                   CAST(2000000 + q * 100 + i AS BIGINT), 1.0
            FROM range(3) t(q) CROSS JOIN range(1, 10) s(i)
        """,
        # planted-parallel corpus: both retrieval paths return the
        # query + its 9 plants, so per-query recall is exactly 1.0
        "similarity_recall": """
            SELECT CAST(q AS BIGINT) AS query_id, 1.0 AS recall
            FROM range(3) t(q)
        """,
        "text_decontaminate": f"""
            WITH ev AS ({_EVAL_SET_SQL}),
            tr_tok AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           trim(regexp_replace(lower(text),
                                '[^a-z0-9\\s]+', ' ', 'g')), '\\s+'),
                           x -> x <> '') AS t
                FROM documents),
            ev_tok AS (
                SELECT doc_id AS eval_id,
                       list_filter(string_split_regex(
                           trim(regexp_replace(lower(text),
                                '[^a-z0-9\\s]+', ' ', 'g')), '\\s+'),
                           x -> x <> '') AS t
                FROM ev),
            short_sizes AS (
                SELECT DISTINCT len(t) AS s FROM ev_tok
                WHERE len(t) > 0 AND len(t) < 3),
            tr_sh AS (
                SELECT doc_id,
                       CASE WHEN len(t) >= 3 THEN list_distinct(
                                [array_to_string(t[i+1:i+3], ' ')
                                 FOR i IN range(len(t) - 2)])
                            WHEN len(t) > 0 THEN
                                [array_to_string(t, ' ')]
                            ELSE [] END AS sh
                FROM tr_tok),
            ev_sh AS (
                SELECT eval_id,
                       CASE WHEN len(t) >= 3 THEN list_distinct(
                                [array_to_string(t[i+1:i+3], ' ')
                                 FOR i IN range(len(t) - 2)])
                            WHEN len(t) > 0 THEN
                                [array_to_string(t, ' ')]
                            ELSE [] END AS sh
                FROM ev_tok),
            -- cover_short_eval twin: train shingles at every short
            -- eval size, same per-size fallback as word_ngrams
            tr_extra AS (
                SELECT doc_id,
                       CASE WHEN len(t) >= s THEN list_distinct(
                                [array_to_string(t[i+1:i+s], ' ')
                                 FOR i IN range(len(t) - s + 1)])
                            WHEN len(t) > 0 THEN
                                [array_to_string(t, ' ')]
                            ELSE [] END AS sh
                FROM tr_tok CROSS JOIN short_sizes),
            tr_inv AS (
                SELECT DISTINCT doc_id, shingle FROM (
                    SELECT doc_id, unnest(sh) AS shingle FROM tr_sh
                    UNION ALL
                    SELECT doc_id, unnest(sh) AS shingle
                    FROM tr_extra)),
            ev_sz AS (SELECT eval_id, len(sh) AS en FROM ev_sh),
            ev_inv AS (SELECT eval_id, unnest(sh) AS shingle
                       FROM ev_sh),
            hits AS (
                SELECT tr_inv.doc_id, ev_inv.eval_id, count(*) AS i
                FROM tr_inv JOIN ev_inv
                  ON tr_inv.shingle = ev_inv.shingle
                GROUP BY 1, 2),
            ranked AS (
                SELECT doc_id, hits.eval_id, i / en AS overlap,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY i / en DESC, hits.eval_id ASC)
                           AS rn
                FROM hits JOIN ev_sz ON ev_sz.eval_id = hits.eval_id)
            SELECT doc_id, eval_id, round(overlap, 6) AS overlap
            FROM ranked WHERE rn = 1 AND overlap >= 0.5
        """,
        "text_dedup_lines": """
            WITH planted AS (
                SELECT doc_id,
                       text || chr(10) || 'subscribe to our newsletter'
                       || chr(10) || 'ref ' || CAST(doc_id AS VARCHAR)
                           AS text
                FROM documents),
            sp AS (SELECT doc_id, string_split(text, chr(10)) AS l
                   FROM planted),
            flat AS (
                SELECT doc_id, u.pos AS pos, u.ln AS ln
                FROM (SELECT doc_id,
                             unnest([{'pos': i, 'ln': l[i+1]}
                                    FOR i IN range(len(l))]) AS u
                      FROM sp)),
            common AS (
                SELECT md5(ln) AS h FROM flat WHERE trim(ln) <> ''
                GROUP BY 1 HAVING count(*) >= 3),
            kept AS (
                SELECT doc_id, pos, ln FROM flat
                WHERE md5(ln) NOT IN (SELECT h FROM common)),
            agg AS (
                SELECT doc_id,
                       string_agg(ln, chr(10) ORDER BY pos)
                           AS text_clean
                FROM kept GROUP BY doc_id)
            SELECT p.doc_id, coalesce(a.text_clean, '') AS text_clean
            FROM planted p LEFT JOIN agg a USING (doc_id)
        """,
        # keep='first': identical pipeline, but rank-1 occurrences per
        # flagged hash (ORDER BY doc_id, s == Spark's min(struct) total
        # order) protect their tokens — only rn > 1 occurrences cut
        "text_dedup_substrings_first": """
            WITH planted AS (
                SELECT doc_id,
                       text || ' this content is syndicated across'
                       || ' partner sites under license agreement'
                       || ' every day tail' || CAST(doc_id AS VARCHAR)
                           AS text
                FROM documents),
            toked AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(text),
                                                      '\\s+'),
                                   x -> x <> '') AS t
                FROM planted),
            win AS (
                SELECT doc_id, u.s AS s, u.h AS h
                FROM (SELECT doc_id, unnest(
                          CASE WHEN len(t) >= 8 THEN
                              [{'s': i, 'h': md5(array_to_string(
                                   t[i+1:i+8], ' '))}
                               FOR i IN range(len(t) - 7)]
                          ELSE [] END) AS u
                      FROM toked)),
            flagged AS (
                SELECT h FROM win GROUP BY 1 HAVING count(*) >= 3),
            occ AS (
                SELECT doc_id, s, h,
                       row_number() OVER (
                           PARTITION BY h ORDER BY doc_id, s) AS rn
                FROM win WHERE h IN (SELECT h FROM flagged)),
            st AS (
                SELECT doc_id,
                       list(s) FILTER (WHERE rn > 1) AS ss,
                       list(s) FILTER (WHERE rn = 1) AS ws
                FROM occ GROUP BY doc_id),
            j AS (
                SELECT toked.doc_id, t,
                       coalesce(st.ss, CAST([] AS BIGINT[])) AS ss,
                       coalesce(st.ws, CAST([] AS BIGINT[])) AS ws
                FROM toked LEFT JOIN st USING (doc_id))
            SELECT doc_id,
                   array_to_string(
                       [t[i+1] FOR i IN range(len(t))
                        IF len(list_filter(ss,
                              s -> s <= i AND i < s + 8)) = 0
                           OR len(list_filter(ws,
                              s -> s <= i AND i < s + 8)) > 0], ' ')
                       AS text_clean
            FROM j
        """,
        "text_dedup_substrings": """
            WITH planted AS (
                SELECT doc_id,
                       text || ' this content is syndicated across'
                       || ' partner sites under license agreement'
                       || ' every day tail' || CAST(doc_id AS VARCHAR)
                           AS text
                FROM documents),
            toked AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(text),
                                                      '\\s+'),
                                   x -> x <> '') AS t
                FROM planted),
            win AS (
                SELECT doc_id, u.s AS s, u.h AS h
                FROM (SELECT doc_id, unnest(
                          CASE WHEN len(t) >= 8 THEN
                              [{'s': i, 'h': md5(array_to_string(
                                   t[i+1:i+8], ' '))}
                               FOR i IN range(len(t) - 7)]
                          ELSE [] END) AS u
                      FROM toked)),
            flagged AS (
                SELECT h FROM win GROUP BY 1 HAVING count(*) >= 3),
            st AS (
                SELECT doc_id, list(s) AS ss FROM win
                WHERE h IN (SELECT h FROM flagged)
                GROUP BY doc_id),
            j AS (
                SELECT toked.doc_id, t,
                       coalesce(st.ss, CAST([] AS BIGINT[])) AS ss
                FROM toked LEFT JOIN st USING (doc_id))
            SELECT doc_id,
                   array_to_string(
                       [t[i+1] FOR i IN range(len(t))
                        IF len(list_filter(ss,
                            s -> s <= i AND i < s + 8)) = 0], ' ')
                       AS text_clean
            FROM j
        """,
        "corpus_mixture_plan": f"""
            WITH totals AS (
                SELECT source,
                       SUM(len({toks})) AS total_tokens
                FROM documents
                WHERE source IN ('src0', 'src1', 'src2')
                GROUP BY source),
            w AS (
                SELECT source, total_tokens,
                       CASE source WHEN 'src0' THEN 0.5
                                   WHEN 'src1' THEN 0.25
                                   WHEN 'src2' THEN 0.25 END AS wt
                FROM totals),
            c AS (SELECT min(total_tokens / wt) AS cap FROM w)
            SELECT source, total_tokens,
                   round(wt * cap / total_tokens, 6) AS fraction
            FROM w, c
        """,
        "corpus_split": f"""
            SELECT doc_id,
                   CASE WHEN {unit_hash_sql('doc_id', 7)} < 0.75
                            THEN 'train'
                        WHEN {unit_hash_sql('doc_id', 7)} < 0.875
                            THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "corpus_shuffle": f"""
            SELECT doc_id,
                   {unit_hash_sql('doc_id', 42)} AS shuffle_key
            FROM documents
        """,
        "corpus_sample_stratified": f"""
            SELECT doc_id, lang FROM documents
            WHERE {unit_hash_sql('doc_id', 13)} <
                  CASE WHEN lang = 'en' THEN 0.5
                       WHEN lang = 'de' THEN 1.0
                       ELSE 0.25 END
        """,
        "similarity_bruteforce": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(
                       embedding::DOUBLE[], (SELECT qv FROM q)), 6)
                       AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "text_pii_redact": f"""
            SELECT doc_id,
                   {redact_pii_sql(_PII_SUFFIX_SQL)} AS redacted
            FROM documents
        """,
        "text_pack": f"""
            WITH t AS (
                SELECT doc_id,
                       len({_TOKS_SQL.format(c='text')}) AS n_tokens
                FROM documents),
            c AS (
                SELECT doc_id, n_tokens,
                       sum(n_tokens) OVER (ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cs
                FROM t)
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(floor((cs - n_tokens) / 512.0) AS BIGINT)
                       AS bin_id
            FROM c
        """,
        "text_repetition": f"""
            WITH base AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, chr(10)),
                                   x -> trim(x) <> '') AS lines,
                       {_TOKS_SQL.format(c='text')} AS t
                FROM documents),
            stats AS (
                SELECT doc_id,
                       CASE WHEN len(lines) > 0 THEN
                           1.0 - len(list_distinct(lines)) / len(lines)
                       END AS dup_line_frac,
                       CASE WHEN len(t) > 0 THEN
                           list_max(list_transform(list_distinct(t),
                               d -> len(list_filter(t, x -> x = d))))
                           / len(t)
                       END AS top_word_frac,
                       CASE WHEN len(t) > 0 THEN
                           list_sum(list_transform(t, x -> length(x)))
                           / len(t)
                       END AS mean_word_len,
                       CASE WHEN length(text) > 0 THEN
                           length(regexp_replace(text,
                               '[A-Za-z0-9\s]', '', 'g'))
                           / length(text)
                       END AS symbol_ratio
                FROM base
                WHERE text IS NOT NULL AND trim(text) <> '')
            SELECT doc_id,
                   round(dup_line_frac, 6) AS dup_line_frac,
                   round(top_word_frac, 6) AS top_word_frac,
                   round(mean_word_len, 6) AS mean_word_len,
                   round(symbol_ratio, 6) AS symbol_ratio
            FROM stats
        """,
        "text_token_counts": f"""
            SELECT doc_id,
                   len({toks}) AS n_tokens,
                   len(regexp_extract_all(text,
                       '{TOKEN_PATTERN}')) AS n_bpe_tokens
            FROM documents
        """,
        "text_lang_id": f"""
            SELECT doc_id, {_sql_lang_id('text')} AS lang_pred
            FROM (SELECT doc_id, text FROM documents
                  UNION ALL {_SCRIPT_DOCS_SQL})
        """,
        "text_gopher_filter": f"""
            WITH g AS (
                SELECT doc_id,
                       {toks} AS t,
                       len(regexp_extract_all(text, '[#…]')) AS sym
                FROM documents),
            m AS (
                SELECT doc_id,
                       len(t) AS n,
                       CAST(list_sum(list_transform(
                           t, x -> len(x))) AS BIGINT) AS sum_len,
                       sym,
                       len(list_filter(t,
                           x -> regexp_matches(x, '[a-z]'))) AS aw,
                       len(list_filter(
                           ['the','be','to','of','and','that','have',
                            'with'],
                           w -> list_contains(t, w))) AS sh
                FROM g)
            SELECT doc_id, n AS n_words,
                   round(sum_len / n, 4) AS mean_word_len,
                   round(sym / n, 4) AS symbol_word_ratio,
                   round(aw / n, 4) AS alpha_word_frac,
                   sh AS stop_hits,
                   (n >= 50 AND n <= 100000
                    AND sum_len >= 3 * n AND sum_len <= 10 * n
                    AND 10 * sym <= n
                    AND 5 * aw >= 4 * n
                    AND sh >= 2) AS keep
            FROM m
        """,
        "text_quality": f"""
            WITH base AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       len({toks}) AS n_tokens,
                       len(regexp_extract_all(text, '[A-Za-z]'))
                           AS n_alpha,
                       len(regexp_extract_all(text, '[^\\w\\s]'))
                           AS n_punct,
                       len(list_filter({toks},
                           x -> x IN ({stop_list}))) AS n_stop
                FROM documents),
            ratios AS (
                SELECT doc_id,
                       n_alpha / greatest(n_chars, 1) AS alpha,
                       n_punct / greatest(n_chars, 1) AS punct,
                       n_stop / greatest(n_tokens, 1) AS stop_ratio,
                       n_chars / greatest(n_tokens, 1) AS mean_word_len,
                       CASE WHEN n_chars BETWEEN 50 AND 100000
                            THEN 1.0 ELSE 0.3 END AS length_ok,
                       n_chars, n_tokens
                FROM base)
            SELECT doc_id,
                   round(least(
                       0.30 * alpha
                       + 0.15 * (1 - least(punct * 4, 1.0))
                       + 0.15 * least(stop_ratio * 4, 1.0)
                       + 0.20 * length_ok
                       + 0.20 * (CASE WHEN mean_word_len >= 3
                                       AND mean_word_len <= 12
                                  THEN 1.0 ELSE 0.4 END),
                       1.0), 4) AS quality
            FROM ratios
        """,
        "multimodal_features": """
            SELECT i AS media_id,
                   CASE (i % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   71 + length(CAST(i AS VARCHAR)) AS n_bytes
            FROM range(200) t(i)
        """,
    }
