"""Deterministic Common-Crawl-style change-event generator (SURVEY.md §7
step 3, FIXTURES.md F4).

Everything is a pure native-Spark expression of the event's global ``seq``
(+ a seed), so the data is deterministic regardless of partitioning or
cluster size, fully distributed (no driver-side loops), and scales linearly:
generating 10^10 events is ``spark.range(10**10)`` across executors.

Table shape (BASELINE.json input_hint):
  web_pages(url string, warc_ts timestamp, html binary, text string,
            lang string)
wrapped in a WAL envelope:
  change_events(op string {I,U,D}, seq long, url, warc_ts, html, text, lang)

Domain draw is zipf-ish (power law via u^alpha) to exercise hot-domain skew
handling downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.wal import WalReader

LANGS = ("en", "de", "fr", "ja", "es", "pt", "zh", "ru")

BASE_TS = "2024-01-01 00:00:00"


def _unit_hash(col, seed: int, tag: str):
    """Deterministic pseudo-uniform in [0,1) from (col, seed, tag)."""
    h = F.xxhash64(col.cast("string"), F.lit(tag), F.lit(seed))
    return (F.pmod(h, F.lit(1_000_000)).cast("double") / F.lit(1_000_000.0))


def web_change_events(
    spark: SparkSession,
    n_events: int,
    n_domains: int = 1_000,
    pages_per_domain: int = 200,
    skew: float = 3.0,
    seed: int = 42,
    num_partitions: int | None = None,
    with_meta: bool = False,
) -> DataFrame:
    """Return a DataFrame of ``n_events`` deterministic change events.

    ``skew`` > 1 concentrates urls on low-numbered domains (power-law);
    ~5% deletes, ~25% updates, ~70% inserts. ``warc_ts`` is decorrelated
    from ``seq`` (late/out-of-order arrivals) so last-writer-wins by
    (warc_ts, seq) is actually exercised.

    ``with_meta`` appends the envelope's extra json payload column
    (SURVEY.md §1.4): a deterministic JSON document per event, so
    replays can exercise the engine's JSONPath rules end-to-end.
    """
    df = spark.range(0, n_events, 1, num_partitions or spark.sparkContext.defaultParallelism)
    seq = F.col("id")

    u_dom = _unit_hash(seq, seed, "dom")
    domain_id = F.floor(F.pow(u_dom, F.lit(float(skew))) * n_domains) \
        .cast("long")
    u_page = _unit_hash(seq, seed, "page")
    page_id = F.floor(u_page * pages_per_domain).cast("long")
    url = F.concat(
        F.lit("https://d"), domain_id,
        F.lit(".example.com/p/"), page_id)

    # out-of-order timestamps: large deterministic jitter around seq order
    jitter = F.pmod(F.xxhash64(seq, F.lit("ts"), F.lit(seed)),
                    F.lit(86_400)).cast("long")
    warc_ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(BASE_TS)) + (seq / F.lit(10)).cast("long")
        + jitter)

    u_op = F.pmod(F.xxhash64(seq, F.lit("op"), F.lit(seed)), F.lit(100))
    op = (F.when(u_op < 70, "I").when(u_op < 95, "U").otherwise("D"))

    rev = F.sha2(F.concat(url, F.lit("#"), warc_ts.cast("string")), 256)
    text = F.concat(
        F.lit("title d"), domain_id, F.lit(" p"), page_id,
        F.lit(" body "), F.substring(rev, 1, 32),
        F.lit(" lang-token "), F.substring(rev, 33, 16))
    html = F.encode(
        F.concat(F.lit("<html><body><p>"), text, F.lit("</p></body></html>")),
        "UTF-8")
    lang = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]),
        (F.pmod(domain_id, F.lit(len(LANGS))) + 1).cast("int"))

    is_delete = op == "D"
    cols = [
        op.alias("op"),
        seq.alias("seq"),
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.when(~is_delete, html).alias("html"),
        F.when(~is_delete, text).alias("text"),
        F.when(~is_delete, lang).alias("lang"),
    ]
    if with_meta:
        meta = F.concat(
            F.lit('{"title":"page d'), domain_id, F.lit(" p"), page_id,
            F.lit('","crawl":{"depth":'), F.pmod(seq, F.lit(7)),
            F.lit(',"agent":"bot-'), F.pmod(seq, F.lit(5)),
            F.lit('"},"tags":["t'), F.pmod(seq, F.lit(13)),
            F.lit('","t'), F.pmod(seq, F.lit(17)),
            F.lit('"],"noise":"'), F.substring(rev, 49, 12), F.lit('"}'))
        cols.append(F.when(~is_delete, meta).alias("meta"))
    return df.select(*cols)


def write_wal(df: DataFrame, path: str, chunk_rows: int = 100_000) -> int:
    """Write change events as a chunked parquet WAL: one directory per
    chunk (``chunk=<n>/``), chunk = seq // chunk_rows — the unit of offset
    tracking. Returns the number of chunks written."""
    out = df.withColumn("chunk", (F.col("seq") / F.lit(chunk_rows))
                        .cast("long"))
    (out.repartition("chunk")
        .sortWithinPartitions("seq")
        .write.mode("overwrite").partitionBy("chunk").parquet(path))
    # chunk count from the written partition directories — an O(dirs)
    # driver listing, not an extra full-scan max() job over the WAL
    return WalReader(df.sparkSession, path).end_offset
