"""Last-writer-wins dedup (SURVEY.md §2.3).

Implemented as ``groupBy(key).agg(max_by(payload_struct, order_struct))``
rather than a window + row_number: max_by is an ordinary aggregate, so
Spark performs **map-side partial aggregation** — each task reduces its
local duplicates before the shuffle. A hot url with millions of updates in
one batch collapses to one row per map task, which is the skew defense a
window (full shuffle of every duplicate to one partition, then sort) does
not have. AQE skew-join/partition splitting covers the residue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _max_by_order(df: DataFrame, by: list, order: tuple,
                  count_col: str | None) -> DataFrame:
    """``groupBy(by)`` keeping each group's greatest-``order`` row, in
    the input's column order; with ``count_col``, also the group's
    event count from the same aggregate, as the last column (a
    ``count_col`` already in ``df`` holds partial counts: summed)."""
    cols = [c for c in df.columns if c != count_col]
    payload = [c for c in cols if c not in by]
    aggs = [F.max_by(
        F.struct(*[F.col(c) for c in payload]),
        F.struct(*[F.col(c) for c in order]),
    ).alias("_w")]
    if count_col is not None:
        n = (F.sum(count_col) if count_col in df.columns
             else F.count(F.lit(1)))
        aggs.append(n.alias(count_col))
    return df.groupBy(*by).agg(*aggs).select(
        *[c if c in by else F.col("_w." + c).alias(c) for c in cols],
        *([count_col] if count_col is not None else []))


def last_writer_wins(df: DataFrame, key: str = "url",
                     order: tuple = ("warc_ts", "seq"),
                     count_col: str | None = None) -> DataFrame:
    """One row per ``key`` — the one with the greatest ``order`` tuple.
    Column order of the result matches the input. ``count_col`` appends
    the key's event count, computed by the same aggregate (no extra
    job) — the heavy-hitter figure ``CDCPipeline``'s auto-salting reads
    off the previous merge."""
    return _max_by_order(df, [key], order, count_col)


def salted_last_writer_wins(df: DataFrame, key: str = "url",
                            order: tuple = ("warc_ts", "seq"),
                            n_salts: int = 16,
                            count_col: str | None = None) -> DataFrame:
    """Two-stage LWW for pathological key skew: shuffle 1 reduces on
    (key, salt) — a hot url fans out over ``n_salts`` reducers — then
    shuffle 2 reduces the ≤ n_salts per-salt winners per key.

    ``max_by``'s map-side partial aggregation already absorbs most skew
    (EXPLAIN.md), but when a single key's event volume exceeds what one
    reduce partition should hold (10^10-event replays with a viral-page
    url), the salt bounds any reduce task at ~1/n_salts of the hot key.
    The salt is derived from the event's ``order`` columns, so it is
    deterministic per event, uniform across a key's events, and needs
    no extra input column. Result is identical to last_writer_wins
    (max is associative) — pinned by test; so is ``count_col``, which
    stage 2 sums from the per-salt counts of stage 1."""
    salt = F.pmod(
        F.xxhash64(*[F.col(c).cast("string") for c in order]),
        F.lit(n_salts))
    stage1 = _max_by_order(df.withColumn("_salt", salt), [key, "_salt"],
                           order, count_col).drop("_salt")
    return last_writer_wins(stage1, key=key, order=order,
                            count_col=count_col)


#: fewest sampled events the ``min_share`` threshold may stand for: below
#: it a share cannot be told from sampling noise (1 % of a 1,500-event
#: batch is ~15 rows, and 5 % of that is under one event, so every
#: sampled key would count as hot)
MIN_HOT_SAMPLE = 5


def hot_keys(df: DataFrame, key: str = "url", fraction: float = 0.01,
             min_share: float = 0.001, seed: int = 42) -> list:
    """Sampled hot-key detection: keys whose share of a ``fraction``
    sample reaches ``min_share`` (the salting trigger — SURVEY.md §4).
    When the threshold stands for fewer than ``MIN_HOT_SAMPLE`` sampled
    events the sample is too small to measure ``min_share`` and no key
    is hot. The per-key counts and the sample total come out of one
    query (the total is a broadcast single-row cross join over the
    grouped counts, so the sample is scanned once); under AQE that
    query runs as 3-4 Spark jobs (4 traced on a 15,000-event batch, 3
    on a 1,500-event one). At 10^10 events a 1% sample's group count
    is still executor-side until the final filtered collect."""
    sample = df.sample(fraction=fraction, seed=seed)
    counts = sample.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("_total"))
    threshold = (F.col("_total") * F.lit(min_share)).cast("long")
    hot = (counts.crossJoin(F.broadcast(total))
           .where((F.col("n") >= threshold)
                  & (threshold >= F.lit(MIN_HOT_SAMPLE)))
           .select(key))
    return [r[0] for r in hot.collect()]
