"""Seeded WAL generator for the CDC ingest benchmark.

Builds web-page change events with numpy and pyarrow only (no Spark job,
no per-row Python loop over events) and writes them in the layout
``WalReader`` reads: ``<wal>/chunk=<n>/part-00000.parquet``, one chunk
per pipeline batch. ``warc_ts`` is ``timestamp("us", tz="UTC")``, which
Spark reads as ``TimestampType`` like ``sources.write_wal`` output.

The generator deliberately does not call the engine's
``sources.web_change_events``: a change there must not change the
benchmark's input. Each workload plants what it needs: a hot URL, mirror
URLs and unchanged re-crawls, malformed events.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
LANGS = np.array(["en", "de", "fr", "ja", "es", "pt", "zh", "ru"])
_SYLLABLES = ["ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "ne",
              "po", "ra", "si", "tu", "ve", "wa", "xi", "yo", "ze", "qua"]

WAL_SCHEMA = pa.schema([
    ("op", pa.string()), ("seq", pa.int64()), ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
    ("text", pa.string()), ("lang", pa.string()),
])
META_FIELD = pa.field("meta", pa.string())

#: backlog: share of every batch that goes to the one hot URL
HOT_SHARE = 0.12
#: trickle: shares of mirror URLs, unchanged re-crawls, malformed events
MIRROR_SHARE = 0.03
RECRAWL_SHARE = 0.05
MALFORMED_SHARE = 0.01


def vocabulary(size: int) -> np.ndarray:
    """Fixed (seed-independent) vocabulary of distinct lowercase words of
    two to four syllables."""
    rng = np.random.default_rng(12345)
    n = 4 * size    # enough draws for ``size`` distinct words
    syl = np.array(_SYLLABLES)[rng.integers(0, len(_SYLLABLES), (n, 4))]
    k = rng.integers(2, 5, size=n)
    words = np.char.add(syl[:, 0], syl[:, 1])
    for c in (2, 3):
        words = np.char.add(words, np.where(k > c, syl[:, c], ""))
    _, first = np.unique(words, return_index=True)
    return words[np.sort(first)][:size]


def zipf_ids(rng, n: int, vocab_size: int, a: float) -> np.ndarray:
    """Zipf(a) draws over [0, vocab_size) by inverse-CDF lookup."""
    w = 1.0 / np.arange(1, vocab_size + 1) ** a
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(n), side="right")


def join_words(words: np.ndarray, ids: np.ndarray,
               lengths: np.ndarray) -> pa.Array:
    """Space-join ``lengths[i]`` consecutive words of ``words[ids]`` into
    one string per row (list array + ``binary_join``, no Python loop)."""
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    flat = pc.take(pa.array(words), pa.array(ids))
    return pc.binary_join(pa.ListArray.from_arrays(offsets, flat), " ")


def concat(*parts) -> pa.Array:
    """Element-wise string concatenation of arrays and scalars."""
    arrs = [p if isinstance(p, (pa.Array, pa.ChunkedArray))
            else pa.scalar(str(p)) for p in parts]
    return pc.binary_join_element_wise(*arrs, "")


def hex_tokens(rng, n: int) -> pa.Array:
    """A random 12-hex-digit token per row: makes generated texts
    distinct unless a plant copies one on purpose."""
    v = rng.integers(0, 2 ** 48, size=n, dtype=np.int64)
    return pa.array(np.char.mod("%012x", v))


def urls(rng, n: int, n_domains: int, pages: int, a: float) -> np.ndarray:
    dom = zipf_ids(rng, n, n_domains, a)
    page = rng.integers(0, pages, size=n)
    return np.char.add(np.char.add(np.char.add(
        "https://d", dom.astype(str)), ".example.com/p/"), page.astype(str))


def ops(rng, n: int) -> np.ndarray:
    """70 % insert, 25 % update, 5 % delete."""
    u = rng.random(n)
    return np.where(u < 0.70, "I", np.where(u < 0.95, "U", "D"))


def warc_ts(rng, seq: np.ndarray) -> np.ndarray:
    """Out-of-order arrival: a day of jitter around the sequence order."""
    jitter = rng.integers(0, 86_400_000_000, size=len(seq))
    return BASE_TS_US + seq * 100_000 + jitter


def html_of(text: pa.Array) -> pa.Array:
    return pc.cast(concat("<html><body><p>", text, "</p></body></html>"),
                   pa.binary())


def meta_docs(rng, n: int, title: pa.Array) -> pa.Array:
    """JSON ``meta`` payload; a third of the documents already carry the
    ``quality`` key the rules otherwise default."""
    depth = pa.array(rng.integers(0, 7, size=n).astype(str))
    agent = pa.array(rng.integers(0, 5, size=n).astype(str))
    t1 = pa.array(rng.integers(0, 13, size=n).astype(str))
    t2 = pa.array(rng.integers(0, 17, size=n).astype(str))
    has_q = rng.random(n) < 1 / 3
    q = np.round(rng.random(n), 3).astype(str)
    quality = pa.array(np.where(has_q, np.char.add(',"quality":', q), ""))
    return concat('{"title":"', title, '","crawl":{"depth":', depth,
                  ',"agent":"bot-', agent, '"},"tags":["t', t1, '","t', t2,
                  '"],"noise":"', hex_tokens(rng, n), '"', quality, "}")


def event_table(op, seq, url, ts, text, lang, meta=None) -> pa.Table:
    """Assemble an event table; deletes carry NULL payload columns."""
    op = np.asarray(op, dtype=object)
    is_del = pa.array(op == "D")
    null_str = pa.nulls(len(seq), pa.string())
    text = pc.if_else(is_del, null_str, text)
    cols = {
        "op": pa.array(op, pa.string()),
        "seq": pa.array(seq, pa.int64()),
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pc.if_else(is_del, pa.nulls(len(seq), pa.binary()),
                           html_of(pc.fill_null(text, ""))),
        "text": text,
        "lang": pc.if_else(is_del, null_str, pa.array(lang, pa.string())),
    }
    schema = WAL_SCHEMA
    if meta is not None:
        cols["meta"] = pc.if_else(is_del, null_str, meta)
        schema = schema.append(META_FIELD)
    return pa.table(cols, schema=schema)


def write_wal(path: str, batches: list) -> None:
    """One ``chunk=<n>`` directory per batch."""
    for n, t in enumerate(batches):
        d = os.path.join(path, "chunk=%d" % n)
        os.makedirs(d, exist_ok=True)
        pq.write_table(t, os.path.join(d, "part-00000.parquet"))


def read_wal(path: str) -> list:
    """The chunks ``write_wal`` wrote, in offset order."""
    n = len([d for d in os.listdir(path) if d.startswith("chunk=")])
    return [pq.read_table(os.path.join(path, "chunk=%d" % c,
                                       "part-00000.parquet"))
            for c in range(n)]


# -- workloads ---------------------------------------------------------------


def backlog(seed: int, n_batches: int, batch_events: int) -> list:
    """Large batches with a JSON ``meta`` payload and one hot URL that
    takes ``HOT_SHARE`` of every batch (well above the 5 % salt trigger)."""
    rng = np.random.default_rng([seed, 1])
    words = vocabulary(5000)
    n = n_batches * batch_events
    seq = np.arange(n, dtype=np.int64)
    url = urls(rng, n, 2000, 200, 1.2)
    hot = rng.random(n) < HOT_SHARE
    url = np.where(hot, "https://viral.example.com/live", url)
    lengths = rng.integers(20, 41, size=n)
    body = join_words(words, rng.integers(0, len(words), lengths.sum()),
                      lengths)
    text = concat(body, " ", hex_tokens(rng, n))
    title = join_words(words, rng.integers(0, len(words), 3 * n),
                       np.full(n, 3))
    t = event_table(ops(rng, n), seq, url, warc_ts(rng, seq), text,
                    LANGS[rng.integers(0, len(LANGS), n)],
                    meta_docs(rng, n, title))
    return _split(t, batch_events)


def _sources(rng, plants: np.ndarray, pool: np.ndarray) -> np.ndarray:
    """For each plant index, a uniformly drawn earlier index from the
    sorted ``pool``; copies then never depend on another plant."""
    before = np.searchsorted(pool, plants)
    return pool[(rng.random(len(plants)) * before).astype(np.int64)]


def trickle(seed: int, n_batches: int, batch_events: int) -> list:
    """Small batches with planted content duplicates (mirror URLs that
    copy an earlier page's text, unchanged re-crawls that repeat an
    earlier version of a URL) and malformed events (bad ``op``, NULL
    ``url``, NULL ``warc_ts``, and some carrying two faults, which pin
    the first-match order of the quarantine reasons)."""
    rng = np.random.default_rng([seed, 2])
    words = vocabulary(5000)
    n = n_batches * batch_events
    seq = np.arange(n, dtype=np.int64)
    url = urls(rng, n, 300, 50, 1.1).astype(object)
    op = ops(rng, n).astype(object)
    lengths = rng.integers(15, 31, size=n)
    body = join_words(words, rng.integers(0, len(words), lengths.sum()),
                      lengths)
    text = np.asarray(concat(body, " ", hex_tokens(rng, n))
                      .to_numpy(zero_copy_only=False), dtype=object)
    ts = warc_ts(rng, seq)

    kind = rng.random(n)
    late = seq >= batch_events // 4
    is_mirror = late & (kind < MIRROR_SHARE)
    is_recrawl = late & ~is_mirror & (kind < MIRROR_SHARE + RECRAWL_SHARE)
    pool = np.nonzero((op != "D") & ~is_mirror & ~is_recrawl)[0]
    mirrors = np.nonzero(is_mirror)[0]
    j = _sources(rng, mirrors, pool)
    op[mirrors], text[mirrors] = "I", text[j]
    url[mirrors] = np.char.add(np.char.add(
        "https://mirror", mirrors.astype(str)), ".example.org/copy")
    recrawls = np.nonzero(is_recrawl)[0]
    j = _sources(rng, recrawls, pool)
    op[recrawls], url[recrawls], text[recrawls] = "U", url[j], text[j]
    ts[recrawls] = np.maximum(ts[recrawls], ts[j] + 1_000_000)

    # malformed events; the planted fault decides the expected reason
    bad = rng.random(n) < MALFORMED_SHARE
    fault = rng.integers(0, 5, size=n)
    null_url = bad & ((fault == 0) | (fault == 3))
    url[null_url] = None
    op[bad & (fault == 1)] = np.array(["X", "d", None], dtype=object)[
        seq[bad & (fault == 1)] % 3]
    op[bad & (fault == 3)] = "X"
    op[bad & (fault == 4)] = "u"
    ts_valid = ~(bad & ((fault == 2) | (fault == 4)))
    t = event_table(op, seq, url,
                    pa.array(ts, pa.int64(), mask=~ts_valid),
                    pa.array(text, pa.string()),
                    LANGS[rng.integers(0, len(LANGS), n)])
    return _split(t, batch_events)


#: near-duplicate batches: nominal Jaccard of the planted copies, and the
#: share of documents planted at each
NEARDUP_PLANTS = {"above": (0.9, 0.10), "below": (0.6, 0.05)}
BOILERPLATE = "Copyright example network | all rights reserved | privacy"


def neardup(seed: int, n_batches: int, batch_docs: int) -> list:
    """Text-heavy documents for ``MinHashIndex``: ``url`` (zero-padded,
    so a later document has a larger id), ``text`` of 200-300 Zipf
    vocabulary words plus the shared ``BOILERPLATE`` line, and the plant
    columns ``plant`` ("above", "below" or NULL) and ``source``. A plant
    copies an earlier unplanted document and replaces k interior words
    three positions apart; each replacement changes 3 of the m - 2
    three-word shingles, so the nominal Jaccard is
    (m - 2 - 3k) / (m - 2 + 3k)."""
    rng = np.random.default_rng([seed, 3])
    words = vocabulary(5000)
    n, width = n_batches * batch_docs, 300
    length = rng.integers(200, width + 1, size=n)
    ids = zipf_ids(rng, n * width, len(words), 1.1).reshape(n, width)

    u = rng.random(n)
    kind = np.full(n, "", dtype=object)
    lo = 0.0
    for name, (_, share) in NEARDUP_PLANTS.items():
        kind[(u >= lo) & (u < lo + share) & (np.arange(n) > 0)] = name
        lo += share
    plants = np.nonzero(kind != "")[0]
    source = np.full(n, -1)
    source[plants] = _sources(rng, plants, np.nonzero(kind == "")[0])
    ids[plants], length[plants] = ids[source[plants]], length[source[plants]]
    jac = np.array([NEARDUP_PLANTS[k][0] for k in kind[plants]])
    k = np.round((length[plants] - 2) * (1 - jac) / (3 * (1 + jac)))
    # interior slots 3j+1 (j >= 1) keep each edited word inside three
    # shingles; the k lowest random priorities among valid slots win
    slots = 3 * np.arange(1, width // 3) + 1
    prio = rng.random((len(plants), len(slots)))
    prio[slots[None, :] >= length[plants][:, None] - 1] = np.inf
    rank = np.argsort(np.argsort(prio, axis=1), axis=1)
    edit = rank < k[:, None]
    rows = np.repeat(plants, edit.sum(axis=1))
    ids[rows, np.broadcast_to(slots, edit.shape)[edit]] = \
        rng.integers(0, len(words), size=len(rows))

    flat = ids[np.arange(width)[None, :] < length[:, None]]
    text = concat(join_words(words, flat, length), " ", BOILERPLATE)
    seq = np.arange(n)
    t = pa.table({
        "url": pa.array(np.char.mod("https://nd.example.com/doc/%07d", seq)),
        "text": text,
        "plant": pa.array(np.where(kind == "", None, kind), pa.string()),
        "source": pa.array(np.where(source >= 0, np.char.mod(
            "https://nd.example.com/doc/%07d", source), None), pa.string()),
    })
    return _split(t, batch_docs)


def _split(t: pa.Table, size: int) -> list:
    return [t.slice(o, size) for o in range(0, t.num_rows, size)]


def main(argv=None) -> int:
    """Write one workload's WAL (run as a child process so the
    generator's memory stays out of the measured processes)."""
    import argparse

    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=main.__doc__)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--batches", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    wl = WORKLOADS[args.workload]
    write_wal(os.path.join(args.out, "wal"),
              wl.make(args.seed, args.batches, wl.batch_events))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
