"""Output checks computed apart from the engine.

Every expectation is derived with pandas and plain Python from the
generated events, never from a stored copy of an earlier run:

* final state: the live table equals last-writer-wins by
  (``warc_ts``, ``seq``) per URL over the replayed events, minus the
  quarantined and content-suppressed ones, with the column rules applied
  here independently (``meta`` compared as parsed JSON);
* DLQ: the quarantined rows and reasons equal a first-match
  classification (``null_key``, then ``bad_op``, then ``null_order_col``);
* exact content dedup: the suppressed URLs come from a simulation of the
  documented ``FingerprintIndex`` semantics (per-key in-batch winner,
  first-seen normalized text, suppression across keys);
* journal: exactly one ``_metrics`` and one ``_lineage`` row per batch;
* near-duplicate suppression (``MinHashIndex``): every suppressed
  document has an exact three-word-shingle Jaccard at or above the
  threshold with a document accepted in an earlier batch or with an
  earlier document of its own batch; no planted below-threshold copy is
  suppressed; planted above-threshold copies are suppressed at least at
  the rate the LSH band formula predicts.

``run_all`` returns the list of failed checks, empty when all hold.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_NON_ALNUM = re.compile(r"[^a-z0-9]+")


def events_frame(batches: list) -> pd.DataFrame:
    """Replayed events with their 1-based batch id."""
    parts = []
    for b, t in enumerate(batches):
        t = t.set_column(t.schema.get_field_index("warc_ts"), "warc_ts",
                         t["warc_ts"].cast(pa.int64()))
        df = t.drop_columns(["html"]).to_pandas()
        df["batch"] = b + 1
        parts.append(df)
    ev = pd.concat(parts, ignore_index=True)
    ev["warc_ts"] = ev["warc_ts"].astype("Int64")
    return ev


def dlq_reason(ev: pd.DataFrame) -> pd.Series:
    """First-match quarantine reason, None for mergeable events."""
    bad_op = ev["op"].isna() | ~ev["op"].isin(["I", "U", "D"])
    return pd.Series(np.select(
        [ev["url"].isna(), bad_op, ev["warc_ts"].isna() | ev["seq"].isna()],
        ["null_key", "bad_op", "null_order_col"], default=None),
        index=ev.index)


def lww(ev: pd.DataFrame) -> pd.DataFrame:
    """One row per URL: the greatest (warc_ts, seq)."""
    return (ev.sort_values(["warc_ts", "seq"])
            .drop_duplicates("url", keep="last"))


def _indexable(ev: pd.DataFrame) -> pd.Series:
    return (ev["op"].notna() & (ev["op"] != "D") & ev["text"].notna()
            & ev["url"].notna())


def normalize(text: str) -> str:
    return _NON_ALNUM.sub(" ", text.lower()).strip()


def exact_dedup_pass(ev: pd.DataFrame) -> pd.Series:
    """Which events reach the merge under ingest-time exact content
    dedup, batch by batch: a key's in-batch winner is checked; among
    winners sharing a normalized text the smallest URL is the candidate;
    a candidate whose text was accepted before is suppressed, and a
    suppressed key drops all its indexable events of the batch."""
    seen: set = set()
    keep = pd.Series(True, index=ev.index)
    idx = _indexable(ev)
    for _, batch in ev[idx].groupby("batch", sort=True):
        win = lww(batch).assign(norm=lambda d: d["text"].map(normalize))
        first = win.sort_values("url").drop_duplicates("norm")
        fresh = first[~first["norm"].isin(seen)]
        seen.update(fresh["norm"])
        keep[batch.index] = batch["url"].isin(set(fresh["url"]))
    return keep


def canonical_meta(value) -> str | None:
    return None if value is None else json.dumps(json.loads(value),
                                                 sort_keys=True)


def expected_meta(raw) -> str | None:
    """The JSON rules of ``workloads.JSON_RULES`` applied to one doc:
    keep title, tags and crawl.depth, keep quality or default it to 0.5,
    add ingest = "cdc"."""
    if raw is None:
        return None
    d = json.loads(raw)
    out = {"title": d["title"], "tags": d["tags"],
           "crawl": {"depth": d["crawl"]["depth"]},
           "quality": d.get("quality", 0.5), "ingest": "cdc"}
    return json.dumps(out, sort_keys=True)


def apply_rules(ev: pd.DataFrame) -> pd.DataFrame:
    """Lake rows for events: body renamed from text, lang defaulted to
    "und", source added as "wal", meta reshaped by the JSON rules."""
    out = pd.DataFrame({
        "url": ev["url"], "seq": ev["seq"].astype("int64"),
        "warc_ts": ev["warc_ts"].astype("int64"), "body": ev["text"],
        "lang": ev["lang"].fillna("und"), "source": "wal"})
    if "meta" in ev:
        out["meta"] = ev["meta"].map(expected_meta)
    return out


def lake_rows(live: pd.DataFrame) -> pd.DataFrame:
    out = pd.DataFrame({
        "url": live["url"], "seq": live["seq"].astype("int64"),
        "warc_ts": live["warc_ts"].astype("datetime64[us]").astype("int64"),
        "body": live["body"], "lang": live["lang"],
        "source": live["source"]})
    if "meta" in live:
        out["meta"] = live["meta"].map(canonical_meta)
    return out


def compare_rows(name: str, want: pd.DataFrame, got: pd.DataFrame) -> list:
    cols = list(want.columns)
    if sorted(got.columns) != sorted(cols):
        return ["%s: columns %s, expected %s"
                % (name, sorted(got.columns), sorted(cols))]
    w = set(map(tuple, want[cols].astype(object)
                .where(want[cols].notna(), None).itertuples(index=False)))
    g = list(map(tuple, got[cols].astype(object)
                 .where(got[cols].notna(), None).itertuples(index=False)))
    if len(g) != len(set(g)) or set(g) != w:
        missing, extra = w - set(g), set(g) - w
        return ["%s: %d rows, expected %d; %d missing, %d unexpected%s"
                % (name, len(g), len(w), len(missing), len(extra),
                   (", e.g. %r" % (sorted(extra or missing)[0],))
                   if (extra or missing) else " (duplicate rows)")]
    return []


# -- journal ------------------------------------------------------------


def journal_failures(lake_dir: str, replayed: int) -> list:
    fails = []
    want = list(range(1, replayed + 1))
    for table in ("_metrics", "_lineage"):
        d = os.path.join(lake_dir, table)
        ids = sorted(pq.read_table(d, columns=["batch_id"])["batch_id"]
                     .to_pylist()) if os.path.isdir(d) else []
        if ids != want:
            fails.append("journal: %s batch ids %s, expected one row for "
                         "each of %s" % (table, ids, want))
    return fails


# -- near-duplicates ----------------------------------------------------


def shingles(text: str, n: int = 3) -> set:
    """The engine's documented shingle set: lowercase, every run of
    characters other than [a-z0-9] and whitespace becomes a space,
    whitespace tokens, distinct n-word shingles (the whole token list
    when there are fewer than n tokens)."""
    toks = re.sub(r"[^a-z0-9\s]+", " ", text.lower()).split()
    if len(toks) < n:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def neardup_failures(batches: list, survivors: list, threshold: float,
                     rows: int, bands: int) -> list:
    """``batches``: the ``gen.neardup`` tables in order; ``survivors``:
    the set of accepted urls of each batch."""
    fails = []
    docs = pd.concat([t.to_pandas().assign(batch=b)
                      for b, t in enumerate(batches)], ignore_index=True)
    sets = {u: shingles(t) for u, t in zip(docs["url"], docs["text"])}
    accepted = set().union(*survivors)
    unknown = accepted - set(docs["url"])
    if unknown:
        fails.append("neardup: %d accepted ids were never sent, e.g. %s"
                     % (len(unknown), sorted(unknown)[0]))
    docs["suppressed"] = ~docs["url"].isin(accepted)
    for d in docs[docs["suppressed"]].itertuples():
        earlier = docs[((docs["batch"] < d.batch) & ~docs["suppressed"])
                       | ((docs["batch"] == d.batch) & (docs["url"] < d.url))]
        if not any(jaccard(sets[d.url], sets[u]) >= threshold
                   for u in earlier["url"]):
            fails.append("neardup: %s suppressed without an earlier doc "
                         "at Jaccard >= %g" % (d.url, threshold))
            break
    below = docs[(docs["plant"] == "below") & docs["suppressed"]]
    if len(below):
        fails.append("neardup: %d below-threshold copies suppressed, e.g. "
                     "%s" % (len(below), below["url"].iloc[0]))
    above = docs[docs["plant"] == "above"]
    j = np.array([jaccard(sets[u], sets[s])
                  for u, s in zip(above["url"], above["source"])])
    if (j < threshold).any():
        fails.append("neardup: %d planted above-threshold copies are "
                     "below it" % (j < threshold).sum())
    p = 1 - (1 - j ** rows) ** bands
    floor = p.sum() - 3 * np.sqrt((p * (1 - p)).sum())
    hit = int(above["suppressed"].sum())
    if hit < np.floor(floor):
        fails.append("neardup: %d of %d above-threshold copies suppressed, "
                     "LSH predicts %.1f" % (hit, len(above), p.sum()))
    return fails


# -- entry point --------------------------------------------------------


def run_all(pipe, wl, batches: list) -> list:
    """Failed checks for a lake that replayed ``batches`` (the WAL chunks
    in offset order), empty when all hold."""
    ev = events_frame(batches)
    fails = []
    merged = ev
    if wl.dlq:
        reason = dlq_reason(ev)
        bad = ev[reason.notna()]
        want = pd.DataFrame({"batch": bad["batch"], "seq": bad["seq"],
                             "reason": reason[reason.notna()]})
        got = pipe.dlq().select("batch", "seq", "_dlq_reason").toPandas()
        got.columns = ["batch", "seq", "reason"]
        fails += compare_rows("dlq", want, got)
        merged = ev[reason.isna()]
    live = pipe.table().read().toPandas()
    if wl.content_dedup:
        merged = merged[exact_dedup_pass(merged)]
    win = lww(merged)
    fails += compare_rows("final state", apply_rules(win[win["op"] != "D"]),
                          lake_rows(live))
    fails += journal_failures(pipe.lake_path, len(batches))
    return fails
