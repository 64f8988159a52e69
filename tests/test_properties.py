"""Property-based tests (hypothesis): parser round-trips and semantic
invariants that golden tables can't sweep exhaustively.

Spark-touching properties keep max_examples small (each example is a
Spark job); the parser property is pure Python and runs wide.
"""

import json
import string

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from embulk_filter_column_spark.jsonpath import (
    Prop,
    compile_path,
    escape_property,
)

# property names: printable incl. the parser's special characters
_name_alphabet = string.ascii_letters + string.digits + " .'\"[]\\$_-"
prop_names = st.text(alphabet=_name_alphabet, min_size=1, max_size=12)
indexes = st.integers(min_value=0, max_value=9)


@st.composite
def token_lists(draw):
    n = draw(st.integers(min_value=1, max_value=5))
    toks = []
    for _ in range(n):
        if draw(st.booleans()):
            toks.append(draw(prop_names))
        else:
            toks.append(draw(indexes))
    # first token must be a property (an index right after $ is the
    # reference's unsupported RootPathToken-index case)
    if not isinstance(toks[0], str):
        toks[0] = draw(prop_names)
    return toks


def canonical(tokens) -> str:
    out = ["$"]
    for t in tokens:
        if isinstance(t, str):
            out.append("['" + escape_property(t) + "']")
        else:
            out.append("[%d]" % t)
    return "".join(out)


@settings(max_examples=300, deadline=None)
@given(token_lists())
def test_prop_jsonpath_canonical_roundtrip(tokens):
    """compile(canonical(tokens)) recovers exactly the same tokens —
    escape_property and the quoted-property parser are inverses for any
    name, including quotes/brackets/backslashes/dots."""
    path = canonical(tokens)
    compiled = compile_path(path)
    got = []
    for tok in compiled.tokens:
        got.append(tok.name if isinstance(tok, Prop) else tok.index)
    assert got == tokens, (path, got)
    # canonicalization is idempotent
    assert canonical(got) == path


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(alphabet=string.ascii_lowercase + " .,!?'",
                        min_size=1, max_size=60),
                min_size=1, max_size=4))
def test_prop_normalization_invariance(spark, texts):
    """fingerprint / shingles / simhash are invariant under case and
    punctuation jitter (the dedup family's core contract)."""
    from pyspark.sql import functions as F

    from embulk_filter_column_spark.functions.text import (
        doc_fingerprint,
        word_ngrams,
    )
    from embulk_filter_column_spark.operators.dedup import simhash

    rows = []
    for i, t in enumerate(texts):
        rows.append((2 * i, t))
        rows.append((2 * i + 1, t.upper() + " !!"))  # jittered twin
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = simhash(df).select(
        "doc_id", "simhash",
        doc_fingerprint("text").alias("fp"),
        F.array_sort(word_ngrams("text", 3)).alias("sh")).collect()
    by_id = {r["doc_id"]: r for r in out}
    for i in range(len(texts)):
        a, b = by_id[2 * i], by_id[2 * i + 1]
        assert a["fp"] == b["fp"]
        assert a["sh"] == b["sh"]
        assert a["simhash"] == b["simhash"]


# tab, U+0130 and U+212A (lowercase into ASCII), punctuation and
# non-ASCII letters (no token) next to plain ASCII
_shingle_alphabet = "aZ9 \t\n.,!?'\u0130\u212a\u00e9\u00df\u0436"


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.one_of(st.none(),
                          st.text(alphabet=_shingle_alphabet, max_size=10)),
                min_size=1, max_size=12))
def test_prop_has_tokens_twins_shingle_tokens(spark, texts):
    """``_has_tokens`` (one rlike) is the cheap twin of the shingle
    tokenizer: it holds exactly when ``shingle_tokens`` is non-empty,
    which is exactly when the doc has shingles (NULL: none of them)."""
    from pyspark.sql import functions as F

    from embulk_filter_column_spark.functions.text import (
        shingle_tokens,
        word_ngram_hashes,
    )
    from embulk_filter_column_spark.operators.dedup import _has_tokens

    pinned = ["\t", "\u0130", "\u212a", "?!.", "\u00e9\u00df\u0436", None]
    df = spark.createDataFrame(list(enumerate(texts + pinned)),
                               "doc_id long, text string")
    for r in df.select(
            "text", _has_tokens("text").alias("has"),
            (F.size(shingle_tokens("text")) > 0).alias("toks"),
            (F.size(word_ngram_hashes("text", 3)) > 0).alias("sh"),
    ).collect():
        assert bool(r["has"]) == bool(r["toks"]) == bool(r["sh"]), r


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.data())
def test_prop_scalar_filter_vs_python_model(spark, data):
    """Random keep/drop/add configs over a random table == a pure-Python
    row model of the reference semantics (keep with default-on-null,
    src copy, add with typed default)."""
    from embulk_filter_column_spark import apply_filter

    cols = ["c%d" % i for i in range(data.draw(
        st.integers(min_value=2, max_value=4)))]
    n_rows = data.draw(st.integers(min_value=1, max_value=5))
    rows = []
    for _ in range(n_rows):
        rows.append(tuple(
            data.draw(st.one_of(st.none(),
                                st.integers(-1000, 1000))) for _ in cols))
    df = spark.createDataFrame(rows, "%s" % ", ".join(
        "%s long" % c for c in cols))

    mode = data.draw(st.sampled_from(["keep", "drop"]))
    if mode == "keep":
        kept = data.draw(st.lists(st.sampled_from(cols), min_size=1,
                                  max_size=len(cols), unique=True))
        rules = []
        defaults = {}
        for c in kept:
            if data.draw(st.booleans()):
                d = data.draw(st.integers(-5, 5))
                defaults[c] = d
                rules.append({"name": c, "default": d})
            else:
                rules.append({"name": c})
        cfg = {"columns": rules}
        out_cols = kept
    else:
        dropped = data.draw(st.lists(st.sampled_from(cols),
                                     min_size=0, max_size=len(cols) - 1,
                                     unique=True))
        cfg = {"drop_columns": [{"name": c} for c in dropped]}
        out_cols = [c for c in cols if c not in dropped]
        defaults = {}

    add_name = "added"
    add_default = data.draw(st.integers(-5, 5))
    cfg["add_columns"] = [{"name": add_name, "type": "long",
                           "default": add_default}]

    got = [tuple(r) for r in apply_filter(df, cfg).collect()]
    idx = {c: i for i, c in enumerate(cols)}
    want = []
    for r in rows:
        vals = []
        for c in out_cols:
            v = r[idx[c]]
            if v is None and c in defaults:
                v = defaults[c]
            vals.append(v)
        vals.append(add_default)
        want.append(tuple(vals))
    assert sorted(got, key=str) == sorted(want, key=str), (cfg, rows)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)),
                min_size=0, max_size=60))
def test_connected_components_matches_union_find(spark, edges):
    """Property: large-star/small-star labels equal a plain union-find
    on arbitrary random graphs (self-loops, duplicates, any density)."""
    from embulk_filter_column_spark.operators.groups import (
        connected_components,
    )

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    nodes = set()
    for a, b in edges:
        if a != b:
            union(a, b)
            nodes |= {a, b}
    want = {n: find(n) for n in nodes}
    # canonical = component MIN: path-halving keeps roots minimal since
    # union always parents the larger root under the smaller
    df = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
    got = {r["doc_id"]: r["canonical_id"]
           for r in connected_components(df).collect()}
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.lists(st.sampled_from(["aa bb", "cc dd", "", "  ", "ee ff gg",
                              "hh", "aa bb "]),
             min_size=0, max_size=6),
    min_size=1, max_size=8),
    min_count=st.integers(min_value=1, max_value=3))
def test_prop_dedup_corpus_lines_vs_python_model(spark, docs, min_count):
    """dedup_corpus_lines equals the obvious single-node model on random
    small corpora: count non-blank lines corpus-wide, drop those at or
    above min_count, rejoin in order."""
    from embulk_filter_column_spark.operators import dedup_corpus_lines

    texts = ["\n".join(lines) for lines in docs]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["doc_id"]: r["text_clean"]
           for r in dedup_corpus_lines(df, min_count=min_count).collect()}
    counts: dict = {}
    for t in texts:
        for ln in t.split("\n"):
            if ln.strip():
                counts[ln] = counts.get(ln, 0) + 1
    for i, t in enumerate(texts):
        want = "\n".join(ln for ln in t.split("\n")
                         if not (ln.strip() and counts[ln] >= min_count))
        assert got[i] == want, (i, t, got[i], want)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(n=st.integers(min_value=1, max_value=200),
       seed=st.integers(min_value=0, max_value=10**6))
def test_prop_split_exhaustive_exclusive_deterministic(spark, n, seed):
    """Every row gets exactly one split label; rerunning with the same
    seed reproduces it; the hash unit stays inside [0, 1)."""
    from embulk_filter_column_spark.operators import (
        split_corpus,
        unit_hash,
    )
    from pyspark.sql import functions as F

    df = spark.range(n).select(F.col("id").alias("doc_id"))
    w = {"a": 0.5, "b": 0.3, "c": 0.2}
    one = {r["doc_id"]: r["split"]
           for r in split_corpus(df, w, seed=seed).collect()}
    two = {r["doc_id"]: r["split"]
           for r in split_corpus(df, w, seed=seed).collect()}
    assert one == two and set(one.values()) <= {"a", "b", "c"}
    us = [r["u"] for r in
          df.select(unit_hash("doc_id", seed).alias("u")).collect()]
    assert all(0.0 <= u < 1.0 for u in us)
