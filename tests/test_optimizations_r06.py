"""Equivalence pins for the round-6 optimization internals.

Each optimization below changed HOW an operator computes, never WHAT:
these tests pin the new form to the old formulation on corpora that
exercise the edge cases (short docs, empty/whitespace text, NULLs,
planted near-duplicates).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from embulk_filter_column_spark.functions.text import (
    word_ngram_hashes,
    word_ngram_hashes_sized,
    word_ngrams,
)
from embulk_filter_column_spark.operators.dedup import (
    _minhash_sig,
    _shingle_docs,
    minhash_band_keys,
    minhash_band_keys_from_shingles,
    minhash_signature,
)

TEXTS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "THE QUICK BROWN FOX jumps over the lazy dog!!"),
    (3, "short doc"),          # below shingle_n -> whole-text fallback
    (4, "one"),                 # single token
    (5, ""),                    # empty -> empty shingle set
    (6, "   \t  "),             # whitespace-only -> empty
    (7, None),                  # NULL text
    (8, "a b c d e f g h i j k l m n o p q r s t"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


def _py_shingles(text, n):
    """Independent reference shingler: lowercase, every run outside
    [a-z0-9] and ASCII whitespace becomes a space, whitespace tokens,
    distinct n-token windows in first-occurrence order; fewer than n
    tokens give the whole token sequence, none give no shingle."""
    if text is None:
        return []
    toks = re.sub(r"[^a-z0-9 \t\n\x0b\f\r]+", " ", text.lower()).split()
    if len(toks) < n:
        return [" ".join(toks)] if toks else []
    grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
    return list(dict.fromkeys(grams))


@pytest.mark.parametrize("n", [1, 2, 3])
def test_word_ngrams_matches_python_shingler(docs, n):
    """word_ngrams, now a thin wrapper over the shared shingle kernel,
    equals the pure-Python reference — order included."""
    for r in docs.select("text", word_ngrams("text", n).alias("g")) \
            .collect():
        assert r["g"] == _py_shingles(r["text"], n), r["text"]


def test_word_ngram_hashes_equals_hashed_word_ngrams(docs):
    """word_ngram_hashes == xxhash64 applied to the string shingles —
    the hashed representation must be a pure re-encoding."""
    rows = docs.select(
        "doc_id",
        F.array_sort(word_ngram_hashes("text", 3)).alias("hashed"),
        F.array_sort(
            F.transform(word_ngrams("text", 3),
                        lambda s: F.xxhash64(s))).alias("ref"),
    ).collect()
    for r in rows:
        assert r["hashed"] == r["ref"], r["doc_id"]


def test_word_ngram_hashes_sized_matches_parts(docs):
    """The fused struct equals the separately-computed parts: sh =
    distinct union of main+extra hashed shingles, n = main-size count."""
    main_n, extras = 3, [2]
    got = docs.select(
        "doc_id",
        word_ngram_hashes_sized("text", main_n, extras).alias("s"),
        word_ngram_hashes("text", main_n).alias("m"),
        word_ngram_hashes("text", 2).alias("x"),
    ).collect()
    for r in got:
        if r["s"] is None:
            assert r["m"] is None
            continue
        assert sorted(r["s"]["sh"]) == sorted(set(r["m"]) | set(r["x"]))
        assert r["s"]["n"] == len(r["m"])


def test_minhash_sig_fold_equals_per_function_min(docs):
    """The one-pass zip_with fold equals the per-hash-function
    array_min(transform(...)) formulation, and empty shingle sets keep
    the NULL-signature contract."""
    num_hashes, seed = 16, 42

    def _hash_fn(salt):
        # factory, NOT a two-arg lambda with a default: F.transform
        # treats a two-arg lambda as (element, index) and silently
        # overwrites the default (same trap ``_ngrams`` documents)
        return lambda h: F.xxhash64(h, F.lit(salt))

    ref_sig = F.array(*[
        F.array_min(F.transform(F.col("sh"), _hash_fn(seed + i)))
        for i in range(num_hashes)
    ])
    rows = (docs.select("doc_id",
                        word_ngram_hashes("text", 3).alias("sh"))
            .select("doc_id",
                    _minhash_sig(F.col("sh"), num_hashes, seed).alias("got"),
                    F.when(F.size("sh") > 0, ref_sig).alias("ref"))
            .collect())
    for r in rows:
        assert r["got"] == r["ref"], r["doc_id"]


def test_band_keys_cover_tokens_found_by_unicode_lowercasing(spark,
                                                            docs):
    """Regression: band keys have one derivation, ``_shingle_docs``
    followed by ``minhash_band_keys_from_shingles``, for the one-shot
    blocker and the persistent index alike. Doc 9 has tokens only after
    Unicode lowercasing (U+212A KELVIN SIGN → k, U+0130 → i + U+0307):
    an ASCII-only token gate in front of the blocker would give it no
    band keys while the index keys it."""
    params = dict(num_hashes=16, bands=8, seed=42)
    corpus = docs.unionByName(spark.createDataFrame(
        [(9, "\u212a\u0130\u212a \u212a\u0130 \u0130\u0130\u212a "
             "\u212a")], "doc_id long, text string"))
    from_text = {(r["doc_id"], r["band"], r["key"])
                 for r in minhash_band_keys(
                     corpus, "text", "doc_id", shingle_n=3, **params)
                 .collect()}
    shingled = _shingle_docs(corpus, "text", "doc_id", 3)
    from_sh = {(r["doc_id"], r["band"], r["key"])
               for r in minhash_band_keys_from_shingles(
                   shingled, "doc_id", **params).collect()}
    assert from_text == from_sh
    assert len({(b, k) for d, b, k in from_text if d == 9}) == 8
    # shingle-less docs (5, 6, 7) must be absent from both
    assert not {d for d, _, _ in from_text} & {5, 6, 7}


def test_minhash_signature_is_null_for_empty_shingles(docs):
    """The NULL contract of ``minhash_signature``: empty, whitespace-only
    and NULL text give a NULL signature; every other doc (a short one
    included, via the whole-text shingle) a full-length one."""
    got = {r["doc_id"]: r["minhash"]
           for r in minhash_signature(docs, num_hashes=16).collect()}
    assert {d for d, sig in got.items() if sig is None} == {5, 6, 7}
    assert all(len(sig) == 16 for sig in got.values() if sig is not None)


def test_lang_id_ascii_gate_bit_identical(spark):
    """The non-ASCII gate must not change any verdict: ASCII docs take
    the marker vote, non-ASCII docs take the script rules, and
    non-ASCII WHITESPACE (U+3000) alone doesn't trip a script rule."""
    from embulk_filter_column_spark.functions.text import lang_id

    rows = spark.createDataFrame(
        [(1, "the cat and the dog is that for with"),
         (2, "der hund und die katze ist nicht mit ein"),
         (3, "これは日本語のテキストですこれは日本語のテキストです"),
         (4, "Это русский текст о поисковых системах и данных"),
         (5, "mixed　spaced ascii words the and of to is"),
         (6, ""), (7, None), (8, "1234 5678 @@@@")],
        "doc_id long, text string").select(
            "doc_id", lang_id("text").alias("lang")).collect()
    got = {r["doc_id"]: r["lang"] for r in rows}
    assert got == {1: "en", 2: "de", 3: "ja", 4: "ru", 5: "en",
                   6: "und", 7: "und", 8: "und"}, got
