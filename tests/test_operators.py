"""Training-data pipeline operators: dedup family, similarity search,
text analysis, multimodal plumbing — against the driver testdata tables
plus synthetic fixtures with known duplicates."""

import math

import pytest
from pyspark.sql import functions as F

from embulk_filter_column_spark.functions.text import word_ngrams
from embulk_filter_column_spark.functions.vectors import cosine_similarity
from embulk_filter_column_spark.operators import (
    annotate_text,
    brute_force_topk,
    embedding_near_dup_pairs,
    exact_dedup,
    lsh_topk,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
)
from embulk_filter_column_spark.operators.multimodal import (
    extract_features,
    fake_media_table,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "The quick brown fox jumps over the lazy dog near the river!"),
        (3, "the quick brown fox jumps over the lazy dog near the creek"),
        (4, "completely different text about spark query engines and joins"),
        (5, "another unrelated document concerning parquet column pruning"),
        (6, "the quick brown fox jumps over the lazy dog near the river"),
    ]
    return spark.createDataFrame(base, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs).orderBy("doc_id").collect()
    # 1, 2 and 6 normalize identically → representative doc_id 1
    kept = [r["doc_id"] for r in out]
    assert kept == [1, 3, 4, 5]
    by_id = {r["doc_id"]: r["dup_count"] for r in out}
    assert by_id[1] == 3
    assert by_id[3] == 1


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r["a"], r["b"])
             for r in minhash_lsh_candidates(docs, num_hashes=16,
                                             bands=8).collect()}
    assert (1, 6) in pairs          # identical
    assert (1, 2) in pairs          # near-identical
    assert (4, 5) not in pairs      # unrelated


def test_ngram_jaccard(spark, docs):
    pairs = {(r["a"], r["b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 6)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    assert all(a != 4 and b != 4 for a, b in pairs)


def test_simhash_near_dups_close(spark, docs):
    sigs = {r["doc_id"]: r["simhash"]
            for r in simhash(docs).select("doc_id", "simhash").collect()}
    def hamming(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")
    assert sigs[1] == sigs[6]
    assert hamming(sigs[1], sigs[3]) < hamming(sigs[1], sigs[4])
    assert hamming(sigs[1], sigs[2]) <= 8


def test_annotate_text(spark, docs):
    out = {r["doc_id"]: r for r in annotate_text(docs).collect()}
    assert out[1]["lang_pred"] == "en"
    assert out[1]["n_tokens"] == 12
    assert out[1]["fingerprint"] == out[2]["fingerprint"] \
        == out[6]["fingerprint"]
    assert 0.0 <= out[4]["quality"] <= 1.0


def test_lang_id_script_routing(spark):
    """Unicode-script ratios route non-Latin scripts before the Latin
    marker vote: kana→ja (even when kanji dominates), hangul→ko,
    han-without-kana→zh, Cyrillic→ru, Arabic→ar, Devanagari→hi; a
    majority-Latin doc with a trace of han falls through to the
    marker-word vote, and pure numbers/whitespace stay 'und'."""
    from embulk_filter_column_spark.functions.text import lang_id
    rows = [
        (1, "日本語のテキストです。東京で書かれた文章と検索の話。"),
        # majority kanji, but the kana particles mark it Japanese
        (2, "東京都政府の発表による経済政策の概要です"),
        (3, "这是一段中文文本，关于搜索引擎和数据处理的内容。"),
        (4, "한국어 텍스트입니다 서울에서 작성된 검색 문서"),
        (5, "Это русский текст о поисковых системах и данных."),
        (6, "هذا نص عربي عن محركات البحث والبيانات الكبيرة"),
        (7, "यह हिंदी में लिखा गया पाठ है जो खोज इंजन के बारे में है"),
        (8, "the quick brown fox and the lazy dog with a ball"),
        # trace of han inside majority-Latin text → marker vote wins
        (9, "mixed 混合 content with mostly the english words and of"),
        (10, "12345 67890 ..."),
        (11, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["pred"]
           for r in df.select("doc_id",
                              lang_id("text").alias("pred")).collect()}
    assert out[1] == "ja"
    assert out[2] == "ja"
    assert out[3] == "zh"
    assert out[4] == "ko"
    assert out[5] == "ru"
    assert out[6] == "ar"
    assert out[7] == "hi"
    assert out[8] == "en"
    assert out[9] == "en"
    assert out[10] == "und"
    assert out[11] == "und"


def test_annotate_on_documents_table(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = annotate_text(df)
    assert out.count() == df.count()
    assert out.where(F.col("n_tokens") <= 0).count() == 0


# -- embeddings -------------------------------------------------------------

def brute_force_oracle(rows, q, k):
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)
    scored = sorted(((round(cos(r["embedding"], q), 6), -r["vec_id"])
                     for r in rows), reverse=True)
    return [(-i, c) for c, i in scored[:k]]


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_brute_force_topk_matches_python_oracle(spark, emb):
    rows = emb.collect()
    q = rows[0]["embedding"]
    got = [(r["vec_id"], r["cosine"])
           for r in brute_force_topk(emb, q, k=5).collect()]
    want = brute_force_oracle(rows, q, 5)
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) < 1e-4


def test_lsh_topk_recall_planted_cluster(spark):
    # ANN contract: high recall on genuinely-near neighbors. 50 random
    # vectors + 10 planted near the query (cosine ≈ 0.99).
    import numpy as np
    rng = np.random.RandomState(11)
    dim = 32
    base = rng.normal(size=(50, dim))
    q = rng.normal(size=dim)
    planted = q + rng.normal(scale=0.05, size=(10, dim))
    rows = [(i, [float(x) for x in v])
            for i, v in enumerate(np.vstack([base, planted]))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    approx = {r["vec_id"]
              for r in lsh_topk(df, [float(x) for x in q], k=10, dim=dim,
                                n_planes=8, probe_bits=2).collect()}
    planted_ids = set(range(50, 60))
    assert len(approx & planted_ids) >= 8  # ≥80% recall on true neighbors


def test_embedding_near_dup_pairs(spark):
    # plant exact + near duplicates among random vectors
    import numpy as np
    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(20, 16)).astype(float)
    vecs[11] = vecs[1]                      # exact dup
    vecs[12] = vecs[2] + rng.normal(scale=0.01, size=16)  # near dup
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r["a"], r["b"]): r["cosine"]
             for r in embedding_near_dup_pairs(
                 df, dim=16, threshold=0.95, n_planes=8).collect()}
    assert (1, 11) in pairs and pairs[(1, 11)] >= 0.999999
    assert (2, 12) in pairs


def test_word_ngrams_short_text(spark):
    df = spark.createDataFrame([(1, "one two"), (2, ""), (3, "a b c d")],
                               ["doc_id", "text"])
    out = {r["doc_id"]: r["g"]
           for r in df.select("doc_id",
                              word_ngrams("text", 3).alias("g")).collect()}
    assert out[1] == ["one two"]
    assert out[2] == []
    assert out[3] == ["a b c", "b c d"]


# -- multimodal -------------------------------------------------------------

def test_multimodal_fake_decoder(spark):
    media = fake_media_table(spark, n=30)
    out = extract_features(media, decoder="fake", feature_dim=8)
    rows = out.collect()
    assert len(rows) == 30
    assert all(len(r["feature"]) == 8 for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)
    # determinism across runs
    again = extract_features(media, decoder="fake", feature_dim=8).collect()
    assert sorted(map(tuple, ((r["media_id"], tuple(r["feature"]))
                              for r in rows))) == \
        sorted(map(tuple, ((r["media_id"], tuple(r["feature"]))
                           for r in again)))


def test_multimodal_stub_decoder_raises(spark):
    media = fake_media_table(spark, n=3)
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        extract_features(media, decoder="stub").collect()


def test_simhash_near_dup_pairs(spark, docs):
    from embulk_filter_column_spark.operators import simhash_near_dup_pairs

    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in simhash_near_dup_pairs(docs, max_hamming=8).collect()}
    # 1, 2, 6: same text modulo case/punct-token — 1↔6 identical tokens
    assert pairs[(1, 6)] == 0
    assert (1, 2) in pairs
    # unrelated docs never become candidates within the hamming budget
    assert all(4 not in p and 5 not in p for p in pairs)


def test_simhash_pairs_docs_with_tokens_only_after_lowercasing(spark):
    """The token pre-filter matches the tokenizer: docs 1 and 2 have
    tokens only after Unicode lowercasing (U+212A KELVIN SIGN → k,
    U+0130 → i + U+0307), and their identical copies must pair like
    the ASCII copies 3 and 4."""
    from embulk_filter_column_spark.operators import simhash_near_dup_pairs

    odd = "\u212a\u0130\u212a \u212a\u0130 \u0130\u0130\u212a \u212a"
    df = spark.createDataFrame(
        [(1, odd), (2, odd), (3, "kik ki iik k"), (4, "kik ki iik k")],
        "doc_id long, text string")
    pairs = {(r["a"], r["b"])
             for r in simhash_near_dup_pairs(df, max_hamming=3).collect()}
    assert pairs == {(1, 2), (3, 4)}


def test_verified_lsh_pairs_equal_exact_join(spark, docs):
    """minhash_lsh_pairs / simhash_jaccard_pairs = blocking + exact
    verification, so on a corpus where blocking recall is total their
    output must equal the exact prefix-filtered Jaccard join."""
    from embulk_filter_column_spark.operators import (
        minhash_lsh_pairs,
        simhash_jaccard_pairs,
    )

    exact = {(r["a"], r["b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    via_minhash = {(r["a"], r["b"]): r["jaccard"]
                   for r in minhash_lsh_pairs(docs, bands=8,
                                              threshold=0.5).collect()}
    via_simhash = {(r["a"], r["b"]): r["jaccard"]
                   for r in simhash_jaccard_pairs(docs, max_hamming=16,
                                                  threshold=0.5).collect()}
    assert via_minhash == exact
    assert via_simhash == exact


def test_operators_leave_no_persisted_rdds(spark, docs):
    """The pair generators must not leak cached blocks into a long-lived
    session (VERDICT r1 item 6): after the consuming action returns,
    nothing may remain registered as a persistent RDD."""
    from embulk_filter_column_spark.operators import minhash_lsh_pairs

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    ngram_jaccard_pairs(docs, threshold=0.5).collect()
    minhash_lsh_pairs(docs, threshold=0.5).collect()
    embedding_near_dup_pairs(
        spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 1.0])],
            ["vec_id", "embedding"]),
        dim=2, n_planes=4).collect()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after == before, (before, after)


def test_bucketed_ann_prunes_partitions(spark, tmp_path):
    """The bucket-partitioned ANN layout must prune the scan to the
    probed bucket directories (VERDICT r1 item 10): inputFiles of the
    probe query lists only bucket=<probe> paths, strictly fewer than the
    table's partitions, and the result matches the in-memory LSH search."""
    from embulk_filter_column_spark.operators.similarity import (
        _probe_buckets,
        lsh_topk_bucketed,
        write_bucketed_embeddings,
    )

    df = (spark.range(400)
          .select(F.col("id").alias("vec_id"),
                  F.transform(
                      F.sequence(F.lit(1), F.lit(8)),
                      lambda i: F.sin(i * (F.col("id") + 1) * 0.37))
                  .alias("embedding")))
    path = str(tmp_path / "emb_bucketed")
    write_bucketed_embeddings(df, path, dim=8, n_planes=4)

    qvec = [r for r in df.where(F.col("vec_id") == 7)
            .select("embedding").collect()][0][0]
    got = lsh_topk_bucketed(spark, path, qvec, k=5, dim=8, n_planes=4)
    rows = got.collect()
    probes = set(_probe_buckets(qvec, 8, 4, 1, 42))

    # partition pruning: the scan plan carries the bucket IN (...) filter
    # as a PartitionFilter (inputFiles() reports the pre-pruning file
    # index, so the executed plan is the authoritative evidence)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters", 1)[1][:300]
    assert "bucket" in pf and " IN " in pf, pf
    import os
    all_buckets = {int(d.split("=")[1]) for d in os.listdir(path)
                   if d.startswith("bucket=")}
    assert len(probes & all_buckets) < len(all_buckets)

    # same answer as the in-memory LSH search over the raw table
    from embulk_filter_column_spark.operators import lsh_topk
    want = lsh_topk(df, qvec, k=5, dim=8, n_planes=4).collect()
    assert [(r["vec_id"], r["cosine"]) for r in rows] == \
        [(r["vec_id"], r["cosine"]) for r in want]
    assert rows[0]["vec_id"] == 7 and rows[0]["cosine"] == 1.0


def test_simhash_multiprobe_equals_pigeonhole(spark, docs):
    """Both blocking strategies are exact (total recall + verification),
    so they must produce identical pair sets."""
    from embulk_filter_column_spark.operators import simhash_near_dup_pairs

    pigeon = {(r["a"], r["b"]): r["hamming"]
              for r in simhash_near_dup_pairs(
                  docs, max_hamming=8, strategy="pigeonhole").collect()}
    probe = {(r["a"], r["b"]): r["hamming"]
             for r in simhash_near_dup_pairs(
                 docs, max_hamming=8, strategy="multiprobe").collect()}
    assert pigeon == probe and pigeon


def test_ivf_topk_recall_planted_cluster(spark):
    """IVF contract: centroids trained on a deterministic sample, probe
    search recovers genuinely-near neighbors."""
    import numpy as np
    from embulk_filter_column_spark.operators import (
        ivf_assign,
        ivf_topk,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(5)
    dim = 16
    base = rng.normal(size=(60, dim))
    q = rng.normal(size=dim)
    planted = q + rng.normal(scale=0.05, size=(10, dim))
    rows = [(i, [float(x) for x in v])
            for i, v in enumerate(np.vstack([base, planted]))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cts = train_ivf_centroids(df, n_centroids=8, iters=5)
    assert cts.shape == (8, dim)

    got = {r["vec_id"]
           for r in ivf_topk(df, [float(x) for x in q], cts, k=10,
                             nprobe=3).collect()}
    assert len(got & set(range(60, 70))) >= 8  # ≥80% recall

    # assignment is total and null-safe
    assigned = ivf_assign(df, cts)
    assert assigned.where(F.col("cell").isNull()).count() == 0
    ragged = spark.createDataFrame([(1, None), (2, [1.0, 2.0])],
                                   ["vec_id", "embedding"])
    bad = ivf_assign(ragged, cts)
    assert bad.where(F.col("cell").isNotNull()).count() == 0


def test_dirty_input_guards(spark):
    """Dirty rows (empty text, null/ragged vectors) must not form
    degenerate blocking groups or crash — they are excluded from pair
    generation (review finding: NULL buckets all land in ONE groupBy
    group, unlike the old self-join where NULL != NULL)."""
    from embulk_filter_column_spark.operators import (
        minhash_lsh_candidates,
        simhash,
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "!!"), (4, "real text about spark"),
         (5, "real text about spark")],
        ["doc_id", "text"])
    pairs = {(r["a"], r["b"])
             for r in minhash_lsh_candidates(docs, bands=8).collect()}
    assert pairs == {(4, 5)}, pairs
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sigs[1] is None and sigs[2] is None and sigs[3] is None
    spairs = {(r["a"], r["b"])
              for r in simhash_near_dup_pairs(docs, max_hamming=3)
              .collect()}
    assert spairs == {(4, 5)}, spairs

    vecs = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0]), (3, None),
         (4, [1.0] * 8), (5, [2.0] * 8)],
        "vec_id long, embedding array<double>")
    got = {(r["a"], r["b"])
           for r in embedding_near_dup_pairs(
               vecs, dim=8, threshold=0.9, n_planes=4).collect()}
    assert got == {(4, 5)}, got


def test_extract_text_html(spark):
    """HTML → visible text: script/style/comment content vanishes, tags
    drop, entities decode (amp last), whitespace collapses; binary and
    string inputs behave identically."""
    from embulk_filter_column_spark.functions import extract_text

    html = ('<html><head><script>var a = "<p>ignore</p>";</script>'
            '<style>h1 { color: red }</style></head><body>'
            '<!-- note --><h1 id="t">A &amp;&nbsp;B</h1>'
            '<p>x &lt;tag&gt; &amp;lt;literal&amp;gt; &#39;q&#39;</p>'
            '</body></html>')
    df = spark.createDataFrame([(1, html)], ["id", "html"])
    got = df.select(extract_text("html").alias("t")).first()["t"]
    assert got == "A & B x <tag> &lt;literal&gt; 'q'", repr(got)

    bin_df = df.select("id", F.encode("html", "UTF-8").alias("html"))
    got_bin = bin_df.select(extract_text("html").alias("t")).first()["t"]
    assert got_bin == got


def test_normalize_url(spark):
    from embulk_filter_column_spark.functions.web import normalize_url

    cases = [
        ("HTTP://Example.COM:80/path/sub/?b=2&a=1#frag",
         "http://example.com/path/sub?a=1&b=2"),
        ("https://Host.com:443/", "https://host.com"),
        ("https://host.com:8443/x", "https://host.com:8443/x"),
        ("http://h.com/p//", "http://h.com/p"),
        ("http://h.com", "http://h.com"),
        ("http://h.com/?", "http://h.com"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               ["i", "url"])
    got = {r["i"]: r["n"]
           for r in df.select("i", normalize_url("url").alias("n"))
           .collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i], want)


def test_normalize_url_schemeless_passthrough(spark):
    """Scheme-less inputs pass through unchanged (ADVICE r2): guessing
    would stamp a bogus '://' prefix onto every non-URL key and corrupt
    the LWW key space."""
    from embulk_filter_column_spark.functions.web import normalize_url

    cases = ["example.com/path", "/relative/path", "opaque-key-42",
             "  spaced.com  "]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(cases)],
                               ["i", "url"])
    got = {r["i"]: r["n"]
           for r in df.select("i", normalize_url("url").alias("n"))
           .collect()}
    for i, u in enumerate(cases):
        assert got[i] == u.strip(), (u, got[i])


def test_bucket_pairs_stream_policy_exact(spark):
    """ngram_jaccard_pairs with a tiny max_bucket_size and the 'stream'
    policy must return EXACTLY the same pairs as the uncapped run — the
    oversized buckets' pairs come from the streaming self-join instead
    of a collected array, trading memory for an extra shuffle, never
    results."""
    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta"
    for i in range(30):
        rows.append((i, base + (" iota" if i % 2 else "")))
    rows.append((100, "totally different text about spark engines here"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = ngram_jaccard_pairs(df, threshold=0.8,
                                   max_bucket_size=None)
    capped = ngram_jaccard_pairs(df, threshold=0.8, max_bucket_size=4)
    want = {(r["a"], r["b"], r["jaccard"]) for r in uncapped.collect()}
    got = {(r["a"], r["b"], r["jaccard"]) for r in capped.collect()}
    assert want, "fixture must produce pairs"
    assert got == want


def test_bucket_pairs_drop_policy_caps_hot_buckets(spark):
    """LSH blockers drop oversized buckets BEFORE collecting them: with
    every doc identical, the single band bucket exceeds the cap and the
    candidate set is empty — and no giant array was ever aggregated."""
    df = spark.createDataFrame(
        [(i, "same text for every single document here") for i in range(20)],
        ["doc_id", "text"])
    got = minhash_lsh_candidates(df, max_bucket_size=10)
    assert got.count() == 0
    # uncapped finds all C(20,2) pairs
    assert minhash_lsh_candidates(df, max_bucket_size=None).count() == 190


def test_ivf_bucketed_prunes_partitions(spark, tmp_path):
    """write_ivf_table + ivf_topk_bucketed (VERDICT r2 item 3): the cell
    IN (probes) predicate must be a PartitionFilter on the scan, the
    probed directories strictly fewer than the table's cells, and the
    result identical to the full-scan ivf_topk."""
    import os

    from embulk_filter_column_spark.operators.similarity import (
        _ivf_probes,
        ivf_topk,
        ivf_topk_bucketed,
        train_ivf_centroids,
        write_ivf_table,
    )

    df = (spark.range(400)
          .select(F.col("id").alias("vec_id"),
                  F.transform(
                      F.sequence(F.lit(1), F.lit(8)),
                      lambda i: F.sin(i * (F.col("id") + 1) * 0.37))
                  .alias("embedding")))
    centroids = train_ivf_centroids(df, n_centroids=8)
    path = str(tmp_path / "ivf_table")
    write_ivf_table(df, path, centroids)

    qvec = df.where(F.col("vec_id") == 7).select("embedding") \
             .first()["embedding"]
    got = ivf_topk_bucketed(spark, path, qvec, centroids, k=5, nprobe=2)
    rows = got.collect()

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters", 1)[1][:300]
    assert "cell" in pf and " IN " in pf, pf
    all_cells = {int(d.split("=")[1]) for d in os.listdir(path)
                 if d.startswith("cell=")}
    probes = set(_ivf_probes(qvec, centroids, 2))
    assert len(probes & all_cells) < len(all_cells)

    want = ivf_topk(df, qvec, centroids, k=5, nprobe=2).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in want]


def test_knn_join_exact_vs_per_query_bruteforce(spark):
    """knn_join's partial-top-k distributed plan must equal running
    brute_force_topk once per query; null / ragged corpus vectors are
    skipped, not crashed on."""
    from embulk_filter_column_spark.operators.similarity import (
        brute_force_topk,
        knn_join,
    )

    corpus = (spark.range(300)
              .select(F.col("id").alias("vec_id"),
                      F.when(F.col("id") % 37 == 0, F.lit(None))
                       .otherwise(F.transform(
                           F.sequence(F.lit(1), F.lit(8)),
                           lambda i: F.sin(i * (F.col("id") + 1) * 0.41)))
                      .alias("embedding")))
    queries = (corpus.where((F.col("vec_id") % 50 == 1))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    got = knn_join(corpus, queries, k=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["cosine"]))
    q_rows = queries.collect()
    assert len(by_q) == len(q_rows) > 0
    for qr in q_rows:
        want = [(r["vec_id"], r["cosine"]) for r in
                brute_force_topk(
                    corpus.where(F.col("embedding").isNotNull()),
                    qr["embedding"], k=4).collect()]
        got_q = sorted(by_q[qr["query_id"]],
                       key=lambda t: (-t[1], t[0]))
        assert got_q == want, (qr["query_id"], got_q, want)


def _batch_knn_entry(spark, tmp_path, entry, corpus):
    """``run(queries, **kw)`` for one batch entry point over ``corpus``:
    ``knn_join`` directly, ``ivf_knn_join`` over a ``write_ivf_table``
    layout of it."""
    from embulk_filter_column_spark.operators.similarity import (
        ivf_knn_join,
        knn_join,
        train_ivf_centroids,
        write_ivf_table,
    )

    if entry == "knn_join":
        return lambda q, **kw: knn_join(corpus, q, **kw)
    centroids = train_ivf_centroids(corpus, n_centroids=4)
    path = str(tmp_path / "ivf_table")
    write_ivf_table(corpus, path, centroids)
    return lambda q, **kw: ivf_knn_join(spark, path, q, centroids, **kw)


@pytest.mark.parametrize("entry", ["knn_join", "ivf_knn_join"])
def test_knn_join_query_bound(spark, tmp_path, entry):
    """Both batch entry points share the query-side contract: the row
    and byte bounds raise, an empty query side returns an empty frame
    typed like the (string) id inputs, and the chunk warning points at
    the caller's line."""
    import warnings

    corpus = (spark.range(20)
              .select(F.concat(F.lit("d"), F.col("id").cast("string"))
                      .alias("vec_id"),
                      F.transform(F.sequence(F.lit(1), F.lit(4)),
                                  lambda i: F.sin(i * (F.col("id") + 1)
                                                  * 0.37))
                      .alias("embedding")))
    run = _batch_knn_entry(spark, tmp_path, entry, corpus)
    q = corpus.select(F.concat(F.lit("q"), "vec_id").alias("query_id"),
                      "embedding")
    with pytest.raises(ValueError, match="max_queries"):
        run(q, k=2, max_queries=5)
    # byte bound: 20 queries × 4 dims × 8 B = 640 B > 100 B cap
    with pytest.raises(ValueError, match="max_query_bytes"):
        run(q, k=2, max_query_bytes=100)
    empty = run(q.where(F.lit(False)), k=2)
    assert empty.count() == 0
    assert empty.dtypes == [("query_id", "string"), ("vec_id", "string"),
                            ("cosine", "double")]
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        run(q, k=2, chunk_bytes=64)   # 2 queries per chunk → 10 scans
    rec = [r for r in rec if "query matrix spans 10 chunks" in
           str(r.message)]
    assert len(rec) == 1 and rec[0].category is UserWarning
    assert rec[0].filename == __file__, rec[0].filename


@pytest.mark.parametrize("entry", ["knn_join", "ivf_knn_join"])
def test_batch_knn_rejects_null_query_vectors(spark, tmp_path, entry):
    """The query side is caller input: NULL or ragged query vectors
    raise a ValueError naming the entry point and the query ids, not a
    numpy shape error — with one bad query among several, and with an
    all-NULL query side."""
    corpus = (spark.range(40)
              .select(F.col("id").alias("vec_id"),
                      F.transform(F.sequence(F.lit(1), F.lit(4)),
                                  lambda i: F.cos(i * (F.col("id") + 1)
                                                  * 0.41))
                      .alias("embedding")))
    run = _batch_knn_entry(spark, tmp_path, entry, corpus)
    schema = "query_id long, embedding array<double>"
    some = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, None), (3, [0.0, 1.0, 0.0, 0.0]),
         (4, [1.0, 2.0])], schema)
    with pytest.raises(ValueError, match=rf"^{entry}: NULL or ragged "
                       r"query vectors for 2 query ids \[2, 4\]"):
        run(some, k=2)
    all_null = spark.createDataFrame([(7, None), (8, None)], schema)
    with pytest.raises(ValueError, match=rf"^{entry}: NULL or ragged "
                       r"query vectors for 2 query ids \[7, 8\]"):
        run(all_null, k=2)


def test_ivf_knn_join_full_nprobe_equals_knn_join(spark, tmp_path):
    """Exact kNN is the batch kernel over one cell that every query
    probes: ivf_knn_join with nprobe=len(centroids) must return
    knn_join's rows exactly — over a corpus with NULL and ragged
    vectors (skipped by both) and rounded embeddings repeated every 17
    ids, so the top-k cut falls inside cosine ties that only the id
    order breaks."""
    from embulk_filter_column_spark.operators.similarity import (
        ivf_knn_join,
        knn_join,
        train_ivf_centroids,
        write_ivf_table,
    )

    corpus = (spark.range(120)
              .select(F.col("id").alias("vec_id"),
                      F.when(F.col("id") % 23 == 0, F.lit(None))
                       .when(F.col("id") == 7, F.array(F.lit(1.0)))
                       .otherwise(F.transform(
                           F.sequence(F.lit(1), F.lit(6)),
                           lambda i: F.round(F.sin(
                               i * (F.col("id") % 17 + 1) * 0.7), 1)))
                      .alias("embedding")))
    centroids = train_ivf_centroids(
        corpus.where(F.size("embedding") == 6), n_centroids=4)
    path = str(tmp_path / "ivf_table")
    write_ivf_table(corpus, path, centroids)
    queries = (corpus.where(F.col("vec_id").isin(1, 5, 18, 40, 77, 101))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = sorted(map(tuple, knn_join(corpus, queries, k=8).collect()))
    ivf = sorted(map(tuple, ivf_knn_join(
        spark, path, queries, centroids, k=8,
        nprobe=len(centroids)).collect()))
    assert len(exact) == 48
    assert ivf == exact


def test_redact_pii(spark):
    from embulk_filter_column_spark.functions.text import redact_pii

    cases = [
        ("mail me at john.doe+x@sub.example.co.uk please",
         "mail me at <EMAIL> please"),
        ("ssn 123-45-6789 and server 192.168.0.1 up",
         "ssn <SSN> and server <IP> up"),
        ("call +1 (555) 123-4567 or +44 20 7946 0958x",
         "call <PHONE> or +44 20 7946 0958x"),
        ("no pii here 12345", "no pii here 12345"),
    ]
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(cases)],
                               ["i", "t"])
    got = {r["i"]: r["r"] for r in
           df.select("i", redact_pii("t").alias("r")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])


def test_repetition_metrics(spark):
    from embulk_filter_column_spark.functions.text import (
        repetition_metrics,
    )

    df = spark.createDataFrame(
        [(1, "a a a b"),                  # top word 3/4, mean len 1
         (2, "x\nx\ny\n"),               # dup line frac 1/3
         (3, "@@ ab"),                    # symbols 2/5
         (4, None), (5, "   ")],
        ["i", "t"])
    got = {r["i"]: r["m"] for r in
           df.select("i", repetition_metrics("t").alias("m")).collect()}
    m1 = got[1]
    assert abs(m1["top_word_frac"] - 0.75) < 1e-9
    assert abs(m1["mean_word_len"] - 1.0) < 1e-9
    assert abs(m1["dup_line_frac"] - 0.0) < 1e-9
    m2 = got[2]
    assert abs(m2["dup_line_frac"] - (1 - 2 / 3)) < 1e-9
    m3 = got[3]
    assert abs(m3["symbol_ratio"] - 2 / 5) < 1e-9
    assert got[4] is None and got[5] is None


def test_pack_documents_two_phase_cumsum(spark):
    """Distributed two-phase packing must equal the single-node greedy
    layout regardless of partitioning."""
    from embulk_filter_column_spark.operators.packing import (
        pack_documents,
    )

    rows = [(i, " ".join(["w"] * (7 + (i * 13) % 40))) for i in range(200)]
    rows[50] = (50, None)           # null text → 0 tokens
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(7)
    got = {r["doc_id"]: (r["n_tokens"], r["bin_id"])
           for r in pack_documents(df, target_tokens=100).collect()}
    # single-node reference
    cum = 0
    for i in range(200):
        n = 0 if rows[i][1] is None else len(rows[i][1].split())
        want_bin = cum // 100
        assert got[i] == (n, want_bin), (i, got[i], (n, want_bin))
        cum += n


def test_pack_documents_empty_and_bad_target(spark):
    from embulk_filter_column_spark.operators.packing import (
        pack_documents,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert pack_documents(empty).count() == 0
    with pytest.raises(ValueError, match="target_tokens"):
        pack_documents(empty, target_tokens=0)


def test_fingerprint_index_incremental_dedup(spark, tmp_path):
    """FingerprintIndex: batch 2's duplicates of batch-1 docs (even
    case/punct-jittered) are rejected; genuinely new docs accepted; the
    returned frame stays stable after the index update (the decision is
    pinned before the append)."""
    from embulk_filter_column_spark.operators.incremental import (
        FingerprintIndex,
    )

    idx = FingerprintIndex(spark, str(tmp_path / "fpidx"), num_buckets=8)
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "lazy dogs sleep all day"),
         (3, "the quick brown fox")],          # in-batch dup of 1
        ["doc_id", "text"])
    got1 = sorted(r["doc_id"] for r in
                  idx.dedup_and_update(b1).collect())
    assert got1 == [1, 2]

    b2 = spark.createDataFrame(
        [(10, "THE QUICK BROWN FOX!!"),        # jittered dup of 1
         (11, "totally new content here"),
         (12, "lazy dogs sleep all day")],      # dup of 2
        ["doc_id", "text"])
    out2 = idx.dedup_and_update(b2)
    got2 = sorted(r["doc_id"] for r in out2.collect())
    assert got2 == [11]
    # stable on re-read (decision pinned before the index append)
    assert sorted(r["doc_id"] for r in out2.collect()) == [11]

    # a third batch still sees everything indexed so far
    b3 = spark.createDataFrame(
        [(20, "totally new content here"), (21, "brand new again")],
        ["doc_id", "text"])
    got3 = sorted(r["doc_id"] for r in
                  idx.dedup_and_update(b3).collect())
    assert got3 == [21]


def test_minhash_index_incremental_near_dedup(spark, tmp_path):
    """MinHashIndex (VERDICT r4 item 1): batch 2's NEAR-duplicates of
    batch-1 survivors — case/punct jitter, small insertions — are
    rejected by the pruned band-index probe + exact-Jaccard verify, not
    by any in-batch mechanism; genuinely new docs are accepted; the
    returned frame stays stable after the index append (decision pinned
    first)."""
    from embulk_filter_column_spark.operators import MinHashIndex

    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank today")
    other = ("completely different content about spark sql engines "
             "and shuffles here")
    third = ("a third unique document talking about parquet file "
             "formats and metadata")
    idx = MinHashIndex(spark, str(tmp_path / "mh"), num_buckets=8)
    b1 = spark.createDataFrame(
        [(1, base), (2, other),
         (3, base.upper() + " !!")],      # in-batch near-dup of 1
        ["doc_id", "text"])
    assert sorted(r["doc_id"] for r in
                  idx.dedup_and_update(b1).collect()) == [1, 2]

    b2 = spark.createDataFrame(
        [(10, base + " extra"),           # near-dup of indexed 1
         (11, third),                     # new
         (12, other.upper() + "??")],     # near-dup of indexed 2
        ["doc_id", "text"])
    out2 = idx.dedup_and_update(b2)
    assert sorted(r["doc_id"] for r in out2.collect()) == [11]
    # stable on re-read (decision pinned before the index append)
    assert sorted(r["doc_id"] for r in out2.collect()) == [11]

    b3 = spark.createDataFrame(
        [(20, third + "!"),               # near-dup of batch-2 survivor
         (21, "entirely novel text again with many words")],
        ["doc_id", "text"])
    assert sorted(r["doc_id"] for r in
                  idx.dedup_and_update(b3).collect()) == [21]
    # reopening with different parameters must refuse (band keys would
    # be incompatible — probes would silently miss everything)
    with pytest.raises(ValueError, match="incompatible"):
        MinHashIndex(spark, str(tmp_path / "mh"), num_buckets=8, bands=4)


def test_minhash_index_probe_is_partition_pruned(spark, tmp_path):
    """The cross-batch probe must read only the bucket directories the
    batch's band keys hash into, and the shingle fetch only the
    candidate old ids' dbucket directories — both as plan-time
    PartitionFilters (inputFiles() ignores pruning; the executed plan
    is the evidence)."""
    import os

    from pyspark.sql import types as T

    from embulk_filter_column_spark.operators import MinHashIndex

    idx = MinHashIndex(spark, str(tmp_path / "mh"), num_buckets=16)
    b1 = spark.createDataFrame(
        [(i, f"document number {i} with some shared words and "
             f"unique token u{i} plus filler content here")
         for i in range(20)],
        ["doc_id", "text"])
    idx.dedup_and_update(b1)
    all_buckets = {int(d.split("=")[1])
                   for d in os.listdir(idx._bands_path)
                   if d.startswith("bucket=")}
    probe = sorted(all_buckets)[:2]
    id_field = T.StructField("doc_id", T.LongType())
    for df in (idx._band_slice(probe, id_field),
               idx._doc_slice(probe, id_field)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan, plan
        pf = plan.split("PartitionFilters", 1)[1][:300]
        assert "bucket" in pf and " IN " in pf, pf


@pytest.mark.parametrize("cls, param, built, reopened", [
    ("FingerprintIndex", "num_buckets", 8, 16),
    ("MinHashIndex", "bands", 8, 4),
])
def test_index_refuses_incompatible_or_unversioned_reopen(
        spark, tmp_path, cls, param, built, reopened):
    """A persisted index pins its format and parameters in _params.json.
    Reopening with a changed parameter raises and names both sets (a
    FingerprintIndex reopened with 16 buckets over an 8-bucket index
    would probe the wrong bucket directories and accept exact copies);
    a non-empty directory without _params.json raises "unversioned
    index", and stored params without a format are refused too."""
    import json
    import os

    from embulk_filter_column_spark.operators import incremental

    index = getattr(incremental, cls)
    path = str(tmp_path / "idx")

    def reopen(value):
        return index(spark, path, **{"num_buckets": 8, param: value})

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a completely different page about query engines"),
         (3, "yet another document with its own words in it")],
        "doc_id long, text string")
    reopen(built).dedup_ids(docs)
    with pytest.raises(ValueError, match="incompatible") as err:
        reopen(reopened)
    for value in (built, reopened):
        assert "'%s': %d" % (param, value) in str(err.value)
    # the same parameters reopen, and every copy is still found
    assert reopen(built).dedup_ids(docs).count() == 0

    params = os.path.join(path, "_params.json")
    with open(params) as fh:
        stored = json.load(fh)
    os.remove(params)
    with pytest.raises(ValueError, match="unversioned index"):
        reopen(built)
    del stored["format"]
    with open(params, "w") as fh:
        json.dump(stored, fh)
    with pytest.raises(ValueError, match="incompatible"):
        reopen(built)


def test_indexes_on_file_scheme_uri(spark, tmp_path):
    """Remote-FS journal IO (VERDICT r4 item 2): both persistent dedup
    indexes work end-to-end — including the batch journal, replay, and
    pruning — when their path is a ``file://`` URI, which routes every
    marker/params/journal operation through the Hadoop FileSystem API."""
    from embulk_filter_column_spark.operators import (
        FingerprintIndex,
        MinHashIndex,
    )

    fp = FingerprintIndex(spark, "file://" + str(tmp_path / "fp"),
                          num_buckets=4)
    b1 = spark.createDataFrame(
        [(1, "one text"), (2, "two text")], ["doc_id", "text"])
    assert sorted(r["doc_id"] for r in
                  fp.dedup_and_update(b1, batch_id="b1").collect()) \
        == [1, 2]
    # replay through the URI-backed journal
    assert sorted(r["doc_id"] for r in
                  fp.dedup_and_update(b1, batch_id="b1").collect()) \
        == [1, 2]
    b2 = spark.createDataFrame(
        [(10, "ONE text!"), (11, "fresh text")], ["doc_id", "text"])
    assert sorted(r["doc_id"] for r in
                  fp.dedup_and_update(b2, batch_id="b2").collect()) \
        == [11]
    assert fp.prune_journal(keep_last=1) == ["b1"]

    mh = MinHashIndex(spark, "file://" + str(tmp_path / "mh"),
                      num_buckets=4)
    m1 = spark.createDataFrame(
        [(1, "first document text body with several words"),
         (2, "second unrelated document about other things")],
        ["doc_id", "text"])
    assert sorted(r["doc_id"] for r in
                  mh.dedup_and_update(m1, batch_id="m1").collect()) \
        == [1, 2]
    assert sorted(r["doc_id"] for r in
                  mh.dedup_and_update(m1, batch_id="m1").collect()) \
        == [1, 2]
    m2 = spark.createDataFrame(
        [(10, "FIRST document text body with several words??")],
        ["doc_id", "text"])
    assert mh.dedup_and_update(m2, batch_id="m2").count() == 0
    # params pinning works through the URI too
    with pytest.raises(ValueError, match="incompatible"):
        MinHashIndex(spark, "file://" + str(tmp_path / "mh"),
                     num_buckets=4, bands=4)


def test_minhash_index_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract: replaying a journaled batch returns the
    RECORDED survivors (a naive replay would band-join the batch
    against its own index entries and reject every doc)."""
    from embulk_filter_column_spark.operators import MinHashIndex

    idx = MinHashIndex(spark, str(tmp_path / "mh"), num_buckets=4)
    b1 = spark.createDataFrame(
        [(1, "first document text body with several words"),
         (2, "second unrelated document about other things")],
        ["doc_id", "text"])
    got = sorted(r["doc_id"] for r in
                 idx.dedup_and_update(b1, batch_id="b1").collect())
    assert got == [1, 2]
    replay = sorted(r["doc_id"] for r in
                    idx.dedup_and_update(b1, batch_id="b1").collect())
    assert replay == [1, 2]
    # the index still holds batch 1: a later near-dup is rejected
    b2 = spark.createDataFrame(
        [(10, "FIRST document text body with several words!!")],
        ["doc_id", "text"])
    assert idx.dedup_and_update(b2, batch_id="b2").count() == 0
    assert idx.prune_journal(keep_last=1) == ["b1"]


def test_simhash_stream_policy_exact_on_clustered_sigs(spark):
    """simhash_near_dup_pairs documents total recall, so a degenerate
    signature cluster (every doc near-identical → shared band values,
    bucket over the cap) must STREAM its pairs, not drop them (ADVICE
    r3): a tiny cap returns exactly the uncapped pair set."""
    from embulk_filter_column_spark.operators import (
        simhash_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(i, "same text in every single document here") for i in range(16)]
        + [(100, "completely unrelated web page about spark")],
        ["doc_id", "text"])
    want = {(r["a"], r["b"]) for r in
            simhash_near_dup_pairs(df, max_bucket_size=None).collect()}
    got = {(r["a"], r["b"]) for r in
           simhash_near_dup_pairs(df, max_bucket_size=3).collect()}
    assert want == {(a, b) for a in range(16) for b in range(16) if a < b}
    assert got == want


def test_fingerprint_index_batch_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract (ADVICE r3): replaying a journaled batch_id
    returns the RECORDED survivors instead of anti-joining the batch
    against its own fingerprints (which silently returned zero
    survivors before the journal existed)."""
    from embulk_filter_column_spark.operators.incremental import (
        FingerprintIndex,
    )

    idx = FingerprintIndex(spark, str(tmp_path / "fpidx"), num_buckets=4)
    b1 = spark.createDataFrame(
        [(1, "first doc text"), (2, "second doc text")],
        ["doc_id", "text"])
    got1 = sorted(r["doc_id"] for r in
                  idx.dedup_and_update(b1, batch_id="b1").collect())
    assert got1 == [1, 2]
    # replay after a simulated downstream crash: same survivors, NOT []
    replay = sorted(r["doc_id"] for r in
                    idx.dedup_and_update(b1, batch_id="b1").collect())
    assert replay == [1, 2]
    # the index still holds the fingerprints: a later batch deduplicates
    b2 = spark.createDataFrame(
        [(10, "first doc text"), (11, "brand new text")],
        ["doc_id", "text"])
    got2 = sorted(r["doc_id"] for r in
                  idx.dedup_and_update(b2, batch_id="b2").collect())
    assert got2 == [11]
    # interrupted index append: journal committed but marker missing →
    # replay completes the append (possible duplicate fingerprint rows
    # are harmless for anti-join semantics) and still returns survivors
    import os

    os.remove(idx._indexed_marker("b2"))
    replay2 = sorted(r["doc_id"] for r in
                     idx.dedup_and_update(b2, batch_id="b2").collect())
    assert replay2 == [11]
    assert os.path.exists(idx._indexed_marker("b2"))


def test_knn_join_chunked_and_string_ids(spark):
    """knn_join with a chunk_bytes small enough to force multiple query
    chunks must equal the single-chunk run; string ids on both sides
    are carried opaquely (no int64 cast — ADVICE r3)."""
    from embulk_filter_column_spark.operators.similarity import knn_join

    corpus = (spark.range(60)
              .select(F.concat(F.lit("doc-"),
                               F.lpad(F.col("id").cast("string"), 3, "0"))
                      .alias("vec_id"),
                      F.transform(F.sequence(F.lit(1), F.lit(6)),
                                  lambda i: F.sin(i * (F.col("id") + 1)
                                                  * 0.37))
                      .alias("embedding")))
    queries = (spark.range(5)
               .select(F.concat(F.lit("q"), F.col("id").cast("string"))
                       .alias("query_id"),
                       F.transform(F.sequence(F.lit(1), F.lit(6)),
                                   lambda i: F.cos(i * (F.col("id") + 1)
                                                   * 0.53))
                       .alias("embedding")))
    one = knn_join(corpus, queries, k=3).collect()
    # 6 doubles/query = 48 bytes; chunk_bytes=100 → 2 queries per chunk
    many = knn_join(corpus, queries, k=3, chunk_bytes=100).collect()
    key = lambda r: (r["query_id"], r["vec_id"])  # noqa: E731
    assert sorted(map(tuple, many)) == sorted(map(tuple, one))
    assert len(one) == 15
    assert all(isinstance(r["vec_id"], str) for r in one)


def test_pack_documents_precomputed_counts_and_string_ids(spark):
    """pack_documents(n_tokens_col=...) bins by the caller's precomputed
    (BPE) counts; the empty-input schema follows the input id type
    instead of hardcoding long (ADVICE r3)."""
    from embulk_filter_column_spark.operators.packing import (
        pack_documents,
    )

    df = spark.createDataFrame(
        [(f"u{i:03d}", "ignored text", 40 + i % 3) for i in range(30)],
        ["doc_id", "text", "bpe_count"])
    got = {r["doc_id"]: (r["n_tokens"], r["bin_id"])
           for r in pack_documents(df, target_tokens=100,
                                   n_tokens_col="bpe_count").collect()}
    cum = 0
    for i in range(30):
        n = 40 + i % 3
        assert got[f"u{i:03d}"] == (n, cum // 100)
        cum += n
    empty = spark.createDataFrame([], "doc_id string, text string")
    out = pack_documents(empty)
    assert out.count() == 0
    assert dict(out.dtypes)["doc_id"] == "string"


def test_ivf_knn_join_prunes_and_matches_per_query_probe(spark, tmp_path):
    """ivf_knn_join (VERDICT r3 item 2): batch ANN retrieval over the
    write_ivf_table layout. The scan must carry a cell IN (...)
    PartitionFilter covering only the union of the queries' probed
    cells, and each query's result must equal its one-off
    ivf_topk_bucketed search (same probes, same total order)."""
    from embulk_filter_column_spark.operators.similarity import (
        ivf_knn_join,
        ivf_topk_bucketed,
        train_ivf_centroids,
        write_ivf_table,
    )

    df = (spark.range(400)
          .select(F.col("id").alias("vec_id"),
                  F.transform(
                      F.sequence(F.lit(1), F.lit(8)),
                      lambda i: F.sin(i * (F.col("id") + 1) * 0.37))
                  .alias("embedding")))
    centroids = train_ivf_centroids(df, n_centroids=8)
    path = str(tmp_path / "ivf_table")
    write_ivf_table(df, path, centroids)

    queries = (df.where(F.col("vec_id").isin(3, 77, 151))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    got = ivf_knn_join(spark, path, queries, centroids, k=5, nprobe=2)
    rows = got.collect()

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters", 1)[1][:300]
    assert "cell" in pf and " IN " in pf, pf

    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["cosine"]))
    assert set(by_q) == {3, 77, 151}
    for qr in queries.collect():
        want = [(r["vec_id"], r["cosine"]) for r in
                ivf_topk_bucketed(spark, path, qr["embedding"],
                                  centroids, k=5, nprobe=2).collect()]
        got_q = sorted(by_q[qr["query_id"]], key=lambda t: (-t[1], t[0]))
        assert got_q == want, (qr["query_id"], got_q, want)


def test_ivf_knn_join_chunked_matches_single(spark, tmp_path):
    from embulk_filter_column_spark.operators.similarity import (
        ivf_knn_join,
        train_ivf_centroids,
        write_ivf_table,
    )

    df = (spark.range(200)
          .select(F.col("id").alias("vec_id"),
                  F.transform(
                      F.sequence(F.lit(1), F.lit(6)),
                      lambda i: F.cos(i * (F.col("id") + 1) * 0.29))
                  .alias("embedding")))
    centroids = train_ivf_centroids(df, n_centroids=6)
    path = str(tmp_path / "ivf_table")
    write_ivf_table(df, path, centroids)
    queries = (df.where(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    one = ivf_knn_join(spark, path, queries, centroids, k=3, nprobe=2)
    many = ivf_knn_join(spark, path, queries, centroids, k=3, nprobe=2,
                        chunk_bytes=100)
    assert sorted(map(tuple, many.collect())) == \
        sorted(map(tuple, one.collect()))


def test_decontaminate_flags_planted_overlap(spark):
    """decontaminate (VERDICT r3 item 3): a training doc containing
    enough of ANY eval doc's shingles is flagged with its best-matching
    eval id and exact overlap fraction; clean docs are absent; ties
    resolve to the smallest eval id. Default normalization is by the
    EVAL doc (PaLM direction), so a long doc embedding the eval item
    verbatim flags at 1.0 — the case train-side normalization inverts."""
    from embulk_filter_column_spark.operators import decontaminate

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    filler = " ".join(f"filler{i} word{i}" for i in range(60))
    train = spark.createDataFrame(
        [(1, base),                                    # exact leak
         (2, filler + " " + base),                     # long doc embeds eval
         (3, "completely unrelated training text about spark"),
         (4, "ALPHA beta GAMMA delta epsilon zeta eta theta iota kappa"),
         ],                                            # jittered leak
        ["doc_id", "text"])
    eval_df = spark.createDataFrame(
        [(100, base), (101, base)],   # duplicate eval docs → tie
        ["doc_id", "text"])
    got = {r["doc_id"]: (r["eval_id"], r["overlap"])
           for r in decontaminate(train, eval_df, shingle_n=3,
                                  threshold=0.9).collect()}
    # every eval trigram appears in docs 1, 2 and 4 → overlap 1.0,
    # tie resolves to eval 100; the LONG doc 2 is flagged too — the
    # scenario train-side normalization would score at ~8/131
    assert got[1] == (100, 1.0)
    assert got[2] == (100, 1.0)
    assert got[4] == (100, 1.0)
    assert 3 not in got
    # train-side normalization answers the converse question: doc 2 is
    # NOT mostly eval material
    by_train = {r["doc_id"]: r["overlap"]
                for r in decontaminate(train, eval_df, shingle_n=3,
                                       threshold=0.5,
                                       normalize="train").collect()}
    assert by_train[1] == 1.0 and 2 not in by_train
    with pytest.raises(ValueError, match="normalize"):
        decontaminate(train, eval_df, normalize="bogus")


def test_decontaminate_short_eval_items_are_covered(spark):
    """ADVICE r4: an eval item SHORTER than shingle_n used to be
    invisible (its whole-text fallback shingle can never equal a longer
    doc's n-gram). With cover_short_eval (default) the train side is
    additionally indexed at the short sizes present in the eval set, so
    a verbatim 2-token leak flags at overlap 1.0 even at n=13; the
    opt-out restores the old blindness; multi-size indexing never
    cross-matches sizes (string equality implies equal token counts)."""
    from embulk_filter_column_spark.functions.text import (
        word_ngrams,
        word_ngrams_multi,
    )
    from embulk_filter_column_spark.operators import decontaminate

    filler = " ".join(f"filler{i} word{i}" for i in range(30))
    train = spark.createDataFrame(
        [(1, filler + " gamma delta " + filler),   # embeds the 2-gram
         (2, filler),                              # clean
         (3, "solo"),                              # 1-token train doc
         ], ["doc_id", "text"])
    eval_df = spark.createDataFrame(
        [(100, "gamma delta"),      # 2 tokens < n=13
         (101, "solo"),             # 1 token
         (102, "absent pair")],     # 2 tokens, no match
        ["doc_id", "text"])
    got = {r["doc_id"]: (r["eval_id"], r["overlap"])
           for r in decontaminate(train, eval_df, shingle_n=13,
                                  threshold=0.9).collect()}
    assert got[1] == (100, 1.0)
    assert got[3] == (101, 1.0)
    assert 2 not in got
    # opt-out: the old semantics — a short eval item is invisible to
    # LONG train docs (doc 3 still matches: its own whole-text fallback
    # equals eval 101's)
    off = {r["doc_id"]: r["eval_id"]
           for r in decontaminate(train, eval_df, shingle_n=13,
                                  threshold=0.9,
                                  cover_short_eval=False).collect()}
    assert off == {3: 101}
    # word_ngrams_multi == union of word_ngrams at each size (one
    # tokenization), including the per-size short-doc fallback
    df = spark.createDataFrame(
        [("alpha beta gamma delta",), ("one",), ("",)], ["text"])
    rows = df.select(
        F.array_sort(word_ngrams_multi("text", [2, 3])).alias("multi"),
        F.array_sort(F.array_distinct(F.concat(
            word_ngrams("text", 2), word_ngrams("text", 3))))
         .alias("union")).collect()
    for r in rows:
        assert r["multi"] == r["union"]


def test_split_corpus_layout_independent_and_proportional(spark):
    """split_corpus must assign by (id, seed) only: identical splits
    under different partitioning (the property Bernoulli sample()
    lacks), roughly proportional at size, and exhaustive/exclusive."""
    from embulk_filter_column_spark.operators import split_corpus

    df = spark.range(4000).select(F.col("id").alias("doc_id"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"]
         for r in split_corpus(df, w, seed=5).collect()}
    b = {r["doc_id"]: r["split"]
         for r in split_corpus(df.repartition(13), w, seed=5).collect()}
    assert a == b
    counts = {}
    for s in a.values():
        counts[s] = counts.get(s, 0) + 1
    assert abs(counts["train"] / 4000 - 0.8) < 0.03
    assert abs(counts["val"] / 4000 - 0.1) < 0.02
    assert abs(counts["test"] / 4000 - 0.1) < 0.02
    # different seed → different assignment
    c = {r["doc_id"]: r["split"]
         for r in split_corpus(df, w, seed=6).collect()}
    assert a != c
    with pytest.raises(ValueError):
        split_corpus(df, {"a": -0.1, "b": 1.1})


def test_sampling_null_ids_consistent(spark):
    """ADVICE r4: NULL ids have no hash-derived membership — split
    assigns a NULL split (it used to silently dump them into the LAST
    split) and stratified sampling excludes them; the two operators
    agree on the policy."""
    from embulk_filter_column_spark.operators import (
        sample_corpus_stratified,
        split_corpus,
    )

    df = spark.createDataFrame(
        [(1, "en"), (None, "en"), (2, "en")],
        "doc_id long, lang string")
    splits = {r["doc_id"]: r["split"]
              for r in split_corpus(df, {"a": 0.5, "b": 0.5}).collect()}
    assert splits[None] is None
    assert splits[1] in ("a", "b") and splits[2] in ("a", "b")
    kept = sample_corpus_stratified(df, "lang", {"en": 1.0}).collect()
    assert sorted(r["doc_id"] for r in kept) == [1, 2]


def test_shuffle_corpus_is_deterministic_permutation(spark):
    from embulk_filter_column_spark.operators import shuffle_corpus

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    got = shuffle_corpus(df, seed=3).collect()
    ids = [r["doc_id"] for r in got]
    keys = [r["shuffle_key"] for r in got]
    assert sorted(ids) == list(range(500))          # permutation
    assert keys == sorted(keys)                     # key-ordered
    assert all(0.0 <= k < 1.0 for k in keys)
    assert ids != list(range(500))                  # actually shuffled
    again = [r["doc_id"] for r in
             shuffle_corpus(df.repartition(7), seed=3).collect()]
    assert again == ids                             # layout-independent


def test_sample_corpus_stratified_exact_membership(spark):
    from embulk_filter_column_spark.operators import (
        sample_corpus_stratified,
        unit_hash,
    )

    df = (spark.range(2000)
          .select(F.col("id").alias("doc_id"),
                  F.when(F.col("id") % 3 == 0, "en")
                   .when(F.col("id") % 3 == 1, "de")
                   .otherwise("fr").alias("lang")))
    got = {r["doc_id"] for r in sample_corpus_stratified(
        df, "lang", {"en": 0.5, "de": 1.0}, seed=9,
        default_fraction=0.0).collect()}
    u = {r["doc_id"]: r["u"] for r in
         df.select("doc_id", unit_hash("doc_id", 9).alias("u")).collect()}
    want = {i for i in range(2000)
            if (i % 3 == 0 and u[i] < 0.5) or i % 3 == 1}
    assert got == want
    assert all(i % 3 != 2 for i in got)             # default 0 drops fr
    with pytest.raises(ValueError):
        sample_corpus_stratified(df, "lang", {"en": 1.5})


def test_topk_recall_measures_ann_quality(spark, tmp_path):
    """topk_recall: exact-vs-exact is 1.0 everywhere; an IVF search at
    nprobe=1 scores ≤ 1.0 with per-query granularity; queries missing
    from the approx side score 0.0."""
    from embulk_filter_column_spark.operators.similarity import (
        ivf_knn_join,
        knn_join,
        topk_recall,
        train_ivf_centroids,
        write_ivf_table,
    )

    corpus = (spark.range(300)
              .select(F.col("id").alias("vec_id"),
                      F.transform(F.sequence(F.lit(1), F.lit(8)),
                                  lambda i: F.sin(i * (F.col("id") + 1)
                                                  * 0.41))
                      .alias("embedding")))
    queries = (corpus.where(F.col("vec_id") < 6)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = knn_join(corpus, queries, k=5)
    r = topk_recall(exact, exact).collect()
    assert len(r) == 6 and all(x["recall"] == 1.0 for x in r)

    centroids = train_ivf_centroids(corpus, n_centroids=8)
    path = str(tmp_path / "ivf")
    write_ivf_table(corpus, path, centroids)
    approx = ivf_knn_join(spark, path, queries, centroids, k=5, nprobe=1)
    r2 = {x["query_id"]: x["recall"]
          for x in topk_recall(approx, exact).collect()}
    assert set(r2) == set(range(6))
    assert all(0.0 <= v <= 1.0 for v in r2.values())
    # a query with no approx rows at all scores 0, not NULL
    r3 = {x["query_id"]: x["recall"] for x in topk_recall(
        approx.where(F.col("query_id") != 2), exact).collect()}
    assert r3[2] == 0.0


def test_dedup_corpus_lines_c4_style(spark):
    """dedup_corpus_lines: corpus-common non-blank lines (count >=
    min_count) vanish from every doc, blank lines always survive,
    unique lines keep their original order, fully-boilerplate docs
    become '', and NULL text stays NULL."""
    from embulk_filter_column_spark.operators import dedup_corpus_lines

    rows = [
        (1, "keep me one\nsubscribe now\n\nkeep me two"),
        (2, "subscribe now\nanother unique line"),
        (3, "subscribe now"),                 # only boilerplate → ''
        (4, None),                            # NULL stays NULL
        (5, "solo doc with no shared lines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text_clean"]
           for r in dedup_corpus_lines(df, min_count=2).collect()}
    assert got[1] == "keep me one\n\nkeep me two"
    assert got[2] == "another unique line"
    assert got[3] == ""
    assert got[4] is None
    assert got[5] == "solo doc with no shared lines"
    # min_count above the plant's multiplicity keeps everything
    keep_all = {r["doc_id"]: r["text_clean"]
                for r in dedup_corpus_lines(df, min_count=4).collect()}
    assert keep_all[2] == rows[1][1]
    with pytest.raises(ValueError, match="min_count"):
        dedup_corpus_lines(df, min_count=0)


def test_dedup_corpus_lines_blank_lines_never_removed(spark):
    """Blank lines outnumber min_count everywhere but are structural —
    they must never be treated as corpus-common."""
    from embulk_filter_column_spark.operators import dedup_corpus_lines

    df = spark.createDataFrame(
        [(i, f"para {i} a\n\npara {i} b") for i in range(10)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text_clean"]
           for r in dedup_corpus_lines(df, min_count=2).collect()}
    assert got[0] == "para 0 a\n\npara 0 b"


def test_decontaminate_eval_df_cap_drops_stop_shingles(spark):
    """max_eval_shingle_df: a shingle present in every eval doc (a
    stop-phrase) is excluded from the index, so it can no longer
    contaminate by itself; discriminative shingles still flag."""
    from embulk_filter_column_spark.operators import decontaminate

    stop = "click here to subscribe"
    train = spark.createDataFrame(
        [(1, stop),                                  # only stop-phrase
         (2, "unique eval answer forty two exactly")],
        ["doc_id", "text"])
    eval_df = spark.createDataFrame(
        [(100, stop), (101, stop), (102, stop),      # boilerplate evals
         (103, "unique eval answer forty two exactly")],
        ["doc_id", "text"])
    uncapped = {r["doc_id"] for r in
                decontaminate(train, eval_df, shingle_n=3,
                              threshold=0.9).collect()}
    assert uncapped == {1, 2}
    capped = {r["doc_id"]: r["eval_id"] for r in
              decontaminate(train, eval_df, shingle_n=3, threshold=0.9,
                            max_eval_shingle_df=1).collect()}
    # doc 1 (stop-phrase, present in 3 eval docs → shingles dropped)
    # no longer flags; doc 2's singleton eval match still does
    assert capped == {2: 103}


def test_fingerprint_index_journal_pruning(spark, tmp_path):
    """prune_journal retires the oldest fully-indexed journal entries
    (their replay window has passed once downstream commits are
    durable) and never touches entries newer than keep_last; pruned
    batches simply recompute on replay — dedup stays correct because
    the index itself still holds their fingerprints."""
    import os

    from embulk_filter_column_spark.operators.incremental import (
        FingerprintIndex,
    )

    idx = FingerprintIndex(spark, str(tmp_path / "fp"), num_buckets=4)
    for i in range(4):
        b = spark.createDataFrame(
            [(i * 10, f"text number {i}")], ["doc_id", "text"])
        idx.dedup_and_update(b, batch_id=f"b{i}")
    pruned = idx.prune_journal(keep_last=2)
    assert pruned == ["b0", "b1"]
    assert not os.path.exists(idx._journal_dir("b0"))
    assert os.path.exists(idx._journal_dir("b3"))
    # a pruned batch replays as a fresh computation: its fingerprints
    # are still in the index, so its docs dedup to zero survivors —
    # no data loss, just no journal short-circuit
    b0 = spark.createDataFrame([(0, "text number 0")],
                               ["doc_id", "text"])
    assert idx.dedup_and_update(b0, batch_id="b0").count() == 0
    assert idx.prune_journal(keep_last=0) == ["b2", "b3", "b0"]
    # batch ids become path components — a traversal-shaped id must be
    # rejected before it can write outside _journal (ADVICE r4)
    for bad in ("a/b", "..", "x..y/", "", "b\x00"):
        with pytest.raises(ValueError, match="batch_id"):
            idx.dedup_and_update(b0, batch_id=bad)


def test_domain_stats_and_filter(spark):
    from embulk_filter_column_spark.operators import (
        domain_stats,
        filter_domains,
    )

    rows = [
        (1, "https://www.News.com:443/a?x=1", "alpha beta gamma"),
        (2, "https://news.com/b", "delta epsilon"),
        (3, "http://blog.example.org/post/1", "zeta eta theta iota"),
        (4, "https://news.com/b", "kappa"),          # same url as 2
        (5, "not a url at all", "lambda mu"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "text"])
    stats = {r["domain"]: r for r in domain_stats(df).collect()}
    # www. and :443 stripped, host case folded → one news.com group
    assert stats["news.com"]["n_docs"] == 3
    assert stats["news.com"]["n_urls"] == 2
    assert stats["blog.example.org"]["n_docs"] == 1
    assert abs(stats["blog.example.org"]["mean_tokens"] - 4.0) < 1e-9
    # scheme-less rows surface under '' instead of disappearing
    assert stats[""]["n_docs"] == 1

    blocked = filter_domains(df, blocklist=["news.com"])
    assert sorted(r["doc_id"] for r in blocked.collect()) == [3, 5]
    allowed = filter_domains(df, allowlist=["news.com"])
    assert sorted(r["doc_id"] for r in allowed.collect()) == [1, 2, 4]

    # DataFrame-shaped list → broadcast semi/anti join, same answers
    bl = spark.createDataFrame([("news.com",)], ["domain"])
    got = sorted(r["doc_id"]
                 for r in filter_domains(df, blocklist=bl).collect())
    assert got == [3, 5]

    with pytest.raises(ValueError):
        filter_domains(df)
    with pytest.raises(ValueError):
        filter_domains(df, blocklist=["a"], allowlist=["b"])


def test_filter_domains_pushes_predicate_to_scan(spark, tmp_path):
    """The isin-list form must fold into the parquet scan (no join, no
    shuffle, no Python) — the property that makes a blocklist free at
    100 TB."""
    from embulk_filter_column_spark.operators import filter_domains

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "https://s%d.example.com/x" % (i % 4)) for i in range(100)],
        ["doc_id", "url"]).write.parquet(p)
    out = filter_domains(spark.read.parquet(p),
                         blocklist=["s1.example.com"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    assert "EvalPython" not in plan
    assert out.count() == 75


def test_dedup_substrings_removes_repeated_spans(spark):
    """Token windows repeated corpus-wide are removed from every doc
    (no-survivor C4 semantics, after Lee et al. substring dedup);
    unique text, short docs, and NULL text pass through."""
    from embulk_filter_column_spark.operators import dedup_substrings

    span = "one two three four five six"           # 6 tokens
    rows = [
        (1, f"intro {span} outro1"),
        (2, f"start {span} outro2"),
        (3, f"prefix text {span}"),
        (4, "a completely unrelated document body here"),
        (5, "tiny doc"),                            # < window, no windows
        (6, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["text_clean"]
           for r in dedup_substrings(df, window_tokens=6,
                                     min_count=3).collect()}
    # the 6-token span occurs 3x -> its tokens vanish everywhere;
    # bridging windows (e.g. "intro one two three four five") occur
    # once each and flag nothing
    assert out[1] == "intro outro1"
    assert out[2] == "start outro2"
    assert out[3] == "prefix text"
    assert out[4] == "a completely unrelated document body here"
    assert out[5] == "tiny doc"
    assert out[6] is None


def test_dedup_substrings_matches_python_model(spark):
    """Pin the cover semantics against a direct single-node model on a
    corpus with overlapping and bridging repeats."""
    from embulk_filter_column_spark.operators import dedup_substrings

    docs = {
        1: "a b c d e f g h a b c d",
        2: "x a b c d e y z w q r s",
        3: "a b c d e f q r s t u v",
        4: "m n o p q r s t u v w x",
    }
    n, mc = 3, 2
    wins = {}
    for d, t in docs.items():
        tk = t.split()
        for i in range(len(tk) - n + 1):
            wins.setdefault(" ".join(tk[i:i + n]), []).append((d, i))
    flagged = {w for w, occ in wins.items() if len(occ) >= mc}
    want = {}
    for d, t in docs.items():
        tk = t.split()
        covered = set()
        for i in range(len(tk) - n + 1):
            if " ".join(tk[i:i + n]) in flagged:
                covered.update(range(i, i + n))
        want[d] = " ".join(tok for i, tok in enumerate(tk)
                           if i not in covered)
    df = spark.createDataFrame(sorted(docs.items()),
                               ["doc_id", "text"])
    got = {r["doc_id"]: r["text_clean"]
           for r in dedup_substrings(df, window_tokens=n,
                                     min_count=mc).collect()}
    assert got == want

    with pytest.raises(ValueError):
        dedup_substrings(df, window_tokens=0)
    with pytest.raises(ValueError):
        dedup_substrings(df, min_count=0)


def test_gopher_filter_thresholds(spark):
    from embulk_filter_column_spark.functions.text import gopher_filter

    good = ("the quick brown fox jumps over the lazy dog and then "
            "runs back to the barn with plenty of energy to spare "
            "while all of the other animals watch it go past the "
            "fence that borders the wide green field every morning "
            "before the sun rises over the distant hills again") 
    rows = [
        (1, good),                                   # passes all rules
        (2, "too short to pass the fifty word rule"),
        (3, " ".join("#" for _ in range(60))),       # symbols, no alpha
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["g"] for r in df.select(
        "doc_id", gopher_filter("text").alias("g")).collect()}
    assert out[1]["keep"] is True
    assert out[1]["n_words"] >= 50
    assert out[2]["keep"] is False          # word count < 50
    assert out[3]["keep"] is False          # alpha + symbol rules
    assert out[3]["alpha_word_frac"] == 0.0
    assert out[4] is None
    assert out[5] is None


def test_minhash_index_suppresses_same_id_recrawl(spark, tmp_path):
    """A re-ingest of an already-indexed id with unchanged (or
    near-identical) text must be suppressed — the cross-batch verify
    matches the id's own indexed entry (FingerprintIndex-consistent)."""
    from embulk_filter_column_spark.operators import MinHashIndex

    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank every single morning in early spring")
    idx = MinHashIndex(spark, str(tmp_path / "idx"), num_buckets=4,
                       num_hashes=16, bands=8, shingle_n=3,
                       threshold=0.8)
    b1 = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    assert idx.dedup_and_update(b1).count() == 1
    # batch 2: same id, same text -> suppressed
    assert idx.dedup_and_update(b1).count() == 0
    # batch 3: same id, lightly edited -> still suppressed
    b3 = spark.createDataFrame(
        [(1, base.replace("spring", "summer"))], ["doc_id", "text"])
    assert idx.dedup_and_update(b3).count() == 0
    # genuinely different content under the same id is accepted
    b4 = spark.createDataFrame(
        [(1, "entirely different page about query optimizers today")],
        ["doc_id", "text"])
    assert idx.dedup_and_update(b4).count() == 1


def test_minhash_index_zero_shingle_replay_parity(spark, tmp_path):
    """Zero-shingle survivors (text normalizing to nothing) must come
    back on a journal REPLAY exactly as on the first run — they are
    journaled (full survivor set) but never indexed."""
    from embulk_filter_column_spark.operators import MinHashIndex

    idx = MinHashIndex(spark, str(tmp_path / "idx"), num_buckets=4,
                       num_hashes=16, bands=8, shingle_n=3,
                       threshold=0.8)
    batch = spark.createDataFrame(
        [(1, "a normal document with plenty of words to shingle on"),
         (2, "!!! ??? ...")],              # normalizes to zero tokens
        ["doc_id", "text"])
    first = {r["doc_id"] for r in
             idx.dedup_and_update(batch, batch_id="b1").collect()}
    assert first == {1, 2}
    replay = {r["doc_id"] for r in
              idx.dedup_and_update(batch, batch_id="b1").collect()}
    assert replay == first
    # and the zero-shingle doc never entered the index itself
    docs = spark.read.parquet(str(tmp_path / "idx") + "/docs")
    assert docs.where(F.col("n") == 0).count() == 0


def test_url_domain_skips_userinfo(spark):
    """userinfo must not be mistaken for the host — otherwise
    'http://alice@blocked.com/' evades a blocklist on blocked.com."""
    from embulk_filter_column_spark.operators import filter_domains

    rows = [(1, "http://alice@blocked.example.com/page"),
            (2, "https://u:pw@www.Blocked.example.com:443/x"),
            (3, "https://ok.example.org/y")]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    kept = filter_domains(df, blocklist=["blocked.example.com"])
    assert sorted(r["doc_id"] for r in kept.collect()) == [3]


def test_plan_mixture_closed_form(spark):
    from embulk_filter_column_spark.operators import (
        mixture_fractions,
        plan_mixture,
        sample_corpus_stratified,
    )

    # tokens per doc = 4; totals: a=40, b=16, c=80 (+ ignored stratum d)
    rows = ([(i, "a", "w x y z") for i in range(10)]
            + [(100 + i, "b", "w x y z") for i in range(4)]
            + [(200 + i, "c", "w x y z") for i in range(20)]
            + [(300, "d", "w x y z")])
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    # weights 50/25/25: caps = 40/.5=80, 16/.25=64, 80/.25=320 → C=64
    # fractions: a=.5*64/40=0.8, b=1.0 (binding), c=.25*64/80=0.2
    plan = {r["source"]: (r["total_tokens"], r["fraction"])
            for r in plan_mixture(
                df, "source",
                {"a": 0.5, "b": 0.25, "c": 0.25}).collect()}
    assert plan == {"a": (40, 0.8), "b": (16, 1.0), "c": (80, 0.2)}

    fr = mixture_fractions(df, "source",
                           {"a": 0.5, "b": 0.25, "c": 0.25})
    sampled = sample_corpus_stratified(df, "source", fr)
    got = {s: n for s, n in
           sampled.groupBy("source").count().collect()}
    assert got["b"] == 4                  # binding stratum kept whole
    assert "d" not in got                 # unlisted stratum excluded

    # n_tokens_col path: same plan from precomputed counts
    from pyspark.sql import functions as F
    df2 = df.withColumn("n_tok", F.lit(4))
    plan2 = {r["source"]: r["fraction"]
             for r in plan_mixture(
                 df2, "source", {"a": 0.5, "b": 0.25, "c": 0.25},
                 n_tokens_col="n_tok").collect()}
    assert plan2 == {"a": 0.8, "b": 1.0, "c": 0.2}

    # infeasible: a target stratum missing from the corpus
    with pytest.raises(ValueError):
        mixture_fractions(df, "source", {"a": 0.5, "zz": 0.5})
    with pytest.raises(ValueError):
        plan_mixture(df, "source", {})
    with pytest.raises(ValueError):
        plan_mixture(df, "source", {"a": -1.0})


def test_dedup_substrings_keep_first(spark):
    """keep='first': the globally-first occurrence (min (doc_id,
    start)) of a repeated span keeps its tokens; later occurrences are
    cut; keep='none' removes all copies."""
    from embulk_filter_column_spark.operators import dedup_substrings

    span = "one two three four five six"
    rows = [(1, f"intro {span} outro1"),
            (2, f"start {span} outro2"),
            (3, f"{span} tail3")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    first = {r["doc_id"]: r["text_clean"]
             for r in dedup_substrings(df, window_tokens=6,
                                       min_count=3,
                                       keep="first").collect()}
    # doc 1 is the winner (smallest doc_id; its start offset is 1 but
    # (1, 1) < (2, 1) < (3, 0) under (doc_id, s) order)
    assert first[1] == f"intro {span} outro1"
    assert first[2] == "start outro2"
    assert first[3] == "tail3"

    none = {r["doc_id"]: r["text_clean"]
            for r in dedup_substrings(df, window_tokens=6,
                                      min_count=3).collect()}
    assert none[1] == "intro outro1"

    with pytest.raises(ValueError):
        dedup_substrings(df, keep="bogus")


def test_dedup_substrings_first_winner_shield(spark):
    """Overlapping flagged spans with winners in DIFFERENT docs: each
    winner's copy must survive — a non-winner overlap may not cut
    tokens out of a winning window (the review scenario where
    'b c z' previously survived nowhere)."""
    from embulk_filter_column_spark.operators import dedup_substrings

    rows = [(1, "x a b c"), (2, "a b c z"), (3, "a b c z")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["text_clean"]
           for r in dedup_substrings(df, window_tokens=3,
                                     min_count=2,
                                     keep="first").collect()}
    # 'a b c' winner is doc 1 (kept whole); 'b c z' winner is doc 2 —
    # its window shields b,c,z, only the non-winner-covered 'a' is cut
    assert out[1] == "x a b c"
    assert out[2] == "b c z"
    assert out[3] == ""
    # every flagged span retains at least one copy
    assert "a b c" in out[1] and "b c z" in out[2]


def test_plan_mixture_null_total_is_infeasible(spark):
    """A target stratum whose every text is NULL must make the whole
    plan infeasible (fraction NULL for every returned stratum), not a
    half-valid plan."""
    from embulk_filter_column_spark.operators import (
        mixture_fractions,
        plan_mixture,
    )

    rows = [(1, "a", "w x y z"), (2, "b", None), (3, "b", None)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    plan = plan_mixture(df, "source", {"a": 0.5, "b": 0.5}).collect()
    assert all(r["fraction"] is None for r in plan)
    with pytest.raises(ValueError):
        mixture_fractions(df, "source", {"a": 0.5, "b": 0.5})


def test_filter_urls_block_and_allow(spark):
    from embulk_filter_column_spark.operators import filter_urls

    rows = [(1, "https://a.com/article/readable"),
            (2, "https://a.com/calendar?year=1999&month=2"),
            (3, "https://spam.biz/casino/jackpot"),
            (4, None)]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    blocked = filter_urls(df, [r"/calendar\?", r"casino"])
    # NULL urls match no pattern -> kept under block (explicit policy)
    assert sorted(r["doc_id"] for r in blocked.collect()) == [1, 4]
    allowed = filter_urls(df, [r"/article/"], mode="allow")
    assert [r["doc_id"] for r in allowed.collect()] == [1]
    with pytest.raises(ValueError):
        filter_urls(df, [])
    with pytest.raises(ValueError):
        filter_urls(df, ["x"], mode="bogus")
