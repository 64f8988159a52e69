"""Approximate-nearest-neighbor similarity search over embedding columns.

* brute_force_topk — exact cosine top-k; the baseline/oracle. One pass,
  native HOF cosine, orderBy+limit (Spark executes as TakeOrdered — no
  full sort materialization).
* lsh_topk — hyperplane-LSH bucketed search: candidates share the query's
  bucket (multi-probe: buckets within Hamming distance ``probe_bits``),
  exact rerank inside the candidate set.
* write_bucketed_embeddings / lsh_topk_bucketed — the 10^10-row layout:
  the table is written ``partitionBy("bucket")`` on the LSH key, so a
  probe query's ``bucket IN (...)`` filter is a partition-directory
  prune — the scan reads only the probed buckets' files, not the table.
* IVF (train_ivf_centroids / ivf_assign / ivf_topk) — the
  inverted-file alternative to hyperplane LSH: k-means centroids trained
  on a deterministic sample (driver numpy, the same train-on-sample
  recipe Faiss uses), cells assigned with one Arrow-batch matmul, probe
  queries scan only the ``nprobe`` nearest cells.
* knn_join / ivf_knn_join — many queries answered by ONE batch top-k
  kernel (``_batch_topk``): the collected query matrix is split into
  cell → query groups, the scan is restricted to the probed cells, and
  one ``mapInPandas`` keeps a per-partition top-k per query before a
  window trim. Exact kNN is that kernel over a single cell that every
  query probes; IVF probes each query's ``nprobe`` nearest cells.

Every single-query search ends in the same exact rerank (``_rerank``):
rounded cosine desc, id asc, top-``k``.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, hyperplane_bucket


def _rerank(df: DataFrame, query_vec, k: int, vec_col: str,
            id_col: str) -> DataFrame:
    """Exact cosine top-``k`` of ``df``'s rows against one query under
    the total order every search shares: (cosine rounded to 6 places
    desc, id asc). Native HOF cosine; orderBy+limit runs as
    TakeOrdered."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (df.select(
                F.col(id_col),
                F.round(cosine_similarity(F.col(vec_col), q), 6)
                 .alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(k))


def brute_force_topk(df: DataFrame, query_vec, k: int = 10,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    return _rerank(df, query_vec, k, vec_col, id_col)


def _bucket_int(vec, dim: int, n_planes: int, seed: int) -> int:
    """Driver-side bucket of a single query vector (mirrors
    functions.vectors.hyperplane_bucket exactly)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, dim)).astype(float)
    v = np.asarray(list(vec), dtype=float)
    bits = (planes @ v) >= 0
    return int(sum(int(b) << i for i, b in enumerate(bits)))


def _probe_buckets(query_vec, dim: int, n_planes: int, probe_bits: int,
                   seed: int) -> list:
    qb = _bucket_int(query_vec, dim, n_planes, seed)
    probes = {qb}
    if probe_bits >= 1:
        probes |= {qb ^ (1 << i) for i in range(n_planes)}
    if probe_bits >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                probes.add(qb ^ (1 << i) ^ (1 << j))
    return sorted(probes)


def write_bucketed_embeddings(df: DataFrame, path: str,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id", dim: int = 64,
                              n_planes: int = 12, seed: int = 42) -> None:
    """Materialize the ANN index layout: the embedding table partitioned
    by its hyperplane-LSH bucket. With 2^n_planes partition directories,
    a multi-probe query touches O(n_planes) of them — at 10^10 rows the
    probe scan is ~n_planes/2^n_planes of the table (plan-time partition
    pruning, see lsh_topk_bucketed)."""
    (df.withColumn("bucket",
                   hyperplane_bucket(vec_col, dim, n_planes, seed))
       .repartition("bucket")
       .write.mode("overwrite").partitionBy("bucket").parquet(path))


def lsh_topk_bucketed(spark, path: str, query_vec, k: int = 10,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      dim: int = 64, n_planes: int = 12,
                      probe_bits: int = 1, seed: int = 42) -> DataFrame:
    """ANN top-k over a bucket-partitioned table written by
    ``write_bucketed_embeddings``: the ``bucket IN (probes)`` predicate is
    a partition filter, so the file index lists and reads ONLY the probed
    bucket directories (verified via inputFiles in tests + EXPLAIN.md) —
    no signature recomputation, no full scan."""
    probes = _probe_buckets(query_vec, dim, n_planes, probe_bits, seed)
    return _rerank(spark.read.parquet(path).where(
                       F.col("bucket").isin(probes)),
                   query_vec, k, vec_col, id_col)


def lsh_topk(df: DataFrame, query_vec, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             dim: int = 64, n_planes: int = 12, probe_bits: int = 1,
             seed: int = 42) -> DataFrame:
    """ANN top-k: restrict to LSH buckets within ``probe_bits`` bit flips
    of the query's bucket, then exact cosine rerank."""
    probes = _probe_buckets(query_vec, dim, n_planes, probe_bits, seed)
    bucket = hyperplane_bucket(vec_col, dim, n_planes, seed)
    return _rerank(df.withColumn("_bucket", bucket)
                   .where(F.col("_bucket").isin(*probes)),
                   query_vec, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# IVF (inverted file) ANN


def train_ivf_centroids(df: DataFrame, n_centroids: int = 16,
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        sample: int = 10_000, iters: int = 5,
                        seed: int = 42):
    """K-means centroids over a deterministic sample (lowest ids), unit-
    normalized so nearest-centroid-by-dot == nearest-by-cosine. Training
    runs driver-side on the bounded sample (the standard IVF recipe —
    Faiss trains on samples too); assignment and search stay distributed.
    Returns an (n_centroids, dim) numpy array of unit vectors."""
    import numpy as np

    rows = (df.select(id_col, vec_col).orderBy(id_col)
            .limit(sample).collect())
    mat = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    centroids = mat[rng.choice(len(mat), size=min(n_centroids, len(mat)),
                               replace=False)]
    for _ in range(iters):
        assign = (mat @ centroids.T).argmax(axis=1)
        for c in range(len(centroids)):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids = centroids / np.linalg.norm(centroids, axis=1,
                                               keepdims=True)
    return centroids


def ivf_assign(df: DataFrame, centroids, vec_col: str = "embedding"):
    """Append ``cell`` — the nearest centroid id (max cosine). One numpy
    matmul per Arrow batch; null/ragged vectors get a NULL cell."""
    import numpy as np
    import pandas as pd

    cts = np.asarray(centroids, dtype=np.float64)
    dim = cts.shape[1]

    def _cell(s):
        if len(s) == 0:
            return pd.Series([], dtype="Int64")
        valid = s.map(lambda v: v is not None and len(v) == dim)
        out = pd.Series([pd.NA] * len(s), index=s.index, dtype="Int64")
        if valid.any():
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in s[valid]])
            mat = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            out[valid] = (mat @ cts.T).argmax(axis=1)
        return out

    return df.withColumn("cell", F.pandas_udf(_cell, "long")(vec_col))


def _ivf_cells(qm, centroids, nprobe: int):
    """The ``nprobe`` cell ids nearest each row of the unit query matrix
    ``qm`` (by dot product over unit centroids == cosine), as an
    (n, nprobe) array. Ties break to the LOWEST cell id (stable argsort
    of the negated sims), so a query exactly equidistant from two
    centroids probes identical cells in the single-query
    (``_ivf_probes``) and batch (``ivf_knn_join``) searches."""
    import numpy as np

    cts = np.asarray(centroids, dtype=np.float64)
    return np.argsort(-(qm @ cts.T), axis=1, kind="stable")[:, :nprobe]


def _ivf_probes(query_vec, centroids, nprobe: int) -> list:
    """The ``nprobe`` cell ids nearest one query (``_ivf_cells``)."""
    import numpy as np

    q = np.asarray(list(query_vec), dtype=np.float64)
    q = q / max(float(np.linalg.norm(q)), 1e-12)
    return [int(i) for i in _ivf_cells(q[None, :], centroids, nprobe)[0]]


def ivf_topk(df: DataFrame, query_vec, centroids, k: int = 10,
             nprobe: int = 2, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """IVF search over an UNINDEXED frame: assign cells on the fly (a
    pandas-UDF matmul over the whole input), restrict to the ``nprobe``
    cells nearest the query, exact cosine rerank inside them. Use this
    for one-off queries over an ad-hoc frame; at 10^10 rows the per-query
    full-scan assignment is the wrong shape — materialize the index ONCE
    with ``write_ivf_table`` and search with ``ivf_topk_bucketed``, whose
    probe filter is a partition-directory prune."""
    probes = _ivf_probes(query_vec, centroids, nprobe)
    return _rerank(ivf_assign(df, centroids, vec_col)
                   .where(F.col("cell").isin(probes)),
                   query_vec, k, vec_col, id_col)


def _warn_if_chunked(op: str, n_queries: int, rows_per_chunk: int) -> None:
    """Each query chunk costs one (pruned) corpus scan — silent
    multi-chunking turns a 10^10-row job into N of them (ADVICE r4);
    surface the multiplier so callers can raise ``chunk_bytes`` or
    shrink the query side deliberately."""
    import math
    import warnings

    n_chunks = math.ceil(n_queries / rows_per_chunk)
    if n_chunks > 1:
        warnings.warn(
            "%s: query matrix spans %d chunks — the corpus will be "
            "scanned %d times (one per chunk); raise chunk_bytes or "
            "reduce the query side if the corpus scan is expensive"
            % (op, n_chunks, n_chunks), stacklevel=4)


def _rank_order(ids, cos, k: int):
    """Top-``k`` indices under the total order (-cosine, id), id-type
    agnostic: two stable argsorts (id ascending, then cosine
    descending) rank string ids the same way as int ids —
    ``np.lexsort`` is not defined for object arrays."""
    import numpy as np

    order = np.argsort(ids, kind="stable")
    order = order[np.argsort(-cos[order], kind="stable")]
    return order[:k]


def _query_matrix(op: str, queries: DataFrame, query_id_col: str,
                  query_vec_col: str, max_queries: int,
                  max_query_bytes: int):
    """Collect the query side — the SMALL side by definition — as
    (ids, unit-normalized (n, dim) float64 matrix), bounded in rows
    (``max_queries``) and in bytes (``max_query_bytes`` over rows × dim
    × 8: 100k rows at dim 4096 is 3 GB closed over into every task).
    The query side is caller input, so NULL, empty or ragged query
    vectors raise ``ValueError`` naming their query ids."""
    import collections

    import numpy as np

    q_rows = (queries.select(query_id_col, query_vec_col)
              .limit(max_queries + 1).collect())
    if len(q_rows) > max_queries:
        raise ValueError(
            "%s collected more than max_queries=%d query vectors — "
            "queries must be the small side: swap the sides, batch the "
            "query side or raise the bound" % (op, max_queries))
    dims = collections.Counter(len(r[1]) for r in q_rows if r[1])
    dim = dims.most_common(1)[0][0] if dims else 0
    bad = [r[0] for r in q_rows if not r[1] or len(r[1]) != dim]
    if bad:
        raise ValueError(
            "%s: NULL or ragged query vectors for %d query ids %s — "
            "every query needs a non-NULL vector of one dimension"
            % (op, len(bad), bad[:10]))
    total_bytes = len(q_rows) * dim * 8
    if total_bytes > max_query_bytes:
        raise ValueError(
            "%s query matrix is %d bytes (rows × dim × 8) > "
            "max_query_bytes=%d — swap the sides or raise the bound"
            % (op, total_bytes, max_query_bytes))
    qm = np.array([r[1] for r in q_rows],
                  dtype=np.float64).reshape(len(q_rows), dim)
    qm = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    return np.array([r[0] for r in q_rows]), qm


def _batch_topk(op: str, src: DataFrame, queries: DataFrame, probe_cells,
                k: int, vec_col: str, id_col: str, query_id_col: str,
                query_vec_col: str, max_queries: int, max_query_bytes: int,
                chunk_bytes: int) -> DataFrame:
    """The one batch top-k kernel behind ``knn_join`` and
    ``ivf_knn_join``. ``src`` holds (id, vector, ``cell``) rows;
    ``probe_cells(qm)`` maps the unit query matrix to each query's
    probed cell ids, an (n_queries, n_probes) array.

    1. ``_query_matrix`` collects and bounds the query side;
    2. the matrix is cut into chunks of ≤ ``chunk_bytes`` (each costs
       one corpus scan); per chunk, cell → [query indices] is the
       closure and the scan reads only ``cell IN (probed cells)`` — a
       plan-time partition prune on a partitionBy("cell") layout;
    3. one ``mapInPandas`` pass (``_topk_partial_fn``) keeps a
       per-partition top-k per query, so the shuffle carries at most
       partitions × n_queries × k candidate rows — never the corpus;
    4. the chunks' partials are unioned and a window (row_number per
       query) trims them to the global top-k.

    Ranking uses one total order everywhere — (rounded cosine desc, id
    asc) — which makes the per-partition trim exact and the output
    reproducible against a SQL oracle. Ids (query and corpus) are
    carried opaquely with their input types; an empty query side
    returns an empty frame of that schema."""
    import numpy as np
    from pyspark.sql import Window

    qids, qm = _query_matrix(op, queries, query_id_col, query_vec_col,
                             max_queries, max_query_bytes)
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    id_type = src.schema[id_col].dataType.simpleString()
    out_schema = (f"{query_id_col} {qid_type}, {id_col} {id_type}, "
                  "cosine double")
    if not len(qids):
        return src.sparkSession.createDataFrame([], out_schema)
    dim = qm.shape[1]
    probes = probe_cells(qm)
    rows_per_chunk = max(chunk_bytes // (dim * 8), 1)
    _warn_if_chunked(op, len(qids), rows_per_chunk)

    partials = []
    for start in range(0, len(qids), rows_per_chunk):
        chunk = slice(start, start + rows_per_chunk)
        cell2q: dict = {}
        for j, cells in enumerate(probes[chunk]):
            for c in cells:
                cell2q.setdefault(int(c), []).append(j)
        cell2q = {c: np.asarray(js, dtype=np.int64)
                  for c, js in cell2q.items()}
        partials.append(
            src.where(F.col("cell").isin(sorted(cell2q)))
            .mapInPandas(_topk_partial_fn(qids[chunk], qm[chunk], cell2q,
                                          dim, k, vec_col, id_col,
                                          query_id_col), out_schema))
    w = (Window.partitionBy(query_id_col)
         .orderBy(F.desc("cosine"), F.asc(id_col)))
    return (functools.reduce(DataFrame.unionByName, partials)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))


def _topk_partial_fn(qids, qm, cell2q: dict, dim: int, k: int,
                     vec_col: str, id_col: str, query_id_col: str):
    """Per-partition partial top-k over ONE query chunk: each Arrow
    batch is grouped by cell and scored only against the queries
    probing that cell (a partitionBy("cell") layout delivers
    single-cell partitions, so the groupby is a no-op there — but
    correctness doesn't depend on it). Null / wrong-dimension corpus
    vectors are skipped."""
    import numpy as np
    import pandas as pd

    nq = len(qids)

    def _partial(batches):
        # per-query top-k pool, re-trimmed after every cell group under
        # the FINAL total order (-cosine, id) — stays ≤ k rows per query
        pool_ids: list = [None] * nq
        pool_cos: list = [None] * nq
        for pdf in batches:
            for cell, grp in pdf.groupby("cell", sort=False):
                qidx = cell2q.get(int(cell))
                if qidx is None:
                    continue
                vecs = grp[vec_col]
                valid = vecs.map(
                    lambda v: v is not None and len(v) == dim
                ).to_numpy()
                if not valid.any():
                    continue
                ids = grp[id_col].to_numpy()[valid]
                mat = np.array([np.asarray(v, dtype=np.float64)
                                for v in vecs[valid]])
                mat = mat / np.maximum(
                    np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
                sims = np.round(mat @ qm[qidx].T, 6)   # (rows, |qidx|)
                take = min(k, sims.shape[0])
                # k-th largest cosine per query; the candidate set is
                # EXTENDED TO ALL ROWS TIED with it — argpartition alone
                # keeps ties by array position, which could drop the
                # smaller-id row the final (cosine desc, id asc) order
                # demands (rounding to 6 decimals makes exact ties
                # common in near-dup corpora)
                kth = -np.partition(-sims, take - 1, axis=0)[take - 1]
                for col, j in enumerate(qidx):
                    idx = np.flatnonzero(sims[:, col] >= kth[col])
                    bi, bc = ids[idx], sims[idx, col]
                    if pool_ids[j] is not None:
                        bi = np.concatenate([pool_ids[j], bi])
                        bc = np.concatenate([pool_cos[j], bc])
                    order = _rank_order(bi, bc, k)
                    pool_ids[j] = bi[order]
                    pool_cos[j] = bc[order]
        rows_q, rows_i, rows_c = [], [], []
        for j in range(nq):
            if pool_ids[j] is None:
                continue
            rows_q.append(np.full(len(pool_ids[j]), qids[j]))
            rows_i.append(pool_ids[j])
            rows_c.append(pool_cos[j])
        if not rows_q:
            return
        yield pd.DataFrame({
            query_id_col: np.concatenate(rows_q),
            id_col: np.concatenate(rows_i),
            "cosine": np.concatenate(rows_c)})

    return _partial


def knn_join(corpus: DataFrame, queries: DataFrame, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             query_id_col: str = "query_id",
             query_vec_col: str = "embedding",
             max_queries: int = 100_000,
             max_query_bytes: int = 512 << 20,
             chunk_bytes: int = 64 << 20) -> DataFrame:
    """EXACT batch top-k: for every query vector, its cosine top-``k``
    over the corpus — the many-queries twin of ``brute_force_topk``
    (embedding retrieval / hard-negative mining run thousands of
    queries, and one scan per query is the wrong shape).

    The batch kernel (``_batch_topk``) over ONE cell that every query
    probes: one corpus scan per query chunk, a (batch × queries) numpy
    matmul per Arrow batch. The collected query matrix is bounded in
    rows and BYTES (``max_queries``, ``max_query_bytes`` — VERDICT r3);
    matrices above ``chunk_bytes`` run as sequential chunks, one corpus
    scan each. Null / wrong-dimension corpus vectors are skipped; NULL
    or ragged query vectors raise ``ValueError``. Ids (query and
    corpus) are carried OPAQUELY with their input types — string doc
    ids rank and return exactly like int ids."""
    import numpy as np

    return _batch_topk(
        "knn_join", corpus.select(id_col, vec_col, F.lit(0).alias("cell")),
        queries, lambda qm: np.zeros((len(qm), 1), dtype=np.int64),
        k, vec_col, id_col, query_id_col, query_vec_col, max_queries,
        max_query_bytes, chunk_bytes)


def topk_recall(approx: DataFrame, exact: DataFrame,
                query_id_col: str = "query_id",
                id_col: str = "vec_id") -> DataFrame:
    """Per-query recall of an approximate top-k result against the
    exact one: ``|approx ∩ exact| / |exact|`` over retrieved ids — the
    metric that decides an ANN index's ``nprobe``/``probe_bits``
    setting before a 10^10-row rollout (measure on a query sample with
    ``knn_join`` as the exact side, pick the cheapest config above the
    recall target). Queries present only in ``exact`` score 0.0; both
    inputs are (query, id) frames of size queries × k, so every join
    here is small regardless of corpus size."""
    ex = exact.select(F.col(query_id_col), F.col(id_col))
    ap = approx.select(F.col(query_id_col), F.col(id_col))
    hits = (ex.join(ap, [query_id_col, id_col], "left_semi")
            .groupBy(query_id_col)
            .agg(F.count(F.lit(1)).alias("_hit")))
    totals = (ex.groupBy(query_id_col)
              .agg(F.count(F.lit(1)).alias("_n")))
    return (totals.join(hits, query_id_col, "left")
            .select(query_id_col,
                    F.round(F.coalesce(F.col("_hit"), F.lit(0))
                            / F.col("_n"), 6).alias("recall")))


def write_ivf_table(df: DataFrame, path: str, centroids,
                    vec_col: str = "embedding") -> None:
    """Materialize the IVF index layout: the table with its ``cell``
    assignment computed ONCE, written ``partitionBy("cell")``. This is
    the amortization step ivf_topk can't do per query — the Arrow-batch
    matmul runs exactly once over the corpus, and every subsequent
    ``ivf_topk_bucketed`` search reads only its probed cell directories
    (nprobe/n_centroids of the table) via plan-time partition pruning.
    Rows with NULL cells (null/ragged vectors) are excluded — they can
    never be probed."""
    assigned = ivf_assign(df, centroids, vec_col)
    # one write task per cell (cells = len(centroids), known here):
    # repartition("cell") alone would spread the write over
    # spark.sql.shuffle.partitions mostly-empty tasks
    (assigned.where(F.col("cell").isNotNull())
     .repartition(len(centroids), "cell")
     .write.mode("overwrite").partitionBy("cell").parquet(path))


def ivf_knn_join(spark, path: str, queries: DataFrame, centroids,
                 k: int = 10, nprobe: int = 2,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 query_id_col: str = "query_id",
                 query_vec_col: str = "embedding",
                 max_queries: int = 100_000,
                 max_query_bytes: int = 512 << 20,
                 chunk_bytes: int = 64 << 20) -> DataFrame:
    """ANN-accelerated batch top-k over a ``write_ivf_table`` layout —
    the retrieval shape ``knn_join`` can't reach (VERDICT r3 item 2):
    exact kNN scans the full corpus once per query BATCH, which is
    right for hard-negative mining but wrong for 10^6 queries against
    10^10 rows. Here the batch kernel (``_batch_topk``) probes each
    query's ``nprobe`` nearest cells in one driver matmul
    (``_ivf_cells``), the scan reads ONLY the union of probed cell
    directories (a plan-time partition prune — nprobe/n_centroids of
    the table), and each Arrow batch is scored only against the
    queries probing its cell.

    Recall follows IVF semantics (a true neighbor outside every probed
    cell is missed — raise ``nprobe`` to trade scan for recall); inside
    the probed cells the ranking is exact under the shared total order
    (rounded cosine desc, id asc), so ``nprobe=len(centroids)`` returns
    ``knn_join``'s rows. Query bounds, chunking, NULL handling and
    opaque ids are ``knn_join``'s."""
    return _batch_topk(
        "ivf_knn_join",
        spark.read.parquet(path).select(id_col, vec_col, "cell"),
        queries, lambda qm: _ivf_cells(qm, centroids, nprobe),
        k, vec_col, id_col, query_id_col, query_vec_col, max_queries,
        max_query_bytes, chunk_bytes)


def ivf_topk_bucketed(spark, path: str, query_vec, centroids,
                      k: int = 10, nprobe: int = 2,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """IVF search over a cell-partitioned table written by
    ``write_ivf_table``: ``cell IN (probes)`` is a partition filter, so
    the scan lists and reads ONLY the probed cell directories — no
    per-query assignment pass, no Python in the plan (the rerank is the
    native HOF cosine). Mirrors lsh_topk_bucketed."""
    probes = _ivf_probes(query_vec, centroids, nprobe)
    return _rerank(spark.read.parquet(path).where(
                       F.col("cell").isin(probes)),
                   query_vec, k, vec_col, id_col)
