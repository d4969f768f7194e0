"""Similarity search over embedding columns (array<float>).

  cosine_topk_native  — exact brute force as pure Catalyst higher-order
                        functions (zip_with/aggregate dot product) +
                        window re-rank. Oracle-matchable in SQL.
  cosine_topk_fast    — the shared exact top-k of `topk.py` under the
                        cosine score `_cosine_score`, corpus broadcast
                        as one numpy matrix; the scale path.
  cosine_topk_blocked — the same kernel hash-blocked in a cogroup, for
                        corpora too large to broadcast.
  ivf_topk            — IVF (inverted-file) ANN: corpus assigned to
                        nearest of C centroids (k-means on a driver
                        sample); queries probe the top-`nprobe`
                        centroids and search only those lists. Recall
                        measured vs brute force in tests.

All variants break ties by ascending corpus id → deterministic output.
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from . import topk as T


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _drop_null_vectors(queries, corpus, q_vec, c_vec):
    """Family-uniform null-vector semantics (one place, every path):
    a null embedding has no cosine against anything, so such rows can
    never appear in the output — drop them at the boundary. Without
    this, `cosine_topk_native` emitted null-cosine rank rows while the
    numpy paths crashed on np.vstack."""
    return (
        queries.filter(F.col(q_vec).isNotNull()),
        corpus.filter(F.col(c_vec).isNotNull()),
    )


def cosine_topk_native(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbors, broadcast nested loop, JVM expressions.

    Null-vector rows are dropped on both sides (uniform across the
    whole family — fast/blocked/ivf route through the same
    `_drop_null_vectors` boundary)."""
    queries, corpus = _drop_null_vectors(queries, corpus, q_vec, c_vec)
    q = queries.select(F.col(q_id).alias("qid"), _as_double(q_vec).alias("qv"))
    c = F.broadcast(corpus.select(F.col(c_id).alias("cid"), _as_double(c_vec).alias("cv")))
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nq = F.sqrt(F.aggregate(F.zip_with("qv", "qv", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x))
    nc = F.sqrt(F.aggregate(F.zip_with("cv", "cv", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x))
    d = q.crossJoin(c)
    if exclude_self:
        d = d.filter(F.col("qid") != F.col("cid"))
    d = d.withColumn("cosine", F.round(dot / (nq * nc), 6))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias(q_id), F.col("cid").alias("neighbor_id"), "cosine", "rank")
    )


def _unit_rows(X: np.ndarray) -> np.ndarray:
    X = X.astype(np.float64)
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)


def _cosine_build(cpdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Corpus rows (_ek, _ev) → ids ascending and unit rows in that
    order; the sorted ids let the self mask use `searchsorted`."""
    ids = cpdf["_ek"].to_numpy()
    order = np.argsort(ids, kind="stable")
    return ids[order], _unit_rows(np.vstack(cpdf["_ev"].to_numpy())[order])


def _cosine_score(qpdf: pd.DataFrame, corpus: tuple, exclude_self: bool) -> tuple:
    """The cosine score for `topk.topk_block`, as (score, cost, margin).

    Scores are rounded to 6 dp before ranking, so the (cosine desc,
    id asc) order is the one `cosine_topk_native` and the SQL oracle
    produce. Selection and cost are the same float64 numbers, so the
    margin is 0. With `exclude_self`, a query's own corpus row scores
    -inf and is never returned."""
    ids, Mn = corpus
    qids = qpdf["_qk"].to_numpy()
    Qn = _unit_rows(np.vstack(qpdf["_qv"].to_numpy()))

    def score(lo: int, hi: int) -> np.ndarray:
        S = np.round(Qn[lo:hi] @ Mn.T, 6)
        if exclude_self:
            q = qids[lo:hi]
            pos = np.minimum(np.searchsorted(ids, q), len(ids) - 1)
            hit = np.flatnonzero(ids[pos] == q)
            S[hit, pos[hit]] = -np.inf
        return S

    def cost(S, lo: int, rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
        return -S[rows[:, None], cols]

    return score, cost, 0.0


def _exact_topk(wrapper, queries, corpus, k, q_id, q_vec, c_id, c_vec, exclude_self, **kw):
    """Null drop, projection and one call into `topk`'s `wrapper`."""
    queries, corpus = _drop_null_vectors(queries, corpus, q_vec, c_vec)
    out = wrapper(
        queries.select(F.col(q_id).alias("_qk"), F.col(q_vec).alias("_qv")),
        corpus.select(F.col(c_id).alias("_ek"), F.col(c_vec).alias("_ev")),
        k, T.Metric(_cosine_build, partial(_cosine_score, exclude_self=exclude_self),
                    "cosine", descending=True),
        **kw,
    )
    return out.select(
        F.col("_qk").alias(q_id), F.col("_ek").alias("neighbor_id"), "cosine", "rank"
    )


def cosine_topk_fast(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    exclude_self: bool = True,
    max_inline_corpus: int = 2_000_000,
    max_inline_bytes: int = 512 * 2**20,
) -> DataFrame:
    """Exact top-k with the corpus as a broadcast numpy matrix, via
    `topk.broadcast_topk`: the fact side streams, nothing shuffles.

    The inline budget is BYTES as well as rows: the driver cost of a
    corpus matrix is rows × dim × 8 B, so a row cap alone is
    dimension-blind (2M rows of 128-d float64 ≈ 2 GB, nothing like
    knn's ~50 MB at the same row count). The bounded probe reads the
    widest vector in the rows it counts, and the row budget is
    min(max_inline_corpus, max_inline_bytes // (dim × 8)). Over budget
    the corpus takes the blocked cogroup plan with NO driver collect
    and NO full-corpus broadcast — same output, same tie-breaks."""
    return _exact_topk(
        T.broadcast_topk, queries, corpus, k, q_id, q_vec, c_id, c_vec, exclude_self,
        slot="ann_corpus_matrix",
        max_rows=max_inline_corpus,
        # clamp the width at 1: an all-empty-array corpus reads size 0
        row_bytes=F.greatest(F.size("_ev"), F.lit(1)) * 8,
        max_bytes=max_inline_bytes,
    )


def cosine_topk_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    exclude_self: bool = True,
    block_rows: int = 65536,
) -> DataFrame:
    """Exact top-k for corpora too large to broadcast or collect: the
    block nested loop of `topk.blocked_topk`, `block_rows` rows per hash
    block. Nothing is collected to the driver; the sublinear path is
    `ivf_topk`. Same rounding and tie-breaks (cosine desc, id asc) as
    `cosine_topk_fast` and `cosine_topk_native`."""
    return _exact_topk(
        T.blocked_topk, queries, corpus, k, q_id, q_vec, c_id, c_vec, exclude_self,
        block_rows=block_rows,
    )


def kmeans_centroids(
    corpus: DataFrame, n_centroids: int, vec_col: str = "embedding",
    sample: int = 4096, iters: int = 8, seed: int = 7,
    order_col: str | None = None,
) -> np.ndarray:
    """Lloyd's k-means on a driver-side sample (numpy). Centroid count
    ~ sqrt(corpus) is the usual IVF sizing. With `order_col` the sample
    is the TakeOrdered head (deterministic across runs/partitionings, so
    the whole IVF output is golden-pinnable); without it, `limit` takes
    whatever rows arrive first — cheaper, order-dependent.

    Driver cost budget: the pull is `sample` rows (sample × dim × 8 B —
    4096 × 128-d ≈ 4 MB) and each Lloyd iteration materializes an
    O(sample × n_centroids × dim) broadcasted difference tensor
    (4096 × 16 × 128 ≈ 64 MB transient at the defaults). Both scale
    linearly in the caller's `sample`/`n_centroids` arguments, NOT in
    corpus size — raising them far above the defaults (e.g. sample 1M)
    moves the work to the driver and needs the pairwise loop rewritten
    as chunked ||x||²+||c||²-2xCᵀ; at IVF's sizing (sample ≈ 256 ×
    sqrt(n) centroids, centroids ≤ ~4k) the budget holds."""
    base = corpus.orderBy(order_col) if order_col else corpus
    pdf = base.select(vec_col).limit(sample).toPandas()
    if len(pdf) == 0:
        # empty corpus: no centroids (np.vstack needs ≥1 array);
        # callers check len() == 0 and short-circuit
        return np.zeros((0, 0))
    X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(C)):
            m = assign == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """IVF ANN: shuffle the corpus once on its centroid list id, then
    probe `nprobe` lists per query via an equi-join on list id — the
    cross join never materializes. Approximate (recall < 1 when the
    true neighbor lives in an unprobed list)."""
    queries, corpus = _drop_null_vectors(queries, corpus, q_vec, c_vec)
    spark = queries.sparkSession
    C = kmeans_centroids(corpus, n_centroids, c_vec, order_col=c_id)
    if len(C) == 0:
        # corpus empty after the null drop — no lists exist; return the
        # empty result the exact twins produce (kmeans' sample pull is
        # the existence probe, no extra job)
        return spark.createDataFrame(
            [], f"{q_id} long, neighbor_id long, cosine double, rank int"
        )
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def assign_lists(nprobe_n: int, id_name: str, vec_name: str):
        out_schema = f"{id_name} long, list_id int, vec array<double>"

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.vstack(pdf[vec_name].to_numpy()).astype(np.float64)
                Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
                S = Xn @ Cn.T
                # top-nprobe lists form a set (dedup downstream) — an
                # O(C) argpartition suffices, no full sort of centroids
                nn = min(nprobe_n, S.shape[1])
                top = np.argpartition(-S, nn - 1, axis=1)[:, :nn]
                ids = pdf[id_name].to_numpy()
                # flat replication, no per-row Python loop: each input
                # row emits its nn probed lists with the same vec handle
                yield pd.DataFrame(
                    {
                        id_name: np.repeat(ids, nn),
                        "list_id": top.astype(np.int32).ravel(),
                        "vec": list(Xn[np.repeat(np.arange(len(ids)), nn)]),
                    }
                )

        return gen, out_schema

    cg, _ = assign_lists(1, "cid", c_vec)
    corpus_lists = corpus.select(F.col(c_id).alias("cid"), c_vec).mapInPandas(
        cg, "cid long, list_id int, vec array<double>"
    )
    qg, _ = assign_lists(nprobe, "qid", q_vec)
    query_lists = queries.select(F.col(q_id).alias("qid"), q_vec).mapInPandas(
        qg, "qid long, list_id int, vec array<double>"
    )

    # per-list scoring as a cogroup: each probed list meets its corpus
    # list in ONE applyInPandas task that scores every (query, corpus)
    # pair in that list. Replaces the equi-join + per-row higher-order
    # fold (measured ~0.9 s of interpreted lambda evaluation at sf1.0)
    # AND the 128-doubles-per-pair join output: vectors cross Arrow
    # once per side, the task emits only (qid, cid, dot). The dot is
    # accumulated COLUMN BY COLUMN (acc += q_i·c_i, i ascending), which
    # replays the zip_with/aggregate left fold's exact double-rounding
    # sequence — emitted values are bit-identical to the HOF path, and
    # the final rounding stays in Spark (same F.round as before).
    def score_list(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"qid": [], "cid": [], "dot": []})
        Q = np.vstack(left["vec"].to_numpy())
        Cm = np.vstack(right["vec"].to_numpy())
        acc = np.zeros((len(Q), len(Cm)))
        for i in range(Q.shape[1]):
            acc += Q[:, i, None] * Cm[None, :, i]
        qids = left["qid"].to_numpy()
        cids = right["cid"].to_numpy()
        keep = qids[:, None] != cids[None, :]
        qi, ci = np.nonzero(keep)
        return pd.DataFrame({"qid": qids[qi], "cid": cids[ci], "dot": acc[qi, ci]})

    j = (
        query_lists.groupBy("list_id")
        .cogroup(corpus_lists.groupBy("list_id"))
        .applyInPandas(score_list, "qid long, cid long, dot double")
        .withColumn("cosine", F.round(F.col("dot"), 6))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        j.select("qid", "cid", "cosine")
        .dropDuplicates(["qid", "cid"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias(q_id), F.col("cid").alias("neighbor_id"), "cosine", "rank")
    )
