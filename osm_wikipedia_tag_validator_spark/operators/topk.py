"""Exact top-k, shared by kNN (`knn.py`) and cosine search (`ann.py`).

Block-partitioned exact top-k, merged first per block and then
globally ("Distributed Similarity Joins over Top-K Rankings", EDBT
2020; "Distributed Stream KNN Join", SIGMOD 2021):

  * `topk_block` — the selection kernel: exact top-k of a query block
    against an entity block, given the caller's score.
  * `broadcast_topk` — the entity side as one broadcast matrix, the
    kernel run map-side per Arrow batch of queries; zero shuffle.
  * `blocked_topk` — the kernel per (query block, entity block) pair of
    a cogroup, merged by a window; for sides too large to broadcast.

One tie rule everywhere: best score first, then smaller entity key.
Query rows carry their key as ``_qk``, entity rows as ``_ek``; a caller
describes its score once, as a `Metric`, and both wrappers use it.
"""

from __future__ import annotations

from typing import Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..session import tracked_broadcast

#: candidates selected per query row beyond k: the certificate proves
#: the exact top-k is among them unless more than this many entities
#: sit within the margin of the k-th score.
_SEL_PAD = 8

#: score-matrix cells per chunk of query rows: bounds task memory at
#: about budget × 8 B ≈ 32 MB whatever the entity side's width.
_CELLS_BUDGET = 4 << 20

#: rows per hash block when the entity side overflows the inline budget.
_BLOCK_ROWS = 65536


def topk_block(
    nq: int,
    keys: np.ndarray,
    k: int,
    score: Callable[[int, int], np.ndarray],
    cost: Callable[[np.ndarray, int, np.ndarray, np.ndarray], np.ndarray],
    margin: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Exact top-k of `nq` query rows against the entities `keys`.

    ``score(lo, hi)`` gives the (hi - lo, len(keys)) selection scores of
    query rows lo..hi-1: higher is better, -inf excludes the pair.
    ``cost(S, lo, rows, cols)`` gives the exact ranking cost, lower is
    better, of rows `rows` of that chunk's score matrix `S` against the
    entity indices `cols` (one row of `cols` per row, or one row for
    all); +inf excludes the pair. `margin` bounds how far the selection
    score can misorder two entities relative to the cost.

    Per row, the k + _SEL_PAD best scores are selected, and the row is
    certified when its k-th best score beats the best unselected one by
    more than `margin`: then the exact top-k is inside the selection. A
    row that fails (more near-ties at the boundary than the pad covers)
    is selected again from the exact costs of the whole block, in key
    order. The candidates are ranked by (cost, key) with two stable
    sorts. Query rows are processed in chunks of _CELLS_BUDGET cells.

    Returns flat (query row, entity index, cost, rank) arrays with at
    most min(k, len(keys)) rows per query and ranks from 1. Excluded
    pairs are never returned.
    """
    ne = len(keys)
    kk, kp = min(k, ne), min(k + _SEL_PAD, ne)
    chunk = max(64, _CELLS_BUDGET // max(1, ne))
    kord = None  # key order of the entities, sorted only if a row fails
    none = np.empty(0, dtype=np.int64)
    parts = [(none, none, np.empty(0), none)]
    for lo in range(0, nq if kk > 0 else 0, chunk):
        hi = min(lo + chunk, nq)
        S = score(lo, hi)
        rows = np.arange(hi - lo)
        if kp < ne:
            part = np.argpartition(-S, (kk - 1, kp), axis=1)
            cand = part[:, :kp]
            fail = np.flatnonzero(
                ~(S[rows, part[:, kk - 1]] - S[rows, part[:, kp]] > margin)
            )
            if len(fail):
                if kord is None:
                    kord = np.argsort(keys, kind="stable")
                exact = cost(S, lo, fail, kord[None, :])
                cand[fail] = kord[np.argsort(exact, axis=1, kind="stable")[:, :kp]]
        else:
            cand = np.broadcast_to(np.arange(ne), (hi - lo, ne))
        C = cost(S, lo, rows, cand)
        o1 = np.argsort(keys[cand], axis=1, kind="stable")
        o2 = np.argsort(np.take_along_axis(C, o1, axis=1), axis=1, kind="stable")
        order = np.take_along_axis(o1, o2, axis=1)[:, :kk]
        c = np.take_along_axis(C, order, axis=1)
        keep = c != np.inf
        parts.append((
            np.broadcast_to(rows[:, None] + lo, order.shape)[keep],
            np.take_along_axis(cand, order, axis=1)[keep],
            c[keep],
            np.broadcast_to(np.arange(1, kk + 1), order.shape)[keep],
        ))
    return tuple(np.concatenate(a) for a in zip(*parts))


class Metric(NamedTuple):
    """One caller's score. ``build(entity_pdf)`` gives the value queries
    are scored against, a tuple whose first item is the entity keys;
    ``score(query_pdf, value)`` gives the (score, cost, margin)
    arguments of `topk_block`. Results are (_qk, _ek, <col>, rank), with
    `col` holding the cost, negated when `descending`."""

    build: Callable[[pd.DataFrame], tuple]
    score: Callable[[pd.DataFrame, tuple], tuple]
    col: str
    descending: bool

    def frame(self, qpdf: pd.DataFrame, value: tuple, k: int) -> pd.DataFrame:
        keys = value[0]
        qi, ei, c, r = topk_block(len(qpdf), keys, k, *self.score(qpdf, value))
        val = -c if self.descending else c
        return pd.DataFrame(
            {"_qk": qpdf["_qk"].to_numpy()[qi], "_ek": keys[ei], self.col: val, "rank": r}
        )

    def schema(self, queries: DataFrame, side: DataFrame) -> str:
        return (
            f"_qk {queries.schema['_qk'].dataType.simpleString()}, "
            f"_ek {side.schema['_ek'].dataType.simpleString()}, "
            f"{self.col} double, rank int"
        )


def _collect(side: DataFrame, budget: int) -> pd.DataFrame:
    """The only driver pull of `broadcast_topk`. The limit keeps it
    bounded even if the side's lineage is nondeterministic and grew
    after the probe."""
    return side.limit(budget).toPandas()


def broadcast_topk(
    queries: DataFrame,
    side: DataFrame,
    k: int,
    metric: Metric,
    slot: str,
    max_rows: int,
    row_bytes: Column | None = None,
    max_bytes: int | None = None,
    known_rows: int | None = None,
) -> DataFrame:
    """Exact top-k with `side` broadcast as one value and the queries
    scored map-side, one `topk_block` call per Arrow batch: nothing
    shuffles and no |Q|×|E| rows materialize.

    One bounded probe decides the path before any driver pull. It counts
    at most max_rows + 1 rows of `side` and, given `row_bytes`, the
    widest of them; the side is inline when its count is within
    min(max_rows, max_bytes // widest row). A caller that already
    counted the side passes `known_rows` and skips the probe. Over the
    budget the same metric runs in `blocked_topk` and nothing
    reaches the driver; an empty side gives an empty result. The value
    ships through `tracked_broadcast` in `slot`, once per executor.

    Returns (_qk, _ek, <metric.col>, rank).
    """
    if known_rows is None:
        b = F.lit(1) if row_bytes is None else row_bytes
        probe = (
            side.select(b.alias("b"))
            .limit(max_rows + 1)
            .agg(F.count(F.lit(1)).alias("n"), F.max("b").alias("b"))
            .first()
        )
        n, widest = probe["n"], probe["b"] or 1
    else:
        n, widest = known_rows, 1
    budget = max_rows if max_bytes is None else min(max_rows, max(1, max_bytes // widest))
    if n > budget:
        return blocked_topk(
            queries, side, k, metric, block_rows=min(budget, _BLOCK_ROWS)
        )
    schema = metric.schema(queries, side)
    if n == 0:
        return queries.sparkSession.createDataFrame([], schema)
    bc = tracked_broadcast(
        queries.sparkSession.sparkContext, metric.build(_collect(side, budget)), slot
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        value = bc.value
        for pdf in batches:
            if len(pdf):
                yield metric.frame(pdf, value, k)

    return queries.mapInPandas(run, schema)


def blocked_topk(
    queries: DataFrame,
    side: DataFrame,
    k: int,
    metric: Metric,
    block_rows: int = _BLOCK_ROWS,
) -> DataFrame:
    """Exact top-k as a block nested loop, for a side too large to
    broadcast or collect.

    Both sides are hash-blocked on their key (xxhash64 mod the block
    count) and each is replicated across the other's block ids by a
    narrow explode, with no join node and no broadcast, so every
    (query block, entity block) pair meets once in a cogroup task. The
    task emits that block's local top-k, which contains the block's
    share of the global answer; a window over `_qk` in the metric's
    order, then `_ek` ascending, merges the blocks. Nothing reaches the
    driver, and a task holds two blocks and one chunk of scores. The
    shuffle is the block nested loop's n_qblocks·|side| +
    n_eblocks·|queries|.

    Returns (_qk, _ek, <metric.col>, rank).
    """
    n_eblk = max(1, -(-side.count() // block_rows))
    n_qblk = max(1, -(-queries.count() // block_rows))

    def block(key: str, n: int) -> Column:
        return F.pmod(F.xxhash64(key), F.lit(n)).cast("int")

    def every_block(n: int) -> Column:
        return F.explode(F.sequence(F.lit(0), F.lit(n - 1)))

    qrep = queries.withColumn("_qblk", block("_qk", n_qblk)).withColumn(
        "_eblk", every_block(n_eblk)
    )
    erep = side.withColumn("_eblk", block("_ek", n_eblk)).withColumn(
        "_qblk", every_block(n_qblk)
    )

    def local(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({c: [] for c in ("_qk", "_ek", metric.col, "rank")})
        return metric.frame(left, metric.build(right), k)

    order = F.desc(metric.col) if metric.descending else F.asc(metric.col)
    w = Window.partitionBy("_qk").orderBy(order, F.asc("_ek"))
    return (
        qrep.groupBy("_qblk", "_eblk")
        .cogroup(erep.groupBy("_qblk", "_eblk"))
        .applyInPandas(local, metric.schema(queries, side))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
