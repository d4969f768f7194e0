"""kNN nearest-article join — J9/W3 of SURVEY.md §2.

The reference has no explicit kNN; nearest-article matching is implicit
inside its wikibrain detector. The engine provides it as a first-class
exact operator:

  * `knn_bruteforce` — the shared exact top-k of `topk.py` under the
    chord score `_chord_score` (float32 GEMM selection on unit xyz,
    exact `haversine_km` re-rank): the entity side broadcast, or
    hash-blocked in a cogroup when it is too large.
  * `knn_kring` — grid-index candidate generation: each query point
    explodes its k-ring of cells, equi-joins entities on cell, re-ranks
    by distance, and widens the ring for queries that haven't PROVABLY
    converged: the kth neighbor must be nearer than the closest point
    of the first unexplored ring. Queries left over when the ring cap
    or the straggler cut-off is reached go through `knn_bruteforce`.

Ties broken deterministically by (distance, entity key).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions import cells as C
from ..functions.geometry import haversine_km
from . import topk as T

EARTH_R_KM = 6371.0088

#: certification margin for the float32 selection pass: a worst-case
#: bound on |float32 dot − float64 dot| for 3-term unit-vector dots is
#: ~5e-7 (input quantization 2⁻²⁴ per component + two accumulation
#: roundings, all magnitudes ≤ 1); 2e-6 is 4× that.
_SEL_ERR32 = 2e-6

#: default inline budget of the broadcast path, in entity rows.
_MAX_INLINE = 2_000_000


def _unit_xyz(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """(n,) lon/lat degrees → (n, 3) unit vectors on the sphere."""
    lo = np.radians(np.asarray(lon, dtype=np.float64))
    la = np.radians(np.asarray(lat, dtype=np.float64))
    cl = np.cos(la)
    return np.stack([cl * np.cos(lo), cl * np.sin(lo), np.sin(la)], axis=1)


def _knn_build(epdf: pd.DataFrame) -> tuple:
    """Entity rows (_ek, _e_lon, _e_lat) → keys, coordinates and the
    transposed float32 unit-vector matrix the selection GEMM reads,
    built once per entity side rather than once per query batch."""
    lon = epdf["_e_lon"].to_numpy(dtype=np.float64)
    lat = epdf["_e_lat"].to_numpy(dtype=np.float64)
    ET32 = np.ascontiguousarray(_unit_xyz(lon, lat).T, dtype=np.float32)
    return epdf["_ek"].to_numpy(), lon, lat, ET32


def _chord_score(qpdf: pd.DataFrame, entities: tuple) -> tuple:
    """The kNN score for `topk.topk_block`, as (score, cost, margin).

    Selection needs no trigonometry: unit-vector dot products are a
    strictly monotone proxy for great-circle distance (dot = 1 − chord²/2),
    so one float32 GEMM scores the block, certified by _SEL_ERR32. The
    cost is `haversine_km` on the same float64 inputs brute force uses,
    so distances and the (dist, key) order are identical doubles."""
    _, e_lons, e_lats, ET32 = entities
    qlon = qpdf["_q_lon"].to_numpy(dtype=np.float64)
    qlat = qpdf["_q_lat"].to_numpy(dtype=np.float64)
    Q32 = _unit_xyz(qlon, qlat).astype(np.float32)

    def score(lo: int, hi: int) -> np.ndarray:
        return Q32[lo:hi] @ ET32

    def cost(S, lo: int, rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
        r = lo + rows
        return haversine_km(qlon[r, None], qlat[r, None], e_lons[cols], e_lats[cols])

    return score, cost, _SEL_ERR32


_CHORD = T.Metric(_knn_build, _chord_score, "dist_km", descending=False)


def haversine_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in km as a pure Catalyst expression."""
    p1 = F.radians(lat1)
    p2 = F.radians(lat2)
    dlat = p2 - p1
    dlon = F.radians(lon2) - F.radians(lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(p1) * F.cos(p2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2 * EARTH_R_KM) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def knn_bruteforce(
    queries: DataFrame,
    entities: DataFrame,
    k: int,
    q_key: str = "id",
    e_key: str = "qid",
    q_lon: str = "lon",
    q_lat: str = "lat",
    e_lon: str = "lon",
    e_lat: str = "lat",
    max_inline_entities: int = _MAX_INLINE,
    _known_entity_count: int | None = None,
) -> DataFrame:
    """Exact kNN, ties broken by (dist_km, entity key) ascending like
    the SQL oracle's ORDER BY dist, key. Output: (q_key, e_key, dist_km,
    rank).

    Runs `topk.broadcast_topk` under the chord score (`_chord_score`):
    the entity side is broadcast as one matrix and every Arrow batch of
    queries is scored map-side, so nothing shuffles. The inline budget
    is `max_inline_entities` rows, since an entity row is a fixed ~24 B
    (key, lon, lat) — 2M rows ≈ 50 MB. A larger side takes the blocked
    cogroup plan, and nothing reaches the driver. `_known_entity_count`
    skips the size probe when the caller already counted the side.
    """
    q, e = _project(queries, entities, q_key, q_lon, q_lat, e_key, e_lon, e_lat)
    return _named(_exact(q, e, k, max_inline_entities, _known_entity_count), q_key, e_key)


def _project(queries, entities, q_key, q_lon, q_lat, e_key, e_lon, e_lat):
    """Both sides under the kernel's column names, null coordinates
    dropped: a null point has no distance to anything, and every
    strategy drops it (the k-ring path's null cell never joins) rather
    than rank NaN distances nondeterministically."""
    q = queries.filter(F.col(q_lon).isNotNull() & F.col(q_lat).isNotNull()).select(
        F.col(q_key).alias("_qk"), F.col(q_lon).alias("_q_lon"), F.col(q_lat).alias("_q_lat")
    )
    e = entities.filter(F.col(e_lon).isNotNull() & F.col(e_lat).isNotNull()).select(
        F.col(e_key).alias("_ek"), F.col(e_lon).alias("_e_lon"), F.col(e_lat).alias("_e_lat")
    )
    return q, e


def _named(df: DataFrame, q_key: str, e_key: str) -> DataFrame:
    return df.select(F.col("_qk").alias(q_key), F.col("_ek").alias(e_key), "dist_km", "rank")


def _exact(
    q: DataFrame, e: DataFrame, k: int, max_rows: int = _MAX_INLINE, known_rows: int | None = None
) -> DataFrame:
    """`topk.broadcast_topk` under the chord score on projected sides."""
    # a single-file source would run the whole top-k in one task; give
    # the map-side stage enough splits to use the cluster. The partition
    # count of the planned RDD (physical planning, no job) covers
    # file-backed, cached and shuffle-fed sides alike, where
    # inputFiles() misses a scan the CacheManager replaced.
    par = q.sparkSession.sparkContext.defaultParallelism
    if q.rdd.getNumPartitions() < par:
        q = q.repartition(par)
    return T.broadcast_topk(
        q, e, k, _CHORD, "knn_entity_matrix", max_rows=max_rows, known_rows=known_rows
    )


def _ring_min_dist_col(res: int, explored_ring: int, q_lat: Column) -> Column:
    """Per-query lower bound (km) on the distance to any point in a
    cell NOT yet explored (Chebyshev distance > explored_ring = r).

    Wall argument: an unexplored point either escapes vertically
    (≥ r cell heights → r·cell_km, latitude extent is constant on this
    grid) or stays within the band and escapes horizontally (≥ r cell
    widths at a latitude within |q_lat| ± (r+1) cells → shrink by
    cos of the band extremity). When the ring already wraps every
    longitude column ((2r+1) ≥ 2^res), no east/west wall exists and
    only the vertical term applies — this is what makes coarse
    resolutions converge."""
    r = explored_ring
    n = 1 << res
    cell_deg = 180.0 / n
    km_per_deg = 2 * np.pi * EARTH_R_KM / 360.0
    vertical = F.lit(float(r * cell_deg * km_per_deg))
    if (2 * r + 1) >= n:
        return vertical
    band_edge = F.least(F.abs(q_lat) + F.lit((r + 1) * cell_deg), F.lit(89.999))
    shrink = F.greatest(F.cos(F.radians(band_edge)), F.lit(0.0))
    return vertical * F.least(F.lit(1.0), shrink)


def knn_kring(
    queries: DataFrame,
    entities: DataFrame,
    k: int,
    res: int | None = None,
    initial_ring: int = 1,
    max_ring: int = 64,
    q_key: str = "id",
    e_key: str = "qid",
    q_lon: str = "lon",
    q_lat: str = "lat",
    e_lon: str = "lon",
    e_lat: str = "lat",
    max_inline_entities: int = 100_000,
    salt_hot_cells: bool = True,
    hot_cell_factor: float = 16.0,
    hot_cell_min: int = 4096,
    hot_cell_buckets: int = 8,
    max_hot_cells: int = 64,
) -> DataFrame:
    """Exact kNN via k-ring candidate equi-join with provable-converged
    escalation. Scales when BOTH sides are big: the join is a cell
    equi-join (shuffle hash / sort-merge on cell), never a cross join.

    Skew (SURVEY §4): a dense-city cell concentrates both entities and
    candidate queries on ONE join key, and at 100× that key's shuffle
    partition is the straggler. A cheap histogram pre-pass over the
    CACHED entity side (one groupBy on the cell id) finds cells holding
    > max(hot_cell_factor × mean, hot_cell_min) entities — bounded
    driver pull of at most max_hot_cells ids — and the candidate
    equi-join routes those cells through
    ``spatial_join.salted_join_skewed`` (entity rows of hot cells
    replicated ×hot_cell_buckets, query rows split across the buckets);
    cold cells join with salt 0, zero replication. Result-neutral by
    construction; `tests/test_knn_ann.py` pins salted == unsalted on a
    planted city-density cell. AQE skew-join can't see this skew
    because the hot key is born inside the explode, after the stage
    boundary AQE splits on. Reference analog: the region-split
    workaround for oversized areas
    (produce_internal_divisions_for_regions_processed.py:185-195).

    Cost rule (regime selection): when the entity side fits in a
    broadcastable matrix (≤ max_inline_entities) the map-side
    brute-force path is strictly cheaper — one vectorized pass, zero
    shuffle, no escalation rounds — so this function DELEGATES to it
    and reserves the k-ring index for the both-sides-big regime where
    it is the right 100 TB plan (measured 7× at sf0.1 the other way:
    knn_kring 20.7 s vs knn 3.0 s on a 10k-entity side). Pass
    max_inline_entities=0 to force the index path (tests/bench do, to
    exercise the genuine escalation machinery).

    Escalation loop runs on the driver over a shrinking query set;
    each round is one Spark job over CACHED inputs (no lineage
    recompute). Rounds grow the ring geometrically. Queries still
    unconverged at `max_ring` get their exact answer from
    `knn_bruteforce`, as the stragglers do, never a best-effort one.

    res=None picks the resolution from entity density so a k-ring of
    1-2 is expected to hold ≳4k entities: res = ½·log2(n/(4k)). Too
    fine a grid on a sparse entity set needs huge rings (slow); too
    coarse degenerates to brute force per cell.
    """
    # null-coordinate rows are dropped up front: a null query cell
    # generates no ring candidates and would otherwise spin in the
    # escalation loop to max_ring for nothing
    queries, ent = _project(queries, entities, q_key, q_lon, q_lat, e_key, e_lon, e_lat)
    if max_inline_entities > 0:
        n_probe = ent.limit(max_inline_entities + 1).count()
        if n_probe <= max_inline_entities:
            return _named(_exact(queries, ent, k, max_inline_entities, n_probe), q_key, e_key)
    ent = ent.cache()
    n_ent = ent.count()
    if res is None:
        import math

        # round, don't floor: flooring 6.8 → 6 quadruples the per-cell
        # density the formula targets, and the ring-1 candidate join is
        # linear in it (measured at sf1.0: res 6 → 660 candidates/query
        # and a 6.6M-row window input, 5.8 s; res 7 → ~165/query,
        # 2.5 s; same exact results at any res)
        res = max(0, min(C.MAX_RES, round(0.5 * math.log2(max(n_ent / (4 * k), 1)))))
    if (2 * initial_ring + 1) >= (1 << res):
        # adaptive physical strategy: the entity set is so sparse that
        # the first ring already spans the whole grid — the index can't
        # prune anything, so the cell join would just be a worse-shaped
        # brute force. Delegate to the map-side exact path (identical
        # results; the genuine index path is exercised on dense entity
        # sets — see tests/test_knn_ann.py).
        ent.unpersist()
        return _named(_exact(queries, ent, k, known_rows=n_ent), q_key, e_key)
    ent = ent.withColumn("_e_cell", C.cell_col(F.col("_e_lon"), F.col("_e_lat"), res))

    hot_cells: list = []
    # the pre-pass only pays for itself when a single cell COULD become
    # a straggler: below 8×hot_cell_min entities, even total
    # concentration in one cell is a few thousand build rows — one task
    # handles that in milliseconds, while the histogram job costs a
    # measurable fraction of the whole query at small scale (measured
    # ~0.4 s on the 15k-entity bench query, ~30%). At the scale the
    # salt exists for (millions of entities) the pre-pass amortizes.
    if salt_hot_cells and n_ent >= 8 * hot_cell_min:
        # histogram pre-pass over the cached entity side, as ONE job:
        # the occupied-cell mean and the over-floor cells come out of
        # the same aggregation (collect_list skips the nulls the `when`
        # produces, so the pull is bounded by n_ent / hot_cell_min
        # structs — never entity data); the factor×mean threshold and
        # the top-max_hot_cells cut apply driver-side over that bounded
        # list. Previously this was a cache + two jobs per call.
        row = (
            ent.groupBy("_e_cell")
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(
                F.avg("_c").alias("m"),
                F.collect_list(
                    F.when(
                        F.col("_c") > hot_cell_min,
                        F.struct(F.col("_c").alias("c"), F.col("_e_cell").alias("cell")),
                    )
                ).alias("cand"),
            )
            .first()
        )
        threshold = max(hot_cell_factor * float(row["m"] or 0.0), float(hot_cell_min))
        over = sorted(
            (r for r in row["cand"] if r["c"] > threshold),
            key=lambda r: -r["c"],
        )
        hot_cells = [r["cell"] for r in over[:max_hot_cells]]

    remaining = queries.cache()
    results = None
    ring = initial_ring
    while True:
        # ring cells are array_distinct'ed and an entity lives in exactly
        # one cell, so (query, entity) pairs are already unique — no
        # dedup shuffle needed. k_ring_col is a pure Catalyst expression:
        # the candidate generator has NO Python stage.
        exploded = remaining.withColumn(
            "_e_cell",
            F.explode(
                F.array_distinct(
                    C.k_ring_col(F.col("_q_lon"), F.col("_q_lat"), res, ring)
                )
            ),
        )
        if hot_cells:
            from .spatial_join import salted_join_skewed

            joined = salted_join_skewed(
                exploded, ent, "_e_cell", hot_cells,
                salt_buckets=hot_cell_buckets,
            )
        else:
            joined = exploded.join(ent, "_e_cell")
        cand = joined.withColumn(
            "dist_km",
            haversine_col(
                F.col("_q_lon"), F.col("_q_lat"), F.col("_e_lon"), F.col("_e_lat")
            ),
        )
        w = Window.partitionBy("_qk").orderBy(F.asc("dist_km"), F.asc("_ek"))
        # localCheckpoint: materialize this round's candidates once —
        # converged-split, anti-join and the result union all reuse it
        # without recomputing the join lineage next round. Eviction: each
        # ring's checkpoint blocks stay referenced by the growing
        # `results` union until the caller's ACTION completes, so peak
        # storage is sum over rings of the (already top-k-truncated)
        # per-ring winners — k rows per unconverged query, shrinking
        # geometrically as queries converge; `remaining` (the only
        # unbounded-width checkpoint) IS explicitly unpersisted below.
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("_qk", "_q_lon", "_q_lat", "_ek", "dist_km", "rank")
            .localCheckpoint()
        )
        # a query is converged iff it found k neighbors AND its kth
        # distance is < the lower bound of the nearest UNEXPLORED cell
        per_q = topk.groupBy("_qk").agg(
            F.count(F.lit(1)).alias("_n"),
            F.max("dist_km").alias("_kth"),
            F.first("_q_lat").alias("_lat"),
        )
        converged_keys = per_q.filter(
            (F.col("_n") >= k)
            & (F.col("_kth") < _ring_min_dist_col(res, ring, F.col("_lat")))
        ).select("_qk")
        done = topk.join(converged_keys, "_qk").select("_qk", "_ek", "dist_km", "rank")
        results = done if results is None else results.unionByName(done)
        new_remaining = remaining.join(
            converged_keys, "_qk", "left_anti"
        ).localCheckpoint()
        remaining.unpersist()
        n_left = new_remaining.count()
        if n_left == 0:
            break
        if ring >= max_ring or n_left <= max(1000, n_ent):
            # straggler cut-off: escalating rings costs one full Spark
            # job per doubling; once the unconverged set is small, or
            # the ring cap is reached, the exact map-side brute force
            # answers the rest in ONE job.
            rest = _exact(new_remaining, ent.drop("_e_cell"), k, known_rows=n_ent)
            results = results.unionByName(rest)
            break
        remaining = new_remaining
        ring = min(ring * 2, max_ring)
    ent.unpersist()
    return _named(results, q_key, e_key)
