"""The workloads. Each drives the engine only through its public
functions (``api.Engine``, ``plans.pipeline``, ``plans.incremental``,
``operators.*``) and passes no strategy or regime switch: the engine
picks its path from the input it is given.

A workload is a fixed cycle of named operations (``ops``). One pass runs
each operation once, in order. A workload has these parts:

* ``generate(seed, out, files)`` — seeded datagen to parquet (set-up, no Spark);
* ``prepare(run)`` — engine-side set-up on the generated data (set-up);
* ``warm_passes`` — untimed passes run after ``prepare`` (set-up);
* ``before_op(run, op, i)`` — untimed per-operation input, e.g. a delta;
* ``run_op(run, op, i)`` — the timed operation; returns its wall time;
* ``check(run)`` — correctness checks on the outputs, outside the timed
  samples; each mismatch is appended to ``run.failures``.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from osm_wikipedia_tag_validator_spark.api import Engine
from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.functions import geometry as G
from osm_wikipedia_tag_validator_spark.operators import tiles as TI
from osm_wikipedia_tag_validator_spark.plans import incremental as INC
from osm_wikipedia_tag_validator_spark.sources import wiki_dim as WD

from . import inputs as IN

TILE_Z = 8
K = 5
# id streams of one seed (see inputs.id_range)
S_ELEMENTS, S_KNN_FEW_Q, S_KNN_MANY_Q, S_KNN_MANY_E, S_EMB = 1, 3, 4, 5, 6


class Run:
    """State of one benchmark run shared by set-up, operations and checks."""

    def __init__(self, spark, tracer, workdir: str, seed: int, files: int):
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.seed = seed
        self.files = files
        self.eng = Engine(spark)
        self.data = ""  # directory of the generated inputs in use
        self.failures: list[str] = []
        self.state: dict = {}
        self.dims: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.data, *parts)

    def out(self, *parts: str) -> str:
        return os.path.join(self.workdir, "out", *parts)

    def read(self, name: str):
        return self.spark.read.parquet(self.path(name))

    def build_dims(self) -> None:
        """The small dimension tables, built as the pipeline builds them."""
        s = self.spark
        self.dims = {
            "polygons": W.spark_polygons(s),
            "regions": W.spark_regions(s),
            "wiki": WD.build_wiki_entities_dim(W.spark_wiki_entities(s)),
            "error_catalog": W.spark_error_catalog(s),
        }

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def materialize(self, outputs: dict, dest: str) -> None:
        """Land ``outputs`` as parquet under ``dest`` through
        Engine.materialize, one span per sink."""
        sp = self.tracer.span
        with sp("pipeline.materialize") as mat:
            def write(name, df):
                with sp(f"sink.{name}", parent=mat):
                    df.write.parquet(os.path.join(dest, name))
            self.eng.materialize(outputs, action=write)


class Workload:
    """Defaults for the optional parts of a workload."""

    warm_passes = 1

    def prepare(self, run: Run) -> None:
        pass

    def before_op(self, run: Run, op: str, i: int) -> None:
        pass


# --------------------------------------------------------------------------
# numpy oracles
# --------------------------------------------------------------------------

def polygon_hits(lon: np.ndarray, lat: np.ndarray) -> list[tuple[np.ndarray, str, str]]:
    """For each polygon of the world: (mask of contained points, region,
    polygon_id), by ``functions.geometry.points_in_polygon``."""
    out = []
    for _, row in W.gen_polygons().iterrows():
        rings = [np.array([(p["lon"], p["lat"]) for p in ring]) for ring in row["rings"]]
        out.append((G.points_in_polygon(lon, lat, rings), row["region"], row["polygon_id"]))
    return out


def tile_ids(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Web-Mercator XYZ tiles (slippy-map formula), packed as the engine
    packs them: (z << 58) | (x << 29) | y."""
    n = 1 << z
    x = np.floor((lon + 180.0) / 360.0 * float(n))
    lat_c = np.clip(lat, -85.05112878, 85.05112878)
    r = np.radians(lat_c)
    y = np.floor((1.0 - np.log(np.tan(r) + 1.0 / np.cos(r)) / np.pi) / 2.0 * float(n))
    x = np.clip(x, 0, n - 1).astype(np.int64)
    y = np.clip(y, 0, n - 1).astype(np.int64)
    return (np.int64(z) << 58) + (x << 29) + y, x, y


def tile_rollup_oracle(lon: np.ndarray, lat: np.ndarray) -> pd.DataFrame:
    """Per-(tile, region) point and polygon counts, as ``tiles.tile_rollup``
    of ``point_in_polygon_join`` computes them."""
    tid, _, _ = tile_ids(lon, lat, TILE_Z)
    hits = pd.concat([pd.DataFrame({"tile_id": tid[m], "region": region, "polygon_id": pid})
                      for m, region, pid in polygon_hits(lon, lat)], ignore_index=True)
    return hits.groupby(["tile_id", "region"]).agg(
        n_points=("polygon_id", "size"), n_polygons=("polygon_id", "nunique")).reset_index()


def _rollup_hash(df: pd.DataFrame) -> str:
    cols = ["tile_id", "region", "n_points", "n_polygons"]
    return IN.table_hash(df[cols].astype({"n_points": "int64", "n_polygons": "int64"}))


def knn_oracle(q: pd.DataFrame, ents: pd.DataFrame, e_key: str, k: int) -> dict:
    """Exact haversine top-k per query, ties by (distance, key) ascending:
    {query key: (keys, distances, distance by entity key)}."""
    keys = ents[e_key].to_numpy()
    elon, elat = ents["lon"].to_numpy(), ents["lat"].to_numpy()
    out = {}
    for qid, qlon, qlat in zip(q["id"], q["lon"], q["lat"]):
        d = G.haversine_km(np.full(len(keys), qlon), np.full(len(keys), qlat), elon, elat)
        order = np.lexsort((keys, d))[:k]
        out[qid] = (keys[order], d[order], pd.Series(d, index=keys))
    return out


def compare_topk(got: pd.DataFrame, q_key: str, e_key: str, score: str, oracle: dict,
                 label: str, run: Run, tol: float) -> None:
    """Each sampled query's ranked neighbours must be the oracle's, up to
    exact ties (a different key at a rank is accepted only when the
    oracle scores it equal to the expected key)."""
    for qid, (want_keys, want_scores, score_of) in oracle.items():
        rows = got[got[q_key] == qid].sort_values("rank")
        if len(rows) != len(want_keys):
            run.fail(f"{label}: query {qid} has {len(rows)} rows, expected {len(want_keys)}")
            continue
        for gk, gs, wk, ws in zip(rows[e_key], rows[score], want_keys, want_scores):
            if abs(gs - ws) > tol or (gk != wk and abs(score_of[gk] - ws) > tol):
                run.fail(f"{label}: query {qid} got ({gk}, {gs}) expected ({wk}, {ws})")
                break


# --------------------------------------------------------------------------
# cdc_delta
# --------------------------------------------------------------------------

class CdcDelta(Workload):
    """The daily ``newer:`` job: one incremental_round of a fresh seeded
    delta against the validated base state, landing the new state through
    Engine.materialize. The two operations are a 1-row and a 1,000-row
    delta."""

    name = "cdc_delta"
    N_ELEMENTS = 20_000
    ops = ("cdc_1", "cdc_1000")
    items = {"cdc_1": 1, "cdc_1000": 1000}
    # a round keeps getting faster for about three passes; the timed
    # samples start after that
    warm_passes = 3
    FRESH_PER_ROUND = 2048

    def generate(self, seed: int, out: str, files: int) -> int:
        ids = IN.id_range(seed, S_ELEMENTS, self.N_ELEMENTS)
        return IN.write_parquet(IN.elements(ids), os.path.join(out, "elements"), files,
                                IN.ELEMENTS_ARROW)

    def prepare(self, run: Run) -> None:
        """Validate the snapshot once and write it as the base state."""
        d = run.dims
        state = INC.validate_unchecked(INC.initial_state(run.read("elements")),
                                       d["wiki"], d["regions"])
        state.write.parquet(run.path("state0"))
        snap = pq.read_table(run.path("elements")).to_pandas()
        run.state["latest"] = (snap.sort_values("download_timestamp")
                               .drop_duplicates(["type", "id"], keep="last")
                               .sort_values(["type", "id"]).reset_index(drop=True))
        run.state["fresh0"] = int(IN.id_range(run.seed, IN.DELTA_STREAM, 1)[0])
        run.state["rounds"] = []

    def before_op(self, run: Run, op: str, i: int) -> None:
        """Write round ``i``'s seeded delta (fresh insert ids per round)."""
        fresh = run.state["fresh0"] + i * self.FRESH_PER_ROUND + np.arange(
            self.FRESH_PER_ROUND, dtype=np.int64)
        pdf = IN.delta(run.seed, i, self.items[op], run.state["latest"], fresh)
        path = os.path.join(run.workdir, "deltas", f"r{i}")
        IN.write_parquet(pdf, path, 1, IN.ELEMENTS_ARROW)
        run.state["delta"] = path

    def run_op(self, run: Run, op: str, i: int) -> float:
        sp, d = run.tracer.span, run.dims
        delta_path, dest = run.state["delta"], run.out(f"cdc-{i}")
        t0 = time.perf_counter()
        with sp("read.inputs"):
            state = run.read("state0")
            delta = run.spark.read.parquet(delta_path)
        # Engine.incremental_round is validate_unchecked(ingest_delta(...));
        # its two public steps are called here so that the upsert and the
        # validator layer each get a span of their own.
        with sp("incremental.round"):
            with sp("upsert.ingest_delta"):
                merged = INC.ingest_delta(state, delta)
            with sp("validator.validate_unchecked"):
                new = INC.validate_unchecked(merged, d["wiki"], d["regions"])
        run.materialize({"state": new}, dest)
        dt = time.perf_counter() - t0
        run.state["rounds"].append((op, delta_path, dest))
        return dt

    def check(self, run: Run) -> None:
        """The last round of each delta size must equal a from-scratch
        validate_unchecked(initial_state(snapshot + delta))."""
        d = run.dims
        for want in self.ops:
            op, delta_path, dest = [r for r in run.state["rounds"] if r[0] == want][-1]
            snap = run.read("elements").unionByName(run.spark.read.parquet(delta_path))
            scratch = INC.validate_unchecked(INC.initial_state(snap), d["wiki"], d["regions"])
            ref = run.out(f"scratch-{op}")
            scratch.write.parquet(ref)
            if not IN.same_rows(ref, os.path.join(dest, "state"), ["type", "id"]):
                run.fail(f"cdc_delta: {op} state differs from a from-scratch validation")


# --------------------------------------------------------------------------
# spatial
# --------------------------------------------------------------------------

class Spatial(Workload):
    """Map-side kernels, no validator: Engine.knn against the wiki
    entities with coordinates (below knn_kring's inline limit: broadcast
    path), Engine.knn against more element locations than the limit
    (k-ring index path), exact cosine top-k against a seeded embedding
    corpus, and assign_tiles -> point_in_polygon_join -> tile_rollup
    over located images."""

    name = "spatial"
    N_FEW_Q = 20_000
    N_MANY_Q = 250
    N_MANY_E = 110_000  # above knn_kring's 100k inline limit; also the tile images
    N_CORPUS = 100_000
    N_COS_Q = 1_000
    DIM = 64
    ops = ("knn_few", "knn_many", "cosine_topk", "tiles")
    items = {"knn_few": N_FEW_Q, "knn_many": N_MANY_Q, "cosine_topk": N_COS_Q, "tiles": N_MANY_E}
    SAMPLE = 24
    SPANS = {"knn_few": "knn.few", "knn_many": "knn.many",
             "cosine_topk": "ann.cosine_topk", "tiles": "driver.plan"}

    def generate(self, seed: int, out: str, files: int) -> int:
        def put(name, table):
            return IN.write_parquet(table, os.path.join(out, name), files)

        n = put("few_queries", IN.locations(IN.id_range(seed, S_KNN_FEW_Q, self.N_FEW_Q)))
        n += put("few_entities", IN.wiki_locations())
        n += put("many_queries", IN.locations(IN.id_range(seed, S_KNN_MANY_Q, self.N_MANY_Q)))
        many = IN.locations(IN.id_range(seed, S_KNN_MANY_E, self.N_MANY_E), key="qid")
        n += put("many_entities", many)
        n += put("images_located", pd.DataFrame({
            "image_id": [W.image_id_for(e) for e in many["qid"]],
            "lon": many["lon"], "lat": many["lat"]}))
        corpus = IN.embeddings(seed, S_EMB, self.N_CORPUS, self.DIM, 0)
        queries = IN.embeddings(seed, S_EMB + 100, self.N_COS_Q, self.DIM, 10 * self.N_CORPUS)
        n += put("corpus", IN.embedding_table(*corpus))
        return n + put("cos_queries", IN.embedding_table(*queries))

    def prepare(self, run: Run) -> None:
        run.state["results"] = defaultdict(list)

    def _call(self, run: Run, op: str):
        eng, read = run.eng, run.read
        if op == "knn_few":
            return eng.knn(read("few_queries"), read("few_entities"), k=K)
        if op == "knn_many":
            return eng.knn(read("many_queries"), read("many_entities"), k=K)
        if op == "cosine_topk":
            return eng.similarity_topk(read("cos_queries"), read("corpus"), k=K)
        sp = run.tracer.span
        with sp("tiles.assign_tiles"):
            tiled = eng.assign_tiles(read("images_located"), TILE_Z)
        with sp("spatial_join.point_in_polygon"):
            hits = eng.point_in_polygon(tiled, run.dims["polygons"])
        with sp("tiles.rollup"):
            return TI.tile_rollup(hits)

    def run_op(self, run: Run, op: str, i: int) -> float:
        sp = run.tracer.span
        t0 = time.perf_counter()
        with sp(self.SPANS[op]):
            df = self._call(run, op)
        with sp("sink.collect"):
            rows = df.toPandas()
        dt = time.perf_counter() - t0
        run.state["results"][op].append(rows)
        return dt

    def check(self, run: Run) -> None:
        res = run.state["results"]
        r = np.random.default_rng(run.seed)
        for op, qname, ename in (("knn_few", "few_queries", "few_entities"),
                                 ("knn_many", "many_queries", "many_entities")):
            q = pq.read_table(run.path(qname)).to_pandas()
            ents = pq.read_table(run.path(ename)).to_pandas()
            q = q.iloc[r.choice(len(q), self.SAMPLE, replace=False)]
            oracle = knn_oracle(q, ents, "qid", K)
            for got in res[op]:
                compare_topk(got, "id", "qid", "dist_km", oracle, op, run, 1e-6)
        qt = pq.read_table(run.path("cos_queries")).to_pandas()
        ct = pq.read_table(run.path("corpus")).to_pandas()
        pick = r.choice(len(qt), self.SAMPLE, replace=False)
        Q = np.vstack(qt["embedding"].to_numpy()[pick]).astype(np.float64)
        M = np.vstack(ct["embedding"].to_numpy()).astype(np.float64)
        Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        S = np.round(Qn @ Mn.T, 6)
        ids = ct["vec_id"].to_numpy()
        oracle = {}
        for row, qid in enumerate(qt["vec_id"].to_numpy()[pick]):
            order = np.lexsort((ids, -S[row]))[:K]
            oracle[qid] = (ids[order], S[row, order], pd.Series(S[row], index=ids))
        # cosines are rounded to 6 places: allow one unit of the last place
        for got in res["cosine_topk"]:
            compare_topk(got, "vec_id", "neighbor_id", "cosine", oracle, "cosine_topk", run, 1.01e-6)
        imgs = pq.read_table(run.path("images_located")).to_pandas()
        want = _rollup_hash(tile_rollup_oracle(imgs["lon"].to_numpy(), imgs["lat"].to_numpy()))
        for j, got in enumerate(res["tiles"]):
            if _rollup_hash(got) != want:
                run.fail(f"spatial: tile rollup {j} differs from the numpy PIP/tile oracle")


WORKLOADS = {w.name: w for w in (CdcDelta(), Spatial())}
