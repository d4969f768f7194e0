import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.functions.geometry import haversine_km
from osm_wikipedia_tag_validator_spark.operators import ann as ANN
from osm_wikipedia_tag_validator_spark.operators import knn as KNN
from osm_wikipedia_tag_validator_spark.operators import topk as T


def _dense_entities(spark, n=500):
    """Dense entity cloud so the k-ring index path converges quickly."""
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "qid": np.arange(n, dtype=np.int64),
            "lon": rng.uniform(-20, 40, n),
            "lat": rng.uniform(-10, 30, n),
        }
    )
    return spark.createDataFrame(pdf), pdf


def _queries(spark, n=80):
    rng = np.random.default_rng(12)
    pdf = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "lon": rng.uniform(-20, 40, n),
            "lat": rng.uniform(-10, 30, n),
        }
    )
    return spark.createDataFrame(pdf), pdf


def _numpy_knn(qpdf, epdf, k):
    out = {}
    for _, q in qpdf.iterrows():
        d = haversine_km(
            np.full(len(epdf), q["lon"]), np.full(len(epdf), q["lat"]),
            epdf["lon"].to_numpy(), epdf["lat"].to_numpy(),
        )
        order = np.lexsort((epdf["qid"].to_numpy(), d))[:k]
        out[int(q["id"])] = [int(epdf["qid"].iloc[i]) for i in order]
    return out


def test_knn_bruteforce_matches_numpy(spark):
    ents, epdf = _dense_entities(spark)
    qs, qpdf = _queries(spark)
    got = KNN.knn_bruteforce(qs, ents, k=5, q_key="id", e_key="qid").toPandas()
    exp = _numpy_knn(qpdf, epdf, 5)
    for qid, grp in got.groupby("id"):
        nbrs = grp.sort_values("rank")["qid"].tolist()
        assert nbrs == exp[int(qid)]


def test_knn_kring_exact_on_dense_entities(spark):
    ents, epdf = _dense_entities(spark)
    qs, qpdf = _queries(spark, n=40)
    got = KNN.knn_kring(qs, ents, k=3, q_key="id", e_key="qid").toPandas()
    exp = _numpy_knn(qpdf, epdf, 3)
    assert len(got) == 40 * 3
    for qid, grp in got.groupby("id"):
        assert grp.sort_values("rank")["qid"].tolist() == exp[int(qid)]


def test_knn_kring_handles_polar_queries(spark):
    """Queries near the pole exercise the wall-aware convergence bound."""
    ents, epdf = _dense_entities(spark, n=200)
    qpdf = pd.DataFrame({"id": [0, 1, 2], "lon": [0.0, 100.0, -170.0], "lat": [89.5, -89.5, 88.0]})
    qs = spark.createDataFrame(qpdf)
    got = KNN.knn_kring(qs, ents, k=2, q_key="id", e_key="qid").toPandas()
    exp = _numpy_knn(qpdf, epdf, 2)
    for qid, grp in got.groupby("id"):
        assert grp.sort_values("rank")["qid"].tolist() == exp[int(qid)]


def test_ann_ivf_recall(spark):
    # clustered corpus (mixture of gaussians) — IVF's design setting;
    # on purely isotropic random data inverted lists can't help
    rng = np.random.default_rng(5)
    centers = rng.standard_normal((10, 32)) * 4
    X = np.vstack(
        [centers[i % 10] + rng.standard_normal(32) * 0.5 for i in range(300)]
    ).astype(np.float32)
    rows = [(i, [float(x) for x in X[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 40)
    exact = ANN.cosine_topk_native(q, df, k=5).toPandas()
    approx = ANN.ivf_topk(q, df, k=5, n_centroids=12, nprobe=4).toPandas()
    e = {(int(r.vec_id), int(r.neighbor_id)) for r in exact.itertuples()}
    a = {(int(r.vec_id), int(r.neighbor_id)) for r in approx.itertuples()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"IVF recall {recall}"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cosine_topk_blocked_matches_native(spark):
    """Block-partitioned exact top-k == brute force, across block
    boundaries (block_rows far below corpus size forces many blocks on
    both sides)."""
    rng = np.random.default_rng(7)
    X = rng.standard_normal((150, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in X[i]]) for i in range(150)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 40)
    native = ANN.cosine_topk_native(q, df, k=4).toPandas().sort_values(["vec_id", "rank"])
    blocked = (
        ANN.cosine_topk_blocked(q, df, k=4, block_rows=23)
        .toPandas()
        .sort_values(["vec_id", "rank"])
    )
    assert native["neighbor_id"].tolist() == blocked["neighbor_id"].tolist()
    assert np.allclose(
        native["cosine"].to_numpy(), blocked["cosine"].to_numpy(), atol=1e-9
    )


def test_cosine_topk_fast_overlimit_routes_to_blocked(spark):
    """An over-limit corpus must NOT be broadcast or collected whole:
    the fast path's fallback is the cogroup block plan — no
    BroadcastNestedLoopJoin, no broadcast of corpus data — and its
    output is exactly brute force."""
    from osm_wikipedia_tag_validator_spark import session as S

    rng = np.random.default_rng(8)
    X = rng.standard_normal((160, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in X[i]]) for i in range(160)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 25)
    before = dict(S._TRACKED_BROADCASTS)
    out = ANN.cosine_topk_fast(q, df, k=3, max_inline_corpus=50)
    got = out.toPandas().sort_values(["vec_id", "rank"])
    # no full-corpus broadcast happened (the fast path's matrix slot
    # was never written) and the plan carries no broadcast join at all
    assert S._TRACKED_BROADCASTS.get("ann_corpus_matrix") is before.get(
        "ann_corpus_matrix"
    )
    plan = _executed_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan
    native = ANN.cosine_topk_native(q, df, k=3).toPandas().sort_values(["vec_id", "rank"])
    assert native["neighbor_id"].tolist() == got["neighbor_id"].tolist()


def test_knn_bruteforce_overlimit_routes_to_blocked(spark):
    """Over-limit entity side: cogroup block plan, no broadcast of the
    entity table, exact results equal to the numpy oracle."""
    ents, epdf = _dense_entities(spark, n=300)
    qs, qpdf = _queries(spark, n=50)
    out = KNN.knn_bruteforce(
        qs, ents, k=5, q_key="id", e_key="qid", max_inline_entities=100
    )
    plan = _executed_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan
    got = out.toPandas()
    exp = _numpy_knn(qpdf, epdf, 5)
    assert len(got) == 50 * 5
    for qid, grp in got.groupby("id"):
        assert grp.sort_values("rank")["qid"].tolist() == exp[int(qid)]


def test_cosine_topk_fast_matches_native(spark):
    rng = np.random.default_rng(6)
    X = rng.standard_normal((120, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in X[i]]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 30)
    native = ANN.cosine_topk_native(q, df, k=4).toPandas().sort_values(["vec_id", "rank"])
    fast = ANN.cosine_topk_fast(q, df, k=4).toPandas().sort_values(["vec_id", "rank"])
    assert native["neighbor_id"].tolist() == fast["neighbor_id"].tolist()


def test_knn_kring_salts_hot_city_cell(spark, monkeypatch):
    """SURVEY §4 skew row: one city-density cell (half the entity table
    in a single grid cell) must route the candidate equi-join through
    salted_join_skewed — and the salted answer must be byte-equal to
    the unsalted run AND to brute force (salting is result-neutral)."""
    from osm_wikipedia_tag_validator_spark.operators import spatial_join as SJ

    rng = np.random.default_rng(21)
    n_hot, n_cold = 600, 300
    epdf = pd.DataFrame(
        {
            "qid": np.arange(n_hot + n_cold, dtype=np.int64),
            "lon": np.concatenate(
                [10.0 + rng.uniform(-0.05, 0.05, n_hot), rng.uniform(-20, 40, n_cold)]
            ),
            "lat": np.concatenate(
                [50.0 + rng.uniform(-0.05, 0.05, n_hot), rng.uniform(-10, 30, n_cold)]
            ),
        }
    )
    ents = spark.createDataFrame(epdf)
    qpdf = pd.DataFrame(
        {
            "id": np.arange(30, dtype=np.int64),
            "lon": rng.uniform(-20, 40, 30),
            "lat": rng.uniform(-10, 30, 30),
        }
    )
    qs = spark.createDataFrame(qpdf)

    calls = []
    real = SJ.salted_join_skewed

    def spy(big, small, key, hot_keys, salt_buckets=8):
        calls.append(list(hot_keys))
        return real(big, small, key, hot_keys, salt_buckets=salt_buckets)

    monkeypatch.setattr(SJ, "salted_join_skewed", spy)

    kw = dict(k=3, q_key="id", e_key="qid", max_inline_entities=0, res=6,
              hot_cell_min=64)
    salted = KNN.knn_kring(qs, ents, **kw).toPandas().sort_values(["id", "rank"])
    # the histogram pre-pass found the planted city cell and the salted
    # plan fired (every escalation round routes through the salt)
    assert calls and all(len(c) >= 1 for c in calls)

    unsalted = (
        KNN.knn_kring(qs, ents, salt_hot_cells=False, **kw)
        .toPandas()
        .sort_values(["id", "rank"])
    )
    assert salted["qid"].tolist() == unsalted["qid"].tolist()
    assert np.allclose(salted["dist_km"].to_numpy(), unsalted["dist_km"].to_numpy())

    exp = _numpy_knn(qpdf, epdf, 3)
    for qid, grp in salted.groupby("id"):
        assert grp.sort_values("rank")["qid"].tolist() == exp[int(qid)]


def test_cosine_topk_fast_byte_budget_is_dimension_aware(spark, monkeypatch):
    """The inline-corpus guard is a BYTE budget, not a row cap: wide
    vectors must route to the blocked plan even when the row count is
    far under max_inline_corpus (round-4 verdict item 3 — 2M × 128-d ×
    8 B ≈ 2 GB is not the same driver cost as 2M (lon, lat) pairs)."""
    rng = np.random.default_rng(9)
    X = rng.standard_normal((60, 64)).astype(np.float32)
    rows = [(i, [float(x) for x in X[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 8)

    pulled = []
    real = T._collect

    def spy(side, budget):
        pdf = real(side, budget)
        pulled.append(len(pdf))
        return pdf

    monkeypatch.setattr(T, "_collect", spy)
    # byte budget allows 40/ (64*8) = 80... use 20*64*8 bytes → 20 rows
    # < 60 corpus rows, while the ROW cap (1000) would have let it inline
    got = (
        ANN.cosine_topk_fast(
            q, df, k=3, max_inline_corpus=1000, max_inline_bytes=20 * 64 * 8
        )
        .toPandas()
        .sort_values(["vec_id", "rank"])
    )
    assert pulled == []  # overflow path: nothing collected to the driver
    exp = ANN.cosine_topk_native(q, df, k=3).toPandas().sort_values(["vec_id", "rank"])
    assert got["neighbor_id"].tolist() == exp["neighbor_id"].tolist()
    assert np.allclose(got["cosine"].to_numpy(), exp["cosine"].to_numpy())

    # same call with an ample byte budget stays on the inline matrix path
    pulled.clear()
    ANN.cosine_topk_fast(q, df, k=3, max_inline_corpus=1000).count()
    assert pulled == [60]


def test_cosine_topk_fast_null_first_row_cannot_defeat_byte_budget(spark, monkeypatch):
    """Regression (round-5 review): the vector-width probe read ONE row
    with first(); a NULL embedding there read dim=NULL -> 1, inflating
    the byte-derived row budget by the true dimension factor and taking
    the inline driver-collect path on a corpus the budget was meant to
    block. The probe must take the max size over non-null rows, so a
    leading NULL routes the same corpus to the blocked plan."""
    dim = 8
    rng = np.random.default_rng(11)
    X = rng.standard_normal((40, dim)).astype(np.float32)
    rows = [(0, None)] + [
        (i, [float(x) for x in X[i]]) for i in range(1, 40)
    ]
    # single partition in insertion order: the NULL row is the one a
    # bare first() would read
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1)
    q = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(1, 5)],
        "vec_id long, embedding array<float>",
    )
    # byte budget admits 20 rows at the TRUE dim (8 × 8 B × 20 = 1280);
    # a dim=1 misread would admit 160 rows and go inline
    routed = {}
    real_blocked = T.blocked_topk

    def spy(*a, **kw):
        routed["blocked"] = True
        return real_blocked(*a, **kw)

    monkeypatch.setattr(T, "blocked_topk", spy)
    out = ANN.cosine_topk_fast(q, df, k=3, max_inline_bytes=1280)
    assert out.count() > 0
    assert routed.get("blocked"), "over-budget corpus took the inline path"


def test_ann_family_uniform_null_vector_semantics(spark):
    """Null-embedding rows are dropped at the boundary by EVERY path —
    native previously emitted null-cosine rank rows while the numpy
    paths crashed on np.vstack. All four must agree on a corpus and
    query set containing nulls."""
    rng = np.random.default_rng(21)
    X = rng.standard_normal((60, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in X[i]]) for i in range(60)]
    rows += [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter((F.col("vec_id") < 10) | (F.col("vec_id") >= 100))

    def key(out):
        p = out.toPandas().sort_values(["vec_id", "rank"])
        return list(zip(p["vec_id"], p["rank"], p["neighbor_id"]))

    native = key(ANN.cosine_topk_native(q, df, k=3))
    assert native, "expected non-null queries to produce rows"
    assert all(v < 100 for v, _, _ in native), "null-query rows leaked"
    fast = key(ANN.cosine_topk_fast(q, df, k=3))
    blocked = key(ANN.cosine_topk_blocked(q, df, k=3, block_rows=17))
    assert native == fast == blocked
    # ivf is approximate — only require it to run and drop null rows
    ivf = ANN.ivf_topk(q, df, k=3, n_centroids=4, nprobe=4).toPandas()
    assert (ivf["vec_id"] < 100).all()


def test_knn_family_uniform_null_coordinate_semantics(spark):
    """Null-lon/lat rows are dropped by every kNN strategy: the k-ring
    path's Catalyst cell expression drops them structurally (a null
    cell never joins), so the brute-force matrix path must agree
    instead of ranking NaN distances nondeterministically. The entity
    cloud is dense enough that the k-ring leg exercises the GENUINE
    escalation loop: with max_inline_entities=0 the cost rule is off,
    and at n=500/k=3 the operator's resolution arithmetic (res =
    ½·log2(n/4k) = 2) makes the sparse-grid delegation condition
    (2·ring+1 ≥ 2^res) false — asserted below so a datagen change
    can't silently shrink this back onto the brute-force path (at the
    previous n=120, res=1 delegated and the k-ring claim went
    untested)."""
    n_ent = 500
    res = int(0.5 * np.log2(n_ent / (4 * 3)))
    assert (2 * 1 + 1) < (1 << res), "entity cloud too sparse: kring would delegate"
    ents, epdf = _dense_entities(spark, n=n_ent)
    ents = ents.unionByName(
        spark.createDataFrame(
            [(900, None, 10.0), (901, 10.0, None)], "qid long, lon double, lat double"
        )
    )
    qpdf = pd.DataFrame({"id": [0, 1], "lon": [5.0, 6.0], "lat": [5.0, 6.0]})
    qs = spark.createDataFrame(qpdf).unionByName(
        spark.createDataFrame([(800, None, None)], "id long, lon double, lat double")
    )
    exp = _numpy_knn(qpdf, epdf, 3)
    brute = KNN.knn_bruteforce(qs, ents, k=3, q_key="id", e_key="qid").toPandas()
    kring = KNN.knn_kring(
        qs, ents, k=3, q_key="id", e_key="qid", max_inline_entities=0
    ).toPandas()
    for got in (brute, kring):
        assert set(got["id"]) == {0, 1}, "null-coordinate query leaked"
        assert not got["qid"].isin([900, 901]).any(), "null-coordinate entity leaked"
        for qid, grp in got.groupby("id"):
            assert grp.sort_values("rank")["qid"].tolist() == exp[int(qid)]


def test_ann_family_empty_after_null_drop(spark):
    """Regression (round-5 review): a corpus that is EMPTY once null
    vectors are dropped must yield an empty result from every path —
    fast previously fed np.vstack an empty array in _collect_matrix and
    ivf crashed the same way inside kmeans_centroids, while
    native/blocked already returned zero rows."""
    corpus = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<float>"
    )
    q = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    for fn, kw in [
        (ANN.cosine_topk_native, {}),
        (ANN.cosine_topk_fast, {}),
        (ANN.cosine_topk_blocked, {"block_rows": 8}),
        (ANN.ivf_topk, {"n_centroids": 4, "nprobe": 2}),
    ]:
        out = fn(q, corpus, k=3, **kw)
        assert out.count() == 0, f"{fn.__name__} emitted rows from an empty corpus"
        assert [f.name for f in out.schema.fields] == [
            "vec_id", "neighbor_id", "cosine", "rank",
        ], f"{fn.__name__} empty-result schema diverged"


def test_knn_bruteforce_empty_entities_after_null_drop(spark):
    """Regression (round-5 review): an entity side that empties under
    the null-coordinate drop made the inline path's np.argpartition
    crash with kth=-1 in every task; it must return the empty result
    the blocked twin produces."""
    qs = spark.createDataFrame(
        [(0, 5.0, 5.0)], "id long, lon double, lat double"
    )
    ents = spark.createDataFrame(
        [(900, None, 10.0), (901, 10.0, None)], "qid long, lon double, lat double"
    )
    out = KNN.knn_bruteforce(qs, ents, k=3, q_key="id", e_key="qid")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "qid", "dist_km", "rank"]


def test_knn_bruteforce_exact_under_duplicate_coordinates(spark):
    """Tie regression for the GEMM-selection kernel: many entities at
    bit-identical coordinates put more boundary ties than the
    candidate pad can cover — the certification margin must fail and
    the full-matrix (dist, key) fallback must keep the smallest-key
    ties, exactly like the pre-GEMM kernel and the SQL oracle."""
    rng = np.random.default_rng(31)
    base_lon = 10 + rng.uniform(0, 0.002, 40)
    base_lat = 50 + rng.uniform(0, 0.002, 40)
    epdf = pd.DataFrame(
        {
            "qid": np.arange(4000, dtype=np.int64),
            "lon": np.repeat(base_lon, 100),
            "lat": np.repeat(base_lat, 100),
        }
    )
    qpdf = pd.DataFrame(
        {
            "id": np.arange(30, dtype=np.int64),
            "lon": 10 + rng.uniform(0, 0.002, 30),
            "lat": 50 + rng.uniform(0, 0.002, 30),
        }
    )
    got = KNN.knn_bruteforce(
        spark.createDataFrame(qpdf), spark.createDataFrame(epdf), k=5,
        q_key="id", e_key="qid",
    ).toPandas()
    exp = _numpy_knn(qpdf, epdf, 5)
    for qid, grp in got.groupby("id"):
        assert grp.sort_values("rank")["qid"].tolist() == exp[int(qid)]


def test_knn_topk_block_fuzz_regimes():
    """Kernel-level fuzz of the shared `topk.topk_block` under the kNN
    score `knn._chord_score` (the GEMM selection + float32 certificate +
    exact fallback) against a per-row numpy brute force, BIT-EXACT on
    (q_key, e_key, dist, rank). Eight regimes rotate through the
    geometries that stress the selection boundary: uniform, dense
    ~200 m cluster, duplicate-coordinate groups, all-identical
    entities, polar, exact antipodes of the queries (dot = −1), query ==
    entity, and near-tie rings at 1e-12-degree separation. Seeded; no
    Spark needed."""
    rng = np.random.default_rng(20260822)

    def brute(qk, qlon, qlat, ek, elon, elat, k):
        out = []
        kk = min(k, len(ek))
        for i in range(len(qk)):
            d = haversine_km(
                np.full(len(ek), qlon[i]), np.full(len(ek), qlat[i]), elon, elat
            )
            order = np.lexsort((ek, d))[:kk]
            out.extend((qk[i], ek[j], d[j], r + 1) for r, j in enumerate(order))
        return sorted(out)

    for trial in range(64):
        regime = trial % 8
        nq = int(rng.integers(1, 40))
        ne = int(rng.integers(1, 300))
        k = int(rng.integers(1, 12))
        if regime == 0:
            qlon, qlat = rng.uniform(-180, 180, nq), rng.uniform(-85, 85, nq)
            elon, elat = rng.uniform(-180, 180, ne), rng.uniform(-85, 85, ne)
        elif regime == 1:
            c = rng.uniform(-50, 50, 2)
            qlon, qlat = c[0] + rng.normal(0, 0.002, nq), c[1] + rng.normal(0, 0.002, nq)
            elon, elat = c[0] + rng.normal(0, 0.002, ne), c[1] + rng.normal(0, 0.002, ne)
        elif regime == 2:
            ngroups = max(1, ne // 10)
            glon, glat = rng.uniform(-180, 180, ngroups), rng.uniform(-85, 85, ngroups)
            gi = rng.integers(0, ngroups, ne)
            elon, elat = glon[gi], glat[gi]
            qlon, qlat = rng.uniform(-180, 180, nq), rng.uniform(-85, 85, nq)
        elif regime == 3:
            elon = np.full(ne, 13.4); elat = np.full(ne, 52.5)
            qlon, qlat = rng.uniform(-180, 180, nq), rng.uniform(-85, 85, nq)
        elif regime == 4:
            qlon, qlat = rng.uniform(-180, 180, nq), rng.uniform(85, 90, nq)
            elon, elat = rng.uniform(-180, 180, ne), rng.uniform(-90, 90, ne)
        elif regime == 5:
            qlon, qlat = rng.uniform(-180, 180, nq), rng.uniform(-5, 5, nq)
            idx = rng.integers(0, nq, ne)
            elon, elat = qlon[idx] % 360 - 180, -qlat[idx]
        elif regime == 6:
            elon, elat = rng.uniform(-180, 180, ne), rng.uniform(-85, 85, ne)
            idx = rng.integers(0, ne, nq)
            qlon, qlat = elon[idx].copy(), elat[idx].copy()
        else:
            qlon, qlat = np.full(nq, 10.0), np.full(nq, 45.0)
            ang = rng.uniform(0, 2 * np.pi, ne)
            r = 0.01 + rng.choice([0.0, 1e-12, 1e-9], ne)
            elon, elat = 10.0 + r * np.cos(ang), 45.0 + r * np.sin(ang)
        qk = np.arange(nq, dtype=np.int64)
        ek = rng.permutation(ne).astype(np.int64)
        ents = KNN._knn_build(pd.DataFrame({"_ek": ek, "_e_lon": elon, "_e_lat": elat}))
        qpdf = pd.DataFrame({"_q_lon": qlon, "_q_lat": qlat})
        qi, ei, d, r = T.topk_block(nq, ek, k, *KNN._chord_score(qpdf, ents))
        got = sorted(zip(qk[qi].tolist(), ek[ei].tolist(), d.tolist(), r.tolist()))
        exp = brute(qk, qlon, qlat, ek, elon, elat, k)
        assert got == exp, f"trial {trial} regime {regime} nq={nq} ne={ne} k={k}"


def test_knn_kring_max_ring_exit_is_exact(spark):
    """Queries still unconverged at the ring cap get the exact answer,
    not a best-effort one. max_ring=initial_ring on a fine grid leaves
    queries with fewer than k ring-1 candidates, some with none at all
    (asserted below), and the result must still equal brute force."""
    from osm_wikipedia_tag_validator_spark.functions import cells as C

    ents, epdf = _dense_entities(spark)
    qs, qpdf = _queries(spark, n=40)
    res, k = 8, 3
    qx, qy = C.cell_xy(qpdf["lon"].to_numpy(), qpdf["lat"].to_numpy(), res)
    ex, ey = C.cell_xy(epdf["lon"].to_numpy(), epdf["lat"].to_numpy(), res)
    in_ring = (
        (np.abs(qx[:, None].astype(np.int64) - ex[None, :]) <= 1)
        & (np.abs(qy[:, None].astype(np.int64) - ey[None, :]) <= 1)
    ).sum(axis=1)
    assert (in_ring == 0).any() and (in_ring < k).sum() > 1
    got = KNN.knn_kring(
        qs, ents, k=k, q_key="id", e_key="qid", res=res,
        initial_ring=1, max_ring=1, max_inline_entities=0,
    ).toPandas()
    exp = _numpy_knn(qpdf, epdf, k)
    assert len(got) == len(qpdf) * k
    for qid, grp in got.groupby("id"):
        assert grp.sort_values("rank")["qid"].tolist() == exp[int(qid)]


def _cosine_paths(q, corpus, k):
    """(vec_id, rank, neighbor_id, cosine) rows of fast, blocked and
    native, each sorted."""
    def rows(out):
        p = out.toPandas().sort_values(["vec_id", "rank"])
        return list(zip(p["vec_id"], p["rank"], p["neighbor_id"], p["cosine"]))

    return (
        rows(ANN.cosine_topk_fast(q, corpus, k=k)),
        rows(ANN.cosine_topk_blocked(q, corpus, k=k, block_rows=7)),
        rows(ANN.cosine_topk_native(q, corpus, k=k)),
    )


def test_cosine_topk_ties_inside_k_match_native(spark):
    """Exact ties straddling the k-th slot: every corpus vector appears
    10 times under shuffled ids, so k = 5 lands inside a tie group. The
    (cosine desc, id asc) rule keeps the 5 smallest ids of the group;
    fast, blocked and native must agree. Queries are corpus rows (self
    excluded, 9 ties left) and perturbed copies of the base vectors."""
    rng = np.random.default_rng(41)
    base = rng.standard_normal((12, 8)).astype(np.float32)
    ids = rng.permutation(120)
    corpus = spark.createDataFrame(
        [(int(ids[i]), [float(x) for x in base[i % 12]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    near = base + np.float32(0.01) * rng.standard_normal((12, 8)).astype(np.float32)
    q = corpus.filter(F.col("vec_id") < 12).unionByName(
        spark.createDataFrame(
            [(1000 + j, [float(x) for x in near[j]]) for j in range(12)],
            "vec_id long, embedding array<float>",
        )
    )
    fast, blocked, native = _cosine_paths(q, corpus, 5)
    assert len(native) == 24 * 5
    key = lambda rows: [r[:3] for r in rows]  # noqa: E731
    assert key(fast) == key(blocked) == key(native)
    assert np.allclose([r[3] for r in fast], [r[3] for r in native], atol=1e-9)


def test_cosine_topk_exclude_self_small_corpus(spark):
    """|corpus| ≤ k with exclude_self: a query drawn from a 3-row corpus
    has two other rows, and no path may emit its own row."""
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.6, 0.8]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    fast, blocked, native = _cosine_paths(corpus, corpus, 3)
    assert len(native) == 3 * 2
    assert all(v != n for v, _, n, _ in native)
    assert fast == blocked == native


def test_cosine_topk_block_fuzz_ties():
    """Seeded fuzz of the shared `topk.topk_block` under the cosine
    score `ann._cosine_score`, BIT-EXACT on (query, neighbor, cosine,
    rank) against a numpy lexsort((ids, -S)) over the whole rounded
    score matrix. Entries in {-1, 0, 1} and repeated corpus vectors put
    exact ties across the k-th slot; odd trials draw the queries from
    the corpus with exclude_self, every other one with |corpus| < 12 so
    the excluded row falls inside the top k. No Spark needed."""
    rng = np.random.default_rng(20261017)
    for trial in range(64):
        nq = int(rng.integers(1, 40))
        ne = int(rng.integers(1, 12 if trial % 4 == 3 else 300))
        k, dim = int(rng.integers(1, 12)), int(rng.integers(1, 6))
        base = rng.integers(-1, 2, (max(1, ne // 8), dim)).astype(np.float32)
        M = base[rng.integers(0, len(base), ne)]
        ids = rng.choice(10 * ne, ne, replace=False).astype(np.int64)
        exclude = trial % 2 == 1
        if exclude:
            pick = rng.integers(0, ne, nq)
            qids, Q = ids[pick], M[pick]
        else:
            qids, Q = 10 * ne + np.arange(nq), base[rng.integers(0, len(base), nq)]
        corpus = ANN._cosine_build(pd.DataFrame({"_ek": ids, "_ev": list(M)}))
        qpdf = pd.DataFrame({"_qk": qids, "_qv": list(Q)})
        qi, ci, c, r = T.topk_block(nq, corpus[0], k, *ANN._cosine_score(qpdf, corpus, exclude))
        got = sorted(zip(qids[qi].tolist(), corpus[0][ci].tolist(), (-c).tolist(), r.tolist()))

        order = np.argsort(ids)
        sid, Ms = ids[order], M[order].astype(np.float64)
        Ms /= np.maximum(np.linalg.norm(Ms, axis=1, keepdims=True), 1e-12)
        Qd = Q.astype(np.float64)
        Qd /= np.maximum(np.linalg.norm(Qd, axis=1, keepdims=True), 1e-12)
        S = np.round(Qd @ Ms.T, 6)
        exp = []
        for i in range(nq):
            s = S[i].copy()
            if exclude:
                s[sid == qids[i]] = -np.inf
            top = [j for j in np.lexsort((sid, -s))[: min(k, ne)] if s[j] > -np.inf]
            exp.extend((int(qids[i]), int(sid[j]), float(s[j]), n + 1) for n, j in enumerate(top))
        assert got == sorted(exp), f"trial {trial} nq={nq} ne={ne} k={k} dim={dim}"
