"""Round-3 robustness fixes: ANN corpus-size guard, latest_per_key
determinism, structural-corruption handling in verify operators, and
the corrupt-input → ValueError codec contract."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_wikipedia_tag_validator_spark.datagen import audio as A
from osm_wikipedia_tag_validator_spark.datagen import codecs as C
from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.operators import ann as ANN
from osm_wikipedia_tag_validator_spark.operators import audio_ops as AO
from osm_wikipedia_tag_validator_spark.operators import images_ops as IO
from osm_wikipedia_tag_validator_spark.operators import topk as T
from osm_wikipedia_tag_validator_spark.operators.upsert import latest_per_key


def _embeddings(spark, n=60, dim=8):
    rng = np.random.default_rng(3)
    X = rng.standard_normal((n, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_fast_over_limit_never_collects(spark, monkeypatch):
    """An over-limit corpus must never reach the driver AT ALL: the
    round-5 guard convention (unified with knn_bruteforce) decides via
    one bounded probe — zero calls of the shared broadcast path's driver
    pull (`topk._collect`) on the overflow path — then routes to the
    blocked cogroup plan and still returns the exact top-k."""
    df = _embeddings(spark)
    q = df.filter(F.col("vec_id") < 10)

    real = T._collect
    pulled = []

    def spy(side, budget):
        pdf = real(side, budget)
        pulled.append(len(pdf))
        return pdf

    monkeypatch.setattr(T, "_collect", spy)
    got = (
        ANN.cosine_topk_fast(q, df, k=3, max_inline_corpus=10)
        .toPandas()
        .sort_values(["vec_id", "rank"])
    )
    # NOTHING is collected on the overflow path — the count guard runs
    # before any driver pull (the old convention pulled max+1 full
    # embedding rows and discarded them)
    assert pulled == []
    exp = (
        ANN.cosine_topk_native(q, df, k=3)
        .toPandas()
        .sort_values(["vec_id", "rank"])
    )
    assert got["neighbor_id"].tolist() == exp["neighbor_id"].tolist()
    assert np.allclose(got["cosine"].to_numpy(), exp["cosine"].to_numpy())


def test_cosine_topk_fast_under_limit_uses_matrix(spark):
    df = _embeddings(spark)
    q = df.filter(F.col("vec_id") < 10)
    got = (
        ANN.cosine_topk_fast(q, df, k=3, max_inline_corpus=1000)
        .toPandas()
        .sort_values(["vec_id", "rank"])
    )
    exp = ANN.cosine_topk_native(q, df, k=3).toPandas().sort_values(["vec_id", "rank"])
    assert got["neighbor_id"].tolist() == exp["neighbor_id"].tolist()


def test_latest_per_key_deterministic_on_ts_ties(spark):
    """Equal-timestamp rows within a key must pick a stable winner —
    a pure function of row content, invariant to partitioning and
    input order."""
    rows = [
        ("node", 1, 100, f"payload-{i}") for i in range(6)
    ] + [("way", 2, 50, "only")]
    pdf = pd.DataFrame(rows, columns=["type", "id", "download_timestamp", "payload"])
    winners = []
    for perm_seed, nparts in [(0, 1), (1, 8), (2, 3)]:
        shuffled = pdf.sample(frac=1.0, random_state=perm_seed)
        df = spark.createDataFrame(shuffled).repartition(nparts)
        out = latest_per_key(df).toPandas().sort_values(["type", "id"])
        winners.append(out["payload"].tolist())
    assert winners[0] == winners[1] == winners[2]
    assert len(winners[0]) == 2


def test_image_structural_corruption_flags_row(spark):
    """Damaging a PNG/DCT8 *header* (not just the payload) must flip
    the row to False — never crash the mapInPandas task."""
    images = W.spark_images(spark, 12)
    corrupt = images.withColumn(
        "bytes",
        F.when(
            F.col("image_id") == "img-000000002",
            # truncate to 10 bytes: kills any container structure
            F.substring(F.col("bytes"), 1, 10),
        ).otherwise(F.col("bytes")),
    )
    v = IO.verify_invariants(corrupt).toPandas().set_index("image_id")
    assert not v.loc["img-000000002", "phash_match"]
    assert v.loc["img-000000002", "psnr"] == 0.0
    assert v.drop(index="img-000000002")["phash_match"].all()

    d = IO.compare_against_reference(corrupt, images).toPandas().set_index("image_id")
    assert not d.loc["img-000000002", "pixels_ok"]
    assert d.drop(index="img-000000002")["pixels_ok"].all()


def test_audio_structural_corruption_flags_row(spark):
    audio = A.spark_audio(spark, 10)
    corrupt = audio.withColumn(
        "bytes",
        F.when(
            F.col("audio_id") == "aud-000000001",
            # overwrite the RIFF magic → structural damage
            F.concat(F.lit(b"XXXX"), F.substring(F.col("bytes"), 5, 1 << 24)),
        ).otherwise(F.col("bytes")),
    )
    v = AO.verify_invariants(corrupt).toPandas().set_index("audio_id")
    assert not v.loc["aud-000000001", "samples_exact"]
    assert not v.loc["aud-000000001", "fp_match"]
    assert v.drop(index="aud-000000001")["samples_exact"].all()


def test_codec_corrupt_input_raises_valueerror():
    img = np.full((16, 16, 3), 77, dtype=np.uint8)
    for fmt in ["png", "dct8"]:
        data = bytearray(C.encode_image(img, fmt))
        # corrupt the compressed payload → zlib damage
        data[len(data) // 2] ^= 0xFF
        with pytest.raises(ValueError):
            C.decode_image(bytes(data), fmt)
        # truncate mid-header → struct damage
        with pytest.raises(ValueError):
            C.decode_image(bytes(C.encode_image(img, fmt))[:12], fmt)
    # WAV: truncated chunk header
    wav = A.encode_wav(A.synth_samples(0), 16000)
    with pytest.raises(ValueError):
        A.decode_wav(wav[:20])


def test_neardup_by_phash_default_recall(spark):
    """Default max_hamming is 6 again (8 bands make it exact)."""
    import inspect

    sig = inspect.signature(IO.neardup_by_phash)
    assert sig.parameters["max_hamming"].default == 6


def test_latest_per_key_with_nested_map_schema(spark):
    """The content fingerprint must handle maps at ANY nesting depth —
    xxhash64 rejects them even inside array<struct<...>> (the shape of
    the validator's proposed_tagging_changes struct)."""
    rows = [
        ("node", 1, 100, [{"m": {"wikipedia": "en:A"}}]),
        ("node", 1, 100, [{"m": {"wikipedia": "en:B"}}]),
        ("node", 1, 90, [{"m": {"wikipedia": "en:C"}}]),
        ("way", 2, 50, []),
    ]
    df = spark.createDataFrame(
        rows,
        "type string, id long, download_timestamp long, "
        "changes array<struct<m:map<string,string>>>",
    )
    got = latest_per_key(df).toPandas().sort_values(["type", "id"])
    assert len(got) == 2  # analysis no longer throws; one winner per key
    assert got["download_timestamp"].tolist() == [100, 50]
    # determinism across shuffles: same winner on a repartitioned input
    again = latest_per_key(df.repartition(7)).toPandas().sort_values(["type", "id"])
    assert [str(c) for c in got["changes"]] == [str(c) for c in again["changes"]]


# --- prefixed-pair report semantics + NULL-status sync ---------------

def _mini_validate(spark, tags):
    from osm_wikipedia_tag_validator_spark.operators import validator as V
    from tests.test_upsert_validator import _elem, _mini_world

    regions, wiki = _mini_world(spark)
    return V.validate(_elem(spark, tags), wiki, regions).toPandas()


def test_prefixed_pair_prerequisite_uses_actual_keys(spark):
    """prerequisite_still_holds looks keys up in the live element's
    tags, so a prefixed pair must list the PREFIXED key names
    (reference reports per validated key family,
    generate_webpage_with_error_output.py:216-234)."""
    out = _mini_validate(
        spark, {"sculptor:wikipedia": "en:Good", "sculptor:wikidata": "Q2"}
    )
    assert len(out) == 1
    rep = out["report"].iloc[0]
    assert rep["error_id"].endswith("- for sculptor prefixed tags")
    assert set(rep["prerequisite"].keys()) == {
        "sculptor:wikipedia",
        "sculptor:wikidata",
    }


def test_prefixed_redirect_class_carries_proposed_change(spark):
    """The obvious-fix contract extends to prefixed variants: the
    stem-matched dispatch emits the same from/to map under the
    prefixed key."""
    out = _mini_validate(
        spark, {"sculptor:wikipedia": "en:Redirecting", "sculptor:wikidata": "Q1"}
    )
    assert len(out) == 1
    rep = out["report"].iloc[0]
    assert rep["error_id"] == (
        "wikipedia wikidata mismatch - follow wikipedia redirect"
        " - for sculptor prefixed tags"
    )
    ch = rep["proposed_tagging_changes"][0]
    assert ch["from"] == {"sculptor:wikipedia": "en:Redirecting"}
    assert ch["to"] == {"sculptor:wikipedia": "en:Good"}


def test_second_prefixed_family_still_validated(spark):
    """A prefixed-pair element carrying a SECOND prefixed family gets
    the out-of-pair shape check on that family (round-3 fix: secondary
    keys were only extracted when the validated pair was plain)."""
    out = _mini_validate(
        spark,
        {
            "architect:wikipedia": "en:Good",
            "architect:wikidata": "Q1",
            "subject:wikidata": "banana",
        },
    )
    assert len(out) == 1
    assert (
        out["error_id"].iloc[0]
        == "malformed secondary wikidata tag - for subject prefixed tags"
    )


def test_challenge_sync_null_status_left_alone(spark):
    """A NULL-status MR task is an EXISTING task of unknown state: it
    must not be re-created (treated absent) nor deleted (treated
    live-shown stale)."""
    from osm_wikipedia_tag_validator_spark.operators import reports as R

    candidates = spark.createDataFrame(
        [("e1", "u1")], "error_id string, osm_object_url string"
    )
    challenges = spark.createDataFrame([("e1",)], "error_id string")
    mr_tasks = spark.createDataFrame(
        [("e1", "u1", None), ("e1", "u2", None)],
        "error_id string, osm_object_url string, status string",
    )
    plan = R.challenge_sync_plan(candidates, challenges, mr_tasks).toPandas()
    # u1: candidate already tracked (unknown) -> no action;
    # u2: stale but not provably live-shown -> no delete
    assert len(plan) == 0


def test_collect_polygons_size_guard(spark, monkeypatch):
    """An over-limit polygon dim fails fast with a clear error instead
    of an unbounded driver collect (same guard class as kNN/ANN)."""
    from osm_wikipedia_tag_validator_spark.operators import spatial_join as SJ

    ring = [{"lon": 0.0, "lat": 0.0}, {"lon": 1.0, "lat": 0.0}, {"lon": 0.0, "lat": 1.0}]
    polys = spark.createDataFrame(
        [(f"r{i}", f"p{i}", [ring]) for i in range(5)],
        "region string, polygon_id string, "
        "rings array<array<struct<lon:double,lat:double>>>",
    )
    monkeypatch.setattr(SJ, "MAX_POLYGON_DIM_ROWS", 3)
    with pytest.raises(ValueError, match="polygon dim exceeds"):
        SJ.collect_polygons(polys)
    monkeypatch.setattr(SJ, "MAX_POLYGON_DIM_ROWS", 5)
    assert len(SJ.collect_polygons(polys)) == 5
