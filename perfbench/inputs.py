"""Seeded inputs, generated on the driver with ``datagen.world`` and
written as parquet that the workloads read back through Spark.

Rows of ``datagen.world`` are pure functions of their id, so the seed
only picks id offsets (the hot-city skew of the generator is kept),
plus the delta rows, the query samples and the embedding matrix.
Nothing here touches Spark: generation is benchmark set-up, never a
timed sample.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from osm_wikipedia_tag_validator_spark.datagen import world as W

# ids stay below 10^9, so image ids keep their nine-digit form
ID_SPACE = 900_000_000
# delta timestamps: strictly newer than any generated snapshot
# (first generation < 1_700_900_000, second generation < 1_701_900_000)
DELTA_TS0 = 1_702_000_000
DELTA_STREAM = 7
CHUNK = 20_000

_POINT = pa.struct([("lon", pa.float64()), ("lat", pa.float64())])
ELEMENTS_ARROW = pa.schema([
    ("type", pa.string()), ("id", pa.int64()), ("lat", pa.float64()), ("lon", pa.float64()),
    ("tags", pa.map_(pa.string(), pa.string())), ("area_identifier", pa.string()),
    ("download_timestamp", pa.int64()), ("member_points", pa.list_(_POINT)),
])


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def id_range(seed: int, stream: int, n: int) -> np.ndarray:
    """``n`` consecutive ids at a seeded offset; distinct streams of one
    seed never overlap (each owns a slice of the id space)."""
    slot = ID_SPACE // 16
    if n > slot // 2:
        raise ValueError(f"id range of {n} does not fit a stream slot")
    off = stream * slot + int(rng(seed, stream).integers(0, slot - n))
    return np.arange(off, off + n, dtype=np.int64)


def elements(ids: np.ndarray) -> pd.DataFrame:
    """Element snapshot rows (about 20% of ids carry a newer second
    generation row)."""
    parts = [W.gen_elements_batch(ids[i:i + CHUNK]) for i in range(0, max(len(ids), 1), CHUNK)]
    return pd.concat(parts, ignore_index=True)


def first_generation(els: pd.DataFrame) -> pd.DataFrame:
    return els.drop_duplicates(subset=["id"], keep="first").reset_index(drop=True)


def locations(ids: np.ndarray, key: str = "id") -> pd.DataFrame:
    """(key, lon, lat) of the elements ``ids``."""
    first = first_generation(elements(ids))
    return pd.DataFrame({key: first["id"], "lon": first["lon"], "lat": first["lat"]})


def wiki_locations() -> pd.DataFrame:
    """The wiki entities that have coordinates: (qid, lon, lat)."""
    wk = W.gen_wiki_entities()
    wk = wk[wk["has_coord"]]
    return pd.DataFrame({"qid": wk["qid"].to_numpy(), "lon": wk["lon"].to_numpy(),
                         "lat": wk["lat"].to_numpy()})


def embeddings(seed: int, stream: int, n: int, dim: int, first_id: int) -> tuple[np.ndarray, np.ndarray]:
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return ids, rng(seed, stream).standard_normal((n, dim)).astype(np.float32)


def embedding_table(ids: np.ndarray, mat: np.ndarray) -> pa.Table:
    n, dim = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    vecs = pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1)))
    return pa.table({"vec_id": pa.array(ids), "embedding": vecs})


def delta(seed: int, round_no: int, size: int, base_keys: pd.DataFrame,
          fresh_ids: np.ndarray) -> pd.DataFrame:
    """A ``newer:`` delta of ``size`` rows: about half update existing
    keys (their tags swapped for another element's, timestamp strictly
    newer), the rest insert unseen ids. ``fresh_ids`` are ids owned by
    this round for the inserts."""
    r = rng(seed, 1000 + round_no)
    n_upd = size // 2 if size > 1 else int(r.integers(0, 2))
    n_ins = size - n_upd
    pick = r.choice(len(base_keys), size=n_upd, replace=False)
    upd = base_keys.iloc[pick].reset_index(drop=True)
    donors = first_generation(elements(fresh_ids[n_ins:n_ins + n_upd]))
    upd = upd.assign(tags=donors["tags"].to_numpy())
    ins = first_generation(elements(fresh_ids[:n_ins]))
    out = pd.concat([upd, ins], ignore_index=True)
    out["download_timestamp"] = DELTA_TS0 + round_no
    return out[[f.name for f in ELEMENTS_ARROW]]


def write_parquet(table: pa.Table | pd.DataFrame, path: str, files: int,
                  schema: pa.Schema | None = None) -> int:
    """Write ``table`` as ``files`` parquet files under ``path`` (so the
    scan has that many splits); returns the row count."""
    if isinstance(table, pd.DataFrame):
        table = pa.Table.from_pandas(table, schema=schema, preserve_index=False)
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = max(1, -(-n // files))
    for i, start in enumerate(range(0, max(n, 1), step)):
        pq.write_table(table.slice(start, step), os.path.join(path, f"part-{i:05d}.parquet"))
    return n


def _canon(v):
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in sorted(v.items())}
    if isinstance(v, list):
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return sorted((k, _canon(x)) for k, x in v)  # a map
        return [_canon(x) for x in v]
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, bytes):
        return hashlib.sha256(v).hexdigest()
    return v


def table_hash(table: pa.Table | pd.DataFrame) -> str:
    """Order-insensitive content hash of a table's rows."""
    if isinstance(table, pd.DataFrame):
        table = pa.Table.from_pandas(table, preserve_index=False)
    cols = sorted(table.column_names)
    rows = sorted(repr([_canon(r[c]) for c in cols]) for r in table.to_pylist())
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def read_hash(path: str) -> str:
    return table_hash(pq.read_table(path))


def same_rows(path_a: str, path_b: str, keys: list[str]) -> bool:
    """Whether two parquet outputs hold the same rows, in any order:
    both are sorted on ``keys`` (unique per row) and compared column by
    column; nullability flags of the schemas are not compared."""
    a, b = pq.read_table(path_a), pq.read_table(path_b)
    if sorted(a.column_names) != sorted(b.column_names) or a.num_rows != b.num_rows:
        return False
    order = [(k, "ascending") for k in keys]
    a, b = a.sort_by(order), b.sort_by(order)
    return all(a.column(c).equals(b.column(c)) for c in a.column_names)
