"""Seeded inputs. The same seed gives the same tables; the engine sees
only what is written here (parquet files or Arrow-backed probe tables).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mosaic_engine import datagen

# one shared template: every copy lands in the same LSH buckets, so the
# bucket outgrows textops.LSH_MAX_BUCKET and trips the star guard
BOILERPLATE = (
    "subscribe to our newsletter terms of service privacy policy all "
    "rights reserved contact us about careers press sitemap help center "
    "cookie settings do not sell my information"
)


def write_scenes(table: pa.Table, out_dir: str, n_files: int) -> str:
    """Several parquet files, as a scene catalogue export would be."""
    os.makedirs(out_dir)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(out_dir, f"part-{i}.parquet")
        )
    return out_dir


def scenes(n: int, seed: int, paths: int = 50, rows: int = 20) -> pa.Table:
    return datagen.gen_scenes_bulk(n, paths=paths, rows=rows, seed=seed)


def knn_probes(n: int, seed: int, first_id: int, hotspot: bool) -> pa.Table:
    """A probe batch. Uniform batches come from datagen.gen_knn_queries
    (10% out of the scene extent); hotspot batches fall in one seeded
    4x4 degree box inside the extent."""
    if not hotspot:
        t = datagen.gen_knn_queries(n, seed=seed)
        lon, lat, k = t["lon"], t["lat"], t["k"]
    else:
        rng = np.random.default_rng(seed)
        clon = rng.uniform(-125.0, -75.0)
        clat = rng.uniform(28.0, 55.0)
        lon = pa.array(clon + rng.uniform(-2.0, 2.0, n))
        lat = pa.array(clat + rng.uniform(-2.0, 2.0, n))
        k = pa.array(rng.choice([1, 5, 10], n).astype(np.int32))
    return pa.table(
        {
            "query_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "lon": lon,
            "lat": lat,
            "k": k,
        }
    )


def _words(seed: int, doc_id: int, vocab: int, n_words: int) -> list[str]:
    r = np.random.default_rng([seed, doc_id])
    return [f"w{v}" for v in r.integers(0, vocab, size=n_words)]


def docs_batch(
    seed: int,
    first_id: int,
    n: int,
    boiler_frac: float,
    near_frac: float = 0.10,
    vocab: int = 5000,
    n_words: int = 60,
) -> tuple[pa.Table, list[int]]:
    """Doc ids [first_id, first_id + n). A `near_frac` tail copies an
    earlier doc (any batch) with one word changed; `boiler_frac` are the
    boilerplate template. Returns the table and its boilerplate ids."""
    rng = np.random.default_rng([seed, first_id, n])
    ids, texts, boiler = [], [], []
    for doc_id in range(first_id, first_id + n):
        u = rng.random()
        if u < boiler_frac:
            text = BOILERPLATE
            boiler.append(doc_id)
        elif u < boiler_frac + near_frac and doc_id > 0:
            w = _words(seed, int(rng.integers(0, doc_id)), vocab, n_words)
            w[int(rng.integers(0, n_words))] = f"w{int(rng.integers(0, vocab))}"
            text = " ".join(w)
        else:
            text = " ".join(_words(seed, doc_id, vocab, n_words))
        ids.append(doc_id)
        texts.append(text)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    return table, boiler
