"""Output checks. Each returns a list of problems; empty means correct.

The references are independent of the code under test: the pure-Python
mosaic oracle in tests/oracle.py, a numpy haversine brute force over
scene centroids, and the one-shot textops LSH pairs (itself locked to
the streamed pairs by tests/test_streaming.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from mosaic_engine import mosaic as mz
from tests import oracle

EARTH_R_M = 6371008.8


# ------------------------------------------------------------- mosaic
def scene_records(table: pa.Table) -> list[dict]:
    recs = table.select(
        [
            "image_id",
            "path",
            "row",
            "acquisition_date",
            "cloud_cover",
            "min_lon",
            "min_lat",
            "max_lon",
            "max_lat",
            "fp_xs",
            "fp_ys",
        ]
    ).to_pylist()
    for r in recs:
        r["acquisition_date"] = pd.Timestamp(r["acquisition_date"])
    return recs


def oracle_tiles(table: pa.Table, seed: int, n_tiles: int, zoom: int) -> dict:
    """Oracle asset lists of a seeded tile sample: one tile under each
    of `n_tiles` random scenes. Per-tile selection reads only the
    scenes touching the tile, so the oracle runs on the scenes whose
    bbox meets each tile's bounds."""
    rng = np.random.default_rng(seed)
    recs = scene_records(table.take(rng.choice(table.num_rows, n_tiles, replace=False)))
    out = {}
    for rec in recs:
        qks = sorted(oracle.scene_quadkeys(rec, zoom))
        qk = qks[int(rng.integers(0, len(qks)))]
        x, y, z = oracle.quadkey_to_tile(qk)
        w, s, e, n = oracle.tile_bounds(x, y, z)
        near = (
            (np.asarray(table["min_lon"]) <= e)
            & (np.asarray(table["max_lon"]) >= w)
            & (np.asarray(table["min_lat"]) <= n)
            & (np.asarray(table["max_lat"]) >= s)
        )
        sub = table.filter(pa.array(near))
        doc = oracle.features_to_mosaic(scene_records(sub), quadkey_zoom=zoom)
        out[qk] = doc["tiles"][qk]
    return out


def check_mosaic_doc(doc: dict, n_assignments: int) -> list[str]:
    """Structural checks of a whole engine mosaic."""
    errs = mz.validate_mosaic(doc)
    got = sum(len(v) for v in doc.get("tiles", {}).values())
    if got != n_assignments:
        errs.append(f"doc holds {got} assignments, build reported {n_assignments}")
    return errs


def check_mosaic_sample(doc: dict, table: pa.Table, expected: dict) -> list[str]:
    """Sampled tiles byte-equal to the oracle; bounds equal the extent
    of the scenes (every generated scene lands in some tile)."""
    errs = []
    got = {qk: doc["tiles"].get(qk, []) for qk in expected}
    if oracle.canonical_json(got) != oracle.canonical_json(expected):
        errs.append("sampled tiles differ from the oracle")
    want_bounds = [
        float(pc.min(table["min_lon"]).as_py()),
        float(pc.min(table["min_lat"]).as_py()),
        float(pc.max(table["max_lon"]).as_py()),
        float(pc.max(table["max_lat"]).as_py()),
    ]
    if doc["bounds"] != want_bounds:
        errs.append(f"bounds {doc['bounds']} != {want_bounds}")
    return errs


# ---------------------------------------------------------------- kNN
def centroids(table: pa.Table) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, lon, lat) of scene centroids, as the engine defines them
    (bbox midpoints; the bulk generator makes no antimeridian scenes)."""
    lon = (np.asarray(table["min_lon"]) + np.asarray(table["max_lon"])) / 2
    lat = (np.asarray(table["min_lat"]) + np.asarray(table["max_lat"])) / 2
    return np.asarray(table["image_id"].to_pylist(), dtype=object), lon, lat


def _haversine(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dlat = p2 - p1
    dlon = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_R_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def check_knn(
    result: pa.Table, probes: pa.Table, cents, sample: np.ndarray
) -> list[str]:
    """Every probe has exactly k rows ranked 1..k; sampled probes match
    the brute force on (dist, id) order, ids exactly, distances to 1e-9
    relative."""
    ids, slon, slat = cents
    errs = []
    counts = result.group_by("query_id").aggregate(
        [("rank", "count"), ("rank", "min"), ("rank", "max")]
    )
    got_n = dict(zip(counts["query_id"].to_pylist(), counts["rank_count"].to_pylist()))
    want_n = {
        q: min(k, len(ids))
        for q, k in zip(probes["query_id"].to_pylist(), probes["k"].to_pylist())
    }
    if got_n != want_n:
        errs.append("rows per probe differ from k")
    elif pc.min(counts["rank_min"]).as_py() != 1 or not pc.all(
        pc.equal(counts["rank_max"], counts["rank_count"])
    ).as_py():
        errs.append("ranks are not 1..k")
    pid = np.asarray(probes["query_id"])[sample]
    plon = np.asarray(probes["lon"])[sample]
    plat = np.asarray(probes["lat"])[sample]
    rows = result.filter(pc.is_in(result["query_id"], pa.array(pid))).to_pandas()
    groups = dict(tuple(rows.sort_values(["query_id", "rank"]).groupby("query_id")))
    for q, lon, lat in zip(pid, plon, plat):
        d = _haversine(lon, lat, slon, slat)
        k = want_n[q]
        near = np.nonzero(d <= np.partition(d, k - 1)[k - 1])[0]
        order = near[np.lexsort((ids[near], d[near]))][:k]
        got = groups.get(q)
        if got is None:
            errs.append(f"probe {q}: no rows")
        elif list(got["image_id"]) != list(ids[order]) or not np.allclose(
            got["dist_m"].to_numpy(), d[order], rtol=1e-9, atol=1e-6
        ):
            errs.append(f"probe {q}: neighbours differ from brute force")
    return errs


# -------------------------------------------------------------- dedup
def _clusters(pairs: set, ids) -> set:
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict = {}
    for i in parent:
        groups.setdefault(find(i), set()).add(i)
    return {frozenset(g) for g in groups.values() if len(g) > 1}


def check_dedup(streamed: set, one_shot: set, boiler: set) -> list[str]:
    """Streamed pairs equal the one-shot pairs outside the star-guarded
    boilerplate bucket, and both give the same clusters."""
    errs = []
    plain = lambda ps: {p for p in ps if p[0] not in boiler and p[1] not in boiler}
    if plain(streamed) != plain(one_shot):
        errs.append(
            f"pairs differ: {len(plain(streamed) - plain(one_shot))} extra, "
            f"{len(plain(one_shot) - plain(streamed))} missing"
        )
    ids = {i for p in streamed | one_shot for i in p}
    if _clusters(streamed, ids) != _clusters(one_shot, ids):
        errs.append("clusters differ from one-shot minhash_lsh_pairs")
    return errs
