"""kNN (banded vs brute vs scalar oracle) + raster↔vector join + cells."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from mosaic_engine import cells, datagen, ops
from tests import oracle


def _oracle_centroid_lon(min_lon, max_lon):
    """Footprint centroid lon honoring the crossing convention
    (min_lon > max_lon): rotate the naive midpoint by 180° and wrap."""
    raw = (min_lon + max_lon) / 2
    if min_lon > max_lon:
        return ((raw + 360.0) % 360.0) - 180.0
    return raw


def _oracle_knn(scene_records, query_recs):
    """Scalar brute-force top-k with (dist, image_id) tiebreak."""
    cents = [
        (
            r["image_id"],
            _oracle_centroid_lon(r["min_lon"], r["max_lon"]),
            (r["min_lat"] + r["max_lat"]) / 2,
        )
        for r in scene_records
    ]
    out = {}
    for q in query_recs:
        scored = sorted(
            (
                (oracle.haversine_m(q["lon"], q["lat"], lon, lat), iid)
                for iid, lon, lat in cents
            ),
        )[: q["k"]]
        out[q["query_id"]] = [(i + 1, iid, d) for i, (d, iid) in enumerate(scored)]
    return out


def test_cells_roundtrip_and_parent():
    rng = np.random.default_rng(1)
    for level in (0, 3, 9, 15, 29):
        xs = rng.integers(0, 1 << level, 200) if level else np.zeros(200, np.int64)
        ys = rng.integers(0, 1 << level, 200) if level else np.zeros(200, np.int64)
        packed = cells.pack_cell(xs, ys, level)
        rx, ry, rl = cells.unpack_cell(packed)
        assert (rx == xs).all() and (ry == ys).all() and (rl == level).all()
        if level:
            par = cells.cell_parent(packed)
            px, py, pl = cells.unpack_cell(par)
            assert (px == xs >> 1).all() and (py == ys >> 1).all()
            assert (pl == level - 1).all()


def test_cell_neighbors_wrap_and_clamp():
    nb = cells.neighbor_cells_3x3(np.array([-179.9]), np.array([0.0]), 4)
    xs, ys, _ = cells.unpack_cell(nb[0])
    assert 15 in xs and 0 in xs  # antimeridian x-wrap
    nb = cells.neighbor_cells_3x3(np.array([0.0]), np.array([84.9]), 4)
    _, ys, _ = cells.unpack_cell(nb[0])
    assert ys.min() == 0  # clamped at the top row


@pytest.mark.parametrize("mode", ["banded", "brute"])
def test_knn_matches_oracle(spark, scenes_df, scene_records, fixture_dir, mode):
    queries = spark.read.parquet(os.path.join(fixture_dir, "knn_queries.parquet"))
    if mode == "banded":
        res = ops.knn_join(scenes_df, queries, level=5)
    else:
        res = ops.knn_bruteforce(scenes_df, queries)
    got: dict[int, list] = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["image_id"], r["dist_m"])
        )
    for q in got:
        got[q].sort()
    qrecs = pq.read_table(
        os.path.join(fixture_dir, "knn_queries.parquet")
    ).to_pylist()
    exp = _oracle_knn(scene_records, qrecs)
    assert set(got) == set(exp)
    for qid in exp:
        g, e = got[qid], exp[qid]
        assert [(r, i) for r, i, _ in g] == [(r, i) for r, i, _ in e], qid
        for (_, _, gd), (_, _, ed) in zip(g, e):
            assert gd == pytest.approx(ed, rel=1e-12)


def test_rv_join_matches_oracle(spark, scenes_df, scene_records, fixture_dir):
    vectors = spark.read.parquet(
        os.path.join(fixture_dir, "vector_tiles.parquet")
    )
    got = {
        (r["quadkey"], r["image_id"], r["feature_id"])
        for r in ops.raster_vector_join(scenes_df, vectors, 8).collect()
    }
    vrecs = pq.read_table(
        os.path.join(fixture_dir, "vector_tiles.parquet")
    ).to_pylist()
    exp = set()
    vq = {}
    for v in vrecs:
        sc = {
            "fp_xs": v["xs"],
            "fp_ys": v["ys"],
            "min_lon": min(v["xs"]),
            "min_lat": min(v["ys"]),
            "max_lon": max(v["xs"]),
            "max_lat": max(v["ys"]),
        }
        vq[v["feature_id"]] = oracle.scene_quadkeys(sc, 8)
    for s in scene_records:
        sq = oracle.scene_quadkeys(s, 8)
        for fid, qs in vq.items():
            for qk in sq & qs:
                exp.add((qk, s["image_id"], fid))
    assert got == exp


def test_knn_tiebreak_by_image_id(spark):
    """Equal distances break ties by image_id ascending."""
    from pyspark.sql import Row

    scenes = spark.createDataFrame(
        [
            Row(image_id="B", min_lon=9.0, max_lon=11.0, min_lat=-1.0, max_lat=1.0),
            Row(image_id="A", min_lon=9.0, max_lon=11.0, min_lat=-1.0, max_lat=1.0),
            Row(image_id="C", min_lon=19.0, max_lon=21.0, min_lat=-1.0, max_lat=1.0),
        ]
    )
    queries = spark.createDataFrame(
        [Row(query_id=0, lon=10.0, lat=0.0, k=2)]
    )
    for fn in (ops.knn_bruteforce, lambda s, q: ops.knn_join(s, q, level=6)):
        got = sorted(
            (r["rank"], r["image_id"]) for r in fn(scenes, queries).collect()
        )
        assert got == [(1, "A"), (2, "B")]


@pytest.mark.parametrize("level", [3, 5, 8])
def test_knn_adversarial_probes_match_brute(spark, scenes_df, level):
    """Cell-stats pruning must stay exact for probes the old ring-guard
    mishandled: high-latitude (poleward coverage < cos(lat_query) band
    estimate), far out-of-extent, antimeridian, and on-cell-corner
    probes — at coarse AND fine levels (VERDICT r1 'What's wrong' #2/#3,
    ADVICE r1 poleward-guard finding)."""
    from pyspark.sql import Row

    probes = [
        (0, -120.0, 79.2, 3),    # poleward of the corpus, coarse-level trap
        (1, -118.0, 74.0, 5),
        (2, 179.9, 30.0, 4),     # antimeridian side, corpus far west of it
        (3, -179.9, -30.0, 4),
        (4, 55.0, -80.0, 7),     # deep out-of-extent southern ocean
        (5, -118.125, 30.0, 3),  # exactly on a level-5 cell corner lon
        (6, -121.3, 33.9, 1),    # inside the corpus extent
        (7, 0.0, 0.0, 2),
    ]
    queries = spark.createDataFrame(
        [Row(query_id=i, lon=lo, lat=la, k=k) for i, lo, la, k in probes]
    )
    banded = ops.knn_join(scenes_df, queries, level=level)
    brute = ops.knn_bruteforce(scenes_df, queries)
    got = sorted(map(tuple, banded.collect()))
    exp = sorted(map(tuple, brute.collect()))
    assert [g[:3] for g in got] == [e[:3] for e in exp]
    for g, e in zip(got, exp):
        assert g[3] == pytest.approx(e[3], rel=1e-12)


def test_knn_random_global_probes_match_brute(spark, scenes_df):
    """120 seeded-random probes across the full globe — including
    latitudes beyond the mercator clamp (±85.05..) and random k — must
    equal brute force at coarse AND fine banding levels. This sweeps
    the bound math (wrapped lon, meridian stationary latitude, R*
    counting) over inputs no hand-written case anticipates."""
    from pyspark.sql import Row

    rng = np.random.default_rng(42)
    n = 120
    lons = rng.uniform(-180.0, 180.0, n)
    lats = rng.uniform(-89.0, 89.0, n)
    ks = rng.integers(1, 8, n)
    # pin a few extremes over the random draw
    lons[:4] = [-180.0, 180.0, 0.0, 179.999]
    lats[:4] = [88.9, -88.9, 0.0, -85.0511]
    queries = spark.createDataFrame(
        [Row(query_id=i, lon=float(lons[i]), lat=float(lats[i]), k=int(ks[i]))
         for i in range(n)]
    )
    exp = sorted(map(tuple, ops.knn_bruteforce(scenes_df, queries).collect()))
    for level in (2, 6, 9):
        got = sorted(
            map(tuple, ops.knn_join(scenes_df, queries, level=level).collect())
        )
        assert [g[:3] for g in got] == [e[:3] for e in exp], f"level={level}"
        for g, e in zip(got, exp):
            assert g[3] == pytest.approx(e[3], rel=1e-12)


@pytest.mark.parametrize("level", [6, 9])
def test_knn_scene_beyond_mercator_clamp_stays_exact(spark, level):
    """A scene centroid poleward of the mercator clamp (±85.05°) maps
    into the edge tile row but physically sits up to ~550 km OUTSIDE
    that row's rect. At fine levels (cell diameter < the overflow) the
    un-stretched rect's maxd underestimates the pruning radius R*, so
    the TRUE nearest scene's cell gets pruned and the distant polar
    scene is returned (code-review r2 finding): probe just south of the
    top row, polar decoy at 544 km, true neighbor at ~300 km in a cell
    whose lower bound exceeds the broken R* of ~90 km."""
    from pyspark.sql import Row

    scenes = spark.createDataFrame(
        [
            Row(image_id="POLAR", min_lon=-119.0, max_lon=-117.0,
                min_lat=89.8, max_lat=90.0),     # centroid (-118, 89.9)
            Row(image_id="NEAR", min_lon=-87.5, max_lon=-86.5,
                min_lat=84.5, max_lat=85.5),     # centroid (-87, 85.0)
        ]
    )
    queries = spark.createDataFrame([Row(query_id=0, lon=-118.0, lat=85.0, k=1)])
    got = ops.knn_join(scenes, queries, level=level).collect()
    exp = ops.knn_bruteforce(scenes, queries).collect()
    assert exp[0]["image_id"] == "NEAR"  # the construction is adversarial
    assert [tuple(r)[:3] for r in got] == [tuple(r)[:3] for r in exp]
    assert got[0]["dist_m"] == pytest.approx(exp[0]["dist_m"], rel=1e-12)


def test_knn_auto_level_exact_on_dense_and_sparse(spark, scenes_df):
    """(VERDICT r2 #7) level=None auto-picks the banding level from
    corpus density; exactness must hold on a dense corpus (the scenes
    fixture) and a sparse scattered one, probes in- and out-of-extent."""
    from pyspark.sql import Row

    queries = spark.createDataFrame(
        [
            Row(query_id=0, lon=-120.0, lat=34.0, k=3),
            Row(query_id=1, lon=10.0, lat=-70.0, k=2),  # far out of extent
            Row(query_id=2, lon=179.5, lat=40.0, k=4),
        ]
    )
    got = sorted(map(tuple, ops.knn_join(scenes_df, queries).collect()))
    exp = sorted(map(tuple, ops.knn_bruteforce(scenes_df, queries).collect()))
    assert [g[:3] for g in got] == [e[:3] for e in exp]

    sparse = spark.createDataFrame(
        [
            Row(image_id=f"S{i}", min_lon=float(lo), max_lon=float(lo + 2),
                min_lat=float(la), max_lat=float(la + 2))
            for i, (lo, la) in enumerate(
                [(-150, -40), (20, 60), (100, -10), (170, 10), (-60, 45)]
            )
        ]
    )
    got = sorted(map(tuple, ops.knn_join(sparse, queries).collect()))
    exp = sorted(map(tuple, ops.knn_bruteforce(sparse, queries).collect()))
    assert [g[:3] for g in got] == [e[:3] for e in exp]


def test_knn_pick_level_heuristic_shape():
    """~max(16, 4k) scenes per nonempty cell, clamped to
    [KNN_MIN_LEVEL, KNN_MAX_LEVEL] (cap raised 12 → 14 in r5 for the
    occupancy-verified bump; knn_index refines this closed-form guess
    against measured row-weighted occupancy)."""
    assert ops.knn_pick_level(1_000_000, 3) == 8
    assert ops.knn_pick_level(10_000, 3) == 5
    assert ops.knn_pick_level(100, 3) == 3          # clamp low
    assert ops.knn_pick_level(10**12, 8) == ops.KNN_MAX_LEVEL  # clamp high
    assert ops.knn_pick_level(0, 1) == 3            # empty corpus safe


def test_knn_rect_bounds_bracket_sampled_distances():
    """_bounds_fast_np's (a_lo, a_hi) — the haversine-argument bounds
    every cascade and refinement step prunes with — must bracket
    a = sin²(d/2R) of the true min/max distance from the probe to ANY
    point of the cell rect: the R* pruning rule is exact only under
    that invariant. a_hi is the exact rect maximum (Δλ_max +
    max-stationary latitude); adversarial probe modes: uniform, near
    the cell's antipodal meridian (Δλ_max = 180 interior case), inside
    the cell, and near-polar."""
    from mosaic_engine.geometry import haversine_m

    rng = np.random.default_rng(1234)
    for trial in range(200):
        level = int(rng.integers(1, 14))
        z2 = 1 << level
        x = int(rng.integers(0, z2))
        y = int(rng.integers(0, z2))
        cell = np.array([(x << 30) + y], dtype=np.int64)
        cw, cs, ce, cn = ops._cell_rect_np(cell, level)
        mode = trial % 4
        if mode == 0:
            lon = float(rng.uniform(-180, 180))
            lat = float(rng.uniform(-89.9, 89.9))
        elif mode == 1:
            lon = float(
                ((cw[0] + ce[0]) / 2 + 180 + rng.uniform(-2, 2) + 540)
                % 360 - 180
            )
            lat = float(rng.uniform(-89.9, 89.9))
        elif mode == 2:
            lon = float(rng.uniform(cw[0], ce[0]))
            lat = float(
                rng.uniform(max(cs[0], -89.9), min(cn[0], 89.9))
            )
        else:
            lon = float(rng.uniform(-180, 180))
            lat = float(rng.choice([-89.95, 89.95]))
        p1 = np.radians(np.array([lat]))
        a_lo, a_hi = ops._bounds_fast_np(
            np.array([lon]), np.sin(p1), np.cos(p1), np.tan(p1),
            ops._cell_attrs_np(cell, level),
        )
        gs = np.linspace(0, 1, 21)
        GL, GP = np.meshgrid(
            cw[0] + gs * (ce[0] - cw[0]), cs[0] + gs * (cn[0] - cs[0])
        )
        d = haversine_m(
            np.full(GL.size, lon), np.full(GL.size, lat),
            GL.ravel(), GP.ravel(),
        )
        a = np.sin(d / (2.0 * ops.EARTH_R_M)) ** 2
        assert a_lo[0] <= a.min() + 1e-15, (level, x, y, lon, lat)
        assert a_hi[0] >= a.max() - 1e-15, (level, x, y, lon, lat)


@pytest.mark.parametrize("saved", [False, True])
def test_knn_fine_refinement_past_collect_cap_matches_brute(
    spark, scenes_df, scene_records, tmp_path, monkeypatch, saved
):
    """A stats dim larger than FINE_COLLECT_ROWS stops the in-kernel
    cascade at the level-9 rollup (prep cap 9 < level) and refines
    the rest over a distributed pcell join. That path must stay exact
    for global and in-extent probes with per-query k, on an inline
    index and on a saved-then-loaded one (prep_cap persisted)."""
    from pyspark.sql import Row

    monkeypatch.setattr(ops, "FINE_COLLECT_ROWS", 10)
    rng = np.random.default_rng(2024)
    cents = [
        (_oracle_centroid_lon(r["min_lon"], r["max_lon"]),
         (r["min_lat"] + r["max_lat"]) / 2)
        for r in scene_records
    ]
    probes = []
    for i in range(60):  # global
        probes.append((float(rng.uniform(-180, 180)),
                       float(rng.uniform(-88, 88))))
    for i in rng.integers(0, len(cents), 60):  # in extent, near scenes
        lon, lat = cents[i]
        probes.append((float(lon + rng.uniform(-0.5, 0.5)),
                       float(np.clip(lat + rng.uniform(-0.5, 0.5), -89, 89))))
    ks = rng.integers(1, 8, len(probes))
    queries = spark.createDataFrame(
        [Row(query_id=i, lon=lo, lat=la, k=int(ks[i]))
         for i, (lo, la) in enumerate(probes)]
    )
    exp = sorted(map(tuple, ops.knn_bruteforce(scenes_df, queries).collect()))
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev_batch = spark.conf.get(batch_conf)
    for level in (11, 12):
        idx = ops.knn_index(scenes_df, level=level)
        if saved:
            path = str(tmp_path / f"idx_{level}")
            ops.knn_index_save(idx, path)
            meta = spark.read.parquet(os.path.join(path, "meta")).first()
            assert meta["prep_cap"] == 9
            idx = ops.knn_index_load(spark, path)
        # tiny Arrow batches split probes' pair runs across batches, so
        # the refinement's carry of the trailing probe is exercised
        spark.conf.set(batch_conf, "7")
        try:
            got = sorted(
                map(tuple, ops.knn_join(None, queries, index=idx).collect())
            )
        finally:
            spark.conf.set(batch_conf, prev_batch)
        assert idx.prep[0]["cap"] == 9 < level
        assert [g[:3] for g in got] == [e[:3] for e in exp], f"level={level}"
        for g, e in zip(got, exp):
            assert g[3] == pytest.approx(e[3], rel=1e-12)


def test_knn_index_reuse_matches_brute(spark, scenes_df):
    """A prebuilt knn_index serves multiple probe batches (the
    index-on-ingest / query-per-request pattern) with exact results."""
    from pyspark.sql import Row

    idx = ops.knn_index(scenes_df, k_hint=4)
    batches = [
        [Row(query_id=0, lon=-120.0, lat=34.0, k=3),
         Row(query_id=1, lon=150.0, lat=-50.0, k=2)],
        [Row(query_id=0, lon=-118.5, lat=36.0, k=4),
         Row(query_id=1, lon=0.0, lat=0.0, k=1)],
    ]
    for rows in batches:
        q = spark.createDataFrame(rows)
        got = sorted(map(tuple, ops.knn_join(None, q, index=idx).collect()))
        exp = sorted(map(tuple, ops.knn_bruteforce(scenes_df, q).collect()))
        assert [g[:3] for g in got] == [e[:3] for e in exp]


def test_knn_crossing_scene_centroid_is_wrapped(spark):
    """(review r3) A scene spanning the antimeridian (min_lon > max_lon,
    the datagen convention) has its centroid at ±180, NOT at lon 0 —
    both the banded path and the brute-force oracle must return it as
    the nearest scene for a probe at lon 179."""
    from pyspark.sql import Row

    scenes = spark.createDataFrame(
        [
            # spans [170, 190] unwrapped → stored min_lon=170, max_lon=-170
            Row(image_id="XING", min_lon=170.0, max_lon=-170.0,
                min_lat=-1.0, max_lat=1.0),
            # decoy exactly where the naive midpoint of XING would land
            Row(image_id="DECOY", min_lon=-1.0, max_lon=1.0,
                min_lat=-1.0, max_lat=1.0),
        ]
    )
    queries = spark.createDataFrame([Row(query_id=0, lon=179.0, lat=0.0, k=1)])
    brute = ops.knn_bruteforce(scenes, queries).collect()
    assert brute[0]["image_id"] == "XING"
    # centroid at ±180 → probe at 179 is ~111 km away (1° of equator)
    assert brute[0]["dist_m"] == pytest.approx(111195.0, rel=1e-2)
    for level in (4, 7):
        got = ops.knn_join(scenes, queries, level=level).collect()
        assert got[0]["image_id"] == "XING"
        assert got[0]["dist_m"] == pytest.approx(brute[0]["dist_m"], rel=1e-12)


def test_knn_index_save_load_matches_built_inline(spark, scenes_df, tmp_path):
    """KnnIndex persistence (r4): a cold-loaded index serves results
    identical to the built-inline index — including the adversarial
    probes (antimeridian, poleward, out-of-extent) — so
    index-on-ingest survives SparkSession boundaries."""
    from pyspark.sql import Row

    idx = ops.knn_index(scenes_df, k_hint=4)
    path = str(tmp_path / "knn_idx")
    ops.knn_index_save(idx, path)
    loaded = ops.knn_index_load(spark, path)
    assert loaded.level == idx.level

    probes = [
        Row(query_id=0, lon=-120.0, lat=34.0, k=3),
        Row(query_id=1, lon=179.9, lat=-4.0, k=2),     # antimeridian
        Row(query_id=2, lon=-40.0, lat=86.0, k=3),     # poleward
        Row(query_id=3, lon=60.0, lat=-70.0, k=1),     # out of extent
        Row(query_id=4, lon=190.0, lat=10.0, k=2),     # unnormalized lon
    ]
    q = spark.createDataFrame(probes)
    got = sorted(map(tuple, ops.knn_join(None, q, index=loaded).collect()))
    exp = sorted(map(tuple, ops.knn_join(None, q, index=idx).collect()))
    assert got == exp
    brute = sorted(map(tuple, ops.knn_bruteforce(scenes_df, q).collect()))
    assert [g[:3] for g in got] == [b[:3] for b in brute]

    # on-disk layout: the centroid table is partitioned by its coarse
    # storage region and the served scoring join carries scell, so
    # dynamic partition pruning reads only the candidate regions
    import os

    gen = int(
        spark.read.parquet(os.path.join(path, "meta")).first()["gen"]
    )
    assert any(
        d.startswith("scell=")
        for d in os.listdir(os.path.join(path, f"cent_g{gen}"))
    )
    plan = (
        ops.knn_join(None, q, index=loaded)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()


def test_rv_join_salted_shape_on_hotspot(spark):
    """(r4) raster_vector_join skew handling: on a deliberately skewed
    fixture (one cell holding most scenes AND most features) the salted
    plan must (a) emit the exact same pair multiset as the unsalted
    join, and (b) split the hot cell's scene rows across salt_buckets
    join keys so no single task owns the whole within-cell cross
    product."""
    from pyspark.sql import Row

    from mosaic_engine import udfs

    # 200 scenes and 40 features all stacked on one ~1° cell, plus a
    # few background rows elsewhere
    scenes = spark.createDataFrame(
        [
            Row(image_id=f"HOT_{i:04d}", min_lon=10.0, min_lat=45.0,
                max_lon=10.4, max_lat=45.4,
                fp_xs=[10.0, 10.4, 10.4, 10.0, 10.0],
                fp_ys=[45.0, 45.0, 45.4, 45.4, 45.0])
            for i in range(200)
        ]
        + [
            Row(image_id=f"BG_{i:04d}", min_lon=-60.0 + i, min_lat=-10.0,
                max_lon=-59.6 + i, max_lat=-9.6,
                fp_xs=[-60.0 + i, -59.6 + i, -59.6 + i, -60.0 + i, -60.0 + i],
                fp_ys=[-10.0, -10.0, -9.6, -9.6, -10.0])
            for i in range(5)
        ]
    )
    vectors = spark.createDataFrame(
        [
            Row(feature_id=i, xs=[10.0, 10.4, 10.4, 10.0, 10.0],
                ys=[45.0, 45.0, 45.4, 45.4, 45.0])
            for i in range(40)
        ]
        + [
            Row(feature_id=100 + i,
                xs=[-60.0 + i, -59.6 + i, -59.6 + i, -60.0 + i, -60.0 + i],
                ys=[-10.0, -10.0, -9.6, -9.6, -10.0])
            for i in range(3)
        ]
    )
    salted = ops.raster_vector_join(scenes, vectors, 8, salt_buckets=8)
    plain = ops.raster_vector_join(scenes, vectors, 8, salt_buckets=1)
    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b and len(a) >= 200 * 40  # hot cross product present

    # salted shape: the hot cell's scene rows spread across >1 salt
    s_qk = udfs.explode_to_quadkeys(scenes, 8, passthrough=["image_id"])
    from pyspark.sql import functions as F

    hot_cell = (
        s_qk.groupBy("cell").count().orderBy(F.desc("count")).first()["cell"]
    )
    n_salts = (
        s_qk.filter(F.col("cell") == hot_cell)
        .select(
            F.pmod(F.xxhash64("image_id"), F.lit(8)).cast("int").alias("s")
        )
        .distinct()
        .count()
    )
    assert n_salts == 8  # 200 hashed ids cover all 8 salts w.h.p. (deterministic fixture)

    # the join operates on (cell, salt), visible in the plan
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "salt" in plan
    with pytest.raises(ValueError):
        ops.raster_vector_join(scenes, vectors, 8, salt_buckets=0)


def test_knn_index_occupancy_bump_on_hotspot(spark):
    """(r5) The auto level pick must react to MEASURED density: a
    corpus whose hotspot packs most scenes into a few cells gets a
    finer banding level than the closed-form guess, and results stay
    exact."""
    from pyspark.sql import Row

    from mosaic_engine import datagen

    t = datagen.gen_scenes(
        n_scenes=5000, paths=10, rows=10, seed=7, payload=False,
        edge_cases=False, hotspot_frac=0.9,
    )
    df = spark.createDataFrame(t.to_pandas())
    guess = ops.knn_pick_level(df.count(), 8)
    idx = ops.knn_index(df, k_hint=8)
    assert idx.level > guess, (idx.level, guess)

    probes = spark.createDataFrame(
        [Row(query_id=i, lon=-119.0 + i * 0.7, lat=34.0 + i * 0.3, k=4)
         for i in range(6)]
    )
    got = sorted(
        map(tuple, ops.knn_join(None, probes, index=idx).collect())
    )
    want = sorted(map(tuple, ops.knn_bruteforce(df, probes).collect()))
    # bruteforce emits rank as long and knn_join as int — compare values
    assert [(q, int(r), i, d) for q, r, i, d in got] == [
        (q, int(r), i, d) for q, r, i, d in want
    ]


def test_knn_index_rollup_stats_match_direct_build(spark):
    """(r6) The auto path derives the final stats dim by rolling the
    KNN_MAX_LEVEL fine stats up to the chosen level instead of
    re-aggregating the corpus — exact only if a point's direct
    level-L cell equals the ancestor of its level-14 cell (see
    _parent_cell_col). Lock that equivalence on a density-skewed
    corpus with pole/antimeridian edge cases, at the auto-picked
    level AND a coarse one."""
    from mosaic_engine import datagen

    t = datagen.gen_scenes(
        n_scenes=4000, paths=10, rows=10, seed=11, payload=False,
        edge_cases=True, hotspot_frac=0.7,
    )
    df = spark.createDataFrame(t.to_pandas())
    rolled = ops.knn_index(df, k_hint=4)  # auto → rollup-built stats
    direct = ops.knn_index(df, level=rolled.level)  # corpus groupBy
    got = sorted(map(tuple, rolled.stats.collect()))
    want = sorted(map(tuple, direct.stats.collect()))
    assert got == want


def test_pack_cell_rejects_out_of_range_coords():
    """(r5 review) Morton packing masks to 30 bits, so out-of-range
    coords would alias silently — they must raise instead."""
    import pytest as _pytest

    cells.pack_cell(np.array([3]), np.array([0]), 2)  # max valid
    for xs, ys, lv in (
        ([4], [0], 2),
        ([0], [-1], 2),
        ([1 << 30], [0], 29),
    ):
        with _pytest.raises(ValueError, match="out of range"):
            cells.pack_cell(np.array(xs), np.array(ys), lv)


def test_knn_index_save_generation_commit(spark, scenes_df, tmp_path):
    """(r5 review) Re-saving an index over the same path commits via
    meta-last generations: a crash that leaves a partial new
    generation must not corrupt what the loader serves."""
    import shutil

    path = str(tmp_path / "idx")
    idx0 = ops.knn_index(scenes_df, level=5)
    ops.knn_index_save(idx0, path)
    loaded0 = ops.knn_index_load(spark, path)
    assert loaded0.level == 5

    # simulate a crash mid-re-save: a partial new stats generation
    # appears but meta was never rewritten
    shutil.copytree(
        os.path.join(path, "stats_g0"), os.path.join(path, "stats_g1")
    )
    assert ops.knn_index_load(spark, path).level == 5  # still gen 0

    # a fake legacy (pre-generation) layout dir must be GC'd too: a
    # migrated index otherwise leaks its corpus-sized dir forever (r6)
    os.makedirs(os.path.join(path, "cent"))
    # a full re-save at a new level commits and supersedes
    ops.knn_index_save(ops.knn_index(scenes_df, level=6), path)
    loaded1 = ops.knn_index_load(spark, path)
    assert loaded1.level == 6
    # post-commit GC keeps live + immediate predecessor (r6 review:
    # save(load(path), path) lazily READS the predecessor and the
    # loaded index keeps serving from it — deleting it at commit
    # would break the index the caller still holds); the legacy bare
    # dir is retired once a versioned predecessor exists
    assert sorted(os.listdir(path)) == [
        "cent_g0", "cent_g1", "meta",
        "prep_g0", "prep_g1",
        "stats_g0", "stats_g1",
    ]
    # the index loaded BEFORE the re-save must still serve (its
    # backing g0 files were kept)
    assert ops.knn_join(
        None,
        spark.createDataFrame(
            [(0, -120.0, 33.0, 2)], "query_id long, lon double, lat double, k int"
        ),
        index=loaded0,
    ).count() == 2
    # a third save retires g0: growth stays bounded at two generations
    ops.knn_index_save(ops.knn_index(scenes_df, level=6), path)
    assert sorted(os.listdir(path)) == [
        "cent_g1", "cent_g2", "meta",
        "prep_g1", "prep_g2",
        "stats_g1", "stats_g2",
    ]
    # served results match a fresh index at the same level
    queries = spark.createDataFrame(
        [(i, -120.0 + i, 33.0 + 0.5 * i, 3) for i in range(4)],
        "query_id long, lon double, lat double, k int",
    )
    a = sorted(map(tuple, ops.knn_join(None, queries, index=loaded1).collect()))
    b = sorted(map(tuple, ops.knn_join(
        None, queries, index=ops.knn_index(scenes_df, level=6)).collect()))
    assert a == b


def test_knn_join_accepts_non_long_query_ids(spark, scenes_df):
    """(r5 review) String/int32 probe ids must serve like
    knn_bruteforce accepts them (the Arrow schema derives from the
    input now)."""
    queries = spark.createDataFrame(
        [("alpha", -120.0, 33.0, 2), ("beta", -115.0, 35.0, 2)],
        "query_id string, lon double, lat double, k int",
    )
    got = sorted(map(tuple, ops.knn_join(scenes_df, queries, level=5).collect()))
    want = sorted(map(tuple, ops.knn_bruteforce(scenes_df, queries).collect()))
    assert [g[:3] for g in got] == [w[:3] for w in want] and len(got) == 4


@pytest.mark.parametrize("corpus_seed,hotspot", [(7, 0.0), (19, 0.6), (31, 0.95)])
def test_knn_random_corpora_match_brute(spark, tmp_path, corpus_seed, hotspot):
    """(r6) Randomized-CORPUS equivalence: the existing random-probe
    sweep pins one fixture corpus, but the occupancy walk and the
    in-kernel cascade take different paths per spatial distribution
    (uniform vs hotspot-heavy changes the picked level, the rollup
    shapes, and which cascade stages prune). Three corpora spanning
    hotspot fractions must serve identically to brute at the
    auto-picked level, payload-free for speed."""
    from pyspark.sql import Row

    t = datagen.gen_scenes(
        n_scenes=2500, paths=8, rows=8, seed=corpus_seed,
        payload=False, hotspot_frac=hotspot,
    )
    p = str(tmp_path / f"scenes_{corpus_seed}.parquet")
    datagen.write_parquet(t, p)
    scenes = spark.read.parquet(p)
    rng = np.random.default_rng(1000 + corpus_seed)
    n = 40
    lons = rng.uniform(-180.0, 180.0, n)
    lats = rng.uniform(-88.0, 88.0, n)
    ks = rng.integers(1, 6, n)
    queries = spark.createDataFrame(
        [Row(query_id=i, lon=float(lons[i]), lat=float(lats[i]), k=int(ks[i]))
         for i in range(n)]
    )
    exp = sorted(map(tuple, ops.knn_bruteforce(scenes, queries).collect()))
    got = sorted(map(tuple, ops.knn_join(scenes, queries).collect()))
    assert [g[:3] for g in got] == [e[:3] for e in exp]
    for g, e in zip(got, exp):
        assert g[3] == pytest.approx(e[3], rel=1e-12)


@pytest.mark.parametrize(
    "id_type", ["int", "long", "string", "decimal(10,0)", "date"]
)
def test_knn_bruteforce_points_probe_id_types(spark, id_type):
    """knn_bruteforce_points serves every probe-id type its schema
    accepts: the emitted id column carries the probe table's declared
    type (an int32 id once failed inside the Arrow writer)."""
    from pyspark.sql import functions as F

    from mosaic_engine.geometry import haversine_m

    rng = np.random.default_rng(5)
    px, py = rng.uniform(-20, 20, 40), rng.uniform(-20, 20, 40)
    qx, qy = rng.uniform(-20, 20, 6), rng.uniform(-20, 20, 6)
    points = spark.createDataFrame(
        [(i, float(px[i]), float(py[i])) for i in range(40)],
        "pt long, px double, py double",
    )
    raw = spark.createDataFrame(
        [(i, float(qx[i]), float(qy[i])) for i in range(6)],
        "q long, qx double, qy double",
    )
    if id_type == "date":
        qid = F.date_add(F.lit("2020-01-01").cast("date"), F.col("q").cast("int"))
    else:
        qid = F.col("q").cast(id_type)
    probes = raw.select(qid.alias("qid"), "q", "qx", "qy")
    got = ops.knn_bruteforce_points(
        points, probes.drop("q"), 3, point_id="pt", px="px", py="py",
        probe_id="qid", qx="qx", qy="qy",
    )
    assert got.schema["qid"].dataType == probes.schema["qid"].dataType
    back = {r["qid"]: r["q"] for r in probes.collect()}
    rows = sorted((back[r["qid"]], r["rank"], r["pt"], r["dist_m"])
                  for r in got.collect())
    exp = []
    for q in range(6):
        d = haversine_m(np.full(40, qx[q]), np.full(40, qy[q]), px, py)
        for rank, i in enumerate(np.lexsort((np.arange(40), d))[:3], 1):
            exp.append((q, rank, int(i), float(d[i])))
    assert [r[:3] for r in rows] == [e[:3] for e in exp]
    for r, e in zip(rows, exp):
        assert r[3] == pytest.approx(e[3], rel=1e-12)
