"""DataFrame-level plan builders — filters, ranking, salted aggregation,
anti-join gap detection, kNN, raster↔vector join.

Design notes (scale-first, SURVEY.md §4):

* The hot pipeline contains NO window functions and NO per-quadkey sort
  shuffle: scene preference is a total-order struct key
  ``(pref_key, cloud_cover, image_id)``; `min(struct)` / sorted
  `collect_list(struct)` give map-side partial aggregation, so the only
  shuffles are hash exchanges on fine-grained keys.
* Skew (a few dense quadkeys holding thousands of scenes) is handled
  explicitly by a salted two-phase aggregation
  ([BASELINE.json:6] "explicit salted-repartition skew handling"):
  phase 1 aggregates (quadkey, salt) — heavy keys spread across S
  tasks, with local top-k pruning when a cap is set — phase 2 merges S
  small partials per quadkey. AQE stays on as defense in depth.
* Reference semantics: filters = [ref: landsat_cogeo_mosaic/cli.py]
  options; selection = [ref: mosaic.py#features_to_mosaicJSON]
  (preference sort, optimized_selection per-(path,row) dedupe);
  missing-quadkeys = [ref: missing.py#missing_quadkeys] anti join.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import udfs

DEFAULT_SALT_BUCKETS = 16
# above this probe count the kNN scoring join stops force-broadcasting
# the (probe, cell) candidate table (see knn_join)
KNN_PROBE_BROADCAST_LIMIT = 50_000

SEASON_MONTHS = {
    "winter": (12, 1, 2),
    "spring": (3, 4, 5),
    "summer": (6, 7, 8),
    "autumn": (9, 10, 11),
    "fall": (9, 10, 11),
}


@dataclass
class MosaicConfig:
    """Build parameters mirroring the reference CLI options."""

    quadkey_zoom: int = 8
    minzoom: int = 7
    maxzoom: int = 12
    preference: str = "newest"  # newest | oldest | closest-to-date
    closest_date: str | None = None  # ISO date for closest-to-date
    optimized_selection: bool = False
    max_cloud: float = 100.0
    min_cloud: float = 0.0
    bounds: tuple[float, float, float, float] | None = None
    min_date: str | None = None
    max_date: str | None = None
    seasons: tuple[str, ...] = ()
    tier_only: bool = False  # require _T1 products
    max_assets_per_tile: int | None = None
    salt_buckets: int = DEFAULT_SALT_BUCKETS
    name: str = "mosaic"
    description: str | None = None
    version: str = "1.0.0"
    attribution: str | None = None

    def config_hash(self) -> str:
        import hashlib
        import json

        blob = json.dumps(
            {k: v for k, v in self.__dict__.items()}, sort_keys=True, default=str
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


# ---------------------------------------------------------------- filters
def filter_scenes(df: DataFrame, cfg: MosaicConfig) -> DataFrame:
    """F1–F5: all plain Catalyst predicates → parquet/Iceberg pushdown."""
    out = df
    if cfg.bounds is not None:
        w, s, e, n = cfg.bounds
        # Normal scenes store min_lon <= max_lon; antimeridian-crossing
        # scenes store min_lon > max_lon (datagen convention, mirrors
        # _explode_batch's split). Treat the latter as the union of
        # [min_lon, 180] and [-180, max_lon].
        lat_ok = (F.col("min_lat") < n) & (F.col("max_lat") > s)
        if w <= e:
            normal = (F.col("min_lon") <= F.col("max_lon")) & (
                (F.col("min_lon") < e) & (F.col("max_lon") > w)
            )
            wrapped = (F.col("min_lon") > F.col("max_lon")) & (
                (F.col("min_lon") < e) | (F.col("max_lon") > w)
            )
        else:
            # QUERY window crosses the antimeridian (w > e = the union
            # of [w, 180] and [-180, e]) — previously this arm didn't
            # exist and a Pacific window silently dropped nearly every
            # covered scene (r5 review). A normal scene intersects the
            # union iff it reaches past w or starts before e; a
            # crossing scene always touches 180 and the window includes
            # 180, so it always intersects.
            normal = (F.col("min_lon") <= F.col("max_lon")) & (
                (F.col("max_lon") > w) | (F.col("min_lon") < e)
            )
            wrapped = F.col("min_lon") > F.col("max_lon")
        out = out.filter(lat_ok & (normal | wrapped))
    if cfg.max_cloud < 100.0 or cfg.min_cloud > 0.0:
        # Explicit cloud filter requested: null cloud_cover fails it
        # (unknown quality is excluded, matching the reference CLI).
        out = out.filter(F.col("cloud_cover").between(cfg.min_cloud, cfg.max_cloud))
    # No cloud filter requested: keep every scene, including those with
    # null/missing cloud metadata (previously an implicit <=100 dropped them).
    if cfg.min_date:
        out = out.filter(F.col("acquisition_date") >= F.lit(cfg.min_date))
    if cfg.max_date:
        out = out.filter(F.col("acquisition_date") <= F.lit(cfg.max_date))
    if cfg.seasons:
        months = sorted({m for s_ in cfg.seasons for m in SEASON_MONTHS[s_]})
        out = out.filter(F.month("acquisition_date").isin(months))
    if cfg.tier_only:
        out = out.filter(F.col("image_id").like("%_T1%"))
    return out


# ---------------------------------------------------------------- ranking
def pref_key(cfg: MosaicConfig) -> Column:
    """Numeric ascending-sort preference key (SURVEY.md §2.5 A2).

    newest → -unix_seconds, oldest → +unix_seconds,
    closest-to-date → |acq - target| seconds. Long arithmetic: exact.
    """
    ts = F.unix_timestamp("acquisition_date")
    if cfg.preference == "newest":
        return (-ts).alias("pref_key")
    if cfg.preference == "oldest":
        return ts.alias("pref_key")
    if cfg.preference == "closest-to-date":
        if not cfg.closest_date:
            raise ValueError("closest-to-date preference needs closest_date")
        target = F.unix_timestamp(F.lit(cfg.closest_date), "yyyy-MM-dd")
        return F.abs(ts - target).alias("pref_key")
    raise ValueError(f"unknown preference {cfg.preference!r}")


def _sel_struct(cfg: MosaicConfig) -> Column:
    """Total-order selection key: lexicographic struct comparison gives
    (pref_key asc, cloud_cover asc, image_id asc) — fully deterministic,
    usable in min()/sort_array() with map-side partial aggregation.
    NULL cloud_cover (kept by the no-cloud-filter path) coalesces to
    101 so unknown quality ranks BELOW any measured value on ties —
    struct ordering would otherwise sort NULL first."""
    return F.struct(
        pref_key(cfg).alias("pref_key"),
        F.coalesce(F.col("cloud_cover"), F.lit(101.0)).alias("cloud_cover"),
        F.col("image_id").alias("image_id"),
    ).alias("sel")


def optimized_dedupe(tiles: DataFrame, cfg: MosaicConfig) -> DataFrame:
    """A3: keep the best scene per (quadkey, path, row).

    min(struct) aggregation instead of a window: partial min runs
    map-side, so dense quadkeys never concentrate in one task before
    reduction. Output: (quadkey, sel struct).
    """
    return tiles.groupBy("cell", "path", "row").agg(
        F.min(_sel_struct(cfg)).alias("sel")
    )


def assignments(tiles: DataFrame, cfg: MosaicConfig) -> DataFrame:
    """A1+A2(+A6): per-quadkey rank-ordered asset lists.

    Salted two-phase aggregation (§4.3): phase-1 collects per
    (quadkey, salt) with optional local top-k prune; phase-2 merges the
    ≤S partial lists per quadkey and finalizes order. Returns
    (quadkey, assets array<string>, n_assets int).
    """
    cap = cfg.max_assets_per_tile
    if cap is not None and cap < 1:
        raise ValueError(
            f"max_assets_per_tile must be >= 1 or None (got {cap})"
        )
    if cfg.optimized_selection:
        keyed = optimized_dedupe(tiles, cfg)
    else:
        keyed = tiles.select("cell", _sel_struct(cfg))
    salted = keyed.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("sel.image_id")), F.lit(cfg.salt_buckets))
    )
    # `is not None`, never truthiness: a (rejected-above) cap of 0 must
    # not silently flip to "unlimited". The phase-1 sort only EARNS
    # its O(n log n) when a cap prunes on it (A6 local top-k); with no
    # cap the merge phase re-sorts the flattened whole anyway, so
    # sorting partials too is pure waste over every assignment row
    # (r7) — the final order (and the goldens) are identical either
    # way.
    if cap is not None:
        part = F.slice(
            F.sort_array(F.collect_list("sel")), 1, cap
        ).alias("part")
    else:
        part = F.collect_list("sel").alias("part")
    phase1 = salted.groupBy("cell", "salt").agg(part)
    merged = phase1.groupBy("cell").agg(
        F.sort_array(F.flatten(F.collect_list("part"))).alias("sels")
    )
    sels = F.slice("sels", 1, cap) if cap is not None else F.col("sels")
    u = udfs.make_scalar_udfs()
    # quadkey strings only materialize here — bounded by 4^quadkey_zoom
    return merged.select(
        "cell",
        u["cell_quadkey"](F.col("cell")).alias("quadkey"),
        F.transform(sels, lambda s: s["image_id"]).alias("assets"),
        F.size(sels).alias("n_assets"),
    )


def assignments_relational(assign: DataFrame) -> DataFrame:
    """(quadkey, assets) → (quadkey, asset, rank) — the join-output form;
    rank from array position, no window needed."""
    return assign.select(
        "quadkey", F.posexplode("assets").alias("pos", "asset")
    ).select("quadkey", "asset", (F.col("pos") + 1).alias("rank"))


def mosaic_bounds(scenes: DataFrame, assign: DataFrame) -> list[float]:
    """A4 over scenes actually used in the mosaic (left_semi join).

    Antimeridian (r4 review): a crossing scene stores a WRAPPED bbox
    (min_lon > max_lon) — raw min/max would treat those as ordinary
    longitudes and either exclude the scene's true extent or emit
    invalid w > e bounds. A crossing scene genuinely spans both sides
    of ±180, so it contributes the full [-180, 180] lon interval —
    bounds stay spec-valid and always cover every emitted tile (the
    lat axis is unaffected). Mirrored scalar logic in
    tests/oracle.py.features_to_mosaic keeps goldens byte-equal."""
    used = scenes.join(
        assign.select(F.explode("assets").alias("image_id")).distinct(),
        "image_id",
        "left_semi",
    )
    crossing = F.col("min_lon") > F.col("max_lon")
    row = used.agg(
        F.min(F.when(crossing, -180.0).otherwise(F.col("min_lon"))),
        F.min("min_lat"),
        F.max(F.when(crossing, 180.0).otherwise(F.col("max_lon"))),
        F.max("max_lat"),
    ).first()
    if row is None or row[0] is None:
        return [-180.0, -90.0, 180.0, 90.0]
    return [row[0], row[1], row[2], row[3]]


# ------------------------------------------------------------- gap check
def missing_quadkeys(
    land: DataFrame, assign: DataFrame, zoom: int
) -> DataFrame:
    """E3: quadkeys under land polygons absent from the mosaic — a
    left_anti join on quadkey ([ref: missing.py#missing_quadkeys])."""
    # the packed cell key EMBEDS its level, so an assignments table
    # built at a different quadkey_zoom can never match any land cell
    # and the anti join would report 100% of land as missing with no
    # error (r5 review) — verify level agreement on one bounded row
    probe = assign.select("cell").first()
    if probe is not None:
        assign_level = int(probe["cell"]) & 0x3F
        if assign_level != zoom:
            raise ValueError(
                f"missing_quadkeys: assignments were built at "
                f"quadkey_zoom={assign_level} but zoom={zoom} was "
                "requested — the anti join would mark every land tile "
                "missing"
            )
    land_qk = udfs.ring_to_quadkeys(land, zoom, "land_id").select(
        "cell"
    ).distinct()
    miss = land_qk.join(assign.select("cell"), "cell", "left_anti")
    u = udfs.make_scalar_udfs()
    return miss.select(u["cell_quadkey"](F.col("cell")).alias("quadkey"))


def coverage_quadkeys(
    probe: DataFrame, assign: DataFrame
) -> DataFrame:
    """J6: left_semi membership — which probe quadkeys are covered."""
    return probe.join(assign.select("quadkey"), "quadkey", "left_semi")


# ------------------------------------------------------------------- kNN
EARTH_R_M = 6371008.8


KNN_MIN_LEVEL = 3
# cap for the occupancy-verified bump (knn_index): the stats dim is
# bounded by NONEMPTY cells (≤ corpus rows) at any level, and the
# knn_join prefilter cascade keeps every |probes|×|cells| pair table
# bounded, so fine levels are safe — 14 ≈ 2.4 km cells, finer than any
# scene footprint, past which more levels stop reducing candidates
KNN_MAX_LEVEL = 14


def knn_pick_level(n_scenes: int, k: int) -> int:
    """Banding-level heuristic: pick the web-mercator cell level whose
    average occupancy is ~max(16, 4k) scenes per nonempty cell —
    candidate work per probe stays ~k·C while the |probes| × |cells|
    bound table stays small. Exactness does NOT depend on the choice
    (the R* bound math is level-independent); this only positions the
    cost knee. Clamped to [KNN_MIN_LEVEL, KNN_MAX_LEVEL] — coarser
    than 3 prunes nothing; the upper cap's rationale lives at the
    KNN_MAX_LEVEL definition. This closed-form guess assumes the
    corpus spreads into n/target cells; knn_index refines it against
    MEASURED row-weighted occupancy."""
    import math

    target = max(16.0, 4.0 * max(k, 1))
    cells = max(float(n_scenes) / target, 1.0)
    return min(KNN_MAX_LEVEL, max(KNN_MIN_LEVEL, round(math.log(cells, 4))))


@dataclass
class KnnIndex:
    """Reusable kNN corpus index: the banding level, the centroid table
    keyed by packed cell (plus its coarse storage region `scell` — the
    on-disk partition key, see knn_index_save), and the
    localCheckpointed per-cell stats dim. Build once with knn_index,
    serve many probe batches through knn_join(index=...) — repeated
    batches skip the corpus-wide stats aggregation (the
    serving-at-scale pattern: index on ingest, query per request)."""

    level: int
    cent: DataFrame  # (image_id, slon, slat, cell, scell)
    stats: DataFrame  # (cell, n_in_cell), checkpointed
    # lazily-filled _cascade_prep result (bounded numpy rollups/CSRs
    # for the in-kernel coarse cascade): repeated serve batches reuse
    # one driver-side collect instead of re-aggregating per batch
    prep: object | None = None


KNN_STORE_LEVELS = 4  # scell keeps at most this many levels (<=256 regions)


def _storage_cell_col(cell: Column, level: int) -> Column:
    """Coarse storage region of a packed (x<<30)|y cell: shift away
    all but the top KNN_STORE_LEVELS levels (d = level -
    KNN_STORE_LEVELS, clamped at 0 — the shift DEPENDS on level; a
    fixed shift would blow the bound at fine levels). The partition
    key for knn_index_save's on-disk layout — at most
    4^KNN_STORE_LEVELS = 256 nonempty regions at any banding level."""
    d = max(level - KNN_STORE_LEVELS, 0)
    x = F.shiftright(cell, 30)
    y = cell - F.shiftleft(x, 30)
    return F.shiftleft(F.shiftright(x, d), 30) + F.shiftright(y, d)


def _tile_xy_cols(lon: Column, lat: Column, level: int) -> tuple[Column, Column]:
    """Native web-mercator tile x/y at `level` (codegen, no Arrow hop)."""
    import math

    z2 = float(1 << level)
    nmax = (1 << level) - 1
    LAT_MAX = 85.05112878
    lon_c = F.greatest(F.least(lon, F.lit(180.0)), F.lit(-180.0))
    lat_r = F.radians(
        F.greatest(F.least(lat, F.lit(LAT_MAX)), F.lit(-LAT_MAX))
    )
    xn = (lon_c + 180.0) / 360.0
    yn = (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / math.pi) / 2.0
    clamp = lambda c: F.greatest(F.least(c, F.lit(nmax)), F.lit(0))  # noqa: E731
    return (
        clamp(F.floor(xn * z2).cast("long")),
        clamp(F.floor(yn * z2).cast("long")),
    )


def _scene_centroids(scenes: DataFrame) -> DataFrame:
    """Footprint centroids honoring the antimeridian convention
    (min_lon > max_lon = crossing scene, as produced by datagen and
    handled by filter_scenes): the naive midpoint of a crossing scene
    lands ~180° away from the true center, so rotate it by 180° and
    wrap into [-180, 180)."""
    raw = (F.col("min_lon") + F.col("max_lon")) / 2
    slon = F.when(
        F.col("min_lon") > F.col("max_lon"),
        F.pmod(raw + 360.0, F.lit(360.0)) - 180.0,
    ).otherwise(raw)
    return scenes.select(
        "image_id",
        slon.alias("slon"),
        ((F.col("min_lat") + F.col("max_lat")) / 2).alias("slat"),
    )


def _parent_cell_col(cellcol: Column, drop: int) -> Column:
    """Ancestor of a packed (x<<30)|y cell `drop` levels up. Exact for
    any point p and levels L < M: the level-L cell computed directly
    from p equals the ancestor of p's level-M cell, because tile
    coords are floor(t·2^L) with t·2^M = (t·2^L)·2^(M-L) computed
    EXACTLY in binary floating point (scaling by a power of two), so
    floor(t·2^M) >> (M-L) = floor(t·2^L); the [0, 2^L-1] clamps
    commute with the shift for the same reason."""
    cx = F.shiftright(cellcol, 30)
    cy = cellcol - F.shiftleft(cx, 30)
    return F.shiftleft(F.shiftright(cx, drop), 30) + F.shiftright(cy, drop)


def knn_index(
    scenes: DataFrame, level: int | None = None, k_hint: int = 8
) -> KnnIndex:
    """Build the kNN corpus index (see KnnIndex). ``level=None``
    auto-picks the banding level from MEASURED density (r6 rework of
    the r5 one-shot occupancy bump, VERDICT r5 #1): ONE corpus pass
    keys every centroid at KNN_MAX_LEVEL and aggregates a fine stats
    dim (bounded by nonempty cells ≤ corpus rows); every candidate
    level's row-weighted occupancy is then scored by rolling that
    BOUNDED dim up (exact — parent cells partition their children, see
    _parent_cell_col), so walking the level finer costs a few
    aggregations over an executor-cached dim instead of a corpus
    rescan per step. The walk stops at the first level whose
    row-weighted occupancy sum(n²)/sum(n) — the occupancy of the cell
    holding a RANDOM SCENE, the statistic probe traffic actually sees
    — drops to ≤ 2× target (target = max(16, 4k)). The r5 one-shot
    bump stopped at 4× target and left ~2× serving time on the table:
    measured on the 1M-scene bench corpus (100k probes, 32 cores)
    level 11 (rw 316) = 54.6 s, 12 (rw 108) = 44.2 s, 13 (rw 31) =
    30.8 s, 14 (rw 9) = 35.9 s — the knee sits at rw ≈ 2× target,
    past which extra cells cost more in pruning than they save in
    scoring. The cell key is INTERNAL to the operator (stats side and
    scoring side just have to agree), so it's computed natively —
    whole-stage codegen, no Arrow hop over the big scenes table.
    Key = (x<<30)|y."""
    cent = _scene_centroids(scenes)

    def key_at(lv: int) -> Column:
        sx, sy = _tile_xy_cols(F.col("slon"), F.col("slat"), lv)
        return F.shiftleft(sx, 30) + sy

    if level is None:
        fine = (
            cent.groupBy(key_at(KNN_MAX_LEVEL).alias("cell"))
            .agg(F.count("*").alias("n"))
            .localCheckpoint(eager=True)
        )
        tot = fine.agg(F.sum("n").alias("t")).first()["t"] or 0
        target = max(16.0, 4.0 * max(k_hint, 1))
        level = knn_pick_level(int(tot), k_hint)
        # occupancy walk in ONE job (r7; the r6 loop ran one rollup
        # aggregation JOB per candidate level — ~0.16 s of scheduling
        # per step, 6 steps ≈ 1 s on the bench corpus): every
        # candidate level's (lv, parent) rollup is computed from the
        # SAME bounded fine dim via a struct-array explode, one
        # shuffle, and the per-level row-weighted occupancies come
        # back in a single ≤ (KNN_MAX_LEVEL − guess)-row collect. The
        # selection rule is unchanged bit-for-bit: first level ≥ the
        # closed-form guess whose rw ≤ 2×target, else KNN_MAX_LEVEL.
        if level < KNN_MAX_LEVEL:
            cand_lvls = list(range(level, KNN_MAX_LEVEL))
            pairs = F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(lv).alias("lv"),
                            _parent_cell_col(
                                F.col("cell"), KNN_MAX_LEVEL - lv
                            ).alias("p"),
                        )
                        for lv in cand_lvls
                    ]
                )
            ).alias("x")
            rw_rows = (
                fine.select(F.col("n"), pairs)
                .select(F.col("x.lv").alias("lv"), F.col("x.p").alias("p"), "n")
                .groupBy("lv", "p")
                .agg(F.sum("n").alias("pn"))
                .groupBy("lv")
                .agg(
                    (F.sum(F.col("pn") * F.col("pn")) / F.sum("pn")).alias(
                        "rw"
                    )
                )
                .collect()
            )
            rw_by_lv = {int(r["lv"]): float(r["rw"] or 0.0) for r in rw_rows}
            while level < KNN_MAX_LEVEL:
                if rw_by_lv.get(level, 0.0) <= 2.0 * target:
                    break
                level += 1
        # final stats by rollup — no second corpus-wide aggregation
        stats = (
            fine.groupBy(
                _parent_cell_col(
                    F.col("cell"), KNN_MAX_LEVEL - level
                ).alias("cell")
            )
            .agg(F.sum("n").alias("n_in_cell"))
            .localCheckpoint(eager=True)
        )
    else:
        stats = (
            cent.groupBy(key_at(level).alias("cell"))
            .agg(F.count("*").alias("n_in_cell"))
            # stats is bounded (≤ 4^level rows) but its lineage scans
            # the whole corpus; several downstream branches reference
            # it, so materialize the small result once in executor
            # storage
            .localCheckpoint(eager=True)
        )
    sc = cent.withColumn("cell", key_at(level))
    sc = sc.withColumn("scell", _storage_cell_col(F.col("cell"), level))
    return KnnIndex(level, sc, stats)


def knn_index_save(idx: KnnIndex, path: str) -> None:
    """Persist a KnnIndex as parquet so the index-on-ingest serving
    path survives the SparkSession (a localCheckpointed stats dim dies
    with its session).

    GENERATION commit (r5 review): a re-save over the same path (e.g.
    after the occupancy bump changed the banding level) previously
    overwrote meta/stats/cent as three independent writes — a crash
    mid-save left a mixed-level index that knn_index_load served with
    silently wrong bounds. Now each save writes its data under
    ``path/stats_g<G>`` + ``path/cent_g<G>`` first and commits by
    overwriting ``path/meta`` (level + gen) LAST — the loader follows
    meta, so a crash at any point leaves the previous generation fully
    intact. Superseded generation dirs are best-effort GC'd on the
    next save. All I/O goes through Spark's Hadoop FS layer — no
    POSIX-only ops — so `path` may be local, HDFS, or s3a."""
    spark = idx.cent.sparkSession
    try:
        prev = spark.read.parquet(f"{path}/meta").first()
        gen = int(prev["gen"]) + 1 if "gen" in prev.asDict() else 0
    except Exception:
        gen = 0
    idx.stats.write.mode("overwrite").parquet(f"{path}/stats_g{gen}")
    # the (corpus-sized) centroid table is written PARTITIONED BY its
    # coarse storage region (≤ 4^KNN_STORE_LEVELS dirs) and
    # range-clustered on cell within each region: a served probe
    # batch's scoring join carries scell as a join key, so Spark's
    # dynamic partition pruning reads ONLY the regions the R*-pruned
    # candidate cells touch — the geo twin of the IVF inverted-list
    # layout (annops.ivf_index_save)
    idx.cent.repartitionByRange("scell", "cell").write.mode(
        "overwrite"
    ).partitionBy("scell").parquet(f"{path}/cent_g{gen}")
    # the cascade-prep rollup rides with the generation (r7 — VERDICT
    # r6 #2): the capped (cell, n) table _cascade_prep would otherwise
    # recount + re-collect from stats on EVERY load-then-serve;
    # knn_index_load rebuilds the bounded numpy chains from this
    # directly
    cap = _prep_cap(idx.stats, idx.level)
    _prep_rollup_df(idx.stats, idx.level, cap).write.mode(
        "overwrite"
    ).parquet(f"{path}/prep_g{gen}")
    # the COMMIT: one small overwrite, written last
    spark.createDataFrame(
        [(int(idx.level), int(gen), int(cap))],
        "level int, gen int, prep_cap int",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    # GC superseded generations (best-effort; readers follow meta)
    _gc_superseded_generations(spark, path, ("stats", "cent", "prep"), gen)


def _gc_superseded_generations(
    spark, path: str, prefixes: tuple[str, ...], live_gen: int
) -> None:
    """Best-effort post-commit GC shared by knn_index_save and
    annops.ivf_index_save: once generation `live_gen` is
    meta-committed, delete every ``<pfx>_g<k>`` dir EXCEPT the live
    one and its immediate predecessor, and the bare legacy ``<pfx>``
    dirs from the pre-generation layout once a versioned predecessor
    exists (r6 advice — a migrated index otherwise leaked its
    corpus-sized legacy dir forever). Keeping exactly ONE superseded
    generation (r6 review) is what makes the load-then-re-save flow
    safe: ``save(load(path), path)`` writes the new generation by
    lazily READING the old one, and the loaded index object keeps
    serving from those old files afterwards — deleting them at commit
    would break the live index the caller still holds. Growth stays
    bounded at two generations; the next save retires the older one.
    Readers follow meta, so nothing here is load-bearing; failures are
    swallowed and retried by the next save.

    Caller contract (r7, ADVICE r6): an index HANDLE loaded before a
    re-save keeps reading its generation's files, which survive
    exactly ONE further save — after two consecutive saves the
    handle's files are gone and probes fail with a missing-file read
    error, not a refusal. Long-lived serving processes must reload
    (knn_index_load / ivf_index_load) after each re-save they observe."""
    from .catalog import _fs_and_path

    keep = {f"_g{live_gen}", f"_g{live_gen - 1}"}
    try:
        fs, jpath = _fs_and_path(spark, path)
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            for pfx in prefixes:
                if (name == pfx and live_gen >= 1) or (
                    name.startswith(f"{pfx}_g")
                    and name[len(pfx):] not in keep
                ):
                    fs.delete(st.getPath(), True)
    except Exception:
        pass


def knn_index_load(spark, path: str) -> KnnIndex:
    """Reload a knn_index_save'd index by following ``path/meta`` (the
    generation commit record — see knn_index_save). The stats dim's
    lineage is now just a bounded parquet scan (≤ 4^level rows), so no
    checkpoint is needed — knn_join(index=...) serves from it
    directly. The scell partition column comes back type-inferred, so
    it is re-cast to long to keep the serving join's key type
    identical to the built-inline path. Legacy layouts (no gen field)
    load from the unversioned stats/cent dirs."""
    meta = spark.read.parquet(f"{path}/meta").first()
    level = int(meta["level"])
    if "gen" in meta.asDict():
        sfx = f"_g{int(meta['gen'])}"
    else:
        sfx = ""
    cent = spark.read.parquet(f"{path}/cent{sfx}").withColumn(
        "scell", F.col("scell").cast("long")
    )
    idx = KnnIndex(level, cent, spark.read.parquet(f"{path}/stats{sfx}"))
    if "prep_cap" in meta.asDict() and meta["prep_cap"] is not None:
        # rebuild the cascade prep from the persisted capped rollup
        # (r7 — VERDICT r6 #2): one small parquet collect + bounded
        # numpy instead of a stats count + re-collect per serve;
        # legacy generations (no prep_cap) fall back to the lazy
        # in-serve _cascade_prep
        import numpy as np

        pdf = spark.read.parquet(f"{path}/prep{sfx}").toPandas()
        prep = _prep_from_arrays(
            pdf["cell"].to_numpy(np.int64),
            pdf["n"].to_numpy(np.int64),
            int(meta["prep_cap"]),
        )
        idx.prep = (prep, spark.sparkContext.broadcast(prep))
    return idx


# ---- the kNN bound kernel: every R* pruning step in knn_join — the
# in-kernel coarse cascade (_make_cascade_prune) and the distributed
# fine refinement past FINE_COLLECT_ROWS (_make_fine_refine) — derives
# per-cell trig with _cell_attrs_np, brackets each (probe, cell) pair
# in haversine-argument space with _bounds_fast_np and keeps the
# survivors of the per-probe R* rule with _rstar_np. Pruning EXACTNESS
# needs only valid lower/upper bounds (the margins absorb FP drift):
# final scoring is exact over any candidate superset.
FINE_COLLECT_ROWS = 300_000  # cap for collecting fine stats driver-side
# in-kernel refinement step: 1 level (4 children/parent). r6 used 2
# (16 children); the 16× expansion made the mid-chain pair tables the
# kernel's peak cost (1.03M pairs at level 7 from 79k level-5
# survivors on the 1M-scene bench corpus) — single-level steps keep
# every intermediate table ≤ 4× the survivor set and measured the
# whole kernel at 6.8 s vs 10.3 s single-core per 100k probes,
# identical survivors out.
CASCADE_STEP = 1


def _parent_np(cells: "np.ndarray", drop: int) -> "np.ndarray":
    import numpy as np

    x = cells >> np.int64(30)
    y = cells - (x << np.int64(30))
    return ((x >> np.int64(drop)) << np.int64(30)) + (y >> np.int64(drop))


def _cell_rect_np(cells: "np.ndarray", level: int):
    """(cw, cs, ce, cn) of packed keys at `level`. The top/bottom
    tile rows also receive points whose centroid lat exceeds the
    mercator clamp (±85.05..), so those rects stretch to the poles —
    every point mapped into a cell must lie INSIDE its rect or the
    upper bound is not valid and pruning goes wrong."""
    import math

    import numpy as np

    z2 = float(1 << level)
    nm = (1 << level) - 1
    x = (cells >> np.int64(30)).astype(np.float64)
    y = (cells - ((cells >> np.int64(30)) << np.int64(30))).astype(np.float64)

    def merc(yy):
        return np.degrees(np.arctan(np.sinh(math.pi * (1.0 - 2.0 * yy / z2))))

    cw = x / z2 * 360.0 - 180.0
    ce = (x + 1.0) / z2 * 360.0 - 180.0
    cs = np.where(y == nm, -90.0, merc(y + 1.0))
    cn = np.where(y == 0, 90.0, merc(y))
    return cw, cs, ce, cn


def _cell_attrs_np(cells: "np.ndarray", level: int):
    """Per-cell trig attributes for the fast a-space bounds
    (_bounds_fast_np): lon edges in degrees plus sin/cos of the
    latitude edges. The cascade computes them ONCE per unique cell in
    _cascade_prep — the r6 kernel recomputed the rect AND ~40
    transcendentals per (probe, cell) PAIR per level, measured as ~85%
    of the kernel's 13.4 s single-core wall at 100k probes. The fine
    refinement takes them per pair row: its rows come from a
    distributed join, one bound step each, and its per-cell dim is
    the one too big to collect."""
    import numpy as np

    cw, cs, ce, cn = _cell_rect_np(cells, level)
    s_r = np.radians(cs)
    n_r = np.radians(cn)
    return (
        cw,
        ce,
        np.sin(s_r),
        np.cos(s_r),
        np.sin(n_r),
        np.cos(n_r),
    )


def _bounds_fast_np(lon, sin_p, cos_p, tan_p, attrs):
    """(a_lo, a_hi) bounds in HAVERSINE-ARGUMENT space (the monotone
    a = sin²(Δφ/2) + cosφ₁cosφ₂sin²(Δλ/2) of the great-circle
    distance) on the min/max distance from a probe to any point of a
    cell rect. The min sits at the nearer lon edge (Δλ = 0 when the
    probe's lon is inside the cell) over the stationary latitude
    φ* = atan(tanφ_p / cosΔλ) clamped to the cell and the two edge
    latitudes; the max is EXACT too: distance is monotone in
    Δλ ∈ [0, 180], so it sits at Δλ_max (180 when the probe's
    antimeridian falls inside the cell, else the farther lon edge)
    over the same latitude family, taking the max. The per-pair work
    is two sin() calls plus algebra over per-cell/per-probe
    precomputed trig:

      * sin²(Δφ/2) = (1 − (cosφ₁cosφ₂ + sinφ₁sinφ₂))/2 — products of
        precomputed values, no per-pair transcendental;
      * the stationary latitude φ* = atan(tanφ_p / cosΔλ) enters only
        through sin φ*/cos φ*, computed algebraically as
        (u·sign(c)/√(c²+u²), |c|/√(c²+u²)) with u = tanφ_p, c = cosΔλ
        (and cosΔλ = 1 − 2sin²(Δλ/2) from the one sin already taken);
        clamping to the cell's latitude band compares in sin space
        (monotone on [-π/2, π/2]);
      * cosΔλ == 0.0 exactly (possible here because 1 − 2sin² CAN
        round to zero, unlike np.cos near π/2) is nudged to +5e-324 so
        the stationary candidate degrades to the ±π/2 edge clamp
        instead of a NaN that silently drops a REQUIRED candidate.

    The R* rule is monotone-invariant, so pruning runs directly on a.
    Margins: computing a accumulates ≲1e-15 absolute FP error (the
    cancellation in (1−cosΔφ)/2 is bounded by the term errors, not
    amplified), so 1e-9 relative + 1e-14 absolute keeps ≥10× slack —
    a_lo never exceeds the true min, a_hi never undercuts the true
    max, which is all R* exactness needs (any valid bracket preserves
    the superset)."""
    import numpy as np

    cw, ce, sin_s, cos_s, sin_n, cos_n = attrs

    def wrapdeg(a, b):
        return np.abs((a - b + 540.0) % 360.0 - 180.0)

    def stationary(c):
        # sin/cos of atan(tan_p / c), division-robust (see docstring)
        c2 = np.where(c == 0.0, 5e-324, c)
        h = np.sqrt(c2 * c2 + tan_p * tan_p)
        sgn = np.where(c2 > 0.0, 1.0, -1.0)
        return (tan_p / h) * sgn, np.abs(c2) / h

    def cand_a(sin_c, cos_c, t2):
        return (1.0 - (cos_c * cos_p + sin_c * sin_p)) / 2.0 + (
            cos_p * cos_c
        ) * t2

    def three_min(t2):
        c = 1.0 - 2.0 * t2
        sin_st, cos_st = stationary(c)
        sin_cl = np.minimum(np.maximum(sin_st, sin_s), sin_n)
        cos_cl = np.where(
            sin_st < sin_s, cos_s, np.where(sin_st > sin_n, cos_n, cos_st)
        )
        return np.fmin(
            np.fmin(cand_a(sin_cl, cos_cl, t2), cand_a(sin_s, cos_s, t2)),
            cand_a(sin_n, cos_n, t2),
        )

    def three_max(t2):
        c = 1.0 - 2.0 * t2
        sin_st, cos_st = stationary(c)
        sin_cl = np.minimum(np.maximum(sin_st, sin_s), sin_n)
        cos_cl = np.where(
            sin_st < sin_s, cos_s, np.where(sin_st > sin_n, cos_n, cos_st)
        )
        return np.fmax(
            np.fmax(cand_a(sin_cl, cos_cl, t2), cand_a(sin_s, cos_s, t2)),
            cand_a(sin_n, cos_n, t2),
        )

    inside = (lon >= cw) & (lon <= ce)
    dl = np.where(inside, 0.0, np.minimum(wrapdeg(lon, cw), wrapdeg(lon, ce)))
    sdl = np.sin(np.radians(dl) / 2.0)
    a_min = three_min(sdl * sdl)

    anti = (lon + 360.0) % 360.0 - 180.0
    anti_in = (anti >= cw) & (anti <= ce)
    dl_max = np.where(
        anti_in, 180.0, np.maximum(wrapdeg(lon, cw), wrapdeg(lon, ce))
    )
    sdlx = np.sin(np.radians(dl_max) / 2.0)
    a_max = three_max(sdlx * sdlx)
    return a_min * (1.0 - 1e-9) - 1e-14, a_max * (1.0 + 1e-9) + 1e-14


def _rstar_np(pid, mind, maxd, n, kreq_row):
    """Surviving pair indices under the per-probe R* rule: order each
    probe's cells by maxd, R* = smallest maxd whose running count
    reaches k — ≥ k scenes provably lie within R* — and keep
    mind <= R* (all cells kept when the corpus never reaches k — R*
    stays +inf)."""
    import numpy as np

    if len(pid) == 0:
        return np.empty(0, dtype=np.int64)
    order = np.lexsort((maxd, pid))
    pid_s = pid[order]
    maxd_s = maxd[order]
    n_s = n[order]
    new_seg = np.empty(len(pid_s), dtype=bool)
    new_seg[0] = True
    np.not_equal(pid_s[1:], pid_s[:-1], out=new_seg[1:])
    seg_id = np.cumsum(new_seg) - 1
    cum = np.cumsum(n_s)
    starts = np.flatnonzero(new_seg)
    seg_len = np.diff(np.r_[starts, len(pid_s)])
    base = np.repeat(cum[starts] - n_s[starts], seg_len)
    reach = (cum - base) >= kreq_row[order]
    rstar_row = np.where(reach, maxd_s, np.inf)
    rstar_seg = np.full(len(starts), np.inf)
    np.minimum.at(rstar_seg, seg_id, rstar_row)
    keep = mind[order] <= rstar_seg[seg_id]
    return order[keep]


def _ranges_gather(starts, ends):
    """Vectorized concat of np.arange(s, e) ranges (CSR child gather)."""
    import numpy as np

    counts = ends - starts
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), counts
    rep_start = np.repeat(starts, counts)
    rep_base = np.repeat(np.cumsum(counts) - counts, counts)
    return rep_start + (np.arange(total, dtype=np.int64) - rep_base), counts


def _prep_cap(stats: DataFrame, level: int) -> int:
    """Kernel descent cap: `level` itself when the fine stats dim fits
    FINE_COLLECT_ROWS, else the 4^9-bounded level-9 rollup (at 100 TB
    the fine dim is corpus-sized and stays distributed; the rollup is
    bounded BY CONSTRUCTION)."""
    n_stats = stats.count()
    return level if n_stats <= FINE_COLLECT_ROWS else min(9, level)


def _prep_rollup_df(stats: DataFrame, level: int, cap: int) -> DataFrame:
    """The (cell, n) stats rollup at `cap` — the bounded table the
    cascade prep collects (and knn_index_save persists with the
    generation)."""
    if cap == level:
        return stats.select("cell", F.col("n_in_cell").alias("n"))
    return stats.groupBy(
        _parent_cell_col(F.col("cell"), level - cap).alias("cell")
    ).agg(F.sum("n_in_cell").alias("n"))


def _cascade_prep(stats: DataFrame, level: int) -> dict:
    """Driver-side prep for the in-kernel coarse cascade: ONE bounded
    collect of the stats dim rolled to the cap (_prep_cap), then pure
    numpy rollups/CSRs for every chain level (_prep_from_arrays).
    Returns plain arrays — broadcast once per serve via
    sparkContext.broadcast. A SAVED index skips this entirely:
    knn_index_save persists the capped rollup with the generation and
    knn_index_load rebuilds the numpy chains from it (r7 — VERDICT r6
    #2)."""
    import numpy as np

    cap = _prep_cap(stats, level)
    pdf = _prep_rollup_df(stats, level, cap).toPandas()
    return _prep_from_arrays(
        pdf["cell"].to_numpy(np.int64), pdf["n"].to_numpy(np.int64), cap
    )


def _prep_from_arrays(cells, ns, cap: int) -> dict:
    """Build the cascade prep dict (chain, per-level rollups, CSR
    steps, per-cell trig attrs) from the capped (cell, n) arrays —
    pure numpy, shared by the inline and saved-index paths."""
    import numpy as np

    order = np.argsort(cells)
    cells, ns = cells[order], ns[order]

    chain = [cap]
    while chain[0] - CASCADE_STEP >= KNN_MIN_LEVEL:
        chain.insert(0, chain[0] - CASCADE_STEP)

    levels: dict[int, tuple] = {cap: (cells, ns)}
    for lv in reversed(chain[:-1]):
        fcells, fns = levels[lv + CASCADE_STEP]
        anc = _parent_np(fcells, CASCADE_STEP)
        uniq, inv = np.unique(anc, return_inverse=True)
        agg = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(agg, inv, fns)
        levels[lv] = (uniq, agg)

    steps = []  # per chain step i: CSR from chain[i] parents → chain[i+1]
    for lc, lf in zip(chain[:-1], chain[1:]):
        fcells, fns = levels[lf]
        anc = _parent_np(fcells, lf - lc)
        o = np.argsort(anc, kind="stable")
        anc_s = anc[o]
        uniq, starts = np.unique(anc_s, return_index=True)
        ends = np.r_[starts[1:], len(anc_s)]
        steps.append(
            {
                "parents": uniq,
                "starts": starts.astype(np.int64),
                "ends": ends.astype(np.int64),
                "child_cells": fcells[o],
                "child_n": fns[o],
                # per-cell trig for the fast bounds, aligned with
                # child_cells (precomputed once here instead of ~40
                # transcendentals per pair in the kernel)
                "child_attrs": _cell_attrs_np(fcells[o], lf),
            }
        )
    # entry-level attrs (steps carry the rest)
    entry_attrs = _cell_attrs_np(levels[chain[0]][0], chain[0])
    return {
        "chain": chain,
        "cap": cap,
        "levels": levels,
        "steps": steps,
        "entry_attrs": entry_attrs,
    }


def _make_cascade_prune(bc, out_cols: list[str]):
    """mapInPandas closure running the WHOLE coarse cascade per probe
    batch in numpy — no |probes| × |cells| table ever hits a shuffle.
    Emits the surviving (probe, cell-at-cap) pairs (a few per probe)."""

    def prune(batches):
        import numpy as np
        import pandas as pd

        prep = bc.value
        chain, steps = prep["chain"], prep["steps"]
        cells0, n0 = prep["levels"][chain[0]]
        attrs0 = prep["entry_attrs"]
        for pdf in batches:
            P = len(pdf)
            if P == 0:
                continue
            lon = pdf["lon"].to_numpy(np.float64)
            lat = pdf["lat"].to_numpy(np.float64)
            kreq = pdf["k_req"].to_numpy(np.int64)
            # per-probe trig, computed once per batch (tan via the
            # quotient so no extra transcendental)
            p1 = np.radians(lat)
            sin_pb, cos_pb = np.sin(p1), np.cos(p1)
            tan_pb = sin_pb / cos_pb
            c0 = len(cells0)
            pid = np.repeat(np.arange(P, dtype=np.int64), c0)
            cell = np.tile(cells0, P)
            nn = np.tile(n0, P)
            # per-pair gathered cell attrs (entry: tiled level arrays)
            attrs = tuple(np.tile(a, P) for a in attrs0)
            for i, lv in enumerate(chain):
                a_lo, a_hi = _bounds_fast_np(
                    lon[pid], sin_pb[pid], cos_pb[pid], tan_pb[pid], attrs
                )
                keep = _rstar_np(pid, a_lo, a_hi, nn, kreq[pid])
                pid, cell = pid[keep], cell[keep]
                if i == len(chain) - 1:
                    break
                st = steps[i]
                pos = np.searchsorted(st["parents"], cell)
                gat, counts = _ranges_gather(
                    st["starts"][pos], st["ends"][pos]
                )
                pid = np.repeat(pid, counts)
                cell = st["child_cells"][gat]
                nn = st["child_n"][gat]
                attrs = tuple(a[gat] for a in st["child_attrs"])
            out = {
                "query_id": pdf["query_id"].to_numpy()[pid],
                "lon": lon[pid],
                "lat": lat[pid],
                "k_req": pdf["k_req"].to_numpy()[pid],
                "cell": cell,
            }
            yield pd.DataFrame({c: out[c] for c in out_cols})

    return prune


def _make_fine_refine(level: int, out_cols: list[str]):
    """mapInArrow closure for the fine refinement below the kernel's
    descent cap: each input row is one (probe, level-`level` cell)
    pair of the distributed pcell join, carrying the cell's
    n_in_cell, with every probe's rows contiguous (query_id-partitioned
    and sorted). Per batch it brackets each pair with _bounds_fast_np
    over _cell_attrs_np and keeps the R* survivors (_rstar_np). The
    trailing probe's rows may continue in the next batch, so they are
    carried over: memory stays one batch plus one probe's pairs."""

    def refine(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def probe_starts(t):
            # True where a new probe's rows begin (nulls never merge)
            n = t.num_rows
            new = np.ones(n, dtype=bool)
            if n > 1:
                qid = t.column("query_id")
                ne = pc.not_equal(qid.slice(1), qid.slice(0, n - 1))
                new[1:] = pc.fill_null(ne, True).to_numpy()
            return new

        def survivors(t, new):
            t = t.combine_chunks()
            p1 = np.radians(t.column("lat").to_numpy())
            sin_p, cos_p = np.sin(p1), np.cos(p1)
            a_lo, a_hi = _bounds_fast_np(
                t.column("lon").to_numpy(), sin_p, cos_p, sin_p / cos_p,
                _cell_attrs_np(t.column("cell").to_numpy(), level),
            )
            keep = _rstar_np(
                np.cumsum(new) - 1, a_lo, a_hi,
                t.column("n_in_cell").to_numpy(),
                t.column("k_req").to_numpy(),
            )
            return t.select(out_cols).take(pa.array(keep)).to_batches()

        carry = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            t = pa.Table.from_batches([rb])
            if carry is not None:
                t = pa.concat_tables([carry, t])
            new = probe_starts(t)
            tail = int(np.flatnonzero(new)[-1])
            if tail:
                yield from survivors(t.slice(0, tail), new[:tail])
            carry = t.slice(tail)
        if carry is not None:
            yield from survivors(carry, probe_starts(carry))

    return refine


def _rank_keep_mask(qid, dist, gk):
    """Boolean keep-mask of rows whose distance min-rank within their
    query group is < gk (a scalar, or a per-ROW k array — the union
    kernel passes each row's own k_req, which keeps strictly fewer
    rows than the global max k), ties at the boundary ALL retained — a
    provable SUPERSET of the exact per-query top-k, computed with one
    numeric lexsort (object qid arrays sort fine, just slower). Shared
    by the small-batch _score_partial combiner and the bulk
    union-score kernel so the tie convention can never desynchronize."""
    import numpy as np

    n = len(qid)
    order = np.lexsort((dist, qid))
    qs, ds = qid[order], dist[order]
    pos = np.arange(n)
    grp_start = np.empty(n, dtype=bool)
    grp_start[0] = True
    np.not_equal(qs[1:], qs[:-1], out=grp_start[1:])
    grp_first = np.maximum.accumulate(np.where(grp_start, pos, 0))
    run_start = grp_start.copy()
    run_start[1:] |= ds[1:] != ds[:-1]
    run_first = np.maximum.accumulate(np.where(run_start, pos, 0))
    rank_min = run_first - grp_first
    gk_sorted = gk[order] if isinstance(gk, np.ndarray) else gk
    keep_sorted = rank_min < gk_sorted
    keep = np.empty(n, dtype=bool)
    keep[order] = keep_sorted
    return keep


def _topk_tail(df: DataFrame, keys: list[str], order: list[str], k) -> DataFrame:
    """Exact top-k rows per key, the final step every top-k path ends
    with: collect_list(struct(order)) → sort_array → slice to k →
    posexplode. `order` starts with the ranking measure and ends with
    a total tiebreak; `k` is an int or an int Column (per-key k).
    Returns keys + rank (int, 1-based) + the order columns."""
    nn = F.slice(F.sort_array(F.collect_list(F.struct(*order))), 1, k)
    out = df.groupBy(*keys).agg(nn.alias("nn"))
    out = out.select(*keys, F.posexplode("nn").alias("pos", "nn"))
    return out.select(
        *keys,
        (F.col("pos") + 1).cast("int").alias("rank"),
        *[F.col(f"nn.{c}").alias(c) for c in order],
    )


# expansion chunk for the union-score kernel: bound the in-flight
# (pair-expanded) arrays per task regardless of how many candidate
# rows a partition holds
UNION_SCORE_CHUNK = 4_000_000
# the union-score exchange hashes on the PARENT cell this many levels
# up (4^2 = 16 sibling cells per key): a probe's ~7 surviving cells
# are spatially adjacent, so under parent hashing they land in 1-2
# partitions instead of ~7 — the per-task rank<k combiner then emits
# ~k rows per (query, partition) instead of k per scattered cell
# (measured 5.7M → the final aggregation's input at 100k probes under
# plain cell hashing). Two levels keeps the key space large (the
# level-11 rollup of a 1M-scene corpus has ~2.5k nonempty parents —
# 20-100× the partition count, guide §2.5) so hashing stays even.
UNION_SCORE_PARENT_DROP = 2


def _make_union_score():
    """mapInArrow closure for knn_join's bulk scoring path: one
    cell-hashed partition holds BOTH the corpus members (side=0: cell,
    image_id, slon, slat) and the probe candidates (side=1: cell,
    query_id, plon, plat, k_req) for its cells; the kernel equi-joins
    them in numpy (sort members by cell + searchsorted ranges), scores
    with the identical haversine kernel the brute oracle path uses,
    and emits only the per-task rank<k_req superset — the JVM boundary
    carries each input row once instead of the joined blow-up, and the
    final exact aggregation receives ≤ queries-in-task × k_req rows.
    Pair expansion runs in bounded chunks with the same
    doubling-compaction idea as _score_partial."""

    def score(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from . import geometry as geo

        mem_parts: list = []
        prb_parts: list = []
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            side = tbl.column("side")
            is_mem = pc.equal(side, 0)
            mem_parts.append(
                tbl.filter(is_mem).select(
                    ["cell", "image_id", "slon", "slat"]
                )
            )
            prb_parts.append(
                tbl.filter(pc.invert(is_mem)).select(
                    ["cell", "query_id", "plon", "plat", "k_req"]
                )
            )
        if not mem_parts:
            return
        m = pa.concat_tables(mem_parts)
        p = pa.concat_tables(prb_parts)
        if m.num_rows == 0 or p.num_rows == 0:
            return
        mc = m.column("cell").to_numpy(zero_copy_only=False)
        order_m = np.argsort(mc, kind="stable")
        mc_s = mc[order_m]
        mlon = m.column("slon").to_numpy(zero_copy_only=False)[order_m]
        mlat = m.column("slat").to_numpy(zero_copy_only=False)[order_m]
        pcell = p.column("cell").to_numpy(zero_copy_only=False)
        plon = p.column("plon").to_numpy(zero_copy_only=False)
        plat = p.column("plat").to_numpy(zero_copy_only=False)
        qid = p.column("query_id").to_numpy(zero_copy_only=False)
        kreq = p.column("k_req").to_numpy(zero_copy_only=False)
        lo = np.searchsorted(mc_s, pcell, "left")
        hi = np.searchsorted(mc_s, pcell, "right")
        counts = hi - lo
        # chunk probe rows so Σ counts per chunk stays bounded
        cum = np.cumsum(counts)
        acc: list = []
        rows = 0
        last = 0
        start = 0
        nprb = len(pcell)
        while start < nprb:
            end = int(
                np.searchsorted(cum, (cum[start - 1] if start else 0)
                                + UNION_SCORE_CHUNK, "left")
            ) + 1
            end = min(max(end, start + 1), nprb)
            gat, cnt = _ranges_gather(lo[start:end], hi[start:end])
            if len(gat):
                rep = np.repeat(np.arange(start, end), cnt)
                dist = geo.haversine_m(
                    plon[rep], plat[rep], mlon[gat], mlat[gat]
                )
                img_idx = order_m[gat]
                acc.append(
                    pa.table(
                        {
                            "query_id": pa.array(qid[rep]).cast(
                                p.schema.field("query_id").type
                            ),
                            "k_req": pa.array(kreq[rep]).cast(
                                p.schema.field("k_req").type
                            ),
                            "image_id": m.column("image_id").take(
                                pa.array(img_idx)
                            ),
                            "dist_m": pa.array(dist, pa.float64()),
                        }
                    )
                )
                rows += len(gat)
                if rows >= max(UNION_SCORE_CHUNK, 2 * last) and len(acc) > 1:
                    t = pa.concat_tables(acc)
                    keep = _rank_keep_mask(
                        t.column("query_id").to_numpy(zero_copy_only=False),
                        t.column("dist_m").to_numpy(zero_copy_only=False),
                        t.column("k_req").to_numpy(zero_copy_only=False),
                    )
                    acc = [t.filter(pa.array(keep))]
                    last = rows = acc[0].num_rows
            start = end
        if acc:
            t = pa.concat_tables(acc)
            keep = _rank_keep_mask(
                t.column("query_id").to_numpy(zero_copy_only=False),
                t.column("dist_m").to_numpy(zero_copy_only=False),
                t.column("k_req").to_numpy(zero_copy_only=False),
            )
            yield from t.filter(pa.array(keep)).to_batches()

    return score


def knn_join(
    scenes: DataFrame | None,
    queries: DataFrame,
    k: int | None = None,
    level: int | None = None,
    index: KnnIndex | None = None,
) -> DataFrame:
    """J3: exact k nearest scenes (footprint-centroid haversine) per query.

    ``level=None`` (default) auto-picks the banding level from the
    corpus size via knn_pick_level — one count() over the scenes scan
    (parquet metadata-cheap) plus, when per-query k is used, one
    max(k) over the small probe table. Pass a prebuilt ``index``
    (knn_index) to serve repeated probe batches without rebuilding the
    corpus stats; `scenes`/`level` are then ignored.

    One-pass cell-stats pruning — no iteration, no driver-side loop:

      1. Scene centroids key to web-mercator cells at ``level``; a tiny
         per-cell stats dim (cell, n_in_cell) is derived with one
         groupBy. Nonempty cells are bounded by corpus geometry
         (≤ 4^level); the cell rects derive from the key alone.
      2. One bound kernel brackets every (probe, cell) pair:
         _bounds_fast_np gives a provable LOWER and the exact UPPER
         bound on the distance from the probe to any point of the cell
         rect, in haversine-argument space over per-cell trig
         (_cell_attrs_np). 1e-9-relative + 1e-14-absolute margins
         absorb FP drift, so pruning never excludes a true neighbor.
      3. Per probe, R* = the smallest upper bound whose running scene
         count reaches k (cells ordered by upper bound): ≥ k scenes
         provably lie within R*, so any cell whose lower bound exceeds
         R* cannot contain a top-k scene and is pruned (_rstar_np).
         Out-of-extent probes therefore touch only the corpus-edge
         cells — there is no full-scan fallback.
      4. Surviving (probe, cell) pairs equi-join scenes on cell; exact
         haversine (the same numpy kernel as the brute-force paths),
         pre-reduced per task to the rank<k superset, then one (dist,
         image_id) total-order top-k.

    Steps 2–3 run as a coarse-to-fine walk — one level per step from
    KNN_MIN_LEVEL down, exact at every step (parent rects contain
    their children and counts aggregate) — INSIDE one Arrow-batched
    mapInPandas kernel over bounded rollups of the stats dim, so no
    |probes| × |cells| table ever reaches a shuffle. The walk descends
    to `level` itself when the fine stats dim fits FINE_COLLECT_ROWS,
    else to the 4^9-bounded level-9 rollup; the final level then runs
    the same bound + R* step in a mapInArrow kernel over a distributed
    pcell equi-join against the stats dim.
    """
    # element_at/slice ordinals must be INT (queries may carry k as long)
    kcol = (F.lit(k) if k is not None else F.col("k")).cast("int")
    # ONE aggregate job over the (narrow) probe table supplies the row
    # count (broadcast-flip decision), the global max k (scoring
    # partial bound AND the auto-level k_hint) — merged so the probe
    # table is scanned once per call, not once per consumer
    prow = queries.agg(
        F.count("*").alias("n"), F.max(kcol).alias("gk")
    ).first()
    probe_rows = int(prow["n"] or 0)
    gk = int(prow["gk"] or 1)

    if index is None:
        if level is None:
            index = knn_index(scenes, k_hint=gk)
        else:
            index = knn_index(scenes, level=level)
    level, sc, stats = index.level, index.cent, index.stats
    # normalize probe lon into [-180, 180): haversine is 360-periodic
    # (knn_bruteforce scores lon=190 correctly) but the rect lower bound
    # below tests `cw <= lon <= ce` literally — an out-of-range probe
    # could report a positive lower bound for the very cell it sits in
    # and R* pruning would drop the true nearest cell.
    lon_n = F.pmod(F.col("lon") + 180.0, F.lit(360.0)) - 180.0
    q = queries.select(
        "query_id", lon_n.alias("lon"), "lat", kcol.alias("k_req")
    )
    # probe-side broadcast flip (r5 — VERDICT r4 #5): the scoring join
    # force-broadcasts the pruned (probe, cell) pair table for dynamic
    # partition pruning on a stored index — sound only while that table
    # is bounded (|probes| × ~cells-per-probe). A 100k-probe batch
    # would push a multi-hundred-MB broadcast through every executor,
    # so past the limit the hint is dropped: the scoring join becomes a
    # plain shuffle equi-join on (scell, cell) — the right plan when
    # the probe batch itself is cluster-scale data. The flip consumes
    # the probe-table aggregate computed once above (an eager job at
    # plan-construction time — deliberate: gk and the join strategy
    # must be known before the plan exists, and the probe table is the
    # narrow side by contract).
    probe_bcast = (
        F.broadcast
        if probe_rows <= KNN_PROBE_BROADCAST_LIMIT
        else (lambda df: df)
    )

    # ---- coarse-to-fine R* prefilter, in-kernel: the |probes| ×
    # |cells| pair tables the walk visits are the scaling knob, and as
    # DataFrame stages each one paid a shuffle + window sort (~60 GB
    # of shuffle at 1M probes in r5). The stats rollups at level ≤ 9
    # are BOUNDED BY CONSTRUCTION (≤ 4^9 rows regardless of corpus
    # size), so the walk runs inside ONE Arrow-batched mapInPandas
    # kernel over the probe table: per batch, one bound + R* step per
    # level emits only the surviving (probe, cell) pairs — a few rows
    # per probe, ZERO shuffles. When the FINE stats dim fits
    # FINE_COLLECT_ROWS the walk ends at `level`; on a corpus whose
    # fine dim is too big to collect (the 100-TB case) it stops at the
    # level-9 rollup, and the last step runs the same bound kernel
    # over a distributed pcell equi-join — the unbounded side never
    # leaves the cluster.
    spark = queries.sparkSession
    if index.prep is None:
        # the index pins ONE prep + broadcast across the batches it
        # serves; a one-shot call's inline index (and its broadcast)
        # is reclaimed when Python GC drops the result's references
        prep = _cascade_prep(stats, level)
        index.prep = (prep, spark.sparkContext.broadcast(prep))
    prep, bc = index.prep
    sel = q
    if probe_rows > KNN_PROBE_BROADCAST_LIMIT:
        # bulk batches arrive in however many files the producer
        # wrote; the kernel is embarrassingly parallel over probes,
        # so spread them (narrow rows — a tiny exchange)
        sel = sel.repartition(spark.sparkContext.defaultParallelism)
    from pyspark.sql import types as T

    qf = {f.name: f.dataType for f in q.schema.fields}
    cand_cols = ["query_id", "lon", "lat", "k_req", "cell"]
    out_schema = T.StructType(
        [
            T.StructField("query_id", qf["query_id"]),
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType()),
            T.StructField("k_req", qf["k_req"]),
            T.StructField("cell", T.LongType()),
        ]
    )
    cand = sel.mapInPandas(
        _make_cascade_prune(bc, cand_cols), schema=out_schema
    )
    if prep["cap"] < level:
        stats_p = stats.select(
            "cell",
            "n_in_cell",
            _parent_cell_col(F.col("cell"), level - prep["cap"]).alias(
                "pcell"
            ),
        )
        # the stats side is corpus-sized here (that is WHY the kernel
        # stopped at the rollup): no broadcast hint — AQE picks
        # broadcast at runtime iff it actually fits
        pairs = (
            cand.withColumnRenamed("cell", "pcell")
            .join(stats_p, "pcell")
            .select(*cand_cols, "n_in_cell")
            .repartition("query_id")
            .sortWithinPartitions("query_id")
        )
        cand = pairs.mapInArrow(
            _make_fine_refine(level, cand_cols), schema=out_schema
        )
    # k_req <= 0 probes can contribute no rows (rank <= 0 never
    # holds) — drop them before the scoring join. Doubles as the
    # selective predicate Spark's PartitionPruning rule needs on this
    # side to insert the DPP subquery that prunes a stored index's
    # scell partitions (a map-kernel output alone carries no Filter,
    # so the rule would otherwise decline).
    cand = cand.filter(F.col("k_req") > 0)

    # ---- exact scoring over the pruned candidate cells ----
    # scell (a pure function of cell) rides along as a join key so a
    # partitioned on-disk index (knn_index_save) gets dynamic partition
    # pruning: only the storage regions holding candidate cells are read
    cand = cand.withColumn("scell", _storage_cell_col(F.col("cell"), level))

    if probe_rows > KNN_PROBE_BROADCAST_LIMIT:
        # ---- bulk scoring, union-kernel form (r7, guide §8/§4) ----
        # The r6 bulk plan materialized the (candidate cell × cell
        # members) join in the JVM and shipped the BLOWN-UP output
        # through Arrow to the scoring kernel: at 100k probes that is
        # 15.5M rows (~155 per probe) and the boundary transfer alone
        # measured 5.5-7.2 s of the 12 s lane — by far its largest
        # cost, and it scales with |probes| × neighborhood size. The
        # decisions only need each side ONCE (guide §8: move
        # lightweight rows, attach the payload exactly once), so the
        # bulk path now ships the two INPUT tables — corpus members
        # (one row per scene: cell, image_id, slon, slat) and probe
        # candidates (one row per surviving (probe, cell) pair) —
        # through one hash exchange on cell into a mapInArrow kernel
        # that equi-joins and scores them in numpy. Boundary rows drop
        # from |join output| to |members| + |candidates| (15.5M → 1.7M
        # at 100k probes / 1M scenes), and the per-task rank-min
        # combiner sees each cell's full population co-located, so its
        # output is ≤ queries-in-task × gk instead of ~1 row/query/task
        # (the round-robin-cached corpus scattered every cell across
        # all tasks and made the combiner a no-op — measured as a
        # 15.5M-struct exchange into the final aggregation).
        # No scell pruning here (deliberate): deriving the touched
        # region set would re-run the cascade kernel or materialize
        # cand, and a cluster-scale probe batch touches nearly every
        # storage region by nature; the small-batch branch below keeps
        # the DPP-pruned join for selective serving.
        sc_fields = {f.name: f.dataType for f in sc.schema.fields}
        members = sc.select(
            "cell",
            "image_id",
            "slon",
            "slat",
            F.lit(None).cast(qf["query_id"]).alias("query_id"),
            F.lit(None).cast("double").alias("plon"),
            F.lit(None).cast("double").alias("plat"),
            F.lit(None).cast(qf["k_req"]).alias("k_req"),
            F.lit(0).cast("tinyint").alias("side"),
        )
        probes_u = cand.select(
            "cell",
            F.lit(None).cast(sc_fields["image_id"]).alias("image_id"),
            F.lit(None).cast("double").alias("slon"),
            F.lit(None).cast("double").alias("slat"),
            "query_id",
            F.col("lon").alias("plon"),
            F.col("lat").alias("plat"),
            "k_req",
            F.lit(1).cast("tinyint").alias("side"),
        )
        # keyless-column repartition: partition count comes from
        # spark.sql.shuffle.partitions (scale it with the cluster, not
        # a constant), and AQE may coalesce small outputs
        both = members.unionByName(probes_u).repartition(
            _parent_cell_col(F.col("cell"), UNION_SCORE_PARENT_DROP)
        )
        pruned = both.mapInArrow(
            _make_union_score(),
            schema=T.StructType(
                [
                    T.StructField("query_id", qf["query_id"]),
                    T.StructField("k_req", qf["k_req"]),
                    T.StructField("image_id", sc_fields["image_id"]),
                    T.StructField("dist_m", T.DoubleType()),
                ]
            ),
        )
        return _knn_topk(pruned)

    joined = sc.join(probe_bcast(cand), ["scell", "cell"])
    # ---- fused score + partial top-k (r5, replacing the salted
    # collect_list two-phase of r4): ONE Arrow stage computes the exact
    # numpy haversine (the identical geometry.haversine_m kernel the
    # brute oracle path uses — bit-identical distances) AND reduces each
    # input partition to its local top-gk rows per query, vectorized
    # (sort + groupby-head, the topk_by_key combiner). Properties that
    # matter at scale:
    #   * per-task OUTPUT is ≤ |queries-in-task| × gk rows, so the
    #     shuffle to the final merge is tiny regardless of candidate
    #     fan-out — no aggregation key ever materializes a cell's whole
    #     candidate list (the r4 salt addressed the same risk but still
    #     shuffled every partial struct);
    #   * a hot task (probe batches concentrate in few storage-region
    #     file splits) streams its rows through numpy at vector speed
    #     instead of building millions of per-row agg objects — the
    #     measured 10k-probe GC storm came from exactly that.
    scored_in = joined.select(
        "query_id", "k_req", "image_id", "lon", "lat", "slon", "slat"
    )

    def _score_partial(batches):
        import numpy as np
        import pyarrow as pa

        from . import geometry as geo

        def rank_min_keep(tbl: "pa.Table") -> "pa.Table":
            # keep every row whose distance ranks ≤ gk within its query
            # (ties at the boundary ALL retained) — a provable SUPERSET
            # of the exact top-gk (see _rank_keep_mask): no pandas
            # frames and no Python string materialization ever touch
            # the multi-million-row stream (image_id stays an Arrow
            # buffer end to end); the final JVM aggregation applies the
            # exact (dist_m, image_id) total order to the tiny superset
            keep = _rank_keep_mask(
                tbl.column("query_id").to_numpy(zero_copy_only=False),
                tbl.column("dist_m").to_numpy(zero_copy_only=False),
                gk,
            )
            return tbl.filter(pa.array(keep))

        # bounded-memory accumulation (a hot task can stream tens of
        # millions of candidate rows): raw batches buffer until the
        # doubling threshold, then compact — amortized O(n log n) rank
        # work with peak memory ≈ 2 × max(1M, queries-in-task × gk),
        # never the full candidate stream
        parts: list = []
        rows = 0
        floor_ = 1_000_000
        last = 0
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = {name: rb.column(name) for name in rb.schema.names}
            dist = geo.haversine_m(
                cols["lon"].to_numpy(zero_copy_only=False),
                cols["lat"].to_numpy(zero_copy_only=False),
                cols["slon"].to_numpy(zero_copy_only=False),
                cols["slat"].to_numpy(zero_copy_only=False),
            )
            parts.append(
                pa.table(
                    {
                        "query_id": cols["query_id"],
                        "k_req": cols["k_req"],
                        "image_id": cols["image_id"],
                        "dist_m": pa.array(dist, pa.float64()),
                    }
                )
            )
            rows += rb.num_rows
            if rows >= max(floor_, 2 * last) and len(parts) > 1:
                parts = [rank_min_keep(pa.concat_tables(parts))]
                last = rows = parts[0].num_rows
        if parts:
            out = rank_min_keep(pa.concat_tables(parts))
            yield from out.to_batches()

    # output schema DERIVED from the inputs (r5 review): a hardcoded
    # "query_id long" crashed mid-job for int32/string probe ids that
    # knn_bruteforce (the documented oracle twin) accepts; numpy's
    # lexsort orders object arrays fine, just slower — the id type is
    # the caller's choice
    in_fields = {f.name: f.dataType for f in scored_in.schema.fields}
    pruned = scored_in.mapInArrow(
        _score_partial,
        schema=T.StructType(
            [
                T.StructField("query_id", in_fields["query_id"]),
                T.StructField("k_req", in_fields["k_req"]),
                T.StructField("image_id", in_fields["image_id"]),
                T.StructField("dist_m", T.DoubleType()),
            ]
        ),
    )
    return _knn_topk(pruned)


def _knn_topk(pruned: DataFrame) -> DataFrame:
    """knn_join's exact (dist_m, image_id) top-k_req tail."""
    return _topk_tail(
        pruned, ["query_id"], ["dist_m", "image_id"], F.max("k_req")
    ).select("query_id", "rank", "image_id", "dist_m")


# cap on the per-chunk |points| × |probes| distance-matrix cells the
# blocked brute kernel holds in flight (≈ 32 MB of float64 per
# temporary at 4M cells)
BRUTE_BLOCK_CELLS = 4_000_000


def knn_bruteforce_points(
    points: DataFrame,
    probes: DataFrame,
    k: int,
    point_id: str,
    px: str,
    py: str,
    probe_id: str,
    qx: str,
    qy: str,
) -> DataFrame:
    """Exact brute-force kNN of a bounded probe table against an
    arbitrarily large point table, fused into one blocked Arrow kernel
    (r7, guide §4.2/§8).

    The r6 shape (cross join with a broadcast probe side → JVM
    haversine → pandas groupby-head combiner) computed the right
    distances but materialized |points| × |probes| JVM rows and
    shipped ALL of them through the Python boundary to the combiner —
    at sf0.1 that is 15M rows and ~5 s, almost entirely boundary
    transfer and pandas group overhead. Here only the POINT rows cross
    (15k rows at sf0.1): the probe table — bounded by the same
    contract that let the old plan broadcast it — is collected once
    and closed over, each Arrow batch computes the |batch| × |probes|
    haversine matrix in numpy (row-chunked to BRUTE_BLOCK_CELLS), and
    a per-probe np.partition threshold keeps the rank<k superset (ties
    retained) per task. The final exact (dist, id) total-order top-k
    is the same JVM aggregation every kNN path ends with, so results
    are identical row-for-row to the cross-join plan.

    The distance kernel is geometry.haversine_m — the proven
    oracle-exact formula (radians first, subtract after)."""
    import numpy as np

    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    from . import geometry as geo

    spark = points.sparkSession
    p_fields = {f.name: f.dataType for f in points.schema.fields}
    q_fields = {f.name: f.dataType for f in probes.schema.fields}
    out_schema = T.StructType(
        [
            T.StructField(probe_id, q_fields[probe_id]),
            T.StructField(point_id, p_fields[point_id]),
            T.StructField("dist_m", T.DoubleType()),
        ]
    )
    prows = probes.select(probe_id, qx, qy).collect()
    if not prows:
        empty = spark.createDataFrame([], out_schema)
        return empty.select(
            probe_id,
            F.lit(1).cast("int").alias("rank"),
            point_id,
            "dist_m",
        ).limit(0)
    pid_np = np.array([r[0] for r in prows])
    qx_np = np.array([float(r[1]) for r in prows], dtype=np.float64)
    qy_np = np.array([float(r[2]) for r in prows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((pid_np, qx_np, qy_np))
    # the collected ids come back as numpy int64/object arrays; emit
    # them as the probe table's declared Arrow type (an int32 id
    # column otherwise reaches Spark as int64 and fails the read)
    qid_type = to_arrow_type(q_fields[probe_id])

    def kern(batches):
        import pyarrow as pa

        ids, xs, ys = bc.value
        nq = len(ids)
        chunk = max(1, BRUTE_BLOCK_CELLS // nq)
        acc: list = []
        rows = 0
        last = 0

        def compact(parts):
            t = pa.concat_tables(parts)
            keep = _rank_keep_mask(
                t.column("__p").to_numpy(zero_copy_only=False),
                t.column("dist_m").to_numpy(zero_copy_only=False),
                k,
            )
            return [t.filter(pa.array(keep))]

        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            X = tbl.column(px).to_numpy(zero_copy_only=False)
            Y = tbl.column(py).to_numpy(zero_copy_only=False)
            for s in range(0, len(X), chunk):
                e = min(s + chunk, len(X))
                # (nq, chunk) matrix — same scalar formula per cell as
                # the 1-D kernel (broadcasting only shapes the loops)
                D = geo.haversine_m(
                    xs[:, None], ys[:, None], X[None, s:e], Y[None, s:e]
                )
                kk = min(k, e - s)
                kth = np.partition(D, kk - 1, axis=1)[:, kk - 1 : kk]
                pi, ci = np.nonzero(D <= kth)
                acc.append(
                    pa.table(
                        {
                            "__p": pa.array(pi.astype(np.int64)),
                            point_id: tbl.column(point_id).take(
                                pa.array(ci + s)
                            ),
                            "dist_m": pa.array(D[pi, ci], pa.float64()),
                        }
                    )
                )
                rows += len(pi)
                if rows >= max(200_000, 2 * last) and len(acc) > 1:
                    acc = compact(acc)
                    last = rows = acc[0].num_rows
        if acc:
            t = compact(acc)[0]
            pidx = t.column("__p").to_numpy(zero_copy_only=False)
            out = pa.table(
                {
                    probe_id: pa.array(ids[pidx], type=qid_type),
                    point_id: t.column(point_id),
                    "dist_m": t.column("dist_m"),
                }
            )
            yield from out.to_batches()

    pruned = points.select(point_id, px, py).mapInArrow(
        kern, schema=out_schema
    )
    return _topk_tail(pruned, [probe_id], ["dist_m", point_id], k).select(
        probe_id, "rank", point_id, "dist_m"
    )


def knn_bruteforce(
    scenes: DataFrame, queries: DataFrame, k: int | None = None
) -> DataFrame:
    """Exact kNN oracle path: broadcast cross join + sorted-struct top-k."""
    u = udfs.make_scalar_udfs()
    cent = _scene_centroids(scenes)
    # element_at/slice ordinals must be INT (queries may carry k as long)
    kcol = (F.lit(k) if k is not None else F.col("k")).cast("int")
    scored = cent.crossJoin(F.broadcast(queries)).withColumn(
        "dist_m", u["haversine_m"]("lon", "lat", "slon", "slat")
    )
    topk = scored.groupBy("query_id").agg(
        F.slice(
            F.sort_array(
                F.collect_list(F.struct(F.col("dist_m"), F.col("image_id")))
            ),
            1,
            F.max(kcol),
        ).alias("nn")
    )
    return topk.select(
        "query_id", F.posexplode("nn").alias("pos", "nn")
    ).select(
        "query_id",
        (F.col("pos") + 1).alias("rank"),
        F.col("nn.image_id").alias("image_id"),
        F.col("nn.dist_m").alias("dist_m"),
    )


# --------------------------------------------------- raster ↔ vector join
def raster_vector_join(
    scenes: DataFrame, vectors: DataFrame, zoom: int,
    salt_buckets: int = 8,
) -> DataFrame:
    """J4: scene footprints × vector polygons via quadkey co-membership.

    Both sides explode through the same fused kernel, then a hash
    equi-join on quadkey — the canonical raster↔vector plan at scale
    (pre-partitionable, no geometry in the join itself).

    Skew (r4 — VERDICT r3 'Next' #6): a dense coastal cell holding
    many scenes × many features concentrates that cell's entire
    within-cell cross product in ONE shuffle key. The scene side
    therefore carries salt = hash(image_id) % salt_buckets and the
    (orders-of-magnitude smaller) vector side replicates across all
    salts, so a hot cell's work spreads over salt_buckets tasks while
    the emitted pair multiset is IDENTICAL — each scene row joins
    under exactly one salt. The output's size is inherent to the
    semantics (every co-located pair); salting bounds per-task time,
    not result cardinality. salt_buckets=1 disables."""
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1 (got {salt_buckets})")
    s_qk = udfs.explode_to_quadkeys(
        scenes, zoom, passthrough=["image_id"]
    ).select(
        "cell",
        "image_id",
        F.pmod(F.xxhash64("image_id"), F.lit(salt_buckets))
        .cast("int")
        .alias("salt"),
    )
    v_qk = udfs.ring_to_quadkeys(vectors, zoom, "feature_id").select(
        "cell",
        "feature_id",
        F.explode(
            F.array(*[F.lit(i) for i in range(salt_buckets)])
        ).alias("salt"),
    )
    joined = s_qk.join(v_qk, ["cell", "salt"])
    u = udfs.make_scalar_udfs()
    return joined.select(
        u["cell_quadkey"](F.col("cell")).alias("quadkey"),
        "image_id",
        "feature_id",
    )


# ------------------------------------------------------------------ stats
def dedup_scenes(df: DataFrame) -> DataFrame:
    """F7: drop duplicate product ids (multi-page search results)."""
    return df.dropDuplicates(["image_id"])


def mosaic_stats(assign: DataFrame) -> DataFrame:
    """A5: assets-per-tile histogram over the assignments table."""
    return (
        assign.groupBy("n_assets")
        .agg(F.count("*").alias("n_tiles"))
        .orderBy("n_assets")
    )


def mosaic_rollup(tiles: DataFrame, levels: int = 4) -> DataFrame:
    """A8: per-zoom-prefix rollup metrics (grouping sets on the packed
    cell's parents) — per-region tile/scene counts for reporting.

    The region key is a VALID packed parent cell (the Spark-column twin
    of cells.cell_parent: drop `levels` morton pairs, decrement the
    level field), so it decodes back to a region/quadkey downstream."""
    lvl = F.col("cell").bitwiseAND(F.lit(63))
    parent = F.shiftleft(
        F.shiftright("cell", 6 + 2 * levels), 6
    ) + (lvl - levels)
    # fail-loud twin of cells.cell_parent: a cell shallower than
    # `levels` has no such parent — without the guard the negative
    # level field would silently corrupt the region key (ADVICE r3)
    guarded = F.when(
        F.assert_true(
            lvl >= levels,
            f"mosaic_rollup: cell level below levels={levels} has no "
            "parent at that depth",
        ).isNull(),
        parent,
    )
    lv1 = tiles.select(guarded.alias("cell_r4"), "image_id")
    return lv1.rollup("cell_r4").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("image_id").alias("n_scenes"),
    )


def haversine_expr(lon1, lat1, lon2, lat2) -> Column:
    """G9 as a pure Column expression — stays in whole-stage codegen
    (no Arrow hop); same float64 formula as geometry.haversine_m."""
    l1, p1 = F.radians(lon1), F.radians(lat1)
    l2, p2 = F.radians(lon2), F.radians(lat2)
    a = (
        F.sin((p2 - p1) / 2) * F.sin((p2 - p1) / 2)
        + F.cos(p1) * F.cos(p2) * F.sin((l2 - l1) / 2) * F.sin((l2 - l1) / 2)
    )
    return 2.0 * 6371008.8 * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def assets_for_tile(
    assign: DataFrame, tx: int, ty: int, z: int, quadkey_zoom: int
) -> list[str]:
    """Tile-read path (the mosaicJSON consumer contract, as in the
    public cogeo-mosaic backend's get_assets): a request at z >
    quadkey_zoom resolves to its ANCESTOR quadkey; at z < quadkey_zoom
    it unions its DESCENDANT quadkeys, preserving per-quadkey rank order
    and de-duplicating assets on first appearance."""
    from . import tilemath as tm

    if z >= quadkey_zoom:
        px, py, _ = tm.parent_tile([tx], [ty], z, z - quadkey_zoom)
        qk = tm.tile_to_quadkey(px, py, quadkey_zoom)[0]
        rows = assign.filter(F.col("quadkey") == qk).select("assets").collect()
        return list(rows[0]["assets"]) if rows else []
    prefix = tm.tile_to_quadkey([tx], [ty], z)[0] if z > 0 else ""
    rows = (
        assign.filter(F.col("quadkey").startswith(prefix))
        .select("quadkey", "assets")
        .orderBy("quadkey")
        .collect()
    )
    out: list[str] = []
    seen = set()
    for r in rows:
        for a in r["assets"]:
            if a not in seen:
                seen.add(a)
                out.append(a)
    return out


def assets_for_tiles(
    assign: DataFrame, requests: DataFrame, z: int, quadkey_zoom: int
) -> DataFrame:
    """Batched tile-read path: a requests table (tx, ty) at zoom `z` →
    (tx, ty, assets) via joins against the assignments table — the
    tiler-at-scale shape (one DataFrame plan, no per-request driver
    round trip; complements the scalar assets_for_tile convenience).

    Same semantics as assets_for_tile: z ≥ quadkey_zoom resolves each
    request to its ANCESTOR quadkey; z < quadkey_zoom unions DESCENDANT
    quadkeys in quadkey order, de-duplicating assets on first
    appearance (sort_array of (quadkey, assets) structs → flatten →
    array_distinct, which keeps first occurrences). Requests with no
    coverage get an empty asset list. One zoom level per call — the
    batch-render contract — so every join is a broadcast equi-join."""
    u = udfs.make_scalar_udfs()
    req = requests.select("tx", "ty")
    if z >= quadkey_zoom:
        shift = z - quadkey_zoom
        qk = u["tile_quadkey"](
            F.shiftright(F.col("tx"), shift).cast("long"),
            F.shiftright(F.col("ty"), shift).cast("long"),
            F.lit(quadkey_zoom),
        )
        keyed = req.withColumn("quadkey", qk)
        # outer joins can only broadcast the NON-preserved side, so a
        # broadcast hint on the preserved request side would be silently
        # dropped and the full assignments table would shuffle. Instead:
        # semi-filter assignments by the broadcast requests (small
        # result), then left-join THAT small side broadcast under the
        # preserved requests.
        rel = assign.select("quadkey", "assets").join(
            F.broadcast(keyed.select("quadkey")), "quadkey", "left_semi"
        )
        hit = keyed.join(F.broadcast(rel), "quadkey", "left")
        return hit.select(
            "tx",
            "ty",
            F.coalesce(
                "assets", F.array().cast("array<string>")
            ).alias("assets"),
        )
    prefix = (
        u["tile_quadkey"](
            F.col("tx").cast("long"), F.col("ty").cast("long"), F.lit(z)
        )
        if z > 0
        else F.lit("")
    )
    keyed = req.withColumn("prefix", prefix)
    pref_assign = assign.select(
        F.substring("quadkey", 1, z).alias("prefix"), "quadkey", "assets"
    )
    merged = (
        F.broadcast(keyed)
        .join(pref_assign, "prefix")
        .groupBy("tx", "ty")
        .agg(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct("quadkey", "assets"))
                        ),
                        lambda s: s["assets"],
                    )
                )
            ).alias("assets")
        )
    )
    # merged is ≤ |requests| rows → broadcastable as the non-preserved
    # side of the left join
    return req.join(F.broadcast(merged), ["tx", "ty"], "left").select(
        "tx",
        "ty",
        F.coalesce("assets", F.array().cast("array<string>")).alias("assets"),
    )


def topk_by_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    k: int,
) -> DataFrame:
    """Exact top-k rows per key with a MANUAL map-side combine.

    collect_list-based top-k shuffles every input row (partial
    collect_list still carries them all); this op cuts the exchange to
    ≤ partitions x keys x k rows: an Arrow stage emits each input
    partition's local top-k per key (pandas nsmallest semantics over
    the lexicographic order_cols), then one small groupBy finalizes.
    Ascending order; order_cols must start with the ranking measure and
    end with a total tiebreak. Returns key_cols + order_cols + rank.

    Null keys are kept (groupby dropna=False, matching Spark groupBy).
    order_cols must be non-null and non-NaN: Spark orders null < values
    < NaN while pandas cannot distinguish null from NaN, so no single
    na_position reproduces Spark's order — rows violating this raise.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from collections.abc import Iterator

    src = df.select(*key_cols, *order_cols)
    schema = T.StructType([src.schema[c] for c in key_cols + order_cols])

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def compact(chunks):
            m = pd.concat(chunks, ignore_index=True)
            return (
                m.sort_values(order_cols, kind="mergesort")
                .groupby(key_cols, sort=False, dropna=False)
                .head(k)
            )

        # doubling compaction bounds memory to ≈ 2 × (keys-in-task × k)
        # instead of buffering every batch head (see knn_join's
        # _score_partial — same combiner, same rationale)
        acc: list[pd.DataFrame] = []
        rows = 0
        last = 0
        for pdf in batches:
            if pdf[order_cols].isna().any().any():
                raise ValueError(
                    "topk_by_key: null/NaN in order_cols "
                    f"{order_cols} — ordering would diverge from Spark"
                )
            acc.append(
                pdf.sort_values(order_cols, kind="mergesort")
                .groupby(key_cols, sort=False, dropna=False)
                .head(k)
            )
            rows += len(acc[-1])
            if rows >= max(1_000_000, 2 * last) and len(acc) > 1:
                acc = [compact(acc)]
                last = rows = len(acc[0])
        if acc:
            yield compact(acc)

    pruned = src.mapInPandas(partial, schema=schema)
    return _topk_tail(pruned, key_cols, order_cols, k)
