"""Generation choice of the two persisted serving indexes (kNN, IVF):
a corrupt meta refuses the re-save, a torn (absent) meta refuses the
load and the next save continues past every generation on disk."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

from mosaic_engine import annops, ops

KINDS = ["knn", "ivf"]


def _build(kind, spark, scenes_df):
    if kind == "knn":
        return ops.knn_index(scenes_df, level=5)
    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [
            (i, rng.normal(size=annops.DIM).tolist(), i % 7)
            for i in range(400)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    return annops.ivf_index(emb, n_list=8, iters=3)


def _save(kind, idx, path):
    (ops.knn_index_save if kind == "knn" else annops.ivf_index_save)(idx, path)


def _load(kind, spark, path):
    load = ops.knn_index_load if kind == "knn" else annops.ivf_index_load
    return load(spark, path)


def _serve(kind, spark, idx):
    if kind == "knn":
        queries = spark.createDataFrame(
            [(i, -120.0 + i, 33.0 + 0.5 * i, 3) for i in range(4)],
            "query_id long, lon double, lat double, k int",
        )
        out = ops.knn_join(None, queries, index=idx)
    else:
        out = annops.ivf_topk(None, index=idx)
    return sorted(map(tuple, out.collect()))


def _gen_listing(path):
    """{generation dir: sorted relative file paths} for every *_g* dir."""
    out = {}
    for d in os.listdir(path):
        if "_g" not in d:
            continue
        root = os.path.join(path, d)
        out[d] = sorted(
            os.path.relpath(os.path.join(dp, f), root)
            for dp, _, fs in os.walk(root)
            for f in fs
        )
    return out


def _meta_gen(spark, path):
    return int(spark.read.parquet(os.path.join(path, "meta")).first()["gen"])


@pytest.mark.parametrize("kind", KINDS)
def test_index_resave_refuses_corrupt_meta(spark, scenes_df, tmp_path, kind):
    """An unreadable meta must fail the re-save loudly: restarting at
    gen 0 would overwrite a generation a loaded handle may still read."""
    path = str(tmp_path / "idx")
    idx = _build(kind, spark, scenes_df)
    _save(kind, idx, path)
    _save(kind, idx, path)
    meta = os.path.join(path, "meta")
    for f in os.listdir(meta):
        if f.endswith(".crc"):
            os.remove(os.path.join(meta, f))
        elif f.endswith(".parquet"):
            with open(os.path.join(meta, f), "wb") as fh:
                fh.write(b"not a parquet file")
    before = _gen_listing(path)
    assert before
    with pytest.raises(Exception):
        _save(kind, idx, path)
    assert _gen_listing(path) == before


@pytest.mark.parametrize("kind", KINDS)
def test_index_torn_meta_refuses_load_and_resave_continues(
    spark, scenes_df, tmp_path, kind
):
    """meta gone (a crash inside Spark's delete-then-write of meta): the
    load raises, and a re-save commits the generation after the highest
    one on disk, so the handle loaded before the tear keeps serving."""
    path = str(tmp_path / "idx")
    idx = _build(kind, spark, scenes_df)
    _save(kind, idx, path)
    _save(kind, idx, path)
    handle = _load(kind, spark, path)
    want = _serve(kind, spark, handle)
    shutil.rmtree(os.path.join(path, "meta"))
    with pytest.raises(Exception):
        _load(kind, spark, path)
    _save(kind, handle, path)
    assert _meta_gen(spark, path) == 2
    assert {d.rsplit("_g", 1)[1] for d in _gen_listing(path)} == {"1", "2"}
    assert _serve(kind, spark, handle) == want
    assert _serve(kind, spark, _load(kind, spark, path)) == want
