"""Self-test of the benchmark at smoke size.

    python3 perfbench/selftest.py

It checks that BENCHMARK.json lists the metrics the runner prints,
and for each workload that an untraced run prints every
end-to-end metric and a traced run every per-layer metric, each with
its unit and a finite value, on correct output; and that a deliberately
wrong result (a dropped mosaic asset, a perturbed kNN row) is counted
as a failed op.
"""

from __future__ import annotations

import json
import math
import os
import sys
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SMOKE = {
    "mosaic_build": {"scenes": 3_000, "files": 2, "zoom": 8},
    "serve_stream": {
        "scenes": 3_000,
        "files": 2,
        "bulk_probes": 51_000,
        "large": 2_600,
        "trickle": 20,
        "boiler_frac": 0.5,
    },
}


@contextmanager
def patched(module, name, wrap):
    orig = getattr(module, name)
    setattr(module, name, wrap(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def drop_asset(build):
    def wrapped(*a, **kw):
        doc, metrics = build(*a, **kw)
        fullest = max(doc["tiles"], key=lambda qk: len(doc["tiles"][qk]))
        doc["tiles"][fullest] = doc["tiles"][fullest][1:]
        return doc, metrics

    return wrapped


def perturb_row(knn_join):
    from pyspark.sql import functions as F

    def wrapped(*a, **kw):
        df = knn_join(*a, **kw)
        hit = (F.col("query_id") == 0) & (F.col("rank") == 1)
        return df.withColumn(
            "dist_m", F.when(hit, F.col("dist_m") + 1.0).otherwise(F.col("dist_m"))
        )

    return wrapped


def check_metrics(res: dict, units: dict, what: str):
    got = res["metrics"]
    assert set(got) == set(units), f"{what}: metric names {sorted(got)}"
    for k, m in got.items():
        assert m["unit"] == units[k], f"{what}: {k} unit {m['unit']}"
        assert isinstance(m["value"], float) and math.isfinite(m["value"]), (
            f"{what}: {k} = {m['value']}"
        )


def check_spec(run):
    """BENCHMARK.json names every metric the runner prints, unit for unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, units in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        got = {m["name"]: m["unit"] for m in spec[key]}
        assert got == units, f"BENCHMARK.json {key} differs from run.py"
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def main() -> int:
    sys.path.insert(0, ROOT)
    from mosaic_engine import checkpoint, ops
    from perfbench import run

    check_spec(run)

    for name, sizes in SMOKE.items():
        res = run.run(name, 1, 0.0, False, sizes)["result"]
        assert res["correct"] and res["failed"] == 0, (name, res)
        check_metrics(res, run.END_TO_END, name)
        assert res["metrics"]["ok_ratio"]["value"] == 1.0
        res = run.run(name, 1, 0.0, True, sizes)["result"]
        assert res["correct"], (name, res)
        check_metrics(res, run.PER_LAYER, f"{name} traced")
        print(f"selftest: {name} prints every metric", flush=True)

    faults = {
        "mosaic_build": (checkpoint, "build_with_checkpoint", drop_asset),
        "serve_stream": (ops, "knn_join", perturb_row),
    }
    for name, (module, fn, wrap) in faults.items():
        with patched(module, fn, wrap):
            res = run.run(name, 1, 0.0, False, SMOKE[name])["result"]
        ok = res["metrics"]["ok_ratio"]["value"]
        assert res["failed"] >= 1 and not res["correct"] and ok < 1.0, (name, res)
        print(f"selftest: {name} counts a wrong result ({res['failed']} failed)")
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
