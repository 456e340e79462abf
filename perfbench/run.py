"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload mosaic_build --seed 1 --seconds 10 --trace 0

Run from the repository root. `--trace 0` measures the end-to-end
metrics; `--trace 1` runs one traced op cycle and reports the per-layer
metrics (README.md lists both sets).
The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; the lines before it print every
metric by name and unit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREP_REPEATS = 3  # input preparation runs this often; setup_s takes the median

END_TO_END = {
    "setup_s": "s",
    "request_p50_s": "s",
    "write_p50_s": "s",
    "throughput_per_s": "1/s",
    "state_bytes_per_item": "B",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}

PER_LAYER = {
    "session_s": "s",
    "lineage_s": "s",
    "commit_s": "s",
    "commit_bytes": "B",
    "commit_files": "count",
    "explode_s": "s",
    "explode_cells_out": "count",
    "explode_arrow_rows_in": "count",
    "explode_arrow_bytes": "B",
    "select_s": "s",
    "select_shuffle_bytes": "B",
    "select_shuffle_records": "count",
    "select_task_max_over_p50": "ratio",
    "bounds_s": "s",
    "assemble_s": "s",
    "assemble_driver_rows": "count",
    "knn_index_build_s": "s",
    "knn_index_save_s": "s",
    "knn_index_load_s": "s",
    "knn_jobs_per_batch": "count",
    "knn_driver_gap_s": "s",
    "knn_pairs_per_probe": "ratio",
    "knn_arrow_rows_per_probe": "ratio",
    "knn_shuffle_bytes_per_probe": "B",
    "knn_useful_ratio": "ratio",
    "minhash_s": "s",
    "dedup_input_rows": "count",
    "dedup_state_read_ratio": "ratio",
    "dedup_jobs_per_batch": "count",
    "dedup_driver_gap_s": "s",
    "dedup_pairs_emitted": "count",
    "dedup_bytes_written": "B",
    "compact_s": "s",
    "compact_bytes_rewritten": "B",
    "spark_task_s": "s",
    "spark_spill_bytes": "B",
    "arrow_rows_to_python": "count",
    "arrow_rows_from_python": "count",
    "coverage": "ratio",
    "tracing_overhead": "ratio",
}


def log(msg: str):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def process_start() -> float:
    """Epoch time this process started (interpreter start included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(
    name: str, seed: int, seconds: float, trace: bool, sizes: dict, started=None
) -> dict:
    """One run: returns the result object (see module docstring) plus a
    `named` map of the workload's own metrics for the printed lines.
    Set-up time counts from `started` (epoch seconds; default now)."""
    started = started or time.time()
    from perfbench import harness
    from perfbench.workloads import WORKLOADS, Ctx

    dirs = harness.RunDirs.fresh(os.path.join(ROOT, ".perfbench_work"), f"{name}-s{seed}")
    harness.prepare_env(dirs)
    rss = harness.RssSampler()
    rss.start()
    spark = tracer = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session(dirs, harness.cores())
        session_s = time.perf_counter() - t0
        tracer = harness.Tracer() if trace else None
        rest = harness.SparkRest(spark.sparkContext) if trace else None
        wl = WORKLOADS[name](Ctx(spark, dirs.data, seed, sizes, rest, tracer))
        preps = []
        for r in range(PREP_REPEATS):
            inp = os.path.join(dirs.data, f"inputs-{r}")
            t0 = time.perf_counter()
            wl.prepare_inputs(inp)
            preps.append(time.perf_counter() - t0)
            if r + 1 < PREP_REPEATS:
                shutil.rmtree(inp)
        wl.setup(inp)
        setup_s = time.time() - started - sum(preps) + harness.median(preps)

        log(
            f"set-up done: session {session_s:.1f} s, inputs {preps}, "
            f"{wl.setup_layers}, setup_s {setup_s:.1f} s"
        )
        done, n_cycle = [], len(wl.cycle)
        t_meas = time.perf_counter()
        while True:
            done.append(wl.run_op(wl.cycle[len(done) % n_cycle], trace))
            log(f"op {done[-1].kind}: {done[-1].wall:.2f} s")
            # traced runs cover one cycle; untraced ones whole cycles
            # until the run has measured for `seconds`
            if len(done) % n_cycle == 0 and (
                trace or time.perf_counter() - t_meas >= seconds
            ):
                break
        t0 = time.perf_counter()
        wl.finish(done)
        log(f"end-of-run checks: {time.perf_counter() - t0:.1f} s")
    finally:
        rss.stop()
        try:
            if spark is not None:
                harness.stop_session(spark)
        finally:
            try:
                rss.reap()
            finally:
                dirs.remove()
        if tracer is not None:
            tracer.dump(
                os.path.join(ROOT, ".perfbench_traces", f"{name}-seed{seed}.jsonl")
            )

    attempted = wl.warmups + done
    failed = sum(1 for o in attempted if o.errors)
    for o in attempted:
        for e in o.errors:
            print(f"FAILED {o.kind}: {e}", file=sys.stderr)
    if not trace:
        values = {
            "setup_s": setup_s,
            **wl.e2e(done),
            "peak_rss_mb": rss.peak / 1e6,
            "ok_ratio": 1.0 - failed / len(attempted),
        }
        units = END_TO_END
        named = wl.named(done)
        named["fail_ratio"] = (failed / len(attempted), "ratio", len(attempted))
    else:
        values = {k: harness.median(v) for k, v in wl.layers.items()}
        values.update(wl.setup_layers, session_s=session_s)
        traced = [o for o in done if o.layer_self is not None and not o.errors]
        walls = sum(o.wall for o in traced) or float("nan")
        values["coverage"] = sum(o.layer_self for o in traced) / walls
        values["tracing_overhead"] = sum(o.trace_s for o in traced) / walls
        units = PER_LAYER
        named = {}
    metrics = {}
    for k, unit in units.items():
        v = values.get(k, 0.0)  # a layer the workload bypasses reads 0
        metrics[k] = {"value": v if math.isfinite(v) else None, "unit": unit}
    return {
        "result": {
            "correct": failed == 0,
            "attempted": len(attempted),
            "failed": failed,
            "metrics": metrics,
        },
        "named": named,
    }


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    from perfbench.workloads import SIZES

    out = run(
        args.workload,
        args.seed,
        args.seconds,
        bool(args.trace),
        SIZES[args.workload],
        started=process_start(),
    )
    for k, (v, unit, n) in out["named"].items():
        print(f"{args.workload} {k} = {v:.6g} {unit} (n={n})")
    for k, m in out["result"]["metrics"].items():
        print(f"{args.workload} {k} = {m['value']} {m['unit']}")
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
