"""The two workloads. Each is one closed-loop client on local[nproc]
calling the engine's public entry points the way its users do.

A workload prepares its inputs, sets up (index, warm-up op), then runs
ops of a fixed, seeded cycle. `run_op(kind, traced)` times one op and
checks its output; with `traced` it also reads what Spark recorded for
the op's jobs and times the layers under the op (see README.md).
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from mosaic_engine import checkpoint, ops, streaming, textops, udfs
from mosaic_engine import mosaic as mz

from . import checks, inputs
from .harness import SparkRest, Tracer, median, tree_bytes

TILE_SAMPLE = 4  # oracle-checked tiles per full build
PROBE_SAMPLE = 32  # brute-force-checked probes per batch over 100 probes


@dataclass
class Op:
    kind: str
    wall: float
    items: int = 0
    errors: list = field(default_factory=list)
    traced: bool = False
    layer_self: float | None = None  # sum of layer self times (traced)
    trace_s: float = 0.0  # time spent tracing around the op (traced)


@dataclass
class Ctx:
    spark: object
    data: str  # run-private data dir
    seed: int
    sizes: dict
    rest: SparkRest | None = None
    tracer: Tracer | None = None


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    cycle: list[str] = []

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sz = ctx.sizes
        self.setup_layers: dict[str, float] = {}
        self.warmups: list[Op] = []  # checked, not timed
        # per-layer samples of traced ops: name -> [values]
        self.layers: dict[str, list[float]] = {}
        self.op_no = 0
        self.self_time: float | None = None
        self.trace_s = 0.0

    # -- set-up ------------------------------------------------------
    def prepare_inputs(self, out_dir: str) -> None:
        """Generate and write the run's inputs into `out_dir`."""
        raise NotImplementedError

    def setup(self, input_dir: str) -> None:
        """Everything after input preparation and before the first
        timed op, including warm-up ops."""
        raise NotImplementedError

    # -- ops ---------------------------------------------------------
    def op(self, kind: str, traced: bool) -> Op:
        """Run, time and check one op of the cycle."""
        raise NotImplementedError

    def run_op(self, kind: str, traced: bool) -> Op:
        self.op_no += 1
        self.self_time, self.trace_s = None, 0.0
        try:
            op = self.op(kind, traced)
        except Exception as e:  # an op that raises counts as failed
            return Op(kind, float("nan"), errors=[f"{type(e).__name__}: {e}"])
        op.layer_self, op.trace_s = self.self_time, self.trace_s
        return op

    def finish(self, done: list[Op]) -> None:
        """End-of-run checks that cover several ops."""

    def _span(self, name: str, parent=None, **attrs):
        return self.ctx.tracer.span(name, self.op_no, parent, **attrs)

    def _layer(self, name: str, value: float):
        self.layers.setdefault(name, []).append(float(value))

    def _traced(self, kind: str, fn):
        """Run `fn` inside an op span with Spark counters read after it;
        returns (result, wall, counters, span)."""
        t0 = time.perf_counter()
        rest = self.ctx.rest
        self.spark.sparkContext.setJobGroup(f"op{self.op_no}-{kind}", kind)
        mark = rest.mark()
        with self._span(kind) as sp:
            out = fn(sp["id"])
        c = rest.counters(mark, sp["start"], sp["end"])
        self.spark.sparkContext.setJobGroup("perfbench-idle", "between ops")
        sp["spark"] = c.__dict__
        self.trace_s += time.perf_counter() - t0 - sp["dur_s"]
        self._layer("spark_task_s", c.task_s)
        self._layer("spark_spill_bytes", c.spill_bytes)
        self._layer("arrow_rows_to_python", c.rows_to_python)
        self._layer("arrow_rows_from_python", c.rows_from_python)
        return out, sp["dur_s"], c, sp

    # -- metrics -----------------------------------------------------
    def e2e(self, done: list[Op]) -> dict[str, float]:
        """request_p50_s, write_p50_s, throughput_per_s and
        state_bytes_per_item from this run's ops."""
        raise NotImplementedError

    def named(self, done: list[Op]) -> dict[str, tuple[float, str, int]]:
        """The workload's metrics under the names README.md gives them:
        name -> (value, unit, samples)."""
        raise NotImplementedError


def _rate(ops_) -> float:
    """Items per second over these ops."""
    wall = sum(o.wall for o in ops_)
    return sum(o.items for o in ops_) / wall if wall else float("nan")


def _walls(done, *kinds):
    """Walls of the untraced ops of these kinds that completed."""
    return [
        o.wall for o in done if o.kind in kinds and not o.traced and math.isfinite(o.wall)
    ]


# ===================================================================
class MosaicBuild(Workload):
    """Repeated checkpoint.build_with_checkpoint of the corpus into a
    fresh out dir; the first build is the warm-up."""

    name = "mosaic_build"
    cycle = ["full", "full"]

    def prepare_inputs(self, out_dir):
        s = self.sz
        self.scenes_t = inputs.scenes(s["scenes"], self.ctx.seed)
        inputs.write_scenes(self.scenes_t, os.path.join(out_dir, "scenes"), s["files"])

    def setup(self, input_dir):
        self.inp = os.path.join(input_dir, "scenes")
        self.cfg = ops.MosaicConfig(quadkey_zoom=self.sz["zoom"])
        self.n_out = 0
        self.state_bytes: list[float] = []
        t0 = time.perf_counter()
        out, _scenes, self.warm_doc, m = self._build()
        self.warmups.append(Op("warmup", time.perf_counter() - t0, m["n_assignments"]))
        shutil.rmtree(out)
        self.expected_tiles = None  # the oracle's cost is not set-up

    def _build(self):
        out = os.path.join(self.ctx.data, f"out-{self.n_out}")
        self.n_out += 1
        scenes = self.spark.read.parquet(self.inp)
        doc, m = checkpoint.build_with_checkpoint(self.spark, scenes, self.cfg, out)
        return out, scenes, doc, m

    def op(self, kind, traced):
        if not traced:
            t0 = time.perf_counter()
            out, scenes, doc, m = self._build()
            wall = time.perf_counter() - t0
        else:
            (out, scenes, doc, m), wall, c, sp = self._traced(
                kind, lambda _pid: self._build()
            )
            self._trace_layers(out, scenes, sp)
        op = Op(kind, wall, m["n_assignments"], traced=traced)
        op.errors = self._check(doc, m["n_assignments"])
        if self.warm_doc is not None:
            self.warmups[0].errors = self._check(self.warm_doc, self.warmups[0].items)
            self.warm_doc = None
        self.state_bytes.append(tree_bytes(out)[0] / max(m["n_assignments"], 1))
        shutil.rmtree(out)
        return op

    def _check(self, doc, n_assignments):
        if self.expected_tiles is None:
            self.expected_tiles = checks.oracle_tiles(
                self.scenes_t, self.ctx.seed, TILE_SAMPLE, self.cfg.quadkey_zoom
            )
        return checks.check_mosaic_doc(doc, n_assignments) + checks.check_mosaic_sample(
            doc, self.scenes_t, self.expected_tiles
        )

    def _trace_layers(self, out, scenes, build_span):
        """Time each layer of the build on its own, in pipeline order,
        forcing lazy outputs into the noop sink."""
        t0 = time.perf_counter()
        rest, cfg = self.ctx.rest, self.cfg
        pid = build_span["id"]
        with self._span("checkpoint.input_snapshot_hash", pid) as lin:
            checkpoint.input_snapshot_hash(scenes)
        filtered = ops.filter_scenes(scenes, cfg)
        tiles = udfs.explode_to_quadkeys(
            filtered, cfg.quadkey_zoom, passthrough=udfs.EXPLODE_PASSTHROUGH
        )
        mark = rest.mark()
        with self._span("udfs.explode_to_quadkeys", pid) as ex:
            _noop(tiles)
        ce = rest.counters(mark, ex["start"], ex["end"])
        mark = rest.mark()
        with self._span("ops.assignments", pid, consumes="udfs.explode_to_quadkeys") as sel:
            _noop(ops.assignments(tiles, cfg))
        cs = rest.counters(mark, sel["start"], sel["end"])
        result = self.spark.read.parquet(os.path.join(out, "assignments"))
        with self._span("ops.mosaic_bounds", pid) as bd:
            bounds = ops.mosaic_bounds(filtered, result)
        with self._span("mosaic.assemble_mosaic_doc", pid) as asm:
            rows = result.select("quadkey", "assets").collect()
            doc = mz.assemble_mosaic_doc(
                {r["quadkey"]: list(r["assets"]) for r in rows}, bounds, cfg
            )
            mz.canonical_json(doc)
        select_self = sel["dur_s"] - ex["dur_s"]
        commit = build_span["dur_s"] - (
            lin["dur_s"] + sel["dur_s"] + bd["dur_s"] + asm["dur_s"]
        )
        nbytes, nfiles = tree_bytes(out)
        for k, v in {
            "lineage_s": lin["dur_s"],
            "explode_s": ex["dur_s"],
            "explode_cells_out": ce.generate_rows,
            "explode_arrow_rows_in": ce.rows_to_python,
            "explode_arrow_bytes": ce.bytes_to_python,
            "select_s": select_self,
            "select_shuffle_bytes": cs.shuffle_bytes,
            "select_shuffle_records": cs.shuffle_records,
            "select_task_max_over_p50": cs.task_max_over_p50,
            "bounds_s": bd["dur_s"],
            "assemble_s": asm["dur_s"],
            "assemble_driver_rows": len(rows),
            "commit_s": commit,
            "commit_bytes": nbytes,
            "commit_files": nfiles,
        }.items():
            self._layer(k, v)
        self.self_time = (
            lin["dur_s"] + ex["dur_s"] + select_self + bd["dur_s"] + asm["dur_s"] + commit
        )
        self.trace_s += time.perf_counter() - t0

    def e2e(self, done):
        full = [o for o in done if o.kind == "full" and math.isfinite(o.wall)]
        build = median(_walls(done, "full"))
        return {
            "request_p50_s": build,
            "write_p50_s": build,
            "throughput_per_s": _rate(full),
            "state_bytes_per_item": median(self.state_bytes),
        }

    def named(self, done):
        e = self.e2e(done)
        n_full = len(_walls(done, "full"))
        return {
            "build_p50_s": (e["request_p50_s"], "s", n_full),
            "assignments_per_s": (e["throughput_per_s"], "1/s", n_full),
            "bytes_per_assignment": (e["state_bytes_per_item"], "B", n_full),
        }


# ===================================================================
class KnnPart:
    """The kNN scene-lookup service: a saved index, loaded once, serving
    probe batches of 1 and 100 probes (small) and a bulk batch above
    ops.KNN_PROBE_BROADCAST_LIMIT, so both serving branches run."""

    # op kind -> (probes, hotspot); bulk size comes from the sizes
    BATCHES = {
        "knn_small_1": (1, False),
        "knn_small_100": (100, True),
        "knn_small_1b": (1, True),
        "knn_small_100b": (100, False),
        "knn_bulk": (None, False),
    }

    def knn_prepare(self, out_dir):
        s, seed = self.sz, self.ctx.seed
        self.corpus = inputs.scenes(s["scenes"], seed)
        inputs.write_scenes(self.corpus, os.path.join(out_dir, "scenes"), s["files"])
        self.batches, first = {}, 0
        for i, (kind, (n, hot)) in enumerate(self.BATCHES.items()):
            n = n or s["bulk_probes"]
            self.batches[kind] = inputs.knn_probes(n, seed * 100 + i, first, hot)
            first += n
        self.warm = inputs.knn_probes(1, seed * 100 + 99, first, True)

    def knn_setup(self, input_dir):
        sp = self.spark
        path = os.path.join(self.ctx.data, "knn_index")
        t0 = time.perf_counter()
        idx = ops.knn_index(sp.read.parquet(os.path.join(input_dir, "scenes")))
        t1 = time.perf_counter()
        ops.knn_index_save(idx, path)
        t2 = time.perf_counter()
        self.idx = ops.knn_index_load(sp, path)
        t3 = time.perf_counter()
        self.setup_layers.update(
            knn_index_build_s=t1 - t0,
            knn_index_save_s=t2 - t1,
            knn_index_load_s=t3 - t2,
        )
        self.cents = checks.centroids(self.corpus)
        self.warmups.append(self.knn_op("warmup", False))

    def _serve(self, probes, pid=None):
        if pid is None:
            q = self.spark.createDataFrame(probes)
            return ops.knn_join(None, q, index=self.idx).toArrow()
        with self._span("probes", pid) as a:
            q = self.spark.createDataFrame(probes)
        with self._span("ops.knn_join", pid) as b:
            df = ops.knn_join(None, q, index=self.idx)
        with self._span("collect", pid) as c:
            res = df.toArrow()
        self.self_time = a["dur_s"] + b["dur_s"] + c["dur_s"]
        return res

    def knn_op(self, kind, traced):
        probes = self.warm if kind == "warmup" else self.batches[kind]
        n = probes.num_rows
        cls = kind if kind in ("warmup", "knn_bulk") else "knn_small"
        if not traced:
            t0 = time.perf_counter()
            res = self._serve(probes)
            wall = time.perf_counter() - t0
        else:
            res, wall, c, _sp = self._traced(cls, lambda pid: self._serve(probes, pid))
            self._trace_batch(cls, n, res, wall, c)
        rng = np.random.default_rng([self.ctx.seed, self.op_no])
        sample = np.arange(n) if n <= 100 else rng.choice(n, PROBE_SAMPLE, replace=False)
        op = Op(cls, wall, n, traced=traced)
        op.errors = checks.check_knn(res, probes, self.cents, sample)
        return op

    def _trace_batch(self, cls, n, res, wall, c):
        # the scoring kernel is the Python node fed the most rows
        scored = max((rin for _name, rin, _out in c.python_nodes), default=0.0)
        if cls == "knn_small":
            self._layer("knn_jobs_per_batch", c.jobs)
            self._layer("knn_driver_gap_s", wall - c.job_busy_s)
        else:
            self._layer("knn_pairs_per_probe", scored / n)
            self._layer("knn_arrow_rows_per_probe", c.rows_to_python / n)
            self._layer("knn_shuffle_bytes_per_probe", c.shuffle_bytes / n)
            self._layer("knn_useful_ratio", res.num_rows / max(scored, 1.0))


class DedupPart:
    """Streaming near-dup ingest: run_incremental_dedup over a growing
    history, large and trickle batches alternating, each pair followed
    by compact_dedup_logs."""

    def dedup_prepare(self, out_dir):
        self.arrivals_dir = out_dir
        self.boiler: set[int] = set()
        self.first_ids = [0]
        os.makedirs(out_dir)
        for i in range(5):  # warm-up + two cycles
            self._batch_file(i)

    def _batch_file(self, i: int) -> str:
        """Arrival i: the warm-up trickle, then large and trickle
        batches alternating. Written on first use."""
        path = os.path.join(self.arrivals_dir, f"batch-{i:04d}.parquet")
        if os.path.exists(path):
            return path
        s = self.sz
        n = s["large"] if i % 2 == 1 else s["trickle"]
        frac = s["boiler_frac"] if i > 0 else 0.0
        t, b = inputs.docs_batch(self.ctx.seed, self.first_ids[i], n, frac)
        pq.write_table(t, path)
        self.boiler.update(b)
        self.first_ids.append(self.first_ids[i] + n)
        return path

    def dedup_setup(self):
        self.docs_dir = os.path.join(self.ctx.data, "docs_stream")
        self.work = os.path.join(self.ctx.data, "dedup_work")
        os.makedirs(self.docs_dir)
        self.next_arrival = 0
        self.docs_in = 0
        self.state_bytes: list[float] = []
        self._arrive()
        t0 = time.perf_counter()
        n = self._ingest()
        self.warmups.append(Op("warmup", time.perf_counter() - t0, n))

    def _arrive(self) -> str:
        src = self._batch_file(self.next_arrival)
        self.next_arrival += 1
        dst = os.path.join(self.docs_dir, os.path.basename(src))
        shutil.copyfile(src, dst)
        self.docs_in += pq.read_metadata(dst).num_rows
        return dst

    def _ingest(self, _pid=None) -> int:
        return streaming.run_incremental_dedup(self.spark, self.docs_dir, self.work)

    def _parquet_rows(self, *dirs) -> int:
        return sum(
            pq.read_metadata(os.path.join(dp, f)).num_rows
            for d in dirs
            for dp, _ds, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    def dedup_op(self, kind, traced):
        if kind == "compact":
            return self._compact(traced)
        if not traced:
            path = self._arrive()
            t0 = time.perf_counter()
            n = self._ingest()
            wall = time.perf_counter() - t0
        else:
            state_rows = self._parquet_rows(
                os.path.join(self.work, "bands_compacted"),
                os.path.join(self.work, "bands_log"),
            )
            pairs_log = os.path.join(self.work, "pairs_log")
            before = set(os.listdir(pairs_log))
            path = self._arrive()
            n, wall, c, sp = self._traced(kind, self._ingest)
            with self._span("textops.minhash_banded", sp["id"]) as mh:
                _noop(textops.minhash_banded(self.spark.read.parquet(path)))
            new = set(os.listdir(pairs_log)) - before
            self._layer("minhash_s", mh["dur_s"])
            self.trace_s += mh["dur_s"]
            self._layer("dedup_input_rows", c.scan_rows)
            self._layer("dedup_state_read_ratio", c.scan_rows / max(state_rows, 1))
            self._layer(
                "dedup_pairs_emitted",
                self._parquet_rows(*(os.path.join(pairs_log, d) for d in new)),
            )
            self._layer("dedup_bytes_written", c.output_bytes)
            if kind == "ingest_trickle":
                self._layer("dedup_jobs_per_batch", c.jobs)
                self._layer("dedup_driver_gap_s", wall - c.job_busy_s)
            self.self_time = wall
        op = Op(kind, wall, pq.read_metadata(path).num_rows, traced=traced)
        if n != 1:
            op.errors.append(f"expected one micro-batch, ran {n}")
        return op

    def _compact(self, traced):
        if not traced:
            t0 = time.perf_counter()
            folded = streaming.compact_dedup_logs(self.spark, self.work)
            wall = time.perf_counter() - t0
        else:
            folded, wall, c, _sp = self._traced(
                "compact", lambda _pid: streaming.compact_dedup_logs(self.spark, self.work)
            )
            self._layer("compact_s", wall)
            self._layer("compact_bytes_rewritten", c.output_bytes)
            self.self_time = wall
        self.state_bytes.append(tree_bytes(self.work)[0] / self.docs_in)
        op = Op("compact", wall, folded, traced=traced)
        if folded < 1:
            op.errors.append("compaction folded no batch")
        return op

    def dedup_finish(self, done):
        """The accumulated pairs against one-shot LSH over every doc
        ingested; a mismatch fails every ingest op of the run."""
        sp = self.spark
        streamed = streaming.incremental_dedup_pairs(sp, self.work).toArrow()
        one = textops.minhash_lsh_pairs(sp.read.parquet(self.docs_dir)).toArrow()
        pairs = lambda t: set(zip(t["doc_a"].to_pylist(), t["doc_b"].to_pylist()))
        errs = checks.check_dedup(pairs(streamed), pairs(one), self.boiler)
        if sum(1 for b in self.boiler if b < self.docs_in) <= textops.LSH_MAX_BUCKET:
            errs.append("the boilerplate bucket never tripped the star guard")
        for o in done:
            if o.kind.startswith("ingest"):
                o.errors += errs
        self.warmups[-1].errors += errs


class ServeStream(KnnPart, DedupPart, Workload):
    """One service process hosting kNN scene lookup and streaming dedup
    ingest, one client issuing their ops in a fixed interleaved cycle.
    No explode, selection aggregation or mosaic commit runs here."""

    name = "serve_stream"
    cycle = [
        "knn_small_1",
        "knn_small_100",
        "ingest_large",
        "knn_small_1b",
        "knn_small_100b",
        "knn_bulk",
        "ingest_trickle",
        "compact",
    ]

    def prepare_inputs(self, out_dir):
        self.knn_prepare(os.path.join(out_dir, "knn"))
        self.dedup_prepare(os.path.join(out_dir, "docs"))

    def setup(self, input_dir):
        self.knn_setup(os.path.join(input_dir, "knn"))
        self.dedup_setup()

    def op(self, kind, traced):
        if kind.startswith("knn"):
            return self.knn_op(kind, traced)
        return self.dedup_op(kind, traced)

    def finish(self, done):
        self.dedup_finish(done)

    def e2e(self, done):
        bulk = [o for o in done if o.kind == "knn_bulk" and math.isfinite(o.wall)]
        return {
            "request_p50_s": median(_walls(done, "knn_small")),
            "write_p50_s": median(_walls(done, "ingest_large")),
            "throughput_per_s": _rate(bulk),
            "state_bytes_per_item": self.state_bytes[-1] if self.state_bytes else float("nan"),
        }

    def named(self, done):
        e = self.e2e(done)
        n = lambda *k: len(_walls(done, *k))
        return {
            "knn_small_p50_s": (e["request_p50_s"], "s", n("knn_small")),
            "knn_bulk_probes_per_s": (e["throughput_per_s"], "1/s", n("knn_bulk")),
            "ingest_large_p50_s": (e["write_p50_s"], "s", n("ingest_large")),
            "ingest_trickle_p50_s": (median(_walls(done, "ingest_trickle")), "s", n("ingest_trickle")),
            "compact_p50_s": (median(_walls(done, "compact")), "s", n("compact")),
            "state_bytes_per_doc": (e["state_bytes_per_item"], "B", len(self.state_bytes)),
        }


WORKLOADS = {w.name: w for w in (MosaicBuild, ServeStream)}

# starting sizes; the self-test passes smaller ones
SIZES = {
    "mosaic_build": {"scenes": 25_000, "files": 4, "zoom": 8},
    "serve_stream": {
        "scenes": 50_000,
        "files": 4,
        "bulk_probes": 52_000,
        "large": 2_000,
        "trickle": 20,
        "boiler_frac": 0.55,
    },
}
