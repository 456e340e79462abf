"""Run hygiene and instruments shared by the three workloads.

Everything here observes the engine from outside: a work dir and Spark
local dir private to the run, a sampler of the resident memory of the
whole process tree (driver, JVM, Python workers), a reader of Spark's
status REST API (jobs, stages and SQL plan metrics of the jobs an op
submitted), and an in-memory span recorder for traced runs.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import tempfile
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tree_bytes(path: str) -> tuple[int, int]:
    """(total bytes, file count) of the regular files under `path`."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


# ------------------------------------------------------------ processes
def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, start time) for every live (non-zombie) process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; fields resume after the last ')'
        rest = stat[stat.rfind(")") + 2 :].split()
        if rest[0] != "Z":
            out[int(d)] = (int(rest[1]), rest[19])
    return out


def _descendants(root: int) -> dict[int, str]:
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out[c] = table[c][1]
            todo.append(c)
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (driver JVM, Python daemon and workers) and remembers every
    descendant it saw, so the run can wait for each to end."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.seen: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        me = os.getpid()
        desc = _descendants(me)
        self.seen.update(desc)
        total = _rss(me) + sum(_rss(p) for p in desc)
        self.peak = max(self.peak, total)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    def reap(self, timeout: float = 30.0):
        """Wait until every descendant seen has ended; kill stragglers."""
        deadline, killed = time.time() + timeout, False
        while True:
            table = _proc_table()
            alive = [
                p for p, st in self.seen.items() if table.get(p, (0, ""))[1] == st
            ]
            if not alive:
                return
            if time.time() > deadline:
                if killed:
                    raise RuntimeError(f"processes did not end: {alive}")
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
                deadline, killed = time.time() + 5, True
            time.sleep(0.1)


# -------------------------------------------------------------- session
@dataclass
class RunDirs:
    root: str  # private to this run, removed at exit
    data: str
    spark_local: str
    tmp: str

    @classmethod
    def fresh(cls, base: str, tag: str) -> "RunDirs":
        root = os.path.join(base, f"{tag}-{os.getpid()}")
        shutil.rmtree(root, ignore_errors=True)
        dirs = cls(
            root,
            os.path.join(root, "data"),
            os.path.join(root, "spark-local"),
            os.path.join(root, "tmp"),
        )
        for d in (dirs.data, dirs.spark_local, dirs.tmp):
            os.makedirs(d)
        return dirs

    def remove(self):
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        try:
            os.rmdir(parent)  # only when no other run is using it
        except OSError:
            pass


def prepare_env(dirs: RunDirs):
    """Point every scratch path Spark and Python use at the run dir, and
    keep the driver on the loopback interface."""
    os.environ["SPARK_LOCAL_DIRS"] = dirs.spark_local
    os.environ["TMPDIR"] = dirs.tmp
    tempfile.tempdir = dirs.tmp  # tempfile caches the first value it saw
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")


def start_session(dirs: RunDirs, n_cores: int):
    from mosaic_engine import job

    spark = job.make_session(
        cores=n_cores,
        shuffle_partitions=n_cores,
        app="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(dirs.root, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark):
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
    except OSError:
        pass
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    # a later session in this process must launch a fresh gateway
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------- Spark status REST
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
PYTHON_IN_BYTES = "data sent to Python workers"


def metric_value(text: str) -> float:
    """Parse a SQL metric as the UI renders it: '20,000', '2.8 MiB',
    '916 ms', or the 'total (min, med, max ...)' two-line form."""
    line = text.strip().split("\n")[-1].split(" (")[0].strip()
    parts = line.split()
    num = float(parts[0].replace(",", ""))
    if len(parts) > 1:
        num *= _SIZE.get(parts[1], _TIME.get(parts[1], 1.0))
    return num


def _ts(s: str) -> float:
    return (
        datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _union_len(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class SparkCounters:
    """What Spark recorded for the jobs one op submitted."""

    jobs: int = 0
    job_busy_s: float = 0.0  # union of job intervals inside the op
    task_s: float = 0.0
    spill_bytes: float = 0.0
    shuffle_bytes: float = 0.0
    shuffle_records: float = 0.0
    output_bytes: float = 0.0
    task_max_over_p50: float = 0.0  # of the heaviest shuffle-read stage
    rows_to_python: float = 0.0
    rows_from_python: float = 0.0
    bytes_to_python: float = 0.0
    scan_rows: float = 0.0
    generate_rows: float = 0.0
    python_nodes: list = field(default_factory=list)  # (name, in, out)


class SparkRest:
    """Reads the local status REST API of the running application."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def _sqls(self, details: bool = False, offset: int = 0) -> list[dict]:
        # the endpoint pages 20 executions unless told otherwise
        flags = "true&planDescription=false" if details else "false"
        return self.get(f"sql?details={flags}&offset={offset}&length=1000000")

    def mark(self) -> tuple[int, int]:
        """(last job id, last SQL execution id) before an op starts."""
        jobs, sqls = self._settle(-1, -1)
        return (
            max((j["jobId"] for j in jobs), default=-1),
            max((s["id"] for s in sqls), default=-1),
        )

    def _settle(self, job0: int, sql0: int, timeout: float = 15.0):
        """Wait until the listener has recorded the end of every job
        and SQL execution newer than the mark."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            jobs = [j for j in self.get("jobs") if j["jobId"] > job0]
            sqls = [s for s in self._sqls() if s["id"] > sql0]
            if all(j["status"] != "RUNNING" for j in jobs) and all(
                s["status"] != "RUNNING" for s in sqls
            ):
                return jobs, sqls
            time.sleep(0.05)
        raise TimeoutError("Spark listener did not settle")

    def counters(self, mark: tuple[int, int], t0: float, t1: float) -> SparkCounters:
        job0, sql0 = mark
        jobs, _ = self._settle(job0, sql0)
        c = SparkCounters(jobs=len(jobs))
        c.job_busy_s = _union_len(
            [
                (_ts(j["submissionTime"]), _ts(j["completionTime"]))
                for j in jobs
                if "completionTime" in j
            ],
            t0,
            t1,
        )
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        heaviest = None
        for st in self.get("stages"):
            if st["stageId"] not in stage_ids or st["status"] != "COMPLETE":
                continue
            c.task_s += st["executorRunTime"] / 1000.0
            c.spill_bytes += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            c.shuffle_bytes += st["shuffleWriteBytes"]
            c.shuffle_records += st["shuffleWriteRecords"]
            c.output_bytes += st["outputBytes"]
            if st["shuffleReadRecords"] > 0 and (
                heaviest is None
                or st["executorRunTime"] > heaviest["executorRunTime"]
            ):
                heaviest = st
        if heaviest is not None:
            q = self.get(
                f"stages/{heaviest['stageId']}/{heaviest['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            c.task_max_over_p50 = q[1] / max(q[0], 1.0)
        older = sum(1 for s in self._sqls() if s["id"] <= sql0)
        for s in self._sqls(details=True, offset=older):
            if s["id"] <= sql0:
                continue
            self._plan_counts(s, c)
        return c

    @staticmethod
    def _plan_counts(s: dict, c: SparkCounters):
        nodes = {n["nodeId"]: n for n in s["nodes"]}
        kids: dict[int, list[int]] = {}
        for e in s["edges"]:
            kids.setdefault(e["toId"], []).append(e["fromId"])

        def m(node, name):
            for x in node["metrics"]:
                if x["name"] == name:
                    return metric_value(x["value"])
            return None

        def rows_out(nid):
            node = nodes[nid]
            v = m(node, "number of output rows")
            if v is None:
                v = m(node, "records read")
            if v is None:
                v = sum(rows_out(k) for k in kids.get(nid, []))
            return v

        for nid, node in nodes.items():
            name = node["nodeName"]
            if m(node, PYTHON_IN_BYTES) is not None:
                rin = sum(rows_out(k) for k in kids.get(nid, []))
                rout = m(node, "number of output rows") or 0.0
                c.rows_to_python += rin
                c.rows_from_python += rout
                c.bytes_to_python += m(node, PYTHON_IN_BYTES)
                c.python_nodes.append((name, rin, rout))
            elif name.startswith("Scan parquet"):
                c.scan_rows += m(node, "number of output rows") or 0.0
            elif name == "Generate":
                c.generate_rows += m(node, "number of output rows") or 0.0


# --------------------------------------------------------------- tracing
class Tracer:
    """In-memory spans (name, start, end, parent, op id); written as
    JSONL when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, op: int, parent: int | None = None, **attrs):
        sid = self._next
        self._next += 1
        rec = {"id": sid, "name": name, "op": op, "parent": parent, **attrs}
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["dur_s"] = rec["end"] - rec["start"]
            self.spans.append(rec)

    def dump(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")
