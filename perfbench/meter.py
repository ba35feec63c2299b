"""Measurement plumbing for the benchmark: Spark counters, spans and the
run record.  Nothing here touches the engine; it reads what Spark
already reports about the jobs a call started.

Spark counters come from the status store through Spark's own REST API
(``<ui>/api/v1/applications/<app>``), after the listener bus has drained:

- stage metrics (``/stages/<id>``) give exact integers for executor run
  and CPU time, input (scan) bytes, shuffle bytes and spill;
- SQL plan-node metrics (``/sql/<id>``) give the Arrow boundary, which
  no stage metric covers, and the files a scan read.  These are
  formatted strings ("403.6 KiB", "total (min, med, max ...)\\n2.7 s
  (...)"); :func:`parse_metric` turns them into bytes, seconds or
  counts and raises on a unit it does not know.

The metric names are pinned in :data:`PYTHON_NODE_METRICS`,
:data:`SCAN_NODE_METRICS` and :data:`STAGE_FIELDS` against pyspark
4.1.2.  A plan node or stage that lacks one of them raises
:class:`MetricDrift`, so a renamed counter fails the traced run instead
of reading as zero.

``time to initialize Python workers`` is, per task, the time from the
worker's ``main()`` entry to the end of reading the task's command
(``boot_time`` -> ``init_time`` in ``pyspark/worker.py``): reading the
task header and broadcast variables, and unpickling the UDF, which
imports every module its closure names.  The node reports the SUM over
the job's tasks, and tasks run concurrently, so it can exceed the job's
wall time; divide by tasks for a per-task figure, never read it as a
share of the wall.

Run ``python3 perfbench/meter.py`` to self-test the parser and the
pinned names against a tiny local job under the engine's own session
defaults (AQE on, so the one call runs as several Spark jobs).
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import re
import subprocess
import time
import urllib.request
from datetime import datetime

#: plan-node metrics every Python-UDF node (MapInPandas,
#: FlatMapGroupsInPandas, ArrowEvalPython, ...) carries in pyspark 4.1.2,
#: mapped to the counter name this benchmark reports
PYTHON_NODE_METRICS = {
    "data sent to Python workers": "arrow_bytes_to_py",
    "data returned from Python workers": "arrow_bytes_from_py",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
}
ROWS = "number of output rows"
#: metrics of a parquet scan node ("Scan parquet ...")
SCAN_NODE_METRICS = {"number of files read": "files_read"}
#: stage fields (REST v1 StageData) -> counter name; times in ms, CPU in ns
STAGE_FIELDS = {
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "inputBytes": ("scan_bytes", 1.0),
    "shuffleWriteBytes": ("shuffle_bytes_written", 1.0),
    "shuffleReadBytes": ("shuffle_bytes_read", 1.0),
    "memoryBytesSpilled": ("spill_bytes", 1.0),
    "diskBytesSpilled": ("spill_bytes", 1.0),
}
#: every per-call counter, in report order
COUNTERS = ("jobs", "tasks", "arrow_bytes_to_py", "arrow_bytes_from_py",
            "py_start_s", "py_init_s", "py_run_s", "scan_bytes", "files_read",
            "shuffle_bytes_written", "shuffle_bytes_read", "executor_run_s",
            "executor_cpu_s", "spill_bytes", "driver_s", "rows_to_py", "rows_from_py")

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40, "PiB": 2.0**50, "EiB": 2.0**60,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


class MetricDrift(RuntimeError):
    """A pinned Spark metric name or unit is missing or unknown."""


def parse_metric(text: str) -> float:
    """A Spark SQL metric string -> float in bytes, seconds or a count.

    Accepts the single form ("31 ms", "5.5 MiB", "50,000") and the
    aggregated form, whose second line starts with the total
    ("total (min, med, max ...)\\n21.7 s (5.1 s, ...)")."""
    line = text.strip().splitlines()[-1] if "\n" in text.strip() else text
    m = _VALUE_RE.match(line)
    if not m:
        raise MetricDrift(f"unparseable Spark metric value {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return number
    if unit not in _UNITS:
        raise MetricDrift(f"unknown unit {unit!r} in Spark metric value {text!r}")
    return number * _UNITS[unit]


def _metrics(node: dict) -> dict:
    return {m["name"]: m["value"] for m in node["metrics"]}


def _rows_into(node: dict, children: dict) -> float:
    """Rows a Python node received: the output-row count of the nearest
    node below it that keeps one, walking down single-input nodes that do
    not report rows (projections, sorts, exchanges, codegen stages) and
    so pass every row through.  0 when no such node is found."""
    kids = children.get(node["nodeId"], [])
    for _ in range(8):
        if len(kids) != 1:
            return 0.0
        metrics = _metrics(kids[0])
        if ROWS in metrics:
            return parse_metric(metrics[ROWS])
        kids = children.get(kids[0]["nodeId"], [])
    return 0.0


def _epoch(ts: str) -> float:
    """REST timestamp ("2026-10-17T02:37:21.327GMT") -> epoch seconds."""
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class SparkMeter:
    """Per-call Spark counters for a single closed-loop client.

    ``begin()`` tags the calling thread's jobs with a fresh job group;
    ``end(wall_s)`` drains the listener bus and sums the counters of the
    jobs in that group and of the SQL executions that ran them.  Only one
    call may be open at a time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self._sql_seen = len(self._get("/sql?details=false&length=100000"))
        self._group = None
        self._n = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def begin(self) -> None:
        self._n += 1
        self._group = f"perfbench-{self._n}"
        self.sc.setJobGroup(self._group, self._group)

    def end(self, wall_s: float) -> tuple[dict, list[dict]]:
        """-> (counters, job spans [{name, start, end}] in epoch seconds)."""
        group, self._group = self._group, None
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        c = dict.fromkeys(COUNTERS, 0.0)
        jobs = []
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        # with AQE one call runs several jobs, and a later job may list a
        # stage an earlier one ran: count each stage id once.  (pyspark
        # 4.1.2 gives a reused map stage a new id in the later job, with
        # status SKIPPED, which the loop below drops.)
        stage_ids: set = set()
        for jid in sorted(job_ids):
            j = self._get(f"/jobs/{jid}")
            jobs.append({"name": f"spark.job.{jid}",
                         "start": _epoch(j["submissionTime"]),
                         "end": _epoch(j["completionTime"])})
            c["jobs"] += 1
            stage_ids.update(j["stageIds"])
        for sid in sorted(stage_ids):
            for st in self._get(f"/stages/{sid}"):
                if st["status"] == "SKIPPED":
                    continue
                c["tasks"] += st["numTasks"]
                for field, (name, scale) in STAGE_FIELDS.items():
                    if field not in st:
                        raise MetricDrift(f"stage field {field!r} missing")
                    c[name] += st[field] * scale
        for ex in self._new_executions():
            ex_jobs = ex["successJobIds"] + ex["failedJobIds"] + ex["runningJobIds"]
            if not job_ids.intersection(ex_jobs):
                continue
            nodes = {n["nodeId"]: n for n in ex["nodes"]}
            children: dict = {}
            for e in ex["edges"]:
                children.setdefault(e["toId"], []).append(nodes[e["fromId"]])
            for node in ex["nodes"]:
                self._add_node(node, children, c)
        c["driver_s"] = max(0.0, wall_s - _union_length(
            [(j["start"], j["end"]) for j in jobs]))
        return c, jobs

    def _new_executions(self) -> list[dict]:
        out = self._get(f"/sql?details=true&planDescription=false"
                        f"&offset={self._sql_seen}&length=100000")
        self._sql_seen += len(out)
        return out

    @staticmethod
    def _add_node(node: dict, children: dict, c: dict) -> None:
        metrics = _metrics(node)
        if metrics.keys() & PYTHON_NODE_METRICS.keys():
            missing = (PYTHON_NODE_METRICS.keys() | {ROWS}) - metrics.keys()
            if missing:
                raise MetricDrift(f"{node['nodeName']} lacks {sorted(missing)}")
            for name, key in PYTHON_NODE_METRICS.items():
                c[key] += parse_metric(metrics[name])
            c["rows_from_py"] += parse_metric(metrics[ROWS])
            c["rows_to_py"] += _rows_into(node, children)
        if node["nodeName"].startswith("Scan parquet"):
            for name, key in SCAN_NODE_METRICS.items():
                if name not in metrics:
                    raise MetricDrift(f"{node['nodeName']} lacks {name!r}")
                c[key] += parse_metric(metrics[name])


class Tracer:
    """Spans kept in memory and written once at the end: name, start and
    end (epoch seconds), parent span id, request id (the call's index)."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name, start, end, parent=None, request_id=None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "request_id": request_id})
        return len(self.spans) - 1


# ------------------------------------------------------------ run record ---

def witnesses() -> dict:
    """Host-speed witnesses: ns per np.searchsorted lookup (cache-resident,
    blind to memory contention) and fresh page-touch GB/s (sees it)."""
    import numpy as np
    rng = np.random.default_rng(7)
    keys, q = np.sort(rng.random(8000)), rng.random(500_000)
    best = min(_timed(lambda: np.searchsorted(keys, q)) for _ in range(3))
    n = 8_000_000
    touch = _timed(lambda: np.ones(n))
    return {"searchsorted_ns": best * 1e9 / q.size, "pagetouch_gbs": 8 * n / touch / 1e9}


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat: on a
    virtual machine, steal is the time the host ran someone else on
    this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def source_record(root: str) -> dict:
    """Git commit when ``root`` is a checkout, plus a hash of the program
    sources, which identifies the code when there is no git metadata."""
    h = hashlib.sha256()
    for base in ("learnedspatial_spark", "oracle"):
        for d, _, files in sorted(os.walk(os.path.join(root, base))):
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    try:
        top, _, commit = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10).stdout.partition("\n")
    except (OSError, subprocess.TimeoutExpired):
        top, commit = "", ""
    # a checkout without git metadata may sit inside another repository
    commit = commit.strip() if top and os.path.samefile(top, root) else None
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def host_record() -> dict:
    import numpy
    import pyarrow
    import pyspark
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"nproc": os.cpu_count(), "ram_gb": round(mem_kb / 2**20, 1),
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "pyarrow": pyarrow.__version__}


# -------------------------------------------------------------- self-test ---

def _self_test() -> None:
    cases = {"50,000": 50000.0, "31 ms": 0.031, "5.5 MiB": 5.5 * 2**20, "0.0 B": 0.0,
             "total (min, med, max (stageId: taskId))\n21.7 s (5.1 s, 5.1 s, 6.4 s "
             "(stage 0.0: task 0))": 21.7, "1.5 m": 90.0}
    for text, want in cases.items():
        got = parse_metric(text)
        if abs(got - want) > 1e-9 * max(1.0, want):
            raise AssertionError(f"parse_metric({text!r}) = {got}, want {want}")
    try:
        parse_metric("3 parsecs")
    except MetricDrift:
        pass
    else:
        raise AssertionError("an unknown unit must raise")

    import sys
    import tempfile

    import pandas as pd
    from pyspark.sql import functions as F
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from learnedspatial_spark.session import get_spark
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        # the engine's own session defaults, AQE on: the call below runs
        # the shuffle map stage and the result stage as separate jobs
        spark = get_spark("perfbench-meter-test", master="local[2]", shuffle_partitions=2,
                          extra_conf={"spark.local.dir": tmp})
        try:
            spark.range(0, 20000, 1, 2).write.parquet(os.path.join(tmp, "t"))
            meter = SparkMeter(spark)
            meter.begin()
            t0 = time.time()
            df = (spark.read.parquet(os.path.join(tmp, "t"))
                  .mapInPandas(lambda it: (pd.DataFrame({"id": p["id"] * 2}) for p in it),
                               "id bigint")
                  .groupBy((F.col("id") % 7).alias("k")).count())
            assert len(df.collect()) == 7
            c, jobs = meter.end(time.time() - t0)
            # tasks of the call's distinct stages, from the JVM status
            # tracker rather than the REST API the meter reads
            st = spark.sparkContext.statusTracker()
            stages = {sid for j in jobs
                      for sid in st.getJobInfo(int(j["name"].rsplit(".", 1)[1])).stageIds}
            want_tasks = sum(st.getStageInfo(sid).numCompletedTasks for sid in stages)
        finally:
            spark.stop()
    must_be_positive = ("jobs", "tasks", "arrow_bytes_to_py", "arrow_bytes_from_py",
                        "py_run_s", "scan_bytes", "files_read", "shuffle_bytes_written",
                        "shuffle_bytes_read", "executor_run_s", "executor_cpu_s")
    zero = [k for k in must_be_positive if not c[k] > 0]
    if zero or not jobs:
        raise AssertionError(f"counters read as zero: {zero} (all: {c})")
    if c["jobs"] < 2:
        raise AssertionError(f"expected AQE to split the call into several jobs: {c}")
    if c["shuffle_bytes_written"] != c["shuffle_bytes_read"]:
        raise AssertionError(f"the exchange's two sides differ: {c}")
    if c["tasks"] != want_tasks:
        raise AssertionError(f"tasks {c['tasks']} != {want_tasks} over distinct stages {stages}")
    print(json.dumps({"self_test": "ok", "counters": c}))

if __name__ == "__main__":
    _self_test()
