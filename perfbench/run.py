#!/usr/bin/env python3
"""The repository benchmark (contract in BENCHMARK.json).

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Runs one workload (``interactive`` or ``batch``, see ``workloads.py``) at
``local[nproc]`` with one closed-loop client, checks every answer, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the spans, per-call Spark counters and kernel replay
go to ``.perfbench/out/<workload>-seed<seed>-trace.json``.

Everything the run writes stays under ``.perfbench/`` in the checkout;
the per-run work directory is deleted at exit.  Exits 2 without a result when the
program is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
#: end-to-end metric -> unit, in report order.  Every run also prints the
#: p90 call latency, ungated: a run has 10 to 14 calls, too few for a p90
#: with 10 samples beyond it.  Batch also prints, ungated, its query and
#: join throughput over the calls of each kind.
END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "ops_per_s": "1/s"}
#: calls both workloads make; the traced run reports their own counters
COMMON_CALLS = tuple(f"{e}.{q}" for q in ("range_count", "distance_count", "pip", "knn")
                     for e in ("engine", "tiled"))
#: the counters reported per call in the per-layer metrics (all of them
#: go to the trace file)
CALL_COUNTERS = ("jobs", "tasks", "arrow_bytes_to_py", "arrow_bytes_from_py",
                 "py_init_s", "py_run_s", "executor_cpu_s", "driver_s")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("interactive", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(work: str, nproc: int):
    from learnedspatial_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    spark = get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
                      extra_conf={
                          "spark.local.dir": os.path.join(work, "spark-local"),
                          "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                          "spark.driver.extraJavaOptions":
                              f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(values):
    import numpy as np
    return float(np.median(values))


def end_to_end(session_s, setup_walls, records, elapsed):
    return {
        "setup_s": session_s + _median(setup_walls),
        "latency_p50_s": _median([r["wall_s"] for r in records]),
        "ops_per_s": len(records) / elapsed,
    }


def throughput(records) -> dict:
    """Queries answered per second of the query calls' own wall, and left
    rows joined per second of the join calls' own wall."""
    out = {}
    for name, is_join in (("queries_per_s", False), ("join_rows_per_s", True)):
        rs = [r for r in records if r["kind"].startswith("distjoin.") == is_join]
        if rs:
            out[name] = sum(r["items"] for r in rs) / sum(r["wall_s"] for r in rs)
    return out


def per_layer(session_s, setup_spans, facts, records, replay_metrics, replayed_queries):
    """Set-up layers (medians over the set-ups), means over the traced
    calls of the Spark counters, where the calls' wall goes, per-call
    counters of the calls both workloads make, the tracing overhead
    (counter reads per call, and as a share of the calls' own wall
    time), and the kernel replay."""
    from meter import COUNTERS
    out = {"session.start_s": session_s}
    out.update({f"{k}_s": _median(v) for k, v in sorted(setup_spans.items())})
    out.update(facts)
    for c in COUNTERS:
        # zero in these workloads, or counted only where a plan exposes it
        if c not in ("py_start_s", "spill_bytes", "rows_to_py", "rows_from_py"):
            out[f"call.{c}"] = sum(r["counters"][c] for r in records) / len(records)
    wall = sum(r["wall_s"] for r in records)
    # share of the calls' wall with no Spark job running: routing, query
    # upload, plan building and result collection on the driver
    out["call.driver_share"] = sum(r["counters"]["driver_s"] for r in records) / wall
    out["probes.kernel_share"] = kernel_share(records, replay_metrics, replayed_queries)
    table = call_table(records, base_kind=True)
    for kind in COMMON_CALLS:
        out[f"{kind}_s"] = table[f"{kind}_s"]
        out.update({f"{kind}.{c}": table[f"{kind}.{c}"] for c in CALL_COUNTERS})
    overhead = [r["loop_s"] - r["wall_s"] for r in records]
    out["trace.overhead_s_per_call"] = sum(overhead) / len(overhead)
    out["trace.overhead_share"] = sum(overhead) / sum(r["wall_s"] for r in records)
    out.update(replay_metrics)
    return out


#: query call -> the replayed kernel that answers its queries
KERNEL_OF = {"range_count": "range_count_cell", "distance_count": "distance_mask_cell",
             "pip": "ray_cast_inside", "knn": "knn_local_topk"}


def kernel_share(records, replay_metrics, replayed_queries) -> float:
    """Share of the query calls' wall that their probe kernels alone would
    take on one core: each call's queries times the replay's kernel time
    per query of that kind, over the summed wall of those calls.  Near 0,
    a call is per-job cost; a change to the kernels cannot move it."""
    kernel = wall = 0.0
    for r in records:
        base = r["kind"].split(".")[1]
        if base in KERNEL_OF:
            per_query = replay_metrics[f"probes.{KERNEL_OF[base]}_s"] / replayed_queries[base]
            kernel += per_query * r["items"]
            wall += r["wall_s"]
    return kernel / wall


def call_table(records, base_kind=False):
    """kind -> median wall and mean Spark counters over its calls,
    named ``<kind>_s`` and ``<kind>.<counter>`` (for example
    ``tiled.pip.arrow_bytes_to_py``).  ``base_kind`` folds the range
    tiers (``engine.range_count.lo``) into their call."""
    from meter import COUNTERS

    def kind_of(r):
        k = r["kind"]
        return k.rsplit(".", 1)[0] if base_kind and k.endswith((".lo", ".mid", ".hi")) else k
    out: dict = {}
    by: dict = {}
    for r in records:
        by.setdefault(kind_of(r), []).append(r)
    for kind, rs in by.items():
        out[f"{kind}_s"] = _median([r["wall_s"] for r in rs])
        for c in COUNTERS:
            out[f"{kind}.{c}"] = sum(r["counters"][c] for r in rs) / len(rs)
        if kind.startswith("distjoin.") and out[f"{kind}.rows_to_py"]:
            # pairs emitted per candidate row sent to the refine: how well
            # the JVM pre-gate filters before the Arrow boundary
            out[f"{kind}.pairs_per_py_row"] = (out[f"{kind}.rows_from_py"]
                                               / out[f"{kind}.rows_to_py"])
    return out


def run(args, work: str, nproc: int) -> tuple[dict, dict]:
    import numpy as np

    import meter
    import replay
    import workloads as W
    t0 = time.perf_counter()
    spark = start_spark(work, nproc)
    session_s = time.perf_counter() - t0
    try:
        loop = W.Loop(spark, bool(args.trace))
        t_corpus = time.perf_counter()
        corpus = W.make_corpus(spark, work, args.seed, W.N_PAGES, nproc)
        orc = W.Oracle(corpus)
        corpus_s = time.perf_counter() - t_corpus
        calls, setup_walls, facts, qbatch = W.WORKLOADS[args.workload](
            spark, loop, corpus, orc, work, args.seed)
        elapsed = loop.run(calls, args.seconds)
        if args.trace:
            # after the timed loop, so the traced calls match the untraced
            loop.setup_span("extract.points_from_pages",
                            lambda: W.extract_points(spark, corpus))
    finally:
        stop_spark(spark)
    # the set-up's index check counts as one more attempted operation
    attempted = len(loop.records) + 1
    failed = sum(not r["ok"] for r in loop.records) + bool(loop.setup_errors)
    info = {"corpus": corpus.record, "attempted": attempted, "failed": failed,
            "error_rate": failed / attempted,
            "measured_s": elapsed, "setup_walls_s": setup_walls, "session_start_s": session_s,
            "corpus_s": corpus_s, "check_s": loop.check_s,
            "call_walls_s": [[rec["kind"], rec["wall_s"]] for rec in loop.records],
            "errors": (loop.setup_errors + loop.errors)[:5],
            "latency_p90_s": float(np.percentile([rec["wall_s"] for rec in loop.records], 90)),
            **throughput(loop.records)}
    if not args.trace:
        return end_to_end(session_s, setup_walls, loop.records, elapsed), info
    t_replay = time.time()
    replayed = replay.replay(corpus.x, corpus.y, corpus.pid, qbatch, W.PARTITION_SIZE)
    loop.tracer.add("kernel_replay", t_replay, time.time())
    setup_spans: dict = {}
    for sp in loop.tracer.spans:
        if sp["request_id"] is None and sp["name"] != "kernel_replay":
            setup_spans.setdefault(sp["name"], []).append(sp["end"] - sp["start"])
    layers = per_layer(session_s, setup_spans, facts, loop.records, replayed,
                       W.replayed_queries(qbatch))
    info["trace"] = {"spans": loop.tracer.spans, "calls": call_table(loop.records),
                     "records": loop.records}
    return layers, info


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "learnedspatial_spark", "engine.py"))
            and os.path.isfile(os.path.join(ROOT, "oracle", "oracle.py"))):
        print("perfbench: learnedspatial_spark/ and oracle/ must sit beside perfbench/",
              file=sys.stderr)
        return 2
    nproc = os.cpu_count() or 1
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    for d in (os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    # Spark, py4j and the Python workers inherit these: temp files stay in
    # the checkout and the workers can import the program
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path[:0] = [ROOT, HERE]
    import meter

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "master": f"local[{nproc}]",
              "host": meter.host_record(), "source": meter.source_record(ROOT),
              "witness_before": meter.witnesses()}
    steal0, total0 = meter.cpu_jiffies()
    try:
        metrics, info = run(args, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = meter.cpu_jiffies()
    record["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    record["witness_after"] = meter.witnesses()
    record.update({k: v for k, v in info.items() if k != "trace"})
    units = {k: _unit(k) for k in metrics} if args.trace else END_TO_END
    for e in info["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({"run_record": record}))
    for name, value in metrics.items():
        print(f"metric {name} = {value:.6g} {units[name]}")
    print(f"also error_rate = {info['error_rate']:.6g} (failed or wrong / attempted), "
          f"latency_p90_s = {info['latency_p90_s']:.6g} s over {info['attempted'] - 1} calls"
          + "".join(f", {k} = {info[k]:.6g} 1/s" for k in ("queries_per_s", "join_rows_per_s")
                    if k in info))
    if args.trace:
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
        with open(path, "w") as f:
            json.dump({"record": record, "per_layer": metrics, **info["trace"]}, f)
        print(f"trace written to {os.path.relpath(path, ROOT)}")
    result = {"correct": info["failed"] == 0, "attempted": info["attempted"],
              "failed": info["failed"],
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(result), flush=True)
    return 0


def _unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith(("_share", "scan_efficiency", "bytes_per_input_byte")):
        return "ratio"
    if name.endswith("_ns") or "_ns." in name:
        return "ns"
    if name.endswith(("_s", "_s_per_call", "_s_per_mpoint")):
        return "s"
    if "bytes" in name:
        return "B"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
