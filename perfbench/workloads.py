"""The benchmark's workloads, their seeded inputs and their answer checks.

Every workload runs the engine at ``local[nproc]`` with one closed-loop
client: the next call starts when the previous one has returned its
rows.  A workload is a fixed cycle of public calls, run whole cycles at a
time until ``seconds`` have passed, so every run measures the same mix.

Inputs come from the seed only: a pages corpus from
``datagen.pages_df(n, seed)`` and query batches from
``sources/workloads.py``.  Generating them is never timed.  Answers are
checked after the timed loop against ``oracle/oracle.py`` on the
generator's own coordinates (``datagen.coords_for_ids``), never on
coordinates the engine derived; a wrong answer counts as a failed call.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from learnedspatial_spark import datagen, extract, pipeline
from learnedspatial_spark.engine import SpatialEngine
from learnedspatial_spark.operators import distjoin
from learnedspatial_spark.operators.partitioning import Partitioner
from learnedspatial_spark.sources import workloads as wl
from learnedspatial_spark.tiled import TiledSpatialEngine
from oracle import oracle

from meter import SparkMeter, Tracer

N_PAGES = 20_000
#: points per cell for both engines: 10 cells of 2000 points, large
#: enough that the in-cell search (learned or binary) does real work
PARTITION_SIZE = 2000
#: engine set-ups per run; setup_s takes their median.  Two, not more:
#: each costs 5 to 10 s and a full benchmark pass must stay within its
#: time budget on a host that slows by a third at times.
SETUP_REPS = 2
POOL = 8               # distinct queries per kind in the interactive loop
BATCH = {"rects_per_tier": 16000, "circles": 4000, "polygons": 800, "knn": 400}
JOIN_RADIUS_M = 25_000.0
JOIN_K = 5
JOIN_SAMPLE = 300      # left points checked by brute force per join call
TIERS = ("lo", "mid", "hi")


# ------------------------------------------------------------------ inputs ---

@dataclass
class Corpus:
    """The pages table on disk plus the generator's ground truth, ordered
    by doc id: x (lat), y (lon), the page url, and the in-session engine's
    point id (xxhash64 of the url)."""
    path: str
    x: np.ndarray
    y: np.ndarray
    url: np.ndarray
    pid: np.ndarray
    record: dict

    @property
    def n(self) -> int:
        return self.x.size


def make_corpus(spark, work: str, seed: int, n: int, partitions: int) -> Corpus:
    from pyspark.sql import functions as F
    path = os.path.join(work, "pages")
    datagen.pages_df(spark, n, seed=seed, partitions=partitions).write.parquet(path)
    ids = (spark.read.parquet(path)
           .select("url", F.xxhash64("url").alias("pid")).toPandas())
    doc = ids["url"].str.rsplit("/", n=1).str[1].astype(np.int64).to_numpy()
    order = np.argsort(doc)
    if not np.array_equal(doc[order], np.arange(n)):
        raise RuntimeError("pages corpus does not hold doc ids 0..n-1 exactly once")
    x, y = datagen.coords_for_ids(np.arange(n, dtype=np.int64), seed)
    return Corpus(path, x, y, ids["url"].to_numpy()[order].astype(str),
                  ids["pid"].to_numpy()[order], _corpus_record(path))


def _corpus_record(path: str) -> dict:
    """Row count, bytes on disk and a content hash that is independent of
    file layout, so a change to datagen shows up as input drift."""
    files = glob.glob(os.path.join(path, "*.parquet"))
    t = pq.read_table(path)
    t = t.take(pc.sort_indices(t, [("url", "ascending")]))
    h = hashlib.sha256()
    for name in ("url", "text", "lang"):
        h.update("\n".join(t.column(name).to_pylist()).encode())
    h.update(b"\0".join(t.column("html").to_pylist()))
    h.update(pc.cast(t.column("warc_ts"), "int64").to_numpy().tobytes())
    return {"rows": t.num_rows, "bytes": sum(os.path.getsize(f) for f in files),
            "sha256": h.hexdigest()}


def query_batch(seed: int, rects_per_tier: int, circles: int, polygons: int,
                knn: int) -> dict:
    """Seeded query batch from sources/workloads.py; rectangles split by
    selectivity tier (lo/mid/hi) plus the generator's edge cases."""
    rects = wl.rectangles(n_per_tier=rects_per_tier, seed=seed)
    n = rects_per_tier
    return {"rects_by_tier": {t: rects[i * n:(i + 1) * n] for i, t in enumerate(TIERS)},
            "rects": rects,
            "circles": wl.distance_queries(n=circles, seed=seed + 1),
            "polygons": wl.polygons(n=polygons, seed=seed + 3),
            "knn": wl.knn_queries(n=knn, seed=seed + 4)}


def replayed_queries(batch: dict) -> dict:
    """Query call -> how many queries of its kind the kernel replay runs."""
    return {"range_count": sum(len(v) for v in batch["rects_by_tier"].values()),
            "distance_count": len(batch["circles"]), "pip": len(batch["polygons"]),
            "knn": len(batch["knn"])}


def extract_points(spark, corpus: Corpus) -> None:
    """Run extract.points_from_pages over the whole corpus, discarding
    the rows (Spark's noop sink), so the extraction alone is timed."""
    (extract.points_from_pages(spark.read.parquet(corpus.path))
     .write.format("noop").mode("overwrite").save())


# ---------------------------------------------------------------- oracle ---

class Oracle:
    """Expected answers from oracle/oracle.py over the generator's points.

    Each query first narrows the points with a test implied by the
    oracle's own predicate, which only removes points that predicate
    rejects, then applies the oracle function to what is left."""

    def __init__(self, c: Corpus):
        self.c = c
        self.by_x = np.argsort(c.x, kind="stable")
        self.xs = c.x[self.by_x]
        self.xr, self.yr = (c.x / 180.0) * np.pi, (c.y / 180.0) * np.pi
        self.url_rank = np.argsort(np.argsort(c.url, kind="stable"), kind="stable")
        self.url_sorted = np.sort(c.url)

    def _ids(self, id_kind):
        return self.c.pid if id_kind == "pid" else self.url_rank

    def _out_id(self, v, id_kind):
        return v if id_kind == "pid" else str(self.url_sorted[v])

    def range_count(self, r) -> int:
        _, fx, fy, tx, ty = r
        i = self.by_x[np.searchsorted(self.xs, fx, "left"):np.searchsorted(self.xs, tx, "right")]
        return oracle.range_count(self.c.x[i], self.c.y[i], fx, fy, tx, ty)

    def distance_count(self, q) -> int:
        _, lat, lon, r = q
        band = math.degrees(r / oracle.EARTH_RADIUS_M) * (1 + 1e-6) + 1e-9
        i = self.by_x[np.searchsorted(self.xs, lat - band, "left"):
                      np.searchsorted(self.xs, lat + band, "right")]
        return oracle.distance_count(self.xr[i], self.yr[i], (lat / 180.0) * np.pi,
                                     (lon / 180.0) * np.pi, r)

    def pip_count(self, vx, vy) -> int:
        vx, vy = np.asarray(vx), np.asarray(vy)
        m = (self.c.y > vy.min()) & (self.c.y <= vy.max()) & (self.c.x <= vx.max())
        return oracle.pip_counts(self.c.x[m], self.c.y[m], {0: (vx, vy)})[0]

    def knn(self, q, id_kind) -> list:
        _, qx, qy, k = q
        d2 = (self.c.x - qx) ** 2 + (self.c.y - qy) ** 2
        kth = np.partition(d2, min(k, d2.size) - 1)[min(k, d2.size) - 1]
        i = np.flatnonzero(d2 <= kth)
        got = oracle.knn_euclidean(self.c.x[i], self.c.y[i], self._ids(id_kind)[i], qx, qy, k)
        return [self._out_id(v, id_kind) for v in got]

    def point_lookup(self, q, id_kind):
        _, qx, qy = q
        v = oracle.point_lookup(self.c.x, self.c.y, self._ids(id_kind), qx, qy)
        if v is None:
            return -1 if id_kind == "pid" else None
        return self._out_id(v, id_kind)

    def join_partners(self, i: int, radius_m: float) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids within radius of doc i excluding i, their distances)."""
        d = oracle.haversine_m(self.xr[i], self.yr[i], self.xr, self.yr)
        m = d <= radius_m
        m[i] = False
        j = np.flatnonzero(m)
        return j, d[j]


# ------------------------------------------------------------------ calls ---

@dataclass
class Call:
    """One public call of a workload cycle: ``fn()`` returns rows,
    ``check(rows)`` lists what in them is wrong (empty when they are the
    right answer), ``items`` is the work it carries (queries, or left rows
    for a join)."""
    kind: str
    fn: object
    check: object
    items: int


class Loop:
    """Runs whole cycles of calls, times each call and, when traced,
    records spans and Spark counters.  A traced call's ``wall_s`` is the
    call alone; its ``loop_s`` adds the counter reads, so their
    difference is what tracing costs the loop."""

    def __init__(self, spark, trace: bool):
        self.trace = trace
        self.tracer = Tracer() if trace else None
        self.meter = SparkMeter(spark) if trace else None
        self.records: list[dict] = []
        self.errors: list[str] = []
        self.setup_errors: list[str] = []  # the set-up's own answer checks

    def setup_span(self, name, fn):
        t0 = time.time()
        out = fn()
        if self.tracer:
            self.tracer.add(name, t0, time.time())
        return out

    def run(self, calls: list[Call], seconds: float) -> float:
        """-> wall seconds of the measured phase (whole cycles)."""
        pending = []
        t_start = time.perf_counter()
        cycle = 0
        while True:
            for call in calls:
                pending.append((call, self._one(call, cycle)))
            cycle += 1
            if time.perf_counter() - t_start >= seconds:
                break
        elapsed = time.perf_counter() - t_start
        t_check = time.perf_counter()
        for call, (rec, rows) in pending:
            if not rec["ok"]:
                continue
            try:
                wrong = call.check(rows)
                rec["ok"] = not wrong
                if wrong:
                    self.errors.append(f"{call.kind}: wrong answer, {_first(wrong)}")
            except Exception:  # a check that cannot run is a wrong answer
                self.errors.append(f"{call.kind}: check raised\n{traceback.format_exc()}")
                rec["ok"] = False
        self.check_s = time.perf_counter() - t_check
        return elapsed

    def _one(self, call: Call, cycle: int):
        rec = {"kind": call.kind, "items": call.items, "cycle": cycle}
        rows = None
        if self.trace:
            self.meter.begin()
        t0w, t0 = time.time(), time.perf_counter()
        try:
            rows = call.fn()
            rec["ok"] = True
        except Exception:  # a failed call is counted, the loop goes on
            self.errors.append(f"{call.kind}: raised\n{traceback.format_exc()}")
            rec["ok"] = False
        rec["wall_s"] = time.perf_counter() - t0
        if self.trace:
            rec["counters"], jobs = self.meter.end(rec["wall_s"])
            op = self.tracer.add(call.kind, t0w, t0w + rec["wall_s"],
                                 request_id=len(self.records))
            for j in jobs:
                self.tracer.add(j["name"], j["start"], j["end"], parent=op,
                                request_id=len(self.records))
        rec["loop_s"] = time.perf_counter() - t0
        self.records.append(rec)
        return rec, rows


def _first(wrong: list, n: int = 3) -> str:
    """How many things are wrong, and the first ``n`` of them."""
    return f"{len(wrong)} wrong, first: " + "; ".join(map(str, wrong[:n]))


def _rows_by(rows, key, val) -> dict:
    return {r[key]: r[val] for r in rows}


def _knn_lists(rows, id_col) -> dict:
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rnk"])):
        out.setdefault(r["query_id"], []).append(r[id_col])
    return out


def _cached(fn):
    cache: dict = {}

    def get(*args):
        key = repr(args)
        if key not in cache:
            cache[key] = fn(*args)
        return cache[key]
    return get


def spatial_calls(eng, til, orc: Oracle) -> dict:
    """Builders for every single-table query call on both engines: kind ->
    function(queries) -> Call.  Expected answers are computed on first
    use, after the timed loop, and shared by both engines."""
    exp_range = _cached(orc.range_count)
    exp_dist = _cached(orc.distance_count)
    exp_pip = _cached(orc.pip_count)
    exp_knn = _cached(orc.knn)
    exp_pl = _cached(orc.point_lookup)

    def counts(kind, run, key, expected):
        def make(qs):
            def check(rows):
                got = _rows_by(rows, key, "cnt")
                wrong = [f"{qid}: got {got.get(qid)}, oracle {expected(q)}"
                         for qid, q in _keyed(qs) if got.get(qid) != expected(q)]
                if len(got) != len(qs):
                    wrong.append(f"{len(got)} answers for {len(qs)} queries")
                return wrong
            return Call(kind, lambda: run(qs).collect(), check, len(qs))
        return make

    def knn(kind, engine, id_col):
        def make(qs):
            def check(rows):
                got = _knn_lists(rows, id_col)
                return [f"{q[0]}: got {got.get(q[0], [])}, oracle {exp_knn(q, id_col)}"
                        for q in qs if got.get(q[0], []) != exp_knn(q, id_col)]
            return Call(kind, lambda: engine.knn(qs).collect(), check, len(qs))
        return make

    def lookup(kind, engine, id_col):
        def make(pts):
            def check(rows):
                got = _rows_by(rows, "query_id", id_col)
                wrong = [f"{q[0]}: got {got.get(q[0])}, oracle {exp_pl(q, id_col)}"
                         for q in pts if got.get(q[0]) != exp_pl(q, id_col)]
                if len(got) != len(pts):
                    wrong.append(f"{len(got)} answers for {len(pts)} queries")
                return wrong
            return Call(kind, lambda: engine.point_lookup(pts).collect(), check, len(pts))
        return make

    out = {}
    for name, e, id_col in (("engine", eng, "pid"), ("tiled", til, "url")):
        out[f"{name}.range_count"] = counts(f"{name}.range_count", e.range_count,
                                            "query_id", exp_range)
        out[f"{name}.distance_count"] = counts(f"{name}.distance_count", e.distance_count,
                                               "query_id", exp_dist)
        out[f"{name}.pip"] = counts(f"{name}.pip", e.pip, "polygon_id",
                                    lambda v: exp_pip(*v))
        out[f"{name}.knn"] = knn(f"{name}.knn", e, id_col)
        out[f"{name}.point_lookup"] = lookup(f"{name}.point_lookup", e, id_col)
    return out


def _keyed(qs):
    """(id, query) pairs of a query list or of a polygon dict."""
    return qs.items() if isinstance(qs, dict) else ((q[0], q) for q in qs)


# ------------------------------------------------------------------ setup ---

def build_engines(spark, loop: Loop, corpus: Corpus, work: str, rep: int):
    """In-session engine with fitted models, plus a tiled index built from
    the pages and opened for queries (both fixed grid, the default
    scheme).  One range query warms the tiled engine's lazily loaded
    model and cell-stats tables."""
    def in_session():
        e = SpatialEngine(spark, corpus.path, source="pages", partition_size=PARTITION_SIZE)
        e.cell_stats()
        e.fit_models()
        return e
    eng = loop.setup_span("engine.build", in_session)
    root = os.path.join(work, f"index-{rep}")
    summary = loop.setup_span("pipeline.build_tiled_index",
                              lambda: pipeline.build_tiled_index(
                                  spark, corpus.path, root, partition_size=PARTITION_SIZE))

    def open_tiled():
        t = TiledSpatialEngine(spark, root)
        t.range_count([(0, 0.0, 0.0, 1.0, 1.0)]).collect()
        return t
    return eng, loop.setup_span("tiled.open", open_tiled), (root, summary)


def check_index(corpus: Corpus, root: str, summary: dict) -> list[str]:
    """What is wrong with the tiled index (empty when nothing is): it must
    hold every corpus point once, with the generator's exact coordinates,
    in the cell its partitioner assigns, with one model row per cell.
    A point is shown as the ``geo:`` text the generator wrote for it."""
    t = pq.read_table(os.path.join(root, "points_tiled"), columns=["url", "x", "y", "cell_id"])
    with open(os.path.join(root, "_ckpt", "fit_models.manifest.json")) as f:
        part = Partitioner.from_spec(json.load(f)["partitioner_spec"])
    url = t.column("url").to_numpy(zero_copy_only=False).astype(str)
    doc = np.char.rpartition(url, "/")[:, 2].astype(np.int64)
    x, y = t.column("x").to_numpy(), t.column("y").to_numpy()
    cell = t.column("cell_id").to_numpy().astype(np.int64)
    models = pq.read_table(os.path.join(root, "models"), columns=["cell_id"])

    def geo(d):
        return f"doc {d} (geo:{float(corpus.x[d])!r},{float(corpus.y[d])!r})"
    wrong = []
    if summary["rows"] != corpus.n or t.num_rows != corpus.n:
        wrong.append(f"{t.num_rows} rows (summary {summary['rows']}) "
                     f"for {corpus.n} corpus points")
    known = (doc >= 0) & (doc < corpus.n)
    wrong += [f"missing {geo(d)}" for d in np.setdiff1d(np.arange(corpus.n), doc)]
    wrong += [f"holds unknown url {u}" for u in url[~known]]
    wrong += [f"holds doc {d} {n} times"
              for d, n in zip(*np.unique(doc[known], return_counts=True)) if n > 1]
    off = np.flatnonzero(known)
    off = off[(x[off] != corpus.x[doc[off]]) | (y[off] != corpus.y[doc[off]])]
    wrong += [f"holds ({x[i]!r}, {y[i]!r}) for {geo(doc[i])}" for i in off]
    misplaced = int(np.count_nonzero(cell != part.assign_np(x, y)))
    if misplaced:
        wrong.append(f"{misplaced} points outside the cell their partitioner assigns")
    if models.num_rows != np.unique(cell).size:
        wrong.append(f"{models.num_rows} model rows for {np.unique(cell).size} cells")
    return wrong


def setup(spark, loop, corpus, work):
    """SETUP_REPS full set-ups; the engines of the last one are used."""
    walls = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        eng, til, (root, summary) = build_engines(spark, loop, corpus, work, rep)
        walls.append(time.perf_counter() - t0)
    wrong = check_index(corpus, root, summary)
    if wrong:
        loop.setup_errors.append("pipeline.build_tiled_index: index does not match the "
                                 f"corpus, {_first(wrong)}")
    index_bytes = dir_bytes(root)
    facts = {"storage.index_bytes": float(index_bytes),
             "storage.bytes_per_input_byte": index_bytes / corpus.record["bytes"]}
    return eng, til, walls, facts


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


# -------------------------------------------------------------- workloads ---

def interactive(spark, loop, corpus, orc, work, seed):
    """One query per call.  The cycle alternates engines and query kinds;
    every kind and tier runs on both engines."""
    eng, til, walls, facts = setup(spark, loop, corpus, work)
    q = query_batch(seed, POOL, POOL, POOL, POOL)
    pts = wl.point_queries(corpus.x, corpus.y, n_hits=POOL - POOL // 4,
                           n_misses=POOL // 4, seed=seed + 2)
    mk = spatial_calls(eng, til, orc)
    order = [("engine.range_count", "lo"), ("tiled.range_count", "mid"),
             ("engine.distance_count", None), ("tiled.pip", None), ("engine.knn", None),
             ("tiled.point_lookup", None), ("engine.range_count", "hi"),
             ("tiled.range_count", "lo"), ("engine.pip", None),
             ("tiled.distance_count", None), ("engine.point_lookup", None),
             ("tiled.knn", None), ("engine.range_count", "mid"), ("tiled.range_count", "hi")]
    pools = {"distance_count": q["circles"], "pip": list(q["polygons"].items()),
             "knn": q["knn"], "point_lookup": pts}
    calls = []
    for j, (kind, tier) in enumerate(order):
        base = kind.split(".")[1]
        item = (q["rects_by_tier"][tier] if tier else pools[base])[j % POOL]
        c = mk[kind](dict([item]) if base == "pip" else [item])
        if tier:
            c.kind = f"{kind}.{tier}"
        calls.append(c)
    return calls, walls, facts, q


def batch(spark, loop, corpus, orc, work, seed):
    """A few calls, each carrying a large batch: every query kind on both
    engines, then the two table x table joins over the points derived
    from the pages (each left row is one radius or kNN query against the
    table)."""
    eng, til, walls, facts = setup(spark, loop, corpus, work)
    q = query_batch(seed, **BATCH)
    mk = spatial_calls(eng, til, orc)
    calls = [mk[f"{e}.{kind}"](q[arg]) for kind, arg in (
        ("range_count", "rects"), ("distance_count", "circles"), ("pip", "polygons"),
        ("knn", "knn")) for e in ("engine", "tiled")]
    points = extract.points_from_pages(spark.read.parquet(corpus.path))
    sample = np.random.default_rng(seed).choice(corpus.n, size=min(JOIN_SAMPLE, corpus.n),
                                                replace=False)
    doc_of = {u: i for i, u in enumerate(corpus.url)}

    def check_pairs(pdf):
        got: dict = {}
        wrong = []
        for a, b in zip(pdf["l_pid"], pdf["r_pid"]):
            if not a < b:
                wrong.append(f"pair ({a}, {b}) not ordered")
            got.setdefault(doc_of[a], set()).add(doc_of[b])
            got.setdefault(doc_of[b], set()).add(doc_of[a])
        if len(pdf) != sum(map(len, got.values())) // 2:
            wrong.append("repeated pairs")
        for i in map(int, sample):
            want = set(orc.join_partners(i, JOIN_RADIUS_M)[0].tolist())
            if got.get(i, set()) != want:
                wrong.append(f"doc {i}: partners {sorted(got.get(i, set()))}, "
                             f"oracle {sorted(want)}")
        return wrong

    def check_knn(pdf):
        got: dict = {}
        for a, b in zip(pdf["l_pid"], pdf["r_pid"]):
            got.setdefault(a, []).append(b)
        wrong = []
        for i in map(int, sample):
            j, d = orc.join_partners(i, JOIN_RADIUS_M)
            urls = corpus.url[j]
            want = sorted(str(u) for u in urls[np.lexsort((urls, d))][:JOIN_K])
            if sorted(got.get(corpus.url[i], [])) != want:
                wrong.append(f"doc {i}: {sorted(got.get(corpus.url[i], []))}, oracle {want}")
        return wrong

    calls += [Call("distjoin.distance_join_pairs",
                   lambda: distjoin.distance_join_pairs(points, JOIN_RADIUS_M, id_col="url")
                   .toPandas(), check_pairs, corpus.n),
              Call("distjoin.knn_join",
                   lambda: distjoin.knn_join(points, points, JOIN_K, JOIN_RADIUS_M,
                                             id_col="url").toPandas(), check_knn, corpus.n)]
    return calls, walls, facts, q


#: name -> fn(spark, loop, corpus, oracle, work_dir, seed) ->
#: (calls, set-up walls, storage facts, query batch for the kernel replay)
WORKLOADS = {"interactive": interactive, "batch": batch}
