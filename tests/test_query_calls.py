"""Tier-1: what one query call costs, and the answers at its edges.

* Exponent-form ``geo:`` coordinates (``repr`` writes ``-1e-06`` and
  ``9e-06``) parse to the same doubles in all three consumers of
  ``GEO_RE``: the batch extractor, the stream extractor and the DuckDB
  splitter build.
* A single-query call of each kind runs a pinned number of Spark jobs on
  both engines: driver-side frames come from NumPy on the Arrow path, the
  zero-fill is one union + aggregate, the in-session cell table is
  persisted and the kNN merge is a window.
* Queries that route to no cell still answer: count 0, pid -1, no kNN
  rows.
"""

import re

import numpy as np
import pandas as pd
import pytest

from learnedspatial_spark.streaming.ingest import GEO_RE, PAGES_SCHEMA

GEO_TEXTS = {
    "u/0": ("site geo:-1e-06,64.616213 x", (-1e-06, 64.616213)),
    "u/1": ("geo:11.640876,9e-06", (11.640876, 9e-06)),
    "u/2": ("geo:-2.25e+100,1.5E-3", (-2.25e100, 1.5e-3)),
    "u/3": ("a geo:12.5,-3.25 b", (12.5, -3.25)),
    "u/4": ("geo:7,-8", (7.0, -8.0)),
    "u/5": ("geo:-.,-.", None),
    "u/6": ("geo: tags", None),
    "u/7": ("untagged page", None),
}


def test_geo_re_round_trips_repr():
    rng = np.random.default_rng(3)
    vals = rng.standard_normal(2000) * 10.0 ** rng.integers(-320, 300, 2000)
    vals = np.concatenate([vals, [5e-324, -5e-324, 2.2250738585072014e-308, 0.0, -0.0,
                                  1e16, 9e-06, -1e-06]])
    for a, b in zip(vals, vals[::-1]):
        m = re.search(GEO_RE, f"x geo:{float(a)!r},{float(b)!r} y")
        assert m is not None and (float(m.group(1)), float(m.group(2))) == (a, b), (a, b)


@pytest.fixture(scope="module")
def geo_pages(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("geo_pages") / "pages")
    urls = list(GEO_TEXTS)
    pdf = pd.DataFrame({"url": urls,
                        "warc_ts": pd.Timestamp("2024-01-01"),
                        "html": [t.encode() for t, _ in GEO_TEXTS.values()],
                        "text": [t for t, _ in GEO_TEXTS.values()],
                        "lang": "en"})
    spark.createDataFrame(pdf, schema=PAGES_SCHEMA).write.parquet(path)
    return path


def test_exponent_coordinates_parse_in_all_consumers(spark, geo_pages):
    from learnedspatial_spark import extract
    from learnedspatial_spark.engine import SpatialEngine
    from learnedspatial_spark.streaming.ingest import extract_points_stream

    want = {u: xy for u, (_, xy) in GEO_TEXTS.items() if xy is not None}
    pages = spark.read.parquet(geo_pages)
    batch = {r["url"]: (r["x"], r["y"]) for r in extract.points_from_pages(pages).collect()}
    stream = {r["url"]: (r["x"], r["y"]) for r in extract_points_stream(pages).collect()}
    assert batch == want
    assert stream == want
    eng = SpatialEngine(spark, geo_pages, source="pages", partition_size=2)
    _, x, y = eng._points_np()  # the DuckDB read the splitter build uses
    assert sorted(zip(x.tolist(), y.tolist())) == sorted(want.values())


# ------------------------------------------------------- jobs per call ---

def _jobs(spark, fn) -> int:
    """Spark jobs one ``collect`` of ``fn()`` starts (statusTracker)."""
    sc = spark.sparkContext
    group = f"call-{np.random.default_rng().integers(1 << 62)}"
    sc.setJobGroup(group, group)
    try:
        fn().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def engines(spark, sf_dir):
    from learnedspatial_spark import entrylib
    from learnedspatial_spark.engine import SpatialEngine
    eng = SpatialEngine(spark, sf_dir, scheme="fixed_grid", partition_size=200)
    eng.fit_models()
    return eng, entrylib._tiled_engine(spark, sf_dir)


#: call kind -> Spark jobs of one single-query call, on either engine: the
#: probe's Python stage feeds one per-query exchange (AQE runs the map
#: stage and the result stage as two jobs); materializing calls have no
#: exchange; point lookup is JVM-only with one broadcast join
CALL_JOBS = {"range_count": 2, "range_materialize": 1, "distance_count": 2,
             "distance_materialize": 1, "pip": 2, "pip_pairs": 1, "knn": 2,
             "point_lookup": 3}


def _calls(e, sf_dir):
    from learnedspatial_spark.sources import workloads as wl
    from learnedspatial_spark.sources.points import points_np
    _, x, y = points_np(sf_dir)
    rect = [wl.rectangles(n_per_tier=1)[1]]
    circle = wl.distance_queries(n=1)
    poly = dict(list(wl.polygons(n=1).items()))
    return {"range_count": lambda: e.range_count(rect),
            "range_materialize": lambda: e.range_materialize(rect),
            "distance_count": lambda: e.distance_count(circle),
            "distance_materialize": lambda: e.distance_materialize(circle),
            "pip": lambda: e.pip(poly),
            "pip_pairs": lambda: e.pip(poly, pairs=True),
            "knn": lambda: e.knn(wl.knn_queries(n=1)),
            "point_lookup": lambda: e.point_lookup([(0, float(x[0]), float(y[0]))])}


@pytest.mark.parametrize("which", ["engine", "tiled"])
def test_single_query_call_job_counts(spark, sf_dir, engines, which):
    e = engines[0] if which == "engine" else engines[1]
    calls = _calls(e, sf_dir)
    for fn in calls.values():  # loads the lazily read stats / models
        fn().collect()
    got = {kind: _jobs(spark, fn) for kind, fn in calls.items()}
    assert got == CALL_JOBS


# ------------------------------------------------------------ zero fill ---

def test_queries_routed_to_no_cell_still_answer(spark, sf_dir):
    """Far outside the data every scheme whose cells carry data bounds
    (quadtree in session, STR tiled) routes to no cell; an inverted
    rectangle and a k = 0 kNN query route nowhere on any scheme."""
    from learnedspatial_spark import entrylib
    from learnedspatial_spark.engine import SpatialEngine
    eng = SpatialEngine(spark, sf_dir, scheme="quadtree", partition_size=200)
    til = entrylib._tiled_engine(spark, sf_dir, scheme="str")
    rects = [(0, 500.0, 500.0, 501.0, 501.0), (1, 10.0, 10.0, -10.0, 20.0)]
    circles = [(0, 500.0, 500.0, 100.0)]
    polys = {4: ([500.0, 501.0, 501.0, 500.0], [500.0, 500.0, 501.0, 500.0])}
    for e in (eng, til):
        assert sorted(tuple(r) for r in e.range_count(rects).collect()) == [(0, 0), (1, 0)]
        assert [tuple(r) for r in e.distance_count(circles).collect()] == [(0, 0)]
        assert [tuple(r) for r in e.pip(polys).collect()] == [(4, 0)]
        assert [tuple(r) for r in e.point_lookup([(7, 500.0, 500.0)]).collect()] == [(7, -1)]
        assert e.knn([(0, 1.0, 1.0, 0)]).collect() == []
