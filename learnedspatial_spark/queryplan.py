"""Driver-side query planning shared by both engines.

``SpatialEngine`` and ``TiledSpatialEngine`` answer the same query kinds
over two cell sources (a cached cell-partitioned frame, a partitioned
parquet index).  Everything that does not depend on the source lives
here, so the two engines cannot drift:

* query batches -> NumPy arrays (one conversion per call);
* candidate routing of rectangle batches: fixed grid in closed-form array
  arithmetic (``rect_cell_ranges``), tree schemes through one generic
  ``cells_for_rect`` fallback;
* driver-side frames built from NumPy columns on the Arrow path: they plan
  as a ``LocalRelation`` and cost no Spark job.  A Python row list would
  go through ``sc.parallelize`` and a Python stage on every call;
* the final reduce: zero-fill by aggregate (the query frame carries the
  base counts, so one exchange both sums the probe partials and keeps
  queries with no hits), and the kNN top-k as a window rank over the same
  per-query exchange.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators import probes
from .operators.partitioning import FixedGridPartitioner, Partitioner


def rects_np(rects: list[tuple]) -> tuple[np.ndarray, np.ndarray]:
    """(query_id, fx, fy, tx, ty) rows -> (int64 query ids, (N, 4) float64)."""
    arr = np.asarray([r[1:5] for r in rects], dtype=np.float64).reshape(len(rects), 4)
    return np.asarray([r[0] for r in rects], dtype=np.int64), arr


def knn_np(queries: list[tuple]) -> tuple[np.ndarray, np.ndarray]:
    """(query_id, qx, qy, k) rows -> (query ids, (N, 3) float64)."""
    q = np.asarray([r[1:4] for r in queries], dtype=np.float64).reshape(len(queries), 3)
    return np.asarray([r[0] for r in queries], dtype=np.int64), q


def points_np(pts: list[tuple]) -> tuple[np.ndarray, np.ndarray]:
    """(query_id, x, y) rows -> (query ids, (N, 4) degenerate rects)."""
    xy = np.asarray([r[1:3] for r in pts], dtype=np.float64).reshape(len(pts), 2)
    return np.asarray([r[0] for r in pts], dtype=np.int64), np.column_stack([xy, xy])


def circle_rects(circles: list[tuple]):
    """(query_id, lat, lon, radius_m) rows -> (query ids, routing rects,
    lat, lon, radius).  The routing rect is the Matuschek circle bbox
    widened by 8 ulps per side (``probes.widen_ulps``)."""
    from .functions import geo
    qids = np.asarray([c[0] for c in circles], dtype=np.int64)
    lat = np.asarray([c[1] for c in circles], dtype=np.float64)
    lon = np.asarray([c[2] for c in circles], dtype=np.float64)
    rad = np.asarray([c[3] for c in circles], dtype=np.float64)
    mnla, mxla, mnlo, mxlo = geo.circle_bbox_radians_np(
        (lat / 180.0) * math.pi, (lon / 180.0) * math.pi, rad)
    r2d = 180.0 / math.pi
    fx, tx = probes.widen_ulps(mnla * r2d, mxla * r2d)
    fy, ty = probes.widen_ulps(mnlo * r2d, mxlo * r2d)
    return qids, np.column_stack([fx, fy, tx, ty]).reshape(len(circles), 4), lat, lon, rad


def polygon_rects(polygons: dict[int, tuple[list[float], list[float]]]):
    """polygon_id -> (vx, vy) -> (polygon ids, bbox rects, vertex arrays)."""
    gids = np.asarray(list(polygons), dtype=np.int64)
    polys = [(np.asarray(vx, dtype=np.float64), np.asarray(vy, dtype=np.float64))
             for vx, vy in polygons.values()]
    arr = np.asarray([[vx.min(), vy.min(), vx.max(), vy.max()] for vx, vy in polys],
                     dtype=np.float64).reshape(len(polys), 4)
    return gids, arr, polys


def candidates(part: Partitioner, rects_arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Flat (cell, query index) candidate pairs of a rectangle batch.  The
    fixed grid routes the whole batch in array arithmetic; other schemes
    call their scalar ``cells_for_rect`` per rectangle."""
    if isinstance(part, FixedGridPartitioner):
        lo, hi = part.rect_cell_ranges(*rects_arr.T)
        return probes.flatten_ranges(lo, hi)
    return probes.flatten_cell_lists([part.cells_for_rect(*r) for r in rects_arr])


def local_frame(spark: SparkSession, cols: dict, schema: str) -> DataFrame:
    """A driver-side frame from NumPy columns, converted through Arrow."""
    return spark.createDataFrame(pd.DataFrame(cols), schema=schema)


def sum_by(spark: SparkSession, key: str, ids: np.ndarray, base: np.ndarray,
           parts: DataFrame) -> DataFrame:
    """(key, cnt) per query: ``base`` plus the sum of the probe partials
    ``parts`` (key, cnt).  Every query appears, with its base when no
    probe row names it."""
    qdf = local_frame(spark, {key: ids, "cnt": np.asarray(base, dtype=np.int64)},
                      f"{key} bigint, cnt bigint")
    return qdf.unionByName(parts).groupBy(key).agg(F.sum("cnt").alias("cnt"))


def min_by(spark: SparkSession, ids: np.ndarray, hits: DataFrame, id_col: str,
           id_type: str, miss=None) -> DataFrame:
    """(query_id, id_col) per query: the least id among ``hits``
    (query_id, id_col), ``miss`` when it has none."""
    qdf = local_frame(spark, {"query_id": ids}, "query_id bigint").select(
        "query_id", F.lit(None).cast(id_type).alias(id_col))
    out = qdf.unionByName(hits).groupBy("query_id").agg(F.min(id_col).alias(id_col))
    if miss is None:
        return out
    return out.select("query_id", F.coalesce(F.col(id_col), F.lit(miss))
                      .cast(id_type).alias(id_col))


def knn_rank(parts: DataFrame, id_col: str) -> DataFrame:
    """Global top-k from per-cell partials (query_id, id_col, d2, px, py,
    k): rank each query's partials by (d2, x, y, id) and keep the first k
    -> (query_id, rnk, id_col)."""
    w = Window.partitionBy("query_id").orderBy("d2", "px", "py", id_col)
    return (parts.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= F.col("k"))
            .select("query_id", F.col("rnk").cast("bigint").alias("rnk"), id_col))


# ------------------------------------------------- per-cell probe bodies ---
# Each factory returns ``probe(cell, pdf) -> pd.DataFrame | None`` over one
# cell's points (columns x, y and ``id_col``).  The in-session engine runs
# it per cell group (applyInPandas), the tiled engine per cell of each
# scanned batch (mapInPandas).  ``bc`` is the call's broadcast: the
# compact routing table first, then the query arrays.  A broadcast, not
# the task closure: a production batch's (cell, query) pairs are MBs, and
# as closure state they would be re-pickled into the plan per job and
# re-unpickled per task (measured 0.3s/task at 18k rects); a broadcast
# ships once and loads once per worker.  A cell with no routed query
# returns None.  Where ``id_col`` is optional, None means per-query count
# partials and a name means the hit rows with that id.

def range_probe(bc, id_col: str | None = None, refine: str = "learned", models_bc=None):
    """bc = (routing, rects (N, 4), query ids).  ``refine``: "learned"
    (pre-fit knots from ``models_bc``, fitted in the probe for a cell
    without them), "binsearch", or "binsearch_x" (the C3 BinarySearchXCell
    twin, BinarySearchX.hpp:8-51: (x, y) sort, binary search on x, filter
    on y).  All three return identical rows."""
    from .operators import spline as spl
    swap_x = refine == "binsearch_x"

    def probe(cell: int, pdf: pd.DataFrame):
        routing, q, qids = bc.value
        qi = probes.routing_lookup(routing, cell)
        if qi is None or qi.size == 0:
            return None
        sort = probes.sort_cell_x if swap_x else probes.sort_cell
        order, xs, ys = sort(pdf["x"].to_numpy(), pdf["y"].to_numpy())
        fx, fy, tx, ty = q[qi, 0], q[qi, 1], q[qi, 2], q[qi, 3]
        knots = None
        if refine == "learned" and xs.shape[0] > spl.LINEAR_SCAN_THRESHOLD:
            knots = models_bc.value.get(cell) if models_bc is not None else None
            if knots is None:
                keys, pos = spl.build_cdf(ys)
                knots = spl.fit_spline(keys, pos.astype(np.float64))
        if id_col is None:
            if swap_x:
                cnt = probes.range_count_cell_x(xs, ys, fx, fy, tx, ty)
            else:
                cnt = probes.range_count_cell(xs, ys, fx, fy, tx, ty, knots)
            return pd.DataFrame({"query_id": qids[qi], "cnt": cnt})
        contained = probes.contained_mask(xs, ys, fx, fy, tx, ty)
        if swap_x:
            lo, hi = probes.range_bounds(xs, fx, tx, None)
            select = probes.range_select_cell_x
        else:
            lo, hi = probes.range_bounds(ys, fy, ty, knots)
            select = probes.range_select_cell
        pos, sel = probes.flat_hits([select(xs, ys, fx, fy, tx, ty, j, lo, hi, contained)
                                     for j in range(qi.shape[0])])
        return pd.DataFrame({"query_id": qids[qi[pos]], id_col: pdf[id_col].to_numpy()[order][sel],
                             "x": xs[sel], "y": ys[sel]})
    return probe


def distance_probe(bc, id_col: str | None = None):
    """bc = (routing, query ids, lat, lon, radius_m): haversine refine,
    (query_id, cnt) partials or (query_id, id_col) hit rows."""
    def probe(cell: int, pdf: pd.DataFrame):
        routing, qids, lat, lon, rad = bc.value
        qi = probes.routing_lookup(routing, cell)
        if qi is None or qi.size == 0:
            return None
        pos, sel = probes.distance_select_cell(
            pdf["x"].to_numpy(), pdf["y"].to_numpy(), lat[qi], lon[qi], rad[qi])
        if id_col is not None:
            return pd.DataFrame({"query_id": qids[qi[pos]], id_col: pdf[id_col].to_numpy()[sel]})
        return pd.DataFrame({"query_id": qids[qi], "cnt": np.bincount(pos, minlength=qi.size)})
    return probe


def pip_probe(bc, id_col: str | None = None):
    """bc = (routing, polygon ids, [(vx, vy), ...]): (polygon_id, cnt)
    partials or (polygon_id, id_col) containment rows."""
    def probe(cell: int, pdf: pd.DataFrame):
        routing, gids, polys = bc.value
        qi = probes.routing_lookup(routing, cell)
        if qi is None or qi.size == 0:
            return None
        pos, sel = probes.pip_select_cell(
            pdf["x"].to_numpy(), pdf["y"].to_numpy(), [polys[t] for t in qi])
        if id_col is not None:
            return pd.DataFrame({"polygon_id": gids[qi[pos]], id_col: pdf[id_col].to_numpy()[sel]})
        return pd.DataFrame({"polygon_id": gids[qi], "cnt": np.bincount(pos, minlength=qi.size)})
    return probe


def knn_probe(bc, id_col: str):
    """bc = (routing, query ids, (N, 3) qx, qy, k): per-cell top-k
    partials (query_id, id_col, d2, px, py, k), the input of
    :func:`knn_rank`."""
    def probe(cell: int, pdf: pd.DataFrame):
        routing, qids, q = bc.value
        qi = probes.routing_lookup(routing, cell)
        if qi is None or qi.size == 0:
            return None
        xs, ys, ids = pdf["x"].to_numpy(), pdf["y"].to_numpy(), pdf[id_col].to_numpy()
        pos, sel, d2 = probes.knn_select_cell(xs, ys, ids, q[qi])
        t = qi[pos]
        return pd.DataFrame({"query_id": qids[t], id_col: ids[sel], "d2": d2,
                             "px": xs[sel], "py": ys[sel], "k": q[t, 2].astype(np.int64)})
    return probe

