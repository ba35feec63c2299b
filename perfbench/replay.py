"""Kernel replay: the engine's NumPy kernels on the driver, without Spark.

Each cell's points are grouped and (y, x)-sorted once, as the engine's
probes see them.  The replay then times routing, the probe kernels and
the spline on the run's own query batch and counts the reference's
scan-overhead statistics (rows scanned vs rows emitted by the range
refine, ``PRINT_STATS`` in the reference's ``src/main.cpp:140-186``).
It measures kernel self time only: no Arrow, no JVM, no job launch.
"""

from __future__ import annotations

import math
import time

import numpy as np

from learnedspatial_spark.operators import probes
from learnedspatial_spark.operators import spline as spl
from learnedspatial_spark.operators.partitioning import FixedGridPartitioner

TIERS = ("lo", "mid", "hi")
REPEATS = 5  # timings are the median of this many passes


def _median_time(fn, repeats: int = REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def replay(x: np.ndarray, y: np.ndarray, pid: np.ndarray, batch: dict,
           partition_size: int) -> dict:
    """Time the kernels on points (x, y, pid), gridded as the engines grid
    them with ``partition_size``, and a query batch with keys
    ``rects_by_tier`` ({tier: [(qid, fx, fy, tx, ty), ...]}), ``circles``,
    ``polygons`` and ``knn``.  Returns ``<module>.<metric>`` values."""
    part = FixedGridPartitioner.build(float(x.min()), float(x.max()), x.size, partition_size)
    out = {"partitioning.assign_s_per_mpoint":
           _median_time(lambda: part.assign_np(x)) / (x.size / 1e6)}
    cell_of = part.assign_np(x)
    cells = {}
    for c in np.unique(cell_of):
        m = cell_of == c
        order, xs, ys = probes.sort_cell(x[m], y[m])
        cells[int(c)] = (xs, ys, pid[m][order])

    models = {}

    def fit_all():
        for c, (_, ys, _) in cells.items():
            models[c] = spl.fit_cell_model(ys)
    out["spline.fit_s"] = _median_time(fit_all, repeats=1)

    rects = [r for tier in TIERS for r in batch["rects_by_tier"][tier]]
    q = np.asarray([r[1:] for r in rects], dtype=np.float64)

    def route():
        lo, hi = part.rect_cell_ranges(q[:, 0], q[:, 1], q[:, 2], q[:, 3])
        return probes.flatten_ranges(lo, hi)
    out["partitioning.route_s"] = _median_time(route)
    cells_flat, qidx_flat = route()
    out["partitioning.cells_per_query"] = cells_flat.size / len(rects)

    # queries routed to each cell, the unit the engine's range probe works on
    by_cell: dict[int, np.ndarray] = {}
    for c in np.unique(cells_flat):
        if int(c) in cells:
            by_cell[int(c)] = qidx_flat[cells_flat == c]
    scanned = emitted = 0
    for c, qi in by_cell.items():
        xs, ys, _ = cells[c]
        lo, hi = probes.range_bounds(ys, q[qi, 1], q[qi, 3], None)
        contained = probes.contained_mask(xs, ys, q[qi, 0], q[qi, 1], q[qi, 2], q[qi, 3])
        scanned += int(np.where(contained, 0, np.maximum(hi - lo, 0)).sum())
        emitted += int(probes.range_count_cell(xs, ys, q[qi, 0], q[qi, 1], q[qi, 2],
                                               q[qi, 3]).sum())
    out["probes.rows_scanned"] = float(scanned)
    out["probes.rows_emitted"] = float(emitted)
    out["probes.scan_efficiency"] = emitted / max(1, scanned)

    def knots(c):
        m = models[c]
        return None if m["linear_scan"] else (np.asarray(m["knot_keys"]), np.asarray(m["knot_pos"]))

    def range_kernel():
        for c, qi in by_cell.items():
            xs, ys, _ = cells[c]
            probes.range_count_cell(xs, ys, q[qi, 0], q[qi, 1], q[qi, 2], q[qi, 3], knots(c))

    def distance_kernel():
        for _, lat, lon, r in batch["circles"]:
            fx, tx = lat - math.degrees(r / probes.EARTH_R_M), lat + math.degrees(r / probes.EARTH_R_M)
            for c in part.cells_for_rect(fx, -180.0, tx, 180.0):
                if int(c) in cells:
                    xs, ys, _ = cells[int(c)]
                    probes.distance_mask_cell(xs, ys, lat, lon, r)

    polys = [(np.asarray(vx), np.asarray(vy)) for vx, vy in batch["polygons"].values()]

    def pip_kernel():
        for vx, vy in polys:
            for c in part.cells_for_rect(vx.min(), vy.min(), vx.max(), vy.max()):
                if int(c) in cells:
                    xs, ys, _ = cells[int(c)]
                    cand = np.flatnonzero(probes.pip_candidates(xs, ys, vx, vy))
                    if cand.size:
                        probes.ray_cast_inside(xs[cand], ys[cand], vx, vy)

    def knn_kernel():
        for _, qx, qy, k in batch["knn"]:
            for xs, ys, ids in cells.values():
                probes.knn_local_topk(xs, ys, ids, qx, qy, k)

    kernel_times = {name: _median_time(fn, repeats=3) for name, fn in (
        ("range_count_cell", range_kernel), ("distance_mask_cell", distance_kernel),
        ("ray_cast_inside", pip_kernel), ("knn_local_topk", knn_kernel))}
    out["probes.kernel_s"] = sum(kernel_times.values())
    out.update({f"probes.{k}_s": v for k, v in kernel_times.items()})

    # learned vs binary search, per tier, on the same cells and queries
    for tier in TIERS:
        tq = np.asarray([r[1:] for r in batch["rects_by_tier"][tier]], dtype=np.float64)
        lo, hi = part.rect_cell_ranges(tq[:, 0], tq[:, 1], tq[:, 2], tq[:, 3])
        cf, qf = probes.flatten_ranges(lo, hi)
        work = [(cells[int(c)][1], knots(int(c)), tq[qf[cf == c], 1])
                for c in np.unique(cf) if int(c) in cells and knots(int(c)) is not None]
        n_lookups = max(1, sum(w[2].size for w in work))
        learned = _median_time(lambda: [spl.learned_searchsorted(ys, kk, kp, fy, "left")
                                        for ys, (kk, kp), fy in work])
        binary = _median_time(lambda: [np.searchsorted(ys, fy, side="left")
                                       for ys, _, fy in work])
        out[f"spline.lookup_ns.{tier}"] = learned * 1e9 / n_lookups
        out[f"probes.binsearch_ns.{tier}"] = binary * 1e9 / n_lookups
    return out
