"""TiledSpatialEngine — query the MATERIALIZED index (build once, query
many: the production path at 100 TB).

``pipeline.build_tiled_index`` writes the point table partitioned by
``cell_id`` (hive-style directories; Iceberg partition keys at production)
with per-cell (y, x) sort, plus the model table and the partitioner-spec
lineage.  This engine answers queries against those artifacts with the
plan the reference's architecture implies (two-level index, SURVEY.md
§1.4) mapped onto Spark storage:

1. route driver-side: query -> candidate cell ids (the technique ``LookUp``
   of SURVEY.md §2.3, microseconds over the broadcastable spec);
2. scan ONLY those cells: ``where(cell_id isin ...)`` becomes a parquet
   PartitionFilter — Spark never opens non-candidate directories (the
   Iceberg/Hive partition-pruning analog of the reference's contiguous
   cell-range probe; asserted in tools_plan_audit.py);
3. probe in place with ``mapInPandas``: every Arrow batch comes from one
   cell's files, so the learned/binary-search refine runs WITHOUT ANY
   shuffle of point data (the in-session engine pays one cell-keyed
   shuffle to group; here the layout already is the grouping);
4. aggregate the tiny per-(query, cell) partials — the only exchange, of
   O(#queries x #cells-touched) rows.

The learned model table loads once and ships as a broadcast variable
(O(#cells x #knots) — the reference's per-cell splines, SURVEY.md §2.5).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import queryplan as qp
from .operators import probes
from .operators.partitioning import Partitioner
from .ops import storage


class TiledSpatialEngine:
    def __init__(self, spark: SparkSession, index_root: str):
        self.spark = spark
        self.root = index_root
        self.tiled_path = os.path.join(index_root, "points_tiled")
        # opened once: the file listing (a Spark job past 32 cell
        # directories) is paid at open, not per query, and every query
        # reads the same snapshot as the stats and models loaded with it
        self.table = storage.read_table(spark, self.tiled_path)
        manifest_path = os.path.join(index_root, "_ckpt", "fit_models.manifest.json")
        with open(manifest_path) as f:
            spec = json.load(f)["partitioner_spec"]
        self.partitioner = Partitioner.from_spec(spec)
        if spec.get("scheme") == "str" and not self.partitioner.mbrs:
            # defensive fallback for indexes whose manifest predates the
            # stats-filled spec: STR routes by per-cell MBRs, so an empty
            # list would silently prune EVERY cell — rebuild routing state
            # from the persisted cell_stats table (memoized accessor, so
            # later range/knn calls reuse the same collect).
            s = self._cell_stats_np()
            self.partitioner.mbrs = [
                [int(s["ids"][i]), float(s["minx"][i]), float(s["miny"][i]),
                 float(s["maxx"][i]), float(s["maxy"][i])]
                for i in range(s["ids"].shape[0])]
        self._models_bc = None


    # ------------------------------------------------------------ id col ---

    _ID_CANDIDATES = ("pid", "url", "doc_id")

    def _id_column(self):
        """The tiled table's row-identifier column, resolved ONCE from the
        schema: a known id name if present, else the single column that is
        not (x, y, cell_id).  Raises if ambiguous — silently picking an
        arbitrary extra column (weight, ts, ...) would corrupt join keys
        downstream."""
        if getattr(self, "_id_col", None) is None:
            fields = self.table.schema.fields
            named = [f for f in fields if f.name in self._ID_CANDIDATES]
            others = [f for f in fields if f.name not in ("x", "y", "cell_id")]
            if len(named) == 1:
                f = named[0]
            elif len(others) == 1:
                f = others[0]
            else:
                raise ValueError(
                    f"ambiguous id column in tiled table: {[f.name for f in others]}")
            self._id_col = (f.name, f.dataType.simpleString())
        return self._id_col

    # ------------------------------------------------------------ models ---

    def _models(self):
        """Broadcast {cell_id: (knot_keys, knot_pos)} once per engine."""
        if self._models_bc is None:
            rows = storage.read_table(self.spark, os.path.join(self.root, "models")).collect()
            m = {int(r["cell_id"]): (np.asarray(r["knot_keys"]), np.asarray(r["knot_pos"]))
                 for r in rows if not r["linear_scan"]}
            self._models_bc = self.spark.sparkContext.broadcast(m)
        return self._models_bc

    # ------------------------------------------------------------- scan ---

    def _pruned_scan(self, cells: list[int]) -> DataFrame:
        # isin on the partition column -> PartitionFilters in the scan node:
        # non-candidate cell files are never opened
        return self.table.where(F.col("cell_id").isin([int(c) for c in cells]))

    def _cell_stats_np(self):
        """Memoized O(#cells) stats arrays from the persisted stats table
        (bbox + count per cell) — routing/shortcut material."""
        if getattr(self, "_stats_np", None) is None:
            rows = sorted(
                storage.read_table(self.spark, os.path.join(self.root, "cell_stats")).collect(),
                key=lambda r: r["cell_id"])
            self._stats_np = {
                "ids": np.asarray([r["cell_id"] for r in rows], dtype=np.int64),
                "minx": np.asarray([r["minx"] for r in rows]),
                "miny": np.asarray([r["miny"] for r in rows]),
                "maxx": np.asarray([r["maxx"] for r in rows]),
                "maxy": np.asarray([r["maxy"] for r in rows]),
                "count": np.asarray([r["rows_in_cell"] for r in rows], dtype=np.int64),
            }
        return self._stats_np

    def _probe(self, probe, schema: str, cells: np.ndarray) -> DataFrame:
        """Run a ``queryplan`` probe per cell over the pruned scan of
        ``cells`` (one Python stage, no shuffle of point data).  A batch
        belongs to one cell's files, but after split coalescing a task may
        interleave cells: group defensively."""
        def run(it):
            for pdf in it:
                for cell, grp in pdf.groupby("cell_id", sort=False):
                    out = probe(int(cell), grp)
                    if out is not None and len(out):
                        yield out
        return self._pruned_scan(cells).mapInPandas(run, schema=schema)

    def _range_probe(self, qids, q, routing, refine: str, materialize: bool) -> DataFrame:
        models_bc = self._models() if refine == "learned" else None
        bc = self.spark.sparkContext.broadcast((routing, q, qids))
        if not materialize:
            return self._probe(qp.range_probe(bc, None, refine, models_bc),
                               "query_id bigint, cnt bigint", routing[0])
        id_col, id_type = self._id_column()
        return self._probe(qp.range_probe(bc, id_col, refine, models_bc),
                           f"query_id bigint, {id_col} {id_type}, x double, y double",
                           routing[0])

    def range_count(self, rects: list[tuple], refine: str = "learned") -> DataFrame:
        """(query_id, cnt) with 0 for empty queries — same semantics as
        SpatialEngine.range_count, shuffle-free probe.  Fully-contained
        candidate cells (Spline.hpp:67-75 shortcut, applied at routing)
        contribute their persisted stats counts without being scanned —
        the partition pruning then skips interior cell directories
        entirely; only boundary cells are read."""
        s = self._cell_stats_np()
        qids, q = qp.rects_np(rects)
        base, boundary = probes.route_contained(
            q, *qp.candidates(self.partitioner, q), s["ids"], s["minx"], s["miny"],
            s["maxx"], s["maxy"], s["count"])
        parts = self._range_probe(qids, q, boundary, refine, materialize=False)
        return qp.sum_by(self.spark, "query_id", qids, base, parts)

    def range_materialize(self, rects: list[tuple], refine: str = "learned") -> DataFrame:
        """(query_id, <id>, x, y) hit rows — the id column keeps its
        RESOLVED name (pid for derived-point indexes, url for page
        indexes), matching SpatialEngine.range_materialize's naming on the
        same data — shuffle-free (no aggregation at all: the output IS the
        probe output).  ``refine`` selects the
        in-cell candidate-run search: the broadcast learned models
        (SplineCell analog) or plain binary search — result-identical, same
        shared ``probes.range_bounds`` path as range_count."""
        qids, q = qp.rects_np(rects)
        routing = probes.compact_routing(*qp.candidates(self.partitioner, q))
        return self._range_probe(qids, q, routing, refine, materialize=True)

    def point_lookup(self, pts: list[tuple]) -> DataFrame:
        """Q3 fetch-one over the materialized index — entirely JVM: pruned
        scan, broadcast equality join, min(id) canonicalization over the
        resolved id column (pid for derived-point indexes, url for
        page-built ones).  Output (query_id, <id>); misses are -1 for a
        numeric pid, NULL otherwise."""
        qids, q = qp.points_np(pts)
        cells, qi = qp.candidates(self.partitioner, q)
        qdf = qp.local_frame(
            self.spark, {"query_id": qids[qi], "qx": q[qi, 0], "qy": q[qi, 1],
                         "cell_id": cells},
            "query_id bigint, qx double, qy double, cell_id bigint")
        id_col, id_type = self._id_column()
        hits = (self._pruned_scan(np.unique(cells))
                .join(F.broadcast(qdf), "cell_id")
                .where((F.col("x") == F.col("qx")) & (F.col("y") == F.col("qy")))
                .select("query_id", id_col))
        if id_col == "pid":
            return qp.min_by(self.spark, qids, hits, "pid", "bigint", miss=-1)
        return qp.min_by(self.spark, qids, hits, id_col, id_type)

    def distance_count(self, circles: list[tuple]) -> DataFrame:
        """Q4 radius count over the materialized index: Matuschek bbox ->
        pruned scan, haversine refine in-place (same semantics as
        SpatialEngine.distance_count)."""
        return self._distance(circles, materialize=False)

    def distance_materialize(self, circles: list[tuple]) -> DataFrame:
        """Q4 materializing form over the index: (query_id, pid) refined
        hit rows, shuffle-free (the probe output IS the result)."""
        return self._distance(circles, materialize=True)

    def _distance(self, circles: list[tuple], materialize: bool) -> DataFrame:
        qids, rects, lat, lon, rad = qp.circle_rects(circles)
        routing = probes.compact_routing(*qp.candidates(self.partitioner, rects))
        bc = self.spark.sparkContext.broadcast((routing, qids, lat, lon, rad))
        if materialize:
            id_col, id_type = self._id_column()
            return self._probe(qp.distance_probe(bc, id_col),
                               f"query_id bigint, {id_col} {id_type}", routing[0])
        parts = self._probe(qp.distance_probe(bc), "query_id bigint, cnt bigint",
                            routing[0])
        return qp.sum_by(self.spark, "query_id", qids, np.zeros(qids.size), parts)

    def pip(self, polygons: dict[int, tuple[list[float], list[float]]],
            pairs: bool = False) -> DataFrame:
        """Q5 point-in-polygon over the materialized index: polygon bbox ->
        candidate cells -> pruned scan -> exact ray cast in place.  Counts
        by default; ``pairs`` yields the (polygon_id, pid) containment rows
        shuffle-free."""
        gids, rects, polys = qp.polygon_rects(polygons)
        routing = probes.compact_routing(*qp.candidates(self.partitioner, rects))
        bc = self.spark.sparkContext.broadcast((routing, gids, polys))
        if pairs:
            id_col, id_type = self._id_column()
            return self._probe(qp.pip_probe(bc, id_col),
                               f"polygon_id bigint, {id_col} {id_type}", routing[0])
        parts = self._probe(qp.pip_probe(bc), "polygon_id bigint, cnt bigint",
                            routing[0])
        return qp.sum_by(self.spark, "polygon_id", gids, np.zeros(gids.size), parts)

    def knn(self, queries: list[tuple]) -> DataFrame:
        """kNN over the materialized index: cell stats from the persisted
        stats table drive the same exact pruning as SpatialEngine.knn; the
        per-cell top-k partials come from the pruned scan, the per-query
        window rank is the one small shuffle."""
        s = self._cell_stats_np()
        routing = probes.compact_routing(*probes.knn_candidate_cells(
            s["ids"], s["minx"], s["miny"], s["maxx"], s["maxy"], s["count"], queries))
        qids, q = qp.knn_np(queries)
        id_col, id_type = self._id_column()
        parts = self._probe(
            qp.knn_probe(self.spark.sparkContext.broadcast((routing, qids, q)), id_col),
            f"query_id bigint, {id_col} {id_type}, d2 double, px double, py double, k bigint",
            routing[0])
        return qp.knn_rank(parts, id_col)
