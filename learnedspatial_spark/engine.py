"""SpatialEngine — the engine's query surface as Spark DataFrame jobs.

Execution shape for every spatial query (SURVEY.md §3 "Spark lifecycle"):

1. derive points (pure Column arithmetic, parquet scan prunes columns);
2. assign ``cell_id`` — JVM Column expression where the scheme allows
   (fixed grid, Morton, STR ranks) else a vectorized pandas UDF routing
   kernel over the broadcast partitioner spec;
3. driver-side query->candidate-cell pruning (the reference's technique
   ``LookUp`` routing, SURVEY.md §2.3) — tiny NumPy work over the spec;
4. one shuffle: ``groupBy(cell_id).applyInPandas(probe)`` where the probe
   sorts the cell by (y, x) and refines with either the learned spline
   kernel (SplineCell analog) or ``np.searchsorted`` (BinarySearchYCell
   analog, include/partition_cells/BinarySearchY.hpp) — batched NumPy,
   never per-row Python;
5. final ``groupBy(query_id)`` aggregation over the probe partials
   unioned with the query list, which carries each query's base count
   (or 0), so empty results surface as 0 (matches the oracle SQL) with
   one exchange and no join.

Cell-granular shortcuts mirrored from the reference (SURVEY.md §4):
fully-outside / fully-contained cells short-circuit before any per-point
work (Spline.hpp:62-75), tiny cells linear-scan (Spline.hpp:10).

At 100 TB the same plan holds: step 2 is the only full-data shuffle and is
also the natural Iceberg/parquet partition key for materialization; probes
touch only pruned cells (partition pruning); the model/stats tables are
O(#cells) and broadcastable.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import queryplan as qp
from .operators import probes
from .operators import spline as spl
from .operators.partitioning import (
    AdaptiveGridPartitioner,
    FixedGridPartitioner,
    KdTreePartitioner,
    MortonPartitioner,
    Partitioner,
    QuadtreePartitioner,
    STRPartitioner,
)
from .sources import points as points_src

DEFAULT_PARTITION_SIZE = 1000  # src/main.cpp:60-65
MAX_CELLS_DEFAULT = 1_000_000
#: Candidate-cell pruning switches from InSet literals to a broadcast
#: left-semi join above this count (plan size stays bounded regardless
#: of how many cells a production batch routes to).
ISIN_MAX_CELLS = 10_000


def effective_partition_size(n: int, partition_size: int, max_cells: int) -> int:
    """Auto-coarsen the per-cell budget so #cells stays bounded.  The
    cell-stats and model tables are O(#cells) driver/broadcast artifacts
    by design (the reference's per-cell metadata, SURVEY.md §2.5); the
    reference leaves ``partition_size`` to manual tuning (README.md:62-68).
    At 100 TB a forgotten default (1000) would mean ~10^8 cells and
    multi-GB driver collects — instead, a build whose n/partition_size
    exceeds ``max_cells`` coarsens partition_size to ceil(n / max_cells).
    Query RESULTS are partitioning-invariant; only cell granularity
    changes."""
    if max_cells and n > partition_size * max_cells:
        return -(-n // max_cells)
    return partition_size


@dataclass
class CellStats:
    ids: np.ndarray
    minx: np.ndarray
    miny: np.ndarray
    maxx: np.ndarray
    maxy: np.ndarray
    count: np.ndarray


class SpatialEngine:
    """Builds one partitioning scheme over the derived point table and
    answers the full reference query surface (+ kNN, new per north rule)."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        scheme: str = "fixed_grid",
        partition_size: int = DEFAULT_PARTITION_SIZE,
        refine: str = "learned",
        salt_rows: int | None = None,
        source: str = "lineitem",
        build_sample: int | None = None,
        exact_build_threshold: int = 2_000_000,
        max_cells: int = MAX_CELLS_DEFAULT,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.scheme = scheme
        # self.partition_size is set ONCE below, after the count is known,
        # via effective_partition_size — no raw value is ever observable
        self.refine = refine
        # skew handling (north rule): cells with > salt_rows points are
        # sub-split by a deterministic salt; probes group on (cell_id, salt)
        # so one skewed cell fans out over salt_k tasks, results re-aggregate
        # on the logical cell/query key (count/topk partials are associative)
        self.salt_rows = salt_rows
        # source: "lineitem" = harness derivation from sf_dir tables;
        #         "pages"   = sf_dir is a pages parquet path (url->pid hash)
        self.source = source
        # splitter build — scale-safe by default: closed-form schemes
        # (fixed grid / Morton / STR) need only (min, max, count), computed
        # with ONE Spark aggregation (no point ever reaches the driver).
        # Data-dependent schemes (adaptive grid / kd-tree / quadtree) build
        # exact below ``exact_build_threshold`` rows (the harness scale —
        # bit-reproducible against the oracle SQL literals) and switch to a
        # bounded deterministic hash sample above it (the 100 TB path,
        # SURVEY.md §7.3(d)): cell structure changes, query RESULTS do not
        # (routing + refine stay exact for any partitioning).
        # ``build_sample=k`` forces the sampled path at ~k rows.
        agg = self.points().agg(F.min("x"), F.max("x"), F.count(F.lit(1))).collect()[0]
        self._n = n = int(agg[2])
        if n == 0:
            raise ValueError(
                f"empty point source: no points derived from {sf_dir!r} "
                f"(source={source!r}) — nothing to index")
        self._xmin, self._xmax = float(agg[0]), float(agg[1])
        # O(#cells) guard: coarsen partition_size before any splitter build
        self.partition_size = effective_partition_size(n, partition_size, max_cells)
        if self.scheme in ("fixed_grid", "morton", "str"):
            self.partitioner = self._build_closed_form(self._xmin, self._xmax, n)
        else:
            target = build_sample if build_sample is not None else exact_build_threshold
            if n <= target:
                _, x, y = self._points_np()
                self.partitioner = self._build_partitioner(x, y)
            else:
                # ceil division: floor would give k=1 for n in (target,
                # 2*target) and "sample" the whole corpus to the driver
                k = max(1, -(-n // max(1, target)))
                samp = (self.points()
                        .where(F.pmod(F.xxhash64("pid"), F.lit(k)) == 0)
                        .select("x", "y").collect())
                xs = np.asarray([r["x"] for r in samp], dtype=np.float64)
                ys = np.asarray([r["y"] for r in samp], dtype=np.float64)
                # per-leaf budget shrinks by the sampling ratio so full-scale
                # occupancy still targets partition_size (pipeline.py parity)
                self.partitioner = self._build_partitioner(
                    xs, ys, ps=max(1, self.partition_size // k))
        self._assigned: DataFrame | None = None
        self._stats: CellStats | None = None
        self._models: dict[int, tuple[np.ndarray, np.ndarray]] | None = None

    # ------------------------------------------------------------ build ---

    def _build_closed_form(self, xmin: float, xmax: float, n: int) -> Partitioner:
        """Schemes whose splitter is a pure function of (bbox, count) — no
        point data touches the driver."""
        ps = self.partition_size
        if self.scheme == "fixed_grid":
            return FixedGridPartitioner.build(xmin, xmax, n, ps)
        if self.scheme == "morton":
            level = max(1, min(12, int(math.ceil(math.log2(max(2.0, n / ps)) / 2))))
            return MortonPartitioner(level=level)
        if self.scheme == "str":
            slice_cap, leaf = STRPartitioner.plan(n, ps)
            return STRPartitioner(n=n, leaf=leaf, slice_cap=slice_cap, mbrs=[])
        raise ValueError(f"not a closed-form scheme: {self.scheme}")

    def _build_partitioner(self, x: np.ndarray, y: np.ndarray, ps: int | None = None) -> Partitioner:
        ps = self.partition_size if ps is None else ps
        if self.scheme == "adaptive_grid":
            return AdaptiveGridPartitioner.build_from_sorted_x(np.sort(x), ps)
        if self.scheme == "kd_tree":
            return KdTreePartitioner.build_from_points(x, y, ps)
        if self.scheme == "quadtree":
            return QuadtreePartitioner.build_from_points(x, y, ps)
        raise ValueError(f"unknown scheme {self.scheme}")

    def _points_np(self):
        if self.source == "pages":
            # splitter build needs only (x, y); pid here is a DuckDB-local
            # hash (the Spark-side pid is xxhash64(url) — never compared)
            import duckdb

            from .streaming.ingest import GEO_RE
            con = duckdb.connect()
            # SAME regex as the Spark extraction (extract.points_from_pages
            # via GEO_RE) and TRY_CAST: a page whose text contains 'geo:'
            # without a parsable coordinate pair passes the LIKE prefilter,
            # regexp_extract returns '' there, and a plain cast('') raises
            # — the Spark side drops such rows, so must this one
            rel = con.sql(
                "SELECT * FROM ("
                "SELECT hash(url) AS pid, "
                f"try_cast(regexp_extract(text, '{GEO_RE}', 1) as double) AS x, "
                f"try_cast(regexp_extract(text, '{GEO_RE}', 2) as double) AS y "
                f"FROM read_parquet('{self.sf_dir}/*.parquet') WHERE text LIKE '%geo:%'"
                ") WHERE x IS NOT NULL AND y IS NOT NULL")
            pid, x, y = rel.fetchnumpy().values()
            con.close()
            return pid.astype(np.int64), x.astype(np.float64), y.astype(np.float64)
        return points_src.points_np(self.sf_dir)

    def points(self) -> DataFrame:
        if self.source == "pages":
            from . import extract
            pages = self.spark.read.parquet(self.sf_dir)
            pts = extract.points_from_pages(pages)
            return pts.select(F.xxhash64("url").alias("pid"), "x", "y")
        return points_src.points_df(self.spark, self.sf_dir)

    def assignment(self) -> DataFrame:
        """points + cell_id, as a plan.  JVM expression for closed-form
        schemes; Arrow pandas UDF routing otherwise; STR is two window
        ranks (pure JVM)."""
        df = self.points()
        p = self.partitioner
        if isinstance(p, (FixedGridPartitioner, MortonPartitioner)):
            expr = p.assign_sql("x", "y") if isinstance(p, MortonPartitioner) else p.assign_sql("x")
            return df.withColumn("cell_id", F.expr(expr))
        if isinstance(p, STRPartitioner):
            # two chained rankings with NO unpartitioned window: the global
            # (x, y, pid) rank is bucketed two-phase (operators/ranking.py)
            # so no single task ever sees the full row set
            from .operators.ranking import str_cell_ids
            cells_per_slice = math.ceil(p.slice_cap / p.leaf)
            return str_cell_ids(df, "pid", p.slice_cap, p.leaf, cells_per_slice)
        spec = p.to_spec()

        def route(it):
            part = Partitioner.from_spec(spec)
            for pdf in it:
                pdf = pdf.copy()
                pdf["cell_id"] = part.assign_np(pdf["x"].to_numpy(), pdf["y"].to_numpy())
                yield pdf

        return df.mapInPandas(route, schema="pid bigint, x double, y double, cell_id bigint")

    def assigned_points(self) -> DataFrame:
        """:meth:`assignment`, hash-partitioned by cell_id and persisted.

        Every probe job (groupBy(cell_id).applyInPandas) reuses this
        partitioning with a sort only — no per-query re-shuffle (verified
        in the physical plan); cell_id is also the Iceberg/parquet
        partition key at materialization time.  The first action (the
        stats job at build) fills the persisted table, and every later
        query reads it instead of re-scanning the source, re-parsing and
        re-shuffling; the points stay consistent with the stats and
        models, which are build-time snapshots too.  A local checkpoint
        cuts the source lineage under it, so query plans (and their SQL
        metrics) show a scan of checkpointed rows rather than the source
        scan of the build; those rows live in the executors' block
        managers, like the persisted table."""
        if self._assigned is None:
            n_shuffle = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
            self._assigned = (self.assignment().localCheckpoint(eager=False)
                              .repartition(n_shuffle, "cell_id").persist())
        return self._assigned

    def cell_stats(self) -> CellStats:
        """Per-cell MBR + count (one aggregation job; the model/stats table
        of SURVEY.md §2.5 — O(#cells), broadcastable)."""
        if self._stats is not None:
            return self._stats
        rows = (
            self.assigned_points()
            .groupBy("cell_id")
            .agg(
                F.min("x").alias("minx"), F.min("y").alias("miny"),
                F.max("x").alias("maxx"), F.max("y").alias("maxy"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .collect()
        )
        rows.sort(key=lambda r: r["cell_id"])
        self._stats = CellStats(
            ids=np.asarray([r["cell_id"] for r in rows], dtype=np.int64),
            minx=np.asarray([r["minx"] for r in rows]),
            miny=np.asarray([r["miny"] for r in rows]),
            maxx=np.asarray([r["maxx"] for r in rows]),
            maxy=np.asarray([r["maxy"] for r in rows]),
            count=np.asarray([r["cnt"] for r in rows], dtype=np.int64),
        )
        if isinstance(self.partitioner, STRPartitioner) and not self.partitioner.mbrs:
            s = self._stats
            self.partitioner.mbrs = [
                [int(s.ids[i]), float(s.minx[i]), float(s.miny[i]), float(s.maxx[i]), float(s.maxy[i])]
                for i in range(s.ids.shape[0])
            ]
        return self._stats

    def salted_points(self) -> DataFrame:
        """assigned points + ``salt`` column: 0 for normal cells; skewed
        cells (count > salt_rows) split into ceil(count/salt_rows) salts via
        pmod(hash(pid), k) — deterministic, uniform.  FixedGrid/Quadtree
        cells are count-skewed by construction (SURVEY.md §2.3 skew note)."""
        df = self.assigned_points()
        if not self.salt_rows:
            return df.withColumn("salt", F.lit(0))
        s = self.cell_stats()
        big = {int(c): int(math.ceil(n / self.salt_rows))
               for c, n in zip(s.ids, s.count) if n > self.salt_rows}
        if not big:
            return df.withColumn("salt", F.lit(0))
        mapping = F.create_map(*[F.lit(v) for kv in big.items() for v in kv])
        k = F.coalesce(mapping[F.col("cell_id")], F.lit(1))
        return df.withColumn("salt", F.pmod(F.hash("pid"), k))

    def _probe_groups(self, candidate_cells=None) -> tuple[DataFrame, list[str]]:
        """Probe input + grouping keys.  ``candidate_cells`` prunes the
        scan JVM-side BEFORE any Python worker sees a row — the in-session
        analog of the tiled engine's partition pruning (the reference's
        LookUp routing): a one-rect query feeds only its few candidate
        cells through Arrow, not the whole corpus.  The filter preserves
        the cached hash-partitioning on cell_id, so the probe still runs
        without a fresh exchange."""
        df, keys = ((self.salted_points(), ["cell_id", "salt"]) if self.salt_rows
                    else (self.assigned_points(), ["cell_id"]))
        if candidate_cells is not None:
            # selectivity gate: a broad batch workload that routes to most
            # cells gains nothing from the filter but still pays a full
            # InSet scan of the corpus — only prune when the candidate set
            # is actually selective
            total = max(1, self.partitioner.num_cells())
            cells = [int(c) for c in candidate_cells]
            if len(cells) < 0.5 * total:
                if len(cells) <= ISIN_MAX_CELLS:
                    df = df.where(F.col("cell_id").isin(cells))
                else:
                    # a 100 TB corpus at partition_size=8000 has ~10^7
                    # cells; a selective batch can still route to 10^5+ —
                    # as InSet literals that many constants bloat the plan
                    # (analysis/codegen cost grows with the literal list),
                    # so large sets prune via a broadcast LEFT SEMI join
                    # instead.  BroadcastHashJoin preserves the probe
                    # side's cached hash-partitioning on cell_id, so the
                    # downstream applyInPandas still runs exchange-free.
                    cdf = qp.local_frame(self.spark, {"cell_id": np.asarray(cells, dtype=np.int64)},
                                         "cell_id bigint")
                    df = df.join(F.broadcast(cdf), "cell_id", "left_semi")
        return df, keys

    def model_table(self) -> DataFrame:
        """Fit the per-cell learned models ONCE as a DataFrame job (the
        SplineCell::Build analog, Spline.hpp:18-53): one applyInPandas pass
        emits (cell_id, n, linear_scan, knot_keys, knot_pos, avg_err,
        max_err) — the error columns are the reference's per-spline model
        quality metrics (SplineUtil.h:25-52).  O(#cells x #knots) — small,
        broadcastable, and the natural checkpoint/lineage artifact
        (SURVEY.md §3 step 4)."""
        def fit(key, pdf: pd.DataFrame) -> pd.DataFrame:
            ys = np.sort(pdf["y"].to_numpy())
            m = spl.fit_cell_model(ys)
            return pd.DataFrame([{
                "cell_id": int(key[0]), "n": m["n"], "linear_scan": m["linear_scan"],
                "knot_keys": m["knot_keys"], "knot_pos": m["knot_pos"],
                "avg_err": m["avg_err"], "max_err": m["max_err"],
            }])
        return self.assigned_points().groupBy("cell_id").applyInPandas(
            fit, schema=("cell_id bigint, n bigint, linear_scan boolean, "
                         "knot_keys array<double>, knot_pos array<double>, "
                         "avg_err double, max_err double"))

    def fit_models(self) -> dict[int, tuple[np.ndarray, np.ndarray]]:
        """Collect the model table into a broadcastable dict so learned
        probes reuse knots instead of refitting per query batch."""
        if self._models is None:
            rows = self.model_table().collect()
            self._models = {
                int(r["cell_id"]): (np.asarray(r["knot_keys"]), np.asarray(r["knot_pos"]))
                for r in rows if not r["linear_scan"]
            }
        return self._models

    def _models_broadcast(self):
        """Broadcast handle for the pre-fit model dict: shipping it via the
        probe closure would re-serialize O(#cells x knots) into EVERY
        task of every probe job (tiled.py ships its model table the same
        way)."""
        if self._models is None:
            return None
        if getattr(self, "_models_bc", None) is None:
            self._models_bc = self.spark.sparkContext.broadcast(self._models)
        return self._models_bc

    # -------------------------------------------------- candidate pruning ---

    def _candidates(self, rects_arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Flat (cell, query index) candidate pairs of an (N, 4) rectangle
        batch (driver-side LookUp routing, SURVEY.md §2.3).  STR routes by
        cell MBRs, which the stats job fills."""
        if isinstance(self.partitioner, STRPartitioner):
            self.cell_stats()
        return qp.candidates(self.partitioner, rects_arr)

    def _probe(self, probe, schema: str, cells: np.ndarray) -> DataFrame:
        """Run a ``queryplan`` probe once per candidate cell group (one
        Python stage; the cached cell partitioning means no exchange).  A
        cell with no routed query yields an empty typed frame."""
        empty = pd.DataFrame({c.split()[0]: pd.Series(
            dtype="int64" if c.split()[1] == "bigint" else "float64")
            for c in schema.split(", ")})

        def run(key, pdf):
            out = probe(int(key[0]), pdf)
            return empty if out is None else out

        gdf, keys = self._probe_groups(cells)
        return gdf.groupBy(*keys).applyInPandas(run, schema=schema)

    # ---------------------------------------------------------- range Qs ---

    def _range_probe(self, qids: np.ndarray, q: np.ndarray, routing: tuple,
                     materialize: bool) -> DataFrame:
        # pre-fit knots index the FULL cell's sorted order — unusable for
        # salted sub-groups, so fall back to in-probe fit when salting;
        # shipped as a broadcast, not a closure capture (O(#cells) payload)
        models_bc = self._models_broadcast() if not self.salt_rows else None
        probe = qp.range_probe(self.spark.sparkContext.broadcast((routing, q, qids)),
                               "pid" if materialize else None,
                               refine=self.refine, models_bc=models_bc)
        schema = ("query_id bigint, pid bigint, x double, y double" if materialize
                  else "query_id bigint, cnt bigint")
        return self._probe(probe, schema, routing[0])

    def range_count(self, rects: list[tuple]) -> DataFrame:
        """Q2 range count (src/main.cpp:134-191): (query_id, cnt) with 0 for
        empty queries.

        The reference's fully-contained-cell shortcut (Spline.hpp:67-75)
        is applied at the ROUTING level: a candidate cell whose data bbox
        lies inside the query rectangle contributes its cached count from
        the O(#cells) stats table with no data touched; only boundary
        cells enter the distributed probe.  For broad rectangles this
        removes most of the scan (a whole-domain query probes nothing)."""
        s = self.cell_stats()  # also fills STR MBRs for cells_for_rect
        qids, q = qp.rects_np(rects)
        base, boundary = probes.route_contained(
            q, *self._candidates(q), s.ids, s.minx, s.miny, s.maxx, s.maxy, s.count)
        parts = self._range_probe(qids, q, boundary, materialize=False)
        return qp.sum_by(self.spark, "query_id", qids, base, parts)

    def range_materialize(self, rects: list[tuple]) -> DataFrame:
        """Q1 range materialize (src/main.cpp:101-132): all (query_id, pid,
        x, y) hits; order unspecified (validation sorts, src/main.cpp:200)."""
        qids, q = qp.rects_np(rects)
        routing = probes.compact_routing(*self._candidates(q))
        return self._range_probe(qids, q, routing, materialize=True)

    # ------------------------------------------------------- point lookup ---

    def point_lookup(self, pts: list[tuple]) -> DataFrame:
        """Q3 point lookup (src/main.cpp:416-450), canonical fetch-one =
        min(pid) among exact matches; misses -> pid = -1.  Entirely JVM:
        a broadcast equality join of the cached cell table against the
        (query, candidate cell) frame."""
        qids, q = qp.points_np(pts)
        cells, qi = self._candidates(q)
        qdf = qp.local_frame(
            self.spark, {"query_id": qids[qi], "qx": q[qi, 0], "qy": q[qi, 1],
                         "cell_id": cells},
            "query_id bigint, qx double, qy double, cell_id bigint")
        hits = (self.assigned_points().join(F.broadcast(qdf), "cell_id")
                .where((F.col("x") == F.col("qx")) & (F.col("y") == F.col("qy")))
                .select("query_id", "pid"))
        return qp.min_by(self.spark, qids, hits, "pid", "bigint", miss=-1)

    # ----------------------------------------------------------- distance ---

    def distance_count(self, circles: list[tuple]) -> DataFrame:
        """Q4 radius query (src/main.cpp:360-414): candidate filter via the
        Matuschek circle bbox (conservative, SURVEY.md §7.3(c)) through the
        same cell pruning, refine = haversine(radians) <= r inclusive
        (include/queries/distance.h:36-45).  Returns (query_id, cnt)."""
        return self._distance_probe(circles, materialize=False)

    def distance_materialize(self, circles: list[tuple]) -> DataFrame:
        """Q4 radius query, materializing form: the reference's live path
        materializes the refined hit vector before counting
        (src/main.cpp:382-397) — this returns those rows as
        (query_id, pid)."""
        return self._distance_probe(circles, materialize=True)

    def _distance_probe(self, circles: list[tuple], materialize: bool) -> DataFrame:
        qids, rects, lat, lon, rad = qp.circle_rects(circles)
        routing = probes.compact_routing(*self._candidates(rects))
        bc = self.spark.sparkContext.broadcast((routing, qids, lat, lon, rad))
        if materialize:
            return self._probe(qp.distance_probe(bc, "pid"), "query_id bigint, pid bigint",
                               routing[0])
        parts = self._probe(qp.distance_probe(bc), "query_id bigint, cnt bigint", routing[0])
        return qp.sum_by(self.spark, "query_id", qids, np.zeros(qids.size), parts)

    # ----------------------------------------------------------- PIP join ---

    def pip(self, polygons: dict[int, tuple[list[float], list[float]]], pairs: bool = False) -> DataFrame:
        """Q5 point-in-polygon join (src/main.cpp:452-505): per-polygon
        contained counts, or the (polygon_id, pid) pairs when ``pairs``.
        Polygons broadcast; candidate cells from each polygon's bbox; refine
        = exact reference ray cast (include/queries/join.h:30-37),
        engine-side kernel (operators/probes.py)."""
        gids, rects, polys = qp.polygon_rects(polygons)
        routing = probes.compact_routing(*self._candidates(rects))
        bc = self.spark.sparkContext.broadcast((routing, gids, polys))
        if pairs:
            return self._probe(qp.pip_probe(bc, "pid"), "polygon_id bigint, pid bigint",
                               routing[0])
        parts = self._probe(qp.pip_probe(bc), "polygon_id bigint, cnt bigint", routing[0])
        return qp.sum_by(self.spark, "polygon_id", gids, np.zeros(gids.size), parts)

    # ---------------------------------------------------------------- kNN ---

    def knn(self, queries: list[tuple]) -> DataFrame:
        """kNN (new surface, SURVEY.md §2.4): squared-Euclidean degree-space
        top-k, ties (d2, x, y, pid).  Driver prunes cells with the stats
        table: take cells ascending by bbox-min-d2 until their counts cover
        k, bound R = max bbox-max-d2 of that prefix, probe all cells with
        min-d2 <= R — exact, and at scale only O(k/cell_size) cells probe.
        Local per-cell top-k inside the probe; global top-k via window."""
        s = self.cell_stats()
        routing = probes.compact_routing(*probes.knn_candidate_cells(
            s.ids, s.minx, s.miny, s.maxx, s.maxy, s.count, queries))
        qids, q = qp.knn_np(queries)
        parts = self._probe(
            qp.knn_probe(self.spark.sparkContext.broadcast((routing, qids, q)), "pid"),
            "query_id bigint, pid bigint, d2 double, px double, py double, k bigint",
            routing[0])
        # global top-k: row_number over each query's partials.  The window
        # needs the same query_id exchange + sort a per-query merge pays,
        # and keeps the merge in the JVM: no second Python stage
        return qp.knn_rank(parts, "pid")

    # ----------------------------------------------------- tile assignment ---

    def tile_assignment(self) -> DataFrame:
        """Raster<->vector tile assignment output: (pid, cell_id) — the
        point->tile mapping the north rule requires as a parity artifact
        (SURVEY.md §2.4)."""
        return self.assigned_points().select("pid", "cell_id")

    def polygon_tiles(self, polygons: dict[int, tuple[list[float], list[float]]]) -> DataFrame:
        """polygon -> candidate tile set (the Q5 filter mapping as data)."""
        gids, rects, _ = qp.polygon_rects(polygons)
        cells, qi = self._candidates(rects)
        return qp.local_frame(self.spark, {"polygon_id": gids[qi], "cell_id": cells},
                              "polygon_id bigint, cell_id bigint")
