"""The two workloads: seeded inputs, one operation, and its checks.

Constructing a workload reads the cached corpus and builds the seeded
inputs the engine receives; ``prepare_checks`` then computes the reference
outputs. Both are part of set-up. ``op(i)`` is one operation of the closed
loop and returns its result; ``check(i, result)`` runs after the
measurement window. Work counts are computed from the inputs, so the timed
loop does nothing but call the engine and collect.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gfw_raster_analysis_lambda_spark import oracle
from gfw_raster_analysis_lambda_spark.functions import codecs
from gfw_raster_analysis_lambda_spark.functions import geometry as geo
from gfw_raster_analysis_lambda_spark.functions import grid as G
from gfw_raster_analysis_lambda_spark.operators.knn import knn_geo
from gfw_raster_analysis_lambda_spark.operators.spatial_join import point_in_polygon_join
from gfw_raster_analysis_lambda_spark.plans.planner import prepare_aoi_index, run_zonal_queries, run_zonal_query
from gfw_raster_analysis_lambda_spark.plans.sql_frontend import parse_raster_sql
from gfw_raster_analysis_lambda_spark.sources import fixtures
from gfw_raster_analysis_lambda_spark.sources.images import (
    images_cell_sorted,
    read_images,
    write_images_cell_sorted,
)

from . import checks, corpus, inputs

GRID = corpus.GRID
EXTENT = corpus.EXTENT
DATA_EXTENT = (corpus.X0, corpus.Y0, corpus.NX, corpus.NY)

# The three canned Raster-SQL queries of a forest-monitoring request.
QUERIES = {
    "loss_by_year": (
        "SELECT tcl_year, SUM(area__ha) AS loss_ha, COUNT(*) AS n FROM tcl_year "
        "WHERE tcd_threshold >= 25 AND is_primary = 'true' GROUP BY tcl_year"
    ),
    "alerts_by_isoweek": (
        "SELECT isoweek(alert_date), COUNT(*) AS n FROM alert_date_conf GROUP BY 1"
    ),
    "loss_x_primary": (
        "SELECT tcl_year, is_primary, SUM(area__ha) AS ha, COUNT(*) AS n FROM data "
        "GROUP BY tcl_year, is_primary"
    ),
}

# Sizes, fixed so both sides of a comparison (and every seed) run the same
# work. The interactive requests are three, one per query, each with its
# own AOI area in cells and shape (``inputs.SHAPES`` by index); the closed
# loop runs whole cycles of them. Batch AOI areas cycle through
# ``BATCH_SIZES`` by index.
INTERACTIVE_SIZES = (1, 4, 64)
BATCH_SIZES = (2, 4, 9, 16, 25)
BATCH_AOIS = 16
BATCH_HOT_FRACTION = 0.25
ORACLE_MAX_CELLS = 4            # the oracle checks batch AOIs up to this size
PIP_POINTS = 10_000
PIP_SAMPLE = 4                  # AOIs whose match counts are checked
KNN_QUERIES = 50
KNN_K = 5
KNN_SAMPLE = 16
INGEST_SIDE = 2                 # 2x2 cells x 4 layers = 16 tiles per batch
INGEST_FILES = 4
INGEST_CHECKED_TILES = 2


def _env():
    return fixtures.fixture_environment(grid=GRID.name)


def _cells(geom) -> set:
    return set(G.polygon_to_cells(GRID, geom).tolist())


def _layers_of(env, q) -> set:
    return set(env.source_layer_names(q.layer_names())) & set(corpus.LAYERS)


class Workload:
    name = ""
    work_unit = ""
    # a batch op runs ~2x steady state cold and ~1.2x the second time
    # (JIT, Python worker start)
    warmup_ops = 2
    cycle = 1  # ops per repeating unit of the op mix

    def __init__(self, spark, tracer, corpus_path: str, run_dir: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.run_dir = run_dir
        self.seed = seed
        self.env = _env()
        self.images = read_images(spark, corpus_path)

    def prepare_checks(self) -> None:
        pass

    def work(self, i: int) -> float:
        raise NotImplementedError

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> bool:
        raise NotImplementedError

    def counts(self, results: list) -> dict:
        """Bench-side counts the traced run's layer metrics divide by;
        ``results`` are (op index, result) of the ops that returned."""
        return {}


class InteractiveAoi(Workload):
    """One client, closed loop: each request is parse -> plan -> execute ->
    collect for one AOI, cycling through the three queries."""

    name = "interactive_aoi"
    work_unit = "requests"
    cycle = len(QUERIES)
    # two cycles: a request runs ~6x steady state cold, and the cycle after
    # the first still runs ~1.1-1.2x (JIT, Python worker start)
    warmup_ops = 2 * cycle

    def __init__(self, *a):
        super().__init__(*a)
        aois = inputs.aoi_batch(self.seed, EXTENT, INTERACTIVE_SIZES, prefix="req")
        self.requests = [
            (aid, geo.wkb_dumps(g), qname) for (aid, g, _s), qname in zip(aois, QUERIES)
        ]
        self.parsed = {n: parse_raster_sql(s, self.env) for n, s in QUERIES.items()}
        cells_in = corpus.corpus_cells()
        self._n_cells, self._useful = [], []
        for aid, g, _s in aois:
            c = _cells(g)
            self._n_cells.append(len(c))
            self._useful.append(len(c & cells_in))

    def prepare_checks(self):
        self.expected = [
            oracle.run_oracle(
                self.parsed[qname], self.env, [(aoi_id, wkb)], grid=GRID, data_extent=DATA_EXTENT
            )
            for aoi_id, wkb, qname in self.requests
        ]

    def _req(self, i):
        return self.requests[i % self.cycle]

    def work(self, i):
        return 1

    def op(self, i):
        aoi_id, wkb, qname = self._req(i)
        tr, spark = self.tr, self.spark
        with tr.span("request"):
            with tr.span("sql_frontend.parse_raster_sql"):
                q = parse_raster_sql(QUERIES[qname], self.env)
            with tr.span("input.aoi_frame"):
                aoi_df = spark.createDataFrame([(aoi_id, wkb)], fixtures.AOI_SCHEMA)
            with tr.span("planner.run_zonal_query"):
                df = run_zonal_query(spark, self.images, aoi_df, q, self.env, GRID.name)
            with tr.span("action.collect"):
                rows = df.collect()
        return df.columns, rows

    def check(self, i, result):
        return checks.frames_match(
            checks.rows_frame(result[1], result[0]), self.expected[i % self.cycle]
        )

    def counts(self, results):
        return {
            "aoi_cell_rows": sum(self._n_cells[i % self.cycle] for i, _r in results),
            "useful_tiles": sum(
                self._useful[i % self.cycle]
                * len(_layers_of(self.env, self.parsed[self._req(i)[2]]))
                for i, _r in results
            ),
            "salted_cells": 0,
        }


class ZonalBatch:
    """The AOI list through ``prepare_aoi_index`` + the fused three-query
    pass (``run_zonal_queries``, what ``zonal_statistics_multi`` runs),
    all results collected."""

    def __init__(self, w: Workload, aois: list, rows: list, aoi_df):
        self.w = w
        self.rows = rows
        self.aoi_df = aoi_df
        cells = [_cells(g) for _aid, g, _s in aois]
        self.tile_tasks = sum(len(c) for c in cells)
        parsed = {n: parse_raster_sql(s, w.env) for n, s in QUERIES.items()}
        layers = set().union(*(_layers_of(w.env, q) for q in parsed.values()))
        self.useful_tiles = len(set().union(*cells) & corpus.corpus_cells()) * len(layers)
        self.parsed = parsed
        self.salted = 0

    def prepare_checks(self):
        # a seeded sample: one hotspot AOI and one other, among the small
        # ones (the oracle regenerates every pixel in numpy)
        rng = np.random.default_rng(self.w.seed + 1)
        n_hot = int(BATCH_AOIS * BATCH_HOT_FRACTION)
        small = [k for k in range(BATCH_AOIS) if BATCH_SIZES[k % len(BATCH_SIZES)] <= ORACLE_MAX_CELLS]
        pick = [
            int(rng.choice([k for k in small if k < n_hot])),
            int(rng.choice([k for k in small if k >= n_hot])),
        ]
        self.sample = [self.rows[k] for k in pick]
        self.expected = {
            n: oracle.run_oracle(q, self.w.env, self.sample, grid=GRID, data_extent=DATA_EXTENT)
            for n, q in self.parsed.items()
        }

    def run(self):
        tr, spark, env = self.w.tr, self.w.spark, self.w.env
        with tr.span("sql_frontend.parse_raster_sql"):
            queries = {n: parse_raster_sql(s, env) for n, s in QUERIES.items()}
        with tr.span("planner.prepare_aoi_index"):
            idx = prepare_aoi_index(spark, self.aoi_df, GRID.name)
        with tr.span("planner.run_zonal_queries"):
            res = run_zonal_queries(
                spark, self.w.images, self.aoi_df, queries, env, GRID.name, aoi_index=idx
            )
        with tr.span("action.collect") as sp:
            got = {}

            def collect(df):
                if sp is not None:  # a pool thread: tag its jobs too
                    spark.sparkContext.setJobGroup(str(sp[0]), sp[2])
                got[id(df)] = df.collect()

            res.materialize(writer=collect)
            out = {n: (df.columns, got[id(df)]) for n, df in res.items()}
        with tr.span("action.release"):
            res.close()
            self.salted = len(idx.salted)
            idx.unpersist()
        return out

    def check(self, result) -> bool:
        ids = {a for a, _w in self.sample}
        for n, exp in self.expected.items():
            cols, rows = result[n]
            got = checks.rows_frame(rows, cols)
            got = got[got["aoi_id"].isin(ids)].reset_index(drop=True)
            if not checks.frames_match(got, exp):
                return False
        return True


class VectorJoin:
    """Seeded alert points (clustered + uniform) through
    ``point_in_polygon_join`` against the AOI list, then ``knn_geo`` for
    seeded query points over the corpus tiles. No tile is decoded."""

    def __init__(self, w: Workload, aois: list, aoi_df):
        self.w = w
        self.aois = aois
        self.aoi_df = aoi_df
        spark = w.spark
        pid, self.lon, self.lat = inputs.alert_points(w.seed, EXTENT, PIP_POINTS)
        pts_path = os.path.join(w.run_dir, "points.parquet")
        pq.write_table(pa.table({"point_id": pid, "lon": self.lon, "lat": self.lat}), pts_path)
        self.points = spark.read.parquet(pts_path)
        _qid, self.qlon, self.qlat = inputs.knn_queries(w.seed + 7, EXTENT, KNN_QUERIES)
        self.queries = spark.createDataFrame(
            pd.DataFrame({"query_id": _qid, "lon": self.qlon, "lat": self.qlat})
        )

    def prepare_checks(self):
        rng = np.random.default_rng(self.w.seed + 2)
        self.pip_expected = {}
        for k in rng.choice(len(self.aois), PIP_SAMPLE, replace=False):
            aid, g, _s = self.aois[int(k)]
            self.pip_expected[aid] = int(checks.contains_brute(g, self.lon, self.lat).sum())
        ids, cx, cy = _centroids()
        self.knn_expected = {
            int(q): checks.knn_brute(ids, cx, cy, float(self.qlon[q]), float(self.qlat[q]), KNN_K)
            for q in rng.choice(KNN_QUERIES, KNN_SAMPLE, replace=False)
        }

    def run(self):
        tr = self.w.tr
        with tr.span("spatial_join.point_in_polygon_join"):
            joined = point_in_polygon_join(self.points, self.aoi_df, GRID.name)
        with tr.span("action.collect"):
            counts = {r[0]: r[1] for r in joined.groupBy("aoi_id").count().collect()}
        with tr.span("knn.knn_geo"):
            nn = knn_geo(self.w.images, self.queries, KNN_K, grid_name=GRID.name)
        with tr.span("action.collect"):
            rows = nn.select("query_id", "image_id", "rank").collect()
        got_knn: dict = {}
        for q, iid, _rank in sorted(rows, key=lambda r: (r[0], r[2])):
            got_knn.setdefault(int(q), []).append(iid)
        return counts, got_knn, len(rows)

    def check(self, result) -> bool:
        counts, got_knn, _n = result
        return checks.pip_counts_match(counts, self.pip_expected) and checks.knn_match(
            got_knn, self.knn_expected
        )


def _centroids():
    """Every corpus image id with its cell centroid (knn_geo's metric)."""
    td = GRID.tile_deg
    ids, xs, ys = [], [], []
    for layer in corpus.LAYERS:
        for y in range(corpus.Y0, corpus.Y0 + corpus.NY):
            for x in range(corpus.X0, corpus.X0 + corpus.NX):
                ids.append(fixtures.image_id_for(layer, int(G.cell_from_xy(GRID, x, y))))
                xs.append(x)
                ys.append(y)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    return np.asarray(ids), (-180.0 + xs * td) + td / 2.0, (90.0 - ys * td) - td / 2.0


class IngestTiles:
    """The write path: a seeded window of new tiles encoded and phashed on
    executors (``generate_images_df``) and stored by
    ``write_images_cell_sorted``."""

    def __init__(self, w: Workload):
        self.w = w
        self.out_dir = os.path.join(w.run_dir, "ingest")
        self.rng_seed = w.seed + 3
        self.tiles = INGEST_SIDE * INGEST_SIDE * len(corpus.LAYERS)
        px = GRID.chunk_px * GRID.chunk_px
        self.raw_bytes = sum(
            INGEST_SIDE * INGEST_SIDE * px * np.dtype(w.env.get_layer(l).dtype).itemsize
            for l in corpus.LAYERS
        )

    def window(self, i):
        rng = np.random.default_rng([self.rng_seed, i % 1_000_000])
        return (
            corpus.X0 + int(rng.integers(corpus.NX - INGEST_SIDE + 1)),
            corpus.Y0 + int(rng.integers(corpus.NY - INGEST_SIDE + 1)),
        )

    def run(self, i):
        x0, y0 = self.window(i)
        path = os.path.join(self.out_dir, f"batch{i:+06d}")
        tr = self.w.tr
        with tr.span("fixtures.generate_images_df"):
            df = fixtures.generate_images_df(
                self.w.spark, GRID, list(corpus.LAYERS), x0, y0, INGEST_SIDE, INGEST_SIDE
            )
        with tr.span("images.write_images_cell_sorted"):
            write_images_cell_sorted(df, path, n_files=INGEST_FILES)
        return path

    @staticmethod
    def stored_bytes(path) -> int:
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if not f.startswith(("_", "."))
        )

    def check(self, i, path) -> bool:
        """Layout sidecar present, every tile stored, and seeded tiles
        decode back to the fixture pixels."""
        if not images_cell_sorted(path):
            return False
        x0, y0 = self.window(i)
        table = pq.read_table(path, columns=["image_id", "bytes", "w", "h", "fmt"]).to_pandas()
        if len(table) != self.tiles:
            return False
        rng = np.random.default_rng([self.rng_seed, i % 1_000_000, 1])
        for _ in range(INGEST_CHECKED_TILES):
            layer = corpus.LAYERS[int(rng.integers(len(corpus.LAYERS)))]
            x = x0 + int(rng.integers(INGEST_SIDE))
            y = y0 + int(rng.integers(INGEST_SIDE))
            row = table[table["image_id"] == fixtures.image_id_for(layer, int(G.cell_from_xy(GRID, x, y)))]
            if len(row) != 1:
                return False
            r = row.iloc[0]
            arr = codecs.decode_tile(bytes(r["bytes"]), int(r["w"]), int(r["h"]), str(r["fmt"]))
            truth = fixtures.tile_array(layer, x, y, GRID.chunk_px).astype(self.w.env.get_layer(layer).dtype)
            if not checks.tile_roundtrip(arr, truth):
                return False
        return True


class BatchPipeline(Workload):
    """The batch caller: one request over a seeded AOI list (a quarter
    stacked on one hotspot). It ingests a new tile window, runs the three
    queries over the list in one fused zonal pass, joins alert points to
    the list and looks up the nearest tiles of query points."""

    name = "batch_pipeline"
    work_unit = "(aoi, cell) tile-tasks"

    def __init__(self, *a):
        super().__init__(*a)
        sizes = [BATCH_SIZES[k % len(BATCH_SIZES)] for k in range(BATCH_AOIS)]
        aois = inputs.aoi_batch(
            self.seed, EXTENT, sizes, hot_fraction=BATCH_HOT_FRACTION, prefix="batch"
        )
        rows = [(aid, geo.wkb_dumps(g)) for aid, g, _s in aois]
        aoi_df = self.spark.createDataFrame(rows, fixtures.AOI_SCHEMA)
        self.ingest = IngestTiles(self)
        self.zonal = ZonalBatch(self, aois, rows, aoi_df)
        self.vector = VectorJoin(self, aois, aoi_df)

    def prepare_checks(self):
        self.zonal.prepare_checks()
        self.vector.prepare_checks()

    def work(self, i):
        return self.zonal.tile_tasks

    def op(self, i):
        with self.tr.span("batch"):
            return self.ingest.run(i), self.zonal.run(), self.vector.run()

    def check(self, i, result):
        ingested, zonal, vector = result
        return (
            self.ingest.check(i, ingested)
            and self.zonal.check(zonal)
            and self.vector.check(vector)
        )

    def counts(self, results):
        return {
            "aoi_cell_rows": self.zonal.tile_tasks * len(results),
            "useful_tiles": self.zonal.useful_tiles * len(results),
            "salted_cells": self.zonal.salted * len(results),
            "matches": sum(sum(r[2][0].values()) for _i, r in results),
            "knn_results": sum(r[2][2] for _i, r in results),
            "bytes_written": sum(IngestTiles.stored_bytes(r[0]) for _i, r in results),
            "raw_bytes": self.ingest.raw_bytes * len(results),
        }


WORKLOADS = {w.name: w for w in (InteractiveAoi, BatchPipeline)}
