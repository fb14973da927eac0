"""The benchmark's tile corpus, cached on disk and keyed by code.

The corpus is the engine's deterministic fixture layers on the 256-px
bench grid, generated with ``sources.fixtures.generate_images_df`` and
stored with ``sources.images.write_images_cell_sorted``. The cache key is a
content hash of the engine package source, this file and the generator
parameters, so a change to the encoder or the writer rebuilds the corpus
instead of reading one written by other code.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from gfw_raster_analysis_lambda_spark.functions import grid as G

from .inputs import Extent

GRID = G.GRID_BENCH  # 0.25-deg cells, 256x256-px tiles
LAYERS = ("tcl_year", "tcd_threshold", "is_primary", "alert_date_conf")
NX = NY = 24
X0 = int((0.0 + 180.0) / GRID.tile_deg)  # lon 0
Y0 = int((90.0 - 12.0) / GRID.tile_deg)  # lat 12 top
EXTENT = Extent(X0, Y0, NX, NY, GRID.tile_deg)
PARAMS = f"{GRID.name}|{GRID.index}|{X0}|{Y0}|{NX}x{NY}|{','.join(LAYERS)}"


def source_hash(*roots: str) -> str:
    """sha256 over every ``.py`` file under ``roots`` (path + content)."""
    h = hashlib.sha256()
    for root in roots:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f)
            for d, _dirs, fs in os.walk(root)
            for f in fs
            if f.endswith(".py")
        )
        for path in files:
            h.update(os.path.relpath(path, os.path.dirname(root)).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def cache_key(package_dir: str) -> str:
    h = hashlib.sha256()
    h.update(source_hash(package_dir, os.path.abspath(__file__)).encode())
    h.update(PARAMS.encode())
    return h.hexdigest()[:16]


def ensure(spark, cache_dir: str, package_dir: str) -> tuple[str, bool]:
    """Path of the cached corpus for the current code, building it when
    missing. Returns ``(path, built)``; stale corpora are removed."""
    from gfw_raster_analysis_lambda_spark.sources import fixtures
    from gfw_raster_analysis_lambda_spark.sources.images import write_images_cell_sorted

    name = f"corpus-{cache_key(package_dir)}"
    path = os.path.join(cache_dir, name)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path, False
    os.makedirs(cache_dir, exist_ok=True)
    for old in os.listdir(cache_dir):
        if old.startswith("corpus-"):
            shutil.rmtree(os.path.join(cache_dir, old), ignore_errors=True)
    tmp = f"{path}.tmp"
    df = fixtures.generate_images_df(
        spark, GRID, list(LAYERS), X0, Y0, NX, NY,
        parallelism=spark.sparkContext.defaultParallelism * 2,
    )
    write_images_cell_sorted(df, tmp)
    os.replace(tmp, path)
    return path, True


def corpus_cells() -> set:
    import numpy as np

    xs, ys = np.meshgrid(np.arange(X0, X0 + NX), np.arange(Y0, Y0 + NY))
    return set(np.asarray(G.cell_from_xy(GRID, xs.ravel(), ys.ravel())).tolist())
