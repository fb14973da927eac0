"""Seeded input generators: AOIs, alert points and kNN query points.

Everything here is a pure function of ``(seed, extent)``; the engine only
ever sees the generated values. Geometry is built in the engine's own
geometry model (a list of polygons, each a list of ``(N, 2)`` rings) so it
serializes with ``functions.geometry.wkb_dumps``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

SHAPES = ("box", "many_vertex", "concave_hole")
AOI_INSET = 0.05  # share of a cell between an AOI's edge and its block's
ALERT_CLUSTERS = 8
ALERT_CLUSTERED_FRACTION = 0.7


@dataclass(frozen=True)
class Extent:
    """A block of grid cells: x in [x0, x0+nx), y in [y0, y0+ny) on a grid
    whose cells are ``tile_deg`` degrees wide."""

    x0: int
    y0: int
    nx: int
    ny: int
    tile_deg: float

    @property
    def lon0(self) -> float:
        return -180.0 + self.x0 * self.tile_deg

    @property
    def lat_top(self) -> float:
        return 90.0 - self.y0 * self.tile_deg

    @property
    def lon1(self) -> float:
        return self.lon0 + self.nx * self.tile_deg

    @property
    def lat_bottom(self) -> float:
        return self.lat_top - self.ny * self.tile_deg


def _box_ring(x1, y1, x2, y2) -> np.ndarray:
    return np.array([[x1, y1], [x2, y1], [x2, y2], [x1, y2]], dtype=np.float64)


def _star_ring(cx, cy, rx, ry, n, rng) -> np.ndarray:
    """A many-vertex ring: an ellipse with seeded radial jitter (star-ish,
    concave in places)."""
    t = np.linspace(0.0, 2.0 * np.pi, n, endpoint=False)
    r = 1.0 - 0.25 * rng.random(n)
    return np.column_stack([cx + rx * r * np.cos(t), cy + ry * r * np.sin(t)])


def _concave_with_hole(x1, y1, x2, y2) -> list:
    """A C-shaped polygon (concave notch on the east side) with a square
    hole in its western arm."""
    w, h = x2 - x1, y2 - y1
    outer = np.array(
        [
            [x1, y1], [x2, y1], [x2, y1 + 0.3 * h], [x1 + 0.55 * w, y1 + 0.3 * h],
            [x1 + 0.55 * w, y1 + 0.7 * h], [x2, y1 + 0.7 * h], [x2, y2], [x1, y2],
        ],
        dtype=np.float64,
    )
    hole = _box_ring(x1 + 0.1 * w, y1 + 0.4 * h, x1 + 0.3 * w, y1 + 0.6 * h)
    return [[outer, hole]]


def make_geometry(shape: str, x1, y1, x2, y2, rng) -> list:
    if shape == "box":
        return [[_box_ring(x1, y1, x2, y2)]]
    if shape == "many_vertex":
        n = int(rng.integers(64, 257))
        return [[_star_ring((x1 + x2) / 2, (y1 + y2) / 2, (x2 - x1) / 2, (y2 - y1) / 2, n, rng)]]
    if shape == "concave_hole":
        return _concave_with_hole(x1, y1, x2, y2)
    raise ValueError(f"unknown shape {shape!r}")


def aoi_batch(
    seed: int,
    extent: Extent,
    sizes: list,
    hot_fraction: float = 0.0,
    prefix: str = "aoi",
) -> list:
    """One AOI per entry of ``sizes`` (its area in cells), as
    ``(aoi_id, geometry, shape)``.

    The operation mix is a function of the index, not of the seed: AOI
    ``k`` spans a block of ``ceil(sqrt(sizes[k]))`` x
    ``ceil(sizes[k] / ceil(sqrt(sizes[k])))`` cells and has shape
    ``SHAPES[k % 3]`` (box, many-vertex polygon, concave polygon with a
    hole). Its edges sit ``AOI_INSET`` of a cell inside the block, so the
    AOI is not grid-snapped yet touches the same number of cells wherever
    it is placed: every seed gives a run the same amount of work. The seed
    sets the blocks' positions and the vertex counts and edge jitter of
    the many-vertex polygons. The first ``hot_fraction`` of the AOIs are
    stacked on one hotspot block to build a skewed batch; the rest are
    placed uniformly inside the extent."""
    rng = np.random.default_rng(seed)
    td = extent.tile_deg
    n = len(sizes)
    n_hot = int(n * hot_fraction)
    hot = (int(rng.integers(extent.nx // 4)), int(rng.integers(extent.ny // 4)))
    out = []
    for k, cells in enumerate(sizes):
        cw = int(np.ceil(np.sqrt(cells)))
        ch = int(np.ceil(cells / cw))
        if k < n_hot:
            cx, cy = hot
        else:
            cx = int(rng.integers(extent.nx - cw + 1))
            cy = int(rng.integers(extent.ny - ch + 1))
        x1 = extent.lon0 + (cx + AOI_INSET) * td
        y2 = extent.lat_top - (cy + AOI_INSET) * td
        x2 = x1 + (cw - 2 * AOI_INSET) * td
        y1 = y2 - (ch - 2 * AOI_INSET) * td
        shape = SHAPES[k % len(SHAPES)]
        out.append((f"{prefix}_{k:05d}", make_geometry(shape, x1, y1, x2, y2, rng), shape))
    return out


def alert_points(seed: int, extent: Extent, n: int) -> tuple:
    """Alert points ``(point_id, lon, lat)`` as numpy arrays: a clustered
    share drawn from Gaussian blobs (deforestation alerts arrive in
    patches) plus a uniform background, clipped to the extent."""
    rng = np.random.default_rng(seed)
    td = extent.tile_deg
    n_clusters = ALERT_CLUSTERS
    n_cl = int(n * ALERT_CLUSTERED_FRACTION)
    centers = np.column_stack([
        extent.lon0 + td + rng.random(n_clusters) * (extent.nx - 2) * td,
        extent.lat_bottom + td + rng.random(n_clusters) * (extent.ny - 2) * td,
    ])
    which = rng.integers(n_clusters, size=n_cl)
    spread = td * (0.3 + 1.2 * rng.random(n_clusters))
    cl = centers[which] + rng.normal(size=(n_cl, 2)) * spread[which, None]
    un = np.column_stack([
        extent.lon0 + rng.random(n - n_cl) * extent.nx * td,
        extent.lat_bottom + rng.random(n - n_cl) * extent.ny * td,
    ])
    pts = np.vstack([cl, un])
    eps = td * 1e-6
    lon = np.clip(pts[:, 0], extent.lon0 + eps, extent.lon1 - eps)
    lat = np.clip(pts[:, 1], extent.lat_bottom + eps, extent.lat_top - eps)
    return np.arange(n, dtype=np.int64), lon, lat


def knn_queries(seed: int, extent: Extent, n: int) -> tuple:
    """kNN query points ``(query_id, lon, lat)``, uniform over the extent."""
    rng = np.random.default_rng(seed)
    td = extent.tile_deg
    lon = extent.lon0 + rng.random(n) * extent.nx * td
    lat = extent.lat_bottom + rng.random(n) * extent.ny * td
    return np.arange(n, dtype=np.int64), lon, lat
