"""Output checks. Each returns ``True`` when the engine's output is correct.

The references are independent of the engine's dataflow: zonal results
against ``oracle.run_oracle`` (a single-process numpy re-derivation),
point-in-polygon counts against a brute-force even-odd test written here,
kNN against a brute-force sort, and ingested tiles against the fixture
pixel formulas.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

RTOL = 1e-9


def rows_frame(rows, columns) -> pd.DataFrame:
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=list(columns))


def frames_match(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    """Same columns, same rows in any order; numbers to ``RTOL``."""
    if len(got) == 0 and len(exp) == 0:
        return True
    if list(got.columns) != list(exp.columns) or len(got) != len(exp):
        return False
    cols = list(got.columns)
    g = got.sort_values(cols, kind="mergesort").reset_index(drop=True)
    e = exp.sort_values(cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        if pd.api.types.is_numeric_dtype(e[c]):
            gv = pd.to_numeric(g[c], errors="coerce").to_numpy(dtype=np.float64)
            ev = e[c].to_numpy(dtype=np.float64)
            if not np.allclose(gv, ev, rtol=RTOL, atol=1e-12, equal_nan=True):
                return False
        elif g[c].astype(str).tolist() != e[c].astype(str).tolist():
            return False
    return True


def contains_brute(geom: list, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Even-odd point-in-polygon over every ring of ``geom``, one edge at a
    time (half-open in y, like the GDAL/center convention)."""
    inside = np.zeros(len(lon), dtype=bool)
    for poly in geom:
        for ring in poly:
            r = np.asarray(ring, dtype=np.float64)
            for (x1, y1), (x2, y2) in zip(r, np.roll(r, -1, axis=0)):
                if y1 == y2:
                    continue
                crosses = (y1 <= lat) != (y2 <= lat)
                xc = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
                inside ^= crosses & (xc > lon)
    return inside


def pip_counts_match(got: dict, expected: dict) -> bool:
    """``got`` maps aoi_id -> match count from the engine; every AOI in
    ``expected`` (the checked sample) must agree exactly."""
    return all(got.get(a, 0) == n for a, n in expected.items())


def knn_brute(
    image_ids: np.ndarray, c_lon: np.ndarray, c_lat: np.ndarray,
    q_lon: float, q_lat: float, k: int,
) -> list:
    """The k image ids nearest a query by squared-degree distance to the
    cell centroid, ties broken by image id."""
    d = (q_lon - c_lon) ** 2 + (q_lat - c_lat) ** 2
    order = np.lexsort((image_ids, d))[:k]
    return [str(image_ids[i]) for i in order]


def knn_match(got: dict, expected: dict) -> bool:
    """``got`` maps query_id -> image ids in rank order."""
    return all(got.get(q) == ids for q, ids in expected.items())


def tile_roundtrip(decoded: np.ndarray, truth: np.ndarray) -> bool:
    return decoded.shape == truth.shape and np.array_equal(
        decoded.astype(np.float64), truth.astype(np.float64), equal_nan=True
    )
