"""Numpy reference for geo/pip.pip_join: the even-odd ray-cast over whole
rings, with no cells, bands or Spark."""

from __future__ import annotations

import numpy as np


def ray_cast_batch(px: np.ndarray, py: np.ndarray,
                   vx: np.ndarray, vy: np.ndarray) -> np.ndarray:
    """Crossing-number PIP for a batch of points against ONE polygon ring.

    px/py: (n,) point coords; vx/vy: (m,) ring vertices (first == last is
    fine — the wrap edge is included). Builds an (n, m) crossing matrix.
    Boundary points follow the half-open edge rule (consistent,
    deterministic)."""
    x1, y1 = vx, vy
    x2, y2 = np.roll(vx, -1), np.roll(vy, -1)
    # edge straddles the horizontal line through the point
    py_col = py[:, None]
    px_col = px[:, None]
    straddle = (y1[None, :] > py_col) != (y2[None, :] > py_col)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (py_col - y1[None, :]) / (y2[None, :] - y1[None, :]) * (
            x2[None, :] - x1[None, :]
        )
    crossings = (straddle & (px_col < xint)).sum(axis=1)
    return (crossings % 2) == 1


def pip_reference(points, polygons, fallback):
    """points: [(id, lat, lon)], polygons: [(name, [(lon, lat), ...])] →
    the rows pip_join must return, as a sorted list of (id, name): every
    (point, containing name) pair for ``fallback=None``, else one row per
    point with the greatest containing name or ``fallback``."""
    ids = [p[0] for p in points]
    py = np.array([p[1] for p in points], dtype=np.float64)
    px = np.array([p[2] for p in points], dtype=np.float64)
    inside: dict[str, np.ndarray] = {}
    for name, ring in polygons:
        vx = np.array([v[0] for v in ring], dtype=np.float64)
        vy = np.array([v[1] for v in ring], dtype=np.float64)
        hit = ray_cast_batch(px, py, vx, vy)
        inside[name] = inside.get(name, np.zeros(len(ids), dtype=bool)) | hit
    if fallback is None:
        return sorted((ids[i], name) for name, hit in inside.items()
                      for i in np.flatnonzero(hit))
    return sorted(
        (pid, max((n for n, hit in inside.items() if hit[i]), default=fallback))
        for i, pid in enumerate(ids))
