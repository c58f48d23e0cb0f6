"""Point-in-polygon join, decided in the JVM by classifying geocells.

Replaces the reference's GeoPandas sjoin (scripts/02_extract_alkis.py:820-837,
point-in-district assignment with a left-join fallback name) without shapely
and without a Python stage: the plan never crosses the Arrow boundary.

Plan shape (SURVEY §4.3; interior/boundary approximations as in *Scalable
Spatial Topology Joins*, EDBT 2026):

1. polygon side, one row per ring (small — the dimension side): split the
   ring into edges i → i+1 (with wrap) and map each edge's bbox onto cell
   rows and columns (``cells.bbox_index``). Every cell of the ring's bbox
   cover that an edge bbox touches is *boundary*; any other cell is crossed
   by no edge, so the ray-cast of its centre decides *interior* or
   *outside* for all of it. Outside cells are dropped. A boundary cell
   keeps only its latitude band — the ring's non-horizontal edges whose
   rows include the cell's, the only edges that can straddle a point in
   it — and of those, the edges over its column in full, and the edges
   right of it reduced to a parity bit plus a few vertex latitudes (see
   ``_cell_cover``). Entries are grouped into one row per cell;
2. point side: one broadcast equi-join on the point's cell. An interior
   entry is a hit as is; a boundary entry is a hit when its crossing number
   is odd (higher-order aggregates). Rings of one name are OR-ed, because
   the name is a hit when any of its entries is.

Exactness: the crossing test is the even-odd ray-cast of the reference
(``tests/pip_reference.ray_cast_batch``), ``px < x1 + (py - y1) / (y2 - y1)
* (x2 - x1)`` over straddling edges in that operation order, so every
decision matches it bit for bit. Latitudes are only compared, which makes
band membership exact; the crossing longitude is rounded, by far less than
``cells.LON_PAD``, by which ``bbox_index`` pads every longitude range, so an
edge's rounded crossing stays inside the cells marked boundary and off the
cells classified by their centre. Coordinates are degrees (|lon| <= 180).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cells import bbox_index, cell_expr, cell_id, cell_size_deg


def _odd_crossings(band: Column, px: Column, py: Column) -> Column:
    """Crossing-number parity of (px, py) over ``band``'s edges. The And
    short-circuits, so the division only runs on straddling edges, whose
    y2 - y1 is never 0 (ANSI mode would raise on a 0.0 divisor)."""

    def flip(odd, e):
        straddle = (e["y1"] > py) != (e["y2"] > py)
        xint = e["x1"] + (py - e["y1"]) / (e["y2"] - e["y1"]) * (e["x2"] - e["x1"])
        return odd != (straddle & (px < xint))

    return F.aggregate(band, F.lit(False), flip)


def _cell_cover(polygons: DataFrame, poly_name: str, res: int) -> DataFrame:
    """(_pcell, _zones: array<struct<name, inside, edges, ends, odd>>) — one
    row per cell a ring is interior to or on the boundary of."""
    ring, n = F.col("ring"), F.size("ring")
    edges = F.transform(ring, lambda a, i: F.struct(
        a["lon"].alias("x1"), a["lat"].alias("y1"),
        ring[(i + 1) % n]["lon"].alias("x2"), ring[(i + 1) % n]["lat"].alias("y2"),
    ))
    edges = F.transform(edges, lambda e: F.struct(
        e["x1"], e["y1"], e["x2"], e["y2"],
        bbox_index(F.least(e["y1"], e["y2"]), F.greatest(e["y1"], e["y2"]),
                   F.least(e["x1"], e["x2"]), F.greatest(e["x1"], e["x2"]), res)
        .alias("b"),
    ))
    # an edge is right of cell column iy when iy < its ``rc``; a horizontal
    # edge never crosses a ray, so it has none
    rc = lambda e: F.when(e["y1"] != e["y2"], e["b"]["c0"])  # noqa: E731
    m = F.size("_edges")
    rings = polygons.where((n > 0) & F.col(poly_name).isNotNull()).select(
        F.col(poly_name).alias("name"), edges.alias("_edges"),
    ).select("name", F.transform("_edges", lambda e, i: F.struct(
        e["x1"], e["y1"], e["x2"], e["y2"], e["b"], rc(e).alias("rc"),
        # the row of vertex i = (x1, y1), and the rc of the edge ending there
        F.when(e["y1"] <= e["y2"], e["b"]["r0"]).otherwise(e["b"]["r1"]).alias("vrow"),
        rc(F.col("_edges")[(i + m - 1) % m]).alias("rc_prev"),
    )).alias("_edges"))
    # the ring's bbox cover is the union of its edges' index ranges
    b = F.col("_edges")["b"]
    ix, iy = F.col("_ix"), F.col("_iy")
    rows = rings.select(
        "name", "_edges",
        F.explode(F.sequence(F.array_min(b["r0"]), F.array_max(b["r1"]))).alias("_ix"),
        F.sequence(F.array_min(b["c0"]), F.array_max(b["c1"])).alias("_cols"),
    ).select(
        "name", "_ix", "_cols",
        F.filter("_edges", lambda e: (e["b"]["r0"] <= ix) & (ix <= e["b"]["r1"]))
        .alias("_touch"),
        # the row's vertices, as the edges starting at them
        F.filter("_edges", lambda e: e["vrow"] == ix).alias("_verts"),
    ).select(
        "name", "_ix", "_touch", "_verts",
        F.filter("_touch", lambda e: e["y1"] != e["y2"]).alias("_band"),
        F.explode("_cols").alias("_iy"),
    )
    on_col = lambda e: (e["b"]["c0"] <= iy) & (iy <= e["b"]["c1"])  # noqa: E731
    right = lambda c: F.coalesce(iy < c, F.lit(False))  # noqa: E731
    cells = rows.select(
        "name", "_ix", "_iy", "_band", "_verts",
        F.exists("_touch", on_col).alias("_boundary"),
    )
    sz = cell_size_deg(res)
    centre_inside = _odd_crossings(
        F.col("_band"),
        (iy + F.lit(0.5)) * F.lit(sz) - F.lit(180.0),
        (ix + F.lit(0.5)) * F.lit(sz) - F.lit(90.0),
    )
    # A boundary entry splits its band by column. Edges left of the cell
    # never cross a ray from a point in it. Edges over its column take the
    # full test (``edges``). An edge right of it crosses exactly when
    # lo <= py < hi, so, as #{lo <= py} - #{hi <= py}, the parity of those
    # crossings is that of the right-hand edge ends at or below py. An end
    # in a lower row always counts: their parity is ``odd``. One in a higher
    # row never does. A vertex in the row is the end of its two edges, so
    # it counts twice, i.e. not at all, unless exactly one of them is on
    # the right: those vertices' latitudes are the ``ends`` compared per
    # point. Interior entries need no edges.
    boundary = F.col("_boundary")
    entry = F.struct(
        "name",
        (~boundary).alias("inside"),
        F.when(boundary, F.transform(
            F.filter("_band", on_col),
            lambda e: F.struct(e["x1"], e["y1"], e["x2"], e["y2"]))).alias("edges"),
        F.when(boundary, F.transform(
            F.filter("_verts", lambda e: right(e["rc"]) != right(e["rc_prev"])),
            lambda e: e["y1"])).alias("ends"),
        F.when(boundary, F.size(F.filter(
            "_band", lambda e: right(e["rc"]) & (e["b"]["r0"] < ix))) % 2 == 1).alias("odd"),
    )
    # an empty band never hits; outside cells are dropped — by
    # collect_list, which skips nulls, so the filter is not pushed below
    # the (costly) classification and evaluated twice
    keep = F.when(boundary, F.size("_band") > 0).otherwise(centre_inside)
    # one partition: the cover is broadcast, so it is dimension-sized, and
    # a shuffle to group it would cost more than the grouping
    return (
        cells.coalesce(1).groupBy(cell_id(ix, iy, res).alias("_pcell"))
        .agg(F.collect_list(F.when(keep, entry)).alias("_zones"))
        .where(F.size("_zones") > 0)
    )


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str,
    poly_name: str = "zone",
    res: int = 12,
    fallback: str | None = "kein Stadtteil gefunden",
) -> DataFrame:
    """points(point_id, lat, lon) × polygons(poly_name, ring:array<struct
    <lon:double, lat:double>>) → (point_id, poly_name).

    A point is in a ring by the even-odd ray-cast; a name may own several
    rings (exclaves), and is a hit if any of them contains the point. Rings
    may be closed (first vertex repeated) or open (the wrap edge is
    implied). Polygons may overlap, and the two modes differ there:

    - ``fallback=None``: one row per (point, containing name) — a point in
      two overlapping names gets two rows, a point in none gets no row;
    - ``fallback`` set: exactly one row per input point — the greatest
      containing name, or ``fallback`` when no name contains it (the
      reference's left-join default).
    """
    px, py = F.col("lon"), F.col("lat")
    pts = points.select(point_id, "lat", "lon",
                        cell_expr(py, px, res).alias("_pcell"))
    cand = pts.join(F.broadcast(_cell_cover(polygons, poly_name, res)), "_pcell",
                    "inner" if fallback is None else "left")
    # an interior entry hits as is; a boundary entry by the parity of its
    # over-column edges' crossings XOR its right-hand edges' (see _cell_cover)
    hits = F.transform(
        F.filter("_zones", lambda z: F.when(z["inside"], True).otherwise(
            _odd_crossings(z["edges"], px, py)
            != F.aggregate(z["ends"], z["odd"], lambda odd, y: odd != (y <= py)))),
        lambda z: z["name"],
    )
    if fallback is None:
        return cand.select(point_id, F.explode(F.array_distinct(hits)).alias(poly_name))
    # a left-joined point without a cover cell has null _zones → null max
    return cand.select(
        point_id, F.coalesce(F.array_max(hits), F.lit(fallback)).alias(poly_name))
