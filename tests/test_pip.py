"""geo/pip.pip_join against the numpy ray-cast reference (tests/pip_reference)
and its multi-containment contract."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from osm_coverage_spark.geo import cells, pip
from tests.pip_reference import pip_reference

RING_SCHEMA = "name string, ring array<struct<lon double, lat double>>"
POINT_SCHEMA = "pid long, lat double, lon double"
LAT0, LON0, SPAN = 50.0, 6.0, 0.4  # a few cells a side at res 10-12


def _run(spark, points, polygons, res, fallbacks):
    """pip_join's sorted (pid, name) rows for each fallback."""
    # one slice each: small inputs need no parallelism
    sc = spark.sparkContext
    polys = spark.createDataFrame(sc.parallelize(
        [(n, [{"lon": x, "lat": y} for x, y in ring]) for n, ring in polygons], 1),
        RING_SCHEMA)
    pts = spark.createDataFrame(sc.parallelize(points, 1), POINT_SCHEMA)
    return [sorted((r["pid"], r["name"]) for r in pip.pip_join(
        pts, polys, "pid", poly_name="name", res=res, fallback=f).collect())
        for f in fallbacks]


@st.composite
def scenes(draw):
    res = draw(st.sampled_from([10, 11, 12]))
    sz = cells.cell_size_deg(res)
    unit = st.floats(0.0, 1.0, allow_nan=False)
    # grid lines by the cell arithmetic's own numbers, inside the window
    lat_lines = [k * sz - 90.0 for k in range(int((LAT0 + 90.0) / sz) + 1,
                                               int((LAT0 + SPAN + 90.0) / sz) + 1)]
    lon_lines = [k * sz - 180.0 for k in range(int((LON0 + 180.0) / sz) + 1,
                                                int((LON0 + SPAN + 180.0) / sz) + 1)]

    def coord(base, lines):
        # a free coordinate, or one exactly on a cell line
        return draw(st.one_of(unit.map(lambda u: base + u * SPAN),
                              st.sampled_from(lines)))

    polygons = []
    for _ in range(draw(st.integers(1, 8))):
        name = draw(st.sampled_from("abc"))
        m = draw(st.integers(3, 12))
        ring = []
        for _ in range(m):
            if ring and draw(st.booleans()) and draw(st.booleans()):
                ring.append((coord(LON0, lon_lines), ring[-1][1]))  # horizontal edge
            else:
                ring.append((coord(LON0, lon_lines), coord(LAT0, lat_lines)))
        if draw(st.booleans()):
            ring.append(ring[0])  # closed ring
        polygons.append((name, ring))

    verts = [v for _, ring in polygons for v in ring]
    points = []
    for i in range(draw(st.integers(1, 80))):
        kind = draw(st.sampled_from(["free", "line", "vertex", "edge", "vlat"]))
        if kind == "free":
            lon, lat = coord(LON0, lon_lines), coord(LAT0, lat_lines)
        elif kind == "line":  # on a cell line in both axes
            lon, lat = draw(st.sampled_from(lon_lines)), draw(st.sampled_from(lat_lines))
        elif kind == "vertex":
            lon, lat = draw(st.sampled_from(verts))
        elif kind == "edge":  # on (or rounding next to) an edge
            _, ring = draw(st.sampled_from(polygons))
            j = draw(st.integers(0, len(ring) - 1))
            (x1, y1), (x2, y2) = ring[j], ring[(j + 1) % len(ring)]
            t = draw(unit)
            lon, lat = x1 + t * (x2 - x1), y1 + t * (y2 - y1)
        else:  # on a vertex's latitude, anywhere along it
            lat = draw(st.sampled_from(verts))[1]
            lon = coord(LON0, lon_lines)
        points.append((i, lat, lon))
    return res, points, polygons


@given(scenes())
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
def test_pip_join_equals_ray_cast_reference(spark, scene):
    res, points, polygons = scene
    fallbacks = (None, "draussen")
    assert _run(spark, points, polygons, res, fallbacks) == \
        [pip_reference(points, polygons, f) for f in fallbacks]


def test_overlapping_polygons_contract(spark):
    """fallback=None emits one row per containing polygon; the fallback
    path emits one row per point, the greater name winning."""
    def square(lat0, lon0, d):
        return [(lon0, lat0), (lon0 + d, lat0), (lon0 + d, lat0 + d), (lon0, lat0 + d)]

    polygons = [("Nord", square(50.0, 6.0, 0.2)), ("Ost", square(50.1, 6.1, 0.2))]
    points = [(1, 50.05, 6.05),   # Nord only
              (2, 50.15, 6.15),   # both
              (3, 50.25, 6.25),   # Ost only
              (4, 49.0, 5.0)]     # neither
    hits, one_each = _run(spark, points, polygons, 12, (None, "draussen"))
    assert hits == [(1, "Nord"), (2, "Nord"), (2, "Ost"), (3, "Ost")]
    assert one_each == [(1, "Nord"), (2, "Ost"), (3, "Ost"), (4, "draussen")]
