"""The vectorized PIP cover and the driver-built broadcast tables.

1. polygon_cover classifies all bbox cells of a polygon at once, and
   _points_in_poly tests a block of points against all edges at once;
   both must equal, cell for cell and point for point, the one-at-a-time
   references below (the code they replaced), at res 3-9, on a concave
   ring and on both lobes of an antimeridian-split polygon.
2. build_cover_df / build_edges_df hand Spark a pandas frame, so their
   plans are Arrow-backed LocalRelations, not Python-RDD scans.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from water_column_sonar_processing_spark.functions import cells
from water_column_sonar_processing_spark.operators import pip as pip_op
from water_column_sonar_processing_spark.operators.pip_join_refine import build_edges_df


def _points_in_poly_ref(x, y, poly):
    """Scalar-loop reference: one edge at a time, parity by XOR."""
    xi, yi = poly[:, 0], poly[:, 1]
    xj, yj = np.roll(xi, 1), np.roll(yi, 1)
    inside = np.zeros(len(x), dtype=bool)
    for k in range(len(xi)):
        cond = (yi[k] > y) != (yj[k] > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_int = (xj[k] - xi[k]) * (y - yi[k]) / (yj[k] - yi[k]) + xi[k]
        inside ^= cond & (x < x_int)
    return inside


def _segment_intersects_rect_ref(poly, x0, y0, x1, y1):
    a = poly
    b = np.roll(poly, 1, axis=0)
    ax, ay, bx, by = a[:, 0], a[:, 1], b[:, 0], b[:, 1]
    reject = (
        ((ax < x0) & (bx < x0))
        | ((ax > x1) & (bx > x1))
        | ((ay < y0) & (by < y0))
        | ((ay > y1) & (by > y1))
    )
    cand = ~reject
    if not cand.any():
        return False
    in_rect = (ax >= x0) & (ax <= x1) & (ay >= y0) & (ay <= y1)
    if (in_rect & cand).any():
        return True

    def ccw(pxa, pya, pxb, pyb, pxc, pyc):
        return (pyc - pya) * (pxb - pxa) - (pyb - pya) * (pxc - pxa)

    for (ex0, ey0), (ex1, ey1) in (
        ((x0, y0), (x1, y0)),
        ((x1, y0), (x1, y1)),
        ((x1, y1), (x0, y1)),
        ((x0, y1), (x0, y0)),
    ):
        d1 = ccw(ax, ay, bx, by, np.full_like(ax, ex0), np.full_like(ay, ey0))
        d2 = ccw(ax, ay, bx, by, np.full_like(ax, ex1), np.full_like(ay, ey1))
        d3 = ccw(np.full_like(ax, ex0), np.full_like(ay, ey0), np.full_like(ax, ex1), np.full_like(ay, ey1), ax, ay)
        d4 = ccw(np.full_like(ax, ex0), np.full_like(ay, ey0), np.full_like(ax, ex1), np.full_like(ay, ey1), bx, by)
        if (cand & (((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)))).any():
            return True
    return False


def _polygon_cover_ref(poly, res):
    """Scalar reference: one cell at a time, row-major over the bbox."""
    s = cells.grid_res_size(res)
    nx, ny = 2 * (1 << res), 1 << res
    min_x, min_y = poly.min(axis=0)
    max_x, max_y = poly.max(axis=0)
    gx0 = max(0, min(int((min_x + 180.0) // s), nx - 1))
    gx1 = max(0, min(int((max_x + 180.0) // s), nx - 1))
    gy0 = max(0, min(int((min_y + 90.0) // s), ny - 1))
    gy1 = max(0, min(int((max_y + 90.0) // s), ny - 1))
    out = []
    for gy in range(gy0, gy1 + 1):
        y0 = gy * s - 90.0
        y1 = y0 + s
        for gx in range(gx0, gx1 + 1):
            x0 = gx * s - 180.0
            x1 = x0 + s
            corner_in = _points_in_poly_ref(np.array([x0, x1, x1, x0]), np.array([y0, y0, y1, y1]), poly)
            seg = _segment_intersects_rect_ref(poly, x0, y0, x1, y1)
            if corner_in.all() and not seg:
                out.append((cells.pack_cell(res, gx, gy), True))
            elif corner_in.any() or seg or _points_in_poly_ref(
                np.array([(x0 + x1) / 2]), np.array([(y0 + y1) / 2]), poly
            )[0]:
                out.append((cells.pack_cell(res, gx, gy), False))
    return out


RINGS = {
    "rect": "POLYGON ((-10 40, -4 40, -4 45, -10 45, -10 40))",
    # concave: a U shape whose notch spans several cells from res 6 up
    "concave": "POLYGON ((0 0, 12 0, 12 12, 8 12, 8 3, 4 3, 4 12, 0 12, 0 0))",
    "triangle": "POLYGON ((-60.3 -20.7, -52.1 -14.2, -57.9 -9.4, -60.3 -20.7))",
    # crosses +-180: normalize_rings splits it into two lobes
    "dateline": "POLYGON ((174 -3, -176 -3, -174 4, 177 5, 174 -3))",
}


def _rings():
    pdf = pd.DataFrame([dict(polygon_id=i, wkt=w) for i, w in enumerate(RINGS.values())])
    return pip_op.normalize_rings(pdf)


@pytest.mark.parametrize("res", range(3, 10))
def test_polygon_cover_matches_scalar_reference(res, monkeypatch):
    rings = _rings()
    assert sum(pid == 3 for pid, _ in rings) == 2  # the dateline polygon split
    for _, ring in rings:
        want = _polygon_cover_ref(ring, res)
        # a small block also exercises the chunking across block boundaries
        for block in (pip_op._BLOCK, 64):
            monkeypatch.setattr(pip_op, "_BLOCK", block)
            ids, full = pip_op.polygon_cover(ring, res)
            assert ids.dtype == np.int64 and full.dtype == bool
            assert list(zip(ids.tolist(), full.tolist())) == want


def test_points_in_poly_matches_scalar_reference(monkeypatch):
    """The blocked ray cast equals the per-edge loop, on vertices, edge
    midpoints and random points around every ring, across block sizes."""
    rng = np.random.default_rng(7)
    for _, ring in _rings():
        lo, hi = ring.min(axis=0) - 1.0, ring.max(axis=0) + 1.0
        pts = np.concatenate([ring, (ring + np.roll(ring, 1, axis=0)) / 2, rng.uniform(lo, hi, (500, 2))])
        want = _points_in_poly_ref(pts[:, 0], pts[:, 1], ring)
        for block in (pip_op._BLOCK, 7):
            monkeypatch.setattr(pip_op, "_BLOCK", block)
            assert np.array_equal(pip_op._points_in_poly(pts[:, 0], pts[:, 1], ring), want)


def test_cover_rows_merge_lobes_like_reference():
    """Cover rows per polygon: lobes sharing a cell keep it once, FULL if
    either lobe has it FULL (the reference's seen-dict merge)."""
    rings = _rings()
    seen: dict = {}
    for pid, ring in rings:
        for cell, full in _polygon_cover_ref(ring, 6):
            seen[(pid, cell)] = seen.get((pid, cell), False) or full
    got = pip_op._cover_pdf(rings, 6)
    assert list(got.itertuples(index=False, name=None)) == [(p, c, f) for (p, c), f in seen.items()]


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_driver_tables_are_local_relations(spark):
    polys = pd.DataFrame([dict(polygon_id=i, wkt=w) for i, w in enumerate(RINGS.values())])
    for df in (pip_op.build_cover_df(spark, polys, 6), build_edges_df(spark, polys)):
        plan = _plan(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
        assert df.count() > 0
    edges = build_edges_df(spark, polys).toPandas()
    assert len(edges) == sum(len(r) for _, r in _rings())
