"""Two-phase point-in-polygon spatial join.

Phase 1 (coarse, shuffle-free): each polygon is covered by equirect grid
cells at a chosen resolution; cover cells are classified FULL (cell
entirely inside the polygon) or BOUNDARY. The cover table is tiny and is
BROADCAST; points equi-join it on their cell id — Catalyst turns this into
a broadcast hash join, no shuffle of the (huge) point side.

Phase 2 (exact, vectorized): only points landing in BOUNDARY cells go
through an even-odd ray-casting test, batched in a pandas UDF (Arrow,
numpy edge-crossing matrix — no per-row Python). Points in FULL cells are
accepted without the test — at 100 TB this skips the Python hop for the
overwhelming interior majority.

Reference analog: the graft restatement of track-region assignment — GPS
alignment (geometry/geometry_manager.py:52-77) + global grid assignment
(cruise/resample_regrid.py:94-107) + the commented point->raster lookup
(geometry/elevation_manager.py:52-82).

Correctness notes:
- even-odd rule, half-open edge convention ((yi>y) != (yj>y) with strict
  x < x_intersect): boundary points follow the standard convention.
- FULL classification is conservative: all 4 cell corners inside AND no
  polygon edge intersects the cell rectangle => every interior point of the
  cell is inside (a polygon edge would otherwise have to cross the cell
  boundary). Cells failing the conservative test fall back to BOUNDARY
  (always correct, just slower).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells

def parse_wkt_polygon(wkt: str) -> np.ndarray:
    """Minimal WKT POLYGON parser -> (n, 2) array of (x=lon, y=lat).

    Only simple single-ring polygons (the fixture shape); closing vertex
    dropped."""
    body = wkt.strip()
    if not body.upper().startswith("POLYGON"):
        raise ValueError(f"not a polygon: {wkt[:40]}")
    inner = body[body.index("((") + 2 : body.rindex("))")]
    pts = np.array([[float(v) for v in p.strip().split()] for p in inner.split(",")], dtype=np.float64)
    if np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]
    return pts


def _clip_halfplane(poly: np.ndarray, axis_x: float, keep_left: bool) -> np.ndarray:
    """Sutherland-Hodgman clip of a ring against x <= axis_x (keep_left)
    or x >= axis_x."""
    out: list[np.ndarray] = []
    n = len(poly)
    for i in range(n):
        a = poly[i]
        b = poly[(i + 1) % n]
        a_in = (a[0] <= axis_x) if keep_left else (a[0] >= axis_x)
        b_in = (b[0] <= axis_x) if keep_left else (b[0] >= axis_x)
        if a_in:
            out.append(a)
        if a_in != b_in:
            t = (axis_x - a[0]) / (b[0] - a[0])
            out.append(np.array([axis_x, a[1] + t * (b[1] - a[1])]))
    return np.array(out) if out else np.empty((0, 2))


def normalize_rings(polygons_pdf: pd.DataFrame) -> list[tuple[int, np.ndarray]]:
    """Parse WKT rings, auto-splitting antimeridian-crossing polygons.

    Heuristic (the standard one): a ring whose lon span exceeds 180deg is
    assumed to cross +-180 (edge case flagged by the reference at
    geometry/line_simplification.py:168-175). Negative lons shift +360 to
    unwrap, the ring is clipped at lon=180 into a west lobe (as-is) and an
    east lobe (shifted back by -360); both lobes keep the polygon_id."""
    out: list[tuple[int, np.ndarray]] = []
    for _, p in polygons_pdf.iterrows():
        pid = int(p["polygon_id"])
        ring = parse_wkt_polygon(p["wkt"])
        if ring[:, 0].max() - ring[:, 0].min() > 180.0:
            unwrapped = ring.copy()
            unwrapped[unwrapped[:, 0] < 0.0, 0] += 360.0
            west = _clip_halfplane(unwrapped, 180.0, keep_left=True)
            east = _clip_halfplane(unwrapped, 180.0, keep_left=False)
            if len(east):
                east = east.copy()
                east[:, 0] -= 360.0
            for lobe in (west, east):
                if len(lobe) >= 3:
                    out.append((pid, lobe))
        else:
            out.append((pid, ring))
    return out


# points (or cells) x edges per vectorized block: bounds the (P x E)
# scratch arrays to a few MB each, whatever the polygon
_BLOCK = 1 << 18


def _points_in_poly(x: np.ndarray, y: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast: (N,) bool for points vs (M,2) ring,
    with the edges along a second axis in bounded point blocks."""
    xi, yi = poly[:, 0], poly[:, 1]
    xj, yj = np.roll(xi, 1), np.roll(yi, 1)
    inside = np.empty(len(x), dtype=bool)
    step = max(1, _BLOCK // len(xi))
    for p0 in range(0, len(x), step):
        py = y[p0 : p0 + step, None]
        cond = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_int = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside[p0 : p0 + step] = np.count_nonzero(cond & (x[p0 : p0 + step, None] < x_int), axis=1) & 1
    return inside


def _rects_crossed(poly: np.ndarray, x0, y0, x1, y1) -> np.ndarray:
    """Per cell rectangle ((C, 1) corner columns): does any polygon edge
    intersect or enter it? Edges run along the second axis (C x E)."""
    ax, ay = poly[:, 0], poly[:, 1]
    bx, by = np.roll(ax, 1), np.roll(ay, 1)
    # quick reject: both endpoints strictly on the same outside side
    reject = (
        ((ax < x0) & (bx < x0))
        | ((ax > x1) & (bx > x1))
        | ((ay < y0) & (by < y0))
        | ((ay > y1) & (by > y1))
    )
    # an endpoint inside the rect, or a proper crossing of one of its edges
    hit = (ax >= x0) & (ax <= x1) & (ay >= y0) & (ay <= y1)
    for ex0, ey0, ex1, ey1 in ((x0, y0, x1, y0), (x1, y0, x1, y1), (x1, y1, x0, y1), (x0, y1, x0, y0)):
        d1 = (ey0 - ay) * (bx - ax) - (by - ay) * (ex0 - ax)
        d2 = (ey1 - ay) * (bx - ax) - (by - ay) * (ex1 - ax)
        d3 = (ay - ey0) * (ex1 - ex0) - (ey1 - ey0) * (ax - ex0)
        d4 = (by - ey0) * (ex1 - ex0) - (ey1 - ey0) * (bx - ex0)
        hit |= ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
    return (hit & ~reject).any(axis=1)


def polygon_cover(poly: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Cover cells for one polygon at grid res -> (cell_id, is_full)
    int64/bool arrays, bbox cells in row-major (gy, gx) order.

    Rectangle-of-bbox enumeration; a cell is FULL when its 4 corners are
    inside and no polygon edge intersects it (the conservative test of the
    module docstring), BOUNDARY when a corner or its center is inside or
    an edge intersects it, and dropped otherwise. All cells of a block are
    classified at once."""
    s = cells.grid_res_size(res)
    nx = 2 * (1 << res)
    ny = 1 << res
    min_x, min_y = poly.min(axis=0)
    max_x, max_y = poly.max(axis=0)
    gx0 = max(0, min(int((min_x + 180.0) // s), nx - 1))
    gx1 = max(0, min(int((max_x + 180.0) // s), nx - 1))
    gy0 = max(0, min(int((min_y + 90.0) // s), ny - 1))
    gy1 = max(0, min(int((max_y + 90.0) // s), ny - 1))
    width = gx1 - gx0 + 1
    n_cells = width * (gy1 - gy0 + 1)
    step = max(1, _BLOCK // len(poly))
    ids, fulls = [], []
    for c0 in range(0, n_cells, step):
        gy, gx = np.divmod(np.arange(c0, min(c0 + step, n_cells), dtype=np.int64), width)
        gy += gy0
        gx += gx0
        x0 = gx * s - 180.0
        x1 = x0 + s
        y0 = gy * s - 90.0
        y1 = y0 + s
        n = len(gx)
        # 4 corners then the center of every cell, as one point block
        inside = _points_in_poly(
            np.concatenate([x0, x1, x1, x0, (x0 + x1) / 2]),
            np.concatenate([y0, y0, y1, y1, (y0 + y1) / 2]),
            poly,
        ).reshape(5, n)
        corner_in = inside[:4]
        seg = _rects_crossed(poly, x0[:, None], y0[:, None], x1[:, None], y1[:, None])
        full = corner_in.all(axis=0) & ~seg
        keep = full | corner_in.any(axis=0) | seg | inside[4]
        ids.append(cells.pack_cell(res, gx[keep], gy[keep]))
        fulls.append(full[keep])
    return np.concatenate(ids).astype(np.int64), np.concatenate(fulls)


# above this many polygons, cover construction (O(cells x edges) numpy per
# polygon) distributes via mapInPandas instead of looping on the driver
_COVER_DISTRIBUTE_THRESHOLD = 512


def build_cover_df(
    spark: SparkSession,
    polygons: pd.DataFrame,
    res: int,
    rings: list[tuple[int, np.ndarray]] | None = None,
    distributed: bool | None = None,
) -> DataFrame:
    """Polygon table (polygon_id, wkt) -> broadcastable cover DataFrame
    (polygon_id, cell_id, is_full).

    distributed=None (auto): polygon sets above
    _COVER_DISTRIBUTE_THRESHOLD build their covers executor-side via
    mapInPandas over the polygon table (each task runs the same
    normalize_rings + polygon_cover kernels on its slice); small sets loop
    on the driver. The output stays small either way — it is the
    broadcast side of the join."""
    if distributed is None:
        distributed = polygons is not None and len(polygons) > _COVER_DISTRIBUTE_THRESHOLD
    schema = T.StructType(
        [
            T.StructField("polygon_id", T.LongType(), False),
            T.StructField("cell_id", T.LongType(), False),
            T.StructField("is_full", T.BooleanType(), False),
        ]
    )
    if distributed:
        n_poly = len(polygons)
        src = spark.createDataFrame(polygons[["polygon_id", "wkt"]])
        n_tasks = min(max(spark.sparkContext.defaultParallelism, 1) * 2, max(n_poly, 1))

        def cover_batches(batches):
            for pdf in batches:
                # one input row = one polygon, so a polygon's antimeridian
                # lobes are always merged within this batch's seen-dict
                cover = _cover_pdf(normalize_rings(pdf), res)
                if len(cover):
                    yield cover

        out = src.repartition(n_tasks).mapInPandas(
            cover_batches, "polygon_id long, cell_id long, is_full boolean"
        )
        # tiny-table shuffle: only needed if the input carries duplicate
        # polygon_id rows (each then covers in a different task)
        return out.groupBy("polygon_id", "cell_id").agg(F.bool_or("is_full").alias("is_full"))

    # a pandas frame becomes an Arrow-backed LocalRelation: no Python-RDD
    # conversion job on the driver
    pdf = _cover_pdf(rings if rings is not None else normalize_rings(polygons), res)
    return spark.createDataFrame(pdf, schema=schema)


def _cover_pdf(ring_iter, res: int) -> pd.DataFrame:
    """(pid, ring) iterable -> cover rows (polygon_id, cell_id, is_full);
    FULL from either antimeridian lobe wins when lobes share a cell."""
    parts = []
    for pid, ring in ring_iter:
        cell_id, is_full = polygon_cover(ring, res)
        parts.append(
            pd.DataFrame({"polygon_id": np.full(len(cell_id), pid, dtype=np.int64), "cell_id": cell_id, "is_full": is_full})
        )
    if not parts:
        return pd.DataFrame(
            {"polygon_id": np.empty(0, np.int64), "cell_id": np.empty(0, np.int64), "is_full": np.empty(0, bool)}
        )
    pdf = pd.concat(parts, ignore_index=True)
    return pdf.groupby(["polygon_id", "cell_id"], sort=False, as_index=False)["is_full"].any()


def pip_join(
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    res: int = 7,
    lat: str = "lat",
    lon: str = "lon",
    keep_cols: tuple[str, ...] = ("url",),
    method: str = "auto",
) -> DataFrame:
    """Two-phase PIP join: returns keep_cols + polygon_id for every point
    inside a polygon. Points with NULL coords are dropped (QC upstream).

    method:
    - "jvm"   edge-parity broadcast-join refine (pip_join_refine.py) — no
              Python hop, best for bounded-edge polygon sets;
    - "arrow" vectorized pandas-UDF ray cast — best for huge-vertex
              polygons (per-batch numpy beats the x|edges| expansion);
    - "auto"  jvm when the polygon set has <= 4096 total edges.
    Both produce identical rows (same IEEE expression; tested equal)."""
    ring_list = normalize_rings(polygons_pdf)  # parse + antimeridian-split ONCE
    total_edges = sum(len(r) for _, r in ring_list)
    if method == "jvm" or (method == "auto" and total_edges <= 4096):
        from .pip_join_refine import pip_join_jvm

        return pip_join_jvm(
            points, polygons_pdf, res=res, lat=lat, lon=lon, keep_cols=keep_cols, rings=ring_list
        )
    spark = points.sparkSession
    if len(polygons_pdf) > _COVER_DISTRIBUTE_THRESHOLD:
        # large polygon sets: cover construction parallelizes executor-side
        # (the driver loop would be the serial bottleneck before the join)
        cover = build_cover_df(spark, polygons_pdf, res, distributed=True)
    else:
        cover = build_cover_df(spark, polygons_pdf, res, rings=ring_list)

    pts = points.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull()).withColumn(
        "cell_id", cells.grid_cell(F.col(lat), F.col(lon), res)
    )
    # SINGLE pass over the (huge) point side: one broadcast join, one Arrow
    # hop over candidates only. A full/boundary union-of-branches would
    # re-scan the source twice — at 100 TB the scan dominates, so the
    # is_full fast path lives INSIDE the UDF (numpy mask skip) instead.
    cand = pts.join(F.broadcast(cover), "cell_id")

    rings: dict[int, list[np.ndarray]] = {}
    for pid, ring in ring_list:
        rings.setdefault(pid, []).append(ring)

    @F.pandas_udf(T.BooleanType())
    def _inside(lat_s: pd.Series, lon_s: pd.Series, pid_s: pd.Series, full_s: pd.Series) -> pd.Series:
        la = lat_s.to_numpy(dtype=np.float64)
        lo = lon_s.to_numpy(dtype=np.float64)
        pid = pid_s.to_numpy(dtype=np.int64)
        out = full_s.to_numpy(dtype=bool).copy()  # FULL cells: accepted, no ray cast
        need = ~out
        for p in np.unique(pid[need]):
            m = need & (pid == p)
            hit = np.zeros(int(m.sum()), dtype=bool)
            for lobe in rings[int(p)]:  # disjoint lobes (antimeridian split)
                hit |= _points_in_poly(lo[m], la[m], lobe)
            out[m] = hit
        return pd.Series(out)

    return cand.filter(_inside(F.col(lat), F.col(lon), F.col("polygon_id"), F.col("is_full"))).select(
        *keep_cols, "polygon_id"
    )
