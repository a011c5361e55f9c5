"""Discrete global-grid cell encoders as native Spark column expressions.

Reference parity: the reference sizes a global (depth x time x frequency)
grid and assigns every sample a cell via nearest-grid interpolation
(/root/reference/water_column_sonar_processing/cruise/resample_regrid.py:94-107)
and chunk coordinates (model/zarr_manager.py:84-92). The graft re-expresses
this as lat/lon -> discrete cell-id assignment.

Three encoders, all pure arithmetic on the JVM side (whole-stage codegen,
no Python workers):

- ``grid_cell``      equirect grid, integer-exact; the workhorse index used
                     for oracle-checked joins/kNN (the DuckDB oracle can
                     reproduce it bit-for-bit, see the ``*_sql`` twins).
- ``mercator_tile``  Web-Mercator XYZ tile (slippy-map), the raster/vector
                     tile-pyramid key (pmtile_generation.py analog).
- ``hex_cell``       pointy-top axial hex grid (H3-style; true H3's
                     icosahedral aperture-7 grid is not reproducible here,
                     so this is an honest hexagonal DGG with k-ring
                     semantics identical in spirit).

Every encoder has a ``*_sql`` twin returning ANSI-SQL text computing the
exact same int64 on DuckDB — used for CORRECTNESS oracles. The twins use
only IEEE-deterministic ops (+ - * / floor sqrt least greatest) so the
results are bit-identical across engines.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# packing constants (arithmetic, not bit-ops, so SQL twins stay portable)
_P58 = 1 << 58
_P52 = 1 << 52
_P26 = 1 << 26
_P21 = 1 << 21
_P20 = 1 << 20

# closest-double constants, emitted with repr() so DuckDB parses the same bits
_SQRT3_OVER3 = math.sqrt(3.0) / 3.0
_ONE_THIRD = 1.0 / 3.0
_TWO_THIRDS = 2.0 / 3.0


def _dlit(x: float) -> str:
    """Double literal for cross-dialect SQL: append e0 so neither engine
    parses it as DECIMAL (plain `180.0` is DECIMAL in Spark and DuckDB,
    with engine-specific arithmetic; `180.0e0` is DOUBLE in both)."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s) else s + "e0"


# ---------------------------------------------------------------- grid (equirect)
def grid_res_size(res: int) -> float:
    """Cell edge in degrees at resolution ``res`` (lat span 180 = 2^res cells)."""
    return 180.0 / float(1 << res)


def pack_cell(res: int, gx: int, gy: int) -> int:
    """THE grid cell packing, python-scalar form: res*2^58 + gy*2^26 + gx.

    Single source of truth shared with the column expressions below and
    the SQL twins — driver-side cover builders must use this, never
    re-derive the layout."""
    return res * _P58 + gy * _P26 + gx


def pack_cell_cols(zoom: Column, gx: Column, gy: Column) -> Column:
    """Column form of :func:`pack_cell` (zoom may be a per-row column)."""
    return (zoom.cast("long") * F.lit(_P58) + gy.cast("long") * F.lit(_P26) + gx.cast("long")).cast("long")


def grid_cell(lat: Column, lon: Column, res: int) -> Column:
    """Equirect grid cell id: res*2^58 + gy*2^26 + gx  (int64, exact).

    gx in [0, 2^(res+1)), gy in [0, 2^res). Poles/antimeridian clamped.
    NULL lat/lon propagates to NULL.
    """
    if not 0 <= res <= 25:
        raise ValueError("grid res must be in [0, 25]")
    s = grid_res_size(res)
    nx = 2 * (1 << res)
    ny = 1 << res
    gx = F.least(F.floor((lon + F.lit(180.0)) / F.lit(s)), F.lit(nx - 1)).cast("long")
    gy = F.least(F.floor((lat + F.lit(90.0)) / F.lit(s)), F.lit(ny - 1)).cast("long")
    gx = F.greatest(gx, F.lit(0))
    gy = F.greatest(gy, F.lit(0))
    cell = (F.lit(res) * F.lit(_P58) + gy * F.lit(_P26) + gx).cast("long")
    # explicit NULL *and NaN* guard: least()/greatest() SKIP null operands
    # and NaN sorts greatest in Spark, so either would silently land in
    # the max corner cell instead of propagating NULL (NaN half: r4
    # review). The SQL twin assumes QC'd (non-NaN) input, as every
    # oracle query feeds it pages_v.
    ok = lat.isNotNull() & lon.isNotNull() & ~F.isnan(lat) & ~F.isnan(lon)
    return F.when(ok, cell)


def grid_cell_sql(lat: str, lon: str, res: int) -> str:
    """DuckDB-SQL twin of :func:`grid_cell` (bit-identical int64, incl. the
    NULL guard — SQL LEAST/GREATEST also skip NULLs)."""
    s = grid_res_size(res)
    nx = 2 * (1 << res)
    ny = 1 << res
    gx = f"GREATEST(LEAST(CAST(FLOOR(({lon} + 180.0e0) / {_dlit(s)}) AS BIGINT), {nx - 1}), 0)"
    gy = f"GREATEST(LEAST(CAST(FLOOR(({lat} + 90.0e0) / {_dlit(s)}) AS BIGINT), {ny - 1}), 0)"
    cell = f"(CAST({res} AS BIGINT) * {_P58} + {gy} * {_P26} + {gx})"
    return f"(CASE WHEN {lat} IS NOT NULL AND {lon} IS NOT NULL THEN {cell} END)"


def grid_decode(cell: Column) -> tuple[Column, Column, Column]:
    """cell id -> (res, gx, gy) columns."""
    res = F.floor(cell / F.lit(_P58)).cast("int")
    rem = cell - res.cast("long") * F.lit(_P58)
    gy = F.floor(rem / F.lit(_P26)).cast("long")
    gx = (rem - gy * F.lit(_P26)).cast("long")
    return res, gx, gy


def grid_parent(cell: Column, res: int, parent_res: int) -> Column:
    """Exact integer parent-cell derivation (tile-pyramid rollup key).

    Analog of the reference's chunk-coordinate alignment
    (resample_regrid.py:272-277): child->parent is a floor-div by 2^dr.
    """
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    dr = res - parent_res
    _, gx, gy = grid_decode(cell)
    pgx = F.floor(gx / F.lit(1 << dr)).cast("long")
    pgy = F.floor(gy / F.lit(1 << dr)).cast("long")
    return (F.lit(parent_res) * F.lit(_P58) + pgy * F.lit(_P26) + pgx).cast("long")


def grid_parent_sql(cell: str, res: int, parent_res: int) -> str:
    dr = res - parent_res
    res_c = f"CAST(FLOOR({cell} / {_P58}) AS BIGINT)"
    rem = f"({cell} - {res_c} * {_P58})"
    gy = f"CAST(FLOOR({rem} / {_P26}) AS BIGINT)"
    gx = f"({rem} - {gy} * {_P26})"
    pgx = f"CAST(FLOOR({gx} / {1 << dr}) AS BIGINT)"
    pgy = f"CAST(FLOOR({gy} / {1 << dr}) AS BIGINT)"
    return f"(CAST({parent_res} AS BIGINT) * {_P58} + {pgy} * {_P26} + {pgx})"


def grid_cell_xy(lat: Column, lon: Column, res: int) -> tuple[Column, Column]:
    """(gx, gy) pair without packing — for Chebyshev k-ring join predicates.

    NULL/NaN coords yield NULL gx/gy (r4 review: the guard lives HERE, in
    the shared helper, so every caller — knn, tiles, streaming tiles —
    inherits it instead of re-adding per-site filters); NULL keys then
    drop out of equi-joins and groupBys naturally."""
    return grid_cell_xy_at(lat, lon, F.lit(res))


def grid_res_size_at(res: Column) -> Column:
    """Column form of :func:`grid_res_size` for a per-row resolution:
    180/2^res is exact in binary, so it equals the scalar bit for bit."""
    return F.lit(180.0) / F.pow(F.lit(2.0), res)


def grid_cell_xy_at(lat: Column, lon: Column, res: Column) -> tuple[Column, Column]:
    """:func:`grid_cell_xy` at a per-row resolution (an int column, e.g. a
    density tier); with a literal res the cell size and bounds fold to
    the same constants, so this is the one grid (gx, gy) definition."""
    s = grid_res_size_at(res)
    ny = F.pow(F.lit(2.0), res).cast("long")
    ok = lat.isNotNull() & lon.isNotNull() & ~F.isnan(lat) & ~F.isnan(lon)
    gx = F.greatest(F.least(F.floor((lon + F.lit(180.0)) / s), F.lit(2) * ny - F.lit(1)), F.lit(0)).cast("long")
    gy = F.greatest(F.least(F.floor((lat + F.lit(90.0)) / s), ny - F.lit(1)), F.lit(0)).cast("long")
    return F.when(ok, gx), F.when(ok, gy)


def grid_cell_xy_sql(lat: str, lon: str, res: int) -> tuple[str, str]:
    s = grid_res_size(res)
    nx = 2 * (1 << res)
    ny = 1 << res
    gx = f"GREATEST(LEAST(CAST(FLOOR(({lon} + 180.0e0) / {_dlit(s)}) AS BIGINT), {nx - 1}), 0)"
    gy = f"GREATEST(LEAST(CAST(FLOOR(({lat} + 90.0e0) / {_dlit(s)}) AS BIGINT), {ny - 1}), 0)"
    return gx, gy


# ---------------------------------------------------------------- Web-Mercator tiles
def mercator_tile_xy(lat: Column, lon: Column, zoom: int) -> tuple[Column, Column]:
    """Slippy-map tile (x, y) at ``zoom`` (lat clamped to Mercator bounds).

    Uses asinh(tan(lat)) — the standard OSM formula; JVM-side math, no UDF.
    """
    n = 1 << zoom
    lat_c = F.greatest(F.least(lat, F.lit(85.05112877980659)), F.lit(-85.05112877980659))
    tx = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    ty = F.floor(
        (F.lit(1.0) - F.asinh(F.tan(F.radians(lat_c))) / F.lit(math.pi)) / F.lit(2.0) * F.lit(float(n))
    )
    ok = lat.isNotNull() & lon.isNotNull()
    tx = F.when(ok, F.greatest(F.least(tx, F.lit(n - 1)), F.lit(0)).cast("long"))
    ty = F.when(ok, F.greatest(F.least(ty, F.lit(n - 1)), F.lit(0)).cast("long"))
    return tx, ty


def mercator_tile(lat: Column, lon: Column, zoom: int) -> Column:
    """Packed tile id: zoom*2^52 + ty*2^26 + tx (int64)."""
    if not 0 <= zoom <= 25:
        raise ValueError("zoom must be in [0, 25]")
    tx, ty = mercator_tile_xy(lat, lon, zoom)
    return (F.lit(zoom) * F.lit(_P52) + ty * F.lit(_P26) + tx).cast("long")


def mercator_decode(tile: Column) -> tuple[Column, Column, Column]:
    zoom = F.floor(tile / F.lit(_P52)).cast("int")
    rem = tile - zoom.cast("long") * F.lit(_P52)
    ty = F.floor(rem / F.lit(_P26)).cast("long")
    tx = (rem - ty * F.lit(_P26)).cast("long")
    return zoom, tx, ty


# ---------------------------------------------------------------- axial hex grid
# packing bound: |q| <= (sqrt3/3*180 + 90/3) * 2^res ~ 134*2^res and
# |r| <= 60*2^res must both stay < 2^20; q binds first -> res <= 12
HEX_MAX_RES = 12


def hex_res_size(res: int) -> float:
    """Hex 'size' (center->vertex, degrees) at resolution ``res``: 2^-res.

    res 7 -> ~0.0078 deg (~870 m at equator), comparable to H3 res-7 edge.
    """
    return 1.0 / float(1 << res)


def _hex_round_expr(q: Column, r: Column) -> tuple[Column, Column]:
    """Cube-round fractional axial coords; uses floor(x+0.5) so the SQL twin
    is bit-identical (engine ROUND() tie conventions differ)."""
    cy = -q - r
    rq = F.floor(q + F.lit(0.5))
    rr = F.floor(r + F.lit(0.5))
    ry = F.floor(cy + F.lit(0.5))
    dq = F.abs(rq - q)
    dr = F.abs(rr - r)
    dy = F.abs(ry - cy)
    out_q = F.when((dq > dr) & (dq > dy), -ry - rr).otherwise(rq)
    out_r = F.when(~((dq > dr) & (dq > dy)) & (dr > dy), -rq - ry).otherwise(rr)
    # when dq is largest, r keeps rr; when dr largest, q keeps rq; else both kept
    return out_q.cast("long"), out_r.cast("long")


def hex_cell_qr(lat: Column, lon: Column, res: int) -> tuple[Column, Column]:
    """Fractional pointy-top axial coords -> rounded (q, r) integer columns."""
    s = hex_res_size(res)
    q = (F.lit(_SQRT3_OVER3) * lon - F.lit(_ONE_THIRD) * lat) / F.lit(s)
    r = (F.lit(_TWO_THIRDS) * lat) / F.lit(s)
    return _hex_round_expr(q, r)


def hex_cell(lat: Column, lon: Column, res: int) -> Column:
    """Packed hex cell id: res*2^52 + (q+2^20)*2^21 + (r+2^20)  (int64)."""
    if not 0 <= res <= HEX_MAX_RES:
        # beyond res 12 the axial q coordinate (~134*2^res near the poles)
        # exceeds the 2^20 packing offset and distinct cells would collide
        raise ValueError(f"hex res must be in [0, {HEX_MAX_RES}]")
    q, r = hex_cell_qr(lat, lon, res)
    return (F.lit(res) * F.lit(_P52) + (q + F.lit(_P20)) * F.lit(_P21) + (r + F.lit(_P20))).cast("long")


def hex_qr_sql(lat: str, lon: str, res: int) -> tuple[str, str]:
    """SQL text for the rounded axial (q, r) pair (the hex_cell_qr twin)."""
    s = hex_res_size(res)
    fq = f"(({_dlit(_SQRT3_OVER3)} * {lon} - {_dlit(_ONE_THIRD)} * {lat}) / {_dlit(s)})"
    fr = f"(({_dlit(_TWO_THIRDS)} * {lat}) / {_dlit(s)})"
    fy = f"(-{fq} - {fr})"
    rq = f"FLOOR({fq} + 0.5e0)"
    rr = f"FLOOR({fr} + 0.5e0)"
    ry = f"FLOOR({fy} + 0.5e0)"
    dq = f"ABS({rq} - {fq})"
    dr = f"ABS({rr} - {fr})"
    dy = f"ABS({ry} - {fy})"
    out_q = f"CAST((CASE WHEN ({dq} > {dr}) AND ({dq} > {dy}) THEN -{ry} - {rr} ELSE {rq} END) AS BIGINT)"
    out_r = f"CAST((CASE WHEN NOT (({dq} > {dr}) AND ({dq} > {dy})) AND ({dr} > {dy}) THEN -{rq} - {ry} ELSE {rr} END) AS BIGINT)"
    return out_q, out_r


def hex_cell_sql(lat: str, lon: str, res: int) -> str:
    """DuckDB-SQL twin of :func:`hex_cell` (bit-identical int64)."""
    out_q, out_r = hex_qr_sql(lat, lon, res)
    return (
        f"(CAST({res} AS BIGINT) * {_P52} + ({out_q} + {_P20}) * {_P21}"
        f" + ({out_r} + {_P20}))"
    )


def hex_decode(cell: Column) -> tuple[Column, Column, Column]:
    res = F.floor(cell / F.lit(_P52)).cast("int")
    rem = cell - res.cast("long") * F.lit(_P52)
    q = (F.floor(rem / F.lit(_P21)) - F.lit(_P20)).cast("long")
    r = (rem - (F.floor(rem / F.lit(_P21))) * F.lit(_P21) - F.lit(_P20)).cast("long")
    return res, q, r


def hex_kring_offsets(k: int) -> list[tuple[int, int]]:
    """All (dq, dr) axial offsets with hex distance <= k (1 + 3k(k+1) cells).

    The k-ring expansion set for hex kNN — the graft analog of the
    reference's nearest-grid interpolation neighborhood
    (resample_regrid.py:94-107).
    """
    out = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            out.append((dq, dr))
    return out


def hex_cell_center(cell: Column) -> tuple[Column, Column]:
    """Hex cell id -> (lat, lon) of the cell center."""
    res, q, r = hex_decode(cell)
    s = F.pow(F.lit(2.0), -res.cast("double"))
    lat = F.lit(1.5) * r.cast("double") * s
    # inverse of hex_cell_qr: q = (sqrt3/3*lon - lat/3)/s  =>  lon = (q*s + lat/3)/(sqrt3/3)
    lon = (q.cast("double") * s + lat / F.lit(3.0)) / F.lit(_SQRT3_OVER3)
    return lat, lon


def coarsen_xy(zoom: Column, bgx: Column, bgy: Column, base_res: int) -> tuple[Column, Column]:
    """Parent-cell derivation: base-res grid coords -> coords at `zoom`
    (floor division by 2^(base_res - zoom)).

    The ONE definition shared by the batch tile_pyramid fan-out and the
    streaming tile maintenance (streaming/tiles.py) — their bit-for-bit
    parity contract rests on this expression, so it must not be
    re-derived at call sites (review r4)."""
    shift = F.pow(F.lit(2.0), (F.lit(base_res) - zoom).cast("double"))
    return (
        F.floor(bgx / shift).cast("long"),
        F.floor(bgy / shift).cast("long"),
    )
