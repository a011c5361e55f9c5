"""All-JVM exact PIP refine: ray casting as a broadcast edge-array fold.

The even-odd ray cast counts polygon edges crossed by a horizontal ray.
Each polygon's edge list rides in ONE broadcast row as an
array<struct<xi,yi,xj,yj>>; after the cover join, the crossing count is
an F.aggregate higher-order fold over that array evaluated per candidate
row — map-side only: NO Python/Arrow hop, NO row expansion, NO shuffle.
(Two rejected alternatives, both measured slower at 10^8 rows: the
pandas-UDF refine pays an Arrow round trip per candidate; an edge-JOIN +
parity-groupBy pays a shuffle of the candidate set.)

Same crossing expression as operators/pip.py's numpy refine — identical
IEEE semantics, hence identical accept/reject decisions (tested equal).
The Arrow refine remains preferable only for huge-vertex polygons where
per-batch numpy beats the interpreted per-row fold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pip import build_cover_df, parse_wkt_polygon


def build_edges_df(
    spark: SparkSession,
    polygons_pdf: pd.DataFrame,
    rings: "list | None" = None,
) -> DataFrame:
    """Polygon table -> broadcastable edge table (polygon_id, xi, yi, xj, yj)."""
    from .pip import normalize_rings

    # lobes (antimeridian split) pool their edges under one polygon_id:
    # disjoint lobes keep even-odd parity correct over the combined set
    ring_list = rings if rings is not None else normalize_rings(polygons_pdf)
    pid = np.repeat(
        np.array([p for p, _ in ring_list], dtype=np.int64), np.array([len(r) for _, r in ring_list], dtype=np.int64)
    )
    xy = np.concatenate([r for _, r in ring_list] or [np.empty((0, 2))])
    prev = np.concatenate([np.roll(r, 1, axis=0) for _, r in ring_list] or [np.empty((0, 2))])
    pdf = pd.DataFrame({"polygon_id": pid, "xi": xy[:, 0], "yi": xy[:, 1], "xj": prev[:, 0], "yj": prev[:, 1]})
    schema = T.StructType(
        [
            T.StructField("polygon_id", T.LongType(), False),
            T.StructField("xi", T.DoubleType(), False),
            T.StructField("yi", T.DoubleType(), False),
            T.StructField("xj", T.DoubleType(), False),
            T.StructField("yj", T.DoubleType(), False),
        ]
    )
    # a pandas frame becomes an Arrow-backed LocalRelation: no Python-RDD
    # conversion job on the driver
    return spark.createDataFrame(pdf, schema=schema)


def pip_join_jvm(
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    res: int = 7,
    lat: str = "lat",
    lon: str = "lon",
    keep_cols: tuple[str, ...] = ("url",),
    rings: "list | None" = None,
) -> DataFrame:
    """Two-phase PIP join with the all-JVM edge-parity refine.

    Phase 1 identical to operators/pip.py (broadcast cell cover, FULL
    cells accepted sans test). Phase 2: boundary candidates join the
    broadcast edge table on polygon_id; the horizontal-ray crossing
    predicate filters edges; odd crossing count per (point, polygon) means
    inside. Columns in keep_cols must uniquely key a point row.
    """
    from ..functions import cells

    from .pip import normalize_rings

    spark = points.sparkSession
    if rings is None:
        rings = normalize_rings(polygons_pdf)  # parse + split once
    cover = build_cover_df(spark, polygons_pdf, res, rings=rings)
    edges = build_edges_df(spark, polygons_pdf, rings=rings)

    pts = points.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull()).withColumn(
        "cell_id", cells.grid_cell(F.col(lat), F.col(lon), res)
    )
    cand = pts.join(F.broadcast(cover), "cell_id").select(*keep_cols, lat, lon, "polygon_id", "is_full")

    # SINGLE pass, ZERO shuffle: each polygon's edges ride as ONE broadcast
    # array row; the crossing count is an F.aggregate fold over that array
    # per candidate — no row expansion, no groupBy (an edge-JOIN + parity
    # agg variant was measurably shuffle-bound at 10^8 rows). Crossing
    # predicate mirrors _points_in_poly bit-for-bit.
    edges_arr = edges.groupBy("polygon_id").agg(
        F.collect_list(F.struct("xi", "yi", "xj", "yj")).alias("edges")
    )
    joined = cand.join(F.broadcast(edges_arr), "polygon_id")
    x, y = F.col(lon), F.col(lat)

    def _crossed(acc, e):
        cross = ((e["yi"] > y) != (e["yj"] > y)) & (
            x < (e["xj"] - e["xi"]) * (y - e["yi"]) / (e["yj"] - e["yi"]) + e["xi"]
        )
        return acc + F.when(cross, F.lit(1)).otherwise(F.lit(0))

    n_cross = F.aggregate(F.col("edges"), F.lit(0), _crossed)
    return joined.filter(F.col("is_full") | (n_cross % 2 == 1)).select(*keep_cols, "polygon_id")
