"""The L0 -> L1 -> L2 pipeline, composed from the operator library.

Mirrors the reference's three entry points (SURVEY.md §3):
- L0->L1 `ingest` = raw_to_zarr.raw_to_zarr: scan pages -> extract lat/lon
  from text (native regexp; decode stage analog) -> QC (bounds, island,
  jump, min-group) -> cell encode -> write L1 + lineage checkpoint.
- L1 metadata agg = create_empty_zarr_store: per-batch aggregates sizing
  the global axis, prefix-sum offsets.
- L1->L2 `consolidate` = resample_regrid + pmtile_generation: global row
  index assignment, PIP join against the polygon set, tile-pyramid rollup,
  partitioned write.

Every level materializes (checkpointed pipeline, not operator pipelining —
the reference's design, SURVEY.md §4 'pipelining vs materialization') and
records lineage rows so a killed run resumes via anti-join.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import cells
from ..functions.s2 import s2_cell_udf
from ..operators import offsets as offsets_op
from ..operators import pip as pip_op
from ..operators import qc as qc_op
from ..operators import tiles as tiles_op
from ..operators.extract import classify_binary, extract_latlon
from ..sources.catalog import write_table
from ..sources.lineage import LineageLog


def ingest_l1(
    pages: DataFrame,
    grid_res: int = 7,
    s2_level: int = 12,
    with_s2: bool = True,
) -> DataFrame:
    """L0 -> L1: extract + QC + cell encode. Returns the L1 DataFrame
    (url, warc_ts, text byte-identical, lang, lat, lon, cell ids)."""
    df = extract_latlon(pages)
    df = df.withColumn("fmt", classify_binary(F.col("html"))) if "html" in pages.columns else df
    df = qc_op.apply_bounds_and_island(df)
    if "track_id" in df.columns:
        df = qc_op.monotonic_repair(df, ts_col="warc_ts", out_col="warc_ts_fixed")
        df = qc_op.distance_jump_filter(df, order_col="warc_ts_fixed")
        df = qc_op.min_group_size_filter(df)
    df = df.withColumn("cell_id", cells.grid_cell(F.col("lat"), F.col("lon"), grid_res)).withColumn(
        "hex_id", cells.hex_cell(F.col("lat"), F.col("lon"), 7)
    )
    if with_s2:
        df = df.withColumn("s2_id", s2_cell_udf(s2_level)(F.col("lat"), F.col("lon")))
    return df


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    polygons_pdf: pd.DataFrame,
    out_root: str,
    grid_res: int = 7,
    base_tile_res: int = 12,
    with_s2: bool = True,
    resume: bool = True,
) -> dict[str, str]:
    """Full L0->L1->L2 run; returns name->path of materialized tables."""
    os.makedirs(out_root, exist_ok=True)
    log = LineageLog(spark, out_root)
    paths = {}

    # ---- L1 (idempotent overwrite; resume skips if lineage says SUCCESS)
    if resume and log.exists():
        done = {r.batch_id for r in log.completed_batches("l1").collect()}
    else:
        done = set()
    l1_dir = os.path.join(out_root, "l1_pages")
    if "l1" not in done:
        # the lineage row count rides on the write job itself (an
        # Observation) when the write creates the table. Into an existing
        # one, dynamic partition overwrite keeps the `lang` partitions
        # this run does not write, so only a count of the table as read
        # matches what L2 consumes.
        fresh = not os.path.exists(l1_dir)
        rows = Observation("l1_rows")
        l1 = ingest_l1(pages, grid_res=grid_res, with_s2=with_s2).observe(rows, F.count(F.lit(1)).alias("n"))
        # sort each task's output by cell id: parquet row-group min/max
        # stats become selective, so cell-range readers (tile servers,
        # per-region jobs) skip row groups instead of scanning L1
        paths["l1"] = write_table(
            l1, out_root, "l1_pages", partition_by=("lang",), sort_within=("cell_id",)
        )
        # L1 is marked done only once it reads back: a write that left no
        # readable table is retried by a resume run
        l1 = spark.read.parquet(paths["l1"])
        log.record("l1", [("l1", None, rows.get["n"] if fresh else l1.count(), None)], "SUCCESS")
    else:
        paths["l1"] = l1_dir
        l1 = spark.read.parquet(paths["l1"])

    # ---- L1 metadata + offsets (create_empty_zarr_store analog) — the
    # track stages only exist for track-shaped inputs (ingest_l1 guards
    # the same way; an unconditional reference crashed track-less runs
    # AFTER paying for the L1 write — r4 review)
    if "track_id" in l1.columns:
        meta = offsets_op.batch_metadata(l1, batch_col="track_id", ts_col="warc_ts")
        meta_off = offsets_op.assign_offsets(meta)
        paths["lineage_metrics"] = write_table(meta_off, out_root, "lineage_metrics")
        log.record_stage_metrics("l1_meta", l1.filter(F.col("track_id").isNotNull()), "track_id")
    log.record_partition_metrics("l1_partitions", l1)

    # ---- L2: PIP join + tile pyramid (resume skips when lineage says the
    # l2 stage completed AND the outputs exist — previously only L1 was
    # consulted, so a run killed after the tile write re-ran the two most
    # expensive jobs every time; r4 review)
    pip_path = os.path.join(out_root, "page_polygon_assignments")
    tile_path = os.path.join(out_root, "tile_pyramid")
    l2_done = (
        resume
        and log.exists()
        and log.completed_batches("l2").count() > 0
        and os.path.exists(pip_path)
        and os.path.exists(tile_path)
    )
    if l2_done:
        paths["pip"] = pip_path
        paths["tiles"] = tile_path
    else:
        pip_res = pip_op.pip_join(l1, polygons_pdf, res=grid_res, keep_cols=("url", "lang"))
        paths["pip"] = write_table(pip_res, out_root, "page_polygon_assignments")

        tiles = tiles_op.tile_pyramid(l1, base_res=base_tile_res, min_res=4)
        paths["tiles"] = write_table(
            tiles, out_root, "tile_pyramid", partition_by=("zoom",), sort_within=("cell_id",)
        )
        log.record("l2", [("l2", None, None, None)], "SUCCESS")
    return paths
