"""End-to-end L0->L1->L2 pipeline test — the analog of the reference's
moto-backed raw_to_zarr -> create_empty_zarr_store -> resample_regrid
chain (tests/cruise/test_resample_regrid.py), on deterministic fixtures."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from water_column_sonar_processing_spark.plans.pipeline import run_pipeline
from water_column_sonar_processing_spark.sources.lineage import LineageLog


def test_pipeline_end_to_end(spark, pages_pdf, polygons_pdf, tmp_path_factory):
    out_root = str(tmp_path_factory.mktemp("pipe"))
    pages = spark.createDataFrame(pages_pdf)
    paths = run_pipeline(spark, pages, polygons_pdf, out_root, with_s2=True)

    l1 = spark.read.parquet(paths["l1"])
    assert l1.count() == len(pages_pdf)
    # per-row invariant: text byte-identical per url after the whole pipeline
    src = spark.createDataFrame(pages_pdf[["url", "text"]]).withColumnRenamed("text", "text_src")
    diff = l1.join(src, "url").filter(F.col("text") != F.col("text_src")).count()
    assert diff == 0
    # cells present for valid coords
    assert l1.filter(F.col("lat").isNotNull() & F.col("cell_id").isNull()).count() == 0
    assert l1.filter(F.col("lat").isNotNull() & F.col("s2_id").isNull()).count() == 0
    # partitioned layout (lang=...) on disk — the Iceberg partition analog
    assert any(d.startswith("lang=") for d in os.listdir(paths["l1"]))

    meta = spark.read.parquet(paths["lineage_metrics"])
    rows = {r["track_id"]: r for r in meta.collect()}
    assert len(rows) == 8  # 8 generated tracks
    # offsets are dense and ordered by start_ts
    ordered = sorted(rows.values(), key=lambda r: r["start_ts"])
    pos = 0
    for r in ordered:
        assert r["start_idx"] == pos
        assert r["end_idx"] == pos + r["num_rows_valid"]
        pos = r["end_idx"]

    pip = spark.read.parquet(paths["pip"])
    assert pip.count() > 0
    # hot-cell pages fall inside the hot polygons
    hot = pip.filter(F.col("polygon_id").isin(0, 1)).count()
    assert hot > 0

    tiles = spark.read.parquet(paths["tiles"])
    per_zoom = {r["zoom"]: r["n"] for r in tiles.groupBy("zoom").agg(F.sum("doc_count").alias("n")).collect()}
    assert len(set(per_zoom.values())) == 1  # rollup conserves rows

    # lineage recorded and resume skips L1
    log = LineageLog(spark, out_root)
    assert log.completed_batches("l1").count() == 1
    mtimes = {f: os.path.getmtime(os.path.join(paths["l1"], f)) for f in os.listdir(paths["l1"])}
    run_pipeline(spark, pages, polygons_pdf, out_root)  # second run
    mtimes2 = {f: os.path.getmtime(os.path.join(paths["l1"], f)) for f in os.listdir(paths["l1"])}
    assert mtimes == mtimes2  # L1 untouched on resume


def test_run_pipeline_trackless_pages(spark, tmp_path):
    """Review r4: a pages table without track_id must run end-to-end (the
    track-stage references used to crash AFTER the L1 write)."""
    import pandas as pd
    from water_column_sonar_processing_spark.plans.pipeline import run_pipeline

    pages = spark.createDataFrame(
        [(f"u{i}", f"url=u{i} lat=10.0000{i % 10} lon=20.0000{i % 10}", "en") for i in range(50)],
        "url string, text string, lang string",
    )
    polys = pd.DataFrame(
        [dict(polygon_id=0, wkt="POLYGON ((5 5, 25 5, 25 25, 5 25, 5 5))")]
    )
    paths = run_pipeline(spark, pages, polys, str(tmp_path / "out"), resume=False)
    assert "lineage_metrics" not in paths  # track stages skipped, not crashed
    assert spark.read.parquet(paths["l1"]).count() == 50
    # the L1 lineage row count is observed on the write job itself
    l1_log = LineageLog(spark, str(tmp_path / "out")).read().filter(F.col("stage") == "l1")
    assert [r["row_count"] for r in l1_log.collect()] == [50]
    assert spark.read.parquet(paths["pip"]).count() == 50


def _lang_pages(spark, langs, n):
    return spark.createDataFrame(
        [(f"{lang}{i}", f"url={lang}{i} lat=10.0000{i % 10} lon=20.0000{i % 10}", lang) for lang in langs for i in range(n)],
        "url string, text string, lang string",
    )


def test_run_pipeline_rerun_lineage_counts_whole_l1(spark, tmp_path):
    """A rerun into an existing out_root overwrites only the `lang`
    partitions it writes: the L1 lineage row_count is still the row count
    of the L1 table that L2 then reads, not of this run's write."""
    import pandas as pd

    polys = pd.DataFrame([dict(polygon_id=0, wkt="POLYGON ((5 5, 25 5, 25 25, 5 25, 5 5))")])
    out = str(tmp_path / "out")
    run_pipeline(spark, _lang_pages(spark, ["en", "de"], 20), polys, out, resume=False)
    paths = run_pipeline(spark, _lang_pages(spark, ["fr"], 10), polys, out, resume=False)
    assert spark.read.parquet(paths["l1"]).count() == 50
    l1_log = LineageLog(spark, out).read().filter(F.col("stage") == "l1")
    assert sorted(r["row_count"] for r in l1_log.collect()) == [40, 50]
    assert spark.read.parquet(paths["pip"]).count() == 50


def test_run_pipeline_empty_input_does_not_mark_l1_done(spark, tmp_path):
    """An empty pages table leaves no readable L1 table; the run fails at
    that read, before the L1 stage is recorded, so a resume run retries
    L1 instead of skipping it."""
    import pandas as pd
    from pyspark.errors import AnalysisException

    polys = pd.DataFrame([dict(polygon_id=0, wkt="POLYGON ((5 5, 25 5, 25 25, 5 25, 5 5))")])
    out = str(tmp_path / "out")
    with pytest.raises(AnalysisException):
        run_pipeline(spark, _lang_pages(spark, [], 1), polys, out)
    log = LineageLog(spark, out)
    assert not log.exists() or log.completed_batches("l1").count() == 0


def test_run_pipeline_l2_resume_skips_recompute(spark, tmp_path, pages_pdf, polygons_pdf):
    """Review r4: a completed run re-invoked with resume=True must skip
    the L2 recompute (lineage 'l2' SUCCESS + outputs present)."""
    import os

    pages = spark.createDataFrame(pages_pdf)
    out = str(tmp_path / "out")
    p1 = run_pipeline(spark, pages, polygons_pdf, out)
    mtime = os.path.getmtime(p1["tiles"])
    p2 = run_pipeline(spark, pages, polygons_pdf, out, resume=True)
    assert p2["tiles"] == p1["tiles"]
    assert os.path.getmtime(p2["tiles"]) == mtime  # not rewritten
