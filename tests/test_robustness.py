"""Empty-input / error-path robustness (the reference pins exception
messages, tests/geometry/test_spatiotemporal.py:116-129 — same spirit)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from water_column_sonar_processing_spark.functions import cells
from water_column_sonar_processing_spark.operators import knn as knn_op
from water_column_sonar_processing_spark.operators import offsets as offsets_op
from water_column_sonar_processing_spark.operators import pip as pip_op
from water_column_sonar_processing_spark.operators import tiles as tiles_op
from water_column_sonar_processing_spark.operators import tracks as tracks_op


@pytest.fixture(scope="module")
def empty_pages(spark):
    return spark.createDataFrame(
        [], "url string, warc_ts timestamp, text string, lang string, lat double, lon double, track_id string"
    )


def test_empty_input_through_operators(spark, empty_pages, polygons_pdf):
    assert pip_op.pip_join(empty_pages, polygons_pdf, res=5).count() == 0
    assert tiles_op.tile_pyramid(empty_pages, base_res=8, min_res=4).count() == 0
    assert knn_op.knn_grid(empty_pages, empty_pages, k=3).count() == 0
    meta = offsets_op.batch_metadata(empty_pages)
    assert offsets_op.assign_offsets(meta).count() == 0


def test_empty_tracks_through_udf_ops(spark):
    df = spark.createDataFrame([], "track_id string, ts long, lat double, lon double")
    assert tracks_op.kalman_smooth(df).count() == 0
    assert tracks_op.simplify_tracks(df).count() == 0
    assert tracks_op.track_metrics(df).count() == 0


def test_res_bounds_raise():
    with pytest.raises(ValueError):
        cells.grid_cell(F.lit(0.0), F.lit(0.0), 26)
    with pytest.raises(ValueError):
        cells.hex_cell(F.lit(0.0), F.lit(0.0), 16)
    with pytest.raises(ValueError):
        cells.mercator_tile(F.lit(0.0), F.lit(0.0), -1)
    with pytest.raises(ValueError):
        cells.grid_parent(F.lit(0), 5, 7)


def test_bad_wkt_raises():
    with pytest.raises(ValueError):
        pip_op.parse_wkt_polygon("LINESTRING (0 0, 1 1)")


def test_single_point_track(spark):
    df = spark.createDataFrame([("t", 100, 1.0, 2.0)], "track_id string, ts long, lat double, lon double")
    out = tracks_op.track_metrics(df).collect()
    assert len(out) == 1 and out[0]["speed_mps"] is None  # no neighbor to diff
    k = tracks_op.kalman_smooth(df).collect()
    assert k[0]["lat_smooth"] == 1.0  # single obs passes through


def test_all_dirty_batch_rejected(spark, polygons_pdf):
    """A batch where every coordinate fails QC contributes nothing
    downstream but doesn't error."""
    from water_column_sonar_processing_spark.operators import qc

    rows = [(f"u{i}", "t1", float(95 + i), 200.0) for i in range(6)]
    df = spark.createDataFrame(rows, "url string, track_id string, lat double, lon double")
    out = qc.apply_bounds_and_island(df)
    assert out.filter(F.col("lat").isNotNull()).count() == 0
    assert qc.min_group_size_filter(out).count() == 0  # <4 valid -> dropped


def test_dedup_pair_ops_on_empty_and_degenerate(spark):
    from water_column_sonar_processing_spark.operators import dedup as dedup_op

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup_op.simhash_neardup_pairs(empty).count() == 0
    assert dedup_op.minhash_lsh_pairs(empty).count() == 0
    sh = empty.select("doc_id", dedup_op.shingles("text", 5).alias("sh"))
    assert dedup_op.jaccard_selfjoin_exact(sh).count() == 0

    # degenerate: empty-string and sub-shingle-length texts don't error;
    # identical docs are found as a pair at any threshold
    rows = [(1, ""), (2, "ab"), (3, "identical text body"), (4, "identical text body")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = df.select("doc_id", dedup_op.shingles("text", 5).alias("sh"))
    pairs = {(r["id_a"], r["id_b"]) for r in dedup_op.jaccard_selfjoin_exact(sh, threshold_x1000=1000).collect()}
    assert (3, 4) in pairs
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in dedup_op.simhash_neardup_pairs(df, max_hamming=0).collect()}
    assert ham.get((3, 4)) == 0


def test_r3_operators_on_empty_input(spark):
    """dedup_corpus / sampling / packing / interval / topk all tolerate
    empty frames (the resume-from-nothing shape)."""
    from water_column_sonar_processing_spark.operators import dedup as dedup_op
    from water_column_sonar_processing_spark.operators.interval import interval_join
    from water_column_sonar_processing_spark.operators.packing import chunk_pack, greedy_pack
    from water_column_sonar_processing_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
    )
    from water_column_sonar_processing_spark.operators.topk import topk_per_key

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert dedup_op.dedup_corpus(empty_docs).count() == 0
    assert dedup_op.dedup_corpus(empty_docs, verify_threshold=None).count() == 0

    empty_tok = spark.createDataFrame([], "doc_id long, host string, n_tokens long")
    assert hash_sample(empty_tok, 0.5).count() == 0
    assert stratified_sample(empty_tok, "host", 3).count() == 0
    assert chunk_pack(empty_tok, by="host").count() == 0
    assert greedy_pack(empty_tok, by="host").count() == 0
    assert topk_per_key(empty_tok, "host", "n_tokens", 3, "doc_id").count() == 0

    pts = spark.createDataFrame([], "event_id long, ts long")
    iv = spark.createDataFrame([(1, 0, 10)], "win_id long, start long, end long")
    assert interval_join(pts, iv, bucket_width=5).count() == 0
    assert interval_join(pts, iv, bucket_width=5, how="left").count() == 0


def test_empty_vocabulary_through_jaccard_and_dedup(spark):
    """Every document's token set empty (or a single document): the bitmap
    paths get a zero-token vocabulary and must return no pairs / keep every
    document instead of failing in the popcount kernel."""
    from water_column_sonar_processing_spark.operators import dedup as dedup_op

    # df_order=False keeps integer tokens as they are, so empty sets reach
    # the bitmap scan with nothing to factorize (the failing case)
    empty_sets = spark.createDataFrame([(1, []), (2, []), (3, [])], "doc_id long, sh array<bigint>")
    assert dedup_op.jaccard_selfjoin_exact(empty_sets, threshold_x1000=150, df_order=False).count() == 0
    one_set = spark.createDataFrame([(1, [5, 7, 9])], "doc_id long, sh array<bigint>")
    assert dedup_op.jaccard_selfjoin_exact(one_set, threshold_x1000=150, df_order=False).count() == 0
    empty_text = spark.createDataFrame([(1, []), (2, [])], "doc_id long, sh array<string>")
    assert dedup_op.jaccard_selfjoin_exact(empty_text, threshold_x1000=150).count() == 0

    null_docs = spark.createDataFrame([(1, None), (2, None), (3, None)], "doc_id long, text string")
    assert sorted(r["doc_id"] for r in dedup_op.dedup_corpus(null_docs).collect()) == [1, 2, 3]
    single = spark.createDataFrame([(7, "one lonely document")], "doc_id long, text string")
    assert [r["doc_id"] for r in dedup_op.dedup_corpus(single).collect()] == [7]
