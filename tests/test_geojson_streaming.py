"""GeoJSON round-trip + streaming ingest tests."""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

from pyspark.sql import functions as F

from water_column_sonar_processing_spark.operators import tracks as tracks_op
from water_column_sonar_processing_spark.sources import geojson as gj
from water_column_sonar_processing_spark.streaming.ingest import stream_ingest_l1


@contextmanager
def _no_data_batches_off(spark):
    """sessionize_stream's processing-time timeout asks for another
    (no-data) batch after every batch, so an availableNow query over it
    never terminates and keeps running after the test. With no-data
    batches off the drain ends once the landed files are processed."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_geojson_roundtrip(spark, track_points_df):
    """tracks_to_geojson -> parse -> points: the S12/S13 inverse pair."""
    sink = tracks_op.tracks_to_geojson(track_points_df)
    fc = sink.select(
        F.to_json(
            F.struct(
                F.lit("FeatureCollection").alias("type"),
                F.array(F.from_json("geojson", gj.FEATURE_SCHEMA)).alias("features"),
            )
        ).alias("geojson"),
        "track_id",
        "n_points",
    )
    feats = gj.parse_feature_collections(fc)
    pts = gj.linestring_to_points(feats.select("coordinates", "geom_type"))
    n_in = track_points_df.filter(F.col("lat").isNotNull()).count()
    assert pts.count() == n_in
    got = pts.filter(F.col("seq") == 0).count()
    assert got == 4  # one first-point per track
    # coordinates survive the round trip (float32 -> json -> double)
    one = json.loads(sink.limit(1).collect()[0]["geojson"])
    assert one["geometry"]["type"] == "LineString"


def test_streaming_ingest_availablenow(spark, pages_pdf, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    pages_pdf[["url", "warc_ts", "text", "lang"]].to_parquet(in_dir + "/batch1.parquet", index=False)

    qy = stream_ingest_l1(spark, in_dir, out_dir, ckpt)
    qy.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    assert out.count() == len(pages_pdf)
    assert "cell_id" in out.columns and "lang" in out.columns
    # exactly-once: re-running with the same checkpoint adds nothing
    qy2 = stream_ingest_l1(spark, in_dir, out_dir, ckpt)
    qy2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == len(pages_pdf)
    # new file -> incremental processing
    pages_pdf[["url", "warc_ts", "text", "lang"]].head(100).assign(
        url=lambda d: d["url"] + "?v2"
    ).to_parquet(in_dir + "/batch2.parquet", index=False)
    qy3 = stream_ingest_l1(spark, in_dir, out_dir, ckpt)
    qy3.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == len(pages_pdf) + 100


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization == the batch window twin after
    a full drain (closed sessions; the open tail stays in state)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from water_column_sonar_processing_spark.streaming.stateful import (
        sessionize_batch,
        sessionize_stream,
    )

    rng = np.random.default_rng(31)
    rows = []
    for u in range(6):
        t = 0
        for _ in range(40):
            t += int(rng.integers(1, 4_000_000_000))  # gaps straddle 1.8e9
            rows.append((u, t))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts_us"])
    in_dir = str(tmp_path / "sess_in")
    import os

    os.makedirs(in_dir)
    pdf.to_parquet(in_dir + "/b1.parquet", index=False)

    src = spark.readStream.schema("user_id long, ts_us long").parquet(in_dir)
    with _no_data_batches_off(spark):
        q = (
            sessionize_stream(src)
            .writeStream.format("memory")
            .queryName("sessions_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    got = spark.table("sessions_out").toPandas()

    batch = sessionize_batch(spark.createDataFrame(pdf)).toPandas()
    # gap-closed sessions MUST be emitted; open tails emit only when the
    # processing-time timeout fires, which a drain without no-data
    # batches never runs — so: stream ⊆ batch and closed ⊆ stream, exactly
    open_tail = batch.sort_values("session_end").groupby("user_id").tail(1)
    closed = batch.merge(open_tail, how="left", indicator=True).query("_merge == 'left_only'")
    key = ["user_id", "session_start", "session_end", "n_events"]
    got_set = set(map(tuple, got[key].values.tolist()))
    batch_set = set(map(tuple, batch[key].values.tolist()))
    closed_set = set(map(tuple, closed[key].values.tolist()))
    assert closed_set <= got_set  # every gap-closed session emitted
    assert got_set <= batch_set  # nothing fabricated
    assert len(closed_set) > 6  # multiple closed sessions actually occurred


def test_stateful_sessionize_resumes_across_drains(spark, tmp_path):
    """GroupState must survive a query restart: an open session whose
    events span two separate availableNow drains (same checkpoint) is
    emitted as ONE merged row when a later gap closes it — not split at
    the drain boundary."""
    import os

    import pandas as pd

    from water_column_sonar_processing_spark.streaming.stateful import sessionize_stream

    in_dir = str(tmp_path / "sess_resume_in")
    out_dir = str(tmp_path / "sess_resume_out")
    ckpt = str(tmp_path / "sess_resume_ckpt")
    os.makedirs(in_dir)
    # drain 1: an open session for user 7 (no gap yet -> nothing emitted)
    pd.DataFrame({"user_id": [7, 7], "ts_us": [1_000, 500_000]}).to_parquet(
        in_dir + "/b1.parquet", index=False
    )

    def drain():
        # parquet sink: the memory sink can't recover from a checkpoint
        src = spark.readStream.schema("user_id long, ts_us long").parquet(in_dir)
        with _no_data_batches_off(spark):
            q = (
                sessionize_stream(src)
                .writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
        return spark.read.parquet(out_dir).toPandas()

    out1 = drain()
    assert len(out1) == 0  # session still open, nothing closed
    # drain 2: one more event inside the session, then a gap that closes it
    pd.DataFrame({"user_id": [7, 7], "ts_us": [900_000, 5_000_000_000]}).to_parquet(
        in_dir + "/b2.parquet", index=False
    )
    out2 = drain()
    rows = set(map(tuple, out2[["user_id", "session_start", "session_end", "n_events"]].values.tolist()))
    # the closed session merges events from BOTH drains: state resumed
    assert (7, 1_000, 900_000, 3) in rows


def test_streaming_tile_pyramid_matches_batch(spark, pages_pdf, tmp_path):
    """Incremental tile maintenance == batch tile_pyramid on the landed
    files, exactly — including across a second availableNow drain that
    resumes from checkpointed aggregation state."""
    from water_column_sonar_processing_spark.operators import tiles as tiles_op
    from water_column_sonar_processing_spark.streaming.ingest import transform_stream as _ts
    from water_column_sonar_processing_spark.streaming.tiles import stream_tile_pyramid

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    cols = ["url", "warc_ts", "text", "lang"]
    pages_pdf[cols].to_parquet(in_dir + "/batch1.parquet", index=False)

    def batch_tiles():
        src = spark.read.schema(
            "url string, warc_ts timestamp, text string, lang string"
        ).parquet(in_dir)
        l1 = _ts(src, 7)
        out = tiles_op.tile_pyramid(l1, base_res=8, min_res=4)
        return {(r["zoom"], r["gx"], r["gy"]): r["doc_count"] for r in out.collect()}

    qy = stream_tile_pyramid(spark, in_dir, ckpt, table_name="tile_stream_t1", base_res=8, min_res=4)
    qy.awaitTermination(120)
    got = {
        (r["zoom"], r["gx"], r["gy"]): r["doc_count"]
        for r in spark.table("tile_stream_t1").collect()
    }
    assert got == batch_tiles() and len(got) > 0

    # land a second file; a new drain resumes from state and stays exact
    pages_pdf[cols].head(200).assign(url=lambda d: d["url"] + "?v2").to_parquet(
        in_dir + "/batch2.parquet", index=False
    )
    qy2 = stream_tile_pyramid(spark, in_dir, ckpt, table_name="tile_stream_t2", base_res=8, min_res=4)
    qy2.awaitTermination(120)
    got2 = {
        (r["zoom"], r["gx"], r["gy"]): r["doc_count"]
        for r in spark.table("tile_stream_t2").collect()
    }
    assert got2 == batch_tiles()
    assert sum(got2.values()) > sum(got.values())


def test_streaming_partial_pyramid_base14_matches_batch(spark, pages_pdf, tmp_path):
    """Finer-base pattern (base_res 14 — too many keys for complete-mode
    state): zero-state per-batch partials + batch compaction must equal
    the batch tile_pyramid on the landed files EXACTLY, including across
    a second drain that appends new partials, and replaying a batch's
    partial write must stay idempotent."""
    from water_column_sonar_processing_spark.operators import tiles as tiles_op
    from water_column_sonar_processing_spark.streaming.ingest import transform_stream as _ts
    from water_column_sonar_processing_spark.streaming.tiles import (
        compact_tile_partials,
        stream_tile_partials,
        tile_counts_stream,
    )

    in_dir = str(tmp_path / "in14")
    parts_dir = str(tmp_path / "partials14")
    ckpt = str(tmp_path / "ckpt14")
    os.makedirs(in_dir)
    cols = ["url", "warc_ts", "text", "lang"]
    pages_pdf[cols].to_parquet(in_dir + "/batch1.parquet", index=False)

    def batch_tiles():
        src = spark.read.schema(
            "url string, warc_ts timestamp, text string, lang string"
        ).parquet(in_dir)
        out = tiles_op.tile_pyramid(_ts(src, 7), base_res=14, min_res=4)
        return {(r["zoom"], r["gx"], r["gy"]): r["doc_count"] for r in out.collect()}

    qy = stream_tile_partials(spark, in_dir, parts_dir, ckpt, base_res=14, min_res=4)
    qy.awaitTermination(120)
    got = {
        (r["zoom"], r["gx"], r["gy"]): r["doc_count"]
        for r in compact_tile_partials(spark, parts_dir).collect()
    }
    expected = batch_tiles()
    assert got == expected and len(got) > 0

    # second landing -> new drain appends new partials; compaction exact
    pages_pdf[cols].head(150).assign(url=lambda d: d["url"] + "?v2").to_parquet(
        in_dir + "/batch2.parquet", index=False
    )
    qy2 = stream_tile_partials(spark, in_dir, parts_dir, ckpt, base_res=14, min_res=4)
    qy2.awaitTermination(120)
    got2 = {
        (r["zoom"], r["gx"], r["gy"]): r["doc_count"]
        for r in compact_tile_partials(spark, parts_dir).collect()
    }
    assert got2 == batch_tiles()
    assert sum(got2.values()) > sum(got.values())

    # idempotent replay: rewriting batch partition 0 (at-least-once crash
    # replay) changes nothing in the compacted result
    src0 = spark.read.schema(
        "url string, warc_ts timestamp, text string, lang string"
    ).parquet(in_dir + "/batch1.parquet")
    replay = tile_counts_stream(_ts(src0, 7), base_res=14, min_res=4)
    replay.write.mode("overwrite").parquet(parts_dir + "/batch_id=0")
    got3 = {
        (r["zoom"], r["gx"], r["gy"]): r["doc_count"]
        for r in compact_tile_partials(spark, parts_dir).collect()
    }
    assert got3 == got2


def test_geojson_point_features_parse(spark):
    """Review r4: Point features normalize to one-element coordinate
    arrays instead of silently nulling (the line-only schema coerced the
    scalar array to NULL)."""
    from water_column_sonar_processing_spark.sources import geojson as gj

    fc = (
        '{"type":"FeatureCollection","features":['
        '{"type":"Feature","id":"p1","geometry":{"type":"Point","coordinates":[12.5,41.9]},"properties":{"k":"v"}},'
        '{"type":"Feature","id":"l1","geometry":{"type":"LineString","coordinates":[[1.0,2.0],[3.0,4.0]]},"properties":{}}]}'
    )
    df = spark.createDataFrame([(fc,)], "geojson string")
    rows = {r["feature_id"]: r for r in gj.parse_feature_collections(df).collect()}
    assert rows["p1"]["geom_type"] == "Point"
    assert [list(c) for c in rows["p1"]["coordinates"]] == [[12.5, 41.9]]
    assert [list(c) for c in rows["l1"]["coordinates"]] == [[1.0, 2.0], [3.0, 4.0]]
    pts = gj.linestring_to_points(gj.parse_feature_collections(df)).collect()
    got = {(r["feature_id"], r["seq"]): (r["lon"], r["lat"]) for r in pts}
    assert got[("p1", 0)] == (12.5, 41.9) and got[("l1", 1)] == (3.0, 4.0)
