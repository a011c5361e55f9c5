"""Lineage/resume + multimodal plumbing + skew-helper tests."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from water_column_sonar_processing_spark.operators import multimodal as mm
from water_column_sonar_processing_spark.operators import skew as skew_op
from water_column_sonar_processing_spark.sources.lineage import LineageLog


def test_lineage_resume_anti_join(spark, tmp_path):
    log = LineageLog(spark, str(tmp_path))
    work = spark.createDataFrame([("b1",), ("b2",), ("b3",)], "batch string")
    assert log.pending("s1", work, "batch").count() == 3
    log.record("s1", [("b1", None, 10, None)], "SUCCESS")
    log.record("s1", [("b2", None, 5, None)], "FAILURE")
    pend = {r["batch"] for r in log.pending("s1", work, "batch").collect()}
    assert pend == {"b2", "b3"}  # FAILURE batches retry; SUCCESS skipped
    # idempotent redo: a later SUCCESS supersedes the FAILURE
    log.record("s1", [("b2", None, 5, None)], "SUCCESS")
    assert {r["batch"] for r in log.pending("s1", work, "batch").collect()} == {"b3"}


def test_lineage_compaction_latest_wins(spark, tmp_path):
    """The MERGE-shaped upsert seam (lineage.py:compact): FAILURE then
    SUCCESS for the same (stage, batch) compacts to ONE SUCCESS row, and
    pending() resumes identically before and after compaction — the
    Iceberg MERGE INTO latest-wins semantics on the parquet log."""
    log = LineageLog(spark, str(tmp_path))
    work = spark.createDataFrame([("b1",), ("b2",), ("b3",)], "batch string")
    log.record("s1", [("b1", None, 10, None)], "SUCCESS")
    log.record("s1", [("b2", None, 5, None)], "FAILURE")
    log.record("s1", [("b2", None, 5, None)], "SUCCESS")  # the retry
    log.record("s2", [("b1", None, 7, None)], "FAILURE")  # other stage
    before = {r["batch"] for r in log.pending("s1", work, "batch").collect()}
    assert before == {"b3"}
    assert log.read().count() == 4

    log.compact()
    # one row per (stage, batch); the b2 survivor is the SUCCESS retry
    assert log.read().count() == 3
    rows = {(r["stage"], r["batch_id"]): r["status"] for r in log.read().collect()}
    assert rows[("s1", "b2")] == "SUCCESS"
    assert rows[("s2", "b1")] == "FAILURE"
    assert {r["batch"] for r in log.pending("s1", work, "batch").collect()} == before
    # s2's FAILURE still pends after compaction
    assert {r["batch"] for r in log.pending("s2", work, "batch").collect()} == {"b1", "b2", "b3"}
    # compaction is idempotent and append-after-compact keeps working
    log.compact()
    log.record("s1", [("b3", None, 2, None)], "SUCCESS")
    assert log.pending("s1", work, "batch").count() == 0


def test_lineage_compaction_crash_recovery(spark, tmp_path):
    """A compaction that dies between its two renames leaves the full
    pre-compaction log at .old; read() must transparently recover it."""
    import os
    import shutil

    log = LineageLog(spark, str(tmp_path))
    log.record("s1", [("b1", None, 10, None)], "SUCCESS")
    log.record("s1", [("b2", None, 5, None)], "FAILURE")
    # simulate the crash window: log moved to .old, replacement not yet in place
    shutil.move(log.path, log.path + ".old")
    assert not log.exists()
    assert log.read().count() == 2  # recovered from .old
    assert os.path.isdir(log.path) and not os.path.isdir(log.path + ".old")
    # and the recovered log still compacts + resumes correctly
    log.compact()
    work = spark.createDataFrame([("b1",), ("b2",)], "batch string")
    assert {r["batch"] for r in log.pending("s1", work, "batch").collect()} == {"b2"}
    # the new backup survives until the NEXT compaction (recovery copy)
    assert os.path.isdir(log.path + ".old")


def test_simhash_pairs_rejects_lossy_params(spark):
    """max_hamming >= bands breaks the pigeonhole exactness argument —
    the API must refuse rather than silently return an incomplete set."""
    import pytest

    from water_column_sonar_processing_spark.operators.dedup import simhash_neardup_pairs

    df = spark.createDataFrame([(1, "aaa"), (2, "aab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_pairs(df, max_hamming=4, bands=4)


def test_lineage_stage_metrics_fingerprint_stable(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "g string, v int")
    log = LineageLog(spark, str(tmp_path))
    log.record_stage_metrics("stage", df, "g")
    log2 = LineageLog(spark, str(tmp_path) + "_2")
    # same content in different row order -> identical fingerprint
    df2 = spark.createDataFrame([("a", 2), ("b", 3), ("a", 1)], "g string, v int")
    log2.record_stage_metrics("stage", df2, "g")
    fp1 = {r["batch_id"]: r["input_fingerprint"] for r in log.read().collect()}
    fp2 = {r["batch_id"]: r["input_fingerprint"] for r in log2.read().collect()}
    assert fp1 == fp2
    counts = {r["batch_id"]: r["row_count"] for r in log.read().collect()}
    assert counts == {"a": 2, "b": 1}


def test_media_sniff_and_features(spark):
    rows = [
        ("u1", bytes([0xFF, 0xD8, 0xFF]) + b"jpegdata" * 10),
        ("u2", b"\x89PNG\r\n" + b"pngdata" * 10),
        ("u3", b"RIFFxxxxWAVE" + b"audio" * 10),
        ("u4", b"plainbytes"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    meta = {r["url"]: r["media_type"] for r in mm.sniff_media_meta(df).collect()}
    assert meta == {
        "u1": "image/jpeg",
        "u2": "image/png",
        "u3": "audio/wav",
        "u4": "application/octet-stream",
    }
    feats = mm.extract_media_features(df)
    got = {r["id"]: r["features"] for r in feats.collect()}
    assert all(len(v) == mm.FEATURE_DIM for v in got.values())
    # deterministic: same payload -> same features
    feats2 = {r["id"]: r["features"] for r in mm.extract_media_features(df).collect()}
    assert got == feats2
    # content-derived: distinct payloads -> distinct vectors
    assert got["u1"] != got["u2"]


def test_media_decode_real_jpeg(spark):
    """r5: baseline JPEG decodes for real through decode='real'
    (media_codecs.decode_jpeg); a truncated JPEG still fails loudly
    inside the UDF instead of yielding garbage features."""
    import pytest

    from water_column_sonar_processing_spark.operators.media_codecs import encode_jpeg

    jpg = encode_jpeg(np.full((8, 8, 1), 77, dtype=np.uint8))
    ok = spark.createDataFrame([("u", bytearray(jpg))], "url string, html binary")
    feats = mm.extract_media_features(ok, decode="real").collect()
    assert len(feats) == 1 and len(feats[0]["features"]) == mm.FEATURE_DIM

    bad = spark.createDataFrame(
        [("u", bytes([0xFF, 0xD8, 0xFF]) + b"jpegdata")], "url string, html binary"
    )
    with pytest.raises(Exception, match="JPEG"):
        mm.extract_media_features(bad, decode="real").collect()


def test_frame_sample_plan_shape(spark):
    df = spark.createDataFrame([("u", b"v" * 25000)], "url string, html binary")
    out = mm.frame_sample_plan(df, every_n=10).collect()
    assert [r["frame_idx"] for r in out] == [0, 10, 20]


def test_salted_join_preserves_semantics(spark):
    big = spark.createDataFrame([(i, "k" if i % 2 else "j") for i in range(1000)], "id long, key string")
    small = spark.createDataFrame([("k", 1.0), ("j", 2.0)], "key string, w double")
    plain = big.join(small, "key").agg(F.sum("w")).collect()[0][0]
    salted = skew_op.salted_join(big, small, ["key"], salt_buckets=8, stable_col="id").agg(
        F.sum("w")
    ).collect()[0][0]
    assert plain == salted
    # salt is deterministic across invocations (resume-safe)
    s1 = skew_op.add_salt(big, 8, "id").select("id", "_salt").collect()
    s2 = skew_op.add_salt(big, 8, "id").select("id", "_salt").collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    # and actually spreads a hot key over buckets
    nb = skew_op.add_salt(big, 8, "id").filter(F.col("key") == "k").select("_salt").distinct().count()
    assert nb >= 6


def test_partition_metrics_cover_all_rows(spark, tmp_path):
    df = spark.range(0, 10000, 1, 8).withColumn("g", F.col("id") % 7)
    log = LineageLog(spark, str(tmp_path / "pl"))
    log.record_partition_metrics("stage_p", df)
    rows = log.read().filter(F.col("stage") == "stage_p").collect()
    assert len(rows) == 8  # one row per physical partition
    assert sum(r["row_count"] for r in rows) == 10000
    assert all(r["partition_id"] is not None for r in rows)
    assert len({r["input_fingerprint"] for r in rows}) == 8


def test_lineage_record_builds_a_local_relation(spark, tmp_path, monkeypatch):
    """record() hands Spark a pandas frame, so the rows arrive as an
    Arrow-backed LocalRelation and the append write is the only job (a row
    list would first run a Python-RDD conversion job)."""
    made = []
    create = spark.createDataFrame

    def spy(*args, **kwargs):
        made.append(create(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(spark, "createDataFrame", spy)
    log = LineageLog(spark, str(tmp_path))
    log.record("s1", [("b1", None, 10, None), ("b2", 3, None, "ab")], "SUCCESS")
    plan = made[0]._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    monkeypatch.undo()
    rows = sorted((r["batch_id"], r["partition_id"], r["row_count"], r["input_fingerprint"]) for r in log.read().collect())
    assert rows == [("b1", None, 10, None), ("b2", 3, None, "ab")]
