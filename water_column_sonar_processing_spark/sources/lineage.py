"""Lineage / checkpoint metrics table — the resumability backbone.

Reference analog: the DynamoDB metadata table + PipelineStatus state
machine (/root/reference/water_column_sonar_processing/aws/
dynamodb_manager.py:49-200, utility/pipeline_status.py:5-101): every stage
records one row per (batch, stage) with row counts and status BEFORE the
next level consumes it; resume = skip batches whose row exists with
SUCCESS.

Spark restatement: an append-only parquet log of
(stage, batch_id, partition_id, row_count, input_fingerprint, status, ts);
resume is a left_anti join (J8) of the work list against SUCCESS rows.
The input_fingerprint is an order-independent commutative digest of the
per-row hashes — the Merkle-ish integrity check the reference sketches at
index/index_manager.py:345-381 (A12), in O(1) aggregation state.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATUS_PROCESSING = "PROCESSING"
STATUS_SUCCESS = "SUCCESS"
STATUS_FAILURE = "FAILURE"

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("row_count", T.LongType(), True),
        T.StructField("input_fingerprint", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("ts", T.DoubleType(), False),
    ]
)




def _content_digest(df: DataFrame):
    """Order-independent content digest with O(1) aggregation state:
    sum of per-row xxhash64 values mod 2^61-1, hex-encoded. (A sorted
    collect_list + sha2 would buffer one entry per row per group — an
    OOM at billion-row batches; a commutative sum gives the same
    integrity-check property in constant memory.)"""
    m = (1 << 61) - 1  # matches the documented 2^61-1 digest space (r4: was 2^31-1, a materially weaker check than the docs promised)
    # accumulate in DECIMAL(38,0): a long SUM of 2^61-bounded terms would
    # hit ANSI overflow almost immediately; decimal gives ~4e19-row headroom
    acc = F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(m)).cast("decimal(38,0)"))
    return F.hex(F.pmod(acc, F.lit(m)).cast("long"))


class LineageLog:
    """Append-only checkpoint log over parquet (MERGE INTO on Iceberg)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.path = os.path.join(root, "_lineage")

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path) if not f.startswith("_")
        )

    def read(self) -> DataFrame:
        if not self.exists():
            # Recover from a compaction that crashed between its two
            # renames: the pre-compaction log is preserved at .old.
            old = self.path + ".old"
            if os.path.isdir(old):
                os.rename(old, self.path)
            else:
                return self.spark.createDataFrame([], schema=LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)

    def record(self, stage: str, batch_rows: list[tuple[str, int | None, int | None, str | None]], status: str) -> None:
        """batch_rows: (batch_id, partition_id, row_count, fingerprint)."""
        now = time.time()
        rows = [(stage, b, p, r, f, status, now) for b, p, r, f in batch_rows]
        # from pandas, the rows become an Arrow-backed LocalRelation: the
        # write is the only job (a row list would first run a Python-RDD
        # conversion job)
        pdf = pd.DataFrame(rows, columns=LINEAGE_SCHEMA.names)
        df = self.spark.createDataFrame(pdf, schema=LINEAGE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.path)

    def record_stage_metrics(self, stage: str, df: DataFrame, batch_col: str, status: str = STATUS_SUCCESS) -> None:
        """Distributed per-batch metrics + content fingerprint in ONE pass:
        row_count and the commutative content digest (A12 analog)."""
        now = time.time()
        metrics = (
            df.groupBy(batch_col)
            .agg(
                F.count(F.lit(1)).alias("row_count"),
                _content_digest(df).alias("input_fingerprint"),
            )
            .select(
                F.lit(stage).alias("stage"),
                F.col(batch_col).cast("string").alias("batch_id"),
                F.lit(None).cast("int").alias("partition_id"),
                F.col("row_count"),
                F.col("input_fingerprint"),
                F.lit(status).alias("status"),
                F.lit(now).alias("ts"),
            )
        )
        metrics.write.mode("append").parquet(self.path)

    def record_partition_metrics(self, stage: str, df: DataFrame, status: str = STATUS_SUCCESS) -> None:
        """Per-PARTITION row counts + content fingerprints in one pass —
        the north rule's per-partition lineage. groupBy(spark_partition_id)
        still inserts an Exchange, but the partial aggregation reduces each
        partition to ONE (pid, count, digest) row map-side, so the shuffle
        carries O(partitions) rows, not data. Caveat: spark_partition_id is
        the id at CAPTURE time — AQE re-optimization downstream can use a
        different layout; call this on the materialized stage output (as
        the pipeline does) so the recorded layout is the persisted one."""
        now = time.time()
        with_pid = df.withColumn("_pid", F.spark_partition_id())
        metrics = (
            with_pid
            .groupBy("_pid")
            .agg(
                F.count(F.lit(1)).alias("row_count"),
                _content_digest(df).alias("input_fingerprint"),
            )
            .select(
                F.lit(stage).alias("stage"),
                F.concat(F.lit("part-"), F.col("_pid")).alias("batch_id"),
                F.col("_pid").cast("int").alias("partition_id"),
                F.col("row_count"),
                F.col("input_fingerprint"),
                F.lit(status).alias("status"),
                F.lit(now).alias("ts"),
            )
        )
        metrics.write.mode("append").parquet(self.path)

    def completed_batches(self, stage: str) -> DataFrame:
        """Latest status per (stage, batch) == SUCCESS -> one column batch_id.

        Deterministic ts tie-break: status DESC ('SUCCESS' > 'PROCESSING' >
        'FAILURE' lexicographically), so a retry recorded within the same
        clock tick as its failure still resolves to SUCCESS."""
        log = self.read().filter(F.col("stage") == stage)
        from pyspark.sql import Window

        w = Window.partitionBy("batch_id").orderBy(F.col("ts").desc(), F.col("status").desc())
        return (
            log.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("status") == STATUS_SUCCESS))
            .select("batch_id")
        )

    def compact(self) -> None:
        """Latest-wins compaction: rewrite the append-only log keeping only
        the newest row per (stage, batch_id, partition_id) — the batch
        restatement of `MERGE INTO lineage USING updates ON <keys> WHEN
        MATCHED THEN UPDATE` (the Iceberg upsert the DynamoDB
        put_item/update_item calls map to, aws/dynamodb_manager.py:109-130).
        On plain parquet the merge is a rewrite-and-swap; with an Iceberg
        catalog the same plan runs as a real MERGE INTO."""
        if not self.exists():
            return
        import shutil

        from pyspark.sql import Window

        w = Window.partitionBy(
            "stage", "batch_id", F.coalesce("partition_id", F.lit(-1))
        ).orderBy(F.col("ts").desc(), F.col("status").desc())
        latest = (
            self.read()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        tmp = self.path + ".compact"
        latest.coalesce(1).write.mode("overwrite").parquet(tmp)
        # Crash-safe swap: the .old backup from the PREVIOUS compaction is
        # only discarded once this one has fully succeeded, and os.rename
        # (atomic on one filesystem) does the live swap. A crash between
        # the two renames leaves .old intact for manual recovery; read()
        # falls back to it automatically.
        old = self.path + ".old"
        shutil.rmtree(old, ignore_errors=True)  # prior compaction's backup
        os.rename(self.path, old)
        os.rename(tmp, self.path)

    def pending(self, stage: str, work: DataFrame, batch_col: str) -> DataFrame:
        """Resume filter: anti-join the work list against completed batches
        (J8 — the 'skip if output exists' existence check,
        aws/s3_manager.py:211-227)."""
        done = self.completed_batches(stage).withColumnRenamed("batch_id", batch_col)
        return work.join(done, batch_col, "left_anti")
