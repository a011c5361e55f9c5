"""Custom stateful streaming operator: gap-based sessionization with
applyInPandasWithState.

The reference is batch-only (SURVEY.md §2.9), but its PipelineStatus
state machine (utility/pipeline_status.py:5-101) is exactly per-key
mutable state advanced by arriving events — the Structured Streaming
restatement is a GroupState per key: events for a user extend an open
session; a gap beyond the timeout (or state TTL expiry) closes it and
emits one session row.

Batch semantics twin: `sessionize_batch` (the same gap rule as a window
expression) — used by tests to pin the streaming operator's output
against the deterministic batch result, and by the `sessionize` contract
query's oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = "user_id long, session_start long, session_end long, n_events long"
STATE_SCHEMA = "start long, last long, n long"


def sessionize_stream(
    events, gap_us: int = 1_800_000_000, ts_col: str = "ts_us", key_col: str = "user_id"
):
    """Streaming DataFrame -> per-session rows via per-key GroupState.

    Emits a session row whenever an arriving batch shows a gap > gap_us
    for that key (plus the still-open session on processing-time timeout).
    Designed for availableNow/one-shot drains in tests; on a live stream
    the timeout closes idle sessions. The processing-time timeout makes
    every batch ask for a following no-data batch, so an availableNow
    drain terminates only with
    `spark.sql.streaming.noDataMicroBatches.enabled=false` set when the
    query starts (open sessions then stay in state for the next drain)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        rows = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                rows.append((user, start, last, n))
                state.remove()
        else:
            # NULL timestamps are meaningless for gap logic and would
            # poison the query (int(NaN) raises, re-failing every
            # restart) — skipped here AND in the batch twin, so parity
            # semantics stay aligned (review r4)
            ts = sorted(int(t) for pdf in pdfs for t in pdf[ts_col] if not pd.isna(t))
            if ts:
                if state.exists:
                    start, last, n = state.get
                else:
                    start, last, n = ts[0], ts[0], 0
                for t in ts:
                    if t - last > gap_us:
                        rows.append((user, start, last, n))
                        start, n = t, 0
                    # a late event inside the open session pulls the
                    # start back so [start, end] really contains all
                    # n counted events (review r4)
                    start = min(start, t)
                    last = max(last, t)
                    n += 1
                state.update((start, last, n))
                # idle close-out scales with the session gap — a fixed
                # 60s fragmented any live stream whose event spacing
                # exceeded a minute (review r4)
                state.setTimeoutDuration(max(gap_us // 1000, 1_000))
        yield pd.DataFrame(rows, columns=["user_id", "session_start", "session_end", "n_events"])

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize_batch(df: DataFrame, gap_us: int = 1_800_000_000, ts_col: str = "ts_us", key_col: str = "user_id") -> DataFrame:
    """Deterministic batch twin: same gap rule via windows; returns CLOSED
    sessions plus the final open session per key (total semantics equal to
    a fully-drained stream)."""
    from pyspark.sql import Window

    df = df.filter(F.col(ts_col).isNotNull())  # mirror the stream's NULL-ts skip
    w = Window.partitionBy(key_col).orderBy(ts_col)
    flagged = df.withColumn(
        "_new",
        F.when(
            (F.col(ts_col) - F.lag(ts_col).over(w) > gap_us) | F.lag(ts_col).over(w).isNull(), 1
        ).otherwise(0),
    ).withColumn("_sess", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        flagged.groupBy(key_col, "_sess")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("_sess")
    )
