"""Structured Streaming operators over the events stream.

The reference has no streaming engine — its closest analogue is the
``clara.pl -d`` polling daemon (clara.pl:26-44), mapped to the
incremental batch job (``extract_job --incremental``).  This module
provides the *streaming* versions of the engine's time-keyed operators
for deployments where the event feed arrives continuously:

- ``windowed_event_counts``: event-time tumbling-window aggregation
  with a watermark for late data (append mode — a window is emitted
  exactly once, when the watermark passes its end).
- ``user_sessions_stateful``: custom stateful operator via
  ``applyInPandasWithState`` — per-user gap-based sessionization
  (the streaming twin of the batch ``sessionize`` query; word-building
  analogue build.c:1020-1152), state = (last_ts, n_events, n_sessions)
  per user, vectorized pandas inside (no per-row Python).

Both run with ``Trigger.AvailableNow`` in tests (drain a static
directory, then stop), which is also the production catch-up mode.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

SESSION_GAP_S = 1800  # same 30-min gap as the batch sessionize query

_SESSION_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_sessions", LongType()),
    ]
)

_SESSION_STATE = StructType(
    [
        StructField("last_ts", DoubleType()),
        StructField("n_events", LongType()),
        StructField("n_sessions", LongType()),
    ]
)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet shards."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # several micro-batches per drain
        .parquet(events_dir)
    )


def windowed_event_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling event-time window counts with late-data watermark.
    Append-mode-safe: emitted once per closed window."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "total",
        )
    )


def dedup_events(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exactly-once ingestion: drop replayed event_ids.
    State is bounded by the watermark — an id older than the watermark
    can never collide again, so its dedup state is evicted (the
    streaming twin of the batch `dedup_exact` / new_mc semantics,
    symbol.c:1407-1427)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def _session_update(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user running sessionization. Sorts each micro-batch's rows
    by ts (file source delivers batches in arrival order; within a
    drain of a static directory this is deterministic), counts gap >
    SESSION_GAP_S boundaries, carries (last_ts, n_events, n_sessions)
    across batches, emits the running totals each batch (update mode)."""
    import numpy as np

    (user_id,) = key
    # per-group Python overhead is the whole cost of this operator at
    # scale (one call per key per batch): avoid the pd.concat copy for
    # the common single-chunk case and sort the bare int64 array
    # instead of a DataFrame column round-trip
    chunks = list(pdfs)
    if len(chunks) == 1:
        ts = chunks[0]["ts"].to_numpy("datetime64[ns]").astype("int64")
    else:
        ts = np.concatenate(
            [c["ts"].to_numpy("datetime64[ns]").astype("int64") for c in chunks]
        )
    ts = ts / 1e9  # epoch seconds
    ts.sort()
    if state.exists:
        last_ts, n_events, n_sessions = state.get
    else:
        last_ts, n_events, n_sessions = float("-inf"), 0, 0

    prev = np.concatenate(([last_ts], ts[:-1]))
    n_sessions += int((ts - prev > SESSION_GAP_S).sum())
    n_events += len(ts)
    state.update((float(ts[-1]), n_events, n_sessions))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n_events], "n_sessions": [n_sessions]}
    )


def user_sessions_stateful(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: gap-based per-user session counts via
    applyInPandasWithState (arbitrary state, Arrow-batched)."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _session_update,
        outputStructType=_SESSION_OUT,
        stateStructType=_SESSION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_RECRAWL_OUT = StructType(
    [
        StructField("url", StringType()),
        StructField("n_captures", LongType()),
        StructField("n_unchanged", LongType()),
        StructField("n_changed", LongType()),
    ]
)

_RECRAWL_STATE = StructType(
    [
        StructField("last_digest", StringType()),
        StructField("n_captures", LongType()),
        StructField("n_unchanged", LongType()),
        StructField("n_changed", LongType()),
    ]
)


def _recrawl_update(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-url running change detection: carry the LAST content digest
    across micro-batches, classify each new capture against it
    (unchanged/changed; the very first capture of a url is neither).
    Within a batch rows sort by event_id — the same ordering contract
    as `_session_update`."""
    import numpy as np

    (url,) = key
    # same ordering contract as before (ascending event_id; ids are
    # unique, so any sort gives the identical digest sequence) — but
    # per-group Python overhead dominates this operator, so sort the
    # bare arrays instead of a DataFrame and skip the concat copy for
    # the common single-chunk case
    chunks = list(pdfs)
    if len(chunks) == 1:
        eid = chunks[0]["event_id"].to_numpy()
        dig = chunks[0]["digest"].to_numpy()
    else:
        eid = np.concatenate([c["event_id"].to_numpy() for c in chunks])
        dig = np.concatenate([c["digest"].to_numpy() for c in chunks])
    if state.exists:
        last, n_cap, n_unch, n_chg = state.get
    else:
        last, n_cap, n_unch, n_chg = None, 0, 0, 0
    for d in dig[np.argsort(eid)].tolist():
        if last is not None:
            if d == last:
                n_unch += 1
            else:
                n_chg += 1
        n_cap += 1
        last = d
    state.update((last, n_cap, n_unch, n_chg))
    yield pd.DataFrame(
        {
            "url": [url],
            "n_captures": [n_cap],
            "n_unchanged": [n_unch],
            "n_changed": [n_chg],
        }
    )


def recrawl_changes_stateful(captures: DataFrame) -> DataFrame:
    """Streaming re-crawl change detection — the online twin of the
    batch `recrawl_delta` query (lag(digest) per url): a crawler's
    fetch feed is inherently a stream, and the revisit scheduler wants
    change counts AS captures arrive, not at end-of-day.  Input must
    carry (url, event_id, digest); state per url is one 32-byte digest
    + three counters — O(urls) state forever, independent of capture
    volume (the digest comparison replaces retaining any history).
    Update-mode running counts are monotone, so end-of-drain state per
    url is the column-wise max — which makes the batch-oracle check
    replay-robust, same as `user_sessions_stateful`."""
    return captures.groupBy("url").applyInPandasWithState(
        _recrawl_update,
        outputStructType=_RECRAWL_OUT,
        stateStructType=_RECRAWL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@contextmanager
def core_state_partitions(spark: SparkSession) -> Iterator[None]:
    """Start this block's streams with one state partition per core:
    a stateful stream has ``spark.sql.shuffle.partitions`` state
    partitions, fixed in its checkpoint and never coalesced by AQE, and
    Spark's default of 200 made ``stream_sessionize`` 3 s -> 23 s at
    local[4]."""
    key = "spark.sql.shuffle.partitions"
    was = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        yield
    finally:
        spark.conf.set(key, was)


def drain_to_memory(
    spark: SparkSession, df: DataFrame, name: str, checkpoint: str, output_mode: str
) -> DataFrame:
    """Run an availableNow drain into a memory sink; return the sink
    table. (No-data micro-batches advance the watermark at end-of-drain
    so append-mode windows flush.)"""
    with core_state_partitions(spark):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
