"""Streaming form of the keyed-last state (reference state tracker,
`state.py:649-660`, wired per channel at `channels.py:696-739`).

Batch and streaming share semantics: last record per key group.
Streaming uses ``dropDuplicates`` within watermark + ``foreachBatch``
upsert into an in-memory "state table" (the queryable sink the REST
layer reads), or outputMode("update") aggregation when the sink
supports upserts.

Scale: state lives in the state store (RocksDB provider configured in
session.py) partitioned by key — the 100 TB design is the same plan
with more shuffle partitions; watermark bounds state size for
event-time dedup.
"""

from __future__ import annotations

import threading
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class LastValueCache:
    """Driver-side latest-rows cache per channel — serves `/last`
    without touching executors (reference on_request nodes,
    `channels.py:747-787`).  Updated from foreachBatch."""

    def __init__(self):
        self._lock = threading.Lock()
        self._last: Dict[str, list] = {}

    def update(self, channel: str, rows: list) -> None:
        if not rows:
            return
        with self._lock:
            self._last[channel] = rows[-1:]

    def last(self, channel: str) -> Optional[list]:
        with self._lock:
            return self._last.get(channel)


def streaming_keyed_last(
    stream: DataFrame,
    keys: Sequence[str],
    state_table: str,
    order_by: Sequence[str] = ("timestamp",),
    trigger_seconds: float = 1.0,
    checkpoint: Optional[str] = None,
    cache: Optional[LastValueCache] = None,
    channel: Optional[str] = None,
    trigger_available_now: bool = False,
):
    """Run the keyed-last aggregation as a streaming query writing an
    in-memory queryable state table.

    One micro-batch ≙ one engine cycle (SURVEY §3.3): foreachBatch
    reduces the batch to last-per-key (map-side combine), then merges
    into the global state table with last-write-wins.

    ``trigger_available_now``: replay everything currently available
    (respecting source rate limits like ``maxFilesPerTrigger``, so a
    multi-file source still exercises multi-batch state merging) and
    then stop — the batch-replay mode the oracle gate uses.
    """
    from csp_gateway_spark.operators.state import keyed_last

    spark = stream.sparkSession
    keys = list(keys)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch executes in a cloned session: use global temp
        # views (shared across sessions) for the queryable state table.
        session = batch_df.sparkSession
        if len(batch_df.take(1)) == 0:
            return
        batch_last = keyed_last(batch_df, keys, order_by=order_by, sort_output=False)
        try:
            current = session.table(f"global_temp.{state_table}")
            merged = keyed_last(
                current.unionByName(batch_last, allowMissingColumns=True),
                keys,
                order_by=order_by,
                sort_output=False,
            )
        except Exception:  # first batch: table does not exist yet
            merged = batch_last
        merged.cache().createOrReplaceGlobalTempView(state_table)
        if cache is not None and channel is not None:
            cache.update(channel, batch_df.orderBy(*[F.asc(c) for c in order_by]).tail(1))

    writer = stream.writeStream.foreachBatch(upsert).outputMode("append")
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
