"""Streaming form of the keyed-last state (reference state tracker,
`state.py:649-660`, wired per channel at `channels.py:696-739`).

Batch and streaming share semantics: last record per key group.  Each
micro-batch (one engine cycle) is reduced to last-per-key together
with the state the previous batch landed; the merged state lands as
parquet under the query's checkpoint through ``sinks.land_batch``,
at a path named by the batch id, and a global temp view is repointed
at it (the queryable state table).  Spark's state store is not used,
and a batch re-run after a restart rebuilds the same state from the
same inputs.

Scale: the merge is an ordinary distributed ``keyed_last`` over the
landed state and the batch, partitioned by key; the view is always
one parquet scan, however many batches ran.
"""

from __future__ import annotations

import threading
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csp_gateway_spark import sinks


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
    checkpoint: str,
    order_by: Sequence[str] = ("timestamp",),
    trigger_seconds: float = 1.0,
    cache: Optional[LastValueCache] = None,
    channel: Optional[str] = None,
    trigger_available_now: bool = False,
):
    """Run the keyed-last aggregation as a streaming query whose state
    is the global temp view ``global_temp.<state_table>``.

    One micro-batch ≙ one engine cycle (SURVEY §3.3): foreachBatch
    reduces the state batch ``b - 1`` landed ∪ batch ``b``'s rows to
    last-per-key (last write wins) and lands the result at
    ``sinks.batch_path(<checkpoint>/keyed_last, b)``; the view is
    repointed at that scan.  A frame read from the view stays
    readable until two more batches have landed (older states are
    deleted).

    ``trigger_available_now``: replay everything currently available
    (respecting source rate limits like ``maxFilesPerTrigger``, so a
    multi-file source still exercises multi-batch state merging) and
    then stop — the batch-replay mode the oracle gate uses.
    """
    from csp_gateway_spark.operators.state import keyed_last

    keys = list(keys)
    states = f"{checkpoint}/keyed_last"

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        rows = batch_df
        if batch_id > 0:
            previous = session.read.parquet(sinks.batch_path(states, batch_id - 1))
            rows = previous.unionByName(batch_df, allowMissingColumns=True)
        sinks.land_batch(keyed_last(rows, keys, order_by=order_by, sort_output=False), batch_id, states)
        # foreachBatch executes in a cloned session: global temp views
        # are shared across sessions
        session.read.parquet(sinks.batch_path(states, batch_id)).createOrReplaceGlobalTempView(state_table)
        # a re-run of this batch still reads batch_id - 1
        stale = session._jvm.org.apache.hadoop.fs.Path(sinks.batch_path(states, batch_id - 2))
        stale.getFileSystem(session._jsc.hadoopConfiguration()).delete(stale, True)
        if cache is not None and channel is not None:
            cache.update(channel, batch_df.orderBy(*[F.asc(c) for c in order_by]).tail(1))

    trigger = {"availableNow": True} if trigger_available_now else {"processingTime": f"{trigger_seconds} seconds"}
    return stream.writeStream.foreachBatch(upsert).option("checkpointLocation", checkpoint).trigger(**trigger).start()
