"""Sinks: SQL/JDBC, graph-output capture, monitoring.

Reference mapping (SURVEY §2.1):
- S8  PublishSQLA (`modules/sql.py:61-185`): per-tick INSERT with field
  selection/renames/constant augmentation → here a projection +
  bulk JDBC write (not per-row — the reference itself warns row-by-row
  is slow); a stream calls ``write_jdbc`` from its own foreachBatch.
- S9  AddChannelsToGraphOutput (`modules/io/graph_output.py:14-27`).
- S11 monitoring publishers — foreachBatch hooks.

``land_batch`` is the one landing every streaming writer of the
replay gates and ``streaming_keyed_last`` uses: a micro-batch's output
lives at a path named by its batch id, so a batch that Spark re-runs
from the checkpoint after a failure overwrites what it wrote before
(the idempotent sink of Structured Streaming's exactly-once recipe).
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional

from pydantic import BaseModel, ConfigDict
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def project_for_sink(
    df: DataFrame,
    fields: Optional[List[str]] = None,
    renames: Optional[Dict[str, str]] = None,
    constants: Optional[Dict[str, object]] = None,
) -> DataFrame:
    """Field selection, renames, constant augmentation
    (`modules/sql.py:141-164`)."""
    out = df.select(*fields) if fields else df
    for old, new in (renames or {}).items():
        out = out.withColumnRenamed(old, new)
    for name, value in (constants or {}).items():
        out = out.withColumn(name, F.lit(value))
    return out


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: Optional[Dict[str, str]] = None,
    **project_kwargs,
) -> None:
    """Batch JDBC write (streaming path wraps this in foreachBatch).
    Requires the target driver jar on the classpath."""
    project_for_sink(df, **project_kwargs).write.jdbc(
        url, table, mode=mode, properties=properties or {}
    )


def batch_path(path: str, batch_id: int) -> str:
    """Where ``land_batch`` puts an append-mode micro-batch."""
    return f"{path}/batch={batch_id}"


def land_batch(df: DataFrame, batch_id: int, path: str, mode: str = "append") -> None:
    """foreachBatch body: write micro-batch ``batch_id``'s output as
    parquet, replacing what an earlier run of the same batch wrote.  In
    ``append`` mode it goes to ``batch_path(path, batch_id)``, so
    ``path`` reads back as every batch (partition column ``batch``); in
    ``complete`` mode, where each batch is the whole result, it
    replaces ``path``."""
    df.write.mode("overwrite").parquet(path if mode == "complete" else batch_path(path, batch_id))


def graph_output(channels: Dict[str, DataFrame], selection: Optional[List[str]] = None) -> Dict[str, list]:
    """Copy selected channels into the run's return value
    (`graph_output.py:14-27`) — batch collect per channel."""
    names = selection or list(channels)
    return {name: channels[name].collect() for name in names}


class MonitoringEvent(BaseModel):
    """Shape of the reference's MonitoringEvent struct
    (`modules/logging/util.py:167-302`)."""

    alert_type: str = "EVENT"
    title: str = ""
    text: str = ""
    tags: List[str] = []


def monitoring_foreach_batch(publish: Callable[[List[MonitoringEvent]], None]) -> Callable:
    """Adapter for Datadog/OpsGenie/Symphony-style publishers (S11):
    the HTTP client is injected; rows become MonitoringEvents.  No
    network dependency here — external publishers plug in."""

    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        events = [
            MonitoringEvent(
                alert_type=str(r[0]) if len(r) > 0 else "EVENT",
                title=str(r[1]) if len(r) > 1 else "",
                text=str(r[2]) if len(r) > 2 else "",
            )
            for r in batch_df.collect()
        ]
        publish(events)

    return _publish
