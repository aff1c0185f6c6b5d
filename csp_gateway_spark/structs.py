"""GatewayStruct equivalent: row schemas + engine-assigned id/timestamp.

Reference: every record gets an auto ``id`` (global atomic counter seeded
at day-epoch * 1e9, `utils/id_generator.py:8-25`) and a UTC ``timestamp``
(`utils/struct/base.py:49-94`).  Spark mapping: columns injected with
native expressions — no Python loop, no UDF — so id assignment scales
with partitions:

    id = str(day_epoch*1e9 + monotonically_increasing_id())

``monotonically_increasing_id`` embeds the partition id in the upper
bits, so ids are unique across a 1000-executor cluster without any
coordination, exactly the property the reference's process-local atomic
counter provides in one process.
"""

from __future__ import annotations

import datetime
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ID_FIELD = "id"
TIMESTAMP_FIELD = "timestamp"


def day_epoch_seed(now: Optional[datetime.datetime] = None) -> int:
    """Seed = seconds-since-epoch at UTC midnight * 1e9
    (reference `utils/id_generator.py:8-25`)."""
    now = now or datetime.datetime.now(datetime.timezone.utc)
    midnight = now.replace(hour=0, minute=0, second=0, microsecond=0)
    return int(midnight.timestamp()) * 1_000_000_000


def with_identity(df: DataFrame, seed: Optional[int] = None) -> DataFrame:
    """Inject engine ``id``/``timestamp`` columns if absent.

    Default seed is wall-clock nanos, so distinct micro-batches get
    disjoint id ranges (monotonically_increasing_id restarts at 0 per
    DataFrame; partition bits keep ids unique *within* a batch, the
    time seed keeps them unique *across* batches).
    """
    import time

    seed = time.time_ns() if seed is None else seed
    out = df
    if ID_FIELD not in df.columns:
        out = out.withColumn(
            ID_FIELD, (F.lit(seed) + F.monotonically_increasing_id()).cast("string")
        )
    if TIMESTAMP_FIELD not in out.columns:
        out = out.withColumn(TIMESTAMP_FIELD, F.current_timestamp())
    return out


def reassign_identity(df: DataFrame, force_new_id: bool = True, force_new_timestamp: bool = False) -> DataFrame:
    """Replay-time rewrite (reference `json_converter.py:245-273`)."""
    out = df
    if force_new_id:
        out = out.drop(ID_FIELD)
    if force_new_timestamp:
        out = out.drop(TIMESTAMP_FIELD)
    return with_identity(out)
