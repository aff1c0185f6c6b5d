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
from typing import Iterable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


_PY_TO_SPARK = {
    int: T.LongType(),
    float: T.DoubleType(),
    bool: T.BooleanType(),
    str: T.StringType(),
    bytes: T.BinaryType(),
    datetime.datetime: T.TimestampType(),
    datetime.date: T.DateType(),
    datetime.timedelta: T.DayTimeIntervalType(),
}


def struct_type(fields: dict) -> T.StructType:
    """Build a StructType from {name: python type | DataType | nested dict}.

    Enums map to strings, nested dicts to nested structs, lists to
    ArrayType — mirroring the reference's schema derivation
    (`state.py:502-587`) but without the VARCHAR degradation for
    lists/dicts/timedelta: Spark has native Array/Map/Interval types.
    """
    out = []
    for name, spec in fields.items():
        out.append(T.StructField(name, _to_spark_type(spec), True))
    return T.StructType(out)


def _to_spark_type(spec) -> T.DataType:
    if isinstance(spec, T.DataType):
        return spec
    if isinstance(spec, dict):
        return struct_type(spec)
    if isinstance(spec, (list, tuple)) and len(spec) == 1:
        return T.ArrayType(_to_spark_type(spec[0]))
    if isinstance(spec, type):
        import enum

        if issubclass(spec, enum.Enum):
            return T.StringType()
        if spec in _PY_TO_SPARK:
            return _PY_TO_SPARK[spec]
    raise TypeError(f"cannot map {spec!r} to a Spark type")
