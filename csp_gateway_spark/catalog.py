"""ChannelCatalog + Gateway lifecycle — the "data bus".

Reference semantics reproduced (file:line cites into /root/reference):
- named typed channels, multiple setters multiplexed
  (`csp.flatten`, `channels.py:439-472`) → ``unionByName``;
- provider resolution: unmet required channel → NoProviderException,
  unused optional channel → null (empty) stream
  (`channels.py:393-430`);
- state channels ``s_<name>`` = keyed-last materialization
  (`channels.py:191-194, 696-739`);
- ``block_set_channels_until`` time gate on producers
  (`channels.py:461-470`);
- module protocol `GatewayModule.connect(channels)` with
  ``requires`` / ``disable`` (`gateway/csp/module.py:17-73`);
- cyclic wiring (feedback) — Spark DAGs are acyclic, so a feedback
  channel is modelled as a *separate* input channel the producer's sink
  appends to (one-micro-batch delay ≙ csp's one-cycle-delay feedback,
  `channels.py:474-545`); see FeedbackChannel.

Scale: a channel is just a DataFrame; unioning producers is a metadata
operation (no shuffle).  A ``send`` is checked and stamped in Python and
lands as a JVM-local Arrow relation, so re-reading it never starts a
Python worker.  ``state``/``last`` never re-aggregate the channel: each
keeps one materialized fold per channel (previous fold ∪ the producers
added since, reduced with ``keyed_last``/``last_tick`` on one partition
through ``session.run_bounded``), so a read costs O(|state| + |new
ticks|), not O(history).  ``lookup``/``get_channel`` still read the
per-send deltas.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import threading
from typing import Callable, Dict, List, Optional, Sequence, Tuple

from pydantic import BaseModel, ConfigDict
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csp_gateway_spark.query import Query, apply_query
from csp_gateway_spark.structs import TIMESTAMP_FIELD, day_epoch_seed

# Recency of the serving folds: engine time, then the catalog id.  Rows
# of one send share a timestamp, so the later row (higher id) wins —
# the reference's ``last(duck_id)``.
FOLD_ORDER = ("timestamp", "id")


def _reduce(df: DataFrame, keys: Optional[Tuple[str, ...]]) -> DataFrame:
    """Keyed-last by ``keys``, or the last tick when ``keys`` is None."""
    from csp_gateway_spark.operators import state as ops

    if keys is None:
        return ops.last_tick(df, FOLD_ORDER)
    return ops.keyed_last(df, keys, order_by=FOLD_ORDER)


def _unpersist(fold: DataFrame) -> None:
    """Drop the local-checkpoint blocks behind a ``run_bounded`` frame
    (its plan is one LogicalRDD over the checkpointed RDD)."""
    leaves = fold._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


class NoProviderException(Exception):
    """Raised at finalize when a required channel has no producer
    (reference `channels.py:393-430`)."""


class ChannelCatalog:
    """name → declared schema + producer DataFrames + state config."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._schemas: Dict[str, T.StructType] = {}
        self._producers: Dict[str, List[DataFrame]] = {}
        self._required: set = set()
        self._state_keys: Dict[str, Sequence[str]] = {}
        self._block_until: Dict[str, datetime.datetime] = {}
        self._finalized: Dict[str, DataFrame] = {}
        self._dynamic_keys: Dict[str, List[str]] = {}
        self._mirrors: Dict[str, List[str]] = {}  # target -> source channels
        self._validators: Dict[str, Callable] = {}
        # (channel, state keys or None for last) -> (fold, producers folded)
        self._folds: Dict[tuple, Tuple[DataFrame, int]] = {}
        self._locks: Dict[str, threading.Lock] = {}
        self._id_lock = threading.Lock()
        self._id_counter = day_epoch_seed()
        # replaced folds wait in _retired until no read that began
        # before their replacement is still running (see ``reading``)
        self._gc_lock = threading.Lock()
        self._epoch = 0
        self._readers: Dict[object, int] = {}
        self._retired: List[Tuple[int, DataFrame]] = []

    # --- declaration -------------------------------------------------
    def declare(
        self,
        name: str,
        schema: Optional[T.StructType] = None,
        required: bool = False,
        validator=None,
    ) -> None:
        """``validator``: optional row-level hook (reference pydantic
        validators, `base.py:97-114` / `omnibus.py:67-85`): called with
        each sent row dict; raise ValueError to reject (REST: 422), or
        return a (possibly modified) row."""
        self._schemas.setdefault(name, schema)
        self._producers.setdefault(name, [])
        if required:
            self._required.add(name)
        if validator is not None:
            self._validators[name] = validator

    def declare_state(self, name: str, keyby: Sequence[str] | str) -> None:
        """Register ``s_<name>`` keyed-last state for a channel
        (reference naming convention `channels.py:191-194`)."""
        keys = [keyby] if isinstance(keyby, str) else list(keyby)
        self._state_keys[name] = keys

    def add_dynamic_keys(self, name: str, keys: List[str]) -> None:
        """Dict-basket key registration (`factory.py:46-55`)."""
        self._dynamic_keys.setdefault(name, []).extend(keys)

    def block_set_channels_until(self, name: str, when: datetime.datetime) -> None:
        self._block_until[name] = when

    # --- wiring ------------------------------------------------------
    def set_channel(self, name: str, df: DataFrame) -> None:
        self.declare(name)
        if name in self._block_until and TIMESTAMP_FIELD in df.columns:
            df = df.filter(F.col(TIMESTAMP_FIELD) >= F.lit(self._block_until[name]))
        self._producers[name].append(df)

    def mirror(self, src: str, dst: str) -> None:
        """Live link: ``dst`` resolves to its own producers ∪ ``src``'s
        current stream — later sends to ``src`` appear on ``dst``
        (reference `modules/mirror.py:10-52`)."""
        self.declare(dst, self._schemas.get(src))
        self._mirrors.setdefault(dst, []).append(src)
        if src in self._state_keys and dst not in self._state_keys:
            self.declare_state(dst, list(self._state_keys[src]))

    def get_channel(self, name: str) -> DataFrame:
        """Resolved view of a channel: union of producers (or the
        finalized empty stream)."""
        if name in self._mirrors:
            streams = [self.get_channel(src) for src in self._mirrors[name]]
            streams += [self._union(p)] if (p := self._producers.get(name)) else []
            return self._union(streams)
        if name in self._finalized:
            return self._finalized[name]
        producers = self._producers.get(name, [])
        if not producers:
            raise NoProviderException(f"channel {name!r} has no provider (finalize() binds null streams)")
        return self._union(producers)

    def key_view(self, name: str, key_col: str, key: str) -> DataFrame:
        """Dict-basket per-key view (`channels.py:566-598`)."""
        return self.get_channel(name).filter(F.col(key_col) == F.lit(key))

    # --- finalize ----------------------------------------------------
    def finalize(self) -> None:
        """Bind every channel: union producers, null-bind unused
        optional channels, raise for unmet required ones
        (`channels.py:331-437`)."""
        for name in list(self._producers):
            producers = self._producers[name]
            if producers:
                self._finalized[name] = self._union(producers)
            elif name in self._required:
                raise NoProviderException(f"required channel {name!r} has no provider")
            elif self._schemas.get(name) is not None:
                self._finalized[name] = self.spark.createDataFrame([], self._schemas[name])
            # else: untyped unused optional channel stays unbound

    @staticmethod
    def _union(producers: List[DataFrame]) -> DataFrame:
        df = producers[0]
        for other in producers[1:]:
            df = df.unionByName(other, allowMissingColumns=True)
        return df

    # --- state / query path ------------------------------------------
    def state(self, name: str) -> DataFrame:
        """``s_<name>``: last record per key group, ordered by key ASC
        NULLS FIRST (`state.py:165-225`) — the channel's fold."""
        keys = self._state_keys.get(name)
        if keys is None:
            raise KeyError(f"channel {name!r} has no state declared")
        return self._served(name, tuple(keys))

    def query(self, name: str, query: Optional[Query] = None) -> DataFrame:
        """`GET /state/<ch>?query=` semantics (`state.py:614-621`)."""
        return apply_query(self.state(name), query)

    def last(self, name: str) -> DataFrame:
        """`GET /last/<ch>`: the most recent tick (`channels.py:747-787`)."""
        return self._served(name, None)

    def lookup(self, name: str, record_id: str) -> DataFrame:
        """`/lookup/<ch>/<id>` — id point query on the stream, instead of
        the reference's unbounded in-memory registry (`base.py:26-46`)."""
        return self.get_channel(name).filter(F.col("id") == F.lit(record_id))

    def _served(self, name: str, keys: Optional[Tuple[str, ...]]) -> DataFrame:
        view = self._view(name, keys)
        if view is None:
            raise NoProviderException(f"channel {name!r} has no provider (finalize() binds null streams)")
        return view

    def _view(self, name: str, keys: Optional[Tuple[str, ...]]) -> Optional[DataFrame]:
        """The channel's fold; a mirror composes its sources' views with
        its own fold (`_reduce` over already-reduced frames)."""
        parts = [self._view(src, keys) for src in self._mirrors.get(name, [])]
        parts = [p for p in parts + [self._fold(name, keys)] if p is not None]
        if len(parts) > 1:
            return _reduce(self._union(parts), keys)
        return parts[0] if parts else None

    def _fold(self, name: str, keys: Optional[Tuple[str, ...]]) -> Optional[DataFrame]:
        """Fold the producers added since the last fold into the
        channel's materialized frame: previous fold ∪ new producers,
        reduced on one partition (no exchange) and saved with
        ``run_bounded``.  None when the channel has no stream at all."""
        from csp_gateway_spark.session import run_bounded

        with self._locks.setdefault(name, threading.Lock()):
            prev, upto = self._folds.get((name, keys), (None, 0))
            producers = list(self._producers.get(name, []))  # sends append concurrently
            fresh = producers[upto:]
            if prev is None and not fresh and name in self._finalized:
                fresh = [self._finalized[name]]  # the null-bound empty stream
            if not fresh:
                return prev
            parts = ([prev] if prev is not None else []) + fresh
            fold = run_bounded(_reduce(self._union(parts).coalesce(1), keys))
            self._folds[(name, keys)] = (fold, len(producers))
        if prev is not None:
            self._retire(prev)
        return fold

    @contextlib.contextmanager
    def reading(self):
        """Scope a read of ``state``/``last`` frames: a fold replaced
        while the read runs is unpersisted only after the read ends.
        Outside this scope a frame is readable until the channel's next
        fold."""
        token = object()
        with self._gc_lock:
            self._readers[token] = self._epoch
        try:
            yield
        finally:
            with self._gc_lock:
                del self._readers[token]
            self._reclaim()

    def _retire(self, fold: DataFrame) -> None:
        with self._gc_lock:
            self._epoch += 1
            self._retired.append((self._epoch, fold))
        self._reclaim()

    def _reclaim(self) -> None:
        """Unpersist every retired fold no running read can hold: one
        retired at epoch e is visible only to reads that began before e."""
        with self._gc_lock:
            oldest = min(self._readers.values(), default=self._epoch)
            free = [f for e, f in self._retired if e <= oldest]
            self._retired = [(e, f) for e, f in self._retired if e > oldest]
        for fold in free:
            _unpersist(fold)

    def send(self, name: str, rows: List[dict], schema: Optional[T.StructType] = None) -> DataFrame:
        """Inject records (REST POST path, `channels.py:950-962`) and
        return the appended delta frame; see ``send_rows``."""
        return self.send_rows(name, rows, schema)[1]

    def send_rows(
        self, name: str, rows: List[dict], schema: Optional[T.StructType] = None
    ) -> Tuple[List[Row], DataFrame]:
        """validate → assign id/timestamp → check against the schema
        (PySpark's own verifier, so a bad payload raises as
        ``createDataFrame`` would) → append as a producer.  Returns the
        rows exactly as stored — what collecting the delta would give,
        without a Spark job — and the delta frame.

        Ids come from a catalog-level atomic counter seeded at
        day-epoch*1e9 — the reference's id semantics
        (`utils/id_generator.py:8-25`).  Driver-side rows are few (REST
        payloads), so enumerating them here is not a scale concern.
        """
        from pyspark.sql.conversion import ArrowTableToRowsConversion, LocalDataToArrowConversion
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import _create_converter, _make_type_verifier

        schema = schema or self._schemas.get(name)
        validator = self._validators.get(name)
        stamped = [dict(row) for row in rows]
        if validator is not None:  # ValueError propagates (REST: 422)
            stamped = [validator(row) or row for row in stamped]
        with self._id_lock:
            now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
            for row in stamped:
                if "id" not in row:
                    self._id_counter += 1
                    row["id"] = str(self._id_counter)
                row.setdefault("timestamp", now)
        if schema is None:
            schema = self.spark._inferSchemaFromList(stamped)
        elif "id" not in schema.fieldNames():
            schema = T.StructType(
                list(schema.fields)
                + [
                    T.StructField("id", T.StringType(), True),
                    T.StructField("timestamp", T.TimestampType(), True),
                ]
            )
        verify = _make_type_verifier(schema)
        for row in stamped:
            verify(row)
        if stamped:
            tupled = _round_decimals_half_up(list(map(_create_converter(schema), stamped)), schema)
            table = LocalDataToArrowConversion.convert(tupled, schema, False)
        else:
            table = to_arrow_schema(schema).empty_table()
        delta = self.spark.createDataFrame(table, schema)
        self.set_channel(name, delta)
        self._finalized.pop(name, None)
        return ArrowTableToRowsConversion.convert(table, schema), delta


_WIDE = decimal.Context(prec=100)  # wide enough that quantize never traps


def _round_decimals_half_up(rows: List[tuple], schema: T.StructType) -> List[tuple]:
    """Round top-level decimals to their column's scale HALF_UP, as the
    JVM does for a Python-side ``createDataFrame`` (the Arrow conversion
    would round HALF_EVEN)."""
    scales = {
        i: decimal.Decimal(1).scaleb(-f.dataType.scale)
        for i, f in enumerate(schema.fields)
        if isinstance(f.dataType, T.DecimalType)
    }
    if not scales:
        return rows
    return [
        tuple(
            v.quantize(scales[i], rounding=decimal.ROUND_HALF_UP, context=_WIDE)
            if i in scales and isinstance(v, decimal.Decimal) and v.is_finite()
            else v
            for i, v in enumerate(row)
        )
        for row in rows
    ]


class GatewayModule(BaseModel):
    """Extension unit (reference `gateway/csp/module.py:17-73`):
    pydantic-configured, contributes wiring in ``connect``."""

    model_config = ConfigDict(arbitrary_types_allowed=True, extra="allow")

    disable: bool = False
    requires: List[str] = []

    def connect(self, channels: ChannelCatalog) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def rest(self, app) -> None:  # optional serving hook
        return None

    def shutdown(self) -> None:
        return None


class Gateway(BaseModel):
    """Application assembly (`gateway/gateway.py:88-146, 202-323`)."""

    model_config = ConfigDict(arbitrary_types_allowed=True)

    modules: List[GatewayModule] = []

    def build(self, spark: SparkSession) -> ChannelCatalog:
        catalog = ChannelCatalog(spark)
        for module in self.modules:
            if module.disable:
                continue
            for req in module.requires:
                catalog.declare(req, required=True)
            module.connect(catalog)
        catalog.finalize()
        return catalog

    def shutdown(self) -> None:
        for module in self.modules:
            module.shutdown()


class FeedbackChannel:
    """Cycle-breaking feedback (`channels.py:474-545`).

    Spark plans are acyclic; csp breaks cycles with a one-cycle-delay
    feedback edge.  Here the feedback is a directory-backed stream: the
    producer's ``foreachBatch`` appends to ``path``; the consumer reads
    the same path as a (streaming) source — delivery on the *next*
    micro-batch, which is exactly csp's one-cycle delay.
    """

    def __init__(self, spark: SparkSession, path: str, schema: T.StructType):
        self.spark = spark
        self.path = path
        self.schema = schema

    def reader(self, streaming: bool = False) -> DataFrame:
        if streaming:
            return self.spark.readStream.schema(self.schema).parquet(self.path)
        import os

        if not os.path.isdir(self.path):  # nothing fed back yet
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(self.path)

    def writer(self, batch_df: DataFrame) -> None:
        batch_df.write.mode("append").parquet(self.path)
