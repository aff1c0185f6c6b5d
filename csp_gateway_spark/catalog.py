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
operation (no shuffle).  A ``send`` is stamped, checked by PySpark's
verifier and converted once in Python, then appended to the channel's
send log: the Arrow table of the rows it stored, with an id → log
positions index (explicit ids can repeat).  The stored rows are the
values the send converted, read from Arrow only for the types Arrow
changes (timestamps, dates, float, decimals, binary, nested), so they
equal an Arrow read-back of the table.  With a declared schema it makes
no JVM call.  ``get_channel`` serves the log as one Arrow-built local
relation per run of same-schema sends, built when first read after the
log grew, ∪ the ``set_channel`` producers, so a later read never starts
a Python worker.
``state``/``last`` never re-aggregate the channel: the driver holds one
keyed-last snapshot per channel and state keys (one row for ``last``),
key → stored row beside its recency, computed once per row.  ``send``
merges the rows it stored into it, under the channel lock, by
``max_by``'s rule over ``FOLD_ORDER``; a snapshot created after sends catches up from
the log in Python; a ``set_channel`` producer is reduced with
``keyed_last``/``last_tick`` once, collected at the next read, and
merged by the same rule.  ``held`` returns the snapshot's rows in key
order, kept until the next merge: the REST routes ``/state``,
``/state?query=`` and ``/last`` filter them in Python
(``Query.resolve``) with no Spark plan or JVM call, and ``/lookup``
reads a log-only channel's rows by id from the index (``logged``).
``state``/``last`` serve the same rows as an Arrow-built local relation
for DataFrame callers (Perspective routes, tests), whose filters run on
the driver with no Spark job.  Snapshot memory is O(keys); the log
holds every sent row on the driver, as Arrow.
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime
import decimal
import functools
import itertools
import threading
from typing import Callable, Dict, Iterable, List, Optional, Sequence, Tuple

import pyarrow as pa
from pydantic import BaseModel, ConfigDict
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csp_gateway_spark.query import Query, _rank, apply_query
from csp_gateway_spark.structs import TIMESTAMP_FIELD, day_epoch_seed

# Recency of the serving snapshots: engine time, then the catalog id.  Rows
# of one send share a timestamp, so the later row (higher id) wins —
# the reference's ``last(duck_id)``.
FOLD_ORDER = ("timestamp", "id")


def _reduce(df: DataFrame, keys: Optional[Tuple[str, ...]]) -> DataFrame:
    """Keyed-last by ``keys``, or the last tick when ``keys`` is None."""
    from csp_gateway_spark.operators import state as ops

    if keys is None:
        return ops.last_tick(df, FOLD_ORDER)
    return ops.keyed_last(df, keys, order_by=FOLD_ORDER)


def _ranked(rows: Iterable[dict]) -> List[Tuple[tuple, dict]]:
    """Each row beside its recency: its FOLD_ORDER values' ranks."""
    return [(tuple(_rank(row.get(c)) for c in FOLD_ORDER), row) for row in rows]


def _merge(
    held: Dict[tuple, Tuple[tuple, dict]], ranked: Iterable[Tuple[tuple, dict]], keys: Optional[Tuple[str, ...]]
) -> None:
    """``max_by``'s rule over FOLD_ORDER: a row replaces its key's held
    row only when strictly more recent, so on an exact tie the earlier
    row stays.  ``held`` maps the key values' ranks to a (recency, row)
    pair of ``_ranked``."""
    for recency, row in ranked:
        key = tuple(_rank(row.get(k)) for k in keys or ())
        if key not in held or recency > held[key][0]:
            held[key] = (recency, row)


def _reduced_schema(schema: T.StructType, keys: Optional[Tuple[str, ...]]) -> T.StructType:
    """The columns ``_reduce`` gives: keys first, then the rest, which
    ``max_by`` makes nullable."""
    keys = [k for k in keys or () if k in schema.names]
    rest = [T.StructField(f.name, f.dataType, True, f.metadata) for f in schema.fields if f.name not in keys]
    return T.StructType([schema[k] for k in keys] + rest)


@dataclasses.dataclass
class _Snapshot:
    """One channel's keyed-last rows by ``keys`` (None: its last tick)."""

    keys: Optional[Tuple[str, ...]]
    schema: Optional[T.StructType] = None  # None: no stream yet
    rows: Dict[tuple, Tuple[tuple, dict]] = dataclasses.field(default_factory=dict)  # key → (recency, row)
    upto: Tuple[int, int] = (0, 0)  # log batches and producers merged
    # served rows, keys ASC NULLS FIRST (`state.py:193`), and their frame, until the next merge
    ordered: Optional[List[dict]] = None
    frame: Optional[DataFrame] = None


@dataclasses.dataclass
class _SendLog:
    """One channel's sends as stored, in send order: (schema, Arrow
    table) batches, an id → (batch, row) positions index over string
    ids, the relations ``get_channel`` serves, until the next send, and
    per streaming source (its checkpoint) the last micro-batch id whose
    rows were stored."""

    batches: List[Tuple[T.StructType, pa.Table]] = dataclasses.field(default_factory=list)
    index: Dict[str, List[Tuple[int, int]]] = dataclasses.field(default_factory=dict)
    applied: Dict[str, int] = dataclasses.field(default_factory=dict)
    runs: int = 0  # runs of same-schema batches
    frames: Optional[List[DataFrame]] = None

    def append(self, schema: T.StructType, table: pa.Table, rows: List[dict]) -> None:
        if not self.batches or self.batches[-1][0] != schema:
            self.runs += 1
        for i, row in enumerate(rows):
            if isinstance(row.get("id"), str):
                self.index.setdefault(row["id"], []).append((len(self.batches), i))
        self.batches.append((schema, table))
        self.frames = None

    def grouped(self, start: int = 0) -> List[Tuple[T.StructType, List[pa.Table]]]:
        """(schema, tables) per run of same-schema batches from ``start``."""
        return [(s, [t for _, t in run]) for s, run in itertools.groupby(self.batches[start:], key=lambda b: b[0])]


class NoProviderException(Exception):
    """Raised at finalize when a required channel has no producer
    (reference `channels.py:393-430`)."""


class ChannelCatalog:
    """name → declared schema + producer DataFrames + state config."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._schemas: Dict[str, T.StructType] = {}
        self._producers: Dict[str, List[DataFrame]] = {}  # set_channel producers
        self._logs: Dict[str, _SendLog] = {}
        self._required: set = set()
        self._state_keys: Dict[str, Sequence[str]] = {}
        self._block_until: Dict[str, datetime.datetime] = {}
        self._finalized: Dict[str, DataFrame] = {}
        self._dynamic_keys: Dict[str, List[str]] = {}
        self._mirrors: Dict[str, List[str]] = {}  # target -> source channels
        self._validators: Dict[str, Callable] = {}
        # channel -> state keys or None for last -> snapshot
        self._snapshots: Dict[str, Dict[Optional[tuple], _Snapshot]] = {}
        self._locks: Dict[str, threading.RLock] = {}
        self._id_lock = threading.Lock()
        self._id_counter = day_epoch_seed()

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
        self._logs.setdefault(name, _SendLog())
        self._snapshot(name, None)
        if required:
            self._required.add(name)
        if validator is not None:
            self._validators[name] = validator

    def declare_state(self, name: str, keyby: Sequence[str] | str) -> None:
        """Register ``s_<name>`` keyed-last state for a channel
        (reference naming convention `channels.py:191-194`)."""
        keys = [keyby] if isinstance(keyby, str) else list(keyby)
        self._state_keys[name] = keys
        self._snapshot(name, tuple(keys))

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
        with self._lock(name):
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
        """Resolved view of a channel: its mirrored sources' views (a
        source with no provider adds nothing), its send log (one
        relation per run of same-schema sends) and its ``set_channel``
        producers, unioned by name; or the finalized empty stream."""
        streams = []
        for src in self._mirrors.get(name, []):
            try:
                streams.append(self.get_channel(src))
            except NoProviderException:
                pass
        with self._lock(name):
            log = self._logs.get(name) or _SendLog()
            if log.frames is None:
                log.frames = [self.spark.createDataFrame(pa.concat_tables(ts), s) for s, ts in log.grouped()]
            streams += log.frames + self._producers.get(name, [])
        if streams:
            return self._union(streams)
        if name in self._finalized:
            return self._finalized[name]
        raise NoProviderException(f"channel {name!r} has no provider (finalize() binds null streams)")

    def key_view(self, name: str, key_col: str, key: str) -> DataFrame:
        """Dict-basket per-key view (`channels.py:566-598`)."""
        return self.get_channel(name).filter(F.col(key_col) == F.lit(key))

    # --- finalize ----------------------------------------------------
    def finalize(self) -> None:
        """Bind every channel: null-bind unused optional channels, raise
        for unmet required ones (`channels.py:331-437`)."""
        for name in list(self._producers):
            if self._producers[name] or self._logs[name].batches:
                continue
            if name in self._required:
                raise NoProviderException(f"required channel {name!r} has no provider")
            if self._schemas.get(name) is not None:
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
        NULLS FIRST (`state.py:165-225`) — the channel's snapshot."""
        return self._served(name, self._keys(name))

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

    def logged(self, name: str, record_id: str) -> Optional[Tuple[T.StructType, List[dict]]]:
        """What ``lookup`` finds, as the driver holds it, when the channel
        is only its send log (no ``set_channel`` producer, not a mirror,
        one schema, a string ``id``): that schema and the rows with the
        id, in send order, from the id index, with no JVM call.  None for
        any other channel."""
        with self._lock(name):
            log = self._logs.get(name)
            if log is None or log.runs != 1 or self._producers.get(name) or name in self._mirrors:
                return None
            schema = log.batches[0][0]
            if "id" not in schema.names or not isinstance(schema["id"].dataType, T.StringType):
                return None
            hits = [log.batches[b][1].slice(r, 1) for b, r in log.index.get(record_id, ())]
            return schema, _dicts(hits, schema)

    def held(self, name: str, keyed: bool) -> Tuple[T.StructType, List[dict]]:
        """What ``state`` (``keyed``) or ``last`` serves, as the driver
        holds it: the snapshot's schema and rows (dicts of its columns,
        keys ASC NULLS FIRST).  No Spark job or JVM call once the
        producers are merged; treat the rows as read-only."""
        with self._lock(name):  # a send may reset ``ordered`` once the lock is free
            snap = self._held(name, self._keys(name) if keyed else None)
            return snap.schema, snap.ordered

    def _keys(self, name: str) -> Tuple[str, ...]:
        if name not in self._state_keys:
            raise KeyError(f"channel {name!r} has no state declared")
        return tuple(self._state_keys[name])

    def _held(self, name: str, keys: Optional[Tuple[str, ...]]) -> _Snapshot:
        with self._lock(name):
            snap = self._view(name, keys)
            if snap.schema is None:
                raise NoProviderException(f"channel {name!r} has no provider (finalize() binds null streams)")
            if snap.ordered is None:
                names = snap.schema.names
                snap.ordered = [{c: snap.rows[k][1].get(c) for c in names} for k in sorted(snap.rows)]
            return snap

    def _served(self, name: str, keys: Optional[Tuple[str, ...]]) -> DataFrame:
        """The held rows as an Arrow-built local relation: collecting
        it, filtered or limited, runs on the driver with no Spark job."""
        with self._lock(name):
            snap = self._held(name, keys)
            if snap.frame is None:
                snap.frame = self.spark.createDataFrame(_arrow_table(snap.ordered, snap.schema), snap.schema)
            return snap.frame

    def _lock(self, name: str) -> threading.RLock:
        return self._locks.setdefault(name, threading.RLock())

    def _snapshot(self, name: str, keys: Optional[Tuple[str, ...]]) -> _Snapshot:
        return self._snapshots.setdefault(name, {}).setdefault(keys, _Snapshot(keys))

    def _view(self, name: str, keys: Optional[Tuple[str, ...]]) -> _Snapshot:
        """The channel's snapshot, first merging what was added since its
        last merge: log batches in Python, ``set_channel`` producers
        reduced and collected (a snapshot created after sends or
        producers exist catches up from all of them once).  A mirror's
        is a new snapshot: its sources' views, then its own.  The caller
        holds the channel lock."""
        snap = self._snapshot(name, keys)
        log, producers = self._logs.get(name) or _SendLog(), self._producers.get(name, [])
        logged, merged = snap.upto
        for schema, tables in log.grouped(logged):
            self._merge_into(snap, schema, _ranked(_dicts(tables, schema)))
        if producers[merged:]:
            reduced = _reduce(self._union(producers[merged:]).coalesce(1), keys)
            self._merge_into(snap, reduced.schema, _ranked(r.asDict() for r in reduced.collect()))
        elif snap.schema is None and name in self._finalized:  # the null-bound empty stream
            snap.schema = _reduced_schema(self._finalized[name].schema, keys)
        snap.upto = (len(log.batches), len(producers))
        if name not in self._mirrors:
            return snap
        out = _Snapshot(keys)
        for src in self._mirrors[name]:
            with self._lock(src):
                part = self._view(src, keys)
                self._merge_into(out, part.schema, part.rows.values())
        self._merge_into(out, snap.schema, snap.rows.values())
        return out

    def _merge_into(
        self, snap: _Snapshot, schema: Optional[T.StructType], ranked: Iterable[Tuple[tuple, dict]]
    ) -> None:
        """Merge the ``_ranked`` rows of ``schema`` into ``snap``; its
        schema becomes that of ``unionByName(allowMissingColumns=True)``
        of the two."""
        if schema is None:
            return
        schema = _reduced_schema(schema, snap.keys)
        if snap.schema is not None and schema != snap.schema:
            empty = [self.spark.createDataFrame(_arrow_table([], s), s) for s in (snap.schema, schema)]
            schema = _reduced_schema(self._union(empty).schema, snap.keys)
        snap.schema = schema
        _merge(snap.rows, ranked, snap.keys)
        snap.ordered = snap.frame = None

    def stats(self) -> Dict[str, dict]:
        """Per channel: ``set_channel`` producers, the send log's rows and
        batches, and held snapshot rows (``state_rows`` is None without
        declared state)."""
        return {
            name: {
                "producers": len(self._producers[name]),
                "log_rows": sum(t.num_rows for _, t in self._logs[name].batches),
                "log_batches": len(self._logs[name].batches),
                "state_rows": len(self._snapshot(name, tuple(self._state_keys[name])).rows)
                if name in self._state_keys
                else None,
                "last_rows": len(self._snapshot(name, None).rows),
            }
            for name in sorted(self._producers)
        }

    def send(self, name: str, rows: List[dict], schema: Optional[T.StructType] = None) -> DataFrame:
        """Inject records (REST POST path, `channels.py:950-962`) and
        return the appended delta, the admitted rows as an Arrow-built
        local relation; see ``send_rows``."""
        _, schema, table = self._append(name, rows, schema)
        return self.spark.createDataFrame(table, schema)

    def send_rows(self, name: str, rows: List[dict], schema: Optional[T.StructType] = None) -> List[Row]:
        """validate → assign id/timestamp → check against the schema
        (PySpark's own verifier, so a bad payload raises as
        ``createDataFrame`` would) → append to the send log and merge
        into the channel's snapshots.  Returns the rows exactly as
        stored — what collecting them would give — with no JVM call
        when the schema is declared (inferring one reads session confs).

        Ids come from a catalog-level atomic counter seeded at
        day-epoch*1e9 — the reference's id semantics
        (`utils/id_generator.py:8-25`).  Driver-side rows are few (REST
        payloads), so enumerating them here is not a scale concern.
        """
        stored, schema, _ = self._append(name, rows, schema)
        make = Row(*schema.names)
        return [make(*row.values()) for row in stored]

    @contextlib.contextmanager
    def applying(self, name: str, source: Optional[str], batch_id: int):
        """Apply micro-batch ``batch_id`` of the stream checkpointed at
        ``source`` to channel ``name`` at most once.  Yields False when
        the channel already stored that batch or a later one, else True;
        the batch counts as stored once a send inside the block stored
        rows, even if the block then raises.  The channel lock is held
        throughout, so the record and the rows are written together.  A
        stream with no checkpoint (``source`` None) starts its batch ids
        again with every query: each of its batches is applied."""
        with self._lock(name):
            log = self._logs.setdefault(name, _SendLog())
            stored = len(log.batches)
            try:
                yield source is None or log.applied.get(source, -1) < batch_id
            finally:
                if source is not None and len(log.batches) > stored:
                    log.applied[source] = batch_id

    def _append(
        self, name: str, rows: List[dict], schema: Optional[T.StructType]
    ) -> Tuple[List[dict], T.StructType, pa.Table]:
        """``send_rows``, its rows as dicts; also returns the schema and the
        Arrow table of the rows ``block_set_channels_until`` admitted.

        Each row is verified and converted to a tuple once, by PySpark's
        verifier and converter for the schema (built once per schema,
        ``_compiled``), and the table is built from the tuples.  The
        stored rows take those tuples' values where Arrow hands them back
        unchanged and read the other columns from the table
        (``_stored_rows``), so they equal the table's Arrow read-back.  Each
        stored row's recency is computed once and shared by the channel's
        snapshots."""
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
        schema, verify, to_tuple = _compiled(self.spark._inferSchemaFromList(stamped) if schema is None else schema)
        for row in stamped:
            verify(row)
        sent = _round_decimals_half_up(list(map(to_tuple, stamped)), schema)
        table = _arrow_table(sent, schema)
        stored = kept = _stored_rows(table, schema, sent)
        when = self._block_until.get(name)
        if when is not None and TIMESTAMP_FIELD in schema.names:  # as ``set_channel`` filters
            micros = T.TimestampType().toInternal
            cutoff = micros(when)
            admit = [row[TIMESTAMP_FIELD] is not None and micros(row[TIMESTAMP_FIELD]) >= cutoff for row in kept]
            table = table.filter(pa.array(admit, pa.bool_()))
            kept = [row for row, ok in zip(kept, admit) if ok]
        ranked = _ranked(kept)
        self.declare(name)
        with self._lock(name):
            log = self._logs[name]
            current = [s for s in self._snapshots[name].values() if s.upto[0] == len(log.batches)]
            log.append(schema, table, kept)
            for snap in current:  # a lagging snapshot merges the batch when it catches up
                self._merge_into(snap, schema, ranked)
                snap.upto = (len(log.batches), snap.upto[1])
        return stored, schema, table


@functools.lru_cache(maxsize=256)
def _compiled(schema: T.StructType) -> Tuple[T.StructType, Callable, Callable]:
    """What every send of ``schema`` needs, built once: the stamped
    schema (``schema`` with ``id`` and ``timestamp`` appended when it has
    no ``id``), PySpark's verifier of a row and its converter of a row to
    a tuple of the stamped schema's fields."""
    from pyspark.sql.types import _create_converter, _make_type_verifier

    if "id" not in schema.names:
        schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("id", T.StringType(), True),
                T.StructField("timestamp", T.TimestampType(), True),
            ]
        )
    return schema, _make_type_verifier(schema), _create_converter(schema)


# Types whose verified, converted Python value Arrow hands back unchanged.
_AS_SENT = (T.NullType, T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DoubleType, T.StringType)


@functools.lru_cache(maxsize=256)
def _converters(schema: T.StructType) -> Tuple[Tuple[bool, Optional[Callable]], ...]:
    """Per field of ``schema``: whether Arrow hands its values back as
    they were sent (``_AS_SENT``), and PySpark's Arrow → Python converter
    of its type (None where that is the identity)."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    return tuple(
        (True, None)
        if isinstance(f.dataType, _AS_SENT)
        else (False, ArrowTableToRowsConversion._create_converter(f.dataType, none_on_identity=True))
        for f in schema.fields
    )


def _stored_rows(table: pa.Table, schema: T.StructType, sent: Optional[List[tuple]] = None) -> List[dict]:
    """The rows of Arrow ``table`` of ``schema`` as dicts of the values
    PySpark's Arrow read-back (``ArrowTableToRowsConversion``) gives,
    read column by column with no ``Row`` built.  ``sent``: the tuples
    the table was built from, whose values an ``_AS_SENT`` column takes
    as they are.  A column whose type has a converter is converted once
    per distinct value (``dictionary_encode``), or per value where Arrow
    cannot encode the type (nested types)."""
    by_column = list(zip(*sent)) if sent else None
    columns: List[Sequence] = []
    for i, ((as_sent, conv), column) in enumerate(zip(_converters(schema), table.columns)):
        if as_sent and by_column is not None:
            columns.append(by_column[i])
        elif conv is None:
            columns.append(column.to_pylist())
        elif pa.types.is_nested(column.type):
            columns.append([conv(v) for v in column.to_pylist()])
        else:
            values: list = []
            for chunk in column.chunks:
                codes = chunk.dictionary_encode()
                distinct = [conv(v) for v in codes.dictionary.to_pylist()]
                values += [None if c is None else distinct[c] for c in codes.indices.to_pylist()]
            columns.append(values)
    names = schema.names
    return [dict(zip(names, values)) for values in zip(*columns)]


def _dicts(tables: List[pa.Table], schema: T.StructType) -> List[dict]:
    """The rows of Arrow ``tables`` of ``schema`` as ``send_rows`` stores
    them, as dicts (``_stored_rows``)."""
    return _stored_rows(pa.concat_tables(tables), schema) if tables else []


def _arrow_table(rows: list, schema: T.StructType):
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    if not rows:
        return to_arrow_schema(schema).empty_table()
    return LocalDataToArrowConversion.convert(rows, schema, False)


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
