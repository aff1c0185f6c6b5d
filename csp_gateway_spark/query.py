"""Filter/Query model → Catalyst ``Column`` compiler and row evaluator.

Reference semantics (csp-gateway):
- ``Filter.calculate`` evaluates ``attr <op> (value | when | other attr)``
  with ops ``== != < <= > >=`` (`utils/web/filter.py:16-66`).
- ``Query.calculate`` is the conjunction (AND) of filters
  (`utils/web/query.py:11-17`).
- The DuckDB path compiles the same model to SQL text with casts and
  dotted-path nested access (`server/gateway/csp/state.py:339-376`);
  unknown attributes warn and drop the clause (`state.py:318-332`).

As in the reference, the model has two forms.  ``apply_query`` compiles
it to Catalyst expressions for DataFrames (gates, Perspective routes),
so predicate pushdown / codegen apply; dotted paths map to nested field
access (``col("a.b")``).  ``Query.resolve(schema)`` binds it to rows of
a schema and returns a function that filters such rows in Python: how
``/state`` and ``/last`` filter the rows the catalog holds on the
driver.  Both drop an unknown attribute's clause by one rule
(``_unknown_attr``).  The evaluator takes the comparisons whose answer
needs no Spark parser: two values of one family (integral, decimal,
double, string, boolean, timestamp, date), an integral widened to
decimal or double as ANSI coercion widens it, and a string against an integral
compared as bigint (``a <= "2"`` on a long), whose invalid input raises
``ValueError`` (CAST_INVALID_INPUT) when a row reaches it, as in Spark.
Null compares as null, NaN equals NaN and sorts above every double,
-0.0 equals 0.0.  Any other pair, literal or nested type raises
``CatalystOnly`` at resolve time; the caller then runs ``apply_query``,
which answers or rejects it as Spark does.
"""

from __future__ import annotations

import datetime
import decimal
import logging
import operator
import re
from functools import reduce
from typing import Any, Callable, Iterable, List, Optional, Union

from pydantic import BaseModel, model_validator
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)

_OPS = {
    "==": operator.eq,
    "!=": operator.ne,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}


class FilterWhereLambda(BaseModel):
    """Compare against another attribute of the same record
    (reference: ``FilterWhereLambda``, `utils/web/filter.py`)."""

    attr: str


class FilterWhen(BaseModel):
    """Compare against a timestamp (reference ``FilterWhen``)."""

    when: datetime.datetime


class Filter(BaseModel):
    """One predicate: ``attr <op> value`` / ``attr <op> when`` /
    ``attr <op> other.attr``."""

    attr: str
    by: Union[FilterWhen, FilterWhereLambda, None] = None
    value: Optional[Any] = None
    where: Optional[str] = None  # convenience: attr name, same as FilterWhereLambda
    op: str = "=="

    @model_validator(mode="after")
    def _check(self):
        if self.op not in _OPS:
            raise ValueError(f"unsupported op {self.op!r}; one of {sorted(_OPS)}")
        return self

    def _other(self) -> Optional[str]:
        return self.by.attr if isinstance(self.by, FilterWhereLambda) else self.where

    def _literal(self) -> Any:
        return self.by.when if isinstance(self.by, FilterWhen) else self.value

    def column(self) -> Column:
        lhs = F.col(self.attr)
        if self._other():
            rhs: Any = F.col(self._other())
        elif isinstance(self._literal(), datetime.datetime):
            rhs = F.lit(self._literal()).cast("timestamp")
        else:
            rhs = F.lit(self.value)
        return _OPS[self.op](lhs, rhs)


class Query(BaseModel):
    """Conjunction of filters (reference `utils/web/query.py:11-17`)."""

    filters: List[Filter] = []

    def column(self) -> Optional[Column]:
        if not self.filters:
            return None
        return reduce(lambda a, b: a & b, (f.column() for f in self.filters))

    def resolve(self, schema: T.StructType) -> Callable[[Iterable[dict]], List[dict]]:
        """This query bound to rows of ``schema`` (clauses on unknown
        attributes dropped, literals coerced once): a function returning
        the rows that pass, in order (the reference filters a list of
        ticks).  Each row's filters run in order and stop at the first
        false one, as Spark's ``AND`` does; a null one goes on and drops
        the row.  Raises ``CatalystOnly`` for what the evaluator leaves
        to ``apply_query``."""
        calcs = [_bind(flt, schema) for flt in self.filters if _unknown_attr(flt, schema) is None]
        if len(calcs) == 1:
            return lambda rows: [row for row in rows if calcs[0](row)]
        return lambda rows: [row for row in rows if _passes(calcs, row)]


def _passes(calcs: list, row: dict) -> bool:
    kept = True
    for calc in calcs:
        hit = calc(row)
        if hit is False:
            return False
        kept = kept and hit is True
    return kept


def _unknown_attr(flt: Filter, schema: T.StructType) -> Optional[str]:
    """The first attribute of ``flt`` that is neither a column of
    ``schema`` nor one level into a struct column — its clause drops,
    with a warning (reference `state.py:318-332`)."""
    known = set(schema.names)
    for field in schema.fields:
        if isinstance(field.dataType, T.StructType):
            known.update(f"{field.name}.{sub}" for sub in field.dataType.names)
    for attr in filter(None, [flt.attr, flt._other()]):
        if attr not in known:
            log.warning("Filter attribute %r not in schema; dropping clause", attr)
            return attr
    return None


def compile_filter(flt: Filter, df: Optional[DataFrame] = None) -> Optional[Column]:
    """Compile one Filter; unknown attrs warn and drop the clause,
    matching reference `state.py:318-332`."""
    if df is not None and _unknown_attr(flt, df.schema) is not None:
        return None
    return flt.column()


def compile_query(query: Query, df: Optional[DataFrame] = None) -> Optional[Column]:
    cols = [c for f in query.filters if (c := compile_filter(f, df)) is not None]
    if not cols:
        return None
    return reduce(lambda a, b: a & b, cols)


def apply_query(df: DataFrame, query: Optional[Query]) -> DataFrame:
    if query is None:
        return df
    cond = compile_query(query, df)
    return df.filter(cond) if cond is not None else df


# --- the Python evaluator ----------------------------------------------
class CatalystOnly(Exception):
    """A comparison, literal or rendering the Python evaluator leaves to
    Catalyst (``apply_query``)."""


def _rank(value):
    """Spark's ascending order of one value as a hashable sort key: null
    lowest, NaN highest, structs and arrays field by field."""
    if value is None:
        return (0,)
    if isinstance(value, float) and value != value:
        return (2,)
    if isinstance(value, (tuple, list)):  # a struct ``Row`` is a tuple
        return (1, tuple(map(_rank, value)))
    return (1, value)


# comparison family of a scalar type, and of the literal ``F.lit`` builds
_KINDS = (
    (T.BooleanType, bool, "bool"),
    (T.IntegralType, int, "int"),
    (T.DecimalType, decimal.Decimal, "decimal"),
    (T.FractionalType, float, "double"),
    ((T.StringType, T.CharType, T.VarcharType), str, "string"),
    (T.TimestampType, datetime.datetime, "timestamp"),
    (T.DateType, datetime.date, "date"),
)
# the type ANSI coercion compares two families as, where Python has its answer
_COMMON = {
    ("int", "double"): "double",
    ("int", "decimal"): "decimal",
    ("string", "int"): "int",
}


def _kind(dt: T.DataType) -> str:
    for types, _, kind in _KINDS:
        if isinstance(dt, types):
            return kind
    raise CatalystOnly(dt.simpleString())


def _literal_kind(value: Any) -> str:
    for _, types, kind in _KINDS:  # bool before int, datetime before date
        if isinstance(value, types) and (kind != "int" or -(2**63) <= value < 2**63):
            return kind
    raise CatalystOnly(repr(value))


def _getter(attr: str, schema: T.StructType):
    """(family, row → value) of a top-level or one-level dotted attr."""
    head, _, sub = attr.partition(".")
    if not sub or not isinstance(schema[head].dataType if head in schema.names else None, T.StructType):
        return _kind(schema[attr].dataType), operator.itemgetter(attr)
    return _kind(schema[head].dataType[sub].dataType), lambda row: None if (v := row[head]) is None else v[sub]


def _bind(flt: Filter, schema: T.StructType) -> Callable[[dict], Optional[bool]]:
    """``flt`` over rows of ``schema``: both operands cast to the
    comparison type, the literal once; a literal the cast rejects
    raises when the first non-null row reaches it, as in Spark."""
    lkind, left = _getter(flt.attr, schema)
    if flt._other():
        rkind, right = _getter(flt._other(), schema)
    elif flt._literal() is None:
        return lambda row: None  # ``= NULL`` is null on every row
    else:
        rkind = _literal_kind(flt._literal())
    kind = lkind if lkind == rkind else _COMMON.get((lkind, rkind)) or _COMMON.get((rkind, lkind))
    if kind is None:
        raise CatalystOnly(f"{flt.attr!r} ({lkind}) against {rkind}")
    op = _OPS[flt.op]
    compare = (lambda a, b: op(_rank(a), _rank(b))) if kind == "double" else op  # NaN's order
    lcast, rcast = _cast(lkind, kind), _cast(rkind, kind)
    if flt._other():

        def calc(row: dict) -> Optional[bool]:  # the left operand, cast, before the right, as Spark evaluates
            lhs = left(row)
            if lhs is None:
                return None
            lhs = lcast(lhs) if lcast else lhs
            rhs = right(row)
            return None if rhs is None else compare(lhs, rcast(rhs) if rcast else rhs)

        return calc
    err = value = None
    try:
        value = rcast(flt._literal()) if rcast else flt._literal()
    except ValueError as e:
        err = e

    def calc(row: dict) -> Optional[bool]:
        lhs = left(row)
        if lhs is None:
            return None
        if err is not None:
            raise err
        return compare(lcast(lhs) if lcast else lhs, value)

    return calc


def _cast(src: str, dst: str) -> Optional[Callable[[Any], Any]]:
    """Spark's cast of a ``src``-family value to family ``dst``, on the
    Python values rows and literals carry (None: as is); timestamps
    become epoch micros, as ``F.lit`` converts them."""
    if dst == "double" and src != "double":
        return float
    if src == "string" and dst == "int":
        return _to_long
    if dst == "timestamp":
        return T.TimestampType().toInternal
    return None


_TRIM = "".join(map(chr, range(33)))  # Spark's string casts trim every char <= ' '


def _to_long(s: str) -> int:
    t = s.strip(_TRIM)
    if re.fullmatch(r"[+-]?\d+", t, re.A) and -(2**63) <= int(t) < 2**63:
        return int(t)
    raise ValueError(f"[CAST_INVALID_INPUT] the value {s!r} cannot be cast to BIGINT")


def as_string(dt: T.DataType) -> Callable[[Any], str]:
    """``CAST(value AS STRING)`` for a non-null value of type ``dt``;
    ``CatalystOnly`` for types whose rendering is Java's (floating
    point, timestamps, nested types)."""
    if isinstance(dt, T.BooleanType):
        return lambda v: "true" if v else "false"
    if isinstance(dt, T.DecimalType):
        return lambda v: format(v.copy_abs() if v.is_zero() else v, "f")
    if isinstance(dt, (T.IntegralType, T.StringType, T.DateType)):
        return str
    raise CatalystOnly(dt.simpleString())
