"""The gate registry is the driver contract: ``queries()`` key order
(the driver checks the first 50) and each gate's ``oracle_sql()`` text
must not drift.  Pure Python; no Spark session."""

import hashlib

import __spark_entry__ as entry

#: sha256 of "\n".join(queries()) — the full driver order
ORDER_SHA256 = "056a9b84efe8f4024c9d92f3488759a8dba6f479e13eb83e26ba6cf6e5f96ac1"
#: sha256 of the name-sorted f"{name}\t{sql}" lines of oracle_sql()
ORACLE_SHA256 = "747d8e4d728f62ad9445badc55c3c77cf10b55b80b8b4fa9368113ddf909ccaf"


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_queries_order_is_pinned():
    assert _sha256("\n".join(entry.queries())) == ORDER_SHA256


def test_oracle_sql_text_is_pinned():
    lines = (f"{n}\t{sql}" for n, sql in sorted(entry.oracle_sql().items()))
    assert _sha256("\n".join(lines)) == ORACLE_SHA256


def test_every_q_function_is_registered():
    g = vars(entry)
    defined = {n for n in g if n.startswith("q_") and callable(g[n])}
    registered = [fn.__name__ for fn in entry.queries().values()]
    assert len(registered) == len(set(registered))
    assert set(registered) == defined


def test_every_gate_has_exactly_one_oracle():
    g = vars(entry)
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert sorted(oracles) == sorted(qs)
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())
    both = [n for n in qs if f"ORACLE_{n.upper()}" in g and f"_oracle_{n}" in g]
    assert both == []
    # no oracle is defined without a gate that uses it
    used = set(oracles.values())
    orphans = [n for n in g if n.startswith("ORACLE_") and g[n] not in used]
    orphans += [n for n in g if n.startswith("_oracle_") and g[n]() not in used]
    assert orphans == []
