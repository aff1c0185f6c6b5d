"""State insert/query microbenchmark on the serving path, mirroring the
reference's asv grid (`benchmarks/benchmarks/server/gateway/csp/state.py:57-193`):

- insert N rows (N ∈ {1_000, 10_000, 100_000}) through
  ``GatewayApi.send`` in 50-row batches, with keyby unique and keyby
  mod 100;
- the first (cold) ``GatewayApi.state`` query-all — it builds the
  served frame from the snapshot the sends merged into;
- warm query-all, and the 2-filter conjunctive query;
- warm ``/last``, and warm ``/lookup`` of the first sent id.

Each warm column is the median of WARM calls after one untimed call:
a call takes about a millisecond, so a mean of a few calls is decided
by one collector pause.

Prints one JSON line: {"metric": "state_microbench", "cases": {...}},
and exits non-zero when, at the largest N, a warm ``/state`` is more
than 2x its 1k case with the same keyby (state size held fixed: mod
100), or a warm ``/lookup`` is more than 2x its 1k case with the same
keyby (either keyby).

    SPARK_GRAFT_CPUS=4 python tools/bench_state.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BATCH = 50
SIZES = (1_000, 10_000, 100_000)
WARM = 30


def warm_ms(call) -> float:
    """Median wall ms of WARM calls, after one untimed call."""
    call()
    times = []
    for _ in range(WARM):
        t0 = time.perf_counter()
        call()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def run_case(spark, schema, n: int, key_mode: str) -> dict:
    from csp_gateway_spark.catalog import ChannelCatalog
    from csp_gateway_spark.serving.app import GatewayApi

    q2 = json.dumps({"filters": [{"attr": "a", "op": "<=", "value": 1000}] * 2})
    api = GatewayApi(ChannelCatalog(spark))
    name = f"s_{n}_{key_mode}"
    api.catalog.declare(name, schema)
    api.catalog.declare_state(name, "a")
    rows = [{"a": i if key_mode == "unique" else i % 100, "b": f"b{i}", "c": i * 0.5} for i in range(n)]
    t0 = time.perf_counter()
    first = api.send(name, rows[:BATCH])[0]["id"]
    for i in range(BATCH, n, BATCH):
        api.send(name, rows[i : i + BATCH])
    send_ms = (time.perf_counter() - t0) * 1e3 / (n // BATCH)
    t0 = time.perf_counter()
    served = api.state(name)  # cold: builds the served rows
    cold_ms = (time.perf_counter() - t0) * 1e3
    state_ms = warm_ms(lambda: api.state(name))
    t0 = time.perf_counter()
    api.state(name, query_json=q2)
    filt_ms = (time.perf_counter() - t0) * 1e3
    last_ms = warm_ms(lambda: api.last(name))
    lookup_ms = warm_ms(lambda: api.lookup(name, first))
    return {
        "send_ms_per_batch": round(send_ms, 1),
        "cold_state_ms": round(cold_ms, 1),
        "warm_state_ms": round(state_ms, 2),
        "filtered_state_ms": round(filt_ms, 1),
        "warm_last_ms": round(last_ms, 2),
        "warm_lookup_ms": round(lookup_ms, 2),
        "state_rows": len(served),
    }


def main() -> int:
    from pyspark.sql import types as T

    from csp_gateway_spark.session import get_spark

    spark = get_spark("bench_state")
    spark.sparkContext.setLogLevel("ERROR")
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    run_case(spark, schema, 2 * BATCH, "unique")  # untimed: JIT and codegen warm-up
    cases = {
        f"n={n},key={key_mode}": run_case(spark, schema, n, key_mode)
        for n in SIZES
        for key_mode in ("unique", "mod100")
    }
    print(json.dumps({"metric": "state_microbench", "batch": BATCH, "cases": cases}))
    failed = 0
    gates = [("warm_state_ms", "mod100"), ("warm_lookup_ms", "unique"), ("warm_lookup_ms", "mod100")]
    for column, key_mode in gates:
        lo, hi = cases[f"n={SIZES[0]},key={key_mode}"][column], cases[f"n={SIZES[-1]},key={key_mode}"][column]
        if hi > 2 * lo:
            print(f"{column} key={key_mode} at n={SIZES[-1]} ({hi} ms) is more than 2x n={SIZES[0]} ({lo} ms)", file=sys.stderr)
            failed = 1
    return failed


if __name__ == "__main__":
    sys.exit(main())
